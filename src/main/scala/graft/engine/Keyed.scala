package graft.engine

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor,
  TTLConfig, TimeMode, TimerValues, ValueState}

/** The keyed-state fold of the streaming tier (the reference's Flink
  * keyed ValueState plus event-time timers): every keyed maintainer is a
  * `Fold` — a key of its input rows, a zero state, and a step that folds
  * one key's rows of a micro-batch into that key's state and returns the
  * new state with the key's output rows. An `append` fold's rows are
  * final (CEP matches, closed count windows) and run in Append mode; the
  * others re-emit the key's snapshot in Update mode. A `Timed` fold also
  * sees the event-time watermark, may clear its state and arms at most
  * one event-time timer per key; when the timer fires its step is called
  * again without rows. `run` is the only place that groups by key, reads
  * the key's state and writes it back.
  *
  * What runs is chosen by the input. On a stream, `run` is one
  * `transformWithState` processor with one ValueState named `state`
  * (the session must use the RocksDB state store provider). On a bounded
  * Dataset it is one `groupByKey(key).flatMapGroups` from `zero()` — the
  * q_stream_* queries — with no state store, and a timed step sees the
  * end-of-input watermark `Long.MaxValue`, so every timer is due.
  *
  * Spark calls the step for keys that have rows in the batch (and, for a
  * timed fold, for keys whose timer fired). A key's first call starts
  * from a fresh `zero()`, each later call from the state the previous
  * call returned (deserialized, so the step may mutate it). */
object Keyed {

  final case class Fold[E, K, S, O](key: E => K, zero: () => S,
      step: (K, S, Iterator[E]) => (S, Iterator[O]), append: Boolean = false)

  /** `zero` is evaluated once per new key, so a mutable zero is safe. */
  def fold[E, K, S, O](key: E => K, zero: => S, append: Boolean = false)(
      step: (K, S, Iterator[E]) => (S, Iterator[O])): Fold[E, K, S, O] =
    Fold(key, () => zero, step, append)

  /** An event-time fold, run in Append mode: `step(key, state, rows,
    * watermarkMs)` returns the next state (`None` clears it), the rows
    * and the key's next timer (`None` disarms it), which must lie above
    * the watermark. The input must carry a watermark. */
  final case class Timed[E, K, S, O](key: E => K, zero: () => S,
      step: (K, S, Iterator[E], Long) => (Option[S], Iterator[O], Option[Long]))

  def run[E, K: Encoder, S: Encoder, O: Encoder](ds: Dataset[E],
      f: Fold[E, K, S, O]): Dataset[O] = {
    val t = Timed[E, K, S, O](f.key, f.zero, (k, s, rows, _) => {
      val (next, out) = f.step(k, s, rows)
      (Some(next), out, None)
    })
    plan(ds, t, TimeMode.None(), if (f.append) OutputMode.Append else OutputMode.Update)
  }

  def run[E, K: Encoder, S: Encoder, O: Encoder](ds: Dataset[E],
      f: Timed[E, K, S, O]): Dataset[O] =
    plan(ds, f, TimeMode.EventTime(), OutputMode.Append)

  private def plan[E, K: Encoder, S: Encoder, O: Encoder](ds: Dataset[E],
      f: Timed[E, K, S, O], time: TimeMode, mode: OutputMode): Dataset[O] =
    if (ds.isStreaming)
      ds.groupByKey(f.key).transformWithState(
        new Processor(f, implicitly[Encoder[S]], time == TimeMode.EventTime()), time, mode)
    else
      ds.groupByKey(f.key).flatMapGroups((k: K, rows: Iterator[E]) =>
        f.step(k, f.zero(), rows, Long.MaxValue)._2)

  private final class Processor[E, K, S, O](f: Timed[E, K, S, O], enc: Encoder[S],
      timers: Boolean) extends StatefulProcessor[K, E, O] {
    @transient private var st: ValueState[S] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[S]("state", enc, TTLConfig.NONE)

    override def handleInputRows(key: K, rows: Iterator[E],
        timerValues: TimerValues): Iterator[O] = call(key, rows, timerValues, fired = false)

    override def handleExpiredTimer(key: K, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[O] =
      call(key, Iterator.empty, timerValues, fired = true)

    private def call(key: K, rows: Iterator[E], tv: TimerValues, fired: Boolean): Iterator[O] = {
      // `get` is null for a new key; `exists` would read and decode twice
      val (next, out, timer) = f.step(key, Option(st.get()).getOrElse(f.zero()), rows,
        tv.getCurrentWatermarkInMs())
      next.fold(st.clear())(st.update)
      if (timers) {
        val h = getHandle
        // a fired timer was the key's only one, and Spark deletes it
        val armed = if (fired) Nil else h.listTimers().toList
        armed.filterNot(timer.contains).foreach(h.deleteTimer)
        timer.filterNot(armed.contains).foreach(h.registerTimer)
      }
      out
    }
  }
}
