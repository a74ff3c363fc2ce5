package graft.engine

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** The keyed-state fold of the streaming tier (the reference's Flink
  * keyed ValueState): every keyed maintainer is one `Fold` — a key of
  * its input rows, a zero state, and a step that folds one key's rows
  * of a micro-batch into that key's state and returns the new state with
  * the key's output rows. An `append` fold's rows are final (CEP
  * matches, closed count windows) and run in Append mode; the others
  * re-emit the key's snapshot in Update mode. `run` (a GroupState) and
  * `runTws` (one transformWithState ValueState) are the only places
  * that group by key, read the key's state and write it back.
  *
  * Without a timeout Spark calls the step only for keys that have rows
  * in the batch, so the iterator is never empty. A key's first call
  * starts from a fresh `zero()`, each later call from the state the
  * previous call returned (deserialized, so the step may mutate it). On
  * a bounded Dataset the fold runs as one batch plan — the
  * q_stream_* queries; on a stream it carries state across
  * micro-batches with the state-store schema of `S`.
  *
  * The one keyed maintainer outside this device is StreamingOps' timed
  * sessions: they read the watermark, arm an event-time timeout, remove
  * their state and are called without rows when the timer fires. */
object Keyed {

  final case class Fold[E, K, S, O](key: E => K, zero: () => S,
      step: (K, S, Iterator[E]) => (S, Iterator[O]), append: Boolean = false) {
    private[engine] def mode: OutputMode = if (append) OutputMode.Append else OutputMode.Update
  }

  /** `zero` is evaluated once per new key, so a mutable zero is safe. */
  def fold[E, K, S, O](key: E => K, zero: => S, append: Boolean = false)(
      step: (K, S, Iterator[E]) => (S, Iterator[O])): Fold[E, K, S, O] =
    Fold(key, () => zero, step, append)

  def run[E, K: Encoder, S: Encoder, O: Encoder](ds: Dataset[E],
      f: Fold[E, K, S, O]): Dataset[O] =
    ds.groupByKey(f.key)
      .flatMapGroupsWithState(f.mode, GroupStateTimeout.NoTimeout) {
        (k: K, rows: Iterator[E], state: GroupState[S]) =>
          val (next, out) = f.step(k, state.getOption.getOrElse(f.zero()), rows)
          state.update(next)
          out
      }

  /** `f` through `transformWithState`: the caller's session must use the
    * RocksDB state store provider. */
  def runTws[E, K: Encoder, S: Encoder, O: Encoder](ds: Dataset[E],
      f: Fold[E, K, S, O]): Dataset[O] =
    ds.groupByKey(f.key)
      .transformWithState(new Processor(f, implicitly[Encoder[S]]), TimeMode.None(), f.mode)

  private final class Processor[E, K, S, O](f: Fold[E, K, S, O], enc: Encoder[S])
      extends StatefulProcessor[K, E, O] {
    @transient private var st: ValueState[S] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[S]("state", enc, TTLConfig.NONE)

    override def handleInputRows(key: K, rows: Iterator[E],
        timerValues: TimerValues): Iterator[O] = {
      val (next, out) = f.step(key, if (st.exists()) st.get() else f.zero(), rows)
      st.update(next)
      out
    }
  }
}
