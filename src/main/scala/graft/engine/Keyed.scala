package graft.engine

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The keyed-state fold of the streaming tier (the reference's Flink
  * keyed ValueState): every Update-mode maintainer is one `Fold` — a key
  * of its input rows, a zero state, and a step that folds one key's rows
  * of a micro-batch into that key's state and returns the new state with
  * the key's output rows. `run` is the one place that groups by key,
  * reads the key's GroupState and writes it back.
  *
  * Without a timeout Spark calls the step only for keys that have rows
  * in the batch, so the iterator is never empty. A key's first call
  * starts from a fresh `zero()`, each later call from the state the
  * previous call returned (deserialized, so the step may mutate it). On
  * a bounded Dataset the fold runs as one batch plan — the
  * q_stream_* queries; on a stream it carries state across
  * micro-batches with the state-store schema of `S`.
  *
  * Three maintainers in StreamingOps stay on Spark's API, as does the
  * transformWithState processor: the timed sessions (event-time
  * timeout), the CEP matcher and the count window (Append mode). */
object Keyed {

  final case class Fold[E, K, S, O](key: E => K, zero: () => S,
      step: (K, S, Iterator[E]) => (S, Iterator[O]))

  /** `zero` is evaluated once per new key, so a mutable zero is safe. */
  def fold[E, K, S, O](key: E => K, zero: => S)(
      step: (K, S, Iterator[E]) => (S, Iterator[O])): Fold[E, K, S, O] =
    Fold(key, () => zero, step)

  def run[E, K: Encoder, S: Encoder, O: Encoder](ds: Dataset[E],
      f: Fold[E, K, S, O]): Dataset[O] =
    ds.groupByKey(f.key)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (k: K, rows: Iterator[E], state: GroupState[S]) =>
          val (next, out) = f.step(k, state.getOption.getOrElse(f.zero()), rows)
          state.update(next)
          out
      }
}
