package graft

import scala.collection.mutable

import graft.engine.Keyed

/** In-process replay of a `Keyed.Fold` — what `Keyed.run` does per
  * micro-batch, without a session: each batch groups its rows by key in
  * arrival order, calls `step` once per key with the key's carried state
  * (`zero()` on its first call) and keeps the state the step returns.
  * Returns every call's (key, output rows), batch by batch, each batch
  * in the order its keys first appear. */
object KeyedReplay {

  def apply[E, K, S, O](f: Keyed.Fold[E, K, S, O],
      batches: Seq[Seq[E]]): Seq[(K, Seq[O])] = {
    val state = mutable.HashMap.empty[K, S]
    batches.flatMap { batch =>
      val groups = mutable.LinkedHashMap.empty[K, mutable.ArrayBuffer[E]]
      batch.foreach(e => groups.getOrElseUpdate(f.key(e), mutable.ArrayBuffer.empty) += e)
      groups.toSeq.map { case (k, rows) =>
        val (next, out) = f.step(k, state.getOrElse(k, f.zero()), rows.iterator)
        state(k) = next
        k -> out.toVector
      }
    }
  }

  /** Every output row, in emission order. */
  def rows[E, K, S, O](f: Keyed.Fold[E, K, S, O], batches: Seq[Seq[E]]): Seq[O] =
    apply(f, batches).flatMap(_._2)
}
