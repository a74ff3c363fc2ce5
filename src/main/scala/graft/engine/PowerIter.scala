package graft.engine

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** The power-iteration kernel of the iterative tier (pagerank and its
  * weighted/personalized variants, katz, eigenvector, HITS, textrank).
  *
  * A step multiplies the state vector by an arc MV: every arc whose
  * `from` key holds state `v` adds `rlong(term(v, w1, w2)·1e9)` to its
  * `to` key, and the leg's `update` (teleport, offset) of `x = Σ/1e9`,
  * optionally max-normed, is the next state. Long sums are exact and
  * order-blind, so how arcs are grouped into tasks cannot change a bit
  * of the result — each value equals the DuckDB oracle's unrolled CTE
  * chain, which rounds the same IEEE product per term.
  *
  * Two placements of the state, chosen per step by its own row count
  * against `spark.graft.stateBroadcastMaxRows`:
  *  - within the guard the state is held on the driver and broadcast,
  *    and the step is ONE narrow job over the arc MV's blocks (read
  *    through `queryExecution.toRdd`, nothing persisted) whose per-task
  *    Long partials the driver merges — no query is planned per step;
  *  - past it the state stays partitioned on its key: each step zips it
  *    with the arcs (shuffled onto their `from` key once per run, the
  *    shuffle output reused by every step) and sums with one
  *    `reduceByKey` shuffle onto the same partitioner.
  * State only grows between steps (PPR's frontier), so once partitioned
  * it stays partitioned.
  *
  * Stateless: a run's state is local to it, so concurrent callers share
  * nothing but the SparkContext. */
object PowerIter {

  /** One matvec leg over `arcs`: an arc whose `from` key holds state `v`
    * contributes `term(v, w1, w2)` (`w1`, `w2` are the Long `weights`
    * columns, 0 when absent) to its `to` key; `update(key, x)` maps a
    * key's scaled sum to its next state, `maxNorm` divides the result by
    * its maximum, and every key in `always` is in the output even with
    * no arc into it (PPR's seed). */
  final case class Leg(arcs: DataFrame, from: String, to: String,
      term: (Double, Long, Long) => Double, weights: Seq[String] = Nil,
      update: (Any, Double) => Double = (_, x) => x, maxNorm: Boolean = false,
      always: Seq[Any] = Nil)

  /** Runs `iters` iterations of `legs` from `init` (key, value) and
    * returns the final state as a DataFrame with `init`'s column names.
    * Iteration i's jobs run under the job description `<query>/iter<i>`
    * (the state's collect is iter0); `width`, when positive, coalesces
    * the arc scan to that many tasks. */
  def run(s: SparkSession, query: String, init: DataFrame, iters: Int,
      legs: Seq[Leg], width: Int = 0): DataFrame = {
    val sc = s.sparkContext
    val guard = s.conf.get("spark.graft.stateBroadcastMaxRows",
      GraphOps.StateBroadcastMaxRows.toString).toLong
    val p = new HashPartitioner(s.sessionState.conf.numShufflePartitions)
    val readers = legs.map(l => Reader(l))
    val rows = legs.map { l =>
      val r = l.arcs.queryExecution.toRdd
      if (width > 0 && width < r.getNumPartitions) r.coalesce(width) else r
    }
    // (from, (to, w1, w2)) on the state's partitioner; RDDs are lazy, so
    // a run that never leaves the driver-held placement never shuffles
    val byFrom = readers.zip(rows).map { case (rd, r) =>
      r.map(x => (rd.from(x), (rd.to(x), rd.w1(x), rd.w2(x)))).partitionBy(p)
    }

    val first = JobTag(sc, s"$query/iter0") {
      init.limit(math.min(guard, Int.MaxValue - 1L).toInt + 1).collect()
    }
    var state: Either[collection.Map[Any, Double], RDD[(Any, Double)]] =
      if (first.length <= guard) Left(first.map(r => r.get(0) -> r.getDouble(1)).toMap)
      else Right(init.rdd.map(r => (r.get(0): Any) -> r.getDouble(1)).partitionBy(p))
    for (i <- 1 to iters) JobTag(sc, s"$query/iter$i") {
      legs.indices.foreach { j =>
        state = state match {
          case Left(m) if m.size <= guard => Left(narrowStep(s, legs(j), readers(j), rows(j), m))
          case Left(m) => Right(shuffleStep(s, legs(j), byFrom(j),
            sc.parallelize(m.toSeq).partitionBy(p), p))
          case Right(st) => Right(shuffleStep(s, legs(j), byFrom(j), st, p))
        }
      }
    }

    val schema = StructType(Seq(init.schema.fields(0).copy(nullable = true),
      StructField(init.columns(1), DoubleType)))
    state match {
      case Left(m) =>
        s.createDataFrame(m.toSeq.map { case (k, v) => Row(k, v) }.asJava, schema)
      case Right(st) => s.createDataFrame(st.map { case (k, v) => Row(k, v) }, schema)
    }
  }

  /** Reads a leg's arc row by column ordinal (Long or String keys). */
  private final case class Reader(fromAt: Int, toAt: Int, strKeys: Boolean,
      w1At: Int, w2At: Int, term: (Double, Long, Long) => Double) {
    private def key(r: InternalRow, i: Int): Any =
      if (strKeys) r.getUTF8String(i).toString else r.getLong(i)
    def from(r: InternalRow): Any = key(r, fromAt)
    def to(r: InternalRow): Any = key(r, toAt)
    def w1(r: InternalRow): Long = if (w1At < 0) 0L else r.getLong(w1At)
    def w2(r: InternalRow): Long = if (w2At < 0) 0L else r.getLong(w2At)
  }

  private object Reader {
    def apply(l: Leg): Reader = {
      val sc = l.arcs.schema
      val w = l.weights.map(sc.fieldIndex)
      Reader(sc.fieldIndex(l.from), sc.fieldIndex(l.to), sc(l.from).dataType == StringType,
        w.headOption.getOrElse(-1), w.lift(1).getOrElse(-1), l.term)
    }
  }

  /** One step with the driver-held state: broadcast it, scan the arcs
    * in one narrow job, merge the per-task Long partials. */
  private def narrowStep(s: SparkSession, leg: Leg, rd: Reader, rows: RDD[InternalRow],
      state: collection.Map[Any, Double]): collection.Map[Any, Double] = {
    val held = new java.util.HashMap[Any, java.lang.Double](state.size * 2)
    state.foreach { case (k, v) => held.put(k, v) }
    val bc = s.sparkContext.broadcast(held)
    val parts = try rows.mapPartitions { it =>
      val st = bc.value
      val acc = new java.util.HashMap[Any, Array[Long]]()
      it.foreach { r =>
        val v = st.get(rd.from(r))
        if (v != null) {
          val t = Dsl.rlong(rd.term(v, rd.w1(r), rd.w2(r)) * 1e9)
          val to = rd.to(r)
          val cell = acc.get(to)
          if (cell == null) acc.put(to, Array(t)) else cell(0) += t
        }
      }
      acc.asScala.iterator.map { case (k, c) => (k, c(0)) }
    }.collect()
    finally bc.destroy()
    val sums = mutable.HashMap.empty[Any, Long]
    for ((k, t) <- parts) sums.update(k, sums.getOrElse(k, 0L) + t)
    leg.always.foreach(k => sums.getOrElseUpdate(k, 0L))
    val next = sums.map { case (k, t) => k -> leg.update(k, t.toDouble / 1e9) }
    if (!leg.maxNorm || next.isEmpty) next
    else { val mx = next.values.max; next.map { case (k, v) => k -> v / mx } }
  }

  /** One step with the partitioned state: zip it with the arcs
    * co-partitioned on `from`, one `reduceByKey` shuffle onto `to`. */
  private def shuffleStep(s: SparkSession, leg: Leg, arcs: RDD[(Any, (Any, Long, Long))],
      state: RDD[(Any, Double)], p: HashPartitioner): RDD[(Any, Double)] = {
    val Leg(_, _, _, term, _, update, maxNorm, always) = leg
    val terms = state.zipPartitions(arcs) { (st, it) =>
      val m = st.toMap
      it.flatMap { case (k, (to, w1, w2)) =>
        m.get(k).map(v => to -> Dsl.rlong(term(v, w1, w2) * 1e9))
      }
    }
    val seeded = if (always.isEmpty) terms
      else terms.union(s.sparkContext.parallelize(always.map(_ -> 0L), 1))
    val next = seeded.reduceByKey(p, _ + _)
      .mapPartitions(_.map { case (k, t) => k -> update(k, t.toDouble / 1e9) },
        preservesPartitioning = true)
    if (!maxNorm) next
    else {
      val mx = next.values.fold(Double.NegativeInfinity)(math.max)
      next.mapValues(_ / mx)
    }
  }
}
