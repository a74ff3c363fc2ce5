package graft.engine

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** The iterative kernel: every superstep of the iterative tier is a scan
  * of an arc MV in which each arc whose `from` key holds a value offers
  * it, or a term of it, to its `to` key. Three combiners share the
  * placement and the step:
  *  - `run`, power iteration (pagerank and its weighted/personalized
  *    variants, katz, eigenvector, HITS, textrank): an arc from a key
  *    holding `v` adds `rlong(term(v, w1, w2)·1e9)` to its `to` key, and
  *    the leg's `update` (teleport, offset) of `x = Σ/1e9`, optionally
  *    max-normed, replaces the state. Long sums are exact and
  *    order-blind, so each value equals the DuckDB oracle's unrolled CTE
  *    chain, which rounds the same IEEE product per term.
  *  - `relax`, min relaxation (connected components, BFS, bounded
  *    Bellman-Ford, closeness, SCC coloring, dedup components): an arc
  *    from a frontier key holding `v` offers `v + hop + w` to its `to`
  *    key, a key keeps the minimum of its value and its offers, and the
  *    keys that strictly improved are the next frontier. A Long min is
  *    exact and order-blind too.
  *  - `vsum`, vector sums (the GNN supersteps and APPNP): the state is a
  *    `Cell` of Long lanes (1e9-scaled, exact) plus an optional f64
  *    lane; an arc offers its from-key's cell, a key sums the cells it
  *    is offered and counts them, and the leg's `update(key, sums, n)`
  *    (mean, dense layer, re-quantization) gives its next cell.
  *
  * Two placements of the state, chosen per step against
  * `spark.graft.stateBroadcastMaxRows`:
  *  - within the guard the state is held on the driver and broadcast,
  *    and the step is ONE narrow job over the arc MV's blocks (read
  *    through `queryExecution.toRdd`, nothing persisted) whose per-task
  *    partials the driver merges — no query is planned per step;
  *  - past it the state stays partitioned on its key: each step zips it
  *    with the arcs (shuffled onto their `from` key once per run, the
  *    shuffle output reused by every step) and combines with one
  *    `reduceByKey` shuffle onto the same placement.
  * The scalar modes guard the state's row count. `vsum` guards cells
  * (rows × lanes): the state's, and the per-task partials' bound of
  * scan tasks × the leg's `toKeys` × lanes, so neither a 64-wide state
  * nor many tasks' partials load the driver. State only grows between
  * steps, so once partitioned it stays partitioned. Round i's jobs run
  * under the job description `<query>/iter<i>` (the state's collect is
  * iter0); `width`, when positive, coalesces the arc scan to that many
  * tasks.
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
    * returns the final state as a DataFrame with `init`'s column names. */
  def run(s: SparkSession, query: String, init: DataFrame, iters: Int,
      legs: Seq[Leg], width: Int = 0): DataFrame = {
    val k = Plumbing(s, query, width)
    val scans = legs.map(l => k.scan(l.arcs, l.from, l.to, l.weights))
    var state: Either[collection.Map[Any, Double], RDD[(Any, Double)]] = k.held(init) match {
      case Some(rows) => Left(rows.map(r => r.get(0) -> r.getDouble(1)).toMap)
      case None => Right(init.rdd.map(r => (r.get(0): Any) -> r.getDouble(1)).partitionBy(k.p))
    }
    for (i <- 1 to iters) k.round(i) {
      legs.zip(scans).foreach { case (leg, sc) =>
        val term = leg.term
        val offer: Offer[Double, Long] = (v, to, w1, w2, acc) =>
          acc.add(to, Dsl.rlong(term(v, w1, w2) * 1e9))
        state = state match {
          case Left(m) if m.size <= k.guard =>
            Left(sumMerge(leg, k.narrow(sc, m, () => new Acc(min = false))(offer)))
          case st =>
            val part = st.fold(m => s.sparkContext.parallelize(m.toSeq).partitionBy(k.p), identity)
            Right(sumShuffled(s, leg, k.shuffled(part, sc, k.p, () => new Acc(min = false),
              (_: Long) + (_: Long))(offer)))
        }
      }
    }
    k.frame(StructType(Seq(init.schema.fields(0).copy(nullable = true),
      StructField(init.columns(1), DoubleType))), state.fold(
      m => Left(m.map { case (key, v) => Row(key, v) }),
      st => Right(st.map { case (key, v) => Row(key, v) })))
  }

  /** The sum mode's driver merge: the summed partials, through the
    * leg's update and max-norm, replace the state. */
  private def sumMerge(leg: Leg, parts: Array[(Any, Long)]): collection.Map[Any, Double] = {
    val sums = mutable.HashMap.empty[Any, Long]
    for ((k, t) <- parts) sums.update(k, sums.getOrElse(k, 0L) + t)
    leg.always.foreach(k => sums.getOrElseUpdate(k, 0L))
    val next = sums.map { case (k, t) => k -> leg.update(k, t.toDouble / 1e9) }
    if (!leg.maxNorm || next.isEmpty) next
    else { val mx = next.values.max; next.map { case (k, v) => k -> v / mx } }
  }

  /** The sum mode's partitioned merge over the reduced sums. */
  private def sumShuffled(s: SparkSession, leg: Leg, sums: RDD[(Any, Long)]): RDD[(Any, Double)] = {
    val Leg(_, _, _, _, _, update, maxNorm, always) = leg
    val seeded = if (always.isEmpty) sums
      else sums.union(s.sparkContext.parallelize(always.map(_ -> 0L), 1))
        .reduceByKey(sums.partitioner.get, _ + _)
    val next = seeded.mapPartitions(
      _.map { case (k, t) => k -> update(k, t.toDouble / 1e9) }, preservesPartitioning = true)
    if (!maxNorm) next
    else {
      val mx = next.values.fold(Double.NegativeInfinity)(math.max)
      next.mapValues(_ / mx)
    }
  }

  /** Min relaxation from `init`, either (key, value) or (lane, key,
    * value) with Long values, over `arcs`: each round, every arc from a
    * frontier key holding `v` in a lane offers `v + hop + w` (`w` the
    * Long `weight` column, 0 when absent) to its `to` key in that lane;
    * a key keeps the minimum of its value and its offers, and the keys
    * that strictly improved are the next frontier (round 1's frontier is
    * all of `init`). Stops when the frontier is empty or after
    * `maxRounds` rounds. Pruning to the frontier gives the same values
    * as relaxing every arc at every round count: a key that did not
    * improve has already offered its value. Lanes (closeness seeds)
    * advance in the same arc scan. Returns the state with `init`'s
    * columns. */
  def relax(s: SparkSession, query: String, init: DataFrame, arcs: DataFrame,
      from: String, to: String, hop: Long = 0L, weight: Option[String] = None,
      maxRounds: Int = Int.MaxValue, width: Int = 0): DataFrame = {
    val k = Plumbing(s, query, width)
    val sc = k.scan(arcs, from, to, weight.toSeq)
    val lanes = init.columns.length == 3
    val byKey = new ByKey(k.p)
    def keyed(r: Row): ((Any, Any), Long) =
      if (lanes) (r.get(0), r.get(1)) -> r.getLong(2) else (null, r.get(0)) -> r.getLong(1)
    val offer: Offer[Seq[(Any, Long)], Long] = (ls, to, w1, _, acc) =>
      ls.foreach { case (lane, v) => acc.add((lane, to), v + hop + w1) }
    // state and frontier, (lane, key) → value; a partitioned pair is
    // placed by its key, as the arcs are by `from`
    type Part = RDD[((Any, Any), Long)]
    def part(e: Either[collection.Map[(Any, Any), Long], Part]): Part =
      e.fold(m => s.sparkContext.parallelize(m.toSeq).partitionBy(byKey), identity)
    def byNode(f: Iterable[((Any, Any), Long)]): Map[Any, Seq[(Any, Long)]] =
      f.toSeq.groupMap(_._1._2) { case ((l, _), v) => (l, v) }
    val first = k.held(init).map(rows => mutable.HashMap.from(rows.map(keyed)))
    var state: Either[mutable.HashMap[(Any, Any), Long], Part] =
      first.toLeft(init.rdd.map(keyed).partitionBy(byKey))
    var front: Either[collection.Map[(Any, Any), Long], Part] = state
    var live = first.forall(_.nonEmpty)
    var i = 0
    while (live && i < maxRounds) {
      i += 1
      k.round(i) {
        (state, front) match {
          case (Left(m), Left(f)) if m.size <= k.guard =>
            // driver merge: keep the minimum, the improved keys go next
            val next = mutable.HashMap.empty[(Any, Any), Long]
            val offers = k.narrow(sc, byNode(f), () => new Acc(min = true))(offer)
            for ((key: (Any, Any) @unchecked, c) <- offers)
              if (c < m.getOrElse(key, Long.MaxValue)) { m(key) = c; next(key) = c }
            front = Left(next)
            live = next.nonEmpty
          case _ =>
            val offers = k.shuffled(part(front).mapPartitions(it => byNode(it.toSeq).iterator),
              sc, byKey, () => new Acc(min = true), math.min(_: Long, _: Long))(offer)
            val merged = part(state).zipPartitions(offers, preservesPartitioning = true) { (st, of) =>
              val m = mutable.HashMap.from(st.map { case (key, v) => key -> (v, false) })
              for ((key: (Any, Any) @unchecked, c) <- of)
                if (c < m.get(key).fold(Long.MaxValue)(_._1)) m(key) = (c, true)
              m.iterator
            }.localCheckpoint()
            val improved = merged.filter(_._2._2).mapValues(_._1)
            live = improved.count() > 0
            state = Right(merged.mapValues(_._1))
            front = Right(improved)
        }
      }
    }
    def row(key: (Any, Any), v: Long): Row =
      if (lanes) Row(key._1, key._2, v) else Row(key._2, v)
    k.frame(StructType(init.schema.fields.init :+ StructField(init.columns.last, LongType,
      init.schema.fields.last.nullable)), state.fold(
      m => Left(m.map { case (key, v) => row(key, v) }),
      st => Right(st.map { case (key, v) => row(key, v) })))
  }

  /** A vector-sum cell: Long lanes `q` and an optional f64 lane `f`
    * (null when absent). */
  final case class Cell(q: Array[Long], f: Array[Double] = null) {
    def lanes: Int = q.length + (if (f == null) 0 else f.length)
  }

  /** One vector-sum leg over `arcs`: an arc whose from-key (`key` of its
    * `from` column, so a derived key is computed in the scan) holds a
    * cell offers it to its `to` key, and `update(key, sums, n)` maps the
    * lane-wise sum of the `n` cells a key was offered to its next cell
    * (null drops the key). A key no arc reaches has no next cell.
    * `toKeys` bounds the distinct `to` keys, for the partials' guard. */
  final case class VecLeg(arcs: DataFrame, from: String, to: String,
      update: (Any, Cell, Long) => Cell, toKeys: Long, key: Any => Any = identity)

  /** Runs `legs` in order, one superstep each, from `init` (key, Long
    * lanes[, f64 lane]) whose cells are `lanes` wide, and returns the
    * last leg's cells as (key, `q`, `f`) with `init`'s key column. Long
    * lanes sum exactly in any order. The f64 lane does not: within the
    * guard it sums each task's arcs in scan order and the tasks in
    * partition order, past it in `reduceByKey`'s merge order. */
  def vsum(s: SparkSession, query: String, init: DataFrame, lanes: Int,
      legs: Seq[VecLeg], width: Int = 0): DataFrame = {
    val k = Plumbing(s, query, width)
    def cell(r: Row): Cell = Cell(r.getSeq[Long](1).toArray,
      if (r.length < 3 || r.isNullAt(2)) null else r.getSeq[Double](2).toArray)
    var state: Either[collection.Map[Any, Cell], RDD[(Any, Cell)]] = k.held(init, lanes) match {
      case Some(rows) => Left(rows.map(r => r.get(0) -> cell(r)).toMap)
      case None => Right(init.rdd.map(r => (r.get(0): Any) -> cell(r)).partitionBy(k.p))
    }
    val scans = legs.map(l => k.scan(l.arcs, l.from, l.to, Nil, l.key))
    val offer: Offer[Cell, Cell] = (c, to, _, _, acc) => acc.add(to, c)
    for (((leg, sc), i) <- legs.zip(scans).zipWithIndex) k.round(i + 1) {
      val update = leg.update
      state = state match {
        case Left(m) if {
          val w = m.headOption.fold(0L)(_._2.lanes.toLong)
          m.size * w <= k.guard && sc.rows.getNumPartitions * leg.toKeys * w <= k.guard
        } =>
          val sums = mutable.HashMap.empty[Any, VSum]
          for ((key, p) <- k.narrow(sc, m, () => new VecAcc)(offer))
            sums.get(key).fold(sums(key) = p)(_.merge(p))
          Left(sums.flatMap { case (key, p) => Option(update(key, p.cell, p.n)).map(key -> _) })
        case st =>
          val part = st.fold(m => s.sparkContext.parallelize(m.toSeq).partitionBy(k.p), identity)
          Right(k.shuffled(part, sc, k.p, () => new VecAcc, (a: VSum, b: VSum) => a.merge(b))(offer)
            .mapPartitions(_.flatMap { case (key, p) => Option(update(key, p.cell, p.n)).map(key -> _) },
              preservesPartitioning = true))
      }
    }
    def row(key: Any, c: Cell): Row = Row(key, c.q.toSeq, Option(c.f).map(_.toSeq).orNull)
    k.frame(StructType(Seq(init.schema.fields(0).copy(nullable = true),
      StructField("q", ArrayType(LongType, containsNull = false)),
      StructField("f", ArrayType(DoubleType, containsNull = false)))), state.fold(
      m => Left(m.map { case (key, c) => row(key, c) }),
      st => Right(st.map { case (key, c) => row(key, c) })))
  }

  /** A mode's per-arc offer: given the value(s) held at the arc's `from`
    * key and the arc's (to, w1, w2), add the arc's offers `T` to the
    * task's combiner. */
  private type Offer[V, T] = (V, Any, Long, Long, Combiner[T, _]) => Unit

  /** A task's per-key combiner of offers `T` into partials `P`. */
  private trait Combiner[T, P] {
    def add(k: Any, t: T): Unit
    def iterator: Iterator[(Any, P)]
  }

  /** Long offers: a key keeps the sum or the minimum of its terms. */
  private final class Acc(min: Boolean) extends Combiner[Long, Long] {
    private val cells = new java.util.HashMap[Any, Array[Long]]()
    def add(k: Any, t: Long): Unit = {
      val c = cells.get(k)
      if (c == null) cells.put(k, Array(t))
      else c(0) = if (min) math.min(c(0), t) else c(0) + t
    }
    def iterator: Iterator[(Any, Long)] = cells.asScala.iterator.map { case (k, c) => (k, c(0)) }
  }

  /** A key's lane-wise sum of `n` cells. */
  private final class VSum(val q: Array[Long], val f: Array[Double], var n: Long)
      extends Serializable {
    def add(oq: Array[Long], of: Array[Double], on: Long): VSum = {
      var i = 0
      while (i < q.length) { q(i) += oq(i); i += 1 }
      if (f != null) { i = 0; while (i < f.length) { f(i) += of(i); i += 1 } }
      n += on
      this
    }
    def merge(o: VSum): VSum = add(o.q, o.f, o.n)
    def cell: Cell = Cell(q, f)
  }

  /** Cell offers: a key sums its cells, from zero, and counts them. */
  private final class VecAcc extends Combiner[Cell, VSum] {
    private val cells = new java.util.HashMap[Any, VSum]()
    def add(k: Any, c: Cell): Unit = {
      var v = cells.get(k)
      if (v == null) {
        v = new VSum(new Array(c.q.length), if (c.f == null) null else new Array(c.f.length), 0L)
        cells.put(k, v)
      }
      v.add(c.q, c.f, 1L)
    }
    def iterator: Iterator[(Any, VSum)] = cells.asScala.iterator
  }

  /** Places a (lane, key) pair where `p` places the key. */
  private final class ByKey(p: Partitioner) extends Partitioner {
    def numPartitions: Int = p.numPartitions
    def getPartition(k: Any): Int = p.getPartition(k.asInstanceOf[(Any, Any)]._2)
  }

  /** Reads an arc row by column ordinal (Long or String keys); the
    * from-key is `key` of the `from` column. */
  private final case class Reader(fromAt: Int, toAt: Int, strKeys: Boolean,
      w1At: Int, w2At: Int, key: Any => Any) {
    private def col(r: InternalRow, i: Int): Any =
      if (strKeys) r.getUTF8String(i).toString else r.getLong(i)
    def from(r: InternalRow): Any = key(col(r, fromAt))
    def to(r: InternalRow): Any = col(r, toAt)
    def w1(r: InternalRow): Long = if (w1At < 0) 0L else r.getLong(w1At)
    def w2(r: InternalRow): Long = if (w2At < 0) 0L else r.getLong(w2At)
  }

  /** One arc MV as the kernel reads it: the reader, the (coalesced) row
    * blocks, and the arcs keyed on `from` on the state's partitioner —
    * lazy, so a run that never leaves the driver-held placement never
    * shuffles. */
  private final case class Scan(rd: Reader, rows: RDD[InternalRow],
      byFrom: RDD[(Any, (Any, Long, Long))])

  /** The placement and step plumbing the modes share. */
  private final case class Plumbing(s: SparkSession, query: String, width: Int) {
    val guard: Long = s.conf.get("spark.graft.stateBroadcastMaxRows",
      GraphOps.StateBroadcastMaxRows.toString).toLong
    val p = new HashPartitioner(s.sessionState.conf.numShufflePartitions)

    def scan(arcs: DataFrame, from: String, to: String, weights: Seq[String],
        key: Any => Any = identity): Scan = {
      val sc = arcs.schema
      val w = weights.map(sc.fieldIndex)
      val rd = Reader(sc.fieldIndex(from), sc.fieldIndex(to), sc(from).dataType == StringType,
        w.headOption.getOrElse(-1), w.lift(1).getOrElse(-1), key)
      val r = arcs.queryExecution.toRdd
      val rows = if (width > 0 && width < r.getNumPartitions) r.coalesce(width) else r
      Scan(rd, rows, rows.map(x => (rd.from(x), (rd.to(x), rd.w1(x), rd.w2(x)))).partitionBy(p))
    }

    /** `init`'s rows when their cells (`lanes` per row) fit the guard,
      * else None (iter0). */
    def held(init: DataFrame, lanes: Int = 1): Option[Array[Row]] = {
      val cap = guard / math.max(lanes, 1)
      val first = JobTag(s.sparkContext, s"$query/iter0") {
        init.limit(math.min(cap, Int.MaxValue - 1L).toInt + 1).collect()
      }
      if (first.length <= cap) Some(first) else None
    }

    def round[A](i: Int)(body: => A): A = JobTag(s.sparkContext, s"$query/iter$i")(body)

    /** One step with a driver-held state: broadcast the values of the
      * keys that offer, scan the arcs in one narrow job, and return each
      * task's combined partials for the driver to merge. */
    def narrow[V, T, P](sc: Scan, held: collection.Map[Any, V], acc: () => Combiner[T, P])(
        offer: Offer[V, T]): Array[(Any, P)] = {
      val m = new java.util.HashMap[Any, V](held.size * 2)
      held.foreach { case (k, v) => m.put(k, v) }
      val bc = s.sparkContext.broadcast(m)
      val rd = sc.rd
      try sc.rows.mapPartitions { it =>
        val st = bc.value
        val a = acc()
        it.foreach { r =>
          val v = st.get(rd.from(r))
          if (v != null) offer(v, rd.to(r), rd.w1(r), rd.w2(r), a)
        }
        a.iterator
      }.collect()
      finally bc.destroy()
    }

    /** One step with a partitioned state (placed as the arcs' `from`):
      * zip it with the arcs, combine per task, then one `reduceByKey`
      * shuffle onto `onto`. */
    def shuffled[V, T, P: ClassTag](st: RDD[(Any, V)], sc: Scan, onto: Partitioner,
        acc: () => Combiner[T, P], merge: (P, P) => P)(offer: Offer[V, T]): RDD[(Any, P)] =
      st.zipPartitions(sc.byFrom) { (held, it) =>
        val m = held.toMap
        val a = acc()
        it.foreach { case (k, (to, w1, w2)) => m.get(k).foreach(offer(_, to, w1, w2, a)) }
        a.iterator
      }.reduceByKey(onto, merge)

    /** The final state as a DataFrame of `schema`. */
    def frame(schema: StructType, rows: Either[Iterable[Row], RDD[Row]]): DataFrame =
      rows.fold(r => s.createDataFrame(r.toSeq.asJava, schema), r => s.createDataFrame(r, schema))
  }
}
