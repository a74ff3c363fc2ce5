package graft.engine

import scala.collection.mutable
import scala.collection.mutable.ArrayBuilder
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import org.apache.spark.{HashPartitioner, Partitioner, ShuffleDependency}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.graft.SessionBridge
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
  * Three placements, chosen against `spark.graft.stateBroadcastMaxRows`,
  * a budget of cells (values) the driver may hold:
  *  - local: when the state's cells plus the arcs' cells fit (an arc
  *    is 2 + its weight columns), the arcs are read to the driver once
  *    per run, by the job of the run's first step, which runs as a
  *    narrow step: one compact chunk per scan partition, keys numbered
  *    into dense `Int` ids. Legs over the same arcs share one scan, so
  *    a shared arc MV is read, numbered and counted once. Every later
  *    step runs on the driver: no broadcast, no job per step, nothing
  *    persisted or kept past the call. Each task brings back at most
  *    its share of the budget, so the driver never pulls more than the
  *    guard; a task past its share sends no arcs, and the run goes on
  *    narrow with no job spent on the try;
  *  - narrow: when the state fits but the arcs do not, the state is
  *    held on the driver and broadcast, and each step is ONE narrow job
  *    over the arc MV's blocks (read through `queryExecution.toRdd`,
  *    nothing persisted) whose per-task partials the driver merges;
  *  - partitioned: past the guard the state stays partitioned on its
  *    key: each step zips it with the arcs (shuffled onto their `from`
  *    key once per run, in a job of their own, the shuffle output
  *    reused by every step) and combines with one `reduceByKey` shuffle
  *    onto the same placement.
  * A local step runs over arrays indexed by the arcs' ids: Long sums
  * and minima are exact in any order, and `vsum` sums each chunk's
  * cells in scan order into partials of their own, merged in partition
  * order as a narrow step's task partials are, so every placement
  * gives the same bits. The scalar modes guard the state's row count.
  * `vsum` guards cells (rows × lanes): the state's, and the per-task
  * partials' bound of scan tasks × the leg's `toKeys` × lanes, so
  * neither a 64-wide state nor many tasks' partials load the driver. State only grows
  * between steps, so a run only moves down the list: local arcs are
  * dropped (never read again) once the state outgrows their share.
  * Round i's jobs run under the job description `<query>/iter<i>` (the
  * state's read is iter0). The job that first reads the arcs in a
  * placement is tagged `<query>/iter<i>/arcs:<placement>`: the first
  * step's (`local`, whether or not the arcs fit), the first narrow
  * step after a failed try (`narrow`) and each scan's shuffle
  * (`partitioned`). `width`, when positive, coalesces the arc scan to
  * that many tasks.
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
    val k = new Plumbing(s, query, width)
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
            Left(sumMerge(leg, k.step(scans, sc, m, m.size, () => new Acc(min = false))(offer)(
              sumLocal(_, sc, m, term))))
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

  /** The sum mode's driver step over `sc`: every arc whose from key
    * holds `v` adds `rlong(term(v, w1, w2)·1e9)` to its to key's sum. */
  private def sumLocal(a: Arcs, sc: Scan, m: collection.Map[Any, Double],
      term: (Double, Long, Long) => Double): Array[(Any, Long)] = {
    val n = a.keys.length
    val v = new Array[Double](n)
    val has = new Array[Boolean](n)
    for ((key, x) <- m) { val i = a.id(key); if (i >= 0) { v(i) = x; has(i) = true } }
    val sums = new Array[Long](n)
    val hit = new Array[Boolean](n)
    for (c <- a.of(sc)) {
      var j = 0
      while (j < c.rows) {
        val f = c.from(j)
        if (has(f)) {
          val t = c.to(j)
          sums(t) += Dsl.rlong(term(v(f), c.w1(j), c.w2(j)) * 1e9)
          hit(t) = true
        }
        j += 1
      }
    }
    (0 until n).iterator.filter(hit).map(t => a.keys(t) -> sums(t)).toArray
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
    val k = new Plumbing(s, query, width)
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
            val fr = byNode(f)
            val offers = k.step(Seq(sc), sc, fr, m.size, () => new Acc(min = true))(offer)(
              minLocal(_, sc, fr, hop))
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

  /** The min mode's driver step over `sc`: every arc from a frontier
    * key offers each of the key's (lane, `v`) as `v + hop + w` to (lane,
    * its to key), and each (lane, key) keeps its least offer. */
  private def minLocal(a: Arcs, sc: Scan, front: Map[Any, Seq[(Any, Long)]],
      hop: Long): Array[(Any, Long)] = {
    val n = a.keys.length
    val fr = new Array[Seq[(Any, Long)]](n)
    for ((key, ls) <- front) { val i = a.id(key); if (i >= 0) fr(i) = ls }
    // per lane, each id's least offer (Long.MaxValue: none — an offer
    // of Long.MaxValue would improve nothing)
    val best = new java.util.HashMap[Any, Array[Long]]()
    for (c <- a.of(sc)) {
      var j = 0
      while (j < c.rows) {
        val ls = fr(c.from(j))
        if (ls != null) {
          val t = c.to(j)
          val w = c.w1(j)
          for ((lane, v) <- ls) {
            val b = best.computeIfAbsent(lane, _ => Array.fill(n)(Long.MaxValue))
            b(t) = math.min(b(t), v + hop + w)
          }
        }
        j += 1
      }
    }
    best.asScala.iterator.flatMap { case (lane, b) =>
      (0 until n).iterator.filter(b(_) != Long.MaxValue).map(t => ((lane, a.keys(t)): Any) -> b(t))
    }.toArray
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
    val k = new Plumbing(s, query, width)
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
      def lanes(m: collection.Map[Any, Cell]): Long = m.headOption.fold(0L)(_._2.lanes.toLong)
      state = state match {
        case Left(m) if m.size * lanes(m) <= k.guard &&
            sc.rows.getNumPartitions * leg.toKeys * lanes(m) <= k.guard =>
          val sums = mutable.HashMap.empty[Any, VSum]
          for ((key, p) <- k.step(scans, sc, m, m.size * lanes(m), () => new VecAcc)(offer)(
              vecLocal(_, sc, m)))
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

  /** The vector-sum mode's driver step over `sc`: per chunk, as one
    * narrow task, each to key sums its offered cells in scan order from
    * zero; the chunks' partials follow in partition order. */
  private def vecLocal(a: Arcs, sc: Scan, m: collection.Map[Any, Cell]): Array[(Any, VSum)] = {
    val n = a.keys.length
    val cells = new Array[Cell](n)
    for ((key, c) <- m) { val i = a.id(key); if (i >= 0) cells(i) = c }
    val out = mutable.ArrayBuffer.empty[(Any, VSum)]
    for (ch <- a.of(sc)) {
      val part = new Array[VSum](n)
      var j = 0
      while (j < ch.rows) {
        val c = cells(ch.from(j))
        if (c != null) {
          val t = ch.to(j)
          var v = part(t)
          if (v == null) { v = VSum.zero(c); part(t) = v; out += a.keys(t) -> v }
          v.add(c.q, c.f, 1L)
        }
        j += 1
      }
    }
    out.toArray
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

  private object VSum {
    /** An empty sum of cells shaped as `c`. */
    def zero(c: Cell): VSum =
      new VSum(new Array(c.q.length), if (c.f == null) null else new Array(c.f.length), 0L)
  }

  /** Cell offers: a key sums its cells, from zero, and counts them. */
  private final class VecAcc extends Combiner[Cell, VSum] {
    private val cells = new java.util.HashMap[Any, VSum]()
    def add(k: Any, c: Cell): Unit = {
      var v = cells.get(k)
      if (v == null) { v = VSum.zero(c); cells.put(k, v) }
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
    /** An arc's cells: its two keys and its weights. */
    def cells: Int = 2 + (if (w1At < 0) 0 else 1) + (if (w2At < 0) 0 else 1)
  }

  /** One arc MV as the kernel reads it: the reader, the (coalesced) row
    * blocks, and the arcs keyed on `from` on the state's partitioner —
    * lazy, so a run that never leaves the driver-held placements never
    * shuffles. A run makes one per distinct (arcs, from, to, weights,
    * key), so legs over the same arcs share its read and its shuffle. */
  private final class Scan(val rd: Reader, val rows: RDD[InternalRow],
      val byFrom: RDD[(Any, (Any, Long, Long))])

  /** One scan partition's arcs as a read task sends them: the raw key
    * columns (`Array[Long]` or `Array[String]`, the from-key before
    * `key`) and the weight columns (null when absent). */
  private final class Raw(val from: Array[_], val to: Array[_], val w1: Array[Long],
      val w2: Array[Long]) extends Serializable

  /** Builds one scan partition's `Raw` from its rows, in scan order,
    * while they fit `share` cells; past it the rest are only counted. */
  private final class RawBuilder(rd: Reader, share: Long) {
    private val max = share / rd.cells
    private val (fl, tl, w1, w2) = (new ArrayBuilder.ofLong, new ArrayBuilder.ofLong,
      new ArrayBuilder.ofLong, new ArrayBuilder.ofLong)
    private val (fs, ts) = (ArrayBuilder.make[String], ArrayBuilder.make[String])
    private var n = 0L

    def +=(r: InternalRow): Unit = {
      n += 1
      if (n <= max) {
        if (rd.strKeys) {
          fs += r.getUTF8String(rd.fromAt).toString
          ts += r.getUTF8String(rd.toAt).toString
        } else { fl += r.getLong(rd.fromAt); tl += r.getLong(rd.toAt) }
        if (rd.w1At >= 0) w1 += r.getLong(rd.w1At)
        if (rd.w2At >= 0) w2 += r.getLong(rd.w2At)
      }
    }

    /** The partition's arcs, or null when they passed `share`. */
    def result: Raw =
      if (n > max) null
      else if (rd.strKeys) new Raw(fs.result(), ts.result(), weights(rd.w1At, w1), weights(rd.w2At, w2))
      else new Raw(fl.result(), tl.result(), weights(rd.w1At, w1), weights(rd.w2At, w2))

    private def weights(at: Int, b: ArrayBuilder.ofLong): Array[Long] =
      if (at < 0) null else b.result()
  }

  /** One scan partition's arcs on the driver, keys as dense ids. */
  private final class Chunk(val from: Array[Int], val to: Array[Int], w1s: Array[Long],
      w2s: Array[Long]) {
    def rows: Int = from.length
    def w1(j: Int): Long = if (w1s == null) 0L else w1s(j)
    def w2(j: Int): Long = if (w2s == null) 0L else w2s(j)
  }

  /** Every scan's arcs on the driver: `keys(id)` is the key numbered
    * `id`, and a scan's arcs are one `Chunk` per scan partition, in
    * partition order. `cells` counts each arc's keys and weights. */
  private final class Arcs(val keys: Array[Any], ids: java.util.HashMap[Any, Integer],
      scans: Seq[Scan], chunks: Array[Array[Chunk]], val cells: Long) {
    /** `k`'s id, or -1 when no arc holds it. */
    def id(k: Any): Int = { val i = ids.get(k); if (i == null) -1 else i.intValue }
    def of(sc: Scan): Array[Chunk] = chunks(scans.indexOf(sc))
  }

  private object Arcs {
    /** Numbers the keys of `raw`, the read of `scans`' partitions in
      * order. */
    def apply(scans: Seq[Scan], raw: Array[Raw]): Arcs = {
      val ids = new java.util.HashMap[Any, Integer]()
      val keys = mutable.ArrayBuffer.empty[Any]
      def id(k: Any): Int = {
        val i = ids.get(k)
        if (i != null) i.intValue else { ids.put(k, keys.length); keys += k; keys.length - 1 }
      }
      val parts = raw.iterator
      var cells = 0L
      val chunks = scans.map { sc =>
        Array.fill(sc.rows.getNumPartitions) {
          val r = parts.next()
          cells += r.from.length.toLong * sc.rd.cells
          new Chunk(Array.tabulate(r.from.length)(j => id(sc.rd.key(r.from(j)))),
            Array.tabulate(r.to.length)(j => id(r.to(j))), r.w1, r.w2)
        }
      }
      new Arcs(keys.toArray, ids, scans, chunks.toArray, cells)
    }
  }

  /** The placement and step plumbing the modes share, for one run. */
  private final class Plumbing(s: SparkSession, query: String, width: Int) {
    val guard: Long = GraphOps.stateGuard(s)
    val p = new HashPartitioner(s.sessionState.conf.numShufflePartitions)
    // the placement of the last arc read, the local arcs, the run's
    // scans by what they read, and the scans already shuffled onto
    // their from key
    private var placed = ""
    private var local: Option[Arcs] = None
    private var tried = false
    private val scans = mutable.ArrayBuffer.empty[((DataFrame, String, String, Seq[String], Any => Any), Scan)]
    private val parted = mutable.Set.empty[Scan]

    /** The scan of `arcs`; the same arcs, columns and `key` give the
      * same scan. */
    def scan(arcs: DataFrame, from: String, to: String, weights: Seq[String],
        key: Any => Any = identity): Scan = {
      val what = (arcs, from, to, weights, key)
      scans.collectFirst { case ((a, f, t, w, kf), sc) if (a eq arcs) && f == from && t == to &&
          w == weights && (kf eq key) => sc }.getOrElse {
        val sc = arcs.schema
        val w = weights.map(sc.fieldIndex)
        val rd = Reader(sc.fieldIndex(from), sc.fieldIndex(to), sc(from).dataType == StringType,
          w.headOption.getOrElse(-1), w.lift(1).getOrElse(-1), key)
        val r = arcs.queryExecution.toRdd
        val rows = if (width > 0 && width < r.getNumPartitions) r.coalesce(width) else r
        val made = new Scan(rd, rows, rows.map(x => (rd.from(x), (rd.to(x), rd.w1(x), rd.w2(x))))
          .partitionBy(p))
        scans += what -> made
        made
      }
    }

    /** `init`'s rows when their cells (`lanes` per row) fit the guard,
      * else None, in one job (iter0): each task sends its rows when
      * they fit its share of the guard, else nothing. When a task
      * passes its share, a limit read to the guard decides (two more
      * jobs), so the driver never pulls more than the guard. */
    def held(init: DataFrame, lanes: Int = 1): Option[Array[Row]] = {
      val cap = math.min(guard / math.max(lanes, 1), Int.MaxValue - 1L).toInt
      val schema = init.schema
      val rows = init.queryExecution.toRdd
      val share = cap / math.max(rows.getNumPartitions, 1)
      JobTag(s.sparkContext, s"$query/iter0") {
        // internal rows, which serialize compactly
        val parts = rows.mapPartitions { it =>
          val got = it.take(share + 1).map(_.copy()).toArray
          Iterator(Option.when(got.length <= share)(got))
        }.collect()
        if (parts.forall(_.isDefined)) {
          val toRow = CatalystTypeConverters.createToScalaConverter(schema)
          Some(parts.flatMap(_.get).map(toRow(_).asInstanceOf[Row]))
        } else Some(init.limit(cap + 1).collect()).filter(_.length <= cap)
      }
    }

    def round[A](i: Int)(body: => A): A = JobTag(s.sparkContext, s"$query/iter$i")(body)

    /** Runs `body` under `<round's>/arcs:<placement>` when the run enters
      * the placement: the local read, or the first narrow step. */
    private def entering[A](placement: String)(body: => A): A =
      if (placed == placement) body
      else { placed = placement; JobTag.under(s.sparkContext, s"arcs:$placement")(body) }

    /** One step of `sc` with a driver-held state of `stateCells`:
      * `onDriver` over the local arcs when they fit beside it, else one
      * narrow job whose tasks combine their partition's offers into a
      * fresh `acc()` and return the partials, in partition order, for
      * the driver to merge. The run's first such step is a narrow job
      * that also reads every scan's arcs (`<round's>/arcs:local`): each
      * task brings them back when they fit its share of what the guard
      * leaves beside the state, else nothing. The arcs are kept while
      * they and the state fit, and once dropped not read again. */
    def step[V, T, P](all: Seq[Scan], sc: Scan, held: collection.Map[Any, V], stateCells: Long,
        acc: () => Combiner[T, P])(offer: Offer[V, T])(
        onDriver: Arcs => Array[(Any, P)]): Array[(Any, P)] =
      if (!tried) {
        tried = true
        val scans = all.distinct
        val share = (guard - stateCells) / math.max(scans.map(_.rows.getNumPartitions).sum, 1)
        val (parts, raw) = entering("local")(narrow(scans, sc, held, acc, share)(offer))
        if (!raw.contains(null)) local = Some(Arcs(scans, raw))
        parts
      } else {
        local = local.filter(_.cells + stateCells <= guard)
        local.fold(entering("narrow")(narrow(Seq(sc), sc, held, acc, -1L)(offer)._1))(onDriver)
      }

    /** One job with a driver-held state: broadcast the values of the
      * keys that offer and scan `sc`, whose tasks return their combined
      * partials, in partition order, for the driver to merge. With a
      * `share` of cells (not -1) every task of `scans` also returns its
      * partition's arcs, or null past the share. */
    private def narrow[V, T, P](scans: Seq[Scan], sc: Scan, held: collection.Map[Any, V],
        acc: () => Combiner[T, P], share: Long)(offer: Offer[V, T]): (Array[(Any, P)], Array[Raw]) = {
      val m = new java.util.HashMap[Any, V](held.size * 2)
      held.foreach { case (k, v) => m.put(k, v) }
      val bc = s.sparkContext.broadcast(m)
      try {
        val out = s.sparkContext.union(scans.map { x =>
          val (rd, stepped) = (x.rd, x eq sc)
          x.rows.mapPartitions { it =>
            val (st, a) = if (stepped) (bc.value, acc()) else (null, null)
            val b = if (share >= 0) new RawBuilder(rd, share) else null
            it.foreach { r =>
              if (a != null) {
                val v = st.get(rd.from(r))
                if (v != null) offer(v, rd.to(r), rd.w1(r), rd.w2(r), a)
              }
              if (b != null) b += r
            }
            Iterator((if (a == null) null else a.iterator.toArray, if (b == null) null else b.result))
          }
        }).collect()
        (out.flatMap(o => Option(o._1)).flatten, out.map(_._2))
      } finally bc.destroy()
    }

    /** One step with a partitioned state (placed as the arcs' `from`):
      * zip it with the arcs, combine per task, then one `reduceByKey`
      * shuffle onto `onto`. The arcs' own shuffle runs first, once per
      * scan, as a job of its own (`<round's>/arcs:partitioned`). */
    def shuffled[V, T, P: ClassTag](st: RDD[(Any, V)], sc: Scan, onto: Partitioner,
        acc: () => Combiner[T, P], merge: (P, P) => P)(offer: Offer[V, T]): RDD[(Any, P)] = {
      if (parted.add(sc) && sc.rows.getNumPartitions > 0) {
        placed = "partitioned"
        JobTag.under(s.sparkContext, "arcs:partitioned")(SessionBridge.runMapStage(s.sparkContext,
          sc.byFrom.dependencies.head.asInstanceOf[ShuffleDependency[_, _, _]]))
      }
      st.zipPartitions(sc.byFrom) { (held, it) =>
        val m = held.toMap
        val a = acc()
        it.foreach { case (k, (to, w1, w2)) => m.get(k).foreach(offer(_, to, w1, w2, a)) }
        a.iterator
      }.reduceByKey(onto, merge)
    }

    /** The final state as a DataFrame of `schema`; a driver-held state
      * is one partition, so a caller's global sort plans no exchange. */
    def frame(schema: StructType, rows: Either[Iterable[Row], RDD[Row]]): DataFrame =
      rows.fold(r => s.createDataFrame(r.toSeq.asJava, schema).coalesce(1),
        r => s.createDataFrame(r, schema))
  }
}
