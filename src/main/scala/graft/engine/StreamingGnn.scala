package graft.engine

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming GNN embedding maintenance — the reference's headline
  * capability (`/root/reference/README.md:1-2` "Streaming GNN implemented
  * using Flink + DL4J"): as co-purchase edge events arrive, each
  * customer's neighborhood-mean embedding is updated incrementally in
  * keyed state (Flink ValueState analog = `Keyed`), exactly the
  * event-at-a-time aggregator of TGN/GraphSAGE-style systems.
  *
  * State per customer is (count, 64 f64 sums) — 520 bytes — sharded by
  * key across the state store; an incoming edge touches one key. The
  * two-layer maintainer's part state is 64 Long sums plus 16 bytes per
  * neighbor customer (`L2State`), not the neighbors' representations:
  * layer 1 sends change records that carry the old representation
  * beside the new one, and layer 2 adds their difference. The same
  * update function runs unchanged on a bounded read (driver oracle) and
  * on a MemoryStream in the scenario tests (unified batch/stream).
  */
object StreamingGnn {

  /** vec is Array[Float] (NOT Seq): the primitive-array encoder copies
    * the UnsafeArrayData buffer directly instead of boxing every element
    * through a WrappedArray — measured ~2× on the 600k-row edge stream. */
  case class EdgeFeat(cust: Long, vec: Array[Float])
  case class GnnState(n: Long, sums: Array[Double])
  case class CustEmbed(custkey: Long, n_nbrs: Long,
      d1: Double, d2: Double, d3: Double, d4: Double)

  val Dim = 64

  /** (src, embedding) edge rows as the typed input of the neighbor folds. */
  private def feats(s: SparkSession, edgeFeats: DataFrame): Dataset[EdgeFeat] = {
    import s.implicits._
    edgeFeats.select(col("src").as("cust"), col("embedding").as("vec")).as[EdgeFeat]
  }

  /** Incremental neighbor mean: fold new edges into the per-customer
    * (count, 64 sums) and emit `out` of the refreshed state — the one
    * accumulator behind the embedding snapshot and layer 1. `before`
    * reads the pre-batch state first, since the fold adds into its sums
    * in place; `out` gets its result. */
  private def meanFold[P, O](before: GnnState => P)(out: (Long, P, GnnState) => O) =
    Keyed.fold((e: EdgeFeat) => e.cust, GnnState(0L, new Array[Double](Dim))) {
      (key, st, it) =>
        val pre = before(st)
        var n = st.n
        val sums = st.sums
        it.foreach { e =>
          var i = 0
          val m = math.min(e.vec.length, Dim)
          while (i < m) { sums(i) += e.vec(i); i += 1 }
          n += 1
        }
        val next = GnnState(n, sums)
        (next, Iterator.single(out(key, pre, next)))
    }

  /** Embedding snapshot: the neighbor mean's dims 1–4. */
  val embedFold: Keyed.Fold[EdgeFeat, Long, GnnState, CustEmbed] =
    meanFold(_ => ()) { (key, _, g) =>
      CustEmbed(key, g.n, g.sums(0) / g.n, g.sums(1) / g.n, g.sums(2) / g.n, g.sums(3) / g.n)
    }

  /** Shared transform: (cust, part-embedding) edge rows → per-customer
    * embedding snapshots via keyed state. */
  def embedStream(s: SparkSession, edgeFeats: DataFrame): Dataset[CustEmbed] = {
    import s.implicits._
    Keyed.run(feats(s, edgeFeats), embedFold)
  }

  /** Driver-contract query: run the incremental maintainer over the full
    * bounded edge set; final snapshots must equal the batch
    * neighborhood-mean (oracle: per-dim AVG + degree). */
  def q_stream_gnn_embed(s: SparkSession, dir: String): DataFrame =
    embedStream(s, GraphOps.neighborFeatures(s, dir))
      .toDF()
      .select(col("custkey"), col("n_nbrs"),
        round(col("d1"), 6).as("d1"), round(col("d2"), 6).as("d2"),
        round(col("d3"), 6).as("d3"), round(col("d4"), 6).as("d4"))
      .orderBy("custkey")

  // ---- Streaming 2-layer GNN -------------------------------------------
  // The reference's headline is a MULTI-layer streaming GNN (README.md:1-2;
  // Flink systems chain the layers with iteration/feedback edges). The
  // Spark analog is two chained keyed-state operators: layer 1 maintains
  // each customer's neighborhood accumulator and emits change records of
  // its representation h1 = ReLU(W·mean + b); layer 2, keyed by part,
  // keeps the exact sum of its neighbor customers' latest h1 and
  // re-aggregates g = ReLU(W·mean_c h1(c) + b) after each batch. A change
  // record carries the customer's previous h1 beside the new one (Flink's
  // retract stream: UPDATE_BEFORE and UPDATE_AFTER in one record), so
  // layer 2 adds the difference instead of storing every neighbor's h1.
  //
  // Deployment shape: the two layers run as two streaming queries
  // connected by a stream (Flink's iteration edge made explicit); the
  // scenario test wires that two-hop pipeline. Both are Update-mode
  // `Keyed` folds on transformWithState, which also accepts them chained
  // in ONE streaming query (layer 1, the `edges` join, layer 2).
  // On a bounded input the whole DAG runs as ONE batch plan (the contract
  // query below), which is also what makes it DuckDB-oracle-checkable.

  /** A layer-1 change record; `rep` is laid out as `Change` reads it. */
  case class CustRep(cust: Long, rep: Array[Double])
  /** A change record fanned out to one neighbor part. */
  case class PartMsg(part: Long, cust: Long, rep: Array[Double])
  /** Layer-2 keyed state of one part: `n` neighbor customers; `sums`, the
    * 64 lane sums of their latest h1 at `L2Scale`; `custs`, the neighbor
    * ids ascending; and `vers(i)`, the last version of `custs(i)` added.
    * 512 bytes plus 16 per neighbor, against 520 per neighbor for a
    * stored representation. */
  case class L2State(n: Long, sums: Array[Long], custs: Array[Long], vers: Array[Long])
  case class PartEmbed(part_key: Long, n_custs: Long,
      g1: Double, g2: Double, g3: Double, g4: Double)

  /** Fixed-point scale of layer 2's Long sums. Long sums are exact, so a
    * part's sums do not depend on how the records were batched or
    * ordered. The mean is the exact sum over n, so it differs from the
    * f64 mean the `q_stream_gnn_layer2` oracle averages by at most one
    * rounding step per lane. At 1e9, the batch tier's `q9` scale, that
    * flips 1 of 8,000 6-dp g values at sf0.01 and 4 of 80,000 at
    * sf0.1; at 1e12 none flipped at sf0.001, sf0.01 or sf0.1. The
    * largest |h1| on the fixtures is 0.67 and the largest part degree
    * 53 (sf0.1), so a lane sum stays below 3.6e13, over 2e5× below
    * Long.MaxValue; past the range `scaled` and the sums'
    * `Math.addExact` throw rather than wrap. */
  val L2Scale = 1e12

  /** x·L2Scale as a Long, rounded half away from zero; throws an
    * ArithmeticException when the result is outside the Long range. */
  private def scaled(x: Double): Long = {
    val y = x * L2Scale
    val r = if (y >= 0) math.floor(y + 0.5) else math.ceil(y - 0.5)
    // 2^63 is exact in a double; NaN fails both comparisons
    if (!(r >= -9.223372036854775808e18 && r < 9.223372036854775808e18))
      throw new ArithmeticException(s"layer-2 lane $x is out of the Long range at scale $L2Scale")
    r.toLong
  }

  /** The fields of a change record's `rep`: lanes 0..63 are `h`, the
    * customer's h1 after the batch; lane 64 is `version`, its edge count
    * after the batch; lanes 65..128 are `old`, its h1 before the batch,
    * left out on the customer's first emission. Only this class indexes
    * the array. */
  final class Change(val rep: Array[Double]) extends AnyVal {
    def h: Array[Double] = java.util.Arrays.copyOfRange(rep, 0, Dim)
    def version: Long = rep(Dim).toLong
    def old: Option[Array[Double]] =
      if (rep.length > Dim + 1) Some(java.util.Arrays.copyOfRange(rep, Dim + 1, 2 * Dim + 1))
      else None

    /** sums += scaled(h), or with `retract` sums += scaled(h) − scaled(old). */
    def addTo(sums: Array[Long], retract: Boolean): Unit = {
      if (retract && rep.length <= Dim + 1)
        throw new IllegalStateException(s"version $version has no old representation to retract")
      var i = 0
      while (i < Dim) {
        val d = if (retract) Math.subtractExact(scaled(rep(i)), scaled(rep(Dim + 1 + i)))
          else scaled(rep(i))
        sums(i) = Math.addExact(sums(i), d)
        i += 1
      }
    }
  }

  object Change {
    def apply(rep: Array[Double]): Change = new Change(rep)

    /** The `rep` of h at `version`, retracting `old` (null on a first emission). */
    def encode(h: Array[Double], version: Long, old: Array[Double]): Array[Double] = {
      val rep = new Array[Double](if (old == null) Dim + 1 else 2 * Dim + 1)
      System.arraycopy(h, 0, rep, 0, Dim)
      rep(Dim) = version.toDouble
      if (old != null) System.arraycopy(old, 0, rep, Dim + 1, Dim)
      rep
    }
  }

  /** h1 = ReLU(W·mean + b) of a customer's neighbor accumulator. */
  private def rep(g: GnnState): Array[Double] = {
    val mean = new Array[Double](Dim)
    var i = 0
    while (i < Dim) { mean(i) = g.sums(i) / g.n; i += 1 }
    Gnn.forward(mean)
  }

  /** Layer 1: a change record of the neighbor mean's DENSE representation
    * (full 64 dims — layer 2 consumes all of them, unlike the 4-dim
    * display snapshot of q_stream_gnn_embed). The old h1 is recomputed
    * from the pre-batch state, bit for bit the `h` of the customer's
    * previous record. */
  val custRepFold: Keyed.Fold[EdgeFeat, Long, GnnState, CustRep] =
    meanFold(st => if (st.n == 0) null else rep(st)) { (key, old, g) =>
      CustRep(key, Change.encode(rep(g), g.n, old))
    }

  private val byCustVersion: java.util.Comparator[PartMsg] = (a, b) => {
    val c = java.lang.Long.compare(a.cust, b.cust)
    if (c != 0) c else java.lang.Long.compare(Change(a.rep).version, Change(b.rep).version)
  }

  /** Layer 2: fold a batch's change records into the part's sums, one
    * customer at a time in ascending (customer, version) order. A
    * customer new to the part adds its highest-version h and counts
    * once: a part that gains a customer after that customer's first
    * emission still gets its full h1. A known customer adds h − old of
    * each record above its stored version, so a re-delivered record
    * adds nothing. The part's g is the dense pass over sums / n. */
  val partRepFold: Keyed.Fold[PartMsg, Long, L2State, PartEmbed] =
    Keyed.fold((m: PartMsg) => m.part,
        L2State(0L, new Array[Long](Dim), Array.emptyLongArray, Array.emptyLongArray)) {
      (key, st, it) =>
        val ms = it.toArray
        java.util.Arrays.sort(ms, byCustVersion)
        val sums = st.sums
        var n = st.n
        // customers new to the part, ascending, with their versions
        val newC = new Array[Long](ms.length)
        val newV = new Array[Long](ms.length)
        var k = 0
        var i = 0
        while (i < ms.length) {
          val cust = ms(i).cust
          var j = i + 1
          while (j < ms.length && ms(j).cust == cust) j += 1
          val at = java.util.Arrays.binarySearch(st.custs, cust)
          if (at >= 0) {
            var v = st.vers(at)
            while (i < j) {
              val c = Change(ms(i).rep)
              if (c.version > v) { c.addTo(sums, retract = true); v = c.version }
              i += 1
            }
            st.vers(at) = v
          } else {
            val c = Change(ms(j - 1).rep)
            c.addTo(sums, retract = false)
            n += 1
            newC(k) = cust; newV(k) = c.version; k += 1
          }
          i = j
        }
        val mean = new Array[Double](Dim)
        var d = 0
        while (d < Dim) { mean(d) = sums(d).toDouble / n / L2Scale; d += 1 }
        val g = Gnn.forward(mean)
        (withNew(L2State(n, sums, st.custs, st.vers), newC, newV, k),
          Iterator.single(PartEmbed(key, n, g(0), g(1), g(2), g(3))))
    }

  /** `st` with the first `k` of the ascending `custs`/`vers` merged into
    * its neighbor arrays. */
  private def withNew(st: L2State, custs: Array[Long], vers: Array[Long], k: Int): L2State =
    if (k == 0) st
    else {
      val c = new Array[Long](st.custs.length + k)
      val v = new Array[Long](c.length)
      var a = 0
      var b = 0
      var o = 0
      while (o < c.length) {
        if (b == k || (a < st.custs.length && st.custs(a) < custs(b))) {
          c(o) = st.custs(a); v(o) = st.vers(a); a += 1
        } else {
          c(o) = custs(b); v(o) = vers(b); b += 1
        }
        o += 1
      }
      L2State(st.n, st.sums, c, v)
    }

  /** Layer-1 stage: edge-feature rows → refreshed customer representations. */
  def custRepStream(s: SparkSession, edgeFeats: DataFrame): Dataset[CustRep] = {
    import s.implicits._
    Keyed.run(feats(s, edgeFeats), custRepFold)
  }

  /** Layer-2 stage: (part, cust, h1) messages → refreshed part embeddings. */
  def partRepStream(s: SparkSession, msgs: Dataset[PartMsg]): Dataset[PartEmbed] = {
    import s.implicits._
    Keyed.run(msgs, partRepFold)
  }

  /** Driver-contract query: the chained 2-layer maintainer over the full
    * bounded edge set. Final snapshots must equal the batch 2-layer GNN
    * (q_gnn_layer2 math — oracle: the same generated chained-matmul SQL,
    * plus the per-part neighbor count). On a bounded input each customer
    * emits one first-emission record, so each part adds the exact
    * `L2Scale` sum of its neighbors' h1. */
  def q_stream_gnn_layer2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val reps = custRepStream(s, GraphOps.neighborFeatures(s, dir))
    val msgs = reps.toDF()
      .join(GraphOps.edges(s, dir), col("cust") === col("src"))
      .select(col("dst").as("part"), col("cust"), col("rep")).as[PartMsg]
    partRepStream(s, msgs)
      .toDF()
      .select(col("part_key"), col("n_custs"),
        round(col("g1"), 6).as("g1"), round(col("g2"), 6).as("g2"),
        round(col("g3"), 6).as("g3"), round(col("g4"), 6).as("g4"))
      .orderBy("part_key")
  }

  // ---- Streaming max-pool aggregator (round 8) --------------------------
  // Streaming twin of q_gnn_graphsage_pool: element-wise MAX is a MONOTONE
  // accumulator, so unlike the mean/layer ops the keyed state is just
  // (count, 4 running maxima) — 40 bytes, no neighbor replication, and the
  // snapshot after any prefix is the true pool of the edges seen so far
  // (the property that makes max-pool the cheapest streaming aggregator).

  case class PoolState(n: Long, mx: Array[Double])
  case class CustPool(custkey: Long, n_neigh: Long,
      p1: Double, p2: Double, p3: Double, p4: Double)

  /** Per-neighbor pooled pre-activations: σ(W_pool[i]·x + b_pool[i]),
    * round-9 — the EXACT arithmetic of the batch operator's generated
    * column expression: same left-assoc fold, StrictMath.exp (Spark
    * 4.1.2's exp codegen calls java.lang.StrictMath.exp, while
    * Math.exp may be JIT-intrinsified and differ in the last ulp —
    * ADVICE r5; the StatsOps.psiOf StrictMath.log pattern), and the
    * same scala-BigDecimal HALF_UP rounding Spark's Round uses, so the
    * streaming snapshot hash-matches the batch oracle on any JVM. */
  def poolZ(vec: Array[Float]): Array[Double] = {
    val out = new Array[Double](4)
    var i = 0
    while (i < 4) {
      val r = i + TrainOps.PoolOff
      val w = Gnn.W(r)
      var acc = w(0) * vec(0).toDouble
      var j = 1
      val m = math.min(Gnn.Dim, vec.length)
      while (j < m) { acc += w(j) * vec(j).toDouble; j += 1 }
      acc += Gnn.bias(r)
      val sig = 1.0 / (1.0 + StrictMath.exp(-acc))
      out(i) = BigDecimal(sig)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      i += 1
    }
    out
  }

  val poolFold: Keyed.Fold[EdgeFeat, Long, PoolState, CustPool] =
    Keyed.fold((e: EdgeFeat) => e.cust, PoolState(0L, Array.fill(4)(Double.NegativeInfinity))) {
      (key, st, it) =>
        var n = st.n
        val mx = st.mx
        it.foreach { e =>
          val z = poolZ(e.vec)
          var i = 0
          while (i < 4) { if (z(i) > mx(i)) mx(i) = z(i); i += 1 }
          n += 1
        }
        (PoolState(n, mx), Iterator.single(CustPool(key, n, mx(0), mx(1), mx(2), mx(3))))
    }

  /** Shared transform for the scenario tests and the contract query. */
  def poolStream(s: SparkSession, edgeFeats: DataFrame): Dataset[CustPool] = {
    import s.implicits._
    Keyed.run(feats(s, edgeFeats), poolFold)
  }

  /** Driver-contract query: final streaming snapshots must equal the
    * batch max-pool aggregator (shares q_gnn_graphsage_pool's oracle). */
  def q_stream_gnn_pool(s: SparkSession, dir: String): DataFrame =
    poolStream(s, GraphOps.neighborFeatures(s, dir))
      .toDF()
      .select(col("custkey"), col("n_neigh"),
        col("p1"), col("p2"), col("p3"), col("p4"))
      .orderBy("custkey")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stream_gnn_embed" -> q_stream_gnn_embed _,
    "q_stream_gnn_layer2" -> q_stream_gnn_layer2 _,
    "q_stream_gnn_pool" -> q_stream_gnn_pool _
  )
}
