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
  * State per vertex is (count, 64 f64 sums) — 520 bytes — sharded by key
  * across the state store; an incoming edge touches one key. The same
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
    * accumulator behind the embedding snapshot and layer 1. */
  private def meanFold[O](out: (Long, GnnState) => O) =
    Keyed.fold((e: EdgeFeat) => e.cust, GnnState(0L, new Array[Double](Dim))) {
      (key, st, it) =>
        var n = st.n
        val sums = st.sums
        it.foreach { e =>
          var i = 0
          val m = math.min(e.vec.length, Dim)
          while (i < m) { sums(i) += e.vec(i); i += 1 }
          n += 1
        }
        val next = GnnState(n, sums)
        (next, Iterator.single(out(key, next)))
    }

  /** Embedding snapshot: the neighbor mean's dims 1–4. */
  val embedFold: Keyed.Fold[EdgeFeat, Long, GnnState, CustEmbed] =
    meanFold { (key, g) =>
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

  // ---- Streaming 2-layer GNN (round 5) ----------------------------------
  // The reference's headline is a MULTI-layer streaming GNN (README.md:1-2;
  // Flink systems chain the layers with iteration/feedback edges). The
  // Spark analog is two chained keyed-state operators: layer 1 maintains
  // each customer's neighborhood accumulator and emits refreshed customer
  // representations h1 = ReLU(W·mean + b); layer 2, keyed by part, keeps
  // the LATEST h1 of each neighboring customer (the replicated-neighbor-
  // state pattern of distributed streaming-GNN engines) and re-aggregates
  // g = ReLU(W·mean_c h1(c) + b) whenever one changes.
  //
  // Deployment shape: Spark requires a keyed-state operator to be the
  // terminal stateful operator of a streaming query, so the two layers run
  // as two chained jobs connected by a stream (exactly Flink's iteration
  // edge made explicit); the scenario test wires that two-hop pipeline.
  // On a bounded input the whole DAG runs as ONE batch plan (the contract
  // query below), which is also what makes it DuckDB-oracle-checkable.

  case class CustRep(cust: Long, rep: Array[Double])
  case class PartMsg(part: Long, cust: Long, rep: Array[Double])
  /** Layer-2 keyed state: latest layer-1 representation per neighbor
    * customer — deg(part) × 64 doubles ≈ 520 B per neighbor, sharded by
    * part key across the state store. */
  case class L2State(reps: Map[Long, Array[Double]])
  case class PartEmbed(part_key: Long, n_custs: Long,
      g1: Double, g2: Double, g3: Double, g4: Double)

  /** Layer 1: the neighbor mean's refreshed DENSE representation (full
    * 64 dims — layer 2 consumes all of them, unlike the 4-dim display
    * snapshot of q_stream_gnn_embed). */
  val custRepFold: Keyed.Fold[EdgeFeat, Long, GnnState, CustRep] =
    meanFold { (key, g) =>
      val mean = new Array[Double](Dim)
      var i = 0
      while (i < Dim) { mean(i) = g.sums(i) / g.n; i += 1 }
      CustRep(key, Gnn.forward(mean))
    }

  /** Layer 2: replace the stored representation of each updated neighbor
    * customer, then re-aggregate. The fold iterates neighbors in customer-
    * key order so the FP sum order is run-to-run stable (the 6dp rounding
    * absorbs the difference vs the batch aggregation order anyway). */
  val partRepFold: Keyed.Fold[PartMsg, Long, L2State, PartEmbed] =
    Keyed.fold((m: PartMsg) => m.part, L2State(Map.empty)) { (key, st, it) =>
      val reps = it.foldLeft(st.reps)((acc, m) => acc.updated(m.cust, m.rep))
      val sums = new Array[Double](Dim)
      val n = reps.size
      reps.toSeq.sortBy(_._1).foreach { case (_, v) =>
        var i = 0; while (i < Dim) { sums(i) += v(i); i += 1 }
      }
      var i = 0
      while (i < Dim) { sums(i) /= n; i += 1 }
      val g = Gnn.forward(sums)
      (L2State(reps), Iterator.single(PartEmbed(key, n.toLong, g(0), g(1), g(2), g(3))))
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
    * plus the per-part neighbor count). */
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
      var acc = Gnn.weight(r, 0) * vec(0).toDouble
      var j = 1
      val m = math.min(Gnn.Dim, vec.length)
      while (j < m) { acc += Gnn.weight(r, j) * vec(j).toDouble; j += 1 }
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
