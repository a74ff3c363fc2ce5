package graft.engine

import graft.engine.Ckpt.CkptOps
import graft.engine.PowerIter.{Cell, VecLeg}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** GNN forward layers (SURVEY.md §2.11) — the dense-layer update the
  * reference runs with DL4J: `h'_v = ReLU(W · mean_{u∈N(v)} x_u + b)`,
  * GCN eq. 2 (Kipf & Welling 2017) with mean aggregation (GraphSAGE-mean,
  * Hamilton et al. 2017).
  *
  * Weights are the deterministic seeded matrix fixed in FIXTURES.md:
  * `W[i][j] = ((i*31 + j*17) % 7 - 3) / 10.0`, `b[i] = (i%5-2)/10.0`.
  *
  * Execution shape: every message-passing superstep (q_gnn_layer,
  * q_gnn_layer2, q_gnn_layer_k, q_gnn_appnp) is one leg of the iterative
  * kernel's vector-sum mode, `PowerIter.vsum`: an arc offers its
  * from-node's 1e9-scaled Long vector, a node sums and counts its offers
  * exactly, and the leg's update runs the mean and the dense pass.
  * Within the kernel's cell guard the state is held on the driver: with
  * the edge MV beside it every superstep runs there, after one read of
  * the edges, and with only the state a superstep is one narrow job over
  * the edge MV that shuffles nothing; past it, one `reduceByKey` with a
  * map-side combine.
  * Oracle-checked: Oracle.gnn generates the 4×64-term matmul SQL from
  * the same weight/bias formulas (keep them in sync when changing the
  * layer semantics); also golden-tested on unit-basis inputs.
  */
object Gnn {
  val Dim = 64

  def weight(i: Int, j: Int): Double = ((i * 31 + j * 17) % 7 - 3) / 10.0
  def bias(i: Int): Double = (i % 5 - 2) / 10.0

  /** `weight`/`bias` evaluated once: row i of W, and b. The dense passes
    * read these tables with the same values in the same term order, so
    * their outputs are bit-identical to evaluating the formulas inline. */
  private[engine] val W: Array[Array[Double]] = Array.tabulate(Dim, Dim)(weight)
  private val B: Array[Double] = Array.tabulate(Dim)(bias)

  /** Dense ReLU pass over Dim-vectors with the weight rows `w` and bias
    * `b`; term order pinned (j-ascending, bias last) to match the
    * generated oracle SQL's left-associative chain exactly. */
  private def dense(w: Array[Array[Double]], b: Array[Double], mean: Array[Double]): Array[Double] = {
    val out = new Array[Double](Dim)
    var i = 0
    while (i < Dim) {
      val wi = w(i)
      var acc = 0.0
      var j = 0
      while (j < mean.length) { acc += wi(j) * mean(j); j += 1 }
      acc += b(i)
      out(i) = if (acc > 0.0) acc else 0.0
      i += 1
    }
    out
  }

  /** Dense forward pass on one aggregated neighborhood vector. */
  def forward(mean: Array[Double]): Array[Double] = dense(W, B, mean)

  /** Full-width digest of the QUANTIZED-chain forward pass: Σ_{i=1..64}
    * i·q9(h_i) where the chain quantizes every input/superstep boundary
    * to 1e9-scaled BIGINTs, so the digest doubles are BIT-IDENTICAL
    * across engines by construction and the oracle hash certifies the
    * entire 64-dim vector. The displayed dims of q_gnn_layer/layer2 keep
    * the raw f64 mean (absorbed by 6dp rounding, the established twin)
    * — the quantized chain agrees with it to ~1e-9 per mean component.
    * Headroom: |q9(h)| ≲ 1e13 at fixture feature scale, ×64 positions
    * ×64 terms ≈ 1e16 ≪ 2^63. */
  private def digest64(h: Array[Double]): Long = {
    var d = 0L
    var i = 0
    while (i < Dim) { d += (i + 1) * q9(h(i)); i += 1 }
    d
  }

  /** Exact quantized mean from integer sums: sums/n/1e9, the oracle's
    * division order term for term. */
  private def qMean(sums: Array[Long], n: Long): Array[Double] = {
    val m = new Array[Double](Dim)
    var i = 0
    while (i < Dim) { m(i) = sums(i).toDouble / n / 1e9; i += 1 }
    m
  }

  /** The first superstep's state: each embedding's q9 lanes and, with
    * `f64`, its f64 values (the display twin's input). */
  private def embCells(s: SparkSession, dir: String, f64: Boolean): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val q = quant(col("embedding")).as("q")
    if (f64) e.select(col("vec_id"), q, transform(col("embedding"), _.cast("double")).as("f"))
    else e.select(col("vec_id"), q)
  }

  /** One superstep over the co-purchase edges MV: customers aggregate
    * parts (`toCust`) or parts aggregate customers. The first
    * superstep's from-node is a part's embedding, `dst % n_emb`. */
  private def edgeLeg(s: SparkSession, dir: String, toCust: Boolean, first: Boolean)(
      update: (Any, Cell, Long) => Cell): VecLeg = {
    val nEmb = LlmOps.embCount(s, dir)
    val key: Any => Any = if (first) k => k.asInstanceOf[Long] % nEmb else identity
    VecLeg(GraphOps.edges(s, dir), if (toCust) "dst" else "src", if (toCust) "src" else "dst",
      update, GraphOps.vertexCount(s, dir), key)
  }

  /** A hidden layer of the display twin: the q9 chain's next message,
    * and the dense pass over the raw f64 mean. */
  private val hidden: (Any, Cell, Long) => Cell = (_, c, n) =>
    Cell(forward(qMean(c.q, n)).map(q9), forward(c.f.map(_ / n)))

  /** The output layer of the display twin: the q9 chain's digest, and
    * dims 1–4 of the dense pass over the raw f64 mean. */
  private val shown: (Any, Cell, Long) => Cell = (_, c, n) =>
    Cell(Array(digest64(forward(qMean(c.q, n)))), forward(c.f.map(_ / n)).take(4))

  /** The supersteps' output as (key, `out`1..4 rounded 6dp, hdigest). */
  private def outRows(s: SparkSession, dir: String, query: String, f64: Boolean,
      legs: Seq[VecLeg], key: String, out: String): DataFrame =
    PowerIter.vsum(s, query, embCells(s, dir, f64), if (f64) 2 * Dim else Dim, legs,
        GraphOps.iterWidth(s, dir))
      .select(col("vec_id").as(key) +: (1 to 4).map(i => round(col("f")(i - 1), 6).as(s"$out$i"))
        :+ col("q")(0).as("hdigest"): _*)
      .orderBy(key)

  def q_gnn_layer(s: SparkSession, dir: String): DataFrame =
    outRows(s, dir, "q_gnn_layer", f64 = true,
      Seq(edgeLeg(s, dir, toCust = true, first = true)(shown)), "custkey", "h")

  /** 2-layer GNN (GraphSAGE depth-2): layer 1 produces customer
    * representations from part embeddings; layer 2 aggregates those back
    * over the reversed edges into part representations — two vector-sum
    * supersteps, the Flink iteration-edge analog. The display lanes sum
    * f64, the digest lanes q9 Longs. Oracle-checked via Oracle.gnn's
    * generated chained-matmul SQL; invariant-tested too. */
  def q_gnn_layer2(s: SparkSession, dir: String): DataFrame =
    outRows(s, dir, "q_gnn_layer2", f64 = true,
      Seq(edgeLeg(s, dir, toCust = true, first = true)(hidden),
        edgeLeg(s, dir, toCust = false, first = false)(shown)), "part_key", "g")

  /** Depth of the generalized GNN stack and its per-layer seeded
    * parameters: layer l uses W_l[i][j] = ((i·31 + j·17 + l·13) % 7 − 3)/10,
    * b_l[i] = ((i + l) % 5 − 2)/10 — the FIXTURES.md family extended by
    * a layer seed so no two layers share weights (l = 1 differs from
    * the base `weight` used by q_gnn_layer/layer2). */
  val LayerK = 3

  def weightK(l: Int, i: Int, j: Int): Double =
    ((i * 31 + j * 17 + l * 13) % 7 - 3) / 10.0
  def biasK(l: Int, i: Int): Double = ((i + l) % 5 - 2) / 10.0

  /** `weightK`/`biasK` tables of layers 1..LayerK, indexed by l − 1. */
  private val WK = Array.tabulate(LayerK)(l => Array.tabulate(Dim, Dim)(weightK(l + 1, _, _)))
  private val BK = Array.tabulate(LayerK)(l => Array.tabulate(Dim)(biasK(l + 1, _)))

  /** Dense forward pass with the layer-l seeded parameters (l in
    * 1..LayerK). */
  def forwardK(l: Int, mean: Array[Double]): Array[Double] = dense(WK(l - 1), BK(l - 1), mean)

  /** Quantize a vector column to 1e9-scaled BIGINTs inside codegen.
    * Half-away-from-zero via pure IEEE ops — floor(x·1e9 + 0.5) /
    * ceil(x·1e9 − 0.5) — because multiply, add and floor are each
    * correctly rounded and deterministic, so Spark and DuckDB produce
    * BIT-IDENTICAL longs by construction (stronger than the empirical
    * round(x·1e9, 0) device, and far cheaper than Spark's
    * BigDecimal-backed round()). Downstream sums of these longs are
    * exact and order-blind, so a K-layer chain is cross-engine
    * bit-identical at any depth (layer/layer2's display dims get away
    * with a raw f64 mean at depth ≤ 2; at depth 3 the last-ulp tie risk
    * compounds, so every superstep boundary quantizes). */
  private def quant(vec: Column): Column =
    transform(vec, x0 => {
      val y = x0.cast("double") * lit(1e9)
      when(y >= 0, floor(y + lit(0.5))).otherwise(ceil(y - lit(0.5)))
        .cast("bigint")
    })

  /** JVM twin of `quant`'s per-component rule — floor/ceil/multiply/add
    * are the same correctly-rounded IEEE ops here as in codegen and in
    * DuckDB, so all three quantizers are bit-identical by construction. */
  private def q9(x: Double): Long = {
    val y = x * 1e9
    (if (y >= 0) math.floor(y + 0.5) else math.ceil(y - 0.5)).toLong
  }

  /** K-layer GNN stack (GraphSAGE depth-K, K = LayerK = 3): supersteps
    * alternate customer ← parts ← customers ← parts over the bipartite
    * co-purchase graph, each with its own seeded dense layer — the
    * general form of q_gnn_layer (K=1) / q_gnn_layer2 (K=2). Each
    * superstep is one vector-sum leg (exact integer mean + matmul, the
    * next message re-quantized); the last emits dims 1–4 and the
    * full-width digest Σ_i (i+1)·q9(h_i), so the DuckDB oracle hash
    * certifies the entire output vector. Oracle: Oracle.gnn generates
    * the full 3-layer chained-matmul SQL from the same weightK/biasK
    * formulas over the same quantized means. */
  def q_gnn_layer_k(s: SparkSession, dir: String): DataFrame =
    outRows(s, dir, "q_gnn_layer_k", f64 = false, (1 to LayerK).map { l =>
      edgeLeg(s, dir, toCust = l % 2 == 1, first = l == 1) { (_, c, n) =>
        val h = forwardK(l, qMean(c.q, n))
        if (l < LayerK) Cell(h.map(q9)) else Cell(Array(digest64(h)), h.take(4))
      }
    }, "custkey", "k")

  /** Deterministic negative sampling for link-prediction training
    * (GraphSAGE §3.2 / TGN-style objectives): per positive co-purchase
    * edge, k=3 negative part candidates drawn by hashing (src, dst, i)
    * into the dense part-key space — reproducible across engines, runs,
    * and restarts (no RNG state), which is what a resumable 100 TB
    * training job needs. Output is per-customer accounting including
    * false negatives (candidates that are real neighbors — what a
    * rejection sampler re-draws). */
  val NegK = 3

  def q_gnn_neg_sampling(s: SparkSession, dir: String): DataFrame = {
    val e = GraphOps.edges(s, dir)
    val np = Tables.part(s, dir).agg(count(lit(1)).as("np"))
    val negs = e.crossJoin(broadcast(np))
      .select(col("src"), explode(expr(
        s"""transform(sequence(0, ${NegK - 1}), i ->
            cast(conv(substring(md5(cast(
              concat(cast(src as string), ':', cast(dst as string), ':', cast(i as string))
            as binary)), 1, 15), 16, 10) as bigint) % np)""")).as("neg"))
    val falseNeg = negs
      .join(e.select(col("src").as("es"), col("dst").as("ed")),
        col("src") === col("es") && col("neg") === col("ed"), "left_semi")
      .groupBy(col("src")).agg(count(lit(1)).as("fn"))
    e.groupBy(col("src")).agg(count(lit(1)).as("n_pos"))
      .join(falseNeg, Seq("src"), "left_outer")
      .select(col("src").as("custkey"), col("n_pos"),
        (col("n_pos") * NegK).as("n_neg"),
        coalesce(col("fn"), lit(0L)).as("n_false_neg"))
      .orderBy("custkey")
  }

  /** Per-dimension z-score normalization of the embedding table (the
    * feature-standardization pass before training; dims 1–4 surfaced).
    * One aggregation for the 64 moments, then a broadcast of the 1-row
    * stats — the classic two-pass normalizer at any scale. */
  def q_embed_zscore(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val el = (j: Int) => element_at(col("embedding"), j).cast("double")
    val moments = (1 to 4).flatMap(j =>
      Seq(avg(el(j)).as(s"m$j"), stddev_samp(el(j)).as(s"s$j")))
    val stats = emb.agg(moments.head, moments.tail: _*)
    // nullif guard: a constant dimension has s=0; double division would
    // yield Inf/NaN (and diverge from the oracle) — NULL in both engines.
    emb.crossJoin(broadcast(stats))
      .select(col("vec_id") +: (1 to 4).map(j =>
        round((el(j) - col(s"m$j")) / nullif(col(s"s$j"), lit(0d)), 6).as(s"z$j")): _*)
      .orderBy("vec_id")
  }

  /** Embedding-space outlier screen (the curation pass that catches
    * mis-embedded / out-of-domain vectors before they poison a
    * similarity index): distance of every vector to the GLOBAL
    * centroid, top-20 by (distance desc, id asc). The centroid comes
    * from exact, order-blind 1e9-scaled Long sums (`Dsl.rlong`, the
    * oracle's device: a raw f64 mean is partition-order-dependent in the
    * last ulp, which can flip a 6-dp tie at the cutoff); distance² is a
    * FIXED left-assoc 64-term fold so both engines run the identical
    * IEEE sequence. Two typed passes over the corpus, no 64-term column
    * tree to plan — the standard outlier screen at any scale. */
  def q_embed_outliers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
    val (sums, n) = emb.mapPartitions { it =>
      val t = new Array[Long](Dim)
      var c = 0L
      it.foreach { case (_, e) =>
        var j = 0
        while (j < Dim) { t(j) += Dsl.rlong(e(j).toDouble * 1e9); j += 1 }
        c += 1
      }
      Iterator.single((t, c))
    }.collect().foldLeft((new Array[Long](Dim), 0L)) { case ((t, c), (pt, pc)) =>
      (t.indices.map(j => t(j) + pt(j)).toArray, c + pc)
    }
    val m = sums.map(_.toDouble / n.toDouble / 1e9)
    emb.map { case (id, e) =>
      var d2 = 0.0
      var j = 0
      while (j < Dim) { val d = e(j).toDouble - m(j); d2 += d * d; j += 1 }
      (id, d2)
    }.toDF("vec_id", "d2")
      .select(col("vec_id"), round(sqrt(col("d2")), 6).as("centroid_dist"))
      .orderBy(col("centroid_dist").desc, col("vec_id").asc)
      .limit(20)
  }

  /** Int8 scalar-quantization audit (the SQ8 tier every serving index
    * — FAISS SQ8, Milvus, pgvector halfvec pipelines — runs beside PQ:
    * 4 bytes → 1 byte per dim with per-dimension min/max codebooks):
    * per dim j, range_j = max_j − min_j from ONE 128-moment
    * aggregation; code_j = ⌊(x_j − min_j)·255/range_j + 0.5⌋ (the
    * floor(t+0.5) form — identical IEEE arithmetic in both engines,
    * unlike ROUND whose half-tie rule differs); reconstruction
    * x̂_j = min_j + code_j·range_j/255; the audit reports the top-20
    * WORST vectors by reconstruction error √Σ(x_j−x̂_j)² as a fixed
    * left-assoc 64-term fold (the q_embed_outliers device) with
    * (err desc, id asc) tie-break. A constant dimension (range 0)
    * codes to 0 and reconstructs exactly in both engines via the CASE
    * guard. Corpus touched twice, 1-row stats broadcast — the standard
    * quantization-QA pass at any scale. */
  def q_embed_sq8(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val el = (j: Int) => element_at(col("embedding"), j).cast("double")
    val moments = (1 to 64).flatMap(j =>
      Seq(min(el(j)).as(s"mn$j"), max(el(j)).as(s"mx$j")))
    val stats = emb.agg(moments.head, moments.tail: _*)
    def errj(j: Int) = {
      val rg = col(s"mx$j") - col(s"mn$j")
      val code = floor((el(j) - col(s"mn$j")) * lit(255.0) / rg + lit(0.5))
      val recon = col(s"mn$j") + code * rg / lit(255.0)
      val e = when(rg === 0d, lit(0.0)).otherwise(el(j) - recon)
      e * e
    }
    val e2 = (1 to 64).map(errj).reduce(_ + _)
    emb.crossJoin(broadcast(stats))
      .select(col("vec_id"), round(sqrt(e2), 6).as("recon_err"))
      .orderBy(col("recon_err").desc, col("vec_id").asc)
      .limit(20)
  }

  /** GraphSAGE fixed-size neighborhood sampling (Hamilton et al. 2017
    * §3.1: uniform fixed-size neighbor sample per node, here made
    * deterministic): each customer keeps its K=10 neighbors with the
    * smallest md5(src:dst) hash — a reproducible uniform sample, stable
    * across engines and restarts — then aggregates their features
    * (dims 1–4 mean). Bounds per-node aggregation work at any degree
    * skew: the hot node costs K, not deg(v). */
  val SampleK = 10

  def q_gnn_sampled_mean(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("h").asc, col("dst").asc)
    val sampled = GraphOps.edges(s, dir)
      .withColumn("h", expr(
        """cast(conv(substring(md5(cast(concat(cast(src as string), ':', cast(dst as string))
           as binary)), 1, 15), 16, 10) as bigint)"""))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= SampleK)
    val n = Tables.embeddings(s, dir).agg(count(lit(1)).as("n_emb"))
    val feats = sampled.crossJoin(broadcast(n))
      .select(col("src"), (col("dst") % col("n_emb")).as("vkey"))
      .join(broadcast(Tables.embeddings(s, dir)), col("vkey") === col("vec_id"))
    val e = (i: Int) => avg(element_at(col("embedding"), i).cast("double"))
    feats.groupBy(col("src").as("custkey"))
      .agg(count(lit(1)).as("n_sampled"),
        round(e(1), 6).as("d1"), round(e(2), 6).as("d2"),
        round(e(3), 6).as("d3"), round(e(4), 6).as("d4"))
      .orderBy("custkey")
  }

  /** Attention-weighted neighbor aggregation (GAT-lite — Veličković et
    * al. 2018 §2.1 with a fixed global query vector instead of learned
    * per-edge attention): score = ⟨neighbor_emb, query⟩/8 (query =
    * embedding 0), per-customer softmax with max-subtraction
    * stabilization, output = attention-weighted feature mean (dims 1–4).
    * The two windows and the final aggregation all key on the customer,
    * so the whole op is ONE shuffle; the query vector broadcasts. */
  def q_gnn_attention(s: SparkSession, dir: String): DataFrame = {
    val q = Tables.embeddings(s, dir).filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"))
    val wspec = org.apache.spark.sql.expressions.Window.partitionBy(col("src"))
    // softmax numerators as 1e9-scaled BIGINTs, summed exactly (window
    // and final): absorbs the cross-engine exp last-ulp AND the
    // summation order. round(y*1e9, 0) is computed on the same double
    // product in both engines (measured zero-divergence; round(y, 9)'s
    // decimal-vs-float implementations split true near-ties).
    val scored = GraphOps.neighborFeatures(s, dir)
      .crossJoin(broadcast(q))
      .withColumn("score", LlmOps.vecDot(s)(col("embedding"), col("qv")) / 8)
      .withColumn("wexp9",
        Dsl.rlong(exp(col("score") - max(col("score")).over(wspec)) * 1e9))
      .withColumn("w", col("wexp9").cast("double")
        / sum(col("wexp9")).over(wspec).cast("double"))
    // final 6-dp values derive from the exact integer sums
    // (round(sum9/1000, 0)/1e6 — the gcn_norm true-tie device)
    val e = (i: Int) => round(sum(
      round(col("w") * element_at(col("embedding"), i).cast("double") * 1e9, 0)
        .cast("bigint")).cast("double") / 1000, 0) / 1e6
    // full-width digest (r16): attention's per-dim accumulators are
    // ALREADY exact 1e9-scaled integer sums, so the 64-dim digest is a
    // position-weighted sum of those integers — deterministic by the
    // same argument as a1..a4, and by linearity of exact-integer sums
    // it folds into ONE aggregate of a per-row 64-term lambda (the
    // oracle keeps the Σ i·SUM(...) form; the summands are identical
    // integers, so any summation order matches)
    val dig = sum(expr(
      """aggregate(transform(embedding, (x, i) ->
        |  (i + 1) * cast(round(w * cast(x as double) * 1e9, 0) as bigint)),
        |  cast(0 as bigint), (a, y) -> a + y)""".stripMargin))
    scored.groupBy(col("src").as("custkey"))
      .agg(e(1).as("a1"), e(2).as("a2"), e(3).as("a3"), e(4).as("a4"),
        dig.as("hdigest"))
      .orderBy("custkey")
  }

  /** GCN symmetric-normalized aggregation (Kipf & Welling 2017 eq. 2,
    * the D^{-1/2} A D^{-1/2} X message pass that precedes the dense
    * layer): per customer, Σ_{u∈N(v)} x_u / √(deg(u)·deg(v)) over the
    * bipartite co-purchase graph, dims 1–4. Differs from the GraphSAGE
    * mean (q_graph_neighbor_mean) exactly by the degree normalization —
    * hub neighbors are downweighted. Both degree tables broadcast; one
    * shuffle total (the per-customer sum). */
  def q_gnn_gcn_norm(s: SparkSession, dir: String): DataFrame = {
    val e = GraphOps.edges(s, dir)
    val dc = e.groupBy(col("src").as("dc_key")).agg(count(lit(1)).as("dc"))
    val dp = e.groupBy(col("dst").as("dp_key")).agg(count(lit(1)).as("dp"))
    val n = Tables.embeddings(s, dir).agg(count(lit(1)).as("n_emb"))
    val f = e.crossJoin(broadcast(n))
      .join(broadcast(dc), col("src") === col("dc_key"))
      .join(broadcast(dp), col("dst") === col("dp_key"))
      .select(col("src"), (col("dst") % col("n_emb")).as("vkey"),
        sqrt((col("dc") * col("dp")).cast("double")).as("nrm"))
      .join(broadcast(Tables.embeddings(s, dir)), col("vkey") === col("vec_id"))
    // normalized messages as 1e9-scaled BIGINTs, summed exactly (order-
    // blind). The scaled form, not round-9: round(y, 9)'s decimal-vs-
    // float engine implementations split true near-ties (~1e-5 of
    // terms), and with 2.2M terms at sf0.1 exactly one did. The final
    // 6-dp rounding derives from the exact integer sum the same way —
    // round(sum9/1000, 0)/1e6 — because a group landed on a TRUE 6-dp
    // tie (sum9 = -15925500 at sf0.1) where decimal-vs-float round(x,6)
    // split; /1000 of an exact-integer double is correctly rounded and
    // an exact tie divides to a representable .5 in both engines.
    val d = (i: Int) =>
      (round(sum(round(element_at(col("embedding"), i).cast("double") / col("nrm") * 1e9, 0)
        .cast("bigint")).cast("double") / 1000, 0) / 1e6).as(s"d$i")
    f.groupBy(col("src").as("custkey"))
      .agg(d(1), d(2), d(3), d(4))
      .orderBy("custkey")
  }

  /** APPNP propagation (Gasteiger/Klicpera et al., ICLR 2019 "Predict
    * then Propagate" — personalized-PageRank-weighted feature diffusion:
    * z^k = (1−α)·Â·z^{k−1} + α·x decouples the prediction features from
    * their propagation) over the thresholded part–part projection, with
    * row-stochastic Â (neighbor mean), α = 1/4 and K = 3 power steps —
    * the finite-K truncation of pushing each node's feature along
    * personalized-PageRank weights.
    *
    * Determinism: features enter as the GIN 1e6-scaled exact BIGINTs;
    * each step's neighbor SUM is exact integer (order-blind), and the
    * blend t = 0.75·(nsum/deg) + 0.25·x6 is the identical IEEE sequence
    * over exact-integer inputs in both engines (α dyadic → both products
    * correctly rounded), re-pinned to integer state by Spark's HALF_UP
    * round(t, 0) (its JVM BigDecimal twin here) before the next step —
    * iterations can never compound float divergence. Execution: three
    * vector-sum legs over the projection MV; a node's offer count is its
    * degree, and its own features are looked up on the node key. */
  def q_gnn_appnp(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ue = GraphOps.undProj(s, dir, GraphOps.TriangleMinCooccur)
    val n = Tables.embeddings(s, dir).agg(count(lit(1)).as("c"))
    val xq = (1 to 4).map(j =>
      round(element_at(col("embedding"), j).cast("double") * 1000000, 0).cast("bigint"))
    val x = ue.select(col("a").as("node")).distinct()
      .crossJoin(broadcast(n))
      .select(col("node"), (col("node") % col("c")).as("vkey"))
      .join(broadcast(Tables.embeddings(s, dir)), col("vkey") === col("vec_id"))
      .select(col("node"), array(xq: _*))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    val blend = (node: Any, c: Cell, deg: Long) => x.get(node.asInstanceOf[Long]).map(xk =>
      Cell(Array.tabulate(4) { j =>
        val t = 0.75 * (c.q(j).toDouble / deg.toDouble) + 0.25 * xk(j).toDouble
        BigDecimal(t).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      })).orNull
    PowerIter.vsum(s, "q_gnn_appnp", x.toSeq.toDF("node", "q"), 4,
        Seq.fill(3)(VecLeg(ue, "b", "a", blend, x.size)), GraphOps.iterWidth(s, dir))
      .select(col("node").as("part_key") +:
        (1 to 4).map(j => (col("q")(j - 1) / lit(1000000)).as(s"z$j")): _*)
      .orderBy("part_key")
  }

  /** TGN-style time-decayed neighborhood aggregation (Rossi et al. 2020
    * §4.2 temporal embedding with an exponential time kernel; the
    * streaming-GNN recency bias the reference's "streaming" half implies,
    * README.md:1-2): per customer, recency-weighted mean of purchased
    * part embeddings over the TEMPORAL multigraph (every purchase event
    * is an edge — no distinct), weight = exp(-0.01 · age_days) of the
    * order, age measured back from the newest order in the corpus.
    *
    * Cross-engine determinism: weights round to 9 decimals BEFORE
    * aggregation — `round(exp(-0.01·k), 9)` was probed bit-identical
    * Spark vs DuckDB for every integer k in [0, 20000), while raw exp
    * differs in the last ulp on ~9% of that domain. Ages beyond ~2070
    * days round to exactly 0 in both engines and are filtered (w > 0),
    * so the surviving edge sets match exactly.
    *
    * Scale shape: one wide join lineitem⋈orders (the fact-fact shuffle),
    * max-date and embedding tables broadcast, then a single per-customer
    * aggregation — the same two-exchange plan at any corpus size. */
  def q_gnn_temporal_decay(s: SparkSession, dir: String): DataFrame = {
    val n = Tables.embeddings(s, dir).agg(count(lit(1)).as("n_emb"))
    val mx = Tables.orders(s, dir).agg(max(col("o_orderdate")).as("max_d"))
    val ed = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .crossJoin(broadcast(mx)).crossJoin(broadcast(n))
      .select(col("o_custkey").as("c"),
        (col("l_partkey") % col("n_emb")).as("vkey"),
        round(exp(lit(-0.01) * datediff(col("max_d"), col("o_orderdate"))), 9).as("w"))
      .filter(col("w") > 0)
    // weighted products and weights as 1e9-scaled BIGINTs, summed
    // exactly (order-blind); the 1e9 scale cancels in the ratio, so the
    // division runs on the two exact integer sums directly (mirrored
    // verbatim in the oracle)
    val d = (i: Int) =>
      round(sum(round(col("w") * element_at(col("embedding"), i).cast("double") * 1e9, 0)
          .cast("bigint")).cast("double")
        / sum(Dsl.rlong(col("w") * 1e9)).cast("double"), 6)
        .as(s"d$i")
    ed.join(broadcast(Tables.embeddings(s, dir)), col("vkey") === col("vec_id"))
      .groupBy(col("c").as("custkey"))
      .agg(count(lit(1)).as("n_recent"), d(1), d(2), d(3), d(4))
      .orderBy("custkey")
  }

  /** Learning rate for the SGD step (written as 1/10 in both engines so
    * the constant is the identical double). */
  val SgdEta = 0.1

  /** Initial link-prediction weights: row 0 of the FIXTURES.md seeded
    * weight matrix — (-0.3, 0.0, 0.3, -0.1). */
  def sgdW(j: Int): Double = weight(0, j - 1)

  /** One deterministic full-batch logistic-loss gradient step on the
    * link-prediction objective (the "DL4J = trainable" half of the
    * reference, README.md:2; GraphSAGE §3.2 unsupervised loss with
    * negative sampling): examples are the co-purchase edges (y=1) plus
    * q_gnn_neg_sampling's md5-seeded candidates with true edges rejected
    * (y=0); features φ_j = m_c[j]·x_p[j] (customer neighborhood mean ×
    * part embedding, dims 1–4); score s = Σ w_j·φ_j, σ = logistic, and
    * the emitted row is the updated weights w_j − η·Σ(σ(s)−y)·φ_j / N
    * plus the pre-step mean loss.
    *
    * Cross-engine determinism (see PERF.md determinism recipes): m_c
    * rounds to 6dp after the AVG (pins the only order-dependent input);
    * s is a fixed-order 4-term fold; σ and the log-loss round to 9dp
    * (absorbs libm exp/ln last-ulp differences — the temporal-decay
    * device); and the gradient/loss sums are 1e9-scaled BIGINT sums —
    * exact and order-blind like the former DECIMAL(38,9) form but
    * codegen-fast, and both engines round the identical IEEE product
    * x·1e9 (zero near-tie divergence). The weight update itself is
    * scalar double math in a pinned order.
    *
    * Scale shape: two broadcast dims (counts + embeddings), the mean is
    * one shuffle on the customer key, negatives are generated inline and
    * rejected with one anti-join, and the gradient is a map-side-partial
    * decimal aggregation to a single row — linear in |E| at any scale,
    * exactly one extra shuffle over the forward pass. */
  /** Shared link-prediction training-example builder (the SGD step, the
    * multi-step loops in TrainOps, and the AUC evaluation all consume
    * it): (y, f1..f4) rows where positives are the co-purchase edges,
    * negatives the md5-seeded rejected candidates, and φ_j = m_c[j]·
    * x_p[j] (round-6 customer neighborhood mean × part embedding).
    * Materialized ONCE per (session, fixture) — the training-set MV a
    * real epoch loop reads per step; a deployment persists exactly this
    * table before training. Memo + localCheckpoint share GraphOps'
    * cache/eviction machinery. */
  def linkPredFeatures(s: SparkSession, dir: String): DataFrame =
    Mv.memo(s, s"linkPredFeat|${GraphOps.gKey(s, dir)}")(bs => buildLinkPredFeatures(bs, dir).ckpt())

  private def buildLinkPredFeatures(s: SparkSession, dir: String): DataFrame = {
    val e = GraphOps.edges(s, dir)
    val ne = Tables.embeddings(s, dir).agg(count(lit(1)).as("c"))
    val np = Tables.part(s, dir).agg(count(lit(1)).as("np"))
    val el = (j: Int) => element_at(col("embedding"), j).cast("double")
    // per-customer neighborhood mean, dims 1-4, rounded 6dp (determinism pin)
    val mAggs = (1 to 4).map(j => round(avg(el(j)), 6).as(s"m$j"))
    val m = e.crossJoin(broadcast(ne))
      .select(col("src"), (col("dst") % col("c")).as("vkey"))
      .join(broadcast(Tables.embeddings(s, dir)), col("vkey") === col("vec_id"))
      .groupBy(col("src").as("cust"))
      .agg(mAggs.head, mAggs.tail: _*)
    val pos = e.select(col("src"), col("dst").as("p"), lit(1.0).as("y"))
    val negRaw = e.crossJoin(broadcast(np))
      .select(col("src"), explode(expr(
        s"""transform(sequence(0, ${NegK - 1}), i ->
            cast(conv(substring(md5(cast(
              concat(cast(src as string), ':', cast(dst as string), ':', cast(i as string))
            as binary)), 1, 15), 16, 10) as bigint) % np)""")).as("p"))
    // rejection step: candidates that are true neighbors are dropped
    val neg = negRaw.join(e.select(col("src").as("es"), col("dst").as("ed")),
        col("src") === col("es") && col("p") === col("ed"), "left_anti")
      .select(col("src"), col("p"), lit(0.0).as("y"))
    pos.unionByName(neg).crossJoin(broadcast(ne))
      .select(col("src"), col("p"), col("y"), (col("p") % col("c")).as("vkey"))
      .join(broadcast(Tables.embeddings(s, dir)), col("vkey") === col("vec_id"))
      .join(m, col("src") === col("cust"))
      // (src, p) ride along since round 14: the mini-batch trainer keys
      // its md5-deterministic batch split on the example identity
      .select(Seq(col("src"), col("p"), col("y")) ++
        (1 to 4).map(j => (col(s"m$j") * el(j)).as(s"f$j")): _*)
  }

  /** Fixed-order 4-term score fold Σ w_j·φ_j (identical IEEE op sequence
    * in the oracle — left-associated, j ascending). */
  def scoreFold(w: Int => Double): org.apache.spark.sql.Column =
    (2 to 4).foldLeft(lit(w(1)) * col("f1"))(
      (acc, j) => acc + lit(w(j)) * col(s"f$j"))

  def q_gnn_sgd_step(s: SparkSession, dir: String): DataFrame = {
    val feat = linkPredFeatures(s, dir)
    // fixed-order 4-term score fold (identical IEEE op sequence in the oracle)
    val sExpr = scoreFold(sgdW)
    val sig = lit(1.0) / (lit(1.0) + exp(-sExpr))
    // 1e9-scaled BIGINT sums (the TrainOps.gradEval device — exact,
    // order-blind, codegen-fast; both engines round the same IEEE product)
    val scored = feat
      .withColumn("resid", round(sig - col("y"), 9))
      .withColumn("lossr9", Dsl.rlong((-(col("y") * log(sig)
        + (lit(1.0) - col("y")) * log(lit(1.0) - sig))) * lit(1.0e9)))
    val gradAggs = (1 to 4).map(j =>
      sum(Dsl.rlong(col("resid") * col(s"f$j") * lit(1.0e9))).as(s"g$j"))
    val aggs = Seq(
      sum(when(col("y") === 1.0, 1L).otherwise(0L)).as("n_pos"),
      sum(when(col("y") === 0.0, 1L).otherwise(0L)).as("n_neg"),
      count(lit(1)).as("n_ex"),
      sum(col("lossr9")).as("losssum")) ++ gradAggs
    scored.agg(aggs.head, aggs.tail: _*)
      .select(col("n_pos") +: col("n_neg") +:
        round(col("losssum").cast("double") / lit(1.0e9) / col("n_ex"), 6).as("mean_loss") +:
        (1 to 4).map(j =>
          round(lit(sgdW(j)) - lit(SgdEta)
            * (col(s"g$j").cast("double") / lit(1.0e9) / col("n_ex")), 6)
            .as(s"w${j}_new")): _*)
  }

  /** Walk length for the deterministic random-walk sampler. */
  val WalkSteps = 4

  /** DeepWalk/node2vec-style walk sampling (Perozzi et al. 2014 §4.1,
    * p=q=1), made deterministic: from EVERY node of the thresholded
    * part–part projection, a 4-step walk where step i out of node u
    * follows the neighbor b minimizing md5("walk:seed:i:u:b") — a
    * reproducible stand-in for a uniform draw, stable across engines,
    * partitionings, and re-runs (the property a training corpus needs:
    * re-generating the walk corpus yields byte-identical shards).
    *
    * Each step is one equi-join frontier⋈edges + a struct-MIN argmin —
    * the Pregel superstep as relational algebra, O(walk_len) rounds.
    * The projection is built once and checkpointed; per-walk state that
    * rides along is just the path columns. n_distinct counts revisits
    * (walks that double back — the signal node2vec's p parameter tunes). */
  def q_gnn_rand_walk(s: SparkSession, dir: String): DataFrame = {
    val path = (1 to WalkSteps).map(j => col(s"s$j"))
    walkPaths(s, dir).select(col("seed") +: path: _*)
      .withColumn("n_distinct",
        size(array_distinct(array(col("seed") +: path: _*))).cast("bigint"))
      .orderBy("seed")
  }

  /** The deterministic walk table (seed, s1..s4) — shared by the walk
    * query and the skip-gram context extraction, materialized ONCE per
    * (session, fixture): the iterative walk build is the expensive
    * part and both consumers read the identical table. */
  private[graft] def walkPaths(s: SparkSession, dir: String): DataFrame =
    Mv.memo(s, s"walkPaths|${GraphOps.gKey(s, dir)}") { bs => buildWalkPaths(bs, dir).ckpt() }

  private def buildWalkPaths(s: SparkSession, dir: String): DataFrame = {
    val ue = GraphOps.undProj(s, dir, GraphOps.TriangleMinCooccur)
    var walk = ue.select(col("a").as("seed")).distinct()
      .select(col("seed"), col("seed").as("cur"))
    for (i <- 1 to WalkSteps) {
      // s$j = node reached after step j; cur duplicates the latest one.
      val path = (1 until i).map(j => col(s"s$j"))
      // checkpointed ue carries no AQE stats → hint the broadcast (the
      // thresholded projection is dimension-sized; at a scale where it
      // is not, drop the hint and the SMJ co-partitions on cur/a)
      walk = walk.join(broadcast(ue), col("cur") === col("a"))
        .withColumn("h", Dsl.md5Hash60(concat_ws(":",
          lit("walk"), col("seed"), lit(i), col("cur"), col("b"))))
        .groupBy(col("seed") +: path :+ col("cur"): _*)
        .agg(min(struct(col("h"), col("b"))).as("m"))
        .select(col("seed") +: path :+ col("m.b").as(s"s$i"): _*)
        .withColumn("cur", col(s"s$i"))
    }
    walk
  }

  /** Skip-gram context window (hops either side of the center). */
  val CtxWindow = 2

  /** Skip-gram (center, context) pair extraction from the walk corpus
    * (word2vec over walks = DeepWalk's training-pair stage, Perozzi
    * 2014 §4.2): every walk position pairs with neighbors within ±2
    * hops; global pair frequencies feed the embedding trainer. Exact
    * integer counts with full (cnt, center, context) tie-break — the
    * top-20 co-visitation pairs. One generator + one keyed count. */
  def q_gnn_walk_context(s: SparkSession, dir: String): DataFrame = {
    val arr = array(col("seed") +: (1 to WalkSteps).map(j => col(s"s$j")): _*)
    walkPaths(s, dir).select(arr.as("a"))
      .select(col("a"), posexplode(col("a")).as(Seq("i", "center")))
      .select(col("i"), col("center"), posexplode(col("a")).as(Seq("j", "context")))
      .filter(col("i") =!= col("j") &&
        abs(col("i") - col("j")) <= CtxWindow)
      .groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("center").asc, col("context").asc)
      .limit(20)
  }

  /** node2vec walk length (shared with the oracle's unrolled CTEs). */
  val N2vSteps = 4

  /** node2vec-style second-order biased walks (Grover & Leskovec 2016)
    * on the thresholded part–part projection — the q_gnn_rand_walk
    * machinery with the return/in-out bias made deterministic: at step
    * i ≥ 2 a candidate's hash is integer-divided by its bias class
    * (return → 1, common neighbor of prev → 4, farther → 2 — the scaled
    * p=4, q=2 weights; bigger divisor = favored) and the walk takes the
    * argmin (score, id). Step 1 has no prev and is the uniform hash
    * argmin. The in-out test is one broadcast self-join of the edge
    * list per step (is the candidate adjacent to prev?) — at a scale
    * where the projection outgrows broadcast, both joins co-partition
    * on their node key. All-integer scores: no float, no tie class. */
  def q_gnn_node2vec(s: SparkSession, dir: String): DataFrame = {
    val ue = GraphOps.undProj(s, dir, GraphOps.TriangleMinCooccur)
    val adj = ue.select(col("a").as("pa"), col("b").as("pb"))
    var walk = ue.select(col("a").as("seed")).distinct()
      .select(col("seed"), col("seed").as("cur"), col("seed").as("prev"))
    for (i <- 1 to N2vSteps) {
      val path = (1 until i).map(j => col(s"s$j"))
      val step0 = walk.join(broadcast(ue), col("cur") === col("a"))
      val step =
        if (i == 1) step0.withColumn("alpha", lit(1L))
        else step0
          .join(broadcast(adj),
            col("prev") === col("pa") && col("b") === col("pb"), "left_outer")
          .withColumn("alpha",
            when(col("b") === col("prev"), lit(1L))
              .when(col("pb").isNotNull, lit(4L)).otherwise(lit(2L)))
      walk = step
        .withColumn("h", Dsl.md5Hash60(concat_ws(":",
          lit("n2v"), col("seed"), lit(i), col("cur"), col("b"))))
        .withColumn("sc", expr("h div alpha"))
        .groupBy(col("seed") +: path :+ col("cur") :+ col("prev"): _*)
        .agg(min(struct(col("sc"), col("b"))).as("m"))
        .select(col("seed") +: path :+ col("cur").as("prev")
          :+ col("m.b").as(s"s$i"): _*)
        .withColumn("cur", col(s"s$i"))
    }
    val path = (1 to N2vSteps).map(j => col(s"s$j"))
    walk.select(col("seed") +: path: _*)
      .withColumn("n_distinct",
        size(array_distinct(array(col("seed") +: path: _*))).cast("bigint"))
      .orderBy("seed")
  }

  /** Label homophily of the part–part projection — THE diagnostic for
    * whether neighborhood aggregation can work at all (GNNs assume
    * neighbors share labels): observed same-label edge share vs the
    * random-mixing expectation Σ share². Both are single divisions of
    * exact integer counts (n_same/n_edges and Σcnt²/n²) — no float
    * anywhere before the two final divisions. One label join per
    * endpoint + two tiny aggregations. The node-label table is
    * node-count-bounded (≤ |V| rows), so it is materialized once
    * (localCheckpoint) and BROADCAST into both endpoint joins — one
    * scan of the pair table, no sort-merge exchange, instead of the
    * label derivation re-executing per join leg. */
  def q_gnn_label_smoothness(s: SparkSession, dir: String): DataFrame = {
    val pp = GraphOps.partPairs(s, dir, GraphOps.CcMinCooccur)
      .select(col("a"), col("b"))
    val nEmb = Tables.embeddings(s, dir).agg(count(lit(1)).as("n_emb"))
    val lab = Tables.embeddings(s, dir).select(col("vec_id"), col("label"))
    val nodes = pp.select(col("a").as("node"))
      .union(pp.select(col("b").as("node"))).distinct()
    val nlab = nodes.crossJoin(broadcast(nEmb))
      .select(col("node"), (col("node") % col("n_emb")).as("vkey"))
      .join(broadcast(lab), col("vkey") === col("vec_id"))
      .select(col("node"), col("label"))
      .ckpt()
    val edges = pp
      .join(broadcast(nlab.select(col("node").as("na"), col("label").as("la"))), col("a") === col("na"))
      .join(broadcast(nlab.select(col("node").as("nb"), col("label").as("lb"))), col("b") === col("nb"))
      .agg(count(lit(1)).as("n_edges"),
        sum(when(col("la") === col("lb"), 1L).otherwise(0L)).as("n_same"))
    val shares = nlab.groupBy(col("label")).agg(count(lit(1)).as("c"))
      .agg(sum(col("c") * col("c")).as("sc2"), sum(col("c")).as("nn"))
    edges.crossJoin(broadcast(shares))
      .select(col("n_edges"), col("n_same"),
        (col("n_same").cast("double") / col("n_edges").cast("double"))
          .as("homophily"),
        (col("sc2").cast("double") / (col("nn") * col("nn")).cast("double"))
          .as("expected_homophily"))
  }

  /** DropEdge keep rate in tenths (8 = keep 80 % of edges). */
  val DropEdgeKeepTenths = 8

  /** DropEdge regularized aggregation (Rong et al., ICLR 2020 — drop
    * EDGES, not features, before the message pass; the standard
    * oversmoothing/overfitting regularizer for deep GNNs): each
    * co-purchase edge keeps with probability 0.8 via a SEEDED md5
    * decision on (src, dst) — deterministic across partitionings, task
    * retries, and restarts (the q_gnn_dropout_forward device, applied
    * to the graph instead of the activation) — then the GraphSAGE mean
    * runs over the surviving edges. Per customer: full degree, kept
    * degree, and the 4-dim mean over kept neighbors (float-valued
    * terms sum exactly in double far below 2^29 terms, the
    * q_graph_neighbor_mean argument). Customers whose edges all drop
    * exit the batch — exactly DropEdge's semantics. One shuffle. */
  def q_gnn_edge_dropout(s: SparkSession, dir: String): DataFrame = {
    val e = GraphOps.edges(s, dir)
    val n = Tables.embeddings(s, dir).agg(count(lit(1)).as("n_emb"))
    val degF = e.groupBy(col("src").as("dfk")).agg(count(lit(1)).as("deg_full"))
    val kept = e.filter(pmod(
      Dsl.md5Hash60(concat_ws(":", lit("dropedge"), col("src"), col("dst"))),
      lit(10L)) < DropEdgeKeepTenths)
    val feat = kept.crossJoin(broadcast(n))
      .select(col("src"), (col("dst") % col("n_emb")).as("vkey"))
      .join(broadcast(Tables.embeddings(s, dir)), col("vkey") === col("vec_id"))
    val eAvg = (i: Int) => avg(element_at(col("embedding"), i).cast("double"))
    feat.groupBy(col("src"))
      .agg(count(lit(1)).as("deg_kept"),
        round(eAvg(1), 6).as("d1"), round(eAvg(2), 6).as("d2"),
        round(eAvg(3), 6).as("d3"), round(eAvg(4), 6).as("d4"))
      .join(broadcast(degF), col("src") === col("dfk"))
      .select(col("src").as("custkey"), col("deg_full"), col("deg_kept"),
        col("d1"), col("d2"), col("d3"), col("d4"))
      .orderBy("custkey")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_gnn_edge_dropout" -> q_gnn_edge_dropout _,
    "q_gnn_walk_context" -> q_gnn_walk_context _,
    "q_gnn_label_smoothness" -> q_gnn_label_smoothness _,
    "q_gnn_node2vec" -> q_gnn_node2vec _,
    "q_gnn_rand_walk" -> q_gnn_rand_walk _,
    "q_gnn_temporal_decay" -> q_gnn_temporal_decay _,
    "q_gnn_gcn_norm" -> q_gnn_gcn_norm _,
    "q_gnn_appnp" -> q_gnn_appnp _,
    "q_gnn_layer" -> q_gnn_layer _,
    "q_gnn_sampled_mean" -> q_gnn_sampled_mean _,
    "q_gnn_attention" -> q_gnn_attention _,
    "q_gnn_layer2" -> q_gnn_layer2 _,
    "q_gnn_layer_k" -> q_gnn_layer_k _,
    "q_gnn_neg_sampling" -> q_gnn_neg_sampling _,
    "q_gnn_sgd_step" -> q_gnn_sgd_step _,
    "q_embed_zscore" -> q_embed_zscore _,
    "q_embed_outliers" -> q_embed_outliers _,
    "q_embed_sq8" -> q_embed_sq8 _
  )
}
