package graft.engine

import graft.engine.Ckpt.CkptOps

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational k-means (Lloyd 1982) over the embedding table — the
  * clustering step corpus curation uses for cluster-balanced sampling
  * (SemDeDup's cell structure, IVF codebook training). Expressed entirely
  * as joins + aggregations so it scales as Spark scales: the K×64
  * centroid table is broadcast (bytes), the only shuffle per iteration is
  * the per-cluster mean — partial aggregation means executors ship K×64
  * partial sums, never raw vectors.
  *
  * Cross-engine determinism (the q_llm_ann_pq recipe): distances are
  * fixed-order left-associative double folds (identical IEEE op sequence
  * in both engines); assignment is a lexicographic struct-MIN argmin with
  * cluster-id tie-break; recomputed centroid dims are round-6 means (the
  * q_udaf_vec_mean precedent — rounding sits far above double-sum
  * reassociation noise); inertia is an order-blind DECIMAL sum of round-9
  * per-point distances.
  */
object ClusterOps {

  val KmeansK = 8
  val KmeansIters = 2
  val EmbDims = 64

  private def el(j: Int) = element_at(col("embedding"), j).cast("double")

  /** Fixed-order L2²: ((x1-c1)²+ (x2-c2)²)+ … — left-assoc, matching the
    * generated oracle chain term for term. */
  private def d2Expr = (1 to EmbDims)
    .map(j => (el(j) - col(s"c$j")) * (el(j) - col(s"c$j")))
    .reduceLeft(_ + _)

  /** Argmin assignment of every vector to its nearest centroid. */
  /** Final Lloyd assignment (vec_id, cl, d2), memoized per (session,
    * fixture) — consumed by q_llm_kmeans AND q_llm_cluster_purity so
    * the quality report can never drift from the clustering it scores
    * (the langid/lang_confusion sharing device). */
  private[graft] def kmeansAssign(s: SparkSession, dir: String): DataFrame =
    Mv.memo(s, s"kmeansAssign|${Mv.tablesKey(s, dir, Seq("embeddings"))}") { bs =>
      val emb = Tables.embeddings(bs, dir)
      var cents = emb.filter(col("vec_id") < KmeansK)
        .select(col("vec_id").as("cl") +:
          (1 to EmbDims).map(j => el(j).as(s"c$j")): _*)
      for (_ <- 1 to KmeansIters) {
        val a = assign(emb, cents)
        val means = (1 to EmbDims).map(j => round(avg(el(j)), 6).as(s"c$j"))
        cents = a.join(emb, "vec_id")
          .groupBy(col("cl"))
          .agg(means.head, means.tail: _*)
          .ckpt("kmeans_assign")
      }
      assign(emb, cents).ckpt("kmeans_assign")
    }

  private def assign(emb: DataFrame, cents: DataFrame): DataFrame =
    emb.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("cl"), d2Expr.as("d2"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("cl"))).as("m"))
      .select(col("vec_id"), col("m.cl").as("cl"), col("m.d2").as("d2"))

  /** 2 Lloyd iterations from deterministic seeds (vectors 0..7), then a
    * final assignment: per-cluster size + exact-decimal inertia. */
  def q_llm_kmeans(s: SparkSession, dir: String): DataFrame = {
    // the Lloyd loop (with the K×64 centroid checkpoints that keep the
    // lazy plan flat) lives in the shared memoized kmeansAssign MV
    kmeansAssign(s, dir)
      .groupBy(col("cl").as("cluster"))
      .agg(count(lit(1)).as("n_members"),
        // round the EXACT decimal sum before the double cast: both
        // engines round decimals exactly, whereas ROUND-4 of the cast
        // double splits a true 4-dp tie (the gcn_norm tie class)
        round(sum(round(col("d2"), 9).cast("decimal(24,9)")), 4).cast("double")
          .as("inertia"))
      .orderBy("cluster")
  }

  // ── relational PCA ───────────────────────────────────────────────────

  /** Leading-block dims and power-iteration count for q_embed_pca. */
  val PcaDims = 8
  val PcaIters = 6

  /** Relational PCA (leading principal component of the dims-1..8
    * covariance block): ONE moment aggregation over the corpus — Σx_j
    * and Σx_jx_k as exact order-blind DECIMAL sums of round-9 inputs
    * (the q_agg_stats recipe) — then the entire power iteration runs as
    * scalar expressions over that single broadcastable row: C·v matvecs,
    * L∞ normalization (HITS-style, deterministic with the fixed e₁
    * start), Rayleigh-quotient eigenvalue. The corpus is touched ONCE;
    * at 100 TB the moment agg is the only distributed stage (52 partial
    * sums per partition), which is exactly how a production whitening /
    * embedding-compression pass computes its covariance. */
  def q_embed_pca(s: SparkSession, dir: String): DataFrame = {
    val D = PcaDims
    def el(j: Int) = element_at(col("embedding"), j).cast("double")
    def dsum(c: org.apache.spark.sql.Column) =
      sum(round(c, 9).cast("decimal(24,9)")).cast("double")
    val moments =
      (1 to D).map(j => dsum(el(j)).as(s"sx_$j")) ++
        (for (j <- 1 to D; k <- j to D) yield dsum(el(j) * el(k)).as(s"sxy_${j}_$k")) :+
        count(lit(1)).cast("double").as("n")
    var df = Tables.embeddings(s, dir).agg(moments.head, moments.tail: _*)
    // covariance block from the exact sums (fixed IEEE op order)
    val covCols = for (j <- 1 to D; k <- 1 to D) yield {
      val (a, b) = (math.min(j, k), math.max(j, k))
      ((col(s"sxy_${a}_$b") - col(s"sx_$j") * col(s"sx_$k") / col("n")) / (col("n") - 1))
        .as(s"c_${j}_$k")
    }
    df = df.select(covCols :+ col("n"): _*)
    // v0 = e1; each iteration projects the previous columns so expression
    // trees stay attribute-shallow (no exponential blowup)
    df = df.select(df.columns.map(col) ++
      (1 to D).map(j => lit(if (j == 1) 1.0 else 0.0).as(s"v_$j")): _*)
    for (_ <- 1 to PcaIters) {
      val w = (1 to D).map(j =>
        (1 to D).map(k => col(s"c_${j}_$k") * col(s"v_$k")).reduceLeft(_ + _).as(s"w_$j"))
      df = df.select(df.columns.map(col) ++ w: _*)
      val nrm = greatest((1 to D).map(j => abs(col(s"w_$j"))): _*)
      df = df.select(df.columns.filterNot(_.startsWith("v_")).map(col) ++
        (1 to D).map(j => (col(s"w_$j") / nrm).as(s"v_$j")): _*)
      df = df.select(df.columns.filterNot(_.startsWith("w_")).map(col): _*)
    }
    // Rayleigh quotient λ = (vᵀCv)/(vᵀv) on the converged direction
    val cv = (1 to D).map(j =>
      (1 to D).map(k => col(s"c_${j}_$k") * col(s"v_$k")).reduceLeft(_ + _).as(s"cv_$j"))
    df = df.select(df.columns.map(col) ++ cv: _*)
    val num = (1 to D).map(j => col(s"cv_$j") * col(s"v_$j")).reduceLeft(_ + _)
    val den = (1 to D).map(j => col(s"v_$j") * col(s"v_$j")).reduceLeft(_ + _)
    df.select(round(num / den, 6).as("eigenvalue") +:
      (1 to D).map(j => round(col(s"v_$j"), 6).as(s"l$j")): _*)
  }

  /** Dims whitened (the surfaced 1–4 convention). */
  val WhitenDims = 4

  /** ZCA-style decorrelation via Cholesky (the whitening pass an
    * embedding-compression / feature-standardization pipeline runs
    * before training): z = L⁻¹(x − μ) where C = LLᵀ over dims 1–4 —
    * after which the sample covariance of z is the identity (spec-
    * verified). The 4×4 Cholesky and the per-vector forward substitution
    * are UNROLLED into fixed-order scalar expressions over the exact
    * decimal moment sums (the q_embed_pca moment machinery), so every
    * double op is identical cross-engine and the output needs NO
    * rounding. Corpus touched once (the moment agg — 15 partial sums);
    * the 1-row Cholesky broadcast onto the scan. */
  def q_embed_whiten(s: SparkSession, dir: String): DataFrame = {
    val D = WhitenDims
    def el(j: Int) = element_at(col("embedding"), j).cast("double")
    def dsum(c: org.apache.spark.sql.Column) =
      sum(round(c, 9).cast("decimal(24,9)")).cast("double")
    val moments =
      (1 to D).map(j => dsum(el(j)).as(s"sx_$j")) ++
        (for (j <- 1 to D; k <- j to D) yield dsum(el(j) * el(k)).as(s"sxy_${j}_$k")) :+
        count(lit(1)).cast("double").as("n")
    val mom = Tables.embeddings(s, dir).agg(moments.head, moments.tail: _*)
    val covCols = (for (j <- 1 to D; k <- 1 to j) yield {
      ((col(s"sxy_${k}_$j") - col(s"sx_$j") * col(s"sx_$k") / col("n"))
        / (col("n") - 1)).as(s"c_${j}_$k")
    }) ++ (1 to D).map(j => (col(s"sx_$j") / col("n")).as(s"mu_$j"))
    var ch = mom.select(covCols: _*)
    def keep = ch.columns.map(col)
    // unrolled Cholesky, one factor column per select (fixed op order)
    ch = ch.select(keep :+ sqrt(col("c_1_1")).as("l11"): _*)
    ch = ch.select(keep :+ (col("c_2_1") / col("l11")).as("l21")
      :+ (col("c_3_1") / col("l11")).as("l31")
      :+ (col("c_4_1") / col("l11")).as("l41"): _*)
    ch = ch.select(keep :+ sqrt(col("c_2_2") - col("l21") * col("l21")).as("l22"): _*)
    ch = ch.select(keep
      :+ ((col("c_3_2") - col("l31") * col("l21")) / col("l22")).as("l32")
      :+ ((col("c_4_2") - col("l41") * col("l21")) / col("l22")).as("l42"): _*)
    ch = ch.select(keep :+ sqrt(col("c_3_3") - col("l31") * col("l31")
      - col("l32") * col("l32")).as("l33"): _*)
    ch = ch.select(keep :+ ((col("c_4_3") - col("l41") * col("l31")
      - col("l42") * col("l32")) / col("l33")).as("l43"): _*)
    ch = ch.select(keep :+ sqrt(col("c_4_4") - col("l41") * col("l41")
      - col("l42") * col("l42") - col("l43") * col("l43")).as("l44"): _*)
    // forward substitution per vector: z = L⁻¹(x − μ)
    var z = Tables.embeddings(s, dir).select(col("vec_id"),
        el(1).as("x1"), el(2).as("x2"), el(3).as("x3"), el(4).as("x4"))
      .crossJoin(broadcast(ch))
    z = z.withColumn("z1", (col("x1") - col("mu_1")) / col("l11"))
    z = z.withColumn("z2",
      ((col("x2") - col("mu_2")) - col("l21") * col("z1")) / col("l22"))
    z = z.withColumn("z3",
      ((col("x3") - col("mu_3")) - col("l31") * col("z1")
        - col("l32") * col("z2")) / col("l33"))
    z = z.withColumn("z4",
      ((col("x4") - col("mu_4")) - col("l41") * col("z1")
        - col("l42") * col("z2") - col("l43") * col("z3")) / col("l44"))
    z.select(col("vec_id"), col("z1"), col("z2"), col("z3"), col("z4"))
      .orderBy("vec_id")
  }

  /** Projected dimensionality for the random projection. */
  val RpDims = 8

  /** Database-friendly Johnson–Lindenstrauss random projection
    * (Achlioptas JCSS 2003 — ±1 entries preserve pairwise distances in
    * expectation exactly like Gaussian entries, and make the projection
    * EXACT integer arithmetic): R[j,k] = ±1 from the md5 family's parity
    * (seeded, engine-independent), inputs as 1e6-scaled BIGINTs (the GIN
    * feature device), y_k = Σ_j x̂_j·R[j,k] an exact BIGINT — the
    * dimension-reduction pass before LSH/ANN at 100 TB is one explode +
    * one broadcast-join + one keyed sum, no float anywhere. Per sampled
    * vector: the 8 projected components + the JL distortion audit
    * ratio = (Σ_k y_k²/8)/Σ_j x̂_j² (exact integer sums, ONE division,
    * round-6). Projection matrix = 64×8 = 512 broadcast rows. */
  def q_embed_rand_proj(s: SparkSession, dir: String): DataFrame = {
    val rmat = s.range(0, EmbDims.toLong).select(col("id").as("j"))
      .crossJoin(s.range(0, RpDims.toLong).select(col("id").as("k")))
      .select(col("j"), col("k"),
        when(pmod(Dsl.md5Hash60(concat(lit("rp:"), col("j").cast("string"),
          lit(":"), col("k").cast("string"))), lit(2)) === 0, 1L)
          .otherwise(-1L).as("sgn"))
    val xe = Tables.embeddings(s, dir)
      .filter(col("vec_id") % 20 === 0)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("j", "xf")))
      .select(col("vec_id"), col("j").cast("bigint").as("j"),
        Dsl.rlong(col("xf").cast("double") * 1e6).as("xi"))
    val proj = xe.join(broadcast(rmat), Seq("j"))
      .groupBy(col("vec_id"), col("k"))
      .agg(sum(col("xi") * col("sgn")).as("y"))
    val norms = proj.groupBy(col("vec_id").as("nv"))
      .agg(sum(col("y") * col("y")).as("ny2"))
    val inNorm = xe.groupBy(col("vec_id").as("iv"))
      .agg(sum(col("xi") * col("xi")).as("nx2"))
    proj.join(broadcast(norms), col("vec_id") === col("nv"))
      .join(broadcast(inNorm), col("vec_id") === col("iv"))
      .select(col("vec_id"), col("k"), col("y"),
        round((col("ny2").cast("double") / RpDims) / col("nx2").cast("double"), 6)
          .as("jl_ratio"))
      .orderBy("vec_id", "k")
  }

  /** Embedding-space isotropy report (Ethayarajh 2019 / Mu & Viswanath
    * 2018 — anisotropic embeddings cluster in a narrow cone, which
    * degrades cosine-based retrieval; this is the one-row health check a
    * pipeline runs before trusting cosine): mean pairwise cosine over
    * ALL N² pairs computed WITHOUT the pair join via the closed form
    * Σ_{i≠j} û_i·û_j = ‖Σû‖² − Σ‖û‖² — one scan, 64 decimal sums, the
    * same cost at any corpus size (the reason this scales where a pair
    * join would not). Components of the unit-normalized vectors are
    * round-9 pinned, so every cross-row sum is an exact order-blind
    * DECIMAL; per-row norms and self-masses are fixed-order 64-term
    * double folds (the cosExpr device). Emits the mean-vector norm too
    * (‖mean û‖ → 0 for perfectly isotropic embeddings). */
  /** Normalized-embedding scan shared by the batch isotropy aggregate
    * and the streaming maintainer: per row the norm (fixed-order
    * vec_dot fold) and the round-9 self-mass fold. */
  private def isoScan(s: SparkSession, dir: String): DataFrame = {
    val dot = LlmOps.vecDot(s) _
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"),
        sqrt(dot(col("embedding"), col("embedding"))).as("nrm"))
      .filter(col("nrm") > 0)
  }

  private val isoQFold = "aggregate(embedding, cast(0.0 as double), (a, x) -> " +
    "a + round(cast(x as double) / nrm, 9) * round(cast(x as double) / nrm, 9))"

  /** Shared final combine over the EXACT sums: perDimSums = (d, sdec)
    * — any decimal type holding the exact Σû_d — and tAgg =
    * (n_vecs, tdec). Both the batch aggregate and the streaming
    * shard-state snapshot reduce to these exact rationals, so the two
    * paths emit bit-identical reports (one oracle). */
  private def isotropyFinish(perDimSums: DataFrame, tAgg: DataFrame): DataFrame = {
    val sumSq = perDimSums
      .select(round(col("sdec").cast("double") * col("sdec").cast("double"), 9)
        .cast("decimal(28,9)").as("sq"))
      .agg(sum(col("sq")).as("ssum"))
    val nD = col("n_vecs").cast("double")
    tAgg.crossJoin(sumSq)
      .select(col("n_vecs"),
        round(col("ssum").cast("double"), 6).as("sum_sq_norm"),
        round(col("tdec").cast("double"), 6).as("self_mass"),
        round((col("ssum").cast("double") - col("tdec").cast("double")) /
          (nD * (nD - lit(1.0))), 6).as("avg_pairwise_cos"),
        round(sqrt(col("ssum").cast("double")) / nD, 6).as("mean_vec_norm"))
  }

  def q_embed_isotropy(s: SparkSession, dir: String): DataFrame = {
    // posexplode + two narrow aggs. A/B-probed against a PCA-style
    // 66-aggregate single pass: the wide-agg plan was 3-5× SLOWER at
    // fixture scale (planning/codegen of 66 decimal aggregates
    // dominates a 2 000-row input); the explode shape also keeps the
    // per-dim partial sums map-side at any corpus size.
    val emb = isoScan(s, dir)
    val perDim = emb
      .select(col("nrm"), posexplode(col("embedding")).as(Seq("d", "x")))
      .select(col("d"),
        round(col("x").cast("double") / col("nrm"), 9)
          .cast("decimal(28,9)").as("u9"))
      .groupBy(col("d")).agg(sum(col("u9")).as("sdec"))
    val tAgg = emb.select(round(expr(isoQFold), 9).cast("decimal(28,9)").as("qi"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("qi")).as("tdec"))
    isotropyFinish(perDim, tAgg)
  }

  case class IsoIn(shard: Long, u9: Seq[Long], q9: Long)
  case class IsoShard(shard: Long, n: Long, s9: Seq[Long], qs9: Long)

  /** Per-shard fold: element-wise long adds — order-blind, exact. */
  private[graft] val isoFold: Keyed.Fold[IsoIn, Long, IsoShard, IsoShard] =
    Keyed.fold((r: IsoIn) => r.shard, IsoShard(0L, 0L, Seq.fill(EmbDims)(0L), 0L)) {
      (shard, st, it) =>
        val acc = st.s9.toArray
        var n = st.n
        var qs = st.qs9
        it.foreach { r =>
          var i = 0
          while (i < EmbDims) { acc(i) += r.u9(i); i += 1 }
          n += 1L; qs += r.q9
        }
        val next = IsoShard(shard, n, acc.toSeq, qs)
        (next, Iterator.single(next))
    }

  /** STREAMING isotropy maintainer — the embedding-health counters a
    * live index keeps: per shard (vec_id mod 8) the keyed state is
    * (count, 64 component sums, self-mass sum), ALL exact 1e9-scaled
    * longs folded element-wise (order-blind, 528 bytes/shard — state
    * is constant-size however many vectors stream through). The
    * snapshot merges shard partials with exact integer adds and runs
    * the SAME isotropyFinish combine as q_embed_isotropy: the scaled
    * longs divide back to the identical exact rationals (round(r9·1e9)
    * = 1e9·r9 because r9 has ≤9 dp), so batch ≡ stream bit-for-bit —
    * one oracle for both. */
  def q_stream_isotropy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val uArr = "transform(embedding, x -> cast(round(" +
      "round(cast(x as double) / nrm, 9) * 1e9, 0) as bigint))"
    val rows = Keyed.run(isoScan(s, dir)
      .select((col("vec_id") % 8).as("shard"),
        expr(uArr).as("u9"),
        Dsl.rlong(round(expr(isoQFold), 9) * 1e9).as("q9"))
      .as[IsoIn], isoFold)
      .toDF()
    val perDim = rows.select(posexplode(col("s9")).as(Seq("d", "sl")))
      .groupBy(col("d"))
      .agg((sum(col("sl")).cast("decimal(38,9)") /
        lit(1000000000L).cast("decimal(10,0)")).as("sdec"))
    val tAgg = rows.agg(sum(col("n")).as("n_vecs"),
      (sum(col("qs9")).cast("decimal(38,9)") /
        lit(1000000000L).cast("decimal(10,0)")).as("tdec"))
    isotropyFinish(perDim, tAgg)
  }

  /** TwoNN intrinsic-dimension estimator (Facco et al. 2017) — the
    * manifold-dimension diagnostic a pipeline reads before picking PQ
    * code sizes or IVF cell counts (ID ≪ ambient dim ⇒ aggressive
    * compression is safe): per sample point the 1st/2nd-NN squared
    * distances, d̂ = n / Σ ln(r₂/r₁) = 2n / Σ ln(r₂²/r₁²). Runs on a
    * FIXED-COUNT deterministic sample: vec_id % step = 0 with
    * step = ceil(n / TwoNnSampleTarget), so the all-pairs stage is
    * ≤ ~TwoNnSampleTarget² at ANY corpus size (r13 — the former fixed
    * 10 % fraction made the broadcast side grow with the data; the
    * estimator needs ~hundreds of points, not a share of the corpus).
    * Distances are pinned vec_dot combinations (‖a‖²+‖b‖²−2a·b),
    * exact-duplicate pairs (r=0) excluded per the paper; ln ratios
    * round-9 → exact DECIMAL sum. */
  val TwoNnSampleTarget = 200L

  def q_embed_twonn(s: SparkSession, dir: String): DataFrame = {
    val dot = LlmOps.vecDot(s) _
    val n = Tables.embeddings(s, dir).count() // 1-row driver scalar
    val step = math.max(1L, (n + TwoNnSampleTarget - 1) / TwoNnSampleTarget)
    val e = Tables.embeddings(s, dir).filter(col("vec_id") % lit(step) === 0)
      .select(col("vec_id"), col("embedding"))
    val pairs = e.select(col("vec_id").as("ia"), col("embedding").as("ea"))
      .join(e.select(col("vec_id").as("ib"), col("embedding").as("eb")),
        col("ia") =!= col("ib"))
      .select(col("ia"), col("ib"),
        (dot(col("ea"), col("ea")) + dot(col("eb"), col("eb"))
          - lit(2.0) * dot(col("ea"), col("eb"))).as("dsq"))
      .filter(col("dsq") > 0)
    val w = Window.partitionBy(col("ia")).orderBy(col("dsq").asc, col("ib").asc)
    val nn = pairs.withColumn("rk", row_number().over(w)).filter(col("rk") <= 2)
      .groupBy(col("ia"))
      .agg(min(when(col("rk") === 1, col("dsq"))).as("d1"),
        min(when(col("rk") === 2, col("dsq"))).as("d2"))
      .filter(col("d2").isNotNull)
    nn.select(round(log(col("d2") / col("d1")), 9)
        .cast("decimal(28,9)").as("lr"))
      .agg(count(lit(1)).as("n_points"), sum(col("lr")).as("slr"))
      .select(col("n_points"),
        round(col("slr").cast("double"), 6).as("sum_log_ratio"),
        round(lit(2.0) * col("n_points").cast("double") /
          col("slr").cast("double"), 6).as("id_twonn"))
  }

  /** Cluster-quality report: per k-means cluster the majority true
    * label, its mass, and the cluster purity — the external-validity
    * check a curation run reads before trusting cluster-balanced
    * sampling (SemDeDup cells, IVF lists) to respect semantics. Shares
    * the memoized kmeansAssign MV with q_llm_kmeans, so the report can
    * never drift from the clustering it scores. All counts exact;
    * purity is one round-6 division; majority ties break on the
    * smaller label. */
  def q_llm_cluster_purity(s: SparkSession, dir: String): DataFrame = {
    val cells = kmeansAssign(s, dir).select(col("vec_id"), col("cl"))
      .join(Tables.embeddings(s, dir).select(col("vec_id").as("v2"), col("label")),
        col("vec_id") === col("v2"))
      .groupBy(col("cl"), col("label")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("cl")).orderBy(col("n").desc, col("label").asc)
    cells
      .withColumn("rk", row_number().over(w))
      .withColumn("n_members", sum(col("n")).over(Window.partitionBy(col("cl"))))
      .filter(col("rk") === 1)
      .select(col("cl").as("cluster"), col("n_members"),
        col("label").as("majority_label"), col("n").as("n_majority"),
        round(col("n").cast("double") / col("n_members").cast("double"), 6)
          .as("purity"))
      .orderBy("cluster")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_llm_kmeans" -> q_llm_kmeans _,
    "q_llm_cluster_purity" -> q_llm_cluster_purity _,
    "q_embed_pca" -> q_embed_pca _,
    "q_embed_whiten" -> q_embed_whiten _,
    "q_embed_rand_proj" -> q_embed_rand_proj _,
    "q_embed_isotropy" -> q_embed_isotropy _,
    "q_stream_isotropy" -> q_stream_isotropy _,
    "q_embed_twonn" -> q_embed_twonn _
  )

  // ── DuckDB oracle (generated: 64-term distance chains, unrolled Lloyd) ──

  private def chain(embAlias: String, centAlias: String): String =
    (1 to EmbDims)
      .map(j => s"(CAST($embAlias.embedding[$j] AS DOUBLE) - $centAlias.c$j) * " +
        s"(CAST($embAlias.embedding[$j] AS DOUBLE) - $centAlias.c$j)")
      .mkString(" + ")

  private def assignCte(i: Int, centsCte: String): String =
    s"""a$i AS MATERIALIZED (SELECT vec_id, cl, d2 FROM (
       |  SELECT vec_id, cl, d2, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
       |  FROM (SELECT e.vec_id, c.cl, ${chain("e", "c")} AS d2
       |        FROM embeddings e CROSS JOIN $centsCte c))
       |WHERE rn = 1)""".stripMargin

  private def centsCte(i: Int, fromAssign: Int): String = {
    val means = (1 to EmbDims)
      .map(j => s"ROUND(AVG(CAST(e.embedding[$j] AS DOUBLE)), 6) AS c$j")
      .mkString(", ")
    s"""cents$i AS MATERIALIZED (SELECT a.cl, $means
       |  FROM a$fromAssign a JOIN embeddings e USING (vec_id) GROUP BY a.cl)""".stripMargin
  }

  private def pcaOracle: String = {
    val D = PcaDims
    def e(j: Int) = s"CAST(embedding[$j] AS DOUBLE)"
    val sx = (1 to D).map(j =>
      s"CAST(SUM(CAST(round(${e(j)}, 9) AS DECIMAL(24,9))) AS DOUBLE) AS sx_$j")
    val sxy = for (j <- 1 to D; k <- j to D) yield
      s"CAST(SUM(CAST(round(${e(j)} * ${e(k)}, 9) AS DECIMAL(24,9))) AS DOUBLE) AS sxy_${j}_$k"
    val cov = for (j <- 1 to D; k <- 1 to D) yield {
      val (a, b) = (math.min(j, k), math.max(j, k))
      s"(sxy_${a}_$b - sx_$j * sx_$k / n) / (n - 1) AS c_${j}_$k"
    }
    val cCols = (for (j <- 1 to D; k <- 1 to D) yield s"c_${j}_$k").mkString(", ")
    val v0 = (1 to D).map(j =>
      s"CAST(${if (j == 1) "1.0" else "0.0"} AS DOUBLE) AS v_$j").mkString(", ")
    val iters = (1 to PcaIters).map { i =>
      val w = (1 to D).map(j =>
        (1 to D).map(k => s"c_${j}_$k * v_$k").mkString(" + ") + s" AS w_$j").mkString(", ")
      val nrm = (1 to D).map(j => s"ABS(w_$j)").mkString("GREATEST(", ", ", ")")
      val v = (1 to D).map(j => s"w_$j / $nrm AS v_$j").mkString(", ")
      s"""wi$i AS (SELECT $cCols, $w FROM it${i - 1}),
         |it$i AS (SELECT $cCols, $v FROM wi$i)""".stripMargin
    }.mkString(",\n")
    val cv = (1 to D).map(j =>
      (1 to D).map(k => s"c_${j}_$k * v_$k").mkString(" + ") + s" AS cv_$j").mkString(", ")
    val vCols = (1 to D).map(j => s"v_$j").mkString(", ")
    val num = (1 to D).map(j => s"cv_$j * v_$j").mkString(" + ")
    val den = (1 to D).map(j => s"v_$j * v_$j").mkString(" + ")
    val loads = (1 to D).map(j => s"ROUND(v_$j, 6) AS l$j").mkString(", ")
    s"""WITH mom AS MATERIALIZED (SELECT ${(sx ++ sxy).mkString(", ")},
       |  CAST(COUNT(*) AS DOUBLE) AS n FROM embeddings),
       |cov AS (SELECT ${cov.mkString(", ")}, n FROM mom),
       |it0 AS (SELECT $cCols, $v0 FROM cov),
       |$iters,
       |fin AS (SELECT $vCols, $cv FROM it$PcaIters)
       |SELECT ROUND(($num) / ($den), 6) AS eigenvalue, $loads FROM fin""".stripMargin
  }

  private def whitenOracle: String = {
    val D = WhitenDims
    def e(j: Int) = s"CAST(embedding[$j] AS DOUBLE)"
    val sx = (1 to D).map(j =>
      s"CAST(SUM(CAST(round(${e(j)}, 9) AS DECIMAL(24,9))) AS DOUBLE) AS sx_$j")
    val sxy = for (j <- 1 to D; k <- j to D) yield
      s"CAST(SUM(CAST(round(${e(j)} * ${e(k)}, 9) AS DECIMAL(24,9))) AS DOUBLE) AS sxy_${j}_$k"
    val cov = (for (j <- 1 to D; k <- 1 to j) yield
      s"(sxy_${k}_$j - sx_$j * sx_$k / n) / (n - 1) AS c_${j}_$k") ++
      (1 to D).map(j => s"sx_$j / n AS mu_$j")
    s"""WITH mom AS MATERIALIZED (SELECT ${(sx ++ sxy).mkString(", ")},
       |  CAST(COUNT(*) AS DOUBLE) AS n FROM embeddings),
       |cov AS (SELECT ${cov.mkString(", ")} FROM mom),
       |ch1 AS (SELECT *, sqrt(c_1_1) AS l11 FROM cov),
       |ch2 AS (SELECT *, c_2_1 / l11 AS l21, c_3_1 / l11 AS l31,
       |               c_4_1 / l11 AS l41 FROM ch1),
       |ch3 AS (SELECT *, sqrt(c_2_2 - l21 * l21) AS l22 FROM ch2),
       |ch4 AS (SELECT *, (c_3_2 - l31 * l21) / l22 AS l32,
       |               (c_4_2 - l41 * l21) / l22 AS l42 FROM ch3),
       |ch5 AS (SELECT *, sqrt(c_3_3 - l31 * l31 - l32 * l32) AS l33 FROM ch4),
       |ch6 AS (SELECT *, (c_4_3 - l41 * l31 - l42 * l32) / l33 AS l43 FROM ch5),
       |ch7 AS (SELECT *, sqrt(c_4_4 - l41 * l41 - l42 * l42 - l43 * l43) AS l44
       |        FROM ch6),
       |x AS (SELECT vec_id, ${(1 to D).map(j => s"${e(j)} AS x$j").mkString(", ")}
       |      FROM embeddings),
       |z1c AS (SELECT x.*, ch7.*, (x1 - mu_1) / l11 AS z1 FROM x CROSS JOIN ch7),
       |z2c AS (SELECT *, ((x2 - mu_2) - l21 * z1) / l22 AS z2 FROM z1c),
       |z3c AS (SELECT *, ((x3 - mu_3) - l31 * z1 - l32 * z2) / l33 AS z3 FROM z2c),
       |z4c AS (SELECT *, ((x4 - mu_4) - l41 * z1 - l42 * z2 - l43 * z3) / l44 AS z4
       |        FROM z3c)
       |SELECT vec_id, z1, z2, z3, z4 FROM z4c ORDER BY vec_id""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q_embed_pca" -> pcaOracle,
    "q_embed_whiten" -> whitenOracle,
    "q_llm_kmeans" -> {
      val c0 = (1 to EmbDims).map(j => s"CAST(embedding[$j] AS DOUBLE) AS c$j").mkString(", ")
      s"""WITH cents0 AS MATERIALIZED (
         |  SELECT vec_id AS cl, $c0 FROM embeddings WHERE vec_id < $KmeansK),
         |${assignCte(1, "cents0")},
         |${centsCte(1, 1)},
         |${assignCte(2, "cents1")},
         |${centsCte(2, 2)},
         |${assignCte(3, "cents2")}
         |SELECT cl AS cluster, COUNT(*) AS n_members,
         |  CAST(ROUND(SUM(CAST(ROUND(d2, 9) AS DECIMAL(24,9))), 4) AS DOUBLE) AS inertia
         |FROM a3 GROUP BY cl ORDER BY cluster""".stripMargin
    },
    // purity over the SAME generated Lloyd chain's final assignment
    "q_llm_cluster_purity" -> {
      val c0 = (1 to EmbDims).map(j => s"CAST(embedding[$j] AS DOUBLE) AS c$j").mkString(", ")
      s"""WITH cents0 AS MATERIALIZED (
         |  SELECT vec_id AS cl, $c0 FROM embeddings WHERE vec_id < $KmeansK),
         |${assignCte(1, "cents0")},
         |${centsCte(1, 1)},
         |${assignCte(2, "cents1")},
         |${centsCte(2, 2)},
         |${assignCte(3, "cents2")},
         |cells AS (SELECT a.cl, e.label, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM a3 a JOIN embeddings e USING (vec_id) GROUP BY 1, 2),
         |rk AS (SELECT *,
         |    ROW_NUMBER() OVER (PARTITION BY cl ORDER BY n DESC, label ASC) AS rk,
         |    CAST(SUM(n) OVER (PARTITION BY cl) AS BIGINT) AS n_members
         |  FROM cells)
         |SELECT cl AS cluster, n_members, label AS majority_label,
         |  n AS n_majority,
         |  ROUND(CAST(n AS DOUBLE) / CAST(n_members AS DOUBLE), 6) AS purity
         |FROM rk WHERE rk = 1 ORDER BY cluster""".stripMargin
    }
  )
}
