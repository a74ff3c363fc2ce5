package graft.engine

import graft.engine.Ckpt.CkptOps

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sketch / partition-assignment operators for corpus-scale accounting
  * (SURVEY.md §2.16). Both run in bounded memory regardless of corpus
  * size: the count-min sketch is a fixed 4×256 counter grid (Cormode &
  * Muthukrishnan 2005), shard assignment is a stateless hash. Hashing is
  * the cross-engine md5 60-bit family (Dsl.md5Hash60) so DuckDB replays
  * every bucket id exactly.
  */
object SketchOps {

  /** CMS geometry: depth 4 (independent salted hash rows) × width 256. */
  val CmsDepth = 4
  val CmsWidth = 256

  /** Count-min sketch heavy hitters: build the 4×256 sketch over the full
    * token stream in ONE pass (explode tokens × 4 salted hashes → keyed
    * count — partial aggregation means shuffle volume is ≤ 4·256 rows per
    * partition, not 4·|tokens|), then probe it for the global top-10
    * exact tokens. `est = min_d cms[d][h_d(tok)]` always ≥ the exact
    * count (the sketch never undercounts); `overcount` surfaces the
    * collision error the 256-wide grid introduces.
    *
    * Scale: this is the bounded-memory frequency path for 100 TB streams —
    * the exact groupBy here exists to quantify sketch error on the
    * fixture, and the probe side is 40 broadcast rows. */
  def q_llm_cms_topk(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
    // Vocabulary-bounded checkpoint: three consumers (top-10 probe set,
    // sketch build, estimate join) would otherwise each re-run the
    // corpus-sized token explode + count.
    val exact = toks.groupBy(col("tok")).agg(count(lit(1)).as("exact"))
      .ckpt()
    val top = exact
      .orderBy(col("exact").desc, col("tok").asc)
      .limit(10)

    // The grid cell (d, b) holds Σ count(tok) over tokens hashing to b —
    // so build it as a WEIGHTED insert from the per-token counts already
    // in hand (vocab-sized: |V|×depth rows) instead of re-exploding every
    // token INSTANCE ×depth (corpus-sized). Identical cell values; this
    // is the standard batch-side CMS construction. The instance-at-a-time
    // maintainer lives in q_stream_cms, where it belongs.
    val salted = exact.select(col("tok"), col("exact"),
      explode(array((0 until CmsDepth).map(lit): _*)).as("d"))
      .select(col("d"),
        pmod(Dsl.md5Hash60(concat(col("d").cast("string"), lit(":"), col("tok"))),
          lit(CmsWidth)).as("bucket"),
        col("exact"))
    val cms = salted.groupBy(col("d"), col("bucket")).agg(sum(col("exact")).as("c"))

    val probes = top.select(col("tok"), col("exact"),
      explode(array((0 until CmsDepth).map(lit): _*)).as("d"))
      .withColumn("bucket",
        pmod(Dsl.md5Hash60(concat(col("d").cast("string"), lit(":"), col("tok"))),
          lit(CmsWidth)))
    probes.join(cms, Seq("d", "bucket"))
      .groupBy(col("tok"), col("exact"))
      .agg(min(col("c")).as("est"))
      .withColumn("overcount", col("est") - col("exact"))
      .orderBy(col("exact").desc, col("tok").asc)
  }

  /** Shard count for training-shard assignment. */
  val NumShards = 16

  /** Deterministic training-shard assignment: each doc hashes to one of
    * 16 shards (stateless md5 — no coordination, reproducible across
    * engines and re-runs), with per-shard doc/token accounting and the
    * token-balance ratio vs the ideal uniform share. This is the step
    * that turns a curated corpus into the fixed shard layout a training
    * job consumes; the balance column is the health check that the hash
    * is spreading load (ratio ≈ 1). One explode-free pass + one 16-group
    * aggregation. */
  def q_llm_shard_assign(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), size(split(col("text"), " ")).as("n_toks"),
        pmod(Dsl.md5Hash60(concat(lit("shard:"), col("doc_id").cast("string"))),
          lit(NumShards)).as("shard"))
    val per = d.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
    per
      .withColumn("balance",
        round(col("n_tokens") / (sum(col("n_tokens")).over() / lit(NumShards)), 6))
      .select(col("shard"), col("n_docs"), col("n_tokens"), col("min_doc"),
        col("max_doc"), col("balance"))
      .orderBy("shard")
  }

  // ---- Streaming CMS maintainer -----------------------------------------
  // Keyed-state twin of q_llm_cms_topk: one state row PER CELL (d, bucket)
  // holding its counter as a pure long — exact, order-blind and MERGEABLE
  // (CMS grids add cell-wise), which is what lets shards sketch
  // independently and merge at 100 TB. Keying by cell (4·256 = 1024 keys)
  // rather than by depth row (4 keys) is what makes the maintainer
  // PARALLEL: a depth-keyed fold funnels the whole corpus through 4
  // tasks — the classic low-cardinality-keyed-state bottleneck. The
  // final grid is cell-identical to the batch sketch, so the probe stage
  // and the oracle are shared verbatim.

  case class CmsIn(d: Int, bucket: Int)
  case class CmsCell(d: Int, bucket: Int, c: Long)

  val cmsFold: Keyed.Fold[CmsIn, CmsIn, Long, CmsCell] =
    Keyed.fold((c: CmsIn) => c, 0L) { (key, c0, it) =>
      val c = c0 + it.size
      (c, Iterator.single(CmsCell(key.d, key.bucket, c)))
    }

  /** Driver-contract query: the incrementally-maintained sketch replaces
    * the batch grid inside the q_llm_cms_topk probe; output (and oracle)
    * are identical to the batch operator. */
  def q_stream_cms(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // widen the 1-split fixture scan: the per-(token, depth) md5 grid
    // is the dominant compute before the state exchange (Tables.spread)
    val toks = Tables.spread(s, Tables.documents(s, dir))
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
    val cms = Keyed.run(toks.select(col("tok"),
        explode(array((0 until CmsDepth).map(lit): _*)).as("d"))
      .select(col("d"),
        pmod(Dsl.md5Hash60(concat(col("d").cast("string"), lit(":"), col("tok"))),
          lit(CmsWidth)).cast("int").as("bucket"))
      .as[CmsIn], cmsFold)
      .toDF()
    val exact = toks.groupBy(col("tok")).agg(count(lit(1)).as("exact"))
    val top = exact.orderBy(col("exact").desc, col("tok").asc).limit(10)
    val probes = top.select(col("tok"), col("exact"),
        explode(array((0 until CmsDepth).map(lit): _*)).as("d"))
      .withColumn("bucket",
        pmod(Dsl.md5Hash60(concat(col("d").cast("string"), lit(":"), col("tok"))),
          lit(CmsWidth)).cast("int"))
    probes.join(cms, Seq("d", "bucket"))
      .groupBy(col("tok"), col("exact"))
      .agg(min(col("c")).as("est"))
      .withColumn("overcount", col("est") - col("exact"))
      .orderBy(col("exact").desc, col("tok").asc)
  }

  /** HLL geometry: b = 8 bucket bits → m = 256 registers; the remaining
    * 52 bits of the 60-bit md5 family feed the rho (leading-zero) scan. */
  val HllBuckets = 256

  /** Fully-relational HyperLogLog over the md5 60-bit family (round 7;
    * Flajolet et al. 2007) — the ORACLED twin of the engine-specific
    * q_agg_approx_distinct, exactly as q_llm_minhash_md5 is the oracled
    * twin of the xxhash64 MinHash path: distinct users per event_type
    * estimated from a 256-register sketch that DuckDB replays bucket by
    * bucket. bucket = h >> 52; rho = 53 − bitlength(h & (2⁵²−1))
    * (integer-exact via bin(); 53 for the all-zero suffix); register
    * M_j = MAX(rho) — an order-blind, MERGEABLE aggregate, which is the
    * whole 100 TB story: shards sketch independently and registers
    * merge by MAX, 256 bytes per key forever.
    *
    * Determinism: the harmonic-mean denominator Σ2^{−M_j} is kept as the
    * EXACT integer Σ2^{53−M_j} (≤ 256·2⁵³ = 2⁶¹ — inside BIGINT); the
    * raw estimate α·m²·2⁵³/Z is one pinned double expression, the
    * small-range branch compares that identical double both engines, and
    * the linear-counting ln(m/V) absorbs libm ulp in the round-6 output.
    * Empty buckets are explicit via a 256-row spine (M = 0). */
  def q_agg_hll_md5(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("event_type"),
      col("user_id"),
      Dsl.md5Hash60(concat(lit("hll:"), col("user_id").cast("string"))).as("h"))
    val regs = ev
      .select(col("event_type"), expr("h >> 52").as("bucket"),
        when(expr("h & 4503599627370495") === 0, lit(53))
          .otherwise(lit(53) - length(expr("bin(h & 4503599627370495)")))
          .cast("bigint").as("rho"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(max(col("rho")).as("mj"))
    val spine = ev.select(col("event_type")).distinct()
      .crossJoin(s.range(0, HllBuckets).select(col("id").as("sb")))
    val full = spine
      .join(regs, spine("event_type") === regs("event_type") && col("sb") === col("bucket"),
        "left_outer")
      .select(spine("event_type"), coalesce(col("mj"), lit(0L)).as("m"))
    val sk = full.groupBy(col("event_type"))
      .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(53 - m AS INT))")).as("z_scaled"),
        sum(when(col("m") === 0, 1L).otherwise(0L)).as("v_zero"))
    val exact = ev.groupBy(col("event_type").as("et"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0))
    val mD = lit(HllBuckets.toDouble)
    val eRaw = alpha * mD * mD * lit(9007199254740992.0) / col("z_scaled").cast("double")
    val est = when(eRaw <= lit(2.5) * mD && col("v_zero") > 0,
      mD * log(mD / col("v_zero").cast("double"))).otherwise(eRaw)
    sk.join(broadcast(exact), col("event_type") === col("et"))
      .select(col("event_type"), col("n_exact"), col("z_scaled"), col("v_zero"),
        round(est, 6).as("est"))
      .orderBy("event_type")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_agg_hll_md5" -> q_agg_hll_md5 _,
    "q_llm_cms_topk" -> q_llm_cms_topk _,
    "q_llm_shard_assign" -> q_llm_shard_assign _,
    "q_stream_cms" -> q_stream_cms _
  )
}
