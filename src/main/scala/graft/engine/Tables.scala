package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Typed readers for the driver-generated fixture tables (TESTDATA.md,
  * FIXTURES.md). The reference (`/root/reference/README.md:2`) declares a
  * Flink DataStream ingest; the Spark-native equivalent is a columnar
  * parquet scan for batch and `readStream` for streams — the same query
  * code runs on both (Structured Streaming unified model).
  *
  * Scale note: each reader is a plain `spark.read.parquet` so Catalyst
  * keeps predicate pushdown / column pruning / partition pruning intact;
  * no caching or driver-side materialization here.
  */
object Tables {
  private def read(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, dir: String): DataFrame   = read(s, dir, "region")
  def nation(s: SparkSession, dir: String): DataFrame   = read(s, dir, "nation")
  def customer(s: SparkSession, dir: String): DataFrame = read(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame = read(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame     = read(s, dir, "part")
  def orders(s: SparkSession, dir: String): DataFrame   = read(s, dir, "orders")
  def lineitem(s: SparkSession, dir: String): DataFrame = read(s, dir, "lineitem")
  def documents(s: SparkSession, dir: String): DataFrame = read(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = read(s, dir, "embeddings")

  /** Widen-only scan spread for HEAVY per-row kernels (gram explosions,
    * md5 signature passes — r17 opt, guide §2.5 "input skew"): a
    * fixture-sized corpus arrives as ONE parquet split, so the kernel
    * serializes on one core until the first exchange (measured: a
    * 1.3 s single-task stage inside q_llm_bloom_prefilter with 31 cores
    * idle). Round-robin to the session's parallelism when the scan is
    * narrower; a corpus that already has >= parallelism splits passes
    * through UNTOUCHED, so at scale this is a no-op, not a shuffle.
    * Only order-blind consumers may use it. */
  def spread(s: SparkSession, df: DataFrame): DataFrame = {
    val target = s.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** events.ts has shipped as parquet timestamp[ns] (earlier fixture
    * generations) and timestamp[us] (round-6 regeneration) — read either,
    * normalizing to µs-precision TimestampType:
    *  - timestamp[ns]: Spark 4.1.2 cannot read it natively
    *    (PARQUET_TYPE_ILLEGAL) → read as raw ns-longs and truncate to µs,
    *    exactly what the DuckDB oracle's `CAST(ts AS TIMESTAMP)` does.
    *    NOTE integer `div`, not `/`: epoch-ns magnitudes (~1.7e18) exceed
    *    2^53, so a double round-trip would corrupt the microsecond value.
    *  - timestamp[us] (isAdjustedToUTC=false → TIMESTAMP_NTZ): cast to
    *    TimestampType — value-preserving under the UTC session timezone
    *    every entry point pins, and downstream operators (window(),
    *    unix_micros, watermarks) keep the type they were written for.
    */
  def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = read(s, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  }
}

/** Determinism helpers shared by every oracle-checked query (SURVEY.md §2
  * D1–D5). Money-like doubles are summed through DECIMAL(18,2) — exact and
  * order-independent — then surfaced as double so the Spark parquet output
  * and the DuckDB oracle agree byte-for-byte.
  */
object Dsl {
  /** Cast a 2-decimal money double to exact decimal (D2). */
  def dec(c: Column): Column = c.cast("decimal(18,2)")

  /** Exact, order-independent SUM for money columns; double on the wire. */
  def moneySum(c: Column): Column = sum(dec(c)).cast("double")

  /** Exact AVG: decimal sum then double division by count (D2). */
  def moneyAvg(c: Column): Column = sum(dec(c)).cast("double") / count(lit(1))

  /** The cross-engine 60-bit md5 hash family: first 15 hex digits of
    * md5 as a non-negative long. DuckDB twin (probed byte-equal):
    * `CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)`. Single source of
    * truth for every md5-family operator (MinHash/SimHash twins, DSIR
    * buckets, negative sampling) — widen/change it HERE and in the
    * oracle strings together, never in one place. */
  def md5Hash60(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** EXACT fast twin of `round(y, 0).cast("bigint")` for double `y`
    * (r18 opt, guide §4 — eliminate non-codegen-friendly expressions in
    * the hot path): Spark's ROUND on a double goes through
    * `BigDecimal(Double.toString(y)).setScale(0, HALF_UP)` — a string
    * format + decimal parse PER CALL (~0.5–1 µs; RoundBase bytecode,
    * probed on the shipped spark-catalyst 4.1.2 jar), which dominated
    * the per-row cost of every 1e9-scaled-BIGINT aggregation (measured
    * 4.4 µs/row in the SGD gradient pass; ~6 rounds/row).
    *
    * This form computes half-away-from-zero on the EXACT binary value
    * in pure correctly-rounded IEEE ops: |y| − floor(|y|) is exact
    * (Sterbenz for |y| ≥ 1, trivial below), so the `≥ 0.5` tie test has
    * no intermediate rounding — unlike the `floor(y + 0.5)` device,
    * whose addition can round up across a tie boundary (quant's device
    * is fine because BOTH engines run it; this one must match ROUND).
    * Rounding the shortest-decimal repr (what BigDecimal sees) and the
    * exact binary value to an INTEGER can only disagree if some
    * representable boundary n+0.5 lay strictly between the two, which
    * round-tripping of the shortest repr forbids — so the results are
    * bit-identical for every finite double (property-tested across the
    * full double range in FastRoundSpec; ±Inf, which cannot reach these
    * pipelines, differs only at the −Inf long-cast clamp). */
  def rlong(y: Column): Column = {
    val a = abs(y)
    val fl = floor(a) // BIGINT on a double input
    val r = fl + when(a - fl.cast("double") >= 0.5, 1L).otherwise(0L)
    when(y >= 0, r).otherwise(-r)
  }

  /** JVM twin of the Column `rlong`, op for op (Spark's `floor` on a
    * double is the `(long)` cast of `Math.floor`), for the power-
    * iteration kernel's per-arc terms; FastRoundSpec pins both. */
  def rlong(y: Double): Long = {
    val a = math.abs(y)
    val fl = math.floor(a).toLong
    val r = fl + (if (a - fl.toDouble >= 0.5) 1L else 0L)
    if (y >= 0) r else -r
  }
}
