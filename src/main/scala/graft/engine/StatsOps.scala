package graft.engine

import graft.engine.Ckpt.CkptOps

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Statistical / time-series operators (SURVEY.md §2.19 cont.):
  * a Pearson correlation matrix over scaled-integer fact columns and
  * linear gap-fill interpolation over an hourly event series — the two
  * standard feature-engineering passes (feature correlation screening,
  * series regularization) a training-data pipeline runs over fact data.
  *
  * Determinism: both operators keep every aggregation exact (BIGINT /
  * DECIMAL sums, order-blind) and do ALL floating-point arithmetic in
  * pinned-order scalar expressions over those exact values — identical
  * IEEE sequences in both engines, no rounding anywhere. */
object StatsOps {

  /** Pearson correlation matrix over lineitem's numeric measures,
    * integer-scaled (quantity as-is; price/discount/tax in cents):
    * corr(x,y) = (n·Σxy − Σx·Σy) / (√(n·Σx² − (Σx)²)·√(n·Σy² − (Σy)²)).
    * The 13 moment sums go through DECIMAL(38,0) (Σp² ≈ 2.8e19 at sf0.1
    * overflows BIGINT — and silently wraps in Spark); every sum is then
    * cast once to double and combined in a pinned order. ONE aggregation
    * over the fact table (map-side partials), a 1-row result — the same
    * shape at any scale. */
  def q_agg_corr(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select(
      col("l_quantity").cast("bigint").as("q"),
      Dsl.rlong(col("l_extendedprice") * 100).as("p"),
      Dsl.rlong(col("l_discount") * 100).as("d"),
      Dsl.rlong(col("l_tax") * 100).as("t"))
    def dsum(c: org.apache.spark.sql.Column, n: String) =
      sum(c.cast("decimal(38,0)")).cast("double").as(n)
    val agg = li.agg(
      count(lit(1)).as("n_rows"),
      dsum(col("q"), "sq"), dsum(col("p"), "sp"),
      dsum(col("d"), "sd"), dsum(col("t"), "st"),
      dsum(col("q") * col("q"), "sqq"), dsum(col("p") * col("p"), "spp"),
      dsum(col("d") * col("d"), "sdd"), dsum(col("t") * col("t"), "stt"),
      dsum(col("q") * col("p"), "sqp"), dsum(col("q") * col("d"), "sqd"),
      dsum(col("p") * col("d"), "spd"), dsum(col("d") * col("t"), "sdt"))
    def corr(sxy: String, sx: String, sy: String, sxx: String, syy: String) = {
      val n = col("n_rows").cast("double")
      (n * col(sxy) - col(sx) * col(sy)) /
        (sqrt(n * col(sxx) - col(sx) * col(sx))
          * sqrt(n * col(syy) - col(sy) * col(sy)))
    }
    agg.select(col("n_rows"),
      corr("sqp", "sq", "sp", "sqq", "spp").as("corr_qty_price"),
      corr("sqd", "sq", "sd", "sqq", "sdd").as("corr_qty_disc"),
      corr("spd", "sp", "sd", "spp", "sdd").as("corr_price_disc"),
      corr("sdt", "sd", "st", "sdd", "stt").as("corr_disc_tax"))
  }

  /** Micros per hour (bigint) — the idx scale both engines divide by. */
  private val HourUs = 3600000000L

  /** Linear gap-fill interpolation over the hourly event-value series
    * (per event_type, value = hourly DECIMAL(18,6) sum of round(value,6)):
    * the spine enumerates every hour between the corpus min/max; missing
    * interior hours get pv + (nv − pv)·(Δ/gap) between the nearest
    * observed neighbors (IGNORE NULLS window scans both directions);
    * leading/trailing gaps stay NULL. Hour indexes are exact epoch-µs
    * integer divisions, so the interpolation weights are identical
    * rationals in both engines. Scale shape: one keyed agg over events,
    * a dimension-sized spine join, two windows per type partition. */
  def q_time_interpolate(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_type"), date_trunc("hour", col("ts")).as("hr"),
        round(col("value"), 6).cast("decimal(18,6)").as("v6"))
    val obs = ev.groupBy(col("event_type").as("ot"), col("hr").as("ohr"))
      .agg(sum(col("v6")).as("v"))
    val bounds = ev.agg(min(col("hr")).as("mn"), max(col("hr")).as("mx"))
      .select(col("mn"),
        ((unix_micros(col("mx")) - unix_micros(col("mn"))) / HourUs).cast("bigint")
          .as("nh"))
    val types = ev.select(col("event_type")).distinct()
    val spine = types.crossJoin(broadcast(bounds))
      .select(col("event_type"), col("mn"),
        explode(sequence(lit(0L), col("nh"))).as("idx"))
      .select(col("event_type"), col("idx"),
        timestamp_micros(unix_micros(col("mn")) + col("idx") * HourUs).as("hr"))
    val joined = spine.join(obs,
        col("event_type") === col("ot") && col("hr") === col("ohr"), "left_outer")
      .select(col("event_type"), col("idx"), col("hr"),
        col("v").cast("double").as("obs_v"))
    val order = Window.partitionBy(col("event_type")).orderBy(col("idx"))
    val back = order.rowsBetween(Window.unboundedPreceding, -1)
    val fwd = order.rowsBetween(1, Window.unboundedFollowing)
    val obsIdx = when(col("obs_v").isNotNull, col("idx"))
    val filled = joined
      .withColumn("pv", last(col("obs_v"), ignoreNulls = true).over(back))
      .withColumn("pidx", last(obsIdx, ignoreNulls = true).over(back))
      .withColumn("nv", first(col("obs_v"), ignoreNulls = true).over(fwd))
      .withColumn("nidx", first(obsIdx, ignoreNulls = true).over(fwd))
    filled.select(col("event_type"), col("hr"),
        col("obs_v").isNotNull.as("observed"),
        when(col("obs_v").isNotNull, col("obs_v"))
          .otherwise(col("pv") + (col("nv") - col("pv"))
            * ((col("idx") - col("pidx")) / (col("nidx") - col("pidx"))))
          .as("value"))
      .orderBy("event_type", "hr")
  }

  /** PSI bucket width and count; Laplace smoothing keeps every bucket
    * probability an exact nonzero rational. */
  val PsiBucketWidth = 50
  val PsiBuckets = 10

  /** Population Stability Index drift monitor (the standard
    * training-data drift check between a reference and a current
    * window): per event_type, PSI = Σ_b (p_b − q_b)·ln(p_b/q_b) over
    * 10 equal-width value buckets, reference = first half of the month,
    * current = second half, with add-one smoothing so p,q are exact
    * nonzero rationals. Each bucket term rounds at 9dp (absorbs the
    * only non-reproducible op, libm ln) and the PSI total is an exact
    * DECIMAL sum of those terms — no other float path exists. A full
    * bucket spine (type × 0..9) makes missing buckets explicit.
    * NOTE floor(): DuckDB's CAST(double AS INT) ROUNDS while Spark's
    * truncates — the bucket id must be an explicit FLOOR in both.
    * Scale shape: one keyed count aggregation + a dimension-sized spine
    * join; PSI per key is a 10-term fixed fold. */
  def q_llm_drift_psi(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_type"),
        least(lit(PsiBuckets - 1),
          greatest(lit(0L), floor(col("value") / PsiBucketWidth))).cast("int").as("b"),
        (to_date(col("ts")) <= lit("2024-01-15").cast("date")).as("is_ref"))
    val counts = ev.groupBy(col("event_type").as("ct"), col("b").as("cb"))
      .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("cr"),
        sum(when(!col("is_ref"), 1L).otherwise(0L)).as("cc"))
    val types = ev.select(col("event_type")).distinct()
    val spine = types.select(col("event_type"),
      explode(sequence(lit(0), lit(PsiBuckets - 1))).as("b"))
    val filled = spine.join(counts,
        col("event_type") === col("ct") && col("b") === col("cb"), "left_outer")
      .select(col("event_type"), col("b"),
        coalesce(col("cr"), lit(0L)).as("cr"),
        coalesce(col("cc"), lit(0L)).as("cc"))
    val totals = filled.groupBy(col("event_type").as("tt"))
      .agg(sum(col("cr")).as("nr"), sum(col("cc")).as("nc"))
    val p = (col("cr") + 1).cast("double") / (col("nr") + PsiBuckets).cast("double")
    val q = (col("cc") + 1).cast("double") / (col("nc") + PsiBuckets).cast("double")
    filled.join(broadcast(totals), col("event_type") === col("tt"))
      .select(col("event_type"), col("nr"), col("nc"),
        round((p - q) * log(p / q), 9).cast("decimal(18,9)").as("term"))
      .groupBy(col("event_type"))
      .agg(max(col("nr")).as("n_ref"), max(col("nc")).as("n_cur"),
        sum(col("term")).cast("double").as("psi"))
      .orderBy("event_type")
  }

  // ---- Streaming PSI maintainer -----------------------------------------
  // Keyed-state twin of q_llm_drift_psi: per event_type the state is the
  // 2×10 bucket histogram (pure longs — exact, order-blind, mergeable),
  // and the PSI arithmetic runs only at snapshot-emit time, replaying the
  // batch expression exactly: StrictMath.log (what Spark's `log` codegen
  // calls — NOT Math.log, which may route to an intrinsic), scala
  // BigDecimal HALF_UP round-9 per term, exact decimal total. The final
  // bounded-run snapshot therefore shares the batch operator's oracle.

  case class PsiEvent(etype: String, b: Int, isRef: Boolean)
  case class PsiState(ref: Array[Long], cur: Array[Long])
  case class PsiSnap(event_type: String, n_ref: Long, n_cur: Long, psi: Double)

  def psiOf(ref: Array[Long], cur: Array[Long]): PsiSnap = {
    val nr = ref.sum
    val nc = cur.sum
    var total = BigDecimal(0)
    var b = 0
    while (b < PsiBuckets) {
      val p = (ref(b) + 1).toDouble / (nr + PsiBuckets).toDouble
      val q = (cur(b) + 1).toDouble / (nc + PsiBuckets).toDouble
      val raw = (p - q) * StrictMath.log(p / q)
      total += BigDecimal(raw).setScale(9, BigDecimal.RoundingMode.HALF_UP)
      b += 1
    }
    PsiSnap("", nr, nc, total.toDouble)
  }

  val psiFold: Keyed.Fold[PsiEvent, String, PsiState, PsiSnap] =
    Keyed.fold((e: PsiEvent) => e.etype,
        PsiState(new Array[Long](PsiBuckets), new Array[Long](PsiBuckets))) { (key, st, it) =>
      it.foreach { e =>
        if (e.isRef) st.ref(e.b) += 1 else st.cur(e.b) += 1
      }
      (st, Iterator.single(psiOf(st.ref, st.cur).copy(event_type = key)))
    }

  /** Driver-contract query: the incremental drift maintainer over the
    * bounded event set; final snapshots equal the batch PSI (shared
    * oracle). At scale one state row per event_type key — a dashboard
    * metric maintained event-at-a-time instead of recomputed per batch. */
  def q_stream_drift_psi(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Keyed.run(Tables.events(s, dir)
      .select(col("event_type").as("etype"),
        least(lit(PsiBuckets - 1),
          greatest(lit(0L), floor(col("value") / PsiBucketWidth))).cast("int").as("b"),
        (to_date(col("ts")) <= lit("2024-01-15").cast("date")).as("isRef"))
      .as[PsiEvent], psiFold)
      .toDF()
      .orderBy("event_type")
  }

  // ---- Streaming deterministic reservoir (bottom-k sketch) --------------
  // The scalable streaming sampler: per language keep the K docs with the
  // smallest md5("res:"+doc_id) hash. Bottom-k over a uniform hash IS a
  // uniform sample, and unlike a classic RNG reservoir it is order-blind
  // and MERGEABLE (union of two bottom-k sets → bottom-k of the union),
  // so shards can sample independently and merge — the property a
  // distributed corpus sampler needs. State per key: K (hash, id) pairs.
  // Integer-only — no float path exists anywhere in this operator.

  val ReservoirK = 5

  case class ResDoc(lang: String, doc_id: Long, h: Long)
  case class ResState(hs: Array[Long], ids: Array[Long])
  case class ResPick(lang: String, rank: Int, doc_id: Long, h: Long)

  val reservoirFold: Keyed.Fold[ResDoc, String, ResState, ResPick] =
    Keyed.fold((d: ResDoc) => d.lang, ResState(Array.empty, Array.empty)) { (key, st, it) =>
      var pairs = st.hs.zip(st.ids)
      it.foreach { d =>
        pairs = (pairs :+ (d.h, d.doc_id)).sortBy(identity).take(ReservoirK)
      }
      (ResState(pairs.map(_._1), pairs.map(_._2)),
        pairs.iterator.zipWithIndex.map { case ((h, id), i) => ResPick(key, i + 1, id, h) })
    }

  /** Driver-contract query: the keyed bottom-k maintainer over the
    * bounded document set; final snapshot = the batch bottom-k (window
    * rank over the hash — the oracle). */
  def q_stream_reservoir(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Keyed.run(Tables.documents(s, dir)
      .select(col("lang"), col("doc_id"),
        Dsl.md5Hash60(concat(lit("res:"), col("doc_id").cast("string"))).as("h"))
      .as[ResDoc], reservoirFold)
      .toDF()
      .orderBy("lang", "rank")
  }

  /** Skewness / excess kurtosis per return flag over quantity — the
    * distribution-shape screen a feature pipeline runs next to q_agg_corr.
    * Same determinism recipe: the 5 raw moment sums are exact DECIMAL(38,0)
    * (order-blind; Σq⁴ ≈ 3.8e12 at sf0.1 — integer-exact even as double),
    * then ONE pinned-order double expression per statistic. pow() is
    * deliberately absent (Math.pow vs libm pow differ in ulps):
    * σ³ = m2·√m2 uses only correctly-rounded IEEE ops. One map-side-partial
    * aggregation to 5 rows — the same shape at any scale. */
  def q_agg_skew_kurt(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select(col("l_returnflag"),
      col("l_quantity").cast("bigint").as("q"))
    def dsum(c: org.apache.spark.sql.Column, n: String) =
      sum(c.cast("decimal(38,0)")).cast("double").as(n)
    val agg = li.groupBy(col("l_returnflag")).agg(
      count(lit(1)).as("n_rows"),
      dsum(col("q"), "s1"),
      dsum(col("q") * col("q"), "s2"),
      dsum(col("q") * col("q") * col("q"), "s3"),
      dsum(col("q") * col("q") * col("q") * col("q"), "s4"))
    val n = col("n_rows").cast("double")
    val m1 = col("s1") / n
    val m2 = col("s2") / n - m1 * m1
    val m3 = col("s3") / n - lit(3.0) * m1 * (col("s2") / n) +
      lit(2.0) * m1 * m1 * m1
    val m4 = col("s4") / n - lit(4.0) * m1 * (col("s3") / n) +
      lit(6.0) * m1 * m1 * (col("s2") / n) - lit(3.0) * m1 * m1 * m1 * m1
    agg.select(col("l_returnflag"), col("n_rows"), m1.as("mean_qty"),
        (m3 / (m2 * sqrt(m2))).as("skewness"),
        (m4 / (m2 * m2) - lit(3.0)).as("kurtosis_excess"))
      .orderBy("l_returnflag")
  }

  /** Session gap (minutes) shared with the oracle. */
  val SessionGapMin = 30

  /** Batch sessionization of the event stream (the lakehouse twin of
    * q_stream_session, producing the per-session fact table instead of
    * per-user counts): per user, a session breaks where the inter-event
    * gap exceeds 30 min; session ids are running counts of breaks. Gap
    * tests are exact epoch-µs integer comparisons; session value goes
    * through DECIMAL(18,2) (D2). Shape: two windows + one aggregation,
    * all partitioned on user_id — a single shuffle at any scale. */
  def q_sessionize_batch(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("user_id"),
      col("ts"), col("event_id"), Dsl.dec(col("value")).as("v"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, 0)
    val gapUs = SessionGapMin * 60000000L
    val sess = ev
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("brk",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > gapUs, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("brk")).over(run))
    sess.groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts"),
        sum(col("v")).cast("double").as("session_value"))
      .orderBy("user_id", "session_id")
  }

  // ---- Streaming prefix-z-score anomaly detector ------------------------
  // Per event_type the keyed state is (n, Σc, Σc²) over value-cents — pure
  // integers, exact and mergeable. An arriving event is flagged against the
  // stats of all PRIOR events of its type: |v − μ| > 3σ, tested as the
  // cross-multiplied integer comparison (n·c − Σ)² > 9·(n·Σc² − Σ²) so no
  // float exists anywhere (the products reach ~2.5e19 → BigInt here,
  // HUGEINT in the oracle). Events replay in (ts, event_id) order — the
  // order a watermark-sorted production stream delivers.

  /** Anomaly warm-up: no flags until this many prior events. */
  val AnomalyMinPrior = 30

  case class AnomEvent(etype: String, tsUs: Long, event_id: Long, c: Long)
  case class AnomState(n: Long, s1: Long, s2: Long)
  case class AnomHit(event_type: String, event_id: Long, value_cents: Long,
      n_prior: Long)

  val anomalyFold: Keyed.Fold[AnomEvent, String, AnomState, AnomHit] =
    Keyed.fold((e: AnomEvent) => e.etype, AnomState(0L, 0L, 0L)) { (key, st0, it) =>
      var st = st0
      val hits = scala.collection.mutable.ArrayBuffer.empty[AnomHit]
      // event-time replay order (deterministic tie-break on event_id)
      it.toArray.sortBy(e => (e.tsUs, e.event_id)).foreach { e =>
        if (st.n >= AnomalyMinPrior) {
          val dev = BigInt(st.n) * e.c - BigInt(st.s1)
          val varN = BigInt(st.n) * st.s2 - BigInt(st.s1) * st.s1
          if (dev * dev > varN * 9) {
            hits += AnomHit(key, e.event_id, e.c, st.n)
          }
        }
        st = AnomState(st.n + 1, st.s1 + e.c, st.s2 + e.c * e.c)
      }
      (st, hits.iterator)
    }

  /** Driver-contract query: the streaming anomaly detector over the
    * bounded event set; the batch oracle replays the same prefix stats
    * with running windows. At scale: state is 3 longs per key and the
    * per-batch sort is bounded by the micro-batch, not the stream. */
  def q_stream_anomaly(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Keyed.run(Tables.events(s, dir)
      .select(col("event_type").as("etype"), unix_micros(col("ts")).as("tsUs"),
        col("event_id"),
        Dsl.rlong(col("value") * 100).as("c"))
      .as[AnomEvent], anomalyFold)
      .toDF()
      .orderBy("event_type", "event_id")
  }

  /** Daily Shannon entropy of the event-type mix — the diversity
    * monitor beside the PSI drift check: p_i = c_i/n are exact
    * rationals, each term −p·ln(p) rounds at 9dp (absorbing libm ln,
    * the PSI recipe) and the total is an exact DECIMAL sum. One keyed
    * count + a broadcast totals join; day count × type count rows of
    * shuffle at any scale. */
  def q_agg_entropy(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(date_trunc("day", col("ts")).as("day"), col("event_type"))
    val counts = ev.groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val totals = counts.groupBy(col("day").as("td"))
      .agg(sum(col("c")).as("n"), count(lit(1)).as("k"))
    val p = col("c").cast("double") / col("n").cast("double")
    counts.join(broadcast(totals), col("day") === col("td"))
      .select(col("day"), col("n"), col("k"),
        round(-p * log(p), 9).cast("decimal(18,9)").as("term"))
      .groupBy(col("day"))
      .agg(max(col("n")).as("n_events"), max(col("k")).as("n_types"),
        sum(col("term")).cast("double").as("entropy"))
      .orderBy("day")
  }

  /** Gini coefficient of order spend per market segment — the
    * concentration metric a curation pipeline runs over source/domain
    * token shares: with x sorted ascending, G = 2·Σi·x_i/(n·Σx) −
    * (n+1)/n. Everything up to the final expression is exact integer
    * arithmetic in cents (rank ties carry equal x so the tie order
    * cannot change Σi·x_i); the two divisions are one pinned-order
    * double expression. Σi·x_i ≈ 4.5e16 at sf0.1 → DECIMAL(38,0) sums
    * (below 2^64, where both engines' double casts are correctly
    * rounded). One window + one aggregation per segment. */
  def q_agg_gini(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"), col("o_orderkey"),
        Dsl.rlong(col("o_totalprice") * 100).as("cents"))
    val w = Window.partitionBy(col("seg")).orderBy(col("cents"), col("o_orderkey"))
    val ranked = o.withColumn("i", row_number().over(w))
    val agg = ranked.groupBy(col("seg")).agg(
      count(lit(1)).as("n_orders"),
      sum(col("cents").cast("decimal(38,0)")).cast("double").as("sx"),
      sum((col("i") * col("cents")).cast("decimal(38,0)")).cast("double").as("six"))
    val n = col("n_orders").cast("double")
    agg.select(col("seg"), col("n_orders"),
        (lit(2.0) * col("six") / (n * col("sx")) - (n + lit(1.0)) / n).as("gini"))
      .orderBy("seg")
  }

  // ---- Streaming Holt linear-trend smoother -----------------------------
  // Keyed state per event_type = (level, trend, n) over the daily value
  // series: l_t = α·y_t + (1−α)·(l_{t−1}+b_{t−1}), b_t = β·(l_t−l_{t−1})
  // + (1−β)·b_{t−1}, initialized l_1 = y_1, b_1 = 0. α = 1/2 and β = 1/4
  // are exact dyadic doubles and every step is the same correctly-rounded
  // IEEE sequence in both engines, so the recursion needs NO rounding
  // anywhere. Days replay in event-time order (watermark-sorted batches).

  val HoltAlpha = 0.5
  val HoltBeta = 0.25

  case class HoltIn(etype: String, dayUs: Long, y: Double)
  case class HoltState(l: Double, b: Double, n: Long)
  case class HoltSnap(event_type: String, n_days: Long, level: Double,
      trend: Double, forecast: Double)

  val holtFold: Keyed.Fold[HoltIn, String, HoltState, HoltSnap] =
    Keyed.fold((e: HoltIn) => e.etype, HoltState(0.0, 0.0, 0L)) { (key, st0, it) =>
      val st = it.toArray.sortBy(_.dayUs).foldLeft(st0) { (st, e) =>
        if (st.n == 0L) HoltState(e.y, 0.0, 1L)
        else {
          val lNew = HoltAlpha * e.y + (1 - HoltAlpha) * (st.l + st.b)
          val bNew = HoltBeta * (lNew - st.l) + (1 - HoltBeta) * st.b
          HoltState(lNew, bNew, st.n + 1)
        }
      }
      (st, Iterator.single(HoltSnap(key, st.n, st.l, st.b, st.l + st.b)))
    }

  /** Driver-contract query: the streaming trend maintainer over the
    * bounded daily series; the oracle replays the recursion as a
    * recursive CTE. State per key is 2 doubles + a count. */
  def q_stream_holt(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type").as("etype"),
        date_trunc("day", col("ts")).as("day"))
      .agg(sum(Dsl.dec(col("value"))).cast("double").as("y"))
      .select(col("etype"), unix_micros(col("day")).as("dayUs"), col("y"))
    Keyed.run(daily.as[HoltIn], holtFold)
      .toDF()
      .orderBy("event_type")
  }

  // ---- Streaming Holt-Winters seasonal smoother -------------------------
  // The weekly-seasonality extension of q_stream_holt (additive
  // Holt-Winters, Winters 1960): keyed state per event_type adds a
  // 7-slot seasonal register indexed by calendar day-of-week
  // ((x mod 7 + 7) mod 7 of the day index — calendar-stable, so missing
  // days can't shift the season like a sequence-position index would).
  //   l_t = α(y_t − s_prev) + (1−α)(l+b);  b_t = β(l_t−l) + (1−β)b;
  //   s_idx ← γ(y_t − l_t) + (1−γ)s_prev;  first day: l=y, b=0, s=0.
  // α = 1/2, β = 1/4, γ = 1/2 are exact dyadic doubles — every step is
  // the identical correctly-rounded IEEE sequence in both engines
  // (the Holt device), so the recursion needs no rounding anywhere;
  // the oracle replays it as a recursive CTE carrying the 7 registers.

  val HwGamma = 0.5

  case class HwIn(etype: String, x: Long, y: Double)
  case class HwState(l: Double, b: Double, s: Array[Double], n: Long, lastX: Long)
  case class HwSnap(event_type: String, n_days: Long, level: Double,
      trend: Double, season_next: Double, forecast: Double)

  val holtWintersFold: Keyed.Fold[HwIn, String, HwState, HwSnap] =
    Keyed.fold((e: HwIn) => e.etype, HwState(0.0, 0.0, Array.fill(7)(0.0), 0L, 0L)) {
      (key, st0, it) =>
        val st = it.toArray.sortBy(_.x).foldLeft(st0) { (st, e) =>
          val idx = ((e.x % 7) + 7).toInt % 7
          if (st.n == 0L) HwState(e.y, 0.0, st.s, 1L, e.x)
          else {
            val sPrev = st.s(idx)
            val lNew = HoltAlpha * (e.y - sPrev) + (1 - HoltAlpha) * (st.l + st.b)
            val bNew = HoltBeta * (lNew - st.l) + (1 - HoltBeta) * st.b
            val sNew = HwGamma * (e.y - lNew) + (1 - HwGamma) * sPrev
            val s2 = st.s.clone(); s2(idx) = sNew
            HwState(lNew, bNew, s2, st.n + 1, e.x)
          }
        }
        val nIdx = (((st.lastX + 1) % 7) + 7).toInt % 7
        (st, Iterator.single(
          HwSnap(key, st.n, st.l, st.b, st.s(nIdx), st.l + st.b + st.s(nIdx))))
    }

  /** Driver-contract query: the seasonal maintainer's bounded-run
    * snapshot (the streaming fold over the daily series; state = 9
    * doubles + 2 longs per key at any stream length). */
  def q_stream_holt_winters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type").as("etype"), to_date(col("ts")).as("day"))
      .agg(sum(Dsl.dec(col("value"))).cast("double").as("y"))
      .select(col("etype"),
        datediff(col("day"), lit("2024-01-01").cast("date")).cast("bigint").as("x"),
        col("y"))
    Keyed.run(daily.as[HwIn], holtWintersFold)
      .toDF()
      .orderBy("event_type")
  }

  /** Two-sample Kolmogorov–Smirnov drift statistic per event_type
    * (the distribution-free companion to the PSI monitor, same
    * reference/current halves): D = max_v |F_ref(v) − F_cur(v)|,
    * computed entirely in exact integers as max|c_ref·n_cur −
    * c_cur·n_ref| over the merged value ladder (cumulative counts via
    * one window), divided ONCE at the end by n_ref·n_cur. No float
    * anywhere before the final division. One keyed count + one window
    * per type partition. */
  def q_agg_ks_test(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("event_type"),
      Dsl.rlong(col("value") * 100).as("c"),
      (to_date(col("ts")) <= lit("2024-01-15").cast("date")).as("is_ref"))
    val counts = ev.groupBy(col("event_type"), col("c"))
      .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("cr"),
        sum(when(!col("is_ref"), 1L).otherwise(0L)).as("cc"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("c"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = counts
      .withColumn("f1", sum(col("cr")).over(w))
      .withColumn("f2", sum(col("cc")).over(w))
    val totals = counts.groupBy(col("event_type").as("tt"))
      .agg(sum(col("cr")).as("n_ref"), sum(col("cc")).as("n_cur"))
    cum.join(broadcast(totals), col("event_type") === col("tt"))
      .groupBy(col("event_type"))
      .agg(max(col("n_ref")).as("n_ref"), max(col("n_cur")).as("n_cur"),
        max(abs(col("f1") * col("n_cur") - col("f2") * col("n_ref"))).as("d_num"))
      .select(col("event_type"), col("n_ref"), col("n_cur"),
        (col("d_num").cast("double")
          / (col("n_ref") * col("n_cur")).cast("double")).as("ks_stat"))
      .orderBy("event_type")
  }

  /** Autocorrelation lags (days), shared with the oracle. */
  val AutocorrLags = Seq(1, 7)

  /** Lag-k autocorrelation of the daily value series per event_type
    * (k = 1 day and 7 days — the seasonality screen): pairs align by
    * exact DATE arithmetic (day = lag_day + k, gap-safe), then the
    * q_agg_corr recipe — 5 moment sums through DECIMAL(38,0), one
    * pinned-order Pearson expression per (type, lag). Daily values are
    * exact bigint cents. */
  def q_time_autocorr(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(Dsl.rlong(col("value") * 100)).as("c"))
    val lags = s.range(0, 1).select(explode(array(AutocorrLags.map(lit): _*)).as("lag"))
    val pairs = daily.crossJoin(lags)
      .select(col("event_type"), col("lag"), col("day"), col("c").as("y"))
      .join(daily.select(col("event_type").as("et2"), col("day").as("d2"),
          col("c").as("x")),
        col("event_type") === col("et2") &&
          col("day") === expr("date_add(d2, lag)"))
    def dsum(c: org.apache.spark.sql.Column, n: String) =
      sum(c.cast("decimal(38,0)")).cast("double").as(n)
    val agg = pairs.groupBy(col("event_type"), col("lag")).agg(
      count(lit(1)).as("n_pairs"),
      dsum(col("x"), "sx"), dsum(col("y"), "sy"),
      dsum(col("x") * col("x"), "sxx"), dsum(col("y") * col("y"), "syy"),
      dsum(col("x") * col("y"), "sxy"))
    val n = col("n_pairs").cast("double")
    agg.select(col("event_type"), col("lag"), col("n_pairs"),
        ((n * col("sxy") - col("sx") * col("sy"))
          / (sqrt(n * col("sxx") - col("sx") * col("sx"))
            * sqrt(n * col("syy") - col("sy") * col("sy")))).as("autocorr"))
      .orderBy("event_type", "lag")
  }

  /** Yule-Walker AR(2) fit of the daily value series per event_type
    * (r17 — the classical parametric step after the ACF screen: the
    * forecasting family had smoothers (EWMA/Holt/Holt-Winters), the
    * ACF/PACF screens, and trend fits, but no autoregressive model).
    * Lag-1/lag-2 autocorrelations via the exact q_time_autocorr
    * assembly (date-aligned pairs, DECIMAL(38,0) moment sums, one
    * pinned Pearson per lag), then the Yule-Walker closed form
    * φ₁ = r₁(1−r₂)/(1−r₁²), φ₂ = (r₂−r₁²)/(1−r₁²) as one pinned
    * double chain — identical literal expression in the oracle, so
    * the composition stays bit-equal. ONE keyed aggregation over the
    * daily series; k×1 rows out at any corpus scale. */
  def q_time_ar2(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(Dsl.rlong(col("value") * 100)).as("c"))
    val lags = s.range(0, 1).select(explode(array(lit(1), lit(2))).as("lag"))
    val pairs = daily.crossJoin(lags)
      .select(col("event_type"), col("lag"), col("day"), col("c").as("y"))
      .join(daily.select(col("event_type").as("et2"), col("day").as("d2"),
          col("c").as("x")),
        col("event_type") === col("et2") &&
          col("day") === expr("date_add(d2, lag)"))
    def dsum(c: org.apache.spark.sql.Column, n: String) =
      sum(c.cast("decimal(38,0)")).cast("double").as(n)
    val agg = pairs.groupBy(col("event_type"), col("lag")).agg(
      count(lit(1)).as("n_pairs"),
      dsum(col("x"), "sx"), dsum(col("y"), "sy"),
      dsum(col("x") * col("x"), "sxx"), dsum(col("y") * col("y"), "syy"),
      dsum(col("x") * col("y"), "sxy"))
    val n = col("n_pairs").cast("double")
    val r = agg.select(col("event_type"), col("lag"), col("n_pairs"),
      ((n * col("sxy") - col("sx") * col("sy"))
        / (sqrt(n * col("sxx") - col("sx") * col("sx"))
          * sqrt(n * col("syy") - col("sy") * col("sy")))).as("r"))
    val w = r.filter(col("lag") === 1)
      .select(col("event_type"), col("n_pairs").as("n1"), col("r").as("r1"))
      .join(r.filter(col("lag") === 2)
        .select(col("event_type").as("eb"), col("r").as("r2")),
        col("event_type") === col("eb"))
    w.select(col("event_type"), col("n1"),
        round(col("r1"), 6).as("r1"), round(col("r2"), 6).as("r2"),
        round(col("r1") * (lit(1) - col("r2"))
          / (lit(1) - col("r1") * col("r1")), 6).as("phi1"),
        round((col("r2") - col("r1") * col("r1"))
          / (lit(1) - col("r1") * col("r1")), 6).as("phi2"))
      .orderBy("event_type")
  }

  /** Typed rows for the streaming AR(2) maintainer. */
  case class Ar2In(etype: String, x: Long, y: Long)
  case class Ar2State(days: Seq[Long], vals: Seq[Long])
  case class Ar2Snap(event_type: String, n1: Long, r1: Double, r2: Double,
    phi1: Double, phi2: Double)

  /** Streaming AR(2) fold: keyed state is the day→value series itself
    * (day-count-bounded — O(#days) longs per key however many events
    * stream through; late/updated days overwrite idempotently), and
    * the snapshot computes the IDENTICAL exact-moment Pearson + pinned
    * Yule-Walker chain as q_time_ar2 — BigInt moment sums cast to
    * double exactly like the DECIMAL(38,0) device, so snapshot ≡ batch
    * and both share one oracle. */
  private[graft] val ar2Fold: Keyed.Fold[Ar2In, String, Ar2State, Ar2Snap] =
    Keyed.fold((r: Ar2In) => r.etype, Ar2State(Nil, Nil)) { (key, st, it) =>
      val m = scala.collection.mutable.Map.empty[Long, Long]
      st.days.lazyZip(st.vals).foreach((d, v) => m(d) = v)
      it.foreach(r => m(r.x) = r.y)
      val days = m.keys.toSeq.sorted
      (Ar2State(days, days.map(m)), ar2Snap(key, days, m))
    }

  private def ar2Snap(key: String, days: Seq[Long],
      m: scala.collection.Map[Long, Long]): Iterator[Ar2Snap] = {
    def r6(x: Double): Double =
      if (x.isNaN || x.isInfinite) x
      else java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    def pearson(lag: Int): (Long, Double) = {
      val ps = days.flatMap(d => m.get(d - lag).map(x => (BigInt(x), BigInt(m(d)))))
      val n = ps.size.toDouble
      val (sx, sy) = (ps.map(_._1).sum.toDouble, ps.map(_._2).sum.toDouble)
      val sxx = ps.map(p => p._1 * p._1).sum.toDouble
      val syy = ps.map(p => p._2 * p._2).sum.toDouble
      val sxy = ps.map(p => p._1 * p._2).sum.toDouble
      (ps.size.toLong,
        (n * sxy - sx * sy)
          / (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy)))
    }
    val ((n1, r1), (n2, r2)) = (pearson(1), pearson(2))
    if (n1 < 1 || n2 < 1) Iterator.empty
    else Iterator.single(Ar2Snap(key, n1, r6(r1), r6(r2),
      r6(r1 * (1 - r2) / (1 - r1 * r1)), r6((r2 - r1 * r1) / (1 - r1 * r1))))
  }

  /** STREAMING Yule-Walker AR(2) (the stream_ewma/stream_markov twin
    * pattern): one snapshot row per event_type ≡ q_time_ar2. */
  def q_stream_ar2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type").as("etype"), to_date(col("ts")).as("day"))
      .agg(sum(Dsl.rlong(col("value") * 100)).as("y"))
      .select(col("etype"),
        datediff(col("day"), lit("2024-01-01").cast("date")).cast("bigint").as("x"),
        col("y"))
    Keyed.run(daily.as[Ar2In], ar2Fold)
      .toDF()
      .orderBy("event_type")
  }

  /** OLS trend fit of the daily value series per event_type (round 7 —
    * the trend screen beside the Holt smoother): regress daily exact
    * cents y on the day index x = day − 2024-01-01 (small integers, so
    * every moment stays far inside BIGINT; the q_time_autocorr device).
    * slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²), intercept = (Σy − slope·Σx)/n,
    * r² via the q_agg_corr pinned Pearson. All moment sums exact
    * DECIMAL(38,0) → one double cast each → pinned-order combination;
    * nΣxy ≈ 31·2.5e11 and ΣxΣy ≈ 7e12 are exactly representable doubles
    * (< 2^53), so slope's numerator/denominator are EXACT, and the later
    * products are the same correctly-rounded IEEE sequence both engines.
    * ONE keyed aggregation over the daily series — map-side partials,
    * k×1 rows out at any corpus scale. */
  def q_agg_ols_trend(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(Dsl.rlong(col("value") * 100)).as("c"))
      .select(col("event_type"),
        datediff(col("day"), lit("2024-01-01").cast("date")).cast("bigint").as("x"),
        col("c").as("y"))
    def dsum(c: org.apache.spark.sql.Column, n: String) =
      sum(c.cast("decimal(38,0)")).cast("double").as(n)
    val agg = daily.groupBy(col("event_type")).agg(
      count(lit(1)).as("n_days"),
      dsum(col("x"), "sx"), dsum(col("y"), "sy"),
      dsum(col("x") * col("x"), "sxx"), dsum(col("y") * col("y"), "syy"),
      dsum(col("x") * col("y"), "sxy"))
    val n = col("n_days").cast("double")
    val num = n * col("sxy") - col("sx") * col("sy")
    val den = n * col("sxx") - col("sx") * col("sx")
    val slope = num / den
    agg.select(col("event_type"), col("n_days"),
        slope.as("slope"),
        ((col("sy") - slope * col("sx")) / n).as("intercept"),
        ((num / (sqrt(den) * sqrt(n * col("syy") - col("sy") * col("sy"))))
          * (num / (sqrt(den) * sqrt(n * col("syy") - col("sy") * col("sy")))))
          .as("r2"))
      .orderBy("event_type")
  }

  /** CUSUM changepoint detection over the daily value series per
    * event_type (round 7 — the level-shift screen beside PSI/KS):
    * S_i = Σ_{j≤i}(y_j − ȳ) over the day-ordered series, changepoint =
    * argmax |S_i| for i < n (S_n ≡ 0). Cross-multiplied to stay ALL
    * integer (the q_stream_anomaly device): n·S_i = n·P_i − i·T with
    * P_i the prefix sum (one window), T/n the per-type totals — products
    * ≤ ~2e11 at sf0.1, no float before the two final divisions. Tie rule:
    * earliest day. Mean shift = (T−P)/(n−i) − P/i, two exact-integer
    * divisions and one subtraction. One window + one ranked argmax per
    * type partition (bounded by #days, not events). */
  def q_time_changepoint(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(Dsl.rlong(col("value") * 100)).as("y"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val pre = daily
      .withColumn("p", sum(col("y")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("i", row_number().over(w).cast("bigint"))
    val tot = daily.groupBy(col("event_type").as("tt"))
      .agg(sum(col("y")).as("t"), count(lit(1)).as("n"))
    val scored = pre.join(broadcast(tot), col("event_type") === col("tt"))
      .filter(col("i") < col("n"))
      .withColumn("ns", col("n") * col("p") - col("i") * col("t"))
    val rw = Window.partitionBy(col("event_type"))
      .orderBy(abs(col("ns")).desc, col("day").asc)
    scored.withColumn("rn", row_number().over(rw))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("n").as("n_days"), col("day").as("cp_day"),
        abs(col("ns")).as("cusum_num"),
        ((col("t") - col("p")).cast("double") / (col("n") - col("i")).cast("double")
          - col("p").cast("double") / col("i").cast("double")).as("mean_shift"))
      .orderBy("event_type")
  }

  /** Welch's two-sample t-statistic per event_type (round 7 — the
    * parametric companion to the KS/PSI drift screens, same
    * reference/current split): t = (m̄₁−m̄₂)/√(v₁/n₁+v₂/n₂) with the
    * Welch–Satterthwaite df. The 6 moment sums (counts, Σc, Σc² per
    * half) are exact DECIMAL(38,0) over value cents — ONE aggregation,
    * map-side partials; every later op is a pinned-order double
    * expression over the exactly-cast sums (the q_agg_corr device:
    * v = (n·Σc² − (Σc)²)/(n(n−1)) avoids squaring a BIGINT). Groups
    * with a degenerate half (n ≤ 1) are excluded in both engines. */
  def q_agg_ttest(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("event_type"),
      Dsl.rlong(col("value") * 100).as("c"),
      (to_date(col("ts")) <= lit("2024-01-15").cast("date")).as("is_ref"))
    def dsum(c: org.apache.spark.sql.Column, n: String) =
      sum(c.cast("decimal(38,0)")).cast("double").as(n)
    val agg = ev.groupBy(col("event_type")).agg(
      sum(when(col("is_ref"), 1L).otherwise(0L)).as("n_ref"),
      sum(when(!col("is_ref"), 1L).otherwise(0L)).as("n_cur"),
      dsum(when(col("is_ref"), col("c")).otherwise(0L), "s1"),
      dsum(when(col("is_ref"), col("c") * col("c")).otherwise(0L), "q1"),
      dsum(when(!col("is_ref"), col("c")).otherwise(0L), "s2"),
      dsum(when(!col("is_ref"), col("c") * col("c")).otherwise(0L), "q2"))
    ttestFrom(agg)
  }

  /** Shared Welch-t assembly over the per-type moment table
    * (n_ref, n_cur, s1, q1, s2, q2) — consumed by the batch scan AND the
    * streaming moment maintainer, so both share one oracle. Every moment
    * arrives as the double cast of the same exact integer (Σc² ≈ 2e14 at
    * sf0.1, far inside 2^53), so the pinned Welch combination is
    * bit-identical regardless of which side produced it. */
  private def ttestFrom(agg: DataFrame): DataFrame = {
    val n1 = col("n_ref").cast("double")
    val n2 = col("n_cur").cast("double")
    val v1 = (n1 * col("q1") - col("s1") * col("s1")) / (n1 * (n1 - 1))
    val v2 = (n2 * col("q2") - col("s2") * col("s2")) / (n2 * (n2 - 1))
    val se1 = v1 / n1
    val se2 = v2 / n2
    agg.filter(col("n_ref") > 1 && col("n_cur") > 1)
      .select(col("event_type"), col("n_ref"), col("n_cur"),
        ((col("s1") / n1 - col("s2") / n2) / sqrt(se1 + se2)).as("t_stat"),
        ((se1 + se2) * (se1 + se2)
          / (se1 * se1 / (n1 - 1) + se2 * se2 / (n2 - 1))).as("df_welch"))
      .orderBy("event_type")
  }

  // ---- Streaming Welch-t maintainer -------------------------------------
  // Keyed-state twin of q_agg_ttest (the chi2/benford shared-assembly
  // device): state = the six exact integer moments (48 B/key forever,
  // order-blind and MERGEABLE — shards maintain moments independently
  // and add them); the Welch arithmetic runs only at snapshot time
  // through the SAME assembly as the batch operator. Σc² headroom:
  // ≈2e14 at sf0.1 per type, Long overflows at ~9e18 — swap s/q to
  // DECIMAL state at ~1M× current volume.
  case class TtEv(etype: String, c: Long, isRef: Boolean)
  case class TtState(nr: Long, nc: Long, s1: Long, q1: Long, s2: Long, q2: Long)
  case class TtSnap(event_type: String, n_ref: Long, n_cur: Long,
    s1: Long, q1: Long, s2: Long, q2: Long)

  val ttestFold: Keyed.Fold[TtEv, String, TtState, TtSnap] =
    Keyed.fold((e: TtEv) => e.etype, TtState(0L, 0L, 0L, 0L, 0L, 0L)) { (key, st0, it) =>
      val st = it.foldLeft(st0) { (st, e) =>
        if (e.isRef) st.copy(nr = st.nr + 1, s1 = st.s1 + e.c, q1 = st.q1 + e.c * e.c)
        else st.copy(nc = st.nc + 1, s2 = st.s2 + e.c, q2 = st.q2 + e.c * e.c)
      }
      (st, Iterator.single(TtSnap(key, st.nr, st.nc, st.s1, st.q1, st.s2, st.q2)))
    }

  /** Driver-contract query: the streaming moment maintainer; snapshots
    * feed the shared Welch assembly (one oracle with q_agg_ttest). */
  def q_stream_ttest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val snap = Keyed.run(Tables.events(s, dir).select(col("event_type").as("etype"),
        Dsl.rlong(col("value") * 100).as("c"),
        (to_date(col("ts")) <= lit("2024-01-15").cast("date")).as("isRef"))
      .as[TtEv], ttestFold)
      .toDF()
    ttestFrom(snap.select(col("event_type"), col("n_ref"), col("n_cur"),
      col("s1").cast("double").as("s1"), col("q1").cast("double").as("q1"),
      col("s2").cast("double").as("s2"), col("q2").cast("double").as("q2")))
  }

  /** Classical additive seasonal decomposition of the daily value series
    * per event_type (round 7 — the moving-average method behind STL,
    * Cleveland 1990 §2: trend = centered MA, seasonal = mean detrended
    * residual per season slot): trend is a ±3-day CENTERED RANGE-frame
    * average over the day index (gap-safe — the frame is value-based,
    * so a missing day shrinks the window instead of shifting it),
    * seasonal index = per-(type, day-of-week) mean of y − trend.
    * Determinism: trend = exact-integer frame sum / frame count (ONE
    * division); detrended terms round-9 → exact DECIMAL sums (PSI
    * device); one division + round-6 at output. One windowed pass over
    * the bounded daily series + one keyed aggregation. */
  def q_time_seasonal_decompose(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(Dsl.rlong(col("value") * 100)).as("y"))
      .select(col("event_type"),
        datediff(col("day"), lit("2024-01-01").cast("date")).cast("bigint").as("x"),
        col("y"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("x"))
      .rangeBetween(-3, 3)
    val det = daily
      .withColumn("trend",
        sum(col("y")).over(w).cast("double") / count(lit(1)).over(w).cast("double"))
      .withColumn("term",
        round(col("y").cast("double") - col("trend"), 9).cast("decimal(28,9)"))
      .withColumn("dow", ((col("x") % 7) + 7) % 7)
    det.groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n_obs"), sum(col("term")).as("sd"))
      .select(col("event_type"), col("dow"), col("n_obs"),
        round(col("sd").cast("double") / col("n_obs").cast("double"), 6)
          .as("seasonal"))
      .orderBy("event_type", "dow")
  }

  /** Pearson χ² independence test of event_type × value bucket (the
    * categorical-association companion to KS/PSI/t-test; Pearson 1900):
    * contingency over the PSI value buckets (full spine — zero cells
    * contribute their expectation), χ² = Σ (O−E)²/E with E = R·C/N.
    * Determinism: O, R, C, N exact integers; every double product stays
    * < 2^53 at any realistic scale (R·C ≤ 1e12 at 1M events), E and each
    * term are pinned-order IEEE expressions (the OLS/t-test device),
    * terms round-9 → exact DECIMAL sum; Cramér's V from the rounded χ².
    * Empty COLUMNS (no events in a bucket anywhere) are dropped from
    * both the cells and df = (r−1)(c−1). One keyed count + two broadcast
    * marginals — map-side partials, one row out. */
  def q_agg_chi2(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_type"),
        least(lit(PsiBuckets - 1),
          greatest(lit(0L), floor(col("value") / PsiBucketWidth))).cast("int").as("b"))
    val cells = ev.groupBy(col("event_type"), col("b")).agg(count(lit(1)).as("o"))
    val spine = ev.select(col("event_type")).distinct()
      .select(col("event_type"), explode(sequence(lit(0), lit(PsiBuckets - 1))).as("b"))
    val filled = spine.join(cells, Seq("event_type", "b"), "left_outer")
      .select(col("event_type"), col("b"), coalesce(col("o"), lit(0L)).as("o"))
    chi2From(filled)
  }

  /** Shared χ² assembly over the zero-filled (event_type, b, o)
    * contingency — consumed by the batch scan AND the streaming
    * keyed-histogram maintainer, so the snapshot arithmetic can never
    * drift from the batch operator (they share one oracle). */
  private def chi2From(filled: DataFrame): DataFrame = {
    val rowTot = filled.groupBy(col("event_type").as("rt")).agg(sum(col("o")).as("r"))
    val colTot = filled.groupBy(col("b").as("cb")).agg(sum(col("o")).as("c"))
    val nTot = filled.agg(sum(col("o")).as("n"),
      countDistinct(col("event_type")).as("nr"))
    val nc = colTot.filter(col("c") > 0).agg(count(lit(1)).as("ncol"))
    val e = col("r").cast("double") * col("c").cast("double") / col("n").cast("double")
    val term = (col("o").cast("double") - e) * (col("o").cast("double") - e) / e
    filled
      .join(broadcast(rowTot), col("event_type") === col("rt"))
      .join(broadcast(colTot.filter(col("c") > 0)), col("b") === col("cb"))
      .crossJoin(broadcast(nTot)).crossJoin(broadcast(nc))
      .select(col("n"), col("nr"), col("ncol"),
        round(term, 9).cast("decimal(28,9)").as("term"))
      .groupBy(col("n"), col("nr"), col("ncol"))
      .agg(sum(col("term")).as("chi2d"))
      .select(col("n"), ((col("nr") - 1) * (col("ncol") - 1)).as("df"),
        round(col("chi2d").cast("double"), 6).as("chi2"),
        round(sqrt(col("chi2d").cast("double") /
          (col("n").cast("double") *
            least(col("nr") - 1, col("ncol") - 1).cast("double"))), 6)
          .as("cramers_v"))
  }

  /** Benford first-digit screen over the cents values (Benford 1938;
    * Nigrini's fraud/data-quality test): digit = first character of the
    * exact integer cents (the STRING of a BIGINT — no float log10 digit
    * extraction), per-digit observed counts on the full 1–9 spine vs
    * Benford p_d = log10(1+1/d), and the standardized deviation
    * z = (O − N·p)/√(N·p(1−p)) in pinned-order doubles. One scan +
    * 9-row spine; all counts exact integers. */
  def q_agg_benford(s: SparkSession, dir: String): DataFrame = {
    val obs = Tables.events(s, dir)
      .select(Dsl.rlong(col("value") * 100).as("cents"))
      .filter(col("cents") > 0)
      .select(substring(col("cents").cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("o"))
    benfordFrom(s, obs)
  }

  /** Shared Benford assembly over the per-digit counts — consumed by the
    * batch scan AND the streaming keyed-counter maintainer (one oracle
    * for both; the N denominator re-derives from the digit counts, which
    * partition the positive-cents population exactly). */
  private def benfordFrom(s: SparkSession, obs: DataFrame): DataFrame = {
    val spine = s.range(1, 10).select(col("id").cast("int").as("digit"))
    val n = obs.agg(sum(col("o")).as("n"))
    val p = log10(lit(1.0) + lit(1.0) / col("digit"))
    spine.join(obs, Seq("digit"), "left_outer")
      .select(col("digit"), coalesce(col("o"), lit(0L)).as("n_obs"))
      .crossJoin(broadcast(n))
      .select(col("digit"), col("n_obs"),
        round(col("n_obs").cast("double") / col("n").cast("double"), 6)
          .as("obs_share"),
        round(p, 6).as("benford_p"),
        round((col("n_obs").cast("double") - col("n").cast("double") * p) /
          sqrt(col("n").cast("double") * p * (lit(1.0) - p)), 6).as("z"))
      .orderBy("digit")
  }

  // ---- Streaming χ² / Benford maintainers -------------------------------
  // Keyed-state twins of q_agg_chi2 / q_agg_benford (the PSI-maintainer
  // device): state is the pure-integer histogram (exact, order-blind,
  // mergeable — 80 B/key and 8 B/key respectively, forever), and ALL
  // test arithmetic runs at snapshot time through the SAME shared
  // assembly the batch operators use, so the streaming snapshots share
  // the batch oracles verbatim.

  case class Chi2Ev(etype: String, b: Int)
  case class Chi2Snap(event_type: String, counts: Array[Long])

  val chi2Fold: Keyed.Fold[Chi2Ev, String, Array[Long], Chi2Snap] =
    Keyed.fold((e: Chi2Ev) => e.etype, Array.fill(PsiBuckets)(0L)) { (key, c, it) =>
      it.foreach(e => c(e.b) += 1)
      (c, Iterator.single(Chi2Snap(key, c)))
    }

  /** Driver-contract query: the streaming contingency maintainer; the
    * final per-type histograms feed the shared χ² assembly. */
  def q_stream_chi2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val snap = Keyed.run(Tables.events(s, dir)
      .select(col("event_type").as("etype"),
        least(lit(PsiBuckets - 1),
          greatest(lit(0L), floor(col("value") / PsiBucketWidth))).cast("int").as("b"))
      .as[Chi2Ev], chi2Fold)
      .toDF()
    chi2From(snap.select(col("event_type"),
      posexplode(col("counts")).as(Seq("b", "o"))))
  }

  case class BenfEv(digit: Int)
  case class BenfSnap(digit: Int, o: Long)

  val benfordFold: Keyed.Fold[BenfEv, Int, Long, BenfSnap] =
    Keyed.fold((e: BenfEv) => e.digit, 0L) { (key, c0, it) =>
      val c = c0 + it.size
      (c, Iterator.single(BenfSnap(key, c)))
    }

  /** Driver-contract query: the streaming first-digit counter (9 keys,
    * 8 bytes each); snapshots feed the shared Benford assembly. */
  def q_stream_benford(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val snap = Keyed.run(Tables.events(s, dir)
      .select(Dsl.rlong(col("value") * 100).as("cents"))
      .filter(col("cents") > 0)
      .select(substring(col("cents").cast("string"), 1, 1).cast("int").as("digit"))
      .as[BenfEv], benfordFold)
      .toDF()
    benfordFrom(s, snap.select(col("digit"), col("o")))
  }

  /** Bootstrap replicates for the daily-mean CI. */
  val BootstrapB = 32

  /** Deterministic bootstrap CI of the mean daily cents per event_type
    * (Efron 1979, with the md5-family seeded resampler — the engine's
    * only randomness device, so the 'random' resample is reproducible
    * across engines and runs): replicate b draws n day-slots WITH
    * replacement via j = md5('bs:type:b:i') mod n over the day-index
    * ladder; each replicate mean is an exact integer sum / n; the 90%
    * percentile interval takes the ⌈0.05B⌉/⌈0.95B⌉-ranked replicate
    * means (ties by replicate id). Work = B·n resample rows per type —
    * calendar-bounded (32×~30), NEVER event-count-bounded, because the
    * resampler runs over the pre-aggregated daily series; at any corpus
    * scale this costs B×days keyed lookups. */
  def q_agg_bootstrap_ci(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(Dsl.rlong(col("value") * 100)).as("y"))
    val wd = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val idx = daily
      .withColumn("i", row_number().over(wd).cast("bigint") - 1)
      .select(col("event_type").as("it"), col("i"), col("y"))
      .ckpt()
    val nPer = idx.groupBy(col("it").as("nt")).agg(count(lit(1)).as("n"))
    val reps = s.range(0, BootstrapB.toLong).select(col("id").as("b"))
    val slots = idx.select(col("it").as("event_type")).distinct()
      .join(broadcast(nPer), col("event_type") === col("nt"))
      .crossJoin(broadcast(reps))
      .select(col("event_type"), col("n"), col("b"),
        explode(expr("sequence(0, n - 1)")).as("slot"))
    val draw = slots.withColumn("j",
      pmod(Dsl.md5Hash60(concat(lit("bs:"), col("event_type"), lit(":"),
        col("b").cast("string"), lit(":"), col("slot").cast("string"))), col("n")))
    val means = draw
      .join(idx, col("event_type") === col("it") && col("j") === col("i"))
      .groupBy(col("event_type"), col("b"), col("n"))
      .agg(sum(col("y")).as("sy"))
      .withColumn("m", col("sy").cast("double") / col("n").cast("double"))
    val wr = Window.partitionBy(col("event_type")).orderBy(col("m").asc, col("b").asc)
    val lo = math.ceil(0.05 * BootstrapB).toLong
    val hi = math.ceil(0.95 * BootstrapB).toLong
    val ranked = means.withColumn("rk", row_number().over(wr).cast("bigint"))
    val base = daily.groupBy(col("event_type").as("bt"))
      .agg(count(lit(1)).as("n_days"), sum(col("y")).as("ty"))
    ranked.filter(col("rk") === lo || col("rk") === hi)
      .groupBy(col("event_type"))
      .agg(min(col("m")).as("mlo"), max(col("m")).as("mhi"))
      .join(broadcast(base), col("event_type") === col("bt"))
      .select(col("event_type"), col("n_days"),
        round(col("ty").cast("double") / col("n_days").cast("double") / 100, 2)
          .as("mean_value"),
        round(col("mlo") / 100, 2).as("ci_lo"),
        round(col("mhi") / 100, 2).as("ci_hi"))
      .orderBy("event_type")
  }

  /** Winsorized mean of the daily cents per event_type (the standard
    * robust aggregation for metrics pipelines — clamp, don't drop:
    * values below the 5th / above the 95th order statistic move TO the
    * bound): bounds are the exact k-th order statistics at
    * k = max(1, ⌈0.05n⌉) and n+1−k (dual-rank-free — a single rank
    * filter each), the clamp is integer LEAST/GREATEST, and the mean is
    * one exact-integer sum with a single round-2 display division. */
  def q_agg_winsorized_mean(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(Dsl.rlong(col("value") * 100)).as("y"))
    val wy = Window.partitionBy(col("event_type")).orderBy(col("y").asc, col("day").asc)
    val cw = Window.partitionBy(col("event_type"))
    val ranked = daily
      .withColumn("rn", row_number().over(wy).cast("bigint"))
      .withColumn("n", count(lit(1)).over(cw))
      .withColumn("k", greatest(lit(1L), ceil(col("n") * lit(0.05)).cast("bigint")))
    val bounds = ranked
      .filter(col("rn") === col("k") || col("rn") === col("n") + 1 - col("k"))
      .groupBy(col("event_type").as("bt"))
      .agg(min(col("y")).as("lo"), max(col("y")).as("hi"), max(col("k")).as("kb"))
    ranked.join(broadcast(bounds), col("event_type") === col("bt"))
      .withColumn("w", greatest(col("lo"), least(col("hi"), col("y"))))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n_days"), max(col("kb")).as("k_clamped_each_side"),
        sum(col("w")).as("sw"),
        sum(when(col("y") =!= col("w"), 1L).otherwise(0L)).as("n_clamped"))
      .select(col("event_type"), col("n_days"), col("k_clamped_each_side"),
        col("n_clamped"),
        round(col("sw").cast("double") / col("n_days").cast("double") / 100, 2)
          .as("winsorized_mean"))
      .orderBy("event_type")
  }

  /** Tukey five-number summary + fence outliers per event_type (Tukey
    * 1977 boxplot): quartiles are TUKEY HINGES — the medians of the
    * lower/upper halves including the overall median position when n is
    * odd — so every quantile is a dual-mid-rank median and stays EXACT
    * by doubling (q2 = 2·hinge integer, the med2 device). Fence tests
    * multiply through by 4: y is a low outlier ⟺ 4y < 2·q1₂ − 3·IQR₂
    * (1.5·IQR without ever leaving ℤ). Three dual-rank windows over the
    * calendar-bounded series, display divisions at round-2 only. */
  def q_agg_tukey(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(Dsl.rlong(col("value") * 100)).as("y"))
    val wy = Window.partitionBy(col("event_type")).orderBy(col("y").asc, col("day").asc)
    val cw = Window.partitionBy(col("event_type"))
    val ranked = daily
      .withColumn("rn", row_number().over(wy).cast("bigint"))
      .withColumn("n", count(lit(1)).over(cw))
      .ckpt()
    def med2Of(df: DataFrame, outName: String): DataFrame = {
      val w2 = Window.partitionBy(col("event_type")).orderBy(col("y").asc, col("day").asc)
      val c2 = Window.partitionBy(col("event_type"))
      df.withColumn("r2", row_number().over(w2).cast("bigint"))
        .withColumn("n2", count(lit(1)).over(c2))
        .filter(col("r2") === floor((col("n2") + 1) / 2) ||
          col("r2") === floor((col("n2") + 2) / 2))
        .groupBy(col("event_type").as(outName + "_t"))
        .agg(when(count(lit(1)) === 1, sum(col("y")) * 2).otherwise(sum(col("y")))
          .as(outName))
    }
    // halves INCLUDE the middle position when n is odd (Tukey hinges):
    // lower = ranks 1..⌈n/2⌉, upper = ranks ⌊n/2⌋+1..n
    val lower = ranked.filter(col("rn") <= floor((col("n") + 1) / 2))
    val upper = ranked.filter(col("rn") > floor(col("n") / 2))
    val med = med2Of(ranked, "m2")
    val q1 = med2Of(lower, "q12")
    val q3 = med2Of(upper, "q32")
    val ext = ranked.groupBy(col("event_type").as("et"))
      .agg(max(col("n")).as("n_days"), min(col("y")).as("ymin"),
        max(col("y")).as("ymax"))
    val iqr2 = col("q32") - col("q12")
    val joined = ext
      .join(broadcast(med), col("et") === col("m2_t"))
      .join(broadcast(q1), col("et") === col("q12_t"))
      .join(broadcast(q3), col("et") === col("q32_t"))
    val fences = daily.join(broadcast(joined), col("event_type") === col("et"))
      .groupBy(col("event_type"))
      .agg(sum(when(col("y") * 4 < col("q12") * 2 - iqr2 * 3, 1L).otherwise(0L))
        .as("n_low_out"),
        sum(when(col("y") * 4 > col("q32") * 2 + iqr2 * 3, 1L).otherwise(0L))
        .as("n_high_out"))
    joined.join(broadcast(fences), col("et") === fences("event_type"))
      .select(col("et").as("event_type"), col("n_days"),
        round(col("ymin").cast("double") / 100, 2).as("min_value"),
        round(col("q12").cast("double") / 200, 2).as("q1"),
        round(col("m2").cast("double") / 200, 2).as("median"),
        round(col("q32").cast("double") / 200, 2).as("q3"),
        round(col("ymax").cast("double") / 100, 2).as("max_value"),
        col("n_low_out"), col("n_high_out"))
      .orderBy("event_type")
  }

  /** Wald–Wolfowitz runs test per event_type (1940 — the sign-pattern
    * randomness screen beside Ljung–Box's autocorrelation screen): the
    * day-ordered daily cents classify above/below the median (ties at
    * the exact median drop — the standard convention; the med2 doubled
    * median keeps the tie test EXACT: 2y = med2), R = number of runs =
    * 1 + Σ[sign_t ≠ sign_{t−1}] via one lag over the kept days. Under
    * randomness E[R] = 2n₊n₋/n + 1 and Var from the closed form — both
    * exact-integer-ratio doubles, z pinned, round-6. One keyed sort of
    * the calendar-bounded series. */
  def q_time_runs_test(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(Dsl.rlong(col("value") * 100)).as("y"))
    val wy = Window.partitionBy(col("event_type")).orderBy(col("y").asc, col("day").asc)
    val cw = Window.partitionBy(col("event_type"))
    val med = daily
      .withColumn("rn", row_number().over(wy).cast("bigint"))
      .withColumn("n", count(lit(1)).over(cw))
      .filter(col("rn") === floor((col("n") + 1) / 2) ||
        col("rn") === floor((col("n") + 2) / 2))
      .groupBy(col("event_type").as("mt"))
      .agg(count(lit(1)).as("nm"), sum(col("y")).as("sy"))
      .select(col("mt"),
        when(col("nm") === 1, col("sy") * 2).otherwise(col("sy")).as("med2"))
    val wd = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val signs = daily.join(broadcast(med), col("event_type") === col("mt"))
      .filter(col("y") * 2 =!= col("med2")) // exact-median ties drop
      .withColumn("above", (col("y") * 2 > col("med2")).cast("int"))
      .withColumn("chg",
        when(lag(col("above"), 1).over(wd).isNull, 1)
          .when(lag(col("above"), 1).over(wd) =!= col("above"), 1)
          .otherwise(0))
    val np = col("n_pos").cast("double")
    val nn = col("n_neg").cast("double")
    val n = np + nn
    val er = lit(2.0) * np * nn / n + 1
    val vr = (lit(2.0) * np * nn * (lit(2.0) * np * nn - n)) / (n * n * (n - 1))
    signs.groupBy(col("event_type"))
      .agg(sum(col("above")).as("n_pos"),
        sum(lit(1) - col("above")).as("n_neg"),
        sum(col("chg")).as("n_runs"))
      .select(col("event_type"), col("n_pos"), col("n_neg"), col("n_runs"),
        round(er, 6).as("expected_runs"),
        // degenerate series: vr = 0 exactly when one sign class is empty
        // OR 2·n₊·n₋ = n (i.e. n₊ = n₋ = 1) — guard the FULL condition so
        // z is NULL in BOTH engines, never an engine-specific ±Inf/NaN
        // (Spark double/0 → ±Inf, DuckDB → NULL; ADVICE r8)
        when(col("n_pos") === 0 || col("n_neg") === 0 ||
            col("n_pos") * col("n_neg") * 2 === col("n_pos") + col("n_neg"),
            lit(null).cast("double"))
          .otherwise(round((col("n_runs").cast("double") - er) / sqrt(vr), 6))
          .as("z"))
      .orderBy("event_type")
  }

  /** Ljung–Box lag horizon. */
  val LjungBoxLags = 7

  /** Ljung–Box portmanteau white-noise test per event_type (Ljung & Box
    * 1978 — the joint-significance companion to the per-lag q_time_
    * autocorr screen): Q = n(n+2)·Σ_{k=1..m} r_k²/(n−k) over lags 1..7
    * of the daily cents series, with the CANONICAL full-series
    * mean-centered r_k (shared ȳ and denominator, unlike the pairwise
    * Pearson the autocorr op reports). Exactness: residuals are scaled
    * to integers e_t = n·y_t − Σy (|e| ≤ ~9e8 ⇒ products ≤ 8e17, safe
    * in the DECIMAL(38,0) sums), r_k = exact-int ratio in ONE pinned
    * division; the r²/(n−k) terms round-9 → exact DECIMAL sum; gap
    * days simply drop their pairs (the join is day-index-exact), making
    * this the gap-tolerant variant — documented, identical both
    * engines. One keyed lag join over the calendar-bounded series. */
  def q_time_ljungbox(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(Dsl.rlong(col("value") * 100)).as("y"))
      .select(col("event_type"),
        datediff(col("day"), lit("2024-01-01").cast("date")).cast("bigint").as("x"),
        col("y"))
    val stats = daily.groupBy(col("event_type").as("st"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("sy"))
    val resid = daily.join(broadcast(stats), col("event_type") === col("st"))
      .select(col("event_type"), col("x"),
        (col("y") * col("n") - col("sy")).as("e"), col("n"))
      .ckpt()
    val lags = s.range(1, LjungBoxLags + 1L).select(col("id").as("lag"))
    val num = resid.crossJoin(broadcast(lags))
      .join(resid.select(col("event_type").as("e2t"), col("x").as("x2"),
          col("e").as("e2")),
        col("event_type") === col("e2t") && col("x") === col("x2") + col("lag"))
      .groupBy(col("event_type"), col("lag"), col("n"))
      // widen BEFORE the multiply (round-11 review): e ~ n·(y−ȳ) can
      // exceed 3e9 at corpus scale, so e·e overflows BIGINT per-term
      .agg(sum(col("e").cast("decimal(38,0)") * col("e2")).as("nk"))
    val den = resid.groupBy(col("event_type").as("dt"))
      .agg(sum(col("e").cast("decimal(38,0)") * col("e")).as("d"))
    val r = col("nk").cast("double") / col("d").cast("double")
    val term = round(r * r / (col("n") - col("lag")).cast("double"), 9)
      .cast("decimal(28,9)")
    num.join(broadcast(den), col("event_type") === col("dt"))
      .select(col("event_type"), col("n"), term.as("term"))
      .groupBy(col("event_type"), col("n"))
      .agg(sum(col("term")).as("qs"))
      .select(col("event_type"), col("n").as("n_days"),
        round(col("n").cast("double") * (col("n") + 2).cast("double") *
          col("qs").cast("double"), 6).as("q_stat"),
        lit(LjungBoxLags).cast("bigint").as("df"))
      .orderBy("event_type")
  }

  /** Markov stationary-distribution power-iteration depth. */
  val MarkovIters = 8

  /** Per-user event-type Markov chain + stationary distribution (the
    * behavioral transition matrix every journey analysis starts from,
    * plus where the chain settles): transitions = consecutive event
    * pairs per user in (ts, event_id) order — one keyed lead window;
    * P(from→to) = exact-count rational, ONE pinned division; π from 8
    * unrolled power-iteration steps over the k×k matrix starting
    * uniform, each step's Σ_from π·p terms rounded at the 9th decimal
    * into exact DECIMAL sums (order-blind — the PSI device). Output per
    * (from,to): count, p, and π(from). Everything after the lead window
    * is k²-bounded. */
  def q_time_markov(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val trans = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n_trans"))
    markovFrom(s, trans)
  }

  /** Shared Markov assembly over a (from_type, to_type, n_trans) table —
    * consumed by the batch lead-window operator AND the streaming
    * per-user last-event maintainer (one oracle for both; the
    * q_stream_chi2 shared-assembly device). */
  private def markovFrom(s: SparkSession, trans: DataFrame): DataFrame = {
    val outT = trans.groupBy(col("from_type").as("of"))
      .agg(sum(col("n_trans")).as("out_tot"))
    val pTab = trans.join(broadcast(outT), col("from_type") === col("of"))
      .select(col("from_type"), col("to_type"), col("n_trans"),
        (col("n_trans").cast("double") / col("out_tot").cast("double")).as("p"))
      .ckpt()
    val k = pTab.select(col("from_type")).distinct().count().toDouble
    var pi = pTab.select(col("from_type").as("state")).distinct()
      .select(col("state"), lit(1.0 / k).as("pi"))
    for (_ <- 1 to MarkovIters) {
      pi = pTab
        .join(broadcast(pi.select(col("state").as("ps"), col("pi"))),
          col("from_type") === col("ps"))
        .groupBy(col("to_type"))
        .agg(sum(round(col("pi") * col("p"), 9).cast("decimal(28,9)"))
          .cast("double").as("pi"))
        .select(col("to_type").as("state"), col("pi"))
    }
    // LEFT join + 0 fallback (round-11 review): a from-only state (one
    // that never appears as a destination) has no π row after the first
    // iteration; an inner join would silently drop its transition rows
    pTab.join(broadcast(pi.select(col("state").as("sf"), col("pi").as("pi_from"))),
        col("from_type") === col("sf"), "left_outer")
      .select(col("from_type"), col("to_type"), col("n_trans"),
        round(col("p"), 6).as("p"),
        round(coalesce(col("pi_from"), lit(0.0)), 6).as("pi_from"))
      .orderBy("from_type", "to_type")
  }

  // ---- Streaming Markov maintainer (round 16) --------------------------
  // Keyed-state twin of q_time_markov: per USER the state is the last
  // seen event (ts-micros, event_id, type) — 3 fields, constant per
  // user — and each batch emits the transition pairs it completes,
  // including the pair that SPANS the batch boundary (the state's whole
  // point). Within a batch events sort by (ts, event_id); batches are
  // assumed time-ordered per key (the source contract of every
  // maintainer in this tier). The matrix + stationary distribution run
  // at snapshot time through the SAME markovFrom assembly as the batch
  // operator, so both share one oracle.

  case class MkEv(user_id: Long, event_id: Long, us: Long, etype: String)
  case class MkTrans(from_type: String, to_type: String)

  /** State: the last event (us, event_id, type); a null type = none yet. */
  val markovFold: Keyed.Fold[MkEv, Long, (Long, Long, String), MkTrans] =
    Keyed.fold((e: MkEv) => e.user_id, (0L, 0L, null: String)) { (_, st, it) =>
      val out = scala.collection.mutable.ArrayBuffer.empty[MkTrans]
      val last = it.toSeq.sortBy(e => (e.us, e.event_id)).foldLeft(st) { (c, e) =>
        if (c._3 != null) out += MkTrans(c._3, e.etype)
        (e.us, e.event_id, e.etype)
      }
      (last, out.iterator)
    }

  /** Driver-contract query: the streaming transition maintainer; the
    * emitted pairs feed the shared Markov assembly. */
  def q_stream_markov(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = Keyed.run(Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        col("event_type").as("etype"))
      .as[MkEv], markovFold)
      .toDF()
    markovFrom(s, pairs.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_trans")))
  }

  /** Cross-correlation lags (±1..3 plus 0). */
  val XcorrLags: Seq[Int] = Seq(-3, -2, -1, 0, 1, 2, 3)

  /** Lead–lag cross-correlation between the click and purchase daily
    * value series (the "does spend follow clicks?" screen — the
    * cross-series companion to q_time_autocorr, same exact-moment
    * device): for each lag k ∈ −3..3, Pearson corr(click_{t−k},
    * purchase_t) over DATE-aligned pairs (gap-safe; gap days drop their
    * pairs). Moments are exact DECIMAL(38,0) sums of cents products;
    * the correlation is ONE pinned double expression. Calendar-bounded
    * work per lag at any corpus scale. */
  def q_time_xcorr(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(Dsl.rlong(col("value") * 100)).as("y"))
    val clicks = daily.filter(col("event_type") === "click")
      .select(col("day").as("cd"), col("y").as("x"))
    val buys = daily.filter(col("event_type") === "purchase")
      .select(col("day").as("pd"), col("y").as("yv"))
    val lags = s.range(0, 1)
      .select(explode(array(XcorrLags.map(k => lit(k)): _*)).as("lag"))
    val pairs = buys.crossJoin(broadcast(lags))
      .join(clicks, col("cd") === expr("date_add(pd, -lag)"))
    def dsum(c: org.apache.spark.sql.Column, n: String) =
      sum(c).cast("double").as(n)
    // products widened BEFORE the multiply (round-11 review): a daily
    // series past ~3e9 cents would overflow the BIGINT per-term square
    val xd = col("x").cast("decimal(38,0)")
    val yd = col("yv").cast("decimal(38,0)")
    val agg = pairs.groupBy(col("lag")).agg(
      count(lit(1)).as("n_pairs"),
      dsum(xd, "sx"), dsum(yd, "sy"),
      dsum(xd * col("x"), "sxx"), dsum(yd * col("yv"), "syy"),
      dsum(xd * col("yv"), "sxy"))
    val n = col("n_pairs").cast("double")
    agg.select(col("lag").cast("bigint").as("lag"), col("n_pairs"),
        round((n * col("sxy") - col("sx") * col("sy"))
          / (sqrt(n * col("sxx") - col("sx") * col("sx"))
            * sqrt(n * col("syy") - col("sy") * col("sy"))), 6).as("xcorr"))
      .orderBy("lag")
  }

  /** Theil-U forecastability screen per event_type (Theil 1966's U₂
    * specialized to the two benchmark forecasts every capacity model
    * starts from): over the daily cents series, U = RMSE(naive-1) /
    * RMSE(mean) — U < 1 says yesterday's value beats the historical
    * mean (the series trends/has momentum and a time-series model is
    * worth fitting); U ≥ 1 says it mean-reverts within a day and the
    * mean is already the better forecast. Both error sums run over the
    * SAME t=2..n rows: with d_t = y_t − y_{t−1},
    * U² = n·Σd² / (n·Σy² − (Σy)²). Diffs via one keyed lag window;
    * squares DECIMAL(38,0)-widened BEFORE the multiply (the xcorr
    * overflow convention); U is ONE pinned double with the nullif
    * guard for a constant series. Work: one window + one keyed agg. */
  def q_time_theil_u(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(Dsl.rlong(col("value") * 100)).as("y"))
      .withColumn("yp", lag(col("y"), 1).over(w))
      .filter(col("yp").isNotNull)
    val yd = col("y").cast("decimal(38,0)")
    val dd = (col("y") - col("yp")).cast("decimal(38,0)")
    val agg = daily.groupBy(col("event_type")).agg(
      count(lit(1)).as("n_diffs"),
      sum(yd).cast("double").as("sy"),
      sum(yd * col("y")).cast("double").as("syy"),
      sum(dd * (col("y") - col("yp"))).cast("double").as("sdd"))
    val n = col("n_diffs").cast("double")
    agg.select(col("event_type"), col("n_diffs"),
        round(sqrt(n * col("sdd")
          / nullif(n * col("syy") - col("sy") * col("sy"), lit(0d))), 6)
          .as("theil_u"))
      .orderBy("event_type")
  }

  /** R/S block sizes for the Hurst screen (shared with the oracle). */
  val HurstBlocks = Seq(4, 8, 12)

  /** Hurst exponent screen via rescaled-range analysis (Hurst 1951;
    * Mandelbrot–Wallis 1969 — the long-memory diagnostic: H≈0.5 random
    * walk, H>0.5 persistent/trending, H<0.5 mean-reverting — the
    * long-horizon complement to q_time_theil_u's one-step ratio) over
    * the GLOBAL daily cents series: for each block size m ∈ {4,8,12} (the events fixture spans 30
    * calendar days at every sf — the sizes keep all three legs
    * non-degenerate; at a longer calendar swap in dyadic sizes)
    * the series splits into ⌊n/m⌋ full blocks; per block the rescaled
    * range R/S with R from cumulative deviations and S the population
    * σ. Everything before the final doubles is exact: the cumulative
    * deviation is computed ×m (m·Z_i = m·cum_i − i·Σy, exact DECIMAL),
    * so R/S = (m·R)/(m·S) needs no rational μ; blocks with σ = 0 are
    * excluded in both engines. Ĥ = OLS slope of ln(mean R/S) on ln m
    * over the ≤3 (m, mean) points with round-9 DECIMAL term sums. The
    * only corpus-scale work is the daily aggregation; the windows run
    * on the calendar-bounded series. */
  def q_time_hurst(s: SparkSession, dir: String): DataFrame = {
    val rn = Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(Dsl.rlong(col("value") * 100)).as("y"))
      .withColumn("t", row_number().over(Window.orderBy(col("day"))))
      .ckpt("hurst_spine") // calendar-bounded; read once per block-size leg
    def leg(m: Int): DataFrame = {
      val base = rn.select(col("t"), col("y"),
        expr(s"(t - 1) div $m").as("blk"),
        expr(s"t - ((t - 1) div $m) * $m").as("i"))
      val wc = Window.partitionBy(col("blk")).orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = base.withColumn("cum",
        sum(col("y").cast("decimal(38,0)")).over(wc))
      val bstats = base.groupBy(col("blk").as("bb"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("y").cast("decimal(38,0)")).as("sy"),
          sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"))
        .filter(col("cnt") === m)
      val z = cum.join(bstats, col("blk") === col("bb"))
        .select(col("blk"), col("sy"), col("syy"),
          (lit(m).cast("decimal(38,0)") * col("cum")
            - col("i").cast("decimal(38,0)") * col("sy")).as("mz"))
      val rs = z.groupBy(col("blk"), col("sy"), col("syy"))
        .agg(max(col("mz")).as("zmax"), min(col("mz")).as("zmin"))
        .select(col("blk"),
          (col("zmax") - col("zmin")).cast("double").as("rm"),
          (lit(m).cast("double") * col("syy").cast("double")
            - col("sy").cast("double") * col("sy").cast("double")).as("den"))
        .filter(col("den") > 0)
        .select((col("rm") / sqrt(col("den"))).as("rs"))
      rs.agg(count(lit(1)).as("n_blocks"),
          sum(round(col("rs"), 9).cast("decimal(28,9)")).as("rssum"))
        .select(lit(m).cast("bigint").as("block_m"), col("n_blocks"),
          (col("rssum").cast("double") / col("n_blocks").cast("double"))
            .as("rs_mean"))
    }
    val xy = HurstBlocks.map(leg).reduce(_ unionByName _)
      .filter(col("n_blocks") > 0)
      .select(col("block_m"), col("n_blocks"), col("rs_mean"),
        log(col("block_m").cast("double")).as("x"), log(col("rs_mean")).as("y"))
      .ckpt()
    val sl = xy.agg(count(lit(1)).as("k"),
        sum(round(col("x"), 9).cast("decimal(28,9)")).cast("double").as("sx"),
        sum(round(col("y"), 9).cast("decimal(28,9)")).cast("double").as("sy"),
        sum(round(col("x") * col("y"), 9).cast("decimal(28,9)")).cast("double").as("sxy"),
        sum(round(col("x") * col("x"), 9).cast("decimal(28,9)")).cast("double").as("sxx"))
      .select(round((col("k").cast("double") * col("sxy") - col("sx") * col("sy"))
        / nullif(col("k").cast("double") * col("sxx") - col("sx") * col("sx"),
          lit(0d)), 6).as("hurst"))
    xy.crossJoin(broadcast(sl))
      .select(col("block_m"), col("n_blocks"),
        round(col("rs_mean"), 6).as("rs_mean"), col("hurst"))
      .orderBy("block_m")
  }

  /** Repurchase-timing survival curve (the Kaplan–Meier-flavored view
    * of inter-order gaps — "what share of repurchases take ≥ k
    * weeks?"): consecutive order gaps per customer via ONE keyed lead
    * window in (date, orderkey) order, bucketed into whole weeks
    * (integer div), per-bucket counts plus the survival share
    * S(k) = #(gap_week ≥ k)/total as an exact running-count division.
    * Gap work is per-customer-order-bounded; the survival table is
    * week-bounded. */
  def q_agg_survival_curve(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val gaps = Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
      .withColumn("next_date", lead(col("o_orderdate"), 1).over(w))
      .filter(col("next_date").isNotNull)
      .select(expr("datediff(next_date, o_orderdate) div 7").as("gap_week"))
    val hist = gaps.groupBy(col("gap_week")).agg(count(lit(1)).as("n_gaps"))
    val wTot = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wGe = Window.orderBy(col("gap_week"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    hist
      .withColumn("n_ge", sum(col("n_gaps")).over(wGe))
      .withColumn("tot", sum(col("n_gaps")).over(wTot))
      .select(col("gap_week"), col("n_gaps"),
        round(col("n_ge").cast("double") / col("tot").cast("double"), 6)
          .as("survival"))
      .orderBy("gap_week")
  }

  /** PACF depth (Durbin–Levinson levels). */
  val PacfLags = 3

  /** Partial autocorrelation (PACF, lags 1..3) of the daily value
    * series per event_type via Durbin–Levinson over the SAME
    * mean-centered integer-residual autocorrelations as q_time_ljungbox
    * (one r_k convention across the diagnostics tier — the AR-order
    * screen every Box–Jenkins fit starts from): r_k from exact
    * DECIMAL(38,0) residual-product sums and ONE pinned division each;
    * φ₁₁ = r₁, φ₂₂ = (r₂−r₁²)/(1−r₁²), φ₂₁ = r₁(1−φ₂₂),
    * φ₃₃ = (r₃−φ₂₁r₂−φ₂₂r₁)/(1−φ₂₁r₁−φ₂₂r₂) — pinned-order scalar
    * doubles on k×1 rows. Gap days drop their pairs (the documented
    * ljungbox variant). */
  def q_time_pacf(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(Dsl.rlong(col("value") * 100)).as("y"))
      .select(col("event_type"),
        datediff(col("day"), lit("2024-01-01").cast("date")).cast("bigint").as("x"),
        col("y"))
    val stats = daily.groupBy(col("event_type").as("st"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("sy"))
    val resid = daily.join(broadcast(stats), col("event_type") === col("st"))
      .select(col("event_type"), col("x"),
        (col("y") * col("n") - col("sy")).as("e"))
      .ckpt()
    val lags = s.range(1, PacfLags + 1L).select(col("id").as("lag"))
    val num = resid.crossJoin(broadcast(lags))
      .join(resid.select(col("event_type").as("e2t"), col("x").as("x2"),
          col("e").as("e2")),
        col("event_type") === col("e2t") && col("x") === col("x2") + col("lag"))
      .groupBy(col("event_type"), col("lag"))
      // widen BEFORE the multiply — same overflow class as ljungbox
      .agg(sum(col("e").cast("decimal(38,0)") * col("e2")).as("nk"))
    val den = resid.groupBy(col("event_type").as("dt"))
      .agg(sum(col("e").cast("decimal(38,0)") * col("e")).as("d"))
    val r = col("nk").cast("double") / col("d").cast("double")
    val wide = num.join(broadcast(den), col("event_type") === col("dt"))
      .select(col("event_type"), col("lag"), r.as("r"))
      .groupBy(col("event_type"))
      .agg(max(when(col("lag") === 1, col("r"))).as("r1"),
        max(when(col("lag") === 2, col("r"))).as("r2"),
        max(when(col("lag") === 3, col("r"))).as("r3"))
    val phi11 = col("r1")
    val phi22 = (col("r2") - col("r1") * col("r1")) /
      (lit(1.0) - col("r1") * col("r1"))
    val phi21 = col("r1") * (lit(1.0) - phi22)
    val phi33 = (col("r3") - phi21 * col("r2") - phi22 * col("r1")) /
      (lit(1.0) - phi21 * col("r1") - phi22 * col("r2"))
    wide.select(col("event_type"), explode(array(
        struct(lit(1L).as("lag"), round(col("r1"), 6).as("acf"),
          round(phi11, 6).as("pacf")),
        struct(lit(2L).as("lag"), round(col("r2"), 6).as("acf"),
          round(phi22, 6).as("pacf")),
        struct(lit(3L).as("lag"), round(col("r3"), 6).as("acf"),
          round(phi33, 6).as("pacf")))).as("t"))
      .select(col("event_type"), col("t.lag"), col("t.acf"), col("t.pacf"))
      .orderBy("event_type", "lag")
  }

  /** Permutation-test replicates. */
  val PermB = 64

  /** Deterministic permutation test of the ref-vs-current daily-mean
    * difference per event_type (Fisher 1935 exact-test logic via the
    * md5-seeded shuffler — the nonparametric EXACT companion to the
    * Welch t (parametric) and KS (distribution-free) screens, sharing
    * their 2024-01-15 split): observed statistic = |mean_ref − mean_cur|
    * in exact cents; each of B=64 permutations reassigns days to a
    * pseudo-ref group of the SAME size by ranking md5('pm:type:b:x')
    * (a seeded uniform shuffle — rank < n_ref picks the permuted ref
    * set); p = (1 + #{permutations with |diff| ≥ observed}) / (B + 1)
    * (the add-one unbiased form). All sums exact integers; the ≥
    * compare cross-multiplies to integer form so no float decides a
    * tie. Work = B×days per type — calendar-bounded (the bootstrap
    * device). */
  def q_agg_permutation_test(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(Dsl.rlong(col("value") * 100)).as("y"))
      .withColumn("x",
        datediff(col("day"), lit("2024-01-01").cast("date")).cast("bigint"))
      .withColumn("is_ref", col("day") <= lit("2024-01-15").cast("date"))
      .ckpt()
    val sizes = daily.groupBy(col("event_type").as("st"))
      .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("nr"),
        count(lit(1)).as("n"))
    // observed |mean_ref − mean_cur| cross-multiplied to integer form:
    // |sr·nc − sc·nr| with denominators carried separately
    val obs = daily.groupBy(col("event_type").as("ot"))
      .agg(sum(when(col("is_ref"), col("y")).otherwise(0L)).as("sr"),
        sum(when(!col("is_ref"), col("y")).otherwise(0L)).as("sc"),
        sum(when(col("is_ref"), 1L).otherwise(0L)).as("onr"),
        sum(when(!col("is_ref"), 1L).otherwise(0L)).as("onc"))
    val reps = s.range(0, PermB.toLong).select(col("id").as("b"))
    val wp = Window.partitionBy(col("event_type"), col("b"))
      .orderBy(col("h").asc, col("x").asc)
    val perm = daily.crossJoin(broadcast(reps))
      .withColumn("h", Dsl.md5Hash60(concat(lit("pm:"), col("event_type"),
        lit(":"), col("b").cast("string"), lit(":"), col("x").cast("string"))))
      .withColumn("rk", row_number().over(wp).cast("bigint"))
      .join(broadcast(sizes), col("event_type") === col("st"))
      .withColumn("p_ref", col("rk") <= col("nr"))
    val pstat = perm.groupBy(col("event_type"), col("b"), col("nr"), col("n"))
      .agg(sum(when(col("p_ref"), col("y")).otherwise(0L)).as("psr"),
        sum(when(!col("p_ref"), col("y")).otherwise(0L)).as("psc"))
    // permuted group sizes equal (nr, n−nr) by construction, so the
    // cross-multiplied |diff| compare shares one denominator and stays
    // ALL integer: |psr·nc − psc·nr| ≥ |sr·nc − sc·nr|
    val cmp = pstat.join(broadcast(obs), col("event_type") === col("ot"))
      .withColumn("pd", abs(col("psr") * col("onc") - col("psc") * col("onr")))
      .withColumn("od", abs(col("sr") * col("onc") - col("sc") * col("onr")))
    cmp.groupBy(col("event_type"), col("onr"), col("onc"),
        col("sr"), col("sc"), col("od"))
      .agg(sum(when(col("pd") >= col("od"), 1L).otherwise(0L)).as("ge"))
      .select(col("event_type"),
        col("onr").as("n_ref"), col("onc").as("n_cur"),
        round((col("sr").cast("double") / col("onr").cast("double") -
          col("sc").cast("double") / col("onc").cast("double")) / 100, 2)
          .as("mean_diff"),
        round((col("ge") + 1).cast("double") / (PermB + 1), 6).as("p_value"))
      .orderBy("event_type")
  }

  /** Candidate periods (days) for the periodogram. */
  val PeriodogramPeriods = Seq(7, 14)

  /** Shared integer trig table for the periodogram: x mod T visits at
    * most T distinct angles, so the 1e9-scaled cos/sin factors are
    * materialized ONCE here (StrictMath + BigDecimal HALF_UP) and fed
    * as LITERALS into both the Spark plan and the DuckDB oracle SQL.
    * Neither engine's libm ever runs on the hot path, which removes the
    * residual ulp-boundary risk of ROUND(cos·1e9, 0) straddling a .5
    * differently across libms (round-8 ADVICE): the factor integers are
    * definitionally identical in both engines. Rows: Σ T = 21. */
  val PeriodogramTrig: Seq[(Int, Int, Long, Long)] =
    PeriodogramPeriods.flatMap { t =>
      (0 until t).map { m =>
        val th = 2.0 * math.Pi * m.toDouble / t.toDouble
        def i9(v: Double): Long =
          BigDecimal(v * 1e9).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLongExact
        (t, m, i9(StrictMath.cos(th)), i9(StrictMath.sin(th)))
      }
    }

  /** Schuster periodogram of the daily cents series per event_type at
    * the calendar-meaningful candidate periods (7/14 days — the weekly
    * seasonality screen beside Holt-Winters/seasonal-decompose; Schuster
    * 1898): C = Σ y·cos(2πx/T), S = Σ y·sin(2πx/T), reported as the
    * fitted-sinusoid semi-amplitude 2·√(C²+S²)/n (dollars). Cross-engine
    * determinism, two devices: (1) trig factors come from the SHARED
    * driver-materialized integer table PeriodogramTrig (x mod T → 1e9-
    * scaled c9/s9 literals injected into both engines — no engine libm
    * on the hot path, so no ulp-boundary risk; round-8 hardening),
    * so each y·cos term and both sums are exact integers (≤3e17 at
    * sf0.1 — headroom to ~2e9 daily cents/type before the DECIMAL swap,
    * the adamic_adar convention); (2) the OUTPUT is amplitude, not raw
    * power — power ~1.5e12 made the final display round itself diverge
    * (ROUND(x,3) computes x·1000 > 2^53 in DuckDB), while amplitude
    * ~1e3 rounds exactly everywhere. sqrt is IEEE-correctly-rounded, so
    * the pinned double combination is bit-identical. One keyed
    * aggregation per (type, period); the period spine is 2 rows. */
  def q_time_periodogram(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(Dsl.rlong(col("value") * 100)).as("y"))
      .select(col("event_type"),
        datediff(col("day"), lit("2024-01-01").cast("date")).cast("bigint").as("x"),
        col("y"))
    import s.implicits._
    val trig = PeriodogramTrig.toDF("t", "m", "c9", "s9")
    val csd = col("cs").cast("double") / 1e9
    val ssd = col("ss").cast("double") / 1e9
    daily.join(broadcast(trig), pmod(col("x"), col("t").cast("bigint")) === col("m"))
      .select(col("event_type"), col("t"), col("y"), col("c9"), col("s9"))
      .groupBy(col("event_type"), col("t"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("y") * col("c9")).as("cs"),
        sum(col("y") * col("s9")).as("ss"))
      .select(col("event_type"), col("t").as("period_days"), col("n_days"),
        round(sqrt(csd * csd + ssd * ssd) * lit(2.0) /
          col("n_days").cast("double") / lit(100.0), 3).as("amplitude"))
      .orderBy("event_type", "period_days")
  }

  /** Theil–Sen robust trend slope per event_type (Theil 1950, Sen 1968 —
    * the median-of-pairwise-slopes estimator, 29% breakdown vs OLS's 0):
    * over the daily cents series (x = day index, y = exact cents),
    * slope_ij = (y_j − y_i)/(x_j − x_i) for all i<j, median by the
    * dual-mid-rank device (lo = ⌊(n+1)/2⌋, hi = ⌊(n+2)/2⌋ — one row when
    * n is odd, two averaged when even). Determinism: each slope is
    * round-9 BEFORE ranking; the sort key appends the exact integer
    * (dy, dx, x_i) triple so true ties order identically in both
    * engines; the final average is over ≤2 doubles (commutative).
    * The pair set is calendar-bounded (days², ~435/type at 30 days) —
    * independent of event count, so the keyed window never sees
    * fact-table cardinality at any corpus scale. */
  def q_agg_theil_sen(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(Dsl.rlong(col("value") * 100)).as("y"))
      .select(col("event_type"),
        datediff(col("day"), lit("2024-01-01").cast("date")).cast("bigint").as("x"),
        col("y"))
    val a = daily.select(col("event_type"), col("x").as("x1"), col("y").as("y1"))
    val b = daily.select(col("event_type").as("et2"), col("x").as("x2"),
      col("y").as("y2"))
    val pairs = a.join(b, col("event_type") === col("et2") && col("x1") < col("x2"))
      .withColumn("dy", col("y2") - col("y1"))
      .withColumn("dx", col("x2") - col("x1"))
      .withColumn("slope",
        round(col("dy").cast("double") / col("dx").cast("double"), 9))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("slope").asc, col("dy").asc, col("dx").asc, col("x1").asc)
    val cw = Window.partitionBy(col("event_type"))
    pairs
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .withColumn("np", count(lit(1)).over(cw))
      .filter(col("rn") === floor((col("np") + 1) / 2) ||
        col("rn") === floor((col("np") + 2) / 2))
      .groupBy(col("event_type"))
      .agg(max(col("np")).as("n_pairs"), count(lit(1)).as("nm"),
        sum(col("slope")).as("ss"))
      .select(col("event_type"), col("n_pairs"),
        round(col("ss") / col("nm"), 6).as("slope_cents_per_day"))
      .orderBy("event_type")
  }

  /** Hodges–Lehmann robust location estimator per event_type (Hodges &
    * Lehmann 1963 — the pseudo-median: median of all pairwise Walsh
    * averages (y_i+y_j)/2, i ≤ j; the location companion to Theil–Sen's
    * slope, 29% breakdown): Walsh averages stay EXACT by doubling —
    * w2 = y_i + y_j is an exact integer (the q_time_mad med2 device), so
    * ranking, the dual-mid-rank median, and the final display division
    * never meet a float until round-2. Pair count is calendar-bounded
    * (days(days+1)/2 per type). */
  def q_agg_hodges_lehmann(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(Dsl.rlong(col("value") * 100)).as("y"))
      .select(col("event_type"),
        datediff(col("day"), lit("2024-01-01").cast("date")).cast("bigint").as("x"),
        col("y"))
    val a = daily.select(col("event_type"), col("x").as("x1"), col("y").as("y1"))
    val b = daily.select(col("event_type").as("et2"), col("x").as("x2"),
      col("y").as("y2"))
    val pairs = a.join(b, col("event_type") === col("et2") && col("x1") <= col("x2"))
      .withColumn("w2", col("y1") + col("y2")) // 2× the Walsh average, exact
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("w2").asc, col("x1").asc, col("x2").asc)
    val cw = Window.partitionBy(col("event_type"))
    pairs
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .withColumn("np", count(lit(1)).over(cw))
      .filter(col("rn") === floor((col("np") + 1) / 2) ||
        col("rn") === floor((col("np") + 2) / 2))
      .groupBy(col("event_type"))
      .agg(max(col("np")).as("n_pairs"), count(lit(1)).as("nm"),
        sum(col("w2")).as("sw"))
      // pseudo-median in dollars: Σmid·2/nm halves the doubled average,
      // then /2 for the Walsh mean, then /100 cents→dollars — one
      // combined division (·2/nm/2/100 = /(nm·100)) keeps it exact-int
      // over exact-int until the single round-2
      .select(col("event_type"), col("n_pairs"),
        round(col("sw").cast("double") /
          (col("nm") * 2).cast("double") / 100, 2).as("pseudo_median"))
      .orderBy("event_type")
  }

  /** MAD robust outlier screen per event_type (Hampel 1974; the robust
    * z-score replacing mean/stddev with median/MAD): daily cents y,
    * med = median(y), MAD = median(|y − med|), outlier ⟺
    * |y − med| > 3·1.4826·MAD. EVERYTHING stays exact integers: medians
    * via the dual-mid-rank device kept DOUBLED (med2 = 2·median and
    * mad4 = 4·MAD are exact integer cents — a mid-pair average never
    * leaves ℤ/2), and the flag cross-multiplies to
    * 20000·|2y − med2| > 44478·mad4 (3·1.4826 = 4.4478 exactly, a
    * 4-decimal rational) — no float appears anywhere before the two
    * round-2/round-4 display divisions. Both median windows are keyed by
    * event_type and calendar-bounded. */
  def q_time_mad(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(Dsl.rlong(col("value") * 100)).as("y"))
    // med2 = 2·median(y), exact integer
    val wy = Window.partitionBy(col("event_type")).orderBy(col("y").asc, col("day").asc)
    val cw = Window.partitionBy(col("event_type"))
    val med = daily
      .withColumn("rn", row_number().over(wy).cast("bigint"))
      .withColumn("n", count(lit(1)).over(cw))
      .filter(col("rn") === floor((col("n") + 1) / 2) ||
        col("rn") === floor((col("n") + 2) / 2))
      .groupBy(col("event_type").as("mt"))
      .agg(count(lit(1)).as("nm"), sum(col("y")).as("sy"), max(col("n")).as("n_days"))
      .select(col("mt"), col("n_days"),
        when(col("nm") === 1, col("sy") * 2).otherwise(col("sy")).as("med2"))
    val dev = daily.join(broadcast(med), col("event_type") === col("mt"))
      .withColumn("d2", abs(col("y") * 2 - col("med2")))
    // mad4 = 4·MAD = 2·median(d2), exact integer
    val wd = Window.partitionBy(col("event_type")).orderBy(col("d2").asc, col("day").asc)
    val mad = dev
      .withColumn("rn", row_number().over(wd).cast("bigint"))
      .withColumn("n", count(lit(1)).over(cw))
      .filter(col("rn") === floor((col("n") + 1) / 2) ||
        col("rn") === floor((col("n") + 2) / 2))
      .groupBy(col("event_type").as("dt"))
      .agg(count(lit(1)).as("nm"), sum(col("d2")).as("sd"))
      .select(col("dt"),
        when(col("nm") === 1, col("sd") * 2).otherwise(col("sd")).as("mad4"))
    dev.join(broadcast(mad), col("event_type") === col("dt"))
      .groupBy(col("event_type"), col("n_days"), col("med2"), col("mad4"))
      .agg(sum(when(col("d2") * 20000 > col("mad4") * 44478, 1L).otherwise(0L))
        .as("n_outliers"))
      .select(col("event_type"), col("n_days"),
        round(col("med2").cast("double") / 200, 2).as("median_value"),
        round(col("mad4").cast("double") / 400, 4).as("mad_value"),
        col("n_outliers"))
      .orderBy("event_type")
  }

  // ---- Streaming exponentially-decayed heavy hitters --------------------
  // Per-day half-life decayed event counts per event_type (the decayed
  // frequency monitor behind trending-topics / hot-key detection):
  //   w ← w · 2^−Δdays + count_day,   halving per day.
  // EXACT: the decay factor is the reciprocal of a power of two
  // (1/(1<<Δ) — division by 2^k is always exact in IEEE), daily counts
  // ≤ ~2^10 and the horizon ≤ 30 days, so every state value is a dyadic
  // rational with ≤ 2^29 denominator and < 2^53 total bits — the
  // recursion AND the closed form Σ cnt_d·2^−(T−d) are the same exact
  // number, order-blind, in both engines (the oracle uses the closed
  // form; zero rounding until the round-6 display).
  case class DecayIn(etype: String, x: Long, c: Long)
  case class DecayState(lastX: Long, w: Double, nDays: Long)
  case class DecaySnap(event_type: String, n_days: Long, last_x: Long, w_raw: Double)

  /** Keeps the day count in its state, so `n_days` covers the whole
    * stream, not the key's last micro-batch. */
  val decayFold: Keyed.Fold[DecayIn, String, DecayState, DecaySnap] =
    Keyed.fold((e: DecayIn) => e.etype, DecayState(Long.MinValue, 0.0, 0L)) { (key, st0, it) =>
      var st = st0
      it.toArray.sortBy(_.x).foreach { e =>
        val dx = if (st.lastX == Long.MinValue) 0L else e.x - st.lastX
        // Overflow-guard equivalence domain (ADVICE r8): this zeroes
        // per-STEP at dx ≥ 63 (1L << 63 would overflow) while the oracle
        // zeroes per-TERM at total distance tmax − x ≥ 63. The two are
        // bit-identical exactly while the calendar span stays < 63 days
        // (true for the 30-day fixture and pinned by the oracle's
        // matching shift guard); a wider calendar would leave a 2^-63-
        // scale nonzero here that the oracle makes exact 0 — invisible
        // after the round-6 display but not raw-bit-equal. Widening the
        // calendar requires revisiting BOTH guards together.
        val decay = if (dx >= 63) 0.0 else 1.0 / (1L << dx).toDouble
        st = DecayState(e.x, st.w * decay + e.c, st.nDays + 1)
      }
      (st, Iterator.single(DecaySnap(key, st.nDays, st.lastX, st.w)))
    }

  /** Driver-contract query: decayed heavy hitters over the daily count
    * series — the keyed-state maintainer (8 bytes weight + 8 bytes day
    * per key forever), normalized to the global last day and ranked by
    * decayed weight. The share denominator is a 5-row aggregate —
    * crossJoined, not an unpartitioned window. */
  def q_stream_decay_topk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type").as("etype"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
      .select(col("etype"),
        datediff(col("day"), lit("2024-01-01").cast("date")).cast("bigint").as("x"),
        col("c"))
    val snap = Keyed.run(daily.as[DecayIn], decayFold).toDF()
    val tmax = daily.agg(max(col("x")).as("tmax"))
    val norm = snap.crossJoin(broadcast(tmax))
      .withColumn("gap", col("tmax") - col("last_x"))
      .withColumn("w", col("w_raw") *
        when(col("gap") >= 63, lit(0.0))
          .otherwise(expr("1.0d / cast(shiftleft(cast(1 as bigint), cast(gap as int)) as double)")))
    val tot = norm.agg(sum(col("w")).as("tw"))
    norm.crossJoin(broadcast(tot))
      .select(col("event_type"), col("n_days"),
        round(col("w"), 6).as("decayed_count"),
        round(col("w") / col("tw"), 6).as("share"))
      .orderBy(col("decayed_count").desc, col("event_type").asc)
  }

  /** CUSUM drift diagnostic (Page 1954, zero-allowance form) per
    * event_type over the daily cents series: with residuals scaled to
    * EXACT integers e_t = n·y_t − Σy (the Ljung–Box device — no
    * division, so the cumulative path is exact and order-deterministic)
    * the running sum C_t is Page's cumulative deviation path; its max,
    * min, peak day (earliest argmax) and normalized range
    * (C_max − C_min)/n are the classic change-diagnostic a drift
    * monitor plots (the path always returns to 0 at t = n). Everything
    * is BIGINT until the ONE display division, which rounds through an
    * exactly-representable grid (k·100/n true ties land on
    * representable .5 — both engines round them up). One keyed window
    * over the calendar-bounded series. */
  def q_time_cusum(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(Dsl.rlong(col("value") * 100)).as("y"))
    val stats = daily.groupBy(col("event_type").as("st"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("sy"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val path = daily.join(broadcast(stats), col("event_type") === col("st"))
      .withColumn("cu", sum(col("n") * col("y") - col("sy")).over(w))
    val wpk = Window.partitionBy(col("event_type"))
      .orderBy(col("cu").desc, col("day").asc)
    path.withColumn("pk", row_number().over(wpk))
      .groupBy(col("event_type"), col("n"))
      .agg(max(col("cu")).as("cusum_max"), min(col("cu")).as("cusum_min"),
        max(when(col("pk") === 1, col("day"))).as("peak_day"))
      .select(col("event_type"), col("n").as("n_days"),
        col("cusum_max"), col("cusum_min"), col("peak_day"),
        (round((col("cusum_max") - col("cusum_min")).cast("double") * 100
          / col("n"), 0) / 1e4).as("range_value"))
      .orderBy("event_type")
  }

  /** Reference-window length of the streaming CUSUM (days). */
  val CusumRefDays = 10

  case class CusumIn(etype: String, x: Long, y: Long)
  case class CusumSnap(event_type: String, n_ref_days: Long, n_monitored: Long,
      cusum_pos_max: Long, peak_x: Long, alarm_days: Long)

  /** Streaming Page fold: accumulate the first `CusumRefDays` days as
    * the in-control reference, then maintain the recursive one-sided
    * CUSUM C⁺_t = max(0, C⁺_{t-1} + (n_ref·y_t − S_ref)) in EXACT
    * integers — tracked as the running sum R_t and its running min
    * (the drawdown identity C⁺_t = R_t − min(0, min_j R_j), which is
    * also what makes the oracle a window expression). State per key:
    * 8 longs / 64 B (seenRef, sRef, r, rMin, cMax, cMaxX, alarms,
    * monitored) — the bounded-state drift detector a monitor deploys. */
  val cusumFold: Keyed.Fold[CusumIn, String, Array[Long], CusumSnap] =
    // state layout: seenRef, sRef, r, rMin, cMax, cMaxX, alarms, monitored
    Keyed.fold((e: CusumIn) => e.etype,
        Array(0L, 0L, 0L, 0L, Long.MinValue, -1L, 0L, 0L)) { (key, st, it) =>
      it.toArray.sortBy(_.x).foreach { e =>
        if (st(0) < CusumRefDays) { st(0) += 1; st(1) += e.y }
        else {
          st(7) += 1
          val d = CusumRefDays * e.y - st(1)
          st(2) += d
          if (st(2) < st(3)) st(3) = st(2)
          val c = st(2) - math.min(0L, st(3))
          if (c > st(4)) { st(4) = c; st(5) = e.x }
          if (10L * c > CusumRefDays * st(1)) st(6) += 1
        }
      }
      (st, if (st(7) == 0L) Iterator.empty
        else Iterator.single(CusumSnap(key, st(0), st(7), st(4), st(5), st(6))))
    }

  /** Driver-contract query: the streaming CUSUM drift monitor over the
    * bounded daily series (the bounded `Keyed.run` of the maintainer,
    * the q_stream_decay_topk template): per event_type, the reference
    * window size, monitored days, max positive excursion C⁺ with its
    * earliest peak day index, and the count of alarm days
    * (10·C⁺ > n_ref·S_ref — cumulative excess beyond 10% of the
    * reference total). */
  def q_stream_cusum(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type").as("etype"), to_date(col("ts")).as("day"))
      .agg(sum(Dsl.rlong(col("value") * 100)).as("y"))
      .select(col("etype"),
        datediff(col("day"), lit("2024-01-01").cast("date")).cast("bigint").as("x"),
        col("y"))
    Keyed.run(daily.as[CusumIn], cusumFold)
      .toDF()
      .orderBy("event_type")
  }

  /** Mann–Whitney U (Wilcoxon rank-sum) per event_type over the same
    * reference/current split as the t/KS screens (round 10) — the
    * non-parametric location test a drift monitor runs when the value
    * distribution is non-normal. Rank arithmetic stays EXACT integers
    * end to end via the 2×-scaled-rank device: per distinct value,
    * avg-rank·2 = 2·(count below) + tieCount + 1 is an integer, so the
    * ref-sample rank sum R₁ (and with it 2U₁ = 2R₁ − 2·n₁(n₁+1)/2) is
    * an exact BIGINT, as is the tie-correction Σ(t³−t). The normal
    * approximation z = (U − n₁n₂/2)/σ_U with tie-corrected
    * σ²_U = n₁n₂/12·((N+1) − Σ(t³−t)/(N(N−1))) is ONE pinned-order
    * double expression over those integers (the q_agg_ttest device).
    * Shape: one keyed agg over distinct values + one keyed window —
    * distinct-value-bounded, never row-bounded, at any corpus size. */
  def q_agg_mannwhitney(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("event_type"),
      Dsl.rlong(col("value") * 100).as("c"),
      (to_date(col("ts")) <= lit("2024-01-15").cast("date")).as("is_ref"))
    val counts = ev.groupBy(col("event_type"), col("c")).agg(
      sum(when(col("is_ref"), 1L).otherwise(0L)).as("cr"),
      sum(when(!col("is_ref"), 1L).otherwise(0L)).as("cc"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("c"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = counts.withColumn("before",
      coalesce(sum(col("cr") + col("cc")).over(w), lit(0L)))
    val t = col("cr") + col("cc")
    val agg = cum.groupBy(col("event_type")).agg(
        sum(col("cr")).as("n1"), sum(col("cc")).as("n2"),
        // rank-sum and tie term widened to DECIMAL(38,0) (ADVICE r10):
        // at corpus scale the per-term products cr·(2·before+t+1) and t³
        // outgrow BIGINT (before and t are row counts), and non-ANSI
        // Spark would wrap silently — the q_agg_spearman convention.
        sum(col("cr").cast("decimal(38,0)")
          * (lit(2L) * col("before") + col("cr") + col("cc") + 1L)
            .cast("decimal(38,0)")).as("r1_2"),
        sum(t.cast("decimal(38,0)") * t * t - t).as("ties"))
      .filter(col("n1") > 0 && col("n2") > 0)
    val n1d = col("n1").cast("double")
    val n2d = col("n2").cast("double")
    val nd = (col("n1") + col("n2")).cast("double")
    val varU = n1d * n2d / lit(12.0) *
      ((nd + lit(1.0)) - col("ties").cast("double") / (nd * (nd - lit(1.0))))
    agg.select(col("event_type"), col("n1").as("n_ref"), col("n2").as("n_cur"),
        ((col("r1_2") - col("n1") * (col("n1") + 1L)).cast("double") / lit(2.0))
          .as("u_stat"),
        ((col("r1_2") - col("n1") * (col("n1") + 1L) - col("n1") * col("n2"))
          .cast("double") / (lit(2.0) * sqrt(varU))).as("z_stat"))
      .orderBy("event_type")
  }

  /** EWMA tap count and the exact weight denominator 2^taps − 1. */
  val EwmaTaps = 20
  val EwmaDenom: Long = (1L << EwmaTaps) - 1

  /** Binary-decay EWMA of the daily value series per event_type
    * (round 10): a 20-tap exponentially-weighted moving average with
    * α = 1/2, truncated so every output row has exactly 20 taps
    * (weights 2^19…2^0 over the last 20 observed days, normalized by
    * 2^20 − 1). Powers of two make the weighted numerator an EXACT
    * BIGINT (y ≈ 2e6 cents · 2^19 · 20 taps ≈ 2e13, far inside 2^53 and
    * BIGINT), and the single normalizing division is one correctly-
    * rounded IEEE op both engines — no rounding device needed anywhere.
    * Shape: one keyed window with 20 row-lags over the daily series —
    * day-count-bounded per key, never event-bounded. */
  def q_time_ewma(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(Dsl.rlong(col("value") * 100)).as("y"))
      .select(col("event_type"),
        datediff(col("day"), lit("2024-01-01").cast("date")).cast("bigint").as("x"),
        col("y"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("x"))
    val num = (0 until EwmaTaps).map { k =>
        val yk = if (k == 0) col("y") else lag(col("y"), k).over(w)
        yk * lit(1L << (EwmaTaps - 1 - k))
      }.reduce(_ + _)
    daily.withColumn("num", num)
      .withColumn("oldest", lag(col("y"), EwmaTaps - 1).over(w))
      .filter(col("oldest").isNotNull)
      .select(col("event_type"), col("x"), col("y"), col("num"),
        (col("num").cast("double") / lit(EwmaDenom.toDouble)).as("ewma"))
      .orderBy("event_type", "x")
  }

  case class EwmaIn(etype: String, x: Long, y: Long)
  case class EwmaSnap(event_type: String, n_days: Long, x_last: Long,
      num: Long, ewma: Double)

  /** Streaming EWMA fold: ring-buffer of the last `EwmaTaps` daily
    * values per key (state: 22 longs / 176 B — count, last day index,
    * 20-slot ring), folded in day order; the snapshot emits the LAST
    * day's 20-tap numerator and EWMA once ≥ 20 days are seen. Same
    * exact-integer numerator as the batch window, so both share one
    * oracle (the q_stream_ttest shared-assembly device). */
  val ewmaFold: Keyed.Fold[EwmaIn, String, Array[Long], EwmaSnap] =
    // state layout: n, lastX, ring[EwmaTaps] (write pos = n % taps)
    Keyed.fold((e: EwmaIn) => e.etype, Array.fill(2 + EwmaTaps)(0L)) { (key, st, it) =>
      it.toArray.sortBy(_.x).foreach { e =>
        st(2 + (st(0) % EwmaTaps).toInt) = e.y
        st(0) += 1
        st(1) = e.x
      }
      val n = st(0)
      (st, if (n < EwmaTaps) Iterator.empty
        else {
          val num = (0 until EwmaTaps).map { k =>
            val idx = ((n - 1 - k) % EwmaTaps).toInt
            st(2 + idx) * (1L << (EwmaTaps - 1 - k))
          }.sum
          Iterator.single(EwmaSnap(key, n, st(1), num, num.toDouble / EwmaDenom.toDouble))
        })
    }

  /** Driver-contract query: the streaming EWMA maintainer over the
    * bounded daily series (the q_stream_cusum bounded `Keyed.run`);
    * one snapshot row per event_type = the latest 20-tap EWMA. */
  def q_stream_ewma(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type").as("etype"), to_date(col("ts")).as("day"))
      .agg(sum(Dsl.rlong(col("value") * 100)).as("y"))
      .select(col("etype"),
        datediff(col("day"), lit("2024-01-01").cast("date")).cast("bigint").as("x"),
        col("y"))
    Keyed.run(daily.as[EwmaIn], ewmaFold)
      .toDF()
      .orderBy("event_type")
  }

  /** SAX window width (days per symbol). */
  val SaxWin = 5

  /** SAX symbolization of the daily value series per event_type
    * (Lin, Keogh et al. 2003 — the symbolic compression behind motif /
    * anomaly mining on time series): z-normalize against the series'
    * own mean/std (exact DECIMAL moments → one pinned double mean/std,
    * the q_agg_ttest device), PAA-average complete 5-day windows (the
    * 5-day sum is an exact BIGINT; one division), and bin the window z
    * at the 4-symbol Gaussian breakpoints ±0.6745 (the quartile
    * boundaries — the standard SAX alphabet-4 table). The breakpoint
    * literals and every comparison run on identical IEEE doubles in
    * both engines, so the symbol stream is bit-deterministic. One
    * keyed window + one keyed agg, day-count-bounded per key. */
  def q_time_sax(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(Dsl.rlong(col("value") * 100)).as("y"))
      .select(col("event_type"),
        datediff(col("day"), lit("2024-01-01").cast("date")).cast("bigint").as("x"),
        col("y"))
    def dsum(c: org.apache.spark.sql.Column, n: String) =
      sum(c.cast("decimal(38,0)")).cast("double").as(n)
    val mom = daily.groupBy(col("event_type").as("met")).agg(
      count(lit(1)).as("n"), dsum(col("y"), "sy"), dsum(col("y") * col("y"), "syy"))
    val nd = col("n").cast("double")
    val stats = mom.filter(col("n") > 1).select(col("met"),
      (col("sy") / nd).as("mean"),
      sqrt((nd * col("syy") - col("sy") * col("sy")) / (nd * (nd - 1))).as("std"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("x"))
    val win = daily
      .withColumn("rn", row_number().over(w))
      .withColumn("win", expr(s"(rn - 1) div $SaxWin"))
      .groupBy(col("event_type"), col("win"))
      .agg(count(lit(1)).as("nw"), min(col("x")).as("x_start"),
        sum(col("y")).as("s5"))
      .filter(col("nw") === SaxWin)
    val z = (col("s5").cast("double") / lit(SaxWin.toDouble) - col("mean")) / col("std")
    win.join(broadcast(stats), col("event_type") === col("met"))
      .select(col("event_type"), col("win"), col("x_start"),
        (col("s5").cast("double") / lit(SaxWin.toDouble)).as("paa"),
        round(z, 6).as("z_paa"),
        when(z < lit(-0.6745), 0L).when(z < lit(0.0), 1L)
          .when(z < lit(0.6745), 2L).otherwise(3L).as("sym"))
      .orderBy("event_type", "win")
  }

  /** Geometric (log-space) and harmonic means of the positive value
    * cents per event_type (round 10 — the multiplicative/rate
    * aggregates a metrics pipeline keeps beside the arithmetic mean):
    * log-gmean = mean of round-9 ln(c) terms (the q_agg_entropy device
    * for absorbing libm ln — exact DECIMAL sum, one division), hmean =
    * n / Σ(1/c) with the reciprocal terms round-9 → exact DECIMAL sum.
    * ONE keyed aggregation, map-side partials, k rows out at any
    * scale. */
  def q_agg_gmean_hmean(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("event_type"),
        Dsl.rlong(col("value") * 100).as("c"))
      .filter(col("c") > 0)
    val lnT = round(log(col("c").cast("double")), 9).cast("decimal(18,9)")
    val invT = round(lit(1.0) / col("c").cast("double"), 9).cast("decimal(18,9)")
    ev.groupBy(col("event_type")).agg(
        count(lit(1)).as("n"),
        sum(lnT).as("sln"), sum(invT).as("sinv"))
      .select(col("event_type"), col("n"),
        round(col("sln").cast("double") / col("n").cast("double"), 6)
          .as("log_gmean_cents"),
        round(col("n").cast("double") / col("sinv").cast("double"), 6)
          .as("hmean_cents"))
      .orderBy("event_type")
  }

  /** Bollinger window width (days). */
  val BollWin = 20

  /** Bollinger-band breakout screen over the daily value series per
    * event_type (round 10 — the rolling mean ± 2σ envelope of anomaly
    * dashboards, self-inclusive 20-day windows, the touch-detection
    * convention): breakouts are detected with EXACT integer
    * cross-multiplication — (20y − S)²·19 > 80·(20Q − S²) with the sign
    * of 20y − S picking the side — so no sqrt touches the decision;
    * the band itself (mean, sd) is display-only round-6. One keyed
    * window of exact moment sums, day-count-bounded per key. */
  def q_time_bollinger(s: SparkSession, dir: String): DataFrame = {
    val n = BollWin
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(Dsl.rlong(col("value") * 100)).as("y"))
      .select(col("event_type"),
        datediff(col("day"), lit("2024-01-01").cast("date")).cast("bigint").as("x"),
        col("y"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("x"))
      .rowsBetween(-(n - 1), 0)
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("x"))
    val withMom = daily
      .withColumn("sS", sum(col("y")).over(w))
      .withColumn("qQ", sum(col("y") * col("y")).over(w))
      .withColumn("oldest", lag(col("y"), n - 1).over(wOrd))
      .filter(col("oldest").isNotNull)
    val dev = lit(n.toLong) * col("y") - col("sS")
    val varNum = lit(n.toLong) * col("qQ") - col("sS") * col("sS")
    val break_ = dev * dev * lit((n - 1).toLong) > lit(4L * n.toLong) * varNum
    val scored = withMom
      .withColumn("up", (break_ && dev > 0).cast("long"))
      .withColumn("down", (break_ && dev < 0).cast("long"))
      .withColumn("rdesc", row_number().over(
        Window.partitionBy(col("event_type")).orderBy(col("x").desc)))
    val nd = lit(n.toDouble)
    scored.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_windows"),
        sum(col("up")).as("n_break_up"), sum(col("down")).as("n_break_down"),
        max(when(col("rdesc") === 1,
          col("sS").cast("double") / nd)).as("lm"),
        max(when(col("rdesc") === 1,
          sqrt((lit(n.toLong) * col("qQ") - col("sS") * col("sS")).cast("double")
            / lit((n.toLong * (n - 1)).toDouble)))).as("lsd"))
      .select(col("event_type"), col("n_windows"), col("n_break_up"),
        col("n_break_down"), round(col("lm"), 6).as("last_mean"),
        round(col("lsd"), 6).as("last_sd"))
      .orderBy("event_type")
  }

  /** Pinball (quantile) loss of the constant per-type p50/p90
    * predictors (round 10 — the eval metric behind every quantile
    * forecast): predictors are EXACT k-th order statistics
    * (k = ⌈τn⌉, the lower-quantile convention), and the losses are
    * kept in scaled integers — Σ|y−q50| (= 2× the τ=.5 pinball) and
    * Σ(9·(y−q90)⁺ + (q90−y)⁺) (= 10× the τ=.9 pinball) — so the only
    * doubles are the two round-6 display means. Rank filter + one
    * keyed aggregation. */
  def q_agg_pinball(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("event_type"),
      Dsl.rlong(col("value") * 100).as("c"))
    val ranked = Tables.events(s, dir)
      .select(col("event_type"), col("event_id"),
        Dsl.rlong(col("value") * 100).as("c"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("event_type")).orderBy(col("c").asc, col("event_id").asc))
        .cast("bigint"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
    val qs = ranked
      .filter(col("rn") === expr("cast(ceil(n * 0.5) as bigint)")
        || col("rn") === expr("cast(ceil(n * 0.9) as bigint)"))
      .groupBy(col("event_type").as("qt"))
      .agg(min(when(col("rn") === expr("cast(ceil(n * 0.5) as bigint)"), col("c")))
          .as("q50"),
        min(when(col("rn") === expr("cast(ceil(n * 0.9) as bigint)"), col("c")))
          .as("q90"))
    ev.join(broadcast(qs), col("event_type") === col("qt"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), min(col("q50")).as("q50"), min(col("q90")).as("q90"),
        sum(abs(col("c") - col("q50"))).as("pin50_x2"),
        sum(when(col("c") > col("q90"), lit(9L) * (col("c") - col("q90")))
          .otherwise(col("q90") - col("c"))).as("pin90_x10"))
      .select(col("event_type"), col("n"), col("q50"), col("q90"),
        col("pin50_x2"), col("pin90_x10"),
        round(col("pin50_x2").cast("double") / (lit(2.0) * col("n").cast("double")), 6)
          .as("pinball50"),
        round(col("pin90_x10").cast("double") / (lit(10.0) * col("n").cast("double")), 6)
          .as("pinball90"))
      .orderBy("event_type")
  }

  /** Herfindahl–Hirschman concentration of event-type shares per day
    * (round 10 — the concentration complement of q_agg_entropy's
    * diversity): HHI = Σ(cᵢ/n)² computed as ONE exact integer division
    * Σcᵢ²/n² (both sums exact), round-6 display. One keyed count +
    * one keyed aggregation. */
  def q_agg_hhi(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.events(s, dir)
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    c.groupBy(col("day"))
      .agg(sum(col("c")).as("n_events"), count(lit(1)).as("n_types"),
        sum(col("c") * col("c")).as("sq"))
      .select(col("day"), col("n_events"), col("n_types"),
        round(col("sq").cast("double")
          / (col("n_events") * col("n_events")).cast("double"), 6).as("hhi"))
      .orderBy("day")
  }

  /** Mann–Kendall trend test over the daily value series per event_type
    * (round 10 — the non-parametric monotone-trend companion to
    * q_agg_ols_trend's parametric slope and q_agg_theil_sen's robust
    * slope, same calendar-bounded pair device): S = Σ_{i<j} sign(y_j −
    * y_i) and the tie-corrected variance numerator 18·Var = n(n−1)(2n+5)
    * − Σt(t−1)(2t+5) are EXACT integers; the continuity-corrected
    * z = (S ∓ 1)/√(Var) is one pinned double expression. Pairs are
    * days²/2 per key — never event-bounded. */
  def q_agg_mann_kendall(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(Dsl.rlong(col("value") * 100)).as("y"))
      .select(col("event_type"),
        datediff(col("day"), lit("2024-01-01").cast("date")).cast("bigint").as("x"),
        col("y"))
    val a = daily.select(col("event_type").as("ea"), col("x").as("xi"), col("y").as("yi"))
    val b = daily.select(col("event_type").as("eb"), col("x").as("xj"), col("y").as("yj"))
    val sTab = a.join(b, col("ea") === col("eb") && col("xi") < col("xj"))
      .groupBy(col("ea").as("st"))
      .agg(sum(signum((col("yj") - col("yi")).cast("double")).cast("bigint")).as("s_stat"))
    val t = col("cnt")
    val ties = daily.groupBy(col("event_type").as("tt"), col("y"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("tt"))
      .agg(sum(t * (t - 1) * (lit(2L) * t + 5L)).as("tie_sum"))
    val nT = daily.groupBy(col("event_type").as("nt2")).agg(count(lit(1)).as("n_days"))
    val n = col("n_days")
    val varNum = n * (n - 1) * (lit(2L) * n + 5L) - col("tie_sum")
    val sd = sqrt(varNum.cast("double") / lit(18.0))
    val z = when(col("s_stat") > 0, (col("s_stat") - 1L).cast("double") / sd)
      .when(col("s_stat") < 0, (col("s_stat") + 1L).cast("double") / sd)
      .otherwise(lit(0.0))
    sTab.join(ties, col("st") === col("tt")).join(nT, col("st") === col("nt2"))
      .filter(varNum > 0)
      .select(col("st").as("event_type"), col("n_days"), col("s_stat"),
        varNum.as("var18"), round(z, 6).as("z_stat"))
      .orderBy("event_type")
  }

  /** Day-of-week seasonal index per event_type (the multiplicative
    * seasonal table behind every weekly-seasonality adjustment; the
    * static companion to q_stream_holt_winters' evolving registers):
    * idx(dow) = mean daily cents on that weekday / overall mean daily
    * cents, computed as the exact integer cross-product ratio
    * (Σy_dow · n_all) / (n_dow · Σy_all) — DECIMAL(38,0)-widened
    * products per the round-16 convention, ONE round-6 division.
    * Weekday is the engine-free day-index mod 7 (0 = Mon: 2024-01-01
    * is a Monday), not an engine dayofweek() whose origin differs
    * between Spark (1=Sun) and DuckDB (0=Sun). */
  def q_time_dow_seasonality(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(Dsl.rlong(col("value") * 100)).as("y"))
      .select(col("event_type"),
        pmod(datediff(col("day"), lit("2024-01-01").cast("date")), lit(7))
          .cast("bigint").as("dow"),
        col("y"))
    val perDow = daily.groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n_days"), sum(col("y")).as("sy"))
    val overall = daily.groupBy(col("event_type").as("oe"))
      .agg(count(lit(1)).as("n_all"), sum(col("y")).as("sa"))
    perDow.join(broadcast(overall), col("event_type") === col("oe"))
      .select(col("event_type"), col("dow"), col("n_days"),
        round((col("sy").cast("decimal(38,0)") * col("n_all")).cast("double")
          / (col("n_days").cast("decimal(38,0)") * col("sa")).cast("double"), 6)
          .as("seasonal_idx"))
      .orderBy("event_type", "dow")
  }

  /** Kendall τ-b rank correlation between the daily VALUE mass and the
    * daily event COUNT per event_type (Kendall 1938 — the concordance
    * companion to q_time_autocorr's Pearson and q_agg_spearman's ρ,
    * answering "do busy days carry more money?" robustly): on the same
    * calendar-bounded pair device as q_agg_mann_kendall,
    * S = Σ_{i<j} sign(y_j−y_i)·sign(c_j−c_i) is an exact integer, tie
    * corrections stay DOUBLED integers (2·n₀ = n(n−1), 2·t = Σt(t−1))
    * so no integer division anywhere, and
    * τ_b = 2S/√((2n₀−2t_y)(2n₀−2t_c)) is ONE pinned double. Pairs are
    * days²/2 per key — calendar-bounded, never event-bounded. */
  def q_time_kendall_tau(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(Dsl.rlong(col("value") * 100)).as("y"),
        count(lit(1)).as("c"))
      .select(col("event_type"),
        datediff(col("day"), lit("2024-01-01").cast("date")).cast("bigint").as("x"),
        col("y"), col("c"))
    val a = daily.select(col("event_type").as("ea"), col("x").as("xi"),
      col("y").as("yi"), col("c").as("ci"))
    val b = daily.select(col("event_type").as("eb"), col("x").as("xj"),
      col("y").as("yj"), col("c").as("cj"))
    val sTab = a.join(b, col("ea") === col("eb") && col("xi") < col("xj"))
      .groupBy(col("ea").as("st"))
      .agg(sum((signum((col("yj") - col("yi")).cast("double"))
        * signum((col("cj") - col("ci")).cast("double"))).cast("bigint")).as("s_stat"))
    def ties2(v: String, alias: String) = daily
      .groupBy(col("event_type").as(alias), col(v))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col(alias))
      .agg(sum(col("cnt") * (col("cnt") - 1L)).as(s"t2_$v"))
    val nT = daily.groupBy(col("event_type").as("nt2")).agg(count(lit(1)).as("n_days"))
    val n02 = col("n_days") * (col("n_days") - 1L)
    val denom = sqrt((n02 - col("t2_y")).cast("double")
      * (n02 - col("t2_c")).cast("double"))
    sTab.join(ties2("y", "ty"), col("st") === col("ty"))
      .join(ties2("c", "tc"), col("st") === col("tc"))
      .join(nT, col("st") === col("nt2"))
      .filter(n02 - col("t2_y") > 0 && n02 - col("t2_c") > 0)
      .select(col("st").as("event_type"), col("n_days"), col("s_stat"),
        round(lit(2.0) * col("s_stat").cast("double") / denom, 6).as("tau_b"))
      .orderBy("event_type")
  }

  /** Spearman rank correlation between quantity and price-in-cents per
    * returnflag (round 10 — the rank companion to q_agg_corr's Pearson
    * matrix; Spearman 1904). Tie handling is average ranks via the
    * 2×-scaled integer identity 2·r̄ = rank_asc + n + 1 − rank_desc
    * (both RANK()s give the tie group's MIN rank from either end, so
    * their combination is the exact average — kept ×2 so every rank is
    * a BIGINT, like q_agg_mannwhitney's device). ρ is scale-invariant,
    * so corr(2r_x, 2r_y) = corr(r̄_x, r̄_y); all five moments are exact
    * DECIMAL(38,0) sums of integer products and ρ is ONE pinned double
    * expression over them — no engine-specific corr() accumulation
    * order anywhere.
    *
    * Scale: ranks come from a cumulative count over the DISTINCT-value
    * frequency table (50 quantity values / ~distinct cents per group),
    * not a row window — the sort is vocabulary-sized, the rank join is
    * a value-keyed equi-join, and the moment pass is one map-side-
    * combinable groupBy. At 100 TB the per-term products (≤ 4n²) want
    * DECIMAL widening before the sum — already written that way. */
  def q_agg_spearman(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.lineitem(s, dir).select(
      col("l_returnflag").as("g"),
      col("l_quantity").cast("bigint").as("x"),
      Dsl.rlong(col("l_extendedprice") * 100).as("y"))
    // 2·avg_rank attached directly per row: 2·avg_rank = 2·cum_before
    // + f + 1 = 2·rank() + count(ties) − 1 (rank() = cum_before + 1;
    // both integer window functions). The old form aggregated a
    // (g, value) frequency table, ranked it, and SMJ-joined it back
    // onto the 600k-row base TWICE — for the near-unique price column
    // the frequency table was base-sized, so the join-backs shuffled
    // and sorted 600k rows four extra times. All four windows cluster
    // on g, so this is ONE exchange + two in-partition sorts. Values
    // are identical integers.
    val ranked = base.select(col("g"),
      (lit(2L) * rank().over(Window.partitionBy(col("g")).orderBy(col("x")))
        + count(lit(1)).over(Window.partitionBy(col("g"), col("x"))) - 1L).as("rx2"),
      (lit(2L) * rank().over(Window.partitionBy(col("g")).orderBy(col("y")))
        + count(lit(1)).over(Window.partitionBy(col("g"), col("y"))) - 1L).as("ry2"))
    val m = ranked.groupBy(col("g"))
      .agg(count(lit(1)).as("n"),
        sum(col("rx2").cast("decimal(38,0)")).as("sx"),
        sum(col("ry2").cast("decimal(38,0)")).as("sy"),
        sum((col("rx2") * col("rx2")).cast("decimal(38,0)")).as("sxx"),
        sum((col("ry2") * col("ry2")).cast("decimal(38,0)")).as("syy"),
        sum((col("rx2") * col("ry2")).cast("decimal(38,0)")).as("sxy"))
    val nD = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    m.select(col("g").as("l_returnflag"), col("n"),
      round((nD * d("sxy") - d("sx") * d("sy")) /
        (sqrt(nD * d("sxx") - d("sx") * d("sx")) *
          sqrt(nD * d("syy") - d("sy") * d("sy"))), 6).as("rho"))
      .orderBy("l_returnflag")
  }

  /** Shared one-way ANOVA assembly from per-group exact sums: F =
    * (SSB/(k−1))/(SSW/(n−k)) with SSB = Σs_g²/n_g − S²/n and
    * SSW = Σq_g − Σs_g²/n_g. The only non-integer per-group term
    * (s_g²/n_g) is rounded to a fixed scale and summed as DECIMAL —
    * order-blind — and F is one pinned double expression. Only RATIO
    * outputs are emitted (F and the integer dfs): SSB/SSW are
    * catastrophic-cancellation differences of ~2⁵³-magnitude moments,
    * so their ABSOLUTE low decimals sit at double-ulp boundaries that
    * can disagree across engines' decimal→double conversions, while
    * the F ratio keeps ~1e-12 RELATIVE error — round-6 safe. Consumed
    * by the raw-value ANOVA and the Levene variance-homogeneity test
    * so the two can never drift. Input columns: g, ng (bigint), and
    * decimal/bigint sg (Σv), qg (Σv²). */
  private def anovaFrom(grp: DataFrame, termScale: Int): DataFrame = {
    val terms = grp.select(col("ng"), col("sg"), col("qg"),
      round(col("sg").cast("double") * col("sg").cast("double") /
        col("ng").cast("double"), termScale)
        .cast(s"decimal(38,$termScale)").as("t"))
    val tot = terms.agg(count(lit(1)).as("k"), sum(col("ng")).as("n"),
      sum(col("sg")).as("s"), sum(col("qg")).as("q"), sum(col("t")).as("st"))
    def d(c: String) = col(c).cast("double")
    val ssb = d("st") - d("s") * d("s") / d("n")
    val ssw = d("q") - d("st")
    tot.select(col("k"), col("n"),
      (col("k") - 1L).as("df1"), (col("n") - col("k")).as("df2"),
      round((ssb / (d("k") - 1)) / (ssw / (d("n") - d("k"))), 6).as("f_stat"))
  }

  /** One-way ANOVA of customer account balance (cents) across market
    * segments (Fisher 1925): per-group n/Σc/Σc² in ONE map-side-
    * combinable pass over exact BIGINT cents, then the shared decimal
    * assembly (ratio outputs only — see anovaFrom's determinism note). */
  def q_agg_anova(s: SparkSession, dir: String): DataFrame = {
    val grp = Tables.customer(s, dir)
      .select(col("c_mktsegment").as("g"),
        Dsl.rlong(col("c_acctbal") * 100).as("c"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("ng"), sum(col("c")).as("sg"),
        // Σc² widened to DECIMAL(38,0) (ADVICE r10): per-term c² fits
        // BIGINT, but the SUM wraps silently in non-ANSI Spark once
        // n·c² passes 2⁶³ — the q_agg_spearman convention.
        sum((col("c") * col("c")).cast("decimal(38,0)")).as("qg"))
    anovaFrom(grp, 9)
  }

  /** Levene's variance-homogeneity test, mean-centered variant (Levene
    * 1960): z_ij = |c_ij − mean_g| in currency units, then the SAME
    * one-way ANOVA assembly on z. Group means are exact rationals
    * (BIGINT Σc / BIGINT n), each |deviation| is one deterministic
    * double, and the z/z² sums are fixed-scale DECIMAL — order-blind.
    * Two passes over the groups (means, then deviations) — both
    * map-side-combinable; no window, no sort. */
  def q_agg_levene(s: SparkSession, dir: String): DataFrame = {
    val v = Tables.customer(s, dir)
      .select(col("c_mktsegment").as("g"),
        Dsl.rlong(col("c_acctbal") * 100).as("c"))
    val gm = v.groupBy(col("g").as("gg"))
      .agg(count(lit(1)).as("ngm"), sum(col("c")).as("sgm"))
    val z = v.join(broadcast(gm), col("g") === col("gg"))
      .select(col("g"),
        abs(col("c").cast("double") -
          col("sgm").cast("double") / col("ngm").cast("double")) / 100.0)
        .toDF("g", "z")
    val grp = z.groupBy(col("g"))
      .agg(count(lit(1)).as("ng"),
        sum(round(col("z"), 9).cast("decimal(28,9)")).as("sg"),
        sum(round(col("z") * col("z"), 6).cast("decimal(28,6)")).as("qg"))
    anovaFrom(grp, 6)
      .select(col("k"), col("n"), col("df1"), col("df2"),
        col("f_stat").as("w_stat"))
  }

  /** Benjamini–Hochberg FDR correction over a 2-family test pool
    * (Benjamini & Hochberg 1995 — the multiple-testing control every
    * data-quality pipeline needs once it runs one test per slice):
    * per (event_type, user-bucket) slice, (a) first-digit-1 share vs
    * the UNIFORM null p₀=1/9 (false on this Benford-shaped data → the
    * rejected family) and (b) cents parity balance (true null). Each
    * test's z is a pinned double over exact integer counts; the
    * pseudo-p exp(−z²/2) is the Gaussian kernel — monotone in |z|, so
    * the BH ORDERING and step-up mechanics (rank i, reject all
    * i ≤ max{i : p_i·m ≤ i·α}, α=0.05) are exactly the real
    * procedure's. Counting pass is map-side-combinable; the BH sort is
    * over m test ROWS (slices, not events) — driver-bounded output,
    * executor-bounded everything else. */
  /** Shared two-family pseudo-p test battery (uniform-first-digit +
    * parity z per (event_type, user-bucket) cell) — consumed by the
    * BH-FDR step-up AND the Holm step-down corrections so the two
    * multiple-testing operators adjudicate the identical battery. */
  private def pseudoTests(s: SparkSession, dir: String): DataFrame = {
    val cents = Tables.events(s, dir)
      .select(col("event_type"), (col("user_id") % 20).as("ub"),
        Dsl.rlong(col("value") * 100).as("c"))
      .filter(col("c") > 0)
    val g = cents.groupBy(col("event_type"), col("ub"))
      .agg(count(lit(1)).as("n"),
        sum(when(substring(col("c").cast("string"), 1, 1) === "1", 1L)
          .otherwise(0L)).as("n_d1"),
        sum(when(col("c") % 2 === 0, 1L).otherwise(0L)).as("n_even"))
      .filter(col("n") >= 20)
    val nD = col("n").cast("double")
    val p0 = 1.0 / 9.0
    val zU = (col("n_d1").cast("double") - nD * p0) /
      sqrt(nD * p0 * (1.0 - p0))
    val zP = (lit(2L) * col("n_even") - col("n")).cast("double") / sqrt(nD)
    g.select(lit("uniform_d1").as("family"), col("event_type"),
        col("ub"), col("n"), zU.as("z"))
      .unionAll(g.select(lit("parity").as("family"), col("event_type"),
        col("ub"), col("n"), zP.as("z")))
      .withColumn("pp", exp(-col("z") * col("z") / 2.0))
  }

  def q_stats_fdr_bh(s: SparkSession, dir: String): DataFrame = {
    val tests = pseudoTests(s, dir)
    val wAll = Window.orderBy(col("pp"), col("family"), col("event_type"),
      col("ub"))
    val ranked = tests
      .withColumn("i", row_number().over(wAll).cast("bigint"))
      .withColumn("m", count(lit(1)).over(
        Window.partitionBy().rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .withColumn("kbh", max(when(
        col("pp") * col("m").cast("double") <=
          col("i").cast("double") * 0.05, col("i")).otherwise(0L)).over(
        Window.partitionBy().rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
    ranked.select(col("family"), col("event_type"), col("ub"), col("n"),
      round(col("z"), 6).as("z_stat"), round(col("pp"), 9).as("pseudo_p"),
      col("i").as("bh_rank"), (col("i") <= col("kbh")).as("rejected"))
      .orderBy(col("bh_rank"), col("family"), col("event_type"), col("ub"))
  }

  /** Holm–Bonferroni step-down correction (Holm 1979 — the FWER
    * companion to q_stats_fdr_bh's FDR step-up; a report that controls
    * family-wise error runs Holm, one that controls discovery rate
    * runs BH — this pair adjudicates the SAME pseudoTests battery so
    * the two procedures are directly comparable): tests ranked by
    * ascending p with the full deterministic tie-break; per rank i the
    * step threshold α/(m−i+1), the monotone adjusted p
    * p̃_i = max_{j≤i} min(1, (m−j+1)·p_j) as ONE running-max window,
    * and the step-down rejection (reject i iff EVERY j ≤ i clears its
    * own threshold) as a running-min indicator window. All doubles are
    * pinned single expressions over the shared battery; windows sort
    * the test table (cell-bounded), never the event scan. */
  def q_stats_holm(s: SparkSession, dir: String): DataFrame = {
    val tests = pseudoTests(s, dir)
    val wAll = Window.orderBy(col("pp"), col("family"), col("event_type"),
      col("ub"))
    val wRun = Window.orderBy(col("pp"), col("family"), col("event_type"),
      col("ub")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = tests
      .withColumn("i", row_number().over(wAll).cast("bigint"))
      .withColumn("m", count(lit(1)).over(
        Window.partitionBy().rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .withColumn("step_alpha",
        lit(0.05) / (col("m") - col("i") + 1).cast("double"))
      .withColumn("padj", max(least(lit(1.0),
        (col("m") - col("i") + 1).cast("double") * col("pp"))).over(wRun))
      .withColumn("ok_run", min(when(col("pp") <= col("step_alpha"), 1L)
        .otherwise(0L)).over(wRun))
    ranked.select(col("family"), col("event_type"), col("ub"), col("n"),
      round(col("z"), 6).as("z_stat"), round(col("pp"), 9).as("pseudo_p"),
      col("i").as("holm_rank"), round(col("step_alpha"), 9).as("step_alpha"),
      round(col("padj"), 9).as("p_adj"), (col("ok_run") === 1L).as("rejected"))
      .orderBy(col("holm_rank"), col("family"), col("event_type"), col("ub"))
  }

  /** Jarque–Bera normality test (Jarque & Bera 1980) per return flag —
    * the DECISION layer over q_agg_skew_kurt's raw shape moments (same
    * fixture, same exact DECIMAL(38,0) moment chain, so the two reports
    * can never disagree about the underlying moments): skewness S and
    * excess kurtosis K are round-6 pinned FIRST, then
    * JB = n/6·(S² + K²/4) combines the rounded values (deterministic
    * given the round-6 pins hold) and the 5% decision compares against
    * the χ²(2) critical value 5.991465. One aggregation over the fact
    * scan — map-side partials, group-cardinality output at any scale. */
  def q_agg_jarque_bera(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select(col("l_returnflag"),
      col("l_quantity").cast("bigint").as("q"))
    def dsum(c: org.apache.spark.sql.Column, n: String) =
      sum(c.cast("decimal(38,0)")).cast("double").as(n)
    val agg = li.groupBy(col("l_returnflag")).agg(
      count(lit(1)).as("n_rows"),
      dsum(col("q"), "s1"),
      dsum(col("q") * col("q"), "s2"),
      dsum(col("q") * col("q") * col("q"), "s3"),
      dsum(col("q") * col("q") * col("q") * col("q"), "s4"))
    val n = col("n_rows").cast("double")
    val m1 = col("s1") / n
    val m2 = col("s2") / n - m1 * m1
    val m3 = col("s3") / n - lit(3.0) * m1 * (col("s2") / n) +
      lit(2.0) * m1 * m1 * m1
    val m4 = col("s4") / n - lit(4.0) * m1 * (col("s3") / n) +
      lit(6.0) * m1 * m1 * (col("s2") / n) - lit(3.0) * m1 * m1 * m1 * m1
    val sk = round(m3 / (m2 * sqrt(m2)), 6)
    val ku = round(m4 / (m2 * m2) - lit(3.0), 6)
    agg.select(col("l_returnflag"), col("n_rows"),
        sk.as("skewness"), ku.as("kurtosis_excess"),
        round(n / lit(6.0) * (sk * sk + ku * ku / lit(4.0)), 6).as("jb_stat"))
      .withColumn("normal_rejected_5pct", col("jb_stat") > lit(5.991465))
      .orderBy("l_returnflag")
  }

  /** Bartlett's variance-homogeneity test (Bartlett 1937) over the SAME
    * per-segment acctbal-cents groups q_agg_levene adjudicates — the
    * parametric (normality-assuming) companion beside Levene's robust
    * screen, so a user sees both verdicts on identical groups. Exact
    * integer moments per group (c ≈ ±1.1e6 ⇒ c² bigint-safe per row;
    * sums DECIMAL(38,0)); S_i² pinned double rationals; the ln terms
    * follow the PSI device (round-9 each, exact DECIMAL term sums —
    * absorbs libm-vs-StrictMath ln drift); correction factor C round-9
    * before it divides. Group cardinality (5) bounds everything after
    * the one fact-scan aggregation. */
  def q_agg_bartlett(s: SparkSession, dir: String): DataFrame = {
    val v = Tables.customer(s, dir).select(col("c_mktsegment").as("g"),
      Dsl.rlong(col("c_acctbal") * 100).as("c"))
    def dsum(cc: org.apache.spark.sql.Column, n: String) =
      sum(cc.cast("decimal(38,0)")).cast("double").as(n)
    val grp = v.groupBy(col("g")).agg(count(lit(1)).as("ng"),
      dsum(col("c"), "sg"), dsum(col("c") * col("c"), "qg"))
    val ngD = col("ng").cast("double")
    val s2i = (ngD * col("qg") - col("sg") * col("sg")) /
      (ngD * (ngD - lit(1.0)))
    val terms = grp.select(col("ng"),
      round((ngD - lit(1.0)) * s2i, 6).cast("decimal(28,6)").as("w_s2"),
      round((ngD - lit(1.0)) * log(s2i), 9).cast("decimal(28,9)").as("w_ln"),
      round(lit(1.0) / (ngD - lit(1.0)), 9).cast("decimal(28,9)").as("inv_df"))
    val tot = terms.agg(count(lit(1)).as("k"), sum(col("ng")).as("n"),
      sum(col("w_s2")).as("sw"), sum(col("w_ln")).as("sl"),
      sum(col("inv_df")).as("si"))
    val kD = col("k").cast("double")
    val nD = col("n").cast("double")
    val pooled = col("sw").cast("double") / (nD - kD)
    val lnPooled = round(log(pooled), 9)
    val cFac = round(lit(1.0) +
      (col("si").cast("double") - lit(1.0) / (nD - kD)) /
        (lit(3.0) * (kD - lit(1.0))), 9)
    tot.select(col("k"), col("n"),
      round(pooled, 6).as("pooled_var"),
      cFac.as("c_factor"),
      round(((nD - kD) * lnPooled - col("sl").cast("double")) / cFac, 6)
        .as("t_stat"))
  }

  /** Cohen's d / Hedges' g effect size per event type over the SAME
    * ref/cur calendar split q_agg_ttest adjudicates — the magnitude
    * report beside the significance report (a drift triage reads both:
    * t says "real", d says "how big"): pooled-SD standardized mean
    * difference d = (x̄₁−x̄₂)/Sp with Sp² = ((n₁−1)v₁+(n₂−1)v₂)/(n₁+n₂−2),
    * small-sample correction J = 1 − 3/(4(n₁+n₂)−9), g = J·d. All
    * moments exact DECIMAL(38,0) from one scan; every double expression
    * pinned; round-6 at the emit points only. */
  def q_agg_cohens_d(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("event_type"),
      Dsl.rlong(col("value") * 100).as("c"),
      (to_date(col("ts")) <= lit("2024-01-15").cast("date")).as("is_ref"))
    def dsum(c: org.apache.spark.sql.Column, n: String) =
      sum(c.cast("decimal(38,0)")).cast("double").as(n)
    val agg = ev.groupBy(col("event_type")).agg(
      sum(when(col("is_ref"), 1L).otherwise(0L)).as("n_ref"),
      sum(when(!col("is_ref"), 1L).otherwise(0L)).as("n_cur"),
      dsum(when(col("is_ref"), col("c")).otherwise(0L), "s1"),
      dsum(when(col("is_ref"), col("c") * col("c")).otherwise(0L), "q1"),
      dsum(when(!col("is_ref"), col("c")).otherwise(0L), "s2"),
      dsum(when(!col("is_ref"), col("c") * col("c")).otherwise(0L), "q2"))
    val n1 = col("n_ref").cast("double")
    val n2 = col("n_cur").cast("double")
    val v1 = (n1 * col("q1") - col("s1") * col("s1")) / (n1 * (n1 - 1))
    val v2 = (n2 * col("q2") - col("s2") * col("s2")) / (n2 * (n2 - 1))
    val sp2 = ((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2)
    val d = (col("s1") / n1 - col("s2") / n2) / sqrt(sp2)
    val j = lit(1.0) - lit(3.0) / (lit(4.0) * (n1 + n2) - lit(9.0))
    agg.filter(col("n_ref") > 1 && col("n_cur") > 1)
      .select(col("event_type"), col("n_ref"), col("n_cur"),
        round(d, 6).as("cohens_d"), round(j * d, 6).as("hedges_g"))
      .orderBy("event_type")
  }

  /** Dickey–Fuller stationarity test per event type (Dickey & Fuller
    * 1979; the unit-root screen a forecasting pipeline runs before
    * trusting trend fits — complements q_time_theil_u/q_time_hurst on
    * the same daily cents series): regress Δy_t on (1, y_{t−1}) and
    * report the slope t-statistic; t < −2.86 (the MacKinnon large-n 5%
    * point with constant) rejects the unit root. Moments are exact
    * DECIMAL(38,0) sums of integer products (the xcorr widen
    * convention); slope/RSS/t are one pinned double chain; round-6 at
    * the emit points; the decision compares the ROUNDED t. */
  def q_time_adf(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(Dsl.rlong(col("value") * 100)).as("y"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val lg = daily.withColumn("yp", lag(col("y"), 1).over(w))
      .filter(col("yp").isNotNull)
    def dsum(c: org.apache.spark.sql.Column, n: String) =
      sum(c).cast("double").as(n)
    val xd = col("yp").cast("decimal(38,0)")
    val ddec = (col("y") - col("yp")).cast("decimal(38,0)")
    val agg = lg.groupBy(col("event_type")).agg(
      count(lit(1)).as("n_obs"),
      dsum(xd, "sx"), dsum(ddec, "sy"),
      dsum(xd * col("yp"), "sxx"),
      dsum(xd * (col("y") - col("yp")), "sxy"),
      dsum(ddec * (col("y") - col("yp")), "syy"))
    val n = col("n_obs").cast("double")
    val b = (n * col("sxy") - col("sx") * col("sy")) /
      (n * col("sxx") - col("sx") * col("sx"))
    val sxyC = col("sxy") - col("sx") * col("sy") / n
    val syyC = col("syy") - col("sy") * col("sy") / n
    val sxxC = col("sxx") - col("sx") * col("sx") / n
    val tstat = b / sqrt((syyC - b * sxyC) / (n - 2) / sxxC)
    // n_obs <= 2 makes the (n-2) residual df non-positive (ADVICE r12)
    agg.filter(col("n_obs") > 2)
      .select(col("event_type"), col("n_obs"), round(b, 6).as("slope"),
        round(tstat, 6).as("adf_t"))
      .withColumn("stationary_5pct", col("adf_t") < lit(-2.86))
      .orderBy("event_type")
  }

  /** Pairwise Granger causality at lag 1 over the daily cents series
    * (Granger 1969) — the lead-lag DIRECTION test beside q_time_xcorr's
    * symmetric correlation: for every ordered (cause, effect) pair of
    * event types, F-test of x_{t−1}'s increment over the AR(1)
    * restricted model. Alignment is calendar-exact (effect day t joins
    * effect day t−1 and cause day t−1 — missing days drop the row in
    * both engines). The 9 cross-moments are exact DECIMAL(38,0) sums;
    * the 2×2 normal equations solve in one pinned double chain
    * (centered moments → det → b,c → RSS_u, RSS_r → F); NULLIF guards
    * degenerate (constant) regressors; round-6 emits, decision on the
    * rounded F vs the large-n F(1,∞) 5% point 3.84. Output is the
    * k·(k−1) pair grid — type-cardinality bounded at any scale. */
  def q_time_granger(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(Dsl.rlong(col("value") * 100)).as("y"))
    val rows = daily.select(col("event_type").as("tb"), col("day"), col("y"))
      .join(daily.select(col("event_type").as("tb2"), col("day").as("dl"),
          col("y").as("y1")),
        col("tb") === col("tb2") && col("dl") === expr("date_add(day, -1)"))
      .join(daily.select(col("event_type").as("ta"), col("day").as("dc"),
          col("y").as("x1")),
        col("dc") === expr("date_add(day, -1)") && col("ta") =!= col("tb"))
    def dsum(c: org.apache.spark.sql.Column, n: String) =
      sum(c).cast("double").as(n)
    val yD = col("y").cast("decimal(38,0)")
    val y1D = col("y1").cast("decimal(38,0)")
    val x1D = col("x1").cast("decimal(38,0)")
    val agg = rows.groupBy(col("ta"), col("tb")).agg(
      count(lit(1)).as("n_obs"),
      dsum(yD, "sy"), dsum(y1D, "sy1"), dsum(x1D, "sx1"),
      dsum(yD * col("y"), "syy"), dsum(y1D * col("y1"), "sy1y1"),
      dsum(x1D * col("x1"), "sx1x1"), dsum(yD * col("y1"), "syy1"),
      dsum(yD * col("x1"), "syx1"), dsum(y1D * col("x1"), "sy1x1"))
    val n = col("n_obs").cast("double")
    val s11 = col("sy1y1") - col("sy1") * col("sy1") / n
    val s22 = col("sx1x1") - col("sx1") * col("sx1") / n
    val s12 = col("sy1x1") - col("sy1") * col("sx1") / n
    val t1 = col("syy1") - col("sy") * col("sy1") / n
    val t2 = col("syx1") - col("sy") * col("sx1") / n
    val syyC = col("syy") - col("sy") * col("sy") / n
    val det = nullif(s11 * s22 - s12 * s12, lit(0.0))
    val bb = (t1 * s22 - t2 * s12) / det
    val cc = (t2 * s11 - t1 * s12) / det
    val rssU = nullif(syyC - bb * t1 - cc * t2, lit(0.0))
    val rssR = syyC - t1 * t1 / nullif(s11, lit(0.0))
    val f = (rssR - (syyC - bb * t1 - cc * t2)) * (n - 3) / rssU
    // ADVICE r12: groups with n_obs <= 3 have a non-positive (n-3)
    // factor — a meaningless F — so they are filtered, and rows whose
    // NULLIF guards fired (constant regressor, det = 0) carry an
    // explicit degenerate flag instead of a silently-NULL statistic.
    agg.filter(col("n_obs") > 3)
      .select(col("ta").as("cause"), col("tb").as("effect"), col("n_obs"),
        round(f, 6).as("f_stat"))
      .withColumn("degenerate", col("f_stat").isNull)
      .withColumn("granger_5pct", col("f_stat") > lit(3.84))
      .orderBy("cause", "effect")
  }

  /** Burst-state rate multiplier: the synthetic daily series is
    * near-Poisson-uniform (max/mean ≈ 1.1), so the classic s = 3 never
    * leaves the base state — s = 1.1 makes the detector discriminate
    * sustained elevated stretches on this corpus (the C4-threshold
    * precedent: parameters tuned so the fixture exercises the
    * mechanism, recorded as a named constant the oracle shares). */
  val BurstS = 1.1

  case class BurstIn(etype: String, x: Long, e0: Long, e1: Long, gam9: Long)
  case class BurstSnap(event_type: String, n_days: Long, n_burst_days: Long,
    first_burst_x: Option[Long], last_burst_x: Option[Long],
    burst_margin9: Long, final_cost9: Long)

  /** The exact-integer two-state DP, extracted so the spec can feed it
    * a hand-built bursty series (the fixture's uniform counts exercise
    * the margin, not the flags). burst_margin9 = max_t (c0_t − c1_t):
    * positive iff some day is flagged, else "how close it came". */
  private[graft] def burstFold(et: String, days: Array[BurstIn]): BurstSnap = {
    val sorted = days.sortBy(_.x)
    var c0 = 0L
    var c1 = sorted.head.gam9
    var nb = 0L
    var mm = Long.MinValue
    var fb: Option[Long] = None
    var lb: Option[Long] = None
    sorted.foreach { d =>
      val n0 = d.e0 + math.min(c0, c1)
      val n1 = d.e1 + math.min(c0 + d.gam9, c1)
      c0 = n0; c1 = n1
      mm = math.max(mm, c0 - c1)
      if (c1 < c0) {
        nb += 1L
        if (fb.isEmpty) fb = Some(d.x)
        lb = Some(d.x)
      }
    }
    BurstSnap(et, sorted.length.toLong, nb, fb, lb, mm, math.min(c0, c1))
  }

  /** Two-state burst detection over the daily event-count series
    * (Kleinberg 2002's finite-state model, forward-filtering variant:
    * the reported burst flag at day t is the cheaper state of the
    * forward costs up to t — an online decision, not the smoothed
    * Viterbi path, so a streaming deployment computes the identical
    * flags): base state emits at rate λ₀ = N/T, burst state at s·λ₀
    * with entry penalty γ = ln T; Poisson emission cost λ − n·ln λ
    * (the state-independent ln n! term cancels). EVERYTHING in the DP
    * is a 1e9-scaled BIGINT — emissions, penalty, both cost
    * accumulators — so the 360-step recursion is exact integer math
    * with zero rounding drift in either engine (the only float work is
    * the five per-type ln/rate constants, each one 1e9-rounded — the
    * adamic_adar device). The corpus-scale work is ONE daily count
    * aggregation; the fold runs per event type over its ≤|days| rows
    * (the bounded-key mapGroups tier); the oracle replays the DP as a
    * recursive CTE over the same integers. */
  def q_time_burst(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type").as("etype"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
      .select(col("etype"),
        datediff(col("day"), lit("2024-01-01").cast("date"))
          .cast("bigint").as("x"),
        col("n"))
    val rate = col("nn").cast("double") / col("td").cast("double")
    val par = daily.groupBy(col("etype").as("pe"))
      .agg(count(lit(1)).as("td"), sum(col("n")).as("nn"))
      .select(col("pe"),
        Dsl.rlong(rate * 1e9).as("lam09"),
        Dsl.rlong(lit(BurstS) * rate * 1e9).as("lam19"),
        Dsl.rlong(log(rate) * 1e9).as("l09"),
        Dsl.rlong(log(lit(BurstS) * rate) * 1e9).as("l19"),
        Dsl.rlong(log(col("td").cast("double")) * 1e9).as("gam9"))
    daily.join(broadcast(par), col("etype") === col("pe"))
      .select(col("etype"), col("x"),
        (col("lam09") - col("n") * col("l09")).as("e0"),
        (col("lam19") - col("n") * col("l19")).as("e1"),
        col("gam9"))
      .as[BurstIn]
      .groupByKey(_.etype)
      .mapGroups((et, it) => burstFold(et, it.toArray))
      .toDF()
      .orderBy("event_type")
  }

  /** Pettitt change-point test (Pettitt 1979) per event type over the
    * daily cents series — the rank-based (distribution-free) companion
    * to q_time_changepoint's mean-shift CUSUM (the two disagree exactly
    * on heavy-tailed shifts, which is why hydrology reports both):
    * U_t = Σ_{i≤t}Σ_{j>t} sgn(y_i−y_j) computed WITHOUT the pair join
    * via doubled midranks — r2 = 2·rank_min + ties − 1 keeps every
    * quantity an exact BIGINT (U_t = Σ_{i≤t}r2_i − t(n+1)); K = max|U_t|
    * over t < n, change day = earliest argmax. The only float is the
    * approximate significance 2·exp(−6K²/(n³+n²)), round-6. One rank
    * window + one cumulative window per type — day-cardinality bounded. */
  def q_time_pettitt(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(Dsl.rlong(col("value") * 100)).as("y"))
      .select(col("event_type"),
        datediff(col("day"), lit("2024-01-01").cast("date"))
          .cast("bigint").as("x"), col("y"))
    val wv = Window.partitionBy(col("event_type")).orderBy(col("y"))
    val wEq = Window.partitionBy(col("event_type"), col("y"))
    val wDay = Window.partitionBy(col("event_type")).orderBy(col("x"))
    val wCum = wDay.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("event_type"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val u = daily
      .withColumn("r2",
        lit(2L) * rank().over(wv) + count(lit(1)).over(wEq) - lit(1L))
      .withColumn("t", row_number().over(wDay).cast("bigint"))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("ut",
        sum(col("r2")).over(wCum) - col("t") * (col("n") + 1L))
      .filter(col("t") < col("n"))
    val k = u.groupBy(col("event_type"), col("n"))
      .agg(max(abs(col("ut"))).as("k_stat"))
    val tau = u.join(k.select(col("event_type").as("ke"), col("k_stat").as("kk")),
        col("event_type") === col("ke") && abs(col("ut")) === col("kk"))
      .groupBy(col("event_type").as("te"))
      .agg(min(col("x")).as("change_x"))
    val nD = col("n").cast("double")
    k.join(tau, col("event_type") === col("te"))
      .select(col("event_type"), col("n").as("n_days"), col("k_stat"),
        col("change_x"),
        round(lit(2.0) * exp(lit(-6.0) * col("k_stat").cast("double")
          * col("k_stat").cast("double") / (nD * nD * nD + nD * nD)), 6)
          .as("p_approx"))
      .orderBy("event_type")
  }

  /** TOST equivalence test (Schuirmann 1987) per event type over the
    * SAME ref/cur split as q_agg_ttest — the question the t-test cannot
    * answer: is the drift NEGLIGIBLE? Two one-sided Welch t-statistics
    * against the margin δ = 5 % of the overall mean (a data-derived but
    * exactly-computed bound: δ = 0.05·(Σ₁+Σ₂)/(n₁+n₂)); equivalence at
    * the 5 % level requires t_lower > 1.645 AND t_upper < −1.645
    * (large-n z, the drift monitors' regime). Same exact DECIMAL(38,0)
    * moment chain as the t-test, pinned double combines, round-6 emits,
    * decision on the rounded statistics. */
  def q_agg_tost(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("event_type"),
      Dsl.rlong(col("value") * 100).as("c"),
      (to_date(col("ts")) <= lit("2024-01-15").cast("date")).as("is_ref"))
    def dsum(c: org.apache.spark.sql.Column, n: String) =
      sum(c.cast("decimal(38,0)")).cast("double").as(n)
    val agg = ev.groupBy(col("event_type")).agg(
      sum(when(col("is_ref"), 1L).otherwise(0L)).as("n_ref"),
      sum(when(!col("is_ref"), 1L).otherwise(0L)).as("n_cur"),
      dsum(when(col("is_ref"), col("c")).otherwise(0L), "s1"),
      dsum(when(col("is_ref"), col("c") * col("c")).otherwise(0L), "q1"),
      dsum(when(!col("is_ref"), col("c")).otherwise(0L), "s2"),
      dsum(when(!col("is_ref"), col("c") * col("c")).otherwise(0L), "q2"))
    val n1 = col("n_ref").cast("double")
    val n2 = col("n_cur").cast("double")
    val se = sqrt(
      (n1 * col("q1") - col("s1") * col("s1")) / (n1 * (n1 - 1)) / n1 +
      (n2 * col("q2") - col("s2") * col("s2")) / (n2 * (n2 - 1)) / n2)
    val diff = col("s1") / n1 - col("s2") / n2
    // abs(): the margin is a magnitude — on a negative-mean metric the
    // raw product would invert (delta < 0) and make equivalent_5pct
    // silently unsatisfiable (ADVICE r12)
    val delta = lit(0.05) * abs((col("s1") + col("s2")) / (n1 + n2))
    agg.filter(col("n_ref") > 1 && col("n_cur") > 1)
      .select(col("event_type"), col("n_ref"), col("n_cur"),
        round(diff, 6).as("mean_diff"), round(delta, 6).as("delta_margin"),
        round((diff + delta) / se, 6).as("t_lower"),
        round((diff - delta) / se, 6).as("t_upper"))
      .withColumn("equivalent_5pct",
        col("t_lower") > lit(1.645) && col("t_upper") < lit(-1.645))
      .orderBy("event_type")
  }

  /** Candidate seasonal bands for the spectral-entropy screen — wider
    * than the 7/14-day periodogram pair so the flatness measure has a
    * real support (8 bands, Σt = 86 trig rows). */
  val SpectralPeriods = Seq(2, 3, 5, 7, 10, 14, 15, 30)
  val SpectralTrig: Seq[(Int, Int, Long, Long)] =
    SpectralPeriods.flatMap { t =>
      (0 until t).map { m =>
        val th = 2.0 * math.Pi * m.toDouble / t.toDouble
        def i9(v: Double): Long =
          BigDecimal(v * 1e9).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLongExact
        (t, m, i9(StrictMath.cos(th)), i9(StrictMath.sin(th)))
      }
    }

  /** Spectral entropy of the daily cents series per event type — the
    * forecastability screen in the frequency domain (flat spectrum ⇒
    * noise, concentrated ⇒ seasonal structure; complements the
    * time-domain q_time_hurst/q_time_theil_u pair): Schuster power
    * P_T = |Σ y·e^{2πi x/T}|² at 8 candidate seasonal bands via the
    * periodogram's integer trig device (1e9-scaled cos/sin, exact
    * BIGINT sums), normalized p_T = P/ΣP over round-9 DECIMAL power
    * pins, H = −Σ p ln p (round-9 terms, PSI device), normalized by
    * ln k, plus the dominant band (max exact power, tie → shorter
    * period). One fact-scan daily agg; everything after is
    * band-cardinality bounded. */
  def q_time_spectral_entropy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(Dsl.rlong(col("value") * 100)).as("y"))
      .select(col("event_type"),
        datediff(col("day"), lit("2024-01-01").cast("date"))
          .cast("bigint").as("x"), col("y"))
    val trig = SpectralTrig.toDF("t", "m", "c9", "s9")
    val csd = col("cs").cast("double") / 1e9
    val ssd = col("ss").cast("double") / 1e9
    val pw = daily
      .join(broadcast(trig), pmod(col("x"), col("t").cast("bigint")) === col("m"))
      .groupBy(col("event_type"), col("t"))
      .agg(sum(col("y") * col("c9")).as("cs"), sum(col("y") * col("s9")).as("ss"))
      .select(col("event_type"), col("t"),
        round(csd * csd + ssd * ssd, 9).cast("decimal(28,9)").as("pw"))
    val tot = pw.groupBy(col("event_type").as("te"))
      .agg(sum(col("pw")).as("ptot"), count(lit(1)).as("k"))
    val j = pw.join(broadcast(tot), col("event_type") === col("te"))
      .withColumn("p", col("pw").cast("double") / col("ptot").cast("double"))
    val ent = j.select(col("event_type"), col("k"),
        round(when(col("p") > 0, -col("p") * log(col("p")))
          .otherwise(lit(0.0)), 9).cast("decimal(28,9)").as("term"))
      .groupBy(col("event_type"), col("k")).agg(sum(col("term")).as("hsum"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("pw").desc, col("t").asc)
    val dom = j.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("event_type").as("de"), col("t").cast("int").as("dominant_period"))
    ent.join(dom, col("event_type") === col("de"))
      .select(col("event_type"), col("k").as("n_periods"), col("dominant_period"),
        round(col("hsum").cast("double"), 6).as("spectral_entropy"),
        round(col("hsum").cast("double") / log(col("k").cast("double")), 6)
          .as("spectral_entropy_norm"))
      .orderBy("event_type")
  }

  /** Peak session concurrency per day via a SWEEP LINE over the
    * q_sessionize_batch session table (same gap rule, one shared
    * definition of "session") — the capacity-planning number an ops
    * team reads, computed WITHOUT the quadratic interval-overlap
    * self-join: each session becomes a +1 at its start and a −1 one
    * microsecond after its last event (end-inclusive ⇒ point sessions
    * count, boundary-touching sessions don't overlap), and the running
    * sum of deltas under the total order (us, delta, user, start) IS
    * the live-session count. Partitioned by the session's START day,
    * so the window never sees more than a day's sessions — the shape
    * that survives 100 TB where an interval self-join cannot. COHORT
    * SEMANTICS (ADVICE r12): a session is attributed wholly to its
    * START day — one alive at midnight never counts toward the next
    * day's peak, hence the column name max_concurrent_cohort; for true
    * instantaneous per-day peaks, split sessions at day boundaries
    * before the sweep. Emits per start-day cohort the session count,
    * the peak concurrency, and the first instant attaining it. */
  def q_agg_concurrency(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, 0)
    val gapUs = SessionGapMin * 60000000L
    val sess = ev
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("brk",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > gapUs, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("brk")).over(run))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(unix_micros(col("ts"))).as("s_us"),
        (max(unix_micros(col("ts"))) + 1L).as("e_us"))
      .select(col("user_id"), col("s_us"), col("e_us"),
        to_date(timestamp_micros(col("s_us"))).as("day"))
    val pts = sess.select(col("day"), col("s_us").as("us"),
        lit(1L).as("delta"), col("user_id"), col("s_us"))
      .unionAll(sess.select(col("day"), col("e_us").as("us"),
        lit(-1L).as("delta"), col("user_id"), col("s_us")))
    val wd = Window.partitionBy(col("day"))
      .orderBy(col("us"), col("delta"), col("user_id"), col("s_us"))
      .rowsBetween(Window.unboundedPreceding, 0)
    // two consumers (per-day max + peak-attain lookup): materialize the
    // sessionize + sweep chain once (r17 opt — it executed twice,
    // double-paying both windows over the event stream)
    val swept = pts.withColumn("cur", sum(col("delta")).over(wd))
      .ckpt("concurrency_sweep")
    val mx = swept.groupBy(col("day"))
      .agg(max(col("cur")).as("max_concurrent_cohort"),
        sum(when(col("delta") === 1L, 1L).otherwise(0L)).as("n_sessions"))
    val att = swept
      .join(mx.select(col("day").as("d2"), col("max_concurrent_cohort").as("mc")),
        col("day") === col("d2") && col("cur") === col("mc"))
      .groupBy(col("day").as("d3")).agg(min(col("us")).as("peak_us"))
    mx.join(att, col("day") === col("d3"))
      .select(col("day"), col("n_sessions"), col("max_concurrent_cohort"),
        timestamp_micros(col("peak_us")).as("peak_ts"))
      .orderBy("day")
  }

  /** SMA golden/death-cross detection per event type over the daily
    * cents series — the moving-average regime signal beside Bollinger
    * (q_time_bollinger) and EWMA: SMA5 vs SMA15 compared WITHOUT any
    * division via the exact integer cross-multiplication
    * 3·Σ₅ > Σ₁₅ (⟺ Σ₅/5 > Σ₁₅/15), so the whole operator — window
    * sums, regime flags, cross events, the last-cross report — is
    * integer/boolean arithmetic with NO float tie class at all.
    * Evaluated only where both windows are full (day ≥ 15). */
  def q_time_sma_cross(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(Dsl.rlong(col("value") * 100)).as("y"))
      .select(col("event_type"),
        datediff(col("day"), lit("2024-01-01").cast("date"))
          .cast("bigint").as("x"), col("y"))
    val wd = Window.partitionBy(col("event_type")).orderBy(col("x"))
    val s5 = sum(col("y")).over(wd.rowsBetween(-4, 0))
    val s15 = sum(col("y")).over(wd.rowsBetween(-14, 0))
    val evald = daily
      .withColumn("t", row_number().over(wd).cast("bigint"))
      .withColumn("above", lit(3L) * s5 > s15)
      .filter(col("t") >= 15)
    val wv = Window.partitionBy(col("event_type")).orderBy(col("x"))
    val crossed = evald
      .withColumn("prev", lag(col("above"), 1).over(wv))
      .filter(col("prev").isNotNull)
      .withColumn("golden", col("above") && !col("prev"))
      .withColumn("death", !col("above") && col("prev"))
    crossed.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_transitions_evaluated"),
        sum(when(col("golden"), 1L).otherwise(0L)).as("n_golden"),
        sum(when(col("death"), 1L).otherwise(0L)).as("n_death"),
        max(when(col("golden") || col("death"),
          struct(col("x"), when(col("golden"), lit("golden"))
            .otherwise(lit("death")).as("dir")))).as("lastc"))
      .select(col("event_type"), col("n_transitions_evaluated"),
        col("n_golden"), col("n_death"),
        col("lastc.x").as("last_cross_x"),
        col("lastc.dir").as("last_cross_dir"))
      .orderBy("event_type")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_time_sma_cross" -> q_time_sma_cross _,
    "q_agg_concurrency" -> q_agg_concurrency _,
    "q_time_spectral_entropy" -> q_time_spectral_entropy _,
    "q_agg_tost" -> q_agg_tost _,
    "q_time_pettitt" -> q_time_pettitt _,
    "q_time_burst" -> q_time_burst _,
    "q_time_adf" -> q_time_adf _,
    "q_time_granger" -> q_time_granger _,
    "q_agg_jarque_bera" -> q_agg_jarque_bera _,
    "q_agg_bartlett" -> q_agg_bartlett _,
    "q_agg_cohens_d" -> q_agg_cohens_d _,
    "q_agg_spearman" -> q_agg_spearman _,
    "q_agg_anova" -> q_agg_anova _,
    "q_agg_levene" -> q_agg_levene _,
    "q_stats_fdr_bh" -> q_stats_fdr_bh _,
    "q_stats_holm" -> q_stats_holm _,
    "q_agg_mann_kendall" -> q_agg_mann_kendall _,
    "q_time_kendall_tau" -> q_time_kendall_tau _,
    "q_time_dow_seasonality" -> q_time_dow_seasonality _,
    "q_time_pacf" -> q_time_pacf _,
    "q_time_markov" -> q_time_markov _,
    "q_stream_markov" -> q_stream_markov _,
    "q_time_xcorr" -> q_time_xcorr _,
    "q_time_theil_u" -> q_time_theil_u _,
    "q_time_hurst" -> q_time_hurst _,
    "q_agg_survival_curve" -> q_agg_survival_curve _,
    "q_time_bollinger" -> q_time_bollinger _,
    "q_agg_pinball" -> q_agg_pinball _,
    "q_agg_hhi" -> q_agg_hhi _,
    "q_time_sax" -> q_time_sax _,
    "q_agg_gmean_hmean" -> q_agg_gmean_hmean _,
    "q_agg_mannwhitney" -> q_agg_mannwhitney _,
    "q_time_ewma" -> q_time_ewma _,
    "q_stream_ewma" -> q_stream_ewma _,
    "q_time_cusum" -> q_time_cusum _,
    "q_stream_cusum" -> q_stream_cusum _,
    "q_agg_chi2" -> q_agg_chi2 _,
    "q_agg_benford" -> q_agg_benford _,
    "q_stream_chi2" -> q_stream_chi2 _,
    "q_stream_benford" -> q_stream_benford _,
    "q_time_periodogram" -> q_time_periodogram _,
    "q_agg_bootstrap_ci" -> q_agg_bootstrap_ci _,
    "q_agg_permutation_test" -> q_agg_permutation_test _,
    "q_time_ljungbox" -> q_time_ljungbox _,
    "q_time_runs_test" -> q_time_runs_test _,
    "q_agg_tukey" -> q_agg_tukey _,
    "q_agg_winsorized_mean" -> q_agg_winsorized_mean _,
    "q_agg_theil_sen" -> q_agg_theil_sen _,
    "q_time_mad" -> q_time_mad _,
    "q_agg_hodges_lehmann" -> q_agg_hodges_lehmann _,
    "q_stream_decay_topk" -> q_stream_decay_topk _,
    "q_time_seasonal_decompose" -> q_time_seasonal_decompose _,
    "q_agg_ttest" -> q_agg_ttest _,
    "q_stream_ttest" -> q_stream_ttest _,
    "q_stream_holt_winters" -> q_stream_holt_winters _,
    "q_agg_ols_trend" -> q_agg_ols_trend _,
    "q_time_changepoint" -> q_time_changepoint _,
    "q_time_autocorr" -> q_time_autocorr _,
    "q_time_ar2" -> q_time_ar2 _,
    "q_stream_ar2" -> q_stream_ar2 _,
    "q_agg_ks_test" -> q_agg_ks_test _,
    "q_agg_gini" -> q_agg_gini _,
    "q_stream_holt" -> q_stream_holt _,
    "q_agg_entropy" -> q_agg_entropy _,
    "q_agg_skew_kurt" -> q_agg_skew_kurt _,
    "q_sessionize_batch" -> q_sessionize_batch _,
    "q_stream_anomaly" -> q_stream_anomaly _,
    "q_agg_corr" -> q_agg_corr _,
    "q_time_interpolate" -> q_time_interpolate _,
    "q_llm_drift_psi" -> q_llm_drift_psi _,
    "q_stream_drift_psi" -> q_stream_drift_psi _,
    "q_stream_reservoir" -> q_stream_reservoir _
  )
}
