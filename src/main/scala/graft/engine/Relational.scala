package graft.engine

import graft.engine.Ckpt.CkptOps

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VecMeanAgg

/** Relational operator surface (SURVEY.md §2.1–2.8). Every query is a pure
  * `(SparkSession, sfDir) => DataFrame` built from declarative
  * DataFrame/Column expressions so Catalyst keeps pushdown, pruning,
  * join-strategy selection and whole-stage codegen. The reference
  * (`/root/reference/README.md:2`) exposes the Flink DataStream operator
  * set (map/filter/keyBy/aggregate/join/window); these are the Spark-native
  * equivalents per SURVEY.md §2's normative contract.
  *
  * Determinism (SURVEY D1–D5): explicit ORDER BY on unique keys, money
  * aggregates through DECIMAL(18,2) (Dsl), ROUND(...,6) on ratios,
  * explicit top-k tie-breaks.
  */
object Relational {
  import Dsl._

  /** Typed rows for the streaming new-vs-returning maintainer
    * (non-private: the Dataset encoder's generated code instantiates
    * them from outside the object). */
  case class NvOrd(ck: Long, us: Long, ok: Long, m: Long)
  case class NvPair(o_custkey: Long, m: Long, fm: Long)
  case class RfmOrd(ck: Long, days: Int, cents: Long)
  case class RfmState(days: Int, freq: Long, cents: Long)
  case class RfmCust(o_custkey: Long, last_days: Int, freq: Long, cents: Long)

  /** Per-customer RFM fold: three order-blind accumulators (max day,
    * count, cent sum) — the snapshot after any batch split equals the
    * batch aggregate by commutativity, no in-group sort needed. */
  private[graft] val rfmFold: Keyed.Fold[RfmOrd, Long, RfmState, RfmCust] =
    Keyed.fold((o: RfmOrd) => o.ck, RfmState(Int.MinValue, 0L, 0L)) { (ck, st0, it) =>
      val st = it.foldLeft(st0) { (st, o) =>
        RfmState(math.max(st.days, o.days), st.freq + 1L, st.cents + o.cents)
      }
      (st, Iterator.single(RfmCust(ck, st.days, st.freq, st.cents)))
    }

  /** Per-customer fold: state = first-ever order month (running min);
    * each order is labeled with the min as of its (date, orderkey)
    * position. Sorting inside the group is customer-order-bounded. */
  private[graft] val nvFold: Keyed.Fold[NvOrd, Long, Long, NvPair] =
    Keyed.fold((o: NvOrd) => o.ck, Long.MaxValue) { (ck, fm0, it) =>
      var fm = fm0
      val out = it.toArray.sortBy(o => (o.us, o.ok)).map { o =>
        if (o.m < fm) fm = o.m
        NvPair(ck, o.m, fm)
      }
      (fm, out.iterator)
    }

  private val ld = (y: Int, m: Int, d: Int) => lit(java.time.LocalDateTime.of(y, m, d, 0, 0, 0))

  // ── §2.1 scans ────────────────────────────────────────────────────────

  /** Parquet scan + projection; column pruning reaches the scan (ReadSchema). */
  def q_scan_project(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_quantity"), col("l_shipdate"))
      .orderBy("l_orderkey", "l_linenumber")

  /** Scan with predicate pushed to the parquet reader (PushedFilters). */
  def q_scan_pruned_filter(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= ld(1996, 1, 1) && col("l_shipdate") < ld(1997, 1, 1))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"),
        col("l_extendedprice"))
      .orderBy("l_orderkey", "l_linenumber")

  // ── §2.2 filters / projections ───────────────────────────────────────

  def q_filter_predicates(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .filter(col("p_size").between(10, 40) &&
        (col("p_type").isin("PROMO", "ECONOMY") || col("p_name").like("red%")) &&
        col("p_brand").isNotNull && col("p_retailprice") > 500.0)
      .select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_type"),
        col("p_size"), col("p_retailprice"))
      .orderBy("p_partkey")

  def q_proj_expr(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        (col("l_extendedprice") * (lit(1.0) + col("l_tax"))).as("charged"),
        when(col("l_quantity") >= 30, "bulk")
          .when(col("l_quantity") >= 10, "mid")
          .otherwise("small").as("qty_class"),
        (col("l_discount") > 0.05).as("high_disc"))
      .orderBy("l_orderkey", "l_linenumber")

  // ── §2.3 joins ───────────────────────────────────────────────────────

  /** Small-dim broadcast join: customer (15k rows at sf1) is broadcast,
    * so the fact side never shuffles — the 100 TB-safe star-join shape. */
  def q_join_inner_broadcast(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)),
        col("o_custkey") === col("c_custkey"), "inner")
      .select(col("o_orderkey"), col("o_totalprice"), col("c_name"), col("c_mktsegment"))
      .orderBy("o_orderkey")

  /** 5-way star join (TPC-H Q5 shape): dims broadcast, single fact shuffle. */
  def q_join_star_5way(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .groupBy(col("n_name"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
        .cast("double").as("revenue"),
        countDistinct(col("o_orderkey")).as("n_orders"))
      .orderBy("n_name")

  def q_join_left_outer(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("order_cnt"),
        coalesce(sum(dec(col("o_totalprice"))), lit(0).cast("decimal(18,2)"))
          .cast("double").as("total_spent"))
      .orderBy("c_custkey")

  def q_join_full_outer(s: SparkSession, dir: String): DataFrame = {
    val cc = Tables.customer(s, dir).groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("cust_cnt"))
    val sc = Tables.supplier(s, dir).groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("supp_cnt"))
    cc.join(sc, col("c_nationkey") === col("s_nationkey"), "full_outer")
      .select(coalesce(col("c_nationkey"), col("s_nationkey")).as("nationkey"),
        coalesce(col("cust_cnt"), lit(0L)).as("cust_cnt"),
        coalesce(col("supp_cnt"), lit(0L)).as("supp_cnt"))
      .orderBy("nationkey")
  }

  def q_join_semi(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy("c_custkey")

  /** Left-anti join: customers with no FINISHED ('F'-status) order.
    * (Round 16: the unfiltered variant was vacuous on this fixture —
    * every customer has at least one order at every sf, so the result
    * was 0 rows and the oracle compare proved nothing. The status
    * filter keeps survivors at sf0.01 (71) and sf0.1 (511) while the
    * operator under test — the anti join — is unchanged; the filter
    * pushes into the right-side scan.) */
  def q_join_anti(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir).filter(col("o_orderstatus") === "F"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy("c_custkey")

  /** Non-equi (theta) self-join, bounded by the nation equi-key so the
    * quadratic blowup stays per-nation, not global. */
  def q_join_theta(s: SparkSession, dir: String): DataFrame = {
    val s1 = Tables.supplier(s, dir)
      .select(col("s_nationkey").as("nk1"), col("s_acctbal").as("bal1"))
    val s2 = Tables.supplier(s, dir)
      .select(col("s_nationkey").as("nk2"), col("s_acctbal").as("bal2"))
    s1.join(s2, col("nk1") === col("nk2") && col("bal1") < col("bal2"))
      .groupBy(col("nk1").as("nationkey"))
      .agg(count(lit(1)).as("pair_cnt"))
      .orderBy("nationkey")
  }

  /** As-of join (Flink intervalJoin analog): latest click ≤ 30 min before
    * each purchase, per user. Equi-key on user bounds the range probe. */
  def q_join_interval_asof(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"), col("ts").as("c_ts"))
    val w = Window.partitionBy(col("p_id"))
      .orderBy(col("c_ts").desc_nulls_last, col("c_id").desc_nulls_last)
    p.join(c,
        col("user_id") === col("c_user") &&
          col("c_ts") <= col("p_ts") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES"),
        "left_outer")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("p_id").as("event_id"), col("user_id"), col("p_ts").as("ts"),
        col("c_id").as("click_id"), col("c_ts").as("click_ts"))
      .orderBy("event_id")
  }

  /** NEAREST-neighbor as-of join (the bidirectional variant of the
    * backward as-of: kdb/pandas `merge_asof direction='nearest'`):
    * for each purchase, the click closest in EITHER direction within
    * ±30 min, by |Δt| with (earlier ts, lower id) tie-breaks. The
    * equi-key on user plus the bounded time band keeps the range probe
    * linear — the same SMJ-band shape the backward as-of already has;
    * the per-purchase rank window sees only in-band candidates. */
  def q_join_asof_nearest(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"), col("ts").as("c_ts"))
    val dtUs = abs(unix_micros(col("c_ts")) - unix_micros(col("p_ts")))
    val w = Window.partitionBy(col("p_id"))
      .orderBy(col("dt_us").asc_nulls_last, col("c_ts").asc_nulls_last,
        col("c_id").asc_nulls_last)
    p.join(c,
        col("user_id") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES") &&
          col("c_ts") <= col("p_ts") + expr("INTERVAL 30 MINUTES"),
        "left_outer")
      .withColumn("dt_us", dtUs)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("p_id").as("event_id"), col("user_id"), col("p_ts").as("ts"),
        col("c_id").as("click_id"), col("dt_us"))
      .orderBy("event_id")
  }

  // ── §2.4 aggregations ────────────────────────────────────────────────

  /** Flagship (TPC-H Q1 shape): partial+final HashAggregate over the fact
    * table; all money math through DECIMAL(18,2) for cross-engine parity. */
  def q_agg_pricing_summary(s: SparkSession, dir: String): DataFrame = {
    val one = lit(1).cast("decimal(18,2)")
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= ld(2000, 12, 1))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        moneySum(col("l_quantity")).as("sum_qty"),
        moneySum(col("l_extendedprice")).as("sum_base_price"),
        sum(dec(col("l_extendedprice")) * (one - dec(col("l_discount"))))
          .cast("double").as("sum_disc_price"),
        moneyAvg(col("l_quantity")).as("avg_qty"),
        moneyAvg(col("l_extendedprice")).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  def q_agg_count_distinct(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), countDistinct(col("user_id")).as("n_users"))
      .orderBy("event_type")

  /** Declared relative standard deviation of the HLL++ sketch (the
    * Spark default) and the sigma envelope the bracket contract
    * accepts: |approx − exact| ≤ 3·rsd·exact. Measured fixture error is
    * 6.7% at sf0.1 (APPROX_BOUNDS.json) — inside 15%, outside a naive
    * 1·rsd check, which is exactly why the envelope is 3σ. */
  val HllRsd = 0.05
  val HllSigmas = 3.0

  /** Raw HLL++ estimate per group — the sketch value itself. Engine-
    * specific (xxhash64 family), so this projection is NOT oracle-
    * hashable; it feeds the bracketed contract query below, the
    * ApproxBounds error artifact and the proximity self-checks. */
  def approxDistinctRaw(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id")).as("approx_users"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type")

  /** HLL++ sketch distinct, oracle-bracketed (VERDICT r12 item 3): the
    * registered contract emits the exact distinct (DuckDB-hashable)
    * plus a within-3σ boolean computed against the sketch estimate —
    * the oracle asserts TRUE, so a broken sketch (or a hash-family
    * drift past the declared envelope) flips the boolean and fails the
    * driver gate instead of hiding behind no_oracle. At 100 TB the
    * sketch is THE distinct operator (mergeable, constant memory); the
    * exact twin here is what prices its error. */
  def q_agg_approx_distinct(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id")).as("apx"),
        countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .select(col("event_type"), col("n_events"), col("n_users"),
        (abs(col("apx") - col("n_users")).cast("double")
          <= lit(HllRsd * HllSigmas) * col("n_users").cast("double"))
          .as("within_3rsd"))
      .orderBy("event_type")

  def q_agg_rollup(s: SparkSession, dir: String): DataFrame =
    Tables.region(s, dir)
      .join(Tables.nation(s, dir), col("r_regionkey") === col("n_regionkey"))
      .join(Tables.customer(s, dir), col("n_nationkey") === col("c_nationkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("cust_cnt"), grouping_id().cast("int").as("gid"))
      .orderBy(col("gid"), col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)

  def q_agg_cube(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .withColumn("yr", year(col("o_orderdate")).cast("int"))
      .cube(col("o_orderstatus"), col("yr"))
      .agg(count(lit(1)).as("n_orders"), moneySum(col("o_totalprice")).as("total_price"),
        grouping_id().cast("int").as("gid"))
      .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first, col("yr").asc_nulls_first)

  def q_agg_grouping_sets(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir)
      .withColumn("yr", year(col("o_orderdate")).cast("int"))
      .createOrReplaceTempView("v_orders_gs")
    s.sql(
      """SELECT o_orderstatus, yr, count(*) AS n_orders,
        |       CAST(grouping_id() AS INT) AS gid
        |FROM v_orders_gs
        |GROUP BY GROUPING SETS ((o_orderstatus),(yr),())
        |ORDER BY gid, o_orderstatus ASC NULLS FIRST, yr ASC NULLS FIRST""".stripMargin)
  }

  def q_agg_having(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), moneySum(col("value")).as("val_sum"))
      .filter(col("n_events") > 1500)
      .orderBy("event_type")

  /** Typed UDAF surface: element-wise mean of 64-dim float vectors
    * (graft.functions.VecMeanAgg) — partial-aggregated buffers, not rows. */
  def q_udaf_vec_mean(s: SparkSession, dir: String): DataFrame = {
    val vecMean = udaf(VecMeanAgg)
    Tables.embeddings(s, dir)
      .groupBy(col("label"))
      .agg(vecMean(col("embedding")).as("mv"))
      .select(col("label"),
        round(element_at(col("mv"), 1), 6).as("d1"),
        round(element_at(col("mv"), 2), 6).as("d2"),
        round(element_at(col("mv"), 3), 6).as("d3"),
        round(element_at(col("mv"), 4), 6).as("d4"))
      .orderBy("label")
  }

  /** Ordered string aggregation (listagg): deterministic because the
    * collected list is sorted before joining. */
  def q_agg_listagg(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .groupBy(col("c_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_cust"),
        array_join(sort_array(collect_list(col("c_name"))), ",").as("names"))
      .orderBy("nationkey")

  /** first_value / last_value over per-customer order history. */
  def q_win_first_last(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(s, dir)
      .select(col("o_custkey"),
        first(col("o_orderkey")).over(w).as("first_okey"),
        last(col("o_orderkey")).over(wf).as("last_okey"),
        row_number().over(w).as("rn"))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("first_okey"), col("last_okey"))
      .orderBy("o_custkey")
  }

  /** Exact interpolated percentiles (sort-based aggregate). */
  def q_agg_percentiles(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_orderstatus"))
      .agg(round(percentile(col("o_totalprice"), lit(0.5)), 6).as("p50"),
        round(percentile(col("o_totalprice"), lit(0.9)), 6).as("p90"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_orderstatus")

  /** Pivot: order counts by year × status spread into columns. */
  def q_agg_pivot(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .withColumn("yr", year(col("o_orderdate")).cast("int"))
      .groupBy(col("yr"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .select(col("yr"), coalesce(col("F"), lit(0L)).as("F"),
        coalesce(col("O"), lit(0L)).as("O"), coalesce(col("P"), lit(0L)).as("P"))
      .orderBy("yr")

  /** Statistical mode per group with an explicit deterministic tie-break
    * (largest count, then smallest key — engines' built-in mode() tie
    * rules differ, so BOTH sides run the same lexicographic argmax):
    * the most common nation per market segment. Pure partial+final
    * aggregation, no per-group sort. */
  def q_agg_mode(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .groupBy(col("c_mktsegment"), col("c_nationkey"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("c_mktsegment"))
      .agg(max(struct(col("cnt"), (-col("c_nationkey")).as("nk"))).as("m"),
        sum(col("cnt")).as("n_customers"))
      .select(col("c_mktsegment"), (-col("m.nk")).cast("int").as("modal_nation"),
        col("m.cnt").as("modal_cnt"), col("n_customers"))
      .orderBy("c_mktsegment")

  /** Boolean/conditional aggregation surface: count_if, any/bool_or,
    * every/bool_and — the predicates-as-aggregates idiom (all map-side
    * partial, shuffle volume = #groups). */
  def q_agg_bool_funcs(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(count_if(col("value") > 100).as("n_big"),
        bool_or(col("value") > 500).as("has_huge"),
        bool_and(col("value") >= 0).as("all_nonneg"),
        count_if(col("user_id") % 2 === 0).as("n_even_users"))
      .orderBy("event_type")

  /** Date arithmetic surface: add_months (month-end clamping), last_day,
    * quarter truncation, day-of-week — per-row over orders. */
  def q_date_arith(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(col("o_orderkey"),
        add_months(col("o_orderdate"), 2).as("plus2m"),
        last_day(col("o_orderdate")).as("eom"),
        date_trunc("quarter", col("o_orderdate")).cast("date").as("qtr"),
        dayofweek(col("o_orderdate")).as("dow"),
        quarter(col("o_orderdate")).as("q"))
      .orderBy("o_orderkey")

  /** NULL-handling surface: nullif / coalesce / null predicates flowing
    * through expressions (the three-valued-logic corners). */
  def q_null_funcs(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .select(col("c_custkey"),
        nullif(col("c_mktsegment"), lit("BUILDING")).as("seg_nb"),
        coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("(redacted)"))
          .as("seg_filled"),
        nullif(col("c_mktsegment"), lit("BUILDING")).isNull.as("was_building"),
        when(col("c_acctbal") < 0, lit(null).cast("double"))
          .otherwise(col("c_acctbal")).as("bal_pos"))
      .orderBy("c_custkey")

  /** GK sketch accuracy (rank error guarantee ≤ n/GkAccuracy) and the
    * acceptance band: the estimate must land between the EXACT order
    * statistics at ranks (p ± δ)·n with δ = 5/accuracy + 2.5/n — 5×
    * the guarantee plus a per-group discreteness allowance (at a small
    * group, ±ε·n ranks is less than ONE element; the +2.5/n term keeps
    * the bracket at least two elements wide at every n, which is what
    * makes the boolean hold at sf0.001's 10-row groups AND stay a
    * ~±0.05% rank test at production n). Measured fixture error:
    * 2.2e-4 relative (APPROX_BOUNDS.json). */
  val GkAccuracy = 10000
  val GkRankBand = 5.0 / GkAccuracy

  /** Raw GK estimates — engine-specific summaries (merge-order
    * sensitive), not oracle-hashable; feeds the bracket below,
    * ApproxBounds and the proximity self-checks. */
  def approxPercentileRaw(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_orderstatus"))
      .agg(percentile_approx(col("o_totalprice"), array(lit(0.5), lit(0.9)),
        lit(GkAccuracy)).as("apx"))
      .select(col("o_orderstatus"),
        element_at(col("apx"), 1).as("p50_approx"),
        element_at(col("apx"), 2).as("p90_approx"))
      .orderBy("o_orderstatus")

  /** Approximate percentiles (Greenwald–Khanna sketch — the bounded-
    * memory quantile path, vs q_agg_percentiles' exact sort-based
    * aggregate), oracle-bracketed (VERDICT r12 item 3): emits the exact
    * round-6 quantiles (hash-checked against DuckDB quantile_cont, the
    * q_agg_percentiles convention) plus per-percentile rank-band
    * booleans — approx ∈ [exact(p−δ), exact(p+δ)], δ = GkRankBand —
    * that the oracle asserts TRUE. At 100 TB this is THE percentile
    * operator; the exact twin prices its error. */
  def q_agg_approx_percentile(s: SparkSession, dir: String): DataFrame = {
    // rank-space bracket: element at rank max(1, floor((p-d)n)) ≤ GK
    // estimate ≤ element at rank min(n, ceil((p+d)n)+1). Wider-only
    // clamps, so the test can never false-fail; the sorted per-group
    // value array has the same memory profile as the exact percentile
    // aggregate beside it (this op deliberately carries its exact twin
    // — that is what prices the sketch).
    // Loud scope guard (ADVICE r13): the rank arithmetic lands in int
    // indices — a group past 2^31 rows would wrap SILENTLY to a garbage
    // element_at index (the collect_list twin would OOM long before,
    // but the wrap must be loud, not silent). n_i raises on overflow;
    // with n bounded, every derived rank fits int by construction.
    val nInt = when(col("n") <= Int.MaxValue, col("n").cast("int"))
      .otherwise(expr("cast(raise_error('graft: q_agg_approx_percentile " +
        "exact-twin bracket requires n <= 2^31 per group; run the sketch " +
        "without the bracket at that scale') as int)"))
    def loRank(p: Double) = greatest(lit(1),
      floor((lit(p) - col("d")) * col("n")).cast("int"))
    def hiRank(p: Double) = least(nInt,
      ceil((lit(p) + col("d")) * col("n")).cast("int") + 1)
    def inBand(i: Int, p: Double) =
      element_at(col("apx"), i).cast("double")
        .between(element_at(col("xs"), loRank(p)),
          element_at(col("xs"), hiRank(p)))
    Tables.orders(s, dir)
      .groupBy(col("o_orderstatus"))
      .agg(percentile_approx(col("o_totalprice"), array(lit(0.5), lit(0.9)),
          lit(GkAccuracy)).as("apx"),
        percentile(col("o_totalprice"), array(lit(0.5), lit(0.9))).as("ex"),
        sort_array(collect_list(col("o_totalprice").cast("double"))).as("xs"),
        count(lit(1)).as("n"))
      .withColumn("d", lit(GkRankBand) + lit(2.5) / col("n"))
      .select(col("o_orderstatus"),
        round(element_at(col("ex"), 1), 6).as("p50"),
        round(element_at(col("ex"), 2), 6).as("p90"),
        inBand(1, 0.5).as("p50_in_band"),
        inBand(2, 0.9).as("p90_in_band"))
      .orderBy("o_orderstatus")
  }

  /** UNPIVOT (wide→long reshaping, the inverse of q_agg_pivot): the
    * year × status count matrix melted back to (yr, status, n_orders)
    * rows via `Dataset.unpivot` — a zero-shuffle Expand over the already
    * aggregated wide table. Zero-count cells are dropped (the round trip
    * back to long form recovers exactly the observed groups). */
  def q_unpivot_stack(s: SparkSession, dir: String): DataFrame = {
    val wide = Tables.orders(s, dir)
      .withColumn("yr", year(col("o_orderdate")).cast("int"))
      .groupBy(col("yr"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
    wide.unpivot(Array(col("yr")), Array(col("F"), col("O"), col("P")),
        "o_orderstatus", "n_orders")
      .filter(col("n_orders").isNotNull && col("n_orders") > 0)
      .orderBy("yr", "o_orderstatus")
  }

  /** nth_value over the full partition frame: each customer's 2nd and 3rd
    * order price in (date, key) order — NULL when fewer orders exist.
    * One shuffle on the partition key; the rn=1 filter collapses the
    * per-row window output back to one row per customer. */
  def q_win_nth_value(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(s, dir)
      .select(col("o_custkey"),
        nth_value(col("o_totalprice"), 2).over(wf).as("second_price"),
        nth_value(col("o_totalprice"), 3).over(wf).as("third_price"),
        count(lit(1)).over(wf).as("n_orders"),
        row_number().over(w).as("rn"))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("n_orders"), col("second_price"), col("third_price"))
      .orderBy("o_custkey")
  }

  /** Calendar densification (time-series spine): a generated day spine
    * (`sequence` + explode over the min/max scalar bounds) LEFT-joined to
    * per-day event counts, so zero-activity days surface as explicit 0
    * rows. The spine generator is O(#days) — independent of fact volume —
    * and the fact side aggregates BEFORE the join, so the spine join is
    * #days × #days, never #days × #events. */
  def q_time_spine(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(to_date(col("ts")).as("day"))
    val perDay = ev.groupBy(col("day")).agg(count(lit(1)).as("n_events"))
    val spine = ev.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
      .select(explode(sequence(col("mn"), col("mx"))).as("day"))
    spine.join(perDay, Seq("day"), "left")
      .select(col("day"), coalesce(col("n_events"), lit(0L)).as("n_events"))
      .orderBy("day")
  }

  /** Correlated scalar subquery (Catalyst decorrelates to a join):
    * customers above their nation's mean balance. */
  def q_sub_correlated(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir).createOrReplaceTempView("v_cust_corr")
    s.sql(
      """SELECT c_custkey, c_nationkey, c_acctbal FROM v_cust_corr c
        |WHERE c_acctbal > (
        |  SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
        |  FROM v_cust_corr c2 WHERE c2.c_nationkey = c.c_nationkey)
        |ORDER BY c_custkey""".stripMargin)
  }

  // ── §2.5 window functions ────────────────────────────────────────────

  def q_win_topk_per_group(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(s, dir)
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("rn"), col("o_orderkey"), col("o_totalprice"))
      .orderBy("o_custkey", "rn")
  }

  def q_win_rank_dense(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("p_brand")).orderBy(col("p_retailprice").desc)
    Tables.part(s, dir)
      .select(col("p_brand"), col("p_partkey"), col("p_retailprice"),
        rank().over(w).cast("bigint").as("rnk"),
        dense_rank().over(w).cast("bigint").as("drnk"))
      .orderBy(col("p_brand"), col("p_retailprice").desc, col("p_partkey"))
  }

  def q_win_lag_lead(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        (unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))).as("gap_us"),
        (unix_micros(lead(col("ts"), 1).over(w)) - unix_micros(col("ts"))).as("next_us"))
      .orderBy("user_id", "ts", "event_id")
  }

  def q_win_running_sum(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
        sum(dec(col("o_totalprice"))).over(w).cast("double").as("running_total"))
      .orderBy("o_custkey", "o_orderdate", "o_orderkey")
  }

  def q_win_sliding_frame(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy(col("day")).rowsBetween(-2, 0)
    daily
      .select(col("day"), col("cnt"), round(avg(col("cnt")).over(w), 6).as("ma3"))
      .orderBy("day")
  }

  /** Global customer quartiles through the Dist device (pid-partitioned
    * windows, bit-identical NTILE): the customer dimension grows with
    * the corpus, so no plan ranks it in one unpartitioned window. */
  def q_win_ntile(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.customer(s, dir).select(col("c_custkey"), col("c_acctbal"))
    Dist.ntile(base, 4, Seq(col("c_acctbal").desc, col("c_custkey").asc), "quartile")
      .select(col("c_custkey"), col("c_acctbal"), col("quartile"))
      .orderBy("c_custkey")
  }

  // ── §2.6 sorts / top-k ───────────────────────────────────────────────

  def q_sort_multi(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc_nulls_last, col("c_name").asc, col("c_custkey").asc)
      .limit(100)

  /** Global top-k → TakeOrderedAndProject (no full sort at scale). */
  def q_topk_global(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc)
      .limit(10)

  // ── §2.7 set operations ──────────────────────────────────────────────

  private def nkCust(s: SparkSession, dir: String) =
    Tables.customer(s, dir).select(col("c_nationkey").as("nationkey"))
  private def nkSupp(s: SparkSession, dir: String) =
    Tables.supplier(s, dir).select(col("s_nationkey").as("nationkey"))

  def q_set_union_all(s: SparkSession, dir: String): DataFrame =
    nkCust(s, dir).withColumn("kind", lit("customer"))
      .unionByName(nkSupp(s, dir).withColumn("kind", lit("supplier")))
      .groupBy(col("nationkey"), col("kind"))
      .agg(count(lit(1)).as("n"))
      .orderBy("nationkey", "kind")

  def q_set_union_distinct(s: SparkSession, dir: String): DataFrame =
    nkCust(s, dir).union(nkSupp(s, dir)).distinct().orderBy("nationkey")

  def q_set_intersect(s: SparkSession, dir: String): DataFrame =
    nkCust(s, dir).intersect(nkSupp(s, dir)).orderBy("nationkey")

  /** EXCEPT (set-distinct semantics): customers who ordered in 1997 but
    * not in 1998 — the churn set. (Round 16: the nationkey variant was
    * vacuous — customer and supplier nation sets are identical at every
    * sf, so the result was always empty. The year split keeps survivors
    * at sf0.01 (266) and sf0.1 (2600) and scales naturally: both inputs
    * are year-pruned scans of the same fact table, the EXCEPT itself
    * hash-shuffles on the one key.) */
  def q_set_except(s: SparkSession, dir: String): DataFrame = {
    def ordCust(y: Int) = Tables.orders(s, dir)
      .filter(year(col("o_orderdate")) === y)
      .select(col("o_custkey").as("custkey"))
    ordCust(1997).except(ordCust(1998)).orderBy("custkey")
  }

  /** Cohort retention (the classic behavioral-analytics table every
    * product/warehouse stack ships): customers cohorted by FIRST-order
    * month; for each 1995 cohort and month offset k = 0..5, how many
    * cohort members placed an order in cohort-month + k, and the share.
    * Months as the exact integer index year·12+month (no interval
    * arithmetic, no engine-specific months_between). All counts exact;
    * one round-6 division per cell. Scale: first-order table is one
    * keyed min; activity is a distinct month projection of the fact
    * table; the cell join is cohort-member-keyed — output is
    * cohorts×offsets-sized at any corpus scale. */
  def q_agg_cohort_retention(s: SparkSession, dir: String): DataFrame = {
    val mIdx = year(col("o_orderdate")) * 12 + month(col("o_orderdate"))
    val first = Tables.orders(s, dir)
      .groupBy(col("o_custkey").as("ck"))
      .agg(min(mIdx).as("cm"))
      .filter(col("cm") >= 1995 * 12 + 1 && col("cm") <= 1995 * 12 + 12)
    val sizes = first.groupBy(col("cm")).agg(count(lit(1)).as("n_cohort"))
    val activity = Tables.orders(s, dir)
      .select(col("o_custkey").as("ak"), mIdx.as("am")).distinct()
    val active = first.join(activity, col("ck") === col("ak"))
      .select(col("cm"), (col("am") - col("cm")).cast("bigint").as("k"))
      .filter(col("k") >= 0 && col("k") <= 5)
      .groupBy(col("cm"), col("k"))
      .agg(count(lit(1)).as("n_active"))
    sizes.join(active, Seq("cm"))
      .select(
        concat(expr("(cm - 1) div 12").cast("string"), lit("-"),
          lpad(((col("cm") - 1) % 12 + 1).cast("string"), 2, "0")).as("cohort"),
        col("k"), col("n_cohort"), col("n_active"),
        round(col("n_active").cast("double") / col("n_cohort").cast("double"), 6)
          .as("retention"))
      .orderBy("cohort", "k")
  }

  /** RFM segmentation (Hughes 1994 — the warehouse-classic customer
    * grid): per customer recency (last order date), frequency (order
    * count), monetary (exact DECIMAL cents); each axis cut into
    * NTILE(5) quintiles under a fully tie-broken deterministic order
    * (metric, custkey); output = per (r,f,m) cell the customer count
    * and monetary mass — ≤125 rows at any corpus scale. The three rank
    * passes run over the CUSTOMER aggregate (dimension-sized, but
    * data-growing) as distributed range-partitioned ntiles — never a
    * single-partition sort, never the fact table. */
  /** Shared RFM quintile-grid assembly over a per-customer
    * (o_custkey, last_days, freq, cents) table — consumed by the batch
    * keyed aggregate AND the streaming per-customer maintainer (one
    * oracle for both, the nvrFrom device). Everything is integer:
    * recency as days-since-epoch, monetary as exact cents, so the
    * ntile orders and the final sums are tie-class-free; monetary_sum
    * divides the exact integer by 100.0 once (correctly-rounded, equal
    * to the former decimal→double cast). */
  private def rfmFrom(per: DataFrame): DataFrame = {
    // Three DISTRIBUTED ntiles (Dist.ntile): the customer dimension is
    // "small" today but grows with the corpus — a global
    // Window.orderBy here was the r12-flagged single-partition sort.
    // Each axis range-partitions on (metric, custkey) and turns local
    // ranks into global quintiles via broadcast offsets; output values
    // are bit-identical to NTILE(5) under the same tie-broken order.
    // The fold re-derives its input through three sequential ntile
    // rounds — checkpoint the per-customer base ONCE so each axis reads
    // a materialized dimension-sized table instead of re-running the
    // upstream aggregation (VERDICT r13 item 7: ~a third of q_agg_rfm's
    // wall-clock at zero semantic risk; the streaming maintainer shares
    // this body).
    val base = per.ckpt()
    // The three quintile axes are INDEPENDENT rank passes over the one
    // materialized per-customer table (each is ~7 small jobs of ~20 ms
    // scheduler/planning latency — the measured cost is job latency,
    // not data). Run them on driver threads (Par.run, guide §2.6)
    // instead of a sequential fold — wall-clock compresses toward the
    // slowest axis — and re-attach the buckets with two dimension-sized
    // equi-joins. Bucket values are unchanged: each axis ntiles the
    // same rows under the same (metric, custkey) total order the fold
    // version used (extra columns never entered the order).
    val Seq(rq, fq, mq) = Par.run(base.sparkSession, Seq[() => DataFrame](
      () => Dist.ntile(base, 5, Seq(col("last_days"), col("o_custkey")), "r_q")
        .select(col("o_custkey"), col("r_q")),
      () => Dist.ntile(base, 5, Seq(col("freq"), col("o_custkey")), "f_q")
        .select(col("o_custkey").as("fk"), col("f_q")),
      () => Dist.ntile(base, 5, Seq(col("cents"), col("o_custkey")), "m_q")
        .select(col("o_custkey").as("mk"), col("m_q"), col("cents"))))
    rq.join(fq, col("o_custkey") === col("fk"))
      .join(mq, col("o_custkey") === col("mk"))
      .groupBy(col("r_q"), col("f_q"), col("m_q"))
      .agg(count(lit(1)).as("n_customers"),
        (sum(col("cents")).cast("double") / 100.0).as("monetary_sum"))
      .orderBy("r_q", "f_q", "m_q")
  }

  def q_agg_rfm(s: SparkSession, dir: String): DataFrame =
    rfmFrom(Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(max(datediff(col("o_orderdate"), lit("1970-01-01").cast("date")))
          .as("last_days"),
        count(lit(1)).as("freq"),
        sum((dec(col("o_totalprice")) * 100).cast("long")).as("cents")))

  /** STREAMING RFM maintainer — the per-customer state a growth
    * dashboard keeps live: (last order day, order count, exact cent
    * total), three order-blind folds (max / + / +) in 20 bytes of keyed
    * state, so arrival order and batch boundaries cannot change the
    * snapshot (unlike the nv maintainer there is no labeling — the
    * state IS the answer). The snapshot runs the SAME rfmFrom quintile
    * assembly as q_agg_rfm (one oracle for both); the MemoryStream pin
    * in Round18Spec covers the cross-batch state carry. */
  def q_stream_rfm(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val per = Keyed.run(Tables.orders(s, dir)
      .select(col("o_custkey").as("ck"),
        datediff(col("o_orderdate"), lit("1970-01-01").cast("date")).as("days"),
        (dec(col("o_totalprice")) * 100).cast("long").as("cents"))
      .as[RfmOrd], rfmFold)
      .toDF()
      .select(col("o_custkey"), col("last_days"), col("freq"), col("cents"))
    rfmFrom(per)
  }

  /** Revenue-concentration (Pareto/Lorenz) decile table — "the top 10 %
    * of customers carry X % of revenue", the concentration view the
    * scalar Gini compresses away: customers deciled by exact-decimal
    * total spend under a fully tie-broken (spend desc, custkey) NTILE
    * order; per decile the customer count, decile revenue, and the
    * running cumulative share as ONE round-6 division of exact decimal
    * sums. The rank window sorts the customer aggregate, never the
    * fact table. */
  def q_agg_pareto(s: SparkSession, dir: String): DataFrame = {
    val per = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(dec(col("o_totalprice"))).as("spend"))
    // distributed decile (same class as rfmFrom: the customer
    // dimension grows with the corpus — never a single-partition sort)
    val d = Dist.ntile(per, 10,
      Seq(col("spend").desc, col("o_custkey")), "decile")
    val byDec = d.groupBy(col("decile"))
      .agg(count(lit(1)).as("n_customers"), sum(col("spend")).as("rev"))
    // total as a window over the SAME 10-row aggregate — a crossJoin
    // with a separate agg would re-derive the whole chain and scan the
    // fact table twice (caught by the round-16 plan pin)
    val wc = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    byDec
      .withColumn("cum_rev", sum(col("rev")).over(wc))
      .withColumn("tot", sum(col("rev")).over(wAll))
      .select(col("decile"), col("n_customers"),
        col("rev").cast("double").as("decile_revenue"),
        round(col("cum_rev").cast("double") / col("tot").cast("double"), 6)
          .as("cum_share"))
      .orderBy("decile")
  }

  /** New-vs-returning growth accounting per order month (the other
    * classic behavioral table beside cohort retention — growth teams
    * read the two together): per month the order count, the count of
    * customers whose FIRST-ever order lands in that month, and the
    * order split between first-month customers and returning ones,
    * with the returning share as ONE round-6 exact-count division.
    * First-order month is one keyed min; the split is a broadcast-able
    * join of orders against that dimension-sized table. */
  def q_agg_new_vs_returning(s: SparkSession, dir: String): DataFrame = {
    val mIdx = year(col("o_orderdate")) * 12 + month(col("o_orderdate"))
    val first = Tables.orders(s, dir)
      .groupBy(col("o_custkey").as("ck"))
      .agg(min(mIdx).as("fm"))
    nvrFrom(Tables.orders(s, dir)
      .select(col("o_custkey"), mIdx.as("m"))
      .join(first, col("o_custkey") === col("ck")))
  }

  /** Shared month-table assembly over a labeled (o_custkey, m, fm)
    * order table — consumed by the batch keyed-min operator AND the
    * streaming per-customer first-month maintainer (one oracle for
    * both; the q_stream_chi2 shared-assembly device). */
  private def nvrFrom(om: DataFrame): DataFrame =
    om.groupBy(col("m"))
      .agg(count(lit(1)).as("n_orders"),
        countDistinct(when(col("m") === col("fm"), col("o_custkey"))).as("n_new_cust"),
        sum(when(col("m") === col("fm"), 1L).otherwise(0L)).as("n_orders_new"),
        sum(when(col("m") =!= col("fm"), 1L).otherwise(0L)).as("n_orders_returning"))
      .select(
        concat(expr("(m - 1) div 12").cast("string"), lit("-"),
          lpad(((col("m") - 1) % 12 + 1).cast("string"), 2, "0")).as("month"),
        col("n_orders"), col("n_new_cust"), col("n_orders_new"),
        col("n_orders_returning"),
        round(col("n_orders_returning").cast("double")
          / col("n_orders").cast("double"), 6).as("returning_share"))
      .orderBy("month")

  /** STREAMING new-vs-returning maintainer (the q_stream_markov device
    * on the growth accounting): the keyed state per CUSTOMER is the
    * first-ever order month — ONE integer, folded as a running min —
    * and each arriving order is labeled with the min as of its
    * (date, orderkey) position. Because the month index is monotone in
    * the order date, the running-min label under date-ordered arrival
    * equals the batch keyed-min label, so the snapshot runs the SAME
    * nvrFrom assembly as q_agg_new_vs_returning (one oracle for both).
    * The batch-mode execution folds each customer's history sorted by
    * (date, orderkey) — customer-order-bounded; the MemoryStream pin in
    * Round17Spec covers the cross-batch state carry. */
  def q_stream_new_vs_returning(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val om = Keyed.run(Tables.orders(s, dir)
      .select(col("o_custkey").as("ck"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("us"),
        col("o_orderkey").as("ok"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("m"))
      .as[NvOrd], nvFold)
      .toDF()
      .select(col("o_custkey"), col("m"), col("fm"))
    nvrFrom(om)
  }

  // ── §2.8 scalar functions ────────────────────────────────────────────

  def q_str_funcs(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .select(col("p_partkey"),
        upper(col("p_name")).as("uname"),
        lower(col("p_type")).as("ltype"),
        substring(col("p_name"), 1, 5).as("pre5"),
        length(col("p_name")).cast("int").as("name_len"),
        regexp_replace(col("p_name"), " ", "_").as("snake"),
        concat(col("p_brand"), lit(":"), col("p_type")).as("brand_type"),
        trim(concat(lit("  "), col("p_name"), lit("  "))).as("trimmed"))
      .orderBy("p_partkey")

  def q_str_regex(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        regexp_extract(col("source"), "(\\d+)", 1).as("src_num"),
        size(split(col("text"), " ")).cast("bigint").as("n_tokens"),
        element_at(split(col("text"), " "), 1).as("first_tok"))
      .orderBy("doc_id")

  def q_date_funcs(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_linenumber"),
        year(col("o_orderdate")).cast("int").as("yr"),
        month(col("o_orderdate")).cast("int").as("mo"),
        dayofmonth(col("o_orderdate")).cast("int").as("dom"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        datediff(col("l_shipdate"), col("o_orderdate")).cast("int").as("ship_delay"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("epoch_us"))
      .orderBy("l_orderkey", "l_linenumber")

  def q_math_funcs(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        round(col("l_extendedprice") * (lit(1.0) + col("l_tax")), 6).as("charged_r6"),
        (dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") + dec(col("l_tax"))))
          .cast("double").as("charged_exact"),
        ceil(col("l_quantity") / 7.0).cast("bigint").as("qty_ceil"),
        floor(col("l_quantity") / 7.0).cast("bigint").as("qty_floor"),
        pmod(col("l_orderkey"), lit(7L)).as("key_mod"),
        abs(col("l_discount") - 0.05).as("disc_dev"),
        sqrt(col("l_quantity")).as("qty_sqrt"))
      .orderBy("l_orderkey", "l_linenumber")

  def q_json_extract(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("k")).cast("bigint").as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy("event_type")

  def q_arr_funcs(s: SparkSession, dir: String): DataFrame = {
    val e = (i: Int) => element_at(col("embedding"), i).cast("double")
    Tables.embeddings(s, dir)
      .select(col("vec_id"),
        size(col("embedding")).cast("int").as("dim"),
        round(e(1), 6).as("e1"),
        round(e(1) + e(2) + e(3), 6).as("s3"),
        round(e(64), 6).as("e64"))
      .orderBy("vec_id")
  }

  /** Generator/UDTF surface: explode tokens → global top-20. */
  def q_explode_tokens(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(20)

  // ── §2.8 map functions / §2.5 distribution windows / §2.3 lateral ────

  /** MapType surface (the §2.8 map column family): per nation, build a
    * mktsegment→count map with `map_from_entries`, then read it back with
    * `element_at`, `map_keys`, `map_filter` and a `map_values` fold —
    * flat output so the oracle is plain conditional aggregation. The map
    * is built from an already-aggregated 25×5-row input, so the
    * collect_list order (nondeterministic across partitions) never leaks:
    * every downstream read is key-addressed or order-independent. */
  def q_map_funcs(s: SparkSession, dir: String): DataFrame = {
    val segCounts = Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("c_mktsegment"))
      .agg(count(lit(1)).as("cnt"))
    segCounts
      .groupBy(col("n_name"))
      .agg(map_from_entries(collect_list(struct(col("c_mktsegment"), col("cnt"))))
        .as("seg_map"))
      .select(
        col("n_name"),
        size(map_keys(col("seg_map"))).as("n_segments"),
        coalesce(element_at(col("seg_map"), "BUILDING"), lit(0L)).as("n_building"),
        coalesce(element_at(col("seg_map"), "MACHINERY"), lit(0L)).as("n_machinery"),
        size(map_filter(col("seg_map"), (_, v) => v >= 15)).as("n_big_segments"),
        aggregate(map_values(col("seg_map")), lit(0L), (acc, x) => acc + x)
          .as("n_customers"))
      .orderBy("n_name")
  }

  /** Statistical aggregates — sample stddev/variance of order totals and
    * the order-total↔order-year correlation per status. NOT the built-in
    * stddev_samp/corr (their streaming one-pass accumulations differ
    * across engines in the last ulps): the moments Σx, Σx², Σxy are
    * summed EXACTLY through decimals, cast once to double, and the
    * textbook formulas run in identical double arithmetic on both
    * engines — bit-equal results, the same trick as Dsl.moneySum. */
  def q_agg_stats(s: SparkSession, dir: String): DataFrame = {
    val x = col("o_totalprice").cast("decimal(18,2)")
    val y = year(col("o_orderdate")).cast("decimal(18,2)")
    Tables.orders(s, dir)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(x).cast("double").as("sx"), sum(x * x).cast("double").as("sxx"),
        sum(y).cast("double").as("sy"), sum(y * y).cast("double").as("syy"),
        sum(x * y).cast("double").as("sxy"))
      .select(col("o_orderstatus"), col("n").as("n_orders"),
        // Rounding granularity must EXCEED the cross-engine input
        // divergence (DuckDB's decimal→double cast double-rounds, so
        // the moment doubles differ by ulps; cancellation in
        // sxx − sx²/n amplifies that to ~1e-5 absolute at var's 2e10
        // magnitude, ~3e-11 at stddev's 1e5, ~3e-13 for corr). Hence
        // stddev/corr at 6 decimals but variance at 0 — probed: round-6
        // variance mismatched at sf0.1, round-0 matches at every sf.
        round(sqrt((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1)), 6)
          .as("price_stddev"),
        round((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1), 0)
          .as("price_var"),
        round((col("sxy") - col("sx") * col("sy") / col("n")) /
            (sqrt(col("sxx") - col("sx") * col("sx") / col("n")) *
             sqrt(col("syy") - col("sy") * col("sy") / col("n"))), 6)
          .as("price_year_corr"))
      .orderBy("o_orderstatus")
  }

  /** Distribution analytics: `percent_rank` + `cume_dist` of customers by
    * account balance within their market segment (D5 rounded; window
    * order tie-broken on c_custkey so no two rows are peers and both
    * functions are exactly reproducible). */
  def q_win_distribution(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal"), col("c_custkey"))
    Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cum_dist"))
      .orderBy("c_custkey")
  }

  /** Correlated LATERAL subquery (SQL:2016 lateral derived table — the
    * Flink `FlatMapFunction`-with-lookup analog): top-2 orders per
    * customer by totalprice, expressed as a per-row dependent subquery
    * with ORDER BY + LIMIT. Catalyst decorrelates this into a ranked
    * window join (DecorrelateInnerQuery + RewriteLateralSubquery), so the
    * physical plan is one shuffle — no per-row execution at scale. */
  def q_join_lateral(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir).createOrReplaceTempView("v_cust_lat")
    Tables.orders(s, dir).createOrReplaceTempView("v_orders_lat")
    s.sql(
      """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        |FROM v_cust_lat c JOIN LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM v_orders_lat
        |  WHERE o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
        |ORDER BY c.c_custkey, o.o_orderkey""".stripMargin)
  }

  // ── §2 round-4 extensions: histogram / range frame / band join ───────

  /** Equi-width 20-bucket histogram of o_totalprice. Two-pass shape:
    * tiny global min/max aggregate broadcast back onto the scan, then one
    * hash aggregate on the computed bucket — the standard distributed
    * histogram (no sort, no collect). All bucket arithmetic is exact
    * integer math on DECIMAL(18,2) cents so the bucket boundaries cannot
    * drift between engines: bucket = (cents-min)*20 div (max-min+1) is
    * always in [0,20). */
  def q_agg_histogram(s: SparkSession, dir: String): DataFrame = {
    val cents = Tables.orders(s, dir)
      .select((dec(col("o_totalprice")) * 100).cast("long").as("cents"))
    val bounds = cents.agg(min(col("cents")).as("mn"), max(col("cents")).as("mx"))
    cents.crossJoin(broadcast(bounds))
      .select(expr("((cents - mn) * 20) div (mx - mn + 1)").as("bucket"),
        col("cents"), col("mn"), col("mx"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("total_cents"),
        // exact double: integer/100.0 is a single IEEE-rounded division
        min(col("mn") / lit(100.0)).as("range_lo"),
        max(col("mx") / lit(100.0)).as("range_hi"))
      .orderBy("bucket")
  }

  /** Value-RANGE window frame (vs q_win_sliding_frame's ROWS frame):
    * per-customer trailing-30-day order spend. The frame is defined on
    * the day-number ORDER BY value, so same-day peer rows are always all
    * included — deterministic under any intra-partition order. One
    * shuffle on o_custkey; the frame scan is the standard streaming
    * window-frame evaluation (no self-join). */
  def q_win_range_frame(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("dayno"))
      .rangeBetween(-30, 0)
    Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        datediff(col("o_orderdate"), lit("1992-01-01").cast("date")).as("dayno"),
        dec(col("o_totalprice")).as("p"))
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        sum(col("p")).over(w).cast("double").as("trail30_total"),
        count(lit(1)).over(w).cast("long").as("trail30_orders"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Bucketed band join — the scale path for a non-equi |t1−t2| ≤ δ join
    * with NO equi key (q_join_theta / q_join_interval_asof both lean on
    * one). Naive is a broadcast nested loop (O(n·m) comparisons on one
    * task at cluster scale). Here: each right row lands in exactly one
    * δ-wide time bucket; each left row probes only its ⌈2δ/δ⌉+1 = 3
    * overlapping buckets (explode over sequence), so the join becomes an
    * equi-join on bucket — shuffle-partitionable by bucket, and each pair
    * is produced exactly once (right side is in ONE bucket). The oracle
    * is the NAIVE range join: bucketing must be result-invisible. */
  def q_join_range_bucket(s: SparkSession, dir: String): DataFrame = {
    val bucketUs = 600L * 1000000L // 10-minute buckets = the band half-width
    val ev = Tables.events(s, dir)
    val err = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("e_id"), unix_micros(col("ts")).as("e_us"))
      .withColumn("bucket", expr(s"e_us div ${bucketUs}L"))
    val pur = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("ts").as("p_ts"),
        unix_micros(col("ts")).as("p_us"))
      .withColumn("bucket", explode(sequence(
        expr(s"(p_us - ${bucketUs}L) div ${bucketUs}L"),
        expr(s"(p_us + ${bucketUs}L) div ${bucketUs}L"))))
    pur.join(err, pur("bucket") === err("bucket") &&
        abs(col("p_us") - col("e_us")) <= bucketUs)
      .groupBy(to_date(col("p_ts")).as("day"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("p_id")).as("n_purchases"),
        countDistinct(col("e_id")).as("n_errors"))
      .orderBy("day")
  }

  /** MERGE/upsert semantics as a full-outer reconciliation (the batch
    * DML pattern a lakehouse MERGE INTO compiles to): target = customer
    * balances, source = per-user purchase totals from the event stream;
    * matched rows update (balance + delta), target-only rows keep, and
    * source-only rows would insert (surfaced by the `n_inserted`
    * branch; the fixture's user ids are a customer-key prefix so the
    * branch is structurally exercised with 0 rows). All money through
    * DECIMAL(18,2); one shuffle on the merge key at any scale. */
  def q_merge_upsert(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir).select(col("c_custkey"),
      col("c_mktsegment"), Dsl.dec(col("c_acctbal")).as("bal"))
    val delta = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(sum(Dsl.dec(col("value"))).cast("decimal(18,2)").as("delta"))
    val zero = lit(0).cast("decimal(18,2)")
    val merged = cust.join(delta, col("c_custkey") === col("user_id"), "full_outer")
      .select(
        coalesce(col("c_custkey"), col("user_id")).as("custkey"),
        coalesce(col("c_mktsegment"), lit("UNASSIGNED")).as("seg"),
        (coalesce(col("bal"), zero) + coalesce(col("delta"), zero)).as("new_bal"),
        (col("c_custkey").isNotNull && col("user_id").isNotNull).as("upd"),
        col("c_custkey").isNull.as("ins"))
    merged.groupBy(col("seg"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("upd"), 1L).otherwise(0L)).as("n_updated"),
        sum(when(col("ins"), 1L).otherwise(0L)).as("n_inserted"),
        sum(col("new_bal")).cast("double").as("sum_bal"))
      .orderBy("seg")
  }

  /** Longest purchase-day streaks per user (gaps-and-islands): island
    * id = day index − dense row number over the user's distinct active
    * days, so consecutive days share an island; streak stats are plain
    * counts over islands. All exact integer date arithmetic — one
    * window + two aggregations, everything partitioned on user_id. */
  def q_win_streaks(s: SparkSession, dir: String): DataFrame = {
    val days = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .withColumn("didx", datediff(col("day"), lit("2024-01-01").cast("date")))
    val w = Window.partitionBy(col("user_id")).orderBy(col("didx"))
    val islands = days
      .withColumn("island", col("didx") - row_number().over(w))
      .groupBy(col("user_id"), col("island"))
      .agg(count(lit(1)).as("len"), min(col("day")).as("streak_start"))
    islands.groupBy(col("user_id"))
      .agg(sum(col("len")).as("n_active_days"),
        count(lit(1)).as("n_streaks"),
        max(col("len")).as("max_streak"),
        min(struct(negate(col("len")), col("streak_start"))).getField("streak_start")
          .as("best_streak_start"))
      .orderBy("user_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_join_asof_nearest" -> q_join_asof_nearest _,
    "q_win_streaks" -> q_win_streaks _,
    "q_merge_upsert" -> q_merge_upsert _,
    "q_agg_histogram" -> q_agg_histogram _,
    "q_win_range_frame" -> q_win_range_frame _,
    "q_join_range_bucket" -> q_join_range_bucket _,
    "q_agg_stats" -> q_agg_stats _,
    "q_map_funcs" -> q_map_funcs _,
    "q_win_distribution" -> q_win_distribution _,
    "q_join_lateral" -> q_join_lateral _,
    "q_scan_project" -> q_scan_project _,
    "q_scan_pruned_filter" -> q_scan_pruned_filter _,
    "q_filter_predicates" -> q_filter_predicates _,
    "q_proj_expr" -> q_proj_expr _,
    "q_join_inner_broadcast" -> q_join_inner_broadcast _,
    "q_join_star_5way" -> q_join_star_5way _,
    "q_join_left_outer" -> q_join_left_outer _,
    "q_join_full_outer" -> q_join_full_outer _,
    "q_join_semi" -> q_join_semi _,
    "q_join_anti" -> q_join_anti _,
    "q_join_theta" -> q_join_theta _,
    "q_join_interval_asof" -> q_join_interval_asof _,
    "q_agg_pricing_summary" -> q_agg_pricing_summary _,
    "q_agg_count_distinct" -> q_agg_count_distinct _,
    "q_agg_approx_distinct" -> q_agg_approx_distinct _,
    "q_agg_rollup" -> q_agg_rollup _,
    "q_agg_cube" -> q_agg_cube _,
    "q_agg_grouping_sets" -> q_agg_grouping_sets _,
    "q_agg_having" -> q_agg_having _,
    "q_agg_cohort_retention" -> q_agg_cohort_retention _,
    "q_agg_rfm" -> q_agg_rfm _,
    "q_agg_pareto" -> q_agg_pareto _,
    "q_agg_new_vs_returning" -> q_agg_new_vs_returning _,
    "q_stream_new_vs_returning" -> q_stream_new_vs_returning _,
    "q_stream_rfm" -> q_stream_rfm _,
    "q_agg_listagg" -> q_agg_listagg _,
    "q_win_first_last" -> q_win_first_last _,
    "q_agg_percentiles" -> q_agg_percentiles _,
    "q_agg_pivot" -> q_agg_pivot _,
    "q_agg_approx_percentile" -> q_agg_approx_percentile _,
    "q_agg_bool_funcs" -> q_agg_bool_funcs _,
    "q_agg_mode" -> q_agg_mode _,
    "q_date_arith" -> q_date_arith _,
    "q_null_funcs" -> q_null_funcs _,
    "q_unpivot_stack" -> q_unpivot_stack _,
    "q_win_nth_value" -> q_win_nth_value _,
    "q_time_spine" -> q_time_spine _,
    "q_sub_correlated" -> q_sub_correlated _,
    "q_udaf_vec_mean" -> q_udaf_vec_mean _,
    "q_win_topk_per_group" -> q_win_topk_per_group _,
    "q_win_rank_dense" -> q_win_rank_dense _,
    "q_win_lag_lead" -> q_win_lag_lead _,
    "q_win_running_sum" -> q_win_running_sum _,
    "q_win_sliding_frame" -> q_win_sliding_frame _,
    "q_win_ntile" -> q_win_ntile _,
    "q_sort_multi" -> q_sort_multi _,
    "q_topk_global" -> q_topk_global _,
    "q_set_union_all" -> q_set_union_all _,
    "q_set_union_distinct" -> q_set_union_distinct _,
    "q_set_intersect" -> q_set_intersect _,
    "q_set_except" -> q_set_except _,
    "q_str_funcs" -> q_str_funcs _,
    "q_str_regex" -> q_str_regex _,
    "q_date_funcs" -> q_date_funcs _,
    "q_math_funcs" -> q_math_funcs _,
    "q_json_extract" -> q_json_extract _,
    "q_arr_funcs" -> q_arr_funcs _,
    "q_explode_tokens" -> q_explode_tokens _
  )
}
