package graft.engine

/** DuckDB 1.0.0 oracle SQL, one string per oracle-checked query id
  * (SURVEY.md §2, determinism rules D1–D5). Dialect notes:
  *  - events.ts is timestamp[ns] in parquet; `CAST(ts AS TIMESTAMP)`
  *    truncates to µs exactly like the Spark reader's `ts div 1000`.
  *    All ts comparisons happen on the CAST value so both engines
  *    compare at µs precision.
  *  - money SUM/AVG goes through DECIMAL(18,2), surfaced as DOUBLE
  *    (exact, order-independent — same as Dsl.moneySum).
  *  - DuckDB SUM(int) is HUGEINT and len() is BIGINT → explicit casts so
  *    the schema matches Spark's output.
  *  - list indexing is 1-based, same as Spark's element_at.
  */
object Oracle {

  val relational: Map[String, String] = Map(
    "q_scan_project" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_shipdate
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_scan_pruned_filter" ->
      """SELECT l_orderkey, l_linenumber, l_shipdate, l_extendedprice
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_filter_predicates" ->
      """SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice
        |FROM part
        |WHERE p_size BETWEEN 10 AND 40
        |  AND (p_type IN ('PROMO','ECONOMY') OR p_name LIKE 'red%')
        |  AND p_brand IS NOT NULL AND p_retailprice > 500.0
        |ORDER BY p_partkey""".stripMargin,

    "q_proj_expr" ->
      """SELECT l_orderkey, l_linenumber,
        |  l_extendedprice * (1.0 - l_discount) AS revenue,
        |  l_extendedprice * (1.0 + l_tax) AS charged,
        |  CASE WHEN l_quantity >= 30 THEN 'bulk'
        |       WHEN l_quantity >= 10 THEN 'mid' ELSE 'small' END AS qty_class,
        |  l_discount > 0.05 AS high_disc
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_join_inner_broadcast" ->
      """SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,

    "q_join_star_5way" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  COUNT(DISTINCT o_orderkey) AS n_orders
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q_join_left_outer" ->
      """SELECT c_custkey, COUNT(o_orderkey) AS order_cnt,
        |  CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS total_spent
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,

    "q_join_full_outer" ->
      """WITH cc AS (SELECT c_nationkey, COUNT(*) AS cust_cnt FROM customer GROUP BY 1),
        |     sc AS (SELECT s_nationkey, COUNT(*) AS supp_cnt FROM supplier GROUP BY 1)
        |SELECT COALESCE(c_nationkey, s_nationkey) AS nationkey,
        |  COALESCE(cust_cnt, 0) AS cust_cnt, COALESCE(supp_cnt, 0) AS supp_cnt
        |FROM cc FULL OUTER JOIN sc ON c_nationkey = s_nationkey
        |ORDER BY nationkey""".stripMargin,

    "q_join_semi" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q_join_anti" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,

    "q_join_theta" ->
      """SELECT s1.s_nationkey AS nationkey, COUNT(*) AS pair_cnt
        |FROM supplier s1 JOIN supplier s2
        |  ON s1.s_nationkey = s2.s_nationkey AND s1.s_acctbal < s2.s_acctbal
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_join_interval_asof" ->
      """WITH p AS (SELECT event_id AS p_id, user_id, CAST(ts AS TIMESTAMP) AS p_ts
        |           FROM events WHERE event_type = 'purchase'),
        |     c AS (SELECT event_id AS c_id, user_id AS c_user, CAST(ts AS TIMESTAMP) AS c_ts
        |           FROM events WHERE event_type = 'click'),
        |     j AS (SELECT p.p_id, p.user_id, p.p_ts, c.c_id, c.c_ts,
        |             ROW_NUMBER() OVER (PARTITION BY p.p_id
        |               ORDER BY c.c_ts DESC NULLS LAST, c.c_id DESC NULLS LAST) AS rn
        |           FROM p LEFT JOIN c ON p.user_id = c.c_user
        |             AND c.c_ts <= p.p_ts AND c.c_ts >= p.p_ts - INTERVAL 30 MINUTE)
        |SELECT p_id AS event_id, user_id, p_ts AS ts, c_id AS click_id, c_ts AS click_ts
        |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin,

    "q_agg_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-12-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_agg_count_distinct" ->
      """SELECT event_type, COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_agg_rollup" ->
      """SELECT r_name, n_name, COUNT(*) AS cust_cnt,
        |  CAST(GROUPING(r_name, n_name) AS INT) AS gid
        |FROM region JOIN nation ON r_regionkey = n_regionkey
        |            JOIN customer ON n_nationkey = c_nationkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY gid, r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin,

    "q_agg_cube" ->
      """SELECT o_orderstatus, yr, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  CAST(GROUPING(o_orderstatus, yr) AS INT) AS gid
        |FROM (SELECT o_orderstatus, CAST(year(o_orderdate) AS INT) AS yr, o_totalprice FROM orders)
        |GROUP BY CUBE(o_orderstatus, yr)
        |ORDER BY gid, o_orderstatus ASC NULLS FIRST, yr ASC NULLS FIRST""".stripMargin,

    "q_agg_grouping_sets" ->
      """SELECT o_orderstatus, yr, COUNT(*) AS n_orders,
        |  CAST(GROUPING(o_orderstatus, yr) AS INT) AS gid
        |FROM (SELECT o_orderstatus, CAST(year(o_orderdate) AS INT) AS yr FROM orders)
        |GROUP BY GROUPING SETS ((o_orderstatus),(yr),())
        |ORDER BY gid, o_orderstatus ASC NULLS FIRST, yr ASC NULLS FIRST""".stripMargin,

    "q_agg_having" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS val_sum
        |FROM events GROUP BY 1 HAVING COUNT(*) > 1500 ORDER BY 1""".stripMargin,

    "q_udaf_vec_mean" ->
      """SELECT label,
        |  ROUND(AVG(CAST(embedding[1] AS DOUBLE)), 6) AS d1,
        |  ROUND(AVG(CAST(embedding[2] AS DOUBLE)), 6) AS d2,
        |  ROUND(AVG(CAST(embedding[3] AS DOUBLE)), 6) AS d3,
        |  ROUND(AVG(CAST(embedding[4] AS DOUBLE)), 6) AS d4
        |FROM embeddings GROUP BY label ORDER BY label""".stripMargin,

    "q_win_topk_per_group" ->
      """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,

    "q_win_rank_dense" ->
      """SELECT p_brand, p_partkey, p_retailprice,
        |  RANK() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS rnk,
        |  DENSE_RANK() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS drnk
        |FROM part ORDER BY p_brand, p_retailprice DESC, p_partkey""".stripMargin,

    "q_win_lag_lead" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id FROM events)
        |SELECT user_id, ts, event_id,
        |  date_diff('microsecond',
        |    LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) AS gap_us,
        |  date_diff('microsecond', ts,
        |    LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS next_us
        |FROM e ORDER BY user_id, ts, event_id""".stripMargin,

    "q_win_running_sum" ->
      """SELECT o_custkey, o_orderdate, o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
        |FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin,

    "q_win_sliding_frame" ->
      """WITH daily AS (
        |  SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
        |         COUNT(*) AS cnt
        |  FROM events GROUP BY 1)
        |SELECT day, cnt,
        |  ROUND(AVG(cnt) OVER (ORDER BY day ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS ma3
        |FROM daily ORDER BY day""".stripMargin,

    "q_win_ntile" ->
      """SELECT c_custkey, c_acctbal,
        |  NTILE(4) OVER (ORDER BY c_acctbal DESC, c_custkey ASC) AS quartile
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q_sort_multi" ->
      """SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer
        |ORDER BY c_acctbal DESC NULLS LAST, c_name ASC, c_custkey ASC
        |LIMIT 100""".stripMargin,

    "q_topk_global" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
        |LIMIT 10""".stripMargin,

    "q_set_union_all" ->
      """SELECT nationkey, kind, COUNT(*) AS n FROM (
        |  SELECT c_nationkey AS nationkey, 'customer' AS kind FROM customer
        |  UNION ALL
        |  SELECT s_nationkey AS nationkey, 'supplier' AS kind FROM supplier)
        |GROUP BY nationkey, kind ORDER BY nationkey, kind""".stripMargin,

    "q_set_union_distinct" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |UNION
        |SELECT s_nationkey AS nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin,

    "q_set_intersect" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT
        |SELECT s_nationkey AS nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin,

    "q_set_except" ->
      """SELECT DISTINCT o_custkey AS custkey FROM orders
        |WHERE year(o_orderdate) = 1997
        |EXCEPT
        |SELECT o_custkey AS custkey FROM orders
        |WHERE year(o_orderdate) = 1998
        |ORDER BY custkey""".stripMargin,

    "q_str_funcs" ->
      """SELECT p_partkey,
        |  upper(p_name) AS uname,
        |  lower(p_type) AS ltype,
        |  substring(p_name, 1, 5) AS pre5,
        |  CAST(length(p_name) AS INT) AS name_len,
        |  replace(p_name, ' ', '_') AS snake,
        |  concat(p_brand, ':', p_type) AS brand_type,
        |  trim(concat('  ', p_name, '  ')) AS trimmed
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q_str_regex" ->
      """SELECT doc_id,
        |  regexp_extract(source, '(\d+)', 1) AS src_num,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  string_split(text, ' ')[1] AS first_tok
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_date_funcs" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(year(o_orderdate) AS INT) AS yr,
        |  CAST(month(o_orderdate) AS INT) AS mo,
        |  CAST(dayofmonth(o_orderdate) AS INT) AS dom,
        |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
        |  CAST(date_diff('day', o_orderdate, l_shipdate) AS INT) AS ship_delay,
        |  epoch_us(o_orderdate) AS epoch_us
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_math_funcs" ->
      """SELECT l_orderkey, l_linenumber,
        |  round(l_extendedprice * (1.0 + l_tax), 6) AS charged_r6,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE) AS charged_exact,
        |  CAST(ceil(l_quantity / 7.0) AS BIGINT) AS qty_ceil,
        |  CAST(floor(l_quantity / 7.0) AS BIGINT) AS qty_floor,
        |  l_orderkey % 7 AS key_mod,
        |  abs(l_discount - 0.05) AS disc_dev,
        |  sqrt(l_quantity) AS qty_sqrt
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_json_extract" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(k) AS BIGINT) AS sum_k, MIN(k) AS min_k, MAX(k) AS max_k
        |FROM (SELECT event_type, CAST(json_extract(props, '$.k') AS INT) AS k FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_arr_funcs" ->
      """SELECT vec_id,
        |  CAST(len(embedding) AS INT) AS dim,
        |  ROUND(CAST(embedding[1] AS DOUBLE), 6) AS e1,
        |  ROUND(CAST(embedding[1] AS DOUBLE) + CAST(embedding[2] AS DOUBLE) + CAST(embedding[3] AS DOUBLE), 6) AS s3,
        |  ROUND(CAST(embedding[64] AS DOUBLE), 6) AS e64
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    "q_explode_tokens" ->
      """SELECT token, COUNT(*) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY token ORDER BY cnt DESC, token ASC LIMIT 20""".stripMargin
  )

  /** §2.9 — batch-equivalent semantics of each streaming transform
    * (Spark's unified model: static-read result == final stream result). */
  val streaming: Map[String, String] = Map(
    "q_stream_tumbling" ->
      """SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
        |  event_type, COUNT(*) AS cnt,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS val_sum
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Each event falls in two 1h/30min windows: the one starting at its
    // 30-min bucket and the one 30 min earlier (same epoch alignment as
    // Spark's window()).
    "q_stream_sliding" ->
      """WITH e AS (SELECT time_bucket(INTERVAL 30 MINUTE, CAST(ts AS TIMESTAMP)) AS b FROM events),
        |     w AS (SELECT b AS win_start FROM e
        |           UNION ALL SELECT b - INTERVAL 30 MINUTE FROM e)
        |SELECT win_start, COUNT(*) AS cnt FROM w GROUP BY 1 ORDER BY 1""".stripMargin,

    // Spark session_window merges an event at exactly gap distance
    // (verified in StreamingSpec): a new session starts only when the
    // inter-event gap is STRICTLY greater than 30 min.
    "q_stream_session" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |     g AS (SELECT user_id,
        |             CASE WHEN LAG(ts) OVER w IS NULL
        |                    OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
        |                  THEN 1 ELSE 0 END AS new_s
        |           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts))
        |SELECT user_id, CAST(SUM(new_s) AS BIGINT) AS n_sessions,
        |  COUNT(*) AS n_events
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_stream_dedup" ->
      """SELECT COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users
        |FROM (SELECT DISTINCT event_id, user_id FROM events)""".stripMargin,

    "q_stream_stateful" ->
      """SELECT user_id, COUNT(*) AS n_events,
        |  MAX(CAST(ts AS TIMESTAMP)) AS last_ts,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_stream_win_topk" ->
      """WITH c AS (SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
        |             user_id, COUNT(*) AS cnt
        |           FROM events GROUP BY 1, 2),
        |r AS (SELECT day, user_id, cnt,
        |  ROW_NUMBER() OVER (PARTITION BY day ORDER BY cnt DESC, user_id ASC) AS rnk
        |  FROM c)
        |SELECT day, user_id, cnt, CAST(rnk AS BIGINT) AS rnk
        |FROM r WHERE rnk <= 3 ORDER BY day, rnk""".stripMargin,

    // The same fold as q_stream_stateful (StreamingOps.userAggFold), kept as its
    // own registered query — one oracle text, two names.
    "q_stream_stateful_tws" ->
      """SELECT user_id, COUNT(*) AS n_events,
        |  MAX(CAST(ts AS TIMESTAMP)) AS last_ts,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_stream_static_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS val_sum
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_stream_stream_join" ->
      """WITH p AS (SELECT event_id AS p_id, user_id, CAST(ts AS TIMESTAMP) AS p_ts
        |           FROM events WHERE event_type = 'purchase'),
        |     c AS (SELECT event_id AS c_id, user_id AS c_user, CAST(ts AS TIMESTAMP) AS c_ts
        |           FROM events WHERE event_type = 'click'),
        |     j AS (SELECT p.user_id, p.p_id, c.c_id
        |           FROM p JOIN c ON p.user_id = c.c_user
        |             AND c.c_ts <= p.p_ts AND c.c_ts >= p.p_ts - INTERVAL 30 MINUTE)
        |SELECT user_id, COUNT(*) AS n_pairs,
        |  COUNT(DISTINCT p_id) AS n_purchases, COUNT(DISTINCT c_id) AS n_clicks
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_stream_funnel" ->
      """WITH ev AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        |            FROM events),
        |lagged AS (SELECT *, LAG(ts) OVER
        |             (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_ts
        |           FROM ev),
        |brk AS (SELECT *, CASE WHEN prev_ts IS NULL
        |            OR ts > prev_ts + INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS b
        |        FROM lagged),
        |sess AS (SELECT *, SUM(b) OVER (PARTITION BY user_id
        |           ORDER BY ts ASC, event_id ASC
        |           ROWS UNBOUNDED PRECEDING) AS sid FROM brk),
        |g AS (SELECT user_id, sid, MIN(ts) AS s_start,
        |        MIN(CASE WHEN event_type = 'click' THEN ts END) AS first_click,
        |        MAX(CASE WHEN event_type = 'purchase' THEN ts END) AS last_purchase
        |      FROM sess GROUP BY 1, 2)
        |SELECT date_trunc('day', s_start) AS day, COUNT(*) AS n_sessions,
        |  CAST(SUM(CASE WHEN first_click IS NOT NULL AND last_purchase IS NOT NULL
        |    AND first_click < last_purchase THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,

    // Round-14 CEP compiler: the oracle SQL is GENERATED from the SAME
    // parsed CepPattern objects the engine compiles, chain-window by
    // chain-window — the two engines cannot compile different patterns.
    "q_stream_cep" ->
      StreamingOps.CepPatterns.map(p => s"(${cepSql(p)})").mkString(
        "SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY pattern")
  )

  /** DuckDB replay of StreamingOps.compileCep for one pattern: the same
    * latest-feasible-start chain windows over (user_id | ts, event_id)
    * — witnesses as {ts, eid} structs (one total order for sequencing
    * AND negation, the r15 tie fix), optional steps chained through the
    * same p.srcs predecessor sets via the identical null-skipping CASE
    * max fold — the same within/negation anchor checks, one summary
    * row. */
  private def cepSql(p: StreamingOps.CepPattern): String = {
    val wPrev = "OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
    val wOrd = "OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)"
    // DuckDB GREATEST lacks struct support: the same pairwise
    // null-skipping CASE fold as StreamingOps.structMax
    def structMax(es: Seq[String]): String = es.reduce((a, b) =>
      s"(CASE WHEN ($a) IS NULL THEN ($b) WHEN ($b) IS NULL THEN ($a) " +
        s"WHEN ($a) >= ($b) THEN ($a) ELSE ($b) END)")
    val k = p.steps.size
    val lastC = s"c$k"
    val eCte =
      "e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events)"
    val matchCtes: Seq[String] = if (p.strict) {
      // strict contiguity: the k−1 preceding ADJACENT rows must carry
      // the prefix step types, same LAG replay as the compiled plan
      val typeChecks = (1 until k).map(j =>
        s"LAG(event_type, $j) $wOrd = '${p.steps(k - 1 - j)._1}'")
      Seq(eCte,
        s"""sl AS (SELECT *, LAG(ts, ${k - 1}) $wOrd AS start0,
           |  ${typeChecks.map(c => s"COALESCE($c, false)").mkString(" AND ")} AS adj
           |  FROM e)""".stripMargin,
        s"""m AS (SELECT user_id, start0 AS start_ts, ts AS end_ts FROM sl
           |  WHERE event_type = '${p.steps.last._1}' AND adj
           |    AND start0 >= ts - INTERVAL ${p.withinMinutes} MINUTE)""".stripMargin)
    } else {
      val chain = (1 until p.steps.size).map { j =>
        val feeds = p.srcs(j).map(i => s"MAX(c${i + 1}) $wPrev")
        s"""s${j + 1} AS (SELECT *, CASE WHEN event_type = '${p.steps(j)._1}'
           |  THEN ${structMax(feeds)} END AS c${j + 1} FROM s$j)""".stripMargin
      }
      val notCte = p.notBetween.map(n =>
        s"""sn AS (SELECT *, MAX(CASE WHEN event_type = '$n'
           |  THEN {'ts': ts, 'eid': event_id} END) $wPrev
           |  AS last_not FROM s$k)""".stripMargin)
      val src = if (p.notBetween.isDefined) "sn" else s"s$k"
      val notPred = if (p.notBetween.isDefined)
        s" AND (last_not IS NULL OR last_not < $lastC)" else ""
      Seq(eCte,
        s"s1 AS (SELECT *, CASE WHEN event_type = '${p.steps.head._1}' " +
          "THEN {'ts': ts, 'eid': event_id} END AS c1 FROM e)"
      ) ++ chain ++ notCte ++ Seq(
        s"""m AS (SELECT user_id, ($lastC).ts AS start_ts, ts AS end_ts FROM $src
           |  WHERE event_type = '${p.steps.last._1}' AND $lastC IS NOT NULL
           |    AND ($lastC).ts >= ts - INTERVAL ${p.withinMinutes} MINUTE$notPred)""".stripMargin)
    }
    // AFTER MATCH SKIP TO NEXT: one match per (user, start) — min end.
    // AFTER MATCH SKIP PAST LAST ROW: the per-user greedy non-overlap
    // selection replayed as a linear recursive CTE over the
    // (end, start)-numbered match list — one row per (user, match),
    // carrying the last accepted end; accept iff start > last_end
    // (strictly — spans are end-inclusive), the Spark fold verbatim.
    val skipPastCtes = if (p.skipPastLast) Seq(
      s"""mo AS (SELECT user_id, start_ts, end_ts, ROW_NUMBER() OVER (
         |  PARTITION BY user_id ORDER BY end_ts, start_ts) AS rn FROM m)""".stripMargin,
      s"""rec AS (
         |  SELECT user_id, CAST(0 AS BIGINT) AS rn,
         |    TIMESTAMP '1970-01-01 00:00:00' AS last_end,
         |    CAST(NULL AS TIMESTAMP) AS s2, CAST(NULL AS TIMESTAMP) AS e2,
         |    false AS acc
         |  FROM (SELECT DISTINCT user_id FROM mo)
         |  UNION ALL
         |  SELECT r.user_id, mo.rn,
         |    CASE WHEN mo.start_ts > r.last_end THEN mo.end_ts
         |         ELSE r.last_end END,
         |    mo.start_ts, mo.end_ts, mo.start_ts > r.last_end
         |  FROM rec r JOIN mo ON mo.user_id = r.user_id AND mo.rn = r.rn + 1)""".stripMargin)
    else Seq.empty
    val mmBody = if (p.skipToNext)
      "SELECT user_id, start_ts, MIN(end_ts) AS end_ts FROM m GROUP BY 1, 2"
    else if (p.skipPastLast)
      "SELECT user_id, s2 AS start_ts, e2 AS end_ts FROM rec WHERE acc"
    else "SELECT * FROM m"
    val ctes = matchCtes ++ skipPastCtes
    val recKw = if (p.skipPastLast) "RECURSIVE " else ""
    s"""WITH $recKw${ctes.mkString(",\n")},
       |mm AS MATERIALIZED ($mmBody),
       |q AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_step1_in_window
       |      FROM mm JOIN e s1 ON s1.user_id = mm.user_id
       |        AND s1.event_type = '${p.steps.head._1}'
       |        AND s1.ts >= mm.start_ts AND s1.ts <= mm.end_ts)
       |SELECT '${p.name}' AS pattern, CAST(COUNT(*) AS BIGINT) AS n_matches,
       |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       |  CAST(COALESCE(SUM(epoch_us(end_ts) - epoch_us(start_ts)), 0) AS BIGINT)
       |    AS sum_dur_us,
       |  CAST(COUNT(DISTINCT CAST(end_ts AS DATE)) AS BIGINT) AS n_days,
       |  (SELECT n_step1_in_window FROM q) AS n_step1_in_window
       |FROM mm""".stripMargin
  }

  private val edgesCte =
    """edges AS (SELECT DISTINCT o_custkey AS src, l_partkey AS dst
      |          FROM orders JOIN lineitem ON o_orderkey = l_orderkey)""".stripMargin

  /** §2.10 — co-purchase graph analytics (FIXTURES.md conventions). */
  val graph: Map[String, String] = Map(
    "q_graph_degree" ->
      s"""WITH $edgesCte
         |SELECT dst AS part_key, COUNT(*) AS degree
         |FROM edges GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_graph_cooccur" ->
      s"""WITH $edgesCte
         |SELECT e1.dst AS part_a, e2.dst AS part_b, COUNT(*) AS cnt
         |FROM edges e1 JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
         |GROUP BY 1, 2 ORDER BY cnt DESC, part_a ASC, part_b ASC LIMIT 20""".stripMargin,

    "q_graph_triangles" ->
      s"""WITH $edgesCte,
         |pp AS (SELECT e1.dst AS a, e2.dst AS b
         |       FROM edges e1 JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
         |       GROUP BY 1, 2 HAVING COUNT(*) >= ${GraphOps.TriangleMinCooccur})
         |SELECT COUNT(*) AS n_triangles
         |FROM pp p1 JOIN pp p2 ON p1.b = p2.a
         |           JOIN pp p3 ON p3.a = p1.a AND p3.b = p2.b""".stripMargin,

    // Motif finder over the SAME thresholded symmetric projection the
    // cc/bfs family uses; each branch mirrors one compiled pattern with
    // its canonical `<` labeling.
    // Round 14: the 4-node tier replays the same closed forms the
    // engine chose (codegree identity for squares, per-vertex triangle
    // participation for tails, Σ C(d, k) for stars) — the join forms
    // would walk Σ deg³ paths here too.
    "q_graph_motif_find" ->
      s"""WITH $edgesCte,
         |pp AS (SELECT e1.dst AS a, e2.dst AS b
         |       FROM edges e1 JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
         |       GROUP BY 1, 2 HAVING COUNT(*) >= ${GraphOps.TriangleMinCooccur}),
         |und AS (SELECT a, b FROM pp UNION ALL SELECT b AS a, a AS b FROM pp),
         |deg AS (SELECT a, COUNT(*) AS d FROM und GROUP BY 1),
         |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |        FROM und e1 JOIN und e2 ON e2.a = e1.b
         |                    JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
         |        WHERE e1.a < e1.b AND e1.b < e2.b),
         |tv AS (SELECT v, COUNT(*) AS t
         |       FROM (SELECT unnest([x, y, z]) AS v FROM tri) GROUP BY 1),
         |cd AS (SELECT e1.b AS u, e2.b AS v, COUNT(*) AS c
         |       FROM und e1 JOIN und e2 ON e1.a = e2.a AND e1.b < e2.b
         |       GROUP BY 1, 2)
         |SELECT 'chain3' AS pattern, COUNT(*) AS n_matches
         |FROM und e1 JOIN und e2 ON e2.a = e1.b WHERE e1.a < e2.b
         |UNION ALL
         |SELECT 'square' AS pattern,
         |  CAST(COALESCE(SUM(c * (c - 1) // 2), 0) // 2 AS BIGINT) AS n_matches
         |FROM cd
         |UNION ALL
         |SELECT 'star3' AS pattern,
         |  CAST(COALESCE(SUM(d * (d - 1) * (d - 2) // 6), 0) AS BIGINT) AS n_matches
         |FROM deg
         |UNION ALL
         |SELECT 'star4' AS pattern,
         |  CAST(COALESCE(SUM(d * (d - 1) * (d - 2) * (d - 3) // 24), 0) AS BIGINT)
         |    AS n_matches
         |FROM deg
         |UNION ALL
         |SELECT 'tailed_triangle' AS pattern,
         |  CAST(COALESCE(SUM(t * (d - 2)), 0) AS BIGINT) AS n_matches
         |FROM tv JOIN deg ON tv.v = deg.a
         |UNION ALL
         |SELECT 'triangle' AS pattern, COUNT(*) AS n_matches
         |FROM und e1 JOIN und e2 ON e2.a = e1.b
         |             JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
         |WHERE e1.a < e1.b AND e1.b < e2.b
         |ORDER BY pattern""".stripMargin,

    // 10 power-iteration steps unrolled as a CTE chain (recursive CTEs
    // can't carry aggregation in DuckDB); same formula as the Spark loop:
    // r_{t+1}(v) = 0.15 + 0.85 * Σ_{u∈N(v)} r_t(u)/deg(u), r_0 = 1.
    // Per-term 1e9-scaled BIGINT rounding + exact sum — order-blind and
    // computed on the identical double product in both engines.
    "q_graph_pagerank" -> {
      val steps = (1 to 10).map { i =>
        s"""r$i AS (SELECT u.dst AS node,
           |  CAST(0.15 AS DOUBLE) + CAST(0.85 AS DOUBLE)
           |    * (CAST(SUM(CAST(ROUND(p.r / dg.d * 1e9, 0) AS BIGINT)) AS DOUBLE) / 1e9) AS r
           |  FROM u JOIN r${i - 1} p ON u.src = p.node
           |         JOIN deg dg ON u.src = dg.node
           |  GROUP BY u.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH $edgesCte,
         |e2 AS (SELECT src * 2 AS src, dst * 2 + 1 AS dst FROM edges),
         |u AS (SELECT src, dst FROM e2 UNION ALL SELECT dst AS src, src AS dst FROM e2),
         |deg AS (SELECT src AS node, COUNT(*) AS d FROM u GROUP BY 1),
         |r0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS r FROM deg),
         |$steps
         |SELECT (node - 1) // 2 AS part_key, ROUND(r, 6) AS rank
         |FROM r10 WHERE node % 2 = 1
         |ORDER BY rank DESC, part_key ASC LIMIT 20""".stripMargin
    },

    // HITS unrolled: per step h = A·a then a = Aᵀ·h, each max-normalized.
    // The max comes from a window MAX() OVER () so every CTE is
    // referenced exactly ONCE downstream — a scalar MAX subquery would
    // reference each level twice and DuckDB's CTE inlining then
    // recomputes the chain exponentially (2^10 edge joins).
    "q_graph_hits" -> {
      // round-9 scores → exact 1e9-scaled BIGINT sums per step
      // (order-blind), mirroring the Spark loop term-for-term
      val steps = (1 to GraphOps.HitsIters).map { i =>
        s"""h${i}r AS (SELECT e.src,
           |  CAST(SUM(CAST(ROUND(p.a * 1e9, 0) AS BIGINT)) AS DOUBLE) / 1e9 AS h
           |  FROM edges e JOIN a${i - 1} p ON e.dst = p.node GROUP BY 1),
           |h$i AS (SELECT src, h / MAX(h) OVER () AS h FROM h${i}r),
           |a${i}r AS (SELECT e.dst,
           |  CAST(SUM(CAST(ROUND(hb.h * 1e9, 0) AS BIGINT)) AS DOUBLE) / 1e9 AS ar
           |  FROM edges e JOIN h$i hb ON e.src = hb.src GROUP BY 1),
           |a$i AS (SELECT dst AS node, ar / MAX(ar) OVER () AS a FROM a${i}r)""".stripMargin
      }.mkString(",\n")
      s"""WITH $edgesCte,
         |a0 AS (SELECT DISTINCT dst AS node, CAST(1.0 AS DOUBLE) AS a FROM edges),
         |$steps
         |SELECT node AS part_key, ROUND(a, 6) AS authority
         |FROM a${GraphOps.HitsIters}
         |ORDER BY authority DESC, part_key ASC LIMIT 20""".stripMargin
    },

    // BFS min-distances via recursive CTE: UNION dedups (node, d) pairs,
    // the hop cap bounds recursion on cycles, MIN(d) per node recovers
    // the BFS level. Same cap as the Spark frontier loop.
    "q_graph_bfs" ->
      s"""WITH RECURSIVE $edgesCte,
         |pp AS (SELECT e1.dst AS a, e2.dst AS b
         |       FROM edges e1 JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
         |       GROUP BY 1, 2 HAVING COUNT(*) >= ${GraphOps.CcMinCooccur}),
         |ue AS (SELECT a, b FROM pp UNION ALL SELECT b, a FROM pp),
         |seed AS (SELECT MIN(a) AS s FROM ue),
         |reach(n, d) AS (
         |  SELECT s, 0 FROM seed
         |  UNION
         |  SELECT ue.b, reach.d + 1 FROM reach JOIN ue ON reach.n = ue.a
         |  WHERE reach.d < ${GraphOps.BfsMaxHops}),
         |dm AS (SELECT n, MIN(d) AS d FROM reach GROUP BY n)
         |SELECT CAST(d AS BIGINT) AS dist, COUNT(*) AS n_nodes
         |FROM dm GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_graph_jaccard" ->
      s"""WITH $edgesCte,
         |pp AS (SELECT e1.dst AS a, e2.dst AS b, COUNT(*) AS cnt
         |       FROM edges e1 JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
         |       GROUP BY 1, 2 HAVING COUNT(*) >= ${GraphOps.TriangleMinCooccur}),
         |deg AS (SELECT dst, COUNT(*) AS d FROM edges GROUP BY 1),
         |j AS (SELECT a AS part_a, b AS part_b, cnt AS common,
         |  ROUND(CAST(cnt AS DOUBLE) / (da.d + db.d - cnt), 6) AS jaccard
         |  FROM pp JOIN deg da ON pp.a = da.dst JOIN deg db ON pp.b = db.dst)
         |SELECT part_a, part_b, common, jaccard FROM j
         |WHERE jaccard >= ${GraphOps.JaccardMinSim} ORDER BY part_a, part_b""".stripMargin,

    // Same pair-count + degree assembly as jaccard; the overlap
    // coefficient divides by min(da, db) and reports the top-20 with
    // (coef desc, a, b) tie-break.
    "q_graph_overlap" ->
      s"""WITH $edgesCte,
         |pp AS (SELECT e1.dst AS a, e2.dst AS b, COUNT(*) AS cnt
         |       FROM edges e1 JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
         |       GROUP BY 1, 2 HAVING COUNT(*) >= ${GraphOps.TriangleMinCooccur}),
         |deg AS (SELECT dst, COUNT(*) AS d FROM edges GROUP BY 1)
         |SELECT pp.a AS part_a, pp.b AS part_b, cnt AS common,
         |  ROUND(CAST(cnt AS DOUBLE) / CAST(LEAST(da.d, db.d) AS DOUBLE), 6)
         |    AS overlap
         |FROM pp JOIN deg da ON pp.a = da.dst JOIN deg db ON pp.b = db.dst
         |ORDER BY overlap DESC, part_a ASC, part_b ASC LIMIT 20""".stripMargin,

    // SimRank unrolled: per iteration one in-neighbor-pair contribution
    // agg (round-9 DECIMAL sums, the markov device) + one pinned double
    // per pair with the diagonal pinned at 1.
    "q_graph_simrank" -> {
      val steps = (1 to GraphOps.SimrankIters).map { i =>
        s"""c$i AS (SELECT ea.node AS ca, eb.node AS cb,
           |  CAST(SUM(CAST(ROUND(sp.s, 9) AS DECIMAL(28,9))) AS DOUBLE) AS cs
           |  FROM ie ea JOIN s${i - 1} sp ON sp.a = ea.inn
           |       JOIN ie eb ON sp.b = eb.inn
           |  GROUP BY 1, 2),
           |s$i AS (SELECT n1.v AS a, n2.v AS b,
           |  CASE WHEN n1.v = n2.v THEN CAST(1.0 AS DOUBLE)
           |       ELSE COALESCE(CAST(${GraphOps.SimrankC} AS DOUBLE) * c.cs
           |         / CAST(ia.n * ib.n AS DOUBLE), CAST(0.0 AS DOUBLE)) END AS s
           |  FROM nodes n1 CROSS JOIN nodes n2
           |  LEFT JOIN c$i c ON c.ca = n1.v AND c.cb = n2.v
           |  LEFT JOIN ind ia ON ia.node = n1.v
           |  LEFT JOIN ind ib ON ib.node = n2.v)""".stripMargin
      }.mkString(",\n")
      s"""WITH ev AS (SELECT user_id, event_id, ts, event_type,
         |    LEAD(event_type) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS next_type
         |  FROM events),
         |ed AS (SELECT DISTINCT event_type AS src, next_type AS dst
         |  FROM ev WHERE next_type IS NOT NULL AND next_type <> event_type),
         |nodes AS (SELECT src AS v FROM ed UNION SELECT dst FROM ed),
         |ie AS (SELECT dst AS node, src AS inn FROM ed),
         |ind AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS n FROM ie GROUP BY 1),
         |s0 AS (SELECT n1.v AS a, n2.v AS b,
         |  CASE WHEN n1.v = n2.v THEN CAST(1.0 AS DOUBLE)
         |       ELSE CAST(0.0 AS DOUBLE) END AS s
         |  FROM nodes n1 CROSS JOIN nodes n2),
         |$steps
         |SELECT a AS type_a, b AS type_b, ROUND(s, 6) AS simrank
         |FROM s${GraphOps.SimrankIters}
         |WHERE a < b AND s > 0 ORDER BY type_a, type_b""".stripMargin
    },

    // 4 synchronous label-propagation steps unrolled (argmax neighbor
    // label, min-label tie-break) — same rule as the Spark loop.
    "q_graph_label_prop" -> {
      val steps = (1 to GraphOps.LpIters).map { i =>
        s"""lp$i AS (SELECT a AS node, lbl FROM (
           |  SELECT ue.a, l.lbl, COUNT(*) AS c,
           |    ROW_NUMBER() OVER (PARTITION BY ue.a
           |      ORDER BY COUNT(*) DESC, l.lbl ASC) AS rn
           |  FROM ue JOIN lp${i - 1} l ON ue.b = l.node
           |  GROUP BY ue.a, l.lbl) WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH $edgesCte,
         |pp AS (SELECT e1.dst AS a, e2.dst AS b
         |       FROM edges e1 JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
         |       GROUP BY 1, 2 HAVING COUNT(*) >= ${GraphOps.TriangleMinCooccur}),
         |ue AS (SELECT a, b FROM pp UNION ALL SELECT b, a FROM pp),
         |lp0 AS (SELECT DISTINCT a AS node, a AS lbl FROM ue),
         |$steps,
         |sizes AS (SELECT lbl, COUNT(*) AS sz FROM lp${GraphOps.LpIters} GROUP BY lbl)
         |SELECT sz AS size, COUNT(*) AS n_communities
         |FROM sizes GROUP BY 1 ORDER BY 1""".stripMargin
    },

    // 5 unrolled peeling rounds (degree < k nodes removed from the
    // induced subgraph each round) + final in-core degrees.
    // MATERIALIZED hints are load-bearing: the five unrolled rounds each
    // reference ue and their predecessor, and DuckDB's CTE inlining
    // otherwise re-expands the 12M-pair projection per reference —
    // probed > 80 GB of spill at sf0.1 inlined vs 1 s materialized.
    "q_graph_kcore" -> {
      val k = GraphOps.KCoreK
      val steps = (1 to GraphOps.KCoreRounds).map { i =>
        s"""k$i AS MATERIALIZED (SELECT a AS node FROM ue
           |  WHERE a IN (SELECT node FROM k${i - 1}) AND b IN (SELECT node FROM k${i - 1})
           |  GROUP BY a HAVING COUNT(*) >= $k)""".stripMargin
      }.mkString(",\n")
      s"""WITH $edgesCte,
         |pp AS MATERIALIZED (SELECT e1.dst AS a, e2.dst AS b
         |       FROM edges e1 JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
         |       GROUP BY 1, 2 HAVING COUNT(*) >= ${GraphOps.TriangleMinCooccur}),
         |ue AS MATERIALIZED (SELECT a, b FROM pp UNION ALL SELECT b, a FROM pp),
         |k0 AS MATERIALIZED (SELECT DISTINCT a AS node FROM ue),
         |$steps
         |SELECT a AS node, COUNT(*) AS core_deg FROM ue
         |WHERE a IN (SELECT node FROM k${GraphOps.KCoreRounds})
         |  AND b IN (SELECT node FROM k${GraphOps.KCoreRounds})
         |GROUP BY 1 ORDER BY 1""".stripMargin
    },

    "q_graph_clustering" ->
      s"""WITH $edgesCte,
         |pp AS (SELECT e1.dst AS a, e2.dst AS b
         |       FROM edges e1 JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
         |       GROUP BY 1, 2 HAVING COUNT(*) >= ${GraphOps.TriangleMinCooccur}),
         |ue AS (SELECT a, b FROM pp UNION ALL SELECT b, a FROM pp),
         |tri AS (SELECT u1.a AS node, COUNT(*) AS t
         |        FROM ue u1 JOIN ue u2 ON u1.a = u2.a AND u1.b < u2.b
         |        WHERE EXISTS (SELECT 1 FROM pp e
         |                      WHERE e.a = u1.b AND e.b = u2.b)
         |        GROUP BY u1.a),
         |deg AS (SELECT a AS node, COUNT(*) AS d FROM ue GROUP BY a)
         |SELECT deg.node, deg.d AS degree,
         |  COALESCE(tri.t, 0) AS triangles,
         |  ROUND(COALESCE(tri.t, 0) * CAST(2.0 AS DOUBLE) / (deg.d * (deg.d - 1)), 6) AS coef
         |FROM deg LEFT JOIN tri ON deg.node = tri.node
         |WHERE deg.d >= 2 ORDER BY deg.node""".stripMargin,

    // round-9 weights → exact 1e9-scaled BIGINT sum (order-blind; the
    // q_gnn_gin integer device, mirroring the Spark aggregation)
    "q_graph_adamic_adar" ->
      s"""WITH $edgesCte,
         |cd AS (SELECT src,
         |         CAST(ROUND(CAST(1 AS DOUBLE) / LN(COUNT(*)) * 1e9, 0) AS BIGINT) AS w9
         |       FROM edges GROUP BY src HAVING COUNT(*) >= 2),
         |cn AS (SELECT e1.src AS z, e1.dst AS a, e2.dst AS b
         |       FROM edges e1 JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst)
         |SELECT cn.a AS part_a, cn.b AS part_b,
         |  ROUND(CAST(SUM(cd.w9) AS DOUBLE) / 1000, 0) / 1e6 AS aa
         |FROM cn JOIN cd ON cn.z = cd.src
         |GROUP BY 1, 2 ORDER BY aa DESC, part_a ASC, part_b ASC LIMIT 20""".stripMargin,

    // 2-hop reach for the top-10 degree seeds: seed-scoped joins + an
    // anti-join against the 1-hop set — all exact integers.
    "q_graph_two_hop" ->
      s"""WITH $edgesCte,
         |pp AS (SELECT e1.dst AS a, e2.dst AS b
         |       FROM edges e1 JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
         |       GROUP BY 1, 2 HAVING COUNT(*) >= ${GraphOps.TriangleMinCooccur}),
         |ue AS (SELECT a, b FROM pp UNION ALL SELECT b, a FROM pp),
         |deg AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS d FROM ue GROUP BY 1),
         |seeds AS (SELECT a AS seed, d AS n_1hop FROM deg
         |  ORDER BY d DESC, a ASC LIMIT 10),
         |oneh AS (SELECT s.seed, u.b AS nbr
         |  FROM seeds s JOIN ue u ON s.seed = u.a),
         |twoh AS (SELECT DISTINCT o.seed, u2.b AS nbr2
         |  FROM oneh o JOIN ue u2 ON o.nbr = u2.a WHERE u2.b <> o.seed),
         |twox AS (SELECT t.seed, CAST(COUNT(*) AS BIGINT) AS n_2hop
         |  FROM twoh t
         |  WHERE NOT EXISTS (SELECT 1 FROM oneh o
         |    WHERE o.seed = t.seed AND o.nbr = t.nbr2)
         |  GROUP BY 1)
         |SELECT s.seed AS part_key, s.n_1hop,
         |  CAST(COALESCE(x.n_2hop, 0) AS BIGINT) AS n_2hop,
         |  CAST(1 + s.n_1hop + COALESCE(x.n_2hop, 0) AS BIGINT) AS reach
         |FROM seeds s LEFT JOIN twox x ON s.seed = x.seed
         |ORDER BY s.n_1hop DESC, part_key ASC""".stripMargin,

    // RA: the 1/deg twin of adamic_adar on the identical pair chain.
    "q_graph_resource_alloc" ->
      s"""WITH $edgesCte,
         |cd AS (SELECT src,
         |         CAST(ROUND(CAST(1 AS DOUBLE) / COUNT(*) * 1e9, 0) AS BIGINT) AS w9
         |       FROM edges GROUP BY src HAVING COUNT(*) >= 2),
         |cn AS (SELECT e1.src AS z, e1.dst AS a, e2.dst AS b
         |       FROM edges e1 JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst)
         |SELECT cn.a AS part_a, cn.b AS part_b,
         |  ROUND(CAST(SUM(cd.w9) AS DOUBLE) / 1000, 0) / 1e6 AS ra
         |FROM cn JOIN cd ON cn.z = cd.src
         |GROUP BY 1, 2 ORDER BY ra DESC, part_a ASC, part_b ASC LIMIT 20""".stripMargin,

    // PA: deg(a)·deg(b) over co-occurring pairs — all exact integers.
    "q_graph_pref_attach" ->
      s"""WITH $edgesCte,
         |pd AS (SELECT dst, CAST(COUNT(*) AS BIGINT) AS pdeg FROM edges GROUP BY 1),
         |cn AS (SELECT e1.dst AS a, e2.dst AS b, CAST(COUNT(*) AS BIGINT) AS cnt
         |       FROM edges e1 JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
         |       GROUP BY 1, 2)
         |SELECT cn.a AS part_a, cn.b AS part_b, cn.cnt AS n_cooccur,
         |  da.pdeg * db.pdeg AS pa
         |FROM cn JOIN pd da ON cn.a = da.dst JOIN pd db ON cn.b = db.dst
         |ORDER BY pa DESC, part_a ASC, part_b ASC LIMIT 20""".stripMargin,

    // Reachability closure + min-label per node == connected components;
    // tractable because the >=K projection fragments into small comps.
    "q_graph_cc" ->
      s"""WITH RECURSIVE $edgesCte,
         |pp AS (SELECT e1.dst AS a, e2.dst AS b
         |       FROM edges e1 JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
         |       GROUP BY 1, 2 HAVING COUNT(*) >= ${GraphOps.CcMinCooccur}),
         |ue AS (SELECT a, b FROM pp UNION ALL SELECT b, a FROM pp),
         |reach AS (
         |  SELECT p_partkey AS n, p_partkey AS r FROM part
         |  UNION
         |  SELECT reach.n, ue.b FROM reach JOIN ue ON reach.r = ue.a),
         |comp AS (SELECT n, MIN(r) AS lbl FROM reach GROUP BY n),
         |sizes AS (SELECT lbl, COUNT(*) AS sz FROM comp GROUP BY lbl)
         |SELECT sz AS size, COUNT(*) AS n_components
         |FROM sizes GROUP BY 1 ORDER BY 1""".stripMargin,

    // Final streaming-GNN state == batch neighborhood mean + degree.
    "q_stream_gnn_embed" ->
      s"""WITH $edgesCte,
         |n AS (SELECT COUNT(*) AS c FROM embeddings),
         |f AS (SELECT e.src AS custkey, emb.embedding
         |      FROM edges e CROSS JOIN n
         |      JOIN embeddings emb ON emb.vec_id = e.dst % n.c)
         |SELECT custkey, COUNT(*) AS n_nbrs,
         |  ROUND(AVG(CAST(embedding[1] AS DOUBLE)), 6) AS d1,
         |  ROUND(AVG(CAST(embedding[2] AS DOUBLE)), 6) AS d2,
         |  ROUND(AVG(CAST(embedding[3] AS DOUBLE)), 6) AS d3,
         |  ROUND(AVG(CAST(embedding[4] AS DOUBLE)), 6) AS d4
         |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_graph_neighbor_mean" ->
      s"""WITH $edgesCte,
         |n AS (SELECT COUNT(*) AS c FROM embeddings),
         |f AS (SELECT e.src AS custkey, emb.embedding
         |      FROM edges e CROSS JOIN n
         |      JOIN embeddings emb ON emb.vec_id = e.dst % n.c)
         |SELECT custkey,
         |  ROUND(AVG(CAST(embedding[1] AS DOUBLE)), 6) AS d1,
         |  ROUND(AVG(CAST(embedding[2] AS DOUBLE)), 6) AS d2,
         |  ROUND(AVG(CAST(embedding[3] AS DOUBLE)), 6) AS d3,
         |  ROUND(AVG(CAST(embedding[4] AS DOUBLE)), 6) AS d4
         |FROM f GROUP BY 1 ORDER BY 1""".stripMargin
  )

  private def cosExpr(v: String, q: String): String =
    s"""(SELECT SUM(CAST(x AS DOUBLE)*CAST(y AS DOUBLE))
       |   FROM (SELECT UNNEST($v) AS x, UNNEST($q) AS y) zd)
       | / (sqrt((SELECT SUM(CAST(x AS DOUBLE)*CAST(x AS DOUBLE))
       |          FROM (SELECT UNNEST($v) AS x) za))
       |  * sqrt((SELECT SUM(CAST(y AS DOUBLE)*CAST(y AS DOUBLE))
       |          FROM (SELECT UNNEST($q) AS y) zb)))""".stripMargin

  /** Shared IVF CTE chain (r16 scale-adaptive capacity, VERDICT r15
    * item 1): `nlist` is COMPUTED from the corpus —
    * GREATEST(16, FLOOR(SQRT(n))), mirroring LlmOps.ivfNlist — so the
    * oracle derives the same capacity from the same data and the hash
    * match certifies the rule, not a frozen constant. Centroids = the
    * nlist smallest vec_ids; EVERY vector is assigned (assign-all
    * convention shared by ann_ivf / ann_ivfpq / ann_recall{,_curve} /
    * semdedup). */
  private def ivfAssignedCtes: String =
    s"""nl AS (SELECT GREATEST(16, CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT)) AS nlist
       |  FROM embeddings),
       |cents AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings, nl
       |  WHERE vec_id < nl.nlist),
       |data AS (SELECT vec_id AS vid, embedding AS dv FROM embeddings),
       |ac AS (SELECT d.vid, c.cid, d.dv,
       |         ROUND(${cosExpr("d.dv", "c.cv")}, 6) AS ccos
       |       FROM data d CROSS JOIN cents c),
       |ar AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vid
       |         ORDER BY ccos DESC, cid ASC) AS arn FROM ac),
       |assigned AS (SELECT vid, cid, dv FROM ar WHERE arn = 1)""".stripMargin

  /** §2.11 — LLM-pipeline ops. Cosine is spelled out in double math on
    * both sides (DuckDB's list_cosine_similarity accumulates in float32 —
    * probed 1e-7 off, too coarse for ROUND 6 parity). */
  val llm: Map[String, String] = Map(
    "q_llm_dedup_exact" ->
      """SELECT lang, COUNT(*) AS n_docs, COUNT(DISTINCT md5(text)) AS n_distinct
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_llm_jaccard_pairs" ->
      """WITH d AS (SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS toks
        |           FROM documents),
        |p AS (SELECT d1.lang, d1.doc_id AS doc_a, d2.doc_id AS doc_b,
        |        CAST(len(list_intersect(d1.toks, d2.toks)) AS DOUBLE)
        |          / (len(d1.toks) + len(d2.toks) - len(list_intersect(d1.toks, d2.toks))) AS jac
        |      FROM d d1 JOIN d d2 ON d1.lang = d2.lang AND d1.doc_id < d2.doc_id)
        |SELECT lang, doc_a, doc_b, ROUND(jac, 6) AS jaccard,
        |  (SELECT CAST(20000 AS BIGINT) - MAX(c)
        |   FROM (SELECT COUNT(*) AS c FROM documents GROUP BY lang)) AS exact_guard_margin
        |FROM p WHERE jac >= 0.5 ORDER BY lang, doc_a, doc_b""".stripMargin,

    // Full LSH pipeline with the md5-derived 60-bit hash family —
    // signatures, band buckets, candidate dedup, and exact verify all
    // reproduced in SQL (CAST('0x'||hex AS BIGINT) == Spark's
    // conv(hex,16,10)::long for 15 hex chars).
    "q_llm_minhash_md5" -> {
      def mh(j: Int): String =
        s"MIN(CAST('0x' || substr(md5('$j:' || tok), 1, 15) AS BIGINT)) AS s$j"
      val sigs = (0 until 8).map(mh).mkString(", ")
      val bands = (0 until 4).map { b =>
        s"""SELECT doc_id, lang, $b AS band_id,
           |  CAST(s${2 * b} AS VARCHAR) || '_' || CAST(s${2 * b + 1} AS VARCHAR) AS bv
           |FROM sig""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH d AS (SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS toks
         |           FROM documents WHERE doc_id % 10 = 0
         |             AND len(list_distinct(string_split(text, ' '))) > 0),
         |tok AS (SELECT doc_id, lang, unnest(toks) AS tok FROM d),
         |sig AS (SELECT doc_id, lang, $sigs FROM tok GROUP BY 1, 2),
         |banded AS ($bands),
         |pairs AS (SELECT DISTINCT a.lang, a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM banded a JOIN banded b ON a.lang = b.lang AND a.band_id = b.band_id
         |    AND a.bv = b.bv AND a.doc_id < b.doc_id),
         |v AS (SELECT p.lang, p.doc_a, p.doc_b,
         |  CAST(len(list_intersect(da.toks, db.toks)) AS DOUBLE)
         |    / (len(da.toks) + len(db.toks) - len(list_intersect(da.toks, db.toks))) AS jac
         |  FROM pairs p JOIN d da ON p.doc_a = da.doc_id
         |               JOIN d db ON p.doc_b = db.doc_id)
         |SELECT lang, doc_a, doc_b, ROUND(jac, 6) AS jaccard
         |FROM v WHERE jac >= 0.5 ORDER BY lang, doc_a, doc_b""".stripMargin
    },

    // Round-14 bracket oracle for the xx-family LSH audit: the exact
    // columns replay the md5 twin's verified-pair counts (same CTEs as
    // q_llm_minhash_md5); the xx-side envelope booleans are asserted
    // TRUE (recall floors measured at all three sf — LlmOps
    // MinhashTwinRecall*Lo docstring; precision is 1 by construction).
    "q_llm_minhash_lsh" -> {
      def mh(j: Int): String =
        s"MIN(CAST('0x' || substr(md5('$j:' || tok), 1, 15) AS BIGINT)) AS s$j"
      val sigs = (0 until 8).map(mh).mkString(", ")
      val bands = (0 until 4).map { b =>
        s"""SELECT doc_id, lang, $b AS band_id,
           |  CAST(s${2 * b} AS VARCHAR) || '_' || CAST(s${2 * b + 1} AS VARCHAR) AS bv
           |FROM sig""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH d AS (SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS toks
         |           FROM documents WHERE doc_id % 10 = 0
         |             AND len(list_distinct(string_split(text, ' '))) > 0),
         |tok AS (SELECT doc_id, lang, unnest(toks) AS tok FROM d),
         |sig AS (SELECT doc_id, lang, $sigs FROM tok GROUP BY 1, 2),
         |banded AS ($bands),
         |pairs AS (SELECT DISTINCT a.lang, a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM banded a JOIN banded b ON a.lang = b.lang AND a.band_id = b.band_id
         |    AND a.bv = b.bv AND a.doc_id < b.doc_id),
         |v AS (SELECT p.lang, p.doc_a, p.doc_b,
         |  CAST(len(list_intersect(da.toks, db.toks)) AS DOUBLE)
         |    / (len(da.toks) + len(db.toks) - len(list_intersect(da.toks, db.toks))) AS jac
         |  FROM pairs p JOIN d da ON p.doc_a = da.doc_id
         |               JOIN d db ON p.doc_b = db.doc_id)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_md5_pairs,
         |  CAST(COALESCE(SUM(CASE WHEN ROUND(jac, 6) >= 0.8 THEN 1 ELSE 0 END), 0)
         |    AS BIGINT) AS n_md5_strong,
         |  TRUE AS recall_strong_ok, TRUE AS recall_all_ok,
         |  TRUE AS precision_ok, TRUE AS xx_nonempty
         |FROM v WHERE jac >= 0.5""".stripMargin
    },

    // Streaming MinHash union maintainer: per-lang minima over every
    // token (min over docs of per-doc minima ≡ min over the union),
    // slot-match estimate audited against the exact vocabulary Jaccard.
    "q_stream_minhash" -> {
      def mh(j: Int): String =
        s"MIN(CAST('0x' || substr(md5('$j:' || tok), 1, 15) AS BIGINT)) AS s$j"
      val sigs = (0 until 8).map(mh).mkString(", ")
      val matches = (0 until 8)
        .map(j => s"(CASE WHEN a.s$j = b.s$j THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH d AS (SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS toks
         |           FROM documents WHERE doc_id % 10 = 0
         |             AND len(list_distinct(string_split(text, ' '))) > 0),
         |tok AS (SELECT doc_id, lang, unnest(toks) AS tok FROM d),
         |sig AS (SELECT lang, $sigs FROM tok GROUP BY 1),
         |vocab AS (SELECT DISTINCT lang, tok FROM tok),
         |sizes AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS nv
         |  FROM vocab GROUP BY 1),
         |inter AS (SELECT a.lang AS la, b.lang AS lb,
         |    CAST(COUNT(*) AS BIGINT) AS ni
         |  FROM vocab a JOIN vocab b ON a.tok = b.tok AND a.lang < b.lang
         |  GROUP BY 1, 2),
         |p AS (SELECT a.lang AS la, b.lang AS lb,
         |    CAST($matches AS BIGINT) AS n_match
         |  FROM sig a JOIN sig b ON a.lang < b.lang),
         |j AS (SELECT p.la, p.lb, p.n_match,
         |    CAST(p.n_match AS DOUBLE) / 8.0 AS est,
         |    CAST(COALESCE(inter.ni, 0) AS DOUBLE)
         |      / CAST(sa.nv + sb.nv - COALESCE(inter.ni, 0) AS DOUBLE) AS ex
         |  FROM p LEFT JOIN inter ON p.la = inter.la AND p.lb = inter.lb
         |  JOIN sizes sa ON p.la = sa.lang
         |  JOIN sizes sb ON p.lb = sb.lang)
         |SELECT la AS lang_a, lb AS lang_b, n_match,
         |  ROUND(est, 6) AS est_jaccard, ROUND(ex, 6) AS exact_jaccard,
         |  ROUND(ABS(est - ex), 6) AS abs_err
         |FROM j ORDER BY lang_a, lang_b""".stripMargin
    },

    // Round 7 (driver). MinHash estimator audit: same md5 signature +
    // band CTEs as q_llm_minhash_md5, plus the component-agreement
    // count; |est−jac| terms round-9 → exact DECIMAL sums (PSI recipe).
    "q_llm_minhash_est" -> {
      def mh(j: Int): String =
        s"MIN(CAST('0x' || substr(md5('$j:' || tok), 1, 15) AS BIGINT)) AS s$j"
      val sigs = (0 until 8).map(mh).mkString(", ")
      val bands = (0 until 4).map { b =>
        s"""SELECT doc_id, lang, $b AS band_id,
           |  CAST(s${2 * b} AS VARCHAR) || '_' || CAST(s${2 * b + 1} AS VARCHAR) AS bv
           |FROM sig""".stripMargin
      }.mkString("\nUNION ALL\n")
      val agree = (0 until 8)
        .map(j => s"(CASE WHEN sa.s$j = sb.s$j THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH d AS (SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS toks
         |           FROM documents WHERE doc_id % 10 = 0
         |             AND len(list_distinct(string_split(text, ' '))) > 0),
         |tok AS (SELECT doc_id, lang, unnest(toks) AS tok FROM d),
         |sig AS (SELECT doc_id, lang, $sigs FROM tok GROUP BY 1, 2),
         |banded AS ($bands),
         |pairs AS (SELECT DISTINCT a.lang, a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM banded a JOIN banded b ON a.lang = b.lang AND a.band_id = b.band_id
         |    AND a.bv = b.bv AND a.doc_id < b.doc_id),
         |v AS (SELECT p.lang, p.doc_a, p.doc_b,
         |  CAST(len(list_intersect(da.toks, db.toks)) AS DOUBLE)
         |    / (len(da.toks) + len(db.toks) - len(list_intersect(da.toks, db.toks))) AS jac
         |  FROM pairs p JOIN d da ON p.doc_a = da.doc_id
         |               JOIN d db ON p.doc_b = db.doc_id),
         |sc AS (SELECT v.lang, CAST($agree AS BIGINT) AS agree,
         |    CAST($agree AS DOUBLE) / CAST(8 AS DOUBLE) AS est, v.jac
         |  FROM v JOIN sig sa ON v.doc_a = sa.doc_id
         |         JOIN sig sb ON v.doc_b = sb.doc_id),
         |t AS (SELECT lang, agree,
         |    CAST(ROUND(ABS(est - jac), 9) AS DECIMAL(18,9)) AS errt,
         |    CAST(ROUND(est - jac, 9) AS DECIMAL(18,9)) AS biast
         |  FROM sc),
         |a AS (SELECT lang, COUNT(*) AS n_pairs,
         |    CAST(SUM(agree) AS BIGINT) AS sum_agree,
         |    SUM(errt) AS sum_err, SUM(biast) AS sum_bias,
         |    CAST(MAX(errt) AS DOUBLE) AS max_abs_err
         |  FROM t GROUP BY 1)
         |SELECT lang, n_pairs,
         |  CAST(sum_agree AS DOUBLE) / CAST(n_pairs * 8 AS DOUBLE) AS mean_est,
         |  CAST(sum_err AS DOUBLE) / CAST(n_pairs AS DOUBLE) AS mae,
         |  CAST(sum_bias AS DOUBLE) / CAST(n_pairs AS DOUBLE) AS bias,
         |  max_abs_err
         |FROM a ORDER BY lang""".stripMargin
    },

    // 60-bit md5-family SimHash reproduced fully in SQL: per-bit votes
    // as 60 conditional sums, signature via shift-sum, band join,
    // Hamming verify via bit_count(xor). Parameterized over the band
    // grid so BOTH registered operating points (4x15-bit/<=12 precision
    // screen; 6x10-bit/<=16 recall tier, VERDICT r10 item 6) replay the
    // same arithmetic.
    "q_llm_simhash_md5" -> simhashMd5Sql(nBands = 4, hammingMax = 12),
    "q_llm_simhash_recall" -> simhashMd5Sql(nBands = 6, hammingMax = 16),

    // Round-14 bracket oracle for the xx-SimHash audit: exact columns =
    // the md5 twin's pair count (nested replay of simhashMd5Sql) + the
    // exact-Jaccard ground truth on the 10% sample; the xx-side
    // precision floor and the two [lo, hi] operating bands (recall is
    // LOW by designation — 4x16/<=12 is the precision screen) are
    // asserted TRUE (LlmOps Simhash* band docstring, measured at all
    // three sf).
    "q_llm_simhash" -> {
      s"""WITH d AS (SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS toks
         |           FROM documents WHERE doc_id % 10 = 0
         |             AND len(list_distinct(string_split(text, ' '))) > 0),
         |p AS (SELECT CAST(len(list_intersect(d1.toks, d2.toks)) AS DOUBLE)
         |        / (len(d1.toks) + len(d2.toks) - len(list_intersect(d1.toks, d2.toks))) AS jac
         |      FROM d d1 JOIN d d2 ON d1.lang = d2.lang AND d1.doc_id < d2.doc_id),
         |e AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_sample_pairs,
         |        CAST(COALESCE(SUM(CASE WHEN ROUND(jac, 6) >= 0.8 THEN 1 ELSE 0 END), 0)
         |          AS BIGINT) AS n_exact_strong
         |      FROM p WHERE jac >= 0.5),
         |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_md5_pairs
         |      FROM (${simhashMd5Sql(nBands = 4, hammingMax = 12)}) twin)
         |SELECT m.n_md5_pairs, e.n_exact_sample_pairs, e.n_exact_strong,
         |  TRUE AS precision_ok, TRUE AS recall_strong_in_band,
         |  TRUE AS twin_agree_in_band, TRUE AS xx_nonempty
         |FROM m, e""".stripMargin
    },

    // SRP-LSH buckets reproduced exactly: integer hyperplane components
    // and a left-associated + chain give bit-identical sign tests to the
    // codegen'd FloatVecDot loop; cosines compare at 6dp as usual.
    // r16: the bit count is scale-adaptive (clamp(ceil(log2 n) - 4,
    // min, max) — LlmOps.lshBits); the `nb` CTE recomputes it from the
    // corpus via EXACT integer bit-length (length(bin(n-1)) — no float
    // log edge cases), and the bucket terms are generated to the
    // LshBitsMax fence with each term gated on j < bits.
    "q_llm_ann_lsh" -> {
      def dotj(j: Int): String = (0 until 64).map(d =>
        s"CAST(embedding[${d + 1}] AS DOUBLE) * (${LlmOps.hyperplane(j, d)})").mkString(" + ")
      val bucket = (0 until LlmOps.LshBitsMax).map(j =>
        s"(CASE WHEN $j < nb.bits AND ${dotj(j)} > 0 THEN ${1L << j} ELSE 0 END)")
        .mkString(" + ")
      s"""WITH nb AS (SELECT GREATEST(${LlmOps.LshBitsMin}, LEAST(${LlmOps.LshBitsMax},
         |    length(bin(GREATEST(COUNT(*), 1) - 1)) - 4)) AS bits FROM embeddings),
         |b AS (SELECT vec_id, embedding, $bucket AS bucket FROM embeddings, nb),
         |q AS (SELECT vec_id AS query_id, bucket AS qb, embedding AS qv
         |      FROM b WHERE vec_id BETWEEN 20 AND 24),
         |c AS (SELECT q.query_id, b.vec_id AS neighbor_id,
         |        ROUND(${cosExpr("b.embedding", "q.qv")}, 6) AS cos_sim
         |      FROM b JOIN q ON b.bucket = q.qb AND b.vec_id <> q.query_id),
         |r AS (SELECT query_id, neighbor_id, cos_sim,
         |        ROW_NUMBER() OVER (PARTITION BY query_id
         |          ORDER BY cos_sim DESC, neighbor_id ASC) AS rn FROM c)
         |SELECT query_id, neighbor_id, cos_sim, CAST(rn AS BIGINT) AS rnk
         |FROM r WHERE rn <= 3 ORDER BY query_id, rnk""".stripMargin
    },

    "q_llm_cosine_topk" ->
      s"""WITH t AS (SELECT embedding AS tv FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id, ROUND(${cosExpr("e.embedding", "t.tv")}, 6) AS cos_sim
         |FROM embeddings e CROSS JOIN t
         |WHERE e.vec_id <> 0
         |ORDER BY cos_sim DESC, vec_id ASC LIMIT 10""".stripMargin,

    "q_llm_knn_join" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 20),
         |c AS (SELECT q.query_id, e.vec_id AS neighbor_id,
         |        ROUND(${cosExpr("e.embedding", "q.qv")}, 6) AS cos_sim
         |      FROM q JOIN embeddings e ON e.vec_id <> q.query_id),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |        ORDER BY cos_sim DESC, neighbor_id ASC) AS rnk FROM c)
         |SELECT query_id, neighbor_id, cos_sim, rnk
         |FROM r WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin,

    "q_llm_text_stats" ->
      """WITH uniq AS (
        |  SELECT lang, COUNT(DISTINCT token) AS uniq_tokens
        |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents)
        |  GROUP BY 1)
        |SELECT d.lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        |  ANY_VALUE(uniq.uniq_tokens) AS uniq_tokens
        |FROM documents d JOIN uniq ON d.lang = uniq.lang
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin,

    "q_llm_multimodal" ->
      """SELECT doc_id, lang, n_chars,
        |  CAST(len(embedding) AS INT) AS dim,
        |  ROUND(CAST(embedding[1] AS DOUBLE), 6) AS e1
        |FROM documents JOIN embeddings ON doc_id = vec_id
        |ORDER BY doc_id""".stripMargin
  )

  /** Round-1 additions: percentiles/pivot/correlated subquery, text
    * analysis, vector near-dup + IVF ANN, multimodal decode plumbing. */
  val extended: Map[String, String] = Map(
    "q_agg_listagg" ->
      """SELECT c_nationkey AS nationkey, COUNT(*) AS n_cust,
        |  string_agg(c_name, ',' ORDER BY c_name) AS names
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_win_first_last" ->
      """SELECT o_custkey, first_okey, last_okey FROM (
        |  SELECT o_custkey,
        |    FIRST_VALUE(o_orderkey) OVER w AS first_okey,
        |    LAST_VALUE(o_orderkey) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_okey,
        |    ROW_NUMBER() OVER w AS rn
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey))
        |WHERE rn = 1 ORDER BY o_custkey""".stripMargin,

    "q_agg_percentiles" ->
      """SELECT o_orderstatus,
        |  ROUND(quantile_cont(o_totalprice, 0.5), 6) AS p50,
        |  ROUND(quantile_cont(o_totalprice, 0.9), 6) AS p90,
        |  COUNT(*) AS n_orders
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    // Bracket oracles for the sketch tier (r13): the sketch values are
    // engine-specific, so the oracle checks the exact columns by hash
    // and asserts the within-band booleans are TRUE — Spark computes
    // them against its own sketch; a sketch regression flips them.
    "q_agg_approx_distinct" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  COUNT(DISTINCT user_id) AS n_users, TRUE AS within_3rsd
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_agg_approx_percentile" ->
      """SELECT o_orderstatus,
        |  ROUND(quantile_cont(o_totalprice, 0.5), 6) AS p50,
        |  ROUND(quantile_cont(o_totalprice, 0.9), 6) AS p90,
        |  TRUE AS p50_in_band, TRUE AS p90_in_band
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_agg_pivot" ->
      """SELECT yr,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
        |FROM (SELECT CAST(year(o_orderdate) AS INT) AS yr, o_orderstatus FROM orders)
        |GROUP BY yr ORDER BY yr""".stripMargin,

    "q_sub_correlated" ->
      """SELECT c_custkey, c_nationkey, c_acctbal FROM customer c
        |WHERE c_acctbal > (
        |  SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
        |  FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)
        |ORDER BY c_custkey""".stripMargin,

    "q_text_langid" ->
      """WITH tok AS (SELECT doc_id, lang, unnest(list_distinct(string_split(text, ' '))) AS token
        |             FROM documents),
        |prof AS (SELECT lang AS p_lang, token AS p_tok, COUNT(*) AS freq FROM tok GROUP BY 1, 2),
        |tot AS (SELECT p_lang, SUM(freq) AS tot FROM prof GROUP BY 1),
        |-- exact-integer freq sum, ONE double division (tot constant per
        |-- p_lang): bit-deterministic, no rounding-tie class (see TextOps)
        |sf AS (SELECT tk.doc_id, tk.lang, pn.p_lang, SUM(pn.freq) AS sf
        |       FROM tok tk JOIN prof pn ON tk.token = pn.p_tok GROUP BY 1, 2, 3),
        |scored AS (SELECT s.doc_id, s.lang, s.p_lang,
        |             CAST(s.sf AS DOUBLE) / CAST(t.tot AS DOUBLE) AS score
        |           FROM sf s JOIN tot t USING (p_lang)),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |        ORDER BY score DESC, p_lang ASC) AS rn FROM scored)
        |SELECT doc_id, lang, p_lang AS pred_lang, score, lang = p_lang AS correct
        |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "q_text_quality" ->
      """WITH tokall AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |stop AS (SELECT token FROM (SELECT token, COUNT(*) AS c FROM tokall GROUP BY 1
        |                            ORDER BY c DESC, token ASC LIMIT 10)),
        |sc AS (SELECT doc_id, COUNT(*) AS stop_cnt FROM tokall
        |       WHERE token IN (SELECT token FROM stop) GROUP BY 1),
        |base AS (SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens,
        |           (SELECT SUM(length(t)) FROM (SELECT UNNEST(string_split(text, ' ')) AS t)) AS tok_chars
        |         FROM documents)
        |SELECT b.doc_id, b.lang, CAST(b.n_tokens AS BIGINT) AS n_tokens,
        |  ROUND(CAST(b.tok_chars AS DOUBLE) / b.n_tokens, 6) AS avg_tok_len,
        |  ROUND(CAST(COALESCE(sc.stop_cnt, 0) AS DOUBLE) / b.n_tokens, 6) AS stop_ratio,
        |  (b.n_tokens BETWEEN 10 AND 1000)
        |    AND (CAST(COALESCE(sc.stop_cnt, 0) AS DOUBLE) / b.n_tokens < 0.5) AS is_quality
        |FROM base b LEFT JOIN sc ON b.doc_id = sc.doc_id ORDER BY b.doc_id""".stripMargin,

    "q_text_token_count" ->
      """SELECT lang,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
        |  CAST(SUM(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]', 0))) AS BIGINT) AS re_tokens,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(SUM(length(text)) AS BIGINT) AS sum_len
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_text_fingerprint" ->
      """SELECT doc_id, lang,
        |  (SELECT MIN(md5(sh)) FROM (SELECT UNNEST(list_transform(
        |     range(1, greatest(length(text)-7, 1)+1, 4),
        |     i -> substr(text, CAST(i AS INT), 8))) AS sh)) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Round 7 (driver). Zipf fit: round-9 ln terms (PSI device) → exact
    // DECIMAL moment sums → the pinned OLS combination.
    "q_text_zipf" ->
      """WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS tok
        |             FROM documents),
        |tf AS (SELECT lang, tok, COUNT(*) AS f FROM tok
        |       WHERE length(tok) > 0 GROUP BY 1, 2),
        |r AS (SELECT lang, tok, f,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY f DESC, tok ASC) AS rnk
        |  FROM tf),
        |t AS (SELECT lang,
        |    CAST(ROUND(ln(CAST(rnk AS DOUBLE)), 9) AS DECIMAL(18,9)) AS lx,
        |    CAST(ROUND(ln(CAST(f AS DOUBLE)), 9) AS DECIMAL(18,9)) AS ly,
        |    CAST(ROUND(ROUND(ln(CAST(rnk AS DOUBLE)), 9)
        |               * ROUND(ln(CAST(rnk AS DOUBLE)), 9), 9) AS DECIMAL(28,9)) AS lxx,
        |    CAST(ROUND(ROUND(ln(CAST(rnk AS DOUBLE)), 9)
        |               * ROUND(ln(CAST(f AS DOUBLE)), 9), 9) AS DECIMAL(28,9)) AS lxy
        |  FROM r WHERE rnk <= 100),
        |a AS (SELECT lang, COUNT(*) AS n_top,
        |    CAST(SUM(lx) AS DOUBLE) AS sx, CAST(SUM(ly) AS DOUBLE) AS sy,
        |    CAST(SUM(lxx) AS DOUBLE) AS sxx, CAST(SUM(lxy) AS DOUBLE) AS sxy
        |  FROM t GROUP BY 1)
        |SELECT lang, n_top,
        |  (CAST(n_top AS DOUBLE) * sxy - sx * sy)
        |    / (CAST(n_top AS DOUBLE) * sxx - sx * sx) AS zipf_slope,
        |  (sy - (CAST(n_top AS DOUBLE) * sxy - sx * sy)
        |    / (CAST(n_top AS DOUBLE) * sxx - sx * sx) * sx)
        |    / CAST(n_top AS DOUBLE) AS intercept
        |FROM a ORDER BY lang""".stripMargin,

    // Round 7 (driver). Winnowing (Schleimer 2003): the full selection
    // replayed — 40-bit md5 gram hashes, (hash asc, pos desc) encoded
    // into one integer key, window-of-4 MIN, exact integer // decode.
    "q_llm_winnowing" ->
      """WITH d AS (SELECT doc_id, lang, text FROM documents
        |           WHERE doc_id % 10 = 0 AND length(text) >= 11),
        |g0 AS (SELECT doc_id, lang, CAST(length(text) - 7 AS BIGINT) AS n_grams,
        |    UNNEST(list_transform(range(1, length(text) - 6),
        |      i -> struct_pack(pos := i,
        |             h := CAST('0x' || substr(md5(substr(text, CAST(i AS INT), 8)), 1, 10)
        |                    AS BIGINT)))) AS u
        |  FROM d),
        |keyed AS (SELECT doc_id, lang, n_grams, CAST(u.pos AS BIGINT) AS pos,
        |    u.h * 2097152 + (2097151 - CAST(u.pos AS BIGINT)) AS key
        |  FROM g0),
        |w AS (SELECT doc_id, lang, n_grams, pos,
        |    MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS winner
        |  FROM keyed),
        |sel AS (SELECT DISTINCT doc_id, lang, winner FROM w
        |        WHERE pos <= n_grams - 3),
        |la AS (SELECT lang, COUNT(*) AS n_docs,
        |    CAST(SUM(length(text) - 7) AS BIGINT) AS n_grams FROM d GROUP BY 1),
        |fp AS (SELECT lang AS lf, COUNT(*) AS n_fp FROM sel GROUP BY 1),
        |hd AS (SELECT DISTINCT lang, winner // 2097152 AS h, doc_id FROM sel),
        |hh AS (SELECT lang, h, COUNT(DISTINCT doc_id) AS nd FROM hd GROUP BY 1, 2),
        |ha AS (SELECT lang AS lh, COUNT(*) AS n_hashes,
        |    CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
        |  FROM hh GROUP BY 1)
        |SELECT la.lang, la.n_docs, la.n_grams, CAST(fp.n_fp AS BIGINT) AS n_fp,
        |  CAST(ha.n_hashes AS BIGINT) AS n_hashes, ha.n_shared,
        |  CAST(fp.n_fp AS DOUBLE) / CAST(la.n_grams AS DOUBLE) AS density
        |FROM la JOIN fp ON la.lang = fp.lf JOIN ha ON la.lang = ha.lh
        |ORDER BY la.lang""".stripMargin,

    "q_llm_ngram_jaccard" ->
      """WITH d AS (SELECT doc_id, lang,
        |             list_distinct(list_transform(range(1, length(text)-1),
        |               i -> substr(text, CAST(i AS INT), 3))) AS g3
        |           FROM documents WHERE doc_id % 10 = 0 AND length(text) >= 3),
        |p AS (SELECT d1.lang, d1.doc_id AS doc_a, d2.doc_id AS doc_b,
        |        CAST(len(list_intersect(d1.g3, d2.g3)) AS DOUBLE)
        |          / (len(d1.g3) + len(d2.g3) - len(list_intersect(d1.g3, d2.g3))) AS jac
        |      FROM d d1 JOIN d d2 ON d1.lang = d2.lang AND d1.doc_id < d2.doc_id)
        |SELECT lang, doc_a, doc_b, ROUND(jac, 6) AS jaccard3,
        |  (SELECT CAST(20000 AS BIGINT) - MAX(c)
        |   FROM (SELECT COUNT(*) AS c FROM documents WHERE doc_id % 10 = 0 GROUP BY lang)) AS exact_guard_margin
        |FROM p WHERE jac >= 0.3 ORDER BY lang, doc_a, doc_b""".stripMargin,

    "q_llm_embed_neardup" ->
      s"""WITH st AS (SELECT GREATEST(1, CAST(CEIL(COUNT(*)
         |      / ${LlmOps.EmbedNeardupSampleTarget}.0) AS BIGINT)) AS step
         |  FROM embeddings),
         |sub AS (SELECT vec_id, embedding FROM embeddings CROSS JOIN st
         |  WHERE vec_id % st.step = 0),
         |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |        ROUND(${cosExpr("a.embedding", "b.embedding")}, 6) AS cos_sim
         |      FROM sub a JOIN sub b ON a.vec_id < b.vec_id)
         |SELECT vec_a, vec_b, cos_sim FROM p
         |WHERE cos_sim >= 0.35 ORDER BY vec_a, vec_b""".stripMargin,

    "q_llm_ann_ivf" ->
      s"""WITH $ivfAssignedCtes,
         |qs AS (SELECT vid AS query_id, cid AS qcid, dv AS qv FROM assigned
         |       WHERE vid BETWEEN 20 AND 24),
         |cand AS (SELECT q.query_id, a.vid AS neighbor_id,
         |           ROUND(${cosExpr("q.qv", "a.dv")}, 6) AS cos_sim
         |         FROM qs q JOIN assigned a ON q.qcid = a.cid AND q.query_id <> a.vid),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |        ORDER BY cos_sim DESC, neighbor_id ASC) AS rnk FROM cand)
         |SELECT query_id, neighbor_id, cos_sim, rnk
         |FROM r WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin,

    // Hashing-trick vectorizer: md5 60-bit family keys bucket and sign;
    // all-integer accounting (no sqrt — L2 stays squared).
    "q_llm_feature_hash" ->
      s"""WITH t AS (SELECT doc_id, lang, UNNEST(string_split(text, ' ')) AS tok
         |  FROM documents),
         |sg AS (SELECT doc_id, lang,
         |    CAST('0x' || substr(md5('fh:' || tok), 1, 15) AS BIGINT)
         |      % ${LlmOps.FeatureHashDims} AS dim,
         |    CASE WHEN CAST('0x' || substr(md5('fs:' || tok), 1, 15) AS BIGINT)
         |      % 2 = 0 THEN 1 ELSE -1 END AS sgn
         |  FROM t WHERE len(tok) > 0),
         |dims AS (SELECT doc_id, lang, dim, CAST(SUM(sgn) AS BIGINT) AS v
         |  FROM sg GROUP BY 1, 2, 3 HAVING SUM(sgn) <> 0)
         |SELECT doc_id, lang, COUNT(*) AS nnz,
         |  CAST(SUM(ABS(v)) AS BIGINT) AS l1,
         |  CAST(SUM(v * v) AS BIGINT) AS l2_sq
         |FROM dims GROUP BY 1, 2 ORDER BY doc_id""".stripMargin,

    // Recall@3 of the cell-scoped IVF search vs the exact brute-force
    // ranking — same round-6 cosine + id tie-breaks on both sides, so
    // the intersection count is exact.
    "q_llm_ann_recall" ->
      s"""WITH $ivfAssignedCtes,
         |qs AS (SELECT vid AS query_id, cid AS qcid, dv AS qv FROM assigned
         |       WHERE vid BETWEEN 20 AND 24),
         |icand AS (SELECT q.query_id, a.vid AS neighbor_id,
         |            ROUND(${cosExpr("q.qv", "a.dv")}, 6) AS cos_sim
         |          FROM qs q JOIN assigned a ON q.qcid = a.cid AND q.query_id <> a.vid),
         |ir AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |         ORDER BY cos_sim DESC, neighbor_id ASC) AS rnk FROM icand),
         |ivf AS (SELECT query_id, neighbor_id FROM ir WHERE rnk <= 3),
         |ecand AS (SELECT q.query_id, d.vid AS neighbor_id,
         |            ROUND(${cosExpr("q.qv", "d.dv")}, 6) AS cos_sim
         |          FROM qs q JOIN data d ON q.query_id <> d.vid),
         |er AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |         ORDER BY cos_sim DESC, neighbor_id ASC) AS rnk FROM ecand),
         |ex AS (SELECT query_id, neighbor_id FROM er WHERE rnk <= 3),
         |agg AS (SELECT e.query_id,
         |    CAST(SUM(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_hits
         |  FROM ex e LEFT JOIN ivf i
         |    ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
         |  GROUP BY 1)
         |SELECT query_id, n_hits,
         |  CAST(n_hits AS DOUBLE) / CAST(3 AS DOUBLE) AS recall_at_3
         |FROM agg ORDER BY query_id""".stripMargin,

    // Multi-probe IVF operating curve (r16): per query the nlist
    // centroids rank by rounded cosine; width np scans the np nearest
    // cells; recall@3 vs the exact ranking per width in NProbes.
    "q_llm_ann_nprobe" ->
      s"""WITH $ivfAssignedCtes,
         |qs AS (SELECT vid AS query_id, dv AS qv FROM assigned
         |       WHERE vid BETWEEN 20 AND 24),
         |qc AS (SELECT q.query_id, c.cid,
         |         ROUND(${cosExpr("q.qv", "c.cv")}, 6) AS ccos
         |       FROM qs q CROSS JOIN cents c),
         |qr AS (SELECT query_id, cid, ROW_NUMBER() OVER (PARTITION BY query_id
         |         ORDER BY ccos DESC, cid ASC) AS cell_rank FROM qc),
         |qcells AS (SELECT query_id AS cq, cid AS ccid, cell_rank FROM qr
         |       WHERE cell_rank <= ${LlmOps.NProbes.max}),
         |cand AS (SELECT q.query_id, a.vid AS neighbor_id,
         |           ROUND(${cosExpr("q.qv", "a.dv")}, 6) AS cos_sim, k.cell_rank
         |         FROM assigned a JOIN qcells k ON a.cid = k.ccid
         |         JOIN qs q ON q.query_id = k.cq AND a.vid <> q.query_id),
         |nps AS (SELECT UNNEST(${LlmOps.NProbes.mkString("[", ", ", "]")}) AS np),
         |it AS (SELECT np, query_id, neighbor_id FROM (
         |    SELECT n.np, c.query_id, c.neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY n.np, c.query_id
         |        ORDER BY c.cos_sim DESC, c.neighbor_id ASC) AS rnk
         |    FROM cand c JOIN nps n ON c.cell_rank <= n.np) WHERE rnk <= 3),
         |ex AS (SELECT query_id, neighbor_id FROM (
         |    SELECT q.query_id, d.vid AS neighbor_id,
         |      ROUND(${cosExpr("q.qv", "d.dv")}, 6) AS cos_sim,
         |      ROW_NUMBER() OVER (PARTITION BY q.query_id
         |        ORDER BY ROUND(${cosExpr("q.qv", "d.dv")}, 6) DESC, d.vid ASC) AS rnk
         |    FROM qs q JOIN data d ON q.query_id <> d.vid) WHERE rnk <= 3),
         |agg AS (SELECT n.np,
         |    CAST(COUNT(DISTINCT e.query_id) AS BIGINT) AS n_queries,
         |    CAST(SUM(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_hits
         |  FROM ex e CROSS JOIN nps n
         |  LEFT JOIN it i ON i.np = n.np AND i.query_id = e.query_id
         |    AND i.neighbor_id = e.neighbor_id
         |  GROUP BY 1)
         |SELECT CAST(np AS BIGINT) AS nprobe, n_queries, n_hits,
         |  ROUND(CAST(n_hits AS DOUBLE) / CAST(3 * n_queries AS DOUBLE), 6)
         |    AS recall_at_3
         |FROM agg ORDER BY nprobe""".stripMargin,

    // Recall CURVE: the ann_recall chain ranked to depth 10 once, then
    // each k of the 3-row spine aggregates the same matched table.
    "q_llm_ann_recall_curve" ->
      s"""WITH $ivfAssignedCtes,
         |qs AS (SELECT vid AS query_id, cid AS qcid, dv AS qv FROM assigned
         |       WHERE vid BETWEEN 20 AND 24),
         |icand AS (SELECT q.query_id, a.vid AS neighbor_id,
         |            ROUND(${cosExpr("q.qv", "a.dv")}, 6) AS cos_sim
         |          FROM qs q JOIN assigned a ON q.qcid = a.cid AND q.query_id <> a.vid),
         |ir AS (SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS irnk
         |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |         ORDER BY cos_sim DESC, neighbor_id ASC) AS rnk FROM icand)
         |  WHERE rnk <= 10),
         |ecand AS (SELECT q.query_id, d.vid AS neighbor_id,
         |            ROUND(${cosExpr("q.qv", "d.dv")}, 6) AS cos_sim
         |          FROM qs q JOIN data d ON q.query_id <> d.vid),
         |er AS (SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS ernk
         |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |         ORDER BY cos_sim DESC, neighbor_id ASC) AS rnk FROM ecand)
         |  WHERE rnk <= 10),
         |m AS (SELECT e.query_id, e.ernk, i.irnk
         |  FROM er e LEFT JOIN ir i
         |    ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id),
         |ks AS (SELECT UNNEST(${LlmOps.RecallKs.mkString("[", ", ", "]")}) AS k),
         |agg AS (SELECT k.k, CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries,
         |    CAST(SUM(CASE WHEN irnk IS NOT NULL AND irnk <= k.k
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
         |  FROM m CROSS JOIN ks k WHERE ernk <= k.k GROUP BY 1)
         |SELECT CAST(k AS BIGINT) AS k, n_queries, n_hits,
         |  ROUND(CAST(n_hits AS DOUBLE) / CAST(k * n_queries AS DOUBLE), 6)
         |    AS recall
         |FROM agg ORDER BY k""".stripMargin,

    // The decode stub is a pure function of the source text (UTF-8,
    // all-ASCII verified): width = ascii(first char)+1, bytes = length.
    // Relational pHash replay: block bit = exact integer cross-product
    // (block-sum·len > total·block-count); the 64-bit fingerprint is an
    // ordered bit STRING (2^63 would overflow signed BIGINT).
    "q_mm_phash" ->
      s"""WITH m AS (SELECT doc_id AS media_id,
         |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
         |      WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         |    text AS txt, CAST(len(text) AS BIGINT) AS len FROM documents),
         |chars AS (SELECT media_id, kind, len,
         |    ((u.i - 1) * ${Multimodal.PhashBlocks}) // len AS blk,
         |    CAST(ord(substr(txt, CAST(u.i AS INT), 1)) AS BIGINT) AS v
         |  FROM m, UNNEST(range(1, len + 1)) AS u(i)),
         |blocks AS (SELECT media_id, kind, len, blk, COUNT(*) AS cnt,
         |    CAST(SUM(v) AS BIGINT) AS sb
         |  FROM chars GROUP BY 1, 2, 3, 4),
         |totals AS (SELECT media_id AS tid, CAST(SUM(sb) AS BIGINT) AS stot
         |  FROM blocks GROUP BY 1),
         |spine AS (SELECT media_id, kind, len, u.blk
         |  FROM m, UNNEST(range(0, ${Multimodal.PhashBlocks})) AS u(blk)),
         |bits AS (SELECT s.media_id, s.kind, s.blk,
         |    CASE WHEN COALESCE(b.sb, 0) * s.len > t.stot * COALESCE(b.cnt, 0)
         |      THEN '1' ELSE '0' END AS bit
         |  FROM spine s
         |  LEFT JOIN blocks b ON s.media_id = b.media_id AND s.blk = b.blk
         |  JOIN totals t ON s.media_id = t.tid),
         |hashes AS (SELECT media_id, kind,
         |    STRING_AGG(bit, '' ORDER BY blk) AS phash
         |  FROM bits GROUP BY 1, 2),
         |buckets AS (SELECT kind, phash, COUNT(*) AS sz FROM hashes GROUP BY 1, 2)
         |SELECT kind, CAST(SUM(sz) AS BIGINT) AS n_media, COUNT(*) AS n_hashes,
         |  CAST(MAX(sz) AS BIGINT) AS max_bucket,
         |  CAST(SUM(sz * (sz - 1) // 2) AS BIGINT) AS n_dup_pairs
         |FROM buckets GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_mm_decode" ->
      """SELECT CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |            WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |  COUNT(*) AS n_media,
        |  CAST(SUM(ascii(substr(text, 1, 1)) + 1) AS BIGINT) AS width_sum,
        |  CAST(SUM(length(text)) AS BIGINT) AS bytes_sum
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    // Real-PNG round trip: dims from the first two payload bytes
    // (w = b0%24+8, h = b1%16+8), pixel (y,x) = byte (y*w+x) mod len —
    // the oracle replays the pixel grid from the (verified all-ASCII)
    // text via a bounded spine join (max w*h = 31*23 = 713 < 768), so a
    // divergence anywhere in the PNG encode→decode pipeline breaks the
    // exact px_sum compare.
    "q_mm_decode_real" ->
      """WITH imgs AS (
        |  SELECT doc_id AS media_id, text, length(text) AS len,
        |    (ascii(substr(text, 1, 1)) % 24) + 8 AS w,
        |    ((CASE WHEN length(text) > 1 THEN ascii(substr(text, 2, 1))
        |           ELSE 0 END) % 16) + 8 AS h
        |  FROM documents
        |  WHERE CAST(doc_id % 3 AS INT) = 0 AND length(text) > 0),
        |spine AS (SELECT i FROM range(0, 768) t(i)),
        |px AS (
        |  SELECT m.media_id, m.w, m.h,
        |    ascii(substr(m.text, CAST(s.i % m.len AS INT) + 1, 1)) AS v
        |  FROM imgs m JOIN spine s ON s.i < m.w * m.h),
        |per AS (SELECT media_id, w, h, SUM(v) AS px_sum FROM px GROUP BY 1, 2, 3)
        |SELECT CAST(w AS INT) AS width, COUNT(*) AS n_images,
        |  CAST(SUM(h) AS BIGINT) AS height_sum,
        |  CAST(SUM(px_sum) AS BIGINT) AS px_sum
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin,

    // Real WAV path: sample count from the first payload byte, 16-bit
    // sample i = (byte(i mod len) − 128)·256 — replayed from the text
    // via the same bounded-spine device as the PNG pixel grid. The
    // container round trip is lossless, so the integer sums must match
    // bit for bit.
    "q_mm_audio_real" ->
      """WITH clips AS (
        |  SELECT doc_id AS media_id, text, length(text) AS len,
        |    (ascii(substr(text, 1, 1)) % 384) + 128 AS n
        |  FROM documents
        |  WHERE CAST(doc_id % 3 AS INT) = 1 AND length(text) > 0),
        |spine AS (SELECT i FROM range(0, 512) t(i)),
        |smp AS (
        |  SELECT c.media_id, c.n,
        |    (ascii(substr(c.text, CAST(s.i % c.len AS INT) + 1, 1)) - 128) * 256 AS v
        |  FROM clips c JOIN spine s ON s.i < c.n),
        |per AS (SELECT media_id, n, SUM(v) AS ssum FROM smp GROUP BY 1, 2)
        |SELECT CAST(n // 16 AS INT) AS duration_bucket, COUNT(*) AS n_clips,
        |  CAST(SUM(n) AS BIGINT) AS samples_sum,
        |  CAST(SUM(ssum) AS BIGINT) AS sample_sum
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin,

    // Real animated-GIF path: 4 frames per video, frame f pixel
    // (y,x) = byte (f·w·h + y·w + x) mod len — the PNG grid replay with
    // a frame axis. Grayscale→256-palette is lossless, so the per-frame
    // pixel sums must match bit for bit.
    "q_mm_video_real" ->
      """WITH vids AS (
        |  SELECT doc_id AS media_id, text, length(text) AS len,
        |    (ascii(substr(text, 1, 1)) % 24) + 8 AS w,
        |    ((CASE WHEN length(text) > 1 THEN ascii(substr(text, 2, 1))
        |           ELSE 0 END) % 16) + 8 AS h
        |  FROM documents
        |  WHERE CAST(doc_id % 3 AS INT) = 2 AND length(text) > 0),
        |spine AS (SELECT i FROM range(0, 3072) t(i)),
        |px AS (
        |  SELECT m.media_id, m.w, CAST(s.i // (m.w * m.h) AS INT) AS f,
        |    ascii(substr(m.text, CAST(s.i % m.len AS INT) + 1, 1)) AS v
        |  FROM vids m JOIN spine s ON s.i < 4 * m.w * m.h),
        |per AS (SELECT media_id, w, f, SUM(v) AS px_sum FROM px GROUP BY 1, 2, 3)
        |SELECT CAST(f AS INT) AS frame_idx, COUNT(*) AS n_videos,
        |  CAST(SUM(w) AS BIGINT) AS width_sum,
        |  CAST(SUM(px_sum) AS BIGINT) AS px_sum
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin
  )

  /** §2.11 — GNN forward layers: the seeded 64×64 matmul unrolled into
    * generated SQL (Gnn.weight/bias are the single source of truth).
    * The left-associated `+` chain reproduces the Scala accumulator's
    * sequential add order exactly; AVG vs the loop's sum/n differ only
    * in float summation order, absorbed by the 6dp rounding. */
  private def matmulExpr(i: Int, srcPrefix: String): String =
    (0 until Gnn.Dim).map { j =>
      s"(CAST(${(i * 31 + j * 17) % 7 - 3} AS DOUBLE)/10)*$srcPrefix${j + 1}"
    }.mkString(" + ") + s" + CAST(${i % 5 - 2} AS DOUBLE)/10"

  private def relu(c: String): String =
    s"CASE WHEN $c > 0 THEN $c ELSE CAST(0 AS DOUBLE) END"

  /** The Gnn.q9 quantizer in SQL — multiply/add/floor/ceil are each
    * correctly-rounded IEEE ops, so the longs are bit-identical to the
    * JVM twin by construction. */
  private def q9Sql(e: String): String =
    s"CAST(CASE WHEN $e >= 0 THEN FLOOR($e * 1e9 + 0.5)" +
      s" ELSE CEIL($e * 1e9 - 0.5) END AS BIGINT)"

  /** Quantized-chain CTEs for the layer-family full-width digest (r16):
    * exact integer means of q9-quantized part embeddings + base-weight
    * matmul — the layer_k device with l = 0 weights. Emits `qmm`
    * (per-customer quantized means qm1..qm64). */
  private val quantMeanCtes: String = {
    val sums = (1 to Gnn.Dim).map(j =>
      s"CAST(SUM(${q9Sql(s"CAST(emb.embedding[$j] AS DOUBLE)")}) AS BIGINT) AS s$j")
      .mkString(", ")
    val means = (1 to Gnn.Dim).map(j =>
      s"CAST(s$j AS DOUBLE) / CAST(cnt AS DOUBLE) / 1e9 AS qm$j").mkString(", ")
    s"""qm AS (SELECT e.src AS qk, $sums, COUNT(*) AS cnt
       |      FROM edges e CROSS JOIN n
       |      JOIN embeddings emb ON emb.vec_id = e.dst % n.c
       |      GROUP BY 1),
       |qmm AS (SELECT qk, $means FROM qm)""".stripMargin
  }

  /** Σ_{i=1..64} i·q9(col_i) — the digest expression over a named
    * 64-column vector. */
  private def digest64Sql(pre: String): String =
    s"CAST(${(1 to Gnn.Dim).map(i => s"$i * ${q9Sql(s"$pre$i")}").mkString(" + ")} AS BIGINT)"

  /** Layer-seeded matmul chain (q_gnn_layer_k): same term order as
    * Gnn.forwardK — j-ascending left-associative, bias last. */
  private def matmulExprK(l: Int, i: Int, srcPrefix: String): String =
    (0 until Gnn.Dim).map { j =>
      s"(CAST(${(i * 31 + j * 17 + l * 13) % 7 - 3} AS DOUBLE)/10)*$srcPrefix${j + 1}"
    }.mkString(" + ") + s" + CAST(${(i + l) % 5 - 2} AS DOUBLE)/10"

  private val meanCte: String = {
    val avgs = (1 to Gnn.Dim)
      .map(j => s"AVG(CAST(emb.embedding[$j] AS DOUBLE)) AS m$j").mkString(", ")
    s"""n AS (SELECT COUNT(*) AS c FROM embeddings),
       |m AS (SELECT e.src AS custkey, $avgs
       |      FROM edges e CROSS JOIN n
       |      JOIN embeddings emb ON emb.vec_id = e.dst % n.c
       |      GROUP BY 1)""".stripMargin
  }

  val gnn: Map[String, String] = Map(
    // messages → exact 1e9-scaled BIGINT sums (order-blind), mirroring
    // the Spark aggregation term-for-term on the identical double product
    "q_gnn_gcn_norm" -> {
      val ds = (1 to 4).map(j =>
        s"ROUND(CAST(SUM(CAST(ROUND(CAST(embedding[$j] AS DOUBLE) / SQRT(CAST(dc.dc * dp.dp AS DOUBLE)) * 1e9, 0) AS BIGINT)) AS DOUBLE) / 1000, 0) / 1e6 AS d$j")
        .mkString(", ")
      s"""WITH $edgesCte,
         |n AS (SELECT COUNT(*) AS c FROM embeddings),
         |dc AS (SELECT src, COUNT(*) AS dc FROM edges GROUP BY 1),
         |dp AS (SELECT dst, COUNT(*) AS dp FROM edges GROUP BY 1)
         |SELECT e.src AS custkey, $ds
         |FROM edges e CROSS JOIN n
         |JOIN embeddings emb ON emb.vec_id = e.dst % n.c
         |JOIN dc ON e.src = dc.src
         |JOIN dp ON e.dst = dp.dst
         |GROUP BY 1 ORDER BY 1""".stripMargin
    },

    "q_gnn_layer" -> {
      val hr = (0 until 4).map(i => s"${matmulExpr(i, "m")} AS h${i + 1}r").mkString(", ")
      val out = (0 until 4).map(i => s"ROUND(${relu(s"h${i + 1}r")}, 6) AS h${i + 1}").mkString(", ")
      // full-width digest over the PARALLEL quantized chain (r16): the
      // displayed dims keep the raw-AVG twin; the digest certifies all
      // 64 dims of the bit-identical quantized pass
      val hq = (0 until Gnn.Dim).map(i =>
        s"${relu(matmulExpr(i, "qm"))} AS q${i + 1}").mkString(", ")
      s"""WITH $edgesCte,
         |$meanCte,
         |$quantMeanCtes,
         |hq AS (SELECT qk, $hq FROM qmm),
         |dg AS (SELECT qk, ${digest64Sql("q")} AS hdigest FROM hq),
         |h AS (SELECT custkey, $hr FROM m)
         |SELECT custkey, $out, dg.hdigest
         |FROM h JOIN dg ON h.custkey = dg.qk ORDER BY custkey""".stripMargin
    },

    "q_gnn_layer2" -> {
      val hr = (0 until Gnn.Dim).map(i => s"${matmulExpr(i, "m")} AS r${i + 1}").mkString(", ")
      val h64 = (0 until Gnn.Dim).map(i => s"${relu(s"r${i + 1}")} AS h${i + 1}").mkString(", ")
      val gAvgs = (1 to Gnn.Dim).map(j => s"AVG(h$j) AS gm$j").mkString(", ")
      val gr = (0 until 4).map(i => s"${matmulExpr(i, "gm")} AS g${i + 1}r").mkString(", ")
      val out = (0 until 4).map(i => s"ROUND(${relu(s"g${i + 1}r")}, 6) AS g${i + 1}").mkString(", ")
      // digest chain (r16): layer-1 quantized pass, messages q9'd at
      // the superstep boundary, exact integer means, layer-2 pass —
      // the layer_k device at depth 2 with the base weights
      val hq1 = (0 until Gnn.Dim).map(i =>
        s"${q9Sql(relu(matmulExpr(i, "qm")))} AS t${i + 1}").mkString(", ")
      val qgm = (1 to Gnn.Dim).map(j =>
        s"CAST(SUM(t$j) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1e9 AS u$j")
        .mkString(", ")
      val hq2 = (0 until Gnn.Dim).map(i =>
        s"${relu(matmulExpr(i, "u"))} AS v${i + 1}").mkString(", ")
      s"""WITH $edgesCte,
         |$meanCte,
         |$quantMeanCtes,
         |q1 AS (SELECT qk, $hq1 FROM qmm),
         |qg AS (SELECT e.dst AS pk, $qgm
         |       FROM edges e JOIN q1 ON e.src = q1.qk GROUP BY 1),
         |hq2 AS (SELECT pk, $hq2 FROM qg),
         |dg AS (SELECT pk, ${digest64Sql("v")} AS hdigest FROM hq2),
         |hraw AS (SELECT custkey, $hr FROM m),
         |h64 AS (SELECT custkey, $h64 FROM hraw),
         |g AS (SELECT e.dst AS part_key, $gAvgs
         |      FROM edges e JOIN h64 ON e.src = h64.custkey
         |      GROUP BY 1),
         |g2 AS (SELECT part_key, $gr FROM g)
         |SELECT part_key, $out, dg.hdigest
         |FROM g2 JOIN dg ON g2.part_key = dg.pk ORDER BY part_key""".stripMargin
    },

    // K=3 stack: the full chained-matmul SQL generated from the SAME
    // weightK/biasK formulas; every superstep boundary quantizes the
    // means to 1e9-scaled BIGINT sums (the gcn_norm device), so the
    // chain is bit-identical across engines at any depth — no AVG-order
    // last-ulp drift to absorb.
    "q_gnn_layer_k" -> {
      // quantizer mirrors Gnn.quant bit-for-bit: multiply/add/floor are
      // each correctly-rounded IEEE ops, identical in both engines
      def q9(e: String): String =
        s"CAST(CASE WHEN $e >= 0 THEN FLOOR($e * 1e9 + 0.5)" +
          s" ELSE CEIL($e * 1e9 - 0.5) END AS BIGINT)"
      def meanOf(h: Int => String): String = (1 to Gnn.Dim).map(j =>
        s"CAST(SUM(${q9(h(j))}) AS DOUBLE)" +
          s" / CAST(COUNT(*) AS DOUBLE) / 1e9 AS m$j").mkString(", ")
      def layer(l: Int, upto: Int): String = (0 until upto).map(i =>
        s"${relu(matmulExprK(l, i, "m"))} AS h${i + 1}").mkString(", ")
      s"""WITH $edgesCte,
         |n AS (SELECT COUNT(*) AS c FROM embeddings),
         |m1 AS (SELECT e.src AS node,
         |         ${meanOf(j => s"CAST(emb.embedding[$j] AS DOUBLE)")}
         |       FROM edges e CROSS JOIN n
         |       JOIN embeddings emb ON emb.vec_id = e.dst % n.c
         |       GROUP BY 1),
         |h1 AS (SELECT node, ${layer(1, Gnn.Dim)} FROM m1),
         |m2 AS (SELECT e.dst AS node, ${meanOf(j => s"h1.h$j")}
         |       FROM edges e JOIN h1 ON e.src = h1.node GROUP BY 1),
         |h2 AS (SELECT node, ${layer(2, Gnn.Dim)} FROM m2),
         |m3 AS (SELECT e.src AS node, ${meanOf(j => s"h2.h$j")}
         |       FROM edges e JOIN h2 ON e.dst = h2.node GROUP BY 1),
         |h3 AS (SELECT node AS custkey, ${layer(3, Gnn.Dim)} FROM m3)
         |SELECT custkey, ROUND(h1, 6) AS k1, ROUND(h2, 6) AS k2,
         |       ROUND(h3, 6) AS k3, ROUND(h4, 6) AS k4,
         |       CAST(${(1 to Gnn.Dim).map(i => s"$i * ${q9(s"h$i")}")
            .mkString(" + ")} AS BIGINT) AS hdigest
         |FROM h3 ORDER BY custkey""".stripMargin
    },

    // Streaming twin of q_gnn_layer2: the chained keyed-state maintainer's
    // final snapshot must equal the batch 2-layer math; only the per-part
    // neighbor count is additionally surfaced. Layer 2 averages exact Long
    // sums of h·1e12 (StreamingGnn.L2Scale) where this SQL takes the f64
    // AVG of h; the two means differ by at most one 1e-12 rounding step per
    // lane, absorbed by the 6dp rounding (no row flipped at sf0.001, sf0.01
    // or sf0.1, where a 1e9 scale flipped some).
    "q_stream_gnn_layer2" -> {
      val hr = (0 until Gnn.Dim).map(i => s"${matmulExpr(i, "m")} AS r${i + 1}").mkString(", ")
      val h64 = (0 until Gnn.Dim).map(i => s"${relu(s"r${i + 1}")} AS h${i + 1}").mkString(", ")
      val gAvgs = (1 to Gnn.Dim).map(j => s"AVG(h$j) AS gm$j").mkString(", ")
      val gr = (0 until 4).map(i => s"${matmulExpr(i, "gm")} AS g${i + 1}r").mkString(", ")
      val out = (0 until 4).map(i => s"ROUND(${relu(s"g${i + 1}r")}, 6) AS g${i + 1}").mkString(", ")
      s"""WITH $edgesCte,
         |$meanCte,
         |hraw AS (SELECT custkey, $hr FROM m),
         |h64 AS (SELECT custkey, $h64 FROM hraw),
         |g AS (SELECT e.dst AS part_key, COUNT(*) AS n_custs, $gAvgs
         |      FROM edges e JOIN h64 ON e.src = h64.custkey
         |      GROUP BY 1),
         |g2 AS (SELECT part_key, n_custs, $gr FROM g)
         |SELECT part_key, n_custs, $out FROM g2 ORDER BY part_key""".stripMargin
    }
  )

  /** §2.11 cont. — GNN training-prep ops (deterministic md5 sampling +
    * two-pass feature standardization). */
  val gnnPrep: Map[String, String] = Map(
    "q_gnn_neg_sampling" ->
      s"""WITH $edgesCte,
         |np AS (SELECT COUNT(*) AS np FROM part),
         |negs AS (SELECT src,
         |  CAST('0x' || substr(md5(CAST(src AS VARCHAR) || ':' ||
         |    CAST(dst AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 15) AS BIGINT)
         |    % np AS neg
         |  FROM edges CROSS JOIN np,
         |    UNNEST([${(0 until Gnn.NegK).mkString(", ")}]) AS u(i)),
         |fn AS (SELECT n.src, COUNT(*) AS fn FROM negs n
         |       JOIN edges e ON n.src = e.src AND n.neg = e.dst GROUP BY 1),
         |pos AS (SELECT src, COUNT(*) AS n_pos FROM edges GROUP BY 1)
         |SELECT pos.src AS custkey, n_pos, n_pos * ${Gnn.NegK} AS n_neg,
         |  COALESCE(fn, 0) AS n_false_neg
         |FROM pos LEFT JOIN fn ON pos.src = fn.src ORDER BY 1""".stripMargin,

    // One full-batch logistic gradient step. Mirrors the Spark query's
    // arithmetic step for step: round-6 neighborhood means, fixed-order
    // 4-term score fold, round-9 sigmoid residual, exact 1e9-scaled
    // BIGINT loss/gradient sums (order-blind, both engines round the
    // same IEEE product), pinned-order weight update.
    "q_gnn_sgd_step" -> {
      val w = (1 to 4).map(j => s"(CAST(${(j - 1) * 17 % 7 - 3} AS DOUBLE)/10)")
      val sFold = (2 to 4).foldLeft(s"${w(0)}*f1")((acc, j) => s"$acc + ${w(j - 1)}*f$j")
      val sig = s"1/(1+exp(-($sFold)))"
      val mAvgs = (1 to 4)
        .map(j => s"ROUND(AVG(CAST(emb.embedding[$j] AS DOUBLE)), 6) AS m$j").mkString(", ")
      val feats = (1 to 4).map(j => s"m.m$j * CAST(emb.embedding[$j] AS DOUBLE) AS f$j").mkString(", ")
      val grads = (1 to 4)
        .map(j => s"SUM(CAST(ROUND(resid*f$j*1e9, 0) AS BIGINT)) AS g$j").mkString(", ")
      val wNew = (1 to 4)
        .map(j => s"ROUND(${w(j - 1)} - (CAST(1 AS DOUBLE)/10) * (CAST(g$j AS DOUBLE) / 1e9 / n_ex), 6) AS w${j}_new")
        .mkString(", ")
      s"""WITH $edgesCte,
         |ne AS (SELECT COUNT(*) AS c FROM embeddings),
         |np AS (SELECT COUNT(*) AS np FROM part),
         |m AS (SELECT e.src AS cust, $mAvgs
         |      FROM edges e CROSS JOIN ne
         |      JOIN embeddings emb ON emb.vec_id = e.dst % ne.c
         |      GROUP BY 1),
         |pos AS (SELECT src, dst AS p, CAST(1 AS DOUBLE) AS y FROM edges),
         |negraw AS (SELECT src,
         |  CAST('0x' || substr(md5(CAST(src AS VARCHAR) || ':' ||
         |    CAST(dst AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 15) AS BIGINT)
         |    % np AS p
         |  FROM edges CROSS JOIN np,
         |    UNNEST([${(0 until Gnn.NegK).mkString(", ")}]) AS u(i)),
         |neg AS (SELECT n.src, n.p, CAST(0 AS DOUBLE) AS y FROM negraw n
         |        WHERE NOT EXISTS (SELECT 1 FROM edges e
         |                          WHERE e.src = n.src AND e.dst = n.p)),
         |ex AS (SELECT * FROM pos UNION ALL SELECT * FROM neg),
         |feat AS (SELECT ex.y, $feats
         |         FROM ex CROSS JOIN ne
         |         JOIN embeddings emb ON emb.vec_id = ex.p % ne.c
         |         JOIN m ON m.cust = ex.src),
         |sc AS (SELECT y, f1, f2, f3, f4,
         |         ROUND($sig - y, 9) AS resid,
         |         CAST(ROUND(-(y*ln($sig) + (1-y)*ln(1 - $sig)) * 1e9, 0) AS BIGINT) AS lossr9
         |       FROM feat),
         |agg AS (SELECT
         |  CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         |  CAST(SUM(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
         |  COUNT(*) AS n_ex,
         |  SUM(lossr9) AS losssum,
         |  $grads
         |FROM sc)
         |SELECT n_pos, n_neg,
         |  ROUND(CAST(losssum AS DOUBLE) / 1e9 / n_ex, 6) AS mean_loss,
         |  $wNew
         |FROM agg""".stripMargin
    },

    // Softmax attention in SQL: the dot is SUM over UNNEST (same device
    // cosExpr uses — FP order differs from the codegen'd loop only in
    // the last ulp, absorbed by the 6dp rounding).
    "q_gnn_attention" -> {
      val dot =
        """(SELECT SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
          |   FROM (SELECT UNNEST(f.embedding) AS x, UNNEST(q.qv) AS y) zd)""".stripMargin
      s"""WITH $edgesCte,
         |n AS (SELECT COUNT(*) AS c FROM embeddings),
         |f AS (SELECT e.src, emb.embedding
         |      FROM edges e CROSS JOIN n
         |      JOIN embeddings emb ON emb.vec_id = e.dst % n.c),
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |sc AS (SELECT f.src, f.embedding, $dot / 8 AS score FROM f CROSS JOIN q),
         |st AS (SELECT src, embedding,
         |         CAST(ROUND(exp(score - MAX(score) OVER (PARTITION BY src)) * 1e9, 0) AS BIGINT) AS wexp9 FROM sc),
         |wn AS (SELECT src, embedding,
         |         CAST(wexp9 AS DOUBLE) / CAST(SUM(wexp9)
         |                       OVER (PARTITION BY src) AS DOUBLE) AS w FROM st)
         |SELECT src AS custkey,
         |  ROUND(CAST(SUM(CAST(ROUND(w * CAST(embedding[1] AS DOUBLE) * 1e9, 0) AS BIGINT)) AS DOUBLE) / 1000, 0) / 1e6 AS a1,
         |  ROUND(CAST(SUM(CAST(ROUND(w * CAST(embedding[2] AS DOUBLE) * 1e9, 0) AS BIGINT)) AS DOUBLE) / 1000, 0) / 1e6 AS a2,
         |  ROUND(CAST(SUM(CAST(ROUND(w * CAST(embedding[3] AS DOUBLE) * 1e9, 0) AS BIGINT)) AS DOUBLE) / 1000, 0) / 1e6 AS a3,
         |  ROUND(CAST(SUM(CAST(ROUND(w * CAST(embedding[4] AS DOUBLE) * 1e9, 0) AS BIGINT)) AS DOUBLE) / 1000, 0) / 1e6 AS a4,
         |  CAST(${(1 to Gnn.Dim).map(i =>
             s"$i * SUM(CAST(ROUND(w * CAST(embedding[$i] AS DOUBLE) * 1e9, 0) AS BIGINT))")
             .mkString(" + ")} AS BIGINT) AS hdigest
         |FROM wn GROUP BY 1 ORDER BY 1""".stripMargin
    },

    "q_gnn_sampled_mean" ->
      s"""WITH $edgesCte,
         |h AS (SELECT src, dst,
         |  CAST('0x' || substr(md5(CAST(src AS VARCHAR) || ':' || CAST(dst AS VARCHAR)), 1, 15) AS BIGINT) AS h
         |  FROM edges),
         |r AS (SELECT src, dst,
         |  ROW_NUMBER() OVER (PARTITION BY src ORDER BY h ASC, dst ASC) AS rn FROM h),
         |n AS (SELECT COUNT(*) AS c FROM embeddings),
         |f AS (SELECT r.src AS custkey, emb.embedding
         |      FROM r CROSS JOIN n
         |      JOIN embeddings emb ON emb.vec_id = r.dst % n.c
         |      WHERE r.rn <= ${Gnn.SampleK})
         |SELECT custkey, COUNT(*) AS n_sampled,
         |  ROUND(AVG(CAST(embedding[1] AS DOUBLE)), 6) AS d1,
         |  ROUND(AVG(CAST(embedding[2] AS DOUBLE)), 6) AS d2,
         |  ROUND(AVG(CAST(embedding[3] AS DOUBLE)), 6) AS d3,
         |  ROUND(AVG(CAST(embedding[4] AS DOUBLE)), 6) AS d4
         |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_embed_zscore" -> {
      val stats = (1 to 4).flatMap(j => Seq(
        s"AVG(CAST(embedding[$j] AS DOUBLE)) AS m$j",
        s"STDDEV_SAMP(CAST(embedding[$j] AS DOUBLE)) AS s$j")).mkString(", ")
      val zs = (1 to 4).map(j =>
        s"ROUND((CAST(embedding[$j] AS DOUBLE) - m$j) / NULLIF(s$j, 0), 6) AS z$j").mkString(", ")
      s"""WITH st AS (SELECT $stats FROM embeddings)
         |SELECT vec_id, $zs FROM embeddings CROSS JOIN st ORDER BY vec_id""".stripMargin
    }
  )

  /** §2.12 — training-data pipeline ops (PipelineOps.scala). */
  val pipeline: Map[String, String] = Map(
    "q_llm_gopher_repetition" ->
      s"""WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
         |base AS (SELECT doc_id, lang, len(toks) AS nt FROM d),
         |uni AS (SELECT doc_id, MAX(c) AS c1 FROM (
         |  SELECT doc_id, tok, COUNT(*) AS c
         |  FROM (SELECT doc_id, UNNEST(toks) AS tok FROM d) GROUP BY 1, 2) GROUP BY 1),
         |big AS (SELECT doc_id, MAX(c) AS c2 FROM (
         |  SELECT doc_id, bg, COUNT(*) AS c FROM (
         |    SELECT doc_id, UNNEST(list_transform(range(1, len(toks)),
         |      i -> toks[i] || ' ' || toks[i+1])) AS bg
         |    FROM d WHERE len(toks) >= 2) GROUP BY 1, 2) GROUP BY 1)
         |SELECT b.doc_id, b.lang, CAST(b.nt AS BIGINT) AS n_tokens,
         |  ROUND(CAST(COALESCE(uni.c1, 0) AS DOUBLE) / b.nt, 6) AS top_tok_frac,
         |  ROUND(CAST(COALESCE(big.c2, 0) AS DOUBLE) * 2 / b.nt, 6) AS top_bigram_frac,
         |  (CAST(COALESCE(uni.c1, 0) AS DOUBLE) / b.nt <= ${PipelineOps.GopherTopTokMax}
         |   AND CAST(COALESCE(big.c2, 0) AS DOUBLE) * 2 / b.nt <= ${PipelineOps.GopherTopBigramMax}) AS keep
         |FROM base b LEFT JOIN uni ON b.doc_id = uni.doc_id
         |            LEFT JOIN big ON b.doc_id = big.doc_id
         |ORDER BY b.doc_id""".stripMargin,

    "q_llm_tfidf" ->
      s"""WITH tok AS (SELECT doc_id, lang, UNNEST(string_split(text, ' ')) AS tok
         |             FROM documents),
         |nd AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
         |df AS (SELECT lang, tok, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1, 2),
         |tf AS (SELECT doc_id, lang, tok, COUNT(*) AS tf FROM tok
         |       WHERE doc_id % ${PipelineOps.TfidfSampleMod} = 0 GROUP BY 1, 2, 3),
         |sc AS (SELECT tf.doc_id, tf.lang, tf.tok, tf.tf,
         |         ROUND(tf.tf * LN(CAST(nd.n AS DOUBLE) / df.df), 6) AS tfidf
         |       FROM tf JOIN df ON tf.lang = df.lang AND tf.tok = df.tok
         |               JOIN nd ON tf.lang = nd.lang),
         |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
         |         ORDER BY tfidf DESC, tok ASC) AS rn FROM sc)
         |SELECT doc_id, lang, tok AS term, CAST(tf AS BIGINT) AS tf, tfidf,
         |  CAST(rn AS BIGINT) AS rk
         |FROM rk WHERE rn <= 3 ORDER BY doc_id, rk""".stripMargin,

    "q_llm_bm25" -> {
      val k1 = PipelineOps.Bm25K1
      val b = PipelineOps.Bm25B
      s"""WITH tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
         |             FROM documents),
         |nt AS (SELECT COUNT(*) AS n_total FROM documents),
         |dl AS (SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
         |       FROM documents),
         |ad AS (SELECT AVG(dl) AS avgdl FROM dl),
         |df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
         |q AS (SELECT tok, df FROM df ORDER BY df DESC, tok ASC LIMIT 3),
         |tf AS (SELECT t.doc_id, t.tok, q.df, COUNT(*) AS tf
         |       FROM tok t JOIN q ON t.tok = q.tok GROUP BY 1, 2, 3),
         |sc AS (SELECT tf.doc_id, dl.lang,
         |         ROUND(CAST(SUM(CAST(ROUND(
         |           LN((nt.n_total - tf.df + 0.5) / (tf.df + 0.5) + 1)
         |           * tf.tf * ($k1 + 1)
         |           / (tf.tf + $k1 * (1 - $b + $b * dl.dl / ad.avgdl)) * 1e9, 0)
         |           AS BIGINT)) AS DOUBLE) / 1000, 0) / 1e6 AS bm25
         |       FROM tf CROSS JOIN nt CROSS JOIN ad
         |       JOIN dl ON tf.doc_id = dl.doc_id
         |       GROUP BY 1, 2)
         |SELECT doc_id, lang, bm25 FROM sc
         |ORDER BY bm25 DESC, doc_id ASC LIMIT 10""".stripMargin
    },

    "q_llm_quantize" ->
      """WITH el AS (SELECT vec_id, CAST(UNNEST(embedding) AS DOUBLE) AS x FROM embeddings),
        |sc AS (SELECT vec_id, MAX(ABS(x)) / 127 AS scale FROM el GROUP BY 1),
        |err AS (SELECT el.vec_id, sc.scale,
        |          el.x - FLOOR(el.x / NULLIF(sc.scale, 0) + 0.5) * sc.scale AS e
        |        FROM el JOIN sc ON el.vec_id = sc.vec_id)
        |SELECT vec_id, ROUND(scale, 6) AS scale,
        |  ROUND(MAX(ABS(e)), 6) AS max_err, ROUND(AVG(e * e), 6) AS mse
        |FROM err GROUP BY vec_id, scale ORDER BY vec_id""".stripMargin,

    "q_llm_bpe_pairs" ->
      """WITH tok AS (SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents),
        |pr AS (SELECT UNNEST(list_transform(range(1, length(tok)),
        |         i -> substr(tok, CAST(i AS INT), 2))) AS pair
        |       FROM tok WHERE length(tok) >= 2)
        |SELECT pair, COUNT(*) AS cnt FROM pr
        |GROUP BY 1 ORDER BY cnt DESC, pair ASC LIMIT 20""".stripMargin,

    "q_llm_source_dedup" ->
      """SELECT lang, source, MIN(doc_id) AS kept_doc, COUNT(*) - 1 AS n_removed
        |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_text_unigram_xent" ->
      """WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        |            FROM documents),
        |counts AS (SELECT lang AS ml, tok AS mt, COUNT(*) AS c
        |           FROM tok WHERE doc_id % 10 <> 0 GROUP BY 1, 2),
        |totals AS (SELECT ml, CAST(SUM(c) AS BIGINT) AS tot FROM counts GROUP BY 1),
        |model AS (SELECT counts.ml, mt, CAST(c AS DOUBLE) / tot AS p
        |          FROM counts JOIN totals ON counts.ml = totals.ml),
        |scored AS (SELECT t.doc_id, t.lang,
        |    -ln(COALESCE(m.p, CAST(1 AS DOUBLE) / tt.tot)) AS nll
        |  FROM tok t
        |  JOIN totals tt ON t.lang = tt.ml
        |  LEFT JOIN model m ON t.lang = m.ml AND t.tok = m.mt
        |  WHERE t.doc_id % 10 = 0)
        |SELECT doc_id, lang, COUNT(*) AS n_tokens,
        |  ROUND(CAST(SUM(CAST(ROUND(nll * 1e9, 0) AS BIGINT)) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) / 1e9, 6) AS xent
        |FROM scored GROUP BY 1, 2 ORDER BY doc_id""".stripMargin,

    // Round 7 (driver). T5 span-corruption mask accounting: md5-seeded
    // integer start rule, window-max mask, islands sentinel count —
    // all integer until the two final divisions.
    "q_llm_span_corruption" ->
      """WITH d AS (SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
        |p AS (SELECT doc_id, lang, UNNEST(range(1, n + 1)) AS pos FROM d),
        |stt AS (SELECT doc_id, lang, pos,
        |    CASE WHEN CAST('0x' || substr(md5('span:' || CAST(doc_id AS VARCHAR)
        |           || ':' || CAST(pos AS VARCHAR)), 1, 15) AS BIGINT) % 20 = 0
        |      THEN 1 ELSE 0 END AS sflag
        |  FROM p),
        |mk AS (SELECT doc_id, lang, pos,
        |    MAX(sflag) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS m
        |  FROM stt),
        |sm AS (SELECT doc_id, lang, m,
        |    CASE WHEN m = 1 AND COALESCE(LAG(m) OVER (PARTITION BY doc_id
        |           ORDER BY pos), 0) = 0 THEN 1 ELSE 0 END AS sent
        |  FROM mk),
        |a AS (SELECT lang, COUNT(DISTINCT doc_id) AS n_docs,
        |    COUNT(*) AS n_tokens, CAST(SUM(m) AS BIGINT) AS n_masked,
        |    CAST(SUM(sent) AS BIGINT) AS n_sentinels
        |  FROM sm GROUP BY 1)
        |SELECT lang, n_docs, n_tokens, n_masked, n_sentinels,
        |  CAST(n_masked AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS mask_ratio,
        |  CASE WHEN n_sentinels > 0
        |    THEN CAST(n_masked AS DOUBLE) / CAST(n_sentinels AS DOUBLE)
        |    ELSE CAST(0 AS DOUBLE) END AS mean_span_len
        |FROM a ORDER BY lang""".stripMargin,

    "q_llm_pack_sequences" ->
      s"""WITH t AS (SELECT lang, doc_id,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS nt FROM documents),
         |c AS (SELECT lang, nt,
         |  COALESCE(SUM(nt) OVER (PARTITION BY lang ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
         |  FROM t)
         |SELECT lang, CAST(cum_before AS BIGINT) // ${PipelineOps.PackLen} AS pack_id,
         |  COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS pack_tokens
         |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_llm_contamination" ->
      """WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
        |traing AS (SELECT DISTINCT lang, array_to_string(toks[i:i+7], ' ') AS g
        |  FROM d, UNNEST(range(1, len(toks) - 6)) AS u(i) WHERE doc_id % 10 <> 0),
        |testg AS (SELECT DISTINCT doc_id, lang, array_to_string(toks[i:i+7], ' ') AS g
        |  FROM d, UNNEST(range(1, len(toks) - 6)) AS u(i) WHERE doc_id % 10 = 0),
        |contam AS (SELECT lang, COUNT(*) AS c FROM (
        |  SELECT DISTINCT t.lang, t.doc_id FROM testg t
        |  JOIN traing tr ON t.lang = tr.lang AND t.g = tr.g) GROUP BY 1),
        |base AS (SELECT lang, COUNT(*) AS n_test FROM d WHERE doc_id % 10 = 0 GROUP BY 1)
        |SELECT base.lang, n_test, COALESCE(c, 0) AS n_contam
        |FROM base LEFT JOIN contam ON base.lang = contam.lang ORDER BY 1""".stripMargin,

    "q_llm_pii_redact" ->
      s"""WITH h AS (SELECT lang,
         |  len(regexp_extract_all(text, '${PipelineOps.PiiPattern}')) AS hits,
         |  length(regexp_replace(text, '${PipelineOps.PiiPattern}', '<PII>', 'g')) AS red_len
         |  FROM documents)
         |SELECT lang, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_hits,
         |  CAST(SUM(hits) AS BIGINT) AS total_hits,
         |  CAST(SUM(red_len) AS BIGINT) AS sum_redacted_chars
         |FROM h GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_llm_sample_stratified" ->
      """WITH t AS (SELECT lang, source,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
        |  ROW_NUMBER() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn
        |  FROM documents)
        |SELECT lang, source, COUNT(*) AS n_total,
        |  CAST(SUM(CASE WHEN rn % 10 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
        |  CAST(SUM(CASE WHEN rn % 10 = 1 THEN nt ELSE 0 END) AS BIGINT) AS sampled_tokens
        |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_text_normalize" ->
      """WITH h AS (SELECT lang, md5(text) AS hraw,
        |  md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |      ' +', ' ', 'g'))) AS hnorm
        |  FROM documents)
        |SELECT lang, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT hraw) AS n_distinct_raw,
        |  COUNT(DISTINCT hnorm) AS n_distinct_norm
        |FROM h GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_llm_domain_mix" ->
      """WITH p AS (SELECT lang,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM p)
        |SELECT lang, n_tokens,
        |  ROUND(n_tokens / total, 6) AS share,
        |  ROUND(0.2 * total / n_tokens, 6) AS weight
        |FROM p CROSS JOIN tot ORDER BY 1""".stripMargin
  )

  /** Round-4 operators (SURVEY §2.15): map functions, distribution
    * windows, lateral join, temporal-decay GNN aggregation, DSIR,
    * chained windowed aggregation, multimodal frame sampling. */
  val round4: Map[String, String] = Map(
    "q_map_funcs" ->
      """WITH sc AS (
        |  SELECT n_name, c_mktsegment, count(*) AS cnt
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2)
        |SELECT n_name,
        |  CAST(count(*) AS INT) AS n_segments,
        |  COALESCE(MAX(CASE WHEN c_mktsegment = 'BUILDING' THEN cnt END), 0) AS n_building,
        |  COALESCE(MAX(CASE WHEN c_mktsegment = 'MACHINERY' THEN cnt END), 0) AS n_machinery,
        |  CAST(count(*) FILTER (WHERE cnt >= 15) AS INT) AS n_big_segments,
        |  CAST(SUM(cnt) AS BIGINT) AS n_customers
        |FROM sc GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q_win_distribution" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal,
        |  round(percent_rank() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey), 6) AS pct_rank,
        |  round(cume_dist()    OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey), 6) AS cum_dist
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q_join_lateral" ->
      """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        |FROM customer c, LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
        |ORDER BY c.c_custkey, o.o_orderkey""".stripMargin,

    // Weight = round(exp(-0.01·age_days), 9): probed bit-identical
    // Spark vs DuckDB for all integer ages in [0, 20000); ages whose
    // weight rounds to exactly 0 are filtered in both engines.
    "q_gnn_temporal_decay" ->
      """WITH ed AS (
        |  SELECT o_custkey AS c,
        |    l_partkey % (SELECT count(*) FROM embeddings) AS vkey,
        |    round(exp(-0.01 * date_diff('day', o_orderdate,
        |                                (SELECT max(o_orderdate) FROM orders))), 9) AS w
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |fe AS (SELECT * FROM ed WHERE w > 0)
        |SELECT c AS custkey, CAST(count(*) AS BIGINT) AS n_recent,
        |  round(CAST(SUM(CAST(round(w * CAST(embedding[1] AS DOUBLE) * 1e9, 0) AS BIGINT)) AS DOUBLE)
        |    / CAST(SUM(CAST(round(w * 1e9, 0) AS BIGINT)) AS DOUBLE), 6) AS d1,
        |  round(CAST(SUM(CAST(round(w * CAST(embedding[2] AS DOUBLE) * 1e9, 0) AS BIGINT)) AS DOUBLE)
        |    / CAST(SUM(CAST(round(w * 1e9, 0) AS BIGINT)) AS DOUBLE), 6) AS d2,
        |  round(CAST(SUM(CAST(round(w * CAST(embedding[3] AS DOUBLE) * 1e9, 0) AS BIGINT)) AS DOUBLE)
        |    / CAST(SUM(CAST(round(w * 1e9, 0) AS BIGINT)) AS DOUBLE), 6) AS d3,
        |  round(CAST(SUM(CAST(round(w * CAST(embedding[4] AS DOUBLE) * 1e9, 0) AS BIGINT)) AS DOUBLE)
        |    / CAST(SUM(CAST(round(w * 1e9, 0) AS BIGINT)) AS DOUBLE), 6) AS d4
        |FROM fe JOIN embeddings ON vkey = vec_id
        |GROUP BY c ORDER BY c""".stripMargin,

    // Per-bucket log-ratios round to 9 decimals pre-sum (ln's last ulp
    // differs across engines); md5 60-bit bucket hash == Spark's
    // pmod(conv(substr(md5,1,15),16,10), 1024).
    "q_llm_dsir" ->
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 1024 AS b
        |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        |        FROM documents)),
        |raw AS (SELECT b AS rb, count(*) AS rcnt FROM toks GROUP BY 1),
        |tgt AS (SELECT b AS tb, count(*) AS tcnt FROM toks WHERE lang = 'en' GROUP BY 1),
        |rt AS (SELECT count(*) AS r_total FROM toks),
        |tt AS (SELECT count(*) AS t_total FROM toks WHERE lang = 'en'),
        |lr AS (
        |  SELECT rb, round(
        |    ln(CAST(COALESCE(tcnt, 0) + 1 AS DOUBLE) / (t_total + 1024)) -
        |    ln(CAST(rcnt + 1 AS DOUBLE) / (r_total + 1024)), 9) AS lr
        |  FROM raw LEFT JOIN tgt ON rb = tb CROSS JOIN rt CROSS JOIN tt),
        |docw AS (
        |  SELECT doc_id, lang, SUM(lr) AS logw
        |  FROM toks JOIN lr ON b = rb GROUP BY 1, 2)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  round(AVG(logw), 6) AS avg_logw,
        |  round(MAX(round(logw, 6)), 6) AS max_logw
        |FROM docw GROUP BY lang ORDER BY lang""".stripMargin,

    "q_stream_chained_agg" ->
      """WITH h AS (
        |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr, event_type,
        |         count(*) AS hourly_cnt
        |  FROM events GROUP BY 1, 2)
        |SELECT CAST(date_trunc('day', hr) AS TIMESTAMP) AS day, event_type,
        |  CAST(count(*) AS BIGINT) AS n_active_hours,
        |  CAST(max(hourly_cnt) AS BIGINT) AS max_hourly,
        |  CAST(min(hourly_cnt) AS BIGINT) AS min_hourly
        |FROM h GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,

    // The frame chunking is a pure function of the payload length
    // (documents are all-ASCII so length(text) == byte length); doc
    // lengths are >= 48 at every sf, so frames = 4 and step = L // 4.
    "q_mm_frames" ->
      """WITH v AS (
        |  SELECT doc_id, CAST(length(text) AS BIGINT) AS L
        |  FROM documents WHERE doc_id % 3 = 2),
        |f AS (
        |  SELECT doc_id, CAST(i AS INT) AS frame_idx,
        |    CASE WHEN i < 3 THEN L // 4 ELSE L - 3 * (L // 4) END AS flen
        |  FROM v, unnest(range(4)) AS t(i))
        |SELECT frame_idx, CAST(count(*) AS BIGINT) AS n_frames,
        |  CAST(SUM(flen) AS BIGINT) AS bytes_sum,
        |  CAST(MIN(flen) AS BIGINT) AS min_bytes,
        |  CAST(MAX(flen) AS BIGINT) AS max_bytes
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin
  )

  /** Round-4 second batch: skew-salted join (oracle = the PLAIN join —
    * salting must be result-invisible), Levenshtein fuzzy-dedup tier,
    * Lee-2022 duplicated-span accounting. */
  val round4b: Map[String, String] = Map(
    "q_join_skew_salted" ->
      """SELECT c_nationkey, count(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS val_sum
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_text_edit_distance" ->
      """WITH s AS (
        |  SELECT doc_id, lang, substr(text, 1, 100) AS p
        |  FROM documents WHERE doc_id % 10 = 0)
        |SELECT a.lang, count(*) AS n_pairs,
        |  CAST(min(levenshtein(a.p, b.p)) AS INT) AS min_dist,
        |  round(avg(levenshtein(a.p, b.p)), 6) AS avg_dist
        |FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |  AND abs(length(a.p) - length(b.p)) <= 20
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // 32-char shingles at stride 16, deduped per doc; a span is
    // duplicated when it appears in > 1 distinct doc (corpus-wide).
    "q_llm_span_dedup" ->
      """WITH sh AS (
        |  SELECT DISTINCT doc_id, lang, md5(substr(text, CAST(i AS INT), 32)) AS h
        |  FROM documents, unnest(range(1, length(text) - 30, 16)) AS t(i)
        |  WHERE length(text) >= 32),
        |duph AS (
        |  SELECT h FROM sh GROUP BY h HAVING count(DISTINCT doc_id) > 1),
        |docdup AS (
        |  SELECT sh.doc_id, sh.lang, sh.h FROM sh JOIN duph ON sh.h = duph.h),
        |pld AS (
        |  SELECT lang, count(DISTINCT doc_id) AS n_dup_docs,
        |         count(DISTINCT h) AS n_dup_spans
        |  FROM docdup GROUP BY lang),
        |base AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang)
        |SELECT base.lang, base.n_docs,
        |  COALESCE(pld.n_dup_docs, 0) AS n_dup_docs,
        |  round(CAST(COALESCE(pld.n_dup_docs, 0) AS DOUBLE) / base.n_docs, 6)
        |    AS dup_doc_share,
        |  COALESCE(pld.n_dup_spans, 0) AS n_dup_spans
        |FROM base LEFT JOIN pld ON base.lang = pld.lang
        |ORDER BY base.lang""".stripMargin
  )

  /** Round-4 third batch: SemDeDup cluster-scoped dedup and sliding-
    * window chunking. */
  val round4c: Map[String, String] = Map(
    // Same scale-adaptive cell assignment as q_llm_ann_ivf (nlist
    // computed from the corpus, all vectors assigned); a vector drops
    // when an earlier (smaller vec_id) cell-mate is within
    // cosine >= 0.35 — the one-pass keep-first greedy relaxation.
    "q_llm_semdedup" ->
      s"""WITH $ivfAssignedCtes,
         |pair AS (SELECT b.cid, b.vid,
         |           ROUND(${cosExpr("b.dv", "a.dv")}, 6) AS cs
         |         FROM assigned b JOIN assigned a
         |           ON b.cid = a.cid AND a.vid < b.vid),
         |dropped AS (SELECT DISTINCT cid, vid FROM pair WHERE cs >= 0.35),
         |dc AS (SELECT cid, count(*) AS n_dropped FROM dropped GROUP BY 1),
         |sz AS (SELECT cid, count(*) AS n_vecs FROM assigned GROUP BY 1)
         |SELECT sz.cid, sz.n_vecs,
         |  COALESCE(dc.n_dropped, 0) AS n_dropped,
         |  ROUND(CAST(COALESCE(dc.n_dropped, 0) AS DOUBLE) / sz.n_vecs, 6) AS drop_share
         |FROM sz LEFT JOIN dc ON sz.cid = dc.cid
         |ORDER BY sz.cid""".stripMargin,

    // Chunk starts 1, 49, 97, … (64-token chunks, stride 48 = 16-token
    // overlap); DuckDB range() is stop-exclusive so stop = stop_incl + 1.
    "q_llm_chunk_overlap" ->
      """WITH d AS (
        |  SELECT lang, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents),
        |c AS (
        |  SELECT lang, doc_id, n, least(64, n - i + 1) AS clen
        |  FROM d, unnest(range(1, greatest(n - 16, 1) + 1, 48)) AS t(i)),
        |agg AS (
        |  SELECT lang, count(DISTINCT doc_id) AS n_docs, count(*) AS n_chunks,
        |         CAST(SUM(clen) AS BIGINT) AS chunk_tokens,
        |         round(AVG(clen), 6) AS avg_chunk_len
        |  FROM c GROUP BY 1),
        |tot AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS total FROM d GROUP BY 1)
        |SELECT agg.lang, n_docs, n_chunks, chunk_tokens,
        |  chunk_tokens - total AS overlap_tokens, avg_chunk_len
        |FROM agg JOIN tot ON agg.lang = tot.lang ORDER BY agg.lang""".stripMargin
  )

  /** Round-4 fourth batch: exact-moment statistical aggregates (the
    * decimal-sum determinism pattern applied to stddev/var/corr). */
  val round4d: Map[String, String] = Map(
    "q_agg_stats" ->
      """WITH m AS (
        |  SELECT o_orderstatus, count(*) AS n,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) *
        |             CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(year(o_orderdate) AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(year(o_orderdate) AS DECIMAL(18,2)) *
        |             CAST(year(o_orderdate) AS DECIMAL(18,2))) AS DOUBLE) AS syy,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) *
        |             CAST(year(o_orderdate) AS DECIMAL(18,2))) AS DOUBLE) AS sxy
        |  FROM orders GROUP BY 1)
        |SELECT o_orderstatus, n AS n_orders,
        |  round(sqrt((sxx - sx * sx / n) / (n - 1)), 6) AS price_stddev,
        |  round((sxx - sx * sx / n) / (n - 1), 0) AS price_var,
        |  round((sxy - sx * sy / n) /
        |        (sqrt(sxx - sx * sx / n) * sqrt(syy - sy * sy / n)), 6)
        |    AS price_year_corr
        |FROM m ORDER BY o_orderstatus""".stripMargin
  )

  /** Round-4 capstone: the composed curation DAG (same stage formulas
    * as the individual operators' oracles). */
  val round4e: Map[String, String] = Map(
    "q_llm_pipeline_e2e" ->
      s"""WITH en AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
        |         md5(text) AS th
        |  FROM documents WHERE lang = 'en'),
        |longdocs AS (SELECT * FROM en WHERE nt >= 30),
        |kept AS (
        |  SELECT doc_id, nt FROM (
        |    SELECT doc_id, nt,
        |           ROW_NUMBER() OVER (PARTITION BY th ORDER BY doc_id) AS rn
        |    FROM longdocs) d WHERE rn = 1),
        |packed AS (
        |  SELECT doc_id, nt,
        |    CAST(COALESCE(SUM(nt) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      // ${PipelineOps.PackLen} AS pack_id
        |  FROM kept)
        |SELECT pack_id, count(*) AS n_docs,
        |  CAST(SUM(nt) AS BIGINT) AS pack_tokens,
        |  MIN(doc_id) AS first_doc
        |FROM packed GROUP BY 1 ORDER BY 1""".stripMargin
  )

  /** Round-4 dedup clustering: reachability closure over the J ≥ 0.8
    * sampled pair graph (same recursive-CTE shape as q_graph_cc). */
  val round4f: Map[String, String] = Map(
    "q_llm_dedup_clusters" ->
      """WITH RECURSIVE d AS (
        |  SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS toks
        |  FROM documents
        |  WHERE doc_id % 10 = 0 AND len(list_distinct(string_split(text, ' '))) > 0),
        |p AS (
        |  SELECT d1.doc_id AS x, d2.doc_id AS y
        |  FROM d d1 JOIN d d2 ON d1.lang = d2.lang AND d1.doc_id < d2.doc_id
        |  WHERE CAST(len(list_intersect(d1.toks, d2.toks)) AS DOUBLE)
        |    / (len(d1.toks) + len(d2.toks) - len(list_intersect(d1.toks, d2.toks)))
        |    >= 0.8),
        |ue AS (SELECT x, y FROM p UNION ALL SELECT y, x FROM p),
        |reach AS (
        |  SELECT doc_id AS n, doc_id AS r FROM d
        |  UNION
        |  SELECT reach.n, ue.y FROM reach JOIN ue ON reach.r = ue.x),
        |comp AS (SELECT n, MIN(r) AS lbl FROM reach GROUP BY n),
        |cl AS (
        |  SELECT d.lang, comp.lbl, COUNT(*) AS sz
        |  FROM comp JOIN d ON comp.n = d.doc_id
        |  GROUP BY 1, 2)
        |SELECT lang, CAST(SUM(sz) AS BIGINT) AS n_docs,
        |  COUNT(*) AS n_clusters,
        |  CAST(SUM(sz) - COUNT(*) AS BIGINT) AS n_dup_docs,
        |  CAST(MAX(sz) AS BIGINT) AS max_cluster
        |FROM cl GROUP BY lang ORDER BY lang""".stripMargin,

    // Round 9. Same cluster CTE chain as q_llm_dedup_clusters; the only
    // float op is the per-cluster tot/sz division, round-9 + exact
    // DECIMAL sum (the PSI recipe for cross-group addition).
    "q_llm_soft_dedup" ->
      """WITH RECURSIVE d AS (
        |  SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS toks
        |  FROM documents
        |  WHERE doc_id % 10 = 0 AND len(list_distinct(string_split(text, ' '))) > 0),
        |p AS (
        |  SELECT d1.doc_id AS x, d2.doc_id AS y
        |  FROM d d1 JOIN d d2 ON d1.lang = d2.lang AND d1.doc_id < d2.doc_id
        |  WHERE CAST(len(list_intersect(d1.toks, d2.toks)) AS DOUBLE)
        |    / (len(d1.toks) + len(d2.toks) - len(list_intersect(d1.toks, d2.toks)))
        |    >= 0.8),
        |ue AS (SELECT x, y FROM p UNION ALL SELECT y, x FROM p),
        |reach AS (
        |  SELECT doc_id AS n, doc_id AS r FROM d
        |  UNION
        |  SELECT reach.n, ue.y FROM reach JOIN ue ON reach.r = ue.x),
        |comp AS (SELECT n, MIN(r) AS lbl FROM reach GROUP BY n),
        |cl AS (
        |  SELECT d.lang, comp.lbl, COUNT(*) AS sz,
        |    CAST(SUM(len(d.toks)) AS BIGINT) AS tot
        |  FROM comp JOIN d ON comp.n = d.doc_id
        |  GROUP BY 1, 2),
        |t AS (SELECT lang, sz, tot,
        |    CAST(ROUND(CAST(tot AS DOUBLE) / CAST(sz AS DOUBLE), 9)
        |      AS DECIMAL(18,9)) AS eff
        |  FROM cl)
        |SELECT lang, CAST(SUM(sz) AS BIGINT) AS n_docs, COUNT(*) AS n_clusters,
        |  CAST(SUM(tot) AS BIGINT) AS tot_tokens,
        |  CAST(SUM(eff) AS DOUBLE) AS eff_tokens
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin
  )

  /** Round-4 continuation: histogram / RANGE frame / bucketed band join.
    * Histogram bucket math is pure BIGINT (DuckDB `//` = Spark `div`);
    * the band-join oracle is the NAIVE |Δt| ≤ δ join the bucketing must
    * reproduce exactly. */
  val round5: Map[String, String] = Map(
    "q_agg_histogram" ->
      """WITH b AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |           FROM orders),
        |m AS (SELECT min(cents) AS mn, max(cents) AS mx FROM b)
        |SELECT ((cents - mn) * 20) // (mx - mn + 1) AS bucket,
        |  COUNT(*) AS cnt, CAST(SUM(cents) AS BIGINT) AS total_cents,
        |  MIN(mn / 100.0) AS range_lo, MAX(mx / 100.0) AS range_hi
        |FROM b, m GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_win_range_frame" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS trail30_total,
        |  CAST(COUNT(*) OVER w AS BIGINT) AS trail30_orders
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
        |  RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_join_range_bucket" ->
      """WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
        |err AS (SELECT event_id AS e_id, epoch_us(ts) AS e_us FROM e
        |        WHERE event_type = 'error'),
        |pur AS (SELECT event_id AS p_id, ts AS p_ts, epoch_us(ts) AS p_us FROM e
        |        WHERE event_type = 'purchase')
        |SELECT CAST(p_ts AS DATE) AS day, COUNT(*) AS n_pairs,
        |  CAST(COUNT(DISTINCT p_id) AS BIGINT) AS n_purchases,
        |  CAST(COUNT(DISTINCT e_id) AS BIGINT) AS n_errors
        |FROM pur JOIN err ON abs(p_us - e_us) <= 600000000
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // Replays the ENTIRE blocked-bloom arithmetic (bucket, probe bits,
    // bit_or bitmap, membership test) plus the exact confirm — the
    // bloom path itself is cross-engine-checked, not just the final
    // exact counts. Probe bits are mod 63: DuckDB BIGINT << 63 errors.
    "q_llm_bloom_prefilter" ->
      """WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
        |hg AS (SELECT DISTINCT doc_id, lang,
        |    CAST('0x' || substr(md5(array_to_string(toks[i:i+4], ' ')), 1, 15) AS BIGINT) AS h
        |  FROM d, UNNEST(range(1, len(toks) - 3)) AS u(i) WHERE doc_id % 10 = 0),
        |tg AS (SELECT DISTINCT doc_id, lang,
        |    CAST('0x' || substr(md5(array_to_string(toks[i:i+4], ' ')), 1, 15) AS BIGINT) AS h
        |  FROM d, UNNEST(range(1, len(toks) - 3)) AS u(i) WHERE doc_id % 10 <> 0),
        |bm AS (SELECT (h // 4096) % 4096 AS bucket,
        |    bit_or((1::BIGINT << CAST(h % 63 AS INT)) |
        |           (1::BIGINT << CAST((h // 64) % 63 AS INT))) AS bits
        |  FROM hg GROUP BY 1),
        |cand AS (SELECT doc_id, lang, h FROM tg JOIN bm
        |    ON (tg.h // 4096) % 4096 = bm.bucket
        |  WHERE (bits & ((1::BIGINT << CAST(h % 63 AS INT)) |
        |                 (1::BIGINT << CAST((h // 64) % 63 AS INT)))) =
        |        ((1::BIGINT << CAST(h % 63 AS INT)) |
        |         (1::BIGINT << CAST((h // 64) % 63 AS INT)))),
        |hits AS (SELECT doc_id, lang, h FROM cand WHERE h IN (SELECT h FROM hg)),
        |ca AS (SELECT lang, COUNT(DISTINCT doc_id) AS n_cand_docs,
        |    COUNT(DISTINCT h) AS n_cand_grams FROM cand GROUP BY 1),
        |ha AS (SELECT lang, COUNT(DISTINCT doc_id) AS n_hit_docs,
        |    COUNT(DISTINCT h) AS n_hit_grams FROM hits GROUP BY 1)
        |SELECT ca.lang, n_cand_docs, n_cand_grams,
        |  COALESCE(n_hit_docs, 0) AS n_hit_docs,
        |  COALESCE(n_hit_grams, 0) AS n_hit_grams
        |FROM ca LEFT JOIN ha ON ca.lang = ha.lang ORDER BY 1""".stripMargin,

    // Same fixed left-assoc weighted sum as the Spark expression; the
    // explicit ::DOUBLE casts stop DuckDB from doing DECIMAL-literal
    // arithmetic. ln features round-9 (the probed policy); z means
    // through DECIMAL(18,6) so summation order cannot leak.
    "q_llm_quality_classifier" ->
      """WITH t AS (SELECT lang, string_split(text, ' ') AS toks, text FROM documents),
        |f AS (SELECT lang,
        |  round(ln(1.0::DOUBLE + len(toks)), 9) AS f_len,
        |  CAST(length(text) - (len(toks) - 1) AS DOUBLE) / len(toks) AS f_awl,
        |  CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS f_ttr,
        |  CAST(len(list_filter(toks, s -> length(s) <= 3)) AS DOUBLE) / len(toks) AS f_short
        |  FROM t),
        |zz AS (SELECT lang,
        |  round(0.8::DOUBLE * f_len + 0.5::DOUBLE * f_ttr - 0.4::DOUBLE * f_short
        |        + 0.05::DOUBLE * f_awl - 2.0::DOUBLE, 6) AS z FROM f)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN z > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
        |  CAST(SUM(CAST(z AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_z,
        |  MIN(z) AS min_z, MAX(z) AS max_z
        |FROM zz GROUP BY 1 ORDER BY 1""".stripMargin,

    // The struct-MAX upsert pick equals the ts DESC, event_id DESC
    // row_number argmax (event_id unique → identical total order).
    "q_stream_cdc_latest" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |    event_type, value FROM events),
        |r AS (SELECT user_id, ts AS last_ts, event_id AS last_event_id,
        |    event_type AS last_type, value AS last_value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn FROM e)
        |SELECT user_id, last_ts, last_event_id, last_type, last_value
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin,

    // The 8-term subspace L2² is generated as an explicit left-assoc
    // chain so DuckDB's summation order provably equals Spark's
    // aggregate() fold; ADC terms go round-9 → DECIMAL so the final sum
    // is order-blind. Codebook = vec_ids 0-15 (deterministic, no RNG).
    "q_llm_ann_pq" -> {
      val d2terms = (1 to 8).map(i =>
        s"(CAST(xv[$i] AS DOUBLE) - CAST(cv[$i] AS DOUBLE)) * " +
          s"(CAST(xv[$i] AS DOUBLE) - CAST(cv[$i] AS DOUBLE))").mkString(" + ")
      s"""WITH s AS (SELECT vec_id, m, embedding[m*8 + 1 : m*8 + 8] AS xv
         |  FROM embeddings, UNNEST(range(0, 8)) AS t(m)),
         |c AS (SELECT vec_id AS j, m AS cm, xv AS cv FROM s WHERE vec_id < 16),
         |d AS (SELECT s.vec_id AS vid, s.m, c.j, $d2terms AS d2
         |  FROM s JOIN c ON s.m = c.cm),
         |codes AS (SELECT vid, m, j AS code FROM (
         |  SELECT vid, m, j, ROW_NUMBER() OVER (PARTITION BY vid, m
         |    ORDER BY d2, j) AS rn FROM d) WHERE rn = 1),
         |lut AS (SELECT m AS lm, j AS lj, CAST(round(d2, 9) AS DECIMAL(20,9)) AS qd2
         |  FROM d WHERE vid = 0),
         |adc AS (SELECT vid, CAST(SUM(qd2) AS DOUBLE) AS a
         |  FROM codes JOIN lut ON m = lm AND code = lj GROUP BY vid)
         |SELECT vid AS vec_id, round(a, 6) AS adc_dist FROM adc
         |ORDER BY round(a, 6), vec_id LIMIT 10""".stripMargin
    },

    // Interpolated Kneser–Ney: exact integer count tables, fixed IEEE op
    // chain (explicit DOUBLE casts — bare literals are DECIMAL in DuckDB),
    // round-9 only at the −ln, round-6 mean.
    "q_text_kneser_ney" ->
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
        |bi AS (SELECT doc_id, lang, toks[i] AS a, toks[i+1] AS b
        |  FROM t, UNNEST(range(1, len(toks))) AS u(i)),
        |tr AS (SELECT * FROM bi WHERE doc_id % 10 <> 0),
        |bc AS (SELECT lang, a, b, COUNT(*) AS cab FROM tr GROUP BY 1, 2, 3),
        |ctx AS (SELECT lang, a, CAST(SUM(cab) AS BIGINT) AS ca, COUNT(*) AS n1a FROM bc GROUP BY 1, 2),
        |cont AS (SELECT lang, b, COUNT(*) AS n1b FROM bc GROUP BY 1, 2),
        |tot AS (SELECT lang, COUNT(*) AS n1pp FROM bc GROUP BY 1),
        |ev AS (SELECT * FROM bi WHERE doc_id % 10 = 0),
        |sc AS (SELECT ev.lang, ev.doc_id, ctx.ca, tot.n1pp,
        |    CASE WHEN ctx.ca IS NOT NULL THEN
        |      GREATEST(CAST(COALESCE(bc.cab, 0) AS DOUBLE) - CAST(0.75 AS DOUBLE), CAST(0.0 AS DOUBLE))
        |        / CAST(ctx.ca AS DOUBLE)
        |      + ((CAST(0.75 AS DOUBLE) * CAST(ctx.n1a AS DOUBLE)) / CAST(ctx.ca AS DOUBLE))
        |        * (CAST(COALESCE(cont.n1b, 0) AS DOUBLE) / CAST(tot.n1pp AS DOUBLE))
        |    ELSE CAST(COALESCE(cont.n1b, 0) AS DOUBLE) / CAST(tot.n1pp AS DOUBLE) END AS praw
        |  FROM ev LEFT JOIN bc ON ev.lang = bc.lang AND ev.a = bc.a AND ev.b = bc.b
        |          LEFT JOIN ctx ON ev.lang = ctx.lang AND ev.a = ctx.a
        |          LEFT JOIN cont ON ev.lang = cont.lang AND ev.b = cont.b
        |          JOIN tot ON ev.lang = tot.lang),
        |nl AS (SELECT lang, doc_id, ca, praw <= CAST(0.0 AS DOUBLE) AS floored,
        |    round(-ln(CASE WHEN praw > CAST(0.0 AS DOUBLE) THEN praw
        |              ELSE CAST(1.0 AS DOUBLE) / CAST(n1pp + 1 AS DOUBLE) END), 9) AS nll
        |  FROM sc)
        |SELECT lang, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_bigrams,
        |  CAST(SUM(CASE WHEN ca IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_ctx_backoff,
        |  CAST(SUM(CASE WHEN floored THEN 1 ELSE 0 END) AS BIGINT) AS n_floor,
        |  ROUND(AVG(nll), 6) AS kn_xent
        |FROM nl GROUP BY lang ORDER BY lang""".stripMargin,

    "q_text_bigram_xent" ->
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
        |bi AS (SELECT doc_id, lang, toks[i] AS a, toks[i+1] AS b
        |  FROM t, UNNEST(range(1, len(toks))) AS u(i)),
        |tr AS (SELECT * FROM bi WHERE doc_id % 10 <> 0),
        |bc AS (SELECT lang, a, b, COUNT(*) AS cab FROM tr GROUP BY 1, 2, 3),
        |ac AS (SELECT lang, a, COUNT(*) AS ca FROM tr GROUP BY 1, 2),
        |vocab AS (SELECT lang, COUNT(DISTINCT tok) AS v FROM (
        |  SELECT lang, unnest(toks) AS tok FROM t WHERE doc_id % 10 <> 0) GROUP BY 1),
        |nl AS (SELECT he.lang, he.doc_id,
        |    round(-ln(CAST(COALESCE(cab, 0) + 1 AS DOUBLE) /
        |              CAST(COALESCE(ca, 0) + v AS DOUBLE)), 9) AS nll
        |  FROM (SELECT * FROM bi WHERE doc_id % 10 = 0) he
        |  LEFT JOIN bc ON he.lang = bc.lang AND he.a = bc.a AND he.b = bc.b
        |  LEFT JOIN ac ON he.lang = ac.lang AND he.a = ac.a
        |  JOIN vocab ON he.lang = vocab.lang)
        |SELECT lang, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  COUNT(*) AS n_bigrams, round(AVG(nll), 6) AS xent2
        |FROM nl GROUP BY 1 ORDER BY 1""".stripMargin,

    // Stub-resize arithmetic (max(dim div 2, 1)) replayed from the
    // header bytes the stub decoder reads (doc text is all-ASCII).
    "q_mm_resize" ->
      """WITH m AS (SELECT
        |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |         WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |    GREATEST((ascii(substr(text, 1, 1)) + 1) // 2, 1) AS w,
        |    GREATEST((CASE WHEN length(text) > 1
        |      THEN ascii(substr(text, 2, 1)) ELSE 0 END + 1) // 2, 1) AS h
        |  FROM documents)
        |SELECT kind, COUNT(*) AS n_media,
        |  CAST(SUM(w) AS BIGINT) AS width_sum,
        |  CAST(SUM(h) AS BIGINT) AS height_sum,
        |  CAST(MAX(w) AS INT) AS max_width
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,

    // Byte moments from ASCII codes (byte == char for the fixture);
    // integer sums, one IEEE division for the mean.
    "q_mm_features" ->
      """WITH f AS (SELECT
        |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |         WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |    length(text) AS nb,
        |    list_sum(list_transform(range(1, length(text) + 1),
        |      i -> ascii(substr(text, i, 1)))) AS bs,
        |    len(list_distinct(list_transform(range(1, length(text) + 1),
        |      i -> ascii(substr(text, i, 1))))) AS nd
        |  FROM documents)
        |SELECT kind, COUNT(*) AS n_media, CAST(SUM(nb) AS BIGINT) AS bytes_sum,
        |  round(CAST(SUM(bs) AS DOUBLE) / CAST(SUM(nb) AS DOUBLE), 6) AS mean_byte,
        |  CAST(MAX(nd) AS INT) AS max_alphabet
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin
  )

  /** Round-6 additions: format round-trips, reshaping/window/spine
    * relational surface, sketches, shard assignment, watermarked dedup. */
  val round6: Map[String, String] = Map(
    // The oracle aggregates the ORIGINAL parquet — a pass proves the
    // CSV sink+scan round trip was lossless, not merely self-consistent.
    // Round 7 (driver). Text round trip: the oracle applies the same
    // tab/newline sanitize to the ORIGINAL table — a lossy line format
    // (splits, encoding drift) breaks the hash.
    "q_src_text_roundtrip" ->
      """SELECT lang, COUNT(*) AS n_docs, COUNT(DISTINCT doc_id) AS n_ids,
        |  CAST(SUM(length(replace(replace(text, chr(9), ' '), chr(10), ' ')))
        |    AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    // Round 7 (driver). binaryFile ingest: every number replayed from
    // the documents table (payload = UTF-8 text bytes, all-ASCII).
    "q_src_binary_ingest" ->
      """WITH m AS (SELECT doc_id AS media_id,
        |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |      WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |    text FROM documents WHERE doc_id % 100 = 0)
        |SELECT kind, COUNT(*) AS n_files,
        |  CAST(SUM(length(text)) AS BIGINT) AS sum_bytes,
        |  COUNT(DISTINCT md5(text)) AS n_distinct,
        |  CAST(MIN(media_id) AS BIGINT) AS min_id,
        |  CAST(MAX(media_id) AS BIGINT) AS max_id
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_src_csv_roundtrip" ->
      """SELECT s_nationkey, COUNT(*) AS n_suppliers,
        |  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM supplier GROUP BY 1 ORDER BY 1""".stripMargin,

    // Schema-evolution replay: the generation split decides which rows
    // carry a price; the merged scan must reproduce exactly that.
    "q_src_schema_evolution" ->
      """WITH g AS (SELECT o_orderstatus,
        |    CASE WHEN o_orderkey % 2 = 1 THEN o_totalprice END AS price
        |  FROM orders)
        |SELECT o_orderstatus, COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN price IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_priced,
        |  CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_priced
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,

    // The bucketed layout must be LOSSLESS: the oracle aggregates the
    // original parquet, not the bucketed copy.
    "q_join_bucketed" ->
      """SELECT o_orderstatus, COUNT(*) AS n_lines,
        |  CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_src_json_roundtrip" ->
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year, o_orderstatus,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_src_orc_roundtrip" ->
      """SELECT l_returnflag, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem WHERE l_quantity >= 25 GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_agg_bool_funcs" ->
      """SELECT event_type,
        |  CAST(SUM(CASE WHEN value > 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
        |  BOOL_OR(value > 500) AS has_huge,
        |  BOOL_AND(value >= 0) AS all_nonneg,
        |  CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_even_users
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_agg_mode" ->
      """WITH pc AS (SELECT c_mktsegment, c_nationkey, COUNT(*) AS cnt
        |            FROM customer GROUP BY 1, 2),
        |r AS (SELECT c_mktsegment, c_nationkey, cnt,
        |        ROW_NUMBER() OVER (PARTITION BY c_mktsegment
        |          ORDER BY cnt DESC, c_nationkey ASC) AS rn,
        |        SUM(cnt) OVER (PARTITION BY c_mktsegment) AS n_customers
        |      FROM pc)
        |SELECT c_mktsegment, CAST(c_nationkey AS INTEGER) AS modal_nation,
        |  cnt AS modal_cnt, CAST(n_customers AS BIGINT) AS n_customers
        |FROM r WHERE rn = 1 ORDER BY c_mktsegment""".stripMargin,

    // dayofweek: DuckDB is 0=Sunday, Spark is 1=Sunday -> +1
    "q_date_arith" ->
      """SELECT o_orderkey,
        |  CAST(o_orderdate + INTERVAL 2 MONTH AS DATE) AS plus2m,
        |  last_day(CAST(o_orderdate AS DATE)) AS eom,
        |  CAST(date_trunc('quarter', o_orderdate) AS DATE) AS qtr,
        |  CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
        |  CAST(quarter(o_orderdate) AS INTEGER) AS q
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_null_funcs" ->
      """SELECT c_custkey,
        |  NULLIF(c_mktsegment, 'BUILDING') AS seg_nb,
        |  COALESCE(NULLIF(c_mktsegment, 'BUILDING'), '(redacted)') AS seg_filled,
        |  NULLIF(c_mktsegment, 'BUILDING') IS NULL AS was_building,
        |  CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS bal_pos
        |FROM customer ORDER BY c_custkey""".stripMargin,

    // ACID snapshot demo: both snapshots replayed from the ORIGINAL
    // parquet (v1 = keys % 3 = 0; v2 appends % 3 = 1); latest_version
    // pinned to literal 2 — the staged-but-never-committed v3 must be
    // unobservable to version resolution and to reads.
    "q_src_acid_snapshot" ->
      """WITH v1 AS (SELECT o_orderstatus, COUNT(*) AS n_orders,
        |        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |      FROM orders WHERE o_orderkey % 3 = 0 GROUP BY 1),
        |v2 AS (SELECT o_orderstatus, COUNT(*) AS n_orders,
        |        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |      FROM orders WHERE o_orderkey % 3 IN (0, 1) GROUP BY 1)
        |SELECT CAST(1 AS INTEGER) AS snapshot_version,
        |  CAST(2 AS INTEGER) AS latest_version, o_orderstatus, n_orders, sum_price
        |FROM v1
        |UNION ALL
        |SELECT CAST(2 AS INTEGER), CAST(2 AS INTEGER), o_orderstatus, n_orders, sum_price
        |FROM v2
        |ORDER BY snapshot_version, o_orderstatus""".stripMargin,

    // Compaction: the exact columns replay the live data (v3 = v2 =
    // keys % 3 in (0,1)) and the v1 time-travel count; the layout facts
    // are TRUE-asserted booleans (file counts are engine-layout, not
    // protocol, facts).
    "q_src_acid_compact" ->
      """WITH v2 AS (SELECT COUNT(*) AS n,
        |        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sp
        |      FROM orders WHERE o_orderkey % 3 IN (0, 1)),
        |v1 AS (SELECT COUNT(*) AS n FROM orders WHERE o_orderkey % 3 = 0)
        |SELECT CAST(3 AS INTEGER) AS latest_version,
        |  v2.n AS n_orders_latest, v2.sp AS sum_price_latest,
        |  v1.n AS n_orders_v1,
        |  TRUE AS data_unchanged, TRUE AS files_reduced,
        |  TRUE AS compacted_single_file
        |FROM v2, v1""".stripMargin,

    // Copy-on-write MERGE: the merge itself replayed relationally —
    // updates (keys % 9 = 0, +1000.00) override, inserts (% 3 = 1)
    // extend, untouched target rows survive.
    "q_src_acid_merge" ->
      """WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice
        |       FROM orders WHERE o_orderkey % 3 = 0),
        |src AS (SELECT o_orderkey, o_orderstatus, o_totalprice + 1000.0 AS o_totalprice
        |        FROM orders WHERE o_orderkey % 9 = 0
        |        UNION ALL
        |        SELECT o_orderkey, o_orderstatus, o_totalprice
        |        FROM orders WHERE o_orderkey % 3 = 1),
        |m AS (SELECT * FROM base
        |      WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
        |      UNION ALL SELECT * FROM src),
        |v1 AS (SELECT COUNT(*) AS n FROM base)
        |SELECT CAST(2 AS INTEGER) AS latest_version, o_orderstatus,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  (SELECT n FROM v1) AS n_orders_v1
        |FROM m GROUP BY 2 ORDER BY 2""".stripMargin,

    // CDC diff: change classes replayed straight from the key
    // residues (update = % 9 = 0, insert = % 3 = 1, unchanged = the
    // rest of the base); per-row float deltas spelled as the SAME IEEE
    // expression the engine evaluates.
    "q_src_acid_diff" ->
      """WITH u AS (SELECT 'update' AS change_type,
        |        o_totalprice + 1000.0 AS p_after,
        |        (o_totalprice + 1000.0) - o_totalprice AS p_delta
        |      FROM orders WHERE o_orderkey % 9 = 0),
        |i AS (SELECT 'insert' AS change_type, o_totalprice AS p_after,
        |        o_totalprice AS p_delta
        |      FROM orders WHERE o_orderkey % 3 = 1),
        |nc AS (SELECT 'unchanged' AS change_type, o_totalprice AS p_after,
        |        0.0 AS p_delta
        |      FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey % 9 <> 0),
        |ch AS (SELECT * FROM u UNION ALL SELECT * FROM i UNION ALL SELECT * FROM nc)
        |SELECT change_type, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(p_after AS DECIMAL(18,2))) AS DOUBLE) AS sum_price_after,
        |  CAST(SUM(CAST(p_delta AS DECIMAL(18,2))) AS DOUBLE) AS sum_price_delta
        |FROM ch GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_src_partitioned_sink" ->
      """SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |  COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS val_sum
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // Z-order layout evaluator: the Morton interleave, NTILE file
    // packing and zone-map probe replayed in SQL (DuckDB's global NTILE
    // is its own engine's concern; Spark packs via Dist.ntile).
    "q_src_zorder_layout" -> {
      val z = (0 until SourceOps.ZBits).map(i =>
        s"((((user_id & 65535) >> $i) & 1) << ${2 * i})" +
          s" + ((((CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '2024-01-01' AS BIGINT) & 65535) >> $i) & 1) << ${2 * i + 1})")
        .mkString(" + ")
      s"""WITH ev AS (SELECT event_id, user_id, $z AS zv FROM events),
         |hi AS (SELECT MIN(user_id) AS lo, MAX(user_id) // 10 AS h FROM ev),
         |nat AS (SELECT user_id, NTILE(${SourceOps.ZFiles})
         |          OVER (ORDER BY event_id) AS file_id FROM ev),
         |zo AS (SELECT user_id, NTILE(${SourceOps.ZFiles})
         |          OVER (ORDER BY zv, event_id) AS file_id FROM ev),
         |natf AS (SELECT file_id, MIN(user_id) AS mn, MAX(user_id) AS mx, COUNT(*) AS c
         |         FROM nat GROUP BY 1),
         |zof AS (SELECT file_id, MIN(user_id) AS mn, MAX(user_id) AS mx, COUNT(*) AS c
         |        FROM zo GROUP BY 1),
         |agg AS (
         |  SELECT 'natural' AS layout, CAST(COUNT(*) AS BIGINT) AS n_files,
         |    CAST(SUM(CASE WHEN mn <= (SELECT h FROM hi)
         |      AND mx >= (SELECT lo FROM hi) THEN 1 ELSE 0 END) AS BIGINT) AS files_hit,
         |    CAST(SUM(c) AS BIGINT) AS n_rows FROM natf
         |  UNION ALL
         |  SELECT 'zorder', CAST(COUNT(*) AS BIGINT),
         |    CAST(SUM(CASE WHEN mn <= (SELECT h FROM hi)
         |      AND mx >= (SELECT lo FROM hi) THEN 1 ELSE 0 END) AS BIGINT),
         |    CAST(SUM(c) AS BIGINT) FROM zof)
         |SELECT layout, n_files, files_hit,
         |  ROUND(CAST(files_hit AS DOUBLE) / CAST(n_files AS DOUBLE), 6) AS hit_ratio,
         |  n_rows
         |FROM agg ORDER BY layout""".stripMargin
    },

    // Pivot∘unpivot round trip collapses to the plain long-form group-by.
    "q_unpivot_stack" ->
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS yr, o_orderstatus,
        |  COUNT(*) AS n_orders
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_win_nth_value" ->
      """SELECT o_custkey, n_orders, second_price, third_price FROM (
        |  SELECT o_custkey,
        |    COUNT(*) OVER wf AS n_orders,
        |    nth_value(o_totalprice, 2) OVER wf AS second_price,
        |    nth_value(o_totalprice, 3) OVER wf AS third_price,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
        |  FROM orders
        |  WINDOW wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |) WHERE rn = 1 ORDER BY o_custkey""".stripMargin,

    "q_time_spine" ->
      """WITH ev AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day FROM events),
        |per AS (SELECT day, COUNT(*) AS n_events FROM ev GROUP BY 1),
        |bounds AS (SELECT MIN(day) AS mn, MAX(day) AS mx FROM ev),
        |spine AS (SELECT CAST(UNNEST(generate_series(CAST(mn AS TIMESTAMP),
        |                  CAST(mx AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
        |          FROM bounds)
        |SELECT s.day, COALESCE(p.n_events, 0) AS n_events
        |FROM spine s LEFT JOIN per p USING (day) ORDER BY s.day""".stripMargin,

    "q_stream_dedup_wm" ->
      """WITH dd AS (SELECT DISTINCT user_id, event_type,
        |  date_trunc('minute', CAST(ts AS TIMESTAMP)) AS minute FROM events)
        |SELECT event_type, COUNT(*) AS n_keys, COUNT(DISTINCT user_id) AS n_users
        |FROM dd GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_stream_interval_outer" ->
      """WITH p AS (SELECT event_id AS p_id, user_id AS pu, CAST(ts AS TIMESTAMP) AS pts
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS c_id, user_id AS cu, CAST(ts AS TIMESTAMP) AS cts
        |      FROM events WHERE event_type = 'click'),
        |j AS (SELECT p_id, pts, c_id, cts FROM p FULL OUTER JOIN c
        |      ON pu = cu AND cts <= pts AND cts >= pts - INTERVAL 30 MINUTE)
        |SELECT CAST(COALESCE(pts, cts) AS DATE) AS day,
        |  CAST(SUM(CASE WHEN p_id IS NOT NULL AND c_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
        |  CAST(SUM(CASE WHEN c_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase_only,
        |  CAST(SUM(CASE WHEN p_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_click_only
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_stream_scd2" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
        |  lag(event_type) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_type
        |  FROM events),
        |ch AS (SELECT user_id, event_id, ts, event_type FROM e
        |       WHERE prev_type IS NULL OR prev_type <> event_type)
        |SELECT user_id, event_id, event_type, ts AS valid_from,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
        |FROM ch ORDER BY user_id, event_id""".stripMargin,

    // Bit-exact keep-decision replay: every arithmetic step is the same
    // fixed IEEE double sequence (all literals CAST to DOUBLE — DuckDB
    // bare decimal literals are DECIMAL and would diverge).
    "q_llm_rejection_sample" ->
      """WITH d AS (SELECT doc_id, lang, len(string_split(text, ' ')) AS nt FROM documents),
        |p AS (SELECT lang, CAST(SUM(nt) AS BIGINT) AS lang_tokens FROM d GROUP BY 1),
        |tot AS (SELECT CAST(SUM(lang_tokens) AS BIGINT) AS total FROM p),
        |k AS (SELECT d.lang,
        |  LEAST(CAST(1.0 AS DOUBLE),
        |        CAST(0.5 AS DOUBLE) * (CAST(0.2 AS DOUBLE) * tot.total / p.lang_tokens)) AS pk,
        |  CAST('0x' || substr(md5('rs:' || CAST(d.doc_id AS VARCHAR)), 1, 15) AS BIGINT)
        |    / CAST(1152921504606846976 AS DOUBLE) AS u
        |  FROM d JOIN p USING (lang) CROSS JOIN tot)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN u < pk THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  MAX(pk) AS p_keep,
        |  CAST(SUM(CASE WHEN u < pk THEN 1 ELSE 0 END) AS BIGINT) / CAST(COUNT(*) AS DOUBLE) AS acceptance
        |FROM k GROUP BY lang ORDER BY lang""".stripMargin,

    // Full CMS replay: same md5 60-bit family, same 4×256 grid.
    // Round 7 (driver). Relational HyperLogLog, md5 family: bucket/rho
    // via exact integer bit ops (bin() strips leading zeros in both
    // engines), registers = MAX per bucket over a 256-row spine, exact
    // integer harmonic denominator, pinned estimate expression.
    "q_agg_hll_md5" ->
      """WITH ev AS (SELECT event_type, user_id,
        |    CAST('0x' || substr(md5('hll:' || CAST(user_id AS VARCHAR)), 1, 15)
        |      AS BIGINT) AS h
        |  FROM events),
        |regs AS (SELECT event_type, h >> 52 AS bucket,
        |    MAX(CASE WHEN (h & 4503599627370495) = 0 THEN 53
        |         ELSE 53 - length(bin(h & 4503599627370495)) END) AS mj
        |  FROM ev GROUP BY 1, 2),
        |spine AS (SELECT DISTINCT event_type FROM ev),
        |bk AS (SELECT UNNEST(range(0, 256)) AS sb),
        |full0 AS (SELECT s.event_type, COALESCE(r.mj, 0) AS m
        |  FROM spine s CROSS JOIN bk
        |  LEFT JOIN regs r ON r.event_type = s.event_type AND r.bucket = bk.sb),
        |sk AS (SELECT event_type,
        |    CAST(SUM(1::BIGINT << CAST(53 - m AS INT)) AS BIGINT) AS z_scaled,
        |    CAST(SUM(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_zero
        |  FROM full0 GROUP BY 1),
        |ex AS (SELECT event_type AS et, COUNT(DISTINCT user_id) AS n_exact
        |       FROM ev GROUP BY 1),
        |f AS (SELECT sk.event_type, ex.n_exact, sk.z_scaled, sk.v_zero,
        |    CAST(0.7213 AS DOUBLE)
        |      / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST(256.0 AS DOUBLE))
        |      * CAST(256.0 AS DOUBLE) * CAST(256.0 AS DOUBLE)
        |      * CAST(9007199254740992.0 AS DOUBLE)
        |      / CAST(z_scaled AS DOUBLE) AS e_raw
        |  FROM sk JOIN ex ON sk.event_type = ex.et)
        |SELECT event_type, n_exact, z_scaled, v_zero,
        |  ROUND(CASE WHEN e_raw <= CAST(2.5 AS DOUBLE) * CAST(256.0 AS DOUBLE)
        |               AND v_zero > 0
        |        THEN CAST(256.0 AS DOUBLE)
        |             * ln(CAST(256.0 AS DOUBLE) / CAST(v_zero AS DOUBLE))
        |        ELSE e_raw END, 6) AS est
        |FROM f ORDER BY event_type""".stripMargin,

    "q_llm_cms_topk" ->
      s"""WITH tok AS (SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents),
         |tok2 AS (SELECT tok FROM tok WHERE len(tok) > 0),
         |exact_cnt AS (SELECT tok, COUNT(*) AS "exact" FROM tok2 GROUP BY 1),
         |topt AS (SELECT tok, "exact" FROM exact_cnt ORDER BY "exact" DESC, tok ASC LIMIT 10),
         |ds AS (SELECT UNNEST([0, 1, 2, 3]) AS d),
         |salted AS (SELECT d,
         |    CAST('0x' || substr(md5(CAST(d AS VARCHAR) || ':' || tok), 1, 15) AS BIGINT)
         |      % ${SketchOps.CmsWidth} AS bucket
         |  FROM tok2 CROSS JOIN ds),
         |cms AS (SELECT d, bucket, COUNT(*) AS c FROM salted GROUP BY 1, 2),
         |probes AS (SELECT t.tok, t."exact", ds.d,
         |    CAST('0x' || substr(md5(CAST(ds.d AS VARCHAR) || ':' || t.tok), 1, 15) AS BIGINT)
         |      % ${SketchOps.CmsWidth} AS bucket
         |  FROM topt t CROSS JOIN ds)
         |SELECT p.tok, p."exact", MIN(c.c) AS est, MIN(c.c) - p."exact" AS overcount
         |FROM probes p JOIN cms c ON p.d = c.d AND p.bucket = c.bucket
         |GROUP BY p.tok, p."exact" ORDER BY p."exact" DESC, p.tok ASC""".stripMargin,

    "q_llm_shard_assign" ->
      s"""WITH d AS (SELECT doc_id, len(string_split(text, ' ')) AS n_toks,
         |  CAST('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
         |    % ${SketchOps.NumShards} AS shard FROM documents),
         |per AS (SELECT shard, COUNT(*) AS n_docs, CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
         |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc FROM d GROUP BY 1)
         |SELECT shard, n_docs, n_tokens, min_doc, max_doc,
         |  ROUND(n_tokens / (SUM(n_tokens) OVER () / ${SketchOps.NumShards}), 6) AS balance
         |FROM per ORDER BY shard""".stripMargin
  )

  /** Round-6 graph/GNN additions: personalized PageRank (unrolled power
    * iteration, same shape as q_graph_pagerank) and the deterministic
    * random-walk sampler (one unrolled CTE per step, md5-argmin next
    * hop). MATERIALIZED hints per the round-4 kcore lesson: every CTE a
    * step chain references more than once is pinned. */
  val round6graph: Map[String, String] = Map(
    "q_graph_ppr" -> {
      // per-term 1e9-scaled BIGINT rounding + exact sum, mirroring the
      // Spark loop (order-blind; the outer teleport SUM folds ≤2 rows —
      // IEEE addition of two doubles is commutative, so no order class
      // exists there)
      val steps = (1 to GraphOps.PprIters).map { i =>
        s"""r$i AS (SELECT node, SUM(r) AS r FROM (
           |  SELECT u.dst AS node, CAST(0.85 AS DOUBLE)
           |    * (CAST(SUM(CAST(ROUND(p.r / dg.d * 1e9, 0) AS BIGINT)) AS DOUBLE) / 1e9) AS r
           |  FROM u JOIN r${i - 1} p ON u.src = p.node
           |         JOIN deg dg ON u.src = dg.node
           |  GROUP BY u.dst
           |  UNION ALL SELECT sn AS node, CAST(0.15 AS DOUBLE) FROM seed)
           |GROUP BY node)""".stripMargin
      }.mkString(",\n")
      s"""WITH $edgesCte,
         |e2 AS (SELECT src * 2 AS src, dst * 2 + 1 AS dst FROM edges),
         |u AS MATERIALIZED (SELECT src, dst FROM e2 UNION ALL SELECT dst AS src, src AS dst FROM e2),
         |deg AS MATERIALIZED (SELECT src AS node, COUNT(*) AS d FROM u GROUP BY 1),
         |seed AS MATERIALIZED (SELECT MIN(node) AS sn FROM deg WHERE node % 2 = 1),
         |r0 AS (SELECT sn AS node, CAST(1.0 AS DOUBLE) AS r FROM seed),
         |$steps
         |SELECT (node - 1) // 2 AS part_key, ROUND(r, 6) AS rank
         |FROM r${GraphOps.PprIters} WHERE node % 2 = 1 AND ROUND(r, 6) > 0
         |ORDER BY rank DESC, part_key ASC LIMIT 20""".stripMargin
    },

    "q_gnn_rand_walk" -> {
      val steps = (1 to Gnn.WalkSteps).map { i =>
        val prior = (1 until i).map(j => s"w.s$j, ").mkString
        s"""w$i AS MATERIALIZED (SELECT seed, ${(1 to i).map(j => s"s$j").mkString(", ")}, s$i AS cur FROM (
           |  SELECT w.seed, ${prior}ue.b AS s$i,
           |    ROW_NUMBER() OVER (PARTITION BY w.seed ORDER BY
           |      CAST('0x' || substr(md5('walk:' || CAST(w.seed AS VARCHAR) || ':$i:' ||
           |        CAST(w.cur AS VARCHAR) || ':' || CAST(ue.b AS VARCHAR)), 1, 15) AS BIGINT),
           |      ue.b) AS rn
           |  FROM w${i - 1} w JOIN ue ON w.cur = ue.a) WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      val sCols = (1 to Gnn.WalkSteps).map(j => s"s$j").mkString(", ")
      s"""WITH $edgesCte,
         |pp AS MATERIALIZED (SELECT e1.dst AS a, e2.dst AS b
         |  FROM edges e1 JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
         |  GROUP BY 1, 2 HAVING COUNT(*) >= ${GraphOps.TriangleMinCooccur}),
         |ue AS MATERIALIZED (SELECT a, b FROM pp UNION ALL SELECT b AS a, a AS b FROM pp),
         |w0 AS (SELECT DISTINCT a AS seed, a AS cur FROM ue),
         |$steps
         |SELECT seed, $sCols,
         |  CAST(len(list_distinct([seed, $sCols])) AS BIGINT) AS n_distinct
         |FROM w${Gnn.WalkSteps} ORDER BY seed""".stripMargin
    },

    // Skip-gram pair extraction over the SAME walk chain as
    // q_gnn_rand_walk: every position pairs with neighbors within ±2
    // hops; exact integer counts, full tie-break.
    "q_gnn_walk_context" -> {
      val steps = (1 to Gnn.WalkSteps).map { i =>
        val prior = (1 until i).map(j => s"w.s$j, ").mkString
        s"""w$i AS MATERIALIZED (SELECT seed, ${(1 to i).map(j => s"s$j").mkString(", ")}, s$i AS cur FROM (
           |  SELECT w.seed, ${prior}ue.b AS s$i,
           |    ROW_NUMBER() OVER (PARTITION BY w.seed ORDER BY
           |      CAST('0x' || substr(md5('walk:' || CAST(w.seed AS VARCHAR) || ':$i:' ||
           |        CAST(w.cur AS VARCHAR) || ':' || CAST(ue.b AS VARCHAR)), 1, 15) AS BIGINT),
           |      ue.b) AS rn
           |  FROM w${i - 1} w JOIN ue ON w.cur = ue.a) WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      val sCols = (1 to Gnn.WalkSteps).map(j => s"s$j").mkString(", ")
      val len = Gnn.WalkSteps + 1
      s"""WITH $edgesCte,
         |pp AS MATERIALIZED (SELECT e1.dst AS a, e2.dst AS b
         |  FROM edges e1 JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
         |  GROUP BY 1, 2 HAVING COUNT(*) >= ${GraphOps.TriangleMinCooccur}),
         |ue AS MATERIALIZED (SELECT a, b FROM pp UNION ALL SELECT b AS a, a AS b FROM pp),
         |w0 AS (SELECT DISTINCT a AS seed, a AS cur FROM ue),
         |$steps,
         |arrs AS (SELECT [seed, $sCols] AS arr FROM w${Gnn.WalkSteps}),
         |pairs AS (SELECT arr[CAST(u1.i + 1 AS INT)] AS center,
         |    arr[CAST(u2.j + 1 AS INT)] AS context
         |  FROM arrs, UNNEST(range(0, $len)) u1(i), UNNEST(range(0, $len)) u2(j)
         |  WHERE u1.i <> u2.j AND ABS(u1.i - u2.j) <= ${Gnn.CtxWindow})
         |SELECT center, context, COUNT(*) AS cnt
         |FROM pairs GROUP BY 1, 2
         |ORDER BY cnt DESC, center ASC, context ASC LIMIT 20""".stripMargin
    },

    // Second-order biased walk: per step ONE left join classifies each
    // candidate against prev (return / common-neighbor / farther) and
    // the hash is integer-divided by the scaled p=4,q=2 weight — `//`
    // on non-negative BIGINTs matches Spark's `div` exactly. Step 1 has
    // no prev and replays the uniform argmin.
    "q_gnn_node2vec" -> {
      def hx(i: Int) =
        s"""CAST('0x' || substr(md5('n2v:' || CAST(w.seed AS VARCHAR) || ':$i:' ||
           |        CAST(w.cur AS VARCHAR) || ':' || CAST(ue.b AS VARCHAR)), 1, 15) AS BIGINT)""".stripMargin
      val steps = (1 to Gnn.N2vSteps).map { i =>
        val priorSel = (1 until i).map(j => s"w.s$j, ").mkString
        val outCols = (1 to i).map(j => s"s$j").mkString(", ")
        if (i == 1)
          s"""w1 AS MATERIALIZED (SELECT seed, s1, s1 AS cur, cur_old AS prev FROM (
             |  SELECT w.seed, w.cur AS cur_old, ue.b AS s1,
             |    ROW_NUMBER() OVER (PARTITION BY w.seed ORDER BY ${hx(i)}, ue.b) AS rn
             |  FROM w0 w JOIN ue ON w.cur = ue.a) WHERE rn = 1)""".stripMargin
        else
          s"""w$i AS MATERIALIZED (SELECT seed, $outCols, s$i AS cur, cur_old AS prev FROM (
             |  SELECT w.seed, ${priorSel}w.cur AS cur_old, ue.b AS s$i,
             |    ROW_NUMBER() OVER (PARTITION BY w.seed ORDER BY
             |      ${hx(i)}
             |      // (CASE WHEN ue.b = w.prev THEN 1
             |            WHEN adj.b IS NOT NULL THEN 4 ELSE 2 END),
             |      ue.b) AS rn
             |  FROM w${i - 1} w JOIN ue ON w.cur = ue.a
             |  LEFT JOIN ue adj ON adj.a = w.prev AND adj.b = ue.b) WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      val sCols = (1 to Gnn.N2vSteps).map(j => s"s$j").mkString(", ")
      s"""WITH $edgesCte,
         |pp AS MATERIALIZED (SELECT e1.dst AS a, e2.dst AS b
         |  FROM edges e1 JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
         |  GROUP BY 1, 2 HAVING COUNT(*) >= ${GraphOps.TriangleMinCooccur}),
         |ue AS MATERIALIZED (SELECT a, b FROM pp UNION ALL SELECT b AS a, a AS b FROM pp),
         |w0 AS (SELECT DISTINCT a AS seed, a AS cur, a AS prev FROM ue),
         |$steps
         |SELECT seed, $sCols,
         |  CAST(len(list_distinct([seed, $sCols])) AS BIGINT) AS n_distinct
         |FROM w${Gnn.N2vSteps} ORDER BY seed""".stripMargin
    }
  )

  /** §0.1 — streaming HDRF edge partitioning: the sequential greedy fold
    * replayed as a recursive CTE whose working row carries the whole
    * partitioner state (partition sizes, vertex replica set, partial
    * degree table) as list-typed columns, advanced one edge per
    * recursion step. Score arithmetic is ordered exactly as the Scala
    * kernel's (θ division, 2−θ, g-sum, + λ·balance) so the argmax —
    * list_position picks the FIRST max, the lowest-index tie-break —
    * matches bit-for-bit. Validated against an independent scripted
    * replay of the greedy rule before wiring (round-5 notes, PERF.md). */
  val partitioning: Map[String, String] = Map(
    "q_graph_partition_hdrf" -> {
      val k = PartitionOps.HdrfK
      val plist = (0 until k).mkString("[", ",", "]")
      val zeros = Seq.fill(k)("0").mkString("[", ",", "]")
      val lam = PartitionOps.HdrfLambda.toInt // written as CAST(n AS DOUBLE)
      val eps = PartitionOps.HdrfEps.toInt // written as CAST(n AS DOUBLE)
      s"""WITH RECURSIVE $edgesCte,
         |es AS (SELECT row_number() OVER (ORDER BY src, dst) AS i,
         |              src*2 AS u, dst*2+1 AS v
         |       FROM (SELECT src, dst FROM edges ORDER BY src, dst LIMIT ${PartitionOps.HdrfEdges})),
         |st AS (
         |  SELECT 0::BIGINT AS i,
         |         $zeros::BIGINT[] AS sizes,
         |         CAST([] AS STRUCT(v BIGINT, p INTEGER)[]) AS reps,
         |         CAST([] AS STRUCT(v BIGINT, d BIGINT)[]) AS degs
         |  UNION ALL
         |  SELECT i, sizes2 AS sizes, reps2 AS reps, degs2 AS degs FROM (
         |    SELECT q2.i,
         |      list_transform($plist, q -> CASE WHEN q = pstar THEN sizes[q+1] + 1 ELSE sizes[q+1] END) AS sizes2,
         |      reps
         |        || (CASE WHEN len(list_filter(reps, r -> r.v = u AND r.p = pstar)) > 0
         |            THEN CAST([] AS STRUCT(v BIGINT, p INTEGER)[])
         |            ELSE [struct_pack(v := u, p := pstar)] END)
         |        || (CASE WHEN len(list_filter(reps, r -> r.v = v AND r.p = pstar)) > 0
         |            THEN CAST([] AS STRUCT(v BIGINT, p INTEGER)[])
         |            ELSE [struct_pack(v := v, p := pstar)] END) AS reps2,
         |      list_transform(degs, x -> CASE WHEN x.v = u OR x.v = v
         |                                THEN struct_pack(v := x.v, d := x.d + 1) ELSE x END)
         |        || (CASE WHEN list_contains(list_transform(degs, x -> x.v), u)
         |            THEN CAST([] AS STRUCT(v BIGINT, d BIGINT)[])
         |            ELSE [struct_pack(v := u, d := 1::BIGINT)] END)
         |        || (CASE WHEN list_contains(list_transform(degs, x -> x.v), v)
         |            THEN CAST([] AS STRUCT(v BIGINT, d BIGINT)[])
         |            ELSE [struct_pack(v := v, d := 1::BIGINT)] END) AS degs2
         |    FROM (
         |      SELECT q1.*,
         |        CAST(list_position(scores, list_max(scores)) - 1 AS INTEGER) AS pstar
         |      FROM (
         |        SELECT q0.*,
         |          list_transform($plist, p ->
         |            ((CASE WHEN len(list_filter(reps, r -> r.v = u AND r.p = p)) > 0
         |                THEN 2 - (du / (du + dv)) ELSE CAST(0 AS DOUBLE) END)
         |             + (CASE WHEN len(list_filter(reps, r -> r.v = v AND r.p = p)) > 0
         |                THEN 2 - (dv / (du + dv)) ELSE CAST(0 AS DOUBLE) END))
         |            + CAST($lam AS DOUBLE) *
         |              ((list_max(sizes) - sizes[p+1]) /
         |               (CAST($eps AS DOUBLE) + (list_max(sizes) - list_min(sizes))))) AS scores
         |        FROM (
         |          SELECT e.i, e.u, e.v, st.sizes, st.reps, st.degs,
         |            coalesce(list_filter(st.degs, x -> x.v = e.u)[1].d, 0) + 1 AS du,
         |            coalesce(list_filter(st.degs, x -> x.v = e.v)[1].d, 0) + 1 AS dv
         |          FROM st JOIN es e ON e.i = st.i + 1
         |        ) q0
         |      ) q1
         |    ) q2
         |  ) q3
         |),
         |fin AS (SELECT * FROM st WHERE i = (SELECT MAX(i) FROM st))
         |SELECT p AS partition, fin.sizes[p+1] AS n_edges,
         |  CAST(len(list_filter(fin.reps, r -> r.p = p)) AS BIGINT) AS n_replicas
         |FROM fin, UNNEST($plist) AS t(p)
         |ORDER BY 1""".stripMargin
    }
  )

  /** §2.11 cont. — GNN training loops (TrainOps). The example-set CTE
    * chain replicates q_gnn_sgd_step's; each step's scalar weight/moment
    * updates are carried through 1-row CTEs cross-joined into the next
    * step's scoring — the SQL mirror of the driver-side scalar loop.
    * feat MATERIALIZED: the unrolled steps each re-reference it. */
  private val linkPredFeatCte: String = {
    val mAvgs = (1 to 4)
      .map(j => s"ROUND(AVG(CAST(emb.embedding[$j] AS DOUBLE)), 6) AS m$j").mkString(", ")
    val feats = (1 to 4)
      .map(j => s"m.m$j * CAST(emb.embedding[$j] AS DOUBLE) AS f$j").mkString(", ")
    s"""ne AS (SELECT COUNT(*) AS c FROM embeddings),
       |np AS (SELECT COUNT(*) AS np FROM part),
       |m AS (SELECT e.src AS cust, $mAvgs
       |      FROM edges e CROSS JOIN ne
       |      JOIN embeddings emb ON emb.vec_id = e.dst % ne.c
       |      GROUP BY 1),
       |pos AS (SELECT src, dst AS p, CAST(1 AS DOUBLE) AS y FROM edges),
       |negraw AS (SELECT src,
       |  CAST('0x' || substr(md5(CAST(src AS VARCHAR) || ':' ||
       |    CAST(dst AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 15) AS BIGINT)
       |    % np AS p
       |  FROM edges CROSS JOIN np,
       |    UNNEST([${(0 until Gnn.NegK).mkString(", ")}]) AS u(i)),
       |neg AS (SELECT n.src, n.p, CAST(0 AS DOUBLE) AS y FROM negraw n
       |        WHERE NOT EXISTS (SELECT 1 FROM edges e
       |                          WHERE e.src = n.src AND e.dst = n.p)),
       |ex AS (SELECT * FROM pos UNION ALL SELECT * FROM neg),
       |feat AS MATERIALIZED (SELECT ex.src, ex.p, ex.y, $feats
       |         FROM ex CROSS JOIN ne
       |         JOIN embeddings emb ON emb.vec_id = ex.p % ne.c
       |         JOIN m ON m.cust = ex.src)""".stripMargin
  }

  /** Initial link-prediction weight literal (Gnn.sgdW). */
  private def sgdWLit(j: Int): String = s"(CAST(${(j - 1) * 17 % 7 - 3} AS DOUBLE)/10)"

  /** Score fold at weights taken from 1-row CTE alias `w`. */
  private def scoreFoldSql(ref: Int => String): String =
    (1 to 4).map(j => s"${ref(j)}*f$j").mkString(" + ")

  /** One gradient-evaluation step: sc/ag CTE pair at the weights of the
    * 1-row CTE `$wFrom` (columns w1..w4), over example source `from`
    * (the full `feat` MV, or a mini-batch slice of it). */
  private def gradStepCtes(t: Int, wFrom: String, from: String = "feat"): String = {
    val sig = s"1/(1+exp(-(${scoreFoldSql(j => s"w.w$j")})))"
    // 1e9-scaled BIGINT sums mirroring TrainOps.gradEval: round the SAME
    // IEEE product x*1e9 in both engines (zero near-tie divergence,
    // unlike decimal-vs-float ROUND(x,9)), sum exact longs.
    val grads = (1 to 4)
      .map(j => s"SUM(CAST(ROUND(resid*f$j*1e9, 0) AS BIGINT)) AS g$j").mkString(", ")
    s"""sc$t AS (SELECT y, f1, f2, f3, f4,
       |    ROUND($sig - y, 9) AS resid,
       |    CAST(ROUND(-(y*ln($sig) + (1-y)*ln(1 - $sig)) * 1e9, 0) AS BIGINT) AS lossr9
       |  FROM $from CROSS JOIN $wFrom w),
       |ag$t AS (SELECT COUNT(*) AS n_ex,
       |    SUM(lossr9) AS losssum, $grads
       |  FROM sc$t),
       |gn$t AS (SELECT n_ex,
       |    ROUND(CAST(losssum AS DOUBLE) / 1e9 / n_ex, 6) AS mean_loss,
       |    ${(1 to 4).map(j => s"CAST(g$j AS DOUBLE) / 1e9 / n_ex AS gn$j").mkString(", ")}
       |  FROM ag$t)""".stripMargin
  }

  val train: Map[String, String] = Map(
    "q_gnn_sgd_epoch" -> {
      val w0 = (1 to 4).map(j => s"${sgdWLit(j)} AS w$j").mkString(", ")
      val steps = (1 to TrainOps.EpochSteps).map { t =>
        val wNew = (1 to 4)
          .map(j => s"w.w$j - (CAST(1 AS DOUBLE)/10) * g.gn$j AS w$j").mkString(", ")
        s"""${gradStepCtes(t, s"w${t - 1}")},
           |w$t AS (SELECT $wNew, g.mean_loss AS mean_loss
           |        FROM gn$t g CROSS JOIN w${t - 1} w)""".stripMargin
      }.mkString(",\n")
      val out = (1 to TrainOps.EpochSteps).map { t =>
        s"""SELECT CAST($t AS INT) AS step, mean_loss,
           |  ${(1 to 4).map(j => s"ROUND(w$j, 6) AS w$j").mkString(", ")} FROM w$t""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $edgesCte,
         |$linkPredFeatCte,
         |w0 AS (SELECT $w0),
         |$steps
         |$out
         |ORDER BY step""".stripMargin
    },

    // Mini-batch SGD: the same unrolled-CTE device as the epoch loop,
    // but each step's gradient reads its md5-assigned batch slice (the
    // identical 60-bit md5 decode as the negative sampler) and the
    // weights carry batch-to-batch across 2 epochs x 2 batches.
    "q_gnn_sgd_minibatch" -> {
      val w0 = (1 to 4).map(j => s"${sgdWLit(j)} AS w$j").mkString(", ")
      val bidExpr = "CAST('0x' || substr(md5('b:' || CAST(src AS VARCHAR) || ':' || " +
        s"CAST(p AS VARCHAR)), 1, 15) AS BIGINT) % ${TrainOps.MiniBatches}"
      val batchCtes = (0 until TrainOps.MiniBatches).map(b =>
        s"fb$b AS (SELECT * FROM fbid WHERE bid = $b)").mkString(",\n")
      val nSteps = TrainOps.MiniEpochs * TrainOps.MiniBatches
      val steps = (1 to nSteps).map { t =>
        val b = (t - 1) % TrainOps.MiniBatches
        val wNew = (1 to 4)
          .map(j => s"w.w$j - (CAST(1 AS DOUBLE)/10) * g.gn$j AS w$j").mkString(", ")
        s"""${gradStepCtes(t, s"w${t - 1}", s"fb$b")},
           |w$t AS (SELECT $wNew, g.mean_loss AS mean_loss
           |        FROM gn$t g CROSS JOIN w${t - 1} w)""".stripMargin
      }.mkString(",\n")
      val out = (1 to nSteps).map { t =>
        s"""SELECT CAST($t AS INT) AS step, mean_loss,
           |  ${(1 to 4).map(j => s"ROUND(w$j, 6) AS w$j").mkString(", ")} FROM w$t""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $edgesCte,
         |$linkPredFeatCte,
         |fbid AS MATERIALIZED (SELECT *, $bidExpr AS bid FROM feat),
         |$batchCtes,
         |w0 AS (SELECT $w0),
         |$steps
         |$out
         |ORDER BY step""".stripMargin
    },

    "q_gnn_adam_step" -> {
      val b1 = "(CAST(9 AS DOUBLE)/10)"
      val b2 = "(CAST(999 AS DOUBLE)/1000)"
      // bias-correction denominators as explicit literal products (no pow)
      def prod(lit: String, t: Int): String = Seq.fill(t)(lit).mkString("*")
      val st0 = ((1 to 4).map(j => s"${sgdWLit(j)} AS w$j") ++
        (1 to 4).map(j => s"CAST(0 AS DOUBLE) AS m$j") ++
        (1 to 4).map(j => s"CAST(0 AS DOUBLE) AS v$j")).mkString(", ")
      val steps = (1 to TrainOps.AdamSteps).map { t =>
        val mv = ((1 to 4).map(j => s"p.w$j AS ow$j") ++
          (1 to 4).map(j => s"$b1*p.m$j + (1 - $b1)*g.gn$j AS m$j") ++
          (1 to 4).map(j => s"$b2*p.v$j + (1 - $b2)*(g.gn$j*g.gn$j) AS v$j"))
          .mkString(", ")
        val wNew = (1 to 4).map(j =>
          s"""ow$j - (CAST(1 AS DOUBLE)/10) * ((m$j/(1 - ${prod(b1, t)}))
             | / (sqrt(v$j/(1 - ${prod(b2, t)})) + 1e-8)) AS w$j""".stripMargin)
          .mkString(", ")
        s"""${gradStepCtes(t, s"st${t - 1}")},
           |mv$t AS (SELECT $mv, g.mean_loss AS mean_loss
           |         FROM gn$t g CROSS JOIN st${t - 1} p),
           |st$t AS (SELECT $wNew,
           |  ${(1 to 4).map(j => s"m$j").mkString(", ")},
           |  ${(1 to 4).map(j => s"v$j").mkString(", ")}, mean_loss
           |  FROM mv$t)""".stripMargin
      }.mkString(",\n")
      val out = (1 to TrainOps.AdamSteps).map { t =>
        s"""SELECT CAST($t AS INT) AS step, mean_loss,
           |  ${(1 to 4).map(j => s"ROUND(w$j, 6) AS w$j").mkString(", ")} FROM st$t""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $edgesCte,
         |$linkPredFeatCte,
         |st0 AS (SELECT $st0),
         |$steps
         |$out
         |ORDER BY step""".stripMargin
    },

    // Exact Mann–Whitney AUC with average-rank tie handling, computed
    // over the DISTINCT-score histogram: 2·Σ_pos contributions stays an
    // exact integer; ONE double division at the end (no rounding — both
    // engines divide identical integers).
    "q_gnn_link_pred_auc" ->
      s"""WITH $edgesCte,
         |$linkPredFeatCte,
         |s AS (SELECT y, ${scoreFoldSql(sgdWLit)} AS sc FROM feat),
         |g AS (SELECT sc, SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS p,
         |             SUM(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS n
         |      FROM s GROUP BY sc),
         |c AS (SELECT p, n, COALESCE(SUM(n) OVER (ORDER BY sc
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumn
         |      FROM g),
         |a AS (SELECT CAST(SUM(p) AS BIGINT) AS n_pos,
         |             CAST(SUM(n) AS BIGINT) AS n_neg,
         |             CAST(SUM(p*(2*cumn + n)) AS BIGINT) AS num2 FROM c)
         |SELECT n_pos, n_neg,
         |  CAST(num2 AS DOUBLE) / ((CAST(2 AS DOUBLE) * n_pos) * n_neg) AS auc
         |FROM a""".stripMargin,

    "q_gnn_dropout_forward" -> {
      def mask(j: Int): String =
        s"""(CAST('0x' || substr(md5('drop:' || CAST(custkey AS VARCHAR) || ':$j'), 1, 15)
           | AS BIGINT) % 10 < ${TrainOps.DropTenths})""".stripMargin
      val ks = (1 to Gnn.Dim).map(j => s"${mask(j)} AS k$j").mkString(", ")
      val ms = (1 to Gnn.Dim).map(j => s"m$j").mkString(", ")
      val nd = "CAST(" +
        (1 to Gnn.Dim).map(j => s"(CASE WHEN k$j THEN 1 ELSE 0 END)").mkString(" + ") +
        " AS BIGINT) AS n_dropped"
      val ds = (1 to Gnn.Dim).map(j =>
        s"CASE WHEN k$j THEN CAST(0 AS DOUBLE) ELSE m$j*(CAST(10 AS DOUBLE)/7) END AS d$j")
        .mkString(", ")
      val hr = (0 until 4).map(i => s"${matmulExpr(i, "d")} AS h${i + 1}r").mkString(", ")
      val out = (0 until 4)
        .map(i => s"ROUND(${relu(s"h${i + 1}r")}, 6) AS h${i + 1}").mkString(", ")
      s"""WITH $edgesCte,
         |$meanCte,
         |k AS (SELECT custkey, $ms, $ks FROM m),
         |d AS (SELECT custkey, $nd, $ds FROM k),
         |hr AS (SELECT custkey, n_dropped, $hr FROM d)
         |SELECT custkey, n_dropped, $out FROM hr ORDER BY custkey""".stripMargin
    },

    "q_gnn_graphsage_pool" -> {
      def zExpr(i: Int): String = {
        val r = i + TrainOps.PoolOff
        val terms = (0 until Gnn.Dim).map { j =>
          s"(CAST(${(r * 31 + j * 17) % 7 - 3} AS DOUBLE)/10)*CAST(embedding[${j + 1}] AS DOUBLE)"
        }.mkString(" + ") + s" + CAST(${r % 5 - 2} AS DOUBLE)/10"
        s"ROUND(1/(1+exp(-($terms))), 9) AS z${i + 1}"
      }
      val zs = (0 until 4).map(zExpr).mkString(",\n  ")
      s"""WITH $edgesCte,
         |n AS (SELECT COUNT(*) AS c FROM embeddings),
         |f AS (SELECT e.src, emb.embedding
         |      FROM edges e CROSS JOIN n
         |      JOIN embeddings emb ON emb.vec_id = e.dst % n.c),
         |z AS (SELECT src,
         |  $zs
         |FROM f)
         |SELECT src AS custkey, COUNT(*) AS n_neigh,
         |  MAX(z1) AS p1, MAX(z2) AS p2, MAX(z3) AS p3, MAX(z4) AS p4
         |FROM z GROUP BY 1 ORDER BY 1""".stripMargin
    }
  )

  /** GIN convolution: 1e6-scaled integer features, exact integer
    * neighbor sums (the sum aggregator needs no rounding at all), dense
    * layer divides back to double per term. Plus LayerNorm over the
    * round-6-pinned mean vector — per-row pinned scalar math, raw
    * double output (no rounding exists to tie). */
  val gin: Map[String, String] = Map(
    "q_gnn_layer_norm" -> {
      val mAvgs = (1 to Gnn.Dim)
        .map(j => s"ROUND(AVG(CAST(emb.embedding[$j] AS DOUBLE)), 6) AS m$j")
        .mkString(", ")
      val mu = "(" + (1 to Gnn.Dim).map(j => s"m$j").mkString(" + ") + s") / ${Gnn.Dim}"
      val vr = "(" + (1 to Gnn.Dim).map(j => s"(m$j - mu) * (m$j - mu)").mkString(" + ") +
        s") / ${Gnn.Dim}"
      val outs = (1 to 4)
        .map(i => s"(m$i - mu) / sqrt(vr + 1e-5) AS ln$i").mkString(", ")
      s"""WITH $edgesCte,
         |n AS (SELECT COUNT(*) AS c FROM embeddings),
         |m AS (SELECT e.src AS custkey, $mAvgs
         |      FROM edges e CROSS JOIN n
         |      JOIN embeddings emb ON emb.vec_id = e.dst % n.c
         |      GROUP BY 1),
         |wm AS (SELECT *, $mu AS mu FROM m),
         |wv AS (SELECT *, $vr AS vr FROM wm)
         |SELECT custkey, $outs FROM wv ORDER BY custkey""".stripMargin
    },
    // Round 7 (driver). APPNP: 3 unrolled propagation CTEs — exact
    // integer neighbor sums, the dyadic 0.75/0.25 blend on identical
    // IEEE inputs, re-pinned to integer state by ROUND each step.
    "q_gnn_appnp" -> {
      val xq4 = (1 to 4).map(j =>
        s"CAST(ROUND(CAST(embedding[$j] AS DOUBLE) * 1000000, 0) AS BIGINT) AS x$j")
        .mkString(", ")
      def step(k: Int): String = {
        val prev = if (k == 1) "z0" else s"z${k - 1}"
        val sums = (1 to 4)
          .map(j => s"CAST(SUM(zb.z$j) AS BIGINT) AS s$j").mkString(", ")
        val blend = (1 to 4).map(j =>
          s"""CAST(ROUND(CAST(0.75 AS DOUBLE)
             |      * (CAST(ns.s$j AS DOUBLE) / CAST(f.deg AS DOUBLE))
             |      + CAST(0.25 AS DOUBLE) * CAST(f.x$j AS DOUBLE), 0)
             |    AS BIGINT) AS z$j""".stripMargin).mkString(",\n  ")
        s"""ns$k AS (SELECT ue.a, $sums
           |  FROM ue JOIN $prev zb ON ue.b = zb.node GROUP BY ue.a),
           |z$k AS (SELECT f.node,
           |  $blend
           |  FROM feats f JOIN ns$k ns ON f.node = ns.a)""".stripMargin
      }
      s"""WITH $edgesCte,
         |pp AS MATERIALIZED (SELECT e1.dst AS a, e2.dst AS b
         |       FROM edges e1 JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
         |       GROUP BY 1, 2 HAVING COUNT(*) >= ${GraphOps.TriangleMinCooccur}),
         |ue AS MATERIALIZED (SELECT a, b FROM pp UNION ALL SELECT b, a FROM pp),
         |n AS (SELECT COUNT(*) AS c FROM embeddings),
         |deg AS (SELECT a AS dn, COUNT(*) AS deg FROM ue GROUP BY 1),
         |feats AS MATERIALIZED (SELECT nd.node, deg.deg, $xq4
         |  FROM (SELECT DISTINCT a AS node FROM ue) nd CROSS JOIN n
         |  JOIN embeddings emb ON emb.vec_id = nd.node % n.c
         |  JOIN deg ON deg.dn = nd.node),
         |z0 AS (SELECT node, x1 AS z1, x2 AS z2, x3 AS z3, x4 AS z4 FROM feats),
         |${step(1)},
         |${step(2)},
         |${step(3)}
         |SELECT node AS part_key,
         |  CAST(z1 AS DOUBLE) / 1000000 AS z1, CAST(z2 AS DOUBLE) / 1000000 AS z2,
         |  CAST(z3 AS DOUBLE) / 1000000 AS z3, CAST(z4 AS DOUBLE) / 1000000 AS z4
         |FROM z3 ORDER BY part_key""".stripMargin
    },

    "q_gnn_gin" -> {
      val xq = (1 to Gnn.Dim).map(j =>
        s"CAST(ROUND(CAST(embedding[$j] AS DOUBLE) * 1000000, 0) AS BIGINT) AS x$j")
        .mkString(", ")
      val nbs = (1 to Gnn.Dim)
        .map(j => s"CAST(SUM(fb.x$j) AS BIGINT) AS nb$j").mkString(", ")
      val ss = (1 to Gnn.Dim).map(j => s"2*f.x$j + nb.nb$j AS s$j").mkString(", ")
      def hExpr(i: Int): String = {
        val r = i + TrainOps.GinOff
        val terms = (0 until Gnn.Dim).map { j =>
          s"(CAST(${(r * 31 + j * 17) % 7 - 3} AS DOUBLE)/10)*(s${j + 1} / 1000000)"
        }.mkString(" + ") + s" + CAST(${r % 5 - 2} AS DOUBLE)/10"
        s"ROUND(1/(1+exp(-($terms))), 9) AS h${i + 1}"
      }
      val hs = (0 until 4).map(hExpr).mkString(",\n  ")
      s"""WITH $edgesCte,
         |pp AS MATERIALIZED (SELECT e1.dst AS a, e2.dst AS b
         |       FROM edges e1 JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
         |       GROUP BY 1, 2 HAVING COUNT(*) >= ${GraphOps.TriangleMinCooccur}),
         |ue AS MATERIALIZED (SELECT a, b FROM pp UNION ALL SELECT b, a FROM pp),
         |n AS (SELECT COUNT(*) AS c FROM embeddings),
         |feats AS MATERIALIZED (SELECT nd.node, $xq
         |  FROM (SELECT DISTINCT a AS node FROM ue) nd CROSS JOIN n
         |  JOIN embeddings emb ON emb.vec_id = nd.node % n.c),
         |nsum AS (SELECT ue.a, $nbs
         |         FROM ue JOIN feats fb ON ue.b = fb.node GROUP BY ue.a),
         |pre AS (SELECT f.node, $ss
         |        FROM feats f JOIN nsum nb ON f.node = nb.a)
         |SELECT node AS part_key,
         |  $hs
         |FROM pre ORDER BY part_key""".stripMargin
    }
  )

  /** §2.10 cont. — whole-graph structure metrics (round 8). Both are
    * exact-integer ratios: the only double op is the final division. */
  val graphAnalytics: Map[String, String] = Map(
    // Exact bipartite-motif combinatorics over the same DISTINCT edge
    // projection; d·(d−1) is even so the integer halving is exact.
    "q_graph_butterflies" ->
      s"""WITH $edgesCte,
         |pc AS (SELECT e1.dst AS a, e2.dst AS b, COUNT(*) AS cnt
         |       FROM edges e1 JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
         |       GROUP BY 1, 2),
         |ne AS (SELECT COUNT(*) AS n_edges FROM edges),
         |wc AS (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges_customer
         |       FROM (SELECT COUNT(*) AS d FROM edges GROUP BY src)),
         |wp AS (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges_part
         |       FROM (SELECT COUNT(*) AS d FROM edges GROUP BY dst)),
         |bf AS (SELECT CAST(SUM(cnt * (cnt - 1) // 2) AS BIGINT) AS n_butterflies
         |       FROM pc)
         |SELECT n_edges, n_wedges_customer, n_wedges_part, n_butterflies
         |FROM ne CROSS JOIN wc CROSS JOIN wp CROSS JOIN bf""".stripMargin,

    // Homophily: two single divisions of exact integer counts (observed
    // same-label share; random-mixing expectation Σcnt²/n²).
    "q_gnn_label_smoothness" ->
      s"""WITH $edgesCte,
         |pp AS MATERIALIZED (SELECT e1.dst AS a, e2.dst AS b
         |  FROM edges e1 JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
         |  GROUP BY 1, 2 HAVING COUNT(*) >= ${GraphOps.CcMinCooccur}),
         |nodes AS (SELECT DISTINCT node FROM
         |  (SELECT a AS node FROM pp UNION ALL SELECT b FROM pp)),
         |nlab AS (SELECT node, e.label FROM nodes
         |  JOIN embeddings e
         |    ON node % (SELECT COUNT(*) FROM embeddings) = e.vec_id),
         |ed AS (SELECT COUNT(*) AS n_edges,
         |    CAST(SUM(CASE WHEN la.label = lb.label THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_same
         |  FROM pp JOIN nlab la ON pp.a = la.node
         |          JOIN nlab lb ON pp.b = lb.node),
         |sh AS (SELECT CAST(SUM(c * c) AS BIGINT) AS sc2,
         |    CAST(SUM(c) AS BIGINT) AS nn
         |  FROM (SELECT COUNT(*) AS c FROM nlab GROUP BY label))
         |SELECT n_edges, n_same,
         |  CAST(n_same AS DOUBLE) / CAST(n_edges AS DOUBLE) AS homophily,
         |  CAST(sc2 AS DOUBLE) / CAST(nn * nn AS DOUBLE) AS expected_homophily
         |FROM ed CROSS JOIN sh""".stripMargin,

    // Exact-integer rich-club accounting: each edge carries its min
    // endpoint degree onto the threshold spine; φ is one pinned
    // double expression.
    "q_graph_richclub" -> {
      val ksList = GraphOps.RichClubKs.mkString("[", ", ", "]")
      s"""WITH $edgesCte,
         |pp AS MATERIALIZED (SELECT e1.dst AS a, e2.dst AS b
         |  FROM edges e1 JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
         |  GROUP BY 1, 2 HAVING COUNT(*) >= ${GraphOps.CcMinCooccur}),
         |ue AS (SELECT a, b FROM pp UNION ALL SELECT b, a FROM pp),
         |deg AS (SELECT a AS node, COUNT(*) AS d FROM ue GROUP BY 1),
         |ks AS (SELECT UNNEST($ksList) AS k),
         |nk AS (SELECT k, COUNT(*) AS n_nodes FROM ks JOIN deg ON deg.d > ks.k
         |       GROUP BY 1),
         |pe AS (SELECT LEAST(d1.d, d2.d) AS md
         |       FROM pp JOIN deg d1 ON pp.a = d1.node
         |               JOIN deg d2 ON pp.b = d2.node),
         |ek AS (SELECT k, COUNT(*) AS n_edges FROM ks JOIN pe ON pe.md > ks.k
         |       GROUP BY 1)
         |SELECT ks.k, CAST(COALESCE(nk.n_nodes, 0) AS BIGINT) AS n_nodes,
         |  CAST(COALESCE(ek.n_edges, 0) AS BIGINT) AS n_edges,
         |  CASE WHEN COALESCE(nk.n_nodes, 0) >= 2
         |    THEN CAST(2 AS DOUBLE) * CAST(COALESCE(ek.n_edges, 0) AS DOUBLE)
         |      / (CAST(COALESCE(nk.n_nodes, 0) AS DOUBLE)
         |         * (CAST(COALESCE(nk.n_nodes, 0) AS DOUBLE) - CAST(1 AS DOUBLE)))
         |    ELSE CAST(0 AS DOUBLE) END AS phi
         |FROM ks LEFT JOIN nk ON ks.k = nk.k LEFT JOIN ek ON ks.k = ek.k
         |ORDER BY ks.k""".stripMargin
    },

    // Exact integer histogram; the survival share divides exact counts.
    "q_graph_degree_dist" ->
      s"""WITH $edgesCte,
         |deg AS (SELECT dst, COUNT(*) AS degree FROM edges GROUP BY 1),
         |hist AS (SELECT degree, COUNT(*) AS n_parts FROM deg GROUP BY 1),
         |c AS (SELECT degree, n_parts,
         |    CAST(SUM(n_parts) OVER () AS BIGINT)
         |      - CAST(COALESCE(SUM(n_parts) OVER (ORDER BY degree
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS n_ge,
         |    CAST(SUM(n_parts) OVER () AS BIGINT) AS tot
         |  FROM hist)
         |SELECT degree, n_parts, n_ge,
         |  CAST(n_ge AS DOUBLE) / CAST(tot AS DOUBLE) AS ccdf
         |FROM c ORDER BY degree""".stripMargin,

    // Multi-source truncated BFS (recursive CTE carries the seed column;
    // UNION dedups (seed,node,d) so the recursion terminates).
    // Round 7 (driver). k-source truncated Brandes betweenness: forward
    // σ-BFS and backward δ-sweep both UNROLLED per hop (no recursion) —
    // exact integer σ sums, round-9 dependency terms into exact DECIMAL
    // per-node sums, δ re-entering as the decimal's double cast.
    "q_graph_betweenness" -> {
      val h = GraphOps.BetwHops
      val fwd = (1 to h).map { d =>
        s"""c$d AS (SELECT f.seed, ue.b AS node, CAST(SUM(f.sigma) AS BIGINT) AS sigma
           |  FROM ue JOIN l${d - 1} f ON ue.a = f.node GROUP BY 1, 2),
           |l$d AS (SELECT c.seed, c.node, c.sigma FROM c$d c
           |  LEFT JOIN vis${d - 1} v ON v.seed = c.seed AND v.node = c.node
           |  WHERE v.node IS NULL),
           |vis$d AS (SELECT seed, node FROM vis${d - 1}
           |          UNION ALL SELECT seed, node FROM l$d)""".stripMargin
      }.mkString(",\n")
      val bwd = (0 until h).reverse.map { d =>
        s"""t$d AS (SELECT v.seed, v.node,
           |    CAST(ROUND(CAST(v.sigma AS DOUBLE) / CAST(w.sigma AS DOUBLE)
           |      * (CAST(1.0 AS DOUBLE) + w.delta), 9) AS DECIMAL(28,9)) AS term
           |  FROM ue JOIN d${d + 1} w ON ue.b = w.node
           |  JOIN l$d v ON v.seed = w.seed AND ue.a = v.node),
           |s$d AS (SELECT seed, node, SUM(term) AS sd FROM t$d GROUP BY 1, 2),
           |d$d AS (SELECT l.seed, l.node, l.sigma,
           |    COALESCE(s.sd, CAST(0 AS DECIMAL(38,9))) AS ddec,
           |    CAST(COALESCE(s.sd, CAST(0 AS DECIMAL(38,9))) AS DOUBLE) AS delta
           |  FROM l$d l LEFT JOIN s$d s ON s.seed = l.seed AND s.node = l.node)""".stripMargin
      }.mkString(",\n")
      val unions = (0 to h).map(d => s"SELECT seed, node, ddec FROM d$d")
        .mkString("\n  UNION ALL ")
      s"""WITH $edgesCte,
         |pp AS MATERIALIZED (SELECT e1.dst AS a, e2.dst AS b
         |       FROM edges e1 JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
         |       GROUP BY 1, 2 HAVING COUNT(*) >= ${GraphOps.CcMinCooccur}),
         |ue AS MATERIALIZED (SELECT a, b FROM pp UNION ALL SELECT b, a FROM pp),
         |seeds AS (SELECT a AS seed FROM (SELECT DISTINCT a FROM ue
         |          ORDER BY a LIMIT ${GraphOps.BetwSeeds}) t),
         |l0 AS (SELECT seed, seed AS node, CAST(1 AS BIGINT) AS sigma FROM seeds),
         |vis0 AS (SELECT seed, node FROM l0),
         |$fwd,
         |d$h AS (SELECT seed, node, sigma, CAST(0 AS DECIMAL(38,9)) AS ddec,
         |        CAST(0 AS DOUBLE) AS delta FROM l$h),
         |$bwd,
         |allr AS ($unions),
         |bc AS (SELECT node, SUM(ddec) AS bcd FROM allr
         |       WHERE node <> seed GROUP BY 1)
         |SELECT node, ROUND(CAST(bcd AS DOUBLE), 6) AS centrality
         |FROM bc ORDER BY centrality DESC, node LIMIT 20""".stripMargin
    },

    "q_graph_closeness" ->
      s"""WITH RECURSIVE $edgesCte,
         |pp AS MATERIALIZED (SELECT e1.dst AS a, e2.dst AS b
         |       FROM edges e1 JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
         |       GROUP BY 1, 2 HAVING COUNT(*) >= ${GraphOps.CcMinCooccur}),
         |ue AS MATERIALIZED (SELECT a, b FROM pp UNION ALL SELECT b, a FROM pp),
         |seeds AS (SELECT DISTINCT a FROM ue ORDER BY a LIMIT ${GraphOps.CloseSeeds}),
         |reach(seed, n, d) AS (
         |  SELECT a, a, 0 FROM seeds
         |  UNION
         |  SELECT reach.seed, ue.b, reach.d + 1 FROM reach JOIN ue ON reach.n = ue.a
         |  WHERE reach.d < ${GraphOps.CloseMaxHops}),
         |dm AS (SELECT seed, n, MIN(d) AS d FROM reach GROUP BY 1, 2),
         |agg AS (SELECT seed, COUNT(*) AS n_reached,
         |    CAST(SUM(d) AS BIGINT) AS sum_dist, CAST(MAX(d) AS BIGINT) AS ecc
         |  FROM dm GROUP BY 1)
         |SELECT seed, n_reached, sum_dist, ecc,
         |  CASE WHEN sum_dist > 0
         |    THEN CAST(n_reached - 1 AS DOUBLE) / CAST(sum_dist AS DOUBLE)
         |    ELSE CAST(0 AS DOUBLE) END AS closeness
         |FROM agg ORDER BY seed""".stripMargin,

    "q_graph_modularity" -> {
      val steps = (1 to GraphOps.LpIters).map { i =>
        s"""lp$i AS (SELECT a AS node, lbl FROM (
           |  SELECT ue.a, l.lbl, COUNT(*) AS c,
           |    ROW_NUMBER() OVER (PARTITION BY ue.a
           |      ORDER BY COUNT(*) DESC, l.lbl ASC) AS rn
           |  FROM ue JOIN lp${i - 1} l ON ue.b = l.node
           |  GROUP BY ue.a, l.lbl) WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH $edgesCte,
         |pp AS MATERIALIZED (SELECT e1.dst AS a, e2.dst AS b
         |       FROM edges e1 JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
         |       GROUP BY 1, 2 HAVING COUNT(*) >= ${GraphOps.TriangleMinCooccur}),
         |ue AS MATERIALIZED (SELECT a, b FROM pp UNION ALL SELECT b, a FROM pp),
         |lp0 AS (SELECT DISTINCT a AS node, a AS lbl FROM ue),
         |$steps,
         |lab AS (SELECT node, lbl FROM lp${GraphOps.LpIters}),
         |deg AS (SELECT a AS node, COUNT(*) AS d FROM ue GROUP BY 1),
         |mm AS (SELECT COUNT(*) AS m FROM pp),
         |intra AS (SELECT l1.lbl AS c, COUNT(*) AS ec
         |          FROM pp JOIN lab l1 ON pp.a = l1.node
         |                  JOIN lab l2 ON pp.b = l2.node AND l1.lbl = l2.lbl
         |          GROUP BY 1),
         |dc AS (SELECT l.lbl, CAST(SUM(deg.d) AS BIGINT) AS dcsum
         |       FROM lab l JOIN deg ON l.node = deg.node GROUP BY 1),
         |comm AS (SELECT dc.lbl, COALESCE(intra.ec, 0) AS ec, dcsum
         |         FROM dc LEFT JOIN intra ON dc.lbl = intra.c),
         |agg AS (SELECT COUNT(*) AS n_communities,
         |               CAST(SUM(ec) AS BIGINT) AS intra_edges,
         |               CAST(SUM(dcsum*dcsum) AS BIGINT) AS sum_dc2 FROM comm)
         |SELECT n_communities, m AS n_edges, intra_edges,
         |  CAST(4*m*intra_edges - sum_dc2 AS DOUBLE)
         |    / CAST((4*m)*m AS DOUBLE) AS modularity
         |FROM agg CROSS JOIN mm""".stripMargin
    },

    // Louvain first sweep: the argmax is integral (min (k_j, j) per
    // node, move iff 2m > k_i*k_j), so the whole sweep and both Q*4m^2
    // scores replay as integer SQL; the divisions are of identical
    // integers (the modularity device).
    "q_graph_louvain_move" ->
      s"""WITH $edgesCte,
         |pp AS MATERIALIZED (SELECT e1.dst AS a, e2.dst AS b
         |       FROM edges e1 JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
         |       GROUP BY 1, 2 HAVING COUNT(*) >= ${GraphOps.TriangleMinCooccur}),
         |und AS MATERIALIZED (SELECT a, b FROM pp UNION ALL SELECT b AS a, a AS b FROM pp),
         |deg AS MATERIALIZED (SELECT a, CAST(COUNT(*) AS BIGINT) AS k FROM und GROUP BY 1),
         |mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM pp),
         |cand AS (SELECT u.a, u.b, d.k AS kj,
         |           ROW_NUMBER() OVER (PARTITION BY u.a ORDER BY d.k, u.b) AS rn
         |         FROM und u JOIN deg d ON d.a = u.b),
         |best AS (SELECT a, b AS j, kj FROM cand WHERE rn = 1),
         |lab AS MATERIALIZED (SELECT d.a, d.k,
         |         CASE WHEN 2*(SELECT m FROM mm) > d.k * b.kj THEN b.j ELSE d.a END AS lbl
         |       FROM deg d JOIN best b ON b.a = d.a),
         |intra AS (SELECT la.lbl AS c, CAST(COUNT(*) AS BIGINT) AS ec
         |          FROM pp JOIN lab la ON la.a = pp.a
         |                  JOIN lab lb ON lb.a = pp.b AND la.lbl = lb.lbl
         |          GROUP BY 1),
         |dc AS (SELECT lbl, CAST(SUM(k) AS BIGINT) AS dsum FROM lab GROUP BY 1),
         |aft AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
         |          CAST(SUM(COALESCE(i.ec, 0)) AS BIGINT) AS intra_edges,
         |          CAST(SUM(dc.dsum * dc.dsum) AS BIGINT) AS sum_dc2
         |        FROM dc LEFT JOIN intra i ON i.c = dc.lbl),
         |bef AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
         |          CAST(SUM(k * k) AS BIGINT) AS sum_k2 FROM deg),
         |mv AS (SELECT CAST(COALESCE(SUM(CASE WHEN lbl <> a THEN 1 ELSE 0 END), 0)
         |          AS BIGINT) AS n_moved FROM lab)
         |SELECT bef.n_nodes, mm.m AS n_edges, mv.n_moved, aft.n_communities,
         |  CAST(0 - bef.sum_k2 AS BIGINT) AS q4m2_before,
         |  CAST(4*mm.m*aft.intra_edges - aft.sum_dc2 AS BIGINT) AS q4m2_after,
         |  CAST(0 - bef.sum_k2 AS DOUBLE)
         |    / CAST((4*mm.m)*mm.m AS DOUBLE) AS modularity_before,
         |  CAST(4*mm.m*aft.intra_edges - aft.sum_dc2 AS DOUBLE)
         |    / CAST((4*mm.m)*mm.m AS DOUBLE) AS modularity_after
         |FROM bef CROSS JOIN mm CROSS JOIN mv CROSS JOIN aft""".stripMargin,

    // Louvain phase-2 coarsening: same lab CTEs as the sweep, then the
    // condensed graph's weighted super-edges + summary.
    "q_graph_coarsen" ->
      s"""WITH $edgesCte,
         |pp AS MATERIALIZED (SELECT e1.dst AS a, e2.dst AS b
         |       FROM edges e1 JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
         |       GROUP BY 1, 2 HAVING COUNT(*) >= ${GraphOps.TriangleMinCooccur}),
         |und AS MATERIALIZED (SELECT a, b FROM pp UNION ALL SELECT b AS a, a AS b FROM pp),
         |deg AS MATERIALIZED (SELECT a, CAST(COUNT(*) AS BIGINT) AS k FROM und GROUP BY 1),
         |mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM pp),
         |cand AS (SELECT u.a, u.b, d.k AS kj,
         |           ROW_NUMBER() OVER (PARTITION BY u.a ORDER BY d.k, u.b) AS rn
         |         FROM und u JOIN deg d ON d.a = u.b),
         |best AS (SELECT a, b AS j, kj FROM cand WHERE rn = 1),
         |lab AS MATERIALIZED (SELECT d.a, d.k,
         |         CASE WHEN 2*(SELECT m FROM mm) > d.k * b.kj THEN b.j ELSE d.a END AS lbl
         |       FROM deg d JOIN best b ON b.a = d.a),
         |lp AS (SELECT la.lbl AS la, lb.lbl AS lb
         |      FROM pp JOIN lab la ON la.a = pp.a JOIN lab lb ON lb.a = pp.b),
         |ce AS MATERIALIZED (SELECT LEAST(la, lb) AS ca, GREATEST(la, lb) AS cb,
         |        CAST(COUNT(*) AS BIGINT) AS w
         |      FROM lp WHERE la <> lb GROUP BY 1, 2),
         |summ AS (SELECT
         |    (SELECT CAST(COUNT(DISTINCT lbl) AS BIGINT) FROM lab) AS n_super_nodes,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM ce) AS n_super_edges,
         |    (SELECT CAST(COALESCE(SUM(w), 0) AS BIGINT) FROM ce) AS cross_weight,
         |    (SELECT m FROM mm) - (SELECT CAST(COALESCE(SUM(w), 0) AS BIGINT) FROM ce)
         |      AS self_weight)
         |SELECT ce.ca, ce.cb, ce.w, summ.n_super_nodes, summ.n_super_edges,
         |  summ.cross_weight, summ.self_weight
         |FROM ce CROSS JOIN summ
         |ORDER BY w DESC, ca, cb LIMIT 10""".stripMargin,

    // Louvain LEVEL 2: the weighted integer sweep replayed on the
    // coarsen chain's condensed graph — argmax 2m*w_ij - k_i*k_j (ties
    // min j, move iff positive), weighted Q*4m^2 with self-loop mass;
    // every value integer until the two final divisions.
    "q_graph_louvain_level2" ->
      s"""WITH $edgesCte,
         |pp AS MATERIALIZED (SELECT e1.dst AS a, e2.dst AS b
         |       FROM edges e1 JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
         |       GROUP BY 1, 2 HAVING COUNT(*) >= ${GraphOps.TriangleMinCooccur}),
         |und AS MATERIALIZED (SELECT a, b FROM pp UNION ALL SELECT b AS a, a AS b FROM pp),
         |deg AS MATERIALIZED (SELECT a, CAST(COUNT(*) AS BIGINT) AS k FROM und GROUP BY 1),
         |mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM pp),
         |cand AS (SELECT u.a, u.b, d.k AS kj,
         |           ROW_NUMBER() OVER (PARTITION BY u.a ORDER BY d.k, u.b) AS rn
         |         FROM und u JOIN deg d ON d.a = u.b),
         |best AS (SELECT a, b AS j, kj FROM cand WHERE rn = 1),
         |lab AS MATERIALIZED (SELECT d.a, d.k,
         |         CASE WHEN 2*(SELECT m FROM mm) > d.k * b.kj THEN b.j ELSE d.a END AS lbl
         |       FROM deg d JOIN best b ON b.a = d.a),
         |lp AS MATERIALIZED (SELECT la.lbl AS la, lb.lbl AS lb
         |      FROM pp JOIN lab la ON la.a = pp.a JOIN lab lb ON lb.a = pp.b),
         |ce AS MATERIALIZED (SELECT LEAST(la, lb) AS ca, GREATEST(la, lb) AS cb,
         |        CAST(COUNT(*) AS BIGINT) AS w
         |      FROM lp WHERE la <> lb GROUP BY 1, 2),
         |selfw AS (SELECT la AS sn, CAST(COUNT(*) AS BIGINT) AS sw
         |      FROM lp WHERE la = lb GROUP BY 1),
         |und2 AS (SELECT ca AS u, cb AS v, w FROM ce
         |         UNION ALL SELECT cb AS u, ca AS v, w FROM ce),
         |kdeg AS MATERIALIZED (SELECT n.node,
         |    COALESCE(cw.cw, 0) + 2 * COALESCE(selfw.sw, 0) AS k,
         |    COALESCE(selfw.sw, 0) AS sw
         |  FROM (SELECT DISTINCT lbl AS node FROM lab) n
         |  LEFT JOIN (SELECT u, CAST(SUM(w) AS BIGINT) AS cw FROM und2 GROUP BY 1) cw
         |    ON cw.u = n.node
         |  LEFT JOIN selfw ON selfw.sn = n.node),
         |cand2 AS (SELECT u2.u, u2.v,
         |    ki.k * kj.k - 2 * (SELECT m FROM mm) * u2.w AS ns,
         |    ROW_NUMBER() OVER (PARTITION BY u2.u
         |      ORDER BY ki.k * kj.k - 2 * (SELECT m FROM mm) * u2.w, u2.v) AS rn
         |  FROM und2 u2 JOIN kdeg ki ON ki.node = u2.u
         |               JOIN kdeg kj ON kj.node = u2.v),
         |best2 AS (SELECT u, v AS j, ns FROM cand2 WHERE rn = 1),
         |lab2 AS MATERIALIZED (SELECT kd.node, kd.k, kd.sw,
         |    CASE WHEN b2.ns < 0 THEN b2.j ELSE kd.node END AS lbl2
         |  FROM kdeg kd LEFT JOIN best2 b2 ON b2.u = kd.node),
         |ic AS (SELECT l1.lbl2 AS c, CAST(SUM(ce.w) AS BIGINT) AS wc
         |  FROM ce JOIN lab2 l1 ON l1.node = ce.ca
         |          JOIN lab2 l2 ON l2.node = ce.cb AND l1.lbl2 = l2.lbl2
         |  GROUP BY 1),
         |aft AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
         |    CAST(SUM(COALESCE(ic.wc, 0) + g.swc) AS BIGINT) AS intra_w,
         |    CAST(SUM(g.dc * g.dc) AS BIGINT) AS sum_dc2
         |  FROM (SELECT lbl2, CAST(SUM(sw) AS BIGINT) AS swc,
         |          CAST(SUM(k) AS BIGINT) AS dc FROM lab2 GROUP BY 1) g
         |  LEFT JOIN ic ON ic.c = g.lbl2),
         |bef AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_super_nodes,
         |    CAST(SUM(sw) AS BIGINT) AS self_w,
         |    CAST(SUM(k * k) AS BIGINT) AS sum_k2 FROM kdeg),
         |mv AS (SELECT CAST(COALESCE(SUM(CASE WHEN lbl2 <> node THEN 1 ELSE 0 END), 0)
         |    AS BIGINT) AS n_moved FROM lab2)
         |SELECT bef.n_super_nodes, mm.m AS edge_weight, mv.n_moved,
         |  aft.n_communities,
         |  CAST(4*mm.m*bef.self_w - bef.sum_k2 AS BIGINT) AS q4m2_before,
         |  CAST(4*mm.m*aft.intra_w - aft.sum_dc2 AS BIGINT) AS q4m2_after,
         |  CAST(4*mm.m*bef.self_w - bef.sum_k2 AS DOUBLE)
         |    / CAST((4*mm.m)*mm.m AS DOUBLE) AS modularity_before,
         |  CAST(4*mm.m*aft.intra_w - aft.sum_dc2 AS DOUBLE)
         |    / CAST((4*mm.m)*mm.m AS DOUBLE) AS modularity_after
         |FROM bef CROSS JOIN mm CROSS JOIN mv CROSS JOIN aft""".stripMargin,

    // Louvain LEVEL LOOP (r16): the generic weighted sweep/coarsen
    // level unrolled LouvainMaxLevels times — level 1 is the w=1,
    // self=0 special case (identical to the unweighted sweep: argmax
    // 2m·1 − k_i·k_j ⟺ argmin k_j) — with row k emitted only while
    // every earlier level still moved nodes (the engine loop's stop
    // condition, replayed as WHERE gates on the unrolled rows).
    "q_graph_louvain_hierarchy" -> {
      def lvl(l: Int): String =
        s"""und$l AS (SELECT ca AS u, cb AS v, w FROM e$l
           |  UNION ALL SELECT cb AS u, ca AS v, w FROM e$l),
           |kdeg$l AS MATERIALIZED (SELECT s.node,
           |    COALESCE(cw.cw, 0) + 2 * s.sw AS k, s.sw
           |  FROM self$l s LEFT JOIN (SELECT u, CAST(SUM(w) AS BIGINT) AS cw
           |    FROM und$l GROUP BY 1) cw ON cw.u = s.node),
           |cand$l AS (SELECT u2.u, u2.v,
           |    ki.k * kj.k - 2 * (SELECT m FROM mm) * u2.w AS ns,
           |    ROW_NUMBER() OVER (PARTITION BY u2.u
           |      ORDER BY ki.k * kj.k - 2 * (SELECT m FROM mm) * u2.w, u2.v) AS rn
           |  FROM und$l u2 JOIN kdeg$l ki ON ki.node = u2.u
           |               JOIN kdeg$l kj ON kj.node = u2.v),
           |best$l AS (SELECT u, v AS j, ns FROM cand$l WHERE rn = 1),
           |lab$l AS MATERIALIZED (SELECT kd.node, kd.k, kd.sw,
           |    CASE WHEN b.ns < 0 THEN b.j ELSE kd.node END AS lbl
           |  FROM kdeg$l kd LEFT JOIN best$l b ON b.u = kd.node),
           |ic$l AS (SELECT l1.lbl AS c, CAST(SUM(e.w) AS BIGINT) AS wc
           |  FROM e$l e JOIN lab$l l1 ON l1.node = e.ca
           |             JOIN lab$l l2 ON l2.node = e.cb AND l1.lbl = l2.lbl
           |  GROUP BY 1),
           |aft$l AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
           |    CAST(SUM(COALESCE(ic.wc, 0) + g.swc) AS BIGINT) AS intra_w,
           |    CAST(SUM(g.dc * g.dc) AS BIGINT) AS sum_dc2
           |  FROM (SELECT lbl, CAST(SUM(sw) AS BIGINT) AS swc,
           |          CAST(SUM(k) AS BIGINT) AS dc FROM lab$l GROUP BY 1) g
           |  LEFT JOIN ic$l ic ON ic.c = g.lbl),
           |bef$l AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_super_nodes,
           |    CAST(SUM(sw) AS BIGINT) AS self_w,
           |    CAST(SUM(k * k) AS BIGINT) AS sum_k2 FROM kdeg$l),
           |mv$l AS (SELECT CAST(COALESCE(SUM(CASE WHEN lbl <> node THEN 1 ELSE 0 END), 0)
           |    AS BIGINT) AS n_moved FROM lab$l),
           |row$l AS (SELECT CAST($l AS BIGINT) AS level, bef.n_super_nodes,
           |    mv.n_moved, aft.n_communities,
           |    CAST(4*mm.m*bef.self_w - bef.sum_k2 AS BIGINT) AS q4m2_before,
           |    CAST(4*mm.m*aft.intra_w - aft.sum_dc2 AS BIGINT) AS q4m2_after
           |  FROM bef$l bef CROSS JOIN mv$l mv CROSS JOIN aft$l aft CROSS JOIN mm),
           |lp$l AS (SELECT l1.lbl AS la, l2.lbl AS lb, e.w FROM e$l e
           |  JOIN lab$l l1 ON l1.node = e.ca JOIN lab$l l2 ON l2.node = e.cb),
           |e${l + 1} AS MATERIALIZED (SELECT LEAST(la, lb) AS ca,
           |    GREATEST(la, lb) AS cb, CAST(SUM(w) AS BIGINT) AS w
           |  FROM lp$l WHERE la <> lb GROUP BY 1, 2),
           |self${l + 1} AS MATERIALIZED (SELECT g.lbl AS node,
           |    g.swc + COALESCE(iw.wc, 0) AS sw
           |  FROM (SELECT lbl, CAST(SUM(sw) AS BIGINT) AS swc FROM lab$l GROUP BY 1) g
           |  LEFT JOIN (SELECT la, CAST(SUM(w) AS BIGINT) AS wc FROM lp$l
           |    WHERE la = lb GROUP BY 1) iw ON iw.la = g.lbl)""".stripMargin
      val levels = (1 to GraphOps.LouvainMaxLevels).map(lvl).mkString(",\n")
      // row k exists iff every earlier level both moved nodes AND
      // changed the partition score (the engine loop's stop condition:
      // n_moved = 0 or Q·4m² stagnation both mean convergence)
      val gates = (1 to GraphOps.LouvainMaxLevels).map { k =>
        val conds = (1 until k).map(i =>
          s"(SELECT n_moved FROM row$i) > 0 AND " +
            s"(SELECT q4m2_before FROM row$i) <> (SELECT q4m2_after FROM row$i)")
        if (conds.isEmpty) s"SELECT * FROM row$k"
        else s"SELECT * FROM row$k WHERE ${conds.mkString(" AND ")}"
      }.mkString("\nUNION ALL ")
      s"""WITH $edgesCte,
         |pp AS MATERIALIZED (SELECT e1x.dst AS a, e2x.dst AS b
         |       FROM edges e1x JOIN edges e2x ON e1x.src = e2x.src AND e1x.dst < e2x.dst
         |       GROUP BY 1, 2 HAVING COUNT(*) >= ${GraphOps.TriangleMinCooccur}),
         |und AS (SELECT a, b FROM pp UNION ALL SELECT b AS a, a AS b FROM pp),
         |mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM pp),
         |e1 AS MATERIALIZED (SELECT a AS ca, b AS cb, CAST(1 AS BIGINT) AS w FROM pp),
         |self1 AS (SELECT DISTINCT a AS node, CAST(0 AS BIGINT) AS sw FROM und),
         |$levels,
         |ladder AS ($gates)
         |SELECT level, n_super_nodes, n_moved, n_communities,
         |  q4m2_before, q4m2_after,
         |  CAST(q4m2_before AS DOUBLE) / CAST((4*mm.m)*mm.m AS DOUBLE)
         |    AS modularity_before,
         |  CAST(q4m2_after AS DOUBLE) / CAST((4*mm.m)*mm.m AS DOUBLE)
         |    AS modularity_after
         |FROM ladder CROSS JOIN mm ORDER BY level""".stripMargin
    },

    "q_graph_assortativity" ->
      s"""WITH $edgesCte,
         |pp AS (SELECT e1.dst AS a, e2.dst AS b
         |       FROM edges e1 JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
         |       GROUP BY 1, 2 HAVING COUNT(*) >= ${GraphOps.TriangleMinCooccur}),
         |ue AS (SELECT a, b FROM pp UNION ALL SELECT b, a FROM pp),
         |deg AS (SELECT a AS n, COUNT(*) AS d FROM ue GROUP BY 1),
         |arcs AS (SELECT d1.d AS dx, d2.d AS dy
         |         FROM ue JOIN deg d1 ON ue.a = d1.n JOIN deg d2 ON ue.b = d2.n),
         |agg AS (SELECT COUNT(*) AS arcs,
         |               CAST(SUM(dx) AS BIGINT) AS s1,
         |               CAST(SUM(dx*dy) AS BIGINT) AS sxy,
         |               CAST(SUM(dx*dx) AS BIGINT) AS sxx FROM arcs)
         |SELECT CAST(arcs / 2 AS BIGINT) AS n_edges, arcs AS n_arcs,
         |  CAST(arcs*sxy - s1*s1 AS DOUBLE)
         |    / CAST(arcs*sxx - s1*s1 AS DOUBLE) AS assortativity
         |FROM agg""".stripMargin
  )

  /** MMR: the greedy diversified-selection trace as 8 unrolled argmax
    * CTEs — each step scores the remaining candidates with the pinned
    * λ·rel − (1−λ)·max-sim formula and picks ORDER BY score DESC,
    * vec_id LIMIT 1 (the smallest-id tie-break of the Spark loop). */
  val mmr: Map[String, String] = Map(
    "q_llm_mmr" -> {
      val L = "(CAST(7 AS DOUBLE)/10)"
      val steps = (1 to LlmOps.MmrK).map { t =>
        val (scoreExpr, from) =
          if (t == 1)
            (s"$L*c.rel - (1 - $L)*CAST(0 AS DOUBLE)", "FROM cand c")
          else
            (s"$L*c.rel - (1 - $L)*COALESCE(ms.m, CAST(0 AS DOUBLE))",
              s"""FROM cand c LEFT JOIN (
                 |    SELECT s.sa, MAX(s.sim) AS m FROM sims s
                 |    JOIN ch${t - 1} ch ON s.sb = ch.vec_id GROUP BY s.sa) ms
                 |  ON ms.sa = c.vec_id
                 |WHERE c.vec_id NOT IN (SELECT vec_id FROM ch${t - 1})""".stripMargin)
        val chDef =
          if (t == 1) "SELECT vec_id FROM p1"
          else s"SELECT vec_id FROM ch${t - 1} UNION ALL SELECT vec_id FROM p$t"
        s"""p$t AS (SELECT c.vec_id, c.rel, $scoreExpr AS score
           |$from
           |ORDER BY score DESC, c.vec_id LIMIT 1),
           |ch$t AS ($chDef)""".stripMargin
      }.mkString(",\n")
      val out = (1 to LlmOps.MmrK)
        .map(t => s"SELECT CAST($t AS INT) AS rank, vec_id, rel, score FROM p$t")
        .mkString("\nUNION ALL\n")
      s"""WITH qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0),
         |cand AS MATERIALIZED (SELECT e.vec_id,
         |    ROUND(${cosExpr("e.embedding", "qv.q")}, 6) AS rel
         |  FROM embeddings e CROSS JOIN qv WHERE e.vec_id <> 0
         |  ORDER BY rel DESC, e.vec_id LIMIT ${LlmOps.MmrPool}),
         |cv AS MATERIALIZED (SELECT c.vec_id, e.embedding
         |  FROM cand c JOIN embeddings e USING (vec_id)),
         |sims AS MATERIALIZED (SELECT a.vec_id AS sa, b.vec_id AS sb,
         |    ROUND(${cosExpr("a.embedding", "b.embedding")}, 6) AS sim
         |  FROM cv a JOIN cv b ON a.vec_id <> b.vec_id),
         |$steps
         |$out
         |ORDER BY rank""".stripMargin
    }
  )

  /** §2.19 — corpus-curation filters (round 8). Integer rules + exact
    * counts; the only doubles are raw single divisions. */
  val curation: Map[String, String] = Map(
    // Round 9. Threshold test is the exact cross-product cum·100 ≥
    // pct·total; rank ties break on token text.
    "q_llm_tokenizer_coverage" -> {
      val targets = TextOps.CoverageTargets.mkString("[", ", ", "]")
      s"""WITH tok AS (SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents),
         |freq AS (SELECT tok, COUNT(*) AS cnt FROM tok WHERE len(tok) > 0 GROUP BY 1),
         |ranked AS (SELECT tok, cnt,
         |    CAST(ROW_NUMBER() OVER wo AS BIGINT) AS rnk,
         |    CAST(SUM(cnt) OVER (wo ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cum,
         |    CAST(SUM(cnt) OVER () AS BIGINT) AS total
         |  FROM freq WINDOW wo AS (ORDER BY cnt DESC, tok ASC)),
         |ts AS (SELECT UNNEST($targets) AS pct)
         |SELECT pct, MIN(rnk) AS vocab_size,
         |  MIN_BY(cum, rnk) AS covered_tokens, MIN_BY(total, rnk) AS total_tokens
         |FROM ts JOIN ranked ON cum * 100 >= pct * total
         |GROUP BY 1 ORDER BY 1""".stripMargin
    },

    // Round 9. First-apparition novelty: exact occurrence counts, one
    // raw division per doc; sub-3-token docs surface an explicit 0.
    "q_llm_ngram_novelty" ->
      """WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT doc_id,
        |    toks[CAST(u.i AS INT)] || ' ' || toks[CAST(u.i + 1 AS INT)]
        |      || ' ' || toks[CAST(u.i + 2 AS INT)] AS gram
        |  FROM d, UNNEST(range(1, CAST(len(toks) - 1 AS BIGINT))) AS u(i)
        |  WHERE len(toks) >= 3),
        |f AS (SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY 1),
        |pd AS (SELECT g.doc_id AS gd, COUNT(*) AS n_grams,
        |    CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_novel
        |  FROM g JOIN f ON g.gram = f.gram GROUP BY 1)
        |SELECT d.doc_id, d.lang,
        |  COALESCE(pd.n_grams, 0) AS n_grams,
        |  COALESCE(pd.n_novel, 0) AS n_novel,
        |  CASE WHEN COALESCE(pd.n_grams, 0) > 0
        |    THEN CAST(pd.n_novel AS DOUBLE) / CAST(pd.n_grams AS DOUBLE)
        |    ELSE CAST(0 AS DOUBLE) END AS novelty
        |FROM d LEFT JOIN pd ON d.doc_id = pd.gd
        |ORDER BY d.doc_id""".stripMargin,

    "q_llm_c4_filter" -> {
      val reason = s"""CASE WHEN wc < ${CurationOps.C4MinWords} THEN 'too_short'
        |       WHEN wc > ${CurationOps.C4MaxWords} THEN 'too_long'
        |       WHEN n_distinct * 10 < wc * 4 THEN 'low_diversity'
        |       WHEN max_cnt * 100 > wc * 12 THEN 'repetitive'
        |       WHEN tok_chars < wc * 4 THEN 'short_words'
        |       WHEN tok_chars > wc * 5 THEN 'long_words'
        |       ELSE 'kept' END""".stripMargin
      s"""WITH tc AS (SELECT doc_id, tok, COUNT(*) AS c
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
         |  GROUP BY 1, 2),
         |st AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS wc,
         |       COUNT(*) AS n_distinct, CAST(MAX(c) AS BIGINT) AS max_cnt
         |       FROM tc GROUP BY 1),
         |d AS (SELECT doc.doc_id, doc.lang, st.wc, st.n_distinct, st.max_cnt,
         |      doc.n_chars - (st.wc - 1) AS tok_chars
         |      FROM documents doc JOIN st ON doc.doc_id = st.doc_id),
         |r AS (SELECT *, $reason AS reason FROM d)
         |SELECT doc_id, lang, wc, n_distinct, max_cnt, tok_chars, reason,
         |  (reason = 'kept') AS keep
         |FROM r ORDER BY doc_id""".stripMargin
    },

    "q_llm_ccnet_bucket" ->
      """WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        |            FROM documents),
        |counts AS (SELECT lang AS ml, tok AS mt, COUNT(*) AS c
        |           FROM tok WHERE doc_id % 10 <> 0 GROUP BY 1, 2),
        |totals AS (SELECT ml, CAST(SUM(c) AS BIGINT) AS tot FROM counts GROUP BY 1),
        |model AS (SELECT counts.ml, mt, CAST(c AS DOUBLE) / tot AS p
        |          FROM counts JOIN totals ON counts.ml = totals.ml),
        |scored AS (SELECT t.doc_id, t.lang,
        |    -ln(COALESCE(m.p, CAST(1 AS DOUBLE) / tt.tot)) AS nll
        |  FROM tok t
        |  JOIN totals tt ON t.lang = tt.ml
        |  LEFT JOIN model m ON t.lang = m.ml AND t.tok = m.mt
        |  WHERE t.doc_id % 10 = 0),
        |x AS (SELECT doc_id, lang, ROUND(AVG(nll), 6) AS xent
        |      FROM scored GROUP BY 1, 2),
        |b AS (SELECT lang, xent, CAST(NTILE(3) OVER (
        |        PARTITION BY lang ORDER BY xent, doc_id) AS INT) AS bucket FROM x)
        |SELECT lang, bucket, COUNT(*) AS n_docs,
        |  MIN(xent) AS min_xent, MAX(xent) AS max_xent,
        |  CAST(SUM(CAST(xent AS DECIMAL(18,6))) AS DOUBLE) AS xent_sum
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_text_rouge2" ->
      """WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS toks,
        |                  len(string_split(text, ' ')) AS wc
        |           FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |bg AS (SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS g, COUNT(*) AS c
        |       FROM d, UNNEST(range(1, wc)) AS u(i) GROUP BY 1, 2),
        |p AS (SELECT lang, doc_id AS doc_a, CAST(wc - 1 AS BIGINT) AS ta,
        |        LEAD(doc_id) OVER (PARTITION BY lang ORDER BY doc_id) AS doc_b,
        |        LEAD(CAST(wc - 1 AS BIGINT)) OVER (
        |          PARTITION BY lang ORDER BY doc_id) AS tb
        |      FROM d),
        |pp AS (SELECT * FROM p WHERE doc_b IS NOT NULL),
        |i AS (SELECT pp.doc_a AS ia, CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS n_overlap
        |      FROM pp JOIN bg a ON pp.doc_a = a.doc_id
        |              JOIN bg b ON pp.doc_b = b.doc_id AND a.g = b.g
        |      GROUP BY 1)
        |SELECT lang, doc_a, doc_b, COALESCE(n_overlap, 0) AS n_overlap, ta, tb,
        |  CAST(COALESCE(n_overlap, 0) AS DOUBLE) / tb AS rouge2_p,
        |  CAST(COALESCE(n_overlap, 0) AS DOUBLE) / ta AS rouge2_r,
        |  (CAST(2 AS DOUBLE) * COALESCE(n_overlap, 0)) / (ta + tb) AS rouge2_f1
        |FROM pp LEFT JOIN i ON pp.doc_a = i.ia
        |ORDER BY lang, doc_a""".stripMargin,

    // BLEU-2 on the rouge2 pair fixture: clipped n-gram matches exact
    // integers, modified precisions raw divisions, BP exp drift
    // absorbed by the round-6 emits.
    "q_text_bleu2" ->
      """WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS toks,
        |                  len(string_split(text, ' ')) AS wc
        |           FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |ug AS (SELECT doc_id, u.w AS w, COUNT(*) AS c
        |       FROM d, UNNEST(d.toks) AS u(w) GROUP BY 1, 2),
        |bg AS (SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS g, COUNT(*) AS c
        |       FROM d, UNNEST(range(1, wc)) AS u(i) GROUP BY 1, 2),
        |p AS (SELECT lang, doc_id AS doc_a, CAST(wc AS BIGINT) AS ua,
        |        LEAD(doc_id) OVER (PARTITION BY lang ORDER BY doc_id) AS doc_b,
        |        LEAD(CAST(wc AS BIGINT)) OVER (
        |          PARTITION BY lang ORDER BY doc_id) AS ub
        |      FROM d),
        |pp AS (SELECT * FROM p WHERE doc_b IS NOT NULL),
        |i1 AS (SELECT pp.doc_a AS ia, CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS m1
        |      FROM pp JOIN ug a ON pp.doc_a = a.doc_id
        |              JOIN ug b ON pp.doc_b = b.doc_id AND a.w = b.w
        |      GROUP BY 1),
        |i2 AS (SELECT pp.doc_a AS ia, CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS m2
        |      FROM pp JOIN bg a ON pp.doc_a = a.doc_id
        |              JOIN bg b ON pp.doc_b = b.doc_id AND a.g = b.g
        |      GROUP BY 1),
        |j AS (SELECT lang, doc_a, doc_b, ua, ub,
        |        CAST(COALESCE(m1, 0) AS BIGINT) AS n_match1,
        |        CAST(COALESCE(m2, 0) AS BIGINT) AS n_match2,
        |        CASE WHEN ua > ub THEN 1.0
        |          ELSE exp(1.0 - CAST(ub AS DOUBLE) / CAST(ua AS DOUBLE)) END AS bp
        |      FROM pp LEFT JOIN i1 ON pp.doc_a = i1.ia
        |              LEFT JOIN i2 ON pp.doc_a = i2.ia)
        |SELECT lang, doc_a, doc_b, ua, ub, n_match1, n_match2,
        |  ROUND(bp, 6) AS brevity_penalty,
        |  ROUND(bp * sqrt((CAST(n_match1 AS DOUBLE) / ua)
        |    * (CAST(n_match2 AS DOUBLE) / (ua - 1))), 6) AS bleu2
        |FROM j ORDER BY lang, doc_a""".stripMargin
  )

  /** §2.19 cont. — statistical / time-series ops (round 8). Exact
    * HUGEINT/DECIMAL sums; all float math is pinned-order scalar
    * expressions over the cast sums. */
  val stats: Map[String, String] = Map(
    "q_agg_corr" -> {
      def corr(sxy: String, sx: String, sy: String, sxx: String, syy: String) =
        s"""(CAST(n_rows AS DOUBLE)*$sxy - $sx*$sy)
           | / (sqrt(CAST(n_rows AS DOUBLE)*$sxx - $sx*$sx)
           |    * sqrt(CAST(n_rows AS DOUBLE)*$syy - $sy*$sy))""".stripMargin
      // NOTE the VARCHAR round-trip on every sum: DuckDB's direct
      // HUGEINT→DOUBLE cast is NOT correctly rounded once the value
      // exceeds 2^64 (it computes upper·2^64 + lower in double — two
      // roundings), e.g. Σp² = 22240711483861231690 at sf0.1 lands one
      // ulp low and shifted corr_price_disc at the 16th digit. The
      // string path is correctly rounded, matching Spark's
      // Decimal.toDouble (BigDecimal.doubleValue, correctly rounded).
      s"""WITH li AS (SELECT CAST(l_quantity AS BIGINT) AS q,
         |  CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS p,
         |  CAST(ROUND(l_discount * 100, 0) AS BIGINT) AS d,
         |  CAST(ROUND(l_tax * 100, 0) AS BIGINT) AS t FROM lineitem),
         |a AS (SELECT COUNT(*) AS n_rows,
         |  CAST(CAST(SUM(q) AS VARCHAR) AS DOUBLE) AS sq,
         |  CAST(CAST(SUM(p) AS VARCHAR) AS DOUBLE) AS sp,
         |  CAST(CAST(SUM(d) AS VARCHAR) AS DOUBLE) AS sd,
         |  CAST(CAST(SUM(t) AS VARCHAR) AS DOUBLE) AS st,
         |  CAST(CAST(SUM(q*q) AS VARCHAR) AS DOUBLE) AS sqq,
         |  CAST(CAST(SUM(p*p) AS VARCHAR) AS DOUBLE) AS spp,
         |  CAST(CAST(SUM(d*d) AS VARCHAR) AS DOUBLE) AS sdd,
         |  CAST(CAST(SUM(t*t) AS VARCHAR) AS DOUBLE) AS stt,
         |  CAST(CAST(SUM(q*p) AS VARCHAR) AS DOUBLE) AS sqp,
         |  CAST(CAST(SUM(q*d) AS VARCHAR) AS DOUBLE) AS sqd,
         |  CAST(CAST(SUM(p*d) AS VARCHAR) AS DOUBLE) AS spd,
         |  CAST(CAST(SUM(d*t) AS VARCHAR) AS DOUBLE) AS sdt
         |  FROM li)
         |SELECT n_rows,
         |  ${corr("sqp", "sq", "sp", "sqq", "spp")} AS corr_qty_price,
         |  ${corr("sqd", "sq", "sd", "sqq", "sdd")} AS corr_qty_disc,
         |  ${corr("spd", "sp", "sd", "spp", "sdd")} AS corr_price_disc,
         |  ${corr("sdt", "sd", "st", "sdd", "stt")} AS corr_disc_tax
         |FROM a""".stripMargin
    },

    "q_llm_drift_psi" -> {
      // outer parens are load-bearing: these interpolate into `$p / $q`,
      // which without them parses as a left-assoc 4-way division chain
      val p = "(CAST(cr + 1 AS DOUBLE) / CAST(nr + 10 AS DOUBLE))"
      val q = "(CAST(cc + 1 AS DOUBLE) / CAST(nc + 10 AS DOUBLE))"
      s"""WITH ev AS (SELECT event_type,
         |    CAST(LEAST(9, GREATEST(0, FLOOR(value / 50))) AS INT) AS b,
         |    (CAST(CAST(ts AS TIMESTAMP) AS DATE) <= DATE '2024-01-15') AS is_ref
         |  FROM events),
         |counts AS (SELECT event_type AS ct, b AS cb,
         |    CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS cr,
         |    CAST(SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS BIGINT) AS cc
         |  FROM ev GROUP BY 1, 2),
         |types AS (SELECT DISTINCT event_type FROM ev),
         |spine AS (SELECT t.event_type, u.b FROM types t, UNNEST(range(0, 10)) AS u(b)),
         |filled AS (SELECT s.event_type, s.b, COALESCE(c.cr, 0) AS cr,
         |    COALESCE(c.cc, 0) AS cc
         |  FROM spine s LEFT JOIN counts c ON s.event_type = c.ct AND s.b = c.cb),
         |tot AS (SELECT event_type AS tt, CAST(SUM(cr) AS BIGINT) AS nr,
         |    CAST(SUM(cc) AS BIGINT) AS nc FROM filled GROUP BY 1),
         |terms AS (SELECT f.event_type, tot.nr, tot.nc,
         |    CAST(ROUND(($p - $q) * ln($p / $q), 9) AS DECIMAL(18,9)) AS term
         |  FROM filled f JOIN tot ON f.event_type = tot.tt)
         |SELECT event_type, MAX(nr) AS n_ref, MAX(nc) AS n_cur,
         |  CAST(SUM(term) AS DOUBLE) AS psi
         |FROM terms GROUP BY 1 ORDER BY 1""".stripMargin
    },

    "q_time_interpolate" -> {
      val back = "OVER (PARTITION BY event_type ORDER BY idx " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
      val fwd = "OVER (PARTITION BY event_type ORDER BY idx " +
        "ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)"
      s"""WITH ev AS (SELECT event_type,
         |      date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
         |      CAST(ROUND(value, 6) AS DECIMAL(18,6)) AS v6 FROM events),
         |obs AS (SELECT event_type AS ot, hr AS ohr, SUM(v6) AS v
         |        FROM ev GROUP BY 1, 2),
         |bounds AS (SELECT MIN(hr) AS mn, MAX(hr) AS mx FROM ev),
         |types AS (SELECT DISTINCT event_type FROM ev),
         |spine AS (SELECT t.event_type, b.mn, UNNEST(range(0,
         |            (epoch_us(b.mx) - epoch_us(b.mn)) // 3600000000 + 1)) AS idx
         |          FROM types t CROSS JOIN bounds b),
         |sp2 AS (SELECT event_type, idx,
         |          mn + TO_MICROSECONDS(idx * 3600000000) AS hr FROM spine),
         |j AS (SELECT s.event_type, s.idx, s.hr, CAST(o.v AS DOUBLE) AS obs_v
         |      FROM sp2 s LEFT JOIN obs o
         |        ON s.event_type = o.ot AND s.hr = o.ohr),
         |f AS (SELECT event_type, idx, hr, obs_v,
         |        LAST_VALUE(obs_v IGNORE NULLS) $back AS pv,
         |        LAST_VALUE(CASE WHEN obs_v IS NOT NULL THEN idx END IGNORE NULLS)
         |          $back AS pidx,
         |        FIRST_VALUE(obs_v IGNORE NULLS) $fwd AS nv,
         |        FIRST_VALUE(CASE WHEN obs_v IS NOT NULL THEN idx END IGNORE NULLS)
         |          $fwd AS nidx
         |      FROM j)
         |SELECT event_type, hr, (obs_v IS NOT NULL) AS observed,
         |  CASE WHEN obs_v IS NOT NULL THEN obs_v
         |       ELSE pv + (nv - pv) * ((idx - pidx) / (nidx - pidx)) END AS value
         |FROM f ORDER BY event_type, hr""".stripMargin
    },

    // Round 9. Same moment recipe as q_agg_corr (integer-exact sums —
    // Σq⁴ ≈ 3.8e12 < 2^53, so the direct DOUBLE cast is exact), then the
    // identical pinned-order expression per statistic. No pow(): σ^1.5
    // is m2·sqrt(m2) (Math.pow and libm pow are not correctly rounded).
    "q_agg_skew_kurt" ->
      """WITH li AS (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q FROM lineitem),
        |a AS (SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(q) AS DOUBLE) AS s1, CAST(SUM(q*q) AS DOUBLE) AS s2,
        |  CAST(SUM(q*q*q) AS DOUBLE) AS s3, CAST(SUM(q*q*q*q) AS DOUBLE) AS s4
        |  FROM li GROUP BY 1),
        |m AS (SELECT l_returnflag, n_rows,
        |  s1 / CAST(n_rows AS DOUBLE) AS m1,
        |  s2 / CAST(n_rows AS DOUBLE) AS s2n,
        |  s3 / CAST(n_rows AS DOUBLE) AS s3n,
        |  s4 / CAST(n_rows AS DOUBLE) AS s4n
        |  FROM a),
        |mm AS (SELECT l_returnflag, n_rows, m1,
        |  s2n - m1 * m1 AS m2,
        |  s3n - CAST(3 AS DOUBLE) * m1 * s2n + CAST(2 AS DOUBLE) * m1 * m1 * m1 AS m3,
        |  s4n - CAST(4 AS DOUBLE) * m1 * s3n + CAST(6 AS DOUBLE) * m1 * m1 * s2n
        |      - CAST(3 AS DOUBLE) * m1 * m1 * m1 * m1 AS m4
        |  FROM m)
        |SELECT l_returnflag, n_rows, m1 AS mean_qty,
        |  m3 / (m2 * sqrt(m2)) AS skewness,
        |  m4 / (m2 * m2) - CAST(3 AS DOUBLE) AS kurtosis_excess
        |FROM mm ORDER BY l_returnflag""".stripMargin,

    // Round 9. The native session_window sessionizer shares the islands
    // CTE chain (no session id — min/max event times identify sessions),
    // pinning that both sessionization paths implement the same merge rule.
    "q_stream_sessionize" ->
      s"""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
         |    CAST(value AS DECIMAL(18,2)) AS v FROM events),
         |f AS (SELECT *, epoch_us(ts)
         |    - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
         |  FROM e),
         |g AS (SELECT *, CASE WHEN gap IS NULL OR gap > ${StatsOps.SessionGapMin * 60000000L}
         |    THEN 1 ELSE 0 END AS brk FROM f),
         |h AS (SELECT *, CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
         |  FROM g)
         |SELECT user_id, COUNT(*) AS n_events,
         |  MIN(ts) AS start_ts, MAX(ts) AS end_ts,
         |  CAST(SUM(v) AS DOUBLE) AS session_value
         |FROM h GROUP BY user_id, session_id ORDER BY user_id, start_ts""".stripMargin,

    // Round 9. Gap tests are exact epoch-µs integer comparisons; the
    // break flag's running sum is the session id in both engines.
    "q_sessionize_batch" ->
      s"""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
         |    CAST(value AS DECIMAL(18,2)) AS v FROM events),
         |f AS (SELECT *, epoch_us(ts)
         |    - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
         |  FROM e),
         |g AS (SELECT *, CASE WHEN gap IS NULL OR gap > ${StatsOps.SessionGapMin * 60000000L}
         |    THEN 1 ELSE 0 END AS brk FROM f),
         |h AS (SELECT *, CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
         |  FROM g)
         |SELECT user_id, session_id, COUNT(*) AS n_events,
         |  MIN(ts) AS start_ts, MAX(ts) AS end_ts,
         |  CAST(SUM(v) AS DOUBLE) AS session_value
         |FROM h GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Round 9. Prefix-stat replay of the streaming detector: the flag
    // test is the cross-multiplied INTEGER comparison (no float; the
    // products reach ~2.5e19 → HUGEINT, BigInt on the Spark side).
    "q_stream_anomaly" ->
      s"""WITH e AS (SELECT event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
         |    CAST(ROUND(value * 100, 0) AS BIGINT) AS c FROM events),
         |w AS (SELECT event_type, event_id, c,
         |    COUNT(*) OVER pw AS n,
         |    COALESCE(SUM(c) OVER pw, 0) AS s1,
         |    COALESCE(SUM(c*c) OVER pw, 0) AS s2
         |  FROM e
         |  WINDOW pw AS (PARTITION BY event_type ORDER BY ts, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
         |SELECT event_type, event_id, c AS value_cents, CAST(n AS BIGINT) AS n_prior
         |FROM w
         |WHERE n >= ${StatsOps.AnomalyMinPrior}
         |  AND (CAST(n AS HUGEINT) * c - s1) * (CAST(n AS HUGEINT) * c - s1)
         |      > (CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1) * 9
         |ORDER BY event_type, event_id""".stripMargin,

    // Round 7 (driver). Additive seasonal decomposition: centered
    // RANGE-frame MA trend (exact ints, one division), round-9 detrended
    // terms → exact DECIMAL seasonal means.
    "q_time_seasonal_decompose" ->
      """WITH d0 AS (SELECT event_type,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |daily AS (SELECT event_type,
        |    CAST(day - DATE '2024-01-01' AS BIGINT) AS x, y FROM d0),
        |det AS (SELECT event_type, ((x % 7) + 7) % 7 AS dow,
        |    CAST(ROUND(CAST(y AS DOUBLE)
        |      - CAST(SUM(y) OVER fr AS DOUBLE) / CAST(COUNT(*) OVER fr AS DOUBLE),
        |      9) AS DECIMAL(28,9)) AS term
        |  FROM daily
        |  WINDOW fr AS (PARTITION BY event_type ORDER BY x
        |    RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |a AS (SELECT event_type, dow, COUNT(*) AS n_obs, SUM(term) AS sd
        |      FROM det GROUP BY 1, 2)
        |SELECT event_type, CAST(dow AS BIGINT) AS dow, n_obs,
        |  ROUND(CAST(sd AS DOUBLE) / CAST(n_obs AS DOUBLE), 6) AS seasonal
        |FROM a ORDER BY event_type, dow""".stripMargin,

    // Round 7 (driver). Welch t-test: 6 exact moment sums per type, one
    // pinned double expression for t and the Satterthwaite df.
    "q_agg_ttest" ->
      """WITH ev AS (SELECT event_type,
        |    CAST(ROUND(value * 100, 0) AS BIGINT) AS c,
        |    (CAST(CAST(ts AS TIMESTAMP) AS DATE) <= DATE '2024-01-15') AS is_ref
        |  FROM events),
        |a AS (SELECT event_type,
        |    CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
        |    CAST(SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_cur,
        |    CAST(SUM(CASE WHEN is_ref THEN c ELSE 0 END) AS DOUBLE) AS s1,
        |    CAST(SUM(CASE WHEN is_ref THEN c * c ELSE 0 END) AS DOUBLE) AS q1,
        |    CAST(SUM(CASE WHEN NOT is_ref THEN c ELSE 0 END) AS DOUBLE) AS s2,
        |    CAST(SUM(CASE WHEN NOT is_ref THEN c * c ELSE 0 END) AS DOUBLE) AS q2
        |  FROM ev GROUP BY 1
        |  HAVING n_ref > 1 AND n_cur > 1),
        |x AS (SELECT event_type, n_ref, n_cur, s1, s2,
        |    (CAST(n_ref AS DOUBLE) * q1 - s1 * s1)
        |      / (CAST(n_ref AS DOUBLE) * (CAST(n_ref AS DOUBLE) - 1))
        |      / CAST(n_ref AS DOUBLE) AS se1,
        |    (CAST(n_cur AS DOUBLE) * q2 - s2 * s2)
        |      / (CAST(n_cur AS DOUBLE) * (CAST(n_cur AS DOUBLE) - 1))
        |      / CAST(n_cur AS DOUBLE) AS se2
        |  FROM a)
        |SELECT event_type, n_ref, n_cur,
        |  (s1 / CAST(n_ref AS DOUBLE) - s2 / CAST(n_cur AS DOUBLE))
        |    / sqrt(se1 + se2) AS t_stat,
        |  (se1 + se2) * (se1 + se2)
        |    / (se1 * se1 / (CAST(n_ref AS DOUBLE) - 1)
        |       + se2 * se2 / (CAST(n_cur AS DOUBLE) - 1)) AS df_welch
        |FROM x ORDER BY event_type""".stripMargin,

    // Round 7 (driver). OLS daily-trend fit: exact BIGINT moments over
    // (day index, daily cents), one double cast each, pinned-order
    // slope/intercept/r² combination — the autocorr/corr recipe.
    "q_agg_ols_trend" ->
      """WITH d0 AS (SELECT event_type,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |daily AS (SELECT event_type,
        |    CAST(day - DATE '2024-01-01' AS BIGINT) AS x, y FROM d0),
        |a AS (SELECT event_type, COUNT(*) AS n_days,
        |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
        |    CAST(SUM(x*x) AS DOUBLE) AS sxx, CAST(SUM(y*y) AS DOUBLE) AS syy,
        |    CAST(SUM(x*y) AS DOUBLE) AS sxy
        |  FROM daily GROUP BY 1)
        |SELECT event_type, n_days,
        |  (CAST(n_days AS DOUBLE) * sxy - sx * sy)
        |    / (CAST(n_days AS DOUBLE) * sxx - sx * sx) AS slope,
        |  (sy - (CAST(n_days AS DOUBLE) * sxy - sx * sy)
        |    / (CAST(n_days AS DOUBLE) * sxx - sx * sx) * sx)
        |    / CAST(n_days AS DOUBLE) AS intercept,
        |  ((CAST(n_days AS DOUBLE) * sxy - sx * sy)
        |    / (sqrt(CAST(n_days AS DOUBLE) * sxx - sx * sx)
        |       * sqrt(CAST(n_days AS DOUBLE) * syy - sy * sy)))
        |  * ((CAST(n_days AS DOUBLE) * sxy - sx * sy)
        |    / (sqrt(CAST(n_days AS DOUBLE) * sxx - sx * sx)
        |       * sqrt(CAST(n_days AS DOUBLE) * syy - sy * sy))) AS r2
        |FROM a ORDER BY event_type""".stripMargin,

    // Round 7 (driver). CUSUM changepoint: all-integer cross-multiplied
    // n·S_i = n·P_i − i·T (the anomaly device), argmax |·| with
    // earliest-day ties, two exact-integer divisions for the shift.
    "q_time_changepoint" ->
      """WITH daily AS (SELECT event_type,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |pre AS (SELECT event_type, day, y,
        |    CAST(SUM(y) OVER pw AS BIGINT) AS p,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
        |      AS BIGINT) AS i
        |  FROM daily
        |  WINDOW pw AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |tot AS (SELECT event_type AS tt, CAST(SUM(y) AS BIGINT) AS t,
        |    COUNT(*) AS n FROM daily GROUP BY 1),
        |scored AS (SELECT pre.event_type, pre.day, pre.p, pre.i, tot.t, tot.n,
        |    pre.p * tot.n - pre.i * tot.t AS ns
        |  FROM pre JOIN tot ON pre.event_type = tot.tt
        |  WHERE pre.i < tot.n),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
        |    ORDER BY ABS(ns) DESC, day ASC) AS rn FROM scored)
        |SELECT event_type, CAST(n AS BIGINT) AS n_days, day AS cp_day,
        |  CAST(ABS(ns) AS BIGINT) AS cusum_num,
        |  CAST(t - p AS DOUBLE) / CAST(n - i AS DOUBLE)
        |    - CAST(p AS DOUBLE) / CAST(i AS DOUBLE) AS mean_shift
        |FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin,

    // Round 9. Lag-k autocorrelation: exact DATE-arithmetic pair
    // alignment (gap-safe) + the q_agg_corr pinned Pearson recipe.
    "q_time_autocorr" -> {
      val lagList = StatsOps.AutocorrLags.mkString("[", ", ", "]")
      s"""WITH daily AS (SELECT event_type,
         |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
         |    CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS c
         |  FROM events GROUP BY 1, 2),
         |lags AS (SELECT UNNEST($lagList) AS lag),
         |pairs AS (SELECT d.event_type, l.lag, d.c AS y, p.c AS x
         |  FROM daily d CROSS JOIN lags l
         |  JOIN daily p ON d.event_type = p.event_type
         |    AND d.day = p.day + l.lag),
         |a AS (SELECT event_type, lag, COUNT(*) AS n_pairs,
         |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         |    CAST(SUM(x*x) AS DOUBLE) AS sxx, CAST(SUM(y*y) AS DOUBLE) AS syy,
         |    CAST(SUM(x*y) AS DOUBLE) AS sxy
         |  FROM pairs GROUP BY 1, 2)
         |SELECT event_type, lag, n_pairs,
         |  (CAST(n_pairs AS DOUBLE) * sxy - sx * sy)
         |    / (sqrt(CAST(n_pairs AS DOUBLE) * sxx - sx * sx)
         |       * sqrt(CAST(n_pairs AS DOUBLE) * syy - sy * sy)) AS autocorr
         |FROM a ORDER BY event_type, lag""".stripMargin
    },

    // Round 9. Gaps-and-islands streaks: pure integer date arithmetic;
    // best streak = longest (earliest start on ties).
    "q_win_streaks" ->
      """WITH d AS (SELECT DISTINCT user_id,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
        |  FROM events WHERE event_type = 'purchase'),
        |dd AS (SELECT user_id, day,
        |    CAST(day - DATE '2024-01-01' AS BIGINT) AS didx FROM d),
        |isl AS (SELECT user_id, day,
        |    didx - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY didx)
        |      AS island
        |  FROM dd),
        |st AS (SELECT user_id, island, COUNT(*) AS len,
        |    MIN(day) AS streak_start FROM isl GROUP BY 1, 2),
        |r AS (SELECT user_id, len, streak_start,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY len DESC, streak_start ASC) AS rn
        |  FROM st),
        |a AS (SELECT user_id, CAST(SUM(len) AS BIGINT) AS n_active_days,
        |    COUNT(*) AS n_streaks, CAST(MAX(len) AS BIGINT) AS max_streak
        |  FROM st GROUP BY 1)
        |SELECT a.user_id, a.n_active_days, a.n_streaks, a.max_streak,
        |  r.streak_start AS best_streak_start
        |FROM a JOIN r ON a.user_id = r.user_id AND r.rn = 1
        |ORDER BY a.user_id""".stripMargin,

    // Round 9. KS drift: exact-integer cross-multiplied CDF gap, one
    // final division (f·n products ≤ ~4e8 — far inside BIGINT).
    "q_agg_ks_test" ->
      """WITH ev AS (SELECT event_type,
        |    CAST(ROUND(value * 100, 0) AS BIGINT) AS c,
        |    (CAST(CAST(ts AS TIMESTAMP) AS DATE) <= DATE '2024-01-15') AS is_ref
        |  FROM events),
        |counts AS (SELECT event_type, c,
        |    CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS cr,
        |    CAST(SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS BIGINT) AS cc
        |  FROM ev GROUP BY 1, 2),
        |cum AS (SELECT event_type, c, cr, cc,
        |    CAST(SUM(cr) OVER pw AS BIGINT) AS f1,
        |    CAST(SUM(cc) OVER pw AS BIGINT) AS f2
        |  FROM counts
        |  WINDOW pw AS (PARTITION BY event_type ORDER BY c
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |tot AS (SELECT event_type AS tt, CAST(SUM(cr) AS BIGINT) AS n_ref,
        |    CAST(SUM(cc) AS BIGINT) AS n_cur FROM counts GROUP BY 1),
        |agg AS (SELECT cum.event_type, MAX(tot.n_ref) AS n_ref,
        |    MAX(tot.n_cur) AS n_cur,
        |    MAX(ABS(f1 * tot.n_cur - f2 * tot.n_ref)) AS d_num
        |  FROM cum JOIN tot ON cum.event_type = tot.tt
        |  GROUP BY 1)
        |SELECT event_type, n_ref, n_cur,
        |  CAST(d_num AS DOUBLE) / CAST(n_ref * n_cur AS DOUBLE) AS ks_stat
        |FROM agg ORDER BY event_type""".stripMargin,

    // Round 9. −p·ln(p) terms round-9 (absorbing libm ln — the PSI
    // recipe), exact DECIMAL total; p is an exact rational both sides.
    "q_agg_entropy" ->
      """WITH ev AS (SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
        |    event_type FROM events),
        |c AS (SELECT day, event_type, COUNT(*) AS c FROM ev GROUP BY 1, 2),
        |t AS (SELECT day AS td, CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS k
        |      FROM c GROUP BY 1),
        |terms AS (SELECT c.day, t.n, t.k,
        |    CAST(ROUND(-(CAST(c.c AS DOUBLE) / CAST(t.n AS DOUBLE))
        |      * ln(CAST(c.c AS DOUBLE) / CAST(t.n AS DOUBLE)), 9)
        |      AS DECIMAL(18,9)) AS term
        |  FROM c JOIN t ON c.day = t.td)
        |SELECT day, MAX(n) AS n_events, MAX(k) AS n_types,
        |  CAST(SUM(term) AS DOUBLE) AS entropy
        |FROM terms GROUP BY 1 ORDER BY 1""".stripMargin,

    // Round 9. Per-row scalar math over exact integer counts; every
    // literal CAST to DOUBLE (DuckDB bare literals are DECIMAL).
    "q_text_readability" ->
      """WITH d AS (SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |    CAST(len(regexp_extract_all(text, '[aeiou]+')) AS BIGINT) AS n_syllables
        |  FROM documents)
        |SELECT doc_id, lang, n_words, n_syllables,
        |  CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE) AS syll_per_word,
        |  CAST(206.835 AS DOUBLE) - CAST(1.015 AS DOUBLE) * CAST(n_words AS DOUBLE)
        |    - CAST(84.6 AS DOUBLE)
        |      * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)) AS flesch
        |FROM d ORDER BY doc_id""".stripMargin,

    // Round 9. MERGE reconciliation: matched→update, target-only→keep,
    // source-only→insert; all money through DECIMAL(18,2).
    "q_merge_upsert" ->
      """WITH cust AS (SELECT c_custkey, c_mktsegment,
        |    CAST(c_acctbal AS DECIMAL(18,2)) AS bal FROM customer),
        |d AS (SELECT user_id,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS delta
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |m AS (SELECT COALESCE(c_custkey, user_id) AS custkey,
        |    COALESCE(c_mktsegment, 'UNASSIGNED') AS seg,
        |    COALESCE(bal, CAST(0 AS DECIMAL(18,2)))
        |      + COALESCE(delta, CAST(0 AS DECIMAL(18,2))) AS new_bal,
        |    (c_custkey IS NOT NULL AND user_id IS NOT NULL) AS upd,
        |    (c_custkey IS NULL) AS ins
        |  FROM cust FULL OUTER JOIN d ON c_custkey = user_id)
        |SELECT seg, COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN upd THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
        |  CAST(SUM(CASE WHEN ins THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted,
        |  CAST(SUM(new_bal) AS DOUBLE) AS sum_bal
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,

    // Round 9. Σi·x and Σx are exact DECIMAL(38,0) (< 2^64, both
    // engines' double casts correctly rounded there); rank ties carry
    // equal x so the tie order cannot move Σi·x.
    "q_agg_gini" ->
      """WITH o AS (SELECT c_mktsegment AS seg, o_orderkey,
        |    CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |r AS (SELECT seg, cents,
        |    ROW_NUMBER() OVER (PARTITION BY seg ORDER BY cents, o_orderkey) AS i
        |  FROM o),
        |a AS (SELECT seg, COUNT(*) AS n_orders,
        |    CAST(SUM(cents) AS DOUBLE) AS sx,
        |    CAST(SUM(i * cents) AS DOUBLE) AS six
        |  FROM r GROUP BY 1)
        |SELECT seg, n_orders,
        |  CAST(2 AS DOUBLE) * six / (CAST(n_orders AS DOUBLE) * sx)
        |    - (CAST(n_orders AS DOUBLE) + CAST(1 AS DOUBLE))
        |      / CAST(n_orders AS DOUBLE) AS gini
        |FROM a ORDER BY seg""".stripMargin,

    // Round 9. Holt recursion replayed as a recursive CTE: α=1/2,
    // β=1/4 are exact dyadic doubles and every step is the same
    // correctly-rounded IEEE sequence — no rounding anywhere. The
    // inline l_t recomputation inside b_t yields the identical double.
    // Round 7 (driver). Additive Holt-Winters: the Holt recursive-CTE
    // device extended with 7 calendar-indexed seasonal registers; all
    // coefficients dyadic, identical IEEE sequences, zero rounding.
    "q_stream_holt_winters" -> {
      val a = "CAST(0.5 AS DOUBLE)"
      val oneA = "CAST(0.5 AS DOUBLE)"
      val bC = "CAST(0.25 AS DOUBLE)"
      val oneB = "CAST(0.75 AS DOUBLE)"
      val g = "CAST(0.5 AS DOUBLE)"
      val oneG = "CAST(0.5 AS DOUBLE)"
      val idx = "((o.x % 7) + 7) % 7"
      val sPrev = s"(CASE $idx " +
        (0 to 6).map(i => s"WHEN $i THEN h.s$i").mkString(" ") + " END)"
      val lNew = s"$a * (o.y - $sPrev) + $oneA * (h.l + h.b)"
      val bNew = s"$bC * (($lNew) - h.l) + $oneB * h.b"
      val sNew = s"$g * (o.y - ($lNew)) + $oneG * $sPrev"
      val sCols = (0 to 6).map(i =>
        s"CASE WHEN $idx = $i THEN $sNew ELSE h.s$i END").mkString(",\n  ")
      val sNext = "(CASE ((h.x + 1) % 7 + 7) % 7 " +
        (0 to 6).map(i => s"WHEN $i THEN h.s$i").mkString(" ") + " END)"
      s"""WITH RECURSIVE sd AS (SELECT event_type,
         |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
         |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS y
         |  FROM events GROUP BY 1, 2),
         |o AS (SELECT event_type, y,
         |    CAST(day - DATE '2024-01-01' AS BIGINT) AS x,
         |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS t
         |  FROM sd),
         |n AS (SELECT event_type, MAX(t) AS nmax FROM o GROUP BY 1),
         |h(event_type, t, x, l, b, s0, s1, s2, s3, s4, s5, s6) AS (
         |  SELECT event_type, 1, x, y, CAST(0 AS DOUBLE),
         |    CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
         |    CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
         |    CAST(0 AS DOUBLE)
         |  FROM o WHERE t = 1
         |  UNION ALL
         |  SELECT o.event_type, o.t, o.x,
         |  $lNew,
         |  $bNew,
         |  $sCols
         |  FROM h JOIN o ON o.event_type = h.event_type AND o.t = h.t + 1)
         |SELECT h.event_type, CAST(n.nmax AS BIGINT) AS n_days,
         |  h.l AS level, h.b AS trend, $sNext AS season_next,
         |  h.l + h.b + $sNext AS forecast
         |FROM h JOIN n ON h.event_type = n.event_type AND h.t = n.nmax
         |ORDER BY h.event_type""".stripMargin
    },

    "q_stream_holt" -> {
      val a = "CAST(0.5 AS DOUBLE)"
      val b = "CAST(0.25 AS DOUBLE)"
      val oneA = "CAST(0.5 AS DOUBLE)"
      val oneB = "CAST(0.75 AS DOUBLE)"
      s"""WITH RECURSIVE s AS (SELECT event_type,
         |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
         |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS y
         |  FROM events GROUP BY 1, 2),
         |o AS (SELECT event_type, y,
         |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS t
         |  FROM s),
         |n AS (SELECT event_type, MAX(t) AS nmax FROM o GROUP BY 1),
         |h(event_type, t, l, b) AS (
         |  SELECT event_type, 1, y, CAST(0 AS DOUBLE) FROM o WHERE t = 1
         |  UNION ALL
         |  SELECT o.event_type, o.t,
         |    $a * o.y + $oneA * (h.l + h.b),
         |    $b * (($a * o.y + $oneA * (h.l + h.b)) - h.l) + $oneB * h.b
         |  FROM h JOIN o ON o.event_type = h.event_type AND o.t = h.t + 1)
         |SELECT h.event_type, CAST(n.nmax AS BIGINT) AS n_days,
         |  h.l AS level, h.b AS trend, h.l + h.b AS forecast
         |FROM h JOIN n ON h.event_type = n.event_type AND h.t = n.nmax
         |ORDER BY h.event_type""".stripMargin
    }
  )

  /** Directed transition-edge CTE shared by reciprocity + motifs —
    * mirrors GraphOps.transEdges: LEAD over (l_linenumber, l_partkey)
    * within the order (linenumber alone is NOT unique in the fixture;
    * ties share the part key, so the sequence is engine-independent). */
  private val transCte: String =
    """t AS (SELECT DISTINCT l_partkey AS src, nxt AS dst FROM (
      |  SELECT l_partkey, LEAD(l_partkey) OVER (PARTITION BY l_orderkey
      |    ORDER BY l_linenumber, l_partkey) AS nxt
      |  FROM lineitem) WHERE nxt IS NOT NULL AND nxt <> l_partkey)""".stripMargin

  /** Round 13 (driver round 7, this session): directed transition-graph
    * census, retrieval fusion/eval, robust statistics, JL projection,
    * decayed heavy hitters. */
  val round13: Map[String, String] = Map(
    "q_graph_reciprocity" ->
      s"""WITH $transCte,
         |r AS (SELECT COUNT(*) AS n_recip FROM t e
         |      WHERE EXISTS (SELECT 1 FROM t x
         |                    WHERE x.src = e.dst AND x.dst = e.src)),
         |n AS (SELECT COUNT(*) AS n_edges FROM t)
         |SELECT CAST(n.n_edges AS BIGINT) AS n_edges,
         |  CAST(r.n_recip / 2 AS BIGINT) AS n_mutual_dyads,
         |  CAST(n.n_edges - r.n_recip AS BIGINT) AS n_asym,
         |  ROUND(CAST(r.n_recip AS DOUBLE) / CAST(n.n_edges AS DOUBLE), 6)
         |    AS reciprocity
         |FROM n, r""".stripMargin,

    "q_graph_motifs" ->
      s"""WITH $transCte,
         |cy AS (SELECT COUNT(*) AS n_cyclic
         |       FROM t ab JOIN t bc ON ab.dst = bc.src
         |       JOIN t ca ON ca.src = bc.dst AND ca.dst = ab.src
         |       WHERE ab.src < ab.dst AND ab.src < bc.dst),
         |tr AS (SELECT COUNT(*) AS n_transitive
         |       FROM t ab JOIN t bc ON ab.dst = bc.src
         |       JOIN t ac ON ac.src = ab.src AND ac.dst = bc.dst
         |       WHERE ab.src <> bc.dst)
         |SELECT CAST(cy.n_cyclic AS BIGINT) AS n_cyclic,
         |  CAST(tr.n_transitive AS BIGINT) AS n_transitive
         |FROM cy, tr""".stripMargin,

    "q_agg_theil_sen" ->
      """WITH daily AS (SELECT event_type,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |d AS (SELECT event_type,
        |    CAST(day - DATE '2024-01-01' AS BIGINT) AS x, y FROM daily),
        |p AS (SELECT a.event_type, b.y - a.y AS dy, b.x - a.x AS dx, a.x AS x1,
        |    ROUND(CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE), 9)
        |      AS slope
        |  FROM d a JOIN d b ON a.event_type = b.event_type AND a.x < b.x),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
        |    ORDER BY slope ASC, dy ASC, dx ASC, x1 ASC) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS np FROM p),
        |m AS (SELECT event_type, np, slope FROM r
        |      WHERE rn = (np + 1) // 2 OR rn = (np + 2) // 2)
        |SELECT event_type, CAST(MAX(np) AS BIGINT) AS n_pairs,
        |  ROUND(SUM(slope) / COUNT(*), 6) AS slope_cents_per_day
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_time_mad" ->
      """WITH daily AS (SELECT event_type,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |ry AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
        |    ORDER BY y ASC, day ASC) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n FROM daily),
        |med AS (SELECT event_type AS mt, CAST(MAX(n) AS BIGINT) AS n_days,
        |    CAST(CASE WHEN COUNT(*) = 1 THEN SUM(y) * 2 ELSE SUM(y) END
        |      AS BIGINT) AS med2
        |  FROM ry WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2 GROUP BY 1),
        |dev AS (SELECT d.event_type, d.day, med.n_days, med.med2,
        |    ABS(d.y * 2 - med.med2) AS d2
        |  FROM daily d JOIN med ON d.event_type = med.mt),
        |rd AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
        |    ORDER BY d2 ASC, day ASC) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n FROM dev),
        |mad AS (SELECT event_type AS dt,
        |    CAST(CASE WHEN COUNT(*) = 1 THEN SUM(d2) * 2 ELSE SUM(d2) END
        |      AS BIGINT) AS mad4
        |  FROM rd WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2 GROUP BY 1)
        |SELECT dev.event_type, dev.n_days,
        |  ROUND(CAST(dev.med2 AS DOUBLE) / 200, 2) AS median_value,
        |  ROUND(CAST(mad.mad4 AS DOUBLE) / 400, 4) AS mad_value,
        |  CAST(SUM(CASE WHEN dev.d2 * 20000 > mad.mad4 * 44478
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM dev JOIN mad ON dev.event_type = mad.dt
        |GROUP BY 1, 2, dev.med2, mad.mad4 ORDER BY 1""".stripMargin,

    // Closed form of the streaming recursion: every term c·2^−(T−d) is a
    // dyadic rational with ≤2^29 denominator and counts ≤2^10, so the
    // double sum is EXACT and order-blind — the snapshot equals this
    // formula bit-for-bit. Guard domain (ADVICE r8): the per-TERM
    // tmax−x ≥ 63 zero here matches Spark's per-STEP dx ≥ 63 + gap ≥ 63
    // guards exactly while the calendar span stays < 63 days (the 30-day
    // fixture); see the matching note in StatsOps.decayFold.
    "q_stream_decay_topk" ->
      """WITH daily AS (SELECT event_type,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |d AS (SELECT event_type,
        |    CAST(day - DATE '2024-01-01' AS BIGINT) AS x, c FROM daily),
        |t AS (SELECT MAX(x) AS tmax FROM d),
        |ws AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
        |    SUM(CASE WHEN t.tmax - x >= 63 THEN CAST(0 AS DOUBLE)
        |        ELSE CAST(c AS DOUBLE)
        |        / CAST(CAST(1 AS BIGINT) << CAST(t.tmax - x AS INT) AS DOUBLE)
        |        END)
        |      AS w
        |  FROM d, t GROUP BY 1),
        |tot AS (SELECT SUM(w) AS tw FROM ws)
        |SELECT event_type, n_days, ROUND(w, 6) AS decayed_count,
        |  ROUND(w / tot.tw, 6) AS share
        |FROM ws, tot ORDER BY decayed_count DESC, event_type ASC""".stripMargin,

    // Isotropy via the closed form ‖Σû‖² − Σ‖û‖²: round-9 unit
    // components → exact DECIMAL cross-row sums; per-row folds are the
    // in-order UNNEST-sum device (= Spark's fixed-order vec_dot fold).
    "q_embed_isotropy" ->
      """WITH nr AS (SELECT vec_id, embedding,
        |    sqrt((SELECT SUM(CAST(x AS DOUBLE)*CAST(x AS DOUBLE))
        |          FROM (SELECT UNNEST(embedding) AS x) z)) AS nrm
        |  FROM embeddings),
        |e AS (SELECT * FROM nr WHERE nrm > 0),
        |comp AS (SELECT u.i AS d,
        |    CAST(ROUND(CAST(embedding[u.i] AS DOUBLE) / nrm, 9)
        |      AS DECIMAL(28,9)) AS u9
        |  FROM e, UNNEST(range(1, len(embedding) + 1)) AS u(i)),
        |sd AS (SELECT d, SUM(u9) AS sdec FROM comp GROUP BY 1),
        |ss AS (SELECT SUM(CAST(ROUND(CAST(sdec AS DOUBLE)
        |    * CAST(sdec AS DOUBLE), 9) AS DECIMAL(28,9))) AS ssum FROM sd),
        |qq AS (SELECT CAST(ROUND((SELECT SUM(
        |      ROUND(CAST(x AS DOUBLE) / nrm, 9)
        |      * ROUND(CAST(x AS DOUBLE) / nrm, 9))
        |    FROM (SELECT UNNEST(embedding) AS x) z), 9)
        |    AS DECIMAL(28,9)) AS qi FROM e),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs, SUM(qi) AS tdec
        |  FROM qq)
        |SELECT n_vecs,
        |  ROUND(CAST(ssum AS DOUBLE), 6) AS sum_sq_norm,
        |  ROUND(CAST(tdec AS DOUBLE), 6) AS self_mass,
        |  ROUND((CAST(ssum AS DOUBLE) - CAST(tdec AS DOUBLE))
        |    / (CAST(n_vecs AS DOUBLE) * (CAST(n_vecs AS DOUBLE) - 1.0)), 6)
        |    AS avg_pairwise_cos,
        |  ROUND(sqrt(CAST(ssum AS DOUBLE)) / CAST(n_vecs AS DOUBLE), 6)
        |    AS mean_vec_norm
        |FROM t, ss""".stripMargin,

    // TwoNN intrinsic dimension on the 10% sample: pinned vec_dot
    // distance combinations, ln ratios round-9 → exact DECIMAL sum.
    "q_embed_twonn" ->
      s"""WITH st AS (SELECT GREATEST(1, CAST(CEIL(COUNT(*)
        |      / ${ClusterOps.TwoNnSampleTarget}.0) AS BIGINT)) AS step
        |  FROM embeddings),
        |e AS (SELECT vec_id, embedding FROM embeddings CROSS JOIN st
        |  WHERE vec_id % st.step = 0),
        |p AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
        |    ((SELECT SUM(CAST(x AS DOUBLE)*CAST(x AS DOUBLE))
        |      FROM (SELECT UNNEST(a.embedding) AS x) za)
        |     + (SELECT SUM(CAST(y AS DOUBLE)*CAST(y AS DOUBLE))
        |        FROM (SELECT UNNEST(b.embedding) AS y) zb)
        |     - 2.0 * (SELECT SUM(CAST(x AS DOUBLE)*CAST(y AS DOUBLE))
        |        FROM (SELECT UNNEST(a.embedding) AS x,
        |                     UNNEST(b.embedding) AS y) zc)) AS dsq
        |  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
        |pp AS (SELECT * FROM p WHERE dsq > 0),
        |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY ia
        |    ORDER BY dsq ASC, ib ASC) AS rk FROM pp),
        |nn AS (SELECT ia, MIN(CASE WHEN rk = 1 THEN dsq END) AS d1,
        |    MIN(CASE WHEN rk = 2 THEN dsq END) AS d2
        |  FROM rk WHERE rk <= 2 GROUP BY 1),
        |tt AS (SELECT CAST(ROUND(LN(d2 / d1), 9) AS DECIMAL(28,9)) AS lr
        |  FROM nn WHERE d2 IS NOT NULL)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
        |  ROUND(CAST(SUM(lr) AS DOUBLE), 6) AS sum_log_ratio,
        |  ROUND(2.0 * CAST(COUNT(*) AS DOUBLE) / CAST(SUM(lr) AS DOUBLE), 6)
        |    AS id_twonn
        |FROM tt""".stripMargin,

    "q_embed_rand_proj" ->
      """WITH rm AS (SELECT s1.j, s2.k,
        |    CASE WHEN CAST('0x' || substr(md5('rp:' || s1.j || ':' || s2.k), 1, 15)
        |        AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END AS sgn
        |  FROM (SELECT UNNEST(range(0, 64)) AS j) s1,
        |       (SELECT UNNEST(range(0, 8)) AS k) s2),
        |xe AS (SELECT e.vec_id, s.j,
        |    CAST(ROUND(CAST(e.embedding[CAST(s.j + 1 AS INT)] AS DOUBLE) * 1e6, 0)
        |      AS BIGINT) AS xi
        |  FROM embeddings e, (SELECT UNNEST(range(0, 64)) AS j) s
        |  WHERE e.vec_id % 20 = 0),
        |proj AS (SELECT xe.vec_id, rm.k, CAST(SUM(xe.xi * rm.sgn) AS BIGINT) AS y
        |  FROM xe JOIN rm ON xe.j = rm.j GROUP BY 1, 2),
        |nn AS (SELECT vec_id, CAST(SUM(y * y) AS BIGINT) AS ny2
        |       FROM proj GROUP BY 1),
        |ix AS (SELECT vec_id, CAST(SUM(xi * xi) AS BIGINT) AS nx2
        |       FROM xe GROUP BY 1)
        |SELECT p.vec_id, p.k, p.y,
        |  ROUND((CAST(nn.ny2 AS DOUBLE) / 8) / CAST(ix.nx2 AS DOUBLE), 6)
        |    AS jl_ratio
        |FROM proj p JOIN nn ON p.vec_id = nn.vec_id
        |JOIN ix ON p.vec_id = ix.vec_id
        |ORDER BY p.vec_id, p.k""".stripMargin,

    "q_llm_rrf" ->
      s"""WITH tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
         |             FROM documents),
         |df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
         |q AS (SELECT tok FROM df ORDER BY df DESC, tok ASC LIMIT 3),
         |cand AS (SELECT doc_id, lang FROM documents WHERE doc_id % 10 = 0),
         |lex AS (SELECT t.doc_id, COUNT(*) AS score_lex
         |        FROM tok t JOIN q ON t.tok = q.tok GROUP BY 1),
         |qv AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |sem AS (SELECT e.vec_id AS doc_id,
         |          ROUND(${cosExpr("e.embedding", "qv.qv")}, 6) AS score_sem
         |        FROM embeddings e CROSS JOIN qv),
         |sc AS (SELECT c.lang, c.doc_id,
         |         COALESCE(l.score_lex, 0) AS score_lex, s.score_sem
         |       FROM cand c LEFT JOIN lex l ON c.doc_id = l.doc_id
         |       JOIN sem s ON c.doc_id = s.doc_id),
         |rk AS (SELECT *,
         |    ROW_NUMBER() OVER (PARTITION BY lang
         |      ORDER BY score_lex DESC, doc_id ASC) AS rank_lex,
         |    ROW_NUMBER() OVER (PARTITION BY lang
         |      ORDER BY score_sem DESC, doc_id ASC) AS rank_sem
         |  FROM sc),
         |fr AS (SELECT lang, doc_id, rank_lex, rank_sem,
         |    CAST(ROUND(CAST(1 AS DOUBLE) / (rank_lex + 60), 9)
         |      AS DECIMAL(28,9))
         |    + CAST(ROUND(CAST(1 AS DOUBLE) / (rank_sem + 60), 9)
         |      AS DECIMAL(28,9)) AS rrf
         |  FROM rk),
         |f2 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
         |    ORDER BY rrf DESC, doc_id ASC) AS rank_fused FROM fr)
         |SELECT lang, CAST(rank_fused AS BIGINT) AS rank_fused, doc_id,
         |  CAST(rank_lex AS BIGINT) AS rank_lex,
         |  CAST(rank_sem AS BIGINT) AS rank_sem,
         |  ROUND(CAST(rrf AS DOUBLE), 6) AS rrf
         |FROM f2 WHERE rank_fused <= 5 ORDER BY lang, rank_fused""".stripMargin,

    "q_agg_winsorized_mean" ->
      """WITH daily AS (SELECT event_type,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
        |    ORDER BY y ASC, day ASC) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n FROM daily),
        |rk AS (SELECT *, GREATEST(1, CAST(CEIL(n * 0.05) AS BIGINT)) AS k
        |       FROM ranked),
        |bounds AS (SELECT event_type AS bt, CAST(MIN(y) AS BIGINT) AS lo,
        |    CAST(MAX(y) AS BIGINT) AS hi, CAST(MAX(k) AS BIGINT) AS k
        |  FROM rk WHERE rn = k OR rn = n + 1 - k GROUP BY 1),
        |cl AS (SELECT r.event_type, r.n, b.k,
        |    GREATEST(b.lo, LEAST(b.hi, r.y)) AS w,
        |    CASE WHEN r.y <> GREATEST(b.lo, LEAST(b.hi, r.y))
        |      THEN 1 ELSE 0 END AS clamped
        |  FROM rk r JOIN bounds b ON r.event_type = b.bt)
        |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_days,
        |  CAST(MAX(k) AS BIGINT) AS k_clamped_each_side,
        |  CAST(SUM(clamped) AS BIGINT) AS n_clamped,
        |  ROUND(CAST(SUM(w) AS DOUBLE) / CAST(MAX(n) AS DOUBLE) / 100, 2)
        |    AS winsorized_mean
        |FROM cl GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_llm_dup_histogram" ->
      """WITH sizes AS (SELECT md5(text) AS h, CAST(COUNT(*) AS BIGINT) AS copies
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(SUM(copies) AS BIGINT) AS n_total FROM sizes)
        |SELECT copies, CAST(COUNT(*) AS BIGINT) AS n_contents,
        |  CAST(SUM(copies) AS BIGINT) AS n_docs,
        |  ROUND(CAST(SUM(copies) AS DOUBLE) / CAST(tot.n_total AS DOUBLE), 6)
        |    AS doc_share
        |FROM sizes, tot GROUP BY copies, tot.n_total ORDER BY copies""".stripMargin,

    "q_agg_tukey" -> {
      // doubled-median (med2 device) of a day-valued CTE, as SQL
      def med2(src: String, out: String): String =
        s"""$out AS (SELECT event_type AS ${out}_t,
           |    CAST(CASE WHEN COUNT(*) = 1 THEN SUM(y) * 2 ELSE SUM(y) END
           |      AS BIGINT) AS $out
           |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
           |      ORDER BY y ASC, day ASC) AS r2,
           |      COUNT(*) OVER (PARTITION BY event_type) AS n2 FROM $src)
           |  WHERE r2 = (n2 + 1) // 2 OR r2 = (n2 + 2) // 2 GROUP BY 1)""".stripMargin
      s"""WITH daily AS (SELECT event_type,
         |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
         |    CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
         |  FROM events GROUP BY 1, 2),
         |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
         |    ORDER BY y ASC, day ASC) AS rn,
         |    COUNT(*) OVER (PARTITION BY event_type) AS n FROM daily),
         |lower_h AS (SELECT event_type, day, y FROM ranked
         |            WHERE rn <= (n + 1) // 2),
         |upper_h AS (SELECT event_type, day, y FROM ranked WHERE rn > n // 2),
         |${med2("daily", "m2")},
         |${med2("lower_h", "q12")},
         |${med2("upper_h", "q32")},
         |ext AS (SELECT event_type AS et, CAST(COUNT(*) AS BIGINT) AS n_days,
         |    CAST(MIN(y) AS BIGINT) AS ymin, CAST(MAX(y) AS BIGINT) AS ymax
         |  FROM daily GROUP BY 1),
         |j AS (SELECT ext.*, m2.m2, q12.q12, q32.q32
         |  FROM ext JOIN m2 ON ext.et = m2.m2_t
         |  JOIN q12 ON ext.et = q12.q12_t
         |  JOIN q32 ON ext.et = q32.q32_t),
         |fences AS (SELECT d.event_type,
         |    CAST(SUM(CASE WHEN d.y * 4 < j.q12 * 2 - (j.q32 - j.q12) * 3
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_low_out,
         |    CAST(SUM(CASE WHEN d.y * 4 > j.q32 * 2 + (j.q32 - j.q12) * 3
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_high_out
         |  FROM daily d JOIN j ON d.event_type = j.et GROUP BY 1)
         |SELECT j.et AS event_type, j.n_days,
         |  ROUND(CAST(j.ymin AS DOUBLE) / 100, 2) AS min_value,
         |  ROUND(CAST(j.q12 AS DOUBLE) / 200, 2) AS q1,
         |  ROUND(CAST(j.m2 AS DOUBLE) / 200, 2) AS median,
         |  ROUND(CAST(j.q32 AS DOUBLE) / 200, 2) AS q3,
         |  ROUND(CAST(j.ymax AS DOUBLE) / 100, 2) AS max_value,
         |  f.n_low_out, f.n_high_out
         |FROM j JOIN fences f ON j.et = f.event_type
         |ORDER BY event_type""".stripMargin
    },

    "q_time_runs_test" ->
      """WITH daily AS (SELECT event_type,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |ry AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
        |    ORDER BY y ASC, day ASC) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n FROM daily),
        |med AS (SELECT event_type AS mt,
        |    CAST(CASE WHEN COUNT(*) = 1 THEN SUM(y) * 2 ELSE SUM(y) END
        |      AS BIGINT) AS med2
        |  FROM ry WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2 GROUP BY 1),
        |signs AS (SELECT d.event_type, d.day,
        |    CAST(d.y * 2 > med.med2 AS INT) AS above
        |  FROM daily d JOIN med ON d.event_type = med.mt
        |  WHERE d.y * 2 <> med.med2),
        |chg AS (SELECT event_type, above,
        |    CASE WHEN LAG(above) OVER w IS NULL THEN 1
        |         WHEN LAG(above) OVER w <> above THEN 1 ELSE 0 END AS chg
        |  FROM signs WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |agg AS (SELECT event_type,
        |    CAST(SUM(above) AS BIGINT) AS n_pos,
        |    CAST(SUM(1 - above) AS BIGINT) AS n_neg,
        |    CAST(SUM(chg) AS BIGINT) AS n_runs
        |  FROM chg GROUP BY 1)
        |SELECT event_type, n_pos, n_neg, n_runs,
        |  ROUND(CAST(2 AS DOUBLE) * CAST(n_pos AS DOUBLE)
        |    * CAST(n_neg AS DOUBLE)
        |    / (CAST(n_pos AS DOUBLE) + CAST(n_neg AS DOUBLE)) + 1, 6)
        |    AS expected_runs,
        |  CASE WHEN n_pos = 0 OR n_neg = 0
        |    OR 2 * n_pos * n_neg = n_pos + n_neg THEN NULL ELSE
        |  ROUND((CAST(n_runs AS DOUBLE)
        |      - (CAST(2 AS DOUBLE) * CAST(n_pos AS DOUBLE)
        |         * CAST(n_neg AS DOUBLE)
        |         / (CAST(n_pos AS DOUBLE) + CAST(n_neg AS DOUBLE)) + 1))
        |    / SQRT((CAST(2 AS DOUBLE) * CAST(n_pos AS DOUBLE)
        |        * CAST(n_neg AS DOUBLE)
        |        * (CAST(2 AS DOUBLE) * CAST(n_pos AS DOUBLE)
        |           * CAST(n_neg AS DOUBLE)
        |           - (CAST(n_pos AS DOUBLE) + CAST(n_neg AS DOUBLE))))
        |      / ((CAST(n_pos AS DOUBLE) + CAST(n_neg AS DOUBLE))
        |         * (CAST(n_pos AS DOUBLE) + CAST(n_neg AS DOUBLE))
        |         * (CAST(n_pos AS DOUBLE) + CAST(n_neg AS DOUBLE) - 1))), 6)
        |  END
        |    AS z
        |FROM agg ORDER BY event_type""".stripMargin,

    // PMI collocations: the exact-integer ratio reaches LN as one
    // division (identical IEEE double both engines); round-6 absorbs the
    // libm-vs-StrictMath last-ulp (the q_agg_entropy device)
    "q_text_pmi" ->
      """WITH tok AS (SELECT DISTINCT lang, doc_id, tok FROM (
        |    SELECT lang, doc_id, UNNEST(string_split(text, ' ')) AS tok
        |    FROM documents) WHERE tok <> ''),
        |nd AS (SELECT lang AS nl, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        |  FROM tok GROUP BY 1),
        |wc AS (SELECT lang AS wl, tok AS ww, CAST(COUNT(*) AS BIGINT) AS cw
        |  FROM tok GROUP BY 1, 2),
        |pr AS (SELECT a.lang, a.tok AS wa, b.tok AS wb,
        |    CAST(COUNT(*) AS BIGINT) AS cab
        |  FROM tok a JOIN tok b
        |    ON a.doc_id = b.doc_id AND a.lang = b.lang AND a.tok < b.tok
        |  GROUP BY 1, 2, 3 HAVING COUNT(*) >= 5),
        |sc AS (SELECT pr.lang, wa, wb, cab,
        |    ROUND(LN(CAST(cab * nd.n_docs AS DOUBLE)
        |      / CAST(ca.cw * cb.cw AS DOUBLE)), 6) AS pmi
        |  FROM pr JOIN nd ON pr.lang = nd.nl
        |  JOIN wc ca ON pr.lang = ca.wl AND pr.wa = ca.ww
        |  JOIN wc cb ON pr.lang = cb.wl AND pr.wb = cb.ww),
        |rk AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |    ORDER BY pmi DESC, wa ASC, wb ASC) AS BIGINT) AS rnk FROM sc)
        |SELECT lang, rnk, wa AS word_a, wb AS word_b,
        |  cab AS n_pair_docs, pmi
        |FROM rk WHERE rnk <= 10 ORDER BY lang, rnk""".stripMargin,

    // Dunning G² collocations over the PMI counting chain: 2×2 doc
    // contingency per pair, pinned per-cell double terms, round-6 final.
    "q_text_llr" ->
      """WITH tok AS (SELECT DISTINCT lang, doc_id, tok FROM (
        |    SELECT lang, doc_id, UNNEST(string_split(text, ' ')) AS tok
        |    FROM documents) WHERE tok <> ''),
        |nd AS (SELECT lang AS nl, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        |  FROM tok GROUP BY 1),
        |wc AS (SELECT lang AS wl, tok AS ww, CAST(COUNT(*) AS BIGINT) AS cw
        |  FROM tok GROUP BY 1, 2),
        |pr AS (SELECT a.lang, a.tok AS wa, b.tok AS wb,
        |    CAST(COUNT(*) AS BIGINT) AS cab
        |  FROM tok a JOIN tok b
        |    ON a.doc_id = b.doc_id AND a.lang = b.lang AND a.tok < b.tok
        |  GROUP BY 1, 2, 3 HAVING COUNT(*) >= 5),
        |cl AS (SELECT pr.lang, wa, wb, cab, nd.n_docs AS n,
        |    ca.cw AS ca, cb.cw AS cb
        |  FROM pr JOIN nd ON pr.lang = nd.nl
        |  JOIN wc ca ON pr.lang = ca.wl AND pr.wa = ca.ww
        |  JOIN wc cb ON pr.lang = cb.wl AND pr.wb = cb.ww),
        |sc AS (SELECT lang, wa, wb, cab,
        |  ROUND(2.0 * (
        |    (CASE WHEN cab > 0 THEN CAST(cab AS DOUBLE)
        |      * LN(CAST(cab * n AS DOUBLE) / CAST(ca * cb AS DOUBLE))
        |      ELSE 0.0 END)
        |    + (CASE WHEN ca - cab > 0 THEN CAST(ca - cab AS DOUBLE)
        |      * LN(CAST((ca - cab) * n AS DOUBLE)
        |           / CAST(ca * (n - cb) AS DOUBLE)) ELSE 0.0 END)
        |    + (CASE WHEN cb - cab > 0 THEN CAST(cb - cab AS DOUBLE)
        |      * LN(CAST((cb - cab) * n AS DOUBLE)
        |           / CAST((n - ca) * cb AS DOUBLE)) ELSE 0.0 END)
        |    + (CASE WHEN n - ca - cb + cab > 0
        |      THEN CAST(n - ca - cb + cab AS DOUBLE)
        |      * LN(CAST((n - ca - cb + cab) * n AS DOUBLE)
        |           / CAST((n - ca) * (n - cb) AS DOUBLE)) ELSE 0.0 END)
        |  ), 6) AS g2 FROM cl),
        |rk AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |    ORDER BY g2 DESC, wa ASC, wb ASC) AS BIGINT) AS rnk FROM sc)
        |SELECT lang, rnk, wa AS word_a, wb AS word_b,
        |  cab AS n_pair_docs, g2
        |FROM rk WHERE rnk <= 10 ORDER BY lang, rnk""".stripMargin,

    // Streaming Page CUSUM replayed via the drawdown identity
    // C+_t = R_t - min(0, min_j R_j) — a window expression over the
    // exact integer increments, bit-identical to the recursive fold
    "q_stream_cusum" ->
      """WITH daily AS (SELECT event_type,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |d AS (SELECT event_type,
        |    CAST(day - DATE '2024-01-01' AS BIGINT) AS x, y FROM daily),
        |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
        |    ORDER BY x) AS rn FROM d),
        |ref AS (SELECT event_type AS ret, CAST(SUM(y) AS BIGINT) AS sref
        |  FROM rk WHERE rn <= 10 GROUP BY 1),
        |mon AS (SELECT rk.event_type, rk.x,
        |    CAST(10 * rk.y - ref.sref AS BIGINT) AS dlt, ref.sref
        |  FROM rk JOIN ref ON rk.event_type = ref.ret WHERE rk.rn > 10),
        |p1 AS (SELECT *, CAST(SUM(dlt) OVER (PARTITION BY event_type
        |    ORDER BY x) AS BIGINT) AS r FROM mon),
        |p2 AS (SELECT *, CAST(r - LEAST(CAST(0 AS BIGINT),
        |    MIN(r) OVER (PARTITION BY event_type ORDER BY x)) AS BIGINT) AS c
        |  FROM p1),
        |pk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
        |    ORDER BY c DESC, x ASC) AS pk FROM p2)
        |SELECT event_type, CAST(10 AS BIGINT) AS n_ref_days,
        |  CAST(COUNT(*) AS BIGINT) AS n_monitored,
        |  CAST(MAX(c) AS BIGINT) AS cusum_pos_max,
        |  CAST(MAX(CASE WHEN pk = 1 THEN x END) AS BIGINT) AS peak_x,
        |  CAST(SUM(CASE WHEN 10 * c > 10 * sref THEN 1 ELSE 0 END)
        |    AS BIGINT) AS alarm_days
        |FROM pk GROUP BY 1 ORDER BY 1""".stripMargin,

    // CUSUM path in exact n-scaled integer residuals (the Ljung-Box
    // device); the one display division rounds on the k*100/n grid whose
    // true .5 ties are exactly representable (both engines round up)
    "q_time_cusum" ->
      """WITH daily AS (SELECT event_type,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type AS s_et, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(y) AS BIGINT) AS sy FROM daily GROUP BY 1),
        |cu AS (SELECT d.event_type, d.day, st.n,
        |    CAST(SUM(st.n * d.y - st.sy) OVER (PARTITION BY d.event_type
        |      ORDER BY d.day) AS BIGINT) AS cu
        |  FROM daily d JOIN st ON d.event_type = st.s_et),
        |pk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
        |    ORDER BY cu DESC, day ASC) AS pk FROM cu)
        |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_days,
        |  CAST(MAX(cu) AS BIGINT) AS cusum_max,
        |  CAST(MIN(cu) AS BIGINT) AS cusum_min,
        |  MAX(CASE WHEN pk = 1 THEN day END) AS peak_day,
        |  ROUND(CAST(MAX(cu) - MIN(cu) AS DOUBLE) * 100
        |    / CAST(MAX(n) AS DOUBLE), 0) / 1e4 AS range_value
        |FROM pk GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_text_burstiness" ->
      """WITH nd AS (SELECT lang AS nl, CAST(COUNT(*) AS BIGINT) AS nn
        |            FROM documents GROUP BY 1),
        |perdoc AS (SELECT lang, tok, doc_id, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM (SELECT lang, doc_id, UNNEST(string_split(text, ' ')) AS tok
        |        FROM documents)
        |  GROUP BY 1, 2, 3),
        |mom AS (SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS n_docs_with,
        |    CAST(SUM(c) AS BIGINT) AS sc, CAST(SUM(c * c) AS BIGINT) AS sc2
        |  FROM perdoc GROUP BY 1, 2),
        |top AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
        |    ORDER BY sc DESC, tok ASC) AS rk FROM mom)
        |SELECT t.lang, CAST(t.rk AS BIGINT) AS rk, t.tok, nd.nn AS n_docs,
        |  t.n_docs_with, t.sc AS total_count,
        |  ROUND(CAST(t.sc AS DOUBLE) / CAST(nd.nn AS DOUBLE), 6)
        |    AS mean_per_doc,
        |  ROUND(((CAST(nd.nn AS DOUBLE) * CAST(t.sc2 AS DOUBLE)
        |      - CAST(t.sc AS DOUBLE) * CAST(t.sc AS DOUBLE))
        |    / (CAST(nd.nn AS DOUBLE) * (CAST(nd.nn AS DOUBLE) - 1)))
        |    / (CAST(t.sc AS DOUBLE) / CAST(nd.nn AS DOUBLE)), 6) AS vmr
        |FROM top t JOIN nd ON t.lang = nd.nl
        |WHERE t.rk <= 4 ORDER BY t.lang, t.rk""".stripMargin,

    "q_agg_hodges_lehmann" ->
      """WITH daily AS (SELECT event_type,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |d AS (SELECT event_type,
        |    CAST(day - DATE '2024-01-01' AS BIGINT) AS x, y FROM daily),
        |p AS (SELECT a.event_type, a.x AS x1, b.x AS x2,
        |    a.y + b.y AS w2
        |  FROM d a JOIN d b ON a.event_type = b.event_type AND a.x <= b.x),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
        |    ORDER BY w2 ASC, x1 ASC, x2 ASC) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS np FROM p),
        |m AS (SELECT event_type, np, w2 FROM r
        |      WHERE rn = (np + 1) // 2 OR rn = (np + 2) // 2)
        |SELECT event_type, CAST(MAX(np) AS BIGINT) AS n_pairs,
        |  ROUND(CAST(SUM(w2) AS DOUBLE)
        |    / CAST(COUNT(*) * 2 AS DOUBLE) / 100, 2) AS pseudo_median
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_time_ljungbox" -> {
      val m = StatsOps.LjungBoxLags
      s"""WITH daily AS (SELECT event_type,
         |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
         |    CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
         |  FROM events GROUP BY 1, 2),
         |d AS (SELECT event_type,
         |    CAST(day - DATE '2024-01-01' AS BIGINT) AS x, y FROM daily),
         |st AS (SELECT event_type AS s_t, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(y) AS BIGINT) AS sy FROM d GROUP BY 1),
         |resid AS (SELECT d.event_type, d.x,
         |    d.y * st.n - st.sy AS e, st.n
         |  FROM d JOIN st ON d.event_type = st.s_t),
         |num AS (SELECT a.event_type, l.lag, a.n,
         |    SUM(CAST(a.e AS DECIMAL(38,0)) * b.e) AS nk
         |  FROM resid a
         |  CROSS JOIN (SELECT UNNEST(range(1, ${m + 1})) AS lag) l
         |  JOIN resid b ON a.event_type = b.event_type
         |    AND a.x = b.x + l.lag
         |  GROUP BY 1, 2, 3),
         |den AS (SELECT event_type AS dt,
         |    SUM(CAST(e AS DECIMAL(38,0)) * e) AS d FROM resid GROUP BY 1),
         |terms AS (SELECT num.event_type, num.n,
         |    CAST(ROUND((CAST(nk AS DOUBLE) / CAST(den.d AS DOUBLE))
         |      * (CAST(nk AS DOUBLE) / CAST(den.d AS DOUBLE))
         |      / CAST(num.n - num.lag AS DOUBLE), 9) AS DECIMAL(28,9)) AS term
         |  FROM num JOIN den ON num.event_type = den.dt)
         |SELECT event_type, n AS n_days,
         |  ROUND(CAST(n AS DOUBLE) * CAST(n + 2 AS DOUBLE)
         |    * CAST(SUM(term) AS DOUBLE), 6) AS q_stat,
         |  CAST($m AS BIGINT) AS df
         |FROM terms GROUP BY event_type, n ORDER BY event_type""".stripMargin
    },

    "q_agg_permutation_test" -> {
      val b = StatsOps.PermB
      s"""WITH daily AS (SELECT event_type,
         |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
         |    CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
         |  FROM events GROUP BY 1, 2),
         |d AS (SELECT event_type,
         |    CAST(day - DATE '2024-01-01' AS BIGINT) AS x, y,
         |    day <= DATE '2024-01-15' AS is_ref FROM daily),
         |sizes AS (SELECT event_type AS st,
         |    CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS nr
         |  FROM d GROUP BY 1),
         |obs AS (SELECT event_type AS ot,
         |    CAST(SUM(CASE WHEN is_ref THEN y ELSE 0 END) AS BIGINT) AS sr,
         |    CAST(SUM(CASE WHEN NOT is_ref THEN y ELSE 0 END) AS BIGINT) AS sc,
         |    CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS onr,
         |    CAST(SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS BIGINT) AS onc
         |  FROM d GROUP BY 1),
         |perm AS (SELECT d.event_type, r.b, d.y, s.nr,
         |    ROW_NUMBER() OVER (PARTITION BY d.event_type, r.b
         |      ORDER BY CAST('0x' || substr(md5('pm:' || d.event_type || ':'
         |        || r.b || ':' || d.x), 1, 15) AS BIGINT) ASC, d.x ASC) AS rk
         |  FROM d CROSS JOIN (SELECT UNNEST(range(0, $b)) AS b) r
         |  JOIN sizes s ON d.event_type = s.st),
         |pstat AS (SELECT event_type, b,
         |    CAST(SUM(CASE WHEN rk <= nr THEN y ELSE 0 END) AS BIGINT) AS psr,
         |    CAST(SUM(CASE WHEN rk > nr THEN y ELSE 0 END) AS BIGINT) AS psc
         |  FROM perm GROUP BY 1, 2),
         |cmp AS (SELECT p.event_type, o.sr, o.sc, o.onr, o.onc,
         |    ABS(p.psr * o.onc - p.psc * o.onr) AS pd,
         |    ABS(o.sr * o.onc - o.sc * o.onr) AS od
         |  FROM pstat p JOIN obs o ON p.event_type = o.ot)
         |SELECT event_type, onr AS n_ref, onc AS n_cur,
         |  ROUND((CAST(sr AS DOUBLE) / CAST(onr AS DOUBLE)
         |    - CAST(sc AS DOUBLE) / CAST(onc AS DOUBLE)) / 100, 2) AS mean_diff,
         |  ROUND(CAST(SUM(CASE WHEN pd >= od THEN 1 ELSE 0 END) + 1 AS DOUBLE)
         |    / ${b + 1}, 6) AS p_value
         |FROM cmp GROUP BY event_type, onr, onc, sr, sc
         |ORDER BY event_type""".stripMargin
    },

    "q_agg_bootstrap_ci" -> {
      val b = StatsOps.BootstrapB
      val lo = math.ceil(0.05 * b).toInt
      val hi = math.ceil(0.95 * b).toInt
      s"""WITH daily AS (SELECT event_type,
         |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
         |    CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
         |  FROM events GROUP BY 1, 2),
         |idx AS (SELECT event_type AS it,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) - 1
         |      AS BIGINT) AS i, y
         |  FROM daily),
         |np AS (SELECT it AS nt, CAST(COUNT(*) AS BIGINT) AS n
         |       FROM idx GROUP BY 1),
         |slots AS (SELECT t.event_type, np.n, r.b, u.slot
         |  FROM (SELECT DISTINCT it AS event_type FROM idx) t
         |  JOIN np ON t.event_type = np.nt,
         |  (SELECT UNNEST(range(0, $b)) AS b) r,
         |  UNNEST(range(0, np.n)) AS u(slot)),
         |draw AS (SELECT event_type, n, b, slot,
         |    CAST('0x' || substr(md5('bs:' || event_type || ':' || b || ':'
         |      || slot), 1, 15) AS BIGINT) % n AS j
         |  FROM slots),
         |means AS (SELECT d.event_type, d.b, d.n,
         |    CAST(SUM(idx.y) AS DOUBLE) / CAST(d.n AS DOUBLE) AS m
         |  FROM draw d JOIN idx ON d.event_type = idx.it AND d.j = idx.i
         |  GROUP BY 1, 2, 3),
         |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
         |    ORDER BY m ASC, b ASC) AS rk FROM means),
         |ci AS (SELECT event_type AS ct, MIN(m) AS mlo, MAX(m) AS mhi
         |       FROM ranked WHERE rk = $lo OR rk = $hi GROUP BY 1),
         |base AS (SELECT event_type AS bt, CAST(COUNT(*) AS BIGINT) AS n_days,
         |    CAST(SUM(y) AS BIGINT) AS ty FROM daily GROUP BY 1)
         |SELECT base.bt AS event_type, base.n_days,
         |  ROUND(CAST(base.ty AS DOUBLE) / CAST(base.n_days AS DOUBLE) / 100, 2)
         |    AS mean_value,
         |  ROUND(ci.mlo / 100, 2) AS ci_lo,
         |  ROUND(ci.mhi / 100, 2) AS ci_hi
         |FROM ci JOIN base ON ci.ct = base.bt
         |ORDER BY event_type""".stripMargin
    },

    "q_llm_calibration" ->
      """WITH tokall AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |               FROM documents),
        |stop AS (SELECT token FROM (SELECT token, COUNT(*) AS c FROM tokall
        |         GROUP BY 1 ORDER BY c DESC, token ASC LIMIT 10)),
        |sc AS (SELECT doc_id, COUNT(*) AS stop_cnt FROM tokall
        |       WHERE token IN (SELECT token FROM stop) GROUP BY 1),
        |t AS (SELECT doc_id, string_split(text, ' ') AS toks, text FROM documents),
        |f AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |  round(ln(1.0::DOUBLE + len(toks)), 9) AS f_len,
        |  CAST(length(text) - (len(toks) - 1) AS DOUBLE) / len(toks) AS f_awl,
        |  CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS f_ttr,
        |  CAST(len(list_filter(toks, s -> length(s) <= 3)) AS DOUBLE)
        |    / len(toks) AS f_short
        |  FROM t),
        |zz AS (SELECT doc_id, n_tokens,
        |  round(0.8::DOUBLE * f_len + 0.5::DOUBLE * f_ttr
        |        - 0.4::DOUBLE * f_short + 0.05::DOUBLE * f_awl
        |        - 2.0::DOUBLE, 6) AS z FROM f),
        |scored AS (SELECT zz.doc_id,
        |    CASE WHEN (zz.n_tokens BETWEEN 10 AND 1000)
        |      AND (CAST(COALESCE(sc.stop_cnt, 0) AS DOUBLE) / zz.n_tokens
        |           < 0.5::DOUBLE) THEN 1 ELSE 0 END AS label,
        |    CAST(ROUND(CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + exp(-z)), 9)
        |      AS DECIMAL(10,9)) AS p9
        |  FROM zz LEFT JOIN sc ON zz.doc_id = sc.doc_id),
        |binned AS (SELECT CAST(LEAST(9, FLOOR(p9 * 10)) AS INT) AS bin,
        |    label, p9 FROM scored),
        |bins AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(p9) AS DOUBLE) / COUNT(*) AS conf,
        |    CAST(SUM(label) AS DOUBLE) / COUNT(*) AS acc
        |  FROM binned GROUP BY 1),
        |g AS (SELECT bin, n_docs, conf, acc, ABS(acc - conf) AS gap FROM bins),
        |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS nt,
        |    SUM(CAST(ROUND(gap * CAST(n_docs AS DOUBLE), 9)
        |      AS DECIMAL(28,9))) AS gw FROM g)
        |SELECT g.bin, g.n_docs, ROUND(g.conf, 6) AS conf, ROUND(g.acc, 6) AS acc,
        |  ROUND(g.gap, 6) AS gap,
        |  ROUND(CAST(tot.gw AS DOUBLE) / CAST(tot.nt AS DOUBLE), 6) AS ece
        |FROM g, tot ORDER BY g.bin""".stripMargin,

    // Murphy decomposition over the calibration scored CTE: exact
    // decimal Brier sums + round-9 weighted bin terms.
    "q_agg_brier" ->
      """WITH tokall AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |               FROM documents),
        |stop AS (SELECT token FROM (SELECT token, COUNT(*) AS c FROM tokall
        |         GROUP BY 1 ORDER BY c DESC, token ASC LIMIT 10)),
        |sc AS (SELECT doc_id, COUNT(*) AS stop_cnt FROM tokall
        |       WHERE token IN (SELECT token FROM stop) GROUP BY 1),
        |t AS (SELECT doc_id, string_split(text, ' ') AS toks, text FROM documents),
        |f AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |  round(ln(1.0::DOUBLE + len(toks)), 9) AS f_len,
        |  CAST(length(text) - (len(toks) - 1) AS DOUBLE) / len(toks) AS f_awl,
        |  CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS f_ttr,
        |  CAST(len(list_filter(toks, s -> length(s) <= 3)) AS DOUBLE)
        |    / len(toks) AS f_short
        |  FROM t),
        |zz AS (SELECT doc_id, n_tokens,
        |  round(0.8::DOUBLE * f_len + 0.5::DOUBLE * f_ttr
        |        - 0.4::DOUBLE * f_short + 0.05::DOUBLE * f_awl
        |        - 2.0::DOUBLE, 6) AS z FROM f),
        |scored AS (SELECT zz.doc_id,
        |    CASE WHEN (zz.n_tokens BETWEEN 10 AND 1000)
        |      AND (CAST(COALESCE(sc.stop_cnt, 0) AS DOUBLE) / zz.n_tokens
        |           < 0.5::DOUBLE) THEN 1 ELSE 0 END AS label,
        |    CAST(ROUND(CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + exp(-z)), 9)
        |      AS DECIMAL(10,9)) AS p9
        |  FROM zz LEFT JOIN sc ON zz.doc_id = sc.doc_id),
        |binned AS (SELECT CAST(LEAST(9, FLOOR(p9 * 10)) AS INT) AS bin,
        |    label, p9 FROM scored),
        |bins AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS nb,
        |    SUM(p9) AS spb, CAST(SUM(label) AS BIGINT) AS nkb
        |  FROM binned GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(label) AS BIGINT) AS sy,
        |    SUM(p9 * p9) AS sp2,
        |    SUM(CASE WHEN label = 1 THEN p9 END) AS spy
        |  FROM binned),
        |terms AS (SELECT tot.n_docs, tot.sy, tot.sp2, tot.spy,
        |    CAST(ROUND(CAST(bins.nb AS DOUBLE)
        |      * ((CAST(bins.spb AS DOUBLE) / CAST(bins.nb AS DOUBLE)
        |          - CAST(bins.nkb AS DOUBLE) / CAST(bins.nb AS DOUBLE))
        |         * (CAST(bins.spb AS DOUBLE) / CAST(bins.nb AS DOUBLE)
        |            - CAST(bins.nkb AS DOUBLE) / CAST(bins.nb AS DOUBLE))), 9)
        |      AS DECIMAL(28,9)) AS relterm,
        |    CAST(ROUND(CAST(bins.nb AS DOUBLE)
        |      * ((CAST(bins.nkb AS DOUBLE) / CAST(bins.nb AS DOUBLE)
        |          - CAST(tot.sy AS DOUBLE) / CAST(tot.n_docs AS DOUBLE))
        |         * (CAST(bins.nkb AS DOUBLE) / CAST(bins.nb AS DOUBLE)
        |            - CAST(tot.sy AS DOUBLE) / CAST(tot.n_docs AS DOUBLE))), 9)
        |      AS DECIMAL(28,9)) AS resterm
        |  FROM bins, tot),
        |agg AS (SELECT n_docs, sy, sp2, spy,
        |    SUM(relterm) AS rel, SUM(resterm) AS res
        |  FROM terms GROUP BY 1, 2, 3, 4)
        |SELECT n_docs,
        |  ROUND((CAST(sp2 AS DOUBLE) - 2.0 * CAST(spy AS DOUBLE)
        |    + CAST(sy AS DOUBLE)) / CAST(n_docs AS DOUBLE), 6) AS brier,
        |  ROUND(CAST(rel AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS reliability,
        |  ROUND(CAST(res AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS resolution,
        |  ROUND((CAST(sy AS DOUBLE) / CAST(n_docs AS DOUBLE))
        |    * (1.0 - CAST(sy AS DOUBLE) / CAST(n_docs AS DOUBLE)), 6)
        |    AS uncertainty,
        |  ROUND((CAST(sp2 AS DOUBLE) - 2.0 * CAST(spy AS DOUBLE)
        |    + CAST(sy AS DOUBLE)) / CAST(n_docs AS DOUBLE)
        |    - (CAST(rel AS DOUBLE) / CAST(n_docs AS DOUBLE)
        |       - CAST(res AS DOUBLE) / CAST(n_docs AS DOUBLE)
        |       + (CAST(sy AS DOUBLE) / CAST(n_docs AS DOUBLE))
        |         * (1.0 - CAST(sy AS DOUBLE) / CAST(n_docs AS DOUBLE))), 6)
        |    AS within_bin_resid
        |FROM agg""".stripMargin,

    "q_graph_transition_entropy" ->
      """WITH seq AS (SELECT l_partkey,
        |    LEAD(l_partkey) OVER (PARTITION BY l_orderkey
        |      ORDER BY l_linenumber, l_partkey) AS nxt
        |  FROM lineitem),
        |cnt AS (SELECT l_partkey AS src, nxt AS dst, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM seq WHERE nxt IS NOT NULL AND nxt <> l_partkey GROUP BY 1, 2),
        |tot AS (SELECT src AS ts, CAST(SUM(c) AS BIGINT) AS t,
        |    CAST(COUNT(*) AS BIGINT) AS fanout FROM cnt GROUP BY 1),
        |terms AS (SELECT cnt.src, tot.fanout, tot.t,
        |    CAST(ROUND(-(CAST(cnt.c AS DOUBLE) / CAST(tot.t AS DOUBLE))
        |      * ln(CAST(cnt.c AS DOUBLE) / CAST(tot.t AS DOUBLE)), 9)
        |      AS DECIMAL(18,9)) AS term
        |  FROM cnt JOIN tot ON cnt.src = tot.ts)
        |SELECT src, fanout AS out_degree, t AS n_transitions,
        |  ROUND(CAST(SUM(term) AS DOUBLE), 6) AS entropy
        |FROM terms GROUP BY src, fanout, t
        |ORDER BY entropy DESC, out_degree DESC, src ASC LIMIT 20""".stripMargin,

    "q_graph_ktruss" -> {
      val k = GraphOps.TrussRounds
      // every CTE is MATERIALIZED: each pp_r is referenced 4-5× (both
      // wedge legs + the per-round counts), and DuckDB inlines CTEs by
      // default — without the hint the chain re-expands multiplicatively
      // down to the 12M-row co-occurrence aggregation (measured: the
      // un-hinted form ran >8 min at sf0.01; hinted, sub-second)
      val peels = (1 to k).map { r =>
        s"""und${r - 1} AS MATERIALIZED (SELECT a AS s, b AS d FROM pp${r - 1}
           |  UNION ALL SELECT b, a FROM pp${r - 1}),
           |pp$r AS MATERIALIZED (SELECT p.a, p.b FROM pp${r - 1} p
           |  JOIN und${r - 1} u1 ON u1.s = p.a
           |  JOIN und${r - 1} u2 ON u2.s = p.b AND u2.d = u1.d
           |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)""".stripMargin
      }.mkString(",\n")
      val rows = (1 to k).map { r =>
        s"""SELECT $r AS round,
           |  (SELECT COUNT(*) FROM pp${r - 1}) AS n_edges_in,
           |  (SELECT COUNT(*) FROM pp${r - 1})
           |    - (SELECT COUNT(*) FROM pp$r) AS n_peeled,
           |  (SELECT COUNT(*) FROM pp$r) AS n_remaining""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $edgesCte,
         |pp0 AS MATERIALIZED (SELECT e1.dst AS a, e2.dst AS b
         |        FROM edges e1 JOIN edges e2
         |          ON e1.src = e2.src AND e1.dst < e2.dst
         |        GROUP BY 1, 2 HAVING COUNT(*) >= ${GraphOps.TriangleMinCooccur}),
         |$peels
         |SELECT CAST(round AS INT) AS round,
         |  CAST(n_edges_in AS BIGINT) AS n_edges_in,
         |  CAST(n_peeled AS BIGINT) AS n_peeled,
         |  CAST(n_remaining AS BIGINT) AS n_remaining
         |FROM ($rows) ORDER BY round""".stripMargin
    },

    "q_text_lexical_diversity" ->
      """WITH tf AS (SELECT lang, UNNEST(string_split(text, ' ')) AS tok
        |            FROM documents),
        |cnt AS (SELECT lang, tok, COUNT(*) AS f FROM tf GROUP BY 1, 2)
        |SELECT lang, CAST(SUM(f) AS BIGINT) AS n_tokens,
        |  CAST(COUNT(*) AS BIGINT) AS vocab,
        |  ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(f) AS DOUBLE), 6) AS ttr,
        |  ROUND(CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 6) AS hapax_share,
        |  ROUND(CAST(10000 AS DOUBLE) * CAST(SUM(f * f) - SUM(f) AS DOUBLE)
        |    / (CAST(SUM(f) AS DOUBLE) * CAST(SUM(f) AS DOUBLE)), 6) AS yule_k
        |FROM cnt GROUP BY 1 ORDER BY 1""".stripMargin,

    // trig factors are the SAME driver-materialized integer literals the
    // Spark plan uses (StatsOps.PeriodogramTrig) — no DuckDB libm either
    "q_time_periodogram" -> {
      val trigVals = StatsOps.PeriodogramTrig
        .map { case (t, m, c9, s9) => s"($t, $m, CAST($c9 AS BIGINT), CAST($s9 AS BIGINT))" }
        .mkString(",\n        |    ")
      s"""WITH daily AS (SELECT event_type,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |d AS (SELECT event_type,
        |    CAST(day - DATE '2024-01-01' AS BIGINT) AS x, y FROM daily),
        |trig AS (SELECT * FROM (VALUES
        |    $trigVals) AS v(t, m, c9, s9)),
        |terms AS (SELECT d.event_type, trig.t, d.y, trig.c9, trig.s9
        |  -- sign-safe residue (ADVICE r8): DuckDB % keeps the dividend's
        |  -- sign while Spark uses PMOD, so a pre-epoch day (x < 0) would
        |  -- silently drop here under plain %; the double-mod form matches
        |  -- PMOD for every x
        |  FROM d JOIN trig ON ((d.x % trig.t) + trig.t) % trig.t = trig.m),
        |agg AS (SELECT event_type, t, CAST(COUNT(*) AS BIGINT) AS n_days,
        |    CAST(SUM(y * c9) AS BIGINT) AS cs,
        |    CAST(SUM(y * s9) AS BIGINT) AS ss
        |  FROM terms GROUP BY 1, 2)
        |SELECT event_type, CAST(t AS INT) AS period_days, n_days,
        |  ROUND(SQRT((CAST(cs AS DOUBLE) / 1e9) * (CAST(cs AS DOUBLE) / 1e9)
        |    + (CAST(ss AS DOUBLE) / 1e9) * (CAST(ss AS DOUBLE) / 1e9))
        |    * CAST(2 AS DOUBLE) / CAST(n_days AS DOUBLE)
        |    / CAST(100 AS DOUBLE), 3) AS amplitude
        |FROM agg ORDER BY event_type, period_days""".stripMargin
    },

    "q_graph_scc_colors" -> {
      val k = GraphOps.SccHops
      val fSteps = (1 to k).map { i =>
        s"""f$i AS (SELECT v, MIN(f) AS f FROM (
           |    SELECT v, f FROM f${i - 1}
           |    UNION ALL
           |    SELECT e.dst AS v, p.f FROM t e JOIN f${i - 1} p ON e.src = p.v)
           |  GROUP BY v)""".stripMargin
      }.mkString(",\n")
      val bSteps = (1 to k).map { i =>
        s"""b$i AS (SELECT v, MIN(b) AS b FROM (
           |    SELECT v, b FROM b${i - 1}
           |    UNION ALL
           |    SELECT e.src AS v, p.b FROM t e JOIN b${i - 1} p ON e.dst = p.v)
           |  GROUP BY v)""".stripMargin
      }.mkString(",\n")
      s"""WITH $transCte,
         |nodes AS (SELECT DISTINCT v FROM (
         |  SELECT src AS v FROM t UNION ALL SELECT dst AS v FROM t)),
         |f0 AS (SELECT v, v AS f FROM nodes),
         |$fSteps,
         |b0 AS (SELECT v, v AS b FROM nodes),
         |$bSteps
         |SELECT f$k.f AS f_label, b$k.b AS b_label,
         |  CAST(COUNT(*) AS BIGINT) AS class_size
         |FROM f$k JOIN b$k USING (v)
         |GROUP BY 1, 2
         |ORDER BY class_size DESC, f_label ASC, b_label ASC
         |LIMIT 10""".stripMargin
    },

    // TextRank: RAKE's stoplist + position devices to build the
    // adjacent-pair word graph, then the q_graph_pagerank unrolled
    // 1e9-scaled power-iteration chain verbatim.
    "q_text_textrank" -> {
      val steps = (1 to TextOps.TextrankIters).map { i =>
        s"""r$i AS (SELECT u.dst AS node,
           |  CAST(0.15 AS DOUBLE) + CAST(0.85 AS DOUBLE)
           |    * (CAST(SUM(CAST(ROUND(p.r / dg.d * 1e9, 0) AS BIGINT)) AS DOUBLE) / 1e9) AS r
           |  FROM u JOIN r${i - 1} p ON u.src = p.node
           |         JOIN deg dg ON u.src = dg.node
           |  GROUP BY u.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
         |           FROM documents),
         |tokall AS (SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS pos,
         |             toks[CAST(u.i AS INT)] AS tok
         |           FROM d, UNNEST(range(1, len(toks) + 1)) AS u(i)),
         |stop AS (SELECT tok AS stok FROM (
         |    SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tokall GROUP BY 1
         |    ORDER BY df DESC, tok ASC LIMIT 20)),
         |adj AS (SELECT tok, LEAD(tok) OVER (PARTITION BY doc_id
         |      ORDER BY pos) AS ntok
         |    FROM tokall),
         |pp AS (SELECT DISTINCT LEAST(tok, ntok) AS a, GREATEST(tok, ntok) AS b
         |    FROM adj
         |    WHERE ntok IS NOT NULL AND tok <> ntok
         |      AND tok NOT IN (SELECT stok FROM stop)
         |      AND ntok NOT IN (SELECT stok FROM stop)),
         |u AS (SELECT a AS src, b AS dst FROM pp
         |      UNION ALL SELECT b AS src, a AS dst FROM pp),
         |deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
         |        FROM u GROUP BY 1),
         |r0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS r FROM deg),
         |$steps
         |SELECT node AS word, ROUND(r, 6) AS rank
         |FROM r${TextOps.TextrankIters}
         |ORDER BY rank DESC, word ASC LIMIT 20""".stripMargin
    },

    "q_text_rake" ->
      """WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
        |           FROM documents),
        |tokall AS (SELECT doc_id, lang, CAST(u.i - 1 AS BIGINT) AS pos,
        |             toks[CAST(u.i AS INT)] AS tok
        |           FROM d, UNNEST(range(1, len(toks) + 1)) AS u(i)),
        |stop AS (SELECT tok AS stok FROM (
        |    SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tokall GROUP BY 1
        |    ORDER BY df DESC, tok ASC LIMIT 20)),
        |runs AS (SELECT doc_id, lang, pos, tok,
        |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |  FROM tokall
        |  WHERE doc_id % 10 = 0 AND tok NOT IN (SELECT stok FROM stop)),
        |phr AS (SELECT doc_id, lang, grp,
        |    string_agg(tok, ' ' ORDER BY pos) AS phrase,
        |    CAST(COUNT(*) AS BIGINT) AS len
        |  FROM runs GROUP BY 1, 2, 3),
        |ws AS (SELECT runs.tok AS word, CAST(COUNT(*) AS BIGINT) AS freq,
        |    CAST(SUM(phr.len) AS BIGINT) AS deg
        |  FROM runs JOIN phr USING (doc_id, grp) GROUP BY 1),
        |types AS (SELECT lang, phrase, len, CAST(COUNT(*) AS BIGINT) AS n_occ
        |          FROM phr GROUP BY 1, 2, 3),
        |tw AS (SELECT lang, phrase, len, n_occ,
        |         UNNEST(string_split(phrase, ' ')) AS word FROM types),
        |sc AS (SELECT tw.lang, tw.phrase, tw.len, tw.n_occ,
        |    SUM(CAST(ROUND(CAST(ws.deg AS DOUBLE) / CAST(ws.freq AS DOUBLE), 9)
        |      AS DECIMAL(28,9))) AS scd
        |  FROM tw JOIN ws ON tw.word = ws.word GROUP BY 1, 2, 3, 4),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
        |    ORDER BY ROUND(CAST(scd AS DOUBLE), 6) DESC, phrase ASC) AS rk
        |  FROM sc)
        |SELECT lang, CAST(rk AS BIGINT) AS rk, phrase, len AS n_words, n_occ,
        |  ROUND(CAST(scd AS DOUBLE), 6) AS score
        |FROM r WHERE rk <= 3 ORDER BY lang, rk""".stripMargin,

    "q_agg_chi2" ->
      """WITH ev AS (SELECT event_type,
        |    CAST(LEAST(9, GREATEST(0, FLOOR(value / 50))) AS INT) AS b FROM events),
        |cells AS (SELECT event_type, b, CAST(COUNT(*) AS BIGINT) AS o
        |          FROM ev GROUP BY 1, 2),
        |spine AS (SELECT t.event_type, s.b
        |          FROM (SELECT DISTINCT event_type FROM ev) t,
        |               (SELECT UNNEST(range(0, 10)) AS b) s),
        |filled AS (SELECT sp.event_type, sp.b, COALESCE(c.o, 0) AS o
        |           FROM spine sp LEFT JOIN cells c
        |           ON sp.event_type = c.event_type AND sp.b = c.b),
        |rt AS (SELECT event_type AS rte, CAST(SUM(o) AS BIGINT) AS r
        |       FROM filled GROUP BY 1),
        |ct AS (SELECT b AS cb, CAST(SUM(o) AS BIGINT) AS c
        |       FROM filled GROUP BY 1),
        |nt AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
        |         CAST(COUNT(DISTINCT event_type) AS BIGINT) AS nr FROM filled),
        |nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS ncol FROM ct WHERE c > 0),
        |terms AS (SELECT nt.n, nt.nr, nc.ncol,
        |    CAST(ROUND(
        |      (CAST(f.o AS DOUBLE)
        |        - CAST(rt.r AS DOUBLE) * CAST(ct.c AS DOUBLE)
        |          / CAST(nt.n AS DOUBLE))
        |      * (CAST(f.o AS DOUBLE)
        |        - CAST(rt.r AS DOUBLE) * CAST(ct.c AS DOUBLE)
        |          / CAST(nt.n AS DOUBLE))
        |      / (CAST(rt.r AS DOUBLE) * CAST(ct.c AS DOUBLE)
        |          / CAST(nt.n AS DOUBLE)), 9) AS DECIMAL(28,9)) AS term
        |  FROM filled f
        |  JOIN rt ON f.event_type = rt.rte
        |  JOIN ct ON f.b = ct.cb AND ct.c > 0, nt, nc),
        |agg AS (SELECT n, nr, ncol, SUM(term) AS chi2d
        |        FROM terms GROUP BY 1, 2, 3)
        |SELECT n, (nr - 1) * (ncol - 1) AS df,
        |  ROUND(CAST(chi2d AS DOUBLE), 6) AS chi2,
        |  ROUND(SQRT(CAST(chi2d AS DOUBLE)
        |    / (CAST(n AS DOUBLE) * CAST(LEAST(nr - 1, ncol - 1) AS DOUBLE))), 6)
        |    AS cramers_v
        |FROM agg""".stripMargin,

    "q_agg_benford" ->
      """WITH cents AS (SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
        |               FROM events
        |               WHERE CAST(ROUND(value * 100, 0) AS BIGINT) > 0),
        |obs AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT) AS digit,
        |          CAST(COUNT(*) AS BIGINT) AS o
        |        FROM cents GROUP BY 1),
        |spine AS (SELECT CAST(UNNEST(range(1, 10)) AS INT) AS digit),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM cents)
        |SELECT s.digit, COALESCE(obs.o, 0) AS n_obs,
        |  ROUND(CAST(COALESCE(obs.o, 0) AS DOUBLE) / CAST(n.n AS DOUBLE), 6)
        |    AS obs_share,
        |  ROUND(log10(CAST(1 AS DOUBLE) + CAST(1 AS DOUBLE) / s.digit), 6)
        |    AS benford_p,
        |  ROUND((CAST(COALESCE(obs.o, 0) AS DOUBLE)
        |      - CAST(n.n AS DOUBLE)
        |        * log10(CAST(1 AS DOUBLE) + CAST(1 AS DOUBLE) / s.digit))
        |    / SQRT(CAST(n.n AS DOUBLE)
        |        * log10(CAST(1 AS DOUBLE) + CAST(1 AS DOUBLE) / s.digit)
        |        * (CAST(1 AS DOUBLE)
        |          - log10(CAST(1 AS DOUBLE) + CAST(1 AS DOUBLE) / s.digit))), 6)
        |    AS z
        |FROM spine s LEFT JOIN obs ON s.digit = obs.digit, n
        |ORDER BY s.digit""".stripMargin,

    "q_text_lang_confusion" ->
      """WITH tok AS (SELECT doc_id, lang,
        |    unnest(list_distinct(string_split(text, ' '))) AS token
        |  FROM documents),
        |prof AS (SELECT lang AS p_lang, token AS p_tok, COUNT(*) AS freq
        |         FROM tok GROUP BY 1, 2),
        |tot AS (SELECT p_lang, SUM(freq) AS tot FROM prof GROUP BY 1),
        |sf AS (SELECT tk.doc_id, tk.lang, pn.p_lang, SUM(pn.freq) AS sf
        |       FROM tok tk JOIN prof pn ON tk.token = pn.p_tok GROUP BY 1, 2, 3),
        |scored AS (SELECT s.doc_id, s.lang, s.p_lang,
        |             CAST(s.sf AS DOUBLE) / CAST(t.tot AS DOUBLE) AS score
        |           FROM sf s JOIN tot t USING (p_lang)),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |        ORDER BY score DESC, p_lang ASC) AS rn FROM scored),
        |pred AS (SELECT doc_id, lang, p_lang AS pred_lang FROM r WHERE rn = 1),
        |cells AS (SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
        |          FROM pred GROUP BY 1, 2),
        |lt AS (SELECT lang AS tl, CAST(SUM(n_docs) AS BIGINT) AS nt
        |       FROM cells GROUP BY 1)
        |SELECT c.lang, c.pred_lang, c.n_docs,
        |  ROUND(CAST(c.n_docs AS DOUBLE) / CAST(lt.nt AS DOUBLE), 6) AS share,
        |  c.lang = c.pred_lang AS is_diag
        |FROM cells c JOIN lt ON c.lang = lt.tl
        |ORDER BY c.lang, c.pred_lang""".stripMargin,

    "q_join_asof_nearest" ->
      """WITH p AS (SELECT event_id AS p_id, user_id, ts AS p_ts FROM events
        |           WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS c_id, user_id AS c_user, ts AS c_ts FROM events
        |      WHERE event_type = 'click'),
        |j AS (SELECT p.p_id, p.user_id, p.p_ts, c.c_id,
        |        ABS(date_diff('microsecond', p.p_ts, c.c_ts)) AS dt_us, c.c_ts
        |      FROM p LEFT JOIN c ON p.user_id = c.c_user
        |        AND c.c_ts >= p.p_ts - INTERVAL 30 MINUTE
        |        AND c.c_ts <= p.p_ts + INTERVAL 30 MINUTE),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY p_id
        |        ORDER BY dt_us ASC NULLS LAST, c_ts ASC NULLS LAST,
        |          c_id ASC NULLS LAST) AS rn FROM j)
        |SELECT p_id AS event_id, user_id, p_ts AS ts, c_id AS click_id, dt_us
        |FROM r WHERE rn = 1 ORDER BY event_id""".stripMargin,

    "q_text_ndcg" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
         |             label AS qlabel FROM embeddings WHERE vec_id < 10),
         |sc AS (SELECT q.query_id, q.qlabel, e.vec_id, e.label,
         |    ROUND(${cosExpr("e.embedding", "q.qv")}, 6) AS cos_sim
         |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
         |nr AS (SELECT query_id AS qr,
         |    CAST(SUM(CASE WHEN label = qlabel THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_rel
         |  FROM sc GROUP BY 1),
         |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY cos_sim DESC, vec_id ASC) AS pos FROM sc),
         |dcg AS (SELECT query_id,
         |    SUM(CAST(ROUND((CASE WHEN label = qlabel THEN CAST(3 AS DOUBLE)
         |      ELSE CAST(0 AS DOUBLE) END) / log2(pos + 1), 9)
         |      AS DECIMAL(28,9))) AS dcg_d
         |  FROM rk WHERE pos <= 10 GROUP BY 1),
         |sp AS (SELECT UNNEST(range(1, 11)) AS i),
         |idcg AS (SELECT nr.qr, nr.n_rel,
         |    SUM(CAST(ROUND(CAST(3 AS DOUBLE) / log2(sp.i + 1), 9)
         |      AS DECIMAL(28,9))) AS idcg_d
         |  FROM nr JOIN sp ON sp.i <= LEAST(nr.n_rel, 10) GROUP BY 1, 2)
         |SELECT d.query_id, idcg.n_rel,
         |  ROUND(CAST(dcg_d AS DOUBLE), 6) AS dcg,
         |  ROUND(CAST(idcg_d AS DOUBLE), 6) AS idcg,
         |  ROUND(CAST(dcg_d AS DOUBLE) / CAST(idcg_d AS DOUBLE), 6) AS ndcg
         |FROM dcg d JOIN idcg ON d.query_id = idcg.qr
         |ORDER BY query_id""".stripMargin
  )

  /** Round 10 (driver): Mann–Whitney U, binary-decay EWMA (batch +
    * streaming twin), the WIMBD-style n-gram census, and the IVF-PQ
    * composite ANN index. Devices: 2×-scaled integer ranks (exact
    * BIGINT rank sums + tie term, one pinned double z), power-of-two
    * EWMA weights (exact BIGINT numerator, one exact division), and the
    * established ann_ivf assignment / ann_pq left-assoc-L2²+DECIMAL-ADC
    * recipes composed over RESIDUAL vectors. */
  val round15: Map[String, String] = {
    val ewmaLags = (0 until StatsOps.EwmaTaps)
      .map(k => s"LAG(y, $k) OVER w * ${1L << (StatsOps.EwmaTaps - 1 - k)}")
      .mkString(" + ")
    val ewmaCte =
      s"""WITH d0 AS (SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
         |    CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
         |  FROM events GROUP BY 1, 2),
         |daily AS (SELECT event_type,
         |    CAST(day - DATE '2024-01-01' AS BIGINT) AS x, y FROM d0),
         |l AS (SELECT event_type, x, y, CAST($ewmaLags AS BIGINT) AS num,
         |    LAG(y, ${StatsOps.EwmaTaps - 1}) OVER w AS oldest,
         |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY x DESC) AS rdesc,
         |    COUNT(*) OVER (PARTITION BY event_type) AS nd
         |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY x))""".stripMargin
    val d2terms = (1 to 8).map(i =>
      s"(xv[$i] - cv2[$i]) * (xv[$i] - cv2[$i])").mkString(" + ")
    Map(
      "q_agg_mannwhitney" ->
        """WITH ev AS (SELECT event_type,
          |    CAST(ROUND(value * 100, 0) AS BIGINT) AS c,
          |    (CAST(CAST(ts AS TIMESTAMP) AS DATE) <= DATE '2024-01-15') AS is_ref
          |  FROM events),
          |counts AS (SELECT event_type, c,
          |    CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS cr,
          |    CAST(SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS BIGINT) AS cc
          |  FROM ev GROUP BY 1, 2),
          |cum AS (SELECT event_type, c, cr, cc,
          |    CAST(COALESCE(SUM(cr + cc) OVER (PARTITION BY event_type ORDER BY c
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS bef
          |  FROM counts),
          |agg AS (SELECT event_type,
          |    CAST(SUM(cr) AS BIGINT) AS n1, CAST(SUM(cc) AS BIGINT) AS n2,
          |    SUM(CAST(cr AS DECIMAL(38,0)) * (2 * bef + cr + cc + 1)) AS r1_2,
          |    SUM(CAST(cr + cc AS DECIMAL(38,0)) * (cr + cc) * (cr + cc)
          |        - (cr + cc)) AS ties
          |  FROM cum GROUP BY 1
          |  HAVING n1 > 0 AND n2 > 0)
          |SELECT event_type, n1 AS n_ref, n2 AS n_cur,
          |  CAST(r1_2 - n1 * (n1 + 1) AS DOUBLE) / CAST(2 AS DOUBLE) AS u_stat,
          |  CAST(r1_2 - n1 * (n1 + 1) - n1 * n2 AS DOUBLE)
          |    / (CAST(2 AS DOUBLE) * sqrt(
          |        CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / CAST(12 AS DOUBLE)
          |        * ((CAST(n1 + n2 AS DOUBLE) + CAST(1 AS DOUBLE))
          |           - CAST(ties AS DOUBLE)
          |             / (CAST(n1 + n2 AS DOUBLE)
          |                * (CAST(n1 + n2 AS DOUBLE) - CAST(1 AS DOUBLE))))))
          |    AS z_stat
          |FROM agg ORDER BY event_type""".stripMargin,

      "q_time_ewma" ->
        s"""$ewmaCte
           |SELECT event_type, x, y, num,
           |  CAST(num AS DOUBLE) / CAST(${StatsOps.EwmaDenom} AS DOUBLE) AS ewma
           |FROM l WHERE oldest IS NOT NULL ORDER BY event_type, x""".stripMargin,

      "q_stream_ewma" ->
        s"""$ewmaCte
           |SELECT event_type, CAST(nd AS BIGINT) AS n_days, x AS x_last, num,
           |  CAST(num AS DOUBLE) / CAST(${StatsOps.EwmaDenom} AS DOUBLE) AS ewma
           |FROM l WHERE rdesc = 1 AND oldest IS NOT NULL
           |ORDER BY event_type""".stripMargin,

      "q_text_ngram_topk" ->
        """WITH d AS (SELECT lang,
          |    list_filter(string_split(text, ' '), t -> t <> '') AS t FROM documents),
          |g AS (SELECT lang, t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3] AS ngram
          |  FROM d, UNNEST(range(len(t) - 2)) AS u(i) WHERE len(t) >= 3),
          |c AS (SELECT lang, ngram, CAST(COUNT(*) AS BIGINT) AS n FROM g GROUP BY 1, 2),
          |r AS (SELECT lang, ngram, n,
          |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
          |      ORDER BY n DESC, ngram ASC) AS BIGINT) AS rnk
          |  FROM c)
          |SELECT lang, rnk, ngram, n FROM r WHERE rnk <= 10
          |ORDER BY lang, rnk""".stripMargin,

      // Mann-Kendall: exact integer S and tie-corrected 18*Var, one
      // pinned continuity-corrected z.
      "q_agg_mann_kendall" ->
        """WITH d0 AS (SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
          |    CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
          |  FROM events GROUP BY 1, 2),
          |daily AS (SELECT event_type,
          |    CAST(day - DATE '2024-01-01' AS BIGINT) AS x, y FROM d0),
          |sp AS (SELECT a.event_type AS st,
          |    CAST(SUM(CAST(SIGN(CAST(b.y - a.y AS DOUBLE)) AS BIGINT)) AS BIGINT)
          |      AS s_stat
          |  FROM daily a JOIN daily b
          |    ON a.event_type = b.event_type AND a.x < b.x
          |  GROUP BY 1),
          |tg AS (SELECT event_type AS tt, y, COUNT(*) AS t FROM daily GROUP BY 1, 2),
          |ts2 AS (SELECT tt, CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_sum
          |  FROM tg GROUP BY 1),
          |nt AS (SELECT event_type AS nt2, CAST(COUNT(*) AS BIGINT) AS n_days
          |  FROM daily GROUP BY 1),
          |j AS (SELECT st AS event_type, n_days, s_stat,
          |    n_days * (n_days - 1) * (2 * n_days + 5) - tie_sum AS var18
          |  FROM sp JOIN ts2 ON st = tt JOIN nt ON st = nt2
          |  WHERE n_days * (n_days - 1) * (2 * n_days + 5) - tie_sum > 0)
          |SELECT event_type, n_days, s_stat, CAST(var18 AS BIGINT) AS var18,
          |  ROUND(CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)
          |      / sqrt(CAST(var18 AS DOUBLE) / CAST(18 AS DOUBLE))
          |    WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)
          |      / sqrt(CAST(var18 AS DOUBLE) / CAST(18 AS DOUBLE))
          |    ELSE CAST(0 AS DOUBLE) END, 6) AS z_stat
          |FROM j ORDER BY event_type""".stripMargin,

      // Cohen's kappa: the lang_confusion prediction chain reduced to
      // one exact integer division.
      "q_text_kappa" ->
        """WITH tok AS (SELECT doc_id, lang,
          |    unnest(list_distinct(string_split(text, ' '))) AS token
          |  FROM documents),
          |prof AS (SELECT lang AS p_lang, token AS p_tok, COUNT(*) AS freq
          |         FROM tok GROUP BY 1, 2),
          |tot AS (SELECT p_lang, SUM(freq) AS tot FROM prof GROUP BY 1),
          |sf AS (SELECT tk.doc_id, tk.lang, pn.p_lang, SUM(pn.freq) AS sf
          |       FROM tok tk JOIN prof pn ON tk.token = pn.p_tok GROUP BY 1, 2, 3),
          |scored AS (SELECT s.doc_id, s.lang, s.p_lang,
          |             CAST(s.sf AS DOUBLE) / CAST(t.tot AS DOUBLE) AS score
          |           FROM sf s JOIN tot t USING (p_lang)),
          |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
          |        ORDER BY score DESC, p_lang ASC) AS rn FROM scored),
          |pred AS (SELECT doc_id, lang, p_lang AS pred_lang FROM r WHERE rn = 1),
          |cells AS (SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS c
          |          FROM pred GROUP BY 1, 2),
          |nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
          |dg AS (SELECT CAST(SUM(c) AS BIGINT) AS n_agree FROM cells
          |       WHERE lang = pred_lang),
          |rt AS (SELECT lang AS rl, CAST(SUM(c) AS BIGINT) AS rtv FROM cells GROUP BY 1),
          |ct AS (SELECT pred_lang AS cl, CAST(SUM(c) AS BIGINT) AS ctv
          |       FROM cells GROUP BY 1),
          |pe AS (SELECT CAST(SUM(rtv * ctv) AS BIGINT) AS chance_x
          |       FROM rt JOIN ct ON rl = cl)
          |SELECT nn.n AS n_docs, dg.n_agree, pe.chance_x,
          |  ROUND(CAST(dg.n_agree AS DOUBLE) / CAST(nn.n AS DOUBLE), 6) AS p_o,
          |  ROUND(CAST(pe.chance_x AS DOUBLE) / CAST(nn.n * nn.n AS DOUBLE), 6) AS p_e,
          |  ROUND(CAST(nn.n * dg.n_agree - pe.chance_x AS DOUBLE)
          |    / CAST(nn.n * nn.n - pe.chance_x AS DOUBLE), 6) AS kappa
          |FROM nn, dg, pe""".stripMargin,

      // Multiclass MCC (Gorodkin R_K): the SAME langid confusion chain
      // as kappa/f1; products DECIMAL(38,0)-widened, the two sqrt legs
      // taken separately, one pinned double with the NULLIF guard.
      "q_text_mcc" ->
        """WITH tok AS (SELECT doc_id, lang,
          |    unnest(list_distinct(string_split(text, ' '))) AS token
          |  FROM documents),
          |prof AS (SELECT lang AS p_lang, token AS p_tok, COUNT(*) AS freq
          |         FROM tok GROUP BY 1, 2),
          |tot AS (SELECT p_lang, SUM(freq) AS tot FROM prof GROUP BY 1),
          |sf AS (SELECT tk.doc_id, tk.lang, pn.p_lang, SUM(pn.freq) AS sf
          |       FROM tok tk JOIN prof pn ON tk.token = pn.p_tok GROUP BY 1, 2, 3),
          |scored AS (SELECT s.doc_id, s.lang, s.p_lang,
          |             CAST(s.sf AS DOUBLE) / CAST(t.tot AS DOUBLE) AS score
          |           FROM sf s JOIN tot t USING (p_lang)),
          |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
          |        ORDER BY score DESC, p_lang ASC) AS rn FROM scored),
          |pred AS (SELECT doc_id, lang, p_lang AS pred_lang FROM r WHERE rn = 1),
          |cells AS (SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS c
          |          FROM pred GROUP BY 1, 2),
          |nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
          |dg AS (SELECT CAST(SUM(c) AS BIGINT) AS n_correct FROM cells
          |       WHERE lang = pred_lang),
          |rt AS (SELECT lang AS rl, CAST(SUM(c) AS BIGINT) AS rtv FROM cells GROUP BY 1),
          |ct AS (SELECT pred_lang AS cl, CAST(SUM(c) AS BIGINT) AS ctv
          |       FROM cells GROUP BY 1),
          |xp AS (SELECT CAST(SUM(CAST(rtv AS DECIMAL(38,0)) * ctv)
          |         AS DECIMAL(38,0)) AS sum_pt
          |       FROM rt JOIN ct ON rl = cl),
          |t2 AS (SELECT CAST(SUM(CAST(rtv AS DECIMAL(38,0)) * rtv)
          |         AS DECIMAL(38,0)) AS sum_t2 FROM rt),
          |p2 AS (SELECT CAST(SUM(CAST(ctv AS DECIMAL(38,0)) * ctv)
          |         AS DECIMAL(38,0)) AS sum_p2 FROM ct)
          |SELECT nn.n AS n_docs, dg.n_correct,
          |  ROUND(CAST(CAST(nn.n AS DECIMAL(38,0)) * dg.n_correct - xp.sum_pt
          |      AS DOUBLE)
          |    / NULLIF(
          |        sqrt(CAST(CAST(nn.n AS DECIMAL(38,0)) * nn.n - p2.sum_p2
          |          AS DOUBLE))
          |        * sqrt(CAST(CAST(nn.n AS DECIMAL(38,0)) * nn.n - t2.sum_t2
          |          AS DOUBLE)), 0), 6) AS mcc
          |FROM nn, dg, xp, t2, p2""".stripMargin,

      // Cascade funnel: the dedup_keep reachability chain + a distinct
      // exact-hash count, aggregated to the per-lang funnel table.
      "q_llm_dedup_funnel" ->
        """WITH RECURSIVE d AS (
          |  SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS toks,
          |    text
          |  FROM documents
          |  WHERE doc_id % 10 = 0 AND len(list_distinct(string_split(text, ' '))) > 0),
          |p AS (
          |  SELECT d1.doc_id AS x, d2.doc_id AS y
          |  FROM d d1 JOIN d d2 ON d1.lang = d2.lang AND d1.doc_id < d2.doc_id
          |  WHERE CAST(len(list_intersect(d1.toks, d2.toks)) AS DOUBLE)
          |    / (len(d1.toks) + len(d2.toks) - len(list_intersect(d1.toks, d2.toks)))
          |    >= 0.8),
          |ue AS (SELECT x, y FROM p UNION ALL SELECT y, x FROM p),
          |reach AS (
          |  SELECT doc_id AS n, doc_id AS r FROM d
          |  UNION
          |  SELECT reach.n, ue.y FROM reach JOIN ue ON reach.r = ue.x),
          |comp AS (SELECT n, MIN(r) AS lbl FROM reach GROUP BY n),
          |ex AS (SELECT lang,
          |    CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_exact
          |  FROM d GROUP BY 1),
          |cl AS (SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
          |    CAST(SUM(len(d.toks)) AS BIGINT) AS n_tokens,
          |    CAST(COUNT(DISTINCT comp.lbl) AS BIGINT) AS n_clusters,
          |    CAST(SUM(CASE WHEN comp.n = comp.lbl THEN len(d.toks) ELSE 0 END)
          |      AS BIGINT) AS kept_tokens
          |  FROM comp JOIN d ON comp.n = d.doc_id
          |  GROUP BY 1)
          |SELECT cl.lang, n_docs, n_tokens, n_exact, n_clusters, kept_tokens,
          |  ROUND(CAST(kept_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
          |    AS kept_share
          |FROM cl JOIN ex ON cl.lang = ex.lang ORDER BY cl.lang""".stripMargin,

      // Survivor selection: the dedup_clusters reachability chain with
      // per-cluster min-id keep + dropped-token accounting.
      "q_llm_dedup_keep" ->
        """WITH RECURSIVE d AS (
          |  SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS toks
          |  FROM documents
          |  WHERE doc_id % 10 = 0 AND len(list_distinct(string_split(text, ' '))) > 0),
          |p AS (
          |  SELECT d1.doc_id AS x, d2.doc_id AS y
          |  FROM d d1 JOIN d d2 ON d1.lang = d2.lang AND d1.doc_id < d2.doc_id
          |  WHERE CAST(len(list_intersect(d1.toks, d2.toks)) AS DOUBLE)
          |    / (len(d1.toks) + len(d2.toks) - len(list_intersect(d1.toks, d2.toks)))
          |    >= 0.8),
          |ue AS (SELECT x, y FROM p UNION ALL SELECT y, x FROM p),
          |reach AS (
          |  SELECT doc_id AS n, doc_id AS r FROM d
          |  UNION
          |  SELECT reach.n, ue.y FROM reach JOIN ue ON reach.r = ue.x),
          |comp AS (SELECT n, MIN(r) AS lbl FROM reach GROUP BY n),
          |cl AS (SELECT d.lang, comp.lbl AS kept_doc, COUNT(*) AS sz,
          |    CAST(SUM(len(d.toks)) AS BIGINT) AS tot_tokens,
          |    CAST(SUM(CASE WHEN comp.n <> comp.lbl THEN len(d.toks) ELSE 0 END)
          |      AS BIGINT) AS dropped_tokens
          |  FROM comp JOIN d ON comp.n = d.doc_id
          |  GROUP BY 1, 2)
          |SELECT lang, kept_doc, CAST(sz - 1 AS BIGINT) AS n_dropped,
          |  tot_tokens, dropped_tokens
          |FROM cl WHERE sz >= 2 ORDER BY lang, kept_doc""".stripMargin,

      // DropEdge: seeded md5 keep decision per edge, GraphSAGE mean
      // over survivors (float terms sum exactly in double).
      "q_gnn_edge_dropout" ->
        s"""WITH $edgesCte,
           |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_emb FROM embeddings),
           |degf AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg_full
           |  FROM edges GROUP BY 1),
           |kept AS (SELECT src, dst FROM edges
           |  WHERE CAST('0x' || substr(md5('dropedge:' || CAST(src AS VARCHAR)
           |      || ':' || CAST(dst AS VARCHAR)), 1, 15) AS BIGINT) % 10
           |    < ${Gnn.DropEdgeKeepTenths}),
           |f AS (SELECT k.src, e.embedding
           |  FROM kept k CROSS JOIN n
           |  JOIN embeddings e ON (k.dst % n.n_emb) = e.vec_id),
           |a AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg_kept,
           |    ROUND(AVG(CAST(embedding[1] AS DOUBLE)), 6) AS d1,
           |    ROUND(AVG(CAST(embedding[2] AS DOUBLE)), 6) AS d2,
           |    ROUND(AVG(CAST(embedding[3] AS DOUBLE)), 6) AS d3,
           |    ROUND(AVG(CAST(embedding[4] AS DOUBLE)), 6) AS d4
           |  FROM f GROUP BY 1)
           |SELECT a.src AS custkey, degf.deg_full, a.deg_kept, d1, d2, d3, d4
           |FROM a JOIN degf ON a.src = degf.src ORDER BY custkey""".stripMargin,

      // Conductance of the md5 8-way vertex split over the thresholded
      // projection: exact integer cuts/volumes, one display division.
      "q_graph_conductance" ->
        s"""WITH $edgesCte,
           |pp AS (SELECT e1.dst AS a, e2.dst AS b
           |       FROM edges e1 JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
           |       GROUP BY 1, 2 HAVING COUNT(*) >= ${GraphOps.CcMinCooccur}),
           |deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS d,
           |    CAST('0x' || substr(md5('cond:' || CAST(v AS VARCHAR)), 1, 15)
           |      AS BIGINT) % ${GraphOps.CondParts} AS g
           |  FROM (SELECT a AS v FROM pp UNION ALL SELECT b FROM pp) GROUP BY v),
           |vols AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n_vertices,
           |    CAST(SUM(d) AS BIGINT) AS vol FROM deg GROUP BY 1),
           |cs AS (SELECT
           |    CAST('0x' || substr(md5('cond:' || CAST(a AS VARCHAR)), 1, 15)
           |      AS BIGINT) % ${GraphOps.CondParts} AS ga,
           |    CAST('0x' || substr(md5('cond:' || CAST(b AS VARCHAR)), 1, 15)
           |      AS BIGINT) % ${GraphOps.CondParts} AS gb
           |  FROM pp),
           |cutper AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n_cut FROM (
           |    SELECT ga AS g FROM cs WHERE ga <> gb
           |    UNION ALL SELECT gb FROM cs WHERE ga <> gb) GROUP BY 1),
           |tot AS (SELECT CAST(COUNT(*) * 2 AS BIGINT) AS vol_total FROM pp)
           |SELECT vols.g AS part, n_vertices, vol,
           |  COALESCE(cutper.n_cut, 0) AS n_cut,
           |  ROUND(CAST(COALESCE(cutper.n_cut, 0) AS DOUBLE)
           |    / CAST(LEAST(vol, vol_total - vol) AS DOUBLE), 6) AS conductance
           |FROM vols LEFT JOIN cutper ON vols.g = cutper.g, tot
           |ORDER BY part""".stripMargin,

      // DP count release: md5-seeded uniform -> inverse-CDF Laplace,
      // the one ln pinned round-9 before sign/sum arithmetic.
      "q_llm_dp_counts" ->
        s"""WITH c AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_true
           |  FROM events GROUP BY 1),
           |nu AS (SELECT event_type, n_true,
           |    CAST(CAST('0x' || substr(md5('dp:' || event_type), 1, 15) AS BIGINT)
           |      AS DOUBLE) / CAST(1152921504606846976 AS DOUBLE) AS u
           |  FROM c),
           |m AS (SELECT event_type, n_true, u,
           |    (CAST(-1 AS DOUBLE) / CAST(${PipelineOps.DpEpsilon} AS DOUBLE))
           |      * ROUND(ln(CAST(1 AS DOUBLE)
           |          - CAST(2 AS DOUBLE) * ABS(u - CAST(0.5 AS DOUBLE))), 9) AS mag
           |  FROM nu),
           |z AS (SELECT event_type, n_true,
           |    ROUND(CASE WHEN u < CAST(0.5 AS DOUBLE) THEN -mag ELSE mag END, 6)
           |      AS noise
           |  FROM m)
           |SELECT event_type, n_true,
           |  CAST(${PipelineOps.DpEpsilon} AS DOUBLE) AS epsilon, noise,
           |  ROUND(n_true + noise, 6) AS n_released
           |FROM z ORDER BY event_type""".stripMargin,

      // Bollinger breakouts: exact cross-multiplied detection, display
      // round-6 band on the last window only.
      "q_time_bollinger" -> {
        val n = StatsOps.BollWin
        s"""WITH d0 AS (SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
           |    CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
           |  FROM events GROUP BY 1, 2),
           |daily AS (SELECT event_type,
           |    CAST(day - DATE '2024-01-01' AS BIGINT) AS x, y FROM d0),
           |m AS (SELECT event_type, x, y,
           |    CAST(SUM(y) OVER w AS BIGINT) AS s,
           |    CAST(SUM(y * y) OVER w AS BIGINT) AS q,
           |    LAG(y, ${n - 1}) OVER (PARTITION BY event_type ORDER BY x) AS oldest,
           |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY x DESC) AS rdesc
           |  FROM daily
           |  WINDOW w AS (PARTITION BY event_type ORDER BY x
           |    ROWS BETWEEN ${n - 1} PRECEDING AND CURRENT ROW)),
           |f AS (SELECT *, $n * y - s AS dev, $n * q - s * s AS vn FROM m
           |  WHERE oldest IS NOT NULL),
           |sc AS (SELECT event_type,
           |    CASE WHEN dev * dev * ${n - 1} > ${4 * n} * vn AND dev > 0
           |      THEN 1 ELSE 0 END AS up,
           |    CASE WHEN dev * dev * ${n - 1} > ${4 * n} * vn AND dev < 0
           |      THEN 1 ELSE 0 END AS down,
           |    CASE WHEN rdesc = 1 THEN CAST(s AS DOUBLE) / CAST($n AS DOUBLE) END AS lm,
           |    CASE WHEN rdesc = 1 THEN sqrt(CAST(vn AS DOUBLE)
           |      / CAST(${n * (n - 1)} AS DOUBLE)) END AS lsd
           |  FROM f)
           |SELECT event_type, COUNT(*) AS n_windows,
           |  CAST(SUM(up) AS BIGINT) AS n_break_up,
           |  CAST(SUM(down) AS BIGINT) AS n_break_down,
           |  ROUND(MAX(lm), 6) AS last_mean, ROUND(MAX(lsd), 6) AS last_sd
           |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin
      },

      // Pinball loss: exact k-th order statistics + scaled-integer loss
      // sums; the only doubles are the two display means.
      "q_agg_pinball" ->
        """WITH ev AS (SELECT event_type, event_id,
          |    CAST(ROUND(value * 100, 0) AS BIGINT) AS c FROM events),
          |r AS (SELECT event_type, c,
          |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type
          |      ORDER BY c ASC, event_id ASC) AS BIGINT) AS rn,
          |    COUNT(*) OVER (PARTITION BY event_type) AS n
          |  FROM ev),
          |qs AS (SELECT event_type AS qt,
          |    MIN(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT) THEN c END) AS q50,
          |    MIN(CASE WHEN rn = CAST(ceil(n * 0.9) AS BIGINT) THEN c END) AS q90
          |  FROM r WHERE rn = CAST(ceil(n * 0.5) AS BIGINT)
          |     OR rn = CAST(ceil(n * 0.9) AS BIGINT)
          |  GROUP BY 1)
          |SELECT event_type, COUNT(*) AS n, MIN(q50) AS q50, MIN(q90) AS q90,
          |  CAST(SUM(ABS(c - q50)) AS BIGINT) AS pin50_x2,
          |  CAST(SUM(CASE WHEN c > q90 THEN 9 * (c - q90) ELSE q90 - c END)
          |    AS BIGINT) AS pin90_x10,
          |  ROUND(CAST(SUM(ABS(c - q50)) AS DOUBLE)
          |    / (CAST(2 AS DOUBLE) * CAST(COUNT(*) AS DOUBLE)), 6) AS pinball50,
          |  ROUND(CAST(SUM(CASE WHEN c > q90 THEN 9 * (c - q90) ELSE q90 - c END)
          |      AS DOUBLE)
          |    / (CAST(10 AS DOUBLE) * CAST(COUNT(*) AS DOUBLE)), 6) AS pinball90
          |FROM ev JOIN qs ON event_type = qt
          |GROUP BY event_type ORDER BY event_type""".stripMargin,

      // HHI concentration: one exact integer division per day.
      "q_agg_hhi" ->
        """WITH c AS (SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
          |      AS day,
          |    event_type, COUNT(*) AS c FROM events GROUP BY 1, 2)
          |SELECT day, CAST(SUM(c) AS BIGINT) AS n_events, COUNT(*) AS n_types,
          |  ROUND(CAST(SUM(c * c) AS DOUBLE)
          |    / CAST(SUM(c) * SUM(c) AS DOUBLE), 6) AS hhi
          |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

      // Source overlap: distinct per-source trigram vocabularies, pair
      // join on trigram (sa < sb), shared count + Jaccard.
      "q_llm_source_overlap" ->
        """WITH tri AS (SELECT DISTINCT source,
          |    t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3] AS g
          |  FROM (SELECT source,
          |      list_filter(string_split(text, ' '), x -> x <> '') AS t
          |    FROM documents) d, UNNEST(range(len(t) - 2)) AS u(i)
          |  WHERE len(t) >= 3),
          |tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM tri GROUP BY 1),
          |p AS (SELECT a.source AS src_a, b.source AS src_b,
          |    CAST(COUNT(*) AS BIGINT) AS n_shared
          |  FROM tri a JOIN tri b ON a.g = b.g AND a.source < b.source
          |  GROUP BY 1, 2)
          |SELECT p.src_a, p.src_b, p.n_shared,
          |  ROUND(CAST(p.n_shared AS DOUBLE)
          |    / CAST(ta.n + tb.n - p.n_shared AS DOUBLE), 6) AS trigram_jaccard
          |FROM p JOIN tot ta ON p.src_a = ta.source
          |       JOIN tot tb ON p.src_b = tb.source
          |ORDER BY p.src_a, p.src_b""".stripMargin,

      // Count-window fold replay: complete 100-event windows in arrival
      // order; the HAVING mirrors the open tail staying in state.
      "q_stream_count_window" ->
        s"""WITH ev AS (SELECT event_type, event_id,
           |    CAST(ROUND(value * 100, 0) AS BIGINT) AS c FROM events),
           |r AS (SELECT event_type, event_id, c,
           |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY event_id) AS rn
           |  FROM ev),
           |w AS (SELECT event_type,
           |    (rn - 1) // ${StreamingOps.CountWindowN} AS win,
           |    COUNT(*) AS nw, CAST(SUM(c) AS BIGINT) AS sum_cents,
           |    MIN(event_id) AS first_eid, MAX(event_id) AS last_eid
           |  FROM r GROUP BY 1, 2 HAVING COUNT(*) = ${StreamingOps.CountWindowN})
           |SELECT event_type, CAST(win AS BIGINT) AS win, sum_cents,
           |  first_eid, last_eid
           |FROM w ORDER BY event_type, win""".stripMargin,

      // JSD: the PMI one-division device inside the entropy round-9 →
      // DECIMAL term sum; full-outer token join per lang pair.
      "q_text_jsd" ->
        """WITH tok AS (SELECT lang, unnest(list_filter(string_split(text, ' '),
          |      t -> t <> '')) AS w FROM documents),
          |cnt AS (SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2),
          |tot AS (SELECT lang AS tl, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY 1),
          |pairs AS (SELECT a.tl AS la, a.n AS na, b.tl AS lb, b.n AS nb
          |  FROM tot a JOIN tot b ON a.tl < b.tl),
          |aside AS (SELECT p.la, p.lb, cnt.w, cnt.c AS ca
          |  FROM pairs p JOIN cnt ON cnt.lang = p.la),
          |bside AS (SELECT p.la AS la2, p.lb AS lb2, cnt.w AS w2, cnt.c AS cb
          |  FROM pairs p JOIN cnt ON cnt.lang = p.lb),
          |u AS (SELECT COALESCE(la, la2) AS lang_a, COALESCE(lb, lb2) AS lang_b,
          |    COALESCE(ca, 0) AS ca0, COALESCE(cb, 0) AS cb0
          |  FROM aside FULL OUTER JOIN bside
          |    ON la = la2 AND lb = lb2 AND w = w2),
          |u2 AS (SELECT u.lang_a, u.lang_b, u.ca0, u.cb0, p.na, p.nb
          |  FROM u JOIN pairs p ON u.lang_a = p.la AND u.lang_b = p.lb),
          |terms AS (SELECT lang_a, lang_b,
          |    CAST(ROUND(
          |      (CASE WHEN ca0 > 0 THEN
          |        CAST(ca0 AS DOUBLE) / (CAST(2 AS DOUBLE) * CAST(na AS DOUBLE))
          |        * ln(CAST(2 AS DOUBLE) * CAST(ca0 AS DOUBLE) * CAST(nb AS DOUBLE)
          |          / (CAST(ca0 AS DOUBLE) * CAST(nb AS DOUBLE)
          |             + CAST(cb0 AS DOUBLE) * CAST(na AS DOUBLE)))
          |       ELSE CAST(0 AS DOUBLE) END)
          |      + (CASE WHEN cb0 > 0 THEN
          |        CAST(cb0 AS DOUBLE) / (CAST(2 AS DOUBLE) * CAST(nb AS DOUBLE))
          |        * ln(CAST(2 AS DOUBLE) * CAST(cb0 AS DOUBLE) * CAST(na AS DOUBLE)
          |          / (CAST(cb0 AS DOUBLE) * CAST(na AS DOUBLE)
          |             + CAST(ca0 AS DOUBLE) * CAST(nb AS DOUBLE)))
          |       ELSE CAST(0 AS DOUBLE) END), 9) AS DECIMAL(18,9)) AS term
          |  FROM u2)
          |SELECT lang_a, lang_b, COUNT(*) AS n_union_tokens,
          |  ROUND(CAST(SUM(term) AS DOUBLE), 6) AS jsd
          |FROM terms GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

      "q_llm_dataset_card" ->
        """WITH t AS (SELECT CAST(COUNT(*) AS BIGINT) AS tot FROM documents)
          |SELECT source, COUNT(*) AS n_docs,
          |  COUNT(DISTINCT lang) AS n_langs,
          |  CAST(SUM(n_chars) AS BIGINT) AS tot_chars,
          |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
          |  ROUND(CAST(SUM(n_chars) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
          |    AS mean_chars,
          |  ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(t.tot AS DOUBLE), 6) AS doc_share
          |FROM documents, t GROUP BY source, t.tot ORDER BY source""".stripMargin,

      // GZIP text roundtrip: identical invariants to the plain-text trip
      // (the md5-twin shared-oracle pattern) — lossless codec, same
      // per-lang accounting of the sanitized original.
      "q_src_gzip_roundtrip" ->
        """SELECT lang, COUNT(*) AS n_docs, COUNT(DISTINCT doc_id) AS n_ids,
          |  CAST(SUM(length(replace(replace(text, chr(9), ' '), chr(10), ' ')))
          |    AS BIGINT) AS sum_chars
          |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

      // zstd parquet roundtrip: same lossless-invariant oracle family,
      // over the RAW text (typed format, no line sanitization).
      "q_src_zstd_roundtrip" ->
        """SELECT lang, COUNT(*) AS n_docs, COUNT(DISTINCT doc_id) AS n_ids,
          |  CAST(SUM(length(text)) AS BIGINT) AS sum_chars
          |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

      // 1D vs 2D hash edge partitioning: md5-derived assignments, pure
      // integer accounting, one display division per strategy.
      "q_graph_partition_2d" -> {
        def h(salt: String, c: String, m: Int): String =
          s"CAST('0x' || substr(md5('$salt:' || CAST($c AS VARCHAR)), 1, 15) AS BIGINT) % $m"
        def side(p: String, name: String): String =
          s"""l$name AS (SELECT $p AS p, COUNT(*) AS load FROM a GROUP BY 1),
             |la$name AS (SELECT CAST(SUM(load) AS BIGINT) AS n_edges,
             |    CAST(MAX(load) AS BIGINT) AS max_load,
             |    CAST(MIN(load) AS BIGINT) AS min_load FROM l$name),
             |r$name AS (SELECT x, COUNT(*) AS r FROM (
             |    SELECT DISTINCT x, p FROM (
             |      SELECT u AS x, $p AS p FROM a
             |      UNION ALL SELECT v, $p FROM a)) GROUP BY 1),
             |ra$name AS (SELECT COUNT(*) AS n_vertices,
             |    CAST(SUM(r) AS BIGINT) AS sum_replicas FROM r$name),
             |s$name AS (SELECT '$name' AS strategy, n_edges, max_load, min_load,
             |    n_vertices, sum_replicas,
             |    ROUND(CAST(sum_replicas AS DOUBLE) / CAST(n_vertices AS DOUBLE), 6)
             |      AS repl_factor
             |  FROM la$name, ra$name)""".stripMargin
        s"""WITH $edgesCte,
           |e AS (SELECT src * 2 AS u, dst * 2 + 1 AS v FROM edges),
           |a AS (SELECT u, v, ${h("p1", "u", PartitionOps.Grid * PartitionOps.Grid)} AS p1,
           |    (${h("p2", "u", PartitionOps.Grid)}) * ${PartitionOps.Grid}
           |      + ${h("p2", "v", PartitionOps.Grid)} AS p2
           |  FROM e),
           |${side("p1", "1d_hash")},
           |${side("p2", "2d_grid")}
           |SELECT * FROM s1d_hash UNION ALL SELECT * FROM s2d_grid
           |ORDER BY strategy""".stripMargin
      },

      // Late-event accounting: running max over arrival order replays
      // the fold; exact integer microseconds end to end.
      "q_stream_late_events" ->
        s"""WITH ev AS (SELECT event_type, event_id,
           |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
           |w AS (SELECT event_type, us,
           |    MAX(us) OVER (PARTITION BY event_type ORDER BY event_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
           |  FROM ev),
           |l AS (SELECT event_type, us, pmax,
           |    (pmax IS NOT NULL AND us < pmax - ${StreamingOps.LateDelaySec * 1000000L})
           |      AS late,
           |    CASE WHEN pmax IS NOT NULL
           |           AND us < pmax - ${StreamingOps.LateDelaySec * 1000000L}
           |      THEN (pmax - ${StreamingOps.LateDelaySec * 1000000L} - us) // 1000000
           |      ELSE 0 END AS delay
           |  FROM w)
           |SELECT event_type, COUNT(*) AS n_events,
           |  CAST(SUM(CASE WHEN late THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
           |  CAST(MAX(delay) AS BIGINT) AS max_delay_sec
           |FROM l GROUP BY 1 ORDER BY 1""".stripMargin,

      // Curriculum schedule: two keyed windows + exact integer quartile
      // buckets; the Σ doc_id·pos checksum pins the whole ordering.
      "q_llm_curriculum_order" ->
        """WITH r AS (SELECT doc_id, lang, n_chars,
          |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
          |      ORDER BY n_chars ASC, doc_id ASC) AS BIGINT) AS rnk,
          |    COUNT(*) OVER (PARTITION BY lang) AS n
          |  FROM documents),
          |b AS (SELECT *, (4 * (rnk - 1)) // n AS bucket FROM r),
          |p AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY lang, bucket
          |    ORDER BY rnk) AS BIGINT) AS rib FROM b),
          |q AS (SELECT lang, bucket, doc_id, n_chars,
          |    4 * (rib - 1) + bucket + 1 AS pos FROM p)
          |SELECT lang, CAST(bucket AS BIGINT) AS bucket, COUNT(*) AS n_docs,
          |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
          |  CAST(MIN(pos) AS BIGINT) AS first_pos,
          |  CAST(MAX(pos) AS BIGINT) AS last_pos,
          |  CAST(SUM(doc_id * pos) AS BIGINT) AS schedule_checksum
          |FROM q GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

      // Double-sweep pseudo-diameter: the bfs recursive-CTE device run
      // twice — far endpoint of sweep 1 (hop DESC, node ASC) seeds
      // sweep 2; both sweeps share the bfs hop cap.
      "q_graph_pseudo_diameter" ->
        s"""WITH RECURSIVE $edgesCte,
           |pp AS (SELECT e1.dst AS a, e2.dst AS b
           |       FROM edges e1 JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
           |       GROUP BY 1, 2 HAVING COUNT(*) >= ${GraphOps.CcMinCooccur}),
           |ue AS (SELECT a, b FROM pp UNION ALL SELECT b, a FROM pp),
           |seed AS (SELECT MIN(a) AS s FROM ue),
           |reach1(n, d) AS (
           |  SELECT s, 0 FROM seed
           |  UNION
           |  SELECT ue.b, reach1.d + 1 FROM reach1 JOIN ue ON reach1.n = ue.a
           |  WHERE reach1.d < ${GraphOps.BfsMaxHops}),
           |dm1 AS (SELECT n, MIN(d) AS d FROM reach1 GROUP BY n),
           |far1 AS (SELECT n, d FROM dm1 ORDER BY d DESC, n ASC LIMIT 1),
           |reach2(n, d) AS (
           |  SELECT n, 0 FROM far1
           |  UNION
           |  SELECT ue.b, reach2.d + 1 FROM reach2 JOIN ue ON reach2.n = ue.a
           |  WHERE reach2.d < ${GraphOps.BfsMaxHops}),
           |dm2 AS (SELECT n, MIN(d) AS d FROM reach2 GROUP BY n),
           |far2 AS (SELECT n, d FROM dm2 ORDER BY d DESC, n ASC LIMIT 1)
           |SELECT seed.s AS seed_node, far1.n AS far_node1,
           |  CAST(far1.d AS BIGINT) AS ecc1, far2.n AS far_node2,
           |  CAST(far2.d AS BIGINT) AS pseudo_diameter
           |FROM seed, far1, far2""".stripMargin,

      // LSH-candidate clustering: the md5 minhash sig/band/verify chain
      // at the strong threshold + the dedup_clusters reachability CTE.
      "q_llm_lsh_clusters" -> {
        def mhS(j: Int): String =
          s"MIN(CAST('0x' || substr(md5('$j:' || tok), 1, 15) AS BIGINT)) AS s$j"
        val sigs = (0 until 8).map(mhS).mkString(", ")
        val bands = (0 until 4).map { b =>
          s"""SELECT doc_id, lang, $b AS band_id,
             |  CAST(s${2 * b} AS VARCHAR) || '_' || CAST(s${2 * b + 1} AS VARCHAR) AS bv
             |FROM sig""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH RECURSIVE d AS (SELECT doc_id, lang,
           |             list_distinct(string_split(text, ' ')) AS toks
           |           FROM documents WHERE doc_id % 10 = 0
           |             AND len(list_distinct(string_split(text, ' '))) > 0),
           |tok AS (SELECT doc_id, lang, unnest(toks) AS tok FROM d),
           |sig AS (SELECT doc_id, lang, $sigs FROM tok GROUP BY 1, 2),
           |banded AS ($bands),
           |pairs AS (SELECT DISTINCT a.lang, a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM banded a JOIN banded b ON a.lang = b.lang AND a.band_id = b.band_id
           |    AND a.bv = b.bv AND a.doc_id < b.doc_id),
           |v AS (SELECT p.doc_a, p.doc_b,
           |  ROUND(CAST(len(list_intersect(da.toks, db.toks)) AS DOUBLE)
           |    / (len(da.toks) + len(db.toks) - len(list_intersect(da.toks, db.toks))), 6)
           |    AS jaccard
           |  FROM pairs p JOIN d da ON p.doc_a = da.doc_id
           |               JOIN d db ON p.doc_b = db.doc_id),
           |p8 AS (SELECT doc_a AS x, doc_b AS y FROM v WHERE jaccard >= 0.8),
           |ue AS (SELECT x, y FROM p8 UNION ALL SELECT y, x FROM p8),
           |reach AS (
           |  SELECT doc_id AS n, doc_id AS r FROM d
           |  UNION
           |  SELECT reach.n, ue.y FROM reach JOIN ue ON reach.r = ue.x),
           |comp AS (SELECT n, MIN(r) AS lbl FROM reach GROUP BY n),
           |cl AS (SELECT d.lang, comp.lbl, COUNT(*) AS sz
           |  FROM comp JOIN d ON comp.n = d.doc_id GROUP BY 1, 2)
           |SELECT lang, CAST(SUM(sz) AS BIGINT) AS n_docs, COUNT(*) AS n_clusters,
           |  CAST(SUM(sz) - COUNT(*) AS BIGINT) AS n_dup_docs,
           |  CAST(MAX(sz) AS BIGINT) AS max_cluster
           |FROM cl GROUP BY lang ORDER BY lang""".stripMargin
      },

      "q_llm_hard_negatives" ->
        s"""WITH anchors AS (SELECT vec_id AS anchor_id, label AS albl, embedding AS av
           |  FROM embeddings WHERE vec_id BETWEEN 20 AND 24),
           |c AS (SELECT a.anchor_id, e.vec_id AS negative_id,
           |    e.label AS negative_label,
           |    ROUND(${cosExpr("e.embedding", "a.av")}, 6) AS cos_sim
           |  FROM embeddings e CROSS JOIN anchors a
           |  WHERE e.vec_id <> a.anchor_id AND e.label <> a.albl),
           |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
           |    ORDER BY cos_sim DESC, negative_id ASC) AS rnk FROM c)
           |SELECT anchor_id, negative_id, negative_label, cos_sim,
           |  CAST(rnk AS BIGINT) AS rnk
           |FROM r WHERE rnk <= 3 ORDER BY anchor_id, rnk""".stripMargin,

      "q_time_sax" ->
        s"""WITH d0 AS (SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
           |    CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
           |  FROM events GROUP BY 1, 2),
           |daily AS (SELECT event_type,
           |    CAST(day - DATE '2024-01-01' AS BIGINT) AS x, y FROM d0),
           |mom AS (SELECT event_type AS met, COUNT(*) AS n,
           |    CAST(SUM(y) AS DOUBLE) AS sy, CAST(SUM(y * y) AS DOUBLE) AS syy
           |  FROM daily GROUP BY 1 HAVING COUNT(*) > 1),
           |stats AS (SELECT met, sy / CAST(n AS DOUBLE) AS mean,
           |    sqrt((CAST(n AS DOUBLE) * syy - sy * sy)
           |      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))) AS std
           |  FROM mom),
           |win AS (SELECT event_type, (rn - 1) // ${StatsOps.SaxWin} AS win,
           |    COUNT(*) AS nw, MIN(x) AS x_start, CAST(SUM(y) AS BIGINT) AS s5
           |  FROM (SELECT event_type, x, y,
           |      ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY x) AS rn
           |    FROM daily)
           |  GROUP BY 1, 2 HAVING COUNT(*) = ${StatsOps.SaxWin}),
           |z AS (SELECT w.event_type, w.win, w.x_start,
           |    CAST(w.s5 AS DOUBLE) / CAST(${StatsOps.SaxWin} AS DOUBLE) AS paa,
           |    (CAST(w.s5 AS DOUBLE) / CAST(${StatsOps.SaxWin} AS DOUBLE) - s.mean)
           |      / s.std AS zz
           |  FROM win w JOIN stats s ON w.event_type = s.met)
           |SELECT event_type, CAST(win AS BIGINT) AS win, x_start, paa,
           |  ROUND(zz, 6) AS z_paa,
           |  CAST(CASE WHEN zz < CAST(-0.6745 AS DOUBLE) THEN 0
           |       WHEN zz < CAST(0 AS DOUBLE) THEN 1
           |       WHEN zz < CAST(0.6745 AS DOUBLE) THEN 2 ELSE 3 END AS BIGINT) AS sym
           |FROM z ORDER BY event_type, win""".stripMargin,

      "q_agg_gmean_hmean" ->
        """WITH ev AS (SELECT event_type, CAST(ROUND(value * 100, 0) AS BIGINT) AS c
          |  FROM events WHERE CAST(ROUND(value * 100, 0) AS BIGINT) > 0),
          |t AS (SELECT event_type,
          |    CAST(ROUND(ln(CAST(c AS DOUBLE)), 9) AS DECIMAL(18,9)) AS lnt,
          |    CAST(ROUND(CAST(1 AS DOUBLE) / CAST(c AS DOUBLE), 9) AS DECIMAL(18,9)) AS invt
          |  FROM ev),
          |a AS (SELECT event_type, COUNT(*) AS n,
          |    SUM(lnt) AS sln, SUM(invt) AS sinv FROM t GROUP BY 1)
          |SELECT event_type, CAST(n AS BIGINT) AS n,
          |  ROUND(CAST(sln AS DOUBLE) / CAST(n AS DOUBLE), 6) AS log_gmean_cents,
          |  ROUND(CAST(n AS DOUBLE) / CAST(sinv AS DOUBLE), 6) AS hmean_cents
          |FROM a ORDER BY event_type""".stripMargin,

      "q_llm_ann_ivfpq" ->
        s"""WITH $ivfAssignedCtes,
           |res AS (SELECT a.vid, a.cid,
           |    list_transform(range(1, 65),
           |      i -> CAST(a.dv[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE)) AS rv
           |  FROM assigned a JOIN cents c ON a.cid = c.cid),
           |s AS (SELECT vid, m, rv[m*8 + 1 : m*8 + 8] AS xv
           |  FROM res, UNNEST(range(0, 8)) AS t(m)),
           |cb AS (SELECT vid AS j, m AS cm, xv AS cv2 FROM s, nl
           |  WHERE vid BETWEEN nl.nlist AND nl.nlist + 15),
           |d2t AS (SELECT s.vid, s.m, cb.j, $d2terms AS d2
           |  FROM s JOIN cb ON s.m = cb.cm),
           |codes AS (SELECT vid AS nid, m AS nm, j AS code FROM (
           |  SELECT vid, m, j, ROW_NUMBER() OVER (PARTITION BY vid, m
           |    ORDER BY d2, j) AS rn FROM d2t) WHERE rn = 1),
           |qlut AS (SELECT vid AS query_id, m AS lm, j AS lj,
           |    CAST(round(d2, 9) AS DECIMAL(20,9)) AS qd2
           |  FROM d2t WHERE vid BETWEEN 20 AND 24),
           |qcells AS (SELECT vid AS qid, cid AS qcid FROM assigned
           |  WHERE vid BETWEEN 20 AND 24),
           |cand AS (SELECT q.qid, a.vid AS cvid FROM qcells q
           |  JOIN assigned a ON a.cid = q.qcid AND a.vid <> q.qid),
           |adc AS (SELECT c.qid, c.cvid, CAST(SUM(l.qd2) AS DOUBLE) AS a
           |  FROM cand c JOIN codes k ON k.nid = c.cvid
           |  JOIN qlut l ON l.query_id = c.qid AND l.lm = k.nm AND l.lj = k.code
           |  GROUP BY 1, 2),
           |r AS (SELECT qid, cvid, round(a, 6) AS adc_dist,
           |    CAST(ROW_NUMBER() OVER (PARTITION BY qid
           |      ORDER BY round(a, 6), cvid) AS BIGINT) AS rnk FROM adc)
           |SELECT qid AS query_id, cvid AS neighbor_id, adc_dist, rnk
           |FROM r WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin
    )
  }

  /** Round-10 batch 8: rank/variance statistics (Spearman ρ via
    * 2×-integer average ranks, one-way ANOVA + mean-centered Levene on
    * a shared decimal assembly), Benjamini–Hochberg FDR over a
    * 2-family test pool, binary-relevance retrieval eval (MAP@10 /
    * MRR@10 on the ndcg fixture), and asymmetric trigram containment.
    * Devices: exact integer/DECIMAL moments with ONE pinned double
    * expression at the end of each statistic. */
  val round15b: Map[String, String] = Map(
    "q_agg_spearman" ->
      """WITH base AS (SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS x,
        |    CAST(ROUND(l_extendedprice*100,0) AS BIGINT) AS y FROM lineitem),
        |r AS (SELECT g,
        |    CAST(RANK() OVER (PARTITION BY g ORDER BY x)
        |      + COUNT(*) OVER (PARTITION BY g)
        |      + 1 - RANK() OVER (PARTITION BY g ORDER BY x DESC) AS BIGINT) AS rx2,
        |    CAST(RANK() OVER (PARTITION BY g ORDER BY y)
        |      + COUNT(*) OVER (PARTITION BY g)
        |      + 1 - RANK() OVER (PARTITION BY g ORDER BY y DESC) AS BIGINT) AS ry2
        |  FROM base),
        |m AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(rx2 AS DECIMAL(38,0))) AS sx,
        |    SUM(CAST(ry2 AS DECIMAL(38,0))) AS sy,
        |    SUM(CAST(rx2*rx2 AS DECIMAL(38,0))) AS sxx,
        |    SUM(CAST(ry2*ry2 AS DECIMAL(38,0))) AS syy,
        |    SUM(CAST(rx2*ry2 AS DECIMAL(38,0))) AS sxy
        |  FROM r GROUP BY 1)
        |SELECT g AS l_returnflag, n,
        |  ROUND((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
        |    / (sqrt(CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
        |     * sqrt(CAST(n AS DOUBLE)*CAST(syy AS DOUBLE)
        |        - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE))), 6) AS rho
        |FROM m ORDER BY 1""".stripMargin,

    "q_agg_anova" ->
      """WITH v AS (SELECT c_mktsegment AS g,
        |    CAST(ROUND(c_acctbal*100,0) AS BIGINT) AS c FROM customer),
        |grp AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS ng,
        |    CAST(SUM(c) AS BIGINT) AS sg,
        |    SUM(CAST(c AS DECIMAL(38,0)) * c) AS qg
        |  FROM v GROUP BY 1),
        |terms AS (SELECT ng, sg, qg,
        |    CAST(ROUND(CAST(sg AS DOUBLE)*CAST(sg AS DOUBLE)
        |      / CAST(ng AS DOUBLE), 9) AS DECIMAL(38,9)) AS t FROM grp),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
        |    CAST(SUM(ng) AS BIGINT) AS n, CAST(SUM(sg) AS BIGINT) AS s,
        |    SUM(qg) AS q, SUM(t) AS st FROM terms)
        |SELECT k, n, CAST(k-1 AS BIGINT) AS df1, CAST(n-k AS BIGINT) AS df2,
        |  ROUND(((CAST(st AS DOUBLE)
        |      - CAST(s AS DOUBLE)*CAST(s AS DOUBLE)/CAST(n AS DOUBLE))
        |      / CAST(k-1 AS DOUBLE))
        |    / ((CAST(q AS DOUBLE) - CAST(st AS DOUBLE))/CAST(n-k AS DOUBLE)), 6)
        |    AS f_stat
        |FROM tot""".stripMargin,

    "q_agg_levene" ->
      """WITH v AS (SELECT c_mktsegment AS g,
        |    CAST(ROUND(c_acctbal*100,0) AS BIGINT) AS c FROM customer),
        |gm AS (SELECT g AS gg, CAST(COUNT(*) AS BIGINT) AS ngm,
        |    CAST(SUM(c) AS BIGINT) AS sgm FROM v GROUP BY 1),
        |z AS (SELECT v.g,
        |    ABS(CAST(v.c AS DOUBLE) - CAST(sgm AS DOUBLE)/CAST(ngm AS DOUBLE))
        |      /100.0 AS z
        |  FROM v JOIN gm ON v.g = gm.gg),
        |grp AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS ng,
        |    SUM(CAST(ROUND(z, 9) AS DECIMAL(28,9))) AS sg,
        |    SUM(CAST(ROUND(z*z, 6) AS DECIMAL(28,6))) AS qg FROM z GROUP BY 1),
        |terms AS (SELECT ng, sg, qg,
        |    CAST(ROUND(CAST(sg AS DOUBLE)*CAST(sg AS DOUBLE)
        |      / CAST(ng AS DOUBLE), 6) AS DECIMAL(38,6)) AS t FROM grp),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
        |    CAST(SUM(ng) AS BIGINT) AS n, CAST(SUM(sg) AS DOUBLE) AS s,
        |    CAST(SUM(qg) AS DOUBLE) AS q, CAST(SUM(t) AS DOUBLE) AS st
        |  FROM terms)
        |SELECT k, n, CAST(k-1 AS BIGINT) AS df1, CAST(n-k AS BIGINT) AS df2,
        |  ROUND(((st - s*s/CAST(n AS DOUBLE))/CAST(k-1 AS DOUBLE))
        |    / ((q - st)/CAST(n-k AS DOUBLE)), 6) AS w_stat
        |FROM tot""".stripMargin,

    "q_stats_fdr_bh" ->
      """WITH cents AS (SELECT event_type, user_id % 20 AS ub,
        |    CAST(ROUND(value*100,0) AS BIGINT) AS c FROM events
        |  WHERE CAST(ROUND(value*100,0) AS BIGINT) > 0),
        |g AS (SELECT event_type, ub, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN SUBSTR(CAST(c AS VARCHAR),1,1) = '1'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_d1,
        |    CAST(SUM(CASE WHEN c % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_even
        |  FROM cents GROUP BY 1,2 HAVING COUNT(*) >= 20),
        |tests AS (
        |  SELECT 'uniform_d1' AS family, event_type, ub, n,
        |    (CAST(n_d1 AS DOUBLE) - CAST(n AS DOUBLE)*(1.0/9.0))
        |      / sqrt(CAST(n AS DOUBLE)*(1.0/9.0)*(1.0-1.0/9.0)) AS z FROM g
        |  UNION ALL
        |  SELECT 'parity' AS family, event_type, ub, n,
        |    CAST(2*n_even - n AS DOUBLE)/sqrt(CAST(n AS DOUBLE)) AS z FROM g),
        |p AS (SELECT family, event_type, ub, n, z, exp(-z*z/2.0) AS pp
        |  FROM tests),
        |rk AS (SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY pp, family,
        |      event_type, ub) AS BIGINT) AS i,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS m FROM p),
        |kk AS (SELECT *, MAX(CASE WHEN pp * CAST(m AS DOUBLE)
        |      <= CAST(i AS DOUBLE) * 0.05 THEN i ELSE 0 END) OVER () AS kbh
        |  FROM rk)
        |SELECT family, event_type, ub, n, ROUND(z,6) AS z_stat,
        |  ROUND(pp,9) AS pseudo_p, i AS bh_rank,
        |  CASE WHEN i <= kbh THEN TRUE ELSE FALSE END AS rejected
        |FROM kk ORDER BY bh_rank, family, event_type, ub""".stripMargin,

    // Holm step-down over the SAME pseudo-p battery as q_stats_fdr_bh:
    // running-max adjusted p + running-min step-threshold indicator.
    "q_stats_holm" ->
      """WITH cents AS (SELECT event_type, user_id % 20 AS ub,
        |    CAST(ROUND(value*100,0) AS BIGINT) AS c FROM events
        |  WHERE CAST(ROUND(value*100,0) AS BIGINT) > 0),
        |g AS (SELECT event_type, ub, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN SUBSTR(CAST(c AS VARCHAR),1,1) = '1'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_d1,
        |    CAST(SUM(CASE WHEN c % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_even
        |  FROM cents GROUP BY 1,2 HAVING COUNT(*) >= 20),
        |tests AS (
        |  SELECT 'uniform_d1' AS family, event_type, ub, n,
        |    (CAST(n_d1 AS DOUBLE) - CAST(n AS DOUBLE)*(1.0/9.0))
        |      / sqrt(CAST(n AS DOUBLE)*(1.0/9.0)*(1.0-1.0/9.0)) AS z FROM g
        |  UNION ALL
        |  SELECT 'parity' AS family, event_type, ub, n,
        |    CAST(2*n_even - n AS DOUBLE)/sqrt(CAST(n AS DOUBLE)) AS z FROM g),
        |p AS (SELECT family, event_type, ub, n, z, exp(-z*z/2.0) AS pp
        |  FROM tests),
        |rk AS (SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY pp, family,
        |      event_type, ub) AS BIGINT) AS i,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS m FROM p),
        |hw AS (SELECT *,
        |    0.05 / CAST(m - i + 1 AS DOUBLE) AS step_alpha,
        |    MAX(LEAST(1.0, CAST(m - i + 1 AS DOUBLE) * pp))
        |      OVER (ORDER BY pp, family, event_type, ub
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS padj,
        |    MIN(CASE WHEN pp <= 0.05 / CAST(m - i + 1 AS DOUBLE)
        |      THEN 1 ELSE 0 END)
        |      OVER (ORDER BY pp, family, event_type, ub
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ok_run
        |  FROM rk)
        |SELECT family, event_type, ub, n, ROUND(z,6) AS z_stat,
        |  ROUND(pp,9) AS pseudo_p, i AS holm_rank,
        |  ROUND(step_alpha,9) AS step_alpha, ROUND(padj,9) AS p_adj,
        |  CASE WHEN ok_run = 1 THEN TRUE ELSE FALSE END AS rejected
        |FROM hw ORDER BY holm_rank, family, event_type, ub""".stripMargin,

    // SMA5/SMA15 crossover via the exact integer cross-multiplication
    // 3·Σ5 > Σ15 — no division, no float tie class anywhere.
    "q_time_sma_cross" ->
      """WITH daily AS (SELECT event_type,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |d AS (SELECT event_type,
        |    CAST(day - DATE '2024-01-01' AS BIGINT) AS x, y FROM daily),
        |w AS (SELECT event_type, x,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY x)
        |      AS BIGINT) AS t,
        |    CAST(SUM(y) OVER (PARTITION BY event_type ORDER BY x
        |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS BIGINT) AS s5,
        |    CAST(SUM(y) OVER (PARTITION BY event_type ORDER BY x
        |      ROWS BETWEEN 14 PRECEDING AND CURRENT ROW) AS BIGINT) AS s15
        |  FROM d),
        |ev AS (SELECT event_type, x, 3 * s5 > s15 AS above
        |  FROM w WHERE t >= 15),
        |c AS (SELECT event_type, x, above,
        |    LAG(above) OVER (PARTITION BY event_type ORDER BY x) AS prev
        |  FROM ev),
        |cc AS (SELECT event_type, x,
        |    (above AND NOT prev) AS golden, (NOT above AND prev) AS death
        |  FROM c WHERE prev IS NOT NULL),
        |agg AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_transitions_evaluated,
        |    CAST(SUM(CASE WHEN golden THEN 1 ELSE 0 END) AS BIGINT) AS n_golden,
        |    CAST(SUM(CASE WHEN death THEN 1 ELSE 0 END) AS BIGINT) AS n_death,
        |    MAX(CASE WHEN golden OR death THEN x END) AS last_cross_x
        |  FROM cc GROUP BY 1)
        |SELECT agg.event_type, agg.n_transitions_evaluated, agg.n_golden,
        |  agg.n_death, agg.last_cross_x,
        |  CASE WHEN lc.golden THEN 'golden'
        |       WHEN lc.death THEN 'death' END AS last_cross_dir
        |FROM agg LEFT JOIN cc lc ON agg.event_type = lc.event_type
        |  AND agg.last_cross_x = lc.x
        |ORDER BY agg.event_type""".stripMargin,

    // Sweep-line peak concurrency over the shared sessionize chain:
    // +1/−1 deltas under a total order, running sum = live sessions.
    "q_agg_concurrency" ->
      s"""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id
         |           FROM events),
         |f AS (SELECT *, epoch_us(ts)
         |    - LAG(epoch_us(ts)) OVER (PARTITION BY user_id
         |        ORDER BY ts, event_id) AS gap
         |  FROM e),
         |g AS (SELECT *, CASE WHEN gap IS NULL
         |    OR gap > ${StatsOps.SessionGapMin * 60000000L}
         |    THEN 1 ELSE 0 END AS brk FROM f),
         |h AS (SELECT *, CAST(SUM(brk) OVER (PARTITION BY user_id
         |    ORDER BY ts, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS session_id
         |  FROM g),
         |sess AS (SELECT user_id, session_id,
         |    CAST(MIN(epoch_us(ts)) AS BIGINT) AS s_us,
         |    CAST(MAX(epoch_us(ts)) + 1 AS BIGINT) AS e_us
         |  FROM h GROUP BY 1, 2),
         |sd AS (SELECT user_id, s_us, e_us,
         |    CAST(make_timestamp(s_us) AS DATE) AS day FROM sess),
         |pts AS (SELECT day, s_us AS us, CAST(1 AS BIGINT) AS delta,
         |    user_id, s_us FROM sd
         |  UNION ALL
         |  SELECT day, e_us, CAST(-1 AS BIGINT), user_id, s_us FROM sd),
         |sw AS (SELECT *, CAST(SUM(delta) OVER (PARTITION BY day
         |    ORDER BY us, delta, user_id, s_us
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS cur
         |  FROM pts),
         |mx AS (SELECT day, CAST(MAX(cur) AS BIGINT) AS max_concurrent_cohort,
         |    CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_sessions
         |  FROM sw GROUP BY 1),
         |att AS (SELECT sw.day AS d3, CAST(MIN(sw.us) AS BIGINT) AS peak_us
         |  FROM sw JOIN mx ON sw.day = mx.day AND sw.cur = mx.max_concurrent_cohort
         |  GROUP BY 1)
         |SELECT mx.day, mx.n_sessions, mx.max_concurrent_cohort,
         |  make_timestamp(att.peak_us) AS peak_ts
         |FROM mx JOIN att ON mx.day = att.d3 ORDER BY mx.day""".stripMargin,

    // Spectral entropy over the periodogram integer-trig device at the
    // 8 candidate bands: exact BIGINT trig sums, round-9 power pins,
    // PSI-device entropy terms, dominant band by exact-decimal power.
    "q_time_spectral_entropy" -> {
      val trigVals = StatsOps.SpectralTrig
        .map { case (t, m, c9, s9) => s"($t, $m, CAST($c9 AS BIGINT), CAST($s9 AS BIGINT))" }
        .mkString(",\n        |    ")
      s"""WITH daily AS (SELECT event_type,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |d AS (SELECT event_type,
        |    CAST(day - DATE '2024-01-01' AS BIGINT) AS x, y FROM daily),
        |trig AS (SELECT * FROM (VALUES
        |    $trigVals) AS v(t, m, c9, s9)),
        |agg AS (SELECT d.event_type, trig.t,
        |    CAST(SUM(d.y * trig.c9) AS BIGINT) AS cs,
        |    CAST(SUM(d.y * trig.s9) AS BIGINT) AS ss
        |  FROM d JOIN trig ON ((d.x % trig.t) + trig.t) % trig.t = trig.m
        |  GROUP BY 1, 2),
        |pw AS (SELECT event_type, t,
        |    CAST(ROUND((CAST(cs AS DOUBLE) / 1e9) * (CAST(cs AS DOUBLE) / 1e9)
        |      + (CAST(ss AS DOUBLE) / 1e9) * (CAST(ss AS DOUBLE) / 1e9), 9)
        |      AS DECIMAL(28,9)) AS pw
        |  FROM agg),
        |tot AS (SELECT event_type AS te, SUM(pw) AS ptot,
        |    CAST(COUNT(*) AS BIGINT) AS k FROM pw GROUP BY 1),
        |j AS (SELECT pw.event_type, pw.t, pw.pw, tot.k,
        |    CAST(pw.pw AS DOUBLE) / CAST(tot.ptot AS DOUBLE) AS p
        |  FROM pw JOIN tot ON pw.event_type = tot.te),
        |ent AS (SELECT event_type, k,
        |    CAST(SUM(CAST(ROUND(CASE WHEN p > 0 THEN -p * LN(p)
        |      ELSE 0.0 END, 9) AS DECIMAL(28,9))) AS DOUBLE) AS h
        |  FROM j GROUP BY 1, 2),
        |dom AS (SELECT event_type AS de, CAST(t AS INT) AS dominant_period
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY pw DESC, t ASC) AS rk FROM j)
        |  WHERE rk = 1)
        |SELECT e.event_type, e.k AS n_periods, dom.dominant_period,
        |  ROUND(e.h, 6) AS spectral_entropy,
        |  ROUND(e.h / LN(CAST(e.k AS DOUBLE)), 6) AS spectral_entropy_norm
        |FROM ent e JOIN dom ON e.event_type = dom.de
        |ORDER BY e.event_type""".stripMargin
    },

    // TOST equivalence on the ttest split: two one-sided Welch t's vs
    // the exactly-computed 5%-of-mean margin, decision on rounded t's.
    "q_agg_tost" ->
      """WITH ev AS (SELECT event_type,
        |    CAST(ROUND(value * 100, 0) AS BIGINT) AS c,
        |    (CAST(CAST(ts AS TIMESTAMP) AS DATE) <= DATE '2024-01-15') AS is_ref
        |  FROM events),
        |a AS (SELECT event_type,
        |    CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
        |    CAST(SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_cur,
        |    CAST(SUM(CASE WHEN is_ref THEN c ELSE 0 END) AS DOUBLE) AS s1,
        |    CAST(SUM(CASE WHEN is_ref THEN c * c ELSE 0 END) AS DOUBLE) AS q1,
        |    CAST(SUM(CASE WHEN NOT is_ref THEN c ELSE 0 END) AS DOUBLE) AS s2,
        |    CAST(SUM(CASE WHEN NOT is_ref THEN c * c ELSE 0 END) AS DOUBLE) AS q2
        |  FROM ev GROUP BY 1
        |  HAVING n_ref > 1 AND n_cur > 1),
        |x AS (SELECT event_type, n_ref, n_cur,
        |    s1 / CAST(n_ref AS DOUBLE) - s2 / CAST(n_cur AS DOUBLE) AS diff,
        |    0.05 * ABS((s1 + s2) / (CAST(n_ref AS DOUBLE) + CAST(n_cur AS DOUBLE)))
        |      AS delta,
        |    sqrt((CAST(n_ref AS DOUBLE) * q1 - s1 * s1)
        |        / (CAST(n_ref AS DOUBLE) * (CAST(n_ref AS DOUBLE) - 1))
        |        / CAST(n_ref AS DOUBLE)
        |      + (CAST(n_cur AS DOUBLE) * q2 - s2 * s2)
        |        / (CAST(n_cur AS DOUBLE) * (CAST(n_cur AS DOUBLE) - 1))
        |        / CAST(n_cur AS DOUBLE)) AS se
        |  FROM a),
        |y AS (SELECT event_type, n_ref, n_cur,
        |    ROUND(diff, 6) AS mean_diff, ROUND(delta, 6) AS delta_margin,
        |    ROUND((diff + delta) / se, 6) AS t_lower,
        |    ROUND((diff - delta) / se, 6) AS t_upper
        |  FROM x)
        |SELECT event_type, n_ref, n_cur, mean_diff, delta_margin,
        |  t_lower, t_upper,
        |  (t_lower > 1.645 AND t_upper < -1.645) AS equivalent_5pct
        |FROM y ORDER BY event_type""".stripMargin,

    // Pettitt change-point via doubled midranks — every U_t exact
    // BIGINT; the only float is the final significance approximation.
    "q_time_pettitt" ->
      """WITH daily AS (SELECT event_type,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |d AS (SELECT event_type,
        |    CAST(day - DATE '2024-01-01' AS BIGINT) AS x, y FROM daily),
        |r AS (SELECT *,
        |    CAST(2 * RANK() OVER (PARTITION BY event_type ORDER BY y)
        |      + COUNT(*) OVER (PARTITION BY event_type, y) - 1 AS BIGINT) AS r2,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY x)
        |      AS BIGINT) AS t,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM d),
        |u AS (SELECT event_type, x, t, n,
        |    CAST(SUM(r2) OVER (PARTITION BY event_type ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      - t * (n + 1) AS ut
        |  FROM r),
        |uu AS (SELECT * FROM u WHERE t < n),
        |k AS (SELECT event_type, n, CAST(MAX(ABS(ut)) AS BIGINT) AS k_stat
        |  FROM uu GROUP BY 1, 2),
        |tau AS (SELECT uu.event_type AS te, MIN(uu.x) AS change_x
        |  FROM uu JOIN k ON uu.event_type = k.event_type
        |    AND ABS(uu.ut) = k.k_stat
        |  GROUP BY 1)
        |SELECT k.event_type, k.n AS n_days, k.k_stat, tau.change_x,
        |  ROUND(2.0 * exp(-6.0 * CAST(k.k_stat AS DOUBLE)
        |    * CAST(k.k_stat AS DOUBLE)
        |    / (CAST(k.n AS DOUBLE) * CAST(k.n AS DOUBLE) * CAST(k.n AS DOUBLE)
        |       + CAST(k.n AS DOUBLE) * CAST(k.n AS DOUBLE))), 6) AS p_approx
        |FROM k JOIN tau ON k.event_type = tau.te
        |ORDER BY k.event_type""".stripMargin,

    // Two-state burst DP replayed as a recursive CTE over the SAME
    // 1e9-scaled integers — exact, zero rounding drift across 360 steps.
    "q_time_burst" ->
      s"""WITH RECURSIVE daily AS (SELECT event_type,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |rk AS (SELECT event_type, n,
        |    CAST(day - DATE '2024-01-01' AS BIGINT) AS x,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
        |      AS BIGINT) AS t
        |  FROM daily),
        |par AS (SELECT event_type AS pe, CAST(COUNT(*) AS BIGINT) AS td,
        |    CAST(SUM(n) AS BIGINT) AS nn FROM daily GROUP BY 1),
        |pp AS (SELECT pe,
        |    CAST(ROUND((CAST(nn AS DOUBLE) / CAST(td AS DOUBLE)) * 1e9, 0)
        |      AS BIGINT) AS lam09,
        |    CAST(ROUND(${StatsOps.BurstS} * (CAST(nn AS DOUBLE) / CAST(td AS DOUBLE)) * 1e9, 0)
        |      AS BIGINT) AS lam19,
        |    CAST(ROUND(LN(CAST(nn AS DOUBLE) / CAST(td AS DOUBLE)) * 1e9, 0)
        |      AS BIGINT) AS l09,
        |    CAST(ROUND(LN(${StatsOps.BurstS} * (CAST(nn AS DOUBLE) / CAST(td AS DOUBLE))) * 1e9, 0)
        |      AS BIGINT) AS l19,
        |    CAST(ROUND(LN(CAST(td AS DOUBLE)) * 1e9, 0) AS BIGINT) AS gam9
        |  FROM par),
        |e AS (SELECT r.event_type, r.t, r.x,
        |    p.lam09 - r.n * p.l09 AS e0, p.lam19 - r.n * p.l19 AS e1, p.gam9
        |  FROM rk r JOIN pp p ON r.event_type = p.pe),
        |dp AS (
        |  SELECT event_type, t,
        |    e0 + LEAST(CAST(0 AS BIGINT), gam9) AS c0,
        |    e1 + LEAST(CAST(0 AS BIGINT) + gam9, gam9) AS c1,
        |    CASE WHEN e1 + LEAST(CAST(0 AS BIGINT) + gam9, gam9)
        |           < e0 + LEAST(CAST(0 AS BIGINT), gam9)
        |      THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS nb,
        |    CASE WHEN e1 + LEAST(CAST(0 AS BIGINT) + gam9, gam9)
        |           < e0 + LEAST(CAST(0 AS BIGINT), gam9)
        |      THEN x END AS fb,
        |    CASE WHEN e1 + LEAST(CAST(0 AS BIGINT) + gam9, gam9)
        |           < e0 + LEAST(CAST(0 AS BIGINT), gam9)
        |      THEN x END AS lb,
        |    (e0 + LEAST(CAST(0 AS BIGINT), gam9))
        |      - (e1 + LEAST(CAST(0 AS BIGINT) + gam9, gam9)) AS mm
        |  FROM e WHERE t = 1
        |  UNION ALL
        |  SELECT nx.event_type, nx.t,
        |    nx.e0 + LEAST(d.c0, d.c1),
        |    nx.e1 + LEAST(d.c0 + nx.gam9, d.c1),
        |    d.nb + CASE WHEN nx.e1 + LEAST(d.c0 + nx.gam9, d.c1)
        |             < nx.e0 + LEAST(d.c0, d.c1) THEN 1 ELSE 0 END,
        |    CASE WHEN d.fb IS NULL AND nx.e1 + LEAST(d.c0 + nx.gam9, d.c1)
        |           < nx.e0 + LEAST(d.c0, d.c1) THEN nx.x ELSE d.fb END,
        |    CASE WHEN nx.e1 + LEAST(d.c0 + nx.gam9, d.c1)
        |           < nx.e0 + LEAST(d.c0, d.c1) THEN nx.x ELSE d.lb END,
        |    GREATEST(d.mm, (nx.e0 + LEAST(d.c0, d.c1))
        |      - (nx.e1 + LEAST(d.c0 + nx.gam9, d.c1)))
        |  FROM dp d JOIN e nx ON nx.event_type = d.event_type
        |    AND nx.t = d.t + 1),
        |fin AS (SELECT event_type AS fe, MAX(t) AS tmax FROM dp GROUP BY 1)
        |SELECT d.event_type, d.t AS n_days, d.nb AS n_burst_days,
        |  d.fb AS first_burst_x, d.lb AS last_burst_x,
        |  d.mm AS burst_margin9, LEAST(d.c0, d.c1) AS final_cost9
        |FROM dp d JOIN fin f ON d.event_type = f.fe AND d.t = f.tmax
        |ORDER BY d.event_type""".stripMargin,

    // Dickey–Fuller: Δy on (1, y_{t−1}) per event type, DECIMAL(38,0)
    // moment sums, one pinned slope/RSS/t chain, decision on rounded t.
    "q_time_adf" ->
      """WITH daily AS (SELECT event_type,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |lg AS (SELECT event_type, y,
        |    LAG(y) OVER (PARTITION BY event_type ORDER BY day) AS yp
        |  FROM daily),
        |a AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_obs,
        |    CAST(SUM(CAST(yp AS DECIMAL(38,0))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(y - yp AS DECIMAL(38,0))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(yp AS DECIMAL(38,0)) * yp) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(yp AS DECIMAL(38,0)) * (y - yp)) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(y - yp AS DECIMAL(38,0)) * (y - yp)) AS DOUBLE) AS syy
        |  FROM lg WHERE yp IS NOT NULL GROUP BY 1),
        |b AS (SELECT event_type, n_obs,
        |    (CAST(n_obs AS DOUBLE) * sxy - sx * sy)
        |      / (CAST(n_obs AS DOUBLE) * sxx - sx * sx) AS b,
        |    sxy - sx * sy / CAST(n_obs AS DOUBLE) AS sxyc,
        |    syy - sy * sy / CAST(n_obs AS DOUBLE) AS syyc,
        |    sxx - sx * sx / CAST(n_obs AS DOUBLE) AS sxxc
        |  FROM a),
        |r AS (SELECT event_type, n_obs, ROUND(b, 6) AS slope,
        |    ROUND(b / sqrt((syyc - b * sxyc)
        |      / (CAST(n_obs AS DOUBLE) - 2) / sxxc), 6) AS adf_t
        |  FROM b)
        |SELECT event_type, n_obs, slope, adf_t,
        |  adf_t < -2.86 AS stationary_5pct
        |FROM r WHERE n_obs > 2 ORDER BY event_type""".stripMargin,

    // Granger lag-1 over the ordered type-pair grid: calendar-exact
    // alignment, 9 DECIMAL cross-moments, 2×2 normal equations in one
    // pinned chain, NULLIF degenerate guards, decision on rounded F.
    "q_time_granger" ->
      """WITH daily AS (SELECT event_type,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |rows_ AS (SELECT ca.event_type AS ta, eb.event_type AS tb,
        |    eb.y AS y, el.y AS y1, ca.y AS x1
        |  FROM daily eb
        |  JOIN daily el ON eb.event_type = el.event_type
        |    AND el.day = eb.day - 1
        |  JOIN daily ca ON ca.day = eb.day - 1
        |    AND ca.event_type <> eb.event_type),
        |a AS (SELECT ta, tb, CAST(COUNT(*) AS BIGINT) AS n_obs,
        |    CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(y1 AS DECIMAL(38,0))) AS DOUBLE) AS sy1,
        |    CAST(SUM(CAST(x1 AS DECIMAL(38,0))) AS DOUBLE) AS sx1,
        |    CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS DOUBLE) AS syy,
        |    CAST(SUM(CAST(y1 AS DECIMAL(38,0)) * y1) AS DOUBLE) AS sy1y1,
        |    CAST(SUM(CAST(x1 AS DECIMAL(38,0)) * x1) AS DOUBLE) AS sx1x1,
        |    CAST(SUM(CAST(y AS DECIMAL(38,0)) * y1) AS DOUBLE) AS syy1,
        |    CAST(SUM(CAST(y AS DECIMAL(38,0)) * x1) AS DOUBLE) AS syx1,
        |    CAST(SUM(CAST(y1 AS DECIMAL(38,0)) * x1) AS DOUBLE) AS sy1x1
        |  FROM rows_ GROUP BY 1, 2),
        |c AS (SELECT ta, tb, n_obs,
        |    sy1y1 - sy1 * sy1 / CAST(n_obs AS DOUBLE) AS s11,
        |    sx1x1 - sx1 * sx1 / CAST(n_obs AS DOUBLE) AS s22,
        |    sy1x1 - sy1 * sx1 / CAST(n_obs AS DOUBLE) AS s12,
        |    syy1 - sy * sy1 / CAST(n_obs AS DOUBLE) AS t1,
        |    syx1 - sy * sx1 / CAST(n_obs AS DOUBLE) AS t2,
        |    syy - sy * sy / CAST(n_obs AS DOUBLE) AS syyc
        |  FROM a),
        |d AS (SELECT ta, tb, n_obs, s11, t1, t2, syyc,
        |    (t1 * s22 - t2 * s12) / NULLIF(s11 * s22 - s12 * s12, 0.0) AS bb,
        |    (t2 * s11 - t1 * s12) / NULLIF(s11 * s22 - s12 * s12, 0.0) AS cc
        |  FROM c),
        |f AS (SELECT ta, tb, n_obs,
        |    ROUND(((syyc - t1 * t1 / NULLIF(s11, 0.0))
        |      - (syyc - bb * t1 - cc * t2)) * (CAST(n_obs AS DOUBLE) - 3)
        |      / NULLIF(syyc - bb * t1 - cc * t2, 0.0), 6) AS f_stat
        |  FROM d)
        |SELECT ta AS cause, tb AS effect, n_obs, f_stat,
        |  f_stat IS NULL AS degenerate,
        |  f_stat > 3.84 AS granger_5pct
        |FROM f WHERE n_obs > 3 ORDER BY cause, effect""".stripMargin,

    // Jarque–Bera over the q_agg_skew_kurt moment chain: S and K round-6
    // pinned FIRST, JB combines the rounded values, χ²(2) 5% decision.
    "q_agg_jarque_bera" ->
      """WITH li AS (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q FROM lineitem),
        |a AS (SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(q) AS DOUBLE) AS s1, CAST(SUM(q*q) AS DOUBLE) AS s2,
        |  CAST(SUM(q*q*q) AS DOUBLE) AS s3, CAST(SUM(q*q*q*q) AS DOUBLE) AS s4
        |  FROM li GROUP BY 1),
        |m AS (SELECT l_returnflag, n_rows,
        |  s1 / CAST(n_rows AS DOUBLE) AS m1,
        |  s2 / CAST(n_rows AS DOUBLE) AS s2n,
        |  s3 / CAST(n_rows AS DOUBLE) AS s3n,
        |  s4 / CAST(n_rows AS DOUBLE) AS s4n
        |  FROM a),
        |mm AS (SELECT l_returnflag, n_rows,
        |  s2n - m1 * m1 AS m2,
        |  s3n - CAST(3 AS DOUBLE) * m1 * s2n + CAST(2 AS DOUBLE) * m1 * m1 * m1 AS m3,
        |  s4n - CAST(4 AS DOUBLE) * m1 * s3n + CAST(6 AS DOUBLE) * m1 * m1 * s2n
        |      - CAST(3 AS DOUBLE) * m1 * m1 * m1 * m1 AS m4
        |  FROM m),
        |r AS (SELECT l_returnflag, n_rows,
        |  ROUND(m3 / (m2 * sqrt(m2)), 6) AS skewness,
        |  ROUND(m4 / (m2 * m2) - CAST(3 AS DOUBLE), 6) AS kurtosis_excess
        |  FROM mm),
        |jb AS (SELECT l_returnflag, n_rows, skewness, kurtosis_excess,
        |  ROUND(CAST(n_rows AS DOUBLE) / 6.0
        |    * (skewness * skewness + kurtosis_excess * kurtosis_excess / 4.0), 6)
        |    AS jb_stat
        |  FROM r)
        |SELECT l_returnflag, n_rows, skewness, kurtosis_excess, jb_stat,
        |  jb_stat > 5.991465 AS normal_rejected_5pct
        |FROM jb ORDER BY l_returnflag""".stripMargin,

    // Bartlett over the q_agg_levene groups: exact integer moments,
    // round-9 ln terms summed as DECIMAL (the PSI device), C round-9
    // before it divides.
    "q_agg_bartlett" ->
      """WITH v AS (SELECT c_mktsegment AS g,
        |    CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS c FROM customer),
        |grp AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS ng,
        |    CAST(SUM(CAST(c AS HUGEINT)) AS DOUBLE) AS sg,
        |    CAST(SUM(CAST(c AS HUGEINT) * c) AS DOUBLE) AS qg
        |  FROM v GROUP BY 1),
        |t AS (SELECT ng,
        |    CAST(ROUND((CAST(ng AS DOUBLE) - 1.0)
        |      * ((CAST(ng AS DOUBLE) * qg - sg * sg)
        |         / (CAST(ng AS DOUBLE) * (CAST(ng AS DOUBLE) - 1.0))), 6)
        |      AS DECIMAL(28,6)) AS w_s2,
        |    CAST(ROUND((CAST(ng AS DOUBLE) - 1.0)
        |      * ln((CAST(ng AS DOUBLE) * qg - sg * sg)
        |         / (CAST(ng AS DOUBLE) * (CAST(ng AS DOUBLE) - 1.0))), 9)
        |      AS DECIMAL(28,9)) AS w_ln,
        |    CAST(ROUND(1.0 / (CAST(ng AS DOUBLE) - 1.0), 9)
        |      AS DECIMAL(28,9)) AS inv_df
        |  FROM grp),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
        |    CAST(SUM(ng) AS BIGINT) AS n,
        |    CAST(SUM(w_s2) AS DOUBLE) AS sw, CAST(SUM(w_ln) AS DOUBLE) AS sl,
        |    CAST(SUM(inv_df) AS DOUBLE) AS si
        |  FROM t),
        |x AS (SELECT k, n,
        |    sw / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)) AS pooled,
        |    ROUND(1.0 + (si - 1.0 / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)))
        |      / (3.0 * (CAST(k AS DOUBLE) - 1.0)), 9) AS c_factor, sl
        |  FROM tot)
        |SELECT k, n, ROUND(pooled, 6) AS pooled_var, c_factor,
        |  ROUND(((CAST(n AS DOUBLE) - CAST(k AS DOUBLE)) * ROUND(ln(pooled), 9)
        |    - sl) / c_factor, 6) AS t_stat
        |FROM x""".stripMargin,

    // Cohen's d / Hedges' g over the q_agg_ttest ref/cur split: pooled-SD
    // standardized mean difference + small-sample correction, pinned
    // double chain over the exact moment sums.
    "q_agg_cohens_d" ->
      """WITH ev AS (SELECT event_type,
        |    CAST(ROUND(value * 100, 0) AS BIGINT) AS c,
        |    (CAST(CAST(ts AS TIMESTAMP) AS DATE) <= DATE '2024-01-15') AS is_ref
        |  FROM events),
        |a AS (SELECT event_type,
        |    CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
        |    CAST(SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_cur,
        |    CAST(SUM(CASE WHEN is_ref THEN c ELSE 0 END) AS DOUBLE) AS s1,
        |    CAST(SUM(CASE WHEN is_ref THEN c * c ELSE 0 END) AS DOUBLE) AS q1,
        |    CAST(SUM(CASE WHEN NOT is_ref THEN c ELSE 0 END) AS DOUBLE) AS s2,
        |    CAST(SUM(CASE WHEN NOT is_ref THEN c * c ELSE 0 END) AS DOUBLE) AS q2
        |  FROM ev GROUP BY 1
        |  HAVING n_ref > 1 AND n_cur > 1),
        |x AS (SELECT event_type, n_ref, n_cur, s1, s2,
        |    (CAST(n_ref AS DOUBLE) * q1 - s1 * s1)
        |      / (CAST(n_ref AS DOUBLE) * (CAST(n_ref AS DOUBLE) - 1)) AS v1,
        |    (CAST(n_cur AS DOUBLE) * q2 - s2 * s2)
        |      / (CAST(n_cur AS DOUBLE) * (CAST(n_cur AS DOUBLE) - 1)) AS v2
        |  FROM a),
        |y AS (SELECT event_type, n_ref, n_cur,
        |    (s1 / CAST(n_ref AS DOUBLE) - s2 / CAST(n_cur AS DOUBLE))
        |      / sqrt(((CAST(n_ref AS DOUBLE) - 1) * v1
        |              + (CAST(n_cur AS DOUBLE) - 1) * v2)
        |             / (CAST(n_ref AS DOUBLE) + CAST(n_cur AS DOUBLE) - 2)) AS d
        |  FROM x)
        |SELECT event_type, n_ref, n_cur, ROUND(d, 6) AS cohens_d,
        |  ROUND((1.0 - 3.0 / (4.0 * (CAST(n_ref AS DOUBLE)
        |    + CAST(n_cur AS DOUBLE)) - 9.0)) * d, 6) AS hedges_g
        |FROM y ORDER BY event_type""".stripMargin,

    "q_rank_map_mrr" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
         |             label AS qlabel FROM embeddings WHERE vec_id < 10),
         |sc AS (SELECT q.query_id, q.qlabel, e.vec_id, e.label,
         |    ROUND(${cosExpr("e.embedding", "q.qv")}, 6) AS cos_sim
         |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
         |nr AS (SELECT query_id AS qr,
         |    CAST(SUM(CASE WHEN label = qlabel THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_rel
         |  FROM sc GROUP BY 1),
         |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY cos_sim DESC, vec_id ASC) AS pos FROM sc),
         |top AS (SELECT query_id, pos,
         |    CASE WHEN label = qlabel THEN 1 ELSE 0 END AS rel,
         |    SUM(CASE WHEN label = qlabel THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY query_id ORDER BY pos) AS cum_rel
         |  FROM rk WHERE pos <= 10),
         |ap AS (SELECT query_id,
         |    SUM(CASE WHEN rel = 1 THEN CAST(ROUND(CAST(cum_rel AS DOUBLE)
         |        / CAST(pos AS DOUBLE), 9) AS DECIMAL(28,9))
         |      ELSE CAST(0 AS DECIMAL(28,9)) END) AS ap_num,
         |    MIN(CASE WHEN rel = 1 THEN pos END) AS first_rel
         |  FROM top GROUP BY 1)
         |SELECT nr.qr AS query_id, nr.n_rel,
         |  ROUND(CASE WHEN nr.n_rel = 0 THEN 0.0
         |    ELSE CAST(ap.ap_num AS DOUBLE)
         |      / CAST(LEAST(nr.n_rel, 10) AS DOUBLE) END, 6) AS ap10,
         |  ROUND(CASE WHEN ap.first_rel IS NULL THEN 0.0
         |    ELSE 1.0 / CAST(ap.first_rel AS DOUBLE) END, 6) AS rr10
         |FROM nr JOIN ap ON nr.qr = ap.query_id ORDER BY query_id""".stripMargin,

    "q_llm_containment" ->
      """WITH d AS (SELECT doc_id, lang,
        |             list_distinct(list_transform(range(1, length(text)-1),
        |               i -> substr(text, CAST(i AS INT), 3))) AS g3
        |           FROM documents WHERE doc_id % 10 = 0 AND length(text) >= 3),
        |p AS (SELECT d1.lang, d1.doc_id AS doc_a, d2.doc_id AS doc_b,
        |        CAST(len(d1.g3) AS BIGINT) AS na,
        |        CAST(len(list_intersect(d1.g3, d2.g3)) AS DOUBLE)
        |          / len(d1.g3) AS cont
        |      FROM d d1 JOIN d d2
        |        ON d1.lang = d2.lang AND d1.doc_id <> d2.doc_id)
        |SELECT lang, doc_a, doc_b, na, ROUND(cont, 6) AS containment3,
        |  (SELECT CAST(20000 AS BIGINT) - MAX(c)
        |   FROM (SELECT COUNT(*) AS c FROM documents WHERE doc_id % 10 = 0 GROUP BY lang)) AS exact_guard_margin
        |FROM p WHERE cont >= 0.5 ORDER BY lang, doc_a, doc_b""".stripMargin
  )

  private def simhashMd5Sql(nBands: Int, hammingMax: Int): String = {
    val bandBits = 60 / nBands
    val bandMask = (1L << bandBits) - 1
    val bandIds = (0 until nBands).mkString("[", ", ", "]")
    val votes = (0 until 60).map(b =>
      s"SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS v$b").mkString(", ")
    val sigSum = (0 until 60)
      .map(b => s"(CASE WHEN v$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
    s"""WITH d AS (SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS toks
       |           FROM documents WHERE doc_id % 10 = 0
       |             AND len(list_distinct(string_split(text, ' '))) > 0),
       |tok AS (SELECT doc_id, lang, unnest(toks) AS tok FROM d),
       |hh AS (SELECT doc_id, lang,
       |         CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h FROM tok),
       |v AS (SELECT doc_id, lang, $votes FROM hh GROUP BY 1, 2),
       |sig AS (SELECT doc_id, lang, CAST($sigSum AS BIGINT) AS simhash FROM v),
       |banded AS (SELECT doc_id, lang, band_id,
       |  (simhash >> ($bandBits * band_id)) & $bandMask AS bv
       |  FROM sig, UNNEST($bandIds) AS u(band_id)),
       |pairs AS (SELECT DISTINCT a.lang, a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM banded a JOIN banded b ON a.lang = b.lang AND a.band_id = b.band_id
       |    AND a.bv = b.bv AND a.doc_id < b.doc_id)
       |SELECT p.lang, p.doc_a, p.doc_b,
       |  CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INTEGER) AS hamming
       |FROM pairs p JOIN sig sa ON p.doc_a = sa.doc_id
       |             JOIN sig sb ON p.doc_b = sb.doc_id
       |WHERE bit_count(xor(sa.simhash, sb.simhash)) <= $hammingMax
       |ORDER BY p.lang, p.doc_a, p.doc_b""".stripMargin
  }

  // Round 16 (VERDICT r10 lead item): the two operators registered in the
  // round-10 close-out without the new-op recipe, now oracled.
  val round16: Map[String, String] = Map(
    // Per-class P/R/F1: the SAME langid prediction chain as q_text_kappa /
    // q_text_lang_confusion, reduced per TRUE lang. F1 via the
    // one-division identity 2·tp/(support+predicted).
    "q_text_f1" ->
      """WITH tok AS (SELECT doc_id, lang,
        |    unnest(list_distinct(string_split(text, ' '))) AS token
        |  FROM documents),
        |prof AS (SELECT lang AS p_lang, token AS p_tok, COUNT(*) AS freq
        |         FROM tok GROUP BY 1, 2),
        |tot AS (SELECT p_lang, SUM(freq) AS tot FROM prof GROUP BY 1),
        |sf AS (SELECT tk.doc_id, tk.lang, pn.p_lang, SUM(pn.freq) AS sf
        |       FROM tok tk JOIN prof pn ON tk.token = pn.p_tok GROUP BY 1, 2, 3),
        |scored AS (SELECT s.doc_id, s.lang, s.p_lang,
        |             CAST(s.sf AS DOUBLE) / CAST(t.tot AS DOUBLE) AS score
        |           FROM sf s JOIN tot t USING (p_lang)),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |        ORDER BY score DESC, p_lang ASC) AS rn FROM scored),
        |pred AS (SELECT doc_id, lang, p_lang AS pred_lang FROM r WHERE rn = 1),
        |cells AS (SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS c
        |          FROM pred GROUP BY 1, 2),
        |rt AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS support FROM cells GROUP BY 1),
        |ct AS (SELECT pred_lang AS cl, CAST(SUM(c) AS BIGINT) AS pred_cnt
        |       FROM cells GROUP BY 1),
        |dg AS (SELECT lang AS dl, c AS tp0 FROM cells WHERE lang = pred_lang)
        |SELECT rt.lang, rt.support,
        |  CAST(COALESCE(ct.pred_cnt, 0) AS BIGINT) AS predicted,
        |  CAST(COALESCE(dg.tp0, 0) AS BIGINT) AS tp,
        |  ROUND(CASE WHEN COALESCE(ct.pred_cnt, 0) = 0 THEN CAST(0 AS DOUBLE)
        |    ELSE CAST(COALESCE(dg.tp0, 0) AS DOUBLE) / CAST(ct.pred_cnt AS DOUBLE)
        |    END, 6) AS "precision",
        |  ROUND(CAST(COALESCE(dg.tp0, 0) AS DOUBLE)
        |    / CAST(rt.support AS DOUBLE), 6) AS recall,
        |  ROUND(CAST(2 AS DOUBLE) * CAST(COALESCE(dg.tp0, 0) AS DOUBLE)
        |    / CAST(rt.support + COALESCE(ct.pred_cnt, 0) AS DOUBLE), 6) AS f1
        |FROM rt LEFT JOIN ct ON rt.lang = ct.cl LEFT JOIN dg ON rt.lang = dg.dl
        |ORDER BY rt.lang""".stripMargin,

    // Perplexity-decile bucketing: the q_text_unigram_xent CTE chain
    // (round-6 per-doc xent), NTILE(10) over the fully tie-broken
    // (xent, doc_id) per-lang order, decimal-sum bucket mean.
    "q_llm_ppl_bucket" ->
      """WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        |            FROM documents),
        |counts AS (SELECT lang AS ml, tok AS mt, COUNT(*) AS c
        |           FROM tok WHERE doc_id % 10 <> 0 GROUP BY 1, 2),
        |totals AS (SELECT ml, CAST(SUM(c) AS BIGINT) AS tot FROM counts GROUP BY 1),
        |model AS (SELECT counts.ml, mt, CAST(c AS DOUBLE) / tot AS p
        |          FROM counts JOIN totals ON counts.ml = totals.ml),
        |scored AS (SELECT t.doc_id, t.lang,
        |    -ln(COALESCE(m.p, CAST(1 AS DOUBLE) / tt.tot)) AS nll
        |  FROM tok t
        |  JOIN totals tt ON t.lang = tt.ml
        |  LEFT JOIN model m ON t.lang = m.ml AND t.tok = m.mt
        |  WHERE t.doc_id % 10 = 0),
        |x AS (SELECT doc_id, lang, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |      ROUND(CAST(SUM(CAST(ROUND(nll * 1e9, 0) AS BIGINT)) AS DOUBLE)
        |        / CAST(COUNT(*) AS DOUBLE) / 1e9, 6) AS xent
        |      FROM scored GROUP BY 1, 2),
        |b AS (SELECT lang, n_tokens, xent, CAST(NTILE(10) OVER (
        |        PARTITION BY lang ORDER BY xent ASC, doc_id ASC) AS BIGINT)
        |        AS decile FROM x)
        |SELECT lang, decile, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
        |  MIN(xent) AS min_xent, MAX(xent) AS max_xent,
        |  ROUND(CAST(SUM(CAST(xent AS DECIMAL(18,6))) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 6) AS avg_xent
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  )

  /** Round-16 batch 2: behavioral analytics + centrality widening. */
  val round16b: Map[String, String] = Map(
    // Kendall tau-b on the daily (value, count) series: exact integer S
    // and DOUBLED tie terms, one pinned double at the end.
    "q_time_kendall_tau" ->
      """WITH d0 AS (SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS y,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |daily AS (SELECT event_type,
        |    CAST(day - DATE '2024-01-01' AS BIGINT) AS x, y, c FROM d0),
        |sp AS (SELECT a.event_type AS st,
        |    CAST(SUM(CAST(SIGN(CAST(b.y - a.y AS DOUBLE)) AS BIGINT)
        |      * CAST(SIGN(CAST(b.c - a.c AS DOUBLE)) AS BIGINT)) AS BIGINT) AS s_stat
        |  FROM daily a JOIN daily b
        |    ON a.event_type = b.event_type AND a.x < b.x
        |  GROUP BY 1),
        |ty AS (SELECT tt, CAST(SUM(cnt * (cnt - 1)) AS BIGINT) AS t2_y FROM (
        |    SELECT event_type AS tt, y, COUNT(*) AS cnt FROM daily GROUP BY 1, 2)
        |  GROUP BY 1),
        |tc AS (SELECT tt2, CAST(SUM(cnt * (cnt - 1)) AS BIGINT) AS t2_c FROM (
        |    SELECT event_type AS tt2, c, COUNT(*) AS cnt FROM daily GROUP BY 1, 2)
        |  GROUP BY 1),
        |nt AS (SELECT event_type AS nt2, CAST(COUNT(*) AS BIGINT) AS n_days
        |  FROM daily GROUP BY 1)
        |SELECT st AS event_type, n_days, s_stat,
        |  ROUND(CAST(2 AS DOUBLE) * CAST(s_stat AS DOUBLE)
        |    / sqrt(CAST(n_days * (n_days - 1) - t2_y AS DOUBLE)
        |         * CAST(n_days * (n_days - 1) - t2_c AS DOUBLE)), 6) AS tau_b
        |FROM sp JOIN ty ON st = tt JOIN tc ON st = tt2 JOIN nt ON st = nt2
        |WHERE n_days * (n_days - 1) - t2_y > 0
        |  AND n_days * (n_days - 1) - t2_c > 0
        |ORDER BY event_type""".stripMargin,

    // Cohort retention: first-order-month cohorts of 1995, offsets 0..5,
    // exact month index year*12+month.
    "q_agg_cohort_retention" ->
      """WITH first AS (SELECT o_custkey AS ck,
        |    CAST(MIN(year(o_orderdate) * 12 + month(o_orderdate)) AS BIGINT) AS cm
        |  FROM orders GROUP BY 1),
        |coh AS (SELECT ck, cm FROM first
        |        WHERE cm >= 1995 * 12 + 1 AND cm <= 1995 * 12 + 12),
        |sizes AS (SELECT cm, CAST(COUNT(*) AS BIGINT) AS n_cohort
        |          FROM coh GROUP BY 1),
        |act AS (SELECT DISTINCT o_custkey AS ak,
        |    CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS am
        |  FROM orders),
        |cells AS (SELECT coh.cm, act.am - coh.cm AS k,
        |    CAST(COUNT(*) AS BIGINT) AS n_active
        |  FROM coh JOIN act ON coh.ck = act.ak
        |  WHERE act.am - coh.cm BETWEEN 0 AND 5
        |  GROUP BY 1, 2)
        |SELECT CAST((sizes.cm - 1) // 12 AS VARCHAR) || '-'
        |    || lpad(CAST((sizes.cm - 1) % 12 + 1 AS VARCHAR), 2, '0') AS cohort,
        |  cells.k, sizes.n_cohort, cells.n_active,
        |  ROUND(CAST(cells.n_active AS DOUBLE)
        |    / CAST(sizes.n_cohort AS DOUBLE), 6) AS retention
        |FROM sizes JOIN cells ON sizes.cm = cells.cm
        |ORDER BY cohort, k""".stripMargin,

    // Truncated Katz: unrolled 6-step CTE chain, 1e9-scaled per-term
    // rounding mirroring the Spark loop term-for-term.
    "q_graph_katz" -> {
      val steps = (1 to GraphOps.KatzIters).map { i =>
        s"""x$i AS (SELECT ue.a AS node,
           |  CAST(1.0 AS DOUBLE) + CAST(${GraphOps.KatzAlpha} AS DOUBLE)
           |    * (CAST(SUM(CAST(ROUND(p.x * 1e9, 0) AS BIGINT)) AS DOUBLE) / 1e9) AS x
           |  FROM ue JOIN x${i - 1} p ON ue.b = p.node
           |  GROUP BY ue.a)""".stripMargin
      }.mkString(",\n")
      s"""WITH $edgesCte,
         |pp AS MATERIALIZED (SELECT e1.dst AS a, e2.dst AS b
         |       FROM edges e1 JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
         |       GROUP BY 1, 2 HAVING COUNT(*) >= ${GraphOps.TriangleMinCooccur}),
         |ue AS MATERIALIZED (SELECT a, b FROM pp UNION ALL SELECT b, a FROM pp),
         |x0 AS (SELECT DISTINCT a AS node, CAST(1.0 AS DOUBLE) AS x FROM ue),
         |$steps
         |SELECT node AS part_key, ROUND(x, 6) AS katz FROM x${GraphOps.KatzIters}
         |ORDER BY katz DESC, part_key ASC LIMIT 20""".stripMargin
    },

    // Harmonic centrality over the SAME reachability closure as the
    // closeness oracle; 1/d terms via the 1e9-scaled integer device.
    "q_graph_harmonic" ->
      s"""WITH RECURSIVE $edgesCte,
         |pp AS MATERIALIZED (SELECT e1.dst AS a, e2.dst AS b
         |       FROM edges e1 JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
         |       GROUP BY 1, 2 HAVING COUNT(*) >= ${GraphOps.CcMinCooccur}),
         |ue AS MATERIALIZED (SELECT a, b FROM pp UNION ALL SELECT b, a FROM pp),
         |seeds AS (SELECT DISTINCT a FROM ue ORDER BY a LIMIT ${GraphOps.CloseSeeds}),
         |reach(seed, n, d) AS (
         |  SELECT a, a, 0 FROM seeds
         |  UNION
         |  SELECT reach.seed, ue.b, reach.d + 1 FROM reach JOIN ue ON reach.n = ue.a
         |  WHERE reach.d < ${GraphOps.CloseMaxHops}),
         |dm AS (SELECT seed, n, MIN(d) AS d FROM reach GROUP BY 1, 2)
         |SELECT seed, CAST(COUNT(*) AS BIGINT) AS n_reached,
         |  ROUND(CAST(SUM(CAST(ROUND(1e9 / CAST(d AS DOUBLE), 0) AS BIGINT)) AS DOUBLE)
         |    / 1e9, 6) AS harmonic
         |FROM dm WHERE d > 0 GROUP BY 1 ORDER BY seed""".stripMargin
  )

  /** Round-16 batch 3: embedding truncation fidelity, vocabulary
    * growth, spectral centrality, weekly seasonality. */
  val round16c: Map[String, String] = Map(
    "q_embed_mrl" -> {
      val pre = s"embedding[1:${LlmOps.MrlPrefixDims}]"
      s"""WITH p AS (SELECT vec_id, embedding, $pre AS emb16 FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding AS qv, emb16 AS qv16
         |      FROM p WHERE vec_id BETWEEN 20 AND 24),
         |sc AS (SELECT q.query_id, p.vec_id AS neighbor_id,
         |        ROUND(${cosExpr("p.embedding", "q.qv")}, 6) AS cos_full,
         |        ROUND(${cosExpr("p.emb16", "q.qv16")}, 6) AS cos_16
         |      FROM p JOIN q ON p.vec_id <> q.query_id),
         |r AS (SELECT query_id, neighbor_id,
         |        ROW_NUMBER() OVER (PARTITION BY query_id
         |          ORDER BY cos_full DESC, neighbor_id ASC) AS rf,
         |        ROW_NUMBER() OVER (PARTITION BY query_id
         |          ORDER BY cos_16 DESC, neighbor_id ASC) AS rp
         |      FROM sc)
         |SELECT query_id,
         |  CAST(SUM(CASE WHEN rf <= 10 AND rp <= 10 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_overlap,
         |  ROUND(CAST(SUM(CASE WHEN rf <= 10 AND rp <= 10 THEN 1 ELSE 0 END)
         |    AS DOUBLE) / CAST(10 AS DOUBLE), 6) AS recall_at_10
         |FROM r GROUP BY 1 ORDER BY query_id""".stripMargin
    },

    "q_text_heaps_law" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |            FROM documents),
        |tk AS (SELECT doc_id, tok FROM tok WHERE len(tok) > 0),
        |cps AS (SELECT decile, MAX(doc_id) AS cp FROM (
        |    SELECT doc_id, CAST(NTILE(10) OVER (ORDER BY doc_id) AS BIGINT)
        |      AS decile FROM documents) GROUP BY 1),
        |pd AS (SELECT doc_id, COUNT(*) AS c FROM tk GROUP BY 1),
        |fd AS (SELECT tok, MIN(doc_id) AS fd FROM tk GROUP BY 1),
        |nt AS (SELECT cps.decile AS d1, CAST(SUM(pd.c) AS BIGINT) AS n_tokens
        |       FROM pd JOIN cps ON pd.doc_id <= cps.cp GROUP BY 1),
        |nd AS (SELECT cps.decile AS d2, CAST(COUNT(*) AS BIGINT) AS n_distinct
        |       FROM fd JOIN cps ON fd.fd <= cps.cp GROUP BY 1)
        |SELECT cps.decile, cps.cp AS cp_doc, nt.n_tokens, nd.n_distinct,
        |  ROUND(ln(CAST(nd.n_distinct AS DOUBLE))
        |    / ln(CAST(nt.n_tokens AS DOUBLE)), 6) AS heaps_ratio
        |FROM cps JOIN nt ON cps.decile = nt.d1 JOIN nd ON cps.decile = nd.d2
        |ORDER BY cps.decile""".stripMargin,

    "q_graph_eigenvector" -> {
      val steps = (1 to GraphOps.EigIters).map { i =>
        s"""x${i}r AS (SELECT ue.a AS node,
           |  CAST(SUM(CAST(ROUND(p.x * 1e9, 0) AS BIGINT)) AS DOUBLE) / 1e9 AS xr
           |  FROM ue JOIN x${i - 1} p ON ue.b = p.node GROUP BY 1),
           |x$i AS (SELECT node, xr / MAX(xr) OVER () AS x FROM x${i}r)""".stripMargin
      }.mkString(",\n")
      s"""WITH $edgesCte,
         |pp AS MATERIALIZED (SELECT e1.dst AS a, e2.dst AS b
         |       FROM edges e1 JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
         |       GROUP BY 1, 2 HAVING COUNT(*) >= ${GraphOps.TriangleMinCooccur}),
         |ue AS MATERIALIZED (SELECT a, b FROM pp UNION ALL SELECT b, a FROM pp),
         |x0 AS (SELECT DISTINCT a AS node, CAST(1.0 AS DOUBLE) AS x FROM ue),
         |$steps
         |SELECT node AS part_key, ROUND(x, 6) AS eigen FROM x${GraphOps.EigIters}
         |ORDER BY eigen DESC, part_key ASC LIMIT 20""".stripMargin
    },

    "q_time_dow_seasonality" ->
      """WITH d0 AS (SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |daily AS (SELECT event_type,
        |    CAST(((day - DATE '2024-01-01') % 7 + 7) % 7 AS BIGINT) AS dow, y
        |  FROM d0),
        |pd AS (SELECT event_type, dow, CAST(COUNT(*) AS BIGINT) AS n_days,
        |    CAST(SUM(y) AS BIGINT) AS sy FROM daily GROUP BY 1, 2),
        |ov AS (SELECT event_type AS oe, CAST(COUNT(*) AS BIGINT) AS n_all,
        |    CAST(SUM(y) AS BIGINT) AS sa FROM daily GROUP BY 1)
        |SELECT event_type, dow, n_days,
        |  ROUND(CAST(CAST(sy AS DECIMAL(38,0)) * n_all AS DOUBLE)
        |    / CAST(CAST(n_days AS DECIMAL(38,0)) * sa AS DOUBLE), 6)
        |    AS seasonal_idx
        |FROM pd JOIN ov ON event_type = oe
        |ORDER BY event_type, dow""".stripMargin
  )

  /** Round-16 batch 4: AR diagnostics, customer grid, mixing weights. */
  val round16d: Map[String, String] = Map(
    "q_time_pacf" -> {
      val m = StatsOps.PacfLags
      s"""WITH daily AS (SELECT event_type,
         |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
         |    CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
         |  FROM events GROUP BY 1, 2),
         |d AS (SELECT event_type,
         |    CAST(day - DATE '2024-01-01' AS BIGINT) AS x, y FROM daily),
         |st AS (SELECT event_type AS s_t, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(y) AS BIGINT) AS sy FROM d GROUP BY 1),
         |resid AS (SELECT d.event_type, d.x, d.y * st.n - st.sy AS e
         |  FROM d JOIN st ON d.event_type = st.s_t),
         |num AS (SELECT a.event_type, l.lag,
         |    SUM(CAST(a.e AS DECIMAL(38,0)) * b.e) AS nk
         |  FROM resid a
         |  CROSS JOIN (SELECT UNNEST(range(1, ${m + 1})) AS lag) l
         |  JOIN resid b ON a.event_type = b.event_type
         |    AND a.x = b.x + l.lag
         |  GROUP BY 1, 2),
         |den AS (SELECT event_type AS dt,
         |    SUM(CAST(e AS DECIMAL(38,0)) * e) AS d FROM resid GROUP BY 1),
         |rr AS (SELECT num.event_type, num.lag,
         |    CAST(nk AS DOUBLE) / CAST(den.d AS DOUBLE) AS r
         |  FROM num JOIN den ON num.event_type = den.dt),
         |w AS (SELECT event_type,
         |    MAX(CASE WHEN lag = 1 THEN r END) AS r1,
         |    MAX(CASE WHEN lag = 2 THEN r END) AS r2,
         |    MAX(CASE WHEN lag = 3 THEN r END) AS r3
         |  FROM rr GROUP BY 1),
         |p2 AS (SELECT *, (r2 - r1 * r1) / (1.0 - r1 * r1) AS phi22 FROM w),
         |p3 AS (SELECT *, r1 * (1.0 - phi22) AS phi21 FROM p2),
         |f AS (SELECT *,
         |    (r3 - phi21 * r2 - phi22 * r1)
         |      / (1.0 - phi21 * r1 - phi22 * r2) AS phi33 FROM p3)
         |SELECT event_type, CAST(1 AS BIGINT) AS lag,
         |  ROUND(r1, 6) AS acf, ROUND(r1, 6) AS pacf FROM f
         |UNION ALL
         |SELECT event_type, CAST(2 AS BIGINT), ROUND(r2, 6), ROUND(phi22, 6) FROM f
         |UNION ALL
         |SELECT event_type, CAST(3 AS BIGINT), ROUND(r3, 6), ROUND(phi33, 6) FROM f
         |ORDER BY event_type, lag""".stripMargin
    },

    "q_agg_rfm" ->
      """WITH per AS (SELECT o_custkey, MAX(o_orderdate) AS last_order,
        |    CAST(COUNT(*) AS BIGINT) AS freq,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
        |      AS monetary
        |  FROM orders GROUP BY 1),
        |q AS (SELECT o_custkey, freq, monetary,
        |    CAST(NTILE(5) OVER (ORDER BY last_order, o_custkey) AS BIGINT) AS r_q,
        |    CAST(NTILE(5) OVER (ORDER BY freq, o_custkey) AS BIGINT) AS f_q,
        |    CAST(NTILE(5) OVER (ORDER BY monetary, o_custkey) AS BIGINT) AS m_q
        |  FROM per)
        |SELECT r_q, f_q, m_q, CAST(COUNT(*) AS BIGINT) AS n_customers,
        |  CAST(SUM(monetary) AS DOUBLE) AS monetary_sum
        |FROM q GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q_llm_mix_temperature" -> {
      val tau = LlmOps.MixTau
      s"""WITH strata AS (SELECT lang, source,
         |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY 1, 2),
         |wt AS (SELECT *, CAST(ROUND(exp($tau * ln(CAST(n_tokens AS DOUBLE))), 9)
         |    AS DECIMAL(28,9)) AS w FROM strata),
         |tot AS (SELECT SUM(w) AS wsum, CAST(SUM(n_tokens) AS BIGINT) AS ntot
         |        FROM wt)
         |SELECT lang, source, n_tokens,
         |  ROUND(CAST(n_tokens AS DOUBLE) / CAST(ntot AS DOUBLE), 6) AS raw_share,
         |  ROUND(CAST(w AS DOUBLE) / CAST(wsum AS DOUBLE), 6) AS temp_share,
         |  ROUND((CAST(w AS DOUBLE) / CAST(wsum AS DOUBLE))
         |    / (CAST(n_tokens AS DOUBLE) / CAST(ntot AS DOUBLE)), 6) AS boost
         |FROM wt CROSS JOIN tot ORDER BY lang, source""".stripMargin
    }
  )

  /** Round-16 batch 5: embedding outliers, user Markov chain, Pareto. */
  val round16e: Map[String, String] = Map(
    "q_embed_outliers" -> {
      val moments = (1 to 64).map(j =>
        s"CAST(SUM(CAST(ROUND(CAST(embedding[$j] AS DOUBLE) * 1e9, 0) AS BIGINT)) AS DOUBLE)"
          + s" / CAST(COUNT(*) AS DOUBLE) / 1e9 AS m$j").mkString(", ")
      val d2 = (1 to 64).map(j =>
        s"(CAST(embedding[$j] AS DOUBLE) - m$j) * (CAST(embedding[$j] AS DOUBLE) - m$j)")
        .mkString(" + ")
      s"""WITH st AS (SELECT $moments FROM embeddings)
         |SELECT vec_id, ROUND(sqrt($d2), 6) AS centroid_dist
         |FROM embeddings CROSS JOIN st
         |ORDER BY centroid_dist DESC, vec_id ASC LIMIT 20""".stripMargin
    },

    // SQ8 audit: per-dim min/max codebooks from one 128-moment agg,
    // floor(t+0.5) codes (identical IEEE both engines — ROUND's
    // half-tie rule differs), fixed left-assoc 64-term error fold.
    "q_embed_sq8" -> {
      val mm = (1 to 64).map(j =>
        s"MIN(CAST(embedding[$j] AS DOUBLE)) AS mn$j, " +
          s"MAX(CAST(embedding[$j] AS DOUBLE)) AS mx$j").mkString(", ")
      def err(j: Int): String = {
        val x = s"CAST(embedding[$j] AS DOUBLE)"
        val rg = s"(mx$j - mn$j)"
        val recon = s"(mn$j + floor(($x - mn$j) * 255.0 / $rg + 0.5) * $rg / 255.0)"
        s"(CASE WHEN $rg = 0 THEN 0.0 ELSE $x - $recon END)"
      }
      val e2 = (1 to 64).map(j => s"${err(j)} * ${err(j)}").mkString(" + ")
      s"""WITH st AS (SELECT $mm FROM embeddings)
         |SELECT vec_id, ROUND(sqrt($e2), 6) AS recon_err
         |FROM embeddings CROSS JOIN st
         |ORDER BY recon_err DESC, vec_id ASC LIMIT 20""".stripMargin
    },

    "q_time_markov" -> {
      val steps = (1 to StatsOps.MarkovIters).map { i =>
        s"""pi$i AS (SELECT to_type AS state,
           |  CAST(SUM(CAST(ROUND(p.pi * pt.p, 9) AS DECIMAL(28,9))) AS DOUBLE) AS pi
           |  FROM pt JOIN pi${i - 1} p ON pt.from_type = p.state
           |  GROUP BY 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH ev AS (SELECT user_id, event_id, ts, event_type,
         |    LEAD(event_type) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS next_type
         |  FROM events),
         |tr AS (SELECT event_type AS from_type, next_type AS to_type,
         |    CAST(COUNT(*) AS BIGINT) AS n_trans
         |  FROM ev WHERE next_type IS NOT NULL GROUP BY 1, 2),
         |ot AS (SELECT from_type AS of, CAST(SUM(n_trans) AS BIGINT) AS out_tot
         |       FROM tr GROUP BY 1),
         |pt AS (SELECT from_type, to_type, n_trans,
         |    CAST(n_trans AS DOUBLE) / CAST(out_tot AS DOUBLE) AS p
         |  FROM tr JOIN ot ON from_type = of),
         |pi0 AS (SELECT DISTINCT from_type AS state,
         |    CAST(1 AS DOUBLE) / CAST((SELECT COUNT(DISTINCT from_type) FROM pt)
         |      AS DOUBLE) AS pi FROM pt),
         |$steps
         |SELECT pt.from_type, pt.to_type, pt.n_trans, ROUND(pt.p, 6) AS p,
         |  ROUND(COALESCE(f.pi, 0), 6) AS pi_from
         |FROM pt LEFT JOIN pi${StatsOps.MarkovIters} f ON pt.from_type = f.state
         |ORDER BY pt.from_type, pt.to_type""".stripMargin
    },

    "q_agg_basket_lift" ->
      s"""WITH $edgesCte,
         |pc AS (SELECT e1.dst AS a, e2.dst AS b, CAST(COUNT(*) AS BIGINT) AS cnt
         |       FROM edges e1 JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
         |       GROUP BY 1, 2 HAVING COUNT(*) >= ${GraphOps.TriangleMinCooccur}),
         |deg AS (SELECT dst, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY 1),
         |nb AS (SELECT CAST(COUNT(DISTINCT src) AS BIGINT) AS n_baskets FROM edges)
         |SELECT pc.a AS part_a, pc.b AS part_b, pc.cnt AS n_cooccur,
         |  ROUND(CAST(pc.cnt AS DOUBLE) / CAST(nb.n_baskets AS DOUBLE), 6)
         |    AS support,
         |  ROUND(CAST(pc.cnt AS DOUBLE) / CAST(da.d AS DOUBLE), 6) AS confidence,
         |  ROUND(CAST(CAST(pc.cnt AS DECIMAL(38,0)) * nb.n_baskets AS DOUBLE)
         |    / CAST(CAST(da.d AS DECIMAL(38,0)) * db.d AS DOUBLE), 6) AS lift
         |FROM pc JOIN deg da ON pc.a = da.dst JOIN deg db ON pc.b = db.dst
         |CROSS JOIN nb
         |ORDER BY lift DESC, part_a ASC, part_b ASC LIMIT 20""".stripMargin,

    "q_time_xcorr" -> {
      val lags = StatsOps.XcorrLags.mkString("[", ", ", "]")
      s"""WITH daily AS (SELECT event_type,
         |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
         |    CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
         |  FROM events WHERE event_type IN ('click', 'purchase')
         |  GROUP BY 1, 2),
         |c AS (SELECT day AS cd, y AS x FROM daily WHERE event_type = 'click'),
         |p AS (SELECT day AS pd, y AS yv FROM daily WHERE event_type = 'purchase'),
         |l AS (SELECT UNNEST($lags) AS lag),
         |pr AS (SELECT l.lag, c.x, p.yv
         |  FROM p CROSS JOIN l JOIN c ON c.cd = p.pd - CAST(l.lag AS INTEGER)),
         |a AS (SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |    CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
         |    CAST(SUM(CAST(yv AS DECIMAL(38,0))) AS DOUBLE) AS sy,
         |    CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DOUBLE) AS sxx,
         |    CAST(SUM(CAST(yv AS DECIMAL(38,0)) * yv) AS DOUBLE) AS syy,
         |    CAST(SUM(CAST(x AS DECIMAL(38,0)) * yv) AS DOUBLE) AS sxy
         |  FROM pr GROUP BY 1)
         |SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
         |  ROUND((CAST(n_pairs AS DOUBLE) * sxy - sx * sy)
         |    / (sqrt(CAST(n_pairs AS DOUBLE) * sxx - sx * sx)
         |      * sqrt(CAST(n_pairs AS DOUBLE) * syy - sy * sy)), 6) AS xcorr
         |FROM a ORDER BY lag""".stripMargin
    },

    // Same daily-cents series + lag-window assembly as the Spark
    // operator; U² = n·Σd²/(n·Σy²−(Σy)²) over the t≥2 rows with the
    // xcorr DECIMAL-widen + pinned-double-division conventions.
    "q_time_theil_u" ->
      """WITH daily AS (SELECT event_type,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |lg AS (SELECT event_type, y,
        |    LAG(y) OVER (PARTITION BY event_type ORDER BY day) AS yp
        |  FROM daily),
        |a AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_diffs,
        |    CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS DOUBLE) AS syy,
        |    CAST(SUM(CAST(y - yp AS DECIMAL(38,0)) * (y - yp)) AS DOUBLE) AS sdd
        |  FROM lg WHERE yp IS NOT NULL GROUP BY 1)
        |SELECT event_type, n_diffs,
        |  ROUND(sqrt(CAST(n_diffs AS DOUBLE) * sdd
        |    / NULLIF(CAST(n_diffs AS DOUBLE) * syy - sy * sy, 0)), 6) AS theil_u
        |FROM a ORDER BY event_type""".stripMargin,

    // R/S Hurst: per block size one exact m·Z cumulative-deviation
    // chain + block moment aggs mirroring the Spark legs term-for-term;
    // the OLS slope runs on the <=3 (ln m, ln mean R/S) points with
    // round-9 DECIMAL sums.
    "q_time_hurst" -> {
      val legs = StatsOps.HurstBlocks.map { m =>
        s"""b$m AS (SELECT t, y, (t - 1) // $m AS blk,
           |    t - ((t - 1) // $m) * $m AS i FROM rn),
           |s$m AS (SELECT blk AS bb, CAST(COUNT(*) AS BIGINT) AS cnt,
           |    CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
           |    CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS syy
           |  FROM b$m GROUP BY 1 HAVING COUNT(*) = $m),
           |z$m AS (SELECT b.blk, s.sy, s.syy,
           |    CAST($m AS DECIMAL(38,0))
           |      * SUM(CAST(b.y AS DECIMAL(38,0)))
           |          OVER (PARTITION BY b.blk ORDER BY b.t)
           |      - CAST(b.i AS DECIMAL(38,0)) * s.sy AS mz
           |  FROM b$m b JOIN s$m s ON b.blk = s.bb),
           |r$m AS (SELECT blk,
           |    CAST(MAX(mz) - MIN(mz) AS DOUBLE) AS rm,
           |    CAST($m AS DOUBLE) * CAST(syy AS DOUBLE)
           |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS den
           |  FROM z$m GROUP BY blk, sy, syy),
           |leg$m AS (SELECT CAST($m AS BIGINT) AS block_m,
           |    CAST(COUNT(*) AS BIGINT) AS n_blocks,
           |    CAST(SUM(CAST(ROUND(rm / sqrt(den), 9) AS DECIMAL(28,9)))
           |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS rs_mean
           |  FROM r$m WHERE den > 0)""".stripMargin
      }.mkString(",\n")
      val union = StatsOps.HurstBlocks
        .map(m => s"SELECT * FROM leg$m").mkString(" UNION ALL ")
      s"""WITH daily AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
         |    CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
         |  FROM events GROUP BY 1),
         |rn AS (SELECT y, ROW_NUMBER() OVER (ORDER BY day) AS t FROM daily),
         |$legs,
         |xy AS (SELECT block_m, n_blocks, rs_mean,
         |    ln(CAST(block_m AS DOUBLE)) AS x, ln(rs_mean) AS y
         |  FROM ($union) WHERE n_blocks > 0),
         |sl AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
         |    CAST(SUM(CAST(ROUND(x, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sx,
         |    CAST(SUM(CAST(ROUND(y, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sy,
         |    CAST(SUM(CAST(ROUND(x * y, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sxy,
         |    CAST(SUM(CAST(ROUND(x * x, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sxx
         |  FROM xy)
         |SELECT block_m, n_blocks, ROUND(rs_mean, 6) AS rs_mean,
         |  ROUND((CAST(k AS DOUBLE) * sxy - sx * sy)
         |    / NULLIF(CAST(k AS DOUBLE) * sxx - sx * sx, 0), 6) AS hurst
         |FROM xy CROSS JOIN sl ORDER BY block_m""".stripMargin
    },

    "q_agg_survival_curve" ->
      """WITH g AS (SELECT o_custkey, o_orderkey, o_orderdate,
        |    LEAD(o_orderdate) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS next_date
        |  FROM orders),
        |gw AS (SELECT CAST(CAST(next_date AS DATE) - CAST(o_orderdate AS DATE)
        |    AS BIGINT) // 7 AS gap_week
        |  FROM g WHERE next_date IS NOT NULL),
        |h AS (SELECT gap_week, CAST(COUNT(*) AS BIGINT) AS n_gaps
        |      FROM gw GROUP BY 1)
        |SELECT gap_week, n_gaps,
        |  ROUND(CAST(SUM(n_gaps) OVER (ORDER BY gap_week
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS DOUBLE)
        |    / CAST(SUM(n_gaps) OVER () AS DOUBLE), 6) AS survival
        |FROM h ORDER BY gap_week""".stripMargin,

    "q_agg_new_vs_returning" ->
      """WITH f AS (SELECT o_custkey AS ck,
        |    CAST(MIN(year(o_orderdate) * 12 + month(o_orderdate)) AS BIGINT) AS fm
        |  FROM orders GROUP BY 1),
        |om AS (SELECT o.o_custkey,
        |    CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate) AS BIGINT) AS m,
        |    f.fm
        |  FROM orders o JOIN f ON o.o_custkey = f.ck),
        |g AS (SELECT m, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |    CAST(COUNT(DISTINCT CASE WHEN m = fm THEN o_custkey END) AS BIGINT)
        |      AS n_new_cust,
        |    CAST(SUM(CASE WHEN m = fm THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_orders_new,
        |    CAST(SUM(CASE WHEN m <> fm THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_orders_returning
        |  FROM om GROUP BY 1)
        |SELECT CAST((m - 1) // 12 AS VARCHAR) || '-'
        |    || lpad(CAST((m - 1) % 12 + 1 AS VARCHAR), 2, '0') AS month,
        |  n_orders, n_new_cust, n_orders_new, n_orders_returning,
        |  ROUND(CAST(n_orders_returning AS DOUBLE)
        |    / CAST(n_orders AS DOUBLE), 6) AS returning_share
        |FROM g ORDER BY month""".stripMargin,

    "q_graph_knn_degree" ->
      s"""WITH $edgesCte,
         |pp AS MATERIALIZED (SELECT e1.dst AS a, e2.dst AS b
         |       FROM edges e1 JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
         |       GROUP BY 1, 2 HAVING COUNT(*) >= ${GraphOps.TriangleMinCooccur}),
         |ue AS MATERIALIZED (SELECT a, b FROM pp UNION ALL SELECT b, a FROM pp),
         |deg AS (SELECT a AS n, CAST(COUNT(*) AS BIGINT) AS d FROM ue GROUP BY 1),
         |arcs AS (SELECT ue.a, da.d AS dx, db.d AS dy
         |  FROM ue JOIN deg da ON ue.a = da.n JOIN deg db ON ue.b = db.n)
         |SELECT dx AS degree, CAST(COUNT(DISTINCT a) AS BIGINT) AS n_nodes,
         |  ROUND(CAST(SUM(CAST(dy AS DECIMAL(38,0))) AS DOUBLE)
         |    / CAST(COUNT(*) AS DOUBLE), 6) AS avg_nbr_degree
         |FROM arcs GROUP BY 1 ORDER BY degree""".stripMargin,

    "q_agg_pareto" ->
      """WITH per AS (SELECT o_custkey,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
        |      AS spend
        |  FROM orders GROUP BY 1),
        |d AS (SELECT spend, CAST(NTILE(10) OVER (
        |    ORDER BY spend DESC, o_custkey) AS BIGINT) AS decile FROM per),
        |bd AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_customers,
        |    CAST(SUM(spend) AS DECIMAL(18,2)) AS rev FROM d GROUP BY 1),
        |c AS (SELECT decile, n_customers, rev,
        |    CAST(SUM(rev) OVER (ORDER BY decile
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS DECIMAL(18,2)) AS cum_rev,
        |    CAST(SUM(rev) OVER () AS DECIMAL(18,2)) AS tot
        |  FROM bd)
        |SELECT decile, n_customers, CAST(rev AS DOUBLE) AS decile_revenue,
        |  ROUND(CAST(cum_rev AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS cum_share
        |FROM c ORDER BY decile""".stripMargin
  )

  /** Round-17: weighted traversal tier (SSSP) + multi-probe IVF-PQ. */
  val round17: Map[String, String] = Map(
    // Bounded Bellman-Ford, SsspMaxRounds relaxation rounds unrolled as
    // a min-aggregation CTE chain (recursive CTEs can't carry the
    // per-node MIN). Self-loop device: uews carries w=0 self-loops so
    // every level references its predecessor exactly ONCE — a chain
    // level referenced twice is re-inlined exponentially by DuckDB
    // (the q_graph_hits lesson). Integer weights → exact distances;
    // the Spark frontier loop computes the identical d_K (frontier
    // pruning provably preserves per-round values).
    "q_graph_sssp" -> {
      // every chain level is MATERIALIZED: DuckDB's optimizer inlines
      // an un-materialized 30-deep min-agg chain into a plan whose
      // optimization time grows super-linearly (probed: 14 levels
      // 0.5 s, 18 levels 1.8 s, 30 levels >12 min; with MATERIALIZED
      // the full 30-level chain runs in 0.4 s)
      val steps = (1 to GraphOps.SsspMaxRounds).map { i =>
        s"""d$i AS MATERIALIZED (SELECT u.b AS node, MIN(p.dist + u.w) AS dist
           |  FROM d${i - 1} p JOIN uews u ON p.node = u.a GROUP BY 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH $edgesCte,
         |pp AS (SELECT e1.dst AS a, e2.dst AS b, CAST(COUNT(*) AS BIGINT) AS w
         |       FROM edges e1 JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
         |       GROUP BY 1, 2 HAVING COUNT(*) >= ${GraphOps.CcMinCooccur}),
         |uew AS (SELECT a, b, w FROM pp UNION ALL SELECT b, a, w FROM pp),
         |uews AS MATERIALIZED (SELECT a, b, w FROM uew
         |  UNION ALL SELECT DISTINCT a, a AS b, CAST(0 AS BIGINT) AS w FROM uew),
         |d0 AS (SELECT MIN(a) AS node, CAST(0 AS BIGINT) AS dist FROM uews
         |  HAVING MIN(a) IS NOT NULL),
         |$steps
         |SELECT node AS part_key, dist FROM d${GraphOps.SsspMaxRounds}
         |ORDER BY dist ASC, part_key ASC LIMIT 20""".stripMargin
    },

    // Yule-Walker AR(2): the q_time_autocorr exact-moment Pearson per
    // lag 1/2, then the closed form as one pinned double chain.
    "q_time_ar2" ->
      """WITH daily AS (SELECT event_type,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |lags AS (SELECT UNNEST([1, 2]) AS lag),
        |pairs AS (SELECT d.event_type, l.lag, d.c AS y, p.c AS x
        |  FROM daily d CROSS JOIN lags l
        |  JOIN daily p ON d.event_type = p.event_type AND d.day = p.day + l.lag),
        |a AS (SELECT event_type, lag, COUNT(*) AS n_pairs,
        |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
        |    CAST(SUM(x*x) AS DOUBLE) AS sxx, CAST(SUM(y*y) AS DOUBLE) AS syy,
        |    CAST(SUM(x*y) AS DOUBLE) AS sxy
        |  FROM pairs GROUP BY 1, 2),
        |r AS (SELECT event_type, lag, n_pairs,
        |    (CAST(n_pairs AS DOUBLE) * sxy - sx * sy)
        |      / (sqrt(CAST(n_pairs AS DOUBLE) * sxx - sx * sx)
        |         * sqrt(CAST(n_pairs AS DOUBLE) * syy - sy * sy)) AS r
        |  FROM a),
        |w AS (SELECT a.event_type, a.n_pairs AS n1, a.r AS r1, b.r AS r2
        |  FROM r a JOIN r b ON a.event_type = b.event_type
        |    AND a.lag = 1 AND b.lag = 2)
        |SELECT event_type, CAST(n1 AS BIGINT) AS n1,
        |  ROUND(r1, 6) AS r1, ROUND(r2, 6) AS r2,
        |  ROUND(r1 * (1 - r2) / (1 - r1 * r1), 6) AS phi1,
        |  ROUND((r2 - r1 * r1) / (1 - r1 * r1), 6) AS phi2
        |FROM w ORDER BY event_type""".stripMargin,

    // Weighted multi-source closeness: the q_graph_sssp bounded
    // min-agg relaxation chain with a seed column (self-loop device
    // keeps each level referenced exactly once), aggregated to
    // per-seed reach/Σdist/ecc.
    "q_graph_closeness_w" -> {
      val steps = (1 to GraphOps.SsspMaxRounds).map { i =>
        s"""d$i AS MATERIALIZED (SELECT p.seed, u.b AS node, MIN(p.dist + u.w) AS dist
           |  FROM d${i - 1} p JOIN uews u ON p.node = u.a GROUP BY 1, 2)""".stripMargin
      }.mkString(",\n")
      s"""WITH $edgesCte,
         |pp AS (SELECT e1.dst AS a, e2.dst AS b, CAST(COUNT(*) AS BIGINT) AS w
         |       FROM edges e1 JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
         |       GROUP BY 1, 2 HAVING COUNT(*) >= ${GraphOps.CcMinCooccur}),
         |uew AS (SELECT a, b, w FROM pp UNION ALL SELECT b, a, w FROM pp),
         |uews AS MATERIALIZED (SELECT a, b, w FROM uew
         |  UNION ALL SELECT DISTINCT a, a AS b, CAST(0 AS BIGINT) AS w FROM uew),
         |seeds AS (SELECT DISTINCT a FROM uews ORDER BY a
         |          LIMIT ${GraphOps.CloseSeeds}),
         |d0 AS (SELECT a AS seed, a AS node, CAST(0 AS BIGINT) AS dist FROM seeds),
         |$steps
         |SELECT seed, CAST(COUNT(*) AS BIGINT) AS n_reached,
         |  CAST(SUM(dist) AS BIGINT) AS sum_dist,
         |  CAST(MAX(dist) AS BIGINT) AS ecc_w,
         |  CASE WHEN SUM(dist) > 0
         |    THEN CAST(COUNT(*) - 1 AS DOUBLE) / CAST(SUM(dist) AS DOUBLE)
         |    ELSE CAST(0 AS DOUBLE) END AS closeness_w
         |FROM d${GraphOps.SsspMaxRounds} GROUP BY seed ORDER BY seed""".stripMargin
    },

    // Weighted harmonic: the same multi-source relaxation chain, with
    // the q_graph_harmonic 1e9-reciprocal device over weighted dists.
    "q_graph_harmonic_w" -> {
      val steps = (1 to GraphOps.SsspMaxRounds).map { i =>
        s"""d$i AS MATERIALIZED (SELECT p.seed, u.b AS node, MIN(p.dist + u.w) AS dist
           |  FROM d${i - 1} p JOIN uews u ON p.node = u.a GROUP BY 1, 2)""".stripMargin
      }.mkString(",\n")
      s"""WITH $edgesCte,
         |pp AS (SELECT e1.dst AS a, e2.dst AS b, CAST(COUNT(*) AS BIGINT) AS w
         |       FROM edges e1 JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
         |       GROUP BY 1, 2 HAVING COUNT(*) >= ${GraphOps.CcMinCooccur}),
         |uew AS (SELECT a, b, w FROM pp UNION ALL SELECT b, a, w FROM pp),
         |uews AS MATERIALIZED (SELECT a, b, w FROM uew
         |  UNION ALL SELECT DISTINCT a, a AS b, CAST(0 AS BIGINT) AS w FROM uew),
         |seeds AS (SELECT DISTINCT a FROM uews ORDER BY a
         |          LIMIT ${GraphOps.CloseSeeds}),
         |d0 AS (SELECT a AS seed, a AS node, CAST(0 AS BIGINT) AS dist FROM seeds),
         |$steps
         |SELECT seed, CAST(COUNT(*) AS BIGINT) AS n_reached,
         |  ROUND(CAST(SUM(CAST(ROUND(1e9 / CAST(dist AS DOUBLE), 0) AS BIGINT)) AS DOUBLE)
         |    / 1e9, 6) AS harmonic_w
         |FROM d${GraphOps.SsspMaxRounds} WHERE dist > 0
         |GROUP BY seed ORDER BY seed""".stripMargin
    },

    // Borůvka MSF: rounds unrolled, each a per-component min-edge
    // selection (canonical (w, least, greatest) order — the strict
    // total order that makes the forest unique and cycle-free) plus a
    // RECURSIVE reach-closure merge over the component graph (the
    // q_graph_cc device — legal per round because the contracted graph
    // is one node per component). Converged rounds are no-ops, so the
    // fixed MstMaxRounds unroll equals Spark's converging loop.
    "q_graph_mst" -> {
      val rounds = (1 to GraphOps.MstMaxRounds).map { k =>
        val p = k - 1
        s"""sel$k AS MATERIALIZED (SELECT DISTINCT u, v, w FROM (
           |  SELECT la.lbl AS comp, e.w, LEAST(e.a, e.b) AS u, GREATEST(e.a, e.b) AS v,
           |    ROW_NUMBER() OVER (PARTITION BY la.lbl
           |      ORDER BY e.w, LEAST(e.a, e.b), GREATEST(e.a, e.b)) AS rn
           |  FROM uec e JOIN l$p la ON e.a = la.node JOIN l$p lb ON e.b = lb.node
           |  WHERE la.lbl <> lb.lbl) WHERE rn = 1),
           |ce$k AS MATERIALIZED (SELECT lu.lbl AS x, lv.lbl AS y
           |  FROM sel$k s JOIN l$p lu ON s.u = lu.node JOIN l$p lv ON s.v = lv.node
           |  UNION ALL SELECT lv.lbl AS x, lu.lbl AS y
           |  FROM sel$k s JOIN l$p lu ON s.u = lu.node JOIN l$p lv ON s.v = lv.node),
           |reach$k AS (SELECT x AS n, x AS r FROM ce$k
           |  UNION SELECT reach$k.n, ce$k.y FROM reach$k JOIN ce$k ON reach$k.r = ce$k.x),
           |g$k AS MATERIALIZED (SELECT n, MIN(r) AS g FROM reach$k GROUP BY n),
           |l$k AS MATERIALIZED (SELECT l.node, COALESCE(g.g, l.lbl) AS lbl
           |  FROM l$p l LEFT JOIN g$k g ON l.lbl = g.n)""".stripMargin
      }.mkString(",\n")
      val msfUnion = (1 to GraphOps.MstMaxRounds)
        .map(k => s"SELECT u, v, w FROM sel$k").mkString("\n  UNION ALL ")
      val R = GraphOps.MstMaxRounds
      s"""WITH RECURSIVE $edgesCte,
         |pp AS (SELECT e1.dst AS a, e2.dst AS b, CAST(COUNT(*) AS BIGINT) AS w
         |       FROM edges e1 JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
         |       GROUP BY 1, 2 HAVING COUNT(*) >= ${GraphOps.CcMinCooccur}),
         |uec AS MATERIALIZED (SELECT a, b, w FROM pp
         |  UNION ALL SELECT b AS a, a AS b, w FROM pp),
         |l0 AS MATERIALIZED (SELECT DISTINCT a AS node, a AS lbl FROM uec),
         |$rounds,
         |msf AS MATERIALIZED ($msfUnion),
         |nn AS (SELECT lbl, CAST(COUNT(*) AS BIGINT) AS n_nodes FROM l$R GROUP BY 1),
         |me AS (SELECT l.lbl, CAST(COUNT(*) AS BIGINT) AS n_edges,
         |    CAST(SUM(m.w) AS BIGINT) AS total_weight
         |  FROM msf m JOIN l$R l ON m.u = l.node GROUP BY 1)
         |SELECT me.lbl AS component, nn.n_nodes, me.n_edges, me.total_weight
         |FROM me JOIN nn ON me.lbl = nn.lbl
         |ORDER BY total_weight DESC, component ASC LIMIT 20""".stripMargin
    },

    // Weighted PageRank: the q_graph_pagerank unrolled chain with the
    // multiplicity-weighted transition r·w/W in the numerator — the
    // double product r * w / wt * 1e9 is the same left-assoc chain in
    // both engines, then the 1e9-scaled BIGINT exact-sum device.
    "q_graph_pagerank_w" -> {
      val steps = (1 to 10).map { i =>
        s"""r$i AS (SELECT u.dst AS node,
           |  CAST(0.15 AS DOUBLE) + CAST(0.85 AS DOUBLE)
           |    * (CAST(SUM(CAST(ROUND(p.r * u.w / u.wt * 1e9, 0) AS BIGINT)) AS DOUBLE) / 1e9) AS r
           |  FROM u JOIN r${i - 1} p ON u.src = p.node
           |  GROUP BY u.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH we AS (SELECT o_custkey * 2 AS src, l_partkey * 2 + 1 AS dst,
         |    CAST(COUNT(*) AS BIGINT) AS w
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey GROUP BY 1, 2),
         |sym AS (SELECT src, dst, w FROM we
         |  UNION ALL SELECT dst AS src, src AS dst, w FROM we),
         |ws AS (SELECT src AS n, CAST(SUM(w) AS BIGINT) AS wt FROM sym GROUP BY 1),
         |u AS MATERIALIZED (SELECT sym.src, sym.dst, sym.w, ws.wt
         |  FROM sym JOIN ws ON sym.src = ws.n),
         |r0 AS (SELECT n AS node, CAST(1.0 AS DOUBLE) AS r FROM ws),
         |$steps
         |SELECT (node - 1) // 2 AS part_key, ROUND(r, 6) AS rank
         |FROM r10 WHERE node % 2 = 1
         |ORDER BY rank DESC, part_key ASC LIMIT 20""".stripMargin
    },

    // Weighted PPR: the q_graph_ppr unrolled chain with the
    // multiplicity-weighted transition in the numerator; same seed /
    // teleport / 1e9-scaled BIGINT device.
    "q_graph_ppr_w" -> {
      val steps = (1 to GraphOps.PprIters).map { i =>
        s"""r$i AS (SELECT node, SUM(r) AS r FROM (
           |  SELECT u.dst AS node, CAST(0.85 AS DOUBLE)
           |    * (CAST(SUM(CAST(ROUND(p.r * u.w / u.wt * 1e9, 0) AS BIGINT)) AS DOUBLE) / 1e9) AS r
           |  FROM u JOIN r${i - 1} p ON u.src = p.node
           |  GROUP BY u.dst
           |  UNION ALL SELECT sn AS node, CAST(0.15 AS DOUBLE) FROM seed)
           |GROUP BY node)""".stripMargin
      }.mkString(",\n")
      s"""WITH we AS (SELECT o_custkey * 2 AS src, l_partkey * 2 + 1 AS dst,
         |    CAST(COUNT(*) AS BIGINT) AS w
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey GROUP BY 1, 2),
         |sym AS (SELECT src, dst, w FROM we
         |  UNION ALL SELECT dst AS src, src AS dst, w FROM we),
         |ws AS MATERIALIZED (SELECT src AS n, CAST(SUM(w) AS BIGINT) AS wt
         |  FROM sym GROUP BY 1),
         |u AS MATERIALIZED (SELECT sym.src, sym.dst, sym.w, ws.wt
         |  FROM sym JOIN ws ON sym.src = ws.n),
         |seed AS MATERIALIZED (SELECT MIN(n) AS sn FROM ws WHERE n % 2 = 1),
         |r0 AS (SELECT sn AS node, CAST(1.0 AS DOUBLE) AS r FROM seed),
         |$steps
         |SELECT (node - 1) // 2 AS part_key, ROUND(r, 6) AS rank
         |FROM r${GraphOps.PprIters} WHERE node % 2 = 1 AND ROUND(r, 6) > 0
         |ORDER BY rank DESC, part_key ASC LIMIT 20""".stripMargin
    },

    // Multi-probe IVF-PQ: the ivfpq residual/codebook/codes chain, a
    // per-(query, probed-cell) residual LUT (the centroid cancels, so
    // ADC approximates true L2² in every probed cell), plus an exact
    // L2² re-rank audit of the same candidates; both legs' recall@3 vs
    // the exact full-corpus L2² top-3. The exact L2² is the explicit
    // 64-term left-assoc chain — bit-equal to Spark's aggregate() fold;
    // ADC terms go round-9 → DECIMAL (order-blind sum).
    "q_llm_ann_ivfpq_nprobe" -> {
      val rd2terms = (1 to 8).map(i =>
        s"(xv[$i] - cv2[$i]) * (xv[$i] - cv2[$i])").mkString(" + ")
      def l2chain(a: String, b: String): String = (1 to 64).map(i =>
        s"(CAST($a[$i] AS DOUBLE) - CAST($b[$i] AS DOUBLE)) * " +
          s"(CAST($a[$i] AS DOUBLE) - CAST($b[$i] AS DOUBLE))").mkString(" + ")
      s"""WITH $ivfAssignedCtes,
         |qs AS (SELECT vid AS query_id, dv AS qv FROM assigned
         |       WHERE vid BETWEEN 20 AND 24),
         |qc AS (SELECT q.query_id, c.cid, c.cv,
         |         ROUND(${cosExpr("q.qv", "c.cv")}, 6) AS ccos
         |       FROM qs q CROSS JOIN cents c),
         |qcells AS (SELECT query_id AS cq, cid AS ccid, cv AS ccv, cell_rank
         |  FROM (SELECT query_id, cid, cv, ROW_NUMBER() OVER (
         |          PARTITION BY query_id ORDER BY ccos DESC, cid ASC) AS cell_rank
         |        FROM qc)
         |  WHERE cell_rank <= ${LlmOps.NProbes.max}),
         |res AS (SELECT a.vid, a.cid,
         |    list_transform(range(1, 65),
         |      i -> CAST(a.dv[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE)) AS rv
         |  FROM assigned a JOIN cents c ON a.cid = c.cid),
         |s AS (SELECT vid, m, rv[m*8 + 1 : m*8 + 8] AS xv
         |  FROM res, UNNEST(range(0, 8)) AS t(m)),
         |cb AS MATERIALIZED (SELECT vid AS j, m AS cm, xv AS cv2 FROM s, nl
         |  WHERE vid BETWEEN nl.nlist AND nl.nlist + 15),
         |d2t AS (SELECT s.vid, s.m, cb.j, $rd2terms AS d2
         |  FROM s JOIN cb ON s.m = cb.cm),
         |codes AS (SELECT vid AS nid, m AS nm, j AS code FROM (
         |  SELECT vid, m, j, ROW_NUMBER() OVER (PARTITION BY vid, m
         |    ORDER BY d2, j) AS rn FROM d2t) WHERE rn = 1),
         |qres AS (SELECT k.cq AS query_id, k.ccid, k.cell_rank,
         |    list_transform(range(1, 65),
         |      i -> CAST(q.qv[i] AS DOUBLE) - CAST(k.ccv[i] AS DOUBLE)) AS rv
         |  FROM qcells k JOIN qs q ON k.cq = q.query_id),
         |qsub AS (SELECT query_id, ccid, cell_rank, m, rv[m*8 + 1 : m*8 + 8] AS xv
         |  FROM qres, UNNEST(range(0, 8)) AS t(m)),
         |qlut AS (SELECT u.query_id AS lq, u.ccid AS lcell, u.m AS lm, cb.j AS lj,
         |    CAST(round($rd2terms, 9) AS DECIMAL(20,9)) AS qd2
         |  FROM qsub u JOIN cb ON u.m = cb.cm),
         |cand AS (SELECT k.cq AS query_id, a.vid AS cvid, a.cid AS ncid,
         |    k.cell_rank, a.dv AS nv
         |  FROM assigned a JOIN qcells k ON a.cid = k.ccid AND a.vid <> k.cq),
         |candl2 AS MATERIALIZED (SELECT c.query_id, c.cvid, c.ncid, c.cell_rank,
         |    ROUND(${l2chain("q.qv", "c.nv")}, 6) AS l2r
         |  FROM cand c JOIN qs q ON c.query_id = q.query_id),
         |adc AS (SELECT c.query_id, c.cvid, c.cell_rank,
         |    CAST(SUM(l.qd2) AS DOUBLE) AS a
         |  FROM candl2 c JOIN codes k ON k.nid = c.cvid
         |  JOIN qlut l ON l.lq = c.query_id AND l.lcell = c.ncid
         |    AND l.lm = k.nm AND l.lj = k.code
         |  GROUP BY 1, 2, 3),
         |nps AS (SELECT UNNEST(${LlmOps.NProbes.mkString("[", ", ", "]")}) AS np),
         |at AS (SELECT np, query_id, cvid FROM (
         |    SELECT n.np, a.query_id, a.cvid,
         |      ROW_NUMBER() OVER (PARTITION BY n.np, a.query_id
         |        ORDER BY round(a.a, 6) ASC, a.cvid ASC) AS rnk
         |    FROM adc a JOIN nps n ON a.cell_rank <= n.np) WHERE rnk <= 3),
         |rr AS (SELECT np, query_id, cvid FROM (
         |    SELECT n.np, c.query_id, c.cvid,
         |      ROW_NUMBER() OVER (PARTITION BY n.np, c.query_id
         |        ORDER BY c.l2r ASC, c.cvid ASC) AS rnk
         |    FROM candl2 c JOIN nps n ON c.cell_rank <= n.np) WHERE rnk <= 3),
         |ex AS (SELECT query_id, neighbor_id FROM (
         |    SELECT q.query_id, d.vid AS neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY q.query_id
         |        ORDER BY ROUND(${l2chain("q.qv", "d.nv")}, 6) ASC, d.vid ASC) AS rnk
         |    FROM qs q JOIN (SELECT vid, dv AS nv FROM data) d
         |      ON q.query_id <> d.vid) WHERE rnk <= 3),
         |agg AS (SELECT n.np,
         |    CAST(COUNT(DISTINCT e.query_id) AS BIGINT) AS n_queries,
         |    CAST(SUM(CASE WHEN a.cvid IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_hits_adc,
         |    CAST(SUM(CASE WHEN r.cvid IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_hits_rerank
         |  FROM ex e CROSS JOIN nps n
         |  LEFT JOIN at a ON a.np = n.np AND a.query_id = e.query_id
         |    AND a.cvid = e.neighbor_id
         |  LEFT JOIN rr r ON r.np = n.np AND r.query_id = e.query_id
         |    AND r.cvid = e.neighbor_id
         |  GROUP BY 1)
         |SELECT CAST(np AS BIGINT) AS nprobe, n_queries, n_hits_adc,
         |  ROUND(CAST(n_hits_adc AS DOUBLE) / CAST(3 * n_queries AS DOUBLE), 6)
         |    AS recall_adc_at_3,
         |  n_hits_rerank,
         |  ROUND(CAST(n_hits_rerank AS DOUBLE) / CAST(3 * n_queries AS DOUBLE), 6)
         |    AS recall_rerank_at_3
         |FROM agg ORDER BY nprobe""".stripMargin
    },

    // PQ codebook training: per-subspace Lloyd iterations unrolled —
    // assignment (lexicographic (d2, code) argmin over the 8-term
    // left-assoc L2² chain) alternating with round-6 mean
    // re-estimation, seeded from the untrained ivfpq codebook; error
    // legs are the FIRST assignment (seed codebook) and the
    // post-training assignment, each an order-blind round-9→DECIMAL
    // sum (the q_llm_kmeans inertia device).
    "q_llm_pq_train" -> {
      val d2t = (1 to 8).map(i =>
        s"(s.xv[$i] - c.cv2[$i]) * (s.xv[$i] - c.cv2[$i])").mkString(" + ")
      def assignCte(name: String, cb: String): String =
        s"""$name AS MATERIALIZED (SELECT vid, m, j, d2 FROM (
           |  SELECT vid, m, j, d2, ROW_NUMBER() OVER (
           |      PARTITION BY vid, m ORDER BY d2, j) AS rn
           |  FROM (SELECT s.vid, s.m, c.j, $d2t AS d2
           |        FROM s JOIN $cb c ON s.m = c.cm))
           |WHERE rn = 1)""".stripMargin
      def cbCte(name: String, from: String): String = {
        val means = (1 to 8).map(i => s"ROUND(AVG(s.xv[$i]), 6) AS r$i").mkString(", ")
        s"""$name AS MATERIALIZED (SELECT m AS cm, j,
           |  list_value(${(1 to 8).map(i => s"r$i").mkString(", ")}) AS cv2 FROM (
           |  SELECT a.m, a.j, $means
           |  FROM $from a JOIN s ON a.vid = s.vid AND a.m = s.m GROUP BY 1, 2))""".stripMargin
      }
      val iters = (1 to LlmOps.PqTrainIters).map { i =>
        s"${assignCte(s"a$i", s"cb${i - 1}")},\n${cbCte(s"cb$i", s"a$i")}"
      }.mkString(",\n")
      def errSel(from: String, colName: String): String =
        s"""SELECT m, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           |  CAST(ROUND(SUM(CAST(ROUND(d2, 9) AS DECIMAL(24,9))), 4) AS DOUBLE)
           |    AS $colName
           |FROM $from GROUP BY m""".stripMargin
      s"""WITH $ivfAssignedCtes,
         |res AS (SELECT a.vid,
         |    list_transform(range(1, 65),
         |      i -> CAST(a.dv[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE)) AS rv
         |  FROM assigned a JOIN cents c ON a.cid = c.cid),
         |s AS MATERIALIZED (SELECT vid, m, rv[m*8 + 1 : m*8 + 8] AS xv
         |  FROM res, UNNEST(range(0, 8)) AS t(m)),
         |cb0 AS MATERIALIZED (SELECT vid AS j, m AS cm, xv AS cv2 FROM s, nl
         |  WHERE vid BETWEEN nl.nlist AND nl.nlist + 15),
         |$iters,
         |${assignCte("afin", s"cb${LlmOps.PqTrainIters}")},
         |eseed AS (${errSel("a1", "err_seed")}),
         |etr AS (${errSel("afin", "err_trained")})
         |SELECT CAST(e1.m AS BIGINT) AS m, e1.n_vecs, e1.err_seed,
         |  e2.err_trained, e2.err_trained <= e1.err_seed AS improved
         |FROM eseed e1 JOIN etr e2 ON e1.m = e2.m ORDER BY m""".stripMargin
    },

    // Trained-codebook IVF-PQ curve: the nprobe search chain with the
    // pq_train Lloyd chain spliced in and the ADC leg instantiated
    // TWICE — seed codebook (cb0 codes a1) and trained codebook
    // (cb{iters} codes afin) — against the shared exact top-3.
    "q_llm_ann_ivfpq_trained" -> {
      val d2t = (1 to 8).map(i =>
        s"(s.xv[$i] - c.cv2[$i]) * (s.xv[$i] - c.cv2[$i])").mkString(" + ")
      val qd2t = (1 to 8).map(i =>
        s"(u.xv[$i] - c.cv2[$i]) * (u.xv[$i] - c.cv2[$i])").mkString(" + ")
      def l2chain(a: String, b: String): String = (1 to 64).map(i =>
        s"(CAST($a[$i] AS DOUBLE) - CAST($b[$i] AS DOUBLE)) * " +
          s"(CAST($a[$i] AS DOUBLE) - CAST($b[$i] AS DOUBLE))").mkString(" + ")
      def assignCte(name: String, cb: String): String =
        s"""$name AS MATERIALIZED (SELECT vid, m, j, d2 FROM (
           |  SELECT vid, m, j, d2, ROW_NUMBER() OVER (
           |      PARTITION BY vid, m ORDER BY d2, j) AS rn
           |  FROM (SELECT s.vid, s.m, c.j, $d2t AS d2
           |        FROM s JOIN $cb c ON s.m = c.cm))
           |WHERE rn = 1)""".stripMargin
      def cbCte(name: String, from: String): String = {
        val means = (1 to 8).map(i => s"ROUND(AVG(s.xv[$i]), 6) AS r$i").mkString(", ")
        s"""$name AS MATERIALIZED (SELECT m AS cm, j,
           |  list_value(${(1 to 8).map(i => s"r$i").mkString(", ")}) AS cv2 FROM (
           |  SELECT a.m, a.j, $means
           |  FROM $from a JOIN s ON a.vid = s.vid AND a.m = s.m GROUP BY 1, 2))""".stripMargin
      }
      val iters = (1 to LlmOps.PqTrainIters).map { i =>
        s"${assignCte(s"a$i", s"cb${i - 1}")},\n${cbCte(s"cb$i", s"a$i")}"
      }.mkString(",\n")
      def lutCte(name: String, cb: String): String =
        s"""$name AS (SELECT u.query_id AS lq, u.ccid AS lcell, u.m AS lm, c.j AS lj,
           |    CAST(round($qd2t, 9) AS DECIMAL(20,9)) AS qd2
           |  FROM qsub u JOIN $cb c ON u.m = c.cm)""".stripMargin
      def adcCte(name: String, codes: String, lut: String): String =
        s"""$name AS (SELECT c.query_id, c.cvid, c.cell_rank,
           |    CAST(SUM(l.qd2) AS DOUBLE) AS a
           |  FROM cand c JOIN $codes k ON k.nid = c.cvid
           |  JOIN $lut l ON l.lq = c.query_id AND l.lcell = c.ncid
           |    AND l.lm = k.nm AND l.lj = k.code
           |  GROUP BY 1, 2, 3)""".stripMargin
      def topCte(name: String, adc: String): String =
        s"""$name AS (SELECT np, query_id, cvid FROM (
           |    SELECT n.np, a.query_id, a.cvid,
           |      ROW_NUMBER() OVER (PARTITION BY n.np, a.query_id
           |        ORDER BY round(a.a, 6) ASC, a.cvid ASC) AS rnk
           |    FROM $adc a JOIN nps n ON a.cell_rank <= n.np) WHERE rnk <= 3)""".stripMargin
      s"""WITH $ivfAssignedCtes,
         |qs AS (SELECT vid AS query_id, dv AS qv FROM assigned
         |       WHERE vid BETWEEN 20 AND 24),
         |qc AS (SELECT q.query_id, c.cid, c.cv,
         |         ROUND(${cosExpr("q.qv", "c.cv")}, 6) AS ccos
         |       FROM qs q CROSS JOIN cents c),
         |qcells AS (SELECT query_id AS cq, cid AS ccid, cv AS ccv, cell_rank
         |  FROM (SELECT query_id, cid, cv, ROW_NUMBER() OVER (
         |          PARTITION BY query_id ORDER BY ccos DESC, cid ASC) AS cell_rank
         |        FROM qc)
         |  WHERE cell_rank <= ${LlmOps.NProbes.max}),
         |res AS (SELECT a.vid,
         |    list_transform(range(1, 65),
         |      i -> CAST(a.dv[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE)) AS rv
         |  FROM assigned a JOIN cents c ON a.cid = c.cid),
         |s AS MATERIALIZED (SELECT vid, m, rv[m*8 + 1 : m*8 + 8] AS xv
         |  FROM res, UNNEST(range(0, 8)) AS t(m)),
         |cb0 AS MATERIALIZED (SELECT vid AS j, m AS cm, xv AS cv2 FROM s, nl
         |  WHERE vid BETWEEN nl.nlist AND nl.nlist + 15),
         |$iters,
         |${assignCte("afin", s"cb${LlmOps.PqTrainIters}")},
         |codess AS (SELECT vid AS nid, m AS nm, j AS code FROM a1),
         |codest AS (SELECT vid AS nid, m AS nm, j AS code FROM afin),
         |qres AS (SELECT k.cq AS query_id, k.ccid, k.cell_rank,
         |    list_transform(range(1, 65),
         |      i -> CAST(q.qv[i] AS DOUBLE) - CAST(k.ccv[i] AS DOUBLE)) AS rv
         |  FROM qcells k JOIN qs q ON k.cq = q.query_id),
         |qsub AS (SELECT query_id, ccid, cell_rank, m, rv[m*8 + 1 : m*8 + 8] AS xv
         |  FROM qres, UNNEST(range(0, 8)) AS t(m)),
         |${lutCte("qluts", "cb0")},
         |${lutCte("qlutt", s"cb${LlmOps.PqTrainIters}")},
         |cand AS MATERIALIZED (SELECT k.cq AS query_id, a.vid AS cvid,
         |    a.cid AS ncid, k.cell_rank
         |  FROM assigned a JOIN qcells k ON a.cid = k.ccid AND a.vid <> k.cq),
         |nps AS (SELECT UNNEST(${LlmOps.NProbes.mkString("[", ", ", "]")}) AS np),
         |${adcCte("adcs", "codess", "qluts")},
         |${adcCte("adct", "codest", "qlutt")},
         |${topCte("ats", "adcs")},
         |${topCte("att", "adct")},
         |ex AS (SELECT query_id, neighbor_id FROM (
         |    SELECT q.query_id, d.vid AS neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY q.query_id
         |        ORDER BY ROUND(${l2chain("q.qv", "d.nv")}, 6) ASC, d.vid ASC) AS rnk
         |    FROM qs q JOIN (SELECT vid, dv AS nv FROM data) d
         |      ON q.query_id <> d.vid) WHERE rnk <= 3),
         |agg AS (SELECT n.np,
         |    CAST(COUNT(DISTINCT e.query_id) AS BIGINT) AS n_queries,
         |    CAST(SUM(CASE WHEN a.cvid IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_hits_adc_seed,
         |    CAST(SUM(CASE WHEN t.cvid IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_hits_adc_trained
         |  FROM ex e CROSS JOIN nps n
         |  LEFT JOIN ats a ON a.np = n.np AND a.query_id = e.query_id
         |    AND a.cvid = e.neighbor_id
         |  LEFT JOIN att t ON t.np = n.np AND t.query_id = e.query_id
         |    AND t.cvid = e.neighbor_id
         |  GROUP BY 1)
         |SELECT CAST(np AS BIGINT) AS nprobe, n_queries, n_hits_adc_seed,
         |  ROUND(CAST(n_hits_adc_seed AS DOUBLE) / CAST(3 * n_queries AS DOUBLE), 6)
         |    AS recall_adc_seed_at_3,
         |  n_hits_adc_trained,
         |  ROUND(CAST(n_hits_adc_trained AS DOUBLE) / CAST(3 * n_queries AS DOUBLE), 6)
         |    AS recall_adc_trained_at_3
         |FROM agg ORDER BY nprobe""".stripMargin
    })

  val all: Map[String, String] =
    relational ++ streaming ++ graph ++ llm ++ extended ++ gnn ++ gnnPrep ++
      pipeline ++ round4 ++ round4b ++ round4c ++ round4d ++ round4e ++
      round4f ++ round5 ++ round6 ++ round6graph ++ ClusterOps.oracle ++
      BpeOps.oracle ++ partitioning ++ train ++ graphAnalytics ++ curation ++
      stats ++ gin ++ mmr ++ round13 ++ round15 ++ round15b ++ round16 ++
      round16b ++ round16c ++ round16d ++ round16e ++ round17 ++
      // streaming twins: the final snapshot IS the batch result — the
      // batch operators' oracles replay them verbatim
      Map("q_stream_gnn_pool" -> train("q_gnn_graphsage_pool"),
        // streaming perplexity-decile maintainer: snapshot runs the SAME
        // pplBucketFrom assembly as the batch operator — one oracle
        "q_stream_ppl_bucket" -> round16("q_llm_ppl_bucket"),
        // streaming per-user transition maintainer: snapshot runs the
        // SAME markovFrom assembly as the batch operator — one oracle
        "q_stream_markov" -> round16e("q_time_markov"),
        // streaming first-month maintainer: snapshot runs the SAME
        // nvrFrom assembly as the batch operator — one oracle
        "q_stream_new_vs_returning" -> round16e("q_agg_new_vs_returning"),
        // streaming RFM maintainer: order-blind (max, count, sum) state
        // folds + the SAME rfmFrom quintile assembly — one oracle
        "q_stream_rfm" -> round16d("q_agg_rfm"),
        // streaming isotropy maintainer: exact 1e9-scaled shard state
        // divides back to the batch sums — one oracle
        "q_stream_isotropy" -> round13("q_embed_isotropy"),
        "q_stream_drift_psi" -> stats("q_llm_drift_psi"),
        // streaming χ²/Benford snapshots run the SAME shared assembly as
        // their batch twins — one oracle each
        "q_stream_chi2" -> round13("q_agg_chi2"),
        "q_stream_benford" -> round13("q_agg_benford"),
        "q_stream_ttest" -> stats("q_agg_ttest"),
        // streaming AR(2): day-series state + the identical pinned
        // Yule-Walker chain at snapshot — snapshot ≡ batch q_time_ar2
        "q_stream_ar2" -> round17("q_time_ar2"),
        // streaming CC maintainer: the sharded union-find forests
        // preserve connectivity exactly, and the snapshot merge is the
        // batch fixpoint — snapshot ≡ batch q_graph_cc, one oracle
        "q_stream_cc" -> graph("q_graph_cc"),
        // streaming MSF maintainer: online-MST shard forests + the
        // shared Borůvka snapshot — snapshot ≡ batch q_graph_mst
        "q_stream_mst" -> round17("q_graph_mst"),
        // streaming CMS grid is cell-identical to the batch sketch
        "q_stream_cms" -> round6("q_llm_cms_topk"),
        // deterministic bottom-k reservoir: batch twin = hash-rank window
        "q_stream_reservoir" ->
          s"""WITH h AS (SELECT lang, doc_id,
             |  CAST('0x' || substr(md5('res:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
             |  FROM documents)
             |SELECT lang, CAST(rn AS INT) AS rank, doc_id, h FROM (
             |  SELECT lang, doc_id, h,
             |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn
             |  FROM h)
             |WHERE rn <= ${StatsOps.ReservoirK} ORDER BY lang, rank""".stripMargin)
}
