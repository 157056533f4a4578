package graft.entry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Tables, TempDirs}
import graft.operators.{EventOps, Relational}
import graft.streaming.Windows

import OracleSupport._

/** Batch relational operators: scans, joins, rollups, windows, top-k.
  *
  * One gate family of [[graft.SparkEntry]]: `queries` runs each operator
  * over the driver's parquet tables; `oracleSql` is the DuckDB twin the
  * driver hash-compares against (columns aliased identically on both
  * sides — the compare sorts columns by name before hashing). */
private[graft] object RelationalGates {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> ((s, d) =>
      Relational.pricingSummary(Tables.lineitem(s, d))),

    "q02_region_rollup" -> ((s, d) =>
      Relational.customerByRegion(Tables.customer(s, d), Tables.nation(s, d),
        Tables.region(s, d))),

    "q03_order_revenue" -> ((s, d) =>
      Relational.orderRevenue(Tables.orders(s, d), Tables.lineitem(s, d))),

    "q04_order_left_join" -> ((s, d) =>
      Relational.orderWithOptionalLines(Tables.orders(s, d), Tables.lineitem(s, d))),

    "q05_anti_join" -> ((s, d) =>
      Relational.customersWithoutOrders(Tables.customer(s, d), Tables.orders(s, d))),

    "q06_cond_project" -> ((s, d) =>
      Relational.conditionalProjection(Tables.events(s, d))),

    "q07_union_counters" -> ((s, d) =>
      Relational.unionCounters(Tables.events(s, d))),

    "q08_json_props" -> ((s, d) =>
      Relational.jsonPropsAgg(Tables.events(s, d))),

    "q09_hourly_window" -> ((s, d) =>
      Windows.agg( // batch frame: no watermark applied
        Tables.events(s, d), "ts", Windows.Tumble("1 hour"), "0 seconds", Seq(col("event_type")),
        Seq(count(lit(1)).as("n_events"),
          sum(Relational.money(col("value"))).cast("double").as("sum_value")))
        .select(col("stt"), col("edt"), col("event_type"), col("n_events"),
          col("sum_value"))
        .orderBy(col("stt"), col("event_type"))),

    // ---------------------- skew + full DWD pipeline -----------------------

    // Two-phase salted aggregation (hot-key mitigation): results must be
    // row-identical to the direct groupBy the oracle runs.
    "q35_salted_agg" -> ((s, d) =>
      graft.operators.Skew.saltedSumCount(Tables.events(s, d),
          Seq(col("user_id")), Relational.money(col("value")))
        .select(col("user_id"), col("sum_value").cast("double").as("sum_value"),
          col("cnt"))
        .orderBy(col("user_id"))),

    // X-family salted replicate-small join: row-identical to the plain
    // inner join the oracle runs, but a hot key's probe work splits
    // across salt buckets.
    "q58_salted_join" -> ((s, d) => {
      import s.implicits._
      val dim = Seq(("view", "V"), ("click", "C"), ("purchase", "P"))
        .toDF("event_type", "type_code")
      graft.operators.Skew.saltedBroadcastableJoin(Tables.events(s, d), dim, "event_type")
        .groupBy(col("event_type"), col("type_code"))
        .agg(count(lit(1)).as("n_rows"),
          sum(Relational.money(col("value"))).cast("double").as("sum_value"))
        .orderBy(col("event_type"))
    }),

    // SESSION windows (beyond the reference's window surface): per-user
    // 4 h-gap sessions over the real multi-day events table, batch form.
    "q70_session_window" -> ((s, d) =>
      Windows.agg(Tables.events(s, d), "ts",
          Windows.Session("4 hours"), "2 seconds",
          Seq(col("user_id")), Seq(count(lit(1)).as("n_events")))
        .select(col("user_id"), col("stt"), col("edt"), col("n_events"))
        .orderBy(col("user_id"), col("stt"))),

    // HOPPING windows (1 h / 30 min): each event lands in exactly two
    // overlapping windows — the window-family completion next to tumbling
    // (q34/q37) and session (q70/q71).
    "q72_sliding_window" -> ((s, d) =>
      Windows.agg(Tables.events(s, d), "ts",
          Windows.Slide("1 hour", "30 minutes"), "2 seconds",
          Seq(col("event_type")),
          Seq(count(lit(1)).as("n_events"),
            count_distinct(col("user_id")).as("n_users")))
        .select(col("stt"), col("edt"), col("event_type"),
          col("n_events"), col("n_users"))
        .orderBy(col("stt"), col("event_type"))),

    // EXACT percentiles (sort-based, linear interpolation) per group —
    // the latency/size-distribution profile every corpus audit needs;
    // Spark `percentile` and DuckDB `quantile_cont` share the
    // rank = p·(n−1) interpolation definition.
    "q74_percentile" -> ((s, d) =>
      Tables.events(s, d).groupBy(col("event_type"))
        .agg(
          round(expr("percentile(value, 0.5)"), 6).as("p50"),
          round(expr("percentile(value, 0.9)"), 6).as("p90"),
          round(expr("percentile(value, 0.99)"), 6).as("p99"),
          count(lit(1)).as("n"))
        .orderBy(col("event_type"))),

    // ROLLUP subtotal hierarchy (reference has no grouping sets at all):
    // per (status, priority) + per status + grand total in one pass.
    "q75_rollup" -> ((s, d) =>
      Tables.orders(s, d)
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)),

    // Funnel conversion (EventOps.funnel): view → click → purchase with a
    // 7-day per-step horizon — ordered min-time chaining per user, one
    // keyed join per step, no sequence sort.
    "q93_funnel" -> ((s, d) =>
      EventOps.funnel(Tables.events(s, d), Seq("view", "click", "purchase"),
          horizonSec = Some(7L * 86400L))
        .orderBy(col("step_idx"))),

    // AS-OF join (composed piecewise-merge, Relational.asOfJoin): every
    // order picks the customer's latest k%3==0 "version" order at or
    // before its own key-time; DuckDB's native ASOF LEFT JOIN is the
    // oracle.
    "q78_asof_join" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val left = o.select(col("o_orderkey").as("k"), col("o_custkey").as("cust"))
        .withColumn("ts", col("k"))
      val right = o.where(col("o_orderkey") % 3 === 0)
        .select(col("o_custkey").as("cust"), col("o_orderkey").as("ts"),
          col("o_orderkey").as("ref_k"),
          col("o_totalprice").cast("decimal(18,2)").cast("double").as("ref_price"))
      Relational.asOfJoin(left, right, "cust", "ts", Seq("ref_k", "ref_price"))
        .select(col("k"), col("cust"), col("ref_k"), col("ref_price"))
        .orderBy(col("k"))
    }),

    // Binned range join (Relational.rangeJoinBinned): first-line lineitem
    // points against ±8 intervals around every 10th order key — the
    // equi-join-on-bin plan vs DuckDB's native inequality join.
    "q79_range_join" -> ((s, d) => {
      val pts = Tables.lineitem(s, d).where(col("l_linenumber") === 1)
        .select(col("l_orderkey").as("p"))
      val iv = Tables.orders(s, d).where(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey").as("ik"),
          (col("o_orderkey") - 8).as("lo"), (col("o_orderkey") + 8).as("hi"))
      Relational.rangeJoinBinned(pts, iv, "p", "lo", "hi", 16L)
        .select(col("p"), col("ik")).orderBy(col("p"), col("ik"))
    }),

    // "TopN hot items" (EventOps.topNPerWindow): hottest viewers per
    // hourly window, rank by count with deterministic ties.
    "q80_topn_window" -> ((s, d) =>
      EventOps.topNPerWindow(
          Tables.events(s, d).where(col("event_type") === "view"),
          "1 hour", col("user_id"), 3)
        .select(col("stt"), col("item"), col("ct"), col("rnk"))
        .orderBy(col("stt"), col("rnk"))),

    // Bucketed co-located join (Relational.bucketize) — the storage-layout
    // half of shuffle minimization: both fact sides written bucketed +
    // sorted on the join key once, the join itself plans with NO Exchange
    // (PlanSpec pins it with broadcast disabled). Row-identical to the
    // plain join the oracle runs.
    "q105_bucketed_join" -> ((s, d) => {
      val dir = graft.core.TempDirs.scratch("graft_bucket_")
      val o = Relational.bucketize(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus")),
        "graft_b_orders", "o_orderkey", 16, s"$dir/orders")
      val l = Relational.bucketize(
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_extendedprice")),
        "graft_b_lineitem", "l_orderkey", 16, s"$dir/lineitem")
      val out = o.df.join(l.df, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
        .orderBy(col("o_orderstatus"))
        .localCheckpoint(true) // materialize before tables/files vanish
      s.sql(s"DROP TABLE IF EXISTS `${o.table}`")
      s.sql(s"DROP TABLE IF EXISTS `${l.table}`")
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(dir))
      out
    }),

    // Partition-pruned layout (Relational.partitionByKey) — bucketing's
    // sibling: events re-written date-partitioned, one day read back; the
    // day filter prunes whole directories at plan time (PlanSpec pins
    // PartitionFilters on the scan). Row-identical to the plain filter
    // the oracle runs.
    "q106_partition_pruned" -> ((s, d) => TempDirs.withScratch("graft_part_") { root =>
      val parted = Relational.partitionByKey(
        Tables.events(s, d).withColumn("dt", to_date(col("ts")).cast("string")),
        Seq("dt"), s"$root/ev")
      val minDt = parted.agg(min(col("dt")).cast("string")).head().getString(0)
      parted.where(col("dt") === minDt)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("event_type"))
    }),

    // The GlobalWindowTopK optimizer rule under the oracle: the naive
    // global row_number()-top-k SQL (the single-task-sort antipattern)
    // runs through graft's injected rewrite — planned as distributed
    // partial-heap TakeOrderedAndProject — and must still produce the
    // exact ranking ((value DESC, event_id) totally orders, so ties
    // can't hide in the rewrite's tie license).
    "q150_topk_sql" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("events_q150")
      val out = s.sql(
        """SELECT event_id, value, rn FROM (
          |  SELECT event_id, value,
          |    row_number() OVER (ORDER BY value DESC, event_id) AS rn
          |  FROM events_q150) WHERE rn <= 100""".stripMargin)
      val phys = out.queryExecution.executedPlan.toString
      require(phys.contains("TakeOrderedAndProject"),
        "GlobalWindowTopK must have rewritten the single-task window:\n" + phys)
      out.withColumn("rn", col("rn").cast("long")).orderBy(col("rn"))
    }),

    // Gap sessionization over the event log (EventOps.sessionize): new
    // session when a user's inter-event gap exceeds 6 h (the sf events
    // average ~10 h between events per user, so both single- and
    // multi-event sessions occur at every gated SF). One shuffle on
    // user_id; the (user, session_no) groupBy reuses the window's
    // exchange.
    "q172_sessionize" -> ((s, d) =>
      EventOps.sessionize(Tables.events(s, d), gapMinutes = 360)
        .orderBy(col("user_id"), col("session_no"))),

    // Cohort retention triangle (EventOps.cohortRetention): users
    // bucketed by first-activity day, distinct actives per
    // (cohort_day, day_offset) cell.
    "q173_cohort_retention" -> ((s, d) =>
      EventOps.cohortRetention(Tables.events(s, d))
        .orderBy(col("cohort_day"), col("day_offset"))),
  )

  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | sum(l_quantity) AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        | CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax), 6) AS DECIMAL(28,6))) AS DOUBLE) AS sum_charge,
        | round(sum(l_quantity) / count(*), 6) AS avg_qty,
        | round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_price,
        | round(CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q02_region_rollup" ->
      """SELECT r_name AS region_name, n_name AS nation_name, count(*) AS n_customers,
        | CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q03_order_revenue" ->
      """SELECT o_orderpriority, count(DISTINCT o_orderkey) AS n_orders,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderstatus <> 'F'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q04_order_left_join" ->
      """SELECT o_orderstatus, count(*) AS n_rows, count(l_orderkey) AS n_matched
        |FROM orders LEFT JOIN (SELECT * FROM lineitem WHERE l_quantity > 45) l
        |  ON o_orderkey = l_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q05_anti_join" ->
      """SELECT c_mktsegment, count(*) AS n_customers
        |FROM customer WHERE NOT EXISTS (
        |  SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q06_cond_project" ->
      """SELECT event_id, user_id, event_type,
        | CASE WHEN event_type = 'view' THEN value ELSE value * 2 END AS adj_value
        |FROM events WHERE event_type IN ('view', 'click', 'purchase')
        |ORDER BY event_id""".stripMargin,

    "q07_union_counters" ->
      """SELECT user_id, CAST(sum(pv) AS BIGINT) AS pv_ct, CAST(sum(clk) AS BIGINT) AS clk_ct,
        | CAST(sum(buy) AS BIGINT) AS buy_ct FROM (
        | SELECT user_id, 1 AS pv, 0 AS clk, 0 AS buy FROM events WHERE event_type = 'view'
        | UNION ALL SELECT user_id, 0, 1, 0 FROM events WHERE event_type = 'click'
        | UNION ALL SELECT user_id, 0, 0, 1 FROM events WHERE event_type = 'purchase')
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q08_json_props" ->
      """SELECT event_type, count(*) AS n_events, CAST(sum(k) AS BIGINT) AS sum_k FROM (
        | SELECT event_type, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k FROM events)
        |WHERE k IS NOT NULL AND k >= 50
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q09_hourly_window" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS stt,
        | strftime(date_trunc('hour', ts) + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S') AS edt,
        | event_type, count(*) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2, 3 ORDER BY 1, 3""".stripMargin,

    // The bucketed layout must not change a single row vs the plain join.
    "q105_bucketed_join" ->
      """SELECT o_orderstatus, count(*) AS n_rows,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // Nor must the date-partitioned layout: one day's slice, plain filter.
    "q106_partition_pruned" ->
      """WITH md AS (SELECT min(CAST(ts AS DATE)) AS d FROM events)
        |SELECT event_type, count(*) AS n_rows,
        | count(DISTINCT user_id) AS n_users
        |FROM events WHERE CAST(ts AS DATE) = (SELECT d FROM md)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q35_salted_agg" ->
      """SELECT user_id, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        | count(*) AS cnt
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q58_salted_join" ->
      """SELECT e.event_type, d.type_code, count(*) AS n_rows,
        | CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events e
        |JOIN (VALUES ('view', 'V'), ('click', 'C'), ('purchase', 'P')) d(event_type, type_code)
        | ON e.event_type = d.event_type
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,

    // gaps-and-islands twin of Spark's session_window: a session breaks
    // only when the µs gap STRICTLY exceeds the 4 h gap duration — Spark
    // merges touching windows (an event at exactly prev_ts + gap joins
    // the session; verified empirically in TextProfileSpec)
    "q70_session_window" -> sessionOracleSql,

    // each event belongs to the two 1 h windows whose 30 min-aligned
    // starts are floor(ts/30min) and that minus one slide — Spark's
    // epoch-aligned hopping-window assignment
    "q72_sliding_window" ->
      """WITH g AS (SELECT event_type, user_id,
        |  (epoch_us(ts) // 1800000000 - i.i) * 1800000000 AS ws
        | FROM events CROSS JOIN (VALUES (0), (1)) i(i))
        |SELECT strftime(make_timestamp(ws), '%Y-%m-%d %H:%M:%S') AS stt,
        | strftime(make_timestamp(ws + 3600000000), '%Y-%m-%d %H:%M:%S') AS edt,
        | event_type, count(*) AS n_events, count(DISTINCT user_id) AS n_users
        |FROM g GROUP BY 1, 2, 3 ORDER BY 1, 3""".stripMargin,

    "q74_percentile" ->
      """SELECT event_type,
        | round(quantile_cont(value, 0.5), 6) AS p50,
        | round(quantile_cont(value, 0.9), 6) AS p90,
        | round(quantile_cont(value, 0.99), 6) AS p99,
        | count(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q75_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""".stripMargin,

    "q93_funnel" -> funnelOracle,

    "q78_asof_join" ->
      """WITH l AS (SELECT o_orderkey AS k, o_custkey AS cust, o_orderkey AS ts FROM orders),
        |r AS (SELECT o_custkey AS cust, o_orderkey AS ts, o_orderkey AS ref_k,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS ref_price
        | FROM orders WHERE o_orderkey % 3 = 0)
        |SELECT l.k, l.cust, r.ref_k, r.ref_price
        |FROM l ASOF LEFT JOIN r ON l.cust = r.cust AND l.ts >= r.ts
        |ORDER BY l.k""".stripMargin,

    "q79_range_join" ->
      """WITH p AS (SELECT l_orderkey AS p FROM lineitem WHERE l_linenumber = 1),
        |iv AS (SELECT o_orderkey AS ik, o_orderkey - 8 AS lo, o_orderkey + 8 AS hi
        | FROM orders WHERE o_orderkey % 10 = 0)
        |SELECT p, ik FROM p JOIN iv ON p >= lo AND p <= hi
        |ORDER BY p, ik""".stripMargin,

    "q80_topn_window" -> topNOracle,

    // the same naive ranking SQL the rewrite accelerates — DuckDB runs it
    // as written; (value DESC, event_id) is a total order
    "q150_topk_sql" ->
      """SELECT event_id, value, rn FROM (
        |  SELECT event_id, value,
        |    row_number() OVER (ORDER BY value DESC, event_id) AS rn
        |  FROM events) WHERE rn <= 100 ORDER BY rn""".stripMargin,

    // sessionize twin: identical lag/running-sum/group-by, ROWS frame
    // explicit on the running sum, (ts, event_id) total order so the
    // session ordinal is deterministic in both engines
    "q172_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, value, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts > lag(ts) OVER w + INTERVAL 360 MINUTES
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), numbered AS (
        |  SELECT user_id, ts, value,
        |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
        |  FROM flagged
        |)
        |SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM numbered GROUP BY user_id, session_no
        |ORDER BY user_id, session_no""".stripMargin,

    "q173_cohort_retention" ->
      """WITH active AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        |), cohorts AS (
        |  SELECT user_id, MIN(day) AS cohort_day FROM active GROUP BY user_id
        |)
        |SELECT strftime(c.cohort_day, '%Y-%m-%d') AS cohort_day,
        |  CAST(date_diff('day', c.cohort_day, a.day) AS BIGINT) AS day_offset,
        |  count(DISTINCT a.user_id) AS n_users
        |FROM active a JOIN cohorts c USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
  )
}
