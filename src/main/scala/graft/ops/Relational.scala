package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Relational analytics surface.
  *
  * The reference exposes its records through an in-memory H2 database and
  * lets the operator run arbitrary SQL over `requests / responses / actions /
  * results` (reference: src/hbase_packet_inspector/sink/db.clj:8-37 schema,
  * :101-113 SQL shell + web UI). This module re-expresses the query patterns
  * that surface supports — traffic profiling, request/response correlation,
  * latency percentiles, top-k, sessionization of scanner lifecycles — as
  * Catalyst-optimized DataFrame plans over the driver testdata.
  *
  * Oracle-parity discipline:
  *   - money-ish doubles (2-decimal by construction) are cast to
  *     DECIMAL(18,2) *before* any arithmetic, making sums exact and
  *     order-insensitive; final outputs cast back to double.
  *   - epoch-nanos longs never pass through doubles; bucketing uses
  *     integral `DIV`, and DuckDB `epoch_ms` (floor) composes with it.
  *   - every limit carries a unique tiebreaker; counts are always LongType
  *     to match DuckDB BIGINT.
  */
object Relational {

  private val dec = DecimalType(18, 2)
  /** Exact cast for source columns that carry at most 2 decimals. */
  private def d2(c: Column): Column = c.cast(dec)
  private def asDouble(c: Column): Column = c.cast("double")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_method_counts" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          asDouble(sum(d2(col("value")))).as("total_value"))),

    "q02_filter_project" -> ((s, dir) =>
      Tables.events(s, dir)
        .filter(col("event_type") === "purchase" && col("value") > 100.0)
        .select(col("event_id"), col("user_id"), col("value"))),

    "q03_reqres_join" -> ((s, dir) => {
      val o  = Tables.orders(s, dir)
      val li = Tables.lineitem(s, dir)
      // request/response correlation pattern: join on the shared call key,
      // derive value from both sides (HPI: elapsed = response.ts - request.ts).
      // r21 (guide §2.3 "aggregate before you shuffle"): lineitem collapses
      // to one row per orderkey BEFORE the join, so the join exchange
      // carries |orders| pre-aggregated rows instead of every lineitem.
      // Decimal sums are exact, so the regrouped per-key → per-priority
      // sum is bit-identical to the flat sum the oracle states.
      val per = li.groupBy(col("l_orderkey"))
        .agg(
          count(lit(1)).as("li_n"),
          sum(d2(col("l_extendedprice")) * d2(lit(1.0) - col("l_discount")))
            .as("li_rev"))
      o.join(per, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(
          sum(col("li_n")).as("n_items"),
          asDouble(sum(col("li_rev"))).as("revenue"))
    }),

    "q04_slow_topk" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .orderBy(col("value").desc, col("event_id").asc)
        .limit(20)),

    "q05_time_buckets" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(
          expr("(ts DIV 3600000000000) * 3600").as("hour_s"),
          col("value"))
        .groupBy(col("hour_s"))
        .agg(
          count(lit(1)).as("n"),
          asDouble(sum(d2(col("value")))).as("total_value"))),

    // Exact quantile_cont per event type WITHOUT the builtin `percentile`:
    // that aggregate buffers every value of a group in one in-memory,
    // non-spillable map — the one A-surface plan shape that did not
    // survive a 100x thought experiment (r16 verdict item 2). Instead:
    // [[Curation.quantilesByHistogram]] — (group, value) partial-agg
    // collapses the corpus to a value histogram, then a window over
    // HISTOGRAM rows (spillable sort, bounded by the per-group value
    // domain, and even a pathological all-distinct domain degrades to a
    // spill instead of an executor OOM) interpolates `v_lo + frac·(v_hi −
    // v_lo)` with frac = (n−1)p − ⌊(n−1)p⌋ — operand-for-operand the
    // builtin/quantile_cont formula, so the doubles stay bit-identical
    // and the oracle is unchanged. The sketch form for non-oracled use
    // stays [[Relational.latencyPctlApprox]].
    "q06_latency_pctl" -> ((s, dir) =>
      Curation.quantilesByHistogram(Tables.events(s, dir), "event_type",
        "value", Seq("p50" -> 0.5, "p95" -> 0.95, "p99" -> 0.99))
        .select(col("event_type"), col("p50"), col("p95"), col("p99"))),

    "q07_error_rate" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_err"))
        .withColumn("err_rate", col("n_err").cast("double") / col("n"))),

    "q08_distinct_clients" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"))),

    "q09_batch_stats" -> ((s, dir) => {
      val per = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n_items"))
      Tables.orders(s, dir)
        .join(per, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(col("n_items")).as("total_items"))
        .withColumn("avg_batch", col("total_items").cast("double") / col("n_orders"))
    }),

    "q10_hot_regions" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o  = Tables.orders(s, dir)
      val c  = Tables.customer(s, dir)
      val n  = Tables.nation(s, dir)
      val r  = Tables.region(s, dir)
      // r21 (guide §2.3): aggregate before every shuffle join — lineitem
      // collapses to one row per orderkey before the orders join, and the
      // joined frame collapses to one row per custkey before the customer
      // join; each exchange then carries pre-aggregated 24-byte rows
      // instead of raw lineitems. Decimal revenue sums re-associate
      // exactly; the per-stage long counts sum to the same n_items.
      val perOrder = li.groupBy(col("l_orderkey"))
        .agg(
          count(lit(1)).as("li_n"),
          sum(d2(col("l_extendedprice")) * d2(lit(1.0) - col("l_discount")))
            .as("li_rev"))
      val perCust = perOrder
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(sum(col("li_n")).as("c_n"), sum(col("li_rev")).as("c_rev"))
      perCust
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          sum(col("c_n")).as("n_items"),
          asDouble(sum(col("c_rev"))).as("revenue"))
    }),

    "q11_scan_sessions" -> ((s, dir) => {
      val ms = expr("ts DIV 1000000").as("ms")
      val w  = Window.partitionBy(col("user_id")).orderBy(col("ms"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), ms)
        .withColumn("prev_ms", lag(col("ms"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_ms").isNull || col("ms") - col("prev_ms") > 1800000L, 1L)
            .otherwise(0L))
        .groupBy(col("user_id"))
        .agg(sum(col("new_sess")).as("n_sessions"))
    }),

    "q12_running_total" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ms"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), expr("ts DIV 1000000").as("ms"),
          col("value"))
        .withColumn("running", asDouble(sum(d2(col("value"))).over(w)))
        .select(col("event_id"), col("user_id"), col("running"))
    }),

    "q13_asof_match" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ms"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("ts DIV 1000000").as("ms"))
        .withColumn("last_click_ms",
          max(when(col("event_type") === "click", col("ms"))).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ms"), col("last_click_ms"),
          (col("ms") - col("last_click_ms")).as("wait_ms"))
    }),

    // JSON payload extraction (HPI records ship as JSON to Kafka; the
    // analytics side must read such payloads back)
    "q15_json_extract" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          asDouble(avg(col("k"))).as("avg_k"))),

    // top-k per group (slowest calls per method in HPI terms)
    "q16_topk_per_group" -> ((s, dir) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value").desc, col("event_id").asc)
      Tables.events(s, dir)
        .select(col("event_type"), col("event_id"), col("value"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("event_type"), col("event_id"), col("value"), col("rk"))
    }),

    // rollup: per-method counts plus a grand total in one pass
    "q17_rollup" -> ((s, dir) =>
      Tables.events(s, dir)
        .rollup(col("event_type"))
        .agg(count(lit(1)).as("n"), asDouble(sum(d2(col("value")))).as("total_value"))),

    // anti join: orders with no lineitems (dangling requests in HPI terms)
    "q18_anti_join" -> ((s, dir) => {
      val o  = Tables.orders(s, dir)
      val li = Tables.lineitem(s, dir).select(col("l_orderkey")).distinct()
      o.join(li, col("o_orderkey") === col("l_orderkey"), "left_anti")
        .select(col("o_orderkey"), col("o_orderpriority"))
    }),

    // Strict ordered funnel — see [[funnel]].
    "q107_funnel" -> ((s, dir) => funnel(Tables.events(s, dir))),

    // Retention cohorts — see [[retentionCohorts]].
    "q116_retention" -> ((s, dir) => retentionCohorts(Tables.events(s, dir))),

    // Hourly burst scores — see [[burstScores]].
    "q117_burst" -> ((s, dir) => burstScores(Tables.events(s, dir)))
  )

  /** Per-(event_type, hour) burst score: each hour's event count as a
    * z-score against that type's own hourly distribution — the anomaly
    * table behind "did something spike at 14:00" (traffic monitoring on
    * the reference's request log; error-burst detection here). Hours
    * with no events are absent, not zero-filled (a monitoring consumer
    * zero-fills against its own calendar).
    *
    * Exactness: hourly counts are exact longs from one (type, hour)
    * partial agg (the frame is Materialized — two consumers); the
    * per-type moments are long sums over that ≤types·hours frame, so
    * mean/variance are deterministic single divisions, and the z-score
    * is reported in integer MILLI units (round(z·1000, 0) — the scale-0
    * rounding rule). A zero-variance type (every hour equal) yields
    * NULL rather than a 0/0 NaN. Scale: nothing past the first partial
    * agg is corpus-sized; the stats frame broadcasts.
    */
  def burstScores(events: DataFrame): DataFrame = {
    val hourly = Materialize(events
      .select(col("event_type"), expr("(ts DIV 3600000000000) * 3600").as("hour_s"))
      .groupBy(col("event_type"), col("hour_s"))
      .agg(count(lit(1)).as("n")))
    val stats = hourly.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"), sum(col("n")).as("s"),
        sum(col("n") * col("n")).as("ss"))
    val mean = col("s").cast("double") / col("n_hours")
    val varr = col("ss").cast("double") / col("n_hours") - mean * mean
    hourly.join(broadcast(stats), "event_type")
      .select(col("event_type"), col("hour_s"), col("n"),
        when(varr > 0,
          round((col("n").cast("double") - mean) / sqrt(varr) * 1000, 0)
            .cast("long"))
          .otherwise(lit(null).cast("long")).as("z_milli"))
  }

  /** Retention cohort matrix: users grouped by their first-active day
    * (the cohort), counted on each later activity day as an offset from
    * it — the (cohort_day, day_offset, n_users) table every retention
    * curve and triangle chart reads. Day = integral division of the
    * epoch-nanos ts (no timezone math). NOTE the cross-engine contract
    * holds for NON-NEGATIVE timestamps only — the events table's
    * invariant: Spark's `DIV` truncates toward zero while DuckDB's `//`
    * floors, so a pre-1970 ts would bucket differently (the same caveat
    * applies to q05/q11's epoch arithmetic).
    *
    * Scale: one (user, day) distinct collapses the event log to
    * active-days; the cohort frame is a user-keyed partial agg off that
    * same frame (Materialized — two consumers); the join is
    * co-partitioned on user_id and the final agg is (cohort, offset)-
    * keyed with rows already distinct per (user, day) — so the count is
    * a plain count, no corpus-scale count_distinct state.
    */
  def retentionCohorts(events: DataFrame): DataFrame = {
    val dd = Materialize(events
      .select(col("user_id"), expr("ts DIV 86400000000000").as("day"))
      .distinct())
    val cohorts = dd.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    dd.join(cohorts, "user_id")
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Strict ordered conversion funnel view → click → purchase: a user
    * advances a stage only with a LATER event of the next type (the min-ts
    * chaining definition — the first view, then the first click after it,
    * then the first purchase after that click). Output is one row of stage
    * populations plus stage-to-stage conversion rates — the
    * event-analytics table the reference's SQL surface answers with
    * correlated subqueries over its requests/responses log.
    *
    * Scale: each stage is a type-filtered scan (predicate pushed to
    * parquet) partially aggregated per user, then a user-keyed join with
    * the previous stage's per-user frame — co-partitioned on the same
    * key, so each stage adds ONE user-keyed exchange and nothing
    * corpus-scale. The twice-consumed stage frames are Materialized
    * (AQE-replan precedent); stage counts collapse to 1-row frames whose
    * crossJoins broadcast. No window: a per-user event sort would shuffle
    * the whole log by user; min-ts chaining only ships (user, ms) pairs.
    */
  def funnel(events: DataFrame): DataFrame = {
    val e = events.select(col("user_id"), col("event_type"),
      expr("ts DIV 1000000").as("ms"))
    val v = Materialize(e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ms")).as("t_view")))
    val c = Materialize(e.filter(col("event_type") === "click")
      .join(v, "user_id")
      .filter(col("ms") > col("t_view"))
      .groupBy(col("user_id")).agg(min(col("ms")).as("t_click")))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, "user_id")
      .filter(col("ms") > col("t_click"))
      .groupBy(col("user_id")).agg(min(col("ms")).as("t_purchase"))
    v.agg(count(lit(1)).as("n_view"))
      .crossJoin(broadcast(c.agg(count(lit(1)).as("n_click"))))
      .crossJoin(broadcast(p.agg(count(lit(1)).as("n_purchase"))))
      .select(col("n_view"), col("n_click"), col("n_purchase"),
        round(col("n_click").cast("double") * 1e6
          / nullif(col("n_view"), lit(0L)).cast("double"), 0)
          .cast("long").as("view_to_click_ppm"),
        round(col("n_purchase").cast("double") * 1e6
          / nullif(col("n_click"), lit(0L)).cast("double"), 0)
          .cast("long").as("click_to_purchase_ppm"))
  }

  /** The 100 TB form of q06: `approx_percentile` keeps a bounded sketch
    * per group instead of buffering every value (not oracled — the sketch
    * is not bit-identical to quantile_cont; q06 stays the exact gate),
    * at Spark's default sketch accuracy, 10000. */
  def latencyPctlApprox(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(
        expr("approx_percentile(value, 0.5)").as("p50"),
        expr("approx_percentile(value, 0.95)").as("p95"),
        expr("approx_percentile(value, 0.99)").as("p99"))

  def oracles: Map[String, String] = Map(
    "q01_method_counts" ->
      """SELECT event_type, COUNT(*) AS n,
        |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type""".stripMargin,

    "q02_filter_project" ->
      """SELECT event_id, user_id, value FROM events
        |WHERE event_type = 'purchase' AND value > 100.0""".stripMargin,

    "q03_reqres_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n_items,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |         CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,

    "q04_slow_topk" ->
      """SELECT event_id, user_id, event_type, value FROM events
        |ORDER BY value DESC, event_id ASC LIMIT 20""".stripMargin,

    "q05_time_buckets" ->
      """SELECT (epoch_ms(ts) // 3600000) * 3600 AS hour_s, COUNT(*) AS n,
        |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1""".stripMargin,

    // HAVING mirrors the histogram form: a group whose values are ALL
    // NULL has no histogram rows and is absent (the q111 convention)
    "q06_latency_pctl" ->
      """SELECT event_type,
        |quantile_cont(value, 0.5)  AS p50,
        |quantile_cont(value, 0.95) AS p95,
        |quantile_cont(value, 0.99) AS p99
        |FROM events GROUP BY event_type
        |HAVING count(value) > 0""".stripMargin,

    "q07_error_rate" ->
      """SELECT user_id, COUNT(*) AS n,
        |COUNT(*) FILTER (WHERE event_type = 'error') AS n_err,
        |CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS DOUBLE) / COUNT(*)
        |  AS err_rate
        |FROM events GROUP BY user_id""".stripMargin,

    "q08_distinct_clients" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type""".stripMargin,

    "q09_batch_stats" ->
      """WITH per AS (
        |  SELECT l_orderkey, COUNT(*) AS n_items FROM lineitem GROUP BY l_orderkey)
        |SELECT o_orderpriority, COUNT(*) AS n_orders,
        |CAST(SUM(n_items) AS BIGINT) AS total_items,
        |CAST(CAST(SUM(n_items) AS BIGINT) AS DOUBLE) / COUNT(*) AS avg_batch
        |FROM orders JOIN per ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority""".stripMargin,

    "q10_hot_regions" ->
      """SELECT r_name, n_name, COUNT(*) AS n_items,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |         CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,

    "q11_scan_sessions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events),
        |f AS (
        |  SELECT user_id,
        |    CASE WHEN lag(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id)
        |           IS NULL
        |         OR ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id)
        |           > 1800000
        |    THEN 1 ELSE 0 END AS new_sess
        |  FROM e)
        |SELECT user_id, CAST(SUM(new_sess) AS BIGINT) AS n_sessions
        |FROM f GROUP BY user_id""".stripMargin,

    "q12_running_total" ->
      """SELECT event_id, user_id,
        |CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
        |  PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running
        |FROM events""".stripMargin,

    "q13_asof_match" ->
      """SELECT event_id, user_id, ms, last_click_ms, ms - last_click_ms AS wait_ms
        |FROM (
        |  SELECT event_id, user_id, event_type, epoch_ms(ts) AS ms,
        |    MAX(CASE WHEN event_type = 'click' THEN epoch_ms(ts) END) OVER (
        |      PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_ms
        |  FROM events)
        |WHERE event_type = 'purchase'""".stripMargin,

    "q15_json_extract" ->
      """SELECT event_type, COUNT(*) AS n,
        |CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
        |  AS sum_k,
        |CAST(AVG(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE)
        |  AS avg_k
        |FROM events GROUP BY event_type""".stripMargin,

    "q16_topk_per_group" ->
      """SELECT event_type, event_id, value, rk FROM (
        |  SELECT event_type, event_id, value,
        |    row_number() OVER (PARTITION BY event_type
        |                       ORDER BY value DESC, event_id ASC) AS rk
        |  FROM events)
        |WHERE rk <= 3""".stripMargin,

    "q17_rollup" ->
      """SELECT event_type, COUNT(*) AS n,
        |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY ROLLUP(event_type)""".stripMargin,

    "q18_anti_join" ->
      """SELECT o_orderkey, o_orderpriority FROM orders o
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)""".stripMargin,

    // min-ts chaining mirrors the Spark stage joins; epoch_ms = `ts DIV
    // 1000000` on the nanos long (the q11 convention)
    "q107_funnel" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events),
        |v AS (SELECT user_id, min(ms) AS t_view FROM e
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(ms) AS t_click FROM e JOIN v USING (user_id)
        |      WHERE event_type = 'click' AND ms > t_view GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(ms) AS t_purchase FROM e JOIN c USING (user_id)
        |      WHERE event_type = 'purchase' AND ms > t_click GROUP BY e.user_id)
        |SELECT
        |  (SELECT count(*) FROM v) AS n_view,
        |  (SELECT count(*) FROM c) AS n_click,
        |  (SELECT count(*) FROM p) AS n_purchase,
        |  CAST(round(CAST((SELECT count(*) FROM c) AS DOUBLE) * 1e6
        |    / nullif((SELECT count(*) FROM v), 0), 0) AS BIGINT)
        |    AS view_to_click_ppm,
        |  CAST(round(CAST((SELECT count(*) FROM p) AS DOUBLE) * 1e6
        |    / nullif((SELECT count(*) FROM c), 0), 0) AS BIGINT)
        |    AS click_to_purchase_ppm""".stripMargin,

    // epoch_ns // 86400000000000 = `ts DIV 86400000000000` on the nanos
    // long FOR NON-NEGATIVE ts (the table invariant; DIV truncates where
    // // floors, so they diverge pre-1970 — the q11 epoch convention)
    "q116_retention" ->
      """WITH dd AS (
        |  SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS day
        |  FROM events),
        |c AS (SELECT user_id, min(day) AS cohort_day FROM dd GROUP BY user_id)
        |SELECT cohort_day, day - cohort_day AS day_offset,
        |  count(*) AS n_users
        |FROM dd JOIN c USING (user_id)
        |GROUP BY cohort_day, day_offset""".stripMargin,

    // same hour bucket as q05; moments are exact BIGINT sums over the
    // hourly frame, z in integer milli (scale-0 rounding), NULL on a
    // zero-variance type — the division sequence mirrors the Spark side
    "q117_burst" ->
      """WITH hourly AS (
        |  SELECT event_type, (epoch_ms(ts) // 3600000) * 3600 AS hour_s,
        |    count(*) AS n
        |  FROM events GROUP BY event_type, hour_s),
        |st AS (
        |  SELECT event_type, count(*) AS n_hours,
        |    CAST(sum(n) AS BIGINT) AS s, CAST(sum(n * n) AS BIGINT) AS ss
        |  FROM hourly GROUP BY event_type)
        |SELECT h.event_type, h.hour_s, CAST(h.n AS BIGINT) AS n,
        |  CASE WHEN CAST(ss AS DOUBLE) / n_hours
        |            - (CAST(s AS DOUBLE) / n_hours)
        |              * (CAST(s AS DOUBLE) / n_hours) > 0
        |       THEN CAST(round((CAST(h.n AS DOUBLE)
        |              - CAST(s AS DOUBLE) / n_hours)
        |            / sqrt(CAST(ss AS DOUBLE) / n_hours
        |              - (CAST(s AS DOUBLE) / n_hours)
        |                * (CAST(s AS DOUBLE) / n_hours)) * 1000, 0) AS BIGINT)
        |       ELSE NULL END AS z_milli
        |FROM hourly h JOIN st USING (event_type)""".stripMargin
  )
}
