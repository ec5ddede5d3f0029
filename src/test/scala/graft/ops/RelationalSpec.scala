package graft.ops

import graft.{SparkSpec, TestSpark}

/** Direct specs for the relational surface's composed operators (the
  * simple aggregates are covered by the driver's DuckDB gate; these cover
  * the ordering semantics a hash match alone would under-document).
  */
class RelationalSpec extends SparkSpec {

  /** Writes an `events.parquet` fixture (driver-testdata logical schema,
    * ts as epoch-nanos long — the TIMESTAMP(NANOS) reading) and returns
    * the dir. Rows are (event_id, ts_ns, user_id, event_type).
    */
  private def eventsDir(rows: Seq[(Long, Long, Long, String)]): String = {
    val dir = TestSpark.tempDir("graft_events")
    val s = spark
    import s.implicits._
    rows.toDF("event_id", "ts", "user_id", "event_type")
      .selectExpr("event_id", "ts", "user_id", "event_type",
        "1.0 as value", "'{}' as props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("Tables.events normalizes a TIMESTAMP(MICROS)/NTZ ts to epoch-nanos") {
    // the regenerated-testdata spelling: timestamp[us] without the UTC
    // flag, which Spark reads as TIMESTAMP_NTZ — the loader must surface
    // the same epoch-nanos Long the TIMESTAMP(NANOS) generation gave
    val dir = TestSpark.tempDir("graft_events_ntz")
    val s = spark
    import s.implicits._
    Seq((1L, 1234567L, 7L, "view"))
      .toDF("event_id", "us", "user_id", "event_type")
      .selectExpr("event_id",
        "CAST(timestamp_micros(us) AS TIMESTAMP_NTZ) AS ts",
        "user_id", "event_type", "1.0 as value", "'{}' as props")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val loaded = graft.Tables.events(spark, dir)
    assert(loaded.schema("ts").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(loaded.select("ts").collect()(0).getLong(0) === 1234567000L)
  }

  test("q06: histogram quantiles ≡ builtin exact percentile, bit-identical doubles") {
    // The r17 rewrite replaced the per-group row-buffering `percentile`
    // with quantilesByHistogram. Differential vs the builtin (the q89
    // pattern): the interpolation is operand-for-operand the same
    // formula, so on real fractional doubles — sf0.001 events, 9909/10k
    // distinct fractional values — every output double must be EXACTLY
    // equal, nulls included.
    import org.apache.spark.sql.functions.{col, expr}
    val dir = "/root/testdata/sf0.001"
    val got = graft.SparkEntry.queries("q06_latency_pctl")(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    val want = graft.Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(value, 0.95)").as("p95"),
        expr("percentile(value, 0.99)").as("p99"))
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("q107: a stage only advances on a strictly later event") {
    val sec = 1000000000L // 1 s in ns
    val dir = eventsDir(Seq(
      // user 1: view -> click -> purchase in order: converts fully
      (1L, 1 * sec, 1L, "view"),
      (2L, 2 * sec, 1L, "click"),
      (3L, 3 * sec, 1L, "purchase"),
      // user 2: click BEFORE the first view: the click stage must not count
      // it, and the later purchase has no qualifying click to follow
      (4L, 1 * sec, 2L, "click"),
      (5L, 2 * sec, 2L, "view"),
      (6L, 3 * sec, 2L, "purchase"),
      // user 3: view only
      (7L, 1 * sec, 3L, "view"),
      // user 4: no view at all: in no stage
      (8L, 1 * sec, 4L, "click"),
      (9L, 2 * sec, 4L, "purchase")))
    val r = Relational.queries("q107_funnel")(spark, dir).collect()
    assert(r.length === 1)
    val row = r(0)
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) === ((3L, 1L, 1L)))
    assert(row.getLong(3) === 333333L) // 1/3 in integer ppm
    assert(row.getLong(4) === 1000000L)
  }

  test("q116: cohort = first active day; repeat visits in a day count once") {
    val day = 86400L * 1000000000L // 1 day in ns
    val dir = eventsDir(Seq(
      // user 1: first active day 0, returns day 1 (twice) and day 3
      (1L, 0 * day + 5, 1L, "view"),
      (2L, 1 * day + 5, 1L, "click"),
      (3L, 1 * day + 99, 1L, "view"), // same day: must not double-count
      (4L, 3 * day + 5, 1L, "view"),
      // user 2: cohort day 1, returns day 2
      (5L, 1 * day + 5, 2L, "view"),
      (6L, 2 * day + 5, 2L, "purchase"),
      // user 3: cohort day 0 only
      (7L, 0 * day + 7, 3L, "view")))
    val r = Relational.queries("q116_retention")(spark, dir).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2)).toMap
    assert(r === Map(
      (0L, 0L) -> 2L, // users 1, 3 in cohort 0
      (0L, 1L) -> 1L, // user 1 back on day 1 (once, despite 2 events)
      (0L, 3L) -> 1L,
      (1L, 0L) -> 1L, // user 2 in cohort 1
      (1L, 1L) -> 1L))
  }

  test("q117: z-scores from exact moments; zero-variance type yields NULL") {
    val hr = 3600L * 1000000000L // 1 hour in ns
    val dir = eventsDir(
      // type "view": hourly counts [3, 1, 2] -> mean 2, var 2/3
      Seq((1L, 0 * hr + 1, 1L, "view"), (2L, 0 * hr + 2, 1L, "view"),
        (3L, 0 * hr + 3, 1L, "view"),
        (4L, 1 * hr + 1, 1L, "view"),
        (5L, 2 * hr + 1, 1L, "view"), (6L, 2 * hr + 2, 1L, "view")) ++
      // type "click": every hour equal -> variance 0 -> NULL z
      Seq((7L, 0 * hr + 1, 2L, "click"), (8L, 1 * hr + 1, 2L, "click")))
    val r = Relational.queries("q117_burst")(spark, dir).collect()
      .map(x => (x.getString(0), x.getLong(1)) ->
        ((x.getLong(2), if (x.isNullAt(3)) None else Some(x.getLong(3))))).toMap
    // z(3) = 1/sqrt(2/3) = 1.224745 -> 1225 milli
    assert(r === Map(
      ("view", 0L) -> ((3L, Some(1225L))),
      ("view", 3600L) -> ((1L, Some(-1225L))),
      ("view", 7200L) -> ((2L, Some(0L))),
      ("click", 0L) -> ((1L, None)),
      ("click", 3600L) -> ((1L, None))))
  }

  test("q107: simultaneous events do not advance; an empty stage yields NULL rates") {
    val sec = 1000000000L
    val dir = eventsDir(Seq(
      // click at the SAME ms as the view: strict > excludes it
      (1L, 1 * sec, 1L, "view"),
      (2L, 1 * sec, 1L, "click")))
    val row = Relational.queries("q107_funnel")(spark, dir).collect()(0)
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) === ((1L, 0L, 0L)))
    assert(row.getLong(3) === 0L)      // 0 clicks / 1 view -> 0 ppm
    assert(row.isNullAt(4))            // 0/0: NULL, never Infinity
  }
}
