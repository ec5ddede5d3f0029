package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated testdata tables.
  *
  * `events.ts` has shipped in two parquet spellings across testdata
  * generations: TIMESTAMP(NANOS) (read as epoch-nanos LongType under
  * `spark.sql.legacy.parquet.nanosAsLong=true`, set in [[Sessions.tune]])
  * and TIMESTAMP(MICROS) without a UTC flag (read as TIMESTAMP_NTZ).
  * [[events]] normalizes both to epoch-nanos LongType so every downstream
  * query keeps integral arithmetic (ns values overflow the 53-bit double
  * mantissa; DuckDB's `epoch_ms`/`epoch_ns` floor the same way on either
  * physical type, so the oracles are spelling-independent).
  */
object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  import org.apache.spark.sql.functions.{col, unix_micros}
  import org.apache.spark.sql.types.{LongType, TimestampType}

  /** `ts` → epoch-nanos Long whatever the parquet physical type. The NTZ
    * cast interprets the stored wall-clock in the session zone (pinned to
    * UTC by [[Sessions.tune]]), matching DuckDB's zone-less reading.
    */
  private def tsAsNanos(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => df // TIMESTAMP(NANOS) + nanosAsLong: already epoch ns
      case _ =>
        df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * 1000L)
    }

  def lineitem(s: SparkSession, d: String): DataFrame = t(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame   = t(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = t(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame   = t(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame   = t(s, d, "region")
  def events(s: SparkSession, d: String): DataFrame   = tsAsNanos(t(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame  = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")
}

/** Session-level tuning shared by Verify / Bench / tests. */
object Sessions {
  /** Settings that must be present before DataFrames are created. */
  def tune(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")

  /** The session Bench, Verify, StreamBench and the `Probe` dev tool run
    * in: `local[cpus]` with `cpus` from `SPARK_GRAFT_CPUS` (else
    * `defaultCpus`), one shuffle partition per core, no UI, [[tune]]d.
    */
  def local(defaultCpus: Int): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
  }

  /** The per-query block sweep of Bench and Verify: releases every
    * persisted RDD (the `localCheckpoint` blocks of
    * [[graft.ops.Materialize]] consumers, which the plan cache does not
    * hold) and clears the plan cache, so no query's blocks pressure the
    * block manager for the rest of the run (Bench class doc). A failure
    * is reported on stderr, not thrown.
    */
  def dropPersisted(spark: SparkSession, after: String): Unit =
    try {
      spark.sparkContext.getPersistentRDDs.values
        .foreach(org.apache.spark.sql.graft.Bridge.releaseBlocks)
      spark.catalog.clearCache()
    } catch { case e: Throwable =>
      System.err.println(s"[graft] post-$after cleanup failed: $e")
    }
}
