package graftbench

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.inspector.Inspector
import graft.streaming.{InspectorStream, KafkaSink}

import Main.{Metric, Result}
import Stats._

/** A named workload: one generated input and the closed loop that
  * drives the program over it. Why each workload exists is in
  * README.md next to this build.
  */
trait Workload {
  def name: String
  def run(ctx: Ctx): Result
}

object Workloads {

  /** Small calls, one frame per segment: the per-message costs. */
  private val smallCalls = Shape(
    conns = 800, callsPerConn = 16,
    getW = 45, mutateW = 35, multiW = 4, scanW = 4,
    rowBytes = (20, 150), mtu = 1448, burst = (1, 1),
    multiBatch = (2, 4), scanNexts = (1, 3), scanRespBytes = (200, 900),
    noiseShare = 0.05, unmatchedShare = 0.02, errorShare = 0.02,
    latencyMs = (1, 40), thinkMs = (0, 600))

  /** Bulk calls: multi batches of 50-500 actions, scan responses of
    * 64-256 KB split into MTU segments, calls coalesced per segment;
    * frequent enough that every rotated file carries some.
    */
  private val bulkCalls = Shape(
    conns = 24, callsPerConn = 60,
    getW = 20, mutateW = 20, multiW = 20, scanW = 2,
    rowBytes = (16, 64), mtu = 1448, burst = (2, 8),
    multiBatch = (50, 500), scanNexts = (2, 2), scanRespBytes = (65536, 262144),
    noiseShare = 0.05, unmatchedShare = 0.02, errorShare = 0.02,
    latencyMs = (5, 400), thinkMs = (500, 1500))

  val byName: Map[String, Workload] = Seq(
    new Batch("rpc_mix", Traffic(Seq(smallCalls), files = 12, gzip = false)),
    new Stream("stream_rotation", Traffic(Seq(
      smallCalls.copy(conns = 176, callsPerConn = 30, scanW = 6, scanNexts = (2, 6),
        latencyMs = (5, 400), thinkMs = (1000, 3000)),
      bulkCalls), files = 120, gzip = true))
  ).map(w => w.name -> w).toMap

  /** Set-up in the fresh JVM: session build plus `once`, the first
    * (cold) pass. Seconds.
    */
  def setup(ctx: Ctx)(once: SparkSession => Unit): Double = {
    val t0 = System.nanoTime()
    val spark = ctx.session()
    log(f"session built in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    once(spark)
    val s = (System.nanoTime() - t0) / 1e9
    log(f"set-up $s%.2f s")
    s
  }

  /** Untimed warm-up after set-up: the JIT is still compiling the hot
    * paths for several steps after the cold one. Counted in steps, not
    * seconds, so a run its host slows down still starts measuring with
    * its code as warm as any other.
    */
  val WarmUpSteps = 8

  /** Closed loop: `step` again as soon as it returns, until `seconds`
    * have passed (at least twice). Returns each step's result.
    */
  def loop[A](seconds: Int)(step: => A): Seq[A] = {
    val end = System.nanoTime() + seconds * 1000000000L
    val out = ArrayBuffer.empty[A]
    while (out.size < 2 || System.nanoTime() < end) out += step
    out.toSeq
  }

  def endToEnd(setupS: Double, msgsPerCpuS: Double, mbPerCpuS: Double,
               heapMb: Double): Seq[Metric] = Seq(
    ("setup_s", setupS, "s"), ("msgs_per_cpu_s", msgsPerCpuS, "1/cpu_s"),
    ("mb_per_cpu_s", mbPerCpuS, "MB/cpu_s"), ("live_heap_peak_mb", heapMb, "MB"))

  /** Wall-clock view of the measured steps (on a host whose hypervisor
    * steals CPU it moves with the neighbours, so it is a per-layer
    * reading, not a gate) and the JIT compile time the CPU readings
    * leave out.
    */
  def wallMetrics(msgsPerStep: Double, steps: Seq[Step], jitMs: Double): Seq[Metric] = Seq(
    ("run.msgs_per_s_wall", msgsPerStep / median(steps.map(_.wallMs)) * 1000, "1/s"),
    ("run.step_ms_p50", median(steps.map(_.wallMs)), "ms"),
    ("run.step_ms_p90", pct(steps.map(_.wallMs), 0.9), "ms"),
    ("run.step_cpu_ms_p50", median(steps.map(_.cpuMs)), "ms"),
    ("run.jit_ms", jitMs, "ms"))

  def overhead(untraced: Double, traced: Double): Seq[Metric] = Seq(
    ("trace.msgs_per_cpu_s_untraced", untraced, "1/cpu_s"),
    ("trace.msgs_per_cpu_s_traced", traced, "1/cpu_s"),
    ("trace.overhead_frac", 1 - traced / untraced, "ratio"))
}

import Workloads._

/** One measured step: wall and application-thread CPU milliseconds. */
final case class Step(wallMs: Double, cpuMs: Double)

object Step {
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  private val jit = java.lang.management.ManagementFactory.getCompilationMXBean

  /** CPU nanoseconds of each live application thread. The JVM's JIT
    * compiler and GC threads are not among them: compilation falls off
    * pass by pass long after set-up and would make the reading depend
    * on how warm the run is. Time the hypervisor steals from the guest
    * is not in it either.
    */
  type Cpu = Map[Long, Long]

  def cpu(): Cpu = {
    val ids = threads.getAllThreadIds
    val ns = threads.getThreadCpuTime(ids)
    ids.indices.collect { case i if ns(i) >= 0 => ids(i) -> ns(i) }.toMap
  }

  /** CPU ms between two readings, over the threads alive at the second. */
  def cpuMs(from: Cpu, to: Cpu): Double =
    to.iterator.map { case (id, ns) => ns - from.getOrElse(id, 0L) }.sum / 1e6

  /** Milliseconds the JIT compiler has spent compiling so far. */
  def jitMs(): Double = jit.getTotalCompilationTime.toDouble

  def of(f: => Any): Step = {
    val c0 = cpu(); val t0 = System.nanoTime()
    f
    Step((System.nanoTime() - t0) / 1e6, cpuMs(c0, cpu()))
  }

  def log(what: String, steps: Seq[Step]): Unit =
    Stats.log(s"$what: wall ${steps.map(x => f"${x.wallMs}%.0f").mkString(" ")} ms, " +
      s"cpu ${steps.map(x => f"${x.cpuMs}%.0f").mkString(" ")} ms")
}

/** Batch ingest: capture directory → `Inspector.records` → cached →
  * the four tables written to `noop` (one step = one pass).
  */
final class Batch(val name: String, traffic: Traffic) extends Workload {

  private def pass(spark: SparkSession, dir: String): Long = {
    val records = Inspector.records(spark, dir).cache()
    val n = records.count()
    Seq(Inspector.requests(records), Inspector.responses(records),
      Inspector.actionsTable(records), Inspector.resultsTable(records))
      .foreach(_.write.format("noop").mode("overwrite").save())
    records.unpersist()
    n
  }

  def run(ctx: Ctx): Result = {
    val cap = Gen.generate(traffic, ctx.seed, ctx.dir(name).resolve("capture"))
    log(s"generated ${cap.files.size} files, ${cap.bytes} bytes, ${cap.segments} segments " +
      s"(${cap.noiseSegments} noise), ${cap.truth.size} messages")
    val dir = cap.dir.toString
    val msgs = cap.truth.size.toLong
    var lost = 0L
    def checkedPass(spark: SparkSession): Step = Step.of {
      lost += math.abs(pass(spark, dir) - msgs)
    }
    val setupS = setup(ctx)(s => checkedPass(s))
    val spark = SparkSession.active
    (1 to WarmUpSteps).foreach(_ => checkedPass(spark))
    val host = Host.mark()
    val jit0 = Step.jitMs()
    Heap.arm()
    val passes = loop(ctx.seconds)(checkedPass(spark))
    val heapMb = Heap.disarm()
    val jitMs = Step.jitMs() - jit0
    val stamp = host.stamp()
    Step.log("timed passes", passes)
    log(s"host: $stamp")
    val records = Inspector.records(spark, dir).cache()
    val wrong = Check.tables(records, cap)
    records.unpersist()
    val failed = wrong + lost
    log(s"checked: $failed wrong")
    val cpuMs = median(passes.map(_.cpuMs))
    val msgsPerCpuS = msgs / cpuMs * 1000
    if (!ctx.trace)
      return Result(failed == 0, msgs, failed,
        endToEnd(setupS, msgsPerCpuS, cap.bytes / 1e6 / cpuMs * 1000, heapMb))

    val layers = new Layers
    layers ++= hostMetrics(stamp)
    layers ++= wallMetrics(msgs, passes, jitMs)
    layers("run.failed_frac") = failed.toDouble / msgs
    val tr = new Tracer(ctx.runId)
    val stats = new SparkStats
    spark.sparkContext.addSparkListener(stats)
    def stage(layer: String)(f: => Any): Step = tr.time("*", layer, "inspector")(Step.of(f))
    val segs, recs, full = ArrayBuffer.empty[Step]
    val t0 = System.nanoTime()
    loop(ctx.seconds) {
      segs += stage("inspector.segments_stage")(Inspector.segments(spark, dir).count())
      recs += stage("inspector.records_stage")(Inspector.records(spark, dir).count())
      full += stage("inspector.tables_stage")(checkedPass(spark))
    }
    layers ++= stats.metrics((System.nanoTime() - t0) / 1e6, ctx.cores)
    layers("inspector.segments_stage_ms") = median(segs.toSeq.map(_.wallMs))
    layers("inspector.records_stage_ms") = median(recs.toSeq.map(_.wallMs))
    layers("inspector.tables_stage_ms") = median(full.toSeq.map(_.wallMs))
    layers ++= overhead(msgsPerCpuS, msgs / median(full.toSeq.map(_.cpuMs)) * 1000)
    layers ++= Replay.run(cap.files, tr, state = false)
    val (queries, wrongQueries) = SqlMix.traced(ctx, spark, cap, layers, stats, tr)
    // the same pass on one task slot: the single-threaded baseline
    val one = ctx.session(1)
    checkedPass(one)
    layers("spark.core_scaling") = checkedPass(one).wallMs / median(full.toSeq.map(_.wallMs))
    tr.write(ctx.spansFile)
    val allFailed = wrong + lost + wrongQueries
    Result(allFailed == 0, msgs + queries, allFailed, layers.result)
  }
}

/** Streaming tail of rotated, gzipped captures: one file per trigger
  * through `InspectorStream` and the Kafka JSON shaping into `noop`
  * (one step = one trigger).
  */
final class Stream(val name: String, traffic: Traffic) extends Workload {

  private def start(spark: SparkSession, dir: String, ck: String): StreamingQuery = {
    val recs = InspectorStream.recordsFromPcapDir(spark, dir,
      withIdleTimeout = false, maxFilesPerTrigger = Some(1))
    val observed = recs.toDF().observe("truth", Check.fingerprint.head, Check.fingerprint.tail: _*)
    KafkaSink.jsonRecords(observed,
      KafkaSink.parseSpec("localhost:9092/hbase-requests/hbase-responses"), "graftbench")
      .observe("json", count(lit(1)).as("n"), count(col("value")).as("values"))
      .writeStream.format("noop")
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  private def observed(p: StreamingQueryProgress, name: String): Row = p.observedMetrics.get(name)

  def run(ctx: Ctx): Result = {
    val cap = Gen.generate(traffic, ctx.seed, ctx.dir(name).resolve("capture"))
    log(s"generated ${cap.files.size} files, ${cap.bytes} bytes, ${cap.segments} segments " +
      s"(${cap.noiseSegments} noise), ${cap.truth.size} messages")
    val dir = cap.dir.toString
    var n = 0
    def ck() = { n += 1; ctx.work.resolve(s"checkpoint-$n").toString }
    // set-up ends with the first trigger of the replay; the query then
    // runs on as the warm-up
    var warmUp: StreamingQuery = null
    val setupS = setup(ctx) { s =>
      warmUp = start(s, dir, ck())
      while (warmUp.lastProgress == null && warmUp.isActive) Thread.sleep(2)
    }
    while (warmUp.recentProgress.length < WarmUpSteps && warmUp.isActive) Thread.sleep(2)
    warmUp.stop()
    val spark = SparkSession.active

    /** A replay from the first file for `seconds`: its completed
      * triggers in order, and the JVM CPU ms at the end of each.
      */
    def replay(): (Seq[StreamingQueryProgress], Map[Long, Step.Cpu]) = {
      val q = start(spark, dir, ck())
      val end = System.nanoTime() + ctx.seconds * 1000000000L
      val cpuAt = scala.collection.mutable.Map.empty[Long, Step.Cpu]
      while (q.isActive && System.nanoTime() < end) {
        val p = q.lastProgress
        if (p != null && !cpuAt.contains(p.batchId)) cpuAt(p.batchId) = Step.cpu()
        Thread.sleep(1)
      }
      q.stop()
      (q.recentProgress.toSeq.filter(_.numInputRows > 0).sortBy(_.batchId), cpuAt.toMap)
    }

    /** Triggers after the first (which also starts the query), as steps
      * with their messages and capture bytes.
      */
    def steps(progress: Seq[StreamingQueryProgress], cpuAt: Map[Long, Step.Cpu]) =
      progress.drop(1).filter(p => cpuAt.contains(p.batchId) && cpuAt.contains(p.batchId - 1))
        .map { p =>
          (Step(p.batchDuration.toDouble, Step.cpuMs(cpuAt(p.batchId - 1), cpuAt(p.batchId))),
            observed(p, "truth").getLong(0), Files.size(cap.files(p.batchId.toInt)))
        }

    val host = Host.mark()
    val jit0 = Step.jitMs()
    Heap.arm()
    val (progress, cpuAt) = replay()
    val heapMb = Heap.disarm()
    val jitMs = Step.jitMs() - jit0
    val stamp = host.stamp()
    val measured = steps(progress, cpuAt)
    Step.log("timed triggers", measured.map(_._1))
    log(s"host: $stamp")
    require(measured.size >= 2, s"only ${measured.size} triggers measured in ${ctx.seconds} s")

    val files = progress.size
    require(progress.map(_.batchId) == (0L until files), "triggers are not one file each, in order")
    val (attempted, fpFailed) = Check.stream(spark, progress.map(observed(_, "truth")), cap, files)
    val emitted = progress.map(observed(_, "truth").getLong(0)).sum
    val json = progress.map(observed(_, "json"))
    // every record must leave the sink as one non-null JSON value
    val failed = fpFailed +
      math.abs(json.map(_.getLong(0)).sum - emitted) + math.abs(json.map(_.getLong(1)).sum - emitted)
    log(s"checked: $failed wrong")
    val cpuS = measured.map(_._1.cpuMs).sum / 1000
    val msgsPerCpuS = measured.map(_._2).sum / cpuS
    if (!ctx.trace)
      return Result(failed == 0, attempted, failed,
        endToEnd(setupS, msgsPerCpuS, measured.map(_._3).sum / 1e6 / cpuS, heapMb))

    val layers = new Layers
    layers ++= hostMetrics(stamp)
    layers ++= wallMetrics(measured.map(_._2).sum.toDouble / measured.size, measured.map(_._1), jitMs)
    layers("run.failed_frac") = failed.toDouble / attempted
    val tr = new Tracer(ctx.runId)
    val stats = new SparkStats
    val streams = new StreamStats
    spark.sparkContext.addSparkListener(stats)
    spark.streams.addListener(streams)
    val t0 = System.nanoTime()
    val (traced, tracedCpu) = tr.time("*", "streaming.replay", "streaming")(replay())
    val wallMs = (System.nanoTime() - t0) / 1e6
    spark.streams.removeListener(streams)
    layers ++= stats.metrics(wallMs, ctx.cores)
    val ps = streams.synchronized(streams.progress.toSeq).filter(_.numInputRows > 0)
    def phase(k: String) = median(ps.map(p => Option(p.durationMs.get(k)).fold(0.0)(_.doubleValue)))
    val ops = ps.flatMap(_.stateOperators.headOption)
    layers("streaming.add_batch_ms_p50") = phase("addBatch")
    layers("streaming.wal_commit_ms_p50") = phase("walCommit")
    layers("streaming.commit_offsets_ms_p50") = phase("commitOffsets")
    layers("streaming.latest_offset_ms_p50") = phase("latestOffset")
    layers("streaming.planning_ms_p50") = phase("queryPlanning")
    layers("streaming.state_commit_ms_p50") = median(ops.map(_.commitTimeMs.toDouble))
    layers("streaming.state_update_ms_p50") = median(ops.map(_.allUpdatesTimeMs.toDouble))
    layers("streaming.state_rows_updated") = ops.map(_.numRowsUpdated).sum.toDouble
    layers("streaming.state_rows_peak") = ops.map(_.numRowsTotal).maxOption.getOrElse(0L).toDouble
    layers("streaming.state_mb_peak") = ops.map(_.memoryUsedBytes).maxOption.getOrElse(0L) / 1e6
    val tracedSteps = steps(traced, tracedCpu)
    layers ++= overhead(msgsPerCpuS, tracedSteps.map(_._2).sum / tracedSteps.map(_._1.cpuMs).sum * 1000)
    // the Kafka JSON shaping alone, over the whole capture's records
    val recs = Inspector.records(spark, dir).cache()
    recs.count()
    val sink = KafkaSink.jsonRecords(recs.toDF(),
      KafkaSink.parseSpec("localhost:9092/hbase-requests/hbase-responses"), "graftbench")
    layers("streaming.json_sink_ms") = median((1 to 3).map(_ =>
      timeMs(sink.write.format("noop").mode("overwrite").save())._2))
    recs.unpersist()
    layers ++= Replay.run(cap.files.take(files), tr, state = true)
    tr.write(ctx.spansFile)
    Result(failed == 0, attempted, failed, layers.result)
  }
}

/** Analyst SQL over the four tables persisted by `Inspector.saveTables`:
  * a fixed mix of queries, one at a time from one client. Each result is
  * compared with the same query over the ground truth.
  */
object SqlMix {

  /** The query mix; `$p` is the table-name prefix. */
  val Queries: Seq[(String, String)] = Seq(
    "method_counts" ->
      "SELECT method, count(*) AS n, sum(cells) AS cells FROM $p_requests GROUP BY method",
    "slowest_calls" ->
      """SELECT client, port, call_id, method, elapsed FROM $p_responses
        |WHERE elapsed IS NOT NULL ORDER BY elapsed DESC, client, port, call_id LIMIT 20""".stripMargin,
    "request_response_join" ->
      """SELECT q.method, count(*) AS n, sum(s.elapsed) AS elapsed, sum(q.cells + s.cells) AS cells
        |FROM $p_requests q JOIN $p_responses s
        |  ON q.client = s.client AND q.port = s.port AND q.call_id = s.call_id
        |GROUP BY q.method""".stripMargin,
    "elapsed_percentiles" ->
      """SELECT method, percentile(elapsed, array(0.5, 0.9, 0.99)) AS p FROM $p_responses
        |WHERE elapsed IS NOT NULL GROUP BY method""".stripMargin,
    "hot_regions" ->
      """SELECT `table`, region, count(*) AS n FROM $p_requests WHERE region IS NOT NULL
        |GROUP BY `table`, region ORDER BY n DESC, `table`, region LIMIT 10""".stripMargin,
    "error_rate" ->
      """SELECT `table`, count(*) AS n, avg(CASE WHEN error IS NULL THEN 0.0 ELSE 1.0 END) AS rate
        |FROM $p_responses GROUP BY `table`""".stripMargin,
    "scan_sessions" ->
      """SELECT q.client, q.port, count(*) AS calls, sum(s.cells) AS cells
        |FROM $p_requests q JOIN $p_responses s
        |  ON q.client = s.client AND q.port = s.port AND q.call_id = s.call_id
        |WHERE q.method IN ('open-scanner', 'next-rows', 'close-scanner')
        |GROUP BY q.client, q.port ORDER BY cells DESC, q.client, q.port LIMIT 20""".stripMargin,
    "multi_actions" ->
      """SELECT `table`, method, count(*) AS n, sum(cells) AS cells FROM $p_actions
        |GROUP BY `table`, method""".stripMargin)

  private def sql(p: String, i: Int) = Queries(i)._2.replace("$p", p)

  /** The truth as the views the queries read. */
  private def truthViews(spark: SparkSession, cap: Capture): Unit = {
    import spark.implicits._
    val base = Seq("client", "port", "call_id", "method", "table", "region", "cells", "batch")
    val t = Check.truthFrame(spark, cap.truth)
    t.filter(col("inbound")).select(base.map(col): _*).createOrReplaceTempView("truth_requests")
    t.filter(!col("inbound")).select((base :+ "error" :+ "elapsed").map(col): _*)
      .createOrReplaceTempView("truth_responses")
    cap.children.filter(_.inbound).toDS().createOrReplaceTempView("truth_actions")
  }

  /** Persists the capture's tables, runs the mix once cold, then whole
    * rounds for half of `seconds` with the query listeners attached. Fills the
    * `sql.*` layers; returns (queries run, queries wrong).
    */
  def traced(ctx: Ctx, spark: SparkSession, cap: Capture, layers: Layers,
             stats: SparkStats, tr: Tracer): (Long, Long) = {
    layers("sql.save_tables_ms") = timeMs(tr.time("*", "sql.save_tables", "sql")(
      Inspector.saveTables(spark, cap.dir.toString, "bench")))._2
    truthViews(spark, cap)
    val expected = Queries.indices.map(i => Check.canon(spark.sql(sql("truth", i)).collect().toSeq))
    var failed = 0L
    var runs = 0L
    def query(q: Int): Double = {
      val (rows, ms) = timeMs(tr.time("*", "sql." + Queries(q)._1, "sql")(
        spark.sql(sql("bench", q)).collect()))
      if (Check.canon(rows.toSeq) != expected(q)) failed += 1
      runs += 1
      ms
    }
    Queries.indices.foreach(query) // cold round, untimed
    val queries = new SqlStats
    spark.listenerManager.register(queries)
    stats.reset()
    val codegen0 = Codegen.compileMs()
    val end = System.nanoTime() + ctx.seconds * 500000000L // half the run length
    val times = ArrayBuffer.empty[Double]
    while (times.isEmpty || System.nanoTime() < end) times ++= Queries.indices.map(query)
    log(s"timed ${times.size} queries: ${times.map(x => f"$x%.0f").mkString(" ")} ms")
    // listener events arrive asynchronously
    val deadline = System.nanoTime() + 2000000000L
    while (queries.synchronized(queries.queries.size) < times.size &&
        System.nanoTime() < deadline) Thread.sleep(10)
    spark.listenerManager.unregister(queries)
    val qs = queries.synchronized(queries.queries.toSeq)
    layers("sql.query_ms_p50") = median(times.toSeq)
    layers("sql.query_ms_p90") = pct(times.toSeq, 0.9)
    layers("sql.analysis_ms") = median(qs.map(_.analysisMs))
    layers("sql.optimizer_ms") = median(qs.map(_.optimizerMs))
    layers("sql.planning_ms") = median(qs.map(_.planningMs))
    layers("sql.exec_ms") = median(qs.map(_.execMs))
    layers("sql.exchanges") = if (qs.isEmpty) 0.0 else qs.map(_.exchanges).sum.toDouble / qs.size
    layers("sql.codegen_compile_ms") = Codegen.compileMs() - codegen0
    layers("sql.scan_mb") = stats.inputMb / times.size
    (runs, failed)
  }
}
