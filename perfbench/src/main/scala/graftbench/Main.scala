package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run: generate the workload's capture from the seed,
  * set up, measure for `--seconds`, check the output against the
  * ground truth, and print one result line
  * (`GRAFTBENCH_RESULT {json}`). With `--trace 1` the run also measures
  * a traced region and reports the per-layer metrics instead of the
  * end-to-end ones.
  *
  * Usage: graftbench.Main --workload NAME --seed N --seconds S
  *          --trace 0|1 --work DIR
  */
object Main {

  type Metric = (String, Double, String)

  final case class Result(correct: Boolean, attempted: Long, failed: Long,
                          metrics: Seq[Metric])

  /** Per-layer metric names and units, in report order; a traced run
    * reports every one (zero where the workload's timed region does not
    * reach the layer).
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "pcap.read_ms" -> "ms", "pcap.gunzip_ms" -> "ms", "pcap.link_decode_ms" -> "ms",
    "pcap.records" -> "count", "pcap.segments_kept_ratio" -> "ratio",
    "inspector.reassembly_ms" -> "ms", "inspector.frames_per_segment" -> "ratio",
    "inspector.desync_resets" -> "count",
    "proto.decode_ms" -> "ms", "proto.frames" -> "count", "proto.bytes_per_frame" -> "bytes",
    "proto.decode_failed" -> "count",
    "inspector.scan_state_ms" -> "ms", "inspector.shaping_ms" -> "ms",
    "inspector.child_rows" -> "count", "inspector.conn_tracker_ms" -> "ms",
    "inspector.conn_tracker_parts_ms" -> "ms", "inspector.conn_tracker_coverage" -> "ratio",
    "inspector.replay_records" -> "count",
    "inspector.unmatched_responses" -> "count", "inspector.pending_at_end" -> "count",
    "inspector.segments_stage_ms" -> "ms", "inspector.records_stage_ms" -> "ms",
    "inspector.tables_stage_ms" -> "ms",
    "spark.task_cpu_ms" -> "ms", "spark.task_run_ms" -> "ms", "spark.gc_ms" -> "ms",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
    "spark.fetch_wait_ms" -> "ms", "spark.spill_mb" -> "MB", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.task_skew" -> "ratio",
    "spark.parallel_efficiency" -> "ratio", "spark.driver_serial_ms" -> "ms",
    "spark.core_scaling" -> "ratio",
    "streaming.add_batch_ms_p50" -> "ms", "streaming.wal_commit_ms_p50" -> "ms",
    "streaming.commit_offsets_ms_p50" -> "ms", "streaming.latest_offset_ms_p50" -> "ms",
    "streaming.planning_ms_p50" -> "ms", "streaming.state_commit_ms_p50" -> "ms",
    "streaming.state_update_ms_p50" -> "ms", "streaming.state_rows_updated" -> "count",
    "streaming.state_rows_peak" -> "count", "streaming.state_mb_peak" -> "MB",
    "streaming.state_ser_ms" -> "ms", "streaming.snapshot_bytes" -> "bytes",
    "streaming.json_sink_ms" -> "ms",
    "sql.save_tables_ms" -> "ms", "sql.analysis_ms" -> "ms", "sql.optimizer_ms" -> "ms",
    "sql.planning_ms" -> "ms", "sql.codegen_compile_ms" -> "ms", "sql.exec_ms" -> "ms",
    "sql.exchanges" -> "count", "sql.scan_mb" -> "MB",
    "sql.query_ms_p50" -> "ms", "sql.query_ms_p90" -> "ms",
    "run.msgs_per_s_wall" -> "1/s", "run.step_ms_p50" -> "ms", "run.step_ms_p90" -> "ms",
    "run.step_cpu_ms_p50" -> "ms", "run.jit_ms" -> "ms", "run.failed_frac" -> "ratio",
    "trace.msgs_per_cpu_s_untraced" -> "1/cpu_s", "trace.msgs_per_cpu_s_traced" -> "1/cpu_s",
    "trace.overhead_frac" -> "ratio",
    "host.steal_ms" -> "ms", "host.load_delta" -> "load", "host.foreign_jvms" -> "count")

  def main(argv: Array[String]): Unit = {
    Stats.log("start")
    val opts = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val needed = Seq("workload", "seed", "seconds", "trace", "work")
    needed.filterNot(opts.contains).foreach { k =>
      System.err.println(s"missing --$k"); sys.exit(2)
    }
    val workload = Workloads.byName.getOrElse(opts("workload"), {
      System.err.println(s"unknown workload ${opts("workload")}; known: " +
        Workloads.byName.keys.toSeq.sorted.mkString(", "))
      sys.exit(2)
    })
    val ctx = new Ctx(Paths.get(opts("work")).toAbsolutePath, opts("seed").toLong,
      opts("seconds").toInt, opts("trace") == "1", workload.name)
    val r = workload.run(ctx)
    val ms = r.metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${Json.num(v)}, "unit": "$u"}""" }
    println(s"""GRAFTBENCH_RESULT {"correct": ${r.correct}, "attempted": ${r.attempted}, """ +
      s""""failed": ${r.failed}, "metrics": {${ms.mkString(", ")}}}""")
    System.out.flush()
    // Spark leaves non-daemon threads behind; the result is out
    sys.exit(0)
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}

/** The highest heap occupancy right after any GC, from GC
  * notifications, while armed.
  */
object Heap {
  @volatile private var armed = false
  private val peak = new AtomicLong(0L)

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: Any) =>
        if (armed && n.getType ==
            com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
          peak.accumulateAndGet(used, math.max(_, _))
        }, null, null)
    case _ =>
  }

  def arm(): Unit = { peak.set(0L); armed = true }

  /** Peak in MB since `arm`; with no GC in between, the heap in use now. */
  def disarm(): Double = {
    armed = false
    val p = peak.get()
    (if (p > 0) p else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed) / 1e6
  }
}

/** Per-run settings and the Spark session the run measures. */
final class Ctx(val work: Path, val seed: Long, val seconds: Int, val trace: Boolean,
                val workload: String) {
  /** Task slots: every core the host gives this process. */
  val cores: Int = Runtime.getRuntime.availableProcessors()
  val runId: String = f"$workload-$seed-${ProcessHandle.current().pid()}"

  private var current: SparkSession = _

  def session(slots: Int = cores): SparkSession = {
    stop()
    current = graft.Sessions.tune(SparkSession.builder()
      .master(s"local[$slots]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString))
      .getOrCreate()
    current.sparkContext.setLogLevel("ERROR")
    current
  }

  def stop(): Unit = if (current != null) {
    current.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    current = null
  }

  def dir(name: String): Path = Files.createDirectories(work.resolve(name))

  /** Where a traced run leaves its spans: beside the work directory,
    * which is removed when the run ends.
    */
  def spansFile: Path = work.getParent.resolve("traces").resolve(s"$runId.jsonl")
}

object Stats {
  private val start = System.nanoTime()

  /** A progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[graftbench ${(System.nanoTime() - start) / 1e9}%7.2fs] $msg")

  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  def timeMs[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def hostMetrics(h: HostStamp): Seq[Main.Metric] = Seq(
    ("host.steal_ms", h.stealMs, "ms"), ("host.load_delta", h.loadDelta, "load"),
    ("host.foreign_jvms", h.foreignJvms.toDouble, "count"))
}

/** Collects a traced run's per-layer metrics and fills in zeros for
  * the layers its workload does not reach.
  */
final class Layers {
  private val m = mutable.LinkedHashMap.empty[String, Double]
  def ++=(xs: Seq[Main.Metric]): Unit = xs.foreach { case (n, v, _) => m(n) = v }
  def update(n: String, v: Double): Unit = m(n) = v
  def result: Seq[Main.Metric] = {
    val unknown = m.keySet -- Main.PerLayer.map(_._1)
    require(unknown.isEmpty, s"undeclared per-layer metrics: $unknown")
    Main.PerLayer.map { case (n, u) => (n, m.getOrElse(n, 0.0), u) }
  }
}
