package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Aggregated spans: one per (file, layer), holding the call count, the
  * summed duration and the first start / last end, with the parent
  * layer and the run id every span of a run shares. Kept in memory and
  * written out once at the end, so tracing costs two clock reads and a
  * map update per call.
  */
final class Tracer(val runId: String) {
  private final class Agg(val parent: String) {
    var calls = 0L; var ns = 0L; var start = Long.MaxValue; var end = 0L
  }
  private val spans = mutable.LinkedHashMap.empty[(String, String), Agg]

  def time[A](file: String, layer: String, parent: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    add(file, layer, parent, t0, System.nanoTime())
    r
  }

  def add(file: String, layer: String, parent: String, t0: Long, t1: Long): Unit = {
    val a = spans.getOrElseUpdate((file, layer), new Agg(parent))
    a.calls += 1; a.ns += t1 - t0
    if (t0 < a.start) a.start = t0
    if (t1 > a.end) a.end = t1
  }

  /** Summed milliseconds of one layer over all files. */
  def ms(layer: String): Double =
    spans.iterator.filter(_._1._2 == layer).map(_._2.ns).sum / 1e6

  def write(path: Path): Unit = {
    val sb = new StringBuilder
    spans.foreach { case ((file, layer), a) =>
      sb.append(s"""{"run":"$runId","file":"${Json.esc(file)}","name":"$layer",""" +
        s""""parent":"${a.parent}","calls":${a.calls},"ms":${a.ns / 1e6},""" +
        s""""start_ns":${a.start},"end_ns":${a.end}}""").append('\n')
    }
    Files.createDirectories(path.getParent)
    Files.write(path, sb.toString.getBytes(UTF_8))
  }
}

/** Task and stage totals from a `SparkListener`, between two marks. */
final class SparkStats extends SparkListener {
  private final class Task(val stage: Int, val runMs: Long, val cpuNs: Long,
      val gcMs: Long, val shW: Long, val shR: Long, val fetchMs: Long,
      val spill: Long, val input: Long)
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val stages = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += new Task(e.stageId, m.executorRunTime, m.executorCpuTime,
      m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime) stages += ((s, c))
  }

  def reset(): Unit = synchronized { tasks.clear(); stages.clear() }

  def inputMb: Double = synchronized { tasks.map(_.input).sum / 1e6 }

  /** Metrics over everything recorded since `reset`, for a region of
    * `wallMs` on `cores` task slots.
    */
  def metrics(wallMs: Double, cores: Int): Seq[(String, Double, String)] = synchronized {
    val runMs = tasks.map(_.runMs).sum.toDouble
    // skew in the heaviest stage: max / median task run time
    val skew = tasks.groupBy(_.stage).values.maxByOption(_.map(_.runMs).sum).map { ts =>
      val sorted = ts.map(_.runMs.toDouble).sorted
      sorted.last / math.max(1.0, sorted(sorted.size / 2))
    }.getOrElse(0.0)
    // wall time not covered by any stage: driver-side serial work
    var covered = 0L; var edge = Long.MinValue
    stages.sortBy(_._1).foreach { case (s, c) =>
      val from = math.max(s, edge)
      if (c > from) { covered += c - from; edge = c }
    }
    Seq(
      ("spark.task_cpu_ms", tasks.map(_.cpuNs).sum / 1e6, "ms"),
      ("spark.task_run_ms", runMs, "ms"),
      ("spark.gc_ms", tasks.map(_.gcMs).sum.toDouble, "ms"),
      ("spark.shuffle_write_mb", tasks.map(_.shW).sum / 1e6, "MB"),
      ("spark.shuffle_read_mb", tasks.map(_.shR).sum / 1e6, "MB"),
      ("spark.fetch_wait_ms", tasks.map(_.fetchMs).sum.toDouble, "ms"),
      ("spark.spill_mb", tasks.map(_.spill).sum / 1e6, "MB"),
      ("spark.stages", stages.size.toDouble, "count"),
      ("spark.tasks", tasks.size.toDouble, "count"),
      ("spark.task_skew", skew, "ratio"),
      ("spark.parallel_efficiency", if (wallMs > 0) runMs / (wallMs * cores) else 0.0, "ratio"),
      ("spark.driver_serial_ms", math.max(0.0, wallMs - covered), "ms"))
  }
}

final case class QueryStat(analysisMs: Double, optimizerMs: Double, planningMs: Double,
    execMs: Double, exchanges: Int)

/** Planning phases, execution time and exchanges of every successful
  * query, from a `QueryExecutionListener`.
  */
final class SqlStats extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  val queries = mutable.ArrayBuffer.empty[QueryStat]

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def phase(n: String) = ph.get(n).map(_.durationMs.toDouble).getOrElse(0.0)
    val ex = collect(qe.executedPlan) { case e: ShuffleExchangeLike => e }.size
    synchronized {
      queries += QueryStat(phase("analysis"), phase("optimization"), phase("planning"),
        durationNs / 1e6, ex)
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** Every progress report of every streaming query, from a
  * `StreamingQueryListener`.
  */
final class StreamStats extends StreamingQueryListener {
  import StreamingQueryListener._
  val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized(progress += e.progress)
}

/** Compiled-code time from Spark's codegen histogram (summed over the
  * samples its reservoir holds).
  */
object Codegen {
  def compileMs(): Double = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    h.getSnapshot.getValues.sum.toDouble
  }
}
