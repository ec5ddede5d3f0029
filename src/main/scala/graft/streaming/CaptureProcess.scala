package graft.streaming

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

/** In-process live capture: launches the staged tcpdump rotation
  * ([[InspectorStream.captureCommand]]) as a managed child OS process.
  *
  * The reference runs its capture in-process (pcap.clj:16-33 `live-handle`,
  * core.clj:422-444 `read-net-interface`: pcap4j loop on a daemon thread).
  * graft's Spark-native decomposition keeps the OS half (tcpdump writes
  * rotated, gzipped, atomically-moved files) and the engine half (the
  * streaming file source tails the directory) separate — but the process
  * itself is owned HERE, so `graft.Main -i eth0 -k ...` is one command,
  * like the reference, not a copy-paste-the-tcpdump-line two-step.
  *
  * Lifecycle contract:
  *  - stdout/stderr of the capture pipeline go to `<dir>/.staging/capture.log`
  *    (dot-prefixed: invisible to Spark's file listing, like the staging
  *    files themselves).
  *  - [[Handle.stop]] SIGTERMs the whole process TREE (tcpdump plus the
  *    shell that launched it plus any in-flight `-z` gzip child), waits a
  *    grace period, then SIGKILLs survivors. tcpdump flushes its current
  *    file on SIGTERM; the half-rotated file stays in `.staging/` and is
  *    never surfaced to the stream — exactly-once holds across operator
  *    restarts.
  *  - A capture that dies on its own (no interface, no permission, no
  *    tcpdump binary) is observable via [[Handle.isAlive]] /
  *    [[Handle.exitCode]] / [[Handle.logTail]] — start() does NOT throw on
  *    late failure, because tcpdump reports most errors after exec.
  */
object CaptureProcess {

  final class Handle private[CaptureProcess] (
      val process: Process, val dir: String, val logFile: File) {

    def isAlive: Boolean = process.isAlive

    /** Exit code if the process has terminated. */
    def exitCode: Option[Int] =
      if (process.isAlive) None else Some(process.exitValue())

    /** Block up to `ms` for self-termination (e.g. a failed exec). */
    def awaitExit(ms: Long): Option[Int] =
      if (process.waitFor(ms, TimeUnit.MILLISECONDS)) Some(process.exitValue())
      else None

    /** Terminate the capture: SIGTERM to every process in the tree, a
      * grace wait, then SIGKILL for anything still alive. The descendant
      * set is snapshotted both BEFORE the root's SIGTERM (a fast-exiting
      * root would otherwise empty `descendants()` and orphan its children
      * unkilled) and AFTER it (catching a child spawned in between); the
      * snapshot's ProcessHandles stay valid even once orphans are
      * reparented to init, so the final force-kill pass reaps them —
      * `descendants()` of a dead root could not. Idempotent.
      */
    def stop(graceMs: Long = 5000): Int = {
      if (process.isAlive) {
        val before = process.descendants().iterator().asScala.toList
        process.destroy()
        val kids =
          (before ++ process.descendants().iterator().asScala.toList).distinct
        kids.foreach(_.destroy())
        if (!process.waitFor(graceMs, TimeUnit.MILLISECONDS)) {
          process.destroyForcibly()
          process.waitFor(graceMs, TimeUnit.MILLISECONDS)
        }
        // the children get the SAME grace the root got before any SIGKILL:
        // the sh wrapper dies in milliseconds on SIGTERM, so the root wait
        // alone would force-kill an in-flight `-z` gzip/mv rotation child
        // that was TERMed only an instant ago, losing the finished file
        val deadline = System.nanoTime() + graceMs * 1000000L
        kids.foreach { k =>
          val left = deadline - System.nanoTime()
          if (k.isAlive && left > 0)
            try k.onExit().get(left, TimeUnit.NANOSECONDS)
            catch { case _: Exception => () }
        }
        kids.filter(_.isAlive).foreach(_.destroyForcibly())
      }
      if (process.isAlive) -1 else process.exitValue()
    }

    /** Last `maxBytes` of the capture log — the diagnostic surface for a
      * capture that exited (tcpdump prints its errors there).
      */
    def logTail(maxBytes: Int = 4096): String =
      if (!logFile.exists()) ""
      else {
        val all = Files.readAllBytes(logFile.toPath)
        val from = math.max(0, all.length - maxBytes)
        new String(all, from, all.length - from, StandardCharsets.UTF_8)
      }
  }

  /** Launch the standard capture pipeline for `iface` feeding `dir`.
    * See [[InspectorStream.captureCommand]] for the BPF/rotation shape.
    */
  def start(iface: String, dir: String,
            ports: Set[Int] = graft.inspector.Inspector.HbasePorts): Handle =
    startCommand(InspectorStream.captureCommand(iface, dir, ports), dir)

  /** Launch an arbitrary capture shell command feeding `dir` (the spec
    * seam, and the escape hatch for a non-tcpdump capture source).
    */
  def startCommand(command: String, dir: String): Handle = {
    val staging = Paths.get(dir, ".staging")
    Files.createDirectories(staging)
    val log = staging.resolve("capture.log").toFile
    val pb = new ProcessBuilder("sh", "-c", command)
      .redirectErrorStream(true)
      .redirectOutput(ProcessBuilder.Redirect.appendTo(log))
    new Handle(pb.start(), dir, log)
  }
}
