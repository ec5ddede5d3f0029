package graft.streaming

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

class CaptureProcessSpec extends AnyFunSuite {

  private def tmpDir(): String = graft.TestSpark.tempDir("graft_capture")

  test("stop terminates the whole process tree, idempotently") {
    val dir = tmpDir()
    // a shell with two sleeping children — the tcpdump+rotate-child shape
    val h = CaptureProcess.startCommand("sleep 60 & sleep 60 & wait", dir)
    assert(h.isAlive)
    // let the children spawn
    val deadline = System.nanoTime() + 5e9.toLong
    while (h.process.descendants().count() < 2 && System.nanoTime() < deadline)
      Thread.sleep(20)
    val kids = h.process.descendants().iterator().asScala.toList
    assert(kids.size >= 2, s"expected 2 children, saw ${kids.size}")
    h.stop(graceMs = 2000)
    assert(!h.isAlive)
    assert(h.exitCode.isDefined)
    // no orphans: every recorded descendant is gone
    val kidDeadline = System.nanoTime() + 5e9.toLong
    while (kids.exists(_.isAlive) && System.nanoTime() < kidDeadline)
      Thread.sleep(20)
    assert(kids.forall(!_.isAlive), "capture child outlived stop()")
    // second stop is a no-op with the same exit code
    assert(h.stop() === h.exitCode.get)
  }

  test("self-termination is observable: exit code + stderr in logTail") {
    val dir = tmpDir()
    val h = CaptureProcess.startCommand("echo no-such-interface >&2; exit 7", dir)
    assert(h.awaitExit(5000) === Some(7))
    assert(h.logTail().contains("no-such-interface"))
  }

  test("capture files land in the watched dir; the log stays under .staging") {
    val dir = tmpDir()
    val q = "'" + dir + "'"
    val h = CaptureProcess.startCommand(
      s"echo data > $q/.staging/part; mv $q/.staging/part $q/capture-1.pcap; sleep 60",
      dir)
    val deadline = System.nanoTime() + 5e9.toLong
    while (!Files.exists(java.nio.file.Paths.get(dir, "capture-1.pcap")) &&
           System.nanoTime() < deadline) Thread.sleep(20)
    assert(Files.exists(java.nio.file.Paths.get(dir, "capture-1.pcap")))
    assert(h.logFile.getPath.contains(".staging"))
    h.stop(graceMs = 1000)
    assert(!h.isAlive)
  }

  test("the real tcpdump launch path fails observably on a bogus interface") {
    val dir = tmpDir()
    // no tcpdump binary in the sandbox (or no such device where there is
    // one): either way the pipeline must die with a nonzero code and leave
    // its complaint in the log, not hang or vanish silently
    val h = CaptureProcess.start("graft-no-such-iface0", dir)
    val code = h.awaitExit(10000)
    assert(code.isDefined, "capture with a bogus interface did not exit")
    assert(code.get !== 0)
    assert(h.logTail().nonEmpty)
    assert(Files.isDirectory(java.nio.file.Paths.get(dir, ".staging")))
  }
}
