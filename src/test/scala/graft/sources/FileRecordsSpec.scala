package graft.sources

import java.io.{ByteArrayInputStream, InputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.inspector.{Inspector, SyntheticTraffic}
import graft.pcap.PcapFile
import graft.streaming.InspectorStream

/** The one file reader every source shares: files are streamed, never
  * loaded whole — neither by Spark (`content` is pruned) nor by the
  * decoders (no whole-file array, so no 2 GiB ceiling).
  */
class FileRecordsSpec extends SparkSpec {

  private def withMaxLength[T](n: Int)(body: => T): T = {
    val key = "spark.sql.sources.binaryFile.maxLength"
    spark.conf.set(key, n.toLong)
    try body finally spark.conf.unset(key)
  }

  private def sizes(dir: Path): Seq[Long] = {
    val files = Files.list(dir)
    try files.iterator().asScala.map(Files.size).toVector finally files.close()
  }

  test("binaryFile content is never read: every source decodes past maxLength") {
    val pcaps = Paths.get(SyntheticTraffic.ensurePcapDir())
    val docs = Paths.get(graft.TestSpark.tempDir("graft_file_records"))
    Files.write(docs.resolve("a.warc"), Warc.render(Seq(
      Warc.WarcRecord("response", "<urn:uuid:1>", "doc://1", "2026-01-01T00:00:00Z",
        "text/plain", "a WARC payload longer than the limit".getBytes(StandardCharsets.UTF_8)))))
    Files.write(docs.resolve("b.tfrecord.gz"), TfRecord.render(Seq(
      TfRecord.encodeExample(Seq("doc_id" -> TfRecord.Feature.of(1L))),
      TfRecord.encodeExample(Seq("doc_id" -> TfRecord.Feature.of(2L)))), gzip = true))
    val limit = 16
    assert((sizes(pcaps) ++ sizes(docs)).forall(_ > limit))
    val messages = (SyntheticTraffic.ExpectedRequests + SyntheticTraffic.ExpectedResponses).toLong
    withMaxLength(limit) {
      assert(Inspector.records(spark, pcaps.toString).count() === messages)
      assert(Inspector.packets(spark, pcaps.toString).count() === 30)
      assert(Warc.read(spark, docs.toString).count() === 1)
      assert(TfRecord.read(spark, docs.toString).count() === 2)
      val query = InspectorStream
        .recordsFromPcapDir(spark, pcaps.toString, withIdleTimeout = false)
        .writeStream.format("memory").queryName("file_records_pruned")
        .trigger(Trigger.AvailableNow()).start()
      assert(query.awaitTermination(120000), "AvailableNow replay must terminate")
      assert(query.exception.isEmpty)
      assert(spark.table("file_records_pruned").count() === messages)
    }
  }

  /** A classic pcap of `n` records of `len` zero bytes, timestamps 1 ms
    * apart, generated as it is read and never held whole.
    */
  private final class GeneratedPcap(n: Int, len: Int, startMicros: Long) extends InputStream {
    private val record = new Array[Byte](16 + len)
    private var cur = new PcapFile.Writer().toBytes // the 24-byte global header
    private var pos = 0
    private var index = -1
    var emitted = 0L

    private def put32(off: Int, v: Long): Unit =
      (0 until 4).foreach(i => record(off + i) = (v >>> (8 * i)).toByte)

    override def read(): Int = {
      val b = new Array[Byte](1)
      if (read(b, 0, 1) < 0) -1 else b(0) & 0xff
    }

    override def read(b: Array[Byte], off: Int, want: Int): Int = {
      if (pos == cur.length) {
        if (index + 1 == n) return -1
        index += 1
        val ts = startMicros + index * 1000L
        put32(0, ts / 1000000L); put32(4, ts % 1000000L); put32(8, len); put32(12, len)
        cur = record; pos = 0
      }
      val k = math.min(want, cur.length - pos)
      System.arraycopy(cur, pos, b, off, k)
      pos += k; emitted += k
      k
    }
  }

  test("a capture longer than Int.MaxValue bytes decodes as a stream in flat heap") {
    val n = 32768
    val start = 1700000000000000L
    val in = new GeneratedPcap(n, 65536 - 16, start)
    def usedAfterGc(): Long = {
      System.gc()
      val rt = Runtime.getRuntime
      rt.totalMemory - rt.freeMemory
    }
    val base = usedAfterGc()
    var peak = base
    var count = 0
    var lastTs = 0L
    PcapFile.recordsAuto("big.pcap", in).foreach { r =>
      count += 1
      lastTs = r.tsMicros
      if (count % 4096 == 0) peak = math.max(peak, usedAfterGc())
    }
    assert(in.emitted > Int.MaxValue.toLong)
    assert(count === n)
    assert(lastTs === start + (n - 1) * 1000L)
    assert(peak - base < 256L * 1024 * 1024, s"heap grew ${(peak - base) >> 20} MiB")
  }

  test("the stream is closed when its records run out, fail, or are abandoned") {
    final class Tracked(bytes: Array[Byte]) extends ByteArrayInputStream(bytes) {
      var closed = false
      override def close(): Unit = { closed = true; super.close() }
    }
    val pcap = (new PcapFile.Writer).record(1L, Array[Byte](1)).record(2L, Array[Byte](2)).toBytes
    val done = new Tracked(pcap)
    assert(FileRecords.records(done)(PcapFile.capture).size === 2)
    assert(done.closed)
    val failed = new Tracked(pcap)
    val boom = FileRecords.records(failed)(s =>
      PcapFile.capture(s).map(r => if (r.tsMicros == 2L) sys.error("decoder bug") else r))
    assert(boom.size === 1)
    assert(failed.closed)
    val early = new Tracked(pcap)
    val abandoned = FileRecords.records(early)(PcapFile.capture)
    assert(abandoned.next().tsMicros === 1L)
    assert(!early.closed)
    abandoned.close()
    assert(early.closed && !abandoned.hasNext)
  }

  test("a failure to read the file fails the read; a failure of its contents ends it") {
    val pcap = (new PcapFile.Writer).record(1L, Array[Byte](1)).record(2L, Array[Byte](2)).toBytes
    val failing = new java.io.SequenceInputStream(new ByteArrayInputStream(pcap.take(30)),
      new InputStream { def read(): Int = throw new java.io.IOException("disk gone") })
    assertThrows[FileRecords.ReadFailure](FileRecords.records(failing)(PcapFile.capture).toVector)
    assert(FileRecords.records(new ByteArrayInputStream(pcap.take(30)))(PcapFile.capture).isEmpty)
  }
}
