package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.SparkSpec

class WarcSpec extends SparkSpec {
  import Warc.WarcRecord

  private def rec(id: Long, body: String) = WarcRecord(
    "response", s"<urn:uuid:$id>", s"doc://$id",
    "2026-01-01T00:00:00Z", "text/plain",
    body.getBytes(StandardCharsets.UTF_8))

  test("render/parse roundtrip: plain, gzip-per-record, multi-record, unicode") {
    val recs = Seq(
      rec(1, "hello world"),
      rec(2, "unicode payload: éü中文 🙂"),
      rec(3, ""), // zero-length payload is legal
      rec(4, "embedded\r\nCRLF and\n\nblank lines inside the body"))
    // gzip is found by its magic, so a gzipped file named `x.warc` decodes
    for ((name, gz) <- Seq("t.warc" -> false, "t.warc.gz" -> true, "x.warc" -> true)) {
      val back = Warc.recordsAuto(name, Warc.render(recs, gzipPerRecord = gz)).toSeq
      assert(back.length === 4, s"gz=$gz")
      back.zip(recs).foreach { case (b, r) =>
        assert(b.warcType === r.warcType && b.recordId === r.recordId &&
          b.targetUri === r.targetUri && b.contentType === r.contentType)
        assert(b.content.toSeq === r.content.toSeq)
      }
    }
  }

  test("hostile input: garbage, truncation, and absurd Content-Length stop cleanly") {
    // pure garbage: no records, no throw
    assert(Warc.recordsAuto("x.warc", Array.fill[Byte](64)(0x41)).isEmpty)
    // truncated payload: the complete first record survives, iteration ends
    val two = Warc.render(Seq(rec(1, "complete record"), rec(2, "this one gets cut")))
    val cut = two.dropRight(12)
    val got = Warc.recordsAuto("x.warc", cut).toSeq
    assert(got.length === 1 && got.head.targetUri === "doc://1")
    // hostile Content-Length: must not allocate, must stop
    val hostile = ("WARC/1.0\r\nWARC-Type: response\r\n" +
      "Content-Length: 99999999999999\r\n\r\n").getBytes(StandardCharsets.ISO_8859_1)
    assert(Warc.recordsAuto("x.warc", hostile).isEmpty)
    // non-numeric Content-Length
    val bad = ("WARC/1.0\r\nContent-Length: NaN\r\n\r\n").getBytes(StandardCharsets.ISO_8859_1)
    assert(Warc.recordsAuto("x.warc", bad).isEmpty)
    // a valid-looking huge Content-Length with no payload behind it: the
    // chunked reader stops at actual EOF, no 1 GiB upfront allocation
    val huge = ("WARC/1.0\r\nWARC-Type: response\r\n" +
      "Content-Length: 1073741824\r\n\r\n").getBytes(StandardCharsets.ISO_8859_1)
    assert(Warc.recordsAuto("x.warc", huge).isEmpty)
    // corrupt gzip member (deflate hit + destroyed magic): iteration ends,
    // never throws — one corrupt capture must not kill the read job
    val gz = Warc.render(Seq(rec(1, "payload")), gzipPerRecord = true)
    val deflateHit = gz.clone()
    deflateHit(gz.length / 2) = (deflateHit(gz.length / 2) ^ 0x55).toByte
    Warc.recordsAuto("x.warc.gz", deflateHit).foreach(_ => ())
    val magicHit = gz.clone()
    magicHit(1) = 0x00
    Warc.recordsAuto("x.warc.gz", magicHit).foreach(_ => ())
  }

  test("read(): one row per record across plain and gzipped files") {
    val dir = graft.TestSpark.tempDir("graft_warc")
    Files.write(java.nio.file.Paths.get(dir, "a.warc"),
      Warc.render(Seq(rec(1, "alpha"), rec(2, "beta"))))
    Files.write(java.nio.file.Paths.get(dir, "b.warc.gz"),
      Warc.render(Seq(rec(3, "gamma")), gzipPerRecord = true))
    Files.write(java.nio.file.Paths.get(dir, "ignored.txt"),
      "not a warc".getBytes(StandardCharsets.UTF_8))
    val rows = Warc.read(spark, dir).collect()
    assert(rows.length === 3)
    val byUri = rows.map(r => r.getAs[String]("target_uri") ->
      new String(r.getAs[Array[Byte]]("content"), StandardCharsets.UTF_8)).toMap
    assert(byUri === Map("doc://1" -> "alpha", "doc://2" -> "beta", "doc://3" -> "gamma"))
  }

  test("q71 driver query: roundtrip hash parity on a fixture corpus") {
    val dir = docsDir(Seq(
      (1L, "some plain text"),
      (2L, "unicode: 中文 🙂"),
      (3L, null.asInstanceOf[String]))) // excluded
    val out = graft.SparkEntry.queries("q71_warc")(spark, dir)
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    // n_bytes counts UTF-8 bytes, not chars: doc 2 is multibyte
    assert(out(1).getLong(1) > "unicode:  ".length)
  }
}
