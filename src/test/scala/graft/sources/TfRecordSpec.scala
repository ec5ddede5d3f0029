package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.util.Random

import graft.SparkSpec

class TfRecordSpec extends SparkSpec {
  import TfRecord._

  test("masked CRC32C: standard check vector + independent mask formula") {
    // CRC32C("123456789") = 0xe3069283 is the public check value
    val check = "123456789".getBytes(StandardCharsets.US_ASCII)
    val c = new java.util.zip.CRC32C
    c.update(check)
    assert(c.getValue === 0xe3069283L)
    // mask recomputed independently with BigInt arithmetic
    val crc = BigInt(0xe3069283L)
    val rot = ((crc >> 15) | (crc << 17)) & 0xffffffffL
    val masked = (rot + BigInt(0xa282ead8L)) & 0xffffffffL
    assert((maskedCrc(check) & 0xffffffffL) === masked.toLong)
  }

  test("framing roundtrip: plain, gzip, zero-length, binary payloads") {
    val rnd = new Random(7)
    val recs = Seq(
      "hello".getBytes(StandardCharsets.UTF_8),
      Array.emptyByteArray, // zero-length record is legal
      Array.tabulate[Byte](1000)(i => (i % 251).toByte),
      { val b = new Array[Byte](257); rnd.nextBytes(b); b })
    // gzip is found by its magic, so a gzipped `x.tfrecord` decodes
    for ((name, gz) <- Seq("t.tfrecord" -> false, "t.tfrecord.gz" -> true, "x.tfrecord" -> true)) {
      val back = recordsAuto(name, render(recs, gzip = gz)).toSeq
      assert(back.length === recs.length, s"gz=$gz")
      back.zip(recs).foreach { case (b, r) => assert(b.toSeq === r.toSeq) }
    }
  }

  test("corruption: data flip, length flip, truncation all stop cleanly") {
    val recs = Seq(
      "first record ok".getBytes(StandardCharsets.UTF_8),
      "second record gets hit".getBytes(StandardCharsets.UTF_8))
    val bytes = render(recs)
    val rec1End = 8 + 4 + recs.head.length + 4
    // flip a payload byte of record 2 -> its data CRC fails
    val dataHit = bytes.clone()
    dataHit(rec1End + 12 + 3) = (dataHit(rec1End + 12 + 3) ^ 0x40).toByte
    assert(records(new java.io.ByteArrayInputStream(dataHit)).toSeq.length === 1)
    // flip a length byte of record 2 -> its length CRC fails
    val lenHit = bytes.clone()
    lenHit(rec1End + 2) = (lenHit(rec1End + 2) ^ 0x01).toByte
    assert(records(new java.io.ByteArrayInputStream(lenHit)).toSeq.length === 1)
    // truncate mid-record -> complete first record survives
    val cut = java.util.Arrays.copyOf(bytes, bytes.length - 6)
    val got = records(new java.io.ByteArrayInputStream(cut)).toSeq
    assert(got.length === 1 && new String(got.head, StandardCharsets.UTF_8)
      .startsWith("first"))
    // a length header's CRC covers only the (attacker-supplied) length
    // bytes, so a valid-CRC absurd length IS craftable in 12 bytes:
    // past MaxRecordLength it's rejected outright...
    def lenHeader(len: Long) = {
      val lb = java.nio.ByteBuffer.allocate(8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(len).array()
      java.nio.ByteBuffer.allocate(12).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .put(lb).putInt(maskedCrc(lb)).array()
    }
    assert(records(new java.io.ByteArrayInputStream(lenHeader((1L << 30) + 1))).isEmpty)
    // ...and AT the cap (1 GiB claimed, zero bytes present) the chunked
    // reader stops at actual EOF without a 1 GiB upfront allocation —
    // this returns promptly instead of OOMing the executor
    assert(records(new java.io.ByteArrayInputStream(lenHeader(1L << 30))).isEmpty)
  }

  test("corrupt gzip member ends the shard's iteration instead of throwing") {
    val good = render(Seq("payload".getBytes(StandardCharsets.UTF_8)), gzip = true)
    val broken = good.clone()
    broken(good.length / 2) = (broken(good.length / 2) ^ 0x55).toByte // deflate stream hit
    recordsAuto("x.tfrecord.gz", broken).foreach(_ => ()) // must not throw
    val headerHit = good.clone()
    headerHit(1) = 0x00 // gzip magic destroyed -> ZipException at construction
    recordsAuto("x.tfrecord.gz", headerHit).foreach(_ => ())
  }

  test("Example encode matches hand-computed protoc bytes") {
    // Example{features{feature{"a" -> int64_list{value:[5]}}}} walked by
    // hand off the public example.proto/feature.proto field numbers
    val bytes = encodeExample(Seq("a" -> Feature.of(5L)))
    val expected = Array(0x0a, 0x0c, 0x0a, 0x0a, 0x0a, 0x01, 0x61, 0x12,
      0x05, 0x1a, 0x03, 0x0a, 0x01, 0x05).map(_.toByte)
    assert(bytes.toSeq === expected.toSeq)
  }

  test("Example roundtrip: bytes/float/int64, multi-value, exact float bits") {
    val ex = Seq(
      "text" -> Feature.of("héllo 中文 🙂"),
      "ids" -> Int64Feature(Vector(0L, 1L, -1L, Long.MaxValue, Long.MinValue)),
      "vec" -> FloatFeature(Vector(0.0f, -0.0f, 1.5f, Float.MinPositiveValue,
        Float.NaN, Float.PositiveInfinity)),
      "blobs" -> BytesFeature(Vector(
        Array[Byte](0, 1, 2), Array.emptyByteArray)))
    val back = decodeExample(encodeExample(ex))
    assert(back.keySet === Set("text", "ids", "vec", "blobs"))
    assert(new String(back("text").asInstanceOf[BytesFeature].values.head,
      StandardCharsets.UTF_8) === "héllo 中文 🙂")
    assert(back("ids").asInstanceOf[Int64Feature].values ===
      Vector(0L, 1L, -1L, Long.MaxValue, Long.MinValue))
    val floatsBack = back("vec").asInstanceOf[FloatFeature].values
    assert(floatsBack.map(java.lang.Float.floatToRawIntBits) ===
      Vector(0.0f, -0.0f, 1.5f, Float.MinPositiveValue, Float.NaN,
        Float.PositiveInfinity).map(java.lang.Float.floatToRawIntBits))
    assert(back("blobs").asInstanceOf[BytesFeature].values
      .map(_.toSeq) === Vector(Seq[Byte](0, 1, 2), Seq.empty[Byte]))
  }

  test("decoder accepts UNPACKED repeated encodings (wire-legal variant)") {
    import graft.proto.ProtoWire
    // Int64List{value: 3, 9} as repeated varints (tag 0x08 each)
    val int64List = new ProtoWire.Writer().varint(1, 3L).varint(1, 9L)
    val featI = new ProtoWire.Writer().msg(3, int64List)
    // FloatList{value: 1.0, 2.5} as repeated fixed32 (tag 0x0d each)
    val floatList = new ProtoWire.Writer()
      .fixed32(1, java.lang.Float.floatToIntBits(1.0f))
      .fixed32(1, java.lang.Float.floatToIntBits(2.5f))
    val featF = new ProtoWire.Writer().msg(2, floatList)
    val features = new ProtoWire.Writer()
      .msg(1, new ProtoWire.Writer().string(1, "i").msg(2, featI))
      .msg(1, new ProtoWire.Writer().string(1, "f").msg(2, featF))
    val ex = new ProtoWire.Writer().msg(1, features).toBytes
    val back = decodeExample(ex)
    assert(back("i").asInstanceOf[Int64Feature].values === Vector(3L, 9L))
    assert(back("f").asInstanceOf[FloatFeature].values === Vector(1.0f, 2.5f))
  }

  test("read(): one row per record across plain and gzipped shards") {
    val dir = graft.TestSpark.tempDir("graft_tfrecord")
    Files.write(java.nio.file.Paths.get(dir, "a.tfrecord"),
      render(Seq(encodeExample(Seq("doc_id" -> Feature.of(1L))),
        encodeExample(Seq("doc_id" -> Feature.of(2L))))))
    Files.write(java.nio.file.Paths.get(dir, "b.tfrecord.gz"),
      render(Seq(encodeExample(Seq("doc_id" -> Feature.of(3L)))), gzip = true))
    Files.write(java.nio.file.Paths.get(dir, "ignored.txt"),
      "not a tfrecord".getBytes(StandardCharsets.UTF_8))
    val rows = read(spark, dir).collect()
    assert(rows.length === 3)
    val ids = rows.map(r => decodeExample(r.getAs[Array[Byte]]("record"))
      ("doc_id").asInstanceOf[Int64Feature].values.head).sorted.toSeq
    assert(ids === Seq(1L, 2L, 3L))
  }

  test("fuzz: random garbage never throws; random records roundtrip") {
    val rnd = new Random(42)
    (0 until 200).foreach { _ =>
      val junk = new Array[Byte](rnd.nextInt(200))
      rnd.nextBytes(junk)
      records(new java.io.ByteArrayInputStream(junk)).foreach(_ => ())
    }
    (0 until 50).foreach { _ =>
      val recs = Seq.fill(rnd.nextInt(5) + 1) {
        val b = new Array[Byte](rnd.nextInt(300))
        rnd.nextBytes(b)
        b
      }
      val back = recordsAuto("f.tfrecord", render(recs)).toSeq
      assert(back.map(_.toSeq) === recs.map(_.toSeq))
    }
  }
}
