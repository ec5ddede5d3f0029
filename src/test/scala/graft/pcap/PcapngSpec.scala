package graft.pcap

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.scalatest.funsuite.AnyFunSuite

class PcapngSpec extends AnyFunSuite {

  /** Hand-built pcapng blocks (little-endian unless flipped). */
  private class Builder(le: Boolean = true) {
    val out = new ByteArrayOutputStream()
    private def w32(v: Long): Unit = {
      val order = if (le) 0 to 3 else 3 to 0 by -1
      order.foreach(i => out.write(((v >>> (8 * i)) & 0xff).toInt))
    }
    private def w16(v: Int): Unit = {
      val order = if (le) Seq(0, 1) else Seq(1, 0)
      order.foreach(i => out.write((v >>> (8 * i)) & 0xff))
    }
    private def block(btype: Long, body: Array[Byte]): Unit = {
      val padded = body ++ new Array[Byte]((4 - body.length % 4) % 4)
      val total = 12 + padded.length
      w32(btype); w32(total.toLong)
      out.write(padded, 0, padded.length)
      w32(total.toLong)
    }
    private def bodyBytes(f: Builder => Unit): Array[Byte] = {
      val b = new Builder(le); f(b); b.out.toByteArray
    }
    def shb(): Builder = {
      block(0x0A0D0D0AL, bodyBytes { b =>
        b.w32(0x1A2B3C4DL); b.w16(1); b.w16(0)
        b.w32(0xFFFFFFFFL); b.w32(0xFFFFFFFFL) // section length -1
      }); this
    }
    def idb(linkType: Int, tsresol: Option[Int] = None): Builder = {
      block(1L, bodyBytes { b =>
        b.w16(linkType); b.w16(0); b.w32(0xFFFFL)
        tsresol.foreach { r =>
          b.w16(9); b.w16(1); b.out.write(r); b.out.write(0); b.out.write(0); b.out.write(0)
          b.w16(0); b.w16(0) // opt_endofopt
        }
      }); this
    }
    def epb(ifId: Int, tsTicks: Long, data: Array[Byte]): Builder = {
      block(6L, bodyBytes { b =>
        b.w32(ifId.toLong); b.w32(tsTicks >>> 32); b.w32(tsTicks & 0xFFFFFFFFL)
        b.w32(data.length.toLong); b.w32(data.length.toLong)
        b.out.write(data, 0, data.length)
      }); this
    }
    def spb(data: Array[Byte]): Builder = {
      block(3L, bodyBytes { b =>
        b.w32(data.length.toLong); b.out.write(data, 0, data.length)
      }); this
    }
    def bytes: Array[Byte] = out.toByteArray
  }

  test("LE section: EPB records with default microsecond resolution") {
    val d1 = Array[Byte](1, 2, 3); val d2 = Array[Byte](4, 5, 6, 7, 8)
    val bytes = new Builder().shb().idb(1).epb(0, 1600000000123456L, d1)
      .epb(0, 1600000001000000L, d2).bytes
    assert(Pcapng.isPcapng(bytes))
    val recs = Pcapng.records(new ByteArrayInputStream(bytes)).toVector
    assert(recs.map(_.tsMicros) === Vector(1600000000123456L, 1600000001000000L))
    assert(recs(0).data.toSeq === d1.toSeq)
    assert(recs(1).origLen === 5)
  }

  test("nanosecond if_tsresol normalizes to micros") {
    val bytes = new Builder().shb().idb(1, tsresol = Some(9))
      .epb(0, 1600000000123456789L, Array[Byte](9)).bytes
    val recs = Pcapng.records(new ByteArrayInputStream(bytes)).toVector
    assert(recs.head.tsMicros === 1600000000123456L)
  }

  test("big-endian section parses identically") {
    val bytes = new Builder(le = false).shb().idb(1)
      .epb(0, 42000000L, Array[Byte](1, 2)).bytes
    val recs = Pcapng.records(new ByteArrayInputStream(bytes)).toVector
    assert(recs.head.tsMicros === 42000000L)
    assert(recs.head.data.toSeq === Seq[Byte](1, 2))
  }

  test("non-ethernet, undefined-interface, and SPB blocks skipped; garbage tail dropped") {
    val bytes = new Builder().shb().idb(101) // LINKTYPE_RAW, not ethernet
      .epb(0, 1L, Array[Byte](1)).bytes
    assert(Pcapng.records(new ByteArrayInputStream(bytes)).isEmpty)

    // EPB referencing an interface with no IDB: skipped, not guessed
    val orphan = new Builder().shb().epb(0, 1L, Array[Byte](1)).bytes
    assert(Pcapng.records(new ByteArrayInputStream(orphan)).isEmpty)

    // SPB carries no timestamp -> unusable for reassembly ordering: skipped
    val spb = new Builder().shb().idb(1).spb(Array[Byte](7, 7)).bytes
    assert(Pcapng.records(new ByteArrayInputStream(spb)).isEmpty)

    val truncated = new Builder().shb().idb(1)
      .epb(0, 1L, Array[Byte](1)).bytes.dropRight(3)
    assert(Pcapng.records(new ByteArrayInputStream(truncated)).isEmpty) // block guard drops the tail

    // a forged block length of 0xFFFFFFFC with a few bytes behind it
    val forged = new Builder().shb().idb(1).bytes ++
      Array[Byte](6, 0, 0, 0, -4, -1, -1, -1, 1, 2, 3)
    assert(Pcapng.records(new ByteArrayInputStream(forged)).isEmpty)
    assert(PcapFile.recordsAuto("forged.pcapng", forged).isEmpty)
  }

  test("millisecond and binary if_tsresol values normalize correctly") {
    // tsresol=3: ticks are milliseconds
    val ms = new Builder().shb().idb(1, tsresol = Some(3))
      .epb(0, 1600000000123L, Array[Byte](1)).bytes
    assert(Pcapng.records(new ByteArrayInputStream(ms)).toVector.head.tsMicros === 1600000000123000L)
    // tsresol=0x87: 2^-7 seconds per tick -> 128 ticks = 1s
    val bin = new Builder().shb().idb(1, tsresol = Some(0x87))
      .epb(0, 128L, Array[Byte](1)).bytes
    assert(Pcapng.records(new ByteArrayInputStream(bin)).toVector.head.tsMicros === 1000000L)
  }

  test("recordsAuto never throws on stray or corrupt files") {
    assert(PcapFile.recordsAuto("README.txt", "not a capture".getBytes).isEmpty)
    assert(PcapFile.recordsAuto("x.pcap", Array.fill[Byte](30)(0x42)).isEmpty)
    // half-written gzip (magic present, stream truncated)
    assert(PcapFile.recordsAuto("y.pcap.gz",
      Array[Byte](0x1f, 0x8b.toByte, 8, 0, 0)).isEmpty)
    // gzip detected by MAGIC even without the .gz suffix
    val pcap = (new PcapFile.Writer).record(5L, Array[Byte](1, 2, 3)).toBytes
    val bos = new ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bos); g.write(pcap); g.close()
    assert(PcapFile.recordsAuto("misnamed.pcap", bos.toByteArray).size === 1)
    // gzip cut off mid-stream: the complete records before the cut stay
    // (a sync flush makes the first three decodable from the prefix)
    val five = new ByteArrayOutputStream()
    val sync = new java.util.zip.GZIPOutputStream(five, true)
    val w = new PcapFile.Writer
    (1 to 3).foreach(i => w.record(i.toLong, Array.fill[Byte](40)(i.toByte)))
    sync.write(w.toBytes); sync.flush()
    val cutAt = five.size() + 4
    sync.write((new PcapFile.Writer).record(4L, Array.fill[Byte](40)(4)).toBytes.drop(24))
    sync.close()
    val cut = five.toByteArray.take(cutAt)
    assert(PcapFile.recordsAuto("cut.pcap.gz", cut).map(_.tsMicros).toSeq === Seq(1L, 2L, 3L))
  }

  test("recordsAuto: gzip + format dispatch, end to end through the pipeline") {
    // build a classic pcap with one real TCP frame, gzip it
    val payload = Array[Byte](0, 0, 0, 2, 1, 2) // one 2-byte frame
    val frame = LinkDecode.encode("10.5.5.5", 40005, "10.0.0.99", 16020, payload)
    val pcap = (new PcapFile.Writer).record(1000000L, frame).toBytes
    val gz = {
      val bos = new ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(pcap); g.close(); bos.toByteArray
    }
    assert(PcapFile.recordsAuto("x.pcap.gz", gz).toVector.head.data.toSeq === frame.toSeq)
    // pcapng carrying the same frame
    val ng = new Builder().shb().idb(1).epb(0, 1000000L, frame).bytes
    assert(PcapFile.recordsAuto("x.pcapng", ng).toVector.head.data.toSeq === frame.toSeq)
  }
}
