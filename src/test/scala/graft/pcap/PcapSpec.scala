package graft.pcap

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.scalatest.funsuite.AnyFunSuite

class PcapSpec extends AnyFunSuite {

  test("writer/reader round-trip (LE micros)") {
    val f1 = Array[Byte](1, 2, 3)
    val f2 = Array.fill[Byte](60)(7)
    val bytes = (new PcapFile.Writer)
      .record(1600000000123456L, f1)
      .record(1600000001000001L, f2)
      .toBytes
    val recs = PcapFile.records(new ByteArrayInputStream(bytes)).toVector
    assert(recs.map(_.tsMicros) === Vector(1600000000123456L, 1600000001000001L))
    assert(recs(0).data.toSeq === f1.toSeq)
    assert(recs(1).data.length === 60)
  }

  test("big-endian and nanosecond variants are normalized") {
    def be(file: (Long, Long, Array[Byte]), magic: Int): Array[Byte] = {
      val out = new ByteArrayOutputStream()
      def w32(v: Long): Unit = (3 to 0 by -1).foreach(i => out.write(((v >>> (8 * i)) & 0xff).toInt))
      def w16(v: Int): Unit = { out.write((v >>> 8) & 0xff); out.write(v & 0xff) }
      w32(magic & 0xffffffffL); w16(2); w16(4); w32(0); w32(0); w32(65535); w32(1)
      val (sec, frac, data) = file
      w32(sec); w32(frac); w32(data.length.toLong); w32(data.length.toLong)
      out.write(data, 0, data.length)
      out.toByteArray
    }
    val micros = PcapFile.records(new ByteArrayInputStream(be((100L, 250L, Array[Byte](9)), PcapFile.MagicMicros))).toVector
    assert(micros.head.tsMicros === 100L * 1000000 + 250)
    val nanos = PcapFile.records(new ByteArrayInputStream(be((100L, 250000L, Array[Byte](9)), PcapFile.MagicNanos))).toVector
    assert(nanos.head.tsMicros === 100L * 1000000 + 250)
  }

  test("truncated trailing record is dropped; bad magic throws") {
    val good = (new PcapFile.Writer).record(1L, Array[Byte](1, 2, 3, 4)).toBytes
    val cut = good.take(good.length - 2)
    assert(PcapFile.records(new ByteArrayInputStream(cut)).isEmpty)
    // a forged inclLen of 0x7FFFFFFF with a few bytes behind it: no
    // record, and no 2 GiB allocation for bytes that never arrive
    val forged = (new PcapFile.Writer).toBytes ++
      Array[Byte](1, 0, 0, 0, 0, 0, 0, 0, -1, -1, -1, 0x7f, -1, -1, -1, 0x7f, 1, 2, 3)
    assert(PcapFile.records(new ByteArrayInputStream(forged)).isEmpty)
    assert(PcapFile.recordsAuto("forged.pcap", forged).isEmpty)
    assertThrows[PcapFile.FormatException](
      PcapFile.records(new ByteArrayInputStream(Array.fill[Byte](24)(0x42))).toVector)
  }

  test("LinkDecode encode/decode round-trip") {
    val payload = "some rpc bytes".getBytes("UTF-8")
    val frame = LinkDecode.encode("10.1.2.3", 40001, "10.0.0.99", 16020, payload)
    val seg = LinkDecode.decode(frame).get
    assert(seg.srcAddr === "10.1.2.3")
    assert(seg.srcPort === 40001)
    assert(seg.dstAddr === "10.0.0.99")
    assert(seg.dstPort === 16020)
    assert(seg.payload.toSeq === payload.toSeq)
  }

  test("LinkDecode skips one 802.1Q VLAN tag") {
    val payload = "tagged".getBytes("UTF-8")
    val plain = LinkDecode.encode("10.1.2.3", 40001, "10.0.0.99", 16020, payload)
    // splice a VLAN tag (TPID 0x8100, TCI 0x0064) after the MAC addresses
    val tagged = plain.take(12) ++
      Array[Byte](0x81.toByte, 0x00, 0x00, 0x64) ++ plain.drop(12)
    val seg = LinkDecode.decode(tagged).get
    assert(seg.srcPort === 40001)
    assert(seg.payload.toSeq === payload.toSeq)
  }

  test("LinkDecode rejects non-IP, non-TCP, and empty payloads") {
    val frame = LinkDecode.encode("1.1.1.1", 1, "2.2.2.2", 2, Array[Byte](1))
    // flip ethertype to ARP
    val arp = frame.clone(); arp(12) = 0x08; arp(13) = 0x06
    assert(LinkDecode.decode(arp) === None)
    // flip protocol to UDP
    val udp = frame.clone(); udp(14 + 9) = 17
    assert(LinkDecode.decode(udp) === None)
    // empty payload (pure ACK)
    assert(LinkDecode.decode(
      LinkDecode.encode("1.1.1.1", 1, "2.2.2.2", 2, Array.emptyByteArray)) === None)
  }

  test("LinkDecode: IPv6 round-trip, seq carried, VLAN-tagged too") {
    val payload = "v6 rpc bytes".getBytes("UTF-8")
    val src = "2001:db8:0:0:0:0:0:1"
    val dst = "fd00:0:0:0:0:0:0:63"
    val frame = LinkDecode.encode6(src, 40002, dst, 16020, payload, seq = 7777L)
    val seg = LinkDecode.decode(frame).get
    assert(seg.srcAddr === src)
    assert(seg.dstAddr === dst)
    assert((seg.srcPort, seg.dstPort) === ((40002, 16020)))
    assert(seg.seq === 7777L)
    assert(seg.payload.toSeq === payload.toSeq)
    val tagged = frame.take(12) ++
      Array[Byte](0x81.toByte, 0x00, 0x00, 0x64) ++ frame.drop(12)
    assert(LinkDecode.decode(tagged).get.payload.toSeq === payload.toSeq)
    // '::'-compressed input expands; decoder output is the 8-group form
    val compressed = LinkDecode.encode6("2001:db8::1", 1, "::1", 2, payload)
    val cs = LinkDecode.decode(compressed).get
    assert(cs.srcAddr === "2001:db8:0:0:0:0:0:1")
    assert(cs.dstAddr === "0:0:0:0:0:0:0:1")
  }

  test("LinkDecode: IPv6 extension headers and non-TCP are skipped") {
    val payload = "x".getBytes("UTF-8")
    val src = "2001:db8:0:0:0:0:0:1"; val dst = "fd00:0:0:0:0:0:0:63"
    // hop-by-hop extension header (0) between IPv6 and TCP -> skipped
    assert(LinkDecode.decode(
      LinkDecode.encode6(src, 1, dst, 2, payload, nextHeader = 0)) === None)
    // UDP next header -> skipped
    assert(LinkDecode.decode(
      LinkDecode.encode6(src, 1, dst, 2, payload, nextHeader = 17)) === None)
  }
}
