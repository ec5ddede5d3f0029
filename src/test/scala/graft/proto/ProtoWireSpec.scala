package graft.proto

import org.scalatest.funsuite.AnyFunSuite

import ProtoWire._

class ProtoWireSpec extends AnyFunSuite {

  private def slice(bytes: Array[Byte]): Slice = new Slice(bytes, 0, bytes.length)

  test("varint round-trip incl. 10-byte negatives") {
    for (v <- Seq(0L, 1L, 127L, 128L, 300L, 0xFFFFFFFFL, Long.MaxValue, -1L, Long.MinValue)) {
      val bytes = writer.writeRawVarint(v).toBytes
      assert(new Reader(bytes).readVarint() === v, s"value $v")
    }
    // -1 encodes as ten 0xFF..0x01 bytes on the wire
    assert(writer.writeRawVarint(-1L).toBytes.length === 10)
  }

  test("message round-trip: varint, fixed, bytes, nested msg, repeated") {
    val inner = writer.varint(1, 42L).string(2, "hello")
    val bytes = writer
      .varint(1, 7L)
      .fixed32(2, -5)
      .fixed64(3, Long.MinValue)
      .string(4, "héllo∆")           // non-ASCII utf-8
      .msg(5, inner)
      .varint(6, 1L).varint(6, 2L).varint(6, 3L) // repeated
      .toBytes
    val p = slice(bytes)
    assert(p.varintOr(1, -1L) === 7L)
    val fixed32 = Vector.newBuilder[Int]
    p.foreachFixed32(2)(fixed32 += _)
    assert(fixed32.result() === Vector(-5))
    val c = new FieldCursor(bytes, 0, bytes.length)
    while (c.next() && c.field != 3) ()
    assert((c.field, c.wireType, c.value) === ((3, WtFixed64, Long.MinValue)))
    assert(p.string(4) === Some("héllo∆"))
    val pi = p.msg(5).get
    assert(pi.varintOr(1, -1L) === 42L)
    assert(pi.string(2) === Some("hello"))
    val repeated = Vector.newBuilder[Long]
    p.foreachVarint(6)(repeated += _)
    assert(repeated.result() === Vector(1L, 2L, 3L))
  }

  test("duplicated scalar field resolves last-wins (proto2 semantics)") {
    val m = slice(writer.varint(1, 10L).varint(1, 20L)
      .string(2, "first").string(2, "second").toBytes)
    assert(m.varintOr(1, -1L) === 20L)
    assert(m.string(2) === Some("second"))
  }

  test("delimited round-trip") {
    val body = writer.varint(1, 99L)
    val r = new Reader(body.toDelimitedBytes)
    val m = r.readMessage()
    assert(m.varintOr(1, -1L) === 99L)
    assert(!r.hasRemaining)
  }

  test("truncated input throws TruncatedException") {
    val full = writer.string(1, "abcdefgh").toBytes
    for (cut <- 1 until full.length) {
      val sliced = full.take(cut)
      assertThrows[TruncatedException](slice(sliced))
    }
    assertThrows[TruncatedException](new Reader(Array[Byte](0x08)).readSlice(5))
  }

  test("packed repeated varints readable via Reader loop") {
    val packed = {
      val w = writer
      Seq(3L, 270L, 86942L).foreach(w.writeRawVarint)
      writer.bytes(4, w.toBytes).toBytes
    }
    val m = slice(packed)
    val r = m.lastBytes(4)((b, off, len) => new Reader(b, off, off + len)).get
    val out = Vector.newBuilder[Long]
    while (r.hasRemaining) out += r.readVarint()
    assert(out.result() === Vector(3L, 270L, 86942L))
    val viaSlice = Vector.newBuilder[Long]
    m.foreachVarint(4)(viaSlice += _)
    assert(viaSlice.result() === Vector(3L, 270L, 86942L))
  }

  test("fixed32 runs packed, unpacked and ragged; raw bytes of every occurrence") {
    val packed = java.nio.ByteBuffer.allocate(10).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(7).putInt(-8).put(Array[Byte](1, 2)).array() // 10 bytes: two values + a ragged tail
    val m = slice(writer.fixed32(1, 5).bytes(1, packed).fixed32(1, 9)
      .varint(1, 3L).fixed64(1, 4L).bytes(2, Array[Byte](0, 1)).bytes(2, Array.emptyByteArray)
      .toBytes)
    val fixed = Vector.newBuilder[Int]
    m.foreachFixed32(1)(fixed += _)
    assert(fixed.result() === Vector(5, 7, -8, 9)) // len / 4 packed values; other wire types skipped
    val raw = Vector.newBuilder[Seq[Byte]]
    m.foreachBytes(2)((b, off, len) => raw += b.slice(off, off + len).toSeq)
    assert(raw.result() === Vector(Seq[Byte](0, 1), Seq.empty[Byte]))
  }

  test("groups (wire types 3/4) rejected") {
    // tag: field 1, wire type 3
    assertThrows[TruncatedException](slice(Array[Byte]((1 << 3 | 3).toByte)))
  }
}
