package graft.proto

/** Zero-dependency protobuf wire-format reader/writer.
  *
  * The reference decodes HBase RPC bodies with protobuf-java generated
  * classes (reference: src/hbase_packet_inspector/hbase.clj:8-27 imports,
  * hbase.clj:247-256 parse-stream). We only need the wire-walking subset —
  * varints, length-delimited fields, fixed32/64 — so this is a tiny
  * hand-rolled codec of the public protobuf wire format
  * (https://protobuf.dev/programming-guides/encoding/): no generated code,
  * no external dependency, safe to ship inside executor tasks.
  *
  * One read form: a [[Slice]] reads a message in place over the one
  * field loop ([[FieldCursor]]), for both the HBase RPC decode and
  * TFRecord's `tf.train.Example`.
  *
  * The writer half exists so tests and the synthetic-traffic generator can
  * hand-encode messages (SURVEY §6: "protobuf messages hand-encoded via
  * ProtoWire writer").
  */
object ProtoWire {

  /** Wire types (protobuf encoding spec). */
  final val WtVarint = 0
  final val WtFixed64 = 1
  final val WtLenDelim = 2
  final val WtFixed32 = 5

  final class TruncatedException(msg: String) extends RuntimeException(msg)

  /** Cursor over a byte slice. */
  class Reader(val buf: Array[Byte], var pos: Int, val end: Int) {
    def this(buf: Array[Byte]) = this(buf, 0, buf.length)

    def hasRemaining: Boolean = pos < end
    def remaining: Int = end - pos

    def readByte(): Int = {
      if (pos >= end) throw new TruncatedException(s"EOF at $pos")
      val b = buf(pos) & 0xff
      pos += 1
      b
    }

    def readVarint(): Long = {
      var shift = 0
      var result = 0L
      var b = readByte()
      while ((b & 0x80) != 0) {
        result |= (b & 0x7fL) << shift
        shift += 7
        if (shift > 63) throw new TruncatedException("varint too long")
        b = readByte()
      }
      result | ((b & 0x7fL) << shift)
    }

    def readFixed32(): Int = {
      if (remaining < 4) throw new TruncatedException("fixed32")
      var v = 0
      var i = 0
      while (i < 4) { v |= (buf(pos + i) & 0xff) << (8 * i); i += 1 }
      pos += 4
      v
    }

    def readFixed64(): Long = {
      if (remaining < 8) throw new TruncatedException("fixed64")
      var v = 0L
      var i = 0
      while (i < 8) { v |= (buf(pos + i) & 0xffL) << (8 * i); i += 1 }
      pos += 8
      v
    }

    def readSlice(len: Int): Reader = {
      if (len < 0 || remaining < len)
        throw new TruncatedException(s"slice $len > $remaining")
      val r = new Reader(buf, pos, pos + len)
      pos += len
      r
    }

    /** Reads one varint-length-prefixed message slice (= protobuf-java
      * `parseDelimitedFrom`, reference hbase.clj:88,92,96 etc.).
      */
    def readDelimited(): Reader = readSlice(readVarint().toInt)

    /** [[readDelimited]] as a checked message [[Slice]]. */
    def readMessage(): Slice = {
      val r = readDelimited()
      new Slice(buf, r.pos, r.end)
    }
  }

  /** Steps over the fields of one message slice in encoding order, in
    * place. After `next()` returns true, `field` and `wireType` describe
    * the field just passed; its value is `value` (varint, fixed64, or
    * fixed32 sign-extended) or, when length-delimited, the byte range
    * `[valueStart, pos)`. This is the only tag and wire-type loop in the
    * codec: truncation, field 0 and the group/reserved wire types
    * (3/4/6/7 — HBase protos never use groups) throw here.
    */
  final class FieldCursor(buf: Array[Byte], start: Int, end: Int)
      extends Reader(buf, start, end) {
    var field = 0
    var wireType = 0
    var value = 0L
    var valueStart = 0

    def next(): Boolean =
      if (pos >= end) false
      else {
        val tag = readVarint()
        field = (tag >>> 3).toInt
        wireType = (tag & 0x7).toInt
        if (field == 0) throw new TruncatedException("field 0")
        wireType match {
          case WtVarint  => value = readVarint()
          case WtFixed64 => value = readFixed64()
          case WtLenDelim =>
            val len = readVarint().toInt
            if (len < 0 || remaining < len)
              throw new TruncatedException(s"bytes $len > $remaining")
            valueStart = pos
            pos += len
          case WtFixed32 => value = readFixed32().toLong
          case other     => throw new TruncatedException(s"wire type $other")
        }
        true
      }
  }

  /** One message read in place: the range `[start, end)` of `buf`. Making
    * a slice walks every field once, so a malformed message throws at
    * construction; the accessors walk it again and copy nothing but what
    * they return. A nested message is sliced (and so checked) only when
    * read. Scalar accessors take the last occurrence: proto2/proto3 are
    * last-wins for a duplicated non-repeated field.
    */
  final class Slice(val buf: Array[Byte], val start: Int, val end: Int) {
    locally { val c = cursor; while (c.next()) () }

    private def cursor: FieldCursor = new FieldCursor(buf, start, end)

    /** Any occurrence of `f`, whatever its wire type. */
    def has(f: Int): Boolean = {
      val c = cursor
      while (c.next()) if (c.field == f) return true
      false
    }
    def varintOr(f: Int, dflt: Long): Long = {
      val c = cursor
      var v = dflt
      while (c.next()) if (c.field == f && c.wireType == WtVarint) v = c.value
      v
    }
    def bool(f: Int): Boolean = varintOr(f, 0L) != 0L

    /** `read(buf, offset, length)` over the last length-delimited
      * occurrence of `f`.
      */
    def lastBytes[A](f: Int)(read: (Array[Byte], Int, Int) => A): Option[A] = {
      val c = cursor
      var from = -1
      var until = 0
      while (c.next()) if (c.field == f && c.wireType == WtLenDelim) {
        from = c.valueStart; until = c.pos
      }
      if (from < 0) None else Some(read(buf, from, until - from))
    }
    def string(f: Int): Option[String] =
      lastBytes(f)(new String(_, _, _, java.nio.charset.StandardCharsets.UTF_8))
    def msg(f: Int): Option[Slice] = lastBytes(f)((b, off, len) => new Slice(b, off, off + len))

    /** Number of length-delimited occurrences of `f` (none is parsed). */
    def bytesCount(f: Int): Int = {
      val c = cursor
      var n = 0
      while (c.next()) if (c.field == f && c.wireType == WtLenDelim) n += 1
      n
    }
    /** `fn(buf, offset, length)` over every length-delimited occurrence
      * of `f`, in order, as raw bytes (none is parsed).
      */
    def foreachBytes(f: Int)(fn: (Array[Byte], Int, Int) => Unit): Unit = {
      val c = cursor
      while (c.next()) if (c.field == f && c.wireType == WtLenDelim)
        fn(buf, c.valueStart, c.pos - c.valueStart)
    }
    /** Every length-delimited occurrence of `f` as a message, in order. */
    def foreachMsg(f: Int)(fn: Slice => Unit): Unit = {
      val c = cursor
      while (c.next()) if (c.field == f && c.wireType == WtLenDelim)
        fn(new Slice(buf, c.valueStart, c.pos))
    }
    /** Every value of a repeated varint field `f`, packed or not. */
    def foreachVarint(f: Int)(fn: Long => Unit): Unit = {
      val c = cursor
      while (c.next()) if (c.field == f) {
        if (c.wireType == WtVarint) fn(c.value)
        else if (c.wireType == WtLenDelim) {
          val packed = new Reader(buf, c.valueStart, c.pos)
          while (packed.hasRemaining) fn(packed.readVarint())
        }
      }
    }
    /** Every value of a repeated fixed32 field `f`, packed or not; a
      * packed run's trailing 1-3 bytes are ignored.
      */
    def foreachFixed32(f: Int)(fn: Int => Unit): Unit = {
      val c = cursor
      while (c.next()) if (c.field == f) {
        if (c.wireType == WtFixed32) fn(c.value.toInt)
        else if (c.wireType == WtLenDelim) {
          val packed = new Reader(buf, c.valueStart, c.pos)
          while (packed.remaining >= 4) fn(packed.readFixed32())
        }
      }
    }
  }

  val EmptySlice: Slice = new Slice(Array.emptyByteArray, 0, 0)

  /** Minimal writer — enough to hand-encode HBase RPC shapes in tests and
    * the synthetic traffic generator.
    */
  final class Writer {
    private val out = new java.io.ByteArrayOutputStream(64)

    def writeRawVarint(v: Long): Writer = {
      var x = v
      while ((x & ~0x7fL) != 0) {
        out.write(((x & 0x7f) | 0x80).toInt)
        x >>>= 7
      }
      out.write(x.toInt)
      this
    }

    private def tag(field: Int, wt: Int): Writer = writeRawVarint((field.toLong << 3) | wt)

    def varint(field: Int, v: Long): Writer = { tag(field, WtVarint); writeRawVarint(v) }
    def bool(field: Int, v: Boolean): Writer = varint(field, if (v) 1L else 0L)
    def fixed32(field: Int, v: Int): Writer = {
      tag(field, WtFixed32)
      var i = 0
      while (i < 4) { out.write((v >>> (8 * i)) & 0xff); i += 1 }
      this
    }
    def fixed64(field: Int, v: Long): Writer = {
      tag(field, WtFixed64)
      var i = 0
      while (i < 8) { out.write(((v >>> (8 * i)) & 0xff).toInt); i += 1 }
      this
    }
    def bytes(field: Int, b: Array[Byte]): Writer = {
      tag(field, WtLenDelim); writeRawVarint(b.length.toLong); out.write(b, 0, b.length); this
    }
    def string(field: Int, s: String): Writer =
      bytes(field, s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    def msg(field: Int, m: Writer): Writer = bytes(field, m.toBytes)

    def toBytes: Array[Byte] = out.toByteArray
    /** varint-length-prefixed form (`writeDelimitedTo`). */
    def toDelimitedBytes: Array[Byte] = {
      val body = toBytes
      val w = new Writer
      w.writeRawVarint(body.length.toLong)
      w.out.write(body, 0, body.length)
      w.toBytes
    }
  }

  def writer: Writer = new Writer
}
