package graft.inspector

import org.scalatest.funsuite.AnyFunSuite

class ReassemblySpec extends AnyFunSuite {

  private def frame(body: Array[Byte]): Array[Byte] = {
    val n = body.length
    Array[Byte]((n >>> 24).toByte, (n >>> 16).toByte, (n >>> 8).toByte, n.toByte) ++ body
  }
  private def body(n: Int, fill: Byte = 1): Array[Byte] = Array.fill[Byte](n)(fill)

  test("single complete frame") {
    val a = new FrameAssembler
    val out = a.push(frame(body(10)))
    assert(out.map(_.toSeq) === Vector(body(10).toSeq))
    assert(a.bufferedBytes === 0)
  }

  test("two frames coalesced in one segment (Nagle)") {
    val a = new FrameAssembler
    val out = a.push(frame(body(5, 1)) ++ frame(body(7, 2)))
    assert(out.map(_.length) === Vector(5, 7))
    assert(out(0).forall(_ == 1) && out(1).forall(_ == 2))
  }

  test("frame split across three segments") {
    val a = new FrameAssembler
    val full = frame(body(100, 3))
    val (s1, rest) = full.splitAt(30)
    val (s2, s3) = rest.splitAt(40)
    assert(a.push(s1).isEmpty)
    assert(a.bufferedBytes === 30)
    assert(a.push(s2).isEmpty)
    val out = a.push(s3)
    assert(out.map(_.length) === Vector(100))
    assert(out(0).forall(_ == 3))
  }

  test("mid-stream fragment with no state is skipped (valid-length heuristic)") {
    val a = new FrameAssembler
    // looks like a huge length ("HBas" preamble = 1212309875)
    assert(a.push("HBas P".getBytes("UTF-8")).isEmpty)
    assert(a.bufferedBytes === 0)
    // negative/absurd first int
    assert(a.push(Array[Byte](0x7f, 0x7f, 0x7f, 0x7f)).isEmpty)
    // next valid frame still parses (state was never polluted)
    assert(a.push(frame(body(4))).map(_.length) === Vector(4))
  }

  test("partial 4-byte prefix across segments is completed (documented deviation)") {
    val a = new FrameAssembler
    val full = frame(body(6, 9)) ++ frame(body(8, 4))
    val (s1, s2) = full.splitAt(12) // cuts inside the second prefix
    assert(a.push(s1).map(_.length) === Vector(6))
    assert(a.push(s2).map(_.length) === Vector(8))
  }

  test("invalid mid-buffer length drops the rest (desync)") {
    val a = new FrameAssembler
    val junk = Array[Byte](0x70, 0, 0, 0) ++ body(4) // absurd second length
    val out = a.push(frame(body(5)) ++ junk)
    assert(out.map(_.length) === Vector(5))
    assert(a.bufferedBytes === 0) // dropped, will re-sync on next segment
    assert(a.push(frame(body(3))).map(_.length) === Vector(3))
  }

  test("segment shorter than 4 bytes with no state is skipped") {
    val a = new FrameAssembler
    assert(a.push(Array[Byte](0, 1)).isEmpty)
    assert(a.bufferedBytes === 0)
  }

  test("buffer snapshot/restore round-trips mid-frame state") {
    val a = new FrameAssembler
    val full = frame(body(50, 7)) ++ frame(body(60, 8))
    val (s1, s2) = full.splitAt(70) // inside the second frame's body
    assert(a.push(s1).map(_.length) === Vector(50))
    val snap = a.buffered
    assert(snap.length === a.bufferedBytes)
    val b = new FrameAssembler
    b.restore(snap)
    val out = b.push(s2)
    assert(out.map(_.length) === Vector(60))
    assert(out(0).forall(_ == 8))
    assert(b.bufferedBytes === 0)
  }

  test("large frame in MTU-sized segments assembles in amortized time") {
    // 32 MiB body in 1460-byte segments (~23k pushes). The pre-round-9
    // assembler copied the whole buffer per push (toByteArray) — ~380 GB
    // of memcpy for this input, minutes of wall clock; the offset-tracked
    // buffer does ~3 copies of the data total. The generous bound fails
    // loudly on any return to quadratic behavior while staying far from
    // CI timing flakiness.
    val n = 32 * 1024 * 1024
    val full = frame(body(n, 5))
    val t0 = System.nanoTime()
    val a = new FrameAssembler
    var out = Vector.empty[Array[Byte]]
    var pos = 0
    while (pos < full.length) {
      val next = math.min(pos + 1460, full.length)
      out = a.push(java.util.Arrays.copyOfRange(full, pos, next))
      pos = next
    }
    val sec = (System.nanoTime() - t0) / 1e9
    assert(out.map(_.length) === Vector(n))
    assert(out(0)(0) === 5 && out(0)(n - 1) === 5)
    assert(a.bufferedBytes === 0)
    assert(sec < 5.0, f"quadratic reassembly suspected: $sec%.1f s for 32 MiB")
  }

  test("buffer growth stops at the pending frame's declared size") {
    // a 3 MiB + 1 B body in 1,448-byte segments: plain doubling from the
    // first segment would end in a 5.66 MiB array; once the length prefix
    // is buffered, growth is capped at the declared frame
    val n = 3 * 1024 * 1024 + 1
    val mss = 1448
    val full = frame(body(n, 6))
    val a = new FrameAssembler
    var out = Vector.empty[Array[Byte]]
    var maxCapacity = 0
    var pos = 0
    while (pos < full.length) {
      val next = math.min(pos + mss, full.length)
      out = a.push(java.util.Arrays.copyOfRange(full, pos, next))
      maxCapacity = math.max(maxCapacity, a.capacity)
      pos = next
    }
    assert(out.map(_.length) === Vector(n))
    assert(maxCapacity <= n + 4 + mss, s"buffer grew to $maxCapacity bytes")
  }
}
