package graft.inspector

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

/** Property-style tests with a fixed seed (no extra test-framework deps):
  * however a stream of length-prefixed frames is cut into TCP segments,
  * the assembler recovers exactly the original frames. This is the core
  * reassembly invariant (reference core.clj:152-259) — Nagle coalescing,
  * mid-frame cuts, and cuts inside the 4-byte prefix are all just
  * different cut placements.
  */
class ReassemblyPropertySpec extends AnyFunSuite {

  private def prefixed(body: Array[Byte]): Array[Byte] = {
    val n = body.length
    Array[Byte]((n >>> 24).toByte, (n >>> 16).toByte, (n >>> 8).toByte, n.toByte) ++ body
  }

  test("any segmentation of a frame stream reassembles to the original frames") {
    val rnd = new Random(42)
    for (trial <- 1 to 300) {
      val frames = List.fill(1 + rnd.nextInt(5)) {
        val body = new Array[Byte](1 + rnd.nextInt(300))
        rnd.nextBytes(body)
        body
      }
      val stream = frames.toArray.flatMap(prefixed)
      val nCuts = rnd.nextInt(12)
      // first segment must carry the full initial 4-byte prefix: with no
      // buffered state the valid-length? gate (faithful to the reference)
      // cannot sync on fewer bytes, so cuts at 1..3 are out of scope
      val cuts = List.fill(nCuts)(1 + rnd.nextInt(math.max(1, stream.length - 1)))
        .distinct.sorted.filter(c => c >= 4 && c < stream.length)
      val bounds = (0 :: cuts) :+ stream.length
      val segments = bounds.sliding(2).collect {
        case List(a, b) if b > a => stream.slice(a, b)
      }.toList

      val asm = new FrameAssembler
      val out = segments.flatMap(asm.push)
      assert(out.size === frames.size, s"trial $trial cuts $cuts")
      out.zip(frames).foreach { case (got, want) =>
        assert(got.toSeq === want.toSeq, s"trial $trial")
      }
      assert(asm.bufferedBytes === 0, s"trial $trial")
    }
  }

  test("ProtoWire varint round-trips across the full Long range") {
    val rnd = new Random(7)
    val values = Seq(0L, 1L, -1L, Long.MaxValue, Long.MinValue) ++
      Seq.fill(500)(rnd.nextLong()) ++
      (0 to 62).map(1L << _) ++ (0 to 62).map(i => (1L << i) - 1)
    values.foreach { v =>
      val bytes = graft.proto.ProtoWire.writer.writeRawVarint(v).toBytes
      assert(new graft.proto.ProtoWire.Reader(bytes).readVarint() === v, s"value $v")
    }
  }

  test("ProtoWire messages round-trip random scalar fields with last-wins") {
    val rnd = new Random(99)
    for (trial <- 1 to 200) {
      val fields = List.fill(1 + rnd.nextInt(8)) {
        val f = 1 + rnd.nextInt(200)
        if (rnd.nextBoolean()) (f, Left(rnd.nextLong()))
        else (f, Right(rnd.alphanumeric.take(rnd.nextInt(20)).mkString))
      }
      val w = graft.proto.ProtoWire.writer
      fields.foreach {
        case (f, Left(v))  => w.varint(f, v)
        case (f, Right(s)) => w.string(f, s)
      }
      val m = graft.proto.FieldMap.parse(w.toBytes)
      fields.groupBy(_._1).foreach { case (f, occ) =>
        occ.last._2 match {
          case Left(v)  => assert(m.varint(f) === Some(v), s"trial $trial field $f")
          case Right(s) => assert(m.string(f) === Some(s), s"trial $trial field $f")
        }
      }
    }
  }
}
