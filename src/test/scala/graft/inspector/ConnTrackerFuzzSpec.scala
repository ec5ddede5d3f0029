package graft.inspector

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

/** Adversarial-input fuzz: whatever bytes arrive on a connection — random
  * garbage, truncated protobuf, valid-looking lengths over junk bodies —
  * the tracker must never throw and its buffered state must stay within
  * the frame bound (a passive observer cannot assume well-formed peers;
  * the reference's catch-all is core.clj:255-259).
  */
class ConnTrackerFuzzSpec extends AnyFunSuite {

  private def seg(ts: Long, inbound: Boolean, payload: Array[Byte]) =
    KeyedSegment("10.9.9.9", 40009, inbound, "10.0.0.99", ts, 0L, 0L, 0L, payload)

  test("random garbage never throws; buffering never exceeds one declared frame") {
    val rnd = new Random(1234)
    val t = new ConnTracker("10.9.9.9", 40009)
    var pushed = 0L
    for (i <- 1 to 2000) {
      val payload = new Array[Byte](rnd.nextInt(400))
      rnd.nextBytes(payload)
      // bias some payloads toward plausible small frame lengths so the
      // assembler actually buffers and parsing actually runs
      if (payload.length >= 4 && rnd.nextBoolean()) {
        val len = rnd.nextInt(600)
        payload(0) = 0; payload(1) = 0
        payload(2) = ((len >>> 8) & 0xff).toByte; payload(3) = (len & 0xff).toByte
      }
      t.push(seg(1000L + i, rnd.nextBoolean(), payload)) // must not throw
      pushed += payload.length
      // buffered bytes can never exceed what was pushed, and each
      // direction's buffer is bounded by one declared (valid-length)
      // frame plus a trailing segment — i.e. well under MaxFrame; the
      // production bound at scale is the streaming per-key byte cap
      // (ConnTrackerBoundsSpec) on top of this.
      assert(t.bufferedBytes <= pushed, s"iteration $i")
      assert(t.bufferedBytes <= 2L * FrameAssembler.MaxFrameBytes, s"iteration $i")
    }
  }

  test("a huge declared frame buffers only what arrives; byte cap is the real bound") {
    val t = new ConnTracker("10.9.9.9", 40009)
    // declared length ~200 MiB passes the valid-length gate
    val prefix = Array[Byte](0x0C, 0, 0, 0)
    assert(t.push(seg(1L, inbound = true, prefix ++ Array.fill[Byte](1000)(1))).isEmpty)
    assert(t.bufferedBytes === 1004L) // only the received bytes are held
    // the streaming per-trigger bound drops it once past the byte cap
    val chunk = Array.fill[Byte](1 << 20)(1)
    while (t.bufferedBytes <= ConnTracker.MaxBufferBytes) t.push(seg(2L, inbound = true, chunk))
    t.trimState(2L)
    assert(t.bufferedBytes === 0L)
  }

  test("valid traffic still decodes after garbage poisoned the stream") {
    val t = new ConnTracker("10.9.9.9", 40009)
    val junk = new Array[Byte](100)
    new Random(5).nextBytes(junk)
    junk(0) = 0; junk(1) = 0; junk(2) = 0; junk(3) = 96 // "valid" length, garbage body
    assert(t.push(seg(1L, inbound = true, junk)).isEmpty)

    // a real get request on the same connection afterwards
    import graft.proto.ProtoWire.writer
    val header = writer.varint(1, 7L).string(3, "Get") // header-only request
    val body = header.toDelimitedBytes
    val frame = Array[Byte](0, 0, 0, body.length.toByte) ++ body
    val out = t.push(seg(2L, inbound = true, frame))
    assert(out.map(_.method) === Seq("get"))
  }
}
