package graft.inspector

import org.scalatest.funsuite.AnyFunSuite

import graft.proto.ProtoWire.writer

/** [[ConnTracker.trimState]], the state bounds applied after each capture
  * file: each bound fires alone at its constant, and the connection keeps
  * decoding after it fires. [[ConnTracker.run]] applies them at that
  * cadence: once per `fileTs` change and once at the end of its input.
  */
class ConnTrackerBoundsSpec extends AnyFunSuite {
  import ConnTracker.{MaxBufferBytes, MaxStateEntries, StateTimeoutMs}

  private val T0 = 1700000000000L

  private def rpcFrame(parts: graft.proto.ProtoWire.Writer*): Array[Byte] = {
    val body = parts.toArray.flatMap(_.toDelimitedBytes)
    Array[Byte]((body.length >>> 24).toByte, (body.length >>> 16).toByte,
      (body.length >>> 8).toByte, body.length.toByte) ++ body
  }
  private def getReq(callId: Int): Array[Byte] =
    rpcFrame(writer.varint(1, callId.toLong).string(3, "Get"))
  private def headerRes(callId: Int): Array[Byte] = rpcFrame(writer.varint(1, callId.toLong))
  private def openScanReq(callId: Int): Array[Byte] = rpcFrame(
    writer.varint(1, callId.toLong).string(3, "Scan").bool(4, true),
    writer.msg(1, writer.varint(1, 1L)
      .bytes(2, SyntheticTraffic.regionName("tleak").getBytes("UTF-8")))
      .msg(2, writer.bytes(3, "a".getBytes("UTF-8")).varint(17, 100L)))
  private def openScanRes(callId: Int, scannerId: Long): Array[Byte] = rpcFrame(
    writer.varint(1, callId.toLong), writer.varint(1, 1L).varint(2, scannerId))
  private def seg(ts: Long, inbound: Boolean, payload: Array[Byte]) =
    KeyedSegment("10.1.1.1", 50001, inbound, SyntheticTraffic.Server, ts, 0L, 0L, 0L, payload)
  /** A segment of the capture file whose first record is at `fileTs`. */
  private def fileSeg(fileTs: Long, ts: Long, inbound: Boolean, payload: Array[Byte]) =
    seg(ts, inbound, payload).copy(fileTs = fileTs)
  private def summary(recs: Seq[RecordInfo]): Seq[(Int, Boolean, String, Option[Long])] =
    recs.map(r => (r.call_id, r.inbound, r.method, r.elapsed))
  private def openScanner(t: ConnTracker, ts: Long, callId: Int, scannerId: Long): Unit = {
    assert(t.push(seg(ts, inbound = true, openScanReq(callId))).nonEmpty)
    assert(t.push(seg(ts, inbound = false, openScanRes(callId, scannerId))).nonEmpty)
  }

  test("expiry: entries last touched over 120 s before the newest ts drop; later frames decode") {
    val t = new ConnTracker("10.1.1.1", 50001)
    assert(t.push(seg(T0, inbound = true, getReq(1))).nonEmpty) // pending call 1
    openScanner(t, T0 + 1, 2, 9002L)
    assert(t.stateEntries === 2)
    // exactly 120 s later nothing is older than the cutoff
    assert(t.trimState(T0 + StateTimeoutMs) === 0)
    assert(t.stateEntries === 2)
    // 1 ms more: the request expires; the scanner, 1 ms younger, survives
    assert(t.trimState(T0 + StateTimeoutMs + 1) === 1)
    assert(t.pendingCalls === 0)
    assert(t.snapshot.scan.scanners.keySet === Set(9002L))
    assert(t.trimState(T0 + StateTimeoutMs + 2) === 1)
    assert(t.stateEntries === 0)
    // the late response still decodes, uncorrelated; new calls correlate
    val late = t.push(seg(T0 + StateTimeoutMs + 3, inbound = false, headerRes(1)))
    assert(late.map(r => (r.call_id, r.method, r.elapsed)) === Seq((1, "unknown", None)))
    t.push(seg(T0 + StateTimeoutMs + 4, inbound = true, getReq(3)))
    val res = t.push(seg(T0 + StateTimeoutMs + 9, inbound = false, headerRes(3)))
    assert(res.map(r => (r.method, r.elapsed)) === Seq(("get", Some(5L))))
  }

  test("byte cap: a partial frame over 64 MiB buffered is reset; later frames decode") {
    val t = new ConnTracker("10.1.1.1", 50001)
    assert(t.push(seg(T0, inbound = true, getReq(7))).nonEmpty) // pending call 7
    // declared ~200 MiB frames pass the valid-length gate: 1 MiB of one
    // buffers outbound, the rest of the cap inbound in 1 MiB segments
    val chunk = Array.fill[Byte](1 << 20)(1)
    val first = Array[Byte](0x0C, 0, 0, 0) ++ chunk.drop(4)
    assert(t.push(seg(T0, inbound = false, first)).isEmpty)
    assert(t.push(seg(T0, inbound = true, first)).isEmpty)
    while (t.bufferedBytes < MaxBufferBytes) assert(t.push(seg(T0, inbound = true, chunk)).isEmpty)
    assert(t.bufferedBytes === MaxBufferBytes)
    assert(t.trimState(T0) === 0)
    assert(t.bufferedBytes === MaxBufferBytes) // at the cap: kept
    assert(t.push(seg(T0, inbound = true, Array[Byte](1))).isEmpty)
    assert(t.trimState(T0) === 0) // no entry dropped...
    assert(t.bufferedBytes === 0L) // ...but one byte over: both buffers reset
    assert(t.pendingCalls === 1)
    // the next segment re-syncs, and correlation survived the reset
    assert(t.push(seg(T0 + 1, inbound = true, getReq(8))).map(_.call_id) === Seq(8))
    val res = t.push(seg(T0 + 4, inbound = false, headerRes(7)))
    assert(res.map(r => (r.method, r.elapsed)) === Seq(("get", Some(4L))))
  }

  test("entry cap: above 10,000 entries the oldest drop first; later frames decode") {
    val t = new ConnTracker("10.1.1.1", 50001)
    assert(t.push(seg(999L, inbound = true, getReq(1))).nonEmpty) // oldest: pending call 1
    for (i <- 0 until MaxStateEntries - 1) openScanner(t, 1000L + i, 100 + i, 100000L + i)
    assert(t.stateEntries === MaxStateEntries)
    val newest = 1000L + MaxStateEntries - 2
    assert(t.trimState(newest) === 0) // at the cap: nothing dropped
    assert(t.stateEntries === MaxStateEntries)
    for (i <- MaxStateEntries - 1 until MaxStateEntries + 5)
      openScanner(t, 1000L + i, 100 + i, 100000L + i)
    assert(t.stateEntries === MaxStateEntries + 6)
    assert(t.trimState(1000L + MaxStateEntries + 4) === 6)
    assert(t.stateEntries === MaxStateEntries)
    // the survivors are the NEWEST entries: the pending call and the five
    // oldest scanners went
    assert(t.pendingCalls === 0)
    assert(t.snapshot.scan.scanners.keySet ===
      (5 until MaxStateEntries + 5).map(100000L + _).toSet)
    // a surviving scanner still resolves; a new scanner opens
    val next = t.push(seg(20000L, inbound = true, rpcFrame(
      writer.varint(1, 50000L).string(3, "Scan").bool(4, true),
      writer.varint(3, 100005L).varint(4, 10L))))
    assert(next.map(r => (r.method, r.table.isDefined)) === Seq(("next-rows", true)))
    openScanner(t, 20001L, 50001, 7L)
    assert(t.snapshot.scan.scanners.contains(7L))
  }

  test("leaked scanners expire: snapshot state bounded across micro-batches") {
    // a busy connection opens 5 scanners/batch, never closes any; the
    // snapshot (= the flatMapGroupsWithState state) must stay bounded by
    // the 120 s window instead of growing with connection lifetime
    var snap: Option[ConnSnapshot] = None
    var opened = 0
    var maxScanners = 0
    for (batch <- 0 until 30) {
      val t = new ConnTracker("10.1.1.1", 50001)
      snap.foreach(t.restore)
      var last = 0L
      for (_ <- 0 until 5) {
        val ts = T0 + opened * 1000L
        assert(t.push(seg(ts, inbound = true, openScanReq(opened))).nonEmpty)
        assert(t.push(seg(ts + 1, inbound = false,
          openScanRes(opened, 9000L + opened))).nonEmpty)
        last = ts + 1
        opened += 1
      }
      t.trimState(last)
      snap = Some(t.snapshot)
      maxScanners = math.max(maxScanners, snap.get.scan.scanners.size)
    }
    assert(opened === 150)
    // only scanners opened in the trailing 120 s survive (~121), never all
    assert(maxScanners <= 122, s"scanner state grew to $maxScanners")
    assert(snap.get.scan.scanners.size <= 122)
  }

  // --- the cadence of ConnTracker.run ------------------------------------

  test("run: no trim between the segments of one file, one at the end of input") {
    val t = new ConnTracker("10.1.1.1", 50001)
    val out = t.run(Iterator(
      fileSeg(T0, T0, inbound = true, getReq(1)),
      fileSeg(T0, T0 + 121000L, inbound = true, getReq(2)),
      fileSeg(T0, T0 + 122000L, inbound = false, headerRes(1)),
      fileSeg(T0, T0 + 122000L, inbound = true, getReq(3))))
    // mid-file, call 1 is 121 s older than call 2 but not trimmed
    assert(summary(Seq(out.next(), out.next())) === Seq((1, true, "get", None), (2, true, "get", None)))
    assert(t.pendingCalls === 2)
    assert(summary(Seq(out.next())) === Seq((1, false, "get", Some(122000L))))
    assert(summary(out.toSeq) === Seq((3, true, "get", None)))
    // the end of input trims: calls 2 and 3 are within 120 s of the newest
    assert(t.pendingCalls === 2)

    val u = new ConnTracker("10.1.1.1", 50001)
    u.run(Iterator(
      fileSeg(T0, T0, inbound = true, getReq(1)),
      fileSeg(T0, T0 + 121000L, inbound = true, getReq(2)))).foreach(_ => ())
    // call 1 expires at the end-of-input trim, with no file change
    assert(u.pendingCalls === 1)
    assert(u.snapshot.pending.keySet === Set(2))
  }

  test("run: one trim per fileTs change, with the newest ts pushed so far") {
    val t = new ConnTracker("10.1.1.1", 50001)
    val fileB = T0 + 130000L
    val fileC = T0 + 230000L
    val out = t.run(Iterator(
      fileSeg(T0, T0, inbound = true, getReq(1)),
      fileSeg(T0, T0 + 100000L, inbound = true, getReq(2)),
      // the trim at this change uses T0 + 100 s, not this segment's ts:
      // call 1 survives and matches 130 s after its request
      fileSeg(fileB, fileB, inbound = false, headerRes(1)),
      fileSeg(fileB, T0 + 221000L, inbound = true, getReq(3)),
      // the next change trims again, at T0 + 221 s: call 2 has expired
      fileSeg(fileC, fileC, inbound = false, headerRes(2)),
      fileSeg(fileC, fileC + 1, inbound = false, headerRes(3)))).toSeq
    assert(summary(out) === Seq(
      (1, true, "get", None), (2, true, "get", None),
      (1, false, "get", Some(130000L)), (3, true, "get", None),
      (2, false, "unknown", None), (3, false, "get", Some(9001L))))
  }

  test("run: a response 126 s after its request, with a request at +125 s in an earlier file, is unmatched") {
    val t = new ConnTracker("10.1.1.1", 50001)
    val out = t.run(Iterator(
      fileSeg(T0, T0, inbound = true, getReq(1)),
      fileSeg(T0 + 125000L, T0 + 125000L, inbound = true, getReq(2)),
      fileSeg(T0 + 126000L, T0 + 126000L, inbound = false, headerRes(1)))).toSeq
    assert(summary(out).last === ((1, false, "unknown", None)))
  }

  test("run: a response 119 s after its request, across files, still matches") {
    val t = new ConnTracker("10.1.1.1", 50001)
    val out = t.run(Iterator(
      fileSeg(T0, T0, inbound = true, getReq(1)),
      fileSeg(T0 + 118000L, T0 + 118000L, inbound = true, getReq(2)),
      fileSeg(T0 + 119000L, T0 + 119000L, inbound = false, headerRes(1)))).toSeq
    assert(summary(out).last === ((1, false, "get", Some(119000L))))
  }
}
