package graft.inspector

import org.scalatest.funsuite.AnyFunSuite

import graft.proto.HbaseRpc.RpcInfo

class ScanStateSpec extends AnyFunSuite {

  private val open = RpcInfo("open-scanner", 2,
    table = Some("t"), region = Some("r"), scanner = Some(0L))
  // as HbaseRpc.parseResponse builds it: the request's table and region
  // copied onto the matched response
  private val openRes = RpcInfo("open-scanner", 2,
    table = Some("t"), region = Some("r"), scanner = Some(7001L))

  test("full lifecycle: open -> response maps scanner -> next/close inherit region") {
    // the request itself is held by the tracker's call-id correlation
    val (s1, _) = ScanState.step(ScanState.empty, open, inbound = true, ts = 10L)
    assert(s1 === ScanState.empty)

    val (s2, _) = ScanState.step(s1, openRes, inbound = false, ts = 12L)
    assert(s2.scanners(7001L).info === ScanState.RegionInfo(Some("t"), Some("r")))

    val next = RpcInfo("next-rows", 3, scanner = Some(7001L))
    val (s3, n1) = ScanState.step(s2, next, inbound = true, ts = 20L)
    assert(n1.table === Some("t") && n1.region === Some("r"))
    assert(s3.scanners.contains(7001L)) // next does not discard

    val close = RpcInfo("close-scanner", 4, scanner = Some(7001L))
    val (s4, c1) = ScanState.step(s3, close, inbound = true, ts = 30L)
    assert(c1.table === Some("t") && c1.region === Some("r"))
    assert(s4.scanners.isEmpty) // close discards
  }

  test("small-scan: request and response leave no scan state") {
    val small = RpcInfo("small-scan", 10, table = Some("ts"), region = Some("rs"))
    val (s1, _) = ScanState.step(ScanState.empty, small, inbound = true, ts = 1L)
    assert(s1 === ScanState.empty)
    val (s2, _) = ScanState.step(s1, small.copy(scanner = Some(0L)), inbound = false, ts = 2L)
    assert(s2 === ScanState.empty)
  }

  test("next-rows for unknown scanner passes through unaugmented") {
    val next = RpcInfo("next-rows", 5, scanner = Some(9999L))
    val (s, out) = ScanState.step(ScanState.empty, next, inbound = true, ts = 1L)
    assert(s === ScanState.empty)
    assert(out.table === None)
  }

  test("expire drops stale entries; next-rows REFRESHES a scanner's ts") {
    val (s1, _) = ScanState.step(ScanState.empty, open, inbound = true, ts = 100L)
    val (s2, _) = ScanState.step(s1, openRes, inbound = false, ts = 110L)
    // an untouched scanner opened at 110 expires at cutoff 200
    assert(ScanState.expire(s2, 200L).scanners.isEmpty)
    // but a next-rows touch at 500 keeps it alive past that cutoff
    // (reference core.clj:127 assoc :ts — an active scan never expires)
    val next = RpcInfo("next-rows", 3, scanner = Some(7001L))
    val (s3, _) = ScanState.step(s2, next, inbound = true, ts = 500L)
    assert(ScanState.expire(s3, 200L).scanners.contains(7001L))
    assert(ScanState.expire(s3, 501L).scanners.isEmpty)
  }

  test("fuzz: random op sequences never throw; state bounded by live opens") {
    val rnd = new scala.util.Random(2026)
    var st = ScanState.empty
    var maxEntries = 0
    for (i <- 1 to 3000) {
      val method = Seq("open-scanner", "small-scan", "next-rows",
        "close-scanner", "get", "unknown")(rnd.nextInt(6))
      val info = RpcInfo(method, rnd.nextInt(8),
        table = if (rnd.nextBoolean()) Some(s"t${rnd.nextInt(3)}") else None,
        region = None,
        scanner = if (rnd.nextBoolean()) Some(rnd.nextInt(10).toLong) else None)
      val (next, out) = ScanState.step(st, info, rnd.nextBoolean(), ts = i.toLong)
      assert(out.method === method, s"step $i must not rewrite the method")
      st = next
      maxEntries = math.max(maxEntries, st.bufferedEntries)
    }
    // the 10 scanner ids bound the state
    assert(maxEntries <= 10, s"unbounded scan state: $maxEntries")
  }

  test("non-scan methods do not touch state") {
    val (s, out) = ScanState.step(ScanState.empty, RpcInfo("get", 1), inbound = true, ts = 1L)
    assert(s === ScanState.empty)
    assert(out === RpcInfo("get", 1))
  }
}
