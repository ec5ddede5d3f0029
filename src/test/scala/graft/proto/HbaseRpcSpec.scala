package graft.proto

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

import ProtoWire.{writer, Reader, Writer}
import HbaseRpc._

/** Decode tests against hand-encoded frames (mirrors the reference's
  * test/hbase_packet_inspector/hbase_test.clj cases). Field numbers below
  * are the public Apache HBase RPC.proto / Client.proto numbers.
  */
class HbaseRpcSpec extends AnyFunSuite {

  private val Hex32 = "0123456789abcdef0123456789abcdef"
  private def regionName(table: String) = s"$table,startkey,1234567890.$Hex32."

  private def regionSpecifier(name: String): Writer =
    writer.varint(1, 1L).bytes(2, name.getBytes(UTF_8))

  private def reqHeader(callId: Int, method: String, hasParam: Boolean = true): Writer = {
    val w = writer.varint(1, callId.toLong).string(3, method)
    if (hasParam) w.bool(4, true) else w
  }

  private def resHeader(callId: Int, error: Option[String] = None): Writer = {
    val w = writer.varint(1, callId.toLong)
    error.fold(w)(e => w.msg(2, writer.string(1, e)))
  }

  private def frame(parts: Writer*): Reader =
    new Reader(parts.toArray.flatMap(_.toDelimitedBytes))

  // --- helpers ----------------------------------------------------------

  test("toStringBinary escapes non-printables and backslash") {
    assert(toStringBinary("row1".getBytes(UTF_8)) === "row1")
    assert(toStringBinary(Array[Byte](0, 'A', 0x7f, '\\')) === "\\x00A\\x7F\\x5C")
  }

  test("toKeyword converts CamelCase and enum names") {
    assert(toKeyword("Get") === "get")
    assert(toKeyword("BulkLoadHFile") === "bulk-load-hfile")
    assert(toKeyword("USE_DEFAULT") === "use_default")
  }

  test("parseRegionName: new-style, old-style fallback, bogus separator") {
    val (t, r) = parseRegionName(regionName("mytable").getBytes(UTF_8))
    assert(t === "mytable")
    assert(r === Hex32)

    // old style: no trailing-dot suffix -> HBase pre-0.92 semantics,
    // decimal |JenkinsHash| of the whole name
    val old = "t1,k,123".getBytes(UTF_8)
    assert(parseRegionName(old) ===
      (("t1", String.valueOf(math.abs(JenkinsHash.hash(old))))))

    // looks new-style (trailing dot) but missing the '.' separator at
    // length-34 -> hash fallback, not a bogus 32-char suffix
    val bogus = ("t2,k,123X" + Hex32 + ".").getBytes(UTF_8)
    assert(parseRegionName(bogus)._2 === JenkinsHash.encodeRegionName(bogus))
    // the fallback is decimal digits (old-style shape), never 32-hex
    assert(parseRegionName(old)._2.forall(_.isDigit))
  }

  // --- requests ---------------------------------------------------------

  test("get request: region, row, qualifier count") {
    val get = writer.bytes(1, "row1".getBytes(UTF_8))
      .msg(2, writer.bytes(1, "cf".getBytes(UTF_8))
        .bytes(2, "q1".getBytes(UTF_8)).bytes(2, "q2".getBytes(UTF_8)))
    val param = writer.msg(1, regionSpecifier(regionName("mytable"))).msg(2, get)
    val info = parseRequest(frame(reqHeader(7, "Get"), param))
    assert(info.method === "get")
    assert(info.callId === 7)
    assert(info.table === Some("mytable"))
    assert(info.region === Some(Hex32))
    assert(info.row === Some("row1"))
    assert(info.cells === Some(2))
  }

  test("scan request flavors: open / next / close / small") {
    val scan = writer.bytes(3, "a".getBytes(UTF_8)).bytes(4, "z".getBytes(UTF_8))
    val open = parseRequest(frame(reqHeader(8, "Scan"),
      writer.msg(1, regionSpecifier(regionName("tscan"))).msg(2, scan)))
    assert(open.method === "open-scanner")
    assert(open.table === Some("tscan"))
    assert(open.row === Some("a"))
    assert(open.stoprow === Some("z"))
    assert(open.caching === Some(0)) // proto2 default when absent

    val openCaching = parseRequest(frame(reqHeader(8, "Scan"),
      writer.msg(1, regionSpecifier(regionName("tscan")))
        .msg(2, writer.bytes(3, "a".getBytes(UTF_8)).varint(17, 100L))))
    assert(openCaching.caching === Some(100))

    val next = parseRequest(frame(reqHeader(9, "Scan"),
      writer.varint(3, 555L).varint(4, 20L)))
    assert(next.method === "next-rows")
    assert(next.scanner === Some(555L))

    val close = parseRequest(frame(reqHeader(10, "Scan"),
      writer.varint(3, 555L).bool(5, true)))
    assert(close.method === "close-scanner")

    val small = parseRequest(frame(reqHeader(11, "Scan"),
      writer.msg(1, regionSpecifier(regionName("tscan"))).msg(2, scan).bool(5, true)))
    assert(small.method === "small-scan")
    assert(small.table === Some("tscan"))
  }

  private def mutation(mtype: Long, row: String = "mrow"): Writer =
    writer.bytes(1, row.getBytes(UTF_8)).varint(2, mtype)
      .msg(3, writer.bytes(1, "cf".getBytes(UTF_8))
        .msg(2, writer.bytes(1, "q1".getBytes(UTF_8)))
        .msg(2, writer.bytes(1, "q2".getBytes(UTF_8))))
      .varint(6, 3L)  // durability SYNC_WAL
      .varint(8, 5L)  // associated_cell_count

  test("mutate request: put with durability + cell counts; check-and-put") {
    val param = writer.msg(1, regionSpecifier(regionName("tmut"))).msg(2, mutation(2L))
    val info = parseRequest(frame(reqHeader(12, "Mutate"), param))
    assert(info.method === "put")
    assert(info.table === Some("tmut"))
    assert(info.row === Some("mrow"))
    assert(info.cells === Some(7)) // 5 associated + 2 qualifier-values
    assert(info.durability === Some("sync_wal"))

    val cond = writer.msg(1, regionSpecifier(regionName("tmut")))
      .msg(2, mutation(2L)).msg(3, writer.bytes(1, "crow".getBytes(UTF_8)))
    assert(parseRequest(frame(reqHeader(13, "Mutate"), cond)).method === "check-and-put")
  }

  test("mutate request: absent mutate_type defaults to append") {
    val m = writer.bytes(1, "r".getBytes(UTF_8)) // no type field
    val param = writer.msg(1, regionSpecifier(regionName("tm"))).msg(2, m)
    assert(parseRequest(frame(reqHeader(14, "Mutate"), param)).method === "append")
  }

  test("multi request: actions with region inheritance; parent table = first action's") {
    val ra1 = writer.msg(1, regionSpecifier(regionName("t1")))
      .msg(3, writer.msg(3, writer.bytes(1, "g1".getBytes(UTF_8)))) // Action{get}
      .msg(3, writer.msg(2, mutation(3L, "d1")))                    // Action{delete}
    val ra2 = writer.msg(1, regionSpecifier(regionName("t2")))
      .msg(3, writer.msg(2, mutation(2L, "p1")))                    // Action{put}
    val info = parseRequest(frame(reqHeader(20, "Multi"), writer.msg(1, ra1).msg(1, ra2)))
    assert(info.method === "multi")
    assert(info.table === Some("t1"))
    assert(info.actions.map(_.method) === Seq("get", "delete", "put"))
    assert(info.actions.map(_.table) === Seq(Some("t1"), Some("t1"), Some("t2")))
    assert(info.actions(1).row === Some("d1"))
  }

  test("bulk-load-hfile request") {
    val param = writer.msg(1, regionSpecifier(regionName("tbl")))
    val info = parseRequest(frame(reqHeader(21, "BulkLoadHFile"), param))
    assert(info.method === "bulk-load-hfile")
    assert(info.table === Some("tbl"))
  }

  test("coprocessor-service request decodes header-only (no param model)") {
    val info = parseRequest(frame(reqHeader(30, "ExecService", hasParam = false)))
    assert(info.method === "exec-service")
    assert(info.callId === 30)
    // CamelCase with consecutive capitals, as the reference's known list
    assert(toKeyword("CoprocessorService") === "coprocessor-service")
  }

  test("request without param flag carries only header info") {
    val info = parseRequest(frame(reqHeader(22, "Get", hasParam = false)))
    assert(info.method === "get")
    assert(info.callId === 22)
    assert(info.table === None)
  }

  test("invalid method name rejected") {
    assertThrows[DecodeException](
      parseRequest(frame(reqHeader(1, "not a method!"))))
  }

  test("10k distinct letter-only method names each decode to their keyword") {
    val rnd = new scala.util.Random(10000)
    val letters = ('a' to 'z') ++ ('A' to 'Z')
    val names = Iterator.continually(
      Seq.fill(1 + rnd.nextInt(24))(letters(rnd.nextInt(letters.size))).mkString)
      .distinct.take(10000).toVector
    names.zipWithIndex.foreach { case (name, i) =>
      val info = parseRequest(frame(reqHeader(i, name, hasParam = false)))
      assert(info.method === toKeyword(name), name)
      assert(info.callId === i)
    }
    // the [a-zA-Z]+ rule holds byte by byte: empty, digits, non-ASCII
    // letters and an absent name are all rejected
    Seq("", "Get1", "Gét", "Get\u0000").foreach { bad =>
      withClue(bad)(assertThrows[DecodeException](parseRequest(frame(reqHeader(1, bad)))))
    }
    assertThrows[DecodeException](parseRequest(frame(writer.varint(1, 1L))))
  }

  // --- responses --------------------------------------------------------

  private def finderFor(infos: RpcInfo*): Int => Option[RpcInfo] =
    id => infos.find(_.callId == id)

  test("get response: result cell count") {
    val result = writer.msg(1, writer.bytes(1, "cell".getBytes(UTF_8)))
      .msg(1, writer.bytes(1, "cell".getBytes(UTF_8))).varint(2, 2L)
    val req = RpcInfo("get", 7, table = Some("mytable"))
    val info = parseResponse(frame(resHeader(7), writer.msg(1, result)), finderFor(req))
    assert(info.method === "get")
    assert(info.cells === Some(4)) // 2 cells + associated 2
    assert(info.table === Some("mytable"))
    assert(info.error === None)
  }

  test("scan response: packed and unpacked cells_per_result + scanner id") {
    val req = RpcInfo("open-scanner", 8)
    val packedBody = {
      val packed = writer
      Seq(2L, 3L).foreach(packed.writeRawVarint)
      writer.bytes(1, packed.toBytes).varint(2, 777L)
    }
    val p = parseResponse(frame(resHeader(8), packedBody), finderFor(req))
    assert(p.scanner === Some(777L))
    assert(p.cells === Some(5))

    val unpackedBody = writer.varint(1, 2L).varint(1, 3L).varint(2, 777L)
    val u = parseResponse(frame(resHeader(8), unpackedBody), finderFor(req))
    assert(u.cells === Some(5))
  }

  test("header-only error response (no body) still yields the error record") {
    val req = RpcInfo("get", 40, table = Some("t"))
    val info = parseResponse(
      frame(resHeader(40, Some("org.apache.hadoop.hbase.NotServingRegionException"))),
      finderFor(req))
    assert(info.error === Some("org.apache.hadoop.hbase.NotServingRegionException"))
    assert(info.method === "get")
    assert(info.table === Some("t"))
    assert(info.cells === None) // no body to count cells from
  }

  test("error response: exception class from header") {
    val req = RpcInfo("get", 9)
    val info = parseResponse(
      frame(resHeader(9, Some("org.apache.hadoop.hbase.NotServingRegionException")),
        writer.msg(1, writer.varint(2, 0L))),
      finderFor(req))
    assert(info.error === Some("org.apache.hadoop.hbase.NotServingRegionException"))
  }

  test("multi response: per-action results, exceptions, response-side cells") {
    val actions = Seq(
      RpcAction("put", Some("t1"), Some("r1"), Some("a"), Some(3), Some("use_default")),
      RpcAction("get", Some("t1"), Some("r1"), Some("b"), None, None),
      RpcAction("delete", Some("t2"), Some("r2"), Some("c"), Some(1), None))
    val req = RpcInfo("multi", 30, table = Some("t1"), actions = actions)
    // RegionActionResult 1: result(2 cells), exception; RAR 2: result(1 cell)
    val rar1 = writer
      .msg(1, writer.msg(2, writer.varint(2, 2L)))
      .msg(1, writer.msg(3, writer.string(1, "org.foo.Boom")))
    val rar2 = writer.msg(1, writer.msg(2, writer.varint(2, 1L)))
    val body = writer.msg(1, rar1).msg(1, rar2)
    val info = parseResponse(frame(resHeader(30), body), finderFor(req))
    assert(info.method === "multi")
    assert(info.cells === Some(3))
    assert(info.results.size === 3)
    assert(info.results(0).cells === Some(2))
    assert(info.results(1).cells === None) // no Result on the response side
    assert(info.results(1).error === Some("org.foo.Boom"))
    assert(info.results(2).cells === Some(1))
    assert(info.results.map(_.method) === Seq("put", "get", "delete"))
  }

  test("unknown call-id response falls back to unknown method") {
    val info = parseResponse(frame(resHeader(99)), _ => None)
    assert(info.method === "unknown")
    assert(info.callId === 99)
  }

  test("all durability enum values decode") {
    val expected = Map(0L -> "use_default", 1L -> "skip_wal", 2L -> "async_wal",
      3L -> "sync_wal", 4L -> "fsync_wal")
    expected.foreach { case (code, name) =>
      val m = writer.bytes(1, "r".getBytes(UTF_8)).varint(2, 2L).varint(6, code)
      val param = writer.msg(1, regionSpecifier(regionName("t"))).msg(2, m)
      val info = parseRequest(frame(reqHeader(50, "Mutate"), param))
      assert(info.durability === Some(name), s"code $code")
    }
  }

  test("empty multi request: batch 0, no actions, no parent table") {
    val info = parseRequest(frame(reqHeader(51, "Multi"), writer.varint(2, 0L)))
    assert(info.method === "multi")
    assert(info.actions.isEmpty)
    assert(info.table === None)
  }

  test("scan open with empty start/stop rows surfaces empty strings, not None") {
    // reference emits "" for absent rows on open (hbase.clj:141-144)
    val info = parseRequest(frame(reqHeader(52, "Scan"),
      writer.msg(1, regionSpecifier(regionName("t"))).msg(2, writer.varint(17, 5L))))
    assert(info.method === "open-scanner")
    assert(info.row === Some(""))
    assert(info.stoprow === Some(""))
    assert(info.caching === Some(5))
  }

  test("toStringBinary round-trips every byte value") {
    val all = Array.tabulate[Byte](256)(i => i.toByte)
    val s = toStringBinary(all)
    // printable ASCII stays literal; everything else (and backslash) is \xHH
    assert(s.contains("ABC"))
    assert(s.contains("\\x00") && s.contains("\\xFF") && s.contains("\\x5C"))
    assert(!s.exists(c => c < ' ' || c > '~'))
  }
}
