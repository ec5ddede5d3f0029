package graft.proto

import java.nio.charset.StandardCharsets.UTF_8

import ProtoWire.{EmptySlice, Reader, Slice}

/** HBase RPC message decode on top of [[ProtoWire]].
  *
  * Re-expresses the reference's protobuf-generated-class parsing
  * (reference: src/hbase_packet_inspector/hbase.clj:71-99 parse-response,
  * :110-144 get/scan requests, :167-206 mutations/multi/bulk-load,
  * :208-245 parse-request, :247-256 parse-stream) against the public
  * Apache HBase protocol definitions (hbase-protocol `RPC.proto` /
  * `Client.proto` field numbers, which are stable public API).
  *
  * Output model: a flat [[RpcInfo]] instead of a Clojure map; `None`
  * mirrors absent map keys.
  *
  * Every message is read in place as a [[ProtoWire.Slice]] of the frame's
  * own bytes: no field map, no boxed values, no copies but the strings
  * emitted. A nested message is checked only when the decode reads it,
  * the same set of messages protobuf-java's lazy getters would touch.
  */
object HbaseRpc {

  /** One action inside a multi request (reference hbase.clj:189-201). */
  final case class RpcAction(
      method: String,
      table: Option[String],
      region: Option[String],
      row: Option[String],
      cells: Option[Int],
      durability: Option[String])

  /** One per-action result inside a multi response: action merged with
    * result cells/exception (reference hbase.clj:49-69).
    */
  final case class RpcResult(
      method: String,
      table: Option[String],
      region: Option[String],
      row: Option[String],
      cells: Option[Int],
      durability: Option[String],
      error: Option[String])

  /** Parsed request or response, before transport/correlation fields are
    * attached. Field names follow the reference's map keys
    * (hbase.clj / SURVEY §3).
    */
  final case class RpcInfo(
      method: String,
      callId: Int,
      scanner: Option[Long] = None,
      table: Option[String] = None,
      region: Option[String] = None,
      row: Option[String] = None,
      stoprow: Option[String] = None,
      cells: Option[Int] = None,
      durability: Option[String] = None,
      caching: Option[Int] = None,
      error: Option[String] = None,
      actions: Seq[RpcAction] = Nil,
      results: Seq[RpcResult] = Nil)

  final class DecodeException(msg: String) extends RuntimeException(msg)

  // --- byte/name helpers -------------------------------------------------

  private val HexUpper = "0123456789ABCDEF".toCharArray

  /** Printable form of row/table bytes — the public contract of HBase
    * `Bytes.toStringBinary` (reference hbase.clj:29-35): printable ASCII
    * minus backslash kept, everything else `\xHH`.
    */
  def toStringBinary(b: Array[Byte]): String = toStringBinary(b, 0, b.length)

  /** [[toStringBinary]] of `len` bytes of `b` from `off`. */
  def toStringBinary(b: Array[Byte], off: Int, len: Int): String = {
    val sb = new StringBuilder(len)
    var i = off
    while (i < off + len) {
      val ch = b(i) & 0xff
      if (ch >= ' ' && ch <= '~' && ch != '\\') sb.append(ch.toChar)
      else {
        sb.append("\\x").append(HexUpper(ch / 16)).append(HexUpper(ch % 16))
      }
      i += 1
    }
    sb.toString
  }

  /** CamelCase -> kebab-lower, the reference's `->keyword`
    * (hbase.clj:146-165): "BulkLoadHFile" -> "bulk-load-hfile",
    * enum names like "USE_DEFAULT" -> "use_default".
    */
  def toKeyword(s: String): String = {
    val sb = new StringBuilder(s.length + 4)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (i > 0 && c.isUpper && s.charAt(i - 1).isLower) sb.append('-')
      sb.append(c.toLower)
      i += 1
    }
    sb.toString
  }

  /** Table + encoded region name from region-name bytes (reference
    * hbase.clj:101-108; public HRegionInfo layout
    * `<table>,<startkey>,<id>.<md5hex32>.`). Old-style names without the
    * trailing-dot md5 suffix hash exactly like HBase pre-0.92:
    * decimal |JenkinsHash| of the name bytes ([[JenkinsHash]] — round-3
    * verdict closed the earlier md5 stand-in).
    */
  def parseRegionName(name: Array[Byte]): (String, String) =
    parseRegionName(name, 0, name.length)

  /** [[parseRegionName]] of the `len` name bytes of `b` from `off`. */
  def parseRegionName(b: Array[Byte], off: Int, len: Int): (String, String) = {
    val end = off + len
    var comma = off
    while (comma < end && b(comma) != ','.toByte) comma += 1
    val table = toStringBinary(b, off, comma - off)
    // new-style names end ",<md5hex32>." — require BOTH delimiting dots
    // (HRegionInfo.encodeRegionName checks the separator at length-34);
    // otherwise fall back to the hash path.
    val encoded =
      if (len > 34 && b(end - 1) == '.'.toByte && b(end - 34) == '.'.toByte)
        new String(b, end - 33, 32, UTF_8)
      else JenkinsHash.encodeRegionName(java.util.Arrays.copyOfRange(b, off, end))
    (table, encoded)
  }

  /** Keyword of a method name, which must match `[a-zA-Z]+`. */
  private def methodKeyword(b: Array[Byte], off: Int, len: Int): String = {
    // checked on the bytes: a byte outside the ASCII letters decodes to a
    // char outside [a-zA-Z] as well
    var letters = len > 0
    var i = off
    while (letters && i < off + len) {
      val c = b(i)
      letters = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
      i += 1
    }
    val name = new String(b, off, len, UTF_8)
    if (!letters) throw new DecodeException(s"Invalid method name: $name")
    toKeyword(name)
  }

  // --- proto field numbers (public Apache HBase RPC.proto/Client.proto) --

  private object F {
    // RPCProtos.RequestHeader
    val ReqCallId = 1; val ReqMethodName = 3; val ReqParam = 4
    // RPCProtos.ResponseHeader
    val ResCallId = 1; val ResException = 2
    // RPCProtos.ExceptionResponse
    val ExcClassName = 1
    // RegionSpecifier
    val RegionValue = 2
    // GetRequest
    val GetReqRegion = 1; val GetReqGet = 2
    // Get
    val GetRow = 1; val GetColumn = 2
    // Column
    val ColQualifier = 2
    // ScanRequest
    val ScanReqRegion = 1; val ScanReqScan = 2; val ScanReqScannerId = 3
    val ScanReqClose = 5
    // Scan
    val ScanStartRow = 3; val ScanStopRow = 4; val ScanCaching = 17
    // MutateRequest
    val MutReqRegion = 1; val MutReqMutation = 2; val MutReqCondition = 3
    // MutationProto
    val MutRow = 1; val MutType = 2; val MutColumnValue = 3; val MutDurability = 6
    val MutAssocCells = 8
    // MutationProto.ColumnValue
    val CvQualifierValue = 2
    // MultiRequest
    val MultiRegionAction = 1; val MultiCondition = 3
    // RegionAction
    val RaRegion = 1; val RaAction = 3
    // Action
    val ActMutation = 2; val ActGet = 3
    // MultiResponse
    val MultiResRar = 1
    // RegionActionResult
    val RarRoe = 1
    // ResultOrException
    val RoeResult = 2; val RoeException = 3
    // NameBytesPair
    val NbpName = 1
    // BulkLoadHFileRequest
    val BlRegion = 1
    // GetResponse
    val GetResResult = 1
    // Result
    val ResultCell = 1; val ResultAssocCells = 2
    // ScanResponse
    val ScanResCellsPerResult = 1; val ScanResScannerId = 2
  }

  private val MutationTypes = Array("append", "increment", "put", "delete")
  private val Durabilities = Array("use_default", "skip_wal", "async_wal", "sync_wal", "fsync_wal")

  private def binary(m: Slice, f: Int): Option[String] =
    m.lastBytes(f)(toStringBinary(_, _, _))

  private def regionOf(m: Slice, f: Int): (Option[String], Option[String]) =
    m.msg(f).flatMap(_.lastBytes(F.RegionValue)(parseRegionName(_, _, _))) match {
      case Some((t, r)) => (Some(t), Some(r))
      case None         => (None, None)
    }

  // --- request side ------------------------------------------------------

  /** GetRequest (reference hbase.clj:110-119): region + row + total
    * qualifier count.
    */
  private def parseGetRequest(m: Slice): RpcInfo = {
    val (table, region) = regionOf(m, F.GetReqRegion)
    val get = m.msg(F.GetReqGet)
    var qualifiers = 0
    get.foreach(_.foreachMsg(F.GetColumn)(c => qualifiers += c.bytesCount(F.ColQualifier)))
    RpcInfo("get", 0, table = table, region = region, row = get.flatMap(binary(_, F.GetRow)),
      cells = Some(qualifiers))
  }

  /** ScanRequest (reference hbase.clj:121-144): method refined to
    * open-scanner / next-rows / close-scanner / small-scan; open flavors
    * carry region/row/stoprow/caching.
    */
  private def parseScanRequest(m: Slice): RpcInfo = {
    val open = !m.has(F.ScanReqScannerId)
    val close = m.bool(F.ScanReqClose)
    val method =
      if (open && close) "small-scan"
      else if (open) "open-scanner"
      else if (close) "close-scanner"
      else "next-rows"
    val base = RpcInfo(method, 0, scanner = Some(m.varintOr(F.ScanReqScannerId, 0L)))
    if (open) {
      val (table, region) = regionOf(m, F.ScanReqRegion)
      val scan = m.msg(F.ScanReqScan).getOrElse(EmptySlice)
      base.copy(
        table = table, region = region,
        row = binary(scan, F.ScanStartRow).orElse(Some("")),
        stoprow = binary(scan, F.ScanStopRow).orElse(Some("")),
        // proto2 default: absent caching reads as 0 (reference getCaching)
        caching = Some(scan.varintOr(F.ScanCaching, 0L).toInt))
    } else base
  }

  /** MutationProto (reference hbase.clj:167-178): method from mutate type
    * (check-and- prefix under a condition), cells = associated count +
    * qualifier-value count, durability enum name.
    */
  private def parseMutation(m: Slice, condition: Boolean): (String, Option[String], Option[Int], Option[String]) = {
    // proto2 default for an absent mutate_type is APPEND (= 0), matching
    // the reference's generated getMutateType default.
    val t = m.varintOr(F.MutType, 0L)
    val mtype = if (t >= 0 && t < MutationTypes.length) MutationTypes(t.toInt) else "unknown"
    val method = if (condition) s"check-and-$mtype" else mtype
    var qv = 0
    m.foreachMsg(F.MutColumnValue)(cv => qv += cv.bytesCount(F.CvQualifierValue))
    val cells = m.varintOr(F.MutAssocCells, 0L).toInt + qv
    val d = m.varintOr(F.MutDurability, 0L)
    val durability = if (d >= 0 && d < Durabilities.length) Some(Durabilities(d.toInt)) else None
    (method, binary(m, F.MutRow), Some(cells), durability)
  }

  private def parseMutateRequest(m: Slice): RpcInfo = {
    val (method, row, cells, durability) =
      parseMutation(m.msg(F.MutReqMutation).getOrElse(EmptySlice), m.has(F.MutReqCondition))
    val (table, region) = regionOf(m, F.MutReqRegion)
    RpcInfo(method, 0, table = table, region = region, row = row, cells = cells,
      durability = durability)
  }

  /** MultiRequest -> actions list (reference hbase.clj:189-201); parent
    * table = first action's table (hbase.clj:236-240).
    */
  private def parseMultiRequest(m: Slice): RpcInfo = {
    val condition = m.has(F.MultiCondition)
    val actions = Vector.newBuilder[RpcAction]
    m.foreachMsg(F.MultiRegionAction) { ra =>
      val (table, region) = regionOf(ra, F.RaRegion)
      ra.foreachMsg(F.RaAction) { act =>
        actions += (
          if (act.has(F.ActGet))
            RpcAction("get", table, region, act.msg(F.ActGet).flatMap(binary(_, F.GetRow)),
              cells = None, durability = None)
          else {
            val (method, row, cells, durability) =
              parseMutation(act.msg(F.ActMutation).getOrElse(EmptySlice), condition)
            RpcAction(method, table, region, row, cells, durability)
          })
      }
    }
    val all = actions.result()
    RpcInfo("multi", 0, table = all.find(_.table.isDefined).flatMap(_.table), actions = all)
  }

  private def parseBulkLoad(m: Slice): RpcInfo = {
    val (table, region) = regionOf(m, F.BlRegion)
    RpcInfo("bulk-load-hfile", 0, table = table, region = region)
  }

  /** Request frame = delimited RequestHeader + optional delimited param
    * message (reference hbase.clj:208-245 parse-request).
    */
  def parseRequest(r: Reader): RpcInfo = {
    val header = r.readMessage()
    val method = header.lastBytes(F.ReqMethodName)(methodKeyword)
      .getOrElse(throw new DecodeException("Invalid method name: "))
    val callId = header.varintOr(F.ReqCallId, 0L).toInt
    val base = RpcInfo(method, callId)
    if (!header.bool(F.ReqParam)) base
    else {
      val parsed = method match {
        case "get"             => parseGetRequest(r.readMessage())
        case "scan"            => parseScanRequest(r.readMessage())
        case "mutate"          => parseMutateRequest(r.readMessage())
        case "multi"           => parseMultiRequest(r.readMessage())
        case "bulk-load-hfile" => parseBulkLoad(r.readMessage())
        case _                 => base
      }
      parsed.copy(method = if (parsed.method == "unknown") method else parsed.method, callId = callId)
    }
  }

  // --- response side -----------------------------------------------------

  private def resultCells(result: Slice): Int = {
    var cells = 0
    result.foreachMsg(F.ResultCell)(_ => cells += 1)
    result.varintOr(F.ResultAssocCells, 0L).toInt + cells
  }

  /** Response frame = delimited ResponseHeader + optional delimited body;
    * request context comes from the finder (reference hbase.clj:71-99).
    */
  def parseResponse(r: Reader, requestFinder: Int => Option[RpcInfo]): RpcInfo = {
    val header = r.readMessage()
    val callId = header.varintOr(F.ResCallId, 0L).toInt
    val error = header.msg(F.ResException).flatMap(_.string(F.ExcClassName))
    val request = requestFinder(callId)
    val method = request.map(_.method).getOrElse("unknown")
    val base = request.getOrElse(RpcInfo(method, callId))
      .copy(method = method, callId = callId, error = error)

    // An exception response is typically header-only (no body follows);
    // reading a delimited body unconditionally would throw and drop the
    // error record entirely.
    if (!r.hasRemaining) return base

    method match {
      case "open-scanner" | "next-rows" | "close-scanner" | "small-scan" =>
        val resp = r.readMessage()
        // repeated uint32 that may arrive packed or unpacked (proto2
        // encoders normally unpack, but accept both)
        var cells = 0
        resp.foreachVarint(F.ScanResCellsPerResult)(c => cells += c.toInt)
        base.copy(scanner = Some(resp.varintOr(F.ScanResScannerId, 0L)), cells = Some(cells))
      case "get" =>
        val resp = r.readMessage()
        base.copy(cells = Some(resp.msg(F.GetResResult).map(resultCells).getOrElse(0)))
      case "multi" =>
        val resp = r.readMessage()
        // cells comes from the RESPONSE side only (None when the
        // ResultOrException carries no Result) — the reference's
        // (map merge actions results) overwrites :cells the same way.
        // Results pair with the request's actions in order; extra
        // entries on either side are dropped, as a zip would.
        val actions = base.actions.iterator
        val results = Vector.newBuilder[RpcResult]
        var total = 0
        resp.foreachMsg(F.MultiResRar)(_.foreachMsg(F.RarRoe) { roe =>
          val cells = roe.msg(F.RoeResult).map(resultCells)
          val exc = roe.msg(F.RoeException).flatMap(_.string(F.NbpName))
          cells.foreach(total += _)
          if (actions.hasNext) {
            val a = actions.next()
            results += RpcResult(a.method, a.table, a.region, a.row, cells, a.durability, exc)
          }
        })
        base.copy(cells = Some(total), results = results.result())
      case _ => base
    }
  }

  /** Entry point matching reference hbase.clj:247-256 parse-stream. */
  def parseStream(inbound: Boolean, r: Reader, requestFinder: Int => Option[RpcInfo]): RpcInfo =
    if (inbound) parseRequest(r) else parseResponse(r, requestFinder)
}
