package graft.proto

import java.nio.charset.StandardCharsets.UTF_8

import ProtoWire.{Msg, Reader}
import HbaseRpc.{DecodeException, RpcAction, RpcInfo, RpcResult}

/** The HBase RPC decoder that [[HbaseRpc]]'s in-place slice decode
  * replaced, kept as the differential oracle of `HbaseRpcDifferentialSpec`:
  * each message walked into a `Map[Int, Vector[Value]]` by
  * [[ProtoWire.parse]], nested messages copied out, a regex for the method
  * name. Only the output case classes are shared with [[HbaseRpc]]; the
  * byte and name helpers are its own copies.
  *
  * It re-expresses the reference's protobuf-generated-class parsing
  * (reference: src/hbase_packet_inspector/hbase.clj:71-99 parse-response,
  * :110-144 get/scan requests, :167-206 mutations/multi/bulk-load,
  * :208-245 parse-request, :247-256 parse-stream) against the public
  * Apache HBase protocol definitions (hbase-protocol `RPC.proto` /
  * `Client.proto` field numbers, which are stable public API).
  */
object LegacyHbaseRpc {

  // --- byte/name helpers -------------------------------------------------

  private val HexUpper = "0123456789ABCDEF".toCharArray

  /** Printable form of row/table bytes — the public contract of HBase
    * `Bytes.toStringBinary` (reference hbase.clj:29-35): printable ASCII
    * minus backslash kept, everything else `\xHH`.
    */
  def toStringBinary(b: Array[Byte]): String = {
    val sb = new StringBuilder(b.length)
    var i = 0
    while (i < b.length) {
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
  def parseRegionName(name: Array[Byte]): (String, String) = {
    val comma = name.indexOf(','.toByte)
    val table = toStringBinary(if (comma < 0) name else java.util.Arrays.copyOfRange(name, 0, comma))
    // new-style names end ",<md5hex32>." — require BOTH delimiting dots
    // (HRegionInfo.encodeRegionName checks the separator at length-34);
    // otherwise fall back to the hash path.
    val encoded =
      if (name.length > 34 && name(name.length - 1) == '.'.toByte &&
          name(name.length - 34) == '.'.toByte)
        new String(name, name.length - 33, 32, UTF_8)
      else JenkinsHash.encodeRegionName(name)
    (table, encoded)
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

  private val MutationTypes = Map(0L -> "append", 1L -> "increment", 2L -> "put", 3L -> "delete")
  private val Durabilities =
    Map(0L -> "use_default", 1L -> "skip_wal", 2L -> "async_wal", 3L -> "sync_wal", 4L -> "fsync_wal")

  /** repeated uint32 that may arrive packed or unpacked (proto2 encoders
    * normally unpack, but accept both).
    */
  private def repeatedVarints(m: Msg, f: Int): Vector[Long] =
    m.fields.getOrElse(f, Vector.empty).flatMap {
      case ProtoWire.VarintV(v) => Vector(v)
      case ProtoWire.BytesV(b) =>
        val r = new Reader(b)
        val out = Vector.newBuilder[Long]
        while (r.hasRemaining) out += r.readVarint()
        out.result()
      case _ => Vector.empty
    }

  private def regionOf(m: Msg, f: Int): (Option[String], Option[String]) =
    m.msg(f).flatMap(_.bytes(F.RegionValue)) match {
      case Some(nameBytes) =>
        val (t, r) = parseRegionName(nameBytes)
        (Some(t), Some(r))
      case None => (None, None)
    }

  // --- request side ------------------------------------------------------

  /** GetRequest (reference hbase.clj:110-119): region + row + total
    * qualifier count.
    */
  private def parseGetRequest(m: Msg): RpcInfo = {
    val (table, region) = regionOf(m, F.GetReqRegion)
    val get = m.msg(F.GetReqGet)
    val row = get.flatMap(_.bytes(F.GetRow)).map(toStringBinary)
    val qualifiers = get.toSeq.flatMap(_.msgs(F.GetColumn)).map(_.bytesList(F.ColQualifier).size).sum
    RpcInfo("get", 0, table = table, region = region, row = row, cells = Some(qualifiers))
  }

  /** ScanRequest (reference hbase.clj:121-144): method refined to
    * open-scanner / next-rows / close-scanner / small-scan; open flavors
    * carry region/row/stoprow/caching.
    */
  private def parseScanRequest(m: Msg): RpcInfo = {
    val open = !m.has(F.ScanReqScannerId)
    val close = m.bool(F.ScanReqClose)
    val method =
      if (open && close) "small-scan"
      else if (open) "open-scanner"
      else if (close) "close-scanner"
      else "next-rows"
    val base = RpcInfo(method, 0, scanner = Some(m.varintOr(F.ScanReqScannerId, 0L)))
    if (method == "open-scanner" || method == "small-scan") {
      val (table, region) = regionOf(m, F.ScanReqRegion)
      val scan = m.msg(F.ScanReqScan)
      base.copy(
        table = table, region = region,
        row = scan.flatMap(_.bytes(F.ScanStartRow)).map(toStringBinary).orElse(Some("")),
        stoprow = scan.flatMap(_.bytes(F.ScanStopRow)).map(toStringBinary).orElse(Some("")),
        // proto2 default: absent caching reads as 0 (reference getCaching)
        caching = Some(scan.flatMap(_.varint(F.ScanCaching)).map(_.toInt).getOrElse(0)))
    } else base
  }

  /** MutationProto (reference hbase.clj:167-178): method from mutate type
    * (check-and- prefix under a condition), cells = associated count +
    * qualifier-value count, durability enum name.
    */
  private def parseMutation(m: Msg, condition: Boolean): (String, Option[String], Option[Int], Option[String]) = {
    // proto2 default for an absent mutate_type is APPEND (= 0), matching
    // the reference's generated getMutateType default.
    val mtype = MutationTypes.getOrElse(m.varintOr(F.MutType, 0L), "unknown")
    val method = if (condition) s"check-and-$mtype" else mtype
    val row = m.bytes(F.MutRow).map(toStringBinary)
    val qv = m.msgs(F.MutColumnValue).map(_.bytesList(F.CvQualifierValue).size).sum
    val cells = m.varintOr(F.MutAssocCells, 0L).toInt + qv
    val durability = Durabilities.get(m.varintOr(F.MutDurability, 0L))
    (method, row, Some(cells), durability)
  }

  private def parseMutateRequest(m: Msg): RpcInfo = {
    val (method, row, cells, durability) =
      parseMutation(m.msg(F.MutReqMutation).getOrElse(new Msg(Map.empty)), m.has(F.MutReqCondition))
    val (table, region) = regionOf(m, F.MutReqRegion)
    RpcInfo(method, 0, table = table, region = region, row = row, cells = cells,
      durability = durability)
  }

  /** MultiRequest -> actions list (reference hbase.clj:189-201); parent
    * table = first action's table (hbase.clj:236-240).
    */
  private def parseMultiRequest(m: Msg): RpcInfo = {
    val condition = m.has(F.MultiCondition)
    val actions = for {
      ra <- m.msgs(F.MultiRegionAction)
      (table, region) = regionOf(ra, F.RaRegion)
      act <- ra.msgs(F.RaAction)
    } yield {
      if (act.has(F.ActGet)) {
        val row = act.msg(F.ActGet).flatMap(_.bytes(F.GetRow)).map(toStringBinary)
        RpcAction("get", table, region, row, cells = None, durability = None)
      } else {
        val (method, row, cells, durability) =
          parseMutation(act.msg(F.ActMutation).getOrElse(new Msg(Map.empty)), condition)
        RpcAction(method, table, region, row, cells, durability)
      }
    }
    RpcInfo("multi", 0, table = actions.flatMap(_.table).headOption, actions = actions)
  }

  private def parseBulkLoad(m: Msg): RpcInfo = {
    val (table, region) = regionOf(m, F.BlRegion)
    RpcInfo("bulk-load-hfile", 0, table = table, region = region)
  }

  /** Request frame = delimited RequestHeader + optional delimited param
    * message (reference hbase.clj:208-245 parse-request).
    */
  def parseRequest(r: Reader): RpcInfo = {
    val header = ProtoWire.parse(r.readDelimited())
    val rawMethod = header.string(F.ReqMethodName).getOrElse("")
    if (!rawMethod.matches("[a-zA-Z]+"))
      throw new DecodeException(s"Invalid method name: $rawMethod")
    val method = toKeyword(rawMethod)
    val callId = header.varintOr(F.ReqCallId, 0L).toInt
    val hasParam = header.bool(F.ReqParam)
    val base = RpcInfo(method, callId)
    if (!hasParam) base
    else {
      val body = () => ProtoWire.parse(r.readDelimited())
      val parsed = method match {
        case "get"             => parseGetRequest(body())
        case "scan"            => parseScanRequest(body())
        case "mutate"          => parseMutateRequest(body())
        case "multi"           => parseMultiRequest(body())
        case "bulk-load-hfile" => parseBulkLoad(body())
        case _                 => base
      }
      parsed.copy(method = if (parsed.method == "unknown") method else parsed.method, callId = callId)
    }
  }

  // --- response side -----------------------------------------------------

  private def resultCells(result: Msg): Int =
    result.varintOr(F.ResultAssocCells, 0L).toInt + result.msgs(F.ResultCell).size

  /** Response frame = delimited ResponseHeader + optional delimited body;
    * request context comes from the finder (reference hbase.clj:71-99).
    */
  def parseResponse(r: Reader, requestFinder: Int => Option[RpcInfo]): RpcInfo = {
    val header = ProtoWire.parse(r.readDelimited())
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
        val resp = ProtoWire.parse(r.readDelimited())
        base.copy(
          scanner = Some(resp.varintOr(F.ScanResScannerId, 0L)),
          cells = Some(repeatedVarints(resp, F.ScanResCellsPerResult).map(_.toInt).sum))
      case "get" =>
        val resp = ProtoWire.parse(r.readDelimited())
        base.copy(cells = Some(resp.msg(F.GetResResult).map(resultCells).getOrElse(0)))
      case "multi" =>
        val resp = ProtoWire.parse(r.readDelimited())
        val perAction = for {
          rar <- resp.msgs(F.MultiResRar)
          roe <- rar.msgs(F.RarRoe)
        } yield (
          roe.msg(F.RoeResult).map(resultCells),
          roe.msg(F.RoeException).flatMap(_.string(F.NbpName)))
        val actions = base.actions
        // cells comes from the RESPONSE side only (None when the
        // ResultOrException carries no Result) — the reference's
        // (map merge actions results) overwrites :cells the same way.
        val results = actions.zip(perAction).map { case (a, (cells, exc)) =>
          RpcResult(a.method, a.table, a.region, a.row, cells, a.durability, exc)
        }
        base.copy(
          cells = Some(perAction.flatMap(_._1).sum),
          results = results)
      case _ => base
    }
  }

  /** Entry point matching reference hbase.clj:247-256 parse-stream. */
  def parseStream(inbound: Boolean, r: Reader, requestFinder: Int => Option[RpcInfo]): RpcInfo =
    if (inbound) parseRequest(r) else parseResponse(r, requestFinder)
}
