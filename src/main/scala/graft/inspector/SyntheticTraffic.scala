package graft.inspector

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import graft.pcap.{LinkDecode, PcapFile}
import graft.proto.ProtoWire.{writer, Writer}

/** Deterministic synthetic HBase traffic, hand-encoded with the ProtoWire
  * writer and wrapped in real Ethernet/IPv4/TCP/pcap bytes (SURVEY §6:
  * "synthetic pcap bytes generated in-test; protobuf messages hand-encoded
  * via ProtoWire writer"). Exercises every decode path the reference's own
  * test traffic does (test/hbase_packet_inspector/hbase_test.clj cases):
  * get, the four scan flavors, mutate (+check-and-), multi (+single-action
  * merge, per-action exceptions), bulk-load, header-level errors, an
  * unknown-call-id response, a frame split across TCP segments, two frames
  * coalesced in one segment (Nagle), and non-RPC noise the `valid-length?`
  * heuristic must skip (connection preamble, mid-stream fragments).
  */
/** One hand-derived expected record for the q21/q22 driver oracle — the
  * row the requests/responses tables MUST contain for the synthetic
  * traffic, derived from the traffic spec plus the reference's shaping
  * semantics (core.clj:261-283), not by running the pipeline.
  */
final case class ExpectedRecord(
    ts: Long, // epoch millis
    inbound: Boolean,
    client: String,
    port: Int,
    server: String,
    call_id: Int,
    method: String,
    size: Int,
    batch: Int,
    table: Option[String],
    region: Option[String],
    row: Option[String],
    stoprow: Option[String],
    cells: Int,
    durability: Option[String],
    error: Option[String],
    elapsed: Option[Long])

object SyntheticTraffic {

  final val Server = "10.0.0.99"
  final val Port = 16020
  private val T0 = 1600000000000L // ms

  // --- proto builders ----------------------------------------------------

  private def hex32(table: String): String =
    (f"${math.abs(table.hashCode)}%08x" * 4).take(32)

  def regionName(table: String): String =
    s"$table,startkey,1630000000000.${hex32(table)}."

  def encodedRegion(table: String): String = hex32(table)

  private def regionSpec(table: String): Writer =
    writer.varint(1, 1L).bytes(2, regionName(table).getBytes(UTF_8))

  private def reqHeader(callId: Int, method: String): Writer =
    writer.varint(1, callId.toLong).string(3, method).bool(4, true)

  private def resHeader(callId: Int, error: Option[String] = None): Writer = {
    val w = writer.varint(1, callId.toLong)
    error.fold(w)(e => w.msg(2, writer.string(1, e)))
  }

  /** 4-byte length prefix + delimited header (+ delimited body). */
  private def frame(parts: Writer*): Array[Byte] = {
    val body = parts.toArray.flatMap(_.toDelimitedBytes)
    val out = new ByteArrayOutputStream(body.length + 4)
    val n = body.length
    out.write((n >>> 24) & 0xff); out.write((n >>> 16) & 0xff)
    out.write((n >>> 8) & 0xff); out.write(n & 0xff)
    out.write(body, 0, body.length)
    out.toByteArray
  }

  private def mutationProto(mtype: Long, row: String, qualifierValues: Int,
                            assocCells: Int, durability: Long = 0L): Writer = {
    val w = writer.bytes(1, row.getBytes(UTF_8)).varint(2, mtype)
    if (qualifierValues > 0) {
      val cv = writer.bytes(1, "cf".getBytes(UTF_8))
      (0 until qualifierValues).foreach(i =>
        cv.msg(2, writer.bytes(1, s"q$i".getBytes(UTF_8))))
      w.msg(3, cv)
    }
    w.varint(6, durability)
    if (assocCells > 0) w.varint(8, assocCells.toLong)
    w
  }

  private def result(cells: Int): Writer = writer.varint(2, cells.toLong)

  private def scanResponse(scannerId: Long, cellsPerResult: Seq[Long]): Writer = {
    val w = writer
    cellsPerResult.foreach(c => w.varint(1, c))
    w.varint(2, scannerId)
  }

  // --- traffic -----------------------------------------------------------

  /** (tsMillis, clientAddr, clientPort, inbound, payload) */
  private type Event = (Long, String, Int, Boolean, Array[Byte])

  /** Connection A frames, named so the pcap events and the hand-derived
    * expected rows ([[expectedRecords]]) share the exact same bytes — a
    * `size` in the oracle can never drift from the wire.
    */
  private object A {
    // 1: get + response (2 result cells + 2 associated)
    val c1req = frame(reqHeader(1, "Get"),
      writer.msg(1, regionSpec("tget")).msg(2,
        writer.bytes(1, "row1".getBytes(UTF_8))
          .msg(2, writer.bytes(1, "cf".getBytes(UTF_8))
            .bytes(2, "qa".getBytes(UTF_8)).bytes(2, "qb".getBytes(UTF_8)))))
    val c1res = frame(resHeader(1), writer.msg(1,
      writer.msg(1, writer.bytes(1, "c".getBytes(UTF_8)))
        .msg(1, writer.bytes(1, "c".getBytes(UTF_8))).varint(2, 2L)))
    // 2-4: scan lifecycle open -> next -> close
    val c2req = frame(reqHeader(2, "Scan"),
      writer.msg(1, regionSpec("tscan"))
        .msg(2, writer.bytes(3, "aaa".getBytes(UTF_8))
          .bytes(4, "zzz".getBytes(UTF_8)).varint(17, 100L)))
    val c2res = frame(resHeader(2), scanResponse(7001L, Seq(10L)))
    val c3req = frame(reqHeader(3, "Scan"), writer.varint(3, 7001L).varint(4, 20L))
    val c3res = frame(resHeader(3), scanResponse(7001L, Seq(10L, 5L)))
    val c4req = frame(reqHeader(4, "Scan"), writer.varint(3, 7001L).bool(5, true))
    val c4res = frame(resHeader(4), scanResponse(7001L, Nil))
    // 5: put (2 qualifier-values + 1 associated; sync_wal)
    val c5req = frame(reqHeader(5, "Mutate"),
      writer.msg(1, regionSpec("tmut")).msg(2, mutationProto(2L, "prow", 2, 1, 3L)))
    val c5res = frame(resHeader(5), writer.msg(1, result(0)))
    // 6: multi, 3 actions over 2 regions; response has one exception
    val c6req = frame(reqHeader(6, "Multi"), writer
      .msg(1, writer.msg(1, regionSpec("t1"))
        .msg(3, writer.msg(3, writer.bytes(1, "g1".getBytes(UTF_8))))
        .msg(3, writer.msg(2, mutationProto(2L, "p1", 2, 0))))
      .msg(1, writer.msg(1, regionSpec("t2"))
        .msg(3, writer.msg(2, mutationProto(3L, "d1", 0, 1)))))
    val c6res = frame(resHeader(6), writer
      .msg(1, writer
        .msg(1, writer.msg(2, result(1)))
        .msg(1, writer.msg(3, writer.string(1, "org.foo.PerActionError"))))
      .msg(1, writer.msg(1, writer.msg(2, result(2)))))
    // 7: single-action multi (merged into parent by shaping)
    val c7req = frame(reqHeader(7, "Multi"), writer
      .msg(1, writer.msg(1, regionSpec("t3"))
        .msg(3, writer.msg(2, mutationProto(2L, "solo", 2, 0)))))
    val c7res = frame(resHeader(7), writer
      .msg(1, writer.msg(1, writer.msg(2, result(2)))))
    // 8: check-and-put, response carries a header-level exception
    val c8req = frame(reqHeader(8, "Mutate"),
      writer.msg(1, regionSpec("tmut")).msg(2, mutationProto(2L, "crow", 1, 0))
        .msg(3, writer.bytes(1, "crow".getBytes(UTF_8))))
    val c8res = frame(
      resHeader(8, Some("org.apache.hadoop.hbase.exceptions.FailedSanityCheckException")))
    // 9: bulk-load-hfile
    val c9req = frame(reqHeader(9, "BulkLoadHFile"), writer.msg(1, regionSpec("tbulk")))
    val c9res = frame(resHeader(9), writer.varint(1, 1L))
    // 10: small-scan (open+close in one)
    val c10req = frame(reqHeader(10, "Scan"),
      writer.msg(1, regionSpec("tsmall"))
        .msg(2, writer.bytes(3, "k".getBytes(UTF_8))).bool(5, true))
    val c10res = frame(resHeader(10), scanResponse(0L, Seq(3L)))
    // 11: get answered by a HEADER-ONLY exception response (no body —
    // the normal wire shape for e.g. NotServingRegionException)
    val c11req = frame(reqHeader(11, "Get"),
      writer.msg(1, regionSpec("tget")).msg(2,
        writer.bytes(1, "missing".getBytes(UTF_8))))
    val c11res = frame(
      resHeader(11, Some("org.apache.hadoop.hbase.NotServingRegionException")))
  }

  private def connA: Seq[Event] = {
    val c = "10.0.0.1"; val p = 40001
    def req(t: Long, f: Array[Byte]): Event = (T0 + t, c, p, true, f)
    def res(t: Long, f: Array[Byte]): Event = (T0 + t, c, p, false, f)
    Seq(
      req(0, A.c1req), res(5, A.c1res),
      req(10, A.c2req), res(12, A.c2res),
      req(20, A.c3req), res(22, A.c3res),
      req(30, A.c4req), res(31, A.c4res),
      req(40, A.c5req), res(44, A.c5res),
      req(50, A.c6req), res(55, A.c6res),
      req(60, A.c7req), res(62, A.c7res),
      req(70, A.c8req), res(72, A.c8res),
      req(80, A.c9req), res(81, A.c9res),
      req(90, A.c10req), res(92, A.c10res),
      req(95, A.c11req), res(97, A.c11res))
  }

  /** Connection B frames (split / coalesced / unmatched cases). */
  private object B {
    // big get split across two TCP segments
    val bigReq = frame(reqHeader(1, "Get"),
      writer.msg(1, regionSpec("tbig")).msg(2,
        writer.bytes(1, ("k" * 600).getBytes(UTF_8))))
    val bigRes = frame(resHeader(1), writer.msg(1, result(1)))
    // two coalesced requests in one segment (Nagle)
    val coGetReq = frame(reqHeader(2, "Get"),
      writer.msg(1, regionSpec("tco")).msg(2, writer.bytes(1, "r2".getBytes(UTF_8))))
    val coPutReq = frame(reqHeader(3, "Mutate"),
      writer.msg(1, regionSpec("tco")).msg(2, mutationProto(2L, "r3", 1, 0)))
    val coGetRes = frame(resHeader(2), writer.msg(1, result(1)))
    val coPutRes = frame(resHeader(3), writer.msg(1, result(0)))
    // response with no matching request -> method "unknown"
    val unkRes = frame(resHeader(99))
  }

  private def connB: Seq[Event] = {
    val c = "10.0.0.2"; val p = 40002
    val (bigA, bigB) = B.bigReq.splitAt(B.bigReq.length / 2)
    Seq(
      (T0 + 100, c, p, true, bigA),
      (T0 + 101, c, p, true, bigB),
      (T0 + 105, c, p, false, B.bigRes),
      (T0 + 110, c, p, true, B.coGetReq ++ B.coPutReq),
      (T0 + 115, c, p, false, B.coGetRes ++ B.coPutRes),
      (T0 + 120, c, p, false, B.unkRes))
  }

  /** Noise the heuristic must skip: a connection preamble ("HBas" reads as
    * an absurd length) and a mid-stream fragment with no buffered state.
    */
  private def noise: Seq[Event] = Seq(
    (T0 + 130, "10.0.0.3", 40003, true, "HBas P".getBytes(UTF_8)),
    (T0 + 135, "10.0.0.4", 40004, false, Array.fill[Byte](40)(0x7f)))

  private def toPcap(events: Seq[Event]): Array[Byte] = {
    val w = new PcapFile.Writer
    events.foreach { case (ts, client, cport, inbound, payload) =>
      val fr =
        if (inbound) LinkDecode.encode(client, cport, Server, Port, payload)
        else LinkDecode.encode(Server, Port, client, cport, payload)
      w.record(ts * 1000L, fr)
    }
    w.toBytes
  }

  /** Expected record counts (used by specs): 14 requests, 15 responses. */
  val ExpectedRequests = 14
  val ExpectedResponses = 15

  // --- hand-derived oracle (q20-q22 driver hash-compare) -----------------

  /** The exact rows the requests/responses tables must contain for this
    * traffic — derived BY HAND from the traffic spec plus the reference's
    * decode/shaping semantics (hbase.clj parse-request/parse-response,
    * core.clj:261-283 send! shaping, core.clj:102-139 scan lifecycle),
    * not by running the pipeline. Notable derivations:
    *   - responses inherit table/region/row/durability from their pending
    *     request; scan next/close inherit table/region from the open;
    *   - a single-action multi merges into the parent (call 7 → "put");
    *   - mutate/bulk-load responses carry the REQUEST's cells (the decoder
    *     ignores their bodies, like the reference);
    *   - header-only exception responses (calls 8, 11) keep request
    *     context; the unmatched call 99 is method "unknown", elapsed null;
    *   - the split big get (conn B call 1) completes at the SECOND
    *     segment's capture ts (T0+101);
    *   - `size` = frame body length (without the 4-byte prefix), taken
    *     from the same byte arrays the pcap carries.
    */
  val expectedRecords: Seq[ExpectedRecord] = {
    def sz(f: Array[Byte]): Int = f.length - 4
    def t(name: String): (Option[String], Option[String]) =
      (Some(name), Some(encodedRegion(name)))
    def rec(ts: Long, client: String, port: Int, callId: Int, method: String,
            f: Array[Byte], inbound: Boolean, batch: Int = 0,
            tr: (Option[String], Option[String]) = (None, None),
            row: Option[String] = None, stoprow: Option[String] = None,
            cells: Int = 0, durability: Option[String] = None,
            error: Option[String] = None, elapsed: Option[Long] = None): ExpectedRecord =
      ExpectedRecord(ts, inbound, client, port, Server, callId, method, sz(f),
        batch, tr._1, tr._2, row, stoprow, cells, durability, error, elapsed)
    val a = "10.0.0.1"; val ap = 40001
    val b = "10.0.0.2"; val bp = 40002
    def areq(dt: Long, callId: Int, method: String, f: Array[Byte],
             batch: Int = 0, tr: (Option[String], Option[String]) = (None, None),
             row: Option[String] = None, stoprow: Option[String] = None,
             cells: Int = 0, durability: Option[String] = None): ExpectedRecord =
      rec(T0 + dt, a, ap, callId, method, f, inbound = true, batch, tr, row,
        stoprow, cells, durability)
    def ares(dt: Long, callId: Int, method: String, f: Array[Byte],
             elapsed: Long, batch: Int = 0,
             tr: (Option[String], Option[String]) = (None, None),
             row: Option[String] = None, stoprow: Option[String] = None,
             cells: Int = 0, durability: Option[String] = None,
             error: Option[String] = None): ExpectedRecord =
      rec(T0 + dt, a, ap, callId, method, f, inbound = false, batch, tr, row,
        stoprow, cells, durability, error, Some(elapsed))
    Seq(
      // call 1: get row1 with 2 qualifiers; response 2 cells + 2 associated
      areq(0, 1, "get", A.c1req, tr = t("tget"), row = Some("row1"), cells = 2),
      ares(5, 1, "get", A.c1res, elapsed = 5, tr = t("tget"),
        row = Some("row1"), cells = 4),
      // calls 2-4: scan open (aaa→zzz) / next / close; next+close inherit
      areq(10, 2, "open-scanner", A.c2req, tr = t("tscan"),
        row = Some("aaa"), stoprow = Some("zzz")),
      ares(12, 2, "open-scanner", A.c2res, elapsed = 2, tr = t("tscan"),
        row = Some("aaa"), stoprow = Some("zzz"), cells = 10),
      areq(20, 3, "next-rows", A.c3req, tr = t("tscan")),
      ares(22, 3, "next-rows", A.c3res, elapsed = 2, tr = t("tscan"), cells = 15),
      areq(30, 4, "close-scanner", A.c4req, tr = t("tscan")),
      ares(31, 4, "close-scanner", A.c4res, elapsed = 1, tr = t("tscan")),
      // call 5: put, 2 qualifier-values + 1 associated, sync_wal
      areq(40, 5, "put", A.c5req, tr = t("tmut"), row = Some("prow"),
        cells = 3, durability = Some("sync_wal")),
      ares(44, 5, "put", A.c5res, elapsed = 4, tr = t("tmut"),
        row = Some("prow"), cells = 3, durability = Some("sync_wal")),
      // call 6: multi of 3 actions (parent table = first action's); cells
      // 3 = put(2)+delete(1) request-side, 1+2 result cells response-side
      areq(50, 6, "multi", A.c6req, batch = 3,
        tr = (Some("t1"), None), cells = 3),
      ares(55, 6, "multi", A.c6res, elapsed = 5, batch = 3,
        tr = (Some("t1"), None), cells = 3),
      // call 7: single-action multi merges into the parent put
      areq(60, 7, "put", A.c7req, batch = 1, tr = t("t3"), row = Some("solo"),
        cells = 2, durability = Some("use_default")),
      ares(62, 7, "put", A.c7res, elapsed = 2, batch = 1, tr = t("t3"),
        row = Some("solo"), cells = 2, durability = Some("use_default")),
      // call 8: check-and-put; header-only exception response
      areq(70, 8, "check-and-put", A.c8req, tr = t("tmut"), row = Some("crow"),
        cells = 1, durability = Some("use_default")),
      ares(72, 8, "check-and-put", A.c8res, elapsed = 2, tr = t("tmut"),
        row = Some("crow"), cells = 1, durability = Some("use_default"),
        error = Some("org.apache.hadoop.hbase.exceptions.FailedSanityCheckException")),
      // call 9: bulk-load-hfile
      areq(80, 9, "bulk-load-hfile", A.c9req, tr = t("tbulk")),
      ares(81, 9, "bulk-load-hfile", A.c9res, elapsed = 1, tr = t("tbulk")),
      // call 10: small-scan (absent stoprow decodes as "")
      areq(90, 10, "small-scan", A.c10req, tr = t("tsmall"), row = Some("k"),
        stoprow = Some("")),
      ares(92, 10, "small-scan", A.c10res, elapsed = 2, tr = t("tsmall"),
        row = Some("k"), stoprow = Some(""), cells = 3),
      // call 11: get; header-only NotServingRegionException response
      areq(95, 11, "get", A.c11req, tr = t("tget"), row = Some("missing")),
      ares(97, 11, "get", A.c11res, elapsed = 2, tr = t("tget"),
        row = Some("missing"),
        error = Some("org.apache.hadoop.hbase.NotServingRegionException")),
      // conn B call 1: split big get — completes at the 2nd segment's ts
      rec(T0 + 101, b, bp, 1, "get", B.bigReq, inbound = true,
        tr = t("tbig"), row = Some("k" * 600)),
      rec(T0 + 105, b, bp, 1, "get", B.bigRes, inbound = false,
        tr = t("tbig"), row = Some("k" * 600), cells = 1, elapsed = Some(4L)),
      // conn B calls 2+3: coalesced get + put in one segment
      rec(T0 + 110, b, bp, 2, "get", B.coGetReq, inbound = true,
        tr = t("tco"), row = Some("r2")),
      rec(T0 + 110, b, bp, 3, "put", B.coPutReq, inbound = true,
        tr = t("tco"), row = Some("r3"), cells = 1,
        durability = Some("use_default")),
      rec(T0 + 115, b, bp, 2, "get", B.coGetRes, inbound = false,
        tr = t("tco"), row = Some("r2"), cells = 1, elapsed = Some(5L)),
      rec(T0 + 115, b, bp, 3, "put", B.coPutRes, inbound = false,
        tr = t("tco"), row = Some("r3"), cells = 1,
        durability = Some("use_default"), elapsed = Some(5L)),
      // conn B call 99: response with no matching request
      rec(T0 + 120, b, bp, 99, "unknown", B.unkRes, inbound = false))
  }

  /** Hand-derived expected child rows (q23 actions / q24 results): only
    * the batch-3 multi (conn A call 6) produces children — a
    * single-action multi merges into its parent and emits none. Request
    * side: the three actions in region order (get carries no cells);
    * response side: per-action results zipped with the actions — the
    * put's ResultOrException is the EXCEPTION, so its cells are null and
    * the error rides along.
    */
  val expectedActions: Seq[ChildRow] = {
    def t(name: String) = (Some(name), Some(encodedRegion(name)))
    val (t1, r1) = t("t1"); val (t2, r2) = t("t2")
    Seq(
      ChildRow("10.0.0.1", 40001, 6, "get", t1, r1, Some("g1"),
        cells = None, durability = None, error = None),
      ChildRow("10.0.0.1", 40001, 6, "put", t1, r1, Some("p1"),
        cells = Some(2), durability = Some("use_default"), error = None),
      ChildRow("10.0.0.1", 40001, 6, "delete", t2, r2, Some("d1"),
        cells = Some(1), durability = Some("use_default"), error = None))
  }

  val expectedResults: Seq[ChildRow] = {
    def t(name: String) = (Some(name), Some(encodedRegion(name)))
    val (t1, r1) = t("t1"); val (t2, r2) = t("t2")
    Seq(
      ChildRow("10.0.0.1", 40001, 6, "get", t1, r1, Some("g1"),
        cells = Some(1), durability = None, error = None),
      ChildRow("10.0.0.1", 40001, 6, "put", t1, r1, Some("p1"),
        cells = None, durability = Some("use_default"),
        error = Some("org.foo.PerActionError")),
      ChildRow("10.0.0.1", 40001, 6, "delete", t2, r2, Some("d1"),
        cells = Some(2), durability = Some("use_default"), error = None))
  }

  /** Expected q20 rows: one per data-carrying segment, straight from the
    * event list (seq is always 0 — the generator writes literal frames).
    */
  def expectedPackets: Seq[(Long, String, Int, String, Int, Long, Int)] =
    (connA ++ connB ++ noise).map { case (ts, client, cport, inbound, payload) =>
      if (inbound) (ts, client, cport, Server, Port, 0L, payload.length)
      else (ts, Server, Port, client, cport, 0L, payload.length)
    }

  /** Pcap fixtures plus the hand-derived oracle tables as parquet
    * (`expected_requests` / `expected_responses` / `expected_packets`)
    * under the content-hashed parent directory — the DuckDB side of the
    * q20-q22 driver hash-compare. Returns the pcap directory (same value
    * as [[ensurePcapDir]]).
    */
  def ensureFixtures(spark: org.apache.spark.sql.SparkSession): String = synchronized {
    val pcapDir = ensurePcapDir()
    val parent = Paths.get(pcapDir).getParent
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val reqCols = Seq("ts", "client", "port", "call_id", "server", "method",
      "size", "batch", "table", "region", "row", "stoprow", "cells",
      "durability").map(col)
    // a concurrent JVM must never see a half-written parquet dir, and a
    // JVM killed mid-write must not leave a partial dir that later runs
    // accept; the same hash-named parent means identical content
    def write(name: String, df: => org.apache.spark.sql.DataFrame): Unit =
      graft.Fs.publish(parent.resolve(name))(p =>
        df.coalesce(1).write.mode("overwrite").parquet(p.toString))
    // staging dirs orphaned by a killed JVM
    graft.Fs.sweepIdle(parent, graft.Fs.IdleMs)(
      _.getFileName.toString.startsWith(".tmp_"))
    val recs = expectedRecords.toDS()
    write("expected_requests", recs.filter(_.inbound).toDF().select(reqCols: _*))
    write("expected_responses", recs.filter(!_.inbound).toDF()
      .select(reqCols :+ col("error") :+ col("elapsed"): _*))
    write("expected_packets", expectedPackets.toDF(
      "ts_ms", "src_addr", "src_port", "dst_addr", "dst_port", "seq", "length"))
    write("expected_actions", expectedActions.toDS().toDF().drop("error"))
    write("expected_results", expectedResults.toDS().toDF())
    pcapDir
  }

  /** Identity of the oracle fixtures: the content hash must cover the
    * EXPECTED tables too, not just the pcap bytes — an oracle-only edit
    * (a corrected cell value, a column change) would otherwise reuse
    * stale expected_* parquet from an older code version via the
    * Files.exists guard (round-8 review).
    */
  private def oracleDigest: String =
    (expectedRecords.map(_.toString) ++ expectedPackets.map(_.toString) ++
      expectedActions.map(_.toString) ++ expectedResults.map(_.toString))
      .mkString("\n")

  /** Writes the two capture files under a content-hashed parent directory
    * (a plain existence check would silently reuse stale fixtures from an
    * older code version across JVMs sharing /tmp); writes go through
    * [[graft.Fs.publish]] so concurrent JVMs never see partial bytes.
    * Layout: the capture files live under `graft_synth_<hash>/pcap` — a
    * subdirectory of their own, so the oracle parquet ([[ensureFixtures]])
    * never enters the pipeline's `binaryFile` listing. Returns the pcap
    * subdirectory.
    */
  def ensurePcapDir(): String = synchronized {
    val file1 = toPcap(connA)
    val file2 = toPcap(connB ++ noise)
    val hash = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.update(file1); md.update(file2)
      md.update(oracleDigest.getBytes(UTF_8))
      md.digest().take(4).map(b => f"${b & 0xff}%02x").mkString
    }
    val parent: Path = graft.Fs.tmpRoot.resolve(s"graft_synth_$hash")
    val dir: Path = parent.resolve("pcap")
    // fixtures minted by older traffic versions (content-hashed dirs
    // would otherwise accumulate forever; the pre-round-8 prefix was
    // graft_synth_pcap_<hash>). Idle-scoped: a different-version build
    // running CONCURRENTLY (sbt test alongside a bench, two checkouts
    // sharing /tmp) has a live fixture dir of its own (round-8 advice)
    graft.Fs.sweepIdle(graft.Fs.tmpRoot, graft.Fs.IdleMs) { p =>
      p.getFileName.toString.startsWith("graft_synth") && p != parent
    }
    Files.createDirectories(dir)
    // liveness beacon for OTHER builds' sweeps: parquet reads don't bump
    // an mtime, and every access path goes through here (round-9 review)
    graft.Fs.touch(parent)
    Seq("capture-00001.pcap" -> file1, "capture-00002.pcap" -> file2)
      .foreach { case (name, bytes) =>
        graft.Fs.publish(dir.resolve(name))(Files.write(_, bytes))
      }
    dir.toString
  }

  /** Bulk capture generator for pipeline throughput benchmarking
    * ([[graft.StreamBench]]) and the decoder differential: `conns`
    * connections, each running `calls` generator iterations — a get/put
    * mix where every 16th iteration emits a full scan open→next→close
    * (3 round-trips), so a connection carries `calls + 2*(calls/16)`
    * round-trips total — split round-robin by CONNECTION across `files`
    * rotated captures. Returns (dir, request
    * count, response count); the CALLER owns deleting the directory.
    */
  def bulkPcapDir(conns: Int, calls: Int, files: Int): (String, Long, Long) = {
    require(conns > 0 && calls > 0 && files > 0)
    // second client-IP octet is 1 + (c >> 8): past 65280 connections it
    // would exceed 255 and LinkDecode would silently mask it to 0,
    // desyncing the generated client string from the decoded address
    require(conns <= 65280, s"conns=$conns exceeds the client-IP space")
    val dir = Files.createTempDirectory("graft_bulk_pcap")
    var nReq = 0L
    var nRes = 0L
    for (f <- 0 until files) {
      val w = new PcapFile.Writer
      for (c <- f until conns by files) {
        val client = s"10.${1 + ((c >> 8) & 0xff)}.${c & 0xff}.7"
        val cport = 30000 + (c % 20000)
        var ts = T0 + c // stagger connections
        var callId = 0
        def emit(inbound: Boolean, frameBytes: Array[Byte]): Unit = {
          val fr =
            if (inbound) LinkDecode.encode(client, cport, Server, Port, frameBytes)
            else LinkDecode.encode(Server, Port, client, cport, frameBytes)
          w.record(ts * 1000L, fr)
          ts += 1
          if (inbound) nReq += 1 else nRes += 1
        }
        var i = 0
        while (i < calls) {
          callId += 1
          if (i % 16 == 15) { // scan open -> next -> close
            emit(inbound = true, frame(reqHeader(callId, "Scan"),
              writer.msg(1, regionSpec("tbulkscan"))
                .msg(2, writer.bytes(3, s"r$i".getBytes(UTF_8)).varint(17, 50L))))
            emit(inbound = false, frame(resHeader(callId),
              scanResponse(900000L + c, Seq(8L))))
            callId += 1
            emit(inbound = true, frame(reqHeader(callId, "Scan"),
              writer.varint(3, 900000L + c).varint(4, 20L)))
            emit(inbound = false, frame(resHeader(callId),
              scanResponse(900000L + c, Seq(8L, 4L))))
            callId += 1
            emit(inbound = true, frame(reqHeader(callId, "Scan"),
              writer.varint(3, 900000L + c).bool(5, true)))
            emit(inbound = false, frame(resHeader(callId),
              scanResponse(900000L + c, Nil)))
          } else if (i % 2 == 0) { // get
            emit(inbound = true, frame(reqHeader(callId, "Get"),
              writer.msg(1, regionSpec("tbulkget")).msg(2,
                writer.bytes(1, s"row$i".getBytes(UTF_8))
                  .msg(2, writer.bytes(1, "cf".getBytes(UTF_8))
                    .bytes(2, "q".getBytes(UTF_8))))))
            emit(inbound = false, frame(resHeader(callId),
              writer.msg(1, writer.varint(2, 1L))))
          } else { // put
            emit(inbound = true, frame(reqHeader(callId, "Mutate"),
              writer.msg(1, regionSpec("tbulkput"))
                .msg(2, mutationProto(2L, s"prow$i", 2, 0, 3L))))
            emit(inbound = false, frame(resHeader(callId),
              writer.msg(1, result(0))))
          }
          i += 1
        }
      }
      Files.write(dir.resolve(f"capture-$f%05d.pcap"), w.toBytes)
    }
    (dir.toString, nReq, nRes)
  }
}
