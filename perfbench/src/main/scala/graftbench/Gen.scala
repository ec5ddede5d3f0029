package graftbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import graft.pcap.{LinkDecode, PcapFile}
import graft.proto.ProtoWire

/** The knobs of one class of client connections. Every range is
  * inclusive.
  */
final case class Shape(
    conns: Int,
    callsPerConn: Int,
    /** relative weights of the call kinds; a scan is one whole
      * open → next-rows… → close session */
    getW: Int, mutateW: Int, multiW: Int, scanW: Int,
    /** row-key length: sets the size of the small frames */
    rowBytes: (Int, Int),
    /** largest TCP payload of one segment; longer frames are split */
    mtu: Int,
    /** calls issued back to back in one burst; their frames share
      * segments (Nagle). 1 = one frame per segment */
    burst: (Int, Int),
    multiBatch: (Int, Int),
    scanNexts: (Int, Int),
    /** payload bytes of each next-rows response */
    scanRespBytes: (Int, Int),
    /** non-RPC segments (pure ACKs, other ports) per call */
    noiseShare: Double,
    /** responses to calls the capture never saw, per call */
    unmatchedShare: Double,
    /** responses carrying a remote exception, per get/mutate call */
    errorShare: Double,
    latencyMs: (Int, Int),
    thinkMs: (Int, Int))

/** A capture: connection classes side by side, cut by time into
  * `files` rotated files, gzipped or not.
  */
final case class Traffic(classes: Seq[Shape], files: Int, gzip: Boolean)

/** Ground truth for one RPC message (one row of `requests` or
  * `responses`), derived from what was put on the wire and the
  * reference's shaping rules, never from the program's output. `ts` is
  * the capture ms of the message's last segment and `file` the capture
  * file holding it; `elapsed` is response ts minus request ts.
  */
final case class TruthMsg(
    client: String, port: Int, call_id: Int, inbound: Boolean,
    method: String, table: Option[String], region: Option[String],
    cells: Int, batch: Int, elapsed: Option[Long], error: Option[String],
    ts: Long, file: Int)

/** Ground truth for one child row: a multi action (request side) or
  * its result (response side), keyed by the parent call.
  */
final case class TruthChild(
    client: String, port: Int, call_id: Int, inbound: Boolean,
    method: String, table: Option[String], region: Option[String],
    cells: Option[Int])

final case class Capture(
    dir: Path, files: Vector[Path], bytes: Long, truth: Vector[TruthMsg],
    children: Vector[TruthChild], noiseSegments: Long, segments: Long)

/** Seeded, single-threaded traffic generator built only from the
  * program's public writers (`ProtoWire.writer`, `LinkDecode.encode`,
  * `PcapFile.Writer`). Connections run side by side in capture time and
  * the capture is cut into files by TIME, so every file holds a slice of
  * every live connection and calls and open scanners straddle files.
  */
object Gen {

  val Server = "10.0.0.99"
  val Port = 16020
  val T0: Long = 1700000000000L // ms
  val Tables: Vector[String] = Vector("usertable", "events", "profiles", "orders")
  val RegionsPerTable = 8

  private def w = ProtoWire.writer

  def regionName(table: String, r: Int): String =
    s"$table,key$r,1700000000000.${encodedRegion(table, r)}."

  def encodedRegion(table: String, r: Int): String = {
    val h = (table + "/" + r).hashCode.toLong & 0xffffffffL
    f"$h%08x${r}%08x$h%08x${h ^ 0x5a5a5a5aL}%08x"
  }

  private def regionSpec(table: String, r: Int): ProtoWire.Writer =
    w.varint(1, 1L).bytes(2, regionName(table, r).getBytes(UTF_8))

  private def frame(parts: ProtoWire.Writer*): Array[Byte] = {
    val body = parts.toArray.flatMap(_.toDelimitedBytes)
    val out = new ByteArrayOutputStream(body.length + 4)
    val n = body.length
    out.write(n >>> 24); out.write(n >>> 16); out.write(n >>> 8); out.write(n)
    out.write(body, 0, n)
    out.toByteArray
  }

  private def reqHeader(callId: Int, method: String) =
    w.varint(1, callId.toLong).string(3, method).bool(4, true)
  private def resHeader(callId: Int, error: Option[String] = None) = {
    val h = w.varint(1, callId.toLong)
    error.fold(h)(e => h.msg(2, w.string(1, e)))
  }

  /** One segment to be written: capture ms, connection, direction. */
  private final class Seg(val ts: Long, val seq: Long, val conn: Int,
                          val inbound: Boolean, val dstPort: Int,
                          val payload: Array[Byte])

  /** A call's wire form plus the truth of its request and response. */
  private final case class Call(req: Array[Byte], res: Array[Byte],
      reqTruth: TruthMsg, resTruth: TruthMsg,
      kids: Seq[TruthChild] = Nil)

  /** Segments of one frame stream leave at this many per millisecond,
    * so a long frame spans milliseconds and can straddle files.
    */
  val SegmentsPerMs = 32

  def generate(traffic: Traffic, seed: Long, dir: Path): Capture = {
    val rnd = new Random(seed)
    def in(r: (Int, Int)): Int = r._1 + rnd.nextInt(r._2 - r._1 + 1)
    // shared filler for cell values and scan results: slices, not fresh
    // random bytes per message
    val filler = new Array[Byte](1 << 16)
    rnd.nextBytes(filler)
    def bytes(n: Int): Array[Byte] = {
      val b = new Array[Byte](n)
      var o = 0
      while (o < n) {
        val k = math.min(n - o, filler.length - 1)
        System.arraycopy(filler, rnd.nextInt(filler.length - k), b, o, k)
        o += k
      }
      b
    }
    def rowKeyOf(len: (Int, Int)): String = {
      val n = in(len)
      val sb = new StringBuilder(n)
      while (sb.length < n) sb.append(('a' + rnd.nextInt(26)).toChar)
      sb.toString
    }
    def region(): (String, Int) = (Tables(rnd.nextInt(Tables.size)), rnd.nextInt(RegionsPerTable))

    val segs = ArrayBuffer.empty[Seg]
    val truth = ArrayBuffer.empty[TruthMsg]
    val kids = ArrayBuffer.empty[TruthChild]
    var noise = 0L
    var seqNo = 0L
    var scannerIds = 1000L
    var unmatchedIds = 1 << 24
    val classes = traffic.classes.flatMap(sh => Seq.fill(sh.conns)(sh))
    for ((shape, c) <- classes.zipWithIndex) {
      // call kinds by smooth weighted round-robin from a random phase:
      // every stretch of a connection's calls holds the kinds in their
      // weights, so each rotated file gets a like share of the rare, large
      // calls instead of a Poisson draw of them
      val weights = Array(shape.getW, shape.mutateW, shape.multiW, shape.scanW)
      val credit = new Array[Int](weights.length)
      def nextKind(): Int = {
        var best = 0
        for (i <- weights.indices) {
          credit(i) += weights(i)
          if (credit(i) > credit(best)) best = i
        }
        credit(best) -= weights.sum
        best
      }
      (0 until rnd.nextInt(weights.sum)).foreach(_ => nextKind())
      def rowKey(): String = rowKeyOf(shape.rowBytes)
      val client = s"10.${1 + (c >> 8)}.${c & 0xff}.7"
      val cport = 30000 + c
      var t = T0 + rnd.nextInt(2000)
      var callId = 0
      def truthOf(callId: Int, inbound: Boolean, method: String,
                  tr: Option[(String, Int)], cells: Int, batch: Int,
                  elapsed: Option[Long], error: Option[String]) =
        TruthMsg(client, cport, callId, inbound, method,
          tr.map(_._1), tr.map(x => encodedRegion(x._1, x._2)), cells, batch,
          elapsed, error, 0L, -1)

      def emit(ts: Long, inbound: Boolean, payload: Array[Byte], dstPort: Int = Port): Unit = {
        seqNo += 1
        segs += new Seg(ts, seqNo, c, inbound, dstPort, payload)
      }
      /** Frames of one direction of a burst → MTU-sized segments from
        * `ts` on; returns the capture ms at which each frame completes.
        */
      def emitStream(ts: Long, inbound: Boolean, frames: Seq[Array[Byte]]): Seq[Long] = {
        val bos = new ByteArrayOutputStream(frames.map(_.length).sum)
        frames.foreach(f => bos.write(f, 0, f.length))
        val all = bos.toByteArray
        var o = 0
        var i = 0
        while (o < all.length) {
          val k = math.min(shape.mtu, all.length - o)
          emit(ts + i / SegmentsPerMs, inbound, java.util.Arrays.copyOfRange(all, o, o + k))
          o += k
          i += 1
        }
        frames.scanLeft(0L)(_ + _.length).tail.map(end => ts + (end - 1) / shape.mtu / SegmentsPerMs)
      }
      def noiseSegs(ts: Long): Unit = {
        var k = shape.noiseShare
        while (k > 0 && rnd.nextDouble() < k) {
          // a pure ACK (no payload) or a segment to a non-HBase port
          if (rnd.nextBoolean()) emit(ts, rnd.nextBoolean(), Array.emptyByteArray)
          else emit(ts, true, bytes(40 + rnd.nextInt(200)), dstPort = 2181)
          noise += 1
          k -= 1
        }
      }

      def get(id: Int): Call = {
        val (tb, r) = region()
        val quals = 1 + rnd.nextInt(4)
        val col = w.bytes(1, "cf".getBytes(UTF_8))
        (0 until quals).foreach(q => col.bytes(2, s"q$q".getBytes(UTF_8)))
        val req = frame(reqHeader(id, "Get"),
          w.msg(1, regionSpec(tb, r)).msg(2, w.bytes(1, rowKey().getBytes(UTF_8)).msg(2, col)))
        val err = if (rnd.nextDouble() < shape.errorShare)
          Some("org.apache.hadoop.hbase.NotServingRegionException") else None
        val (res, resCells) = err match {
          case Some(e) => (frame(resHeader(id, Some(e))), quals)
          case None =>
            val cellMsgs = rnd.nextInt(3)
            val assoc = rnd.nextInt(4)
            val result = w.varint(2, assoc.toLong)
            (0 until cellMsgs).foreach(_ => result.msg(1,
              w.bytes(1, "r".getBytes(UTF_8)).bytes(2, "cf".getBytes(UTF_8))
                .bytes(3, "q".getBytes(UTF_8)).bytes(6, bytes(8 + rnd.nextInt(48)))))
            (frame(resHeader(id), w.msg(1, result)), assoc + cellMsgs)
        }
        Call(req, res,
          truthOf(id, true, "get", Some((tb, r)), quals, 0, None, None),
          truthOf(id, false, "get", Some((tb, r)), resCells, 0, None, err))
      }

      def mutation(put: Boolean): (ProtoWire.Writer, Int) = {
        val qvs = 1 + rnd.nextInt(4)
        val cv = w.bytes(1, "cf".getBytes(UTF_8))
        (0 until qvs).foreach(q =>
          cv.msg(2, w.bytes(1, s"q$q".getBytes(UTF_8)).bytes(2, bytes(4 + rnd.nextInt(24)))))
        (w.bytes(1, rowKey().getBytes(UTF_8)).varint(2, if (put) 2L else 3L)
          .msg(3, cv).varint(6, 3L), qvs)
      }

      def mutate(id: Int): Call = {
        val (tb, r) = region()
        val put = rnd.nextInt(5) > 0
        val (m, cells) = mutation(put)
        val req = frame(reqHeader(id, "Mutate"), w.msg(1, regionSpec(tb, r)).msg(2, m))
        val err = if (rnd.nextDouble() < shape.errorShare)
          Some("org.apache.hadoop.hbase.RegionTooBusyException") else None
        val res = err match {
          case Some(e) => frame(resHeader(id, Some(e)))
          case None => frame(resHeader(id), w.msg(1, w.varint(2, 0L)))
        }
        val method = if (put) "put" else "delete"
        // a mutate response carries the request's cells: its body is not
        // decoded (reference parse-response)
        Call(req, res,
          truthOf(id, true, method, Some((tb, r)), cells, 0, None, None),
          truthOf(id, false, method, Some((tb, r)), cells, 0, None, err))
      }

      def multi(id: Int): Call = {
        val n = in(shape.multiBatch)
        // actions grouped into region actions, in the order they decode
        val groups = ArrayBuffer.empty[((String, Int), ArrayBuffer[(ProtoWire.Writer, Int, Boolean)])]
        var left = n
        while (left > 0) {
          val k = math.min(left, 1 + rnd.nextInt(64))
          val acts = ArrayBuffer.empty[(ProtoWire.Writer, Int, Boolean)]
          for (i <- 0 until k) {
            if (rnd.nextInt(4) == 0)
              acts += ((w.varint(1, i.toLong).msg(3, w.bytes(1, rowKey().getBytes(UTF_8))), 0, true))
            else {
              val (m, cells) = mutation(put = true)
              acts += ((w.varint(1, i.toLong).msg(2, m), cells, false))
            }
          }
          groups += ((region(), acts))
          left -= k
        }
        val body = w
        groups.foreach { case ((tb, r), acts) =>
          val ra = w.msg(1, regionSpec(tb, r))
          acts.foreach(a => ra.msg(3, a._1))
          body.msg(1, ra)
        }
        val req = frame(reqHeader(id, "Multi"), body)
        var resCells = 0
        val resBody = w
        val children = ArrayBuffer.empty[TruthChild]
        groups.foreach { case ((tb, r), acts) =>
          val rar = w
          acts.zipWithIndex.foreach { case ((_, actCells, isGet), i) =>
            val cells = rnd.nextInt(3)
            resCells += cells
            rar.msg(1, w.varint(1, i.toLong).msg(2, w.varint(2, cells.toLong)))
            val method = if (isGet) "get" else "put"
            val reg = Some(encodedRegion(tb, r))
            children += TruthChild(client, cport, id, true, method, Some(tb), reg,
              if (isGet) None else Some(actCells))
            children += TruthChild(client, cport, id, false, method, Some(tb), reg, Some(cells))
          }
          resBody.msg(1, rar)
        }
        val res = frame(resHeader(id), resBody)
        val first = groups.head._1
        val reqCells = groups.iterator.flatMap(_._2).map(_._2).sum
        def t(inbound: Boolean, cells: Int, el: Option[Long]) =
          truthOf(id, inbound, "multi", Some(first), cells, n, el, None)
            .copy(region = None)
        Call(req, res, t(true, reqCells, None), t(false, resCells, None), children.toSeq)
      }

      def scanResponse(id: Int, scanner: Long, payload: Int): (Array[Byte], Int) = {
        val body = w
        var cells = 0
        var left = payload
        while (left > 0) {
          val v = math.min(left, 1024 + rnd.nextInt(3072))
          val cpr = 1 + rnd.nextInt(4)
          cells += cpr
          body.varint(1, cpr.toLong)
          body.msg(5, w.msg(1, w.bytes(1, "r".getBytes(UTF_8)).bytes(6, bytes(v))))
          left -= v
        }
        body.varint(2, scanner).bool(3, true)
        (frame(resHeader(id), body), cells)
      }

      /** open → next-rows × k → close; the calls of one session. */
      def scan(firstId: Int): Seq[Call] = {
        val (tb, r) = region()
        val scanner = { scannerIds += 1; scannerIds }
        val nexts = in(shape.scanNexts)
        val tr = Some((tb, r))
        val open = frame(reqHeader(firstId, "Scan"), w.msg(1, regionSpec(tb, r))
          .msg(2, w.bytes(3, rowKey().getBytes(UTF_8)).bytes(4, rowKey().getBytes(UTF_8))
            .varint(17, 100L)).varint(4, 100L))
        val (openRes, openCells) = scanResponse(firstId, scanner, 0)
        val calls = ArrayBuffer(Call(open, openRes,
          truthOf(firstId, true, "open-scanner", tr, 0, 0, None, None),
          truthOf(firstId, false, "open-scanner", tr, openCells, 0, None, None)))
        for (i <- 1 to nexts) {
          val id = firstId + i
          val req = frame(reqHeader(id, "Scan"), w.varint(3, scanner).varint(4, 100L))
          val (res, cells) = scanResponse(id, scanner, in(shape.scanRespBytes))
          calls += Call(req, res,
            truthOf(id, true, "next-rows", tr, 0, 0, None, None),
            truthOf(id, false, "next-rows", tr, cells, 0, None, None))
        }
        val closeId = firstId + nexts + 1
        val close = frame(reqHeader(closeId, "Scan"), w.varint(3, scanner).bool(5, true))
        val closeRes = frame(resHeader(closeId), w.varint(2, scanner))
        calls += Call(close, closeRes,
          truthOf(closeId, true, "close-scanner", tr, 0, 0, None, None),
          truthOf(closeId, false, "close-scanner", tr, 0, 0, None, None))
        calls.toSeq
      }

      /** Requests, then after `lat` the responses; returns the ms at
        * which the last response completes.
        */
      def emitBurst(calls: Seq[Call], ts: Long, lat: Long): Long = {
        val reqDone = emitStream(ts, true, calls.map(_.req))
        val resDone = emitStream(reqDone.last + lat, false, calls.map(_.res))
        calls.indices.foreach { i =>
          val cl = calls(i)
          truth += cl.reqTruth.copy(ts = reqDone(i))
          truth += cl.resTruth.copy(ts = resDone(i), elapsed = Some(resDone(i) - reqDone(i)))
          kids ++= cl.kids
        }
        resDone.last
      }

      // connection preamble ("HBas", version, auth): not a length-prefixed
      // frame; the reassembler's length heuristic skips it
      emit(t, true, Array[Byte]('H', 'B', 'a', 's', 0, 0x50))
      noise += 1
      t += 1
      var i = 0
      while (i < shape.callsPerConn) {
        // a burst: calls issued back to back, their frames coalesced per
        // direction and all answered after `lat`
        val lat = in(shape.latencyMs).toLong
        val k = math.min(in(shape.burst), shape.callsPerConn - i)
        val calls = ArrayBuffer.empty[Call]
        def flush(): Unit = if (calls.nonEmpty) {
          t = emitBurst(calls.toSeq, t, lat) + 1; calls.clear()
        }
        var j = 0
        while (j < k) {
          val kind = nextKind()
          if (kind == 0) { callId += 1; calls += get(callId) }
          else if (kind == 1) { callId += 1; calls += mutate(callId) }
          else if (kind == 2) { callId += 1; calls += multi(callId) }
          else {
            // a scan session is sequential: each call waits for the last
            flush()
            val session = scan(callId + 1)
            callId += session.size
            session.foreach { call =>
              t = emitBurst(Seq(call), t, lat) + 1 + in(shape.thinkMs) / 4
            }
          }
          j += 1
        }
        flush()
        noiseSegs(t)
        if (rnd.nextDouble() < shape.unmatchedShare) {
          unmatchedIds += 1
          emit(t, false, frame(resHeader(unmatchedIds)))
          truth += truthOf(unmatchedIds, false, "unknown", None, 0, 0, None, None).copy(ts = t)
          t += 1
        }
        t += in(shape.thinkMs)
        i += k
      }
    }
    write(traffic, dir, segs.toVector, truth.toVector, kids.toVector, noise)
  }

  /** Cuts the capture into `files` equal time slices (capture order
    * inside each) and writes them, gzipped if asked.
    */
  private def write(traffic: Traffic, dir: Path, segs: Vector[Seg],
                    truth: Vector[TruthMsg], kids: Vector[TruthChild],
                    noise: Long): Capture = {
    val ordered = segs.sortBy(s => (s.ts, s.seq))
    val first = ordered.head.ts
    val span = ordered.last.ts - first + 1
    def fileOf(ts: Long): Int = ((ts - first) * traffic.files / span).toInt
    Files.createDirectories(dir)
    val writers = Vector.fill(traffic.files)(new PcapFile.Writer)
    ordered.foreach { s =>
      val client = s"10.${1 + (s.conn >> 8)}.${s.conn & 0xff}.7"
      val fr =
        if (s.inbound) LinkDecode.encode(client, 30000 + s.conn, Server, s.dstPort, s.payload, s.seq)
        else LinkDecode.encode(Server, Port, client, 30000 + s.conn, s.payload, s.seq)
      writers(fileOf(s.ts)).record(s.ts * 1000L + (s.seq % 1000), fr)
    }
    var bytes = 0L
    val paths = writers.zipWithIndex.map { case (wr, f) =>
      val raw = wr.toBytes
      val body =
        if (!traffic.gzip) raw
        else {
          val bos = new ByteArrayOutputStream(raw.length / 3)
          val gz = new java.util.zip.GZIPOutputStream(bos)
          gz.write(raw); gz.close()
          bos.toByteArray
        }
      val p = dir.resolve(f"capture-$f%05d.pcap" + (if (traffic.gzip) ".gz" else ""))
      Files.write(p, body)
      // rotation order is modification order for the streaming source
      Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(first + f * 1000L))
      bytes += body.length
      p
    }
    val filed = truth.map(m => m.copy(file = fileOf(m.ts)))
    writeManifest(dir.resolveSibling("manifest.tsv"), filed)
    Capture(dir, paths, bytes, filed, kids, noise, ordered.size.toLong)
  }

  /** The ground truth next to the capture: one line per message. */
  private def writeManifest(path: Path, truth: Vector[TruthMsg]): Unit = {
    val sb = new StringBuilder(truth.size * 96)
    sb.append("client\tport\tcall_id\tinbound\tmethod\ttable\tregion\tcells\tbatch\telapsed_ms\terror\tfile\n")
    truth.foreach { m =>
      sb.append(m.client).append('\t').append(m.port).append('\t').append(m.call_id)
        .append('\t').append(m.inbound).append('\t').append(m.method)
        .append('\t').append(m.table.getOrElse("")).append('\t').append(m.region.getOrElse(""))
        .append('\t').append(m.cells).append('\t').append(m.batch)
        .append('\t').append(m.elapsed.fold("")(_.toString))
        .append('\t').append(m.error.getOrElse("")).append('\t').append(m.file).append('\n')
    }
    Files.write(path, sb.toString.getBytes(UTF_8))
  }
}
