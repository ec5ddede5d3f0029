package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.inspector.{ConnTracker, FrameAssembler, Inspector, KeyedSegment, ScanState, Shaping, StateEnvelope}
import graft.pcap.{LinkDecode, PcapFile}
import graft.proto.{HbaseRpc, ProtoWire}

/** Single-threaded replay of the packet pipeline from its public parts,
  * timing each call into a layer with the [[Tracer]]: file read and
  * gunzip, link decode, then per connection `ConnTracker.push` as a
  * whole, and again decomposed into `FrameAssembler.push`,
  * `HbaseRpc.parseStream`, `ScanState.step` and `Shaping.shape` (the
  * composition `ConnTracker` runs), so the parts can be held against the
  * whole.
  */
object Replay {

  type Metric = (String, Double, String)

  private final case class Seg(file: String, seg: KeyedSegment)

  /** File layer: capture files → keyed segments, as `Inspector.decodeFile`
    * composes them.
    */
  private def decode(files: Seq[Path], tr: Tracer, counts: mutable.Map[String, Long]): Vector[Seg] = {
    val ports = Inspector.HbasePorts
    val out = Vector.newBuilder[Seg]
    files.foreach { p =>
      val name = p.getFileName.toString
      val raw = Files.readAllBytes(p)
      val bytes =
        if (PcapFile.isGzip(raw)) tr.time(name, "pcap.gunzip", "pcap")(PcapFile.gunzip(raw))
        else raw
      val recs = tr.time(name, "pcap.read", "pcap")(PcapFile.recordsAuto(name, bytes).toVector)
      counts("records") += recs.size
      val fileTs = recs.headOption.fold(0L)(_.tsMicros / 1000L)
      recs.zipWithIndex.foreach { case (r, i) =>
        tr.time(name, "pcap.link_decode", "pcap")(LinkDecode.decode(r.data)).foreach { s =>
          val inbound = ports.contains(s.dstPort)
          if (inbound || ports.contains(s.srcPort)) {
            val (client, cport, server) =
              if (inbound) (s.srcAddr, s.srcPort, s.dstAddr) else (s.dstAddr, s.dstPort, s.srcAddr)
            out += Seg(name, KeyedSegment(client, cport, inbound, server,
              r.tsMicros / 1000L, fileTs, i.toLong, s.seq, s.payload))
          }
        }
      }
    }
    out.result()
  }

  private def byConnection(segs: Vector[Seg]): Iterable[Vector[Seg]] =
    segs.groupBy(s => (s.seg.client, s.seg.port)).values
      .map(_.sortBy(s => (s.seg.ts, s.seg.fileTs, s.seg.order)))

  /** `ConnTracker.push`'s body, call by call, each part timed. */
  private final class Decomposed(client: String, port: Int, tr: Tracer,
      counts: mutable.Map[String, Long]) {
    private val inAsm = new FrameAssembler
    private val outAsm = new FrameAssembler
    private val pending = mutable.Map.empty[Int, (HbaseRpc.RpcInfo, Long)]
    private var scan = ScanState.empty

    def push(s: Seg): Unit = {
      val seg = s.seg
      val asm = if (seg.inbound) inAsm else outAsm
      val before = asm.bufferedBytes
      val p = seg.payload
      // the assembler takes a segment when it continues a buffered frame
      // or starts with a plausible length; others are skipped whole
      val accepted = before > 0 || (p.length >= 4 && asm.validLength(
        ((p(0) & 0xff) << 24) | ((p(1) & 0xff) << 16) | ((p(2) & 0xff) << 8) | (p(3) & 0xff)))
      val frames =
        try tr.time(s.file, "inspector.reassembly", "inspector.conn_tracker")(asm.push(seg.payload))
        catch { case NonFatal(_) => asm.reset(); Vector.empty }
      counts("segments") += 1
      counts("frames") += frames.size
      val consumed = frames.iterator.map(_.length + 4L).sum
      // bytes that went in and neither came out as frames nor stayed
      // buffered were dropped by a desync reset
      if (accepted && before + seg.payload.length - consumed != asm.bufferedBytes)
        counts("desync") += 1
      var failed = false
      frames.foreach { frame =>
        if (!failed) {
          counts("frameBytes") += frame.length
          try {
            val parsed = tr.time(s.file, "proto.decode", "inspector.conn_tracker")(
              HbaseRpc.parseStream(seg.inbound, new ProtoWire.Reader(frame),
                id => pending.get(id).map(_._1)))
            val elapsed =
              if (seg.inbound) None
              else pending.get(parsed.callId).map { case (_, reqTs) => seg.ts - reqTs }
            if (!seg.inbound && elapsed.isEmpty) counts("unmatched") += 1
            val (next, info) = tr.time(s.file, "inspector.scan_state", "inspector.conn_tracker")(
              ScanState.step(scan, parsed, seg.inbound, seg.ts))
            scan = next
            if (seg.inbound) pending(info.callId) = (info, seg.ts)
            else pending.remove(info.callId)
            val rec = tr.time(s.file, "inspector.shaping", "inspector.conn_tracker")(
              Shaping.shape(info, seg.ts, seg.inbound, client, port, seg.server,
                frame.length, elapsed))
            counts("childRows") += rec.actions.size + rec.results.size
          } catch {
            case NonFatal(_) =>
              counts("decodeFailed") += 1
              asm.reset()
              failed = true
          }
        }
      }
    }
  }

  /** Replays `files` and returns the per-layer metrics of the pcap,
    * reassembly, proto and correlation layers. With `state`, each
    * file's segments of each connection also round-trip through the
    * streaming state snapshot, as one trigger per file does.
    */
  def run(files: Seq[Path], tr: Tracer, state: Boolean): Seq[Metric] = {
    // a first, discarded round warms the JIT for both forms, so neither
    // the whole nor the parts pay for compilation in the reported round
    replay(files, new Tracer(tr.runId), state)
    replay(files, tr, state)
  }

  private def replay(files: Seq[Path], tr: Tracer, state: Boolean): Seq[Metric] = {
    val counts = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val segs = decode(files, tr, counts)
    val conns = byConnection(segs)
    var records = 0L
    var pendingAtEnd = 0L
    conns.foreach { run =>
      val t = new ConnTracker(run.head.seg.client, run.head.seg.port)
      run.foreach { s =>
        records += tr.time(s.file, "inspector.conn_tracker", "inspector")(t.push(s.seg)).size
      }
      pendingAtEnd += t.pendingCalls
    }
    conns.foreach { run =>
      val d = new Decomposed(run.head.seg.client, run.head.seg.port, tr, counts)
      run.foreach(d.push)
    }
    val stateMetrics =
      if (!state) Seq(("streaming.state_ser_ms", 0.0, "ms"), ("streaming.snapshot_bytes", 0.0, "bytes"))
      else {
        // one trigger per file: restore each connection touched by the
        // file, push its segments, snapshot it back
        val envelopes = mutable.Map.empty[(String, Int), StateEnvelope]
        var bytes = 0L; var snaps = 0L
        segs.groupBy(_.file).toSeq.sortBy(_._1).foreach { case (file, inFile) =>
          byConnection(inFile).foreach { run =>
            val key = (run.head.seg.client, run.head.seg.port)
            val t = new ConnTracker(key._1, key._2)
            tr.time(file, "streaming.state_restore", "streaming")(
              envelopes.get(key).map(StateEnvelope.unwrap).foreach(t.restore))
            run.foreach(s => t.push(s.seg))
            val env = tr.time(file, "streaming.state_snapshot", "streaming")(StateEnvelope.wrap(t.snapshot))
            envelopes(key) = env
            bytes += env.payload.length; snaps += 1
          }
        }
        Seq(("streaming.state_ser_ms", tr.ms("streaming.state_restore") + tr.ms("streaming.state_snapshot"), "ms"),
          ("streaming.snapshot_bytes", if (snaps > 0) bytes.toDouble / snaps else 0.0, "bytes"))
      }
    val parts = Seq("inspector.reassembly", "proto.decode", "inspector.scan_state",
      "inspector.shaping").map(tr.ms).sum
    val whole = tr.ms("inspector.conn_tracker")
    val frames = counts("frames")
    Seq(
      ("pcap.read_ms", tr.ms("pcap.read"), "ms"),
      ("pcap.gunzip_ms", tr.ms("pcap.gunzip"), "ms"),
      ("pcap.link_decode_ms", tr.ms("pcap.link_decode"), "ms"),
      ("pcap.records", counts("records").toDouble, "count"),
      ("pcap.segments_kept_ratio",
        if (counts("records") > 0) segs.size.toDouble / counts("records") else 0.0, "ratio"),
      ("inspector.reassembly_ms", tr.ms("inspector.reassembly"), "ms"),
      ("inspector.frames_per_segment",
        if (counts("segments") > 0) frames.toDouble / counts("segments") else 0.0, "ratio"),
      ("inspector.desync_resets", counts("desync").toDouble, "count"),
      ("proto.decode_ms", tr.ms("proto.decode"), "ms"),
      ("proto.frames", frames.toDouble, "count"),
      ("proto.bytes_per_frame", if (frames > 0) counts("frameBytes").toDouble / frames else 0.0, "bytes"),
      ("proto.decode_failed", counts("decodeFailed").toDouble, "count"),
      ("inspector.scan_state_ms", tr.ms("inspector.scan_state"), "ms"),
      ("inspector.shaping_ms", tr.ms("inspector.shaping"), "ms"),
      ("inspector.child_rows", counts("childRows").toDouble, "count"),
      ("inspector.conn_tracker_ms", whole, "ms"),
      ("inspector.conn_tracker_parts_ms", parts, "ms"),
      ("inspector.conn_tracker_coverage", if (whole > 0) parts / whole else 0.0, "ratio"),
      ("inspector.replay_records", records.toDouble, "count"),
      ("inspector.unmatched_responses", counts("unmatched").toDouble, "count"),
      ("inspector.pending_at_end", pendingAtEnd.toDouble, "count")) ++ stateMetrics
  }
}
