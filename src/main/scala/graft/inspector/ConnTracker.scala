package graft.inspector

import scala.util.control.NonFatal

import graft.proto.{HbaseRpc, ProtoWire}

/** Full per-connection state machine: framing per direction, request ↔
  * response correlation with `elapsed`, scan lifecycle, record shaping
  * (the composition the reference runs per packet in core.clj:152-259 +
  * next-state, here per client connection so connections are the parallel
  * unit).
  *
  * Used sequentially inside one Spark task through [[run]] (batch: one
  * sorted group of `flatMapSortedGroups`; streaming: one group in
  * `flatMapGroupsWithState`). Not thread-safe by design.
  */
final class ConnTracker(client: String, port: Int) {
  import ConnTracker._

  private val inAsm  = new FrameAssembler
  private val outAsm = new FrameAssembler
  /** call-id -> (request info, request ts) — reference state `[addr port call-id]`. */
  private var pending = Map.empty[Int, (HbaseRpc.RpcInfo, Long)]
  private var scan = ScanState.empty

  def bufferedBytes: Long = inAsm.bufferedBytes.toLong + outAsm.bufferedBytes
  def pendingCalls: Int = pending.size

  /** Correlation and scan-lifecycle entries held (the entry-count side of
    * the state bounds; buffer bytes are the other side).
    */
  def stateEntries: Int = pending.size + scan.bufferedEntries

  /** Externalized state for `flatMapGroupsWithState`. */
  def snapshot: ConnSnapshot = ConnSnapshot(inAsm.buffered, outAsm.buffered, pending, scan)

  def restore(s: ConnSnapshot): Unit = {
    inAsm.restore(s.inBuf)
    outAsm.restore(s.outBuf)
    pending = s.pending
    scan = s.scan
  }

  /** The per-connection state bounds, applied by [[run]] after every
    * capture file, in batch and streaming alike; `newestTs` is the
    * capture ts of the newest segment pushed so far. In order:
    *   1. expiry: every correlation AND scan-lifecycle entry last touched
    *      more than [[StateTimeoutMs]] before `newestTs` is dropped
    *      (reference trim-state-expired, core.clj:285-297, on capture
    *      time, not wall clock). Actively-used scanners survive: next-rows
    *      refreshes their ts (core.clj:127); a leaked scanner (client
    *      crashed without close-scanner) ages out;
    *   2. byte cap: both reassembly buffers are dropped once they hold
    *      more than [[MaxBufferBytes]] (the per-key form of reference
    *      trim-state-by-memory, core.clj:322-347); the next segment
    *      re-syncs via the valid-length heuristic;
    *   3. entry cap: the OLDEST entries across both maps are dropped
    *      until at most [[MaxStateEntries]] remain, a bound that fires even
    *      when nothing is old enough to expire.
    * Returns the number of entries dropped by 1 and 3.
    */
  private[inspector] def trimState(newestTs: Long): Int = {
    val before = stateEntries
    val cutoff = newestTs - StateTimeoutMs
    pending = pending.filter { case (_, (_, ts)) => ts >= cutoff }
    scan = ScanState.expire(scan, cutoff)
    if (bufferedBytes > MaxBufferBytes) { inAsm.reset(); outAsm.reset() }
    val excess = stateEntries - MaxStateEntries
    if (excess > 0) {
      // (ts, kind, key) oldest-first; kind names the map to remove from
      val all =
        pending.iterator.map { case (id, (_, ts)) => (ts, 0, id.toLong) } ++
          scan.scanners.iterator.map { case (id, e) => (e.ts, 1, id) }
      all.toSeq.sorted.take(excess).foreach {
        case (_, 0, id) => pending -= id.toInt
        case (_, _, id) => scan = ScanState.State(scan.scanners - id)
      }
    }
    before - stateEntries
  }

  /** The connection walk, the one form batch and streaming share: pushes
    * the connection's segments, given in capture order
    * ([[KeyedSegment.CaptureOrder]]), and applies [[trimState]] with the
    * newest ts pushed so far each time `fileTs` changes and once more when
    * the input ends, so the state bounds hold after every capture file
    * whatever the trigger size. Lazy: records come out as segments go in,
    * and the last trim runs when the result is exhausted.
    */
  def run(segs: Iterator[KeyedSegment]): Iterator[RecordInfo] = {
    var started = false
    var fileTs = 0L
    var newestTs = 0L
    segs.flatMap { seg =>
      if (!started) { started = true; newestTs = seg.ts }
      else if (seg.fileTs != fileTs) trimState(newestTs)
      fileTs = seg.fileTs
      newestTs = math.max(newestTs, seg.ts)
      push(seg)
    } ++ {
      if (started) trimState(newestTs)
      Iterator.empty
    }
  }

  /** Feed one segment; emit every completed, shaped record. A parse
    * failure discards the rest of this direction's stream — both the
    * remaining already-framed messages and any buffered partial bytes —
    * matching the reference's whole-buffer drop (core.clj:255-259); the
    * next segment re-syncs via the valid-length heuristic.
    */
  def push(seg: KeyedSegment): Seq[RecordInfo] = {
    val asm = if (seg.inbound) inAsm else outAsm
    val frames =
      try asm.push(seg.payload)
      catch { case NonFatal(_) => asm.reset(); Vector.empty }
    val out = Vector.newBuilder[RecordInfo]
    var failed = false
    frames.foreach { frame =>
      if (!failed) parseFrame(frame, seg) match {
        case Some(rec) => out += rec
        case None      => failed = true // parseFrame already reset the buffer
      }
    }
    out.result()
  }

  private def parseFrame(frame: Array[Byte], seg: KeyedSegment): Option[RecordInfo] =
    try {
      val reader = new ProtoWire.Reader(frame)
      val parsed = HbaseRpc.parseStream(seg.inbound, reader,
        id => pending.get(id).map(_._1))
      val elapsed =
        if (seg.inbound) None
        else pending.get(parsed.callId).map { case (_, reqTs) => seg.ts - reqTs }
      val (nextScan, info) = ScanState.step(scan, parsed, seg.inbound, seg.ts)
      scan = nextScan
      pending = if (seg.inbound) pending.updated(info.callId, (info, seg.ts))
        else pending - info.callId
      Some(Shaping.shape(info, seg.ts, seg.inbound, client, port, seg.server,
        frame.length, elapsed))
    } catch {
      case NonFatal(_) =>
        // Reference behavior: a parse failure discards the client's byte
        // stream (core.clj:255-259); correlation/scan state survives.
        (if (seg.inbound) inAsm else outAsm).reset()
        None
    }
}

object ConnTracker {
  /** State expiry and idle timeout: the reference's state-expiration-ms
    * (core.clj:69-72).
    */
  final val StateTimeoutMs: Long = 120000L
  /** Per-connection reassembly byte cap (per-key form of the reference's
    * global 50%-heap cap: per-key is the bound that exists in a
    * distributed setting).
    */
  final val MaxBufferBytes: Long = 64L * 1024 * 1024
  /** Per-connection cap on correlation/scan entries. */
  final val MaxStateEntries: Int = 10000
}
