package graft.inspector

import graft.proto.HbaseRpc.RpcInfo

/** Scan-lifecycle state machine, pure (reference: core.clj:102-139
  * process-scan-state). Per client connection:
  *
  *   1. open-scanner RESPONSE maps the server-assigned scanner-id to its
  *      request's (table, region), which the response already carries:
  *      [[graft.proto.HbaseRpc.parseResponse]] copies them from the
  *      request the tracker's call-id correlation holds;
  *   2. next-rows (either direction) inherits (table, region) from the
  *      scanner-id entry;
  *   3. close-scanner REQUEST inherits and discards the entry.
  *
  * A small-scan (open+close in one round trip) publishes no scanner-id
  * and leaves no state.
  *
  * Every entry is timestamped so state hygiene can expire it (reference
  * trim-state-expired, core.clj:285-297, expires ALL state objects, not
  * just call-id correlation); a next-rows touch REFRESHES the scanner's ts
  * (core.clj:127 assoc :ts) — an actively-scanned scanner never expires,
  * a leaked one (client gone without close-scanner) does.
  */
object ScanState {

  final case class RegionInfo(table: Option[String], region: Option[String])

  /** A state entry: region info + last-touched capture ts (millis). */
  final case class Entry(info: RegionInfo, ts: Long)

  final case class State(scanners: Map[Long, Entry]) {
    def bufferedEntries: Int = scanners.size
  }

  val empty: State = State(Map.empty)

  /** One transition; returns the next state and the (possibly augmented)
    * record. `ts` stamps touched entries (capture time of the segment).
    */
  def step(st: State, info: RpcInfo, inbound: Boolean, ts: Long): (State, RpcInfo) =
    (info.method, inbound) match {
      case ("open-scanner", false) =>
        val next = info.scanner.fold(st)(id => State(st.scanners
          .updated(id, Entry(RegionInfo(info.table, info.region), ts))))
        (next, info)

      case ("next-rows", _) =>
        info.scanner.flatMap(id => st.scanners.get(id).map(id -> _)) match {
          case Some((id, e)) =>
            // refresh: an in-use scanner must not expire mid-scan
            (State(st.scanners.updated(id, e.copy(ts = ts))),
              info.copy(table = e.info.table, region = e.info.region))
          case None => (st, info)
        }

      case ("close-scanner", true) =>
        val ri = info.scanner.flatMap(st.scanners.get).map(_.info)
        val next = info.scanner.fold(st)(id => State(st.scanners - id))
        (next, ri.fold(info)(r => info.copy(table = r.table, region = r.region)))

      case _ => (st, info)
    }

  /** Drop every entry last touched before `cutoffTs` (reference
    * trim-state-expired semantics over scanner state).
    */
  def expire(st: State, cutoffTs: Long): State =
    State(st.scanners.filter { case (_, e) => e.ts >= cutoffTs })
}
