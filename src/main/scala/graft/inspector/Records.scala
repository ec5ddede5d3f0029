package graft.inspector

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.functions.col

/** The inspector data model (reference: sink/db.clj:8-37 schema; SURVEY §3).
  *
  * `RecordInfo` is the shaped record `send!` emits: a request or response
  * with its transport context; multi children ride along as `actions`
  * (requests) / `results` (responses) and are exploded into their own
  * tables by [[Inspector]].
  */
final case class ChildRow(
    client: String,
    port: Int,
    call_id: Int,
    method: String,
    table: Option[String],
    region: Option[String],
    row: Option[String],
    cells: Option[Int],
    durability: Option[String],
    error: Option[String])

final case class RecordInfo(
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
    elapsed: Option[Long],
    actions: Seq[ChildRow],
    results: Seq[ChildRow])

/** Per-connection state externalized for streaming mode
  * (`flatMapGroupsWithState`): the [[ConnTracker]]'s own state, as it
  * holds it — one reassembly buffer per direction, the call-id
  * correlation map (call-id -> (request info, request ts)) and the
  * scan-lifecycle state.
  *
  * The snapshot's layout is the streaming checkpoint format. It rides
  * inside [[StateEnvelope]] — a `(version, payload-bytes)` wrapper whose own
  * shape never changes — so a checkpoint written by a build with a different
  * snapshot layout fails on restore with an actionable version message
  * instead of a raw deserialization error. Bump [[ConnSnapshot.Version]]
  * whenever this layout, [[ScanState.State]] or [[graft.proto.HbaseRpc.RpcInfo]]
  * changes.
  */
final case class ConnSnapshot(
    inBuf: Array[Byte],
    outBuf: Array[Byte],
    pending: Map[Int, (graft.proto.HbaseRpc.RpcInfo, Long)],
    scan: ScanState.State)

object ConnSnapshot {
  /** Streaming-state format version. History: 1 = round 3 layout;
    * 2 = round 4 (ts added to Open/ScannerEntry) + the envelope itself;
    * 3 = the tracker's own maps and `ScanState.State` in place of the
    * per-entry case classes; 4 = `ScanState.State` without its pending
    * open-scanner map (the correlation map already holds those requests).
    */
  val Version = 4
}

/** Stable serialization envelope for the streaming state: an int version
  * tag plus the JDK-serialized snapshot. The state store holds only this
  * two-field shape, as one flat product row (`version int, payload
  * binary`), so version checks run BEFORE the layout-sensitive decode.
  */
final case class StateEnvelope(version: Int, payload: Array[Byte])

object StateEnvelope {
  def wrap(s: ConnSnapshot): StateEnvelope = {
    val bos = new java.io.ByteArrayOutputStream(
      s.inBuf.length + s.outBuf.length + 256)
    val oos = new java.io.ObjectOutputStream(bos)
    try oos.writeObject(s) finally oos.close()
    StateEnvelope(ConnSnapshot.Version, bos.toByteArray)
  }

  def unwrap(e: StateEnvelope): ConnSnapshot = {
    if (e.version != ConnSnapshot.Version)
      throw new IllegalStateException(
        s"graft streaming-state version ${e.version} in checkpoint, but this " +
          s"build expects ${ConnSnapshot.Version}: the checkpoint was written " +
          "by an incompatible build — restart the query with a fresh " +
          "checkpoint directory")
    val ois = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(e.payload))
    try ois.readObject().asInstanceOf[ConnSnapshot] finally ois.close()
  }
}

/** One data-carrying TCP segment, keyed by its client connection.
  *
  * Ordering within a connection is `(ts, fileTs, order)` — capture order,
  * reconstructed: `order` is the record index within one capture file
  * (exact capture order there); `fileTs` is the file's first-record ts, so
  * at a rotation boundary where two files share a millisecond the earlier
  * file's records sort first (per-file `order` values would otherwise
  * interleave arbitrarily on ts ties and desync reassembly — round-3
  * verdict). `seq` (raw unsigned 32-bit TCP sequence number) is carried
  * from the wire for diagnostics and seq-aware consumers; it is NOT a
  * global sort key because the two directions of a connection have
  * incomparable sequence spaces, and the reference's semantics are
  * capture-order (core.clj processes packets exactly as captured).
  */
final case class KeyedSegment(
    client: String,
    port: Int,
    inbound: Boolean,
    server: String,
    ts: Long, // epoch millis
    fileTs: Long, // first-record ts of the source capture file
    order: Long,
    seq: Long,
    payload: Array[Byte])

object KeyedSegment {
  /** Capture order within one connection, `(ts, fileTs, order)`: as an
    * ordering for an in-memory group, and as the sort columns of a
    * dataset.
    */
  val CaptureOrder: Ordering[KeyedSegment] = Ordering.by(s => (s.ts, s.fileTs, s.order))
  def captureOrderCols: Seq[Column] = Seq(col("ts"), col("fileTs"), col("order"))
}

/** The pipeline's typed encoders, derived once. Deriving one reflects over
  * the type; through `import spark.implicits._` every call that built a
  * plan did it again.
  */
object RecordEncoders {
  implicit lazy val segmentEncoder: Encoder[KeyedSegment] = Encoders.product[KeyedSegment]
  implicit lazy val recordEncoder: Encoder[RecordInfo] = Encoders.product[RecordInfo]
  implicit lazy val connKeyEncoder: Encoder[(String, Int)] = Encoders.product[(String, Int)]
  implicit lazy val envelopeEncoder: Encoder[StateEnvelope] = Encoders.product[StateEnvelope]
  implicit lazy val packetEncoder: Encoder[(Long, String, Int, String, Int, Long, Int)] =
    Encoders.product[(Long, String, Int, String, Int, Long, Int)]
}
