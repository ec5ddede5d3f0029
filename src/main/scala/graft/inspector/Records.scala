package graft.inspector

import org.apache.spark.sql.{Encoder, Encoders}

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
  * (`flatMapGroupsWithState`): reassembly buffers per direction plus
  * correlation and scan-lifecycle entries.
  *
  * The snapshot's field layout is the streaming checkpoint format. It rides
  * inside [[StateEnvelope]] — a `(version, payload-bytes)` wrapper whose own
  * shape never changes — so a checkpoint written by a build with a different
  * snapshot layout fails on restore with an actionable version message
  * instead of a raw kryo deserialization error. Bump
  * [[ConnSnapshot.Version]] whenever any of these case classes changes.
  */
final case class PendingEntry(callId: Int, ts: Long, info: graft.proto.HbaseRpc.RpcInfo)
final case class OpenEntry(callId: Int, table: Option[String], region: Option[String], ts: Long)
final case class ScannerEntry(scannerId: Long, table: Option[String], region: Option[String], ts: Long)
final case class ConnSnapshot(
    inBuf: Array[Byte],
    outBuf: Array[Byte],
    pending: Seq[PendingEntry],
    pendingOpen: Seq[OpenEntry],
    scanners: Seq[ScannerEntry])

object ConnSnapshot {
  /** Streaming-state format version. History: 1 = round 3 layout;
    * 2 = round 4 (ts added to Open/ScannerEntry) + the envelope itself.
    */
  val Version = 2
}

/** Stable serialization envelope for the streaming state: an int version
  * tag plus the JDK-serialized snapshot. Only this two-field shape is ever
  * kryo-encoded by the state store, so version checks run BEFORE the
  * layout-sensitive decode.
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

/** The pipeline's typed encoders, derived once. Deriving one reflects over
  * the type; through `import spark.implicits._` every call that built a
  * plan did it again.
  */
object RecordEncoders {
  implicit lazy val fileEncoder: Encoder[(String, Array[Byte])] = Encoders.product[(String, Array[Byte])]
  implicit lazy val segmentEncoder: Encoder[KeyedSegment] = Encoders.product[KeyedSegment]
  implicit lazy val recordEncoder: Encoder[RecordInfo] = Encoders.product[RecordInfo]
  implicit lazy val connKeyEncoder: Encoder[(String, Int)] = Encoders.product[(String, Int)]
  implicit lazy val packetEncoder: Encoder[(Long, String, Int, String, Int, Long, Int)] =
    Encoders.product[(Long, String, Int, String, Int, Long, Int)]
}
