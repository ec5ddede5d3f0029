package graft.inspector

/** TCP payload → 4-byte-length-prefixed HBase RPC frames for ONE direction
  * of one client connection (reference: core.clj:152-259
  * process-hbase-packet — the `expects-more` / `advance-state` loop).
  *
  * Semantics kept from the reference:
  *   - a segment arriving with no buffered state whose first 4 bytes are
  *     not a valid length is skipped entirely (`valid-length?` heuristic,
  *     core.clj:86-100 — a mid-stream fragment we cannot frame);
  *   - several messages may share one segment (Nagle) and one message may
  *     span many segments;
  *   - an invalid length mid-buffer means desync: the rest of the buffer
  *     is dropped and the next segment re-syncs via the heuristic.
  *
  * Documented deviation: a 4-byte length prefix split across two segments
  * is buffered and completed (the reference's `read-int4` returns 0 at EOF
  * and drops the tail bytes); strictly more traffic is recovered.
  */
final class FrameAssembler {

  // Unconsumed bytes live in buf[start, end). An offset-tracked growable
  // array, NOT a ByteArrayOutputStream snapshotted per push: the original
  // form called toByteArray (a full copy of everything buffered) on every
  // segment, which is quadratic for a frame arriving in MTU-sized
  // segments — a 100 MB scan response in ~1.5 KB segments would copy
  // terabytes. Here a segment append is one arraycopy, an incomplete
  // frame waits in place (no stash copy), and the only per-frame copy is
  // the completed body itself. Amortized O(bytes) per connection.
  private var buf = Array.emptyByteArray
  private var start = 0
  private var end = 0

  /** The `valid-length?` heuristic: positive and under 256 MiB. */
  def validLength(len: Int): Boolean = len > 0 && len < FrameAssembler.MaxFrameBytes

  /** Bytes currently buffered (the byte side of
    * [[ConnTracker.trimState]], reference core.clj:298-307
    * current-memory-usage).
    */
  def bufferedBytes: Int = end - start

  /** Bytes allocated for the buffer, consumed prefix included. */
  private[inspector] def capacity: Int = buf.length

  def reset(): Unit = { buf = Array.emptyByteArray; start = 0; end = 0 }

  /** Buffer snapshot/restore for externalized state (streaming mode).
    * Restore bypasses the initial-encounter heuristic: the bytes were
    * already synced at a frame boundary when snapshotted.
    */
  def buffered: Array[Byte] = java.util.Arrays.copyOfRange(buf, start, end)
  def restore(bytes: Array[Byte]): Unit = {
    buf = bytes.clone(); start = 0; end = bytes.length
  }

  private def int4(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
      ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)

  private def append(data: Array[Byte]): Unit = {
    val n = data.length
    if (end + n > buf.length) {
      val live = end - start
      if (live + n <= buf.length) {
        // enough total room once the consumed prefix is dropped:
        // compact in place (arraycopy is overlap-safe, dest < src)
        System.arraycopy(buf, start, buf, 0, live)
      } else {
        // grow geometrically so repeated appends stay amortized O(1), but
        // never past the pending frame once its length prefix is here: a
        // frame just over a power of two would otherwise end in an array
        // nearly twice its size
        val doubled =
          if (live >= 4) math.min(buf.length * 2L, 4L + int4(buf, start)).toInt
          else math.max(64, buf.length * 2)
        val grown = new Array[Byte](math.max(live + n, doubled))
        System.arraycopy(buf, start, grown, 0, live)
        buf = grown
      }
      start = 0; end = live
    }
    System.arraycopy(data, 0, buf, end, n)
    end += n
  }

  /** Pushes one segment's payload; returns every completed frame body
    * (without the 4-byte prefix).
    */
  def push(data: Array[Byte]): Vector[Array[Byte]] = {
    if (bufferedBytes == 0) {
      // Initial encounter for this stream run: gate on the heuristic.
      if (data.length < 4 || !validLength(int4(data, 0))) return Vector.empty
    }
    append(data)
    extract()
  }

  private def extract(): Vector[Array[Byte]] = {
    val out = Vector.newBuilder[Array[Byte]]
    var continue = true
    while (continue) {
      val rem = end - start
      if (rem == 0) { reset(); continue = false } // fully drained: free
      else if (rem < 4) continue = false // wait for the prefix to complete
      else {
        val size = int4(buf, start)
        if (!validLength(size)) { reset(); continue = false } // desync
        else if (rem - 4 >= size) {
          out += java.util.Arrays.copyOfRange(buf, start + 4, start + 4 + size)
          start += 4 + size
        } else continue = false // wait for more
      }
    }
    out.result()
  }
}

object FrameAssembler {
  /** Reference's sanity bound on a message length (core.clj:100). */
  final val MaxFrameBytes: Int = 256 * 1024 * 1024
}
