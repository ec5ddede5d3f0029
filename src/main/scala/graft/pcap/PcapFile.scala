package graft.pcap

import java.io.{BufferedInputStream, ByteArrayInputStream, ByteArrayOutputStream, EOFException, InputStream}

import graft.sources.FileRecords

/** Classic libpcap file codec (the public tcpdump/libpcap format:
  * 24-byte global header + per-record 16-byte headers). Replaces the
  * reference's pcap4j `Pcaps/openOffline` (reference: pcap.clj:35-38
  * file-handle) with a zero-dependency reader usable inside executor tasks —
  * one file is one task; scale-out is many rotated capture files.
  *
  * Supports both byte orders and both timestamp resolutions
  * (magic 0xA1B2C3D4 = µs, 0xA1B23C4D = ns, and their byte-swapped forms).
  * Only link type 1 (Ethernet) is consumed downstream.
  */
object PcapFile {

  final val MagicMicros = 0xA1B2C3D4
  final val MagicNanos  = 0xA1B23C4D
  final val LinkEthernet = 1

  /** One captured record; `tsMicros` normalized to microseconds. */
  final case class PcapRecord(tsMicros: Long, origLen: Int, data: Array[Byte])

  final class FormatException(msg: String) extends RuntimeException(msg)

  /** Shared with [[Pcapng]] — one copy of the endian-sensitive read. */
  private[pcap] def u32(b: Array[Byte], off: Int, le: Boolean): Long = {
    val v = ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
      ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)
    (if (le) Integer.reverseBytes(v) else v) & 0xffffffffL
  }

  /** Lazily iterates the records of one classic pcap stream: a 16-byte
    * record header, read into one buffer per stream, then `inclLen` bytes.
    * A truncated trailing record is dropped (a live capture can be cut
    * mid-record).
    */
  def records(in: InputStream): Iterator[PcapRecord] = {
    val header = FileRecords.readFully(in, 24)
    val (le, nanos) = u32(header, 0, le = false).toInt match {
      case MagicMicros => (false, false)
      case MagicNanos  => (false, true)
      case 0xD4C3B2A1  => (true, false)
      case 0x4D3CB2A1  => (true, true)
      case other => throw new FormatException(f"bad pcap magic 0x$other%08X")
    }
    val linkType = u32(header, 20, le).toInt
    if (linkType != LinkEthernet) return Iterator.empty

    val h = new Array[Byte](16)
    def advance(): PcapRecord =
      try {
        FileRecords.readFully(in, h)
        val inclLen = u32(h, 8, le).toInt
        if (inclLen < 0) null
        else {
          val data = FileRecords.readFully(in, inclLen)
          val tsFrac = u32(h, 4, le)
          val micros = u32(h, 0, le) * 1000000L + (if (nanos) tsFrac / 1000L else tsFrac)
          PcapRecord(micros, u32(h, 12, le).toInt, data)
        }
      } catch { case _: EOFException => null }
    Iterator.continually(advance()).takeWhile(_ != null)
  }

  def isGzip(bytes: Array[Byte]): Boolean =
    bytes.length >= 2 && (bytes(0) & 0xff) == 0x1f && (bytes(1) & 0xff) == 0x8b

  /** Records of a decompressed capture stream, pcapng or classic by its
    * magic; anything else throws [[FormatException]].
    */
  def capture(stream: InputStream): Iterator[PcapRecord] = {
    val in = if (stream.markSupported) stream else new BufferedInputStream(stream)
    in.mark(4)
    val head = FileRecords.readFully(in, 4)
    in.reset()
    if (Pcapng.isPcapng(head)) Pcapng.records(in) else records(in)
  }

  /** A capture file's records through [[FileRecords.records]]: gunzipped
    * by magic (rotated captures are routinely compressed, whatever their
    * name), either format. A file that is corrupt, half-written (a gzip
    * picked up by the streaming source) or not a capture at all (a stray
    * index/log in the capture directory) yields its complete leading
    * records, never an exception (`name` is kept for diagnostics only).
    */
  def recordsAuto(name: String, in: InputStream): Iterator[PcapRecord] =
    FileRecords.records(in)(capture)

  def recordsAuto(name: String, bytes: Array[Byte]): Iterator[PcapRecord] =
    recordsAuto(name, new ByteArrayInputStream(bytes))

  def gunzip(bytes: Array[Byte]): Array[Byte] = {
    val in = FileRecords.decompressed(new ByteArrayInputStream(bytes))
    try in.readAllBytes() finally in.close()
  }

  /** Writer for tests and the synthetic traffic generator: classic
    * little-endian microsecond pcap, Ethernet link type.
    */
  final class Writer {
    private val out = new ByteArrayOutputStream(1024)
    writeU32(MagicMicros); writeU16(2); writeU16(4) // magic, version 2.4
    writeU32(0); writeU32(0)                        // thiszone, sigfigs
    writeU32(65535); writeU32(LinkEthernet)         // snaplen, network

    private def writeU16(v: Int): Unit = {
      out.write(v & 0xff); out.write((v >>> 8) & 0xff)
    }
    private def writeU32(v: Long): Unit = {
      var i = 0
      while (i < 4) { out.write(((v >>> (8 * i)) & 0xff).toInt); i += 1 }
    }

    def record(tsMicros: Long, frame: Array[Byte]): Writer = {
      writeU32(tsMicros / 1000000L)
      writeU32(tsMicros % 1000000L)
      writeU32(frame.length.toLong)
      writeU32(frame.length.toLong)
      out.write(frame, 0, frame.length)
      this
    }

    def toBytes: Array[Byte] = out.toByteArray
  }
}
