package graft.pcap

import java.io.{EOFException, InputStream}

import PcapFile.{u32, PcapRecord}
import graft.sources.FileRecords

/** pcapng (the modern capture format, wireshark/tcpdump default) reader —
  * the public block structure: Section Header (0x0A0D0D0A, byte-order
  * magic 0x1A2B3C4D), Interface Description (0x1, link type + if_tsresol
  * option), Enhanced Packet (0x6, 64-bit timestamp in interface
  * resolution). Records normalize to the same [[PcapFile.PcapRecord]] as
  * classic pcap.
  *
  * Robustness contract (a passive pipeline must survive hostile files):
  * unknown block types are skipped per spec; an EPB referencing an
  * undefined interface or a non-Ethernet link is skipped; Simple Packet
  * Blocks are skipped too — they carry NO timestamp, and a fabricated
  * ts would corrupt per-connection reassembly ordering and expiry;
  * malformed lengths end the iteration (drop-the-tail, like the classic
  * reader).
  */
object Pcapng {

  final val SectionHeader = 0x0A0D0D0A
  final val ByteOrderMagic = 0x1A2B3C4DL

  def isPcapng(bytes: Array[Byte]): Boolean =
    bytes.length >= 4 &&
      ((bytes(0) & 0xff) == 0x0A && (bytes(1) & 0xff) == 0x0D &&
        (bytes(2) & 0xff) == 0x0D && (bytes(3) & 0xff) == 0x0A)

  private def u16(b: Array[Byte], off: Int, le: Boolean): Int =
    if (le) ((b(off + 1) & 0xff) << 8) | (b(off) & 0xff)
    else ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)

  /** Ticks of one second for an if_tsresol value: MSB clear = 10^-n,
    * MSB set = 2^-n (both bounded to keep the arithmetic in Long).
    */
  private def ticksPerSecond(tsresol: Int): Long =
    if ((tsresol & 0x80) == 0) {
      val n = math.min(tsresol, 18)
      var t = 1L; var i = 0
      while (i < n) { t *= 10; i += 1 }
      t
    } else {
      val n = math.min(tsresol & 0x7f, 62)
      1L << n
    }

  /** Overflow-safe ticks → microseconds at `tps` ticks per second. */
  private def toMicros(ticks: Long, tps: Long): Long =
    (ticks / tps) * 1000000L + ((ticks % tps) * 1000000L) / tps

  private final case class Iface(linkType: Int, tps: Long)

  /** Lazily iterates packet records of a pcapng stream: an 8-byte block
    * header, then the block body; truncated/garbled tails end the
    * iteration (mirrors the classic reader's drop semantics).
    */
  def records(in: InputStream): Iterator[PcapRecord] = {
    var le = true
    var ifaces = Vector.empty[Iface]

    def tsResolOf(body: Array[Byte], optOff: Int, end: Int): Int = {
      // walk options: code(2) len(2) value(padded to 4); if_tsresol = 9
      var o = optOff
      var resol = 6 // default 10^-6
      while (o + 4 <= end) {
        val code = u16(body, o, le)
        val len = u16(body, o + 2, le)
        if (code == 0) o = end
        else {
          if (code == 9 && len >= 1 && o + 4 < end) resol = body(o + 4) & 0xff
          o += 4 + ((len + 3) & ~3)
        }
      }
      resol
    }

    def advance(): PcapRecord =
      try {
        while (true) {
          val head = FileRecords.readFully(in, 8)
          var consumed = 8
          if (u32(head, 0, le = true) == (SectionHeader & 0xFFFFFFFFL)) {
            // byte order determined by the magic opening the section body
            le = u32(FileRecords.readFully(in, 4), 0, le = true) == ByteOrderMagic
            ifaces = Vector.empty
            consumed = 12
          }
          val blockType = u32(head, 0, le)
          val totalLen = u32(head, 4, le).toInt
          if (totalLen < 12 || (totalLen & 3) != 0) return null
          // the rest of the block: its body, then the 4-byte trailing length
          val body = FileRecords.readFully(in, totalLen - consumed)
          val bodyEnd = body.length - 4
          blockType match {
            case 1 => // IDB
              if (bodyEnd >= 8) {
                val tps = ticksPerSecond(tsResolOf(body, 8, bodyEnd))
                ifaces :+= Iface(u16(body, 0, le), tps)
              }
            case 6 => // EPB
              if (bodyEnd >= 20) {
                val ifId = u32(body, 0, le).toInt
                val capLen = u32(body, 12, le).toInt
                // must reference a defined, Ethernet interface (an EPB
                // before its IDB would otherwise be decoded under guessed
                // link type and resolution); compare in Long: a crafted
                // capLen near Int.MaxValue would wrap `20 + capLen`
                // negative and slip past the bound
                ifaces.lift(ifId) match {
                  case Some(iface) if iface.linkType == PcapFile.LinkEthernet &&
                    capLen >= 0 && 20L + capLen <= bodyEnd =>
                    val ticks = (u32(body, 4, le) << 32) | u32(body, 8, le)
                    return PcapRecord(toMicros(ticks, iface.tps), u32(body, 16, le).toInt,
                      java.util.Arrays.copyOfRange(body, 20, 20 + capLen))
                  case _ => ()
                }
              }
            case _ => () // SHB handled above; SPB (no timestamp) + rest skipped
          }
        }
        null
      } catch { case _: EOFException => null }
    Iterator.continually(advance()).takeWhile(_ != null)
  }
}
