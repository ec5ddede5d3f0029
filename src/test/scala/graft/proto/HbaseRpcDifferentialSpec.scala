package graft.proto

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.scalatest.funsuite.AnyFunSuite

import graft.inspector.{FrameAssembler, Inspector, SyntheticTraffic}
import HbaseRpc.RpcInfo
import ProtoWire.{writer, Reader, Writer}

/** [[HbaseRpc]] (in-place slice decode) against [[LegacyHbaseRpc]] (the
  * `Msg`-map decoder it replaced): every frame must give the same
  * [[RpcInfo]] from both, or an exception of the same class from both.
  * Frames come from the synthetic captures, from a seeded generator of
  * Get/Scan/Mutate/Multi/BulkLoad traffic with duplicated and unknown
  * fields, and from mutations of both: every truncation, single-byte
  * flips and tag bytes rewritten to the group/reserved wire types.
  */
class HbaseRpcDifferentialSpec extends AnyFunSuite {
  import HbaseRpcDifferentialSpec.Case

  private type Outcome = Either[Class[_], RpcInfo]

  private def outcome(decode: => RpcInfo): Outcome =
    try Right(decode) catch { case NonFatal(e) => Left(e.getClass) }

  /** Decodes `c` (with `frame` in place of its bytes) both ways and fails
    * on any difference.
    */
  private def agree(c: Case, frame: Array[Byte], what: => String): Outcome = {
    val finder: Int => Option[RpcInfo] = _ => c.request
    val legacy = outcome(LegacyHbaseRpc.parseStream(c.inbound, new Reader(frame), finder))
    val current = outcome(HbaseRpc.parseStream(c.inbound, new Reader(frame), finder))
    if (current != legacy)
      fail(s"$what: decoders differ on ${frame.map(b => f"${b & 0xff}%02x").mkString}\n" +
        s"  current: $current\n  legacy:  $legacy")
    legacy
  }

  // --- the synthetic captures ---------------------------------------------

  /** Every frame in the capture files under `dir`, reassembled per
    * connection and direction in capture order, with each response's
    * request decoded by the legacy decoder.
    */
  private def captureCases(dir: String): Seq[Case] = {
    val files = Files.list(Paths.get(dir))
    val segs =
      try files.iterator().asScala.filter(Files.isRegularFile(_)).toVector.sortBy(_.toString).flatMap { p =>
          Inspector.decodeFile(p.toString, Files.readAllBytes(p), Inspector.HbasePorts)
        }
      finally files.close()
    segs.groupBy(s => (s.client, s.port)).toVector.sortBy(_._1).flatMap { case (_, conn) =>
      val asm = Map(true -> new FrameAssembler, false -> new FrameAssembler)
      val pending = mutable.Map.empty[Int, RpcInfo]
      conn.sortBy(s => (s.ts, s.fileTs, s.order)).flatMap { seg =>
        asm(seg.inbound).push(seg.payload).map { frame =>
          val legacy = outcome(LegacyHbaseRpc.parseStream(seg.inbound, new Reader(frame),
            id => pending.get(id)))
          val c = Case(seg.inbound, frame,
            if (seg.inbound) None else legacy.toOption.flatMap(r => pending.get(r.callId)))
          legacy.foreach(r => if (seg.inbound) pending(r.callId) = r else pending.remove(r.callId))
          c
        }
      }
    }
  }

  private lazy val syntheticCases: Seq[Case] = {
    val (bulk, _, _) = SyntheticTraffic.bulkPcapDir(conns = 6, calls = 40, files = 2)
    try captureCases(SyntheticTraffic.ensurePcapDir()) ++ captureCases(bulk)
    finally graft.Fs.deleteTree(Paths.get(bulk))
  }

  test("every frame of the synthetic captures decodes the same, and cleanly") {
    assert(syntheticCases.size > 200)
    syntheticCases.zipWithIndex.foreach { case (c, i) =>
      assert(agree(c, c.frame, s"synthetic frame $i").isRight, s"synthetic frame $i")
    }
    // both sides of the correlation are exercised
    assert(syntheticCases.exists(c => !c.inbound && c.request.exists(_.method == "multi")))
    assert(syntheticCases.exists(c => !c.inbound && c.request.isEmpty))
  }

  // --- generated traffic ----------------------------------------------------

  private final class Gen(seed: Long) {
    private val rnd = new Random(seed)
    private def chance(p: Double): Boolean = rnd.nextDouble() < p

    private def someBytes(max: Int): Array[Byte] =
      if (chance(0.5)) rnd.alphanumeric.take(rnd.nextInt(max + 1)).mkString.getBytes(UTF_8)
      else Array.fill(rnd.nextInt(max + 1))(rnd.nextInt(256).toByte)

    /** Unknown fields (numbers past every HBase message's) of any wire
      * type, now and then a known number with an unexpected wire type.
      */
    private def junk(w: Writer): Writer = {
      for (_ <- 0 until (if (chance(0.3)) 1 + rnd.nextInt(3) else 0)) {
        val f = if (chance(0.15)) 1 + rnd.nextInt(18) else 30 + rnd.nextInt(20)
        rnd.nextInt(4) match {
          case 0 => w.varint(f, rnd.nextLong())
          case 1 => w.fixed32(f, rnd.nextInt())
          case 2 => w.fixed64(f, rnd.nextLong())
          case _ => w.bytes(f, someBytes(6))
        }
      }
      w
    }

    /** `write` once, or twice when duplicated fields are drawn. */
    private def dup(w: Writer)(write: Writer => Unit): Writer = {
      write(w)
      if (chance(0.15)) write(w)
      w
    }

    private def regionName: Array[Byte] = rnd.nextInt(5) match {
      case 0 => s"t${rnd.nextInt(9)},k,123".getBytes(UTF_8) // old style
      case 1 => ("t,k,1X" + "0123456789abcdef" * 2 + ".").getBytes(UTF_8) // bogus separator
      case 2 => someBytes(40)
      case _ =>
        val hex = Seq.fill(32)("0123456789abcdef"(rnd.nextInt(16))).mkString
        s"tbl${rnd.nextInt(5)},${rnd.alphanumeric.take(3).mkString},16300.$hex.".getBytes(UTF_8)
    }

    private def region: Writer =
      junk(dup(writer.varint(1, 1L))(_.bytes(2, regionName)))

    private def withRegion(w: Writer, f: Int): Writer =
      if (chance(0.9)) dup(w)(_.msg(f, region)) else w

    private def get: Writer = {
      val w = dup(writer)(_.bytes(1, someBytes(10)))
      for (_ <- 0 until rnd.nextInt(3)) {
        val col = writer.bytes(1, "cf".getBytes(UTF_8))
        for (_ <- 0 until rnd.nextInt(4)) col.bytes(2, someBytes(4))
        w.msg(2, junk(col))
      }
      junk(w)
    }

    private def mutation: Writer = {
      val w = writer
      if (chance(0.9)) dup(w)(_.bytes(1, someBytes(10)))
      if (chance(0.9)) dup(w)(_.varint(2, rnd.nextInt(6).toLong - (if (chance(0.05)) 3 else 0)))
      for (_ <- 0 until rnd.nextInt(3)) {
        val cv = writer.bytes(1, "cf".getBytes(UTF_8))
        for (_ <- 0 until rnd.nextInt(4)) cv.msg(2, writer.bytes(1, someBytes(3)))
        w.msg(3, junk(cv))
      }
      if (chance(0.7)) dup(w)(_.varint(6, rnd.nextInt(7).toLong))
      if (chance(0.4)) dup(w)(_.varint(8, rnd.nextInt(5).toLong))
      junk(w)
    }

    private def scan: Writer = {
      val w = writer
      if (chance(0.8)) dup(w)(_.bytes(3, someBytes(6)))
      if (chance(0.6)) dup(w)(_.bytes(4, someBytes(6)))
      if (chance(0.6)) dup(w)(_.varint(17, rnd.nextInt(1000).toLong))
      junk(w)
    }

    private def requestParam(method: String): Writer = method match {
      case "Get" => junk(withRegion(writer, 1).msg(2, get))
      case "Scan" =>
        val w = writer
        rnd.nextInt(4) match {
          case 0 => withRegion(w, 1).msg(2, scan) // open
          case 1 => withRegion(w, 1).msg(2, scan).bool(5, true) // small
          case 2 => dup(w)(_.varint(3, rnd.nextInt(1 << 20).toLong)).varint(4, 20L) // next
          case _ => w.varint(3, rnd.nextInt(1 << 20).toLong).bool(5, rnd.nextBoolean()) // close
        }
        junk(w)
      case "Mutate" =>
        val w = withRegion(writer, 1)
        if (chance(0.9)) w.msg(2, mutation)
        if (chance(0.2)) w.msg(3, writer.bytes(1, someBytes(4)))
        junk(w)
      case "Multi" =>
        val w = writer
        for (_ <- 0 until rnd.nextInt(4)) {
          val ra = withRegion(writer, 1)
          for (_ <- 0 until rnd.nextInt(5)) {
            val act = writer.varint(1, rnd.nextInt(9).toLong)
            if (chance(0.3)) act.msg(3, get) else if (chance(0.95)) act.msg(2, mutation)
            ra.msg(3, junk(act))
          }
          w.msg(1, junk(ra))
        }
        if (chance(0.1)) w.msg(3, writer.bytes(1, someBytes(4)))
        junk(w)
      case "BulkLoadHFile" => junk(withRegion(writer, 1))
      case _               => junk(writer.bytes(1, someBytes(8)))
    }

    private val methods = Vector("Get", "Scan", "Mutate", "Multi", "BulkLoadHFile",
      "ExecService", "Unknown", "getRegionInfo", "Get1", "")

    private def frame(parts: Writer*): Array[Byte] = {
      val bytes = parts.toArray.flatMap(_.toDelimitedBytes)
      if (chance(0.05)) bytes ++ someBytes(4) else bytes // trailing bytes are ignored
    }

    def request(callId: Int): Case = {
      val method = if (chance(0.95)) methods(rnd.nextInt(5)) else methods(5 + rnd.nextInt(5))
      val header = dup(writer.varint(1, callId.toLong))(_.string(3, method))
      val hasParam = chance(0.95)
      dup(header)(_.bool(4, hasParam))
      junk(header)
      Case(inbound = true,
        if (hasParam || chance(0.5)) frame(header, requestParam(method)) else frame(header),
        None)
    }

    private def result: Writer = {
      val w = writer
      for (_ <- 0 until rnd.nextInt(4)) w.msg(1, writer.bytes(1, someBytes(3)))
      if (chance(0.6)) dup(w)(_.varint(2, rnd.nextInt(10).toLong))
      junk(w)
    }

    private def responseBody(method: String): Writer = method match {
      case "open-scanner" | "next-rows" | "close-scanner" | "small-scan" =>
        val w = writer
        val cells = Seq.fill(rnd.nextInt(5))(rnd.nextInt(300).toLong)
        rnd.nextInt(3) match {
          case 0 => cells.foreach(w.varint(1, _)) // unpacked
          case 1 => // packed
            val packed = writer
            cells.foreach(packed.writeRawVarint)
            w.bytes(1, packed.toBytes)
          case _ => // both, as a merge of two encoders would give
            val packed = writer
            cells.foreach(packed.writeRawVarint)
            w.bytes(1, packed.toBytes).varint(1, rnd.nextInt(9).toLong)
        }
        if (chance(0.9)) dup(w)(_.varint(2, rnd.nextInt(1 << 20).toLong))
        junk(w)
      case "get" => junk(if (chance(0.9)) writer.msg(1, result) else writer)
      case "multi" =>
        val w = writer
        for (_ <- 0 until rnd.nextInt(3)) {
          val rar = writer
          for (i <- 0 until rnd.nextInt(5)) {
            val roe = writer.varint(1, i.toLong)
            if (chance(0.7)) roe.msg(2, result)
            else if (chance(0.8)) roe.msg(3, writer.string(1, s"org.Err$i").bytes(2, someBytes(4)))
            rar.msg(1, junk(roe))
          }
          w.msg(1, junk(rar))
        }
        junk(w)
      case _ => junk(writer.msg(1, result))
    }

    /** A response to `request` (its legacy decode), or to no request. */
    def response(callId: Int, request: Option[RpcInfo]): Case = {
      val header = writer.varint(1, callId.toLong)
      val error = chance(0.15)
      if (error) dup(header)(_.msg(2, junk(writer.string(1, "org.apache.hadoop.hbase.SomeException"))))
      junk(header)
      val method = request.map(_.method).getOrElse("unknown")
      Case(inbound = false,
        if (error && chance(0.7)) frame(header) else frame(header, responseBody(method)),
        request)
    }
  }

  /** Request/response pairs; the response's request is the legacy decode
    * of the request frame (none for a failed decode or an unmatched call).
    */
  private def generated(seed: Long, pairs: Int): Seq[Case] = {
    val gen = new Gen(seed)
    (1 to pairs).flatMap { callId =>
      val req = gen.request(callId)
      val decoded = outcome(LegacyHbaseRpc.parseStream(true, new Reader(req.frame), _ => None))
      Seq(req, gen.response(callId, if (callId % 17 == 0) None else decoded.toOption))
    }
  }

  test("generated requests and responses decode the same") {
    val cases = generated(seed = 20261017L, pairs = 3000)
    val outcomes = cases.zipWithIndex.map { case (c, i) => agree(c, c.frame, s"generated case $i") }
    // the generator reaches every decode path, and mostly decodes cleanly
    val decoded = outcomes.flatMap(_.toOption)
    val methods = decoded.map(_.method).toSet
    Seq("get", "open-scanner", "small-scan", "next-rows", "close-scanner", "put", "delete",
      "append", "increment", "check-and-put", "multi", "bulk-load-hfile", "exec-service",
      "unknown").foreach(m => assert(methods.contains(m), s"no decoded $m"))
    assert(decoded.exists(_.results.nonEmpty))
    assert(decoded.exists(r => r.error.isDefined && r.cells.isEmpty))
    assert(decoded.size > outcomes.size * 8 / 10, s"${decoded.size} of ${outcomes.size} decoded")
    assert(outcomes.exists(_.isLeft))
  }

  // --- mutated frames -------------------------------------------------------

  private lazy val seeds: Seq[Case] = syntheticCases ++ generated(seed = 7L, pairs = 120)

  /** Applies `mutate` to every seed and requires agreement; returns how
    * many mutants decoded and how many threw.
    */
  private def mutants(name: String)(mutate: (Array[Byte], Random) => Iterator[Array[Byte]]): (Int, Int) = {
    val rnd = new Random(name.hashCode.toLong)
    var ok = 0
    var threw = 0
    seeds.zipWithIndex.foreach { case (c, i) =>
      mutate(c.frame, rnd).zipWithIndex.foreach { case (m, j) =>
        if (agree(c, m, s"$name seed $i mutant $j").isRight) ok += 1 else threw += 1
      }
    }
    (ok, threw)
  }

  test("frames truncated at every offset decode the same") {
    val (ok, threw) = mutants("truncation")((f, _) => (0 until f.length).iterator.map(f.take))
    assert(threw > 0 && ok > 0, s"ok $ok threw $threw")
  }

  test("frames with one byte flipped decode the same") {
    val (ok, threw) = mutants("flip") { (f, rnd) =>
      (0 until f.length).iterator.flatMap { i =>
        Iterator(0x80, 1 + rnd.nextInt(255)).map { x =>
          val m = f.clone()
          m(i) = (m(i) ^ x).toByte
          m
        }
      }
    }
    assert(threw > 0 && ok > 0, s"ok $ok threw $threw")
  }

  test("frames with a byte's wire-type bits rewritten to 3/4/6/7 decode the same") {
    val (ok, threw) = mutants("wire type") { (f, _) =>
      (0 until f.length).iterator.flatMap { i =>
        Iterator(3, 4, 6, 7).map { wt =>
          val m = f.clone()
          m(i) = ((m(i) & ~0x7) | wt).toByte
          m
        }
      }
    }
    assert(threw > 0 && ok > 0, s"ok $ok threw $threw")
  }
}

object HbaseRpcDifferentialSpec {
  /** One frame and the request its response side is correlated with. */
  final case class Case(inbound: Boolean, frame: Array[Byte], request: Option[RpcInfo])
}
