package graft

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.orc.protobuf.{ByteString, DynamicMessage}
import org.apache.orc.protobuf.DescriptorProtos._
import org.apache.orc.protobuf.DescriptorProtos.FieldDescriptorProto.{Label, Type}
import org.apache.orc.protobuf.Descriptors
import org.scalatest.funsuite.AnyFunSuite

import graft.proto.{FieldMap, HbaseRpc, ProtoWire}

/** Differential fuzz of the zero-dep [[ProtoWire]] walker/writer and the
  * [[HbaseRpc]] request decode against the REAL protobuf runtime — the
  * round-12 verdict's last same-author gap in the packet path: the
  * reference trusts protobuf-java's generated parsers outright
  * (reference hbase.clj:8-27 imports, project.clj), while our walker
  * had only hand-computed byte vectors as evidence. The runtime here is
  * the genuine protobuf-java serializer that ships on the Spark
  * classpath inside orc-core's shaded jar (`org.apache.orc.protobuf.*`
  * — a package-relocated, otherwise unmodified copy; no plain
  * protobuf-java jar exists in the offline sandbox).
  *
  * Message shapes mirror the public Apache HBase RPC.proto/Client.proto
  * field numbers that HbaseRpc.scala decodes, with descriptors built at
  * runtime via DescriptorProtos (enum fields modeled as uint32 — wire
  * identical). Three differential directions, >=100 seeded-random
  * messages per shape:
  *
  *  1. writer ≡ serializer: a ProtoWire.Writer re-encoding of a random
  *     DynamicMessage's content is BYTE-IDENTICAL to protobuf's own
  *     toByteArray (both write fields in number order, canonical
  *     varints).
  *  2. walker ≡ parser: [[FieldMap.parse]] (the shipped field loop,
  *     every occurrence copied into a field map) over protobuf-serialized
  *     bytes recovers exactly the fields the DynamicMessage carries —
  *     field numbers, occurrence order, values, nested messages — and
  *     nothing else.
  *  3. HbaseRpc end-to-end: full request frames assembled with
  *     protobuf's own writeDelimitedTo (RequestHeader + param message)
  *     decode to the RpcInfo the DynamicMessage getters predict.
  */
class ProtoDifferentialSpec extends AnyFunSuite {

  // --- runtime-built descriptors for the HBase RPC shapes ----------------

  private def field(name: String, num: Int, t: Type,
      label: Label = Label.LABEL_OPTIONAL, typeName: String = null,
      packed: Boolean = false): FieldDescriptorProto = {
    val b = FieldDescriptorProto.newBuilder()
      .setName(name).setNumber(num).setType(t).setLabel(label)
    if (typeName != null) b.setTypeName(typeName)
    if (packed) b.setOptions(FieldOptions.newBuilder().setPacked(true))
    b.build()
  }

  private def msg(name: String, fields: FieldDescriptorProto*): DescriptorProto =
    DescriptorProto.newBuilder().setName(name).addAllField(fields.asJava).build()

  private val file: Descriptors.FileDescriptor = {
    val fdp = FileDescriptorProto.newBuilder()
      .setName("hbase_rpc_shapes.proto")
      .setPackage("graftdiff")
      // proto2 semantics (optional/required distinction, unpacked
      // repeated scalars by default) — what HBase's protos use
      .addMessageType(msg("RequestHeader",
        field("call_id", 1, Type.TYPE_UINT32),
        field("method_name", 3, Type.TYPE_STRING),
        field("request_param", 4, Type.TYPE_BOOL)))
      .addMessageType(msg("RegionSpecifier",
        field("type", 1, Type.TYPE_UINT32),
        field("value", 2, Type.TYPE_BYTES)))
      .addMessageType(msg("Column",
        field("family", 1, Type.TYPE_BYTES),
        field("qualifier", 2, Type.TYPE_BYTES, Label.LABEL_REPEATED)))
      .addMessageType(msg("Get",
        field("row", 1, Type.TYPE_BYTES),
        field("column", 2, Type.TYPE_MESSAGE, Label.LABEL_REPEATED, ".graftdiff.Column")))
      .addMessageType(msg("GetRequest",
        field("region", 1, Type.TYPE_MESSAGE, typeName = ".graftdiff.RegionSpecifier"),
        field("get", 2, Type.TYPE_MESSAGE, typeName = ".graftdiff.Get")))
      .addMessageType(msg("Scan",
        field("column", 1, Type.TYPE_MESSAGE, Label.LABEL_REPEATED, ".graftdiff.Column"),
        field("start_row", 3, Type.TYPE_BYTES),
        field("stop_row", 4, Type.TYPE_BYTES),
        field("max_versions", 6, Type.TYPE_UINT32),
        field("caching", 17, Type.TYPE_UINT32)))
      .addMessageType(msg("ScanRequest",
        field("region", 1, Type.TYPE_MESSAGE, typeName = ".graftdiff.RegionSpecifier"),
        field("scan", 2, Type.TYPE_MESSAGE, typeName = ".graftdiff.Scan"),
        field("scanner_id", 3, Type.TYPE_UINT64),
        field("number_of_rows", 4, Type.TYPE_UINT32),
        field("close_scanner", 5, Type.TYPE_BOOL)))
      .addMessageType(msg("QualifierValue",
        field("qualifier", 1, Type.TYPE_BYTES),
        field("value", 2, Type.TYPE_BYTES)))
      .addMessageType(msg("ColumnValue",
        field("family", 1, Type.TYPE_BYTES),
        field("qualifier_value", 2, Type.TYPE_MESSAGE, Label.LABEL_REPEATED,
          ".graftdiff.QualifierValue")))
      .addMessageType(msg("MutationProto",
        field("row", 1, Type.TYPE_BYTES),
        field("mutate_type", 2, Type.TYPE_UINT32),
        field("column_value", 3, Type.TYPE_MESSAGE, Label.LABEL_REPEATED,
          ".graftdiff.ColumnValue"),
        field("durability", 6, Type.TYPE_UINT32),
        field("associated_cell_count", 8, Type.TYPE_INT32)))
      .addMessageType(msg("Condition",
        field("row", 1, Type.TYPE_BYTES)))
      .addMessageType(msg("MutateRequest",
        field("region", 1, Type.TYPE_MESSAGE, typeName = ".graftdiff.RegionSpecifier"),
        field("mutation", 2, Type.TYPE_MESSAGE, typeName = ".graftdiff.MutationProto"),
        field("condition", 3, Type.TYPE_MESSAGE, typeName = ".graftdiff.Condition")))
      .addMessageType(msg("ScanResponse",
        field("cells_per_result", 1, Type.TYPE_UINT32, Label.LABEL_REPEATED),
        field("scanner_id", 2, Type.TYPE_UINT64),
        field("more_results", 3, Type.TYPE_BOOL)))
      .addMessageType(msg("ScanResponsePacked",
        field("cells_per_result", 1, Type.TYPE_UINT32, Label.LABEL_REPEATED, packed = true),
        field("scanner_id", 2, Type.TYPE_UINT64)))
      // response-side shapes (RPC.proto ResponseHeader/ExceptionResponse,
      // Client.proto Result/GetResponse/MultiResponse family)
      .addMessageType(msg("ExceptionResponse",
        field("exception_class_name", 1, Type.TYPE_STRING)))
      .addMessageType(msg("ResponseHeader",
        field("call_id", 1, Type.TYPE_UINT32),
        field("exception", 2, Type.TYPE_MESSAGE, typeName = ".graftdiff.ExceptionResponse")))
      .addMessageType(msg("Cell",
        field("row", 1, Type.TYPE_BYTES),
        field("value", 7, Type.TYPE_BYTES)))
      .addMessageType(msg("Result",
        field("cell", 1, Type.TYPE_MESSAGE, Label.LABEL_REPEATED, ".graftdiff.Cell"),
        field("associated_cell_count", 2, Type.TYPE_INT32)))
      .addMessageType(msg("GetResponse",
        field("result", 1, Type.TYPE_MESSAGE, typeName = ".graftdiff.Result")))
      .addMessageType(msg("NameBytesPair",
        field("name", 1, Type.TYPE_STRING),
        field("value", 2, Type.TYPE_BYTES)))
      .addMessageType(msg("ResultOrException",
        field("index", 1, Type.TYPE_UINT32),
        field("result", 2, Type.TYPE_MESSAGE, typeName = ".graftdiff.Result"),
        field("exception", 3, Type.TYPE_MESSAGE, typeName = ".graftdiff.NameBytesPair")))
      .addMessageType(msg("RegionActionResult",
        field("resultOrException", 1, Type.TYPE_MESSAGE, Label.LABEL_REPEATED,
          ".graftdiff.ResultOrException")))
      .addMessageType(msg("MultiResponse",
        field("regionActionResult", 1, Type.TYPE_MESSAGE, Label.LABEL_REPEATED,
          ".graftdiff.RegionActionResult")))
      .build()
    Descriptors.FileDescriptor.buildFrom(fdp, Array.empty[Descriptors.FileDescriptor])
  }

  private def desc(name: String): Descriptors.Descriptor = file.findMessageTypeByName(name)

  // --- seeded random message generation ----------------------------------

  private def randBytes(rnd: Random, max: Int = 12): ByteString = {
    val b = new Array[Byte](rnd.nextInt(max + 1))
    rnd.nextBytes(b)
    ByteString.copyFrom(b)
  }

  /** Random instance of `d`: each optional field present with p=0.7,
    * repeated fields get 0-3 occurrences, nested messages recurse.
    * `depth` caps recursion (the shapes here are acyclic anyway).
    */
  private def randomMessage(d: Descriptors.Descriptor, rnd: Random,
      depth: Int = 4): DynamicMessage = {
    val b = DynamicMessage.newBuilder(d)
    d.getFields.forEach { fd =>
      val occurrences =
        if (fd.isRepeated) rnd.nextInt(4)
        else if (rnd.nextDouble() < 0.7) 1 else 0
      (0 until occurrences).foreach { _ =>
        val v: AnyRef = fd.getType match {
          case Descriptors.FieldDescriptor.Type.UINT32 =>
            Int.box(rnd.nextInt(1 << 20))
          case Descriptors.FieldDescriptor.Type.INT32 =>
            // include negatives: int32 sign-extends to a 10-byte varint,
            // a canonical-encoding edge both sides must agree on
            Int.box(rnd.nextInt(2000) - 1000)
          case Descriptors.FieldDescriptor.Type.UINT64 =>
            Long.box(rnd.nextLong() & Long.MaxValue)
          case Descriptors.FieldDescriptor.Type.BOOL =>
            Boolean.box(rnd.nextBoolean())
          case Descriptors.FieldDescriptor.Type.STRING =>
            rnd.alphanumeric.take(rnd.nextInt(10)).mkString
          case Descriptors.FieldDescriptor.Type.BYTES =>
            randBytes(rnd)
          case Descriptors.FieldDescriptor.Type.MESSAGE if depth > 0 =>
            randomMessage(fd.getMessageType, rnd, depth - 1)
          case _ => null
        }
        if (v != null) { if (fd.isRepeated) b.addRepeatedField(fd, v) else b.setField(fd, v) }
      }
    }
    b.build()
  }

  // --- direction 1: ProtoWire.Writer ≡ protobuf serializer ---------------

  /** Re-encode a DynamicMessage's content through ProtoWire.Writer only
    * (nested messages recurse through ProtoWire too — no protobuf byte
    * is reused).
    */
  private def protoWireEncode(m: DynamicMessage): Array[Byte] = {
    val w = ProtoWire.writer
    m.getAllFields.forEach { (fd, value) =>
      def one(v: AnyRef): Unit = fd.getType match {
        case Descriptors.FieldDescriptor.Type.UINT32 =>
          w.varint(fd.getNumber, Integer.toUnsignedLong(v.asInstanceOf[Int]))
        case Descriptors.FieldDescriptor.Type.INT32 =>
          // int32 on the wire: sign-extended two's complement varint
          w.varint(fd.getNumber, v.asInstanceOf[Int].toLong)
        case Descriptors.FieldDescriptor.Type.UINT64 =>
          w.varint(fd.getNumber, v.asInstanceOf[Long])
        case Descriptors.FieldDescriptor.Type.BOOL =>
          w.bool(fd.getNumber, v.asInstanceOf[Boolean])
        case Descriptors.FieldDescriptor.Type.STRING =>
          w.string(fd.getNumber, v.asInstanceOf[String])
        case Descriptors.FieldDescriptor.Type.BYTES =>
          w.bytes(fd.getNumber, v.asInstanceOf[ByteString].toByteArray)
        case Descriptors.FieldDescriptor.Type.MESSAGE =>
          w.bytes(fd.getNumber, protoWireEncode(v.asInstanceOf[DynamicMessage]))
        case other => fail(s"unhandled type $other")
      }
      if (fd.isRepeated) value.asInstanceOf[java.util.List[AnyRef]].forEach(one(_))
      else one(value)
    }
    w.toBytes
  }

  // --- direction 2: FieldMap.parse ≡ protobuf content --------------------

  /** Assert the walked Msg carries exactly the DynamicMessage's fields:
    * same field-number set, same per-field occurrence lists, nested
    * messages compared recursively. (Packed repeated scalars are the
    * one legitimate shape difference and are asserted separately.)
    */
  private def assertWalkerMatches(m: DynamicMessage, walked: FieldMap.Msg): Unit = {
    val expectedNums = m.getAllFields.keySet.asScala.map(_.getNumber).toSet
    assert(walked.fields.keySet === expectedNums,
      s"walker saw fields ${walked.fields.keySet}, protobuf has $expectedNums")
    m.getAllFields.forEach { (fd, value) =>
      val vs: Seq[AnyRef] =
        if (fd.isRepeated) value.asInstanceOf[java.util.List[AnyRef]].asScala.toSeq
        else Seq(value)
      fd.getType match {
        case Descriptors.FieldDescriptor.Type.UINT32 =>
          assert(walked.varints(fd.getNumber) ===
            vs.map(v => Integer.toUnsignedLong(v.asInstanceOf[Int])).toVector)
        case Descriptors.FieldDescriptor.Type.INT32 =>
          assert(walked.varints(fd.getNumber) ===
            vs.map(_.asInstanceOf[Int].toLong).toVector)
        case Descriptors.FieldDescriptor.Type.UINT64 =>
          assert(walked.varints(fd.getNumber) === vs.map(_.asInstanceOf[Long]).toVector)
        case Descriptors.FieldDescriptor.Type.BOOL =>
          assert(walked.varints(fd.getNumber) ===
            vs.map(v => if (v.asInstanceOf[Boolean]) 1L else 0L).toVector)
        case Descriptors.FieldDescriptor.Type.STRING =>
          assert(walked.bytesList(fd.getNumber).map(new String(_, "UTF-8")) ===
            vs.map(_.asInstanceOf[String]).toVector)
        case Descriptors.FieldDescriptor.Type.BYTES =>
          val got = walked.bytesList(fd.getNumber)
          assert(got.length === vs.length)
          got.zip(vs).foreach { case (g, e) =>
            assert(g.sameElements(e.asInstanceOf[ByteString].toByteArray)) }
        case Descriptors.FieldDescriptor.Type.MESSAGE =>
          val got = walked.msgs(fd.getNumber)
          assert(got.length === vs.length)
          got.zip(vs).foreach { case (g, e) =>
            assertWalkerMatches(e.asInstanceOf[DynamicMessage], g) }
        case other => fail(s"unhandled type $other")
      }
    }
  }

  private val shapes = Seq("RequestHeader", "RegionSpecifier", "Get",
    "GetRequest", "Scan", "ScanRequest", "MutationProto", "MutateRequest",
    "ScanResponse", "ResponseHeader", "GetResponse", "MultiResponse")

  test("writer: ProtoWire re-encoding is byte-identical to protobuf toByteArray " +
      "(120 random messages x 12 shapes)") {
    val rnd = new Random(0xD1FF1)
    for (shape <- shapes; i <- 1 to 120) {
      val m = randomMessage(desc(shape), rnd)
      val ours = protoWireEncode(m)
      val theirs = m.toByteArray
      assert(ours.sameElements(theirs),
        s"$shape #$i: ProtoWire ${ours.length}B != protobuf ${theirs.length}B\n$m")
    }
  }

  test("walker: FieldMap.parse over protobuf bytes recovers exactly the " +
      "protobuf content (120 random messages x 12 shapes)") {
    val rnd = new Random(0x3A1C)
    for (shape <- shapes; i <- 1 to 120) {
      val m = randomMessage(desc(shape), rnd)
      withClue(s"$shape #$i:\n$m\n") {
        assertWalkerMatches(m, FieldMap.parse(m.toByteArray))
      }
    }
  }

  test("packed repeated uint32 (ScanResponse.cells_per_result): walker and " +
      "HbaseRpc-style accessor agree with protobuf for both encodings") {
    val rnd = new Random(0x9ACD)
    for (i <- 1 to 100) {
      val counts = Vector.fill(rnd.nextInt(6))(rnd.nextInt(1 << 16))
      def build(shape: String): DynamicMessage = {
        val d = desc(shape)
        val b = DynamicMessage.newBuilder(d)
        val fd = d.findFieldByNumber(1)
        counts.foreach(c => b.addRepeatedField(fd, Int.box(c)))
        b.setField(d.findFieldByNumber(2), Long.box(rnd.nextLong() & Long.MaxValue))
        b.build()
      }
      val unpacked = build("ScanResponse")
      val packed = build("ScanResponsePacked")
      // protobuf parses its own packed bytes back to the same list
      assert(DynamicMessage.parseFrom(desc("ScanResponsePacked"), packed.toByteArray)
        .getField(desc("ScanResponsePacked").findFieldByNumber(1))
        .asInstanceOf[java.util.List[Integer]].asScala.map(_.toInt).toVector === counts)
      // our walker, through the same both-encodings accessor HbaseRpc
      // uses for cells_per_result, agrees on each
      def walkCounts(bytes: Array[Byte]): Vector[Long] = {
        val out = Vector.newBuilder[Long]
        new ProtoWire.Slice(bytes, 0, bytes.length).foreachVarint(1)(out += _)
        out.result()
      }
      assert(walkCounts(unpacked.toByteArray) === counts.map(_.toLong))
      assert(walkCounts(packed.toByteArray) === counts.map(_.toLong))
    }
  }

  // --- direction 3: HbaseRpc request decode on protobuf-canonical frames --

  /** Frame = writeDelimitedTo(header) ++ writeDelimitedTo(param), exactly
    * the layout HbaseRpc.parseRequest consumes (reference hbase.clj:
    * 208-245 uses parseDelimitedFrom on the same stream).
    */
  private def frame(header: DynamicMessage, param: Option[DynamicMessage]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    header.writeDelimitedTo(out)
    param.foreach(_.writeDelimitedTo(out))
    out.toByteArray
  }

  private def header(callId: Int, method: String, hasParam: Boolean): DynamicMessage = {
    val d = desc("RequestHeader")
    DynamicMessage.newBuilder(d)
      .setField(d.findFieldByNumber(1), Int.box(callId))
      .setField(d.findFieldByNumber(3), method)
      .setField(d.findFieldByNumber(4), Boolean.box(hasParam))
      .build()
  }

  private def str(m: DynamicMessage, num: Int): Option[Array[Byte]] = {
    val fd = m.getDescriptorForType.findFieldByNumber(num)
    if (m.hasField(fd)) Some(m.getField(fd).asInstanceOf[ByteString].toByteArray) else None
  }

  test("HbaseRpc.parseRequest decodes 150 protobuf-built GetRequest frames " +
      "to the getters' values") {
    val rnd = new Random(0x6E7)
    for (i <- 1 to 150) {
      val param = randomMessage(desc("GetRequest"), rnd)
      val callId = rnd.nextInt(1 << 16)
      val info = HbaseRpc.parseRequest(
        new ProtoWire.Reader(frame(header(callId, "Get", hasParam = true), Some(param))))
      withClue(s"#$i:\n$param\n") {
        assert(info.method === "get")
        assert(info.callId === callId)
        // row: the protobuf getter's bytes through the same printable form
        val getFd = desc("GetRequest").findFieldByNumber(2)
        val get = if (param.hasField(getFd))
          Some(param.getField(getFd).asInstanceOf[DynamicMessage]) else None
        assert(info.row === get.flatMap(str(_, 1)).map(HbaseRpc.toStringBinary))
        // cells = total qualifier occurrences across the Get's columns,
        // counted via protobuf reflection (independent of the walker)
        val expectedCells = get.toSeq.flatMap { g =>
          val colFd = desc("Get").findFieldByNumber(2)
          g.getField(colFd).asInstanceOf[java.util.List[DynamicMessage]].asScala
        }.map { col =>
          col.getField(desc("Column").findFieldByNumber(2))
            .asInstanceOf[java.util.List[ByteString]].size
        }.sum
        assert(info.cells === Some(expectedCells))
      }
    }
  }

  test("HbaseRpc.parseRequest decodes 150 protobuf-built ScanRequest frames: " +
      "method refinement + row/stoprow/caching/scanner match the getters") {
    val rnd = new Random(0x5CA1)
    for (i <- 1 to 150) {
      val param = randomMessage(desc("ScanRequest"), rnd)
      val d = desc("ScanRequest")
      val callId = rnd.nextInt(1 << 16)
      val info = HbaseRpc.parseRequest(
        new ProtoWire.Reader(frame(header(callId, "Scan", hasParam = true), Some(param))))
      val open = !param.hasField(d.findFieldByNumber(3))
      val close = param.hasField(d.findFieldByNumber(5)) &&
        param.getField(d.findFieldByNumber(5)).asInstanceOf[Boolean]
      val expectedMethod =
        if (open && close) "small-scan"
        else if (open) "open-scanner"
        else if (close) "close-scanner"
        else "next-rows"
      withClue(s"#$i:\n$param\n") {
        assert(info.method === expectedMethod)
        assert(info.callId === callId)
        if (open) {
          val scanFd = d.findFieldByNumber(2)
          val scan = if (param.hasField(scanFd))
            Some(param.getField(scanFd).asInstanceOf[DynamicMessage]) else None
          assert(info.row ===
            scan.flatMap(str(_, 3)).map(HbaseRpc.toStringBinary).orElse(Some("")))
          assert(info.stoprow ===
            scan.flatMap(str(_, 4)).map(HbaseRpc.toStringBinary).orElse(Some("")))
          val cachingFd = desc("Scan").findFieldByNumber(17)
          assert(info.caching === Some(scan.filter(_.hasField(cachingFd))
            .map(_.getField(cachingFd).asInstanceOf[Int]).getOrElse(0)))
        } else {
          assert(info.scanner ===
            Some(param.getField(d.findFieldByNumber(3)).asInstanceOf[Long]))
        }
      }
    }
  }

  test("HbaseRpc.parseRequest decodes 150 protobuf-built MutateRequest frames: " +
      "mutation type/durability/cells match the getters") {
    val rnd = new Random(0xAB07)
    val types = Map(0 -> "append", 1 -> "increment", 2 -> "put", 3 -> "delete")
    val durs = Map(0 -> "use_default", 1 -> "skip_wal", 2 -> "async_wal",
      3 -> "sync_wal", 4 -> "fsync_wal")
    for (i <- 1 to 150) {
      val d = desc("MutateRequest")
      val md = desc("MutationProto")
      // constrain the enum-modeled fields to valid values, cells count
      // to non-negative (HBase never sends negatives there)
      val base = randomMessage(d, rnd)
      val b = base.toBuilder
      val mutFd = d.findFieldByNumber(2)
      if (base.hasField(mutFd)) {
        val mb = base.getField(mutFd).asInstanceOf[DynamicMessage].toBuilder
        mb.setField(md.findFieldByNumber(2), Int.box(rnd.nextInt(4)))
        mb.setField(md.findFieldByNumber(6), Int.box(rnd.nextInt(5)))
        mb.setField(md.findFieldByNumber(8), Int.box(rnd.nextInt(50)))
        b.setField(mutFd, mb.build())
      }
      val param = b.build()
      val callId = rnd.nextInt(1 << 16)
      val info = HbaseRpc.parseRequest(
        new ProtoWire.Reader(frame(header(callId, "Mutate", hasParam = true), Some(param))))
      withClue(s"#$i:\n$param\n") {
        assert(info.callId === callId)
        val hasCondition = param.hasField(d.findFieldByNumber(3))
        if (param.hasField(mutFd)) {
          val mut = param.getField(mutFd).asInstanceOf[DynamicMessage]
          val mtype = types(mut.getField(md.findFieldByNumber(2)).asInstanceOf[Int])
          assert(info.method === (if (hasCondition) s"check-and-$mtype" else mtype))
          assert(info.durability ===
            Some(durs(mut.getField(md.findFieldByNumber(6)).asInstanceOf[Int])))
          val qvCount = mut.getField(md.findFieldByNumber(3))
            .asInstanceOf[java.util.List[DynamicMessage]].asScala.map { cv =>
              cv.getField(desc("ColumnValue").findFieldByNumber(2))
                .asInstanceOf[java.util.List[DynamicMessage]].size
            }.sum
          assert(info.cells === Some(
            mut.getField(md.findFieldByNumber(8)).asInstanceOf[Int] + qvCount))
          assert(info.row === str(mut, 1).map(HbaseRpc.toStringBinary))
        } else {
          // absent mutation: proto2 defaults — APPEND, use_default
          assert(info.method === (if (hasCondition) "check-and-append" else "append"))
        }
      }
    }
  }

  // --- direction 3b: HbaseRpc response decode on protobuf-canonical frames

  private def respHeader(callId: Int, excClass: Option[String]): DynamicMessage = {
    val d = desc("ResponseHeader")
    val b = DynamicMessage.newBuilder(d)
      .setField(d.findFieldByNumber(1), Int.box(callId))
    excClass.foreach { c =>
      val ed = desc("ExceptionResponse")
      b.setField(d.findFieldByNumber(2),
        DynamicMessage.newBuilder(ed).setField(ed.findFieldByNumber(1), c).build())
    }
    b.build()
  }

  /** resultCells re-derived via protobuf reflection, independent of the
    * walker: associated_cell_count (0 when absent) + repeated cell count.
    */
  private def cellsOf(result: DynamicMessage): Int = {
    val rd = desc("Result")
    val assoc = if (result.hasField(rd.findFieldByNumber(2)))
      result.getField(rd.findFieldByNumber(2)).asInstanceOf[Int] else 0
    assoc + result.getField(rd.findFieldByNumber(1))
      .asInstanceOf[java.util.List[DynamicMessage]].size
  }

  test("HbaseRpc.parseResponse decodes 150 protobuf-built GetResponse frames: " +
      "cells and exception class match the getters; header-only frames keep the error") {
    val rnd = new Random(0x6E7B)
    for (i <- 1 to 150) {
      val callId = rnd.nextInt(1 << 16)
      val excClass = if (rnd.nextDouble() < 0.3)
        Some("org.apache.hadoop.hbase.NotServingRegionException") else None
      val headerOnly = excClass.isDefined && rnd.nextBoolean()
      val body = if (headerOnly) None else Some(randomMessage(desc("GetResponse"), rnd))
      val req = HbaseRpc.RpcInfo("get", callId, table = Some("t1"), row = Some("r"))
      val info = HbaseRpc.parseResponse(
        new ProtoWire.Reader(frame(respHeader(callId, excClass), body)),
        id => if (id == callId) Some(req) else None)
      withClue(s"#$i headerOnly=$headerOnly:\n${body.getOrElse("")}\n") {
        assert(info.method === "get")
        assert(info.callId === callId)
        assert(info.error === excClass)
        assert(info.table === Some("t1")) // request context carried through
        body match {
          case None => assert(info.cells === None)
          case Some(b) =>
            val rFd = desc("GetResponse").findFieldByNumber(1)
            val expected = if (b.hasField(rFd))
              cellsOf(b.getField(rFd).asInstanceOf[DynamicMessage]) else 0
            assert(info.cells === Some(expected))
        }
      }
    }
  }

  test("HbaseRpc.parseResponse decodes 150 protobuf-built ScanResponse frames " +
      "(both packed and unpacked cells_per_result) to the getters' sums") {
    val rnd = new Random(0x5CA2)
    for (i <- 1 to 150) {
      val callId = rnd.nextInt(1 << 16)
      val shape = if (rnd.nextBoolean()) "ScanResponse" else "ScanResponsePacked"
      val d = desc(shape)
      val counts = Vector.fill(rnd.nextInt(6))(rnd.nextInt(1 << 12))
      val b = DynamicMessage.newBuilder(d)
      counts.foreach(c => b.addRepeatedField(d.findFieldByNumber(1), Int.box(c)))
      val scannerId = rnd.nextLong() & Long.MaxValue
      b.setField(d.findFieldByNumber(2), Long.box(scannerId))
      val req = HbaseRpc.RpcInfo("next-rows", callId, scanner = Some(scannerId))
      val info = HbaseRpc.parseResponse(
        new ProtoWire.Reader(frame(respHeader(callId, None), Some(b.build()))),
        id => if (id == callId) Some(req) else None)
      withClue(s"#$i $shape counts=$counts:\n") {
        assert(info.method === "next-rows")
        assert(info.scanner === Some(scannerId))
        assert(info.cells === Some(counts.sum))
      }
    }
  }

  test("HbaseRpc.parseResponse decodes 120 protobuf-built MultiResponse frames: " +
      "per-action results zip, cells sum, exception names match the getters") {
    val rnd = new Random(0xAB08)
    for (i <- 1 to 120) {
      val callId = rnd.nextInt(1 << 16)
      // random multi shape: 0-3 region-action results x 0-3 ROEs each,
      // each ROE carrying a Result, an exception NameBytesPair, both
      // (protobuf allows it; HbaseRpc reads both), or neither
      val roeD = desc("ResultOrException")
      val rarD = desc("RegionActionResult")
      val mrD = desc("MultiResponse")
      val nbpD = desc("NameBytesPair")
      var expectedPer = Vector.empty[(Option[Int], Option[String])]
      val mr = DynamicMessage.newBuilder(mrD)
      (0 until rnd.nextInt(4)).foreach { _ =>
        val rar = DynamicMessage.newBuilder(rarD)
        (0 until rnd.nextInt(4)).foreach { _ =>
          val roe = DynamicMessage.newBuilder(roeD)
          val withResult = rnd.nextBoolean()
          val withExc = rnd.nextDouble() < 0.4
          var cells: Option[Int] = None
          var exc: Option[String] = None
          if (withResult) {
            val res = randomMessage(desc("Result"), rnd)
            roe.setField(roeD.findFieldByNumber(2), res)
            cells = Some(cellsOf(res))
          }
          if (withExc) {
            val name = s"org.example.Exc${rnd.nextInt(10)}"
            roe.setField(roeD.findFieldByNumber(3), DynamicMessage.newBuilder(nbpD)
              .setField(nbpD.findFieldByNumber(1), name).build())
            exc = Some(name)
          }
          expectedPer :+= ((cells, exc))
          rar.addRepeatedField(rarD.findFieldByNumber(1), roe.build())
        }
        mr.addRepeatedField(mrD.findFieldByNumber(1), rar.build())
      }
      // request context: one action per expected ROE (the zip source)
      val actions = expectedPer.indices.map(j =>
        HbaseRpc.RpcAction("put", Some(s"t$j"), Some(s"r$j"), Some(s"row$j"),
          cells = Some(99), durability = Some("sync_wal")))
      val req = HbaseRpc.RpcInfo("multi", callId, actions = actions)
      val info = HbaseRpc.parseResponse(
        new ProtoWire.Reader(frame(respHeader(callId, None), Some(mr.build()))),
        id => if (id == callId) Some(req) else None)
      withClue(s"#$i expected=$expectedPer:\n") {
        assert(info.method === "multi")
        assert(info.cells === Some(expectedPer.flatMap(_._1).sum))
        assert(info.results.length === expectedPer.length)
        info.results.zip(expectedPer).zipWithIndex.foreach {
          case ((got, (cells, exc)), j) =>
            assert(got.cells === cells,
              s"action $j cells from the RESPONSE side only")
            assert(got.error === exc)
            assert(got.table === Some(s"t$j")) // request context zipped in
            assert(got.method === "put")
        }
      }
    }
  }

  test("HbaseRpc.parseResponse multi with MISALIGNED action/ROE counts: " +
      "positional zip truncates to the shorter list, cells still sum every ROE " +
      "(the reference's `map merge actions results` semantics)") {
    // reference hbase.clj:49-69: results = (map merge actions results) —
    // positional, index field ignored, truncating to the SHORTER side
    // (its own TODO notes checked mutations can return an empty results
    // list) — and :cells reduces over ALL ROEs regardless of the zip.
    // The aligned-count fuzz above can never exercise this; pin it here.
    val roeD = desc("ResultOrException")
    val rarD = desc("RegionActionResult")
    val mrD = desc("MultiResponse")
    def multiBody(cellCounts: Seq[Int]): DynamicMessage = {
      val rar = DynamicMessage.newBuilder(rarD)
      cellCounts.foreach { n =>
        val rd = desc("Result")
        val res = DynamicMessage.newBuilder(rd)
          .setField(rd.findFieldByNumber(2), Int.box(n)).build()
        rar.addRepeatedField(rarD.findFieldByNumber(1),
          DynamicMessage.newBuilder(roeD)
            .setField(roeD.findFieldByNumber(2), res).build())
      }
      DynamicMessage.newBuilder(mrD)
        .addRepeatedField(mrD.findFieldByNumber(1), rar.build()).build()
    }
    def actions(n: Int): Seq[HbaseRpc.RpcAction] = (0 until n).map(j =>
      HbaseRpc.RpcAction("put", Some(s"t$j"), None, None, Some(99), None))
    def decode(nActions: Int, cellCounts: Seq[Int]): HbaseRpc.RpcInfo =
      HbaseRpc.parseResponse(
        new ProtoWire.Reader(frame(respHeader(7, None), Some(multiBody(cellCounts)))),
        id => Some(HbaseRpc.RpcInfo("multi", 7, actions = actions(nActions))))

    // MORE actions than ROEs (the reference's checked-mutation case):
    // zip truncates to the 2 ROEs; cells sum both
    val fewer = decode(nActions = 4, cellCounts = Seq(3, 5))
    assert(fewer.results.length === 2)
    assert(fewer.results.map(_.cells) === Seq(Some(3), Some(5)))
    assert(fewer.results.map(_.table) === Seq(Some("t0"), Some("t1")))
    assert(fewer.cells === Some(8))
    // MORE ROEs than actions: zip truncates to the 1 action, but cells
    // still sum EVERY ROE including the unmatched ones
    val more = decode(nActions = 1, cellCounts = Seq(2, 4, 6))
    assert(more.results.length === 1)
    assert(more.results.head.cells === Some(2))
    assert(more.cells === Some(12))
    // empty results list against a non-empty action list
    val empty = decode(nActions = 3, cellCounts = Nil)
    assert(empty.results.isEmpty)
    assert(empty.cells === Some(0))
  }

  test("delimited framing: ProtoWire readDelimited/toDelimitedBytes round-trip " +
      "protobuf writeDelimitedTo/parseDelimitedFrom") {
    val rnd = new Random(0xDE11)
    for (_ <- 1 to 100) {
      val m = randomMessage(desc("ScanRequest"), rnd)
      // protobuf-delimited -> ProtoWire walker
      val out = new java.io.ByteArrayOutputStream()
      m.writeDelimitedTo(out)
      assertWalkerMatches(m,
        FieldMap.parse(new ProtoWire.Reader(out.toByteArray).readDelimited()))
      // ProtoWire-delimited -> protobuf parseDelimitedFrom: the body is
      // a full ProtoWire re-encoding, the length prefix a ProtoWire varint
      val body = protoWireEncode(m)
      val prefix = ProtoWire.writer.writeRawVarint(body.length.toLong).toBytes
      val builder = DynamicMessage.newBuilder(desc("ScanRequest"))
      assert(builder.mergeDelimitedFrom(
        new java.io.ByteArrayInputStream(prefix ++ body)))
      assert(builder.build() === m)
    }
  }
}
