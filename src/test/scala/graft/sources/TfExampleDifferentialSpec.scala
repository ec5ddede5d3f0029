package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.proto.{FieldMap, ProtoWire}
import TfRecord.{BytesFeature, Feature, FloatFeature, Int64Feature}

/** The `tf.train.Example` decode that [[TfRecord.decodeExample]]'s in-place
  * [[ProtoWire.Slice]] read replaced: the Example walked into
  * [[FieldMap]] field maps, every nested message copied out. Kept as the
  * differential oracle of [[TfExampleDifferentialSpec]].
  */
object LegacyTfExample {

  def decodeExample(bytes: Array[Byte]): Map[String, Feature] = {
    val example = FieldMap.parse(bytes)
    example.msg(1).map { features =>
      features.msgs(1).flatMap { entry =>
        for {
          name <- entry.string(1)
          featureMsg <- entry.msg(2)
        } yield name -> decodeFeature(featureMsg)
      }.toMap
    }.getOrElse(Map.empty)
  }

  private def decodeFeature(m: FieldMap.Msg): Feature =
    if (m.has(1)) BytesFeature(m.msg(1).map(_.bytesList(1)).getOrElse(Vector.empty))
    else if (m.has(2)) FloatFeature(m.msg(2).map(packedFloats).getOrElse(Vector.empty))
    else Int64Feature(m.msg(3).map(packedInt64s).getOrElse(Vector.empty))

  /** FloatList values: packed (one BytesV of LE fixed32s) or unpacked
    * (repeated Fixed32V), possibly mixed — the protobuf merge rule.
    */
  private def packedFloats(list: FieldMap.Msg): Vector[Float] =
    list.fields.getOrElse(1, Vector.empty).flatMap {
      case FieldMap.Fixed32V(v) => Vector(java.lang.Float.intBitsToFloat(v))
      case FieldMap.BytesV(b) =>
        val buf = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
        Vector.fill(b.length / 4)(buf.getFloat)
      case _ => Vector.empty
    }

  private def packedInt64s(list: FieldMap.Msg): Vector[Long] =
    list.fields.getOrElse(1, Vector.empty).flatMap {
      case FieldMap.VarintV(v) => Vector(v)
      case FieldMap.BytesV(b) =>
        val r = new ProtoWire.Reader(b)
        val out = Vector.newBuilder[Long]
        while (r.hasRemaining) out += r.readVarint()
        out.result()
      case _ => Vector.empty
    }
}

/** [[TfRecord.decodeExample]] ≡ [[LegacyTfExample.decodeExample]] over
  * generated Examples and every truncation of each: equal feature maps, or
  * the same exception from both.
  */
class TfExampleDifferentialSpec extends AnyFunSuite {

  private def w = new ProtoWire.Writer

  /** A feature map with comparable values: byte arrays as sequences,
    * floats as raw bits (NaN payloads and -0.0 included).
    */
  private def comparable(m: Map[String, Feature]): Map[String, Any] = m.map {
    case (k, BytesFeature(vs)) => k -> ("bytes", vs.map(_.toSeq))
    case (k, FloatFeature(vs)) => k -> ("float", vs.map(java.lang.Float.floatToRawIntBits))
    case (k, Int64Feature(vs)) => k -> ("int64", vs)
  }

  private def outcome(decode: Array[Byte] => Map[String, Feature],
      bytes: Array[Byte]): Either[Class[_], Map[String, Any]] =
    try Right(comparable(decode(bytes)))
    catch { case e: RuntimeException => Left(e.getClass) }

  private def assertSame(bytes: Array[Byte], clue: => String): Either[Class[_], Map[String, Any]] = {
    val ours = outcome(TfRecord.decodeExample, bytes)
    assert(ours === outcome(LegacyTfExample.decodeExample, bytes), clue)
    ours
  }

  // --- generators ---------------------------------------------------------

  private def packedFloats(rnd: Random, n: Int, ragged: Boolean): Array[Byte] = {
    val buf = ByteBuffer.allocate(4 * n).order(ByteOrder.LITTLE_ENDIAN)
    (0 until n).foreach(_ => buf.putInt(rnd.nextInt()))
    val tail = if (ragged) Array.fill(1 + rnd.nextInt(3))(rnd.nextInt().toByte) else Array.emptyByteArray
    buf.array() ++ tail
  }

  private def packedVarints(rnd: Random, n: Int): Array[Byte] = {
    val out = w
    (0 until n).foreach(_ => out.writeRawVarint(rnd.nextLong() >> rnd.nextInt(64)))
    out.toBytes
  }

  /** One list message for `kind` (1 bytes, 2 float, 3 int64), its values
    * written packed, unpacked or mixed, with an occasional unknown field.
    */
  private def list(rnd: Random, kind: Int): ProtoWire.Writer = {
    val l = w
    (0 until rnd.nextInt(4)).foreach { _ =>
      kind match {
        case 1 => l.bytes(1, Array.fill(rnd.nextInt(6))(rnd.nextInt().toByte))
        case 2 =>
          if (rnd.nextBoolean()) l.fixed32(1, rnd.nextInt())
          else l.bytes(1, packedFloats(rnd, rnd.nextInt(4), ragged = rnd.nextInt(4) == 0))
        case _ =>
          if (rnd.nextBoolean()) l.varint(1, rnd.nextLong())
          else l.bytes(1, packedVarints(rnd, rnd.nextInt(4)))
      }
    }
    if (rnd.nextInt(8) == 0) l.varint(2 + rnd.nextInt(3), rnd.nextInt(1000).toLong)
    l
  }

  private val Names = Vector("a", "doc_id", "text", "vec", "é")

  /** A map entry: key and value each present most of the time; names
    * drawn from a small pool so duplicates are common; a Feature rarely
    * carries two oneof members.
    */
  private def entry(rnd: Random): ProtoWire.Writer = {
    val e = w
    if (rnd.nextInt(6) != 0) e.string(1, Names(rnd.nextInt(Names.length)))
    if (rnd.nextInt(6) != 0) {
      val feature = w
      val kind = 1 + rnd.nextInt(3)
      feature.msg(kind, list(rnd, kind))
      if (rnd.nextInt(10) == 0) {
        val other = 1 + rnd.nextInt(3)
        feature.msg(other, list(rnd, other))
      }
      e.msg(2, feature)
    }
    e
  }

  private def example(rnd: Random): Array[Byte] = {
    val ex = w
    rnd.nextInt(10) match {
      case 0 => // absent features
      case 1 => ex.varint(2, 7L) // only an unknown field
      case _ =>
        val features = w
        (0 until rnd.nextInt(5)).foreach(_ => features.msg(1, entry(rnd)))
        ex.msg(1, features)
    }
    ex.toBytes
  }

  // --- specs --------------------------------------------------------------

  test("generated Examples and every truncation decode the same as the field-map walk") {
    val rnd = new Random(0x7F3E)
    var decoded, threw = 0
    for (i <- 1 to 400) {
      val bytes = example(rnd)
      for (cut <- 0 to bytes.length)
        assertSame(bytes.take(cut), s"example #$i cut at $cut of ${bytes.length}") match {
          case Right(_) => decoded += 1
          case Left(_)  => threw += 1
        }
    }
    // both branches exercised: whole Examples decode, most cuts throw
    assert(decoded > 400 && threw > 1000, s"decoded $decoded, threw $threw")
  }

  test("Examples with one byte flipped decode the same as the field-map walk") {
    val rnd = new Random(0xF11B)
    for (i <- 1 to 200) {
      val bytes = example(rnd)
      if (bytes.nonEmpty) {
        val hit = bytes.clone()
        val at = rnd.nextInt(hit.length)
        hit(at) = (hit(at) ^ (1 << rnd.nextInt(8))).toByte
        assertSame(hit, s"example #$i flipped at $at")
      }
    }
  }

  test("encoding variants: packed, unpacked and mixed lists; ragged packed floats") {
    val bits = ByteBuffer.allocate(10).order(ByteOrder.LITTLE_ENDIAN)
      .putFloat(1.5f).putFloat(-2.0f).put(Array[Byte](9, 9)).array()
    val floats = w.fixed32(1, java.lang.Float.floatToIntBits(0.25f)).bytes(1, bits)
    val ints = w.bytes(1, w.writeRawVarint(3L).writeRawVarint(-1L).toBytes).varint(1, 9L)
    val blobs = w.bytes(1, Array[Byte](1, 2)).bytes(1, Array.emptyByteArray)
    def feature(name: String, kind: Int, l: ProtoWire.Writer) =
      w.string(1, name).msg(2, w.msg(kind, l))
    val bytes = w.msg(1, w.msg(1, feature("f", 2, floats)).msg(1, feature("i", 3, ints))
      .msg(1, feature("b", 1, blobs))).toBytes
    val back = assertSame(bytes, "variants")
    assert(back === Right(Map(
      "f" -> ("float", Vector(0.25f, 1.5f, -2.0f).map(java.lang.Float.floatToRawIntBits)),
      "i" -> ("int64", Vector(3L, -1L, 9L)),
      "b" -> ("bytes", Vector(Seq[Byte](1, 2), Seq.empty[Byte])))))
  }

  test("duplicate names keep the last entry; entries missing a key or a value are skipped") {
    def int64(name: Option[String], v: Option[Long]) = {
      val e = w
      name.foreach(e.string(1, _))
      v.foreach(x => e.msg(2, w.msg(3, w.varint(1, x))))
      e
    }
    val bytes = w.msg(1, w.msg(1, int64(Some("a"), Some(1L))).msg(1, int64(None, Some(2L)))
      .msg(1, int64(Some("b"), None)).msg(1, int64(Some("a"), Some(3L)))).toBytes
    assert(assertSame(bytes, "duplicates") === Right(Map("a" -> ("int64", Vector(3L)))))
  }

  test("absent features give an empty map") {
    for (bytes <- Seq(Array.emptyByteArray, w.varint(2, 1L).toBytes, w.msg(1, w).toBytes))
      assert(assertSame(bytes, bytes.toSeq.toString) === Right(Map.empty))
  }

  test("field-map oracle keeps every occurrence with its wire type") {
    val m = FieldMap.parse(w.varint(1, 7L).fixed32(2, -5).fixed64(3, Long.MinValue)
      .string(4, "x").varint(1, 8L).toBytes)
    assert(m.fields(1) === Vector(FieldMap.VarintV(7L), FieldMap.VarintV(8L)))
    assert(m.fields(2) === Vector(FieldMap.Fixed32V(-5)))
    assert(m.fields(3) === Vector(FieldMap.Fixed64V(Long.MinValue)))
    assert(m.string(4) === Some("x"))
  }
}
