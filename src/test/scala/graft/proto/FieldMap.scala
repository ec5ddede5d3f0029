package graft.proto

import scala.collection.mutable.ArrayBuffer

import ProtoWire.{FieldCursor, Reader, WtFixed64, WtLenDelim, WtVarint}

/** The copying protobuf read form that [[ProtoWire.Slice]] replaced: a
  * message walked by the shipped [[ProtoWire.FieldCursor]] into a
  * field-number map, every length-delimited value copied out. Kept as the
  * oracle side of the differential specs ([[LegacyHbaseRpc]], the
  * `tf.train.Example` decode in `TfExampleDifferentialSpec`, and
  * `ProtoDifferentialSpec`'s walker check against protobuf-java).
  */
object FieldMap {

  /** One decoded field occurrence. */
  sealed trait Value
  final case class VarintV(v: Long) extends Value
  final case class Fixed32V(v: Int) extends Value
  final case class Fixed64V(v: Long) extends Value
  final case class BytesV(bytes: Array[Byte]) extends Value

  /** A fully-walked message: field number -> values in encoding order.
    * Accessors mirror generated-code getters loosely (`getFoo`,
    * `hasFoo`, `getFooList`).
    */
  final class Msg(val fields: Map[Int, Vector[Value]]) {
    def has(f: Int): Boolean = fields.contains(f)
    // Scalar accessors take the LAST occurrence: proto2/proto3 semantics
    // (and the reference's generated parsers) are last-wins for duplicated
    // non-repeated fields.
    def varint(f: Int): Option[Long] =
      fields.get(f).flatMap(_.collect { case VarintV(v) => v }.lastOption)
    def varintOr(f: Int, dflt: Long): Long = varint(f).getOrElse(dflt)
    def bool(f: Int): Boolean = varintOr(f, 0L) != 0L
    def varints(f: Int): Vector[Long] =
      fields.getOrElse(f, Vector.empty).collect { case VarintV(v) => v }
    def bytes(f: Int): Option[Array[Byte]] =
      fields.get(f).flatMap(_.collect { case BytesV(b) => b }.lastOption)
    def bytesList(f: Int): Vector[Array[Byte]] =
      fields.getOrElse(f, Vector.empty).collect { case BytesV(b) => b }
    def string(f: Int): Option[String] =
      bytes(f).map(b => new String(b, java.nio.charset.StandardCharsets.UTF_8))
    def msg(f: Int): Option[Msg] = bytes(f).map(parse)
    def msgs(f: Int): Vector[Msg] = bytesList(f).map(parse)
  }

  /** Walks every field of the message slice into a [[Msg]], copying each
    * length-delimited value. Unknown fields are retained (we dispatch on
    * field numbers).
    */
  def parse(r: Reader): Msg = {
    val c = new FieldCursor(r.buf, r.pos, r.end)
    val acc = scala.collection.mutable.LinkedHashMap.empty[Int, ArrayBuffer[Value]]
    while (c.next()) {
      val v: Value = c.wireType match {
        case WtVarint   => VarintV(c.value)
        case WtFixed64  => Fixed64V(c.value)
        case WtLenDelim => BytesV(java.util.Arrays.copyOfRange(c.buf, c.valueStart, c.pos))
        case _          => Fixed32V(c.value.toInt)
      }
      acc.getOrElseUpdate(c.field, ArrayBuffer.empty) += v
    }
    r.pos = c.pos
    new Msg(acc.view.mapValues(_.toVector).toMap)
  }

  def parse(bytes: Array[Byte]): Msg = parse(new Reader(bytes))
}
