package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, InputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.util.zip.CRC32C

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.proto.ProtoWire

/** Zero-dep TFRecord source/sink — the framed-record format training
  * pipelines feed to data loaders (TensorFlow's record_writer.cc framing,
  * a public spec). A curation engine that can't EMIT the format the
  * trainer reads leaves the last pipeline step to another system, so this
  * sits next to WARC (crawl side) as the training-side interchange.
  *
  * Framing per record (all little-endian):
  *   uint64 length | uint32 masked_crc32c(length) |
  *   byte data[length] | uint32 masked_crc32c(data)
  * with masked_crc = rotr15(crc32c) + 0xa282ead8 — the mask exists so a
  * CRC stored next to its own data doesn't checksum to a fixed point.
  * JDK 9+ ships CRC32C (java.util.zip), so the codec stays dependency-free.
  *
  * Payload convention: `tf.train.Example` protobuf — a string-keyed map of
  * bytes/float/int64 lists — read in place with the same zero-dep
  * [[ProtoWire.Slice]] the HBase RPC decoder uses. The reader accepts
  * both packed and unpacked repeated encodings (protobuf parsers must);
  * the writer emits packed, matching protoc.
  *
  * Scale posture: one file = one task streamed through [[FileRecords]]
  * (the pcap/WARC ingest shape — framing is sequential, files are the parallel
  * unit; a training corpus is thousands of shards). Hostile-input
  * hardened: a corrupt length, failed CRC, or truncated record ends the
  * file's iteration instead of throwing or over-allocating.
  */
object TfRecord {

  /** Feature value in a tf.train.Example (the public oneof). */
  sealed trait Feature
  final case class BytesFeature(values: Vector[Array[Byte]]) extends Feature
  final case class FloatFeature(values: Vector[Float]) extends Feature
  final case class Int64Feature(values: Vector[Long]) extends Feature

  object Feature {
    def of(s: String): Feature =
      BytesFeature(Vector(s.getBytes(StandardCharsets.UTF_8)))
    def of(v: Long): Feature = Int64Feature(Vector(v))
    def of(v: Float): Feature = FloatFeature(Vector(v))
  }

  /** Max accepted record length (1 GiB): a corrupt/hostile length field
    * must not drive a multi-GB allocation (the pcap/WARC guard).
    */
  private val MaxRecordLength = 1L << 30

  private val MaskDelta = 0xa282ead8L

  /** TFRecord's masked CRC32C of `bytes[off, off+len)`. */
  def maskedCrc(bytes: Array[Byte], off: Int, len: Int): Int = {
    val c = new CRC32C
    c.update(bytes, off, len)
    val crc = c.getValue // 0..2^32-1 in a Long
    val rot = ((crc >>> 15) | (crc << 17)) & 0xffffffffL
    ((rot + MaskDelta) & 0xffffffffL).toInt
  }

  def maskedCrc(bytes: Array[Byte]): Int = maskedCrc(bytes, 0, bytes.length)

  /** Streaming record iterator with CRC verification. Ends (never throws)
    * on EOF, truncation, bad length, or CRC mismatch — one corrupt shard
    * must not kill a 1000-shard read job.
    */
  def records(in: InputStream): Iterator[Array[Byte]] = {
    def le32(b: Array[Byte]): Int =
      ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN).getInt

    def advance(): Array[Byte] =
      try {
        val first = in.read()
        if (first < 0) return null // clean EOF at boundary
        val lenBytes = new Array[Byte](8)
        lenBytes(0) = first.toByte
        System.arraycopy(FileRecords.readFully(in, 7), 0, lenBytes, 1, 7)
        val len =
          ByteBuffer.wrap(lenBytes).order(ByteOrder.LITTLE_ENDIAN).getLong
        if (le32(FileRecords.readFully(in, 4)) != maskedCrc(lenBytes)) return null
        if (len < 0 || len > MaxRecordLength) return null
        // a forged length (its CRC covers only the attacker-supplied
        // length bytes) allocates only what actually arrives before EOF
        val data = FileRecords.readFully(in, len.toInt)
        if (le32(FileRecords.readFully(in, 4)) != maskedCrc(data)) null else data
      } catch {
        // EOF, truncation, AND stream-level corruption (a bad gzip
        // member throws ZipException ⊂ IOException): one corrupt shard
        // ends ITS iteration — it must not kill a 1000-shard read job
        case _: java.io.IOException => null
      }
    Iterator.continually(advance()).takeWhile(_ != null)
  }

  /** Records of TFRecord bytes through [[FileRecords.records]]: gunzipped
    * by magic, whatever the name; a corrupt shard yields its complete
    * leading records, never a dead job.
    */
  def recordsAuto(name: String, bytes: Array[Byte]): Iterator[Array[Byte]] =
    FileRecords.records(new ByteArrayInputStream(bytes))(records)

  /** Render records with TFRecord framing (+ optional whole-file gzip —
    * TFRecord has no per-record compression; .tfrecord.gz is file-level).
    */
  def render(recs: Seq[Array[Byte]], gzip: Boolean = false): Array[Byte] = {
    val raw = new ByteArrayOutputStream()
    recs.foreach { data =>
      val lenBytes = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
        .putLong(data.length.toLong).array()
      val w = ByteBuffer.allocate(8 + 4 + data.length + 4)
        .order(ByteOrder.LITTLE_ENDIAN)
      w.put(lenBytes).putInt(maskedCrc(lenBytes))
        .put(data).putInt(maskedCrc(data))
      raw.write(w.array())
    }
    if (!gzip) raw.toByteArray
    else {
      val out = new ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(out)
      gz.write(raw.toByteArray); gz.finish()
      out.toByteArray
    }
  }

  // --- tf.train.Example codec (public schema: example.proto/feature.proto)
  //   Example { Features features = 1 }
  //   Features { map<string, Feature> feature = 1 }   (map entry: 1=key, 2=value)
  //   Feature  { oneof { BytesList=1, FloatList=2, Int64List=3 } }
  //   BytesList { repeated bytes value = 1 }
  //   FloatList { repeated float value = 1 [packed] }
  //   Int64List { repeated int64 value = 1 [packed] }

  /** Encode features as a tf.train.Example message (packed repeateds,
    * features emitted in the given order — protoc map order is unspecified,
    * so any order is spec-conformant; a stable one keeps bytes
    * deterministic for checksums).
    */
  def encodeExample(features: Seq[(String, Feature)]): Array[Byte] = {
    val featuresMsg = new ProtoWire.Writer
    features.foreach { case (name, f) =>
      val featureMsg = new ProtoWire.Writer
      f match {
        case BytesFeature(vs) =>
          val list = new ProtoWire.Writer
          vs.foreach(b => list.bytes(1, b))
          featureMsg.msg(1, list)
        case FloatFeature(vs) =>
          val packed = ByteBuffer.allocate(4 * vs.length)
            .order(ByteOrder.LITTLE_ENDIAN)
          vs.foreach(packed.putFloat)
          featureMsg.msg(2, new ProtoWire.Writer().bytes(1, packed.array()))
        case Int64Feature(vs) =>
          val packed = new ProtoWire.Writer
          vs.foreach(packed.writeRawVarint)
          featureMsg.msg(3, new ProtoWire.Writer().bytes(1, packed.toBytes))
      }
      val entry = new ProtoWire.Writer().string(1, name).msg(2, featureMsg)
      featuresMsg.msg(1, entry)
    }
    new ProtoWire.Writer().msg(1, featuresMsg).toBytes
  }

  /** Decode a tf.train.Example to its feature map, read in place through
    * [[ProtoWire.Slice]]. Accepts packed AND unpacked repeated encodings,
    * mixed too (both are wire-legal from any writer); an entry without a
    * key or value is skipped, and the last entry per name wins.
    */
  def decodeExample(bytes: Array[Byte]): Map[String, Feature] = {
    val out = Map.newBuilder[String, Feature]
    new ProtoWire.Slice(bytes, 0, bytes.length).msg(1).foreach(_.foreachMsg(1) { entry =>
      for (name <- entry.string(1); feature <- entry.msg(2)) out += name -> decodeFeature(feature)
    })
    out.result()
  }

  private def decodeFeature(m: ProtoWire.Slice): Feature =
    if (m.has(1)) {
      val vs = Vector.newBuilder[Array[Byte]]
      m.msg(1).foreach(_.foreachBytes(1)((b, off, len) =>
        vs += java.util.Arrays.copyOfRange(b, off, off + len)))
      BytesFeature(vs.result())
    } else if (m.has(2)) {
      val vs = Vector.newBuilder[Float]
      m.msg(2).foreach(_.foreachFixed32(1)(v => vs += java.lang.Float.intBitsToFloat(v)))
      FloatFeature(vs.result())
    } else {
      val vs = Vector.newBuilder[Long]
      m.msg(3).foreach(_.foreachVarint(1)(vs += _))
      Int64Feature(vs.result())
    }

  /** TFRecord files → one row per record (one file = one task, streamed
    * through [[FileRecords.read]], plain or gzipped).
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    FileRecords.read(spark.read.format("binaryFile").option("pathGlobFilter", "*.tfrecord*").load(path)) {
      (p, in) => records(in).map((p, _))
    }.toDF("path", "record")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TFRecord roundtrip fidelity: each partition packs its documents as
    // tf.train.Examples into an in-memory .tfrecord.gz and parses it back
    // with the REAL reader (the q71 WARC pattern — no TFRecord column
    // exists in the sandbox data, but the encode/frame/CRC/decode path
    // exercised is the production one). Hash-match against the straight-
    // from-parquet oracle proves Example encoding, varint/packed lists,
    // CRC framing, and UTF-8 payload fidelity in one go.
    "q73_tfrecord" -> ((s, dir) => {
      import s.implicits._
      graft.Tables.documents(s, dir)
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("text"), col("n_chars"))
        .as[(Long, String, Long)]
        .mapPartitions { it =>
          // bounded chunks, never the whole partition in memory (the q71
          // shape): the rendered shard is a transient roundtrip buffer
          it.grouped(256).flatMap { chunk =>
            val recs = chunk.map { case (id, text, nChars) =>
              encodeExample(Seq(
                "doc_id" -> Feature.of(id),
                "text" -> Feature.of(text),
                "n_chars" -> Feature.of(nChars)))
            }
            val fileBytes = render(recs, gzip = true)
            recordsAuto("part.tfrecord.gz", fileBytes).map { bytes =>
              val f = decodeExample(bytes)
              val id = f("doc_id").asInstanceOf[Int64Feature].values.head
              val text = new String(
                f("text").asInstanceOf[BytesFeature].values.head,
                StandardCharsets.UTF_8)
              val nChars = f("n_chars").asInstanceOf[Int64Feature].values.head
              (id, nChars, text)
            }
          }
        }
        .toDF("doc_id", "n_chars", "text")
        .select(col("doc_id"), col("n_chars"),
          graft.ops.TextAnalysis.md5Prefix(col("text")).as("text_hash"))
    }))

  def oracles: Map[String, String] = Map(
    "q73_tfrecord" ->
      """SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |  ('0x' || substring(md5(text), 1, 8))::BIGINT AS text_hash
        |FROM documents WHERE text IS NOT NULL""".stripMargin)
}
