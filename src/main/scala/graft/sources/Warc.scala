package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, EOFException, InputStream}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Zero-dep WARC (ISO 28500) reader/writer — the Web ARChive format crawl
  * corpora ship in (Common Crawl publishes ~everything as .warc.gz).
  * An LLM-data engine that can't open WARC can't touch the largest public
  * text source, so this is a first-class source next to pcap/pcapng.
  *
  * Format (public spec): records are `WARC/1.0\r\n`, CRLF-separated
  * `Name: value` headers (names case-insensitive), a blank line, exactly
  * `Content-Length` payload bytes, then CRLF CRLF. Gzipped WARCs are
  * CONCATENATED gzip members (usually one per record);
  * `java.util.zip.GZIPInputStream` consumes member sequences natively.
  *
  * Scale posture: one WARC file = one task ([[read]] streams each file
  * through [[FileRecords]] exactly like the pcap pipeline — record
  * framing is sequential, files are the parallel unit, and a crawl is
  * millions of files). The iterator is hostile-input hardened: a corrupt
  * Content-Length, truncated payload, or missing version line ends the
  * file's iteration instead of throwing or over-allocating.
  */
object Warc {

  /** One WARC record: the headers the pipeline routes on + raw payload. */
  final case class WarcRecord(
      warcType: String,
      recordId: String,
      targetUri: String,
      date: String,
      contentType: String,
      content: Array[Byte])

  /** Max accepted Content-Length (1 GiB): a hostile/corrupt length field
    * must not drive a multi-GB allocation (the pcap reader's guard).
    */
  private val MaxContentLength = 1L << 30

  /** Streaming record iterator over a (possibly multi-member-gzip) WARC
    * stream. Returns records until the stream ends or framing breaks.
    */
  def records(in: InputStream): Iterator[WarcRecord] = {
    def readLine(): String = {
      // CRLF-terminated header line, ISO-8859-1 (headers are ASCII; the
      // spec forbids raw non-ASCII — 8859-1 keeps bytes 1:1 if violated)
      val buf = new ByteArrayOutputStream(64)
      var b = in.read()
      if (b < 0) throw new EOFException
      while (b >= 0 && b != '\n') {
        buf.write(b)
        b = in.read()
      }
      val s = buf.toString(StandardCharsets.ISO_8859_1)
      if (s.endsWith("\r")) s.substring(0, s.length - 1) else s
    }

    def advance(): WarcRecord =
      try {
        // seek the version line (tolerates inter-record CRLF padding)
        var line = readLine()
        var guard = 0
        while (!line.startsWith("WARC/") && guard < 16) {
          if (line.nonEmpty) return null // garbage, stop
          line = readLine()
          guard += 1
        }
        if (!line.startsWith("WARC/")) return null
        var warcType, recordId, targetUri, date, contentType = ""
        var contentLength = -1L
        line = readLine()
        while (line.nonEmpty) {
          val i = line.indexOf(':')
          if (i > 0) {
            val k = line.substring(0, i).trim.toLowerCase
            val v = line.substring(i + 1).trim
            k match {
              case "warc-type" => warcType = v
              case "warc-record-id" => recordId = v
              case "warc-target-uri" => targetUri = v
              case "warc-date" => date = v
              case "content-type" => contentType = v
              case "content-length" =>
                contentLength = try v.toLong catch { case _: NumberFormatException => -1L }
              case _ => ()
            }
          }
          line = readLine()
        }
        // unframed/hostile: cannot resync, stop
        if (contentLength < 0 || contentLength > MaxContentLength) return null
        val body = FileRecords.readFully(in, contentLength.toInt)
        WarcRecord(warcType, recordId, targetUri, date, contentType, body)
      } catch {
        // EOF, truncation, AND stream-level corruption (a bad gzip member
        // throws ZipException ⊂ IOException): one corrupt capture ends
        // ITS iteration, never the read job
        case _: java.io.IOException => null
      }
    Iterator.continually(advance()).takeWhile(_ != null)
  }

  /** Records of WARC bytes through [[FileRecords.records]]: gunzipped by
    * magic (multi-member safe — GZIPInputStream reads concatenated
    * members), whatever the name; a corrupt file yields its complete
    * leading records, never a dead job.
    */
  def recordsAuto(name: String, bytes: Array[Byte]): Iterator[WarcRecord] =
    FileRecords.records(new ByteArrayInputStream(bytes))(records)

  /** Render records as WARC bytes; `gzipPerRecord` writes one gzip member
    * per record (the Common Crawl layout, enables per-record skipping).
    * One Deflater serves every member (reset between records) — a fresh
    * GZIPOutputStream per record costs a native deflater alloc/free each,
    * which dominates sink throughput on small records.
    */
  def render(recs: Seq[WarcRecord], gzipPerRecord: Boolean = false): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val deflater =
      if (gzipPerRecord) new java.util.zip.Deflater(
        java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
      else null
    try {
      recs.foreach { r =>
        val one = new ByteArrayOutputStream()
        val h = new StringBuilder()
          .append("WARC/1.0\r\n")
          .append(s"WARC-Type: ${r.warcType}\r\n")
          .append(s"WARC-Record-ID: ${r.recordId}\r\n")
          .append(s"WARC-Date: ${r.date}\r\n")
        if (r.targetUri.nonEmpty) h.append(s"WARC-Target-URI: ${r.targetUri}\r\n")
        h.append(s"Content-Type: ${r.contentType}\r\n")
          .append(s"Content-Length: ${r.content.length}\r\n")
          .append("\r\n")
        one.write(h.toString.getBytes(StandardCharsets.ISO_8859_1))
        one.write(r.content)
        one.write("\r\n\r\n".getBytes(StandardCharsets.ISO_8859_1))
        if (gzipPerRecord) writeGzipMember(out, one.toByteArray, deflater)
        else out.write(one.toByteArray)
      }
    } finally if (deflater != null) deflater.end()
    out.toByteArray
  }

  /** One RFC 1952 gzip member from a reusable raw deflater: 10-byte
    * header, raw-deflate body, CRC32 + ISIZE trailer (both LE).
    */
  private def writeGzipMember(
      out: ByteArrayOutputStream,
      data: Array[Byte],
      deflater: java.util.zip.Deflater): Unit = {
    out.write(Array[Byte](0x1f, 0x8b.toByte, 8, 0, 0, 0, 0, 0, 0, 0xff.toByte))
    deflater.reset()
    deflater.setInput(data)
    deflater.finish()
    val buf = new Array[Byte](8192)
    while (!deflater.finished()) {
      val n = deflater.deflate(buf)
      if (n > 0) out.write(buf, 0, n)
    }
    val crc = new java.util.zip.CRC32
    crc.update(data)
    val trailer = java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(crc.getValue.toInt).putInt(data.length)
    out.write(trailer.array())
  }

  /** WARC files → one row per record (one file = one task, streamed
    * through [[FileRecords.read]], plain or gzipped — the pcap ingest
    * shape).
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    FileRecords.read(spark.read.format("binaryFile").option("pathGlobFilter", "*.warc*").load(path)) {
      (_, in) => records(in).map(r =>
        (r.warcType, r.recordId, r.targetUri, r.date, r.contentType, r.content))
    }.toDF("warc_type", "record_id", "target_uri", "date", "content_type", "content")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // WARC roundtrip fidelity: each partition renders its documents as an
    // in-memory .warc.gz (one gzip member per record — the Common Crawl
    // layout) and parses it back with the REAL reader (the q51/q42
    // synthesized-media pattern: no WARC column exists in the sandbox
    // data, but the parse path exercised is the production one). The
    // oracle computes the same (doc_id, byte length, md5 prefix) straight
    // from the parquet table — hash-match proves header framing,
    // Content-Length accounting, gzip member handling, and UTF-8 payload
    // fidelity in one go.
    "q71_warc" -> ((s, dir) => {
      import s.implicits._
      graft.Tables.documents(s, dir)
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions { it =>
          // bounded chunks, never the whole partition in memory — the
          // rendered bytes are a transient roundtrip buffer, and at 100 TB
          // a partition-sized one is an OOM
          it.grouped(256).flatMap { chunk =>
            val recs = chunk.map { case (id, text) =>
              WarcRecord("response", s"<urn:uuid:$id>", s"doc://$id",
                "2026-01-01T00:00:00Z", "text/plain",
                text.getBytes(StandardCharsets.UTF_8))
            }
            val fileBytes = render(recs, gzipPerRecord = true)
            recordsAuto("part.warc.gz", fileBytes).map { r =>
              (r.targetUri.stripPrefix("doc://").toLong,
                r.content.length.toLong,
                new String(r.content, StandardCharsets.UTF_8))
            }
          }
        }
        .toDF("doc_id", "n_bytes", "text")
        .select(col("doc_id"), col("n_bytes"),
          graft.ops.TextAnalysis.md5Prefix(col("text")).as("text_hash"))
    }))

  def oracles: Map[String, String] = Map(
    // encode() gives the UTF-8 bytes, octet_length counts them — the
    // Content-Length the WARC writer must have produced.
    "q71_warc" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  ('0x' || substring(md5(text), 1, 8))::BIGINT AS text_hash
        |FROM documents WHERE text IS NOT NULL""".stripMargin)
}
