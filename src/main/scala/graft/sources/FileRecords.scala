package graft.sources

import java.io.{BufferedInputStream, Closeable, EOFException, FilterInputStream, IOException, InputStream}
import java.util.zip.GZIPInputStream

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions.col

/** The one way a file becomes records, for every capture and record
  * source (pcap/pcapng, WARC, TFRecord), batch or streaming:
  *   - the `binaryFile` frame contributes only `path`, so Spark never
  *     reads `content`: no whole-file array, no 2 GiB ceiling, no
  *     `binaryFile` maxLength;
  *   - each task opens its file through the Hadoop FileSystem with the
  *     session's Hadoop conf, broadcast once per plan;
  *   - gzip is detected by its magic bytes, whatever the file's name;
  *   - the format's decoder walks the stream, and every length-driven
  *     allocation goes through the one bounded [[readFully]];
  *   - a decode failure (corrupt gzip, truncation, garbage) ends THAT
  *     file's records after the complete ones before it, never the job,
  *     while a failure to read the file itself fails the task, as a
  *     `binaryFile` read would, so Spark retries it;
  *   - the stream is closed when its records run out and, for a consumer
  *     that stops early (a `limit`), when the task completes.
  */
object FileRecords {

  private val Buffer = 1 << 16

  /** Records of every file of a `binaryFile` frame (batch or streaming),
    * one file per `decode(path, stream)` call.
    */
  def read[T: Encoder](files: DataFrame)(decode: (String, InputStream) => Iterator[T]): Dataset[T] = {
    val conf = org.apache.spark.sql.graft.Bridge.hadoopConf(files.sparkSession)
    files.select(col("path")).as(Encoders.STRING).flatMap { p =>
      val path = new Path(p)
      val recs = records(path.getFileSystem(conf.value.value).open(path))(decode(p, _))
      TaskContext.get().addTaskCompletionListener[Unit](_ => recs.close())
      recs
    }
  }

  /** An IOException raised by the file's own stream, as opposed to one a
    * decoder or the gunzip raises over its contents.
    */
  final class ReadFailure(cause: IOException) extends RuntimeException(cause)

  private def source(in: InputStream): InputStream = new FilterInputStream(in) {
    private def io[A](op: => A): A = try op catch { case e: IOException => throw new ReadFailure(e) }
    override def read(): Int = io(super.read())
    override def read(b: Array[Byte], off: Int, len: Int): Int = io(super.read(b, off, len))
    override def skip(n: Long): Long = io(super.skip(n))
    override def available(): Int = io(super.available())
  }

  /** `decode` over `in`, gunzipped when it starts with the gzip magic.
    * The decoder gets a buffered stream (mark/reset supported); any
    * non-fatal failure but a [[ReadFailure]] ends the records, and `in`
    * is closed at the end.
    */
  def records[T](in: InputStream)(decode: InputStream => Iterator[T]): Iterator[T] with Closeable =
    new Iterator[T] with Closeable {
      private var body: InputStream = in
      private var recs: Iterator[T] = _
      private var head: T = _
      private var state = 0 // 0 = not fetched, 1 = head ready, 2 = done

      def hasNext: Boolean = {
        if (state == 0) {
          state =
            try {
              if (recs == null) { body = decompressed(source(in)); recs = decode(body) }
              if (recs.hasNext) { head = recs.next(); 1 } else 2
            } catch { case e: Throwable if NonFatal(e) && !e.isInstanceOf[ReadFailure] => 2 }
          if (state == 2) close()
        }
        state == 1
      }

      def next(): T = {
        if (!hasNext) throw new NoSuchElementException
        state = 0
        head
      }

      def close(): Unit = { state = 2; body.close() }
    }

  /** `in` buffered, and gunzipped when it starts with the gzip magic:
    * the one gzip rule of every source.
    */
  def decompressed(in: InputStream): InputStream = {
    val buffered = new BufferedInputStream(in, Buffer)
    buffered.mark(2)
    val gzip = buffered.read() == 0x1f && buffered.read() == 0x8b
    buffered.reset()
    if (gzip) new BufferedInputStream(new GZIPInputStream(buffered, Buffer), Buffer)
    else buffered
  }

  /** Exactly `n` bytes of `in`, or an EOFException. Grows in 1 MiB
    * chunks, so a forged length allocates no more than the bytes that
    * actually arrive (plus one chunk); a chunk list plus one final
    * assembly keeps the peak near 2n for a genuine long read.
    */
  def readFully(in: InputStream, n: Int): Array[Byte] = {
    val chunk = 1 << 20
    if (n <= chunk) readFully(in, new Array[Byte](n))
    else {
      val chunks = ArrayBuffer.empty[Array[Byte]]
      var remaining = n
      while (remaining > 0) {
        chunks += readFully(in, new Array[Byte](math.min(chunk, remaining)))
        remaining -= chunks.last.length
      }
      val out = new Array[Byte](n)
      var pos = 0
      chunks.foreach { b => System.arraycopy(b, 0, out, pos, b.length); pos += b.length }
      out
    }
  }

  /** Fills all of `buf` from `in`, or throws an EOFException; returns
    * `buf`. For fixed-size headers read into one reused buffer.
    */
  def readFully(in: InputStream, buf: Array[Byte]): Array[Byte] = {
    var off = 0
    while (off < buf.length) {
      val r = in.read(buf, off, buf.length - off)
      if (r < 0) throw new EOFException
      off += r
    }
    buf
  }
}
