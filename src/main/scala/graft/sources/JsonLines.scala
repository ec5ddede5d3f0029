package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Tables

/** JSONL (newline-delimited JSON) source + sink — the interchange format
  * LLM data pipelines actually move corpora in (one JSON object per line,
  * gzip per file). Spark's native json reader/writer does the heavy
  * lifting; this module pins the library contract:
  *
  *   - writes are gzip-compressed, one object per line, control characters
  *     escaped (so embedded newlines in `text` never break line framing);
  *   - reads take an EXPLICIT schema — schema inference is a full extra
  *     pass over 100 TB and can mistype sparse columns (a day of nulls
  *     turns a string column into `string` vs `null` conflicts), so the
  *     library refuses to infer;
  *   - NULL fields are dropped on write (Spark json convention) and come
  *     back as NULL under the explicit schema — lossless for struct-free
  *     rows, which is what a (doc_id, text, lang, source, n_chars) corpus
  *     table is.
  *
  * Scale: both sides are embarrassingly parallel (one task per file split
  * on read — gzip files are splittable at FILE granularity only, so write
  * many files; the writer keeps the upstream partitioning).
  */
object JsonLines {

  def write(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("compression", "gzip").json(path)

  def read(s: SparkSession, path: String, schema: StructType): DataFrame =
    s.read.schema(schema).json(path)

  /** Deterministic scratch dir for the driver query's roundtrip (per sf
    * dir, reused across Verify/Bench calls, marked live on each use); the
    * other dirs' go once idle, by [[graft.Fs]]'s rule. */
  private def scratch(dir: String): String = {
    val path = graft.Fs.tmpRoot.resolve(s"graft_jsonl_${Integer.toHexString(dir.hashCode)}")
    graft.Fs.touch(path)
    graft.Fs.sweepIdle(graft.Fs.tmpRoot, graft.Fs.IdleMs)(p =>
      p.getFileName.toString.startsWith("graft_jsonl_") && p != path)
    path.toString
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Roundtrip fidelity probe: documents → gzip JSONL → read back with
    // the explicit schema → per-lang profile whose md5-prefix text
    // checksum proves every text byte survived JSON escaping (newlines,
    // quotes, unicode). The oracle runs the same aggregate on the parquet
    // table directly — they hash-match iff the roundtrip is lossless.
    "q67_jsonl" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val path = scratch(dir)
      write(docs, path)
      read(s, path, docs.schema)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(graft.ops.TextAnalysis.md5Prefix(col("text"))).as("text_sum"))
    }))

  def oracles: Map[String, String] = Map(
    // Direct parquet aggregate — identical iff the JSONL roundtrip
    // preserved every row and every text byte.
    "q67_jsonl" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(('0x' || substring(md5(text), 1, 8))::BIGINT) AS BIGINT)
        |    AS text_sum
        |FROM documents GROUP BY lang""".stripMargin)
}
