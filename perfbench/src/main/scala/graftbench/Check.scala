package graftbench

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.inspector.{Inspector, RecordInfo}

/** Output checks against the generator's ground truth. A check returns
  * the number of messages (or queries) it found lost or wrong; the run
  * then reports `correct = false` and no rate is trusted.
  */
object Check {

  private val Key = Seq("client", "port", "call_id", "inbound")
  private val Fields = Seq("method", "table", "region", "cells", "batch", "elapsed", "error")

  def truthFrame(spark: SparkSession, truth: Seq[TruthMsg]): DataFrame = {
    import spark.implicits._
    truth.toDS().toDF()
  }

  /** Batch pipeline: the four tables of one pass against the truth, per
    * message: method, table/region (inherited by next-rows and close),
    * cells, batch, elapsed and error of every request and response, and
    * the count, cells and placement of each multi's action and result
    * rows. Returns the number of messages lost, extra or mismatched.
    */
  def tables(records: Dataset[RecordInfo], cap: Capture): Long = {
    type K = (String, Int, Int, Boolean)
    def opt[A](r: Row, i: Int): Option[A] = if (r.isNullAt(i)) None else Some(r.getAs[A](i))
    def rows(df: DataFrame, inbound: Boolean): Seq[(K, Any)] = {
      val withRes = df.columns.contains("elapsed")
      df.select((Seq("client", "port", "call_id", "method", "table", "region", "cells", "batch") ++
          (if (withRes) Seq("elapsed", "error") else Nil)).map(col): _*)
        .collect().toSeq.map { r =>
          (r.getString(0), r.getInt(1), r.getInt(2), inbound) ->
            (r.getString(3), opt[String](r, 4), opt[String](r, 5), r.getInt(6), r.getInt(7),
              if (withRes) opt[Long](r, 8) else None, if (withRes) opt[String](r, 9) else None)
        }
    }
    def kids(df: DataFrame, inbound: Boolean): Seq[(K, Any)] =
      df.select("client", "port", "call_id", "cells", "table", "region").collect().toSeq
        .groupBy(r => (r.getString(0), r.getInt(1), r.getInt(2), inbound)).toSeq.map { case (k, rs) =>
          k -> (rs.size, rs.map(r => opt[Int](r, 3).getOrElse(0)).sum,
            rs.count(r => !r.isNullAt(4) && !r.isNullAt(5)))
        }
    val outMsgs = rows(Inspector.requests(records), true) ++ rows(Inspector.responses(records), false)
    val outKids = kids(Inspector.actionsTable(records), true) ++ kids(Inspector.resultsTable(records), false)
    val truthMsgs = cap.truth.map(m => (m.client, m.port, m.call_id, m.inbound) ->
      (m.method, m.table, m.region, m.cells, m.batch, m.elapsed, m.error))
    val truthKids = cap.children.groupBy(c => (c.client, c.port, c.call_id, c.inbound)).toSeq
      .map { case (k, cs) => k -> (cs.size, cs.map(_.cells.getOrElse(0)).sum,
        cs.count(c => c.table.isDefined && c.region.isDefined)) }
    def bad(out: Seq[(K, Any)], truth: Seq[(K, Any)]): Set[K] = {
      val o = out.groupBy(_._1); val t = truth.groupBy(_._1)
      (o.keySet ++ t.keySet).filter(k => o.get(k).map(_.map(_._2)) != t.get(k).map(_.map(_._2)))
    }
    (bad(outMsgs, truthMsgs) ++ bad(outKids, truthKids)).size.toLong
  }

  /** Order-free fingerprint of shaped records, the same expression over
    * the program's output and over the truth.
    */
  def fingerprint: Seq[Column] = Seq(
    count(lit(1)).as("n"),
    sum(hash(Key.map(col) ++ Fields.map(col): _*).cast("long")).as("fp"),
    sum(col("cells").cast("long")).as("cells"),
    sum(coalesce(col("elapsed"), lit(0L))).as("elapsed"),
    count(col("elapsed")).as("matched"))

  /** Streaming pipeline: fingerprints observed per trigger over the
    * first `files` files against the truth of those files (a message
    * belongs to the file holding its last segment). Returns the number
    * of messages lost or extra, at least 1 when the fingerprints differ.
    */
  def stream(spark: SparkSession, observed: Seq[Row], cap: Capture, files: Int): (Long, Long) = {
    val msgs = cap.truth.filter(_.file < files)
    val expected = truthFrame(spark, msgs).select((Key ++ Fields).map(col): _*)
      .agg(fingerprint.head, fingerprint.tail: _*).head()
    val got = (0 until 5).map(i => observed.map(r => if (r.isNullAt(i)) 0L else r.getLong(i)).sum)
    val want = (0 until 5).map(i => if (expected.isNullAt(i)) 0L else expected.getLong(i))
    val lost = math.abs(got(0) - want(0))
    val failed = if (got == want) 0L else math.max(1L, lost)
    (msgs.size.toLong, failed)
  }

  /** Canonical form of a query result, for comparing row sets. */
  def canon(rows: Seq[Row]): Seq[String] =
    rows.map(_.toSeq.map {
      case d: Double => f"$d%.9g"
      case s: scala.collection.Seq[_] => s.map {
        case d: Double => f"$d%.9g"
        case x => String.valueOf(x)
      }.mkString("[", ",", "]")
      case x => String.valueOf(x)
    }.mkString("|")).sorted
}
