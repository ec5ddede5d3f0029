package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Round-21 optimization differentials: every restructured operator is
  * pinned against the EXACT pre-r21 spelling it replaced, on fuzz
  * corpora that exercise the edges (empty/whitespace/NULL text, ties,
  * repeated grams, one-sided sources). The DuckDB oracle gate also
  * re-checks all of these end to end; these specs localize a failure to
  * the operator. The old spellings of q121 and q133 live in
  * [[LegacySpellings]]; the q86/q62 two-frame references are still
  * library operators.
  */
class R21RestructureSpec extends SparkSpec {

  private def fuzzDocs(seed: Int, n: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val t =
        if (i % 17 == 0) ""
        else if (i % 23 == 0) " \t\n "
        else (0 until rnd.nextInt(40))
          .map(_ => s"w${rnd.nextInt(12)}").mkString(" ")
      (i.toLong, t)
    } ++ Seq((n.toLong, null.asInstanceOf[String]))
  }

  private def rowsOf(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("q121 vocabGrowth: generator+element_at bigrams ≡ zip_with(slice, slice)") {
    val s = spark
    import s.implicits._
    val dir = docsDir(fuzzDocs(37, 90))
    val docs = graft.Tables.documents(spark, dir)
    val got = Sampling.vocabGrowth(docs)
    // the exact pre-r21 bigram spelling, spliced into the same curve
    val live = docs.filter(col("text").isNotNull)
    val pairsOld = LegacySpellings.q121BigramsR20(live)
    val pairsNew = Sampling.bigrams(live)
    assert(rowsOf(pairsNew) === rowsOf(pairsOld))
    // and the curve itself is stable in shape: strictly non-decreasing
    val rows = got.orderBy(col("checkpoint")).collect()
    assert(rows.length === 10)
    rows.sliding(2).foreach { w =>
      if (w.length == 2) {
        assert(w(0).getAs[Long]("vocab") <= w(1).getAs[Long]("vocab"))
        assert(w(0).getAs[Long]("bigram_types") <= w(1).getAs[Long]("bigram_types"))
      }
    }
  }

  test("q133 qualityDriftTagged one-scan ≡ two-frame qualityDrift") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(41)
    val rows = (0 until 160).map { i =>
      val t = if (i % 19 == 0) null
        else (0 until 3 + rnd.nextInt(25)).map(_ => s"t${rnd.nextInt(9)}").mkString(" ")
      (i.toLong, t, s"src${i % 4}")
    }
    val dir = docsDirSrc(rows.map { case (id, t, src) => (id, t, src) })
    val docs = graft.Tables.documents(spark, dir)
    val half = pmod(TextAnalysis.md5Prefix(col("doc_id").cast("string")), lit(2L))
    val ref = LegacySpellings.q133R20(docs)
    val got = Snapshot.qualityDriftTagged(docs.select(
      col("source"),
      (half === 0).as("snap_a"),
      when(half =!= 0 && col("doc_id") % 7 === 0,
        concat(col("text"), lit(" x x x x x x x x")))
        .otherwise(col("text")).as("text")))
    assert(got.columns.toSeq === ref.columns.toSeq)
    assert(rowsOf(got) === rowsOf(ref))
  }

  test("q86 tokenDriftTagged one-scan ≡ two-frame tokenDrift") {
    val s = spark
    import s.implicits._
    val dir = docsDir(fuzzDocs(47, 140))
    val docs = graft.Tables.documents(spark, dir)
    val ref = Snapshot.tokenDrift(docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 =!= 0))
    val got = Snapshot.tokenDriftTagged(docs.select(
      (col("doc_id") % 2 === 0).as("in_a"), col("text")))
    assert(got.columns.toSeq === ref.columns.toSeq)
    // top-k is ORDERED output; compare as sequences
    assert(got.collect().map(_.toString).toSeq ===
      ref.collect().map(_.toString).toSeq)
  }

  test("q62 incrementalDedupTagged one-scan ≡ two-frame incrementalDedup") {
    val s = spark
    import s.implicits._
    // near-dup-rich fixture: consecutive ids share most tokens, so pairs
    // cross the parity split
    val rnd = new scala.util.Random(53)
    val base = (0 until 30).map(g =>
      (0 until 24).map(_ => s"g${g}t${rnd.nextInt(6)}").mkString(" "))
    val rows = (0 until 60).map { i =>
      val t = if (i % 13 == 0) "" else base(i / 2) + (if (i % 2 == 1) " extra" else "")
      (i.toLong, t)
    } ++ Seq((60L, null.asInstanceOf[String]))
    val dir = docsDir(rows)
    val docs = graft.Tables.documents(spark, dir)
    val ref = Dedup.incrementalDedup(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 =!= 0))
    val got = Dedup.incrementalDedupTagged(docs
      .select((col("doc_id") * 2 + pmod(col("doc_id"), lit(2L))).as("doc_id"),
        col("text")))
    assert(got.columns.toSeq === ref.columns.toSeq)
    val refRows = rowsOf(ref)
    assert(rowsOf(got) === refRows)
    assert(refRows.nonEmpty, "fixture must actually produce cross-side pairs")
  }

}
