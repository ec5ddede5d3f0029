package graft.ops

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** Round-22 one-scan differentials: the q115/q123/q124/q139 plant-union
  * queries now derive their planted rows by exploding a per-row list in
  * ONE corpus scan instead of unioning the table with filtered
  * re-scans of itself (the q62 lesson — a `%` predicate cannot prune
  * parquet row groups, so every union branch re-decoded the full text
  * column). These specs pin the full query output of the committed
  * spelling against the EXACT pre-r22 union spelling
  * ([[LegacySpellings]]), on fixtures where
  * the plant fires (non-vacuity asserted), NULL text exists, and echo
  * ids collide with real ids.
  */
class R22RestructureSpec extends SparkSpec {

  // ids 0..119 include multiples of 7/37/41, so every plant fires; NULL
  // text on a non-plant id (17) and on plant ids (41 for q139's 41, 74
  // for q115's 37, 77 for q123/q124's 7) plus one empty row pin the NULL
  // contract, including NULL text on a row the plant selects
  private def fixture(seed: Int): Seq[(Long, String, String)] = {
    val rnd = new scala.util.Random(seed)
    (0 until 120).map { i =>
      val t =
        if (Set(17, 41, 74, 77)(i)) null.asInstanceOf[String]
        else if (i == 23) ""
        else (0 until 3 + rnd.nextInt(20))
          .map(_ => s"w${rnd.nextInt(9)}").mkString(" ")
      (i.toLong, t, s"src${i % 5}")
    }
  }

  private def rowsOf(df: DataFrame): Map[String, Int] =
    df.collect().map(_.toString).groupBy(identity).map { case (k, v) => k -> v.length }

  test("q115 one-scan source explode ≡ union of two planted re-scans") {
    val dir = docsDirSrc(fixture(115))
    val got = graft.SparkEntry.queries("q115_source_dup_matrix")(spark, dir)
    val ref = LegacySpellings.q115R21(graft.Tables.documents(spark, dir))
    assert(rowsOf(got) === rowsOf(ref))
    assert(got.count() > 0, "plant must be non-vacuous")
  }

  test("q123 one-scan id explode ≡ union with echo re-scan") {
    val dir = docsDirSrc(fixture(123))
    val got = graft.SparkEntry.queries("q123_split_leakage")(spark, dir)
    val ref = LegacySpellings.q123R21(graft.Tables.documents(spark, dir))
    assert(rowsOf(got) === rowsOf(ref))
    assert(got.count() > 0, "plant must be non-vacuous")
  }

  test("q124 one-scan id explode ≡ union with echo re-scan") {
    val dir = docsDirSrc(fixture(124))
    val got = graft.SparkEntry.queries("q124_dup_growth")(spark, dir)
    val ref = LegacySpellings.q124R21(graft.Tables.documents(spark, dir))
    assert(rowsOf(got) === rowsOf(ref))
    assert(got.count() > 0)
  }

  test("q139 one-scan id explode ≡ union with power-of-ten echo re-scan") {
    val dir = docsDirSrc(fixture(139))
    val got = graft.SparkEntry.queries("q139_dup_spread")(spark, dir)
    val ref = LegacySpellings.q139R21(graft.Tables.documents(spark, dir))
    assert(rowsOf(got) === rowsOf(ref))
    assert(got.count() > 0)
  }
}
