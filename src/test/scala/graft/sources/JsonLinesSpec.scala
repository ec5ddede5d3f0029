package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

class JsonLinesSpec extends SparkSpec {

  test("roundtrip is lossless for hostile text: newlines, quotes, unicode, NULLs") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      (1L, "plain ascii text"),
      (2L, "embedded\nnewline and\ttab and \r carriage"),
      (3L, """quotes " and backslashes \ and { braces } and [brackets]"""),
      (4L, "unicode: éü中文 🙂 astral"),
      (5L, null.asInstanceOf[String]),
      (6L, ""))
    val df = rows.toDF("doc_id", "text")
    val path = graft.TestSpark.tempDir("graft_jsonl_spec") + "/out"
    JsonLines.write(df, path)
    // gzip actually applied (line framing survives compression)
    val files = new java.io.File(path).listFiles()
    assert(files.exists(_.getName.endsWith(".json.gz")))
    val back = JsonLines.read(s, path, df.schema)
      .orderBy("doc_id").as[(Long, String)].collect()
    assert(back.toSeq === rows)
  }

  test("q67 aggregate equals the same aggregate computed without the roundtrip") {
    val dir = docsDir(Seq(
      (1L, "alpha beta\ngamma"),
      (2L, "delta \"epsilon\""),
      (3L, "zeta")))
    val viaJson = graft.SparkEntry.queries("q67_jsonl")(spark, dir)
      .orderBy("lang").collect().map(_.toSeq).toSeq
    val direct = graft.Tables.documents(spark, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        sum(graft.ops.TextAnalysis.md5Prefix(col("text"))).as("text_sum"))
      .orderBy("lang").collect().map(_.toSeq).toSeq
    assert(viaJson === direct)
  }

  test("q67 sweeps idle graft_jsonl_* roundtrip dirs and keeps live ones") {
    import java.nio.file.attribute.FileTime
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val idle = Files.createDirectories(graft.Fs.tmpRoot.resolve(s"graft_jsonl_idle_$tag"))
    val live = Files.createDirectories(graft.Fs.tmpRoot.resolve(s"graft_jsonl_live_$tag"))
    try {
      val twoHoursAgo = FileTime.fromMillis(System.currentTimeMillis() - 2 * 3600 * 1000L)
      Files.setLastModifiedTime(Files.write(idle.resolve("part"), Array[Byte](1)), twoHoursAgo)
      Files.setLastModifiedTime(idle, twoHoursAgo)
      graft.SparkEntry.queries("q67_jsonl")(spark, docsDir(Seq((1L, "alpha"))))
      assert(!Files.exists(idle), "an idle roundtrip dir survived q67")
      assert(Files.exists(live), "q67 swept a live roundtrip dir")
    } finally Seq(idle, live).foreach(graft.Fs.deleteTree)
  }
}
