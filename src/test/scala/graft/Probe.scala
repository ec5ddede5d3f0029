package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, LegacySpellings, Materialize}

/** The one dev probe over the declared queries and their superseded
  * spellings (test sourceset: never ships in the library jar). Every mode
  * runs in one [[Sessions.local]] session sized by `SPARK_GRAFT_CPUS`
  * (default 32), as [[Bench]]'s is.
  *
  * {{{
  * sbt "Test/runMain graft.Probe ab    <sfDir> <reps> <name,...>"
  * sbt "Test/runMain graft.Probe plan  <sfDir> <outDir> <tag> <name,...|all>"
  * sbt "Test/runMain graft.Probe final <sfDir> <name,...>"
  * sbt "Test/runMain graft.Probe dup   <srcDir> <k,...>"
  * }}}
  *
  * A name is a `SparkEntry.queries` key, `qNN_cur` for the key numbered
  * NN, or a [[LegacySpellings.byName]] spelling.
  *   - `ab`: rep-major interleaved reps to the noop sink, so host noise
  *     hits every name of a rep alike; a line per rep with the
  *     [[JvmTelemetry]] delta, then a median line per name.
  *   - `plan`: `explain("formatted")` to `<outDir>/<name>_<tag>.txt`, then
  *     the plan behind each checkpoint the query reads.
  *   - `final`: executes the query, then prints the final adaptive plan
  *     and its reuse counts.
  *   - `dup`: the pairStats carry-sizes question on `srcDir`'s first 2000
  *     non-NULL docs replicated k times (every copy shares every gram):
  *     P = kept posting rows, the rows two extra exchanges would carry if
  *     sizes rode through the pair expansion; PR = distinct pairs, the
  *     rows the two pair-frame joins shuffle today. Carrying sizes pays
  *     roughly when PR/P > 1. Then times q33 three times.
  */
object Probe {

  /** `qNN_cur` → the query key numbered NN; any other name unchanged. */
  def keyOf(name: String): String =
    if (!name.endsWith("_cur")) name
    else SparkEntry.queries.keys.filter(_.startsWith(name.stripSuffix("cur"))).toSeq match {
      case Seq(key) => key
      case _ => name
    }

  def resolve(name: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries.get(keyOf(name)).orElse(LegacySpellings.byName.get(name))
      .getOrElse(throw new IllegalArgumentException(s"unknown query or spelling $name"))

  private val Usage = "usage: Probe ab <sfDir> <reps> <names> | plan <sfDir> <outDir> <tag> " +
    "<names|all> | final <sfDir> <names> | dup <srcDir> <ks>"

  /** Runs one mode, reporting each result line through `say`. */
  def run(spark: SparkSession, args: Seq[String], say: String => Unit = println): Unit = {
    def names(csv: String) = csv.split(',').toSeq
    args match {
      case Seq("ab", sf, reps, csv) => ab(spark, sf, reps.toInt, names(csv), say)
      case Seq("plan", sf, out, tag, csv) =>
        plan(spark, sf, out, tag,
          if (csv == "all") SparkEntry.queries.keys.toSeq.sorted else names(csv), say)
      case Seq("final", sf, csv) => names(csv).foreach(finalPlan(spark, sf, _, say))
      case Seq("dup", src, ks) => names(ks).foreach(k => dup(spark, src, k.toInt, say))
      case _ => throw new IllegalArgumentException(Usage)
    }
  }

  private def ab(spark: SparkSession, sf: String, reps: Int, names: Seq[String],
                 say: String => Unit): Unit = {
    val queries = names.map(n => n -> resolve(n))
    val times = scala.collection.mutable.Map[String, Vector[Double]]().withDefaultValue(Vector())
    for (i <- 1 to reps; (n, q) <- queries) {
      val persisted = spark.sparkContext.getPersistentRDDs.keySet
      val jvm0 = JvmTelemetry.snapshot()
      val t0 = System.nanoTime()
      spark.sparkContext.setJobDescription(s"Probe ab $n rep$i")
      q(spark, sf).write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      times(n) :+= sec
      say(f"[probe] $n rep$i: $sec%.2f s ${JvmTelemetry.delta(jvm0)}")
      // the rep's checkpoints must not serve the next rep
      (spark.sparkContext.getPersistentRDDs -- persisted).values
        .foreach(org.apache.spark.sql.graft.Bridge.releaseBlocks)
    }
    spark.sparkContext.setJobDescription(null)
    names.foreach { n =>
      val sorted = times(n).sorted
      say(f"[probe] MEDIAN $n: ${sorted(sorted.size / 2)}%.2f s over ${sorted.size} reps " +
        s"(all: ${sorted.map(t => f"$t%.2f").mkString(",")})")
    }
  }

  private def plan(spark: SparkSession, sf: String, outDir: String, tag: String,
                   names: Seq[String], say: String => Unit): Unit = {
    Files.createDirectories(Paths.get(outDir))
    val formatted = ExplainMode.fromString("formatted")
    names.foreach { n =>
      val df = resolve(n)(spark, sf)
      val sources = Materialize.sources(df).zipWithIndex.map { case (s, i) =>
        s"\n== checkpoint source ${i + 1} ==\n" + s.queryExecution.explainString(formatted)
      }
      val path = Paths.get(outDir, s"${n}_$tag.txt")
      Files.writeString(path, df.queryExecution.explainString(formatted) + sources.mkString)
      say(s"[probe] $path (checkpoint sources: ${sources.size})")
    }
  }

  private def finalPlan(spark: SparkSession, sf: String, name: String,
                        say: String => Unit): Unit = {
    val df = resolve(name)(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    def n(s: String) = s.r.findAllIn(plan).size
    say(s"==== final adaptive plan for $name ====\n$plan")
    say(s"[probe] $name reuse: ReusedExchange=${n("ReusedExchange")} " +
      s"ShuffleQueryStage=${n("ShuffleQueryStage")} hashed_grams=${n("hashed_grams")} " +
      s"Scan parquet=${n("Scan parquet")}")
  }

  private def dup(spark: SparkSession, srcDir: String, k: Int, say: String => Unit): Unit = {
    val dir = Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft_hidup$k-${Integer.toHexString(srcDir.hashCode)}").toString
    if (!Files.exists(Paths.get(dir, "documents.parquet"))) {
      val base = Tables.documents(spark, srcDir)
        .filter(col("text").isNotNull).limit(2000)
        .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      base.crossJoin(spark.range(k).select(col("id").as("rep")))
        .select((col("doc_id") * k + col("rep")).as("doc_id"), col("text"),
          col("lang"), col("source"), col("n_chars"))
        .coalesce(4).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    }
    val docs = Tables.documents(spark, dir)
    // q33's one checkpoint: pairStats' df-capped posting lists
    val Seq(grouped) = Materialize.sources(Dedup.jaccardPairs(docs))
    // no group survives once k exceeds the df cap: P is then 0, not NULL
    val stats = grouped.agg(count(lit(1)), coalesce(sum(size(col("ids"))), lit(0L)))
      .collect()(0)
    val (groups, postings) = (stats.getLong(0), stats.getLong(1))
    val pairsOf = flatten(transform(col("ids"), (x, i) =>
      transform(slice(col("ids"), i + 2, size(col("ids"))), y => struct(x.as("a"), y.as("b")))))
    val pr = grouped.select(explode(pairsOf).as("p"))
      .groupBy(col("p.a"), col("p.b")).agg(count(lit(1))).count()
    say(s"[probe] dup k=$k docs=${docs.count()} groups=$groups postings(P)=$postings " +
      f"distinctPairs(PR)=$pr PR/P=${pr.toDouble / postings}%.2f")
    for (i <- 1 to 3) {
      val t0 = System.nanoTime()
      Dedup.jaccardPairs(docs).write.format("noop").mode("overwrite").save()
      say(f"[probe] dup k=$k q33 rep$i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(defaultCpus = 32)
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, args.toSeq) finally spark.stop()
  }
}
