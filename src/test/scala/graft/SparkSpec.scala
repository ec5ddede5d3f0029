package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for every suite (Spark startup is ~seconds;
  * suites run in a single forked JVM).
  */
object TestSpark {
  lazy val session: SparkSession = {
    val s = Sessions.tune(SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Every spec's temp dirs, deleted at JVM exit by one hook: the shared
    * fixture writers' dirs are read lazily, so no test can delete its own.
    */
  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]
  sys.addShutdownHook(tempDirs.forEach(p => Fs.deleteTree(p)))

  def tempDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d.toString
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.session

  /** Writes a `documents.parquet` fixture (driver-testdata schema) into a
    * fresh temp dir and returns the dir, usable as the `dir` argument of
    * any SparkEntry query.
    */
  def docsDir(rows: Seq[(Long, String)]): String =
    docsDirSrc(rows.map { case (id, t) => (id, t, "test") })

  /** [[docsDir]] with a caller-chosen source per row (the multi-source
    * fixtures the q96/q98 family needs). One writer serves both.
    */
  def docsDirSrc(rows: Seq[(Long, String, String)]): String = {
    val dir = TestSpark.tempDir("graft_docs")
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text", "source")
      .selectExpr("doc_id", "text", "'en' as lang", "source",
        "length(text) as n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** Writes an `embeddings.parquet` fixture and returns the dir. */
  def embeddingsDir(rows: Seq[(Long, Array[Float])]): String =
    embeddingsDirLabeled(rows.map { case (id, e) => (id, e, 0) })

  /** [[embeddingsDir]] with caller-chosen labels (the q109/q127 family
    * reads them; the unlabeled writer pins label = 0). */
  def embeddingsDirLabeled(rows: Seq[(Long, Array[Float], Int)]): String = {
    val dir = TestSpark.tempDir("graft_embs")
    val s = spark
    import s.implicits._
    rows.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  def collectSet(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  /** Executed plan with AQE wrappers made transparent: a shuffle-bearing
    * plan compiles to AdaptiveSparkPlanExec (a LEAF node), so a naive
    * `plan.collect { case e: ShuffleExchangeExec => }` on the wrapper is
    * vacuously empty — exactly the regression plan guards exist to
    * catch. Returning a plan whose AQE wrappers are unwrapped keeps the
    * node-collect guards honest.
    */
  def executed(df: DataFrame): org.apache.spark.sql.execution.SparkPlan = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
      case other => other.withNewChildren(other.children.map(unwrap))
    }
    unwrap(df.queryExecution.executedPlan)
  }
}
