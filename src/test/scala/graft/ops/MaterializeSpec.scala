package graft.ops

import java.nio.file.{Files, Paths}

import graft.{SparkSpec, TestSpark}

class MaterializeSpec extends SparkSpec {

  test("default mode local-checkpoints: correct results, no checkpoint dir needed") {
    val s = spark
    import s.implicits._
    val df = Materialize((1 to 100).toDF("x"))
    assert(df.count() === 100)
    assert(df.agg(org.apache.spark.sql.functions.sum("x")).head().getLong(0) === 5050L)
  }

  test("free releases a local-checkpointed frame's blocks; no-op on plain plans") {
    val s = spark
    import s.implicits._
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val df = Materialize((1 to 100).toDF("x"))
    assert(df.count() === 100)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).nonEmpty)
    Materialize.free(df)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
    Materialize.free((1 to 3).toDF("x")) // non-checkpointed: must not throw
  }

  /** Two nested checkpoints over a plain frame: `sources` walks from a
    * consumer of the outer one down to both frames behind them, a
    * self-join (which re-instances the checkpoint's attributes) finds the
    * same frames, and `free` drops each record.
    */
  private def checkSources(): Unit = {
    val s = spark
    import s.implicits._
    val base = (1 to 20).toDF("x")
    val inner = Materialize(base)
    val mid = inner.select(($"x" * 2).as("y"))
    val outer = Materialize(mid)
    val q = outer.filter($"y" > 3)
    assert(Materialize.sources(inner) === Seq(base))
    assert(Materialize.sources(q) === Seq(mid, base))
    assert(Materialize.sources(outer.as("a").join(outer.as("b"), "y")) === Seq(mid, base))
    assert(Materialize.sources(base).isEmpty)
    assert(q.count() === 19)
    assert(Materialize.sources(q) === Seq(mid, base))
    Materialize.free(outer)
    assert(Materialize.sources(q).isEmpty)
    assert(Materialize.sources(inner) === Seq(base))
    Materialize.free(inner)
    assert(Materialize.sources(inner).isEmpty)
  }

  test("sources lists the frames behind nested checkpoints in both modes; free drops them") {
    checkSources()
    spark.sparkContext.setCheckpointDir(TestSpark.tempDir("graft_ckpt"))
    spark.conf.set(Materialize.ReliableFlag, "true")
    try checkSources()
    finally spark.conf.unset(Materialize.ReliableFlag)
  }

  test("connectedComponents frees superseded iteration frames as it runs") {
    val s = spark
    import s.implicits._
    // A 10-node path: the min label walks one hop per iteration, so this
    // converges in ~10 rounds — without eager freeing, edges + initial +
    // one labels frame per iteration (~12 persisted RDDs) would ride to
    // context cleanup.
    val pairs = (1L to 9L).map(i => (i, i + 1)).toDF("a", "b")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = Dedup.connectedComponents(pairs).collect()
    assert(out.length === 10)
    assert(out.forall(_.getLong(1) == 1L)) // one component, canonical = 1
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 2, s"leaked ${leaked.size} persisted RDDs")
  }

  test("reliable flag writes through the SparkContext checkpoint dir") {
    val dir = TestSpark.tempDir("graft_ckpt")
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set(Materialize.ReliableFlag, "true")
    try {
      val s = spark
      import s.implicits._
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val df = Materialize((1 to 50).toDF("x"))
      assert(df.count() === 50)
      // free in reliable mode releases the pre-checkpoint CACHE entry too
      // (checkpoint files stay the source of truth)
      assert((spark.sparkContext.getPersistentRDDs.keySet -- before).nonEmpty)
      Materialize.free(df)
      assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
      // reliable checkpoint materializes RDD part-files under the dir on
      // the first action (lazy mode: at job end, not at plan build)
      val walk = Files.walk(Paths.get(dir))
      val hasData =
        try {
          import scala.jdk.CollectionConverters._
          walk.iterator().asScala.exists(p =>
            Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-"))
        } finally walk.close()
      assert(hasData, s"no checkpoint part-files under $dir")
    } finally spark.conf.unset(Materialize.ReliableFlag)
  }
}
