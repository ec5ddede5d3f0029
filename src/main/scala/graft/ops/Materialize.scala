package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graft.Bridge

/** The one way `src/main` holds an intermediate read more than once: the
  * ops' multiply-consumed frames (signatures, LSH-bucketed vectors,
  * posting lists, iteration labels), `Inspector`'s shared records behind
  * its four tables, `Dedup.buildRefIndex`'s postings and sizes, and
  * `StreamBench`'s leg-3 bench grams. Without it each consumer would
  * replay the pipeline, and `CollapseProject` would re-inline any
  * CodegenFallback expression into each of them.
  *
  * Two modes, selected by `spark.graft.reliableCheckpoint`:
  *   - `false` (default): `localCheckpoint` — executor-local blocks, fast,
  *     right for local mode and short interactive runs; an executor loss
  *     loses the blocks AND the truncated lineage, killing the job.
  *   - `true`: reliable `checkpoint` to the configured checkpoint dir
  *     (HDFS/object store on a cluster) — a 100 TB run survives executor
  *     loss by re-reading the checkpoint instead of dying. Requires
  *     `SparkContext.setCheckpointDir`.
  *
  * Both are LAZY (`eager = false`): the checkpoint's own stage runs as part
  * of the query's first execution, and its blocks are shared by every
  * consumer from then on. Under AQE, building the checkpoint runs the
  * shuffle-map stages below it.
  *
  * Every checkpoint is taken: there is no session switch that turns them
  * off. Plan evidence for the pipeline a checkpoint hides behind its
  * `Scan ExistingRDD` stub comes from [[sources]] instead.
  */
private[graft] object Materialize {

  /** Session conf key; see class doc. */
  val ReliableFlag = "spark.graft.reliableCheckpoint"

  // The frame behind each checkpoint, in both modes, keyed by the
  // checkpoint's RDD: identity-equal, and shared by every copy the
  // analyzer makes of the returned LogicalRDD (a self-join re-instances
  // its attributes, not its RDD). Weak keys: a dropped result frame lets
  // its entry be collected.
  private val behind = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[RDD[_], Dataset[_]]())

  def apply[T](df: Dataset[T]): Dataset[T] = {
    val out =
      if (df.sparkSession.conf.getOption(ReliableFlag).exists(_.toBoolean))
        // persist first: an unpersisted reliable checkpoint re-executes the
        // whole lineage in the checkpoint-write job (Spark's documented
        // recompute behavior) — exactly the double-compute this class
        // exists to prevent. The write job then reads the cached blocks.
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          .checkpoint(eager = false)
      else df.localCheckpoint(eager = false)
    checkpointRdds(out).foreach(behind.put(_, df))
    out
  }

  private def checkpointRdds(df: Dataset[_]): Seq[RDD[_]] =
    df.queryExecution.analyzed.collectWithSubqueries { case lr: LogicalRDD => lr.rdd }

  private def behindOf(df: Dataset[_]): Seq[Dataset[_]] =
    checkpointRdds(df).flatMap(r => Option(behind.get(r)))

  /** The frames behind every checkpoint `df` reads, transitively, nearest
    * first — read-only plan evidence: `explain` on them shows the
    * pipeline each checkpoint replaced.
    */
  def sources(df: Dataset[_]): Seq[Dataset[_]] =
    Iterator.iterate(Seq[Dataset[_]](df))(_.flatMap(behindOf)).drop(1).takeWhile(_.nonEmpty)
      .flatten.toSeq.distinct

  /** Eagerly free the block storage behind a frame returned by [[apply]]
    * once NO later computation will read it — e.g. the previous iteration's
    * labels in an iterative loop, after the next iteration has been fully
    * materialized by an action. In default (local-checkpoint) mode the
    * blocks ARE the data, so the frame is unusable afterwards — callers
    * must drop every reference. In reliable mode the checkpoint FILES stay
    * the source of truth, and both the pre-checkpoint cache entry and any
    * post-checkpoint blocks are released. Either way the frame drops out
    * of [[sources]]. No-op for non-checkpointed plans.
    */
  def free(df: Dataset[_]): Unit = df.queryExecution.analyzed match {
    case lr: LogicalRDD =>
      Bridge.releaseBlocks(lr.rdd)
      // never cached in local mode, so unpersist is a no-op there
      Option(behind.remove(lr.rdd)).foreach(_.unpersist(blocking = false))
    case _ => ()
  }
}
