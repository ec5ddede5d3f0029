package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.SparkSpec

/** State-store soak for the streaming monitors (round-10 verdict item
  * #5): StreamingOpsSpec proves semantics, this proves state BEHAVIOR
  * under volume on the RocksDB provider — funnel state grows with
  * DISTINCT USERS and only with them (plateaus when the user set stops
  * growing, regardless of event volume), watermark eviction in the leak
  * monitor actually evicts (state tracks the horizon, not the stream
  * history), and per-trigger latency stays flat instead of scaling with
  * accumulated state.
  */
class StreamingSoakSpec extends SparkSpec {

  private def withRocksDb[T](body: => T): T = {
    val key = InspectorStream.StateStoreProviderKey
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, InspectorStream.RocksDbStateStoreProvider)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def stateRows(q: StreamingQuery): Long =
    q.lastProgress.stateOperators.map(_.numRowsTotal).sum

  private def triggerMs(q: StreamingQuery): Long =
    q.lastProgress.durationMs.get("triggerExecution").longValue()

  test("funnel soak: 100k users / 25 triggers on RocksDB — state tracks users, latency flat") {
    withRocksDb {
      val s = spark
      import s.implicits._
      implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
      val ms = MemoryStream[(Long, String, Long)]
      val query = StreamingOps.funnelMonitor(
        ms.toDS().toDF("user_id", "event_type", "ms"))
        .writeStream.format("memory").queryName("funnel_soak")
        .outputMode("update").start()
      val lat = scala.collection.mutable.ArrayBuffer.empty[Long]
      try {
        val usersPerTrigger = 5000
        // growth phase: 20 triggers, each a fresh user slab with 2 events
        for (t <- 0 until 20) {
          val base = t.toLong * usersPerTrigger
          ms.addData((0 until usersPerTrigger).flatMap { i =>
            val u = base + i
            Seq((u, "view", 1000L + t), (u, "click", 2000L + t))
          })
          query.processAllAvailable()
          lat += triggerMs(query)
          assert(stateRows(query) === (t + 1).toLong * usersPerTrigger,
            s"trigger $t: state rows must equal distinct users seen")
        }
        // plateau phase: 5 more triggers REUSE slab-0 users (purchases).
        // 25k more events, zero new users -> state must not move.
        for (t <- 0 until 5) {
          ms.addData((0 until usersPerTrigger).map(i =>
            (i.toLong, "purchase", 3000L + t)))
          query.processAllAvailable()
          lat += triggerMs(query)
          assert(stateRows(query) === 20L * usersPerTrigger,
            s"plateau trigger $t: event volume must not grow state")
        }
        // latency stays flat: with 4x the state behind it, a trigger costs
        // batch work, not state-scan work. Medians, not means — RocksDB
        // maintenance can spike one trigger.
        def median(xs: Seq[Long]): Long = xs.sorted.apply(xs.size / 2)
        val early = median(lat.slice(1, 6).toSeq)  // skip trigger 0 (codegen warmup)
        val late = median(lat.takeRight(5).toSeq)
        assert(late <= math.max(3 * early, early + 2000),
          s"per-trigger latency grew with state: early=${early}ms late=${late}ms")
      } finally query.stop()
    }
  }

  test("leak-monitor crash recovery: a trigger killed in flight resumes exactly-once from the RocksDB checkpoint") {
    // InspectorStreamSpec proves stop/restart for the packet pipeline;
    // this kills the LLM-pipeline leak monitor WITH A TRIGGER IN FLIGHT
    // (round-11 verdict item #3): the foreachBatch sink raises before
    // any job ran for that batch, the query dies, and a new query on the
    // same checkpoint must (a) replay the failed trigger and count its
    // docs exactly once, and (b) still hold the dedup pairs from BEFORE
    // the crash, so re-sent (bench_id, doc_id) pairs never re-count.
    withRocksDb {
      val s = spark
      import s.implicits._
      implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
      val span = "a1 a2 a3 a4 a5 a6 a7 a8" // one bench gram
      val bg = graft.ops.Decontam.benchGramIds(
        Seq((20L, span)).toDF("doc_id", "text"))
      val ckpt = graft.TestSpark.tempDir("graft_leak_ckpt")
      val ms = MemoryStream[(Timestamp, Long, String)]
      // batchId -> latest cumulative count delivered in that batch; the
      // assertions use max(count), not batch ids — update mode may slip a
      // no-data watermark batch in, shifting ids by one
      val delivered = scala.collection.mutable.Map.empty[Long, Long]
      val crashArmed = new java.util.concurrent.atomic.AtomicBoolean(false)
      def start(): StreamingQuery =
        StreamingOps.leakMonitor(
          ms.toDS().toDF("event_time", "doc_id", "text"), bg,
          watermark = "10 minutes")
          .writeStream.outputMode("update")
          .option("checkpointLocation", ckpt)
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
            if (crashArmed.getAndSet(false))
              throw new RuntimeException("injected crash: trigger in flight")
            batch.collect().foreach(r =>
              delivered.synchronized { delivered(id) = r.getLong(1) })
          }
          .start()
      def at(min: Long) = new Timestamp(min * 60000L)
      def maxCount = delivered.synchronized {
        if (delivered.isEmpty) 0L else delivered.values.max }

      val q1 = start()
      try {
        ms.addData((0 until 100).map(i => (at(5), i.toLong, span)))
        q1.processAllAvailable()
        assert(maxCount === 100L)
        // arm the crash and feed trigger docs 100-199: the next trigger
        // dies before its sink commit
        crashArmed.set(true)
        ms.addData((0 until 100).map(i => (at(10), 100L + i, span)))
        intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q1.processAllAvailable()
        }
        assert(!q1.isActive)
      } finally if (q1.isActive) q1.stop() // an assert before the crash
                                           // must not leak a live query

      val q2 = start()
      try {
        q2.processAllAvailable()
        assert(maxCount === 200L,
          s"replayed trigger must count exactly once (300 = double-count, " +
            s"100 = lost): $delivered")
        // 50 RE-SENT pairs (docs 150-199, would re-count if the dedup
        // state died with q1) + 50 fresh docs
        ms.addData((0 until 50).map(i => (at(12), 150L + i, span)) ++
          (0 until 50).map(i => (at(12), 200L + i, span)))
        q2.processAllAvailable()
        assert(maxCount === 250L,
          s"resent pairs re-counted: dedup state did not survive the crash: $delivered")
        assert(stateRows(q2) > 0L)
      } finally q2.stop()
    }
  }

  test("funnel-monitor crash recovery: a killed trigger replays without duplicate stage advances") {
    // flatMapGroupsWithState's recovery contract: a trigger that died
    // before its commit replays against the PRE-crash state, so each
    // (user, stage) advance must be emitted exactly once across the
    // whole crash + restart — a duplicate stage-2 row would double-count
    // every funnel dashboard fed by this stream
    withRocksDb {
      val s = spark
      import s.implicits._
      implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
      val ckpt = graft.TestSpark.tempDir("graft_funnel_ckpt")
      val ms = MemoryStream[(Long, String, Long)]
      // append-only advance log: replays would surface as duplicates
      val advances = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
      val crashArmed = new java.util.concurrent.atomic.AtomicBoolean(false)
      def start(): StreamingQuery =
        StreamingOps.funnelMonitor(
          ms.toDS().toDF("user_id", "event_type", "ms"))
          .writeStream.outputMode("update")
          .option("checkpointLocation", ckpt)
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            if (crashArmed.getAndSet(false))
              throw new RuntimeException("injected crash: trigger in flight")
            batch.collect().foreach(r =>
              advances.synchronized { advances += ((r.getLong(0), r.getInt(1))) })
          }
          .start()
      val users = 0L until 50L
      val q1 = start()
      try {
        ms.addData(users.map(u => (u, "view", 1000L)))
        q1.processAllAvailable()
        assert(advances.synchronized { advances.toSet } ===
          users.map(u => (u, 1)).toSet)
        // the click trigger dies in flight
        crashArmed.set(true)
        ms.addData(users.map(u => (u, "click", 2000L)))
        intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q1.processAllAvailable()
        }
      } finally if (q1.isActive) q1.stop()
      val q2 = start()
      try {
        q2.processAllAvailable() // replays the click trigger
        ms.addData(users.map(u => (u, "purchase", 3000L)))
        q2.processAllAvailable()
        val log = advances.synchronized { advances.toSeq }
        // exactly one advance per (user, stage) across crash + replay:
        // no stage re-emitted, none lost
        assert(log.size === log.distinct.size,
          s"duplicate advances after replay: ${log.diff(log.distinct).take(5)}")
        assert(log.toSet === users.flatMap(u => Seq((u, 1), (u, 2), (u, 3))).toSet)
      } finally q2.stop()
    }
  }

  test("exact-dedup crash recovery: first-seen emission survives a killed trigger") {
    // dropDuplicatesWithinWatermark recovery: the killed trigger's docs
    // replay against the pre-crash dedup state, so a text first seen
    // BEFORE the crash must not re-emit when its duplicate replays, and
    // every genuinely new text emits exactly once
    withRocksDb {
      val s = spark
      import s.implicits._
      implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
      val ckpt = graft.TestSpark.tempDir("graft_dedup_ckpt")
      val ms = MemoryStream[(Timestamp, Long, String)]
      val emitted = scala.collection.mutable.ArrayBuffer.empty[Long] // doc_ids
      val crashArmed = new java.util.concurrent.atomic.AtomicBoolean(false)
      def start(): StreamingQuery =
        StreamingOps.exactDedup(
          ms.toDS().toDF("event_time", "doc_id", "text"),
          watermark = "10 minutes")
          .writeStream.outputMode("append")
          .option("checkpointLocation", ckpt)
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            if (crashArmed.getAndSet(false))
              throw new RuntimeException("injected crash: trigger in flight")
            batch.select("doc_id").collect().foreach(r =>
              emitted.synchronized { emitted += r.getLong(0) })
          }
          .start()
      def at(min: Long) = new Timestamp(min * 60000L)
      def text(i: Long) = s"document body number $i with its own words"

      val q1 = start()
      try {
        ms.addData((0L until 40L).map(i => (at(5), i, text(i))))
        q1.processAllAvailable()
        // the crashed trigger: 20 duplicates of texts 0-19 + 20 new texts
        crashArmed.set(true)
        ms.addData((0L until 20L).map(i => (at(6), 100L + i, text(i))) ++
          (40L until 60L).map(i => (at(6), i, text(i))))
        intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q1.processAllAvailable()
        }
      } finally if (q1.isActive) q1.stop()
      val q2 = start()
      try {
        q2.processAllAvailable() // replays the killed trigger
        val got = emitted.synchronized { emitted.toSeq }
        assert(got.size === got.distinct.size,
          s"duplicate emissions after replay: ${got.diff(got.distinct).take(5)}")
        // first-seen per text: originals 0-39 plus the 20 new texts; the
        // 20 replayed duplicate docs (ids 100-119) must NOT emit
        assert(got.toSet === (0L until 60L).toSet,
          s"expected first-seen docs 0-59, got ${got.toSet.size} docs")
      } finally q2.stop()
    }
  }

  test("incremental-screen crash recovery: data arriving while the query is down is delivered exactly once") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val index = graft.ops.Dedup.buildRefIndex(
      Seq((10L, base)).toDF("doc_id", "text"))
    val ckpt = graft.TestSpark.tempDir("graft_screen_ckpt")
    val ms = MemoryStream[(Long, String)]
    // APPEND-only log (never keyed overwrite): a replayed batch after the
    // restart would surface as a duplicate (batchId, doc_id) entry here
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def start() = StreamingOps.incrementalScreen(
      ms.toDS().toDF("doc_id", "text"), index) { (dups, id) =>
        dups.collect().foreach(r =>
          seen.synchronized { seen += ((id, r.getLong(0))) })
      }.option("checkpointLocation", ckpt).start()
    val q1 = start()
    try {
      ms.addData((1L, base + " kilo"), // near-dup of the reference
        (2L, "first batch unrelated text with its very own words entirely"))
      q1.processAllAvailable()
    } finally q1.stop()
    // the crash window: a doc arrives while no query is running — the
    // offset log must hand it to the restarted query, once
    ms.addData((3L, base))
    val q2 = start()
    try {
      q2.processAllAvailable()
      val perDoc = seen.synchronized { seen.groupBy(_._2).view.mapValues(_.size).toMap }
      assert(perDoc === Map(1L -> 1, 3L -> 1),
        s"each flagged doc exactly once, nothing lost or replayed: $seen")
    } finally { q2.stop(); index.free() }
  }

  test("leak-monitor soak: watermark eviction holds dedup state to the horizon") {
    withRocksDb {
      val s = spark
      import s.implicits._
      implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
      val span = "a1 a2 a3 a4 a5 a6 a7 a8" // one bench gram
      val bench = Seq((20L, span)).toDF("doc_id", "text")
      val bg = graft.ops.Decontam.benchGramIds(bench)
      val ms = MemoryStream[(Timestamp, Long, String)]
      val query = StreamingOps.leakMonitor(
        ms.toDS().toDF("event_time", "doc_id", "text"), bg,
        watermark = "10 minutes")
        .writeStream.format("memory").queryName("leak_soak")
        .outputMode("update").start()
      try {
        val docsPerTrigger = 200
        // 20 triggers of FRESH leaked docs, event time advancing 5 min per
        // trigger: pairs older than the 10-minute horizon must evict, so
        // dedup state tracks ~2-3 triggers, never the 4000-pair history
        // event times start at 5 min, NOT 0: a row at the initial
        // watermark (0) is late by the <=-boundary rule and silently
        // dropped — the first soak draft lost exactly trigger 0 this way
        for (t <- 0 until 20) {
          val at = new Timestamp((t + 1).toLong * 5 * 60 * 1000)
          val base = t.toLong * docsPerTrigger
          ms.addData((0 until docsPerTrigger).map(i => (at, base + i, span)))
          query.processAllAvailable()
        }
        // one more leaked doc past every horizon: tolerates either side
        // of the boundary-batch emission (hence the +1 window below)
        ms.addData((new Timestamp(23L * 5 * 60 * 1000), 999999L, span))
        query.processAllAvailable()
        val finalState = stateRows(query)
        val streamedPairs = 20L * docsPerTrigger
        assert(finalState < streamedPairs / 2,
          s"dedup state $finalState did not evict (streamed $streamedPairs pairs)")
        // the running count survives eviction: breadth is cumulative even
        // though the dedup pairs behind it age out
        val maxBreadth = s.table("leak_soak").collect()
          .map(_.getLong(1)).max
        assert(maxBreadth >= streamedPairs && maxBreadth <= streamedPairs + 1,
          s"cumulative breadth $maxBreadth vs $streamedPairs streamed pairs")
      } finally query.stop()
    }
  }
}
