package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

class StreamingOpsSpec extends SparkSpec {

  private def ts(sec: Int) = new Timestamp(1700000000000L + sec * 1000L)

  test("streaming exact dedup drops within-watermark duplicates across batches") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    val ms = MemoryStream[(Timestamp, Long, String)]
    val deduped = StreamingOps.exactDedup(
      ms.toDS().toDF("event_time", "doc_id", "text"))
    val query = deduped.writeStream.format("memory")
      .queryName("stream_dedup").outputMode("append").start()
    try {
      ms.addData((ts(0), 1L, "alpha doc"), (ts(1), 2L, "beta doc"))
      query.processAllAvailable()
      // duplicate text in a LATER batch, inside the watermark window
      ms.addData((ts(2), 3L, "alpha doc"), (ts(3), 4L, "gamma doc"))
      query.processAllAvailable()
      val kept = s.table("stream_dedup").select(col("doc_id"))
        .collect().map(_.getLong(0)).toSet
      assert(kept === Set(1L, 2L, 4L)) // doc 3 was a duplicate of doc 1
    } finally query.stop()
  }

  test("PII detection/redaction runs unchanged on a stream (stateless map)") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    val ms = MemoryStream[(Long, String)]
    val out = graft.ops.Pii.detect(ms.toDS().toDF("doc_id", "text"))
    val query = out.writeStream.format("memory")
      .queryName("stream_pii").outputMode("append").start()
    try {
      ms.addData((1L, "mail a@b.io today"), (2L, "nothing personal"))
      query.processAllAvailable()
      val byId = s.table("stream_pii").collect()
        .map(r => r.getLong(0) -> ((r.getLong(6), r.getString(5)))).toMap
      assert(byId(1L) == ((1L, "mail <EMAIL> today")))
      assert(byId(2L) == ((0L, "nothing personal")))
    } finally query.stop()
  }

  test("stateless quality filter runs unchanged on a stream") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    val ms = MemoryStream[(Timestamp, Long, String)]
    val filtered = StreamingOps.qualityFiltered(
      ms.toDS().toDF("event_time", "doc_id", "text"))
    val query = filtered.writeStream.format("memory")
      .queryName("stream_quality").outputMode("append").start()
    try {
      ms.addData(
        (ts(0), 1L, "a decent document with mostly distinct words here"),
        (ts(1), 2L, "spam spam spam spam spam spam spam spam spam spam"))
      query.processAllAvailable()
      val kept = s.table("stream_quality").select(col("doc_id"))
        .collect().map(_.getLong(0)).toSet
      assert(kept === Set(1L)) // the repetitive doc is cut
    } finally query.stop()
  }

  test("crawl front-door runs on a stream: html extract -> url canonicalize -> verdict") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    // the full stateless ingest chain a live crawl would run per
    // micro-batch: all three are scan-stage expressions, so streaming
    // them is column plumbing, not new machinery
    val ms = MemoryStream[(Long, String, String)]
    val extracted = ms.toDS().toDF("doc_id", "url", "html")
      .select(col("doc_id"),
        graft.ops.Urls.normalize(col("url")).as("url_norm"),
        graft.ops.Html.extract(col("html")).as("text"))
    val query = extracted.writeStream.format("memory")
      .queryName("stream_frontdoor").outputMode("append").start()
    try {
      ms.addData(
        (1L, "HTTP://WWW.Site.com:80/a?utm_source=x&id=1",
          "<html><body><p>hello crawl</p><script>junk()</script></body></html>"),
        (2L, "not a url", "plain & <b>bold</b> text"))
      query.processAllAvailable()
      val got = s.table("stream_frontdoor").collect()
        .map(r => r.getLong(0) -> ((
          if (r.isNullAt(1)) null else r.getString(1), r.getString(2)))).toMap
      assert(got(1L) === (("http://site.com/a?id=1", "hello crawl\n\n\n")))
      assert(got(2L) === ((null, "plain & bold text")))
    } finally query.stop()
  }

  test("trainer-shard sink: each micro-batch lands as parseable .tfrecord.gz shards") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    import graft.sources.TfRecord
    val outDir = java.nio.file.Paths.get(graft.TestSpark.tempDir("graft_stream_tfr"))
    val ms = MemoryStream[(Long, String)]
    val query = ms.toDS().toDF("doc_id", "text").writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        // one shard per partition per trigger, written EXECUTOR-SIDE —
        // the production layout (shard count = upstream parallelism; no
        // driver collect, no coalesce bottleneck). local[n] executors
        // share the test filesystem, so the parse-back below sees them.
        val dir = outDir.toString
        batch.select(col("doc_id"), col("text")).as[(Long, String)]
          .mapPartitions { it =>
            val recs = it.map { case (id, text) =>
              TfRecord.encodeExample(Seq(
                "doc_id" -> TfRecord.Feature.of(id),
                "text" -> TfRecord.Feature.of(text)))
            }.toSeq
            if (recs.isEmpty) Iterator.empty
            else {
              val name = s"b$batchId-${java.util.UUID.randomUUID()}.tfrecord.gz"
              java.nio.file.Files.write(
                java.nio.file.Paths.get(dir, name),
                TfRecord.render(recs, gzip = true))
              Iterator(1)
            }
          }.foreach(_ => ())
        ()
      }
      .start()
    try {
      ms.addData((1L, "first doc"), (2L, "second doc"))
      query.processAllAvailable()
      ms.addData((3L, "third doc arrives later"))
      query.processAllAvailable()
      val shards = java.nio.file.Files.list(outDir).iterator()
      val ids = scala.collection.mutable.Set.empty[Long]
      shards.forEachRemaining { p =>
        TfRecord.recordsAuto(p.getFileName.toString,
          java.nio.file.Files.readAllBytes(p)).foreach { rec =>
          ids += TfRecord.decodeExample(rec)("doc_id")
            .asInstanceOf[TfRecord.Int64Feature].values.head
        }
      }
      assert(ids === Set(1L, 2L, 3L))
    } finally query.stop()
  }

  test("streaming decontamination screens each batch against the static benchmark") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    val leak = "the quick brown fox jumps over the lazy dog tonight"
    val bench = Seq((100L, leak)).toDF("doc_id", "text")
    // caller-owned gram-set lifecycle (the RefIndex pattern)
    val benchGrams = graft.ops.Decontam.benchGramSet(bench).cache()
    val ms = MemoryStream[(Long, String)]
    val hits = scala.collection.mutable.Map[Long, Long]()
    val query = StreamingOps.contaminationScreen(
      ms.toDS().toDF("doc_id", "text"), benchGrams) { (contam, _) =>
        contam.collect().foreach(r => hits(r.getLong(0)) = r.getLong(1))
      }.start()
    try {
      ms.addData(
        (1L, s"prefix words then $leak and more trailing content"),
        (2L, "completely unrelated text with no benchmark overlap at all here"))
      query.processAllAvailable()
      // doc 3 leaks in a LATER batch: batch-local screening still catches it
      ms.addData((3L, leak))
      query.processAllAvailable()
      assert(hits.contains(1L) && hits.contains(3L))
      assert(!hits.contains(2L))
      assert(hits(1L) >= 1L)
    } finally {
      query.stop()
      benchGrams.unpersist()
    }
  }

  test("streaming incremental dedup screens batches against the static reference") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val ref = Seq((10L, base)).toDF("doc_id", "text")
    val index = graft.ops.Dedup.buildRefIndex(ref)
    val ms = MemoryStream[(Long, String)]
    val flagged = scala.collection.mutable.Map[Long, (Long, Double)]()
    val query = StreamingOps.incrementalScreen(
      ms.toDS().toDF("doc_id", "text"), index) { (dups, _) =>
        dups.collect().foreach(r =>
          flagged(r.getLong(0)) = (r.getLong(1), r.getDouble(2)))
      }.start()
    try {
      ms.addData(
        (1L, base + " kilo"), // near-dup of the reference
        (2L, "first batch unrelated text with its very own words entirely"))
      query.processAllAvailable()
      // a LATER batch still screens against the cached reference index
      ms.addData((3L, base))
      query.processAllAvailable()
      assert(flagged.keySet === Set(1L, 3L))
      assert(flagged(1L)._1 === 10L && flagged(3L)._1 === 10L)
      assert(flagged(3L)._2 === 1.0)
    } finally {
      query.stop()
      index.free()
    }
  }

  test("bigram-LM scoring runs per micro-batch against a static model") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    val train = Seq((0L, "a b a b")).toDF("doc_id", "text")
    val (uni, bi, v) = graft.ops.Lm.bigramModel(train)
    val ms = MemoryStream[(Long, String)]
    val scores = scala.collection.mutable.Map[Long, Double]()
    val query = ms.toDS().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.ops.Lm.score(batch, uni, bi, v).collect()
          .foreach(r => scores(r.getLong(0)) = r.getDouble(2))
      }.start()
    try {
      ms.addData((1L, "a b"), (2L, "z z"))
      query.processAllAvailable()
      ms.addData((3L, "a b a")) // later batch, same static model
      query.processAllAvailable()
      assert(math.abs(scores(1L) - math.log(0.75)) < 1e-12)
      assert(math.abs(scores(2L) - math.log(0.5)) < 1e-12)
      assert(scores.contains(3L))
    } finally query.stop()
  }

  test("C4 line-filter stats run unchanged on a stream (stateless codegen map)") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    val ms = MemoryStream[(Long, String)]
    val out = graft.functions.LineStats(col("text"))
    val stats = ms.toDS().toDF("doc_id", "text")
      .select(col("doc_id"), out.getField("n_lines").as("n_lines"),
        out.getField("n_kept").as("n_kept"))
    val query = stats.writeStream.format("memory")
      .queryName("stream_lines").outputMode("append").start()
    try {
      ms.addData(
        (1L, "menu | nav\nThis sentence is long enough to be kept, truly."),
        (2L, "short\nstuff"))
      query.processAllAvailable()
      val byId = s.table("stream_lines").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(byId(1L) === ((2L, 1L)))
      assert(byId(2L) === ((2L, 0L)))
    } finally query.stop()
  }

  test("streaming funnel: one batch reproduces q107's stage populations") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    val ms = MemoryStream[(Long, String, Long)]
    val mon = StreamingOps.funnelMonitor(
      ms.toDS().toDF("user_id", "event_type", "ms"))
    val query = mon.writeStream.format("memory")
      .queryName("funnel_mon").outputMode("update").start()
    try {
      // the q107 batch-spec scenario, deliberately added OUT of order
      ms.addData(
        (1L, "purchase", 3000L), (1L, "click", 2000L), (1L, "view", 1000L),
        (2L, "click", 1000L), (2L, "view", 2000L), (2L, "purchase", 3000L),
        (3L, "view", 1000L),
        (4L, "click", 1000L), (4L, "purchase", 2000L))
      query.processAllAvailable()
      val adv = s.table("funnel_mon").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      // stage counts match the batch funnel: 3 views, 1 click, 1 purchase
      assert(adv === Set(
        (1L, 1, 1000L), (1L, 2, 2000L), (1L, 3, 3000L),
        (2L, 1, 2000L), (3L, 1, 1000L)))
    } finally query.stop()
  }

  test("streaming funnel: marks refine across batches; rejected events never resurrect") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    val ms = MemoryStream[(Long, String, Long)]
    val mon = StreamingOps.funnelMonitor(
      ms.toDS().toDF("user_id", "event_type", "ms"))
    val query = mon.writeStream.format("memory")
      .queryName("funnel_mon2").outputMode("update").start()
    try {
      ms.addData((5L, "view", 5000L), (5L, "click", 4000L)) // click too early
      query.processAllAvailable()
      // batch 2: a LATE earlier view refines tView (5000 -> 1000) and the
      // in-batch sort applies it before the late click, which now qualifies
      ms.addData((5L, "view", 1000L), (5L, "click", 3000L))
      query.processAllAvailable()
      val adv = s.table("funnel_mon2").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      // batch 1's rejected click@4000 is NOT resurrected: stage 2 advances
      // at the batch-2 click@3000
      assert(adv === Set((5L, 1, 5000L), (5L, 2, 3000L)))
    } finally query.stop()
  }

  test("streaming leak monitor: cumulative distinct-doc breadth per bench item") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    val s1 = "a1 a2 a3 a4 a5 a6 a7 a8"
    val s2 = "b1 b2 b3 b4 b5 b6 b7 b8"
    val bench = Seq((20L, s"$s1 $s2"),
      (40L, "c1 c2 c3 c4 c5 c6 c7 c8")).toDF("doc_id", "text")
    val bg = graft.ops.Decontam.benchGramIds(bench)
    val ms = MemoryStream[(Timestamp, Long, String)]
    val mon = StreamingOps.leakMonitor(
      ms.toDS().toDF("event_time", "doc_id", "text"), bg)
    val query = mon.writeStream.format("memory")
      .queryName("leak_mon").outputMode("update").start()
    try {
      ms.addData((ts(0), 1L, s1))
      query.processAllAvailable()
      // update-mode memory sink appends revisions; counts are monotone,
      // so the max per item is the current state
      def state() = s.table("leak_mon").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).max }
      assert(state() === Map(20L -> 1L))
      ms.addData(
        (ts(1), 1L, s1),            // same doc re-observed: deduped, no bump
        (ts(2), 2L, s"$s1 $s2"),    // both spans, ONE new distinct doc
        (ts(3), 3L, "w1 w2 w3 w4 w5 w6 w7 w8 w9"))  // clean: never joins
      query.processAllAvailable()
      assert(state() === Map(20L -> 2L))  // item 40 never leaks: absent
    } finally query.stop()
  }

  test("streaming near-dup screen: cross-batch LSH hit equals batch q31; state band-bounded") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    // the committed q31 planted-dup pair (DedupSpec): one token differs,
    // so the pair is a NEAR-dup (est < 1.0) that batch q31 provably pairs
    val a = "a b c d e f g h"
    val b = "a b c d e f g i"
    val unrelated = "u1 u2 u3 u4 u5 u6 u7 u8 u9"
    val ms = MemoryStream[(Timestamp, Long, String)]
    val hits = StreamingOps.nearDupScreen(
      ms.toDS().toDF("event_time", "doc_id", "text"))
    val query = hits.writeStream.format("memory")
      .queryName("neardup_screen").outputMode("append").start()
    try {
      ms.addData((ts(0), 1L, a), (ts(1), 2L, unrelated))
      query.processAllAvailable()
      assert(s.table("neardup_screen").isEmpty,
        "no near-dups in the first batch")
      // the planted CROSS-BATCH near-dup arrives in a later trigger,
      // plus a short doc (< 3 tokens — no signature, silently dropped)
      ms.addData((ts(5), 3L, b), (ts(6), 4L, "v1 v2"))
      query.processAllAvailable()
      // a pair may emit once per matching band (documented trade) —
      // consumers distinct on (doc_id, dup_of, est)
      val rows = s.table("neardup_screen").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).distinct
      assert(rows.length === 1, s"exactly one distinct hit: ${rows.toSeq}")
      val (docId, dupOf, est) = rows.head
      assert(docId === 3L && dupOf === 1L, "later doc flags against earlier")
      assert(est >= 0.5 && est < 1.0, s"near-dup, not exact: est=$est")
      // the screen IS q31 live: the batch operator on the same three docs
      // (public query surface) emits the same pair at the same estimate
      val batch = graft.ops.Dedup.queries("q31_dedup_minhash")(s,
        docsDir(Seq((1L, a), (2L, unrelated), (3L, b))))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(batch.toSeq === Seq((1L, 3L, est)),
        s"batch q31 disagrees: ${batch.toSeq} vs est=$est")
      // ONE stateful operator (the band-keyed flatMapGroupsWithState):
      // signatures are map-side, no hidden stream aggregation/dedup
      assert(query.lastProgress.stateOperators.length === 1,
        s"expected exactly one stateful operator: ${query.lastProgress}")
      // bounded state: one row per LIVE (band, bucket) — 3 signed docs x
      // 4 bands is the ceiling; the 2-token doc contributes nothing
      val stateRows = query.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows <= 12, s"state must be band-bounded, got $stateRows")
      assert(stateRows >= 1, "expected live band-bucket state")
    } finally query.stop()
  }

  test("streaming intake leak monitor: late-batch leak localized to its bucket; state leak-bounded") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    val leakSpan = "a1 a2 a3 a4 a5 a6 a7 a8"
    val bg = graft.ops.Decontam.benchGramIds(
      Seq((20L, leakSpan)).toDF("doc_id", "text"))
    val ms = MemoryStream[(Timestamp, Long, String)]
    val mon = StreamingOps.leakIntakeMonitor(
      ms.toDS().toDF("event_time", "doc_id", "text"), bg)
    val query = mon.writeStream.format("memory")
      .queryName("leak_intake").outputMode("update").start()
    try {
      // batch 1 (intake minute 0): clean docs only — no bucket appears
      ms.addData((ts(0), 1L, "w1 w2 w3 w4 w5 w6 w7 w8 w9"),
        (ts(5), 2L, "x1 x2 x3 x4 x5 x6 x7 x8 x9"))
      query.processAllAvailable()
      // update-mode memory sink appends revisions; counts are monotone
      def state() = s.table("leak_intake").collect()
        .map(r => (r.getTimestamp(0), r.getLong(1)))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).max }
      assert(state().isEmpty, "clean batch must emit no leak bucket")
      // batch 2: the PLANTED LATE LEAK — two contaminated docs arrive a
      // minute into the intake, plus another clean doc
      ms.addData((ts(65), 3L, s"prefix then $leakSpan inside"),
        (ts(70), 4L, leakSpan),
        (ts(72), 5L, "y1 y2 y3 y4 y5 y6 y7 y8 y9"))
      query.processAllAvailable()
      val after2 = state()
      assert(after2.values.toSeq === Seq(2L),
        s"exactly one bucket with both leaked docs: $after2")
      val leakBucket = after2.keys.head
      // batch 3: doc 3 re-observed (deduped, no bump) + more clean docs
      ms.addData((ts(75), 3L, s"prefix then $leakSpan inside"),
        (ts(80), 6L, "z1 z2 z3 z4 z5 z6 z7 z8 z9"))
      query.processAllAvailable()
      assert(state() === Map(leakBucket -> 2L),
        "re-observed doc must not bump; clean docs never appear")
      // bounded state: dedup rows track LEAKED docs (2), agg rows track
      // live buckets (1) — the three clean docs contribute nothing
      val stateRows = query.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows <= 4, s"state must be leak-bounded, got $stateRows rows")
      assert(stateRows >= 1, "expected live state")
    } finally query.stop()
  }
}
