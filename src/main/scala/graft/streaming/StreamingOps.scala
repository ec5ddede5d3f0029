package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming forms of the training-data operators: a pipeline ingesting
  * documents continuously needs the same dedup/quality decisions as the
  * batch path, expressed against `readStream` sources.
  *
  * - Exact dedup keys on `(xxhash64(text), length)` like batch q30 — the
  *   state store holds 16-byte keys, never document bodies — and bounds
  *   its state with `dropDuplicatesWithinWatermark`: duplicates arriving
  *   within the watermark window are dropped, keys older than the
  *   watermark are evicted (unbounded-state dedup is the classic
  *   streaming-job killer).
  * - The map-only operators (quality/repetition/token stats) are
  *   stateless projections and run UNCHANGED on a streaming frame —
  *   [[qualityFiltered]] demonstrates the composition with the native
  *   RepetitionStats expression.
  */
object StreamingOps {

  /** Event-time horizon of the stateful screens; [[leakIntakeMonitor]]'s
    * intake bucket; [[nearDupScreen]]'s estimated-Jaccard flag threshold. */
  private val Watermark = "10 minutes"
  private val IntakeBucket = "1 minute"
  private val NearDupMinEst = 0.5

  /** Streaming exact dedup. `docs` needs `event_time` (timestamp) and
    * `text`; emits the first-seen row per distinct text within the
    * watermark horizon.
    */
  def exactDedup(docs: DataFrame, watermark: String = Watermark): DataFrame =
    docs
      .withColumn("text_key", xxhash64(col("text")))
      .withColumn("text_len", length(col("text")))
      .withWatermark("event_time", watermark)
      .dropDuplicatesWithinWatermark("text_key", "text_len")
      .drop("text_key", "text_len")

  /** Streaming benchmark decontamination: screen each micro-batch of
    * documents against a STATIC benchmark set with the batch operator
    * ([[graft.ops.Decontam.contaminated]]) inside `foreachBatch`. This is
    * exact, not an approximation: a document is one row, so its grams
    * never span micro-batches and batch-local screening equals global
    * screening; the benchmark gram set stays broadcast exactly as in
    * batch. `sink` receives each batch's `(doc_id, n_shared)` frame —
    * write it, anti-join it against the batch, alert on it.
    */
  def contaminationScreen(docs: DataFrame, benchGrams: DataFrame)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    // `benchGrams` is the caller-derived (and caller-held/freed)
    // [[graft.ops.Decontam.benchGramSet]] — derived ONCE, like
    // [[incrementalScreen]]'s RefIndex: an op-owned copy inside this
    // method would have no release path and would pin executor storage
    // for the application lifetime after the query stops.
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      sink(graft.ops.Decontam.contaminatedWithGrams(batch, benchGrams), batchId)
    }

  /** Streaming incremental dedup: screen each micro-batch of incoming
    * documents against a prebuilt STATIC reference index
    * ([[graft.ops.Dedup.buildRefIndex]] — the caller builds it once and
    * `free()`s it after the query stops). Per trigger this costs a
    * map-side scan of the held postings plus batch-scale work — the
    * reference corpus is never re-tokenized, re-shuffled, or pair-
    * expanded ([[graft.ops.Dedup.screenAgainstIndex]]; the gram space is
    * reference-scope, see its doc). What this does NOT flag — by
    * design — is near-dups BETWEEN two increment docs; that is the batch
    * q33/q45 job on the merged increment (or streaming [[exactDedup]]
    * upstream for exact copies). `sink` receives each batch's
    * `(doc_id, dup_of, jaccard)` frame.
    */
  def incrementalScreen(docs: DataFrame, index: graft.ops.Dedup.RefIndex)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      sink(graft.ops.Dedup.screenAgainstIndex(index, batch), batchId)
    }

  /** Stateless streaming quality filter: keep docs under the repetition
    * thresholds (Gopher-style dup_gram_ratio / top_token_ratio cuts).
    * Pure projection + filter — no state, no watermark needed.
    */
  def qualityFiltered(docs: DataFrame): DataFrame =
    docs
      .withColumn("st", graft.functions.RepetitionStats(col("text")))
      // ratio definitions shared with batch q44 — one source of truth
      .withColumn("dup_gram_ratio", graft.ops.TextAnalysis.dupGramRatio(col("st")))
      .withColumn("top_token_ratio", graft.ops.TextAnalysis.topTokenRatio(col("st")))
      .filter(col("dup_gram_ratio") <= graft.ops.TextAnalysis.MaxDupGramRatio &&
        col("top_token_ratio") <= graft.ops.TextAnalysis.MaxTopTokenRatio)
      .drop("st")

  /** Cumulative streaming leak monitor — the live form of batch q104
    * ([[graft.ops.Decontam.leakProfile]]): as documents stream in, keep a
    * running per-benchmark-item count of DISTINCT contaminated documents,
    * so an ingest pipeline can alert the moment an eval item's leak
    * breadth crosses a threshold instead of discovering it in the next
    * batch audit. Update-mode output: (bench_id, n_train_docs), revised
    * as items accumulate hits.
    *
    * State discipline (the 100 TB question): `benchGramIds` is the
    * caller-derived broadcast index (the [[contaminationScreen]]
    * contract — derived once, caller-held/freed); the corpus-side gram
    * stream is map-side and stateless. The two stateful operators are
    * both bounded: dropDuplicatesWithinWatermark on (bench_id, doc_id)
    * holds pairs for the watermark horizon only (contamination-rate-
    * bounded, NOT corpus-bounded — clean docs never survive the join),
    * and the running counts are bench-sized. A doc re-arriving after the
    * horizon can double-count, the standard watermark trade; gram-level
    * breadth (q104's n_shared_grams) stays a batch-audit column because
    * its distinct-state is gram-scale, not doc-scale.
    */
  def leakMonitor(docs: DataFrame, benchGramIds: DataFrame,
                  watermark: String = Watermark): DataFrame =
    docs
      .withWatermark("event_time", watermark)
      .select(col("event_time"), col("doc_id"),
        explode(graft.ops.Decontam.gramArray).as("g"))
      .join(broadcast(benchGramIds), "g")
      .dropDuplicatesWithinWatermark("bench_id", "doc_id")
      .groupBy(col("bench_id")).agg(count(lit(1)).as("n_train_docs"))

  /** Streaming intake-localized leak monitor — the live form of batch
    * q126 ([[graft.ops.Decontam.leakGrowth]]): as documents stream in,
    * keep a per-intake-bucket running count of DISTINCT contaminated
    * documents, so the pipeline localizes WHEN contamination entered
    * (a flat-then-jumping bucket indicts one crawl batch — quarantine
    * it) without waiting for the batch audit. [[leakMonitor]] answers
    * WHICH eval items leak; this answers WHEN they arrived. Update-mode
    * output: (intake_start timestamp, n_leaked_docs), revised as a
    * bucket's docs accumulate.
    *
    * State discipline (the [[leakMonitor]] contract): `benchGramIds` is
    * the caller-derived broadcast index; the gram explode + join is
    * map-side and stateless, and only LEAKED docs survive it. The two
    * stateful operators are bounded: dropDuplicatesWithinWatermark on
    * doc_id alone — contamination-rate-bounded, and strictly SMALLER
    * state than leakMonitor's (bench_id, doc_id) pairs since a doc
    * hitting many eval items is one key here — and the windowed counts
    * hold one row per intake bucket inside the watermark horizon
    * (closed buckets evict). Same watermark trade: a leaked doc
    * re-arriving after the horizon can double-count.
    */
  def leakIntakeMonitor(docs: DataFrame, benchGramIds: DataFrame): DataFrame =
    docs
      .withWatermark("event_time", Watermark)
      .select(col("event_time"), col("doc_id"),
        explode(graft.ops.Decontam.gramArray).as("g"))
      .join(broadcast(benchGramIds), "g")
      .dropDuplicatesWithinWatermark("doc_id")
      .groupBy(window(col("event_time"), IntakeBucket))
      .agg(count(lit(1)).as("n_leaked_docs"))
      .select(col("window.start").as("intake_start"), col("n_leaked_docs"))

  /** One doc retained in a [[nearDupScreen]] band bucket: id, packed
    * minhash signature, event-time ms (for watermark pruning). */
  case class BandMember(docId: Long, sig: Seq[Long], tsMs: Long)

  /** [[nearDupScreen]] state per (band, bucket): the retained members,
    * arrival-ordered, never more than the bucket cap. */
  case class BandBucket(members: List[BandMember])

  /** A [[nearDupScreen]] hit: `doc_id` arrived and collided with the
    * earlier `dup_of` in LSH band `band` at estimated Jaccard
    * `est_jaccard`. */
  case class NearDupHit(doc_id: Long, dup_of: Long, band: Int,
                        est_jaccard: Double)

  /** Streaming near-dup screen — the live form of batch q31's
    * MinHash+LSH machinery (the one dedup family that previously had no
    * streaming form; exact copies are [[exactDedup]]'s job and
    * reference-screening is [[incrementalScreen]]'s — this flags a doc
    * that is a NEAR-dup of another doc seen earlier ON THE SAME STREAM,
    * within the watermark horizon). Emits
    * (doc_id, dup_of, band, est_jaccard) in append mode.
    *
    * Geometry is IDENTICAL to batch q31 — same hashedGrams(3) space,
    * same 16-permutation minhash family, same hash-of-4-minima band
    * keys, same est = matching-minima/16, same ≥ 0.5 flag
    * threshold ([[graft.ops.Dedup.rowMinhashSig]] /
    * [[graft.ops.Dedup.rowBandKeys]] — the per-row twins of the batch
    * aggregate form) — so a hit here means "batch q31 would pair these
    * two docs via this band", and the spec asserts exactly that
    * differentially through the public q31 surface.
    *
    * State discipline (the [[leakMonitor]] contract, band-keyed):
    * signatures are computed MAP-SIDE (one row per doc, no stream-side
    * aggregation); the single stateful operator keys on (band, bucket)
    * and each bucket retains at most [[graft.ops.Dedup.BucketCap]]
    * members of ≤ 17 longs each, watermark-pruned on every visit and
    * evicted whole by event-time timeout once the horizon passes —
    * state is bounded by live-horizon volume × bands, never corpus
    * size. A bucket at cap stops comparing AND retaining (the batch
    * "mass-duplicate bucket is skipped, not exploded" rule: identical
    * payloads are exactDedup's job upstream). Two trades vs batch,
    * both documented q31 deltas: a pair matching in several bands can
    * emit once per band (pairsOnce's first-band dedup needs pair-scale
    * global state — consumers that care distinct on (doc_id, dup_of));
    * and a near-dup arriving after its twin left the horizon is missed,
    * the standard watermark trade.
    */
  def nearDupScreen(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import java.sql.Timestamp
    val s = docs.sparkSession
    import s.implicits._
    val banded = docs
      .withWatermark("event_time", Watermark)
      .select(col("event_time"), col("doc_id"),
        graft.ops.Dedup.rowMinhashSig.as("sig"))
      // all-sentinel = no gram (< 3 tokens): the aggregate form has no
      // row for such docs; the screen drops them the same way
      .filter(element_at(col("sig"), 1) < lit(graft.ops.Dedup.SigSentinel))
      .select(col("event_time"), col("doc_id"), col("sig"),
        posexplode(array(graft.ops.Dedup.rowBandKeys(col("sig")): _*))
          .as(Seq("band", "bkey")))
      .as[(Timestamp, Long, Seq[Long], Int, Int)]
    banded.groupByKey(r => (r._4, r._5))
      .flatMapGroupsWithState[BandBucket, NearDupHit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_, it, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val horizon = state.getCurrentWatermarkMs()
            var members = state.getOption.map(_.members).getOrElse(Nil)
              .filter(_.tsMs >= horizon)
            val out = List.newBuilder[NearDupHit]
            // (ts, id) order: in-batch disorder repaired exactly, and
            // "earlier doc = dup_of" is deterministic within a batch
            for ((ts, id, sig, band, _) <-
                 it.toArray.sortBy(r => (r._1.getTime, r._2))) {
              if (members.size < graft.ops.Dedup.BucketCap) {
                for (m <- members if m.docId != id) {
                  val matches = sig.iterator.zip(m.sig.iterator)
                    .count { case (x, y) => x == y }
                  val est = matches.toDouble / sig.length
                  if (est >= NearDupMinEst) out += NearDupHit(id, m.docId, band, est)
                }
                members = members :+ BandMember(id, sig, ts.getTime)
              }
            }
            if (members.isEmpty) state.remove()
            else {
              state.update(BandBucket(members))
              // evict the bucket one horizon after its newest member
              state.setTimeoutTimestamp(members.map(_.tsMs).max, Watermark)
            }
            out.result().iterator
          }
      }.toDF()
  }

  /** Per-user funnel marks: epoch-ms of the first view, first qualifying
    * click, first qualifying purchase; -1 = not reached. 24 bytes/user —
    * 10⁹ users ≈ 24 GB of state, the RocksDB-store class (see
    * [[InspectorStream]]'s provider option), not the in-memory one. */
  case class FunnelMarks(tView: Long, tClick: Long, tPurchase: Long)

  /** A user ADVANCING to `stage` (1 = view, 2 = click, 3 = purchase) at
    * event-time `at_ms`. */
  case class FunnelAdvance(user_id: Long, stage: Int, at_ms: Long)

  /** Live funnel monitor — the streaming form of batch q107
    * ([[graft.ops.Relational.funnel]]): per-user strict ordered
    * view → click → purchase tracking as events stream in, emitting a row
    * whenever a user reaches a NEW stage (update-mode progress a
    * dashboard folds into live stage counts). `events` needs
    * (user_id long, event_type string, ms long).
    *
    * Semantics vs batch: each micro-batch's events fold into the state
    * machine in (ms, event_type) order, so in-batch disorder is repaired
    * exactly; a single batch reproduces q107's stage populations. Across
    * batches the VIEW and CLICK marks refine monotonically downward — a
    * late-arriving EARLIER view/click lowers its mark and can qualify
    * future late events. The PURCHASE mark deliberately does NOT refine:
    * stage 3 emits exactly once at the first qualifying purchase, and an
    * earlier purchase arriving later is ignored — the emit contract (at
    * most 3 advances per user) would otherwise need retractions. An event
    * rejected in an earlier batch is not retroactively re-qualified
    * either (the state keeps three marks, never the event log; the
    * bounded-state trade [[leakMonitor]] documents for dedup pairs).
    *
    * Memory note: the 24-bytes-per-user figure is STORE state. Within a
    * single trigger each user's batch slice is buffered and sorted on its
    * task (`it.toArray.sortBy` — required for the exact in-batch repair),
    * so one user bursting millions of events in one micro-batch buffers
    * that burst on one task. Batch-skew-sensitive deployments should
    * bound per-trigger intake (maxOffsetsPerTrigger or source-side
    * throttling); the state store itself never holds more than the three
    * marks.
    */
  def funnelMonitor(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val s = events.sparkSession
    import s.implicits._
    events
      .select(col("user_id").cast("long"), col("event_type"),
        col("ms").cast("long"))
      .as[(Long, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[FunnelMarks, FunnelAdvance](
        OutputMode.Update, GroupStateTimeout.NoTimeout) { (user, it, state) =>
        var st = state.getOption.getOrElse(FunnelMarks(-1L, -1L, -1L))
        val out = scala.collection.mutable.ArrayBuffer.empty[FunnelAdvance]
        for ((_, tpe, ms) <- it.toArray.sortBy(e => (e._3, e._2))) tpe match {
          case "view" if st.tView < 0 || ms < st.tView =>
            if (st.tView < 0) out += FunnelAdvance(user, 1, ms)
            st = st.copy(tView = ms)
          case "click" if st.tView >= 0 && ms > st.tView &&
              (st.tClick < 0 || ms < st.tClick) =>
            if (st.tClick < 0) out += FunnelAdvance(user, 2, ms)
            st = st.copy(tClick = ms)
          case "purchase" if st.tClick >= 0 && ms > st.tClick &&
              st.tPurchase < 0 =>
            st = st.copy(tPurchase = ms)
            out += FunnelAdvance(user, 3, ms)
          case _ => // no state change: wrong type, out of order, or done
        }
        state.update(st)
        out.iterator
      }.toDF()
  }
}
