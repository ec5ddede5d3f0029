package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Dataset splitting/sampling for training pipelines. Map-side-only,
  * deterministic, and content-stable: the split of a document never
  * changes when the corpus around it grows or reorders (a property
  * `randomSplit` does not have — its assignment depends on partitioning),
  * so train/test contamination checks stay valid across dataset versions.
  */
object Sampling {

  /** Hash bucket 0..99 from the doc_id ([[TextAnalysis.md5Prefix]] — the
    * one shared definition of the cross-engine md5-prefix hash).
    */
  private def bucket100Of(id: Column) =
    pmod(TextAnalysis.md5Prefix(id.cast("string")), lit(100L))

  /** q46's 80/10/10 train/val/test label from an id column alone
    * ([[bucket100Of]]), shared so q123's exact and q130's near-dup
    * leakage audits grade the SAME assignment q46 ships. The column
    * form exists because q130 labels BOTH sides of a pair map-side —
    * a pure id function, never a join back to the corpus.
    */
  private[ops] def splitLabelOf(id: Column) =
    when(bucket100Of(id) < 80, lit("train"))
      .when(bucket100Of(id) < 90, lit("val"))
      .otherwise(lit("test"))

  private[ops] def splitLabel = splitLabelOf(col("doc_id"))

  /** Exact per-stratum `1/denom` sample, scale-safe.
    *
    * Semantics: within each stratum (a NULL stratum is its own stratum,
    * as in a window partition), order rows by `(h, id)` where
    * `h = md5Prefix(id)`, keep the first `ceil(n/denom)` — identical to a
    * `row_number()` window over the whole stratum. But THAT plan funnels
    * every row of a stratum through one reducer task (tens of TB for a
    * dominant language at corpus scale — the round-5 verdict's named
    * scale-killer). Instead:
    *
    *  1. Partial-agg per-(stratum, bucket) counts, where bucket = the top
    *     `bucketBits` bits of the 32-bit hash — 2^bucketBits ORDERED hash
    *     ranges. Fully parallel; at most |strata|·2^bucketBits small
    *     tuples reach the driver (4096 buckets by default — the width is
    *     a knob precisely so driver cost stays bounded when strata number
    *     in the hundreds).
    *  2. The driver walks each stratum's buckets in hash order: everything
    *     below the cutoff bucket is kept outright; the remainder is taken
    *     inside the cutoff bucket. If a cutoff bucket still holds more
    *     than `maxWindowRows` rows, it is REFINED: another count pass over
    *     just that hash range with `bucketBits` more bits, repeated until
    *     the range is small or the 32 hash bits are exhausted. Each pass
    *     is a full-parallel scan; ≤ ⌈32/bucketBits⌉ passes total.
    *  3. One broadcast null-safe join ships each stratum's final
    *     `(cutLo, cutHi, rem)`: rows with `h < cutLo` pass a map-side
    *     filter (no shuffle, no window); only rows inside
    *     `[cutLo, cutHi)` — ≤ maxWindowRows per stratum by construction —
    *     go through a `row_number` window to resolve the remainder.
    *
    * Because buckets are PREFIXES of the ordering key, `(h < cutLo) ∨
    * (h ∈ [cutLo, cutHi) ∧ rank-in-range ≤ rem)` is exactly
    * `rank-in-stratum ≤ ceil(n/denom)`. The count passes run as driver
    * actions at plan-construction time (like q43's documented fit
    * sample), not per output partition.
    */
  def stratifiedExact(df: DataFrame, stratum: String, id: String,
                      denom: Int, bucketBits: Int = 12,
                      maxWindowRows: Long = 1L << 22): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val base = df.select(col(id), col(stratum).cast("string").as(stratum))
      .withColumn("h", TextAnalysis.md5Prefix(col(id).cast("string")))

    // per-stratum state: keep h < lo outright; take rem inside [lo, hi)
    // (hi - lo is a power of two, lo aligned to it — subdividing by
    // shiftright keeps global bucket indices valid)
    final case class Cut(key: Option[String], lo: Long, hi: Long,
                         rem: Long, inRange: Long)

    def strKey(r: org.apache.spark.sql.Row): Option[String] =
      if (r.isNullAt(0)) None else Some(r.getString(0))

    // walk one stratum's ordered (bucket, count) list: returns the new
    // (lo, hi, rem, inRange) taking `take` rows from the given ranges
    def walk(buckets: Seq[(Long, Long)], take: Long, width: Long): (Long, Long, Long, Long) = {
      var cum = 0L
      buckets.sortBy(_._1).foreach { case (b, c) =>
        if (cum + c >= take && cum < take)
          return (b * width, (b + 1) * width, take - cum, c)
        cum += c
      }
      // take ≤ total rows by construction; unreachable
      throw new IllegalStateException(s"cutoff walk overran (take=$take)")
    }

    val shift0 = 32 - bucketBits
    val counts0 = base
      .groupBy(col(stratum), shiftright(col("h"), shift0).as("b"))
      .count().collect()
      .map(r => (strKey(r), r.getLong(1), r.getLong(2)))
    var cuts = counts0.groupBy(_._1).map { case (k, rows) =>
      val n = rows.map(_._3).sum
      val target = (n + denom - 1) / denom // = ceil(n/denom), n ≥ 1
      val (lo, hi, rem, inR) =
        walk(rows.map(t => (t._2, t._3)).toSeq, target, 1L << shift0)
      Cut(k, lo, hi, rem, inR)
    }.toSeq
    var width = 1L << shift0
    while (width > 1 && cuts.exists(_.inRange > maxWindowRows)) {
      val bits = math.min(bucketBits, java.lang.Long.numberOfTrailingZeros(width))
      val subShift = java.lang.Long.numberOfTrailingZeros(width) - bits
      width = 1L << subShift
      val (refine, done) = cuts.partition(_.inRange > maxWindowRows)
      val ranges = broadcast(refine.map(c => (c.key, c.lo, c.hi))
        .toDF("ck", "lo", "hi"))
      val sub = base.join(ranges, col(stratum) <=> col("ck") &&
          col("h") >= col("lo") && col("h") < col("hi"))
        .groupBy(col(stratum), shiftright(col("h"), subShift).as("b"))
        .count().collect()
        .map(r => (strKey(r), r.getLong(1), r.getLong(2)))
        .groupBy(_._1)
      cuts = done ++ refine.map { c =>
        val (lo, hi, rem, inR) =
          walk(sub(c.key).map(t => (t._2, t._3)).toSeq, c.rem, width)
        Cut(c.key, lo, hi, rem, inR)
      }
    }

    val cutDf = broadcast(cuts.map(c => (c.key, c.lo, c.hi, c.rem))
      .toDF("ck", "cutLo", "cutHi", "rem"))
    val j = base.join(cutDf, col(stratum) <=> col("ck"))
    val below = j.filter(col("h") < col("cutLo"))
    val atCut = j.filter(col("h") >= col("cutLo") && col("h") < col("cutHi"))
      .withColumn("rn", row_number().over(Window.partitionBy(col(stratum))
        .orderBy(col("h").asc, col(id).asc)))
      .filter(col("rn") <= col("rem"))
    below.select(col(id), col(stratum))
      .unionAll(atCut.select(col(id), col(stratum)))
  }

  /** The default target mixture for the q59 driver query: deliberately far
    * from the corpus's natural language distribution so the resampling
    * actually reweights.
    */
  val DefaultMix: Map[String, Double] =
    Map("en" -> 0.4, "zh" -> 0.25, "de" -> 0.15, "fr" -> 0.1, "es" -> 0.1)

  /** Source-mixture resampling — the "data mixing" step of a training
    * pipeline: downsample each stratum (here `lang`) so the kept corpus's
    * char mass matches the target weight vector, WITHOUT upsampling.
    * With mass_l = Σ n_chars per stratum, the largest achievable total is
    * T = min_l(mass_l / w_l); each stratum keeps rate_l = w_l·T/mass_l of
    * its mass (= 1 for the binding stratum). Doc selection is the shared
    * deterministic md5-prefix hash: keep iff h < rate_l·2^32, so the kept
    * set is content-stable across corpus versions like q46's split.
    * Strata without a weight are excluded (weight 0).
    *
    * Scale: two corpus passes, both map-parallel — a column-pruned
    * (lang, n_chars) aggregation collected as a bounded plan-time action
    * (|strata| rows — q47's cutoff-walk precedent), then a broadcast
    * rate join + map-side hash filter. No corpus-scale shuffle at all.
    * The driver step is also where unachievable mixtures FAIL FAST: a
    * weighted stratum that is absent or has zero char mass would
    * otherwise drive T to 0 (silently emptying the output) or drop out
    * of the rate join (silently rescaling the mixture off-target).
    */
  def mixSample(docs: DataFrame, weights: Map[String, Double] = DefaultMix): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      "mixSample: weights must be non-empty and strictly positive")
    val s = docs.sparkSession
    import s.implicits._
    val mass = docs.filter(col("lang").isin(weights.keys.toSeq: _*))
      .groupBy(col("lang")).agg(sum(col("n_chars")).cast("double").as("mass"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val missing = weights.keySet.filterNot(l => mass.getOrElse(l, 0.0) > 0)
    require(missing.isEmpty,
      "mixSample: weighted strata with no char mass in the corpus: " +
        missing.toSeq.sorted.mkString(", "))
    val t = weights.map { case (l, w) => mass(l) / w }.min
    val rates = weights.toSeq
      .map { case (l, w) => (l, w * t / mass(l)) }.toDF("lang", "rate")
    docs.join(broadcast(rates), "lang")
      .filter(TextAnalysis.md5Prefix(col("doc_id").cast("string")).cast("double") <
        col("rate") * 4294967296.0)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
  }

  /** Quality-weighted (importance) sampling (q79): keep each doc with
    * probability = its vocabulary-diversity score damped by a length
    * floor, decided by a content-stable hash — Bernoulli(p_doc) without
    * randomness. The standard "prefer higher-quality data without a hard
    * cutoff" pass.
    *
    * p = uniq_ratio · min(1, n_words/20): the damping term matters —
    * bare uniq_ratio is trivially 1.0 for empty/one-word docs, which
    * would keep the WORST documents with certainty.
    *
    * Map-side only (a filter inside the scan projection), deterministic,
    * and growth-stable (q46's virtue: adding documents never flips
    * another document's keep decision — `randomSplit`-style sampling
    * re-rolls everything on every partitioning change).
    */
  def importanceSample(docs: DataFrame): DataFrame = {
    val w = TextAnalysis.words
    val p = size(array_distinct(w)).cast("double") / size(w) *
      least(lit(1.0), size(w).cast("double") / 20.0)
    // u ~ Uniform[0,1): 32-bit md5 prefix / 2^32 — exact division by a
    // power of two, so both engines compare identical doubles
    val u = TextAnalysis.md5Prefix(col("doc_id").cast("string")) /
      lit(4294967296.0)
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), p.as("p"), u.as("u"))
      .filter(col("u") < col("p"))
      .select(col("doc_id"), round(col("p"), 6).as("p"),
        round(col("u"), 6).as("u"))
  }

  /** Vocabulary finalization (q81): contiguous token ids by frequency
    * rank — the step between BPE merges and the trainer (embedding rows
    * are indexed by exactly this table). One (token) partial-agg shuffle
    * over the corpus builds the vocab; the global rank is a
    * range-partitioned sort + `zipWithIndex`, NOT a global row_number
    * window: the sort spreads the vocab across tasks on sampled range
    * boundaries, and zipWithIndex adds per-partition offsets with one
    * extra partition-count job — no task ever holds the whole table. (A
    * 100 TB web corpus exceeds 10^8 distinct tokens even at minCount=2 —
    * typos, unicode junk — so the pre-round-8 unpartitioned window was a
    * single-reducer funnel at exactly the scale this table exists for.)
    * Deterministic: (n desc, token asc) is a total order because tokens
    * are distinct after the groupBy; ties rank lexicographically. The
    * RDD hop is the documented exception to DataFrame-only: Spark has no
    * partition-offset rank primitive, and this is the standard shape.
    */
  def vocabIds(docs: DataFrame): DataFrame = {
    val minCount = 2L
    val s = docs.sparkSession
    val counts = docs.filter(col("text").isNotNull)
      .select(explode(TextAnalysis.words).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
    val sorted = counts.orderBy(col("n").desc, col("token").asc)
    val schema = sorted.schema
      .add("token_id", org.apache.spark.sql.types.LongType, nullable = false)
    val ranked = sorted.rdd.zipWithIndex().map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i)
    }
    s.createDataFrame(ranked, schema)
  }

  /** Temperature-scaled domain mixture weights (the multilingual sampling
    * rule of XLM-R/mBERT applied to sources, α = 0.5): a domain's
    * sampling weight is √tokens renormalized, so head domains are
    * downweighted and tail domains boosted — the table q59-style
    * resampling or a DoReMi-ish reweighting run reads as ITS input.
    * Per source: doc count, exact token sum (q39's ws-token definition
    * via [[Dedup.tokens]], reduced map-side — bodies never shuffle),
    * raw corpus share, α-weight, and the boost factor weight/share.
    *
    * Scale: one partial-agg shuffle keyed by source; the normalizer is a
    * 1-row stats frame broadcast back (the established tiny-crossJoin
    * pattern). The √-term sum folds a SORTED source list (bounded by the
    * domain catalog, ≤ thousands) so the FP accumulation order is pinned
    * — the oracle's ordered aggregate adds the same doubles in the same
    * order, and sqrt/div are IEEE-exact, so the weights hash-match.
    * Source is non-null by corpus contract (sort key coalesces to "" so
    * a violation fails the gate loudly rather than reordering silently).
    */
  def domainMix(docs: DataFrame): DataFrame = {
    val share = col("sum_tokens").cast("double") / col("total_tokens")
    val weight = sqrt(col("sum_tokens").cast("double")) / col("denom")
    mixStats(docs)
      .select(col("source"), col("n_docs"), col("sum_tokens"),
        round(share, 6).as("share"),
        round(weight, 6).as("weight"),
        round(weight / share, 6).as("boost"))
  }

  /** Shared q93/q99 core: the per-source count frame crossed with the
    * 1-row corpus normalizer (total tokens + the pinned-order √-sum),
    * all UNROUNDED — each query formats its own view. */
  private def mixStats(docs: DataFrame): DataFrame = {
    val per = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(Dedup.tokens)).cast("long").as("sum_tokens"))
    val tot = per.agg(
      sum(col("sum_tokens")).as("total_tokens"),
      aggregate(
        sort_array(collect_list(struct(
          coalesce(col("source"), lit("")).as("s"),
          sqrt(col("sum_tokens").cast("double")).as("t")))),
        lit(0.0), (acc, x) =>
          // an all-NULL-text source has NULL sum_tokens -> NULL sqrt; the
          // oracle's ordered sum SKIPS that NULL, so the fold must too --
          // one poisoned term would otherwise NULL every source's weight
          acc + coalesce(x.getField("t"), lit(0.0))).as("denom"))
    per.crossJoin(broadcast(tot))
  }

  /** The EXECUTABLE form of q93's mixture: per source, the keep rate a
    * hash-sampler applies to hit the α-weights at a fixed token budget
    * (half the corpus here), the tokens that rate keeps, and whether the
    * source is budget-binding. rate = min(1, w·B / tokens), B = total/2 —
    * the no-upsampling policy (q59's): a capped source contributes
    * everything it has and the shortfall is REPORTED (deficit_tokens),
    * never silently redistributed — redistribution changes the mixture,
    * which is the mixture designer's call, not the sampler's.
    *
    * Scale: one source-keyed partial-agg shuffle ([[mixStats]]); the plan
    * itself is arithmetic on the catalog-bounded frame. FP: the same IEEE
    * double ops in the same order as the oracle SQL (the q59/q93
    * cross-engine contract); kept/deficit use floor so the integers are
    * exact, not rounded.
    */
  def mixPlan(docs: DataFrame): DataFrame = {
    val tokD = col("sum_tokens").cast("double")
    val weight = sqrt(tokD) / col("denom")
    val target = weight * (col("total_tokens").cast("double") * 0.5)
    val rate = least(lit(1.0), target / tokD)
    mixStats(docs)
      .select(col("source"), col("sum_tokens"),
        round(weight, 6).as("weight"),
        round(rate, 6).as("rate"),
        floor(rate * tokD).cast("long").as("kept_tokens"),
        (target >= tokD).cast("int").as("capped"),
        floor(greatest(lit(0.0), target - tokD)).cast("long")
          .as("deficit_tokens"))
  }

  /** Heaps-law vocabulary growth curve (q121): distinct-token count at
    * each of [[Checkpoints]] equal slices of the corpus in doc_id order —
    * the curve a tokenizer budget is planned against (vocab still
    * climbing steeply at 100% means the corpus under-covers its
    * domain; a flat tail means diminishing returns per crawl). doc_id
    * is the corpus order by convention (synthetic ids are
    * intake-ordered; at 100 TB substitute any monotone intake key).
    *
    * Scale shape: NO corpus-scale sort or rank. Each token's first
    * occurrence is `min(doc_id)` — one map-side-combined aggregation,
    * the only corpus-scale pass (output is vocab-sized). The checkpoint
    * index is pure integer arithmetic against a 1-row broadcast horizon
    * (k = ⌈C·id/max_id⌉ via `div`), the per-checkpoint histogram is ≤ C
    * rows, and the cumulative is the q102-style triangle join over the
    * ≤ C-row spine — never a window (and never the unpartitioned-window
    * warning, see the q72 note). Missing checkpoints (a slice minting
    * no new token) still emit their cumulative row via the spine.
    *
    * Two vocabularies ride the same machinery: raw whitespace tokens
    * (q48's definition) and adjacent bigram TYPES over the q119
    * empty-filtered tokens — the bigram curve keeps climbing long
    * after a small closed unigram vocabulary saturates (it is what
    * makes the oracle non-vacuous on the synthetic corpus, whose 31
    * words all appear in the first slice).
    */
  def vocabGrowth(docs: DataFrame): DataFrame = {
    val session = docs.sparkSession
    val live = docs.filter(col("text").isNotNull)
    val horizon = live.agg(max(col("doc_id")).as("max_id"))
    def bucket(idCol: String) = checkpointOf(idCol, Checkpoints)
    def firstBuckets(first: DataFrame) = first
      .crossJoin(broadcast(horizon))
      .groupBy(bucket("first_id").as("bk")).agg(count(lit(1)).as("c"))
    val tokenBuckets = firstBuckets(live
      .select(col("doc_id"), explode(Dedup.tokens).as("tok"))
      .groupBy(col("tok")).agg(min(col("doc_id")).as("first_id")))
    val bigramBuckets = firstBuckets(bigrams(live)
      .groupBy(col("w1"), col("w2"))
      .agg(min(col("doc_id")).as("first_id")))
    val docBuckets = live
      .select(col("doc_id")).crossJoin(broadcast(horizon))
      .groupBy(bucket("doc_id").as("bk")).agg(count(lit(1)).as("c"))
    def cum(buckets: DataFrame, as: String) =
      cumOverSpine(session, Checkpoints, buckets, as)
    cum(docBuckets, "n_docs")
      .join(cum(tokenBuckets, "vocab"), Seq("k"))
      .join(cum(bigramBuckets, "bigram_types"), Seq("k"))
      .select(col("k").as("checkpoint"), col("n_docs"), col("vocab"),
        col("bigram_types"))
  }

  /** [[vocabGrowth]]'s bigrams: one (doc_id, w1, w2) row per adjacent
    * pair of non-empty whitespace tokens.
    */
  private[ops] def bigrams(docs: DataFrame): DataFrame = {
    // array_remove ≡ filter(_ =!= "") on a no-null token array, and it is
    // codegen where the filter lambda was CodegenFallback (r21)
    val filtered = array_remove(Dedup.tokens, "")
    // r21: adjacent pairs via a position generator + two element_at
    // lookups — explode and element_at are codegen, where the old
    // zip_with(slice, slice) lambda was CodegenFallback and materialized
    // a struct ARRAY per doc before exploding it (guide §1.2 step 2 /
    // §4.1: prefer codegen-capable spellings). Same (w1, w2) string
    // pairs, same min(doc_id) aggregation, bit-identical buckets.
    docs
      .select(col("doc_id"), filtered.as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("t")) - 1)).as("i"), col("t"))
      .select(col("doc_id"),
        element_at(col("t"), col("i")).as("w1"),
        element_at(col("t"), col("i") + 1).as("w2"))
  }

  /** Slices of the growth-curve family's intake axis (q121/q124/q125/q126). */
  private[ops] val Checkpoints = 10

  /** k = ⌈checkpoints·id/max_id⌉ clamped to ≥ 1: the intake-checkpoint
    * index shared by the growth-curve family (q121/q124/q125) — pure
    * integer ceil-division against a `max_id` column expected in scope
    * from the broadcast 1-row horizon frame, so checkpoint assignment
    * never sorts or ranks the corpus.
    */
  private[ops] def checkpointOf(idCol: String, checkpoints: Int) =
    greatest(lit(1L),
      expr(s"($checkpoints * $idCol + max_id - 1) div max_id"))

  /** Left-triangle cumulative of a ≤ checkpoints-row `(bk, c)` histogram
    * over the 1..checkpoints spine (the q102 triangle idiom — a
    * checkpoint whose slice contributes nothing still emits its
    * cumulative row; never a window).
    */
  private[ops] def cumOverSpine(session: SparkSession, checkpoints: Int,
      buckets: DataFrame, as: String): DataFrame = {
    val spine = session.range(1, checkpoints + 1L).select(col("id").as("k"))
    spine.join(buckets, buckets("bk") <= spine("k"), "left")
      .groupBy(col("k"))
      .agg(coalesce(sum(col("c")), lit(0L)).as(as))
  }

  /** Source-mix stationarity (q125): per intake checkpoint ([[Checkpoints]]
    * equal doc_id slices), the total-variation distance in integer ppm
    * between the slice's source-share distribution and the whole
    * corpus's — "is my crawl's mix stationary, or did the last 10%
    * become all mirror dumps". q122 scores each SOURCE against the
    * corpus token distribution; this scores each TIME SLICE against the
    * corpus source mix — the curve a curriculum or mixing schedule is
    * planned against, and the alarm that fires when an intake window's
    * composition silently shifts. Doc-share based (every doc counts
    * once, no text dependence); both distributions are floored to
    * integer ppm FIRST (q122's rule — the metric is DEFINED on the
    * floored values), so every term is int64 and the gate compares
    * bit-identical integers.
    *
    * Scale shape: ONE corpus-scale pass — the (checkpoint, source)
    * partial agg, map-side combined, output ≤ Checkpoints·|catalog|
    * rows — MATERIALIZED once ([[Materialize]], the multi-consumer
    * contract) with everything downstream arithmetic on catalog-bounded
    * frames riding broadcasts. Absent sources (in the corpus but not in
    * a slice) never materialize: their contribution folds through
    * P_total − cov (q122's absent-token rule), so no slice×catalog
    * product is built. A slice minting no documents (possible only
    * under sparse id remapping) has no distribution to score and emits
    * no row — identically on both engines.
    */
  def mixDrift(docs: DataFrame): DataFrame = {
    val horizon = docs.agg(max(col("doc_id")).as("max_id"))
    val sb = Materialize(docs.select(col("doc_id"), col("source"))
      .crossJoin(broadcast(horizon))
      .groupBy(checkpointOf("doc_id", Checkpoints).as("k"), col("source"))
      .agg(count(lit(1)).as("c")))
    val slice = sb.groupBy(col("k")).agg(sum(col("c")).as("n_k"))
    val srcTot = sb.groupBy(col("source")).agg(sum(col("c")).as("n_s"))
    val n = srcTot.agg(sum(col("n_s")).as("n"))
    val srcPpm = srcTot.crossJoin(broadcast(n))
      .select(col("source"), expr("(1000000 * n_s) div n").as("p_s"))
    val pTotal = srcPpm.agg(sum(col("p_s")).as("p_total"))
    sb.join(broadcast(srcPpm), Seq("source"))
      .join(broadcast(slice), Seq("k"))
      .groupBy(col("k"), col("n_k"))
      .agg(
        sum(abs(expr("(1000000 * c) div n_k") - col("p_s"))).as("terms"),
        sum(col("p_s")).as("cov"))
      .crossJoin(broadcast(pTotal))
      .select(col("k").as("checkpoint"), col("n_k").as("n_docs"),
        expr("(terms + p_total - cov) div 2").as("tv_ppm"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q79_importance_sample" -> ((s, dir) =>
      importanceSample(Tables.documents(s, dir))),

    // Heaps-law vocabulary growth at 10 corpus checkpoints — see
    // [[vocabGrowth]].
    "q121_vocab_growth" -> ((s, dir) =>
      vocabGrowth(Tables.documents(s, dir))),

    // Source-mix stationarity across intake checkpoints — see
    // [[mixDrift]]. The raw corpus's source labels cycle uniformly over
    // doc_id, so every slice sees the same mix: the TV curve is CONSTANT
    // at every gate scale (and exactly 0 wherever the slice size divides
    // the catalog — sf0.1's does), and the absent-source fold never
    // fires. The driver query therefore plants drift in-pipeline (the
    // q115/q123 precedent): in the last ~20% of intake every 5th doc is
    // relabeled to a synthetic 'dump' source — late slices spike, early
    // slices shift off their baseline (dump shrinks their corpus
    // shares), and 'dump' is absent from slices 1-8 so the P_total − cov
    // fold is exercised by the hash gate at every scale. The planting is
    // horizon-relative (10·doc_id div max_id), so it is scale-free and
    // survives ScaleCorpus replication.
    "q125_mix_drift" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val horizon = docs.agg(max(col("doc_id")).as("max_id"))
      mixDrift(docs.crossJoin(broadcast(horizon))
        .select(col("doc_id"),
          when(expr("(10 * doc_id) div max_id") >= 8
              && col("doc_id") % 5 === 0, lit("dump"))
            .otherwise(col("source")).as("source")))
    }),

    // α = 0.5 domain mixture weights — see [[domainMix]].
    "q93_domain_mix" -> ((s, dir) => domainMix(Tables.documents(s, dir))),

    // Per-source keep rates for the q93 mixture at a half-corpus token
    // budget — see [[mixPlan]].
    "q99_mix_plan" -> ((s, dir) => mixPlan(Tables.documents(s, dir))),

    "q81_vocab_ids" -> ((s, dir) => vocabIds(Tables.documents(s, dir))),

    // Resample the corpus to the target language mixture (no upsampling;
    // binding language kept whole, others hash-downsampled).
    "q59_mix_sample" -> ((s, dir) => mixSample(Tables.documents(s, dir))),

    // 80/10/10 train/val/test assignment, reproducible from doc_id alone.
    "q46_train_split" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), bucket100Of(col("doc_id")).as("bucket"))
        .withColumn("split",
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "val")
            .otherwise("test"))),

    // Stratified 10% sample with EXACT per-stratum fractions (the
    // hash-bucket form above is only approximately proportional).
    "q47_stratified_sample" -> ((s, dir) =>
      stratifiedExact(Tables.documents(s, dir), "lang", "doc_id", 10)),

    // Top-10 tokens per language through the bounded Misra-Gries sketch —
    // the 100 TB form of vocabulary profiling: exact counting (q48)
    // shuffles the whole (lang, token) space, while the sketch keeps a
    // cap-sized buffer per group and ships only `cap` counters per
    // partial aggregate. Exact below cap distinct tokens (the driver
    // corpus is — so the oracle ranks exact counts); undercount bounded
    // by n/(cap+1) beyond. Window runs over ≤ cap rows per group.
    "q61_vocab_topk" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("lang"), explode(Dedup.tokens).as("tok"))
      toks.groupBy(col("lang"))
        .agg(graft.functions.MisraGriesTopK(col("tok"), cap = 256).as("counters"))
        .select(col("lang"), explode(col("counters")).as(Seq("tok", "cnt")))
        .withColumn("rk", row_number().over(Window.partitionBy(col("lang"))
          .orderBy(col("cnt").desc, col("tok").asc)))
        .filter(col("rk") <= 10)
    }),

    // Per-language vocabulary profile: corpus statistics a curation run
    // reads before setting filters. Explode + partial-agg; the only
    // shuffle carries (lang, token) pairs.
    "q48_vocab_stats" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("lang"),
          // the one shared tokenizer (Dedup.tokens): space-only trim +
          // \s+ split, cross-engine parity notes live at its definition
          explode(Dedup.tokens).as("tok"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_tokens"),
          count_distinct(col("tok")).as("vocab"),
          (sum(length(col("tok"))).cast("double") / count(lit(1)))
            .as("avg_tok_len")))
  )

  def oracles: Map[String, String] = Map(
    // q38's tokenizer, q46's md5 hash: p and u are identical IEEE doubles
    // on both engines, so the Bernoulli comparison agrees exactly.
    "q79_importance_sample" ->
      raw"""WITH t AS (
           |  SELECT doc_id,
           |    CAST(len(list_distinct(regexp_split_to_array(trim(text), '\s+')))
           |      AS DOUBLE) / len(regexp_split_to_array(trim(text), '\s+'))
           |      * least(1.0,
           |          CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE)
           |          / 20.0) AS p,
           |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
           |      / 4294967296.0 AS u
           |  FROM documents WHERE text IS NOT NULL)
           |SELECT doc_id, round(p, 6) AS p, round(u, 6) AS u
           |FROM t WHERE u < p""".stripMargin,

    // Exact mirror: same tokenizer, same tie order, same 0-based ids.
    "q81_vocab_ids" ->
      raw"""WITH c AS (
           |  SELECT tok AS token, count(*) AS n FROM (
           |    SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
           |    FROM documents WHERE text IS NOT NULL)
           |  WHERE tok <> '' GROUP BY tok HAVING count(*) >= 2)
           |SELECT token, CAST(n AS BIGINT) AS n,
           |  CAST(row_number() OVER (ORDER BY n DESC, token ASC) - 1 AS BIGINT)
           |    AS token_id
           |FROM c""".stripMargin,

    // The ordered aggregate pins the denominator's FP accumulation order
    // to the Spark side's sorted-list fold; sqrt and the divisions are
    // IEEE-exact, so share/weight/boost agree bit-for-bit before round().
    "q93_domain_mix" ->
      """WITH per AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(len(regexp_split_to_array(trim(text), '\s+')))
        |         AS BIGINT) AS sum_tokens
        |  FROM documents GROUP BY source),
        |tot AS (
        |  SELECT CAST(sum(sum_tokens) AS BIGINT) AS total_tokens,
        |    sum(sqrt(CAST(sum_tokens AS DOUBLE))
        |        ORDER BY coalesce(source, '')) AS denom
        |  FROM per)
        |SELECT source, n_docs, sum_tokens,
        |  round(CAST(sum_tokens AS DOUBLE) / total_tokens, 6) AS share,
        |  round(sqrt(CAST(sum_tokens AS DOUBLE)) / denom, 6) AS weight,
        |  round((sqrt(CAST(sum_tokens AS DOUBLE)) / denom)
        |        / (CAST(sum_tokens AS DOUBLE) / total_tokens), 6) AS boost
        |FROM per, tot""".stripMargin,

    // q93's stats CTEs verbatim; the plan arithmetic repeats the Spark
    // side's exact double expression order (weight * (total * 0.5),
    // least, floor) so every value is bit-equal cross-engine — kept and
    // deficit are floored integers, never rounded doubles.
    "q99_mix_plan" ->
      """WITH per AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(len(regexp_split_to_array(trim(text), '\s+')))
        |         AS BIGINT) AS sum_tokens
        |  FROM documents GROUP BY source),
        |tot AS (
        |  SELECT CAST(sum(sum_tokens) AS BIGINT) AS total_tokens,
        |    sum(sqrt(CAST(sum_tokens AS DOUBLE))
        |        ORDER BY coalesce(source, '')) AS denom
        |  FROM per),
        |pl AS (
        |  SELECT source, sum_tokens,
        |    CAST(sum_tokens AS DOUBLE) AS tok,
        |    sqrt(CAST(sum_tokens AS DOUBLE)) / denom AS weight,
        |    (sqrt(CAST(sum_tokens AS DOUBLE)) / denom)
        |      * (CAST(total_tokens AS DOUBLE) * 0.5) AS target
        |  FROM per, tot)
        |SELECT source, sum_tokens,
        |  round(weight, 6) AS weight,
        |  round(least(1.0, target / tok), 6) AS rate,
        |  CAST(floor(least(1.0, target / tok) * tok) AS BIGINT) AS kept_tokens,
        |  CAST(target >= tok AS INT) AS capped,
        |  CAST(floor(greatest(0.0, target - tok)) AS BIGINT) AS deficit_tokens
        |FROM pl""".stripMargin,

    // Same double-arithmetic shape as the Spark side ((w·T)/mass, T = the
    // min over the tiny mass frame) — IEEE ops on identical inputs are
    // bit-equal cross-engine, so the hash cutoff comparison agrees.
    "q59_mix_sample" ->
      """WITH w(lang, w) AS (VALUES
        |    ('en', 0.4), ('zh', 0.25), ('de', 0.15), ('fr', 0.1), ('es', 0.1)),
        |mass AS (
        |  SELECT d.lang, CAST(sum(d.n_chars) AS DOUBLE) AS mass,
        |         any_value(w.w) AS w
        |  FROM documents d JOIN w ON d.lang = w.lang GROUP BY d.lang),
        |rates AS (
        |  SELECT lang, w * (SELECT min(mass / w) FROM mass) / mass AS rate
        |  FROM mass)
        |SELECT d.doc_id, d.lang, d.source, d.n_chars
        |FROM documents d JOIN rates r ON d.lang = r.lang
        |WHERE CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
        |           AS DOUBLE) < r.rate * 4294967296.0""".stripMargin,

    "q46_train_split" ->
      """SELECT doc_id, b AS bucket,
        |  CASE WHEN b < 80 THEN 'train'
        |       WHEN b < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |        ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |          % 100 AS b
        |      FROM documents)""".stripMargin,

    "q47_stratified_sample" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT ASC,
        |               doc_id ASC) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents)
        |WHERE rn <= ceiling(n / 10.0)""".stripMargin,

    // Exact counts rank identically because the driver corpus's per-lang
    // vocabulary is far below the sketch cap (sketch is exact there).
    "q61_vocab_topk" ->
      """SELECT lang, tok, cnt, rk FROM (
        |  SELECT lang, tok, CAST(count(*) AS BIGINT) AS cnt,
        |    row_number() OVER (PARTITION BY lang
        |                       ORDER BY count(*) DESC, tok ASC) AS rk
        |  FROM (SELECT lang,
        |          unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |        FROM documents)
        |  GROUP BY lang, tok)
        |WHERE rk <= 10""".stripMargin,

    "q48_vocab_stats" ->
      """SELECT lang,
        |  CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(count(DISTINCT tok) AS BIGINT) AS vocab,
        |  CAST(sum(len(tok)) AS DOUBLE) / count(*) AS avg_tok_len
        |FROM (SELECT lang, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |      FROM documents)
        |GROUP BY lang""".stripMargin,

    // Same tokenizer, same ceil-division checkpoint arithmetic
    // (DuckDB's `//` floors like Spark's `div` for the non-negative
    // operands here), same left-triangle cumulative; MATERIALIZED pins
    // the shared CTEs to one evaluation (the q119/q102 lesson).
    "q121_vocab_growth" ->
      raw"""WITH live AS MATERIALIZED (
           |  SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
           |h AS MATERIALIZED (SELECT max(doc_id) AS max_id FROM live),
           |tb AS MATERIALIZED (
           |  SELECT greatest(1, (10 * first_id + max_id - 1) // max_id)
           |           AS bk,
           |         count(*) AS c
           |  FROM (SELECT tok, min(doc_id) AS first_id
           |        FROM (SELECT doc_id,
           |                unnest(regexp_split_to_array(trim(text), '\s+'))
           |                  AS tok
           |              FROM live)
           |        GROUP BY tok), h
           |  GROUP BY 1),
           |bb AS MATERIALIZED (
           |  SELECT greatest(1, (10 * first_id + max_id - 1) // max_id)
           |           AS bk,
           |         count(*) AS c
           |  FROM (SELECT p.w1 AS w1, p.w2 AS w2, min(doc_id) AS first_id
           |        FROM (SELECT doc_id,
           |                unnest(list_transform(generate_series(1, len(t)-1),
           |                  i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS p
           |              FROM (SELECT doc_id,
           |                      list_filter(
           |                        regexp_split_to_array(trim(text), '\s+'),
           |                        x -> x <> '') AS t
           |                    FROM live)
           |              WHERE len(t) >= 2)
           |        GROUP BY 1, 2), h
           |  GROUP BY 1),
           |db AS MATERIALIZED (
           |  SELECT greatest(1, (10 * doc_id + max_id - 1) // max_id) AS bk,
           |         count(*) AS c
           |  FROM live, h GROUP BY 1),
           |spine AS (SELECT unnest(generate_series(1, 10)) AS k),
           |nd AS (SELECT s.k, CAST(coalesce(sum(db.c), 0) AS BIGINT)
           |         AS n_docs
           |       FROM spine s LEFT JOIN db ON db.bk <= s.k GROUP BY s.k),
           |nv AS (SELECT s.k, CAST(coalesce(sum(tb.c), 0) AS BIGINT)
           |         AS vocab
           |       FROM spine s LEFT JOIN tb ON tb.bk <= s.k GROUP BY s.k),
           |nb AS (SELECT s.k, CAST(coalesce(sum(bb.c), 0) AS BIGINT)
           |         AS bigram_types
           |       FROM spine s LEFT JOIN bb ON bb.bk <= s.k GROUP BY s.k)
           |SELECT CAST(nd.k AS BIGINT) AS checkpoint, n_docs, vocab,
           |       bigram_types
           |FROM nd JOIN nv USING (k) JOIN nb USING (k)""".stripMargin,

    // Same ceil-division checkpoint arithmetic as q121, same
    // floored-ppm TV definition and absent-entity fold (P_total − cov)
    // as q122; `//` floors like Spark's `div` on the non-negative
    // operands here. MATERIALIZED pins shared CTEs to one evaluation
    // (the q119/q102 inlining lesson); BIGINT casts because hugeint
    // sums render as float64 in the compare.
    "q125_mix_drift" ->
      raw"""WITH h AS MATERIALIZED (
           |  SELECT max(doc_id) AS max_id FROM documents),
           |docs AS MATERIALIZED (
           |  SELECT doc_id,
           |         CASE WHEN (10 * doc_id) // max_id >= 8
           |                   AND doc_id % 5 = 0
           |              THEN 'dump' ELSE source END AS source
           |  FROM documents, h),
           |sb AS MATERIALIZED (
           |  SELECT greatest(1, (10 * doc_id + max_id - 1) // max_id)
           |           AS k,
           |         source, count(*) AS c
           |  FROM docs, h GROUP BY 1, 2),
           |sl AS MATERIALIZED (
           |  SELECT k, sum(c) AS n_k FROM sb GROUP BY k),
           |st AS MATERIALIZED (
           |  SELECT source, sum(c) AS n_s FROM sb GROUP BY source),
           |n AS (SELECT sum(n_s) AS n FROM st),
           |sp AS MATERIALIZED (
           |  SELECT source, (1000000 * n_s) // n AS p_s FROM st, n),
           |pt AS (SELECT sum(p_s) AS p_total FROM sp),
           |terms AS (
           |  SELECT sb.k, sl.n_k,
           |         sum(abs((1000000 * sb.c) // sl.n_k - sp.p_s))
           |           AS terms,
           |         sum(sp.p_s) AS cov
           |  FROM sb JOIN sp USING (source) JOIN sl USING (k)
           |  GROUP BY sb.k, sl.n_k)
           |SELECT CAST(t.k AS BIGINT) AS checkpoint,
           |       CAST(t.n_k AS BIGINT) AS n_docs,
           |       CAST((t.terms + pt.p_total - t.cov) // 2 AS BIGINT)
           |         AS tv_ppm
           |FROM terms t, pt""".stripMargin
  )
}
