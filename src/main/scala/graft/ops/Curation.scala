package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{LineStats, VectorFunctions}

/** Corpus-curation operators: the QA/cleaning passes a training-data
  * pipeline runs between raw crawl and tokenizer. All four are map-side
  * (zero or one bounded shuffle) — these run over the FULL corpus, so a
  * per-row plan shape is the difference between a pass and a bottleneck.
  */
object Curation {

  /** Normalized text: ascii-lowercase, strip everything outside
    * [a-z0-9 whitespace], collapse whitespace runs to single spaces, trim.
    * Whitespace is the EXPLICIT set space/tab/LF/CR on both engines —
    * Java's `\s` and RE2's `\s` disagree on U+000B. (Unicode-aware
    * `lower()` is locale/table sensitive and is exactly the kind of
    * silent cross-engine divergence the oracle gate exists to catch.)
    *
    * Since r21 this is the fused single-pass
    * [[graft.functions.NormText]] codegen expression — byte-identical to
    * the former translate + two-regexp_replace + trim composition
    * (CurationSpec pins the equivalence), at one linear scan instead of
    * two NFA passes per document (q53/q92's dominant per-row cost).
    */
  private[ops] def normText(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.NormText(c)

  /** Exact continuous median (= `percentile(v, 0.5)` / DuckDB
    * `quantile_cont(v, 0.5)`) per group, computed from a VALUE HISTOGRAM
    * instead of buffering rows. The builtin exact percentile collects
    * every value of a group into one reducer — a dominant group at corpus
    * scale is an OOM (the q06 caveat). For an integral column the value
    * domain is bounded (document lengths, latencies ms): aggregate
    * (group, value) counts — partial-agg, any row count collapses to ≤
    * |domain| histogram rows — then a window over the HISTOGRAM (partition
    * size ≤ |domain|, independent of corpus size) locates the two values
    * straddling the continuous rank and interpolates exactly like the
    * builtins do: `(⌈h⌉−h)·v_lo + (h−⌊h⌋)·v_hi`, `h = (n−1)/2`.
    */
  private[ops] def medianByHistogram(df: DataFrame, group: String,
                                     value: String): DataFrame =
    quantilesByHistogram(df, group, value, Seq("median" -> 0.5))
      .select(col(group), col("median"))

  /** [[medianByHistogram]] generalized to any quantile set: ONE histogram
    * pass answers every requested fraction (the per-p rank columns are
    * per-group constants, so all quantiles share the same cumulative
    * walk and one final per-group agg). `n_vals` is the non-null count
    * the ranks were computed against; a group whose values are ALL NULL
    * has no histogram rows and is ABSENT from the output (the q111
    * oracle's HAVING mirrors this — a bare GROUP BY would emit such a
    * group with NULL quantiles). Multiplication by p mirrors the
    * builtins' `h = (n−1)·p` exactly (0.25/0.5/0.75 are binary-exact;
    * any other p is the same nearest-double product both engines form).
    */
  private[ops] def quantilesByHistogram(df: DataFrame, group: String,
      value: String, ps: Seq[(String, Double)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // NULL values are excluded like percentile/quantile_cont exclude them
    // (an unguarded histogram would count them into n and shift the rank)
    val hist = df.filter(col(value).isNotNull)
      .groupBy(col(group), col(value))
      .agg(count(lit(1)).as("c"))
    val byVal = Window.partitionBy(col(group)).orderBy(col(value))
    val whole = Window.partitionBy(col(group))
    var cum = hist
      .withColumn("cumEnd", sum(col("c")).over(byVal))
      .withColumn("cumStart", col("cumEnd") - col("c"))
      .withColumn("n", sum(col("c")).over(whole))
    for ((nm, p) <- ps) {
      cum = cum
        .withColumn(s"h_$nm", (col("n") - 1).cast("double") * p)
        .withColumn(s"lo_$nm", floor(col(s"h_$nm")).cast("long"))
        .withColumn(s"hi_$nm", ceil(col(s"h_$nm")).cast("long"))
    }
    val aggs = max(col("n")).as("n_vals") +: ps.flatMap { case (nm, _) => Seq(
      min(when(col("cumStart") <= col(s"lo_$nm") && col(s"lo_$nm") < col("cumEnd"),
        col(value))).as(s"vLo_$nm"),
      min(when(col("cumStart") <= col(s"hi_$nm") && col(s"hi_$nm") < col("cumEnd"),
        col(value))).as(s"vHi_$nm"),
      max(col(s"h_$nm")).as(s"hh_$nm"),
      max(col(s"lo_$nm")).as(s"ll_$nm"),
      max(col(s"hi_$nm")).as(s"cc_$nm")) }
    // Interpolation is the SYMMETRIC weighted form — (⌈h⌉−h)·v_lo +
    // (h−⌊h⌋)·v_hi, v_lo passthrough when ⌈h⌉ = ⌊h⌋ — because that is
    // operand-for-operand what BOTH engines' exact builtins compute
    // (Spark Percentile.getPercentile, DuckDB quantile_cont; determined
    // empirically in r17 on fractional doubles where the lerp spelling
    // v_lo + frac·(v_hi−v_lo) differs in the last ulp). Bit-identical
    // doubles make every downstream round() agree by construction.
    cum.groupBy(col(group)).agg(aggs.head, aggs.tail: _*)
      .select(col(group) +: col("n_vals") +: ps.map { case (nm, _) =>
        when(col(s"cc_$nm") === col(s"ll_$nm"), col(s"vLo_$nm").cast("double"))
          .otherwise(
            (col(s"cc_$nm").cast("double") - col(s"hh_$nm"))
              * col(s"vLo_$nm").cast("double")
            + (col(s"hh_$nm") - col(s"ll_$nm").cast("double"))
              * col(s"vHi_$nm").cast("double"))
          .as(nm) }: _*)
  }

  /** Exact continuous quantile (`quantile_cont` / `percentile` semantics)
    * of an integral column, computed GLOBALLY from a value histogram: one
    * partial-agg shuffle collapses any row count to ≤ |value domain|
    * histogram rows, which a bounded driver walk turns into the
    * interpolated cutoff `v_lo + (h − ⌊h⌋)·(v_hi − v_lo)`, `h = (n−1)·p`.
    *
    * Why not [[medianByHistogram]]'s window: a GLOBAL quantile has one
    * group, and a single-partition window is exactly the WindowExec
    * shape this codebase evicted in rounds 8-9. The driver walk is the
    * cleaner contract — the collected histogram is bounded by the value
    * domain (token counts, char lengths: ≤ a few 10⁵ distinct values at
    * any corpus size), the same bounded-driver-step class as the q43/q87
    * sample fits. Why not the builtin `percentile`: it buffers every
    * value on one reducer — the q06 caveat, an OOM at corpus scale.
    */
  /** The most distinct values [[quantileCont]] will collect: a few 10⁶
    * rows (tens of MB on the driver) — far above any bounded integral
    * domain this is meant for, far below an OOM.
    */
  private val HistogramCap = 2000000

  private[ops] def quantileCont(df: DataFrame, value: Column, p: Double): Double = {
    require(p >= 0.0 && p <= 1.0, s"quantile fraction out of range: $p")
    // the "bounded value domain" contract, ENFORCED rather than assumed
    // (round-9 advice), in the SAME aggregation pass: reject fractional
    // input loudly instead of silently flooring it (n_frac counts rows
    // the long cast would change), and cap the collected histogram so a
    // high-cardinality column (a float score, a timestamp) fails with a
    // diagnosis instead of a driver OOM
    val capped = df.select(value.as("raw")).filter(col("raw").isNotNull)
      .groupBy(col("raw").cast("long").as("v"))
      .agg(count(lit(1)).as("c"),
        sum(when(col("raw") =!= col("raw").cast("long"), 1L).otherwise(0L))
          .as("n_frac"))
      .filter(col("v").isNotNull)
      .limit(HistogramCap + 1)
      .collect()
    require(capped.length <= HistogramCap,
      s"quantileCont: value domain exceeds $HistogramCap distinct values — " +
        "this histogram walk is for bounded integral domains (token counts, " +
        "char lengths); bucket or downscale the column first")
    val nFrac = capped.iterator.map(_.getLong(2)).sum
    require(nFrac == 0L,
      s"quantileCont requires an integral-valued column ($nFrac fractional " +
        "rows); cast/round explicitly if flooring is intended")
    val hist = capped.map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    require(hist.nonEmpty, "quantileCont: no non-null values")
    val n = hist.iterator.map(_._2).sum
    val h = (n - 1) * p
    val lo = math.floor(h).toLong
    def valueAt(rank: Long): Long = {
      var cum = 0L
      var i = 0
      while (i < hist.length) {
        cum += hist(i)._2
        if (rank < cum) return hist(i)._1
        i += 1
      }
      hist.last._1
    }
    val vLo = valueAt(lo)
    val vHi = valueAt(math.ceil(h).toLong)
    // same association as DuckDB's interpolation (lower + frac·(upper −
    // lower)) so the emitted cutoff agrees bit for bit; exact when
    // vLo == vHi (integer arithmetic, frac·0 ≡ 0)
    vLo + (h - lo) * (vHi - vLo)
  }

  /** Sequence packing: deterministic assignment of docs to fixed
    * token-budget packs. `pack_id = shard·2⁴⁰ + startOffset div budget`
    * where startOffset is the doc's running token offset within its hash
    * shard (order: `(md5Prefix(id), id)` — content-stable like q46/q47).
    * Cumulative packing is inherently sequential; the shard is the
    * parallel unit, so each window task carries ~n/nShards rows. Pass
    * `nShards = 0` to size shards from catalog statistics (~1M docs per
    * shard, the q36/q43 no-plan-time-count discipline) — the explicit
    * value exists because pack ids change with the shard count and a
    * pinned layout (the driver oracle, resumable pipelines) needs a
    * pinned count.
    */
  def packedSequences(df: DataFrame, id: String, budget: Int,
                      nShards: Int = 0): DataFrame =
    packTokenCounts(
      df.select(col(id), size(Dedup.tokens).cast("long").as("n_tok")),
      id, budget, nShards)

  /** [[packedSequences]]' core over PRE-COMPUTED token counts: `counts`
    * must carry `(id, n_tok)`. The entry point for compositions that
    * already reduced documents to counts map-side (q91's dedup join) —
    * packing never needs the bodies, so they must not ride its shuffles.
    */
  def packTokenCounts(counts: DataFrame, id: String, budget: Int,
                      nShards: Int = 0): DataFrame =
    packOffsets(counts, id, nShards)
      .select(col(id), col("shard"),
        (col("shard") * lit(1L << 40) + expr(s"start_off div $budget"))
          .as("pack_id"),
        col("n_tok"))

  /** The packing layout itself — each doc's running token offset within
    * its hash shard — shared by [[packTokenCounts]] (which folds it into
    * pack ids) and [[packWaste]] (which measures the layout).
    */
  private def packOffsets(counts: DataFrame, id: String,
                          nShards: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val shards =
      if (nShards > 0) nShards.toLong
      else math.max(32L, Similarity.estimatedRowCount(counts, 2048) / 1000000L)
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("h").asc, col(id).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts
      .withColumn("h", TextAnalysis.md5Prefix(col(id).cast("string")))
      .withColumn("shard", pmod(col("h"), lit(shards)))
      .withColumn("start_off", sum(col("n_tok")).over(w) - col("n_tok"))
  }

  /** Packing-efficiency profile of q57's layout, per shard: pack count,
    * tail waste (concat packing fills every interior pack by
    * construction — only each shard's LAST pack is short), fill ratio,
    * and doc FRAGMENTATION — how many docs straddle a pack boundary and
    * the total fragment count a trainer's attention mask will see. The
    * fragmentation numbers are the case for smarter (best-fit) packing;
    * this table is how you decide the extra complexity is worth it.
    *
    * Scale: [[packOffsets]]' sharded window (q57's accepted shape) into
    * a |shards|-key aggregate; pure integer arithmetic until the one
    * fill-ratio division, so the oracle is exact.
    */
  def packWaste(docs: DataFrame, budget: Int = 2048,
                nShards: Int = 32): DataFrame = {
    val b = lit(budget.toLong)
    val endOff = col("start_off") + col("n_tok") // exclusive
    val firstPack = expr(s"start_off div $budget")
    val lastPack = expr(s"(start_off + n_tok - 1) div $budget")
    packOffsets(
      docs.filter(col("text").isNotNull)
        .select(col("doc_id"), size(Dedup.tokens).cast("long").as("n_tok")),
      "doc_id", nShards)
      .groupBy(col("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast("long").as("sum_tokens"),
        max(endOff).cast("long").as("end"),
        sum(when(lastPack > firstPack, 1L).otherwise(0L)).cast("long")
          .as("n_split_docs"),
        sum(lastPack - firstPack + lit(1L)).cast("long").as("n_fragments"))
      .select(col("shard"), col("n_docs"), col("sum_tokens"),
        // contiguous concat: shard total == max end offset, so the pack
        // count is one ceil-div (div, not `/` — Spark's / is true division)
        expr(s"(`end` + ${budget - 1}) div $budget").as("n_packs"),
        col("n_split_docs"), col("n_fragments"))
      .select(col("shard"), col("n_docs"), col("sum_tokens"), col("n_packs"),
        (col("n_packs") * b - col("sum_tokens")).as("tail_waste"),
        round(col("sum_tokens").cast("double") / (col("n_packs") * b), 6)
          .as("fill_ratio"),
        col("n_split_docs"), col("n_fragments"))
  }

  /** Sequence-length distribution in power-of-two buckets (bucket k =
    * docs of 2^k..2^(k+1)-1 tokens): doc and token counts plus the
    * corpus shares — the table that sizes a packing budget (q57/q97),
    * picks curriculum stages, and shows where truncation at a context
    * limit would actually bite (the token_share above the limit, not the
    * doc_share, is the training data lost).
    *
    * Scale: one map-side projection into a ≤64-key aggregate (bucket ids
    * are bit-lengths of longs); the totals come from re-aggregating the
    * bucket frame itself (tiny), broadcast back. Bucket boundaries are
    * INTEGER arithmetic end to end — bit-length via bin-string length,
    * not floor(log2(n)), whose FP rounding at exact powers of two would
    * mis-bucket cross-engine; 2^k is exact in a double well past any
    * token count, so the lo/hi reconstruction is exact too.
    */
  def lenBuckets(docs: DataFrame): DataFrame = {
    // Materialize: `per` feeds two consumers (the totals re-aggregation
    // and the crossJoin left side) — without it AQE replans each
    // independently and the corpus scan + tokenize runs twice (the
    // q96/q31 precedent; ReuseExchange does not reliably fire)
    val per = Materialize(docs.filter(col("text").isNotNull)
      .select(size(Dedup.tokens).cast("long").as("n_tok"))
      .select((length(bin(col("n_tok"))) - 1).cast("long").as("bucket"),
        col("n_tok"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tokens")))
    val tot = per.agg(sum(col("n_docs")).as("tot_docs"),
      sum(col("sum_tokens")).as("tot_tokens"))
    val lo = expr("cast(pow(2, bucket) as bigint)")
    per.crossJoin(broadcast(tot))
      .select(col("bucket"), lo.as("lo"), (lo * 2 - 1).as("hi"),
        col("n_docs"), col("sum_tokens"),
        round(col("n_docs").cast("double") * 1e6 / col("tot_docs"), 0)
          .cast("long").as("doc_share_ppm"),
        round(col("sum_tokens").cast("double") * 1e6 / col("tot_tokens"), 0)
          .cast("long").as("token_share_ppm"))
  }

  /** Context-window chunking: split each document into token windows of
    * `win` tokens starting every `stride` tokens (stride < win ⇒
    * overlapping windows — the standard long-document treatment before
    * tokenization, so no training sequence loses the context that ran
    * past a hard cut). Docs at or under `win` tokens yield one chunk;
    * the last chunk of a longer doc may be short but is never empty
    * (stride < win guarantees every start lands inside the doc).
    *
    * Scale: pure map-side generate — sequence + slice inside the scan
    * projection, zero shuffles, no state; the per-row fan-out is
    * ceil(max(0, n-win)/stride) + 1 chunks.
    */
  def chunked(docs: DataFrame, win: Int = 64, stride: Int = 48): DataFrame = {
    require(win > 0 && stride > 0 && stride < win,
      s"need 0 < stride < win, got win=$win stride=$stride")
    val toks = Dedup.tokens
    val nc = (lit(1) +
      ceil(greatest(size(toks) - win, lit(0)).cast("double") / stride)
        .cast("long")).cast("int")
    // whitespace-only text would tokenize to [""] and emit a phantom
    // (chunk="", n_tok=1) row — exclude it like NULL text. trim() strips
    // only SPACES on both engines, so the explicit space/tab/LF/CR set is
    // trimmed for the emptiness check (a tab-only doc is still
    // whitespace-only); tokenization itself stays on the shared
    // Dedup.tokens contract.
    docs.filter(col("text").isNotNull &&
        length(trim(col("text"), " \t\n\r")) > 0)
      .select(col("doc_id"), toks.as("t"), nc.as("nc"))
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), col("nc") - 1), i =>
          struct(i.as("chunk_idx"),
            slice(col("t"), i * stride + 1, lit(win)).as("ct")))).as("c"))
      .select(col("doc_id"),
        col("c.chunk_idx").cast("long").as("chunk_idx"),
        size(col("c.ct")).cast("long").as("n_tok"),
        concat_ws(" ", col("c.ct")).as("chunk"))
  }

  /** Chunk-level exact dedup (q85): duplication measured at the
    * granularity the trainer actually consumes — [[chunked]]'s context
    * windows. Doc-level dedup (q30/q53) misses the re-hosted page whose
    * boilerplate differs but whose body windows are identical; this
    * reports, per document, how many of its chunks already occurred
    * earlier in the corpus ("earlier" = lexicographically smaller
    * (doc_id, chunk_idx) struct — both engines min/compare structs
    * field by field).
    *
    * Scale posture: chunking is map-side (q64); chunks shuffle ONCE on
    * their (xxhash64, length) fingerprint — chunk TEXT never crosses the
    * exchange on the aggregate side and the first-occurrence reduction is
    * a partial-agg `min`, never a window (a boilerplate chunk repeated in
    * millions of docs is a single min-reduction, not a single-task
    * window); the join back rides the same key so the exchange is reused.
    * The per-doc rollup is the second and last shuffle.
    */
  def chunkDedup(docs: DataFrame, win: Int = 32, stride: Int = 24): DataFrame = {
    // occurrence order is the (doc_id, chunk_idx) STRUCT — both engines
    // min/compare structs lexicographically, and unlike an arithmetic
    // doc_id*K+idx encoding it cannot overflow or collide for any id
    // range (round-8 review)
    val occ = struct(col("doc_id"), col("chunk_idx"))
    val ch = chunked(docs, win, stride)
      .select(col("doc_id"), occ.as("occ"),
        xxhash64(col("chunk")).as("h"), length(col("chunk")).as("len"))
    val firsts = ch.groupBy(col("h"), col("len"))
      .agg(min(col("occ")).as("first"))
    ch.join(firsts, Seq("h", "len"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum((col("occ") =!= col("first")).cast("long")).as("dup_chunks"))
      .withColumn("dup_ratio",
        round(col("dup_chunks").cast("double") / col("n_chunks"), 6))
  }

  /** Chunk-overlap near-dup pairs (q88): document pairs sharing at least
    * `minShared` distinct context-window chunks, scored with the JACCARD
    * index n_shared / (na + nb − n_shared) — [[chunkDedup]]'s per-doc
    * signal lifted to the PAIR level (which documents duplicate each
    * other, not just how much each one repeats the corpus).
    *
    * The metric is Jaccard over each document's NON-BOILERPLATE chunks:
    * chunks whose bucket exceeds `cap` are excluded from numerator AND
    * denominator. Excluding them from only one side would skew the score
    * both ways — counted in the denominator they make two
    * boilerplate-heavy near-identical docs look barely related; ignored
    * everywhere but kept in na/nb they still cannot enter n_shared.
    * Singleton chunks (genuine per-doc content) stay in the denominator:
    * two docs sharing one chunk among many unique ones ARE barely
    * related.
    *
    * Scale posture is q33's inverted-index shape at chunk granularity:
    * distinct (doc, chunk-fingerprint) rows shuffle once on the
    * fingerprint; the bucket-size frame is computed ONCE and feeds both
    * the boilerplate exclusion and the 2..cap pair-generation filter, so
    * Σ|bucket|² ≤ cap·Σ|bucket| in the self-join; pair counts aggregate
    * with map-side partials; the per-doc size joins are doc-count-scale.
    * No posting list, no cartesian.
    */
  def chunkOverlapPairs(docs: DataFrame, win: Int = 32, stride: Int = 24,
      cap: Int = 64, minShared: Int = 2): DataFrame = {
    val ch = chunked(docs, win, stride)
      .select(col("doc_id"), xxhash64(col("chunk")).as("h"),
        length(col("chunk")).as("len"))
      .distinct()
    val sizes = ch.groupBy(col("h"), col("len")).agg(count(lit(1)).as("bsz"))
    val perDoc = ch
      .join(sizes.filter(col("bsz") <= cap).select(col("h"), col("len")),
        Seq("h", "len"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("nc"))
    val kept = ch.join(
      sizes.filter(col("bsz").between(2, cap)).select(col("h"), col("len")),
      Seq("h", "len"))
    val l = kept.select(col("h"), col("len"), col("doc_id").as("a"))
    val r = kept.select(col("h"), col("len"), col("doc_id").as("b"))
    val shared = l.join(r, Seq("h", "len")).where(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    shared
      .join(perDoc.select(col("doc_id").as("a"), col("nc").as("na")), Seq("a"))
      .join(perDoc.select(col("doc_id").as("b"), col("nc").as("nb")), Seq("b"))
      .withColumn("jaccard",
        round(col("n_shared").cast("double") /
          (col("na") + col("nb") - col("n_shared")), 6))
      .select(col("a"), col("b"), col("n_shared"), col("na"), col("nb"),
        col("jaccard"))
  }

  /** TF-IDF top-`k` terms per document: tf = in-doc term count, df = number
    * of docs containing the term, score = tf · ln(N/df). The keyword-
    * extraction primitive (per-doc topical signature for clustering,
    * search, mixture analysis).
    *
    * Scale: one (doc_id, tok) partial agg, one (tok) partial agg, one
    * (tok)-keyed join that reuses tf's distribution, and a per-doc window
    * whose rank ≤ k filter is pushed below the window exchange by
    * WindowGroupLimit (≤ k rows per doc per task cross the shuffle) — the
    * r21 measurement note inside the method body records why this stays a
    * window. N comes from a 1-row aggregate frame broadcast into a cross
    * join (no driver action, no plan-time count). Ranking orders by the
    * 6-dp-ROUNDED score so the cross-engine tiebreak (score desc, tok
    * asc) can't be flipped by a 1-ulp ln() divergence.
    */
  def tfidfTopK(docs: DataFrame, k: Int = 3): DataFrame = {
    // chunked()'s whitespace contract: trim() strips only spaces, so the
    // explicit set catches tab/newline-only docs (they'd tokenize to
    // empty strings and rank "" as a keyword)
    val live = docs.filter(col("text").isNotNull &&
      length(trim(col("text"), " \t\n\r")) > 0)
    // leading/trailing non-space whitespace still yields empty tokens
    // (split keeps them; both engines agree) — garbage as KEYWORDS, so
    // they're excluded from the tf space, mirrored in the oracle
    val toks = live.select(col("doc_id"), explode(Dedup.tokens).as("tok"))
      .filter(col("tok") =!= "")
    val tf = toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val n = live.agg(count(lit(1)).as("n_docs"))
    // r21 MEASURED DEAD END, kept as the window deliberately: a bounded
    // top-k TypedImperativeAggregate was tried here (reduce map-side to
    // ≤ k rows per doc before the exchange) and REGRESSED ~25% at the 10×
    // gate (warm median 2.9 s vs 2.2 s): Spark 4's WindowGroupLimit
    // already prunes rank ≤ k per task BEFORE the window exchange — in
    // codegen — so the aggregate only traded codegen for per-row
    // interpreted update() calls. PlanAuditSpec pins WindowGroupLimit so
    // the bounded-shuffle property this relies on cannot silently vanish.
    import org.apache.spark.sql.expressions.Window
    tf.join(dfc, Seq("tok"))
      .crossJoin(broadcast(n))
      .withColumn("score",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("tok").asc)))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("tok"), col("tf"), col("df"),
        col("score"), col("rank"))
  }

  /** Fused curation verdict (q76): the whole C4/Gopher-style document
    * filter chain — length bounds, vocabulary diversity, word shape,
    * gram/token repetition, PII exposure — evaluated in ONE scan-stage
    * projection. Each signal exists as its own operator (q38/q44/q50);
    * production pipelines run the verdict, not the signals: at 100 TB,
    * five separate passes read the corpus five times, while this plan
    * reads it once, keeps everything in whole-stage codegen, and shuffles
    * nothing.
    *
    * Reasons are a fixed-order `;`-joined string (not an array — the
    * verify harness can't hash array cells) and `keep_flag` is 1 iff no
    * reason fired. Thresholds are corpus-tuning knobs, defaulted here to
    * values that discriminate on the driver testdata.
    */
  def curationVerdict(docs: DataFrame): DataFrame = {
    import graft.functions.RepetitionStats
    // regexp_count ≡ size(regexp_extract_all) without the match array (r21)
    val piiCount =
      Seq(Pii.Email, Pii.Phone, Pii.Ipv4, Pii.LongId)
        .map(p => regexp_count(col("text"), lit(p)))
        .reduce(_ + _).cast("long")
    val base = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), col("n_chars"),
        RepetitionStats(col("text")).as("st"),
        size(array_distinct(TextAnalysis.words)).cast("long").as("n_uniq"),
        piiCount.as("n_pii"))
    val nWords = col("st.n_toks")
    val uniqRatio = col("n_uniq").cast("double") / nWords
    val charsPerWord = col("n_chars").cast("double") / nWords
    val dupGram = when(col("st.ng") > 0,
      lit(1.0) - col("st.nu").cast("double") / col("st.ng")).otherwise(lit(0.0))
    val topToken = col("st.top").cast("double") / nWords
    // fixed evaluation order = fixed reason string; thresholds compare the
    // UNROUNDED doubles (identical IEEE expressions on both engines)
    val reasons = concat(
      when(nWords < 20, lit("too_short;")).otherwise(lit("")),
      when(uniqRatio < 0.5, lit("low_diversity;")).otherwise(lit("")),
      when(charsPerWord < 5.0 || charsPerWord > 6.0, lit("word_shape;"))
        .otherwise(lit("")),
      when(dupGram > 0.05 || topToken > 0.2, lit("repetitive;"))
        .otherwise(lit("")),
      when(col("n_pii") > 0, lit("pii;")).otherwise(lit("")))
    base.select(
      col("doc_id"),
      nWords.as("n_words"),
      round(uniqRatio, 6).as("uniq_ratio"),
      round(dupGram, 6).as("dup_gram_ratio"),
      round(topToken, 6).as("top_token_ratio"),
      col("n_pii"),
      reasons.as("reject_reasons"),
      when(reasons === "", lit(1L)).otherwise(lit(0L)).as("keep_flag"))
  }

  /** Duplicate-cluster representative election: q53 tells you a cluster
    * of re-hosted copies exists; this decides WHICH copy the training set
    * keeps — the longest raw text (normalization strips casing /
    * punctuation, so the longest original is the most complete one),
    * ties to the lowest doc_id. The argmax is an [[functions.ArgMaxTieMin]]
    * partial aggregate on q53's exact (xxhash64(norm), len) key — one
    * shuffle carrying (hash, len, n_chars, doc_id), never a window and
    * never a body; a mega-cluster is a hot partial-agg key, not a
    * buffered group. The custom aggregate exists because the builtin
    * spelling, `max(struct(n_chars, -doc_id))`, falls out of
    * HashAggregate (struct buffers aren't hash-aggregable) into
    * SortAggregate — a per-partition sort of the whole corpus.
    */
  def clusterReps(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
        normText(col("text")).as("norm"))
      .groupBy(xxhash64(col("norm")).as("h"),
        length(col("norm")).cast("long").as("norm_len"))
      .agg(
        count(lit(1)).as("n_copies"),
        // (n_chars desc, doc_id asc) — the deterministic total order the
        // oracle's row_number() ORDER BY mirrors
        graft.functions.ArgMaxTieMin(col("n_chars"), col("doc_id")).as("m"))
      .select(
        col("m.id").as("rep_doc_id"),
        col("m.c").as("rep_chars"),
        col("n_copies"),
        col("norm_len"))

  /** Cross-document boilerplate-line profile (q129): a LINE (newline
    * split, space-trimmed, non-empty) occurring in >= `minDf` (3) DISTINCT
    * documents is boilerplate — the CCNet/RefinedWeb-style cross-doc
    * complement of q55's doc-local prose filter (navigation chrome,
    * cookie banners, footers repeat across a crawl, and doc-local
    * heuristics cannot see that). Per doc: line counts, flagged count,
    * integer-ppm boilerplate share, and the char mass that survives
    * stripping — the numbers that decide whether line-level dedup is
    * worth a rewrite pass over the corpus.
    *
    * Scale shape (q56's df + join-back discipline): lines travel as
    * (doc_id, xxhash64(line), len) 24-byte rows from the scan
    * projection on — bodies never shuffle; the line-df aggregate and
    * the df join-back share the (hash, len) line identity — q30's
    * exact-dedup convention: len already travels in the 24-byte row,
    * so the stronger key costs nothing and a 64-bit collision between
    * DIFFERENT-length lines can no longer merge their dfs on the Spark
    * side only (the DuckDB oracle groups by the line string, which a
    * bare-hash key silently diverged from at collision; r19 advice).
    * The per-doc rollup folds flags and char sums into ONE doc-keyed
    * partial aggregate (no second corpus pass for totals). The
    * (hash, len) pair only renames lines (the q33 argument), so
    * DuckDB's GROUP BY over line STRINGS is the exact oracle.
    */
  def boilerplateStats(docs: DataFrame): DataFrame = {
    val minDf = 3
    val lines = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), explode(split(col("text"), "\n", -1)).as("raw"))
      .select(col("doc_id"), trim(col("raw"), " ").as("l"))
      .filter(length(col("l")) > 0)
      .select(col("doc_id"), xxhash64(col("l")).as("h"),
        length(col("l")).cast("long").as("len"))
    val dfc = lines.groupBy(col("h"), col("len"))
      .agg(count_distinct(col("doc_id")).as("line_df"))
    lines.join(dfc, Seq("h", "len"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("line_df") >= minDf, 1L).otherwise(0L)).as("n_boiler"),
        sum(col("len")).as("tot_chars"),
        sum(when(col("line_df") >= minDf, col("len")).otherwise(0L))
          .as("boiler_chars"))
      .select(col("doc_id"), col("n_lines"), col("n_boiler"),
        expr("(1000000 * n_boiler) div n_lines").as("boiler_ppm"),
        (col("tot_chars") - col("boiler_chars")).as("kept_chars"))
  }

  /** Screen-overlap calibration: are the vocabulary-diversity filter and
    * the duplicated-span screen redundant or orthogonal? Per
    * diversity-decile bucket (floor(uniq_ratio·10), clamped to 9), over
    * the span-eligible docs (≥ [[Dedup.SpanW]] tokens): doc count, window counts, and
    * the duplicated-window share. A pipeline reads this to decide
    * whether a cheap quality gate already removes the content the
    * expensive dedup stage would — the stage-ordering question every
    * multi-screen curation pipeline has to answer.
    *
    * Scale: the bucket is a pure scan projection (no shuffle of its
    * own); the span side is [[Dedup.dupSpans]]' counts-only machinery;
    * the two meet in a doc_id-keyed join of two already-doc-keyed
    * bounded frames, then a ≤10-key aggregate. All ratios are
    * integer-division-exact cross-engine (int sums cast to double once).
    */
  /** Vocabulary-diversity decile of a tokenized text — floor(uniq_ratio·10)
    * clamped to 9. THE shared bucket definition for q95's calibration and
    * q106's yield curve; the `·10` product is the same IEEE double both
    * engines floor.
    */
  private def diversityBucket(toks: Column): Column =
    least(floor(size(array_distinct(toks)).cast("double")
      / size(toks) * 10).cast("long"), lit(9L))

  def screenCalibration(docs: DataFrame): DataFrame = {
    val toks = Dedup.tokens
    val buckets = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), diversityBucket(toks).as("bucket"))
    Dedup.dupSpans(docs)
      .join(buckets, "doc_id")
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_grams")).cast("long").as("sum_grams"),
        sum(col("n_dup")).cast("long").as("sum_dup"))
      .select(col("bucket"), col("n_docs"), col("sum_grams"), col("sum_dup"),
        round(col("sum_dup").cast("double") / col("sum_grams"), 6)
          .as("dup_share"))
  }

  /** Quality-cutoff yield curve: per vocabulary-diversity decile
    * ([[diversityBucket]], q95's definition), doc and whitespace-token
    * counts plus the cumulative yield of admitting every bucket ≥ b —
    * the table a token-budget decision actually reads ("keep deciles
    * ≥ 7" → cum_tokens, and what share of the corpus that is). q89
    * answers "what cutoff hits an exact quantile of one column"; this
    * answers the planning question one level up: how many tokens does
    * EACH candidate quality cutoff admit.
    *
    * Scale: the (bucket, n_tokens) frame is a pure scan projection; one
    * ≤10-key partial agg collapses the corpus before anything else.
    * Cumulatives come from a broadcast self-join of the ≤10-row frame
    * (q102's convention — never a window, so no single-partition sort),
    * and the corpus-total share divides by a 1-row broadcast stats
    * frame. Token counts reduce map-side; bodies never cross an
    * exchange.
    */
  def qualityYield(docs: DataFrame): DataFrame = {
    val toks = Dedup.tokens
    val perBucket = Materialize(docs.filter(col("text").isNotNull)
      .select(diversityBucket(toks).as("bucket"),
        size(toks).cast("long").as("n_tokens"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens")))
    val upper = perBucket.select(col("bucket").as("bucket2"),
      col("n_docs").as("nd2"), col("sum_tokens").as("st2"))
    val total = perBucket.agg(sum(col("sum_tokens")).as("total_tokens"))
    perBucket.join(broadcast(upper), col("bucket2") >= col("bucket"))
      .groupBy(col("bucket"), col("n_docs"), col("sum_tokens"))
      .agg(sum(col("nd2")).cast("long").as("cum_docs"),
        sum(col("st2")).cast("long").as("cum_tokens"))
      .crossJoin(broadcast(total))
      .select(col("bucket"), col("n_docs"), col("sum_tokens"),
        col("cum_docs"), col("cum_tokens"),
        round(col("cum_tokens").cast("double") * 1e6 / col("total_tokens"), 0)
          .cast("long").as("token_share_ppm"))
  }

  /** Screen-attrition cascade: per (source, stage), how many docs and
    * tokens the curation pipeline's ordered screens claim — stage = the
    * FIRST screen that flags a doc (exact-dup election → benchmark
    * contamination → repetition quality → PII), `5_kept` otherwise. The
    * pipeline-planning funnel: q76 explains each doc's every reason;
    * this prices the screens in the order they actually run (a doc a
    * later screen would also catch is charged to the earlier one, which
    * is what reordering decisions need). PII is an attention stage, not
    * a drop — those docs ship redacted — but the cascade still charges
    * them (the governance read).
    *
    * Scale: all per-doc features (token count, repetition struct, PII
    * flag) compute in ONE map-side pass over the train slice; the two
    * membership frames (q30's survivor election, q49's contaminated set)
    * arrive as doc_id-keyed thin frames and join on doc_id — bodies
    * never cross an exchange, and the final agg is a
    * (source, stage)-keyed partial agg over ≤ |sources|·5 keys.
    * Thresholds are [[TextAnalysis.MaxDupGramRatio]]/
    * [[TextAnalysis.MaxTopTokenRatio]] — the streaming filter's exact
    * constants, so batch accounting prices the live screen.
    */
  def screenCascade(docs: DataFrame): DataFrame = {
    val live = docs.filter(col("text").isNotNull)
    val train = live.filter(col("doc_id") % 20 =!= 0)
    val bench = live.filter(col("doc_id") % 20 === 0)
    val flags = train
      .select(col("doc_id"), col("source"),
        size(TextAnalysis.words).cast("long").as("n_tok"),
        graft.functions.RepetitionStats(col("text")).as("st"),
        (Pii.piiTotal > lit(0L)).as("pii_bad"))
      .select(col("doc_id"), col("source"), col("n_tok"),
        (TextAnalysis.dupGramRatio(col("st")) > TextAnalysis.MaxDupGramRatio ||
          TextAnalysis.topTokenRatio(col("st")) > TextAnalysis.MaxTopTokenRatio)
          .as("rep_bad"),
        col("pii_bad"))
    val surv = Dedup.exactSurvivors(train)
      .select(col("doc_id"), lit(1).as("is_surv"))
    val contam = Decontam.contaminated(train, bench)
      .select(col("doc_id"), lit(1).as("is_contam"))
    flags.join(surv, Seq("doc_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      .select(col("source"),
        when(col("is_surv").isNull, "1_exact_dup")
          .when(col("is_contam").isNotNull, "2_contaminated")
          .when(col("rep_bad"), "3_low_quality")
          .when(col("pii_bad"), "4_pii")
          .otherwise("5_kept").as("stage"),
        col("n_tok"))
      .groupBy(col("source"), col("stage"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast("long").as("n_tokens"))
  }

  /** Context-limit truncation loss: per source, the exact token fraction
    * (in ppm) that survives truncating every document at L tokens, for
    * the candidate limits a trainer actually considers. q100 histograms
    * the length distribution; this prices the POLICY — pick the L where
    * the keep ratio stops paying for the context cost. Pure scan
    * projection (least(n_tok, L) per doc) into one source-keyed partial
    * agg. Ratios are INTEGER ppm — round(q·1e6, 0), never round(q, 6):
    * scale-0 rounding is cross-engine safe because half-integers are
    * exact doubles, where a 6-dp half boundary is not (the q109 lesson).
    */
  def truncationYield(docs: DataFrame): DataFrame = {
    val limits = Seq(128, 512, 2048)
    val base = docs.filter(col("text").isNotNull)
      .select(col("source"),
        size(TextAnalysis.words).cast("long").as("n_tok"))
    val aggs = count(lit(1)).as("n_docs") +:
      sum(col("n_tok")).as("n_tokens") +:
      limits.map(l => sum(least(col("n_tok"), lit(l.toLong))).as(s"kept_$l"))
    base.groupBy(col("source")).agg(aggs.head, aggs.tail: _*)
      .select(col("source") +: col("n_docs") +: col("n_tokens").cast("long").as("n_tokens") +:
        limits.map(l =>
          round(col(s"kept_$l").cast("double") * 1e6 / col("n_tokens"), 0)
            .cast("long").as(s"keep_${l}_ppm")): _*)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q112_screen_cascade" -> ((s, dir) =>
      screenCascade(Tables.documents(s, dir))),

    // Context-limit truncation pricing — see [[truncationYield]].
    "q113_truncation_yield" -> ((s, dir) =>
      truncationYield(Tables.documents(s, dir))),

    "q106_quality_yield" -> ((s, dir) =>
      qualityYield(Tables.documents(s, dir))),

    // Exact per-source length quantiles (p25/p50/p75/p95) from ONE value
    // histogram — [[quantilesByHistogram]]: the per-group generalization
    // of q89's cutoff machinery (q54 reports only the median). The window
    // runs over HISTOGRAM rows (≤ |value domain| per source, independent
    // of corpus size); no group ever buffers its values.
    // Quantiles ship as INTEGER micro-units (round(q·1e6, 0) — the q109
    // lesson): a 6-dp round of the raw interpolated value can land on an
    // unrepresentable half-1e-6 boundary and flake cross-engine.
    "q111_source_quantiles" -> ((s, dir) =>
      quantilesByHistogram(Tables.documents(s, dir), "source", "n_chars",
        Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75, "p95" -> 0.95))
        .select(col("source"), col("n_vals").as("n_docs"),
          round(col("p25") * 1e6, 0).cast("long").as("p25_micro"),
          round(col("p50") * 1e6, 0).cast("long").as("p50_micro"),
          round(col("p75") * 1e6, 0).cast("long").as("p75_micro"),
          round(col("p95") * 1e6, 0).cast("long").as("p95_micro"))),

    "q76_curation_verdict" -> ((s, dir) =>
      curationVerdict(Tables.documents(s, dir))),

    // Quality-screen vs dedup-screen overlap — see [[screenCalibration]].
    "q95_screen_calibration" -> ((s, dir) =>
      screenCalibration(Tables.documents(s, dir))),

    // Which copy of each normalization-exact duplicate cluster survives
    // — see [[clusterReps]].
    "q92_cluster_reps" -> ((s, dir) =>
      clusterReps(Tables.documents(s, dir))),

    // Overlapping context-window chunks (win 32 / stride 24 at gate
    // scale so multi-chunk docs actually occur in the fixture corpus).
    "q64_chunk" -> ((s, dir) => chunked(Tables.documents(s, dir), 32, 24)),

    // Chunk-granularity duplication per document — see [[chunkDedup]].
    "q85_chunk_dedup" -> ((s, dir) =>
      chunkDedup(Tables.documents(s, dir), 32, 24)),

    // Pair-level chunk overlap — see [[chunkOverlapPairs]].
    "q88_chunk_overlap" -> ((s, dir) =>
      chunkOverlapPairs(Tables.documents(s, dir), 32, 24)),

    // TF-IDF top-3 terms per doc — see [[tfidfTopK]].
    "q65_tfidf" -> ((s, dir) => tfidfTopK(Tables.documents(s, dir))),

    // int8 embedding quantization calibration: per-vector scale, quantized
    // checksum, sparsity, and reconstruction MSE. One fused codegen pass
    // ([[graft.functions.QuantizeStats]]), zero shuffles — the numbers that
    // decide whether the 4x-smaller index is safe to ship.
    "q52_embed_quantize" -> ((s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("vec_id"), VectorFunctions.quantizeStats(col("embedding")).as("st"))
        .select(col("vec_id"),
          round(col("st.scale"), 6).as("scale"),
          col("st.sum_q").as("sum_q"),
          col("st.n_nonzero").as("n_nonzero"),
          round(col("st.mse"), 6).as("mse"))),

    // Normalization-robust exact dedup: q30 catches byte-identical copies;
    // this catches the re-hosted copy with different casing/punctuation/
    // whitespace — the most common near-dup class in crawled corpora, at
    // exact-dedup cost (no signatures, no banding). Same shuffle discipline
    // as q30: group on (xxhash64(norm), len) so bodies never shuffle.
    "q53_norm_dedup" -> ((s, dir) =>
      Tables.documents(s, dir).filter(col("text").isNotNull)
        .select(col("doc_id"), normText(col("text")).as("norm"))
        .groupBy(xxhash64(col("norm")).as("h"),
          length(col("norm")).cast("long").as("norm_len"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
        .select(col("doc_id"), col("n_copies"), col("norm_len"))),

    // Per-source curation profile: the table a pipeline operator reads
    // before deciding per-domain sampling weights/filters. Counts/avg are
    // plain partial aggs; the exact median comes from the value histogram
    // ([[medianByHistogram]]) rather than the builtin `percentile`, which
    // would buffer every n_chars of a dominant source on one reducer.
    "q54_source_profile" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val stats = docs.groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          count_distinct(col("lang")).as("n_langs"),
          (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"))
      // null-safe LEFT join: a NULL-source group survives (like the single
      // groupBy it replaced), and a group whose every n_chars is NULL gets
      // p50_chars = NULL (exactly percentile's behavior)
      val med = medianByHistogram(docs, "source", "n_chars")
        .withColumnRenamed("median", "p50_chars")
        .withColumnRenamed("source", "med_source")
      stats.join(med, col("source") <=> col("med_source"), "left")
        .select(col("source"), col("n_docs"), col("n_langs"),
          col("avg_chars"), col("p50_chars"))
    }),

    // Token-rarity scoring: per doc, the mean corpus document-frequency of
    // its tokens — low mean = rare-vocabulary doc (OCR noise, foreign
    // matter, gibberish), the unigram-LM quality signal without the
    // cross-engine float-log parity trap (counts are integers; the one
    // division is exact-int/exact-int). Shuffles: one (token) agg, one
    // (token) join that reuses the same key distribution, one (doc_id)
    // agg — all partial-aggregated, nothing carries document bodies.
    "q56_token_rarity" -> ((s, dir) => {
      // Dedup.tokens is THE pinned cross-engine tokenization contract
      // (trim + \s+ split); q48/q44's oracles ride the same definition
      val toks = Tables.documents(s, dir).filter(col("text").isNotNull)
        .select(col("doc_id"), explode(Dedup.tokens).as("tok"))
      val df = toks.groupBy(col("tok")).agg(count(lit(1)).as("tok_df"))
      toks.join(df, Seq("tok"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_toks"), sum(col("tok_df")).as("sum_df"))
        .select(col("doc_id"), col("n_toks"),
          (col("sum_df").cast("double") / col("n_toks")).as("avg_df"))
    }),

    // Sequence packing: assign each doc to a fixed-token-budget training
    // pack (the pre-tokenizer packing step — docs are concatenated until
    // the context window is full). Cumulative packing is inherently
    // sequential, so it runs per SHARD: deterministic hash shards, within
    // each shard a running token offset (window over the shard) and
    // pack = shard-qualified floor(startOffset / budget). The driver
    // query pins 32 shards for oracle determinism; the library form
    // ([[packedSequences]]) sizes shards from catalog stats so a shard's
    // row count stays bounded at corpus scale.
    "q57_pack" -> ((s, dir) =>
      packedSequences(
        Tables.documents(s, dir).filter(col("text").isNotNull),
        "doc_id", budget = 2048, nShards = 32)),

    // Packing efficiency of q57's exact layout — see [[packWaste]].
    "q97_pack_waste" -> ((s, dir) =>
      packWaste(Tables.documents(s, dir))),

    // Power-of-two sequence-length histogram — see [[lenBuckets]].
    "q100_len_buckets" -> ((s, dir) =>
      lenBuckets(Tables.documents(s, dir))),

    // End-to-end composition (the pipeline tail a trainer consumes):
    // exact-dedup the corpus — q30's canonical min-id survivor, via the
    // SHARED [[Dedup.exactSurvivors]] so the two queries cannot diverge
    // — then pack ONLY the survivors into fixed-token-budget training
    // sequences (q57). Scale discipline: token counts are computed
    // MAP-SIDE before the join, so the survivor join's exchanges carry
    // (doc_id, n_tok) and (doc_id) — 16-byte rows, never bodies (the
    // round-9 review caught the body-through-the-join variant) — and
    // each operator keeps its individual shape inside the composed plan
    // (partial dedup agg, per-shard pack windows).
    "q91_dedup_pack" -> ((s, dir) => {
      val live = Tables.documents(s, dir).filter(col("text").isNotNull)
      val counts = live.select(col("doc_id"),
        size(Dedup.tokens).cast("long").as("n_tok"))
      val keep = Dedup.exactSurvivors(live).select(col("doc_id"))
      packTokenCounts(counts.join(keep, Seq("doc_id")), "doc_id",
        budget = 2048, nShards = 32)
    }),

    // Global exact-quantile admission cutoff: keep the docs whose
    // whitespace-token count clears the corpus P90 — the "keep the long
    // tail of substantive documents" curation gate, and the pattern for
    // ANY quantile-thresholded filter (quality score, LM loss) at scale:
    // histogram-agg + bounded driver walk for the cutoff
    // ([[quantileCont]]), then a second map-side pass admits rows. Two
    // scans by design — the alternative (a global sort or a one-reducer
    // percentile) does not survive corpus scale.
    "q89_quantile_cutoff" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("text").isNotNull)
        .select(col("doc_id"), size(Dedup.tokens).cast("long").as("n_tok"))
      val cut = quantileCont(docs, col("n_tok"), 0.9)
      docs.filter(col("n_tok") >= cut)
        .select(col("doc_id"), col("n_tok"), round(lit(cut), 6).as("cutoff"))
    }),

    // C4-style line-level boilerplate filter stats: per doc, how many
    // lines are prose (≥ 20 chars, terminal punctuation) vs chrome. One
    // fused codegen pass ([[graft.functions.LineStats]]), zero shuffles.
    // NULL-text contract as q44: excluded on both sides.
    "q55_line_filter" -> ((s, dir) =>
      Tables.documents(s, dir).filter(col("text").isNotNull)
        .select(col("doc_id"), LineStats(col("text")).as("st"))
        .select(col("doc_id"),
          col("st.n_lines").as("n_lines"),
          col("st.n_kept").as("n_kept"),
          round(col("st.n_kept").cast("double") / col("st.n_lines"), 6)
            .as("kept_ratio"),
          col("st.kept_chars").as("kept_chars"))),

    // Cross-doc boilerplate profile — see [[boilerplateStats]]. The
    // synthetic corpus is single-line, so the driver query PLANTS the
    // cross-doc structure in-pipeline (the q124 lesson: the signal must
    // exist at every scale so the oracle gates non-vacuously; modular
    // id plants survive ScaleCorpus): two footer lines at different df
    // (% 3, % 7) and a per-doc line REPEATED WITHIN its doc (% 13) that
    // must stay unflagged — occurrences must not inflate the distinct
    // doc frequency. The oracle applies the identical transform.
    "q129_boilerplate" -> ((s, dir) => {
      val d = col("doc_id")
      val planted = Tables.documents(s, dir).filter(col("text").isNotNull)
        .select(d, concat(col("text"),
          when(d % 7 === 0, lit("\nvisit example dot com for more"))
            .otherwise(lit("")),
          when(d % 3 === 0, lit("\nall rights reserved")).otherwise(lit("")),
          when(d % 13 === 0, concat(lit("\ndup line "), d.cast("string"),
            lit("\ndup line "), d.cast("string"))).otherwise(lit("")))
          .as("text"))
      boilerplateStats(planted)
    })
  )

  def oracles: Map[String, String] = Map(
    // Same plant, same line contract (chr(10) split, space trim,
    // non-empty), df over DISTINCT docs per line STRING (the xxhash64
    // rename argument); the per-doc rollup mirrors the single
    // flag-fold aggregate. BIGINT casts for the hugeint sums.
    "q129_boilerplate" ->
      raw"""WITH base AS (
           |  SELECT doc_id, text
           |    || CASE WHEN doc_id % 7 = 0
           |         THEN chr(10) || 'visit example dot com for more'
           |         ELSE '' END
           |    || CASE WHEN doc_id % 3 = 0
           |         THEN chr(10) || 'all rights reserved' ELSE '' END
           |    || CASE WHEN doc_id % 13 = 0
           |         THEN chr(10) || 'dup line ' || doc_id
           |           || chr(10) || 'dup line ' || doc_id ELSE '' END
           |    AS text
           |  FROM documents WHERE text IS NOT NULL),
           |l AS MATERIALIZED (
           |  SELECT doc_id, trim(x, ' ') AS l,
           |         CAST(len(trim(x, ' ')) AS BIGINT) AS ln
           |  FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS x
           |        FROM base)
           |  WHERE len(trim(x, ' ')) > 0),
           |d AS MATERIALIZED (
           |  SELECT l, count(DISTINCT doc_id) AS line_df FROM l GROUP BY l)
           |SELECT doc_id,
           |  count(*) AS n_lines,
           |  CAST(sum(CASE WHEN line_df >= 3 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_boiler,
           |  CAST((1000000 * sum(CASE WHEN line_df >= 3 THEN 1 ELSE 0 END))
           |       // count(*) AS BIGINT) AS boiler_ppm,
           |  CAST(sum(ln) - sum(CASE WHEN line_df >= 3 THEN ln ELSE 0 END)
           |       AS BIGINT) AS kept_chars
           |FROM l JOIN d USING (l)
           |GROUP BY doc_id""".stripMargin,

    // q30's dedup (GROUP BY text ≡ the Spark side's (xxhash64, len)
    // grouping — the hash only renames the group) composed with q57's
    // pack CTEs over the survivor set.
    "q91_dedup_pack" ->
      raw"""WITH live AS (
           |  SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
           |keep AS (SELECT MIN(doc_id) AS doc_id FROM live GROUP BY text),
           |surv AS (SELECT l.doc_id, l.text FROM live l
           |         JOIN keep k ON l.doc_id = k.doc_id),
           |t AS (
           |  SELECT doc_id,
           |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
           |      AS n_tok,
           |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
           |      AS h
           |  FROM surv),
           |c AS (
           |  SELECT doc_id, h % 32 AS shard, n_tok,
           |    CAST(sum(n_tok) OVER (PARTITION BY h % 32 ORDER BY h, doc_id
           |                          ROWS UNBOUNDED PRECEDING) - n_tok
           |         AS BIGINT) AS start_off
           |  FROM t)
           |SELECT doc_id, shard,
           |  shard * 1099511627776 + start_off // 2048 AS pack_id, n_tok
           |FROM c""".stripMargin,

    // Same token definition as q39's ws_tokens; quantile_cont is the
    // same h=(n−1)·p continuous interpolation quantileCont mirrors, and
    // both engines compare the raw (unrounded) cutoff for admission.
    "q89_quantile_cutoff" ->
      raw"""WITH t AS (
           |  SELECT doc_id,
           |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
           |      AS n_tok
           |  FROM documents WHERE text IS NOT NULL),
           |c AS (SELECT quantile_cont(n_tok, 0.9) AS cut FROM t)
           |SELECT t.doc_id, t.n_tok, round(c.cut, 6) AS cutoff
           |FROM t, c WHERE t.n_tok >= c.cut""".stripMargin,

    // The verdict composes the q38/q44/q50 oracle expressions verbatim
    // (same tokenizer, same gram space, same regexes); the CASE chain
    // mirrors the fixed reason order and compares the same unrounded
    // doubles.
    "q76_curation_verdict" ->
      raw"""WITH t AS (
           |  SELECT doc_id, n_chars, text,
           |         regexp_split_to_array(trim(text), '\s+') AS tk
           |  FROM documents WHERE text IS NOT NULL),
           |g AS (
           |  SELECT doc_id, n_chars, text, len(tk) AS n_words,
           |    len(list_distinct(tk)) AS n_uniq,
           |    CASE WHEN len(tk) >= 3 THEN len(tk) - 2 ELSE 0 END AS ng,
           |    CASE WHEN len(tk) >= 3
           |         THEN len(list_distinct(list_transform(
           |                generate_series(1, len(tk) - 2),
           |                i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])))
           |         ELSE 0 END AS nu,
           |    list_max(list_transform(list_distinct(tk),
           |      x -> len(list_filter(tk, y -> y = x)))) AS top,
           |    len(regexp_extract_all(text, '${Pii.Email}'))
           |      + len(regexp_extract_all(text, '${Pii.Phone}'))
           |      + len(regexp_extract_all(text, '${Pii.Ipv4}'))
           |      + len(regexp_extract_all(text, '${Pii.LongId}')) AS n_pii
           |  FROM t),
           |s AS (
           |  SELECT doc_id, n_words, n_pii,
           |    CAST(n_uniq AS DOUBLE) / n_words AS uniq_ratio,
           |    CAST(n_chars AS DOUBLE) / n_words AS cpw,
           |    CASE WHEN ng > 0 THEN 1.0 - CAST(nu AS DOUBLE) / ng
           |         ELSE 0.0 END AS dup_gram_ratio,
           |    CAST(top AS DOUBLE) / n_words AS top_token_ratio
           |  FROM g),
           |r AS (
           |  SELECT *,
           |    (CASE WHEN n_words < 20 THEN 'too_short;' ELSE '' END)
           |    || (CASE WHEN uniq_ratio < 0.5 THEN 'low_diversity;' ELSE '' END)
           |    || (CASE WHEN cpw < 5.0 OR cpw > 6.0 THEN 'word_shape;' ELSE '' END)
           |    || (CASE WHEN dup_gram_ratio > 0.05 OR top_token_ratio > 0.2
           |             THEN 'repetitive;' ELSE '' END)
           |    || (CASE WHEN n_pii > 0 THEN 'pii;' ELSE '' END) AS reject_reasons
           |  FROM s)
           |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           |  round(uniq_ratio, 6) AS uniq_ratio,
           |  round(dup_gram_ratio, 6) AS dup_gram_ratio,
           |  round(top_token_ratio, 6) AS top_token_ratio,
           |  CAST(n_pii AS BIGINT) AS n_pii, reject_reasons,
           |  CAST(CASE WHEN reject_reasons = '' THEN 1 ELSE 0 END AS BIGINT)
           |    AS keep_flag
           |FROM r""".stripMargin,

    // Same tokenizer, same integer tf/df, same ln; BOTH engines rank by
    // the rounded score so ties resolve identically (tok asc). row_number
    // is INT on the Spark side and BIGINT here — the gate stringifies
    // integer cells, so the width difference is invisible (q16 precedent).
    "q65_tfidf" ->
      raw"""WITH live AS (
           |  SELECT doc_id, text FROM documents
           |  WHERE text IS NOT NULL
           |    AND length(trim(text, ' ' || chr(9) || chr(10) || chr(13))) > 0),
           |toks AS (
           |  SELECT doc_id, tok FROM (
           |    SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
           |    FROM live)
           |  WHERE tok <> ''),
           |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
           |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
           |n AS (SELECT count(*) AS n_docs FROM live),
           |scored AS (
           |  SELECT doc_id, tok, CAST(tf AS BIGINT) AS tf,
           |    CAST(df AS BIGINT) AS df,
           |    round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS score
           |  FROM tf JOIN df USING (tok), n)
           |SELECT doc_id, tok, tf, df, score, rank FROM (
           |  SELECT *, row_number() OVER (PARTITION BY doc_id
           |            ORDER BY score DESC, tok ASC) AS rank
           |  FROM scored)
           |WHERE rank <= 3""".stripMargin,

    // Same tokenizer, same window arithmetic; DuckDB's 1-based inclusive
    // list slice is clamped with least() to mirror Spark slice's
    // auto-truncation at the array end.
    "q64_chunk" ->
      raw"""WITH toks AS (
           |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
           |  FROM documents
           |  WHERE text IS NOT NULL
           |    AND length(trim(text, ' ' || chr(9) || chr(10) || chr(13))) > 0),
           |n AS (
           |  SELECT doc_id, t,
           |    1 + CAST(ceil(greatest(len(t) - 32, 0) / 24.0) AS BIGINT) AS nc
           |  FROM toks)
           |SELECT doc_id, i AS chunk_idx,
           |  CAST(len(t[i*24+1 : least(i*24+32, len(t))]) AS BIGINT) AS n_tok,
           |  list_aggregate(t[i*24+1 : least(i*24+32, len(t))],
           |                 'string_agg', ' ') AS chunk
           |FROM n, UNNEST(range(0, nc)) AS r(i)""".stripMargin,

    // q64's chunking CTEs verbatim; the oracle groups by the chunk STRING
    // where Spark groups by (xxhash64, length) — equivalent up to 64-bit
    // fingerprint collision (the q30 convention).
    "q85_chunk_dedup" ->
      raw"""WITH toks AS (
           |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
           |  FROM documents
           |  WHERE text IS NOT NULL
           |    AND length(trim(text, ' ' || chr(9) || chr(10) || chr(13))) > 0),
           |n AS (
           |  SELECT doc_id, t,
           |    1 + CAST(ceil(greatest(len(t) - 32, 0) / 24.0) AS BIGINT) AS nc
           |  FROM toks),
           |chunks AS (
           |  SELECT doc_id, i AS chunk_idx,
           |    list_aggregate(t[i*24+1 : least(i*24+32, len(t))],
           |                   'string_agg', ' ') AS chunk
           |  FROM n, UNNEST(range(0, nc)) AS r(i)),
           |firsts AS (
           |  SELECT chunk, min((doc_id, chunk_idx)) AS first
           |  FROM chunks GROUP BY chunk)
           |SELECT c.doc_id,
           |  CAST(count(*) AS BIGINT) AS n_chunks,
           |  CAST(sum(CASE WHEN (c.doc_id, c.chunk_idx) <> f.first
           |    THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks,
           |  round(sum(CASE WHEN (c.doc_id, c.chunk_idx) <> f.first
           |    THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6) AS dup_ratio
           |FROM chunks c JOIN firsts f ON c.chunk = f.chunk
           |GROUP BY c.doc_id""".stripMargin,

    // q64's chunk CTEs again; the bucket cap (2..64 members) and the
    // minShared floor are applied on the same group cardinalities, so both
    // engines keep exactly the same pairs (chunk-string groups here vs
    // (xxhash64, length) fingerprints on the Spark side — the q30
    // collision convention).
    "q88_chunk_overlap" ->
      raw"""WITH toks AS (
           |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
           |  FROM documents
           |  WHERE text IS NOT NULL
           |    AND length(trim(text, ' ' || chr(9) || chr(10) || chr(13))) > 0),
           |n AS (
           |  SELECT doc_id, t,
           |    1 + CAST(ceil(greatest(len(t) - 32, 0) / 24.0) AS BIGINT) AS nc
           |  FROM toks),
           |chunks AS (
           |  SELECT doc_id,
           |    list_aggregate(t[i*24+1 : least(i*24+32, len(t))],
           |                   'string_agg', ' ') AS chunk
           |  FROM n, UNNEST(range(0, nc)) AS r(i)),
           |ch AS (SELECT DISTINCT doc_id, chunk FROM chunks),
           |sizes AS (SELECT chunk, count(*) AS bsz FROM ch GROUP BY chunk),
           |perdoc AS (
           |  SELECT c.doc_id, CAST(count(*) AS BIGINT) AS nc
           |  FROM ch c JOIN sizes s ON c.chunk = s.chunk
           |  WHERE s.bsz <= 64 GROUP BY c.doc_id),
           |kept AS (SELECT c.doc_id, c.chunk
           |         FROM ch c JOIN sizes s ON c.chunk = s.chunk
           |         WHERE s.bsz BETWEEN 2 AND 64),
           |shared AS (
           |  SELECT l.doc_id AS a, r.doc_id AS b,
           |    CAST(count(*) AS BIGINT) AS n_shared
           |  FROM kept l JOIN kept r
           |    ON l.chunk = r.chunk AND l.doc_id < r.doc_id
           |  GROUP BY l.doc_id, r.doc_id
           |  HAVING count(*) >= 2)
           |SELECT s.a, s.b, s.n_shared, pa.nc AS na, pb.nc AS nb,
           |  round(s.n_shared / CAST(pa.nc + pb.nc - s.n_shared AS DOUBLE), 6)
           |    AS jaccard
           |FROM shared s
           |JOIN perdoc pa ON s.a = pa.doc_id
           |JOIN perdoc pb ON s.b = pb.doc_id""".stripMargin,

    // mse: list_reduce is a sequential left fold over the same element
    // order as the Spark expression's loop — bit-identical doubles, so the
    // 6-dp rounding agrees. sum_q/n_nonzero are integers (order-free).
    "q52_embed_quantize" ->
      """WITH t AS (
        |  SELECT vec_id, embedding,
        |    coalesce(list_max(list_transform(embedding,
        |      x -> abs(CAST(coalesce(x, 0) AS DOUBLE)))), 0.0) / 127.0 AS scale
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id, scale, embedding,
        |    list_transform(embedding, x -> CASE WHEN scale = 0 THEN CAST(0 AS BIGINT)
        |      ELSE CAST(least(greatest(floor(CAST(coalesce(x, 0) AS DOUBLE)/scale + 0.5),
        |                               -127.0), 127.0) AS BIGINT) END) AS qv
        |  FROM t),
        |e AS (
        |  SELECT vec_id, scale, qv, embedding,
        |    list_transform(list_zip(embedding, qv),
        |      p -> CAST(coalesce(p[1], 0) AS DOUBLE) - CAST(p[2] AS DOUBLE) * scale) AS err
        |  FROM q)
        |SELECT vec_id, round(scale, 6) AS scale,
        |  CAST(coalesce(list_sum(qv), 0) AS BIGINT) AS sum_q,
        |  CAST(len(list_filter(qv, x -> x <> 0)) AS BIGINT) AS n_nonzero,
        |  CASE WHEN len(embedding) = 0 THEN 0.0
        |       ELSE round(coalesce(list_reduce(list_transform(err, x -> x*x),
        |                                       (a, b) -> a + b), 0.0)
        |                  / len(embedding), 6) END AS mse
        |FROM e""".stripMargin,

    // least() per doc, then ppm ratios rounded at SCALE 0 of q·1e6 —
    // never round-6 of a raw quotient, whose half-micro decimals have no
    // exact double and round apart cross-engine (the q109 lesson)
    "q113_truncation_yield" ->
      raw"""WITH t AS (
           |  SELECT source, len(regexp_split_to_array(trim(text), '\s+')) AS n_tok
           |  FROM documents WHERE text IS NOT NULL)
           |SELECT source, count(*) AS n_docs,
           |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           |  CAST(round(CAST(sum(least(n_tok, 128)) AS DOUBLE) * 1e6
           |    / sum(n_tok), 0) AS BIGINT) AS keep_128_ppm,
           |  CAST(round(CAST(sum(least(n_tok, 512)) AS DOUBLE) * 1e6
           |    / sum(n_tok), 0) AS BIGINT) AS keep_512_ppm,
           |  CAST(round(CAST(sum(least(n_tok, 2048)) AS DOUBLE) * 1e6
           |    / sum(n_tok), 0) AS BIGINT) AS keep_2048_ppm
           |FROM t GROUP BY source""".stripMargin,

    // stage CASE mirrors the Spark first-flag-wins order; survivor CTE =
    // the q30 oracle over the train slice, contamination CTE = the q49
    // gram space, repetition/PII features = the q44/q50 oracle forms
    "q112_screen_cascade" ->
      raw"""WITH live AS (
           |  SELECT doc_id, source, text FROM documents WHERE text IS NOT NULL),
           |train AS (SELECT * FROM live WHERE doc_id % 20 <> 0),
           |surv AS (SELECT min(doc_id) AS doc_id FROM train GROUP BY text),
           |tl AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
           |       FROM live),
           |grams AS (
           |  SELECT DISTINCT doc_id, list_aggregate(t[i:i+7], 'string_agg', ' ') AS g
           |  FROM tl, UNNEST(range(1, len(t) - 6)) AS r(i) WHERE len(t) >= 8),
           |contam AS (
           |  SELECT DISTINCT gr.doc_id FROM grams gr
           |  JOIN (SELECT DISTINCT g FROM grams WHERE doc_id % 20 = 0) b USING (g)
           |  WHERE gr.doc_id % 20 <> 0),
           |feat AS (
           |  SELECT tr.doc_id, tr.source, len(tk.t) AS n_tok,
           |    CASE WHEN len(tk.t) >= 3
           |         THEN 1.0 - CAST(len(list_distinct(list_transform(
           |                generate_series(1, len(tk.t) - 2),
           |                i -> tk.t[i] || ' ' || tk.t[i+1] || ' ' || tk.t[i+2])))
           |              AS DOUBLE) / (len(tk.t) - 2)
           |         ELSE 0.0 END AS dgr,
           |    CAST(list_max(list_transform(list_distinct(tk.t),
           |           x -> len(list_filter(tk.t, y -> y = x)))) AS DOUBLE)
           |      / len(tk.t) AS ttr,
           |    (len(regexp_extract_all(tr.text, '${Pii.Email}'))
           |     + len(regexp_extract_all(tr.text, '${Pii.Phone}'))
           |     + len(regexp_extract_all(tr.text, '${Pii.Ipv4}'))
           |     + len(regexp_extract_all(tr.text, '${Pii.LongId}'))) > 0 AS pii_bad
           |  FROM train tr JOIN tl tk USING (doc_id)),
           |staged AS (
           |  SELECT f.source, f.n_tok,
           |    CASE WHEN s.doc_id IS NULL THEN '1_exact_dup'
           |         WHEN c.doc_id IS NOT NULL THEN '2_contaminated'
           |         WHEN f.dgr > 0.5 OR f.ttr > 0.3 THEN '3_low_quality'
           |         WHEN f.pii_bad THEN '4_pii'
           |         ELSE '5_kept' END AS stage
           |  FROM feat f
           |  LEFT JOIN surv s ON f.doc_id = s.doc_id
           |  LEFT JOIN contam c ON f.doc_id = c.doc_id)
           |SELECT source, stage, count(*) AS n_docs,
           |  CAST(sum(n_tok) AS BIGINT) AS n_tokens
           |FROM staged GROUP BY source, stage""".stripMargin,

    // quantile_cont IS the semantics being reproduced, so the oracle is
    // the builtin direct; count(n_chars) = the non-null n the ranks use
    "q111_source_quantiles" ->
      """SELECT source, count(n_chars) AS n_docs,
        |  CAST(round(quantile_cont(n_chars, 0.25) * 1e6, 0) AS BIGINT) AS p25_micro,
        |  CAST(round(quantile_cont(n_chars, 0.50) * 1e6, 0) AS BIGINT) AS p50_micro,
        |  CAST(round(quantile_cont(n_chars, 0.75) * 1e6, 0) AS BIGINT) AS p75_micro,
        |  CAST(round(quantile_cont(n_chars, 0.95) * 1e6, 0) AS BIGINT) AS p95_micro
        |FROM documents GROUP BY source
        |HAVING count(n_chars) > 0""".stripMargin,

    // same bucket expression as q95; cumulative via self-join mirrors the
    // Spark broadcast-triangle spelling, scalar subquery = the 1-row total
    "q106_quality_yield" ->
      raw"""WITH toks AS (
           |  SELECT string_split_regex(trim(text), '\s+') AS t
           |  FROM documents WHERE text IS NOT NULL),
           |b AS (
           |  SELECT LEAST(CAST(floor(
           |      CAST(len(list_distinct(t)) AS DOUBLE) / len(t) * 10)
           |    AS BIGINT), 9) AS bucket,
           |    len(t) AS n_tokens
           |  FROM toks),
           |p AS (
           |  SELECT bucket, count(*) AS n_docs,
           |    CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
           |  FROM b GROUP BY bucket)
           |SELECT p.bucket, p.n_docs, p.sum_tokens,
           |  CAST(sum(u.n_docs) AS BIGINT) AS cum_docs,
           |  CAST(sum(u.sum_tokens) AS BIGINT) AS cum_tokens,
           |  CAST(round(CAST(sum(u.sum_tokens) AS DOUBLE) * 1e6
           |    / (SELECT sum(sum_tokens) FROM p), 0) AS BIGINT)
           |    AS token_share_ppm
           |FROM p JOIN p u ON u.bucket >= p.bucket
           |GROUP BY p.bucket, p.n_docs, p.sum_tokens""".stripMargin,

    "q95_screen_calibration" ->
      raw"""WITH toks AS (
           |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
           |  FROM documents WHERE text IS NOT NULL),
           |grams AS (
           |  SELECT doc_id, list_aggregate(t[i:i+15], 'string_agg', ' ') AS g
           |  FROM toks, UNNEST(range(1, len(t) - 14)) AS r(i)
           |  WHERE len(t) >= 16),
           |shared AS (
           |  SELECT g FROM (SELECT DISTINCT doc_id, g FROM grams)
           |  GROUP BY g HAVING count(*) >= 2),
           |perdoc AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id),
           |dup AS (SELECT doc_id, count(*) AS n_dup
           |        FROM grams JOIN shared USING (g) GROUP BY doc_id),
           |span AS (
           |  SELECT p.doc_id, p.n_grams, coalesce(d.n_dup, 0) AS n_dup
           |  FROM perdoc p LEFT JOIN dup d USING (doc_id)),
           |b AS (
           |  SELECT doc_id, LEAST(CAST(floor(
           |      CAST(len(list_distinct(t)) AS DOUBLE) / len(t) * 10)
           |    AS BIGINT), 9) AS bucket
           |  FROM toks)
           |SELECT bucket, count(*) AS n_docs,
           |  CAST(sum(n_grams) AS BIGINT) AS sum_grams,
           |  CAST(sum(n_dup) AS BIGINT) AS sum_dup,
           |  round(CAST(sum(n_dup) AS DOUBLE) / sum(n_grams), 6) AS dup_share
           |FROM span JOIN b USING (doc_id) GROUP BY bucket""".stripMargin,

    // same norm expression as q53; the oracle partitions by the norm
    // STRING where Spark groups by (xxhash64, len) — the q53 convention
    // that a hash only renames group keys
    "q92_cluster_reps" ->
      """WITH n AS (
        |  SELECT doc_id, n_chars, trim(regexp_replace(regexp_replace(
        |      translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
        |                      'abcdefghijklmnopqrstuvwxyz'),
        |      '[^a-z0-9 \t\n\r]', '', 'g'), '[ \t\n\r]+', ' ', 'g')) AS norm
        |  FROM documents WHERE text IS NOT NULL),
        |r AS (
        |  SELECT doc_id, n_chars, norm,
        |    count(*) OVER (PARTITION BY norm) AS n_copies,
        |    row_number() OVER (PARTITION BY norm
        |                       ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM n)
        |SELECT doc_id AS rep_doc_id, n_chars AS rep_chars,
        |  n_copies, CAST(len(norm) AS BIGINT) AS norm_len
        |FROM r WHERE rn = 1""".stripMargin,

    "q53_norm_dedup" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS n_copies,
        |  CAST(len(norm) AS BIGINT) AS norm_len
        |FROM (SELECT doc_id, trim(regexp_replace(regexp_replace(
        |        translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
        |                        'abcdefghijklmnopqrstuvwxyz'),
        |        '[^a-z0-9 \t\n\r]', '', 'g'), '[ \t\n\r]+', ' ', 'g')) AS norm
        |      FROM documents WHERE text IS NOT NULL)
        |GROUP BY norm""".stripMargin,

    "q54_source_profile" ->
      """SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars,
        |  quantile_cont(n_chars, 0.5) AS p50_chars
        |FROM documents GROUP BY source""".stripMargin,

    "q57_pack" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok,
        |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
        |  FROM documents WHERE text IS NOT NULL),
        |c AS (
        |  -- windowed sum() returns HUGEINT in DuckDB; without the BIGINT
        |  -- cast start_off AND pack_id come back HUGEINT (float64 in the
        |  -- compare harness) while Spark emits int64 -> hash mismatch
        |  SELECT doc_id, h % 32 AS shard, n_tok,
        |    CAST(sum(n_tok) OVER (PARTITION BY h % 32 ORDER BY h, doc_id
        |                          ROWS UNBOUNDED PRECEDING) - n_tok AS BIGINT)
        |      AS start_off
        |  FROM t)
        |SELECT doc_id, shard,
        |  shard * 1099511627776 + start_off // 2048 AS pack_id, n_tok
        |FROM c""".stripMargin,

    // q57's layout CTEs + pure integer pack arithmetic (// is DuckDB's
    // integer div; casts pin BIGINT against HUGEINT widening — the q57
    // note); fill_ratio is one int/int division, exact cross-engine
    "q97_pack_waste" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok,
        |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
        |  FROM documents WHERE text IS NOT NULL),
        |c AS (
        |  SELECT doc_id, h % 32 AS shard, n_tok,
        |    CAST(sum(n_tok) OVER (PARTITION BY h % 32 ORDER BY h, doc_id
        |                          ROWS UNBOUNDED PRECEDING) - n_tok AS BIGINT)
        |      AS start_off
        |  FROM t),
        |g AS (
        |  SELECT shard, count(*) AS n_docs,
        |    CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
        |    CAST(max(start_off + n_tok) AS BIGINT) AS fin,
        |    CAST(sum(CASE WHEN (start_off + n_tok - 1) // 2048
        |                       > start_off // 2048 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_split_docs,
        |    CAST(sum((start_off + n_tok - 1) // 2048
        |             - start_off // 2048 + 1) AS BIGINT) AS n_fragments
        |  FROM c GROUP BY shard)
        |SELECT shard, n_docs, sum_tokens,
        |  CAST((fin + 2047) // 2048 AS BIGINT) AS n_packs,
        |  CAST((fin + 2047) // 2048 * 2048 - sum_tokens AS BIGINT)
        |    AS tail_waste,
        |  round(CAST(sum_tokens AS DOUBLE)
        |        / ((fin + 2047) // 2048 * 2048), 6) AS fill_ratio,
        |  n_split_docs, n_fragments
        |FROM g""".stripMargin,

    // bucket = bit_length - 1 via bin-string length on BOTH engines
    // (integer-exact; no FP log2); pow(2, k) is exact in a double for
    // any bucket a BIGINT token count can produce, and every share is
    // one rounded int/int division
    "q100_len_buckets" ->
      """WITH n AS (
        |  SELECT CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |    AS n_tok
        |  FROM documents WHERE text IS NOT NULL),
        |b AS (
        |  SELECT CAST(length(bin(n_tok)) - 1 AS BIGINT) AS bucket, n_tok
        |  FROM n),
        |per AS (
        |  SELECT bucket, count(*) AS n_docs,
        |    CAST(sum(n_tok) AS BIGINT) AS sum_tokens
        |  FROM b GROUP BY bucket),
        |tot AS (
        |  SELECT CAST(sum(n_docs) AS BIGINT) AS tot_docs,
        |    CAST(sum(sum_tokens) AS BIGINT) AS tot_tokens
        |  FROM per)
        |SELECT bucket, CAST(pow(2, bucket) AS BIGINT) AS lo,
        |  CAST(pow(2, bucket) AS BIGINT) * 2 - 1 AS hi,
        |  CAST(n_docs AS BIGINT) AS n_docs, sum_tokens,
        |  CAST(round(CAST(n_docs AS DOUBLE) * 1e6 / tot_docs, 0) AS BIGINT)
        |    AS doc_share_ppm,
        |  CAST(round(CAST(sum_tokens AS DOUBLE) * 1e6 / tot_tokens, 0) AS BIGINT)
        |    AS token_share_ppm
        |FROM per, tot""".stripMargin,

    "q56_token_rarity" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents WHERE text IS NOT NULL),
        |df AS (SELECT tok, count(*) AS tok_df FROM toks GROUP BY tok)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
        |  CAST(sum(tok_df) AS DOUBLE) / count(*) AS avg_df
        |FROM toks JOIN df USING (tok)
        |GROUP BY doc_id""".stripMargin,

    "q55_line_filter" ->
      """WITH l AS (
        |  SELECT doc_id,
        |    trim(unnest(string_split(text, chr(10))),
        |         ' ' || chr(9) || chr(13)) AS t
        |  FROM documents WHERE text IS NOT NULL),
        |k AS (
        |  SELECT doc_id, count(*) AS n_lines,
        |    sum(CASE WHEN len(t) >= 20 AND right(t, 1) IN ('.', '!', '?')
        |             THEN 1 ELSE 0 END) AS n_kept,
        |    sum(CASE WHEN len(t) >= 20 AND right(t, 1) IN ('.', '!', '?')
        |             THEN len(t) ELSE 0 END) AS kept_chars
        |  FROM l GROUP BY doc_id)
        |SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
        |  CAST(n_kept AS BIGINT) AS n_kept,
        |  round(CAST(n_kept AS DOUBLE) / n_lines, 6) AS kept_ratio,
        |  CAST(kept_chars AS BIGINT) AS kept_chars
        |FROM k""".stripMargin
  )
}
