package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Benchmark decontamination: find training documents that share a long
  * word n-gram with any document of a benchmark/eval set (the standard
  * train-test-overlap hygiene step of an LLM data pipeline — a doc that
  * contains an 8-token span of a benchmark item leaks the benchmark).
  *
  * Scale posture (100 TB): the benchmark side is always small relative to
  * the corpus (eval sets are thousands of items), so its distinct gram set
  * is BROADCAST and the corpus is streamed once map-side through a
  * broadcast hash join — the only shuffle is the per-contaminated-doc
  * count over join survivors, which is bounded by the contamination rate.
  * Grams cross the join as xxhash64 longs, never as strings.
  */
object Decontam {

  /** 8 tokens ≈ the shortest span that is vanishingly unlikely to repeat
    * by chance but survives light paraphrasing of a leaked benchmark item.
    */
  private[graft] val GramN = 8

  /** Training docs sharing ≥1 distinct word n-gram with the benchmark.
    * Both inputs need (doc_id, text). Output: (doc_id, n_shared) where
    * n_shared = number of the doc's distinct n-grams found anywhere in
    * the benchmark.
    */
  /** THE decontam gram space as a column — the single definition both the
    * batch screens and the streaming monitor explode (the stream keeps
    * event_time, so it can't reuse the (doc_id, g) projection below). */
  private[graft] def gramArray: org.apache.spark.sql.Column =
    array_distinct(graft.functions.TextFunctions.hashedGrams(Dedup.tokens, GramN))

  private def grams(df: DataFrame) = df
    .select(col("doc_id"), explode(gramArray).as("g"))

  /** Distinct xxhash64 n-gram set of the benchmark (`g` column).
    * Precompute (and cache) this once when screening REPEATEDLY against
    * the same benchmark — a streaming screen re-deriving it per
    * micro-batch would re-scan/re-tokenize/re-dedup the benchmark
    * thousands of times for no new information.
    */
  def benchGramSet(bench: DataFrame): DataFrame =
    grams(bench).select(col("g")).distinct()

  /** [[contaminated]] against an already-derived [[benchGramSet]]. */
  def contaminatedWithGrams(train: DataFrame, benchGrams: DataFrame): DataFrame =
    grams(train).join(broadcast(benchGrams), "g")
      // grams are distinct per doc and the bench side is distinct, so the
      // join multiplicity is 1 and a plain count is the distinct count
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))

  def contaminated(train: DataFrame, bench: DataFrame): DataFrame =
    contaminatedWithGrams(train, benchGramSet(bench))

  /** q49's semantics at benchmark sizes PAST the broadcast budget: the
    * exact gram set is replaced by a bloom filter
    * ([[graft.functions.BloomLong]] — no false negatives) for the
    * corpus-side prescreen, and the bloom's false positives are removed by
    * an exact confirm join over the SURVIVORS only. Output is exactly
    * [[contaminated]]'s — same rows, same counts (the shared q49 oracle
    * verifies that cross-engine).
    *
    * Scale shape: the bloom builds distributed (one OR-merge aggregation
    * over the bench grams) and comes back as ONE bounded row
    * (numBits/8 bytes — a documented driver step, the q43-fit class);
    * the probe is a codegen'd expression embedded in the corpus scan
    * projection, so the corpus-side prescreen is shuffle-free. Only
    * survivors (true matches + fpp·|corpus grams|) reach the confirm
    * join, whose bench side shuffles ONCE instead of broadcasting to
    * every executor. Size `numBits` at ~10–14 bits per expected distinct
    * bench gram; undersizing costs confirm-join traffic, never
    * correctness.
    */
  def bloomContaminated(train: DataFrame, bench: DataFrame,
                        numBits: Long = 1L << 23): DataFrame = {
    import graft.functions.BloomFunctions
    // materialized once: the gram set feeds BOTH the bloom build (an
    // eager action here) and the confirm join in the returned plan —
    // without the boundary the bench-side scan+tokenize+distinct pipeline
    // runs twice
    val bg = Materialize(benchGramSet(bench))
    val bloomBytes = bg
      .agg(BloomFunctions.bloomAgg(col("g"), numBits).as("bf"))
      .head.getAs[Array[Byte]](0)
    grams(train)
      .filter(BloomFunctions.mightContain(bloomBytes, col("g")))
      .join(bg, "g") // exact confirm — kills the false positives
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
  }

  /** The reverse rollup of [[contaminated]]: per BENCHMARK item, how
    * widely it leaks into the training corpus — distinct contaminated
    * train docs and distinct shared grams. q49 answers "which train docs
    * do we drop"; this answers "which eval items are compromised and how
    * badly" — the table that decides whether a benchmark score is still
    * reportable after training, item by item. Bench items with no leak
    * are absent (report what leaks, like q49).
    *
    * Scale: same broadcast discipline as q49 — the bench gram set (now
    * carrying bench_id) broadcasts, the corpus streams once map-side
    * through the hash join, and the only shuffle is the per-bench-item
    * distinct-count over join survivors, bounded by the contamination
    * rate; both count_distincts are two-phase partial aggs on the
    * bench-sized key space.
    */
  /** The benchmark's distinct (bench_id, g) gram index — [[benchGramSet]]
    * keeping item identity, for leak ATTRIBUTION rather than a yes/no
    * screen. Derive once and cache when screening repeatedly (the
    * [[benchGramSet]] contract). */
  def benchGramIds(bench: DataFrame): DataFrame =
    grams(bench).select(col("doc_id").as("bench_id"), col("g")).distinct()

  def leakProfile(train: DataFrame, bench: DataFrame): DataFrame = {
    val bg = benchGramIds(bench)
    grams(train).join(broadcast(bg), "g")
      .groupBy(col("bench_id"))
      .agg(count_distinct(col("doc_id")).as("n_train_docs"),
        count_distinct(col("g")).as("n_shared_grams"))
  }

  /** The action step: the training corpus with every contaminated doc
    * REMOVED (left-anti join on the q49 report — the report is bounded by
    * the contamination rate, so the anti join's right side is small).
    */
  def decontaminate(train: DataFrame, bench: DataFrame): DataFrame =
    train.join(contaminated(train, bench).select(col("doc_id")),
      Seq("doc_id"), "left_anti")

  /** Width-sensitivity sweep of the screen: q49's contamination report at
    * SEVERAL n-gram widths in one pass — per width, contaminated train
    * docs, distinct shared grams, and the corpus contamination rate. The
    * policy table behind `GramN`: widening the span relaxes the screen
    * (fewer chance collisions, more paraphrase escapes), and this is the
    * evidence for where that trade sits on a given corpus.
    *
    * Scale: each side is scanned AND tokenized/hashed ONCE — the
    * [[graft.functions.HashedGramsTagged]] kernel hashes each token once
    * and rolls every width over the shared token-hash array (one
    * [[gramArray]] call per width would re-split and re-hash the document
    * per width — 3× the dominant per-row CPU), emitting per-doc-distinct
    * (w, g) structs. The bench (w, g) index broadcasts (widths ×
    * a small eval set); join survivors are bounded by the contamination
    * rate and both count_distincts are two-phase partial aggs on the
    * ≤|widths| key space. The rate divides by a 1-row broadcast count.
    * Cross-width hash collisions can't pollute: the join key carries w.
    */
  def widthSweep(train: DataFrame, bench: DataFrame): DataFrame = {
    val widths = Seq(8, 12, 16)
    def tagged(df: DataFrame): DataFrame = df
      .select(col("doc_id"), explode(
        graft.functions.TextFunctions.hashedGramsTagged(Dedup.tokens, widths))
        .as("t"))
      .select(col("doc_id"), col("t.w").as("w"), col("t.g").as("g"))
    val bg = tagged(bench).select(col("w"), col("g")).distinct()
    val nTrain = train.agg(count(lit(1)).as("n_train"))
    tagged(train).join(broadcast(bg), Seq("w", "g"))
      .groupBy(col("w"))
      .agg(count_distinct(col("doc_id")).as("n_contam_docs"),
        count_distinct(col("g")).as("n_shared_grams"))
      .crossJoin(broadcast(nTrain))
      .select(col("w").cast("long").as("w"), col("n_contam_docs"),
        col("n_shared_grams"),
        round(col("n_contam_docs").cast("double") * 1e6 / col("n_train"), 0)
          .cast("long").as("contam_rate_ppm"))
  }

  /** Contamination growth curve (q126): cumulative benchmark-leaked
    * train docs and leak ppm at each of [[Sampling.Checkpoints]] equal train
    * slices in doc_id (intake) order — "WHEN did the eval set enter the
    * crawl". q49 says which docs leak and q104 which benchmark items
    * they leak; this localizes the leak in INTAKE TIME: a flat-then-
    * jumping curve indicts one crawl batch (quarantine it), a steady
    * slope says the contamination source is endemic to the pipeline.
    * The operational complement of q121/q124/q125's growth family, on
    * the decontamination axis.
    *
    * Scale shape: the leak flags come from [[contaminated]] — broadcast
    * bench-gram hash join, map-side, survivors bounded by the
    * contamination rate. Checkpoint assignment is q121's integer
    * ceil-division against the 1-row broadcast train horizon
    * ([[Sampling.checkpointOf]]), both histograms are ≤ checkpoints
    * rows, cumulatives ride the spine triangle join
    * ([[Sampling.cumOverSpine]]) — no corpus-scale sort, window, or
    * join-back anywhere past the screen itself. leaked_ppm guards the
    * n_docs = 0 (sparse id remapping) case to 0 instead of failing the
    * ANSI division.
    */
  def leakGrowth(train: DataFrame, bench: DataFrame): DataFrame = {
    val horizon = train.agg(max(col("doc_id")).as("max_id"))
    val leakB = contaminated(train, bench)
      .crossJoin(broadcast(horizon))
      .groupBy(Sampling.checkpointOf("doc_id", Sampling.Checkpoints).as("bk"))
      .agg(count(lit(1)).as("c"))
    val docB = train.select(col("doc_id")).crossJoin(broadcast(horizon))
      .groupBy(Sampling.checkpointOf("doc_id", Sampling.Checkpoints).as("bk"))
      .agg(count(lit(1)).as("c"))
    val session = train.sparkSession
    Sampling.cumOverSpine(session, Sampling.Checkpoints, docB, "n_docs")
      .join(Sampling.cumOverSpine(session, Sampling.Checkpoints, leakB, "n_leaked"),
        Seq("k"))
      .select(col("k").as("checkpoint"), col("n_docs"), col("n_leaked"),
        when(col("n_docs") === 0, lit(0L)).otherwise(
          expr("(1000000 * n_leaked) div n_docs")).as("leaked_ppm"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Cumulative contamination over intake, same %20 bench slice as
    // q49 — see [[leakGrowth]].
    "q126_leak_growth" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      leakGrowth(
        docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0))
    }),
    // Driver form: the deterministic doc_id % 20 == 0 slice stands in for
    // the benchmark table (the library API takes any (doc_id, text) frame).
    "q49_decontam" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      contaminated(
        docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0))
    }),

    // Bloom-prescreened decontamination over the SAME slices — must emit
    // exactly q49's rows (the bloom never drops a true match; the confirm
    // join drops every false positive), which the shared oracle checks.
    "q68_bloom_decontam" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      bloomContaminated(
        docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0))
    }),

    // Per-benchmark-item leak attribution over the same slices — see
    // [[leakProfile]].
    "q104_leak_profile" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      leakProfile(
        docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0))
    }),

    // The screen's width-sensitivity table over the same slices — see
    // [[widthSweep]].
    "q108_width_sweep" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      widthSweep(
        docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0))
    }))

  // Same gram space over strings (xxhash64 only renames grams — the q33
  // argument); DuckDB list slice t[i:i+7] is 1-based inclusive = 8 tokens.
  // q68 shares the SQL: the bloom path is exact by construction.
  private val Q49Sql: String =
      raw"""WITH toks AS (
           |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
           |),
           |grams AS (
           |  SELECT DISTINCT doc_id, list_aggregate(t[i:i+7], 'string_agg', ' ') AS g
           |  FROM toks, UNNEST(range(1, len(t) - 6)) AS r(i)
           |  WHERE len(t) >= 8
           |),
           |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 20 = 0)
           |SELECT gr.doc_id, count(*) AS n_shared
           |FROM grams gr JOIN bench USING (g)
           |WHERE gr.doc_id % 20 <> 0
           |GROUP BY gr.doc_id""".stripMargin

  def oracles: Map[String, String] = Map(
    "q49_decontam" -> Q49Sql,
    "q68_bloom_decontam" -> Q49Sql,

    // q49's contamination set fed through the q121/q124 ceil-division
    // checkpoint + left-triangle cumulative arithmetic; MATERIALIZED
    // pins the twice-referenced gram CTE to one evaluation (the
    // q119/q102 inlining lesson); the leaked_ppm CASE mirrors the
    // Spark side's n_docs = 0 guard; BIGINT casts because hugeint sums
    // render as float64 in the compare.
    "q126_leak_growth" ->
      raw"""WITH toks AS (
           |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
           |  FROM documents),
           |grams AS MATERIALIZED (
           |  SELECT DISTINCT doc_id,
           |    list_aggregate(t[i:i+7], 'string_agg', ' ') AS g
           |  FROM toks, UNNEST(range(1, len(t) - 6)) AS r(i)
           |  WHERE len(t) >= 8),
           |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 20 = 0),
           |contam AS MATERIALIZED (
           |  SELECT gr.doc_id FROM grams gr JOIN bench USING (g)
           |  WHERE gr.doc_id % 20 <> 0 GROUP BY gr.doc_id),
           |train AS MATERIALIZED (
           |  SELECT doc_id FROM documents WHERE doc_id % 20 <> 0),
           |h AS MATERIALIZED (SELECT max(doc_id) AS max_id FROM train),
           |db AS MATERIALIZED (
           |  SELECT greatest(1, (10 * doc_id + max_id - 1) // max_id)
           |           AS bk,
           |         count(*) AS c
           |  FROM train, h GROUP BY 1),
           |lb AS MATERIALIZED (
           |  SELECT greatest(1, (10 * doc_id + max_id - 1) // max_id)
           |           AS bk,
           |         count(*) AS c
           |  FROM contam, h GROUP BY 1),
           |spine AS (SELECT unnest(generate_series(1, 10)) AS k),
           |nd AS (SELECT s.k, CAST(coalesce(sum(db.c), 0) AS BIGINT)
           |         AS n_docs
           |       FROM spine s LEFT JOIN db ON db.bk <= s.k GROUP BY s.k),
           |nl AS (SELECT s.k, CAST(coalesce(sum(lb.c), 0) AS BIGINT)
           |         AS n_leaked
           |       FROM spine s LEFT JOIN lb ON lb.bk <= s.k GROUP BY s.k)
           |SELECT CAST(nd.k AS BIGINT) AS checkpoint, n_docs, n_leaked,
           |       CAST(CASE WHEN n_docs = 0 THEN 0
           |            ELSE (1000000 * n_leaked) // n_docs
           |       END AS BIGINT) AS leaked_ppm
           |FROM nd JOIN nl USING (k)""".stripMargin,
    // Same gram space, keyed from the bench side; both counts are
    // DISTINCT over the (train-doc, bench-item, gram) match triples
    "q104_leak_profile" ->
      raw"""WITH toks AS (
           |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
           |),
           |grams AS (
           |  SELECT DISTINCT doc_id, list_aggregate(t[i:i+7], 'string_agg', ' ') AS g
           |  FROM toks, UNNEST(range(1, len(t) - 6)) AS r(i)
           |  WHERE len(t) >= 8
           |),
           |bench AS (SELECT doc_id AS bench_id, g FROM grams WHERE doc_id % 20 = 0)
           |SELECT b.bench_id,
           |  CAST(count(DISTINCT gr.doc_id) AS BIGINT) AS n_train_docs,
           |  CAST(count(DISTINCT b.g) AS BIGINT) AS n_shared_grams
           |FROM grams gr JOIN bench b USING (g)
           |WHERE gr.doc_id % 20 <> 0
           |GROUP BY b.bench_id""".stripMargin,

    // One gram CTE per width (string grams — hashes only rename); the
    // scalar-subquery denominator is the Spark side's 1-row broadcast
    "q108_width_sweep" ->
      raw"""WITH toks AS (
           |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
           |),
           |g8 AS (
           |  SELECT DISTINCT doc_id, list_aggregate(t[i:i+7], 'string_agg', ' ') AS g
           |  FROM toks, UNNEST(range(1, len(t) - 6)) AS r(i) WHERE len(t) >= 8),
           |g12 AS (
           |  SELECT DISTINCT doc_id, list_aggregate(t[i:i+11], 'string_agg', ' ') AS g
           |  FROM toks, UNNEST(range(1, len(t) - 10)) AS r(i) WHERE len(t) >= 12),
           |g16 AS (
           |  SELECT DISTINCT doc_id, list_aggregate(t[i:i+15], 'string_agg', ' ') AS g
           |  FROM toks, UNNEST(range(1, len(t) - 14)) AS r(i) WHERE len(t) >= 16),
           |u AS (
           |  SELECT 8 AS w, gr.doc_id, gr.g FROM g8 gr
           |    JOIN (SELECT DISTINCT g FROM g8 WHERE doc_id % 20 = 0) b USING (g)
           |    WHERE gr.doc_id % 20 <> 0
           |  UNION ALL
           |  SELECT 12 AS w, gr.doc_id, gr.g FROM g12 gr
           |    JOIN (SELECT DISTINCT g FROM g12 WHERE doc_id % 20 = 0) b USING (g)
           |    WHERE gr.doc_id % 20 <> 0
           |  UNION ALL
           |  SELECT 16 AS w, gr.doc_id, gr.g FROM g16 gr
           |    JOIN (SELECT DISTINCT g FROM g16 WHERE doc_id % 20 = 0) b USING (g)
           |    WHERE gr.doc_id % 20 <> 0)
           |SELECT CAST(w AS BIGINT) AS w,
           |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_contam_docs,
           |  CAST(count(DISTINCT g) AS BIGINT) AS n_shared_grams,
           |  CAST(round(CAST(count(DISTINCT doc_id) AS DOUBLE) * 1e6
           |    / (SELECT count(*) FROM documents WHERE doc_id % 20 <> 0), 0)
           |    AS BIGINT) AS contam_rate_ppm
           |FROM u GROUP BY w""".stripMargin
  )
}
