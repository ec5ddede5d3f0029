package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Corpus search operators: retrieval over the document corpus. The
  * training-data companion to q65's keyword extraction — a pipeline that
  * curates a corpus also needs to QUERY it (benchmark-leak triage, topic
  * audits, "show me the docs that score high for X"), and at 100 TB that
  * query must be an aggregation-shaped scan, not an index the driver holds.
  *
  * Reference context: hbase-packet-inspector exposes its captured tables
  * through ad-hoc SQL (reference README.md "Queries" — `SELECT ... WHERE`
  * over `requests`/`responses`); this module is the ranked-retrieval form
  * of that surface for the document corpus.
  */
object Search {

  /** BM25 ranked retrieval: score every document against a bag-of-words
    * query and keep the global top `k`. Okapi BM25 with the Lucene IDF
    * (`ln(1 + (N − df + ½)/(df + ½))` — always positive, so a term in
    * more than half the corpus can't push a score negative):
    *
    *   score(D) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *
    * Scale shape:
    *   - the query-term filter lands directly under the explode (map-side
    *     `isin` against the tiny literal set), so only (matching-doc ×
    *     matching-term) rows ever reach a shuffle — the corpus never does;
    *   - `dl` rides the explode as a constant-per-doc column, so no
    *     corpus-scale doc-length join is needed afterwards;
    *   - `df` (≤ |terms| rows) and the 1-row (N, Σdl) stats frame are
    *     broadcast;
    *   - the global top-k is `orderBy().limit()` — Spark plans
    *     TakeOrderedAndProject (per-partition heaps + tiny driver merge),
    *     never a global sort; the rank is then minted window-free over the
    *     ≤ k survivors in one explicitly-sorted partition.
    *
    * Cross-engine float parity: every arithmetic step mirrors the oracle
    * SQL textually (same literals, same association), inputs are exact
    * integers, and both engines rank by the 6-dp-ROUNDED score with a
    * doc_id tiebreak, so a 1-ulp Σ-order divergence can't flip the cut
    * (q63/q65 discipline).
    */
  def bm25(docs: DataFrame, terms: Seq[String], k: Int = 20): DataFrame = {
    val (k1, b) = (1.2, 0.75) // the Lucene defaults
    require(terms.nonEmpty && terms.forall(t => t.nonEmpty && !t.exists(_.isWhitespace)),
      s"query terms must be non-empty, whitespace-free tokens: $terms")
    // q65's live-doc contract: NULL and whitespace-only docs excluded
    // (explicit space/tab/LF/CR set — trim() alone strips only spaces)
    val live = docs.filter(col("text").isNotNull &&
      length(trim(col("text"), " \t\n\r")) > 0)
    // N and avgdl in ONE 1-row broadcast frame — no driver action, no
    // plan-time count; sum/count kept separate so the division happens
    // once, identically, on both engines (avg() could aggregate
    // differently than sum/count)
    val stats = live.agg(
      count(lit(1)).as("n_docs"),
      sum(size(Dedup.tokens).cast("long")).as("sum_dl"))
    // dl = RAW token-array length (incl. empty tokens from leading
    // non-space whitespace; both engines' split agrees) — it's a length
    // normalizer, and the oracle uses len() of the same array
    val tf = live
      .select(col("doc_id"), Dedup.tokens.as("t"))
      .select(col("doc_id"), size(col("t")).cast("long").as("dl"),
        explode(col("t")).as("tok"))
      .filter(col("tok").isin(terms: _*))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    val dfc = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val nD = col("n_docs").cast("double")
    val idf = log(lit(1) + (nD - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val denom = col("tf") + lit(k1) *
      (lit(1) - lit(b) + lit(b) * col("dl") / (col("sum_dl").cast("double") / col("n_docs")))
    val scored = tf
      .join(broadcast(dfc), Seq("tok"))
      .crossJoin(broadcast(stats))
      .groupBy(col("doc_id"))
      .agg(max(col("dl")).as("dl"), count(lit(1)).as("n_terms"),
        round(sum(idf * (col("tf") * lit(k1 + 1)) / denom), 6).as("score"))
    val top = scored.orderBy(col("score").desc, col("doc_id").asc).limit(k)
    // rank over the ALREADY-limited top-k (≤ k rows by construction — the
    // corpus-scale work happened in the TakeOrderedAndProject above).
    // NOT a window: an unpartitioned rank window makes WindowExec log a
    // `No Partition Defined` warning per execution, dozens of which landed
    // directly above the bench's JSON line in the driver's 2000-char
    // stdout tail (round-8 verdict) — and a constant partition key is no
    // fix, because Spark 4's EliminateWindowPartitions optimizer rule
    // strips foldable partition specs right back to the warning case.
    // Instead: one explicitly-sorted partition of ≤ k rows, where
    // monotonically_increasing_id IS the 0-based row number (single
    // partition ⇒ ids are the dense in-partition counter).
    top.coalesce(1)
      .sortWithinPartitions(col("score").desc, col("doc_id").asc)
      .withColumn("rank", (monotonically_increasing_id() + 1).cast("int"))
      .select(col("doc_id"), col("dl"), col("n_terms"), col("score"),
        col("rank"))
  }

  /** Bigram collocation mining (q119): the phrase-detection pass a
    * tokenizer-training pipeline runs before BPE/vocab work — find the
    * adjacent word pairs that co-occur far more than their parts
    * (word2vec's phrase pass, Smadja's collocation extraction). The
    * association measure is the Dice coefficient in integer ppm:
    *
    *   dice_ppm = ⌊2·10⁶ · n(w1,w2) / (n(w1) + n(w2))⌋
    *
    * — chosen over PMI because it needs no logarithm (every output cell
    * is exact 64-bit integer arithmetic, so the cross-engine hash gate
    * compares bit-identical values, not rounded doubles) and is
    * monotone in the same "together more than apart" direction.
    *
    * Scale shape (the 100 TB audit):
    *   - tokenize + adjacent-zip is map-side (one pass, linear in
    *     tokens; the corpus never materializes pairs beyond its own
    *     bigram count);
    *   - bigram and unigram counts are groupBy aggregations with
    *     map-side combine, so stopword-pair skew ("of the" everywhere)
    *     collapses to one partial row per partition before either
    *     exchange;
    *   - `minCount` (3) prunes the long tail BEFORE the joins, so the join
    *     input is the (vocab × vocab ∩ observed, support ≥ minCount)
    *     frame — vocab-scale, not corpus-scale; AQE broadcasts the
    *     unigram side when it fits, and in the shuffle regime the two
    *     unigram join sides canonicalize to ONE exchange (ReuseExchange
    *     through the w→w1/w→w2 aliases — PlanAuditSpec audits the
    *     final adaptive plan), so the corpus is tokenized and counted
    *     once, not once per side;
    *   - the final cut is orderBy+limit = TakeOrderedAndProject
    *     (per-partition heaps, no global sort), on a TOTAL order
    *     (dice desc, support desc, w1, w2 — (w1,w2) is unique), so the
    *     k-th row is the same row on every engine and every run.
    *
    * Overflow: 2·10⁶·n_pair stays in int64 while the corpus holds under
    * ~4.6·10¹² occurrences of one bigram; past that, lift the ppm
    * multiply to decimal(38,0) (ANSI mode fails loudly, not silently).
    */
  def collocations(docs: DataFrame, k: Int = 100): DataFrame = {
    val minCount = 3L
    // empty tokens (leading tab/LF whitespace) are dropped so a bigram
    // can never contain the empty word; NULL docs carry no bigrams
    val toks = docs.filter(col("text").isNotNull)
      .select(filter(split(trim(col("text")), "\\s+"), t => t =!= "").as("t"))
    val uni = toks.select(explode(col("t")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n_w"))
    val pairs = toks
      .filter(size(col("t")) >= 2)
      .select(explode(zip_with(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minCount)
    pairs
      .join(uni.select(col("w").as("w1"), col("n_w").as("n_w1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("n_w").as("n_w2")), Seq("w2"))
      // integer floor division (`div`) — DuckDB's `//` on positive ints
      .withColumn("dice_ppm", expr("(2000000 * n_pair) div (n_w1 + n_w2)"))
      .orderBy(col("dice_ppm").desc, col("n_pair").desc,
        col("w1").asc, col("w2").asc)
      .limit(k)
      .select(col("w1"), col("w2"), col("n_pair"),
        col("n_w1"), col("n_w2"), col("dice_ppm"))
  }

  /** The driver query's pinned bag-of-words — terms present in the
    * synthetic corpus vocabulary with distinct document frequencies.
    */
  private[ops] val QueryTerms = Seq("spark", "window", "hash")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // BM25 top-20 for a 3-term query — see [[bm25]].
    "q72_bm25" -> ((s, dir) => bm25(Tables.documents(s, dir), QueryTerms)),
    // Top-100 bigram collocations by integer-exact Dice — see
    // [[collocations]].
    "q119_colloc_dice" -> ((s, dir) =>
      collocations(Tables.documents(s, dir)))
  )

  def oracles: Map[String, String] = Map(
    // Same tokenizer (trim + \s+ split), same raw-array dl, same literals
    // and association in every float step; both engines rank by the
    // rounded score (doc_id tiebreak) before the top-20 cut.
    "q72_bm25" ->
      raw"""WITH live AS (
           |  SELECT doc_id, text FROM documents
           |  WHERE text IS NOT NULL
           |    AND length(trim(text, ' ' || chr(9) || chr(10) || chr(13))) > 0),
           |toks AS (
           |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
           |  FROM live),
           |stats AS (
           |  SELECT count(*) AS n_docs, sum(CAST(len(t) AS BIGINT)) AS sum_dl
           |  FROM toks),
           |tf AS (
           |  SELECT doc_id, tok, count(*) AS tf, max(dl) AS dl
           |  FROM (
           |    SELECT doc_id, CAST(len(t) AS BIGINT) AS dl, unnest(t) AS tok
           |    FROM toks)
           |  WHERE tok IN ('spark', 'window', 'hash')
           |  GROUP BY doc_id, tok),
           |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
           |scored AS (
           |  SELECT doc_id, max(dl) AS dl, count(*) AS n_terms,
           |    round(sum(
           |      ln(1 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5)) *
           |      (tf * (1.2 + 1)) /
           |      (tf + 1.2 * (1 - 0.75 + 0.75 * dl /
           |        (CAST(sum_dl AS DOUBLE) / n_docs)))), 6) AS score
           |  FROM tf JOIN df USING (tok), stats
           |  GROUP BY doc_id)
           |SELECT doc_id, dl, n_terms, score, rank FROM (
           |  SELECT *, row_number() OVER (ORDER BY score DESC, doc_id ASC)
           |    AS rank
           |  FROM scored)
           |WHERE rank <= 20""".stripMargin,

    // Same tokenizer + empty-token filter, same adjacent-pair
    // derivation (the q44 generate_series idiom), same integer floor
    // division; the LIMIT cut rides the identical total order.
    // MATERIALIZED pins evaluation count only (the q102/q45 lesson at
    // the 100x probe): toks feeds two CTEs and uni joins twice, so
    // plain-CTE inlining would re-tokenize the corpus up to 4x.
    "q119_colloc_dice" ->
      raw"""WITH toks AS MATERIALIZED (
           |  SELECT list_filter(regexp_split_to_array(trim(text), '\s+'),
           |           x -> x <> '') AS t
           |  FROM documents WHERE text IS NOT NULL),
           |uni AS MATERIALIZED (
           |  SELECT w, count(*) AS n_w
           |  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w),
           |pr AS (
           |  SELECT unnest(list_transform(generate_series(1, len(t)-1),
           |           i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS p
           |  FROM toks WHERE len(t) >= 2),
           |pairs AS (
           |  SELECT p.w1 AS w1, p.w2 AS w2, count(*) AS n_pair
           |  FROM pr GROUP BY 1, 2 HAVING count(*) >= 3),
           |scored AS (
           |  SELECT w1, w2, n_pair, u1.n_w AS n_w1, u2.n_w AS n_w2,
           |    (2000000 * n_pair) // (u1.n_w + u2.n_w) AS dice_ppm
           |  FROM pairs
           |  JOIN uni u1 ON pairs.w1 = u1.w
           |  JOIN uni u2 ON pairs.w2 = u2.w)
           |SELECT w1, w2, n_pair, n_w1, n_w2, dice_ppm FROM scored
           |ORDER BY dice_ppm DESC, n_pair DESC, w1 ASC, w2 ASC
           |LIMIT 100""".stripMargin
  )
}
