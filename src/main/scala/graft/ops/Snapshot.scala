package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Corpus snapshot diff (q80) — dataset versioning: between crawl v1 and
  * crawl v2, which documents were added, removed, or changed? Every
  * retraining decision ("what moved since the last run?") and every
  * incremental pipeline (recompute only the changed partition) starts
  * from this diff.
  *
  * Scale posture: one full-outer join on the id — at corpus scale that is
  * a sort-merge join with both sides shuffled ONCE on doc_id and nothing
  * else moving; content equality rides 64-bit xxhash64 fingerprints (the
  * q30 identity), so document bodies never cross the exchange — each side
  * projects (id, hash) inside its scan before shuffling. Unchanged rows
  * are dropped as early as the join emits them.
  */
object Snapshot {

  /** Diff rows (id, status ∈ added|removed|changed) between two corpus
    * versions; unchanged documents are not emitted. NULL text hashes as
    * NULL (guarded below — bare xxhash64 would hash NULL to its seed,
    * making NULL indistinguishable from a seed-colliding text): two NULLs
    * compare equal via `<=>`, NULL vs text is a change.
    */
  def diff(a: DataFrame, b: DataFrame): DataFrame = {
    val h = when(col("text").isNull, lit(null)).otherwise(xxhash64(col("text")))
    val av = a.select(col("doc_id"), h.as("ha"), lit(1).as("in_a"))
    val bv = b.select(col("doc_id"), h.as("hb"), lit(1).as("in_b"))
    av.join(bv, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("in_b").isNull, lit("removed"))
          .when(col("in_a").isNull, lit("added"))
          .when(col("ha") <=> col("hb"), lit(null)) // unchanged
          .otherwise(lit("changed")))
      .filter(col("status").isNotNull)
      .select(col("doc_id"), col("status"))
  }

  /** Token-distribution drift between two corpus snapshots (q86) — the
    * retraining tripwire q80's id-level diff cannot see: ids may be
    * stable while the LANGUAGE shifts (a source changes template, a
    * scraper breaks, spam floods in). Laplace-smoothed unigram
    * distributions over the union vocabulary; token t's contribution to
    * KL(A‖B) is p_a·ln(p_a/p_b), reported per-million (nats·1e6) with
    * the top-`k` |contribution| tokens returned — the "what changed"
    * list, not just a scalar.
    *
    * Scale posture: one (token) partial-agg shuffle builds the per-token
    * counts; the totals ride a 1-row broadcast (the q65/q72 shape, no
    * driver action); top-k is TakeOrderedAndProject (per-partition heaps
    * + driver merge of k rows), never a global sort. Ordering ties break
    * on the ROUNDED contribution then token, so the cut is deterministic
    * and engine-independent.
    */
  def tokenDrift(a: DataFrame, b: DataFrame, k: Int = 50): DataFrame =
    tokenDriftTagged(
      a.select(lit(true).as("in_a"), col("text"))
        .unionByName(b.select(lit(false).as("in_a"), col("text"))), k)

  /** [[tokenDrift]] over ONE pre-tagged frame (in_a, text) — the q133
    * pattern (r21): when the two "snapshots" are row-level filters of the
    * SAME table, the two-frame API above unions two separate
    * scan+tokenize pipelines; a caller that tags rows in place feeds a
    * single corpus scan instead. Same counts, same smoothing, same
    * top-k order.
    */
  private[ops] def tokenDriftTagged(tagged: DataFrame, k: Int = 50): DataFrame = {
    // counts feeds BOTH the totals aggregate and the scored output —
    // materialized so the corpus-scale explode runs once (r21; the same
    // two-consumer replay q69/q70 fixed — AQE stage reuse cannot be
    // relied on across differently-pruned consumers)
    val counts = Materialize(tagged
      .filter(col("text").isNotNull)
      .select(col("in_a"), explode(TextAnalysis.words).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok")).agg(
        sum(when(col("in_a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(!col("in_a"), 1L).otherwise(0L)).as("n_b")))
    val totals = counts.agg(
      sum(col("n_a")).as("ta"), sum(col("n_b")).as("tb"),
      count(lit(1)).as("v"))
    val pA = (col("n_a") + 1).cast("double") / (col("ta") + col("v")).cast("double")
    val pB = (col("n_b") + 1).cast("double") / (col("tb") + col("v")).cast("double")
    counts.crossJoin(broadcast(totals))
      .withColumn("p_a_ppm", round(pA * 1e6, 6))
      .withColumn("p_b_ppm", round(pB * 1e6, 6))
      .withColumn("contrib_ppm", round(pA * log(pA / pB) * 1e6, 6))
      .orderBy(abs(col("contrib_ppm")).desc, col("tok").asc)
      .limit(k)
      .select(col("tok"), col("n_a"), col("n_b"),
        col("p_a_ppm"), col("p_b_ppm"), col("contrib_ppm"))
  }

  /** Per-source quality-distribution drift between two corpus snapshots
    * (q133): q86 asks "did the VOCABULARY move between crawls", q110
    * "did the EMBEDDING space move"; this asks "did the QUALITY mix
    * move, and in which source" — a crawler change or an upstream spam
    * wave shows up as a shifted vocabulary-diversity distribution in
    * one source long before aggregate quality means move. Per source
    * present in BOTH snapshots (q110's both-endpoints rule): doc
    * counts, integer-ppm mean uniq-ratio per side, and the total-
    * variation distance between the two sides' diversity-decile
    * histograms (q95's decile, q125's floored-shares TVD).
    *
    * Exactness contract: EVERYTHING is integer arithmetic — per-doc
    * quality ppm = (1e6·n_uniq) div n_words, decile = min((10·n_uniq)
    * div n_words, 9), mean = sum div n, shares floored FIRST, TVD =
    * Σ|Δ| div 2 — so there is no float quotient anywhere for the two
    * engines to round differently (the q60 tree-aggregation lesson
    * applied by construction).
    *
    * Scale shape: ONE corpus-scale partial-agg exchange — the
    * (source, snapshot, decile) cell frame, ≤ |sources|·2·10 rows,
    * with per-doc counts reduced map-side (the exchange carries the
    * 3-part key + two longs, never tokens); every downstream frame is
    * catalog-bounded and joins by broadcast.
    */
  def qualityDrift(a: DataFrame, b: DataFrame): DataFrame =
    qualityDriftTagged(
      a.select(col("source"), lit(true).as("snap_a"), col("text"))
        .unionByName(
          b.select(col("source"), lit(false).as("snap_a"), col("text"))))

  /** [[qualityDrift]] over ONE pre-tagged frame (source, snap_a, text).
    * Exists so a caller whose two "snapshots" are row-level filters of
    * the SAME table (q133: the md5 halves) can feed a single corpus scan
    * instead of a union of two scans — the two-frame API above unions
    * two separate scan+tokenize pipelines, which doubles the read for
    * that caller (r21, guide §1.2 step 1: don't pass the data twice when
    * once suffices). Same arithmetic, same rows, bit-identical output.
    */
  private[ops] def qualityDriftTagged(tagged: DataFrame): DataFrame = {
    val scored = tagged
      .filter(col("text").isNotNull)
      .select(col("source"), col("snap_a"),
        size(Dedup.tokens).cast("long").as("n_words"),
        size(array_distinct(Dedup.tokens)).cast("long").as("n_uniq"))
      .filter(col("n_words") > 0)
      .select(col("source"), col("snap_a"),
        expr("(1000000 * n_uniq) div n_words").as("ppm"),
        least(expr("(10 * n_uniq) div n_words"), lit(9L)).as("bucket"))
    val cells = Materialize(
      scored
        .groupBy(col("source"), col("snap_a"), col("bucket"))
        .agg(count(lit(1)).as("c"), sum(col("ppm")).as("sp")))
    val sides = cells.groupBy(col("source"), col("snap_a"))
      .agg(sum(col("c")).as("n"), sum(col("sp")).as("sp"))
    val sa = sides.filter(col("snap_a")).select(col("source"),
      col("n").as("n_a"), expr("sp div n").as("mean_ppm_a"))
    val sb = sides.filter(!col("snap_a")).select(col("source"),
      col("n").as("n_b"), expr("sp div n").as("mean_ppm_b"))
    val ca = cells.filter(col("snap_a"))
      .select(col("source"), col("bucket"), col("c").as("c_a"))
    val cb = cells.filter(!col("snap_a"))
      .select(col("source"), col("bucket"), col("c").as("c_b"))
    // deciles absent on one side take share 0 through the full join —
    // a ≤10-bucket frame per source, never a corpus-scale structure
    val tvd = ca.join(cb, Seq("source", "bucket"), "full")
      .join(broadcast(sa.select(col("source"), col("n_a"))), Seq("source"))
      .join(broadcast(sb.select(col("source"), col("n_b"))), Seq("source"))
      .select(col("source"),
        (expr("(1000000 * coalesce(c_a, 0)) div n_a")
          - expr("(1000000 * coalesce(c_b, 0)) div n_b")).as("d"))
      .groupBy(col("source")).agg(sum(abs(col("d"))).as("terms"))
      .select(col("source"), expr("terms div 2").as("tvd_ppm"))
    sa.join(sb, Seq("source")).join(tvd, Seq("source"))
      .select(col("source"), col("n_a"), col("n_b"),
        col("mean_ppm_a"), col("mean_ppm_b"), col("tvd_ppm"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Snapshot B is DERIVED from the corpus deterministically (drop
    // doc_id%7=0, edit text of doc_id%5=0, add fresh ids for doc_id%11=0)
    // and diffed against A with the REAL full-outer machinery; the oracle
    // reproduces the expected statuses straight from the modular rules —
    // so join classification, null-safe hash equality, and the NULL-text
    // contract (editing NULL text via concat stays NULL = unchanged) are
    // each pinned without a join on the oracle side.
    "q80_snapshot_diff" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val base = docs.select(col("doc_id"), col("text"))
      val survived = base.filter(col("doc_id") % 7 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
      // fresh ids offset far past any real doc_id (2^40 — corpus ids grow
      // with sf; a small constant offset would collide at large scale and
      // break both the join semantics and the oracle agreement)
      val added = base.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + (1L << 40)).as("doc_id"), col("text"))
      diff(base, survived.unionByName(added))
    }),

    // Drift between the deterministic even/odd doc_id halves — two
    // "snapshots" both engines can reconstruct exactly.
    "q86_token_drift" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // r21: parity halves are row filters of ONE table — tag in place and
      // feed the one-scan form (guide §1.2 step 1, the q133 pattern)
      tokenDriftTagged(docs.select(
        (col("doc_id") % 2 === 0).as("in_a"), col("text")))
    }),

    // Per-source quality drift between md5-split snapshot halves — see
    // [[qualityDrift]]. NOT the q86 even/odd convention: the synthetic
    // corpus assigns source = doc_id % 20, so parity halves are
    // source-DISJOINT and the both-endpoints join would be empty at
    // every scale; the md5-prefix split (the q46 bucket hash, % 2)
    // mixes every source across both halves instead. Replicated gate
    // corpora still put each distinct text on both sides (~equally),
    // converging the raw halves' distributions toward TVD 0 (the q125
    // constant-curve trap) — so the driver query PLANTS a quality
    // shift in-pipeline, mirrored in the oracle: every 7th B-side doc
    // gets 8 repeated filler tokens appended (uniq_ratio drops),
    // shifting deciles and means so the TVD arithmetic gates
    // non-vacuously at every scale; modular-id planting survives
    // ScaleCorpus replication.
    "q133_quality_drift" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val half = pmod(
        TextAnalysis.md5Prefix(col("doc_id").cast("string")), lit(2L))
      // r21: the two "snapshots" are row-level filters of ONE table, so
      // tag rows in place and feed the one-scan form — the two-frame
      // qualityDrift unioned two separate scan+tokenize pipelines over
      // the same parquet (guide §1.2 step 1). Rows, plant arithmetic and
      // NULL-text behavior are unchanged: half==0 rows keep their text
      // (the edit guard includes the half test), and concat(NULL) stays
      // NULL exactly as before.
      qualityDriftTagged(docs.select(
        col("source"),
        (half === 0).as("snap_a"),
        when(half =!= 0 && col("doc_id") % 7 === 0,
          concat(col("text"), lit(" x x x x x x x x")))
          .otherwise(col("text")).as("text")))
    }))

  def oracles: Map[String, String] = Map(
    "q80_snapshot_diff" ->
      """SELECT doc_id, 'removed' AS status FROM documents WHERE doc_id % 7 = 0
        |UNION ALL
        |SELECT doc_id + 1099511627776, 'added' FROM documents WHERE doc_id % 11 = 0
        |UNION ALL
        |SELECT doc_id, 'changed' FROM documents
        |WHERE doc_id % 7 <> 0 AND doc_id % 5 = 0 AND text IS NOT NULL""".stripMargin,

    // Same smoothing arithmetic on identical integer inputs → identical
    // IEEE doubles; ln agrees to the 6-dp rounding (the q63 precedent);
    // the order key is the ROUNDED contribution + token, so the top-50
    // cut is the same set on both engines.
    "q86_token_drift" ->
      raw"""WITH toks AS (
           |  SELECT doc_id % 2 = 0 AS in_a,
           |    unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
           |  FROM documents WHERE text IS NOT NULL),
           |counts AS (
           |  SELECT tok,
           |    CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
           |    CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
           |  FROM toks WHERE tok <> '' GROUP BY tok),
           |tot AS (
           |  SELECT sum(n_a) AS ta, sum(n_b) AS tb, count(*) AS v FROM counts)
           |SELECT tok, n_a, n_b,
           |  round((n_a + 1) / CAST(ta + v AS DOUBLE) * 1e6, 6) AS p_a_ppm,
           |  round((n_b + 1) / CAST(tb + v AS DOUBLE) * 1e6, 6) AS p_b_ppm,
           |  round((n_a + 1) / CAST(ta + v AS DOUBLE)
           |    * ln(((n_a + 1) / CAST(ta + v AS DOUBLE))
           |         / ((n_b + 1) / CAST(tb + v AS DOUBLE))) * 1e6, 6)
           |    AS contrib_ppm
           |FROM counts, tot
           |ORDER BY abs(contrib_ppm) DESC, tok ASC
           |LIMIT 50""".stripMargin,

    // Same plant (odd-half %7 docs get 8 filler tokens; NULL text stays
    // NULL through || and drops on both sides), same all-integer
    // arithmetic: per-doc ppm/decile via // on BIGINTs, mean = sum //
    // n, shares floored FIRST, TVD = sum|Δ| // 2. The full join covers
    // deciles absent on one side (share 0); sources present on only
    // one side drop via the inner joins (the q110 both-endpoints rule).
    "q133_quality_drift" ->
      raw"""WITH base AS (
           |  SELECT source,
           |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
           |      ::BIGINT % 2 = 0 AS snap_a,
           |    CASE WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
           |                1, 8))::BIGINT % 2 <> 0 AND doc_id % 7 = 0
           |         THEN text || ' x x x x x x x x' ELSE text END AS text
           |  FROM documents WHERE text IS NOT NULL),
           |s AS MATERIALIZED (
           |  SELECT source, snap_a,
           |    CAST(len(regexp_split_to_array(trim(text), '\s+'))
           |         AS BIGINT) AS n_words,
           |    CAST(len(list_distinct(regexp_split_to_array(trim(text),
           |         '\s+'))) AS BIGINT) AS n_uniq
           |  FROM base),
           |q AS MATERIALIZED (
           |  SELECT source, snap_a,
           |    (1000000 * n_uniq) // n_words AS ppm,
           |    least((10 * n_uniq) // n_words, 9) AS bucket
           |  FROM s WHERE n_words > 0),
           |cells AS MATERIALIZED (
           |  SELECT source, snap_a, bucket, count(*) AS c, sum(ppm) AS sp
           |  FROM q GROUP BY 1, 2, 3),
           |sides AS (
           |  SELECT source, snap_a, sum(c) AS n, sum(sp) AS sp
           |  FROM cells GROUP BY 1, 2),
           |a AS (SELECT source, n AS n_a, sp // n AS mean_ppm_a
           |      FROM sides WHERE snap_a),
           |b AS (SELECT source, n AS n_b, sp // n AS mean_ppm_b
           |      FROM sides WHERE NOT snap_a),
           |ca AS (SELECT source, bucket, c FROM cells WHERE snap_a),
           |cb AS (SELECT source, bucket, c FROM cells WHERE NOT snap_a),
           |d AS (
           |  SELECT coalesce(ca.source, cb.source) AS source,
           |         coalesce(ca.c, 0) AS c_a, coalesce(cb.c, 0) AS c_b
           |  FROM ca FULL JOIN cb
           |    ON ca.source = cb.source AND ca.bucket = cb.bucket),
           |t AS (
           |  SELECT d.source,
           |    sum(abs((1000000 * c_a) // n_a - (1000000 * c_b) // n_b))
           |      AS terms
           |  FROM d JOIN a ON d.source = a.source
           |         JOIN b ON d.source = b.source
           |  GROUP BY 1)
           |SELECT a.source, CAST(n_a AS BIGINT) AS n_a,
           |  CAST(n_b AS BIGINT) AS n_b,
           |  CAST(mean_ppm_a AS BIGINT) AS mean_ppm_a,
           |  CAST(mean_ppm_b AS BIGINT) AS mean_ppm_b,
           |  CAST(terms // 2 AS BIGINT) AS tvd_ppm
           |FROM a JOIN b ON a.source = b.source
           |       JOIN t ON a.source = t.source""".stripMargin)
}
