package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * Scale posture (100 TB):
  *   - signatures (minhash / simhash / fingerprints) are computed map-side in
  *     one pass over the corpus — builtin hash functions, no UDF, no shuffle;
  *   - candidate generation shuffles once on the (band, bucket) key and
  *     generates pairs *inside* each bucket group (collect_list + pair
  *     expansion), so nothing quadratic ever crosses the wire and per-bucket
  *     fan-out is explicitly capped;
  *   - heavy payloads (signature arrays, shingle sets) never ride a shuffle:
  *     pairs are (id, id) rows joined back to the signature table only for
  *     the (small) surviving candidate set;
  *   - verification (exact Jaccard / hamming / cosine) runs only on
  *     candidate pairs.
  */
object Dedup {

  /** Number of minhash permutations and LSH bands (16 sigs x 4 rows/band).
    * private[graft]: the streaming near-dup screen
    * ([[graft.streaming.StreamingOps.nearDupScreen]]) shares the exact
    * q31 signature geometry.
    */
  private[graft] val NumHashes = 16
  private[graft] val BandRows  = 4

  /** Inverted-index caps: a gram shared by more than DfCap docs is dropped
    * from the similarity space (ubiquitous shingles carry no dedup signal
    * and produce df² pair fan-out); an LSH bucket larger than BucketCap is
    * skipped the same way. Both keep worst-case pair generation linear in
    * corpus size instead of quadratic.
    */
  private val DfCap     = 50
  private[graft] val BucketCap = 200

  /** Near-dup cutoffs: n-gram Jaccard (q33 and the incremental screens)
    * and [[containmentPairs]] in ppm; token width of the span family. */
  private val MinJaccard = 0.8
  private val MinContainPpm = 900000L
  private[ops] val SpanW = 16

  /** Whitespace tokens of `text`. */
  private[graft] def tokens: Column = split(trim(col("text")), "\\s+")

  /** ALL word n-grams of a token array, in order, duplicates kept; empty
    * array for docs with fewer than n tokens (round-2 verdict: the old
    * bound both dropped the last 3-gram and crashed `slice` on short
    * docs — single definition so that off-by-one can't reappear in one
    * copy). Width 3 for the dedup ops; width 8 for decontamination.
    */
  private[graft] def gramsN(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array().cast("array<string>"))

  private[ops] def gramsOf(toks: Column): Column = gramsN(toks, 3)

  /** Distinct word 3-grams (the similarity-set form). */
  private[ops] def gram3of(toks: Column): Column = array_distinct(gramsOf(toks))

  /** Mersenne prime 2^31-1: the modulus for the multiplicative minhash
    * permutation family. One xxhash64 per gram; the 16 "permutations" are
    * cheap (a_i * h) mod P multiplies — products stay under 2^62, safe
    * under ANSI overflow checking.
    */
  private val P = 2147483647L
  private def permMul(i: Int): Long = (1000003L * (2 * i + 1)) % P

  /** [[rowMinhashSig]]'s "no grams" sentinel: every pmod(·, P) is < P,
    * so a signature whose first element is P can only be the untouched
    * aggregate seed — the row-form equivalent of the aggregate form
    * simply having no row for a doc with < 3 tokens.
    */
  private[graft] val SigSentinel: Long = P

  /** Per-row minhash signature — the map-side twin of q31's aggregate
    * form: the SAME hashedGrams(3) gram space, the SAME P / permMul
    * permutation family, the SAME [[NumHashes]] minima (equality with
    * the aggregate pipeline is differential-asserted through the public
    * q31 surface in StreamingOpsSpec). For contexts where a doc must be
    * signed WITHOUT a groupBy — the streaming near-dup screen
    * ([[graft.streaming.StreamingOps.nearDupScreen]]), where one doc =
    * one row and a stream-side aggregation would be a second stateful
    * operator. Since r21 this IS the batch q31's signature definition —
    * both ride the fused codegen [[graft.functions.MinhashSig]] pass
    * (one primitive loop per doc over the hashed-gram array), so the
    * batch/stream equality is shared code, not parallel spellings.
    */
  private[graft] def rowMinhashSig: Column =
    graft.functions.MinhashSig(
      graft.functions.TextFunctions.hashedGrams(tokens, 3),
      (0 until NumHashes).map(permMul), P)

  /** q31's LSH band keys over a signature ARRAY column — hash() of each
    * band's [[BandRows]] minima, matching the aggregate form's
    * hash(m0..m3) band keys value-for-value (same hash function over the
    * same longs).
    */
  private[graft] def rowBandKeys(sig: Column): Seq[Column] =
    (0 until NumHashes / BandRows).map(b =>
      hash((b * BandRows until (b + 1) * BandRows)
        .map(i => element_at(sig, i + 1)): _*))

  /** Bucketed candidate pairs: cap the bucket size, then self-join the
    * surviving posting lists on the blocking key. The join is fully
    * codegen'd (an earlier collect_set + nested-transform pair expansion
    * ran interpreted and allocated a struct per pair); fan-out stays
    * bounded by the cap — Σ over buckets of |bucket|² ≤ cap · Σ|bucket|.
    * Shared by q31/q32 banding and q34's embedding-LSH bands (the round-3
    * verdict's scale-killer: q34 bypassed this cap). Output: (a, b) with
    * a < b, from the `doc_id` column of `banded`.
    */
  private[ops] def bucketPairs(banded: DataFrame, keyCols: Seq[String], cap: Int): DataFrame = {
    val keys = keyCols.map(col)
    val smallBuckets = banded.groupBy(keys: _*)
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz").between(2, cap))
      .select(keys: _*)
    // members of surviving buckets; feeds both join sides — NOT
    // checkpointed: the l/r subtrees are identical up to aliases, so
    // ReuseExchange computes the (band, bucket) exchange once and both
    // sides read it, keeping full lineage (resilient at 100 TB) and the
    // cap filter visible to the plan audit
    val kept = banded.join(smallBuckets, keyCols)
    val l = kept.select(keys :+ col("doc_id").as("a"): _*)
    val r = kept.select(keys :+ col("doc_id").as("b"): _*)
    l.join(r, keyCols).where(col("a") < col("b"))
      .select(col("a"), col("b"))
      .distinct()
  }

  /** Payload-carrying, exactly-once banded candidate pairs — the
    * high-duplication-rate complement to [[bucketPairs]].
    *
    * [[bucketPairs]] keeps payloads out of the shuffle and dedups pairs
    * with `distinct()`, which is the right shape when duplication is low
    * (pairs ≪ docs, the join-back is a broadcast). On a heavily
    * duplicated corpus the pair stream dwarfs the corpus — every pair
    * appears once per matching band, so the `distinct()` input is
    * bands × |pairs| rows, and the est-similarity join-back shuffles the
    * signature table once per side. Measured at the 100x probe corpus
    * (100 exact copies per doc): 104.7M pre-distinct rows for 27M pairs,
    * with distinct + join-back at 34.5 s of q31's 43.5 s wall.
    *
    * This variant instead:
    *   1. computes per-band bucket keys once per doc (`bandKeys`, over
    *      the payload columns of `perDoc`);
    *   2. runs the NARROW (id, band, bucket) cap pass exactly like
    *      [[bucketPairs]] (Σ|b|² ≤ cap·Σ|b| stays the fan-out bound) and
    *      folds the surviving bands of each doc into one bitmask —
    *      a doc-keyed agg co-partitioned with `perDoc`;
    *   3. ships payload + band-key array + bitmask through ONE
    *      (band, bucket) exchange — linear in docs × bands, never in
    *      pairs — with twin self-join sides sharing the exchange
    *      (ReuseExchange, audited by PlanAuditSpec's q31/q66 entries in
    *      the twin-sides test);
    *   4. emits each pair ONLY in its first surviving matching band:
    *      in-row, band b' < b matched iff the two band keys agree AND
    *      bit b' of the (shared) survival mask is set — so the output is
    *      exactly one row per qualifying pair, no `distinct()`, and the
    *      caller computes the verification measure (est-Jaccard, cosine)
    *      from the in-row payloads, no join-back.
    *
    * The emitted pair SET is identical to
    * `bucketPairs(banded, keys, cap)` (differential seeded fuzz:
    * DedupSpec "pairsOnce ≡ bucketPairs"): a pair qualifies iff some band
    * puts both ids in one surviving (size 2..cap) bucket, and the
    * first such band emits it exactly once. Size-1 buckets are excluded
    * from the mask like the `bsz >= 2` filter — they cannot hold a pair,
    * and a shared bucket always has size ≥ 2, so the mask bit is
    * well-defined whenever the key-equality guard consults it.
    *
    * PRECONDITION: band keys and `extraKeys` must be NON-NULL. Unlike
    * bucketPairs' groupBy (which buckets NULL keys together), the inner
    * equi-joins here drop NULL-keyed rows silently — a nullable blocking
    * column would lose pairs, not mis-pair them. Current callers derive
    * keys from hash()/lshBucket()/cluster ids, all non-null by
    * construction; a future caller with a nullable blocking column must
    * coalesce it first.
    *
    * Output columns: `a`, `b` (idCol values, a < b) and `a_<p>` /
    * `b_<p>` for every payload column `p`. `extraKeys` (e.g. q66's
    * coarse cluster) are per-doc blocking columns folded into every
    * bucket key.
    */
  private[ops] def pairsOnce(perDoc: DataFrame, idCol: String,
                             bandKeys: Seq[Column], cap: Int,
                             payload: Seq[String],
                             extraKeys: Seq[String] = Nil): DataFrame = {
    val nb = bandKeys.length
    require(nb >= 1 && nb <= 62, s"pairsOnce: $nb bands won't fit a long mask")
    def bit(band: Column): Column = call_function("shiftleft", lit(1L), band)
    val withKeys = perDoc.withColumn("_bkeys", array(bandKeys: _*))
    val gk = extraKeys ++ Seq("_band", "_bucket")
    // narrow cap pass: payloads stay OUT of the counting shuffle
    val narrow = withKeys.select(
      col(idCol) +: extraKeys.map(col) :+
        posexplode(col("_bkeys")).as(Seq("_band", "_bucket")): _*)
    val small = narrow.groupBy(gk.map(col): _*)
      .agg(count(lit(1)).as("_bsz"))
      .filter(col("_bsz").between(2, cap))
      .select(gk.map(col): _*)
    // surviving bands of each doc, as a bitmask — one row per (doc, band)
    // reaches the agg, so the sum is a union of distinct bits
    val bits = narrow.join(small, gk)
      .groupBy(col(idCol)).agg(sum(bit(col("_band"))).as("_bits"))
    // docs with no surviving band drop here (inner join) — they cannot pair
    val banded = withKeys.join(bits, idCol)
      .select(col(idCol) +: (extraKeys ++ payload).map(col) :+
        col("_bkeys") :+ col("_bits") :+
        posexplode(col("_bkeys")).as(Seq("_band", "_bucket")): _*)
      .filter(col("_bits").bitwiseAND(bit(col("_band"))) =!= 0)
    def side(p: String) = banded.select(
      col(idCol).as(p) +: payload.map(c => col(c).as(s"${p}_$c")) ++:
        extraKeys.map(col) :+ col("_bkeys").as(s"${p}_bkeys") :+
        col("_bits").as(s"${p}_bits") :+ col("_band") :+ col("_bucket"): _*)
    val joined = side("a").join(side("b"), gk).where(col("a") < col("b"))
    // first-surviving-matching-band emission; key equality at b' implies
    // one shared bucket, so a's survival bit speaks for both
    val once = (0 until nb - 1).map { bp =>
      col("_band") > bp &&
        element_at(col("a_bkeys"), bp + 1) === element_at(col("b_bkeys"), bp + 1) &&
        (col("a_bits").bitwiseAND(lit(1L << bp)) =!= 0)
    }.reduceOption(_ || _).map(e => joined.where(!e)).getOrElse(joined)
    once.select(col("a") +: col("b") +:
      payload.flatMap(c => Seq(col(s"a_$c"), col(s"b_$c"))): _*)
  }

  /** Connected components over a near-dup pair list by min-label
    * propagation, the step that turns candidate PAIRS into the actual
    * dedup decision: every doc in a component maps to the component's
    * smallest doc_id (its canonical representative), transitively —
    * a~b and b~c dedup together even when (a,c) was never a candidate.
    *
    * Scale: one doc_id-keyed shuffle per iteration over the CLUSTERED
    * docs only (docs in no pair never enter the frame); the edge list is
    * already bounded by the capped candidate generation. Convergence is
    * checked with a cheap per-iteration action (an iterative algorithm's
    * honest driver loop, not a plan-time pass); components from near-dup
    * blocking have tiny diameter, so this converges in a handful of
    * rounds — and from iteration `JumpAfter` on, each round ALSO
    * pointer-jumps the label table (label := label-of-label, one extra
    * self-join of the small labels frame), so a pathological
    * diameter-D chain needs O(log D) rounds instead of D: the reach of
    * the min label at least doubles per jumped round. The first
    * `JumpAfter` rounds stay jump-free on purpose — real near-dup
    * components converge there, and those rounds keep their one-shuffle
    * plan. `maxIters` (default 20 ≈ diameter 10^5 with jumps; measured
    * 11 rounds for a planted 1000-chain that THREW non-convergence
    * before) still caps the loop.
    *
    * Output: (doc_id, cluster, is_canonical) for every doc in ≥1 pair.
    * Throws if `maxIters` is exhausted before convergence — a silently
    * half-merged clustering would keep several "canonical" copies of one
    * duplicate group; raise `maxIters` for unusually deep chains.
    * Storage note: at most TWO labels tables are live in the plain
    * rounds — THREE in jump rounds (previous labels, the intermediate
    * propagation frame, and the jumped result) — the convergence check
    * fully materializes the new iteration (lazy local checkpoints cache
    * all missing partitions at the job's end), after which the previous
    * labels and the jump intermediate are eagerly freed via
    * [[Materialize.free]]; the edges table is freed once the loop
    * converges. Each is a (long, long)-pair table over CLUSTERED docs
    * only, tiny relative to the corpus.
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 20): DataFrame =
    connectedComponentsIters(pairs, maxIters)._1

  /** Plain-propagation rounds before pointer-jumping joins the loop. */
  private val JumpAfter = 2

  /** [[connectedComponents]] plus the number of rounds it took — the
    * round count is the contract the pointer-jumping exists for, so the
    * deep-chain spec pins it (O(log D), not O(D)).
    */
  private[ops] def connectedComponentsIters(pairs: DataFrame,
      maxIters: Int = 20): (DataFrame, Int) = {
    val edges = Materialize(
      pairs.select(col("a").as("src"), col("b").as("dst"))
        .union(pairs.select(col("b").as("src"), col("a").as("dst"))))
    // prev = the materialized frame BACKING labels (labels itself may be a
    // projection over it, which free() would not see through)
    var prev = Materialize(
      edges.select(col("src").as("doc_id")).distinct()
        .withColumn("cluster", col("doc_id")))
    var labels = prev
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      // Propagate labels across edges and fold the old label into the same
      // aggregation (each doc has exactly ONE labels row — symmetrized
      // edges put every member in `src` — so max(old) is its old cluster).
      // Convergence is then a filter over the just-materialized frame:
      // one action per iteration, where a join against the previous labels
      // would cost an extra exchange + a second scan.
      val prop =
        edges.join(labels, edges("src") === labels("doc_id"))
          .select(col("dst").as("doc_id"), col("cluster"),
            lit(null).cast("long").as("old"))
          .unionByName(labels.select(col("doc_id"), col("cluster"),
            col("cluster").as("old")))
          .groupBy(col("doc_id"))
          .agg(min(col("cluster")).as("cluster"), max(col("old")).as("old"))
      // Pointer jump (from round JumpAfter on): label := label(label).
      // Sound because every cluster value IS a member doc_id with its own
      // labels row (labels start as doc_id; min-propagation only ever
      // installs another member's label), so the self-join is total, and
      // label(c) <= c under min-propagation means the jump only lowers.
      // One extra exchange per round over the small labels frame buys the
      // O(log D) bound; `old` (the pre-iteration label) rides along so
      // the convergence check stays one filter over one frame.
      // Skew note (100 TB): the probe side keys on `cluster`, which
      // concentrates as a component converges (a billion-member
      // boilerplate component puts its whole membership under one key).
      // The build side is ONE row per key (doc_id is unique), so this is
      // exactly the shape AQE's skew-join splitting handles — the
      // oversized probe partitions split and the single matching build
      // row replicates; no salting needed. The propagation join and both
      // groupBys stay doc_id-/gram-keyed (uniform).
      val (next, inter) =
        if (iter < JumpAfter) (Materialize(prop), None)
        else {
          val p = Materialize(prop)
          val l2 = p.select(col("doc_id").as("j_doc"), col("cluster").as("j_cluster"))
          (Materialize(
            p.join(l2, p("cluster") === l2("j_doc"))
              .select(p("doc_id"),
                least(p("cluster"), col("j_cluster")).as("cluster"), p("old"))),
            Some(p))
        }
      converged = next.filter(col("cluster") =!= col("old")).isEmpty
      // The isEmpty action completed `next`'s lazy local checkpoint (all
      // missing partitions are cached at job end), so the previous labels
      // blocks — and the jump's intermediate propagation frame — are
      // dead; free them now instead of riding to context cleanup.
      inter.foreach(Materialize.free)
      Materialize.free(prev)
      prev = next
      labels = next.select(col("doc_id"), col("cluster"))
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIters iterations; " +
          "raise maxIters (component diameter exceeds the cap)")
    Materialize.free(edges) // the final labels frame is self-contained
    (labels.withColumn("is_canonical", col("doc_id") === col("cluster")), iter)
  }

  /** Exact-dedup survivors: one `(doc_id, n_copies)` row per distinct
    * text, doc_id = the group's minimum (the canonical copy). THE single
    * definition of the exact-dedup convention — q30 and every composition
    * over it (q91) ride this method, so a change to the key convention
    * lands everywhere at once. Shuffle discipline: the group key is
    * (xxhash64(text), length), so the exchange carries 16 bytes per row
    * instead of the document body — the output is identical and a
    * 64-bit+length collision is negligible at any corpus size that fits
    * a cluster. NULL text forms its own group, like `GROUP BY text`.
    */
  def exactSurvivors(docs: DataFrame): DataFrame =
    docs
      .groupBy(xxhash64(col("text")), length(col("text")))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))

  /** Exact-duplicate ID-SPAN histogram (q139) — the crawl-order
    * geometry of duplication q30's group counts and q118's copy-count
    * histogram both discard: is each dup group a LOCAL burst (re-crawl
    * within the same fetch window, id span small) or a FAR re-serve
    * (the same page re-entering the corpus crawls later, span ~ corpus
    * width)? The answer decides which dedup strategy pays for itself —
    * local bursts fall to a bounded-window streaming screen
    * ([[graft.streaming.StreamingOps]]' watermarked exact dedup) while
    * far re-serves need the full-corpus batch pass or a persistent
    * [[RefIndex]] horizon.
    *
    * Per dup group (≥2 copies, the q30 (xxhash64, length) identity;
    * NULL texts excluded — a "span of the NULL group" is noise, not
    * geometry): span = max(doc_id) − min(doc_id), bucketed by DECIMAL
    * DIGIT COUNT — length of the span's base-10 rendering, an exact
    * integer cross-engine where floor(log10) rides an FP boundary at
    * every power of ten. Output per bucket: groups, docs covered,
    * min/max span.
    *
    * Scale shape: q30's exchange discipline — the group key is 16
    * bytes of (hash, length) + two id extremes, bodies never shuffle;
    * the histogram is a second ≤19-key aggregate over the group frame.
    */
  def dupSpread(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .groupBy(xxhash64(col("text")), length(col("text")))
      .agg(count(lit(1)).as("n_copies"),
        min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
      .filter(col("n_copies") >= 2)
      .select((col("hi") - col("lo")).as("span"), col("n_copies"))
      .groupBy(length(col("span").cast("string")).as("span_digits"))
      .agg(count(lit(1)).as("n_groups"), sum(col("n_copies")).as("n_docs"),
        min(col("span")).as("min_span"), max(col("span")).as("max_span"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Near-dup clustering end to end: near-dup pairs -> connected
    // components -> canonical representative per cluster. The "which docs
    // do we actually DROP" answer a training pipeline needs.
    // Composed over q33's exact-Jaccard pairs (round 5; was q31's minhash
    // pairs) so the WHOLE chain is DuckDB-oracle-able — connectedComponents
    // itself is input-agnostic and the q31 composition stays one line.
    "q45_dedup_clusters" -> ((s, dir) => {
      val pairs = queries("q33_ngram_jaccard")(s, dir).select(col("a"), col("b"))
      connectedComponents(pairs)
    }),

    // The near-dup PRODUCTION tail, composed in ONE plan: q33's
    // exact-Jaccard pairs -> q45's connected components -> q92's
    // representative election (richest raw text per cluster, ties to
    // the lowest doc_id) — "which copy does the training set keep and
    // how many bytes does the drop save", the near-dup analogue of
    // q91's exact-dedup->pack composition. Composed because this is
    // where AQE replans and exchange-reuse bugs hide at 100 TB: each
    // stage keeps its individual scale shape inside the composed plan
    // (df-capped gram index and capped bucket pairs; O(log D)
    // pointer-jumping rounds over the pair-scale edge table, never the
    // corpus; then ONE cluster-keyed partial aggregate). The label
    // frame joins back to the corpus for n_chars as (doc_id, n_chars)
    // 16-byte rows — counts map-side BEFORE the join, the q91
    // discipline, bodies never shuffle — and the election is the q92
    // ArgMaxTieMin partial aggregate (HashAggregate; a mega-cluster is
    // a hot partial-agg key, not a buffered group), never a window.
    "q128_neardup_reps" -> ((s, dir) => {
      // members feeds only the election here — no checkpoint needed
      val (_, reps) = neardupMembers(s, dir, materialize = false)
      reps.select(col("cluster"), col("n_members"),
        col("m.id").as("rep_doc_id"), col("m.c").as("rep_chars"),
        (col("tot_chars") - col("m.c")).as("drop_chars"))
    }),
    // Exact dedup: keep the smallest doc_id per identical text — see
    // [[exactSurvivors]] for the shuffle discipline.
    "q30_dedup_exact" -> ((s, dir) =>
      exactSurvivors(Tables.documents(s, dir))
        .select(col("doc_id"), col("n_copies"))),

    // Duplicate id-span histogram — see [[dupSpread]]. The sandbox
    // corpus has NO organic exact-dup group at the gate SFs (q115's
    // lesson: vacuous pass), so the driver query PLANTS copies
    // in-pipeline, mirrored in the oracle: every 41st doc echoes at
    // doc_id + 10^(doc_id % 6 + 1), so group spans are exact powers of
    // ten spread across SIX digit buckets and every bucket's min/max
    // span is pinned by construction. Planted ids may collide with
    // real doc_ids — harmless BY DESIGN: grouping is by text identity,
    // so a collision just means two rows share an id across different
    // groups, and span uses min/max per text group. At replicated gate
    // corpora the replicas themselves form organic groups (span =
    // replica stride), so the operator reads real structure there on
    // top of the plant.
    "q139_dup_spread" -> ((s, dir) => {
      // r22 (the q62 one-scan lesson): the union's echo branch re-decoded
      // the whole text column (a % predicate cannot prune parquet row
      // groups), so the plant ran the scan twice. One scan now emits each
      // row's id list — the base id, plus the echo id on planted rows —
      // and explodes it; the (doc_id, text) multiset is unchanged
      // (R22RestructureSpec pins it against the union spelling).
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val echoId = col("doc_id") +
        pow(lit(10.0), (col("doc_id") % 6 + 1).cast("double")).cast("long")
      dupSpread(docs.select(explode(
        when(col("text").isNotNull && col("doc_id") % 41 === 0,
          array(col("doc_id"), echoId))
          .otherwise(array(col("doc_id")))).as("doc_id"), col("text")))
    }),

    // MinHash + LSH near-dup pairs.
    // Fully relational: explode grams, hash each ONCE, then 16 `min`
    // aggregates (codegen'd hash-aggregate with map-side combine). The
    // earlier array-HOF form re-evaluated the shingle array per minhash
    // column — higher-order functions are CodegenFallback and
    // CollapseProject inlines them into every consumer, so the plan
    // re-tokenized each doc ~20x.
    // Pair generation is [[pairsOnce]] with the 16 minima PACKED into one
    // array<long> payload column: est_jaccard is computed at emission by
    // the fused [[graft.functions.LongArrayMatches]] loop, so the pair
    // stream — quadratic in a dup group's copy count by DESIGN (it is the
    // operator's output) — never feeds a distinct() or a signature
    // join-back. The round-14 probe corpus (100 copies/doc) spent 34.5 s
    // of q31's 43.5 s in exactly those two pair-scale stages; round 15's
    // UNPACKED payload (16 scalar columns per side, est as a 16-term
    // when-chain) then cost 13-17 s of per-row evaluation at the official
    // 10× gate (7.5× floor) — the q66 lesson applied here: one array
    // value through the exchange, one codegen'd primitive loop per pair.
    "q31_dedup_minhash" -> ((s, dir) => {
      // r21: the signature is a pure per-row function, so it is computed
      // MAP-SIDE by the fused [[graft.functions.MinhashSig]] pass over the
      // hashed-gram array — the former explode + 16-min-aggregate form
      // shuffled a (doc_id, h) row per distinct gram and probed a
      // 16-column aggregate buffer per row; this plan's first exchange is
      // pairsOnce's (band, bucket) key (guide §2.4: remove shuffles
      // outright). Same gram space, same permutation family, same minima
      // (DedupSpec differential). Docs under 3 tokens carry the all-P
      // sentinel signature (= the aggregate form having no row) and are
      // filtered before banding; NULL text propagates to a NULL sig,
      // dropped by the same filter.
      val sigs = Materialize(Tables.documents(s, dir)
        .select(col("doc_id"), graft.functions.MinhashSig(
          graft.functions.TextFunctions.hashedGrams(tokens, 3),
          (0 until NumHashes).map(permMul), P).as("sig"))
        .filter(element_at(col("sig"), 1) =!= SigSentinel))
      val bandKeys = rowBandKeys(col("sig"))
      pairsOnce(sigs, "doc_id", bandKeys, BucketCap, payload = Seq("sig"))
        .withColumn("est_jaccard",
          graft.functions.VectorFunctions
            .longArrayMatches(col("a_sig"), col("b_sig"))
            .cast("double") / NumHashes)
        .filter(col("est_jaccard") >= 0.5)
        .select(col("a"), col("b"), col("est_jaccard"))
    }),

    // SimHash near-dup: 64-bit simhash over tokens, pairs within hamming<=6
    // found by 4-band exact-match blocking (any identical 16-bit quarter).
    // r21: the signature is a pure per-row function, so it is computed
    // MAP-SIDE by the fused [[graft.functions.SimhashBits]] pass (distinct
    // tokens, one xxhash64 each — the same hash the explode form computed —
    // ±1 votes per bit in a primitive loop). The former explode +
    // 64-sum-aggregate form paid a 64-column aggregate-buffer update per
    // (doc, token) row and an exchange before banding; this plan's first
    // exchange is the (band, key) bucket count (guide §2.4). NULL text →
    // NULL sh, filtered like the explode form's absent rows (DedupSpec
    // pins the equivalence).
    "q32_dedup_simhash" -> ((s, dir) => {
      // (doc_id, sh) — one row per doc; three consumers, materialize once
      val sim = Materialize(Tables.documents(s, dir)
        .select(col("doc_id"),
          graft.functions.SimhashBits(tokens).as("sh"))
        .filter(col("sh").isNotNull))
      val banded = sim.select(col("doc_id"),
        posexplode(array((0 until 4).map(i =>
          shiftrightunsigned(col("sh"), i * 16).bitwiseAND(lit(0xFFFFL))): _*))
          .as(Seq("band", "key")))
      val pairs = bucketPairs(banded, Seq("band", "key"), BucketCap)
      pairs
        .join(sim.select(col("doc_id").as("a"), col("sh").as("sh_a")), "a")
        .join(sim.select(col("doc_id").as("b"), col("sh").as("sh_b")), "b")
        .select(col("a"), col("b"),
          bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
        .filter(col("hamming") <= 6)
    }),

    // n-gram Jaccard over the df-filtered shingle space (see
    // [[jaccardPairs]]). Replaces round 1/2's uncapped Σdf² self-join
    // (155 s of a 198 s bench).
    "q33_ngram_jaccard" -> ((s, dir) => jaccardPairs(Tables.documents(s, dir))),

    // Gram df spectrum — see [[gramDfSpectrum]].
    "q141_gram_df_spectrum" -> ((s, dir) =>
      gramDfSpectrum(Tables.documents(s, dir))),

    // Per-source near-dup incidence — see [[neardupBySource]]. No plant
    // needed: the synthetic near-dup families pair organically at every
    // SF (the q130 evidence), and zero-incidence sources still emit
    // rows through the left join.
    "q142_neardup_by_source" -> ((s, dir) =>
      neardupBySource(Tables.documents(s, dir))),

    // Containment (subset-duplication) screen — see [[containmentPairs]].
    // The corpus has no organic fragment-of-another-doc pair at gate
    // scales, so the driver query PLANTS them in-pipeline (the
    // q115/q129 convention, mirrored in the oracle): every 97th doc
    // gets a synthetic "quote" — its LAST 40 tokens as a new doc at
    // doc_id + 2^41 (past q80's 2^40 plant space). Last, not first:
    // ScaleCorpus's replica-unique near-dup tails sit at the END of
    // planted texts, so tail quotes keep kept-grams (df within cap)
    // at the 100x probe where head grams saturate DfCap and vanish —
    // the q124 non-vacuity lesson applied at design time.
    "q134_containment" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val quotes = docs
        .filter(col("text").isNotNull && col("doc_id") % 97 === 0)
        .select((col("doc_id") + (1L << 41)).as("doc_id"),
          concat_ws(" ",
            slice(tokens, greatest(size(tokens) - 39, lit(1)), lit(40)))
            .as("text"))
      containmentPairs(docs.unionByName(quotes))
    }),

    // Duplicated-span coverage per doc — see [[dupSpans]].
    "q69_dup_spans" -> ((s, dir) => dupSpans(Tables.documents(s, dir))),

    // Duplicated-span REMOVAL — see [[stripDupSpans]].
    "q70_strip_spans" -> ((s, dir) => stripDupSpans(Tables.documents(s, dir))),

    // Cross-source exact-duplicate matrix — see [[sourceDupMatrix]].
    // The sandbox corpus has no cross-source verbatim duplicate at the
    // gate scales (the oracle passed VACUOUSLY through r16: 0 rows both
    // engines), so the driver query plants them in-pipeline — the q58
    // precedent: every doc_id % 37 == 0 doc is re-emitted under a
    // synthetic 'mirror' source AND under a deterministically rotated
    // existing source (src{(doc_id div 37) % 20}), both derivations
    // SQL-expressible so the DuckDB oracle gates a NON-EMPTY matrix
    // (29 rows at sf0.01) and the containment-ppm arithmetic is
    // exercised by the hash gate, not just DedupSpec. Planting is a
    // ~1/37 corpus fraction derived post-replication, so it survives
    // ScaleCorpus and any SF unchanged in shape.
    "q115_source_dup_matrix" -> ((s, dir) => {
      // r22 (the q62 one-scan lesson): the two planted branches each
      // re-decoded the full text column behind an unpushable % filter —
      // three corpus scans for one plant. One scan now explodes each
      // row's source list (base source; planted rows add 'mirror' and
      // the rotated source); the (text, source) multiset is unchanged
      // (R22RestructureSpec pins it against the union spelling).
      val docs = Tables.documents(s, dir)
      sourceDupMatrix(docs.select(col("text"), explode(
        when(col("doc_id") % 37 === 0,
          array(col("source"), lit("mirror"),
            concat(lit("src"), (expr("doc_id div 37") % 20).cast("string"))))
          .otherwise(array(col("source")))).as("source")))
    }),

    // The q46 assignment audited against a re-crawl echo: every
    // doc_id % 7 == 0 doc re-collected under a fresh id, whose
    // md5-bucket split is independent of the original's (the q115
    // in-pipeline planting precedent — the raw driver corpus is
    // exact-dup-free at the gate scales, and a vacuous oracle gates
    // nothing). See [[splitLeakage]].
    "q123_split_leakage" -> ((s, dir) => {
      // r22: one scan, not two — the echo branch's % filter cannot prune
      // parquet row groups, so the union re-decoded every text. Same
      // (doc_id, text) multiset (R22RestructureSpec).
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      splitLeakage(docs.select(explode(
        when(col("doc_id") % 7 === 0,
          array(col("doc_id"), col("doc_id") + 10000000L))
          .otherwise(array(col("doc_id")))).as("doc_id"), col("text")))
    }),

    // The APPLIED form of q128: the per-document substitution table a
    // near-dup rewrite job actually joins against — every cluster
    // member mapped to its elected representative plus a keep flag
    // (q128 summarizes clusters for the human; a rewrite pass needs one
    // row per member). Same composed machinery; the election result
    // re-attaches to members via a cluster-keyed equi-join of two
    // ALREADY-BOUNDED frames (members = docs in the pair graph, reps ≤
    // clusters) — no window, bodies never shuffle.
    "q132_rep_remap" -> ((s, dir) => {
      val (members, reps) = neardupMembers(s, dir)
      members.select(col("doc_id"), col("cluster"))
        .join(reps.select(col("cluster"), col("m.id").as("rep_doc_id")),
          Seq("cluster"))
        .select(col("doc_id"), col("cluster"), col("rep_doc_id"),
          (col("doc_id") === col("rep_doc_id")).as("keep"))
    }),

    // Near-dup cross-split leakage over the RAW corpus (no plant needed:
    // the synthetic near-dup families cross the md5 split boundaries
    // naturally at every SF — verified non-vacuous for all three split
    // pairs at sf0.001). See [[fuzzyLeakage]].
    "q130_fuzzy_leakage" -> ((s, dir) =>
      fuzzyLeakage(Tables.documents(s, dir))),

    // Duplication growth curve, audited against a re-fetch echo: every
    // doc_id % 7 == 0 doc re-collected immediately after its original
    // (interleaved ids 2d / 2d+1 — evens host the corpus, odds the
    // echoes, so intake order and checkpoint density stay scale-free at
    // every SF and under ScaleCorpus replication). The raw driver
    // corpus is exact-dup-free at the gate scales (the q115/q123
    // in-pipeline planting precedent — a flat-zero curve would gate
    // nothing), so the echo keeps every checkpoint's dup arithmetic
    // non-vacuous. See [[dupGrowth]].
    "q124_dup_growth" -> ((s, dir) => {
      // r22: one scan, not two (the q115/q123/q139 one-scan pattern) —
      // every row emits its even id, echo rows add the odd id. Same
      // (doc_id, text) multiset (R22RestructureSpec).
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      dupGrowth(docs.select(explode(
        when(col("doc_id") % 7 === 0,
          array(col("doc_id") * 2, col("doc_id") * 2 + 1))
          .otherwise(array(col("doc_id") * 2))).as("doc_id"), col("text")))
    }),

    // Duplicate-cluster-size histogram: per exact-copy multiplicity k,
    // how many content groups and docs sit at k — the curve that
    // predicts q101's savings before running the dedup (docs at k = 1
    // are untouchable; every k >= 2 group frees k-1 docs). Rides
    // [[exactSurvivors]]' hashes-only election collapsed to a
    // ≤max-multiplicity-key partial agg; the share is integer ppm of a
    // 1-row broadcast total (the scale-0 rounding rule).
    "q118_dup_histogram" -> ((s, dir) => {
      val groups = Materialize(
        exactSurvivors(Tables.documents(s, dir)).select(col("n_copies")))
      val total = groups.agg(sum(col("n_copies")).as("n_total"))
      groups.groupBy(col("n_copies"))
        .agg(count(lit(1)).as("n_groups"))
        .crossJoin(broadcast(total))
        .select(col("n_copies"), col("n_groups"),
          (col("n_copies") * col("n_groups")).as("n_docs"),
          round((col("n_copies") * col("n_groups")).cast("double") * 1e6
            / col("n_total"), 0).cast("long").as("doc_share_ppm"))
    }),

    // Source×source mirror matrix — see [[sourceOverlap]].
    "q96_source_overlap" -> ((s, dir) =>
      sourceOverlap(Tables.documents(s, dir))),

    // First-occurrence span ownership per source — see [[gramNovelty]].
    "q98_gram_novelty" -> ((s, dir) =>
      gramNovelty(Tables.documents(s, dir))),

    // Exact-dedup ROI per source (tokens saved, within/cross split) —
    // see [[dedupSavings]].
    "q101_dedup_savings" -> ((s, dir) =>
      dedupSavings(Tables.documents(s, dir))),

    // Similarity histogram + cumulative flag counts per candidate
    // threshold — see [[jaccardCalibration]].
    "q102_jaccard_calib" -> ((s, dir) =>
      jaccardCalibration(Tables.documents(s, dir))),

    // Incremental dedup: the increment (odd ids) screened against the
    // reference snapshot (even ids) — see [[incrementalDedup]]. r21: the
    // two sides are parity filters of ONE table and the side encoding is
    // id·2 + side, which for the parity split is the single expression
    // 2·doc_id + (doc_id % 2) — so the side-encoded frame comes from ONE
    // scan instead of two full parquet decodes (guide §1.2 step 1, the
    // q133 pattern; R21RestructureSpec pins equality to the two-frame
    // form).
    "q62_incr_dedup" -> ((s, dir) =>
      incrementalDedupTagged(Tables.documents(s, dir)
        .select((col("doc_id") * 2 + pmod(col("doc_id"), lit(2L)))
          .as("doc_id"), col("text"))))
  )

  /** Duplicated-span coverage (the exact-substring-dedup signal): per
    * document, how many of its `w`-token window positions start a span
    * that also appears in ANOTHER document. High dup_ratio = the doc is
    * largely boilerplate/mirrored content even when no whole-doc near-dup
    * fires — the doc-level report the "train on unique text" policies
    * act on. Docs shorter than `w` tokens have no span and are excluded.
    *
    * Scale: grams travel as xxhash64 longs; ONE (g, doc_id) partial-agg
    * hash aggregate collapses the positional stream (q48's exact-shuffle
    * class — heavy but linear, no posting list ever materializes since
    * only the COUNT of distinct docs is needed, never their ids); the gdf
    * count and the left-join flag both ride that frame's g distribution,
    * and the per-doc rollup is one doc_id-keyed aggregate. Within-doc
    * repeats don't count toward gdf (the per-doc collapse precedes it)
    * but their positions DO count as duplicated spans, exactly like the
    * old positional join counted them.
    */
  def dupSpans(docs: DataFrame, w: Int = SpanW): DataFrame = {
    // r21 restructure (guide §2.3/§2.4): the old shape fed the
    // un-materialized positional gram frame to THREE consumers (distinct →
    // gdf, per-doc totals, and the shared-join probe), so the corpus-scale
    // tokenize + gram pipeline ran three times and the distinct() paid its
    // own (doc, g) exchange. Everything here derives from ONE
    // (g, doc_id) → cnt partial aggregate: gdf is a count over that frame
    // (within-doc repeats collapse exactly like distinct() collapsed
    // them), per-doc totals are Σcnt, and the dup count folds into the
    // SAME doc-keyed aggregate through a left join flag — one gram pass
    // saved outright, and the final per-doc rollup is one aggregate
    // instead of two plus a join.
    //
    // MATERIALIZED because relying on AQE stage reuse between the two ggd
    // consumers does not work (measured r21, `Probe final`): column
    // pruning strips `cnt` out of the gdf branch, the two aggregate
    // subtrees stop being canonically identical, and each consumer
    // replays the gram pipeline — the checkpoint pins it to one pass.
    val ggd = Materialize(docs.filter(col("text").isNotNull)
      .select(col("doc_id"), explode(
        graft.functions.TextFunctions.hashedGrams(tokens, w)).as("g"))
      .groupBy(col("g"), col("doc_id")).agg(count(lit(1)).as("cnt")))
    val shared = ggd.groupBy(col("g")).agg(count(lit(1)).as("gdf"))
      .filter(col("gdf") >= 2)
      .select(col("g"), lit(1L).as("sh"))
    ggd.join(shared, Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_grams"),
        sum(when(col("sh").isNotNull, col("cnt")).otherwise(0L)).as("n_dup"))
      .select(col("doc_id"), col("n_grams"), col("n_dup"),
        round(col("n_dup").cast("double") / col("n_grams"), 6)
          .as("dup_ratio"))
  }

  /** Source-level mirror detection: for every unordered source pair, how
    * many distinct [[SpanW]]-token spans appear in BOTH — plus the overlap
    * coefficient shared/min(|A|,|B|), the containment form that flags a
    * small crawl that is a subset-mirror of a big one even when the big
    * side dwarfs it. The source×source view catches systematic copying
    * (CC dump re-crawls, site mirrors split across dumps) that per-doc
    * screens see only as scattered span dups.
    *
    * Scale: spans travel as xxhash64 longs; (g, source) is distincted by
    * a partial agg BEFORE any pair math; per-gram source sets are bounded
    * by the source catalog (the q93 contract: a CATALOG, ≤ thousands —
    * not a per-doc domain), pairs expand in-group from the sorted set
    * (the q33 pattern — no self-join exchange) and collapse map-side into
    * ≤ catalog² count rows. Sizes join is a broadcast of catalog-many
    * rows. NULL sources excluded (a pair needs two named sides).
    */
  def sourceOverlap(docs: DataFrame): DataFrame = {
    // Materialize: sg feeds THREE branches (pair expansion + both sizes
    // aliases) and AQE replans consumers independently — without it the
    // corpus-scale tokenize/gram/distinct subtree can run three times
    // (the q31 sigs / media fingerprint precedent)
    val sg = Materialize(docs
      .filter(col("text").isNotNull && col("source").isNotNull)
      .select(col("source"), explode(array_distinct(
        graft.functions.TextFunctions.hashedGrams(tokens, SpanW))).as("g"))
      .distinct())
    sourcePairCounts(sg, Seq("g"))
      .select(col("src_a"), col("src_b"), col("shared"),
        round(col("shared").cast("double") / least(col("na"), col("nb")), 6)
          .as("overlap"))
  }

  /** Cross-source EXACT-duplicate matrix — q96's mirror question at
    * document granularity: per source pair, how many distinct document
    * contents appear verbatim in BOTH (the re-hosted-corpus signal a
    * span-overlap coefficient smooths away), plus the containment share
    * of the smaller side in ppm. Reads as: which crawls are literal
    * re-serves of each other, so the pipeline dedups them as one unit.
    *
    * Scale: contents travel as the q30 (xxhash64, length) identity —
    * one (h, len, source) distinct (hashes only, never bodies), group
    * sizes bounded by the source catalog, pair expansion in-group over
    * the sorted source set, and the per-source sizes broadcast.
    * Containment is integer ppm (scale-0 rounding — the q109 lesson).
    */
  def sourceDupMatrix(docs: DataFrame): DataFrame = {
    val st = Materialize(docs
      .filter(col("text").isNotNull && col("source").isNotNull)
      .select(xxhash64(col("text")).as("h"),
        length(col("text")).cast("long").as("len"), col("source"))
      .distinct())
    sourcePairCounts(st, Seq("h", "len"))
      .select(col("src_a"), col("src_b"),
        col("shared").as("n_shared_texts"),
        round(col("shared").cast("double") * 1e6
          / least(col("na"), col("nb")), 0).cast("long").as("containment_ppm"))
  }

  /** Train/eval split self-contamination (q123): the q46 assignment is
    * content-blind by design (reproducible from the doc_id alone), so
    * verbatim duplicates land in independent splits and every
    * exact-copy group crossing the boundary silently promotes training
    * text into eval. Per ordered split pair (pipeline order
    * train→val→test): identity groups present on both sides, eval-side
    * docs those groups contaminate, and the contaminated ppm of the
    * eval split — the one-table answer to "is my held-out set actually
    * held out", the SELF-corpus complement of q49/q104's external
    * benchmark decontamination.
    *
    * Scale shape: rides exactSurvivors' (xxhash64, len) identity-key
    * convention — 16 bytes + the split label per doc through the single
    * corpus-scale exchange, bodies never shuffle; per-group split
    * counts reduce map-side. The matrix is ONE total aggregate over the
    * group frame unpivoted to 3 rows (the q83 explode idiom); ppm
    * shares are int64 `div` against the eval split's own doc count
    * (non-empty by the 80/10/10 contract — an empty split fails the
    * ANSI div loudly rather than reporting a vacuous zero).
    */
  def splitLeakage(docs: DataFrame): DataFrame = {
    val groups = docs.filter(col("text").isNotNull)
      .select(Sampling.splitLabel.as("split"),
        xxhash64(col("text")).as("h"),
        length(col("text")).cast("long").as("len"))
      .groupBy(col("h"), col("len"))
      .agg(
        sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
        sum(when(col("split") === "val", 1L).otherwise(0L)).as("n_val"),
        sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_test"))
    def shared(a: String, b: String) =
      sum(when(col(a) > 0 && col(b) > 0, 1L).otherwise(0L))
    def leaked(a: String, b: String) =
      sum(when(col(a) > 0 && col(b) > 0, col(b)).otherwise(0L))
    val one = groups.agg(
      sum(col("n_val")).as("d_val"),
      sum(col("n_test")).as("d_test"),
      shared("n_train", "n_val").as("g_tv"),
      leaked("n_train", "n_val").as("l_tv"),
      shared("n_train", "n_test").as("g_tt"),
      leaked("n_train", "n_test").as("l_tt"),
      shared("n_val", "n_test").as("g_vt"),
      leaked("n_val", "n_test").as("l_vt"))
    val rows = array(
      struct(lit("train").as("earlier"), lit("val").as("later"),
        col("g_tv").as("shared_groups"), col("l_tv").as("leaked_docs"),
        col("d_val").as("later_docs")),
      struct(lit("train").as("earlier"), lit("test").as("later"),
        col("g_tt").as("shared_groups"), col("l_tt").as("leaked_docs"),
        col("d_test").as("later_docs")),
      struct(lit("val").as("earlier"), lit("test").as("later"),
        col("g_vt").as("shared_groups"), col("l_vt").as("leaked_docs"),
        col("d_test").as("later_docs")))
    one.select(explode(rows).as("r")).select(col("r.*"))
      .withColumn("leaked_ppm",
        expr("(1000000 * leaked_docs) div later_docs"))
  }

  /** NEAR-duplicate cross-split leakage (q130): [[splitLeakage]] flags a
    * held-out doc whose text is byte-identical to a train doc; this
    * flags the PARAPHRASE case — an eval doc whose 3-gram Jaccard
    * against some doc in an earlier split clears q33's near-dup bar.
    * Exact-identity audits systematically miss re-hosted/lightly-edited
    * copies, and those inflate held-out scores exactly like identical
    * ones. Per (earlier, later) split pair: crossing candidate pairs,
    * DISTINCT later-split docs contaminated, the later split's size,
    * and the leaked ppm.
    *
    * Scale shape: rides [[jaccardPairs]]' capped candidate machinery
    * (the pair stream is the operator's bounded input, never
    * corpus-scale); split labels are a PURE id function
    * ([[Sampling.splitLabelOf]] — the q46 md5-prefix assignment)
    * computed map-side on both pair columns, so there is NO join back
    * to the corpus; the rollup is a ≤6-key aggregate and the split
    * sizes broadcast as a ≤3-row frame.
    */
  def fuzzyLeakage(docs: DataFrame): DataFrame = {
    val rank: Column => Column = s =>
      when(s === "train", 0).when(s === "val", 1).otherwise(2)
    val crossing = jaccardPairs(docs).select(
      col("a"), col("b"),
      Sampling.splitLabelOf(col("a")).as("sa"),
      Sampling.splitLabelOf(col("b")).as("sb"))
      .filter(col("sa") =!= col("sb"))
    val oriented = crossing.select(
      when(rank(col("sa")) < rank(col("sb")), col("sa")).otherwise(col("sb"))
        .as("earlier"),
      when(rank(col("sa")) < rank(col("sb")), col("sb")).otherwise(col("sa"))
        .as("later"),
      when(rank(col("sa")) < rank(col("sb")), col("b")).otherwise(col("a"))
        .as("later_doc"))
    val leaks = oriented.groupBy(col("earlier"), col("later"))
      .agg(count(lit(1)).as("n_pairs"),
        count_distinct(col("later_doc")).as("leaked_docs"))
    val denom = docs.filter(col("text").isNotNull)
      .groupBy(Sampling.splitLabelOf(col("doc_id")).as("later"))
      .agg(count(lit(1)).as("later_docs"))
    leaks.join(broadcast(denom), Seq("later"))
      .select(col("earlier"), col("later"), col("n_pairs"),
        col("leaked_docs"), col("later_docs"),
        expr("(1000000 * leaked_docs) div later_docs").as("leaked_ppm"))
  }

  /** Shared q128/q132 composed tail: cluster MEMBERS (q45's labels
    * joined with map-side (doc_id, n_chars) 16-byte rows — the q91
    * discipline, bodies never shuffle) and the per-cluster ELECTION
    * (ArgMaxTieMin on n_chars, ties to min doc_id — the q92 order,
    * one partial hash aggregate, never a window). ONE definition so
    * the summary (q128) and the substitution table (q132) — which a
    * production rewrite applies TOGETHER — cannot silently fork their
    * cluster semantics. `materialize` (q132's default): checkpoint
    * `members` when it feeds BOTH the election and the remap join —
    * without it each consumer would replay the corpus-scale n_chars
    * join (the two consumers shuffle on different keys, so
    * ReuseExchange cannot fire). q128 consumes members ONCE (election
    * only) and passes false, skipping an unneeded checkpoint
    * write/read (r19 advice). The frame itself is pair-graph-bounded,
    * so the checkpoint is small even when the corpus is not.
    */
  private def neardupMembers(s: SparkSession, dir: String,
      materialize: Boolean = true): (DataFrame, DataFrame) = {
    val labels = queries("q45_dedup_clusters")(s, dir)
      .select(col("doc_id"), col("cluster"))
    val chars = Tables.documents(s, dir).filter(col("text").isNotNull)
      .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))
    val joined = labels.join(chars, Seq("doc_id"))
    val members = if (materialize) Materialize(joined) else joined
    val reps = members.groupBy(col("cluster"))
      .agg(
        count(lit(1)).as("n_members"),
        graft.functions.ArgMaxTieMin(col("n_chars"), col("doc_id")).as("m"),
        sum(col("n_chars")).as("tot_chars"))
    (members, reps)
  }

  /** Exact-duplication growth curve (q124): cumulative duplicate-doc
    * count and share at each of [[Sampling.Checkpoints]] equal corpus slices in
    * doc_id (intake) order. q118/q101 report what dedup saves on the
    * corpus as it stands; this reports how the savings TREND as the
    * crawl grows — a dup_ppm curve still accelerating at 100% means the
    * next crawl buys mostly repeats, the "is crawl N+1 worth it"
    * complement to q121's vocabulary curve at document rather than
    * token granularity.
    *
    * A document is a duplicate iff an earlier document (smaller doc_id)
    * carries identical text, so cumulative duplicates at checkpoint k
    * are simply docs(≤k) − groups-first-seen(≤k) — no per-doc dup flag
    * or join back to the corpus is ever computed.
    *
    * Scale shape: rides [[exactSurvivors]]' (xxhash64, len) identity
    * convention — ONE corpus-scale 16-byte-key exchange produces the
    * per-group first occurrence (`min(doc_id)`, map-side combined);
    * first occurrences and raw docs bucket by integer ceil-division
    * against the 1-row broadcast horizon (q121's
    * [[Sampling.checkpointOf]] rule), both histograms are ≤ checkpoints
    * rows, and cumulatives ride the spine triangle join
    * ([[Sampling.cumOverSpine]]) — never a window, bodies never
    * shuffle. An id-range checkpoint minting no docs (sparse remapping)
    * still emits its cumulative row via the spine; its dup_ppm guards
    * the k-before-first-doc case (n_docs = 0) to 0 rather than failing
    * the ANSI division.
    */
  def dupGrowth(docs: DataFrame): DataFrame = {
    val live = docs.filter(col("text").isNotNull)
    val horizon = live.agg(max(col("doc_id")).as("max_id"))
    val groups = live
      .groupBy(xxhash64(col("text")), length(col("text")))
      .agg(min(col("doc_id")).as("first_id"))
    val newGroups = groups.crossJoin(broadcast(horizon))
      .groupBy(Sampling.checkpointOf("first_id", Sampling.Checkpoints).as("bk"))
      .agg(count(lit(1)).as("c"))
    val docBuckets = live.select(col("doc_id")).crossJoin(broadcast(horizon))
      .groupBy(Sampling.checkpointOf("doc_id", Sampling.Checkpoints).as("bk"))
      .agg(count(lit(1)).as("c"))
    val session = docs.sparkSession
    Sampling.cumOverSpine(session, Sampling.Checkpoints, docBuckets, "n_docs")
      .join(Sampling.cumOverSpine(session, Sampling.Checkpoints, newGroups,
        "n_groups"), Seq("k"))
      .select(col("k").as("checkpoint"), col("n_docs"), col("n_groups"),
        (col("n_docs") - col("n_groups")).as("dup_docs"),
        when(col("n_docs") === 0, lit(0L)).otherwise(
          expr("(1000000 * (n_docs - n_groups)) div n_docs"))
          .as("dup_ppm"))
  }

  /** The in-group pair expansion + sizes join shared by the two
    * source-pair matrices (q96 spans, q115 exact contents): `keyed` is a
    * (groupCols..., source) DISTINCT frame. Each group collapses to its
    * sorted source set, pairs (a < b) expand IN-GROUP (group fan-out is
    * bounded by the source catalog, never the corpus), and the
    * per-source group counts join back as broadcasts. Output:
    * (src_a, src_b, shared, na, nb).
    */
  private def sourcePairCounts(keyed: DataFrame, groupCols: Seq[String]): DataFrame = {
    val sizes = keyed.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val pairsOf = flatten(transform(col("ss"), (x, i) =>
      transform(slice(col("ss"), i + 2, size(col("ss"))),
        y => struct(x.as("a"), y.as("b")))))
    keyed.groupBy(groupCols.map(col): _*)
      .agg(sort_array(collect_set(col("source"))).as("ss"))
      .filter(size(col("ss")) >= 2)
      .select(explode(pairsOf).as("p"))
      .groupBy(col("p.a").as("src_a"), col("p.b").as("src_b"))
      .agg(count(lit(1)).as("shared"))
      .join(broadcast(sizes.select(col("source").as("src_a"), col("n").as("na"))), "src_a")
      .join(broadcast(sizes.select(col("source").as("src_b"), col("n").as("nb"))), "src_b")
  }

  /** Marginal-novelty attribution per source: walk the corpus in doc_id
    * (acquisition) order and credit each distinct [[SpanW]]-token span to the
    * source of the document where it FIRST appears. Per source: distinct
    * spans present, spans owned (first seen here — exactly the spans this
    * source contributes to a dedup-in-acquisition-order corpus), spans
    * exclusive (appearing in no other source), and novelty = owned /
    * present. This is the data-value table behind "does crawl N+1 add
    * anything" decisions: a source with high overlap (q96) can still own
    * nothing if every shared span was crawled earlier elsewhere.
    *
    * Scale: spans travel as xxhash64 longs; the corpus-scale gram stream
    * collapses immediately by a (g, source)-keyed partial agg carrying
    * min(doc_id); ownership is an arg-min partial agg keyed by g alone
    * (doc ids are globally unique so the arg-min is deterministic and
    * tie-free); both rollups then reduce to catalog-bounded rows. `gs`
    * feeds two aggregation branches → [[Materialize]] (the q96 AQE-replan
    * precedent: without it the tokenize/gram subtree runs per consumer).
    */
  def gramNovelty(docs: DataFrame): DataFrame = {
    val gs = Materialize(docs
      .filter(col("text").isNotNull && col("source").isNotNull)
      .select(col("doc_id"), col("source"), explode(
        graft.functions.TextFunctions.hashedGrams(tokens, SpanW)).as("g"))
      .groupBy(col("g"), col("source")).agg(min(col("doc_id")).as("mindoc")))
    val present = gs.groupBy(col("source")).agg(count(lit(1)).as("n_spans"))
    val owned = gs.groupBy(col("g"))
      .agg(min_by(col("source"), col("mindoc")).as("osrc"),
        count(lit(1)).as("nsrc"))
      .groupBy(col("osrc"))
      .agg(count(lit(1)).as("n_owned"),
        sum(when(col("nsrc") === 1, 1L).otherwise(0L)).cast("long")
          .as("n_exclusive"))
    present.join(owned, present("source") === owned("osrc"), "left")
      .select(col("source"), col("n_spans"),
        coalesce(col("n_owned"), lit(0L)).as("n_owned"),
        coalesce(col("n_exclusive"), lit(0L)).as("n_exclusive"),
        round(coalesce(col("n_owned"), lit(0L)).cast("double")
          / col("n_spans"), 6).as("novelty"))
  }

  /** Exact-dedup ROI report: per source, what q30's dedup actually saves
    * — docs and tokens removed (every non-canonical copy, attributed to
    * the source that CARRIES the copy, not the one that owns the
    * survivor) plus the within-source/cross-source split of the removed
    * docs. The table that answers "is per-crawl dedup enough, or do we
    * pay for the global pass": a source whose removals are mostly
    * `removed_within` cleans up alone; mostly-cross sources only dedup
    * globally. Savings ratio = tokens_removed / tokens_total.
    *
    * Scale: rides [[exactSurvivors]]' key convention ((xxhash64, length)
    * — 16 bytes/row, never a body). First shuffle: (key, source) partial
    * agg with map-side combine collapses identical copies. Second: per
    * key, the per-source rows fold in-group via a catalog-bounded
    * collect_list (≤|sources| structs per key — the q96 in-group
    * pattern; no corpus-scale join, no window), keeper chosen by tie-free
    * min_by (doc ids are globally unique). Third: the catalog-keyed
    * rollup. Identical text ⇒ identical token count, so per-copy tokens
    * multiply out of the group stats instead of re-shuffling per-doc
    * rows.
    */
  def dedupSavings(docs: DataFrame): DataFrame = {
    val perKeySrc = docs
      .filter(col("text").isNotNull && col("source").isNotNull)
      .select(xxhash64(col("text")).as("h"), length(col("text")).as("len"),
        col("source"), col("doc_id"), size(tokens).cast("long").as("n_tok"))
      .groupBy(col("h"), col("len"), col("source"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("mindoc"),
        min(col("n_tok")).as("tok"))
    val perKey = perKeySrc
      .groupBy(col("h"), col("len"))
      .agg(min_by(col("source"), col("mindoc")).as("keeper_src"),
        collect_list(struct(col("source"), col("n"), col("tok"))).as("rows"))
    perKey
      .select(col("keeper_src"), explode(col("rows")).as("r"))
      .select(col("r.source").as("source"), col("r.n").as("n"),
        col("r.tok").as("tok"),
        // this source's removed copies: all of them, minus the one global
        // survivor if this source holds it
        (col("r.n") - when(col("r.source") === col("keeper_src"), 1L)
          .otherwise(0L)).as("rem"),
        // removals a within-source dedup would ALSO catch: copies beyond
        // this source's own first — so removed_cross (= rem − remWithin)
        // is exactly [this source doesn't hold the global keeper]: the
        // source's first copy, removable only by the global pass
        (col("r.n") - 1L).as("remWithin"))
      .groupBy(col("source"))
      .agg(sum(col("n")).as("n_docs"),
        sum(col("rem")).cast("long").as("n_removed"),
        sum(col("remWithin")).cast("long").as("removed_within"),
        sum(col("n") * col("tok")).as("tokens_total"),
        sum(col("rem") * col("tok")).as("tokens_removed"))
      .select(col("source"), col("n_docs"), col("n_removed"),
        col("removed_within"),
        (col("n_removed") - col("removed_within")).as("removed_cross"),
        col("tokens_total"), col("tokens_removed"),
        round(col("tokens_removed").cast("double") / col("tokens_total"), 6)
          .as("savings"))
  }

  /** Jaccard-threshold calibration: the similarity histogram over EVERY
    * candidate near-dup pair (q33's machinery with the 0.8 cutoff
    * removed), in 0.05 bins, with the two cumulative columns a threshold
    * decision actually reads — pairs flagged at >= lo, and docs touched
    * at >= lo (a doc counts at its BEST pair's bin). Where the histogram
    * knees is where the corpus's duplicate structure separates from the
    * background — set q33/q45's threshold there instead of cargo-culting
    * 0.8.
    *
    * Scale: the pair stream is the q33 shape (df-capped posting lists,
    * in-group expansion — Σ|bucket|² ≤ cap·Σ|bucket|), collapsed
    * immediately to ≤21 bins / per-doc maxima by partial aggs; the
    * binned frame feeds two consumers → Materialize (the AQE-replan
    * precedent), as does the tiny bins frame (its lineage still holds
    * the corpus-scale aggregates). Cumulatives come from a broadcast
    * self-join of the ≤21-row frame — never a window. bin = floor(j·20)
    * is the same IEEE double product both engines floor, and j = 1.0
    * lands in its own top bin.
    */
  def jaccardCalibration(docs: DataFrame): DataFrame = {
    val binned = Materialize(jaccardPairs(docs, 0.0)
      .select(col("a"), col("b"),
        floor(col("jaccard") * 20).cast("long").as("bin")))
    val perBin = binned.groupBy(col("bin")).agg(count(lit(1)).as("n_pairs"))
    val docBest = binned
      .select(explode(array(col("a"), col("b"))).as("d"), col("bin"))
      .groupBy(col("d")).agg(max(col("bin")).as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("nd"))
    val bins = Materialize(perBin.join(docBest, Seq("bin"), "full")
      .select(col("bin"), coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("nd"), lit(0L)).as("nd")))
    val upper = bins
      .select(col("bin").as("bin2"), col("n_pairs").as("np2"), col("nd").as("nd2"))
    bins.join(broadcast(upper), col("bin2") >= col("bin"))
      .groupBy(col("bin"), col("n_pairs"))
      .agg(sum(col("np2")).cast("long").as("cum_pairs"),
        sum(col("nd2")).cast("long").as("cum_docs"))
      .select(col("bin"), (col("bin").cast("double") / 20).as("lo"),
        col("n_pairs"), col("cum_pairs"), col("cum_docs"))
  }

  /** The ACTION step of duplicated-span analysis: remove every cross-doc
    * duplicated `w`-token span from every document (the "dedup the
    * substring, keep the document" policy — a doc survives but its
    * boilerplate/mirrored spans are cut). Output per doc with ≥1 token:
    * (doc_id, n_tok, n_kept, text_clean); `text_clean` is the kept tokens
    * re-joined with single spaces (whitespace-NORMALIZED — the tokenized
    * contract, not byte-preserving).
    *
    * Scale: detection is [[dupSpans]]' counts-only machinery plus ONE
    * per-doc position list (bounded by the doc's own token count — never
    * corpus-scale state); the strip itself is the fused codegen
    * [[graft.functions.StripSpans]] sweep in a map-side projection.
    */
  def stripDupSpans(docs: DataFrame, w: Int = SpanW): DataFrame = {
    val live = docs.filter(col("text").isNotNull)
    // r21 MEASURED DEAD END, kept as the two-pass shape deliberately: a
    // one-gram-pass restructure (checkpointed (g, doc_id) aggregate with
    // in-group position lists, the q69 move) verified oracle-identical
    // but read 3.5–6.1 s across SIX in-bench executions vs 3.1 s for this
    // shape — the bench runs every query COLD, and the richer plan
    // (ObjectHashAggregate + checkpoint + flatten) costs more in
    // whole-stage-codegen compilation (jit +2.8 s on its first run) than
    // the second gram pass it saves; the positional frame is far too
    // small at gate scale (~2M rows) for the saved pass to matter. q69
    // KEEPS its checkpointed one-pass shape because its payload is
    // counts-only (no list building) and it measured faster both warm
    // and in-bench.
    val grams = live
      .select(col("doc_id"), posexplode(
        graft.functions.TextFunctions.hashedGrams(tokens, w)).as(Seq("pos", "g")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("g"))
    val shared = grams.select(col("doc_id"), col("g")).distinct()
      .groupBy(col("g")).agg(count(lit(1)).as("gdf"))
      .filter(col("gdf") >= 2)
      .select(col("g"))
    val dupPos = grams.join(shared, "g")
      .groupBy(col("doc_id")).agg(collect_list(col("pos")).as("ps"))
    live.join(dupPos, Seq("doc_id"), "left")
      .select(col("doc_id"),
        graft.functions.TextFunctions.stripSpans(tokens,
          coalesce(col("ps"), array().cast("array<long>")), w).as("st"))
      .select(col("doc_id"),
        col("st.n_tok").as("n_tok"),
        col("st.n_kept").as("n_kept"),
        col("st.text_clean").as("text_clean"))
  }

  /** Gram document-frequency SPECTRUM (q141) — the empirical
    * justification for [[DfCap]] itself, per corpus: how many distinct
    * 3-grams live at each df magnitude (bucketed by decimal digit
    * count — the q139 exact-cross-engine bucketing), how much posting
    * mass each magnitude carries, and the df extremes per bucket. The
    * whole capped-pair family (q33/q45/q62/q102/q128/q130/q132/q134)
    * rests on "grams shared by more than DfCap docs carry no signal";
    * this table is what that claim looks like on YOUR corpus — where
    * the head begins, what fraction of postings the cap drops, and
    * whether 50 sits in the valley between near-dup signal and
    * boilerplate mass. Run it before retuning the cap, or per crawl to
    * watch the spectrum drift.
    *
    * Scale shape: ONE corpus-scale (g) partial aggregate over hashed
    * grams — counts only, LIGHTER than q33's capped posting-list
    * aggregate (no array buffer at all); then a ≤19-key digit-bucket
    * aggregate. Map-side combine does the heavy lifting on repeated
    * grams; nothing but (long, long) pairs ever crosses the exchange.
    */
  def gramDfSpectrum(docs: DataFrame): DataFrame =
    gramsOf(docs)
      .groupBy(col("g")).agg(count(lit(1)).as("df"))
      .groupBy(length(col("df").cast("string")).as("df_digits"))
      .agg(count(lit(1)).as("n_grams"), sum(col("df")).as("n_postings"),
        min(col("df")).as("min_df"), max(col("df")).as("max_df"))

  /** Per-source NEAR-dup incidence (q142) — "which source brings the
    * duplication": the share of each source's documents that appear in
    * at least one q33 near-dup pair, in floored integer ppm. q115
    * answers the exact-dup question as a source×source matrix and q130
    * the cross-split one; this is the per-source rollup a mixture
    * report reads first — a source at 30% near-dup incidence gets its
    * crawl fixed or its mixture weight cut before anyone tunes
    * thresholds. Sources with zero flagged docs emit 0 ppm (left join),
    * so the table always covers the full catalog.
    *
    * Scale shape: the pair stream is [[jaccardPairs]]' capped machinery
    * (bounded by DfCap, never corpus-quadratic); flagged doc ids
    * distinct to ≤ 2·|pairs| rows, then ONE thin equi-join on doc_id
    * against the (doc_id, source) projection — 16-byte rows both
    * sides, AQE broadcasts the flagged side when small; denominators
    * are a ≤|sources|-key partial agg over the same projection.
    */
  def neardupBySource(docs: DataFrame): DataFrame = {
    val live = docs.filter(col("text").isNotNull)
    val pairs = jaccardPairs(live.select(col("doc_id"), col("text")))
    val flagged = pairs
      .select(explode(array(col("a"), col("b"))).as("doc_id")).distinct()
    val src = live.select(col("doc_id"), col("source"))
    val dupPerSource = flagged.join(src, "doc_id")
      .groupBy(col("source")).agg(count(lit(1)).as("nd"))
    live.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .join(dupPerSource, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("nd"), lit(0L)).as("n_dup_docs"),
        expr("(1000000 * coalesce(nd, 0)) div n_docs").as("dup_ppm"))
  }

  /** q33's core: exact n-gram Jaccard near-dup pairs (a < b, jaccard ≥
    * `minJaccard`) over the df-capped shingle space of `docs` (doc_id,
    * text). Grams shared by 2..DfCap docs define both the candidate pairs
    * and the Jaccard sets (a self-consistent approximation — ubiquitous
    * grams carry no signal).
    */
  def jaccardPairs(docs: DataFrame, minJaccard: Double = MinJaccard): DataFrame =
    pairsFromGrams(gramsOf(docs), minJaccard)

  /** The hashed 3-gram inverted frame (doc_id, g) of a (doc_id, text)
    * frame. Explode directly: the generator evaluates the gram expression
    * once per doc and empty arrays vanish on their own (no size() filter
    * that would get a second inlined copy of the expression). Grams
    * travel as 64-bit hashes, not strings — computed by the fused
    * [[graft.functions.HashedGrams]] rolling pass (round 7: the old form
    * built every gram STRING via concat_ws only to hash it one projection
    * later); the groupBy key is all that matters and the estimate
    * tolerates the negligible collision rate.
    */
  private[graft] def gramsOf(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), explode(array_distinct(
      graft.functions.TextFunctions.hashedGrams(tokens, 3))).as("g"))

  private def pairsFromGrams(inv: DataFrame, minJaccard: Double): DataFrame =
    pairStats(inv)
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("a"), col("b"), col("jaccard"))

  /** The capped candidate-pair frame (a < b, inter, sz_a, sz_b) both
    * overlap metrics derive from — q33's Jaccard and q134's containment
    * share the stats so the two screens cannot fork the machinery.
    */
  private def pairStats(inv: DataFrame): DataFrame = {
    // df-capped posting lists, pairs expanded in-group. Measured against
    // the bucketPairs-style self-join: with short posting lists (df cap
    // 50) the in-group expansion wins — it reuses the groupBy(g) shuffle
    // instead of adding a join-back exchange; both are cap-bounded.
    // The aggregation buffer is size-capped (CappedCollectSetLong):
    // a plain collect_set + size filter would materialize an unbounded
    // posting list on one reducer for a ubiquitous gram ("the end of"
    // at billions of docs) before the filter could drop it. The capped
    // aggregate stops at DfCap+1 distinct doc_ids — exact below the
    // cap, disqualified above it — with no extra pass or exchange.
    val grouped = Materialize(inv.groupBy(col("g"))
      .agg(graft.functions.CappedCollectSetLong(col("doc_id"), DfCap).as("ids"))
      .filter(size(col("ids")).between(2, DfCap)))
    // effective set size per doc = number of its kept (rare) grams
    val sizes = grouped.select(explode(col("ids")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val pairsOf = flatten(transform(col("ids"), (x, i) =>
      transform(slice(col("ids"), i + 2, size(col("ids"))),
        y => struct(x.as("a"), y.as("b")))))
    val inter = grouped.select(explode(pairsOf).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("a"), col("sz").as("sz_a")), "a")
      .join(sizes.select(col("doc_id").as("b"), col("sz").as("sz_b")), "b")
  }

  /** q134's core: asymmetric CONTAINMENT pairs over the same df-capped
    * shingle space as [[jaccardPairs]] — containment(a,b) = |A∩B| /
    * min(|A|,|B|), the Broder containment coefficient. Jaccard misses
    * subset duplication by construction (a quote of 40 tokens inside a
    * 4,000-token page has Jaccard ≈ 0.01 but containment 1.0); a
    * training pipeline screening for "document B is a fragment of
    * document A" — quote farms, syndicated excerpts, scraped partial
    * mirrors — needs the min-denominator form. Output is all-integer
    * (floored ppm, the q122 exactness convention): (a, b, contain_ppm,
    * jaccard_ppm) for every capped candidate pair with containment ≥
    * [[MinContainPpm]]; jaccard_ppm rides along so the consumer can
    * separate subset pairs (high contain, low jaccard) from plain
    * near-dups (both high).
    *
    * Same scale posture as q33: the pair stream exists only inside the
    * df-capped gram space (Σ|b|² bounded by DfCap·Σ|b|), sizes are
    * kept-gram counts, and the metric is self-consistent within that
    * space — a side effect worth stating: grams unique to ONE doc have
    * df 1 and drop, so in a sparse corpus where the big doc's
    * non-shared grams never repeat, sz collapses toward the shared set
    * and jaccard_ppm reads high too. At corpus scale (grams repeat
    * across documents) the asymmetry is visible; the spec pins it with
    * a third doc keeping the big side's grams alive.
    */
  def containmentPairs(docs: DataFrame): DataFrame =
    pairStats(gramsOf(docs))
      .select(col("a"), col("b"),
        expr("(1000000 * inter) div least(sz_a, sz_b)").as("contain_ppm"),
        expr("(1000000 * inter) div (sz_a + sz_b - inter)").as("jaccard_ppm"))
      .filter(col("contain_ppm") >= MinContainPpm)

  /** Incremental (cross-snapshot) dedup: flag each INCREMENT doc that is
    * an n-gram-Jaccard near-dup of any REFERENCE doc — the screen a
    * recurring crawl runs before merging an increment into the training
    * corpus. In-increment duplicates are q33/q45's job; this pairs only
    * ACROSS the two inputs. Output: (doc_id, dup_of, jaccard) — one row
    * per flagged increment doc with its best reference match (max
    * jaccard, smallest reference id on ties).
    *
    * Scale: the side rides ENCODED in the inverted index's id space
    * (id·2 + side), so orienting the capped candidate pairs is free bit
    * arithmetic — no join back against either corpus to recover sides.
    * Everything else is [[jaccardPairs]]' capped machinery; the final
    * per-doc argmax windows over each doc's own capped candidate set.
    * Requires non-negative doc_ids (< 2^62 for encoding headroom), and
    * ids must not collide across the two inputs.
    */
  def incrementalDedup(reference: DataFrame, increment: DataFrame): DataFrame =
    incrementalDedupTagged(
      reference.select((col("doc_id") * 2).as("doc_id"), col("text"))
        .unionByName(
          increment.select((col("doc_id") * 2 + 1).as("doc_id"), col("text"))))

  /** [[incrementalDedup]] over a frame whose ids are ALREADY side-encoded
    * (id·2 + side, side 1 = increment) — the q133/q86 one-scan pattern
    * (r21): when reference and increment are row-level filters of the
    * SAME table, the two-frame API above unions two full scans of it
    * (parquet decodes the text column twice and filters half away each
    * time); a caller that encodes the side in one projection feeds a
    * single scan. Same id arithmetic, same pairs, same tie-break.
    */
  private[ops] def incrementalDedupTagged(tagged: DataFrame): DataFrame = {
    val newSide = pmod(col("a"), lit(2L)) === 1L
    val cross = jaccardPairs(tagged)
      .filter(pmod(col("a"), lit(2L)) =!= pmod(col("b"), lit(2L)))
      .select(
        shiftright(when(newSide, col("a")).otherwise(col("b")), 1).as("doc_id"),
        shiftright(when(newSide, col("b")).otherwise(col("a")), 1).as("dup_of"),
        col("jaccard"))
    bestMatch(cross)
  }

  /** Best reference match per flagged doc: max jaccard, smallest dup_of
    * on ties — the ONE tie-break contract both screens share.
    */
  private def bestMatch(cross: DataFrame): DataFrame =
    cross
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
          .orderBy(col("jaccard").desc, col("dup_of").asc)))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("dup_of"), col("jaccard"))

  /** Precomputed reference index for REPEATED screening (the streaming
    * form of incremental dedup): df-capped posting lists and
    * reference-scope doc sizes, derived, shuffled and cached ONCE.
    *
    * Documented semantic difference from the one-shot [[incrementalDedup]]
    * (union-scope df): here the gram space is FIXED BY THE REFERENCE —
    * a gram is kept iff its reference df ∈ [1, DfCap]; increment-only
    * grams carry no cross-signal and do not dilute sizes. That measures
    * "similarity within the reference's gram space" (the q49 decontam
    * framing) and is the stable contract a screen running for weeks
    * needs: a doc's verdict never depends on what else happened to share
    * its micro-batch.
    */
  final case class RefIndex private[ops] (postings: DataFrame, sizes: DataFrame) {
    /** Release the cached frames once screening is done. */
    def free(): Unit = { postings.unpersist(); sizes.unpersist() }
  }

  def buildRefIndex(reference: DataFrame): RefIndex = {
    val postings = gramsOf(reference)
      .groupBy(col("g"))
      .agg(graft.functions.CappedCollectSetLong(col("doc_id"), DfCap).as("ids"))
      .filter(size(col("ids")) <= DfCap) // reference df in [1, DfCap]
      .cache()
    val sizes = postings.select(explode(col("ids")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
      .cache()
    RefIndex(postings, sizes)
  }

  /** Screen an increment against a prebuilt [[RefIndex]]: per-call cost
    * is a map-side scan of the cached postings (the small increment gram
    * set is BROADCAST into the join) plus increment-scale aggregation —
    * the reference is never re-shuffled and no reference-reference pair
    * is ever expanded. Same output shape as [[incrementalDedup]]:
    * (doc_id, dup_of, jaccard), best match per flagged increment doc.
    */
  def screenAgainstIndex(index: RefIndex, increment: DataFrame): DataFrame = {
    // gramsOf is already distinct per doc (gram3of applies array_distinct)
    val bGrams = gramsOf(increment).withColumnRenamed("doc_id", "b")
    // no broadcast HINT: a typical micro-batch's gram set broadcasts on
    // its own under the threshold, while a backlogged first trigger (or a
    // large direct batch call) falls back to a shuffle join instead of
    // force-collecting an unbounded set onto the driver
    val shared = index.postings.join(bGrams, "g")
    // ONE consumer of `shared`: per-b aggregation carries both the size
    // (count of shared grams) and the concatenated posting lists, so the
    // join subtree is not replayed per branch (AQE reuse is unreliable —
    // the q31 note). Buffer per group ≤ (doc's shared grams)·DfCap ids.
    val perB = shared.groupBy(col("b"))
      .agg(count(lit(1)).as("sz_b"), flatten(collect_list(col("ids"))).as("rs"))
    val inter = perB
      .select(col("b"), col("sz_b"), explode(col("rs")).as("r"))
      .groupBy(col("b"), col("sz_b"), col("r")).agg(count(lit(1)).as("inter"))
    bestMatch(inter
      .join(index.sizes.select(col("doc_id").as("r"), col("sz").as("sz_r")), "r")
      .withColumn("jaccard", col("inter").cast("double") /
        (col("sz_b") + col("sz_r") - col("inter")))
      .filter(col("jaccard") >= MinJaccard)
      .select(col("b").as("doc_id"), col("r").as("dup_of"), col("jaccard")))
  }

  // q33 is oracle-able even though Spark shuffles grams as xxhash64
  // values: the hash only RENAMES grams (collisions are negligible), so
  // df-cap, per-doc sizes, intersections and Jaccard values computed
  // over gram STRINGS in DuckDB are identical. Same tokenizer semantics
  // both sides: space-only trim, then split on \s+ (a leading tab
  // yields a leading empty token in both engines).
  /** q33's pair frame WITHOUT the final threshold filter — the shared
    * base for q33 (>= 0.8) and q102's calibration histogram over every
    * candidate pair.
    *
    * MATERIALIZED on `grams` and `kg`: duckdb inlines plain CTEs per
    * reference — `grams` feeds kept+kg and `kg` feeds sizes plus BOTH
    * self-join sides, so the un-hinted plan re-ran the document scan +
    * token-list lateral SIX times (EXPLAIN-counted, r16). At gate SF
    * that is waste; at the 500k-doc sf10 probe each expansion holds a
    * ~50 GB wide intermediate and the query either exhausts RAM or
    * fills the volume with spill. Materialized, the expansion runs once
    * into a compact (doc_id, g) table and every consumer reads that.
    */
  private val Q33BaseSql: String =
      raw"""WITH toks AS (
           |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
           |),
           |grams AS MATERIALIZED (
           |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
           |  FROM toks, UNNEST(range(1, len(t)-1)) AS r(i)
           |  WHERE len(t) >= 3
           |),
           |kept AS (SELECT g FROM grams GROUP BY g HAVING count(*) BETWEEN 2 AND $DfCap),
           |kg AS MATERIALIZED (SELECT doc_id, g FROM grams JOIN kept USING (g)),
           |sizes AS (SELECT doc_id, count(*) AS sz FROM kg GROUP BY doc_id),
           |inter AS (
           |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
           |  FROM kg x JOIN kg y ON x.g = y.g AND x.doc_id < y.doc_id
           |  GROUP BY 1, 2
           |)
           |SELECT a, b, CAST(i AS DOUBLE)/(sa.sz + sb.sz - i) AS jaccard
           |FROM inter
           |JOIN sizes sa ON sa.doc_id = a
           |JOIN sizes sb ON sb.doc_id = b""".stripMargin

  /** The q128/q132 oracles' shared CTE stack (q45's recursive closure
    * + the n_chars member frame) — ONE definition mirroring
    * [[neardupMembers]], so the two oracles cannot fork either.
    * Interpolate inside a `WITH RECURSIVE ...` that appends the
    * query-specific CTEs after it.
    */
  private lazy val NeardupMembersCtes: String =
    s"""pairs AS MATERIALIZED (
       |  SELECT a, b FROM ($Q33Sql)
       |),
       |sym AS MATERIALIZED (
       |  SELECT a AS s, b AS d FROM pairs
       |  UNION ALL
       |  SELECT b, a FROM pairs
       |),
       |reach(s, d) AS (
       |  SELECT s, d FROM sym
       |  UNION
       |  SELECT r.s, p.d FROM reach r JOIN sym p ON r.d = p.s
       |),
       |lab AS MATERIALIZED (
       |  SELECT s AS doc_id, least(s, min(d)) AS cluster
       |  FROM reach GROUP BY s
       |),
       |m AS MATERIALIZED (
       |  SELECT l.cluster, l.doc_id, CAST(d.n_chars AS BIGINT) AS n_chars
       |  FROM lab l JOIN documents d ON l.doc_id = d.doc_id
       |)""".stripMargin

  private val Q33Sql: String =
    s"""SELECT * FROM ($Q33BaseSql)
       |WHERE jaccard >= 0.8""".stripMargin

  def oracles: Map[String, String] = Map(
    "q30_dedup_exact" ->
      """SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY text""".stripMargin,

    // Same plant (power(10, k) is an exact double through the BIGINT
    // cast for k ≤ 7), groups keyed by text directly (the accepted
    // 128-bit-fingerprint equivalence of every exact-dedup oracle),
    // same digit-count bucketing via the decimal rendering.
    "q139_dup_spread" ->
      raw"""WITH d AS (
           |  SELECT doc_id, text FROM documents WHERE text IS NOT NULL
           |  UNION ALL
           |  SELECT doc_id + CAST(power(10, doc_id % 6 + 1) AS BIGINT), text
           |  FROM documents WHERE text IS NOT NULL AND doc_id % 41 = 0),
           |g AS (
           |  SELECT count(*) AS n_copies,
           |         max(doc_id) - min(doc_id) AS span
           |  FROM d GROUP BY text HAVING count(*) >= 2)
           |SELECT CAST(length(CAST(span AS VARCHAR)) AS BIGINT)
           |    AS span_digits,
           |  count(*) AS n_groups, CAST(sum(n_copies) AS BIGINT) AS n_docs,
           |  CAST(min(span) AS BIGINT) AS min_span,
           |  CAST(max(span) AS BIGINT) AS max_span
           |FROM g GROUP BY 1""".stripMargin,

    // Same echo derivation, same q46 md5-bucket split, groups keyed by
    // text directly (the accepted 128-bit-fingerprint equivalence of
    // every exact-dedup oracle); `//` floors like `div` on the
    // non-negative operands; BIGINT casts because hugeint sums render
    // as float64 in the compare. MATERIALIZED pins shared CTEs to one
    // evaluation.
    "q123_split_leakage" ->
      raw"""WITH d AS MATERIALIZED (
           |  SELECT doc_id, text FROM documents WHERE text IS NOT NULL
           |  UNION ALL
           |  SELECT doc_id + 10000000, text FROM documents
           |  WHERE text IS NOT NULL AND doc_id % 7 = 0),
           |s AS MATERIALIZED (
           |  SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
           |         ELSE 'test' END AS split, text
           |  FROM (SELECT ('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
           |                 1, 8))::BIGINT % 100 AS b, text FROM d)),
           |g AS MATERIALIZED (
           |  SELECT sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
           |           AS n_train,
           |         sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS n_val,
           |         sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS n_test
           |  FROM s GROUP BY text),
           |one AS MATERIALIZED (
           |  SELECT sum(n_val) AS d_val, sum(n_test) AS d_test,
           |    sum(CASE WHEN n_train > 0 AND n_val > 0 THEN 1 ELSE 0 END)
           |      AS g_tv,
           |    sum(CASE WHEN n_train > 0 AND n_val > 0 THEN n_val ELSE 0 END)
           |      AS l_tv,
           |    sum(CASE WHEN n_train > 0 AND n_test > 0 THEN 1 ELSE 0 END)
           |      AS g_tt,
           |    sum(CASE WHEN n_train > 0 AND n_test > 0 THEN n_test
           |        ELSE 0 END) AS l_tt,
           |    sum(CASE WHEN n_val > 0 AND n_test > 0 THEN 1 ELSE 0 END)
           |      AS g_vt,
           |    sum(CASE WHEN n_val > 0 AND n_test > 0 THEN n_test ELSE 0 END)
           |      AS l_vt
           |  FROM g)
           |SELECT 'train' AS earlier, 'val' AS later,
           |  CAST(g_tv AS BIGINT) AS shared_groups,
           |  CAST(l_tv AS BIGINT) AS leaked_docs,
           |  CAST(d_val AS BIGINT) AS later_docs,
           |  CAST((1000000 * l_tv) // d_val AS BIGINT) AS leaked_ppm FROM one
           |UNION ALL
           |SELECT 'train', 'test', CAST(g_tt AS BIGINT), CAST(l_tt AS BIGINT),
           |  CAST(d_test AS BIGINT), CAST((1000000 * l_tt) // d_test AS BIGINT)
           |FROM one
           |UNION ALL
           |SELECT 'val', 'test', CAST(g_vt AS BIGINT), CAST(l_vt AS BIGINT),
           |  CAST(d_test AS BIGINT), CAST((1000000 * l_vt) // d_test AS BIGINT)
           |FROM one""".stripMargin,

    // Same interleaved-echo derivation, groups keyed by text directly
    // (the exact-dedup oracle equivalence), same q121 ceil-division
    // checkpoint arithmetic and left-triangle cumulative; the dup_ppm
    // CASE mirrors the Spark side's n_docs = 0 guard. MATERIALIZED pins
    // shared CTEs to one evaluation; BIGINT casts because hugeint sums
    // render as float64 in the compare. Identity caveat (accepted, the
    // exactSurvivors convention): Spark groups by (xxhash64(text),
    // length(text)) while this oracle groups by text — a 64-bit-hash+
    // length collision between distinct texts would merge groups only
    // on the Spark side. Negligible at any corpus that fits a cluster
    // (~n^2/2^65 per length class), same trade q30/q101 document.
    "q124_dup_growth" ->
      raw"""WITH d AS MATERIALIZED (
           |  SELECT doc_id * 2 AS doc_id, text FROM documents
           |  WHERE text IS NOT NULL
           |  UNION ALL
           |  SELECT doc_id * 2 + 1, text FROM documents
           |  WHERE text IS NOT NULL AND doc_id % 7 = 0),
           |h AS MATERIALIZED (SELECT max(doc_id) AS max_id FROM d),
           |g AS MATERIALIZED (
           |  SELECT min(doc_id) AS first_id FROM d GROUP BY text),
           |nb AS MATERIALIZED (
           |  SELECT greatest(1, (10 * first_id + max_id - 1) // max_id)
           |           AS bk,
           |         count(*) AS c
           |  FROM g, h GROUP BY 1),
           |db AS MATERIALIZED (
           |  SELECT greatest(1, (10 * doc_id + max_id - 1) // max_id)
           |           AS bk,
           |         count(*) AS c
           |  FROM d, h GROUP BY 1),
           |spine AS (SELECT unnest(generate_series(1, 10)) AS k),
           |nd AS (SELECT s.k, CAST(coalesce(sum(db.c), 0) AS BIGINT)
           |         AS n_docs
           |       FROM spine s LEFT JOIN db ON db.bk <= s.k GROUP BY s.k),
           |ng AS (SELECT s.k, CAST(coalesce(sum(nb.c), 0) AS BIGINT)
           |         AS n_groups
           |       FROM spine s LEFT JOIN nb ON nb.bk <= s.k GROUP BY s.k)
           |SELECT CAST(nd.k AS BIGINT) AS checkpoint, n_docs, n_groups,
           |       n_docs - n_groups AS dup_docs,
           |       CAST(CASE WHEN n_docs = 0 THEN 0
           |            ELSE (1000000 * (n_docs - n_groups)) // n_docs
           |       END AS BIGINT) AS dup_ppm
           |FROM nd JOIN ng USING (k)""".stripMargin,

    // q30's GROUP BY text collapsed one level further; the scalar
    // subquery is the Spark side's 1-row broadcast total
    "q118_dup_histogram" ->
      """WITH g AS (SELECT count(*) AS n_copies FROM documents GROUP BY text)
        |SELECT n_copies, count(*) AS n_groups,
        |  CAST(n_copies * count(*) AS BIGINT) AS n_docs,
        |  CAST(round(CAST(n_copies * count(*) AS DOUBLE) * 1e6
        |    / (SELECT count(*) FROM documents), 0) AS BIGINT)
        |    AS doc_share_ppm
        |FROM g GROUP BY n_copies""".stripMargin,

    // content identity = text directly (hash renames, the q30/q53
    // convention); self-join with src_a < src_b mirrors the in-group
    // sorted-pair expansion; containment in ppm (scale-0 rounding).
    // `docs` replays the driver query's in-pipeline planting (mirror +
    // rotated-source re-emission of every doc_id % 37 == 0 doc) so the
    // gate checks a non-empty matrix at every scale; MATERIALIZED pins
    // evaluation count (the r16 CTE-inlining lesson).
    "q115_source_dup_matrix" ->
      """WITH docs AS MATERIALIZED (
        |  SELECT text, source FROM documents
        |  UNION ALL
        |  SELECT text, 'mirror' AS source FROM documents WHERE doc_id % 37 = 0
        |  UNION ALL
        |  SELECT text, 'src' || CAST((doc_id // 37) % 20 AS VARCHAR) AS source
        |  FROM documents WHERE doc_id % 37 = 0),
        |st AS MATERIALIZED (
        |  SELECT DISTINCT text, source FROM docs
        |  WHERE text IS NOT NULL AND source IS NOT NULL),
        |sizes AS (SELECT source, count(*) AS n FROM st GROUP BY source),
        |pairs AS (
        |  SELECT x.source AS src_a, y.source AS src_b, count(*) AS shared
        |  FROM st x JOIN st y ON x.text = y.text AND x.source < y.source
        |  GROUP BY 1, 2)
        |SELECT p.src_a, p.src_b, CAST(p.shared AS BIGINT) AS n_shared_texts,
        |  CAST(round(CAST(p.shared AS DOUBLE) * 1e6 / least(a.n, b.n), 0)
        |    AS BIGINT) AS containment_ppm
        |FROM pairs p
        |JOIN sizes a ON p.src_a = a.source
        |JOIN sizes b ON p.src_b = b.source""".stripMargin,
    // Positional gram space over strings (xxhash64 only renames grams);
    // non-distinct grams in `grams` (one row per position), distinct-doc
    // df for the >= 2 docs filter.
    // gram strings stand in for the xxhash64 longs (the q33/q69
    // convention); shared/min(|A|,|B|) is int/int — exact cross-engine
    "q96_source_overlap" ->
      raw"""WITH toks AS (
           |  SELECT source, string_split_regex(trim(text), '\s+') AS t
           |  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL),
           |grams AS (
           |  SELECT DISTINCT source, list_aggregate(t[i:i+15], 'string_agg', ' ') AS g
           |  FROM toks, UNNEST(range(1, len(t) - 14)) AS r(i)
           |  WHERE len(t) >= 16),
           |sizes AS (SELECT source, count(*) AS n FROM grams GROUP BY source),
           |pairs AS (
           |  SELECT x.source AS src_a, y.source AS src_b, count(*) AS shared
           |  FROM grams x JOIN grams y ON x.g = y.g AND x.source < y.source
           |  GROUP BY 1, 2)
           |SELECT src_a, src_b, CAST(shared AS BIGINT) AS shared,
           |  round(CAST(shared AS DOUBLE) / least(sa.n, sb.n), 6) AS overlap
           |FROM pairs
           |JOIN sizes sa ON sa.source = src_a
           |JOIN sizes sb ON sb.source = src_b""".stripMargin,

    // Same gram-string convention; arg_min(source, mindoc) is tie-free
    // because doc ids are globally unique (min over a source's docs of a
    // given gram differs across sources); counts and the single rounded
    // ratio are integer-derived — exact cross-engine.
    "q98_gram_novelty" ->
      raw"""WITH toks AS (
           |  SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS t
           |  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL),
           |grams AS (
           |  SELECT doc_id, source, list_aggregate(t[i:i+15], 'string_agg', ' ') AS g
           |  FROM toks, UNNEST(range(1, len(t) - 14)) AS r(i)
           |  WHERE len(t) >= 16),
           |gs AS (SELECT g, source, min(doc_id) AS mindoc FROM grams GROUP BY 1, 2),
           |per AS (SELECT source, count(*) AS n_spans FROM gs GROUP BY source),
           |own AS (SELECT arg_min(source, mindoc) AS osrc, count(*) AS nsrc
           |        FROM gs GROUP BY g),
           |ownagg AS (
           |  SELECT osrc, count(*) AS n_owned,
           |    sum(CASE WHEN nsrc = 1 THEN 1 ELSE 0 END) AS n_exclusive
           |  FROM own GROUP BY osrc)
           |SELECT p.source, CAST(p.n_spans AS BIGINT) AS n_spans,
           |  CAST(coalesce(o.n_owned, 0) AS BIGINT) AS n_owned,
           |  CAST(coalesce(o.n_exclusive, 0) AS BIGINT) AS n_exclusive,
           |  round(CAST(coalesce(o.n_owned, 0) AS DOUBLE) / p.n_spans, 6)
           |    AS novelty
           |FROM per p LEFT JOIN ownagg o ON o.osrc = p.source""".stripMargin,

    // Groups by the text itself (the hash key is a Spark-side shuffle
    // discipline, not a semantic); removal tests compare each doc_id
    // against the group keeper / the source's first copy directly — no
    // keeper-source election needed (the Spark side's min_by keeper_src
    // is just its in-group spelling of the same doc_id comparison);
    // every output is integer-derived except the one rounded division
    "q101_dedup_savings" ->
      raw"""WITH per AS (
           |  SELECT doc_id, source, text,
           |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
           |      AS n_tok
           |  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL),
           |k AS (SELECT text, min(doc_id) AS keeper FROM per GROUP BY text),
           |fs AS (SELECT text, source, min(doc_id) AS first_here
           |       FROM per GROUP BY text, source),
           |j AS (
           |  SELECT p.source, p.n_tok,
           |    CASE WHEN p.doc_id = k.keeper THEN 0 ELSE 1 END AS rem,
           |    CASE WHEN p.doc_id = f.first_here THEN 0 ELSE 1 END AS remw
           |  FROM per p
           |  JOIN k ON p.text = k.text
           |  JOIN fs f ON p.text = f.text AND p.source = f.source)
           |SELECT source, count(*) AS n_docs,
           |  CAST(sum(rem) AS BIGINT) AS n_removed,
           |  CAST(sum(remw) AS BIGINT) AS removed_within,
           |  CAST(sum(rem) - sum(remw) AS BIGINT) AS removed_cross,
           |  CAST(sum(n_tok) AS BIGINT) AS tokens_total,
           |  CAST(sum(CASE WHEN rem = 1 THEN n_tok ELSE 0 END) AS BIGINT)
           |    AS tokens_removed,
           |  round(CAST(sum(CASE WHEN rem = 1 THEN n_tok ELSE 0 END) AS DOUBLE)
           |    / sum(n_tok), 6) AS savings
           |FROM j GROUP BY source""".stripMargin,

    "q69_dup_spans" ->
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
           |        FROM grams JOIN shared USING (g) GROUP BY doc_id)
           |SELECT p.doc_id, CAST(p.n_grams AS BIGINT) AS n_grams,
           |  CAST(coalesce(d.n_dup, 0) AS BIGINT) AS n_dup,
           |  round(CAST(coalesce(d.n_dup, 0) AS DOUBLE) / p.n_grams, 6)
           |    AS dup_ratio
           |FROM perdoc p LEFT JOIN dup d USING (doc_id)""".stripMargin,
    // Same dup-position space (1-based here, 0-based in Spark — the
    // coverage predicate p <= i < p+16 is index-base-invariant); a token
    // is kept iff no duplicated span covers it; kept tokens re-join with
    // single spaces in input order.
    "q70_strip_spans" ->
      raw"""WITH toks AS (
           |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
           |  FROM documents WHERE text IS NOT NULL),
           |grams AS (
           |  SELECT doc_id, i AS p, list_aggregate(t[i:i+15], 'string_agg', ' ') AS g
           |  FROM toks, UNNEST(range(1, len(t) - 14)) AS r(i)
           |  WHERE len(t) >= 16),
           |shared AS (
           |  SELECT g FROM (SELECT DISTINCT doc_id, g FROM grams)
           |  GROUP BY g HAVING count(*) >= 2),
           |dpos AS (SELECT doc_id, p FROM grams JOIN shared USING (g)),
           |tk AS (
           |  SELECT doc_id, i, t[i] AS tok
           |  FROM toks, UNNEST(range(1, len(t) + 1)) AS r(i)),
           |kept AS (
           |  SELECT tk.doc_id, tk.i, tk.tok FROM tk
           |  WHERE NOT EXISTS (SELECT 1 FROM dpos d
           |                    WHERE d.doc_id = tk.doc_id
           |                      AND d.p <= tk.i AND tk.i < d.p + 16)),
           |agg AS (
           |  SELECT doc_id, count(*) AS n_kept,
           |    string_agg(tok, ' ' ORDER BY i) AS text_clean
           |  FROM kept GROUP BY doc_id)
           |SELECT s.doc_id, CAST(len(s.t) AS BIGINT) AS n_tok,
           |  CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
           |  coalesce(a.text_clean, '') AS text_clean
           |FROM toks s LEFT JOIN agg a USING (doc_id)""".stripMargin,
    "q33_ngram_jaccard" -> Q33Sql,

    // Q33Sql's pair stream + the same distinct-flagged-doc join and
    // left-joined zero fold; `//` floors like `div` on the non-negative
    // operands; BIGINT casts for the hugeint render trap. MATERIALIZED
    // pins the pair CTE to one evaluation.
    "q142_neardup_by_source" ->
      s"""WITH pairs AS MATERIALIZED (SELECT a, b FROM ($Q33Sql)),
         |flagged AS (
         |  SELECT DISTINCT doc_id FROM (
         |    SELECT a AS doc_id FROM pairs
         |    UNION ALL SELECT b FROM pairs)),
         |dup AS (
         |  SELECT d.source, count(*) AS nd
         |  FROM flagged f JOIN documents d ON f.doc_id = d.doc_id
         |  GROUP BY d.source),
         |tot AS (
         |  SELECT source, count(*) AS n_docs FROM documents
         |  WHERE text IS NOT NULL GROUP BY source)
         |SELECT t.source, CAST(t.n_docs AS BIGINT) AS n_docs,
         |  CAST(coalesce(dup.nd, 0) AS BIGINT) AS n_dup_docs,
         |  CAST((1000000 * coalesce(dup.nd, 0)) // t.n_docs AS BIGINT)
         |    AS dup_ppm
         |FROM tot t LEFT JOIN dup ON t.source = dup.source""".stripMargin,

    // Q33BaseSql's gram space verbatim (strings where Spark shuffles
    // xxhash64 renames — df counts identical modulo negligible 64-bit
    // collisions; unlike q33, a collision here would shift n_grams /
    // a digit bucket directly rather than just perturbing a candidate
    // set — the gramsOf caveat applies, accepted as the same risk
    // class), digit buckets via the decimal rendering (the q139
    // convention), BIGINT casts for the hugeint-to-float64 render trap.
    "q141_gram_df_spectrum" ->
      raw"""WITH toks AS (
           |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
           |  FROM documents),
           |grams AS MATERIALIZED (
           |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
           |  FROM toks, UNNEST(range(1, len(t)-1)) AS r(i)
           |  WHERE len(t) >= 3),
           |d AS (SELECT g, count(*) AS df FROM grams GROUP BY g)
           |SELECT CAST(length(CAST(df AS VARCHAR)) AS BIGINT) AS df_digits,
           |  count(*) AS n_grams, CAST(sum(df) AS BIGINT) AS n_postings,
           |  CAST(min(df) AS BIGINT) AS min_df,
           |  CAST(max(df) AS BIGINT) AS max_df
           |FROM d GROUP BY 1""".stripMargin,

    // Same plant (every 97th doc's LAST 40 tokens as a quote at
    // doc_id + 2^41), same df-capped gram space as Q33BaseSql but over
    // the planted union, same floored-ppm integer arithmetic (`//`
    // floors like `div` on these non-negative operands). MATERIALIZED
    // pins the shared CTEs to one evaluation (the q119/q102 inlining
    // lesson). The hash only renames grams on the Spark side — df-cap,
    // sizes, intersections over gram STRINGS here are identical.
    "q134_containment" ->
      raw"""WITH docs2 AS MATERIALIZED (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT doc_id + 2199023255552 AS doc_id,
           |    array_to_string(t[greatest(len(t) - 39, 1):len(t)], ' ')
           |      AS text
           |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
           |        FROM documents
           |        WHERE text IS NOT NULL AND doc_id % 97 = 0)),
           |toks AS (
           |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
           |  FROM docs2),
           |grams AS MATERIALIZED (
           |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
           |  FROM toks, UNNEST(range(1, len(t)-1)) AS r(i)
           |  WHERE len(t) >= 3),
           |kept AS (SELECT g FROM grams GROUP BY g
           |         HAVING count(*) BETWEEN 2 AND $DfCap),
           |kg AS MATERIALIZED (SELECT doc_id, g FROM grams JOIN kept USING (g)),
           |sizes AS (SELECT doc_id, count(*) AS sz FROM kg GROUP BY doc_id),
           |inter AS (
           |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
           |  FROM kg x JOIN kg y ON x.g = y.g AND x.doc_id < y.doc_id
           |  GROUP BY 1, 2)
           |SELECT a, b,
           |  CAST((1000000 * i) // least(sa.sz, sb.sz) AS BIGINT)
           |    AS contain_ppm,
           |  CAST((1000000 * i) // (sa.sz + sb.sz - i) AS BIGINT)
           |    AS jaccard_ppm
           |FROM inter
           |JOIN sizes sa ON sa.doc_id = a
           |JOIN sizes sb ON sb.doc_id = b
           |WHERE (1000000 * i) // least(sa.sz, sb.sz) >= 900000""".stripMargin,
    // Same base pair frame, threshold-free; bin = floor(j*20) on the
    // identical IEEE double; a doc counts once at its best pair's bin;
    // cumulatives via the same tiny bin×bin upper-triangle join.
    // MATERIALIZED: binned is referenced three times (perbin + both
    // docmax arms) and duckdb would otherwise inline — i.e. re-evaluate —
    // the whole gram pipeline per reference; at the 500k-doc sf10 probe
    // that tripled a ~25 s pipeline into a 70 GB disk spill (measured
    // r16: single-reference Q33 consumers ran 25 s while this one filled
    // the volume). The hint pins the tiny pair frame as the boundary.
    "q102_jaccard_calib" ->
      s"""WITH binned AS MATERIALIZED (
         |  SELECT a, b, CAST(floor(jaccard * 20) AS BIGINT) AS bin
         |  FROM ($Q33BaseSql)),
         |perbin AS (SELECT bin, count(*) AS n_pairs FROM binned GROUP BY bin),
         |docmax AS (
         |  SELECT d, max(bin) AS bin FROM (
         |    SELECT a AS d, bin FROM binned
         |    UNION ALL SELECT b, bin FROM binned) GROUP BY d),
         |docbin AS (SELECT bin, count(*) AS nd FROM docmax GROUP BY bin),
         |bins AS (
         |  SELECT coalesce(p.bin, d.bin) AS bin,
         |    coalesce(p.n_pairs, 0) AS n_pairs, coalesce(d.nd, 0) AS nd
         |  FROM perbin p FULL JOIN docbin d ON p.bin = d.bin)
         |SELECT x.bin, CAST(x.bin AS DOUBLE) / 20 AS lo,
         |  CAST(x.n_pairs AS BIGINT) AS n_pairs,
         |  CAST(sum(y.n_pairs) AS BIGINT) AS cum_pairs,
         |  CAST(sum(y.nd) AS BIGINT) AS cum_docs
         |FROM bins x JOIN bins y ON y.bin >= x.bin
         |GROUP BY x.bin, x.n_pairs""".stripMargin,
    // Connected components as transitive closure: fine at oracle SF where
    // components are tiny (the Spark side is the scalable label
    // propagation). min over the reachable set includes the doc itself
    // via any 2-cycle, but least() covers the general case.
    // MATERIALIZED (the q102 note): pairs feeds both sym arms and sym
    // feeds the recursion's base AND step — inlined, the gram pipeline
    // re-evaluates per reference per iteration (the r16 sf10 probe run
    // hit the disk floor at 295 s); materialized, the recursion walks a
    // small edge table.
    "q45_dedup_clusters" ->
      s"""WITH RECURSIVE pairs AS MATERIALIZED (
         |  SELECT a, b FROM ($Q33Sql)
         |),
         |sym AS MATERIALIZED (
         |  SELECT a AS s, b AS d FROM pairs
         |  UNION ALL
         |  SELECT b, a FROM pairs
         |),
         |reach(s, d) AS (
         |  SELECT s, d FROM sym
         |  UNION
         |  SELECT r.s, p.d FROM reach r JOIN sym p ON r.d = p.s
         |)
         |SELECT s AS doc_id, least(s, min(d)) AS cluster,
         |       s = least(s, min(d)) AS is_canonical
         |FROM reach GROUP BY s""".stripMargin,
    // Q33Sql's pairs labeled by the q46/q123 md5-prefix split arithmetic
    // on BOTH pair sides (a pure id function — the oracle joins the
    // label frame only because SQL has no map-side column reuse; the
    // Spark side computes it in place), oriented earlier→later by the
    // train<val<test rank, distinct later docs per split pair, ppm
    // against the later split's size. BIGINT casts for hugeint sums.
    "q130_fuzzy_leakage" ->
      s"""WITH p AS MATERIALIZED (
         |  SELECT a, b FROM ($Q33Sql)
         |),
         |sp AS MATERIALIZED (
         |  SELECT doc_id,
         |    CASE WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
         |                1, 8))::BIGINT % 100 < 80 THEN 'train'
         |         WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
         |                1, 8))::BIGINT % 100 < 90 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM documents WHERE text IS NOT NULL),
         |o AS (
         |  SELECT CASE WHEN ra < rb THEN sa ELSE sb END AS earlier,
         |         CASE WHEN ra < rb THEN sb ELSE sa END AS later,
         |         CASE WHEN ra < rb THEN b ELSE a END AS later_doc
         |  FROM (
         |    SELECT p.a, p.b, x.split AS sa, y.split AS sb,
         |      CASE x.split WHEN 'train' THEN 0 WHEN 'val' THEN 1
         |           ELSE 2 END AS ra,
         |      CASE y.split WHEN 'train' THEN 0 WHEN 'val' THEN 1
         |           ELSE 2 END AS rb
         |    FROM p JOIN sp x ON p.a = x.doc_id
         |           JOIN sp y ON p.b = y.doc_id)
         |  WHERE sa <> sb),
         |l AS (
         |  SELECT earlier, later, count(*) AS n_pairs,
         |         count(DISTINCT later_doc) AS leaked_docs
         |  FROM o GROUP BY 1, 2),
         |d AS (SELECT split AS later, count(*) AS later_docs
         |      FROM sp GROUP BY 1)
         |SELECT earlier, later, CAST(n_pairs AS BIGINT) AS n_pairs,
         |  CAST(leaked_docs AS BIGINT) AS leaked_docs,
         |  CAST(later_docs AS BIGINT) AS later_docs,
         |  CAST((1000000 * leaked_docs) // later_docs AS BIGINT)
         |    AS leaked_ppm
         |FROM l JOIN d USING (later)""".stripMargin,

    // q45's recursive closure composed with the q92 row_number mirror:
    // same pair CTEs, same cluster label (least over the reachable set),
    // then per-cluster election ordered (n_chars DESC, doc_id ASC) —
    // the deterministic total order ArgMaxTieMin implements. BIGINT
    // casts because hugeint window sums render as float64 in the
    // compare.
    "q128_neardup_reps" ->
      s"""WITH RECURSIVE $NeardupMembersCtes,
         |r AS (
         |  SELECT cluster, doc_id, n_chars,
         |    row_number() OVER (PARTITION BY cluster
         |                       ORDER BY n_chars DESC, doc_id) AS rn,
         |    count(*) OVER (PARTITION BY cluster) AS n_members,
         |    sum(n_chars) OVER (PARTITION BY cluster) AS tot_chars
         |  FROM m
         |)
         |SELECT cluster, CAST(n_members AS BIGINT) AS n_members,
         |  doc_id AS rep_doc_id, n_chars AS rep_chars,
         |  CAST(tot_chars - n_chars AS BIGINT) AS drop_chars
         |FROM r WHERE rn = 1""".stripMargin,
    // q128's CTEs with the rn=1 rep joined back to every member instead
    // of reported once per cluster.
    "q132_rep_remap" ->
      s"""WITH RECURSIVE $NeardupMembersCtes,
         |r AS (
         |  SELECT cluster, doc_id,
         |    row_number() OVER (PARTITION BY cluster
         |                       ORDER BY n_chars DESC, doc_id) AS rn
         |  FROM m
         |),
         |rep AS (SELECT cluster, doc_id AS rep_doc_id FROM r WHERE rn = 1)
         |SELECT m.doc_id, m.cluster, rep.rep_doc_id,
         |  m.doc_id = rep.rep_doc_id AS keep
         |FROM m JOIN rep USING (cluster)""".stripMargin
    // q31/q32: minhash/simhash signatures are xxhash64-valued on BOTH
    // sides of the comparison (the hash defines the signature, not just a
    // shuffle key) — not reproducible in DuckDB; rows-only + ScalaTest
    // with planted dups.
    ,
    // The union of both sides IS the documents table (parity split), so
    // the gram space and df-cap match Q33Sql exactly; only the pair
    // orientation + per-increment argmax are added. Tie-break (jaccard
    // DESC, dup_of ASC) mirrors the Spark window.
    "q62_incr_dedup" ->
      s"""SELECT doc_id, dup_of, jaccard FROM (
         |  SELECT doc_id, dup_of, jaccard,
         |    row_number() OVER (PARTITION BY doc_id
         |                       ORDER BY jaccard DESC, dup_of ASC) AS rn
         |  FROM (
         |    SELECT CASE WHEN a % 2 = 1 THEN a ELSE b END AS doc_id,
         |           CASE WHEN a % 2 = 1 THEN b ELSE a END AS dup_of,
         |           jaccard
         |    FROM ($Q33Sql)
         |    WHERE a % 2 <> b % 2))
         |WHERE rn = 1""".stripMargin
  )
}
