package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** BPE merge learning (q78) — tokenizer training, the step that turns a
  * curated corpus into a vocabulary. Classic byte/char-pair-encoding
  * (Sennrich-style): repeatedly merge the most frequent adjacent symbol
  * pair, seeded from characters with an end-of-word marker.
  *
  * Scale posture: the corpus is touched ONCE — a (word, freq) partial
  * aggregation (the q48 shape) bounded by a frequency-ranked cap (the
  * word table is Zipf-distributed; the tail it drops is exactly the tail
  * BPE's counts would ignore). The merge loop then runs driver-side over
  * that compact table: numMerges × |table| work, no further cluster
  * passes. Encoding applies the learned ranks map-side via one broadcast
  * — the corpus is read once more, nothing shuffles.
  */
object Bpe {

  /** End-of-word marker (the classic `</w>` — makes suffixes positional). */
  val Eow = "</w>"

  final case class Merge(rank: Int, left: String, right: String)

  /** Trained merges in rank order plus the final segmentation of every
    * training word (exposed so consistency is testable: encoding a
    * training word MUST reproduce its training-time segmentation).
    */
  final case class Model(merges: Vector[Merge],
      segmentations: Map[String, Vector[String]]) {
    /** (left, right) -> rank, for greedy lowest-rank-first encoding. */
    val ranks: Map[(String, String), Int] =
      merges.map(m => (m.left, m.right) -> m.rank).toMap
  }

  private def symbolsOf(word: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < word.length) {
      val cp = word.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out += Eow
    out.result()
  }

  /** One merge applied left-to-right, non-overlapping. */
  private def applyMerge(sym: Vector[String], l: String, r: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < sym.length) {
      if (i + 1 < sym.length && sym(i) == l && sym(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += sym(i); i += 1 }
    }
    out.result()
  }

  /** Learn `numMerges` merges from the corpus's word-frequency table
    * (bounded to the `maxWordTable` (50,000) most frequent words; ties broken by
    * word for determinism). Merge ties break on (count desc, pair asc).
    * Stops early when no adjacent pair occurs twice.
    */
  def learn(docs: DataFrame, numMerges: Int = 200): Model = {
    val maxWordTable = 50000
    require(numMerges > 0, s"numMerges must be positive, got $numMerges")
    val freqs = docs.filter(col("text").isNotNull)
      .select(explode(TextAnalysis.words).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w").asc)
      .limit(maxWordTable)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    require(freqs.nonEmpty, "Bpe.learn: no non-empty words in corpus")

    var table: Array[(Vector[String], Long, String)] =
      freqs.map { case (w, c) => (symbolsOf(w), c, w) }
    val merges = Vector.newBuilder[Merge]
    var rank = 0
    var exhausted = false
    while (rank < numMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      table.foreach { case (sym, c, _) =>
        var i = 0
        while (i + 1 < sym.length) {
          val k = (sym(i), sym(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + c
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        val ((l, r), best) = counts.minBy { case ((a, b), c) => (-c, a, b) }
        if (best < 2) exhausted = true // merging hapax pairs adds nothing
        else {
          merges += Merge(rank, l, r)
          table = table.map { case (sym, c, w) => (applyMerge(sym, l, r), c, w) }
          rank += 1
        }
      }
    }
    Model(merges.result(), table.map { case (sym, _, w) => w -> sym }.toMap)
  }

  /** Greedy BPE encode: always apply the LOWEST-rank merge present — the
    * standard inference rule, which reproduces training segmentations for
    * training words.
    */
  def encodeWord(word: String, ranks: Map[(String, String), Int]): Vector[String] = {
    var sym = symbolsOf(word)
    var done = false
    while (!done && sym.length > 1) {
      var bestRank = Int.MaxValue
      var bi = -1
      var i = 0
      while (i + 1 < sym.length) {
        ranks.get((sym(i), sym(i + 1))).foreach { r =>
          if (r < bestRank) { bestRank = r; bi = i }
        }
        i += 1
      }
      if (bi < 0) done = true
      else sym = applyMerge(sym, sym(bi), sym(bi + 1))
    }
    sym
  }

  def encodeWord(word: String, model: Model): Vector[String] =
    encodeWord(word, model.ranks)

  /** Per-doc BPE token counts: one broadcast of the RANKS MAP ONLY (the
    * model's segmentations table is driver-side evidence — shipping it
    * would add |word table| vectors to every executor), one map-side pass
    * (per-partition encode cache — Zipf again: most words repeat within
    * a partition).
    */
  def encodeCounts(s: SparkSession, docs: DataFrame, model: Model): DataFrame = {
    import s.implicits._
    val bc = s.sparkContext.broadcast(model.ranks)
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val ranks = bc.value
        val cache = scala.collection.mutable.HashMap.empty[String, Int]
        it.map { case (id, text) =>
          // the shared JVM-side tokenizer — learn() tokenizes with the
          // TextAnalysis.words Spark expression; a locally-duplicated
          // trim/split here could drift (Java trim strips control chars
          // that SQL trim keeps)
          val words = TextAnalysis.wordsLocal(text)
          var n = 0L
          words.foreach { w =>
            n += cache.getOrElseUpdate(w, encodeWord(w, ranks).length)
          }
          (id, words.length.toLong, n)
        }
      }.toDF("doc_id", "n_words", "n_bpe_tokens")
  }

  /** Tokenizer-fertility table: per predicted language, docs / whitespace
    * words / BPE tokens and fertility = tokens per word — THE standard
    * tokenizer-evaluation metric (a language whose fertility is 2× pays
    * twice the context budget per word; the table that decides whether
    * the vocabulary needs rebalancing before a multilingual run).
    *
    * Scale: two map-side corpus passes that cannot fuse without
    * duplicating a contract — the BPE encode is a typed mapPartitions
    * (per-partition encode cache) while the language argmax is q37's
    * builtin-column pipeline ([[TextAnalysis.langPerDoc]], the single
    * definition) — joined on doc_id as THIN frames (3 longs + a 2-char
    * code; no bodies) and collapsed to a ≤|languages|-key partial agg.
    * The fertility division is one rounded double over integer-exact
    * sums.
    */
  def fertility(s: SparkSession, docs: DataFrame, model: Model): DataFrame =
    encodeCounts(s, docs, model)
      .join(TextAnalysis.langPerDoc(docs).select(col("doc_id"),
        col("pred_lang").as("lang")), "doc_id")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).cast("long").as("n_words"),
        sum(col("n_bpe_tokens")).cast("long").as("n_bpe_tokens"))
      .select(col("lang"), col("n_docs"), col("n_words"),
        col("n_bpe_tokens"),
        round(col("n_bpe_tokens").cast("double") / col("n_words"), 6)
          .as("fertility"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // The learned merge table over the documents corpus. Data-dependent
    // iterative argmax → rows-only; BpeSpec pins the algorithm against an
    // independent naive reference plus hand-checked classics.
    "q78_bpe_merges" -> ((s, dir) => {
      import s.implicits._
      val model = learn(graft.Tables.documents(s, dir), numMerges = 200)
      model.merges.map(m => (m.rank.toLong, m.left, m.right, m.left + m.right))
        .toDF("rank", "left", "right", "merged")
    }),

    // Apply the learned merges back to the corpus — the tokenize step the
    // trained vocabulary exists FOR: per-doc whitespace word count and
    // BPE token count under greedy lowest-rank-first encoding
    // ([[encodeCounts]]: one ranks-map broadcast, one map-side pass with
    // a per-partition encode cache, zero shuffles). Fixture-oracled: the
    // naive re-derivation lives in
    // [[graft.oracle.FixtureOracles.deriveQ94]].
    "q94_bpe_encode" -> ((s, dir) => {
      val docs = graft.Tables.documents(s, dir)
      encodeCounts(s, docs, learn(docs, numMerges = 200))
    }),

    // Per-language tokenizer fertility under the q78/q94 model — see
    // [[fertility]]. Fixture-oracled ([[graft.oracle.FixtureOracles
    // .deriveQ105]]: deriveQ94's counts + an independently restated
    // stopword argmax, rolled up).
    "q105_fertility" -> ((s, dir) => {
      val docs = graft.Tables.documents(s, dir)
      fertility(s, docs, learn(docs, numMerges = 200))
    }))

  def oracles: Map[String, String] = Map.empty
}
