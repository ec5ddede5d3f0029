package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Superseded spellings of declared queries, each restated verbatim from
  * before its rewrite and defined only here: the restructure
  * differentials pin each rewrite against them, and `graft.Probe ab`
  * times them against the current query. [[byName]] binds them to a
  * corpus dir: `*_r14` is q31 before pairsOnce, `*_r20` the spellings
  * before round 21 (23dcfdb~1), `*_r21` the plant unions before round 22
  * (2e59c7b), and `q31_nomat` the current q31 without its checkpoint.
  */
object LegacySpellings {

  // Dedup's minhash permutation family (values pinned by DedupSpec
  // differentials; P = 2^31 - 1)
  private val P = 2147483647L
  private def permMul(i: Int): Long = (1000003L * (2 * i + 1)) % P

  /** The pre-r21 aggregate signatures: explode grams, pmod, one min per
    * permutation, checkpointed; with their LSH band keys. */
  private def aggSigs(docs: DataFrame): (DataFrame, Seq[Column]) = {
    val hashed = docs
      .select(col("doc_id"), explode(array_distinct(
        graft.functions.TextFunctions.hashedGrams(Dedup.tokens, 3))).as("g"))
      .select(col("doc_id"), pmod(col("g"), lit(P)).as("h"))
    val minCols = (0 until Dedup.NumHashes).map(i =>
      min(pmod(col("h") * permMul(i), lit(P))).as(s"m$i"))
    val sigs = Materialize(
      hashed.groupBy(col("doc_id")).agg(minCols.head, minCols.tail: _*))
    val bandKeys = (0 until Dedup.NumHashes / Dedup.BandRows).map(b =>
      hash((b * Dedup.BandRows until (b + 1) * Dedup.BandRows)
        .map(i => col(s"m$i")): _*))
    (sigs, bandKeys)
  }

  /** pairsOnce over a packed `sig` payload, est by the fused matcher. */
  private def packedPairs(sigs: DataFrame, bandKeys: Seq[Column]): DataFrame =
    Dedup.pairsOnce(sigs, "doc_id", bandKeys, Dedup.BucketCap, payload = Seq("sig"))
      .withColumn("est_jaccard",
        graft.functions.VectorFunctions
          .longArrayMatches(col("a_sig"), col("b_sig"))
          .cast("double") / Dedup.NumHashes)
      .filter(col("est_jaccard") >= 0.5)
      .select(col("a"), col("b"), col("est_jaccard"))

  /** r14 q31: narrow bucketPairs + distinct() + a signature join-back per
    * side, est as a 16-term when-chain. */
  def q31R14(docs: DataFrame): DataFrame = {
    val (sigs, bandKeys) = aggSigs(docs)
    val banded = sigs.select(col("doc_id"),
      posexplode(array(bandKeys: _*)).as(Seq("band", "bucket")))
    val pairs = Dedup.bucketPairs(banded, Seq("band", "bucket"), Dedup.BucketCap)
    def side(n: String) = sigs.select(col("doc_id").as(n) +:
      (0 until Dedup.NumHashes).map(i => col(s"m$i").as(s"$n$i")): _*)
    pairs.join(side("a"), "a").join(side("b"), "b")
      .withColumn("est_jaccard",
        (0 until Dedup.NumHashes).map(i =>
          when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
          .reduce(_ + _).cast("double") / Dedup.NumHashes)
      .filter(col("est_jaccard") >= 0.5)
      .select(col("a"), col("b"), col("est_jaccard"))
  }

  /** Pre-r21 q31: aggregate signatures, packed, through pairsOnce. */
  def q31R20(docs: DataFrame): DataFrame = {
    val (sigs, bandKeys) = aggSigs(docs)
    packedPairs(sigs.withColumn("sig",
      array((0 until Dedup.NumHashes).map(i => col(s"m$i")): _*)), bandKeys)
  }

  /** Current q31 WITHOUT the Materialize checkpoint: the sigs frame is
    * recomputed by each pairsOnce consumer (ReuseExchange/AQE decide). */
  def q31NoMat(docs: DataFrame): DataFrame = {
    val sigs = docs.select(col("doc_id"), Dedup.rowMinhashSig.as("sig"))
      .filter(element_at(col("sig"), 1) =!= Dedup.SigSentinel)
    packedPairs(sigs, Dedup.rowBandKeys(col("sig")))
  }

  /** Pre-r21 q03: flat join then one aggregate. */
  def q03R20(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 2)
    def d2(c: Column): Column = c.cast(dec)
    orders.join(lineitem, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(d2(col("l_extendedprice")) * d2(lit(1.0) - col("l_discount")))
          .cast("double").as("revenue"))
  }

  /** Pre-r21 q121 bigrams: the zip_with(slice, slice) lambda over
    * filter(_ =!= "") tokens, as (doc_id, w1, w2) rows of non-NULL text. */
  def q121BigramsR20(live: DataFrame): DataFrame = {
    val filtered = filter(Dedup.tokens, t => t =!= "")
    live
      .select(col("doc_id"), filtered.as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(zip_with(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
  }

  /** Pre-r21 q121: vocabGrowth over the [[q121BigramsR20]] bigrams. */
  def q121R20(docs: DataFrame): DataFrame = {
    val checkpoints = 10
    val session = docs.sparkSession
    val live = docs.filter(col("text").isNotNull)
    val horizon = live.agg(max(col("doc_id")).as("max_id"))
    def bucket(idCol: String) = Sampling.checkpointOf(idCol, checkpoints)
    def firstBuckets(first: DataFrame) = first
      .crossJoin(broadcast(horizon))
      .groupBy(bucket("first_id").as("bk")).agg(count(lit(1)).as("c"))
    val tokenBuckets = firstBuckets(live
      .select(col("doc_id"), explode(Dedup.tokens).as("tok"))
      .groupBy(col("tok")).agg(min(col("doc_id")).as("first_id")))
    val bigramBuckets = firstBuckets(q121BigramsR20(live)
      .groupBy(col("w1"), col("w2"))
      .agg(min(col("doc_id")).as("first_id")))
    val docBuckets = live
      .select(col("doc_id")).crossJoin(broadcast(horizon))
      .groupBy(bucket("doc_id").as("bk")).agg(count(lit(1)).as("c"))
    def cum(buckets: DataFrame, as: String) =
      Sampling.cumOverSpine(session, checkpoints, buckets, as)
    cum(docBuckets, "n_docs")
      .join(cum(tokenBuckets, "vocab"), Seq("k"))
      .join(cum(bigramBuckets, "bigram_types"), Seq("k"))
      .select(col("k").as("checkpoint"), col("n_docs"), col("vocab"),
        col("bigram_types"))
  }

  /** Pre-r21 q133: two separately-filtered md5 halves through the
    * two-frame qualityDrift. */
  def q133R20(docs: DataFrame): DataFrame = {
    val half = pmod(
      TextAnalysis.md5Prefix(col("doc_id").cast("string")), lit(2L))
    val a = docs.filter(half === 0)
    val b = docs.filter(half =!= 0)
      .withColumn("text",
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" x x x x x x x x")))
          .otherwise(col("text")))
    Snapshot.qualityDrift(a, b)
  }

  /** Pre-r21 q39: size(regexp_extract_all(...)) spellings. */
  def q39R20(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(Dedup.tokens).cast("long").as("ws_tokens"),
      size(expr("regexp_extract_all(text, '[a-z]+', 0)")).cast("long")
        .as("alpha_tokens"),
      size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
        .cast("long").as("bpeish_tokens"))

  /** Pre-r21 q103: piiProfile with size(regexp_extract_all) counts. */
  def q103R20(docs: DataFrame): DataFrame = {
    def countOf(pat: String): Column =
      size(regexp_extract_all(col("text"), lit(pat), lit(0))).cast("long")
    docs
      .filter(col("text").isNotNull && col("source").isNotNull)
      .select(col("source"),
        countOf(Pii.Email).as("e"), countOf(Pii.Phone).as("p"),
        countOf(Pii.Ipv4).as("i"), countOf(Pii.LongId).as("l"),
        size(Dedup.tokens).cast("long").as("n_tok"))
      .withColumn("tot", col("e") + col("p") + col("i") + col("l"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("tot") > 0, 1L).otherwise(0L)).cast("long")
          .as("n_docs_pii"),
        sum(col("e")).cast("long").as("n_email"),
        sum(col("p")).cast("long").as("n_phone"),
        sum(col("i")).cast("long").as("n_ipv4"),
        sum(col("l")).cast("long").as("n_longid"),
        sum(col("tot")).cast("long").as("n_pii"),
        sum(col("n_tok")).cast("long").as("sum_tokens"))
      .select(col("source"), col("n_docs"), col("n_docs_pii"),
        col("n_email"), col("n_phone"), col("n_ipv4"), col("n_longid"),
        col("n_pii"), col("sum_tokens"),
        round(col("n_docs_pii").cast("double") / col("n_docs"), 6)
          .as("pii_rate"),
        round(col("n_pii").cast("double") * 1000 / col("sum_tokens"), 6)
          .as("pii_per_ktok"))
  }

  /** Pre-r22 q115: the table unioned with two planted re-scans. */
  def q115R21(docs: DataFrame): DataFrame = {
    val planted = docs.filter(col("doc_id") % 37 === 0)
    Dedup.sourceDupMatrix(docs.select(col("text"), col("source"))
      .unionByName(planted.select(col("text"), lit("mirror").as("source")))
      .unionByName(planted.select(col("text"),
        concat(lit("src"), (expr("doc_id div 37") % 20).cast("string"))
          .as("source"))))
  }

  /** Pre-r22 q123: the table unioned with an echo re-scan. */
  def q123R21(documents: DataFrame): DataFrame = {
    val docs = documents.select(col("doc_id"), col("text"))
    Dedup.splitLeakage(docs.unionByName(
      docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))))
  }

  /** Pre-r22 q124: the table unioned with an echo re-scan. */
  def q124R21(documents: DataFrame): DataFrame = {
    val docs = documents.select(col("doc_id"), col("text"))
    Dedup.dupGrowth(docs.select((col("doc_id") * 2).as("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") * 2 + 1).as("doc_id"), col("text"))))
  }

  /** Pre-r22 q139: the table unioned with a power-of-ten echo re-scan. */
  def q139R21(documents: DataFrame): DataFrame = {
    val docs = documents.select(col("doc_id"), col("text"))
    val copies = docs
      .filter(col("text").isNotNull && col("doc_id") % 41 === 0)
      .select((col("doc_id") +
        pow(lit(10.0), (col("doc_id") % 6 + 1).cast("double"))
          .cast("long")).as("doc_id"), col("text"))
    Dedup.dupSpread(docs.unionByName(copies))
  }

  private def onDocs(f: DataFrame => DataFrame): (SparkSession, String) => DataFrame =
    (s, dir) => f(Tables.documents(s, dir))

  /** Every spelling above, bound to a corpus dir, by A/B name. */
  val byName: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q31_r14" -> onDocs(q31R14),
    "q31_r20" -> onDocs(q31R20),
    "q31_nomat" -> onDocs(q31NoMat),
    "q03_r20" -> ((s, dir) => q03R20(Tables.orders(s, dir), Tables.lineitem(s, dir))),
    "q121_r20" -> onDocs(q121R20),
    "q133_r20" -> onDocs(q133R20),
    "q39_r20" -> onDocs(q39R20),
    "q103_r20" -> onDocs(q103R20),
    "q115_r21" -> onDocs(q115R21),
    "q123_r21" -> onDocs(q123R21),
    "q124_r21" -> onDocs(q124R21),
    "q139_r21" -> onDocs(q139R21))
}
