package graft.oracle

import graft.SparkSpec

/** The fixture-oracle derivations (naive, driver-side, independent) must
  * agree EXACTLY — float bits included — with the Spark pipelines they
  * oracle, on a corpus with planted near-duplicates. This is the gate's
  * hash-compare in miniature, run before any gate does.
  */
class FixtureOraclesSpec extends SparkSpec {

  /** Planted corpus: template near-dup families (q31/q32 pairs), word
    * repetition (q78 merges), compressible + noisy docs (q82 spread),
    * plus the edge shapes: null text, empty text, tab-edged text (the
    * SQL-trim contract), a short doc below gram width.
    */
  private val corpus: Seq[(Long, String)] = {
    val base = "the quick brown fox jumps over the lazy dog while rain in spain stays mainly on the plain every day"
    val fam1 = (0 until 6).map { i =>
      (10L + i, base + " tail" + (i % 2)) // 3 identical pairs
    }
    val fam2 = (0 until 4).map { i =>
      (30L + i, ("lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod tempor " * 3) + s"suffix$i")
    }
    val rep = (0 until 5).map { i =>
      (50L + i, s"alpha beta gamma delta epsilon zeta eta theta " * (i + 2))
    }
    val misc = Seq(
      (70L, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa bbbbbbbbbb aaaa"),
      (71L, "x9 q7 zz kw pv mn qq rr ss tt uu vv ww yy"),
      (72L, null: String),
      (73L, ""),
      (74L, "\tword1 word2  word3 "),
      (75L, "one two"))
    fam1 ++ fam2 ++ rep ++ misc
  }

  /** Planted embedding corpus: 3 clone families (scaled copies → cosine
    * ≈ 1, same LSH bucket) + noise vectors, qids 0-4 present.
    */
  private val vectors: Seq[(Long, Array[Float], Int)] = {
    def v(seed: Int): Array[Float] =
      Array.tabulate(8)(i => (math.sin(seed * 37.0 + i * 5.3) * 3).toFloat)
    val clones = (0 until 3).flatMap { f =>
      (0 until 4).map(j =>
        (100L + f * 10 + j, v(f).map(x => x * (1.0f + 0.01f * j)), f))
    }
    val noise = (0L until 20L).map(i => (i, v(1000 + i.toInt), 9))
    noise ++ clones
  }

  // docsDir can't carry a null text through toDF on (Long, String) tuples
  // with length(text); write the null-bearing frame by hand instead
  private lazy val nullDir: String = {
    val d = graft.TestSpark.tempDir("graft_fx_docs")
    val s = spark
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val rows = corpus.map { case (id, t) =>
      Row(id, t, "en", "test", if (t == null) 0L else t.length.toLong)
    }
    s.createDataFrame(s.sparkContext.parallelize(rows, 2), schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    import s.implicits._
    vectors.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  private def run(name: String) =
    graft.SparkEntry.queries(name)(spark, nullDir)

  test("q82 deflate ratios: naive fresh-deflater derivation matches the pipeline bit-for-bit") {
    val got = run("q82_compress_ratio").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    val want = FixtureOracles.deriveQ82(corpus).sortBy(_._1)
    assert(got.length === corpus.count(_._2 != null))
    assert(got.toSeq === want)
  }

  test("q31 minhash pairs: naive derivation matches the pipeline (planted families found)") {
    val got = run("q31_dedup_minhash").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(p => (p._1, p._2))
    val want = FixtureOracles.deriveQ31(corpus).sortBy(p => (p._1, p._2))
    assert(got.nonEmpty, "vacuous: planted near-dups produced no q31 pairs")
    assert(got.toSeq === want)
  }

  test("q32 simhash pairs: naive derivation matches the pipeline (planted families found)") {
    val got = run("q32_dedup_simhash").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(p => (p._1, p._2))
    val want = FixtureOracles.deriveQ32(corpus).sortBy(p => (p._1, p._2))
    assert(got.nonEmpty, "vacuous: planted near-dups produced no q32 pairs")
    assert(got.toSeq === want)
  }

  test("q78 BPE merges: naive Sennrich derivation matches the pipeline merge-for-merge") {
    val got = run("q78_bpe_merges").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
      .sortBy(_._1)
    val want = FixtureOracles.deriveQ78(corpus).sortBy(_._1)
    assert(got.nonEmpty, "vacuous: corpus learned no merges")
    assert(got.toSeq === want)
  }

  test("q94 BPE encode counts: naive greedy re-encode matches the pipeline per doc") {
    val got = run("q94_bpe_encode").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val want = FixtureOracles.deriveQ94(corpus).sortBy(_._1)
    // non-vacuous: merges must actually compress — some doc's BPE count
    // strictly between its word count (all merged to single tokens) and
    // the unmerged symbol count would both be suspicious extremes
    assert(want.exists { case (_, w, t) => t > w }, "no doc with tokens > words")
    assert(got.toSeq === want)
  }

  test("q105 fertility: restated lang argmax + q94 counts match the pipeline rollup") {
    val got = run("q105_fertility").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).sortBy(_._1)
    val want = FixtureOracles.deriveQ105(corpus).sortBy(_._1)
    // non-vacuous: the corpus must actually split across languages (the
    // stopword-free misc docs argmax-tie to the first sorted language,
    // "the/of/in"-heavy docs go en) and fertility must be a real ratio
    assert(want.length >= 2, s"single-language corpus is vacuous: $want")
    assert(want.exists(_._5 > 1.0), "no language with fertility > 1")
    assert(got.toSeq === want)
  }

  test("q41 stub decode: naive crc31/stub-dims derivation matches the pipeline") {
    val got = run("q41_multimodal").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3),
        r.getInt(4), r.getLong(5), r.getLong(6))).sortBy(_._1)
    val want = FixtureOracles.deriveQ41(corpus).sortBy(_._1)
    assert(got.nonEmpty)
    assert(got.toSeq === want)
  }

  test("q42 frame samples: chunk-level derivation matches the MP4 + stub pipeline paths") {
    val got = run("q42_frame_sample").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      .sortBy(p => (p._1, p._2))
    val want = FixtureOracles.deriveQ42(corpus).sortBy(p => (p._1, p._2))
    // non-vacuous on BOTH paths: some even-id (MP4) and odd-id (stub)
    // docs must emit a beyond-first frame (stride landed past index 0)
    assert(want.exists(f => f._1 % 2 == 0 && f._2 > 0), "no multi-frame MP4 doc")
    assert(want.exists(f => f._1 % 2 == 1 && f._2 > 0), "no multi-frame stub doc")
    assert(got.toSeq === want)
  }

  test("q51 audio features: container-free PCM derivation matches the WAV pipeline bit-for-bit") {
    val got = run("q51_audio_features").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getDouble(4), r.getLong(5), r.getLong(6))).sortBy(_._1)
    val want = FixtureOracles.deriveQ51(
      corpus.map { case (id, t) => (id, if (t == null) 0L else t.length.toLong) })
      .sortBy(_._1)
    assert(got.nonEmpty)
    assert(got.toSeq === want)
  }

  test("q58 media near-dup pairs: pixel/PCM-level derivation matches the codec pipeline") {
    val got = run("q58_media_neardup").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .sortBy(p => (p._2, p._3))
    val want = FixtureOracles.deriveQ58(corpus.map(_._1)).sortBy(p => (p._2, p._3))
    // planted groups must pair in BOTH modalities
    assert(want.exists(_._1 == "image"), "no planted image near-dups found")
    assert(want.exists(_._1 == "audio"), "no planted audio near-dups found")
    assert(got.toSeq === want)
  }

  private def embBytes: Long = {
    val p = java.nio.file.Paths.get(nullDir, "embeddings.parquet")
    val l = java.nio.file.Files.list(p)
    try {
      import scala.jdk.CollectionConverters._
      l.iterator().asScala.filter { f =>
        val n = f.getFileName.toString
        java.nio.file.Files.isRegularFile(f) && !n.startsWith("_") && !n.startsWith(".")
      }.map(java.nio.file.Files.size(_)).sum
    } finally l.close()
  }

  test("q34 embedding near-dup pairs: naive banded-LSH derivation matches the pipeline") {
    val got = run("q34_embed_neardup").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(p => (p._1, p._2))
    val want = FixtureOracles.deriveQ34(
      vectors.map(t => (t._1, t._2)), embBytes).sortBy(p => (p._1, p._2))
    assert(got.nonEmpty, "vacuous: planted clone families produced no q34 pairs")
    assert(got.toSeq === want)
  }

  test("q36 LSH ANN top-k: naive multi-probe derivation matches the pipeline") {
    val got = run("q36_ann_lsh").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(p => (p._1, p._4))
    val want = FixtureOracles.deriveQ36(
      vectors.map(t => (t._1, t._2)), embBytes).sortBy(p => (p._1, p._4))
    assert(got.nonEmpty, "vacuous: no q36 results")
    assert(got.toSeq === want)
  }

  test("q43 IVF ANN: naive fit/assign/probe/rerank derivation matches the pipeline") {
    val got = run("q43_ann_ivf").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(p => (p._1, p._4))
    val want = FixtureOracles.deriveQ43(
      vectors.map(t => (t._1, t._2)), embBytes).sortBy(p => (p._1, p._4))
    assert(got.nonEmpty, "vacuous: no q43 results")
    assert(got.toSeq === want)
  }

  test("q66 semantic dedup: naive cluster+LSH derivation matches the pipeline") {
    val got = run("q66_semdedup").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(p => (p._1, p._2))
    val want = FixtureOracles.deriveQ66(
      vectors.map(t => (t._1, t._2)), embBytes).sortBy(p => (p._1, p._2))
    assert(want.nonEmpty, "vacuous: planted clone families produced no q66 pairs")
    assert(got.toSeq === want)
  }

  test("q77 PQ encode: naive codebook/encode derivation matches the pipeline bit-for-bit") {
    val got = run("q77_pq").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    val want = FixtureOracles.deriveQ77(vectors.map(t => (t._1, t._2))).sortBy(_._1)
    assert(got.nonEmpty)
    assert(got.toSeq === want)
  }

  test("q84 IVF-PQ: naive probe+ADC derivation matches the pipeline") {
    val got = run("q84_ivfpq").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(p => (p._1, p._3))
    val want = FixtureOracles.deriveQ84(
      vectors.map(t => (t._1, t._2)), embBytes).sortBy(p => (p._1, p._3))
    assert(got.nonEmpty, "vacuous: no q84 results")
    assert(got.toSeq === want)
  }

  test("q60 sampled PCA whiten: restated fit/eigen/projection matches bit-for-bit") {
    val got = run("q60_pca_whiten").collect()
      .map(r => (r.getLong(0), (1 to 8).map(r.getDouble))).sortBy(_._1)
    val want = FixtureOracles.deriveQ60(vectors.map(t => (t._1, t._2)))
      .map(t => (t._1, Seq(t._2, t._3, t._4, t._5, t._6, t._7, t._8, t._9)))
      .sortBy(_._1)
    assert(got.nonEmpty, "vacuous: no q60 results")
    assert(got.toSeq === want)
  }

  test("ensure() publishes corpus-keyed fixture dirs and oracle SQL targets them") {
    FixtureOracles.ensure(spark, nullDir)
    val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"))
    val dirs = {
      val l = java.nio.file.Files.list(tmp)
      try {
        import scala.jdk.CollectionConverters._
        l.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("graft_fx2_q")).toSet
      } finally l.close()
    }
    Seq("q31_dedup_minhash", "q32_dedup_simhash", "q78_bpe_merges",
      "q82_compress_ratio", "q41_multimodal", "q42_frame_sample",
      "q51_audio_features", "q58_media_neardup",
      "q34_embed_neardup", "q36_ann_lsh", "q43_ann_ivf", "q66_semdedup",
      "q77_pq", "q84_ivfpq", "q60_pca_whiten").foreach { q =>
      assert(dirs.exists(_.startsWith(s"graft_fx2_${q}_")), s"no fixture dir for $q")
      val sql = FixtureOracles.oracles(q)
      assert(sql.contains(s"graft_fx2_${q}_*") && sql.contains("corpus_n") &&
        sql.contains("corpus_s"), s"oracle SQL for $q misses glob or key")
    }
    // idempotent second call (publish path short-circuits on existing dirs)
    FixtureOracles.ensure(spark, nullDir)
  }

  test("emb fixtures: projected columns are duplicate-free (the DISTINCT losslessness pin)") {
    // embFixtureSql unions byte-variant fixture dirs with SELECT
    // DISTINCT, which is lossless ONLY if each fixture's projected rows
    // are unique by construction — an assumption nothing enforced (r16
    // advice). Pin it: a future fixture with legitimate duplicate
    // projected rows would be silently collapsed by the oracle, so it
    // must fail HERE first.
    FixtureOracles.ensure(spark, nullDir)
    val projections = Seq(
      "q34_embed_neardup" -> Seq("a", "b", "cos"),
      "q36_ann_lsh"       -> Seq("qid", "vec_id", "cos", "rank"),
      "q43_ann_ivf"       -> Seq("qid", "vec_id", "cos", "rank"),
      "q66_semdedup"      -> Seq("a", "b", "cos"),
      "q77_pq"            -> Seq("vec_id", "pq_code", "recon_mse"),
      "q84_ivfpq"         -> Seq("query_id", "vec_id", "rank", "adc_dist"),
      "q60_pca_whiten"    -> Seq("vec_id", "pc_0", "pc_1", "pc_2", "pc_3",
        "pc_4", "pc_5", "pc_6", "pc_7"))
    val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"))
    projections.foreach { case (q, cols) =>
      val dirs = {
        val l = java.nio.file.Files.list(tmp)
        try {
          import scala.jdk.CollectionConverters._
          l.iterator().asScala
            .filter(_.getFileName.toString.startsWith(
              s"graft_${FixtureOracles.Version}_${q}_")).toSeq
        } finally l.close()
      }
      assert(dirs.nonEmpty, s"no published fixture dir for $q")
      dirs.foreach { d =>
        val df = spark.read.parquet(d.toString)
          .select(cols.map(org.apache.spark.sql.functions.col): _*)
        val n = df.count()
        val nd = df.dropDuplicates(cols).count()
        assert(n === nd,
          s"$q fixture at $d has ${n - nd} duplicate projected rows — " +
            "the oracle's DISTINCT would silently under-count")
      }
    }
  }

  test("byte-variant eviction: stale variants go, recent ones get a grace window") {
    // a concurrent gate over a content-identical corpus in another
    // physical layout publishes under a different _b byte stamp; evicting
    // a FRESH one would break that JVM between its publish and its
    // DuckDB read, so only dirs past the grace window may be deleted
    import java.nio.file.{Files, Paths}
    val name = "q66_semdedup"
    val key = (123456L, 987654L)      // synthetic content key, no real fixture
    val keepBytes = 1111L
    val keep = FixtureOracles.embFixtureDir(name, key, keepBytes)
    val staleOld = FixtureOracles.embFixtureDir(name, key, 2222L)
    val fresh = FixtureOracles.embFixtureDir(name, key, 3333L)
    val otherKey = graft.Fs.tmpRoot.resolve(
      s"graft_${FixtureOracles.Version}_${name}_${key._1}_${key._2}1_b9")
    Seq(keep, staleOld, fresh, otherKey).foreach(Files.createDirectories(_))
    try {
      // age staleOld past the window; leave fresh at now
      Files.setLastModifiedTime(staleOld,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 2 * 60 * 60 * 1000L))
      FixtureOracles.evictOtherByteVariants(name, key, keepBytes)
      assert(Files.exists(keep), "the current variant must survive")
      assert(!Files.exists(staleOld), "a stale variant past the window must be evicted")
      assert(Files.exists(fresh), "a variant inside the grace window must survive")
      assert(Files.exists(otherKey),
        "a textually-extending DIFFERENT content key must never be touched")
    } finally Seq(keep, fresh, otherKey).foreach(p =>
      try graft.Fs.deleteTree(p) catch { case _: Throwable => () })
  }
}
