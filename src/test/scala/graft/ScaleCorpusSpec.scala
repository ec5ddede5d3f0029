package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** [[ScaleCorpus]] derives the 10x bench corpus the OFFICIAL gate runs
  * on (round-13 verdict item #1), so its invariants are load-bearing:
  * exact 10x replication, id remaps that keep every modular contract
  * the queries rely on, schema identity with the source, and a marker
  * protocol that reuses a current corpus but never trusts a stale or
  * half-written one. Derivation here runs on sf0.001 (seconds); the
  * rules are scale-free.
  */
class ScaleCorpusSpec extends SparkSpec {
  private val src = "/root/testdata/sf0.001"

  private lazy val out: String = {
    val dir = TestSpark.tempDir("graft_scale")
    ScaleCorpus.derive(spark, src, dir)
    dir
  }

  test("every table is derived; facts are exactly Replicas x source rows") {
    for (t <- ScaleCorpus.tables) {
      val n0 = spark.read.parquet(s"$src/$t.parquet").count()
      val n1 = spark.read.parquet(s"$out/$t.parquet").count()
      val factor =
        if (ScaleCorpus.CopyTables.contains(t)) 1 else ScaleCorpus.Replicas
      assert(n1 === n0 * factor, s"$t: $n0 source rows -> $n1 derived")
    }
  }

  test("schema is preserved exactly (offsets must not widen id columns)") {
    for (t <- ScaleCorpus.tables)
      assert(spark.read.parquet(s"$out/$t.parquet").schema ===
        spark.read.parquet(s"$src/$t.parquet").schema, s"$t schema drift")
  }

  test("remapped ids are disjoint across replicas (counts stay distinct)") {
    for ((t, shifts) <- ScaleCorpus.Remap; (c, _) <- shifts.take(1)) {
      val d0 = spark.read.parquet(s"$src/$t.parquet")
        .agg(countDistinct(col(c))).head.getLong(0)
      val d1 = spark.read.parquet(s"$out/$t.parquet")
        .agg(countDistinct(col(c))).head.getLong(0)
      assert(d1 === d0 * ScaleCorpus.Replicas,
        s"$t.$c: $d0 distinct -> $d1 (replica overlap?)")
    }
  }

  test("doc_id mod-20 slice share is preserved per replica (q49-family contract)") {
    val share0 = spark.read.parquet(s"$src/documents.parquet")
      .agg(avg(when(col("doc_id") % 20 === 0, 1.0).otherwise(0.0)))
      .head.getDouble(0)
    val share1 = spark.read.parquet(s"$out/documents.parquet")
      .agg(avg(when(col("doc_id") % 20 === 0, 1.0).otherwise(0.0)))
      .head.getDouble(0)
    assert(math.abs(share0 - share1) < 1e-12,
      s"doc_id%20==0 share drifted: $share0 -> $share1")
  }

  test("vec_id parity split is preserved (q110's even/odd snapshot halves)") {
    def evenShare(dir: String): Double =
      spark.read.parquet(s"$dir/embeddings.parquet")
        .agg(avg(when(col("vec_id") % 2 === 0, 1.0).otherwise(0.0)))
        .head.getDouble(0)
    assert(math.abs(evenShare(src) - evenShare(out)) < 1e-12)
  }

  test("texts are exact content duplicates (dedup stress, not new data)") {
    val d0 = spark.read.parquet(s"$src/documents.parquet")
      .agg(countDistinct(col("text"))).head.getLong(0)
    val d1 = spark.read.parquet(s"$out/documents.parquet")
      .agg(countDistinct(col("text"))).head.getLong(0)
    assert(d1 === d0, "replication must not perturb text content")
  }

  test("probe plant: replicas 0..9 byte-identical, k >= 10 plants the tail") {
    val dir = TestSpark.tempDir("graft_scale_pl")
    ScaleCorpus.derive(spark, src, dir, replicas = 12)
    val srcText = spark.read.parquet(s"$src/documents.parquet")
      .filter(col("doc_id").isin(0L, 1L, 2L))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val derived = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id").isin(0L, 1L, 2L, 45000L, 45001L, 45002L, 55000L, 55001L, 55002L))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // replica 0 and replica 9 (id 45000 = 0 + 5000*9): untouched — the
    // official 10x gate corpus is byte-identical to the v2 derivation
    assert(derived(0L) === srcText(0L))
    assert(derived(45000L) === srcText(0L))
    assert(derived(45001L) === srcText(1L))
    // replica 11 (ids 55000/55001): the shared (window 0, k=11) tail —
    // the SAME 12 pool tokens on both docs of the window, nothing else
    val tail0 = derived(55000L).stripPrefix(srcText(0L))
    val tail1 = derived(55001L).stripPrefix(srcText(1L))
    assert(tail0 === tail1, "window docs must share one tail")
    val toks = tail0.trim.split(" ")
    assert(toks.length === ScaleCorpus.PlantTailTokens, tail0)
    assert(toks.forall(t => ScaleCorpus.PlantPool.contains(t) ||
      t == ScaleCorpus.PlantMarker),
      s"tail tokens must come from the fixed pool + marker: $tail0")
    // and the tail is (window, k)-keyed: replica 10's differs
    val d10 = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") === 50000L).collect().head.getString(1)
    assert(d10.stripPrefix(srcText(0L)) !== tail0,
      "different replicas must draw different tails")
    // a doc outside the stride window is untouched even in probe replicas
    assert(derived(55002L) === srcText(2L))
    // the n_chars = length(text) source invariant survives planting —
    // v4 left stale n_chars on planted rows, which both made the corpus
    // inconsistent and reused stale n_chars-keyed fixtures (v5 fix)
    val badChars = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("text").isNotNull && length(col("text")) =!= col("n_chars"))
      .count()
    assert(badChars === 0L, s"$badChars rows with n_chars != length(text)")
    graft.Fs.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("probe plant makes the df-capped gram family non-vacuous past DfCap") {
    // the r19 verdict's vacuity hole: at 100x pure replication every
    // gram's df exceeds DfCap(50) and q33 returns 0 rows. Build the
    // plantDocs replication at x65 (planted replicas > DfCap, the probe
    // regime) directly and assert jaccardPairs returns EXACTLY the
    // planted within-window pairs at jaccard EXACTLY 1.0: original
    // grams (df = 65) and boundary grams (every planted replica of the
    // same source doc shares them — df = 55) fall PAST DfCap; the
    // window pair's kept sets are exactly their shared fine tail grams
    // (the digit-triple forms, df 2..20), so inter = sz on both sides.
    val docs = spark.read.parquet(s"$src/documents.parquet")
      .select(col("doc_id"), col("text"))
    val reps = 65
    val corpus = (0 until reps).map { k =>
      ScaleCorpus.plantDocs(docs, k)
        .withColumn("doc_id", col("doc_id") + lit(5000L * k))
    }.reduce(_.unionByName(_))
    val pairs = graft.ops.Dedup.jaccardPairs(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = (for {
      k <- ScaleCorpus.PlantFrom until reps
      w <- 0L until 500L by ScaleCorpus.PlantStride
    } yield (w + 5000L * k, w + 1 + 5000L * k, 1.0)).toSet
    assert(pairs.toSet === expected,
      s"got ${pairs.length} pairs, expected ${expected.size}")
    // the q62 straddle: every planted pair is (even, odd) by construction
    assert(expected.forall { case (a, b, _) => a % 2 == 0 && b % 2 == 1 })
  }

  test("replicas parameter: derived counts scale, marker binds the count") {
    val dir = TestSpark.tempDir("graft_scale_r3")
    ScaleCorpus.derive(spark, src, dir, replicas = 3)
    val n0 = spark.read.parquet(s"$src/documents.parquet").count()
    val n1 = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(n1 === n0 * 3)
    assert(ScaleCorpus.ready(src, dir, replicas = 3), "x3 corpus must be ready for x3")
    assert(!ScaleCorpus.ready(src, dir),
      "an x3 corpus must NOT pass the default x10 readiness check")
    graft.Fs.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("marker content verification: post-derivation corruption fails ready") {
    val dir = TestSpark.tempDir("graft_scale_cv")
    ScaleCorpus.derive(spark, src, dir, replicas = 2)
    assert(ScaleCorpus.ready(src, dir, replicas = 2))
    // delete ONE data file inside a table dir (marker + dir still exist):
    // v1's existence-only check reused this corpus forever; v2's stats
    // re-measurement must reject it
    val part = new java.io.File(s"$dir/documents.parquet").listFiles()
      .filter(f => f.isFile && !f.getName.startsWith(".") && f.getName != "_SUCCESS")
      .head
    assert(part.delete())
    assert(!ScaleCorpus.ready(src, dir, replicas = 2),
      "corpus corrupted after marker creation must not be reused")
    graft.Fs.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("offset disjointness is asserted against the source actually derived") {
    // the already-derived x10 corpus has doc_id up to max+9*5000, far
    // above the 5000 offset — re-deriving FROM it must throw loudly
    // instead of silently producing colliding replica ids
    val dir = TestSpark.tempDir("graft_scale_dj")
    val e = intercept[IllegalArgumentException] {
      ScaleCorpus.derive(spark, out, dir)
    }
    assert(e.getMessage.contains("replicas would collide"), e.getMessage)
    graft.Fs.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("derive is staged: a valid corpus is never clobbered in place, and re-derive replaces a stale one") {
    // point ensure at a STALE corpus (marker for a different replica
    // count): it must re-derive, publish atomically, and end ready
    val dir = TestSpark.tempDir("graft_scale_st")
    ScaleCorpus.derive(spark, src, dir, replicas = 2)
    assert(!ScaleCorpus.ready(src, dir, replicas = 3))
    assert(!ScaleCorpus.ensure(spark, src, dir, replicas = 3), "must re-derive")
    assert(ScaleCorpus.ready(src, dir, replicas = 3))
    // no staging/old siblings left behind
    val base = new java.io.File(dir).getName
    val leftovers = new java.io.File(dir).getParentFile.listFiles()
      .filter(f => f.getName.startsWith(base + ".staging-") ||
        f.getName.startsWith(base + ".old-"))
    assert(leftovers.isEmpty, leftovers.mkString(", "))
    graft.Fs.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("marker protocol: ready after derive, reuse in ensure, stale marker rejects") {
    assert(ScaleCorpus.ready(src, out), "fresh derivation must be ready")
    assert(ScaleCorpus.ensure(spark, src, out), "ensure must reuse, not re-derive")
    // a marker from a DIFFERENT source corpus (other sizes) must not pass
    assert(!ScaleCorpus.ready("/root/testdata/sf0.01", out),
      "marker must bind to the source corpus identity")
    // half-written corpus: marker gone -> not ready
    val marker = new java.io.File(out, "_GRAFT_SCALE_OK")
    assert(marker.delete())
    assert(!ScaleCorpus.ready(src, out), "no marker -> not ready")
  }
}
