package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SamplingSpec extends SparkSpec {

  test("q46: split is deterministic, content-stable under corpus growth") {
    val small = docsDir((1L to 50L).map(i => (i, s"doc $i")))
    val big   = docsDir((1L to 200L).map(i => (i, s"doc $i")))
    def assignments(dir: String): Map[Long, String] =
      Sampling.queries("q46_train_split")(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getString(2)).toMap
    val a = assignments(small); val b = assignments(big)
    // every doc of the small corpus keeps its split inside the larger one
    a.foreach { case (id, split) => assert(b(id) === split, s"doc $id moved") }
    // all three splits are populated at 200 docs
    assert(b.values.toSet === Set("train", "val", "test"))
  }

  test("q47: exact ceil(n/10) per stratum, deterministic membership") {
    val rows = (1L to 37L).map(i => (i, s"text $i"))
    val s = spark
    import s.implicits._
    val dir = graft.TestSpark.tempDir("graft_strat")
    // two strata of different sizes: 25 en, 12 fr
    rows.toDF("doc_id", "text")
      .withColumn("lang", when(col("doc_id") <= 25, "en").otherwise("fr"))
      .selectExpr("doc_id", "text", "lang", "'t' as source", "length(text) as n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Sampling.queries("q47_stratified_sample")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val byLang = got.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byLang === Map("en" -> 3, "fr" -> 2)) // ceil(25/10), ceil(12/10)
    // deterministic: same call yields the same members
    val again = Sampling.queries("q47_stratified_sample")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSet === again.toSet)
  }

  test("q47: two-phase plan equals the stratum-wide window on skewed strata") {
    val s = spark
    import s.implicits._
    // heavily skewed strata incl. a singleton and a NULL stratum —
    // exercises the driver-side cutoff walk (first-bucket cutoff,
    // remainder-only strata) and the null-safe cutoff join (a NULL
    // stratum is its own window partition, not dropped)
    val df = ((1L to 400L).map(i => (i, "en")) ++
      (401L to 430L).map(i => (i, "fr")) ++ Seq((431L, "xx")) ++
      (432L to 450L).map(i => (i, null.asInstanceOf[String])))
      .toDF("doc_id", "lang")
    def windowRef = df
      .withColumn("h", expr("cast(conv(substring(md5(cast(doc_id as string)),1,8),16,10) as long)"))
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("lang")
          .orderBy(col("h").asc, col("doc_id").asc)))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("lang")))
      .filter(col("rn") <= ceil(col("n") / 10.0))
      .select("doc_id", "lang")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    val ref = windowRef
    val got = Sampling.stratifiedExact(df, "lang", "doc_id", 10)
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    assert(got === ref)
    assert(got.count(_._2.contains("en")) === 40)
    assert(got.count(_._2.contains("fr")) === 3)
    assert(got.count(_._2.contains("xx")) === 1)
    assert(got.count(_._2.isEmpty) === 2) // ceil(19/10)
    // force the hierarchical refinement (maxWindowRows=1 -> every cutoff
    // bucket refines until the hash range is exhausted): same result set
    val refined = Sampling.stratifiedExact(df, "lang", "doc_id", 10,
      bucketBits = 4, maxWindowRows = 1)
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    assert(refined === ref)
  }

  test("q59 mixSample: binding stratum whole, others hash-downsampled, unweighted dropped") {
    val s = spark
    import s.implicits._
    // lang a: 20 docs × 100 chars = 2000; lang b: 80 × 100 = 8000
    // weights 50/50 → T = min(4000, 16000) = 4000 → rate a = 1, b = 0.25
    val docs = ((1 to 20).map(i => (i.toLong, "a")) ++
      (21 to 100).map(i => (i.toLong, "b")))
      .map { case (id, l) => (id, l, s"src${id % 3}", 100L) }
      .toDF("doc_id", "lang", "source", "n_chars")
    val w = Map("a" -> 0.5, "b" -> 0.5)
    val out = Sampling.mixSample(docs, w).collect()
    val byLang = out.groupBy(_.getString(1))
    assert(byLang("a").length === 20) // binding stratum kept whole
    val nb = byLang.get("b").map(_.length).getOrElse(0)
    assert(nb > 0 && nb < 80) // strictly downsampled, not emptied
    // selection follows the shared md5-prefix rule, recomputed independently
    def md5hex(v: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(v.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val kept = byLang("b").map(_.getLong(0)).toSet
    (21 to 100).foreach { id =>
      val h = java.lang.Long.parseLong(md5hex(id.toString).substring(0, 8), 16)
      assert(kept.contains(id.toLong) === (h.toDouble < 0.25 * 4294967296.0),
        s"doc $id membership diverges from the hash rule")
    }
    // deterministic across runs
    assert(Sampling.mixSample(docs, w).collect().map(_.getLong(0)).sorted
      .sameElements(out.map(_.getLong(0)).sorted))
    // a stratum without a weight is excluded entirely
    val onlyA = Sampling.mixSample(docs, Map("a" -> 1.0))
    assert(onlyA.select("lang").distinct().collect().map(_.getString(0)).toSeq === Seq("a"))
    // unachievable mixtures fail fast instead of silently skewing/emptying
    assertThrows[IllegalArgumentException](
      Sampling.mixSample(docs, Map("a" -> 0.5, "xx" -> 0.5))) // absent stratum
    assertThrows[IllegalArgumentException](
      Sampling.mixSample(docs, Map("a" -> 0.5, "b" -> 0.0))) // nonpositive weight
    val zeroMass = docs.withColumn("n_chars",
      when(col("lang") === "b", 0L).otherwise(col("n_chars")))
    assertThrows[IllegalArgumentException](
      Sampling.mixSample(zeroMass, w)) // weighted stratum with zero mass
  }

  test("q79 importanceSample: Bernoulli(p) by content hash, growth-stable") {
    import spark.implicits._
    def docs(n: Int) = (0 until n).map { i =>
      // diversity varies by construction: doc i repeats one word i%4+1
      // times then pads with distinct words
      val rep = Seq.fill(i % 4 + 1)("again")
      val distinct = (0 until 8).map(j => s"w${i}_$j")
      (i.toLong, (rep ++ distinct).mkString(" "))
    }.toDF("doc_id", "text")
    val small = Sampling.importanceSample(docs(50)).collect()
      .map(r => r.getLong(0)).toSet
    val grown = Sampling.importanceSample(docs(200)).collect()
      .map(r => r.getLong(0)).toSet
    // growth stability: the original docs' keep decisions never flip
    assert((grown & (0L until 50L).toSet) === small)
    // p = 1 docs (all-distinct AND >= 20 words) are always kept: u < 1
    // by construction
    val allDistinct = (0 until 30)
      .map(i => (i.toLong, (0 until 25).map(j => s"u${i}_$j").mkString(" ")))
      .toDF("doc_id", "text")
    assert(Sampling.importanceSample(allDistinct).count() === 30)
    // the length damper: empty/one-word docs are LOW-probability, never
    // certain keeps (bare uniq_ratio would invert the quality preference)
    val junk = (100 until 200)
      .map(i => (i.toLong, if (i % 2 == 0) "" else "word"))
      .toDF("doc_id", "text")
    val keptJunk = Sampling.importanceSample(junk).count()
    assert(keptJunk < 20, s"$keptJunk junk docs kept (p should be 0.05)")
    // kept docs carry their (p, u) evidence with u < p
    Sampling.importanceSample(docs(100)).collect().foreach { r =>
      assert(r.getDouble(2) < r.getDouble(1) + 1e-6, r.toString)
    }
  }

  test("q81 vocabIds: frequency-ranked contiguous ids, lexicographic ties, minCount clip") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat ran"),
      (3L, "a hapax appears once"),
      (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = Sampling.vocabIds(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._3)
    // the:3, cat:2, everything else hapax (clipped by minCount=2)
    assert(got.toSeq === Seq(("the", 3L, 0L), ("cat", 2L, 1L)))
    // tie order is lexicographic: equal counts rank by token
    val tied = Seq((1L, "bb aa bb aa")).toDF("doc_id", "text")
    val ids = Sampling.vocabIds(tied).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(ids === Map("aa" -> 0L, "bb" -> 1L))
  }

  test("q48: vocabulary stats on a hand-checked corpus") {
    val dir = docsDir(Seq((1L, "a b a"), (2L, "b c")))
    // docsDir writes lang='en' for all docs
    val r = Sampling.queries("q48_vocab_stats")(spark, dir).collect()(0)
    assert(r.getString(0) === "en")
    assert(r.getLong(1) === 5L) // tokens: a b a b c
    assert(r.getLong(2) === 3L) // vocab: a b c
    assert(r.getDouble(3) === 1.0)
  }

  test("q93 domainMix: hand-checked α=0.5 weights — head damped, tail boosted") {
    val s = spark
    import s.implicits._
    // source a: 16 tokens across 2 docs; source b: 4 tokens in 1 doc.
    // sqrt sums: 4 + 2 = 6 (folded in source order a, b).
    val docs = Seq(
      (1L, "w w w w w w w w", "a"),
      (2L, "w w w w w w w w", "a"),
      (3L, "w w w w", "b")).toDF("doc_id", "text", "source")
    val r = Sampling.domainMix(docs).collect()
      .map(x => x.getString(0) -> (x.getLong(1), x.getLong(2),
        x.getDouble(3), x.getDouble(4), x.getDouble(5))).toMap
    // share 16/20 = 0.8, weight 4/6, boost (4/6)/0.8 — head damped < 1
    assert(r("a") === ((2L, 16L, 0.8, 0.666667, 0.833333)))
    // share 0.2, weight 2/6, boost (2/6)/0.2 — tail boosted > 1
    assert(r("b") === ((1L, 4L, 0.2, 0.333333, 1.666667)))
  }

  test("q93 domainMix: an all-NULL-text source must not poison the denominator") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "w w w w w w w w", "a"),
      (2L, "w w w w w w w w", "a"),
      (3L, "w w w w", "b"),
      (4L, null.asInstanceOf[String], "ghost")).toDF("doc_id", "text", "source")
    val rows = Sampling.domainMix(docs).collect()
      .map(x => x.getString(0) -> x).toMap
    // the live sources keep the same finite weights as without "ghost"
    // (its sqrt(NULL) term is skipped, matching the oracle's NULL-skipping
    // ordered sum), and ghost's own weight stays NULL on both engines
    assert(rows("a").getDouble(4) === 0.666667)
    assert(rows("b").getDouble(4) === 0.333333)
    assert(rows("ghost").isNullAt(4))
  }

  test("q99 mixPlan: rates, caps, and deficits at the half-corpus budget") {
    val s = spark
    import s.implicits._
    // token masses A=64 B=16 C=4 -> denom 8+4+2, budget (84)*0.5 = 42
    val docs = (
      (1 to 4).map(i => (i.toLong, ("w " * 16).trim, "A")) ++
      Seq((5L, ("w " * 16).trim, "B"), (6L, ("w " * 4).trim, "C")))
      .toDF("doc_id", "text", "source")
    val r = Sampling.mixPlan(docs).collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getDouble(2),
        x.getDouble(3), x.getLong(4), x.getInt(5), x.getLong(6)))).toMap
    // expected values via the SAME double expression order as the op
    val denom = math.sqrt(64.0) + math.sqrt(16.0) + math.sqrt(4.0)
    def exp(tok: Double) = {
      val w = math.sqrt(tok) / denom
      val target = w * (84.0 * 0.5)
      val rate = math.min(1.0, target / tok)
      (BigDecimal(w).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(rate).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        math.floor(rate * tok).toLong,
        if (target >= tok) 1 else 0,
        math.floor(math.max(0.0, target - tok)).toLong)
    }
    val (wa, ra, ka, ca, da) = exp(64.0)
    assert(r("A") === ((64L, wa, ra, ka, ca, da)))
    assert(ca === 0 && ka < 64L)            // head source is downsampled
    val (wc, rc, kc, cc, dc) = exp(4.0)
    assert(r("C") === ((4L, wc, rc, kc, cc, dc)))
    // tail source: budget wants more than it has -> capped, deficit > 0
    assert(rc === 1.0 && cc === 1 && kc === 4L && dc > 0L)
  }

  test("q121: hand-walked growth curve — clamped id 0, NULL-excluded horizon, empty checkpoints") {
    import spark.implicits._
    // max_id = 10 over live docs (doc 11 is NULL text — excluded from
    // the horizon too), so checkpoint k = doc_id, with doc 0 clamped
    // into k=1. Firsts: z@0, a@1 -> k1; b and the only bigram (b a)@5
    // -> k5; c@10 -> k10. Checkpoints 2-4 and 6-9 mint nothing and
    // must still emit their cumulative rows via the spine.
    val docs = (Seq((0L, "z"), (5L, "b a"), (10L, "c"),
      (11L, null.asInstanceOf[String])) ++
      (1L to 4L).map(i => (i, "a")) ++ (6L to 9L).map(i => (i, "a")))
      .toDF("doc_id", "text")
    val got = Sampling.vocabGrowth(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got.keySet === (1L to 10L).toSet)
    (1L to 10L).foreach { k =>
      val vocab = if (k >= 10) 4L else if (k >= 5) 3L else 2L
      val bigrams = if (k >= 5) 1L else 0L
      assert(got(k) === ((k + 1, vocab, bigrams)), s"checkpoint $k")
    }
  }

  test("q121 driver query matches a naive local derivation at sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val rows = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .flatMap(r => Option(r.getString(1)).map(t => (r.getLong(0), t)))
    val maxId = rows.map(_._1).max
    def k(id: Long) = math.max(1L, (10 * id + maxId - 1) / maxId)
    val toks = rows.map { case (id, t) => (id, t.trim.split("\\s+").toSeq) }
    def firsts[A](occ: Seq[(A, Long)]): Map[Long, Long] =
      occ.groupBy(_._1).values.map(o => k(o.map(_._2).min))
        .groupBy(identity).map { case (b, o) => b -> o.size.toLong }
    val uniB = firsts(toks.flatMap { case (id, t) => t.map(_ -> id) }.toSeq)
    val bigB = firsts(toks.flatMap { case (id, t) =>
      val f = t.filter(_.nonEmpty)
      f.zip(f.tail).map(_ -> id)
    }.toSeq)
    val docB = rows.map(r => k(r._1)).groupBy(identity)
      .map { case (b, o) => b -> o.size.toLong }
    def cum(m: Map[Long, Long], upTo: Long) =
      m.filter(_._1 <= upTo).values.sum
    val got = graft.SparkEntry.queries("q121_vocab_growth")(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    (1L to 10L).foreach { c =>
      assert(got(c) === ((cum(docB, c), cum(uniB, c), cum(bigB, c))),
        s"checkpoint $c")
    }
  }

  test("q125 mixDrift: hand-walked TV — floored ppm, absent-source fold, empty slices omitted") {
    val s = spark
    import s.implicits._
    // max_id = 10 → k = doc_id (0 never occurs here). Source B appears
    // only in slice 10: slices 1-9 must fold B's corpus share through
    // P_total − cov without materializing a (slice, B) row.
    val docs = ((1L to 9L).map(i => (i, "A")) :+ ((10L, "B")))
      .toDF("doc_id", "source")
    val got = Sampling.mixDrift(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // corpus ppm: A 900000, B 100000. A pure-A slice:
    // |10⁶ − 900000| + fold(100000) = 200000 → tv 100000; the B slice:
    // |10⁶ − 100000| + fold(900000) = 1800000 → tv 900000 (= the true
    // TV between {B: 1} and {A: .9, B: .1})
    (1L to 9L).foreach(k => assert(got(k) === ((1L, 100000L)), s"k=$k"))
    assert(got(10L) === ((1L, 900000L)))
    // a slice minting no docs has no distribution to score — no row
    val sparse = Seq((1L, "A"), (10L, "A")).toDF("doc_id", "source")
    val ks = Sampling.mixDrift(sparse).collect().map(_.getLong(0)).toSet
    assert(ks === Set(1L, 10L))
  }

  test("q125 driver query: planted late-intake drift vs a naive derivation (fold exercised)") {
    val dir = "/root/testdata/sf0.001"
    val rows = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val maxId = rows.map(_._1).max
    // the in-pipeline plant: last ~20% of intake, every 5th doc → 'dump'
    val drift = rows.map { case (id, src) =>
      (id, if ((10 * id) / maxId >= 8 && id % 5 == 0) "dump" else src)
    }
    def k(id: Long) = math.max(1L, (10 * id + maxId - 1) / maxId)
    val n = drift.size.toLong
    val srcPpm = drift.groupBy(_._2)
      .map { case (s0, o) => s0 -> 1000000L * o.size / n }
    val pTotal = srcPpm.values.sum
    val exp = drift.groupBy(x => k(x._1)).map { case (kk, o) =>
      val nk = o.size.toLong
      val counts = o.groupBy(_._2).map { case (s0, g) => s0 -> g.size.toLong }
      val terms = counts.map { case (s0, c) =>
        math.abs(1000000L * c / nk - srcPpm(s0)) }.sum
      // .toSeq: mapping a key SET through srcPpm would collapse equal
      // ppm values and under-count cov
      kk -> ((nk, (terms + pTotal - counts.keys.toSeq.map(srcPpm).sum) / 2))
    }
    val got = graft.SparkEntry.queries("q125_mix_drift")(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === exp)
    // the plant guarantees real drift (late slices diverge more) and an
    // absent source in the early slices (the fold path actually fires)
    assert(got(10L)._2 > got(1L)._2)
    assert(drift.filter(x => k(x._1) <= 7).forall(_._2 != "dump"))
  }

  test("q125 seeded fuzz: mixDrift matches a naive local derivation on random skewed mixes") {
    val s = spark
    import s.implicits._
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      // skewed source draw (square the uniform) + sparse ids: exercises
      // absent sources per slice, clamping, and omitted empty slices
      val n = 40 + rnd.nextInt(60)
      val ids = rnd.shuffle((0L until 300L).toList).take(n)
      val rows = ids.map(id =>
        (id, "s" + (rnd.nextDouble() * rnd.nextDouble() * 5).toInt))
      val maxId = rows.map(_._1).max
      def k(id: Long) = math.max(1L, (10 * id + maxId - 1) / maxId)
      val srcPpm = rows.groupBy(_._2)
        .map { case (s0, o) => s0 -> 1000000L * o.size / n }
      val pTotal = srcPpm.values.sum
      val exp = rows.groupBy(x => k(x._1)).map { case (kk, o) =>
        val nk = o.size.toLong
        val counts = o.groupBy(_._2).map { case (s0, g) => s0 -> g.size.toLong }
        val terms = counts.map { case (s0, c) =>
          math.abs(1000000L * c / nk - srcPpm(s0)) }.sum
        val cov = counts.keys.toSeq.map(srcPpm).sum
        kk -> ((nk, (terms + pTotal - cov) / 2))
      }
      val got = Sampling.mixDrift(rows.toDF("doc_id", "source")).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(got === exp, s"seed $seed")
      // invariant: TV lives in [0, 1e6] by construction
      assert(got.values.forall(v => v._2 >= 0L && v._2 <= 1000000L), s"seed $seed")
    }
  }
}
