package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.{LineStats, QuantizeStats}

class CurationSpec extends SparkSpec {

  test("q52: hand-checked quantization incl. clamp, zero vector, exact recon") {
    val dir = embeddingsDir(Seq(
      1L -> Array(1.0f, -2.0f, 0.0f, 127.0f), // scale 1: exact reconstruction
      2L -> Array(0.0f, 0.0f),                // zero vector: scale 0, q = 0
      3L -> Array(1.0f, 0.001f)))             // tiny value rounds to q = 0
    val r = Curation.queries("q52_embed_quantize")(spark, dir)
      .collect().map(x => x.getLong(0) ->
        (x.getDouble(1), x.getLong(2), x.getLong(3), x.getDouble(4))).toMap
    assert(r(1L) === ((1.0, 126L, 3L, 0.0)))
    assert(r(2L) === ((0.0, 0L, 0L, 0.0)))
    val (s3, sum3, nnz3, mse3) = r(3L)
    assert(s3 === 0.007874) // round(1/127, 6)
    assert(sum3 === 127L) // x=1.0 -> q=127 (exact top of range); 0.001 -> 0
    assert(nnz3 === 1L)
    assert(mse3 <= 1.0e-6) // (1 - 127*scale)^2 ~ 0; (0.001)^2/2 rounds to 1e-6
  }

  test("QuantizeStats clamps a negative outlier to -127") {
    val s = spark
    import s.implicits._
    // maxabs comes from +10, so -10 quantizes exactly to -127 and 10 to 127
    val df = Seq((1L, Array(10.0f, -10.0f))).toDF("id", "v")
      .select(graft.functions.VectorFunctions.quantizeStats(col("v")).as("st"))
      .select(col("st.sum_q"), col("st.n_nonzero"))
    val row = df.collect()(0)
    assert(row.getLong(0) === 0L) // 127 + (-127)
    assert(row.getLong(1) === 2L)
  }

  test("q53: case/punct/whitespace variants collapse to one survivor") {
    val dir = docsDir(Seq(
      1L -> "Hello, World!",
      2L -> "hello   world",
      3L -> "HELLO\tWORLD.",
      4L -> "something else"))
    val r = Curation.queries("q53_norm_dedup")(spark, dir).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toList
    assert(r.toSet === Set((1L, 3L, 11L), (4L, 1L, 14L)))
  }

  test("q92: cluster rep is longest raw text, doc_id breaks ties, n_chars from fixture") {
    val dir = docsDir(Seq(
      1L -> "Hello, World!",   // n_chars 13 — longest raw of the cluster
      2L -> "hello   world",   // 13 too, but doc_id 1 wins the tie
      3L -> "HELLO\tWORLD.",   // 12
      4L -> "something else")) // singleton cluster: its own rep
    val r = Curation.queries("q92_cluster_reps")(spark, dir).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3))).toSet
    assert(r === Set((1L, 13L, 3L, 11L), (4L, 14L, 1L, 14L)))
  }

  test("q92: a longer raw doc beats an earlier doc_id") {
    val dir = docsDir(Seq(
      7L -> "abc def!!!", // n_chars 10 — more raw chars survive normalization's strip
      2L -> "abc def"))   // n_chars 7, lower id — must NOT win
    val r = Curation.queries("q92_cluster_reps")(spark, dir).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3))).toSet
    assert(r === Set((7L, 10L, 2L, 7L)))
  }

  test("q95: diversity buckets cross span-dup counts; short docs excluded") {
    val common = (1 to 16).map(i => s"t$i").mkString(" ") // one shared 16-window
    val dir = docsDir(Seq(
      1L -> (common + " xa"), // 17 tokens, all distinct -> bucket 9; windows [t1..t16],[t2..xa]
      2L -> (common + " xb"), // same: shares window [t1..t16] with doc 1
      3L -> (1 to 8).flatMap(i => Seq(s"c$i", s"c$i")).mkString(" "),
      // 16 tokens, 8 uniq -> ratio 0.5 -> bucket 5; 1 unshared window
      4L -> "short doc"))     // < 16 tokens: span-ineligible, excluded
    val r = Curation.queries("q95_screen_calibration")(spark, dir).collect()
      .map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3), x.getDouble(4)))).toMap
    assert(r === Map(
      9L -> ((2L, 4L, 2L, 0.5)),  // docs 1+2: 4 windows, the 2 shared ones dup
      5L -> ((1L, 1L, 0L, 0.0))))
  }

  test("q106: per-decile yield plus cumulative-from-top admission curve") {
    val dir = docsDir(Seq(
      1L -> (1 to 10).map(i => s"a$i").mkString(" "), // 10/10 uniq -> bucket 9
      2L -> "b b b b",                                // 1/4 uniq  -> bucket 2
      3L -> "c1 c1 c2 c2"))                           // 2/4 uniq  -> bucket 5
    val r = Curation.queries("q106_quality_yield")(spark, dir).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4), x.getLong(5)))).toMap
    // 18 total tokens; cumulative admits every bucket >= b; share in ppm
    assert(r === Map(
      9L -> ((1L, 10L, 1L, 10L, 555556L)),
      5L -> ((1L, 4L, 2L, 14L, 777778L)),
      2L -> ((1L, 4L, 3L, 18L, 1000000L))))
  }

  test("q111: interpolated quantiles match the closed form on 1..4") {
    // n_chars = 1,2,3,4 -> h_p = 3p: p25 -> 1.75, p50 -> 2.5, p75 -> 3.25,
    // p95 -> h=2.85 -> 3 + 0.85*(4-3) = 3.85; shipped as integer micro
    val dir = docsDir(Seq(1L -> "a", 2L -> "ab", 3L -> "abc", 4L -> "abcd"))
    val r = Curation.queries("q111_source_quantiles")(spark, dir).collect()
    assert(r.length === 1)
    val row = r(0)
    assert(row.getString(0) === "test")
    assert(row.getLong(1) === 4L)
    assert((row.getLong(2), row.getLong(3), row.getLong(4),
      row.getLong(5)) === ((1750000L, 2500000L, 3250000L, 3850000L)))
  }

  test("q111: an all-NULL group is absent, not a NULL-quantile row") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      ("a", Some(5L)), ("a", Some(7L)),
      ("b", None), ("b", None)) // source b: every value NULL
      .toDF("source", "n_chars")
    val r = Curation.quantilesByHistogram(docs, "source", "n_chars",
      Seq("p50" -> 0.5)).collect()
    assert(r.map(_.getString(0)).toSet === Set("a"))
    assert(r(0).getLong(1) === 2L) // n_vals counts only non-null values
  }

  test("q112: each stage claims exactly its planted doc, first flag wins") {
    val b = (1 to 8).map(i => s"b$i").mkString(" ") // the bench item
    val cleanPair = "orange apple pear plum kiwi fig"
    val dir = docsDir(Seq(
      20L -> b,                     // bench slice (doc_id % 20 == 0)
      1L -> cleanPair,              // survivor of the exact-dup pair
      21L -> cleanPair,             // 1_exact_dup
      3L -> b,                      // shares the 8-gram: 2_contaminated
      5L -> "s s s s s s",          // ttr 1.0 and dgr 0.75: 3_low_quality
      7L -> "contact me at a@b.co today please friends", // 4_pii
      9L -> "alpha beta gamma delta epsilon zeta"))      // 5_kept
    val r = Curation.queries("q112_screen_cascade")(spark, dir).collect()
      .map(x => (x.getString(0), x.getString(1)) ->
        ((x.getLong(2), x.getLong(3)))).toMap
    assert(r === Map(
      ("test", "1_exact_dup") -> ((1L, 6L)),
      ("test", "2_contaminated") -> ((1L, 8L)),
      ("test", "3_low_quality") -> ((1L, 6L)),
      ("test", "4_pii") -> ((1L, 7L)),
      ("test", "5_kept") -> ((2L, 12L)))) // docs 1 and 9
  }

  test("q113: keep ratios are exact long sums of least(n_tok, L), in integer ppm") {
    val dir = docsDir(Seq(
      1L -> ("w " * 200).trim, // 200 tokens: 128 survive the 128 limit
      2L -> "a b c d"))        // 4 tokens: all survive
    val r = Curation.queries("q113_truncation_yield")(spark, dir).collect()
    assert(r.length === 1)
    val row = r(0)
    assert((row.getLong(1), row.getLong(2)) === ((2L, 204L)))
    assert(row.getLong(3) === 647059L) // round((128+4)*1e6/204)
    assert(row.getLong(4) === 1000000L)
    assert(row.getLong(5) === 1000000L)
  }

  test("q97 packWaste: independent layout simulation matches per-shard stats") {
    val docs = (1L to 40L).map(i => (i, ("w " * (1 + (i % 7)).toInt).trim))
    val dir = docsDir(docs)
    val budget = 8
    val got = Curation.packWaste(
      graft.Tables.documents(spark, dir), budget, nShards = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getLong(6), r.getLong(7)))).toMap
    // reference: replay the layout rules (md5-prefix shard + order) in
    // plain JVM code and fold the packs sequentially
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(id: Long): Long = java.lang.Long.parseLong(
      md.digest(id.toString.getBytes("UTF-8"))
        .take(4).map(b => f"$b%02x").mkString, 16)
    val want = docs.map { case (id, t) => (id, h(id), t.split(" ").length.toLong) }
      .groupBy { case (_, hh, _) => hh % 2 }
      .map { case (shard, rows) =>
        var off = 0L; var splits = 0L; var frags = 0L
        rows.sortBy { case (id, hh, _) => (hh, id) }.foreach { case (_, _, n) =>
          val first = off / budget; val last = (off + n - 1) / budget
          if (last > first) splits += 1
          frags += last - first + 1
          off += n
        }
        val packs = (off + budget - 1) / budget
        shard -> ((rows.size.toLong, off, packs, packs * budget - off,
          // Spark round(): HALF_UP on the shortest-decimal form
          java.math.BigDecimal.valueOf(off.toDouble / (packs * budget))
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue(),
          splits, frags))
      }
    assert(want.values.map(_._6).sum > 0, "vacuous: no doc straddles a boundary")
    assert(got === want)
  }

  test("QuantizeStats treats NULL elements as 0, matching the oracle coalesce") {
    val s = spark
    import s.implicits._
    val row = Seq(1L).toDF("id")
      .selectExpr("array(cast(10.0 as float), cast(null as float), cast(-10.0 as float)) as v")
      .select(graft.functions.VectorFunctions.quantizeStats(col("v")).as("st"))
      .select(col("st.scale"), col("st.sum_q"), col("st.n_nonzero"), col("st.mse"))
      .collect()(0)
    assert(row.getDouble(0) === 10.0 / 127.0)
    assert(row.getLong(1) === 0L) // 127 + 0 + (-127)
    assert(row.getLong(2) === 2L) // the null slot quantizes to 0
    assert(row.getDouble(3) === 0.0)
  }

  test("q55: line filter keeps prose, drops chrome; counts codepoints") {
    val text = Seq(
      "Short line",                                        // < 20 chars
      "This is a long enough sentence to keep, really.",   // kept (47)
      "menu | nav | home | contact | about | sitemap",     // no terminal punct
      "  A trimmed line that is long enough to survive!\r" // kept after trim (46)
    ).mkString("\n")
    val dir = docsDir(Seq(1L -> text, 2L -> "no lines kept here"))
    val r = Curation.queries("q55_line_filter")(spark, dir).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getDouble(3), x.getLong(4)))).toMap
    assert(r(1L) === ((4L, 2L, 0.5, 93L)))
    assert(r(2L) === ((1L, 0L, 0.0, 0L)))
  }

  test("medianByHistogram == builtin exact percentile on random groups") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7781)
    // odd/even group sizes, duplicate-heavy values, singleton group
    val rows = (1 to 500).map(_ =>
      (s"g${rnd.nextInt(7)}", rnd.nextInt(40).toLong)) :+ (("solo", 99L))
    val df = rows.toDF("source", "n_chars")
    val hist = Curation.medianByHistogram(df, "source", "n_chars")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val ref = df.groupBy(col("source"))
      .agg(expr("percentile(n_chars, 0.5)").as("p"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(hist === ref)
  }

  test("quantileCont == builtin exact percentile at several fractions") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(4242)
    // distribution shapes that stress different interpolation cases:
    // dense uniform (most ranks interpolate), zipf-ish duplicate-heavy
    // (rank pairs collapse into one histogram row), tiny n (lo==hi
    // boundary cases), negative values
    val datasets = Seq(
      (1 to 500).map(_ => rnd.nextInt(60).toLong),
      (1 to 400).map(_ => (400.0 / (1 + rnd.nextInt(20))).toLong),
      Seq(5L, 9L, 2L),
      (1 to 50).map(_ => rnd.nextInt(9).toLong - 4L))
    for ((rows, i) <- datasets.zipWithIndex; p <- Seq(0.0, 0.1, 0.5, 0.9, 0.99, 1.0)) {
      val df = rows.toDF("v")
      val got = Curation.quantileCont(df, col("v"), p)
      val ref = df.agg(expr(s"percentile(v, $p)")).collect()(0).getDouble(0)
      assert(got === ref, s"dataset=$i p=$p")
    }
  }

  test("quantileCont: single value, all-equal values, NULLs excluded") {
    val s = spark
    import s.implicits._
    assert(Curation.quantileCont(Seq(7L).toDF("v"), col("v"), 0.9) === 7.0)
    assert(Curation.quantileCont(
      Seq.fill(10)(3L).toDF("v"), col("v"), 0.25) === 3.0)
    val withNulls = Seq[Option[Long]](Some(1L), None, Some(3L), None)
      .toDF("v")
    // NULLs excluded like percentile: median of {1, 3} = 2
    assert(Curation.quantileCont(withNulls, col("v"), 0.5) === 2.0)
    intercept[IllegalArgumentException] {
      Curation.quantileCont(Seq.empty[Long].toDF("v"), col("v"), 0.5)
    }
    intercept[IllegalArgumentException] {
      Curation.quantileCont(Seq(1L).toDF("v"), col("v"), 1.5)
    }
  }

  test("quantileCont rejects fractional input loudly (round-9 advice)") {
    val s = spark
    import s.implicits._
    // a double column holding INTEGRAL values is fine ...
    assert(Curation.quantileCont(
      Seq(1.0, 2.0, 3.0).toDF("v"), col("v"), 0.5) === 2.0)
    // ... but one the long cast would silently floor is not
    val e = intercept[IllegalArgumentException] {
      Curation.quantileCont(Seq(1.0, 2.5, 3.0).toDF("v"), col("v"), 0.5)
    }
    assert(e.getMessage.contains("integral-valued"))
  }

  test("q89: admitted set is exactly the docs at or above the P90 cutoff") {
    val q = graft.SparkEntry.queries("q89_quantile_cutoff")
    val got = q(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty)
    val cutoff = got.head._3
    assert(got.forall(_._3 === cutoff), "cutoff must be constant")
    assert(got.forall(t => t._2 >= cutoff), "an admitted doc sits below the cutoff")
    // cross-check the cutoff and the admitted count against the builtin
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("text").isNotNull)
      .select(size(Dedup.tokens).cast("long").as("n_tok"))
    val ref = docs.agg(expr("percentile(n_tok, 0.9)")).collect()(0).getDouble(0)
    assert(math.abs(cutoff - BigDecimal(ref).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    val nRef = docs.filter(col("n_tok") >= ref).count()
    assert(got.length.toLong === nRef)
  }

  test("q91: packs contain exactly the canonical dedup survivors") {
    val q = graft.SparkEntry.queries("q91_dedup_pack")
    val packed = q(spark, "/root/testdata/sf0.001")
      .collect().map(_.getLong(0)).toSet
    // reference survivor set: min doc_id per identical text
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("text").isNotNull)
    val survivors = docs.groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(packed === survivors)
    // and the packing itself matches q57's layout restricted to survivors
    // (same shard/pack assignment — membership change must not disturb a
    // survivor's shard, only its in-shard offsets)
    val q57 = graft.SparkEntry.queries("q57_pack")(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val shards = q(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    shards.foreach { case (id, sh) => assert(q57(id) === sh, s"doc $id") }
  }

  test("q56: token rarity on a hand-checked corpus") {
    // dfs: a->2, b->2, c->1
    val dir = docsDir(Seq(1L -> "a b a", 2L -> "b c"))
    val r = Curation.queries("q56_token_rarity")(spark, dir).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getDouble(2)))).toMap
    assert(r(1L) === ((3L, 2.0))) // (2+2+2)/3
    assert(r(2L) === ((2L, 1.5))) // (2+1)/2
  }

  test("q57: packs respect the budget boundary and are content-stable") {
    val s = spark
    import s.implicits._
    // 1 shard -> one deterministic sequence; budget 10; doc tokens: 4 each
    val df = (1L to 10L).map(i => (i, "a b c d")).toDF("doc_id", "text")
    val packs = Curation.packedSequences(df, "doc_id", budget = 10, nShards = 1)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(packs.forall(_._3 === 4L))
    // start offsets 0,4,8,12,... -> pack boundaries at div 10: 0,0,0,1,1,2,...
    val byPack = packs.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byPack.values.sum === 10)
    assert(byPack.values.forall(n => n == 2 || n == 3)) // 10-budget / 4-tok docs
    // content-stable: hash order is corpus-independent, so growing the
    // corpus only ever interleaves NEW docs — an existing doc's start
    // offset (hence pack_id) can grow but never shrink or reorder
    val bigger = ((1L to 10L) ++ (11L to 20L)).map(i => (i, "a b c d"))
      .toDF("doc_id", "text")
    val packs2 = Curation.packedSequences(bigger, "doc_id", budget = 10, nShards = 1)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    val packs1 = packs.map(p => p._1 -> p._2).toMap
    (1L to 10L).foreach(id => assert(packs2(id) >= packs1(id), s"doc $id moved back"))
  }

  test("q57 default shard count: a README-shaped kept frame packs as nShards = 32") {
    // README's training-data example: a filtered frame joined back onto
    // the NDJSON documents, packed with the statistics-sized shard count
    import org.apache.spark.sql.types.StructType
    val s = spark
    import s.implicits._
    val path = graft.TestSpark.tempDir("graft_pack_readme") + "/corpus"
    graft.sources.JsonLines.write((1L to 300L)
      .map(i => (i, Seq.fill((i % 13 + 1).toInt)(s"w$i").mkString(" ")))
      .toDF("doc_id", "text"), path)
    val docs = graft.sources.JsonLines.read(spark, path,
      new StructType().add("doc_id", "long").add("text", "string"))
    val dups = docs.filter(col("doc_id") % 7 === 0).select(col("doc_id"))
    val kept = docs.join(dups, Seq("doc_id"), "left_anti")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("doc_id")).collect().toSeq
    val packed = rows(Curation.packedSequences(kept, "doc_id", budget = 2048))
    assert(packed.size === 300 - 300 / 7)
    assert(packed.map(_.getAs[Long]("shard")).distinct.size > 1)
    assert(packed === rows(Curation.packedSequences(kept, "doc_id", budget = 2048, nShards = 32)))
  }

  test("q64 chunked: window boundaries, overlap, short docs, never-empty last chunk") {
    val s = spark
    import s.implicits._
    // 10 tokens, win 4, stride 3 → starts 0,3,6 → chunks of 4,4,4 tokens
    // (start 6 covers t7..t10); nc = 1 + ceil((10-4)/3) = 3
    val docs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")),
      (2L, "a b"), // under the window: one chunk, whole doc
      (3L, "x1 x2 x3 x4 x5"), // 5 tokens → starts 0,3 → 4 + 2 tokens
      (4L, null.asInstanceOf[String]), // excluded
      (5L, "   "), // whitespace-only: excluded (no phantom empty chunk)
      (6L, "\t\n\r"), // tab/LF-only: trim() strips only spaces — still excluded
      (7L, "\t \n")) // mixed non-space whitespace: excluded
      .toDF("doc_id", "text")
    val out = Curation.chunked(docs, win = 4, stride = 3)
      .orderBy("doc_id", "chunk_idx").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.filter(_._1 == 1L).toSeq === Seq(
      (1L, 0L, 4L, "w1 w2 w3 w4"),
      (1L, 1L, 4L, "w4 w5 w6 w7"), // 1-token overlap with both neighbors
      (1L, 2L, 4L, "w7 w8 w9 w10")))
    assert(out.filter(_._1 == 2L).toSeq === Seq((2L, 0L, 2L, "a b")))
    assert(out.filter(_._1 == 3L).toSeq === Seq(
      (3L, 0L, 4L, "x1 x2 x3 x4"), (3L, 1L, 2L, "x4 x5"))) // short last chunk
    assert(!out.exists(p => p._1 >= 4L)) // 4-7 all excluded
    assert(out.forall(p => p._3 > 0L && p._4.nonEmpty)) // never an empty chunk
    // reconstruction property: stride-strided starts cover every token
    val covered = out.filter(_._1 == 1L).flatMap(_._4.split(" ")).toSet
    assert(covered === (1 to 10).map(i => s"w$i").toSet)
    // guards
    assertThrows[IllegalArgumentException](Curation.chunked(docs, 4, 4))
    assertThrows[IllegalArgumentException](Curation.chunked(docs, 4, 0))
  }

  test("q85 chunkDedup: planted duplicate chunks counted, first occurrence wins") {
    val s = spark
    import s.implicits._
    // win 4 / stride 3 over 4-token docs → exactly one chunk per doc
    val docs = Seq(
      (1L, "a b c d"),   // first occurrence
      (2L, "a b c d"),   // exact dup of doc 1's chunk
      (3L, "e f g h"),   // unique
      (4L, "a b c d"),   // another dup
      (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = Curation.chunkDedup(docs, win = 4, stride = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got === Map(
      1L -> ((1L, 0L, 0.0)),   // first: not a dup
      2L -> ((1L, 1L, 1.0)),
      3L -> ((1L, 0L, 0.0)),
      4L -> ((1L, 1L, 1.0))))
    // multi-chunk doc repeating its own window: self-dups count too.
    // 10 toks, win 4 / stride 3 → starts 0,3,6 land on the period of the
    // repetition, so all three chunks are "a b c a" → 2 self-dups
    val self = Seq((7L, "a b c a b c a b c a")).toDF("doc_id", "text")
    val sg = Curation.chunkDedup(self, win = 4, stride = 3).collect()(0)
    assert((sg.getLong(1), sg.getLong(2)) === ((3L, 2L)))
  }

  test("q85 plan: first-occurrence is a partial-agg min, never a window") {
    val df = graft.SparkEntry.queries("q85_chunk_dedup")(
      spark, "/root/testdata/sf0.001")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    // chunk text is hashed before the aggregate side: the min-reduction
    // shuffles (h, len, occ), not chunk strings
    assert(p.contains("xxhash64"), p)
    // both aggs run with map-side partials: the struct-min firsts
    // reduction compiles to a partial+final SortAggregate pair (struct
    // min is not hash-aggregable) and the per-doc rollup to a
    // HashAggregate pair
    assert(p.contains("partial_min"), p)
    assert("SortAggregate".r.findAllIn(p).size >= 2, p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q88 chunkOverlapPairs: shared chunks counted per pair, cap skips boilerplate") {
    val s = spark
    import s.implicits._
    // win 4 / stride 3: an 7-token doc has 2 chunks (starts 0, 3)
    val docs = Seq(
      (1L, "a b c d e f g"),   // chunks: "a b c d", "d e f g"
      (2L, "a b c d e f g"),   // identical → shares both chunks with 1
      (3L, "a b c d x y z"),   // shares only the first chunk with 1/2
      (4L, "p q r s t u v"))   // disjoint
      .toDF("doc_id", "text")
    val got = Curation.chunkOverlapPairs(docs, win = 4, stride = 3,
        cap = 64, minShared = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // (1,2): 2 shared of 2+2 → jaccard 2/(2+2-2)=1.0
    assert(got((1L, 2L)) === ((2L, 2L, 2L, 1.0)))
    // (1,3) and (2,3): 1 shared → 1/(2+2-1)
    assert(got((1L, 3L))._1 === 1L)
    assert(got((1L, 3L))._4 === BigDecimal(1.0 / 3.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(got.contains((2L, 3L)) && !got.keys.exists(_._2 == 4L))
    // minShared=2 drops the single-chunk overlaps
    val strict = Curation.chunkOverlapPairs(docs, 4, 3, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strict === Set((1L, 2L)))
    // a chunk present in MORE than cap docs is skipped entirely
    val boiler = (10L until 20L).map(i => (i, "same same same same"))
      .toDF("doc_id", "text")
    assert(Curation.chunkOverlapPairs(boiler, 4, 3, cap = 5, minShared = 1)
      .count() === 0L)
    // boilerplate must not DILUTE either: two docs identical apart from a
    // corpus-wide chunk score 1.0 — the capped chunk leaves the
    // denominator along with the numerator
    val diluted = ((10L until 22L).map(i => (i, "s s s s")) ++
      Seq((30L, "s s s s r r r"), (31L, "s s s s r r r")))
      .toDF("doc_id", "text")
    val dg = Curation.chunkOverlapPairs(diluted, 4, 3, cap = 5, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(5)).toMap
    assert(dg === Map((30L, 31L) -> 1.0))
  }

  test("q88 plan: capped in-bucket join, no cartesian, no posting list") {
    val df = graft.SparkEntry.queries("q88_chunk_overlap")(
      spark, "/root/testdata/sf0.001")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("bsz"), p) // the bucket-size cap survived planning
    assert(!p.contains("collect_list") && !p.contains("collect_set"), p)
  }

  test("q65 tfidf: hand-checked scores, rounded-score tiebreak, top-k cut") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "apple apple banana"),
      (2L, "banana cherry"),
      (3L, "cherry cherry cherry date"),
      (4L, null.asInstanceOf[String])) // excluded (and not counted in N)
      .toDF("doc_id", "text")
    val out = Curation.tfidfTopK(docs, k = 3)
      .orderBy("doc_id", "rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getInt(5)))
    // N=3; df: apple 1, banana 2, cherry 2, date 1
    def sc(tf: Long, df: Long) =
      math.rint(tf * math.log(3.0 / df) * 1e6) / 1e6
    assert(out.filter(_._1 == 1L).toSeq === Seq(
      (1L, "apple", 2L, 1L, sc(2, 1), 1),
      (1L, "banana", 1L, 2L, sc(1, 2), 2)))
    // doc 2: banana and cherry tie exactly (tf=1, df=2) → tok asc decides
    assert(out.filter(_._1 == 2L).map(t => (t._2, t._6)).toSeq ===
      Seq(("banana", 1), ("cherry", 2)))
    assert(out.filter(_._1 == 3L).toSeq === Seq(
      (3L, "cherry", 3L, 2L, sc(3, 2), 1),
      (3L, "date", 1L, 1L, sc(1, 1), 2)))
    assert(!out.exists(_._1 == 4L))
    // top-k actually cuts: a doc with > k distinct tokens emits exactly k
    val wide = Seq((9L, "a b c d e f g h")).toDF("doc_id", "text")
    assert(Curation.tfidfTopK(wide, k = 3).count() === 3L)
  }

  test("q65 tfidf: empty tokens are never keywords; whitespace-only docs vanish") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "\t\n"), // tab/LF-only: excluded entirely (and not counted in N)
      (2L, "alpha beta\n"), // trailing LF tokenizes to an extra "" token
      (3L, "\tgamma")) // leading tab tokenizes to a leading "" token
      .toDF("doc_id", "text")
    val out = Curation.tfidfTopK(docs, k = 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3)))
    assert(!out.exists(_._1 == 1L))
    assert(out.forall(_._2.nonEmpty), out.mkString(", "))
    // N = 2 (doc 1 excluded): df(alpha)=1 under the post-filter doc count
    assert(out.collect { case (2L, "alpha", df) => df }.head === 1L)
  }

  test("LineStats counts codepoints, not UTF-16 units") {
    val s = spark
    import s.implicits._
    // 19 codepoints incl. an astral emoji (2 UTF-16 units) + '.' = 20 -> kept
    // iff length is measured in codepoints
    val line = "🙂" + "a" * 17 + "x."
    assert(line.codePointCount(0, line.length) === 20)
    val row = Seq(Tuple1(line)).toDF("text")
      .select(LineStats(col("text")).as("st"))
      .select(col("st.n_kept"), col("st.kept_chars")).collect()(0)
    assert(row.getLong(0) === 1L)
    assert(row.getLong(1) === 20L)
  }

  test("q52/q55 plans are shuffle-free scan projections") {
    val dirE = embeddingsDir(Seq(1L -> Array(1.0f, 2.0f)))
    val dirD = docsDir(Seq(1L -> "some text"))
    for (plan <- Seq(
        Curation.queries("q52_embed_quantize")(spark, dirE),
        Curation.queries("q55_line_filter")(spark, dirD))
        .map(_.queryExecution.executedPlan.toString)) {
      assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
    }
  }

  test("q76 verdict: each reason branch fires alone, keep iff none fire") {
    import spark.implicits._
    def doc(words: Seq[String]) = {
      val t = words.mkString(" ")
      (t, t.length.toLong)
    }
    val keepDoc = doc((1 to 25).map(i => f"wrd$i%02d")) // 5-char, distinct
    val short = doc((1 to 10).map(i => f"wrd$i%02d"))
    val spam = doc(Seq.fill(30)("spamo")) // low diversity + repetitive
    val tiny = doc((0 until 25).map(i => f"$i%02d")) // 25 distinct 2-char words
    val pii = doc((1 to 24).map(i => f"wd$i%02d") :+ "bob@example.com")
    val rows = Seq(
      (1L, keepDoc._1, keepDoc._2), (2L, short._1, short._2),
      (3L, spam._1, spam._2), (4L, tiny._1, tiny._2),
      (5L, pii._1, pii._2), (6L, null.asInstanceOf[String], 0L))
      .toDF("doc_id", "text", "n_chars")
    val got = Curation.curationVerdict(rows).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("reject_reasons"), r.getAs[Long]("keep_flag"))).toMap
    assert(got.size === 5) // NULL text excluded
    assert(got(1L) === ("", 1L))
    assert(got(2L) === ("too_short;", 0L))
    assert(got(3L) === ("low_diversity;repetitive;", 0L))
    assert(got(4L) === ("word_shape;", 0L))
    assert(got(5L) === ("pii;", 0L))
  }

  test("q76 verdict plan is a shuffle-free scan projection") {
    val df = graft.SparkEntry.queries("q76_curation_verdict")(
      spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
  }

  test("q100 lenBuckets: power-of-two boundaries are integer-exact") {
    val s = spark
    import s.implicits._
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, words(1)),   // bucket 0 [1,1]
      (2L, words(3)),   // bucket 1 [2,3] — upper edge
      (3L, words(16)),  // bucket 4 [16,31] — lower edge (log2 FP trap)
      (4L, words(17)),
      (5L, words(31)),  // upper edge
      (6L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val r = Curation.lenBuckets(docs).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4), x.getLong(5), x.getLong(6)))).toMap
    // totals: 5 docs, 68 tokens; shares in integer ppm
    assert(r === Map(
      0L -> ((1L, 1L, 1L, 1L, 200000L, 14706L)),
      1L -> ((2L, 3L, 1L, 3L, 200000L, 44118L)),
      4L -> ((16L, 31L, 3L, 64L, 600000L, 941176L))))
  }

  test("q129 boilerplateStats: cross-doc df flags; within-doc repeats and empties don't") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "alpha one\nfooter line"),
      (2L, "beta two\nfooter line"),
      (3L, "gamma three\nfooter line"),
      // within-doc repeat: occurrences must NOT inflate the distinct df
      (4L, "solo content\nrepeat\nrepeat"),
      // leading empty line dropped; spaces trimmed before hashing
      (5L, "  \n  spaced  \nfooter line"),
      (6L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val r = Curation.boilerplateStats(docs).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4)))).toMap
    // "footer line" df = 4 (docs 1/2/3/5) >= 3 -> boilerplate everywhere
    assert(r(1L) === ((2L, 1L, 500000L, "alpha one".length.toLong)))
    assert(r(2L) === ((2L, 1L, 500000L, "beta two".length.toLong)))
    assert(r(3L) === ((2L, 1L, 500000L, "gamma three".length.toLong)))
    // doc 4: "repeat" occurs twice in ONE doc -> df 1, nothing flagged
    assert(r(4L) === ((3L, 0L, 0L, ("solo content".length + 12).toLong)))
    // doc 5: empty line dropped, "spaced" trimmed to 6 chars, footer flagged
    assert(r(5L) === ((2L, 1L, 500000L, 6L)))
    assert(!r.contains(6L)) // null text excluded
  }
}
