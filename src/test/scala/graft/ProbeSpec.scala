package graft

import java.nio.file.Files

import graft.ops.LegacySpellings

/** Smoke for the dev probe: every mode once, in the shared session, on a
  * small generated corpus — so the tool cannot rot unnoticed.
  */
class ProbeSpec extends SparkSpec {

  private lazy val dir = {
    val rnd = new scala.util.Random(69)
    docsDirSrc((0 until 200).map { i =>
      val t = if (i % 31 == 0) null
        else (0 until 5 + rnd.nextInt(30)).map(_ => s"w${rnd.nextInt(40)}").mkString(" ")
      (i.toLong, t, s"src${i % 3}")
    })
  }

  private def lines(args: String*): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    Probe.run(spark, args, out += _)
    out.toSeq
  }

  test("ab, plan, final and dup each run once in one session") {
    val ab = lines("ab", dir, "1", "q39_token_count,q39_r20")
    assert(ab.count(_.matches("""\[probe\] q39_\w+ rep1: [\d.]+ s gc=.* steal=.*""")) === 2, ab)
    assert(ab.count(_.startsWith("[probe] MEDIAN q39_")) === 2, ab)

    val out = java.nio.file.Paths.get(TestSpark.tempDir("graft_probe"))
    val plan = lines("plan", dir, out.toString, "smoke", "q69_dup_spans")
    assert(plan.exists(_.endsWith("(checkpoint sources: 1)")), plan)
    val text = Files.readString(out.resolve("q69_dup_spans_smoke.txt"))
    // the checkpoint stub, then the gram-space aggregate it replaced
    assert(text.contains("Scan ExistingRDD") && text.contains("== checkpoint source 1 =="), text)
    assert(text.split("== checkpoint source 1 ==")(1).contains("HashAggregate"), text)

    val fin = lines("final", dir, "q69_dup_spans")
    assert(fin.head.contains("AdaptiveSparkPlan isFinalPlan=true"), fin)
    assert(fin.exists(_.startsWith("[probe] q69_dup_spans reuse: ReusedExchange=")), fin)

    val dup = lines("dup", dir, "2")
    assert(dup.exists(_.matches("""\[probe\] dup k=2 docs=\d+ .* PR/P=[\d.]+""")), dup)
    assert(dup.count(_.matches("""\[probe\] dup k=2 q33 rep\d: [\d.]+ s""")) === 3, dup)
  }

  test("ab accepts every historical A/B name; qNN_cur maps to its query key") {
    val current = Map(
      "q31_cur" -> "q31_dedup_minhash", "q03_cur" -> "q03_reqres_join",
      "q121_cur" -> "q121_vocab_growth", "q133_cur" -> "q133_quality_drift",
      "q39_cur" -> "q39_token_count", "q103_cur" -> "q103_pii_profile",
      "q115_cur" -> "q115_source_dup_matrix", "q123_cur" -> "q123_split_leakage",
      "q124_cur" -> "q124_dup_growth", "q139_cur" -> "q139_dup_spread")
    current.foreach { case (name, key) => assert(Probe.keyOf(name) === key) }
    val legacy = Seq("q31_nomat", "q31_r20", "q31_r14", "q03_r20", "q121_r20",
      "q133_r20", "q39_r20", "q103_r20", "q115_r21", "q123_r21", "q124_r21", "q139_r21")
    assert(legacy.toSet === LegacySpellings.byName.keySet)
    (current.keys ++ legacy).foreach(Probe.resolve)
    intercept[IllegalArgumentException](Probe.resolve("q31_r99"))
  }
}
