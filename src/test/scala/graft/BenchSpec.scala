package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The driver parses Bench's JSON line out of the LAST 2000 characters of
  * stdout. Round 4 lost its bench score because the line (then 2045 chars,
  * with a per-query status map) outgrew that window. These tests pin the
  * rendered length with the REAL query-name set, so adding queries that
  * would overflow the window fails here instead of in the next round's
  * BENCH_r{N}.json.
  */
class BenchSpec extends AnyFunSuite {
  private val names = SparkEntry.queries.keys.toSeq.sorted
  private val sfDir = "/root/testdata/sf0.1"
  // sbt may still emit a short trailer after the line; leave real margin.
  // Measured r19: under `sbt -batch` with StdoutOutput the log ENDS at
  // the JSON line (no trailer), and the real 125-query sweep line is
  // 1604 chars (r20: 134 queries, 1673 chars) — 100 chars of trailer
  // allowance retained anyway. Since r20 the renderer guarantees the
  // budget BY CONSTRUCTION (>=10 s times degrade to whole seconds only
  // when the assembled line would overflow — Bench.renderJson), so this
  // test now pins BOTH the budget and the degradation path. NOTE:
  // the worst-case render below grows ~14 chars per query; past ~133
  // queries it crosses this budget and the renderer's degradation step
  // absorbs the overflow (full resolution stays in BENCH_LOCAL.json,
  // which the driver already receives).
  private val budget = Bench.TailBudget

  test("all-ok render with max-width times fits the driver tail window") {
    // worst realistic case includes a non-empty guard list (capped at 4),
    // the machine-health preamble with wide counters INCLUDING the
    // quiet-gate fields, and the scale-upgrade provenance. Per-query
    // ceiling 99.99 s: the slowest 10x-corpus query measures ~10 s, so
    // this still carries 10x width margin per entry (a 100 s+ query
    // costs one extra char against the ~60-char slack this asserts)
    val json = Bench.renderJson(names.map(n => (n, 99.99, "ok")),
      "/tmp/graft_sf1d",
      slow = Seq("q66", "q65", "q58", "q45", "q33"),
      health = Some(Bench.Health(9999999L, 9999999L, 99,
        waitMs = 9999999L, contendedStart = true)),
      scaledFrom = Some(sfDir))
    assert(json.length <= budget, s"bench JSON line ${json.length} > $budget chars")
    assert(json.startsWith("""{"metric":"total""""))
    // the all-99.99 worst case trips the degradation step: >=10 s times
    // render as whole seconds ("100"), sub-10 s times keep 2 dp — pinned
    // by the realistic-times test below
    assert(json.contains(""""q01":100"""), json.take(120))
    assert(json.contains(""""slow":["q66","q65","q58","q45"]"""))
    assert(json.contains(""""host":{"steal_ms":9999999,"jit_ms":9999999,""" +
      """"jvms":99,"wait_ms":9999999,"contended_start":true}"""))
    assert(json.contains(s""""scaled_from":"$sfDir""""))
  }

  test("realistic times render at full 2-dp precision (no degradation)") {
    // every observed 10x-corpus time is < 10 s (134-query line ~1673
    // chars); the normal path must stay d2 — degradation is strictly a
    // would-overflow fallback
    val json = Bench.renderJson(names.map(n => (n, 9.99, "ok")),
      "/tmp/graft_sf1d")
    assert(json.length <= budget, s"${json.length} > $budget")
    assert(json.contains(""""q01":9.99"""), json.take(120))
    assert(!json.contains(""":10"""), "realistic render must not degrade")
  }

  test("health preamble renders quiet-gate fields only when set") {
    assert(Bench.Health(10L, 20L, 0).json ===
      """"host":{"steal_ms":10,"jit_ms":20,"jvms":0}""")
    assert(Bench.Health(10L, 20L, 0, waitMs = 10042L).json ===
      """"host":{"steal_ms":10,"jit_ms":20,"jvms":0,"wait_ms":10042}""")
    assert(Bench.Health(10L, 20L, 0, waitMs = 1L, contendedStart = true).json ===
      """"host":{"steal_ms":10,"jit_ms":20,"jvms":0,"wait_ms":1,"contended_start":true}""")
  }

  test("quietStart: quiet host samples once and never sleeps") {
    var sleeps = 0
    val (samples, contended) = Bench.quietStart(
      () => 5L, () => sleeps += 1, maxWaits = 3, thresholdMs = 100L)
    assert(samples === 1 && !contended && sleeps === 0)
  }

  test("quietStart: contention that clears mid-retries stops waiting") {
    // steal per window: 900, 800, 3 — two waits, then a quiet window
    val seq = Iterator(900L, 800L, 3L)
    var sleeps = 0
    val (samples, contended) = Bench.quietStart(
      () => seq.next(), () => sleeps += 1, maxWaits = 3, thresholdMs = 100L)
    assert(samples === 3 && !contended && sleeps === 2)
  }

  test("quietStart: bounded — exhausts retries and reports contended") {
    var sleeps = 0
    val (samples, contended) = Bench.quietStart(
      () => 1000L, () => sleeps += 1, maxWaits = 3, thresholdMs = 100L)
    // 1 initial sample + 3 retry samples, then proceed loudly
    assert(samples === 4 && contended && sleeps === 3)
  }

  test("guard baselines reference only real queries (no stale orphans)") {
    // the INVERSE of completeness on purpose: a query may lack a baseline
    // until a full gate-style run has recorded one (inventing a number to
    // satisfy a test would arm the >3x guard with fiction — round-9
    // review), but a baseline whose query was renamed/removed is dead
    // weight that can only mislead
    val qs = names.map(Bench.short).toSet
    val orphans = Bench.expected.keys.filterNot(qs.contains)
    assert(orphans.isEmpty, s"baselines for nonexistent queries: $orphans")
    val scaledOrphans = Bench.expectedScaled.keys.filterNot(qs.contains)
    assert(scaledOrphans.isEmpty,
      s"scaled baselines for nonexistent queries: $scaledOrphans")
  }

  test("generated floors honor the tiny-floor clamp (>= 0.30s)") {
    // tools/floors.py clamps every generated floor to FLOOR_MIN = 0.30s
    // (r19 verdict item 5: sub-0.3s floors manufactured a 2x false
    // alarm per round out of pure JIT/window noise). A floor below the
    // clamp can only mean a hand edit or a stale regeneration.
    for ((blk, floors) <- Seq("base" -> Bench.expected,
                              "scaled" -> Bench.expectedScaled);
         (q, f) <- floors)
      assert(f >= 0.30, s"$blk floor for $q is $f < 0.30 — regenerate "
        + "with tools/floors.py (FLOOR_MIN clamp)")
  }

  test("everything-failed render still fits (fails list capped)") {
    val json = Bench.renderJson(names.map(n => (n, 999.999, "fail")), sfDir)
    assert(json.length <= budget, s"bench JSON line ${json.length} > $budget chars")
    assert(json.contains(s""""failed":${names.length}"""))
  }

  test("render is valid JSON shape (balanced, no locale commas in numbers)") {
    val json = Bench.renderJson(
      Seq(("q01_method_counts", 1.5, "ok"), ("q02_filter_project", 0.25, "fail")),
      sfDir)
    val expected = """{"metric":"total","value":1.500,"unit":"sec",""" +
      """"queries":{"q01":1.50},"failed":1,"fails":["q02_filter_project"],""" +
      s""""sf":"$sfDir"}"""
    assert(json == expected)
  }

  test("lowerMedian is order-robust: true median on odd, lower middle on even") {
    assert(Bench.lowerMedian(Seq(7.77, 3.42, 3.55)) === 3.55)
    assert(Bench.lowerMedian(Seq(3.42)) === 3.42)
    assert(Bench.lowerMedian(Seq(4.0, 2.0)) === 2.0)
    assert(Bench.lowerMedian(Seq(9.0, 1.0, 2.0, 8.0)) === 2.0)
  }

  test("needsRetry fires only past 2x floor AND 0.25s absolute excess") {
    val floors = Map("q45" -> 2.88, "q38" -> 0.17, "q81" -> 0.26)
    // r11's actual false alarm: 7.77 s vs floor 2.88 → retry
    assert(Bench.needsRetry("q45_dedup_clusters", 7.77, floors))
    // within 2x → no retry
    assert(!Bench.needsRetry("q45_dedup_clusters", 5.0, floors))
    // tiny query: 0.40 s is >2x of 0.17 but only +0.23 s absolute — jitter
    assert(!Bench.needsRetry("q38_quality_score", 0.40, floors))
    assert(Bench.needsRetry("q38_quality_score", 0.90, floors))
    // the r13 shape the old 0.5 s leg missed: 0.68 s vs floor 0.26 is
    // 2.6x and +0.42 s — over the grading bar, must retry
    assert(Bench.needsRetry("q81_vocab_ids", 0.68, floors))
    // no floor recorded → never retriggers (no evidence to contradict)
    assert(!Bench.needsRetry("q999_new", 99.0, floors))
  }

  test("repVerdict: majority rule — one transient failure absorbed, majority failure surfaces") {
    // single clean rep
    assert(Bench.repVerdict(Seq((1.5, "ok"))) === ((1.5, "ok")))
    // single failed rep (no retry on failures)
    assert(Bench.repVerdict(Seq((0.8, "fail"))) === ((0.8, "fail")))
    // median-of-3 with one transient failure: still ok, and the LOWER
    // middle of the 2 good reps — averaging would give the triggering
    // 7.7 s burst 50% weight (round-12 advice)
    assert(Bench.repVerdict(
      Seq((7.7, "ok"), (3.0, "fail"), (3.4, "ok"))) === ((3.4, "ok")))
    // 1 of 3 ok: majority failed -> fail (but the measured time reports)
    assert(Bench.repVerdict(
      Seq((7.7, "ok"), (3.0, "fail"), (3.4, "fail")))._2 === "fail")
    // REPS=5 with reps 2-5 failing: an intermittent breakage, not noise
    assert(Bench.repVerdict(Seq((1.0, "ok"), (2.0, "fail"), (2.0, "fail"),
      (2.0, "fail"), (2.0, "fail")))._2 === "fail")
  }

  test("deferredVerdict: better rerun median wins, worse/failed rerun never hurts") {
    // the r12 q10 shape: in-sweep median 6.19 (burst), deferred reps clean
    assert(Bench.deferredVerdict((6.19, "ok"),
      Seq((1.6, "ok"), (1.7, "ok"), (1.5, "ok"))) === ((1.6, "ok")))
    // rerun ALSO inside a burst and slower: keep the in-sweep result
    assert(Bench.deferredVerdict((6.19, "ok"),
      Seq((9.0, "ok"), (8.0, "ok"), (10.0, "ok"))) === ((6.19, "ok")))
    // rerun majority-failed: keep the in-sweep result even if a rep was fast
    assert(Bench.deferredVerdict((6.19, "ok"),
      Seq((0.5, "ok"), (1.0, "fail"), (1.0, "fail"))) === ((6.19, "ok")))
    // a genuine plan cost repeats: rerun median barely better, reported
    assert(Bench.deferredVerdict((6.19, "ok"),
      Seq((6.0, "ok"), (6.1, "ok"), (6.2, "ok"))) === ((6.1, "ok")))
    // original failed, deferred succeeds: the success reports
    assert(Bench.deferredVerdict((2.0, "fail"),
      Seq((2.1, "ok"), (2.2, "ok"), (2.0, "ok"))) === ((2.1, "ok")))
  }

  test("needsDeferral: retried queries over the bar or majority-failed, nothing else") {
    val floors = Map("q10" -> 1.41)
    // the r12 q10 gate shape: retried, median still 4.39x floor
    assert(Bench.needsDeferral(retried = true, "q10_hot_regions", 6.19, "ok", floors))
    // retried and the retry cleared the air: no requeue
    assert(!Bench.needsDeferral(retried = true, "q10_hot_regions", 1.82, "ok", floors))
    // retried but reps 2-3 failed transiently in the burst: requeue
    assert(Bench.needsDeferral(retried = true, "q10_hot_regions", 3.5, "fail", floors))
    // NEVER retried (single clean-run failure = breakage): final
    assert(!Bench.needsDeferral(retried = false, "q10_hot_regions", 3.5, "fail", floors))
    // not retried, fast and ok: nothing to do
    assert(!Bench.needsDeferral(retried = false, "q10_hot_regions", 1.5, "ok", floors))
  }

  test("runSweep composition: retry fires in place, deferral fires at end of sweep") {
    val floors = Map("q10" -> 1.41, "q33" -> 2.25)
    // scripted outcomes per (name, tag); the call ORDER is the contract
    val calls = scala.collection.mutable.ArrayBuffer[String]()
    val script = Map[(String, String), (Double, String)](
      // q10: the r12 gate shape — burst swallows the in-place retry,
      // the deferred rerun escapes it
      ("q10_hot", "") -> ((6.0, "ok")),
      ("q10_hot", " rep2") -> ((7.0, "ok")),
      ("q10_hot", " rep3") -> ((6.5, "ok")),
      ("q10_hot", " defer1") -> ((1.6, "ok")),
      ("q10_hot", " defer2") -> ((1.7, "ok")),
      ("q10_hot", " defer3") -> ((1.5, "ok")),
      // q33: retry fires and clears the air in place — no deferral
      ("q33_ng", "") -> ((5.0, "ok")),
      ("q33_ng", " rep2") -> ((2.3, "ok")),
      ("q33_ng", " rep3") -> ((2.4, "ok")),
      // q99: no floor — a slow first rep never retries
      ("q99_new", "") -> ((9.9, "ok")))
    def rep(name: String, tag: String): (Double, String) = {
      calls += s"$name$tag"
      script((name, tag))
    }
    val (results, detail) = Bench.runSweep(
      Seq("q33_ng", "q10_hot", "q99_new"), rep,
      floorsApply = true, floors = floors)
    // all in-sweep reps (sorted query order) run BEFORE any deferred rerun
    assert(calls.toSeq === Seq(
      "q10_hot", "q10_hot rep2", "q10_hot rep3",
      "q33_ng", "q33_ng rep2", "q33_ng rep3",
      "q99_new",
      "q10_hot defer1", "q10_hot defer2", "q10_hot defer3"))
    assert(results === Seq(
      ("q10_hot", 1.6, "ok"),   // deferred median replaces the burst median
      ("q33_ng", 2.4, "ok"),    // in-place retry median, under the bar
      ("q99_new", 9.9, "ok")))  // unguarded: reported as measured
    // ALL reps land in the detail artifact (6 for q10, 3 for q33)
    assert(detail("q10_hot").map(_._1) === Seq(6.0, 7.0, 6.5, 1.6, 1.7, 1.5))
    assert(detail("q33_ng").map(_._1) === Seq(5.0, 2.3, 2.4))
    assert(!detail.contains("q99_new"))
  }

  test("runSweep: deferred rerun pauses only when the MEASURED gap is too small") {
    // round-13 advice, depth-corrected in round 14: the gap is clocked,
    // not inferred from sweep position — a deferred query followed by
    // enough wall time needs no pause; one followed by (almost) none
    // does, whether it was last or merely near-last.
    val floors = Map("q10" -> 1.41)
    def run(names: Seq[String], tailSecs: Long): Seq[String] = {
      var t = 0L
      val paused = scala.collection.mutable.ArrayBuffer[String]()
      def rep(name: String, tag: String): (Double, String) = {
        // the q10 burst reps take 1 s each; the tail query models the
        // rest of the sweep at a controllable wall cost
        t += (if (name == "q10_hot") 1L else tailSecs) * 1000000000L
        if (name == "q10_hot" && !tag.startsWith(" defer")) (6.0, "ok")
        else (1.6, "ok")
      }
      Bench.runSweep(names, rep, floorsApply = true,
        floors = floors, pauseBeforeDeferred = paused += _, now = () => t)
      paused.toSeq
    }
    // 60 s of sweep between q10's reps and its deferred rerun: no pause
    assert(run(Seq("q10_hot", "q99_tail"), tailSecs = 60L) === Nil)
    // near-last with a sub-second successor: gap ~0, pause fires
    assert(run(Seq("q10_hot", "q99_tail"), tailSecs = 0L) === Seq("q10_hot"))
    // literally last: gap 0, pause fires
    assert(run(Seq("q10_hot"), tailSecs = 0L) === Seq("q10_hot"))
  }

  test("runSweep: majority-failed retry gets the deferred second chance") {
    val floors = Map("q10" -> 1.41)
    var deferCalls = 0
    def rep(name: String, tag: String): (Double, String) = tag match {
      case ""       => (6.0, "ok")   // triggers the retry
      case " rep2"  => (3.0, "fail") // burst kills both reruns
      case " rep3"  => (3.1, "fail")
      case _        => deferCalls += 1; (1.6, "ok")
    }
    val (results, detail) = Bench.runSweep(Seq("q10_hot"), rep,
      floorsApply = true, floors = floors)
    assert(deferCalls === 3)
    // deferred verdict rescues the transient failure AND the burst time
    assert(results === Seq(("q10_hot", 1.6, "ok")))
    assert(detail("q10_hot").length === 6)
  }

  test("runSweep: floors-off mode never retries or defers") {
    var calls = 0
    def rep(name: String, tag: String): (Double, String) = { calls += 1; (9.9, "ok") }
    val floors = Map("q10" -> 1.41)
    // floors off (non-sf0.1 corpus): single rep despite the floor breach
    val (r, _) = Bench.runSweep(Seq("q10_hot"), rep,
      floorsApply = false, floors = floors)
    assert(calls === 1 && r.head._2 === 9.9)
  }

  test("src/main reads only the deployment settings from the environment") {
    // dev knobs (query subsets, rep counts, forced floors) belong to
    // graft.Probe, not to the graded mains. Every read must name its key
    // literally, so a key built at run time counts as a stray read.
    val kept = Set("SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_SCALE",
      "SPARK_GRAFT_SCALED_DIR", "SPARK_MASTER")
    val anyRead = """sys\.env|System\.getenv""".r
    val keyed =
      """(?:sys\.env(?:\.get|\.getOrElse|\.contains)?|System\.getenv)\(\s*"(\w+)"""".r
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val reads = try files.iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .flatMap { f =>
        val src = java.nio.file.Files.readString(f)
        val keys = keyed.findAllMatchIn(src).map(_.group(1)).toSeq
        val unkeyed = anyRead.findAllIn(src).length - keys.length
        (keys ++ Seq.fill(unkeyed)("<non-literal key>")).map(f.toString -> _)
      } finally files.close()
    assert(reads.nonEmpty, "the scan found no env reads at all")
    val stray = reads.filterNot { case (_, k) => kept(k) }
    assert(stray.isEmpty, s"env reads outside the deployment settings: $stray")
  }

  test("src/main holds reused intermediates only through Materialize") {
    // one module decides how an intermediate read more than once is held
    // and released; everything else calls ops.Materialize
    val holds = """\.cache\(\)|\.persist\(|localCheckpoint\(|\.checkpoint\(|\.unpersist\(""".r
    // string and char literals are matched (and kept) so that a "/*" in
    // a glob does not open a comment
    val lexemes = """(?s)"{3}.*?"{3}|'(?:\\.|[^'\\\n])'|"(?:\\.|[^"\\\n])*"|/\*.*?\*/|//[^\n]*""".r
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val files = java.nio.file.Files.walk(root)
    val found = try files.iterator().asScala.toSeq
      .filter(f => f.toString.endsWith(".scala") && f != root.resolve("ops/Materialize.scala"))
      .flatMap { f =>
        // blank out comments but keep their line breaks, so line numbers hold
        val code = lexemes.replaceAllIn(java.nio.file.Files.readString(f), m =>
          java.util.regex.Matcher.quoteReplacement(
            if (m.matched.startsWith("/")) m.matched.replaceAll("[^\n]", "") else m.matched))
        code.linesIterator.zipWithIndex.collect {
          case (line, i) if holds.findFirstIn(line).nonEmpty => s"$f:${i + 1}: ${line.trim}"
        }
      } finally files.close()
    assert(found.isEmpty,
      s"intermediates held outside ops.Materialize:\n${found.mkString("\n")}")
  }

  test("jsonStr escapes quotes, backslashes and control chars") {
    assert(Bench.jsonStr("""/plain/path""") === "/plain/path")
    assert(Bench.jsonStr("""a"b""") === """a\"b""")
    assert(Bench.jsonStr("""a\b""") === """a\\b""")
    assert(Bench.jsonStr("a\nb") === "a\\u000ab")
    // an sf dir with a quote renders to parseable JSON end-to-end
    val json = Bench.renderJson(Seq(("q01_x", 1.0, "ok")), """/tmp/sf"0.1""")
    assert(json.contains(""""sf":"/tmp/sf\"0.1""""))
  }

  test("foreignJvmPids flags only java/sbt outside the own process chain") {
    val procs = Seq(
      (1L, "/sbin/init"),
      (100L, "/usr/lib/jvm/jdk17/bin/java"),   // the launching sbt server
      (200L, "/usr/lib/jvm/jdk17/bin/java"),   // this bench JVM
      (300L, "/usr/lib/jvm/jdk17/bin/java"),   // a CONCURRENT test suite
      (400L, "/usr/bin/sbt"),                  // a concurrent sbt script
      (500L, "/usr/bin/python3"),              // the driver: not a JVM
      (600L, "/usr/bin/javac"))                // prefix of java, NOT java
    val own = Set(1L, 100L, 200L)
    assert(Bench.foreignJvmPids(procs, own) === Seq(300L, 400L))
  }

  test("every real query has a committed floor (or an explicit allowlisting)") {
    // the INVERSE guard of the orphan test: floors regenerate from gate
    // artifacts, and a forgotten regeneration silently unguards new
    // queries (floors.py's own docstring says so — round-12 verdict
    // item #2). A brand-new query may legitimately lack gate evidence
    // for one round: allowlist it HERE, by name, with the round it
    // shipped, and remove the entry after the next regeneration.
    val newQueryAllowlist: Set[String] = Set()
    val unguarded = names.map(Bench.short)
      .filterNot(Bench.expected.contains).filterNot(newQueryAllowlist)
    assert(unguarded.isEmpty,
      s"queries with no floor and no allowlist entry: $unguarded — run " +
        "python3 tools/floors.py --from-artifacts after the gate records them")
    // the SCALED block is the one the official gate grades against since
    // round 14 — an unguarded query there means no 2x retry protection
    // exactly where the artifact is graded
    val scaledUnguarded = names.map(Bench.short)
      .filterNot(Bench.expectedScaled.contains).filterNot(newQueryAllowlist)
    assert(scaledUnguarded.isEmpty,
      s"queries with no SCALED floor and no allowlist entry: $scaledUnguarded" +
        " — seed/regenerate via tools/floors.py (--scaled-seed or 10x gate artifacts)")
  }

  test("shortened query keys stay unique across the real query set") {
    val short = names.map(n => n.split('_').head)
    assert(short.distinct.length === names.length,
      s"colliding qNN prefixes: ${short.diff(short.distinct).distinct}")
  }
}
