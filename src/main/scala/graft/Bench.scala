package graft

import java.nio.file.{Files, Paths}

/** Benchmark main. Prints ONE JSON line to stdout (the driver contract) and
  * also writes it to BENCH_LOCAL.json in the cwd as a belt-and-braces copy —
  * rounds 1/2 produced `"parsed": null` because sbt's logger prefixed the
  * stdout line (fixed via `run / outputStrategy` in build.sbt).
  *
  * Scale (round 14): pointed at the sf0.1 corpus, the sweep
  * SELF-UPGRADES to the derived 10x corpus ([[ScaleCorpus]]) and grades
  * against the SCALED floor block — at sf0.1 most queries run
  * sub-second, where timer jitter/JIT/steal dominate the 2x rule
  * (three rounds of noise adjudication proved it). SPARK_GRAFT_SCALE
  * =off pins the requested corpus; a derivation failure falls back to
  * it loudly and the JSON line records which corpus ran ("sf" +
  * "scaled_from"). A quiet-window preflight ([[quietStart]]) delays
  * the first timed query while the host is being robbed, bounded,
  * then proceeds with "contended_start":true.
  *
  * Each query is fully materialized through the `noop` sink: `count()` lets
  * Catalyst prune the plan to the aggregated columns only, which under-times
  * wide projections. Failures are recorded per-query (`"status"`) instead of
  * being silently timed as successes.
  *
  * Between queries the harness releases every persistent RDD and clears
  * the plan cache ([[Sessions.dropPersisted]], outside the timed region;
  * the release logs no per-RDD warning): localCheckpoint blocks from
  * [[graft.ops.Materialize]] consumers otherwise accumulate for the whole
  * 80+-query run — ContextCleaner only reclaims them on a driver GC, which
  * a 128 GiB heap rarely triggers — and the block-manager pressure taxes
  * every later query (the round-8 "alphabetical back half 2-4× slower"
  * drift). No query shares cached state with another (q20-q24 share only
  * on-disk fixtures), so the sweep is safe.
  *
  * Noise robustness (r11 → r12): a first rep exceeding 2× its committed
  * evidence floor triggers a median-of-3 rerun of just that query (see
  * [[needsRetry]]). Per-rep detail lands in `BENCH_REPS.json`; the
  * stdout contract stays one JSON line with the per-query MEDIAN.
  *
  * Settings: Bench reads only its deployment settings —
  * `SPARK_GRAFT_SF_DIR` (corpus), `SPARK_GRAFT_CPUS` (session cores,
  * default 32) and `SPARK_GRAFT_SCALE` — and always runs the full sweep.
  * Re-timing named queries in one session, interleaved A/Bs of a query
  * against a superseded spelling, formatted and final adaptive plans go
  * through the dev probe `graft.Probe` in the test sourceset
  * (`sbt "Test/runMain graft.Probe ab|plan|final|dup ..."`).
  *
  * Standing scale evidence (r16 → r17): `python3 tools/scale_gate.py`
  * reruns the full oracled 10x gate on demand, and
  * `python3 tools/scale_gate.py --replicas 100` reruns the ~sf10 probe
  * (per-query DuckDB watchdog, SPARK_DRIVER_MEM=48g default — the
  * protocol of tools/r16/GATE_SF10.md, now one command).
  */
object Bench {

  /** Unique qNN prefix of a query name ("q66_semdedup" → "q66"): the
    * stdout JSON key and the floor-map key.
    */
  def short(k: String): String = {
    val cut = k.indexOf('_')
    if (cut > 0) k.substring(0, cut) else k
  }

  /** LOWER median: for odd counts the true median, for even counts the
    * lower middle (not the average of the middle two — round-12 advice:
    * a median-of-3 where one rerun fails leaves TWO ok reps, and
    * averaging them gives the triggering burst 50% weight, e.g. a
    * 7.7 s burst + 3.4 s good would report 5.55 s — still over the 2x
    * bar the retry exists to defeat). Median, not minimum: a minimum
    * would grade the machine's best moment; the median grades the plan
    * while staying robust to a single steal/JIT burst (the r8-r11
    * drift signature), and the lower middle keeps the report at a time
    * an actual successful rep measured.
    */
  private[graft] def lowerMedian(xs: Seq[Double]): Double =
    xs.sorted.apply((xs.length - 1) / 2)

  /** Minimal JSON string escaping (backslash, quote, control chars) for
    * values that reach the artifacts from outside the code — sfDir is
    * env-provided, and a path containing a quote would otherwise render
    * BENCH_REPS.json / the stdout line invalid (round-12 advice).
    */
  private[graft] def jsonStr(s: String): String = {
    val b = new StringBuilder(s.length + 2)
    s.foreach {
      case '"'           => b.append("\\\"")
      case '\\'          => b.append("\\\\")
      case c if c < ' '  => b.append(f"\\u${c.toInt}%04x")
      case c             => b.append(c)
    }
    b.result()
  }

  /** Should a single-rep time trigger the median-of-3 rerun? True when
    * the first rep exceeds 2x the committed evidence floor AND is at
    * least 0.25 s over it in absolute terms — the absolute leg keeps
    * tiny-floor queries (where 2x of 0.15 s is timer jitter) from
    * burning reruns on noise, while still arming the retry for the
    * sub-second drift shape a clean r13 sweep produced (q81 at 0.68 s
    * vs floor 0.26 = 2.6x, +0.42 s: over the grading bar, yet the old
    * 0.5 s leg declined the rerun — and a retry of a sub-second query
    * costs well under a second, orders cheaper than a false 2x reading
    * in the gate artifact). Only queries with a recorded floor can
    * retrigger: a new query has no evidence to contradict.
    */
  private[graft] def needsRetry(name: String, sec: Double,
      floors: Map[String, Double] = expected): Boolean =
    floors.get(short(name)).exists(f => sec > 2 * f && sec - f > 0.25)

  /** Fold a query's rep outcomes into one (reported seconds, status).
    * ok iff a MAJORITY of reps measured: one transient failure in a
    * median-of-3 must not erase two good measurements (the retry exists
    * to absorb noise), but a query failing most of its reps is genuinely
    * broken and must surface in the gate line, not just in stderr and
    * the local reps artifact. Reported time = LOWER median of the OK
    * reps (first rep's time when none succeeded): with an even ok-count
    * — a retry where one rerun failed — averaging the middle two would
    * hand the triggering outlier 50% weight (round-12 advice).
    */
  private[graft] def repVerdict(all: Seq[(Double, String)]): (Double, String) = {
    val okTimes = all.collect { case (s, "ok") => s }
    val status = if (okTimes.length * 2 > all.length) "ok" else "fail"
    (if (okTimes.nonEmpty) lowerMedian(okTimes) else all.head._1, status)
  }

  /** Fold a deferred end-of-sweep rerun into the in-sweep verdict: the
    * rerun's verdict replaces the original only when it measured ok AND
    * is better (lower median) — or when the original had already failed
    * and the rerun succeeds. A deferred rerun can therefore never
    * WORSEN a result: it exists to let a query escape a contention
    * window that outlived its in-place median-of-3 (the r12 q10 gate:
    * reps 11.39/6.19/2.38 s, all inside one burst, while two same-day
    * runs put the query at ~1.6 s).
    */
  private[graft] def deferredVerdict(original: (Double, String),
      rerun: Seq[(Double, String)]): (Double, String) = {
    val (sec, status) = repVerdict(rerun)
    if (status == "ok" && (original._2 != "ok" || sec < original._1))
      (sec, status)
    else original
  }

  /** Should a query be requeued at the end of the sweep? Only RETRIED
    * queries (`retried` = a median-of-3 ran in-sweep), and only when
    * the retry failed to clear the air: its median still trips the
    * retry bar, or the retry itself came back majority-failed (two
    * transient failures inside one burst deserve the same escape as
    * two slow reps). A never-retried failure stays final — a single
    * clean-run failure is breakage, not noise.
    */
  private[graft] def needsDeferral(retried: Boolean, name: String,
      sec: Double, status: String,
      floors: Map[String, Double] = expected): Boolean =
    retried && (status != "ok" || needsRetry(name, sec, floors))

  /** The whole sweep orchestration over an abstract rep runner
    * (`rep(name, tag)` times one execution) — first reps, median-of-3
    * retries on first-rep floor outliers, and the end-of-sweep deferred
    * requeue — so the COMPOSITION is unit-testable without Spark, not
    * just its pieces. Returns the final per-query results plus the
    * per-rep detail that lands in BENCH_REPS.json.
    *
    * Retry rationale: a first rep over 2x its committed evidence floor
    * triggers a median-of-3 (one external steal/JIT burst can no longer
    * put a green plan over the 2x grading bar — the r11 q45/q96 false
    * alarms; a REAL plan cost repeats in all three reps and still
    * reports over the bar). Retries and deferrals need `floorsApply`
    * (an evidence corpus): a floor is evidence about one corpus only.
    *
    * Deferral rationale (round-12 verdict #1): the r12 gate proved an
    * in-place median-of-3 cannot escape a contention burst that
    * outlives it (q10: reps 11.39/6.19/2.38 s, monotone decaying, all
    * inside one window; two same-day committed runs put the query at
    * ~1.6 s). When the retried verdict still trips [[needsDeferral]],
    * the query reruns ONCE at the end of the full sweep — minutes
    * later, outside the burst — and [[deferredVerdict]] folds in the
    * better median.
    *
    * `pauseBeforeDeferred` (round-13 advice, depth-corrected by the
    * round-14 review): "minutes later, outside the burst" only holds
    * when enough sweep actually ran between a query's own reps and its
    * deferred rerun — the alphabetically-last query gets NO gap, and a
    * near-last query whose successors are all sub-second gets almost
    * none. So the gap is measured, not inferred from position: each
    * query's rep-block end is clocked (`now`, injectable for tests),
    * and a deferred rerun starting sooner than `minGapNanos` after it
    * first invokes the hook (main wires it to a bounded sleep).
    */
  private[graft] def runSweep(
      names: Seq[String],
      rep: (String, String) => (Double, String),
      floorsApply: Boolean,
      floors: Map[String, Double] = expected,
      pauseBeforeDeferred: String => Unit = _ => (),
      now: () => Long = System.nanoTime,
      minGapNanos: Long = 30L * 1000 * 1000 * 1000)
    : (Seq[(String, Double, String)],
       scala.collection.Map[String, Seq[(Double, String)]]) = {
    val repsDetail =
      scala.collection.mutable.LinkedHashMap[String, Seq[(Double, String)]]()
    val endedAt = scala.collection.mutable.Map[String, Long]()
    val sweep = names.sorted.map { name =>
      val first = rep(name, "")
      val all: Seq[(Double, String)] =
        if (floorsApply && first._2 == "ok" && needsRetry(name, first._1, floors)) {
          System.err.println(f"[bench] $name ${first._1}%.2fs > 2x floor " +
            f"${floors(short(name))}%.2fs - median-of-3 rerun")
          first +: (2 to 3).map(i => rep(name, s" rep$i"))
        } else Seq(first)
      val (sec, status) = repVerdict(all)
      if (all.length > 1) repsDetail(name) = all
      endedAt(name) = now()
      (name, sec, status)
    }
    // `sweep` is a strict Seq, so every in-sweep rep has run before the
    // first deferred rerun fires — the requeue really is end-of-sweep
    val results = if (!floorsApply) sweep
    else sweep.map { case r @ (name, sec, status) =>
      if (needsDeferral(repsDetail.contains(name), name, sec, status, floors)) {
        val why = if (status == "ok") f"in-sweep median $sec%.2fs still > 2x floor"
          else "retry majority-failed"
        System.err.println(s"[bench] $name deferred requeue ($why): " +
          "rerunning at end of sweep")
        if (now() - endedAt(name) < minGapNanos) pauseBeforeDeferred(name)
        val rerun = (1 to 3).map(i => rep(name, s" defer$i"))
        repsDetail(name) = repsDetail(name) ++ rerun
        val (dSec, dStatus) = deferredVerdict((sec, status), rerun)
        (name, dSec, dStatus)
      } else r
    }
    (results, repsDetail)
  }

  /** Machine-health preamble for the JSON line: whole-run deltas of the
    * r10-campaign drift discriminators. A contaminated gate is then
    * self-describing — high steal or a foreign-JVM count in the
    * artifact says "the host", without reconstructing it from stderr.
    *
    * `waitMs`/`contendedStart` record the quiet-window start gate
    * (round-13 verdict item #2): waitMs is the wall time the preflight
    * spent sampling and waiting for steal to subside (rendered only
    * when > 0), and contendedStart=true means the bounded retries
    * exhausted with the host still being robbed — the sweep proceeded
    * anyway (the driver's gate is not ours to veto) and the artifact
    * says so instead of leaving a burst to post-hoc adjudication.
    */
  final case class Health(stealMs: Long, jitMs: Long, foreignJvms: Int,
      waitMs: Long = 0L, contendedStart: Boolean = false) {
    def json: String = {
      val wait = if (waitMs > 0) s""","wait_ms":$waitMs""" else ""
      val cont = if (contendedStart) s""","contended_start":true""" else ""
      s""""host":{"steal_ms":$stealMs,"jit_ms":$jitMs,"jvms":$foreignJvms$wait$cont}"""
    }
  }

  /** Quiet-window start gate (round-13 verdict item #2): the health
    * preamble RECORDS steal after the fact, but three straight rounds
    * (q45/q96 in r12, q10 in r13) still burned adjudication time on
    * sweeps that STARTED inside a steal window. This samples steal
    * over a short window before the first timed query and, while the
    * window is contended, sleeps and resamples — bounded, then
    * proceeds loudly (`contended=true`).
    *
    * Pure orchestration for unit tests: `stealWindowMs()` measures
    * steal over one sampling window (the real one diffs /proc/stat
    * around a sleep), `sleep()` backs off between retries. Returns
    * (windows sampled, still-contended). Thresholds per the committed
    * measurement discipline: a quiet host shows ~10 ms steal per 30 s,
    * a contended one ~1000 ms — 100 ms over a 10 s window separates
    * them by an order of magnitude each way.
    */
  private[graft] def quietStart(stealWindowMs: () => Long, sleep: () => Unit,
      maxWaits: Int, thresholdMs: Long): (Int, Boolean) = {
    var samples = 1
    var s = stealWindowMs()
    while (s > thresholdMs && samples <= maxWaits) {
      System.err.println(s"[bench] PREFLIGHT: host contended " +
        s"(steal ${s}ms over sampling window, threshold ${thresholdMs}ms) - " +
        s"waiting (${samples}/$maxWaits)")
      sleep()
      samples += 1
      s = stealWindowMs()
    }
    (samples, s > thresholdMs)
  }

  /** Foreign (non-ancestor, non-descendant) JVM/sbt processes among
    * `procs` (pid, executable path). The r12 contaminated-run artifact
    * proved a concurrent sbt suite reproduces every historical "bench
    * regression" symptom; per the bench-measurement discipline the gate
    * must not share the VM with another JVM. Pure for testability —
    * [[liveForeignJvms]] feeds it the real process table.
    */
  private[graft] def foreignJvmPids(procs: Seq[(Long, String)],
      ownChain: Set[Long]): Seq[Long] =
    procs.collect {
      case (pid, cmd) if !ownChain(pid) && {
        val base = cmd.substring(cmd.lastIndexOf('/') + 1)
        base == "java" || base == "sbt"
      } => pid
    }

  /** Scan the live process table for foreign JVMs, excluding this
    * process, its ancestors (the launching sbt server) and descendants
    * (none today, but a forked child must not self-flag). Best-effort:
    * masked /proc yields an empty command() and the process is skipped.
    */
  private[graft] def liveForeignJvms(): Seq[Long] =
    try {
      val self = ProcessHandle.current()
      val chain = scala.collection.mutable.Set[Long](self.pid)
      var p = self.parent()
      while (p.isPresent) { chain += p.get.pid; p = p.get.parent() }
      self.descendants().forEach(d => chain += d.pid)
      val procs = scala.collection.mutable.ArrayBuffer[(Long, String)]()
      ProcessHandle.allProcesses().forEach { h =>
        val c = h.info().command()
        if (c.isPresent) procs += ((h.pid, c.get))
      }
      foreignJvmPids(procs.toSeq, chain.toSet)
    } catch { case _: Throwable => Nil }

  def main(args: Array[String]): Unit = {
    val requestedSf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // stdout is the bench contract: exactly one JSON line. Everything else
    // — log4j (routed to stderr by log4j2.properties, but belt-and-braces
    // against a foreign config winning the classpath race), third-party
    // System.out chatter, the round-5 DAGScheduler accumulator trace — is
    // diverted to stderr for the whole run and restored only for the final
    // println, which happens AFTER spark.stop() so nothing can log behind it.
    val realOut = System.out
    System.setOut(System.err)
    // Preflight (round-12 verdict #5): the committed contaminated-run
    // artifact (tools/r12/BENCH_REPS_7X_CONTAMINATED.json) proved a
    // concurrent sbt/JVM on this shared VM reproduces every historical
    // "bench regression" symptom. Warn LOUDLY rather than refuse — the
    // driver's gate environment is not ours to veto — and carry the
    // count into the JSON line so a contaminated artifact describes
    // itself.
    val foreignAtStart = liveForeignJvms()
    if (foreignAtStart.nonEmpty)
      System.err.println(s"[bench] PREFLIGHT: ${foreignAtStart.length} " +
        s"foreign JVM/sbt process(es) live (pids ${foreignAtStart.mkString(",")})" +
        " - timings may be contaminated; bench-measurement discipline says" +
        " no concurrent JVMs during gate runs")
    val spark = Sessions.local(defaultCpus = 32)
    spark.sparkContext.setLogLevel("WARN")

    // Scale resolution (round-13 verdict item #1): the official gate
    // hands us sf0.1, where 80+ queries run sub-second and three
    // straight rounds of adjudication proved the 2x grading rule is
    // noise-dominated. When the requested corpus IS the sf0.1 evidence
    // corpus (and SPARK_GRAFT_SCALE doesn't say "off"), upgrade to the
    // derived 10x corpus — reused when current, re-derived (untimed,
    // before any measurement) when /tmp didn't survive. Falls back
    // LOUDLY to the requested corpus if derivation fails: a degraded
    // sf0.1 artifact beats no artifact, and "sf" in the JSON line
    // says which corpus actually ran.
    val scaleWanted = sys.env.get("SPARK_GRAFT_SCALE") match {
      case Some("off") => false
      case Some("on")  => true
      case _           => new java.io.File(requestedSf).getName == "sf0.1"
    }
    val (sfDir, scaledFrom) =
      if (!scaleWanted) (requestedSf, None)
      else {
        val out = ScaleCorpus.defaultDir
        try {
          val reused = ScaleCorpus.ensure(spark, requestedSf, out)
          System.err.println(s"[bench] scale upgrade: " +
            s"${if (reused) "reused" else "DERIVED"} 10x corpus at $out " +
            s"(from $requestedSf)")
          (out, Some(requestedSf))
        } catch { case e: Throwable =>
          System.err.println(s"[bench] scale upgrade FAILED ($e) - " +
            s"falling back to $requestedSf")
          (requestedSf, None)
        }
      }

    // Warmup: session/codegen/noop-sink init otherwise lands entirely on
    // the first timed query (alphabetically q01). Warm on a table the
    // queries actually read (events is q01's own input) and SAY SO when
    // warmup fails — a silent no-op hands q01 ~1 s of codegen init.
    try spark.read.parquet(s"$sfDir/events.parquet").limit(1000)
      .write.format("noop").mode("overwrite").save()
    catch { case e: Throwable =>
      System.err.println(s"[bench] warmup failed (q01 will absorb init): $e")
    }
    // NOT warmed: the documents/embeddings q3x family. Measured twice
    // (r12): a gram-pipeline + embeddings warmup moved q30/q31 nowhere
    // (0.24 s → 0.35-0.57 s across two windows) because each query's
    // whole-stage codegen compiles per-plan classes a generic warmup
    // never touches — only the events warmup above has evidence.
    // pre-write the q20-q24 oracle fixtures so a fresh /tmp doesn't
    // charge three parquet-write jobs to the first inspector query's
    // timed region (round-8 review)
    try inspector.SyntheticTraffic.ensureFixtures(spark)
    catch { case e: Throwable =>
      System.err.println(s"[bench] fixture pre-write failed: $e")
    }

    // Floors are per-corpus evidence: `expected` holds sf0.1 gate
    // minima, `expectedScaled` holds 10x-corpus minima — comparing a
    // run against the other scale's numbers would arm the >3x guard
    // and the median-of-3 retry with evidence about a different corpus
    // (the first 10x scale-gate bench burned 58 pointless reruns on
    // exactly this). The basename checks are heuristics, so they are
    // LOUD when they disarm the guard — a renamed copy of an evidence
    // corpus must not silently lose regression coverage.
    // keyed off the corpus that actually RUNS (round-14 review): a
    // direct SPARK_GRAFT_SF_DIR=<scaled dir> run must grade against
    // the scaled block too, not only a run that upgraded to it
    val corpusBase = new java.io.File(sfDir).getName
    val scaledCorpus = scaledFrom.isDefined ||
      corpusBase == new java.io.File(ScaleCorpus.defaultDir).getName
    val floors = if (scaledCorpus) expectedScaled else expected
    val floorsApply = (scaledCorpus && floors.nonEmpty) ||
      (!scaledCorpus && corpusBase == "sf0.1")
    if (!floorsApply)
      System.err.println(s"[bench] floors INACTIVE for $sfDir (not an " +
        "evidence corpus: sf0.1 or the derived 10x corpus): no >3x " +
        "guard, no median-of-3 retry")

    // Quiet-window start gate (round-13 verdict item #2): sample steal
    // over a 10 s window; while contended, back off 30 s and resample,
    // at most 3 times (~2 min worst case), then proceed LOUDLY with
    // contended_start=true in the health preamble. The sampling
    // threshold is 100 ms per 10 s window — an order of magnitude above
    // the measured quiet host (~10 ms/30 s) and below the measured
    // contended one (~1000 ms/30 s).
    val preT0 = System.nanoTime()
    val (_, contendedStart) = quietStart(
      stealWindowMs = () => {
        val s0 = JvmTelemetry.snapshot().stealJiffies
        Thread.sleep(10000)
        (JvmTelemetry.snapshot().stealJiffies - s0) * JvmTelemetry.msPerJiffy
      },
      sleep = () => Thread.sleep(30000),
      maxWaits = 3, thresholdMs = 100L)
    val startWaitMs = (System.nanoTime() - preT0) / 1000000L
    if (contendedStart)
      System.err.println("[bench] PREFLIGHT: retries exhausted, host still " +
        "contended - proceeding; artifact will carry contended_start=true")
    // Whole-SWEEP telemetry baseline: taken after corpus derivation,
    // warmup and the quiet-window preflight, so the health preamble's
    // steal_ms/jit_ms describe the measured region, not setup cost.
    val runJvm0 = JvmTelemetry.snapshot()

    // one rep of one query: stderr start marker attributes any async
    // scheduler noise (e.g. the benign late-task accumulator ERRORs
    // after localCheckpoint cleanup) to the query that provoked it; the
    // `done` line carries the per-query JVM-internals delta (GC vs JIT
    // vs code-cache vs host steal — the r10 drift discriminators); the
    // state sweep runs after every rep, OUTSIDE the timed region.
    def runOnce(name: String, body: () => Unit): (Double, String) = {
      val jvm0 = JvmTelemetry.snapshot()
      val t0 = System.nanoTime()
      val status =
        try { body(); "ok" } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
            "fail"
        }
      val sec = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[bench] $name done $sec%.2fs ${JvmTelemetry.delta(jvm0)}")
      Sessions.dropPersisted(spark, name)
      (sec, status)
    }

    // resolved ONCE, outside any timed region: SparkEntry.queries is a
    // def that re-merges the per-module maps on each call, and the rep
    // lambda's body runs inside runOnce's System.nanoTime window
    val queryFns = SparkEntry.queries
    val (results, repsDetail) = runSweep(
      queryFns.keys.toSeq,
      (name, tag) => {
        System.err.println(s"[bench] $name$tag start")
        val fn = queryFns(name)
        runOnce(s"$name$tag",
          () => fn(spark, sfDir).write.format("noop").mode("overwrite").save())
      },
      floorsApply, floors,
      pauseBeforeDeferred = n => {
        System.err.println(s"[bench] $n deferred rerun would start <30s " +
          "after its own reps (no natural end-of-sweep gap) - pausing 30s")
        Thread.sleep(30000)
      })
    // per-rep detail artifact (median-of-3 retries and deferred
    // reruns): never on stdout — the driver contract
    // stays one JSON line. A failed rep records as a negative time so
    // the artifact keeps per-rep status (a -0.8 rep is a failure at
    // 0.8 s, distinguishable from a fast success).
    if (repsDetail.nonEmpty) {
      val body = repsDetail.map { case (n, rs) =>
        val cells = rs.map { case (t, st) =>
          "%.3f".formatLocal(java.util.Locale.ROOT, if (st == "ok") t else -t)
        }
        s""""${jsonStr(n)}":[${cells.mkString(",")}]"""
      }.mkString("{", ",", "}")
      try Files.writeString(Paths.get("BENCH_REPS.json"),
        s"""{"reps":$body,"sf":"${jsonStr(sfDir)}"}""")
      catch { case _: Throwable => () }
    }
    // Regression guard: compare each time to the committed per-query
    // baseline and SAY SO when one blows past it — round 8 shipped docs
    // claiming 49.4 s while the gate recorded 77.9 s with one query 12×
    // over, and nothing in the output flagged it. Evidence corpora only:
    // a floor says nothing about another corpus's times.
    val slow = if (!floorsApply) Nil else results.collect {
      case (name, sec, "ok")
        if floors.get(short(name)).exists(e => sec > 3 * e && sec - e > 1.5) =>
        System.err.println(
          f"[bench] GUARD: $name took $sec%.2f s vs ~${floors(short(name))}%.2f s baseline (>3x)")
        short(name)
    }
    val runDelta = JvmTelemetry.snapshot()
    // re-sample the process table at end of run: a competitor that
    // STARTED mid-sweep would be invisible to the preflight alone
    val foreignAtEnd = liveForeignJvms()
    if (foreignAtEnd.nonEmpty)
      System.err.println(s"[bench] POSTFLIGHT: ${foreignAtEnd.length} " +
        s"foreign JVM/sbt process(es) live at end of run " +
        s"(pids ${foreignAtEnd.mkString(",")})")
    val health = Health(
      stealMs = (runDelta.stealJiffies - runJvm0.stealJiffies) *
        JvmTelemetry.msPerJiffy,
      jitMs = runDelta.jitMs - runJvm0.jitMs,
      // distinct union, not max of counts: one contaminator exiting
      // mid-sweep while another starts must read as 2, not 1
      foreignJvms = (foreignAtStart ++ foreignAtEnd).distinct.length,
      waitMs = startWaitMs, contendedStart = contendedStart)
    val json = renderJson(results, sfDir, slow, Some(health), scaledFrom)
    try Files.writeString(Paths.get("BENCH_LOCAL.json"), json)
    catch { case _: Throwable => () }
    // Stop Spark (and its late-task log noise) BEFORE the JSON line: the
    // driver keeps only the last 2000 chars of stdout, so anything printed
    // after the line would evict it from the parse window.
    try spark.stop() catch { case _: Throwable => () }
    System.setOut(realOut)
    // print through the captured stream, NOT Predef.println: scala.Console
    // snapshots System.out at Console-object init, which can happen while
    // stdout is redirected — println would then write the JSON to stderr
    realOut.println(json)
    realOut.flush()
  }

  /** Per-query baseline seconds (sf0.1, local[32]) for the >3x guard —
    * REGENERATED, not hand-typed: run `python3 tools/floors.py
    * --from-artifacts` after each round (it globs the repo's
    * BENCH_r*.json gate artifacts itself — no hand-maintained list to
    * forget an artifact from) and review the diff like any other
    * change. The exact provenance of the current block is the
    * parenthesized list on the BEGIN GENERATED FLOORS marker line
    * below — that line, written by the tool, is the single source of
    * truth for which artifacts produced these numbers. Floors are
    * evidence from accepted gate runs (round-9 verdict item #3); a
    * legitimate plan-cost change is accepted by regenerating with the
    * new artifact included. Queries absent from every artifact aren't
    * guarded until a run records them — never invent a number
    * (BenchSpec enforces both directions: no floor outlives its query,
    * and no query ships unguarded without an explicit allowlisting).
    *
    * SEED CARRYOVER (the r17 q122/q123 unguarded-query trip): seed
    * files are consulted per-invocation, never persisted, and apply
    * ONLY to queries absent from every artifact of their block — so a
    * regeneration for a NEW query must re-pass EVERY prior round's
    * SEED_*.json (tools/r17/, tools/r18/, …) alongside the new ones,
    * with the explicit artifact-list form (`--from-artifacts` refuses
    * `--seed`). Dry-run first and check no existing floor line
    * disappears; BenchSpec's two-direction guard is the backstop.
    * Once a gate artifact covers a formerly-seeded query, the artifact
    * wins (even when the seed is lower) per the round-10 rule above.
    *
    * TINY-FLOOR CLAMP (r19 verdict item 5): generated floors are
    * clamped to >= 0.30 s (tools/floors.py FLOOR_MIN, recorded on the
    * provenance line). Sub-0.3 s queries (q82 0.20, q42 0.24, q30
    * 0.31) tripped >= 1.8x ratios in each of r17-r19 purely on
    * JIT/window noise — at that duration a single JIT burst IS a "2x
    * breach"; needsRetry's 0.25 s absolute guard already recognized
    * this for retries, the clamp extends it to the grading ratio.
    */
  private[graft] val expected: Map[String, Double] = Map(
    // BEGIN GENERATED FLOORS (from: BENCH_r07.json BENCH_r08.json BENCH_r09.json BENCH_r10.json BENCH_r11.json BENCH_r12.json BENCH_r13.json --seed SEED_Q119_Q120_SF01.json SEED_Q121_SF01.json SEED_Q122_Q125_SF01.json SEED_Q126_SF01.json SEED_Q127_SF01.json SEED_Q128_Q132_FIX_SF01.json SEED_Q128_SF01.json SEED_Q129_SF01.json SEED_Q130_SF01.json SEED_Q131_SF01.json SEED_Q132_SF01.json SEED_Q133_SF01.json SEED_Q134_Q140_SF01.json SEED_Q141_SF01.json SEED_Q142_Q143_SF01.json | clamped to >= 0.30s)
    "q01" -> 0.93, "q02" -> 0.32, "q03" -> 1.64, "q04" -> 0.30,
    "q05" -> 0.42, "q06" -> 0.62, "q07" -> 0.35, "q08" -> 0.40,
    "q09" -> 0.77, "q10" -> 1.41, "q100" -> 0.77, "q101" -> 1.06,
    "q102" -> 3.81, "q103" -> 0.62, "q104" -> 0.76, "q105" -> 1.11,
    "q106" -> 0.55, "q107" -> 0.89, "q108" -> 0.90, "q109" -> 0.36,
    "q11" -> 0.43, "q110" -> 0.62, "q111" -> 0.77, "q112" -> 1.26,
    "q113" -> 0.30, "q114" -> 0.50, "q115" -> 0.57, "q116" -> 0.62,
    "q117" -> 0.49, "q118" -> 0.38, "q119" -> 0.82, "q12" -> 0.43,
    "q120" -> 0.43, "q121" -> 1.05, "q122" -> 0.68, "q123" -> 0.49,
    "q124" -> 0.75, "q125" -> 0.78, "q126" -> 0.82, "q127" -> 0.46,
    "q128" -> 2.85, "q129" -> 0.68, "q13" -> 0.37, "q130" -> 3.65,
    "q131" -> 1.56, "q132" -> 2.68, "q133" -> 0.79, "q134" -> 2.51,
    "q135" -> 0.49, "q136" -> 0.32, "q137" -> 0.39, "q138" -> 0.35,
    "q139" -> 0.40, "q14" -> 0.30, "q140" -> 0.30, "q141" -> 1.65,
    "q142" -> 6.02, "q143" -> 0.93, "q15" -> 0.57, "q16" -> 0.34,
    "q17" -> 0.34, "q18" -> 0.57, "q20" -> 0.30, "q21" -> 0.38,
    "q22" -> 0.30, "q23" -> 0.30, "q24" -> 0.30, "q30" -> 0.30,
    "q31" -> 0.98, "q32" -> 1.69, "q33" -> 2.25, "q34" -> 0.82,
    "q35" -> 0.34, "q36" -> 0.30, "q37" -> 0.30, "q38" -> 0.30,
    "q39" -> 0.30, "q40" -> 0.42, "q41" -> 0.30, "q42" -> 0.30,
    "q43" -> 0.73, "q44" -> 0.30, "q45" -> 2.88, "q46" -> 0.30,
    "q47" -> 0.56, "q48" -> 0.39, "q49" -> 0.45, "q50" -> 0.41,
    "q51" -> 0.31, "q52" -> 0.30, "q53" -> 0.46, "q54" -> 0.52,
    "q55" -> 0.30, "q56" -> 0.46, "q57" -> 0.30, "q58" -> 1.46,
    "q59" -> 0.40, "q60" -> 0.34, "q61" -> 0.38, "q62" -> 1.92,
    "q63" -> 0.76, "q64" -> 0.32, "q65" -> 0.98, "q66" -> 0.95,
    "q67" -> 0.66, "q68" -> 0.61, "q69" -> 0.84, "q70" -> 0.90,
    "q71" -> 0.44, "q72" -> 0.65, "q73" -> 0.38, "q74" -> 0.30,
    "q75" -> 1.32, "q76" -> 0.45, "q77" -> 0.31, "q78" -> 0.30,
    "q79" -> 0.30, "q80" -> 0.30, "q81" -> 0.30, "q82" -> 0.30,
    "q83" -> 0.74, "q84" -> 0.89, "q85" -> 0.91, "q86" -> 0.45,
    "q87" -> 0.30, "q88" -> 0.85, "q89" -> 0.38, "q90" -> 0.59,
    "q91" -> 0.48, "q92" -> 0.41, "q93" -> 0.39, "q94" -> 0.40,
    "q95" -> 0.98, "q96" -> 1.28, "q97" -> 0.30, "q98" -> 1.13,
    "q99" -> 0.40
    // END GENERATED FLOORS
  )

  /** Per-query baseline seconds on the derived 10x corpus
    * ([[ScaleCorpus]], local[32]) — the floor map the official gate
    * grades against since round 14 (the sweep self-upgrades from sf0.1
    * to the 10x corpus, where plan-cost signal exceeds shared-VM
    * noise). Same regeneration discipline as [[expected]]: written by
    * `python3 tools/floors.py --from-artifacts` from gate artifacts
    * whose "sf" basename is the scaled corpus (seeded for round 14
    * from two committed clean sweeps under tools/r14/ — the first
    * round at a new scale has no gate artifact yet); never hand-typed.
    */
  private[graft] val expectedScaled: Map[String, Double] = Map(
    // BEGIN GENERATED SCALED FLOORS (from: BENCH_r14.json BENCH_r15.json BENCH_r16.json BENCH_r18.json BENCH_r19.json --scaled-seed SEED_Q119_Q120_SF1D.json SEED_Q121_SF1D.json SEED_Q122_Q125_SF1D.json SEED_Q126_SF1D.json SEED_Q127_SF1D.json SEED_Q128_Q132_FIX_SF1D.json SEED_Q128_SF1D.json SEED_Q129_SF1D.json SEED_Q130_SF1D.json SEED_Q131_SF1D.json SEED_Q132_SF1D.json SEED_Q133_SF1D.json SEED_Q134_Q140_SF1D.json SEED_Q141_SF1D.json SEED_Q142_Q143_SF1D.json | clamped to >= 0.30s)
    "q01" -> 0.46, "q02" -> 0.61, "q03" -> 2.84, "q04" -> 0.44,
    "q05" -> 0.70, "q06" -> 0.84, "q07" -> 0.53, "q08" -> 0.65,
    "q09" -> 1.50, "q10" -> 2.21, "q100" -> 0.81, "q101" -> 1.17,
    "q102" -> 3.70, "q103" -> 0.67, "q104" -> 1.23, "q105" -> 1.47,
    "q106" -> 0.55, "q107" -> 1.00, "q108" -> 1.38, "q109" -> 0.47,
    "q11" -> 0.89, "q110" -> 0.74, "q111" -> 0.86, "q112" -> 1.61,
    "q113" -> 0.32, "q114" -> 0.49, "q115" -> 0.71, "q116" -> 1.25,
    "q117" -> 0.64, "q118" -> 0.46, "q119" -> 1.12, "q12" -> 0.70,
    "q120" -> 0.57, "q121" -> 1.49, "q122" -> 1.08, "q123" -> 0.85,
    "q124" -> 0.97, "q125" -> 1.05, "q126" -> 1.27, "q127" -> 0.63,
    "q128" -> 4.64, "q129" -> 1.22, "q13" -> 0.63, "q130" -> 3.50,
    "q131" -> 2.57, "q132" -> 4.24, "q133" -> 1.25, "q134" -> 1.85,
    "q135" -> 0.67, "q136" -> 0.37, "q137" -> 0.53, "q138" -> 0.38,
    "q139" -> 0.52, "q14" -> 0.65, "q140" -> 0.31, "q141" -> 2.05,
    "q142" -> 5.72, "q143" -> 0.91, "q15" -> 0.65, "q16" -> 0.47,
    "q17" -> 0.43, "q18" -> 1.39, "q20" -> 0.30, "q21" -> 0.40,
    "q22" -> 0.30, "q23" -> 0.32, "q24" -> 0.30, "q30" -> 0.31,
    "q31" -> 1.97, "q32" -> 2.51, "q33" -> 1.68, "q34" -> 1.10,
    "q35" -> 0.46, "q36" -> 0.38, "q37" -> 0.30, "q38" -> 0.30,
    "q39" -> 0.98, "q40" -> 0.42, "q41" -> 0.30, "q42" -> 0.30,
    "q43" -> 0.82, "q44" -> 0.30, "q45" -> 3.43, "q46" -> 0.30,
    "q47" -> 0.68, "q48" -> 0.51, "q49" -> 0.73, "q50" -> 0.52,
    "q51" -> 0.67, "q52" -> 0.30, "q53" -> 1.68, "q54" -> 0.66,
    "q55" -> 0.30, "q56" -> 0.76, "q57" -> 0.39, "q58" -> 1.87,
    "q59" -> 0.40, "q60" -> 0.54, "q61" -> 0.40, "q62" -> 1.18,
    "q63" -> 1.24, "q64" -> 0.48, "q65" -> 2.06, "q66" -> 1.22,
    "q67" -> 0.56, "q68" -> 0.84, "q69" -> 2.15, "q70" -> 2.00,
    "q71" -> 0.71, "q72" -> 1.38, "q73" -> 0.48, "q74" -> 0.40,
    "q75" -> 1.53, "q76" -> 0.55, "q77" -> 0.83, "q78" -> 0.30,
    "q79" -> 0.32, "q80" -> 0.43, "q81" -> 0.40, "q82" -> 0.30,
    "q83" -> 1.04, "q84" -> 1.18, "q85" -> 1.37, "q86" -> 0.59,
    "q87" -> 0.70, "q88" -> 1.86, "q89" -> 0.46, "q90" -> 0.82,
    "q91" -> 0.59, "q92" -> 1.63, "q93" -> 0.43, "q94" -> 0.51,
    "q95" -> 2.20, "q96" -> 0.96, "q97" -> 0.41, "q98" -> 1.41,
    "q99" -> 0.38
    // END GENERATED SCALED FLOORS
  )

  /** One JSON line for the driver. The driver keeps only the LAST 2000
    * characters of stdout and parses the JSON line out of that window —
    * round 4's line (with a per-query status map) grew to 2045 chars and
    * its head fell outside the window, costing the round its bench score.
    * So: no per-query status map (failures-only list, normally absent),
    * and BenchSpec pins the worst-case rendered length well under the
    * window minus sbt's trailing output.
    */
  def renderJson(results: Seq[(String, Double, String)], sfDir: String,
                 slow: Seq[String] = Nil, health: Option[Health] = None,
                 scaledFrom: Option[String] = None): String = {
    // Locale.ROOT: the f-interpolator is locale-sensitive and a comma
    // decimal separator would produce unparseable JSON
    def d3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    // per-query times at 2 decimals: 10 ms resolution is ample and the
    // saved character per entry keeps 60+ queries inside the tail window
    def d2(v: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    // Keys are shortened to their unique "qNN" prefix: the full names cost
    // ~15 chars each, which at 69 queries is the whole tail-window budget.
    // Two names sharing a qNN prefix would silently collide into duplicate
    // JSON keys; fall back to the full names for just those.
    val collide = results.map(t => short(t._1))
      .groupBy(identity).collect { case (p, g) if g.size > 1 => p }.toSet
    def key(k: String): String = if (collide(short(k))) k else short(k)
    def qsWith(fmt: Double => String): String = results
      .collect { case (k, v, "ok") => s""""${key(k)}":${fmt(v)}""" }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v, "ok") => v }.sum
    val fails = results.collect { case (k, _, s) if s != "ok" => s""""$k"""" }
    // fails capped at 6 names so even an everything-failed render stays
    // inside the tail window; "failed" keeps the exact count.
    val failPart =
      if (fails.isEmpty) s""""failed":0"""
      else s""""failed":${fails.length},"fails":${fails.take(6).mkString("[", ",", "]")}"""
    // >3x-baseline guard hits, qNN names capped at 4 (tail-window budget);
    // absent entirely in the normal all-green render
    val slowPart =
      if (slow.isEmpty) ""
      else s""","slow":${slow.take(4).map(s => s""""$s"""").mkString("[", ",", "]")}"""
    // whole-run machine-health deltas (steal/JIT/foreign-JVM count): a
    // contaminated gate artifact then carries its own diagnosis
    val hostPart = health.map(h => "," + h.json).getOrElse("")
    // provenance of a scale-upgraded run: "sf" is the corpus that RAN,
    // "scaled_from" the corpus the driver requested (absent otherwise)
    val scalePart = scaledFrom
      .map(s => s""","scaled_from":"${jsonStr(s)}"""").getOrElse("")
    def assemble(qs: String): String =
      s"""{"metric":"total","value":${d3(total)},"unit":"sec","queries":$qs,$failPart$slowPart$hostPart$scalePart,"sf":"${jsonStr(sfDir)}"}"""
    // The line must START inside the driver's 2000-char stdout tail
    // window (the round-4 lesson above). Past ~133 queries a worst-case
    // render (every query at 99.99 s) no longer fits at uniform 2-dp
    // precision, so the renderer guarantees the budget BY CONSTRUCTION:
    // if (and only if) the assembled line would overflow, times >= 10 s
    // degrade to whole seconds (a <= 0.5 s rendering error on a query
    // that slow, far inside the 2x/3x guard bands — and a real sweep
    // never triggers this: the observed 134-query 10x line is ~1670
    // chars of sub-10 s times; BENCH JSON artifacts keep full
    // per-query resolution for every run that matters).
    val full = assemble(qsWith(d2))
    if (full.length <= TailBudget) full
    else assemble(qsWith(v =>
      if (v < 10) d2(v)
      else "%.0f".formatLocal(java.util.Locale.ROOT, v)))
  }

  /** Worst-case budget for the stdout JSON line: the driver's tail
    * window is 2000 chars; 100 chars of trailer allowance retained
    * (measured r19/r20: sbt -batch with StdoutOutput emits no trailer).
    * BenchSpec pins the worst-case render against this same constant.
    */
  private[graft] val TailBudget = 1900
}
