package graft

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic ~10x (sf1-equivalent) bench corpus, derived from the
  * read-only sf0.1 testdata by unioning [[Replicas]] id-remapped
  * replicas — the one derivation of the scaled corpus, so that
  * [[Bench]] can self-provision it at gate time instead of depending on
  * a /tmp directory surviving between runs.
  *
  * WHY the official bench moved here (round-13 verdict item #1): at
  * sf0.1, 80+ of the 112 queries run under one second, where timer
  * jitter, JIT warm-up and hypervisor steal dominate — three straight
  * rounds spent adjudicating sub-second noise (q45/q96 in r12, q10 in
  * r13) while the 10x corpus is where plan-cost signal actually
  * exceeds shared-VM noise. Timings at this scale are graded against
  * the SCALED floor block in [[Bench.expectedScaled]].
  *
  * The id offsets preserve every modular contract the queries rely on
  * ([[Remap]] is the one source of truth for them):
  *   - doc_id offset is a multiple of 20 (q49/q104/q108/q112's
  *     `doc_id % 20 == 0` benchmark slice keeps its 5% share per
  *     replica)
  *   - vec_id offset is even (q110's even/odd snapshot halves)
  *   - texts/embeddings/ts are NOT perturbed in replicas 0..9: the gate
  *     corpus is exact content duplicates — precisely the duplication
  *     stress the dedup family must absorb via caps, not pair blowups.
  *     PROBE replicas (k >= 10, only reached at --replicas > 10) plant
  *     near-dup tails on a small documents slice (see [[plantDocs]]) so
  *     the df-capped gram family stays non-vacuous at 100x
  *   - dimension tables copy through unchanged; fact foreign keys
  *     stay valid (cust/order keys shift consistently, so joins land
  *     inside each replica)
  *
  * Reuse is decided by a marker file carrying a fingerprint of the
  * SOURCE corpus (file sizes — the testdata is read-only, so size
  * identity is a faithful proxy) plus the derivation version, PLUS the
  * derived tables' own file-count/byte totals: `ready` recomputes the
  * derived stats from the live directory, so a corpus corrupted AFTER
  * marker creation (partial deletion inside a table dir, disk-full
  * truncation) fails the check and re-derives instead of being reused
  * indefinitely (v1 only checked marker text + dir existence).
  *
  * Derivation writes into a UUID-suffixed sibling STAGING directory and
  * publishes with one atomic rename (the [[Fs.publish]] rule, plus
  * replacing a stale corpus and waiting out a rival): a crash
  * mid-derive leaves the previous corpus untouched and only staging
  * garbage behind, and two JVMs racing the derivation
  * (Bench's self-upgrade vs tools/scale_gate.py) can no longer
  * interleave overwrite-mode writes into the same table dirs — the
  * loser of the publish race discards its staging copy (identical
  * content by construction, so losing is benign).
  *
  * All id columns are int64 in the source parquet, so `col + lit`
  * with Long offsets preserves the schema exactly.
  */
object ScaleCorpus {

  /** Bump when the derivation rules change: a stale corpus then fails
    * the marker check and re-derives, instead of silently timing a
    * different dataset than the floors were evidenced on.
    * v2: marker carries derived-table stats (content verification).
    * v3: probe replicas (k >= [[PlantFrom]]) plant near-dup tails on a
    *     slice of documents (see [[plantDocs]]); replicas 0..9 are
    *     byte-identical to v2, so the official 10x gate corpus (and the
    *     floors evidenced on it) is unchanged — only stale PROBE corpora
    *     re-derive.
    * v4: tail tokens come from the fixed [[PlantPool]] instead of being
    *     minted per (window, k) — v3's minted tokens blew q61's
    *     MisraGries exactness bound at 100x (see [[PlantPool]]).
    *     Replicas 0..9 still byte-identical to v2.
    * v5: planting also refreshes n_chars (= length of the planted
    *     text) — v4 left the source n_chars on planted rows, making
    *     the corpus internally inconsistent and, because
    *     FixtureOracles.corpusKey is n_chars-weighted, silently reusing
    *     STALE fixtures across plant revisions (8 fixture-oracle
    *     mismatches at the v4 probe). Replicas 0..9 still
    *     byte-identical to v2.
    */
  val Version = "graft-scale-v5"

  /** Default replica count (the official ~10x gate corpus). Every
    * entry point takes an explicit `replicas` so probe corpora at
    * other scales (e.g. 100 for the ~sf10 linearity/oracle probes)
    * derive through the SAME rules and marker protocol; the offsets
    * are per-replica multiples, so any count that keeps
    * `max(id) < offset` per table (asserted in [[derive]]) is safe.
    */
  val Replicas = 10

  /** Dimension tables: copied through unchanged. */
  val CopyTables: Seq[String] = Seq("region", "nation", "part", "supplier")

  /** Fact tables with their per-replica id offsets (offset k uses
    * `+ offset * k`). Offsets sit above each sf0.1 max key; see the
    * object doc for the modular contracts they preserve.
    */
  val Remap: Seq[(String, Seq[(String, Long)])] = Seq(
    "documents"  -> Seq("doc_id" -> 5000L),
    "embeddings" -> Seq("vec_id" -> 2000L),
    "events"     -> Seq("event_id" -> 100000L, "user_id" -> 1500L),
    "orders"     -> Seq("o_orderkey" -> 150000L, "o_custkey" -> 15000L),
    "lineitem"   -> Seq("l_orderkey" -> 150000L),
    "customer"   -> Seq("c_custkey" -> 15000L))

  def tables: Seq[String] = CopyTables ++ Remap.map(_._1)

  /** Where the derived corpus lives. The basename ("graft_sf1d") is
    * ALSO the discriminator `tools/floors.py` uses to route a gate
    * artifact's times into the scaled floor block — override the dir
    * only with a path that keeps the basename, or floors stop
    * regenerating from the artifacts produced there.
    */
  def defaultDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SCALED_DIR", "/tmp/graft_sf1d")

  private def marker(outDir: String) = Paths.get(outDir, "_GRAFT_SCALE_OK")

  /** Source-corpus identity: derivation version, replica count, and
    * each source table's file size. Pure file metadata — the readiness
    * check must not need a Spark job.
    */
  def fingerprint(srcDir: String, replicas: Int = Replicas): String = {
    val sizes = tables.map { t =>
      s"$t:${new File(srcDir, s"$t.parquet").length}"
    }
    (s"$Version x$replicas" +: sizes).mkString("\n")
  }

  /** Data-file count and byte total of one derived table dir — the
    * marker's content-verification leg. Pure directory listing (no
    * Spark job); dotfiles (_SUCCESS stays, .crc are dot-prefixed) and
    * subdirs are ignored the same way on write and re-check.
    */
  private def derivedStats(outDir: String, t: String): String = {
    val fs = Option(new File(outDir, s"$t.parquet").listFiles())
      .getOrElse(Array.empty[File])
      .filter(f => f.isFile && !f.getName.startsWith("."))
    s"derived:$t:${fs.length}:${fs.map(_.length).sum}"
  }

  /** Full marker text: source fingerprint + per-derived-table stats.
    * [[ready]] recomputes this from the live directories, so both a
    * changed source AND post-derivation corruption invalidate it.
    */
  private def markerText(srcDir: String, outDir: String, replicas: Int): String =
    (fingerprint(srcDir, replicas) +: tables.map(t => derivedStats(outDir, t)))
      .mkString("\n")

  /** Is a previously-derived corpus at `outDir` current for `srcDir`?
    * True iff the stored marker equals the recomputed marker text —
    * which binds the source identity (version, replicas, source sizes)
    * and the derived content (per-table file counts and byte totals,
    * re-measured now). A deleted table dir, a missing part file, or a
    * truncated one all change the recomputed text and fail the check.
    */
  def ready(srcDir: String, outDir: String, replicas: Int = Replicas): Boolean =
    try {
      Files.exists(marker(outDir)) &&
        new String(Files.readAllBytes(marker(outDir)), StandardCharsets.UTF_8) ==
          markerText(srcDir, outDir, replicas)
    } catch { case _: Throwable => false }

  /** First replica index that plants near-dup tails on documents, and
    * the base-id stride: within each planted replica, docs with
    * `doc_id % PlantStride ∈ {0, 1}` (an even/odd ADJACENT pair per
    * stride window) get a shared [[PlantTailTokens]]-token tail keyed by
    * (doc_id div stride, k).
    *
    * WHY (r19 verdict item 2): at 100x pure replication every gram's
    * df ≈ 100 exceeds Dedup's DfCap 50, so the whole q33 family
    * (q33/q45/q62/q102/q128/q130/q132) returns 0 rows at the probe — the
    * capped-pair machinery was short-circuited exactly where AQE replans
    * differently. The planted pair's interior tail grams have df = 2 at
    * EVERY scale (the tail is unique to one (stride-window, replica)),
    * so once replication exceeds DfCap the pair's kept-gram sets are
    * exactly the 10 shared interior grams → jaccard 1.0 candidates that
    * exercise pair expansion, components, election and remap for real.
    * The two boundary grams (doc words + first tail tokens) are df = 1
    * and drop out of the [2, DfCap] window. The pair is (even, odd) by
    * construction (q62's reference/increment straddle) and adjacent ids
    * land in different md5 splits often enough for q130's cross-split
    * leakage. Replicas below PlantFrom are untouched, so any corpus with
    * replicas <= 10 — the official gate corpus — is byte-identical to v2.
    */
  val PlantFrom = Replicas
  val PlantStride = 50L
  val PlantTailTokens = 12

  /** Plant-tail vocabulary: a FIXED 64-token pool + one marker rather
    * than tokens minted per (window, k). Minted tokens made the tail
    * GRAMS unique trivially — but also added ~108k distinct tokens at
    * the 100x probe, blowing q61's MisraGriesTopK(cap=256) past its
    * exactness bound (#distinct <= cap) and decaying every heavy
    * hitter's count (observed: top-10 counts short by ~100-400 at
    * 100x, ranks intact). The pool form keeps per-lang vocabulary at
    * 31 corpus words + 65 plant words, far inside the sketch cap.
    */
  private[graft] val PlantPool: Seq[String] = (0 until 64).map(i => s"pv$i")
  private[graft] val PlantMarker = "pvm"

  /** The planted tail for replica `k` — 12 tokens, DETERMINISTICALLY
    * gram-unique per (window, k): with u = window*128 + k and
    * (d1, d2, d3) its base-64 digits, the tail is
    *
    *   M p[d1] p[d2] p[d3]  M p[d3] p[d2] p[d1]  M p[d1] p[d3] p[d2]
    *
    * (M = [[PlantMarker]]). Identical for the window's two docs, so
    * every interior 3-gram is shared by exactly that pair plus the few
    * windows whose digits collide on a SUBSET: the full digit triple
    * (d1,d2,d3) is unique to u (u < 64^3), its reversal/rotation forms
    * match at most a handful of other windows (df <= ~10), while the
    * coarse grams (single-digit patterns like (d3,M,d3), or (M,d1,d2)
    * shared by a whole half-window run of k) exceed DfCap and drop —
    * SYMMETRICALLY for both docs, so the pair's kept gram sets stay
    * equal. Boundary grams (doc's last words + M) are shared by every
    * planted replica of the same source doc AND every source doc with
    * the same last word (31-word vocab), so their df is in the
    * hundreds and they drop too: each planted pair's kept sets are
    * exactly the 4-8 fine tail grams, jaccard exactly 1.0, and a
    * cross-window gram collision contributes 1 shared gram of >= 4 —
    * far below the 0.8 bar, so no spurious pairs. (The first, hashed
    * tail design gave most of this probabilistically and lost ~0.6% of
    * planted pairs to token-repeat degeneracies; this one is exact.)
    */
  private[graft] def plantTail(k: Int): Column = {
    val pool = array(PlantPool.map(lit): _*)
    val u = s"((doc_id div $PlantStride) * 128 + $k)"
    def d(div: Long): Column =
      element_at(pool, expr(s"cast((($u div $div) % 64) + 1 as int)"))
    val (m, d1, d2, d3) = (lit(PlantMarker), d(4096L), d(64L), d(1L))
    concat(lit(" "), concat_ws(" ",
      m, d1, d2, d3, m, d3, d2, d1, m, d1, d3, d2))
  }

  /** Apply the probe-mode near-dup plant to a BASE-id documents frame
    * (called before the replica's id shift so the plant keys off the
    * source doc_id). Identity for k < [[PlantFrom]].
    */
  private[graft] def plantDocs(df: DataFrame, k: Int): DataFrame =
    if (k < PlantFrom) df
    else {
      // u = window*128 + k is unique only below 128 replicas; a larger
      // probe must widen the digit layout, not silently alias tails
      require(k < 128, s"plantTail: replica $k aliases u = window*128 + k")
      val planted = col("text").isNotNull && col("doc_id") % PlantStride < 2
      // n_chars is derived from text in the source corpus (n_chars ==
      // length(text) row-for-row) — the plant must preserve that
      // invariant or the corpus is internally inconsistent AND every
      // n_chars-keyed identity (FixtureOracles.corpusKey's
      // sum((doc_id+1)*n_chars)) reuses stale fixtures across plant
      // revisions (the v4 probe's 8 fixture mismatches).
      val texted = df.withColumn("text",
        when(planted, concat(col("text"), plantTail(k)))
          .otherwise(col("text")))
      // projected frames without n_chars (gram-level tests) pass through
      if (!df.columns.contains("n_chars")) texted
      else texted.withColumn("n_chars",
        when(planted, length(col("text")).cast("long"))
          .otherwise(col("n_chars")))
    }

  private def replicate(df: DataFrame, shifts: Seq[(String, Long)],
                        replicas: Int,
                        perReplica: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until replicas).map { k =>
      shifts.foldLeft(perReplica(df, k)) { case (d, (c, off)) =>
        d.withColumn(c, col(c) + lit(off * k))
      }
    }.reduce(_.unionByName(_))

  /** Derive the corpus into a staging sibling, then publish it with one
    * atomic rename; stamp the marker (with derived-table stats) INSIDE
    * staging before the rename, so no observer ever sees a marker
    * without the exact bytes it describes. Before replicating each fact
    * table, assert the disjointness precondition against the corpus
    * actually being derived: every shifted column's max must sit BELOW
    * its per-replica offset, or replica id ranges would overlap and
    * silently corrupt every id-keyed contract downstream.
    */
  def derive(spark: SparkSession, srcDir: String, outDir: String,
             replicas: Int = Replicas): Unit = {
    val out = Paths.get(outDir).toAbsolutePath
    Files.createDirectories(out.getParent)
    // `.staging-*` / `.old-*` siblings of a HARD-crashed earlier derive
    // (kill -9 / OOM skips the catch below): corpus-sized, and no other
    // sweeper matches their names. Idle-scoped, so a concurrent
    // deriver's live staging dir, still landing part files deep in its
    // tree, is never touched.
    val base = out.getFileName.toString
    Fs.sweepIdle(out.getParent, Fs.IdleMs) { p =>
      val n = p.getFileName.toString
      n.startsWith(s"$base.staging-") || n.startsWith(s"$base.old-")
    }.foreach(p => System.err.println(s"[scale-corpus] swept orphaned $p"))
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val staging = out.resolveSibling(s"$base.staging-$tag")
    try {
      Files.createDirectories(staging)
      for (t <- CopyTables)
        spark.read.parquet(s"$srcDir/$t.parquet")
          .write.mode("overwrite").parquet(s"$staging/$t.parquet")
      for ((t, shifts) <- Remap) {
        val df = spark.read.parquet(s"$srcDir/$t.parquet")
        val maxes = df.agg(max(col(shifts.head._1)),
          shifts.tail.map(s => max(col(s._1))): _*).head()
        shifts.zipWithIndex.foreach { case ((c, off), i) =>
          val mx = if (maxes.isNullAt(i)) Long.MinValue else maxes.getLong(i)
          require(mx < off,
            s"ScaleCorpus: $t.$c max id $mx >= replica offset $off — " +
              "replicas would collide; raise the offset for this source")
        }
        val perReplica: (DataFrame, Int) => DataFrame =
          if (t == "documents") plantDocs else (d, _) => d
        replicate(df, shifts, replicas, perReplica)
          .write.mode("overwrite").parquet(s"$staging/$t.parquet")
      }
      Files.write(staging.resolve("_GRAFT_SCALE_OK"),
        markerText(srcDir, staging.toString, replicas)
          .getBytes(StandardCharsets.UTF_8))
      publishStaging(staging, out, srcDir, replicas)
    } catch {
      case e: Throwable => Fs.deleteTree(staging); throw e
    }
  }

  /** Atomic publish of a fully-written staging corpus. Losing a race to
    * a concurrent deriver is benign — the derivation is deterministic,
    * so a corpus that is `ready` now has identical content; the loser
    * just discards its staging copy.
    */
  private def publishStaging(staging: java.nio.file.Path,
      out: java.nio.file.Path, srcDir: String, replicas: Int): Unit = {
    import java.nio.file.StandardCopyOption.ATOMIC_MOVE
    // the staging copy is COMPLETE and correct by the time we are here —
    // before giving up on any race with a rival publisher, briefly
    // re-poll for the rival's finished corpus (its directory rename is
    // atomic, so `ready` flips in one step)
    def rivalFinished(): Boolean = {
      val deadline = System.currentTimeMillis() + 30000
      while (System.currentTimeMillis() < deadline) {
        if (ready(srcDir, out.toString, replicas)) return true
        Thread.sleep(500)
      }
      false
    }
    if (Files.exists(out)) {
      if (ready(srcDir, out.toString, replicas)) { Fs.deleteTree(staging); return }
      val old = out.resolveSibling(s"${out.getFileName}.old-${staging.getFileName.toString.takeRight(8)}")
      try Files.move(out, old)
      catch { case e: Throwable =>
        // someone else just vacated/replaced it; reuse theirs if valid
        if (ready(srcDir, out.toString, replicas)) { Fs.deleteTree(staging); return }
        // out may be briefly ABSENT (a rival mid-publish vacated the
        // slot): claim it with our own valid staging copy rather than
        // discarding a fully-derived corpus (r16 advice) — and only if
        // the claim also fails, wait the rival out before rethrowing
        try { Files.move(staging, out, ATOMIC_MOVE); return }
        catch { case _: Throwable => () }
        if (rivalFinished()) { Fs.deleteTree(staging); return }
        throw e
      }
      Fs.deleteTree(old)
      if (Files.exists(old))
        System.err.println(s"[scale-corpus] WARNING: could not fully delete " +
          s"$old — a corpus-sized orphan remains (next derive sweeps it)")
    }
    try Files.move(staging, out, ATOMIC_MOVE)
    catch { case e: Throwable =>
      if (rivalFinished()) Fs.deleteTree(staging)
      else throw e
    }
  }

  /** Reuse the corpus when current, derive it otherwise. Returns true
    * when the corpus was reused, false when it was (re)derived — the
    * caller logs which, so a gate artifact's stderr records whether
    * derivation time preceded the sweep.
    */
  def ensure(spark: SparkSession, srcDir: String, outDir: String,
             replicas: Int = Replicas): Boolean = {
    val reused = ready(srcDir, outDir, replicas)
    if (!reused) derive(spark, srcDir, outDir, replicas)
    reused
  }

  /** Manual CLI: `sbt "runMain graft.ScaleCorpus [srcDir] [outDir] [replicas]"`. */
  def main(args: Array[String]): Unit = {
    val srcDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else defaultDir
    val replicas = if (args.length > 2) args(2).toInt else Replicas
    val spark = Sessions.tune(SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val reused = ensure(spark, srcDir, outDir, replicas)
    println(s"[scale-corpus] ${if (reused) "reused" else "derived"} $outDir from $srcDir (x$replicas)")
    spark.stop()
  }
}
