package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

import graft.SparkSpec

/** Physical-plan regression guards for the scale-critical properties:
  * filter/projection pushdown into the parquet scan, broadcast of the
  * dimension sides, and the absence of unbounded shuffles where the
  * operator promises map-side pruning. These are the properties that
  * decide whether a plan survives a 100x scale-up — locked in as tests so
  * a refactor can't silently regress them.
  */
class PlanAuditSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  // executed(df) — the AQE-unwrapping plan helper — now lives in SparkSpec
  // (shared with the per-module plan tests).

  private def planString(q: String): String = {
    val df = graft.SparkEntry.queries(q)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  /** [[planString]] followed by the plan behind every checkpoint the
    * query reads ([[Materialize.sources]]), so guards that audit the
    * PRE-checkpoint part of a pipeline (the gram-space aggregates q69/q70
    * hide behind their r21 checkpoint) see the whole pipeline, not only
    * a `Scan ExistingRDD` stub.
    */
  private def fullPlanString(q: String): String = {
    val df = graft.SparkEntry.queries(q)(spark, sf)
    (df +: Materialize.sources(df)).map(_.queryExecution.executedPlan.toString)
      .mkString("\n")
  }

  /** No document body may cross a shuffle: neither the raw `text` column
    * nor any string-array column (a tokenize/gram recomputation pushed
    * past the exchange is the same corpus-scale payload under another
    * name — the rename is exactly the regression a name-only check
    * misses).
    */
  /** Every way a corpus-scale payload can ride a shuffle, as a violation
    * list — ONE definition shared by the per-query guards and the
    * ALL-queries sweep, so tightening the rule tightens both.
    */
  private def bodyViolations(plan: SparkPlan): Seq[String] = {
    import org.apache.spark.sql.types.{ArrayType, StringType}
    plan.collect { case e: ShuffleExchangeExec => e }.flatMap { e =>
      e.child.output.flatMap { a =>
        val isTokenArray = a.dataType match {
          case ArrayType(StringType, _) => true
          case _ => false
        }
        (if (a.name == "text") Seq("document bodies cross an exchange")
         else Nil) ++
          (if (isTokenArray)
             Seq(s"string-array (token/gram) column '${a.name}' crosses an exchange")
           else Nil)
      }
    }
  }

  private def assertBodyFreeExchanges(plan: SparkPlan): Unit = {
    val v = bodyViolations(plan)
    assert(v.isEmpty, s"${v.mkString("; ")}:\n$plan")
  }

  test("ALL queries: no document body or token array in any exchange; no cartesian product") {
    // the universal form of the per-query guards: every registered
    // plan must keep corpus-scale payloads (text, string arrays) out of
    // every shuffle and never degenerate to a non-broadcast cartesian.
    // Plan inspection itself is cheap, but NOT free end to end: a few
    // query CONSTRUCTORS run bounded fit jobs eagerly before a plan
    // exists (q78/q94 BPE learn, q60 PCA sample, the IVF/ANN centroid
    // fits), so the sweep costs roughly one model-fit pass per such
    // query — acceptable at sf0.001, but don't assume adding queries
    // here is zero-cost.
    import scala.util.control.NonFatal
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    for ((name, fn) <- graft.SparkEntry.queries.toSeq.sortBy(_._1)) {
      try {
        val plan = executed(fn(spark, sf))
        failures ++= bodyViolations(plan).map(v => s"$name: $v")
        if (plan.toString.contains("CartesianProduct"))
          failures += s"$name: cartesian product in the plan"
      } catch {
        case NonFatal(e) => failures += s"$name: planning failed: $e"
      }
    }
    assert(failures.isEmpty, failures.distinct.mkString("\n"))
  }

  test("q02: filter AND projection reach the parquet scan") {
    val p = planString("q02_filter_project")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("IsNotNull(event_type)") || p.contains("EqualTo(event_type,purchase)"), p)
    // pruned read schema: only the 4 needed columns, not props/ts
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("props"), readSchema)
  }

  test("q10: dimension joins broadcast, fact side never broadcast") {
    val p = planString("q10_hot_regions")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
  }

  test("q01: aggregation is partial (map-side combine before the shuffle)") {
    val p = planString("q01_method_counts")
    assert(p.contains("HashAggregate"), p)
    // partial + final pair means map-side combine happened
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q35: the corpus is pruned before any exchange (per-partition top-k)") {
    val df = graft.SparkEntry.queries("q35_ann_topk")(spark, sf)
    val plan = executed(df)
    // every shuffle in the plan must sit ABOVE the mapPartitions pruning:
    // no ShuffleExchange may have the parquet scan of the corpus as a
    // descendant without the SerializeFromObject (mapPartitions) between
    val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
    shuffles.foreach { s =>
      val hasScanBelow = s.child.collect {
        case f if f.nodeName.contains("Scan parquet") => f
      }.nonEmpty
      val hasPruneBelow = s.child.collect {
        case f if f.nodeName.contains("SerializeFromObject") => f
      }.nonEmpty
      assert(!hasScanBelow || hasPruneBelow,
        s"shuffle over unpruned corpus:\n$s")
    }
  }

  test("q127: corpus pruned before any exchange; query batch broadcast, corpus never") {
    // q35's guard applied to the hard-negative miner: every shuffle must
    // sit above the mapPartitions heap pruning, and the scoring join
    // must broadcast the query batch (a SortMergeJoin would shuffle the
    // 100 TB side on the join predicate)
    val df = graft.SparkEntry.queries("q127_hard_negatives")(spark, sf)
    val plan = executed(df)
    val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
    shuffles.foreach { s =>
      val hasScanBelow = s.child.collect {
        case f if f.nodeName.contains("Scan parquet") => f
      }.nonEmpty
      val hasPruneBelow = s.child.collect {
        case f if f.nodeName.contains("SerializeFromObject") => f
      }.nonEmpty
      assert(!hasScanBelow || hasPruneBelow,
        s"q127: shuffle over unpruned corpus:\n$s")
    }
    assert(plan.toString.contains("BroadcastHashJoin") ||
      plan.toString.contains("BroadcastNestedLoopJoin"), plan.toString)
    assert(!plan.toString.contains("SortMergeJoin"), plan.toString)
  }

  test("q34: banded candidates are cap-bounded; no cross join") {
    val p = planString("q34_embed_neardup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the bucket-size cap filter (bucketPairs' `bsz`) must be in the plan —
    // its absence means q34 regressed to the uncapped all-pairs self-join
    assert(p.contains("bsz"), p)
  }

  test("q34/q36 plan construction runs no corpus-pass driver actions") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        j.stageInfos.foreach(si => stages.add(si.name))
    }
    spark.sparkContext.addSparkListener(l)
    try {
      graft.SparkEntry.queries("q34_embed_neardup")(spark, sf)
      graft.SparkEntry.queries("q36_ann_lsh")(spark, sf)
      org.apache.spark.graft.TestBridge.waitUntilListenerBusEmpty(spark.sparkContext)
      // parquet footer/schema metadata jobs ("parquet at ...") are fine;
      // a `count at Similarity.scala` stage is the round-3 regression this
      // guard exists to catch (a full corpus pass per plan construction)
      val passes = stages.toArray(Array.empty[String])
        .filter(n => n.contains("count at") || n.contains("collect at"))
      assert(passes.isEmpty,
        s"corpus-sizing must come from statistics/hints, not plan-time actions: $passes")
      // q43's explicit train step may run its bounded limit-sample collect
      // (first partitions only) — but never a count
      stages.clear()
      graft.SparkEntry.queries("q43_ann_ivf")(spark, sf)
      org.apache.spark.graft.TestBridge.waitUntilListenerBusEmpty(spark.sparkContext)
      val counts = stages.toArray(Array.empty[String]).filter(_.contains("count at"))
      assert(counts.isEmpty, s"q43 must not count the corpus: $counts")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("q58: banded media candidates are cap-bounded; no cross join") {
    val p = planString("q58_media_neardup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("bsz"), p)
  }

  test("q59: rates broadcast as a local relation; the corpus filter is map-side") {
    val p = planString("q59_mix_sample")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the rate table is driver-computed: no Window and no second corpus
    // aggregate may appear inside the query's own plan
    assert(!p.contains("Window"), p)
  }

  test("q61: the sketch aggregates partially before the lang shuffle") {
    val p = planString("q61_vocab_topk")
    // TypedImperativeAggregate runs as ObjectHashAggregate with a partial
    // pass before the exchange and a merge pass after: cap counters per
    // partial cross the wire, never the token space
    assert(p.contains("ObjectHashAggregate"), p)
    assert("misra_gries_topk".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q62: no cross join; argmax pruned to top-1 before its exchange") {
    val p = planString("q62_incr_dedup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // (the capped posting-list aggregate lives behind jaccardPairs'
    // Materialize boundary — not visible in this plan; q33's spec owns it)
    // row_number()=1 must run as a partial WindowGroupLimit so each task
    // ships at most one candidate per doc into the window exchange
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q64: chunking is a shuffle-free scan projection") {
    val plan = executed(graft.SparkEntry.queries("q64_chunk")(spark, sf))
    assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      plan.toString)
  }

  test("q75/q79: url canonicalization and importance sampling are shuffle-free") {
    Seq("q75_url_normalize", "q79_importance_sample").foreach { q =>
      val plan = executed(graft.SparkEntry.queries(q)(spark, sf))
      assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        s"$q:\n$plan")
    }
  }

  test("q81: global rank is sort+zipWithIndex — no single-partition window") {
    // the pre-round-8 plan ranked with an UNPARTITIONED row_number window
    // (one reducer holds the whole vocabulary — the round-7 verdict's
    // `weak` item); the fix is a range-partitioned sort + zipWithIndex,
    // so no Window node may appear anywhere in the final plan
    val df = graft.SparkEntry.queries("q81_vocab_ids")(spark, "/root/testdata/sf0.001")
    assert(!df.queryExecution.executedPlan.toString.contains("Window"),
      df.queryExecution.executedPlan.toString)
    // and the rank contract survived: token_id contiguous from 0 in
    // (n desc, token asc) order
    val rows = df.collect().sortBy(_.getLong(2))
    assert(rows.map(_.getLong(2)).toSeq === rows.indices.map(_.toLong))
    val key = rows.map(r => (-r.getLong(1), r.getString(0)))
    assert(key.toSeq === key.sorted.toSeq)
  }

  test("q74: html extraction is a shuffle-free codegen scan projection") {
    val plan = executed(graft.SparkEntry.queries("q74_html_extract")(spark, sf))
    assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      plan.toString)
    // the expression must sit inside a whole-stage-codegen span ("*(n)"
    // in simpleString), not an interpreted fallback project
    assert(plan.toString.contains("*(1) Project"), plan.toString)
  }

  test("q63: model joins are hash joins, per-doc agg is partial") {
    val p = planString("q63_lm_score")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // partial + final pair = map-side combine before the doc_id exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q31: no cross join anywhere; bucket pairs generated in-group") {
    val p = planString("q31_dedup_minhash")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q33: no cross join; inverted index is the only fact-scale shuffle") {
    val p = planString("q33_ngram_jaccard")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q49: the benchmark gram set is broadcast; the corpus side never is") {
    val p = planString("q49_decontam")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
    // the corpus side must stream through the join map-side: a
    // SortMergeJoin would mean the 100 TB side shuffles on gram
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q126: bench grams broadcast into the screen; no corpus-side gram shuffle; 10 spine rows") {
    // the growth curve must inherit q49's screen shape (bench grams
    // broadcast, corpus streamed map-side) — a SortMergeJoin here means
    // the 100 TB side started shuffling on gram; everything past the
    // screen is ≤10-row histogram arithmetic
    val p = planString("q126_leak_growth")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
    val df = graft.SparkEntry.queries("q126_leak_growth")(spark, sf)
    // only the ≤10-row spine (k) may merge-join; a SortMergeJoin keyed
    // on the gram would mean the corpus side shuffles on g
    executed(df).collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }.foreach { j =>
      val keys = (j.leftKeys ++ j.rightKeys).flatMap(_.references.map(_.name))
      assert(keys.forall(_ == "k"),
        s"q126: SortMergeJoin on non-spine keys $keys:\n$j")
    }
    assertBodyFreeExchanges(executed(df))
    assert(df.count() === 10)
  }

  test("q50/q51: map-side-only — no exchange anywhere in the plan") {
    for (q <- Seq("q50_pii", "q51_audio_features")) {
      val df = graft.SparkEntry.queries(q)(spark, sf)
      val shuffles = executed(df).collect { case s: ShuffleExchangeExec => s }
      assert(shuffles.isEmpty, s"$q grew a shuffle:\n${executed(df)}")
    }
  }

  test("q50: projection pushdown — the scan reads only doc_id and text") {
    val p = planString("q50_pii")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text"), readSchema)
    assert(!readSchema.contains("lang") && !readSchema.contains("source"), readSchema)
  }

  test("q31/q32/q34/q66: twin self-join sides share one exchange (bucketPairs AND pairsOnce)") {
    // both candidate generators rely on exchange reuse (not a checkpoint)
    // to avoid executing the full signature pipeline once per join side:
    // bucketPairs' narrow (band, bucket) twins (q32/q34) and pairsOnce's
    // payload-carrying banded twins (q31/q66 — the docstring's "twin
    // self-join sides sharing the exchange" claim, audited here). If
    // reuse silently stops firing (AQE replanning, canonicalization
    // drift) the upstream pipeline runs twice. Execute and inspect the
    // FINAL adaptive plan — reuse under AQE materializes at runtime.
    for (q <- Seq("q31_dedup_minhash", "q32_dedup_simhash",
                  "q34_embed_neardup", "q66_semdedup")) {
      val df = graft.SparkEntry.queries(q)(spark, sf)
      df.collect() // executes THIS QueryExecution, finalizing the AQE plan
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"),
        s"$q: banded self-join no longer reuses the signature exchange:\n$p")
    }
  }

  test("q119: the two unigram join sides share one exchange at scale") {
    // collocations joins the unigram frame twice (on w1, then w2). At
    // sf0.001 AQE broadcasts both and the double compute is invisible;
    // at corpus scale the joins go shuffle-shaped and the claim that
    // matters is that the two identical unigram agg subtrees collapse
    // into ONE exchange (ReuseExchange canonicalizes through the
    // w→w1/w→w2 aliases) — otherwise the corpus is tokenized and
    // counted twice. Force the shuffle regime and audit the final plan.
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = graft.SparkEntry.queries("q119_colloc_dice")(spark, sf)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"),
        s"q119: unigram twin sides no longer share an exchange:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
  }

  test("q122: ONE tokenize — every consumer reads the materialized (source, token) frame") {
    // sourceDivergence derives corpus token counts, source totals, the
    // ppm'd vocab frame and the join input all from the same (source,
    // token) partial agg. Un-materialized, each broadcast consumer
    // replans the whole chain and the corpus is tokenized SIX times
    // (measured before the Materialize landed; ReusedExchange only
    // rescues the forced-shuffle regime). The materialized shape shows
    // every consumer on ExistingRDD and NO tokenize (Generate) in the
    // final plan — the one Generate ran inside the checkpoint job.
    val df = graft.SparkEntry.queries("q122_source_divergence")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ExistingRDD"), p)
    assert(!p.contains("Generate"),
      s"q122: a consumer re-tokenizes the corpus instead of reading the materialized frame:\n$p")
  }

  test("q123: leakage matrix is agg-only — no join, hashes + split label in the one exchange") {
    // the whole matrix folds through the (xxhash64, len) group frame
    // into ONE total aggregate; any Join in the plan means the
    // unpivot regressed to a frame-join shape
    val df = graft.SparkEntry.queries("q123_split_leakage")(spark, sf)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Join"), plan)
    assertBodyFreeExchanges(executed(df))
    assert(df.count() === 3)
  }

  test("q124: growth curve joins only on the ≤10-row spine — no corpus join-back, body-free exchanges") {
    // the cumulative must come from the checkpoint histograms (≤ 10
    // rows each), never from flagging each doc as dup via a join back
    // to the corpus: every join condition may reference only the spine
    // keys (bk/k), and no exchange may carry document bodies
    val df = graft.SparkEntry.queries("q124_dup_growth")(spark, sf)
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.nonEmpty, "expected the spine triangle joins")
    joins.foreach { j =>
      val refs = j.condition.toSeq.flatMap(_.references.map(_.name)).toSet
      assert(refs.subsetOf(Set("bk", "k")),
        s"q124: non-spine join on $refs — a corpus-scale join-back crept in")
    }
    assertBodyFreeExchanges(executed(df))
    assert(df.count() === 10)
  }

  test("q125: ONE corpus pass — every consumer reads the materialized (slice, source) frame") {
    // mixDrift derives slice totals, source totals, the ppm frame and
    // the join input all from the same (checkpoint, source) partial
    // agg; un-materialized, each broadcast consumer replans the whole
    // chain and the corpus is re-scanned per consumer (the q122
    // lesson). The materialized shape shows every consumer on
    // ExistingRDD and NO file scan in the final plan — the one scan ran
    // inside the checkpoint job.
    val df = graft.SparkEntry.queries("q125_mix_drift")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ExistingRDD"), p)
    assert(!p.toLowerCase.contains("parquet"),
      s"q125: a consumer re-scans the corpus instead of reading the materialized frame:\n$p")
  }

  test("q47: the window runs over the cutoff bucket only, never the stratum") {
    // the round-5 scale-killer was row_number over EVERY row of a stratum;
    // the two-phase plan must feed its one window from the b = cutB filter
    // (~1/65536 of the stratum) and keep the bulk on the windowless branch
    val df = graft.SparkEntry.queries("q47_stratified_sample")(spark, sf)
    // audit the optimized logical plan: AQE hides the physical subtree
    // until execution, and the property is structural anyway
    val plan = df.queryExecution.optimizedPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty, s"expected the remainder window in:\n$plan")
    windows.foreach { w =>
      // the optimizer may keep b = cutB as a Filter or fold it into the
      // broadcast join's condition — either way it must sit BELOW the window
      val guarded = w.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter
            if f.condition.references.exists(_.name == "cutLo") => f
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
            if j.condition.exists(_.references.exists(_.name == "cutLo")) => j
      }
      assert(guarded.nonEmpty,
        s"window input lost its cutoff-bucket filter:\n$plan")
    }
    // the keep-outright branch must carry no window at all
    val union = plan.collectFirst {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
    }
    assert(union.isDefined, s"expected the two-branch union in:\n$plan")
    val windowless = union.get.children.filter(c => c.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }.isEmpty)
    assert(windowless.nonEmpty, s"no windowless keep-outright branch in:\n$plan")
  }

  test("q65: per-doc window is group-limited; N rides a 1-row broadcast") {
    val p = planString("q65_tfidf")
    assert(!p.contains("CartesianProduct"), p)
    // rank<=k over row_number must prune per-task before the window
    // exchange (a full (doc, tok) spill into one window would regress the
    // bounded-window promise). r21 note: a bounded top-k
    // TypedImperativeAggregate was tried instead and measured ~25% SLOWER
    // at the 10x gate — WindowGroupLimit already bounds the shuffle, in
    // codegen — so this guard is the property that decision rests on.
    assert(p.contains("WindowGroupLimit"), p)
    // tf/df aggs both partial
    assert("HashAggregate".r.findAllIn(p).size >= 4, p)
    // the N frame joins as a broadcast (1 row), never a shuffle
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q66: cluster-conditioned candidates are cap-bounded; no cross join") {
    val p = planString("q66_semdedup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("bsz"), p)
  }

  test("q68: bloom prescreen sits on the corpus side below any join/aggregate") {
    // audit the optimized LOGICAL plan (the q47 note: AQE wraps the
    // physical tree in AdaptiveSparkPlanExec until execution, so a
    // physical ShuffleExchangeExec collect here would be vacuously empty)
    import org.apache.spark.sql.catalyst.plans.logical
    val df = graft.SparkEntry.queries("q68_bloom_decontam")(spark, sf)
    val plan = df.queryExecution.optimizedPlan
    val probes = plan.collect {
      case f: logical.Filter if f.condition.exists(
        _.isInstanceOf[graft.functions.BloomMightContain]) => f
    }
    assert(probes.nonEmpty, s"bloom prescreen filter vanished:\n$plan")
    // the prescreen must run in the corpus-side MAP phase: at least one
    // probe filter directly over the gram explode with no join/aggregate
    // underneath — deleting the .filter(mightContain(...)) or hoisting it
    // above the confirm join fails here. (The optimizer may INFER extra
    // copies of the predicate onto the other join side — those are
    // harmless and not the subject.)
    val mapSide = probes.filter { f =>
      f.collectFirst { case g: logical.Generate => g }.nonEmpty &&
        f.collectFirst {
          case j: logical.Join => j
          case a: logical.Aggregate => a
        }.isEmpty
    }
    assert(mapSide.nonEmpty,
      s"no map-side prescreen over the gram explode:\n$plan")
    // and the confirm join is still there ABOVE the prescreen (exactness)
    assert(plan.collectFirst { case j: logical.Join => j }.nonEmpty, plan.toString)
  }

  test("q69: long-keyed hash aggs all partial; no posting list, no cross join") {
    // full pipeline (r21: the (g, doc_id) aggregate is checkpointed —
    // its source plan is the gram-space part the guard exists to audit)
    val p = fullPlanString("q69_dup_spans")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // (g, doc_id) collapse + gdf + the fused per-doc rollup, each with a
    // map-side partial pass — the operator's whole 100 TB story is that
    // only COUNTS aggregate over the gram space, never collected doc ids
    assert("HashAggregate".r.findAllIn(p).size >= 6, p)
    assert(!p.contains("collect_list") && !p.contains("collect_set"), p)
  }

  test("q70: strip runs as the fused expression in a projection; no cross join") {
    val p = planString("q70_strip_spans")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the cut itself is the codegen expression, not a HOF filter
    assert(p.contains("strip_spans"), p)
    assert(!p.contains("ArrayFilter") && !p.contains("ArrayExists"), p)
    // the only collect_list is the per-doc position list (bounded by the
    // doc's own token count)
    assert("collect_list".r.findAllIn(p).size <= 2, p)
  }

  test("q56: both shuffles ride the same key families; aggs are partial") {
    val p = planString("q56_token_rarity")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // partial + final pairs for both the token-df agg and the doc agg
    assert("HashAggregate".r.findAllIn(p).size >= 4, p)
  }

  test("q72: term filter under the explode; heap top-k, never a global sort") {
    val p = planString("q72_bm25")
    assert(!p.contains("CartesianProduct"), p)
    // the global top-k is per-partition heaps + driver merge
    assert(p.contains("TakeOrderedAndProject"), p)
    // df (≤|terms| rows) and the 1-row stats frame join as broadcasts
    assert(!p.contains("SortMergeJoin"), p)
    // tf/df/doc aggs all partial
    assert("HashAggregate".r.findAllIn(p).size >= 6, p)
    // the isin(term) filter must sit with the generate (map-side), not
    // after a shuffle: no exchange may carry the un-filtered token stream
    assert(p.contains("spark") && p.contains("INSET") || p.contains("IN ("), p)
    // the rank is window-free (one sorted ≤k-row partition + id counter):
    // an unpartitioned rank window would warn per execution, and Spark 4's
    // EliminateWindowPartitions folds a constant partition key right back
    // to that case (round-9 fix)
    assert(!p.contains("Window"), p)
  }

  test("q89: admission filter is map-side; no window, no global sort") {
    val p = planString("q89_quantile_cutoff")
    // the quantile came from a histogram agg + driver walk at plan
    // construction; what remains is a scan + filter + project — the
    // admission pass must not re-sort or window anything
    assert(!p.contains("Window"), p)
    assert(!p.contains("Sort"), p)
    assert(!p.contains("Join"), p)
  }

  test("q90: one host-keyed agg chain; bodies reduced map-side") {
    val df = graft.SparkEntry.queries("q90_host_profile")(spark, sf)
    val plan = executed(df)
    val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
    // the distinct-URL count expands to the standard two-phase distinct
    // aggregate: at most the (host, u) exchange + the host exchange —
    // never a third
    assert(shuffles.size <= 2, plan.toString)
    // token/char sums are partial-aggregated below the first exchange:
    // no shuffle carries the text column
    shuffles.foreach { e =>
      assert(!e.child.output.exists(_.name == "text"),
        s"document bodies cross an exchange:\n$plan")
    }
  }

  test("q91: composed plan keeps dedup partial and pack windows sharded") {
    val df = graft.SparkEntry.queries("q91_dedup_pack")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the dedup side aggregates partially (map-side combine on the
    // (hash, len) key)
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial"), p)
    assert(!p.contains("CartesianProduct"), p)
    // every logical Window is PARTITIONED (by shard) — a plan-string
    // scan can't see this (the runtime "No Partition Defined" warning
    // never appears in executedPlan.toString), so collect the nodes
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty, "expected the pack offset window")
    windows.foreach(w => assert(w.partitionSpec.nonEmpty,
      s"unpartitioned (single-task) window in:\n${df.queryExecution.optimizedPlan}"))
    // and no body column enters any exchange: the survivor join carries
    // (doc_id, n_tok) / (doc_id) only
    val plan = executed(df)
    plan.collect { case e: ShuffleExchangeExec => e }.foreach { e =>
      assert(!e.child.output.exists(_.name == "text"),
        s"document bodies cross an exchange:\n$plan")
    }
  }

  test("q92: rep election is one partial agg on the hash key; no window, no body shuffled") {
    val df = graft.SparkEntry.queries("q92_cluster_reps")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the argmax is a struct-max partial aggregate, NOT the oracle's
    // row_number window — a window here would buffer whole clusters
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("Join"), p)
    val plan = executed(df)
    // the exchange carries (h, norm_len, partial count, partial max
    // struct) — never text or the normalized body
    plan.collect { case e: ShuffleExchangeExec => e }.foreach { e =>
      assert(!e.child.output.exists(c => c.name == "text" || c.name == "norm"),
        s"document bodies cross an exchange:\n$plan")
    }
  }

  test("q128: composed tail keeps the q92 election shape — partial hash agg, no window, no body") {
    val df = graft.SparkEntry.queries("q128_neardup_reps")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the election must stay the ArgMaxTieMin HASH aggregate with a
    // map-side partial — the oracle's row_number window (or a
    // SortAggregate fallback) would buffer/sort whole clusters
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("SortAggregate"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the pair/component machinery is materialized upstream
    // (connectedComponents' bounded iteration); the composed tail the
    // plan shows is label-frame JOIN (doc_id, n_chars) -> agg, and no
    // shuffle in it may carry a body or token array
    assertBodyFreeExchanges(executed(df))
  }

  test("q129: line df and join-back share the hash key; rollup is one partial agg, no window") {
    val df = graft.SparkEntry.queries("q129_boilerplate")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the per-doc rollup folds flags + char sums into ONE doc-keyed
    // HASH aggregate with a map-side partial — a second corpus pass for
    // totals (or a window) would double the scan at 100 TB
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    // lines travel as (doc_id, h, len) from the scan on — never the
    // line string or the body
    assertBodyFreeExchanges(executed(df))
  }

  test("q130: split labels are computed in place on the pair stream; sizes broadcast") {
    val df = graft.SparkEntry.queries("q130_fuzzy_leakage")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // both pair sides get their split from the pure md5-prefix id
    // function map-side — a join back to a corpus-side label frame
    // would shuffle the corpus a second time for no information
    assert(!p.contains("CartesianProduct"), p)
    // the ≤3-row split-size frame must broadcast, never sort-merge
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("HashAggregate"), p)
    assertBodyFreeExchanges(executed(df))
  }

  test("q132: remap is bounded-frame joins on 16-byte keys — no window, no body") {
    val df = graft.SparkEntry.queries("q132_rep_remap")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the election stays the ArgMaxTieMin hash aggregate and the rep
    // re-attaches via a cluster-keyed equi-join of two already-bounded
    // frames — the oracle's row_number spelling must NOT leak in
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("SortAggregate"), p)
    assert(!p.contains("CartesianProduct"), p)
    assertBodyFreeExchanges(executed(df))
  }

  test("q133: one corpus partial agg; catalog-bounded tail broadcasts; no window") {
    val df = graft.SparkEntry.queries("q133_quality_drift")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the only corpus-scale work is the (source, snapshot, decile) cell
    // aggregate with a map-side partial; everything downstream is
    // ≤|sources|·2·10 rows and joins by broadcast
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assertBodyFreeExchanges(executed(df))
  }

  test("q134: containment keeps q33's capped shape — no cross join, no body") {
    val df = graft.SparkEntry.queries("q134_containment")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the planted quotes ride the same df-capped inverted index as q33;
    // pair expansion stays in-group (no self-join, no cartesian) and
    // the all-integer ppm projection adds no exchange of its own
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("HashAggregate"), p)
    assertBodyFreeExchanges(executed(df))
  }

  test("q135: the rank window runs over the VOCAB frame, never the corpus") {
    val df = graft.SparkEntry.queries("q135_zipf_slope")(spark, sf)
    val plan = executed(df)
    val p = plan.toString
    // ONE corpus-scale structure: the (source, token) partial agg. The
    // row_number window must sit ABOVE that aggregate (vocab-scale sort,
    // bounded by vocabulary) — a window whose child subtree contains no
    // aggregate would mean the corpus itself is being rank-sorted
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
      case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec => w
    }
    assert(windows.nonEmpty, p)
    windows.foreach { w =>
      assert(w.child.collectFirst {
        case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
      }.nonEmpty, s"q135: window input is not the aggregated vocab frame:\n$p")
    }
    assert(!p.contains("CartesianProduct"), p)
    assertBodyFreeExchanges(plan)
  }

  test("q136: one corpus partial agg then one vocab-scale agg — no window, no join") {
    val df = graft.SparkEntry.queries("q136_token_entropy")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("Join"), p)
    assertBodyFreeExchanges(executed(df))
  }

  test("q137: char classes fold map-side into one ≤|sources|-key aggregate") {
    val df = graft.SparkEntry.queries("q137_char_classes")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("Join"), p)
    // no Generate: the class counts are length deltas per row, never an
    // explode of the corpus into characters or tokens
    assert(!p.contains("Generate"), p)
    assertBodyFreeExchanges(executed(df))
  }

  test("q138: hapax profile is agg-only — one corpus pass, no window, no join") {
    val df = graft.SparkEntry.queries("q138_hapax_ratio")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("Join"), p)
    assertBodyFreeExchanges(executed(df))
  }

  test("q139: spread rides q30's 16-byte group keys — no body, no join, no window") {
    val df = graft.SparkEntry.queries("q139_dup_spread")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // group key is (xxhash64, length) + id extremes; the histogram is a
    // second <=19-key aggregate — the text column must never shuffle
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("Join"), p)
    assertBodyFreeExchanges(executed(df))
  }

  test("q140: norms quantize map-side; the embedding array never crosses an exchange") {
    val df = graft.SparkEntry.queries("q140_embed_norms")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("Join"), p)
    val plan = executed(df)
    plan.collect { case e: ShuffleExchangeExec => e }.foreach { e =>
      assert(!e.child.output.exists(_.name == "embedding"),
        s"embedding vectors cross an exchange:\n$plan")
    }
  }

  test("q141: df spectrum is two aggregates — hashes only, no join, no posting lists") {
    val df = graft.SparkEntry.queries("q141_gram_df_spectrum")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("Join"), p)
    // counts only — the capped posting-list aggregate (collect buffers)
    // must NOT appear in this lighter plan
    assert(!p.contains("capped_collect"), p)
    assertBodyFreeExchanges(executed(df))
  }

  test("q142: incidence joins thin id frames — no cartesian, no body") {
    val df = graft.SparkEntry.queries("q142_neardup_by_source")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the flagged-doc join carries (doc_id) vs (doc_id, source) 16-byte
    // rows; the pair machinery keeps q33's capped shape
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("HashAggregate"), p)
    assertBodyFreeExchanges(executed(df))
  }

  test("q143: one tokenize; totals re-agg the cell frame and broadcast back") {
    val df = graft.SparkEntry.queries("q143_token_len_hist")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the materialized (lang, len_bucket) cells feed BOTH the totals and
    // the join — the final plan reads ExistingRDD with no re-tokenize
    // (Generate) and the tiny totals frame must broadcast
    assert(p.contains("ExistingRDD"), p)
    assert(!p.contains("Generate"),
      s"q143: a consumer re-tokenizes the corpus instead of reading the cells:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q93: token sums reduce map-side; stats side broadcasts, never sort-merges") {
    val df = graft.SparkEntry.queries("q93_domain_mix")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the 1-row normalizer frame joins back by broadcast — a shuffled
    // join on a frame this small would be a planning bug
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    val plan = executed(df)
    plan.collect { case e: ShuffleExchangeExec => e }.foreach { e =>
      assert(!e.child.output.exists(_.name == "text"),
        s"document bodies cross an exchange:\n$plan")
    }
  }

  test("q94: BPE encode is a single map-side pass — no shuffle at all") {
    val df = graft.SparkEntry.queries("q94_bpe_encode")(spark, sf)
    val plan = executed(df)
    // learn() runs at plan-construction (bounded driver fit); the encode
    // itself is mapPartitions over the scan with a broadcast ranks map —
    // any exchange would mean the corpus is shuffling for a per-row op
    assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      plan.toString)
  }

  test("q95: calibration joins doc-keyed counts; no body crosses an exchange") {
    val df = graft.SparkEntry.queries("q95_screen_calibration")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial"), p)
    assert(!p.contains("CartesianProduct"), p)
    val plan = executed(df)
    // grams travel as xxhash64 longs and buckets as (doc_id, long) —
    // the text column must never enter a shuffle
    plan.collect { case e: ShuffleExchangeExec => e }.foreach { e =>
      assert(!e.child.output.exists(_.name == "text"),
        s"document bodies cross an exchange:\n$plan")
    }
  }

  test("q106: corpus collapses to <=10 buckets before the cumulative join") {
    val df = graft.SparkEntry.queries("q106_quality_yield")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the per-bucket agg must reduce map-side before the tiny self-join;
    // cumulatives ride broadcast joins, never a window or a global sort
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("Window"), p)
    val plan = executed(df)
    plan.collect { case e: ShuffleExchangeExec => e }.foreach { e =>
      assert(!e.child.output.exists(_.name == "text"),
        s"document bodies cross an exchange:\n$plan")
    }
  }

  test("q112: cascade features are map-side; membership joins ship no bodies") {
    val df = graft.SparkEntry.queries("q112_screen_cascade")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("Window"), p)
    val plan = executed(df)
    // the survivor/contamination memberships and the final rollup must
    // move doc_id-keyed thin rows — never a document body
    plan.collect { case e: ShuffleExchangeExec => e }.foreach { e =>
      assert(!e.child.output.exists(_.name == "text"),
        s"document bodies cross an exchange:\n$plan")
    }
  }

  test("q115: contents shuffle as (hash, len); sizes broadcast; pairs in-group") {
    val df = graft.SparkEntry.queries("q115_source_dup_matrix")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    val plan = executed(df)
    plan.collect { case e: ShuffleExchangeExec => e }.foreach { e =>
      assert(!e.child.output.exists(_.name == "text"),
        s"document bodies cross an exchange:\n$plan")
    }
  }

  test("q116: retention needs no distinct state past the (user, day) dedup") {
    val df = graft.SparkEntry.queries("q116_retention")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial"), p)
    assert(!p.contains("Window") && !p.contains("CartesianProduct"), p)
    // the final (cohort, offset) count is a plain count over already-
    // distinct rows — a count_distinct here would buffer user sets
    assert(!p.toLowerCase.contains("distinct_count")
      && !p.contains("count(distinct"), p)
  }

  test("q117: stats join back via broadcast; nothing corpus-sized past the first agg") {
    val df = graft.SparkEntry.queries("q117_burst")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial"), p)
    // the per-type stats frame must broadcast onto the hourly frame — a
    // sort-merge here would shuffle the pre-agg output a second time
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("Window")
      && !p.contains("CartesianProduct"), p)
  }

  test("q107: min-ts chaining — no per-user window, stage counts broadcast") {
    val df = graft.SparkEntry.queries("q107_funnel")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // a window here would sort the whole event log by user; the min-ts
    // stage frames aggregate partially and the 1-row counts broadcast
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("q108: bench grams broadcast; width rides the join key; no body shuffled") {
    val df = graft.SparkEntry.queries("q108_width_sweep")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"), p)
    assertBodyFreeExchanges(executed(df))
  }

  test("q110: vectors never cross an exchange; halves join as thin label frames") {
    val df = graft.SparkEntry.queries("q110_centroid_drift")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial"), p)
    assert(!p.contains("Window") && !p.contains("CartesianProduct"), p)
    val plan = executed(df)
    // type-based, not name-based: a renamed vector column is the same
    // corpus-scale payload (the assertBodyFreeExchanges rename lesson)
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    plan.collect { case e: ShuffleExchangeExec => e }.foreach { e =>
      e.child.output.foreach { a =>
        assert(!(a.dataType match {
          case ArrayType(FloatType, _) => true
          case _ => false
        }), s"float-array (vector) column '${a.name}' crosses an exchange:\n$plan")
      }
    }
  }

  test("q111: the rank window runs over histogram rows, never raw docs") {
    val df = graft.SparkEntry.queries("q111_source_quantiles")(spark, sf)
    val plan = executed(df)
    // every Window must sit above an aggregation: its input is the
    // per-(group, value) histogram (bounded by the value domain), not a
    // corpus-sized row stream — the property that lets q111 quantile
    // groups no Spark percentile buffer could hold
    val windows = plan.collect {
      case w if w.nodeName.contains("Window") => w
    }
    assert(windows.nonEmpty, s"expected a histogram-rank window:\n$plan")
    windows.foreach { w =>
      assert(w.collect {
        case a if a.nodeName.contains("HashAggregate") => a
      }.nonEmpty, s"window input is not aggregated (raw rows buffered):\n$plan")
    }
    assertBodyFreeExchanges(plan)
  }

  test("q06: quantiles ride the histogram window, and no A-query buffers an unbounded group") {
    // r17: q06 moved off the builtin `percentile` (per-group in-memory,
    // non-spillable value buffer) onto quantilesByHistogram. Pin the
    // shape the q111 guard pins: every Window sits above an aggregation,
    // so its input is the (group, value) histogram, never raw events.
    val plan = executed(graft.SparkEntry.queries("q06_latency_pctl")(spark, sf))
    val windows = plan.collect { case w if w.nodeName.contains("Window") => w }
    assert(windows.nonEmpty, s"expected a histogram-rank window:\n$plan")
    windows.foreach { w =>
      assert(w.collect {
        case a if a.nodeName.contains("HashAggregate") => a
      }.nonEmpty, s"window input is not aggregated (raw rows buffered):\n$plan")
    }
    // And sweep the whole relational surface: no plan may carry a
    // row-buffering aggregate (exact percentile, collect_list/set) —
    // the property that made q06 the last A-operator one would not ship
    // at 100x. approx_percentile (bounded sketch) stays legal.
    for (q <- Relational.queries.keys) {
      val p = planString(q).replace("approx_percentile", "")
      for (buf <- Seq("percentile(", "collect_list", "collect_set"))
        assert(!p.contains(buf),
          s"$q buffers per-group rows via $buf:\n$p")
    }
  }

  test("q113: one source-keyed partial agg, no join of any kind") {
    val df = graft.SparkEntry.queries("q113_truncation_yield")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial"), p)
    assert(!p.contains("Join") && !p.contains("Window"), p)
    assertBodyFreeExchanges(executed(df))
  }

  test("q114: ONE documents scan — lang and token stats share the projection") {
    val df = graft.SparkEntry.queries("q114_lang_quality")(spark, sf)
    val plan = executed(df)
    val scans = plan.collect {
      case f if f.nodeName.contains("Scan parquet") => f
    }
    // a second tokenization pass (the pre-review shape) scans twice and
    // joins on doc_id; the fused form reads the corpus exactly once
    assert(scans.size === 1, s"expected one corpus scan, got ${scans.size}:\n$plan")
    val p = plan.toString
    assert(!p.contains("Join"), p)
    assertBodyFreeExchanges(plan)
  }

  test("q118: multiplicity histogram is agg-only — no window, hashes-only exchanges") {
    val df = graft.SparkEntry.queries("q118_dup_histogram")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial"), p)
    assert(!p.contains("Window"), p)
    assertBodyFreeExchanges(executed(df))
  }

  test("q96: pair math stays in-group; sizes broadcast; no body in any exchange") {
    val df = graft.SparkEntry.queries("q96_source_overlap")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // catalog-sized sizes frames must broadcast, never sort-merge
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    val plan = executed(df)
    plan.collect { case e: ShuffleExchangeExec => e }.foreach { e =>
      assert(!e.child.output.exists(_.name == "text"),
        s"document bodies cross an exchange:\n$plan")
    }
  }

  test("q97: layout window is SHARD-partitioned; no body past the scan") {
    val df = graft.SparkEntry.queries("q97_pack_waste")(spark, sf)
    // every Window node must carry a partitionSpec (the q91 guard: an
    // unpartitioned running sum would be a single task over the corpus)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty, "expected the pack offset window")
    windows.foreach(w => assert(w.partitionSpec.nonEmpty,
      s"unpartitioned window in:\n${df.queryExecution.optimizedPlan}"))
    val plan = executed(df)
    plan.collect { case e: ShuffleExchangeExec => e }.foreach { e =>
      assert(!e.child.output.exists(_.name == "text"),
        s"document bodies cross an exchange:\n$plan")
    }
  }

  test("q98: gram stream collapses by partial agg; hashes-only exchanges") {
    val df = graft.SparkEntry.queries("q98_gram_novelty")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial"), p)
    assert(!p.contains("CartesianProduct"), p)
    // spans travel as xxhash64 longs: the text column must never enter a
    // shuffle, and neither may any recomputed token array
    assertBodyFreeExchanges(executed(df))
  }

  test("q99: shares q93's shape — map-side token sums, broadcast stats frame") {
    val df = graft.SparkEntry.queries("q99_mix_plan")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the 1-row budget/normalizer frame joins back by broadcast — a
    // shuffled join on a frame this small would be a planning bug
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assertBodyFreeExchanges(executed(df))
  }

  test("q100: one <=64-key aggregate; totals broadcast; no body past the scan") {
    val df = graft.SparkEntry.queries("q100_len_buckets")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial"), p)
    // the 1-row totals frame is an explicit broadcast crossJoin
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // only (bucket, n_tok) may cross: the projection to token counts
    // happens scan-side, so text must never reach an exchange
    assertBodyFreeExchanges(executed(df))
  }

  test("q101: savings rollup is agg-only — no join, no window, hashes-only exchanges") {
    val df = graft.SparkEntry.queries("q101_dedup_savings")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // keeper election + per-source fold happen in-group (collect_list
    // bounded by the source catalog): a Join or Window here would mean a
    // corpus-scale keeper join sneaked back in
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    assertBodyFreeExchanges(executed(df))
  }

  test("q102: pair stream collapses to bins before the cumulative; broadcast upper join") {
    val df = graft.SparkEntry.queries("q102_jaccard_calib")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial"), p)
    // the cumulative is a broadcast self-join of the <=21-row bin frame
    // (non-equi -> nested loop), never a window and never a shuffled join
    assert(!p.contains("Window"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assertBodyFreeExchanges(executed(df))
  }

  test("q103: regex pass is map-side; one source-keyed partial agg; no body shuffled") {
    val df = graft.SparkEntry.queries("q103_pii_profile")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    assertBodyFreeExchanges(executed(df))
  }

  test("q104: bench grams broadcast; distinct counts are partial; no body shuffled") {
    val df = graft.SparkEntry.queries("q104_leak_profile")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the corpus streams map-side through a broadcast hash join on the
    // gram longs — a sort-merge here means the bench side lost its
    // broadcast and the whole corpus gram stream shuffled
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial"), p)
    assertBodyFreeExchanges(executed(df))
  }

  test("q105: encode and lang passes join THIN doc-keyed frames; no body or token array shuffled") {
    val df = graft.SparkEntry.queries("q105_fertility")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the doc_id join may shuffle (two corpus-scale THIN frames), but
    // neither text nor the q37 words array may survive to an exchange —
    // the lang argmax must collapse to (doc_id, pred_lang) scan-side
    assertBodyFreeExchanges(executed(df))
  }

  test("q87: dimension probe and scoring are both partial-agg / scan-side") {
    val p = planString("q87_embed_outliers")
    // the modal-dimension probe + md5 sample ran at plan-construction
    // time (bounded driver steps); what remains must be the map-side
    // scoring projection feeding a top-k heap — no join, no window
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
  }
}
