package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import graft.meds.MedsSchema._
import graft.operators._

/** Physical-plan assertions: the properties that make operators viable at
  * 100 TB are locked in as tests, not just claimed — metadata joins
  * broadcast, aggregation splits partial/final, scans prune and push down,
  * and the event table is never scanned more than necessary.
  */
class PlanSpec extends SparkSpec {

  private def plan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan

  private def collectNodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => collectNodes(a.executedPlan)
      case _ => p.children.flatMap(collectNodes)
    }
    p +: inner
  }

  private def data = medsDf(
    (1L, "2020-01-01 00:00:00", "HR", 10.0),
    (2L, "2020-01-02 00:00:00", "TEMP", 20.0))

  test("metadata joins are broadcast, never shuffling the event side") {
    val codes = AggregateCodeMetadata.compute(data,
      Seq(CodeNSubjects, CodeNOccurrences, ValuesNOccurrences, ValuesSum, ValuesSumSqd))
    for (q <- Seq(
      FilterMeasurements(data, codes, minOccurrencesPerCode = Some(1)),
      OccludeOutliers(data, codes, 2.0))) {
      val nodes = collectNodes(plan(q))
      assert(nodes.exists(_.isInstanceOf[BroadcastExchangeExec]),
        s"expected a broadcast exchange:\n${plan(q)}")
      // the ONLY shuffle allowed is the metadata aggregation itself — a
      // sort-merge join would add exchanges on the event side and break the
      // never-shuffle-the-event-table property this test is named for
      val shuffles = nodes.count(_.isInstanceOf[ShuffleExchangeExec])
      assert(shuffles <= 1, s"event side shuffled ($shuffles exchanges):\n${plan(q)}")
    }
  }

  test("grouped aggregation is partial+final (map-side combine)") {
    val agg = AggregateCodeMetadata.compute(data, Seq(CodeNOccurrences, ValuesSum))
    val hashAggs = plan(agg).toString.split("\n").count(_.contains("HashAggregate"))
    assert(hashAggs >= 2, s"expected partial+final HashAggregate:\n${plan(agg)}")
  }

  test("parquet scan prunes columns and pushes filters") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val q = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .filter(col("event_type") === "click")
      .select("event_id", "value")
    val scan = plan(q).toString
    assert(scan.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,click)]")
      || scan.contains("EqualTo(event_type,click)"), s"filter not pushed:\n$scan")
    assert(scan.contains("ReadSchema: struct<event_id:bigint,event_type:string,value:double>"),
      s"columns not pruned:\n$scan")
  }

  test("ageEvents is one scan + one requirement-driven exchange (dedup reuses the window's partitioning)") {
    val q = AddTimeDerivedMeasurements.ageEvents(data, "^HR$", ageUnit = "days")
    val nodes = collectNodes(plan(q))
    // single pass over the input: no dob-branch re-scan
    val scans = nodes.count(_.getClass.getSimpleName.contains("Scan"))
    assert(scans <= 1, s"input scanned $scans times:\n${plan(q)}")
    // the window's subject exchange is the ONLY shuffle — the (subject,
    // time) dedup aggregate must satisfy its clustering from hash(subject)
    // (subset-key rule), not add an exchange of its own
    val shuffles = nodes.count(_.isInstanceOf[ShuffleExchangeExec])
    assert(shuffles <= 1, s"dedup added an exchange ($shuffles total):\n${plan(q)}")
  }

  test("per-subject windows partition by subject (no global single-partition window)") {
    val tl = AddTimeDerivedMeasurements.timelineTokenEvents(data)
    val s = plan(tl).toString
    assert(!s.contains("Window [") || s.contains("windowspecdefinition(subject_id"),
      s"window not partitioned by subject:\n$s")
  }

  test("similarity top-k compiles to TakeOrderedAndProject (no global sort)") {
    import spark.implicits._
    val embs = (0 until 50).map(i => (i.toLong, Array.fill(4)(i.toDouble)))
      .toDF("vec_id", "embedding")
    val q = graft.ops.Similarity.topK(embs, "vec_id", "embedding", Seq(1f, 0f, 0f, 0f), 5)
    assert(plan(q).toString.contains("TakeOrderedAndProject"), s"\n${plan(q)}")
  }

  test("withGlobalRowNumber: single materialization, exact 1..n permutation") {
    import spark.implicits._
    // enough rows that range-bound sampling and AQE coalescing would expose
    // a double-execution bug (mis-numbered or dropped rows — both observed
    // before the localCheckpoint materialization)
    val df = spark.range(1, 20001).select(col("id"), concat(lit("k"), col("id")).as("k"))
    val numbered = graft.functions.GraftFunctions.withGlobalRowNumber(
      df, "pos", Seq(col("k"), col("id")))
    val rows = numbered.select("pos", "k").collect()
    assert(rows.length == 20000)
    assert(rows.map(_.getLong(0)).sorted.toSeq == (1L to 20000L))
    // and ordering agrees with the sort keys: pos 1 is the smallest key
    val first = rows.minBy(_.getLong(0)).getString(1)
    assert(first == "k1")
  }

  test("withGlobalRowNumber past 256 range partitions: broadcast-offsets join, exact 1..n") {
    // 257 range partitions (one past the map-literal bound) with AQE
    // coalescing off force the broadcast-join offsets branch
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.coalescePartitions.enabled")
    val old = keys.map(spark.conf.get)
    spark.conf.set(keys(0), "257")
    spark.conf.set(keys(1), "false")
    try {
      val df = spark.range(0, 5000, 1, 8).select(pmod(col("id"), lit(1000)).as(SubjectId),
        timestamp_micros(lit(1700000000000000L) + col("id") * 1000000L).as(Time))
      val numbered = graft.functions.GraftFunctions.withGlobalRowNumber(
        df, "pos", Seq(col(SubjectId), col(Time)))
      assert(numbered.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
      val mx = numbered.agg(max("pos"), countDistinct("pos")).head()
      assert(mx.getLong(0) == 5000L && mx.getLong(1) == 5000L, s"$mx")
    } finally keys.zip(old).foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("withGlobalRowNumberKeyed: exact 1..n, agrees with the generic variant, skew-safe") {
    import spark.implicits._
    // skewed numeric leading key (one subject holds 30% of rows) + secondary
    // tiebreakers, at enough rows that bucket-boundary bugs would surface
    val df = spark.range(0, 20000).select(
      when(col("id") % 10 < 3, lit(7L)).otherwise(col("id") % 500).as("subj"),
      col("id").as("tie"))
    val keyed = graft.functions.GraftFunctions.withGlobalRowNumberKeyed(
      df, "pos", col("subj"), Seq(col("subj"), col("tie")))
    val rows = keyed.select("pos", "subj", "tie").collect()
    assert(rows.length == 20000)
    assert(rows.map(_.getLong(0)).sorted.toSeq == (1L to 20000L))
    // numbering identical to the checkpoint-based generic variant
    val generic = graft.functions.GraftFunctions.withGlobalRowNumber(
      df, "pos", Seq(col("subj"), col("tie")))
      .select("pos", "subj", "tie").collect()
    assert(rows.map(_.toSeq).toSet == generic.map(_.toSeq).toSet)
    // value-derived bucket id: a SECOND evaluation is bit-identical (the
    // property a raw range shuffle lacks)
    val again = keyed.select("pos", "subj", "tie").collect()
    assert(rows.map(_.toSeq).toSet == again.map(_.toSeq).toSet)
    // the row_number window must be PARTITIONED by the bucket id — a
    // regression to a global Window.orderBy would produce identical values
    // through a single partition, which only the plan can reveal
    val s = plan(keyed).toString
    assert(s.contains("windowspecdefinition(__pid"),
      s"window not partitioned by bucket id:\n$s")
  }

  test("skew guards keep their bounded shapes: broadcast anti-join / broadcast hot-list") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e f"), (2L, "b c d e f g"), (3L, "a b c x y z"))
      .toDF("doc_id", "text")
    // maxDf guard: the guarded path is the GROUPED inverted index — pairs
    // must be generated from posting lists by the native SortedPairs
    // expression (bounded per-group work), never by a shingle self-join
    // (whose skewed key the guard exists to eliminate). The plan shape that
    // regresses here is a join of two exploded shingle tables.
    val pruned = graft.ops.Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 2, threshold = 0.1, maxDf = Some(10))
    val prunedNodes = collectNodes(plan(pruned))
    val pairGen = prunedNodes.exists {
      case g: org.apache.spark.sql.execution.GenerateExec =>
        g.generator.toString.contains("graft_sorted_pairs")
      case _ => false
    }
    assert(pairGen, s"guarded ngram path must emit pairs via SortedPairs:\n${plan(pruned)}")
    val shingleSelfJoin = prunedNodes.exists {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec =>
        j.leftKeys.exists(_.toString.contains("shingle"))
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec =>
        j.leftKeys.exists(_.toString.contains("shingle"))
      case _ => false
    }
    assert(!shingleSelfJoin,
      s"guarded ngram path must not self-join on shingle:\n${plan(pruned)}")

    // knnJoin cap: the oversized-block flag joins via broadcast on BOTH
    // sides — the guard itself must not add a vector shuffle
    val embs = (0 until 30).map(i => (i.toLong, "b", Seq.tabulate(8)(d => (i + d).toDouble)))
      .toDF("vec_id", "label", "embedding")
    val capped = graft.ops.Similarity.knnJoin(embs, embs, "vec_id", "embedding",
      "label", k = 2, maxBlockSize = Some(10))
    val broadcasts = collectNodes(plan(capped)).count {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => true
      case _ => false
    }
    assert(broadcasts >= 2, s"expected broadcast oversized-flag joins:\n${plan(capped)}")

    // band-bucket chain guard: the hot-bucket list reaches BOTH its uses
    // (cold-side anti-join, chain-side semi-join) as a broadcast — and the
    // chain window partitions by the bucket key, never a single partition
    val bandCapped = graft.ops.Dedup.minhashLshPairs(docs, "doc_id", "text",
      n = 2, threshold = 0.1, maxBucket = Some(2))
    val bandNodes = collectNodes(plan(bandCapped))
    val bandAnti = bandNodes.exists {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
        j.joinType.toString.contains("LeftAnti")
      case _ => false
    }
    val bandSemi = bandNodes.exists {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
        j.joinType.toString.contains("LeftSemi")
      case _ => false
    }
    assert(bandAnti && bandSemi,
      s"hot-bucket list must broadcast to both the anti and semi join:\n${plan(bandCapped)}")
    val singlePartWindows = bandNodes.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.partitionSpec.isEmpty => w
    }
    assert(singlePartWindows.isEmpty,
      s"chain window must partition by the bucket key:\n${plan(bandCapped)}")
  }

  test("sketch stages (minhash signatures, simhash, winnow) are shuffle-free") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e f"), (2L, "b c d e f g")).toDF("doc_id", "text")
    for (q <- Seq(
      graft.ops.Dedup.minhashSignatures(docs, "doc_id", "text", n = 3, numPerms = 8),
      graft.ops.Dedup.simhash(docs, "doc_id", "text", n = 3, numBits = 16),
      graft.ops.Dedup.winnowFingerprints(docs, "doc_id", "text", n = 3, w = 4))) {
      val shuffles = collectNodes(plan(q)).count(_.isInstanceOf[ShuffleExchangeExec])
      assert(shuffles == 0,
        s"sketch stage should be a pure per-row projection, found $shuffles shuffles:\n${plan(q)}")
    }
  }

  test("filter-stage signal scans evaluate ONCE per family, not once per rule") {
    // Filter conjuncts get no codegen CSE and predicate pushdown
    // re-inlines projection aliases, so per-rule signal expressions would
    // re-scan the text once PER RULE (the round-12 quality_filter/c4 find:
    // 4.7x / 8.0x DuckDB at 320k docs). The SignalBounds shape pins one
    // scan per family; a revert to per-rule conjuncts multiplies the
    // occurrence counts and fails here.
    // parquet-backed: a LocalRelation constant-folds the whole plan away
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    def occurrences(df: DataFrame, token: String): Int = {
      val s = df.queryExecution.optimizedPlan.toString
      s.sliding(token.length).count(_ == token)
    }
    val meds = graft.meds.MedsData(docs, spark.emptyDataFrame, spark.emptyDataFrame)
    val qf = graft.operators.Pipeline.run(spark, meds,
      graft.config.PipelineConfig.fromYaml(
        """stages:
          |  - quality_filter:
          |      min_words: 2
          |      max_punct_ratio: 0.5
          |      min_stopword_ratio: 0.1
          |      max_dup_line_fraction: 0.9
          |      max_dup_ngram_fraction: 0.9
          |""".stripMargin).stages).data
    assert(occurrences(qf, "graft_quality_signals") == 1,
      s"three quality rules must share ONE scan:\n${qf.queryExecution.optimizedPlan}")
    assert(occurrences(qf, "graft_repetition_signals") == 1,
      s"two repetition rules must share ONE scan:\n${qf.queryExecution.optimizedPlan}")
    val c4 = graft.ops.TextAnalysis.c4Filters(docs, "doc_id", "text",
      minLineWords = 1, minLines = 1)
    // one eval in the keep-filter + one in the replacement projection
    assert(occurrences(c4, "graft_c4_lines") == 2,
      s"c4 line scan must appear once in filter and once in projection:\n${c4.queryExecution.optimizedPlan}")
    assert(occurrences(c4, "graft_phrase_hit") == 1)
  }

  test("dedup_against never shuffles document text — both joins are broadcast") {
    import spark.implicits._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val ref = docs.filter(col("doc_id") % 10 === 0).select("text")
    val q = graft.ops.Dedup.dedupAgainst(docs, "doc_id", "text", ref, "text")
    q.collect() // finalize AQE
    def finalNodes(p: SparkPlan): Seq[SparkPlan] = {
      val inner = p match {
        case a: AdaptiveSparkPlanExec => finalNodes(a.executedPlan)
        case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec => finalNodes(qs.plan)
        case _ => p.children.flatMap(finalNodes)
      }
      p +: inner
    }
    val nodes = finalNodes(q.queryExecution.executedPlan)
    // the only permitted exchange is the ref-side fingerprint distinct —
    // 16-byte hashes, never rows. A shuffle whose output carries `text`
    // means full documents moved on a hash key: the shape this operator
    // exists to avoid (both its joins must stay broadcast here).
    val shuffles = nodes.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.forall(s => !s.output.exists(_.name == "text")),
      s"document text shuffled:\n${q.queryExecution.executedPlan}")
    assert(nodes.exists(_.isInstanceOf[BroadcastExchangeExec]))
  }

  /** Identity-deduped physical scan count: reused stages/exchanges count as
    * the one scan they execute (the ScanAudit walk).
    */
  private def distinctScans(df: DataFrame): Int = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    var scans = 0
    def walk(p: SparkPlan): Unit = {
      if (!seen.add(p)) return
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(qs.plan)
        case re: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => walk(re.child)
        case _: org.apache.spark.sql.execution.FileSourceScanExec => scans += 1
        case other => other.children.foreach(walk)
      }
      p.subqueries.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    scans
  }

  test("self-trained LM and NB plans reuse the corpus aggregations (no per-branch re-scan)") {
    // Shared-frame consumers (model join / marginals / vocabulary) must be
    // served from ONE scan+exchange via AQE stage reuse. This breaks
    // silently whenever a join's INFERRED isnotnull constraints push into
    // one copy of the shared subtree and not another (canonical plans
    // diverge) — the operators state those constraints explicitly, and this
    // test pins the resulting scan counts.
    val dir = java.nio.file.Files.createTempDirectory("graft_reuse").toString
    import spark.implicits._
    (0L until 200L).map(i =>
      (i, s"tok${i % 7} tok${(i + 1) % 5} tok${i % 3}", s"L${i % 3}"))
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(dir)
    val d = spark.read.parquet(dir)

    val lm = graft.ops.LanguageModel.selfPerplexity(d, "doc_id", "text")
    lm.collect()
    // 3 = scoring-gram scan + model-branch scan + id-only reattachment
    // scan. Since the in-row BigramCounts pass (r11) the per-doc gram
    // counts have NO exchange for the model branch to reuse — the model
    // branch re-scans and re-counts instead, a deliberate trade: one extra
    // columnar read replaces shuffling a corpus-sized string-keyed gram
    // table through disk+network (161.9 MB at 32x sf0.1; measured 0.88x
    // of the DuckDB oracle at that scale, from 1.50x). The ctx/vocabulary
    // branches still reuse the MODEL aggregation's (small) exchange —
    // pinned by the scan count staying at 3, not 4+.
    assert(distinctScans(lm) === 3, s"selfPerplexity scans:\n${lm.queryExecution.executedPlan}")

    val (tc, priors) = graft.ops.Classifier.trainNaiveBayes(d, "text", "lang")
    val nb = graft.ops.Classifier.nbScores(d, "doc_id", "text", tc, priors)
    nb.collect()
    // 5 = token-class counts (reused by totals/vocabulary), per-doc grams,
    // priors (reused by class list/N), id-only scan, plus the kTot
    // projection's own columnar read (r17: K_id became a zero-shuffle
    // size-of-token-array scan instead of a second aggregation over the
    // gram exchange — one extra parquet read replaces a corpus-sized
    // shuffle stage; the localCheckpoint pinning that briefly made this 1
    // was reverted after an idle-box A/B showed it a ~3x regression: AQE
    // exchange reuse already deduplicates the lazy plan's shared subtrees)
    assert(distinctScans(nb) === 5, s"nbScores scans:\n${nb.queryExecution.executedPlan}")
  }
}
