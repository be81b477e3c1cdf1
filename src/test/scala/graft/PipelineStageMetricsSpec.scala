package graft

import graft.obs.Collector
import org.apache.spark.sql.functions._
import graft.meds.{MedsData, MedsIO, MedsSchema}

/** Per-stage shuffle/spill profile of the three composed pipelines
  * (VERDICT r10 #4): MetricsSpec pins each chain's TOTAL volume; this spec
  * pins the MARGINAL volume each pipeline stage adds, so a plan regression
  * localizes to the offending operator instead of the whole chain.
  *
  * Method: prefix diffs over the REAL fused chain. For each prefix
  * `stages.take(i)`, run `Pipeline.run` and fully materialize the output
  * (`Bench.force`); stage i's marginal = prefix-i volume − prefix-(i−1)
  * volume. Prefix runs keep the exact cross-stage plan fusion the runner
  * executes (measuring stages in isolation over parquet intermediates
  * would break scan sharing and column pruning across stage boundaries and
  * profile a plan the runner never runs). Shuffle volumes are not exact
  * from run to run: two runs of one commit measured MetricsSpec's
  * ngram_jaccard gate at 11,124,239 vs 11,433,057 B and its cluster_reps
  * gate at 14,977 vs 17,720 B. The bounds here and there carry about 2.5×
  * headroom over such a spread, so one cold run per prefix is enough.
  * Each prefix volume is summed from the records of
  * one [[graft.obs.Collector.measure]] body; input staging happens outside
  * it, and its bus drains keep one prefix's stage events out of the next.
  * A marginal can legitimately be ~0 (pure projections/filters) or
  * slightly negative (a later stage's pruning shrinking an upstream
  * exchange); bounds are upper bounds on bytes ADDED. Spill must be zero
  * at every prefix.
  *
  * Cumulative totals here are smaller than MetricsSpec's gate totals for
  * the same pipelines: the gates run through graft.Main (durable output
  * root write + read-back + final gate sort), which this spec deliberately
  * excludes — the chain's internal shuffles are the per-stage quantity.
  */
class PipelineStageMetricsSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.1"

  private def empty(schema: org.apache.spark.sql.types.StructType) =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Run every prefix of the chain, asserting each stage's marginal
    * shuffle bytes against its pinned bound and zero spill throughout.
    */
  private def profile(yamlPath: String, overrides: Seq[String],
      input: MedsData, stageBounds: Seq[(String, Long)]): Unit = {
    val parsed = graft.config.PipelineConfig.fromFile(yamlPath, overrides)
    assert(parsed.stages.map(_.name) === stageBounds.map(_._1),
      "stage list drifted from the pinned profile — re-measure the bounds")
    var prev = 0L
    for (i <- 1 to parsed.stages.length) {
      val (name, cap) = stageBounds(i - 1)
      val r = Collector.measure(spark) {
        Bench.force(graft.operators.Pipeline
          .run(spark, input, parsed.stages.take(i)).data)
      }._2
      val (shufWrite, spillDisk, spillMem) = (r.total(_.shuffleWriteMetrics.bytesWritten),
        r.total(_.diskBytesSpilled), r.total(_.memoryBytesSpilled))
      val marginal = shufWrite - prev
      info(f"stage $name%-22s marginal=$marginal%,12d cumulative=$shufWrite%,d")
      assert(marginal <= cap,
        s"stage $name added $marginal shuffle bytes > pinned bound $cap — " +
          "a stage-local plan regression (lost reuse, re-scan, join explosion)?")
      assert(spillDisk == 0 && spillMem == 0,
        s"prefix through $name spilled (disk=$spillDisk, mem=$spillMem)")
      prev = shufWrite
    }
  }

  private def freshTmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_stagemetrics_$tag").toString

  test("analysis pipeline: per-stage marginal shuffle within pinned bounds") {
    val tmp = freshTmp("analysis")
    val overrides = Queries.stageAnalysisInputs(spark, dir, tmp)
    val seed = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text", "lang", "source").limit(1)
    profile(Queries.AnalysisYaml, overrides,
      MedsData(seed, empty(MedsSchema.codesSchema), empty(MedsSchema.splitsSchema)),
      Seq( // measured at sf0.1 (r11), ~2.5x headroom
        "load_csv" -> 64_000L,         // measured 0 (source scan only)
        "lm_perplexity" -> 250_000L,   // measured 88 KB (LM/ctx aggs; the
                                       // in-row BigramCounts pass removed
                                       // the per-occurrence gram exchange)
        "filter_rows" -> 64_000L,      // measured 0 (pure filter)
        "nb_classify" -> 2_200_000L,   // measured 885 KB (token/class aggs)
        "js_divergence" -> 500_000L))  // measured -64 KB (its aggregation
                                       // is SMALLER than the columns it
                                       // prunes from upstream exchanges)
  }

  test("curation pipeline: per-stage marginal shuffle within pinned bounds") {
    val tmp = freshTmp("curation")
    val overrides = Queries.stageCurationInputs(spark, dir, tmp)
    profile(Queries.CurationYaml, overrides,
      MedsData(spark.read.parquet(s"$dir/documents.parquet").limit(1),
        empty(MedsSchema.codesSchema), empty(MedsSchema.splitsSchema)),
      Seq( // measured at sf0.1 (r11), ~2.5x headroom
        "load_jsonl" -> 64_000L,          // measured 0 (source scan only)
        "expect_schema" -> 64_000L,       // measured 0 (metadata-only)
        "quality_filter" -> 64_000L,      // measured 0 (pure filter)
        "c4_filter" -> 64_000L,           // measured 0 (in-row line logic)
        "dedup_lines" -> 320_000L,        // measured 122 KB (line groups)
        "minhash_lsh_dedup" -> 320_000L,  // measured 122 KB (band buckets + CC)
        "decontaminate" -> 64_000L,       // measured 15 KB (gram probe)
        "resample_mix" -> 64_000L,        // measured 0 (per-source caps in-row)
        "pack_sequences" -> 120_000L))    // measured 38 KB (pack numbering)
  }

  test("feature pipeline: per-stage marginal shuffle within pinned bounds") {
    val tmp = freshTmp("feature")
    val overrides = Queries.stageFeatureInputs(spark, dir, tmp)
    profile(Queries.FeatureYaml, overrides, MedsIO.read(spark, s"$tmp/in"),
      Seq( // measured at sf0.1 (r11), ~2.5x headroom
        "enrich_view" -> 4_800_000L,       // measured 1.24 MB (asof union, one keyed shuffle)
        "trailing_activity" -> 2_000_000L))// measured 0.51 MB (RANGE window, one keyed shuffle)
  }
}
