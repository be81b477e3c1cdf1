package graft

import graft.obs.Collector

/** Shuffle-volume regression net (VERDICT r9 #3): stage-completed task
  * metrics of the heaviest operators at sf0.1, summed from the records of
  * [[graft.obs.Collector.measure]] (whose bus drains keep the warm run's
  * events out of the measured run), asserted against pinned upper bounds
  * with ~2.5× headroom — the 100×-relevant quantities (bytes
  * shuffled, bytes spilled) pinned directly instead of inferred from plan
  * shape. A plan regression that re-scans an input, loses an exchange
  * reuse, or explodes a join ~doubles shuffle volume and fails here even
  * when wall-clock noise would hide it; PlanSpec/PlanLint continue to pin
  * the shapes themselves.
  *
  * Bounds are TOTAL shuffle bytes written across all stages of one gate
  * run at sf0.1 (local[4], 4 shuffle partitions — partition count changes
  * layout, not total volume). Each gate is warmed once first so one-time
  * fixture staging (idempotent input roots) never counts against the
  * bound. Spill must be zero: nothing at sf0.1 should exceed executor
  * memory, and a spill regression is exactly the kind of silent
  * scale-killer this net exists to catch.
  */
class MetricsSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.1"

  /** (gate, max total shuffle bytes) — measured at sf0.1 and pinned with
    * ~2.5× headroom; a >2× volume regression fails before the headroom
    * hides it. Update deliberately, with a measured justification.
    */
  private val bounds: Seq[(String, Long)] = Seq(
    "analysis_pipeline" -> 15_000_000L,       // measured 5.72 MB (r10)
    "curation_pipeline" -> 1_000_000L,        // measured 0.33 MB
    "feature_pipeline" -> 8_000_000L,         // measured 2.23 MB (plain asOf + trailing)
    "ngram_jaccard" -> 30_000_000L,           // measured 11.43 MB
    "tf_idf" -> 10_000_000L,                  // measured 4.02 MB
    "minhash_lsh_dedup_stage" -> 2_000_000L,  // measured 0.81 MB
    "dedup_clusters" -> 64_000L,              // measured 9.0 KB
    "cluster_reps" -> 64_000L,                // measured 17.7 KB
    "lm_perplexity" -> 500_000L,              // measured 183 KB (r11, in-row grams)
    "ppl_buckets" -> 450_000L)                // measured 172 KB (r11, in-row grams)


  for ((q, cap) <- bounds)
    test(s"$q: shuffle volume within pinned bound, zero spill") {
      // warm: one-time staging + codegen, outside the measured region
      Bench.force(SparkEntry.queries(q)(spark, dir))
      // full materialization (Bench.force): a bare count() lets Catalyst
      // prune unreferenced windows/projections and would measure a
      // degenerate plan — the very discovery that prompted this net
      val r = Collector.measure(spark)(Bench.force(SparkEntry.queries(q)(spark, dir)))._2
      val (shufWrite, spillDisk, spillMem) = (r.total(_.shuffleWriteMetrics.bytesWritten),
        r.total(_.diskBytesSpilled), r.total(_.memoryBytesSpilled))
      info(f"$q shuffleWrite=$shufWrite%,d spillDisk=$spillDisk%,d " +
        f"spillMem=$spillMem%,d")
      assert(shufWrite <= cap,
        s"$q shuffled $shufWrite bytes > pinned bound $cap — a plan " +
          "regression (lost exchange reuse, re-scan, join explosion)?")
      assert(spillDisk == 0 && spillMem == 0,
        s"$q spilled (disk=$spillDisk, mem=$spillMem) at sf0.1 — " +
          "partitions no longer fit in executor memory")
    }
}
