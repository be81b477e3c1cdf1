package graft

import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Sampling}

/** Scale smoke for the round-8 corpus ops: 1M-document shapes that prove
  * the operators' wide stages stay narrow/bounded (committed results in
  * SMOKE.md "Round-8 corpus-op smokes").
  *
  *  - dedupAgainst: 1M-doc crawl vs a 100k-doc previous release (50k
  *    overlapping) — the exact path's join sides are (id, fp) / (fp)
  *    projections only, and the bloom prefilter path must agree exactly.
  *  - tokenBudgetCap: 1M docs across 10 strata with one hot stratum
  *    (70% of the corpus) — the cumsum windows over a 3-column
  *    projection; winner counts are budget-bound, not corpus-bound.
  *
  * Usage: sbt "Test/runMain graft.CorpusOpsSmoke"
  */
object CorpusOpsSmoke {

  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val spark = LocalSession()

    // ---- dedupAgainst: 1M crawl vs 100k previous release ----
    val crawl = spark.range(0, 1000000L, 1, 64).select(col("id").as("doc_id"),
      concat(lit("document body number "), col("id"),
        lit(" with trailing words")).as("text"))
    // release covers ids 0..99999; 50k of them (even ids) reformatted —
    // normalization must still match ALL 100k
    val release = spark.range(0, 100000L, 1, 16).select(
      when(pmod(col("id"), lit(2)) === 0,
        upper(concat(lit("  document body number "), col("id"),
          lit("  with trailing words "))))
        .otherwise(concat(lit("document body number "), col("id"),
          lit(" with trailing words"))).as("text"))
    val (nExact, tExact) = time {
      Dedup.dedupAgainst(crawl, "doc_id", "text", release, "text").count()
    }
    assert(nExact == 900000L, s"expected 900k survivors, got $nExact")
    val (nBloom, tBloom) = time {
      Dedup.dedupAgainst(crawl, "doc_id", "text", release, "text",
        bloomItems = 100000L).count()
    }
    assert(nBloom == nExact, s"bloom path diverged: $nBloom vs $nExact")
    println(f"dedupAgainst 1M-vs-100k: exact $tExact%.1fs, bloom $tBloom%.1fs, " +
      s"survivors $nExact")

    // ---- tokenBudgetCap: 1M docs, hot stratum = 70% of corpus ----
    val docs = spark.range(0, 1000000L, 1, 64).select(col("id").as("doc_id"),
      when(pmod(col("id"), lit(10)) < 7, lit("hot"))
        .otherwise(concat(lit("s"), pmod(col("id"), lit(10)))).as("lang"),
      concat_ws(" ", (1 to 20).map(i => concat(lit("w"), col("id") + i)): _*)
        .as("text"))
    val budget = 100000L // 100k tokens/stratum = ~5k docs of 20 tokens
    val (kept, tCap) = time {
      Sampling.tokenBudgetCap(docs, "doc_id", "text", budget, Some("lang"))
        .groupBy("lang").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    // every stratum (hot 700k docs or cold 100k) fills to ~budget/20 docs:
    // winner counts are budget-bound, not proportional to stratum size
    kept.foreach { case (lang, n) =>
      assert(n >= 5000 && n <= 5001, s"stratum $lang kept $n docs")
    }
    println(f"tokenBudgetCap 1M docs, 70%% hot stratum: $tCap%.1fs, " +
      s"per-stratum kept ${kept.values.min}..${kept.values.max}")
    spark.stop()
  }
}
