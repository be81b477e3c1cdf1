package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Decontaminate

/** Decontamination scale smoke: the evidence that the bloom prefilter path
  * turns the train-side n-gram explode — the exact path's dominant cost at
  * corpus scale — into a per-document in-row probe that touches only the
  * contaminated sliver.
  *
  * Setup: 1M train docs of 30 tokens, of which every 1000th is a verbatim
  * copy of an eval doc (1,000 planted leaks); eval = 2,000 docs. Measured:
  *  1. the exact path's exploded-gram row count (analytic: Σ per-doc grams)
  *     vs the bloom path's — grams exploded only for flagged docs;
  *  2. flagged-doc count vs true contamination (the fpp overshoot the
  *     exact confirm then removes);
  *  3. wall time, exact vs bloom, identical outputs asserted.
  *
  * Run: Test/runMain graft.DecontamSmoke — output is committed in SMOKE.md.
  */
object DecontamSmoke {

  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  /** 30-token docs over a 500k vocab; doc `i` draws its words from seed
    * `i`, except every `leakEvery`-th doc which uses seed `-(i/leakEvery)` —
    * the same seeds the eval corpus uses, so those docs are verbatim eval
    * copies (planted contamination with zero accidental overlap odds at
    * this vocab).
    */
  private def corpus(spark: SparkSession, n: Long, leakEvery: Long): DataFrame =
    spark.range(0, n, 1, 64).select(col("id").as("doc_id"),
      // integral div: `/` on longs is DOUBLE division in Spark, and a
      // double seed would hash differently from the eval side's longs
      docText(when(pmod(col("id"), lit(leakEvery)) === 0,
        -expr(s"id div $leakEvery") - 1).otherwise(col("id"))).as("text"))

  private def evalCorpus(spark: SparkSession, n: Long): DataFrame =
    spark.range(0, n, 1, 8).select(col("id").as("doc_id"),
      docText(-col("id") - 1).as("text"))

  private def docText(seed: org.apache.spark.sql.Column) =
    concat_ws(" ", transform(sequence(lit(0), lit(29)),
      i => concat(lit("w"), pmod(hash(seed * 131 + i * 17), lit(500000)))))

  def main(args: Array[String]): Unit = {
    val spark = LocalSession()
    import graft.functions.GraftFunctions.tokens
    val n = 8 // the decontamination n-gram width
    val train = corpus(spark, 1000000L, 1000L).cache()
    val eval = evalCorpus(spark, 2000L).cache()
    println(s"train=${train.count()} eval=${eval.count()}")

    // exact-path explode volume (analytic): every train doc contributes
    // (tokens - n + 1) gram rows to the semi-join
    val exactGramRows = train
      .select(greatest(size(tokens(col("text"))) - (n - 1), lit(0)).as("g"))
      .agg(coalesce(sum("g"), lit(0L))).head().getLong(0)

    // bloom-path explode volume: grams of FLAGGED docs only (probe built
    // from the same public pieces the operator uses)
    val grams = graft.plans.VectorExpressions.shingleHash56(tokens(col("text")), n, true)
    val bloomBytes = eval.select(explode(grams).as("__g")).distinct()
      .agg(org.apache.spark.sql.GraftSqlBridge.bloomFilterAgg(
        col("__g"), 4L << 20, 32L << 20).as("bf")).head().getAs[Array[Byte]](0)
    val flagged = train.filter(
      graft.plans.VectorExpressions.bloomAnyContain(grams, bloomBytes))
    // probe-shape A/B: the native codegen'd loop vs the composable
    // exists()+might_contain whose lambda interprets per element
    val (nFlagged, tNative) = time(flagged.count())
    val (nFlaggedHof, tHof) = time(train.filter(exists(grams,
      h => org.apache.spark.sql.GraftSqlBridge.mightContain(lit(bloomBytes), h)))
      .count())
    assert(nFlagged == nFlaggedHof)
    println(f"probe scan: native $tNative%.1f s vs interpreted HOF $tHof%.1f s")
    val bloomGramRows = flagged
      .select(greatest(size(tokens(col("text"))) - (n - 1), lit(0)).as("g"))
      .agg(coalesce(sum("g"), lit(0L))).head().getLong(0)

    val (exactIds, tExact) = time {
      Decontaminate.decontaminate(train, eval, "doc_id", "text", n)
        .count()
    }
    val (bloomIds, tBloom) = time {
      Decontaminate.decontaminateBloom(train, eval, "doc_id", "text", n)
        .count()
    }
    println(f"planted leaks: 1000; flagged by bloom: $nFlagged " +
      f"(fpp overshoot ${nFlagged - 1000})")
    println(f"explode volume: exact $exactGramRows%,d gram rows vs bloom " +
      f"$bloomGramRows%,d (${exactGramRows.toDouble / math.max(bloomGramRows, 1)}%.0fx cut)")
    println(f"wall: exact $tExact%.1f s -> $exactIds rows; " +
      f"bloom $tBloom%.1f s -> $bloomIds rows")
    assert(exactIds == bloomIds, "paths must agree")
    assert(exactIds == 999000L, s"expected 999000 survivors, got $exactIds")
    spark.stop()
  }
}
