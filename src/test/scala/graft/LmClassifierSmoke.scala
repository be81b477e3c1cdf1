package graft

import org.apache.spark.sql.functions._
import graft.ops.{Classifier, Divergence, LanguageModel}

/** Scale smoke for the statistical LM / classifier / divergence layer:
  * 1M-document corpora with a ~50k-word vocabulary (committed results in
  * SMOKE.md "LM / classifier / divergence smokes"). What must hold:
  *
  *  - selfPerplexity 1M docs: training + scoring stays ONE corpus scan
  *    (the PlanSpec-pinned reuse shape) and the model/score joins operate
  *    on the vocab-sized aggregate, not the corpus.
  *  - NB: train on a 100k labeled seed, classify the full 1M crawl; the
  *    corpus-side join is token-only (no ×class expansion) so the wide
  *    stage is ~(docs × distinct-tokens-per-doc) narrow rows.
  *  - jsDivergence 1M docs / 10 groups: the (group, token) aggregate is
  *    the only corpus-wide shuffle; everything after is vocab-sized.
  *
  * Usage: sbt "Test/runMain graft.LmClassifierSmoke"
  */
object LmClassifierSmoke {

  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val spark = LocalSession()

    // 1M docs, ~8 tokens each, vocabulary ~50k split across 10 sources
    // with per-source token skew (source s over-samples tokens ≡ s mod 10)
    def corpus(n: Long) = spark.range(0, n, 1, 64).select(
      col("id").as("doc_id"),
      pmod(col("id"), lit(10)).cast("string").as("source"),
      concat_ws(" ",
        concat(lit("w"), pmod(col("id") * 7, lit(50021))),
        concat(lit("w"), pmod(col("id") * 13 + pmod(col("id"), lit(10)) * 5000, lit(50021))),
        concat(lit("w"), pmod(col("id") * 31, lit(997))),
        concat(lit("w"), pmod(col("id"), lit(10)) * lit(100)),
        concat(lit("w"), pmod(col("id") * 3, lit(50021))),
        concat(lit("w"), pmod(col("id") * 17, lit(997))),
        concat(lit("w"), pmod(col("id") * 23, lit(50021))),
        concat(lit("w"), pmod(col("id"), lit(10)))).as("text"))

    val docs = corpus(1000000L)

    val (nLm, tLm) = time {
      val r = LanguageModel.selfPerplexity(docs, "doc_id", "text")
      val agg = r.agg(count(lit(1)), sum(when(col("avg_nll").isNull, 1)),
        avg("avg_nll")).collect()(0)
      assert(agg.getLong(0) == 1000000L, s"row count ${agg.getLong(0)}")
      assert(agg.isNullAt(1), s"null scores for multi-token docs: ${agg}")
      agg.getDouble(2)
    }
    println(f"selfPerplexity 1M docs: $tLm%.1fs, mean avg_nll ${nLm}%.3f")

    val seed = corpus(100000L).withColumn("label",
      concat(lit("L"), pmod(col("doc_id"), lit(4))))
    val (tcM, priorsM) = Classifier.trainNaiveBayes(seed, "text", "label")
    val (nNb, tNb) = time {
      val preds = Classifier.nbClassify(docs, "doc_id", "text", tcM, priorsM)
      val c = preds.filter(col("pred").isNotNull).count()
      assert(c == 1000000L, s"pred count $c")
      c
    }
    println(f"nbClassify 1M docs (100k seed, 4 classes): $tNb%.1fs, $nNb preds")

    val (conf, tConf) = time {
      val t = Classifier.nbConfusion(seed, "doc_id", "text", "label", tcM, priorsM)
      val total = t.agg(sum("n")).collect()(0).getLong(0)
      assert(total == 100000L, s"confusion total $total")
      total
    }
    println(f"nbConfusion 100k eval: $tConf%.1fs, $conf rows accounted")

    val (jsd, tJsd) = time {
      val t = Divergence.jsDivergence(docs, "source", "text")
        .orderBy("source").collect()
      assert(t.length == 10, s"groups ${t.length}")
      t.foreach(r => assert(r.getDouble(3) >= 0 && r.getDouble(3) <= 1.0))
      t.map(_.getDouble(3)).max
    }
    println(f"jsDivergence 1M docs / 10 groups: $tJsd%.1fs, max js_bits $jsd%.4f")

    spark.stop()
  }
}
