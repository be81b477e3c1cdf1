package graft

import org.apache.spark.sql.functions._
import graft.ops.{Classifier, LanguageModel}

/** Bigram-LM perplexity: hand-computed Laplace-smoothed scores, OOV
  * smoothing, short-document semantics, and partitioning independence of
  * the exact scaled-integer sums.
  */
class LanguageModelSpec extends SparkSpec {
  import spark.implicits._

  test("bigramCounts aggregates corpus-wide bigram occurrences") {
    val corpus = Seq((0L, "a b a"), (1L, "b a")).toDF("doc_id", "text")
    val lm = LanguageModel.bigramCounts(corpus, "text")
    assert(collectSet(lm) === Set(Seq("a", "b", 1L), Seq("b", "a", 2L)))
  }

  test("selfPerplexity matches the hand-computed Laplace bigram model") {
    val corpus = Seq((0L, "a b a b"), (1L, "a b")).toDF("doc_id", "text")
    // lm: (a,b)=3, (b,a)=1; ctx: a=3, b=1; V=2
    // lp(a,b) = ln(4/5) -> -223144e-6;  lp(b,a) = ln(2/3) -> -405465e-6
    val out = LanguageModel.selfPerplexity(corpus, "doc_id", "text")
      .orderBy("doc_id").collect()
    val d0 = out(0)
    assert(d0.getLong(1) === 3L && d0.getLong(2) === 0L)
    // doc0: (2*223144 + 405465)/3e6
    assert(math.abs(d0.getDouble(3) - 851753.0 / 3e6) < 1e-12)
    assert(d0.getDouble(4) === math.rint(math.exp(851753.0 / 3e6) * 100) / 100)
    val d1 = out(1)
    assert(d1.getLong(1) === 1L && math.abs(d1.getDouble(3) - 0.223144) < 1e-12)
  }

  test("unseen bigrams and contexts degrade to uniform smoothing and count as OOV") {
    val lm = LanguageModel.bigramCounts(
      Seq((0L, "a b a b"), (1L, "a b")).toDF("doc_id", "text"), "text")
    val out = LanguageModel.perplexity(
      Seq((9L, "c d")).toDF("doc_id", "text"), "doc_id", "text", lm).collect()
    // unseen context: lp = ln(1) - ln(0 + V=2) = -ln 2
    assert(out(0).getLong(1) === 1L && out(0).getLong(2) === 1L)
    assert(math.abs(out(0).getDouble(3) - 0.693147) < 1e-12)
    assert(out(0).getDouble(4) === 2.0)
  }

  test("documents under two tokens score null with zero counted bigrams") {
    val lm = LanguageModel.bigramCounts(Seq((0L, "a b")).toDF("doc_id", "text"), "text")
    val out = LanguageModel.perplexity(
      Seq((1L, ""), (2L, "a"), (3L, "   ")).toDF("doc_id", "text"),
      "doc_id", "text", lm).orderBy("doc_id").collect()
    out.foreach { r =>
      assert(r.getLong(1) === 0L && r.getLong(2) === 0L)
      assert(r.isNullAt(3) && r.isNullAt(4))
    }
  }

  test("skewed 10-source corpus: every multi-token doc gets a score and a prediction") {
    // ~8 tokens per doc over a ~50k vocabulary; the 10 sources (doc_id
    // mod 10) each over-sample their own tokens
    def corpus(n: Long) = spark.range(0, n, 1, 8).select(
      col("id").as("doc_id"),
      concat_ws(" ",
        concat(lit("w"), pmod(col("id") * 7, lit(50021))),
        concat(lit("w"), pmod(col("id") * 13 + pmod(col("id"), lit(10)) * 5000, lit(50021))),
        concat(lit("w"), pmod(col("id") * 31, lit(997))),
        concat(lit("w"), pmod(col("id"), lit(10)) * lit(100)),
        concat(lit("w"), pmod(col("id") * 3, lit(50021))),
        concat(lit("w"), pmod(col("id") * 17, lit(997))),
        concat(lit("w"), pmod(col("id") * 23, lit(50021))),
        concat(lit("w"), pmod(col("id"), lit(10)))).as("text"))
    val docs = corpus(2000L)
    val lm = LanguageModel.selfPerplexity(docs, "doc_id", "text")
      .agg(count(lit(1)), sum(when(col("avg_nll").isNull, 1))).head()
    assert(lm.getLong(0) == 2000L, s"row count ${lm.getLong(0)}")
    assert(lm.isNullAt(1), s"null scores for multi-token docs: $lm")

    val seed = corpus(400L).withColumn("label", concat(lit("L"), pmod(col("doc_id"), lit(4))))
    val (tc, priors) = Classifier.trainNaiveBayes(seed, "text", "label")
    val preds = Classifier.nbClassify(docs, "doc_id", "text", tc, priors)
      .filter(col("pred").isNotNull).count()
    assert(preds == 2000L, s"pred count $preds")
  }

  test("scores are identical under different input partitioning") {
    val corpus = (0L until 60L).map(i =>
      (i, s"tok${i % 7} tok${(i + 1) % 5} tok${i % 3} tok${(i * 3) % 11}"))
      .toDF("doc_id", "text")
    val a = LanguageModel.selfPerplexity(corpus.repartition(1), "doc_id", "text")
    val b = LanguageModel.selfPerplexity(corpus.repartition(13), "doc_id", "text")
    assert(collectSet(a) === collectSet(b))
  }

  test("perplexityBuckets: exact per-group tertiles, boundary ties to the lower bucket") {
    // group g: scores 1..9 -> thresholds t1=3, t2=6 (nB·cum >= k·n)
    val scored = ((1 to 9).map(i =>
        ("g", i.toLong, java.lang.Double.valueOf(i.toDouble))) :+
      (("h", 100L, java.lang.Double.valueOf(5.0))) :+
      (("h", 101L, null.asInstanceOf[java.lang.Double])))
      .toDF("lang", "doc_id", "ppl")
    val out = LanguageModel.perplexityBuckets(scored, "ppl", Seq("lang"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        Option(r.getAs[Any]("ppl_bucket"))).toMap
    (1 to 3).foreach(i => assert(out(i.toLong) === Some(1)))
    (4 to 6).foreach(i => assert(out(i.toLong) === Some(2)))
    (7 to 9).foreach(i => assert(out(i.toLong) === Some(3)))
    // single-member group: its only score IS every threshold -> bucket 1
    assert(out(100L) === Some(1))
    // unscoreable doc: bucket null, not silently "fluent"
    assert(out(101L) === None)
  }

  test("perplexityBuckets: equal scores share a bucket at any bucket count") {
    val scored = Seq.fill(10)(2.0).zipWithIndex
      .map { case (p, i) => (i.toLong, p) }.toDF("doc_id", "ppl")
    val out = LanguageModel.perplexityBuckets(scored, "ppl", Nil, nBuckets = 4)
      .select("ppl_bucket").distinct().collect()
    assert(out.map(_.getInt(0)).toSeq === Seq(1))
  }
}

/** Naive Bayes classifier: hand-computed smoothed likelihoods, prior-only
  * scoring of empty documents, deterministic argmax tiebreak.
  */
class ClassifierSpec extends SparkSpec {
  import spark.implicits._

  private def train = Seq(
    (0L, "a b a", "x"),
    (1L, "b b", "y")
  ).toDF("doc_id", "text", "label")

  test("trainNaiveBayes emits token-class counts and priors") {
    val (tc, priors) = Classifier.trainNaiveBayes(train, "text", "label")
    assert(collectSet(tc) === Set(
      Seq("x", "a", 2L), Seq("x", "b", 1L), Seq("y", "b", 2L)))
    assert(collectSet(priors) === Set(Seq("x", 1L), Seq("y", 1L)))
  }

  test("nbScores matches the hand-computed smoothed joint log-probabilities") {
    val (tc, priors) = Classifier.trainNaiveBayes(train, "text", "label")
    val out = Classifier.nbScores(
      Seq((9L, "a b")).toDF("doc_id", "text"), "doc_id", "text", tc, priors)
      .orderBy("label").collect()
    // tot_x=3 tot_y=2 V=2 N=2; prior = ln(1/2) -> -693147
    // x: ln(3/5) -> -510826, ln(2/5) -> -916291 => s = -2120264
    // y: ln(1/4) -> -1386294, ln(3/4) -> -287682 => s = -2367123
    assert(out(0).getString(1) === "x" && out(0).getDouble(2) === -2.120264)
    assert(out(1).getString(1) === "y" && out(1).getDouble(2) === -2.367123)
    assert(out.forall(_.getString(3) === "x"))
  }

  test("tokenless documents score on the prior alone; ties pick the smallest label") {
    val (tc, priors) = Classifier.trainNaiveBayes(train, "text", "label")
    val out = Classifier.nbScores(
      Seq((9L, "")).toDF("doc_id", "text"), "doc_id", "text", tc, priors)
      .orderBy("label").collect()
    // equal priors, no tokens -> both scores = ln(1/2); tie -> "x"
    assert(out.map(_.getDouble(2)).toSeq === Seq(-0.693147, -0.693147))
    assert(out.forall(_.getString(3) === "x"))
  }

  test("nbClassify returns one prediction per document, matching nbScores") {
    val (tc, priors) = Classifier.trainNaiveBayes(train, "text", "label")
    val docs = Seq((9L, "a b"), (10L, "b b b"), (11L, "")).toDF("doc_id", "text")
    val preds = Classifier.nbClassify(docs, "doc_id", "text", tc, priors)
    assert(preds.count() === 3L)
    val viaScores = Classifier.nbScores(docs, "doc_id", "text", tc, priors)
      .select("doc_id", "pred").distinct()
    assert(collectSet(preds) === collectSet(viaScores))
    assert(collectSet(preds.filter(col("doc_id") === 10L))
      === Set(Seq(10L, "y")))
  }

  test("predictions are identical under different input partitioning") {
    val seed = (0L until 40L).map(i =>
      (i, s"w${i % 5} w${i % 3} w${i % 7}", if (i % 2 == 0) "x" else "y"))
      .toDF("doc_id", "text", "label")
    val (tc, priors) = Classifier.trainNaiveBayes(seed, "text", "label")
    val a = Classifier.nbClassify(seed.repartition(1), "doc_id", "text", tc, priors)
    val b = Classifier.nbClassify(seed.repartition(11), "doc_id", "text", tc, priors)
    assert(collectSet(a) === collectSet(b))
  }

}
