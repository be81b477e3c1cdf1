package graft

import org.apache.spark.sql.functions._
import graft.ops.Sampling
import graft.plans.GraftExtensions
import org.scalacheck.Prop.forAll
import org.scalacheck.Prop
import graft.dsl.{Cfg, Dsl}

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private def docs = (0L until 1000L).map(i => (i, s"doc $i", (i % 7).toString))
    .toDF("doc_id", "text", "lang")

  test("bernoulli sample is deterministic and near-fraction") {
    val a = Sampling.sample(docs, "doc_id", 0.3).collect().map(_.getLong(0)).toSet
    val b = Sampling.sample(docs, "doc_id", 0.3).collect().map(_.getLong(0)).toSet
    assert(a == b) // reproducible under re-execution
    assert(a.size > 200 && a.size < 400)
  }

  test("split assignment covers all rows with near-weight proportions") {
    val out = Sampling.assignSplits(docs, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val counts = out.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 1000)
    assert(counts("train") > 700 && counts("train") < 900)
    // hash-based splits compose: a nested sample of train stays within the
    // split, is deterministic, and its seed-7 hash is NOT correlated with
    // the split-assignment hash (rate stays near 0.5, not skewed)
    val train = out.filter(col("split") === "train")
    val trainIds = train.select("doc_id").collect().map(_.getLong(0)).toSet
    val nested = Sampling.sample(train, "doc_id", 0.5, seed = 7)
      .select("doc_id").collect().map(_.getLong(0))
    assert(nested.toSet.subsetOf(trainIds))
    val rate = nested.length.toDouble / trainIds.size
    assert(rate > 0.4 && rate < 0.6, s"nested rate $rate correlates with split hash")
    val again = Sampling.sample(train, "doc_id", 0.5, seed = 7)
      .select("doc_id").collect().map(_.getLong(0))
    assert(nested.toSet == again.toSet)
  }

  test("null ids: dropped by sample, null split in assignSplits (never in held-out)") {
    import spark.implicits._
    val d = Seq(Some(1L), Some(2L), None).toDF("doc_id")
    assert(Sampling.sample(d, "doc_id", 1.0).count() == 2)
    val splits = Sampling.assignSplits(d, "doc_id", Seq("train" -> 0.5, "test" -> 0.5))
      .collect().map(r => Option(r.get(0)) -> r.getString(1)).toMap
    assert(splits(None) == null) // not silently assigned to the last split
  }

  test("stratified cap keeps at most N deterministic rows per stratum") {
    val out = Sampling.stratifiedCap(docs, "doc_id", "lang", perStratum = 10)
    val per = out.groupBy("lang").count().collect().map(_.getLong(1))
    assert(per.forall(_ == 10))
    val out2 = Sampling.stratifiedCap(docs, "doc_id", "lang", perStratum = 10)
    assert(out.collect().map(_.getLong(0)).toSet == out2.collect().map(_.getLong(0)).toSet)
  }

  test("stratified cap is exact on a hot stratum; topk and window paths agree") {
    import spark.implicits._
    // one dominant stratum (the shape that serializes a single-window cap)
    val rows = (0 until 5000).map(i => (i.toLong, "hot")) ++
      (0 until 7).map(i => (10000L + i, "cold"))
    val df = rows.toDF("doc_id", "lang")
    // ground truth: smallest (unitHash, id) per stratum, computed directly
    val hashed = df.select(col("doc_id"), col("lang"),
      Sampling.unitHash(col("doc_id")).as("h"))
      .collect().map(r => (r.getString(1), r.getDouble(2), r.getLong(0)))
    val want = hashed.toSeq.groupBy(_._1).values
      .flatMap(xs => xs.sortBy(x => (x._2, x._3)).take(10).map(_._3)).toSet
    assert(Sampling.stratifiedCap(df, "doc_id", "lang", perStratum = 10)
      .collect().map(_.getLong(0)).toSet == want) // bounded top-k aggregate
    def runWindow(salts: Int) = Sampling.stratifiedCapWindow(df, "doc_id", "lang",
      perStratum = 10, salts = salts).collect().map(_.getLong(0)).toSet
    assert(runWindow(64) == want)
    assert(runWindow(1) == want) // degenerate single-phase
    assert(runWindow(257) == want) // more salts than survivors per stratum
    // the cold stratum (7 < cap) survives whole
    assert((10000L until 10007L).toSet.subsetOf(want))
    // null strata form their own capped group on both paths (null-safe join)
    val withNullStratum = df.withColumn("lang",
      when(col("doc_id") % 3 === 0, col("lang")))
    val a = Sampling.stratifiedCap(withNullStratum, "doc_id", "lang", 10)
      .collect().map(_.getLong(0)).toSet
    val b = Sampling.stratifiedCapWindow(withNullStratum, "doc_id", "lang", 10)
      .collect().map(_.getLong(0)).toSet
    assert(a == b && a.size == 22) // hot:10, cold:2 (only 10002/10005), null:10
  }

  test("token_budget_cap invariants: kept iff pre-budget, straddler kept, idempotent") {
    import org.apache.spark.sql.functions._
    val rng = new scala.util.Random(5)
    val docs = spark.createDataFrame((1L to 200L).map { i =>
      (i, if (i % 3 == 0) "x" else "y",
        Seq.fill(1 + rng.nextInt(30))("w").mkString(" "))
    }).toDF("doc_id", "lang", "text")
    val budget = 300L
    val kept = graft.ops.Sampling.tokenBudgetCap(docs, "doc_id", "text",
      budget, Some("lang")).select("doc_id").collect().map(_.getLong(0)).toSet
    // replay the selection rule independently: hash-order cumsum per lang
    val rows = docs.select(col("doc_id"), col("lang"),
      graft.ops.TextAnalysis.tokenCount(col("text")).cast("long").as("tok"),
      graft.ops.Sampling.unitHash(col("doc_id")).as("u"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val expect = rows.groupBy(_._2).toSeq.flatMap { case (_, g) =>
      val sorted = g.sortBy(r => (r._4, r._1))
      val pres = sorted.scanLeft(0L)(_ + _._3).init
      sorted.zip(pres).collect { case (r, pre) if pre < budget => r._1 }
    }.toSet
    assert(kept == expect)
    // every stratum is actually budget-bound (straddler kept, next dropped)
    assert(kept.size < rows.length)
    // idempotence: capping the capped set changes nothing (all pre-sums
    // shrink or stay when rows are removed, so survivors survive again)
    val again = graft.ops.Sampling.tokenBudgetCap(
      docs.filter(col("doc_id").isin(kept.toSeq: _*)), "doc_id", "text",
      budget, Some("lang")).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == kept)
  }

  test("token_budget_cap: kept count per stratum is budget-bound, not stratum-bound") {
    import org.apache.spark.sql.functions._
    // 70% of the corpus in one hot stratum; 20-token docs, so a 1,000-token
    // budget fills each stratum with 50 docs (the straddler included)
    val corpus = spark.range(0, 10000L, 1, 8).select(col("id").as("doc_id"),
      when(pmod(col("id"), lit(10)) < 7, lit("hot"))
        .otherwise(concat(lit("s"), pmod(col("id"), lit(10)))).as("lang"),
      concat_ws(" ", (1 to 20).map(i => concat(lit("w"), col("id") + i)): _*).as("text"))
    val kept = Sampling.tokenBudgetCap(corpus, "doc_id", "text", 1000L, Some("lang"))
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1))
    kept.foreach { case (lang, n) => assert(n >= 50 && n <= 51, s"stratum $lang kept $n docs") }
  }

  test("deterministicShuffle: positions are exactly 1..n, independent of partitioning") {
    import org.apache.spark.sql.functions._
    val ids = spark.range(0, 20000L, 1, 8).select(col("id").as("doc_id"))
    val agg = Sampling.deterministicShuffle(ids, "doc_id")
      .agg(count(lit(1)), min("shuffle_pos"), max("shuffle_pos"),
        count_distinct(col("shuffle_pos"))).head()
    assert(agg.getLong(0) == 20000L && agg.getLong(1) == 1L &&
      agg.getLong(2) == 20000L && agg.getLong(3) == 20000L,
      s"shuffle positions not a permutation: $agg")
    def spot(df: org.apache.spark.sql.DataFrame) = Sampling.deterministicShuffle(df, "doc_id")
      .filter(col("doc_id") < 5).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(spot(ids) == spot(ids.repartition(7)), "shuffle not partitioning-independent")
  }

  test("resample_mix: integer rates repeat exactly, fractional rates match sample()") {
    val d = docs.withColumn("source",
      when(col("doc_id") % 3 === 0, "a").when(col("doc_id") % 3 === 1, "b")
        .otherwise("c"))
    val out = Sampling.resampleMix(d, "doc_id", "source",
      rates = Seq("a" -> 2.0, "b" -> 0.3, "c" -> 0.0), seed = 7L)
    val byEpoch = out.groupBy("source", "epoch").count().collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    // rate 2.0: every row exactly twice (epochs 0 and 1), never a third
    assert(byEpoch(("a", 0L)) == 334 && byEpoch(("a", 1L)) == 334)
    assert(!byEpoch.contains(("a", 2L)))
    // rate 0.3 == sample(0.3) on the stratum: same hash, same survivors
    val bIds = out.filter(col("source") === "b").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val sampled = Sampling.sample(d.filter(col("source") === "b"), "doc_id", 0.3, seed = 7L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(bIds == sampled)
    // rate 0.0 drops the stratum entirely
    assert(!byEpoch.keys.exists(_._1 == "c"))
    // unlisted stratum gets defaultRate; null ids are dropped
    val extra = Seq((Some(5000L), "x"), (None, "a")).toDF("doc_id", "source")
    val out2 = Sampling.resampleMix(extra, "doc_id", "source",
      rates = Seq("a" -> 2.0), defaultRate = 1.0, seed = 7L).collect()
    assert(out2.map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((5000L, "x")))
    // guard rails: negative rate and epoch-column collision fail fast
    intercept[IllegalArgumentException] {
      Sampling.resampleMix(d, "doc_id", "source", Seq("a" -> -1.0)) }
    intercept[IllegalArgumentException] {
      Sampling.resampleMix(d.withColumn("epoch", lit(0)), "doc_id", "source", Nil) }
  }

  test("resampleMixByRates equals resampleMix for the same rates; null stratum -> default") {
    val d = docs.withColumn("source",
      when(col("doc_id") % 3 === 0, "a").when(col("doc_id") % 3 === 1, "b")
        .otherwise(lit(null).cast("string")))
    val lit3 = Seq("a" -> 1.5, "b" -> 0.4)
    val ratesDf = lit3.toDF("source", "rate")
    val viaFrame = Sampling.resampleMixByRates(d, "doc_id", "source", ratesDf,
      defaultRate = 0.7, seed = 7L)
    val viaLits = Sampling.resampleMix(d, "doc_id", "source", lit3,
      defaultRate = 0.7, seed = 7L)
    assert(collectSet(viaFrame) === collectSet(viaLits))
  }

  test("temperatureMix: alpha=1 is the identity mix; alpha=0 equalizes strata") {
    // 300 docs: stratum a = 240 (80%), b = 60 (20%)
    val d = (0L until 300L).map(i => (i, if (i < 240) "a" else "b"))
      .toDF("doc_id", "source")
    val id1 = Sampling.temperatureMix(d, "doc_id", "source", alpha = 1.0, seed = 7L)
    // alpha=1 -> every rate exactly 1.0 -> identical corpus, all epoch 0
    assert(id1.filter(col("epoch") =!= 0).isEmpty)
    assert(id1.count() === 300L)
    val eq = Sampling.temperatureMix(d, "doc_id", "source", alpha = 0.0, seed = 7L)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // alpha=0 targets 150/150 (rate_a=0.625, rate_b=2.5); Bernoulli rounding
    // wobbles the fractional parts only
    assert(math.abs(eq("a") - 150L) < 20, s"a: ${eq("a")}")
    assert(math.abs(eq("b") - 150L) < 20, s"b: ${eq("b")}")
    // b gets guaranteed integer copies: every b doc appears >= 2 times
    val bMin = Sampling.temperatureMix(d, "doc_id", "source", alpha = 0.0, seed = 7L)
      .filter(col("source") === "b").groupBy("doc_id").count()
      .agg(min("count")).head().getLong(0)
    assert(bMin >= 2L)
  }
}

class ClusterRepsSpec extends SparkSpec {
  import spark.implicits._

  test("clusterRepresentatives: argmax score, ties to min id, null/NaN below any score") {
    val m = Seq(
      (1L, 10L, Some(0.5)), (2L, 10L, Some(0.9)), (3L, 10L, Some(0.9)), // tie 2 vs 3
      (4L, 20L, None), (5L, 20L, Some(Double.NaN)), (6L, 20L, Some(0.1)),
      (7L, 30L, None), (8L, 30L, None) // all-null cluster -> min id
    ).map { case (id, c, s) => (id, c, s.map(java.lang.Double.valueOf).orNull) }
      .toDF("id", "cluster_id", "q")
    val reps = graft.ops.Dedup.clusterRepresentatives(m, "id", "cluster_id", "q")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reps === Map(10L -> 2L, 20L -> 6L, 30L -> 7L))
  }
}

class GraftExtensionsSpec extends SparkSpec {
  test("native expressions are callable from SQL after registration") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT graft_token_count('the quick  brown fox') AS n, " +
        "graft_unigram_entropy(array('a', 'b', 'c', 'd')) AS h").head()
    assert(r.getInt(0) == 4)
    assert(r.getDouble(1) == 2.0)
  }

  test("full SQL surface: every registered function equals its Column API twin") {
    GraftExtensions.register(spark)
    import graft.plans.VectorExpressions
    import graft.functions.GraftFunctions
    val df = spark.sql("SELECT 'the quick brown fox jumps the fence' AS text")
      .withColumn("toks", GraftFunctions.tokens(col("text")))
      .withColumn("hs", VectorExpressions.hash56Array(col("toks")))
    val viaSql = df.selectExpr(
      "graft_hash56(text) AS h",
      "graft_hash56_array(toks) AS ha",
      "graft_shingle_hash56(toks, 2, true) AS sh",
      "graft_minhash(hs, 8, 42L) AS mh",
      "graft_simhash(hs, 32) AS sim",
      "graft_winnow(hs, 3) AS wm",
      "graft_sorted_pairs(array(3L, 1L, 2L)) AS sp").head()
    val viaApi = df.select(
      VectorExpressions.hash56(col("text")).as("h"),
      VectorExpressions.hash56Array(col("toks")).as("ha"),
      VectorExpressions.shingleHash56(col("toks"), 2, true).as("sh"),
      VectorExpressions.minhashSig(col("hs"),
        GraftFunctions.hashParams(8, 42L)).as("mh"),
      VectorExpressions.simhashPack(col("hs"), 32).as("sim"),
      VectorExpressions.winnowMins(col("hs"), 3).as("wm"),
      VectorExpressions.sortedPairs(
        array(lit(3L), lit(1L), lit(2L))).as("sp")).head()
    assert(viaSql.toSeq == viaApi.toSeq)
  }

  test("non-literal config argument raises a readable analysis error") {
    GraftExtensions.register(spark)
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_simhash(array(1L), CAST(id AS INT)) FROM range(1)")
        .collect()
    }
    assert(e.getMessage.contains("graft_simhash"))
    val w = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_hash56('a', 'b') ").collect()
    }
    assert(w.getMessage.toLowerCase.contains("graft_hash56"))
  }
}

/** Property tests for the DSL and portable primitives (ScalaCheck's own
  * runner — no scalatestplus bridge in the offline classpath).
  */
class PropertySpec extends SparkSpec {
  import graft.functions.GraftFunctions

  private def check(prop: Prop): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(50), prop)
    assert(res.passed, res.status.toString)
  }

  private val identGen = org.scalacheck.Gen.choose(1, 12).flatMap(n =>
    org.scalacheck.Gen.listOfN(n, org.scalacheck.Gen.alphaChar).map(_.mkString))

  test("matcher compilation never throws for arbitrary scalar matchers") {
    check(forAll(org.scalacheck.Gen.mapOf(org.scalacheck.Gen.zip(
      identGen, org.scalacheck.Gen.oneOf[Cfg](Cfg("x"), Cfg(1), Cfg(2.5), Cfg(true))))) { m =>
      val cfg = Cfg.M(scala.collection.immutable.ListMap(m.toSeq: _*))
      Dsl.isMatcher(cfg) && { Dsl.matcherToExpr(cfg); true }
    })
  }

  test("interpolation extracts exactly the referenced columns") {
    check(forAll(identGen, identGen) { (a, b) =>
      val (_, cols) = Dsl.interpolate(s"pre//{$a}//mid//{$b}")
      cols == Set(a, b)
    })
  }

  test("searchSortedRight matches Scala's right-bisect on sorted arrays") {
    import spark.implicits._
    // drive Spark once over a batch of generated cases (one job, not 50)
    val rng = new scala.util.Random(3)
    val cases = (0 until 60).map { _ =>
      (Array.fill(8)(rng.nextDouble() * 200 - 100).sorted, rng.nextDouble() * 240 - 120)
    }
    val got = cases.toDF("eps", "v")
      .select(GraftFunctions.searchSortedRight(col("eps"), col("v")))
      .collect().map(_.getInt(0)).toSeq
    val expected = cases.map { case (eps, v) => eps.count(_ <= v) }
    assert(got == expected)
  }
}
