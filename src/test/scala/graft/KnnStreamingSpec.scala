package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.Similarity

/** The knnJoin plan-dispatch contract: the STREAMING per-block top-k plan
  * (the scale path above `pairBudget` — no pair materialization, no window)
  * must be result-IDENTICAL to the window form on every semantic edge the
  * window form defines: null join keys, null ids, null vectors, null
  * elements, zero norms, mismatched lengths, NaN, cos ties (id tiebreak),
  * string ids under binary collation, and salt invariance on both plans.
  */
class KnnStreamingSpec extends SparkSpec {
  import spark.implicits._

  private def window(df: DataFrame, k: Int = 3,
      cap: Option[Int] = None): DataFrame =
    Similarity.knnJoin(df, df, "vec_id", "embedding", "label", k = k,
      maxBlockSize = cap, pairBudget = Long.MaxValue)

  private def streaming(df: DataFrame, k: Int = 3, salt: Int = 1,
      cap: Option[Int] = None): DataFrame =
    Similarity.knnJoin(df, df, "vec_id", "embedding", "label", k = k,
      maxBlockSize = cap, salt = salt, pairBudget = -1L)

  /** Doubles compared by canonical IEEE bits: Scala's boxed `==` uses the
    * primitive compare, so NaN never equals itself in a plain Set diff.
    */
  private def bitSet(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq.map {
      case d: java.lang.Double => java.lang.Double.doubleToLongBits(d)
      case x => x
    }).toSet

  private def assertSame(a: DataFrame, b: DataFrame): Unit = {
    val sa = bitSet(a.select("id_l", "id_r", "cos", "rank"))
    val sb = bitSet(b.select(col("id_l"), col("id_r"), col("cos"),
      col("rank").cast(IntegerType)))
    assert(sa == sb,
      s"plan drift:\n only window: ${sa -- sb}\n only streaming: ${sb -- sa}")
  }

  private def randomCorpus(n: Int, dim: Int, blocks: Int,
      seed: Long): DataFrame = {
    val rng = new scala.util.Random(seed)
    (0 until n).map { i =>
      (i.toLong, s"b${rng.nextInt(blocks)}",
        Seq.fill(dim)(rng.nextGaussian()))
    }.toDF("vec_id", "label", "embedding")
  }

  test("streaming == window on a random corpus (values bit-identical)") {
    val df = randomCorpus(80, 16, 3, seed = 7L)
    assertSame(window(df), streaming(df))
  }

  test("streaming == window under the hot-block sub-bucket cap") {
    val df = randomCorpus(60, 8, 2, seed = 11L)
    assertSame(window(df, cap = Some(10)), streaming(df, cap = Some(10)))
  }

  test("streaming == window on every degenerate-row edge") {
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("label", StringType),
      StructField("embedding", ArrayType(DoubleType, containsNull = true))))
    val rows = Seq(
      Row(0L, "a", Seq(1.0, 0.0, 0.0)),
      Row(1L, "a", Seq(1.0, 0.1, 0.0)),
      Row(2L, "a", Seq(0.0, 0.0, 0.0)), // zero norm → null cos everywhere
      Row(3L, "a", null), // null vector → null cos
      Row(4L, "a", Seq(1.0, null, 0.0)), // null element → null cos
      Row(5L, "a", Seq(1.0, 0.0)), // mismatched length → null cos
      Row(6L, null, Seq(1.0, 0.0, 0.0)), // null join key → never matches
      Row(null, "a", Seq(0.9, 0.0, 0.0)), // null id → dropped by =!=
      Row(7L, "b", Seq(Double.NaN, 1.0, 0.0)), // NaN cos ranks FIRST
      Row(8L, "b", Seq(0.0, 1.0, 0.0)),
      Row(9L, "b", Seq(0.0, 0.9, 0.1)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3), schema)
    assertSame(window(df, k = 4), streaming(df, k = 4))
    // the NaN row really does rank first for its block peers
    val s = streaming(df, k = 4).filter(col("id_l") === 8L)
      .orderBy("rank").collect()
    assert(s.head.getLong(1) == 7L && s.head.getDouble(2).isNaN)
  }

  test("streaming == window on exact cos ties (id ascending tiebreak)") {
    val v = Seq(0.6, 0.8, 0.0)
    val df = Seq(
      (10L, "a", v), (11L, "a", v), (12L, "a", v), // identical → cos ties
      (13L, "a", Seq(0.6, 0.79, 0.01))
    ).toDF("vec_id", "label", "embedding")
    assertSame(window(df, k = 2), streaming(df, k = 2))
    val top = streaming(df, k = 2).filter(col("id_l") === 12L)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    assert(top == Seq(10L, 11L)) // ties broken by id asc
  }

  test("streaming == window with string ids") {
    val rng = new scala.util.Random(3L)
    val df = (0 until 30).map { i =>
      (f"doc_$i%03d", s"b${i % 2}", Seq.fill(6)(rng.nextGaussian()))
    }.toDF("vec_id", "label", "embedding")
    assertSame(window(df), streaming(df))
  }

  test("salt leaves both plans' results invariant") {
    val df = randomCorpus(50, 8, 2, seed = 23L)
    assertSame(window(df), streaming(df, salt = 3))
    val saltedWindow = Similarity.knnJoin(df, df, "vec_id", "embedding",
      "label", k = 3, salt = 3, pairBudget = Long.MaxValue)
    assertSame(saltedWindow, streaming(df))
  }

  test("k larger than any block emits only the available neighbors") {
    val df = randomCorpus(12, 4, 4, seed = 5L)
    assertSame(window(df, k = 50), streaming(df, k = 50))
  }

  test("dispatch: tiny corpus takes the window plan; results match streaming") {
    val df = randomCorpus(40, 8, 2, seed = 31L)
    val auto = Similarity.knnJoin(df, df, "vec_id", "embedding", "label",
      k = 3) // default budget → estimate ~800 pairs → window
    assertSame(auto, streaming(df))
  }

  test("sf0.001 embeddings: production and window plans equal an independent in-memory pass, cosines bit-equal") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .withColumn("embedding", col("embedding").cast("array<double>"))
    def ranked(df: DataFrame): Map[(Long, Long, Long), Double] = df.collect().map(r =>
      (r.getAs[Long]("id_l"), r.getAs[Long]("id_r"), r.getAs[Number]("rank").longValue) ->
        r.getAs[Double]("cos")).toMap
    // all pairs per block on the driver, in the native expressions' exact
    // op order: sequential dot, sqrt of the sequential sum of squares, norm
    // product, one divide; top 3 by (cos desc, id asc)
    def dot(a: Array[Double], b: Array[Double]) = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val independent = embs.collect().groupBy(_.getAs[Int]("label")).values.flatMap { blk =>
      val ids = blk.map(_.getAs[Long]("vec_id"))
      val vecs = blk.map(_.getAs[Seq[Double]]("embedding").toArray)
      val norms = vecs.map(v => math.sqrt(dot(v, v)))
      ids.indices.flatMap { a =>
        ids.indices.filter(_ != a)
          .map(b => (ids(b), dot(vecs(a), vecs(b)) / (norms(a) * norms(b))))
          .sortBy { case (id, c) => (-c, id) }.take(3).zipWithIndex
          .map { case ((id, c), r) => (ids(a), id, r + 1L) -> c }
      }
    }.toMap
    val production = Similarity.knnJoin(embs, embs, "vec_id", "embedding", "label",
      k = 3, maxBlockSize = Some(100000))
    for ((plan, df) <- Seq("production" -> production,
        "window" -> window(embs, cap = Some(100000)))) {
      val got = ranked(df)
      assert(got.keySet == independent.keySet, s"$plan: (id_l, id_r, rank) set drift")
      val maxDiff = got.map { case (k, c) => math.abs(c - independent(k)) }.max
      assert(maxDiff == 0.0, s"$plan: cosine arithmetic drift $maxDiff")
    }
  }

  test("embeddingPairs: salt leaves the pair set invariant") {
    val df = randomCorpus(60, 8, 2, seed = 41L)
    val plain = graft.ops.Dedup.embeddingPairs(df, "vec_id", "embedding",
      col("label"), threshold = 0.1)
    val salted = graft.ops.Dedup.embeddingPairs(df, "vec_id", "embedding",
      col("label"), threshold = 0.1, salt = 4)
    assert(collectSet(plain) == collectSet(salted))
  }

  test("embeddingPairs: streaming == join form (values bit-identical)") {
    val df = randomCorpus(80, 12, 3, seed = 57L)
    def run(budget: Long) = graft.ops.Dedup.embeddingPairs(df, "vec_id",
      "embedding", col("label"), threshold = 0.05, pairBudget = budget)
    assert(bitSet(run(Long.MaxValue)) == bitSet(run(-1L)))
    // under the hot-block cap too
    def capped(budget: Long) = graft.ops.Dedup.embeddingPairs(df, "vec_id",
      "embedding", col("label"), threshold = 0.05, maxBlock = Some(15),
      pairBudget = budget)
    assert(bitSet(capped(Long.MaxValue)) == bitSet(capped(-1L)))
  }

  test("embeddingPairs: streaming == join form on degenerate rows (NaN passes, nulls drop)") {
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("label", StringType),
      StructField("embedding", ArrayType(DoubleType, containsNull = true))))
    val rows = Seq(
      Row(0L, "a", Seq(1.0, 0.0, 0.0)),
      Row(1L, "a", Seq(1.0, 0.1, 0.0)),
      Row(2L, "a", Seq(0.0, 0.0, 0.0)), // zero norm → null cos → dropped
      Row(3L, "a", null),
      Row(4L, "a", Seq(1.0, null, 0.0)),
      Row(5L, "a", Seq(1.0, 0.0)), // length mismatch → null cos
      Row(6L, null, Seq(1.0, 0.0, 0.0)), // null key never matches
      Row(null, "a", Seq(0.9, 0.0, 0.0)), // null id drops
      Row(7L, "b", Seq(Double.NaN, 1.0, 0.0)), // NaN cos PASSES >= in SQL
      Row(8L, "b", Seq(0.0, 1.0, 0.0)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3), schema)
    def run(budget: Long) = graft.ops.Dedup.embeddingPairs(df, "vec_id",
      "embedding", col("label"), threshold = 0.5, pairBudget = budget)
    val joinForm = bitSet(run(Long.MaxValue))
    assert(joinForm == bitSet(run(-1L)))
    // the NaN pair survived in BOTH (pinning Spark's NaN >= semantics)
    assert(joinForm.exists(r => r(0) == 7L && r(1) == 8L))
  }
}
