package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import graft.operators.{BinNumericValues, ReshardToSplit}

/** Property nets for the two remaining boundary-logic operators (VERDICT r10
  * #5), in the same scalacheck-vs-brute-force pattern that caught the r9
  * `least()` null-sentinel and the r10 null-key digest bugs:
  *
  *  - `searchSortedRight` / `BinNumericValues`: right-bisect placement over
  *    endpoint arrays containing duplicates, ±Inf, NaN, and -0.0 — matched
  *    against numpy `searchsorted(side="right")` semantics under Spark's
  *    total order (NaN greatest, -0.0 = 0.0), the semantics the reference's
  *    `search_sorted(side="right")` bisect uses
  *    (bin_numeric_values.py:185-202).
  *  - `ReshardToSplit.assignShardsDistributed` vs the collected-permutation
  *    parity mode on randomized split tables: both modes must cut every
  *    split into identical numpy-`array_split` chunk sizes over the same
  *    subject cover (memberships legitimately differ — driver RNG vs
  *    portable hash — so sizes + cover + determinism ARE the contract).
  */
class BoundaryPropertySpec extends SparkSpec {
  import spark.implicits._

  // --- right bisect over hostile endpoint arrays -------------------------

  /** Spark-total-order `e <= v`: NaN greatest, -0.0 equals 0.0 (primitive
    * float comparison handles the signed zeros; NaN branches are explicit).
    */
  private def leqTotalOrder(e: Float, v: Float): Boolean =
    if (v.isNaN) true
    else if (e.isNaN) false
    else e <= v

  private val genEndpoint: Gen[Float] = Gen.frequency(
    (6, Gen.choose(-4, 4).map(_.toFloat)), // small ints: forced duplicates
    (1, Gen.const(Float.NegativeInfinity)),
    (1, Gen.const(Float.PositiveInfinity)),
    (1, Gen.const(0.0f)), (1, Gen.const(-0.0f)),
    (1, Gen.const(Float.NaN)))

  private val genBisectCase: Gen[(List[Float], List[Float])] = for {
    nEp <- Gen.choose(1, 8)
    eps <- Gen.listOfN(nEp, genEndpoint)
    nVal <- Gen.choose(1, 12)
    vals <- Gen.listOfN(nVal, genEndpoint) // values from the SAME hostile pool
  } yield (
    // endpoints arrive sorted (the quantile struct / custom-bin contract);
    // sort under the same total order Spark uses
    eps.sortWith((a, b) =>
      java.lang.Float.compare(if (a == 0.0f) 0.0f else a,
        if (b == 0.0f) 0.0f else b) < 0),
    vals)

  test("searchSortedRight equals numpy right bisect (duplicates, +-Inf, NaN, -0.0)") {
    val prop = Prop.forAll(genBisectCase) { case (eps, vals) =>
      val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
        .withColumn("__eps", array(eps.map(e => lit(e)): _*))
      val got = df.select(col("id"),
        graft.functions.GraftFunctions.searchSortedRight(col("__eps"), col("v")).as("idx"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val want = vals.zipWithIndex.map { case (v, i) =>
        i.toLong -> eps.count(e => leqTotalOrder(e, v))
      }.toMap
      if (got != want) println(s"BISECT MISMATCH eps=$eps vals=$vals got=$got want=$want")
      got == want
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(res.passed, res.status.toString)
  }

  test("BinNumericValues edge endpoints: duplicate/+-Inf endpoints, NaN and boundary values") {
    // endpoints with a duplicate interior value and infinite rails; values
    // sitting exactly ON each endpoint, beyond the rails, and NaN
    val codes = Seq(("LAB", 1L)).toDF("code", "n")
      .withColumn("values/quantiles", struct(
        lit(Float.NegativeInfinity).as("q0"), lit(1.0f).as("q1"),
        lit(1.0f).as("q2"), lit(3.0f).as("q3")))
      .drop("n")
    val data = Seq(
      (1L, "LAB", Some(0.5f)), // after -inf, before the 1.0 pair -> bin 1
      (2L, "LAB", Some(1.0f)), // ON the duplicate pair: right bisect -> bin 3
      (3L, "LAB", Some(3.0f)), // ON the last endpoint -> bin 4 (right = inf)
      (4L, "LAB", Some(Float.NaN)), // NaN binned greatest -> bin 4
      (5L, "LAB", Some(Float.NegativeInfinity)), // equals rail -> bin 1
      (6L, "LAB", None), // null value: not binned, code unchanged
      (7L, "OTH", Some(2.0f))) // no endpoints for code: unchanged
      .map { case (s, c, v) => (s, c, v.map(java.lang.Float.valueOf).orNull) }
      .toDF("subject_id", "code", "numeric_value")
    val got = BinNumericValues(data, codes)
      .select("subject_id", "code").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(
      1L -> "LAB//1//-Infinity//1.0",
      2L -> "LAB//3//1.0//3.0",
      3L -> "LAB//4//3.0//inf",
      4L -> "LAB//4//3.0//inf",
      5L -> "LAB//1//-Infinity//1.0",
      6L -> "LAB",
      7L -> "OTH"))
  }

  // --- distributed vs collected shard assignment -------------------------

  private val genSplitTable: Gen[(List[(Long, String)], Int)] = for {
    nSplits <- Gen.choose(1, 3)
    names <- Gen.pick(nSplits, Seq("train", "tuning", "held_out", "extra"))
    sizes <- Gen.listOfN(nSplits, Gen.choose(0, 40))
    k <- Gen.oneOf(1, 2, 3, 7, 50) // k=50 > any split size: empty shards
  } yield {
    var next = 100L
    val rows = names.toList.zip(sizes).flatMap { case (name, sz) =>
      (0 until sz).map { _ => next += 7; (next, name) }
    }
    (rows, k)
  }

  test("assignShardsDistributed matches the collected parity mode: array_split sizes, cover, determinism") {
    val prop = Prop.forAll(genSplitTable) { case (rows, k) =>
      if (rows.isEmpty) true
      else {
        // duplicate rows WITHIN a split exercise the dedup guard without
        // making the winning split ambiguous between modes
        val withDups = rows ++ rows.take(rows.length / 3)
        val splits = withDups.toDF("subject_id", "split")
        def sizeMap(df: org.apache.spark.sql.DataFrame): Map[(String, Int), Long] =
          df.groupBy("split", "shard").count().collect()
            .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
        val dist = ReshardToSplit.assignShardsDistributed(splits, k, seed = 3L)
        val coll = ReshardToSplit.assignShardsSeeded(splits, k, seed = 3L)
        val distSizes = sizeMap(dist)
        val collSizes = sizeMap(coll)
        // closed-form array_split oracle per split
        val want = rows.groupBy(_._2).flatMap { case (split, members) =>
          val n = members.map(_._1).distinct.length
          val (base, extra) = (n / k, n % k)
          (0 until k).map(s => (split, s) -> (base + (if (s < extra) 1 else 0)).toLong)
            .filter(_._2 > 0)
        }.toMap
        // distributed must cover exactly the distinct subjects, once each
        val cover = dist.select("subject_id").collect().map(_.getLong(0)).toSeq
        val coverOk = cover.sorted == rows.map(_._1).distinct.sorted &&
          cover.length == cover.distinct.length
        // determinism under different input partitioning
        val again = ReshardToSplit.assignShardsDistributed(
          splits.repartition(7), k, seed = 3L)
        val stable = collectSet(again) == collectSet(dist)
        val ok = distSizes == want && collSizes == want && coverOk && stable
        if (!ok) println(s"RESHARD MISMATCH k=$k rows=${rows.size}\n" +
          s"  dist=$distSizes\n  coll=$collSizes\n  want=$want cover=$coverOk stable=$stable")
        ok
      }
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("assignShardsDistributedBySize matches assignShardsBySize chunk geometry") {
    val prop = Prop.forAll(genSplitTable) { case (rows, _) =>
      if (rows.isEmpty) true
      else {
        val per = 1 + rows.length % 9 // derive a per-shard cap from the case
        val splits = rows.toDF("subject_id", "split")
        def sizes(df: org.apache.spark.sql.DataFrame): Map[(String, Int), Long] =
          df.groupBy("split", "shard").count().collect()
            .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
        val dist = sizes(ReshardToSplit.assignShardsDistributedBySize(splits, per, seed = 11L))
        val coll = sizes(ReshardToSplit.assignShardsBySize(splits, per, seed = 11L))
        if (dist != coll) println(s"BYSIZE MISMATCH per=$per dist=$dist coll=$coll")
        dist == coll
      }
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  // --- occlude_outliers three-valued NaN/null semantics -------------------

  /** `OccludeOutliers` vs a naive per-row evaluator over hostile precomputed
    * stats: NaN std must occlude everything (Spark's NaN-equals-NaN total
    * order would otherwise KEEP values under `NaN <= NaN`), null std / join
    * miss / null value must stay three-valued NULL, and NaN values compare
    * false against finite stats. Mean/std arrive precomputed (the `hasPre`
    * path) so the generator can place NaN/null stats directly.
    */
  test("occlude_outliers: NaN/null stats and values equal a naive three-valued evaluator") {
    import graft.operators.OccludeOutliers
    import graft.meds.MedsSchema.{Code, NumericValue, ValuesMean, ValuesStd, IsInlier}
    val cutoff = 1.0
    val genValue: Gen[Option[Double]] = Gen.frequency(
      (6, Gen.choose(-5, 5).map(v => Some(v.toDouble))),
      (1, Gen.const(Some(Double.NaN))),
      (1, Gen.const(None: Option[Double])))
    val genStd: Gen[Option[Double]] = Gen.frequency(
      (4, Gen.choose(0, 3).map(s => Some(s.toDouble))),
      (1, Gen.const(Some(Double.NaN))),
      (1, Gen.const(None: Option[Double])))
    val genCase = for {
      n <- Gen.choose(1, 10)
      rows <- Gen.listOfN(n,
        Gen.zip(Gen.oneOf("A", "B", "C", "D"), genValue)) // D never has stats
      stats <- Gen.sequence[List[(String, Option[Double], Option[Double])], (String, Option[Double], Option[Double])](
        List("A", "B", "C").map(c =>
          Gen.zip(Gen.frequency( // NaN/null MEANS too: NaN mean with finite
            // std must occlude (abs(x − NaN) = NaN compares false), null
            // mean must stay three-valued NULL
            (4, Gen.choose(-2, 2).map(m => Some(m.toDouble): Option[Double])),
            (1, Gen.const(Some(Double.NaN): Option[Double])),
            (1, Gen.const(None: Option[Double]))), genStd)
            .map { case (m, s) => (c, m, s) }))
    } yield (rows.zipWithIndex.map { case ((c, v), i) => (i.toLong, c, v) }, stats)
    // Spark total-order <=: NaN equals NaN and exceeds everything else
    def leqTotal(a: Double, b: Double): Boolean =
      if (a.isNaN) b.isNaN else if (b.isNaN) true else a <= b
    val prop = Prop.forAll(genCase) { case (rows, stats) =>
      val data = rows.toDF("event_id", Code, NumericValue)
      val codes = stats.toDF(Code, ValuesMean, ValuesStd)
      val got = OccludeOutliers(data, codes, cutoff)
        .select(col("event_id"), col(NumericValue), col(IsInlier))
        .collect()
        .map(r => r.getLong(0) -> ((Option(r.get(1)).map(_.asInstanceOf[Double]),
          Option(r.get(2)).map(_.asInstanceOf[Boolean]))))
        .toMap
      val statMap = stats.map(s => s._1 -> ((s._2, s._3))).toMap
      val want = rows.map { case (id, c, v) =>
        val inlier: Option[Boolean] = v match {
          case None => None
          case Some(x) => statMap.get(c) match {
            case Some((_, Some(s))) if s.isNaN => Some(false)
            case Some((Some(m), Some(s))) => Some(leqTotal(math.abs(x - m), cutoff * s))
            case _ => None // join miss or null mean/std: three-valued null
          }
        }
        id -> ((if (inlier.contains(true)) v else None, inlier))
      }.toMap
      if (got != want) println(s"OCCLUDE MISMATCH rows=$rows stats=$stats\n got=$got\n want=$want")
      got == want
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }
}
