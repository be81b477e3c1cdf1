package graft

import org.apache.spark.sql.functions._
import graft.plans.KllExpressions

/** KLL quantile-sketch aggregates: exact-regime equality (n ≤ k retains
  * every value), merge-vs-direct equivalence, bounded rank error at volume,
  * and null handling.
  */
class KllSpec extends SparkSpec {
  import spark.implicits._

  test("exact regime: sketch quantiles equal true order statistics (n <= k)") {
    val rng = new scala.util.Random(5)
    val vals = (0 until 150).map(_ => rng.nextDouble() * 100).toVector
    val df = vals.toDF("v")
    val sk = df.agg(KllExpressions.kllAgg(col("v")).as("s"))
    val got = sk.select(
      KllExpressions.kllQuantile(col("s"), lit(0.0)).as("q0"),
      KllExpressions.kllQuantile(col("s"), lit(0.5)).as("q50"),
      KllExpressions.kllQuantile(col("s"), lit(1.0)).as("q100")).head()
    val sorted = vals.sorted
    assert(got.getDouble(0) == sorted.head)
    // INCLUSIVE criteria: smallest value whose rank >= q
    assert(got.getDouble(1) == sorted(math.ceil(0.5 * vals.length).toInt - 1))
    assert(got.getDouble(2) == sorted.last)
  }

  test("merged per-shard sketches equal the single-pass sketch (exact regime)") {
    val vals = (1 to 180).map(_.toDouble)
    val parts = vals.grouped(60).toSeq.map(g =>
      g.toDF("v").agg(KllExpressions.kllAgg(col("v")).as("s")))
    val merged = parts.reduce(_ union _)
      .agg(KllExpressions.kllMergeAgg(col("s")).as("s"))
    val direct = vals.toDF("v").agg(KllExpressions.kllAgg(col("v")).as("s"))
    for (q <- Seq(0.1, 0.25, 0.5, 0.75, 0.9)) {
      val m = merged.select(KllExpressions.kllQuantile(col("s"), lit(q))).head().getDouble(0)
      val d = direct.select(KllExpressions.kllQuantile(col("s"), lit(q))).head().getDouble(0)
      assert(m == d, s"q=$q merged=$m direct=$d")
    }
  }

  test("rank error stays within the documented bound at 1M values") {
    val sk = spark.range(1000000)
      .select((col("id").cast("double")).as("v"))
      .agg(KllExpressions.kllAgg(col("v")).as("s"))
    val r = sk.select(
      KllExpressions.kllQuantile(col("s"), lit(0.5)).as("med"),
      KllExpressions.kllRank(col("s"), lit(250000.0)).as("r25")).head()
    // k=200 → ~1.65% rank error at 99% conf; assert a loose 5% band
    assert(math.abs(r.getDouble(0) - 500000.0) / 1000000.0 < 0.05)
    assert(math.abs(r.getDouble(1) - 0.25) < 0.05)
  }

  test("nulls are skipped; all-null group yields empty sketch -> null quantile") {
    val df = Seq(Some(1.0), None, Some(3.0)).toDF("v")
    val q = df.agg(KllExpressions.kllAgg(col("v")).as("s"))
      .select(KllExpressions.kllQuantile(col("s"), lit(1.0))).head()
    assert(q.getDouble(0) == 3.0)
    val empty = Seq(Option.empty[Double]).toDF("v")
      .agg(KllExpressions.kllAgg(col("v")).as("s"))
      .select(KllExpressions.kllQuantile(col("s"), lit(0.5))).head()
    assert(empty.isNullAt(0))
  }
}
