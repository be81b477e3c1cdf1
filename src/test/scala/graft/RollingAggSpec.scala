package graft

import org.apache.spark.sql.functions._
import graft.operators.RollingAgg

/** Trailing RANGE-frame aggregates: crafted frame arithmetic, range 0
  * peer groups, and the degenerate shapes.
  */
class RollingAggSpec extends SparkSpec {
  import spark.implicits._

  private val aggs = Seq(
    "n" -> count(lit(1)),
    "s" -> sum(col("v")),
    "mx" -> max(col("v")))

  test("trailing frame covers [t-range, t] inclusive, per key") {
    val df = Seq(
      (1L, 1L, 0L, 1.0), (2L, 1L, 5L, 2.0), (3L, 1L, 10L, 4.0),
      (4L, 1L, 16L, 8.0), (5L, 2L, 10L, 100.0))
      .toDF("id", "k", "t", "v")
    val got = RollingAgg.trailing(df, Seq("k"), "t", 10L, aggs)
      .select("id", "n", "s").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got(1L) == (1L, 1.0))
    assert(got(3L) == (3L, 7.0))  // 0,5,10 all within [0,10]
    assert(got(4L) == (2L, 12.0)) // [6,16] -> t=10 and t=16 only
    assert(got(5L) == (1L, 100.0)) // key isolation
  }

  test("range 0 = peers: each row sees exactly its key's rows at its time") {
    val rng = new scala.util.Random(3)
    val rows = (0L until 2000L).map { i =>
      (i, if (i % 10 == 0) rng.nextInt(50).toLong + 1 else 0L,
        rng.nextInt(100).toLong, 1.0)
    }
    val got = RollingAgg.trailing(rows.toDF("id", "k", "t", "v"), Seq("k"),
      "t", 0L, aggs).select("id", "n").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val peers = rows.groupBy(r => (r._2, r._3)).map { case (g, rs) => g -> rs.size.toLong }
    assert(got == rows.map(r => r._1 -> peers((r._2, r._3))).toMap)
  }

  test("degenerates: all-null times, single row, non-numeric time rejected") {
    val allNull = Seq((1L, 1L, null.asInstanceOf[java.lang.Long], 2.0),
      (2L, 1L, null.asInstanceOf[java.lang.Long], 3.0))
      .toDF("id", "k", "t", "v")
    val gotNull = RollingAgg.trailing(allNull, Seq("k"), "t", 5L, aggs)
      .select("id", "n", "s").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // null times form one peer group: both rows see both
    assert(gotNull == Map(1L -> (2L, 5.0), 2L -> (2L, 5.0)))
    val one = Seq((1L, 1L, 7L, 2.0)).toDF("id", "k", "t", "v")
    assert(RollingAgg.trailing(one, Seq("k"), "t", 5L, aggs)
      .select("n").head().getLong(0) == 1L)
    val strT = Seq((1L, 1L, "x", 2.0)).toDF("id", "k", "t", "v")
    val e = intercept[IllegalArgumentException] {
      RollingAgg.trailing(strT, Seq("k"), "t", 5L, aggs)
    }
    assert(e.getMessage.contains("numeric"))
  }
}
