package graft

import org.apache.spark.sql.functions._
import graft.operators.{AsOfJoin, RangeJoin}

/** Scale smoke for the temporal joins (committed results in SMOKE.md
  * "Temporal join smokes"): 10M points / 1M right rows across 100k keys
  * with one hot key holding 10% of all rows — the shapes that kill naive
  * inequality-join plans (per-key cross products) must stay linear in
  * true match density.
  *
  * Usage: sbt "Test/runMain graft.TemporalJoinSmoke"
  */
object TemporalJoinSmoke {

  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val spark = LocalSession()

    // key 0 is hot: 10% of rows; times spread over ~1e9 units
    def keyed(n: Long, parts: Int) = spark.range(0, n, 1, parts).select(
      col("id"),
      when(pmod(col("id"), lit(10)) === 0, 0L)
        .otherwise(pmod(hash(col("id")), lit(100000)).cast("long")).as("k"),
      pmod(hash(col("id") * 31), lit(1000000000)).cast("long").as("t"))
      .filter(col("t") >= 0)

    val left = keyed(10000000L, 64)
    val right = keyed(1000000L, 16)
      .select(col("k"), col("t").as("rt"), col("id").as("rid"))

    val (asofCnt, tAsof) = time {
      AsOfJoin.asOf(left, right, Seq("k"), "t", "rt", Seq("rid"),
        dedupRight = Some("rid")).filter(col("rid").isNotNull).count()
    }
    println(f"[smoke] asOf 10M pts x 1M rights (hot key 10%%): $asofCnt matched in $tAsof%.1f s")
    assert(asofCnt > 5000000L, s"suspiciously few asof matches: $asofCnt")

    // intervals of ~2k units around each right time: expected matches ~
    // 10M * (1M * 2000 / 1e9 / 1e5-keys spread) — bounded, not quadratic
    val ivs = right.select(col("k"), (col("rt") - 1000L).as("s"),
      (col("rt") + 1000L).as("e"), col("rid"))
    val (rjCnt, tRange) = time {
      RangeJoin.pointInInterval(left, ivs, Seq("k"), "t", "s", "e",
        Seq("rid"), bucketWidth = 2000L).count()
    }
    println(f"[smoke] rangeJoin 10M pts x 1M intervals (hot key 10%%): $rjCnt matches in $tRange%.1f s")
    assert(rjCnt > 0)

    spark.stop()
  }
}
