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

    // hot-key hardening (VERDICT r8 #2): ONE key holding 90% of 10M rows.
    // The plain carry serializes that key's sort into one task; the sliced
    // carry must stay within ~2x of a uniform-key run of the same size.
    def skewed(n: Long, parts: Int, hotPct: Int) = spark.range(0, n, 1, parts)
      .select(col("id"),
        when(pmod(col("id"), lit(100)) < hotPct, 0L)
          .otherwise(pmod(hash(col("id")), lit(100000)).cast("long")).as("k"),
        pmod(hash(col("id") * 31), lit(1000000000)).cast("long").as("t"))
      .filter(col("t") >= 0)
    val lHot = skewed(10000000L, 64, 90)
    val rHot = skewed(1000000L, 16, 90)
      .select(col("k"), col("t").as("rt"), col("id").as("rid"))
    val lUni = skewed(10000000L, 64, 0)
    val rUni = skewed(1000000L, 16, 0)
      .select(col("k"), col("t").as("rt"), col("id").as("rid"))

    def runAsOf(l: org.apache.spark.sql.DataFrame,
        r: org.apache.spark.sql.DataFrame, sliced: Boolean) = time {
      (if (sliced)
        AsOfJoin.asOfSliced(l, r, Seq("k"), "t", "rt", Seq("rid"),
          dedupRight = Some("rid"), numSlices = 64)
      else
        AsOfJoin.asOf(l, r, Seq("k"), "t", "rt", Seq("rid"),
          dedupRight = Some("rid")))
        .filter(col("rid").isNotNull).count()
    }
    val ((cUniS, tUniS)) = runAsOf(lUni, rUni, sliced = true)
    val ((cHotS, tHotS)) = runAsOf(lHot, rHot, sliced = true)
    val ((cHotP, tHotP)) = runAsOf(lHot, rHot, sliced = false)
    println(f"[smoke] asOfSliced uniform keys:        $cUniS matched in $tUniS%.1f s")
    println(f"[smoke] asOfSliced ONE key holds 90%%:   $cHotS matched in $tHotS%.1f s")
    println(f"[smoke] asOf plain ONE key holds 90%%:   $cHotP matched in $tHotP%.1f s")
    assert(cHotS == cHotP, s"sliced/plain disagree on skew: $cHotS vs $cHotP"
    )
    assert(tHotS <= 2.5 * tUniS,
      f"sliced hot-key run $tHotS%.1f s exceeds 2.5x uniform $tUniS%.1f s")

    // same skew shape for the trailing RANGE window: one key with 90% of
    // 10M rows, trailing 2000-unit aggregates
    val rollAggs = Seq("n_2k" -> count(lit(1)))
    def runRolling(d: org.apache.spark.sql.DataFrame, sliced: Boolean) = time {
      (if (sliced) graft.operators.RollingAgg.trailingSliced(
        d, Seq("k"), "t", 2000L, rollAggs)
      else graft.operators.RollingAgg.trailing(d, Seq("k"), "t", 2000L, rollAggs))
        .agg(sum("n_2k")).collect()(0).getLong(0)
    }
    val lHotR = skewed(10000000L, 64, 90)
    val ((rHotP2, tRollP)) = runRolling(lHotR, sliced = false)
    val ((rHotS2, tRollS)) = runRolling(lHotR, sliced = true)
    println(f"[smoke] rolling plain  ONE key holds 90%%: checksum $rHotP2 in $tRollP%.1f s")
    println(f"[smoke] rolling sliced ONE key holds 90%%: checksum $rHotS2 in $tRollS%.1f s")
    assert(rHotP2 == rHotS2, s"rolling sliced/plain disagree: $rHotP2 vs $rHotS2")

    spark.stop()
  }
}
