package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Trailing time-range aggregates (RANGE frame: every row sees the
  * aggregate of its key's rows within `[t − range, t]`) — the rolling
  * feature-engineering primitive (trailing counts/sums/rates per user,
  * host, session).
  *
  * [[trailing]] is the native RANGE-frame window: one shuffle on the key,
  * exact frame arithmetic. Like every per-key timeline op, a pathological
  * key holding most of the corpus serializes its own sort —
  * [[trailingSliced]] closes that (the last member of the r8-documented
  * hot-key category, after the as-of carry): a monotone time grid with
  * slice width ≥ `range`, each row windowed inside (key, slice) and GHOSTED
  * into the successor slice when its trailing window can reach it. A ghost
  * participates in frames but emits no row. Over-inclusion is free — the
  * RANGE frame filters on exact time — so the ghost condition carries
  * slack against double rounding; only under-inclusion could corrupt a
  * frame, and the slack plus width ≥ range (a row's window spans at most
  * its own and the previous slice) rule it out.
  */
object RollingAgg {

  /** @param aggs (outputName, aggregate expression) pairs — the expression
    *             is attached to the trailing window via `.over`
    * @param range trailing window size in the time column's own units;
    *              the time column must be numeric (convert timestamps with
    *              `unix_micros` first — the RANGE frame needs exact integer
    *              arithmetic, not a cast)
    */
  def trailing(df: DataFrame, keyCols: Seq[String], timeCol: String,
      range: Long, aggs: Seq[(String, Column)]): DataFrame = {
    require(keyCols.nonEmpty, "trailing: at least one key column")
    require(range >= 0, s"trailing: range must be >= 0, got $range")
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(timeCol))
      .rangeBetween(-range, 0)
    aggs.foldLeft(df) { case (d, (n, a)) => d.withColumn(n, a.over(w)) }
  }

  /** Hot-key-hardened [[trailing]]: identical results, per-slice
    * parallelism within a key. The grid is ABSOLUTE and data-independent
    * (round 10): slice = floor(t / width) with width the smallest power of
    * two ≥ 4·range — no min/max job over the data (the r9 bounds agg was a
    * third of the composed pipeline's fixed floor), no driver dependency,
    * and the same monotone-grid correctness argument (width ≥ range ⇒ a
    * trailing window spans at most the previous slice; ghost fraction ≈
    * range/width ≤ 25%). Integral time columns use exact bitwise
    * arithmetic (arithmetic shift = floor division, mask = positive mod —
    * overflow-free at any magnitude); fractional ones take the double path
    * with over-inclusive slack (the frame filters exactly, so extra ghosts
    * are free and only under-inclusion could corrupt a frame).
    *
    * Null-time rows keep a NULL slice — `partitionBy` groups nulls
    * together, so they form one grid cell exactly as they form one peer
    * group in the plain window (and no sentinel value can collide with a
    * real slice of a negative time).
    */
  def trailingSliced(df: DataFrame, keyCols: Seq[String], timeCol: String,
      range: Long, aggs: Seq[(String, Column)]): DataFrame = {
    require(keyCols.nonEmpty, "trailingSliced: at least one key column")
    require(range >= 0, s"trailingSliced: range must be >= 0, got $range")
    val dt = df.schema(timeCol).dataType
    require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"trailingSliced: $timeCol must be numeric (unix_micros a timestamp " +
        "first) — the grid and the RANGE frame need exact arithmetic")
    val integral = dt match {
      case _: org.apache.spark.sql.types.ByteType |
           _: org.apache.spark.sql.types.ShortType |
           _: org.apache.spark.sql.types.IntegerType |
           _: org.apache.spark.sql.types.LongType => true
      case _ => false
    }

    val (sliceOf, ghostCond) = if (integral) {
      // width = 2^b, smallest power of two ≥ max(4·range, 1), capped at
      // 2^62; if even that cap is below range (range > 2^62), a window
      // spans ~the whole axis and slicing cannot help — plain window
      val wantExp =
        if (range <= 1) 2
        else math.min(62, 64 - java.lang.Long.numberOfLeadingZeros(range - 1) + 2)
      val width = 1L << wantExp
      if (width < range)
        return trailing(df, keyCols, timeCol, range, aggs)
      val t = col(timeCol).cast("long")
      (shiftright(t, wantExp), // arithmetic shift = exact floor division
        // ghost into the successor slice iff a row there can look back at
        // this one: t ≥ (slice+1)·width − range ⇔ (t mod width) ≥
        // width − range — pure remainder arithmetic, no overflow; the
        // two's-complement mask is a positive mod for negative t too
        t.bitwiseAND(lit(width - 1)) >= lit(width - range))
    } else {
      val width = math.max(4.0 * range, 1.0)
      val t = col(timeCol).cast("double")
      val rem = pmod(t, lit(width))
      // generous relative slack: over-inclusion is filtered exactly by the
      // frame, only under-inclusion could corrupt it
      val slack = abs(t) * lit(1e-9) + lit(1e-6)
      (floor(t / lit(width)), rem >= lit(width - range.toDouble) - slack)
    }

    // ONE lineage: each row explodes into its native grid cell plus, when a
    // successor-slice row could look back at it, a ghost cell — a union of
    // (native, ghosts) branches would execute the upstream plan TWICE
    // (fatal when the input is itself a pipeline stage's output, e.g. the
    // as-of chain feeding this in feature_pipeline)
    val cellType = "array<struct<s:bigint,g:boolean>>"
    val nativeCell = struct(
      when(col(timeCol).isNull, lit(null).cast("long"))
        .otherwise(sliceOf.cast("long")).as("s"),
      lit(false).as("g"))
    val cells = when(col(timeCol).isNotNull && ghostCond,
        array(nativeCell,
          struct((sliceOf.cast("long") + 1).as("s"), lit(true).as("g"))))
      .otherwise(array(nativeCell).cast(cellType))

    val w = Window.partitionBy((keyCols.map(col) :+ col("__slice")): _*)
      .orderBy(col(timeCol)).rangeBetween(-range, 0)
    val gridded = df
      .withColumn("__cell", explode(cells))
      .withColumn("__slice", col("__cell.s"))
      .withColumn("__ghost", col("__cell.g"))
      .drop("__cell")
    aggs.foldLeft(gridded) { case (d, (n, a)) => d.withColumn(n, a.over(w)) }
      .filter(!col("__ghost"))
      .drop("__slice", "__ghost")
  }
}
