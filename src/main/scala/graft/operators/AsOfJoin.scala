package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (most-recent-prior / next-upcoming) join — the temporal-alignment
  * operator Spark has no built-in for: attach to every left row the right
  * row with the greatest `rightTime <= leftTime` (direction "backward") or
  * smallest `rightTime >= leftTime` ("forward") within the same key group.
  * The workhorse of event-stream enrichment: latest measurement before a
  * prediction time, last config before a request, next outcome after an
  * exposure.
  *
  * Spark-first shape — UNION + ORDERED CARRY, not a range join: a naive
  * `l JOIN r ON key AND r.t <= l.t` + argmax explodes to the full
  * per-key cross product before pruning (quadratic in group size, and
  * Catalyst plans the inequality as a broadcast-nested-loop at worst). Here
  * both sides union into one keyed stream, one shuffle on the key, one
  * per-key sort by (time, side), and a `last(_, ignoreNulls)` running
  * window carries the most recent right payload onto each left row —
  * O(n log n) per key, no pair blowup, AQE-splittable like any window. The
  * tie rule is encoded in the side ordering: inclusive (<=) sorts right
  * rows BEFORE left rows at equal time, strict (<) after.
  *
  * Right rows with a null time never match (they are "at no time") and are
  * filtered; left rows with a null time get null payloads. Multiple right
  * rows at the SAME (key, time) would make the carried payload depend on
  * input order — the caller picks a deterministic winner first (e.g. max
  * event id per (key, time)); the op enforces this with `dedupRight`.
  */
object AsOfJoin {

  /** @param valueCols right columns to append (must not collide with left)
    * @param direction "backward" (greatest rightTime <= leftTime) or
    *                  "forward" (smallest rightTime >= leftTime)
    * @param strict    exclude equal timestamps (< / > instead of <= / >=)
    * @param dedupRight deterministic winner per (key, rightTime): keep the
    *                  row with the max of this column (null keeps a
    *                  requirement that (key, time) is already unique)
    */
  def asOf(left: DataFrame, right: DataFrame, keyCols: Seq[String],
      leftTime: String, rightTime: String, valueCols: Seq[String],
      direction: String = "backward", strict: Boolean = false,
      dedupRight: Option[String] = None): DataFrame = {
    val (u, leftSide, ord) = unionStream(left, right, keyCols, leftTime,
      rightTime, valueCols, direction, strict, dedupRight)
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    finish(u.withColumn("__carry", last(col("__rv"), ignoreNulls = true).over(w)),
      left, valueCols, leftSide, "__carry")
  }

  /** Nearest as-of join (the Polars `join_asof(strategy="nearest")` /
    * pandas `merge_asof(direction="nearest")` surface): attach the right
    * row minimizing |rightTime − leftTime| within the key group;
    * equidistant candidates resolve to the PRIOR (backward) row, equal
    * timestamps are distance 0. One union, ONE shuffle, and two ordered
    * carries over the same partitioning (ascending for the last-prior
    * payload, descending for the first-upcoming one — Spark plans a single
    * exchange with two in-partition sorts), then a per-row exact-integer
    * distance comparison picks the winner. Timestamps compare in micros
    * via `unix_micros` (a cast-to-double distance could flip an
    * equidistance tie at double precision); numeric time columns compare
    * as doubles.
    */
  def asOfNearest(left: DataFrame, right: DataFrame, keyCols: Seq[String],
      leftTime: String, rightTime: String, valueCols: Seq[String],
      dedupRight: Option[String] = None): DataFrame = {
    require(keyCols.nonEmpty, "asOfNearest: at least one key column")
    val collide = valueCols.toSet.intersect(left.columns.toSet)
    require(collide.isEmpty,
      s"asOfNearest: value column(s) ${collide.mkString(", ")} already exist on the left")
    // the right time rides the payload struct under this reserved name (the
    // distance comparison reads it back); a value column of the same name
    // would make the struct's field names ambiguous
    require(!valueCols.contains("__rt"),
      "asOfNearest: value column name __rt is reserved for the carried right time")
    val rDedup = dedupedRight(right, keyCols, rightTime, valueCols, dedupRight)

    // the carried payload must include the right TIME (for the distance
    // comparison), so it rides as an extra struct field next to valueCols
    val lStructType = org.apache.spark.sql.types.StructType(left.schema.fields)
    val r = rDedup.select(
      keyCols.map(col) ++ Seq(
        col(rightTime).as("__t"), lit(0).as("__side"),
        struct((col(rightTime).as("__rt") +: valueCols.map(col)): _*).as("__rv"),
        lit(null).cast(lStructType).as("__lrow")): _*)
    val l = left.select(
      keyCols.map(col) ++ Seq(
        col(leftTime).as("__t"), lit(1).as("__side"),
        lit(null).cast(r.schema("__rv").dataType).as("__rv"),
        struct(left.columns.map(col): _*).as("__lrow")): _*)
    val u = r.unionByName(l)

    val wB = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("__t").asc_nulls_first, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wF = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("__t").desc_nulls_first, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = u
      .withColumn("__cb", last(col("__rv"), ignoreNulls = true).over(wB))
      .withColumn("__cf", last(col("__rv"), ignoreNulls = true).over(wF))

    val axis = numericAxis(u.schema("__t").dataType)
    val dBack = axis(col("__t")) - axis(col("__cb.__rt"))
    val dFwd = axis(col("__cf.__rt")) - axis(col("__t"))
    // backward wins ties (<=); a missing side loses automatically
    val chooseBack = col("__cf").isNull ||
      (col("__cb").isNotNull && dBack <= dFwd)
    finish(carried.withColumn("__cc",
        when(chooseBack, col("__cb")).otherwise(col("__cf"))),
      left, valueCols, leftSide = 1, "__cc")
  }

  /** Shared prep: validate, dedup the right side, and union both sides into
    * one keyed stream (`__t`, `__side`, `__rv` right payload, `__lrow` full
    * left row) with the direction/tie ordering. The left's FULL row rides
    * through the union as a struct — no row-id reattach join (a
    * nondeterministic id evaluated in two lineages could mispair rows), one
    * lineage, one shuffle total.
    */
  private def unionStream(left: DataFrame, right: DataFrame,
      keyCols: Seq[String], leftTime: String, rightTime: String,
      valueCols: Seq[String], direction: String, strict: Boolean,
      dedupRight: Option[String]): (DataFrame, Int, Seq[Column]) = {
    require(keyCols.nonEmpty, "asOf: at least one key column")
    require(Seq("backward", "forward").contains(direction),
      s"asOf: direction must be backward|forward, got $direction")
    val collide = valueCols.toSet.intersect(left.columns.toSet)
    require(collide.isEmpty,
      s"asOf: value column(s) ${collide.mkString(", ")} already exist on the left")

    val rDedup = dedupedRight(right, keyCols, rightTime, valueCols, dedupRight)

    // side ordering encodes the tie rule; forward runs the same carry on
    // the reversed time axis
    val (rightSide, leftSide) = if (strict) (1, 0) else (0, 1)
    val lStructType = org.apache.spark.sql.types.StructType(left.schema.fields)
    val r = rDedup.select(
      keyCols.map(col) ++ Seq(
        col(rightTime).as("__t"), lit(rightSide).as("__side"),
        struct(valueCols.map(col): _*).as("__rv"),
        lit(null).cast(lStructType).as("__lrow")): _*)
    val l = left.select(
      keyCols.map(col) ++ Seq(
        col(leftTime).as("__t"), lit(leftSide).as("__side"),
        lit(null).cast(r.schema("__rv").dataType).as("__rv"),
        struct(left.columns.map(col): _*).as("__lrow")): _*)

    val ord: Seq[Column] = direction match {
      case "backward" => Seq(col("__t").asc_nulls_first, col("__side").asc)
      case "forward"  => Seq(col("__t").desc_nulls_first, col("__side").asc)
    }
    (r.unionByName(l), leftSide, ord)
  }

  /** Map a time column onto a numeric axis for distance arithmetic.
    * Restricted to types with a faithful numeric image — timestamps
    * (micros), dates (days), numerics — and REJECTS everything else up
    * front: a string time column casts to double as null, which would make
    * the nearest chooser always pick forward (null distances) instead of
    * failing loudly. Plain [[asOf]] needs only an ordering and keeps
    * working on such types.
    */
  private def numericAxis(
      dt: org.apache.spark.sql.types.DataType): Column => Column = dt match {
    case _: org.apache.spark.sql.types.TimestampType => c => unix_micros(c)
    case _: org.apache.spark.sql.types.TimestampNTZType =>
      c => unix_micros(c.cast("timestamp"))
    case _: org.apache.spark.sql.types.DateType => c => datediff(c, lit("1970-01-01"))
    case _: org.apache.spark.sql.types.NumericType => c => c
    case other => throw new IllegalArgumentException(
      s"asOfNearest: time column type $other has no numeric axis (distance needs " +
        "timestamps, dates, or numerics) — use asOf, which only requires " +
        "an ordering")
  }

  /** Null-time right rows filtered; optionally one deterministic winner per
    * (key, time): max of the tiebreak struct — keeps the payload row whose
    * `w` is greatest. The time column stays a group key, never a payload
    * field (valueCols may legitimately include it).
    */
  private def dedupedRight(right: DataFrame, keyCols: Seq[String],
      rightTime: String, valueCols: Seq[String],
      dedupRight: Option[String]): DataFrame = {
    val rBase = right.filter(col(rightTime).isNotNull)
    dedupRight match {
      case None => rBase
      case Some(w) =>
        require(w != rightTime,
          s"asOf: dedupRight ($w) must be a tiebreak column, not the time key")
        val payFields = (w +: valueCols.distinct.filterNot(_ == w))
          .filterNot(_ == rightTime)
        // single-payload case: max(struct(x)) ≡ max(x), but the struct form
        // silently forces SortAggregate over every (key, time) group
        // (structs are not mutable hash-agg buffer types) — the plain max
        // stays a HashAggregate for atomic tiebreak columns
        if (payFields.sizeIs == 1)
          rBase.groupBy((keyCols.map(col) :+ col(rightTime)): _*)
            .agg(max(col(w)).as(w))
        else {
          val payload = struct(payFields.map(col): _*)
          rBase.groupBy((keyCols.map(col) :+ col(rightTime)): _*)
            .agg(max(payload).as("__pay"))
            .select((keyCols.map(col) :+ col(rightTime)) ++
              payFields.map(c => col(s"__pay.$c").as(c)): _*)
        }
    }
  }

  /** Keep only left rows and project the carried payload, nulling it for
    * null left times ("at no time" matches nothing in either direction —
    * forward's desc ordering would otherwise hand nulls-first rows the
    * max-time payload).
    */
  private def finish(carried: DataFrame, left: DataFrame,
      valueCols: Seq[String], leftSide: Int, carryCol: String): DataFrame =
    carried
      .filter(col("__side") === leftSide && col("__lrow").isNotNull)
      .select(left.columns.map(c => col(s"__lrow.$c").as(c)) ++
        valueCols.map(c => when(col("__t").isNull, lit(null))
          .otherwise(col(s"$carryCol.$c")).as(c)): _*)
}
