package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.meds.LocalTable
import graft.meds.MedsSchema._
import graft.functions.GraftFunctions

/** `aggregate_code_metadata` (reference:
  * /root/reference/src/MEDS_transforms/stages/aggregate_code_metadata/aggregate_code_metadata.py:173-188,505-537,750-788).
  *
  * Per-(code + modifier) grouped aggregation of up to 10 metrics over the
  * event table, merged into the code-metadata table.
  *
  * Spark-first design note: the reference hand-rolls a map/reduce split —
  * per-shard partial aggregates, then a cross-shard n-ary full-outer-join
  * reduction with horizontal sums. Under Catalyst that whole mechanism IS the
  * built-in partial+final HashAggregate: a single `groupBy(code).agg(...)`
  * produces identical results with map-side combine, no polling, no file
  * locks. We keep the sum/sum_sqd output columns because they are part of the
  * reference's *output contract* (downstream stages derive mean/std from
  * them), not because the execution needs them.
  *
  * The per-shard `countDistinct(subject_id)`-then-sum trick in the reference
  * is only correct because MEDS shards partition subjects; the global
  * `countDistinct` used here has the same semantics under that invariant and
  * is also correct when it does not hold.
  */
object AggregateCodeMetadata {

  val AllAggregations: Seq[String] = Seq(
    CodeNSubjects, CodeNOccurrences, ValuesNSubjects, ValuesNOccurrences,
    ValuesNInts, ValuesSum, ValuesSumSqd, ValuesMin, ValuesMax, ValuesQuantiles)

  /** VAL_PRESENT (aggregate_code_metadata.py:168-171): value is non-null and
    * not NaN. NaN-vs-null distinction is contract-visible.
    */
  def valPresent: Column = col(NumericValue).isNotNull && !isnan(col(NumericValue))

  private def presentVal: Column = when(valPresent, col(NumericValue))

  /** One scalar aggregation; `values/quantiles` is not one of them (it is a
    * rank pass, [[nearestQuantiles]]).
    */
  private def aggExpr(name: String): Column = name match {
    case CodeNSubjects => countDistinct(col(SubjectId)).as(CodeNSubjects)
    case CodeNOccurrences => count(lit(1)).as(CodeNOccurrences)
    case ValuesNSubjects => countDistinct(when(valPresent, col(SubjectId))).as(ValuesNSubjects)
    case ValuesNOccurrences => count(presentVal).as(ValuesNOccurrences)
    case ValuesNInts =>
      count(when(valPresent && round(col(NumericValue)) === col(NumericValue),
        col(NumericValue))).as(ValuesNInts)
    // Polars sum of an empty/all-null group is 0, Spark's is null → coalesce.
    case ValuesSum => coalesce(sum(presentVal), lit(0.0)).as(ValuesSum)
    case ValuesSumSqd => coalesce(sum(presentVal * presentVal), lit(0.0)).as(ValuesSumSqd)
    case ValuesMin => min(presentVal).as(ValuesMin)
    case ValuesMax => max(presentVal).as(ValuesMax)
    case other => throw new IllegalArgumentException(s"unknown aggregation $other")
  }

  /** Polars-"nearest" quantiles (the reference's interpolation: value at
    * index round(q·(n−1)), half away from zero) as a scalable
    * order-statistics pass: rank present values within each key group, pick
    * the target rank — no per-group value collection, so group size is
    * unbounded. One shuffle on the grouping keys.
    *
    * `overAll = true` computes the all-codes row (keys all null). That is a
    * single-partition sort by construction; it exists only for the
    * `do_summarize_over_all_codes` contract.
    */
  def nearestQuantiles(
      data: DataFrame,
      quantiles: Seq[Double],
      codeModifiers: Seq[String] = Nil,
      overAll: Boolean = false): DataFrame = {
    val keys = if (overAll) Nil else Code +: codeModifiers
    val present = data.filter(valPresent)
      .select((keys.map(col) :+ col(NumericValue).cast("double").as("__v")): _*)
    val wOrder = Window.partitionBy(keys.map(col): _*).orderBy(col("__v"))
    val wAll = Window.partitionBy(keys.map(col): _*)
    val ranked = present
      .withColumn("__rn", row_number().over(wOrder))
      .withColumn("__n", count(lit(1)).over(wAll))
    val qCols = quantiles.map { q =>
      val target = floor(lit(q) * (col("__n") - 1) + 0.5) + 1
      max(when(col("__rn") === target, col("__v"))).as(s"values/quantile/$q")
    }
    val aggs = qCols :+ count(lit(1)).as("__n_present")
    val grouped =
      if (keys.isEmpty) ranked.agg(aggs.head, aggs.tail: _*)
      else ranked.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val out = grouped.withColumn(ValuesQuantiles,
      when(col("__n_present") > 0,
        struct(quantiles.map(q => col(s"`values/quantile/$q`")): _*)))
    val keyCols: Seq[Column] =
      if (overAll) (Code +: codeModifiers).map(k => lit(null).cast("string").as(k))
      else keys.map(col)
    out.select((keyCols :+ col(ValuesQuantiles)): _*)
  }

  /** Compute grouped metadata. `codeModifiers` extend the grouping key.
    * `summarizeOverAllCodes` adds the all-codes summary row (code = null),
    * reference lines 517-535 — expressed as GROUPING SETS ((code, mods), ())
    * so Spark computes both in one pass over the data. Quantiles go through
    * [[nearestQuantiles]] (the reference's Polars "nearest").
    */
  def compute(
      data: DataFrame,
      aggregations: Seq[String] = AllAggregations,
      quantiles: Seq[Double] = Seq(0.25, 0.5, 0.75),
      codeModifiers: Seq[String] = Nil,
      summarizeOverAllCodes: Boolean = false): DataFrame = {
    val keys = Code +: codeModifiers
    val wantsQ = aggregations.contains(ValuesQuantiles)
    val aggs = aggregations.filterNot(_ == ValuesQuantiles).map(aggExpr) match {
      case Nil => Seq(count(lit(1)).as("__placeholder"))
      case as => as
    }
    // __gid disambiguates a GENUINE null-code group from the all-codes
    // grouping-sets total row — a bare null-safe key join would match each
    // to BOTH quantile rows and duplicate output rows
    val totalGid = (1 << keys.length) - 1
    val base =
      if (summarizeOverAllCodes) {
        val keyCols = keys.map(col)
        data.groupingSets(Seq(keyCols, Seq.empty[Column]), keyCols: _*)
          .agg((aggs :+ grouping_id().as("__gid")).head,
            (aggs :+ grouping_id().as("__gid")).tail: _*)
      } else {
        data.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
          .withColumn("__gid", lit(0))
      }
    val withQ =
      if (!wantsQ) base
      else {
        val perCode = nearestQuantiles(data, quantiles, codeModifiers)
          .withColumn("__gid", lit(0))
        val qDf =
          if (summarizeOverAllCodes)
            perCode.unionByName(nearestQuantiles(data, quantiles, codeModifiers,
              overAll = true).withColumn("__gid", lit(totalGid)))
          else perCode
        // aliased null-safe join: both sides derive from the same scan
        val b = base.alias("__acm_b")
        val q = qDf.alias("__acm_q")
        val cond = keys.map(k => col(s"__acm_b.$k") <=> col(s"__acm_q.$k"))
          .reduce(_ && _) && col("__acm_b.__gid") === col("__acm_q.__gid")
        b.join(broadcast(q), cond, "left")
          .select((base.columns.map(c => col(s"__acm_b.$c")) :+
            col(s"__acm_q.$ValuesQuantiles")): _*)
      }
    withQ.drop("__placeholder", "__gid")
  }

  /** `join_and_replace` (mapreduce/stage.py:507-543): merge newly reduced
    * metadata into the prior codes table — new columns win, old-only columns
    * are backfilled via left join on the grouping keys. The metadata side is
    * tiny relative to the data → broadcast.
    */
  def joinAndReplace(newMeta: DataFrame, oldMeta: DataFrame, joinCols: Seq[String]): DataFrame = {
    val overlap = oldMeta.columns.toSet.intersect(newMeta.columns.toSet) -- joinCols
    newMeta.join(broadcast(oldMeta.drop(overlap.toSeq: _*)), joinCols, "left")
  }

  /** Full stage: compute + merge + integer-width shrink (reducer.py:217).
    * Eager: the merged codes table is pulled to the driver once
    * ([[graft.meds.LocalTable]]) and shrunk there, so every consumer (an
    * outlier broadcast, the next fit's join, the vocabulary fit, the final
    * write) reads those rows rather than re-running the aggregation over
    * the event table.
    */
  def apply(
      data: DataFrame,
      codes: DataFrame,
      aggregations: Seq[String] = AllAggregations,
      quantiles: Seq[Double] = Seq(0.25, 0.5, 0.75),
      codeModifiers: Seq[String] = Nil,
      summarizeOverAllCodes: Boolean = false): DataFrame = {
    val computed = compute(data, aggregations, quantiles, codeModifiers,
      summarizeOverAllCodes)
    val merged = joinAndReplace(computed, codes, Code +: codeModifiers)
    GraftFunctions.shrinkIntColumns(LocalTable(merged, "stage aggregate_code_metadata"),
      Seq(CodeNSubjects, CodeNOccurrences, ValuesNSubjects, ValuesNOccurrences, ValuesNInts))
  }
}
