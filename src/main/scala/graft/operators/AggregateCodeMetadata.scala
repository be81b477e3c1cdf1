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

  /** HLL-estimated subject counts as drop-in agg expressions — the
    * hyper-cardinality stand-ins for the two exact countDistincts (stage
    * option `algo: sketch` on the subject-count aggregation entries): one
    * fixed-size register array per group instead of a distinct-set shuffle,
    * exact below the sketch's coupon capacity (~2^(lgK−4)), ≤ ~0.8% error
    * above it at lgK=12.
    */
  def sketchSubjectAggExpr(name: String, lgK: Int): Column = name match {
    case CodeNSubjects =>
      hll_sketch_estimate(hll_sketch_agg(col(SubjectId).cast("string"), lit(lgK)))
        .as(CodeNSubjects)
    case ValuesNSubjects =>
      hll_sketch_estimate(
        hll_sketch_agg(when(valPresent, col(SubjectId)).cast("string"), lit(lgK)))
        .as(ValuesNSubjects)
    case other =>
      throw new IllegalArgumentException(s"no sketch variant for $other")
  }

  def aggExpr(name: String, quantiles: Seq[Double]): Column = name match {
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
    case ValuesQuantiles =>
      // exact percentile (Catalyst TypedImperativeAggregate), LINEAR interp;
      // the reference's Polars default is "nearest" — see nearestQuantiles
      when(count(presentVal) > 0,
        struct(quantiles.map(q =>
          percentile(presentVal, lit(q)).as(s"values/quantile/$q")): _*))
        .as(ValuesQuantiles)
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

  /** KLL-sketch quantiles with the same output contract as
    * [[nearestQuantiles]] — the scale path for groups whose present-value
    * count makes even the rank window's per-key sort unwelcome: one
    * map-side-combined aggregation producing a fixed ~3 KB sketch per key,
    * quantiles read off the sketch (Datasketches INCLUSIVE criterion: the
    * smallest retained value whose inclusive rank ≥ q — in the exact regime
    * n ≤ k that is precisely the order statistic at ceil(q·n), which is what
    * the `agg_code_quantiles_sketch` gate replays in SQL). Rank error in the
    * approximate regime ≤ ~1.65% at the default k=200 (KllSpec).
    */
  def sketchQuantiles(
      data: DataFrame,
      quantiles: Seq[Double],
      codeModifiers: Seq[String] = Nil,
      overAll: Boolean = false,
      sketchK: Int = graft.plans.KllExpressions.DefaultK): DataFrame = {
    val keys = if (overAll) Nil else Code +: codeModifiers
    val aggs = Seq(
      graft.plans.KllExpressions.kllAgg(
        when(valPresent, col(NumericValue)).cast("double"), sketchK).as("__kll"),
      count(when(valPresent, lit(1))).as("__n_present"))
    val grouped =
      if (keys.isEmpty) data.agg(aggs.head, aggs.tail: _*)
      else data.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val out = grouped.withColumn(ValuesQuantiles,
      when(col("__n_present") > 0, struct(quantiles.map(q =>
        graft.plans.KllExpressions.kllQuantile(col("__kll"), lit(q))
          .as(s"values/quantile/$q")): _*)))
    val keyCols: Seq[Column] =
      if (overAll) (Code +: codeModifiers).map(k => lit(null).cast("string").as(k))
      else keys.map(col)
    out.select((keyCols :+ col(ValuesQuantiles)): _*)
  }

  /** Compute grouped metadata. `codeModifiers` extend the grouping key.
    * `summarizeOverAllCodes` adds the all-codes summary row (code = null),
    * reference lines 517-535 — expressed as GROUPING SETS ((code, mods), ())
    * so Spark computes both in one pass over the data.
    *
    * `quantileMode` "nearest" (the reference's Polars default) routes the
    * quantile aggregation through [[nearestQuantiles]]; "linear" uses the
    * built-in exact percentile; "sketch" uses [[sketchQuantiles]] (KLL,
    * `sketchK` sizing the sketch) for hyper-cardinality value domains.
    */
  def compute(
      data: DataFrame,
      aggregations: Seq[String] = AllAggregations,
      quantiles: Seq[Double] = Seq(0.25, 0.5, 0.75),
      codeModifiers: Seq[String] = Nil,
      summarizeOverAllCodes: Boolean = false,
      quantileMode: String = "nearest",
      sketchK: Int = graft.plans.KllExpressions.DefaultK,
      subjectCountMode: String = "exact",
      subjectLgK: Int = 12): DataFrame = {
    require(Seq("nearest", "linear", "sketch").contains(quantileMode),
      s"unknown quantileMode $quantileMode")
    require(Seq("exact", "sketch").contains(subjectCountMode),
      s"unknown subjectCountMode $subjectCountMode")
    val keys = Code +: codeModifiers
    val wantsNearestQ = aggregations.contains(ValuesQuantiles) &&
      (quantileMode == "nearest" || quantileMode == "sketch")
    val aggNames = if (wantsNearestQ) aggregations.filterNot(_ == ValuesQuantiles)
      else aggregations
    val mkAgg: String => Column = {
      case n @ (CodeNSubjects | ValuesNSubjects)
          if subjectCountMode == "sketch" => sketchSubjectAggExpr(n, subjectLgK)
      case n => aggExpr(n, quantiles)
    }
    val aggs = aggNames.map(mkAgg) match {
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
      if (!wantsNearestQ) base
      else {
        def qFrame(overAll: Boolean) =
          if (quantileMode == "sketch")
            sketchQuantiles(data, quantiles, codeModifiers, overAll, sketchK)
          else nearestQuantiles(data, quantiles, codeModifiers, overAll)
        val perCode = qFrame(overAll = false).withColumn("__gid", lit(0))
        val qDf =
          if (summarizeOverAllCodes)
            perCode.unionByName(
              qFrame(overAll = true).withColumn("__gid", lit(totalGid)))
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
      summarizeOverAllCodes: Boolean = false,
      quantileMode: String = "nearest",
      sketchK: Int = graft.plans.KllExpressions.DefaultK,
      subjectCountMode: String = "exact",
      subjectLgK: Int = 12): DataFrame = {
    val computed = compute(data, aggregations, quantiles, codeModifiers,
      summarizeOverAllCodes, quantileMode, sketchK, subjectCountMode, subjectLgK)
    val merged = joinAndReplace(computed, codes, Code +: codeModifiers)
    GraftFunctions.shrinkIntColumns(LocalTable(merged, "stage aggregate_code_metadata"),
      Seq(CodeNSubjects, CodeNOccurrences, ValuesNSubjects, ValuesNOccurrences, ValuesNInts))
  }

  // =====================================================================
  // Incremental metadata: exact mergeable partial aggregates
  // =====================================================================

  /** The mergeable partial-aggregate artifact for incremental metadata.
    *
    * The reference's map/reduce split (mapreduce/stage.py per-shard partials
    * + n-ary outer-join reduction) recomputes from raw shards every run. At
    * 100 TB the winning shape is partials that PERSIST and MERGE: aggregate
    * each new data increment once, union its partials with the previous
    * release's, and derive the full metadata table from the merged artifact —
    * old shards are never rescanned.
    *
    * Two frames, both metadata-sized (bounded by distinct (key, value) /
    * (key, subject) pairs, not by row count):
    *
    *  - `valueHist`: (keys…, __v, __cnt) — the per-key value histogram with
    *    multiplicities, null/NaN values included as their own buckets. Every
    *    count/sum/min/max/quantile aggregation derives from it EXACTLY
    *    (quantiles via cumulative nearest-rank / linear-interp lookup, which
    *    only needs sorted (value, multiplicity) runs — the same information
    *    a full sort of the raw rows would yield).
    *  - `subjects`: (keys…, subject_id, __has_value) — per-key distinct
    *    subjects with a "has a present value" flag; both distinct-subject
    *    counts derive from it.
    *
    * Merge = union + re-aggregate (sum counts, max flags): associative,
    * commutative, and exact — `fromPartials(merge(partials(a), partials(b)))`
    * equals `compute(a union b)` (double sums to the summation-order ulp;
    * counts, min/max, and quantiles bit-exactly). Spark normalizes -0.0 to
    * 0.0 and collapses NaNs in grouping keys, which is value-preserving for
    * every derived metric (the collapsed buckets compare equal everywhere
    * they are used).
    */
  final case class MetadataPartials(valueHist: DataFrame, subjects: DataFrame) {
    /** Persist both frames under `dir` (build-once / merge-many). */
    def write(dir: String): Unit = {
      valueHist.write.mode("overwrite").parquet(s"$dir/value_hist.parquet")
      subjects.write.mode("overwrite").parquet(s"$dir/subjects.parquet")
    }
  }

  object MetadataPartials {
    def read(spark: org.apache.spark.sql.SparkSession, dir: String): MetadataPartials =
      MetadataPartials(
        spark.read.parquet(s"$dir/value_hist.parquet"),
        spark.read.parquet(s"$dir/subjects.parquet"))
  }

  /** Aggregate one data increment into its mergeable partials. One scan,
    * two shuffles (each on the artifact's own grouping key, map-side
    * combined — the hot codes collapse per task before either exchange).
    */
  def partials(data: DataFrame, codeModifiers: Seq[String] = Nil): MetadataPartials = {
    val keys = Code +: codeModifiers
    val hist = data
      .groupBy((keys.map(col) :+ col(NumericValue).cast("double").as("__v")): _*)
      .agg(count(lit(1)).as("__cnt"))
    val subj = data
      .groupBy((keys.map(col) :+ col(SubjectId)): _*)
      .agg(max(when(valPresent, 1).otherwise(0)).as("__has_value"))
    MetadataPartials(hist, subj)
  }

  /** Merge partial artifacts (any number, any grouping of increments —
    * associative and commutative). Union + re-aggregate; the inputs are
    * metadata-sized, so this never touches raw data.
    */
  def mergePartials(parts: Seq[MetadataPartials],
      codeModifiers: Seq[String] = Nil): MetadataPartials = {
    require(parts.nonEmpty, "mergePartials: empty partial list")
    val keys = Code +: codeModifiers
    val hist = parts.map(_.valueHist).reduce(_ unionByName _)
      .groupBy((keys :+ "__v").map(col): _*)
      .agg(sum("__cnt").as("__cnt"))
    val subj = parts.map(_.subjects).reduce(_ unionByName _)
      .groupBy((keys :+ SubjectId).map(col): _*)
      .agg(max("__has_value").as("__has_value"))
    MetadataPartials(hist, subj)
  }

  /** Derive the full metadata table from a (merged) partial artifact —
    * the same output contract as [[compute]], computed without touching raw
    * data. `quantileMode` "nearest" matches the reference's Polars default
    * (index round(q·(n−1)) half-away-from-zero); "linear" matches the SQL
    * `quantile_cont` convention. All plan inputs are metadata-sized.
    */
  def fromPartials(
      p: MetadataPartials,
      aggregations: Seq[String] = AllAggregations,
      quantiles: Seq[Double] = Seq(0.25, 0.5, 0.75),
      codeModifiers: Seq[String] = Nil,
      summarizeOverAllCodes: Boolean = false,
      quantileMode: String = "nearest"): DataFrame = {
    val keyed = fromPartialsKeyed(p, aggregations, quantiles,
      Code +: codeModifiers, quantileMode)
    if (!summarizeOverAllCodes) keyed
    else {
      val keyNulls = (Code +: codeModifiers)
        .map(k => lit(null).cast("string").as(k))
      val total = fromPartialsKeyed(p, aggregations, quantiles, Nil, quantileMode)
      keyed.unionByName(total.select(keyNulls ++
        total.columns.map(col): _*))
    }
  }

  private def fromPartialsKeyed(
      p: MetadataPartials,
      aggregations: Seq[String],
      quantiles: Seq[Double],
      keys: Seq[String],
      quantileMode: String): DataFrame = {
    val present = col("__v").isNotNull && !isnan(col("__v"))
    val presentCnt = when(present, col("__cnt"))

    def grouped(df: DataFrame, aggs: Seq[Column]): DataFrame =
      if (keys.isEmpty) df.agg(aggs.head, aggs.tail: _*)
      else df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)

    // scalar metrics straight off the histogram
    val histAggs = Seq(
      coalesce(sum("__cnt"), lit(0L)).as(CodeNOccurrences),
      coalesce(sum(presentCnt), lit(0L)).as(ValuesNOccurrences),
      coalesce(sum(when(present && round(col("__v")) === col("__v"), col("__cnt"))),
        lit(0L)).as(ValuesNInts),
      coalesce(sum(when(present, col("__v") * col("__cnt"))), lit(0.0)).as(ValuesSum),
      coalesce(sum(when(present, col("__v") * col("__v") * col("__cnt"))), lit(0.0))
        .as(ValuesSumSqd),
      min(when(present, col("__v"))).as(ValuesMin),
      max(when(present, col("__v"))).as(ValuesMax))
    val scalars = grouped(p.valueHist, histAggs)

    // keyed: the artifact is distinct-by-(keys, subject), so a row count IS
    // the distinct-subject count; over-all (keys empty): a subject can
    // appear under many codes — dedupe across the key space
    val subjAggs =
      if (keys.nonEmpty) Seq(
        count(lit(1)).as(CodeNSubjects),
        coalesce(sum("__has_value"), lit(0L)).cast("long").as(ValuesNSubjects))
      else Seq(
        count_distinct(col(SubjectId)).as(CodeNSubjects),
        count_distinct(when(col("__has_value") === 1, col(SubjectId)))
          .as(ValuesNSubjects))
    val subj = grouped(p.subjects, subjAggs)

    // quantiles: cumulative-count rank lookup over the per-key sorted
    // histogram — window partitions are histogram-sized (distinct values per
    // key), never raw-row-sized
    val wantsQ = aggregations.contains(ValuesQuantiles)
    val qFrame: Option[DataFrame] = if (!wantsQ) None else {
      val h = p.valueHist.filter(present)
        .select((keys.map(col) :+ col("__v") :+ col("__cnt")): _*)
      val wOrder = Window.partitionBy(keys.map(col): _*).orderBy(col("__v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(keys.map(col): _*)
      val ranked = h
        .withColumn("__cum", sum("__cnt").over(wOrder))
        .withColumn("__n", sum("__cnt").over(wAll))
      def valueAtRank(r: Column): Column =
        max(when(col("__cum") - col("__cnt") < r && r <= col("__cum"), col("__v")))
      val qCols = quantiles.map { q =>
        quantileMode match {
          case "nearest" =>
            valueAtRank(floor(lit(q) * (col("__n") - 1) + 0.5) + 1)
              .as(s"values/quantile/$q")
          case "linear" =>
            // per-row __n inside the rank CASE; the group-level copy
            // (max(__n), constant within the group) for the out-of-aggregate
            // interpolation fraction
            val posRow = lit(q) * (col("__n") - 1)
            val loV = valueAtRank(floor(posRow) + 1)
            val hiV = valueAtRank(ceil(posRow) + 1)
            val posAgg = lit(q) * (max(col("__n")) - 1)
            val frac = posAgg - floor(posAgg)
            (loV * (lit(1.0) - frac) + hiV * frac).as(s"values/quantile/$q")
          case other =>
            throw new IllegalArgumentException(s"unknown quantileMode $other")
        }
      }
      val g = grouped(ranked, qCols :+ count(lit(1)).as("__n_rows"))
      Some(g.withColumn(ValuesQuantiles,
          when(col("__n_rows") > 0,
            struct(quantiles.map(q => col(s"`values/quantile/$q`")): _*)))
        .select((keys.map(col) :+ col(ValuesQuantiles)): _*))
    }

    // assemble on the grouping keys (null-safe: a null code is a genuine
    // group); every side is metadata-sized, so the keyless cross join
    // broadcasts. A full outer join has no broadcast build side (Spark drops
    // the hint with a warning), so the keyed join carries none
    def joinKeyed(a: DataFrame, b: DataFrame): DataFrame =
      if (keys.isEmpty) a.crossJoin(broadcast(b))
      else {
        val (l, r) = (a.alias("__fp_l"), b.alias("__fp_r"))
        val cond = keys.map(k => col(s"__fp_l.$k") <=> col(s"__fp_r.$k")).reduce(_ && _)
        l.join(r, cond, "full")
          .select((keys.map(k => coalesce(col(s"__fp_l.$k"), col(s"__fp_r.$k")).as(k)) ++
            a.columns.filterNot(keys.contains).map(c => col(s"__fp_l.$c")) ++
            b.columns.filterNot(keys.contains).map(c => col(s"__fp_r.$c"))): _*)
      }

    val base = joinKeyed(scalars, subj)
    val withQ = qFrame.map(q => joinKeyed(base, q)).getOrElse(base)
    val outCols = keys.map(col) ++
      aggregations.filter(a => withQ.columns.contains(a)).map(c => col(s"`$c`"))
    withQ.select(outCols: _*).drop("__n_rows")
  }
}
