package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.meds.MedsSchema._
import graft.operators._
import graft.dsl.Cfg

/** Stage operator semantics on crafted MEDS data — the cases the SQL-oracle
  * gate can't express: NaN-vs-null, empty-group sums, null-safe joins,
  * order stability, match-revise exclusion.
  */
class AggregateCodeMetadataSpec extends SparkSpec {

  private def data = medsDf(
    (1L, "2020-01-01 00:00:00", "HR", 10.0),
    (1L, "2020-01-02 00:00:00", "HR", 20.5),
    (2L, "2020-01-01 00:00:00", "HR", Double.NaN), // NaN is NOT a present value
    (2L, null, "STATIC", null),
    (3L, "2020-01-01 00:00:00", "STATIC", null))

  test("VAL_PRESENT excludes both null and NaN; sums of empty groups are 0") {
    val m = AggregateCodeMetadata.compute(data).collect()
      .map(r => r.getAs[String](Code) -> r).toMap
    val hr = m("HR")
    assert(hr.getAs[Long](CodeNSubjects) == 2)
    assert(hr.getAs[Long](CodeNOccurrences) == 3)
    assert(hr.getAs[Long](ValuesNSubjects) == 1) // NaN row's subject excluded
    assert(hr.getAs[Long](ValuesNOccurrences) == 2)
    assert(hr.getAs[Long](ValuesNInts) == 1) // 10.0 only
    assert(math.abs(hr.getAs[Double](ValuesSum) - 30.5) < 1e-6)
    val st = m("STATIC")
    assert(st.getAs[Double](ValuesSum) == 0.0) // Polars: sum of all-null = 0
    assert(st.getAs[Any](ValuesMin) == null)
  }

  test("summarizeOverAllCodes adds a null-code total row via grouping sets") {
    val m = AggregateCodeMetadata.compute(data, summarizeOverAllCodes = true)
    val total = m.filter(col(Code).isNull).collect()
    assert(total.length == 1)
    assert(total(0).getAs[Long](CodeNOccurrences) == 5)
  }

  test("joinAndReplace: new columns win, old-only columns backfilled") {
    val newMeta = spark.createDataFrame(Seq(("HR", 3L), ("STATIC", 2L)))
      .toDF(Code, CodeNOccurrences)
    val oldMeta = spark.createDataFrame(Seq(("HR", 99L, "heart rate")))
      .toDF(Code, CodeNOccurrences, "description")
    val merged = AggregateCodeMetadata.joinAndReplace(newMeta, oldMeta, Seq(Code))
      .collect().map(r => r.getAs[String](Code) -> r).toMap
    assert(merged("HR").getAs[Long](CodeNOccurrences) == 3) // new wins
    assert(merged("HR").getAs[String]("description") == "heart rate") // backfilled
    assert(merged("STATIC").getAs[String]("description") == null)
  }

  test("nearest quantiles pick index round(q*(n-1)), half away from zero") {
    val x = Seq(1.0, 2.0, 3.0, 10.0).zipWithIndex.map { case (v, i) =>
      (1L, f"2020-01-01 00:0$i%d:00", "X", java.lang.Double.valueOf(v)) }
    val d = medsDf(x ++ Seq[(Long, String, String, java.lang.Double)](
      (2L, "2020-01-01 00:00:00", "ONE", 5.0),
      (3L, "2020-01-01 00:00:00", "NONE", null),
      (3L, "2020-01-01 00:01:00", "NONE", Double.NaN)): _*)
    val qs = Seq(0.0, 0.25, 0.5, 1.0)
    val got = AggregateCodeMetadata.compute(d, Seq(ValuesQuantiles), qs).collect()
      .map(r => r.getAs[String](Code) -> Option(r.getAs[Row](ValuesQuantiles))).toMap
    // (code, q, value): X has n = 4, so the median's index round(1.5) = 2
    // rounds half away from zero, to 3.0, not 2.5 or 2.0
    val want = Seq(("X", 0.0, 1.0), ("X", 0.25, 2.0), ("X", 0.5, 3.0), ("X", 1.0, 10.0),
      ("ONE", 0.0, 5.0), ("ONE", 0.5, 5.0), ("ONE", 1.0, 5.0))
    want.foreach { case (code, q, v) =>
      assert(got(code).get.getDouble(qs.indexOf(q)) == v, s"$code q=$q") }
    // a code whose values are all null or NaN gets a null struct
    assert(got("NONE").isEmpty)
  }

  test("shrink dtype narrows count columns") {
    val out = AggregateCodeMetadata(data, data.sparkSession.createDataFrame(
      Seq(Tuple1("HR"))).toDF(Code))
    assert(out.schema(CodeNOccurrences).dataType == ByteType)
  }
}

class FilterStagesSpec extends SparkSpec {

  private def data = medsDf(
    (1L, null, "STATIC", null),
    (1L, "2020-01-01 00:00:00", "HR", 1.0),
    (1L, "2020-01-01 00:00:00", "TEMP", 2.0),
    (1L, "2020-01-02 00:00:00", "HR", 3.0),
    (2L, "2020-01-01 00:00:00", "HR", 4.0))

  test("filter_subjects: measurement count ignores null times, keeps static rows of survivors") {
    // subject 1: 3 measurements over 2 distinct times; subject 2: 1/1
    val out = FilterSubjects(data, minMeasurementsPerSubject = Some(2))
    assert(out.select(SubjectId).distinct().collect().map(_.getLong(0)).toSet == Set(1L))
    assert(out.count() == 4) // static null-time row retained
    val out2 = FilterSubjects(data, minEventsPerSubject = Some(2))
    assert(out2.select(SubjectId).distinct().collect().map(_.getLong(0)).toSet == Set(1L))
  }

  test("filter_measurements keeps only codes passing thresholds") {
    val codes = AggregateCodeMetadata.compute(data, Seq(CodeNSubjects, CodeNOccurrences))
    val out = FilterMeasurements(data, codes, minOccurrencesPerCode = Some(3))
    assert(out.select(Code).distinct().collect().map(_.getString(0)).toSet == Set("HR"))
  }

  test("occlude_outliers nulls outliers and flags inliers") {
    val d = medsDf(
      (1L, "2020-01-01 00:00:00", "X", 1.0),
      (1L, "2020-01-01 00:01:00", "X", 1.0),
      (1L, "2020-01-01 00:02:00", "X", 1.0),
      (1L, "2020-01-01 00:03:00", "X", 100.0),
      (1L, null, "S", null))
    val codes = AggregateCodeMetadata.compute(d,
      Seq(ValuesNOccurrences, ValuesSum, ValuesSumSqd))
    val out = OccludeOutliers(d, codes, stddevCutoff = 1.0).collect()
      .map(r => (r.getAs[String](Code), Option(r.getAs[Any](NumericValue)),
        Option(r.getAs[Any](IsInlier)))).toSeq
    val outlier = out.filter(_._1 == "X").filter(_._2.isEmpty)
    assert(outlier.nonEmpty && outlier.forall(_._3.contains(false)))
    val static = out.filter(_._1 == "S").head
    assert(static._2.isEmpty && static._3.isEmpty) // no value → null flag
  }

  test("occlude_outliers: NaN std occludes valued rows but null values stay NULL-flagged") {
    // a constant code with a pre-fitted NaN std (derived variance rounding
    // negative) plus one null-value row of the same code
    val d = medsDf(
      (1L, "2020-01-01 00:00:00", "C", 5.0),
      (1L, "2020-01-01 00:01:00", "C", 5.0),
      (1L, "2020-01-01 00:02:00", "C", null))
    val codes = spark.createDataFrame(Seq(("C", 5.0, Double.NaN)))
      .toDF(Code, ValuesMean, ValuesStd)
    val out = OccludeOutliers(d, codes, stddevCutoff = 1.0).collect()
      .map(r => (Option(r.getAs[Any](NumericValue)), Option(r.getAs[Any](IsInlier)))).toSeq
    // valued rows: occluded with is_inlier = false
    assert(out.count(x => x._1.isEmpty && x._2.contains(false)) == 2)
    // the null-value row keeps the reference's three-valued NULL flag
    assert(out.count(x => x._1.isEmpty && x._2.isEmpty) == 1)
  }
}

class NormalizationSpec extends SparkSpec {

  test("z-scores values, swaps code for vocab index, preserves row order") {
    val d = medsDf(
      (1L, "2020-01-01 00:00:00", "B", 10.0),
      (1L, "2020-01-01 00:01:00", "A", 1.0),
      (1L, "2020-01-01 00:02:00", "B", 20.0),
      (1L, "2020-01-01 00:03:00", "A", 3.0))
      .withColumn(RowIdx, monotonically_increasing_id())
    val codes = FitVocabularyIndices(
      AggregateCodeMetadata.compute(d, Seq(ValuesNOccurrences, ValuesSum, ValuesSumSqd)))
    val out = Normalization(d, codes, valueType = DoubleType)
    val rows = out.select(col(Code).cast("long"), col(NumericValue)).collect()
    // input order preserved: B, A, B, A → vocab A=1, B=2
    assert(rows.map(_.getLong(0)).toSeq == Seq(2L, 1L, 2L, 1L))
    assert(math.abs(rows(1).getDouble(1) + 1.0) < 1e-9) // (1-2)/1
    assert(math.abs(rows(3).getDouble(1) - 1.0) < 1e-9)
  }

  test("zero-variance code: reference float semantics (±inf / NaN), no ANSI crash") {
    val d = medsDf(
      (1L, "2020-01-01 00:00:00", "FLAG", 1.0),
      (1L, "2020-01-01 00:01:00", "FLAG", 1.0),
      (2L, "2020-01-01 00:02:00", "FLAG", null))
      .withColumn(RowIdx, monotonically_increasing_id())
    val codes = FitVocabularyIndices(
      AggregateCodeMetadata.compute(d, Seq(ValuesNOccurrences, ValuesSum, ValuesSumSqd)))
    val rows = Normalization(d, codes, valueType = DoubleType)
      .select(NumericValue).collect().map(r =>
        if (r.isNullAt(0)) null else java.lang.Double.valueOf(r.getDouble(0)))
    // v == mean with std 0 → NaN (the reference's (v-mean)/0); null stays null
    assert(rows.take(2).forall(v => v != null && v.isNaN))
    assert(rows(2) == null)
  }

  test("null-safe join keys: rows with null modifier still match") {
    val d = medsDf((1L, "2020-01-01 00:00:00", "A", 1.0))
      .withColumn("unit", lit(null).cast(StringType))
      .withColumn(RowIdx, monotonically_increasing_id())
    val codes = FitVocabularyIndices(
      AggregateCodeMetadata.compute(d, Seq(ValuesNOccurrences, ValuesSum, ValuesSumSqd),
        codeModifiers = Seq("unit")), codeModifiers = Seq("unit"))
    val out = Normalization(d, codes, codeModifiers = Seq("unit"))
    assert(out.count() == 1) // Polars nulls_equal=True semantics
  }

  test("vocabulary: 1-based, lexicographic, nulls first; duplicates rejected") {
    val codes = spark.createDataFrame(Seq(Tuple1("B"), Tuple1("A"))).toDF(Code)
    val fit = FitVocabularyIndices(codes).collect()
      .map(r => r.getAs[String](Code) -> r.getAs[Number](VocabIndex).longValue()).toMap
    assert(fit == Map("A" -> 1L, "B" -> 2L))
    val dup = spark.createDataFrame(Seq(Tuple1("A"), Tuple1("A"))).toDF(Code)
    intercept[IllegalArgumentException] { FitVocabularyIndices(dup) }
  }
}

class MatchReviseSpec extends SparkSpec {

  private def data = medsDf(
    (1L, "2020-01-01 00:00:00", "HR", 10.0),
    (1L, "2020-01-01 00:00:00", "HR", 20.0),
    (1L, "2020-01-01 00:00:00", "TEMP", 30.0))

  test("MATCH_AND_REVISE: earlier matchers exclude rows from later blocks") {
    // both matchers match HR rows; second must see none of them
    val blocks = Seq(
      MatchRevise.Block(Cfg.map("code" -> Cfg("HR")),
        df => df.withColumn(NumericValue, col(NumericValue) * 2)),
      MatchRevise.Block(Cfg.map("numeric_value" -> Cfg.map("present" -> Cfg(true))),
        df => df.withColumn(NumericValue, col(NumericValue) + 1000)))
    val out = MatchRevise(data, blocks).select(NumericValue).collect()
      .map(_.getAs[Number](0).doubleValue()).toSet
    assert(out == Set(20.0, 40.0, 1030.0))
  }

  test("MULTI mode: every matcher sees the full input") {
    val blocks = Seq(
      MatchRevise.Block(Cfg.map("code" -> Cfg("HR")),
        df => df.withColumn(NumericValue, col(NumericValue) * 2)),
      MatchRevise.Block(Cfg.map("code" -> Cfg("HR")),
        df => df.withColumn(NumericValue, col(NumericValue) + 1000)))
    val out = MatchRevise(data, blocks, multi = true)
    assert(out.count() == 5) // 2 HR ×2 blocks + TEMP remainder
  }

  test("output order: (subject, time, block, input order)") {
    val blocks = Seq(
      MatchRevise.Block(Cfg.map("code" -> Cfg("TEMP")), identity),
      MatchRevise.Block(Cfg.map("code" -> Cfg("HR")), identity))
    val out = MatchRevise(data, blocks).select(Code).collect().map(_.getString(0)).toSeq
    assert(out == Seq("TEMP", "HR", "HR")) // TEMP block precedes HR block
  }
}

class BinNumericValuesSpec extends SparkSpec {

  test("right-bisect: value equal to an endpoint falls in the upper bin") {
    val d = medsDf(
      (1L, "2020-01-01 00:00:00", "X", 1.0),
      (1L, "2020-01-01 00:01:00", "X", 5.0),
      (1L, "2020-01-01 00:02:00", "X", 7.0),
      (1L, "2020-01-01 00:03:00", "X", null))
    val codes = spark.createDataFrame(Seq(Tuple1("X"))).toDF(Code)
    val out = BinNumericValues(d, codes, customBins = Map("X" -> Seq(5.0)))
      .select(Code, NumericValue).collect()
      .map(r => r.getString(0) -> Option(r.getAs[Any](NumericValue))).toSeq
    assert(out.map(_._1) == Seq("X//0//-inf//5.0", "X//1//5.0//inf", "X//1//5.0//inf", "X"))
  }

  test("codeFormat template renders {code}/{bin}/{left}/{right} fields") {
    val d = medsDf((1L, "2020-01-01 00:00:00", "lab//A", 1.5))
    val codes = spark.createDataFrame(Seq(Tuple1("lab//A"))).toDF(Code)
    val out = BinNumericValues(d, codes, customBins = Map("lab//A" -> Seq(0.0, 1.0, 2.0)),
      codeFormat = "{code}//value_[{left},{right})").select(Code).head().getString(0)
    assert(out == "lab//A//value_[1.0,2.0)") // reference doctest format
  }

  test("custom bins override metadata quantiles; dropNumeric nulls binned values") {
    val d = medsDf((1L, "2020-01-01 00:00:00", "X", 3.0))
    val codes = spark.createDataFrame(Seq(("X", 99.0))).toDF(Code, "ignored")
    val out = BinNumericValues(d, codes, customBins = Map("X" -> Seq(1.0, 2.0)),
      dropNumeric = true).select(Code, NumericValue).head()
    assert(out.getString(0) == "X//2//2.0//inf")
    assert(out.getAs[Any](1) == null)
  }

  test("bin_with_columns: first non-null struct column wins per code") {
    val d = medsDf(
      (1L, "2020-01-01 00:00:00", "A", 5.0),
      (1L, "2020-01-01 00:00:00", "B", 5.0))
    // A has both columns (priority col wins: endpoint 4 → bin 1);
    // B only has the fallback quantiles (endpoint 6 → bin 0)
    val codes = spark.createDataFrame(Seq(("A", true), ("B", false))).toDF(Code, "hasPri")
      .withColumn("priority_bins",
        when(col("hasPri"), struct(lit(4.0f).as("p"))))
      .withColumn(ValuesQuantiles, struct(lit(6.0f).as("q")))
    val out = BinNumericValues(d, codes,
      binWithColumns = Seq("priority_bins", ValuesQuantiles),
      codeFormat = "{code}//{bin}")
      .select(Code).collect().map(_.getString(0)).toSet
    assert(out == Set("A//1", "B//0"))
  }
}

class TimeDerivedSpec extends SparkSpec {

  private def data = medsDf(
    (1L, "2020-01-01 00:00:00", "BIRTH", null),
    (1L, "2020-01-02 00:00:00", "HR", 60.0),
    (1L, "2020-01-04 00:00:00", "HR", 61.0),
    (2L, "2020-01-01 12:00:00", "HR", 62.0))

  test("age: days since DOB, positive only, one per unique event") {
    val out = AddTimeDerivedMeasurements.ageEvents(data, "^BIRTH$",
      ageUnit = "days", valueType = DoubleType)
      .orderBy(Time).collect()
    assert(out.map(_.getDouble(3)).toSeq == Seq(1.0, 3.0)) // DOB event itself dropped (age 0)
    assert(out.forall(_.getLong(0) == 1L)) // subject 2 has no DOB
  }

  test("time_of_day buckets by hour, [a,b) intervals") {
    val out = AddTimeDerivedMeasurements.timeOfDayEvents(data, Seq(6, 12, 18))
      .collect().map(r => r.getTimestamp(1).toString -> r.getString(2)).toMap
    assert(out("2020-01-01 00:00:00.0") == "TIME_OF_DAY//[00,06)")
    assert(out("2020-01-01 12:00:00.0") == "TIME_OF_DAY//[12,18)") // 12 in upper bucket
  }

  test("timeline tokens: START/END at min/max, DELTA between events") {
    val out = AddTimeDerivedMeasurements.timelineTokenEvents(data, unit = "days",
      valueType = DoubleType)
      .filter(col(SubjectId) === 1L).orderBy(Time, Code).collect()
      .map(r => (r.getString(2), Option(r.getAs[Any](3))))
    assert(out.toSeq == Seq(
      ("TIMELINE//START", None),
      ("TIMELINE//DELTA//days", Some(1.0)),
      ("TIMELINE//DELTA//days", Some(2.0)),
      ("TIMELINE//END", None)))
  }

  test("splice puts generated rows before data rows within a (subject,time) block") {
    val gen = AddTimeDerivedMeasurements.timeOfDayEvents(data)
    val out = AddTimeDerivedMeasurements.addAll(data,
        Seq(AddTimeDerivedMeasurements.Generator(_ => gen)))
      .filter(col(SubjectId) === 2L).select(Code).collect().map(_.getString(0)).toSeq
    assert(out == Seq("TIME_OF_DAY//[12,18)", "HR"))
  }
}

class ReorderSpec extends SparkSpec {
  test("codes ordered by first matching pattern, stable within blocks") {
    val d = medsDf(
      (1L, "2020-01-01 00:00:00", "B", 1.0),
      (1L, "2020-01-01 00:00:00", "A", 2.0),
      (1L, "2020-01-01 00:00:00", "Z1", 3.0),
      (1L, "2020-01-01 00:00:00", "Z2", 4.0))
    val out = ReorderMeasurements(d, Seq("^A$", "^B$"))
      .select(Code).collect().map(_.getString(0)).toSeq
    assert(out == Seq("A", "B", "Z1", "Z2")) // unmatched keep input order at the end
  }
}

class ExtractValuesSpec extends SparkSpec {
  test("adds DSL columns, casts mandatory types, validates inputs") {
    val d = medsDf((1L, "2020-01-01 00:00:00", "HR//bpm//120", null))
    val out = ExtractValues(d, Seq(
      NumericValue -> Cfg.map("extract" -> Cfg.map(
        "from" -> Cfg("code"), "regex" -> Cfg("//(\\d+)$")))))
    val row = out.head()
    assert(out.schema(NumericValue).dataType == FloatType) // mandatory cast
    assert(row.getAs[Float](NumericValue) == 120.0f)
    intercept[IllegalArgumentException] {
      ExtractValues(d, Seq("x" -> Cfg("missing_column")))
    }
  }
}

class ReshardSpec extends SparkSpec {
  test("seeded assignment: per-split permutation chunks of near-equal size") {
    val splits = spark.createDataFrame(
      (1L to 10L).map(i => (i, if (i <= 7) "train" else "tuning")))
      .toDF("subject_id", "split")
    val a = ReshardToSplit.assignShardsSeeded(splits, nShards = 3, seed = 5)
    val sizes = a.groupBy("split", "shard").count().collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    // 7 train subjects over 3 shards → 3,2,2; 3 tuning → 1,1,1
    assert(sizes(("train", 0)) == 3 && sizes(("train", 1)) == 2 && sizes(("train", 2)) == 2)
    assert(Seq(0, 1, 2).forall(s => sizes(("tuning", s)) == 1))
    // deterministic under the same seed
    val b = ReshardToSplit.assignShardsSeeded(splits, nShards = 3, seed = 5)
    assert(a.collect().map(_.toSeq).toSet == b.collect().map(_.toSeq).toSet)
  }

  test("n_subjects_per_shard sizing: shard count = ceil(n / size) per split") {
    val splits = spark.createDataFrame(
      (1L to 10L).map(i => (i, if (i <= 7) "train" else "tuning")))
      .toDF("subject_id", "split")
    val a = ReshardToSplit.assignShardsBySize(splits, nSubjectsPerShard = 3)
    val stats = a.groupBy("split").agg(
      org.apache.spark.sql.functions.countDistinct("shard").as("k"),
      org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.col("shard")).as("mx"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(stats("train")._1 == 3) // ceil(7/3)
    assert(stats("tuning")._1 == 1) // ceil(3/3)
    // shard ids are contiguous from 0 (max == k-1), not just k distinct
    assert(stats("train")._2 == 2)
    assert(stats("tuning")._2 == 0)
    // no shard exceeds the size bound
    val maxSize = a.groupBy("split", "shard").count().collect().map(_.getLong(2)).max
    assert(maxSize <= 3)
  }

  test("split_fracs assignment: seeded permutation sliced by fractions") {
    val subjects = spark.createDataFrame((1L to 20L).map(Tuple1(_))).toDF("subject_id")
    val a = ReshardToSplit.assignSplitsByFrac(subjects,
      Seq("train" -> 0.8, "tuning" -> 0.1, "held_out" -> 0.1), seed = 1L)
    val sizes = a.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sizes == Map("train" -> 16L, "tuning" -> 2L, "held_out" -> 2L))
    // every subject assigned exactly once, deterministically
    assert(a.select("subject_id").distinct().count() == 20)
    val b = ReshardToSplit.assignSplitsByFrac(subjects,
      Seq("train" -> 0.8, "tuning" -> 0.1, "held_out" -> 0.1), seed = 1L)
    assert(a.collect().map(_.toSeq).toSet == b.collect().map(_.toSeq).toSet)
  }

  test("distributed split_fracs: same cardinalities as collect form, no driver subject list") {
    // awkward n (17) + fracs that exercise the round(cum·n) boundary math
    val fracs = Seq("train" -> 0.7, "tuning" -> 0.2, "held_out" -> 0.1)
    val small = spark.range(1, 18).toDF("subject_id")
    def sizes(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("split").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sizes(ReshardToSplit.assignSplitsByFracDistributed(small, fracs, seed = 3L))
      == sizes(ReshardToSplit.assignSplitsByFrac(small, fracs, seed = 3L)))

    // 10⁶-subject frame: exact cardinalities, full coverage, and the plan
    // reads distributed blocks — no LocalTableScan of a collected id list
    // (the collect form's plan is exactly such a scan)
    val big = spark.range(1, 1000001).toDF("subject_id")
    val f3 = Seq("train" -> 0.8, "tuning" -> 0.1, "held_out" -> 0.1)
    val dist = ReshardToSplit.assignSplitsByFracDistributed(big, f3, seed = 7L)
    assert(!dist.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    assert(sizes(dist) == Map("train" -> 800000L, "tuning" -> 100000L, "held_out" -> 100000L))
    assert(dist.select("subject_id").distinct().count() == 1000000L)
    // deterministic under the same seed (order-insensitive content hash)
    import org.apache.spark.sql.functions.{sum, xxhash64, col}
    // decimal sum: ANSI mode throws on Long-sum overflow of 10⁶ full-range hashes
    def contentHash(df: org.apache.spark.sql.DataFrame): java.math.BigDecimal =
      df.agg(sum(xxhash64(col("subject_id"), col("split")).cast("decimal(38,0)")))
        .head().getDecimal(0)
    assert(contentHash(dist) ==
      contentHash(ReshardToSplit.assignSplitsByFracDistributed(big, f3, seed = 7L)))
  }

  test("subjects are assigned deterministically and data joins splits") {
    val d = medsDf(
      (1L, "2020-01-01 00:00:00", "HR", 1.0),
      (2L, "2020-01-01 00:00:00", "HR", 2.0),
      (5L, "2020-01-01 00:00:00", "HR", 3.0))
    val splits = spark.createDataFrame(Seq((1L, "train"), (2L, "train"), (5L, "tuning")))
      .toDF(SubjectId, Split)
    val out = ReshardToSplit(d, splits, nShards = 2)
    val got = out.select(SubjectId, Split, Shard).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(got == Set((1L, "train", 1), (2L, "train", 0), (5L, "tuning", 1)))
  }
}
