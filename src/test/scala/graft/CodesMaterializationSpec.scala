package graft

import graft.obs.Collector
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.config.PipelineConfig
import graft.functions.GraftFunctions
import graft.meds.{MedsData, MedsIO, MedsSchema}
import graft.meds.MedsSchema._
import graft.operators.{AggregateCodeMetadata, FitVocabularyIndices, Pipeline}

/** `shrinkIntColumns` (the `shrink_dtype` analog): the narrowest integral
  * type at every width boundary, for every integral input type, with
  * nullability kept.
  */
class ShrinkIntColumnsSpec extends SparkSpec {

  private def frame(t: DataType, nullable: Boolean, values: Seq[Any]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(values.map(Row(_)), 2),
      StructType(Seq(StructField("c", t, nullable))))

  private def typed(t: DataType, v: Long): Any = t match {
    case ByteType => v.toByte
    case ShortType => v.toShort
    case IntegerType => v.toInt
    case LongType => v
  }

  private val inputTypes: Seq[(DataType, Long, Long)] = Seq(
    (ByteType, Byte.MinValue, Byte.MaxValue),
    (ShortType, Short.MinValue, Short.MaxValue),
    (IntegerType, Int.MinValue, Int.MaxValue),
    (LongType, Long.MinValue, Long.MaxValue))

  // (min, max) -> narrowest type holding both
  private val boundaries: Seq[(Long, Long, DataType)] = Seq(
    (-128L, 0L, ByteType), (-129L, 0L, ShortType),
    (0L, 127L, ByteType), (0L, 128L, ShortType),
    (-32768L, 0L, ShortType), (-32769L, 0L, IntegerType),
    (0L, 32767L, ShortType), (0L, 32768L, IntegerType),
    (-2147483648L, 0L, IntegerType), (-2147483649L, 0L, LongType),
    (0L, 2147483647L, IntegerType), (0L, 2147483648L, LongType))

  test("narrowest type at each width boundary, for tinyint/smallint/int/bigint inputs") {
    for {
      (in, inLo, inHi) <- inputTypes
      (lo, hi, want) <- boundaries if lo >= inLo && hi <= inHi
    } {
      val out = GraftFunctions.shrinkIntColumns(
        frame(in, nullable = true, Seq(typed(in, lo), null, typed(in, hi))), Seq("c"))
      assert(out.schema("c").dataType == want, s"$in [$lo, $hi]")
      assert(out.collect().map(r => Option(r.get(0)).map(_.asInstanceOf[Number].longValue))
        .toSet == Set(Some(lo), None, Some(hi)), s"$in [$lo, $hi] values")
    }
  }

  test("all-null and empty columns become tinyint; nullability is kept") {
    for ((in, _, _) <- inputTypes) {
      val allNull = GraftFunctions.shrinkIntColumns(
        frame(in, nullable = true, Seq(null, null)), Seq("c"))
      assert(allNull.schema("c") == StructField("c", ByteType, nullable = true))
      val empty = GraftFunctions.shrinkIntColumns(
        frame(in, nullable = false, Nil), Seq("c"))
      assert(empty.schema("c") == StructField("c", ByteType, nullable = false))
      val required = GraftFunctions.shrinkIntColumns(
        frame(in, nullable = false, Seq(typed(in, 1), typed(in, 100))), Seq("c"))
      assert(required.schema("c") == StructField("c", ByteType, nullable = false))
    }
  }

  test("several columns fold in one pass; absent columns are skipped") {
    val df = spark.createDataFrame(Seq((1L, 300L, "x"), (2L, 70000L, "y")))
      .toDF("a", "b", "s")
    val out = GraftFunctions.shrinkIntColumns(df, Seq("a", "b", "missing"))
    assert(out.schema.map(f => f.name -> f.dataType) ==
      Seq("a" -> ByteType, "b" -> IntegerType, "s" -> StringType))
    assert(collectSet(out) == Set(Seq(1.toByte, 300, "x"), Seq(2.toByte, 70000, "y")))
  }

  test("a non-integral column fails with the column and its type named") {
    val df = spark.createDataFrame(Seq((1L, 1.5))).toDF("a", "d")
    val e = intercept[IllegalArgumentException] {
      GraftFunctions.shrinkIntColumns(df, Seq("a", "d"))
    }
    assert(e.getMessage.contains("'d' is double, not an integral type"), e.getMessage)
  }
}

/** The MEDS metadata stages compute their codes table exactly once: the
  * returned frames are checkpoint-backed, the splits probe runs once per
  * splits frame, and graft.Main frees what a run pinned.
  */
class CodesMaterializationSpec extends SparkSpec {

  private val yaml =
    """stages:
      |  - fit_outlier_detection:
      |      _base_stage: aggregate_code_metadata
      |      aggregations: [values/n_occurrences, values/sum, values/sum_sqd]
      |  - occlude_outliers:
      |      stddev_cutoff: 1
      |  - fit_normalization:
      |      _base_stage: aggregate_code_metadata
      |      aggregations: [code/n_occurrences, code/n_subjects, values/n_occurrences, values/sum, values/sum_sqd]
      |  - fit_vocabulary_indices
      |  - normalization
      |""".stripMargin

  /** A MEDS root on disk: six subjects over train/tuning/held_out, a splits
    * table and an empty codes table; returns (root dir, pipeline file). */
  private def fixtureRoot(): (String, String) = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_codes_spec").toString
    def v(x: Double) = java.lang.Double.valueOf(x)
    val rows = (1L to 6L).flatMap(s => Seq(
      (s, s"2020-01-0$s 00:00:00", "DX", null),
      (s, s"2020-01-0$s 01:00:00", "HR", v(60.0 + s)),
      (s, s"2020-01-0$s 02:00:00", "HR", v(90.0 + s)),
      (s, s"2020-01-0$s 03:00:00", "TEMP", v(37.0))))
    val split = udf((s: Long) => if (s <= 4) TrainSplit else if (s == 5) TuningSplit
      else HeldOutSplit)
    val data = medsDf(rows: _*).withColumn(Split, split(col(SubjectId)))
    val splits = data.select(SubjectId, Split).distinct()
    MedsIO.write(MedsData(data,
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], MedsSchema.codesSchema),
      splits), s"$tmp/in")
    val p = s"$tmp/pipeline.yaml"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(p), yaml)
    (s"$tmp/in", p)
  }

  private def assertCheckpointBacked(df: DataFrame, what: String): Unit = {
    val logical = df.queryExecution.optimizedPlan
    assert(logical.collect { case a: Aggregate => a }.isEmpty, s"$what: Aggregate in\n$logical")
    assert(logical.collectLeaves().forall(_.isInstanceOf[LogicalRDD]), s"$what:\n$logical")
    val leaves = df.queryExecution.executedPlan.collectLeaves().map(_.nodeName)
    assert(leaves.nonEmpty && leaves.forall(_ == "Scan ExistingRDD"),
      s"$what: physical leaves $leaves")
  }

  test("AggregateCodeMetadata and FitVocabularyIndices return checkpoint-backed frames") {
    val (in, _) = fixtureRoot()
    val m = MedsIO.read(spark, in)
    assert(m.data.queryExecution.executedPlan.toString.contains("FileScan"))
    val codes = AggregateCodeMetadata(m.data, m.codes)
    assertCheckpointBacked(codes, "aggregate_code_metadata")
    val vocab = FitVocabularyIndices(codes)
    assertCheckpointBacked(vocab, "fit_vocabulary_indices")
    assert(vocab.select(Code, VocabIndex).collect()
      .map(r => r.getString(0) -> r.getByte(1).toInt).toMap == Map("DX" -> 1, "HR" -> 2, "TEMP" -> 3))
  }

  test("three metadata stages probe the splits table once") {
    val (in, p) = fixtureRoot()
    val input = MedsIO.read(spark, in)
    val stages = PipelineConfig.fromFile(p).stages
    assert(stages.count(_.isInstanceOf[Pipeline.MetadataStage]) == 3)
    val jobs = Collector.measure(spark)(Pipeline.run(spark, input, stages))._2.jobs
    val probes = jobs.map(_.callSite).filter(_.startsWith("isEmpty at Pipeline.scala"))
    assert(probes.length == 1, probes.mkString(", "))
  }

  test("Main.run leaves no persisted or checkpointed RDD behind") {
    val (in, p) = fixtureRoot()
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    Main.run(Array(p, in, s"$in/../out"), spark)
    val left = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
    assert(left.isEmpty, s"still pinned after the run: ${left.values.mkString(", ")}")
    assert(MedsIO.read(spark, s"$in/../out").codes.count() == 3)
  }
}
