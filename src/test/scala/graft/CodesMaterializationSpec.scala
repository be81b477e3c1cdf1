package graft

import graft.obs.Collector
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.config.PipelineConfig
import graft.functions.GraftFunctions
import graft.meds.{LocalTable, MedsData, MedsIO, MedsSchema}
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
  * returned frames are driver-local (graft.meds.LocalTable), the splits
  * probe runs once per splits frame, and graft.Main leaves nothing pinned.
  */
class CodesMaterializationSpec extends SparkSpec {
  import spark.implicits._

  private val yaml =
    """stages:
      |  - fit_outlier_detection:
      |      _base_stage: aggregate_code_metadata
      |      aggregations: [values/n_occurrences, values/sum, values/sum_sqd]
      |  - occlude_outliers:
      |      stddev_cutoff: 1
      |  - fit_normalization:
      |      _base_stage: aggregate_code_metadata
      |      aggregations: [code/n_occurrences, code/n_subjects, values/n_occurrences, values/sum, values/sum_sqd, values/min, values/max]
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

  private def assertLocal(df: DataFrame, what: String): Unit = {
    val logical = df.queryExecution.optimizedPlan
    assert(logical.isInstanceOf[LocalRelation], s"$what:\n$logical")
    val leaves = df.queryExecution.executedPlan.collectLeaves().map(_.nodeName)
    assert(leaves == Seq("LocalTableScan"), s"$what: physical leaves $leaves")
  }

  test("the fits return driver-local frames") {
    val (in, _) = fixtureRoot()
    val m = MedsIO.read(spark, in)
    assert(m.data.queryExecution.executedPlan.toString.contains("FileScan"))
    val codes = AggregateCodeMetadata(m.data, m.codes)
    assertLocal(codes, "aggregate_code_metadata")
    val (vocab, records) = Collector.measure(spark)(FitVocabularyIndices(codes))
    assert(records.jobs.isEmpty, records.jobs.map(_.callSite))
    assertLocal(vocab, "fit_vocabulary_indices")
    assert(vocab.select(Code, VocabIndex).collect()
      .map(r => r.getString(0) -> r.getByte(1).toInt).toMap == Map("DX" -> 1, "HR" -> 2, "TEMP" -> 3))
    // the empty canonical table (an RDD with no partition) is local with no job too
    val (empty, emptyRecords) = Collector.measure(spark)(LocalTable(
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], MedsSchema.codesSchema), "stage spec"))
    assert(emptyRecords.jobs.isEmpty, emptyRecords.jobs.map(_.callSite))
    assertLocal(empty, "empty canonical codes")
    assert(empty.schema == MedsSchema.codesSchema)
  }

  test("a table over the row cap fails, naming the stage and the cap") {
    val df = spark.range(0, 5, 1, 2).toDF("x")
    val e = intercept[IllegalStateException](LocalTable(df, "stage fit_spec", cap = 4))
    assert(e.getMessage.contains("stage fit_spec") && e.getMessage.contains("more than 4 rows"),
      e.getMessage)
    val atCap = LocalTable(df, "stage fit_spec", cap = 5)
    assertLocal(atCap, "at the cap")
    assert(atCap.as[Long].collect().sorted.toSeq == (0L until 5L))
  }

  test("vocabulary indices follow Spark's asc_nulls_first order, strings by UTF-8 bytes") {
    // Java's String.compareTo puts the surrogate pair of U+1F600 before
    // U+FF21; UTF-8 bytes (EF.. vs F0..) order them the other way round
    assert("\uD83D\uDE00".compareTo("\uFF21") < 0)
    val rows = Seq[(String, String)]((null, null), (null, "mg"), ("\uFF21", null),
      ("\uD83D\uDE00", "x"), ("A", "mg"), ("A", null), ("a", "mg"), ("\u00E9", null))
    val codes = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3)).toDF(Code, "unit")
    def indices(df: DataFrame): Map[(String, String), Long] = df.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Number](VocabIndex).longValue).toMap
    val reference = indices(GraftFunctions.withGlobalRowNumber(codes, VocabIndex,
      Seq(col(Code).asc_nulls_first, col("unit").asc_nulls_first)))
    assert(reference.values.toSet == (1L to rows.size).toSet)
    assert(reference(("\uFF21", null)) < reference(("\uD83D\uDE00", "x")))
    assert(indices(FitVocabularyIndices(codes, Seq("unit"))) == reference)
    assert(indices(FitVocabularyIndices(LocalTable(codes, "spec"), Seq("unit"))) == reference)
  }

  test("three metadata stages probe the splits table once") {
    val (in, p) = fixtureRoot()
    val input = MedsIO.read(spark, in)
    val stages = PipelineConfig.fromFile(p).stages
    assert(stages.count(_.isInstanceOf[Pipeline.MetadataStage]) == 3)
    // each run's fork-point cache is released before the next run persists
    // the same lineage, as graft.Main does
    def probes(m: MedsData): Seq[String] = {
      val ((_, pinned), records) = Collector.measure(spark)(Pipeline.runTracked(spark, m, stages))
      pinned.foreach(_.unpersist(false))
      records.jobs.map(_.callSite).filter(_.startsWith("isEmpty at Pipeline.scala"))
    }
    // a derived splits frame takes one job; the read's parquet scan is
    // answered from its footer row counts
    val derived = probes(input.withSplits(input.splits.filter(col(SubjectId) > 0)))
    assert(derived.length == 1, derived.mkString(", "))
    assert(probes(input).isEmpty)
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

  /** The codes half of the MEDS layout contract on a written root: one
    * parquet data file (written as the file itself, see
    * [[assertCodesFile]]), one row per code, FIXTURES.md §2's column types
    * (Spark's signed integral types for its unsigned ones, and double sums),
    * and each count and index column at the narrowest integral type holding
    * its values. */
  private def assertCodesLayout(root: String): Unit = {
    val path = s"$root/metadata/codes.parquet"
    val files = Option(new java.io.File(path).listFiles()).getOrElse(Array(new java.io.File(path)))
      .filter(f => f.getName.endsWith(".parquet"))
    assert(files.length == 1, s"$path: ${files.map(_.getName).mkString(", ")}")
    val codes = spark.read.parquet(path)
    val n = codes.count()
    assert(n > 0 && codes.select(Code).distinct().count() == n, s"$path: a code repeats")
    val counts = Seq(CodeNOccurrences, CodeNSubjects, ValuesNOccurrences, ValuesNSubjects,
      ValuesNInts, VocabIndex)
    val integral = Seq(ByteType, ShortType, IntegerType, LongType)
    codes.schema.foreach { f =>
      val want: Seq[DataType] = f.name match {
        case Code | Description => Seq(StringType)
        case ParentCodes => Seq(ArrayType(StringType))
        case c if counts.contains(c) => integral
        case ValuesSum | ValuesSumSqd => Seq(DoubleType)
        case ValuesMin | ValuesMax => Seq(FloatType)
        case other => fail(s"$path: unexpected column $other")
      }
      assert(want.contains(f.dataType), s"$path: ${f.name} is ${f.dataType}")
    }
    counts.filter(codes.columns.contains).foreach { c =>
      val Row(lo: Long, hi: Long) = codes.agg(min(col(s"`$c`")).cast(LongType),
        max(col(s"`$c`")).cast(LongType)).head()
      val narrowest = integral.find {
        case ByteType => lo >= Byte.MinValue && hi <= Byte.MaxValue
        case ShortType => lo >= Short.MinValue && hi <= Short.MaxValue
        case IntegerType => lo >= Int.MinValue && hi <= Int.MaxValue
        case _ => true
      }.get
      assert(codes.schema(c).dataType == narrowest, s"$path: $c [$lo, $hi] is ${codes.schema(c).dataType}")
    }
    if (codes.columns.contains(VocabIndex)) {
      val vocab = codes.orderBy(col(VocabIndex)).select(VocabIndex).collect()
      assert(vocab.map(_.getAs[Number](0).longValue).toSeq == (1L to n))
    }
  }

  /** Every codes table, fitted in the writing run or read back from a
    * checkpoint or an input root, is written by the driver as the one file
    * metadata/codes.parquet, never as a directory of part files. */
  private def assertCodesFile(root: String): Unit = {
    assertCodesLayout(root)
    assert(new java.io.File(s"$root/metadata/codes.parquet").isFile, s"$root: not one file")
  }

  test("codes.parquet keeps the MEDS layout contract, with and without a checkpoint root") {
    val out = java.nio.file.Files.createTempDirectory("graft_codes_layout").toString
    // the pipeline's own threshold (20 events) keeps no fixture subject
    val keep = "stages.filter_subjects.min_events_per_subject=5"
    Main.run(Array("perfbench/meds_etl.yaml", MedsFixture.root, s"$out/run", keep), spark)
    assertCodesFile(s"$out/run")
    Main.run(Array("perfbench/meds_etl.yaml", MedsFixture.root, s"$out/ckpt_out",
      s"$out/ckpt", keep), spark)
    assertCodesFile(s"$out/ckpt_out")
    val ckptDirs = new java.io.File(s"$out/ckpt").listFiles().filter(_.isDirectory)
      .map(_.getName).sorted
    assert(ckptDirs.count(_.contains("_fit_")) == 3, ckptDirs.mkString(", "))
    assert(ckptDirs.length == 7, ckptDirs.mkString(", "))
    ckptDirs.foreach(d => assertCodesFile(s"$out/ckpt/$d"))
    val (in, p) = fixtureRoot()
    Main.run(Array(p, in, s"$out/minmax"), spark)
    assert(spark.read.parquet(s"$out/minmax/metadata/codes.parquet").columns
      .toSet.contains(ValuesMin))
    assertCodesFile(s"$out/minmax")
  }
}
