package graft

import graft.meds.{MedsData, MedsIO}
import graft.meds.MedsSchema._
import graft.obs.Collector
import graft.operators.{AggregateCodeMetadata, ReshardToSplit}
import org.apache.parquet.column.Encoding
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types._

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** MedsIO's read and write contracts over the root layouts it meets: a root
  * opens with no Spark job and reads what `spark.read.parquet` reads, every
  * written shard is in MEDS order, every written file is zstd parquet, and
  * `time` is MEDS' INT64 microseconds, delta-encoded, kept exactly.
  */
class MedsIOSpec extends SparkSpec {

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft_medsio_$name").toString

  private def empty(schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  private lazy val fixture = MedsIO.read(spark, MedsFixture.root)

  private val pipeline =
    """stages:
      |  - filter_subjects:
      |      min_events_per_subject: 5
      |  - fit_normalization:
      |      _base_stage: aggregate_code_metadata
      |      aggregations: [code/n_occurrences, values/n_occurrences, values/sum, values/sum_sqd]
      |  - fit_vocabulary_indices
      |  - normalization
      |""".stripMargin

  /** A checkpoint root whose codes and splits tables are statically empty:
    * each is a footer-only file that reads back as the canonical frame. */
  private val checkpoint = "checkpoint with statically-empty metadata"

  /** (layout, root) for every root layout MedsIO.read meets. */
  private lazy val roots: Seq[(String, String)] = {
    val mainOut = {
      val dir = tmp("main")
      Files.writeString(Paths.get(dir, "pipeline.yaml"), pipeline)
      Main.run(Array(s"$dir/pipeline.yaml", MedsFixture.root, s"$dir/out"), spark)
      s"$dir/out"
    }
    val ckpt = tmp("ckpt")
    MedsIO.write(MedsData(fixture.data, empty(codesSchema), empty(splitsSchema)), ckpt)
    val resharded = tmp("resharded")
    MedsIO.write(MedsData(
      ReshardToSplit(fixture.data.drop(Split, Shard), fixture.splits, nShards = 2),
      fixture.codes, fixture.splits), resharded)
    // what a streaming sink or a plain partitioned write leaves: data/split=<v>/
    // and directory-form metadata tables
    val hive = tmp("hive")
    fixture.data.drop(Shard).write.partitionBy(Split).parquet(s"$hive/data")
    fixture.codes.write.parquet(s"$hive/metadata/codes.parquet")
    fixture.splits.write.parquet(s"$hive/metadata/subject_splits.parquet")
    // an aborted write's leftover, at another schema, under data/ and codes;
    // MedsIO writes codes as one file, so the copy's codes table is rewritten
    // as the directory a plain Spark write leaves
    val leftover = tmp("temporary")
    val src = Paths.get(MedsFixture.root)
    Files.walk(src).iterator.asScala.foreach { p =>
      val q = Paths.get(leftover).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    }
    Files.delete(Paths.get(leftover, "metadata/codes.parquet"))
    fixture.codes.write.parquet(s"$leftover/metadata/codes.parquet")
    val stale = tmp("stale")
    spark.range(3).toDF("stale").coalesce(1).write.mode("overwrite").parquet(stale)
    val part = Files.list(Paths.get(stale)).iterator.asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Seq("data", "metadata/codes.parquet").foreach { table =>
      assert(Files.isDirectory(Paths.get(leftover, table)), table)
      val t = Files.createDirectories(Paths.get(leftover, table, "_temporary", "0"))
      Files.copy(part, t.resolve("part-00000.parquet"))
    }
    Seq("MedsFixture.root" -> MedsFixture.root, "Main.run output" -> mainOut,
      checkpoint -> ckpt, "resharded (.shards.json)" -> resharded,
      "Hive-style data/split=<v>/" -> hive, "_temporary/ leftover" -> leftover)
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  test("MedsIO.read opens every root layout with no Spark job") {
    assert(Files.exists(Paths.get(roots.toMap.apply("resharded (.shards.json)"), ".shards.json")))
    roots.foreach { case (layout, root) =>
      val jobs = Collector.measure(spark)(MedsIO.read(spark, root))._2.jobs
      assert(jobs.isEmpty, s"$layout: ${jobs.map(_.callSite).mkString(", ")}")
    }
  }

  test("MedsIO.read gives each table the schema and rows of spark.read.parquet") {
    roots.foreach { case (layout, root) =>
      val meds = MedsIO.read(spark, root)
      val plainData = spark.read.option("recursiveFileLookup", "true").parquet(s"$root/data")
      val data = meds.data.drop(Shard, Split)
      assert(data.schema == plainData.schema, layout)
      assert(rows(data) == rows(plainData), layout)
      Seq("codes" -> meds.codes, "subject_splits" -> meds.splits).foreach { case (name, t) =>
        val plain = spark.read.parquet(s"$root/metadata/$name.parquet")
        if (layout == checkpoint) {
          // the canonical empty frame keeps the canonical nullability, which
          // the parquet reader relaxes
          assert(t.schema == (if (name == "codes") codesSchema else splitsSchema))
          assert(t.schema.map(f => f.name -> f.dataType) ==
            plain.schema.map(f => f.name -> f.dataType), s"$layout $name")
        } else assert(t.schema == plain.schema, s"$layout $name")
        assert(rows(t) == rows(plain), s"$layout $name")
      }
    }
  }

  test("a data/ directory with no parquet file fails with Spark's own inference error") {
    val root = tmp("nodata")
    Files.createFile(Files.createDirectories(Paths.get(root, "data")).resolve("_SUCCESS"))
    val plain = intercept[AnalysisException](
      spark.read.option("recursiveFileLookup", "true").parquet(s"$root/data"))
    val got = intercept[AnalysisException](MedsIO.read(spark, root))
    assert(got.getCondition == "UNABLE_TO_INFER_SCHEMA", got.getMessage)
    assert(got.getMessage == plain.getMessage)
  }

  test("a pipeline that keeps no row writes a readable root, and resumes from its checkpoints") {
    val out = tmp("empty_result")
    def run(args: String*): String = {
      val log = new java.io.ByteArrayOutputStream()
      Console.withOut(log)(Main.run(("perfbench/meds_etl.yaml" +: MedsFixture.root +: args).toArray,
        spark))
      log.toString
    }
    // the pipeline's own threshold (20 events) keeps no fixture subject
    assert(run(s"$out/empty").contains("wrote 0 data rows"))
    run(s"$out/full", "stages.filter_subjects.min_events_per_subject=5")
    def columns(root: String) = MedsIO.read(spark, root).data.schema.map(f => f.name -> f.dataType)
    assert(MedsIO.read(spark, s"$out/empty").data.count() == 0)
    assert(columns(s"$out/empty") == columns(s"$out/full"))
    (1 to 2).foreach { i =>
      assert(run(s"$out/ckpt_out", s"$out/ckpt").contains("wrote 0 data rows"), s"run $i")
    }
    assert(columns(s"$out/ckpt_out") == columns(s"$out/full"))
  }

  test("MedsIO.write leaves each file sorted by (subject_id, time), static rows first, " +
      "from an input spread over several map tasks") {
    val rnd = new scala.util.Random(11)
    val splitOf = Map(0L -> TrainSplit, 1L -> TuningSplit, 2L -> HeldOutSplit)
    val events = (1L to 120L).flatMap { s =>
      val split = splitOf(s % 3)
      Row(s, null, "STATIC", null, split) +: (1 to 8).map(i => Row(s,
        new java.sql.Timestamp(1600000000000L + rnd.nextInt(1000000) * 1000L),
        s"E$i", java.lang.Float.valueOf(i.toFloat), split))
    }
    val data = spark.createDataFrame(
      spark.sparkContext.parallelize(rnd.shuffle(events), 6),
      StructType(Seq(StructField(SubjectId, LongType, nullable = false),
        StructField(Time, TimestampType), StructField(Code, StringType, nullable = false),
        StructField(NumericValue, FloatType), StructField(Split, StringType, nullable = false))))
    val root = tmp("sorted")
    MedsIO.write(MedsData(data, empty(codesSchema), empty(splitsSchema)), root)
    val files = Files.walk(Paths.get(root, "data")).iterator.asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    assert(files.map(_.getParent.getFileName.toString).toSet ==
      Set(TrainSplit, TuningSplit, HeldOutSplit))
    var total = 0L
    files.foreach { f =>
      // a null time sorts before every time: static rows lead each subject
      val keys = spark.read.parquet(f.toString).select(SubjectId, Time).collect()
        .map(r => (r.getLong(0), Option(r.getTimestamp(1)).map(_.getTime)))
      total += keys.length
      val backs = keys.toSeq.zip(keys.drop(1)).count { case (a, b) =>
        Ordering[(Long, Option[Long])].gt(a, b) }
      assert(backs == 0, s"$f: (subject_id, time) steps backwards $backs times")
    }
    assert(total == events.length)
  }

  /** (file under `root`, its parquet-hadoop footer) for every parquet file. */
  private def footers(root: String): Seq[(String, ParquetMetadata)] =
    Files.walk(Paths.get(root)).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .map { f =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toString), spark.sparkContext.hadoopConfiguration))
        try Paths.get(root).relativize(f).toString -> reader.getFooter
        finally reader.close()
      }.toSeq

  /** Roots written by Main.run and MedsIO.write: (layout, root). */
  private lazy val written: Seq[(String, String)] = {
    val dir = tmp("written")
    Files.writeString(Paths.get(dir, "pipeline.yaml"), pipeline)
    Main.run(Array(s"$dir/pipeline.yaml", MedsFixture.root, s"$dir/out", s"$dir/ckpt"), spark)
    // the pipeline's own threshold (20 events) keeps no fixture subject
    Main.run(Array("perfbench/meds_etl.yaml", MedsFixture.root, s"$dir/empty"), spark)
    assert(Files.isRegularFile(Paths.get(dir, "empty", "data", "empty.parquet")))
    Seq("Main.run output" -> s"$dir/out", "checkpoint root" -> s"$dir/ckpt",
      "resharded" -> roots.toMap.apply("resharded (.shards.json)"),
      "empty result" -> s"$dir/empty")
  }

  test("every column chunk MedsIO writes is zstd: run, checkpoint, resharded, empty roots") {
    written.foreach { case (layout, root) =>
      val files = footers(root).map { case (f, footer) =>
        f -> footer.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala.map(_.getCodec.name)) }
      assert(files.exists(_._2.nonEmpty), s"$layout: no column chunk under $root")
      files.foreach { case (f, codecs) =>
        assert(codecs.forall(_ == "ZSTD"), s"$layout $f: ${codecs.distinct.mkString(", ")}")
      }
    }
  }

  /** MEDS' `Datetime("us")` as parquet writes it. */
  private val medsTime =
    LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS)

  /** The physical and logical type of `time` in a footer. */
  private def timeType(footer: ParquetMetadata): (PrimitiveTypeName, LogicalTypeAnnotation) = {
    val schema = footer.getFileMetaData.getSchema
    val t = schema.getType(schema.getFieldIndex(Time)).asPrimitiveType
    t.getPrimitiveTypeName -> t.getLogicalTypeAnnotation
  }

  // parquet-mr falls back to PLAIN for an undictionaried INT64 in v1 pages;
  // DELTA_BINARY_PACKED is the v2 writer's encoding
  test("every data file MedsIO writes stores time as INT64 TIMESTAMP(MICROS), delta-encoded") {
    written.foreach { case (layout, root) =>
      val data = footers(root).filter { case (f, _) => f.split('/').contains("data") }
      assert(data.nonEmpty, s"$layout: no data file under $root")
      data.foreach { case (f, footer) =>
        assert(timeType(footer) == (PrimitiveTypeName.INT64 -> medsTime), s"$layout $f")
        footer.getBlocks.asScala.flatMap(_.getColumns.asScala)
          .filter(_.getPath.toDotString == Time).foreach { chunk =>
            val encodings = chunk.getEncodings.asScala
            assert(encodings.contains(Encoding.DELTA_BINARY_PACKED) &&
              !encodings.exists(_.usesDictionary), s"$layout $f: ${encodings.mkString(", ")}")
            assert(chunk.getCodec.name == "ZSTD", s"$layout $f")
          }
      }
    }
    val empty = footers(written.toMap.apply("empty result")).toMap.apply("data/empty.parquet")
    assert(empty.getBlocks.isEmpty && timeType(empty) == (PrimitiveTypeName.INT64 -> medsTime))
  }

  test("metadata/subject_splits.parquet is one file on run and checkpoint roots") {
    val byLayout = written.toMap
    val stageRoots = Files.list(Paths.get(byLayout("checkpoint root"))).iterator.asScala.toSeq
    assert(stageRoots.nonEmpty)
    (Paths.get(byLayout("Main.run output")) +: stageRoots).foreach { r =>
      val splits = r.resolve("metadata/subject_splits.parquet")
      assert(Files.isRegularFile(splits), splits)
      assert(rows(spark.read.parquet(splits.toString)) == rows(fixture.splits), splits)
    }
  }

  test("MedsIO.write and MedsIO.read keep every time exactly: static rows, before 1900, " +
      "after 2038") {
    val micros = Seq[java.lang.Long](null, -2500000000123457L, -1L, 0L, 1600000000123456L,
      4102444800654321L)
    val data = spark.createDataFrame(
      java.util.Arrays.asList(micros.zipWithIndex.map { case (m, i) =>
        Row(i.toLong % 2, m, s"C$i", TrainSplit) }: _*),
      StructType(Seq(StructField(SubjectId, LongType, nullable = false),
        StructField("m", LongType), StructField(Code, StringType, nullable = false),
        StructField(Split, StringType, nullable = false))))
      .withColumn(Time, expr("timestamp_micros(m)")).drop("m")
    val root = tmp("roundtrip")
    MedsIO.write(MedsData(data, empty(codesSchema), empty(splitsSchema)), root)
    val back = MedsIO.read(spark, root).data
    assert(back.schema(Time).dataType == TimestampType)
    val got = back.select(col(Code), expr(s"unix_micros($Time)")).collect()
      .map(r => r.getString(0) -> Option(r.get(1)).map(_.asInstanceOf[Long])).toMap
    assert(got ==
      micros.zipWithIndex.map { case (m, i) => s"C$i" -> Option(m).map(_.longValue) }.toMap)
  }

  test("a session set to INT96 keeps INT96 after MedsIO.write, which writes INT64 micros") {
    val key = "spark.sql.parquet.outputTimestampType"
    def dataFooters(root: String) = footers(root).filter(_._1.startsWith("data/")).map(_._2)
    val before = spark.conf.getAll.get(key)
    try {
      spark.conf.unset(key)
      val unset = tmp("ts_unset")
      MedsIO.write(MedsData(fixture.data, empty(codesSchema), empty(splitsSchema)), unset)
      assert(!spark.conf.getAll.contains(key))
      spark.conf.set(key, "INT96")
      val int96 = tmp("ts_int96")
      MedsIO.write(MedsData(fixture.data, empty(codesSchema), empty(splitsSchema)), int96)
      assert(spark.conf.get(key) == "INT96")
      Seq(unset, int96).foreach { root =>
        val fs = dataFooters(root)
        assert(fs.nonEmpty && fs.forall(timeType(_) == (PrimitiveTypeName.INT64 -> medsTime)), root)
      }
      // the session's own writes still follow the session
      val plain = tmp("ts_plain")
      fixture.data.select(Time).write.mode("overwrite").parquet(plain)
      assert(footers(plain).map(f => timeType(f._2)._1).toSet == Set(PrimitiveTypeName.INT96))
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a fitted codes table is written as one file, with no Spark job") {
    val codes = AggregateCodeMetadata(fixture.data, fixture.codes)
    val root = tmp("fitted")
    val jobs = Collector.measure(spark)(
      MedsIO.write(MedsData(fixture.data, codes, empty(splitsSchema)), root))._2.jobs
    // the jobs are the data write's: one SQL execution
    assert(jobs.nonEmpty && jobs.map(_.execution).distinct.size == 1 &&
      jobs.head.execution.nonEmpty, jobs.mkString("\n"))
    val file = Paths.get(root, "metadata", "codes.parquet")
    assert(Files.isRegularFile(file))
    val back = spark.read.parquet(file.toString)
    assert(back.schema.map(f => f.name -> f.dataType) == codes.schema.map(f => f.name -> f.dataType))
    assert(rows(back) == rows(codes))
    val main = Paths.get(roots.toMap.apply("Main.run output"), "metadata", "codes.parquet")
    assert(Files.isRegularFile(main))
  }
}
