package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import graft.meds.{MedsIO, MedsSchema}
import graft.meds.MedsSchema._
import graft.operators._

/** Golden parity against the reference's own shipped example dataset
  * (the reference checkout's example/data — the `simple_static_MEDS`
  * fixture used by its stage scenarios; see FIXTURES.md §4-5). Expectations
  * in the four value goldens that read `meds` are the reference's published
  * golden outputs (e.g. filter_subjects/examples/out_data.yaml keeps exactly
  * subjects 239684, 1195293, 1500733).
  *
  * Six tests need only a valid MEDS root and read the in-repo MedsFixture
  * (`fixture`) instead: "train-only metadata stage sees only train-split
  * subjects", "end-to-end pipeline: agg → fit vocab → normalize on example
  * data", "bucketed layout: subject-keyed join and aggregation plan without
  * shuffle", "dataset.json and .shards.json round-trip", "MedsIO write/read
  * roundtrip preserves data and layout" and "MedsIO.write skips
  * statically-empty metadata tables and still round-trips".
  */
class GoldenSpec extends SparkSpec {

  private lazy val meds = MedsIO.read(spark, ReferenceCheckout.exampleData)
  private lazy val fixture = MedsIO.read(spark, MedsFixture.root)

  test("reads the MEDS layout with shard/split provenance") {
    assert(meds.data.count() == 62)
    val shards = meds.data.select(Shard).distinct().collect().map(_.getString(0)).toSet
    assert(shards == Set("train/0", "train/1", "tuning/0", "held_out/0"))
    assert(meds.splits.count() == 6)
    assert(meds.codes.columns.contains("description"))
  }

  test("filter_subjects golden: min_events_per_subject=5 keeps 3 subjects, 41 rows") {
    val out = FilterSubjects(meds.data, minEventsPerSubject = Some(5))
    val kept = out.select(SubjectId).distinct().collect().map(_.getLong(0)).toSet
    assert(kept == Set(239684L, 1195293L, 1500733L))
    assert(out.count() == 41)
  }

  test("aggregate_code_metadata over the example data matches hand-checked stats") {
    val m = AggregateCodeMetadata.compute(meds.data,
      Seq(CodeNSubjects, CodeNOccurrences, ValuesNOccurrences))
      .collect().map(r => r.getAs[String](Code) ->
        (r.getAs[Long](CodeNSubjects), r.getAs[Long](CodeNOccurrences))).toMap
    assert(m("DOB") == (6L, 6L)) // every subject has one birth row
    assert(m("EYE_COLOR//BROWN")._1 + m("EYE_COLOR//BLUE")._1 + m("EYE_COLOR//HAZEL")._1 == 6L)
  }

  test("train-only metadata stage sees only train-split subjects") {
    val meds = fixture
    val trainData = Pipeline.trainOnly(graft.meds.MedsData(meds.data.drop(Split), meds.codes, meds.splits)).data
    assert(trainData.select(SubjectId).distinct().count() == 4)
  }

  test("end-to-end pipeline: agg → fit vocab → normalize on example data") {
    val meds = fixture
    val out = Pipeline.run(spark, meds, Seq(
      Pipeline.MetadataStage("agg", m =>
        AggregateCodeMetadata(m.data, m.codes,
          Seq(CodeNOccurrences, ValuesNOccurrences, ValuesSum, ValuesSumSqd))),
      Pipeline.MetadataStage("vocab", m => FitVocabularyIndices(m.codes)),
      Pipeline.DataStage("normalize", m =>
        Normalization(MedsIO.withRowIdx(m.data), m.codes, valueType = DoubleType))))
    // vocabulary fitted on train only; normalization inner-join keeps rows
    // whose codes exist in train metadata
    assert(out.codes.columns.contains(VocabIndex))
    assert(out.data.count() > 0)
    assert(out.data.schema(Code).dataType != org.apache.spark.sql.types.StringType)
  }

  test("aggregate_code_metadata golden: on_raw_static_data (train-only, all-codes row, nearest quantiles)") {
    // reference: stages/aggregate_code_metadata/examples/on_raw_static_data/
    // {cfg,out_metadata}.yaml — all 10 aggregations + do_summarize_over_all_codes
    val trainData = Pipeline.trainOnly(meds).data
    val m = AggregateCodeMetadata.compute(trainData,
      AggregateCodeMetadata.AllAggregations, Seq(0.25, 0.5, 0.75),
      summarizeOverAllCodes = true)
      .collect().map(r => Option(r.getAs[String](Code)).getOrElse("__ALL__") -> r).toMap

    val hr = m("HR")
    assert(hr.getAs[Long](CodeNOccurrences) == 12)
    assert(hr.getAs[Long](CodeNSubjects) == 4)
    assert(hr.getAs[Long](ValuesNInts) == 2)
    assert(math.abs(hr.getAs[Double](ValuesSum) - 1360.5) < 1e-2)
    assert(math.abs(hr.getAs[Double](ValuesSumSqd) - 158538.77) < 1.0)
    val hrQ = hr.getAs[org.apache.spark.sql.Row](ValuesQuantiles)
    assert(math.abs(hrQ.getDouble(0) - 107.5) < 1e-3) // Polars "nearest" values
    assert(math.abs(hrQ.getDouble(1) - 112.5) < 1e-3)
    assert(math.abs(hrQ.getDouble(2) - 113.4) < 1e-3)

    val all = m("__ALL__") // do_summarize_over_all_codes row (code = null)
    assert(all.getAs[Long](CodeNOccurrences) == 44)
    assert(all.getAs[Long](CodeNSubjects) == 4)
    assert(all.getAs[Long](ValuesNOccurrences) == 28)
    assert(math.abs(all.getAs[Double](ValuesSum) - 3198.8389) < 1e-2)
    val allQ = all.getAs[org.apache.spark.sql.Row](ValuesQuantiles)
    assert(math.abs(allQ.getDouble(0) - 99.9) < 1e-3)
    assert(math.abs(allQ.getDouble(1) - 105.1) < 1e-3)
    assert(math.abs(allQ.getDouble(2) - 113.4) < 1e-3)

    // codes with no numeric values → null quantile struct, not struct of nulls
    assert(m("ADMISSION//CARDIAC").getAs[Any](ValuesQuantiles) == null)
  }

  test("bucketed layout: subject-keyed join and aggregation plan without shuffle") {
    val meds = fixture
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    Seq("meds_bucketed_a", "meds_bucketed_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = java.nio.file.Paths.get(spark.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:"), t)
      if (java.nio.file.Files.exists(loc)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(loc).iterator.asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
    Seq("meds_bucketed_a", "meds_bucketed_b").foreach(t => BucketedLayout.writeBucketed(
      meds.data.drop(Shard, Split), t, Seq(SubjectId), 4, sortCols = Seq(SubjectId, Time)))
    val a = spark.table("meds_bucketed_a")
    val b = spark.table("meds_bucketed_b").groupBy(SubjectId).count()
    val joined = a.join(b, Seq(SubjectId))
    joined.collect() // force final (AQE) plan
    val plan = joined.queryExecution.executedPlan
    def shuffles(p: org.apache.spark.sql.execution.SparkPlan): Int = {
      val self = p match { case _: ShuffleExchangeExec => 1; case _ => 0 }
      self + p.children.map(shuffles).sum +
        (p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            shuffles(a.executedPlan)
          case _ => 0
        })
    }
    assert(shuffles(plan) == 0, s"expected shuffle-free bucketed join:\n$plan")
  }

  test("dataset.json and .shards.json round-trip") {
    val meds = fixture
    val tmp = java.nio.file.Files.createTempDirectory("meds_meta").toString
    MedsIO.writeDatasetMetadata(tmp, "example", "1.0", Map("etl" -> "graft"))
    assert(MedsIO.readDatasetMetadata(tmp) ==
      Map("dataset_name" -> "example", "dataset_version" -> "1.0", "etl" -> "graft"))
    val resharded = ReshardToSplit(meds.data.drop(Split, Shard), meds.splits, nShards = 2)
    MedsIO.writeShardsJson(resharded, tmp)
    val json = java.nio.file.Files.readString(java.nio.file.Paths.get(tmp, ".shards.json"))
    assert(json.contains("train/0") || json.contains("train/1"))
    assert(json.contains("239684"))
  }

  test("MedsIO write/read roundtrip preserves data and layout") {
    val meds = fixture
    val tmp = java.nio.file.Files.createTempDirectory("meds_rt").toString
    val sorted = meds.data
    MedsIO.write(graft.meds.MedsData(sorted, meds.codes, meds.splits), tmp)
    val back = MedsIO.read(spark, tmp)
    assert(back.data.count() == 62)
    assert(back.codes.count() == meds.codes.count())
    // per-subject event content survives
    val before = meds.data.groupBy(SubjectId).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val after = back.data.groupBy(SubjectId).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(before == after)
    // the split column round-trips with its VALUES intact (not "split=train"),
    // and the on-disk layout is the reference's data/<split>/, not Hive's
    val beforeSplits = meds.data.select(Split).distinct().collect()
      .map(_.getString(0)).toSet
    val afterSplits = back.data.select(Split).distinct().collect()
      .map(_.getString(0)).toSet
    assert(afterSplits == beforeSplits, s"splits corrupted: $afterSplits")
    val dataDirs = new java.io.File(s"$tmp/data").listFiles().filter(_.isDirectory)
      .map(_.getName).toSet
    assert(dataDirs == beforeSplits, s"expected reference layout dirs, got $dataDirs")
    // train-only filtering over a round-tripped root still selects rows
    assert(back.data.filter(col(Split) === "train").count() > 0)
  }

  test("MedsIO.write skips statically-empty metadata tables and still round-trips") {
    val meds = fixture
    def empty(schema: org.apache.spark.sql.types.StructType) =
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val tmp = java.nio.file.Files.createTempDirectory("meds_empty_meta").toString
    // first write: REAL metadata lands on disk
    MedsIO.write(graft.meds.MedsData(meds.data, meds.codes, meds.splits), tmp)
    assert(new java.io.File(s"$tmp/metadata/codes.parquet").exists())
    // second write to the SAME root with statically-empty metadata: no
    // Spark write job, but the canonical file SET stays on disk (ADVICE r17
    // medium: MEDS consumers read metadata/codes.parquet unguarded) — a
    // driver-written footer-only FILE replaces the stale non-empty one,
    // and read() must see the canonical empty frames, not the old rows
    MedsIO.write(graft.meds.MedsData(meds.data,
      empty(MedsSchema.codesSchema), empty(MedsSchema.splitsSchema)), tmp)
    val codesFile = new java.io.File(s"$tmp/metadata/codes.parquet")
    assert(codesFile.isFile,
      "empty metadata must land as a single driver-written parquet FILE")
    assert(new java.io.File(s"$tmp/metadata/subject_splits.parquet").isFile)
    // read() returns the canonical empty frames, nullability included
    val back = MedsIO.read(spark, tmp)
    assert(back.codes.schema == MedsSchema.codesSchema && back.codes.count() == 0)
    assert(back.splits.schema == MedsSchema.splitsSchema && back.splits.count() == 0)
    // the empty file must also be readable WITHOUT the Spark footer key
    // (reference/polars convention: schema from the parquet footer itself);
    // a raw parquet read may relax nullability, so names and types only
    val raw = spark.read.parquet(codesFile.toString)
    assert(raw.count() == 0)
    assert(raw.schema.map(f => f.name -> f.dataType) ==
      MedsSchema.codesSchema.map(f => f.name -> f.dataType))
    // an empty frame at a NON-canonical schema is NOT skippable — its
    // schema must survive the round-trip exactly
    val odd = empty(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("weird", DoubleType))))
    MedsIO.write(graft.meds.MedsData(meds.data, odd, meds.splits), tmp)
    val back2 = MedsIO.read(spark, tmp)
    assert(back2.codes.schema.fieldNames.toSeq == Seq("weird"))
  }
}
