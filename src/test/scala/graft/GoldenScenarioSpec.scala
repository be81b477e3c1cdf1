package graft

import org.apache.spark.sql.functions._
import graft.config.PipelineConfig
import graft.dsl.Cfg
import graft.meds.MedsData
import graft.meds.MedsSchema._
import graft.operators._

/** Row-order-sensitive golden parity against the reference's shipped
  * per-stage scenarios (stages/<stage>/examples/ — cfg translated YAML→JSON
  * verbatim, in/out CSV-in-YAML parsed directly from the reference tree).
  */
class GoldenScenarioSpec extends SparkSpec {

  private def stagesRoot = ReferenceCheckout.path("src/MEDS_transforms/stages")

  test("reorder_measurements golden scenario (stable within-block order)") {
    val dir = s"$stagesRoot/reorder_measurements/examples"
    val data = GoldenScenario.shardedData(spark, s"$dir/in.yaml")
    val patterns = Seq("ADMISSION.*", "TEMP", "HR", "EYE_COLOR//B.*", "HEIGHT", "DISCHARGE.*")
    val out = ReorderMeasurements(data, patterns)
    GoldenScenario.assertShardsEqual(out, s"$dir/out_data.yaml", spark,
      Seq("subject_id", "time", "code", "numeric_value"))
  }

  test("filter_measurements/simple golden scenario") {
    val dir = s"$stagesRoot/filter_measurements/examples/simple"
    val data = GoldenScenario.shardedData(spark, s"$dir/in.yaml")
    val codes = GoldenScenario.metadataTable(spark, s"$dir/in.yaml", "codes").get
    val out = FilterMeasurements(data, codes, minSubjectsPerCode = Some(2))
      .orderBy(col(Shard), col(RowIdx))
    GoldenScenario.assertShardsEqual(out, s"$dir/out_data.yaml", spark,
      Seq("subject_id", "time", "code", "numeric_value"))
  }

  test("occlude_outliers/on_raw_static_data golden scenario") {
    val dir = s"$stagesRoot/occlude_outliers/examples/on_raw_static_data"
    val data = GoldenScenario.shardedData(spark, s"$dir/in.yaml")
    val codes = GoldenScenario.metadataTable(spark, s"$dir/in.yaml", "codes").get
    val out = OccludeOutliers(data, codes, stddevCutoff = 1.0)
      .orderBy(col(Shard), col(RowIdx))
    GoldenScenario.assertShardsEqual(out, s"$dir/out_data.yaml", spark,
      Seq("subject_id", "time", "code", "numeric_value", "numeric_value/is_inlier"))
  }

  test("bin_numeric_values golden scenario (quantile bins, f32 bound rendering)") {
    val dir = s"$stagesRoot/bin_numeric_values/examples"
    val data = GoldenScenario.shardedData(spark, s"$dir/in.yaml")
    def q(a: Double, b: Double, c: Double) = struct(
      lit(a).cast("float").as("values/quantile/0.25"),
      lit(b).cast("float").as("values/quantile/0.5"),
      lit(c).cast("float").as("values/quantile/0.75"))
    // in.yaml's codes metadata is record-form YAML (nested structs); the
    // three value-bearing codes are built directly from its values
    import spark.implicits._
    val codes = Seq("HEIGHT", "HR", "TEMP").toDF(Code)
      .withColumn(ValuesQuantiles,
        when(col(Code) === "HEIGHT", q(160.395311, 164.686884, 164.686884))
          .when(col(Code) === "HR", q(107.5, 112.5, 113.4))
          .otherwise(q(96.2, 99.9, 100.0)))
    val out = BinNumericValues(data, codes,
      codeFormat = "{code}//value_[{left},{right})")
      .orderBy(col(Shard), col(RowIdx))
    GoldenScenario.assertShardsEqual(out, s"$dir/out_data.yaml", spark,
      Seq("subject_id", "time", "code", "numeric_value"))
  }

  test("extract_values golden scenario (multi-match-revise + DSL extraction)") {
    val dir = s"$stagesRoot/extract_values/examples"
    val data = GoldenScenario.shardedData(spark, s"$dir/in.yaml")
    // cfg.yaml translated verbatim to JSON
    val cfg = Cfg.fromJson(
      """{
        |  "_match_revise_mode": "multi_match_and_revise",
        |  "_match_revise": [
        |    {"_matcher": {"code": "BP"},
        |     "numeric_value": {"extract": {"from": "text_value", "regex": "(\\d+)/.*"}},
        |     "code": "{code}//SYSTOLIC",
        |     "text_value": {"literal": null}},
        |    {"_matcher": {"code": "BP"},
        |     "numeric_value": {"extract": {"from": "text_value", "regex": ".*/(\\d+)"}},
        |     "code": "{code}//DIASTOLIC",
        |     "text_value": {"literal": null}},
        |    {"_matcher": {"code": "TEMP", "text_value": {"regex": "^[\\d\\.]+C$"}},
        |     "numeric_value": {"extract": {"from": "text_value", "regex": "^([\\d\\.]+)C$"}},
        |     "code": "{code}//C",
        |     "text_value": {"literal": null}},
        |    {"_matcher": {"code": "TEMP", "text_value": {"regex": "^[\\d\\.]+F$"}},
        |     "numeric_value": {"extract": {"from": "text_value", "regex": "^([\\d\\.]+)F$"}},
        |     "code": "{code}//F",
        |     "text_value": {"literal": null}}
        |  ]
        |}""".stripMargin)
    val stage = PipelineConfig.buildStage("extract_values", "extract_values", cfg)
      .asInstanceOf[Pipeline.DataStage]
    val codes = spark.emptyDataFrame
    val out = stage.f(MedsData(data, codes, codes))
    GoldenScenario.assertShardsEqual(out, s"$dir/out_data.yaml", spark,
      Seq("subject_id", "time", "code", "numeric_value", "text_value"))
  }

  /** The canonical `simple_static_MEDS` dataset (mapreduce/stage.py:64-168,
    * the default input the reference's scenario harness injects) as shipped
    * CSV — the custom_bins_fp scenario embeds it verbatim. NOTE: the older
    * reference checkout's example/data tree is a DIFFERENT fixture (code `DOB`
    * instead of `MEDS_BIRTH`).
    */
  private def simpleStaticData = GoldenScenario.shardedData(spark,
    s"$stagesRoot/bin_numeric_values/examples/custom_bins_fp/in.yaml")

  test("add_time_derived_measurements/on_raw_static_data golden scenario " +
      "(sequential splice order, TIMELINE//END last, y→years unit)") {
    val dir = s"$stagesRoot/add_time_derived_measurements/examples/on_raw_static_data"
    import AddTimeDerivedMeasurements._
    val out = AddTimeDerivedMeasurements(simpleStaticData,
      age = Some(AgeCfg("MEDS_BIRTH", "AGE", "years")),
      timeOfDay = Some(TimeOfDayCfg(Seq(6, 12, 18, 24))),
      timelineTokens = Some(TimelineCfg("y")))
    GoldenScenario.assertShardsEqual(out, s"$dir/out_data.yaml", spark,
      Seq("subject_id", "time", "code", "numeric_value"))
  }

  test("filter_subjects golden scenario (row-order parity, all shards)") {
    val dir = s"$stagesRoot/filter_subjects/examples"
    val out = FilterSubjects(simpleStaticData, minEventsPerSubject = Some(5))
      .orderBy(col(Shard), col(RowIdx))
    GoldenScenario.assertShardsEqual(out, s"$dir/out_data.yaml", spark,
      Seq("subject_id", "time", "code", "numeric_value"))
  }

  test("filter_measurements/match_revise golden scenario (per-block stage cfg)") {
    val dir = s"$stagesRoot/filter_measurements/examples/match_revise"
    val data = GoldenScenario.shardedData(spark, s"$dir/in.yaml")
    val codes = GoldenScenario.metadataTable(spark, s"$dir/in.yaml", "codes").get
    val blocks = Seq(
      MatchRevise.Block(Cfg.fromJson("""{"time": {"present": false}}"""), identity),
      MatchRevise.Block(Cfg.fromJson(
        """{"code": {"regex": "MEDS_DEATH.*|MEDS_BIRTH.*|.*ADMISSION.*|.*DISCHARGE.*"}}"""),
        identity),
      MatchRevise.Block(Cfg.fromJson("""{"time": {"present": true}}"""),
        df => FilterMeasurements(df, codes, minOccurrencesPerCode = Some(10))))
    val out = MatchRevise(data, blocks)
    GoldenScenario.assertShardsEqual(out, s"$dir/out_data.yaml", spark,
      Seq("subject_id", "time", "code", "numeric_value"))
  }

  test("bin_numeric_values/custom_bins_fp golden scenario (custom bins override quantiles)") {
    val dir = s"$stagesRoot/bin_numeric_values/examples/custom_bins_fp"
    val data = GoldenScenario.shardedData(spark, s"$dir/in.yaml")
    def q(a: Double, b: Double, c: Double) = struct(
      lit(a).cast("float").as("values/quantile/0.25"),
      lit(b).cast("float").as("values/quantile/0.5"),
      lit(c).cast("float").as("values/quantile/0.75"))
    import spark.implicits._
    val codes = Seq("HEIGHT", "HR", "TEMP").toDF(Code)
      .withColumn(ValuesQuantiles,
        when(col(Code) === "HEIGHT", q(160.395311, 164.686884, 164.686884))
          .when(col(Code) === "HR", q(107.5, 112.5, 113.4))
          .otherwise(q(96.2, 99.9, 100.0)))
    val out = BinNumericValues(data, codes,
      customBins = Map("HEIGHT" -> Seq(160.0, 165.0)),
      codeFormat = "{code}//value_[{left},{right})")
      .orderBy(col(Shard), col(RowIdx))
    GoldenScenario.assertShardsEqual(out, s"$dir/out_data.yaml", spark,
      Seq("subject_id", "time", "code", "numeric_value"))
  }

  test("aggregate_code_metadata/in_example_pipeline/fit_outlier_detection golden scenario") {
    val dir = s"$stagesRoot/aggregate_code_metadata/examples/in_example_pipeline/fit_outlier_detection"
    val data = GoldenScenario.shardedData(spark, s"$dir/in.yaml")
      .filter(col(Shard).startsWith("train/")) // metadata stages are train-only
    val prior = GoldenScenario.metadataTable(spark, s"$dir/in.yaml", "codes").get
    val agg = AggregateCodeMetadata.compute(data,
      Seq(ValuesNOccurrences, ValuesSum, ValuesSumSqd))
    val merged = AggregateCodeMetadata.joinAndReplace(agg, prior, Seq(Code))
    GoldenScenario.assertMetadataEquals(merged, s"$dir/out_metadata.yaml", spark)
  }

  test("aggregate_code_metadata/in_example_pipeline/fit_normalization golden scenario") {
    val dir = s"$stagesRoot/aggregate_code_metadata/examples/in_example_pipeline/fit_normalization"
    val data = GoldenScenario.shardedData(spark, s"$dir/in.yaml")
      .filter(col(Shard).startsWith("train/"))
    val prior = GoldenScenario.metadataTable(spark, s"$dir/in.yaml", "codes").get
    val agg = AggregateCodeMetadata.compute(data,
      Seq(CodeNOccurrences, CodeNSubjects, ValuesNOccurrences, ValuesSum, ValuesSumSqd))
    val merged = AggregateCodeMetadata.joinAndReplace(agg, prior, Seq(Code))
    GoldenScenario.assertMetadataEquals(merged, s"$dir/out_metadata.yaml", spark)
  }

  test("add_time_derived_measurements/in_example_pipeline golden scenario (age + time_of_day)") {
    val dir = s"$stagesRoot/add_time_derived_measurements/examples/in_example_pipeline"
    val data = GoldenScenario.shardedData(spark, s"$dir/in.yaml")
    import AddTimeDerivedMeasurements._
    val out = AddTimeDerivedMeasurements(data,
      age = Some(AgeCfg("MEDS_BIRTH", "AGE", "years")),
      timeOfDay = Some(TimeOfDayCfg(Seq(6, 12, 18, 24))))
    GoldenScenario.assertShardsEqual(out, s"$dir/out_data.yaml", spark,
      Seq("subject_id", "time", "code", "numeric_value"))
  }

  test("aggregate_code_metadata/with_not_split_defined_shards golden scenario " +
      "(all 10 aggs, nearest quantiles, all-codes row, flat shard layout)") {
    val dir = s"$stagesRoot/aggregate_code_metadata/examples/with_not_split_defined_shards"
    val all = GoldenScenario.shardedData(spark, s"$dir/in.yaml")
    val prior = GoldenScenario.metadataTable(spark, s"$dir/in.yaml", "codes").get
    // no split dirs → train-only comes from the subject_splits table via the
    // semi-join fallback (read_and_filter_fntr over splits, read_fn.py:22-86)
    val splits = GoldenScenario.metadataTable(spark, s"$dir/in.yaml", "subject_splits").get
    val data = Pipeline.trainOnly(MedsData(all, prior, splits)).data
    val computed = AggregateCodeMetadata.compute(data,
      AggregateCodeMetadata.AllAggregations, Seq(0.25, 0.5, 0.75),
      summarizeOverAllCodes = true)
    val merged = AggregateCodeMetadata.joinAndReplace(computed, prior, Seq(Code))
      // real codes.parquet stores parent_codes as list[str]; the CSV fixture
      // loads it as a scalar string — lift to the contract type for compare
      .withColumn("parent_codes",
        when(col("parent_codes").isNotNull, array(col("parent_codes"))))
    GoldenScenario.assertRecordMetadataEquals(merged, s"$dir/out_metadata.yaml")
  }

  test("aggregate_code_metadata/on_raw_static_data golden scenario " +
      "(train-only via split dirs, full agg set)") {
    val dir = s"$stagesRoot/aggregate_code_metadata/examples/on_raw_static_data"
    val data = simpleStaticData.filter(col(Shard).startsWith("train/"))
    val prior = GoldenScenario.metadataTable(spark,
      s"$stagesRoot/aggregate_code_metadata/examples/with_not_split_defined_shards/in.yaml",
      "codes").get // the canonical metadata/codes.parquet of the default dataset
    val computed = AggregateCodeMetadata.compute(data,
      AggregateCodeMetadata.AllAggregations, Seq(0.25, 0.5, 0.75),
      summarizeOverAllCodes = true)
    val merged = AggregateCodeMetadata.joinAndReplace(computed, prior, Seq(Code))
      .withColumn("parent_codes",
        when(col("parent_codes").isNotNull, array(col("parent_codes"))))
    GoldenScenario.assertRecordMetadataEquals(merged, s"$dir/out_metadata.yaml")
  }

  test("occlude_outliers/in_example_pipeline golden scenario (stats from prior agg stage)") {
    val dir = s"$stagesRoot/occlude_outliers/examples/in_example_pipeline"
    val data = GoldenScenario.shardedData(spark, s"$dir/in.yaml")
    val codes = GoldenScenario.metadataTable(spark, s"$dir/in.yaml", "codes").get
    val out = OccludeOutliers(data, codes, stddevCutoff = 1.0)
      .orderBy(col(Shard), col(RowIdx))
    GoldenScenario.assertShardsEqual(out, s"$dir/out_data.yaml", spark,
      Seq("subject_id", "time", "code", "numeric_value", "numeric_value/is_inlier"))
  }

  /** Every scenario shipped with a registered reference stage must be ported
    * here — the reference discovers its example dirs recursively
    * (stages/base.py:721-746, tests/test_registered_stages.py:14-15), so a
    * reference upgrade that ADDS a scenario has to fail this walk instead of
    * passing silently without a port.
    */
  test("every reference example scenario is ported (recursive discovery)") {
    val ported = Set(
      "add_time_derived_measurements/examples/in_example_pipeline",
      "add_time_derived_measurements/examples/on_raw_static_data",
      "aggregate_code_metadata/examples/in_example_pipeline/fit_normalization",
      "aggregate_code_metadata/examples/in_example_pipeline/fit_outlier_detection",
      "aggregate_code_metadata/examples/on_raw_static_data",
      "aggregate_code_metadata/examples/with_not_split_defined_shards",
      "bin_numeric_values/examples",
      "bin_numeric_values/examples/custom_bins_fp",
      "extract_values/examples",
      "filter_measurements/examples/match_revise",
      "filter_measurements/examples/simple",
      "filter_subjects/examples",
      "fit_vocabulary_indices/examples/in_example_pipeline",
      "fit_vocabulary_indices/examples/on_raw_static_data",
      "normalization/examples/in_example_pipeline",
      "normalization/examples/on_raw_static_data",
      "occlude_outliers/examples/in_example_pipeline",
      "occlude_outliers/examples/on_raw_static_data",
      "reorder_measurements/examples",
      "reshard_to_split/examples")
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(stagesRoot)
    val walk = java.nio.file.Files.walk(root)
    val discovered =
      try walk.iterator().asScala
        .filter(p => p.getFileName.toString == "out_data.yaml" ||
          p.getFileName.toString == "out_metadata.yaml")
        .map(p => root.relativize(p.getParent).toString)
        .toSet
      finally walk.close()
    val unported = discovered -- ported
    assert(unported.isEmpty,
      s"reference scenarios with no ported golden test: ${unported.toSeq.sorted.mkString(", ")}")
    val gone = ported -- discovered
    assert(gone.isEmpty,
      s"ported scenarios no longer in the reference: ${gone.toSeq.sorted.mkString(", ")}")
  }
}
