package graft

import org.apache.spark.sql.functions._
import graft.config.PipelineConfig
import graft.meds.MedsIO
import graft.meds.MedsSchema._
import graft.operators.Pipeline

/** Runs the reference's 7-stage end-to-end test pipeline
  * (tests/test_pipeline.py PIPELINE_YAML, translated to JSON) through the
  * config-driven builder, plus the builder's orchestration contracts
  * (match-revise, train_only, CLI checkpoints and resume, `conf:` blocks,
  * per-stage `checkpoint: false`), over the in-repo MedsFixture root.
  */
class PipelineConfigSpec extends SparkSpec {

  private val pipelineJson =
    """{
      |  "description": "the reference's end-to-end test pipeline",
      |  "stages": [
      |    {"filter_subjects": {"min_events_per_subject": 5}},
      |    {"add_time_derived_measurements": {
      |       "age": {"DOB_code": "DOB", "age_code": "AGE", "age_unit": "years"},
      |       "time_of_day": {"time_of_day_code": "TIME_OF_DAY", "endpoints": [6, 12, 18, 24]}}},
      |    {"fit_outlier_detection": {
      |       "_base_stage": "aggregate_code_metadata",
      |       "aggregations": ["values/n_occurrences", "values/sum", "values/sum_sqd"]}},
      |    {"occlude_outliers": {"stddev_cutoff": 1}},
      |    {"fit_normalization": {
      |       "_base_stage": "aggregate_code_metadata",
      |       "aggregations": ["code/n_occurrences", "code/n_subjects",
      |                        "values/n_occurrences", "values/sum", "values/sum_sqd"]}},
      |    "fit_vocabulary_indices",
      |    "normalization"
      |  ]
      |}""".stripMargin

  test("reference 7-stage pipeline runs end-to-end from config") {
    val parsed = PipelineConfig.fromJson(pipelineJson)
    assert(parsed.stages.map(_.name) == Seq("filter_subjects",
      "add_time_derived_measurements", "fit_outlier_detection", "occlude_outliers",
      "fit_normalization", "fit_vocabulary_indices", "normalization"))

    val meds = MedsIO.read(spark, MedsFixture.root)
    val out = Pipeline.run(spark, meds, parsed.stages)

    // normalization replaced string codes with integral vocab indices
    assert(!out.data.schema(Code).dataType.typeName.contains("string"))
    // derived AGE / TIME_OF_DAY codes made it into the fitted vocabulary
    val vocab = out.codes.select(Code).collect().map(_.getString(0)).toSet
    assert(vocab.contains("AGE"))
    assert(vocab.exists(_.startsWith("TIME_OF_DAY//")))
    // only subjects with >= 5 events survive stage 1
    val subjects = out.data.select(SubjectId).distinct().collect().map(_.getLong(0)).toSet
    assert(subjects.subsetOf(Set(239684L, 1195293L, 1500733L)))
    // z-scored values are standardized: mean ~ 0 (zero-variance codes give
    // NaN, faithful to the reference's (v-mean)/0 arithmetic — excluded)
    val trainVals = out.data.filter(col(NumericValue).isNotNull && !isnan(col(NumericValue)))
      .agg(avg(col(NumericValue))).head().getDouble(0)
    assert(math.abs(trainVals) < 2.0)
    assert(out.data.count() > 60) // original rows + derived events
  }

  test("match-revise config rewrites per-matcher blocks") {
    val json =
      """{"stages": [
        |  {"extract_values": {
        |     "_match_revise": [
        |       {"_matcher": {"code": "HR"}, "categorical_value": {"literal": "high"}},
        |       {"_matcher": {"code": "TEMP"}, "categorical_value": {"literal": "temp"}}
        |     ]}}
        |]}""".stripMargin
    val meds = MedsIO.read(spark, MedsFixture.root)
    val out = Pipeline.run(spark, meds, PipelineConfig.fromJson(json).stages)
    val got = out.data.filter(col("categorical_value").isNotNull)
      .select(Code, "categorical_value").distinct().collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("HR" -> "high", "TEMP" -> "temp"))
  }

  test("data stage with train_only override sees only train-split rows") {
    val json =
      """{"stages": [{"filter_subjects": {"min_events_per_subject": 1, "train_only": true}}]}"""
    val meds = MedsIO.read(spark, MedsFixture.root)
    val out = Pipeline.run(spark, meds, PipelineConfig.fromJson(json).stages)
    val splits = out.data.select(Split).distinct().collect().map(_.getString(0)).toSet
    assert(splits == Set("train"))
  }

  test("CLI end-to-end: pipeline JSON over a MEDS root with checkpoints, then resume") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli").toString
    val pipelineJson = s"$tmp/pipeline.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(pipelineJson),
      """{"stages": [
        |  {"filter_subjects": {"min_events_per_subject": 5}},
        |  {"fit_outlier_detection": {"_base_stage": "aggregate_code_metadata",
        |     "aggregations": ["values/n_occurrences", "values/sum", "values/sum_sqd"]}}
        |]}""".stripMargin)
    val args = Array(pipelineJson, MedsFixture.root, s"$tmp/out", s"$tmp/ckpt")
    Main.run(args, spark)
    assert(Pipeline.isComplete(spark, s"$tmp/out"))
    val out = MedsIO.read(spark, s"$tmp/out")
    assert(out.data.count() == 41) // filter_subjects golden: 3 subjects, 41 rows
    assert(out.codes.columns.contains("values/sum"))
    assert(Pipeline.isComplete(spark, s"$tmp/ckpt/00_filter_subjects"))
    // second invocation resumes from the completed checkpoints and re-writes
    Main.run(args, spark)
    assert(MedsIO.read(spark, s"$tmp/out").data.count() == 41)
  }

  test("trainOnly: flat layout (empty path split) falls back to the splits table") {
    import spark.implicits._
    // a root with data files directly under data/ derives split = "" per row
    val data = Seq((1L, "HR", ""), (2L, "HR", ""), (3L, "HR", ""))
      .toDF("subject_id", "code", Split)
    val splits = Seq((1L, "train"), (2L, "tuning"), (3L, "held_out"))
      .toDF("subject_id", Split)
    val m = graft.meds.MedsData(data, spark.emptyDataFrame, splits)
    val kept = Pipeline.trainOnly(m).data.select("subject_id").collect().map(_.getLong(0))
    assert(kept.toSeq == Seq(1L)) // NOT silently empty
    // and a path-derived split still wins over the table
    val pathData = Seq((1L, "HR", "held_out"), (2L, "HR", "train"))
      .toDF("subject_id", "code", Split)
    val kept2 = Pipeline.trainOnly(graft.meds.MedsData(pathData, spark.emptyDataFrame, splits))
      .data.select("subject_id").collect().map(_.getLong(0))
    assert(kept2.toSeq == Seq(2L))
  }

  test("pipeline resume skips completed checkpointed stages (.done analog)") {
    val meds = MedsIO.read(spark, MedsFixture.root)
    val tmp = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val stage = Pipeline.DataStage("fs",
      m => graft.operators.FilterSubjects(m.data, minEventsPerSubject = Some(5)))
    val out1 = Pipeline.run(spark, meds, Seq(stage), Map("fs" -> s"$tmp/fs"))
    val n = out1.data.count()
    assert(Pipeline.isComplete(spark, s"$tmp/fs"))
    // a second run must NOT execute the stage: this one throws if it does
    val bomb = Pipeline.DataStage("fs",
      _ => throw new RuntimeException("stage re-executed despite completed checkpoint"))
    val out2 = Pipeline.run(spark, meds, Seq(bomb), Map("fs" -> s"$tmp/fs"))
    assert(out2.data.count() == n)
  }

  test("per-pipeline `conf:` block applies during the run and restores after") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    assert(before != "7")
    // probe stage captures the conf value observed DURING the run — wired
    // through the same third-party registration point any package uses
    @volatile var observed: String = null
    graft.config.PipelineConfig.register("conf_probe") { (name, _) =>
      Pipeline.DataStage(name, m => {
        observed = m.data.sparkSession.conf.get(key); m.data })
    }
    val parsed = graft.config.PipelineConfig.fromYaml(
      """conf:
        |  spark.sql.shuffle.partitions: 7
        |stages:
        |  - conf_probe
        |""".stripMargin)
    assert(parsed.conf == Seq("spark.sql.shuffle.partitions" -> "7"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_conf").toString
    val meds = MedsIO.read(spark, MedsFixture.root)
    MedsIO.write(meds, s"$tmp/in")
    Main.run(Array(writeYaml(tmp,
      """conf:
        |  spark.sql.shuffle.partitions: 7
        |stages:
        |  - conf_probe
        |""".stripMargin), s"$tmp/in", s"$tmp/out"), spark)
    assert(observed == "7")
    assert(spark.conf.get(key) == before)
    // a failing run must still restore
    graft.config.PipelineConfig.register("conf_bomb") { (name, _) =>
      Pipeline.DataStage(name, _ => throw new RuntimeException("boom")) }
    intercept[RuntimeException] {
      Main.run(Array(writeYaml(tmp,
        """conf:
          |  spark.sql.shuffle.partitions: 7
          |stages:
          |  - conf_bomb
          |""".stripMargin), s"$tmp/in", s"$tmp/out2"), spark)
    }
    assert(spark.conf.get(key) == before)
    // a key the session never explicitly set must come back UNSET (not
    // pinned to its current default): conf.get resolves defaulted keys, so
    // a naive save/restore would freeze the default as an explicit setting
    val defaulted = "spark.sql.parquet.filterPushdown"
    assert(!spark.conf.getAll.contains(defaulted))
    Main.run(Array(writeYaml(tmp,
      s"""conf:
         |  $defaulted: "false"
         |stages:
         |  - conf_probe
         |""".stripMargin), s"$tmp/in", s"$tmp/out3"), spark)
    assert(!spark.conf.getAll.contains(defaulted),
      "defaulted key was pinned as explicit by the post-run restore")
    assert(spark.conf.get(defaulted) == "true")
    graft.config.PipelineConfig.unregister("conf_probe")
    graft.config.PipelineConfig.unregister("conf_bomb")
  }

  test("per-stage `checkpoint: false` skips materialization under a checkpointRoot") {
    val parsed = graft.config.PipelineConfig.fromYaml(
      """stages:
        |  - filter_measurements:
        |      checkpoint: false
        |  - reorder_measurements:
        |      ordered_code_patterns: ["A.*"]
        |""".stripMargin)
    assert(parsed.noCheckpoint == Set("filter_measurements"))
    // the flag is config plumbing only — the built stage must not see it
    assert(parsed.stages.map(_.name) ==
      Seq("filter_measurements", "reorder_measurements"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_nockpt").toString
    val meds = MedsIO.read(spark, MedsFixture.root)
    MedsIO.write(meds, s"$tmp/in")
    Main.run(Array(writeYaml(tmp,
      """stages:
        |  - filter_measurements:
        |      checkpoint: false
        |  - reorder_measurements:
        |      ordered_code_patterns: ["DOB"]
        |""".stripMargin), s"$tmp/in", s"$tmp/out", s"$tmp/ckpt"), spark)
    val ckpts = new java.io.File(s"$tmp/ckpt").list()
    assert(ckpts != null && ckpts.toSet == Set("01_reorder_measurements"),
      s"only the checkpoint-eligible stage materializes, got ${Option(ckpts).map(_.toSeq)}")
    assert(!MedsIO.read(spark, s"$tmp/out").data.isEmpty)
    // a malformed flag fails loudly at parse time
    intercept[IllegalArgumentException] {
      graft.config.PipelineConfig.fromYaml(
        """stages:
          |  - filter_measurements:
          |      checkpoint: "nope"
          |""".stripMargin)
    }
  }

  private def writeYaml(tmp: String, yaml: String): String = {
    val p = java.nio.file.Files.createTempFile(
      java.nio.file.Paths.get(tmp), "pipe", ".yaml")
    java.nio.file.Files.writeString(p, yaml)
    p.toString
  }
}
