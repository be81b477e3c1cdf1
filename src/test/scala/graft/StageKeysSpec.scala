package graft

import graft.config.{PipelineConfig, Yaml}
import graft.dsl.Cfg
import graft.obs.Collector

import java.nio.file.{Files, Paths}

/** The config-key contract: `PipelineConfig.buildStage` fails on every stage
  * key its builder did not read, at parse time, nested maps included, and
  * `fromCfg` does the same for the pipeline's top-level keys. A missing
  * required key, a mistyped scalar, list or list element fails there too,
  * naming the stage and the key's path.
  */
class StageKeysSpec extends SparkSpec {

  /** A minimal valid config per registered stage: its required keys only. */
  private val minimal: Map[String, String] = Map(
    "add_time_derived_measurements" -> "{time_of_day: {endpoints: [6]}}",
    "aggregate_code_metadata" -> "{}",
    "asof_join" -> "{keys: [k], right_path: /x, left_time: t, right_time: t, value_cols: [v]}",
    "bin_numeric_values" -> "{}",
    "bpe_encode" -> "{}",
    "bpe_train" -> "{model_path: /x}",
    "c4_filter" -> "{}",
    "chunk_documents" -> "{window: 8}",
    "corpus_stats" -> "{}",
    "decontaminate" -> "{eval_path: /x}",
    "dedup_against" -> "{ref_path: /x}",
    "dedup_exact" -> "{}",
    "dedup_fingerprint" -> "{}",
    "dedup_lines" -> "{}",
    "expect_rows" -> "{expect: k > 0}",
    "expect_schema" -> "{schema: k BIGINT}",
    "extract_values" -> "{out: code}",
    "filter_measurements" -> "{}",
    "filter_rows" -> "{predicate: k > 0}",
    "filter_subjects" -> "{}",
    "fit_vocabulary_indices" -> "{}",
    "generate_subject_splits" -> "{}",
    "join_table" -> "{path: /x, keys: [k]}",
    "js_divergence" -> "{}",
    "json_extract" -> "{json_col: j, schema: k BIGINT}",
    "lang_id" -> "{}",
    "lm_perplexity" -> "{}",
    "load_csv" -> "{path: /x}",
    "load_jsonl" -> "{path: /x}",
    "load_orc" -> "{path: /x}",
    "minhash_lsh_dedup" -> "{}",
    "nb_classify" -> "{}",
    "nb_eval" -> "{train_path: /x}",
    "ngram_jaccard_dedup" -> "{}",
    "normalization" -> "{}",
    "normalize_text" -> "{}",
    "occlude_outliers" -> "{}",
    "pack_sequences" -> "{capacity: 16}",
    "ppl_buckets" -> "{}",
    "quality_filter" -> "{min_words: 1}",
    "remove_dup_spans" -> "{}",
    "reorder_measurements" -> "{}",
    "resample_mix" -> "{stratum_col: s, rates: {a: 1}}",
    "reshard_to_split" -> "{}",
    "rolling_agg" -> "{keys: [k], time_col: t, range: 10, count_as: n}",
    "sample" -> "{fraction: 0.5}",
    "sample_split" -> "{splits: {a: 1}}",
    "shuffle_rows" -> "{}",
    "simhash_dedup" -> "{}",
    "stratified_cap" -> "{stratum_col: s, per_stratum: 2}",
    "temperature_mix" -> "{stratum_col: s, alpha: 0.5}",
    "text_entropy" -> "{}",
    "text_quality" -> "{}",
    "text_repetition" -> "{}",
    "text_tokens" -> "{}",
    "tf_idf" -> "{}",
    "token_budget_cap" -> "{budget_tokens: 100}",
    "winnow_fingerprint" -> "{}",
    "write_csv" -> "{path: /x}",
    "write_jsonl" -> "{path: /x}",
    "write_orc" -> "{path: /x}")

  /** Stages whose top-level keys are data, with the reason. */
  private val exempt = Map(
    "extract_values" -> "every top-level key names an output code")

  private def map(yaml: String): Cfg.M = Yaml.parse(yaml).asInstanceOf[Cfg.M]

  private def build(stage: String, cfg: Cfg): Unit =
    PipelineConfig.buildStage(stage, stage, cfg)

  private def buildError(stage: String, cfg: Cfg): String =
    intercept[IllegalArgumentException](build(stage, cfg)).getMessage

  test("the table covers exactly the registered stages, and each entry builds") {
    assert(minimal.keySet == PipelineConfig.registeredStages,
      s"missing: ${PipelineConfig.registeredStages -- minimal.keySet}; " +
        s"stale: ${minimal.keySet -- PipelineConfig.registeredStages}")
    assert(exempt.keySet.subsetOf(minimal.keySet))
    minimal.foreach { case (stage, yaml) => build(stage, map(yaml)) }
  }

  test("every stage rejects an unknown key at build time, naming the stage and the key") {
    val notRejected = minimal.toSeq.sorted.filterNot(e => exempt.contains(e._1)).flatMap {
      case (stage, yaml) =>
        val typo = Cfg.M(map(yaml).v + ("zz_typo" -> Cfg(1)))
        scala.util.Try(build(stage, typo)).failed.toOption match {
          case Some(e: IllegalArgumentException)
              if e.getMessage.contains(s"stage $stage") && e.getMessage.contains("zz_typo") => None
          case other => Some(s"$stage: ${other.fold("built")(_.toString)}")
        }
    }
    assert(notRejected.isEmpty, notRejected.mkString("\n"))
  }

  test("nested maps, aggregation entries and _match_revise blocks are checked too") {
    val tod = buildError("add_time_derived_measurements",
      map("{time_of_day: {endpoints: [6], endpointz: [1]}}"))
    assert(tod.contains("unknown key(s) time_of_day.endpointz"), tod)
    val agg = buildError("aggregate_code_metadata",
      map("{aggregations: [{name: values/quantiles, quantilez: [0.5]}]}"))
    assert(agg.contains("unknown key(s) aggregations[0].quantilez"), agg)
    assert(agg.contains("aggregations[0].quantiles"), agg)
    // the retired quantile-sketch and subject-sketch keys fail closed
    // rather than quietly computing exact values
    Seq("{aggregations: [{name: values/quantiles, algo: sketch}]}" -> "aggregations[0].algo",
      "{aggregations: [{name: values/quantiles, sketch_k: 1024}]}" -> "aggregations[0].sketch_k",
      "{aggregations: [values/sum, {name: code/n_subjects, algo: sketch}]}" ->
        "aggregations[1].algo",
      "{aggregations: [{name: values/n_subjects, lg_k: 16}]}" -> "aggregations[0].lg_k")
      .foreach { case (yaml, key) =>
        val e = buildError("aggregate_code_metadata", map(yaml))
        assert(e.contains(s"stage aggregate_code_metadata: unknown key(s) $key "), e)
      }
    val mr = buildError("occlude_outliers",
      map("{_match_revise: [{_matcher: {code: A}, stddev_cutof: 2}]}"))
    assert(mr.contains("stage occlude_outliers: unknown key(s) stddev_cutof"), mr)
    assert(mr.contains("stddev_cutoff"), mr)
    // the orchestration keys and a matcher's own (data) keys are accepted
    build("occlude_outliers", map("{train_only: true, _match_revise_mode: " +
      "multi_match_and_revise, _match_revise: [{_matcher: {code: {regex: A}}, " +
      "train_only: true, stddev_cutoff: 2}]}"))
  }

  test("an unknown top-level pipeline key fails like a stage key") {
    val e = intercept[IllegalArgumentException](
      PipelineConfig.fromYaml("description: d\nfoo: 1\nstages: [normalization]\n"))
    assert(e.getMessage.contains("pipeline: unknown key(s) foo (read: conf, description, stages)"),
      e.getMessage)
    val over = intercept[IllegalArgumentException](PipelineConfig.fromFile(
      "pkg://graft_testcfg.pipeline.yaml", Seq("foo.bar=1")))
    assert(over.getMessage.contains("unknown key(s) foo"), over.getMessage)
  }

  /** `Main.run(args)`'s failure, asserting that it ran no Spark job. */
  private def runFails(args: String*): IllegalArgumentException = {
    val (res, records) = Collector.measure(spark)(
      scala.util.Try(Main.run(args.toArray, spark)))
    assert(records.jobs.isEmpty, records.jobs.map(_.callSite))
    res.failed.get match { case e: IllegalArgumentException => e }
  }

  test("a typo'd key fails before any Spark job, as an override and in the file") {
    val out = Files.createTempDirectory("graft_stage_keys").toString
    def check(e: IllegalArgumentException): Unit = {
      assert(e.getMessage.contains("stage occlude_outliers: unknown key(s) stddev_cuttoff"),
        e.getMessage)
      assert(e.getMessage.contains("stddev_cutoff"), e.getMessage)
    }
    check(runFails("perfbench/meds_etl.yaml", MedsFixture.root, s"$out/over",
      "stages.occlude_outliers.stddev_cuttoff=3"))
    val typo = Files.readString(Paths.get("perfbench/meds_etl.yaml"))
      .replace("stddev_cutoff: 1", "stddev_cuttoff: 1")
    assert(typo.contains("stddev_cuttoff"))
    Files.writeString(Paths.get(s"$out/typo.yaml"), typo)
    check(runFails(s"$out/typo.yaml", MedsFixture.root, s"$out/file"))
  }

  test("a bad value of a known key fails at build time, naming the stage and the value") {
    val bad = Seq(
      ("aggregate_code_metadata", "{aggregations: [values/summ]}", "values/summ"),
      ("stratified_cap", "{stratum_col: s, per_stratum: 2, algo: windw}", "windw"),
      ("quality_filter", "{}", "threshold rule"),
      ("add_time_derived_measurements", "{}", "no generators"))
    bad.foreach { case (stage, yaml, value) =>
      val e = buildError(stage, map(yaml))
      assert(e.contains(s"stage $stage") && e.contains(value), s"$stage $yaml: $e")
    }
  }

  /** (stage, key) pairs whose absence fails a hand-written conditional or
    * value check ("at least one of ...", "no generators") instead of the
    * required-key read. */
  private val conditional = Set("quality_filter" -> "min_words", "rolling_agg" -> "count_as",
    "add_time_derived_measurements" -> "time_of_day")

  test("dropping any key of a minimal config builds, or fails naming the stage and the key") {
    val wrong = minimal.toSeq.sorted.flatMap { case (stage, yaml) =>
      map(yaml).v.keys.toSeq.flatMap { k =>
        scala.util.Try(build(stage, Cfg.M(map(yaml).v - k))).failed.toOption match {
          case None => None
          case Some(e: IllegalArgumentException)
              if e.getMessage == s"stage $stage: `$k` is required" => None
          case Some(e: IllegalArgumentException) if conditional((stage, k)) &&
              e.getMessage.contains(s"stage $stage: ") && e.getMessage.contains(k) => None
          case Some(e) => Some(s"$stage without $k: $e")
        }
      }
    }
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }

  /** (stage, config, the expected error after `stage <stage>: `). */
  private val mistyped = Seq("aggregate_code_metadata", "filter_measurements",
    "fit_vocabulary_indices", "normalization", "occlude_outliers").flatMap(stage => Seq(
      (stage, "{code_modifiers: unit}", "`code_modifiers` must be a list of strings, got S(unit)"),
      (stage, "{code_modifiers: [unit, 7]}", "`code_modifiers[1]` must be a string, got I(7)"))) ++
    Seq(
      ("add_time_derived_measurements", "{time_of_day: {endpoints: [6, twelve]}}",
        "`time_of_day.endpoints[1]` must be an integer, got S(twelve)"),
      ("add_time_derived_measurements", "{time_of_day: {endpoints: [6.5]}}",
        "`time_of_day.endpoints[0]` must be an integer, got D(6.5)"),
      ("occlude_outliers", "{stddev_cutoff: abc}", "`stddev_cutoff` must be a number, got S(abc)"),
      ("aggregate_code_metadata", "{aggregations: [{name: values/quantiles, quantiles: [0.5, x]}]}",
        "`aggregations[0].quantiles[1]` must be a number, got S(x)"),
      ("aggregate_code_metadata", "{aggregations: values/sum}",
        "`aggregations` must be a list of entries, got S(values/sum)"),
      ("sample_split", "{splits: {a: 1, b: x}}", "`splits.b` must be a number, got S(x)"),
      ("join_table", "{path: /x, keys: k}", "`keys` must be a list of strings, got S(k)"),
      ("join_table", "{path: /x, keys: []}", "`keys` must be a non-empty list"))

  test("a mistyped scalar, list or element fails at build time, naming the stage and the key path") {
    mistyped.foreach { case (stage, yaml, error) =>
      assert(buildError(stage, map(yaml)) == s"stage $stage: $error", yaml)
    }
    // numeric strings and integral doubles coerce, as the scalar readers do
    build("add_time_derived_measurements", map("{time_of_day: {endpoints: [\"6\", 12.0]}}"))
    // and through graft.Main the failure comes before any Spark job
    val out = Files.createTempDirectory("graft_stage_lists").toString
    val e = runFails("perfbench/meds_etl.yaml", MedsFixture.root, s"$out/run",
      "stages.occlude_outliers.code_modifiers=unit")
    assert(e.getMessage ==
      "stage occlude_outliers: `code_modifiers` must be a list of strings, got S(unit)", e.getMessage)
  }

  test("a bad aggregation name fails before any Spark job") {
    val out = Files.createTempDirectory("graft_stage_values").toString
    val yaml = Files.readString(Paths.get("perfbench/meds_etl.yaml"))
      .replace("[values/n_occurrences, values/sum, values/sum_sqd]",
        "[values/n_occurrences, values/summ, values/sum_sqd]")
    assert(yaml.contains("values/summ"))
    Files.writeString(Paths.get(s"$out/bad.yaml"), yaml)
    val e = runFails(s"$out/bad.yaml", MedsFixture.root, s"$out/run")
    assert(e.getMessage.contains("stage fit_outlier_detection: unknown aggregation `values/summ`"),
      e.getMessage)
  }

  test("every committed pipeline builds") {
    val committed = Files.list(Paths.get("config")).toArray.map(_.toString)
      .filter(_.endsWith(".yaml")).toSeq
    assert(committed.size == 4, committed)
    (committed :+ "perfbench/meds_etl.yaml").foreach(PipelineConfig.fromFile(_))
    PipelineConfig.fromFile("pkg://graft_testcfg.pipeline.yaml")
  }
}
