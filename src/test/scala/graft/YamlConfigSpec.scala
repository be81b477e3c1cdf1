package graft

import org.apache.spark.sql.functions._
import graft.config.{PipelineConfig, Yaml}
import graft.dsl.Cfg
import graft.meds.MedsIO
import graft.operators.Pipeline

/** YAML pipeline ingestion (reference pipelines are YAML —
  * configs/pipeline.py:222-322) and the stage-registry extension point
  * (stages/discovery.py:14-72): the reference's own downstream-package
  * pipeline file must run unmodified once its custom stage is registered.
  */
class YamlConfigSpec extends SparkSpec {

  test("Yaml.parse: scalars, nesting, lists, inline collections, comments") {
    val cfg = Yaml.parse(
      """# a header comment
        |description: "quoted: with colon"  # trailing comment
        |threshold: 4.5
        |count: 12
        |flag: true
        |nothing: null
        |hydra_marker: ???
        |endpoints: [6, 12, 18]
        |inline_map: {a: 1, b: two}
        |nested:
        |  deep:
        |    key: value
        |items:
        |  - plain
        |  - 7
        |  - name: block_item
        |    extra: 2
        |""".stripMargin).asInstanceOf[Cfg.M].v
    assert(cfg("description") == Cfg.S("quoted: with colon"))
    assert(cfg("threshold") == Cfg.D(4.5))
    assert(cfg("count") == Cfg.I(12))
    assert(cfg("flag") == Cfg.B(true))
    assert(cfg("nothing") == Cfg.Null)
    assert(cfg("hydra_marker") == Cfg.S("???"))
    assert(cfg("endpoints") == Cfg.list(Cfg(6), Cfg(12), Cfg(18)))
    assert(cfg("inline_map") == Cfg.map("a" -> Cfg(1), "b" -> Cfg("two")))
    assert(cfg("nested") == Cfg.map("deep" -> Cfg.map("key" -> Cfg("value"))))
    val items = cfg("items").asInstanceOf[Cfg.L].v
    assert(items == Seq(Cfg("plain"), Cfg(7),
      Cfg.map("name" -> Cfg("block_item"), "extra" -> Cfg(2))))
  }

  test("Yaml.parse: apostrophes, empty inline values, zero-indent block lists") {
    // apostrophe in a plain scalar is literal — the trailing comment still strips
    val c1 = Yaml.parse("description: patient's data  # note\n").asInstanceOf[Cfg.M].v
    assert(c1("description") == Cfg.S("patient's data"))
    // apostrophes inside inline lists don't swallow the separators
    assert(Yaml.parse("xs: [don't, won't]\n").asInstanceOf[Cfg.M].v("xs") ==
      Cfg.list(Cfg("don't"), Cfg("won't")))
    // quoted strings still group (including separators inside quotes)
    assert(Yaml.parse("xs: ['a, b', c]\n").asInstanceOf[Cfg.M].v("xs") ==
      Cfg.list(Cfg("a, b"), Cfg("c")))
    // empty value inside an inline map is Null, not a crash
    assert(Yaml.parse("opts: {a: , b: 1}\n").asInstanceOf[Cfg.M].v("opts") ==
      Cfg.map("a" -> Cfg.Null, "b" -> Cfg(1)))
    // zero-indent block lists (the common style PyYAML accepts)
    val c2 = Yaml.parse(
      """stages:
        |- filter_subjects
        |- occlude_outliers:
        |    stddev_cutoff: 2.0
        |after: done
        |""".stripMargin).asInstanceOf[Cfg.M].v
    assert(c2("stages") == Cfg.list(Cfg("filter_subjects"),
      Cfg.map("occlude_outliers" -> Cfg.map("stddev_cutoff" -> Cfg(2.0)))))
    assert(c2("after") == Cfg.S("done"))
  }

  test("scalar table: the same values as a document entry and as an override") {
    import graft.config.Overrides
    import Cfg._
    // (raw text, value as a block-list item, value as `k=<raw>` override).
    // Plain scalars resolve by graft's own table (PyYAML booleans, YAML 1.2
    // numbers), not by a YAML 1.1 resolver: 010 is 10, dates stay strings.
    val table = Seq[(String, Cfg, Cfg)](
      ("1e-3", D(0.001), D(0.001)),
      ("010", I(10), I(10)),
      ("0x1F", S("0x1F"), S("0x1F")),
      ("1_000", S("1_000"), S("1_000")),
      ("2020-01-01", S("2020-01-01"), S("2020-01-01")),
      ("1:30", S("1:30"), S("1:30")),
      ("yes", B(true), B(true)),
      ("off", B(false), B(false)),
      ("???", S("???"), S("???")),
      ("~", Null, Null),
      ("NULL", Null, Null),
      ("-7", I(-7), I(-7)),
      ("+3", I(3), I(3)),
      (".5", D(0.5), D(0.5)),
      ("1.", D(1.0), D(1.0)),
      ("-1.5E+2", D(-150.0), D(-150.0)),
      (".inf", S(".inf"), S(".inf")),
      ("'true'", S("true"), S("true")),
      ("\"quoted: with colon\"", S("quoted: with colon"), S("quoted: with colon")),
      // a document entry reads `a: b` as a map and strips the comment; an
      // override value is one plain scalar, taken literally
      ("a: b", Cfg.map("a" -> S("b")), S("a: b")),
      ("foo #bar", S("foo"), S("foo #bar")),
      ("[don't, won't]", Cfg.list(S("don't"), S("won't")), Cfg.list(S("don't"), S("won't"))),
      ("{a: , b: 1}", Cfg.map("a" -> Null, "b" -> I(1)), Cfg.map("a" -> Null, "b" -> I(1))),
      ("{k: [1, two]}", Cfg.map("k" -> Cfg.list(I(1), S("two"))),
        Cfg.map("k" -> Cfg.list(I(1), S("two")))))
    assert(table.size == 24)
    val doc = Yaml.parse(table.map { case (raw, _, _) => s"- $raw" }.mkString("", "\n", "\n"))
    assert(doc == L(table.map(_._2)))
    table.foreach { case (raw, _, want) =>
      assert(Overrides.parseArg(s"k=$raw") == (Seq("k") -> want), raw)
    }
  }

  test("Yaml.parse: malformed YAML fails with the source, line and column") {
    val bad = Seq(
      "unclosed flow list" -> "endpoints: [6, 12\nafter: 1\n",
      "second document" -> "a: 1\n---\nb: 2\n",
      "tab indentation" -> "stages:\n\t- filter_subjects\n",
      "wrong indent" -> "a:\n    b: 1\n  c: 2\n")
    bad.foreach { case (what, text) =>
      val ex = intercept[IllegalArgumentException](Yaml.parse(text, "p.yaml"))
      assert(ex.getMessage.startsWith("p.yaml: invalid YAML at line "), what)
      assert(ex.getMessage.contains(", column "), what)
    }
    // a file loaded by path names that path
    val tmp = java.nio.file.Files.createTempFile("graft_bad", ".yaml")
    java.nio.file.Files.writeString(tmp, "stages: [filter_subjects\n")
    val ex = intercept[IllegalArgumentException](PipelineConfig.fromFile(tmp.toString))
    assert(ex.getMessage.startsWith(s"$tmp: invalid YAML at line 2, column 1"))
  }

  test("Yaml.parse: anchors and aliases parse to the anchored value") {
    val c = Yaml.parse(
      """defaults: &d
        |  code_modifiers: [unit]
        |  stddev_cutoff: 2.5
        |stages:
        |  - occlude_outliers: *d
        |  - normalization: *d
        |ref: &s shared
        |copy: *s
        |""".stripMargin).asInstanceOf[Cfg.M].v
    val d = Cfg.map("code_modifiers" -> Cfg.list(Cfg("unit")), "stddev_cutoff" -> Cfg(2.5))
    assert(c("stages") == Cfg.list(Cfg.map("occlude_outliers" -> d),
      Cfg.map("normalization" -> d)))
    assert(c("copy") == Cfg.S("shared"))
    val ex = intercept[IllegalArgumentException](Yaml.parse("a: &x [1, *x]\n"))
    assert(ex.getMessage.contains("recursive alias"))
    val merge = intercept[IllegalArgumentException](Yaml.parse("a: &x {k: 1}\nb:\n  <<: *x\n"))
    assert(merge.getMessage == "line 3: merge keys (<<) are not supported")
  }

  test("Yaml.parse: block scalars are strings") {
    val c = Yaml.parse(
      """literal: |
        |  line one
        |  line two
        |folded: >
        |  one
        |  two
        |number: |
        |  12
        |""".stripMargin).asInstanceOf[Cfg.M].v
    assert(c("literal") == Cfg.S("line one\nline two\n"))
    assert(c("folded") == Cfg.S("one two\n"))
    assert(c("number") == Cfg.S("12\n"))
  }

  test("Yaml.parse: a duplicate mapping key is rejected with its line") {
    val ex = intercept[IllegalArgumentException](Yaml.parse(
      """stages:
        |  - filter_subjects:
        |      min_events_per_subject: 5
        |      min_events_per_subject: 9
        |""".stripMargin, "dup.yaml"))
    assert(ex.getMessage == "dup.yaml: line 4: duplicate key 'min_events_per_subject'")
  }

  test("reference data stages honor train_only and _match_revise") {
    import graft.meds.{MedsData, MedsSchema}
    def v(x: Double) = java.lang.Double.valueOf(x)
    val rows = (1L to 6L).flatMap(s => Seq(
      (s, s"2020-01-0$s 00:00:00", "DX", null),
      (s, s"2020-01-0$s 01:00:00", "HR", v(60.0 + s)),
      (s, s"2020-01-0$s 03:00:00", "TEMP", v(37.0))))
    val split = udf((s: Long) => if (s <= 4) "train" else "held_out")
    val data = medsDf(rows: _*).withColumn(MedsSchema.Split, split(col(MedsSchema.SubjectId)))
    val meds = MedsData(data,
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        MedsSchema.codesSchema),
      data.select(MedsSchema.SubjectId, MedsSchema.Split).distinct())
    val trainOnly = Pipeline.run(spark, meds, PipelineConfig.fromYaml(
      """stages:
        |  - filter_subjects: {train_only: true}
        |""".stripMargin).stages)
    assert(trainOnly.data.select(MedsSchema.Split).distinct().collect()
      .map(_.getString(0)).toSet == Set("train"))
    // per-block overrides: HR needs 100 occurrences (dropped), TEMP needs 1
    // (kept); DX matches no block and passes through
    val revised = Pipeline.run(spark, meds, PipelineConfig.fromYaml(
      """stages:
        |  - aggregate_code_metadata:
        |      aggregations: [code/n_occurrences, code/n_subjects]
        |  - filter_measurements:
        |      _match_revise:
        |        - _matcher: {code: HR}
        |          min_occurrences_per_code: 100
        |        - _matcher: {code: TEMP}
        |          min_occurrences_per_code: 1
        |""".stripMargin).stages)
    val counts = revised.data.groupBy(MedsSchema.Code).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("DX" -> 6L, "TEMP" -> 6L))
  }

  test("_match_revise on a metadata or splits stage fails at parse time") {
    Seq("aggregate_code_metadata", "fit_vocabulary_indices", "generate_subject_splits")
      .foreach { stage =>
        val ex = intercept[IllegalArgumentException](PipelineConfig.fromYaml(
          s"""stages:
             |  - $stage:
             |      _match_revise:
             |        - _matcher: {code: HR}
             |""".stripMargin))
        assert(ex.getMessage == s"stage $stage: _match_revise requires a data stage")
      }
    // an empty block list would otherwise turn the stage into a no-op data stage
    val ex = intercept[IllegalArgumentException](PipelineConfig.fromYaml(
      "stages:\n  - aggregate_code_metadata: {_match_revise: []}\n"))
    assert(ex.getMessage.contains("must be a non-empty list of blocks"))
  }

  test("YAML pipeline parses to the same stages as its JSON twin and runs identically") {
    val yaml =
      """description: twin test
        |stages:
        |  - filter_subjects:
        |      min_events_per_subject: 5
        |  - fit_outlier_detection:
        |      _base_stage: aggregate_code_metadata
        |      aggregations:
        |        - "values/n_occurrences"
        |        - "values/sum"
        |        - "values/sum_sqd"
        |""".stripMargin
    val json =
      """{"description": "twin test", "stages": [
        |  {"filter_subjects": {"min_events_per_subject": 5}},
        |  {"fit_outlier_detection": {"_base_stage": "aggregate_code_metadata",
        |    "aggregations": ["values/n_occurrences", "values/sum", "values/sum_sqd"]}}
        |]}""".stripMargin
    val py = PipelineConfig.fromYaml(yaml)
    val pj = PipelineConfig.fromJson(json)
    assert(py.description == pj.description)
    assert(py.stages.map(_.name) == pj.stages.map(_.name))

    val meds = MedsIO.read(spark, MedsFixture.root)
    // each run's fork-point cache is released before the next run persists
    // the same lineage, as graft.Main does
    def run(stages: Seq[Pipeline.Stage]): (Long, Set[Seq[Any]]) = {
      val (out, pinned) = Pipeline.runTracked(spark, meds, stages)
      try (out.data.count(), collectSet(out.codes)) finally pinned.foreach(_.unpersist(false))
    }
    assert(run(py.stages) == run(pj.stages))
  }

  test("graft.Main runs a YAML pipeline file end-to-end") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_yaml").toString
    val yamlPath = s"$tmp/pipeline.yaml"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(yamlPath),
      """description: yaml CLI test
        |stages:
        |  - filter_subjects:
        |      min_events_per_subject: 5
        |""".stripMargin)
    Main.run(Array(yamlPath, MedsFixture.root, s"$tmp/out"), spark)
    assert(Pipeline.isComplete(spark, s"$tmp/out"))
    assert(MedsIO.read(spark, s"$tmp/out").data.count() == 41) // filter_subjects golden
  }

  test("aggregate_code_metadata quantiles from YAML match the library path") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_yamlq").toString
    val yamlPath = s"$tmp/pipeline.yaml"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(yamlPath),
      """stages:
        |  - agg_q:
        |      _base_stage: aggregate_code_metadata
        |      aggregations:
        |        - name: "values/quantiles"
        |          quantiles: [0.25, 0.5, 0.75]
        |""".stripMargin)
    Main.run(Array(yamlPath, MedsFixture.root, s"$tmp/out"), spark)
    val got = MedsIO.read(spark, s"$tmp/out").codes
      .select(col("code"), col("`values/quantiles`"))
    // metadata stages run on the train split only (the reference's forced
    // train_only=True; Pipeline.MetadataStage) — mirror that here
    val meds = Pipeline.trainOnly(MedsIO.read(spark, MedsFixture.root))
    val want = graft.operators.AggregateCodeMetadata.compute(meds.data,
      Seq("values/quantiles"), Seq(0.25, 0.5, 0.75))
      .select(col("code"), col("`values/quantiles`"))
    // join on code: the stage merges into the prior codes table (extra rows
    // with no data keep null quantiles), the library call aggregates data
    assert(collectSet(got.join(want, Seq("code"), "inner")).nonEmpty)
    val disagree = got.alias("g").join(want.alias("w"), Seq("code"))
      .filter(not(col("g.`values/quantiles`") <=> col("w.`values/quantiles`")))
      .count()
    assert(disagree == 0)
  }

  test("--stage= runs one named stage; chained single-stage runs equal the full pipeline") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_stage").toString
    val p = s"$tmp/pipeline.yaml"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
      """stages:
        |  - filter_subjects:
        |      min_events_per_subject: 5
        |  - fit_outlier_detection:
        |      _base_stage: aggregate_code_metadata
        |      aggregations:
        |        - "values/n_occurrences"
        |        - "values/sum"
        |        - "values/sum_sqd"
        |""".stripMargin)
    val in = MedsFixture.root
    // the orchestrator shape: one stage per invocation, chained through roots
    Main.run(Array(p, in, s"$tmp/s1", "--stage=filter_subjects"), spark)
    Main.run(Array(p, s"$tmp/s1", s"$tmp/s2", "--stage=fit_outlier_detection"), spark)
    // equals the full pipeline in one invocation
    Main.run(Array(p, in, s"$tmp/full"), spark)
    val chained = MedsIO.read(spark, s"$tmp/s2")
    val full = MedsIO.read(spark, s"$tmp/full")
    assert(chained.data.count() == full.data.count())
    assert(collectSet(chained.codes.drop("values/quantiles")) ==
      collectSet(full.codes.drop("values/quantiles")))
    // unknown stage name fails fast
    val ex = intercept[IllegalArgumentException] {
      Main.run(Array(p, in, s"$tmp/x", "--stage=nope"), spark)
    }
    assert(ex.getMessage.contains("not in pipeline"))
  }

  test("reference --multirun worker/launcher args are accepted and subsumed") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_multirun").toString
    val p = s"$tmp/pipeline.yaml"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
      """stages:
        |  - filter_subjects:
        |      min_events_per_subject: 5
        |""".stripMargin)
    // the reference's worker-fan-out invocation (runner.py:30-111) runs
    // unmodified: the launcher args are Spark's task scheduling here
    Main.run(Array(p, MedsFixture.root, s"$tmp/mr", "--multirun",
      "worker=\"range(0,2)\"", "hydra/launcher=joblib", "hydra.launcher.n_jobs=2"), spark)
    assert(MedsIO.read(spark, s"$tmp/mr").data.count() == 41)
  }

  test("--list-stages prints the registry and runs nothing") {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) {
      Main.run(Array("--list-stages"), spark)
    }
    val listed = out.toString.linesIterator.toSet
    assert(Set("minhash_lsh_dedup", "tf_idf", "filter_rows", "json_extract",
      "normalize_text", "shuffle_rows").subsetOf(listed))
    val referenceStages = Set(
      "aggregate_code_metadata", "fit_vocabulary_indices", "reshard_to_split",
      "generate_subject_splits", "filter_subjects", "filter_measurements",
      "occlude_outliers", "normalization", "reorder_measurements",
      "extract_values", "add_time_derived_measurements", "bin_numeric_values")
    assert(referenceStages.subsetOf(listed)) // reference stages too
    // every reference stage actually builds (the time-derived one needs a
    // generator)
    referenceStages.foreach { s =>
      val body = if (s == "add_time_derived_measurements") ": {time_of_day: {endpoints: [6]}}" else ""
      PipelineConfig.fromYaml(s"stages:\n  - $s$body\n")
    }
  }

  test("--multirun value sweeps run the cartesian product into run_<i> dirs") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_sweep").toString
    val p = s"$tmp/pipeline.yaml"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
      """stages:
        |  - filter_subjects:
        |      min_events_per_subject: 5
        |""".stripMargin)
    val in = MedsFixture.root
    // one swept override -> two jobs, Hydra's numbered job dirs
    Main.run(Array(p, in, s"$tmp/sweep", "--multirun",
      "stages.filter_subjects.min_events_per_subject=1,5"), spark)
    val r0 = MedsIO.read(spark, s"$tmp/sweep/run_0").data.count()
    val r1 = MedsIO.read(spark, s"$tmp/sweep/run_1").data.count()
    assert(r1 == 41) // the cutoff-5 run
    assert(r0 > r1) // the cutoff-1 run keeps more rows
    // the sweep root documents which run_<i> was which combo (Hydra's
    // multirun.yaml analog)
    val manifest = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$tmp/sweep/multirun.json")))
    val jobsNode = manifest.get("jobs")
    assert(jobsNode.size() == 2)
    assert(jobsNode.get(0).get("output").asText == "run_0")
    assert(jobsNode.get(0).get("overrides").get(0).asText
      == "stages.filter_subjects.min_events_per_subject=1")
    assert(jobsNode.get(1).get("overrides").get(0).asText
      == "stages.filter_subjects.min_events_per_subject=5")
    // a flow-collection value is NOT a sweep even under --multirun: one job,
    // output at the root (no run_ dirs)
    Main.run(Array(p, in, s"$tmp/flow", "--multirun",
      "conf={spark.sql.shuffle.partitions: 4, spark.sql.adaptive.enabled: true}"), spark)
    assert(MedsIO.read(spark, s"$tmp/flow").data.count() == 41)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$tmp/flow/run_0")))
    // single-job invocations never write a manifest
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$tmp/flow/multirun.json")))
    // without --multirun a comma value stays one literal (Hydra's exact
    // behavior) — the sweep only activates under the multirun flag
    Main.run(Array(p, in, s"$tmp/lit", "description=a,b"), spark)
    assert(MedsIO.read(spark, s"$tmp/lit").data.count() == 41)

    // sweep-expansion unit rules: cartesian product in argument order,
    // quoted/collection/comma-free values stay atomic, no flag = no sweep
    assert(Main.sweepJobs(Seq("a=1,2", "b=x,y", "c=5"), multirun = true) == Seq(
      Seq("a=1", "b=x", "c=5"), Seq("a=1", "b=y", "c=5"),
      Seq("a=2", "b=x", "c=5"), Seq("a=2", "b=y", "c=5")))
    assert(Main.sweepJobs(Seq("a=[1,2]", "b=\"x,y\"", "c='p,q'"), multirun = true)
      == Seq(Seq("a=[1,2]", "b=\"x,y\"", "c='p,q'")))
    assert(Main.sweepJobs(Seq("a=1,2"), multirun = false) == Seq(Seq("a=1,2")))
    assert(Main.sweepJobs(Seq.empty, multirun = true) == Seq(Seq.empty))
  }

  test("CLI dotted-path overrides equal an edited-file run") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_override").toString
    val p = s"$tmp/pipeline.yaml"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
      """stages:
        |  - filter_subjects:
        |      min_events_per_subject: 5
        |""".stripMargin)
    val pEdited = s"$tmp/edited.yaml"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(pEdited),
      """stages:
        |  - filter_subjects:
        |      min_events_per_subject: 1
        |""".stripMargin)
    val in = MedsFixture.root
    Main.run(Array(p, in, s"$tmp/over",
      "stages.filter_subjects.min_events_per_subject=1"), spark)
    Main.run(Array(pEdited, in, s"$tmp/edit"), spark)
    val overridden = MedsIO.read(spark, s"$tmp/over").data.count()
    val edited = MedsIO.read(spark, s"$tmp/edit").data.count()
    assert(overridden == edited)
    assert(overridden > 41) // the un-overridden cutoff (5) keeps only 41 rows

    // `stage_cfg.<key>` addresses the --stage target (reference's
    // MEDS_transform-stage override shape)
    Main.run(Array(p, in, s"$tmp/sc", "--stage=filter_subjects",
      "stage_cfg.min_events_per_subject=1"), spark)
    assert(MedsIO.read(spark, s"$tmp/sc").data.count() == edited)
    // ...and is rejected without --stage= (no stage to address)
    val ex = intercept[IllegalArgumentException] {
      Main.run(Array(p, in, s"$tmp/bad", "stage_cfg.min_events_per_subject=1"), spark)
    }
    assert(ex.getMessage.contains("requires --stage"))
  }

  test("override path semantics: types, list entries, bare stage promotion") {
    import graft.config.Overrides
    import graft.dsl.Cfg
    import graft.dsl.Cfg._
    val base = Yaml.parse(
      """stages:
        |  - filter_subjects:
        |      min_events_per_subject: 5
        |  - normalization
        |""".stripMargin)
    // typed scalar replaces an existing key
    val c1 = Overrides(base, Seq("stages.filter_subjects.min_events_per_subject=9"))
    assert(c1.asInstanceOf[M].v("stages").asInstanceOf[L].v.head
      .asInstanceOf[M].v("filter_subjects").asInstanceOf[M].v("min_events_per_subject") == I(9))
    // a bare stage name gains a config map; new keys are created (Hydra ++)
    val c2 = Overrides(base, Seq("stages.normalization.code_modifiers=[unit]"))
    val norm = c2.asInstanceOf[M].v("stages").asInstanceOf[L].v(1)
    assert(norm == Cfg.map("normalization" ->
      Cfg.map("code_modifiers" -> Cfg.list(Cfg("unit")))))
    // integer index addresses a list position; bools/floats/null parse as YAML
    val c3 = Overrides(base, Seq("stages.0.filter_subjects.train_only=true"))
    assert(c3.asInstanceOf[M].v("stages").asInstanceOf[L].v.head
      .asInstanceOf[M].v("filter_subjects").asInstanceOf[M].v("train_only") == B(true))
    // unknown stage entry fails with the available names
    val ex = intercept[IllegalArgumentException] {
      Overrides(base, Seq("stages.nope.x=1"))
    }
    assert(ex.getMessage.contains("no list entry named 'nope'"))
  }

  test("pkg:// pipeline paths resolve from the classpath") {
    val parsed = PipelineConfig.fromFile("pkg://graft_testcfg.pipeline.yaml")
    assert(parsed.description.contains("packaged pipeline loaded via pkg://"))
    assert(parsed.stages.map(_.name) == Seq("filter_subjects", "normalization"))
    // overrides compose with pkg:// resolution
    val over = PipelineConfig.fromFile("pkg://graft_testcfg.pipeline.yaml",
      Seq("description=overridden"))
    assert(over.description.contains("overridden"))
    // a missing resource names the path it looked for
    val ex = intercept[IllegalArgumentException] {
      PipelineConfig.fromFile("pkg://graft_testcfg.nope.yaml")
    }
    assert(ex.getMessage.contains("graft_testcfg/nope.yaml"))
  }

  test("registered custom stage: the reference's example_pipeline.yaml runs unmodified") {
    // the reference's drop_regex (example/simple_example_pkg/src/simple_example_pkg/
    // drop_regex/drop_regex.py): drop measurements whose code matches the regex
    PipelineConfig.register("drop_regex") { (name, cfg) =>
      val regex = cfg.getStr("regex")
      Pipeline.DataStage(name, m => regex match {
        case Some(r) => m.data.filter(!col(graft.meds.MedsSchema.Code).rlike(r))
        case None => m.data
      })
    }
    try {
      val parsed = PipelineConfig.fromFile(
        ReferenceCheckout.path("example/simple_example_pkg/src/simple_example_pkg/pipelines/example_pipeline.yaml"))
      assert(parsed.stages.map(_.name) == Seq("drop_regex", "count_codes"))
      val meds = MedsIO.read(spark, ReferenceCheckout.exampleData)
      val out = Pipeline.run(spark, meds, parsed.stages)
      // ^H.* codes are gone from the data
      assert(out.data.filter(col(graft.meds.MedsSchema.Code).rlike("^H.*")).count() == 0)
      // count_codes aggregated code/n_occurrences over the surviving codes
      assert(out.codes.columns.contains("code/n_occurrences"))
      assert(out.codes.filter(col(graft.meds.MedsSchema.Code).rlike("^H.*")).count() == 0)
      assert(out.codes.count() > 0)
    } finally PipelineConfig.unregister("drop_regex")
  }

  test("registered stages honor train_only and _match_revise orchestration") {
    PipelineConfig.register("tag_rows") { (name, cfg) =>
      val tag = cfg.getStr("tag").getOrElse("x")
      Pipeline.DataStage(name, m =>
        m.data.withColumn("tag", lit(tag)))
    }
    try {
      val meds = MedsIO.read(spark, MedsFixture.root)
      // train_only: the registered stage must see only train-split rows
      val trainOut = Pipeline.run(spark, meds, PipelineConfig.fromJson(
        """{"stages": [{"tag_rows": {"train_only": true, "tag": "t"}}]}""").stages)
      assert(trainOut.data.select(graft.meds.MedsSchema.Split).distinct()
        .collect().map(_.getString(0)).toSet == Set("train"))
      assert(trainOut.data.select("tag").distinct().head().getString(0) == "t")
      // _match_revise: per-matcher blocks with block-level overrides
      val mrOut = Pipeline.run(spark, meds, PipelineConfig.fromJson(
        """{"stages": [{"tag_rows": {
          |  "_match_revise": [
          |    {"_matcher": {"code": "HR"}, "tag": "hr"},
          |    {"_matcher": {"code": "TEMP"}, "tag": "temp"}
          |  ]}}]}""".stripMargin).stages)
      val tags = mrOut.data.select(graft.meds.MedsSchema.Code, "tag").distinct()
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(tags("HR") == "hr")
      assert(tags("TEMP") == "temp")
    } finally PipelineConfig.unregister("tag_rows")
  }

  test("decontaminate rejects keys it does not know, naming them") {
    val e = intercept[IllegalArgumentException] {
      PipelineConfig.fromYaml(
        "stages:\n  - decontaminate:\n      eval_path: /x\n      algo: bloom\n")
    }
    assert(e.getMessage.contains("stage decontaminate: unknown key(s) algo"), e.getMessage)
    // the known keys still build
    PipelineConfig.fromYaml("stages:\n  - decontaminate:\n      eval_path: /x\n      ngram: 4\n")
  }

  test("unregistered unknown stage still fails fast") {
    intercept[IllegalArgumentException] {
      PipelineConfig.fromJson("""{"stages": ["no_such_stage"]}""")
    }
  }
}
