package graft.config

import org.apache.spark.sql.DataFrame
import graft.dsl.Cfg
import graft.dsl.Cfg._
import graft.meds.MedsData
import graft.meds.MedsSchema._
import graft.operators._

/** Config-driven pipeline construction, mirroring the reference's pipeline
  * YAML surface (configs/pipeline.py:222-322, runner.py; stage entries are
  * either a bare stage name or {name: {stage config}}, with `_base_stage`
  * aliasing and `_match_revise` block rewriting). Configs are Cfg trees —
  * parsed from JSON via `Cfg.fromJson` or from the reference's own YAML
  * pipeline files via [[Yaml.parse]] (see [[fromFile]]).
  *
  * A pipeline built here is a sequence of `Pipeline.Stage`s executed on one
  * SparkSession by `Pipeline.run` — the reference's subprocess-per-stage,
  * file-lock, disk-round-trip orchestration collapses into chained DataFrame
  * transformations with optional checkpoints.
  *
  * Every stage — the reference's own, the hygiene and analysis stages of
  * [[OpStages]], and third-party ones — builds through one registry
  * ([[register]], [[buildStage]]), which also applies the `train_only` and
  * `_match_revise` orchestration keys.
  */
object PipelineConfig {

  final case class Parsed(description: Option[String], stages: Seq[Pipeline.Stage],
      conf: Seq[(String, String)] = Nil,
      noCheckpoint: Set[String] = Set.empty)

  def fromJson(json: String): Parsed = fromCfg(Cfg.fromJson(json))

  def fromYaml(yaml: String): Parsed = fromCfg(Yaml.parse(yaml))

  /** Parse a pipeline config file, dispatching on extension (.yaml/.yml vs
    * JSON) — the reference's pipelines are YAML and run unmodified. Optional
    * `overrides` are Hydra-style `dotted.path=value` edits applied to the
    * parsed tree before stages are built (see [[Overrides]]).
    *
    * `pkg://pkg.path.file.yaml` paths resolve from the classpath — the JVM
    * analog of the reference's installed-package resolution
    * (utils.py resolve_pkg_path, configs/pipeline.py:296-305): dot segments
    * map to the package directory, the last segment is the extension, so
    * `pkg://my_pkg.configs.pipeline.yaml` loads the classpath resource
    * `my_pkg/configs/pipeline.yaml`.
    */
  def fromFile(path: String, overrides: Seq[String] = Nil): Parsed = {
    val text =
      if (path.startsWith("pkg://")) {
        val parts = path.stripPrefix("pkg://").split('.')
        require(parts.length >= 2, s"bad pkg:// path (need name.ext): $path")
        val resource = parts.init.mkString("/") + "." + parts.last
        val in = Thread.currentThread.getContextClassLoader.getResourceAsStream(resource)
        require(in != null, s"$path: classpath resource not found: $resource")
        try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      } else java.nio.file.Files.readString(java.nio.file.Paths.get(path))
    val base = if (path.endsWith(".yaml") || path.endsWith(".yml")) Yaml.parse(text, path)
      else Cfg.fromJson(text)
    fromCfg(Overrides(base, overrides))
  }

  def fromCfg(cfg: Cfg): Parsed = {
    val (desc, stageList, conf0) = Cfg.Reads.checked("pipeline", cfg)(
      (cfg.getStr("description"), cfg.get("stages"), cfg.get("conf")))
    val entries = stageList match {
      case Some(L(xs)) => xs.map(parseStageEntry)
      case other => throw new IllegalArgumentException(
        s"pipeline: `stages` must be a list of stage entries, got ${other.getOrElse("nothing")}")
    }
    val stages = entries.map(_._1)
    // stages declaring `checkpoint: false` are excluded from a
    // checkpointRoot run's materialization: a narrow stage (a filter, a
    // projection) costs a full write+read cycle per run if checkpointed —
    // pure per-stage floor at ANY scale, since the downstream stage's scan
    // re-applies the narrow op for free. Default (absent) stays true:
    // materialize-every-stage is the reference's own execution model.
    val noCkpt = entries.collect { case (s, false) => s.name }.toSet
    // stage names key checkpoint dirs and resume lookups — duplicates would
    // silently collapse two stages onto one checkpoint, so reject them
    val dups = stages.groupBy(_.name).collect { case (n, ss) if ss.size > 1 => n }
    require(dups.isEmpty,
      s"duplicate stage names ${dups.mkString(", ")}: give repeated stages distinct " +
        "names with _base_stage aliasing")
    // optional top-level `conf:` map — per-pipeline Spark SQL conf (the
    // Hydra-config-group analog: a reporting pipeline over MBs declares
    // different engine settings than a 100 TB transform). Applied by the
    // runner for the DURATION of the run and restored after; only scalars.
    val conf = conf0.map {
      case M(cm) => cm.toSeq.map {
        case (k, S(s)) => k -> s
        case (k, I(i)) => k -> i.toString
        case (k, D(d)) => k -> d.toString
        case (k, B(b)) => k -> b.toString
        case (k, other) => throw new IllegalArgumentException(
          s"conf `$k`: expected a scalar, got $other")
      }
      case other => throw new IllegalArgumentException(
        s"`conf` must be a map of scalars, got $other")
    }.getOrElse(Nil)
    Parsed(desc, stages, conf, noCkpt)
  }

  /** Returns the built stage plus its `checkpoint` flag (default true). */
  private def parseStageEntry(entry: Cfg): (Pipeline.Stage, Boolean) = entry match {
    case S(name) => (buildStage(name, name, Cfg.map()), true)
    case M(m) if m.size == 1 =>
      val (name, stageCfg) = m.head
      val cfgMap = stageCfg match { case mm: M => mm; case Null => Cfg.map().asInstanceOf[M]
        case other => throw new IllegalArgumentException(s"bad stage config for $name: $other") }
      val base = cfgMap.v.get("_base_stage").collect { case S(s) => s }.getOrElse(name)
      val ckpt = cfgMap.v.get("checkpoint") match {
        case Some(B(b)) => b
        case Some(other) => throw new IllegalArgumentException(
          s"stage $name: `checkpoint` must be a boolean, got $other")
        case None => true
      }
      (buildStage(name, base, M(cfgMap.v - "_base_stage" - "checkpoint")), ckpt)
    case other => throw new IllegalArgumentException(s"bad stage entry: $other")
  }

  // ---- stage builders ---------------------------------------------------

  /** Aggregations may be plain names or {name: values/quantiles, quantiles:
    * [...]} entries (cfg.yaml of aggregate_code_metadata scenarios).
    */
  private[graft] final case class ParsedAggs(names: Seq[String], quantiles: Seq[Double])

  private def parseAggregations(stage: String, cfg: Cfg): ParsedAggs = {
    val dflt = ParsedAggs(AggregateCodeMetadata.AllAggregations, Seq(0.25, 0.5, 0.75))
    val entries = cfg.getList("aggregations")
    if (entries.isEmpty) dflt
    else {
      var quantiles = dflt.quantiles
      val names = entries.map {
        case S(s) => s
        case m: M =>
          val name = m.reqStr("name")
          // a quantiles list only means anything on the values/quantiles
          // entry — honoring it from any entry would let a later unrelated
          // aggregation silently overwrite the configured quantiles
          if (name == graft.meds.MedsSchema.ValuesQuantiles) {
            quantiles = m.doubles("quantiles") match {
              case Nil => quantiles
              case qs => qs
            }
          }
          name
        case other => throw new IllegalArgumentException(s"bad aggregation entry: $other")
      }
      names.foreach(n => require(AggregateCodeMetadata.AllAggregations.contains(n),
        s"stage $stage: unknown aggregation `$n` (expected " +
          s"${AggregateCodeMetadata.AllAggregations.mkString(" | ")})"))
      ParsedAggs(names, quantiles)
    }
  }

  // ---- stage registry ---------------------------------------------------

  /** The one stage registry, mirroring the reference's entry-point
    * discovery (stages/discovery.py:14-72). The reference stages (below),
    * the hygiene and analysis stages ([[OpStages]]) and third-party packages
    * all register a builder under a base-stage name; pipeline configs then
    * reference it directly or via `_base_stage` aliasing. The builder
    * receives (stage name, stage config); registering a name again replaces
    * its builder.
    */
  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Cfg) => Pipeline.Stage]()

  def register(baseStage: String)(builder: (String, Cfg) => Pipeline.Stage): Unit =
    registry.put(baseStage, builder)

  def unregister(baseStage: String): Unit = registry.remove(baseStage)

  /** Every registered base-stage name: the `--list-stages` surface. */
  def registeredStages: Set[String] = {
    import scala.jdk.CollectionConverters._
    registry.keySet().asScala.toSet
  }

  // Runs once when this object initializes; `registry` is defined above so
  // ordering is safe.
  registerReferenceStages()
  OpStages.registerAll()

  /** Build `baseStage` from the registry. The builder runs on a config view
    * that records the keys it reads ([[CfgOps]]); once it returns, any key it
    * did not read fails the build (`stage <name>: unknown key(s) … (read:
    * …)`) — so every key a builder takes must be read here, at parse time,
    * not inside the stage function. A key the builder only reads when it
    * applies (e.g. `quantiles` on an aggregation entry other than
    * `values/quantiles`) fails where it does not.
    *
    * `train_only`, `_match_revise` and `_match_revise_mode` are orchestration
    * keys, consumed here the same way for every stage: `train_only`
    * (config_overwrites may set it on ANY stage, pipeline.py:430) wraps a
    * data stage's input; a metadata stage is already train-only via
    * Pipeline.run. `_match_revise` rewrites a data stage into per-matcher
    * blocks, each block's stage built (and its keys checked) here, so a bad
    * block, an unknown block key or a non-data stage fails at parse time.
    */
  def buildStage(name: String, baseStage: String, cfg: Cfg): Pipeline.Stage = {
    // single volatile read: a concurrent unregister cannot NPE us
    val b = registry.get(baseStage)
    require(b != null, s"unknown stage: $baseStage")
    val trainOnly = cfg.getBool("train_only").getOrElse(false)
    val stageCfg = cfg match { case M(m0) => M(m0 - "train_only"); case c => c }
    def build(c: Cfg) = Cfg.Reads.checked(s"stage $name", c)(b(name, c))
    val stage =
      if (stageCfg.get("_match_revise").isEmpty) build(stageCfg)
      else Pipeline.DataStage(name, matchRevise(c => build(c) match {
        case Pipeline.DataStage(_, f) => f
        case _ => throw new IllegalArgumentException(
          s"stage $name: _match_revise requires a data stage")
      }, stageCfg))
    stage match {
      case Pipeline.DataStage(n, f) if trainOnly =>
        Pipeline.DataStage(n, m => f(Pipeline.trainOnly(m)))
      case s => s
    }
  }

  /** The `_match_revise` rewrite (compute_modes/match_revise.py): one block
    * per matcher, each with block-level config overrides over the stage's
    * own config.
    */
  private def matchRevise(simple: Cfg => MedsData => DataFrame,
      cfg: Cfg): MedsData => DataFrame = cfg.get("_match_revise") match {
    case None => simple(cfg)
    case Some(L(blocks)) if blocks.nonEmpty =>
      val mode = cfg.getStr("_match_revise_mode").getOrElse("match_and_revise")
      // train_only is orchestration config, never stage config — strip it
      // at the block level too
      val shared = cfg.obj - "_match_revise" - "_match_revise_mode" - "train_only"
      val parsed = blocks.map { b =>
        val bm = b.obj
        val matcher = M(scala.collection.immutable.ListMap(bm("_matcher").obj.toSeq: _*))
        val overrides = M(scala.collection.immutable.ListMap(
          (shared ++ (bm - "_matcher" - "train_only")).toSeq: _*))
        (matcher, matchRevise(simple, overrides))
      }
      m => MatchRevise(m.data, parsed.map { case (matcher, f) =>
        MatchRevise.Block(matcher, df => f(m.withData(df)))
      }, multi = mode == "multi_match_and_revise")
    case Some(other) => throw new IllegalArgumentException(
      s"`_match_revise` must be a non-empty list of blocks, got $other")
  }

  /** The reference's own stages (stages/ in MEDS_transforms). */
  private def registerReferenceStages(): Unit = {
    def data(baseStage: String)(f: Cfg => MedsData => DataFrame): Unit =
      register(baseStage)((name, cfg) => Pipeline.DataStage(name, f(cfg)))

    register("aggregate_code_metadata") { (name, cfg) =>
      val pa = parseAggregations(name, cfg)
      val mods = cfg.strings("code_modifiers")
      val summarize = cfg.getBool("do_summarize_over_all_codes").getOrElse(false)
      Pipeline.MetadataStage(name, m =>
        AggregateCodeMetadata(m.data, m.codes, pa.names, pa.quantiles, mods,
          summarize))
    }
    register("fit_vocabulary_indices") { (name, cfg) =>
      val mods = cfg.strings("code_modifiers")
      Pipeline.MetadataStage(name, m => FitVocabularyIndices(m.codes, mods))
    }
    register("reshard_to_split") { (name, cfg) =>
      // Reference stage config (reshard_to_split/config.yaml + reshard_to_split
      // .py:264-333): n_subjects_per_shard (default 50000) sizes shards per
      // split; n_shards fixes the count instead when given. Either way the
      // seeded assignment is distributed: no subject list on the driver.
      val nShards = cfg.getInt("n_shards")
      val perShard = cfg.getInt("n_subjects_per_shard")
      val seed = cfg.getLong("seed").getOrElse(0L)
      Pipeline.DataStage(name, m => {
        import org.apache.spark.sql.functions.{col, length}
        // splits table when present; else fall back to the path-derived split
        // (a root written without subject_splits but with split dirs)
        val splitsSrc =
          if (m.splits.isEmpty)
            m.data.filter(length(col(graft.meds.MedsSchema.Split)) > 0)
              .select(graft.meds.MedsSchema.SubjectId, graft.meds.MedsSchema.Split)
              .distinct()
          else m.splits
        // fail FAST on a root with no split information at all: the inner
        // join against an empty assignment would otherwise complete
        // "successfully" with zero rows — the silent-drop failure mode the
        // r1 advice on MedsIO.read exists to prevent
        require(!splitsSrc.isEmpty,
          s"reshard_to_split stage '$name': no split information — the root has " +
            "neither a metadata/subject_splits.parquet table nor split " +
            "directories under data/")
        val assignment = nShards match {
          case Some(k) => ReshardToSplit.assignShardsDistributed(splitsSrc, k, seed)
          case None =>
            ReshardToSplit.assignShardsDistributedBySize(splitsSrc, perShard.getOrElse(50000), seed)
        }
        ReshardToSplit.applyAssigned(m.data, assignment)
      })
    }
    register("generate_subject_splits") { (name, cfg) =>
      // Config-reachable analog of shard_subjects' IID split generation
      // (reshard_to_split.py:25-110: split_fracs_dict, default 0.8/0.1/0.1,
      // plus the external-splits contract): subjects already present in the
      // splits table KEEP their split — only unassigned subjects draw a
      // seeded IID split by fraction. Replaces MedsData.splits for every
      // downstream stage, so `generate_subject_splits -> reshard_to_split`
      // runs on a root with no split information at all.
      val fracs = cfg.numberMap("split_fracs").getOrElse(
        Seq(TrainSplit -> 0.8, TuningSplit -> 0.1, HeldOutSplit -> 0.1))
      val seed = cfg.getLong("seed").getOrElse(1L)
      Pipeline.SplitsStage(name, m => {
        import org.apache.spark.sql.functions.{col, countDistinct}
        val subjects = m.data.select(col(SubjectId)).distinct()
        // a subject listed under TWO different splits is a silent-leakage
        // hazard: dropDuplicates would keep an arbitrary row, so a held_out
        // subject could nondeterministically land in train on some runs.
        // Fail fast with examples instead (identical duplicate rows are fine
        // — distinct() collapses them first).
        val existing = m.splits.select(col(SubjectId), col(Split)).distinct()
        val conflicted = existing.groupBy(SubjectId)
          .agg(countDistinct(col(Split)).as("__n_splits"))
          .filter(col("__n_splits") > 1)
          .limit(5).collect().map(_.get(0))
        require(conflicted.isEmpty,
          s"stage $name: subject(s) ${conflicted.mkString(", ")} appear under " +
            "more than one split in the external splits table — resolve the " +
            "conflict upstream (an arbitrary winner would silently leak " +
            "held-out subjects into training)")
        val unassigned = subjects.join(existing, Seq(SubjectId), "left_anti")
        existing.unionByName(
          ReshardToSplit.assignSplitsByFracDistributed(unassigned, fracs, seed))
      })
    }
    data("filter_subjects") { cfg =>
      val (minMeasurements, minEvents) =
        (cfg.getInt("min_measurements_per_subject"), cfg.getInt("min_events_per_subject"))
      m => FilterSubjects(m.data, minMeasurements, minEvents)
    }
    data("filter_measurements") { cfg =>
      val (minSubjects, minOccurrences, mods) = (cfg.getInt("min_subjects_per_code"),
        cfg.getInt("min_occurrences_per_code"), cfg.strings("code_modifiers"))
      m => FilterMeasurements(m.data, m.codes, minSubjects, minOccurrences, mods)
    }
    data("occlude_outliers") { cfg =>
      val (cutoff, mods) =
        (cfg.getDouble("stddev_cutoff").getOrElse(4.5), cfg.strings("code_modifiers"))
      m => OccludeOutliers(m.data, m.codes, cutoff, mods)
    }
    data("normalization") { cfg =>
      val mods = cfg.strings("code_modifiers")
      m => Normalization(graft.meds.MedsIO.withRowIdx(m.data), m.codes, mods)
    }
    data("reorder_measurements") { cfg =>
      val patterns = cfg.strings("ordered_code_patterns")
      m => ReorderMeasurements(m.data, patterns)
    }
    data("extract_values") { cfg =>
      // every key is an output code: a whole-map read
      val specs = cfg.obj.toSeq.filterNot(_._1.startsWith("_"))
      m => ExtractValues(m.data, specs)
    }
    register("add_time_derived_measurements") { (name, cfg) =>
      // Generators in config-key order through the sequential-semantics,
      // single-sort driver (addAll): later generators' rows precede earlier
      // ones' within a block — the reference's per-functor prepend
      // (add_time_derived_measurements.py:174-231) — and TIMELINE//END
      // lands after the block, all with ONE global sort.
      import AddTimeDerivedMeasurements.Generator
      val gens = cfg.obj.toSeq.collect {
        case (_, Cfg.Null) => None // feature: None skips it, like the reference
        case ("age", ac) =>
          val (dob, age, unit) = (ac.getStr("DOB_code").getOrElse("MEDS_BIRTH"),
            ac.getStr("age_code").getOrElse("AGE"), ac.getStr("age_unit").getOrElse("years"))
          Some(Generator(df => AddTimeDerivedMeasurements.ageEvents(df, dob, age, unit)))
        case ("time_of_day", tc) =>
          val endpoints = tc.ints("endpoints")
          val code = tc.getStr("time_of_day_code").getOrElse("TIME_OF_DAY")
          Some(Generator(df => AddTimeDerivedMeasurements.timeOfDayEvents(df, endpoints, code)))
        case ("timeline_tokens", tt) =>
          val unit = tt.getStr("time_unit").orElse(tt.getStr("unit")).getOrElse("days")
          val startCode = tt.getStr("timeline_start_code").getOrElse("TIMELINE//START")
          val endCode = tt.getStr("timeline_end_code").getOrElse("TIMELINE//END")
          val deltaCode = tt.getStr("time_delta_code").getOrElse("TIMELINE//DELTA//{time_unit}")
          Some(Generator(df => AddTimeDerivedMeasurements.timelineTokenEvents(df, unit,
            startCode = startCode, endCode = endCode, deltaCodeTemplate = deltaCode),
            Some(endCode)))
        case (other, _) =>
          throw new IllegalArgumentException(s"stage $name: unknown time-derived measurement: $other")
      }.flatten
      require(gens.nonEmpty,
        s"stage $name: no generators configured (age, time_of_day, timeline_tokens)")
      Pipeline.DataStage(name, m => AddTimeDerivedMeasurements.addAll(m.data, gens))
    }
    data("bin_numeric_values") { cfg =>
      // custom_bins values may be the reference's dict form (bin name →
      // endpoint, insertion-ordered least→greatest) or a plain list
      def parseBins(c: Cfg): Map[String, Seq[Double]] = c.obj.map {
        case (code, _: M) => code -> c.numberMap(code).get.map(_._2)
        case (code, _) => code -> c.doubles(code)
      }
      // custom_bins_filepath: same structure from a YAML (like the
      // reference) or JSON file; inline custom_bins entries win on collision
      val binsPath = cfg.getStr("custom_bins_filepath")
      val inline = cfg.get("custom_bins").map(parseBins).getOrElse(Map.empty)
      val binWith = cfg.strings("bin_with_columns") match {
        case Nil => Seq(graft.meds.MedsSchema.ValuesQuantiles)
        case cols => cols
      }
      val dropNumeric = cfg.getBool("do_drop_numeric_value")
        .orElse(cfg.getBool("drop_numeric_value")).getOrElse(false)
      val codeFormat = cfg.getStr("code_with_bin_name").orElse(cfg.getStr("code_format"))
        .getOrElse("{code}//value_[{left},{right})")
      m => {
        val fileBins = binsPath.map { p =>
          val text = java.nio.file.Files.readString(java.nio.file.Paths.get(p))
          parseBins(if (p.endsWith(".yaml") || p.endsWith(".yml")) Yaml.parse(text, p)
            else Cfg.fromJson(text))
        }.getOrElse(Map.empty[String, Seq[Double]])
        BinNumericValues(m.data, m.codes, binWithColumns = binWith,
          customBins = fileBins ++ inline, dropNumeric = dropNumeric, codeFormat = codeFormat)
      }
    }
  }
}
