package graft

import org.apache.spark.sql.SparkSession
import graft.config.PipelineConfig
import graft.meds.MedsIO
import graft.operators.Pipeline

/** Pipeline CLI — the `MEDS_transform-pipeline` analog (reference
  * runner.py:291-370): run a config-defined stage pipeline over a MEDS
  * dataset root. With `--stage=<name>` it is the `MEDS_transform-stage`
  * analog instead (pyproject.toml:48): exactly one named stage runs.
  *
  * {{{
  * sbt "runMain graft.Main <pipeline.{json,yaml}> <inputRoot> <outputRoot> \
  *   [checkpointRoot] [--stage=<name>] [dotted.path=value ...]"
  * }}}
  *
  * Trailing `dotted.path=value` args are Hydra-style config overrides
  * (`stages.occlude_outliers.stddev_cutoff=3`, or `stage_cfg.<key>=v` with
  * `--stage=` — the reference's per-stage override surface). The reference's
  * `--multirun worker="range(0,n)" hydra/launcher=...` worker-parallelization
  * args are accepted and ignored: Spark's task scheduling IS the worker pool.
  *
  * Under `--multirun`, a comma-valued override is a Hydra VALUE SWEEP
  * (`stage_cfg.cutoff=1,2,3` → three pipeline runs, the reference's
  * runner.py:30-111 multirun semantics): the cartesian product of every
  * swept override runs, job `i` writing to `<outputRoot>/run_<i>` (and
  * checkpointing under `<checkpointRoot>/run_<i>`), mirroring Hydra's
  * numbered `multirun/` job dirs. Quoted values and flow collections
  * (`[...]`/`{...}`) are never split; without `--multirun` a comma value
  * stays one literal string, exactly as Hydra treats it.
  *
  * The pipeline JSON mirrors the reference's YAML surface (see
  * config.PipelineConfig). Where the reference launches a subprocess per
  * stage with file-lock workers and mandatory per-stage disk round-trips,
  * this driver runs every stage on one SparkSession and writes once at the
  * end (intermediate checkpoints available via Pipeline.run's `checkpoints`).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession(master = sys.env.get("SPARK_MASTER"))
    try run(args, spark) finally spark.stop()
  }

  /** CLI body on a caller-owned session (testable without session teardown). */
  def run(args: Array[String], spark: SparkSession): Unit = {
    // --stage=<name>: run exactly ONE named stage of the pipeline — the
    // `MEDS_transform-stage <pipeline.yaml> <stage>` entry point
    // (reference pyproject.toml:48, __main__.py run_stage) and the shape a
    // cluster orchestrator uses at scale: one stage per submitted job,
    // chained through the MEDS roots on shared storage
    val (flags, rest0) = args.partition(_.startsWith("--"))
    flags.foreach(f => require(f.startsWith("--stage=") || f == "--multirun" ||
      f == "--list-stages", s"unknown flag: $f"))
    // registry discoverability — the analog of listing the reference's
    // MEDS_transforms.stages entry points (pyproject.toml:53-65)
    if (flags.contains("--list-stages")) {
      PipelineConfig.registeredStages.toSeq.sorted.foreach(println)
      return
    }
    val stageOnly = flags.collectFirst {
      case f if f.startsWith("--stage=") => f.stripPrefix("--stage=")
    }
    // the reference's `--multirun` surface exists ONLY to spawn file-lock
    // worker processes (`worker="range(0,n)"` + `hydra/launcher=...`,
    // runner.py:30-111); Spark subsumes that parallelism in task scheduling
    // (SURVEY §2 S4-S6), so those args are accepted and ignored — a reference
    // invocation runs unmodified, with one engine doing the worker fan-out
    val (launcherArgs, rest) = rest0.partition(a =>
      a.startsWith("worker=") || a.startsWith("hydra/launcher=") ||
        a.startsWith("hydra.launcher."))
    val multirun = flags.contains("--multirun")
    if (multirun || launcherArgs.nonEmpty)
      println("[graft] ignoring worker/launcher parallelization args " +
        s"(${launcherArgs.mkString(" ")}): Spark schedules the workers")
    // Hydra-style `dotted.path=value` overrides, the reference's per-
    // invocation config-edit surface (runner.py:252-288): applied to the
    // parsed pipeline tree before stages build. `stage_cfg.<key>` addresses
    // the --stage target, matching `MEDS_transform-stage <yaml> <stage>
    // stage_cfg.x=y` invocations.
    val (overrideArgs, positional) = rest.partition(_.matches("[A-Za-z_][A-Za-z0-9_.]*=.*"))
    val overrides = overrideArgs.toSeq.map { o =>
      if (!o.startsWith("stage_cfg.")) o
      else {
        require(stageOnly.isDefined, s"override '$o': stage_cfg.* requires --stage=<name>")
        s"stages.${stageOnly.get}.${o.stripPrefix("stage_cfg.")}"
      }
    }
    require(positional.length == 3 || positional.length == 4,
      "usage: graft.Main <pipeline.{json,yaml}> <inputRoot> <outputRoot> " +
        "[checkpointRoot] [--stage=<name>] [dotted.path=value ...]")
    val Array(pipelineFile, inputRoot, outputRoot) = positional.take(3)
    // with a checkpoint root, every stage persists to <root>/<idx>_<name> and
    // a re-run resumes after the last completed stage (runner.py .done files)
    val checkpointRoot = positional.lift(3)
    graft.plans.GraftExtensions.register(spark)

    val jobs = sweepJobs(overrides, multirun)
    if (jobs.lengthCompare(1) == 0)
      runPipeline(spark, pipelineFile, inputRoot, outputRoot, checkpointRoot,
        jobs.head, stageOnly)
    else {
      // Hydra's multirun.yaml analog: which run_<i> was which combo —
      // written up front so even an aborted sweep is reproducible
      MedsIO.writeMultirunManifest(outputRoot, jobs)
      jobs.zipWithIndex.foreach { case (combo, i) =>
        println(s"[graft] multirun job $i: ${combo.mkString(" ")}")
        runPipeline(spark, pipelineFile, inputRoot, s"$outputRoot/run_$i",
          checkpointRoot.map(r => s"$r/run_$i"), combo, stageOnly)
      }
    }
  }

  /** Hydra value sweeps: under --multirun an unquoted, non-collection comma
    * value fans one override into one-per-value; the job list is the
    * cartesian product across swept overrides (applied in argument order).
    * Without --multirun the comma stays inside one literal value (Hydra's
    * behavior exactly) — silently running a single job with the literal
    * "1,2,3" under --multirun was the r5-flagged semantic gap.
    */
  private[graft] def sweepJobs(overrides: Seq[String], multirun: Boolean): Seq[Seq[String]] = {
    def choices(o: String): Seq[String] = {
      val eq = o.indexOf('=')
      val v = o.substring(eq + 1)
      val atomic = !multirun || !v.contains(',') ||
        Seq("[", "{", "\"", "'").exists(v.startsWith)
      if (atomic) Seq(o)
      else v.split(',').toSeq.map(p => o.substring(0, eq + 1) + p.trim)
    }
    overrides.map(choices).foldLeft(Seq(Seq.empty[String])) {
      (acc, cs) => for { a <- acc; c <- cs } yield a :+ c
    }
  }

  private def runPipeline(spark: SparkSession, pipelineFile: String,
      inputRoot: String, outputRoot: String, checkpointRoot: Option[String],
      overrides: Seq[String], stageOnly: Option[String]): Unit = {
    val parsed = PipelineConfig.fromFile(pipelineFile, overrides)
    parsed.description.foreach(d => println(s"[graft] pipeline: $d"))
    // per-pipeline engine conf: applied for the duration of this run, then
    // restored — two pipelines on one session must not leak settings into
    // each other
    parsed.conf.foreach { case (k, v) => println(s"[graft] conf: $k=$v") }
    LocalSession.withConf(spark, parsed.conf)(runPipelineStages(spark, parsed,
      inputRoot, outputRoot, checkpointRoot, stageOnly))
  }

  private def runPipelineStages(spark: SparkSession,
      parsed: PipelineConfig.Parsed, inputRoot: String, outputRoot: String,
      checkpointRoot: Option[String], stageOnly: Option[String]): Unit = {
    val stages = stageOnly match {
      case Some(n) =>
        val s = parsed.stages.filter(_.name == n)
        require(s.nonEmpty,
          s"--stage=$n: not in pipeline (${parsed.stages.map(_.name).mkString(", ")})")
        s
      case None => parsed.stages
    }
    println(s"[graft] stages: ${stages.map(_.name).mkString(" -> ")}")

    // checkpoint dirs are indexed by the stage's position in the FULL
    // pipeline, so a --stage run and a full run share the same dirs and a
    // chained per-stage orchestration still resumes off completed work
    val checkpoints = checkpointRoot.map { root =>
      parsed.stages.zipWithIndex.collect {
        case (s, i) if stages.exists(_.name == s.name) &&
            !parsed.noCheckpoint(s.name) =>
          s.name -> f"$root/$i%02d_${s.name}"
      }.toMap
    }.getOrElse(Map.empty[String, String])
    val input = MedsIO.read(spark, inputRoot)
    val (out, persisted) = Pipeline.runTracked(spark, input, stages, checkpoints)
    MedsIO.write(out, outputRoot)
    // release the fork-point caches now that the output root is committed —
    // a shared session running many pipelines must not accumulate entries
    persisted.foreach(_.unpersist(false))
    MedsIO.writeDatasetMetadata(outputRoot,
      MedsIO.readDatasetMetadata(inputRoot).getOrElse("dataset_name", "dataset"),
      // provenance must list the stages that actually RAN (one stage in
      // --stage mode), not the whole pipeline definition
      "graft-" + stages.map(_.name).mkString("+"))
    // count from the just-written root — counting `out` would re-execute
    // the whole un-checkpointed pipeline lineage. Footer metadata first
    // (zero jobs — a read-back + count here was 5 of the CLI's fixed-floor
    // jobs); a root too large for driver-side footer reads falls back to
    // the distributed count.
    val counts = for {
      d <- graft.plans.ParquetStats.rowCount(spark, s"$outputRoot/data")
      c <- graft.plans.ParquetStats.rowCount(spark,
        s"$outputRoot/metadata/codes.parquet")
    } yield (d, c)
    val (dataRows, codeRows) = counts.getOrElse {
      val written = MedsIO.read(spark, outputRoot)
      (written.data.count(), written.codes.count())
    }
    println(s"[graft] wrote $dataRows data rows, " +
      s"$codeRows code-metadata rows to $outputRoot")
  }
}
