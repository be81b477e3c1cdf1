package graft

import graft.obs.{Collector, Records}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** Gate profiler: where a gate's time goes, one mode per question.
  *
  * {{{
  * sbt "runMain graft.Profile <time|jobs|stages|plan|scan> <sfDir> \
  *   <gate,...|all> [iters] [spark.key=value ...]"
  * sbt "runMain graft.Profile jobs --pipeline <pipeline.yaml> <medsRoot> \
  *   [iters] [--checkpoint] [spark.key=value ...] [dotted.path=value ...]"
  * }}}
  *
  *  - `time`: seconds of each of `iters` full materializations
  *    ([[Bench.force]]) and their min — the per-gate A/B loop.
  *  - `jobs`: after one warm run, each job's wall, the idle gap since the
  *    previous job ended (driver planning and codegen), its SQL execution
  *    id with that execution's action (adaptive stage jobs carry only a
  *    thread-pool call site of their own), its call site, then a totals
  *    line. With `--pipeline` the profiled run is one `graft.Main` run of
  *    the pipeline over the MEDS root, written into a temp root, with the
  *    trailing `dotted.path=value` overrides; `--checkpoint` gives each run
  *    a fresh checkpoint root (a shared one would resume-skip every stage).
  *  - `stages`: after one warm run, each stage's task count, run and cpu
  *    time, shuffle write/read and spill, then the executed plan.
  *  - `plan`: the formatted physical explain of each gate's analyzed plan
  *    (pre-execution); redirect it to `plans/<round>/…` for evidence files.
  *  - `scan`: runs each gate and lists those whose final plan scans the same
  *    table more than once ([[graft.plans.PlanLint]] `duplicate-scan`) — a
  *    review list, not a failure.
  *
  * `jobs` and `stages` attach no listener of their own: each timed run goes
  * through [[graft.obs.Collector.measure]] and the mode prints its records.
  *
  * `iters` (default 1) is the number of timed runs per gate for `time`,
  * `jobs` and `stages`; the walls include building the gate. Trailing
  * `spark.key=value` args are session conf for A/B runs (e.g. AQE off).
  */
object Profile {
  private val usage = "usage: graft.Profile <time|jobs|stages|plan|scan> " +
    "<sfDir> <gate,...|all> [iters] [spark.key=value ...] | graft.Profile jobs " +
    "--pipeline <pipeline.yaml> <medsRoot> [iters] [--checkpoint] " +
    "[spark.key=value ...] [dotted.path=value ...]"

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, usage)
    val Array(mode, target, arg) = args.take(3)
    val (kvArgs, rest0) = args.drop(3).toSeq.partition(_.contains("="))
    val (confArgs, overrides) = kvArgs.partition(_.startsWith("spark."))
    val (checkpoint, rest) = (rest0.contains("--checkpoint"), rest0.filterNot(_ == "--checkpoint"))
    require(target == "--pipeline" || (overrides.isEmpty && !checkpoint),
      s"config overrides and --checkpoint apply to --pipeline only; $usage")
    val spark = LocalSession(conf = LocalSession.parseConf(confArgs))
    try {
      if (target == "--pipeline") {
        require(mode == "jobs", s"--pipeline profiles jobs only; $usage")
        require(rest.nonEmpty, usage)
        pipelineJobs(spark, arg, rest.head, rest.lift(1).fold(1)(_.toInt),
          overrides, checkpoint)
      } else {
        val iters = rest.headOption.fold(1)(_.toInt)
        val gates =
          if (arg == "all") SparkEntry.queries.keys.toSeq.sorted
          else arg.split(",").map(_.trim).toSeq
        val profile: (SparkSession, String, String, Int) => Unit = mode match {
          case "time" => time
          case "jobs" => (s, d, g, n) => jobs(s, g, n)(Bench.force(gate(s, d, g)))
          case "stages" => stages
          case "plan" => (s, d, g, _) => plan(s, d, g)
          case "scan" => (s, d, g, _) => scan(s, d, g)
          case other => throw new IllegalArgumentException(s"unknown mode $other; $usage")
        }
        if (mode != "plan") LocalSession.warm(spark)
        gates.foreach(g => profile(spark, target, g, iters))
        if (mode == "scan") println("AUDIT done")
      }
    } finally spark.stop()
  }

  private def gate(spark: SparkSession, dir: String, name: String): DataFrame =
    SparkEntry.queries(name)(spark, dir)

  private def time(spark: SparkSession, dir: String, name: String, iters: Int): Unit = {
    val times = (1 to iters).map { _ =>
      val t0 = System.nanoTime()
      Bench.force(gate(spark, dir, name))
      (System.nanoTime() - t0) / 1e9
    }
    println(f"$name%-24s min=${times.min}%.2f  " +
      times.map(t => f"$t%.2f").mkString(" "))
  }

  /** Run `body` once to warm, then `iters` times under
    * [[graft.obs.Collector.measure]], handing each run's result, wall
    * seconds (the body alone) and records to `report`. */
  private def traced[A](spark: SparkSession, name: String, iters: Int)(
      body: => A)(report: (A, Double, Records) => Unit): Unit = {
    body
    println(s"=== timed run: $name")
    for (_ <- 1 to iters) {
      val ((res, wall), records) = Collector.measure(spark) {
        val t0 = System.nanoTime()
        val res = body
        (res, (System.nanoTime() - t0) / 1e9)
      }
      report(res, wall, records)
    }
  }

  /** `jobs` over one `graft.Main` run per pass (with `overrides`), each
    * into a fresh dir — and with `checkpoint`, a fresh checkpoint root —
    * under one temp root (removed afterwards). */
  private def pipelineJobs(spark: SparkSession, config: String, medsRoot: String,
      iters: Int, overrides: Seq[String], checkpoint: Boolean): Unit = {
    val root = java.nio.file.Files.createTempDirectory("graft_profile").toFile
    var pass = 0
    try jobs(spark, config, iters) {
      pass += 1
      Main.run(Array(config, medsRoot, s"$root/pass_$pass") ++
        Option.when(checkpoint)(s"$root/ckpt_$pass") ++ overrides, spark)
      -1L // rows: Main prints what it wrote
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root)
  }

  /** `body` materializes the profiled run once and returns its row count
    * (negative when it has none). */
  private def jobs(spark: SparkSession, name: String, iters: Int)(
      body: => Long): Unit =
    traced(spark, name, iters)(body) { (rows, wall, records) =>
      var prevEnd = 0L
      var sumWall = 0.0
      var sumGap = 0.0
      records.jobs.sortBy(_.start).foreach { j =>
        val w = (j.end - j.start) / 1e3
        val gap = if (prevEnd == 0) 0.0 else math.max(0, j.start - prevEnd) / 1e3
        sumWall += w; sumGap += gap
        prevEnd = math.max(prevEnd, j.end)
        val exec = j.execution.fold("exec=-")(e =>
          s"exec=$e ${records.executions.getOrElse(e, "?")} |")
        println(f"[job] ${j.id}%-4d wall=$w%6.3fs gap=$gap%6.3fs  " +
          s"$exec ${j.callSite}".take(150))
      }
      val rowsCell = if (rows >= 0) s"rows=$rows " else ""
      println(f"${rowsCell}wall=$wall%.2f s  jobs=${records.jobs.size} " +
        f"sumJobWall=$sumWall%.2f sumGap=$sumGap%.2f")
    }

  private def stages(spark: SparkSession, dir: String, name: String, iters: Int): Unit =
    traced(spark, name, iters) {
      val df = gate(spark, dir, name)
      (df, Bench.force(df))
    } { case ((df, rows), wall, records) =>
      records.stages.foreach { s =>
        val m = s.metrics
        println(f"[stage] id=${s.id}%-4d tasks=${s.tasks}%-4d " +
          f"run=${m.executorRunTime / 1e3}%7.1fs " +
          f"cpu=${m.executorCpuTime / 1e9}%7.1fs " +
          f"shufW=${m.shuffleWriteMetrics.bytesWritten / 1e6}%8.1fMB " +
          f"shufR=${m.shuffleReadMetrics.remoteBytesRead / 1e6 +
            m.shuffleReadMetrics.localBytesRead / 1e6}%8.1fMB " +
          f"spillMem=${m.memoryBytesSpilled / 1e6}%8.1fMB " +
          f"spillDisk=${m.diskBytesSpilled / 1e6}%8.1fMB  ${s.name}")
      }
      println(f"rows=$rows wall=$wall%.2f s")
      println("=== executed plan")
      println(df.queryExecution.executedPlan.toString.take(8000))
    }

  private def plan(spark: SparkSession, dir: String, name: String): Unit = {
    println(s"\n================ $name ================")
    try println(gate(spark, dir, name).queryExecution.explainString(FormattedMode))
    catch { case e: Throwable => println(s"explain failed: $e") }
  }

  private def scan(spark: SparkSession, dir: String, name: String): Unit =
    try {
      val df = gate(spark, dir, name)
      df.collect() // finalizes df's OWN AdaptiveSparkPlan (count() would plan separately)
      val dup = graft.plans.PlanLint.check(df)
        .filter(_.kind == "duplicate-scan").map(_.detail)
      if (dup.nonEmpty) println(s"AUDIT $name: ${dup.mkString(", ")}")
      spark.catalog.clearCache()
    } catch { case e: Throwable => println(s"AUDIT $name: ERR ${e.getClass.getSimpleName}") }
}
