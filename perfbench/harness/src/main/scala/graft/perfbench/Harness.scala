package graft.perfbench

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import graft.config.PipelineConfig
import graft.meds.MedsIO
import graft.operators.Pipeline
import graft.plans.{GraftExtensions, ParquetStats}

/** One benchmark process, launched fresh by `perfbench/run.py`.
  *
  * It builds the session exactly as `graft.Main.main` does, then runs one
  * cold pipeline pass and, for `seconds`, warm passes of the same pipeline
  * in the same JVM. Every pass writes to its own fresh output (and
  * checkpoint) root, so no pass resumes from another's checkpoints.
  *
  * Untraced passes call `graft.Main.run` itself. Traced passes make the
  * calls `Main.run` makes, in its order, with a span around each, and a
  * [[Collector]] attributes Spark jobs to spans by job group.
  *
  * usage: Harness <spec.json>; the result is written to the spec's
  * `result` path as JSON.
  */
object Harness {
  private val mapper = new ObjectMapper()

  def epochS(): Double = {
    val t = java.time.Instant.now()
    t.getEpochSecond + t.getNano / 1e9
  }

  final case class Spec(mode: String, cpus: Int, config: String, input: String,
      overrides: Seq[String], checkpoint: Boolean, passRoot: String,
      seconds: Double, trace: Boolean, result: String)

  private def readSpec(path: String): Spec = {
    val n = mapper.readTree(new java.io.File(path))
    def s(k: String) = n.path(k).asText("")
    Spec(s("mode"), n.path("cpus").asInt(4), s("config"), s("input"),
      n.path("overrides").elements().asScala.map(_.asText).toSeq,
      n.path("checkpoint").asBoolean(false), s("pass_root"),
      n.path("seconds").asDouble(1.0), n.path("trace").asBoolean(false),
      s("result"))
  }

  def main(args: Array[String]): Unit = {
    val mainStart = epochS()
    val spec = readSpec(args(0))
    val result = new java.util.LinkedHashMap[String, Any]()
    if (spec.mode == "oracles") {
      // the two corpus gates' DuckDB replays, reused as output checks
      Seq("analysis_pipeline", "curation_pipeline")
        .foreach(g => result.put(g, graft.Queries.oracleSql(g)))
      mapper.writeValue(new java.io.File(spec.result), result)
      return
    }
    // graft.Main.main's session, with the core count made explicit
    val spark = SparkSession.builder()
      .master(s"local[${spec.cpus}]")
      .appName("graft-pipeline")
      .config("spark.sql.shuffle.partitions", spec.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(spark)
    result.put("main_start", mainStart)
    result.put("ready", epochS())
    result.put("heap_max_mb", Runtime.getRuntime.maxMemory / 1048576.0)
    try result.put("passes", runPasses(spark, spec))
    finally spark.stop()
    result.put("vm_hwm_kb", vmHwmKb())
    mapper.writerWithDefaultPrettyPrinter().writeValue(
      new java.io.File(spec.result), result)
  }

  /** The cold pass, then warm passes until `seconds` have gone by. Traced
    * runs alternate traced and untraced warm passes, so the tracing
    * overhead is measured against a base from the same JVM; the untraced
    * pass runs after the traced one, on a warmer JVM, which makes the
    * estimate an upper bound.
    */
  private def runPasses(spark: SparkSession, spec: Spec): java.util.List[Any] = {
    val passes = new java.util.ArrayList[Any]()
    passes.add(runPass(spark, spec, 0, spec.trace))
    val deadline = System.nanoTime() + (spec.seconds * 1e9).toLong
    val minWarm = if (spec.trace) 2 else 1
    var i = 1
    while (i <= minWarm || System.nanoTime() < deadline) {
      spark.catalog.clearCache()
      passes.add(runPass(spark, spec, i, spec.trace && i % 2 == 1))
      i += 1
    }
    passes
  }

  private def runPass(spark: SparkSession, spec: Spec, idx: Int,
      traced: Boolean): java.util.Map[String, Any] = {
    val out = s"${spec.passRoot}/pass_$idx/out"
    val ckpt = if (spec.checkpoint) Some(s"${spec.passRoot}/pass_$idx/ckpt") else None
    val before = JvmCounters.read()
    val pass = new java.util.LinkedHashMap[String, Any]()
    pass.put("idx", idx)
    pass.put("traced", traced)
    pass.put("out", out)
    val t0 = System.nanoTime()
    // a fresh listener per traced pass, removed after it: untraced passes
    // run with no job groups, and only a job counter when the run is traced
    val tracer = if (traced) Some(new Tracer(spark, s"p$idx")) else None
    val counter = if (spec.trace && !traced) Some(new JobCounter(spark)) else None
    try tracer match {
      case Some(t) => tracedPipeline(spark, spec, out, ckpt, t)
      case None => graft.Main.run(
        (Seq(spec.config, spec.input, out) ++ ckpt ++ spec.overrides).toArray, spark)
    } catch {
      case NonFatal(e) => pass.put("error", s"${e.getClass.getName}: ${e.getMessage}")
    }
    pass.put("pipeline_s", (System.nanoTime() - t0) / 1e9)
    pass.put("end", epochS())
    pass.put("jvm", JvmCounters.read().minus(before))
    counter.foreach(c => pass.put("jobs", c.finish()))
    tracer.foreach { t =>
      pass.put("spans", t.finish(spec.cpus))
      pass.put("cache.persisted_mb", t.persistedMb)
    }
    pass
  }

  /** The calls `graft.Main.run` makes for a full-pipeline run (no
    * `--stage`, no sweep), in its order, each inside a named span. It is a
    * copy of Main's sequence; `run.py` checks that a traced warm pass fires
    * as many jobs as the untraced `Main.run` pass after it, so a change to
    * Main that this copy misses fails the traced run.
    */
  private def tracedPipeline(spark: SparkSession, spec: Spec, out: String,
      ckpt: Option[String], t: Tracer): Unit = t.span("pipeline") {
    val parsed = t.span("config.load") {
      PipelineConfig.fromFile(spec.config, spec.overrides)
    }
    val explicitlySet = spark.conf.getAll
    val saved = parsed.conf.map { case (k, _) => k -> explicitlySet.get(k) }
    parsed.conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val stages = parsed.stages
      val checkpoints = ckpt.map { root =>
        stages.zipWithIndex.collect {
          case (s, i) if !parsed.noCheckpoint(s.name) =>
            s.name -> f"$root/$i%02d_${s.name}"
        }.toMap
      }.getOrElse(Map.empty[String, String])
      val input = t.span("meds.read")(MedsIO.read(spark, spec.input))
      val (res, persisted) = t.span("operators.run") {
        Pipeline.runTracked(spark, input, stages, checkpoints)
      }
      t.span("meds.write")(MedsIO.write(res, out))
      t.persistedMb = spark.sparkContext.getRDDStorageInfo
        .map(r => r.memSize + r.diskSize).sum / 1048576.0
      t.span("meds.finalize") {
        persisted.foreach(_.unpersist(false))
        MedsIO.writeDatasetMetadata(out,
          MedsIO.readDatasetMetadata(spec.input).getOrElse("dataset_name", "dataset"),
          "graft-" + stages.map(_.name).mkString("+"))
        val counts = for {
          d <- ParquetStats.rowCount(spark, s"$out/data")
          c <- ParquetStats.rowCount(spark, s"$out/metadata/codes.parquet")
        } yield (d, c)
        counts.getOrElse {
          val written = MedsIO.read(spark, out)
          (written.data.count(), written.codes.count())
        }
      }
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def vmHwmKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong
    }.getOrElse(0L)
    finally src.close()
  }
}

/** JVM-wide counters, read before and after a pass. */
final case class JvmCounters(codegenNs: Long, codegenClasses: Long,
    jitMs: Long, gcMs: Long) {
  def minus(o: JvmCounters): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("codegen.compile_s", (codegenNs - o.codegenNs) / 1e9)
    m.put("codegen.classes", codegenClasses - o.codegenClasses)
    m.put("jit.compile_s", (jitMs - o.jitMs) / 1e3)
    m.put("gc.pause_s", (gcMs - o.gcMs) / 1e3)
    m
  }
}

object JvmCounters {
  import java.lang.management.ManagementFactory
  def read(): JvmCounters = JvmCounters(
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum)
}
