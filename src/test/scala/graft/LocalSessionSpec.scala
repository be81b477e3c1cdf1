package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** The session factory: `SPARK_GRAFT_CPUS` resolution, its settings on the
  * live shared session (no second session is built), and that it stays the
  * only place a session is built. Also guards against new test-side mains
  * and against Spark listeners outside the graft.obs collector. */
class LocalSessionSpec extends SparkSpec {

  test("cpus: unset or * = all cores, a positive integer as given, else an error") {
    val all = Runtime.getRuntime.availableProcessors
    assert(LocalSession.parseCpus(None) == all)
    assert(LocalSession.parseCpus(Some("*")) == all)
    assert(LocalSession.parseCpus(Some("8")) == 8)
    for (bad <- Seq("0", "x")) {
      val e = intercept[IllegalArgumentException](LocalSession.parseCpus(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
    }
  }

  test("the shared session carries the factory settings") {
    val conf = spark.sparkContext.getConf
    assert(conf.get("spark.master") == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.ui.enabled") == "false")
  }

  /** Every `*.scala` file under `src` as (path, contents). */
  private def sources(): Seq[(Path, String)] = {
    val src = Paths.get("src")
    assert(Files.isDirectory(src), s"run from the repository root (cwd ${Paths.get("").toAbsolutePath})")
    val walk = Files.walk(src)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => p -> Files.readString(p)).toList
    finally walk.close()
  }

  /** Paths of the `sources()` that `exempt` does not cover and that match `pattern`. */
  private def offenders(pattern: Regex)(exempt: Path => Boolean): Seq[String] =
    sources().collect {
      case (p, text) if !exempt(p) && pattern.findFirstIn(text).isDefined => p.toString
    }.sorted

  test("no source file other than the factory builds a SparkSession") {
    val bad = offenders("SparkSession\\.builder\\(\\)".r)(_.getFileName.toString == "LocalSession.scala")
    assert(bad.isEmpty, s"build sessions through graft.LocalSession: ${bad.mkString(", ")}")
  }

  test("no source file other than the collector attaches a Spark listener") {
    // graft.obs.Collector.measure owns drain/attach/drain/detach; this spec
    // is exempt because it spells the patterns out
    val api = """\b((add|remove)SparkListener|(extends|new)\s+SparkListener|GraftListenerBridge|listenerBus)\b""".r
    val bad = offenders(api)(p =>
      p.endsWith("graft/obs/Collector.scala") || p.endsWith("LocalSessionSpec.scala"))
    assert(bad.isEmpty, s"measure through graft.obs.Collector: ${bad.mkString(", ")}")
  }

  test("no test-side main outside the x10 replica tools") {
    // checks belong in suites `sbt test` runs; only the x10 builders stay mains
    val allowed = Set("ScaleUpBench.scala", "ScaleUpSuite.scala")
    val bad = offenders("""\bdef\s+main\b""".r)(p =>
      !p.startsWith(Paths.get("src", "test")) || allowed(p.getFileName.toString))
    assert(bad.isEmpty, s"move these checks into a suite: ${bad.mkString(", ")}")
    assert(!Files.exists(Paths.get("src/main/scala/graft/DecontamCrossover.scala")))
  }
}
