package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The session factory: `SPARK_GRAFT_CPUS` resolution, its settings on the
  * live shared session (no second session is built), and that it stays the
  * only place a session is built. Also guards against new test-side mains. */
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

  test("no source file other than the factory builds a SparkSession") {
    val builder = "SparkSession\\.builder\\(\\)".r
    val offenders = sources().collect {
      case (p, text) if p.getFileName.toString != "LocalSession.scala" &&
        builder.findFirstIn(text).isDefined => p.toString
    }.sorted
    assert(offenders.isEmpty, s"build sessions through graft.LocalSession: ${offenders.mkString(", ")}")
  }

  test("no test-side main outside the x10 replica tools") {
    // checks belong in suites `sbt test` runs; only the x10 builders stay mains
    val allowed = Set("ScaleUpBench.scala", "ScaleUpSuite.scala")
    val main = """\bdef\s+main\b""".r
    val offenders = sources().collect {
      case (p, text) if p.startsWith(Paths.get("src", "test")) &&
        !allowed(p.getFileName.toString) && main.findFirstIn(text).isDefined => p.toString
    }.sorted
    assert(offenders.isEmpty, s"move these checks into a suite: ${offenders.mkString(", ")}")
    assert(!Files.exists(Paths.get("src/main/scala/graft/DecontamCrossover.scala")))
  }
}
