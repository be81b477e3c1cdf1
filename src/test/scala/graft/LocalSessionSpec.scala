package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The session factory: `SPARK_GRAFT_CPUS` resolution, its settings on the
  * live shared session (no second session is built), and that it stays the
  * only place a session is built. */
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

  test("no source file other than the factory builds a SparkSession") {
    val src = Paths.get("src")
    assert(Files.isDirectory(src), s"run from the repository root (cwd ${Paths.get("").toAbsolutePath})")
    val builder = "SparkSession\\.builder\\(\\)".r
    val walk = Files.walk(src)
    val offenders =
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "LocalSession.scala")
        .filter(p => builder.findFirstIn(Files.readString(p)).isDefined)
        .map(_.toString).toSeq.sorted
      finally walk.close()
    assert(offenders.isEmpty, s"build sessions through graft.LocalSession: ${offenders.mkString(", ")}")
  }
}
