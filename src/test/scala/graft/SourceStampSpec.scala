package graft

/** Staleness stamps of staged-input sources: a rewrite anywhere under a
  * parquet directory must change the stamp, or the relation memo and the
  * build-once staging markers serve stale data.
  */
class SourceStampSpec extends SparkSpec {
  import spark.implicits._

  test("a part file rewritten in place changes a parquet dir's stamp") {
    import java.nio.file.{Files, StandardCopyOption}
    val root = Files.createTempDirectory("graft_stamp")
    val dir = root.resolve("t.parquet")
    Seq((1L, "a")).toDF("id", "v").coalesce(1).write.parquet(dir.toString)
    Seq((2L, "bb"), (3L, "ccc")).toDF("id", "v").coalesce(1)
      .write.parquet(root.resolve("other").toString)
    def part(d: java.nio.file.Path) = {
      val s = Files.list(d)
      try s.filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
      finally s.close()
    }
    val marker = root.resolve("marker")
    Queries.writeMarker(marker, dir.toString)
    val before = Queries.sourceStamp(dir.toString)
    val dirTime = Files.getLastModifiedTime(dir)
    Files.copy(part(root.resolve("other")), part(dir),
      StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(dir, dirTime)
    assert(Queries.sourceStamp(dir.toString) != before)
    assert(!Queries.markerFresh(marker, dir.toString))
  }
}
