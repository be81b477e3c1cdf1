package graft

import graft.plans.ParquetStats

/** Footer row counts: exact for committed data, None where a distributed
  * count must decide.
  */
class ParquetStatsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_pqstats_$name").toString

  test("rowCount: footer-exact counts; missing/empty paths and _temporary fall back") {
    val dir = tmp("rowcount")
    Seq.tabulate(37)(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartition(3).write.mode("overwrite").parquet(s"$dir/t")
    assert(ParquetStats.rowCount(spark, s"$dir/t") === Some(37L))
    // missing path: None (fall back to the real count) — a path-convention
    // drift must not print "wrote 0 rows" (ADVICE r10)
    assert(ParquetStats.rowCount(spark, s"$dir/nope") === None)
    // dir exists but holds no parquet: None, not Some(0)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/emptyd"))
    assert(ParquetStats.rowCount(spark, s"$dir/emptyd") === None)
    // leftover _temporary files from an aborted write must not inflate the count
    val stale = java.nio.file.Paths.get(s"$dir/t/_temporary/0")
    java.nio.file.Files.createDirectories(stale)
    Seq((99L, "stale")).toDF("id", "v").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/staging")
    val part = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/staging"))
      .filter(p => p.getFileName.toString.endsWith(".parquet")).findFirst().get()
    java.nio.file.Files.copy(part, stale.resolve("leftover.parquet"))
    assert(ParquetStats.rowCount(spark, s"$dir/t") === Some(37L))
    // hidden LEAF files (Spark's reader skips '.'/'_'-prefixed names) must
    // not count either...
    java.nio.file.Files.copy(part,
      java.nio.file.Paths.get(s"$dir/t/.hidden_copy.parquet"))
    java.nio.file.Files.copy(part,
      java.nio.file.Paths.get(s"$dir/t/_backup.parquet"))
    assert(ParquetStats.rowCount(spark, s"$dir/t") === Some(37L))
    // ...but partition dirs on '_'-prefixed columns DO (Spark's '='
    // exception): footer count matches what spark.read sees
    Seq.tabulate(5)(i => (i.toLong, s"p$i")).toDF("id", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/part/_year=2020")
    assert(ParquetStats.rowCount(spark, s"$dir/part") === Some(5L))
  }
}
