package graft

import graft.plans.ParquetStats

/** Footer row counts and schemas: exact for committed data, None where a
  * Spark job must decide.
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

  test("schema: what a read infers, from one footer; None where Spark must infer") {
    val dir = tmp("schema")
    def read(path: String) = spark.read.parquet(path)
    def footerRead(path: String) =
      spark.read.schema(ParquetStats.schema(spark, path).get).parquet(path)
    Seq((1L, "a", Seq(1.5f), Map("k" -> 2))).toDF("id", "v", "xs", "m")
      .repartition(2).write.parquet(s"$dir/t")
    assert(footerRead(s"$dir/t").schema == read(s"$dir/t").schema)
    // a leftover at another schema, under _temporary, is not listed
    spark.range(2).toDF("stale").coalesce(1).write.parquet(s"$dir/stale")
    val stale = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/stale"))
      .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
    val leftover = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/t/_temporary/0"))
    java.nio.file.Files.copy(stale, leftover.resolve("part-00000.parquet"))
    assert(footerRead(s"$dir/t").schema == read(s"$dir/t").schema)
    // a single file, and a partitioned dir (the partition column comes from
    // the path, not the footer)
    assert(footerRead(stale.toString).schema == read(stale.toString).schema)
    Seq((1L, "x"), (2L, "y")).toDF("id", "p").write.partitionBy("p").parquet(s"$dir/part")
    assert(footerRead(s"$dir/part").schema == read(s"$dir/part").schema)
    // missing, empty or unreadable: Spark's reader gives the error
    assert(ParquetStats.schema(spark, s"$dir/nope").isEmpty)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/emptyd"))
    assert(ParquetStats.schema(spark, s"$dir/emptyd").isEmpty)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/emptyd/x.parquet"), "no")
    assert(ParquetStats.schema(spark, s"$dir/emptyd").isEmpty)
    // schema merging reads every footer
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try assert(ParquetStats.schema(spark, s"$dir/t").isEmpty)
    finally spark.conf.unset("spark.sql.parquet.mergeSchema")
    // a summary file is what Spark reads first
    java.nio.file.Files.copy(stale, java.nio.file.Paths.get(s"$dir/t/_common_metadata"))
    assert(ParquetStats.schema(spark, s"$dir/t").isEmpty)
  }
}
