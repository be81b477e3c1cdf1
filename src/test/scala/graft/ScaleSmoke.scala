package graft

import org.apache.spark.sql.functions._
import graft.meds.{MedsData, MedsIO}
import graft.meds.MedsSchema._
import graft.config.PipelineConfig
import graft.operators.Pipeline

object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession()
    def time[T](n: String)(f: => T): T = { val t0 = System.nanoTime(); val r = f
      println(f"SMOKE $n ${(System.nanoTime()-t0)/1e9}%.1f s"); r }

    // 10M events over 200k subjects, 3 splits
    val nSubj = 200000L
    val data = spark.range(0, 10000000, 1, 64).select(
      pmod(col("id"), lit(nSubj)).as(SubjectId),
      timestamp_micros(lit(1700000000000000L) + col("id") * 1000000L).as(Time),
      concat(lit("C"), pmod(col("id"), lit(500))).as(Code),
      (col("id") % 97).cast("float").as(NumericValue))
    val splits = spark.range(0, nSubj).select(col("id").as(SubjectId),
      when(pmod(col("id"), lit(10)) < 8, "train")
        .when(pmod(col("id"), lit(10)) === 8, "tuning")
        .otherwise("held_out").as(Split))
    val meds = MedsData(data, spark.range(0).select(col("id").cast("string").as(Code)), splits)

    val tmp = java.nio.file.Files.createTempDirectory("graft_scale").toString
    // reshard: 200k subjects / 20k per shard -> 8 train shards etc.
    val stages = PipelineConfig.fromJson(
      """{"stages": [{"reshard_to_split": {"n_subjects_per_shard": 20000, "seed": 3}}]}""").stages
    val out = time("reshard 10M rows (distributed assignment + layout write)") {
      Pipeline.run(spark, meds, stages, Map("reshard_to_split" -> s"$tmp/rs"))
    }
    val back = MedsIO.read(spark, s"$tmp/rs")
    time("read-back validation") {
      val n = back.data.count()
      require(n == 10000000L, s"row count $n")
      val shardCounts = back.data.groupBy(Split, Shard).agg(countDistinct(SubjectId).as("ns"))
        .collect()
      val bad = shardCounts.filter(_.getLong(2) > 20000)
      require(bad.isEmpty, s"oversized shards: ${bad.toSeq}")
      println(s"SMOKE shards=${shardCounts.length} maxSubj=${shardCounts.map(_.getLong(2)).max}")
      val multi = back.data.select(SubjectId, Split, Shard).distinct()
        .groupBy(SubjectId).count().filter(col("count") > 1).count()
      require(multi == 0, "subject in two shards")
    }
    // .shards.json: 200k subject ids streamed
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$tmp/rs/.shards.json")))
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    var total = 0L
    val it = node.fieldNames()
    while (it.hasNext) total += node.get(it.next()).size()
    require(total == nSubj, s"shards.json ids $total")
    println(s"SMOKE shards.json ok (${json.length/1024} KiB, $total ids)")

    // global row number with >256 partitions: exercises the broadcast-join
    // offsets fallback path
    val wide = data.repartition(300)
    val numbered = time("withGlobalRowNumber 10M rows, 300 partitions (join fallback)") {
      val df = graft.functions.GraftFunctions.withGlobalRowNumber(
        wide, "pos", Seq(col(SubjectId), col(Time)))
      val mx = df.agg(max("pos"), countDistinct("pos")).head()
      require(mx.getLong(0) == 10000000L && mx.getLong(1) == 10000000L, s"$mx")
      df
    }
    println("SMOKE all ok")
    spark.stop()
  }
}
