package graft

import org.apache.spark.sql.functions._

/** Dev tool: the floor-amortization probe for the EVENTS-table composed
  * gates (the documents-table variant is ScaleUpBench): replicate
  * events.parquet k× with shifted event/user ids — k× keys at constant
  * per-key density, so asof/rolling/pipeline work scales linearly — and
  * time the named gates per scale. DuckDB side:
  * `python3 tools/bench_scale.py <oracleJson> <outRoot> <k...> <queries…>`.
  * Run ONE scale per JVM (the ScaleUpBench contamination lesson).
  *
  * Usage: Test/runMain graft.ScaleUpFeature <sfDir> <outRoot> <iters> <k> [q...]
  */
object ScaleUpFeature {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outRoot = args(1)
    val iters = args(2).toInt
    val k = args(3).toInt
    val queries = if (args.length > 4) args.drop(4).toSeq
      else Seq("asof_join", "rolling_agg", "feature_pipeline")
    val spark = LocalSession()
    LocalSession.warm(spark)

    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    val dir = s"$outRoot/x$k"
    (0 until k).map { i =>
      ev.withColumn("event_id", col("event_id") + lit(i.toLong * 100_000_000L))
        .withColumn("user_id", col("user_id") + lit(i.toLong * 10_000_000L))
    }.reduce(_ unionByName _)
      .repartition(math.max(k, 4))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    for (q <- queries) {
      try Bench.force(SparkEntry.queries(q)(spark, dir))
      catch { case e: Throwable => println(s"WARM FAIL $q: $e") }
      var rows = 0L
      val ts = (1 to iters).map { _ =>
        spark.catalog.clearCache(); System.gc()
        val t0 = System.nanoTime()
        rows = Bench.force(SparkEntry.queries(q)(spark, dir))
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[feat] $q%-20s k=$k%-3d rows=$rows%-9d min=${ts.min}%.2f")
    }
    spark.stop()
  }
}
