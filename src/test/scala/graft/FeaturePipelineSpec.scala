package graft

import org.apache.spark.sql.functions._

/** The committed temporal feature pipeline (config/feature_pipeline.yaml)
  * through graft.Main equals the direct library composition — the
  * config-layer guarantee on top of the gate's full-chain DuckDB replay.
  */
class FeaturePipelineSpec extends SparkSpec {

  test("feature_pipeline YAML through Main equals direct asOf + trailing") {
    import spark.implicits._
    val rng = new scala.util.Random(17)
    val clicks = (0L until 400L).map(i =>
      (i, rng.nextInt(6).toLong, rng.nextInt(100000).toLong * 1000L))
      .toDF("event_id", "user_id", "t")
    val views = (0L until 150L).map(i =>
      (rng.nextInt(7).toLong, rng.nextInt(100000).toLong * 1000L, 1000L + i))
      .toDF("user_id", "view_ts_us", "view_event_id")

    val tmp = java.nio.file.Files.createTempDirectory("graft_feature_spec").toString
    views.write.mode("overwrite").parquet(s"$tmp/views.parquet")
    def empty(schema: org.apache.spark.sql.types.StructType) =
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    graft.meds.MedsIO.write(graft.meds.MedsData(clicks,
      empty(graft.meds.MedsSchema.codesSchema),
      empty(graft.meds.MedsSchema.splitsSchema)), s"$tmp/in")
    Main.run(Array(Queries.FeatureYaml, s"$tmp/in", s"$tmp/out",
      s"stages.enrich_view.right_path=$tmp/views.parquet"), spark)
    val got = graft.meds.MedsIO.read(spark, s"$tmp/out").data
      .select("event_id", "user_id", "t", "view_ts_us", "view_event_id", "n_1h")

    val direct = graft.operators.RollingAgg.trailing(
      graft.operators.AsOfJoin.asOf(clicks, views, Seq("user_id"),
        "t", "view_ts_us", Seq("view_ts_us", "view_event_id"),
        dedupRight = Some("view_event_id")),
      Seq("user_id"), "t", 3600000000L, Seq("n_1h" -> count(lit(1))))
      .select("event_id", "user_id", "t", "view_ts_us", "view_event_id", "n_1h")
    assert(collectSet(got) === collectSet(direct))
    assert(got.count() == 400)
  }
}
