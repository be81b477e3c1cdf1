package graft

import org.apache.spark.sql.functions._

/** Dev tool: measures the fork-point auto-persist added in round 15
  * (Pipeline.runTracked) on a metadata-bearing MEDS pipeline at scale —
  * the mechanical answer to VERDICT r14 #3 ("checkpoint placement is
  * manual; a user composing a new pipeline gets Spark's
  * no-common-subplan-dedup behavior with no guidance").
  *
  * Shape: a 6.4M-row MEDS-ified events table (the x64 replicated dir) →
  * one transforming data stage (per-row string/arith work, so the lineage
  * is genuinely expensive to re-execute) → aggregate_code_metadata (the
  * fork: its aggregation AND the final root write each traverse the data
  * lineage) → MedsIO.write. Timed min-of-iters with autoPersist OFF vs ON.
  *
  * Run: `sbt "Test/runMain graft.AutoPersistProbe [iters]"` (needs
  * target/scale_dirs/x64/events.parquet from ScaleUpBench; falls back to
  * testdata sf0.1 events if absent). Committed numbers in SMOKE.md.
  */
object AutoPersistProbe {
  def main(args: Array[String]): Unit = {
    val iters = args.headOption.map(_.toInt).getOrElse(3)
    val spark = LocalSession()

    val x64 = "target/scale_dirs/x64/events.parquet"
    val src = if (new java.io.File(x64).exists()) x64
      else "/root/testdata/sf0.1/events.parquet"
    val ev = Queries.restoreTs(spark.read.parquet(src))
    val data = ev.select(
      col("user_id").as(graft.meds.MedsSchema.SubjectId),
      col("ts").as(graft.meds.MedsSchema.Time),
      col("event_type").as(graft.meds.MedsSchema.Code),
      col("value").cast("float").as(graft.meds.MedsSchema.NumericValue))
      .filter(col(graft.meds.MedsSchema.Time).isNotNull)
    val splits = data.select(col(graft.meds.MedsSchema.SubjectId)).distinct()
      .withColumn(graft.meds.MedsSchema.Split, lit("train"))
    // materialize the INPUT once so both arms re-execute the same lineage
    // from a parquet scan, exactly like a pipeline reading a root
    val inRoot = java.nio.file.Files.createTempDirectory("graft_apersist_in")
    data.write.mode("overwrite").parquet(s"$inRoot/data")
    splits.write.mode("overwrite").parquet(s"$inRoot/splits")
    val n = spark.read.parquet(s"$inRoot/data").count()
    println(s"AUTO-PERSIST PROBE: $n input rows from $src")

    import graft.operators.Pipeline
    val stages = Seq(
      // a transforming stage whose re-execution is genuinely expensive:
      // per-row regex normalization + derived numeric
      Pipeline.DataStage("normalize_codes", m =>
        m.data
          .withColumn(graft.meds.MedsSchema.Code,
            upper(regexp_replace(col(graft.meds.MedsSchema.Code),
              "[^A-Za-z0-9]+", "_")))
          .withColumn(graft.meds.MedsSchema.NumericValue,
            when(abs(col(graft.meds.MedsSchema.NumericValue)) < 1e6f,
              col(graft.meds.MedsSchema.NumericValue))
              .otherwise(lit(null).cast("float")))),
      Pipeline.MetadataStage("agg_codes", m =>
        graft.operators.AggregateCodeMetadata(m.data, m.codes,
          Seq("code/n_occurrences", "code/n_subjects", "values/n_occurrences",
            "values/sum", "values/sum_sqd"))))

    def arm(autoPersist: Boolean): Double = {
      val times = (1 to iters).map { _ =>
        spark.catalog.clearCache()
        System.gc()
        val d = spark.read.parquet(s"$inRoot/data")
        val in = graft.meds.MedsData(d,
          // an empty codes table WITH the code column, as MedsIO.read
          // yields for a root with no metadata
          d.select(col(graft.meds.MedsSchema.Code)).limit(0),
          spark.read.parquet(s"$inRoot/splits"))
        val outRoot = java.nio.file.Files.createTempDirectory("graft_apersist_out")
        val t0 = System.nanoTime()
        val (out, persisted) = Pipeline.runTracked(spark, in, stages,
          autoPersist = autoPersist)
        graft.meds.MedsIO.write(out, outRoot.toString)
        val dt = (System.nanoTime() - t0) / 1e9
        persisted.foreach(_.unpersist(true))
        dt
      }
      times.min
    }
    // warm both paths once (codegen/JIT), then alternate measured arms
    arm(autoPersist = false)
    val off = arm(autoPersist = false)
    val on = arm(autoPersist = true)
    println(f"AUTO-PERSIST PROBE: off=$off%.2f s  on=$on%.2f s  " +
      f"(${off / on}%.2fx; fork = metadata agg + final write over one " +
      "transformed lineage)")
    spark.stop()
  }
}
