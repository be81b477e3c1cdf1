package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: build a FULL replicated-scale dataset dir — every table the
  * gates read (documents, embeddings, events) — so the whole hash suite and
  * the whole bench can run at the next order of magnitude (a point
  * measurement of one query is not a suite pass).
  *
  * The tables reuse [[ScaleUpBench]]'s conventions (affine alphabet
  * permutations, per-replica float scaling, disjoint user/event ids) so
  * per-stage work scales ~linearly in k.
  *
  * Usage: Test/runMain graft.ScaleUpSuite <sfDir> <outRoot> <k>
  * Writes <outRoot>/x<k>/<table>.parquet for the three tables; then
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.Verify <outRoot>/x<k> <dump>"
  *   python3 tools/compare.py <outRoot>/x<k> <dump> --fork
  * is the suite pass at scale.
  */
object ScaleUpSuite {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outRoot, kArg) = args.take(3)
    val k = kArg.toInt
    val spark = LocalSession()
    val dir = s"$outRoot/x$k"

    def t(name: String): DataFrame = spark.read.parquet(s"$sfDir/$name.parquet")
    def write(df: DataFrame, name: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    /** Union k copies with the named key columns shifted by
      * replica-disjoint offsets (offset per column = i·step). Guard: the
      * fixed steps below only keep replicas disjoint while every source key
      * fits under its step — for a source dir past roughly sf50 the shifted
      * ranges would overlap and silently merge distinct ids, so assert
      * max(key) < step up front instead.
      */
    def shifted(df: DataFrame, k: Int, shifts: (String, Long)*): DataFrame = {
      val maxes = df.select(shifts.map { case (c, _) =>
        max(col(c).cast("long")).as(c) }: _*).head()
      shifts.zipWithIndex.foreach { case ((c, step), idx) =>
        val mx = if (maxes.isNullAt(idx)) 0L else maxes.getLong(idx)
        require(mx < step,
          s"replica step for '$c' ($step) <= max key ($mx): shifted replicas " +
            "would overlap — raise the step for this source scale")
      }
      (0 until k).map { i =>
        shifts.foldLeft(df) { case (d, (c, step)) =>
          d.withColumn(c, col(c) + lit(i * step))
        }
      }.reduce(_ unionByName _)
    }

    write(ScaleUpBench.replicate(t("documents"), k), "documents",
      math.max(k / 2, 4))
    // DIRECTION-perturbed replicas, not ScaleUpBench's pure (1 + i/1024)
    // scaling: offsetting coordinate 0 by i/16 changes each replica's
    // direction, so no two replicas of a vector are exact cosine ties
    // (SMOKE.md round 15: scaled replicas made cosine rank order inside a
    // tie group degenerate to fp-ulps).
    val maxVecId = t("embeddings")
      .agg(max(col("vec_id").cast("long"))).head.getLong(0)
    require(maxVecId < 10_000_000L,
      s"embeddings vec_id step (10M) <= max vec_id ($maxVecId): replicas " +
        "would overlap")
    write((0 until k).map { i =>
      t("embeddings")
        .withColumn("vec_id", col("vec_id") + lit(i.toLong * 10_000_000L))
        .withColumn("embedding",
          if (i == 0) col("embedding")
          else transform(col("embedding"), (v, idx) =>
            when(idx === 0, (v + lit(i / 16.0f)).cast("float"))
              .otherwise((v * lit(1.0f + i / 1024.0f)).cast("float"))))
    }.reduce(_ unionByName _), "embeddings", math.max(k / 4, 2))
    write(shifted(t("events"), k,
      "event_id" -> 100_000_000L, "user_id" -> 10_000_000L),
      "events", math.max(k / 2, 4))

    println(s"[scale-suite] wrote x$k tables under $dir")
    spark.stop()
  }
}
