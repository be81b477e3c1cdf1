package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.meds.{MedsData, MedsSchema}
import graft.operators.Pipeline

/** Pins the fork-point auto-persist decision rule of Pipeline.runTracked
  * (VERDICT r15 #3: the rule was probe-measured — SMOKE.md "Round 15:
  * fork-point auto-persist" — but no assertion protected it). The four branches:
  *   1. a Metadata stage entered with a DIRTY data lineage persists exactly
  *      once (MEMORY_AND_DISK) and returns the frame for later unpersist;
  *   2. a raw-scan lineage (no transforming stage yet) never persists —
  *      caching a bare parquet scan would defeat column pruning;
  *   3. a checkpointed pipeline (the `checkpointRoot` path) never persists —
  *      the checkpoint read resets the lineage, explicit placement wins;
  *   4. `initialDirty = true` marks a non-scan input so the FIRST fork
  *      persists it (the r15-advice gap: callers handing in an
  *      already-transformed lineage previously got no persist).
  * Plus the Main contract: unpersisting the returned frames drops them to
  * StorageLevel.NONE (Main.scala does this after the root commits).
  */
class AutoPersistSpec extends SparkSpec {

  private def freshInput(): (MedsData, String) = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_apspec").toString
    medsDf(
      (1L, "2024-01-01 00:00:00", "lab//A", 1.0),
      (1L, "2024-01-02 00:00:00", "lab//B", 2.0),
      (2L, "2024-01-03 00:00:00", "lab//A", 3.0))
      .write.mode("overwrite").parquet(s"$dir/data")
    val data = spark.read.parquet(s"$dir/data")
    val splits = data.select(col(MedsSchema.SubjectId)).distinct()
      .withColumn(MedsSchema.Split, lit("train"))
    splits.write.mode("overwrite").parquet(s"$dir/splits")
    (MedsData(data,
      data.select(col(MedsSchema.Code)).limit(0),
      spark.read.parquet(s"$dir/splits")), dir)
  }

  private val transformStage = Pipeline.DataStage("upper_codes",
    m => m.data.withColumn(MedsSchema.Code, upper(col(MedsSchema.Code))))
  private def aggStage(name: String) = Pipeline.MetadataStage(name,
    m => m.data.groupBy(MedsSchema.Code)
      .agg(count(lit(1)).as("code/n_occurrences")))

  test("dirty fork persists once, MEMORY_AND_DISK, and unpersist releases") {
    val (in, _) = freshInput()
    // two consecutive metadata stages: the SECOND sees a clean (persisted)
    // lineage, so exactly one persist fires for the pair
    val (out, persisted) = Pipeline.runTracked(spark, in,
      Seq(transformStage, aggStage("agg1"), aggStage("agg2")))
    assert(persisted.size == 1, s"expected one fork persist, got $persisted")
    assert(persisted.head.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(out.codes.count() == 2) // LAB//A, LAB//B — pipeline still correct
    // the Main contract after the final write commits
    persisted.foreach(_.unpersist(true))
    assert(persisted.head.storageLevel == StorageLevel.NONE)
  }

  test("raw-scan lineage never persists") {
    val (in, _) = freshInput()
    val (_, persisted) = Pipeline.runTracked(spark, in,
      Seq(aggStage("agg_raw")))
    assert(persisted.isEmpty,
      s"a bare parquet scan must not be cached, got $persisted")
  }

  test("checkpointed stage resets the lineage: no persist") {
    val (in, dir) = freshInput()
    val (_, persisted) = Pipeline.runTracked(spark, in,
      Seq(transformStage, aggStage("agg_ckpt")),
      checkpoints = Map("upper_codes" -> s"$dir/ckpt_upper"))
    assert(persisted.isEmpty,
      "checkpoint read precedes the fork; explicit placement must win")
    assert(Pipeline.isComplete(spark, s"$dir/ckpt_upper"))
  }

  test("autoPersist=false disables the heuristic entirely") {
    val (in, _) = freshInput()
    val (_, persisted) = Pipeline.runTracked(spark, in,
      Seq(transformStage, aggStage("agg_off")), autoPersist = false)
    assert(persisted.isEmpty)
  }

  test("initialDirty marks a non-scan input for the first fork") {
    val (in0, _) = freshInput()
    val in = in0.withData( // an already-transformed lineage handed in
      in0.data.withColumn(MedsSchema.Code,
        regexp_replace(col(MedsSchema.Code), "//", "|")))
    val (_, without) = Pipeline.runTracked(spark, in, Seq(aggStage("agg_nd")))
    assert(without.isEmpty, "default still treats the input as a scan")
    val (_, withFlag) = Pipeline.runTracked(spark, in,
      Seq(aggStage("agg_id")), initialDirty = true)
    assert(withFlag.size == 1 &&
      withFlag.head.storageLevel == StorageLevel.MEMORY_AND_DISK)
    withFlag.foreach(_.unpersist(true))
  }
}
