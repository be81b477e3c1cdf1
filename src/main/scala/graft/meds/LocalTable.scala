package graft.meds

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD

/** A fitted metadata table held on the driver.
  *
  * The code-metadata side table has one row per code and modifiers (995 on
  * the `meds_etl` perfbench root), so the metadata fits pull it to the
  * driver once and hand on a `LocalRelation`-backed frame: later stages
  * broadcast it, the next fit joins it and the writer writes it without
  * re-running the aggregation behind it, and nothing is left in executor
  * storage to free.
  */
object LocalTable {

  /** The most rows a fitted metadata table may have. Above it the fit fails
    * instead of pulling the table: at a few hundred bytes per row the cap
    * is a few hundred MB of driver heap, inside the 1 GiB default of
    * `spark.driver.maxResultSize`.
    */
  val MaxRows: Int = 1000000

  /** `df` as a driver-local frame: `df` itself when its optimized plan is
    * already a `LocalRelation`, an empty `LocalRelation` for an RDD with no
    * partition (both with no job), else its rows pulled with one bounded
    * collect. More than `MaxRows` rows fail, naming `owner` and the cap; a
    * truncated table is never returned.
    */
  def apply(df: DataFrame, owner: String): DataFrame = apply(df, owner, MaxRows)

  private[graft] def apply(df: DataFrame, owner: String, cap: Int): DataFrame =
    df.queryExecution.optimizedPlan match {
      case _: LocalRelation => df
      case _ if localRows(df).isDefined => // an RDD with no partition
        df.sparkSession.createDataFrame(java.util.Collections.emptyList[Row], df.schema)
      case _ =>
        val rows = df.limit(cap + 1).collect()
        if (rows.length > cap) throw new IllegalStateException(
          s"$owner: the metadata table has more than $cap rows, the cap for a " +
            "driver-local table")
        df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
    }

  /** The rows of a driver-local frame, found with no job: a `LocalRelation`'s
    * own rows, or none for an RDD with no partition (what
    * `createDataFrame(emptyRDD, schema)` makes). None for any other frame.
    */
  private[graft] def localRows(df: DataFrame): Option[Seq[InternalRow]] =
    df.queryExecution.optimizedPlan match {
      case l: LocalRelation => Some(l.data)
      case _: LogicalRDD if df.queryExecution.toRdd.getNumPartitions == 0 => Some(Nil)
      case _ => None
    }
}
