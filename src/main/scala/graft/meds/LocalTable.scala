package graft.meds

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

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
    * already a `LocalRelation` (no job), else its rows pulled with one
    * bounded collect. More than `MaxRows` rows fail, naming `stage` and the
    * cap; a truncated table is never returned.
    */
  def apply(df: DataFrame, stage: String): DataFrame = apply(df, stage, MaxRows)

  private[graft] def apply(df: DataFrame, stage: String, cap: Int): DataFrame =
    if (isLocal(df)) df
    else {
      val rows = df.limit(cap + 1).collect()
      if (rows.length > cap) throw new IllegalStateException(
        s"stage $stage: the metadata table has more than $cap rows, the cap " +
          "for a driver-local table")
      df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
    }

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]
}
