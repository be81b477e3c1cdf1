package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Trailing time-range aggregates (RANGE frame: every row sees the
  * aggregate of its key's rows within `[t − range, t]`) — the rolling
  * feature-engineering primitive (trailing counts/sums/rates per user,
  * host, session).
  *
  * [[trailing]] is the native RANGE-frame window: one shuffle on the key,
  * exact frame arithmetic. Like every per-key timeline op, a key holding
  * most of the corpus sorts in one task.
  */
object RollingAgg {

  /** @param aggs (outputName, aggregate expression) pairs — the expression
    *             is attached to the trailing window via `.over`
    * @param range trailing window size in the time column's own units;
    *              the time column must be numeric (convert timestamps with
    *              `unix_micros` first — the RANGE frame needs exact integer
    *              arithmetic, not a cast)
    */
  def trailing(df: DataFrame, keyCols: Seq[String], timeCol: String,
      range: Long, aggs: Seq[(String, Column)]): DataFrame = {
    require(keyCols.nonEmpty, "trailing: at least one key column")
    require(range >= 0, s"trailing: range must be >= 0, got $range")
    require(df.schema(timeCol).dataType.isInstanceOf[
        org.apache.spark.sql.types.NumericType],
      s"trailing: $timeCol must be numeric (unix_micros a timestamp first) " +
        "— the RANGE frame needs exact arithmetic")
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(timeCol))
      .rangeBetween(-range, 0)
    aggs.foldLeft(df) { case (d, (n, a)) => d.withColumn(n, a.over(w)) }
  }
}
