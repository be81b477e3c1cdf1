package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Test fixture: writes a hash-bucketed catalog table, so a later equi-join
  * or aggregation on the bucket key plans no Exchange. Spark's scan of such
  * a table reports `HashPartitioning(bucketCols, numBuckets)` (plus output
  * ordering when `sortCols` are given). Read it back with
  * `spark.table(name)`: a path read sees plain parquet files and shuffles.
  * BucketedJoinSpec and GoldenSpec check the exchange-free plan shape.
  */
object BucketedLayout {

  def writeBucketed(df: DataFrame, tableName: String, bucketCols: Seq[String],
      numBuckets: Int, sortCols: Seq[String] = Nil): Unit = {
    require(bucketCols.nonEmpty, "writeBucketed: bucketCols must be non-empty")
    require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
    // align write partitions with buckets (same murmur3 pmod both sides):
    // each task then owns exactly one bucket and writes ONE file for it. A
    // multi-file bucket forfeits the sortBy guarantee, so merge joins would
    // sort again.
    val aligned = df.repartition(numBuckets, bucketCols.map(col): _*)
    val w = aligned.write.mode("overwrite").format("parquet")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(tableName)
  }
}
