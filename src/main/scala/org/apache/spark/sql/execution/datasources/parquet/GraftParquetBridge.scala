package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Bridge into `private[parquet]` Spark internals (a bridge in
  * `org.apache.spark.sql` cannot see them).
  */
object GraftParquetBridge {
  /** The schema Spark's parquet inference derives from one footer: the
    * footer's Spark row-metadata key when present, else the parquet schema
    * converted with the session's converter settings (binary-as-string,
    * INT96, timestamp-NTZ and nanos-as-long).
    */
  def footerSchema(spark: SparkSession, file: Path,
      footer: ParquetMetadata): Option[StructType] =
    ParquetFileFormat.readSchema(Seq(new Footer(file, footer)), spark)
}
