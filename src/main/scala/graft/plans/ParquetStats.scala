package graft.plans

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.format.converter.ParquetMetadataConverter.MetadataFilter
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{GraftParquetBridge, ParquetFooterReader}
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._

/** What parquet FOOTERS say about a file or directory, read on the driver
  * with no Spark job: its row count ([[rowCount]]) and its schema
  * ([[schema]]). Both read from the files `spark.read.parquet` would list
  * ([[listing]]).
  */
object ParquetStats {

  /** Exact row count of a parquet file/dir from footer metadata — zero
    * Spark jobs (the runner's post-write count otherwise pays a full
    * read + count per table). None — fall back to a distributed count —
    * when the path is missing or holds no parquet files (a missing path is
    * indistinguishable from a layout-convention drift in the caller, and
    * printing "wrote 0 rows" on a drift would mask it), when it holds more
    * than `MaxCountFiles` files (driver-side serial footer reads stop
    * paying there), or when a footer is unreadable. Only `.parquet` data
    * files count.
    */
  val MaxCountFiles = 256

  def rowCount(spark: SparkSession, dir: String,
      maxFiles: Int = MaxCountFiles): Option[Long] = {
    val conf = spark.sessionState.newHadoopConf()
    try listing(conf, dir).flatMap { listed =>
      val files = listed.filter(p =>
        p.getName.endsWith(".parquet") && !isSummary(p.getName)).take(maxFiles + 1).toSeq
      if (files.isEmpty || files.length > maxFiles) None
      else Some(files.iterator.map(f =>
        footer(conf, f, ParquetMetadataConverter.NO_FILTER)
          .getBlocks.asScala.iterator.map(_.getRowCount).sum).sum)
    } catch { case _: Exception => None }
  }

  /** The schema `spark.read.parquet(path)` infers, from ONE footer read on
    * the driver. Spark's reader infers it with a job even when it reads only
    * one footer; a read handed this schema runs none. Like Spark's inference
    * without schema merging, it reads the first data file in path order and
    * converts its footer with Spark's own code. None — let Spark infer —
    * when schema merging is on (`spark.sql.parquet.mergeSchema`), when a
    * `_metadata` or `_common_metadata` summary file is listed (Spark reads
    * that first), when the path holds no data file, or when the footer is
    * unreadable.
    */
  def schema(spark: SparkSession, path: String): Option[StructType] =
    if (spark.sessionState.conf.isParquetSchemaMergingEnabled) None
    else {
      val conf = spark.sessionState.newHadoopConf()
      try listing(conf, path).flatMap { listed =>
        val files = listed.toSeq
        if (files.exists(p => isSummary(p.getName))) None
        else files.sortBy(_.toString).headOption.flatMap(f =>
          GraftParquetBridge.footerSchema(spark, f,
            footer(conf, f, ParquetMetadataConverter.SKIP_ROW_GROUPS)))
      } catch { case _: Exception => None }
    }

  /** The files Spark's listing of `path` returns (the path itself if it is
    * a file), lazily and unordered: data files and the parquet summary
    * files (`_metadata`, `_common_metadata`), which are never read as
    * data. Below `path`, every file and directory name follows Spark's
    * hidden-path rule (`HadoopFSUtils
    * .shouldFilterOutPathName`): a name starting with '.', or with '_' and
    * holding no '=', is skipped with everything under it (`_temporary`
    * from an aborted write, `.staging`, `_SUCCESS`), and so is an in-flight
    * `._COPYING_` file; partition dirs on '_'-prefixed columns
    * (`_year=2020/`) and the summary files stay. None when the path is
    * missing, or holds a streaming sink's `_spark_metadata` log: Spark then
    * reads only the files that log commits, not this listing.
    */
  private def listing(conf: Configuration, path: String): Option[Iterator[Path]] = {
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root) || fs.exists(new Path(root, "_spark_metadata"))) None
    else {
      val rootUri = fs.makeQualified(root).toUri.getPath
      val it = fs.listFiles(root, true)
      Some(Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath)
        .filterNot(_.toUri.getPath.stripPrefix(rootUri).split('/').exists(hidden)))
    }
  }

  private def isSummary(name: String): Boolean =
    name.startsWith("_metadata") || name.startsWith("_common_metadata")

  private def hidden(name: String): Boolean =
    (name.startsWith(".") || (name.startsWith("_") && !name.contains("=")) ||
      name.endsWith("._COPYING_")) && !isSummary(name)

  private def footer(conf: Configuration, file: Path,
      filter: MetadataFilter): ParquetMetadata =
    ParquetFooterReader.readFooter(HadoopInputFile.fromPath(file, conf), filter)
}
