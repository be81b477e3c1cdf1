package graft.plans

/** Row counts read from parquet FOOTER metadata
  * ([[rowCount]]), with no Spark job.
  */
object ParquetStats {

  /** Exact row count of a parquet file/dir from footer metadata — zero
    * Spark jobs (the runner's post-write count otherwise pays a full
    * read + count per table). None — fall back to a distributed count —
    * when the path is missing or holds no parquet files (a missing path is
    * indistinguishable from a layout-convention drift in the caller, and
    * printing "wrote 0 rows" on a drift would mask it), when it holds more
    * than `MaxCountFiles` files (driver-side serial footer reads stop
    * paying there), or when a footer is unreadable. Files under hidden
    * directories (`_temporary` from an aborted write, `.staging`, …) are
    * skipped — they are not committed data.
    */
  val MaxCountFiles = 256

  def rowCount(spark: org.apache.spark.sql.SparkSession, dir: String,
      maxFiles: Int = MaxCountFiles): Option[Long] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(dir)
    try {
      val fs = root.getFileSystem(conf)
      if (!fs.exists(root)) return None
      val rootUri = fs.makeQualified(root).toUri.getPath
      def underHiddenDir(p: org.apache.hadoop.fs.Path): Boolean = {
        // any directory segment BELOW the queried root that Spark's listing
        // would hide — same rule as the leaf filter below ('.' always;
        // '_' only without '=', so partition dirs on '_'-prefixed columns
        // like `_year=2020/` still count)
        val rel = p.toUri.getPath.stripPrefix(rootUri).stripPrefix("/")
        rel.split('/').dropRight(1).exists(s =>
          s.startsWith(".") || (s.startsWith("_") && !s.contains("=")))
      }
      val it = fs.listFiles(root, true)
      val files = Iterator.continually(it)
        .takeWhile(_.hasNext).map(_.next().getPath)
        .filter { p =>
          // skip hidden leaf FILES too (`.part-…`, `_backup.parquet`):
          // this count stands in for what spark.read would see, so mirror
          // HadoopFsUtils.shouldFilterOutPathName ('.'-prefixed always
          // hidden; '_'-prefixed hidden unless the name contains '=') —
          // EXCEPT `_metadata`/`_common_metadata`, which Spark lists but
          // never reads as data (their footers replicate every part
          // file's row groups and would double-count here)
          val n = p.getName
          val hidden = n.startsWith(".") ||
            (n.startsWith("_") && !n.contains("="))
          n.endsWith(".parquet") && !hidden && !underHiddenDir(p)
        }
        .take(maxFiles + 1).toSeq
      if (files.isEmpty) return None
      if (files.length > maxFiles) return None
      var n = 0L
      files.foreach { f =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
        try reader.getFooter.getBlocks.asScala.foreach(b => n += b.getRowCount)
        finally reader.close()
      }
      Some(n)
    } catch { case _: Exception => None }
  }
}
