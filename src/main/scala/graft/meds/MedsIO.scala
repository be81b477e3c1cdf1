package graft.meds

import graft.plans.ParquetStats
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** A MEDS dataset: the event-data table plus its two metadata side tables.
  *
  * Mirrors the reference's on-disk layout (sharded parquet under data/,
  * metadata/codes.parquet, metadata/subject_splits.parquet — see
  * /root/reference/src/MEDS_transforms/mapreduce/stage.py:64-168) but as live
  * DataFrames: the whole shard set is one DataFrame with `split`/`shard`
  * provenance columns so per-shard outputs remain reproducible.
  */
final case class MedsData(
    data: DataFrame,
    codes: DataFrame,
    splits: DataFrame
) {
  def withData(d: DataFrame): MedsData = copy(data = d)
  def withCodes(c: DataFrame): MedsData = copy(codes = c)
  def withSplits(s: DataFrame): MedsData = copy(splits = s)
}

object MedsIO {
  import MedsSchema._

  /** Read a MEDS dataset root (sharded parquet under data/ + metadata/).
    *
    * The shard identity is recovered from the file path (`split/shardIdx`),
    * replacing the reference's shard_iterator (shard_iteration.py:70-316):
    * under Spark the directory scan + partition pruning does the enumeration
    * and `trainOnly` becomes a filter Catalyst pushes into the scan.
    *
    * Opening a root runs no Spark job: each of the three reads is handed
    * the schema of one footer read on the driver ([[ParquetStats.schema]]),
    * which is what Spark's inference job would find. Where that helper
    * declines (no data file, summary files, schema merging on) the read
    * infers as before, so an empty `data/` fails with Spark's own error.
    */
  def read(spark: SparkSession, root: String): MedsData = {
    val data = readData(spark, root)
    // a root may hold data/ with no metadata yet — a missing codes table
    // falls back to empty (same contract as splits below)
    val codes = readMetadataTable(spark, s"$root/metadata/codes.parquet", codesSchema)
    // Only a *missing* splits table falls back to empty; a corrupt or
    // unreadable one must propagate (ADVICE r1: silently-empty splits made
    // trainOnly drop every row with no error surfaced).
    val splits = readMetadataTable(spark,
      s"$root/metadata/subject_splits.parquet", splitsSchema)
    MedsData(data, codes, splits)
  }

  /** Read one metadata side table. A missing table falls back to the
    * canonical empty frame (a root may hold data/ before any metadata
    * exists). A PRESENT single-file table whose footer proves 0
    * rows at the canonical column set ALSO resolves to that frame — both
    * footer checks are driver-side (no job), and restoring the
    * statically-empty LocalRelation is what lets the NEXT checkpoint's
    * metadata write skip its job again (a scan of the empty file would
    * defeat the plan-only local check on every downstream stage).
    * Non-canonical or non-empty tables read normally.
    */
  private def readMetadataTable(spark: SparkSession, path: String,
      canonical: StructType): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def emptyCanonical = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], canonical)
    if (!fs.exists(p)) return emptyCanonical
    val schema = ParquetStats.schema(spark, path)
    // name/type equality modulo nullability: an empty frame carries no
    // rows for nullability to matter, but a different column SET must
    // keep the file's own schema
    val canonicalColumns = schema.exists(s => s.length == canonical.length &&
      s.zip(canonical).forall { case (a, b) =>
        a.name == b.name && a.dataType == b.dataType })
    if (canonicalColumns && fs.getFileStatus(p).isFile &&
        ParquetStats.rowCount(spark, path).contains(0L)) emptyCanonical
    else readParquet(spark, path, schema)
  }

  /** `spark.read.parquet(path)`, handed `schema` when the footer gave one:
    * without it the reader runs a job to infer the same schema.
    */
  private def readParquet(spark: SparkSession, path: String,
      schema: Option[StructType], options: (String, String)*): DataFrame =
    schema.fold(spark.read)(spark.read.schema).options(options.toMap).parquet(path)

  /** The data-table half of read(): sharded parquet under `root/data` with
    * the shard identity recovered from the file path. A root carrying
    * `.shards.json` is a RESHARDED root (written by writeReshardedData):
    * its shard identity is restored as the integer index — the same
    * convention ReshardToSplit emits — so a checkpoint-resumed pipeline
    * keeps writing the resharded layout instead of silently reverting to
    * the default one.
    */
  private def readData(spark: SparkSession, root: String): DataFrame = {
    val dataDir = s"$root/data"
    val pathShard = readParquet(spark, dataDir, ParquetStats.schema(spark, dataDir),
      "recursiveFileLookup" -> "true") // shards live in split subdirs
      .withColumn(Shard,
        // Tolerate a Hive-style layout (data/split=train/...) by stripping the
        // partition-column prefix, so Shard is always "<split>/<file>". A
        // checkpointed flat root writes its empty split as Hive's default
        // partition dir — strip that too, restoring split="" so trainOnly's
        // splits-table fallback still applies after a round-trip.
        regexp_replace(
          regexp_replace(
            regexp_extract(input_file_name(), """.*/data/(.+)\.parquet""", 1),
            """^split=""", ""),
          """^__HIVE_DEFAULT_PARTITION__/""", ""))
      .withColumn(Split, regexp_extract(col(Shard), """^([^/]+)/""", 1))
    val shardsJson = new org.apache.hadoop.fs.Path(s"$root/.shards.json")
    if (shardsJson.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(shardsJson))
      // "<split>/<idx>.parquet" or "<split>/<idx>/<file>.parquet" -> idx
      pathShard.withColumn(Shard,
        regexp_extract(col(Shard), """^[^/]+/(\d+)""", 1).cast("int"))
    else pathShard
  }

  /** Marker committed LAST by write(): its presence proves data AND both
    * metadata tables finished (data/_SUCCESS alone only covers the data job
    * — a crash between it and the metadata writes must not look complete).
    */
  val CompleteMarker = "_GRAFT_COMPLETE"

  /** Write a MEDS dataset root. Data is written partitioned by shard columns
    * (split dirs) and sorted within partitions by (subject_id, time) — the
    * MEDS invariant that every window/agg operator relies on, and what makes
    * subject-disjoint per-shard reductions correct at 100 TB.
    *
    * On-disk layout matches the reference (`data/<split>/<file>.parquet`,
    * mapreduce/stage.py:64-101), NOT Hive's `data/split=<split>/`: the
    * partitioned write is followed by a metadata-only directory rename that
    * strips the `split=` prefix, so a graft-written root round-trips through
    * read() with the split value intact (ADVICE r1 high). Every file is
    * written with [[ParquetOptions]], and every timestamp column as MEDS'
    * INT64 microseconds ([[TimestampTypeConf]], set on the session for the
    * duration of the write).
    */
  def write(meds: MedsData, root: String): Unit =
    graft.LocalSession.withConf(meds.data.sparkSession, Seq(TimestampTypeConf))(
      writeRoot(meds, root))

  private def writeRoot(meds: MedsData, root: String): Unit = {
    val markerPath = new org.apache.hadoop.fs.Path(s"$root/$CompleteMarker")
    val markerFs = markerPath.getFileSystem(
      meds.data.sparkSession.sparkContext.hadoopConfiguration)
    markerFs.delete(markerPath, false) // a rewrite invalidates prior completion
    // An INTEGER `shard` column is an explicit reshard assignment
    // (ReshardToSplit output) and is persisted as the reference's resharded
    // layout `data/<split>/<shardIdx>.parquet` plus a root `.shards.json`
    // (reshard_to_split.py:264-333); the path-derived STRING shard from
    // read() is provenance only and takes the default layout.
    val intShard = meds.data.schema.fields
      .exists(f => f.name == Shard && f.dataType == org.apache.spark.sql.types.IntegerType)
    if (intShard) writeReshardedData(meds.data, root)
    else {
      // a stale .shards.json from an earlier resharded write to the same
      // dir would make read() misparse the new layout's shard identities
      val shardsJson = new org.apache.hadoop.fs.Path(s"$root/.shards.json")
      markerFs.delete(shardsJson, false)
      val withSplit =
        if (meds.data.columns.contains(Split)) meds.data
        else meds.data.withColumn(Split, lit(TrainSplit))
      // the path-derived shard provenance is re-created by read(); writing
      // it as a data column would add a field the MEDS layout doesn't have
      val bare = withSplit.drop(Shard)
      // the (subject_id, time) sorted layout is the MEDS invariant — but
      // the pipeline also carries NON-MEDS tables (a documents corpus
      // through the hygiene stages, a session table): for those, partition
      // by split alone instead of failing on absent MEDS columns
      val sortCols = Seq(SubjectId, Time).filter(bare.columns.contains)
      val arranged = sortCols match {
        // non-MEDS table (no subject/time): write as-is — each task emits
        // its own file per split it holds. Repartitioning on Split alone
        // would hash every row of a split into ONE task (a serialized
        // write at 100 TB) for no invariant in return.
        case Seq() => bare
        // Split leads the sort: the partitioned write needs its rows
        // grouped by Split, and a sort that does not lead with it is
        // replaced by the write's own sort on Split alone, leaving each
        // file as several (subject_id, time) runs
        case cs => bare.repartition(col(Split), col(cs.head))
          .sortWithinPartitions((Split +: cs).map(col): _*)
      }
      writeData(arranged, root, Split)
    }
    // the canonical file set stays on disk even for an empty table: the
    // reference's compute_fn reads metadata/codes.parquet unguarded, and
    // Main's footer row counts read it. Both tables are one file, as the
    // reference writes them. The codes table is driver-sized: a fitted or
    // empty table is written with no Spark job, one read back from a root or
    // a checkpoint after one bounded collect. The splits table (a row per
    // subject) is never pulled: unless it is already driver-local, a job
    // writes it as one partition.
    writeParquet(LocalTable(meds.codes, s"write of $root/metadata/codes.parquet"),
      s"$root/metadata/codes.parquet")
    writeParquet(meds.splits, s"$root/metadata/subject_splits.parquet")
    markerFs.create(markerPath, true).close()
  }

  /** The options of every parquet file graft writes into a MEDS root: zstd,
    * the codec of the reference's Polars `write_parquet`; v2 data pages; and
    * no dictionary for `time`, so its INT64 microseconds are stored
    * `DELTA_BINARY_PACKED` (sorted event times differ by small steps) instead
    * of as a dictionary of nearly every distinct time, which fits the 1 MiB
    * dictionary page and so never falls back. A format, not a setting.
    */
  private[graft] val ParquetOptions: Map[String, String] = Map(
    "compression" -> "zstd",
    "parquet.writer.version" -> "v2",
    s"parquet.enable.dictionary#$Time" -> "false")

  /** MEDS' own time type, `Datetime("us")`: INT64 `TIMESTAMP(MICROS)` on
    * disk, in place of Spark's INT96 default. Spark takes the timestamp type
    * only from the session conf (it overrides a write option), so write()
    * sets it for its duration and then restores the caller's value. Graft
    * never runs two MedsIO.write calls on one session at once; two
    * concurrent writes could restore each other's setting early.
    */
  private val TimestampTypeConf =
    org.apache.spark.sql.internal.SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key -> "TIMESTAMP_MICROS"

  /** The one parquet writer of a MEDS root. A partitioned write runs a
    * Spark job into the directory `path`. Any other write leaves ONE file at
    * `path`, replacing whatever stood there (maybe a directory from an
    * earlier write):
    *  - a driver-local frame (its rows are in the plan: a `LocalRelation`,
    *    or an RDD with no partition) is written from the driver with no job
    *    and no commit protocol, through Spark's own parquet writer, so the
    *    footer, timestamp type and options are those of a distributed write;
    *  - any other frame is written by a job as one partition, and its one
    *    part file is renamed onto `path` (a write split into several files,
    *    by `maxRecordsPerFile` say, keeps them in the directory `path`).
    */
  private def writeParquet(df: DataFrame, path: String, partitionBy: String*): Unit = {
    val spark = df.sparkSession
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def jobWrite(frame: DataFrame, to: String): Unit =
      frame.write.mode("overwrite").options(ParquetOptions).partitionBy(partitionBy: _*)
        .parquet(to)
    if (partitionBy.nonEmpty) jobWrite(df, path)
    else LocalTable.localRows(df) match {
      case Some(rows) =>
        val job = org.apache.hadoop.mapreduce.Job.getInstance(
          spark.sessionState.newHadoopConfWithOptions(ParquetOptions))
        val factory = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
          .prepareWrite(spark, job, ParquetOptions, df.schema)
        fs.delete(p, true)
        val writer = factory.newInstance(path, df.schema,
          new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(job.getConfiguration,
            new org.apache.hadoop.mapreduce.TaskAttemptID()))
        try rows.foreach(writer.write) finally writer.close()
      case None =>
        // written beside `path` under a hidden name, so `df` may be a scan of
        // `path` itself
        val staged = new org.apache.hadoop.fs.Path(p.getParent, s"_${p.getName}.staged")
        jobWrite(df.coalesce(1), staged.toString)
        val parts = fs.listStatus(staged).filter(_.getPath.getName.endsWith(".parquet"))
        fs.delete(p, true)
        if (parts.length == 1) {
          fs.rename(parts(0).getPath, p)
          fs.delete(staged, true)
        } else fs.rename(staged, p)
    }
  }

  /** Resharded data layout: one `data/<split>/<shardIdx>.parquet` file per
    * (split, shard) — the reference's exact on-disk shape, which read()
    * round-trips to shard name `"<split>/<shardIdx>"` with no special
    * casing. Each (split, shard) pair lands in exactly one task (the
    * repartition key), so each Hive partition dir holds one file and the
    * dir-to-file collapse is a metadata-only rename. Shards are bounded by
    * construction (n_subjects_per_shard), so one file per shard is the
    * scale-correct unit too. `.shards.json` is derived from the files just
    * written (layout-truthful) and streamed — never collected whole.
    */
  private def writeReshardedData(data: DataFrame, root: String): Unit = {
    val spark = data.sparkSession
    val splitDirs = writeData(data.repartition(col(Split), col(Shard))
      .sortWithinPartitions(Split, Shard, SubjectId, Time), root, Split, Shard)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    splitDirs.foreach { splitDir =>
      fs.listStatus(splitDir).foreach { sh =>
        val shName = sh.getPath.getName
        if (sh.isDirectory && shName.startsWith("shard=")) {
          val idx = shName.stripPrefix("shard=")
          val files = fs.listStatus(sh.getPath)
            .filter(_.getPath.getName.endsWith(".parquet"))
          if (files.length == 1) {
            // collapse dir/part-*.parquet -> <idx>.parquet (reference shape)
            fs.rename(files(0).getPath,
              new org.apache.hadoop.fs.Path(splitDir, s"$idx.parquet"))
            fs.delete(sh.getPath, true)
          } else {
            // multi-file shard (maxRecordsPerFile etc.): keep the dir; read()
            // still recovers a per-file shard id prefixed "<split>/<idx>/"
            fs.rename(sh.getPath, new org.apache.hadoop.fs.Path(splitDir, idx))
          }
        }
      }
    }
    val shardsJson = new org.apache.hadoop.fs.Path(s"$root/.shards.json")
    if (splitDirs.isEmpty) writeStringFile(shardsJson, "{}") // no shard to list
    else writeShardsJson(readData(spark, root), root)
  }

  /** The partitioned data write of both layouts. Spark writes Hive
    * `data/split=<v>/` dirs; each is renamed (metadata only) to the
    * reference's `data/<v>/`, and the renamed dirs are returned. With no row
    * there is no partition dir, and without a data file the root could not
    * be read back (Spark cannot infer a schema from `_SUCCESS` alone), so
    * one footer-only `data/empty.parquet` is left at the written columns.
    */
  private def writeData(df: DataFrame, root: String,
      partitionBy: String*): Seq[org.apache.hadoop.fs.Path] = {
    writeParquet(df, s"$root/data", partitionBy: _*)
    val dataPath = new org.apache.hadoop.fs.Path(s"$root/data")
    val fs = dataPath.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val splitDirs = fs.listStatus(dataPath).toSeq.collect {
      case st if st.isDirectory && st.getPath.getName.startsWith("split=") =>
        val dir = new org.apache.hadoop.fs.Path(dataPath, st.getPath.getName.stripPrefix("split="))
        fs.rename(st.getPath, dir)
        dir
    }
    if (splitDirs.isEmpty) writeParquet(df.sparkSession.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row],
      df.drop(partitionBy: _*).schema), s"$root/data/empty.parquet")
    splitDirs
  }

  /** Attach the engine-wide stable-order row index (monotonic within the
    * input order of each file split; globally ordered across partitions).
    */
  def withRowIdx(df: DataFrame): DataFrame =
    df.withColumn(RowIdx, monotonically_increasing_id())

  // Hadoop FS for the small JSON side files too — java.nio paths would break
  // the moment the root is s3://, hdfs:// etc. while parquet IO works fine
  private def fsFor(path: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileSystem = {
    val conf = org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    path.getFileSystem(conf)
  }

  private def writeStringFile(path: org.apache.hadoop.fs.Path, content: String): Unit = {
    val out = fsFor(path).create(path, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readStringFile(path: org.apache.hadoop.fs.Path): Option[String] = {
    val fs = fsFor(path)
    if (!fs.exists(path)) None
    else {
      val in = fs.open(path)
      try Some(new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    }
  }

  /** metadata/dataset.json (reference configs/dataset.py:17-53). */
  def writeDatasetMetadata(root: String, name: String, version: String,
      extra: Map[String, String] = Map.empty): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.createObjectNode()
    node.put("dataset_name", name)
    node.put("dataset_version", version)
    extra.foreach { case (k, v) => node.put(k, v) }
    writeStringFile(new org.apache.hadoop.fs.Path(s"$root/metadata/dataset.json"),
      mapper.writerWithDefaultPrettyPrinter.writeValueAsString(node))
  }

  /** `<sweepRoot>/multirun.json` — the analog of Hydra's `multirun.yaml`:
    * the job-index → override-combo mapping of a `--multirun` value sweep,
    * written BEFORE the jobs run so a crashed sweep still documents which
    * `run_<i>` directory was which combination.
    */
  def writeMultirunManifest(root: String, jobs: Seq[Seq[String]]): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.createObjectNode()
    val arr = node.putArray("jobs")
    jobs.zipWithIndex.foreach { case (combo, i) =>
      val j = arr.addObject()
      j.put("job", i)
      j.put("output", s"run_$i")
      val o = j.putArray("overrides")
      combo.foreach(o.add)
    }
    writeStringFile(new org.apache.hadoop.fs.Path(s"$root/multirun.json"),
      mapper.writerWithDefaultPrettyPrinter.writeValueAsString(node))
  }

  def readDatasetMetadata(root: String): Map[String, String] = {
    readStringFile(new org.apache.hadoop.fs.Path(s"$root/metadata/dataset.json"))
      .map { content =>
        val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(content)
        val it = node.fields()
        val b = Map.newBuilder[String, String]
        while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asText }
        b.result()
      }.getOrElse(Map.empty)
  }

  /** `.shards.json` — the {split/shardIdx → subject ids} map the reference's
    * resharding emits (reshard_to_split.py:232-261). Computed from the
    * resharded data itself so it is layout-truthful, and STREAMED: the
    * distinct+sort runs distributed, `toLocalIterator` pulls one partition
    * at a time, and a Jackson generator writes straight to the (Hadoop FS)
    * output stream — driver memory is bounded by one partition even at 10⁸+
    * subjects, where the previous whole-map collect was an OOM hazard.
    * Accepts both shard conventions: an integer reshard assignment and the
    * path-derived `"<split>/<idx>"` string from read().
    */
  def writeShardsJson(resharded: DataFrame, root: String): Unit = {
    val shardStr = col(Shard).cast("string")
    val key0 = when(shardStr.startsWith(concat(col(Split), lit("/"))), shardStr)
      .otherwise(concat(col(Split), lit("/"), shardStr))
    // a multi-file shard dir ("train/0/part-*.parquet") must still map to
    // ONE "train/0" key — per-file keys would split a shard's subject list
    val key = regexp_replace(key0, """^([^/]+/\d+)/.*$""", "$1")
    val rows = resharded
      .select(key.as("__key"), col(SubjectId))
      .distinct()
      .orderBy("__key", SubjectId)
      .toLocalIterator()
    val out = fsFor(new org.apache.hadoop.fs.Path(s"$root/.shards.json"))
      .create(new org.apache.hadoop.fs.Path(s"$root/.shards.json"), true)
    val gen = new com.fasterxml.jackson.core.JsonFactory()
      .createGenerator(out: java.io.OutputStream)
    gen.setPrettyPrinter(new com.fasterxml.jackson.core.util.DefaultPrettyPrinter())
    try {
      gen.writeStartObject()
      var current: String = null
      while (rows.hasNext) {
        val r = rows.next()
        val k = r.getString(0)
        if (k != current) {
          if (current != null) gen.writeEndArray()
          gen.writeArrayFieldStart(k)
          current = k
        }
        gen.writeNumber(r.getLong(1))
      }
      if (current != null) gen.writeEndArray()
      gen.writeEndObject()
    } finally {
      gen.close() // closes the underlying FS stream too
    }
  }
}
