package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured-Streaming surface over the event table.
  *
  * The reference is batch-only (SURVEY §2.8); this module is the scale path
  * for continuous ingestion: the same event-table transformations expressed
  * over `readStream`, with watermarked windowed aggregation for late data.
  * The batch and streaming aggregations share one column-expression
  * definition so results match by construction.
  */
object EventStream {

  /** Windowed aggregation, a tumbling window per event type. The same
    * definition runs over a batch frame or a watermarked stream.
    */
  def windowedAgg(events: DataFrame, windowLen: String): DataFrame =
    events
      .groupBy(window(col("ts"), windowLen).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value")).as("sum_value"),
        approx_count_distinct(col("user_id")).as("approx_users"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"), col("approx_users"))

  /** Streaming exact dedup: drop events whose content hash was already seen,
    * with a watermark bounding the dedup state — dropDuplicatesWithinWatermark
    * evicts state for keys older than the horizon (plain dropDuplicates on a
    * non-event-time subset would grow state without bound; this API exists for
    * exactly that, Spark 3.5+). Streaming analog of ops.Dedup.exact.
    *
    * Default key: TWO domain-separated `xxhash64` values over the columns —
    * 128 key bits total, entirely inside whole-stage codegen, and the state
    * row is two longs instead of a 32-char hex string (the r14 scale run
    * measured the per-row state path, not the watermark, as the bottleneck;
    * key compute + key width are the per-row costs this trims). Null
    * ambiguity is removed structurally: Spark's hash functions SKIP null
    * inputs (hash(a, null) == hash(a)), so each column is preceded by its
    * `isNull` flag — (null, x) hashes the sequence (true, false, x) and
    * (x, null) hashes (false, x, true), which differ. Field-boundary
    * ambiguity ("ab","" vs "a","b") requires a simultaneous collision in
    * both domain-separated chains — negligible for organic data.
    *
    * `crypto = true` restores the per-column-md5 scheme (each column md5'd
    * separately to fixed-width hex, then the concatenation md5'd): XXH64 is
    * not collision-resistant against ADVERSARIAL inputs (seed-independent
    * collision constructions are published), so corpora where a hostile
    * writer controls field bytes should pay the md5 cost.
    *
    * ==CHECKPOINT COMPATIBILITY (breaking change vs the md5-only era)==
    * The default key changed from ONE md5 string column to TWO xxhash64
    * longs. `dropDuplicatesWithinWatermark` persists its key columns in the
    * state store, and Spark's state-schema compatibility check REJECTS a
    * restart whose key columns/types differ — a query checkpointed under
    * the old scheme cannot resume with today's default. Either restart it
    * with `crypto = true` (bit-identical to the old key — resumes cleanly)
    * or start a fresh checkpoint and accept a one-watermark-window
    * re-dedup overlap. New queries should take the default: the key is
    * codegen'd end-to-end and the state row is 16 bytes instead of a
    * 32-char string.
    */
  def streamingDedup(events: DataFrame, hashCols: Seq[String],
      watermark: String = "1 hour", crypto: Boolean = false): DataFrame = {
    val wm = events.withWatermark("ts", watermark)
    if (crypto)
      wm.withColumn("__content_hash", md5(concat_ws(",",
          hashCols.map(c => coalesce(md5(col(c).cast("string")), lit("NULL"))): _*)))
        .dropDuplicatesWithinWatermark("__content_hash")
        .drop("__content_hash")
    else {
      val tagged = hashCols.flatMap(c => Seq(col(c).isNull, col(c)))
      wm.withColumn("__h1", xxhash64((lit(1) +: tagged): _*))
        .withColumn("__h2", xxhash64((lit(2) +: tagged): _*))
        .dropDuplicatesWithinWatermark("__h1", "__h2")
        .drop("__h1", "__h2")
    }
  }

  /** Continuous ingestion into a MEDS dataset root: the exactly-once parquet
    * file sink, partitioned by split, writing under `root/data` in MedsIO's
    * on-disk format (zstd). The sink's Hive-style `split=<v>` partition dirs
    * are transparently handled by `MedsIO.read`'s prefix-stripping, so every
    * batch operator can run over a root a stream is still appending to.
    * Returns the started query; checkpointing (offsets + file manifest)
    * makes restarts exactly-once.
    */
  def medsSink(events: DataFrame, root: String, checkpointDir: String,
      split: String = "train"): org.apache.spark.sql.streaming.StreamingQuery = {
    val withSplit =
      if (events.columns.contains("split")) events
      else events.withColumn("split", lit(split))
    withSplit.writeStream
      .format("parquet")
      .options(graft.meds.MedsIO.ParquetOptions)
      .option("path", s"$root/data")
      .option("checkpointLocation", checkpointDir)
      .partitionBy("split")
      .outputMode("append")
      .start()
  }
}
