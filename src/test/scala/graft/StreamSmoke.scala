package graft

import java.sql.Timestamp

import graft.streaming.Sessionize

/** Streaming sessionization at STATE scale: 1M concurrent users held as
  * flatMapGroupsWithState state across micro-batches, with the RocksDB state
  * store provider — the production configuration at high key cardinality
  * (the default HDFS-backed provider keeps every state row on-heap; RocksDB
  * keeps them off-heap + on local disk, so executor heap stays bounded by
  * the working set, not the key count).
  *
  * Shape: batch 1 opens a session per user, batch 2 extends it (state
  * round-trips through RocksDB), batch 3 advances the watermark so every
  * session closes via EVENT-TIME TIMEOUT — exercising write, read-modify-
  * write, and timeout-scan against 1M-row state. Prints per-batch state
  * rows and state memory from the query progress. Committed numbers in
  * SMOKE.md. Run: `sbt "Test/runMain graft.StreamSmoke"`.
  */
object StreamSmoke {
  def main(args: Array[String]): Unit = {
    val spark: org.apache.spark.sql.SparkSession = LocalSession(conf = Seq(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
    import spark.implicits._

    val nUsers = 1000000L
    def ts(minute: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")
    def batch(minute: Int): Seq[Sessionize.Ev] =
      (1L to nUsers).map(u => Sessionize.Ev(u, ts(minute), minute.toLong, 1.0))

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Sessionize.Ev]
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream_smoke")
    val q = Sessionize.streamingWithTimeout(input.toDS(), gapMinutes = 30,
      watermarkDelay = "1 minute").writeStream
      .outputMode("append")
      .option("checkpointLocation", tmp.resolve("ckpt").toString)
      .format("memory").queryName("sessions")
      .start()

    def step(name: String, evs: Seq[Sessionize.Ev]): Unit = {
      val t0 = System.nanoTime()
      input.addData(evs)
      q.processAllAvailable()
      val p = q.lastProgress
      val so = p.stateOperators(0)
      println(f"SMOKE $name: ${(System.nanoTime() - t0) / 1e9}%.1f s, " +
        f"state rows ${so.numRowsTotal}%,d, state mem ${so.memoryUsedBytes / (1024 * 1024)} MB, " +
        f"updated ${so.numRowsUpdated}%,d, removed ${so.numRowsRemoved}%,d")
    }

    step("open 1M sessions", batch(0))
    step("extend 1M sessions", batch(5))
    // one far-future event advances the watermark past every open session's
    // end + gap: all 1M close via event-time timeout on this batch
    step("timeout-close 1M sessions",
      Seq(Sessionize.Ev(0L, Timestamp.valueOf("2024-01-01 12:00:00"), 99L, 1.0)))

    val out = spark.table("sessions")
    val n = out.count()
    val agg = out.groupBy().agg(
      org.apache.spark.sql.functions.countDistinct("user_id"),
      org.apache.spark.sql.functions.sum("n_events")).collect()(0)
    require(n == nUsers, s"expected $nUsers closed sessions, got $n")
    require(agg.getLong(0) == nUsers && agg.getLong(1) == 2 * nUsers,
      s"session shape wrong: $agg")
    println(s"SMOKE closed sessions: $n (each n_events=2) — all ok")
    q.stop()

    // streaming as-of at state scale: 1M keys, fixed ONE-TUPLE state per
    // key regardless of stream length — three batches (seed references,
    // enrich 2M queries, reference churn + re-enrich) through the same
    // RocksDB provider; state rows must stay == key count
    import graft.streaming.TemporalStream
    import graft.streaming.TemporalStream.TEv
    val in2 = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[TEv]
    val tmp2 = java.nio.file.Files.createTempDirectory("graft_asof_smoke")
    val q2 = TemporalStream.streamingAsOf(in2.toDS()).writeStream
      .outputMode("append")
      .option("checkpointLocation", tmp2.resolve("ckpt").toString)
      .format("memory").queryName("asof_out").start()
    def step2(name: String, evs: Seq[TEv]): Unit = {
      val t0 = System.nanoTime()
      in2.addData(evs)
      q2.processAllAvailable()
      val so = q2.lastProgress.stateOperators(0)
      println(f"SMOKE $name: ${(System.nanoTime() - t0) / 1e9}%.1f s, " +
        f"state rows ${so.numRowsTotal}%,d, state mem ${so.memoryUsedBytes / (1024 * 1024)} MB")
    }
    step2("asof seed 1M references",
      (1L to nUsers).map(k => TEv(k, Some(100L), 0, k)))
    step2("asof enrich 2M queries",
      (1L to nUsers).flatMap(k => Seq(
        TEv(k, Some(150L), 1, k * 10), TEv(k, Some(200L), 1, k * 10 + 1))))
    step2("asof churn references + re-enrich",
      (1L to nUsers).flatMap(k => Seq(
        TEv(k, Some(300L), 0, k + nUsers), TEv(k, Some(400L), 1, k * 10 + 2))))
    val enr = spark.table("asof_out")
    val total = enr.count()
    val matched = enr.filter(org.apache.spark.sql.functions.col("matched_id").isNotNull).count()
    require(total == 3 * nUsers && matched == 3 * nUsers,
      s"asof stream shape wrong: total=$total matched=$matched")
    val late = enr.filter(org.apache.spark.sql.functions.col("id") % 10 === 2)
      .filter(org.apache.spark.sql.functions.col("matched_t") =!= 300L).count()
    require(late == 0, s"$late batch-3 queries missed the churned reference")
    println(s"SMOKE asof stream: $total enriched, state stayed 1 tuple/key — all ok")
    q2.stop()
    spark.stop()
  }
}
