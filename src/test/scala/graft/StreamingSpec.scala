package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.streaming.EventStream

/** Streaming/batch parity: the windowed aggregation produces identical
  * results through readStream (memory sink) and the batch path.
  */
class SessionizeSpec extends SparkSpec {
  import graft.streaming.Sessionize

  test("batch sessionization splits on gap, aggregates per session") {
    import spark.implicits._
    val ev = Seq(
      (1L, "2020-01-01 00:00:00", 0L, 1.0),
      (1L, "2020-01-01 00:10:00", 1L, 2.0), // same session (10 min gap)
      (1L, "2020-01-01 02:00:00", 2L, 3.0), // new session
      (2L, "2020-01-01 00:00:00", 3L, 4.0)
    ).toDF("user_id", "ts", "event_id", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
    val out = Sessionize.batch(ev, gapMinutes = 30).orderBy("user_id", "session_idx")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4), r.getDouble(5)))
    assert(out.toSeq == Seq((1L, 1L, 2L, 3.0), (1L, 2L, 1L, 3.0), (2L, 1L, 1L, 4.0)))
  }

  test("streaming flatMapGroupsWithState matches batch on a single micro-batch") {
    import spark.implicits._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val batchEvents = Queries.restoreTs(raw)
    val expected = Sessionize.batch(batchEvents, 30)
      .select("user_id", "session_idx", "n_events")
      .collect().map(_.toSeq).toSet

    val stream = Queries.restoreTs(spark.readStream.schema(raw.schema)
      .option("pathGlobFilter", "events.parquet").parquet("/root/testdata/sf0.001"))
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .as[Sessionize.Ev]
    val q = Sessionize.streaming(stream, 30).writeStream
      .outputMode("append").format("memory").queryName("sessions_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("sessions_out")
        .select("user_id", "session_idx", "n_events")
        .collect().map(_.toSeq).toSet
      assert(got == expected)
    } finally q.stop()
  }

  test("watermark-timeout sessionization closes idle sessions across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Sessionize.Ev]
    val q = Sessionize.streamingWithTimeout(input.toDS(), gapMinutes = 30,
      watermarkDelay = "10 minutes")
      .writeStream.outputMode("append").format("memory").queryName("sess_timeout").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    try {
      input.addData(Sessionize.Ev(1L, ts("2020-01-01 10:00:00"), 0L, 1.0),
        Sessionize.Ev(1L, ts("2020-01-01 10:05:00"), 1L, 2.0))
      q.processAllAvailable()
      // session open, nothing emitted, state held for user 1
      assert(spark.table("sess_timeout").count() == 0)
      // a different user's much-later event advances the watermark past
      // user 1's end + gap (10:35); the timeout then fires on the next batch
      input.addData(Sessionize.Ev(2L, ts("2020-01-01 12:00:00"), 2L, 5.0))
      q.processAllAvailable()
      input.addData(Sessionize.Ev(2L, ts("2020-01-01 12:05:00"), 3L, 1.0))
      q.processAllAvailable()
      val rows = spark.table("sess_timeout")
        .select("user_id", "session_idx", "n_events", "sum_value").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      // user 1's idle session emitted exactly once via event-time timeout;
      // user 2's session is still open (12:05 within the gap of 12:00)
      assert(rows == Set((1L, 1L, 2L, 3.0)))
    } finally q.stop()
  }
}

class TemporalStreamSpec extends SparkSpec {
  import graft.streaming.TemporalStream
  import graft.streaming.TemporalStream.{TEv, AsOfOut}

  test("streaming as-of carries reference state across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[TEv]
    val q = TemporalStream.streamingAsOf(input.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("asof_stream").start()
    def got() = spark.table("asof_stream").as[AsOfOut].collect()
      .map(o => o.id -> o.matched_id).toMap
    try {
      // batch 1: reference at t=10, queries before and after; intra-batch
      // sort must order them by time regardless of addData order
      input.addData(TEv(1L, Some(30L), 1, 102L), TEv(1L, Some(10L), 0, 1L),
        TEv(1L, Some(5L), 1, 101L), TEv(1L, Some(10L), 1, 103L))
      q.processAllAvailable()
      assert(got() == Map(101L -> None, 102L -> Some(1L), 103L -> Some(1L)))
      // batch 2: the carry survived the batch boundary; a newer reference
      // replaces it mid-batch; equal-time references resolve to max id
      input.addData(TEv(1L, Some(40L), 1, 104L), TEv(1L, Some(50L), 0, 2L),
        TEv(1L, Some(50L), 0, 3L), TEv(1L, Some(60L), 1, 105L))
      q.processAllAvailable()
      assert(got()(104L) == Some(1L) && got()(105L) == Some(3L))
      // batch 3: a LATE reference older than the carry is ignored; a null
      // query time matches nothing even with state present; other keys
      // never see key 1's state
      input.addData(TEv(1L, Some(20L), 0, 4L), TEv(1L, Some(70L), 1, 106L),
        TEv(1L, None, 1, 107L), TEv(2L, Some(99L), 1, 201L))
      q.processAllAvailable()
      assert(got()(106L) == Some(3L) && got()(107L) == None
        && got()(201L) == None)
      // batch 4: an EQUAL-TIME reference with a SMALLER id arriving in a
      // later batch must not displace the carried max-id winner (the
      // intra-batch sort cannot enforce the tie rule across batches)
      input.addData(TEv(1L, Some(50L), 0, 1L), TEv(1L, Some(55L), 1, 108L))
      q.processAllAvailable()
      assert(got()(108L) == Some(3L))
    } finally q.stop()
  }

  test("streaming as-of equals the batch asOf on in-order single-batch data") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rng = new scala.util.Random(5)
    val evs = (0 until 600).map { i =>
      TEv(rng.nextInt(4).toLong, Some(rng.nextInt(100).toLong),
        if (rng.nextInt(3) == 0) 0 else 1, i.toLong)
    }
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[TEv]
    val q = TemporalStream.streamingAsOf(input.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("asof_stream_eq").start()
    try {
      input.addData(evs)
      q.processAllAvailable()
      val streamed = spark.table("asof_stream_eq").as[AsOfOut].collect()
        .map(o => o.id -> o.matched_id).toMap
      val batch = graft.operators.AsOfJoin.asOf(
        evs.filter(_.side == 1).map(e => (e.k, e.t.map(java.lang.Long.valueOf).orNull, e.id))
          .toDF("k", "t", "id"),
        evs.filter(e => e.side == 0 && e.t.isDefined)
          .map(e => (e.k, e.t.get, e.id)).toDF("k", "rt", "rid"),
        Seq("k"), "t", "rt", Seq("rid"), dedupRight = Some("rid"))
        .collect().map(r => r.getAs[Long]("id") ->
          Option(r.getAs[java.lang.Long]("rid")).map(_.toLong)).toMap
      assert(streamed == batch)
    } finally q.stop()
  }
}

class StreamingSpec extends SparkSpec {

  test("RocksDB state store: sessions open, extend and time out; as-of state churns per key") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.{Sessionize, TemporalStream}
    import graft.streaming.TemporalStream.TEv
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val provider = "spark.sql.streaming.stateStore.providerClass"
    val old = spark.conf.getOption(provider)
    spark.conf.set(provider,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val nUsers = 500L
    val tmp = java.nio.file.Files.createTempDirectory("graft_rocksdb")
    def ts(minute: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")
    try {
      // open a session per user, extend it, then one far-future event moves
      // the watermark past every session: all close via event-time timeout
      val in1 = MemoryStream[Sessionize.Ev]
      val q1 = Sessionize.streamingWithTimeout(in1.toDS(), gapMinutes = 30,
        watermarkDelay = "1 minute").writeStream.outputMode("append")
        .option("checkpointLocation", tmp.resolve("sessions").toString)
        .format("memory").queryName("rocks_sessions").start()
      try Seq(
          (1L to nUsers).map(u => Sessionize.Ev(u, ts(0), 0L, 1.0)),
          (1L to nUsers).map(u => Sessionize.Ev(u, ts(5), 5L, 1.0)),
          Seq(Sessionize.Ev(0L, java.sql.Timestamp.valueOf("2024-01-01 12:00:00"), 99L, 1.0)))
        .foreach { b => in1.addData(b); q1.processAllAvailable() }
      finally q1.stop()
      assert(q1.lastProgress.stateOperators(0).customMetrics.keySet.asScala
        .exists(_.startsWith("rocksdb")), "state store is not RocksDB")
      val s = spark.table("rocks_sessions")
        .agg(count(lit(1)), countDistinct("user_id"), sum("n_events")).head()
      assert(s.getLong(0) == nUsers && s.getLong(1) == nUsers && s.getLong(2) == 2 * nUsers,
        s"session shape wrong: $s")

      // streaming as-of: seed one reference per key, enrich two queries per
      // key, then churn the references and enrich again
      val in2 = MemoryStream[TEv]
      val q2 = TemporalStream.streamingAsOf(in2.toDS()).writeStream.outputMode("append")
        .option("checkpointLocation", tmp.resolve("asof").toString)
        .format("memory").queryName("rocks_asof").start()
      try Seq(
          (1L to nUsers).map(k => TEv(k, Some(100L), 0, k)),
          (1L to nUsers).flatMap(k => Seq(TEv(k, Some(150L), 1, k * 10), TEv(k, Some(200L), 1, k * 10 + 1))),
          (1L to nUsers).flatMap(k => Seq(TEv(k, Some(300L), 0, k + nUsers), TEv(k, Some(400L), 1, k * 10 + 2))))
        .foreach { b => in2.addData(b); q2.processAllAvailable() }
      finally q2.stop()
      val enr = spark.table("rocks_asof")
      val total = enr.count()
      val matched = enr.filter(col("matched_id").isNotNull).count()
      assert(total == 3 * nUsers && matched == 3 * nUsers, s"total=$total matched=$matched")
      val late = enr.filter(col("id") % 10 === 2).filter(col("matched_t") =!= 300L).count()
      assert(late == 0, s"$late batch-3 queries missed the churned reference")
    } finally old match {
      case Some(v) => spark.conf.set(provider, v)
      case None => spark.conf.unset(provider)
    }
  }

  test("streaming dedup drops repeated content within the watermark horizon") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val schema = raw.schema
    val distinctTypes = raw.select("event_type").distinct().count()
    val stream = Queries.restoreTs(spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet("/root/testdata/sf0.001"))
    val q = EventStream.streamingDedup(stream, Seq("event_type"))
      .writeStream.outputMode("append").format("memory").queryName("dedup_out").start()
    try {
      q.processAllAvailable()
      // keyed on event_type alone: exactly one survivor per type
      assert(spark.table("dedup_out").count() == distinctTypes)
    } finally q.stop()
  }

  test("streaming MEDS sink: appended micro-batches read back as a MEDS root") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("meds_stream").toString
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    val events = input.toDF().toDF("subject_id", "time", "code", "numeric_value")
    val q = EventStream.medsSink(events, tmp, s"$tmp/_ckpt")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    try {
      input.addData((1L, ts("2020-01-01 10:00:00"), "HR", 60.0))
      q.processAllAvailable()
      input.addData((2L, ts("2020-01-01 11:00:00"), "TEMP", 37.0))
      q.processAllAvailable()
    } finally q.stop()
    // minimal metadata so the root is a complete MEDS dataset
    Seq(("HR", "Heart Rate")).toDF("code", "description")
      .write.parquet(s"$tmp/metadata/codes.parquet")
    val meds = graft.meds.MedsIO.read(spark, tmp)
    assert(meds.data.count() == 2)
    assert(meds.data.select(graft.meds.MedsSchema.Split).distinct().collect()
      .map(_.getString(0)).toSet == Set("train"))
    assert(meds.data.filter(col("code") === "TEMP").count() == 1)
  }

  test("events_sessionize_stream gate equals the batch events_sessionize gate") {
    val dir = "/root/testdata/sf0.001"
    val streamed = Queries.queries("events_sessionize_stream")(spark, dir)
      .collect().map(_.toSeq).toSeq
    val batch = Queries.queries("events_sessionize")(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("streaming windowed agg equals batch windowed agg on sf0.001 events") {
    val dir = "/root/testdata/sf0.001"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    val batchEvents = Queries.restoreTs(raw)
    val batch = EventStream.windowedAgg(batchEvents, "1 hour")
      .select("window_start", "event_type", "n_events")
      .collect().map(_.toSeq).toSet

    // stream the same parquet through readStream with the shared ts-restore
    // convention (no-op when the parquet already stores timestamps)
    val stream = Queries.restoreTs(spark.readStream.schema(raw.schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir))
    val agg = stream
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n_events"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("stream_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_out")
        .select("window_start", "event_type", "n_events")
        .collect().map(_.toSeq).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("text hygiene signals run unchanged on a streaming corpus") {
    // every curation signal is a pure projection, so the SAME expressions
    // run on readStream without modification — streaming ingest hygiene
    // (score documents as they land) is the batch code, not a parallel
    // implementation
    val dir = "/root/testdata/sf0.001"
    val raw = spark.read.parquet(s"$dir/documents.parquet")
    val exprs = Seq(col("doc_id"),
      graft.ops.TextAnalysis.tokenCount(col("text")).as("n_tokens"),
      round(graft.ops.TextAnalysis.unigramEntropy(col("text")), 4).as("h"),
      graft.ops.TextAnalysis.langIdExprs(col("text")).last,
      graft.ops.TextAnalysis.fingerprint(col("text")).as("fp"))
    val batch = raw.select(exprs: _*).collect().map(_.toSeq).toSet
    val stream = spark.readStream.schema(raw.schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
    val q = stream.select(exprs: _*).writeStream.outputMode("append")
      .format("memory").queryName("hygiene_stream").start()
    try {
      q.processAllAvailable()
      assert(spark.table("hygiene_stream").collect().map(_.toSeq).toSet == batch)
    } finally q.stop()
  }

  test("the contamination probe is a stateless streaming-compatible filter") {
    // decontamination at ingest time: the bloom probe is built ONCE from
    // the (batch) eval corpus and closes over the serialized filter as a
    // plan constant — the identical Column predicate then filters a
    // readStream corpus with no state, no join, no modification
    val dir = "/root/testdata/sf0.001"
    val raw = spark.read.parquet(s"$dir/documents.parquet")
    val eval = raw.filter(col("doc_id") % 50 === 0)
    val probe = graft.ops.Decontaminate.contaminationProbe(eval, "text", n = 4).get
    val batch = raw.filter(!probe).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(batch.nonEmpty && batch.size < raw.count()) // probe actually flags
    val stream = spark.readStream.schema(raw.schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
    val q = stream.filter(!probe).select("doc_id")
      .writeStream.outputMode("append")
      .format("memory").queryName("decontam_stream").start()
    try {
      q.processAllAvailable()
      assert(spark.table("decontam_stream").collect()
        .map(_.getLong(0)).toSet == batch)
    } finally q.stop()
  }

  test("contaminationProbe: empty eval corpus yields no probe") {
    import spark.implicits._
    assert(graft.ops.Decontaminate.contaminationProbe(
      Seq.empty[String].toDF("text"), "text", n = 4).isEmpty)
  }

  test("BpeEncode applies unchanged to a stream: streaming tokenization parity") {
    import spark.implicits._
    // the ingest-time tokenization shape: a model trained on yesterday's
    // corpus (batch), applied to today's stream — the merge table is a plan
    // constant, so the same Column works on readStream with no state
    val train = Seq("low lower", "newest widest", "low newest").toDF("text")
    val merges = graft.ops.Bpe.trainFromCorpus(train, "text",
      numMerges = 8, maxWords = 100, minFrequency = 1)
    val dir = java.nio.file.Files.createTempDirectory("bpe_stream").toString
    val raw = Seq((1L, "newest lower"), (2L, "low unseen"), (3L, ""))
      .toDF("doc_id", "text")
    raw.write.parquet(s"$dir/docs.parquet")
    val enc = graft.ops.Bpe.encode(org.apache.spark.sql.functions.col("text"),
      merges)
    val batch = raw.select($"doc_id", enc.as("bpe")).as[(Long, Seq[String])]
      .collect().toMap
    val q = spark.readStream.schema(raw.schema).parquet(s"$dir/docs.parquet")
      .select($"doc_id", enc.as("bpe"))
      .writeStream.outputMode("append").format("memory")
      .queryName("bpe_stream").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("bpe_stream").as[(Long, Seq[String])]
        .collect().toMap
      assert(streamed == batch && batch.nonEmpty)
    } finally q.stop()
  }
}

/** Guards on the shared ts-normalization helper (ADVICE round 8): the
  * LongType branch must reject values that cannot be nanoseconds, and the
  * NTZ branch must refuse to cast under a non-zero-offset session timezone.
  */
class RestoreTsSpec extends SparkSpec {
  import org.apache.spark.sql.functions.col

  private def rootMessages(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).toSeq

  test("long ts restores as nanos; micros-magnitude values raise; null passes") {
    import spark.implicits._
    val ok = Queries.restoreTs(Seq(1_600_000_000_000_000_000L).toDF("ts"))
    assert(ok.collect().head.getTimestamp(0) ===
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1_600_000_000L)))
    val micros = Seq(1_600_000_000_000_000L).toDF("ts") // plain INT64 micros
    val e = intercept[Exception](Queries.restoreTs(micros).collect())
    assert(rootMessages(e).exists(_.contains("nanoseconds")))
    val withNull = Seq(Some(1_600_000_000_000_000_000L), None).toDF("ts")
    assert(Queries.restoreTs(withNull).collect().count(_.isNullAt(0)) === 1)
  }

  test("NTZ restore requires a zero-offset session timezone") {
    val df = spark.range(1)
      .selectExpr("timestamp_ntz'2024-01-01 00:00:00' as ts")
    val old = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val e = intercept[IllegalArgumentException](Queries.restoreTs(df))
      assert(e.getMessage.contains("zero-offset"))
      // a zero-offset zone under any spelling is accepted
      spark.conf.set("spark.sql.session.timeZone", "Etc/UTC")
      assert(Queries.restoreTs(df).schema("ts").dataType ===
        org.apache.spark.sql.types.TimestampType)
    } finally spark.conf.set("spark.sql.session.timeZone", old)
  }
}
