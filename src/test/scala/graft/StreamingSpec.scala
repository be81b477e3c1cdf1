package graft

import org.apache.spark.sql.functions._

/** The batch operators that pipelines reach, applied unchanged to a
  * `readStream` source: each is a stateless projection or filter, so the
  * streamed rows must equal the batch rows.
  */
class StreamingSpec extends SparkSpec {

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
