package graft

import org.apache.spark.sql.functions._
import graft.config.PipelineConfig
import graft.meds.{MedsData, MedsIO}
import graft.meds.MedsSchema._
import graft.operators.{Pipeline, ReshardToSplit}

/** reshard_to_split as a config-reachable pipeline stage: distributed
  * assignment invariants (numpy array_split chunking, determinism), the
  * resharded on-disk layout (`data/<split>/<idx>.parquet` + `.shards.json`,
  * reference reshard_to_split.py:264-333), and checkpoint round-trips.
  */
class ReshardPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def splitsDf(n: Int) =
    (1L to n.toLong).map(i => (i, if (i % 10 < 8) "train" else if (i % 10 == 8) "tuning" else "held_out"))
      .toDF(SubjectId, Split)

  test("assignShardsDistributed: array_split chunk sizes, disjoint, deterministic") {
    val splits = splitsDf(107)
    val a = ReshardToSplit.assignShardsDistributed(splits, nShards = 4, seed = 7L)
    val sizes = a.groupBy(Split, Shard).count()
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    // per split: k chunks, first (n mod k) get one extra (numpy array_split)
    val perSplit = splits.groupBy(Split).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    perSplit.foreach { case (split, n) =>
      val chunk = sizes.collect { case ((s, sh), c) if s == split => sh -> c }.toMap
      assert(chunk.keySet == (0 until 4).toSet, s"$split missing shards")
      val base = n / 4; val extra = (n % 4).toInt
      (0 until 4).foreach { sh =>
        val expect = base + (if (sh < extra) 1 else 0)
        assert(chunk(sh) == expect, s"$split/$sh: ${chunk(sh)} != $expect")
      }
    }
    // each subject exactly once
    assert(a.count() == 107)
    assert(a.select(SubjectId).distinct().count() == 107)
    // deterministic across executions
    val b = ReshardToSplit.assignShardsDistributed(splitsDf(107), nShards = 4, seed = 7L)
    assert(collectSet(a) == collectSet(b))
    // a different seed permutes differently
    val c = ReshardToSplit.assignShardsDistributed(splitsDf(107), nShards = 4, seed = 8L)
    assert(collectSet(a) != collectSet(c))
  }

  test("assignShardsDistributedBySize: shard count = ceil(n/perShard)") {
    val splits = splitsDf(100) // 80 train / 10 tuning / 10 held_out
    val a = ReshardToSplit.assignShardsDistributedBySize(splits, nSubjectsPerShard = 25)
    val kPerSplit = a.groupBy(Split).agg(countDistinct(Shard).as("k"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kPerSplit == Map("train" -> 4L, "tuning" -> 1L, "held_out" -> 1L))
    // bounded shard size
    val maxShard = a.groupBy(Split, Shard).count().agg(max("count")).head().getLong(0)
    assert(maxShard <= 25)
  }

  private def eventsFor(splits: org.apache.spark.sql.DataFrame) = {
    val subjects = splits.select(SubjectId).as[Long].collect()
    subjects.flatMap(s => Seq(
      (s, ts("2024-01-01 10:00:00"), "A", 1.0f),
      (s, ts("2024-01-02 10:00:00"), "B", 2.0f)))
      .toSeq.toDF(SubjectId, Time, Code, NumericValue)
  }

  test("generate_subject_splits stage: IID fracs over unassigned, external splits kept") {
    // 100 subjects, 20 pre-assigned held_out (the external-splits contract)
    val external = (1L to 20L).map(i => (i, "held_out")).toDF(SubjectId, Split)
    val data = (1L to 100L).map(i => (i, ts("2024-01-01 10:00:00"), "A", 1.0f))
      .toDF(SubjectId, Time, Code, NumericValue)
    val meds = MedsData(data, Seq.empty[String].toDF(Code), external)
    val parsed = PipelineConfig.fromJson(
      """{"stages": [{"generate_subject_splits": {
        |  "split_fracs": {"train": 0.8, "tuning": 0.2}, "seed": 11}}]}""".stripMargin)
    val out = Pipeline.run(spark, meds, parsed.stages)
    val bySplit = out.splits.groupBy(Split).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // externals untouched; the 80 unassigned draw 0.8/0.2
    assert(bySplit == Map("held_out" -> 20L, "train" -> 64L, "tuning" -> 16L))
    val kept = out.splits.filter(col(SubjectId) <= 20)
      .select(Split).distinct().collect().map(_.getString(0)).toSeq
    assert(kept == Seq("held_out"))
    // every subject assigned exactly once
    assert(out.splits.select(SubjectId).distinct().count() == 100)
    assert(out.splits.count() == 100)
    // deterministic
    val again = Pipeline.run(spark, meds, parsed.stages)
    assert(collectSet(out.splits) == collectSet(again.splits))
    // no driver-collect mode: `reference_parity` is an unknown key
    val parity = intercept[IllegalArgumentException](PipelineConfig.fromJson(
      """{"stages": [{"generate_subject_splits": {"reference_parity": true}}]}"""))
    assert(parity.getMessage.contains("unknown key(s) reference_parity"), parity.getMessage)

    // chained: a split-less root becomes reshard-able in one pipeline
    val noSplits = MedsData(data, Seq.empty[String].toDF(Code),
      spark.emptyDataFrame.select(lit(0L).as(SubjectId), lit("").as(Split)).limit(0))
    val chained = Pipeline.run(spark, noSplits, PipelineConfig.fromJson(
      """{"stages": [
        |  {"generate_subject_splits": {"seed": 2}},
        |  {"reshard_to_split": {"n_shards": 2, "seed": 2}}]}""".stripMargin).stages)
    assert(chained.data.select(Split).distinct().count() == 3) // default 0.8/0.1/0.1
    assert(chained.data.groupBy(Split, Shard).count().count() == 6) // 2 shards each
  }

  test("generate_subject_splits fails fast on a subject with conflicting external splits") {
    // subject 3 is listed as BOTH held_out and train: an arbitrary winner
    // would silently leak a held-out subject into training on some runs
    val external = Seq((1L, "held_out"), (2L, "held_out"), (3L, "held_out"),
      (3L, "train"), (3L, "held_out") /* identical dup is fine */)
      .toDF(SubjectId, Split)
    val data = (1L to 10L).map(i => (i, ts("2024-01-01 10:00:00"), "A", 1.0f))
      .toDF(SubjectId, Time, Code, NumericValue)
    val meds = MedsData(data, Seq.empty[String].toDF(Code), external)
    val stages = PipelineConfig.fromJson(
      """{"stages": [{"generate_subject_splits": {"seed": 1}}]}""").stages
    val ex = intercept[IllegalArgumentException] {
      Pipeline.run(spark, meds, stages)
    }
    assert(ex.getMessage.contains("3") && ex.getMessage.contains("more than one split"))
    // identical duplicate rows (no conflict) still pass
    val okExternal = Seq((1L, "held_out"), (1L, "held_out")).toDF(SubjectId, Split)
    val ok = Pipeline.run(spark, MedsData(data, Seq.empty[String].toDF(Code), okExternal), stages)
    assert(ok.splits.count() == 10)
  }

  test("reshard_to_split stage from config JSON + checkpoint round-trips the layout") {
    val splits = splitsDf(40)
    val meds = MedsData(eventsFor(splits), Seq.empty[String].toDF(Code), splits)
    val parsed = PipelineConfig.fromJson(
      """{"stages": [{"reshard_to_split": {"n_shards": 3, "seed": 5}}]}""")
    assert(parsed.stages.map(_.name) == Seq("reshard_to_split"))

    val tmp = java.nio.file.Files.createTempDirectory("graft_reshard").toString
    Pipeline.run(spark, meds, parsed.stages,
      Map("reshard_to_split" -> s"$tmp/rs"))

    // reference layout: data/<split>/<idx>.parquet, one file per shard
    val dataDir = new java.io.File(s"$tmp/rs/data")
    val shardFiles = dataDir.listFiles().filter(_.isDirectory).flatMap { d =>
      d.listFiles().filter(_.getName.endsWith(".parquet")).map(f => s"${d.getName}/${f.getName}")
    }.toSet
    val expected = for (s <- Seq("train", "tuning", "held_out"); i <- 0 until 3)
      yield s"$s/$i.parquet"
    assert(shardFiles == expected.toSet, s"layout was $shardFiles")

    // read() recognizes the resharded root (.shards.json marker) and
    // restores the INTEGER shard identity — the ReshardToSplit convention —
    // so a resumed pipeline keeps the resharded layout
    val back = MedsIO.read(spark, s"$tmp/rs")
    val shards = back.data.select(Split, Shard).distinct()
      .collect().map(r => s"${r.getString(0)}/${r.getInt(1)}").toSet
    assert(shards == expected.map(_.stripSuffix(".parquet")).toSet)
    // shards partition subjects disjointly
    val multi = back.data.select(SubjectId, Split, Shard).distinct()
      .groupBy(SubjectId).count().filter(col("count") > 1).count()
    assert(multi == 0)
    assert(back.data.count() == 80) // 40 subjects x 2 events

    // a re-write of the read-back root (what a resumed pipeline's final
    // write does) preserves the resharded layout instead of reverting
    MedsIO.write(back, s"$tmp/rs2")
    val files2 = new java.io.File(s"$tmp/rs2/data").listFiles().filter(_.isDirectory)
      .flatMap(d => d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => s"${d.getName}/${f.getName}")).toSet
    assert(files2 == expected.toSet, s"resumed layout was $files2")
    assert(new java.io.File(s"$tmp/rs2/.shards.json").exists())

    // .shards.json exists and is layout-truthful
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$tmp/rs/.shards.json")))
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    val keys = {
      val it = node.fieldNames(); val b = Set.newBuilder[String]
      while (it.hasNext) b += it.next(); b.result()
    }
    assert(keys == expected.map(_.stripSuffix(".parquet")).toSet)
    var total = 0
    keys.foreach(k => total += node.get(k).size())
    assert(total == 40) // every subject listed exactly once

    // within-shard (subject_id, time) sort order — the MEDS invariant
    val oneShard = spark.read.parquet(s"$tmp/rs/data/train/0.parquet")
      .select(SubjectId, Time).collect().map(r => (r.getLong(0), r.getTimestamp(1)))
    assert(oneShard.sortBy(x => (x._1, x._2.getTime)).toSeq == oneShard.toSeq)
  }

  test("reshard_to_split config: n_subjects_per_shard default sizing and parity mode") {
    val splits = splitsDf(30)
    val meds = MedsData(eventsFor(splits), Seq.empty[String].toDF(Code), splits)
    val out = Pipeline.run(spark, meds, PipelineConfig.fromJson(
      """{"stages": [{"reshard_to_split": {"n_subjects_per_shard": 10}}]}""").stages)
    val k = out.data.filter(col(Split) === "train")
      .select(Shard).distinct().count()
    assert(k == 3) // 24 train subjects / 10 per shard -> 3 shards
    val perShard = out.data.groupBy(Split, Shard).agg(countDistinct(SubjectId))
      .collect().map(_.getLong(2))
    assert(perShard.forall(_ <= 10), s"oversized shards: ${perShard.toSeq}")
    // no driver-permutation mode: `reference_parity` is an unknown key
    val parity = intercept[IllegalArgumentException](PipelineConfig.fromJson(
      """{"stages": [{"reshard_to_split": {"n_shards": 2, "reference_parity": true}}]}"""))
    assert(parity.getMessage.contains("unknown key(s) reference_parity"), parity.getMessage)
  }

  test("default-layout write over a resharded root clears the stale .shards.json marker") {
    val splits = splitsDf(12)
    val tmp = java.nio.file.Files.createTempDirectory("graft_stale").toString
    val resharded = ReshardToSplit.applyAssigned(eventsFor(splits),
      ReshardToSplit.assignShardsDistributed(splits, nShards = 2))
    MedsIO.write(MedsData(resharded, Seq.empty[String].toDF(Code), splits), s"$tmp/d")
    assert(new java.io.File(s"$tmp/d/.shards.json").exists())
    // overwrite the same dir with a NON-resharded frame: the marker must go,
    // or read() would misparse the new layout's shard identities
    MedsIO.write(MedsData(eventsFor(splits), Seq.empty[String].toDF(Code), splits), s"$tmp/d")
    assert(!new java.io.File(s"$tmp/d/.shards.json").exists())
    val back = MedsIO.read(spark, s"$tmp/d")
    assert(back.data.schema(Shard).dataType.typeName == "string")
    assert(back.data.count() == 24)
  }

  test("an empty resharded frame writes a complete root that reads back with an integer shard") {
    val splits = splitsDf(12)
    val tmp = java.nio.file.Files.createTempDirectory("graft_empty_reshard").toString
    val resharded = ReshardToSplit.applyAssigned(eventsFor(splits).filter(lit(false)),
      ReshardToSplit.assignShardsDistributed(splits, nShards = 2))
    MedsIO.write(MedsData(resharded, Seq.empty[String].toDF(Code), splits), s"$tmp/d")
    assert(new java.io.File(s"$tmp/d/${MedsIO.CompleteMarker}").exists())
    assert(new java.io.File(s"$tmp/d/data/empty.parquet").isFile)
    assert(java.nio.file.Files.readString(java.nio.file.Paths.get(s"$tmp/d/.shards.json")) == "{}")
    val back = MedsIO.read(spark, s"$tmp/d")
    assert(back.data.count() == 0)
    assert(back.data.schema(Shard).dataType.typeName == "integer")
    assert(back.data.columns.toSet == resharded.columns.toSet)
  }

  test("reshard_to_split fails fast when no split information exists (no silent zero-row output)") {
    // flat layout (split = "") and no splits table: the assignment would be
    // empty and the inner join would silently drop every row
    val data = eventsFor(splitsDf(5)).withColumn(Split, lit(""))
    val meds = MedsData(data, Seq.empty[String].toDF(Code),
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        graft.meds.MedsSchema.splitsSchema))
    val ex = intercept[IllegalArgumentException] {
      Pipeline.run(spark, meds, PipelineConfig.fromJson(
        """{"stages": [{"reshard_to_split": {"n_shards": 2}}]}""").stages)
    }
    assert(ex.getMessage.contains("no split information"))
  }

  test("reshard_to_split falls back to path-derived splits when the table is absent") {
    val data = eventsFor(splitsDf(20))
      .withColumn(Split, when(col(SubjectId) <= 15, "train").otherwise("held_out"))
    val meds = MedsData(data, Seq.empty[String].toDF(Code),
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        graft.meds.MedsSchema.splitsSchema))
    val out = Pipeline.run(spark, meds, PipelineConfig.fromJson(
      """{"stages": [{"reshard_to_split": {"n_shards": 2}}]}""").stages)
    val bySplit = out.data.select(SubjectId, Split).distinct()
      .groupBy(Split).count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySplit == Map("train" -> 15L, "held_out" -> 5L))
  }
}
