package graft

import org.apache.spark.sql.functions._
import graft.operators.AggregateCodeMetadata
import graft.ops.{Layout, Packing, Sampling}

/** Scale smoke for the round-8 layout/chunk/shuffle/incremental-metadata
  * ops (committed results in SMOKE.md "Round-8 layout & incremental
  * smokes"):
  *
  *  - chunkDocuments: 1M docs × ~200 tokens, window 128 / stride 64 — the
  *    in-row chunk assembly + explode produces ~3M bounded rows with no
  *    shuffle at all.
  *  - deterministicShuffle: 10M rows — global permutation via the range
  *    bridge; positions are exactly 1..N and reproducible under a
  *    different input partitioning.
  *  - zOrderBy: 10M rows, 2 independent uniform columns into 64 ranges —
  *    per-range min/max span on BOTH columns ≈ range/8 (the 8×8 grid),
  *    proving footer-stats skipping on either predicate dimension.
  *  - metadata partials: 10M events, 200 codes — partial build + merge +
  *    full derivation equals a direct compute() on the union (spot
  *    columns), with merge touching only the metadata-sized artifacts.
  *
  * Usage: sbt "Test/runMain graft.LayoutShuffleSmoke"
  */
object LayoutShuffleSmoke {

  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val spark = LocalSession()
    import spark.implicits._

    // ---- chunkDocuments: 1M x ~200 tokens, window 128 stride 64 ----
    // input materialized to parquet first: the 200-expression text synthesis
    // must not pollute the operator timing
    val docsDir = java.nio.file.Files.createTempDirectory("graft_chunk_smoke").toString
    spark.range(0, 1000000L, 1, 64).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 200).map(i => concat(lit(s"w$i"), pmod(col("id") + i, lit(997)))): _*)
        .as("text"))
      .write.mode("overwrite").parquet(docsDir)
    val docs = spark.read.parquet(docsDir)
    val (chunkStats, tChunk) = time {
      Packing.chunkDocuments(docs, "doc_id", "text", window = 128, stride = 64)
        .agg(count(lit(1)), sum("chunk_tokens"), min("chunk_tokens")).head()
    }
    // n=200 -> 1 + ceil(72/64) = 3 chunks/doc; tokens covered >= n per doc
    assert(chunkStats.getLong(0) == 3000000L, s"chunks: ${chunkStats.getLong(0)}")
    println(f"[smoke] chunkDocuments 1M docs -> ${chunkStats.getLong(0)} chunks in $tChunk%.1f s")

    // ---- deterministicShuffle: 10M rows ----
    val ids = spark.range(0, 10000000L, 1, 64).select(col("id").as("doc_id"))
    val (posAgg, tShuf) = time {
      Sampling.deterministicShuffle(ids, "doc_id")
        .agg(count(lit(1)), min("shuffle_pos"), max("shuffle_pos"),
          count_distinct(col("shuffle_pos"))).head()
    }
    assert(posAgg.getLong(0) == 10000000L && posAgg.getLong(1) == 1L &&
      posAgg.getLong(2) == 10000000L && posAgg.getLong(3) == 10000000L,
      s"shuffle positions not a permutation: $posAgg")
    // reproducibility under different partitioning: same position for a
    // spot-check of ids
    val a = Sampling.deterministicShuffle(ids, "doc_id")
      .filter(col("doc_id") < 5).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Sampling.deterministicShuffle(ids.repartition(7), "doc_id")
      .filter(col("doc_id") < 5).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b, s"shuffle not partitioning-independent: $a vs $b")
    println(f"[smoke] deterministicShuffle 10M rows: exact permutation in $tShuf%.1f s")

    // ---- zOrderBy: 10M rows, 64 ranges ----
    val pts = spark.range(0, 10000000L, 1, 64).select(col("id"),
      pmod(hash(col("id")), lit(1000000)).cast("long").as("a"),
      pmod(hash(col("id") + 77), lit(1000000)).cast("long").as("b"))
      .filter(col("a") >= 0 && col("b") >= 0)
    val (spans, tZ) = time {
      Layout.zOrderBy(pts, Seq("a", "b"), numFiles = 64)
        .withColumn("__pid", spark_partition_id())
        .groupBy("__pid")
        .agg((max("a") - min("a")).as("sa"), (max("b") - min("b")).as("sb"))
        .agg(avg("sa"), avg("sb")).head()
    }
    val (sa, sb) = (spans.getDouble(0), spans.getDouble(1))
    // 64 ranges ≈ 8x8 grid -> expected span ~ 1e6/8 = 125k (+ boundary
    // ranges that straddle grid cells); well under the 1e6 full range
    assert(sa < 400000 && sb < 400000, s"z-order spans too wide: $sa / $sb")
    println(f"[smoke] zOrderBy 10M rows/64 ranges: avg span a=$sa%.0f b=$sb%.0f (range 1e6) in $tZ%.1f s")

    // ---- metadata partials: 10M events, 200 codes ----
    val ev = spark.range(0, 10000000L, 1, 64).select(
      pmod(col("id"), lit(100000)).as("subject_id"),
      concat(lit("C"), pmod(col("id"), lit(200))).as("code"),
      when(pmod(col("id"), lit(10)) < 8,
        (pmod(col("id"), lit(1000)).cast("double") / 10.0)).as("numeric_value"))
    val halves = Seq(ev.filter(col("subject_id") % 2 === 0),
      ev.filter(col("subject_id") % 2 === 1))
    val (incr, tP) = time {
      val merged = AggregateCodeMetadata.mergePartials(
        halves.map(AggregateCodeMetadata.partials(_)))
      AggregateCodeMetadata.fromPartials(merged).collect()
    }
    val (direct, tD) = time { AggregateCodeMetadata.compute(ev).collect() }
    val im = incr.map(r => r.getString(0) -> r).toMap
    val dm = direct.map(r => r.getString(0) -> r).toMap
    assert(im.keySet == dm.keySet && im.size == 200)
    dm.foreach { case (k, d) =>
      val i = im(k)
      Seq("code/n_subjects", "code/n_occurrences", "values/n_subjects",
        "values/n_occurrences", "values/n_ints").foreach { c =>
        assert(i.getAs[Long](c) == d.getAs[Long](c), s"$k/$c mismatch")
      }
      assert(math.abs(i.getAs[Double]("values/sum") - d.getAs[Double]("values/sum")) < 1e-6)
    }
    println(f"[smoke] metadata partials 10M events/200 codes: incr $tP%.1f s vs direct $tD%.1f s, all equal")

    spark.stop()
  }
}
