package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Similarity}

/** Skew-guard scale smoke: the evidence that the two guarded scale-killers
  * (hot boilerplate shingles in `ngramJaccardPairs`, hot blocks in `knnJoin`)
  * stay bounded on a corpus whose skew would be fatal unguarded.
  *
  * Two measurements per guard:
  *  1. LARGE scale (1M docs / 500k vectors with a hot key covering 10-20% of
  *     the corpus): the unguarded candidate count is computed ANALYTICALLY
  *     from key frequencies (sum over keys of the join fan-out) — running it
  *     would materialize 10^10-10^11 join rows — and the guarded query runs
  *     for real, reporting wall-time and its bounded candidate count.
  *  2. SMALL scale (guarded vs unguarded on identical data where both are
  *     runnable): direct wall-time A/B.
  *
  * Run: Test/runMain graft.SkewSmoke — output is committed in SMOKE.md.
  */
object SkewSmoke {

  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Synthetic corpus: `nDocs` docs of 12 pseudo-random tokens over a 200k
    * vocab (seeded by `id % dupMod`, so ~nDocs/dupMod docs have exact twins
    * and real near-dup pairs exist); every `hotEvery`-th doc appends the same
    * 5-token boilerplate phrase — its 3-shingles are the hot keys.
    */
  private def corpus(spark: SparkSession, nDocs: Long, hotEvery: Int,
      dupMod: Long): DataFrame = {
    val base = spark.range(0, nDocs, 1, 64)
    val seed = pmod(col("id"), lit(dupMod))
    val words = transform(sequence(lit(0), lit(11)),
      i => concat(lit("w"), pmod(hash(seed * 31 + i * 7), lit(200000))))
    base.select(col("id").as("doc_id"),
      when(pmod(col("id"), lit(hotEvery)) === 0,
        concat(concat_ws(" ", words), lit(" terms of service apply here")))
        .otherwise(concat_ws(" ", words)).as("text"))
  }

  /** Blocked embedding table: `nVecs` dim-16 vectors over `nBlocks` keys,
    * with the first `hotN` ids all in one hot block.
    */
  private def vectors(spark: SparkSession, nVecs: Long, nBlocks: Int,
      hotN: Long): DataFrame =
    spark.range(0, nVecs, 1, 64).select(
      col("id"),
      when(col("id") < hotN, lit(0))
        .otherwise((pmod(col("id"), lit(nBlocks)) + 1).cast("int")).as("block"),
      transform(sequence(lit(0), lit(15)),
        i => (pmod(hash(col("id") * 17 + i * 3), lit(2001)) - 1000)
          .cast("double") / 1000.0).as("vec"))

  def main(args: Array[String]): Unit = {
    val spark = LocalSession()
    val out = new StringBuilder
    def report(s: String): Unit = { println(s"SMOKE $s"); out.append(s).append('\n') }

    // ---------------- ngram hot-shingle guard ----------------
    val maxDf = 100
    val docs = corpus(spark, nDocs = 1000000L, hotEvery = 10, dupMod = 990000L)
      .localCheckpoint()
    val df = Dedup.shingleTable(docs, "doc_id", "text", 3)
      .groupBy("shingle").agg(count(lit(1)).as("df"))
    val Seq(candAll, candPruned, nHot) = df
      .agg(sum(col("df") * (col("df") - 1) / 2),
        sum(when(col("df") <= maxDf, col("df") * (col("df") - 1) / 2).otherwise(0)),
        sum(when(col("df") > maxDf, 1).otherwise(0)))
      .head().toSeq.map(v => v.toString.toDouble.toLong)
    report(f"ngram 1M docs, 10%% hot boilerplate: unguarded candidates (analytic) = $candAll%,d; " +
      f"guarded (maxDf=$maxDf) = $candPruned%,d (${candAll.toDouble / candPruned}%.0fx cut, $nHot hot shingles pruned)")
    val (nPairs, tG) = time(
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5,
        maxDf = Some(maxDf)).count())
    report(f"ngram 1M docs guarded run: $tG%.1f s, $nPairs%,d near-dup pairs (unguarded = ${candAll / 1000000}%,dM-row join, not runnable)")

    val docsS = corpus(spark, nDocs = 50000L, hotEvery = 10, dupMod = 49500L)
      .localCheckpoint()
    val (pU, tU) = time(Dedup.ngramJaccardPairs(docsS, "doc_id", "text", 3, 0.5, None).count())
    val (pG, tGs) = time(Dedup.ngramJaccardPairs(docsS, "doc_id", "text", 3, 0.5, Some(maxDf)).count())
    report(f"ngram 50k-doc A/B on identical data: unguarded $tU%.1f s ($pU pairs) vs guarded $tGs%.1f s ($pG pairs)")

    // ---------------- minhash band hot-bucket guard ----------------
    // templated-corpus shape: every 10th doc is byte-identical, so one band
    // bucket per band holds 100k members — the m² hazard the chain guard
    // bounds. Identical docs share ALL `bands` buckets, so the unguarded
    // fan-out is bands × C(m,2); the chain emits bands × (m−1).
    def corpusTemplated(n: Long, everyNth: Int): DataFrame =
      spark.range(0, n, 1, 64).select(col("id").as("doc_id"),
        when(pmod(col("id"), lit(everyNth)) === 0,
          lit("the same templated boilerplate page body repeated across the corpus"))
          .otherwise(concat_ws(" ", transform(sequence(lit(0), lit(11)),
            i => concat(lit("w"), pmod(hash(col("id") * 31 + i * 7), lit(200000))))))
          .as("text"))
    val capB = 1000
    val mHot = 100000L
    val docsB = corpusTemplated(1000000L, 10).localCheckpoint()
    val unguardedBand = 8L * mHot * (mHot - 1) / 2
    report(f"minhash band 1M docs, 100k byte-identical: unguarded candidates (analytic) = $unguardedBand%,d; " +
      f"guarded (maxBucket=$capB) chain = ${8L * (mHot - 1)}%,d (${unguardedBand / (8.0 * (mHot - 1))}%.0fx cut)")
    val (nBand, tB) = time(Dedup.minhashLshPairs(docsB, "doc_id", "text",
      maxBucket = Some(capB)).count())
    report(f"minhash band 1M docs guarded run: $tB%.1f s, $nBand%,d near-dup pairs (unguarded = ${unguardedBand / 1000000}%,dM-row join, not runnable)")
    val docsBS = corpusTemplated(50000L, 25).localCheckpoint() // 2000 identical
    val (bU, tBU) = time(Dedup.minhashLshPairs(docsBS, "doc_id", "text").count())
    val (bG, tBG) = time(Dedup.minhashLshPairs(docsBS, "doc_id", "text",
      maxBucket = Some(capB)).count())
    report(f"minhash band 50k-doc A/B on identical data: unguarded $tBU%.1f s ($bU%,d pairs) vs guarded $tBG%.1f s ($bG%,d pairs)")

    // ---------------- knn hot-block guard ----------------
    val cap = 1000
    val vecs = vectors(spark, nVecs = 500000L, nBlocks = 5000, hotN = 100000L)
      .localCheckpoint()
    val sizes = vecs.groupBy("block").agg(count(lit(1)).as("n"))
    val knnCandAll = sizes.agg(sum(col("n") * col("n"))).head().getLong(0)
    val bucketedSizes = vecs
      .withColumn("bucket", when(col("block") === 0,
        Similarity.signBucket(col("vec"), 0 until 8)).otherwise(lit(0L)))
      .groupBy("block", "bucket").agg(count(lit(1)).as("n"))
    val knnCandGuarded = bucketedSizes.agg(sum(col("n") * col("n"))).head().getLong(0)
    report(f"knn 500k vectors, hot block 100k rows: unguarded candidates (analytic) = $knnCandAll%,d; " +
      f"guarded (cap=$cap, 8 sign-LSH planes) = $knnCandGuarded%,d (${knnCandAll.toDouble / knnCandGuarded}%.0fx cut)")
    val (nKnn, tK) = time(
      Similarity.knnJoin(vecs, vecs, "id", "vec", "block", k = 5,
        maxBlockSize = Some(cap)).count())
    report(f"knn 500k vectors guarded run: $tK%.1f s, $nKnn%,d result rows (unguarded = ${knnCandAll / 1000000}%,dM-row join, not runnable)")

    val vecsS = vectors(spark, nVecs = 50000L, nBlocks = 500, hotN = 5000L)
      .localCheckpoint()
    val (nU, tKU) = time(Similarity.knnJoin(vecsS, vecsS, "id", "vec", "block", 5, None).count())
    val (nG, tKG) = time(Similarity.knnJoin(vecsS, vecsS, "id", "vec", "block", 5, Some(cap)).count())
    report(f"knn 50k-vector A/B on identical data: unguarded $tKU%.1f s ($nU rows) vs guarded $tKG%.1f s ($nG rows)")

    // ---------------- embeddingPairs hot-block guard ----------------
    // 500k vectors with PLANTED duplicates: vector seeded by id % 50k, so
    // hot-block ids 0..99,999 hold each seed exactly twice — 50,000 true
    // identical pairs (i, i+50000) inside the hot block. Identical vectors
    // co-bucket under sign-LSH by construction, so the guard must find ALL
    // of them — the recall claim under verification, not just the cut.
    val embVecs = spark.range(0, 500000L, 1, 64).select(
      col("id"),
      when(col("id") < 100000L, lit(0))
        .otherwise((pmod(col("id"), lit(5000)) + 1).cast("int")).as("block"),
      transform(sequence(lit(0), lit(15)),
        i => (pmod(hash(pmod(col("id"), lit(50000L)) * 17 + i * 3), lit(2001)) - 1000)
          .cast("double") / 1000.0).as("vec")).localCheckpoint()
    val embSizes = embVecs.groupBy("block").agg(count(lit(1)).as("n"))
    val embCandAll = embSizes
      .agg(sum((col("n") * (col("n") - 1) / 2).cast("long"))).head().getLong(0)
    val embCandGuarded = embVecs
      .withColumn("bucket", when(col("block") === 0,
        Similarity.signBucket(col("vec"), 0 until 8)).otherwise(lit(0L)))
      .groupBy("block", "bucket").agg(count(lit(1)).as("n"))
      .agg(sum((col("n") * (col("n") - 1) / 2).cast("long"))).head().getLong(0)
    report(f"embed pairs 500k vectors, hot block 100k rows: unguarded candidates (analytic) = $embCandAll%,d; " +
      f"guarded (cap=$cap, 8 sign-LSH planes) = $embCandGuarded%,d (${embCandAll.toDouble / embCandGuarded}%.0fx cut)")
    val (planted, tE) = time(
      Dedup.embeddingPairs(embVecs, "id", "vec", col("block"), threshold = 0.999,
        maxBlock = Some(cap))
        .filter(col("id_b") === col("id_a") + 50000L && col("id_a") < 50000L)
        .count())
    require(planted == 50000L, s"guard lost planted duplicate pairs: $planted/50000")
    report(f"embed pairs 500k vectors guarded run: $tE%.1f s, all $planted%,d planted " +
      f"hot-block duplicate pairs found (unguarded = ${embCandAll / 1000000}%,dM-row join, not runnable)")

    java.nio.file.Files.writeString(java.nio.file.Paths.get("SMOKE_SKEW.txt"),
      out.toString)
    spark.stop()
  }
}
