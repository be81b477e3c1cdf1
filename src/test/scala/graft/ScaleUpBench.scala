package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: the floor-amortization measurement behind the ">2× tail is
  * local-mode job floor" claim (VERDICT r8 #1). Replicates the sf documents
  * table K× and times the job-floor-suspect gates at each scale, so the
  * Spark-vs-DuckDB ratio TREND is a measurement, not an argument — DuckDB
  * timings for the same dirs come from `tools/bench_scale.py`.
  *
  * Replicas are made textually disjoint by a per-replica alphabet
  * PERMUTATION (`translate`, replica 0 = identity): plain id-shifted copies
  * would share every shingle across replicas and hand `ngram_jaccard` a
  * quadratic cross-replica pair blowup — a different regime from "the same
  * pipeline over more data", which is what amortization is about. The
  * permutations are the affine maps j → (a·j + b) mod 26 with a coprime to
  * 26 — 12×26 = 312 distinct letter bijections (i < 26 is a = 1: the plain
  * rotations of rounds ≤9), so scales beyond k=26 stay shingle-NEAR-
  * disjoint: two distinct affine maps agree on at most 2 of 26 letters
  * (a₁j+b₁ ≡ a₂j+b₂ has ≤2 roots mod 26), so only tokens confined to
  * those ≤2 letters can collide across a replica pair — negligible
  * against whole-word shingles.
  * Each preserves word lengths, token counts, and per-class document ratios
  * (lang/source untouched), so per-stage work scales ~linearly in K.
  *
  * Usage: Test/runMain graft.ScaleUpBench <sfDir> <outRoot> <iters> <k...>
  * Writes <outRoot>/x<k>/documents.parquet then prints per-query min-of-iters
  * seconds per scale. SPARK_GRAFT_SCALE_QUERIES (comma list) narrows the
  * query set — large-k runs time one query without paying for the others.
  */
object ScaleUpBench {
  val QueriesUnderTest: Seq[String] =
    sys.env.get("SPARK_GRAFT_SCALE_QUERIES")
      .map(_.split(",").map(_.trim).toSeq)
      .getOrElse(Seq(
        // the full >2x-at-sf0.1 excuse tail (VERDICT r10 #1): every gate
        // whose floor-amortization claim needs force-convention evidence
        "ppl_buckets", "lm_perplexity", "nb_classify", "nb_confusion",
        "analysis_pipeline", "ngram_jaccard"))

  private val Abc = "abcdefghijklmnopqrstuvwxyz"
  // units of Z/26 — each (a, b) affine map is a distinct permutation
  private val Coprimes = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)

  private def perm(i: Int): String = {
    val (a, b) = (Coprimes(i / 26), i % 26)
    (0 until 26).map(j => Abc((a * j + b) % 26)).mkString
  }

  def replicate(docs: DataFrame, k: Int): DataFrame = {
    require(k <= 26 * Coprimes.length,
      s"replicate: k=$k exceeds the ${26 * Coprimes.length} distinct affine permutations")
    (0 until k).map { i =>
      val p = perm(i)
      docs
        .withColumn("doc_id", col("doc_id") + lit(i.toLong * 10_000_000L))
        .withColumn("text",
          if (i == 0) col("text")
          else translate(col("text"), Abc + Abc.toUpperCase,
            p + p.toUpperCase))
    }.reduce(_ unionByName _)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outRoot = args(1)
    val iters = args(2).toInt
    val scales = args.drop(3).map(_.toInt).toSeq
    // SPARK_GRAFT_SCALE_CONF="k=v;k=v": ad-hoc conf for A/B runs at scale
    val spark = LocalSession(conf = LocalSession.parseConf(
      sys.env.get("SPARK_GRAFT_SCALE_CONF").toSeq.flatMap(_.split(';'))))
    LocalSession.warm(spark)

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val evs = spark.read.parquet(s"$sfDir/events.parquet")
    // SPARK_GRAFT_SCALE_REUSE=1: skip the replication write for any table
    // whose dir is already populated — the one-query-per-JVM convention
    // re-invokes this main once per gate and the setup write would
    // otherwise dominate (per-table guards: an events.parquet can be added
    // to a dir that already carries documents/embeddings replicas)
    val reuse = sys.env.get("SPARK_GRAFT_SCALE_REUSE").contains("1")
    def needs(dir: String, tbl: String): Boolean =
      !(reuse && new java.io.File(s"$dir/$tbl/_SUCCESS").exists())
    val dirs = scales.map { k =>
      val dir = s"$outRoot/x$k"
      if (needs(dir, "documents.parquet"))
        replicate(docs, k).repartition(math.max(k, 4))
          .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      // embeddings (read by orc_roundtrip and join_table): replicas get
      // disjoint ids and a per-replica deterministic scaling (1 + i/1024 —
      // float-exact for small i), so the table holds k× distinct vectors,
      // not k identical copies
      if (needs(dir, "embeddings.parquet"))
        (0 until k).map { i =>
          embs
            .withColumn("vec_id", col("vec_id") + lit(i.toLong * 10_000_000L))
            .withColumn("embedding",
              if (i == 0) col("embedding")
              else transform(col("embedding"),
                v => (v * lit(1.0f + i / 1024.0f)).cast("float")))
        }.reduce(_ unionByName _).repartition(math.max(k / 4, 4))
          .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      // events for the as-of, rolling and range gates: disjoint event AND
      // user ids per replica — key cardinality grows k×, per-key event
      // density stays constant, which is the "same pipeline over more
      // data" regime keyed operators scale in
      if (needs(dir, "events.parquet"))
        (0 until k).map { i =>
          evs
            .withColumn("event_id", col("event_id") + lit(i.toLong * 100_000_000L))
            .withColumn("user_id", col("user_id") + lit(i.toLong * 10_000_000L))
        }.reduce(_ unionByName _).repartition(math.max(k / 4, 4))
          .write.mode("overwrite").parquet(s"$dir/events.parquet")
      k -> dir
    }

    // one warm pass per query at the smallest scale: codegen + JIT, the
    // same convention as graft.Bench
    val warmDir = dirs.head._2
    for (q <- QueriesUnderTest)
      try Bench.force(SparkEntry.queries(q)(spark, warmDir))
      catch { case e: Throwable => println(s"WARM FAIL $q: $e") }

    println(f"${"query"}%-20s ${"k"}%-4s ${"rows"}%-10s seconds")
    for ((k, dir) <- dirs; q <- QueriesUnderTest) {
      var rows = 0L
      val times = (1 to iters).map { _ =>
        spark.catalog.clearCache()
        System.gc()
        val t0 = System.nanoTime()
        rows = Bench.force(SparkEntry.queries(q)(spark, dir))
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$q%-20s $k%-4d $rows%-10d ${times.min}%.2f")
    }
    spark.stop()
  }
}
