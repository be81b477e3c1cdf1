package graft

import org.apache.spark.sql.functions._
import graft.ops.Similarity

/** Recall evidence for the approximate similarity paths: recall@k of
  * sign-LSH bucketing and IVF (k-means cells) against the exact brute-force
  * top-k, over the real sf0.1 embeddings table, averaged across query
  * vectors drawn from the data itself. ANN correctness is oracle-gated
  * (deterministic given the config); THIS measures the approximation
  * quality those configs buy — the number a user tunes `planes` / `n_cells`
  * / `n_probe` against. Committed results in SMOKE.md.
  * Run: `sbt "Test/runMain graft.AnnRecallSmoke"`.
  */
object AnnRecallSmoke {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession()
    val embs = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
      .localCheckpoint()
    val n = embs.count()
    val k = 10
    // 20 query vectors sampled deterministically from the table itself
    val queries = embs.filter(pmod(col("vec_id"), lit(97)) === 0)
      .orderBy("vec_id").limit(20)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](r.fieldIndex("embedding"))))
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("vec_id").collect().map(_.getLong(0)).toSet
    val exactSets = queries.map { case (_, q) =>
      q -> ids(Similarity.topK(embs, "vec_id", "embedding", q, k))
    }
    val denom = (queries.length * k).toDouble
    def recall(approx: Seq[Float] => Set[Long]): Double =
      exactSets.map { case (q, exact) => exact.intersect(approx(q)).size }.sum / denom
    // the tuning curve is the point: recall vs scanned fraction, both knobs.
    // Bucket occupancy must exceed k (n/2^planes for LSH, n*probe/cells for
    // IVF) or the bucket cannot even CONTAIN k true neighbors — config
    // follows data size.
    Seq(2, 4, 6).foreach { planes =>
      val r = recall(q =>
        ids(Similarity.lshTopK(embs, "vec_id", "embedding", q, k, 0 until planes)))
      println(f"SMOKE ann recall@$k sign-LSH planes=$planes " +
        f"(~1/${1 << planes} scanned, ~${n / (1L << planes)}%,d/bucket): $r%.2f")
    }
    Seq(2, 4, 8).foreach { probe =>
      val r = recall(q =>
        ids(Similarity.ivfTopKKmeans(embs, "vec_id", "embedding", q, k,
          nCells = 16, nProbe = probe, iters = 2)))
      println(f"SMOKE ann recall@$k IVF cells=16 probe=$probe " +
        f"(~$probe/16 scanned): $r%.2f")
    }

    // PQ recall: ADC ranks by squared L2, so its honest baseline is the
    // EXACT L2 top-k (cosine and L2 orderings differ on unnormalized
    // vectors) — this isolates quantization loss from metric mismatch.
    // The knob is codebook size: ksub codes/subspace = log2(ksub) bits,
    // m*log2(ksub) bits/vector vs 2048 for the raw floats.
    import graft.ops.Pq
    def exactL2(q: Seq[Float]): Set[Long] = {
      val qc = array(q.map(v => lit(v.toDouble)): _*)
      ids(embs.select(col("vec_id"),
        aggregate(
          zip_with(col("embedding").cast("array<double>"), qc,
            (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, v) => acc + v).as("d2"))
        .orderBy(col("d2"), col("vec_id")).limit(k))
    }
    val exactL2Sets = queries.map { case (_, q) => q -> exactL2(q) }
    def recallL2(approx: Seq[Float] => Set[Long]): Double =
      exactL2Sets.map { case (q, exact) => exact.intersect(approx(q)).size }
        .sum / denom
    Seq(8, 16, 32).foreach { ksub =>
      val model = Pq.train(embs, "vec_id", "embedding",
        dim = 64, m = 8, ksub = ksub, iters = 3)
      val enc = Pq.encode(embs, "embedding", model).localCheckpoint()
      val bits = 8 * (32 - Integer.numberOfLeadingZeros(ksub - 1))
      val rPq = recallL2(q =>
        ids(Pq.adcTopK(enc, "vec_id", model, Pq.xe(q.map(_.toDouble)), k)))
      // the production recipe, through the stage-reachable API
      // (Pq.adcTopKRerank = sim_topk's `rerank: N` option): ADC shortlist
      // of 10k candidates -> exact re-rank of only the shortlist —
      // quantization error picks the candidate pool, full-precision
      // distance picks the winners
      val short = 10 * k
      val rRerank = recallL2(q =>
        ids(Pq.adcTopKRerank(enc, "vec_id", "embedding", model,
          Pq.xe(q.map(_.toDouble)), k, short)))
      // OPQ at the SAME bit budget: the signed-Hadamard-permutation
      // rotation spreads energy across subspaces before quantization —
      // the lift column is what `opq: true` buys for free at serve time
      // (rotation is a per-row codegen'd butterfly, no extra shuffle)
      val om = Pq.trainOpq(embs, "vec_id", "embedding",
        dim = 64, m = 8, ksub = ksub, iters = 3)
      val encO = Pq.encodeOpq(embs, "embedding", om).localCheckpoint()
      val rOpq = recallL2(q =>
        ids(Pq.adcTopK(encO, "vec_id", om.pq,
          Pq.xeOpq(q.map(_.toDouble), om), k)))
      val rOpqRerank = recallL2(q =>
        ids(Pq.adcTopKRerankOpq(encO, "vec_id", "embedding", om,
          Pq.xe(q.map(_.toDouble)), k, short)))
      println(f"SMOKE ann recall@$k PQ m=8 ksub=$ksub ($bits bits/vec vs " +
        f"2048 raw): adc $rPq%.2f -> opq $rOpq%.2f (lift ${rOpq - rPq}%+.2f), " +
        f"rerank@$short $rRerank%.2f -> opq $rOpqRerank%.2f " +
        f"(lift ${rOpqRerank - rRerank}%+.2f)")
    }
    println("SMOKE all ok")
    spark.stop()
  }
}
