package graft

import org.apache.spark.sql.functions._
import graft.ops.Pq

/** Scale evidence for the 100 TB PQ training recipe — "train on ≪1,
  * encode once" ([[Pq.train]]'s `trainFraction`): at each replicated
  * scale, train codebooks on the FULL corpus and on the 10% deterministic
  * hash sample, and measure (a) training wall time and (b) recall@10 of
  * ADC-only and rerank@100 against the exact integer-L2 top-10 — the
  * sampled-training point the gates (which train at 100% of the toy
  * corpus) never exercise. Committed results in SMOKE.md.
  *
  * Run on [[ScaleUpBench]]-built dirs:
  *   Test/runMain graft.PqTrainFractionSmoke /tmp/graft_scale 16 64
  */
object PqTrainFractionSmoke {
  def main(args: Array[String]): Unit = {
    val root = args(0)
    val scales = args.drop(1).map(_.toInt).toSeq
    val spark = LocalSession()
    LocalSession.warm(spark)

    val k = 10
    for (scale <- scales) {
      val embs = spark.read.parquet(s"$root/x$scale/embeddings.parquet")
        .localCheckpoint()
      val n = embs.count()
      // 20 deterministic queries from the base replica (present at every k)
      val queries = embs
        .filter(pmod(col("vec_id"), lit(97)) === 0 && col("vec_id") < 10000000L)
        .orderBy("vec_id").limit(20).collect()
        .map(r => r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble))
      def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
        df.select("vec_id").collect().map(_.getLong(0)).toSet
      // exact baseline on the SAME metric the engine ranks by (e6-integer
      // squared L2, native SqDist) — isolates quantization loss
      def exact(q: Seq[Double]): Set[Long] = {
        val qlit = array(Pq.xe(q).map(lit): _*)
        ids(embs.select(col("vec_id"),
          graft.plans.SqDist.dist(Pq.xeCol(col("embedding")), qlit).as("d"))
          .orderBy(col("d"), col("vec_id")).limit(k))
      }
      val exactSets = queries.map(q => q -> exact(q))
      val denom = (queries.length * k).toDouble
      def recall(approx: Seq[Double] => Set[Long]): Double =
        exactSets.map { case (q, e) => e.intersect(approx(q)).size }.sum / denom

      for (frac <- Seq(1.0, 0.1)) {
        val t0 = System.nanoTime()
        val model = Pq.train(embs, "vec_id", "embedding",
          dim = 64, m = 8, ksub = 16, iters = 3, seed = 42L,
          trainFraction = frac)
        val trainSec = (System.nanoTime() - t0) / 1e9
        val enc = Pq.encode(embs, "embedding", model).localCheckpoint()
        val rAdc = recall(q => ids(Pq.adcTopK(enc, "vec_id", model, Pq.xe(q), k)))
        val rRer = recall(q =>
          ids(Pq.adcTopKRerank(enc, "vec_id", "embedding", model, Pq.xe(q),
            k, shortlist = 100)))
        println(f"SMOKE pq trainFraction=$frac%.1f x$scale ($n%,d vecs, " +
          f"m=8 ksub=16 iters=3): train $trainSec%.1f s, " +
          f"recall@$k adc $rAdc%.2f, rerank@100 $rRer%.2f")
      }
    }
    println("SMOKE all ok")
    spark.stop()
  }
}
