package graft

import org.apache.spark.sql.functions._
import graft.ops.Dedup

/** Connected-components at scale: `Dedup.resolveClusters` against
  * known-diameter graphs far beyond gate scale (the gate resolves 47
  * clusters). Two adversarial shapes:
  *
  *  - LONG CHAINS: parallel 1M-node paths — diameter 10⁶ forces the
  *    pointer-jumping log-diameter claim (plain min-propagation would need a
  *    million rounds and converges here only because each round follows
  *    label[label], doubling the labeled prefix).
  *  - HIGH-DEGREE STAR: one hub with 10M leaves — the skew shape (every
  *    leaf's neighbor-min lookup hits the hub's label row).
  *
  * Prints rounds-to-converge, wall time, and post-run persisted storage.
  * Per-round storage is flat by construction: each round materializes ONE
  * new label table and unpersists the previous one immediately
  * (`GraftSqlBridge.unpersistCheckpoint`), so at any instant at most two
  * label generations plus the edge table are live. Committed numbers live in
  * SMOKE.md. Run: `sbt "Test/runMain graft.ClusterSmoke"`.
  */
object ClusterSmoke {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession()

    def storageMb: Long =
      spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / (1024 * 1024)

    // ---- 10 parallel chains of 1M nodes: 9,999,990 edges, diameter 10⁶ ----
    val chainLen = 1000000L
    val nChains = 10L
    val chainEdges = spark.range(0, nChains * chainLen, 1, 64)
      .filter(pmod(col("id"), lit(chainLen)) =!= (chainLen - 1)) // no edge past a chain end
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val t0 = System.nanoTime()
    val (chainLabels, chainRounds) = Dedup.resolveClustersStats(chainEdges, maxIters = 25)
    val chainClusters = chainLabels.groupBy("cluster_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val chainSecs = (System.nanoTime() - t0) / 1e9
    // every chain collapses to its base node's id, all 1M members found
    require(chainClusters.size == nChains.toInt, s"expected $nChains clusters, got ${chainClusters.size}")
    require(chainClusters.keySet == (0L until nChains).map(_ * chainLen).toSet,
      "chain cluster representative is not the min node id")
    require(chainClusters.values.forall(_ == chainLen), s"chain sizes: ${chainClusters.values.toSeq}")
    val logD = (math.log(chainLen.toDouble) / math.log(2)).ceil.toInt
    println(f"SMOKE chains: ${nChains * chainLen}%,d nodes, diameter $chainLen%,d -> " +
      f"$chainRounds rounds (log2(diameter)=$logD), $chainSecs%.1f s, " +
      f"post-run storage ${storageMb} MB")
    require(chainRounds <= logD + 2, s"rounds $chainRounds exceed log-diameter bound ${logD + 2}")
    org.apache.spark.sql.GraftSqlBridge.unpersistCheckpoint(chainLabels)

    // ---- star: hub 0, 10M leaves — the high-degree skew shape ----
    val nLeaves = 10000000L
    val starEdges = spark.range(1, nLeaves + 1, 1, 64)
      .select(lit(0L).as("id_a"), col("id").as("id_b"))
    val t1 = System.nanoTime()
    val (starLabels, starRounds) = Dedup.resolveClustersStats(starEdges, maxIters = 25)
    val starAgg = starLabels.agg(
      countDistinct(col("cluster_id")).as("nc"),
      count(lit(1)).as("n"), max(col("cluster_id")).as("mx")).collect()(0)
    val starSecs = (System.nanoTime() - t1) / 1e9
    require(starAgg.getLong(0) == 1L && starAgg.getLong(1) == nLeaves + 1 &&
      starAgg.getLong(2) == 0L, s"star labels wrong: $starAgg")
    println(f"SMOKE star: ${nLeaves + 1}%,d nodes, hub degree $nLeaves%,d -> " +
      f"$starRounds rounds, $starSecs%.1f s, post-run storage ${storageMb} MB")
    org.apache.spark.sql.GraftSqlBridge.unpersistCheckpoint(starLabels)

    println("SMOKE all ok")
    spark.stop()
  }
}
