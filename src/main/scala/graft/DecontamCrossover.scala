package graft

import org.apache.spark.sql.functions._
import graft.ops.Decontaminate

/** Dev tool: measure the exact-vs-bloom decontamination crossover by
  * replicating the sf documents table K× (ids shifted so replicas stay
  * distinct documents) and timing both plans at each scale — the committed
  * evidence behind the `algo: auto` threshold in the decontaminate stage
  * (SMOKE.md "Decontamination crossover").
  * Usage: runMain graft.DecontamCrossover <sfDir> <iters> <textMult> <scale...>
  * (`textMult` m repeats each document's text m times — longer documents
  * raise the per-doc explode cost the exact path pays on every clean doc,
  * which is the axis the bloom prefilter exists to win on.)
  */
object DecontamCrossover {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val iters = args(1).toInt
    val textMult = args(2).toInt
    val scales = args.drop(3).map(_.toInt).toSeq
    val spark = LocalSession()
    LocalSession.warm(spark)
    val docs0 = spark.read.parquet(s"$sfDir/documents.parquet")
    val docs =
      if (textMult <= 1) docs0
      else docs0.withColumn("text",
        array_join(array_repeat(col("text"), textMult), " "))
    scales.foreach { k =>
      val train0 = (0 until k).map { i =>
        docs.filter(col("doc_id") % 50 =!= 0)
          .withColumn("doc_id", col("doc_id") + lit(i.toLong * 10_000_000L))
      }.reduce(_ union _)
      val eval = docs.filter(col("doc_id") % 50 === 0)
      val trainBytes =
        train0.queryExecution.optimizedPlan.stats.sizeInBytes
      def time(f: => Long): (Double, Long) = {
        var rows = 0L
        val ts = (1 to iters).map { _ =>
          val t0 = System.nanoTime()
          rows = f
          (System.nanoTime() - t0) / 1e9
        }
        (ts.min, rows)
      }
      val (tExact, rExact) = time(
        Decontaminate.decontaminate(train0, eval, "doc_id", "text", n = 4).count())
      val (tBloom, rBloom) = time(
        Decontaminate.decontaminateBloom(train0, eval, "doc_id", "text", n = 4).count())
      require(rExact == rBloom, s"row mismatch at k=$k: $rExact vs $rBloom")
      println(f"scale=$k%-3d trainBytes=$trainBytes%-12s rows=$rExact%-8d " +
        f"exact=$tExact%.2fs bloom=$tBloom%.2fs")
    }
    spark.stop()
  }
}
