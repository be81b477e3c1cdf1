package graft

import org.apache.spark.sql.functions._
import graft.ops.Similarity

/** Dev tool: split IVF index BUILD vs PROBE wall time (VERDICT r8 #7 — the
  * 100× deployment shape is build-once/probe-many, so the two must be
  * reported separately). Usage: Test/runMain graft.IvfSplitBench <sfDir>
  */
object IvfSplitBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = LocalSession()
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .withColumn("embedding", col("embedding").cast("array<double>"))
    val q = embs.orderBy("vec_id").select("embedding").head()
      .getSeq[Double](0).map(_.toFloat)
    val tmp = java.nio.file.Files.createTempDirectory("ivf_split").toString
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // warm both paths once (codegen/JIT), then min-of-3 each
    Similarity.buildIvfIndex(embs, "vec_id", "label", "embedding", tmp)
    Similarity.ivfTopKIndexed(embs, "vec_id", "embedding", tmp, q,
      k = 10, nProbe = 2).count()
    val builds = (1 to 3).map(_ => time(
      Similarity.buildIvfIndex(embs, "vec_id", "label", "embedding", tmp)))
    val probes = (1 to 3).map(_ => time {
      Similarity.ivfTopKIndexed(embs, "vec_id", "embedding", tmp, q,
        k = 10, nProbe = 2).count(); ()
    })
    println(f"[ivf] build min=${builds.min}%.2f s  (${builds.map(t => f"$t%.2f").mkString(" ")})")
    println(f"[ivf] probe min=${probes.min}%.2f s  (${probes.map(t => f"$t%.2f").mkString(" ")})")
    spark.stop()
  }
}
