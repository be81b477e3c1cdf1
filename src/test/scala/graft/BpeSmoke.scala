package graft

import org.apache.spark.sql.functions._
import graft.ops.Bpe

/** BPE scale smoke: train on a 1M-document Zipfian corpus (one scan to the
  * word dictionary + driver merge loop), then encode all 1M documents with
  * the codegen'd expression — the two halves a 100 TB tokenizer run pays.
  * Committed results in SMOKE.md ("BPE smoke").
  *
  * Usage: sbt "Test/runMain graft.BpeSmoke"
  */
object BpeSmoke {

  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val spark = LocalSession()

    // realistic token mix: 90% of positions draw from a ~2k-word common
    // vocabulary (the memo-friendly Zipfian head), 10% are document-unique
    // rare words (the memo-MISS tail every crawl has — ids, typos, hashes)
    val docs = spark.range(0, 1000000L, 1, 64).select(col("id").as("doc_id"),
      array_join(transform(sequence(lit(1), lit(40)), i =>
        when(i % 10 === 0, concat(lit("rare"), col("id"), lit("x"), i))
          .otherwise(concat(lit("w"), pmod(col("id") * i + i * i, lit(100)) *
            pmod(col("id") + i, lit(100))))), " ").as("text"))

    val ((merges, dict), tTrain) = time {
      // cap the dictionary at 100k words — the rare tail (4M distinct)
      // contributes nothing to merges (freq 1 each); this IS the loudly-
      // parameterized truncation every production BPE trainer applies
      val d = Bpe.wordFrequencies(docs, "text", maxWords = 100000)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      (Bpe.train(d.toSeq, numMerges = 1000), d.length)
    }
    println(f"train: $dict distinct words -> ${merges.length} merges in $tTrain%.1f s")

    val (total, tEnc) = time {
      docs.select(sum(size(Bpe.encode(col("text"), merges)))).head().getLong(0)
    }
    val mtoks = total / 1e6
    println(f"encode: 1M docs, $mtoks%.1f M subword tokens in $tEnc%.1f s " +
      f"(${mtoks / tEnc}%.1f M tok/s)")
    assert(total >= 40000000L, s"every doc has 40 words -> >= 40 subwords each, got $total")

    spark.stop()
  }
}
