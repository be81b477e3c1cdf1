package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Dedup

/** Scale smoke for the corpus-level line dedup and ExactSubstr span
  * operators: the evidence that their skew-critical shapes hold when a
  * single line / gram is duplicated across hundreds of thousands of
  * documents.
  *
  * Part 1 — dedupLines, 1M docs x 4 lines with a planted boilerplate line
  * in every second doc (500k copies) and a 1,000-variant nav line: the
  * first-occurrence selection is a map-side-combinable min(struct(id,pos))
  * on the line hash, so the 500k-copy line compresses to one candidate per
  * task before the shuffle — there is no window partition that would have
  * to hold half a million rows. Asserted: exact surviving-line census
  * (uniques everywhere, one boilerplate, one copy of each nav variant).
  *
  * Part 2 — duplicateSpans, 1M docs x 30 tokens with a shared 12-token run
  * planted in every 100th doc (10,000 copies, k=8 → five df=10,000 grams):
  * unlike the pair generators (ngram/banded/knn/embedding), the dup-gram
  * join is row-count PRESERVING — each gram row matches at most one hash
  * row — so a hot gram cannot fan out quadratically and the operator needs
  * no candidate cap at all. Asserted: exactly one span CONTAINING [10,22)
  * on every copy except the globally-first doc (keep-first exemption at
  * 10k-copy scale). A few hundred spans extend a token past the run:
  * boundary grams pair 7 run tokens with one random neighbor, and among
  * 10,000 copies the neighbor token birthday-collides (~10k²/2/500k ≈ 100
  * per side) — those grams genuinely ARE corpus-duplicated, so widening is
  * the correct answer, and the census bounds it.
  *
  * Run: Test/runMain graft.LineDedupSmoke — output committed in SMOKE.md.
  */
object LineDedupSmoke {

  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val spark = LocalSession()

    // ---- Part 1: dedupLines with a 500k-copy boilerplate line ----
    val nDocs = 1000000L
    val docs = spark.range(0, nDocs, 1, 64).select(col("id").as("doc_id"),
      concat_ws("\n",
        when(pmod(col("id"), lit(2)) === 0, lit("ACCEPT COOKIES TO CONTINUE"))
          .otherwise(concat(lit("u"), col("id"), lit("z"))),
        concat(lit("nav"), pmod(col("id"), lit(1000))),
        concat(lit("u"), col("id"), lit("a")),
        concat(lit("u"), col("id"), lit("b"))).as("text"))
    val (survivors, tLines) = time {
      Dedup.dedupLines(docs, "doc_id", "text")
        .select(coalesce(sum(when(length(col("text")) > 0,
            size(split(col("text"), "\n"))).otherwise(0)), lit(0L)).as("lines"),
          coalesce(sum(when(col("text").contains("ACCEPT COOKIES"), 1L)
            .otherwise(0L)), lit(0L)).as("boiler"))
        .head()
    }
    val totalLines = survivors.getLong(0)
    val boilerDocs = survivors.getLong(1)
    // odd docs: u{id}z + nav? + u{id}a + u{id}b; surviving census:
    // 500k u*z + 1M u*a + 1M u*b + 1000 nav variants + 1 boilerplate
    println(f"dedupLines: 1M docs / 4M lines (500k-copy boilerplate) in " +
      f"$tLines%.1f s; surviving lines $totalLines%,d, boilerplate docs $boilerDocs")
    assert(boilerDocs == 1L, s"boilerplate must survive exactly once, got $boilerDocs")
    assert(totalLines == 500000L + 2000000L + 1000L + 1L,
      s"surviving-line census off: $totalLines")

    // ---- Part 2: duplicateSpans with a 10,000-copy 12-token run ----
    val run = (0 until 12).map(i => s"r${i}shared").mkString(" ")
    val spanDocs = spark.range(0, nDocs, 1, 64).select(col("id").as("doc_id"),
      concat_ws(" ",
        tokenRun(col("id"), 0, 10) +:
          (when(pmod(col("id"), lit(100)) === 0, lit(run))
            .otherwise(tokenRun(col("id"), 10, 22))) +:
          Seq(tokenRun(col("id"), 22, 30)): _*).as("text"))
    val (spanStats, tSpans) = time {
      Dedup.duplicateSpans(spanDocs, "doc_id", "text", k = 8)
        .select(
          coalesce(sum(when(col("span_start") <= 10 && col("span_end") >= 22, 1L)
            .otherwise(0L)), lit(0L)).as("containing"),
          coalesce(sum(when(col("span_start") === 10 && col("span_end") === 22, 1L)
            .otherwise(0L)), lit(0L)).as("tight"),
          coalesce(count(lit(1)), lit(0L)).as("total"))
        .head()
    }
    val containing = spanStats.getLong(0)
    val tight = spanStats.getLong(1)
    val total = spanStats.getLong(2)
    println(f"duplicateSpans: 1M docs / ~23M grams, 10,000-copy run in " +
      f"$tSpans%.1f s; spans containing the run $containing%,d " +
      f"(tight $tight%,d, boundary-collision widened ${containing - tight}), " +
      f"total $total%,d")
    assert(total == 9999L && containing == 9999L,
      s"every copy but the globally-first must carry one span covering the " +
        s"run: total=$total containing=$containing")
    assert(containing - tight <= 600L,
      s"widened spans beyond the boundary-collision estimate: ${containing - tight}")
    spark.stop()
  }

  /** Tokens `from` until `until` of doc `seed`'s pseudo-random 30-token
    * body — w{hash} over a 500k vocab, unique-ish per (doc, position).
    */
  private def tokenRun(seed: org.apache.spark.sql.Column, from: Int, until: Int) =
    concat_ws(" ", (from until until).map(i =>
      concat(lit("w"), pmod(hash(seed * 131 + lit(i * 17)), lit(500000)))): _*)
}
