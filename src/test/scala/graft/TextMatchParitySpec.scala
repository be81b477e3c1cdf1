package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop}
import graft.ops.TextAnalysis

/** Parity net for the native [[graft.plans.MarkerCounts]] word scan
  * against the old per-language regex form, both evaluated through Spark
  * (shared `lower()` semantics).
  */
class LangIdParitySpec extends SparkSpec {

  private def oldScores(t: org.apache.spark.sql.Column) =
    TextAnalysis.LangMarkers.map { case (lang, markers) =>
      val pat = markers.mkString("\\b(", "|", ")\\b")
      size(regexp_extract_all(lower(t), lit(pat), lit(0))).as(s"score_$lang")
    }

  private val genWord: Gen[String] = Gen.oneOf(
    // markers (incl. the multi-language "la"/"de"), case variants,
    // run-extensions that must NOT count, unicode neighbors
    "der", "Die", "das", "UND", "the", "And", "el", "la", "de", "le", "les",
    "est", "une", "queue", "théâtre", "derX", "_der", "der_", "la1", "42",
    "l.a", "d-e", "…", "x")
  private val genSep: Gen[String] = Gen.oneOf(" ", ", ", "\n", "-", "", ".")
  private val genDoc: Gen[String] = for {
    k <- Gen.choose(0, 30)
    ws <- Gen.listOfN(k, genWord)
    ss <- Gen.listOfN(k, genSep)
  } yield ws.zip(ss).map { case (w, s) => w + s }.mkString

  test("native marker counts equal the regex scores on randomized text") {
    val prop = Prop.forAll(Gen.listOfN(25, genDoc)) { docs =>
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(
          docs.zipWithIndex.map { case (t, i) => Row(i.toLong, t) } :+
            Row(999L, null), 2),
        StructType(Seq(StructField("doc_id", LongType),
          StructField("text", StringType))))
      val got = df.select(col("doc_id") +: TextAnalysis.langIdExprs(col("text")): _*)
        .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
      val oldBest = oldScores(col("text"))
      val want = df.select((col("doc_id") +: oldBest) :+ {
        // rebuild the old prediction verbatim over the old scores
        val scores = TextAnalysis.LangMarkers.map { case (lang, markers) =>
          val pat = markers.mkString("\\b(", "|", ")\\b")
          lang -> size(regexp_extract_all(lower(col("text")), lit(pat), lit(0)))
        }
        val best = scores.map(_._2).reduce(greatest(_, _))
        scores.foldRight(lit("unknown")) { case ((lang, s), acc) =>
          when(s === best && best > 0, lit(lang)).otherwise(acc)
        }.as("lang_pred")
      }: _*).collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
      got == want
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }
}
