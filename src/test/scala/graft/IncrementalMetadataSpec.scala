package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.meds.MedsSchema._
import graft.operators.AggregateCodeMetadata
import graft.operators.AggregateCodeMetadata.MetadataPartials

/** Exactness of the mergeable partial-aggregate path: deriving the full
  * metadata table from merged per-increment partials must equal a full
  * recompute over the union — incl. the NaN/null buckets, empty-group sum
  * semantics, and both quantile interpolation modes.
  */
class IncrementalMetadataSpec extends SparkSpec {

  private def half1 = medsDf(
    (1L, "2020-01-01 00:00:00", "HR", 10.0),
    (1L, "2020-01-02 00:00:00", "HR", 20.5),
    (2L, "2020-01-01 00:00:00", "HR", Double.NaN),
    (2L, null, "STATIC", null))

  private def half2 = medsDf(
    (3L, "2020-01-01 00:00:00", "STATIC", null),
    (3L, "2020-01-02 00:00:00", "HR", 20.5), // duplicate value bucket
    (4L, "2020-01-03 00:00:00", "HR", 7.0),
    (2L, "2020-01-04 00:00:00", "HR", 1.0)) // subject 2 gains a present value

  private def assertSameMetadata(a: DataFrame, b: DataFrame): Unit = {
    val (ra, rb) = (a.orderBy(Code).collect(), b.orderBy(Code).collect())
    assert(ra.length == rb.length, s"row counts: ${ra.length} vs ${rb.length}")
    ra.zip(rb).foreach { case (x, y) =>
      x.toSeq.zip(y.toSeq).zipWithIndex.foreach { case ((u, v), i) =>
        (u, v) match {
          case (du: Double, dv: Double) =>
            assert(math.abs(du - dv) < 1e-9, s"col ${a.columns(i)}: $du vs $dv")
          case (ru: Row, rv: Row) =>
            ru.toSeq.zip(rv.toSeq).foreach { case (qu, qv) =>
              assert(math.abs(qu.asInstanceOf[Double] - qv.asInstanceOf[Double]) < 1e-9,
                s"quantile col: $qu vs $qv")
            }
          case _ => assert(u == v, s"col ${a.columns(i)}: $u vs $v")
        }
      }
    }
  }

  test("merged partials reproduce the full recompute exactly (both quantile modes)") {
    val full = half1.unionByName(half2)
    val merged = AggregateCodeMetadata.mergePartials(Seq(
      AggregateCodeMetadata.partials(half1),
      AggregateCodeMetadata.partials(half2)))
    for (mode <- Seq("nearest", "linear")) {
      val incr = AggregateCodeMetadata.fromPartials(merged, quantileMode = mode)
      val direct = AggregateCodeMetadata.compute(full, quantileMode = mode)
      assertSameMetadata(incr.select(direct.columns.map(c => col(s"`$c`")): _*), direct)
    }
  }

  test("cross-increment distinct subjects and value-presence flags merge correctly") {
    // subject 2 has only a NaN value in half1 and a present value in half2:
    // values/n_subjects must count it exactly once after the merge
    val merged = AggregateCodeMetadata.mergePartials(Seq(
      AggregateCodeMetadata.partials(half1),
      AggregateCodeMetadata.partials(half2)))
    val hr = AggregateCodeMetadata.fromPartials(merged)
      .filter(col(Code) === "HR").head()
    assert(hr.getAs[Long](CodeNSubjects) == 4)
    assert(hr.getAs[Long](ValuesNSubjects) == 4) // 1, 2 (via half2), 3, 4
    assert(hr.getAs[Long](CodeNOccurrences) == 6)
    assert(hr.getAs[Long](ValuesNOccurrences) == 5) // NaN excluded
  }

  test("merge is associative: ((a+b)+c) == (a+(b+c)) == (a+b+c)") {
    val thirds = Seq(half1, half2, medsDf((9L, "2021-01-01 00:00:00", "HR", 3.5)))
    val ps = thirds.map(AggregateCodeMetadata.partials(_))
    def meta(p: MetadataPartials) = AggregateCodeMetadata.fromPartials(p)
    val left = AggregateCodeMetadata.mergePartials(
      Seq(AggregateCodeMetadata.mergePartials(ps.take(2)), ps(2)))
    val right = AggregateCodeMetadata.mergePartials(
      Seq(ps(0), AggregateCodeMetadata.mergePartials(ps.drop(1))))
    val flat = AggregateCodeMetadata.mergePartials(ps)
    assertSameMetadata(meta(left), meta(flat))
    assertSameMetadata(meta(right), meta(flat))
  }

  test("partials persist and round-trip through parquet") {
    val dir = java.nio.file.Files.createTempDirectory("graft_partials").toString
    AggregateCodeMetadata.partials(half1).write(s"$dir/p")
    val back = MetadataPartials.read(spark, s"$dir/p")
    val incr = AggregateCodeMetadata.fromPartials(
      AggregateCodeMetadata.mergePartials(Seq(back, AggregateCodeMetadata.partials(half2))))
    val direct = AggregateCodeMetadata.compute(half1.unionByName(half2))
    assertSameMetadata(incr.select(direct.columns.map(c => col(s"`$c`")): _*), direct)
  }

  test("summarizeOverAllCodes total row derives from the same partials") {
    val merged = AggregateCodeMetadata.mergePartials(Seq(
      AggregateCodeMetadata.partials(half1), AggregateCodeMetadata.partials(half2)))
    val total = AggregateCodeMetadata.fromPartials(merged, summarizeOverAllCodes = true)
      .filter(col(Code).isNull).collect()
    assert(total.length == 1)
    assert(total(0).getAs[Long](CodeNOccurrences) == 8)
    // subjects {1,2,3,4} deduped ACROSS codes (subject 2/3 appear under both)
    assert(total(0).getAs[Long](CodeNSubjects) == 4)
  }
}
