package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import graft.operators.RollingAgg

/** Property-based equivalence of the trailing window against a
  * brute-force oracle in plain Scala (frame bounds in
  * [[RollingAgg.trailing]]). Generators force the degenerate shapes
  * explicitly: all-equal times, range = 0, negative times, null
  * times.
  */
class TemporalPropertySpec extends SparkSpec {
  import spark.implicits._

  // --- trailing vs brute force -------------------------------------------

  private case class Rw(id: Long, k: Long, t: Option[Long])

  private val genRolling: Gen[(List[Rw], Long)] = for {
    n <- Gen.choose(0, 90)
    // all-equal-times cases put every row of a key in one peer group —
    // generated as a first-class shape, not left to chance
    allEq <- Gen.frequency((5, Gen.const(false)), (1, Gen.const(true)))
    eqT <- Gen.choose(-40L, 40L)
    rows <- Gen.listOfN(n, for {
      k <- Gen.choose(0L, 2L)
      t <- if (allEq) Gen.const(Some(eqT))
        else Gen.frequency(
          (9, Gen.choose(-40L, 40L).map(Some(_))), (1, Gen.const(None)))
    } yield (k, t))
    range <- Gen.oneOf(0L, 1L, 7L, 40L, 500L)
  } yield (rows.zipWithIndex.map { case ((k, t), i) => Rw(i.toLong, k, t) },
    range)

  test("trailing equals brute force (null peers, range 0, all-equal times)") {
    val aggs = Seq("n" -> count(lit(1)), "s" -> sum(col("v")))
    val prop = Prop.forAll(genRolling) { case (rows, range) =>
      val df = rows.map(r => (r.id, r.k, r.t.map(java.lang.Long.valueOf).orNull,
        r.id * 3 + 1)).toDF("id", "k", "t", "v")
      val got = RollingAgg.trailing(df, Seq("k"), "t", range, aggs)
        .select("id", "n", "s").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val want = rows.map { r =>
        // RANGE frame: timed rows see peers in [t-range, t]; null-time rows
        // form one peer group seeing exactly each other (plain-window law)
        val peers = r.t match {
          case Some(t) => rows.filter(o => o.k == r.k &&
            o.t.exists(ot => ot >= t - range && ot <= t))
          case None => rows.filter(o => o.k == r.k && o.t.isEmpty)
        }
        r.id -> (peers.size.toLong, peers.map(_.id * 3 + 1).sum)
      }.toMap
      if (got != want) println(s"MISMATCH range=$range\n" +
        s"  got=${got.toSeq.sortBy(_._1)}\n  want=${want.toSeq.sortBy(_._1)}")
      got == want
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }
}
