package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import graft.operators.{RangeJoin, RollingAgg}

/** Property-based equivalence of the trailing window and the range join
  * against brute-force oracles in plain Scala (frame bounds in
  * [[RollingAgg.trailing]], bucket-cover bounds in RangeJoin). Generators
  * force the degenerate shapes explicitly: all-equal times, range = 0,
  * bucketWidth far larger than the data span, negative times, null
  * times/keys/bounds, inverted intervals.
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

  // --- RangeJoin vs brute force ------------------------------------------

  private case class Pt(pid: Long, k: Option[Long], t: Option[Long])
  private case class Iv(k: Option[Long], s: Option[Long], e: Option[Long],
    tag: String)

  private val genKey: Gen[Option[Long]] =
    Gen.frequency((7, Gen.choose(0L, 2L).map(Some(_))), (1, Gen.const(None)))

  private val genRange: Gen[(List[Pt], List[Iv], Long)] = for {
    np <- Gen.choose(0, 80)
    ni <- Gen.choose(0, 30)
    pts <- Gen.listOfN(np, for {
      k <- genKey
      t <- Gen.frequency(
        (9, Gen.choose(-40L, 40L).map(Some(_))), (1, Gen.const(None)))
    } yield (k, t))
    ivs <- Gen.listOfN(ni, for {
      k <- genKey
      s <- Gen.frequency(
        (9, Gen.choose(-40L, 40L).map(Some(_))), (1, Gen.const(None)))
      // short, point (e = s), inverted, and null bounds all occur
      e <- Gen.frequency(
        (6, Gen.choose(0L, 15L).map(d => s.map(_ + d))),
        (2, Gen.const(s)),
        (1, Gen.choose(-40L, 40L).map(Some(_))),
        (1, Gen.const(None)))
    } yield (k, s, e))
    width <- Gen.oneOf(1L, 3L, 7L, 1000L)
  } yield (
    pts.zipWithIndex.map { case ((k, t), i) => Pt(i.toLong, k, t) },
    ivs.zipWithIndex.map { case ((k, s, e), i) => Iv(k, s, e, s"i$i") },
    width)

  test("pointInInterval equals brute force (bucket-cover bounds, degenerate widths)") {
    val prop = Prop.forAll(genRange) { case (pts, ivs, width) =>
      val p = pts.map(x => (x.pid, x.k.map(java.lang.Long.valueOf).orNull,
        x.t.map(java.lang.Long.valueOf).orNull)).toDF("pid", "k", "t")
      val iv = ivs.map(x => (x.k.map(java.lang.Long.valueOf).orNull,
        x.s.map(java.lang.Long.valueOf).orNull,
        x.e.map(java.lang.Long.valueOf).orNull, x.tag)).toDF("k", "s", "e", "tag")
      val got = RangeJoin.pointInInterval(p, iv, Seq("k"), "t", "s", "e",
        Seq("tag"), bucketWidth = width)
        .select("pid", "tag").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      // SQL inner-join semantics: null keys/times/bounds match nothing,
      // inverted intervals match nothing, containment inclusive both ends
      val want = (for {
        pt <- pts; i <- ivs
        if pt.k.isDefined && pt.k == i.k
        t <- pt.t; s <- i.s; e <- i.e
        if e >= s && t >= s && t <= e
      } yield (pt.pid, i.tag)).toSet
      if (got != want) println(s"MISMATCH width=$width got=$got want=$want")
      got == want
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }

  test("bucket arithmetic is exact beyond 2^53 (epoch-nanos magnitudes)") {
    // a cast-to-double floor-division has ~512-unit granularity at 3e18:
    // the exact pmod bucketing must keep strict boundaries regardless
    val t0 = 3000000000000000000L
    val p = Seq((1L, 1L, t0 - 1), (2L, 1L, t0), (3L, 1L, t0 + 1),
      (4L, 1L, t0 + 1000), (5L, 1L, t0 + 1001)).toDF("pid", "k", "t")
    val iv = Seq((1L, t0, t0 + 1000L, "w")).toDF("k", "s", "e", "tag")
    for (width <- Seq(7L, 513L, 1000000L)) {
      val got = RangeJoin.pointInInterval(p, iv, Seq("k"), "t", "s", "e",
        Seq("tag"), bucketWidth = width)
        .select("pid").collect().map(_.getLong(0)).toSet
      assert(got === Set(2L, 3L, 4L), s"width=$width got=$got")
    }
    // Long.MinValue edge: `t - pmod(t, w)` would wrap below MinValue; the
    // quotient/remainder form must keep exact containment there too
    val lo2 = Long.MinValue
    val p2 = Seq((1L, 1L, lo2), (2L, 1L, lo2 + 10), (3L, 1L, lo2 + 11))
      .toDF("pid", "k", "t")
    val iv2 = Seq((1L, lo2, lo2 + 10L, "w")).toDF("k", "s", "e", "tag")
    val got2 = RangeJoin.pointInInterval(p2, iv2, Seq("k"), "t", "s", "e",
      Seq("tag"), bucketWidth = 7L)
      .select("pid").collect().map(_.getLong(0)).toSet
    assert(got2 === Set(1L, 2L))
  }
}
