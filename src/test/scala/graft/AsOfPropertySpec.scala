package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import graft.operators.AsOfJoin

/** Property-based equivalence of the whole as-of family against a
  * brute-force oracle in plain Scala, over GENERATED timelines with heavy
  * tie/null density: backward/forward × strict vs argmax/argmin,
  * asOfNearest vs the argmin-distance oracle with the backward tie rule.
  */
class AsOfPropertySpec extends SparkSpec {
  import spark.implicits._

  private case class L(qid: Long, k: Option[Long], t: Option[Long])
  private case class R(k: Option[Long], rt: Long, v: String)

  // small key/time domains on purpose: equal (key, time) collisions on and
  // across sides, keys with no rights, all-null-time lefts all occur; NULL
  // keys on both sides too — SQL window partitionBy groups nulls together,
  // so a null-key left must match null-key rights
  private val genKey: Gen[Option[Long]] =
    Gen.frequency((6, Gen.choose(0L, 3L).map(Some(_))), (1, Gen.const(None)))
  private val genCase: Gen[(List[L], List[R])] = for {
    nl <- Gen.choose(0, 120)
    nr <- Gen.choose(0, 60)
    ls <- Gen.listOfN(nl, for {
      k <- genKey
      t <- Gen.option(Gen.choose(0L, 40L))
    } yield (k, t))
    rs <- Gen.listOfN(nr, for {
      k <- genKey
      t <- Gen.choose(0L, 40L)
    } yield (k, t))
  } yield (
    ls.zipWithIndex.map { case ((k, t), i) => L(i.toLong, k, t) },
    rs.zipWithIndex.map { case ((k, t), i) => R(k, t, s"v$i") })

  /** dedupRight winner per (k, rt): max payload string (= asOf's max-struct
    * rule with v as tiebreak column).
    */
  private def dedup(rs: List[R]): List[R] =
    rs.groupBy(r => (r.k, r.rt)).values.map(_.maxBy(_.v)).toList

  private def bruteAsOf(l: L, rs: List[R], direction: String,
      strict: Boolean): Option[R] =
    l.t.flatMap { t =>
      val c = rs.filter(_.k == l.k)
      val elig = (direction, strict) match {
        case ("backward", false) => c.filter(_.rt <= t)
        case ("backward", true) => c.filter(_.rt < t)
        case ("forward", false) => c.filter(_.rt >= t)
        case (_, true) => c.filter(_.rt > t)
      }
      if (elig.isEmpty) None
      else Some(if (direction == "backward") elig.maxBy(_.rt)
        else elig.minBy(_.rt))
    }

  private def bruteNearest(l: L, rs: List[R]): Option[R] =
    l.t.flatMap { t =>
      val c = rs.filter(_.k == l.k)
      if (c.isEmpty) None
      else Some(c.minBy(r => (math.abs(r.rt - t), if (r.rt <= t) 0 else 1)))
    }

  private def run(df: org.apache.spark.sql.DataFrame): Map[Long, Option[String]] =
    df.collect().map(r => r.getAs[Long]("qid") ->
      Option(r.getAs[String]("v"))).toMap

  test("asOf family equals brute force on generated timelines") {
    val prop = Prop.forAll(genCase) { case (ls, rs) =>
      val l = ls.map(x => (x.qid, x.k.map(java.lang.Long.valueOf).orNull,
          x.t.map(java.lang.Long.valueOf).orNull))
        .toDF("qid", "k", "t")
      val r = rs.map(x => (x.k.map(java.lang.Long.valueOf).orNull, x.rt, x.v))
        .toDF("k", "rt", "v")
      val rd = dedup(rs)

      val plainOk = (for {
        direction <- Seq("backward", "forward"); strict <- Seq(false, true)
      } yield {
        val got = run(AsOfJoin.asOf(l, r, Seq("k"), "t", "rt", Seq("v"),
          direction, strict, dedupRight = Some("v")))
        val want = ls.map(x =>
          x.qid -> bruteAsOf(x, rd, direction, strict).map(_.v)).toMap
        got == want
      }).forall(identity)

      val nearestOk = {
        val got = run(AsOfJoin.asOfNearest(l, r, Seq("k"), "t", "rt",
          Seq("v"), dedupRight = Some("v")))
        val want = ls.map(x => x.qid -> bruteNearest(x, rd).map(_.v)).toMap
        got == want
      }

      plainOk && nearestOk
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }
}
