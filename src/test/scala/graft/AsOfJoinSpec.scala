package graft

import org.apache.spark.sql.functions._
import graft.operators.{AsOfJoin, RangeJoin}

/** As-of join semantics on crafted timelines: backward/forward direction,
  * inclusive-vs-strict tie rule, null times on both sides, right-side
  * dedup, key isolation, and partitioning independence.
  */
class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  // user timelines; right side = sensor readings, left side = queries
  private def readings = Seq(
    (1L, 10L, "r10"), (1L, 20L, "r20"), (1L, 30L, "r30"),
    (2L, 15L, "x15"))
    .toDF("user_id", "rt", "reading")

  private def queries = Seq(
    (101L, 1L, Some(5L)),   // before any reading -> null
    (102L, 1L, Some(20L)),  // exactly at r20 -> inclusive picks it, strict picks r10
    (103L, 1L, Some(29L)),  // between -> r20
    (104L, 1L, Some(99L)),  // after all -> r30
    (105L, 2L, Some(16L)),  // other key -> x15, never user 1's readings
    (106L, 3L, Some(50L)),  // key with no readings -> null
    (107L, 1L, None))       // null query time -> null
    .map { case (id, u, t) => (id, u, t.map(java.lang.Long.valueOf).orNull) }
    .toDF("qid", "user_id", "qt")

  private def run(direction: String, strict: Boolean) =
    AsOfJoin.asOf(queries, readings, Seq("user_id"), "qt", "rt",
      Seq("rt", "reading"), direction, strict)
      .collect().map(r => r.getAs[Long]("qid") ->
        Option(r.getAs[String]("reading"))).toMap

  test("backward inclusive: greatest rt <= qt; ties take the equal reading") {
    val m = run("backward", strict = false)
    assert(m(101L).isEmpty)
    assert(m(102L) === Some("r20"))
    assert(m(103L) === Some("r20"))
    assert(m(104L) === Some("r30"))
    assert(m(105L) === Some("x15"))
    assert(m(106L).isEmpty)
    assert(m(107L).isEmpty)
  }

  test("backward strict: equal timestamps do not match") {
    val m = run("backward", strict = true)
    assert(m(102L) === Some("r10"))
    assert(m(103L) === Some("r20")) // unaffected away from ties
  }

  test("forward inclusive and strict: smallest rt >= qt") {
    val m = run("forward", strict = false)
    assert(m(101L) === Some("r10"))
    assert(m(102L) === Some("r20"))
    assert(m(104L).isEmpty) // nothing upcoming
    assert(m(107L).isEmpty) // null time matches nothing forward either
    val ms = run("forward", strict = true)
    assert(ms(102L) === Some("r30"))
  }

  test("null right times never match; dedupRight picks the max-tiebreak payload") {
    val r2 = Seq((1L, Some(20L), "dup_low", 1L), (1L, Some(20L), "dup_high", 9L),
      (1L, None, "null_t", 5L))
      .map { case (u, t, v, k) => (u, t.map(java.lang.Long.valueOf).orNull, v, k) }
      .toDF("user_id", "rt", "reading", "pri")
    val out = AsOfJoin.asOf(
      Seq((1L, 1L, 25L)).toDF("qid", "user_id", "qt"), r2,
      Seq("user_id"), "qt", "rt", Seq("reading"),
      dedupRight = Some("pri")).head()
    assert(out.getAs[String]("reading") === "dup_high")
  }

  test("results are identical under different input partitioning") {
    val l = (0L until 500L).map(i => (i, i % 7, i * 3 % 101)).toDF("qid", "user_id", "qt")
    val r = (0L until 200L).map(i => (i % 7, i * 5 % 97, s"v$i")).toDF("user_id", "rt", "v")
    val a = AsOfJoin.asOf(l.repartition(1), r.repartition(1),
      Seq("user_id"), "qt", "rt", Seq("v"), dedupRight = Some("v"))
    val b = AsOfJoin.asOf(l.repartition(13), r.repartition(5),
      Seq("user_id"), "qt", "rt", Seq("v"), dedupRight = Some("v"))
    assert(collectSet(a) === collectSet(b))
  }

  test("nearest: closest right row either direction, backward wins ties") {
    // readings at 10/20/30 for user 1
    val got = AsOfJoin.asOfNearest(queries, readings, Seq("user_id"),
      "qt", "rt", Seq("rt", "reading"))
      .collect().map(r => r.getAs[Long]("qid") ->
        Option(r.getAs[String]("reading"))).toMap
    assert(got(101L) == Some("r10"))  // qt=5: only direction is forward
    assert(got(102L) == Some("r20"))  // exact hit, distance 0
    assert(got(103L) == Some("r30"))  // qt=29: |29-30|=1 < |29-20|=9
    assert(got(104L) == Some("r30"))  // qt=99: nothing after -> backward
    assert(got(105L) == Some("x15"))  // key isolation
    assert(got(106L) == None)         // key with no readings
    assert(got(107L) == None)         // null query time matches nothing
    // equidistance: qt=25 sits exactly between r20 and r30 -> backward wins
    val tie = Seq((200L, 1L, 25L)).toDF("qid", "user_id", "qt")
    val t = AsOfJoin.asOfNearest(tie, readings, Seq("user_id"),
      "qt", "rt", Seq("reading")).head()
    assert(t.getAs[String]("reading") == "r20")
  }

  test("nearest equals a brute-force argmin oracle on randomized timelines") {
    val rng = new scala.util.Random(13)
    val lRows = (0L until 1500L).map { i =>
      val t = if (rng.nextInt(20) == 0) None else Some(rng.nextInt(200).toLong)
      (i, rng.nextInt(5).toLong, t)
    }
    val rRows = (0L until 400L).map(i => (i % 6, rng.nextInt(200).toLong, s"v$i"))
    val l = lRows.map { case (q, u, t) =>
      (q, u, t.map(java.lang.Long.valueOf).orNull) }.toDF("qid", "user_id", "qt")
    val r = rRows.toDF("user_id", "rt", "v")
    val got = AsOfJoin.asOfNearest(l, r, Seq("user_id"), "qt", "rt",
      Seq("rt", "v"), dedupRight = Some("v"))
      .collect().map(row => row.getAs[Long]("qid") ->
        (Option(row.getAs[java.lang.Long]("rt")).map(_.toLong),
          Option(row.getAs[String]("v")))).toMap
    // independent oracle: dedup right by max v per (key, rt), then per left
    // row the argmin of (|rt-qt|, forward-flag, ...) — backward wins ties
    val dedup = rRows.groupBy(x => (x._1, x._2)).map { case ((u, rt), g) =>
      (u, rt, g.map(_._3).max) }.toSeq
    for ((qid, u, tOpt) <- lRows) {
      val want = tOpt.flatMap { t =>
        val cands = dedup.filter(_._1 == u)
        if (cands.isEmpty) None
        else Some(cands.minBy { case (_, rt, v) =>
          (math.abs(rt - t), if (rt <= t) 0 else 1, -rt) })
      }
      assert(got(qid)._1 == want.map(_._2), s"qid=$qid rt mismatch")
      assert(got(qid)._2 == want.map(_._3), s"qid=$qid v mismatch")
    }
  }

  test("nearest rejects time types with no numeric axis; plain asOf accepts them") {
    // string times order lexically — fine for the ordering-only plain carry,
    // but a silent cast-to-double null would wreck the distance comparison
    val l = Seq((1L, 1L, "2024-06-01")).toDF("qid", "user_id", "qt")
    val r = Seq((1L, "2024-05-31", "a"), (1L, "2024-12-01", "b"))
      .toDF("user_id", "rt", "v")
    val plain = AsOfJoin.asOf(l, r, Seq("user_id"), "qt", "rt", Seq("v"))
    assert(plain.head().getAs[String]("v") == "a")
    val e = intercept[IllegalArgumentException] {
      AsOfJoin.asOfNearest(l, r, Seq("user_id"), "qt", "rt", Seq("v"))
    }
    assert(e.getMessage.contains("numeric axis"))
  }

  test("null keys form a group in plain and nearest as-of joins") {
    // window partitionBy groups nulls together, so a null-key left matches
    // null-key rights (SQL equality in a join on the raw key columns would
    // drop these rows)
    val l = Seq((1L, null.asInstanceOf[java.lang.Long], 25L),
      (2L, java.lang.Long.valueOf(1L), 25L),
      (3L, null.asInstanceOf[java.lang.Long], 5L))
      .toDF("qid", "user_id", "qt")
    val r = Seq((null.asInstanceOf[java.lang.Long], 10L, "null_r"),
      (java.lang.Long.valueOf(1L), 20L, "one_r"))
      .toDF("user_id", "rt", "v")
    val m = AsOfJoin.asOf(l, r, Seq("user_id"), "qt", "rt", Seq("v"))
      .collect().map(row =>
        row.getAs[Long]("qid") -> Option(row.getAs[String]("v"))).toMap
    assert(m.size == 3, s"dropped rows: $m")
    assert(m(1L) === Some("null_r") && m(2L) === Some("one_r") && m(3L) === None)
    val near = AsOfJoin.asOfNearest(l, r, Seq("user_id"), "qt", "rt", Seq("v"))
      .collect().map(row =>
        row.getAs[Long]("qid") -> Option(row.getAs[String]("v"))).toMap
    assert(near(1L) === Some("null_r") && near(3L) === Some("null_r"))
  }

  test("asOfNearest rejects the reserved __rt value column name") {
    val l = Seq((1L, 1L, 5L)).toDF("qid", "user_id", "qt")
    val r = Seq((1L, 3L, "a")).toDF("user_id", "rt", "__rt")
    val e = intercept[IllegalArgumentException] {
      AsOfJoin.asOfNearest(l, r, Seq("user_id"), "qt", "rt", Seq("__rt"))
    }
    assert(e.getMessage.contains("__rt"))
  }
}

class RangeJoinSpec extends SparkSpec {
  import spark.implicits._

  private def pts = (Seq(
    (1L, 1L, Some(5L)), (2L, 1L, Some(10L)), (3L, 1L, Some(25L)),
    (4L, 1L, Some(100L)), (5L, 2L, Some(10L)), (6L, 1L, None)))
    .map { case (id, u, t) => (id, u, t.map(java.lang.Long.valueOf).orNull) }
    .toDF("pid", "user_id", "t")

  private def ivs = Seq(
    (1L, 8L, 30L, "a"),        // matches t=10, 25
    (1L, 10L, 10L, "point"),   // degenerate single-instant: matches t=10
    (1L, 40L, 20L, "inverted"),// end < start: matches nothing
    (2L, 0L, 1000L, "wide"))   // other key
    .toDF("user_id", "s", "e", "tag")

  test("point-in-interval: containment inclusive both ends, multi-match, key isolation") {
    val out = RangeJoin.pointInInterval(pts, ivs, Seq("user_id"), "t",
      "s", "e", Seq("tag"), bucketWidth = 7)
      .select("pid", "tag").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out === Set((2L, "a"), (3L, "a"), (2L, "point"), (5L, "wide")))
  }

  test("hot key holding 10% of rows: as-of matches most points, interval join stays non-empty") {
    // 10k points / 1k rights over 100 keys, times over 1e6 units
    def keyed(n: Long, parts: Int) = spark.range(0, n, 1, parts).select(
      col("id"),
      when(pmod(col("id"), lit(10)) === 0, 0L)
        .otherwise(pmod(hash(col("id")), lit(100)).cast("long")).as("k"),
      pmod(hash(col("id") * 31), lit(1000000)).cast("long").as("t"))
      .filter(col("t") >= 0)
    val left = keyed(10000L, 8)
    val right = keyed(1000L, 4).select(col("k"), col("t").as("rt"), col("id").as("rid"))
    val asof = AsOfJoin.asOf(left, right, Seq("k"), "t", "rt", Seq("rid"),
      dedupRight = Some("rid")).filter(col("rid").isNotNull).count()
    assert(asof > 5000L, s"suspiciously few asof matches: $asof")
    val ivs = right.select(col("k"), (col("rt") - 1000L).as("s"),
      (col("rt") + 1000L).as("e"), col("rid"))
    assert(RangeJoin.pointInInterval(left, ivs, Seq("k"), "t", "s", "e",
      Seq("rid"), bucketWidth = 2000L).count() > 0)
  }

  test("interval wider than maxBucketsPerInterval raises instead of exploding") {
    val huge = Seq((1L, 0L, 1000000L, "huge")).toDF("user_id", "s", "e", "tag")
    val e = intercept[Exception] {
      RangeJoin.pointInInterval(pts, huge, Seq("user_id"), "t",
        "s", "e", Seq("tag"), bucketWidth = 7, maxBucketsPerInterval = 10).collect()
    }
    assert(e.getMessage.contains("buckets") || e.getCause != null)
    // span so wide that b1 - b0 WRAPS negative (ADVICE r10): must still hit
    // the intended per-row error, not sequence()'s generic size failure
    val wrap = Seq((1L, Long.MinValue + 10L, Long.MaxValue - 10L, "wrap"))
      .toDF("user_id", "s", "e", "tag")
    val w = intercept[Exception] {
      RangeJoin.pointInInterval(pts, wrap, Seq("user_id"), "t",
        "s", "e", Seq("tag"), bucketWidth = 1, maxBucketsPerInterval = 10).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(w).exists(_.contains("widen bucketWidth")), messages(w).mkString("; "))
  }

  test("bucket grid handles negative times and results are partitioning-independent") {
    val p = Seq((1L, 1L, -15L), (2L, 1L, -7L)).toDF("pid", "user_id", "t")
    val iv = Seq((1L, -20L, -10L, "neg")).toDF("user_id", "s", "e", "tag")
    val out = RangeJoin.pointInInterval(p, iv, Seq("user_id"), "t",
      "s", "e", Seq("tag"), bucketWidth = 7).select("pid").collect().map(_.getLong(0)).toSet
    assert(out === Set(1L))
    val l = (0L until 400L).map(i => (i, i % 5, (i * 13 % 211) - 100)).toDF("pid", "user_id", "t")
    val r = (0L until 60L).map(i => (i % 5, (i * 7 % 97) - 50, (i * 7 % 97) - 50 + (i % 23), s"i$i"))
      .toDF("user_id", "s", "e", "tag")
    val a = RangeJoin.pointInInterval(l.repartition(1), r.repartition(1),
      Seq("user_id"), "t", "s", "e", Seq("tag"), bucketWidth = 11)
    val b = RangeJoin.pointInInterval(l.repartition(13), r.repartition(3),
      Seq("user_id"), "t", "s", "e", Seq("tag"), bucketWidth = 11)
    assert(collectSet(a) === collectSet(b) && a.count() > 0)
  }
}
