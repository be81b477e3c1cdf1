package graft.obs

import graft.SparkSpec

/** The one measurement entry point: a body's records hold that body's work
  * and nothing run before or after it. */
class CollectorSpec extends SparkSpec {
  private def sc = spark.sparkContext

  private def inGroup[A](group: String)(body: => A): A = {
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
  }

  private def sumQuery(): Unit = spark.range(100).selectExpr("sum(id)").collect()

  test("back-to-back measures of a warmed query record the same jobs and shuffle bytes") {
    def query() = spark.range(0, 20000, 1, 4).selectExpr("id % 97 as k")
      .groupBy("k").count().collect()
    query() // warm; its events must not reach the first measure
    val Seq(a, b) = Seq.fill(2)(Collector.measure(spark)(query())._2)
    val shuffled = Seq(a, b).map(_.total(_.shuffleWriteMetrics.bytesWritten))
    assert(a.jobs.nonEmpty && shuffled.head > 0)
    assert(a.jobs.size == b.jobs.size && shuffled.distinct.size == 1,
      s"${a.jobs} vs ${b.jobs}, shuffle bytes $shuffled")
  }

  test("an adaptive join's stage jobs are recorded under the caller's job group") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val left = spark.range(0, 5000, 1, 4).selectExpr("id % 50 as k", "id as a")
    val right = spark.range(0, 5000, 1, 4).selectExpr("id % 50 as k", "id as b")
    val (keys, r) = Collector.measure(spark)(inGroup("collector-spec") {
      left.join(right.hint("shuffle_merge"), "k").groupBy("k").count().collect().length
    })
    assert(keys == 50)
    // adaptive execution runs each shuffle map stage as a job of its own,
    // with a thread-pool call site; the job group still names the caller
    assert(r.jobs.size >= 2 && r.jobs.exists(!_.callSite.contains("CollectorSpec")), r.jobs)
    assert(r.jobs.forall(_.group.contains("collector-spec")), r.jobs)
    assert(r.stages.nonEmpty && r.stages.forall(_.group.contains("collector-spec")), r.stages)
    val execs = r.jobs.flatMap(_.execution).distinct
    assert(execs.size == 1 && r.executions.contains(execs.head), r.jobs)
  }

  test("a job run after measure returns or throws is not recorded") {
    val (returned, threw) = (new Collector, new Collector)
    Collector.attached(sc, returned)(sumQuery())
    val seen = returned.records
    inGroup("collector-spec-outside")(sumQuery())
    intercept[IllegalStateException](Collector.attached(sc, threw) {
      sumQuery()
      throw new IllegalStateException("body failed")
    })
    inGroup("collector-spec-outside")(sumQuery())
    Collector.measure(spark)(()) // drains the bus: every event above is delivered
    assert(seen.jobs.nonEmpty && returned.records == seen)
    val late = threw.records
    assert(!late.jobs.exists(_.group.contains("collector-spec-outside")), late.jobs)
    assert(!late.stages.exists(_.group.contains("collector-spec-outside")), late.stages)
  }

  test("every job Bench.force runs carries the gate's SQL execution id") {
    val df = spark.range(0, 20000, 1, 4).selectExpr("id % 97 as k").groupBy("k").count()
    val (n, r) = Collector.measure(spark)(graft.Bench.force(df))
    assert(n == 97)
    // the adaptive shuffle stage runs as a job of its own, then the count
    assert(r.jobs.size >= 2 && r.jobs.forall(_.execution.isDefined), r.jobs)
    assert(r.jobs.flatMap(_.execution).distinct.size == 1, r.jobs)
  }
}
