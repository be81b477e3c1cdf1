package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Bucketed layout: joins and aggregations on the bucket key must be
  * exchange-free against bucketed tables, and the same query against plain
  * parquet must NOT be (proving the assertion bites), with identical
  * results both ways.
  */
class BucketedJoinSpec extends SparkSpec {

  // AQE-aware shuffle count: walk through adaptive wrappers and query
  // stages (PlanLint's traversal), counting exchanges planned or staged
  private def shuffles(df: org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
    var n = 0
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: ShuffleQueryStageExec => n += 1; s.plan.children.foreach(walk)
      case qs: QueryStageExec => walk(qs.plan)
      case e: ShuffleExchangeExec => n += 1; e.children.foreach(walk)
      case other => other.children.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    n
  }

  test("co-located join and aggregation on the bucket key are exchange-free") {
    val n = 100000L
    val facts = spark.range(n).select(col("id").as("k"),
      (col("id") % 97).as("v"))
    val dims = spark.range(n / 10).select(col("id").as("k"),
      concat(lit("d"), col("id")).as("name"))
    try {
      BucketedLayout.writeBucketed(facts, "bj_facts", Seq("k"), 8, sortCols = Seq("k"))
      BucketedLayout.writeBucketed(dims, "bj_dims", Seq("k"), 8, sortCols = Seq("k"))
      val bf = spark.table("bj_facts")
      val bd = spark.table("bj_dims")
      // a broadcast join would dodge the exchange question entirely —
      // force the sort-merge path the 100 TB shape would take
      val joined = bf.hint("merge").join(bd, "k")
        .groupBy("name").agg(sum("v").as("sv"))
      assert(shuffles(bf.hint("merge").join(bd, "k")) == 0,
        bf.hint("merge").join(bd, "k").queryExecution.executedPlan.toString)
      // the aggregation regroups on `name`, so ONE exchange for the agg is
      // expected — but none for the join
      assert(shuffles(joined) == 1)
      assert(shuffles(bf.groupBy("k").agg(sum("v"))) == 0)

      // identical query over the raw (unbucketed) files shuffles both sides
      val pf = facts
      val pd = dims
      assert(shuffles(pf.hint("merge").join(pd, "k")) >= 2)

      // results agree
      val a = collectSet(joined)
      val b = collectSet(pf.join(pd, "k").groupBy("name").agg(sum("v").as("sv")))
      assert(a == b && a.nonEmpty)
    } finally {
      spark.sql("DROP TABLE IF EXISTS bj_facts")
      spark.sql("DROP TABLE IF EXISTS bj_dims")
    }
  }

  test("sorted one-file-per-bucket layout can also drop the merge-join Sort") {
    // Spark deliberately ignores bucket sortBy metadata by default
    // (SPARK-28595: a multi-file bucket only guarantees per-file order);
    // writeBucketed's partition-bucket alignment produces exactly one file
    // per bucket, which is the precondition for the legacy sorted-scan
    // conf to be safe. Exchange-freedom — the expensive half — needs no
    // conf and is locked by the test above; this pins the optional
    // sort-free variant.
    try {
      BucketedLayout.writeBucketed(spark.range(10000).select(col("id").as("k"),
        col("id").as("x")), "bj_sorted", Seq("k"), 4, sortCols = Seq("k"))
      val buckets = new java.io.File("spark-warehouse/bj_sorted")
        .listFiles().filter(_.getName.endsWith(".parquet"))
        .map(_.getName.split("_")(1).take(5))
      assert(buckets.distinct.length == buckets.length,
        s"multiple files for one bucket: ${buckets.mkString(",")}")
      spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      val plan = spark.table("bj_sorted").hint("merge")
        .join(spark.table("bj_sorted"), "k")
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Sort "), plan)
    } finally {
      spark.conf.unset("spark.sql.legacy.bucketedTableScan.outputOrdering")
      spark.sql("DROP TABLE IF EXISTS bj_sorted")
    }
  }
}
