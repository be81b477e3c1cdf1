package graft

import org.apache.spark.sql.functions._
import graft.plans.PlanLint

/** The plan-shape lint must flag the three anti-patterns and stay silent on
  * clean keyed plans.
  */
class PlanLintSpec extends SparkSpec {
  import spark.implicits._

  private def left = (0L until 50L).map(i => (i, i % 5)).toDF("id", "k")
  private def right = (0L until 20L).map(i => (i, i % 5)).toDF("rid", "k")

  test("clean keyed join and aggregate lint clean") {
    val df = left.join(right, "k").groupBy("k").count()
    df.collect()
    assert(PlanLint.check(df).isEmpty)
  }

  test("inequality join flags nested-loop; crossJoin flags cartesian or nested-loop") {
    val (l, r) = (left, right)
    val ineq = l.join(r, l("id") > r("rid"))
    ineq.collect()
    val kinds = PlanLint.check(ineq).map(_.kind).toSet
    assert(kinds.contains("nested-loop-join") || kinds.contains("cartesian-product"),
      s"got $kinds")
    val cross = left.crossJoin(right)
    cross.collect()
    val k2 = PlanLint.check(cross).map(_.kind).toSet
    assert(k2.contains("cartesian-product") || k2.contains("nested-loop-join"))
  }

  test("duplicate scan of the same parquet is flagged; reused stages are not") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lint").toString
    left.write.mode("overwrite").parquet(s"$dir/t")
    val t = spark.read.parquet(s"$dir/t")
    // two DIFFERENTLY-shaped consumers -> no stage reuse -> genuine double scan
    val dup = t.groupBy("k").count()
      .join(t.groupBy("id").count().withColumnRenamed("count", "c2"),
        col("k") === col("id"))
    dup.collect()
    assert(PlanLint.check(dup).exists(_.kind == "duplicate-scan"))
  }
}
