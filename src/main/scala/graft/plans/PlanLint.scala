package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

/** Plan-shape lint as a LIBRARY API — the checks the engine's own gate
  * audit runs (duplicate corpus scans, cartesian products, nested-loop
  * joins), callable against any user pipeline before it ships to a
  * cluster: `PlanLint.check(df)` returns human-readable findings
  * (`graft.Profile scan` prints them per gate).
  *
  * Findings, per executed (post-AQE when already executed, else compiled)
  * plan:
  *  - `duplicate-scan`: the same source path scanned more than once after
  *    identity-deduping reused stages/exchanges — the diamond-recompute
  *    shape that re-reads a 100 TB corpus per consumer branch. Sometimes
  *    deliberate (a cheap pruned stats pass), always worth reviewing.
  *  - `cartesian-product`: an unkeyed join pairing every row with every
  *    row.
  *  - `nested-loop-join`: a BroadcastNestedLoopJoin — usually an
  *    inequality/OR join predicate Catalyst could not hash; quadratic in
  *    the stream side unless the broadcast side is tiny AND the caller
  *    meant it (intentional tiny-side crossJoins, e.g. attaching a 1-row
  *    aggregate, are reported so the caller can allowlist them).
  *
  * Inspection only — no job runs; pair with an action (or run after one)
  * to lint the final adaptive plan.
  */
object PlanLint {

  final case class Finding(kind: String, detail: String) {
    override def toString = s"[$kind] $detail"
  }

  def check(df: DataFrame): Seq[Finding] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    var scans = List.empty[String]
    var findings = List.empty[Finding]
    def walk(p: SparkPlan): Unit = {
      if (!seen.add(p)) return
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case qs: QueryStageExec => walk(qs.plan)
        case re: ReusedExchangeExec => walk(re.child)
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          scans ::= s.relation.location.rootPaths.headOption
            .map(_.getName).getOrElse("?")
        case c: CartesianProductExec =>
          findings ::= Finding("cartesian-product", c.simpleStringWithNodeId())
          c.children.foreach(walk)
        case j: BroadcastNestedLoopJoinExec =>
          findings ::= Finding("nested-loop-join", j.simpleStringWithNodeId())
          j.children.foreach(walk)
        case other => other.children.foreach(walk)
      }
      p.subqueries.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    val dups = scans.groupBy(identity).filter(_._2.size > 1)
      .map { case (t, l) => Finding("duplicate-scan", s"$t scanned ${l.size}x") }
    (findings.reverse ++ dups).toSeq
  }
}
