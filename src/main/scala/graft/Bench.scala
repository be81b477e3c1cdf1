package graft

/** Driver-run benchmark: one JSON line with per-query seconds at
  * SPARK_GRAFT_SF_DIR.
  *
  * Methodology: each query is first executed once at the smallest scale
  * factor (sf0.001 sibling dir when present). The plans are identical, so
  * this compiles every generated (Janino) class and JITs the hot paths; the
  * timed run at the target SF then measures steady-state execution — the
  * throughput that matters for a long-running cluster job — rather than
  * one-time JVM/codegen compilation (measured 2-4× inflation on
  * sub-second queries). Every gate is timed twice and reports the MINIMUM:
  * with 64 queries sharing one JVM, single-shot timings showed ±0.3 s
  * run-to-run noise on untouched sub-second queries (round-7 postmortem —
  * every "regression" vanished under a min-of-5; SMOKE.md "Suite-noise
  * postmortem"), and the min is the steady-state number the same plan
  * reproduces in isolation. Single-gate A/B runs use
  * `graft.Profile time <sfDir> <gates> [iters]`.
  */
object Bench {
  /** Execute a gate FULLY and return its row count. `df.count()` is the
    * wrong executor for timing: Catalyst prunes every column the final
    * `count(1)` doesn't reference — including whole Window operators (a
    * window never changes cardinality), so a pure window-append gate like
    * rolling_agg would be timed over a degenerate explode+filter plan
    * (caught by the round-10 shuffle-metrics net: 59 bytes shuffled where
    * the window exchange should be MBs). `toRdd` executes the plan with
    * the query's own output schema — every selected column computed, every
    * declared sort performed — which is also what the DuckDB oracle's
    * `fetchall` does on its side. It runs as one SQL execution, so each of
    * its jobs carries the gate's execution id.
    */
  def force(df: org.apache.spark.sql.DataFrame): Long =
    org.apache.spark.sql.GraftSqlBridge.withExecution(df, "force")(
      df.queryExecution.toRdd.count())

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = LocalSession.cpus
    // the same session as Main/Verify: time-bucketing queries must be timed
    // over the exact groupings the correctness gate verified
    val spark = LocalSession(cpus)
    val warmDir = {
      val sib = java.nio.file.Paths.get(sfDir).resolveSibling("sf0.001")
      if (java.nio.file.Files.exists(sib)) sib.toString else sfDir
    }
    LocalSession.warm(spark)
    try force(SparkEntry.entry(spark)) catch { case _: Throwable => () }
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      try { force(fn(spark, warmDir)) } catch { case _: Throwable => () }
      val times = (1 to 2).map { _ =>
        spark.catalog.clearCache() // per-query caches must not accumulate or pre-warm
        System.gc() // keep prior queries' garbage out of this query's timing
        val t0 = System.nanoTime()
        val ok = try { force(fn(spark, sfDir)); true } catch { case _: Throwable => false }
        // a failed query must be visible in the output, not read as a fast run
        if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      }
      name -> (if (times.contains(-1.0)) -1.0 else times.min)
    }.toMap
    // 3-decimal seconds (ms precision, far above the documented ±0.2-0.4 s
    // suite noise floor) keep the line as short as possible: the driver
    // captures only the final ~2 KB of stdout, and every byte saved lets it
    // recover more per-query entries from the truncated front. Sorted keys
    // make the surviving suffix deterministic round-over-round.
    def sec(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val qs = results.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + sec(v) }
      .mkString("{", ",", "}")
    // failed queries keep their -1 marker per query but must not LOWER the
    // total (a failing run would otherwise report a better number)
    val total = results.values.filter(_ >= 0).sum
    // "cpus" self-describes the leg (the driver also runs a reduced-core
    // scaling leg — VERDICT r17 #1: without the field the two legs'
    // outputs are indistinguishable)
    val line = s"""{"metric":"total","value":${sec(total)},"unit":"sec",""" +
      s""""queries":$qs,"sf":"$sfDir","cpus":$cpus}"""
    println(line)
    // a log reader that keeps only the last ~2 KB of stdout loses the full
    // line's front (and its total): end with a short summary line
    println(s"""{"metric":"total","value":${sec(total)},"n":${results.size},""" +
      s""""sf":"$sfDir","cpus":$cpus}""")
    // also persisted to files: sbt prefixes stdout with [info] and caps what
    // log parsers see — the files carry the bare full line. The
    // reduced-core sanity leg must not clobber the full-width
    // BENCH_LATEST.json (VERDICT r17: the r17 file on disk was the c8 run) —
    // each leg gets its own BENCH_LATEST_c<cpus>.json, and BENCH_LATEST.json
    // only ever moves to an equal-or-wider run.
    def persist(p: String): Unit =
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get(p), line + "\n")
      catch { case _: Throwable => () }
    persist(s"BENCH_LATEST_c$cpus.json")
    val latest = java.nio.file.Paths.get("BENCH_LATEST.json")
    if (!java.nio.file.Files.exists(latest) || """"cpus":(\d+)""".r
        .findFirstMatchIn(java.nio.file.Files.readString(latest))
        .exists(_.group(1).toInt <= cpus))
      persist("BENCH_LATEST.json")
    spark.stop()
  }
}
