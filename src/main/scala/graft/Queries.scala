package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.meds.MedsSchema._
import graft.dsl.Cfg
import graft.operators._
import graft.ops._
import graft.functions.GraftFunctions
import graft.streaming.{EventStream, Sessionize}

/** The correctness/benchmark query surface: one entry per operator from
  * SURVEY.md §2 plus the large-scale training-data ops, each paired with an
  * ANSI-SQL oracle that DuckDB evaluates over the same parquet tables.
  *
  * Oracle-parity conventions (the driver hash-compares values):
  *  - the `events` table plays the MEDS event shard (user_id → subject_id,
  *    ts → time, event_type → code, value → numeric_value);
  *  - aggregated floats are rounded (3-4 dp) on BOTH sides so summation-order
  *    ulps can't flip a hash;
  *  - counts/ranks are cast to BIGINT on both sides;
  *  - every query ends in a deterministic ORDER BY;
  *  - hashes are md5-based so they are engine-portable by construction.
  */
object Queries {

  type Q = (SparkSession, String) => DataFrame

  final case class Gate(query: Q, oracle: Option[String])

  /** Per-sf-dir staging root under java.io.tmpdir, keyed by the SANITIZED
    * FULL dir string — `dir.hashCode` can collide across dirs, silently
    * sharing staged fixtures between two corpora (ADVICE r16).
    */
  private[graft] def stagingDir(prefix: String, dir: String): String =
    new java.io.File(System.getProperty("java.io.tmpdir"),
      prefix + dir.replaceAll("[^A-Za-z0-9._-]", "_")).getAbsolutePath

  /** Fingerprint of a staged-input SOURCE path: the staleness key a
    * build-once staging marker stores, so regenerating the sf dir's parquet
    * in place invalidates the staged copy instead of silently serving it.
    * A file stamps its own mtime. A directory stamps every regular file
    * beneath it (relative name, size, mtime): a part file rewritten under
    * the same name leaves the directory's own mtime unchanged.
    */
  private[graft] def sourceStamp(path: String): String =
    try {
      val root = java.nio.file.Paths.get(path)
      if (!java.nio.file.Files.isDirectory(root))
        java.nio.file.Files.getLastModifiedTime(root).toMillis.toString
      else {
        import scala.jdk.CollectionConverters._
        val files = java.nio.file.Files.walk(root)
        try files.iterator().asScala
          .filter(java.nio.file.Files.isRegularFile(_))
          .map(f => s"${root.relativize(f)}:${java.nio.file.Files.size(f)}:" +
            java.nio.file.Files.getLastModifiedTime(f).toMillis)
          .toSeq.sorted.mkString(";")
        finally files.close()
      }
    } catch { case _: Exception => "absent" }

  /** Build-once staging guard: true iff `marker` exists and records the
    * current [[sourceStamp]] of `sourcePath`. Callers re-stage and then
    * [[writeMarker]] when false.
    */
  private[graft] def markerFresh(marker: java.nio.file.Path,
      sourcePath: String): Boolean =
    java.nio.file.Files.exists(marker) &&
      new String(java.nio.file.Files.readAllBytes(marker),
        java.nio.charset.StandardCharsets.UTF_8) == sourceStamp(sourcePath)

  private[graft] def writeMarker(marker: java.nio.file.Path,
      sourcePath: String): Unit = {
    java.nio.file.Files.createDirectories(marker.getParent)
    java.nio.file.Files.write(marker,
      sourceStamp(sourcePath).getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Memoized ANALYZED base relations, keyed (session, path, source stamp).
    *
    * `spark.read.parquet` does eager driver work on every call — lists the
    * path into a fresh InMemoryFileIndex and reads a footer for the schema.
    * Gates re-read the same handful of base tables, and the bench
    * constructs each gate's plan 3-4× per run, so the suite paid that
    * listing+schema cost ~350 times per bench (~10-30 ms each — part of
    * the measured ~0.3-0.5 s/query floor, VERDICT r17 #5). The memo shares
    * METADATA only: the DataFrame is a lazy plan, every action still scans
    * the parquet from disk (no `.cache()`, `clearCache()` semantics
    * unchanged, per-query results always recomputed). The [[sourceStamp]] in
    * the key re-resolves a regenerated input; the session in the key scopes
    * the relation to the SQLConf it was resolved under.
    */
  private val tableMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), DataFrame]

  private def table(s: SparkSession, dir: String, name: String): DataFrame = {
    // the synthetic testdata stores timestamps as TIMESTAMP(NANOS), which
    // Spark only reads under this legacy conf (as raw nanos longs)
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    tableAt(s, s"$dir/$name.parquet")
  }

  /** The memoized-relation read for an arbitrary parquet path — shared by
    * [[table]] and the gates that stage their own mtime-marked artifacts
    * (the incremental-metadata partials).
    */
  private def tableAt(s: SparkSession, path: String): DataFrame = {
    // bound the memo (a long test run creates many sessions/dirs; entries
    // pin their session via the key) — clearing just re-pays one listing
    if (tableMemo.size > 512) tableMemo.clear()
    tableMemo.computeIfAbsent((s, path, sourceStamp(path)),
      _ => s.read.parquet(path))
  }

  /** `ts` normalized to a microsecond TIMESTAMP whatever the parquet stores:
    * TIMESTAMP(NANOS) read as raw longs under the legacy conf (integral `div`
    * keeps exactness — a double division would lose precision above 2^53), or
    * TIMESTAMP_NTZ cast to TIMESTAMP (value-preserving ONLY under a
    * zero-offset session timezone, asserted below; watermarks and time
    * windows require the LTZ type). ONE definition for the batch and
    * streaming reads of the events table: the conversion convention must not
    * be able to drift between the two.
    *
    * The LongType branch ASSUMES the raw longs are nanoseconds (that is the
    * only way Spark hands TIMESTAMP(NANOS) out, via
    * `spark.sql.legacy.parquet.nanosAsLong`) — guarded per row: any epoch
    * after ~1970-04 is ≥ 1e16 in nanos, while plain INT64 micros stay below
    * 1e16 until the year ~2262, so a future testdata regeneration that
    * stores un-annotated micros raises instead of silently dividing
    * timestamps by 1000. The guard is a codegen'd comparison; `raise_error`
    * is only evaluated on offending rows.
    */
  private[graft] def restoreTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr(
          """CASE WHEN ts IS NULL THEN NULL
            |     WHEN abs(ts) >= 10000000000000000 THEN ts div 1000
            |     ELSE raise_error(concat('restoreTs: raw long ts ',
            |       cast(ts as string), ' is too small in magnitude to be ',
            |       'nanoseconds — was the testdata regenerated with a ',
            |       'different timestamp physical type?'))
            |END""".stripMargin)))
      case org.apache.spark.sql.types.TimestampNTZType =>
        val tz = raw.sparkSession.conf.get("spark.sql.session.timeZone")
        val rules = java.time.ZoneId.of(tz).getRules
        require(rules.isFixedOffset &&
          rules.getOffset(java.time.Instant.EPOCH).getTotalSeconds == 0,
          s"restoreTs: the NTZ->TIMESTAMP cast is only value-preserving " +
            s"under a zero-offset session timezone; found `$tz` — set " +
            "spark.sql.session.timeZone=UTC on the session")
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }

  private def eventsTable(s: SparkSession, dir: String): DataFrame =
    restoreTs(table(s, dir, "events"))

  /** events table viewed as a MEDS event shard; `__row_idx` (the engine's
    * stable-order bookkeeping column) is the natural event_id here.
    */
  private def medsEvents(s: SparkSession, dir: String): DataFrame =
    eventsTable(s, dir).select(
      col("user_id").as(SubjectId),
      col("ts").as(Time),
      col("event_type").as(Code),
      col("value").as(NumericValue),
      col("event_id"),
      col("props"))
      .withColumn(RowIdx, col("event_id"))

  private val r3 = (c: Column) => round(c, 3)
  private val r4 = (c: Column) => round(c, 4)

  // =====================================================================
  // TPC-H-style relational queries (scan / agg / join benchmarks)
  // =====================================================================

  private val q1Pricing: Gate = Gate(
    (s, dir) => table(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        r3(sum("l_quantity")).as("sum_qty"),
        r3(sum("l_extendedprice")).as("sum_base_price"),
        // exact scaled-integer sum: order-independent, no rounding boundary
        sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 10000))
          .cast(LongType).as("sum_disc_price_e4"),
        r4(avg("l_quantity")).as("avg_qty"),
        r3(avg("l_extendedprice")).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus"),
    Some("""SELECT l_returnflag, l_linestatus,
      | round(sum(l_quantity),3) AS sum_qty,
      | round(sum(l_extendedprice),3) AS sum_base_price,
      | CAST(sum(round(l_extendedprice*(1-l_discount)*10000)) AS BIGINT) AS sum_disc_price_e4,
      | round(avg(l_quantity),4) AS avg_qty,
      | round(avg(l_extendedprice),3) AS avg_price,
      | count(*) AS count_order
      |FROM lineitem GROUP BY 1,2 ORDER BY 1,2""".stripMargin))

  private val q3Segment: Gate = Gate(
    (s, dir) => {
      val li = table(s, dir, "lineitem")
      val o = table(s, dir, "orders")
      val c = table(s, dir, "customer")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 10000))
          .cast(LongType).as("revenue_e4"),
          count(lit(1)).as("n_rows"))
        .orderBy("c_mktsegment")
    },
    Some("""SELECT c_mktsegment,
      | CAST(sum(round(l_extendedprice*(1-l_discount)*10000)) AS BIGINT) AS revenue_e4,
      | count(*) AS n_rows
      |FROM lineitem JOIN orders ON l_orderkey=o_orderkey
      |JOIN customer ON o_custkey=c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin))

  private val q5Nation: Gate = Gate(
    (s, dir) => {
      val li = table(s, dir, "lineitem")
      val o = table(s, dir, "orders")
      val c = table(s, dir, "customer")
      val su = table(s, dir, "supplier")
      val n = table(s, dir, "nation")
      val r = table(s, dir, "region")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(c),
          col("o_custkey") === col("c_custkey") && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 10000))
          .cast(LongType).as("revenue_e4"),
          count(lit(1)).as("n_rows"))
        .orderBy("r_name", "n_name")
    },
    Some("""SELECT r_name, n_name,
      | CAST(sum(round(l_extendedprice*(1-l_discount)*10000)) AS BIGINT) AS revenue_e4,
      | count(*) AS n_rows
      |FROM lineitem
      |JOIN orders ON l_orderkey=o_orderkey
      |JOIN supplier ON l_suppkey=s_suppkey
      |JOIN customer ON o_custkey=c_custkey AND c_nationkey=s_nationkey
      |JOIN nation ON s_nationkey=n_nationkey
      |JOIN region ON n_regionkey=r_regionkey
      |GROUP BY 1,2 ORDER BY 1,2""".stripMargin))

  // =====================================================================
  // MEDS stage operators over the events table (SURVEY §2.4)
  // =====================================================================

  private val aggCodeMetadata: Gate = Gate(
    (s, dir) => {
      val ev = medsEvents(s, dir)
      val m = AggregateCodeMetadata.compute(ev,
        Seq(CodeNSubjects, CodeNOccurrences, ValuesNSubjects, ValuesNOccurrences,
          ValuesNInts, ValuesSum, ValuesSumSqd, ValuesMin, ValuesMax))
        // exact scaled-integer sum-of-squares: rounding a double sum of 1e-4
        // multiples can land exactly on any decimal-rounding boundary
        .join(ev.groupBy(Code).agg(
          sum(round(when(AggregateCodeMetadata.valPresent,
            col(NumericValue) * col(NumericValue) * 10000)))
            .cast(LongType).as("values_sum_sqd_e4")), Seq(Code))
      m.select(col(Code).as("code"),
        col(CodeNSubjects).as("n_subjects"),
        col(CodeNOccurrences).as("n_occurrences"),
        col(ValuesNSubjects).as("values_n_subjects"),
        col(ValuesNOccurrences).as("values_n_occurrences"),
        col(ValuesNInts).as("values_n_ints"),
        r3(col(ValuesSum)).as("values_sum"),
        col("values_sum_sqd_e4"),
        col(ValuesMin).as("values_min"),
        col(ValuesMax).as("values_max"))
        .orderBy("code")
    },
    Some("""SELECT event_type AS code,
      | count(DISTINCT user_id) AS n_subjects,
      | count(*) AS n_occurrences,
      | count(DISTINCT CASE WHEN value IS NOT NULL AND NOT isnan(value) THEN user_id END) AS values_n_subjects,
      | count(CASE WHEN value IS NOT NULL AND NOT isnan(value) THEN value END) AS values_n_occurrences,
      | count(CASE WHEN value IS NOT NULL AND NOT isnan(value) AND round(value)=value THEN value END) AS values_n_ints,
      | round(coalesce(sum(CASE WHEN value IS NOT NULL AND NOT isnan(value) THEN value END),0),3) AS values_sum,
      | CAST(sum(round(CASE WHEN value IS NOT NULL AND NOT isnan(value) THEN value*value*10000 END)) AS BIGINT) AS values_sum_sqd_e4,
      | min(CASE WHEN value IS NOT NULL AND NOT isnan(value) THEN value END) AS values_min,
      | max(CASE WHEN value IS NOT NULL AND NOT isnan(value) THEN value END) AS values_max
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin))

  private val aggCodeQuantiles: Gate = Gate(
    (s, dir) => {
      val ev = medsEvents(s, dir)
      // linear mode mirrors DuckDB quantile_cont; the reference-parity
      // "nearest" mode is exercised by GoldenSpec against golden outputs
      val q = AggregateCodeMetadata.compute(ev, Seq(ValuesQuantiles), Seq(0.25, 0.5, 0.75),
        quantileMode = "linear")
      q.select(col(Code).as("code"),
        r4(col(ValuesQuantiles).getField("values/quantile/0.25")).as("p25"),
        r4(col(ValuesQuantiles).getField("values/quantile/0.5")).as("p50"),
        r4(col(ValuesQuantiles).getField("values/quantile/0.75")).as("p75"))
        .orderBy("code")
    },
    // NaN exclusion mirrors the Spark side's presentVal; DuckDB's
    // quantile_cont would otherwise rank NaN as the largest value
    Some("""SELECT event_type AS code,
      | round(quantile_cont(CASE WHEN isnan(value) THEN NULL ELSE value END, 0.25),4) AS p25,
      | round(quantile_cont(CASE WHEN isnan(value) THEN NULL ELSE value END, 0.5),4) AS p50,
      | round(quantile_cont(CASE WHEN isnan(value) THEN NULL ELSE value END, 0.75),4) AS p75
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin))

  /** The KLL-sketch quantile path of aggregate_code_metadata (stage option
    * `algo: sketch`), pinned in the EXACT regime: sketch_k=32768 exceeds
    * every per-code present-value count at all test SFs (max ~20.3k at
    * sf0.1), so the sketch retains every value and its INCLUSIVE-criterion
    * quantile is deterministically the order statistic at rank
    * max(1, ceil(q·n)) — which the oracle replays as a rank window. Above
    * capacity the identical plan degrades to ≤ ~1.65% rank error at the
    * default k=200 (KllSpec pins that regime). The YAML-reachability of the
    * option is spec-locked in PipelineConfigSpec.
    */
  private val aggCodeQuantilesSketch: Gate = Gate(
    (s, dir) => {
      val q = AggregateCodeMetadata.compute(medsEvents(s, dir),
        Seq(ValuesQuantiles), Seq(0.25, 0.5, 0.75),
        quantileMode = "sketch", sketchK = 32768)
      q.select(col(Code).as("code"),
        r4(col(ValuesQuantiles).getField("values/quantile/0.25")).as("p25"),
        r4(col(ValuesQuantiles).getField("values/quantile/0.5")).as("p50"),
        r4(col(ValuesQuantiles).getField("values/quantile/0.75")).as("p75"))
        .orderBy("code")
    },
    // the codes CTE + left join preserves codes whose values are ALL
    // null/NaN (Spark emits them with a null quantile struct; filtering
    // them inside `p` would silently drop the rows if testdata ever gains
    // a valueless code — the same convention as the other quantile oracles)
    Some("""WITH codes AS (SELECT DISTINCT event_type AS code FROM events),
      |p AS (SELECT event_type AS code, CAST(value AS DOUBLE) AS v
      |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
      |r AS (SELECT code, v,
      |  row_number() OVER (PARTITION BY code ORDER BY v) AS rn,
      |  count(*) OVER (PARTITION BY code) AS n FROM p),
      |q AS (SELECT code,
      |  round(max(CASE WHEN rn = greatest(1, CAST(ceil(0.25*n) AS BIGINT)) THEN v END),4) AS p25,
      |  round(max(CASE WHEN rn = greatest(1, CAST(ceil(0.5*n) AS BIGINT)) THEN v END),4) AS p50,
      |  round(max(CASE WHEN rn = greatest(1, CAST(ceil(0.75*n) AS BIGINT)) THEN v END),4) AS p75
      | FROM r GROUP BY code)
      |SELECT codes.code, q.p25, q.p50, q.p75
      |FROM codes LEFT JOIN q USING (code) ORDER BY codes.code""".stripMargin))

  /** The HLL subject-count path of aggregate_code_metadata (stage option
    * `algo: sketch` on the subject-count entries), pinned in the EXACT
    * regime: an HLL sketch stores coupons exactly below ~2^(lgK−4) distinct
    * items, and per-code distinct users max out at 1,500 at sf0.1 — far
    * under lgK=16's ~4k window (measured: exact at 3k, first deviation at
    * 10k) — so the estimate IS the exact count and the oracle's plain
    * COUNT(DISTINCT) hash-matches. Above the window the identical plan
    * degrades to ≤ ~0.8%% error with fixed-size shuffles.
    */
  private val aggCodeSubjectsSketch: Gate = Gate(
    (s, dir) => AggregateCodeMetadata.compute(medsEvents(s, dir),
        Seq(CodeNSubjects, ValuesNSubjects),
        subjectCountMode = "sketch", subjectLgK = 16)
      .select(col(Code).as("code"),
        col(CodeNSubjects).as("n_subjects"),
        col(ValuesNSubjects).as("values_n_subjects"))
      .orderBy("code"),
    Some("""SELECT event_type AS code,
      | count(DISTINCT user_id) AS n_subjects,
      | count(DISTINCT CASE WHEN value IS NOT NULL AND NOT isnan(value) THEN user_id END) AS values_n_subjects
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Incremental metadata: the events table split into two "releases"
    * (event_id parity), each aggregated into mergeable partials, the
    * partials merged, and the full metadata derived from the merged artifact
    * alone — verified against a full recompute in DuckDB. At 100 TB this is
    * the path that aggregates each new crawl once and never rescans old
    * shards; the gate proves the merge is EXACT, not approximate.
    */
  private val aggCodeMetadataIncr: Gate = Gate(
    (s, dir) => {
      val ev = medsEvents(s, dir)
      // the partial artifacts are PERSISTED (the whole point of the
      // incremental path: aggregate an increment once, derive many times) —
      // without the write/read the gate's many derivation branches would
      // re-execute the raw-scan lineage per consumer
      val tmp = stagingDir("graft_meta_partials_", dir)
      // idempotent staging (same convention as the pipeline-fixture gates):
      // build-once is the incremental path's actual cost model; the marker
      // pins the SOURCE mtime so an in-place testdata regeneration rebuilds
      val pMarker = java.nio.file.Paths.get(tmp, ".staged")
      if (!markerFresh(pMarker, s"$dir/events.parquet")) {
        AggregateCodeMetadata.partials(ev.filter(col("event_id") % 2 === 0))
          .write(s"$tmp/even")
        AggregateCodeMetadata.partials(ev.filter(col("event_id") % 2 === 1))
          .write(s"$tmp/odd")
        writeMarker(pMarker, s"$dir/events.parquet")
      }
      // memoized reads (the staged partials are mtime-marked like the
      // source tables): 4 fewer listing/schema jobs per invocation
      val parts = Seq(s"$tmp/even", s"$tmp/odd").map(d =>
        AggregateCodeMetadata.MetadataPartials(
          tableAt(s, s"$d/value_hist.parquet"),
          tableAt(s, s"$d/subjects.parquet")))
      val merged = AggregateCodeMetadata.mergePartials(parts)
      val m = AggregateCodeMetadata.fromPartials(merged,
        Seq(CodeNSubjects, CodeNOccurrences, ValuesNSubjects, ValuesNOccurrences,
          ValuesNInts, ValuesSum, ValuesMin, ValuesMax, ValuesQuantiles),
        quantiles = Seq(0.5), quantileMode = "linear")
        // exact scaled-integer sum-of-squares straight off the merged
        // histogram: fully order-independent
        .join(merged.valueHist.groupBy(Code).agg(
          sum(round(when(col("__v").isNotNull && !isnan(col("__v")),
            col("__v") * col("__v") * 10000)) * col("__cnt"))
            .cast(LongType).as("values_sum_sqd_e4")), Seq(Code))
      m.select(col(Code).as("code"),
        col(CodeNSubjects).as("n_subjects"),
        col(CodeNOccurrences).as("n_occurrences"),
        col(ValuesNSubjects).as("values_n_subjects"),
        col(ValuesNOccurrences).as("values_n_occurrences"),
        col(ValuesNInts).as("values_n_ints"),
        r3(col(ValuesSum)).as("values_sum"),
        col("values_sum_sqd_e4"),
        col(ValuesMin).as("values_min"),
        col(ValuesMax).as("values_max"),
        r4(col(ValuesQuantiles).getField("values/quantile/0.5")).as("values_p50"))
        .orderBy("code")
    },
    // the oracle replays the SAME incremental work, not a flat recompute
    // (r8 verdict #6: like-for-like ratio): per-release partials (value
    // histogram + distinct-subject artifact per event_id parity), partial
    // MERGE (union + re-agg), then every metric derived from the merged
    // artifacts only — including the linear-interp p50 off the cumulative
    // histogram, the exact shape fromPartials executes. subjc's count(*)
    // deliberately counts a hypothetical null-subject group: the Spark
    // side's keyed fromPartials row count does too (= Polars n_unique,
    // which counts null as a distinct value)
    Some("""WITH ev AS (SELECT user_id, event_type AS code,
      |  CAST(value AS DOUBLE) AS v, CAST(event_id % 2 AS INT) AS rel FROM events),
      |hist_p AS (SELECT rel, code, v, count(*) AS cnt FROM ev GROUP BY 1,2,3),
      |subj_p AS (SELECT rel, code, user_id,
      |  max(CASE WHEN v IS NOT NULL AND NOT isnan(v) THEN 1 ELSE 0 END) AS has_value
      | FROM ev GROUP BY 1,2,3),
      |hist AS (SELECT code, v, sum(cnt) AS cnt FROM hist_p GROUP BY 1,2),
      |subj AS (SELECT code, user_id, max(has_value) AS has_value FROM subj_p GROUP BY 1,2),
      |scalars AS (SELECT code,
      |  CAST(sum(cnt) AS BIGINT) AS n_occurrences,
      |  CAST(coalesce(sum(CASE WHEN v IS NOT NULL AND NOT isnan(v) THEN cnt END),0) AS BIGINT) AS values_n_occurrences,
      |  CAST(coalesce(sum(CASE WHEN v IS NOT NULL AND NOT isnan(v) AND round(v)=v THEN cnt END),0) AS BIGINT) AS values_n_ints,
      |  round(coalesce(sum(CASE WHEN v IS NOT NULL AND NOT isnan(v) THEN v*cnt END),0),3) AS values_sum,
      |  CAST(sum(round(CASE WHEN v IS NOT NULL AND NOT isnan(v) THEN v*v*10000 END)*cnt) AS BIGINT) AS values_sum_sqd_e4,
      |  min(CASE WHEN v IS NOT NULL AND NOT isnan(v) THEN v END) AS values_min,
      |  max(CASE WHEN v IS NOT NULL AND NOT isnan(v) THEN v END) AS values_max
      | FROM hist GROUP BY 1),
      |subjc AS (SELECT code, count(*) AS n_subjects,
      |  CAST(sum(has_value) AS BIGINT) AS values_n_subjects FROM subj GROUP BY 1),
      |hp AS (SELECT code, v, cnt FROM hist WHERE v IS NOT NULL AND NOT isnan(v)),
      |r AS (SELECT code, v, cnt,
      |  sum(cnt) OVER (PARTITION BY code ORDER BY v) AS cum,
      |  sum(cnt) OVER (PARTITION BY code) AS n FROM hp),
      |q AS (SELECT code,
      |  max(CASE WHEN cum - cnt < floor(0.5*(n-1))+1 AND floor(0.5*(n-1))+1 <= cum THEN v END) AS lov,
      |  max(CASE WHEN cum - cnt < ceil(0.5*(n-1))+1 AND ceil(0.5*(n-1))+1 <= cum THEN v END) AS hiv,
      |  max(0.5*(n-1) - floor(0.5*(n-1))) AS frac
      | FROM r GROUP BY 1)
      |SELECT s.code,
      | sc.n_subjects, s.n_occurrences, sc.values_n_subjects,
      | s.values_n_occurrences, s.values_n_ints, s.values_sum,
      | s.values_sum_sqd_e4, s.values_min, s.values_max,
      | round(q.lov*(1-q.frac) + q.hiv*q.frac, 4) AS values_p50
      |FROM scalars s JOIN subjc sc USING (code) LEFT JOIN q USING (code)
      |ORDER BY s.code""".stripMargin))

  private val fitVocab: Gate = Gate(
    (s, dir) => {
      val codes = medsEvents(s, dir).select(Code).distinct()
      // validateUnique deliberately left ON: this gate times the operator's
      // full reference contract (validation included), unlike the
      // normalization gate where the codes frame is structurally unique
      FitVocabularyIndices(codes)
        .select(col(Code).as("code"), col(VocabIndex).cast(LongType).as("vocab_index"))
        .orderBy("code")
    },
    Some("""SELECT event_type AS code,
      | CAST(row_number() OVER (ORDER BY event_type NULLS FIRST) AS BIGINT) AS vocab_index
      |FROM (SELECT DISTINCT event_type FROM events) ORDER BY 1 NULLS FIRST""".stripMargin))

  private val filterSubjects: Gate = Gate(
    (s, dir) => FilterSubjects(medsEvents(s, dir), Some(60), Some(50))
      .select(col("event_id"), col(SubjectId), col(Time), col(Code), col(NumericValue))
      .orderBy("event_id"),
    // n_events mirrors Polars n_unique: a null time counts as ONE distinct
    // event (the + CASE term), exactly like the Spark side's has-null add
    Some("""SELECT event_id, user_id AS subject_id, ts AS time, event_type AS code, value AS numeric_value
      |FROM events
      |WHERE user_id IN (
      |  SELECT user_id FROM events GROUP BY user_id
      |  HAVING count(ts) >= 60
      |   AND count(DISTINCT ts) + (CASE WHEN count(*) > count(ts) THEN 1 ELSE 0 END) >= 50)
      |ORDER BY event_id""".stripMargin))

  private val filterMeasurements: Gate = Gate(
    (s, dir) => {
      val ev = medsEvents(s, dir)
      val codes = AggregateCodeMetadata.compute(ev, Seq(CodeNSubjects, CodeNOccurrences))
      FilterMeasurements(ev, codes, Some(100), Some(2000))
        .select(col("event_id"), col(SubjectId), col(Code), col(NumericValue))
        .orderBy("event_id")
    },
    Some("""SELECT event_id, user_id AS subject_id, event_type AS code, value AS numeric_value
      |FROM events
      |WHERE event_type IN (
      |  SELECT event_type FROM events GROUP BY event_type
      |  HAVING count(DISTINCT user_id) >= 100 AND count(*) >= 2000)
      |ORDER BY event_id""".stripMargin))

  private val occludeOutliers: Gate = Gate(
    (s, dir) => {
      val ev = medsEvents(s, dir)
      val codes = AggregateCodeMetadata.compute(ev,
        Seq(ValuesNOccurrences, ValuesSum, ValuesSumSqd))
      OccludeOutliers(ev, codes, stddevCutoff = 1.0)
        .select(col("event_id"), col(Code).as("code"), col(NumericValue),
          col(IsInlier).as("is_inlier"))
        .orderBy("event_id")
    },
    // NaN guards mirror the Spark side exactly: stats exclude NaN values
    // (valPresent), and a NaN sd must yield is_inlier = false — DuckDB's
    // total-order comparison would otherwise make x <= NaN TRUE
    Some("""WITH v AS (
      |  SELECT event_type, CASE WHEN isnan(value) THEN NULL ELSE value END AS value
      |  FROM events),
      |m AS (
      |  SELECT event_type,
      |   sum(value)/count(value) AS mu,
      |   sqrt(sum(value*value)/count(value) - (sum(value)/count(value))^2) AS sd
      |  FROM v GROUP BY 1)
      |SELECT e.event_id, e.event_type AS code,
      | CASE WHEN NOT isnan(m.sd) AND abs(e.value - m.mu) <= 1.0*m.sd
      |   THEN e.value END AS numeric_value,
      | CASE WHEN e.value IS NULL OR m.sd IS NULL THEN NULL
      |   WHEN isnan(m.sd) THEN FALSE
      |   ELSE abs(e.value - m.mu) <= 1.0*m.sd END AS is_inlier
      |FROM events e LEFT JOIN m USING(event_type) ORDER BY e.event_id""".stripMargin))

  private val normalization: Gate = Gate(
    (s, dir) => {
      val ev = medsEvents(s, dir)
      val codes = AggregateCodeMetadata.compute(ev,
        Seq(ValuesNOccurrences, ValuesSum, ValuesSumSqd))
      // codes is keyed by its own groupBy key: uniqueness is structural,
      // skip the eager duplicate scan
      val vocab = FitVocabularyIndices(codes, validateUnique = false)
      Normalization(ev, vocab, valueType = DoubleType)
        .select(col("event_id"), col(Code).cast(LongType).as("code"),
          r4(col(NumericValue)).as(NumericValue))
        .orderBy("event_id")
    },
    // stats exclude NaN values, mirroring the Spark side's valPresent
    Some("""WITH nv AS (
      |  SELECT event_type, CASE WHEN isnan(value) THEN NULL ELSE value END AS value
      |  FROM events),
      |m AS (
      |  SELECT event_type,
      |   sum(value)/count(value) AS mu,
      |   sqrt(sum(value*value)/count(value) - (sum(value)/count(value))^2) AS sd
      |  FROM nv GROUP BY 1),
      |v AS (
      |  SELECT event_type, CAST(row_number() OVER (ORDER BY event_type NULLS FIRST) AS BIGINT) AS vocab
      |  FROM (SELECT DISTINCT event_type FROM events))
      |SELECT e.event_id, v.vocab AS code, round((e.value - m.mu)/m.sd, 4) AS numeric_value
      |FROM events e JOIN m USING(event_type) JOIN v USING(event_type)
      |ORDER BY e.event_id""".stripMargin))

  private val reorderMeasurements: Gate = Gate(
    (s, dir) => {
      val pats = Seq("^signup$", "^login", "^purchase$")
      val df = medsEvents(s, dir)
        .withColumn("order_idx", ReorderMeasurements.orderIndex(pats))
      // scalable global position: materializing row number, not a
      // single-partition Window.orderBy. (A/B-measured faster here than the
      // checkpoint-free withGlobalRowNumberKeyed, whose extra lineage passes
      // cost more than this cheap lineage's one materialization.)
      GraftFunctions.withGlobalRowNumber(df, "out_pos",
        Seq(col(SubjectId), col(Time).asc_nulls_first, col("order_idx"), col("event_id")))
        .select(col("event_id"), col("order_idx").cast(LongType).as("order_idx"),
          col("out_pos"))
        .orderBy("event_id")
    },
    Some("""SELECT event_id, CAST(order_idx AS BIGINT) AS order_idx,
      | CAST(row_number() OVER (ORDER BY user_id, ts NULLS FIRST, order_idx, event_id) AS BIGINT) AS out_pos
      |FROM (
      |  SELECT *, CASE WHEN regexp_matches(event_type, '^signup$') THEN 0
      |    WHEN regexp_matches(event_type, '^login') THEN 1
      |    WHEN regexp_matches(event_type, '^purchase$') THEN 2 ELSE 3 END AS order_idx
      |  FROM events)
      |ORDER BY event_id""".stripMargin))

  private val timeOfDay: Gate = Gate(
    (s, dir) => AddTimeDerivedMeasurements
      .timeOfDayEvents(medsEvents(s, dir), Seq(6, 12, 18))
      .select(col(SubjectId), col(Time), col(Code))
      .orderBy(SubjectId, Time),
    Some("""SELECT DISTINCT user_id AS subject_id, ts AS time,
      | CASE WHEN hour(ts) < 6 THEN 'TIME_OF_DAY//[00,06)'
      |  WHEN hour(ts) < 12 THEN 'TIME_OF_DAY//[06,12)'
      |  WHEN hour(ts) < 18 THEN 'TIME_OF_DAY//[12,18)'
      |  ELSE 'TIME_OF_DAY//[18,24)' END AS code
      |FROM events WHERE ts IS NOT NULL ORDER BY 1,2""".stripMargin))

  private val ageQuery: Gate = Gate(
    (s, dir) => AddTimeDerivedMeasurements
      .ageEvents(medsEvents(s, dir), "^signup$", ageUnit = "days", valueType = DoubleType)
      .select(col(SubjectId), col(Time), col(Code), r4(col(NumericValue)).as(NumericValue))
      .orderBy(SubjectId, Time),
    Some("""WITH dob AS (
      |  SELECT user_id, min(ts) AS dob FROM events
      |  WHERE regexp_matches(event_type, '^signup$') AND ts IS NOT NULL GROUP BY 1),
      |ev AS (SELECT DISTINCT user_id, ts FROM events WHERE ts IS NOT NULL)
      |SELECT ev.user_id AS subject_id, ev.ts AS time, 'AGE' AS code,
      | round((epoch_us(ev.ts) - epoch_us(dob.dob))/86400000000.0, 4) AS numeric_value
      |FROM ev JOIN dob USING(user_id)
      |WHERE (epoch_us(ev.ts) - epoch_us(dob.dob))/86400000000.0 > 0
      |ORDER BY 1,2""".stripMargin))

  private val timelineTokens: Gate = Gate(
    (s, dir) => AddTimeDerivedMeasurements
      .timelineTokenEvents(medsEvents(s, dir), unit = "days", valueType = DoubleType)
      .select(col(SubjectId), col(Time), col(Code), r4(col(NumericValue)).as(NumericValue))
      .orderBy(SubjectId, Time, Code),
    Some("""WITH ev AS (SELECT DISTINCT user_id, ts FROM events WHERE ts IS NOT NULL)
      |SELECT user_id AS subject_id, ts AS time, code, numeric_value FROM (
      | SELECT user_id, min(ts) AS ts, 'TIMELINE//START' AS code,
      |   CAST(NULL AS DOUBLE) AS numeric_value FROM ev GROUP BY user_id
      | UNION ALL
      | SELECT user_id, ts, 'TIMELINE//DELTA//days' AS code,
      |   round((epoch_us(ts) - epoch_us(prev))/86400000000.0, 4) AS numeric_value
      | FROM (SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev FROM ev)
      | WHERE prev IS NOT NULL
      | UNION ALL
      | SELECT user_id, max(ts) AS ts, 'TIMELINE//END' AS code,
      |   CAST(NULL AS DOUBLE) AS numeric_value FROM ev GROUP BY user_id
      |) ORDER BY 1,2,3""".stripMargin))

  private val extractValues: Gate = Gate(
    (s, dir) => {
      val cfgs = Seq(
        "k_value" -> Cfg.map("extract" -> Cfg.map(
          "from" -> Cfg("props"), "regex" -> Cfg("\"k\": (\\d+)"))),
        "evt_code" -> Cfg("EVT//{code}"),
        "big_flag" -> Cfg.map(
          "output" -> Cfg.map("literal" -> Cfg("big")),
          "matcher" -> Cfg.map("code" -> Cfg("purchase"))))
      ExtractValues(medsEvents(s, dir), cfgs)
        .select(col("event_id"), col("k_value").cast(LongType).as("k_value"),
          col("evt_code"), col("big_flag"))
        .orderBy("event_id")
    },
    // NULLIF: DuckDB regexp_extract returns '' on no-match, which CAST
    // would hard-error on — the Spark side (extractOrNull) yields NULL
    Some("""SELECT event_id,
      | CAST(NULLIF(regexp_extract(props, '"k": (\d+)', 1), '') AS BIGINT) AS k_value,
      | 'EVT//' || event_type AS evt_code,
      | CASE WHEN event_type = 'purchase' THEN 'big' END AS big_flag
      |FROM events ORDER BY event_id""".stripMargin))

  private val binNumericValues: Gate = Gate(
    (s, dir) => {
      val ev = medsEvents(s, dir)
      val meta = ev.groupBy(Code).agg(
        array(percentile(col(NumericValue), lit(0.25)),
          percentile(col(NumericValue), lit(0.5)),
          percentile(col(NumericValue), lit(0.75))).as("__endpoints"))
      val joined = ev.join(broadcast(meta), Seq(Code))
      val bin = GraftFunctions.searchSortedRight(col("__endpoints"), col(NumericValue))
      joined.select(col("event_id"),
        when(col(NumericValue).isNotNull,
          concat(col(Code), lit("//"), bin.cast(LongType))).otherwise(col(Code)).as("code"),
        when(col(NumericValue).isNotNull, bin.cast(LongType)).as("bin"))
        .orderBy("event_id")
    },
    Some("""WITH m AS (
      |  SELECT event_type, quantile_cont(value,0.25) AS q1,
      |   quantile_cont(value,0.5) AS q2, quantile_cont(value,0.75) AS q3
      |  FROM events GROUP BY 1),
      |b AS (
      |  SELECT e.event_id, e.event_type, e.value,
      |   CAST((CASE WHEN m.q1 <= e.value THEN 1 ELSE 0 END) +
      |        (CASE WHEN m.q2 <= e.value THEN 1 ELSE 0 END) +
      |        (CASE WHEN m.q3 <= e.value THEN 1 ELSE 0 END) AS BIGINT) AS bin
      |  FROM events e JOIN m USING(event_type))
      |SELECT event_id,
      | CASE WHEN value IS NOT NULL THEN event_type || '//' || bin ELSE event_type END AS code,
      | CASE WHEN value IS NOT NULL THEN bin END AS bin
      |FROM b ORDER BY event_id""".stripMargin))

  private val matchReviseQuery: Gate = Gate(
    (s, dir) => {
      val blocks = Seq(
        MatchRevise.Block(Cfg.map("code" -> Cfg("click")),
          df => df.withColumn(NumericValue, col(NumericValue) * 2)),
        MatchRevise.Block(Cfg.map("code" -> Cfg("view")),
          df => df.withColumn(NumericValue, col(NumericValue) + 1)))
      val out = MatchRevise(medsEvents(s, dir), blocks, keepOrderCols = true)
      GraftFunctions.withGlobalRowNumber(out, "out_pos",
        Seq(col(SubjectId), col(Time).asc_nulls_first, col(BlockIdx), col(RowIdx)))
        .select(col("event_id"), r4(col(NumericValue)).as(NumericValue),
          col(BlockIdx).cast(LongType).as("block"),
          col("out_pos"))
        .orderBy("event_id")
    },
    Some("""WITH t AS (
      |  SELECT event_id, user_id, ts,
      |   CASE WHEN event_type='click' THEN 0 WHEN event_type='view' THEN 1 ELSE 2 END AS block,
      |   CASE WHEN event_type='click' THEN value*2
      |    WHEN event_type='view' THEN value+1 ELSE value END AS v
      |  FROM events)
      |SELECT event_id, round(v,4) AS numeric_value, CAST(block AS BIGINT) AS block,
      | CAST(row_number() OVER (ORDER BY user_id, ts NULLS FIRST, block, event_id) AS BIGINT) AS out_pos
      |FROM t ORDER BY event_id""".stripMargin))

  private val reshardSummary: Gate = Gate(
    (s, dir) => {
      val ev = medsEvents(s, dir)
      val splitsDf = ev.select(SubjectId).distinct()
        .withColumn(Split,
          when(pmod(col(SubjectId), lit(10)) < 8, TrainSplit)
            .when(pmod(col(SubjectId), lit(10)) === 8, TuningSplit)
            .otherwise(HeldOutSplit))
      val resharded = ReshardToSplit(ev, splitsDf, nShards = 4)
      resharded.groupBy(Split, Shard)
        .agg(count(lit(1)).as("n_rows"), countDistinct(col(SubjectId)).as("n_subjects"))
        .orderBy(Split, Shard)
    },
    // ((x % m) + m) % m = pmod: DuckDB's signed % would diverge from the
    // Spark side's pmod on negative subject ids
    Some("""SELECT
      | CASE WHEN ((user_id % 10) + 10) % 10 < 8 THEN 'train'
      |  WHEN ((user_id % 10) + 10) % 10 = 8 THEN 'tuning' ELSE 'held_out' END AS split,
      | CAST(((user_id % 4) + 4) % 4 AS INT) AS shard,
      | count(*) AS n_rows, count(DISTINCT user_id) AS n_subjects
      |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin))

  private val eventsHourly: Gate = Gate(
    (s, dir) => EventStream.windowedAgg(eventsTable(s, dir), "1 hour")
      .select(col("window_start"), col("event_type"), col("n_events"),
        r3(col("sum_value")).as("sum_value"))
      .orderBy("window_start", "event_type"),
    // ts IS NOT NULL: Spark's window() silently drops null-timestamp rows
    // (the TimeWindowing rule adds the filter); the oracle must too
    Some("""SELECT date_trunc('hour', ts) AS window_start, event_type,
      | count(*) AS n_events, round(sum(value),3) AS sum_value
      |FROM events WHERE ts IS NOT NULL GROUP BY 1,2 ORDER BY 1,2""".stripMargin))

  /** Semi-structured extraction: typed `from_json` over the events `props`
    * column, then an aggregate over the extracted field — the schema-on-read
    * op every event/log pipeline needs. The oracle extracts the same field
    * with a regexp so it never depends on a DuckDB JSON extension.
    */
  private val eventsJson: Gate = Gate(
    (s, dir) => {
      val parsed = eventsTable(s, dir).select(col("event_type"),
        from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
          .getField("k").as("k"))
      parsed.groupBy("event_type").agg(
        count(lit(1)).cast(LongType).as("n"),
        sum("k").as("sum_k"),
        r4(avg("k")).as("avg_k"),
        max("k").as("max_k"))
        .orderBy("event_type")
    },
    Some("""WITH p AS (
      |  SELECT event_type,
      |   CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k
      |  FROM events)
      |SELECT event_type, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k,
      | round(avg(k), 4) AS avg_k, max(k) AS max_k
      |FROM p GROUP BY 1 ORDER BY 1""".stripMargin))

  private val eventsSessionize: Gate = Gate(
    (s, dir) => graft.streaming.Sessionize.batch(eventsTable(s, dir), gapMinutes = 30)
      .select(col("user_id"), col("session_idx").cast(LongType).as("session_idx"),
        col("start_ts"), col("end_ts"), col("n_events"),
        r3(col("sum_value")).as("sum_value"))
      .orderBy("user_id", "session_idx"),
    // NULLS FIRST pins the null-time ordering to Spark's window default —
    // DuckDB's nulls-last would sessionize null-ts events differently
    Some("""WITH p AS (
      |  SELECT user_id, ts, event_id, value,
      |   lag(ts) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id) AS prev
      |  FROM events),
      |f AS (SELECT *, CASE WHEN prev IS NULL
      |   OR epoch_us(ts) - epoch_us(prev) > 1800000000 THEN 1 ELSE 0 END AS nw FROM p),
      |s AS (SELECT *, sum(nw) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
      |   ROWS UNBOUNDED PRECEDING) AS sidx FROM f)
      |SELECT user_id, CAST(sidx AS BIGINT) AS session_idx,
      | min(ts) AS start_ts, max(ts) AS end_ts,
      | count(*) AS n_events, round(sum(value),3) AS sum_value
      |FROM s GROUP BY 1,2 ORDER BY 1,2""".stripMargin))

  /** Streaming gate: the SAME sessionization computed by the Structured
    * Streaming path — parquet `readStream` source → `flatMapGroupsWithState`
    * partial sessions → idempotent per-batch foreachBatch parquet sink →
    * re-aggregate partials by (user, session) — must hash-match the batch
    * result (and the DuckDB oracle) on identical data. This is the
    * correctness row for SURVEY §2.8: batch/streaming parity is verified by
    * the oracle, not just by spec assertions.
    *
    * Null event times are filtered on both sides: event-time streaming has no
    * ordering for a null timestamp (the batch path's NULLS FIRST convention
    * is a window-order artifact a watermark would drop anyway).
    */
  /** Streaming file source over the events table, branching on the table's
    * physical layout: `events.parquet` is a flat FILE in the shipped
    * testdata (streamed via `pathGlobFilter` on the parent dir — a file
    * cannot be a stream source root, "basePath must be a directory") but a
    * DIRECTORY of part files in replicated scale dirs (ScaleUpBench) and
    * any engine-written output (streamed directly — the glob filter on the
    * parent matched ZERO part files there, so the stream silently ran no
    * batches at scale until round 14).
    */
  private def eventsStream(ss: SparkSession, dir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/events.parquet")
    val fs = p.getFileSystem(ss.sessionState.newHadoopConf())
    val reader = ss.readStream.schema(table(ss, dir, "events").schema)
    restoreTs(
      if (fs.getFileStatus(p).isDirectory) reader.parquet(p.toString)
      else reader.option("pathGlobFilter", "events.parquet").parquet(dir))
  }

  /** State partitions for the streaming gates, scoped to the DATA, not a
    * constant: each HDFS-backed state store pays a per-batch open/commit
    * regardless of row count (r8 tuning: 2 beats 8 at 100k rows), but a
    * constant 2 throttles a replicated 6M-row scale run. ~50k input rows
    * per store (the measured r8 sweet spot) from the parquet FOOTER counts
    * — no data scan — clamped to [2, defaultParallelism].
    */
  private def streamStatePartitions(ss: SparkSession, dir: String): Int = {
    // r18 re-sweep at sf0.1 (min-of-4, trio total): 2 → 4.6 s, 4 → 6.9 s,
    // 8 → 5.7 s — the r8 divisor still holds
    val rows = graft.plans.ParquetStats
      .rowCount(ss, s"$dir/events.parquet").getOrElse(100000L)
    math.max(2L, math.min(ss.sparkContext.defaultParallelism.toLong,
      rows / 50000L)).toInt
  }

  private def rmTree(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.isDirectory(p)) {
      val st = java.nio.file.Files.list(p)
      try st.iterator().asScala.foreach(rmTree) finally st.close()
    }
    java.nio.file.Files.deleteIfExists(p); ()
  }

  /** Streaming exact dedup under oracle verification: the events file is
    * streamed TWICE and unioned, so every row arrives alongside its own
    * duplicate; `EventStream.streamingDedup` (watermark-bounded state) must
    * drop exactly one copy of each — the surviving set is the original
    * table, which the batch oracle states directly. Keying on the full-row
    * content hash makes the survivor identity well-defined (duplicates are
    * identical), so the gate is hash-exact despite parallel arrival order.
    */
  private val eventsDedupStream: Gate = Gate(
    (s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val tmp = java.nio.file.Files.createTempDirectory("graft_dedup_stream")
      val outDir = tmp.resolve("out").toString
      try {
        val ss = s.newSession()
        // r8 tuning pass (min-of-5 at sf0.1, SMOKE.md): 2 state partitions
        // (10k rows of state need neither 8 stores' per-batch commit
        // overhead nor their scheduling; 8→4→2 = 3.20→2.90→2.73 s), rows
        // duplicated INSIDE the one file source (vs the earlier
        // `src.union(src)` of two independent sources scanning and
        // tracking the parquet twice per batch), and the default
        // HDFS-backed state provider kept deliberately: RocksDB measured
        // 4.19 s here — per-partition native-DB open/commit dwarfs its
        // benefits until state is orders of magnitude larger (SMOKE.md
        // "Streaming sessionization at 1M-user state" has the RocksDB
        // evidence at scale).
        ss.conf.set("spark.sql.shuffle.partitions",
          streamStatePartitions(ss, dir).toString)
        val src = eventsStream(ss, dir)
          .filter(col("ts").isNotNull) // watermark column must be non-null
        val doubled = src
          .withColumn("__copy", explode(array(lit(0), lit(1))))
          .drop("__copy")
        val allCols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
        val q = EventStream.streamingDedup(doubled, allCols)
          .writeStream.outputMode("append")
          .option("checkpointLocation", tmp.resolve("ckpt").toString)
          .trigger(Trigger.AvailableNow())
          // per-batch overwrite dirs keep replayed micro-batches idempotent;
          // NO coalesce(1): a single-threaded write of a replicated-scale
          // batch (6.4M rows at x64) serializes the sink — the state
          // partitioning already bounds the file count per batch
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            batch.write.mode("overwrite").parquet(s"$outDir/b$batchId"); ()
          }
          .start()
        q.awaitTermination()
        s.read.option("recursiveFileLookup", "true").parquet(outDir)
          .select(allCols.map(col): _*)
          .orderBy("event_id")
          .localCheckpoint() // free the sink/checkpoint dirs immediately
      } finally rmTree(tmp)
    },
    // the oracle performs the same WORK as the gate, not just the same
    // result: a real DISTINCT over the doubled input (r14 VERDICT: the old
    // `SELECT ... FROM events` form was a stateless sort posing as a dedup
    // baseline). It is also more robust — a full-row duplicate already in
    // the events table collapses on BOTH sides now.
    Some("""SELECT DISTINCT event_id, ts, user_id, event_type, value, props
      |FROM (SELECT * FROM events UNION ALL SELECT * FROM events) t
      |WHERE ts IS NOT NULL ORDER BY event_id""".stripMargin))

  private val eventsSessionizeStream: Gate = Gate(
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.streaming.Trigger
      import scala.jdk.CollectionConverters._
      val tmp = java.nio.file.Files.createTempDirectory("graft_sessionize_stream")
      val outDir = tmp.resolve("out").toString
      try {
        // a stateful streaming query pays per-state-partition overhead (one
        // HDFS-backed store + delta file per partition per batch) regardless
        // of row count — scope the state partitioning to the gate's data
        // size in a DEDICATED session (newSession: shared SparkContext, own
        // SQLConf) instead of flipping the shared session's conf, which a
        // concurrently-running gate would silently inherit
        val ss = s.newSession()
        ss.conf.set("spark.sql.shuffle.partitions",
          streamStatePartitions(ss, dir).toString)
        val src = eventsStream(ss, dir)
        val evs = src.filter(col("ts").isNotNull)
          .select(col("user_id"), col("ts"), col("event_id"), col("value"))
          .as[Sessionize.Ev]
        val q = Sessionize.streaming(evs, gapMinutes = 30).writeStream
          .outputMode("append")
          .option("checkpointLocation", tmp.resolve("ckpt").toString)
          .trigger(Trigger.AvailableNow())
          // per-batch overwrite dirs make a replayed micro-batch (written
          // sink, unfinished commit log) IDEMPOTENT — a plain append sink
          // is only at-least-once and would double-count retried partials
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[Sessionize.SessionOut], batchId: Long) =>
            batch.write.mode("overwrite").parquet(s"$outDir/b$batchId"); ()
          }
          .start()
        q.awaitTermination()
        // a session spanning micro-batches emits one partial per batch under a
        // stable (user_id, session_idx); the re-aggregation is the downstream
        // contract documented on Sessionize.streaming
        s.read.option("recursiveFileLookup", "true").parquet(outDir)
          .groupBy("user_id", "session_idx")
          .agg(min("start_ts").as("start_ts"), max("end_ts").as("end_ts"),
            sum("n_events").cast(LongType).as("n_events"),
            r3(sum("sum_value")).as("sum_value"))
          .select(col("user_id"), col("session_idx").cast(LongType).as("session_idx"),
            col("start_ts"), col("end_ts"), col("n_events"), col("sum_value"))
          .orderBy("user_id", "session_idx")
          // eager materialization (session-count-sized) so the sink + state
          // checkpoint dirs can be deleted NOW — repeated gate invocations
          // must not accumulate temp dirs for the host to clean up
          .localCheckpoint()
      } finally rmTree(tmp)
    },
    Some("""WITH p AS (
      |  SELECT user_id, ts, event_id, value,
      |   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM events WHERE ts IS NOT NULL),
      |f AS (SELECT *, CASE WHEN prev IS NULL
      |   OR epoch_us(ts) - epoch_us(prev) > 1800000000 THEN 1 ELSE 0 END AS nw FROM p),
      |s AS (SELECT *, sum(nw) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |   ROWS UNBOUNDED PRECEDING) AS sidx FROM f)
      |SELECT user_id, CAST(sidx AS BIGINT) AS session_idx,
      | min(ts) AS start_ts, max(ts) AS end_ts,
      | count(*) AS n_events, round(sum(value),3) AS sum_value
      |FROM s GROUP BY 1,2 ORDER BY 1,2""".stripMargin))

  // =====================================================================
  // Training-data ops: dedup / similarity / text / multimodal
  // =====================================================================

  private val dedupExact: Gate = Gate(
    (s, dir) => Dedup.exact(table(s, dir, "documents"), "doc_id", "text")
      .orderBy("text_hash"),
    Some("""SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin))

  private val docFingerprint: Gate = Gate(
    (s, dir) => Dedup.fingerprint(table(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id"),
    Some("""SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
      |FROM documents ORDER BY doc_id""".stripMargin))

  /** Incremental cross-corpus dedup under oracle verification: every 10th
    * document plays the previous corpus release, REFORMATTED (uppercased,
    * doubled internal spaces, padded) so only the shared fingerprint
    * normalization can match it back to its original — the "dedup the new
    * crawl against the last release" semantics, exercised through the
    * normalization path. Null-fingerprint reference rows and null-text
    * input rows are handled on both sides (null matches nothing).
    */
  private val dedupAgainstGate: Gate = Gate(
    (s, dir) => {
      val docs = table(s, dir, "documents")
      val ref = docs.filter(col("doc_id") % 10 === 0)
        .select(concat(lit("  "),
          upper(regexp_replace(col("text"), " ", "  ")), lit(" ")).as("text"))
      Dedup.dedupAgainst(docs, "doc_id", "text", ref, "text")
        .select("doc_id").orderBy("doc_id")
    },
    Some("""WITH r AS (
      |  SELECT md5(regexp_replace(lower(trim(
      |    '  ' || upper(regexp_replace(text, ' ', '  ', 'g')) || ' ')),
      |    '\s+', ' ', 'g')) AS fp
      |  FROM documents WHERE doc_id % 10 = 0),
      |d AS (SELECT doc_id,
      |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
      |  FROM documents)
      |SELECT doc_id FROM d
      |WHERE fp IS NULL OR fp NOT IN (SELECT fp FROM r WHERE fp IS NOT NULL)
      |ORDER BY doc_id""".stripMargin))

  /** Corpus-level exact line dedup over a derived MULTI-line corpus
    * (`source \n text \n lang`): the synthetic documents are single-line, so
    * the gate manufactures corpus-wide duplicate lines from the repeating
    * source/lang values (20 sources, 5 langs at sf0.01 → ~480 docs lose both
    * framing lines, first-by-(id,pos) keeps them) while every unique body
    * line survives — removal, keep-first, and reassembly all exercised.
    */
  private val dedupLinesGate: Gate = Gate(
    (s, dir) => Dedup.dedupLines(
      table(s, dir, "documents").withColumn("text",
        concat_ws("\n", col("source"), col("text"), col("lang"))),
      "doc_id", "text")
      .select(col("doc_id"), col("text"))
      .orderBy("doc_id"),
    Some("""WITH docs2 AS (
      |  SELECT doc_id, source || chr(10) || text || chr(10) || lang AS text
      |  FROM documents),
      |t AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM docs2),
      |l AS (SELECT doc_id, u.pos AS pos, u.ln AS ln FROM (
      |  SELECT doc_id, unnest(list_transform(range(1, len(ls)+1),
      |    i -> {'pos': i-1, 'ln': ls[i]})) AS u FROM t)),
      |h AS (SELECT doc_id, pos, ln,
      |  ('0x' || substr(md5(ln),1,14))::BIGINT AS h FROM l),
      |f AS (SELECT h, min(struct_pack(d := doc_id, p := pos)) AS fr
      |  FROM h GROUP BY 1),
      |k AS (SELECT h.doc_id, h.pos, h.ln FROM h JOIN f USING(h)
      |  WHERE h.doc_id = fr.d AND h.pos = fr.p),
      |r AS (SELECT doc_id, string_agg(ln, chr(10) ORDER BY pos) AS newtext
      |  FROM k GROUP BY 1)
      |SELECT d.doc_id, coalesce(r.newtext, '') AS text
      |FROM docs2 d LEFT JOIN r USING(doc_id) ORDER BY doc_id""".stripMargin))

  /** ExactSubstr duplicated-span detection (Lee et al. 2022 semantics):
    * k=5 token grams; on this corpus the spans are the planted near-dup
    * docs' shared runs (full-width spans on later copies) plus incidental
    * repeated 5-grams — 36 spans at sf0.01. The oracle replays gram hashing,
    * global first-occurrence exemption, and the interval merge. The oracle's
    * first-occurrence key packs (doc_id, pos) into one BIGINT
    * (doc_id*2^20+pos, valid while pos < 2^20 — token positions here are
    * <1k) because DuckDB's min over a STRUCT is ~20x slower than a scalar
    * min at sf0.1; ordering is identical to the Spark side's generic
    * min(struct(id, pos)) for non-negative numeric ids.
    */
  /** Shared oracle fragment for the ExactSubstr gates: gram hashes → df≥2
    * survivors with global first-occurrence exemption → merged maximal
    * spans (`spans(doc_id, span_start, span_end, n_grams)`), k=5.
    */
  private lazy val dupSpanCtes: String =
    """w AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
      |  FROM documents WHERE length(trim(text)) > 0),
      |g AS (
      |  SELECT doc_id, u.pos AS pos, ('0x' || substr(md5(u.s),1,14))::BIGINT AS h
      |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(ws)-3),
      |          i -> {'pos': i-1, 's': array_to_string(ws[i:i+4], ' ')})) AS u
      |        FROM w WHERE len(ws) >= 5)),
      |f AS (
      |  SELECT h, count(*) AS df, min(doc_id * 1048576 + pos) AS fr
      |  FROM g GROUP BY 1),
      |d AS (
      |  SELECT g.doc_id, g.pos FROM g JOIN f USING(h)
      |  WHERE df >= 2 AND g.doc_id * 1048576 + g.pos <> fr),
      |m AS (
      |  SELECT doc_id, pos, max(pos + 5) OVER (PARTITION BY doc_id ORDER BY pos
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme FROM d),
      |s AS (
      |  SELECT doc_id, pos, sum(CASE WHEN pme IS NULL OR pos > pme THEN 1 ELSE 0 END)
      |    OVER (PARTITION BY doc_id ORDER BY pos) AS span FROM m),
      |spans AS (
      |  SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
      |    CAST(max(pos)+5 AS BIGINT) AS span_end, CAST(count(*) AS BIGINT) AS n_grams
      |  FROM s GROUP BY doc_id, span)""".stripMargin

  private val dupSpans: Gate = Gate(
    (s, dir) => Dedup.duplicateSpans(
        table(s, dir, "documents"), "doc_id", "text", k = 5)
      .orderBy("doc_id", "span_start"),
    Some(s"""WITH $dupSpanCtes
      |SELECT doc_id, span_start, span_end, n_grams
      |FROM spans ORDER BY doc_id, span_start""".stripMargin))

  /** [[dupSpans]] APPLIED — the `remove_dup_spans` stage's rebuild
    * semantics under oracle verification: marked token spans removed,
    * survivors re-joined with single spaces, span-free documents
    * byte-identical. The oracle filters each document's token array by
    * position against its span list (1-based lambda index → 0-based token
    * position).
    */
  private val dupSpansRemoved: Gate = Gate(
    (s, dir) => Dedup.removeDuplicateSpans(
        table(s, dir, "documents"), "doc_id", "text", k = 5)
      .select(col("doc_id"), col("text"))
      .orderBy("doc_id"),
    Some(s"""WITH $dupSpanCtes,
      |sp AS (SELECT doc_id, list(struct_pack(s := span_start, e := span_end)) AS sps
      |  FROM spans GROUP BY 1)
      |SELECT doc.doc_id,
      | CASE WHEN sp.doc_id IS NULL THEN doc.text
      |  -- coalesce: DuckDB's array_to_string([]) is NULL, Spark's
      |  -- array_join of an empty array is '' (fully-spanned documents)
      |  ELSE coalesce(array_to_string(list_filter(
      |    regexp_split_to_array(trim(doc.text), '\\s+'),
      |    (x, i) -> len(list_filter(sp.sps,
      |      r -> i-1 >= r.s AND i-1 < r.e)) = 0), ' '), '')
      | END AS text
      |FROM documents doc LEFT JOIN sp ON doc.doc_id = sp.doc_id
      |ORDER BY doc.doc_id""".stripMargin))

  /** Per-doc top-5 TF-IDF terms. Ranking is on the 4-dp-rounded score
    * (term tiebreak) — libm ln() implementations differ by 1 ulp on ~0.02%
    * of inputs, so ranking raw doubles would be engine-unstable.
    */
  private val tfIdf: Gate = Gate(
    (s, dir) => TextAnalysis.tfIdfTopTerms(
        table(s, dir, "documents"), "doc_id", "text", k = 5)
      .orderBy("doc_id", "rank"),
    Some("""WITH wt AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
      |  FROM documents WHERE length(trim(text)) > 0),
      |n AS (SELECT count(*) AS n FROM wt),
      |tok AS (SELECT doc_id, unnest(ws) AS term FROM wt),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1,2),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |s AS (SELECT doc_id, term, tf,
      |    round(tf * (ln((1.0 + n.n)/(df + 1.0)) + 1.0), 4) AS score
      |  FROM tf JOIN df USING(term) CROSS JOIN n),
      |r AS (SELECT doc_id, term, tf, score,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
      |  FROM s)
      |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, score, CAST(rank AS BIGINT) AS rank
      |FROM r WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin))

  private val textTokens: Gate = Gate(
    (s, dir) => table(s, dir, "documents").select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).cast(LongType).as("n_tokens"),
      TextAnalysis.subwordCount(col("text")).cast(LongType).as("n_subwords"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id,
      | CAST(CASE WHEN length(trim(text)) = 0 THEN 0
      |   ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens,
      | CAST(CASE WHEN length(trim(text)) = 0 THEN 0
      |   ELSE len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) END AS BIGINT) AS n_subwords
      |FROM documents ORDER BY doc_id""".stripMargin))

  /** BPE trainer statistics: the adjacent-symbol pair counts over the
    * corpus's full word-frequency dictionary — the statistic the first
    * merge maximizes — replayed independently by the oracle (word split,
    * char symbolization + `</w>`, frequency-weighted pair aggregation).
    * This is the SQL-verifiable core of the trainer; the merge LOOP and
    * encoding are iterated fixpoints no single SQL query expresses, so the
    * `bpe_tokens` gate below is rows-only and their semantics are locked by
    * BpeSpec (incremental-vs-naive trainer equivalence, the published
    * reference merge sequence, encode round-trip).
    */
  private val bpePairCounts: Gate = Gate(
    (s, dir) => Bpe.pairCounts(
        Bpe.wordFrequencies(table(s, dir, "documents"), "text", maxWords = 0))
      .select(col("left"), col("right"),
        col("pair_freq").cast(LongType).as("pair_freq"))
      .orderBy("left", "right"),
    Some("""WITH words AS (
      |  SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'),
      |    w -> w <> '')) AS w
      |  FROM documents WHERE text IS NOT NULL),
      |wf AS (SELECT w, count(*) AS f FROM words GROUP BY w),
      |sym AS (SELECT f, list_append(regexp_extract_all(w, '.'), '</w>') AS syms
      |  FROM wf),
      |p AS (SELECT syms[i] AS l, syms[i + 1] AS r, f
      |  FROM sym, unnest(generate_series(1, len(syms) - 1)) AS t(i))
      |SELECT l AS "left", r AS "right", CAST(sum(f) AS BIGINT) AS pair_freq
      |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  /** One UNROLLED training iteration of the BPE oracle below: count
    * adjacent symbol pairs over the dictionary state (frequency-weighted),
    * pick the argmax with the trainer's exact tie-break (max count, ties to
    * the lexicographically smallest (left, right)), and apply the merge to
    * every word. Dictionary state is a string of symbols wrapped in single
    * spaces with DOUBLE-space gaps (` a  b  c `): symbols never contain
    * whitespace, so ` l  r ` matches exactly the adjacent (l, r) symbol
    * pairs, and `replace`'s leftmost-first non-overlapping scan IS the BPE
    * merge rule for runs (` a  a  a ` + (a,a) → ` aa  a `). A stopped
    * state (no pairs left, or — the trainer's `minFrequency = 2` stop —
    * no pair with weighted count ≥ 2; the HAVING mirrors it) yields an
    * empty argmax and the LEFT JOIN leaves every word unchanged. Both
    * stops are fixed points: an unchanged state reproduces the same empty
    * argmax at every later step, exactly like the trainer's loop exit.
    */
  private def bpeOracleStep(i: Int): String =
    s"""p$i AS (SELECT syms[j] AS l, syms[j + 1] AS r, f
       |  FROM (SELECT f, string_split(trim(s), '  ') AS syms FROM w$i),
       |    unnest(generate_series(1, len(syms) - 1)) AS t(j)),
       |b$i AS (SELECT l, r FROM p$i GROUP BY l, r HAVING sum(f) >= 2
       |  ORDER BY sum(f) DESC, l, r LIMIT 1),
       |w${i + 1} AS MATERIALIZED (SELECT w, f,
       |  CASE WHEN b.l IS NULL THEN s
       |    ELSE replace(s, ' ' || b.l || '  ' || b.r || ' ',
       |      ' ' || b.l || b.r || ' ') END AS s
       |  FROM w$i LEFT JOIN b$i b ON true)""".stripMargin

  /** Full SQL replay of BPE training AND encoding (upgrades the last
    * rows-only gate, VERDICT r10 #7): the merge loop is not ONE relational
    * query, but with a FIXED merge budget it is a finite composition — 64
    * unrolled step CTEs (pair counts → argmax → merge application), each
    * `MATERIALIZED` so the chain evaluates once per step instead of
    * exponentially through the double-referenced states. Encoding falls
    * out of training for free: after N merges the dictionary state IS each
    * word's merges-in-rank-order encoding (training applies every merge
    * corpus-wide as it is learned — the classic BPE invariant), so each
    * document re-joins its word sequence against the final state. The
    * corpus vocabulary (31 distinct synthetic words at every SF, far under
    * the gate's 2^16 word cap) keeps the unrolled replay trivially sized —
    * the same exact-regime trick the sketch gates pin.
    */
  private lazy val bpeTokensOracle: String = {
    val numMerges = 64
    s"""WITH d0 AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'),
       |    x -> x <> '') AS ws FROM documents WHERE text IS NOT NULL),
       |toks AS (SELECT doc_id, ws[t.i] AS w, t.i AS ord
       |  FROM d0, unnest(generate_series(1, len(ws))) AS t(i)),
       |wf AS (SELECT w, count(*) AS f FROM toks GROUP BY 1),
       |w0 AS MATERIALIZED (SELECT w, f, ' ' || array_to_string(
       |    list_append(regexp_extract_all(w, '.'), '</w>'), '  ') || ' ' AS s
       |  FROM wf),
       |${(0 until numMerges).map(bpeOracleStep).mkString(",\n")},
       |enc AS (SELECT w, string_split(trim(s), '  ') AS syms FROM w$numMerges),
       |agg AS (SELECT t.doc_id, flatten(list(e.syms ORDER BY t.ord)) AS subs
       |  FROM toks t JOIN enc e USING (w) GROUP BY t.doc_id)
       |SELECT d.doc_id,
       |  CAST(coalesce(len(a.subs), 0) AS BIGINT) AS n_bpe_tokens,
       |  coalesce(array_to_string(a.subs[1:8], ' '), '') AS head_tokens
       |FROM documents d LEFT JOIN agg a USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** BPE end-to-end at gate scale: train on the corpus's own dictionary
    * (driver loop over ONE scan's word frequencies), then encode every
    * document with the codegen'd expression. The oracle replays the WHOLE
    * thing — trainer loop unrolled merge-by-merge, then encode-by-join —
    * see [[bpeTokensOracle]].
    */
  private val bpeTokens: Gate = Gate(
    (s, dir) => {
      val docs = table(s, dir, "documents")
      // minFrequency is pinned explicitly because the oracle's per-step
      // `HAVING sum(f) >= 2` hardcodes the same threshold — changing one
      // without the other desynchronizes trainer and replay
      val merges = Bpe.trainFromCorpus(docs, "text",
        numMerges = 64, maxWords = 1 << 16, minFrequency = 2L)
      docs.select(col("doc_id"), Bpe.encode(col("text"), merges).as("subs"))
        .select(col("doc_id"),
          // null text → null subs; match the oracle's LEFT JOIN contract
          // (0 tokens, empty head). Explicit isNull rather than
          // coalesce(size(...)): under spark.sql.legacy.sizeOfNull
          // size(null) is -1, which coalesce would pass through
          when(col("subs").isNull, lit(0L))
            .otherwise(size(col("subs")).cast(LongType))
            .as("n_bpe_tokens"),
          concat_ws(" ", slice(col("subs"), 1, 8)).as("head_tokens"))
        .orderBy("doc_id")
    },
    Some(bpeTokensOracle))

  /** Cross-release overlap audit via theta sketches, per language: two
    * pseudo-releases carved from the documents table (A = doc_id % 3 != 0,
    * B = doc_id % 2 == 0 — overlapping on doc_id % 6 ∈ {2, 4}), sketch
    * estimates vs the oracle's EXACT distinct/intersect counts. The sketch
    * is in exact mode at every test SF (lg 16 = 65k entries per group), so
    * estimate ≡ exact and the hash comparison is legitimate; above capacity
    * the same plan degrades to ~0.4% error with fixed-size shuffles —
    * OverlapSpec pins that regime separately.
    */
  private val corpusOverlap: Gate = Gate(
    (s, dir) => {
      val docs = table(s, dir, "documents")
      Overlap.overlapReport(
        docs.filter(col("doc_id") % 3 =!= 0),
        docs.filter(col("doc_id") % 2 === 0),
        "text", Seq("lang")).orderBy("lang")
    },
    Some("""WITH a AS (SELECT DISTINCT lang,
      |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
      |  FROM documents WHERE doc_id % 3 <> 0 AND text IS NOT NULL),
      |b AS (SELECT DISTINCT lang,
      |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
      |  FROM documents WHERE doc_id % 2 = 0 AND text IS NOT NULL),
      |langs AS (SELECT lang FROM a UNION SELECT lang FROM b),
      |na AS (SELECT lang, count(*) AS n FROM a GROUP BY lang),
      |nb AS (SELECT lang, count(*) AS n FROM b GROUP BY lang),
      |ni AS (SELECT lang, count(*) AS n
      |  FROM (SELECT lang, t FROM a INTERSECT SELECT lang, t FROM b)
      |  GROUP BY lang),
      |nu AS (SELECT lang, count(*) AS n
      |  FROM (SELECT lang, t FROM a UNION SELECT lang, t FROM b)
      |  GROUP BY lang)
      |SELECT l.lang,
      |  CAST(coalesce(na.n, 0) AS BIGINT) AS est_docs_a,
      |  CAST(coalesce(nb.n, 0) AS BIGINT) AS est_docs_b,
      |  CAST(coalesce(ni.n, 0) AS BIGINT) AS est_common,
      |  CAST(coalesce(nu.n, 0) AS BIGINT) AS est_union,
      |  CAST(coalesce(nb.n, 0) - coalesce(ni.n, 0) AS BIGINT) AS est_new_in_b,
      |  round(CASE WHEN coalesce(nu.n, 0) = 0 THEN 0.0
      |    ELSE coalesce(ni.n, 0) * 1.0 / nu.n END, 4) AS jaccard
      |FROM langs l LEFT JOIN na USING(lang) LEFT JOIN nb USING(lang)
      |  LEFT JOIN ni USING(lang) LEFT JOIN nu USING(lang)
      |ORDER BY l.lang""".stripMargin))

  /** Heavy-hitter corpus terms via the frequent-items sketch
    * (graft's Misra-Gries TypedImperativeAggregate): the whole corpus
    * aggregates into ONE fixed-size sketch (map-side merged — the state
    * stays 8k entries however many distinct tokens stream through), then
    * the ≥-threshold items unpack. Exact regime at every test SF (distinct
    * tokens ≪ map capacity, so estimates ARE true counts — the oracle is a
    * plain GROUP BY/HAVING); beyond capacity the no-false-negatives bound
    * takes over (FrequencySpec).
    */
  private val freqTerms: Gate = Gate(
    (s, dir) => {
      val sk = table(s, dir, "documents")
        .select(explode(GraftFunctions.tokens(col("text"))).as("token"))
        .agg(graft.plans.FrequencyExpressions.freqAgg(col("token")).as("sk"))
      sk.select(explode(graft.plans.FrequencyExpressions.freqItems(
          col("sk"), lit(100L))).as("f"))
        .select(col("f.item").as("token"), col("f.estimate").as("freq"))
        .where(col("freq") >= 100)
        .orderBy(col("freq").desc, col("token"))
    },
    Some("""SELECT token, CAST(count(*) AS BIGINT) AS freq
      |FROM (SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'),
      |  w -> w <> '')) AS token FROM documents WHERE text IS NOT NULL)
      |GROUP BY token HAVING count(*) >= 100
      |ORDER BY freq DESC, token""".stripMargin))

  /** Corpus statistics per (source, lang): totals plus a nearest-rank token
    * median computed by the order-statistics window (same rank arithmetic
    * as the MEDS quantile gate), which the oracle replays exactly.
    */
  private val corpusStatsGate: Gate = Gate(
    (s, dir) => TextAnalysis.corpusStats(
      table(s, dir, "documents"), "text", Seq("source", "lang"))
      .orderBy("source", "lang"),
    Some("""WITH b AS (SELECT source, lang, length(text) AS chars,
      |  CASE WHEN length(trim(text)) = 0 THEN 0
      |   ELSE len(list_filter(regexp_split_to_array(text, '\s+'), w -> w <> ''))
      |   END AS toks
      | FROM documents),
      |r AS (SELECT *,
      |  row_number() OVER (PARTITION BY source, lang ORDER BY toks) AS rn,
      |  count(*) OVER (PARTITION BY source, lang) AS n FROM b)
      |SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
      | CAST(sum(chars) AS BIGINT) AS total_chars,
      | CAST(sum(toks) AS BIGINT) AS total_tokens,
      | round(avg(toks), 4) AS mean_tokens,
      | CAST(min(toks) AS BIGINT) AS min_tokens,
      | CAST(max(toks) AS BIGINT) AS max_tokens,
      | CAST(max(CASE WHEN rn = floor(0.5 * (n - 1) + 0.5) + 1 THEN toks END)
      |   AS BIGINT) AS median_tokens
      |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  /** C4 page cleanup over a multi-line corpus derived in-gate (the base
    * documents are single-line): six constructed lines exercise every rule —
    * terminal-punctuation retention, the min-word line floor, the
    * javascript line drop, the lorem-ipsum page drop (%7), the curly-brace
    * page drop (%11), and the min-lines page floor (%5==3 swaps a kept line
    * for an unpunctuated one). Survivorship and surviving text are pure
    * doc_id arithmetic, which the oracle replays: substr stays word-safe
    * because text is always >= 44 chars of <= 8-char tokens, so 40 chars
    * carry >= 5 words.
    */
  private val c4Filter: Gate = Gate(
    (s, dir) => {
      val d = table(s, dir, "documents").withColumn("text", concat_ws("\n",
        concat(substring(col("text"), 1, 40), lit(".")),
        lit("short line."),
        concat(col("source"), lit(" uses javascript on every page today.")),
        when(col("doc_id") % 7 === 0, lit("lorem ipsum dolor sit amet."))
          .when(col("doc_id") % 5 === 3, lit("no terminal punctuation here at all"))
          .otherwise(concat(col("lang"), lit(" words fill this line nicely fine."))),
        when(col("doc_id") % 11 === 0, lit("a code { block } appears."))
          .otherwise(lit("normal ending line with words here.")),
        substring(col("text"), 1, 60)))
      TextAnalysis.c4Filters(d, "doc_id", "text")
        .select(col("doc_id"), col("text")).orderBy("doc_id")
    },
    Some("""SELECT doc_id,
      | substr(text, 1, 40) || '.' || chr(10) ||
      |  lang || ' words fill this line nicely fine.' || chr(10) ||
      |  'normal ending line with words here.' AS text
      |FROM documents
      |WHERE doc_id % 7 != 0 AND doc_id % 11 != 0 AND doc_id % 5 != 3
      |ORDER BY doc_id""".stripMargin))

  /** JSONL source round-trip: the corpus is written as JSONL and read back
    * through the explicit-schema source path; the oracle states the
    * round-trip contract directly — the original rows, values intact
    * (multi-line text survives via JSON string escaping).
    */
  private val jsonlRoundtrip: Gate = Gate(
    (s, dir) => {
      val tmp = stagingDir("graft_jsonl_rt_", dir)
      graft.sources.CorpusSources.writeJsonl(
        table(s, dir, "documents").select("doc_id", "text", "lang", "source"), tmp)
      graft.sources.CorpusSources.readJsonl(s, tmp,
        Some("doc_id BIGINT, text STRING, lang STRING, source STRING"))
        .select("doc_id", "text", "lang", "source").orderBy("doc_id")
    },
    Some("SELECT doc_id, text, lang, source FROM documents ORDER BY doc_id"))

  /** CSV source round-trip (the load_csv stage's read path): corpus written
    * as headered CSV, read back through the explicit-DDL source — original
    * rows intact. `emptyValue` is set to a quoted empty field on write so
    * a "" text round-trips as "" (Spark's CSV default reads an unquoted
    * empty field as null).
    */
  private val csvRoundtrip: Gate = Gate(
    (s, dir) => {
      val tmp = stagingDir("graft_csv_rt_", dir)
      graft.sources.CorpusSources.writeCsv(
        table(s, dir, "documents").select("doc_id", "text", "lang", "source"), tmp)
      graft.sources.CorpusSources.readCsv(s, tmp,
        Some("doc_id BIGINT, text STRING, lang STRING, source STRING"))
        .select("doc_id", "text", "lang", "source").orderBy("doc_id")
    },
    Some("SELECT doc_id, text, lang, source FROM documents ORDER BY doc_id"))

  /** ORC source round-trip: the corpus (including the embeddings table's
    * float-array column — exercising complex-type fidelity) written as ORC
    * and read back; oracle states the round-trip contract on the original
    * parquet. Schema rides the ORC footer — no DDL, no inference scan.
    */
  private val orcRoundtrip: Gate = Gate(
    (s, dir) => {
      val tmp = stagingDir("graft_orc_rt_", dir)
      graft.sources.CorpusSources.writeOrc(
        table(s, dir, "embeddings").select("vec_id", "label", "embedding"), tmp)
      graft.sources.CorpusSources.readOrc(s, tmp)
        .select(col("vec_id"), col("label"),
          round(element_at(col("embedding"), 1).cast(DoubleType), 4)
            .as("e0"),
          size(col("embedding")).cast(LongType).as("dim"))
        .orderBy("vec_id")
    },
    Some("""SELECT vec_id, label, round(CAST(embedding[1] AS DOUBLE), 4) AS e0,
      | CAST(len(embedding) AS BIGINT) AS dim
      |FROM embeddings ORDER BY vec_id""".stripMargin))

  /** The generic `join_table` enrichment stage under oracle verification:
    * documents LEFT-joined with the embeddings table (key rename
    * doc_id↔vec_id) through the YAML → registry → Pipeline path; the
    * output carries a right-side scalar and a derived array stat so both
    * matched and unmatched (null) rows are hash-checked.
    */
  private val joinTableStage: Gate = Gate(
    (s, dir) => {
      val stages = graft.config.PipelineConfig.fromYaml(
        s"""stages:
           |  - join_table:
           |      path: $dir/embeddings.parquet
           |      keys: [doc_id]
           |      right_keys: [vec_id]
           |      how: left
           |""".stripMargin).stages
      val out = graft.operators.Pipeline.run(s,
        graft.meds.MedsData(table(s, dir, "documents"),
          s.emptyDataFrame, s.emptyDataFrame), stages).data
      out.select(col("doc_id"),
        size(col("embedding")).cast(LongType).as("n_dims"),
        col("label").cast(LongType).as("label"))
        .orderBy("doc_id")
    },
    Some("""SELECT d.doc_id, CAST(len(e.embedding) AS BIGINT) AS n_dims,
      | CAST(e.label AS BIGINT) AS label
      |FROM documents d LEFT JOIN embeddings e ON d.doc_id = e.vec_id
      |ORDER BY d.doc_id""".stripMargin))

  /** Unigram entropy: the engine folds sorted-run lengths in one pass over
    * the row's token array; the oracle recomputes H = log2(n) − Σc·log2(c)/n
    * from exploded per-token counts — same tokenization as text_tokens.
    */
  private val textEntropy: Gate = Gate(
    (s, dir) => table(s, dir, "documents").select(col("doc_id"),
      r4(TextAnalysis.unigramEntropy(col("text"))).as("unigram_entropy"))
      .orderBy("doc_id"),
    Some("""WITH t AS (SELECT doc_id,
      |  unnest(list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '')) AS w
      | FROM documents),
      |c AS (SELECT doc_id, w, count(*) AS c FROM t GROUP BY 1, 2),
      |e AS (SELECT doc_id, sum(c) AS n, sum(c * log2(c)) AS s FROM c GROUP BY 1)
      |SELECT d.doc_id,
      | round(coalesce(log2(e.n) - e.s / e.n, 0.0), 4) AS unigram_entropy
      |FROM documents d LEFT JOIN e USING (doc_id) ORDER BY doc_id""".stripMargin))

  /** Bigram-LM perplexity (CCNet-style), trained on the even-doc_id half of
    * the corpus and scored over ALL docs — the split makes the score set
    * exercise unseen bigrams AND unseen contexts (OOV smoothing), which a
    * self-trained LM never hits. Scaled-integer log sums keep the scores
    * engine-exact; avg_nll stays the raw (bit-identical) integer quotient
    * and only ppl rounds, to absorb the 1-ulp libm exp() spread.
    */
  private val lmPerplexity: Gate = Gate(
    (s, dir) => {
      val docs = table(s, dir, "documents")
      val lm = graft.ops.LanguageModel.bigramCounts(
        docs.filter(col("doc_id") % 2 === 0), "text")
      graft.ops.LanguageModel.perplexity(docs, "doc_id", "text", lm)
        .orderBy("doc_id")
    },
    Some("""WITH w AS (SELECT doc_id,
      |  list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS ws
      | FROM documents),
      |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)),
      |  i -> {'w1': ws[i], 'w2': ws[i+1]})) AS b
      | FROM w WHERE len(ws) >= 2),
      |gr AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2, count(*) AS k
      | FROM bg GROUP BY 1,2,3),
      |lm AS (SELECT b.w1 AS w1, b.w2 AS w2, count(*) AS cnt FROM bg
      | WHERE doc_id % 2 = 0 GROUP BY 1,2),
      |ctx AS (SELECT w1, sum(cnt) AS ctx FROM lm GROUP BY 1),
      |v AS (SELECT count(DISTINCT wd) AS v FROM (
      | SELECT w1 AS wd FROM lm UNION ALL SELECT w2 FROM lm)),
      |sc AS (SELECT gr.doc_id, sum(gr.k) AS n_bigrams,
      |  coalesce(sum(CASE WHEN lm.cnt IS NULL THEN gr.k END), 0) AS oov_bigrams,
      |  sum(gr.k * CAST(round((ln(coalesce(lm.cnt,0)+1.0)
      |    - ln(coalesce(ctx.ctx,0)+v.v)) * 1000000) AS BIGINT)) AS s_e6
      | FROM gr LEFT JOIN lm USING (w1, w2) LEFT JOIN ctx USING (w1)
      | CROSS JOIN v GROUP BY 1)
      |SELECT d.doc_id,
      | CAST(coalesce(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
      | CAST(coalesce(sc.oov_bigrams, 0) AS BIGINT) AS oov_bigrams,
      | -sc.s_e6 / (sc.n_bigrams * 1000000.0) AS avg_nll,
      | round(exp(-sc.s_e6 / (sc.n_bigrams * 1000000.0)), 2) AS ppl
      |FROM documents d LEFT JOIN sc USING (doc_id)
      |ORDER BY doc_id""".stripMargin))

  /** CCNet head/middle/tail: self-trained perplexity, bucketed into
    * per-language equal-population thirds via the exact histogram-rank
    * thresholds — the full chain (LM → score → threshold → bucket) replayed
    * in SQL, so a drift in threshold convention or boundary tie-break
    * breaks the hash.
    */
  private val pplBuckets: Gate = Gate(
    (s, dir) => {
      val docs = table(s, dir, "documents")
      val scored = docs.select(col("doc_id"), col("lang"))
        .join(graft.ops.LanguageModel.selfPerplexity(docs, "doc_id", "text")
          .select(col("doc_id"), col("ppl")), Seq("doc_id"))
      graft.ops.LanguageModel.perplexityBuckets(scored, "ppl", Seq("lang"))
        .orderBy("doc_id")
    },
    Some("""WITH w AS (SELECT doc_id,
      |  list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS ws
      | FROM documents),
      |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)),
      |  i -> {'w1': ws[i], 'w2': ws[i+1]})) AS b
      | FROM w WHERE len(ws) >= 2),
      |gr AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2, count(*) AS k
      | FROM bg GROUP BY 1,2,3),
      |lm AS (SELECT w1, w2, sum(k) AS cnt FROM gr GROUP BY 1,2),
      |ctx AS (SELECT w1, sum(cnt) AS ctx FROM lm GROUP BY 1),
      |v AS (SELECT count(DISTINCT wd) AS v FROM (
      | SELECT w1 AS wd FROM lm UNION ALL SELECT w2 FROM lm)),
      |sc AS (SELECT gr.doc_id, sum(gr.k) AS n_bigrams,
      |  sum(gr.k * CAST(round((ln(coalesce(lm.cnt,0)+1.0)
      |    - ln(coalesce(ctx.ctx,0)+v.v)) * 1000000) AS BIGINT)) AS s_e6
      | FROM gr LEFT JOIN lm USING (w1, w2) LEFT JOIN ctx USING (w1)
      | CROSS JOIN v GROUP BY 1),
      |scored AS (SELECT d.doc_id, d.lang,
      |  round(exp(-sc.s_e6 / (sc.n_bigrams * 1000000.0)), 2) AS ppl
      | FROM documents d LEFT JOIN sc USING (doc_id)),
      |hist AS (SELECT lang, ppl, count(*) AS c FROM scored
      | WHERE ppl IS NOT NULL GROUP BY 1,2),
      |cum AS (SELECT lang, ppl,
      |  sum(c) OVER (PARTITION BY lang ORDER BY ppl) AS cum,
      |  sum(c) OVER (PARTITION BY lang) AS n FROM hist),
      |th AS (SELECT lang, min(CASE WHEN cum*3 >= n*1 THEN ppl END) AS t1,
      |  min(CASE WHEN cum*3 >= n*2 THEN ppl END) AS t2 FROM cum GROUP BY 1)
      |SELECT s.doc_id, s.lang, s.ppl,
      | CASE WHEN s.ppl IS NULL THEN NULL ELSE CAST(
      |  1 + CAST(s.ppl > th.t1 AS INTEGER) + CAST(s.ppl > th.t2 AS INTEGER)
      |  AS INTEGER) END AS ppl_bucket
      |FROM scored s LEFT JOIN th USING (lang) ORDER BY doc_id""".stripMargin))

  /** Naive Bayes classifier gate: train on the corpus with `lang` as the
    * label, emit the per-(doc, class) joint log-probability table plus the
    * argmax prediction — the full model replayed in SQL (counts + logs),
    * so any drift in smoothing, priors, vocabulary, or the exact-integer
    * argmax tiebreak breaks the hash.
    */
  private val nbClassifyGate: Gate = Gate(
    (s, dir) => {
      val docs = table(s, dir, "documents")
      val (tc, priors) = graft.ops.Classifier.trainNaiveBayes(docs, "text", "lang")
      graft.ops.Classifier.nbScores(docs, "doc_id", "text", tc, priors)
        .orderBy("doc_id", "label")
    },
    Some("""WITH w AS (SELECT doc_id, lang,
      |  list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS ws
      | FROM documents),
      |tok AS (SELECT doc_id, lang, unnest(ws) AS token FROM w),
      |tc AS (SELECT lang AS label, token, count(*) AS cnt FROM tok GROUP BY 1,2),
      |pri AS (SELECT lang AS label, count(*) AS n_docs FROM documents GROUP BY 1),
      |tot AS (SELECT label, sum(cnt) AS tot FROM tc GROUP BY 1),
      |v AS (SELECT count(DISTINCT token) AS v FROM tc),
      |n AS (SELECT sum(n_docs) AS n FROM pri),
      |cls AS (SELECT pri.label,
      |  CAST(round((ln(pri.n_docs) - ln(n.n)) * 1000000) AS BIGINT) AS prior_e6,
      |  CAST(round(ln(coalesce(tot.tot, 0) + v.v) * 1000000) AS BIGINT) AS lnt_e6
      | FROM pri LEFT JOIN tot USING (label) CROSS JOIN v CROSS JOIN n),
      |tcs AS (SELECT token, label,
      |  CAST(round(ln(cnt + 1.0) * 1000000) AS BIGINT) AS lnc_e6 FROM tc),
      |g AS (SELECT doc_id, token, count(*) AS k FROM tok GROUP BY 1,2),
      |sums AS (SELECT g.doc_id, t.label, sum(g.k * t.lnc_e6) AS sum_e6
      | FROM g JOIN tcs t USING (token) GROUP BY 1,2),
      |kt AS (SELECT doc_id, sum(k) AS kk FROM g GROUP BY 1),
      |sc0 AS (SELECT kt.doc_id, cls.label,
      |  cls.prior_e6 + coalesce(sums.sum_e6, 0) - kt.kk * cls.lnt_e6 AS s_e6
      | FROM kt CROSS JOIN cls
      | LEFT JOIN sums ON sums.doc_id = kt.doc_id AND sums.label = cls.label),
      |sc AS (SELECT d.doc_id, cls.label,
      |  coalesce(sc0.s_e6, cls.prior_e6) AS s_e6
      | FROM documents d CROSS JOIN cls
      | LEFT JOIN sc0 ON sc0.doc_id = d.doc_id AND sc0.label = cls.label),
      |best AS (SELECT doc_id, min(struct_pack(ns := -s_e6, l := label)) AS b
      | FROM sc GROUP BY 1)
      |SELECT sc.doc_id, sc.label, s_e6 / 1000000.0 AS score,
      | best.b.l AS pred
      |FROM sc JOIN best USING (doc_id)
      |ORDER BY doc_id, label""".stripMargin))

  /** NB train/test evaluation: model trained on the even-doc_id half,
    * confusion table from classifying the odd half against its true lang
    * labels — the accuracy loop, replayed end-to-end (train counts →
    * smoothed scores → exact-integer argmax → confusion counts) in SQL.
    */
  private val nbConfusionGate: Gate = Gate(
    (s, dir) => {
      val docs = table(s, dir, "documents")
      val (tc, priors) = graft.ops.Classifier.trainNaiveBayes(
        docs.filter(col("doc_id") % 2 === 0), "text", "lang")
      graft.ops.Classifier.nbConfusion(docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", "lang", tc, priors)
        .orderBy("label", "pred")
    },
    Some("""WITH w AS (SELECT doc_id, lang,
      |  list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS ws
      | FROM documents),
      |tok AS (SELECT doc_id, lang, unnest(ws) AS token FROM w),
      |tc AS (SELECT lang AS label, token, count(*) AS cnt FROM tok
      | WHERE doc_id % 2 = 0 GROUP BY 1,2),
      |pri AS (SELECT lang AS label, count(*) AS n_docs FROM documents
      | WHERE doc_id % 2 = 0 GROUP BY 1),
      |tot AS (SELECT label, sum(cnt) AS tot FROM tc GROUP BY 1),
      |v AS (SELECT count(DISTINCT token) AS v FROM tc),
      |n AS (SELECT sum(n_docs) AS n FROM pri),
      |cls AS (SELECT pri.label,
      |  CAST(round((ln(pri.n_docs) - ln(n.n)) * 1000000) AS BIGINT) AS prior_e6,
      |  CAST(round(ln(coalesce(tot.tot, 0) + v.v) * 1000000) AS BIGINT) AS lnt_e6
      | FROM pri LEFT JOIN tot USING (label) CROSS JOIN v CROSS JOIN n),
      |tcs AS (SELECT token, label,
      |  CAST(round(ln(cnt + 1.0) * 1000000) AS BIGINT) AS lnc_e6 FROM tc),
      |g AS (SELECT doc_id, token, count(*) AS k FROM tok
      | WHERE doc_id % 2 = 1 GROUP BY 1,2),
      |sums AS (SELECT g.doc_id, t.label, sum(g.k * t.lnc_e6) AS sum_e6
      | FROM g JOIN tcs t USING (token) GROUP BY 1,2),
      |kt AS (SELECT doc_id, sum(k) AS kk FROM g GROUP BY 1),
      |sc0 AS (SELECT kt.doc_id, cls.label,
      |  cls.prior_e6 + coalesce(sums.sum_e6, 0) - kt.kk * cls.lnt_e6 AS s_e6
      | FROM kt CROSS JOIN cls
      | LEFT JOIN sums ON sums.doc_id = kt.doc_id AND sums.label = cls.label),
      |best AS (SELECT doc_id,
      |  (min(struct_pack(ns := -s_e6, l := label))).l AS pred
      | FROM sc0 GROUP BY 1),
      |pa AS (SELECT (min(struct_pack(ns := -prior_e6, l := label))).l AS p
      | FROM cls)
      |SELECT d.lang AS label, coalesce(best.pred, pa.p) AS pred,
      | CAST(count(*) AS BIGINT) AS n
      |FROM documents d LEFT JOIN best USING (doc_id) CROSS JOIN pa
      |WHERE d.doc_id % 2 = 1
      |GROUP BY 1, 2
      |ORDER BY label, pred""".stripMargin))

  /** Per-source unigram JS divergence to the whole corpus — the mix-shift
    * monitor. The closed-form out-of-support correction (1 − Q(supp P))
    * and the exact scaled-integer term sums are both replayed in SQL.
    */
  private val jsDivergenceGate: Gate = Gate(
    (s, dir) => graft.ops.Divergence.jsDivergence(
      table(s, dir, "documents"), "source", "text")
      .orderBy("source"),
    Some("""WITH gw AS (SELECT source AS g,
      |  unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS w
      | FROM documents WHERE source IS NOT NULL),
      |c AS (SELECT g, w, count(*) AS c FROM gw GROUP BY 1,2),
      |tg AS (SELECT g, sum(c) AS tg FROM c GROUP BY 1),
      |cw AS (SELECT w, sum(c) AS cw FROM c GROUP BY 1),
      |t AS (SELECT sum(cw) AS t FROM cw),
      |j AS (SELECT c.g, max(tg.tg) AS n_tokens, count(*) AS n_terms,
      |  sum(CAST(round((CAST(c.c AS DOUBLE)/tg.tg)
      |    * log2(2.0*(CAST(c.c AS DOUBLE)/tg.tg)
      |      / ((CAST(c.c AS DOUBLE)/tg.tg)+(CAST(cw.cw AS DOUBLE)/t.t)))
      |    * 1000000000) AS BIGINT)) AS sp,
      |  sum(CAST(round((CAST(cw.cw AS DOUBLE)/t.t)
      |    * log2(2.0*(CAST(cw.cw AS DOUBLE)/t.t)
      |      / ((CAST(c.c AS DOUBLE)/tg.tg)+(CAST(cw.cw AS DOUBLE)/t.t)))
      |    * 1000000000) AS BIGINT)) AS sq,
      |  sum(CAST(round((CAST(cw.cw AS DOUBLE)/t.t) * 1000000000) AS BIGINT)) AS qcov
      | FROM c JOIN cw USING (w) JOIN tg USING (g) CROSS JOIN t
      | GROUP BY 1)
      |SELECT g AS source, CAST(n_tokens AS BIGINT) AS n_tokens,
      | CAST(n_terms AS BIGINT) AS n_terms,
      | (sp + sq + 1000000000 - qcov) / 2e9 AS js_bits
      |FROM j ORDER BY source""".stripMargin))

  private val textQuality: Gate = Gate(
    (s, dir) => TextAnalysis.qualitySignals(table(s, dir, "documents"), "doc_id", "text")
      .select(col("doc_id"), col("n_chars").cast(LongType).as("n_chars"),
        col("n_words").cast(LongType).as("n_words"),
        r4(col("mean_word_len")).as("mean_word_len"),
        r4(col("punct_ratio")).as("punct_ratio"),
        r4(col("alpha_ratio")).as("alpha_ratio"),
        r4(col("digit_ratio")).as("digit_ratio"),
        r4(col("stopword_ratio")).as("stopword_ratio"),
        r4(col("repetition_ratio")).as("repetition_ratio"))
      .orderBy("doc_id"),
    Some(s"""WITH t AS (
      |  SELECT doc_id, text, length(text) AS n_chars,
      |   CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
      |     ELSE regexp_split_to_array(trim(text), '\\s+') END AS words
      |  FROM documents)
      |SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
      | CAST(len(words) AS BIGINT) AS n_words,
      | round(CASE WHEN len(words) > 0
      |   THEN CAST(list_sum(list_transform(words, w -> length(w))) AS DOUBLE)/len(words) END, 4) AS mean_word_len,
      | round(CAST(len(regexp_extract_all(text, '[[:punct:]]')) AS DOUBLE)/greatest(n_chars,1), 4) AS punct_ratio,
      | round(CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE)/greatest(n_chars,1), 4) AS alpha_ratio,
      | round(CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)/greatest(n_chars,1), 4) AS digit_ratio,
      | round(CASE WHEN len(words) > 0
      |   THEN CAST(len(list_filter(words, w -> list_contains(${sqlStopwords}, lower(w)))) AS DOUBLE)/len(words)
      |   ELSE 0.0 END, 4) AS stopword_ratio,
      | round(CASE WHEN len(words) > 0
      |   THEN 1.0 - CAST(len(list_distinct(words)) AS DOUBLE)/len(words)
      |   ELSE 0.0 END, 4) AS repetition_ratio
      |FROM t ORDER BY doc_id""".stripMargin))

  private def sqlStopwords: String =
    TextAnalysis.DefaultStopwords.map(w => s"'$w'").mkString("[", ",", "]")

  /** The corpus text is single-line, so the gate FABRICATES line structure
    * deterministically (every word becomes a line via translate) and runs
    * the real operator over it; with word-lines, the oracle's line signals
    * reduce to word-list expressions. The n-gram signal is line-independent.
    * Multi-line/ellipsis/bullet richness is spec-covered (TextAnalysisSpec).
    */
  private val textRepetition: Gate = Gate(
    (s, dir) => TextAnalysis.repetitionSignals(
      table(s, dir, "documents").withColumn("text", translate(col("text"), " ", "\n")),
      "doc_id", "text")
      .select(col("doc_id"),
        r4(col("dup_line_fraction")).as("dup_line_fraction"),
        r4(col("dup_line_char_fraction")).as("dup_line_char_fraction"),
        r4(col("dup_ngram_fraction")).as("dup_ngram_fraction"),
        r4(col("ellipsis_line_fraction")).as("ellipsis_line_fraction"),
        r4(col("bullet_line_fraction")).as("bullet_line_fraction"))
      .orderBy("doc_id"),
    Some("""WITH t AS (
      |  SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
      |    ELSE regexp_split_to_array(trim(text), '\s+') END AS ws
      |  FROM documents),
      |g AS (SELECT doc_id, ws,
      |  CASE WHEN len(ws) < 3 THEN []::VARCHAR[]
      |   ELSE list_transform(range(1, len(ws)-1), i -> array_to_string(ws[i:i+2], ' ')) END AS ng
      |  FROM t)
      |SELECT doc_id,
      | round(CASE WHEN len(ws) > 0
      |   THEN 1.0 - CAST(len(list_distinct(ws)) AS DOUBLE)/len(ws) ELSE 0.0 END, 4) AS dup_line_fraction,
      | round(CASE WHEN len(ws) > 0 AND list_sum(list_transform(ws, w -> length(w))) > 0
      |   THEN 1.0 - CAST(list_sum(list_transform(list_distinct(ws), w -> length(w))) AS DOUBLE)
      |     / list_sum(list_transform(ws, w -> length(w))) ELSE 0.0 END, 4) AS dup_line_char_fraction,
      | round(CASE WHEN len(ng) > 0
      |   THEN 1.0 - CAST(len(list_distinct(ng)) AS DOUBLE)/len(ng) ELSE 0.0 END, 4) AS dup_ngram_fraction,
      | round(CASE WHEN len(ws) > 0
      |   THEN CAST(len(list_filter(ws, w -> w LIKE '%...' OR w LIKE '%…')) AS DOUBLE)/len(ws)
      |   ELSE 0.0 END, 4) AS ellipsis_line_fraction,
      | round(CASE WHEN len(ws) > 0
      |   THEN CAST(len(list_filter(ws, w -> w LIKE '-%' OR w LIKE '*%' OR w LIKE '•%')) AS DOUBLE)/len(ws)
      |   ELSE 0.0 END, 4) AS bullet_line_fraction
      |FROM g ORDER BY doc_id""".stripMargin))

  private val langId: Gate = Gate(
    (s, dir) => TextAnalysis.languageId(table(s, dir, "documents"), "doc_id", "text")
      .select((col("doc_id") +:
        TextAnalysis.LangMarkers.map { case (l, _) => col(s"score_$l").cast(LongType).as(s"score_$l") } :+
        col("lang_pred")): _*)
      .orderBy("doc_id"),
    Some {
      val scoreExprs = TextAnalysis.LangMarkers.map { case (l, ms) =>
        val pat = ms.mkString("\\b(", "|", ")\\b")
        s"CAST(len(regexp_extract_all(lower(text), '$pat')) AS BIGINT) AS score_$l"
      }.mkString(",\n ")
      val langs = TextAnalysis.LangMarkers.map(_._1)
      val best = s"greatest(${langs.map(l => s"score_$l").mkString(",")})"
      val predCase = langs.map(l => s"WHEN $best > 0 AND score_$l = $best THEN '$l'")
        .mkString("CASE ", " ", " ELSE 'unknown' END")
      s"""WITH t AS (SELECT doc_id,
         | $scoreExprs
         |FROM documents)
         |SELECT doc_id, ${langs.map(l => s"score_$l").mkString(", ")},
         | $predCase AS lang_pred
         |FROM t ORDER BY doc_id""".stripMargin
    })

  /** The `quality_filter` pipeline STAGE under oracle verification: the
    * Gopher-style composite threshold filter run through the real
    * YAML → registry → Pipeline path. The oracle re-derives each configured
    * signal with the same formulas the (green) `text_quality` oracle uses and
    * applies the same inclusive keep-side bounds. Signal arithmetic is
    * identical IEEE double ops in both engines, so the unrounded comparisons
    * agree (threshold-clearance verified empirically at sf0.01 and sf0.1).
    */
  private val qualityFilterStage: Gate = Gate(
    (s, dir) => {
      val stages = graft.config.PipelineConfig.fromYaml(
        """stages:
          |  - quality_filter:
          |      min_words: 8
          |      min_alpha_ratio: 0.55
          |      max_digit_ratio: 0.3
          |      max_punct_ratio: 0.25
          |      max_repetition_ratio: 0.6
          |""".stripMargin).stages
      val out = graft.operators.Pipeline.run(s,
        graft.meds.MedsData(table(s, dir, "documents"),
          s.emptyDataFrame, s.emptyDataFrame), stages).data
      out.select(col("doc_id")).orderBy("doc_id")
    },
    Some(
      """WITH t AS (
        |  SELECT doc_id, text, length(text) AS n_chars,
        |   CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
        |     ELSE regexp_split_to_array(trim(text), '\s+') END AS words
        |  FROM documents)
        |SELECT doc_id FROM t
        |WHERE len(words) >= 8
        |  AND CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE)/greatest(n_chars,1) >= 0.55
        |  AND CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)/greatest(n_chars,1) <= 0.3
        |  AND CAST(len(regexp_extract_all(text, '[[:punct:]]')) AS DOUBLE)/greatest(n_chars,1) <= 0.25
        |  AND (CASE WHEN len(words) > 0
        |    THEN 1.0 - CAST(len(list_distinct(words)) AS DOUBLE)/len(words)
        |    ELSE 0.0 END) <= 0.6
        |ORDER BY doc_id""".stripMargin))

  // maxDf exercises the hot-shingle guard (the production configuration at
  // web scale — boilerplate shingles otherwise fan the join key out d²);
  // the oracle prunes the same shingles and recomputes set sizes identically
  private val ngramJaccard: Gate = Gate(
    (s, dir) => Dedup.ngramJaccardPairs(table(s, dir, "documents"), "doc_id", "text",
      n = 3, threshold = 0.4, maxDf = Some(20))
      .select(col("id_a"), col("id_b"), r4(col("jaccard")).as("jaccard"))
      .orderBy("id_a", "id_b"),
    Some(
      s"""WITH $shingleHashCtes,
         |hot AS (SELECT h FROM hashed GROUP BY h HAVING count(*) > 20),
         |shp AS (SELECT * FROM hashed WHERE h NOT IN (SELECT h FROM hot)),
         |sz AS (SELECT doc_id, count(*) AS n FROM shp GROUP BY 1),
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
         |  FROM shp a JOIN shp b USING(h) WHERE a.doc_id < b.doc_id GROUP BY 1,2)
         |SELECT id_a, id_b, round(CAST(shared AS DOUBLE)/(sa.n+sb.n-shared), 4) AS jaccard
         |FROM pairs JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
         |WHERE CAST(shared AS DOUBLE)/(sa.n+sb.n-shared) >= 0.4
         |ORDER BY 1,2""".stripMargin))

  /** Shared oracle fragment: tokenize → distinct word-3-gram shingles →
    * 56-bit portable hashes (`hashed(doc_id, h)`). ONE definition — five
    * oracles build on it, and a drift between copies would silently
    * desynchronize an oracle from the shared Spark operator. (lazy: used by
    * gate vals declared both before and after this point)
    */
  private lazy val shingleHashCtes: String =
    """w AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
      |  FROM documents WHERE length(trim(text)) > 0),
      |sh AS (SELECT DISTINCT doc_id, shingle FROM (
      |  SELECT doc_id, unnest(list_transform(range(1, len(ws)-1),
      |    i -> array_to_string(ws[i:i+2], ' '))) AS shingle FROM w)),
      |hashed AS (SELECT doc_id, ('0x' || substr(md5(shingle),1,14))::BIGINT AS h FROM sh)""".stripMargin

  /** Banding geometry shared by the Spark gate calls AND the oracle CTE
    * fragment — one set of constants, so the two sides cannot diverge.
    */
  private val MinhashBands = 8
  private val MinhashRowsPerBand = 4
  private val MinhashPerms = MinhashBands * MinhashRowsPerBand

  /** Shared oracle fragment: minhash signatures → bands (`sigs`, `banded`). */
  private lazy val minhashBandedCtes: String = {
    val params = GraftFunctions.hashParams(MinhashPerms)
    val permValues = params.zipWithIndex
      .map { case ((a, b), i) => s"($i,$a,$b)" }.mkString(", ")
    s"""perms(perm, a, b) AS (VALUES $permValues),
       |sigs AS (
       |  SELECT doc_id, perm, min((a*(h % 2147483647) + b) % 2147483647) AS minhash
       |  FROM hashed CROSS JOIN perms GROUP BY 1,2),
       |banded AS (
       |  SELECT doc_id, CAST(floor(perm/$MinhashRowsPerBand) AS INT) AS band,
       |   md5(string_agg(minhash::VARCHAR, ',' ORDER BY perm)) AS band_sig
       |  FROM sigs GROUP BY 1,2)""".stripMargin
  }

  /** Shared oracle fragment: minhash signatures → bands → candidate pairs
    * (`sigs`, `cand`) — used verbatim by minhash_lsh AND dedup_clusters.
    */
  private lazy val minhashCandCtes: String =
    s"""$minhashBandedCtes,
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM banded a JOIN banded b ON a.band=b.band AND a.band_sig=b.band_sig
       |  WHERE a.doc_id < b.doc_id)""".stripMargin

  /** Capped candidate generation: buckets over `cap` emit a consecutive
    * chain ordered by the full signature string (identical-signature docs
    * contiguous) tie-broken by id, normalized to id_a < id_b — mirrors
    * `Dedup.bandedCandidates`' hot-bucket guard exactly.
    */
  private def minhashCappedCandCtes(cap: Int): String =
    s"""$minhashBandedCtes,
       |fullsig AS (
       |  SELECT doc_id, string_agg(minhash::VARCHAR, ',' ORDER BY perm) AS sk
       |  FROM sigs GROUP BY 1),
       |hotb AS (
       |  SELECT band, band_sig FROM banded GROUP BY 1,2 HAVING count(*) > $cap),
       |coldb AS (
       |  SELECT banded.* FROM banded LEFT JOIN hotb
       |   ON banded.band=hotb.band AND banded.band_sig=hotb.band_sig
       |  WHERE hotb.band IS NULL),
       |coldp AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM coldb a JOIN coldb b ON a.band=b.band AND a.band_sig=b.band_sig
       |  WHERE a.doc_id < b.doc_id),
       |hotr AS (
       |  SELECT banded.band, banded.band_sig, banded.doc_id, fullsig.sk
       |  FROM banded JOIN hotb
       |   ON banded.band=hotb.band AND banded.band_sig=hotb.band_sig
       |  JOIN fullsig ON fullsig.doc_id = banded.doc_id),
       |chain0 AS (
       |  SELECT lag(doc_id) OVER (PARTITION BY band, band_sig ORDER BY sk, doc_id) AS pid,
       |   doc_id AS cid FROM hotr),
       |chain AS (
       |  SELECT least(pid, cid) AS id_a, greatest(pid, cid) AS id_b
       |  FROM chain0 WHERE pid IS NOT NULL),
       |cand AS (
       |  SELECT DISTINCT id_a, id_b FROM (
       |   SELECT id_a, id_b FROM coldp
       |   UNION ALL SELECT id_a, id_b FROM chain))""".stripMargin

  /** Shared oracle fragment: the per-bit weighted-majority simhash sum. */
  private def simhashBitTerms(numBits: Int): String =
    (0 until numBits).map(b =>
      s"(CASE WHEN sum(CASE WHEN ((h >> $b) & 1) = 1 THEN 1 ELSE -1 END) > 0 THEN (CAST(1 AS BIGINT) << $b) ELSE 0 END)")
      .mkString(" + ")

  private val minhashLsh: Gate = Gate(
    (s, dir) => Dedup.minhashLshPairs(table(s, dir, "documents"), "doc_id", "text",
      n = 3, bands = MinhashBands, rowsPerBand = MinhashRowsPerBand, threshold = 0.5)
      .orderBy("id_a", "id_b"),
    Some(
      s"""WITH $shingleHashCtes,
         |$minhashCandCtes,
         |est AS (
         |  SELECT cand.id_a, cand.id_b,
         |   avg(CASE WHEN sa.minhash = sb.minhash THEN 1.0 ELSE 0.0 END) AS est_jaccard
         |  FROM cand
         |  JOIN sigs sa ON sa.doc_id = cand.id_a
         |  JOIN sigs sb ON sb.doc_id = cand.id_b AND sb.perm = sa.perm
         |  GROUP BY 1,2)
         |SELECT id_a, id_b, est_jaccard FROM est WHERE est_jaccard >= 0.5
         |ORDER BY 1,2""".stripMargin))

  /** The hot-bucket chain guard (Dedup.bandedCandidates) under oracle
    * verification: cap=2 triggers on this table's natural size-3 band
    * buckets, so the oracle checks the GUARDED semantics — cold buckets
    * all-pairs, hot buckets chained — not just the easy path.
    */
  private val minhashLshCapped: Gate = Gate(
    (s, dir) => Dedup.minhashLshPairs(table(s, dir, "documents"), "doc_id", "text",
      n = 3, bands = MinhashBands, rowsPerBand = MinhashRowsPerBand, threshold = 0.5,
      maxBucket = Some(2))
      .orderBy("id_a", "id_b"),
    Some(
      s"""WITH $shingleHashCtes,
         |${minhashCappedCandCtes(2)},
         |est AS (
         |  SELECT cand.id_a, cand.id_b,
         |   avg(CASE WHEN sa.minhash = sb.minhash THEN 1.0 ELSE 0.0 END) AS est_jaccard
         |  FROM cand
         |  JOIN sigs sa ON sa.doc_id = cand.id_a
         |  JOIN sigs sb ON sb.doc_id = cand.id_b AND sb.perm = sa.perm
         |  GROUP BY 1,2)
         |SELECT id_a, id_b, est_jaccard FROM est WHERE est_jaccard >= 0.5
         |ORDER BY 1,2""".stripMargin))

  private val dedupClusters: Gate = Gate(
    (s, dir) => Dedup.resolveClusters(
      Dedup.minhashLshPairs(table(s, dir, "documents"), "doc_id", "text",
        n = 3, bands = MinhashBands, rowsPerBand = MinhashRowsPerBand, threshold = 0.5))
      .select(col("id").cast(LongType).as("id"),
        col("cluster_id").cast(LongType).as("cluster_id"))
      .orderBy("id"),
    // the same banded-MinHash pair pipeline (shared CTE fragments), then
    // connected components as a recursive transitive closure with
    // min-reachable-id labels — mirrors iterative min-label propagation
    // exactly on a converged graph
    Some(
      s"""WITH RECURSIVE $shingleHashCtes,
         |$minhashCandCtes,
         |pairs AS (
         |  SELECT cand.id_a, cand.id_b
         |  FROM cand
         |  JOIN sigs sa ON sa.doc_id = cand.id_a
         |  JOIN sigs sb ON sb.doc_id = cand.id_b AND sb.perm = sa.perm
         |  GROUP BY 1,2
         |  HAVING avg(CASE WHEN sa.minhash = sb.minhash THEN 1.0 ELSE 0.0 END) >= 0.5),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
         |SELECT CAST(src AS BIGINT) AS id, CAST(least(src, min(dst)) AS BIGINT) AS cluster_id
         |FROM reach GROUP BY src ORDER BY 1""".stripMargin))

  /** Score-based cluster representatives: the same near-dup clusters, each
    * keeping its LONGEST member (ties → min id) instead of the min id —
    * the "keep the best copy" selection; argmax convention replayed in SQL
    * on top of the recursive-closure cluster oracle.
    */
  private val clusterReps: Gate = Gate(
    (s, dir) => {
      val docs = table(s, dir, "documents")
      val clusters = Dedup.resolveClusters(
        Dedup.minhashLshPairs(docs, "doc_id", "text",
          n = 3, bands = MinhashBands, rowsPerBand = MinhashRowsPerBand, threshold = 0.5))
      val scored = clusters.join(
        docs.select(col("doc_id").as("id"), length(col("text")).as("__q")), Seq("id"))
      Dedup.clusterRepresentatives(scored, "id", "cluster_id", "__q")
        .select(col("cluster_id").cast(LongType).as("cluster_id"),
          col("keep_id").cast(LongType).as("keep_id"))
        .orderBy("cluster_id")
    },
    Some(
      s"""WITH RECURSIVE $shingleHashCtes,
         |$minhashCandCtes,
         |pairs AS (
         |  SELECT cand.id_a, cand.id_b
         |  FROM cand
         |  JOIN sigs sa ON sa.doc_id = cand.id_a
         |  JOIN sigs sb ON sb.doc_id = cand.id_b AND sb.perm = sa.perm
         |  GROUP BY 1,2
         |  HAVING avg(CASE WHEN sa.minhash = sb.minhash THEN 1.0 ELSE 0.0 END) >= 0.5),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |cl AS (SELECT src AS id, least(src, min(dst)) AS cluster_id
         |  FROM reach GROUP BY src),
         |sc AS (SELECT cl.id, cl.cluster_id, length(d.text) AS q
         |  FROM cl JOIN documents d ON d.doc_id = cl.id),
         |b AS (SELECT cluster_id, max(q) AS bq FROM sc GROUP BY 1)
         |SELECT CAST(sc.cluster_id AS BIGINT) AS cluster_id,
         | CAST(min(sc.id) AS BIGINT) AS keep_id
         |FROM sc JOIN b ON b.cluster_id = sc.cluster_id AND sc.q = b.bq
         |GROUP BY 1 ORDER BY 1""".stripMargin))

  /** The `minhash_lsh_dedup` pipeline STAGE under oracle verification — not
    * the pair table but the stage's corpus-filtering semantics: run through
    * the real config/registry/Pipeline path (YAML → stage builder →
    * Pipeline.run), keep the min-id representative per near-dup cluster,
    * null-text rows bypass. The oracle mirrors the full chain: banded
    * candidates → estimated-Jaccard threshold → transitive closure →
    * min-label clusters → drop non-representatives from the corpus.
    */
  private val minhashDedupStage: Gate = Gate(
    (s, dir) => {
      val stages = graft.config.PipelineConfig.fromYaml(
        "stages:\n  - minhash_lsh_dedup:\n      threshold: 0.5\n").stages
      val out = graft.operators.Pipeline.run(s,
        graft.meds.MedsData(table(s, dir, "documents"),
          s.emptyDataFrame, s.emptyDataFrame), stages).data
      out.select(col("doc_id"), col("text")).orderBy("doc_id")
    },
    Some(
      s"""WITH RECURSIVE $shingleHashCtes,
         |$minhashCandCtes,
         |pairs AS (
         |  SELECT cand.id_a, cand.id_b
         |  FROM cand
         |  JOIN sigs sa ON sa.doc_id = cand.id_a
         |  JOIN sigs sb ON sb.doc_id = cand.id_b AND sb.perm = sa.perm
         |  GROUP BY 1,2
         |  HAVING avg(CASE WHEN sa.minhash = sb.minhash THEN 1.0 ELSE 0.0 END) >= 0.5),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |dropped AS (
         |  SELECT src AS id FROM reach GROUP BY src
         |  HAVING least(src, min(dst)) != src)
         |SELECT doc_id, text FROM documents
         |WHERE doc_id NOT IN (SELECT id FROM dropped)
         |ORDER BY doc_id""".stripMargin))

  private val simhashValues: Gate = Gate(
    (s, dir) => Dedup.simhash(table(s, dir, "documents"), "doc_id", "text",
      n = 3, numBits = 32)
      .orderBy("doc_id"),
    Some(
      s"""WITH $shingleHashCtes
         |SELECT doc_id, ${simhashBitTerms(32)} AS simhash
         |FROM hashed GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  private val simhashPairs: Gate = Gate(
    (s, dir) => Dedup.simhashPairs(table(s, dir, "documents"), "doc_id", "text",
      n = 3, numBits = 32, bands = 4, maxHamming = 6)
      .select(col("id_a"), col("id_b"), col("hamming").cast(LongType).as("hamming"))
      .orderBy("id_a", "id_b"),
    Some(
      s"""WITH $shingleHashCtes,
         |sv AS (SELECT doc_id, ${simhashBitTerms(32)} AS simhash FROM hashed GROUP BY doc_id),
         |banded AS (SELECT doc_id, simhash, unnest(range(0, 4)) AS band FROM sv),
         |keyed AS (SELECT doc_id, simhash, band,
         |  (simhash >> CAST(band*8 AS INT)) & 255 AS key FROM banded),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |  a.simhash AS sa, b.simhash AS sb
         |  FROM keyed a JOIN keyed b ON a.band = b.band AND a.key = b.key
         |  WHERE a.doc_id < b.doc_id)
         |SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(sa, sb)) <= 6
         |ORDER BY 1,2""".stripMargin))

  private val embedDupPairs: Gate = Gate(
    // salt=8: the table has 10 label blocks — far fewer than the cores the
    // quadratic pair stage should occupy (embeddingPairs doc); the pair set
    // is salt-invariant so the oracle is unchanged
    (s, dir) => Dedup.embeddingPairs(
      table(s, dir, "embeddings").withColumn("embedding", col("embedding").cast("array<double>")),
      "vec_id", "embedding", col("label"), threshold = 0.3, salt = 1)
      .select(col("id_a"), col("id_b"), r4(col("cos")).as("cos"))
      .orderBy("id_a", "id_b"),
    Some("""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      | round(list_cosine_similarity(a.v, b.v), 4) AS cos
      |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
      |WHERE list_cosine_similarity(a.v, b.v) >= 0.3
      |ORDER BY 1,2""".stripMargin))

  /** SemDeDup over the precomputed `label` clusters (the deterministic
    * cluster_col path — the k-means path is engine-internal and covered by
    * OpsSpec): within-label cosine pairs at 0.3, connected components,
    * survivors = cluster-min ids. The oracle replays pairs + recursive
    * reachability exactly like the minhash dedup-stage gate.
    */
  private val semdedupGate: Gate = Gate(
    (s, dir) => Dedup.semDedup(
      table(s, dir, "embeddings").withColumn("embedding", col("embedding").cast("array<double>")),
      "vec_id", "embedding", threshold = 0.3, clusterCol = Some("label"))
      .select(col("vec_id"), col("label")).orderBy("vec_id"),
    Some("""WITH RECURSIVE e AS (
      |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      |pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
      | FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
      | WHERE list_cosine_similarity(a.v, b.v) >= 0.3),
      |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
      | UNION SELECT id_b, id_a FROM pairs),
      |reach(src, dst) AS (
      | SELECT src, dst FROM edges
      | UNION
      | SELECT r.src, g.dst FROM reach r JOIN edges g ON r.dst = g.src),
      |dropped AS (SELECT src AS id FROM reach GROUP BY src
      | HAVING least(src, min(dst)) != src)
      |SELECT vec_id, label FROM embeddings
      |WHERE vec_id NOT IN (SELECT id FROM dropped) ORDER BY vec_id""".stripMargin))

  private def queryVec(s: SparkSession, dir: String): Seq[Float] =
    table(s, dir, "embeddings").filter(col("vec_id") === 0)
      .select("embedding").collect()(0).getSeq[Float](0)

  private val simTopK: Gate = Gate(
    (s, dir) => Similarity.topK(
      table(s, dir, "embeddings").withColumn("embedding", col("embedding").cast("array<double>")),
      "vec_id", "embedding", queryVec(s, dir), k = 20)
      .select(col("vec_id"), r4(col("cos")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id")),
    Some("""WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
      |SELECT vec_id, round(list_cosine_similarity(embedding::DOUBLE[], qv), 4) AS cos
      |FROM embeddings, q
      |ORDER BY list_cosine_similarity(embedding::DOUBLE[], qv) DESC, vec_id
      |LIMIT 20""".stripMargin))

  private val simLshTopK: Gate = Gate(
    (s, dir) => Similarity.lshTopK(
      table(s, dir, "embeddings").withColumn("embedding", col("embedding").cast("array<double>")),
      "vec_id", "embedding", queryVec(s, dir), k = 10, dims = 0 until 8)
      .select(col("vec_id"), r4(col("cos")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id")),
    Some("""WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
      |b AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v,
      |   (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END) + (CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END) +
      |   (CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END) + (CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END) +
      |   (CASE WHEN embedding[5] >= 0 THEN 16 ELSE 0 END) + (CASE WHEN embedding[6] >= 0 THEN 32 ELSE 0 END) +
      |   (CASE WHEN embedding[7] >= 0 THEN 64 ELSE 0 END) + (CASE WHEN embedding[8] >= 0 THEN 128 ELSE 0 END)
      |   AS bucket
      |  FROM embeddings),
      |qb AS (SELECT bucket AS qbucket FROM b WHERE vec_id = 0)
      |SELECT b.vec_id, round(list_cosine_similarity(b.v, q.qv), 4) AS cos
      |FROM b, q, qb WHERE b.bucket = qb.qbucket
      |ORDER BY list_cosine_similarity(b.v, q.qv) DESC, b.vec_id
      |LIMIT 10""".stripMargin))

  private val simIvfTopK: Gate = Gate(
    (s, dir) => Similarity.ivfTopK(
      table(s, dir, "embeddings").withColumn("embedding", col("embedding").cast("array<double>")),
      "vec_id", "label", "embedding", queryVec(s, dir), k = 10, nProbe = 2)
      .select(col("vec_id"), r4(col("cos")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id")),
    // per-label centroids via parallel unnest (zipped in DuckDB), probe the
    // 2 closest cells, exact re-rank inside them — mirrors ivfTopK exactly
    Some("""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
      |ex AS (SELECT label, unnest(range(1, len(v)+1)) AS dim, unnest(v) AS val FROM e),
      |cm AS (SELECT label, dim, avg(val) AS mv FROM ex GROUP BY 1,2),
      |cent AS (SELECT label, list(mv ORDER BY dim) AS centroid FROM cm GROUP BY 1),
      |probe AS (SELECT label FROM cent, q
      |  ORDER BY list_cosine_similarity(centroid, qv) DESC, label LIMIT 2)
      |SELECT e.vec_id, round(list_cosine_similarity(e.v, q.qv), 4) AS cos
      |FROM e JOIN probe USING(label), q
      |ORDER BY list_cosine_similarity(e.v, q.qv) DESC, e.vec_id
      |LIMIT 10""".stripMargin))

  /** The persisted-IVF-index path under oracle verification: the index
    * (label cells + centroids) is BUILT once into parquet, and the query
    * runs entirely off the stored index — probe selection from stored
    * centroids, candidate ids from stored assignments — sharing
    * [[simIvfTopK]]'s oracle because the results must be identical to the
    * rebuild-per-query path. Build-once/query-many is the ANN deployment
    * shape at 100 TB; re-deriving cells per query is not.
    */
  private val simIvfIndexed: Gate = Gate(
    (s, dir) => {
      val tmp = stagingDir("graft_ivf_index_", dir)
      val embs = table(s, dir, "embeddings")
        .withColumn("embedding", col("embedding").cast("array<double>"))
      // idempotent build (the fixture-gate staging convention): the
      // deployment shape is build-once/probe-many, so the timed region of a
      // warmed bench run measures the PROBE — build cost is reported
      // separately (SMOKE.md "IVF build/probe split", BenchOne with the
      // index dir cleared); mtime marker → in-place regeneration rebuilds
      val iMarker = java.nio.file.Paths.get(tmp, ".staged")
      if (!markerFresh(iMarker, s"$dir/embeddings.parquet")) {
        Similarity.buildIvfIndex(embs, "vec_id", "label", "embedding", tmp)
        writeMarker(iMarker, s"$dir/embeddings.parquet")
      }
      Similarity.ivfTopKIndexed(embs, "vec_id", "embedding", tmp,
        queryVec(s, dir), k = 10, nProbe = 2)
        .select(col("vec_id"), r4(col("cos")).as("cos"))
        .orderBy(col("cos").desc, col("vec_id"))
    },
    simIvfTopK.oracle)

  // the hot-block guard is on (production configuration); no label block
  // exceeds the cap at tested scales, so results stay exact vs the oracle
  private val knnJoin: Gate = Gate(
    (s, dir) => Similarity.knnJoin(
      table(s, dir, "embeddings").withColumn("embedding", col("embedding").cast("array<double>")),
      table(s, dir, "embeddings").withColumn("embedding", col("embedding").cast("array<double>")),
      "vec_id", "embedding", "label", k = 3, maxBlockSize = Some(100000),
      salt = 1)
      .select(col("id_l"), col("id_r"), r4(col("cos")).as("cos"),
        col("rank").cast(LongType).as("rank"))
      .orderBy("id_l", "rank"),
    Some("""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
      |SELECT id_l, id_r, round(cos, 4) AS cos, rank FROM (
      | SELECT a.vec_id AS id_l, b.vec_id AS id_r,
      |  list_cosine_similarity(a.v, b.v) AS cos,
      |  CAST(row_number() OVER (PARTITION BY a.vec_id
      |    ORDER BY list_cosine_similarity(a.v, b.v) DESC, b.vec_id) AS BIGINT) AS rank
      | FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id)
      |WHERE rank <= 3 ORDER BY id_l, rank""".stripMargin))

  // ---- Product quantization (graft.ops.Pq) -------------------------------
  // Training is FIXED-POINT (e6 integers end-to-end), so the oracle replays
  // every Lloyd round bit-for-bit as unrolled CTEs — the BPE-oracle pattern.
  // m=8 subspaces × dsub=8 dims, ksub=8 codes, 3 iterations, hash-seed 42.
  private val PqM = 8
  private val PqDsub = 8
  private val PqKsub = 8
  private val PqIters = 3

  private def trainPq(s: SparkSession, dir: String): Pq.PqModel =
    Pq.train(table(s, dir, "embeddings"), "vec_id", "embedding",
      dim = PqM * PqDsub, m = PqM, ksub = PqKsub, iters = PqIters, seed = 42L)

  /** The unrolled-CTE replay of [[Pq.train]] + encode: `e` (e6 vectors),
    * `ranked` (the md5-hash init order), `cb0` (seed codebooks), then per
    * iteration assignment (integer argmin, index tie-break) and the rounded
    * integer-mean update with the empty-code carry-over, ending at `aF`
    * (the final assignment = the encoding) against `cb<iters>`.
    */
  private def pqOracleCtes: String =
    s"""e AS (SELECT vec_id, list_transform(embedding::DOUBLE[],
      | v -> CAST(round(v*1000000) AS BIGINT)) AS xe FROM embeddings),""".stripMargin +
      pqLloydCtes("")

  /** The Lloyd-replay fragment alone, every CTE name prefixed with `pfx` so
    * the OPQ oracle can run TWO bit-exact replays (one per alternation) in a
    * single statement. Reads e6 vectors from `<pfx>e (vec_id, xe)`; final
    * assignment lands in `<pfx>aF`, final codebook in `<pfx>cb$PqIters`.
    */
  private def pqLloydCtes(pfx: String): String = {
    val sb = new StringBuilder
    sb ++= s"""
      |${pfx}ranked AS (SELECT vec_id, xe, row_number() OVER (ORDER BY
      |  ('0x' || substr(md5(vec_id::VARCHAR || ':42'),1,14))::BIGINT
      |    % 1000000000, vec_id) - 1 AS rk FROM ${pfx}e),
      |${pfx}cb0 AS (SELECT tj.j, r.rk AS c, td.d, r.xe[tj.j*$PqDsub + td.d + 1] AS v
      | FROM ${pfx}ranked r CROSS JOIN range(0,$PqM) tj(j)
      | CROSS JOIN range(0,$PqDsub) td(d) WHERE r.rk < $PqKsub),""".stripMargin
    def assign(tag: String, cb: String): String =
      s"""${pfx}d$tag AS (SELECT e.vec_id, cb.j, cb.c,
        | sum((e.xe[cb.j*$PqDsub + cb.d + 1] - cb.v)
        |   * (e.xe[cb.j*$PqDsub + cb.d + 1] - cb.v)) AS dist
        | FROM ${pfx}e e CROSS JOIN $cb cb GROUP BY 1,2,3),
        |${pfx}a$tag AS (SELECT vec_id, j, (min(struct_pack(ds := dist, c := c))).c AS code
        | FROM ${pfx}d$tag GROUP BY 1,2),""".stripMargin
    (0 until PqIters).foreach { i =>
      sb ++= "\n" + assign(i.toString, s"${pfx}cb$i")
      sb ++= s"""
        |${pfx}s$i AS (SELECT a.j, a.code AS c, td.d,
        |  sum(e.xe[a.j*$PqDsub + td.d + 1]) AS sv, count(*) AS n
        | FROM ${pfx}a$i a JOIN ${pfx}e e ON e.vec_id = a.vec_id
        | CROSS JOIN range(0,$PqDsub) td(d) GROUP BY 1,2,3),
        |${pfx}cb${i + 1} AS (SELECT cb.j, cb.c, cb.d,
        |  coalesce(CAST(round(CAST(s.sv AS DOUBLE)/s.n) AS BIGINT), cb.v) AS v
        | FROM ${pfx}cb$i cb LEFT JOIN ${pfx}s$i s
        |   ON s.j = cb.j AND s.c = cb.c AND s.d = cb.d),""".stripMargin
    }
    sb ++= "\n" + assign("F", s"${pfx}cb$PqIters").stripSuffix(",")
    sb.toString
  }

  /** PQ codes of every vector — codebook training + encode under full
    * oracle replay, unnested to (vec_id, subspace, code) rows.
    */
  private val pqCodes: Gate = Gate(
    (s, dir) => Pq.encode(table(s, dir, "embeddings"), "embedding", trainPq(s, dir))
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("j", "code")))
      .select(col("vec_id"), col("j").cast(LongType).as("j"),
        col("code").cast(LongType).as("code"))
      .orderBy("vec_id", "j"),
    Some(s"""WITH $pqOracleCtes
      |SELECT vec_id, j, code FROM aF ORDER BY vec_id, j""".stripMargin))

  /** ADC top-k: per-subspace query→centroid distance tables (integer,
    * computed once), score = m table lookups per row. The oracle builds the
    * same tables (`t`) and joins them onto the final assignment.
    */
  private val pqTopK: Gate = Gate(
    (s, dir) => {
      val model = trainPq(s, dir)
      val embs = table(s, dir, "embeddings")
      val qxe = embs.filter(col("vec_id") === 0)
        .select(Pq.xeCol(col("embedding"))).collect()(0).getSeq[Long](0)
      Pq.adcTopK(Pq.encode(embs, "embedding", model), "vec_id", model, qxe, k = 20)
        .orderBy("dist_e6", "vec_id")
    },
    Some(s"""WITH $pqOracleCtes,
      |q AS (SELECT xe AS qx FROM e WHERE vec_id = 0),
      |t AS (SELECT cb.j, cb.c,
      |  sum((q.qx[cb.j*$PqDsub + cb.d + 1] - cb.v)
      |    * (q.qx[cb.j*$PqDsub + cb.d + 1] - cb.v)) AS dist
      | FROM cb$PqIters cb CROSS JOIN q GROUP BY 1,2),
      |sc AS (SELECT a.vec_id, CAST(sum(t.dist) AS BIGINT) AS dist_e6 FROM aF a
      | JOIN t ON t.j = a.j AND t.c = a.code GROUP BY 1)
      |SELECT vec_id, dist_e6 FROM sc
      |ORDER BY dist_e6, vec_id LIMIT 20""".stripMargin))

  /** ADC shortlist + exact re-rank — the standard PQ serving recipe
    * ([[Pq.adcTopKRerank]]): quantization picks a 50-candidate pool, the
    * exact e6-integer squared L2 picks the final 10. The oracle composes
    * [[pqTopK]]'s ADC scoring (shortlist CTE) with an exact per-dimension
    * distance over only the shortlisted vectors. `dist_e6` here is the
    * EXACT distance (different magnitude than the ADC gates by design).
    */
  private val pqRerank: Gate = Gate(
    (s, dir) => {
      val model = trainPq(s, dir)
      val embs = table(s, dir, "embeddings")
      val qxe = embs.filter(col("vec_id") === 0)
        .select(Pq.xeCol(col("embedding"))).collect()(0).getSeq[Long](0)
      Pq.adcTopKRerank(Pq.encode(embs, "embedding", model), "vec_id",
          "embedding", model, qxe, k = 10, shortlist = 50)
        .orderBy("dist_e6", "vec_id")
    },
    Some(s"""WITH $pqOracleCtes,
      |q AS (SELECT xe AS qx FROM e WHERE vec_id = 0),
      |t AS (SELECT cb.j, cb.c,
      |  sum((q.qx[cb.j*$PqDsub + cb.d + 1] - cb.v)
      |    * (q.qx[cb.j*$PqDsub + cb.d + 1] - cb.v)) AS dist
      | FROM cb$PqIters cb CROSS JOIN q GROUP BY 1,2),
      |sc AS (SELECT a.vec_id, CAST(sum(t.dist) AS BIGINT) AS adc FROM aF a
      | JOIN t ON t.j = a.j AND t.c = a.code GROUP BY 1),
      |cand AS (SELECT vec_id FROM sc ORDER BY adc, vec_id LIMIT 50),
      |ex AS (SELECT e.vec_id,
      |  CAST(sum((e.xe[d.i + 1] - q.qx[d.i + 1])
      |    * (e.xe[d.i + 1] - q.qx[d.i + 1])) AS BIGINT) AS dist_e6
      | FROM e JOIN cand USING (vec_id) CROSS JOIN q
      | CROSS JOIN range(0,${PqM * PqDsub}) d(i) GROUP BY 1)
      |SELECT vec_id, dist_e6 FROM ex
      |ORDER BY dist_e6, vec_id LIMIT 10""".stripMargin))

  /** IVF-PQ: label cells prune candidates (the [[simIvfTopK]] probe
    * selection verbatim), ADC scores only the probed cells. The oracle
    * composes the two verified fragments: the centroid/probe CTEs and the
    * PQ replay's distance tables over the final assignment.
    */
  private val ivfPqTopK: Gate = Gate(
    (s, dir) => {
      val model = trainPq(s, dir)
      val embs = table(s, dir, "embeddings")
        .withColumn("embedding", col("embedding").cast("array<double>"))
      val qxe = embs.filter(col("vec_id") === 0)
        .select(Pq.xeCol(col("embedding"))).collect()(0).getSeq[Long](0)
      Pq.ivfPqTopK(Pq.encode(embs, "embedding", model), "vec_id", "label",
          "embedding", model, queryVec(s, dir), qxe, k = 10, nProbe = 2)
        .orderBy("dist_e6", "vec_id")
    },
    Some(s"""WITH $pqOracleCtes,
      |ed AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      |q2 AS (SELECT v AS qv FROM ed WHERE vec_id = 0),
      |ex AS (SELECT label, unnest(range(1, len(v)+1)) AS dim, unnest(v) AS val FROM ed),
      |cm AS (SELECT label, dim, avg(val) AS mv FROM ex GROUP BY 1,2),
      |cent AS (SELECT label, list(mv ORDER BY dim) AS centroid FROM cm GROUP BY 1),
      |probe AS (SELECT label FROM cent, q2
      |  ORDER BY list_cosine_similarity(centroid, qv) DESC, label LIMIT 2),
      |qt AS (SELECT xe AS qx FROM e WHERE vec_id = 0),
      |t AS (SELECT cb.j, cb.c,
      |  sum((qt.qx[cb.j*$PqDsub + cb.d + 1] - cb.v)
      |    * (qt.qx[cb.j*$PqDsub + cb.d + 1] - cb.v)) AS dist
      | FROM cb$PqIters cb CROSS JOIN qt GROUP BY 1,2),
      |sc AS (SELECT a.vec_id, CAST(sum(t.dist) AS BIGINT) AS dist_e6 FROM aF a
      | JOIN t ON t.j = a.j AND t.c = a.code
      | JOIN ed ON ed.vec_id = a.vec_id
      | JOIN probe ON probe.label = ed.label GROUP BY 1)
      |SELECT vec_id, dist_e6 FROM sc
      |ORDER BY dist_e6, vec_id LIMIT 10""".stripMargin))

  /** IVF-PQ + exact re-rank ([[Pq.ivfPqTopK]] with `rerank`): the probed
    * cells prune candidates, ADC picks a 50-candidate shortlist WITHIN
    * those cells, the exact e6-integer distance picks the final 10. The
    * oracle composes [[ivfPqTopK]]'s probe CTEs with [[pqRerank]]'s
    * exact-distance CTE restricted to the probed shortlist — the one
    * rerank combination that was spec-only before this gate.
    */
  private val ivfPqRerank: Gate = Gate(
    (s, dir) => {
      val model = trainPq(s, dir)
      val embs = table(s, dir, "embeddings")
        .withColumn("embedding", col("embedding").cast("array<double>"))
      val qxe = embs.filter(col("vec_id") === 0)
        .select(Pq.xeCol(col("embedding"))).collect()(0).getSeq[Long](0)
      Pq.ivfPqTopK(Pq.encode(embs, "embedding", model), "vec_id", "label",
          "embedding", model, queryVec(s, dir), qxe, k = 10, nProbe = 2,
          rerank = 50)
        .orderBy("dist_e6", "vec_id")
    },
    Some(s"""WITH $pqOracleCtes,
      |ed AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      |q2 AS (SELECT v AS qv FROM ed WHERE vec_id = 0),
      |exv AS (SELECT label, unnest(range(1, len(v)+1)) AS dim, unnest(v) AS val FROM ed),
      |cm AS (SELECT label, dim, avg(val) AS mv FROM exv GROUP BY 1,2),
      |cent AS (SELECT label, list(mv ORDER BY dim) AS centroid FROM cm GROUP BY 1),
      |probe AS (SELECT label FROM cent, q2
      |  ORDER BY list_cosine_similarity(centroid, qv) DESC, label LIMIT 2),
      |qt AS (SELECT xe AS qx FROM e WHERE vec_id = 0),
      |t AS (SELECT cb.j, cb.c,
      |  sum((qt.qx[cb.j*$PqDsub + cb.d + 1] - cb.v)
      |    * (qt.qx[cb.j*$PqDsub + cb.d + 1] - cb.v)) AS dist
      | FROM cb$PqIters cb CROSS JOIN qt GROUP BY 1,2),
      |sc AS (SELECT a.vec_id, CAST(sum(t.dist) AS BIGINT) AS adc FROM aF a
      | JOIN t ON t.j = a.j AND t.c = a.code
      | JOIN ed ON ed.vec_id = a.vec_id
      | JOIN probe ON probe.label = ed.label GROUP BY 1),
      |cand AS (SELECT vec_id FROM sc ORDER BY adc, vec_id LIMIT 50),
      |exd AS (SELECT e.vec_id,
      |  CAST(sum((e.xe[d.i + 1] - qt.qx[d.i + 1])
      |    * (e.xe[d.i + 1] - qt.qx[d.i + 1])) AS BIGINT) AS dist_e6
      | FROM e JOIN cand USING (vec_id) CROSS JOIN qt
      | CROSS JOIN range(0,${PqM * PqDsub}) d(i) GROUP BY 1)
      |SELECT vec_id, dist_e6 FROM exd
      |ORDER BY dist_e6, vec_id LIMIT 10""".stripMargin))

  /** Batch-query ADC k-NN: a deterministic query sample (every 97th
    * vector) against the encoded corpus in ONE pass. The oracle reuses the
    * training replay and generalizes [[pqTopK]]'s single-query distance
    * tables to per-qid tables + a per-qid row_number cut.
    */
  private val pqKnn: Gate = Gate(
    (s, dir) => {
      val model = trainPq(s, dir)
      val embs = table(s, dir, "embeddings")
      val queries = embs.filter(pmod(col("vec_id"), lit(97)) === 0)
        .select(col("vec_id").as("qid"), col("embedding"))
      Pq.adcKnnJoin(Pq.encode(embs, "embedding", model), "vec_id", model,
          queries, "qid", "embedding", k = 5)
        .select(col("qid"), col("vec_id"), col("dist_e6"),
          col("rank").cast(LongType).as("rank"))
        .orderBy("qid", "rank")
    },
    Some(s"""WITH $pqOracleCtes,
      |qs AS (SELECT vec_id AS qid, xe AS qx FROM e WHERE vec_id % 97 = 0),
      |t AS (SELECT qs.qid, cb.j, cb.c,
      |  sum((qs.qx[cb.j*$PqDsub + cb.d + 1] - cb.v)
      |    * (qs.qx[cb.j*$PqDsub + cb.d + 1] - cb.v)) AS dist
      | FROM cb$PqIters cb CROSS JOIN qs GROUP BY 1,2,3),
      |sc AS (SELECT t.qid, a.vec_id, CAST(sum(t.dist) AS BIGINT) AS dist_e6 FROM aF a
      | JOIN t ON t.j = a.j AND t.c = a.code GROUP BY 1,2),
      |rk AS (SELECT qid, vec_id, dist_e6,
      |  row_number() OVER (PARTITION BY qid ORDER BY dist_e6, vec_id) AS rank
      | FROM sc)
      |SELECT qid, vec_id, dist_e6, rank FROM rk WHERE rank <= 5
      |ORDER BY qid, rank""".stripMargin))

  /** Batch-query rerank ([[Pq.adcKnnJoinRerank]]): per query, an ADC
    * shortlist of 15 re-scored at full precision and re-cut to top-5 —
    * the batch form of [[pqRerank]]. The oracle extends [[pqKnn]]'s
    * per-qid replay with an exact per-dimension distance over the
    * shortlisted (qid, vec_id) pairs.
    */
  private val pqKnnRerank: Gate = Gate(
    (s, dir) => {
      val model = trainPq(s, dir)
      val embs = table(s, dir, "embeddings")
      val queries = embs.filter(pmod(col("vec_id"), lit(97)) === 0)
        .select(col("vec_id").as("qid"), col("embedding"))
      Pq.adcKnnJoinRerank(Pq.encode(embs, "embedding", model), "vec_id",
          "embedding", model, queries, "qid", "embedding", k = 5, shortlist = 15)
        .select(col("qid"), col("vec_id"), col("dist_e6"),
          col("rank").cast(LongType).as("rank"))
        .orderBy("qid", "rank")
    },
    Some(s"""WITH $pqOracleCtes,
      |qs AS (SELECT vec_id AS qid, xe AS qx FROM e WHERE vec_id % 97 = 0),
      |t AS (SELECT qs.qid, cb.j, cb.c,
      |  sum((qs.qx[cb.j*$PqDsub + cb.d + 1] - cb.v)
      |    * (qs.qx[cb.j*$PqDsub + cb.d + 1] - cb.v)) AS dist
      | FROM cb$PqIters cb CROSS JOIN qs GROUP BY 1,2,3),
      |sc AS (SELECT t.qid, a.vec_id, CAST(sum(t.dist) AS BIGINT) AS adc FROM aF a
      | JOIN t ON t.j = a.j AND t.c = a.code GROUP BY 1,2),
      |cand AS (SELECT qid, vec_id FROM (
      |  SELECT qid, vec_id,
      |    row_number() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS r
      |  FROM sc) WHERE r <= 15),
      |ex AS (SELECT c.qid, c.vec_id,
      |  CAST(sum((e.xe[d.i + 1] - qs.qx[d.i + 1])
      |    * (e.xe[d.i + 1] - qs.qx[d.i + 1])) AS BIGINT) AS dist_e6
      | FROM cand c JOIN e ON e.vec_id = c.vec_id JOIN qs ON qs.qid = c.qid
      | CROSS JOIN range(0,${PqM * PqDsub}) d(i) GROUP BY 1,2),
      |rk AS (SELECT qid, vec_id, dist_e6,
      |  row_number() OVER (PARTITION BY qid ORDER BY dist_e6, vec_id) AS rank
      | FROM ex)
      |SELECT qid, vec_id, dist_e6, rank FROM rk WHERE rank <= 5
      |ORDER BY qid, rank""".stripMargin))

  // ---- OPQ: the rotation TRAINING replayed end-to-end ---------------------
  // R = P·H·D with D the md5-hash sign diagonal, H the 64-dim Walsh-Hadamard
  // transform (6 butterfly stages, each a self-join pairing i with xor(i,
  // len)), /8 exact normalization as (t+4)//8, and P fit by alternating
  // minimization. alternations=2 means the oracle runs the Lloyd replay
  // TWICE: once under the identity permutation, then ranks per-position
  // quantization error (desc, position asc) and deals ranks round-robin
  // across subspaces — rank r's dimension lands at output index
  // (r%m)·dsub + r/m — and replays Lloyd again on the re-permuted vectors.
  // The gate hashes the FINAL assignment, so one integer diverging anywhere
  // in signs → WHT → rounding → Lloyd A → error ranking → perm → Lloyd B
  // goes red. See Pq.trainOpq (ops/Pq.scala) for the engine side.

  /** The WHT-rotation CTE fragment: `w6(vec_id, i, v)` holds H·(D·x) before
    * normalization; `Ae` the alternation-0 rotated vectors (identity perm).
    */
  /** log2(√dim) of the PQ gate geometry — exact because dim is a power of
    * 4. The WHT normalization is `(t + sqrtD/2) >> half`; the oracle MUST
    * replay it with DuckDB's `>>` (arithmetic shift, floor semantics on
    * negatives — WHT outputs go negative), NOT `//`, which truncates
    * toward zero in DuckDB and diverges one ulp on every negative odd
    * multiple.
    */
  private val OpqHalf: Int = Integer.numberOfTrailingZeros(PqM * PqDsub) / 2
  private val OpqSqrtD: Int = 1 << OpqHalf

  private def opqWhtCtes: String = {
    val dim = PqM * PqDsub
    val sb = new StringBuilder
    sb ++= s"""e0 AS MATERIALIZED (SELECT vec_id, list_transform(embedding::DOUBLE[],
      | v -> CAST(round(v*1000000) AS BIGINT)) AS xe FROM embeddings),
      |sgn AS (SELECT t.i, CASE WHEN ('0x' || substr(md5(t.i::VARCHAR || ':42'),1,14))::BIGINT
      |    % 1000000000 < 500000000 THEN 1 ELSE -1 END AS s
      |  FROM range(0,$dim) t(i)),
      |w0 AS MATERIALIZED (SELECT e0.vec_id, t.i, sgn.s * e0.xe[t.i + 1] AS v
      |  FROM e0 CROSS JOIN range(0,$dim) t(i) JOIN sgn ON sgn.i = t.i),""".stripMargin
    var len = 1
    var k = 0
    while (len < dim) {
      k += 1
      sb ++= s"""
        |w$k AS MATERIALIZED (SELECT p.vec_id, p.i,
        |  CASE WHEN (p.i & $len) = 0 THEN p.v + q.v ELSE q.v - p.v END AS v
        | FROM w${k - 1} p JOIN w${k - 1} q
        |   ON q.vec_id = p.vec_id AND q.i = xor(p.i, $len)),""".stripMargin
      len <<= 1
    }
    sb ++= s"""
      |Ae AS MATERIALIZED (SELECT vec_id, list((v + ${OpqSqrtD / 2}) >> $OpqHalf ORDER BY i) AS xe
      |  FROM w$k GROUP BY vec_id),""".stripMargin
    sb.toString
  }

  /** OPQ codes of every vector — rotation + permutation TRAINING and the
    * rotated encode all under full oracle replay ([[Pq.trainOpq]] /
    * [[Pq.encodeOpq]]), unnested to (vec_id, subspace, code) rows like
    * [[pqCodes]].
    */
  private val opqCodes: Gate = Gate(
    (s, dir) => {
      val om = Pq.trainOpq(table(s, dir, "embeddings"), "vec_id", "embedding",
        dim = PqM * PqDsub, m = PqM, ksub = PqKsub, iters = PqIters, seed = 42L)
      Pq.encodeOpq(table(s, dir, "embeddings"), "embedding", om)
        .select(col("vec_id"), posexplode(col("codes")).as(Seq("j", "code")))
        .select(col("vec_id"), col("j").cast(LongType).as("j"),
          col("code").cast(LongType).as("code"))
        .orderBy("vec_id", "j")
    },
    Some(s"""WITH $opqWhtCtes${pqLloydCtes("A")},
      |errs AS (SELECT t.i,
      |  sum((e.xe[t.i + 1] - cb.v) * (e.xe[t.i + 1] - cb.v)) AS err
      | FROM Ae e CROSS JOIN range(0,${PqM * PqDsub}) t(i)
      | JOIN AaF a ON a.vec_id = e.vec_id AND a.j = t.i // $PqDsub
      | JOIN Acb$PqIters cb ON cb.j = t.i // $PqDsub AND cb.c = a.code
      |   AND cb.d = t.i % $PqDsub
      | GROUP BY 1),
      |pr AS (SELECT i AS pos, row_number() OVER (ORDER BY err DESC, i) - 1 AS r
      |  FROM errs),
      |pm AS (SELECT (r % $PqM) * $PqDsub + r // $PqM AS i, pos AS src FROM pr),
      |Be AS MATERIALIZED (SELECT w.vec_id, list((w.v + ${OpqSqrtD / 2}) >> $OpqHalf ORDER BY p.i) AS xe
      |  FROM pm p JOIN w${Integer.numberOfTrailingZeros(PqM * PqDsub)} w ON w.i = p.src
      |  GROUP BY w.vec_id),${pqLloydCtes("B")}
      |SELECT vec_id, j, code FROM BaF ORDER BY vec_id, j""".stripMargin))

  private val winnowFp: Gate = Gate(
    (s, dir) => Dedup.winnowFingerprints(table(s, dir, "documents"), "doc_id", "text",
      n = 3, w = 4)
      .orderBy("doc_id", "fingerprint"),
    Some("""WITH w AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
      |  FROM documents WHERE length(trim(text)) > 0),
      |h AS (SELECT doc_id,
      |  list_transform(
      |    list_transform(range(1, len(ws)-1), i -> array_to_string(ws[i:i+2], ' ')),
      |    s -> ('0x' || substr(md5(s),1,14))::BIGINT) AS hs FROM w),
      |wins AS (SELECT doc_id,
      |  CASE WHEN len(hs) < 4 THEN (CASE WHEN len(hs) > 0 THEN [list_min(hs)] END)
      |   ELSE list_transform(range(1, len(hs)-2), i -> list_min(hs[i:i+3])) END AS wn
      |  FROM h)
      |SELECT doc_id, unnest(list_distinct(wn)) AS fingerprint
      |FROM wins ORDER BY doc_id, fingerprint""".stripMargin))

  private val sampleSplit: Gate = Gate(
    (s, dir) => Sampling.assignSplits(table(s, dir, "documents"),
      "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select(col("doc_id"), col("split"))
      .orderBy("doc_id"),
    Some("""WITH h AS (
      |  SELECT doc_id,
      |   (('0x' || substr(md5(doc_id::VARCHAR || ':42'),1,14))::BIGINT % 1000000000)/1000000000.0 AS u
      |  FROM documents)
      |SELECT doc_id,
      | CASE WHEN u IS NULL THEN NULL
      |  WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split
      |FROM h ORDER BY doc_id""".stripMargin))

  private val stratifiedCap: Gate = Gate(
    (s, dir) => Sampling.stratifiedCap(table(s, dir, "documents"),
      "doc_id", "lang", perStratum = 50)
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id"),
    Some("""WITH h AS (
      |  SELECT doc_id, lang,
      |   (('0x' || substr(md5(doc_id::VARCHAR || ':42'),1,14))::BIGINT % 1000000000)/1000000000.0 AS u
      |  FROM documents WHERE doc_id IS NOT NULL),
      |r AS (SELECT doc_id, lang,
      |   row_number() OVER (PARTITION BY lang ORDER BY u, doc_id) AS rk FROM h)
      |SELECT doc_id, lang FROM r WHERE rk <= 50 ORDER BY doc_id""".stripMargin))

  /** Target-mix resampling: src0 repeated 2.25x (every row twice, a
    * deterministic quarter a third time), src1 kept at 25%, src2 dropped,
    * every other source halved — exercising upsampling, downsampling, a
    * zero rate, and the default rate in one gate. The oracle replays the
    * identical hash arithmetic and replicates copies with unnest(range).
    */
  private val resampleMix: Gate = Gate(
    (s, dir) => Sampling.resampleMix(table(s, dir, "documents"),
      "doc_id", "source",
      rates = Seq("src0" -> 2.25, "src1" -> 0.25, "src2" -> 0.0),
      defaultRate = 0.5, seed = 7L)
      .select(col("doc_id"), col("source"), col("epoch").cast(LongType).as("epoch"))
      .orderBy("doc_id", "epoch"),
    Some("""WITH r AS (
      |  SELECT doc_id, source,
      |   CASE source WHEN 'src0' THEN 2.25 WHEN 'src1' THEN 0.25
      |    WHEN 'src2' THEN 0.0 ELSE 0.5 END AS rate,
      |   (('0x' || substr(md5(doc_id::VARCHAR || ':7'),1,14))::BIGINT % 1000000000)/1000000000.0 AS u
      |  FROM documents WHERE doc_id IS NOT NULL),
      |c AS (SELECT doc_id, source,
      |   CAST(floor(rate) AS BIGINT) +
      |    (CASE WHEN u < rate - floor(rate) THEN 1 ELSE 0 END) AS copies FROM r)
      |SELECT doc_id, source, CAST(unnest(range(copies)) AS BIGINT) AS epoch
      |FROM c WHERE copies > 0 ORDER BY doc_id, epoch""".stripMargin))

  /** Temperature mix (alpha sampling): rates derived from the corpus's own
    * per-source counts at alpha=0.5 — the whole chain (count → p^alpha
    * renormalization → 1e-6 rate pinning → deterministic copies) replayed
    * in SQL.
    */
  private val temperatureMixGate: Gate = Gate(
    (s, dir) => Sampling.temperatureMix(table(s, dir, "documents"),
      "doc_id", "source", alpha = 0.5, seed = 7L)
      .select(col("doc_id"), col("source"), col("epoch").cast(LongType).as("epoch"))
      .orderBy("doc_id", "epoch"),
    Some("""WITH n AS (SELECT source, count(*) AS n FROM documents
      |  WHERE doc_id IS NOT NULL GROUP BY 1),
      |z AS (SELECT sum(n) AS tot, sum(pow(n, 0.5)) AS zz FROM n),
      |r AS (SELECT source, round(tot * pow(n, 0.5) / zz / n, 6) AS rate
      |  FROM n CROSS JOIN z),
      |d AS (SELECT doc_id, dd.source AS source, coalesce(rate, 0.0) AS rate,
      |  (('0x' || substr(md5(doc_id::VARCHAR || ':7'),1,14))::BIGINT
      |    % 1000000000)/1000000000.0 AS u
      | FROM documents dd LEFT JOIN r USING (source) WHERE doc_id IS NOT NULL),
      |c AS (SELECT doc_id, source, CAST(floor(rate) AS BIGINT) +
      |  (CASE WHEN u < rate - floor(rate) THEN 1 ELSE 0 END) AS copies FROM d)
      |SELECT doc_id, source, CAST(unnest(range(copies)) AS BIGINT) AS epoch
      |FROM c WHERE copies > 0 ORDER BY doc_id, epoch""".stripMargin))

  /** Decontamination gates: every 50th document plays the eval set, the
    * rest the training corpus; n=4 yields sparse-but-nonzero contamination
    * on this corpus (19/490 at sf0.01). The bloom gate runs the prefilter +
    * exact-confirm path and must produce bit-identical output — both gates
    * share one oracle.
    */
  private def decontamOracle: String =
    """WITH t AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
      |  FROM documents),
      |g AS (SELECT doc_id,
      |  unnest(list_transform(range(1, len(ws)-2), i -> array_to_string(ws[i:i+3], ' '))) AS gr
      |  FROM t WHERE len(ws) >= 4),
      |ev AS (SELECT DISTINCT gr FROM g WHERE doc_id % 50 = 0),
      |bad AS (SELECT DISTINCT g.doc_id FROM g JOIN ev USING (gr) WHERE g.doc_id % 50 <> 0)
      |SELECT doc_id FROM documents
      |WHERE doc_id % 50 <> 0 AND doc_id NOT IN (SELECT doc_id FROM bad)
      |ORDER BY doc_id""".stripMargin

  private def decontamGate(bloom: Boolean): Gate = Gate(
    (s, dir) => {
      val docs = table(s, dir, "documents")
      val eval = docs.filter(col("doc_id") % 50 === 0)
      val train = docs.filter(col("doc_id") % 50 =!= 0)
      val out =
        if (bloom) Decontaminate.decontaminateBloom(train, eval, "doc_id", "text", n = 4)
        else Decontaminate.decontaminate(train, eval, "doc_id", "text", n = 4)
      out.select("doc_id").orderBy("doc_id")
    },
    Some(decontamOracle))

  private val decontaminate: Gate = decontamGate(bloom = false)
  private val decontaminateBloom: Gate = decontamGate(bloom = true)

  /** The corpus text carries no PII, so the gate INJECTS synthetic
    * identifiers deterministically (an email every 3rd doc, a phone every
    * 5th, an IP every 7th — doc_id-derived so both engines build the same
    * string) and verifies redaction + counts over the full redacted text
    * hash. Real-format edge cases are spec-covered (RedactionSpec).
    */
  private val redactPii: Gate = Gate(
    (s, dir) => {
      val id = col("doc_id")
      val withPii = concat(col("text"),
        when(id % 3 === 0,
          concat(lit(" contact user"), id, lit("@example.org now"))).otherwise(lit("")),
        when(id % 5 === 0,
          concat(lit(" or call 555-867-"), lpad((id % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")),
        when(id % 7 === 0,
          concat(lit(" from 10.0."), (id % 256).cast("string"), lit("."),
            ((id * 7) % 256).cast("string"))).otherwise(lit("")))
      table(s, dir, "documents")
        .select(id, withPii.as("__t"))
        .select((id.as("doc_id") +:
          Redaction.redact(col("__t")).as("text_redacted") +:
          Redaction.piiCounts(col("__t"))): _*)
        .orderBy("doc_id")
    },
    Some("""WITH t AS (
      |  SELECT doc_id, text
      |   || CASE WHEN doc_id % 3 = 0
      |      THEN ' contact user' || doc_id || '@example.org now' ELSE '' END
      |   || CASE WHEN doc_id % 5 = 0
      |      THEN ' or call 555-867-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') ELSE '' END
      |   || CASE WHEN doc_id % 7 = 0
      |      THEN ' from 10.0.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256) ELSE '' END
      |   AS txt FROM documents)
      |SELECT doc_id,
      | regexp_replace(regexp_replace(regexp_replace(regexp_replace(txt,
      |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |   '(?:\+?1[-. ])?(?:\([0-9]{3}\)|\b[0-9]{3})[-. ][0-9]{3}[-. ][0-9]{4}\b', '<PHONE>', 'g'),
      |   '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
      |   '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<SSN>', 'g') AS text_redacted,
      | CAST(len(regexp_extract_all(txt, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
      | CAST(len(regexp_extract_all(txt, '(?:\+?1[-. ])?(?:\([0-9]{3}\)|\b[0-9]{3})[-. ][0-9]{3}[-. ][0-9]{4}\b')) AS BIGINT) AS n_phone,
      | CAST(len(regexp_extract_all(txt, '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS BIGINT) AS n_ipv4,
      | CAST(len(regexp_extract_all(txt, '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b')) AS BIGINT) AS n_ssn
      |FROM t ORDER BY doc_id""".stripMargin))

  private val packSequences: Gate = Gate(
    (s, dir) => Packing.packSequences(table(s, dir, "documents"),
      "doc_id", "text", capacity = 256, shards = 8)
      .select(col("doc_id"), col("shard"), col("n_tokens"), col("offset"),
        col("seq_idx"), col("straddles"))
      .orderBy("doc_id"),
    Some("""WITH t AS (
      |  SELECT doc_id,
      |   ('0x' || substr(md5(doc_id::VARCHAR || ':shard:42'),1,14))::BIGINT % 8 AS shard,
      |   (('0x' || substr(md5(doc_id::VARCHAR || ':42'),1,14))::BIGINT % 1000000000)/1000000000.0 AS u,
      |   CAST(CASE WHEN length(trim(text)) = 0 THEN 0
      |     ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens
      |  FROM documents WHERE doc_id IS NOT NULL),
      |o AS (SELECT doc_id, shard, n_tokens,
      |   CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY u, doc_id
      |     ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS "offset"
      |  FROM t)
      |SELECT doc_id, shard, n_tokens, "offset",
      | CAST("offset" // 256 AS BIGINT) AS seq_idx,
      | ("offset" % 256) + n_tokens > 256 AS straddles
      |FROM o ORDER BY doc_id""".stripMargin))

  /** Sliding-window chunking: window 24, stride 16 (overlap 8) over the
    * documents table — the full layout (chunk count formula, boundary
    * clamping, empty-doc exclusion, chunk text assembly) replayed in SQL.
    */
  private val chunkDocuments: Gate = Gate(
    (s, dir) => Packing.chunkDocuments(table(s, dir, "documents"),
      "doc_id", "text", window = 24, stride = 16)
      .orderBy("doc_id", "chunk_idx"),
    Some("""WITH t AS (SELECT doc_id,
      |  list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS ws
      | FROM documents WHERE text IS NOT NULL),
      |d AS (SELECT doc_id, ws, len(ws) AS n,
      |  CASE WHEN len(ws) <= 24 THEN 1
      |       ELSE 1 + (len(ws) - 24 + 15) // 16 END AS n_chunks
      | FROM t WHERE len(ws) > 0),
      |c AS (SELECT doc_id, n, ws, unnest(range(0, n_chunks)) AS i FROM d)
      |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
      | CAST(i AS BIGINT) AS chunk_idx,
      | CAST(least(i*16 + 24, n) - i*16 AS BIGINT) AS chunk_tokens,
      | array_to_string(ws[i*16 + 1 : least(i*16 + 24, n)], ' ') AS chunk_text
      |FROM c ORDER BY doc_id, chunk_idx""".stripMargin))

  /** As-of join: every click joined to the user's most recent prior (or
    * simultaneous) view — the union+ordered-carry implementation checked
    * against DuckDB's NATIVE `ASOF LEFT JOIN` operator, the strongest
    * available oracle for the semantics.
    */
  /** The click/view frames every as-of gate enriches: ONE definition so the
    * four gates sharing the ASOF oracle cannot silently desynchronize.
    */
  private def clicksViews(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val ev = eventsTable(s, dir)
    (ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts"),
      ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("view_ts"),
          col("event_id").as("view_event_id")))
  }

  private val asofJoin: Gate = Gate(
    (s, dir) => {
      val (clicks, views) = clicksViews(s, dir)
      AsOfJoin.asOf(clicks, views, Seq("user_id"), "ts", "view_ts",
        Seq("view_ts", "view_event_id"), dedupRight = Some("view_event_id"))
        .orderBy("event_id")
    },
    Some("""WITH l AS (SELECT event_id, user_id, ts FROM events
      |  WHERE event_type='click'),
      |r AS (SELECT user_id, ts AS view_ts, max(event_id) AS view_event_id
      |  FROM events WHERE event_type='view' AND ts IS NOT NULL GROUP BY 1,2)
      |SELECT l.event_id, l.user_id, l.ts, r.view_ts, r.view_event_id
      |FROM l ASOF LEFT JOIN r
      |  ON l.user_id = r.user_id AND r.view_ts <= l.ts
      |ORDER BY l.event_id""".stripMargin))

  /** Ingest-time as-of enrichment: the SAME click/view timeline as the
    * batch `asof_join` gate run as a STREAM through
    * [[graft.streaming.TemporalStream]] (one keyed stream, fixed per-key
    * carry state on flatMapGroupsWithState), checked against the identical
    * DuckDB ASOF JOIN oracle — streaming and batch agree row-for-row on
    * in-order data by construction.
    */
  private val asofJoinStream: Gate = Gate(
    (s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val tmp = java.nio.file.Files.createTempDirectory("graft_asof_stream")
      val outDir = tmp.resolve("out").toString
      try {
        val ss = s.newSession()
        ss.conf.set("spark.sql.shuffle.partitions",
          streamStatePartitions(ss, dir).toString)
        import ss.implicits._
        val src = eventsStream(ss, dir)
        val tev = src.filter(col("event_type").isin("click", "view"))
          .select(col("user_id").as("k"),
            when(col("ts").isNotNull, unix_micros(col("ts"))).as("t"),
            when(col("event_type") === "view", 0).otherwise(1).as("side"),
            col("event_id").as("id"))
          // null-time reference rows are "at no time": never matchable
          .filter(!(col("side") === 0 && col("t").isNull))
          .as[graft.streaming.TemporalStream.TEv]
        val q = graft.streaming.TemporalStream.streamingAsOf(tev).toDF()
          .writeStream.outputMode("append")
          .option("checkpointLocation", tmp.resolve("ckpt").toString)
          .trigger(Trigger.AvailableNow())
          .format("parquet").option("path", outDir).start()
        q.awaitTermination()
        s.read.parquet(outDir)
          .select(col("id").as("event_id"), col("k").as("user_id"),
            timestamp_micros(col("t")).as("ts"),
            timestamp_micros(col("matched_t")).as("view_ts"),
            col("matched_id").as("view_event_id"))
          .orderBy("event_id")
          .localCheckpoint() // free the sink/checkpoint dirs immediately
      } finally rmTree(tmp)
    },
    asofJoin.oracle)

  /** Nearest-direction as-of (the Polars join_asof strategy="nearest"
    * surface; no DuckDB ASOF equivalent exists, so the oracle replays it as
    * a per-click argmin over the keyed join — quadratic is fine at gate
    * scale, the Spark side stays the one-shuffle double carry). Tie rule
    * (equidistant → backward) is encoded in the oracle's struct ordering.
    */
  private val asofJoinNearest: Gate = Gate(
    (s, dir) => {
      val (clicks, views) = clicksViews(s, dir)
      AsOfJoin.asOfNearest(clicks, views, Seq("user_id"), "ts", "view_ts",
        Seq("view_ts", "view_event_id"), dedupRight = Some("view_event_id"))
        .orderBy("event_id")
    },
    Some("""WITH l AS (SELECT event_id, user_id, ts FROM events
      |  WHERE event_type='click'),
      |r AS (SELECT user_id, ts AS view_ts, max(event_id) AS view_event_id
      |  FROM events WHERE event_type='view' AND ts IS NOT NULL GROUP BY 1,2),
      |c AS (SELECT l.event_id, r.view_ts, r.view_event_id,
      |  abs(epoch_us(l.ts) - epoch_us(r.view_ts)) AS d,
      |  CASE WHEN r.view_ts <= l.ts THEN 0 ELSE 1 END AS fwd
      | FROM l JOIN r USING (user_id) WHERE l.ts IS NOT NULL),
      |best AS (SELECT event_id,
      |  min(struct_pack(d := d, fwd := fwd, vt := view_ts, ve := view_event_id)) AS b
      | FROM c GROUP BY 1)
      |SELECT l.event_id, l.user_id, l.ts, best.b.vt AS view_ts,
      | best.b.ve AS view_event_id
      |FROM l LEFT JOIN best USING (event_id)
      |ORDER BY l.event_id""".stripMargin))

  /** Column profiling: the one-pass per-column statistics report (counts,
    * nulls, exact distincts, numeric/length ranges and means) replayed as
    * per-column SQL aggregates.
    */
  private val profileGate: Gate = Gate(
    (s, dir) => graft.ops.Profile.profile(table(s, dir, "documents"),
      Seq("doc_id", "text", "lang", "n_chars"))
      .select(col("column"), col("dtype"), col("n_rows"), col("n_null"),
        col("n_distinct"),
        r4(col("num_min")).as("num_min"), r4(col("num_max")).as("num_max"),
        r4(col("num_avg")).as("num_avg"))
      .orderBy("column"),
    Some("""SELECT 'doc_id' AS "column", 'bigint' AS dtype,
      | count(*) AS n_rows, count(*) - count(doc_id) AS n_null,
      | count(DISTINCT doc_id) AS n_distinct,
      | round(CAST(min(doc_id) AS DOUBLE),4) AS num_min,
      | round(CAST(max(doc_id) AS DOUBLE),4) AS num_max,
      | round(CAST(avg(doc_id) AS DOUBLE),4) AS num_avg
      |FROM documents
      |UNION ALL SELECT 'lang', 'string', count(*), count(*) - count(lang),
      | count(DISTINCT lang), round(CAST(min(length(lang)) AS DOUBLE),4),
      | round(CAST(max(length(lang)) AS DOUBLE),4),
      | round(CAST(avg(length(lang)) AS DOUBLE),4) FROM documents
      |UNION ALL SELECT 'n_chars', 'bigint', count(*), count(*) - count(n_chars),
      | count(DISTINCT n_chars), round(CAST(min(n_chars) AS DOUBLE),4),
      | round(CAST(max(n_chars) AS DOUBLE),4),
      | round(CAST(avg(n_chars) AS DOUBLE),4) FROM documents
      |UNION ALL SELECT 'text', 'string', count(*), count(*) - count(text),
      | count(DISTINCT text), round(CAST(min(length(text)) AS DOUBLE),4),
      | round(CAST(max(length(text)) AS DOUBLE),4),
      | round(CAST(avg(length(text)) AS DOUBLE),4) FROM documents
      |ORDER BY 1""".stripMargin))

  /** Time-range rolling aggregate: per-user trailing-1-hour event count and
    * value sum at every event — RANGE-framed window on exact epoch micros,
    * the same frame semantics in both engines.
    */
  private val rollingAgg: Gate = Gate(
    (s, dir) => {
      val ev = eventsTable(s, dir)
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("t"),
          col("value"))
      val aggs = Seq(
        "n_1h" -> count(lit(1)),
        "__sum_raw" -> sum(round(col("value") * 10000)))
      graft.operators.RollingAgg.trailing(ev, Seq("user_id"), "t", 3600000000L, aggs)
        .withColumn("sum_1h_e4", col("__sum_raw").cast(LongType))
        .select("event_id", "user_id", "t", "n_1h", "sum_1h_e4")
        .orderBy("event_id")
    },
    Some("""SELECT event_id, user_id, epoch_us(ts) AS t,
      | CAST(count(*) OVER w AS BIGINT) AS n_1h,
      | CAST(sum(round(value * 10000)) OVER w AS BIGINT) AS sum_1h_e4
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
      |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin))

  /** The committed pipeline YAML, resolved against a configurable root
    * (`-Dgraft.config.dir=…` / `GRAFT_CONFIG_DIR`) with a CWD-relative
    * fallback — no machine-specific absolute path baked in.
    */
  private[graft] val FeatureYaml: String = {
    val name = "feature_pipeline.yaml"
    (sys.props.get("graft.config.dir") ++ sys.env.get("GRAFT_CONFIG_DIR"))
      .map(d => java.nio.file.Paths.get(d, name).toString)
      .find(p => java.nio.file.Files.exists(java.nio.file.Paths.get(p)))
      .getOrElse(s"config/$name")
  }

  /** Stage the feature pipeline's per-run inputs under `tmp` (idempotent —
    * the fixture-gate convention: warmed runs time the PIPELINE, not the
    * per-fixture input preparation) and return the per-run overrides —
    * shared by the gate and PipelineStageMetricsSpec.
    */
  private[graft] def stageFeatureInputs(s: SparkSession, dir: String,
      tmp: String): Seq[String] = {
    val fMarker = java.nio.file.Paths.get(tmp, ".staged")
    if (!markerFresh(fMarker, s"$dir/events.parquet")) {
      rmTree(java.nio.file.Paths.get(tmp))
      val (clicks0, views) = clicksViews(s, dir)
      val clicks = clicks0.select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("t"))
      views.select(col("user_id"), unix_micros(col("view_ts")).as("view_ts_us"),
          col("view_event_id"))
        .write.mode("overwrite").parquet(s"$tmp/views.parquet")
      def empty(schema: org.apache.spark.sql.types.StructType) =
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      graft.meds.MedsIO.write(graft.meds.MedsData(clicks,
        empty(graft.meds.MedsSchema.codesSchema),
        empty(graft.meds.MedsSchema.splitsSchema)), s"$tmp/in")
      writeMarker(fMarker, s"$dir/events.parquet")
    }
    Seq(s"stages.enrich_view.right_path=$tmp/views.parquet")
  }

  /** The composed TEMPORAL pipeline as one gate: the committed
    * `config/feature_pipeline.yaml` (as-of enrichment → trailing 1-hour
    * activity count) through the graft.Main CLI over the click/view
    * timeline, the whole chain replayed as ONE DuckDB query (native ASOF
    * LEFT JOIN feeding a native RANGE frame) — the third composed-pipeline
    * gate, extending the composition story from curation/analysis to
    * feature engineering.
    */
  private val featurePipeline: Gate = Gate(
    (s, dir) => {
      val tmp = stagingDir("graft_feature_", dir)
      val overrides = stageFeatureInputs(s, dir, tmp)
      Main.run(Array(FeatureYaml, s"$tmp/in", s"$tmp/out") ++ overrides, s)
      graft.meds.MedsIO.read(s, s"$tmp/out").data
        .select(col("event_id"), col("user_id"), col("t"),
          col("view_ts_us"), col("view_event_id"),
          col("n_1h").cast(LongType).as("n_1h"))
        .orderBy("event_id")
    },
    Some("""WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS t FROM events
      |  WHERE event_type='click'),
      |r AS (SELECT user_id, epoch_us(ts) AS view_ts_us, max(event_id) AS view_event_id
      |  FROM events WHERE event_type='view' AND ts IS NOT NULL GROUP BY 1,2),
      |e AS (SELECT l.event_id, l.user_id, l.t, r.view_ts_us, r.view_event_id
      |  FROM l ASOF LEFT JOIN r
      |    ON l.user_id = r.user_id AND r.view_ts_us <= l.t)
      |SELECT event_id, user_id, t, view_ts_us, view_event_id,
      | CAST(count(*) OVER (PARTITION BY user_id ORDER BY t
      |   RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_1h
      |FROM e ORDER BY event_id""".stripMargin))

  /** Range join: clicks inside 2-hour purchase-attribution windows (same
    * user, click within [purchase−2h, purchase]) — the grid-bucketed
    * equi-join implementation against DuckDB's inequality join, exact
    * epoch-micro arithmetic on both sides.
    */
  private val rangeJoinGate: Gate = Gate(
    (s, dir) => {
      val ev = eventsTable(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("t"))
      val windows = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"),
          (unix_micros(col("ts")) - lit(7200000000L)).as("w_start"),
          unix_micros(col("ts")).as("w_end"),
          col("event_id").as("purchase_id"))
      RangeJoin.pointInInterval(clicks, windows, Seq("user_id"), "t",
        "w_start", "w_end", Seq("purchase_id", "w_end"),
        bucketWidth = 3600000000L)
        .orderBy("event_id", "purchase_id")
    },
    Some("""WITH c AS (SELECT event_id, user_id, epoch_us(ts) AS t
      |  FROM events WHERE event_type='click'),
      |p AS (SELECT user_id, epoch_us(ts) - 7200000000 AS w_start,
      |  epoch_us(ts) AS w_end, event_id AS purchase_id
      |  FROM events WHERE event_type='purchase')
      |SELECT c.event_id, c.user_id, c.t, p.purchase_id, p.w_end
      |FROM c JOIN p ON c.user_id = p.user_id
      |  AND c.t BETWEEN p.w_start AND p.w_end
      |ORDER BY 1, 4""".stripMargin))

  /** Deterministic global shuffle: the reproducible corpus permutation
    * (hash-of-id order, scalable two-pass global numbering) replayed in SQL
    * as a row_number over the same md5-derived unit hash.
    */
  private val shuffleRows: Gate = Gate(
    (s, dir) => Sampling.deterministicShuffle(
        table(s, dir, "documents").select("doc_id"), "doc_id")
      .orderBy("doc_id"),
    Some("""SELECT doc_id, CAST(row_number() OVER (ORDER BY
      |  (('0x' || substr(md5(doc_id::VARCHAR || ':42'),1,14))::BIGINT
      |    % 1000000000)/1000000000.0, doc_id) AS BIGINT) AS shuffle_pos
      |FROM documents ORDER BY doc_id""".stripMargin))

  /** Z-order interleave: the Morton spread ladder replayed bit-for-bit in
    * SQL (DuckDB bitwise ops) over lineitem's part/supp keys — any drift in
    * a mask or shift breaks the hash. The LAYOUT payoff (tight per-file
    * footer ranges on both columns) is spec-locked in LayoutSpec.
    */
  private val zorderValues: Gate = Gate(
    (s, dir) => table(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        graft.ops.Layout.zValue(Seq(
          pmod(col("l_partkey"), lit(65536)),
          pmod(col("l_suppkey"), lit(65536)))).as("z"))
      .orderBy("l_orderkey", "l_linenumber"),
    Some("""WITH r AS (SELECT l_orderkey, l_linenumber,
      |  CAST(l_partkey % 65536 AS BIGINT) AS x,
      |  CAST(l_suppkey % 65536 AS BIGINT) AS y FROM lineitem),
      |s1 AS (SELECT *, (x | (x<<8)) & 16711935 AS xa,
      |  (y | (y<<8)) & 16711935 AS ya FROM r),
      |s2 AS (SELECT *, (xa | (xa<<4)) & 252645135 AS xb,
      |  (ya | (ya<<4)) & 252645135 AS yb FROM s1),
      |s3 AS (SELECT *, (xb | (xb<<2)) & 858993459 AS xc,
      |  (yb | (yb<<2)) & 858993459 AS yc FROM s2),
      |s4 AS (SELECT *, (xc | (xc<<1)) & 1431655765 AS xd,
      |  (yc | (yc<<1)) & 1431655765 AS yd FROM s3)
      |SELECT l_orderkey, l_linenumber, CAST(xd | (yd << 1) AS BIGINT) AS z
      |FROM s4 ORDER BY 1,2""".stripMargin))

  private[graft] val AnalysisYaml: String =
    Seq("config/analysis_pipeline.yaml",
      "/root/repo/config/analysis_pipeline.yaml")
      .find(p => java.nio.file.Files.exists(java.nio.file.Paths.get(p)))
      .getOrElse("config/analysis_pipeline.yaml")

  /** Stage the analysis pipeline's per-run input (the documents table as a
    * CSV corpus, plus the runner's input-root contract) and return the
    * per-run overrides — shared by the gate and AnalysisPipelineSpec.
    */
  private[graft] def stageAnalysisInputs(s: SparkSession, dir: String,
      tmp: String): Seq[String] = {
    // idempotent per sf-dir (same convention as the curation gate): the
    // staged CSV corpus and input root are INPUTS, not measured pipeline
    // work — re-writing them per bench iteration only inflates the gate.
    // The marker records the SOURCE parquet's mtime, so regenerating the
    // sf dir in place re-stages instead of silently serving the stale copy
    val marker = java.nio.file.Paths.get(tmp, ".staged")
    if (!markerFresh(marker, s"$dir/documents.parquet")) {
      val corpus = table(s, dir, "documents")
        .select("doc_id", "text", "lang", "source")
      graft.sources.CorpusSources.writeCsv(corpus, s"$tmp/corpus")
      def empty(schema: org.apache.spark.sql.types.StructType) =
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      graft.meds.MedsIO.write(graft.meds.MedsData(corpus.limit(1),
        empty(graft.meds.MedsSchema.codesSchema),
        empty(graft.meds.MedsSchema.splitsSchema)), s"$tmp/in")
      writeMarker(marker, s"$dir/documents.parquet")
    }
    Seq(s"stages.load_csv.path=$tmp/corpus")
  }

  /** The composed ANALYSIS pipeline as one gate: the committed
    * `config/analysis_pipeline.yaml` (CSV source → self-trained bigram-LM
    * perplexity → fluency filter → self-trained NB language classification
    * → per-predicted-class unigram-JSD drift report) through the graft.Main
    * CLI, output root read back. The oracle replays the ENTIRE chain —
    * LM training and scoring, the avg_nll threshold, NB training ON THE
    * FILTERED SURVIVORS, the exact-integer argmax, and the JSD report
    * grouped by the PREDICTED class — reusing the per-stage gates' verified
    * SQL fragments CTE-by-CTE.
    */
  private val analysisPipeline: Gate = Gate(
    (s, dir) => {
      val tmp = stagingDir("graft_analysis_", dir)
      // fresh RUN state (out + checkpoints — stale ckpts would make Main
      // resume-skip the very stages under test), staged INPUTS kept
      rmTree(java.nio.file.Paths.get(tmp, "out"))
      rmTree(java.nio.file.Paths.get(tmp, "ckpt"))
      val overrides = stageAnalysisInputs(s, dir, tmp)
      // run in a DEDICATED session with the shuffle width scoped to the
      // corpus size (parquet-footer row count, no scan) — the same
      // mechanism the streaming gates use: 32 default partitions across a
      // 5-stage checkpointed pipeline is pure per-task scheduling floor at
      // snapshot scale (15.8 → 8.5 s min-of-5 at sf0.1's 5k docs with 4;
      // the r18 re-sweep moved the divisor 1250 → 2500: 6.17 → 5.70 s
      // min-of-4 at sf0.1's width 2, and x10 ALSO improved 12.0 → 8.0 s at
      // width 20 vs the 32 clamp), while a replicated scale run grows back
      // to full parallelism (~2.5k docs/partition, clamped to
      // defaultParallelism)
      val ss = s.newSession()
      val docRows = graft.plans.ParquetStats
        .rowCount(ss, s"$dir/documents.parquet").getOrElse(5000L)
      ss.conf.set("spark.sql.shuffle.partitions",
        math.max(2L, math.min(ss.sparkContext.defaultParallelism.toLong,
          docRows / 2500L)).toString)
      // checkpointRoot: each stage materializes ONCE. Without it the lazy
      // five-stage lineage re-executes shared subtrees per consumer — the
      // LM-train aggregate and the CSV parse appear many times in the final
      // DAG (Spark does not dedupe common subplans) — measured 29.9 → 9.5 s
      // at sf0.1. Staged per-stage persistence is also the reference's own
      // execution model (each MEDS stage writes its root before the next
      // reads it), so the checkpointed run is the like-for-like shape.
      // (filter_rows / js_divergence opt OUT via `checkpoint: false` — a
      // narrow filter and the final stage don't need their own roots.)
      // snapshot-scoped engine settings (keyed on DATA SIZE via the same
      // footer row count, NOT the core count — a replicated scale run keeps
      // the production behavior): under 100k docs the 5-stage checkpointed
      // run is job-floor-bound, and (a) AQE's per-exchange stage
      // materialization adds ~45 barrier futures for shuffles of a few KB
      // (A/B min-of-4 at sf0.1: 8.08 -> 7.32 s), (b) each checkpoint
      // read-back's >32-path file listing runs as a distributed job where a
      // driver-side listing is microseconds (12 listing jobs/run; with both:
      // 8.08 -> 6.36 s). Large corpora keep AQE's coalescing/skew handling
      // and the parallel listing — there the shuffles and file counts are
      // real.
      if (docRows < 100000L) {
        ss.conf.set("spark.sql.adaptive.enabled", "false")
        ss.conf.set("spark.sql.sources.parallelPartitionDiscovery.threshold", "256")
      }
      Main.run(Array(AnalysisYaml, s"$tmp/in", s"$tmp/out", s"$tmp/ckpt")
        ++ overrides, ss)
      graft.meds.MedsIO.read(s, s"$tmp/out").data
        .select(col("nb_pred"), col("n_tokens"), col("n_terms"), col("js_bits"))
        .orderBy("nb_pred")
    },
    Some("""WITH w AS (SELECT doc_id, lang, source,
      |  list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS ws
      | FROM documents),
      |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)),
      |  i -> {'w1': ws[i], 'w2': ws[i+1]})) AS b
      | FROM w WHERE len(ws) >= 2),
      |gr AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2, count(*) AS k
      | FROM bg GROUP BY 1,2,3),
      |lm AS (SELECT b.w1 AS w1, b.w2 AS w2, count(*) AS cnt FROM bg GROUP BY 1,2),
      |ctx AS (SELECT w1, sum(cnt) AS ctx FROM lm GROUP BY 1),
      |vv AS (SELECT count(DISTINCT wd) AS v FROM (
      | SELECT w1 AS wd FROM lm UNION ALL SELECT w2 FROM lm)),
      |ppl AS (SELECT gr.doc_id,
      |  -sum(gr.k * CAST(round((ln(coalesce(lm.cnt,0)+1.0)
      |    - ln(coalesce(ctx.ctx,0)+vv.v)) * 1000000) AS BIGINT))
      |    / (sum(gr.k) * 1000000.0) AS avg_nll
      | FROM gr LEFT JOIN lm USING (w1, w2) LEFT JOIN ctx USING (w1)
      | CROSS JOIN vv GROUP BY 1),
      |f AS (SELECT w.doc_id, w.lang, w.ws FROM w JOIN ppl USING (doc_id)
      | WHERE ppl.avg_nll <= 3.4),
      |tok AS (SELECT doc_id, lang, unnest(ws) AS token FROM f),
      |tc AS (SELECT lang AS label, token, count(*) AS cnt FROM tok GROUP BY 1,2),
      |pri AS (SELECT lang AS label, count(*) AS n_docs FROM f GROUP BY 1),
      |tot AS (SELECT label, sum(cnt) AS tot FROM tc GROUP BY 1),
      |v2 AS (SELECT count(DISTINCT token) AS v FROM tc),
      |n2 AS (SELECT sum(n_docs) AS n FROM pri),
      |cls AS (SELECT pri.label,
      |  CAST(round((ln(pri.n_docs) - ln(n2.n)) * 1000000) AS BIGINT) AS prior_e6,
      |  CAST(round(ln(coalesce(tot.tot, 0) + v2.v) * 1000000) AS BIGINT) AS lnt_e6
      | FROM pri LEFT JOIN tot USING (label) CROSS JOIN v2 CROSS JOIN n2),
      |tcs AS (SELECT token, label,
      |  CAST(round(ln(cnt + 1.0) * 1000000) AS BIGINT) AS lnc_e6 FROM tc),
      |g AS (SELECT doc_id, token, count(*) AS k FROM tok GROUP BY 1,2),
      |sums AS (SELECT g.doc_id, t.label, sum(g.k * t.lnc_e6) AS sum_e6
      | FROM g JOIN tcs t USING (token) GROUP BY 1,2),
      |kt AS (SELECT doc_id, sum(k) AS kk FROM g GROUP BY 1),
      |sc0 AS (SELECT kt.doc_id, cls.label,
      |  cls.prior_e6 + coalesce(sums.sum_e6, 0) - kt.kk * cls.lnt_e6 AS s_e6
      | FROM kt CROSS JOIN cls
      | LEFT JOIN sums ON sums.doc_id = kt.doc_id AND sums.label = cls.label),
      |best AS (SELECT doc_id,
      |  (min(struct_pack(ns := -s_e6, l := label))).l AS pred
      | FROM sc0 GROUP BY 1),
      |fp AS (SELECT f.doc_id, best.pred, f.ws FROM f JOIN best USING (doc_id)),
      |gw AS (SELECT pred AS gp, unnest(ws) AS tw FROM fp),
      |c3 AS (SELECT gp, tw, count(*) AS c FROM gw GROUP BY 1,2),
      |tg AS (SELECT gp, sum(c) AS tg FROM c3 GROUP BY 1),
      |cw AS (SELECT tw, sum(c) AS cw FROM c3 GROUP BY 1),
      |tt AS (SELECT sum(cw) AS t FROM cw),
      |j AS (SELECT c3.gp, max(tg.tg) AS n_tokens, count(*) AS n_terms,
      |  sum(CAST(round((CAST(c3.c AS DOUBLE)/tg.tg)
      |    * log2(2.0*(CAST(c3.c AS DOUBLE)/tg.tg)
      |      / ((CAST(c3.c AS DOUBLE)/tg.tg)+(CAST(cw.cw AS DOUBLE)/tt.t)))
      |    * 1000000000) AS BIGINT)) AS sp,
      |  sum(CAST(round((CAST(cw.cw AS DOUBLE)/tt.t)
      |    * log2(2.0*(CAST(cw.cw AS DOUBLE)/tt.t)
      |      / ((CAST(c3.c AS DOUBLE)/tg.tg)+(CAST(cw.cw AS DOUBLE)/tt.t)))
      |    * 1000000000) AS BIGINT)) AS sq,
      |  sum(CAST(round((CAST(cw.cw AS DOUBLE)/tt.t) * 1000000000) AS BIGINT)) AS qcov
      | FROM c3 JOIN cw USING (tw) JOIN tg USING (gp) CROSS JOIN tt
      | GROUP BY 1)
      |SELECT gp AS nb_pred, CAST(n_tokens AS BIGINT) AS n_tokens,
      | CAST(n_terms AS BIGINT) AS n_terms,
      | (sp + sq + 1000000000 - qcov) / 2e9 AS js_bits
      |FROM j ORDER BY nb_pred""".stripMargin))

  /** The corpus the composed curation gate (and its spec) runs on: the c4
    * gate's proven multi-line construction — six lines exercising every C4
    * rule arithmetically — which ALSO manufactures corpus-level duplicate
    * lines (the shared framing lines) for dedup_lines, shared n-grams for
    * decontamination, and near-identical single-line survivors for the
    * MinHash stage. ONE definition: the gate's oracle replays it in SQL
    * (`base` CTE) and a drift between the two would desynchronize them.
    */
  private[graft] def curationCorpus(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents").withColumn("text", concat_ws("\n",
      concat(substring(col("text"), 1, 40), lit(".")),
      lit("short line."),
      concat(col("source"), lit(" uses javascript on every page today.")),
      when(col("doc_id") % 7 === 0, lit("lorem ipsum dolor sit amet."))
        .when(col("doc_id") % 5 === 3, lit("no terminal punctuation here at all"))
        .otherwise(concat(col("lang"), lit(" words fill this line nicely fine."))),
      when(col("doc_id") % 11 === 0, lit("a code { block } appears."))
        .otherwise(lit("normal ending line with words here.")),
      substring(col("text"), 1, 60)))
      .select("doc_id", "text", "lang", "source")

  /** Stage the curation pipeline's per-run inputs under `tmp` and return
    * the Hydra-style overrides pointing the committed YAML at them — shared
    * by the gate below and CurationPipelineSpec.
    */
  private[graft] def stageCurationInputs(s: SparkSession, dir: String,
      tmp: String): Seq[String] = {
    // idempotent per sf-dir (same convention as the analysis gate): the
    // staged JSONL corpus, eval grams and input root are INPUTS, not
    // measured pipeline work — re-writing them per bench iteration only
    // inflates the gate (3 staged writes + their read-backs ≈ 0.9 s of the
    // timed run at sf0.1, JobProbe r17). The marker records the SOURCE
    // parquet's mtime, so regenerating the sf dir in place re-stages.
    val marker = java.nio.file.Paths.get(tmp, ".staged")
    if (!markerFresh(marker, s"$dir/documents.parquet")) {
      val corpus = curationCorpus(s, dir)
      graft.sources.CorpusSources.writeJsonl(corpus, s"$tmp/corpus")
      corpus.filter(col("doc_id") % 50 === 0).select("doc_id", "text")
        .write.mode("overwrite").parquet(s"$tmp/eval")
      // the runner contract needs SOME input root; the first stage replaces
      // it with the JSONL corpus (metadata tables: empty, at their schemas —
      // parquet cannot write a zero-column frame)
      def empty(schema: org.apache.spark.sql.types.StructType) =
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      graft.meds.MedsIO.write(graft.meds.MedsData(corpus.limit(1),
        empty(graft.meds.MedsSchema.codesSchema),
        empty(graft.meds.MedsSchema.splitsSchema)), s"$tmp/in")
      writeMarker(marker, s"$dir/documents.parquet")
    }
    Seq(s"stages.load_jsonl.path=$tmp/corpus",
      s"stages.decontaminate.eval_path=$tmp/eval")
  }

  private[graft] val CurationYaml: String =
    Seq("config/curation_pipeline.yaml",
      "/root/repo/config/curation_pipeline.yaml")
      .find(p => java.nio.file.Files.exists(java.nio.file.Paths.get(p)))
      .getOrElse("config/curation_pipeline.yaml")

  /** The COMPLETE curation pipeline as ONE composed gate — the committed
    * `config/curation_pipeline.yaml` (JSONL source → quality_filter →
    * c4_filter → dedup_lines → minhash_lsh_dedup → decontaminate →
    * resample_mix → pack_sequences) executed through the real CLI path:
    * graft.Main with per-run path overrides, MEDS dataset root write +
    * read-back. The oracle replays the ENTIRE chain in SQL, reusing the
    * per-stage gates' verified fragments CTE-by-CTE — any drift in any
    * stage's semantics, in stage composition order, or in the runner's
    * round-trip changes survivorship and breaks the hash. This is the
    * curation-layer analog of the MEDS example-pipeline e2e (reference
    * runner semantics: runner.py:291-370).
    */
  private val curationPipeline: Gate = Gate(
    (s, dir) => {
      val tmp = stagingDir("graft_curation_", dir)
      // fresh RUN state (the out root), staged INPUTS kept (marker-guarded
      // inside stageCurationInputs — the analysis gate's convention)
      rmTree(java.nio.file.Paths.get(tmp, "out"))
      val overrides = stageCurationInputs(s, dir, tmp)
      // NO checkpointRoot here (A/B'd: 3.4 s plain vs 7.9 s checkpointed at
      // sf0.1): unlike analysisPipeline, these stages are cheap row
      // transforms whose heavy members (MinHash CC, decontaminate grams)
      // already persist internally, so nine per-stage root writes only add
      // job floor. (r18 A/B: a DEDICATED session here — shuffle width 4,
      // AQE off, driver-side listing, the analysis gate's treatment — reads
      // 3.59-3.65 s vs 2.48 s on the shared session: these stages' internal
      // persists already amortize the width, and the session's own floor
      // costs more than it saves. Left on the shared session deliberately.)
      Main.run(Array(CurationYaml, s"$tmp/in", s"$tmp/out") ++ overrides, s)
      graft.meds.MedsIO.read(s, s"$tmp/out").data
        .select(col("doc_id"), col("pack_shard").cast(LongType).as("shard"),
          col("n_tokens"), col("offset"), col("seq_idx"), col("straddles"))
        .orderBy("doc_id")
    },
    Some(curationOracle))

  /** One SQL replay of the full curation chain. Fragment reuse: the
    * quality rules are the (verified) quality_filter_stage formulas, the
    * line dedup is the dedup_lines gate's CTE shape, the near-dup closure
    * is the minhash_lsh_dedup_stage oracle with [[shingleHashCtes]] /
    * [[minhashCandCtes]] retargeted from `documents` to the line-deduped
    * corpus, decontamination is the decontaminate gates' gram replay
    * (n=4), and resampling/packing replay the Sampling/Packing hash
    * arithmetic their own gates verify.
    */
  private lazy val curationOracle: String = {
    val head =
      """WITH RECURSIVE base AS (
        |  SELECT doc_id, lang, source,
        |   substr(text,1,40) || '.' || chr(10) ||
        |   'short line.' || chr(10) ||
        |   source || ' uses javascript on every page today.' || chr(10) ||
        |   (CASE WHEN doc_id%7=0 THEN 'lorem ipsum dolor sit amet.'
        |         WHEN doc_id%5=3 THEN 'no terminal punctuation here at all'
        |         ELSE lang || ' words fill this line nicely fine.' END) || chr(10) ||
        |   (CASE WHEN doc_id%11=0 THEN 'a code { block } appears.'
        |         ELSE 'normal ending line with words here.' END) || chr(10) ||
        |   substr(text,1,60) AS text
        |  FROM documents),
        |qw AS (SELECT doc_id,
        |   CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
        |     ELSE regexp_split_to_array(trim(text), '\s+') END AS words FROM base),
        |q AS (SELECT doc_id FROM qw
        |  WHERE len(words) >= 40
        |    AND (CASE WHEN len(words) > 0
        |      THEN 1.0 - CAST(len(list_distinct(words)) AS DOUBLE)/len(words)
        |      ELSE 0.0 END) <= 0.6),
        |c4 AS (
        |  SELECT d.doc_id, d.lang, d.source,
        |   substr(d.text,1,40) || '.' || chr(10) ||
        |   d.lang || ' words fill this line nicely fine.' || chr(10) ||
        |   'normal ending line with words here.' AS text
        |  FROM documents d JOIN q USING(doc_id)
        |  WHERE d.doc_id % 7 != 0 AND d.doc_id % 11 != 0 AND d.doc_id % 5 != 3),
        |lt AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM c4),
        |ll AS (SELECT doc_id, u.pos AS pos, u.ln AS ln FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(ls)+1),
        |    i -> {'pos': i-1, 'ln': ls[i]})) AS u FROM lt)),
        |lh AS (SELECT doc_id, pos, ln,
        |  ('0x' || substr(md5(ln),1,14))::BIGINT AS lhash FROM ll),
        |lf AS (SELECT lhash, min(struct_pack(d := doc_id, p := pos)) AS fr
        |  FROM lh GROUP BY 1),
        |lk AS (SELECT lh.doc_id, lh.pos, lh.ln FROM lh JOIN lf USING(lhash)
        |  WHERE lh.doc_id = fr.d AND lh.pos = fr.p),
        |dl AS (SELECT c4.doc_id, c4.lang, c4.source, coalesce(lr.newtext, '') AS text
        |  FROM c4 LEFT JOIN (SELECT doc_id, string_agg(ln, chr(10) ORDER BY pos) AS newtext
        |    FROM lk GROUP BY 1) lr USING(doc_id)),""".stripMargin
    val tail =
      """pairs AS (
        |  SELECT cand.id_a, cand.id_b
        |  FROM cand
        |  JOIN sigs sa ON sa.doc_id = cand.id_a
        |  JOIN sigs sb ON sb.doc_id = cand.id_b AND sb.perm = sa.perm
        |  GROUP BY 1,2
        |  HAVING avg(CASE WHEN sa.minhash = sb.minhash THEN 1.0 ELSE 0.0 END) >= 0.5),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |dropped AS (
        |  SELECT src AS id FROM reach GROUP BY src
        |  HAVING least(src, min(dst)) != src),
        |mh AS (SELECT * FROM dl WHERE doc_id NOT IN (SELECT id FROM dropped)),
        |tg AS (SELECT doc_id,
        |  unnest(list_transform(range(1, len(ws)-2), i -> array_to_string(ws[i:i+3], ' '))) AS gr
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM mh)
        |  WHERE len(ws) >= 4),
        |eg AS (SELECT DISTINCT
        |  unnest(list_transform(range(1, len(ws)-2), i -> array_to_string(ws[i:i+3], ' '))) AS gr
        |  FROM (SELECT regexp_split_to_array(trim(text), '\s+') AS ws
        |        FROM base WHERE doc_id % 50 = 0)
        |  WHERE len(ws) >= 4),
        |bad AS (SELECT DISTINCT tg.doc_id FROM tg JOIN eg USING(gr)),
        |dec AS (SELECT * FROM mh WHERE doc_id NOT IN (SELECT doc_id FROM bad)),
        |rs AS (SELECT doc_id, text FROM (
        |  SELECT doc_id, text,
        |   CASE source WHEN 'src0' THEN 0.5 WHEN 'src1' THEN 0.25
        |    WHEN 'src2' THEN 0.0 ELSE 1.0 END AS rate,
        |   (('0x' || substr(md5(doc_id::VARCHAR || ':7'),1,14))::BIGINT % 1000000000)/1000000000.0 AS u
        |  FROM dec WHERE doc_id IS NOT NULL)
        |  WHERE CAST(floor(rate) AS BIGINT) +
        |    (CASE WHEN u < rate - floor(rate) THEN 1 ELSE 0 END) > 0),
        |pk AS (SELECT doc_id,
        |   ('0x' || substr(md5(doc_id::VARCHAR || ':shard:42'),1,14))::BIGINT % 4 AS shard,
        |   (('0x' || substr(md5(doc_id::VARCHAR || ':42'),1,14))::BIGINT % 1000000000)/1000000000.0 AS u,
        |   CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |     ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens
        |  FROM rs),
        |pko AS (SELECT doc_id, shard, n_tokens,
        |   CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY u, doc_id
        |     ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS "offset"
        |  FROM pk)
        |SELECT doc_id, CAST(shard AS BIGINT) AS shard, n_tokens, "offset",
        | CAST("offset" // 128 AS BIGINT) AS seq_idx,
        | ("offset" % 128) + n_tokens > 128 AS straddles
        |FROM pko ORDER BY doc_id""".stripMargin
    head + "\n" +
      shingleHashCtes.replace("FROM documents", "FROM dl") + ",\n" +
      minhashCandCtes + ",\n" + tail
  }

  /** Per-(shard, window) packing summary over the same layout the
    * pack_sequences gate verifies — doc/token counts per capacity window
    * plus the stream-end/fullness invariants a loader manifest needs.
    */
  private val packingSummaryGate: Gate = Gate(
    (s, dir) => Packing.packingSummary(
      Packing.packSequences(table(s, dir, "documents"),
        "doc_id", "text", capacity = 256, shards = 8), capacity = 256)
      .select(col("shard"), col("seq_idx"), col("n_docs"),
        col("n_tokens_started"), col("stream_end"), col("full"))
      .orderBy("shard", "seq_idx"),
    Some("""WITH t AS (
      |  SELECT doc_id,
      |   ('0x' || substr(md5(doc_id::VARCHAR || ':shard:42'),1,14))::BIGINT % 8 AS shard,
      |   (('0x' || substr(md5(doc_id::VARCHAR || ':42'),1,14))::BIGINT % 1000000000)/1000000000.0 AS u,
      |   CAST(CASE WHEN length(trim(text)) = 0 THEN 0
      |     ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens
      |  FROM documents WHERE doc_id IS NOT NULL),
      |o AS (SELECT doc_id, shard, n_tokens,
      |   CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY u, doc_id
      |     ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS "offset"
      |  FROM t),
      |g AS (SELECT shard, CAST("offset" // 256 AS BIGINT) AS seq_idx,
      |   CAST(count(*) AS BIGINT) AS n_docs,
      |   CAST(sum(n_tokens) AS BIGINT) AS n_tokens_started,
      |   CAST(max("offset" + n_tokens) AS BIGINT) AS stream_end
      |  FROM o GROUP BY 1, 2)
      |SELECT shard, seq_idx, n_docs, n_tokens_started, stream_end,
      | stream_end >= (seq_idx + 1) * 256 AS full
      |FROM g ORDER BY shard, seq_idx""".stripMargin))

  /** Token-budget cap under oracle verification: 2000 tokens per `lang`
    * stratum (cuts at every SF — per-lang corpora run ~4k tokens at
    * sf0.01), straddler-kept semantics, hash-order determinism replayed by
    * the oracle's identical cumulative-sum arithmetic.
    */
  private val tokenBudgetCap: Gate = Gate(
    (s, dir) => Sampling.tokenBudgetCap(table(s, dir, "documents"),
      "doc_id", "text", budgetTokens = 2000L, stratumCol = Some("lang"))
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id"),
    Some("""WITH t AS (
      |  SELECT doc_id, lang,
      |   (('0x' || substr(md5(doc_id::VARCHAR || ':42'),1,14))::BIGINT % 1000000000)/1000000000.0 AS u,
      |   CAST(CASE WHEN length(trim(text)) = 0 THEN 0
      |     ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS tok
      |  FROM documents WHERE doc_id IS NOT NULL),
      |c AS (SELECT doc_id, lang,
      |   sum(tok) OVER (PARTITION BY lang ORDER BY u, doc_id
      |     ROWS UNBOUNDED PRECEDING) - tok AS pre
      |  FROM t)
      |SELECT doc_id, lang FROM c WHERE pre < 2000
      |ORDER BY doc_id""".stripMargin))

  private def media(s: SparkSession, dir: String): DataFrame =
    Multimodal.asMediaTable(table(s, dir, "documents"), "doc_id", "text")

  private val multimodalMeta: Gate = Gate(
    (s, dir) => Multimodal.payloadMetadata(media(s, dir))
      .select(col("media_id"), col("mime_type"),
        col("n_bytes").cast(LongType).as("n_bytes"), col("sha256"))
      .orderBy("media_id"),
    Some("""SELECT doc_id AS media_id, 'text/plain' AS mime_type,
      | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      | sha256(text) AS sha256
      |FROM documents ORDER BY media_id""".stripMargin))

  /** The documents scan spread to the session's parallelism BEFORE payload
    * synthesis — the synthetic-media gates' input. The codec work downstream
    * is per-ROW CPU (a real decoder), but a toy corpus arrives as ONE input
    * split, so synth+decode would run single-threaded while 31 cores idle
    * (TfIdfProbe r17: one 1.0 s-CPU task for 2000 frames). The spread MUST
    * sit below the payload projection: only doc_id crosses the exchange and
    * the blobs are synthesized after it, in parallel. Repartitioning the
    * synthesized frame instead measured 9-89 s/run at x10 (one task
    * materializing + sorting + shuffling every blob — the guide §8 "never
    * move the heavy bytes" lesson).
    *
    * Fires ONLY for the degenerate single-split input (§2.5's "one huge
    * unsplittable file"): once the scan has ≥2 splits, Spark's own split
    * sizing already scales parallelism with the data, and an A/B at x10
    * (5 splits, Bench methodology min-of-4) measured the forced 32-way
    * exchange SLOWER than the natural 5-way scan (frames 1.60→3.46 s,
    * audio 2.71→3.39 s — 32 concurrent decoders contend on allocation),
    * while at sf0.1's single split the same spread wins 1.85→0.76 s.
    *
    * Used ONLY by the two gates whose per-row decode is genuinely
    * expensive — multi-frame GIF sampling and the AVI walk + per-frame
    * JPEG decode. The other six codec gates' decoders are microseconds/row
    * and the exchange is pure overhead there (VERDICT r17 #3; r18 A/B at
    * sf0.1, min-of-4, spread vs not: frames 1.05→0.74, video 1.21→0.70
    * WITH the spread, but audio 0.55→0.92, adpcm 0.38→0.91,
    * ulaw 0.49→0.87, png 0.39→0.70, jpeg 0.56→0.71, resize 0.34→0.68
    * AGAINST it — those use [[docIds]]).
    */
  private def spreadDocs(s: SparkSession, dir: String): DataFrame = {
    val d = docIds(s, dir)
    val target = s.sparkContext.defaultParallelism
    if (target > 1 && d.rdd.getNumPartitions == 1) d.repartition(target) else d
  }

  /** The unspread doc_id scan — input of the codec gates whose decode is
    * too cheap to amortize a spread exchange (see [[spreadDocs]]).
    */
  private def docIds(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents").select("doc_id")

  /** REAL-PNG media table: one [[graft.plans.PngSynth]] payload per document,
    * dimensions derived from `doc_id` (w in 4..11, h in 3..9) so every gate
    * row exercises a different geometry. The payload is a spec-complete
    * truecolor PNG whose pixels follow the documented `(id, x, y)` formula —
    * the oracle never sees the bytes, it recomputes the decoded values
    * arithmetically.
    */
  private def pngMedia(s: SparkSession, dir: String): DataFrame =
    docIds(s, dir).select(
      col("doc_id").cast(LongType).as("media_id"),
      graft.plans.PngSynth.png(col("doc_id").cast(LongType),
        (col("doc_id") % 8 + 4).cast("int"),
        (col("doc_id") % 7 + 3).cast("int")).as("payload"),
      lit("image/png").as("mime_type"))

  /** The REAL `javax.imageio` decoder over real PNG payloads; the oracle
    * replays the synth pixel formula (sum of all three channels over the
    * raster, integer mean) per row via a lateral `range(0, w·h)`.
    */
  private val multimodalDecode: Gate = Gate(
    (s, dir) => Multimodal.decodeBatched(pngMedia(s, dir))
      .select(col("media_id"), col("format"), col("width"), col("height"),
        col("mean_intensity"))
      .orderBy("media_id"),
    Some("""WITH dims AS (
      |  SELECT doc_id AS media_id, doc_id % 8 + 4 AS w, doc_id % 7 + 3 AS h,
      |         doc_id % 251 AS b
      |  FROM documents),
      |px AS (
      |  SELECT d.media_id, d.w, d.h,
      |    sum((d.b + r.s) % 256 + (d.b + 2*r.s + 7) % 256
      |        + (d.b + 3*r.s + 13) % 256) AS total
      |  FROM dims d, LATERAL (SELECT unnest(range(0, d.w*d.h)) AS s) r
      |  GROUP BY 1, 2, 3)
      |SELECT media_id, 'png' AS format, CAST(w AS BIGINT) AS width,
      |  CAST(h AS BIGINT) AS height,
      |  CAST(total // (3*w*h) AS BIGINT) AS mean_intensity
      |FROM px ORDER BY media_id""".stripMargin))

  /** The REAL JDK JPEG decoder over real baseline-JPEG payloads — the lossy
    * member of the codec matrix, made hash-checkable by
    * [[graft.plans.JpegSynth]]'s DC-only construction (flat 8×8 blocks with
    * q00 = 8 decode bit-exactly to `g_k = (b + 23k) % 256` gray; see the
    * expression doc for the exactness argument). Geometry varies per row
    * (1..5 × 1..3 blocks); the oracle replays block means arithmetically:
    * mean_intensity = floor(Σ 192·g_k ∕ 192·nb) = Σ g_k ∕ nb (integer).
    */
  private val multimodalDecodeJpeg: Gate = Gate(
    (s, dir) => Multimodal.decodeBatched(
      docIds(s, dir).select(
        col("doc_id").cast(LongType).as("media_id"),
        graft.plans.JpegSynth.jpeg(col("doc_id").cast(LongType),
          (col("doc_id") % 5 + 1).cast("int"),
          (col("doc_id") % 3 + 1).cast("int")).as("payload")))
      .select(col("media_id"), col("format"), col("width"), col("height"),
        col("mean_intensity"))
      .orderBy("media_id"),
    Some("""WITH dims AS (
      |  SELECT doc_id AS media_id, doc_id % 5 + 1 AS wb, doc_id % 3 + 1 AS hb,
      |         doc_id % 251 AS b
      |  FROM documents),
      |px AS (
      |  SELECT d.media_id, d.wb, d.hb,
      |    sum((d.b + 23*r.k) % 256) AS total
      |  FROM dims d, LATERAL (SELECT unnest(range(0, d.wb*d.hb)) AS k) r
      |  GROUP BY 1, 2, 3)
      |SELECT media_id, 'jpeg' AS format, CAST(wb*8 AS BIGINT) AS width,
      |  CAST(hb*8 AS BIGINT) AS height,
      |  CAST(total // (wb*hb) AS BIGINT) AS mean_intensity
      |FROM px ORDER BY media_id""".stripMargin))

  /** The codec matrix's VIDEO pixel gate: real MJPEG-in-AVI payloads
    * ([[graft.plans.AviSynth]] — public RIFF/AVI container around
    * [[graft.plans.JpegSynth]] DC-only frames) through
    * `Multimodal.videoFrames`'s container walk + the REAL JDK JPEG
    * decoder. Geometry and frame count vary per row (1..4 × 1..2 blocks,
    * 2..4 frames); frame `f`'s block `k` decodes to
    * `((doc_id + 89f) % 251 + 23k) % 256` gray (the JpegSynth exactness
    * argument, shifted per frame), which the oracle replays
    * arithmetically per (doc, frame, block).
    */
  private val videoFramesMjpeg: Gate = Gate(
    (s, dir) => Multimodal.videoFrames(
      spreadDocs(s, dir).select(
        col("doc_id").cast(LongType).as("media_id"),
        graft.plans.AviSynth.avi(col("doc_id").cast(LongType),
          (col("doc_id") % 4 + 1).cast("int"),
          (col("doc_id") % 2 + 1).cast("int"),
          (col("doc_id") % 3 + 2).cast("int")).as("payload")))
      .orderBy("media_id", "frame_idx"),
    Some("""WITH dims AS (
      |  SELECT doc_id AS media_id, doc_id % 4 + 1 AS wb, doc_id % 2 + 1 AS hb,
      |         doc_id % 3 + 2 AS nf
      |  FROM documents),
      |fr AS (
      |  SELECT d.*, f.f FROM dims d,
      |    LATERAL (SELECT unnest(range(0, d.nf)) AS f) f),
      |px AS (
      |  SELECT fr.media_id, fr.f, fr.wb, fr.hb,
      |    sum(((fr.media_id + 89*fr.f) % 251 + 23*r.k) % 256) AS total
      |  FROM fr, LATERAL (SELECT unnest(range(0, fr.wb*fr.hb)) AS k) r
      |  GROUP BY 1, 2, 3, 4)
      |SELECT media_id, CAST(f AS BIGINT) AS frame_idx, 'avi' AS container,
      |  'jpeg' AS format, CAST(wb*8 AS BIGINT) AS width,
      |  CAST(hb*8 AS BIGINT) AS height,
      |  CAST(total // (wb*hb) AS BIGINT) AS mean_intensity
      |FROM px ORDER BY media_id, frame_idx""".stripMargin))

  /** Decode + FIXED-POINT bilinear resize to 8×8 over real PNG payloads;
    * because every weight is 16.16 integer arithmetic, the oracle replays
    * the interpolation exactly — `fy = ty·(h−1)·65536 // 7`, the four-tap
    * blend, the `+2³¹ >> 32` rounding — as BIGINT CASE arithmetic over the
    * 8·8·3 target-sample grid, then hashes the same lowercase-hex raster
    * string. Any disagreement between the JDK decoder, the Scala resampler,
    * and the SQL replay breaks the digest.
    */
  private val multimodalResize: Gate = Gate(
    (s, dir) => Multimodal.resizeImages(pngMedia(s, dir), targetW = 8, targetH = 8)
      .orderBy("media_id"),
    Some("""WITH dims AS (
      |  SELECT doc_id AS media_id, doc_id % 8 + 4 AS w, doc_id % 7 + 3 AS h,
      |         doc_id % 251 AS b
      |  FROM documents),
      |grid AS (
      |  SELECT d.*, t1.range AS ty, t2.range AS tx, c.range AS ch
      |  FROM dims d, range(0,8) t1, range(0,8) t2, range(0,3) c),
      |fp AS (
      |  SELECT *, ty*(h-1)*65536 // 7 AS fy, tx*(w-1)*65536 // 7 AS fx FROM grid),
      |co AS (
      |  SELECT *, fy // 65536 AS y0, fy % 65536 AS dy,
      |         least(fy // 65536 + 1, h-1) AS y1,
      |         fx // 65536 AS x0, fx % 65536 AS dx,
      |         least(fx // 65536 + 1, w-1) AS x1
      |  FROM fp),
      |pix AS (
      |  SELECT media_id, w, h, ty, tx, ch, dy, dx,
      |    CASE ch WHEN 0 THEN (b + (y0*w+x0)) % 256 WHEN 1 THEN (b + 2*(y0*w+x0) + 7) % 256 ELSE (b + 3*(y0*w+x0) + 13) % 256 END AS p00,
      |    CASE ch WHEN 0 THEN (b + (y0*w+x1)) % 256 WHEN 1 THEN (b + 2*(y0*w+x1) + 7) % 256 ELSE (b + 3*(y0*w+x1) + 13) % 256 END AS p01,
      |    CASE ch WHEN 0 THEN (b + (y1*w+x0)) % 256 WHEN 1 THEN (b + 2*(y1*w+x0) + 7) % 256 ELSE (b + 3*(y1*w+x0) + 13) % 256 END AS p10,
      |    CASE ch WHEN 0 THEN (b + (y1*w+x1)) % 256 WHEN 1 THEN (b + 2*(y1*w+x1) + 7) % 256 ELSE (b + 3*(y1*w+x1) + 13) % 256 END AS p11
      |  FROM co),
      |samp AS (
      |  SELECT media_id, w, h, ty, tx, ch,
      |    ((p00*(65536-dx) + p01*dx) * (65536-dy)
      |     + (p10*(65536-dx) + p11*dx) * dy + 2147483648) // 4294967296 AS v
      |  FROM pix),
      |hx AS (
      |  SELECT media_id, any_value(w) AS w, any_value(h) AS h,
      |    string_agg(printf('%02x', v), '' ORDER BY ty, tx, ch) AS hexstr
      |  FROM samp GROUP BY media_id)
      |SELECT media_id, CAST(8 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height,
      |  round(w/8.0, 4) AS scale_x, round(h/8.0, 4) AS scale_y,
      |  sha256(hexstr) AS resized_digest
      |FROM hx ORDER BY media_id""".stripMargin))

  /** REAL multi-frame sampling: [[graft.plans.GifSynth]] animated-GIF
    * payloads (w in 3..8, h in 3..7, 2..5 frames per doc) through the JDK
    * GIF reader's `getNumImages`/`read(idx)` random access; the oracle
    * replays the sampled-frame formula `(b + s + 17·idx) % 256` — index
    * selection, per-frame mean, and the red-channel hex digest — entirely
    * arithmetically.
    */
  private val multimodalFrames: Gate = Gate(
    (s, dir) => Multimodal.sampleFrames(
      spreadDocs(s, dir).select(
        col("doc_id").cast(LongType).as("media_id"),
        graft.plans.GifSynth.gif(col("doc_id").cast(LongType),
          (col("doc_id") % 6 + 3).cast("int"),
          (col("doc_id") % 5 + 3).cast("int"),
          (col("doc_id") % 4 + 2).cast("int")).as("payload")),
      n = 4)
      .orderBy("media_id", "sample_ord"),
    Some("""WITH dims AS (
      |  SELECT doc_id AS media_id, doc_id % 6 + 3 AS w, doc_id % 5 + 3 AS h,
      |         doc_id % 4 + 2 AS fcnt, doc_id % 251 AS b
      |  FROM documents),
      |samp AS (
      |  SELECT d.*, j.range AS j, (j.range * (d.fcnt-1)) // 3 AS idx
      |  FROM dims d, range(0,4) j),
      |px AS (
      |  SELECT sp.media_id, sp.j, sp.idx, sp.fcnt, sp.w, sp.h,
      |    sum((sp.b + r.s + 17*sp.idx) % 256) AS total,
      |    string_agg(printf('%02x', (sp.b + r.s + 17*sp.idx) % 256), ''
      |      ORDER BY r.s) AS hexstr
      |  FROM samp sp, LATERAL (SELECT unnest(range(0, sp.w*sp.h)) AS s) r
      |  GROUP BY 1, 2, 3, 4, 5, 6)
      |SELECT media_id, CAST(j AS INT) AS sample_ord,
      |  CAST(idx AS BIGINT) AS frame_idx, CAST(fcnt AS BIGINT) AS n_frames,
      |  CAST(total // (w*h) AS BIGINT) AS mean_intensity,
      |  sha256(hexstr) AS frame_digest
      |FROM px ORDER BY media_id, sample_ord""".stripMargin))

  /** REAL audio sample decode: [[graft.plans.WavSynth]] RIFF/WAVE PCM
    * payloads (100..499 samples, 8/12/16 kHz by doc_id) through the JDK's
    * `javax.sound.sampled` WAVE reader; every 9th payload is truncated
    * after "RIFF" and must yield a null-fielded row, not a scan failure.
    * The oracle replays the sample formula `v16 = (b + 37·i) mod 65536`
    * (AudioExpressions.scala) — integer duration, mean/peak |sample|, and
    * the %04x bit-pattern digest — entirely arithmetically.
    */
  private val audioDecode: Gate = Gate(
    (s, dir) => Multimodal.decodeAudio(
      docIds(s, dir).select(
        col("doc_id").cast(LongType).as("media_id"),
        when(col("doc_id") % 9 === 0, unhex(lit("52494646")))
          .otherwise(graft.plans.WavSynth.wav(col("doc_id").cast(LongType),
            (col("doc_id") % 400 + 100).cast("int"),
            (col("doc_id") % 3 * 4000 + 8000).cast("int"))).as("payload")))
      .orderBy("media_id"),
    Some("""WITH dims AS (
      |  SELECT doc_id AS media_id, doc_id % 400 + 100 AS n,
      |         doc_id % 3 * 4000 + 8000 AS rate, doc_id % 251 AS b,
      |         doc_id % 9 = 0 AS corrupt
      |  FROM documents),
      |sm AS (
      |  SELECT d.media_id, sp.i, (d.b + 37 * sp.i) % 65536 AS v16
      |  FROM dims d, LATERAL (SELECT unnest(range(0, d.n)) AS i) sp
      |  WHERE NOT d.corrupt),
      |ag AS (
      |  SELECT media_id,
      |    CAST(sum(CASE WHEN v16 >= 32768 THEN 65536 - v16 ELSE v16 END) AS BIGINT) AS total_abs,
      |    CAST(max(CASE WHEN v16 >= 32768 THEN 65536 - v16 ELSE v16 END) AS BIGINT) AS peak_abs,
      |    string_agg(printf('%04x', v16), '' ORDER BY i) AS hexstr
      |  FROM sm GROUP BY 1)
      |SELECT d.media_id,
      |  CASE WHEN d.corrupt THEN NULL ELSE 'wave' END AS format,
      |  CASE WHEN d.corrupt THEN NULL ELSE CAST(d.rate AS BIGINT) END AS sample_rate,
      |  CASE WHEN d.corrupt THEN NULL ELSE CAST(1 AS BIGINT) END AS channels,
      |  CASE WHEN d.corrupt THEN NULL ELSE CAST(16 AS BIGINT) END AS bits,
      |  CASE WHEN d.corrupt THEN NULL ELSE CAST(d.n AS BIGINT) END AS n_frames,
      |  CASE WHEN d.corrupt THEN NULL
      |       ELSE CAST(d.n * 1000000 // d.rate AS BIGINT) END AS duration_us,
      |  CAST(a.total_abs // d.n AS BIGINT) AS mean_abs,
      |  a.peak_abs,
      |  sha256(a.hexstr) AS pcm_digest
      |FROM dims d LEFT JOIN ag a USING (media_id)
      |ORDER BY d.media_id""".stripMargin))

  /** REAL non-PCM audio decode: [[graft.plans.AuSynth]] Sun/NeXT `.snd`
    * payloads carrying 8-bit G.711 μ-law (80..379 samples at 8 kHz — the
    * telephony container/encoding pair) through the JDK's AU reader, with
    * the engine expanding each byte via the exact public g711 integer
    * arithmetic; every 9th payload is truncated after the magic and must
    * yield a null-fielded row. The oracle replays byte formula AND
    * expansion — `v = 255−u; t = ((v%16)·8+132)·2^((v∕16)%8);
    * s = ±(t−132)` — duration, mean/peak |sample|, and the %04x
    * bit-pattern digest, entirely arithmetically.
    */
  private val audioDecodeUlaw: Gate = Gate(
    (s, dir) => Multimodal.decodeAudio(
      docIds(s, dir).select(
        col("doc_id").cast(LongType).as("media_id"),
        when(col("doc_id") % 9 === 0, unhex(lit("2e736e64")))
          .otherwise(graft.plans.AuSynth.au(col("doc_id").cast(LongType),
            (col("doc_id") % 300 + 80).cast("int"),
            lit(8000))).as("payload")))
      .orderBy("media_id"),
    Some("""WITH dims AS (
      |  SELECT doc_id AS media_id, doc_id % 300 + 80 AS n,
      |         doc_id % 251 AS b, doc_id % 9 = 0 AS corrupt
      |  FROM documents),
      |sm AS (
      |  SELECT d.media_id, sp.i, 255 - ((d.b + 11 * sp.i) % 256) AS v
      |  FROM dims d, LATERAL (SELECT unnest(range(0, d.n)) AS i) sp
      |  WHERE NOT d.corrupt),
      |ex AS (
      |  SELECT media_id, i,
      |    CASE WHEN v >= 128
      |      THEN 132 - (((v % 16) * 8 + 132) * (1 << ((v // 16) % 8)))
      |      ELSE (((v % 16) * 8 + 132) * (1 << ((v // 16) % 8))) - 132
      |    END AS sv
      |  FROM sm),
      |ag AS (
      |  SELECT media_id,
      |    CAST(sum(abs(sv)) AS BIGINT) AS total_abs,
      |    CAST(max(abs(sv)) AS BIGINT) AS peak_abs,
      |    string_agg(printf('%04x',
      |      CASE WHEN sv < 0 THEN sv + 65536 ELSE sv END), ''
      |      ORDER BY i) AS hexstr
      |  FROM ex GROUP BY 1)
      |SELECT d.media_id,
      |  CASE WHEN d.corrupt THEN NULL ELSE 'au' END AS format,
      |  CASE WHEN d.corrupt THEN NULL ELSE CAST(8000 AS BIGINT) END AS sample_rate,
      |  CASE WHEN d.corrupt THEN NULL ELSE CAST(1 AS BIGINT) END AS channels,
      |  CASE WHEN d.corrupt THEN NULL ELSE CAST(8 AS BIGINT) END AS bits,
      |  CASE WHEN d.corrupt THEN NULL ELSE CAST(d.n AS BIGINT) END AS n_frames,
      |  CASE WHEN d.corrupt THEN NULL
      |       ELSE CAST(d.n * 1000000 // 8000 AS BIGINT) END AS duration_us,
      |  CAST(a.total_abs // d.n AS BIGINT) AS mean_abs,
      |  a.peak_abs,
      |  sha256(a.hexstr) AS pcm_digest
      |FROM dims d LEFT JOIN ag a USING (media_id)
      |ORDER BY d.media_id""".stripMargin))

  /** REAL compressed-audio decode: [[graft.plans.AdpcmSynth]] IMA/DVI ADPCM
    * WAVE payloads (fmt tag 0x11, 100..499 samples, 8/12/16 kHz by doc_id)
    * through the ENGINE'S OWN integer predictor decode (the JDK ships no
    * ADPCM codec); every 9th payload truncated after "RIFF" → null row.
    * The oracle replays the predictor RECURRENCE itself — per block
    * (header predictor 0 / step index 0 = sample 0, then 16 nibbles
    * low-first, nib_g = (b + 7g) mod 16) as a 17-deep recursive CTE over
    * the public step/index tables with the exact clamp arithmetic — then
    * the stats/digest conventions of the other audio gates. Any drift in a
    * table entry, a clamp bound, nibble order, or the block layout breaks
    * the hash.
    */
  private val audioDecodeAdpcm: Gate = Gate(
    (s, dir) => Multimodal.decodeAudio(
      docIds(s, dir).select(
        col("doc_id").cast(LongType).as("media_id"),
        when(col("doc_id") % 9 === 0, unhex(lit("52494646")))
          .otherwise(graft.plans.AdpcmSynth.adpcm(col("doc_id").cast(LongType),
            (col("doc_id") % 400 + 100).cast("int"),
            (col("doc_id") % 3 * 4000 + 8000).cast("int"))).as("payload")))
      .orderBy("media_id"),
    Some {
      val stepValues = ImaStepTable.zipWithIndex
        .map { case (v, i) => s"($i,$v)" }.mkString(", ")
      s"""WITH RECURSIVE dims AS (
      |  SELECT doc_id AS media_id, doc_id % 400 + 100 AS n,
      |         doc_id % 3 * 4000 + 8000 AS rate, doc_id % 251 AS b,
      |         doc_id % 9 = 0 AS corrupt
      |  FROM documents),
      |steps(si, sv) AS (VALUES $stepValues),
      |blocks AS (
      |  SELECT d.media_id, d.b, d.n, bp.blk
      |  FROM dims d, LATERAL (SELECT unnest(range(0, (d.n + 16) // 17)) AS blk) bp
      |  WHERE NOT d.corrupt),
      |st AS (
      |  SELECT media_id, b, n, blk, CAST(0 AS BIGINT) AS k,
      |         CAST(0 AS BIGINT) AS pred, CAST(0 AS BIGINT) AS idx
      |  FROM blocks
      |  UNION ALL
      |  SELECT media_id, b, n, blk, k + 1,
      |    greatest(-32768, least(32767,
      |      pred + (CASE WHEN (nib & 8) != 0 THEN -d ELSE d END))),
      |    greatest(0, least(88,
      |      idx + (CASE WHEN (nib % 8) < 4 THEN -1 ELSE 2 * ((nib % 8) - 3) END)))
      |  FROM (
      |    SELECT st.media_id, st.b, st.n, st.blk, st.k, st.pred, st.idx,
      |      ((st.b + 7 * (st.blk * 16 + st.k)) % 16) AS nib,
      |      (s.sv // 8)
      |       + (CASE WHEN (((st.b + 7 * (st.blk * 16 + st.k)) % 16) & 4) != 0
      |           THEN s.sv ELSE 0 END)
      |       + (CASE WHEN (((st.b + 7 * (st.blk * 16 + st.k)) % 16) & 2) != 0
      |           THEN s.sv // 2 ELSE 0 END)
      |       + (CASE WHEN (((st.b + 7 * (st.blk * 16 + st.k)) % 16) & 1) != 0
      |           THEN s.sv // 4 ELSE 0 END) AS d
      |    FROM st JOIN steps s ON s.si = st.idx
      |    WHERE st.k < 16 AND st.blk * 17 + st.k + 1 < st.n)),
      |ag AS (
      |  SELECT media_id,
      |    CAST(sum(abs(pred)) AS BIGINT) AS total_abs,
      |    CAST(max(abs(pred)) AS BIGINT) AS peak_abs,
      |    string_agg(printf('%04x',
      |      CASE WHEN pred < 0 THEN pred + 65536 ELSE pred END), ''
      |      ORDER BY blk * 17 + k) AS hexstr
      |  FROM st GROUP BY 1)
      |SELECT d.media_id,
      |  CASE WHEN d.corrupt THEN NULL ELSE 'wave' END AS format,
      |  CASE WHEN d.corrupt THEN NULL ELSE CAST(d.rate AS BIGINT) END AS sample_rate,
      |  CASE WHEN d.corrupt THEN NULL ELSE CAST(1 AS BIGINT) END AS channels,
      |  CASE WHEN d.corrupt THEN NULL ELSE CAST(4 AS BIGINT) END AS bits,
      |  CASE WHEN d.corrupt THEN NULL ELSE CAST(d.n AS BIGINT) END AS n_frames,
      |  CASE WHEN d.corrupt THEN NULL
      |       ELSE CAST(d.n * 1000000 // d.rate AS BIGINT) END AS duration_us,
      |  CAST(a.total_abs // d.n AS BIGINT) AS mean_abs,
      |  a.peak_abs,
      |  sha256(a.hexstr) AS pcm_digest
      |FROM dims d LEFT JOIN ag a USING (media_id)
      |ORDER BY d.media_id""".stripMargin
    })

  /** The public IMA step table — shared (as SQL VALUES) by the ADPCM
    * oracle; the engine side lives in `ops/Multimodal.scala`
    * (ImaAdpcmTables) and a spec pins the two against the reference
    * algorithm's published values.
    */
  private lazy val ImaStepTable: Seq[Int] = Seq(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894, 6484,
    7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289, 16818,
    18500, 20350, 22385, 24623, 27086, 29794, 32767)

  /** Synthetic-but-structurally-real MP4 round trip: BUILD a spec-shaped
    * ISO-BMFF box tree (ftyp + moov(mvhd + trak(tkhd))) per document from
    * doc_id-derived timing/dimension values using pure binary expressions,
    * then PARSE it back with the native [[graft.plans.Mp4Metadata]] box
    * walk. The oracle recomputes the same fields arithmetically — any
    * construction/parser disagreement (offset, endianness, fixed-point,
    * box-size bookkeeping) breaks the hash. Every 7th payload is truncated
    * mid-moov: the parser must yield null, not a partial struct or a crash.
    */
  /** MP3 metadata: payloads synthesized from doc_id arithmetic exercise the
    * ID3v2-skip path (default), the bare-frame path (%5==1), the false-sync
    * resync path (%5==2 — a sync-pattern prefix with a bad bitrate index
    * must be skipped), and corrupt truncation (%9==0 → null row). The
    * oracle replays the frame-header table lookups as CASE arithmetic.
    */
  private val mp3Meta: Gate = Gate(
    (s, dir) => {
      val bi = (col("doc_id") % 14) + 1 // bitrate index 1..14 (MPEG1 L3)
      val si = col("doc_id") % 3        // sample-rate index
      val f = (col("doc_id") % 64) * 4  // filler bytes after the header
      val tagLen = col("doc_id") % 100  // ID3v2 tag body (syncsafe 1-byte)
      val header = concat(unhex(lit("FFFB")),
        unhex(lpad(hex(bi * 16 + si * 4), 2, "0")), unhex(lit("C0")))
      val frames = concat(header, unhex(repeat(lit("00"), f.cast("int"))))
      val id3 = concat(unhex(lit("49443304000000" + "0000")),
        unhex(lpad(hex(tagLen), 2, "0")),
        unhex(repeat(lit("00"), tagLen.cast("int"))))
      val payload = when(col("doc_id") % 9 === 0, unhex(lit("494433040000")))
        .when(col("doc_id") % 5 === 1, frames)
        .when(col("doc_id") % 5 === 2, concat(unhex(lit("FFE2F000")), frames))
        .otherwise(concat(id3, frames))
      val a = Multimodal.mp3Metadata(payload)
      table(s, dir, "documents").select(col("doc_id").as("media_id"),
          a.getField("layer").as("layer"),
          a.getField("bitrate_kbps").as("bitrate_kbps"),
          a.getField("sample_rate").as("sample_rate"),
          a.getField("audio_bytes").as("audio_bytes"),
          round(a.getField("duration_s"), 6).as("duration_s"))
        .orderBy("media_id")
    },
    Some("""WITH m AS (SELECT doc_id,
      | CASE (doc_id % 14) + 1
      |  WHEN 1 THEN 32 WHEN 2 THEN 40 WHEN 3 THEN 48 WHEN 4 THEN 56
      |  WHEN 5 THEN 64 WHEN 6 THEN 80 WHEN 7 THEN 96 WHEN 8 THEN 112
      |  WHEN 9 THEN 128 WHEN 10 THEN 160 WHEN 11 THEN 192 WHEN 12 THEN 224
      |  WHEN 13 THEN 256 WHEN 14 THEN 320 END AS kbps,
      | 4 + (doc_id % 64) * 4 AS abytes FROM documents)
      |SELECT doc_id AS media_id,
      | CASE WHEN doc_id % 9 = 0 THEN NULL ELSE CAST(3 AS BIGINT) END AS layer,
      | CASE WHEN doc_id % 9 = 0 THEN NULL ELSE CAST(kbps AS BIGINT) END AS bitrate_kbps,
      | CASE WHEN doc_id % 9 = 0 THEN NULL ELSE CAST(CASE doc_id % 3
      |  WHEN 0 THEN 44100 WHEN 1 THEN 48000 WHEN 2 THEN 32000 END AS BIGINT)
      |  END AS sample_rate,
      | CASE WHEN doc_id % 9 = 0 THEN NULL ELSE CAST(abytes AS BIGINT) END AS audio_bytes,
      | CASE WHEN doc_id % 9 = 0 THEN NULL
      |  ELSE round(abytes * 8.0 / (kbps * 1000.0), 6) END AS duration_s
      |FROM m ORDER BY media_id""".stripMargin))

  private val videoMeta: Gate = Gate(
    (s, dir) => {
      def be32(c: Column): Column = unhex(lpad(hex(c.cast(LongType)), 8, "0"))
      val matrixHex = // 3x3 unity transform, 16.16/2.30 fixed point
        "00010000" + "00000000" * 3 + "00010000" + "00000000" * 3 + "40000000"
      val ts = lit(600L) + (col("doc_id") % 5) * 100 // movie timescale
      val dur = ts * ((col("doc_id") % 60) + 1) // whole seconds by construction
      val w = ((col("doc_id") % 81) + 40) * 16
      val h = ((col("doc_id") % 46) + 22) * 16
      val full = concat(
        // ftyp(20): major brand isom, minor 0x200, one compatible brand
        unhex(lit("00000014" + "66747970" + "69736F6D" + "00000200" + "69736F6D")),
        // moov(216 = 8 + mvhd 108 + trak 100)
        unhex(lit("000000D8" + "6D6F6F76")),
        // mvhd v0: ver/flags, creation, modification, then timescale+duration
        unhex(lit("0000006C" + "6D766864" + "00000000" * 3)), be32(ts), be32(dur),
        // rate 1.0, volume 1.0+reserved, reserved(8), matrix, predefined(24), next track id
        unhex(lit("00010000" + "01000000" + "00000000" * 2 + matrixHex +
          "00000000" * 6 + "00000002")),
        unhex(lit("00000064" + "7472616B")),
        // tkhd v0 flags=7: creation, modification, track id 1, reserved, duration
        unhex(lit("0000005C" + "746B6864" + "00000007" + "00000000" * 2 +
          "00000001" + "00000000")), be32(dur),
        // reserved(8), layer/group/volume/reserved(8), matrix, then 16.16 dims
        unhex(lit("00000000" * 4 + matrixHex)), be32(w * 65536), be32(h * 65536))
      val payload = when(col("doc_id") % 7 === 0, substring(full, 1, 40))
        .otherwise(full)
      val v = Multimodal.videoMetadata(payload)
      table(s, dir, "documents").select(col("doc_id").as("media_id"),
          v.getField("format").as("video_format"),
          v.getField("timescale").as("timescale"),
          v.getField("duration").as("duration"),
          v.getField("width").as("width"),
          v.getField("height").as("height"),
          round(v.getField("duration_s"), 4).as("duration_s"))
        .orderBy("media_id")
    },
    Some("""SELECT doc_id AS media_id,
      | CASE WHEN doc_id % 7 = 0 THEN NULL ELSE 'mp4' END AS video_format,
      | CASE WHEN doc_id % 7 = 0 THEN NULL
      |  ELSE CAST(600 + (doc_id % 5) * 100 AS BIGINT) END AS timescale,
      | CASE WHEN doc_id % 7 = 0 THEN NULL
      |  ELSE CAST((600 + (doc_id % 5) * 100) * (doc_id % 60 + 1) AS BIGINT) END AS duration,
      | CASE WHEN doc_id % 7 = 0 THEN NULL
      |  ELSE CAST((doc_id % 81 + 40) * 16 AS BIGINT) END AS width,
      | CASE WHEN doc_id % 7 = 0 THEN NULL
      |  ELSE CAST((doc_id % 46 + 22) * 16 AS BIGINT) END AS height,
      | CASE WHEN doc_id % 7 = 0 THEN NULL
      |  ELSE round(CAST(doc_id % 60 + 1 AS DOUBLE), 4) END AS duration_s
      |FROM documents ORDER BY media_id""".stripMargin))

  // =====================================================================

  val gates: Seq[(String, Gate)] = Seq(
    "q1_pricing" -> q1Pricing,
    "q3_segment_revenue" -> q3Segment,
    "q5_nation_revenue" -> q5Nation,
    "agg_code_metadata" -> aggCodeMetadata,
    "agg_code_metadata_incr" -> aggCodeMetadataIncr,
    "agg_code_quantiles" -> aggCodeQuantiles,
    "agg_code_quantiles_sketch" -> aggCodeQuantilesSketch,
    "agg_code_subjects_sketch" -> aggCodeSubjectsSketch,
    "fit_vocab_indices" -> fitVocab,
    "filter_subjects" -> filterSubjects,
    "filter_measurements" -> filterMeasurements,
    "occlude_outliers" -> occludeOutliers,
    "normalization" -> normalization,
    "reorder_measurements" -> reorderMeasurements,
    "time_of_day" -> timeOfDay,
    "age" -> ageQuery,
    "timeline_tokens" -> timelineTokens,
    "extract_values" -> extractValues,
    "bin_numeric_values" -> binNumericValues,
    "match_revise" -> matchReviseQuery,
    "reshard_to_split" -> reshardSummary,
    "events_hourly" -> eventsHourly,
    "events_json" -> eventsJson,
    "events_sessionize" -> eventsSessionize,
    "events_sessionize_stream" -> eventsSessionizeStream,
    "events_dedup_stream" -> eventsDedupStream,
    "dedup_exact" -> dedupExact,
    "dedup_against" -> dedupAgainstGate,
    "dedup_lines" -> dedupLinesGate,
    "dup_spans" -> dupSpans,
    "dup_spans_removed" -> dupSpansRemoved,
    "decontaminate" -> decontaminate,
    "decontaminate_bloom" -> decontaminateBloom,
    "doc_fingerprint" -> docFingerprint,
    "winnow_fingerprint" -> winnowFp,
    "text_tokens" -> textTokens,
    "text_entropy" -> textEntropy,
    "lm_perplexity" -> lmPerplexity,
    "ppl_buckets" -> pplBuckets,
    "nb_classify" -> nbClassifyGate,
    "nb_confusion" -> nbConfusionGate,
    "js_divergence" -> jsDivergenceGate,
    "jsonl_roundtrip" -> jsonlRoundtrip,
    "csv_roundtrip" -> csvRoundtrip,
    "join_table" -> joinTableStage,
    "c4_filter" -> c4Filter,
    "corpus_stats" -> corpusStatsGate,
    "text_quality" -> textQuality,
    "text_repetition" -> textRepetition,
    "quality_filter_stage" -> qualityFilterStage,
    "tf_idf" -> tfIdf,
    "redact_pii" -> redactPii,
    "lang_id" -> langId,
    "ngram_jaccard" -> ngramJaccard,
    "minhash_lsh" -> minhashLsh,
    "minhash_lsh_capped" -> minhashLshCapped,
    "minhash_lsh_dedup_stage" -> minhashDedupStage,
    "dedup_clusters" -> dedupClusters,
    "cluster_reps" -> clusterReps,
    "simhash_values" -> simhashValues,
    "simhash_pairs" -> simhashPairs,
    "embed_dup_pairs" -> embedDupPairs,
    "semdedup" -> semdedupGate,
    "sim_topk" -> simTopK,
    "pq_codes" -> pqCodes,
    "pq_topk" -> pqTopK,
    "pq_rerank" -> pqRerank,
    "ivfpq_topk" -> ivfPqTopK,
    "ivfpq_rerank" -> ivfPqRerank,
    "pq_knn" -> pqKnn,
    "pq_knn_rerank" -> pqKnnRerank,
    "opq_codes" -> opqCodes,
    "sim_lsh_topk" -> simLshTopK,
    "sim_ivf_topk" -> simIvfTopK,
    "sim_ivf_indexed" -> simIvfIndexed,
    "knn_join" -> knnJoin,
    "sample_split" -> sampleSplit,
    "pack_sequences" -> packSequences,
    "chunk_documents" -> chunkDocuments,
    "zorder_values" -> zorderValues,
    "shuffle_rows" -> shuffleRows,
    "asof_join" -> asofJoin,
    "asof_join_nearest" -> asofJoinNearest,
    "asof_join_stream" -> asofJoinStream,
    "range_join" -> rangeJoinGate,
    "rolling_agg" -> rollingAgg,
    "feature_pipeline" -> featurePipeline,
    "profile" -> profileGate,
    "packing_summary" -> packingSummaryGate,
    "curation_pipeline" -> curationPipeline,
    "analysis_pipeline" -> analysisPipeline,
    "stratified_cap" -> stratifiedCap,
    "token_budget_cap" -> tokenBudgetCap,
    "resample_mix" -> resampleMix,
    "temperature_mix" -> temperatureMixGate,
    "multimodal_meta" -> multimodalMeta,
    "multimodal_decode" -> multimodalDecode,
    "multimodal_decode_jpeg" -> multimodalDecodeJpeg,
    "video_frames_mjpeg" -> videoFramesMjpeg,
    "multimodal_resize" -> multimodalResize,
    "multimodal_frames" -> multimodalFrames,
    "audio_decode" -> audioDecode,
    "audio_decode_ulaw" -> audioDecodeUlaw,
    "audio_decode_adpcm" -> audioDecodeAdpcm,
    "video_metadata" -> videoMeta,
    "mp3_metadata" -> mp3Meta,
    "bpe_pair_counts" -> bpePairCounts,
    "bpe_tokens" -> bpeTokens,
    "corpus_overlap" -> corpusOverlap,
    "orc_roundtrip" -> orcRoundtrip,
    "freq_terms" -> freqTerms
  )

  def queries: Map[String, Q] = gates.map { case (n, g) => n -> g.query }.toMap
  def oracleSql: Map[String, String] =
    gates.collect { case (n, Gate(_, Some(sql))) => n -> sql }.toMap
}
