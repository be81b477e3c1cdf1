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
    val path = s"$dir/$name.parquet"
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
    * zero-offset session timezone, asserted below; time windows require
    * the LTZ type). ONE definition for every read of the events table: the
    * conversion convention must not be able to drift between gates.
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

  /** The reference-parity quantile path (Polars "nearest": the value at
    * index round(q·(n−1)), half away from zero), replayed by the oracle as a
    * rank window at rn = floor(q·(n−1) + 0.5) + 1.
    */
  private val aggCodeQuantiles: Gate = Gate(
    (s, dir) => {
      val q = AggregateCodeMetadata.compute(medsEvents(s, dir),
        Seq(ValuesQuantiles), Seq(0.25, 0.5, 0.75))
      q.select(col(Code).as("code"),
        r4(col(ValuesQuantiles).getField("values/quantile/0.25")).as("p25"),
        r4(col(ValuesQuantiles).getField("values/quantile/0.5")).as("p50"),
        r4(col(ValuesQuantiles).getField("values/quantile/0.75")).as("p75"))
        .orderBy("code")
    },
    // the codes CTE + left join preserves codes whose values are ALL
    // null/NaN (Spark emits them with a null quantile struct; filtering
    // them inside `p` would silently drop the rows if testdata ever gains
    // a valueless code)
    Some("""WITH codes AS (SELECT DISTINCT event_type AS code FROM events),
      |p AS (SELECT event_type AS code, CAST(value AS DOUBLE) AS v
      |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
      |r AS (SELECT code, v,
      |  row_number() OVER (PARTITION BY code ORDER BY v) AS rn,
      |  count(*) OVER (PARTITION BY code) AS n FROM p),
      |q AS (SELECT code,
      |  round(max(CASE WHEN rn = CAST(floor(0.25*(n-1) + 0.5) AS BIGINT) + 1 THEN v END),4) AS p25,
      |  round(max(CASE WHEN rn = CAST(floor(0.5*(n-1) + 0.5) AS BIGINT) + 1 THEN v END),4) AS p50,
      |  round(max(CASE WHEN rn = CAST(floor(0.75*(n-1) + 0.5) AS BIGINT) + 1 THEN v END),4) AS p75
      | FROM r GROUP BY code)
      |SELECT codes.code, q.p25, q.p50, q.p75
      |FROM codes LEFT JOIN q USING (code) ORDER BY codes.code""".stripMargin))

  private val fitVocab: Gate = Gate(
    (s, dir) => {
      val codes = medsEvents(s, dir).select(Code).distinct()
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
      val vocab = FitVocabularyIndices(codes)
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
      // single-partition Window.orderBy
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

  private def rmTree(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.isDirectory(p)) {
      val st = java.nio.file.Files.list(p)
      try st.iterator().asScala.foreach(rmTree) finally st.close()
    }
    java.nio.file.Files.deleteIfExists(p); ()
  }

  // =====================================================================
  // Training-data ops: dedup / text
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
    * the gate's 2^16 word cap) keeps the unrolled replay trivially sized.
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
      // checkpointRoot: each stage materializes ONCE. Without it the lazy
      // five-stage lineage re-executes shared subtrees per consumer — the
      // LM-train aggregate and the CSV parse appear many times in the final
      // DAG (Spark does not dedupe common subplans) — measured 29.9 → 9.5 s
      // at sf0.1. Staged per-stage persistence is also the reference's own
      // execution model (each MEDS stage writes its root before the next
      // reads it), so the checkpointed run is the like-for-like shape.
      // (filter_rows / js_divergence opt OUT via `checkpoint: false` — a
      // narrow filter and the final stage don't need their own roots.)
      // It runs on the caller's session and settings, as graft.Main does.
      Main.run(Array(AnalysisYaml, s"$tmp/in", s"$tmp/out", s"$tmp/ckpt")
        ++ overrides, s)
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

  // =====================================================================

  val gates: Seq[(String, Gate)] = Seq(
    "agg_code_metadata" -> aggCodeMetadata,
    "agg_code_quantiles" -> aggCodeQuantiles,
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
    "lang_id" -> langId,
    "ngram_jaccard" -> ngramJaccard,
    "minhash_lsh" -> minhashLsh,
    "minhash_lsh_capped" -> minhashLshCapped,
    "minhash_lsh_dedup_stage" -> minhashDedupStage,
    "dedup_clusters" -> dedupClusters,
    "cluster_reps" -> clusterReps,
    "simhash_values" -> simhashValues,
    "simhash_pairs" -> simhashPairs,
    "sample_split" -> sampleSplit,
    "pack_sequences" -> packSequences,
    "chunk_documents" -> chunkDocuments,
    "shuffle_rows" -> shuffleRows,
    "asof_join" -> asofJoin,
    "asof_join_nearest" -> asofJoinNearest,
    "rolling_agg" -> rollingAgg,
    "feature_pipeline" -> featurePipeline,
    "packing_summary" -> packingSummaryGate,
    "curation_pipeline" -> curationPipeline,
    "analysis_pipeline" -> analysisPipeline,
    "stratified_cap" -> stratifiedCap,
    "token_budget_cap" -> tokenBudgetCap,
    "resample_mix" -> resampleMix,
    "temperature_mix" -> temperatureMixGate,
    "bpe_pair_counts" -> bpePairCounts,
    "bpe_tokens" -> bpeTokens,
    "orc_roundtrip" -> orcRoundtrip
  )

  def queries: Map[String, Q] = gates.map { case (n, g) => n -> g.query }.toMap
  def oracleSql: Map[String, String] =
    gates.collect { case (n, Gate(_, Some(sql))) => n -> sql }.toMap
}
