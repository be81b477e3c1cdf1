package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.meds.MedsSchema._

/** `add_time_derived_measurements` (reference:
  * /root/reference/src/MEDS_transforms/stages/add_time_derived_measurements/…).
  *
  * Generates new event rows (age / time-of-day / timeline tokens) and splices
  * them into each (subject, time) block — new rows first within the block
  * (add_time_derived_measurements.py:19-171). The reference's diagonal
  * concat + maintain_order sort becomes `unionByName(allowMissingColumns)`
  * plus an explicit (subject, time, precedence, row_idx) sort.
  *
  * All three generators are pure window/aggregate compositions partitioned by
  * subject — at 100 TB they reuse the subject hash partitioning and the sort
  * within partitions that the MEDS layout already guarantees.
  */
object AddTimeDerivedMeasurements {

  /** Canonical time units with their aliases and length in seconds —
    * TIME_DURATION_UNITS verbatim (reference utils.py:10-18: a month is
    * 30.436875 days, a year 365.2422 days).
    */
  val TimeDurationUnits: Seq[(String, Seq[String], Double)] = Seq(
    ("seconds", Seq("s", "sec", "secs", "second", "seconds"), 1.0),
    ("minutes", Seq("m", "min", "mins", "minute", "minutes"), 60.0),
    ("hours", Seq("h", "hr", "hrs", "hour", "hours"), 3600.0),
    ("days", Seq("d", "day", "days"), 86400.0),
    ("weeks", Seq("w", "wk", "wks", "week", "weeks"), 7 * 86400.0),
    ("months", Seq("mo", "mos", "month", "months"), 30.436875 * 86400.0),
    ("years", Seq("y", "yr", "yrs", "year", "years"), 365.2422 * 86400.0)
  )

  /** `normalize_time_unit` (utils.py:21-40): alias → (canonical, seconds). */
  def normalizeTimeUnit(unit: String): (String, Double) =
    TimeDurationUnits.collectFirst { case (c, as, s) if as.contains(unit) => (c, s) }
      .getOrElse(throw new IllegalArgumentException(
        s"Unknown time unit '$unit'. Valid: ${TimeDurationUnits.map(_._1).mkString(", ")}"))

  val SecondsPerUnit: Map[String, Double] =
    TimeDurationUnits.map { case (c, _, s) => c -> s }.toMap

  private def deltaIn(later: Column, earlier: Column, unit: String): Column = {
    // cast tolerates TIMESTAMP_NTZ inputs (lossless under the UTC session TZ)
    val t = (c: Column) => unix_micros(c.cast(org.apache.spark.sql.types.TimestampType))
    (t(later) - t(earlier)) / lit(normalizeTimeUnit(unit)._2 * 1e6)
  }

  /** `unique_events` (reference utils.py:77-133): distinct non-null
    * (subject, time) pairs.
    */
  def uniqueEvents(data: DataFrame): DataFrame =
    data.filter(col(Time).isNotNull).select(SubjectId, Time).dropDuplicates(SubjectId, Time)

  /** `age_fntr` (reference age.py:145-180): for each unique event, emit an
    * age row = (time − DOB) in `ageUnit`, DOB taken from rows whose code
    * matches `dobCodePattern`; only strictly positive ages are kept.
    *
    * Single-pass plan: ONE events scan, AT MOST one subject-hash exchange —
    * the subject-partition window folds min-of-matching-time into the
    * per-subject DOB, and the (subject, time) dedup aggregates directly on
    * the window's output (hash(subject) already clusters (subject, time) —
    * subset-key rule — so no second exchange). Replaces the naive
    * dob-groupBy + dedup-exchange + join shape (2 scans, 3 exchanges). The
    * window's exchange is REQUIREMENT-driven, not a forced repartition:
    * over an input already hash-partitioned by subject (the bucketed MEDS
    * layout at scale) EnsureRequirements inserts nothing and the operator
    * is shuffle-free. Subjects with no DOB row (window min = null) and
    * null subjects are dropped, exactly like the old inner join.
    */
  def ageEvents(data: DataFrame, dobCodePattern: String, ageCode: String = "AGE",
      ageUnit: String = "years",
      valueType: org.apache.spark.sql.types.DataType = org.apache.spark.sql.types.FloatType): DataFrame = {
    // regex containment, matching Polars str.contains (age.py:149-151):
    // a literal DOB code is a degenerate pattern
    val dobCand = when(col(Code).rlike(dobCodePattern), col(Time))
    data.filter(col(Time).isNotNull && col(SubjectId).isNotNull)
      .select(col(SubjectId), col(Time), dobCand.as("__dob_cand"))
      .withColumn("__dob",
        min(col("__dob_cand")).over(Window.partitionBy(SubjectId)))
      // __dob is constant per subject, so the dedup rows are identical per
      // (subject, time) key — dropDuplicates' arbitrary pick is deterministic
      .select(col(SubjectId), col(Time), col("__dob"))
      .dropDuplicates(SubjectId, Time)
      .filter(col("__dob").isNotNull)
      .withColumn(NumericValue, deltaIn(col(Time), col("__dob"), ageUnit).cast(valueType))
      .filter(col(NumericValue) > 0)
      .select(col(SubjectId), col(Time), lit(ageCode).as(Code), col(NumericValue))
  }

  /** `time_of_day_fntr` (reference time_of_day.py:100-129): bucket the event
    * hour into [a, b) ranges given by `endpoints` (strictly increasing,
    * within 0..24) and emit a `TIME_OF_DAY//[a,b)` code row per unique event.
    */
  def timeOfDayEvents(data: DataFrame, endpoints: Seq[Int] = Seq(6, 12, 18),
      codePrefix: String = "TIME_OF_DAY"): DataFrame = {
    require(endpoints == endpoints.sorted && endpoints.forall(e => e >= 0 && e <= 24),
      s"endpoints must be sorted within [0,24]: $endpoints")
    val bounds = ((0 +: endpoints) :+ 24).distinct
    val h = hour(col(Time))
    val codeCol = bounds.sliding(2).toSeq.foldRight(lit(null).cast("string")) {
      case (Seq(a, b), acc) =>
        when(h >= a && h < b, lit(f"$codePrefix//[$a%02d,$b%02d)")).otherwise(acc)
    }
    uniqueEvents(data)
      .select(col(SubjectId), col(Time), codeCol.as(Code),
        lit(null).cast("float").as(NumericValue))
  }

  /** `timeline_tokens_fntr` (reference timeline_tokens.py:219-288): per
    * subject emit TIMELINE//START at min(time), TIMELINE//END at max(time),
    * and a TIMELINE//DELTA//<unit> row per unique event AFTER the first,
    * carrying the gap to the previous event (the first event emits no delta
    * row — the reference filters `numeric_value.is_not_null()`).
    */
  def timelineTokenEvents(data: DataFrame, unit: String = "days",
      emitStart: Boolean = true, emitEnd: Boolean = true,
      emitDeltas: Boolean = true,
      valueType: org.apache.spark.sql.types.DataType = org.apache.spark.sql.types.FloatType,
      startCode: String = "TIMELINE//START",
      endCode: String = "TIMELINE//END",
      deltaCodeTemplate: String = "TIMELINE//DELTA//{time_unit}"): DataFrame = {
    // token codes are configurable per the reference (timeline_tokens.py:
    // timeline_start_code / timeline_end_code / time_delta_code with a
    // {time_unit} slot filled with the canonical unit name, "y" → "years")
    require(emitStart || emitEnd || emitDeltas,
      "timelineTokenEvents: at least one of start/end/deltas must be enabled")
    val canonicalUnit = normalizeTimeUnit(unit)._1
    val deltaCode = deltaCodeTemplate.replace("{time_unit}", canonicalUnit)
    // ONE window pass over ONE shuffle of the unique events: the first row
    // per subject IS min(time) (uniqueEvents drops null times), the last IS
    // max(time), and the delta rides the same ordered window as lag — the
    // previous three-branch union (min-agg ∪ lag-window ∪ max-agg) scanned
    // and shuffled the unique-events subtree three times (the aggs'
    // map-side combine canonicalizes their exchanges away from the
    // window's, so ReuseExchange cannot serve them). Each row explodes
    // into its 0-2 token cells; `slice(array(x), 1, 0)` is the typed empty
    // array for the disabled/non-matching branches.
    val ev = uniqueEvents(data)
    val w = Window.partitionBy(SubjectId).orderBy(Time)
    val wAll = Window.partitionBy(SubjectId) // same partitioning: no new exchange
    val nullV = lit(null).cast(valueType)
    def cellIf(enabled: Boolean, cond: Column, code: String, v: Column) = {
      val cell = array(struct(lit(code).as("c"), v.as("v")))
      if (!enabled) slice(cell, 1, 0)
      else when(cond, cell).otherwise(slice(cell, 1, 0))
    }
    val staged = ev
      .withColumn("__prev", lag(col(Time), 1).over(w))
      .withColumn("__rn", row_number().over(w))
      .withColumn("__cnt", count(lit(1)).over(wAll))
    staged
      .select(col(SubjectId), col(Time), explode(concat(
        cellIf(emitStart, col("__rn") === 1, startCode, nullV),
        cellIf(emitDeltas, col("__prev").isNotNull, deltaCode,
          deltaIn(col(Time), col("__prev"), unit).cast(valueType)),
        cellIf(emitEnd, col("__rn") === col("__cnt"), endCode, nullV)))
        .as("__tok"))
      .select(col(SubjectId), col(Time), col("__tok.c").as(Code),
        col("__tok.v").as(NumericValue))
  }

  /** One configured event generator: `make` computes the new rows from the
    * (already-augmented) frame; codes matching `newCodeLastRegex` (e.g.
    * TIMELINE//END) go after the block instead of before. The match is regex
    * CONTAINMENT, exactly like the reference's `str.contains` (an invalid
    * pattern throws there too).
    */
  final case class Generator(make: DataFrame => DataFrame,
      newCodeLastRegex: Option[String] = None)

  /** Sequential-SEMANTICS, single-SORT driver for a chain of generators
    * (add_time_derived_measurements.py:174-231). Generator i sees the frame
    * augmented by generators 0..i-1 — faithful to the reference's chained
    * add_new_events_fntr, including the corner case where a generator's
    * matcher hits another generator's emitted codes — but the global
    * (subject, time, block) sort happens ONCE at the end: each part carries
    * an explicit block rank — generator i's new-first rows at −(i+1) (later
    * generators outermost), data at 0, last-regex rows at +(i+1) — which
    * reproduces the nested prepend/append order exactly. k generators cost
    * one full-table sort instead of k (the difference between 1 and k
    * range-shuffles of 100 TB).
    */
  def addAll(data: DataFrame, generators: Seq[Generator]): DataFrame = {
    require(generators.nonEmpty, "addAll: no generators configured")
    val withIdx =
      if (data.columns.contains(RowIdx)) data
      else data.withColumn(RowIdx, monotonically_increasing_id())
    var augmented: DataFrame = withIdx
    val newParts = generators.zipWithIndex.map { case (g, i) =>
      val computed = g.make(augmented)
      // with multiple generators, each part feeds every LATER generator's
      // input AND the final union — materialize it once, or generator 0's
      // window lineage re-executes inside every later make() (O(k²) passes)
      val newEv =
        if (generators.length > 1 && i < generators.length - 1) computed.localCheckpoint()
        else computed
      augmented = augmented.unionByName(newEv, allowMissingColumns = true)
      val rank = g.newCodeLastRegex match {
        case Some(pat) => when(col(Code).rlike(pat), lit(i + 1)).otherwise(lit(-(i + 1)))
        case None => lit(-(i + 1))
      }
      newEv.withColumn(RowIdx, monotonically_increasing_id()).withColumn(BlockIdx, rank)
    }
    val generated = newParts.reduce(_.unionByName(_, allowMissingColumns = true))
    // provenance backfill (shard/split) for all generated rows in ONE join
    val provenance = Seq(Split, Shard)
      .filter(data.columns.contains).filterNot(generated.columns.contains)
    val enriched =
      if (provenance.isEmpty) generated
      else generated.join(
        data.groupBy(SubjectId).agg(
          first(col(provenance.head)).as(provenance.head),
          provenance.tail.map(c => first(col(c)).as(c)): _*),
        Seq(SubjectId), "left")
    withIdx.withColumn(BlockIdx, lit(0))
      .unionByName(enriched, allowMissingColumns = true)
      .orderBy(col(SubjectId), col(Time).asc_nulls_first, col(BlockIdx), col(RowIdx))
      .drop(BlockIdx, RowIdx)
  }

  /** Full stage dispatcher mirroring add_time_derived_measurements.py:174-231,
    * with timeline tokens spliced under a TIMELINE//END-last rule.
    */
  final case class AgeCfg(dobCodePattern: String = "MEDS_BIRTH",
      ageCode: String = "AGE", ageUnit: String = "years")
  final case class TimeOfDayCfg(endpoints: Seq[Int] = Seq(6, 12, 18),
      codePrefix: String = "TIME_OF_DAY")
  final case class TimelineCfg(timeUnit: String = "days",
      endCodeLastRegex: Option[String] = Some("TIMELINE//END"))

  def apply(data: DataFrame,
      age: Option[AgeCfg] = None,
      timeOfDay: Option[TimeOfDayCfg] = None,
      timelineTokens: Option[TimelineCfg] = None,
      valueType: org.apache.spark.sql.types.DataType = org.apache.spark.sql.types.FloatType): DataFrame = {
    val gens = Seq.newBuilder[Generator]
    age.foreach(c => gens += Generator(df =>
      ageEvents(df, c.dobCodePattern, c.ageCode, c.ageUnit, valueType)))
    timeOfDay.foreach(c => gens += Generator(df =>
      timeOfDayEvents(df, c.endpoints, c.codePrefix)))
    timelineTokens.foreach(c => gens += Generator(df =>
      timelineTokenEvents(df, c.timeUnit, valueType = valueType), c.endCodeLastRegex))
    val list = gens.result()
    if (list.isEmpty) data else addAll(data, list)
  }
}
