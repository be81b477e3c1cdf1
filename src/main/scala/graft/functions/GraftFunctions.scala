package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Column-level helper functions shared across operators. All are composed
  * from codegen'd `org.apache.spark.sql.functions` builtins — no UDFs — so
  * every operator stays inside whole-stage codegen.
  */
object GraftFunctions {

  /** Deterministic, engine-portable 56-bit hash of a string: the first 14 hex
    * digits of md5, as a non-negative Long. Used by MinHash/SimHash/LSH so
    * that results are reproducible across engines (the same value is
    * computable in any SQL dialect with md5 + hex→int conversion).
    */
  /** Native expression (graft.plans.Hash56): first 7 md5-digest bytes read
    * big-endian — bit-identical to the composable definition every oracle
    * mirrors, `conv(substring(md5(s), 1, 14), 16, 10)::long`, without the
    * per-value hex materialization + radix parse.
    */
  def portableHash56(c: Column): Column =
    graft.plans.VectorExpressions.hash56(c.cast("string"))

  /** Mersenne prime 2^31-1; universal-hash family h(x) = (a*x + b) mod P over
    * the 56-bit portable hash reduced mod P (keeps a*x within Long range).
    */
  val HashPrime: Long = 2147483647L

  def universalHash(h: Column, a: Long, b: Long): Column =
    (lit(a) * (h % HashPrime) + lit(b)) % HashPrime

  /** Deterministic (a_i, b_i) parameter streams for the universal-hash family
    * — LCG-generated from a fixed seed so both the engine and any oracle can
    * reproduce them.
    */
  def hashParams(n: Int, seed: Long = 42L): Seq[(Long, Long)] = {
    var s = seed
    def next(): Long = { s = (s * 6364136223846793005L + 1442695040888963407L); (s >>> 33) % (HashPrime - 1) }
    Seq.fill(n)((next() + 1, next()))
  }

  /** Whitespace tokenization with Polars/DuckDB-compatible edge semantics:
    * empty or all-whitespace text -> empty array, and ALL whitespace - not
    * just spaces - counts as an edge. NOT trim+split: Spark's one-arg
    * `trim` strips spaces only (newline/tab-edged text would emit empty
    * tokens), and the multi-char trim variant measured ~30% slower on the
    * shingle-hash hot path (BenchOne, winnow 0.39 vs 0.52+). `split` keeps
    * edge separators as "" elements; one codegen'd `array_remove` pass
    * drops them, which also covers the empty/all-whitespace cases for
    * free.
    */
  def tokens(text: Column): Column = array_remove(split(text, "\\s+"), "")

  /** Word n-gram shingles as space-joined strings: one entry per window of
    * `n` consecutive tokens. Documents shorter than n words → empty array.
    *
    * Linear-time construction: every reference to the token array is in
    * ARGUMENT position (`zip_with`/`slice` operands, evaluated once per row),
    * never inside a per-element lambda body — a `slice(tokens(text), i, n)`
    * lambda re-tokenizes per window (O(words²) per doc; bit us in round 1).
    * Fold step k zips the (k-1)-gram array with the tokens shifted by k-1;
    * `concat` null-propagates past the end, and the final `filter` drops the
    * null tail, leaving exactly size-n+1 shingles.
    */
  def wordShingles(text: Column, n: Int): Column = {
    val ws = tokens(text)
    if (n <= 1) ws
    else {
      val joined = (2 to n).foldLeft(ws) { (acc, k) =>
        zip_with(acc, slice(ws, lit(k), greatest(size(ws) - (k - 1), lit(0))),
          (a, b) => concat(a, lit(" "), b))
      }
      filter(joined, s => s.isNotNull)
    }
  }

  /** Right-bisect (numpy searchsorted side="right"): number of endpoints
    * <= value. Reference: bin_numeric_values.py:185.
    */
  def searchSortedRight(endpoints: Column, value: Column): Column =
    size(filter(endpoints, e => e <= value))

  /** Scalable global row number (1-based): the distributed equivalent of
    * `row_number().over(Window.orderBy(sortCols))`, which funnels EVERY row
    * through a single partition (WindowExec warns; a non-starter at 100 TB).
    *
    * Shape: range-partition by the sort keys (equal keys land in one
    * partition, partitions are globally ordered), sort within partitions,
    * read the per-partition record index out of `monotonically_increasing_id`
    * (upper bits = partition id, lower 33 = record number in row order — so
    * no Window exchange is needed at all), then add per-partition row-count
    * offsets via a constant-folded map-literal lookup (broadcast join only
    * past 4096 partitions, where the literal would bloat the expression
    * tree). The counts come out of the materialization job itself — see
    * GraftSqlBridge.localCheckpointWithPartitionCounts — so the blocks are
    * scanned once, not twice.
    *
    * The ranged-and-numbered frame is materialized ONCE via an eager
    * localCheckpoint before the offsets pass and the numbering pass read it,
    * because two executions of a range shuffle are NOT bit-identical:
    * RangePartitioner's sample seed incorporates the RDD id, and AQE may
    * coalesce each consumer's shuffle read differently — either way the
    * partition ids baked into monotonically_increasing_id disagree between
    * passes and rows get mis-numbered or dropped (both variants were
    * observed at sf0.1). localCheckpoint truncates lineage to the
    * materialized blocks (both passes read THE SAME partitions), and unlike
    * an engine-internal cache the blocks are released by the ContextCleaner
    * once the returned frame is garbage-collected — no session-lifetime
    * leak. Trade-off: localCheckpoint is not fault-tolerant to executor
    * loss mid-query (Spark recomputes from nothing); acceptable for a
    * deterministic batch operator that simply re-runs.
    */
  def withGlobalRowNumber(df: DataFrame, outCol: String, sortCols: Seq[Column]): DataFrame = {
    val mask = (1L << 33) - 1
    val ranged = df.repartitionByRange(sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn("__mid", monotonically_increasing_id())
    // ONE job materializes the blocks AND reads off per-partition counts
    // (the counts job over the blocks that used to follow the eager
    // checkpoint was a second full scan — ~30% of the operator)
    val (checkpointed, counts) =
      org.apache.spark.sql.GraftSqlBridge.localCheckpointWithPartitionCounts(ranged)
    var acc = 0L
    val offsets = counts.map { case (pid, cnt) => val o = acc; acc += cnt; (pid.toLong, o) }
    if (offsets.length <= MapLiteralMaxEntries) {
      // constant-folded map literal: offset lookup is a pure projection —
      // no BroadcastExchange, no join operator in the plan
      val kv = offsets.flatMap { case (p, o) => Seq(lit(p), lit(o)) }
      checkpointed
        .withColumn(outCol, col("__mid").bitwiseAND(lit(mask))
          + element_at(map(kv.toIndexedSeq: _*), shiftright(col("__mid"), 33)) + 1)
        .drop("__mid")
    } else {
      // GetMapValue over a literal map is a per-row LINEAR key scan, so past
      // a few hundred partitions the O(1) broadcast-hash probe wins
      val offsetsDf = df.sparkSession.createDataFrame(offsets.toSeq).toDF("__pid", "__offset")
      checkpointed
        .join(broadcast(offsetsDf), shiftright(col("__mid"), 33) === col("__pid"))
        .withColumn(outCol, col("__mid").bitwiseAND(lit(mask)) + col("__offset") + 1)
        .drop("__mid", "__pid", "__offset")
    }
  }

  /** Offset-lookup strategy bound: element_at on a literal map compiles to
    * GetMapValue — a per-row linear key scan, not a hash lookup — so the
    * map-literal projection only beats a broadcast-hash join while the
    * partition count is small.
    */
  private val MapLiteralMaxEntries = 256

  /** Polars `shrink_dtype` analog (reducer.py:217, fit_vocabulary_indices
    * .py:195): cast integer columns to the narrowest integral type that holds
    * their observed min/max (an empty or all-null column becomes tinyint).
    * Applied only to small reduced metadata outputs, never the event table.
    *
    * The bounds come from one collect of the listed columns. The metadata
    * fits pass a driver-local table (graft.meds.LocalTable), where that
    * collect runs no job and the returned frame stays driver-local.
    */
  def shrinkIntColumns(df: DataFrame, columns: Seq[String]): DataFrame = {
    val present = columns.filter(df.columns.contains)
    present.map(df.schema(_)).foreach(f => require(
      Seq(ByteType, ShortType, IntegerType, LongType).contains(f.dataType),
      s"column '${f.name}' is ${f.dataType.simpleString}, not an integral " +
        "type (tinyint, smallint, int or bigint)"))
    val rows = df.select(present.map(col): _*).collect()
    df.withColumns(present.zipWithIndex.map { case (c, k) =>
      val values = rows.iterator.filterNot(_.isNullAt(k))
        .map(_.get(k).asInstanceOf[Number].longValue).toSeq
      val (lo, hi) = if (values.isEmpty) (0L, 0L) else (values.min, values.max)
      val t: DataType =
        if (lo >= Byte.MinValue && hi <= Byte.MaxValue) ByteType
        else if (lo >= Short.MinValue && hi <= Short.MaxValue) ShortType
        else if (lo >= Int.MinValue && hi <= Int.MaxValue) IntegerType
        else LongType
      c -> col(c).cast(t)
    }.toMap)
  }
}
