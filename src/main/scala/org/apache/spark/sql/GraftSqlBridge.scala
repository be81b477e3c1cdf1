package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into `private[sql]` Spark internals needed to expose custom
  * Catalyst expressions as user-facing `Column`s (the supported extension
  * pattern for libraries that add native expressions).
  */
object GraftSqlBridge {
  /** `private[sql]` in Spark; aliased so graft code can override
    * `ExpectsInputTypes.inputTypes`.
    */
  type AbstractType = org.apache.spark.sql.types.AbstractDataType

  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The alias name at the root of a Column's node AST, if any — the Spark 4
    * `Column` wraps a `ColumnNode` tree (`private[sql]`), not a Catalyst
    * expression, so `.as("x")` is an `internal.Alias` node.
    */
  def aliasName(c: Column): Option[String] = c.node match {
    case a: org.apache.spark.sql.internal.Alias => Some(a.name.mkString("."))
    case _ => None
  }

  /** Spark's internal bounded top-k collector (`private[sql]`) as a Column:
    * an ObjectHashAggregate-capable aggregate whose partial state is a
    * k-bounded priority queue — map-side combine caps the shuffle at k
    * entries per group per task no matter how skewed the group is, which is
    * exactly the property a stratified cap needs at 100 TB. With
    * `smallest = true` returns the k minimum values ascending (struct
    * children order lexicographically by field).
    */
  def collectTopK(c: Column, k: Int, smallest: Boolean): Column =
    ExpressionUtils.column(
      org.apache.spark.sql.catalyst.expressions.aggregate.GraftAggBridge
        .collectTopK(ExpressionUtils.expression(c), k, reverse = smallest)
        .toAggregateExpression())

  /** Spark's internal bloom-filter builder (`private[sql]`, the engine of
    * runtime join filtering) as a Column: aggregates LONG values into one
    * serialized `BloomFilter` (BinaryType) with map-side partial merge.
    * The result is a single metadata-sized blob no matter the input row
    * count — the legitimate driver-collect that [[mightContain]] then
    * re-broadcasts as a literal predicate input.
    */
  def bloomFilterAgg(c: Column, expectedItems: Long, numBits: Long): Column =
    ExpressionUtils.column(
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        ExpressionUtils.expression(c),
        org.apache.spark.sql.catalyst.expressions.Literal(expectedItems),
        org.apache.spark.sql.catalyst.expressions.Literal(numBits))
        .toAggregateExpression())

  /** SQL `div` (IntegralDivide) as a Column: exact long-quotient division
    * with truncation toward zero. The Column `/` operator is DOUBLE
    * division — casting its result back to long silently misquotients
    * beyond 2^53, which is why exact grid arithmetic cannot use it.
    */
  def integralDivide(a: Column, b: Column): Column =
    ExpressionUtils.column(
      org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** `might_contain(bloom, value)`: true when `value` MAY be in the filter
    * (no false negatives), with the codegen'd implementation Spark uses for
    * its own injected runtime filters.
    */
  def mightContain(bloom: Column, value: Column): Column =
    ExpressionUtils.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        ExpressionUtils.expression(bloom), ExpressionUtils.expression(value)))

  /** Eagerly free the storage blocks behind a `localCheckpoint()`ed frame
    * (or any frame projecting one). The ContextCleaner frees them anyway
    * once the frame is driver-GC'd, but iterative operators that checkpoint
    * per round would otherwise pile up to maxIters copies in executor
    * storage before a GC happens to run. Must only be called once the frame
    * (and everything derived from it that wasn't itself materialized) is no
    * longer needed - a localCheckpoint's blocks are its ONLY copy.
    */
  def unpersistCheckpoint(df: Dataset[_]): Unit =
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.foreach(_.unpersist(blocking = false))

  /** `localCheckpoint(eager = true)` fused with per-partition row counts:
    * ONE job materializes the partitions into block storage (localCheckpoint
    * semantics - lineage truncated, blocks freed by the ContextCleaner on
    * driver GC) and returns each partition's row count as it streams by.
    * Dataset.localCheckpoint runs a dedicated `rdd.count()` job to
    * materialize and then any consumer needing the counts must re-scan the
    * blocks - for global-row-number offsets that second full scan is pure
    * waste, measured ~30% of the operator's cost.
    */
  def localCheckpointWithPartitionCounts(
      df: Dataset[org.apache.spark.sql.Row]): (DataFrame, Array[(Int, Long)]) = {
    val (out, counts) = localCheckpointWith(df) { (i, it) =>
      var n = 0L
      while (it.hasNext) { it.next(); n += 1 }
      (i, n)
    }
    (out, counts.sortBy(_._1))
  }

  /** Shared scaffold for the fused localCheckpoint variants: defensive
    * InternalRow copy (the iterator reuses one mutable row, which must not
    * be cached as-is - same as Dataset.checkpoint), checkpoint mark, ONE
    * materializing job that folds each partition, and the re-wrapped frame.
    * Like Dataset.localCheckpoint, it runs as one SQL execution
    * ([[withExecution]]).
    */
  private def localCheckpointWith[A: scala.reflect.ClassTag](
      df: Dataset[org.apache.spark.sql.Row])(
      fold: (Int, Iterator[org.apache.spark.sql.catalyst.InternalRow]) => A): (DataFrame, Array[A]) = {
    val classic = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val (internalRdd, results) = withExecution(df, "localCheckpoint") {
      val rdd = classic.queryExecution.toRdd.map(_.copy())
      rdd.localCheckpoint()
      (rdd, rdd.mapPartitionsWithIndex((i, it) => Iterator.single(fold(i, it))).collect())
    }
    (classic.sparkSession.internalCreateDataFrame(
      internalRdd, classic.schema, isStreaming = false), results)
  }

  /** Run `body` as one SQL execution of `df`'s plan, named `name`. Every
    * job `body` submits (adaptive stage jobs included) carries that
    * execution's id, as the jobs of a Dataset action do; RDD actions on
    * `queryExecution.toRdd` run outside any execution without it.
    */
  def withExecution[A](df: Dataset[_], name: String)(body: => A): A =
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution,
      Some(name))(body)

  /** `localCheckpoint(eager = true)` fused with a changed-rows count: ONE
    * job materializes the partitions and counts rows whose `col1` differs
    * from `col2` as they stream by - the per-round convergence check of an
    * iterative operator without a second scan over the checkpointed blocks.
    * Both columns must share a type; null != non-null counts as changed.
    */
  def localCheckpointWithDiffCount(df: Dataset[org.apache.spark.sql.Row],
      col1: String, col2: String): (DataFrame, Long) = {
    val schema = df.schema
    val i1 = schema.fieldIndex(col1)
    val i2 = schema.fieldIndex(col2)
    val dt = schema(i1).dataType
    require(schema(i2).dataType == dt, s"$col1/$col2 type mismatch")
    val (out, partials) = localCheckpointWith(df) { (_, it) =>
      var n = 0L
      while (it.hasNext) {
        val r = it.next()
        val a = r.get(i1, dt)
        val b = r.get(i2, dt)
        if ((a == null) != (b == null) || (a != null && a != b)) n += 1
      }
      n
    }
    (out, partials.sum)
  }
}
