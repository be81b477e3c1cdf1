package graft.plans

import org.apache.datasketches.common.ArrayOfStringsSerDe
import org.apache.datasketches.frequencies.{ErrorType, ItemsSketch}
import org.apache.datasketches.memory.Memory
import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Frequent-items (heavy-hitter) sketches, beside the theta sketches of
  * `corpus_overlap` in the mergeable-sketch suite. Where a plain
  * `groupBy(key).count()` is already map-side combined and fine for
  * vocabulary-sized key domains, it is NOT fine for unbounded ones — hosts,
  * URLs, n-grams, user agents at crawl scale: the aggregation state itself
  * becomes corpus-sized. An ItemsSketch tracks at most `maxMapSize`
  * candidates in fixed memory with the Misra-Gries guarantee: every item with true count > N/maxMapSize survives (no false
  * negatives above threshold), estimates off by at most the documented
  * per-sketch error bound, and merges of per-shard sketches keep the
  * guarantee — so per-increment partials merge like theta sketches do.
  *
  * Exactness contract: while the number of distinct items stays under the
  * sketch's map capacity (0.75 · maxMapSize), nothing is ever evicted and
  * every estimate IS the true count — the `freq_terms` gate pins that
  * regime against exact DuckDB counts; beyond capacity assertions must be
  * bound-based (spec-locked separately).
  */
object FrequencyExpressions {

  private val serde = new ArrayOfStringsSerDe()

  /** Aggregate string items into a serialized frequent-items sketch.
    * `maxMapSize` must be a power of 2 (Datasketches requirement).
    */
  case class FreqSketchAgg(child: Expression, maxMapSize: Int,
      override val mutableAggBufferOffset: Int = 0,
      override val inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[ItemsSketch[String]]
      with ImplicitCastInputTypes with UnaryLike[Expression] {

    override def inputTypes: Seq[GraftSqlBridge.AbstractType] = Seq(StringType)
    override def dataType: DataType = BinaryType
    override def nullable: Boolean = false
    override def prettyName: String = "graft_freq_agg"

    override def createAggregationBuffer(): ItemsSketch[String] =
      new ItemsSketch[String](maxMapSize)

    override def update(buf: ItemsSketch[String], input: InternalRow): ItemsSketch[String] = {
      val v = child.eval(input)
      if (v != null) buf.update(v.asInstanceOf[UTF8String].toString)
      buf
    }

    override def merge(a: ItemsSketch[String], b: ItemsSketch[String]): ItemsSketch[String] =
      a.merge(b)

    override def eval(buf: ItemsSketch[String]): Any = buf.toByteArray(serde)

    override def serialize(buf: ItemsSketch[String]): Array[Byte] =
      buf.toByteArray(serde)
    override def deserialize(bytes: Array[Byte]): ItemsSketch[String] =
      ItemsSketch.getInstance(Memory.wrap(bytes), serde)

    override def withNewMutableAggBufferOffset(n: Int): FreqSketchAgg =
      copy(mutableAggBufferOffset = n)
    override def withNewInputAggBufferOffset(n: Int): FreqSketchAgg =
      copy(inputAggBufferOffset = n)
    override protected def withNewChildInternal(newChild: Expression): FreqSketchAgg =
      copy(child = newChild)
  }

  /** Merge serialized frequent-items sketches (per-shard partials). */
  case class FreqMergeAgg(child: Expression, maxMapSize: Int,
      override val mutableAggBufferOffset: Int = 0,
      override val inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[ItemsSketch[String]]
      with ImplicitCastInputTypes with UnaryLike[Expression] {

    override def inputTypes: Seq[GraftSqlBridge.AbstractType] = Seq(BinaryType)
    override def dataType: DataType = BinaryType
    override def nullable: Boolean = false
    override def prettyName: String = "graft_freq_merge"

    override def createAggregationBuffer(): ItemsSketch[String] =
      new ItemsSketch[String](maxMapSize)

    override def update(buf: ItemsSketch[String], input: InternalRow): ItemsSketch[String] = {
      val v = child.eval(input)
      if (v != null) buf.merge(
        ItemsSketch.getInstance(Memory.wrap(v.asInstanceOf[Array[Byte]]), serde))
      buf
    }

    override def merge(a: ItemsSketch[String], b: ItemsSketch[String]): ItemsSketch[String] =
      a.merge(b)

    override def eval(buf: ItemsSketch[String]): Any = buf.toByteArray(serde)

    override def serialize(buf: ItemsSketch[String]): Array[Byte] =
      buf.toByteArray(serde)
    override def deserialize(bytes: Array[Byte]): ItemsSketch[String] =
      ItemsSketch.getInstance(Memory.wrap(bytes), serde)

    override def withNewMutableAggBufferOffset(n: Int): FreqMergeAgg =
      copy(mutableAggBufferOffset = n)
    override def withNewInputAggBufferOffset(n: Int): FreqMergeAgg =
      copy(inputAggBufferOffset = n)
    override protected def withNewChildInternal(newChild: Expression): FreqMergeAgg =
      copy(child = newChild)
  }

  /** Scalar: the sketch's heavy hitters at `threshold` as
    * `array<struct<item string, estimate long, lower long, upper long>>`,
    * no-false-negatives error type, descending estimate then ascending item
    * (deterministic under ties).
    */
  case class FreqItems(left: Expression, right: Expression)
      extends BinaryExpression with ImplicitCastInputTypes {

    override def inputTypes: Seq[GraftSqlBridge.AbstractType] =
      Seq(BinaryType, LongType)
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("item", StringType, nullable = false),
      StructField("estimate", LongType, nullable = false),
      StructField("lower", LongType, nullable = false),
      StructField("upper", LongType, nullable = false))), containsNull = false)
    override def nullable: Boolean = true
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "graft_freq_items"

    override def nullSafeEval(sk: Any, thr: Any): Any =
      FrequencyExpressions.frequentItems(sk.asInstanceOf[Array[Byte]],
        thr.asInstanceOf[Long])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (sk, thr) =>
        s"${ev.value} = graft.plans.FrequencyExpressions.frequentItems($sk, $thr);")

    override protected def withNewChildrenInternal(l: Expression, r: Expression)
        : Expression = copy(left = l, right = r)
  }

  def frequentItems(bytes: Array[Byte], threshold: Long): ArrayData = {
    val sk = ItemsSketch.getInstance(Memory.wrap(bytes), serde)
    val rows = sk.getFrequentItems(threshold, ErrorType.NO_FALSE_NEGATIVES)
      .sortBy(r => (-r.getEstimate, r.getItem))
      .map(r => InternalRow(UTF8String.fromString(r.getItem), r.getEstimate,
        r.getLowerBound, r.getUpperBound))
    new GenericArrayData(rows.asInstanceOf[Array[Any]])
  }

  /** Power-of-2 map size tracking ~0.75·size items exactly; 3/size·N error
    * bound beyond. 8192 keeps whole test-corpus vocabularies exact.
    */
  val DefaultMaxMapSize: Int = 8192

  // ---- Column API ----
  private def expr(c: Column) = GraftSqlBridge.expression(c)
  private def agg(e: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction) =
    GraftSqlBridge.column(e.toAggregateExpression())

  def freqAgg(items: Column, maxMapSize: Int = DefaultMaxMapSize): Column =
    agg(FreqSketchAgg(expr(items), maxMapSize))

  def freqMergeAgg(sketches: Column, maxMapSize: Int = DefaultMaxMapSize): Column =
    agg(FreqMergeAgg(expr(sketches), maxMapSize))

  def freqItems(sketch: Column, threshold: Column): Column =
    GraftSqlBridge.column(FreqItems(expr(sketch), expr(threshold)))
}
