package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native PQ code assignment: all `m` subspace argmins in ONE codegen'd
  * expression over the e6-integer vector (see [[graft.ops.Pq]]).
  *
  * The composable form — per subspace, `array_position(array_min(...))`
  * over `aggregate(zip_with(slice(transform(...))))` HOFs — is interpreted
  * (higher-order functions have no doGenCode) and, worse, duplicates the
  * scaled-vector subtree into every one of the m·ksub·2 distance branches:
  * ~500k interpreted element ops PER ROW at m=ksub=8, dim=64 (measured
  * 6 s / 2000 rows). This expression is one tight primitive loop —
  * m·ksub·dsub integer multiply-adds per row — with the codebooks attached
  * as a plan reference object, exactly the in-row-loop pattern of
  * [[TokenCount]]/[[BigramCounts]].
  *
  * Semantics (mirrored by the SQL oracle and the naive spec net): integer
  * squared L2 per centroid, FIRST index on distance ties; a null vector
  * yields null (nullIntolerant); a vector shorter than the codebooks' total
  * dimension fails loudly (ragged rows are a caller contract violation).
  */
case class PqAssign(child: Expression, books: Array[Array[Array[Long]]])
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[GraftSqlBridge.AbstractType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_pq_assign"

  override def nullSafeEval(input: Any): Any =
    PqAssign.assign(input.asInstanceOf[ArrayData], books)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("books", books, "long[][][]")
    nullSafeCodeGen(ctx, ev, arr =>
      s"${ev.value} = graft.plans.PqAssign.assign($arr, $ref);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PqAssign {
  def assign(xe: ArrayData, books: Array[Array[Array[Long]]]): GenericArrayData = {
    val m = books.length
    var total = 0
    var j = 0
    while (j < m) { total += books(j)(0).length; j += 1 }
    if (xe.numElements() != total)
      throw new IllegalArgumentException(
        s"pq_assign: vector has ${xe.numElements()} components, codebooks span $total")
    val out = new Array[Any](m)
    var off = 0
    j = 0
    while (j < m) {
      val book = books(j)
      val dsub = book(0).length
      var best = 0
      var bestD = Long.MaxValue
      var c = 0
      while (c < book.length) {
        val cb = book(c)
        var d = 0L
        var i = 0
        while (i < dsub) {
          val t = xe.getLong(off + i) - cb(i)
          d += t * t
          i += 1
        }
        // strict < keeps the FIRST minimal index — the oracle's
        // min(struct(dist, c)) tie-break
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(j) = best
      off += dsub
      j += 1
    }
    new GenericArrayData(out)
  }

  def codes(xe: Column, books: Seq[Seq[Seq[Long]]]): Column =
    GraftSqlBridge.column(PqAssign(GraftSqlBridge.expression(xe),
      books.map(_.map(_.toArray).toArray).toArray))
}

/** Native ADC pair score: `sum_j tables(j)(codes(j))` — the inner loop of
  * batch-query PQ search ([[graft.ops.Pq.adcKnnJoin]]).
  *
  * The composable form — `aggregate(zip_with(codes, tables, (c, t) ->
  * element_at(t, c + 1)), 0L, (a, v) -> a + v)` — is a higher-order
  * function chain with no `doGenCode`: per PAIR it allocates a zipped
  * array and interprets 2·m lambda invocations with boxing. At 170M
  * candidate pairs that interpretation was ~50× the arithmetic (measured
  * 178 s → see SMOKE); this expression is m primitive reads per pair.
  *
  * Contract: `codes(j)` must index into `tables(j)` — out-of-range codes
  * fail loudly (a silent unsafe read would return garbage distances). A
  * null entry in either array (a query vector with null components) makes
  * the whole score null, matching SQL sum-over-null semantics of the HOF
  * form it replaces.
  */
case class PqAdcScore(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[GraftSqlBridge.AbstractType] =
    Seq(ArrayType(IntegerType), ArrayType(ArrayType(LongType)))
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_pq_adc_score"

  override def nullSafeEval(codes: Any, tables: Any): Any =
    PqAdcScore.score(codes.asInstanceOf[ArrayData], tables.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // ctx.freshName: a fixed local name would collide (duplicate declaration
    // → Janino failure → silent interpreted fallback) when two instances of
    // the expression land in the same generated method
    val r = ctx.freshName("adcScore")
    nullSafeCodeGen(ctx, ev, (c, t) => s"""
      java.lang.Long $r = graft.plans.PqAdcScore.score($c, $t);
      if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.longValue(); }
    """)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native per-query ADC distance table: the m×ksub exact integer
  * query→centroid distances (`out(j)(c) = Σ_d (xe(j·dsub+d) − books(j)(c)(d))²`)
  * in ONE codegen'd expression over the query's e6 vector.
  *
  * The literal-unrolled Column form this replaces — m·ksub nested `array`s
  * of dsub-term `element_at(xe,…) − lit` squares — builds a plan tree of
  * several thousand nodes PER adcKnnJoin call (the xe subtree is duplicated
  * into every one of the m·ksub·dsub element_at calls), and Catalyst
  * analysis/optimization/codegen of that tree was measured as a 1.2 s
  * driver-side gap per pq_knn plan at sf0.1 (JobProbe, r17). This is one
  * primitive loop with the codebooks attached as a plan reference object —
  * the same pattern as [[PqAssign]], m·ksub·dsub integer multiply-adds per
  * QUERY row (the broadcast side; never per pair).
  *
  * Semantics match the unrolled form exactly: integer arithmetic, same
  * per-entry summation order (d ascending — integer addition is associative
  * so the fold direction cannot matter); a null vector yields null
  * (nullIntolerant); a null ELEMENT yields a null table — callers filter
  * query rows with null components before scoring, same as before; a
  * wrong-length vector fails loudly.
  */
case class PqAdcTable(child: Expression, books: Array[Array[Array[Long]]])
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[GraftSqlBridge.AbstractType] = Seq(ArrayType(LongType))
  override def dataType: DataType =
    ArrayType(ArrayType(LongType, containsNull = false), containsNull = false)
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_pq_adc_table"

  override def nullSafeEval(input: Any): Any =
    PqAdcTable.table(input.asInstanceOf[ArrayData], books)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("books", books, "long[][][]")
    // ctx.freshName: see PqAdcScore — fixed names break under two instances
    val r = ctx.freshName("adcTable")
    nullSafeCodeGen(ctx, ev, arr => s"""
      org.apache.spark.sql.catalyst.util.GenericArrayData $r =
        graft.plans.PqAdcTable.table($arr, $ref);
      if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PqAdcTable {
  /** null iff any referenced vector element is null; throws on a length
    * mismatch (ragged rows are a caller contract violation).
    */
  def table(xe: ArrayData, books: Array[Array[Array[Long]]]): GenericArrayData = {
    val m = books.length
    var total = 0
    var j = 0
    while (j < m) { total += books(j)(0).length; j += 1 }
    if (xe.numElements() != total)
      throw new IllegalArgumentException(
        s"pq_adc_table: vector has ${xe.numElements()} components, codebooks span $total")
    var i = 0
    while (i < total) {
      if (xe.isNullAt(i)) return null
      i += 1
    }
    val out = new Array[Any](m)
    var off = 0
    j = 0
    while (j < m) {
      val book = books(j)
      val dsub = book(0).length
      val row = new Array[Long](book.length)
      var c = 0
      while (c < book.length) {
        val cb = book(c)
        var s = 0L
        var d = 0
        while (d < dsub) {
          val t = xe.getLong(off + d) - cb(d)
          s += t * t
          d += 1
        }
        row(c) = s
        c += 1
      }
      out(j) = new GenericArrayData(row)
      off += dsub
      j += 1
    }
    new GenericArrayData(out)
  }

  def table(xe: Column, books: Seq[Seq[Seq[Long]]]): Column =
    GraftSqlBridge.column(PqAdcTable(GraftSqlBridge.expression(xe),
      books.map(_.map(_.toArray).toArray).toArray))
}

/** Native exact squared-L2 distance of two e6-integer vectors — the
  * re-rank step of PQ serving ([[graft.ops.Pq.adcTopKRerank]] /
  * [[graft.ops.Pq.adcKnnJoinRerank]]): the ADC shortlist is re-scored at
  * FULL precision, so quantization error picks the candidate pool but the
  * true distance picks the winners (measured ~2× recall@10 at the gate
  * config — SMOKE.md "ANN recall: PQ joins the tuning-curve evidence").
  *
  * The HOF form (`aggregate(zip_with(a, b, (x, y) -> (x-y)*(x-y)), ...)`)
  * is interpreted per row; this is one primitive loop of dim integer
  * multiply-adds, the same pattern as [[PqAdcScore]]. The shortlist is
  * bounded (queries × shortlist rows), but the expression also sits on the
  * corpus-side join projection, so it must be codegen-friendly.
  *
  * Contract: equal lengths (a ragged pair fails loudly — it means the
  * caller joined mismatched embedding spaces); a null array yields null
  * (nullIntolerant); a null ELEMENT yields null, matching SQL sum-over-null
  * semantics — callers filter null scores rather than ranking them.
  */
case class SqDist(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[GraftSqlBridge.AbstractType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_sq_dist"

  override def nullSafeEval(a: Any, b: Any): Any =
    SqDist.dist(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // ctx.freshName: see PqAdcScore — fixed names break under two instances
    val r = ctx.freshName("sqDist")
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      java.lang.Long $r = graft.plans.SqDist.dist($a, $b);
      if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.longValue(); }
    """)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SqDist {
  /** null iff any element is null; throws on length mismatch. */
  def dist(a: ArrayData, b: ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (b.numElements() != n)
      throw new IllegalArgumentException(
        s"sq_dist: $n vs ${b.numElements()} components")
    var s = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val t = a.getLong(i) - b.getLong(i)
      s += t * t
      i += 1
    }
    java.lang.Long.valueOf(s)
  }

  def dist(a: Column, b: Column): Column =
    GraftSqlBridge.column(SqDist(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))
}

object PqAdcScore {
  /** null iff any referenced entry is null; throws on shape/range errors. */
  def score(codes: ArrayData, tables: ArrayData): java.lang.Long = {
    val m = codes.numElements()
    if (tables.numElements() != m)
      throw new IllegalArgumentException(
        s"pq_adc_score: ${m} codes vs ${tables.numElements()} tables")
    var s = 0L
    var j = 0
    while (j < m) {
      if (codes.isNullAt(j) || tables.isNullAt(j)) return null
      val t = tables.getArray(j)
      val c = codes.getInt(j)
      if (c < 0 || c >= t.numElements())
        throw new IllegalArgumentException(
          s"pq_adc_score: code $c out of range for a ${t.numElements()}-entry table")
      if (t.isNullAt(c)) return null
      s += t.getLong(c)
      j += 1
    }
    java.lang.Long.valueOf(s)
  }

  def score(codes: Column, tables: Column): Column =
    GraftSqlBridge.column(PqAdcScore(
      GraftSqlBridge.expression(codes), GraftSqlBridge.expression(tables)))
}

/** Native OPQ rotation: `z = P · (H · (D · x)) / √d` over the e6-integer
  * vector, where `D` is a ±1 sign diagonal, `H` the Walsh-Hadamard matrix
  * (natural ordering, `H(i)(j) = (−1)^popcount(i AND j)`), `√d` exact
  * (dim must be a power of 4: 16, 64, 256 …), and `P` a learned output
  * permutation — the orthogonal family [[graft.ops.Pq]] restricts OPQ to
  * so that BOTH training and encode stay bit-replayable as integer SQL
  * (a Procrustes/SVD rotation would make the oracle unverifiable).
  *
  * The division rounds as `(t + √d/2) floor-div √d` — DuckDB's
  * `(t + 4) // 8` exactly, for d = 64. One O(d log d) butterfly per row,
  * codegen'd; null vector → null; a wrong-length vector fails loudly.
  */
case class HdRotate(child: Expression, signs: Array[Int], perm: Array[Int])
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[GraftSqlBridge.AbstractType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_hd_rotate"

  override def nullSafeEval(input: Any): Any =
    HdRotate.rotateData(input.asInstanceOf[ArrayData], signs, perm)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sRef = ctx.addReferenceObj("signs", signs, "int[]")
    val pRef = ctx.addReferenceObj("perm", perm, "int[]")
    nullSafeCodeGen(ctx, ev, arr =>
      s"${ev.value} = graft.plans.HdRotate.rotateData($arr, $sRef, $pRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HdRotate {
  /** Core integer rotation, shared by the expression and the driver-side
    * query-literal twin ([[graft.ops.Pq.OpqRotation.rotateXe]]).
    */
  def rotate(xe: Array[Long], signs: Array[Int], perm: Array[Int]): Array[Long] = {
    val d = signs.length
    require(xe.length == d,
      s"hd_rotate: vector has ${xe.length} components, rotation expects $d")
    val half = Integer.numberOfTrailingZeros(d) / 2
    val sqrtD = 1 << half
    require(sqrtD * sqrtD == d, s"hd_rotate: dim $d is not a power of 4")
    val t = new Array[Long](d)
    var i = 0
    while (i < d) { t(i) = signs(i) * xe(i); i += 1 }
    var len = 1
    while (len < d) {
      var b = 0
      while (b < d) {
        var j = b
        while (j < b + len) {
          val a = t(j); val c = t(j + len)
          t(j) = a + c
          t(j + len) = a - c
          j += 1
        }
        b += len << 1
      }
      len <<= 1
    }
    val out = new Array[Long](d)
    i = 0
    while (i < d) {
      // floor((t + sqrtD/2) / sqrtD): >> on the shifted value is floor
      // division for negatives too — DuckDB's arithmetic `(t + 4) >> 3`
      // (NOT `//`, which truncates toward zero in DuckDB)
      out(i) = (t(perm(i)) + (sqrtD >> 1)) >> half
      i += 1
    }
    out
  }

  def rotateData(xe: ArrayData, signs: Array[Int], perm: Array[Int]): GenericArrayData = {
    val d = signs.length
    if (xe.numElements() != d)
      throw new IllegalArgumentException(
        s"hd_rotate: vector has ${xe.numElements()} components, rotation expects $d")
    val in = new Array[Long](d)
    var i = 0
    while (i < d) { in(i) = xe.getLong(i); i += 1 }
    new GenericArrayData(rotate(in, signs, perm))
  }

  def col(xe: Column, signs: Seq[Int], perm: Seq[Int]): Column =
    GraftSqlBridge.column(HdRotate(GraftSqlBridge.expression(xe),
      signs.toArray, perm.toArray))
}
