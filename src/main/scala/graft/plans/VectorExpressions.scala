package graft.plans

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

// Native Catalyst expressions for the dedup and text-analysis hot paths. The
// composable alternative (`zip_with` + `aggregate` higher-order functions)
// allocates a lambda frame per element and falls out of efficient codegen;
// these generate a tight primitive loop inside whole-stage codegen — a
// custom `Expression` before any custom physical operator, and never a UDF.

/** One-pass MinHash signature: for each universal-hash permutation i,
  * min over the row's shingle hashes of `(a_i·(h mod P) + b_i) mod P`,
  * initialized to P. Identical arithmetic to the composable
  * `aggregate(least(...))` fold chain (Dedup.minhashSignatures's previous
  * form, oracle-locked), but ONE traversal of the hash array with a tight
  * primitive inner loop instead of `numPerms` interpreted ArrayAggregate
  * lambdas — the signature stage is the dominant cost of every minhash
  * query. Null elements are skipped (matching `least`'s null handling);
  * a null array yields null; an empty array yields all-P.
  */
case class MinHashSignatures(child: Expression, params: Seq[(Long, Long)])
    extends UnaryExpression with ImplicitCastInputTypes {

  private val P = 2147483647L
  @transient private lazy val as: Array[Long] = params.map(_._1).toArray
  @transient private lazy val bs: Array[Long] = params.map(_._2).toArray

  override def inputTypes: Seq[GraftSqlBridge.AbstractType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_minhash_sig"

  override def nullSafeEval(input: Any): Any = {
    val xs = input.asInstanceOf[ArrayData]
    val out = Array.fill(params.length)(P)
    val n = xs.numElements()
    var i = 0
    while (i < n) {
      if (!xs.isNullAt(i)) {
        val hm = xs.getLong(i) % P
        var j = 0
        while (j < out.length) {
          val v = (as(j) * hm + bs(j)) % P
          if (v < out(j)) out(j) = v
          j += 1
        }
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val aRef = ctx.addReferenceObj("mhAs", as, "long[]")
      val bRef = ctx.addReferenceObj("mhBs", bs, "long[]")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val hm = ctx.freshName("hm")
      val v = ctx.freshName("v")
      s"""
         |long[] $out = new long[${params.length}];
         |java.util.Arrays.fill($out, ${P}L);
         |int $n = $arr.numElements();
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$arr.isNullAt($i)) {
         |    long $hm = $arr.getLong($i) % ${P}L;
         |    for (int $j = 0; $j < ${params.length}; $j++) {
         |      long $v = ($aRef[$j] * $hm + $bRef[$j]) % ${P}L;
         |      if ($v < $out[$j]) $out[$j] = $v;
         |    }
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** One-pass SimHash: per bit b, the weighted majority
  * `sum(+1 if bit set else -1)` over the row's shingle hashes, packed to a
  * long with bit b set where the sum is positive. Identical arithmetic to
  * the per-bit `aggregate` fold chain (Dedup.simhash's previous form,
  * oracle-locked) in ONE traversal. A null element contributes −1 to every
  * bit's sum — the fold's `when(bit-test, 1).otherwise(-1)` routes a null
  * hash through `otherwise` — so parity with the composable form holds even
  * for degenerate inputs; null array yields null; empty array packs to 0.
  */
case class SimHashPack(child: Expression, numBits: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[GraftSqlBridge.AbstractType] = Seq(ArrayType(LongType))
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_simhash"

  override def nullSafeEval(input: Any): Any = {
    val xs = input.asInstanceOf[ArrayData]
    val sums = new Array[Long](numBits)
    val n = xs.numElements()
    var i = 0
    while (i < n) {
      val isNull = xs.isNullAt(i)
      val h = if (isNull) 0L else xs.getLong(i)
      var b = 0
      while (b < numBits) {
        sums(b) += (if (!isNull && ((h >> b) & 1L) == 1L) 1L else -1L)
        b += 1
      }
      i += 1
    }
    var packed = 0L
    var b = 0
    while (b < numBits) {
      if (sums(b) > 0) packed |= (1L << b)
      b += 1
    }
    packed
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val sums = ctx.freshName("sums")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val n = ctx.freshName("n")
      val h = ctx.freshName("h")
      val packed = ctx.freshName("packed")
      s"""
         |long[] $sums = new long[$numBits];
         |int $n = $arr.numElements();
         |for (int $i = 0; $i < $n; $i++) {
         |  boolean ${i}Null = $arr.isNullAt($i);
         |  long $h = ${i}Null ? 0L : $arr.getLong($i);
         |  for (int $b = 0; $b < $numBits; $b++) {
         |    $sums[$b] += (!${i}Null && (($h >> $b) & 1L) == 1L) ? 1L : -1L;
         |  }
         |}
         |long $packed = 0L;
         |for (int $b = 0; $b < $numBits; $b++) {
         |  if ($sums[$b] > 0) $packed |= (1L << $b);
         |}
         |${ev.value} = $packed;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** One-pass winnowing window minima: for window size w, the minimum of each
  * length-w sliding window over the hash array (the full-array minimum when
  * the array is shorter than w). Identical semantics to the composable
  * `transform(sequence(...), i -> array_min(slice(hs, i, w)))` form
  * (Dedup.winnowFingerprints's previous shape, oracle-locked) — null
  * elements are skipped per `array_min`, an all-null window yields a null
  * element — without the per-window slice allocation and interpreted lambda.
  */
case class WinnowMins(child: Expression, w: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(w >= 1, s"window must be >= 1, got $w")

  override def inputTypes: Seq[GraftSqlBridge.AbstractType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = child.nullable
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_winnow_mins"

  override def nullSafeEval(input: Any): Any = {
    val xs = input.asInstanceOf[ArrayData]
    val n = xs.numElements()
    val span = if (n < w) n else w
    val outLen = if (n < w) 1 else n - w + 1
    val out = new Array[Any](outLen)
    var s = 0
    while (s < outLen) {
      var best = Long.MaxValue
      var seen = false
      var i = s
      while (i < s + span) {
        if (!xs.isNullAt(i)) {
          val v = xs.getLong(i)
          if (!seen || v < best) { best = v; seen = true }
        }
        i += 1
      }
      out(s) = if (seen) java.lang.Long.valueOf(best) else null
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val n = ctx.freshName("n")
      val span = ctx.freshName("span")
      val outLen = ctx.freshName("outLen")
      val out = ctx.freshName("out")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val best = ctx.freshName("best")
      val seen = ctx.freshName("seen")
      val v = ctx.freshName("v")
      s"""
         |int $n = $arr.numElements();
         |int $span = ($n < $w) ? $n : $w;
         |int $outLen = ($n < $w) ? 1 : $n - $w + 1;
         |Object[] $out = new Object[$outLen];
         |for (int $s = 0; $s < $outLen; $s++) {
         |  long $best = Long.MAX_VALUE;
         |  boolean $seen = false;
         |  for (int $i = $s; $i < $s + $span; $i++) {
         |    if (!$arr.isNullAt($i)) {
         |      long $v = $arr.getLong($i);
         |      if (!$seen || $v < $best) { $best = $v; $seen = true; }
         |    }
         |  }
         |  $out[$s] = $seen ? (Object) java.lang.Long.valueOf($best) : null;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Shannon entropy (bits) of a token array's unigram distribution in ONE
  * codegen'd pass: H = log2(n) − (Σ c·log2 c)/n over per-token counts from
  * a hash map — no sort, no per-token struct allocation. Replaces the
  * interpreted `aggregate()` fold over `sort_array(tokens)` whose
  * per-element lambda allocated a 3-field struct per token (measured 15×
  * DuckDB's marginal cost at 16× scale). Formula parity: each log2 is
  * `Math.log(x)/Math.log(2)` — the exact arithmetic Spark's `Log2`
  * generates — and the final combination mirrors the old expression's
  * `log2(n) − s/n`. Empty array → 0.0 (threshold filters want a number),
  * null array → null; null ELEMENTS count as one distinct token (parity
  * with the old fold's null-safe `<=>` run comparison).
  */
case class UnigramEntropy(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[GraftSqlBridge.AbstractType] = Seq(ArrayType(StringType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = child.nullable
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_unigram_entropy"

  override def nullSafeEval(input: Any): Any =
    UnigramEntropy.entropy(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr =>
      s"${ev.value} = graft.plans.UnigramEntropy.entropy($arr);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object UnigramEntropy {
  private val Ln2 = Math.log(2.0)

  def entropy(xs: ArrayData): Double = {
    val n = xs.numElements()
    if (n == 0) return 0.0
    val counts =
      new java.util.HashMap[AnyRef, java.lang.Integer](Math.min(n * 2, 1024))
    var i = 0
    while (i < n) {
      // HashMap accepts a null key, giving null elements one shared count
      val k = if (xs.isNullAt(i)) null else xs.getUTF8String(i)
      val prev = counts.get(k)
      counts.put(k, if (prev == null) 1 else prev.intValue() + 1)
      i += 1
    }
    var s = 0.0
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next().intValue()
      if (c > 1) s += c.toDouble * (Math.log(c.toDouble) / Ln2)
    }
    Math.log(n.toDouble) / Ln2 - s / n
  }
}

/** Whitespace-separated token count in one codegen'd BYTE scan — exact
  * parity with `size(array_remove(split(text, "\\s+"), ""))` (the count of
  * maximal non-whitespace runs) without materializing the token array or
  * running the regex engine. Java's non-Unicode `\s` is the six ASCII bytes
  * `[ \t\n\x0B\f\r]`, all single-byte in UTF-8 and never continuation
  * bytes, so the byte scan is character-exact. Replaces a backtracking
  * `java.util.regex` split whose cost dominated `text_tokens` at scale
  * (DuckDB's RE2 is linear; this is cheaper than either).
  */
case class TokenCount(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[GraftSqlBridge.AbstractType] = Seq(StringType)
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = child.nullable
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_token_count"

  override def nullSafeEval(input: Any): Any =
    TokenCount.count(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.plans.TokenCount.count($s);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TokenCount {
  @inline private def isWs(b: Byte): Boolean = b == 32 || (b >= 9 && b <= 13)

  def count(s: UTF8String): Int = {
    val n = s.numBytes
    var c = 0
    var i = 0
    var inRun = false
    while (i < n) {
      val ws = isWs(s.getByte(i))
      if (!ws && !inRun) { c += 1; inRun = true }
      else if (ws) inRun = false
      i += 1
    }
    c
  }
}

/** BPE-ish subword count in one codegen'd byte scan — exact parity with
  * `size(regexp_extract_all(text, "[A-Za-z0-9]+|[^A-Za-z0-9\\s]"))`: each
  * maximal ASCII-alphanumeric run counts once, and every other
  * non-whitespace CODE POINT counts once (Java regex classes match per
  * code point; here each non-ASCII code point is counted at its UTF-8 lead
  * byte — continuation bytes are skipped, so astral characters count one,
  * matching the regex). Empty/whitespace-only text counts 0, subsuming the
  * old `when(length(trim(text)) = 0)` guard.
  */
case class SubwordCount(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[GraftSqlBridge.AbstractType] = Seq(StringType)
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = child.nullable
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_subword_count"

  override def nullSafeEval(input: Any): Any =
    SubwordCount.count(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.plans.SubwordCount.count($s);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SubwordCount {
  def count(s: UTF8String): Int = {
    val n = s.numBytes
    var c = 0
    var i = 0
    var inAlnum = false
    while (i < n) {
      val b = s.getByte(i)
      if ((b & 0xC0) != 0x80) { // count code points at their lead byte
        val alnum = (b >= '0' && b <= '9') || (b >= 'A' && b <= 'Z') ||
          (b >= 'a' && b <= 'z')
        if (alnum) { if (!inAlnum) { c += 1; inAlnum = true } }
        else {
          inAlnum = false
          // negative lead bytes (non-ASCII) are never whitespace
          if (!(b == 32 || (b >= 9 && b <= 13))) c += 1
        }
      }
      i += 1
    }
    c
  }
}

/** Per-document word-bigram occurrence counts in ONE codegen'd pass:
  * `[(w1, w2, k), …]` over adjacent token pairs, grouped by an in-row hash
  * map — the pre-counted rows explode STRAIGHT into the LM scoring joins,
  * replacing the `explode(bigrams) → groupBy(doc, w1, w2)` shape whose
  * corpus-sized exchange (one row per bigram OCCURRENCE, string-keyed) was
  * the dominant stage of the perplexity gates (161.9 MB shuffled at 32×
  * sf0.1; a document's bigram counts never need cross-partition data, so
  * that exchange moved bytes for no semantic reason). Values are identical
  * to the exploded groupBy formulation — same string keys, same counts —
  * so every downstream join and the DuckDB oracles are untouched.
  *
  * Output order is first-occurrence (LinkedHashMap): deterministic for a
  * given token array, and irrelevant downstream (the rows feed joins and
  * per-doc aggregates). Windows containing a null token are skipped —
  * parity with the exploded form, whose `w1/w2 IS NOT NULL` filter dropped
  * them. Arrays below 2 tokens emit an empty array; a null array is null.
  */
case class BigramCounts(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[GraftSqlBridge.AbstractType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("w1", StringType, nullable = false),
      StructField("w2", StringType, nullable = false),
      StructField("k", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = child.nullable
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_bigram_counts"

  override def nullSafeEval(input: Any): Any =
    BigramCounts.counts(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr =>
      s"${ev.value} = graft.plans.BigramCounts.counts($arr);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BigramCounts {
  /** Composite map key over the two token strings — grouping by the PAIR
    * (never a separator-joined concat, which would conflate ("a b","c")
    * with ("a","b c")).
    */
  private final class Key(val a: org.apache.spark.unsafe.types.UTF8String,
      val b: org.apache.spark.unsafe.types.UTF8String) {
    override val hashCode: Int = a.hashCode * 31 + b.hashCode
    override def equals(o: Any): Boolean = o match {
      case k: Key => a.equals(k.a) && b.equals(k.b)
      case _ => false
    }
  }

  def counts(xs: ArrayData): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val n = xs.numElements()
    if (n < 2)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val m = new java.util.LinkedHashMap[Key, Array[Long]](Math.min(n * 2, 1024))
    var i = 0
    while (i < n - 1) {
      if (!xs.isNullAt(i) && !xs.isNullAt(i + 1)) {
        val key = new Key(xs.getUTF8String(i), xs.getUTF8String(i + 1))
        val c = m.get(key)
        if (c == null) m.put(key, Array(1L)) else c(0) += 1
      }
      i += 1
    }
    val out = new Array[Any](m.size)
    val it = m.entrySet().iterator()
    var p = 0
    while (it.hasNext) {
      val e = it.next()
      out(p) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](e.getKey.a, e.getKey.b, e.getValue()(0)))
      p += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Word-n-gram shingle hashes straight from the TOKEN array in one pass:
  * for each window of n consecutive tokens, the 56-bit portable hash of the
  * space-joined shingle — computed by STREAMING the token bytes and
  * separators into the digest, so the shingle string, the zip_with
  * intermediate arrays, and the per-element interpreted lambdas of the
  * composable form (`array_distinct(wordShingles(text, n))` +
  * [[Hash56Array]], GraftFunctions.wordShingles) never materialize. MD5 of
  * the streamed bytes is bit-identical to MD5 of the concatenated string,
  * so every oracle stays exact.
  *
  * `distinct` dedups on the FULL 128-bit digest — exactly the oracle's
  * DISTINCT-on-string semantics (two shingles share a full md5 iff they are
  * the same string, cryptographically), NOT on the 56-bit prefix: a prefix
  * collision between two distinct shingles must keep both rows, because
  * the string-level oracle keeps both. Windows containing a null token are
  * skipped (parity: the composable form's concat yields null there and
  * filters it). n=1 hashes the tokens themselves; arrays shorter than n
  * yield an empty array; a null array yields null.
  */
case class ShingleHash56(child: Expression, n: Int, distinct: Boolean)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(n >= 1, s"shingle width must be >= 1, got $n")

  override def inputTypes: Seq[GraftSqlBridge.AbstractType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_shingle_hash56"

  override def nullSafeEval(input: Any): Any =
    ShingleHash56.hashWindows(input.asInstanceOf[ArrayData], n, distinct)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr =>
      s"${ev.value} = graft.plans.ShingleHash56.hashWindows($arr, $n, $distinct);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleHash56 {
  private val md5: ThreadLocal[java.security.MessageDigest] =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }
  private val Space = Array[Byte](' ')

  def hashWindows(xs: ArrayData, n: Int, distinct: Boolean):
      org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val total = xs.numElements()
    val wins = total - n + 1
    if (wins <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val md = md5.get()
    val out = new Array[Any](wins)
    val seen = if (distinct) new java.util.HashSet[String]() else null
    var k = 0
    var i = 0
    while (i < wins) {
      var nullTok = false
      var j = 0
      while (j < n && !nullTok) {
        if (xs.isNullAt(i + j)) nullTok = true
        else {
          if (j > 0) md.update(Space)
          md.update(xs.getUTF8String(i + j).getBytes)
        }
        j += 1
      }
      if (nullTok) md.reset() // discard the partial window's state
      else {
        val d = md.digest() // resets for the next window
        // full-digest dedup = string-level DISTINCT (see scaladoc)
        if (seen == null || seen.add(new String(d, java.nio.charset.StandardCharsets.ISO_8859_1))) {
          out(k) = ((d(0) & 0xffL) << 48) | ((d(1) & 0xffL) << 40) |
            ((d(2) & 0xffL) << 32) | ((d(3) & 0xffL) << 24) |
            ((d(4) & 0xffL) << 16) | ((d(5) & 0xffL) << 8) | (d(6) & 0xffL)
          k += 1
        }
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      if (k == wins) out else out.take(k))
  }
}

/** [[ShingleHash56]] fed straight from the TEXT — byte-identical output
  * to `ShingleHash56(tokens(text), n, distinct)` without the
  * `split("\\s+")` java.util.regex pass or the token-array
  * materialization the composed form pays per evaluation (dup_spans'
  * generation stages, which evaluate the gram stream twice by design,
  * spent 90% of their task time there at 320k docs). Tokens are maximal
  * non-whitespace byte runs (Java's ASCII `\s`, the [[TokenCount]]
  * argument); token bytes stream into the digest directly with the same
  * single-space separators. Parity pinned by ShingleTextParitySpec.
  */
case class ShingleHashText(child: Expression, n: Int, distinct: Boolean)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(n >= 1, s"shingle width must be >= 1, got $n")

  override def inputTypes: Seq[GraftSqlBridge.AbstractType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_shingle_hash56_text"

  override def nullSafeEval(input: Any): Any =
    ShingleHashText.hashText(input.asInstanceOf[UTF8String], n, distinct)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.plans.ShingleHashText.hashText($t, $n, $distinct);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleHashText {
  private val md5: ThreadLocal[java.security.MessageDigest] =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }
  private val Space = Array[Byte](' ')
  @inline private def isWs(b: Byte): Boolean = b == 32 || (b >= 9 && b <= 13)

  def hashText(text: UTF8String, n: Int,
      distinct: Boolean): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val b = text.getBytes
    val len = b.length
    // token spans in one pass (growable offset arrays, no String per token)
    var starts = new Array[Int](64)
    var ends = new Array[Int](64)
    var nTok = 0
    var ts = -1
    var i = 0
    while (i <= len) {
      val ws = i == len || isWs(b(i))
      if (!ws && ts < 0) ts = i
      else if (ws && ts >= 0) {
        if (nTok == starts.length) {
          starts = java.util.Arrays.copyOf(starts, nTok * 2)
          ends = java.util.Arrays.copyOf(ends, nTok * 2)
        }
        starts(nTok) = ts
        ends(nTok) = i
        nTok += 1
        ts = -1
      }
      i += 1
    }
    val wins = nTok - n + 1
    if (wins <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val md = md5.get()
    val out = new Array[Any](wins)
    val seen = if (distinct) new java.util.HashSet[String]() else null
    var k = 0
    var w = 0
    while (w < wins) {
      var j = 0
      while (j < n) {
        if (j > 0) md.update(Space)
        md.update(b, starts(w + j), ends(w + j) - starts(w + j))
        j += 1
      }
      val d = md.digest() // resets for the next window
      // full-digest dedup = string-level DISTINCT (the ShingleHash56 rule)
      if (seen == null || seen.add(
          new String(d, java.nio.charset.StandardCharsets.ISO_8859_1))) {
        out(k) = ((d(0) & 0xffL) << 48) | ((d(1) & 0xffL) << 40) |
          ((d(2) & 0xffL) << 32) | ((d(3) & 0xffL) << 24) |
          ((d(4) & 0xffL) << 16) | ((d(5) & 0xffL) << 8) | (d(6) & 0xffL)
        k += 1
      }
      w += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      if (k == wins) out else out.take(k))
  }
}

/** All five repetition/boilerplate signals in ONE codegen'd byte scan —
  * the whole-table form behind `text_repetition` / the repetition columns
  * of `quality_filter` ([[graft.ops.TextAnalysis]]).
  *
  * The composable form stages four interpreted higher-order array chains
  * per row (line split → filter → per-line trim → array_distinct → token
  * split) and still re-walks those arrays once per signal; measured 1.8×
  * DuckDB's marginal cost at 320k docs even with the arrays staged. This
  * expression is two passes over the raw bytes (lines, then tokens), no
  * intermediate arrays, inside whole-stage codegen — the
  * [[TokenCount]]/[[BigramCounts]] pattern.
  *
  * Exact parity with the staged-HOF recipe it replaces (pinned by
  * RepetitionParitySpec's randomized net):
  *  - lines = "\n"-separated segments whose `trim(l, " \t\r\f")` is
  *    nonempty; per-line counts use the UNtrimmed segment's code-point
  *    length (`length()` = UTF8String.numChars = non-continuation bytes);
  *    distinct lines compare the untrimmed segment bytes.
  *  - ellipsis/bullet tests run on the TRIMMED segment (`...`/`…` suffix;
  *    `-`/`*`/`•` prefix — the multi-byte marks are byte-compared).
  *  - n-grams: whitespace tokens (Java `\s` = six ASCII bytes, never
  *    UTF-8 continuation bytes) joined by a single space; distinct by
  *    exact string equality, which is what [[ShingleHash56]]'s
  *    full-digest dedup and the DuckDB oracle's `list_distinct` both
  *    compute.
  *  - each fraction is 0.0 when its denominator is 0; a NULL text yields
  *    a null struct (callers coalesce fields to 0.0, the `when(den > 0)`
  *    behavior of the HOF form).
  */
case class RepetitionSignals(child: Expression, n: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(n >= 1, s"ngram width must be >= 1, got $n")

  override def inputTypes: Seq[GraftSqlBridge.AbstractType] = Seq(StringType)
  override def dataType: DataType = RepetitionSignals.schema
  override def nullable: Boolean = child.nullable
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_repetition_signals"

  override def nullSafeEval(input: Any): Any =
    RepetitionSignals.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.plans.RepetitionSignals.compute($t, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RepetitionSignals {
  val fields: Seq[String] = Seq("dup_line_fraction", "dup_line_char_fraction",
    "dup_ngram_fraction", "ellipsis_line_fraction", "bullet_line_fraction")
  val schema: StructType =
    StructType(fields.map(StructField(_, DoubleType, nullable = false)))

  // trim set of `trim(l, " \t\r\f")`
  @inline private def isTrim(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\r' || b == '\f'
  // Java non-Unicode \s — all single-byte, never UTF-8 continuations
  @inline private def isWs(b: Byte): Boolean = b == 32 || (b >= 9 && b <= 13)
  // code points in [from, until) = non-continuation bytes (numChars parity)
  private def chars(b: Array[Byte], from: Int, until: Int): Int = {
    var c = 0
    var i = from
    while (i < until) { if ((b(i) & 0xc0) != 0x80) c += 1; i += 1 }
    c
  }

  def compute(text: UTF8String, n: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val b = text.getBytes
    val len = b.length
    // pass 1: lines — blank filter, char sums, byte-exact distinct,
    // trimmed-prefix/suffix marks
    var nLines = 0
    var lineChars = 0L
    var dCount = 0
    var dChars = 0L
    var ell = 0
    var bul = 0
    val seenLines = new java.util.HashSet[String]()
    var ls = 0
    var i = 0
    while (i <= len) {
      if (i == len || b(i) == '\n') {
        var s = ls
        var e = i
        while (s < e && isTrim(b(s))) s += 1
        while (e > s && isTrim(b(e - 1))) e -= 1
        if (e > s) { // nonblank: untrimmed segment is [ls, i), trimmed [s, e)
          nLines += 1
          val c = chars(b, ls, i)
          lineChars += c
          if (seenLines.add(
              new String(b, ls, i - ls, java.nio.charset.StandardCharsets.ISO_8859_1))) {
            dCount += 1
            dChars += c
          }
          if ((e - s >= 3 && b(e - 1) == '.' && b(e - 2) == '.' && b(e - 3) == '.') ||
              (e - s >= 3 && (b(e - 3) & 0xff) == 0xe2 && (b(e - 2) & 0xff) == 0x80 &&
                (b(e - 1) & 0xff) == 0xa6)) ell += 1 // "..." or "…"
          if (b(s) == '-' || b(s) == '*' ||
              (e - s >= 3 && (b(s) & 0xff) == 0xe2 && (b(s + 1) & 0xff) == 0x80 &&
                (b(s + 2) & 0xff) == 0xa2)) bul += 1 // "-", "*", "•"
        }
        ls = i + 1
      }
      i += 1
    }
    // pass 2: whitespace tokens → distinct space-joined n-gram windows
    var tokStarts = new Array[Int](32)
    var tokEnds = new Array[Int](32)
    var nTok = 0
    var ts = -1
    i = 0
    while (i <= len) {
      val ws = i == len || isWs(b(i))
      if (!ws && ts < 0) ts = i
      else if (ws && ts >= 0) {
        if (nTok == tokStarts.length) {
          tokStarts = java.util.Arrays.copyOf(tokStarts, nTok * 2)
          tokEnds = java.util.Arrays.copyOf(tokEnds, nTok * 2)
        }
        tokStarts(nTok) = ts
        tokEnds(nTok) = i
        nTok += 1
        ts = -1
      }
      i += 1
    }
    val totalNgrams = math.max(nTok - (n - 1), 0)
    var distinctNgrams = 0
    if (totalNgrams > 0) {
      val seen = new java.util.HashSet[String](totalNgrams * 2)
      val sb = new java.lang.StringBuilder
      var w = 0
      while (w < totalNgrams) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(new String(b, tokStarts(w + j), tokEnds(w + j) - tokStarts(w + j),
            java.nio.charset.StandardCharsets.ISO_8859_1))
          j += 1
        }
        if (seen.add(sb.toString)) distinctNgrams += 1
        w += 1
      }
    }
    @inline def frac(num: Long, den: Long): Double =
      if (den > 0) num.toDouble / den else 0.0
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      frac(nLines - dCount, nLines),
      frac(lineChars - dChars, lineChars),
      frac(totalNgrams - distinctNgrams, totalNgrams),
      frac(ell, nLines),
      frac(bul, nLines)))
  }
}

/** True when ANY element of a long array might be in the bloom filter —
  * the per-document contamination probe, as one codegen'd early-exit loop
  * over the in-row hash array. The composable `exists(arr, h =>
  * might_contain(...))` form re-enters interpreted evaluation per element
  * (higher-order lambdas are CodegenFallback), which at corpus scale costs
  * more than the explode it was meant to avoid; this loop probes a
  * partition-local deserialized filter at primitive speed. Null elements
  * are skipped; a null array yields null.
  */
case class BloomAnyContain(child: Expression, bloomBytes: Array[Byte])
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[GraftSqlBridge.AbstractType] = Seq(ArrayType(LongType))
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = child.nullable
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_bloom_any"

  // deserialized once per (deserialized) expression instance — i.e. once
  // per executor task set, not per row
  @transient private lazy val bf: org.apache.spark.util.sketch.BloomFilter =
    org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bloomBytes))

  override def nullSafeEval(input: Any): Any =
    BloomAnyContain.anyContain(input.asInstanceOf[ArrayData], bf)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bfRef = ctx.addReferenceObj("bloom", bf,
      classOf[org.apache.spark.util.sketch.BloomFilter].getName)
    nullSafeCodeGen(ctx, ev, arr =>
      s"${ev.value} = graft.plans.BloomAnyContain.anyContain($arr, $bfRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BloomAnyContain {
  def anyContain(xs: ArrayData,
      bf: org.apache.spark.util.sketch.BloomFilter): Boolean = {
    val n = xs.numElements()
    var i = 0
    while (i < n) {
      if (!xs.isNullAt(i) && bf.mightContainLong(xs.getLong(i))) return true
      i += 1
    }
    false
  }
}

/** All ascending-ordered id pairs of a posting list in one pass:
  * sorts a null-stripped copy of the array and emits the k·(k−1)/2
  * combinations `(id_a < id_b)` as an array of structs ready to explode.
  * Replaces the composable `flatten(transform(ids, (x,i) ->
  * transform(slice(...), y -> struct(x,y))))` pyramid, whose higher-order
  * lambdas re-enter interpreted evaluation per element — this is the
  * candidate-emission hot path of the guarded n-gram Jaccard join, running
  * once per surviving shingle. Null array → null; null elements are
  * stripped (collect_list never produces them); 0- or 1-element lists emit
  * an empty array.
  */
case class SortedPairs(child: Expression) extends UnaryExpression {

  private def elemType: DataType = child.dataType match {
    case ArrayType(et, _) => et
    case _ => NullType // only reachable pre-checkInputDataTypes failure
  }

  // any orderable element type, ordered EXACTLY as the binary `<` the
  // unguarded join path uses — an ArrayType(LongType) implicit cast here
  // would throw on string doc ids under ANSI (or null-strip them with ANSI
  // off) and silently change pair ordering between the two paths
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(et, _)
          if org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(et) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires an array of an orderable type, got ${other.sql}")
    }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("id_a", elemType, nullable = false),
      StructField("id_b", elemType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = child.nullable
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_sorted_pairs"

  override def nullSafeEval(input: Any): Any =
    SortedPairs.pairs(input.asInstanceOf[ArrayData], elemType)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val etRef = ctx.addReferenceObj("elemType", elemType, classOf[DataType].getName)
    nullSafeCodeGen(ctx, ev, arr =>
      s"${ev.value} = graft.plans.SortedPairs.pairs($arr, $etRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SortedPairs {
  def pairs(xs: ArrayData, et: DataType): org.apache.spark.sql.catalyst.util.GenericArrayData =
    et match {
      case LongType => pairsLong(xs) // primitive fast path: the hash-id hot case
      case _ =>
        val n0 = xs.numElements()
        val tmp = new Array[Any](n0)
        var k = 0
        var i = 0
        while (i < n0) {
          if (!xs.isNullAt(i)) { tmp(k) = xs.get(i, et); k += 1 }
          i += 1
        }
        // the same ordering Spark's BinaryComparison uses for this type, so
        // guarded and unguarded paths emit identically-oriented pairs
        val ord = org.apache.spark.sql.catalyst.util.TypeUtils
          .getInterpretedOrdering(et)
        java.util.Arrays.sort(tmp.asInstanceOf[Array[AnyRef]], 0, k,
          ord.asInstanceOf[java.util.Comparator[AnyRef]])
        emit(tmp, k)
    }

  private def pairsLong(xs: ArrayData): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val n0 = xs.numElements()
    val tmp = new Array[Long](n0)
    var k = 0
    var i = 0
    while (i < n0) {
      if (!xs.isNullAt(i)) { tmp(k) = xs.getLong(i); k += 1 }
      i += 1
    }
    java.util.Arrays.sort(tmp, 0, k)
    val boxed = new Array[Any](k)
    var j = 0
    while (j < k) { boxed(j) = java.lang.Long.valueOf(tmp(j)); j += 1 }
    emit(boxed, k)
  }

  private def emit(sorted: Array[Any], k: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val out = new Array[Any](k * (k - 1) / 2)
    var p = 0
    var a = 0
    while (a < k) {
      var b = a + 1
      while (b < k) {
        out(p) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](sorted(a), sorted(b)))
        p += 1
        b += 1
      }
      a += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** The engine's 56-bit portable hash as a native expression: the first 7
  * bytes of the md5 digest read big-endian — bit-for-bit identical to the
  * composable `conv(substring(md5(s), 1, 14), 16, 10)::long` definition
  * (GraftFunctions.portableHash56, which every oracle mirrors), but without
  * materializing the 32-char hex string and radix-parsing it back per value.
  */
case class Hash56(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[GraftSqlBridge.AbstractType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_hash56"

  override def nullSafeEval(input: Any): Any =
    Hash56.hash56(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.plans.Hash56.hash56($s.getBytes());")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Hash56 {
  // one digest per thread, reused across calls — getInstance per value is a
  // provider lookup + allocation in the framework's hottest path (every
  // shingle of every doc); digest() leaves the instance reset for reuse
  private val md5: ThreadLocal[java.security.MessageDigest] =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  /** First 56 bits of md5, big-endian — equals parseLong(md5Hex.take(14), 16). */
  def hash56(bytes: Array[Byte]): Long = {
    val d = md5.get().digest(bytes)
    ((d(0) & 0xffL) << 48) | ((d(1) & 0xffL) << 40) | ((d(2) & 0xffL) << 32) |
      ((d(3) & 0xffL) << 24) | ((d(4) & 0xffL) << 16) | ((d(5) & 0xffL) << 8) |
      (d(6) & 0xffL)
  }
}

/** [[Hash56]] over every element of a string array in one pass — replaces a
  * `transform(arr, s -> portableHash56(s))` whose lambda body re-enters
  * interpreted evaluation per element. Null elements stay null.
  */
case class Hash56Array(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[GraftSqlBridge.AbstractType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = child.nullable
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_hash56_array"

  override def nullSafeEval(input: Any): Any = {
    val xs = input.asInstanceOf[ArrayData]
    val n = xs.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!xs.isNullAt(i))
        out(i) = java.lang.Long.valueOf(Hash56.hash56(xs.getUTF8String(i).getBytes))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      s"""
         |int $n = $arr.numElements();
         |Object[] $out = new Object[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$arr.isNullAt($i)) {
         |    $out[$i] = (Object) java.lang.Long.valueOf(
         |      graft.plans.Hash56.hash56($arr.getUTF8String($i).getBytes()));
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VectorExpressions {
  private def expr(c: Column) = GraftSqlBridge.expression(c)

  def minhashSig(hashes: Column, params: Seq[(Long, Long)]): Column =
    GraftSqlBridge.column(MinHashSignatures(expr(hashes), params))

  def simhashPack(hashes: Column, numBits: Int): Column =
    GraftSqlBridge.column(SimHashPack(expr(hashes), numBits))

  def winnowMins(hashes: Column, w: Int): Column =
    GraftSqlBridge.column(WinnowMins(expr(hashes), w))

  def hash56(s: Column): Column = GraftSqlBridge.column(Hash56(expr(s)))

  def hash56Array(arr: Column): Column =
    GraftSqlBridge.column(Hash56Array(expr(arr)))

  def sortedPairs(ids: Column): Column =
    GraftSqlBridge.column(SortedPairs(expr(ids)))

  def shingleHash56(tokens: Column, n: Int, distinct: Boolean): Column =
    GraftSqlBridge.column(ShingleHash56(expr(tokens), n, distinct))

  def repetitionSignals(text: Column, n: Int): Column =
    GraftSqlBridge.column(RepetitionSignals(expr(text), n))

  def shingleHash56Text(text: Column, n: Int, distinct: Boolean): Column =
    GraftSqlBridge.column(ShingleHashText(expr(text), n, distinct))

  def unigramEntropy(tokens: Column): Column =
    GraftSqlBridge.column(UnigramEntropy(expr(tokens)))

  def tokenCount(text: Column): Column =
    GraftSqlBridge.column(TokenCount(expr(text)))

  def subwordCount(text: Column): Column =
    GraftSqlBridge.column(SubwordCount(expr(text)))

  def bigramCounts(tokens: Column): Column =
    GraftSqlBridge.column(BigramCounts(expr(tokens)))

  def bloomAnyContain(hashes: Column, bloomBytes: Array[Byte]): Column =
    GraftSqlBridge.column(BloomAnyContain(expr(hashes), bloomBytes))
}
