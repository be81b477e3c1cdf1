package graft.plans

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native whole-word marker counting — the lang-id hot path
  * ([[graft.ops.TextAnalysis.langScores]]).
  *
  * The regex form (`size(regexp_extract_all(lower(text),
  * "\\b(der|die|...)\\b"))` × one pattern per language) pays a
  * java.util.regex alternation attempt at every character position, per
  * language — measured 2.8× DuckDB's RE2 marginal at 320k docs even
  * though the work is a dictionary lookup. This expression counts ALL
  * language groups in ONE byte scan: maximal ASCII word runs
  * (`[A-Za-z0-9_]` — Java's non-Unicode `\w`, so the byte scan is
  * boundary-exact on UTF-8; bytes ≥ 0x80 are never word bytes) are looked
  * up in a shared word→groups map.
  *
  * Parity with the regex form (pinned by LangIdParitySpec): a `\b(w1|…)\b`
  * match is exactly a maximal `\w` run equal to some `wi` (no boundary
  * exists inside a run, so a marker can never match a proper substring of
  * a run), and runs are non-overlapping, so per-group counts are equal.
  * The caller passes the already-lowercased text (same as the regex form's
  * `lower(text)`), keeping case-mapping semantics (incl. İ→i̇ expansion)
  * byte-identical to the old pipeline. A null text yields null.
  */
case class MarkerCounts(child: Expression, groups: Array[Array[String]])
    extends UnaryExpression with ImplicitCastInputTypes {
  require(groups.nonEmpty && groups.forall(_.nonEmpty), "empty marker group")

  override def inputTypes: Seq[GraftSqlBridge.AbstractType] = Seq(StringType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_marker_counts"

  // the scan-time lookup table is derived once per plan, not per row
  @transient private lazy val table = MarkerCounts.buildTable(groups)

  override def nullSafeEval(input: Any): Any =
    MarkerCounts.count(input.asInstanceOf[UTF8String], table, groups.length)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("markerTable", table,
      classOf[MarkerCounts.MarkerTable].getName)
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.plans.MarkerCounts.count($t, $ref, ${groups.length});")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  // Array fields break case-class equality/semanticEquals (reference
  // compare) — canonicalize on the contents so CSE can deduplicate the
  // per-language field extractions over one shared scan
  override def equals(o: Any): Boolean = o match {
    case m: MarkerCounts =>
      m.child == child && m.groups.map(_.toSeq).toSeq == groups.map(_.toSeq).toSeq
    case _ => false
  }
  override def hashCode(): Int =
    31 * child.hashCode() + groups.map(_.toSeq).toSeq.hashCode()
}

object MarkerCounts {
  /** Length-bucketed candidate table: a word run of length L compares
    * byte-wise against only the (few) markers of that length — no String
    * allocation, no hashing per run (the HashMap form's per-run
    * allocations dominated the scan at 320k docs). Marker lists are tiny
    * (a handful per language), so the per-run candidate loop is a couple
    * of ≤6-byte memcmps; runs longer than the longest marker skip the
    * lookup entirely.
    */
  final class MarkerTable(val maxLen: Int,
      val words: Array[Array[Array[Byte]]], // [len][cand][bytes]
      val hits: Array[Array[Array[Int]]])   // [len][cand][group indexes]
    extends Serializable

  def buildTable(groups: Array[Array[String]]): MarkerTable = {
    val byWord = scala.collection.mutable.LinkedHashMap.empty[String, Vector[Int]]
    for (g <- groups.indices; w <- groups(g)) {
      require(w.nonEmpty && w.forall(c =>
        (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '_'),
        s"marker `$w` must be a lowercase ASCII word (it is matched inside \\w runs)")
      byWord(w) = byWord.getOrElse(w, Vector.empty) :+ g
    }
    val maxLen = byWord.keys.map(_.length).max
    val words = Array.tabulate(maxLen + 1)(l =>
      byWord.keys.filter(_.length == l).map(_.getBytes("UTF-8")).toArray)
    val hits = Array.tabulate(maxLen + 1)(l =>
      byWord.collect { case (w, gs) if w.length == l => gs.toArray }.toArray)
    new MarkerTable(maxLen, words, hits)
  }

  @inline private def isWord(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') ||
      (b >= '0' && b <= '9') || b == '_'

  def count(text: UTF8String, table: MarkerTable,
      nGroups: Int): GenericArrayData = {
    val b = text.getBytes
    val len = b.length
    val counts = new Array[Int](nGroups)
    val maxLen = table.maxLen
    var i = 0
    var rs = -1
    while (i <= len) {
      val w = i < len && isWord(b(i))
      if (w && rs < 0) rs = i
      else if (!w && rs >= 0) {
        val l = i - rs
        if (l <= maxLen) {
          val cands = table.words(l)
          var c = 0
          while (c < cands.length) {
            val cand = cands(c)
            var j = 0
            while (j < l && cand(j) == b(rs + j)) j += 1
            if (j == l) {
              val hit = table.hits(l)(c)
              var h = 0
              while (h < hit.length) { counts(hit(h)) += 1; h += 1 }
              c = cands.length // candidate words are distinct — done
            } else c += 1
          }
        }
        rs = -1
      }
      i += 1
    }
    new GenericArrayData(counts)
  }

  def counts(text: Column, groups: Seq[Seq[String]]): Column =
    GraftSqlBridge.column(MarkerCounts(GraftSqlBridge.expression(text),
      groups.map(_.toArray).toArray))
}

/** All eight text-quality signals in ONE codegen'd byte scan — the
  * whole-table and filter-predicate form behind `text_quality` /
  * `quality_filter` ([[graft.ops.TextAnalysis.qualityExprs]]).
  *
  * The composable form re-tokenizes and re-scans per signal (regex class
  * counts, interpreted HOF word folds), which a projection's codegen CSE
  * dedups — but a FILTER's split conjuncts get no CSE, so every
  * quality_filter rule paid the whole chain again (measured 4.7× DuckDB
  * at 320k docs while text_quality alone was 0.83×). One pass over the
  * bytes: code-point count, `[\p{Punct}]`/`[A-Za-z]`/`[0-9]` class counts
  * (POSIX punct = the 32 ASCII graphic non-alphanumerics — regex-exact,
  * non-ASCII code points are in no class), whitespace tokens with
  * per-token code-point lengths, byte-exact distinct tokens, and
  * stopword hits (ASCII tokens lowercase byte-compared with zero
  * allocation against a length-bucketed table; tokens with non-ASCII
  * bytes take a slow path through the same full-Unicode lowercasing
  * `lower()` uses, so İ/K-style case edges match the old
  * `array_contains(..., lower(w))` exactly).
  *
  * Field semantics mirror the old expressions (QualityParitySpec pins
  * them): `mean_word_len` is NULL on tokenless text; the two
  * `otherwise(0.0)` ratios are zero there; a NULL text yields a null
  * struct (callers re-apply the old per-field null policy).
  */
case class QualitySignals(child: Expression, stopwords: Seq[String])
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[GraftSqlBridge.AbstractType] = Seq(StringType)
  override def dataType: DataType = QualitySignals.schema
  override def nullable: Boolean = child.nullable
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_quality_signals"

  @transient private lazy val table = QualitySignals.buildStopTable(stopwords)

  override def nullSafeEval(input: Any): Any =
    QualitySignals.compute(input.asInstanceOf[UTF8String], table)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stopTable", table,
      classOf[QualitySignals.StopTable].getName)
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.plans.QualitySignals.compute($t, $ref);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object QualitySignals {
  val fields: Seq[String] = Seq("n_chars", "n_words", "mean_word_len",
    "punct_ratio", "alpha_ratio", "digit_ratio", "stopword_ratio",
    "repetition_ratio")
  val schema: StructType = StructType(Seq(
    StructField("n_chars", IntegerType, nullable = false),
    StructField("n_words", IntegerType, nullable = false),
    StructField("mean_word_len", DoubleType, nullable = true),
    StructField("punct_ratio", DoubleType, nullable = false),
    StructField("alpha_ratio", DoubleType, nullable = false),
    StructField("digit_ratio", DoubleType, nullable = false),
    StructField("stopword_ratio", DoubleType, nullable = false),
    StructField("repetition_ratio", DoubleType, nullable = false)))

  /** ASCII stopwords (length-bucketed bytes, zero-alloc compare) + the
    * non-ASCII remainder as strings for the rare slow path. Stopwords
    * containing uppercase ASCII can never equal a lowercased token and
    * are dropped up front (semantics-preserving).
    */
  final class StopTable(val maxLen: Int,
      val ascii: Array[Array[Array[Byte]]],
      val other: java.util.HashSet[String]) extends Serializable

  def buildStopTable(stopwords: Seq[String]): StopTable = {
    val (asciiWords, other) = stopwords.distinct.partition(_.forall(_ < 0x80))
    val usable = asciiWords.filterNot(_.exists(c => c >= 'A' && c <= 'Z'))
    val maxLen = (usable.map(_.length) :+ 0).max
    val ascii = Array.tabulate(maxLen + 1)(l =>
      usable.filter(_.length == l).map(_.getBytes("UTF-8")).toArray)
    val set = new java.util.HashSet[String]()
    other.foreach(set.add)
    new StopTable(maxLen, ascii, set)
  }

  @inline private def isWs(b: Byte): Boolean = b == 32 || (b >= 9 && b <= 13)
  @inline private def isPunct(b: Byte): Boolean = // POSIX [\p{Punct}]
    (b >= '!' && b <= '/') || (b >= ':' && b <= '@') ||
      (b >= '[' && b <= '`') || (b >= '{' && b <= '~')
  @inline private def lowerAscii(b: Byte): Byte =
    if (b >= 'A' && b <= 'Z') (b + 32).toByte else b

  def compute(text: UTF8String,
      stop: StopTable): org.apache.spark.sql.catalyst.InternalRow = {
    val b = text.getBytes
    val len = b.length
    var chars = 0
    var alpha = 0
    var digit = 0
    var punct = 0
    var nTok = 0
    var sumWordLen = 0L
    var nStop = 0
    val seen = new java.util.HashSet[String]()
    var ts = -1
    var tokChars = 0
    var tokNonAscii = false
    var i = 0
    while (i <= len) {
      val c = if (i < len) b(i) else ' '.toByte
      if (i < len && (c & 0xc0) != 0x80) {
        chars += 1
        if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')) alpha += 1
        else if (c >= '0' && c <= '9') digit += 1
        else if (isPunct(c)) punct += 1
      }
      val ws = i == len || isWs(c)
      if (!ws) {
        if (ts < 0) { ts = i; tokChars = 0; tokNonAscii = false }
        if ((c & 0xc0) != 0x80) tokChars += 1
        if ((c & 0x80) != 0) tokNonAscii = true
      } else if (ts >= 0) {
        nTok += 1
        sumWordLen += tokChars
        seen.add(new String(b, ts, i - ts,
          java.nio.charset.StandardCharsets.ISO_8859_1))
        val l = i - ts
        if (!tokNonAscii) {
          if (l <= stop.maxLen) {
            val cands = stop.ascii(l)
            var ci = 0
            while (ci < cands.length) {
              val cand = cands(ci)
              var j = 0
              while (j < l && cand(j) == lowerAscii(b(ts + j))) j += 1
              if (j == l) { nStop += 1; ci = cands.length }
              else ci += 1
            }
          }
        } else if (!stop.other.isEmpty || stop.maxLen > 0) {
          // rare path: full-Unicode lowercase, the same mapping lower() uses
          val lowered = new String(b, ts, l, java.nio.charset.StandardCharsets.UTF_8)
            .toLowerCase
          if (stop.other.contains(lowered)) nStop += 1
          else if (lowered.forall(_ < 0x80)) {
            val lb = lowered.getBytes("UTF-8")
            if (lb.length <= stop.maxLen) {
              val cands = stop.ascii(lb.length)
              var ci = 0
              while (ci < cands.length) {
                if (java.util.Arrays.equals(cands(ci), lb)) { nStop += 1; ci = cands.length }
                else ci += 1
              }
            }
          }
        }
        ts = -1
      }
      i += 1
    }
    val denom = math.max(chars, 1).toDouble
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      chars, nTok,
      if (nTok > 0) (sumWordLen.toDouble / nTok): java.lang.Double else null,
      punct / denom, alpha / denom, digit / denom,
      if (nTok > 0) nStop.toDouble / nTok else 0.0,
      if (nTok > 0) 1.0 - seen.size.toDouble / nTok else 0.0))
  }

  def signals(text: Column, stopwords: Seq[String]): Column =
    GraftSqlBridge.column(QualitySignals(GraftSqlBridge.expression(text), stopwords))
}

/** The C4 line-level cleanup (Raffel et al. 2020 §2.2) in ONE codegen'd
  * byte scan — `(n_kept, kept_text)` for [[graft.ops.TextAnalysis
  * .c4Filters]]: a "\n"-split line is kept iff it matches
  * `[.!?\"]\s*$` (terminal punctuation, then ASCII whitespace, then end
  * or ONE final Java line terminator — `$`'s before-final-terminator
  * rule for the U+0085/U+2028/U+2029 bytes a \n-split line can still
  * carry), has at least `minLineWords` whitespace tokens, and does not
  * contain "javascript" ASCII-case-insensitively (the phrase is
  * letter-only ASCII, so full-Unicode lower() folding cannot create a
  * hit the byte probe misses — İ lowers to i+combining, breaking any
  * would-be match in both forms). Kept lines re-join with "\n".
  *
  * The composable form (per-line `rlike` + tokenizing split + lowercase
  * contains, re-inlined into both the filter and the text-replacement
  * projection by predicate pushdown) measured 8.0× DuckDB at 320k docs.
  * C4ParitySpec pins this against the verbatim old recipe.
  */
case class C4Lines(child: Expression, minLineWords: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(minLineWords >= 0, "minLineWords must be >= 0")

  override def inputTypes: Seq[GraftSqlBridge.AbstractType] = Seq(StringType)
  override def dataType: DataType = C4Lines.schema
  override def nullable: Boolean = child.nullable
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_c4_lines"

  override def nullSafeEval(input: Any): Any =
    C4Lines.compute(input.asInstanceOf[UTF8String], minLineWords)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.plans.C4Lines.compute($t, $minLineWords);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object C4Lines {
  val schema: StructType = StructType(Seq(
    StructField("n_kept", IntegerType, nullable = false),
    StructField("kept_text", StringType, nullable = false)))

  private val Phrase = "javascript".getBytes
  @inline private def isWs(b: Byte): Boolean = b == 32 || (b >= 9 && b <= 13)
  @inline private def lowerAscii(b: Byte): Byte =
    if (b >= 'A' && b <= 'Z') (b + 32).toByte else b
  @inline private def isTerminal(b: Byte): Boolean =
    b == '.' || b == '!' || b == '?' || b == '"'

  /** does line [s, e) end with `[.!?"]\s*$` under Java's $ semantics */
  private def terminalEnd(b: Array[Byte], s: Int, e0: Int): Boolean = {
    var e = e0
    // $ may sit before ONE final line terminator; after a \n-split the
    // possible in-line terminators are \r (also \s), U+0085, U+2028/29
    if (e - s >= 3 && (b(e - 3) & 0xff) == 0xe2 && (b(e - 2) & 0xff) == 0x80 &&
        ((b(e - 1) & 0xff) == 0xa8 || (b(e - 1) & 0xff) == 0xa9)) e -= 3
    else if (e - s >= 2 && (b(e - 2) & 0xff) == 0xc2 && (b(e - 1) & 0xff) == 0x85) e -= 2
    while (e > s && isWs(b(e - 1))) e -= 1
    e > s && isTerminal(b(e - 1))
  }

  private def containsJavascript(b: Array[Byte], s: Int, e: Int): Boolean = {
    val m = Phrase.length
    var i = s
    while (i + m <= e) {
      var j = 0
      while (j < m && lowerAscii(b(i + j)) == Phrase(j)) j += 1
      if (j == m) return true
      i += 1
    }
    false
  }

  private def tokenCount(b: Array[Byte], s: Int, e: Int): Int = {
    var c = 0
    var inRun = false
    var i = s
    while (i < e) {
      val ws = isWs(b(i))
      if (!ws && !inRun) { c += 1; inRun = true }
      else if (ws) inRun = false
      i += 1
    }
    c
  }

  def compute(text: UTF8String,
      minLineWords: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val b = text.getBytes
    val len = b.length
    val out = new java.io.ByteArrayOutputStream(len)
    var nKept = 0
    var ls = 0
    var i = 0
    while (i <= len) {
      if (i == len || b(i) == '\n') {
        if (terminalEnd(b, ls, i) && tokenCount(b, ls, i) >= minLineWords &&
            !containsJavascript(b, ls, i)) {
          if (nKept > 0) out.write('\n')
          out.write(b, ls, i - ls)
          nKept += 1
        }
        ls = i + 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      nKept, UTF8String.fromBytes(out.toByteArray)))
  }

  def lines(text: Column, minLineWords: Int): Column =
    GraftSqlBridge.column(C4Lines(GraftSqlBridge.expression(text), minLineWords))
}

/** `contains(lower(text), p1) OR contains(lower(text), p2) OR …` without
  * materializing a lowered copy of the text per phrase — the C4 page-drop
  * probe. Each pure-ASCII phrase is searched ASCII-case-insensitively on
  * the ORIGINAL bytes, which is exact for phrases where full-Unicode
  * lowercasing cannot manufacture a hit the byte probe misses: the only
  * simple-lowercase mappings from outside ASCII into ASCII are
  * U+212A → 'k' and U+0130 → "i"+U+0307 (bare-ASCII reachable only at a
  * phrase-final 'i'), so phrases containing 'k' or ending in 'i' — and
  * non-ASCII phrases — take the exact slow path through one shared
  * `toLowerCase` copy. Null text yields null (the builtin chain's
  * propagation; a TRUE short-circuit cannot arise there since the text is
  * whole-row null).
  */
case class PhraseHit(child: Expression, phrases: Seq[String])
    extends UnaryExpression with ImplicitCastInputTypes {
  require(phrases.nonEmpty, "PhraseHit needs at least one phrase")

  override def inputTypes: Seq[GraftSqlBridge.AbstractType] = Seq(StringType)
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = child.nullable
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_phrase_hit"

  @transient private lazy val table = PhraseHit.buildTable(phrases)

  override def nullSafeEval(input: Any): Any =
    PhraseHit.hit(input.asInstanceOf[UTF8String], table)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("phraseTable", table,
      classOf[PhraseHit.PhraseTable].getName)
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.plans.PhraseHit.hit($t, $ref);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PhraseHit {
  final class PhraseTable(val fast: Array[Array[Byte]],
      val slow: Array[UTF8String]) extends Serializable

  def buildTable(phrases: Seq[String]): PhraseTable = {
    val lowered = phrases.map(_.toLowerCase)
    val (fastOk, slow) = lowered.partition(p =>
      p.forall(_ < 0x80) && !p.contains('k') && !p.endsWith("i"))
    new PhraseTable(fastOk.map(_.getBytes("UTF-8")).toArray,
      slow.map(UTF8String.fromString).toArray)
  }

  @inline private def lowerAscii(b: Byte): Byte =
    if (b >= 'A' && b <= 'Z') (b + 32).toByte else b

  def hit(text: UTF8String, t: PhraseTable): Boolean = {
    val b = text.getBytes
    val len = b.length
    var p = 0
    while (p < t.fast.length) {
      val ph = t.fast(p)
      val m = ph.length
      var i = 0
      while (i + m <= len) {
        var j = 0
        while (j < m && lowerAscii(b(i + j)) == ph(j)) j += 1
        if (j == m) return true
        i += 1
      }
      p += 1
    }
    if (t.slow.nonEmpty) {
      val lowered = text.toLowerCase
      var s = 0
      while (s < t.slow.length) {
        if (lowered.contains(t.slow(s))) return true
        s += 1
      }
    }
    false
  }

  def hitCol(text: Column, phrases: Seq[String]): Column =
    GraftSqlBridge.column(PhraseHit(GraftSqlBridge.expression(text), phrases))
}

/** Bounds check over ONE evaluation of a struct-valued child — the
  * quality_filter predicate shape. A Filter's split conjuncts get no
  * codegen subexpression elimination and predicate pushdown re-inlines
  * projection aliases, so `k` threshold rules as separate conjuncts
  * evaluate the signal struct `k` times; this expression evaluates it
  * ONCE and applies every bound, with the stage's exact per-rule
  * three-valued semantics: a check whose field (or whole input) is null
  * compares as 0.0 when `nullAsZero` (the stage's historical
  * `coalesce(sig, 0.0)` / `otherwise(0.0)` rules), else yields NULL;
  * checks combine under SQL AND (any false → false, else any null →
  * null).
  */
case class SignalBounds(child: Expression,
    checks: Seq[(Int, Option[Double], Option[Double], Boolean)])
    extends UnaryExpression {
  require(checks.nonEmpty, "SignalBounds needs at least one check")
  private val structType = child.dataType.asInstanceOf[StructType]
  checks.foreach { case (f, lo, hi, _) =>
    require(f >= 0 && f < structType.length, s"field $f out of range")
    require(lo.nonEmpty || hi.nonEmpty, s"check on field $f has no bound")
  }

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_signal_bounds"

  // packed per-check metadata for the shared eval/codegen helper
  @transient private lazy val meta: Array[Array[Double]] =
    SignalBounds.packMeta(checks, structType)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    SignalBounds.check(v.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow], meta)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val ref = ctx.addReferenceObj("boundsMeta", meta, "double[][]")
    // NOT nullSafeCodeGen: a null child (null text) must still reach the
    // helper — nullAsZero checks compare 0.0 there, the others yield NULL
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.isNull} = false;
      boolean ${ev.value} = false;
      java.lang.Boolean ${ev.value}Tmp = graft.plans.SignalBounds.check(
        ${c.isNull} ? null : ${c.value}, $ref);
      if (${ev.value}Tmp == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ${ev.value}Tmp.booleanValue(); }
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SignalBounds {
  /** per check: [fieldIdx, lo or NaN, hi or NaN, nullAsZero(1/0), isDouble(1/0)] */
  def packMeta(checks: Seq[(Int, Option[Double], Option[Double], Boolean)],
      structType: StructType): Array[Array[Double]] =
    checks.map { case (f, lo, hi, nz) =>
      val isDouble = structType(f).dataType match {
        case DoubleType => 1.0
        case IntegerType => 0.0
        case LongType => 2.0
        case other => throw new IllegalArgumentException(
          s"SignalBounds field ${structType(f).name}: unsupported type $other")
      }
      Array(f.toDouble, lo.getOrElse(Double.NaN), hi.getOrElse(Double.NaN),
        if (nz) 1.0 else 0.0, isDouble)
    }.toArray

  def check(row: org.apache.spark.sql.catalyst.InternalRow,
      meta: Array[Array[Double]]): java.lang.Boolean = {
    var sawNull = false
    var i = 0
    while (i < meta.length) {
      val m = meta(i)
      val f = m(0).toInt
      val isNull = row == null || row.isNullAt(f)
      if (isNull && m(3) == 0.0) sawNull = true
      else {
        val v =
          if (isNull) 0.0
          else if (m(4) == 1.0) row.getDouble(f)
          else if (m(4) == 2.0) row.getLong(f).toDouble
          else row.getInt(f).toDouble
        if (!m(1).isNaN && !(v >= m(1))) return java.lang.Boolean.FALSE
        if (!m(2).isNaN && !(v <= m(2))) return java.lang.Boolean.FALSE
      }
      i += 1
    }
    if (sawNull) null else java.lang.Boolean.TRUE
  }

  def bounds(child: Column,
      checks: Seq[(Int, Option[Double], Option[Double], Boolean)]): Column =
    GraftSqlBridge.column(SignalBounds(GraftSqlBridge.expression(child), checks))
}
