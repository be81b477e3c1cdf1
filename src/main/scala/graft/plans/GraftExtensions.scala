package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** `SparkSessionExtensions` hook registering graft's native expressions as
  * SQL functions, so `spark.sql("SELECT graft_hash56(s) ...")` works for SQL
  * users and the expressions participate in Catalyst exactly like builtins.
  *
  * Use via a session builder's `withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.plans.GraftExtensions`; `GraftExtensions
  * .register(spark)` installs the same functions on a live session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._

  override def apply(e: SparkSessionExtensions): Unit =
    functions.foreach { case (name, info, builder) =>
      e.injectFunction((FunctionIdentifier(name), info, builder))
    }
}

object GraftExtensions {
  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "")

  private def arity(name: String, n: Int)(b: Seq[Expression] => Expression)
      : Seq[Expression] => Expression = es => {
    // a proper analysis error, not an IndexOutOfBoundsException mid-analysis
    if (es.length != n) throw new org.apache.spark.sql.AnalysisException(
      errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
      messageParameters = Map("functionName" -> name, "expectedNum" -> n.toString,
        "actualNum" -> es.length.toString, "docroot" -> ""))
    b(es)
  }

  /** Scalar config arguments (shingle width, band bits, window size, seed)
    * must be LITERALS: they parameterize the generated code itself, so a
    * per-row value cannot apply. A non-literal raises a readable analysis
    * error instead of a ClassCastException from deep inside codegen.
    */
  private def lit(name: String, arg: String, e: Expression): Long = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v.toLong
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) => v
    case other => throw new org.apache.spark.sql.AnalysisException(
      errorClass = "NON_FOLDABLE_ARGUMENT",
      messageParameters = Map("funcName" -> s"`$name`", "paramName" -> s"`$arg`",
        "paramType" -> "\"INT\""))
  }

  private def litBool(name: String, arg: String, e: Expression): Boolean =
    e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Boolean, _) => v
      case other => throw new org.apache.spark.sql.AnalysisException(
        errorClass = "NON_FOLDABLE_ARGUMENT",
        messageParameters = Map("funcName" -> s"`$name`", "paramName" -> s"`$arg`",
          "paramType" -> "\"BOOLEAN\""))
    }

  val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("graft_hash56", info("graft_hash56",
      "graft_hash56(s) - portable 56-bit string hash"),
      arity("graft_hash56", 1)(es => Hash56(es(0)))),
    ("graft_hash56_array", info("graft_hash56_array",
      "graft_hash56_array(arr) - element-wise 56-bit hashes of a string array"),
      arity("graft_hash56_array", 1)(es => Hash56Array(es(0)))),
    ("graft_shingle_hash56", info("graft_shingle_hash56",
      "graft_shingle_hash56(tokens, n, distinct) - hashed word n-gram shingles"),
      arity("graft_shingle_hash56", 3)(es => ShingleHash56(es(0),
        lit("graft_shingle_hash56", "n", es(1)).toInt,
        litBool("graft_shingle_hash56", "distinct", es(2))))),
    ("graft_unigram_entropy", info("graft_unigram_entropy",
      "graft_unigram_entropy(tokens) - Shannon entropy (bits) of the token distribution"),
      arity("graft_unigram_entropy", 1)(es => UnigramEntropy(es(0)))),
    ("graft_token_count", info("graft_token_count",
      "graft_token_count(text) - whitespace-separated token count"),
      arity("graft_token_count", 1)(es => TokenCount(es(0)))),
    ("graft_subword_count", info("graft_subword_count",
      "graft_subword_count(text) - alnum-run + symbol subword count"),
      arity("graft_subword_count", 1)(es => SubwordCount(es(0)))),
    ("graft_sorted_pairs", info("graft_sorted_pairs",
      "graft_sorted_pairs(ids) - all ascending id pairs of a posting list"),
      arity("graft_sorted_pairs", 1)(es => SortedPairs(es(0)))),
    ("graft_minhash", info("graft_minhash",
      "graft_minhash(hashes, num_perms, seed) - minhash signature of a hash set"),
      arity("graft_minhash", 3)(es => MinHashSignatures(es(0),
        graft.functions.GraftFunctions.hashParams(
          lit("graft_minhash", "num_perms", es(1)).toInt,
          lit("graft_minhash", "seed", es(2)))))),
    ("graft_simhash", info("graft_simhash",
      "graft_simhash(hashes, num_bits) - simhash packed to num_bits"),
      arity("graft_simhash", 2)(es => SimHashPack(es(0),
        lit("graft_simhash", "num_bits", es(1)).toInt))),
    ("graft_winnow", info("graft_winnow",
      "graft_winnow(hashes, w) - winnowing fingerprint (window minima)"),
      arity("graft_winnow", 2)(es => WinnowMins(es(0),
        lit("graft_winnow", "w", es(1)).toInt)))
  )

  /** Register on an existing session (tests, REPL). */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (name, i, builder) =>
      spark.sessionState.functionRegistry.registerFunction(
        FunctionIdentifier(name), i, builder)
    }
}
