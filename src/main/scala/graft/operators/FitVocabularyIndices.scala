package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.meds.MedsSchema._
import graft.functions.GraftFunctions

/** `fit_vocabulary_indices` (reference:
  * /root/reference/src/MEDS_transforms/stages/fit_vocabulary_indices/fit_vocabulary_indices.py:108-196).
  *
  * Assigns a 1-based lexicographic `code/vocab_index` over the unique
  * (code + modifiers) rows of the code-metadata table, nulls first; index 0
  * is reserved for UNK. Validates key uniqueness first
  * (fit_vocabulary_indices.py:98-105).
  *
  * Scale note: the global total order is computed with the range-partitioned
  * row-number primitive (GraftFunctions.withGlobalRowNumber) — exact, and no
  * single-partition WindowExec even if the vocabulary grows to hundreds of
  * millions of keys. The reference's double-arg_sort trick (lines 188-195)
  * is just `row_number` over the sort.
  *
  * The returned frame is backed by blocks computed exactly once: the index
  * width shrink (GraftFunctions.shrinkIntColumns) materializes the numbered
  * table, so the final write and any later stage read those blocks instead
  * of re-running the numbering. The row-number helper's own blocks are
  * released as soon as that copy exists.
  */
object FitVocabularyIndices {

  /** `validateUnique = false` skips the eager duplicate-key scan (one extra
    * aggregation job over the metadata). Safe ONLY when uniqueness is
    * structural — e.g. `codes` is the direct output of
    * `AggregateCodeMetadata.compute`, whose groupBy keys ARE the vocabulary
    * keys. The default matches the reference's validate-first contract.
    */
  def apply(codes: DataFrame, codeModifiers: Seq[String] = Nil,
      validateUnique: Boolean = true): DataFrame = {
    val keys = Code +: codeModifiers
    if (validateUnique) {
      val dup = codes.groupBy(keys.map(col): _*).count().filter(col("count") > 1)
      if (!dup.isEmpty)
        throw new IllegalArgumentException(
          s"Duplicate (${keys.mkString(", ")}) keys in code metadata; cannot fit vocabulary")
    }
    val indexed = GraftFunctions.withGlobalRowNumber(codes, VocabIndex,
      keys.map(k => col(k).asc_nulls_first))
    val shrunk = GraftFunctions.shrinkIntColumns(indexed, Seq(VocabIndex))
    org.apache.spark.sql.GraftSqlBridge.unpersistCheckpoint(indexed)
    shrunk
  }
}
