package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.InterpretedOrdering
import org.apache.spark.sql.types.{LongType, StructType}
import graft.meds.LocalTable
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
  * The codes table is driver-sized ([[graft.meds.LocalTable]]): the check
  * and the numbering run over its collected rows, ordered by Spark's own
  * `asc_nulls_first` comparison of the key columns (strings in UTF-8 byte
  * order), and the result is a driver-local table. A table that is already
  * local, such as AggregateCodeMetadata's output, is numbered with no job.
  */
object FitVocabularyIndices {

  def apply(codes: DataFrame, codeModifiers: Seq[String] = Nil): DataFrame = {
    val keys = Code +: codeModifiers
    val local = LocalTable(codes, "stage fit_vocabulary_indices")
    val keySchema = StructType(keys.map(local.schema(_)))
    val toKey = CatalystTypeConverters.createToCatalystConverter(keySchema)
    val ordering = InterpretedOrdering.forSchema(keySchema.map(_.dataType))
    val sorted = local.collect()
      .map(r => toKey(Row.fromSeq(keys.map(r.getAs[Any]))).asInstanceOf[InternalRow] -> r)
      .sortBy(_._1)(ordering)
    if (sorted.lazyZip(sorted.drop(1)).exists((a, b) => ordering.equiv(a._1, b._1)))
      throw new IllegalArgumentException(
        s"Duplicate (${keys.mkString(", ")}) keys in code metadata; cannot fit vocabulary")
    val indexed = sorted.zipWithIndex.map { case ((_, r), i) => Row.fromSeq(r.toSeq :+ (i + 1L)) }
    GraftFunctions.shrinkIntColumns(
      local.sparkSession.createDataFrame(java.util.Arrays.asList(indexed: _*),
        local.schema.add(VocabIndex, LongType)),
      Seq(VocabIndex))
  }
}
