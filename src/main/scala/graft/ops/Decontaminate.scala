package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.tokens

/** Eval-set decontamination: remove training documents that share any word
  * n-gram with a held-out evaluation corpus — the standard test-set-leakage
  * guard a pre-training pipeline runs before anything else ships (the
  * GPT-3/PaLM-style n-gram overlap rule; n=8..13 in practice).
  *
  * Scale shape: the EVAL side is metadata-sized by definition (benchmarks,
  * not crawls), so its distinct n-gram hashes broadcast; the TRAIN side is
  * the 100 TB corpus and must never shuffle. Two plans, same result:
  *
  *  - [[decontaminate]] (exact): explode the train corpus's n-gram hashes,
  *    broadcast-semi-join against the eval grams to find contaminated ids,
  *    broadcast-anti-join those ids back. Zero full-corpus shuffles, but
  *    the explode materializes ~doc_len candidate rows per train doc.
  *  - [[decontaminateBloom]]: fold the eval grams into ONE serialized
  *    bloom filter (Spark's own runtime-filter aggregate, map-side merged,
  *    metadata-sized however many grams), probe it per-document inside an
  *    `exists` over the in-row hash array — no explode at all for the
  *    overwhelmingly-clean majority — and run the exact path only on the
  *    flagged docs, which removes bloom false positives. One corpus scan +
  *    a scan of the flagged sliver: the plan to reach for at 100 TB.
  *
  * Hashes are the engine's 56-bit portable shingle hash: collision odds at
  * eval-set scale (~10⁷ grams) are ~10⁻²; a collision only flags a doc for
  * the exact confirm (bloom path) or spuriously drops one doc (exact path,
  * odds ~10⁻² corpus-wide) — acceptable for a contamination guard whose
  * false-negative rate is what matters.
  */
object Decontaminate {

  private def gramHashes(textCol: String, n: Int): Column =
    graft.plans.VectorExpressions.shingleHash56Text(col(textCol), n,
      distinct = true)

  /** Distinct n-gram hashes of the eval corpus (one LONG column `__g`). */
  private def evalGrams(eval: DataFrame, textCol: String, n: Int): DataFrame =
    eval.filter(graft.plans.VectorExpressions.tokenCount(col(textCol)) >= n)
      .select(explode(gramHashes(textCol, n)).as("__g"))
      .distinct()

  /** ids of train docs sharing at least one word n-gram with `eval`.
    * `eval` needs only `textCol`; docs shorter than n words cannot be
    * contaminated.
    */
  def contaminatedIds(train: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, n: Int = 8): DataFrame =
    contaminatedIdsVs(train, evalGrams(eval, textCol, n), idCol, textCol, n)

  /** [[contaminatedIds]] against an already-derived one-column (`__g`)
    * frame of distinct eval gram hashes — lets the bloom path reuse the
    * gram derivation it has already counted instead of re-deriving from
    * the raw eval corpus.
    */
  private def contaminatedIdsVs(train: DataFrame, grams: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame =
    train.filter(graft.plans.VectorExpressions.tokenCount(col(textCol)) >= n)
      .select(col(idCol), explode(gramHashes(textCol, n)).as("__g"))
      .join(broadcast(grams), Seq("__g"), "left_semi")
      .select(idCol).distinct()

  /** `train` minus every document sharing an n-gram with `eval` (exact). */
  def decontaminate(train: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, n: Int = 8): DataFrame =
    train.join(broadcast(contaminatedIds(train, eval, idCol, textCol, n)),
      Seq(idCol), "left_anti")

  /** Bits per eval gram when auto-sizing the bloom filter: 10 bits/item
    * with the optimal hash count is ≈0.9% false-positive rate — false
    * positives only cost extra exact-confirm work, never correctness.
    */
  val AutoBitsPerGram = 10L

  /** Auto-sized eval-gram sets at or below this collect to the driver: ONE
    * metadata-sized job yields the gram longs, from which both the filter
    * and the confirm join's local relation are built driver-side — vs
    * three eval-side jobs (count, filter agg, confirm broadcast re-scan)
    * on the distributed path. 4M longs = 32 MB on the driver; bounded by
    * a `limit(MaxDriverGrams+1)` probe, never a blind collect.
    */
  val MaxDriverGrams: Int = 4 << 20

  /** Serialized bloom filter over gram hashes, built driver-side. */
  private def driverBloom(hashes: Array[Long], numBits: Long): Array[Byte] = {
    val bits =
      if (numBits > 0) numBits
      else math.max(hashes.length * AutoBitsPerGram, 1L << 10)
    val bf = org.apache.spark.util.sketch.BloomFilter
      .create(hashes.length.toLong, bits)
    hashes.foreach(bf.putLong)
    val out = new java.io.ByteArrayOutputStream()
    bf.writeTo(out)
    out.toByteArray
  }

  /** The per-document contamination probe as a reusable STATELESS Column
    * predicate: true when the document MIGHT share a word n-gram with
    * `eval` (bloom false positives only — never false negatives). Built
    * ONCE, batch-side, from the eval corpus (one metadata-sized job); the
    * returned expression closes over the serialized filter as a plan
    * constant, so it applies unchanged to a `readStream` ingest — the
    * streaming pre-filter shape of decontamination (flag or drop
    * contaminated documents as they land; StreamingSpec locks parity with
    * the batch probe). None when the eval corpus has no grams.
    */
  def contaminationProbe(eval: DataFrame, textCol: String,
      n: Int = 8): Option[Column] = {
    val local = evalGrams(eval, textCol, n)
      .limit(MaxDriverGrams + 1).collect()
    if (local.isEmpty) return None
    require(local.length <= MaxDriverGrams,
      s"contaminationProbe: eval corpus exceeds $MaxDriverGrams distinct " +
        "grams — use decontaminateBloom's distributed path instead")
    val bloomBytes = driverBloom(local.map(_.getLong(0)), 0L)
    Some(graft.plans.VectorExpressions.tokenCount(col(textCol)) >= n &&
      graft.plans.VectorExpressions.bloomAnyContain(
        gramHashes(textCol, n), bloomBytes))
  }

  /** [[decontaminate]] with a bloom prefilter: identical output (the exact
    * confirm removes false positives; bloom filters have no false
    * negatives), but the train corpus is never exploded — only flagged
    * docs are. With the default `expectedItems = 0` the filter is sized
    * from the ACTUAL distinct eval-gram count (one metadata-sized count
    * job over the eval side — benchmarks, not crawls): a fixed-size
    * filter over-provisioned for a small eval set pays its full byte cost
    * in every map-side partial merge and in every probe task's reference
    * blob regardless of how few grams it holds (the prior fixed 4 MiB
    * default cost ~0.5 s/gate at sf0.1 on filter plumbing alone).
    * Explicit `expectedItems`/`numBits` skip the count job; oversize
    * `expectedItems` rather than undersize — the filter degrades to more
    * confirm work, never to misses.
    */
  def decontaminateBloom(train: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, n: Int = 8, expectedItems: Long = 0L,
      numBits: Long = 0L): DataFrame = {
    val grams = evalGrams(eval, textCol, n)
    if (expectedItems <= 0) {
      val local = grams.limit(MaxDriverGrams + 1).collect()
      if (local.isEmpty) return train // empty/too-short eval: nothing to remove
      if (local.length <= MaxDriverGrams) {
        val hashes = local.map(_.getLong(0))
        val spark = train.sparkSession
        import spark.implicits._
        return probeAndConfirm(train,
          hashes.toSeq.toDF("__g"), driverBloom(hashes, numBits),
          idCol, textCol, n)
      }
      // fell through: a genuinely large eval set — distributed build below
    }
    val items =
      if (expectedItems > 0) expectedItems
      else grams.count() // metadata-sized job: eval sets are benchmarks
    if (items == 0) return train
    val bits =
      if (numBits > 0) numBits
      else math.max(items * AutoBitsPerGram, 1L << 10)
    val bloomRow = grams
      .agg(GraftSqlBridge.bloomFilterAgg(col("__g"), items, bits).as("__bf"))
      .head()
    if (bloomRow.isNullAt(0)) return train
    probeAndConfirm(train, grams, bloomRow.getAs[Array[Byte]](0),
      idCol, textCol, n)
  }

  /** Shared back half of the bloom path: flag candidate docs with the
    * codegen'd early-exit probe over the in-row hash array — no explode
    * for the overwhelmingly-clean majority (the composable exists() +
    * might_contain form interprets its lambda per element, which measured
    * SLOWER than the explode it replaces — SMOKE.md "Decontamination at 1M
    * docs") — then run the exact confirm on the flagged sliver only.
    */
  private def probeAndConfirm(train: DataFrame, grams: DataFrame,
      bloomBytes: Array[Byte], idCol: String, textCol: String,
      n: Int): DataFrame = {
    val flagged = train.filter(graft.plans.VectorExpressions.tokenCount(col(textCol)) >= n)
      .filter(graft.plans.VectorExpressions.bloomAnyContain(
        gramHashes(textCol, n), bloomBytes))
    train.join(
      broadcast(contaminatedIdsVs(flagged, grams, idCol, textCol, n)),
      Seq(idCol), "left_anti")
  }
}
