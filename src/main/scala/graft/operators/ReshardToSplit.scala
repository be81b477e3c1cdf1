package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.meds.MedsSchema._

/** `reshard_to_split` (reference:
  * /root/reference/src/MEDS_transforms/stages/reshard_to_split/reshard_to_split.py:25-195,264-333).
  *
  * Re-shards the cohort so that every (split, shard) holds a disjoint set of
  * subjects, each shard internally sorted by (subject_id, time) — the layout
  * invariant every downstream window/aggregate depends on.
  *
  * The reference builds an explicit {split/shard → subject list} map with a
  * seeded RNG permutation and then, per new shard, filter-reads every old
  * shard. In Spark the same outcome is one shuffle: join the split
  * assignment, derive a deterministic shard number, and
  * `repartition(split, shard).sortWithinPartitions(subject, time)` — there is
  * no per-shard re-scan of the input, which is the difference between O(shards²)
  * file reads and a single pass at 100 TB.
  */
object ReshardToSplit {

  /** Deterministic subject → shard assignment: portable stable modulo hash
    * (reproducible across engines and runs, no driver-side state).
    */
  def assignShards(splits: DataFrame, nShards: Int): DataFrame =
    splits.withColumn(Shard, pmod(col(SubjectId), lit(nShards)).cast("int"))

  /** Reference-style assignment (`shard_subjects`, reshard_to_split.py:25-195):
    * per split, seeded-RNG permutation of the collected subject ids, then
    * near-equal contiguous chunks (numpy array_split semantics: the first
    * `n mod k` shards get one extra subject). The subject list is
    * metadata-scale in the reference, which collects it too; semantics match
    * it in structure only (its numpy RNG stream is not reproducible outside
    * numpy). Not a stage path: at cohort scale the collect is a driver-memory
    * hazard, so the stage runs [[assignShardsDistributed]] and this
    * collect form stays as the specs' reference for its chunk geometry.
    */
  def assignShardsSeeded(splits: DataFrame, nShards: Int, seed: Long = 0L): DataFrame =
    assignShardsWith(splits, _ => nShards, seed)

  /** Reference default sizing (`n_subjects_per_shard`, reshard_to_split
    * .py:25-31): per split, shard count = ceil(n / maxPerShard) — shards of a
    * consistent bounded size regardless of split cardinality.
    */
  def assignShardsBySize(splits: DataFrame, nSubjectsPerShard: Int,
      seed: Long = 0L): DataFrame = {
    require(nSubjectsPerShard > 0)
    assignShardsWith(splits,
      n => math.max(1, math.ceil(n.toDouble / nSubjectsPerShard).toInt), seed)
  }

  private def assignShardsWith(splits: DataFrame, shardCount: Int => Int,
      seed: Long): DataFrame = {
    val rows = splits.dropDuplicates(SubjectId).select(Split, SubjectId).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val assigned = rows.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (split, members) =>
      val rng = new scala.util.Random(seed ^ split.hashCode.toLong)
      val perm = rng.shuffle(members.map(_._2).sorted.toSeq)
      val n = perm.length
      val k = shardCount(n)
      val base = n / k
      val extra = n % k
      var idx = 0
      (0 until k).flatMap { s =>
        val len = base + (if (s < extra) 1 else 0)
        val chunk = perm.slice(idx, idx + len)
        idx += len
        chunk.map(subj => (subj, split, s))
      }
    }
    val spark = splits.sparkSession
    import spark.implicits._
    assigned.toDF(SubjectId, Split, Shard)
  }

  /** Fully-distributed seeded assignment: per split, subjects are permuted by
    * a seeded engine-portable hash and cut into near-equal contiguous chunks
    * (numpy `array_split` semantics, like the reference's `shard_subjects` —
    * reshard_to_split.py:25-195) — but the permutation rank is computed with
    * the scalable global-row-number primitive instead of a driver-side
    * collect, so a split with 10⁸ subjects never materializes on the driver.
    * Deterministic for a given (splits, seed).
    */
  def assignShardsDistributed(splits: DataFrame, nShards: Int, seed: Long = 0L): DataFrame = {
    require(nShards > 0)
    assignShardsDistributedWith(splits, _ => lit(nShards), seed)
  }

  /** Distributed analog of [[assignShardsBySize]]: per split, shard count =
    * ceil(n / nSubjectsPerShard) (the reference's `n_subjects_per_shard`
    * default sizing).
    */
  def assignShardsDistributedBySize(splits: DataFrame, nSubjectsPerShard: Int,
      seed: Long = 0L): DataFrame = {
    require(nSubjectsPerShard > 0)
    assignShardsDistributedWith(splits,
      n => greatest(lit(1L), ceil(n / lit(nSubjectsPerShard.toDouble))).cast("long"), seed)
  }

  private def assignShardsDistributedWith(splits: DataFrame,
      shardCount: Column => Column, seed: Long): DataFrame = {
    // seeded permutation key: portable 56-bit hash of (subject, seed) — the
    // same construction every sampling op uses, reproducible across engines
    val hashed = oneSplitPerSubject(splits)
      .select(col(SubjectId), col(Split),
        GraftFunctions.portableHash56(
          concat_ws(":", col(SubjectId), lit(seed))).as("__h"))
    // permutation rank within split, without a single-partition window: one
    // global row number over (split, hash), then subtract the split's min
    val ranked = GraftFunctions.withGlobalRowNumber(hashed, "__rn",
      Seq(col(Split), col("__h"), col(SubjectId)))
    // per-split stats are |splits| rows — always broadcastable
    val stats = ranked.groupBy(Split)
      .agg(min(col("__rn")).as("__min"), count(lit(1)).as("__n"))
    val k = shardCount(col("__n"))
    val rank = col("__rn") - col("__min") // 0-based rank within split
    // numpy array_split: the first (n mod k) shards get base+1 subjects
    val base = floor(col("__n") / k).cast("long")
    val extra = col("__n") % k
    val cut = (base + lit(1L)) * extra
    val shard = when(rank < cut, floor(try_divide(rank, base + lit(1L))))
      .otherwise(extra + floor(try_divide(rank - cut, base)))
    ranked.join(broadcast(stats), Seq(Split))
      .select(col(SubjectId), col(Split), shard.cast("int").as(Shard))
  }

  /** Generate IID splits from fractions when no external splits exist
    * (shard_subjects' split_fracs_dict, reshard_to_split.py:29,85): seeded
    * permutation of the distinct cohort, sliced at the cumulative-fraction
    * boundaries. Fractions must sum to 1.
    *
    * Collects the distinct subject ids and permutes them on the driver,
    * structurally like the reference's collected numpy shuffle. At 10⁸+
    * subjects that is a ~GB driver materialization, so the stage runs
    * [[assignSplitsByFracDistributed]] (identical split cardinalities, no
    * driver-side subject list); this form stays as the specs' reference.
    */
  def assignSplitsByFrac(subjects: DataFrame, fracs: Seq[(String, Double)],
      seed: Long = 1L): DataFrame = {
    require(math.abs(fracs.map(_._2).sum - 1.0) < 1e-9, s"fractions must sum to 1: $fracs")
    val ids = subjects.select(SubjectId).distinct().collect().map(_.getLong(0)).sorted.toSeq
    val rng = new scala.util.Random(seed)
    val perm = rng.shuffle(ids)
    val n = perm.length
    val bounds = fracs.map(_._2).scanLeft(0.0)(_ + _).map(f => math.round(f * n).toInt)
    val assigned = fracs.zipWithIndex.flatMap { case ((name, _), i) =>
      perm.slice(bounds(i), bounds(i + 1)).map(id => (id, name))
    }
    val spark = subjects.sparkSession
    import spark.implicits._
    assigned.toDF(SubjectId, Split)
  }

  /** Fully-distributed [[assignSplitsByFrac]]: the permutation is a seeded
    * engine-portable hash and the slice position is the scalable global rank
    * over it (the same construction [[assignShardsDistributed]] uses), so no
    * subject list ever lands on the driver — the only driver-side value is
    * the cohort COUNT, needed to turn fractions into row boundaries.
    *
    * Split cardinalities are identical to the collect form for any input
    * (both cut a permutation of n subjects at `round(cum_frac · n)`); the
    * MEMBERSHIP differs because the permutation orders differ (driver RNG vs
    * portable hash) — both are valid seeded IID draws, deterministic for a
    * given (subjects, seed).
    */
  def assignSplitsByFracDistributed(subjects: DataFrame, fracs: Seq[(String, Double)],
      seed: Long = 1L): DataFrame = {
    require(fracs.nonEmpty, "at least one split fraction is required")
    require(math.abs(fracs.map(_._2).sum - 1.0) < 1e-9, s"fractions must sum to 1: $fracs")
    val hashed = subjects.select(col(SubjectId)).distinct()
      .select(col(SubjectId),
        GraftFunctions.portableHash56(
          concat_ws(":", col(SubjectId), lit(seed))).as("__h"))
    // global rank over (hash, id): `ranked` is the checkpointed blocks, so
    // the count below and the final projection both read materialized
    // partitions — no lineage re-execution, no second shuffle
    val ranked = GraftFunctions.withGlobalRowNumber(hashed, "__rn",
      Seq(col("__h"), col(SubjectId)))
    val n = ranked.count() // scalar only — never the subject ids
    // same boundary arithmetic as the collect form: cut at round(cum · n)
    val bounds = fracs.map(_._2).scanLeft(0.0)(_ + _).map(f => math.round(f * n))
    val rank0 = col("__rn") - 1
    val split = fracs.init.zipWithIndex.foldRight(lit(fracs.last._1): Column) {
      case (((name, _), i), els) => when(rank0 < lit(bounds(i + 1)), lit(name)).otherwise(els)
    }
    ranked.select(col(SubjectId), split.as(Split))
  }

  /** One split per subject, HASH-aggregated. `dropDuplicates(SubjectId)`
    * keeps the non-key `split` via a First(string) buffer, which silently
    * forces SortAggregate over the full cohort (strings are not mutable
    * hash-agg buffer types — the round-14 min(struct) trap, string
    * edition). The split vocabulary is tiny by construction: index it
    * (lexicographic, nulls first, null-safe join back), min the INDEX per
    * subject (long buffer → HashAggregate), map back — which also upgrades
    * dropDuplicates' ARBITRARY winner to a deterministic one (the
    * lexicographically-smallest split), closing a nondeterminism hole when
    * a subject appears under two splits.
    */
  private def oneSplitPerSubject(splits: DataFrame): DataFrame = {
    val wIdx = org.apache.spark.sql.expressions.Window
      .orderBy(col(Split).asc_nulls_first)
    val splitIdx = splits.groupBy(col(Split)).agg(count(lit(1)).as("__cnt"))
      .select(col(Split), (row_number().over(wIdx) - 1).cast("long").as("__si"))
    splits
      .join(broadcast(splitIdx), splits(Split) <=> splitIdx(Split))
      .groupBy(splits(SubjectId).as(SubjectId))
      .agg(min(col("__si")).as("__si"))
      .join(broadcast(splitIdx), Seq("__si"))
      .select(col(SubjectId), col(Split))
  }

  def apply(data: DataFrame, splits: DataFrame, nShards: Int): DataFrame =
    // defensive dedup (as in Pipeline.trainOnly): a duplicated subject row in
    // the splits table must not multiply event rows through the join
    applyAssigned(data, assignShards(oneSplitPerSubject(splits), nShards))

  /** Reshard against a precomputed {subject → (split, shard)} assignment
    * (from any of the assignShards* variants). The join is deliberately
    * UN-hinted: the assignment is one row per subject, which at cohort scale
    * is too large to force-broadcast — AQE picks broadcast when it fits and
    * a shuffle join when it doesn't.
    */
  def applyAssigned(data: DataFrame, assignment: DataFrame): DataFrame =
    data.drop(Split, Shard)
      .join(assignment.select(SubjectId, Split, Shard), Seq(SubjectId), "inner")
      .repartition(col(Split), col(Shard))
      .sortWithinPartitions(SubjectId, Time)
}
