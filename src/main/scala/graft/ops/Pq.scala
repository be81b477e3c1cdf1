package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization: the memory-compressed ANN path for corpus-scale
  * embedding search (complements [[Similarity]]'s brute/LSH/IVF variants).
  *
  * A `dim`-float vector is split into `m` contiguous subspaces of
  * `dim / m` components; each subspace gets its own `ksub`-centroid
  * codebook (Lloyd's k-means), and a vector is stored as `m` small codes —
  * 64 floats (256 B) become 8 bytes at m=8/ksub≤256, a 32× memory cut,
  * which is what makes a 100 TB embedding corpus searchable from RAM.
  * Query scoring is asymmetric distance computation (ADC): the query is
  * NOT quantized; per subspace a `ksub`-entry table of exact
  * query-to-centroid distances is computed once, and a candidate's score
  * is `m` table lookups — no per-row vector math at search time.
  *
  * Engine-portable determinism (the oracle replays training bit-for-bit):
  * every quantity is FIXED-POINT. Components are scaled to e6 integers
  * (`round(v * 1e6)` — exact Longs thereafter), distances are integer
  * sums of squared integer differences, and centroid updates round the
  * integer mean back to an e6 integer (`round(sum / n)`, double division
  * of exact integers — deterministic IEEE). Cross-row aggregation is
  * therefore associative (integer sums), so Spark's partial aggregation
  * order cannot perturb results — the same trick the NB/BPE/JSD gates use.
  * Magnitudes: unit-scale embeddings give |xe| ≤ ~1e6; a squared diff is
  * ≤ 4e12 and a dim-64 sum ≤ 3e14 — far inside Long range.
  *
  * Scale shape per training iteration: ONE scan of the (optionally
  * hash-sampled) train side, in-row code assignment (integer expressions,
  * no join — codebooks ride along as literals), then a hash aggregation
  * onto m·ksub keys (map-side partials collapse each partition to at most
  * m·ksub rows, so the shuffle is a few KB regardless of corpus size) and
  * a metadata-sized driver collect. Encoding is one scan, pure
  * projection. At 100 TB: train on `trainFraction ≪ 1` (the standard PQ
  * recipe — codebooks need ~100·ksub samples per subspace), encode once.
  */
object Pq {

  /** e6 fixed-point scale shared by training, encoding, ADC, and the SQL
    * oracles.
    */
  val Scale = 1000000L

  /** Trained codebooks: `codebooks(j)(c)` is the e6-integer centroid of
    * code `c` in subspace `j` (length `dsub`).
    */
  final case class PqModel(dim: Int, m: Int, ksub: Int,
      codebooks: Vector[Vector[Vector[Long]]]) {
    require(dim % m == 0, s"dim=$dim not divisible by m=$m")
    val dsub: Int = dim / m
  }

  /** The e6-integer view of a float/double vector column — the ONE
    * definition of the engine↔oracle fixed-point boundary.
    */
  def xeCol(vec: Column): Column =
    transform(vec.cast("array<double>"), v => round(v * lit(Scale.toDouble)).cast("long"))

  /** Driver-side twin of [[xeCol]] for literal query vectors (config-
    * supplied, not a corpus row): same HALF_UP away-from-zero rounding as
    * Spark's `round`, so a literal equals its would-be column encoding.
    * (`math.round` would differ on negative .5 boundaries — it rounds
    * toward positive infinity.)
    */
  def xe(v: Seq[Double]): Vector[Long] =
    v.map(x => BigDecimal(x * Scale)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).longValue).toVector

  /** All m subspace codes in one native codegen'd expression
    * ([[graft.plans.PqAssign]]): integer argmin per codebook, first index
    * on ties — one primitive loop per row, no interpreted HOFs.
    */
  private def codesExpr(xe: Column, books: Vector[Vector[Vector[Long]]]): Column =
    graft.plans.PqAssign.codes(xe, books)

  /** Train `m` subspace codebooks with `iters` Lloyd rounds over
    * `embs(vecCol)` (fixed `dim` components per row — ragged or null rows
    * are the caller's contract violation and fail loudly in assignment).
    *
    * Init: the `ksub` rows ranked first by the deterministic
    * [[Sampling.unitHash]] order (hash, id) seed the codebooks — row `c`
    * seeds code `c` of EVERY subspace. Update: per (subspace, code), the
    * e6-integer mean of members; a code with no members keeps its previous
    * centroid. `trainFraction < 1` trains on the deterministic hash sample
    * (same seed space as the init ranking).
    */
  def train(embs: DataFrame, idCol: String, vecCol: String, dim: Int, m: Int,
      ksub: Int, iters: Int, seed: Long = 42L,
      trainFraction: Double = 1.0): PqModel =
    trainBase(
      embs.select(col(idCol).as("__id"), xeCol(col(vecCol)).as("__xe")),
      dim, m, ksub, iters, seed, trainFraction)

  /** [[train]] over a prepared `(__id, __xe)` base — the entry the OPQ
    * path uses to fit codebooks on ROTATED e6 vectors with the identical
    * seeding/update/tie-break rules (and so the identical SQL replay).
    */
  private def trainBase(base0: DataFrame, dim: Int, m: Int,
      ksub: Int, iters: Int, seed: Long, trainFraction: Double,
      seedXe: Option[IndexedSeq[Vector[Long]]] = None): PqModel = {
    require(dim % m == 0, s"dim=$dim not divisible by m=$m")
    require(ksub > 0 && iters >= 0, "ksub must be positive and iters non-negative")
    val dsub = dim / m
    val base = if (trainFraction < 1.0)
      base0.filter(Sampling.unitHash(col("__id"), seed) < trainFraction)
    else base0

    // seed centroids: k rows in (hash, id) order — a k-row TakeOrdered,
    // unless the caller already holds the seed vectors (the OPQ path: the
    // (hash, id) ranking is permutation-independent, so alternation B's
    // seeds are alternation A's raw seed rows re-rotated driver-side —
    // one fewer full-pass barrier per alternation)
    val seedVecs: IndexedSeq[Vector[Long]] = seedXe.getOrElse {
      base.orderBy(Sampling.unitHash(col("__id"), seed), col("__id"))
        .limit(ksub).select("__xe").collect()
        .toIndexedSeq.map(_.getSeq[Long](0).toVector)
    }
    require(seedVecs.length == ksub,
      s"need >= $ksub rows to seed $ksub codes, got ${seedVecs.length}")
    var books: Vector[Vector[Vector[Long]]] = Vector.tabulate(m) { j =>
      Vector.tabulate(ksub) { c =>
        seedVecs(c).slice(j * dsub, (j + 1) * dsub)
      }
    }

    (0 until iters).foreach { _ =>
      // one scan: in-row assignment, explode to (j, code, subvector) cells,
      // hash-aggregate onto m·ksub keys (map-side partials make the shuffle
      // size independent of the corpus), metadata-sized collect
      val cells = explode(array((0 until m).map { j =>
        struct(lit(j).as("j"), element_at(col("__codes"), j + 1).as("c"),
          slice(col("__xe"), j * dsub + 1, dsub).as("s"))
      }: _*))
      val sums = (0 until dsub).map(d =>
        sum(element_at(col("cell.s"), d + 1)).as(s"s$d"))
      val updated = base
        .withColumn("__codes", codesExpr(col("__xe"), books))
        .select(cells.as("cell"))
        .groupBy(col("cell.j").as("j"), col("cell.c").as("c"))
        // the rounded e6 mean is computed IN-ENGINE so the round-half rule
        // is Spark's own (HALF_UP away from zero — same as DuckDB round())
        .agg(count(lit(1)).as("n"), sums: _*)
        .select(col("j"), col("c"), array((0 until dsub).map(d =>
          round(col(s"s$d").cast("double") / col("n")).cast("long")): _*).as("v"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Long](2).toVector)
        .toMap
      books = Vector.tabulate(m) { j =>
        Vector.tabulate(ksub) { c => updated.getOrElse((j, c), books(j)(c)) }
      }
    }
    PqModel(dim, m, ksub, books)
  }

  /** Encode every row to its `m` codes — one scan, pure projection (the
    * codebooks are plan literals). Output: input columns + `codes`.
    */
  def encode(embs: DataFrame, vecCol: String, model: PqModel): DataFrame =
    embs.withColumn("codes", codesExpr(xeCol(col(vecCol)), model.codebooks))

  // ---- OPQ: learned signed-Hadamard-permutation rotation ------------------
  // OPQ fits an orthogonal rotation R so PQ quantizes R·x with less error
  // than x (Ge et al., "Optimized Product Quantization", CVPR 2013). The
  // classic non-parametric update solves a Procrustes problem by SVD —
  // float linear algebra no SQL oracle can replay. This engine restricts
  // the rotation family to R = P·H·D (±1 sign diagonal, Walsh-Hadamard,
  // learned output permutation): HD is the standard structured-random
  // rotation (Ailon-Chazelle FJLT) that spreads energy uniformly across
  // dimensions, and P is fit by ALTERNATING MINIMIZATION — alternate
  // (a) Lloyd codebook fit on the rotated vectors with (b) a permutation
  // update that rebalances per-dimension quantization error across the m
  // subspaces (rank dims by error, deal them round-robin). Every step is
  // e6-integer arithmetic, so training AND encode replay bit-for-bit as
  // unrolled SQL CTEs — the pq_codes oracle convention extends to OPQ.

  /** The rotation half of an OPQ model: `z = P·(H·(D·x)) / √dim` in pure
    * integer arithmetic (see [[graft.plans.HdRotate]]). `dim` must be a
    * power of 4 so √dim is exact.
    */
  final case class OpqRotation(dim: Int, signs: Vector[Int], perm: Vector[Int]) {
    require(signs.length == dim && perm.length == dim,
      s"rotation arity mismatch: dim=$dim, ${signs.length} signs, ${perm.length} perm")
    def rotateCol(xe: Column): Column =
      graft.plans.HdRotate.col(xe, signs, perm)
    /** Driver-side twin for literal query vectors — bit-identical to
      * [[rotateCol]] on the same e6 input.
      */
    def rotateXe(v: Seq[Long]): Vector[Long] =
      graft.plans.HdRotate.rotate(v.toArray, signs.toArray, perm.toArray).toVector
  }

  final case class OpqModel(rotation: OpqRotation, pq: PqModel)

  /** The deterministic ±1 sign diagonal: dimension j flips iff the engine's
    * 56-bit portable hash of "j:seed" lands in the upper half of the 1e9
    * unit space — the Sampling.unitHash convention, replayed by the oracle
    * as `('0x'||substr(md5(j||':'||seed),1,14))::BIGINT % 1000000000 >= 500000000`.
    */
  def opqSigns(dim: Int, seed: Long): Vector[Int] =
    Vector.tabulate(dim) { j =>
      if (graft.plans.Hash56.hash56(s"$j:$seed".getBytes("UTF-8"))
        % 1000000000L < 500000000L) 1 else -1
    }

  /** Alternating-minimization OPQ training. Each alternation fits Lloyd
    * codebooks on the currently-rotated vectors ([[train]]'s exact rules),
    * then — except after the last — rebalances the output permutation:
    * per-POSITION integer quantization error is summed in one scan
    * (`Σ (z_i − centroid_code_i)²`, exact Longs), positions rank by
    * (error desc, position asc), and rank r's HD dimension moves to
    * subspace `r mod m`, slot `r div m` — high-error dimensions spread
    * across subspaces instead of concentrating in one codebook's budget.
    * Error is measured on the same deterministic hash sample training
    * uses, so `trainFraction` bounds the whole fit's cost.
    *
    * Scale shape: per alternation, one Lloyd fit (its shuffle is m·ksub
    * keys, corpus-size-independent) plus one 64-column aggregate scan for
    * the error sums — no new shuffle classes; the collect is dim Longs.
    */
  def trainOpq(embs: DataFrame, idCol: String, vecCol: String, dim: Int,
      m: Int, ksub: Int, iters: Int, seed: Long = 42L,
      trainFraction: Double = 1.0, alternations: Int = 2): OpqModel = {
    require(alternations >= 1, s"alternations must be >= 1, got $alternations")
    require(dim % m == 0, s"dim=$dim not divisible by m=$m")
    val dsub = dim / m
    val signs = opqSigns(dim, seed)
    val xeBase = embs.select(col(idCol).as("__id"), xeCol(col(vecCol)).as("__xe0"))
    // seed rows once, in RAW space: the (hash, id) seed ranking never looks
    // at the vector, so every alternation seeds from the SAME rows — collect
    // them once and re-rotate driver-side per alternation (HdRotate.rotate
    // is the exact shared integer rotation), saving one full-pass
    // TakeOrdered barrier per alternation after the first
    val sampled = if (trainFraction < 1.0)
      xeBase.filter(Sampling.unitHash(col("__id"), seed) < trainFraction)
    else xeBase
    val rawSeeds = sampled
      .orderBy(Sampling.unitHash(col("__id"), seed), col("__id"))
      .limit(ksub).select("__xe0").collect()
      .toIndexedSeq.map(_.getSeq[Long](0).toVector)
    var perm = Vector.range(0, dim)
    var model: PqModel = null
    var a = 0
    while (a < alternations) {
      val rot = OpqRotation(dim, signs, perm)
      val base = xeBase.select(col("__id"), rot.rotateCol(col("__xe0")).as("__xe"))
      model = trainBase(base, dim, m, ksub, iters, seed, trainFraction,
        seedXe = Some(rawSeeds.map(v => rot.rotateXe(v))))
      if (a < alternations - 1) {
        val books = model.codebooks
        val sample = if (trainFraction < 1.0)
          base.filter(Sampling.unitHash(col("__id"), seed) < trainFraction)
        else base
        val enc = sample.withColumn("__codes", codesExpr(col("__xe"), books))
        val errAggs = (0 until dim).map { i =>
          val j = i / dsub
          val d = i % dsub
          // this position's centroid component for the row's assigned code
          val cvals = typedLit(books(j).map(_(d)))
          val diff = element_at(col("__xe"), i + 1) -
            element_at(cvals, element_at(col("__codes"), j + 1) + 1)
          sum(diff * diff).as(s"e$i")
        }
        val row = enc.agg(errAggs.head, errAggs.tail: _*).collect()(0)
        require(!row.isNullAt(0), "opq: no rows to measure quantization error on")
        val errs = Vector.tabulate(dim)(i => row.getLong(i))
        val ranked = (0 until dim).sortBy(i => (-errs(i), i))
        val next = new Array[Int](dim)
        ranked.zipWithIndex.foreach { case (pos, r) =>
          next((r % m) * dsub + r / m) = perm(pos)
        }
        perm = next.toVector
      }
      a += 1
    }
    OpqModel(OpqRotation(dim, signs, perm), model)
  }

  /** [[encode]] under an OPQ rotation: rotate, then assign — one scan, one
    * codegen'd pipeline (HdRotate feeds PqAssign in-row).
    */
  def encodeOpq(embs: DataFrame, vecCol: String, om: OpqModel): DataFrame =
    embs.withColumn("codes",
      codesExpr(om.rotation.rotateCol(xeCol(col(vecCol))), om.pq.codebooks))

  /** Driver-side query view under OPQ: e6-scale then rotate — feed the
    * result to [[adcTopK]] with `om.pq`.
    */
  def xeOpq(v: Seq[Double], om: OpqModel): Vector[Long] =
    om.rotation.rotateXe(xe(v))

  /** [[adcTopKRerank]] under OPQ: the ADC shortlist runs in ROTATED space
    * (codes were fit there), the exact re-rank in RAW space — rotation is
    * near-isometric but the serving contract is exact distances on the
    * stored vectors.
    */
  def adcTopKRerankOpq(encoded: DataFrame, idCol: String, vecCol: String,
      om: OpqModel, queryXeRaw: Seq[Long], k: Int, shortlist: Int): DataFrame = {
    require(shortlist >= k, s"shortlist=$shortlist must be >= k=$k")
    val cand = adcTopK(encoded, idCol, om.pq, om.rotation.rotateXe(queryXeRaw),
      shortlist).select(idCol)
    val qlit = array(queryXeRaw.map(lit): _*)
    encoded.join(broadcast(cand), Seq(idCol), "left_semi")
      .select(col(idCol),
        graft.plans.SqDist.dist(xeCol(col(vecCol)), qlit).as("dist_e6"))
      .where(col("dist_e6").isNotNull)
      .orderBy(col("dist_e6"), col(idCol))
      .limit(k)
  }

  /** Persist an OPQ model: the PQ codebooks via [[save]] plus a
    * `_rotation` sidecar of (kind, i, v) rows — both tiny, both exact.
    */
  def saveOpq(spark: org.apache.spark.sql.SparkSession, om: OpqModel,
      path: String): Unit = {
    import spark.implicits._
    save(spark, om.pq, path)
    val rows =
      om.rotation.signs.zipWithIndex.map { case (s, i) => ("sign", i, s.toLong) } ++
      om.rotation.perm.zipWithIndex.map { case (p, i) => ("perm", i, p.toLong) }
    rows.toDF("kind", "i", "v").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/_rotation")
  }

  /** Load an OPQ model written by [[saveOpq]] — validates the sidecar
    * covers every dimension exactly once.
    */
  def loadOpq(spark: org.apache.spark.sql.SparkSession, path: String): OpqModel = {
    val pq = load(spark, path)
    val rows = spark.read.parquet(s"$path/_rotation")
      .select(col("kind"), col("i").cast("int"), col("v").cast("long"))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val dim = pq.dim
    def vec(kind: String): Vector[Int] = Vector.tabulate(dim) { i =>
      rows.getOrElse((kind, i), throw new IllegalArgumentException(
        s"opq load: rotation sidecar at $path missing $kind[$i]")).toInt
    }
    val perm = vec("perm")
    require(perm.sorted == Vector.range(0, dim),
      s"opq load: perm at $path is not a permutation of 0..${dim - 1}")
    OpqModel(OpqRotation(dim, vec("sign"), perm), pq)
  }

  /** [[trainOrLoad]]'s OPQ twin — same commit protocol (temp + atomic
    * rename + post-rename nest check), model plus rotation sidecar commit
    * together under the one `_SUCCESS` marker.
    */
  def trainOrLoadOpq(data: DataFrame, idCol: String, vecCol: String, dim: Int,
      m: Int, ksub: Int, iters: Int, seed: Long, trainFraction: Double,
      alternations: Int, modelPath: Option[String]): OpqModel = {
    val spark = data.sparkSession
    val hconf = spark.sparkContext.hadoopConfiguration
    def committed(p: String): Boolean = {
      val marker = new org.apache.hadoop.fs.Path(s"$p/_SUCCESS")
      marker.getFileSystem(hconf).exists(marker)
    }
    modelPath match {
      case Some(p) if committed(p) => loadOpq(spark, p)
      case Some(p) =>
        val trained = trainOpq(data, idCol, vecCol, dim, m, ksub, iters, seed,
          trainFraction, alternations)
        val target = new org.apache.hadoop.fs.Path(p)
        val tmp = new org.apache.hadoop.fs.Path(
          target.getParent, s".${target.getName}.tmp-${java.util.UUID.randomUUID}")
        // write codebooks first (their _SUCCESS lands at tmp root), then
        // the sidecar — the rename publishes both or neither
        saveOpq(spark, trained, tmp.toString)
        val fs = target.getFileSystem(hconf)
        if (!committed(p) && fs.exists(target)) fs.delete(target, true)
        if (committed(p) || !fs.rename(tmp, target)) {
          fs.delete(tmp, true)
          loadOpq(spark, p)
        } else {
          val nested = new org.apache.hadoop.fs.Path(target, tmp.getName)
          if (fs.exists(nested)) {
            fs.delete(nested, true)
            loadOpq(spark, p)
          } else trained
        }
      case None => trainOpq(data, idCol, vecCol, dim, m, ksub, iters, seed,
        trainFraction, alternations)
    }
  }

  /** Persist a trained model as a tiny parquet of (j, c, v) rows — train
    * once, encode/search many (the production shape: codebooks are fit on
    * one corpus snapshot and reused across encode runs and queries, like
    * [[Similarity]]'s on-disk IVF index). The e6-integer centroids
    * round-trip exactly.
    */
  def save(spark: org.apache.spark.sql.SparkSession, model: PqModel,
      path: String): Unit = {
    import spark.implicits._
    val rows = for {
      j <- 0 until model.m; c <- 0 until model.ksub
    } yield (j, c, model.codebooks(j)(c))
    rows.toDF("j", "c", "v").coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  /** Load a model written by [[save]]. Shape is validated loudly — a
    * ragged or truncated codebook table means the path holds something
    * else.
    */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): PqModel = {
    val rows = spark.read.parquet(path)
      .select(col("j").cast("int"), col("c").cast("int"), col("v"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Long](2).toVector)
      .toMap
    require(rows.nonEmpty, s"pq load: no codebook rows at $path")
    val m = rows.keys.map(_._1).max + 1
    val ksub = rows.keys.map(_._2).max + 1
    val dsub = rows.values.head.length
    require(rows.size == m * ksub && rows.values.forall(_.length == dsub),
      s"pq load: ragged codebook table at $path " +
        s"(${rows.size} rows for m=$m ksub=$ksub, dsub=$dsub)")
    PqModel(m * dsub, m, ksub,
      Vector.tabulate(m)(j => Vector.tabulate(ksub)(c => rows((j, c)))))
  }

  /** Load a committed model from `modelPath`, or train one and persist it
    * there (when given) — the persist-or-reuse contract shared by the
    * `pq_encode` / `pq_knn` stages: train on one corpus snapshot, encode
    * every later run against the SAME model so codes stay comparable
    * across corpus versions. A path without a `_SUCCESS` marker is treated
    * as untrained (a partial write is retrained and overwritten).
    *
    * Concurrency: last-committer-wins, not a lock. Training writes to a
    * temp sibling and renames into place (rename is atomic on HDFS-like
    * stores), and the marker is re-checked after training — so two racing
    * pipelines can never interleave files from DIFFERENT models, and the
    * loser of the race adopts the winner's committed model (preserving the
    * codes-stay-comparable contract) rather than clobbering it. On stores
    * without atomic rename (e.g. raw object stores), provide a
    * single-writer guarantee externally.
    */
  def trainOrLoad(data: DataFrame, idCol: String, vecCol: String, dim: Int,
      m: Int, ksub: Int, iters: Int, seed: Long, trainFraction: Double,
      modelPath: Option[String]): PqModel = {
    val spark = data.sparkSession
    val hconf = spark.sparkContext.hadoopConfiguration
    def committed(p: String): Boolean = {
      val marker = new org.apache.hadoop.fs.Path(s"$p/_SUCCESS")
      marker.getFileSystem(hconf).exists(marker)
    }
    modelPath match {
      case Some(p) if committed(p) => load(spark, p)
      case Some(p) =>
        val trained = train(data, idCol, vecCol, dim, m, ksub, iters, seed, trainFraction)
        // write-to-temp + atomic rename + re-check: a racing trainer that
        // committed first wins, and its model is adopted (see scaladoc)
        val target = new org.apache.hadoop.fs.Path(p)
        val tmp = new org.apache.hadoop.fs.Path(
          target.getParent, s".${target.getName}.tmp-${java.util.UUID.randomUUID}")
        save(spark, trained, tmp.toString)
        val fs = target.getFileSystem(hconf)
        // a stale UNcommitted partial at the target blocks rename (Hadoop
        // rename-onto-existing-dir nests instead of replacing): clear it
        if (!committed(p) && fs.exists(target)) fs.delete(target, true)
        if (committed(p) || !fs.rename(tmp, target)) {
          fs.delete(tmp, true)
          load(spark, p)
        } else {
          // TOCTOU net: if a racing trainer committed between the re-check
          // and our rename, Hadoop rename onto the now-existing directory
          // NESTS tmp inside it and still returns true — in that case we
          // LOST: remove the nested litter and adopt the winner's model
          // (the codes-stay-comparable contract), never our divergent one.
          val nested = new org.apache.hadoop.fs.Path(target, tmp.getName)
          if (fs.exists(nested)) {
            fs.delete(nested, true)
            load(spark, p)
          } else trained
        }
      case None => train(data, idCol, vecCol, dim, m, ksub, iters, seed, trainFraction)
    }
  }

  /** ADC top-k over an encoded frame: per subspace, the `ksub` exact
    * query-to-centroid distances become a literal lookup array; a row's
    * score is `m` array lookups + an integer sum, and `orderBy + limit`
    * compiles to TakeOrderedAndProject (per-partition top-k, k-row driver
    * merge — no global sort). `queryXe` is the e6 view of the query (use
    * [[xeCol]] on the query's own row for bit-identical scaling).
    *
    * Null-codes rows (a null input vector encodes to null — PqAssign is
    * nullIntolerant) are excluded from the candidate set here; without the
    * filter a null distance would sort FIRST under ascending order and
    * silently occupy top-k slots.
    */
  def adcTopK(encoded: DataFrame, idCol: String, model: PqModel,
      queryXe: Seq[Long], k: Int): DataFrame = {
    require(queryXe.length == model.dim,
      s"query has ${queryXe.length} dims, model expects ${model.dim}")
    val tables: Vector[Vector[Long]] = Vector.tabulate(model.m) { j =>
      val q = queryXe.slice(j * model.dsub, (j + 1) * model.dsub)
      model.codebooks(j).map(cb =>
        q.zip(cb).map { case (a, b) => (a - b) * (a - b) }.sum)
    }
    // ONE Literal + the native m-lookup scorer instead of m literal arrays
    // of element_at lookups folded with + : same integer sums, ~50x fewer
    // plan nodes (the per-gate driver planning cost is the serving floor
    // at bench scale — JobProbe r17)
    val score = graft.plans.PqAdcScore.score(col("codes"),
      typedlit[Seq[Seq[Long]]](tables.map(_.toSeq)))
    encoded.where(col("codes").isNotNull)
      .select(col(idCol), score.as("dist_e6"))
      .orderBy(col("dist_e6"), col(idCol))
      .limit(k)
  }

  /** [[adcTopK]] + exact re-rank — the standard PQ serving recipe: an ADC
    * shortlist of `shortlist` candidates (quantization error picks the
    * POOL), then the exact e6-integer squared L2 against `vecCol` on only
    * those rows (full precision picks the WINNERS). Measured ~2× recall@10
    * over ADC-only at the gate config (SMOKE.md "ANN recall: PQ joins the
    * tuning-curve evidence"). Output schema is
    * [[adcTopK]]'s (idCol, dist_e6), but `dist_e6` is the EXACT distance.
    *
    * Scale shape: the shortlist id-frame is a k-row TakeOrdered result,
    * broadcast into a left-semi join — the corpus is scanned once for ADC
    * (codes only) and once more to fetch `shortlist` rows' vectors; no
    * shuffle in either pass. Rows whose exact distance is null (a vector
    * with null components) are excluded, not ranked.
    */
  def adcTopKRerank(encoded: DataFrame, idCol: String, vecCol: String,
      model: PqModel, queryXe: Seq[Long], k: Int, shortlist: Int): DataFrame = {
    require(shortlist >= k, s"shortlist=$shortlist must be >= k=$k")
    val cand = adcTopK(encoded, idCol, model, queryXe, shortlist).select(idCol)
    val qlit = array(queryXe.map(lit): _*)
    encoded.join(broadcast(cand), Seq(idCol), "left_semi")
      .select(col(idCol),
        graft.plans.SqDist.dist(xeCol(col(vecCol)), qlit).as("dist_e6"))
      .where(col("dist_e6").isNotNull)
      .orderBy(col("dist_e6"), col(idCol))
      .limit(k)
  }

  /** Batch-query ADC k-NN: every row of a (small) `queries` table gets its
    * top-k over the encoded corpus — the bulk-retrieval shape (RAG corpus
    * lookup, embedding-join between two tables) where per-query [[adcTopK]]
    * literal plans do not compose.
    *
    * Plan: each query's m×ksub distance-table is computed IN-ROW on the
    * query side (codebooks are plan literals; the table is exact integer
    * query→centroid distances), the query frame is broadcast, and the
    * corpus cross-joins it with a per-pair score of m array lookups
    * (`zip_with` codes × tables + integer sum). The per-query top-k is a
    * bounded [[org.apache.spark.sql.GraftSqlBridge.collectTopK]] aggregate:
    * map-side partials cap each partition's output at queries×k rows, so
    * THE CORPUS NEVER SHUFFLES — at 100 TB one pass over the codes column
    * (32× smaller than the vectors) produces a queries×k result. Rows with
    * null codes are excluded (the [[adcTopK]] contract); query rows with a
    * null vector produce no output rows.
    *
    * Output: (qidCol, idCol, dist_e6, rank) with rank 1..k per query,
    * ties broken by ascending id (the adcTopK order). A query row from the
    * corpus itself matches its own encoding (rank 1 at distance ~0) —
    * exclude it downstream if self-matches are unwanted.
    *
    * Contracts (all loud or documented, per the fail-loudly convention):
    *   - `qidCol` must differ from `idCol` (both appear in the output;
    *     a shared name would be ambiguous) — violations throw here, not as
    *     an AnalysisException deep in the join.
    *   - Query rows whose vector is null OR contains a null component
    *     produce NO output rows (a null component nulls every distance-
    *     table entry; ranking null distances would silently fill that
    *     query's top-k with arbitrary ids).
    *   - Duplicate `qidCol` values MERGE their candidate sets into a
    *     single top-k (the qid is the group key); give queries distinct
    *     ids when per-row results are wanted.
    *   - SESSION-WIDE CONF: raises
    *     `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` to a
    *     floor of 65536 (never lowers it) for the whole SparkSession —
    *     past 128 distinct group keys the default silently degrades the
    *     bounded map-side top-k into a full sort of the N×queries
    *     candidate set (measured 113.9 s vs 16.4 s at 170M pairs). The
    *     raise also governs other object aggregates in the session; this
    *     engine's all carry bounded or sketch-sized state, but sessions
    *     mixing in unbounded ad-hoc `collect_list` aggregates should scope
    *     it via a per-pipeline `conf:` block instead.
    */
  def adcKnnJoin(encoded: DataFrame, idCol: String, model: PqModel,
      queries: DataFrame, qidCol: String, qvecCol: String, k: Int): DataFrame = {
    require(qidCol != idCol,
      s"query id column `$qidCol` must differ from corpus id column `$idCol` " +
        "(both appear in the output); alias one side first")
    // m×ksub exact integer distances in ONE codegen'd expression
    // ([[graft.plans.PqAdcTable]]) — evaluated once per QUERY row (the
    // small side), never per pair. The literal-unrolled Column form this
    // replaces duplicated the xe subtree into every element_at and cost
    // ~1.2 s of driver planning per plan at bench scale (JobProbe r17).
    val qtab = graft.plans.PqAdcTable.table(xeCol(col(qvecCol)), model.codebooks)
    // internal __qid decouples the query key from corpus column names and
    // the vector-validity filter runs per QUERY row, not per pair
    val qframe = queries
      .where(col(qvecCol).isNotNull && !exists(col(qvecCol), _.isNull))
      .select(col(qidCol).as("__qid"), qtab.as("__qtab"))
    // the per-pair score is the native codegen'd [[graft.plans.PqAdcScore]]
    // (m primitive reads); the equivalent zip_with+aggregate HOF chain is
    // interpreted per pair and measured ~18x slower at 170M pairs
    val scored = encoded
      .where(col("codes").isNotNull)
      .crossJoin(broadcast(qframe))
      .select(col("__qid"), col(idCol),
        graft.plans.PqAdcScore.score(col("codes"), col("__qtab")).as("dist_e6"))
    topKPerQuery(scored, idCol, qidCol, k)
  }

  /** Shared per-query bounded top-k: map-side collectTopK partials cap
    * each partition's output at queries×k rows, so the scored side never
    * shuffles its full volume. Expects (__qid, idCol, dist_e6) rows;
    * emits (qidCol, idCol, dist_e6, rank).
    */
  private def topKPerQuery(scored: DataFrame, idCol: String, qidCol: String,
      k: Int): DataFrame = {
    // ObjectHashAggregate falls back to SORT-BASED aggregation past 128
    // distinct keys (per partition) by default — for a query batch beyond
    // 128 rows that silently turns the bounded map-side top-k into a full
    // sort of the candidate set. Top-k state is strictly k rows per key,
    // so a hash map of 64k query keys is a few MB: raise the session
    // threshold to that floor (never lower it; read at execution time).
    // Session-wide side effect — documented in [[adcKnnJoin]]'s scaladoc.
    val fallbackKey = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val spark = scored.sparkSession
    val current = scala.util.Try(spark.conf.get(fallbackKey).toInt).getOrElse(128)
    if (current < 65536) {
      org.slf4j.LoggerFactory.getLogger("graft.ops.Pq").info(
        s"graft.Pq: raising session conf $fallbackKey $current -> 65536 " +
          "(bounded per-query top-k state; never lowered back)")
      spark.conf.set(fallbackKey, "65536")
    }
    import org.apache.spark.sql.GraftSqlBridge
    scored
      .groupBy(col("__qid"))
      .agg(GraftSqlBridge.collectTopK(
        struct(col("dist_e6"), col(idCol).as("__id")), k, smallest = true)
        .as("__top"))
      .select(col("__qid"), posexplode(col("__top")).as(Seq("__r", "__t")))
      .select(col("__qid").as(qidCol), col("__t.__id").as(idCol),
        col("__t.dist_e6").as("dist_e6"), (col("__r") + 1).as("rank"))
  }

  /** [[adcKnnJoin]] + exact re-rank: per query, an ADC shortlist of
    * `shortlist` candidates, then the exact e6-integer squared L2 against
    * `vecCol` on only those (qid, id) pairs, re-cut to top-k — the batch
    * form of [[adcTopKRerank]]. Output schema is [[adcKnnJoin]]'s, with
    * `dist_e6` the EXACT distance and `rank` re-assigned by it.
    *
    * Scale shape: the shortlist pair table (queries × shortlist rows) and
    * the query xe-frame are both broadcast; the corpus is scanned once for
    * ADC scoring (codes only) and once more to fetch shortlisted vectors
    * via a broadcast-hash join — THE CORPUS STILL NEVER SHUFFLES. The
    * exact distance is the native codegen'd [[graft.plans.SqDist]].
    */
  def adcKnnJoinRerank(encoded: DataFrame, idCol: String, vecCol: String,
      model: PqModel, queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, shortlist: Int): DataFrame = {
    require(shortlist >= k, s"shortlist=$shortlist must be >= k=$k")
    val pairs = adcKnnJoin(encoded, idCol, model, queries, qidCol, qvecCol, shortlist)
      .select(col(qidCol).as("__qid"), col(idCol))
    val qv = queries
      .where(col(qvecCol).isNotNull && !exists(col(qvecCol), _.isNull))
      .select(col(qidCol).as("__qid"), xeCol(col(qvecCol)).as("__qxe"))
    val exact = encoded
      .select(col(idCol), xeCol(col(vecCol)).as("__xe"))
      .join(broadcast(pairs), Seq(idCol))
      .join(broadcast(qv), Seq("__qid"))
      .select(col("__qid"), col(idCol),
        graft.plans.SqDist.dist(col("__xe"), col("__qxe")).as("dist_e6"))
      .where(col("dist_e6").isNotNull)
    topKPerQuery(exact, idCol, qidCol, k)
  }

  /** IVF-PQ: the production ANN service shape — coarse cells (an existing
    * partition key: label, cluster, LSH bucket) prune the candidate set,
    * ADC scores only the probed cells' rows. The probe selection reuses
    * [[Similarity.centroids]] (cell-mean cosine to the query, `nProbe`
    * closest, key tie-break); candidates semi-join against the broadcast
    * probe list, so the scan is bounded by nProbe cells and the scored
    * side touches only codes. At 100 TB with the corpus stored as
    * (id, key, codes) this reads a few cells' codes — no vectors at all.
    *
    * Null-key contract: rows with a null `keyCol` form a cell whose
    * centroid ranks like any other, but equi-join semantics (engine and
    * SQL oracle alike) never match a null key — such rows are NEVER
    * candidates. Both sides order null-centroid cells last (desc = nulls
    * last in Spark and DuckDB), so engine↔oracle parity holds; callers
    * with meaningful null keys should coalesce them to a sentinel cell
    * before indexing.
    */
  def ivfPqTopK(encoded: DataFrame, idCol: String, keyCol: String,
      vecCol: String, model: PqModel, query: Seq[Float], queryXe: Seq[Long],
      k: Int, nProbe: Int = 2, rerank: Int = 0): DataFrame = {
    val q = array(query.map(v => lit(v.toDouble)): _*)
    val probeCells = Similarity.centroids(encoded, keyCol, vecCol)
      .withColumn("qcos",
        graft.functions.GraftFunctions.cosine(col("centroid"), q))
      .orderBy(col("qcos").desc, col(keyCol)).limit(nProbe)
      .select(keyCol)
    val probed = encoded.join(broadcast(probeCells), Seq(keyCol), "left_semi")
    // rerank > 0: ADC shortlist of that many candidates within the probed
    // cells, exact distance on the shortlist only (the adcTopKRerank recipe)
    if (rerank > 0) adcTopKRerank(probed, idCol, vecCol, model, queryXe, k, rerank)
    else adcTopK(probed, idCol, model, queryXe, k)
  }
}
