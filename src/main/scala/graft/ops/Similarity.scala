package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.GraftFunctions._

/** Block-scoped nearest-neighbor joins over an embedding column.
  *
  * [[knnJoin]] gives each row its k nearest rows within a block key, with
  * sign-LSH sub-bucketing ([[signBucket]]) of oversized blocks; the cells
  * of [[kmeansAssign]] serve as the block key when no natural one exists
  * (Dedup.semDedup).
  */
object Similarity {

  /** Sign-LSH bucket id: one bit per selected dimension (sign of the
    * coordinate), packed into a long. Deterministic and engine-portable.
    * With `dims.size` axis-aligned hyperplanes the expected bucket occupancy
    * is N / 2^dims.size; candidates are then ranked exactly within the bucket.
    */
  def signBucket(vec: Column, dims: Seq[Int]): Column =
    dims.zipWithIndex.map { case (d, i) =>
      // `get` (0-based) nulls out-of-range reads instead of ANSI-throwing on
      // a ragged vector; the null comparison maps a missing dim to bit 0
      when(get(vec, lit(d)) >= 0, lit(1L << i)).otherwise(0L)
    }.reduce(_ + _)

  /** Mean vector per key (e.g. a cluster label or a k-means cell).
    * Element-wise mean via posexplode + groupBy — a single shuffle of
    * (key, dim, value) triples.
    */
  def centroids(embs: DataFrame, keyCol: String, vecCol: String): DataFrame =
    embs.select(col(keyCol), posexplode(col(vecCol)).as(Seq("dim", "v")))
      .groupBy(keyCol, "dim").agg(avg("v").as("mean_v"))
      .groupBy(keyCol)
      .agg(array_sort(collect_list(struct(col("dim"), col("mean_v")))).as("pairs"))
      .select(col(keyCol), transform(col("pairs"), p => p.getField("mean_v")).as("centroid"))

  /** K-means-lite cells for a corpus with no natural block key
    * (label/cluster): deterministic hash-based initial cells, then
    * `iters` Lloyd rounds. Each round is one element-wise-mean aggregation
    * (centroids, k·dim doubles collected to the driver — always tiny) and one
    * per-row argmax-cosine assignment against the k centroid literals, fully
    * codegen'd — so the 100 TB side is scanned `iters + 1` times with zero
    * extra shuffles beyond the centroid aggregation. Returns the input plus
    * an `__cell: int` column (0..k-1); empty cells score -inf and are never
    * chosen. Deterministic for a given (input, k, iters).
    */
  def kmeansAssign(embs: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int = 2): DataFrame = {
    require(k > 0, "k must be positive")
    var assigned = embs.withColumn("__cell",
      pmod(portableHash56(col(idCol)), lit(k)).cast("int"))
    (0 until iters).foreach { _ =>
      // a null-celled row (all-null cosines, e.g. a zero-norm vector) would
      // put a null-keyed group through getInt — skip it; such rows keep
      // their deterministic hash cell via the coalesce below
      val byCell = centroids(assigned, "__cell", vecCol)
        .collect().filter(!_.isNullAt(0))
        .map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
      val cosCols = (0 until k).map { c =>
        byCell.get(c) match {
          case Some(v) => cosine(col(vecCol), array(v.map(lit): _*))
          case None => lit(Double.NegativeInfinity)
        }
      }
      val scores = array(cosCols: _*)
      assigned = embs.withColumn("__cell",
        coalesce((array_position(scores, array_max(scores)) - 1).cast("int"),
          pmod(portableHash56(col(idCol)), lit(k)).cast("int")))
    }
    assigned
  }

  /** All-pairs k-NN join within blocks (each left row gets its k nearest
    * right rows sharing the block key). Window-ranked, shuffle bounded by
    * block sizes.
    *
    * `maxBlockSize` is the hot-block guard: within a block of d rows the
    * join is quadratic (d² candidate rows through one join key), so a single
    * hot block degenerates the whole query at scale. With `Some(cap)`,
    * blocks whose RIGHT side exceeds the cap are sub-bucketed by sign-LSH
    * over `subBucketDims` on BOTH sides and the join key becomes
    * (block, bucket) — fan-out per key drops by ~2^dims (expected; identical
    * degenerate vectors still co-bucket, but those are exact duplicates that
    * belong to dedup, not knn). Results are exact for every block within the
    * cap and sign-LSH-approximate (neighbors found within the query row's
    * bucket) for oversized ones. The oversized-key list is a per-block
    * count (map-side combined) broadcast to both sides: no extra shuffle of
    * the vectors.
    */
  def knnJoin(left: DataFrame, right: DataFrame, idCol: String, vecCol: String,
      blockCol: String, k: Int, maxBlockSize: Option[Int] = None,
      subBucketDims: Seq[Int] = 0 until 8, salt: Int = 1,
      pairBudget: Long = 2000000L): DataFrame = {
    require(salt >= 1, s"salt must be >= 1, got $salt")
    val l = left.select(col(blockCol), col(idCol).as("id_l"), col(vecCol).as("vec_l"),
      graft.plans.VectorExpressions.l2norm(col(vecCol)).as("__nl"))
    val r = right.select(col(blockCol), col(idCol).as("id_r"), col(vecCol).as("vec_r"),
      graft.plans.VectorExpressions.l2norm(col(vecCol)).as("__nr"))
    val w = Window.partitionBy("id_l").orderBy(col("cos").desc, col("id_r"))
    val (lk, rk, joinKeys) = maxBlockSize match {
      case None => (l, r, Seq(blockCol))
      case Some(cap) =>
        val oversized = r.groupBy(blockCol).agg(count(lit(1)).as("__bn"))
          .filter(col("__bn") > cap)
          .select(col(blockCol), lit(true).as("__hot"))
        def bucketed(df: DataFrame, vec: String) =
          df.join(broadcast(oversized), Seq(blockCol), "left")
            .withColumn("__bucket",
              when(col("__hot"), signBucket(col(vec), subBucketDims)).otherwise(lit(0L)))
            .drop("__hot")
        (bucketed(l, "vec_l"), bucketed(r, "vec_r"), Seq(blockCol, "__bucket"))
    }
    // Plan dispatch (pairBudget): the window form materializes and sorts the
    // full candidate-pair stream — measured spill-bound at 1.6 B pairs (x64
    // SMOKE) — so above `pairBudget` estimated pairs the STREAMING top-k
    // plan runs instead: per-block bounded-heap scoring that never
    // materializes a pair row (identical results, see [[knnStreamingTopK]]).
    // The estimate is one metadata-sized job over the key columns only
    // (map-side-combined counts; at 100 TB a column-pruned key scan is the
    // cheap insurance against an unbounded pair sort). Long.MaxValue forces
    // the window form WITHOUT running the estimate; negative forces
    // streaming.
    val (estPairs, nKeys) =
      if (pairBudget == Long.MaxValue) (0L, 1L)
      else {
        val lCnt = lk.groupBy(joinKeys.map(col): _*).agg(count(lit(1)).as("__ln"))
        val rCnt = rk.groupBy(joinKeys.map(col): _*).agg(count(lit(1)).as("__rn"))
        val row = lCnt.join(rCnt, joinKeys)
          .agg(coalesce(sum(col("__ln") * col("__rn")), lit(0L)),
            count(lit(1))).head()
        (row.getLong(0), row.getLong(1))
      }
    if (estPairs > pairBudget || pairBudget < 0) {
      // auto-salt from the estimate job's key count: spread each block's
      // scoring over enough sub-groups to feed the cluster (~2 waves),
      // bounded so the per-task buffered right block stays the unit of
      // memory. An explicit `salt` > 1 overrides.
      val parallelism = lk.sparkSession.sparkContext.defaultParallelism
      val autoSalt = if (salt > 1) salt
        else math.max(1L, math.min(64L, 2L * parallelism / math.max(1L, nKeys))).toInt
      knnStreamingTopK(lk, rk, joinKeys, k, autoSalt)
    } else {
      // salt: the low-block-cardinality parallelism knob (Dedup.embeddingPairs
      // doc) — query side gets an id-hash salt, corpus side is replicated
      // `salt` ways, spreading each block's quadratic scoring across `salt`
      // tasks. The result is invariant: every (id_l, *) pair still meets, and
      // the rank window re-partitions on id_l afterwards regardless.
      // (Measured at x10/local[32]: salt hurts the WINDOW form — the SMJ's
      // replicated-side sort outweighs the parallelism gain when the pair
      // stream already fits; it pays on the streaming form, which is the
      // plan that runs when parallelism actually matters.)
      val (ls, rs, keys) =
        if (salt == 1) (lk, rk, joinKeys)
        else (
          lk.withColumn("__salt", pmod(xxhash64(col("id_l")), lit(salt)).cast("int")),
          rk.withColumn("__salt",
            explode(array((0 until salt).map(s => lit(s)): _*))),
          joinKeys :+ "__salt")
      ls.join(rs, keys)
        .filter(col("id_l") =!= col("id_r"))
        .withColumn("cos", graft.plans.VectorExpressions.cosinePrenormed(
          col("vec_l"), col("vec_r"), col("__nl"), col("__nr")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("id_l"), col("id_r"), col("cos"), col("rank"))
    }
  }

  /** The SCALE plan for [[knnJoin]]: per-block streaming top-k with a
    * bounded insertion heap — cogroup left/right on the (salted) block key,
    * buffer each group's RIGHT side once as primitive arrays, stream LEFT
    * rows against it keeping only the best k slots. No joined pair row is
    * ever materialized, no pair-stream sort, no window: task memory is one
    * right block + k slots, independent of the pair count that spill-bound
    * the window form at 1.6 B pairs (SMOKE x64).
    *
    * Result-identical to the window form by construction:
    *  - equi-join semantics: rows with any null join key never match
    *    (filtered before grouping);
    *  - the `id_l =!= id_r` filter: null ids drop on both sides, equality
    *    via the same comparator that orders ties;
    *  - cosine arithmetic: sequential dot, sqrt of sequential sum of
    *    squares computed ONCE per row, norm product, divide — the exact op
    *    order of the native expressions ([[graft.plans.VectorExpressions]]),
    *    bit-identical to an independent in-memory pass (KnnStreamingSpec;
    *    at x10 in SMOKE.md, round 16); try_divide's
    *    divisor==0 → null and null/mismatched/null-element arrays → null;
    *  - ordering: cos DESC NULLS LAST (NaN greatest, ±0.0 equal — Spark's
    *    normalized float ordering), ties by id_r ASC under Spark's binary
    *    string order (unsigned UTF-8 bytes, not UTF-16 chars).
    *
    * `salt` splits each group's LEFT side into `salt` sub-groups and
    * replicates the buffered right block per sub-group — parallelism for
    * corpora whose block count is below the cluster's core count, at the
    * cost of salt× replication of the (bounded) right blocks.
    */
  private[graft] def knnStreamingTopK(lk: DataFrame, rk: DataFrame,
      joinKeys: Seq[String], k: Int, salt: Int): DataFrame = {
    val spark = lk.sparkSession
    val idType = lk.schema("id_l").dataType
    require(rk.schema("id_r").dataType == idType,
      s"knnJoin id types differ: $idType vs ${rk.schema("id_r").dataType}")
    val keyCols = if (salt == 1) joinKeys else joinKeys :+ "__salt"
    def prepared(df: DataFrame, id: String, vec: String): DataFrame = {
      val base = df.filter(joinKeys.map(col(_).isNotNull).reduce(_ && _) &&
        col(id).isNotNull)
      val salted =
        if (salt == 1) base
        else if (id == "id_l")
          base.withColumn("__salt", pmod(xxhash64(col(id)), lit(salt)).cast("int"))
        else base.withColumn("__salt",
          explode(array((0 until salt).map(s => lit(s)): _*)))
      salted.select(struct(keyCols.map(col): _*).as("__k"), col(id),
        col(vec).cast(ArrayType(DoubleType)).as("__v"))
    }
    val lp = prepared(lk, "id_l", "vec_l")
    val rp = prepared(rk, "id_r", "vec_r")
    val keySchema = lp.schema("__k").dataType.asInstanceOf[StructType]
    val keyEnc = Encoders.row(keySchema)
    val outSchema = StructType(Seq(
      StructField("id_l", idType), StructField("id_r", idType),
      StructField("cos", DoubleType), StructField("rank", IntegerType)))
    val gl = lp.groupByKey((r: Row) => r.getStruct(0))(keyEnc)
    val gr = rp.groupByKey((r: Row) => r.getStruct(0))(keyEnc)
    gl.cogroup(gr) { (_, ls, rs) =>
      // buffer the right block ONCE: ids, vectors, norms (norm arithmetic
      // identical to L2Norm: sequential sum of squares, one sqrt)
      val rIds = new scala.collection.mutable.ArrayBuffer[Any]
      val rVecs = new scala.collection.mutable.ArrayBuffer[Array[Double]] // null = invalid
      val rNorms = new scala.collection.mutable.ArrayBuffer[Double]
      rs.foreach { row =>
        rIds += row.get(1)
        val v = toVec(row, 2)
        rVecs += v
        rNorms += (if (v == null) 0.0 else norm(v))
      }
      val n = rIds.length
      if (n == 0) Iterator.empty
      else ls.flatMap { lrow =>
        val lid = lrow.get(1)
        val lv = toVec(lrow, 2)
        val ln = if (lv == null) 0.0 else norm(lv)
        // bounded insertion top-k under (cos desc nulls-last, id asc)
        val tc = new Array[Double](k)
        val tNull = new Array[Boolean](k)
        val ti = new Array[Any](k)
        var m = 0
        var b = 0
        while (b < n) {
          val rid = rIds(b)
          if (compareIds(lid, rid) != 0) {
            val rv = rVecs(b)
            var cNull = false
            var c = 0.0
            if (lv == null || rv == null || lv.length != rv.length) cNull = true
            else {
              var dot = 0.0; var i = 0
              while (i < lv.length) { dot += lv(i) * rv(i); i += 1 }
              val div = ln * rNorms(b)
              if (div == 0.0) cNull = true // try_divide: /0 → null (±0.0)
              else c = dot / div
            }
            // candidate-before-slot comparator: negative = candidate wins
            @inline def cmpSlot(p: Int): Int =
              if (!cNull && tNull(p)) -1
              else if (cNull && !tNull(p)) 1
              else if (cNull && tNull(p)) compareIds(rid, ti(p))
              else {
                val d = java.lang.Double.compare(norm0(tc(p)), norm0(c))
                if (d != 0) d else compareIds(rid, ti(p))
              }
            var p = m
            while (p > 0 && cmpSlot(p - 1) < 0) p -= 1
            if (p < k) {
              var q = math.min(m, k - 1)
              while (q > p) {
                tc(q) = tc(q - 1); tNull(q) = tNull(q - 1); ti(q) = ti(q - 1)
                q -= 1
              }
              tc(p) = c; tNull(p) = cNull; ti(p) = rid
              if (m < k) m += 1
            }
          }
          b += 1
        }
        Iterator.range(0, m).map { r =>
          Row(lid, ti(r), if (tNull(r)) null else java.lang.Double.valueOf(tc(r)),
            java.lang.Integer.valueOf(r + 1))
        }
      }
    }(Encoders.row(outSchema))
      .toDF()
  }

  /** The STREAMING form of a block-quadratic THRESHOLD pair join
    * (Dedup.embeddingPairs' scale plan — same dispatch contract as
    * [[knnStreamingTopK]]): cogroup the two prepared sides on the (salted)
    * block key, buffer the b block once as primitive arrays, stream a rows
    * against it and emit (id_a, id_b, cos) for every pair with
    * id_a < id_b whose cosine passes the threshold. Each unordered pair's
    * dot product is computed ONCE (the join form materializes N² pair rows
    * and discards half before scoring) and no joined row is ever built.
    *
    * Result-identical to the join form: null join keys never match, null
    * ids drop (the `id_a < id_b` comparison), ids order under Spark's
    * binary collation ([[compareIds]]), cosine arithmetic is the prenormed
    * expressions' exact op order with try_divide's divisor==0 → null, and
    * the threshold filter keeps NaN (Spark comparison semantics: NaN is
    * greater than every number) while dropping null.
    *
    * Sides carry (joinKeys..., id_a|id_b, vec_a|vec_b, __na|__nb) — the
    * prepared frames Dedup.embeddingPairs builds (norms are recomputed
    * in-JVM from the vector; bit-identical to L2Norm, so the prepared norm
    * columns are simply unused here).
    */
  private[graft] def streamingThresholdPairs(a: DataFrame, b: DataFrame,
      joinKeys: Seq[String], threshold: Double, salt: Int): DataFrame = {
    val idType = a.schema("id_a").dataType
    require(b.schema("id_b").dataType == idType,
      s"pair id types differ: $idType vs ${b.schema("id_b").dataType}")
    val keyCols = if (salt == 1) joinKeys else joinKeys :+ "__salt"
    def prepared(df: DataFrame, id: String, vec: String): DataFrame = {
      val base = df.filter(joinKeys.map(col(_).isNotNull).reduce(_ && _) &&
        col(id).isNotNull)
      val salted =
        if (salt == 1) base
        else if (id == "id_a")
          base.withColumn("__salt", pmod(xxhash64(col(id)), lit(salt)).cast("int"))
        else base.withColumn("__salt",
          explode(array((0 until salt).map(s => lit(s)): _*)))
      salted.select(struct(keyCols.map(col): _*).as("__k"), col(id),
        col(vec).cast(ArrayType(DoubleType)).as("__v"))
    }
    val ap = prepared(a, "id_a", "vec_a")
    val bp = prepared(b, "id_b", "vec_b")
    val keySchema = ap.schema("__k").dataType.asInstanceOf[StructType]
    val keyEnc = Encoders.row(keySchema)
    val outSchema = StructType(Seq(
      StructField("id_a", idType), StructField("id_b", idType),
      StructField("cos", DoubleType)))
    val ga = ap.groupByKey((r: Row) => r.getStruct(0))(keyEnc)
    val gb = bp.groupByKey((r: Row) => r.getStruct(0))(keyEnc)
    ga.cogroup(gb) { (_, as, bs) =>
      val bIds = new scala.collection.mutable.ArrayBuffer[Any]
      val bVecs = new scala.collection.mutable.ArrayBuffer[Array[Double]]
      val bNorms = new scala.collection.mutable.ArrayBuffer[Double]
      bs.foreach { row =>
        bIds += row.get(1)
        val v = toVec(row, 2)
        bVecs += v
        bNorms += (if (v == null) 0.0 else norm(v))
      }
      val n = bIds.length
      if (n == 0) Iterator.empty
      else as.flatMap { arow =>
        val aid = arow.get(1)
        val av = toVec(arow, 2)
        val an = if (av == null) 0.0 else norm(av)
        Iterator.range(0, n).flatMap { j =>
          if (compareIds(aid, bIds(j)) >= 0) Iterator.empty
          else {
            val bv = bVecs(j)
            if (av == null || bv == null || av.length != bv.length)
              Iterator.empty // null cosine never passes the threshold
            else {
              var dot = 0.0; var i = 0
              while (i < av.length) { dot += av(i) * bv(i); i += 1 }
              val div = an * bNorms(j)
              if (div == 0.0) Iterator.empty // try_divide: /0 → null
              else {
                val c = dot / div
                // Spark comparison semantics: NaN >= x is TRUE
                if (c >= threshold || c.isNaN)
                  Iterator.single(Row(aid, bIds(j), c))
                else Iterator.empty
              }
            }
          }
        }
      }
    }(Encoders.row(outSchema))
      .toDF()
  }

  /** Vector at row ordinal `i` as a primitive array, or null when the value
    * is null or any element is null (the native expressions' null contract).
    */
  private[graft] def toVec(row: Row, i: Int): Array[Double] = {
    if (row.isNullAt(i)) return null
    val s = row.getSeq[Any](i)
    val out = new Array[Double](s.length)
    var j = 0
    val it = s.iterator
    while (it.hasNext) {
      val v = it.next()
      if (v == null) return null
      out(j) = v.asInstanceOf[Double]
      j += 1
    }
    out
  }

  /** Sequential sum of squares + sqrt — L2Norm's exact op order. */
  @inline private[graft] def norm(v: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    math.sqrt(s)
  }

  /** ±0.0 normalized for ordering (Spark's NormalizeFloatingNumbers). */
  @inline private[graft] def norm0(d: Double): Double = if (d == 0.0) 0.0 else d

  /** Spark's ordering/equality for the id types a knn join realistically
    * keys on. Strings compare as unsigned UTF-8 BYTES (Spark's binary
    * collation), not UTF-16 chars; floats normalize ±0.0 and put NaN
    * greatest; everything else is its external type's natural Comparable.
    */
  private[graft] def compareIds(a: Any, b: Any): Int = (a, b) match {
    case (x: String, y: String) =>
      val xa = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val ya = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val nn = math.min(xa.length, ya.length)
      var i = 0
      while (i < nn) {
        val c = (xa(i) & 0xff) - (ya(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      xa.length - ya.length
    case (x: java.lang.Double, y: java.lang.Double) =>
      java.lang.Double.compare(norm0(x), norm0(y))
    case (x: java.lang.Float, y: java.lang.Float) =>
      java.lang.Float.compare(
        (if (x == 0.0f) 0.0f else x.floatValue),
        (if (y == 0.0f) 0.0f else y.floatValue))
    case (x: Comparable[_], y) => x.asInstanceOf[Comparable[Any]].compareTo(y)
    case _ => throw new IllegalArgumentException(
      s"unsupported knn id type: ${a.getClass}")
  }
}
