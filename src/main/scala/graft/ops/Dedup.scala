package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._

/** Deduplication operators for large-scale training-data pipelines.
  *
  * All variants are shuffle-conscious: exact dedup is a single hash
  * aggregation; the near-dup family (MinHash-LSH / SimHash / n-gram Jaccard)
  * follows the inverted-index / banding pattern — candidate generation via an
  * equi-join on a short key (shingle, band signature, simhash band) so the
  * quadratic all-pairs comparison never materializes; only candidates within
  * a bucket are compared exactly. Every hash is the engine-portable
  * md5-derived 56-bit value so results are deterministic and reproducible
  * across engines.
  */
object Dedup {

  /** Exact dedup: keep the smallest id per distinct normalized text. One
    * hash shuffle on the md5 of the text (not the text itself — 16 bytes per
    * row over the wire instead of document bodies).
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), md5(col(textCol)).as("text_hash"))
      .groupBy("text_hash")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Normalized fingerprint dedup: lowercase + whitespace-collapse before
    * hashing, so trivially-reformatted copies collapse too. ONE definition of
    * the normalization, shared with the standalone fingerprint column.
    */
  def fingerprint(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
      graft.ops.TextAnalysis.fingerprint(col(textCol)).as("fingerprint"))

  /** Incremental / cross-corpus dedup: drop documents whose content already
    * appears in a REFERENCE corpus — the "dedup the new crawl against the
    * previous release" step an evolving training set runs on every refresh,
    * without re-clustering the union. `normalize = true` (default) matches
    * on the shared [[fingerprint]] normalization (lowercase +
    * whitespace-collapse), so trivially-reformatted recrawls still match;
    * `false` matches exact bytes. Null-text rows are never dropped (a null
    * fingerprint matches nothing), consistent with the other dedup stages.
    *
    * Scale shape: both sides reduce to (id, hash) / (hash) projections
    * before anything wide happens — the reference corpus ships only its
    * distinct 16-byte fingerprints into the semi-join (broadcast when the
    * reference is small, narrow hash-partitioned SMJ when it is another
    * 100 TB release — either way no document text ever shuffles), and the
    * matched ids anti-join back onto the unprojected input. Unlike
    * decontamination's gram explode, this is one hash per document per
    * side: the whole operator is two narrow joins.
    */
  def dedupAgainst(docs: DataFrame, idCol: String, textCol: String,
      ref: DataFrame, refTextCol: String,
      normalize: Boolean = true, bloomItems: Long = 0L): DataFrame = {
    val fp: Column => Column =
      if (normalize) graft.ops.TextAnalysis.fingerprint
      else md5(_)
    val refFps = ref
      .select(fp(col(refTextCol)).as("__fp"))
      .filter(col("__fp").isNotNull)
      .distinct()
    // with `bloomItems` > 0, a bloom prefilter (sized for that many
    // reference fingerprints at ~1% fpp) keeps the overwhelmingly-clean
    // majority of a recrawl out of the exact semi-join entirely: only
    // probe-flagged (id, fp) pairs reach the join, and false positives are
    // removed by the exact confirm — identical output, for the regime
    // where BOTH releases are 100 TB and the semi-join's hash exchange on
    // the docs side is the dominant cost. The fp hash is md5 hex; probing
    // on its first 56 bits keeps filter arithmetic in longs.
    val probed =
      if (bloomItems <= 0) docs.select(col(idCol), fp(col(textCol)).as("__fp"))
      else {
        val fp56 = (c: Column) => conv(substring(c, 1, 14), 16, 10).cast("long")
        val bloomRow = refFps
          .agg(GraftSqlBridge.bloomFilterAgg(fp56(col("__fp")), bloomItems,
            math.max(bloomItems * Decontaminate.AutoBitsPerGram, 1L << 10))
            .as("__bf"))
          .head()
        if (bloomRow.isNullAt(0)) return docs
        val bloom = lit(bloomRow.getAs[Array[Byte]](0))
        docs.select(col(idCol), fp(col(textCol)).as("__fp"))
          .filter(GraftSqlBridge.mightContain(bloom, fp56(col("__fp"))))
      }
    val dupIds = probed
      .join(refFps, Seq("__fp"), "left_semi")
      .select(idCol)
    docs.join(dupIds, Seq(idCol), "left_anti")
  }

  /** Per-document shingle-hash arrays, assembled entirely in-row (zip_with /
    * slice in argument position, so the token array is built once per row):
    * tokens → word n-grams → 56-bit portable hashes. No window, no shuffle —
    * the whole computation is one codegen'd projection, which is both the
    * low-overhead shape at bench scale and the scalable shape (narrow
    * transformation; parallelism = input partitions, nothing moves).
    *
    * `distinct` dedups shingle STRINGS within the doc before hashing (set
    * semantics for Jaccard/MinHash/SimHash, and hash collisions keep
    * oracle-exact counts); the positional form keeps duplicates + order
    * (winnowing). Docs with fewer than n words are dropped, matching the
    * exploded forms.
    */
  private def hashArrays(docs: DataFrame, idCol: String, textCol: String,
      n: Int, distinct: Boolean): DataFrame =
    docs
      .filter(graft.plans.VectorExpressions.tokenCount(col(textCol)) >= n)
      // one codegen'd pass from the TEXT BYTES to the hash array
      // (graft.plans.ShingleHashText): token bytes stream into the digest,
      // so the regex tokenizer, the token array, the shingle strings, and
      // the zip_with/array_distinct intermediates of the composable form
      // never materialize — the gram stream is evaluated twice by design
      // (count side + probe side) and each evaluation is one byte pass
      .select(col(idCol),
        graft.plans.VectorExpressions.shingleHash56Text(col(textCol), n, distinct)
          .as("__hs"))

  /** Winnowing document fingerprints (Schleimer et al.'s rolling-hash
    * sketch): hash every word n-gram, slide a window of `w` hashes, keep the
    * minimum of each window, dedup. Guarantees any shared run of ≥ w+n-1
    * words between two documents shares a fingerprint.
    *
    * The sliding-window min is `array_min(slice(hs, i, w))` over the
    * MATERIALIZED hash-array attribute — each shingle is md5-hashed exactly
    * once (a formulation that re-derives the array inside the per-element
    * lambda re-evaluates the hash chain per window: O(m²) md5 calls, measured
    * 35× slower in round 1), and each window min is O(w) long comparisons.
    */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, w: Int = 4): DataFrame = {
    val hs = hashArrays(docs, idCol, textCol, n, distinct = false)
    // one codegen'd pass over the hash array (graft.plans.WinnowMins) —
    // replaces a per-window slice allocation + interpreted array_min lambda
    val wins = graft.plans.VectorExpressions.winnowMins(col("__hs"), w)
    hs.select(col(idCol), explode(array_distinct(wins)).as("fingerprint"))
  }

  /** [[winnowFingerprints]]'s sketch as an in-row COLUMN (the distinct window
    * minima as an array) for column-appending pipeline stages — a pure
    * projection, no explode/shuffle. Docs with fewer than n words yield null
    * (the exploded form drops them).
    */
  def winnowFingerprintArray(text: Column, n: Int, w: Int): Column =
    when(graft.plans.VectorExpressions.tokenCount(text) >= n,
      array_distinct(graft.plans.VectorExpressions.winnowMins(
        graft.plans.VectorExpressions.shingleHash56Text(text, n, distinct = false), w)))

  /** Word n-gram shingles with their start position, one row per shingle:
    * posexplode the token array once, then assemble each shingle from window
    * `lead`s — tokenization happens exactly once per document (the
    * array-lambda formulation re-tokenizes per window, O(words²) per doc).
    */
  def positionalShingles(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val words = docs.select(col(idCol),
      posexplode(tokens(col(textCol))).as(Seq("pos", "__w0")))
    val w = Window.partitionBy(idCol).orderBy("pos")
    val withLeads = (1 until n).foldLeft(words) { (df, k) =>
      df.withColumn(s"__w$k", lead(col("__w0"), k).over(w))
    }
    withLeads
      .filter(col(s"__w${n - 1}").isNotNull) // windows that run past the end
      .select(col(idCol), col("pos"),
        concat_ws(" ", (0 until n).map(k => col(s"__w$k")): _*).as("shingle"))
  }

  /** Distinct word n-gram shingles per document: (id, shingle) exploded. */
  def shingleTable(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    positionalShingles(docs, idCol, textCol, n).select(col(idCol), col("shingle")).distinct()

  /** N-gram Jaccard near-dup pairs via the inverted-index join: candidate
    * pairs share at least one shingle; Jaccard is computed from shared /
    * distinct counts. Emits (id_a < id_b, jaccard) above `threshold`.
    *
    * Without `maxDf`, the per-doc shingle-set size rides along with each
    * exploded shingle row (computed in-row from the array — no separate
    * sizes aggregation or join), so the whole query is one join + one
    * aggregation: join on the 56-bit hash (8-byte fixed-width shuffle key
    * instead of variable strings), then count shared shingles per pair.
    *
    * `maxDf` is the hot-shingle guard this operator NEEDS at web scale: a
    * shingle present in d documents fans out into d² candidate rows, and
    * boilerplate shingles (cookie banners, license headers) make that a
    * skewed-key shuffle bomb. With `maxDf = Some(m)`, shingles whose
    * document frequency exceeds m are dropped and Jaccard is computed over
    * the pruned sets (set sizes recomputed after pruning, so the semantics
    * are "similarity over non-boilerplate shingles"). The guarded plan is
    * the grouped inverted index: ONE groupBy collects each shingle's
    * posting list, the guard is a free `size(list) <= m` filter on the
    * grouped row, and candidate pairs are emitted in-place from each sorted
    * posting list by the native [[graft.plans.SortedPairs]] expression —
    * the exploded shingle table is shuffled once instead of twice (the
    * round-5 checkpoint + df-count + broadcast-anti-join + self-join shape
    * was 2.4-2.8 s at sf0.1; the grouped shape measured 2.1-2.3 s by paired
    * BenchOne min-of-5 in both orders, 1.54 s after the ShingleHash56
    * native hashing landed, and removes two whole stages). Per-
    * group work is bounded by m (≤ m-long lists, ≤ m²/2 emitted pairs), so
    * no task skews. The grouped table feeds three consumers (pairs + two
    * size joins) WITHOUT a checkpoint: the three groupBy exchanges
    * canonicalize identically and AQE's stage reuse materializes the
    * shuffle once — verified at runtime (2 ReusedExchange nodes in the
    * final adaptive plan), so documents are scanned exactly once.
    */
  def ngramJaccardPairs(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5, maxDf: Option[Int] = None): DataFrame = {
    // hash BEFORE the explode, in the one-pass native expression (tokens →
    // hash array, graft.plans.ShingleHash56): the Generate then fans out
    // 8-byte longs instead of shingle strings, and the exploded table is
    // (id, hash) — 16 bytes/shingle on the wire, never documents.
    def exploded(withSize: Boolean): DataFrame = {
      val base = hashArrays(docs, idCol, textCol, n, distinct = true)
      if (withSize) // per-doc distinct-set size rides along in-row
        base.select(col(idCol), size(col("__hs")).as("__n"),
          explode(col("__hs")).as("shingle"))
      else
        base.select(col(idCol), explode(col("__hs")).as("shingle"))
    }
    val jaccard =
      col("n_shared").cast("double") / (col("n_a") + col("n_b") - col("n_shared"))
    maxDf match {
      case None =>
        // Unguarded inverted-index self-join: each doc's set size rides along
        // in-row (computed from the array before the explode — no separate
        // sizes aggregation). No checkpoint: the two join sides canonicalize
        // to the same shuffle exchange, so ReuseExchange materializes the
        // shingle chain once and the second side reads the shuffle files.
        val sh = exploded(withSize = true)
        val a = sh.toDF("id_a", "n_a", "shingle")
        val b = sh.toDF("id_b", "n_b", "shingle")
        a.join(b, Seq("shingle"))
          .filter(col("id_a") < col("id_b"))
          .groupBy("id_a", "id_b", "n_a", "n_b").agg(count(lit(1)).as("n_shared"))
          .withColumn("jaccard", jaccard)
          .filter(col("jaccard") >= threshold)
          .select("id_a", "id_b", "jaccard")
      case Some(m) =>
        // Guarded path: ONE aggregation groups each shingle's posting list,
        // the hot-shingle guard becomes a free `size <= m` filter on the
        // grouped row (no df count, no broadcast anti-join), and candidate
        // pairs are emitted in-place from each sorted posting list — the
        // exploded table is shuffled once (the groupBy) instead of twice
        // (both self-join sides). Emitted pair volume is identical to the
        // join's (Σ df²/2, bounded by m²/2 per shingle), but generated from
        // grouped rows instead of a shuffle-join. Set sizes are recomputed
        // from surviving posting lists (including singletons), preserving
        // "similarity over non-boilerplate shingles" semantics exactly.
        val grouped = exploded(withSize = false)
          .groupBy("shingle")
          .agg(collect_list(col(idCol)).as("__ids"))
          .filter(size(col("__ids")) <= m)
        val sizes = grouped.select(explode(col("__ids")).as("__id"))
          .groupBy("__id").agg(count(lit(1)).as("__n"))
        // native one-pass sorted-combinations emission (graft.plans
        // .SortedPairs) — the transform/slice/flatten pyramid re-enters
        // interpreted evaluation per element
        grouped.filter(size(col("__ids")) >= 2)
          .select(explode(graft.plans.VectorExpressions.sortedPairs(col("__ids"))).as("__p"))
          .select(col("__p.id_a").as("id_a"), col("__p.id_b").as("id_b"))
          .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
          .join(sizes.toDF("id_a", "n_a"), Seq("id_a"))
          .join(sizes.toDF("id_b", "n_b"), Seq("id_b"))
          .withColumn("jaccard", jaccard)
          .filter(col("jaccard") >= threshold)
          .select("id_a", "id_b", "jaccard")
    }
  }

  /** MinHash signatures in wide form: one row per doc, one `mh_i` column per
    * permutation, each computed as an in-row `aggregate` fold over the
    * doc's shingle-hash array — the signature stage does zero shuffles (the
    * exploded groupBy layout shuffles |shingles| rows; this shuffles
    * nothing).
    */
  def minhashSignatures(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numPerms: Int = 32, seed: Long = 42L): DataFrame = {
    val hs = hashArrays(docs, idCol, textCol, n, distinct = true)
    // ONE codegen'd pass over the hash array computes all numPerms minima
    // (graft.plans.MinHashSignatures) — the previous numPerms separate
    // `aggregate` folds each re-traversed the array through an interpreted
    // lambda; identical arithmetic, oracle-locked
    val sig = graft.plans.VectorExpressions.minhashSig(
      col("__hs"), hashParams(numPerms, seed))
    hs.select(col(idCol), sig.as("__sig"))
      .select((col(idCol) +:
        (0 until numPerms).map(i => col("__sig").getItem(i).as(s"mh_$i"))): _*)
  }

  /** Band-bucket candidate pairs with the hot-bucket guard shared by the
    * MinHash and SimHash band joins. A banded self-join fans a bucket of m
    * rows into m² candidate rows through one join key, so a corpus where a
    * million near-identical templated documents share every band signature
    * degenerates exactly like the hot-shingle case `ngramJaccardPairs`
    * guards with `maxDf` — but pruning is the wrong guard here: the hot
    * bucket's members are precisely the near-dups the query exists to find.
    * Instead, an oversized bucket emits a CONSECUTIVE CHAIN — members sorted
    * by their FULL sketch (`chainOrderCol`, e.g. the complete signature),
    * tie-broken by id, each linked to its predecessor: m−1 pairs instead of
    * m·(m−1)/2. The sketch-sorted order puts identical-sketch documents in
    * contiguous runs, so every group of true copies inside the bucket stays
    * internally chained (its pairs pass the downstream similarity filter and
    * the group survives duplicate-cluster resolution, [[resolveClusters]])
    * even when a bucket MIXES groups; only cross-group chain edges fall to
    * the filter. The guarantee is therefore per identical-sketch run —
    * near-identical (not byte-identical) members sort adjacently only
    * best-effort — and the pair LIST is a spanning subset rather than all
    * pairs (a pair can also still surface from any other band bucket it
    * shares). Buckets within the cap keep exact all-pairs semantics. The
    * hot-bucket list is a map-side-combined count, broadcast to both uses;
    * chain members pass through ONE window sort per bucket — linear, one
    * task per hot bucket.
    *
    * `banded` must carry (`idCol`, `carry`, bucket key columns,
    * `chainOrderCol`); emitted pairs carry (`id_a` < `id_b`, `<carry>_a`,
    * `<carry>_b`) when `carry` is set, deduplicated across buckets.
    */
  private[graft] def bandedCandidates(banded: DataFrame, idCol: String,
      bucketKeys: Seq[String], carry: Option[String],
      maxBucket: Option[Int], chainOrderCol: Option[String] = None): DataFrame = {
    val keyCols = bucketKeys.map(col)
    val carryCols = carry.toSeq
    def pairs(df: DataFrame): DataFrame = {
      // rename by NAME: a USING-style join (the anti-join below) moves its
      // key columns first, so a positional rename would mislabel the sides
      def side(sfx: String) = df.select(
        (col(idCol).as(s"id_$sfx") +: carryCols.map(c => col(c).as(s"${c}_$sfx"))) ++
          keyCols: _*)
      side("a").join(side("b"), bucketKeys)
        .filter(col("id_a") < col("id_b"))
        .select(("id_a" +: "id_b" +: carryCols.flatMap(c => Seq(c + "_a", c + "_b"))).map(col): _*)
    }
    val cand = maxBucket match {
      case None => pairs(banded)
      case Some(cap) =>
        require(cap >= 2, s"maxBucket must be >= 2, got $cap")
        val hot = banded.groupBy(keyCols: _*).agg(count(lit(1)).as("__bn"))
          .filter(col("__bn") > cap).select(keyCols: _*)
        val cold = banded.join(broadcast(hot), bucketKeys, "left_anti")
        val orderCols = chainOrderCol.map(col).toSeq :+ col(idCol)
        val w = Window.partitionBy(keyCols: _*).orderBy(orderCols: _*)
        val linked = banded.join(broadcast(hot), bucketKeys, "left_semi")
          .select(Seq(lag(col(idCol), 1).over(w).as("__pid"), col(idCol).as("__cid")) ++
            carryCols.flatMap(c =>
              Seq(lag(col(c), 1).over(w).as(s"__p_$c"), col(c).as(s"__c_$c"))): _*)
          .filter(col("__pid").isNotNull)
        // the sketch-sorted chain order is not the id order: normalize to
        // id_a < id_b (swapping carries in lockstep) so chain and cold pairs
        // deduplicate against each other and downstream `<` conventions hold
        val aIsPrev = col("__pid") < col("__cid")
        val chain = linked.select(Seq(
          when(aIsPrev, col("__pid")).otherwise(col("__cid")).as("id_a"),
          when(aIsPrev, col("__cid")).otherwise(col("__pid")).as("id_b")) ++
          carryCols.flatMap(c => Seq(
            when(aIsPrev, col(s"__p_$c")).otherwise(col(s"__c_$c")).as(c + "_a"),
            when(aIsPrev, col(s"__c_$c")).otherwise(col(s"__p_$c")).as(c + "_b"))): _*)
        pairs(cold).unionByName(chain)
    }
    cand.distinct()
  }

  /** MinHash-LSH near-dup pairs: band the signature (numPerms = bands ×
    * rowsPerBand), bucket-join on (band, band signature), then estimate
    * Jaccard as the fraction of matching minhashes among candidates.
    * Candidate generation explodes only (doc, band) — `bands` rows per doc —
    * and the Jaccard estimate is pure column arithmetic on two wide rows.
    * `maxBucket` is the hot-bucket chain guard (see [[bandedCandidates]]).
    */
  def minhashLshPairs(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
      threshold: Double = 0.5, seed: Long = 42L,
      maxBucket: Option[Int] = None): DataFrame = {
    val numPerms = bands * rowsPerBand
    val sigs = minhashSignatures(docs, idCol, textCol, n, numPerms, seed).localCheckpoint()
    val bandStructs = (0 until bands).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"mh_$i"))
      struct(lit(b).as("band"), md5(concat_ws(",", cols: _*)).as("band_sig"))
    }
    // __sk: the full signature rendered as a string — the hot-bucket chain's
    // sort key (identical signatures chain contiguously); engine-portable
    // (matches SQL string_agg over the same decimal renderings)
    val skCol = concat_ws(",", (0 until numPerms).map(i => col(s"mh_$i")): _*)
    val banded = sigs.select(col(idCol), skCol.as("__sk"),
        explode(array(bandStructs: _*)).as("b"))
      .select(col(idCol), col("__sk"), col("b.band").as("band"),
        col("b.band_sig").as("band_sig"))
    val cand = bandedCandidates(banded, idCol, Seq("band", "band_sig"), None,
      maxBucket, chainOrderCol = Some("__sk"))
    val sigsA = sigs.toDF(("id_a" +: (0 until numPerms).map(i => s"a_$i")): _*)
    val sigsB = sigs.toDF(("id_b" +: (0 until numPerms).map(i => s"b_$i")): _*)
    val matches = (0 until numPerms)
      .map(i => when(col(s"a_$i") === col(s"b_$i"), 1).otherwise(0))
      .reduce(_ + _)
    cand.join(sigsA, Seq("id_a")).join(sigsB, Seq("id_b"))
      .withColumn("est_jaccard", matches.cast("double") / numPerms)
      .filter(col("est_jaccard") >= threshold)
      .select("id_a", "id_b", "est_jaccard")
  }

  /** SimHash values: per-bit weighted majority over shingle hashes (bits of
    * the portable hash), packed into a `numBits`-bit long. Each bit's
    * majority sum is an in-row fold over the doc's hash array — the whole
    * sketch is one shuffle-free projection.
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numBits: Int = 32): DataFrame = {
    val hs = hashArrays(docs, idCol, textCol, n, distinct = true)
    // one codegen'd pass computes every bit's majority sum and packs
    // (graft.plans.SimHashPack) — replaces numBits interpreted folds
    hs.select(col(idCol),
      graft.plans.VectorExpressions.simhashPack(col("__hs"), numBits).as("simhash"))
  }

  /** SimHash near-dup pairs: band the simhash into `bands` bit-groups; pairs
    * sharing any band are candidates; keep those within `maxHamming`.
    * `maxBucket` is the hot-bucket chain guard (see [[bandedCandidates]]).
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numBits: Int = 32, bands: Int = 4, maxHamming: Int = 3,
      maxBucket: Option[Int] = None): DataFrame = {
    // a remainder would leave the top numBits%bands bits out of every band —
    // silently missed near-dup pairs; and 64-bit bands would wrap the mask
    // shift to 0, degenerating the band join to the full cross product
    require(bands > 0, s"bands must be positive, got $bands")
    require(numBits % bands == 0,
      s"bands ($bands) must evenly divide numBits ($numBits)")
    require(numBits / bands < 64, "band width must be < 64 bits")
    // The chain guard assumes buckets only go HOT from mass duplication. A
    // simhash band key is just numBits/bands bits; with narrow keys (e.g.
    // the 32/4 default's 8 bits = 256 values) every bucket of a large corpus
    // saturates regardless of duplication, and chaining then links unrelated
    // documents whose pairs the hamming filter discards — silent recall
    // collapse, the opposite of a guard. Demand keys wide enough that
    // saturation needs ~65M+ docs per band; beyond that, MinHash-LSH's
    // 128-bit band signatures are the right tool.
    maxBucket.foreach { _ =>
      require(numBits / bands >= 16,
        s"maxBucket needs >=16-bit band keys (got ${numBits / bands}-bit: " +
          s"numBits=$numBits / bands=$bands); use numBits=64 with bands<=4, " +
          "or MinHash-LSH for narrow-band configurations")
    }
    // cache: the per-doc simhash table is tiny and consumed by both join sides
    val sh = simhash(docs, idCol, textCol, n, numBits).localCheckpoint()
    val bandBits = numBits / bands
    val mask = (1L << bandBits) - 1
    val banded = sh.select(col(idCol), col("simhash"),
      explode(array((0 until bands).map(i =>
        struct(lit(i).as("band"),
          shiftright(col("simhash"), i * bandBits).bitwiseAND(mask).as("key"))): _*)).as("b"))
      .select(col(idCol), col("simhash"), col("b.band"), col("b.key"))
    val cand = bandedCandidates(banded, idCol, Seq("band", "key"),
      Some("simhash"), maxBucket, chainOrderCol = Some("simhash"))
    cand.withColumn("hamming",
        bit_count(col("simhash_a").bitwiseXOR(col("simhash_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Resolve near-dup pairs into duplicate clusters: each id maps to the
    * minimum id reachable through the pair graph (connected components via
    * min-label propagation WITH pointer jumping — each round a node takes
    * the min over its neighbors' labels, then follows that label one more
    * hop through the label table itself (`label ← label[label]`). The extra
    * hop halves remaining path lengths, so rounds needed is O(log diameter)
    * instead of O(diameter) — a long near-dup chain of 1000 docs resolves in
    * ~10 rounds, not 1000 full-edge shuffles.
    *
    * Convergence is exact for ANY id type: each round carries the previous
    * label alongside the new one and counts changed rows on the materialized
    * frame (a numeric-sum metric silently null-casts string ids and declares
    * convergence after one round — under-merged clusters).
    *
    * Storage contract: each round's label table is `localCheckpoint`ed and
    * the PREVIOUS round's blocks are unpersisted explicitly as soon as the
    * new round is materialized — peak executor storage is two label copies
    * plus the edge table, independent of round count. localCheckpoint
    * blocks are non-replicated and lineage is truncated: losing an executor
    * (or a dynamic-allocation decommission) mid-loop fails the job, which
    * then simply re-runs — the deterministic-batch trade-off documented on
    * [[graft.functions.GraftFunctions.withGlobalRowNumber]]. Under
    * `spark.dynamicAllocation.enabled` prefer
    * `spark.dynamicAllocation.cachedExecutorIdleTimeout=infinity` (the
    * default) so executors holding these blocks are not reaped mid-loop.
    */
  def resolveClusters(pairs: DataFrame, maxIters: Int = 25,
      smallGraphEdges: Int = 500000): DataFrame =
    resolveClustersStats(pairs, maxIters, smallGraphEdges)._1

  /** [[resolveClusters]] plus the number of propagation rounds it ran — the
    * observable for the O(log diameter) pointer-jumping claim (DedupSpec
    * bounds rounds on known-diameter graphs; SMOKE.md "Connected components
    * at 10M nodes" has the scale numbers). The fast path reports 0 rounds.
    *
    * Small-graph fast path: pair graphs are usually tiny next to the corpus
    * that produced them (near-dup edges, not documents), while the
    * distributed loop pays a fixed floor of several jobs per round
    * regardless of size. A `limit(n+1)` probe collects the edge list ONCE;
    * when it fits `smallGraphEdges` (metadata-sized by declaration, the
    * same category as centroid/offset collects elsewhere), a driver-side
    * min-root union-find resolves the components in milliseconds with
    * IDENTICAL semantics (the root kept at every union is the smaller
    * label, so each final root is its component's minimum). Larger graphs
    * take the distributed pointer-jumping loop below; the probe cost is
    * bounded by the limit's early exit. Pass `smallGraphEdges = 0` to force
    * the distributed path.
    */
  private[graft] def resolveClustersStats(
      pairs: DataFrame, maxIters: Int = 25,
      smallGraphEdges: Int = 500000): (DataFrame, Int) = {
    if (smallGraphEdges > 0) {
      val probe = pairs.select(col("id_a"), col("id_b"))
        .limit(smallGraphEdges + 1).collect()
      if (probe.length <= smallGraphEdges) {
        val idType = pairs.schema("id_a").dataType
        val parent = new java.util.HashMap[Any, Any]()
        def find(x: Any): Any = {
          var r = x
          while (parent.get(r) != r) r = parent.get(r)
          var c = x // path compression
          while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
          r
        }
        @inline def lt(a: Any, b: Any): Boolean =
          a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
        probe.foreach { row =>
          val a = row.get(0); val b = row.get(1)
          if (a != null && b != null) {
            if (!parent.containsKey(a)) parent.put(a, a)
            if (!parent.containsKey(b)) parent.put(b, b)
            val ra = find(a); val rb = find(b)
            if (ra != rb) { if (lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb) }
          }
        }
        val rows = new java.util.ArrayList[org.apache.spark.sql.Row](parent.size())
        val it = parent.keySet().iterator()
        while (it.hasNext) { val id = it.next(); rows.add(
          org.apache.spark.sql.Row(id, find(id))) }
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", idType),
          org.apache.spark.sql.types.StructField("cluster_id", idType)))
        return (pairs.sparkSession.createDataFrame(rows, schema), 0)
      }
    }
    // pre-partition on the lookup key and materialize once: localCheckpoint
    // preserves outputPartitioning, so the per-round join against `edges`
    // never re-shuffles the edge table (ContextCleaner frees the blocks when
    // the frame is GC'd, unlike cache)
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct().repartition(col("dst")).localCheckpoint()
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("cluster_id", col("id"))
      .localCheckpoint()
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      // hop 1: min over neighbors' labels (the propagation step)
      val neighborMin = edges
        .join(labels.select(col("id").as("dst"), col("cluster_id").as("__nl")), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("__nl")).as("__nmin"))
      val prop = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("cluster_id").as("__old"),
          least(col("cluster_id"), coalesce(col("__nmin"), col("cluster_id")))
            .as("__mid"))
      // hop 2 (pointer jump): follow the new label through the previous
      // round's label table — labels only decrease, so label[label] ≤ label
      val jumpedPlan = prop.join(
          labels.select(col("id").as("__jid"), col("cluster_id").as("__jl")),
          col("__mid") === col("__jid"), "left")
        .select(col("id"), col("__old"),
          least(col("__mid"), coalesce(col("__jl"), col("__mid"))).as("cluster_id"))
      // ONE job per round: materialize the new labels AND count changed
      // rows as they stream by (a separate convergence scan over the
      // checkpointed blocks was a whole extra job per round)
      val (jumped, changed) = org.apache.spark.sql.GraftSqlBridge
        .localCheckpointWithDiffCount(jumpedPlan, "cluster_id", "__old")
      converged = changed == 0
      // the new round is materialized — free the previous round's blocks now
      // instead of waiting for a driver GC + ContextCleaner pass
      org.apache.spark.sql.GraftSqlBridge.unpersistCheckpoint(labels)
      labels = jumped.drop("__old")
      i += 1
    }
    // silent truncation would report one true cluster as several — refuse
    if (!converged) throw new IllegalStateException(
      s"resolveClusters did not converge in $maxIters rounds (cluster diameter " +
        "exceeds maxIters); raise maxIters")
    // the result is checkpointed and lineage-free; the edge table is no
    // longer reachable from it
    org.apache.spark.sql.GraftSqlBridge.unpersistCheckpoint(edges)
    (labels, i)
  }

  /** Embedding-cosine near-dup pairs, blocked by a coarse partition column
    * (cluster/label/bucket) so the cross join stays within blocks. For
    * unblocked data pass a constant column (exact but quadratic) or an LSH
    * bucket from `Similarity.signBucket`.
    *
    * `maxBlock` is this operator's hot-block guard (the same skew family as
    * ngram `maxDf` / band `maxBucket` / knn `maxBlockSize`): a block of d
    * rows fans into d² candidates through one join key, so one hot label
    * degenerates the whole query at scale. With `Some(cap)`, blocks whose
    * size exceeds the cap are sub-bucketed by sign-LSH over
    * `subBucketDims` on BOTH join sides (join key becomes (block, bucket),
    * expected fan-out cut ~2^dims). Results stay exact for every block
    * within the cap; oversized blocks find pairs within the sub-bucket —
    * near-identical vectors (the cos ≥ threshold targets of this operator)
    * agree on coordinate signs almost everywhere, so true near-dups
    * co-bucket, the same exactness trade `Similarity.knnJoin` makes. The
    * oversized-block list is a map-side-combined count broadcast to both
    * sides: no extra shuffle of the vectors.
    *
    * `salt` is the LOW-BLOCK-CARDINALITY parallelism knob: the pair join
    * hash-partitions on the block key, so a corpus with fewer blocks than
    * the cluster has cores runs the quadratic stage on #blocks tasks no
    * matter the cluster size (block cardinality is a data property, not a
    * scale property — 10 labels stay 10 labels at 100 TB). With `salt = S`,
    * the a-side gets a deterministic id-hash salt and the b-side is
    * replicated S ways (join key gains `__salt`), spreading each block's
    * pair work across S tasks for an S× linear replication of one side —
    * negligible next to the quadratic pair stream it parallelizes. The
    * pair SET is unchanged. Leave at 1 when block cardinality already
    * exceeds the cluster's parallelism.
    *
    * Per-pair cost: norms are computed ONCE per row before the join
    * ([[graft.plans.VectorExpressions.cosinePrenormed]] — bit-identical
    * arithmetic to `cosine`), so the per-pair loop is one fused dot pass
    * instead of dot + two norm passes.
    */
  def embeddingPairs(
      embs: DataFrame, idCol: String, vecCol: String, blockCol: Column,
      threshold: Double = 0.95, maxBlock: Option[Int] = None,
      subBucketDims: Seq[Int] = 0 until 8, salt: Int = 1,
      pairBudget: Long = 2000000L): DataFrame = {
    require(salt >= 1, s"salt must be >= 1, got $salt")
    val e = embs.select(col(idCol), col(vecCol), blockCol.as("__block"),
      graft.plans.VectorExpressions.l2norm(col(vecCol)).as("__nrm"))
    val (a, b, joinKeys) = maxBlock match {
      case None =>
        (e.toDF("id_a", "vec_a", "__block", "__na"),
          e.toDF("id_b", "vec_b", "__block", "__nb"),
          Seq("__block"))
      case Some(cap) =>
        val oversized = e.groupBy("__block").agg(count(lit(1)).as("__bn"))
          .filter(col("__bn") > cap)
          .select(col("__block"), lit(true).as("__hot"))
        val bucketed = e.join(broadcast(oversized), Seq("__block"), "left")
          .withColumn("__bucket", when(col("__hot"),
            graft.ops.Similarity.signBucket(col(vecCol), subBucketDims)).otherwise(lit(0L)))
          .drop("__hot")
        def side(p: String) = bucketed.select(col("__block"), col("__bucket"),
          col(idCol).as(s"id_$p"), col(vecCol).as(s"vec_$p"),
          col("__nrm").as(s"__n$p"))
        (side("a"), side("b"), Seq("__block", "__bucket"))
    }
    // Plan dispatch, same contract as Similarity.knnJoin: above `pairBudget`
    // estimated pairs (one metadata-sized key-count job) the STREAMING
    // form runs — cogroup per block, each unordered pair's cosine computed
    // ONCE (the join form materializes N² pair rows and filters half away
    // before scoring), no SortMergeJoin row copies. Long.MaxValue forces
    // the join form without the estimate; negative forces streaming.
    val (estPairs, nKeys) =
      if (pairBudget == Long.MaxValue) (0L, 1L)
      else {
        val cnt = a.groupBy(joinKeys.map(col): _*).agg(count(lit(1)).as("__an"))
        val row = cnt.agg(coalesce(sum(col("__an") * col("__an")), lit(0L)),
          count(lit(1))).head()
        (row.getLong(0), row.getLong(1))
      }
    if (estPairs > pairBudget || pairBudget < 0) {
      val parallelism = embs.sparkSession.sparkContext.defaultParallelism
      val autoSalt = if (salt > 1) salt
        else math.max(1L, math.min(64L, 2L * parallelism / math.max(1L, nKeys))).toInt
      Similarity.streamingThresholdPairs(a, b, joinKeys, threshold, autoSalt)
    } else {
      val (as, bs, keys) =
        if (salt == 1) (a, b, joinKeys)
        else (
          a.withColumn("__salt", pmod(xxhash64(col("id_a")), lit(salt)).cast("int")),
          b.withColumn("__salt",
            explode(array((0 until salt).map(s => lit(s)): _*))),
          joinKeys :+ "__salt")
      as.join(bs, keys)
        .filter(col("id_a") < col("id_b"))
        .withColumn("cos", graft.plans.VectorExpressions.cosinePrenormed(
          col("vec_a"), col("vec_b"), col("__na"), col("__nb")))
        .filter(col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    }
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup of an
    * embedded corpus — cluster the embeddings coarsely, then inside each
    * cluster drop every member of a cosine-near-duplicate group except its
    * representative. The paper keeps a random exemplar; here the surviving
    * exemplar is the cluster-min id (via [[resolveClusters]]), the same
    * deterministic representative rule every text-dedup stage uses.
    *
    * `clusterCol` names a precomputed coarse-cluster column (a topic label,
    * an LSH bucket). When absent — the common case for an unlabeled corpus —
    * cells come from [[Similarity.kmeansAssign]] (`k` deterministic
    * hash-seeded cells, `iters` Lloyd rounds). Exact-duplicate embeddings
    * always co-cluster after one Lloyd round (identical vectors score
    * identical cell cosines), so true duplicates cannot be split across
    * cells; near-duplicates can straddle a cell boundary — the recall trade
    * that makes SemDeDup linear-per-cell instead of corpus-quadratic.
    *
    * Scale shape: kmeans is `iters` scans with only a k×dim centroid
    * aggregation shuffled; pair generation is [[embeddingPairs]] (equi-join
    * on the cell key, per-cell quadratic bounded by `maxBlock` sub-bucketing
    * at ~N/k rows per cell when k ~ sqrt(N)); resolution is log-diameter
    * pointer jumping. Nothing corpus-quadratic, nothing driver-sized.
    */
  def semDedup(embs: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, clusterCol: Option[String] = None,
      k: Int = 64, iters: Int = 1, maxBlock: Option[Int] = None): DataFrame = {
    val (clustered, cell) = clusterCol match {
      case Some(c) =>
        require(embs.columns.contains(c), s"cluster column `$c` not in input")
        (embs, c)
      case None =>
        (Similarity.kmeansAssign(embs, idCol, vecCol, k, iters), "__cell")
    }
    val pairs = embeddingPairs(clustered, idCol, vecCol, col(cell),
      threshold, maxBlock)
    val drop = resolveClusters(pairs)
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").as(idCol))
    embs.join(drop, Seq(idCol), "left_anti")
  }

  /** Corpus-level exact line dedup (the C4 / RefinedWeb hygiene step:
    * boilerplate lines — nav menus, cookie banners, license headers — repeat
    * across millions of pages): keep only the globally-FIRST occurrence of
    * each distinct line, ordered by (id, line position), and reassemble each
    * document from its surviving lines in original order. Documents whose
    * every line was seen earlier come back with empty text (a later
    * `quality_filter: {min_chars: 1}` stage drops them if desired); all
    * non-text columns pass through unchanged.
    *
    * Skew-proof by construction: "first occurrence" is a map-side-combinable
    * `min(packed (id, pos))` HashAggregate on the 56-bit line hash, so a
    * boilerplate line with a billion copies compresses to one candidate per
    * task BEFORE the shuffle — the obvious `row_number() over (partition by
    * line)` alternative co-locates every copy of the hot line in a single
    * task (the same trap stratifiedCap's window form had). The line text
    * itself never shuffles on the dedup key: the aggregate carries only
    * (hash, id, pos).
    */
  /** (id, pos) lexicographic order packed into ONE primitive long, so the
    * first-occurrence aggregate runs as a HashAggregate: `min(struct(id,
    * pos))` silently downgrades the WHOLE aggregation to SortAggregate
    * (structs are not mutable hash-agg buffer types), which sorts the full
    * exploded gram/line stream on both sides of the shuffle — measured as
    * a 3.4× DuckDB marginal on dup_spans at x256 before this. Encoding:
    * `id << 24 | pos`; a null id propagates to a null packed value, so
    * null-id rows never win the election and never pass the equality
    * filters — exactly the rows the previous struct-equality comparisons
    * dropped (null `===` is null). Bounds fail LOUDLY: pos < 2^24 per
    * document, 0 ≤ id < 2^38 — far wider than any corpus this engine
    * meets, and a silent wrap would corrupt dedup results, not just slow
    * them.
    */
  private def packFirst(id: Column, pos: Column): Column =
    when(pos < 0 || pos >= (1 << 24) || id < 0 || id >= (1L << 38),
      raise_error(concat(lit("packFirst out of range: id="),
        coalesce(id.cast("string"), lit("null")),
        lit(" pos="), pos.cast("string"))).cast("long"))
      .otherwise(shiftleft(id.cast("long"), 24) + pos)

  def dedupLines(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lines = docs.select(col(idCol),
      posexplode(split(col(textCol), "\n")).as(Seq("pos", "__line")))
      .withColumn("__h", portableHash56(col("__line")))
    val first = lines.groupBy("__h")
      .agg(min(packFirst(col(idCol), col("pos"))).as("__firstp"))
    val survivors = lines.join(first, Seq("__h"))
      .filter(packFirst(col(idCol), col("pos")) === col("__firstp"))
      .groupBy(col(idCol))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("__line")))),
          x => x("__line")), "\n").as("__newtext"))
    // null text stays null (consistent with the other dedup stages'
    // null-row handling); a doc whose every line was seen earlier gets ""
    docs.withColumnRenamed(textCol, "__oldtext")
      .join(survivors, Seq(idCol), "left")
      .withColumn(textCol, when(col("__oldtext").isNull, lit(null: String))
        .otherwise(coalesce(col("__newtext"), lit(""))))
      .drop("__newtext", "__oldtext")
  }

  /** Corpus-wide duplicated-substring spans (the ExactSubstr criterion of
    * Lee et al., "Deduplicating Training Data Makes Language Models Better",
    * 2022 — reference semantics only, architecture is inverted-index Spark,
    * not their suffix array): every token k-gram occurring more than once
    * ANYWHERE in the corpus (including elsewhere in the same document) marks
    * its k token positions as duplicated; overlapping and adjacent marked
    * windows merge into maximal half-open token spans [span_start, span_end).
    * With `keepFirst` (the default), the globally-first occurrence of each
    * k-gram — min (id, pos) — is exempt, so exactly one copy of every
    * duplicated substring survives downstream span removal instead of the
    * text vanishing from the corpus entirely.
    *
    * Scale shape (round-14 rewrite): ONE posexplode of the precomputed
    * in-row gram-hash array (ShingleHash56 — token bytes stream into the
    * digest once), ONE shuffle on the gram hash, and a whole-partition
    * window computing (df, first occurrence) in a single sort — replacing
    * the previous two-sided agg+join plan, whose map-side combine bought
    * nothing (grams measured 95% unique at x256, so the partial aggregate
    * shuffled the full stream anyway: 2.1 GB, a 61M-key final hash
    * aggregate, and a dual-sorted SMJ on top — 23.9 vs 12.5 s at x256;
    * shuffle-hash and runtime-bloom A/Bs of the old plan lost too, 44.5
    * and 21.7 s). Skew note, stated honestly: a pathological hot gram now
    * lands in ONE window partition, but its per-row work is a running
    * count/min (linear, no pair blowup), and the old plan's probe side
    * co-located the same rows in one SMJ partition anyway — the only
    * regression is losing AQE's skewed-SMJ split, traded for halving the
    * gram generation and shuffle. The follow-up groupBy(id, span) is
    * bounded by document length per group.
    */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int, keepFirst: Boolean = true): DataFrame = {
    val grams = hashArrays(docs, idCol, textCol, k, distinct = false)
      .select(col(idCol), posexplode(col("__hs")).as(Seq("pos", "__h")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("__h"))
    val marked = grams
      .withColumn("__df", count(lit(1)).over(w))
      .withColumn("__firstp", min(packFirst(col(idCol), col("pos"))).over(w))
      .filter(col("__df") >= 2)
    val removable =
      if (keepFirst)
        marked.filter(packFirst(col(idCol), col("pos")) =!= col("__firstp"))
      else marked
    // span assembly: ONE hash aggregation per document (collect positions,
    // no sort-before-aggregate) + a per-row fold over the sorted position
    // array — positions are ascending, so the running exclusive end of the
    // current span is simply prev_pos + k, and a gram starts a new span iff
    // pos > that end. Replaces the earlier two-window-pass + regroup plan
    // (hash exchange + per-partition SORT + two window evaluations + a
    // second aggregation) with exchange + hash agg + fold: wall-clock
    // parity at gate scale (1.43 vs 1.40 s min-of-5, SMOKE.md — the
    // 4-stage chain's scheduler floor dominates, the A/B is committed
    // floor evidence), fewer passes over the marked rows at scale. Memory
    // per group is bounded by document length — the same bound the window
    // partition had.
    val spanType = "array<struct<span_start:bigint,span_end:bigint,n_grams:bigint>>"
    val fold = expr(s"""
      aggregate(
        __ps,
        named_struct(
          'spans', cast(array() as $spanType),
          'cs', cast(-1 as bigint), 'ce', cast(-1 as bigint),
          'cn', cast(0 as bigint)),
        (acc, p) -> CASE
          WHEN acc.cn = 0 THEN named_struct(
            'spans', acc.spans,
            'cs', cast(p as bigint), 'ce', cast(p + $k as bigint),
            'cn', cast(1 as bigint))
          WHEN p <= acc.ce THEN named_struct(
            'spans', acc.spans,
            'cs', acc.cs, 'ce', cast(p + $k as bigint), 'cn', acc.cn + 1)
          ELSE named_struct(
            'spans', array_append(acc.spans, named_struct(
              'span_start', acc.cs, 'span_end', acc.ce, 'n_grams', acc.cn)),
            'cs', cast(p as bigint), 'ce', cast(p + $k as bigint),
            'cn', cast(1 as bigint)) END,
        acc -> IF(acc.cn = 0, acc.spans,
          array_append(acc.spans, named_struct(
            'span_start', acc.cs, 'span_end', acc.ce, 'n_grams', acc.cn))))""")
    removable
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("pos"))).as("__ps"))
      .select(col(idCol), explode(fold).as("__s"))
      .select(col(idCol), col("__s.span_start").as("span_start"),
        col("__s.span_end").as("span_end"), col("__s.n_grams").as("n_grams"))
  }

  /** [[duplicateSpans]] applied: rebuild each document's text with every
    * duplicated span's tokens removed (surviving tokens re-join with single
    * spaces — the operator works on the token stream, like the reference
    * semantics). Documents with no duplicated spans pass through with text
    * untouched (byte-identical — the left join misses, no retokenization);
    * non-text columns always pass through.
    */
  def removeDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int, keepFirst: Boolean = true): DataFrame = {
    val spans = duplicateSpans(docs, idCol, textCol, k, keepFirst)
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start"), col("span_end")))
        .as("__spans"))
    docs.join(spans, Seq(idCol), "left")
      .withColumn(textCol, when(col("__spans").isNull, col(textCol))
        .otherwise(array_join(
          filter(tokens(col(textCol)), (t, i) =>
            !exists(col("__spans"), s =>
              i >= s("span_start") && i < s("span_end"))),
          " ")))
      .drop("__spans")
  }

  /** Pick each duplicate cluster's representative by a SCORE instead of the
    * min id — "keep the best copy" (longest text, lowest perplexity,
    * highest quality), the selection real curation pipelines want where
    * min-id keeps an arbitrary one. Input is a cluster-membership frame
    * (`idCol`, `clusterCol`, `scoreCol` — e.g. [[resolveClusters]] joined
    * to a scored corpus); output one (clusterCol, keep_id) row per cluster.
    * Highest score wins; ties break to the smallest id (deterministic);
    * null/NaN scores rank below every real score, so an all-null cluster
    * degrades to exactly the min-id rule.
    *
    * Two bounded aggregations + one join on the cluster-membership table
    * (duplicate-count-sized, not corpus-sized) — no per-cluster window, so
    * a degenerate giant cluster costs its share of an aggregate, not a
    * single-partition sort.
    */
  def clusterRepresentatives(clustered: DataFrame, idCol: String,
      clusterCol: String, scoreCol: String): DataFrame = {
    val s = when(col(scoreCol).isNull || isnan(col(scoreCol)),
      lit(Double.NegativeInfinity)).otherwise(col(scoreCol).cast("double"))
    val best = clustered.groupBy(clusterCol).agg(max(s).as("__best"))
    clustered.withColumn("__s", s)
      .join(best, Seq(clusterCol))
      .filter(col("__s") === col("__best"))
      .groupBy(clusterCol).agg(min(col(idCol)).as("keep_id"))
  }
}
