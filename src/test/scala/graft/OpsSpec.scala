package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.ops._
import graft.functions.GraftFunctions

/** Dedup / similarity / text operator behavior. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again today"),
    (1L, "the quick brown fox jumps over the lazy dog again and again today"), // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy dog again and again tonight"), // near dup
    (3L, "completely different words about spark engines and data pipelines here"),
    (4L, "THE  quick   brown fox jumps over the lazy dog again and again today") // fmt-variant
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts, keeps min id") {
    val out = Dedup.exact(docs, "doc_id", "text")
    val dupGroup = out.filter(col("n_copies") > 1).collect()
    assert(dupGroup.length == 1)
    assert(dupGroup(0).getAs[Long]("keep_id") == 0L)
    assert(dupGroup(0).getAs[Long]("n_copies") == 2L)
  }

  test("fingerprint collapses case/whitespace variants") {
    val fp = Dedup.fingerprint(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fp(0L) == fp(4L)) // normalized variant collapses
    assert(fp(0L) != fp(3L))
  }

  test("ngram jaccard finds the planted near-dup pair") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L))) // exact dup → jaccard 1
    assert(pairs.contains((0L, 2L))) // one-word change → high jaccard
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("ngram jaccard maxDf prunes boilerplate shingles and bounds candidates") {
    // skewed corpus: every doc shares an 8-word boilerplate prefix (web
    // banner shape); docs 28/29 also share their unique tail
    val boiler = "alpha beta gamma delta epsilon zeta eta theta"
    val skewed = (0 until 28).map(i => (i.toLong, s"$boiler unique$i word$i thing$i")) ++
      Seq((28L, s"$boiler same same2 same3"), (29L, s"$boiler same same2 same3"))
    val df = skewed.toDF("doc_id", "text")
    // unguarded at threshold 0: the boilerplate shingles connect EVERY pair
    val unguarded = Dedup.ngramJaccardPairs(df, "doc_id", "text", n = 3, threshold = 0.0)
    assert(unguarded.count() == 30L * 29 / 2) // the d² fan-out the guard exists for
    // maxDf=10 prunes the df=30 boilerplate shingles: only the genuinely
    // shared tail survives as a candidate generator
    val pruned = Dedup.ngramJaccardPairs(df, "doc_id", "text", n = 3,
      threshold = 0.3, maxDf = Some(10))
    val pairs = pruned.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    assert(pairs.map(_._1).toSet == Set((28L, 29L)))
    // sizes are recomputed over the pruned sets: identical pruned sets → 1.0
    assert(pairs.head._2 == 1.0)
    // and candidate generation itself is bounded (not just the output): at
    // threshold 0 the pruned index yields only the surviving pair
    assert(Dedup.ngramJaccardPairs(df, "doc_id", "text", n = 3,
      threshold = 0.0, maxDf = Some(10)).count() == 1)
  }

  test("ngram jaccard guarded path handles string doc ids (no LongType cast)") {
    // non-integral ids through the guarded inverted index: the generalized
    // SortedPairs must order them like the unguarded path's binary `<` —
    // numeric-looking strings ("10" vs "9") are the divergence trap
    val docs = Seq(
      ("9", "the quick brown fox jumps over the dog"),
      ("10", "the quick brown fox jumps over the dog"),
      ("alpha", "completely different text with no overlap here")
    ).toDF("doc_id", "text")
    def run(maxDf: Option[Int]) =
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5,
        maxDf = maxDf)
        .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    val unguarded = run(None)
    val guarded = run(Some(10))
    assert(unguarded == guarded)
    assert(unguarded == Set(("10", "9", 1.0))) // lexicographic: "10" < "9"
  }

  test("ngram jaccard equals a brute-force Scala oracle on random corpora (both paths)") {
    // independent oracle: exact Jaccard over distinct shingle STRINGS
    // (56-bit hash collisions are impossible at this corpus size), with the
    // maxDf prune + size recomputation replicated literally — locks the
    // grouped-inverted-index rewrite to the operator's contract without
    // reference to any deleted implementation
    def shingleSet(text: String, n: Int): Set[String] = {
      val toks = text.trim.split("\\s+").filter(_.nonEmpty).toSeq
      if (toks.length < n) Set.empty
      else toks.sliding(n).map(_.mkString(" ")).toSet
    }
    def brute(docs: Seq[(Long, String)], n: Int, threshold: Double,
        maxDf: Option[Int]): Set[(Long, Long, Double)] = {
      val sets0 = docs.map { case (id, t) => id -> shingleSet(t, n) }
        .filter(_._2.nonEmpty).toMap
      val sets = maxDf match {
        case None => sets0
        case Some(m) =>
          val df = sets0.values.toSeq.flatten.groupBy(identity).map { case (s, xs) => s -> xs.size }
          sets0.view.mapValues(_.filter(s => df(s) <= m)).toMap
      }
      (for {
        (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq if a < b
        shared = (sa intersect sb).size if shared > 0
        j = shared.toDouble / (sa.size + sb.size - shared) if j >= threshold
      } yield (a, b, math.rint(j * 10000) / 10000)).toSet
    }
    val rng = new scala.util.Random(97)
    (0 until 4).foreach { trial =>
      // small vocab forces heavy shingle sharing; some docs near-duplicated
      val docs = (0 until 25).map { i =>
        val len = 3 + rng.nextInt(10)
        val words = Seq.fill(len)(s"w${rng.nextInt(12)}")
        (i.toLong, words.mkString(" "))
      } ++ Seq((100L, "w1 w2 w3 w4 w5"), (101L, "w1 w2 w3 w4 w5"), (102L, ""))
      val df = docs.toDF("doc_id", "text")
      val maxDf = if (trial % 2 == 0) None else Some(3 + rng.nextInt(5))
      val threshold = 0.2 + 0.2 * (trial % 3)
      val got = Dedup.ngramJaccardPairs(df, "doc_id", "text", n = 3,
          threshold = threshold, maxDf = maxDf)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), math.rint(r.getDouble(2) * 10000) / 10000))
        .toSet
      val want = brute(docs, 3, threshold, maxDf)
      assert(got == want,
        s"trial $trial maxDf=$maxDf thr=$threshold: got-want=${got -- want} want-got=${want -- got}")
    }
  }

  test("minhash-LSH finds near-dups without all-pairs comparison") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      n = 3, bands = 8, rowsPerBand = 4, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("band-bucket chain guard bounds hot buckets, preserves the cluster") {
    // templated-corpus shape: 40 identical docs share EVERY band signature —
    // unguarded, that one bucket alone is 40·39/2 pairs through each band key
    val templated = (0L until 40L).map(i => (i, "the same templated boilerplate page body here")) ++
      Seq((100L, "completely different content alpha beta"),
        (101L, "completely different content alpha beta"),
        (102L, "unrelated third text gamma delta epsilon"))
    val df = templated.toDF("doc_id", "text")
    val unguarded = Dedup.minhashLshPairs(df, "doc_id", "text", threshold = 0.5)
    assert(unguarded.count() == 40L * 39 / 2 + 1) // hot block all-pairs + (100,101)
    val guarded = Dedup.minhashLshPairs(df, "doc_id", "text", threshold = 0.5,
      maxBucket = Some(5))
    val gPairs = guarded.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // linear: 39 chain links for the hot block + the small exact bucket
    assert(gPairs.size == 40)
    assert(gPairs.contains((100L, 101L))) // within-cap buckets stay all-pairs
    // the chain preserves the connected component: one cluster of all 40
    val clusters = Dedup.resolveClusters(
      guarded.select("id_a", "id_b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L until 40L).forall(clusters(_) == 0L))
    assert(clusters(101L) == 100L && !clusters.contains(102L))

    // simhash: same guard through its band/key buckets (64/4 = 16-bit band
    // keys — the minimum width the guard accepts, see saturation note)
    val shUnguarded = Dedup.simhashPairs(df, "doc_id", "text", numBits = 64,
      maxHamming = 3)
    val shGuarded = Dedup.simhashPairs(df, "doc_id", "text", numBits = 64,
      maxHamming = 3, maxBucket = Some(5))
    assert(shUnguarded.count() == 40L * 39 / 2 + 1)
    val shPairs = shGuarded.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(shPairs.size == 40 && shPairs.contains((100L, 101L)))
    val shClusters = Dedup.resolveClusters(
      shGuarded.select("id_a", "id_b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L until 40L).forall(shClusters(_) == 0L))
    // narrow band keys saturate from corpus SIZE, not duplication — the
    // guard refuses them instead of silently chaining unrelated docs
    val ex = intercept[IllegalArgumentException] {
      Dedup.simhashPairs(df, "doc_id", "text", maxBucket = Some(5))
    }
    assert(ex.getMessage.contains("16-bit"))
  }

  test("chain guard orders hot buckets by sketch: interleaved groups stay internally chained") {
    // one hot bucket holding TWO identical-sketch groups interleaved by id:
    // the sketch-sorted chain keeps each group contiguous, so only the one
    // cross-group edge is lost to the downstream similarity filter — id-order
    // chaining would alternate groups and lose every edge
    val banded = Seq(
      (1L, "X", 0, "b"), (2L, "Y", 0, "b"), (3L, "X", 0, "b"),
      (4L, "Y", 0, "b"), (5L, "X", 0, "b"), (6L, "Y", 0, "b"))
      .toDF("doc_id", "sk", "band", "key")
    val cand = Dedup.bandedCandidates(banded, "doc_id", Seq("band", "key"),
      carry = Some("sk"), maxBucket = Some(3), chainOrderCol = Some("sk"))
    val rows = cand.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3))).toSet
    // sk order: X-run (1,3,5) then Y-run (2,4,6); (5,2) normalizes to (2,5)
    assert(rows.map(p => (p._1, p._2)) ==
      Set((1L, 3L), (3L, 5L), (2L, 5L), (2L, 4L), (4L, 6L)))
    // carries swapped in lockstep with the id normalization
    val sketch = Map(1L -> "X", 3L -> "X", 5L -> "X", 2L -> "Y", 4L -> "Y", 6L -> "Y")
    rows.foreach { case (a, b, ska, skb) =>
      assert(ska == sketch(a) && skb == sketch(b))
    }
  }

  test("minhash of identical docs is identical; est_jaccard of exact dup is 1.0") {
    val est = Dedup.minhashLshPairs(docs, "doc_id", "text")
      .filter(col("id_a") === 0 && col("id_b") === 1)
      .head().getAs[Double]("est_jaccard")
    assert(est == 1.0)
  }

  test("simhash: identical docs equal, near-dups within small hamming distance") {
    val sh = Dedup.simhash(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(0L) == sh(1L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sh(0L), sh(2L)) <= 8)
    assert(hamming(sh(0L), sh(3L)) > 8)
  }

  test("resolveClusters: transitive pairs collapse to min-id components") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L), (3L, 9L))
      .toDF("id_a", "id_b")
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 8L -> 1L, 9L -> 1L, 5L -> 5L, 6L -> 5L)
    // {1,2,3,8,9} chain through 3-9; {5,6} separate — identical through the
    // union-find fast path (default) and the distributed loop (forced)
    val fast = Dedup.resolveClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = Dedup.resolveClusters(pairs, smallGraphEdges = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == expect && dist == expect)
  }

  test("resolveClusters: string ids merge across diameter > 2 (no numeric-cast shortcut)") {
    // a pure chain d0-d1-d2-d3-d4: diameter 4 forces several propagation
    // rounds; a convergence metric that null-casts string ids would stop
    // after one round and leave the chain under-merged
    val pairs = Seq(("d0", "d1"), ("d1", "d2"), ("d2", "d3"), ("d3", "d4"), ("x9", "x8"))
      .toDF("id_a", "id_b")
    val expect = Map("d0" -> "d0", "d1" -> "d0", "d2" -> "d0", "d3" -> "d0",
      "d4" -> "d0", "x8" -> "x8", "x9" -> "x8")
    // distributed path: the cast hazard under test lives there
    val got = Dedup.resolveClusters(pairs, smallGraphEdges = 0).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == expect)
    // string ids take the fast path too (Comparable min-root union-find)
    val fast = Dedup.resolveClusters(pairs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(fast == expect)
  }

  test("resolveClusters: long chain converges in O(log d) rounds (pointer jumping)") {
    // 40-node path graph: diameter 39; plain min-label propagation needs ~39
    // rounds (> default maxIters would be the old failure mode at 25) while
    // pointer jumping needs ~log2(39) ≈ 6-8 — converging under the default
    // cap IS the behavioral assertion
    val pairs = (0L until 39L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // smallGraphEdges = 0 forces the distributed loop (the fast path would
    // bypass the pointer-jumping behavior under test)
    val got = Dedup.resolveClusters(pairs, maxIters = 12, smallGraphEdges = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 40 && got.values.forall(_ == 0L))
    // probe boundary: exactly at the threshold the fast path still answers;
    // one below, the probe overflows and falls through to the loop
    val atLimit = Dedup.resolveClusters(pairs, smallGraphEdges = 39).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val below = Dedup.resolveClusters(pairs, maxIters = 12, smallGraphEdges = 38)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(atLimit == got && below == got)
  }

  test("resolveClusters: parallel chains and a hub star on the distributed path, log-diameter rounds") {
    // 10 parallel 1,000-node paths: each collapses onto its base node, and
    // pointer jumping converges within log2(diameter) + 2 rounds
    val chainLen = 1000L
    val nChains = 10L
    val chainEdges = spark.range(0, nChains * chainLen, 1, 8)
      .filter(pmod(col("id"), lit(chainLen)) =!= (chainLen - 1)) // no edge past a chain end
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val (chainLabels, rounds) =
      Dedup.resolveClustersStats(chainEdges, maxIters = 25, smallGraphEdges = 0)
    val chains = chainLabels.groupBy("cluster_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(chains.keySet == (0L until nChains).map(_ * chainLen).toSet,
      "chain cluster representative is not the min node id")
    assert(chains.values.forall(_ == chainLen), s"chain sizes: ${chains.values}")
    val logD = (math.log(chainLen.toDouble) / math.log(2)).ceil.toInt
    assert(rounds <= logD + 2, s"rounds $rounds exceed log-diameter bound ${logD + 2}")
    org.apache.spark.sql.GraftSqlBridge.unpersistCheckpoint(chainLabels)
    // one hub with 10,000 leaves: the high-degree skew shape
    val nLeaves = 10000L
    val (starLabels, _) = Dedup.resolveClustersStats(
      spark.range(1, nLeaves + 1, 1, 8).select(lit(0L).as("id_a"), col("id").as("id_b")),
      maxIters = 25, smallGraphEdges = 0)
    val star = starLabels.agg(countDistinct(col("cluster_id")), count(lit(1)),
      max(col("cluster_id"))).head()
    assert(star.getLong(0) == 1L && star.getLong(1) == nLeaves + 1 &&
      star.getLong(2) == 0L, s"star labels wrong: $star")
    org.apache.spark.sql.GraftSqlBridge.unpersistCheckpoint(starLabels)
  }

  test("dedupLines: first occurrence survives, later copies drop, columns pass through") {
    val d = Seq(
      (1L, "alpha beta\ncommon footer\ngamma", "web"),
      (2L, "common footer\ndelta epsilon", "web"), // footer first seen in doc 1
      (3L, "common footer", "pdf"),                // nothing survives
      (4L, "unique line\nunique line", "web"),     // self-dup: keep first copy
      (5L, null, "web")                            // null text stays null
    ).toDF("doc_id", "text", "source")
    val out = Dedup.dedupLines(d, "doc_id", "text")
    val got = out.collect().map(r =>
      r.getAs[Long]("doc_id") -> (r.getAs[String]("text"), r.getAs[String]("source"))).toMap
    assert(got == Map(
      1L -> ("alpha beta\ncommon footer\ngamma", "web"),
      2L -> ("delta epsilon", "web"),
      3L -> ("", "pdf"),
      4L -> ("unique line", "web"),
      5L -> (null, "web")))
    // skew shape: first-occurrence selection is a map-side-combinable
    // aggregation on the line hash, never a window over the hot line
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("partial_min") || plan.contains("partial min"))
    assert(!plan.contains("row_number"))
  }

  test("duplicateSpans: cross-doc run merges to one span; first occurrence exempt") {
    val d = Seq(
      (1L, "a b c d e f g h"),
      (2L, "x y a b c d e q"), // shares the 5-token run "a b c d e" with doc 1
      (3L, "m n o completely unique tokens here")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(d, "doc_id", "text", k = 3)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("span_start"),
        r.getAs[Long]("span_end"), r.getAs[Long]("n_grams")))
    // doc 1 holds every gram's first occurrence -> exempt; doc 2's grams
    // (a b c)@2 (b c d)@3 (c d e)@4 merge into [2, 7)
    assert(spans.toSeq == Seq((2L, 2L, 7L, 3L)))
  }

  test("duplicateSpans: same-document repetition; keepFirst=false covers all copies") {
    val d = Seq((3L, "p q r s p q r s p q r")).toDF("doc_id", "text")
    val first = Dedup.duplicateSpans(d, "doc_id", "text", k = 3)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("span_start"), r.getAs[Long]("span_end")))
    // first period [0,4) exempt per-gram; removable gram starts 4..8 -> [4, 11)
    assert(first.toSeq == Seq((3L, 4L, 11L)))
    val all = Dedup.duplicateSpans(d, "doc_id", "text", k = 3, keepFirst = false)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("span_start"), r.getAs[Long]("span_end")))
    assert(all.toSeq == Seq((3L, 0L, 11L)))
  }

  test("duplicateSpans equals a brute-force oracle on random corpora (both keepFirst modes)") {
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 3; keepFirst <- Seq(true, false)) {
      val vocab = Vector("a", "b", "c", "d", "e") // tiny vocab -> dense collisions
      val k = 3
      val corpus = (0L until 40L).map { i =>
        i -> Vector.fill(3 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size)))
      }
      // brute force: every k-gram's occurrence list, sorted; mark positions
      val occ = scala.collection.mutable.Map[Seq[String], List[(Long, Int)]]()
      for ((id, toks) <- corpus; p <- 0 to toks.size - k)
        occ(toks.slice(p, p + k)) = occ.getOrElse(toks.slice(p, p + k), Nil) :+ (id -> p)
      val marked = occ.values.filter(_.size >= 2).flatMap { os =>
        val first = os.min
        os.filter(o => !keepFirst || o != first)
      }.toSeq
      val expected = marked.groupBy(_._1).flatMap { case (id, ps) =>
        // interval merge over [p, p+k)
        val sorted = ps.map(_._2).sorted
        val spans = scala.collection.mutable.ListBuffer[(Int, Int, Int)]()
        for (p <- sorted) spans.lastOption match {
          case Some((s, e, n)) if p <= e => spans(spans.size - 1) = (s, math.max(e, p + k), n + 1)
          case _ => spans += ((p, p + k, 1))
        }
        spans.map { case (s, e, n) => (id, s.toLong, e.toLong, n.toLong) }
      }.toSet
      val df = corpus.map { case (id, toks) => (id, toks.mkString(" ")) }
        .toDF("doc_id", "text")
      val got = Dedup.duplicateSpans(df, "doc_id", "text", k, keepFirst)
        .collect().map(r => (r.getLong(0), r.getAs[Long]("span_start"),
          r.getAs[Long]("span_end"), r.getAs[Long]("n_grams"))).toSet
      assert(got == expected, s"trial=$trial keepFirst=$keepFirst")
    }
  }

  test("line and span census on a corpus with a hot boilerplate line and a planted shared run") {
    val nDocs = 2000L
    val navVariants = 100
    // every second doc opens with the same boilerplate line; the nav line
    // has `navVariants` variants; the other lines are unique
    val docs = spark.range(0, nDocs, 1, 8).select(col("id").as("doc_id"),
      concat_ws("\n",
        when(pmod(col("id"), lit(2)) === 0, lit("ACCEPT COOKIES TO CONTINUE"))
          .otherwise(concat(lit("u"), col("id"), lit("z"))),
        concat(lit("nav"), pmod(col("id"), lit(navVariants))),
        concat(lit("u"), col("id"), lit("a")),
        concat(lit("u"), col("id"), lit("b"))).as("text"))
    val lines = Dedup.dedupLines(docs, "doc_id", "text")
      .select(coalesce(sum(when(length(col("text")) > 0,
          size(split(col("text"), "\n"))).otherwise(0)), lit(0L)),
        coalesce(sum(when(col("text").contains("ACCEPT COOKIES"), 1L)
          .otherwise(0L)), lit(0L)))
      .head()
    assert(lines.getLong(1) == 1L, s"boilerplate must survive exactly once, got ${lines.getLong(1)}")
    // surviving census: odd docs' u*z, every u*a and u*b, one copy of each
    // nav variant, one boilerplate line
    assert(lines.getLong(0) == nDocs / 2 + 2 * nDocs + navVariants + 1,
      s"surviving-line census off: ${lines.getLong(0)}")

    // every 100th doc carries the same 12-token run at tokens [10, 22) of a
    // pseudo-random 30-token body over a 500k vocab
    def tokenRun(from: Int, until: Int) = concat_ws(" ", (from until until).map(i =>
      concat(lit("w"), pmod(hash(col("id") * 131 + lit(i * 17)), lit(500000)))): _*)
    val run = (0 until 12).map(i => s"r${i}shared").mkString(" ")
    val spanDocs = spark.range(0, nDocs, 1, 8).select(col("id").as("doc_id"),
      concat_ws(" ", tokenRun(0, 10),
        when(pmod(col("id"), lit(100)) === 0, lit(run)).otherwise(tokenRun(10, 22)),
        tokenRun(22, 30)).as("text"))
    val spans = Dedup.duplicateSpans(spanDocs, "doc_id", "text", k = 8)
      .select(
        coalesce(sum(when(col("span_start") <= 10 && col("span_end") >= 22, 1L)
          .otherwise(0L)), lit(0L)),
        coalesce(sum(when(col("span_start") === 10 && col("span_end") === 22, 1L)
          .otherwise(0L)), lit(0L)),
        count(lit(1)))
      .head()
    val (containing, tight, total) = (spans.getLong(0), spans.getLong(1), spans.getLong(2))
    val copies = nDocs / 100
    // one span covering the run on every copy but the globally-first; a
    // span may widen only where a boundary token birthday-collides
    assert(total == copies - 1 && containing == copies - 1,
      s"total=$total containing=$containing")
    assert(containing - tight <= 600L, s"widened spans: ${containing - tight}")
  }

  test("dedupAgainst: every reformatted release copy matches; the bloom path agrees") {
    def body(id: Column) = concat(lit("document body number "), id, lit(" with trailing words"))
    val crawl = spark.range(0, 10000L, 1, 8).select(col("id").as("doc_id"), body(col("id")).as("text"))
    // the release covers ids 0..999; its even ids differ in case and
    // whitespace, which normalization must still match
    val release = spark.range(0, 1000L, 1, 4).select(
      when(pmod(col("id"), lit(2)) === 0,
        upper(concat(lit("  document body number "), col("id"), lit("  with trailing words "))))
        .otherwise(body(col("id"))).as("text"))
    val exact = Dedup.dedupAgainst(crawl, "doc_id", "text", release, "text").count()
    assert(exact == 9000L, s"expected 9000 survivors, got $exact")
    val bloom = Dedup.dedupAgainst(crawl, "doc_id", "text", release, "text",
      bloomItems = 1000L).count()
    assert(bloom == exact, s"bloom path diverged: $bloom vs $exact")
  }

  test("removeDuplicateSpans: span tokens drop, untouched docs byte-identical") {
    val d = Seq(
      (1L, "a b c d e f g h"),
      (2L, "x y a b c d e q"),
      (3L, "m n o   completely unique tokens here") // odd spacing must survive
    ).toDF("doc_id", "text")
    val got = Dedup.removeDuplicateSpans(d, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "a b c d e f g h")
    assert(got(2L) == "x y q")
    assert(got(3L) == "m n o   completely unique tokens here") // no retokenization
    // self-repetition keeps exactly the first copy of the repeated block
    val rep = Seq((9L, "p q r s p q r s p q r")).toDF("doc_id", "text")
    val cleaned = Dedup.removeDuplicateSpans(rep, "doc_id", "text", k = 3)
      .collect().head.getString(1)
    assert(cleaned == "p q r s")
  }
}

class PackingSpec extends SparkSpec {
  import spark.implicits._

  test("pack assignment: contiguous offsets, exact window cuts, straddle flags") {
    val docs = (0L until 200L).map(i => (i, Seq.fill(3 + (i % 17).toInt)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Packing.packSequences(docs, "doc_id", "text",
      capacity = 64, shards = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5)))
    // per shard: offsets are a contiguous token stream in (hash, id) order
    out.groupBy(_._2).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.head._4 == 0L) // stream starts at 0
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(b._4 == a._4 + a._3) // next = prev + len
        case _ =>
      }
    }
    // seq_idx and straddle are pure functions of offset/len/capacity
    out.foreach { case (_, _, n, off, seq, straddles) =>
      assert(seq == off / 64)
      assert(straddles == (off % 64 + n > 64))
    }
    // layout is input-order independent (hash-ordered, not arrival-ordered)
    val shuffled = Packing.packSequences(docs.repartition(7), "doc_id", "text",
      capacity = 64, shards = 4).collect()
      .map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(out.map(r => (r._1, r._4)).toMap == shuffled)
  }

  test("packing summary: every window but a shard's last is exactly full") {
    val docs = (0L until 300L).map(i => (i, Seq.fill(5 + (i % 11).toInt)("t").mkString(" ")))
      .toDF("doc_id", "text")
    val assign = Packing.packSequences(docs, "doc_id", "text", capacity = 100, shards = 3)
    val summary = Packing.packingSummary(assign, capacity = 100).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(5)))
    val lastPerShard = summary.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    summary.foreach { case (shard, seq, full) =>
      if (seq < lastPerShard(shard)) assert(full, s"window $shard/$seq not full")
    }
    // empty docs keep an assignment with zero tokens
    val withEmpty = docs.union(Seq((999L, "")).toDF("doc_id", "text"))
    val e = Packing.packSequences(withEmpty, "doc_id", "text", 100, shards = 3)
      .filter(col("doc_id") === 999L).head()
    assert(e.getLong(2) == 0L && !e.getBoolean(5))
  }

  test("chunkDocuments: full coverage, overlap, short tail, empty docs dropped") {
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 tokens
      (2L, "a b c"),                                  // n <= window: one chunk
      (3L, ""), (4L, "   "),                          // no tokens: no chunks
      (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = Packing.chunkDocuments(docs, "doc_id", "text", window = 4, stride = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getString(4)))
    // doc 1: n=10 -> 1 + ceil(6/3) = 3 chunks at offsets 0,3,6
    val d1 = out.filter(_._1 == 1L).sortBy(_._2)
    assert(d1.map(_._4).toSeq === Seq(
      "t1 t2 t3 t4", "t4 t5 t6 t7", "t7 t8 t9 t10"))
    assert(d1.map(_._3).toSeq === Seq(4L, 4L, 4L))
    // every token appears in some chunk (coverage)
    assert(d1.flatMap(_._4.split(" ")).toSet === (1 to 10).map(i => s"t$i").toSet)
    assert(out.filter(_._1 == 2L).toSeq === Seq((2L, 0L, 3L, "a b c")))
    assert(!out.exists(r => r._1 >= 3L))
    // short tail: n=11 -> last chunk has 2 tokens
    val tail = Packing.chunkDocuments(
      Seq((9L, (1 to 11).map("w" + _).mkString(" "))).toDF("doc_id", "text"),
      "doc_id", "text", window = 4, stride = 3)
      .orderBy("chunk_idx").collect()
    assert(tail.length == 4 && tail.last.getLong(3) == 2L)
    assert(tail.last.getString(4) === "w10 w11")
  }
}

class DecontaminateSpec extends SparkSpec {
  import spark.implicits._

  private val train = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"), // shares a 4-gram with eval
    (2L, "completely clean document with original content here"),
    (3L, "quick brown fox leaps"), // 3-gram overlap only: NOT contaminated at n=4
    (4L, "too short"), // < n words: can never be contaminated
    (5L, "the quick brown fox strikes again tonight") // shares the same 4-gram
  ).toDF("doc_id", "text")
  private val eval = Seq(
    (100L, "benchmark asks about the quick brown fox and more")
  ).toDF("doc_id", "text")

  test("exact n-gram decontamination drops only true 4-gram overlaps") {
    val bad = Decontaminate.contaminatedIds(train, eval, "doc_id", "text", n = 4)
      .collect().map(_.getLong(0)).toSet
    assert(bad == Set(1L, 5L)) // "the quick brown fox"
    val kept = Decontaminate.decontaminate(train, eval, "doc_id", "text", n = 4)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L, 4L))
  }

  test("bloom path is bit-identical to exact, even with a saturated filter") {
    val exact = Decontaminate.decontaminate(train, eval, "doc_id", "text", n = 4)
      .collect().map(_.getLong(0)).toSet
    val bloom = Decontaminate.decontaminateBloom(train, eval, "doc_id", "text", n = 4)
      .collect().map(_.getLong(0)).toSet
    assert(bloom == exact)
    // a deliberately tiny filter (64 bits) false-positives aggressively;
    // the exact confirm must still remove every false positive
    val saturated = Decontaminate.decontaminateBloom(train, eval, "doc_id", "text",
      n = 4, expectedItems = 4, numBits = 64)
      .collect().map(_.getLong(0)).toSet
    assert(saturated == exact)
  }

  test("empty or too-short eval corpus removes nothing (both paths)") {
    val emptyEval = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Decontaminate.decontaminate(train, emptyEval, "doc_id", "text", 4)
      .count() == 5)
    assert(Decontaminate.decontaminateBloom(train, emptyEval, "doc_id", "text", 4)
      .count() == 5)
    val shortEval = Seq((100L, "one two three")).toDF("doc_id", "text") // < n words
    assert(Decontaminate.decontaminateBloom(train, shortEval, "doc_id", "text", 4)
      .count() == 5)
  }
}

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("token count: empty and whitespace-only are 0") {
    val d = Seq((0L, "a b  c"), (1L, ""), (2L, "   "), (3L, "one")).toDF("doc_id", "text")
    val got = d.select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(0L -> 3, 1L -> 0, 2L -> 0, 3L -> 1))
  }

  test("subword count splits alnum runs and symbols") {
    val d = Seq((0L, "hello, world! x2")).toDF("doc_id", "text")
    // tokens: hello , world ! x2 → 5
    assert(d.select(TextAnalysis.subwordCount(col("text"))).head().getInt(0) == 5)
  }

  test("corpusStats: totals + nearest-rank median per group") {
    val d = Seq(
      (0L, "a", "one two three"),        // 3 toks
      (1L, "a", "one two three four five"), // 5
      (2L, "a", "one"),                  // 1
      (3L, "a", "one two"),              // 2  -> a: n=4, median rank floor(.5*3+.5)+1=3 -> toks 3
      (4L, "b", "x y z")                 // b: n=1, median 3
    ).toDF("doc_id", "src", "text")
    val got = TextAnalysis.corpusStats(d, "text", Seq("src"))
      .orderBy("src").collect()
    val a = got(0)
    assert(a.getString(0) == "a" && a.getLong(1) == 4 && a.getLong(3) == 11)
    assert(a.getLong(5) == 1 && a.getLong(6) == 5) // min/max
    assert(a.getAs[Long]("median_tokens") == 3)
    assert(got(1).getAs[Long]("median_tokens") == 3)
    intercept[IllegalArgumentException] {
      TextAnalysis.corpusStats(d, "text", Nil) }
  }

  test("c4Filters: line retention rules + page-level drops") {
    val d = Seq(
      (0L, "This line has enough words to stay here.\nshort one.\nanother line with plenty of words inside!\nno punctuation on this trailing line"),
      (1L, "Good first line with many words right here.\nthe javascript line has many words too.\nsecond good line with lots of words kept.\nthird good line also has enough words."),
      (2L, "lorem ipsum dolor sit amet consectetur adipiscing.\nmore perfectly fine text with words here.\nthird line with plenty of words too.\nfourth lovely line with many words stays."),
      (3L, "A page with a { brace should vanish entirely.\nsecond line with plenty of words here.\nthird line with plenty of words also."),
      (4L, "Only one surviving line with enough words.\nshort.\nnope")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.c4Filters(d, "doc_id", "text", minLineWords = 5,
      minLines = 2).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // doc 0: two qualifying lines survive, short/unpunctuated dropped
    assert(out(0L) == "This line has enough words to stay here.\nanother line with plenty of words inside!")
    // doc 1: javascript line dropped, three kept
    assert(out(1L).linesIterator.size == 3 && !out(1L).contains("javascript"))
    // doc 2 (lorem ipsum) and doc 3 (brace) dropped page-level;
    // doc 4 falls under minLines
    assert(out.keySet == Set(0L, 1L))
    // custom phrase list replaces the default: "lovely" now drops doc 2,
    // while the brace page (doc 3) survives
    val custom = TextAnalysis.c4Filters(d, "doc_id", "text", minLineWords = 2,
      minLines = 1, dropPhrases = Seq("lovely"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(custom == Set(0L, 1L, 3L, 4L))
  }

  test("unigramEntropy: closed forms and explode/groupBy parity") {
    val d = Seq(
      (0L, "a a b b"),      // two tokens, equal counts -> 1 bit
      (1L, "a b c d"),      // four distinct -> 2 bits
      (2L, "x x x x"),      // degenerate repetition -> 0
      (3L, "one"),          // single token -> 0
      (4L, ""), (5L, "  "), // empty / whitespace-only -> 0
      (6L, null)            // NULL text -> 0.0 (oracle coalesce contract,
                            // ADVICE r10: native expr alone yields NULL)
    ).toDF("doc_id", "text")
    val got = d.select(col("doc_id"),
      round(TextAnalysis.unigramEntropy(col("text")), 4).as("h"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(0L -> 1.0, 1L -> 2.0, 2L -> 0.0, 3L -> 0.0, 4L -> 0.0,
      5L -> 0.0, 6L -> 0.0))
    // parity with the shuffle-based reference formulation on messier text
    val m = Seq((0L, "to be or not to be"), (1L, "aa aa  b\tb aa"),
      (2L, "z")).toDF("doc_id", "text")
    val fromCounts = m
      .select(col("doc_id"), explode(graft.functions.GraftFunctions.tokens(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        round(log2(sum("c")) - sum(col("c") * log2(col("c"))) / sum("c"), 6).as("h"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val fold = m.select(col("doc_id"),
      round(TextAnalysis.unigramEntropy(col("text")), 6).as("h"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(fold == fromCounts)
  }

  test("tfIdfTopTerms: sklearn-smoothed scores, rank by rounded score then term") {
    val d = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "apple cherry date"),
      (4L, "   ") // tokenless: excluded from N and from output
    ).toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.tfIdfTopTerms(d, "doc_id", "text", k = 2)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getAs[Long]("tf"),
        r.getDouble(3), r.getAs[Long]("rank")))
      .sortBy(t => (t._1, t._5))
    // N=3; df: apple 2, banana 2, cherry 2, date 1
    def score(tf: Long, df: Long): Double =
      BigDecimal(tf * (math.log(4.0 / (df + 1.0)) + 1.0))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.toSeq == Seq(
      (1L, "apple", 2L, score(2, 2), 1L), (1L, "banana", 1L, score(1, 2), 2L),
      (2L, "banana", 1L, score(1, 2), 1L), (2L, "cherry", 1L, score(1, 2), 2L),
      // doc 3: date (df=1) outscores apple/cherry (tied -> term asc)
      (3L, "date", 1L, score(1, 1), 1L), (3L, "apple", 1L, score(1, 2), 2L)))
  }

  test("quality signals compute ratios") {
    val d = Seq((0L, "The cat, the hat.")).toDF("doc_id", "text")
    val r = TextAnalysis.qualitySignals(d, "doc_id", "text").head()
    assert(r.getAs[Int]("n_chars") == 17)
    assert(r.getAs[Int]("n_words") == 4)
    assert(math.abs(r.getAs[Double]("stopword_ratio") - 0.5) < 1e-9) // The, the
  }

  test("repetition signals: dup lines/chars/ngrams, ellipsis and bullet lines") {
    val doc = Seq(
      "click here",        // dup line (x3), 10 chars each
      "click here",
      "click here",
      "a unique sentence continues with more words", // 7 words
      "- bullet one",
      "* bullet two",
      "read more...",
      "").mkString("\n")   // blank line: excluded from every line count
    val d = Seq((1L, doc), (2L, ""), (3L, "one two")).toDF("doc_id", "text")
    val r = TextAnalysis.repetitionSignals(d, "doc_id", "text")
      .collect().map(row => row.getLong(0) -> row).toMap
    val doc1 = r(1L)
    // 7 nonblank lines, 5 distinct -> 2/7
    assert(math.abs(doc1.getDouble(1) - 2.0 / 7) < 1e-9)
    // chars: 3x10 + 43 + 12 + 12 + 12 = 109 total; distinct drop 20 -> 20/109
    assert(math.abs(doc1.getDouble(2) - 20.0 / 109) < 1e-9)
    // words: lines split to 2+2+2+7+3+3+2 = 21 words -> 19 trigrams;
    // "click here click"/"here click here" each appear twice -> 2 repeats
    assert(math.abs(doc1.getDouble(3) - 2.0 / 19) < 1e-9)
    assert(math.abs(doc1.getDouble(4) - 1.0 / 7) < 1e-9) // "read more..."
    assert(math.abs(doc1.getDouble(5) - 2.0 / 7) < 1e-9) // the two bullets
    // blank text: all-zero signals, no nulls (threshold-filter safe)
    assert((1 to 5).forall(i => r(2L).getDouble(i) == 0.0))
    // short text: no trigram exists -> ngram signal 0, not null
    assert(r(3L).getDouble(3) == 0.0)
  }

  test("language id picks max-marker language, unknown when none") {
    val d = Seq(
      (0L, "der hund und die katze ist nicht da"),
      (1L, "the cat and the dog is here"),
      (2L, "zzz qqq www")).toDF("doc_id", "text")
    val got = TextAnalysis.languageId(d, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("lang_pred")).toMap
    assert(got == Map(0L -> "de", 1L -> "en", 2L -> "unknown"))
  }
}

class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("portable hash is stable and 56-bit bounded") {
    val d = Seq("a", "b", "a").toDF("s")
    val hs = d.select(GraftFunctions.portableHash56(col("s"))).collect().map(_.getLong(0))
    assert(hs(0) == hs(2) && hs(0) != hs(1))
    assert(hs.forall(h => h >= 0 && h < (1L << 56)))
  }

  test("word shingles produce n-gram windows") {
    val d = Seq("a b c d").toDF("t")
    val sh = d.select(GraftFunctions.wordShingles(col("t"), 3)).head().getSeq[String](0)
    assert(sh == Seq("a b c", "b c d"))
    val short = Seq("a b").toDF("t")
      .select(GraftFunctions.wordShingles(col("t"), 3)).head().getSeq[String](0)
    assert(short.isEmpty)
  }

  test("searchSortedRight = numpy side=right bisect") {
    val d = Seq((Array(1.0, 3.0, 5.0), 3.0), (Array(1.0, 3.0, 5.0), 0.5),
      (Array(1.0, 3.0, 5.0), 9.0)).toDF("eps", "v")
    val got = d.select(GraftFunctions.searchSortedRight(col("eps"), col("v")))
      .collect().map(_.getInt(0)).toSeq
    assert(got == Seq(2, 0, 3)) // 3.0 equals endpoint → upper side
  }
}

class CorpusSourcesSpec extends SparkSpec {
  import spark.implicits._
  import graft.sources.CorpusSources

  private def tmpDir(tag: String) =
    java.nio.file.Files.createTempDirectory(s"graft_src_$tag").toString

  test("JSONL round-trip is lossless for multi-line / quoted / unicode text") {
    val d = Seq(
      (0L, "line one\nline two\n\ttabbed", "en"),
      (1L, "quotes \" and \\ backslash", "en"),
      (2L, "unicode: héllo wörld — ünïcode 日本語", "ja"),
      (3L, "", "en")
    ).toDF("doc_id", "text", "lang")
    val dir = tmpDir("jsonl") + "/docs"
    CorpusSources.writeJsonl(d, dir)
    val back = CorpusSources.readJsonl(spark, dir,
      Some("doc_id BIGINT, text STRING, lang STRING"))
      .select("doc_id", "text", "lang")
    assert(back.orderBy("doc_id").collect().toSeq ==
      d.orderBy("doc_id").collect().toSeq)
  }

  test("malformed JSONL line surfaces as nulls, not a failed scan") {
    val dir = tmpDir("bad")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "part.jsonl"),
      "{\"doc_id\": 1, \"text\": \"ok\"}\nNOT JSON AT ALL\n{\"doc_id\": 2, \"text\": \"also ok\"}\n"
        .getBytes("UTF-8"))
    val got = CorpusSources.readJsonl(spark, dir, Some("doc_id BIGINT, text STRING"))
      .collect()
    assert(got.length == 3)
    assert(got.count(r => r.isNullAt(0) && r.isNullAt(1)) == 1)
    assert(got.filter(!_.isNullAt(0)).map(_.getString(1)).toSet == Set("ok", "also ok"))
  }

  test("CSV round-trip with header; multiLine reads quoted newlines") {
    val d = Seq((0L, "plain", 1.5), (1L, "with\nnewline", -2.0)).toDF("id", "s", "x")
    val dir = tmpDir("csv") + "/t"
    CorpusSources.writeCsv(d, dir)
    val back = CorpusSources.readCsv(spark, dir,
      Some("id BIGINT, s STRING, x DOUBLE"), header = true, multiLine = true)
    assert(back.orderBy("id").collect().toSeq == d.orderBy("id").collect().toSeq)
  }

  test("load_jsonl / write_jsonl stages chain through a YAML pipeline") {
    val src = tmpDir("stage") + "/in"
    CorpusSources.writeJsonl(
      Seq((0L, "alpha beta"), (1L, "gamma")).toDF("doc_id", "text"), src)
    val out = tmpDir("stage") + "/out"
    val yaml =
      s"""stages:
         |  - load_jsonl:
         |      path: $src
         |      schema: "doc_id BIGINT, text STRING"
         |  - text_tokens: {}
         |  - write_jsonl:
         |      path: $out
         |""".stripMargin
    val res = operators.Pipeline.run(spark,
      meds.MedsData(spark.emptyDataFrame, spark.emptyDataFrame, spark.emptyDataFrame),
      config.PipelineConfig.fromYaml(yaml).stages).data
    assert(res.columns.contains("n_tokens"))
    val written = CorpusSources.readJsonl(spark, out,
      Some("doc_id BIGINT, text STRING, n_tokens INT, n_subwords INT"))
    assert(written.count() == 2)
    // config-time schema validation fails fast with the stage named
    val bad = intercept[IllegalArgumentException] {
      config.PipelineConfig.fromYaml(
        "stages:\n  - load_jsonl:\n      path: /x\n      schema: \"not a ddl ((\"\n")
    }
    assert(bad.getMessage.contains("load_jsonl"))
  }
}
