package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.ops._
import graft.functions.GraftFunctions

/** Dedup / similarity / text / multimodal operator behavior. */
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

  test("embedding near-dup pairs within blocks above threshold") {
    val embs = Seq(
      (0L, Array(1.0, 0.0, 0.0), 0),
      (1L, Array(0.999, 0.04, 0.0), 0), // near dup of 0
      (2L, Array(0.0, 1.0, 0.0), 0),
      (3L, Array(1.0, 0.0, 0.0), 1) // same vector, different block → not compared
    ).toDF("vec_id", "embedding", "label")
    val pairs = Dedup.embeddingPairs(embs, "vec_id", "embedding", col("label"), 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("embeddingPairs maxBlock guard: hot block sub-buckets, near-dups still found") {
    val rng = new scala.util.Random(31)
    // hot block "h": 60 vectors = 20 near-identical triples (base + tiny
    // jitter, pairwise cos ~1) scattered across orthants so sub-bucketing
    // splits the block; cold block "c": 4 vectors, stays exact
    val hot = (0 until 20).flatMap { g =>
      val base = Array.fill(8)(rng.nextGaussian())
      (0 until 3).map(j =>
        (g * 3L + j, base.map(_ + rng.nextGaussian() * 1e-4), "h"))
    }
    val cold = (0 until 4).map(i => (100L + i, Array.fill(8)(rng.nextGaussian()), "c"))
    val embs = (hot ++ cold).toDF("vec_id", "embedding", "label")
    val unguarded = Dedup.embeddingPairs(embs, "vec_id", "embedding", col("label"), 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val guarded = Dedup.embeddingPairs(embs, "vec_id", "embedding", col("label"), 0.999,
      maxBlock = Some(10))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every true near-dup pair (within a jitter triple) survives the guard:
    // near-identical vectors agree on coordinate signs, so triples co-bucket
    val trueDups = (0 until 20).flatMap { g =>
      val ids = (0 until 3).map(g * 3L + _)
      for { a <- ids; b <- ids if a < b } yield (a, b)
    }.toSet
    assert(trueDups.subsetOf(guarded), s"missing: ${trueDups -- guarded}")
    // the guard never invents pairs and the cold block is untouched (exact)
    assert(guarded.subsetOf(unguarded))
    // maxBlock=None is plan-level zero-cost: no sub-bucket column, no
    // oversized-block aggregate, no guard broadcast anywhere in the plan
    val nonePlan = Dedup.embeddingPairs(embs, "vec_id", "embedding",
      col("label"), 0.999).queryExecution.executedPlan.toString
    assert(!nonePlan.contains("__bucket") && !nonePlan.contains("__bn"))
  }
}

class RedactionSpec extends SparkSpec {
  import spark.implicits._
  import graft.ops.Redaction

  test("redacts emails, phones, IPs, SSNs with typed sentinels; counts match") {
    val d = Seq(
      (1L, "mail bob.smith+spam@sub.example.co.uk or (555) 123-4567 ok"),
      (2L, "server at 10.0.42.7 and 192.168.0.255 no phone"),
      (3L, "ssn 123-45-6789 and +1 555-123-4567 and a@b.io"),
      (4L, "clean text with version 1.2 and year 2024"),
      (5L, "")
    ).toDF("doc_id", "text")
    val out = d.select((col("doc_id") +:
      Redaction.redact(col("text")).as("r") +:
      Redaction.piiCounts(col("text"))): _*)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(out(1L)._1 == "mail <EMAIL> or <PHONE> ok")
    assert(out(1L)._2 == 1L && out(1L)._3 == 1L)
    assert(out(2L)._1 == "server at <IP> and <IP> no phone" && out(2L)._4 == 2L)
    assert(out(3L)._1 == "ssn <SSN> and <PHONE> and <EMAIL>")
    // SSN-shaped strings also match nothing else: fixed order keeps one sentinel
    assert(out(3L)._5 == 1L && out(3L)._3 == 1L && out(3L)._2 == 1L)
    // version numbers / years / short dotted strings are NOT over-matched
    assert(out(4L)._1 == "clean text with version 1.2 and year 2024")
    assert(out(4L)._2 + out(4L)._3 + out(4L)._4 + out(4L)._5 == 0L)
    assert(out(5L)._1 == "")
  }

  test("kind selection is validated and order-independent") {
    val d = Seq((1L, "a@b.io and 10.0.0.1")).toDF("doc_id", "text")
    val r = d.select(Redaction.redact(col("text"), Seq("ipv4", "email")).as("r")).head()
    assert(r.getString(0) == "<EMAIL> and <IP>")
    // email-only: the IP survives
    val e = d.select(Redaction.redact(col("text"), Seq("email")).as("r")).head()
    assert(e.getString(0) == "<EMAIL> and 10.0.0.1")
    intercept[IllegalArgumentException] {
      Redaction.redact(col("text"), Seq("passport"))
    }
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

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def embsDf = {
    val rng = new scala.util.Random(7)
    (0 until 200).map { i =>
      (i.toLong, Array.fill(16)(rng.nextGaussian().toFloat), i % 4)
    }.toDF("vec_id", "embedding", "label")
      .withColumn("embedding", col("embedding").cast("array<double>"))
  }

  test("topK returns exact k nearest by cosine") {
    val q = Seq.fill(16)(0.1f)
    val brute = Similarity.bruteForceScores(embsDf, "vec_id", "embedding", q)
      .orderBy(col("cos").desc, col("vec_id")).limit(5)
      .collect().map(_.getLong(0)).toSeq
    val topk = Similarity.topK(embsDf, "vec_id", "embedding", q, 5)
      .collect().map(_.getLong(0)).toSeq
    assert(topk == brute)
  }

  test("IVF with all cells probed equals brute force") {
    val q = Seq.fill(16)(0.25f)
    val ivf = Similarity.ivfTopK(embsDf, "vec_id", "label", "embedding", q, k = 10, nProbe = 4)
      .collect().map(_.getLong(0)).toSeq
    val brute = Similarity.topK(embsDf, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSeq
    assert(ivf == brute)
  }

  test("IVF nProbe=1 is a subset of one cell; recall is reasonable") {
    val q = Seq.fill(16)(0.25f)
    // nProbe=1: every result must come from exactly ONE label cell — the
    // bounded-scan property that makes IVF a scale path
    val labelOf = embsDf.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val one = Similarity.ivfTopK(embsDf, "vec_id", "label", "embedding", q, k = 10, nProbe = 1)
      .collect().map(_.getLong(0))
    assert(one.nonEmpty && one.map(labelOf).toSet.size == 1,
      s"nProbe=1 results span cells: ${one.map(labelOf).toSet}")
    val ivf = Similarity.ivfTopK(embsDf, "vec_id", "label", "embedding", q, k = 10, nProbe = 2)
      .collect().map(_.getLong(0)).toSet
    val brute = Similarity.topK(embsDf, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSet
    assert(ivf.intersect(brute).size >= 4) // probing half the cells → partial recall
  }

  test("LSH bucket search returns only same-bucket candidates, exact within") {
    val q = Seq.fill(16)(0.3f)
    val got = Similarity.lshTopK(embsDf, "vec_id", "embedding", q, k = 5, dims = 0 until 4)
    val bucketed = embsDf.withColumn("b",
      Similarity.signBucket(col("embedding"), 0 until 4)).filter(col("b") === 15)
    assert(got.count() <= 5)
    val gotIds = got.collect().map(_.getLong(0)).toSet
    val allowed = bucketed.collect().map(_.getAs[Long]("vec_id")).toSet
    assert(gotIds.subsetOf(allowed))
  }

  test("kmeans cells: deterministic, clusters co-assigned, IVF recall") {
    val rng = new scala.util.Random(3)
    // 3 planted clusters around orthogonal axes, small noise
    val pts = (0 until 60).map { i =>
      val axis = i % 3
      val v = Array.tabulate(8)(d =>
        (if (d == axis) 1.0 else 0.0) + rng.nextGaussian() * 0.05)
      (i.toLong, v, axis)
    }
    val df = pts.map { case (id, v, _) => (id, v) }.toDF("vec_id", "embedding")
    val a1 = Similarity.kmeansAssign(df, "vec_id", "embedding", k = 3, iters = 3)
    val a2 = Similarity.kmeansAssign(df, "vec_id", "embedding", k = 3, iters = 3)
    val cells1 = a1.select("vec_id", "__cell").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val cells2 = a2.select("vec_id", "__cell").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(cells1 == cells2) // deterministic
    // after Lloyd rounds, each planted cluster maps to exactly one cell
    val byAxis = pts.groupBy(_._3).view.mapValues(_.map(p => cells1(p._1)).toSet)
    byAxis.foreach { case (axis, cells) =>
      assert(cells.size == 1, s"cluster $axis split across cells $cells")
    }
    // IVF over kmeans cells with all cells probed = brute force
    val q = Seq.tabulate(8)(d => if (d == 0) 1f else 0f)
    val ivf = Similarity.ivfTopKKmeans(df, "vec_id", "embedding", q,
      k = 5, nCells = 3, nProbe = 3)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val brute = Similarity.topK(df, "vec_id", "embedding", q, 5)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ivf == brute)
    // persisted index round-trip: build once (same kmeans cells), query off
    // the stored centroids/assignments — identical to the rebuild path
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf_spec").toString
    Similarity.buildIvfIndexKmeans(df, "vec_id", "embedding", tmp,
      nCells = 3, iters = 3)
    val indexed = Similarity.ivfTopKIndexed(df, "vec_id", "embedding", tmp,
      q, k = 5, nProbe = 3)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(indexed == brute)
  }

  test("semDedup: kmeans path co-clusters exact dups and keeps min id") {
    val rng = new scala.util.Random(11)
    // 15 distinct noisy axis vectors, each emitted twice (ids 2j, 2j+1):
    // exact-duplicate embeddings must land in the same kmeans cell after a
    // Lloyd round (identical vectors -> identical cell cosines), so every
    // pair collapses to its min id; distinct vectors stay (cos ~0.76 at
    // noise 0.2, far below the 0.99 threshold)
    val vecs = (0 until 15).map { j =>
      val axis = j % 3
      Array.tabulate(8)(d => (if (d == axis) 1.0 else 0.0) + rng.nextGaussian() * 0.2)
    }
    val rows = vecs.zipWithIndex.flatMap { case (v, j) =>
      Seq((2L * j, v), (2L * j + 1, v)) }
    val df = rows.toDF("vec_id", "embedding")
    val out = Dedup.semDedup(df, "vec_id", "embedding", threshold = 0.99,
      k = 3, iters = 2)
    assert(out.columns.toSeq == Seq("vec_id", "embedding")) // no __cell leak
    val ids = out.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ids == (0 until 15).map(_ * 2L).toSet)
    // a missing precomputed cluster column fails fast
    intercept[IllegalArgumentException] {
      Dedup.semDedup(df, "vec_id", "embedding", clusterCol = Some("nope")) }
  }

  test("knnJoin gives each row k ranked neighbors within its block") {
    val out = Similarity.knnJoin(embsDf, embsDf, "vec_id", "embedding", "label", k = 3)
    assert(out.filter(col("id_l") === 0).count() == 3)
    val ranks = out.filter(col("id_l") === 0).orderBy("rank")
      .collect().map(r => r.getAs[Double]("cos"))
    assert(ranks.sameElements(ranks.sorted.reverse)) // descending similarity
  }

  test("knnJoin hot-block cap: oversized block sub-buckets, small blocks stay exact") {
    // one dominant block of 40 vectors (4 sign-quadrant groups of 10 in dims
    // 0-1) plus a small block of 5 — the skew shape that degenerates an
    // uncapped block join
    def vec(i: Int, hot: Boolean): Seq[Double] = {
      val s0 = if ((i / 10) % 2 == 0) 1.0 else -1.0
      val s1 = if ((i / 20) % 2 == 0) 1.0 else -1.0
      Seq(s0 * (1.0 + i % 10 * 0.01), s1 * (2.0 + i % 10 * 0.01),
        0.1 * (i % 7), 0.2, 0.3, 0.1, 0.05, if (hot) 0.4 else -0.4)
    }
    val rows = (0 until 40).map(i => (i.toLong, "hot", vec(i, hot = true))) ++
      (100 until 105).map(i => (i.toLong, "small", vec(i, hot = false)))
    val df = rows.toDF("vec_id", "label", "embedding")
    val dims = 0 until 2
    val capped = Similarity.knnJoin(df, df, "vec_id", "embedding", "label",
      k = 3, maxBlockSize = Some(20), subBucketDims = dims)
    val exact = Similarity.knnJoin(df, df, "vec_id", "embedding", "label", k = 3)
    // the small block (5 <= cap) is bit-identical to the unguarded join
    assert(collectSet(capped.filter(col("id_l") >= 100L)) ==
      collectSet(exact.filter(col("id_l") >= 100L)))
    // every hot-block neighbor shares the query row's sign bucket (the
    // candidate set is bounded to the sub-bucket, not the whole block)
    val bucket = rows.map { case (id, _, v) =>
      id -> dims.zipWithIndex.map { case (d, b) => if (v(d) >= 0) 1L << b else 0L }.sum
    }.toMap
    val hotPairs = capped.filter(col("id_l") < 100L)
      .select("id_l", "id_r").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(hotPairs.nonEmpty)
    hotPairs.foreach { case (a, b) => assert(bucket(a) == bucket(b), s"($a,$b)") }
    // ranked top-k per row still holds
    val perRow = capped.groupBy("id_l").count().agg(max("count")).head().getLong(0)
    assert(perRow <= 3)
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

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("media plumbing: payload bytes, digests, real decode, frame explosion") {
    val docs = Seq((0L, "hello"), (1L, "worlds")).toDF("doc_id", "text")
    val media = Multimodal.asMediaTable(docs, "doc_id", "text")
    val meta = Multimodal.payloadMetadata(media).collect()
      .map(r => r.getLong(0) -> r.getAs[Int]("n_bytes")).toMap
    assert(meta == Map(0L -> 5, 1L -> 6))
    // text payloads are not images: the real decoder must yield null-field
    // rows (the corrupt-blob contract), never throw
    val dec = Multimodal.decodeBatched(media).orderBy("media_id").collect()
    assert(dec.length == 2 && dec.forall(r =>
      r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3) && r.isNullAt(4)))
    // frame sampling over non-image payloads: the n-row structural
    // explosion survives, frame fields are null (corrupt-blob contract)
    val frames = Multimodal.sampleFrames(media, 3).collect()
    assert(frames.length == 6)
    assert(frames.forall(r => r.isNullAt(2) && r.isNullAt(5)))
    // resize over undecodable payloads: target dims survive, scales/digest null
    val rz = Multimodal.resizeImages(media, 64, 32).orderBy("media_id").head()
    assert(rz.getLong(1) == 64L && rz.getLong(2) == 32L)
    assert(rz.isNullAt(3) && rz.isNullAt(4) && rz.isNullAt(5))
  }

  /** The reference pixel formula (ImageExpressions.scala:17-19), Scala-side. */
  private def synthPixel(id: Long, s: Long, ch: Int): Int = {
    val b = id % 251
    val v = ch match {
      case 0 => b + s
      case 1 => b + 2 * s + 7
      case _ => b + 3 * s + 13
    }
    (v % 256).toInt
  }

  test("decode parity: PngSynth payload -> ImageIO codec -> pixel formula, exact") {
    val ids = Seq(0L, 1L, 7L, 42L, 250L, 251L, 1000L)
    val media = ids.toDF("media_id")
      .select(col("media_id"),
        graft.plans.PngSynth.png(col("media_id"),
          (col("media_id") % 8 + 4).cast("int"),
          (col("media_id") % 7 + 3).cast("int")).as("payload"))
    val got = Multimodal.decodeBatched(media).collect()
      .map(r => r.getLong(0) -> r).toMap
    ids.foreach { id =>
      val w = (id % 8 + 4).toInt
      val h = (id % 7 + 3).toInt
      var sum = 0L
      (0L until w.toLong * h).foreach { s =>
        sum += synthPixel(id, s, 0) + synthPixel(id, s, 1) + synthPixel(id, s, 2)
      }
      val r = got(id)
      assert(r.getString(1) == "png", s"id=$id format")
      assert(r.getLong(2) == w && r.getLong(3) == h, s"id=$id dims")
      assert(r.getLong(4) == sum / (3L * w * h), s"id=$id mean intensity")
    }
    // header-parse agreement: imageDimensions reads the same dims without decode
    val hdr = media.select(col("media_id"),
        Multimodal.imageDimensions(col("payload")).as("d"))
      .collect().map(r => r.getLong(0) ->
        (r.getStruct(1).getString(0), r.getStruct(1).getLong(1), r.getStruct(1).getLong(2))).toMap
    ids.foreach { id =>
      assert(hdr(id) == (("png", id % 8 + 4, id % 7 + 3)), s"id=$id header dims")
    }
  }

  test("decode parity: JpegSynth payload -> JDK JPEG codec -> block formula, exact") {
    // the LOSSY member of the codec matrix: DC-only blocks with q00 = 8 and
    // chroma pinned at 128 decode bit-exactly (JpegSynth doc has the
    // argument); this test is the empirical leg — JDK decoder vs formula
    val ids = Seq(0L, 1L, 7L, 42L, 250L, 251L, 123456789L)
    val media = ids.toDF("media_id")
      .select(col("media_id"),
        graft.plans.JpegSynth.jpeg(col("media_id"),
          (col("media_id") % 5 + 1).cast("int"),
          (col("media_id") % 3 + 1).cast("int")).as("payload"))
    val got = Multimodal.decodeBatched(media).collect()
      .map(r => r.getLong(0) -> r).toMap
    ids.foreach { id =>
      val wb = (id % 5 + 1).toInt; val hb = (id % 3 + 1).toInt
      val nb = wb * hb
      val sum = (0L until nb.toLong)
        .map(k => graft.plans.JpegSynth.blockGray(id, k).toLong).sum
      val r = got(id)
      assert(r.getString(1) == "jpeg", s"id=$id format")
      assert(r.getLong(2) == wb * 8 && r.getLong(3) == hb * 8, s"id=$id dims")
      // mean over all RGB samples = sum(64·3·g_k) / (3·64·nb) = sum(g)/nb
      assert(r.getLong(4) == sum / nb, s"id=$id mean intensity")
    }
    // every pixel of every block, not just the mean: decode driver-side
    ids.take(3).foreach { id =>
      val wb = (id % 5 + 1).toInt; val hb = (id % 3 + 1).toInt
      val bytes = graft.plans.JpegSynth.compute(id, wb, hb)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      for (y <- 0 until hb * 8; x <- 0 until wb * 8) {
        val g = graft.plans.JpegSynth.blockGray(id, (y / 8).toLong * wb + x / 8)
        val p = img.getRGB(x, y)
        assert(((p >>> 16) & 0xff) == g && ((p >>> 8) & 0xff) == g &&
          (p & 0xff) == g, s"id=$id pixel ($x,$y)")
      }
    }
    // null contract: out-of-range block counts yield a null payload (and
    // so a null-field decoded row), never a thrown scan failure
    assert(graft.plans.JpegSynth.compute(1L, 0, 1) == null)
    assert(graft.plans.WavSynth.compute(1L, -1, 8000) == null)
    val badRow = Multimodal.decodeBatched(
      Seq(5L).toDF("media_id").select(col("media_id"),
        graft.plans.JpegSynth.jpeg(col("media_id"), lit(-1), lit(1)).as("payload")))
      .head()
    assert(badRow.isNullAt(1) && badRow.isNullAt(4))
  }

  test("video parity: AviSynth MJPEG payload -> container walk + JDK JPEG -> per-frame formula") {
    val ids = Seq(0L, 1L, 7L, 42L, 250L, 251L, 999L)
    val media = ids.toDF("media_id")
      .select(col("media_id"),
        graft.plans.AviSynth.avi(col("media_id"),
          (col("media_id") % 4 + 1).cast("int"),
          (col("media_id") % 2 + 1).cast("int"),
          (col("media_id") % 3 + 2).cast("int")).as("payload"))
    val got = Multimodal.videoFrames(media).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    ids.foreach { id =>
      val wb = (id % 4 + 1).toInt; val hb = (id % 2 + 1).toInt
      val nf = (id % 3 + 2).toInt
      val nb = wb * hb
      (0 until nf).foreach { f =>
        val sum = (0L until nb.toLong)
          .map(k => graft.plans.JpegSynth.blockGray(id + 89L * f, k).toLong).sum
        val r = got((id, f.toLong))
        assert(r.getString(2) == "avi" && r.getString(3) == "jpeg",
          s"id=$id f=$f container/format")
        assert(r.getLong(4) == wb * 8 && r.getLong(5) == hb * 8, s"id=$id f=$f dims")
        assert(r.getLong(6) == sum / nb, s"id=$id f=$f mean intensity")
      }
    }
    assert(got.size == ids.map(id => (id % 3 + 2).toInt).sum,
      "one row per (payload, frame), nothing extra")
    // independent leg: slice the frame bytes out with plain RIFF arithmetic
    // and hand them to ImageIO DIRECTLY — a videoFrames bug cannot hide
    // behind its own parser
    val id = 42L
    val bytes = graft.plans.AviSynth.compute(id, 3, 2, 4)
    def le32(o: Int): Int = (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8) |
      ((bytes(o + 2) & 0xff) << 16) | ((bytes(o + 3) & 0xff) << 24)
    assert(new String(bytes, 0, 4, "US-ASCII") == "RIFF" &&
      new String(bytes, 8, 4, "US-ASCII") == "AVI ")
    assert(le32(4) == bytes.length - 8, "RIFF size covers the whole payload")
    var pos = 12
    var framesSeen = 0
    while (pos + 8 <= bytes.length) {
      val fcc = new String(bytes, pos, 4, "US-ASCII")
      val size = le32(pos + 4)
      if (fcc == "LIST" && new String(bytes, pos + 8, 4, "US-ASCII") == "movi") {
        var sp = pos + 12
        while (sp + 8 <= pos + 8 + size) {
          assert(new String(bytes, sp, 4, "US-ASCII") == "00dc")
          val fsz = le32(sp + 4)
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
            java.util.Arrays.copyOfRange(bytes, sp + 8, sp + 8 + fsz)))
          val g0 = graft.plans.JpegSynth.blockGray(id + 89L * framesSeen, 0L)
          assert((img.getRGB(0, 0) & 0xff) == g0,
            s"frame $framesSeen block-0 gray via direct ImageIO")
          framesSeen += 1
          sp += 8 + fsz + (fsz & 1)
        }
      }
      pos += 8 + size + (size & 1)
    }
    assert(framesSeen == 4, "movi carries exactly nf frames")
    // corrupt-blob contract: non-AVI bytes and truncated containers yield
    // ONE null-fielded row, never a scan failure
    val bad = Seq(
      (1L, "not an avi".getBytes("US-ASCII")),
      (2L, java.util.Arrays.copyOfRange(bytes, 0, bytes.length / 2)),
      (3L, null.asInstanceOf[Array[Byte]]))
      .toDF("media_id", "payload")
    val badRows = Multimodal.videoFrames(bad).orderBy("media_id").collect()
    assert(badRows.length == 3 && badRows.forall(r =>
      r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(6)))
    // partitioning invariance: the per-partition cached decoder is an
    // optimization, not a semantic
    val rep = Multimodal.videoFrames(media.repartition(7)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(6))).toSet
    assert(rep == got.values.map(r => (r.getLong(0), r.getLong(1), r.getLong(6))).toSet)
  }

  test("frame parity: GifSynth payload -> ImageIO GIF reader -> per-frame formula, exact") {
    val ids = Seq(0L, 1L, 9L, 250L, 777L)
    val media = ids.toDF("media_id")
      .select(col("media_id"),
        graft.plans.GifSynth.gif(col("media_id"),
          (col("media_id") % 6 + 3).cast("int"),
          (col("media_id") % 5 + 3).cast("int"),
          (col("media_id") % 4 + 2).cast("int")).as("payload"))
    val got = Multimodal.sampleFrames(media, n = 4).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r).toMap
    val md = java.security.MessageDigest.getInstance("SHA-256")
    ids.foreach { id =>
      val w = (id % 6 + 3).toInt; val h = (id % 5 + 3).toInt
      val frames = (id % 4 + 2).toInt
      (0 until 4).foreach { j =>
        val idx = (j.toLong * (frames - 1) / 3).toInt
        val vs = (0 until w * h).map(s => ((id % 251 + s + 17L * idx) % 256).toInt)
        md.reset()
        val expect = md.digest(vs.map(v => f"$v%02x").mkString.getBytes("US-ASCII"))
          .map("%02x".format(_)).mkString
        val r = got((id, j))
        assert(r.getLong(2) == idx && r.getLong(3) == frames, s"id=$id j=$j idx")
        assert(r.getLong(4) == 3L * vs.sum / (3L * w * h), s"id=$id j=$j mean")
        assert(r.getString(5) == expect, s"id=$id j=$j digest")
      }
    }
  }

  test("audio parity: WavSynth payload -> javax.sound decoder -> sample formula, exact") {
    val ids = Seq(0L, 1L, 8L, 42L, 250L, 251L, 999L)
    val media = ids.toDF("media_id")
      .select(col("media_id"),
        graft.plans.WavSynth.wav(col("media_id"),
          (col("media_id") % 50 + 10).cast("int"),
          (col("media_id") % 3 * 4000 + 8000).cast("int")).as("payload"))
    val got = Multimodal.decodeAudio(media).collect()
      .map(r => r.getLong(0) -> r).toMap
    val md = java.security.MessageDigest.getInstance("SHA-256")
    ids.foreach { id =>
      val n = (id % 50 + 10).toInt
      val rate = (id % 3 * 4000 + 8000).toInt
      val v16s = (0 until n).map(i => ((id % 251 + 37L * i) % 65536).toInt)
      val abss = v16s.map(v => if (v >= 32768) 65536 - v else v)
      md.reset()
      val expect = md.digest(v16s.map(v => f"$v%04x").mkString.getBytes("US-ASCII"))
        .map("%02x".format(_)).mkString
      val r = got(id)
      assert(r.getString(1) == "wave", s"id=$id format")
      assert(r.getLong(2) == rate && r.getLong(3) == 1L && r.getLong(4) == 16L,
        s"id=$id declared format fields")
      assert(r.getLong(5) == n, s"id=$id frames")
      assert(r.getLong(6) == n.toLong * 1000000L / rate, s"id=$id duration")
      assert(r.getLong(7) == abss.map(_.toLong).sum / n, s"id=$id mean")
      assert(r.getLong(8) == abss.max.toLong, s"id=$id peak")
      assert(r.getString(9) == expect, s"id=$id digest")
    }
    // corrupt / non-audio payloads: null-fielded rows, never a scan failure
    val bad = Seq((0L, Array[Byte](82, 73, 70, 70)), (1L, "not audio".getBytes))
      .toDF("media_id", "payload")
    val badRows = Multimodal.decodeAudio(bad).collect()
    assert(badRows.length == 2 && badRows.forall(r => (1 to 9).forall(r.isNullAt)))
  }

  test("ulaw parity: AuSynth payload -> AU reader + g711 expansion -> formula, exact") {
    // reference expansion (the oracle's arithmetic, Scala-side)
    def expand(u: Int): Int = {
      val v = ~u & 0xff
      val t = (((v & 0x0f) << 3) + 0x84) << ((v & 0x70) >> 4)
      if ((v & 0x80) != 0) 0x84 - t else t - 0x84
    }
    // cross-check the arithmetic against the JDK's OWN μ-law codec: decode
    // an AU payload through AudioSystem's ULAW→PCM_SIGNED conversion and
    // compare sample-by-sample — two independent implementations of G.711
    val id = 42L
    val n = 256 // one full period: every μ-law code point
    val au = graft.plans.AuSynth.compute(id, n, 8000)
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(au))
    val pcm = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false), ais)
    val raw = pcm.readAllBytes()
    assert(raw.length == 2 * n)
    (0 until n).foreach { i =>
      val jdk = ((raw(2 * i + 1) << 8) | (raw(2 * i) & 0xff)).toShort.toInt
      val mine = expand(graft.plans.AuSynth.ulawByte(id, i))
      assert(jdk == mine, s"sample $i: jdk=$jdk g711=$mine")
    }
    // engine path: decodeAudio over AU payloads matches the formula
    val ids = Seq(0L, 1L, 8L, 250L, 999L)
    val media = ids.toDF("media_id")
      .select(col("media_id"),
        graft.plans.AuSynth.au(col("media_id"),
          (col("media_id") % 60 + 20).cast("int"), lit(8000)).as("payload"))
    val got = Multimodal.decodeAudio(media).collect()
      .map(r => r.getLong(0) -> r).toMap
    val md = java.security.MessageDigest.getInstance("SHA-256")
    ids.foreach { mid =>
      val cnt = (mid % 60 + 20).toInt
      val svs = (0 until cnt).map(i => expand(graft.plans.AuSynth.ulawByte(mid, i)))
      md.reset()
      val expect = md.digest(svs.map(v => f"${v & 0xffff}%04x").mkString
        .getBytes("US-ASCII")).map("%02x".format(_)).mkString
      val r = got(mid)
      assert(r.getString(1) == "au", s"id=$mid format")
      assert(r.getLong(2) == 8000L && r.getLong(3) == 1L && r.getLong(4) == 8L,
        s"id=$mid declared fields")
      assert(r.getLong(5) == cnt && r.getLong(6) == cnt.toLong * 1000000L / 8000,
        s"id=$mid frames/duration")
      assert(r.getLong(7) == svs.map(v => math.abs(v).toLong).sum / cnt, s"id=$mid mean")
      assert(r.getLong(8) == svs.map(v => math.abs(v).toLong).max, s"id=$mid peak")
      assert(r.getString(9) == expect, s"id=$mid digest")
    }
  }

  test("ima adpcm parity: AdpcmSynth payload -> engine predictor decode -> recurrence, exact") {
    // independent replay of the published IMA recurrence (the oracle's
    // arithmetic, Scala-side): per block, predictor/index seed 0/0, the
    // header predictor is sample 0, nibbles decode low-first
    val step = Array(7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25,
      28, 31, 34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118,
      130, 143, 157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449,
      494, 544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552,
      1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428,
      4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635,
      13899, 15289, 16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767)
    def samples(id: Long, n: Int): IndexedSeq[Int] =
      (0 until (n + 16) / 17).flatMap { blk =>
        var pred = 0; var idx = 0
        Iterator.single(0) ++ (0 until 16).iterator.map { j =>
          val nib = ((id % 251 + 7L * (blk * 16 + j)) % 16).toInt
          val s = step(idx)
          var d = s >> 3
          if ((nib & 4) != 0) d += s
          if ((nib & 2) != 0) d += s >> 1
          if ((nib & 1) != 0) d += s >> 2
          pred = math.max(-32768, math.min(32767,
            if ((nib & 8) != 0) pred - d else pred + d))
          idx = math.max(0, math.min(88, idx +
            (if ((nib & 7) < 4) -1 else 2 * ((nib & 7) - 3))))
          pred
        }
      }.take(n)
    val ids = Seq(0L, 1L, 8L, 42L, 250L, 251L, 999L)
    val media = ids.toDF("media_id")
      .select(col("media_id"),
        graft.plans.AdpcmSynth.adpcm(col("media_id"),
          (col("media_id") % 80 + 20).cast("int"),
          (col("media_id") % 3 * 4000 + 8000).cast("int")).as("payload"))
    val got = Multimodal.decodeAudio(media).collect()
      .map(r => r.getLong(0) -> r).toMap
    val md = java.security.MessageDigest.getInstance("SHA-256")
    ids.foreach { id =>
      val n = (id % 80 + 20).toInt
      val rate = (id % 3 * 4000 + 8000).toInt
      val svs = samples(id, n)
      md.reset()
      val expect = md.digest(svs.map(v => f"${v & 0xffff}%04x").mkString
        .getBytes("US-ASCII")).map("%02x".format(_)).mkString
      val r = got(id)
      assert(r.getString(1) == "wave", s"id=$id format")
      assert(r.getLong(2) == rate && r.getLong(3) == 1L && r.getLong(4) == 4L,
        s"id=$id declared fields")
      assert(r.getLong(5) == n && r.getLong(6) == n.toLong * 1000000L / rate,
        s"id=$id frames/duration")
      assert(r.getLong(7) == svs.map(v => math.abs(v).toLong).sum / n, s"id=$id mean")
      assert(r.getLong(8) == svs.map(v => math.abs(v).toLong).max, s"id=$id peak")
      assert(r.getString(9) == expect, s"id=$id digest")
    }
    // malformed IMA payloads take the null row, never a scan failure — and
    // a PCM WAVE is untouched by the ADPCM branch (provider path decodes it)
    val good = graft.plans.AdpcmSynth.compute(3L, 40, 8000)
    // header intact, data chunk declared longer than the buffer holds
    val truncated = java.util.Arrays.copyOfRange(good, 0, good.length - 8)
    val stereo = good.clone()
    stereo(22) = 2 // channels=2: unsupported layout for the mono decoder
    val rows = Multimodal.decodeAudio(Seq(
      (0L, truncated), (1L, stereo),
      (2L, graft.plans.WavSynth.compute(7L, 25, 8000))
    ).toDF("media_id", "payload")).collect().sortBy(_.getLong(0))
    assert((1 to 9).forall(rows(0).isNullAt), "truncated adpcm -> null row")
    assert((1 to 9).forall(rows(1).isNullAt), "stereo adpcm -> null row")
    assert(rows(2).getLong(4) == 16L, "pcm wave still takes the provider path")
  }

  test("audio decode: long clips cross the frame buffer; stereo halves frames") {
    // 10000 samples > the decoder's 4096-frame read buffer: statistics must
    // be identical to a single-buffer pass (streamed digest, no truncation)
    val id = 17L
    val long = Seq((id, graft.plans.WavSynth.compute(id, 10000, 8000)))
      .toDF("media_id", "payload")
    val r = Multimodal.decodeAudio(long).head()
    val v16s = (0 until 10000).map(i => ((id % 251 + 37L * i) % 65536).toInt)
    val abss = v16s.map(v => if (v >= 32768) 65536 - v else v)
    assert(r.getLong(5) == 10000L && r.getLong(7) == abss.map(_.toLong).sum / 10000)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val expect = md.digest(v16s.map(v => f"$v%04x").mkString.getBytes("US-ASCII"))
      .map("%02x".format(_)).mkString
    assert(r.getString(9) == expect)
    // stereo: patch the mono header (channels@22=2, byteRate@28=4*rate,
    // blockAlign@32=4) — same PCM bytes now read as n/2 interleaved frames;
    // per-sample statistics are unchanged, frame count and duration halve
    val st = graft.plans.WavSynth.compute(id, 10000, 8000).clone()
    st(22) = 2; st(28) = ((8000 * 4) & 0xff).toByte
    st(29) = (((8000 * 4) >> 8) & 0xff).toByte; st(32) = 4
    val r2 = Multimodal.decodeAudio(
      Seq((id, st)).toDF("media_id", "payload")).head()
    assert(r2.getLong(3) == 2L && r2.getLong(5) == 5000L)
    assert(r2.getLong(6) == 5000L * 1000000L / 8000)
    assert(r2.getLong(7) == r.getLong(7) && r2.getString(9) == r.getString(9))
  }

  test("audio decode: big-endian AIFF exercises the decoder's byte-order branch") {
    // hand-built minimal AIFF (FORM/AIFF + COMM with the rate as an 80-bit
    // extended float + SSND), samples big-endian from the same WavSynth
    // formula: statistics and digest must match the little-endian WAV path
    val id = 42L; val n = 300
    val v16s = (0 until n).map(i => graft.plans.WavSynth.sample(id, i))
    val bb = java.nio.ByteBuffer.allocate(12 + 26 + 16 + 2 * n)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    bb.put("FORM".getBytes("US-ASCII")); bb.putInt(4 + 26 + 16 + 2 * n)
    bb.put("AIFF".getBytes("US-ASCII"))
    bb.put("COMM".getBytes("US-ASCII")); bb.putInt(18)
    bb.putShort(1); bb.putInt(n); bb.putShort(16)
    // 8000.0 as 80-bit IEEE extended: exp 16383+12, mantissa 0x1F40 << 51
    bb.put(Array[Byte](0x40, 0x0b, 0xfa.toByte, 0, 0, 0, 0, 0, 0, 0))
    bb.put("SSND".getBytes("US-ASCII")); bb.putInt(8 + 2 * n)
    bb.putInt(0); bb.putInt(0)
    v16s.foreach(v => bb.putShort(v.toShort))
    val r = Multimodal.decodeAudio(
      Seq((id, bb.array())).toDF("media_id", "payload")).head()
    val abss = v16s.map(v => if (v >= 32768) 65536 - v else v)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val expect = md.digest(v16s.map(v => f"$v%04x").mkString.getBytes("US-ASCII"))
      .map("%02x".format(_)).mkString
    assert(r.getString(1) == "aiff")
    assert(r.getLong(2) == 8000L && r.getLong(3) == 1L && r.getLong(5) == n)
    assert(r.getLong(7) == abss.map(_.toLong).sum / n)
    assert(r.getLong(8) == abss.max.toLong)
    assert(r.getString(9) == expect)
  }

  test("resize parity: fixed-point bilinear matches an independent integer replay") {
    val ids = Seq(3L, 11L, 123L)
    val media = ids.toDF("media_id")
      .select(col("media_id"),
        graft.plans.PngSynth.png(col("media_id"),
          (col("media_id") % 8 + 4).cast("int"),
          (col("media_id") % 7 + 3).cast("int")).as("payload"))
    val got = Multimodal.resizeImages(media, targetW = 8, targetH = 8)
      .collect().map(r => r.getLong(0) -> r).toMap
    val md = java.security.MessageDigest.getInstance("SHA-256")
    ids.foreach { id =>
      val w = (id % 8 + 4).toInt
      val h = (id % 7 + 3).toInt
      val sb = new StringBuilder
      (0 until 8).foreach { ty =>
        val fy = ty.toLong * (h - 1) * 65536L / 7
        val y0 = (fy >> 16).toInt; val dy = fy & 0xffffL
        val y1 = math.min(y0 + 1, h - 1)
        (0 until 8).foreach { tx =>
          val fx = tx.toLong * (w - 1) * 65536L / 7
          val x0 = (fx >> 16).toInt; val dx = fx & 0xffffL
          val x1 = math.min(x0 + 1, w - 1)
          (0 until 3).foreach { ch =>
            val p00 = synthPixel(id, y0.toLong * w + x0, ch)
            val p01 = synthPixel(id, y0.toLong * w + x1, ch)
            val p10 = synthPixel(id, y1.toLong * w + x0, ch)
            val p11 = synthPixel(id, y1.toLong * w + x1, ch)
            val top = p00 * (65536L - dx) + p01 * dx
            val bot = p10 * (65536L - dx) + p11 * dx
            val v = ((top * (65536L - dy) + bot * dy + (1L << 31)) >> 32).toInt
            sb.append(f"$v%02x")
          }
        }
      }
      md.reset()
      val expect = md.digest(sb.toString.getBytes("US-ASCII"))
        .map("%02x".format(_)).mkString
      val r = got(id)
      assert(r.getLong(1) == 8L && r.getLong(2) == 8L)
      assert(r.getDouble(3) == BigDecimal(w / 8.0).setScale(4,
        BigDecimal.RoundingMode.HALF_UP).toDouble, s"id=$id scale_x")
      assert(r.getString(5) == expect, s"id=$id digest")
    }
  }

  test("imageDimensions parses real PNG/GIF/BMP headers; garbage yields null") {
    def beInt(v: Int): Array[Byte] = Array(
      (v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    def leShort(v: Int): Array[Byte] = Array(v.toByte, (v >> 8).toByte)
    def leInt(v: Int): Array[Byte] = Array(
      v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    // minimal REAL container headers, byte-for-byte per spec
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A) ++
      beInt(13) ++ "IHDR".getBytes ++ beInt(640) ++ beInt(480)
    val gif = "GIF89a".getBytes ++ leShort(320) ++ leShort(200) ++ Array[Byte](0, 0, 0)
    val bmpTopDown = "BM".getBytes ++ leInt(26) ++ leInt(0) ++ leInt(26) ++
      leInt(12) ++ leInt(800) ++ leInt(-600) // negative height = top-down
    val junk = "definitely not an image".getBytes
    val truncatedPng = png.take(12) // signature ok, IHDR cut off
    // minimal REAL JPEG: SOI, APP0 (JFIF shell), a COM segment (exercises
    // the variable-offset walk), then SOF0 with height=1080 width=1920
    def beShort(v: Int): Array[Byte] = Array((v >> 8).toByte, v.toByte)
    val jpeg = Array[Byte](0xFF.toByte, 0xD8.toByte) ++
      Array[Byte](0xFF.toByte, 0xE0.toByte) ++ beShort(16) ++
      "JFIF".getBytes ++ Array.fill[Byte](10)(0) ++
      Array[Byte](0xFF.toByte, 0xFE.toByte) ++ beShort(9) ++ "comment".getBytes ++
      Array[Byte](0xFF.toByte, 0xC0.toByte) ++ beShort(11) ++ Array[Byte](8) ++
      beShort(1080) ++ beShort(1920) ++ Array[Byte](1, 1, 0x11, 0)
    val jpegNoSof = jpeg.take(24) ++ Array[Byte](0xFF.toByte, 0xD9.toByte) // truncated mid-COM
    // SOI then a trailing 0xFF fill-byte run: the skip loop must not walk
    // past the end looking for the length field (regression: AIOOBE)
    val jpegFfRun = Array.fill[Byte](8)(0xFF.toByte)
    jpegFfRun(1) = 0xD8.toByte
    val rows = Seq(
      (1L, png), (2L, gif), (3L, bmpTopDown), (4L, junk), (5L, truncatedPng),
      (6L, null.asInstanceOf[Array[Byte]]), (7L, jpeg), (8L, jpegNoSof),
      (9L, jpegFfRun)
    ).toDF("media_id", "payload")
    val got = rows.select(col("media_id"),
      Multimodal.imageDimensions(col("payload")).as("dim"))
      .collect().map { r =>
        r.getLong(0) -> (if (r.isNullAt(1)) null
          else { val s = r.getStruct(1); (s.getString(0), s.getLong(1), s.getLong(2)) })
      }.toMap
    assert(got(1L) == ("png", 640L, 480L))
    assert(got(2L) == ("gif", 320L, 200L))
    assert(got(3L) == ("bmp", 800L, 600L)) // magnitude of the signed height
    assert(got(4L) == null && got(5L) == null && got(6L) == null)
    assert(got(7L) == ("jpeg", 1920L, 1080L)) // SOF found past APP0 + COM
    assert(got(8L) == null) // truncated before any frame header
    assert(got(9L) == null) // trailing 0xFF run: null, not AIOOBE
  }

  test("audioMetadata parses a real WAV header; chunk order and padding tolerated") {
    def le16(v: Int): Array[Byte] = Array(v.toByte, (v >> 8).toByte)
    def le32(v: Int): Array[Byte] = Array(
      v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    // 2ch 16-bit 44100Hz, 441 frames (10ms); an odd-sized LIST chunk BEFORE
    // fmt exercises the walk + word-alignment padding
    val list = "LIST".getBytes ++ le32(5) ++ "INFOx".getBytes ++ Array[Byte](0) // pad
    val fmt = "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(2) ++ le32(44100) ++
      le32(44100 * 4) ++ le16(4) ++ le16(16)
    val dataBytes = 441 * 4
    val data = "data".getBytes ++ le32(dataBytes) ++ Array.fill[Byte](dataBytes)(0)
    val body = list ++ fmt ++ data
    val wav = "RIFF".getBytes ++ le32(4 + body.length) ++ "WAVE".getBytes ++ body
    val rows = Seq(
      (1L, wav),
      (2L, "RIFFxxxxNOPE".getBytes), // RIFF but not WAVE
      (3L, wav.take(30)) // truncated mid-fmt
    ).toDF("media_id", "payload")
    val got = rows.select(col("media_id"),
      Multimodal.audioMetadata(col("payload")).as("a"))
      .collect().map { r =>
        r.getLong(0) -> (if (r.isNullAt(1)) null else {
          val s = r.getStruct(1)
          (s.getString(0), s.getLong(1), s.getLong(2), s.getLong(3), s.getLong(4),
            s.getDouble(5))
        })
      }.toMap
    assert(got(1L) == ("wav", 2L, 44100L, 16L, 441L, 0.01))
    assert(got(2L) == null && got(3L) == null)
  }

  test("mp3Metadata: ID3v2 skip, false-sync resync, CBR duration; corrupt null") {
    // MPEG1 Layer III 128kbps 44100Hz no-CRC header: FF FB 90 C0
    val header = Array[Byte](0xFF.toByte, 0xFB.toByte, 0x90.toByte, 0xC0.toByte)
    val frames = header ++ Array.fill[Byte](996)(0) // 1000 audio bytes
    // ID3v2.4 tag, 200-byte body (syncsafe 0x00 0x00 0x01 0x48)
    val id3 = "ID3".getBytes ++ Array[Byte](4, 0, 0, 0, 0, 1, 0x48) ++
      Array.fill[Byte](200)(0)
    // tag body containing a false sync with a bad bitrate index (0xF)
    val falseSync = Array[Byte](0xFF.toByte, 0xE2.toByte, 0xF0.toByte, 0)
    val rows = Seq(
      (1L, id3 ++ frames),               // tag skipped
      (2L, frames),                      // bare frame stream
      (3L, falseSync ++ frames),         // resync past the bad candidate
      (4L, "ID3\u0004\u0000\u0000".getBytes), // truncated tag, no frames
      (5L, Array.fill[Byte](64)(0x11))   // no sync at all
    ).toDF("media_id", "payload")
    val got = rows.select(col("media_id"),
      Multimodal.mp3Metadata(col("payload")).as("a"))
      .collect().map { r =>
        r.getLong(0) -> (if (r.isNullAt(1)) null else {
          val s = r.getStruct(1)
          (s.getString(0), s.getLong(1), s.getLong(2), s.getLong(3), s.getLong(4),
            s.getDouble(5))
        })
      }.toMap
    val expect = ("mp3", 3L, 128L, 44100L, 1000L, 1000 * 8.0 / 128000.0)
    assert(got(1L) == expect)
    assert(got(2L) == expect)
    assert(got(3L) == expect) // audio_bytes counts from the REAL header
    assert(got(4L) == null && got(5L) == null)
    // MPEG2 Layer II uses the shared V2 table and the MPEG2 rate row:
    // FF F4 50 C0 = MPEG2, Layer II, idx 5 -> 40kbps, idx 0 -> 22050Hz
    val v2 = Seq((1L, Array[Byte](0xFF.toByte, 0xF4.toByte, 0x50.toByte,
      0xC0.toByte) ++ Array.fill[Byte](96)(0))).toDF("media_id", "payload")
    val s2 = v2.select(Multimodal.mp3Metadata(col("payload")).as("a"))
      .head().getStruct(0)
    assert((s2.getLong(1), s2.getLong(2), s2.getLong(3)) == ((2L, 40L, 22050L)))
  }

  test("videoMetadata walks real MP4 box trees; corrupt payloads yield null") {
    def be32(v: Long): Array[Byte] = Array(
      (v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    def be64(v: Long): Array[Byte] = be32(v >>> 32) ++ be32(v & 0xffffffffL)
    def box(typ: String, content: Array[Byte]): Array[Byte] =
      be32(content.length + 8L) ++ typ.getBytes ++ content
    val ftyp = box("ftyp", "isom".getBytes ++ be32(0x200) ++ "isom".getBytes)
    // full spec-length bodies (parser only reads the leading fields, but the
    // box sizes must bookkeep exactly like a real muxer's output)
    def mvhd0(ts: Int, dur: Int): Array[Byte] =
      box("mvhd", be32(0) ++ be32(0) ++ be32(0) ++ be32(ts) ++ be32(dur) ++
        Array.fill[Byte](80)(0))
    def mvhd1(ts: Int, dur: Long): Array[Byte] =
      box("mvhd", be32(0x01000000L) ++ be64(0) ++ be64(0) ++ be32(ts) ++
        be64(dur) ++ Array.fill[Byte](80)(0))
    def tkhd0(w: Int, h: Int): Array[Byte] =
      box("tkhd", be32(7) ++ be32(0) ++ be32(0) ++ be32(1) ++ be32(0) ++
        be32(0) ++ Array.fill[Byte](16)(0) ++ Array.fill[Byte](36)(0) ++
        be32(w.toLong << 16) ++ be32(h.toLong << 16))
    def tkhd1(w: Int, h: Int): Array[Byte] =
      box("tkhd", be32(0x01000007L) ++ be64(0) ++ be64(0) ++ be32(1) ++
        be32(0) ++ be64(0) ++ Array.fill[Byte](16)(0) ++ Array.fill[Byte](36)(0) ++
        be32(w.toLong << 16) ++ be32(h.toLong << 16))
    def trak(tkhd: Array[Byte]): Array[Byte] = box("trak", tkhd)

    val v0 = ftyp ++ box("moov", mvhd0(1000, 5000) ++ trak(tkhd0(1280, 720)))
    val v1 = ftyp ++ box("moov", mvhd1(600, 4200L) ++ trak(tkhd1(1920, 1080)))
    // audio track (0x0) first: the walk must skip to the video trak
    val twoTraks = ftyp ++ box("moov",
      mvhd0(90000, 90000) ++ trak(tkhd0(0, 0)) ++ trak(tkhd0(640, 480)))
    val audioOnly = ftyp ++ box("moov", mvhd0(48000, 96000) ++ trak(tkhd0(0, 0)))
    // free box first, then a size==0 moov extending to end-of-payload
    val moovContent = mvhd0(25, 100) ++ trak(tkhd0(320, 240))
    val sizeZero = ftyp ++ box("free", Array.fill[Byte](4)(0)) ++
      be32(0) ++ "moov".getBytes ++ moovContent
    // size==1: 64-bit largesize follows the type field
    val largesize = ftyp ++ be32(1) ++ "moov".getBytes ++
      be64(moovContent.length + 16L) ++ moovContent
    val truncated = v0.take(40) // cut mid-moov
    val noMvhd = ftyp ++ box("moov", trak(tkhd0(100, 100)))
    // child trak declares a size overrunning its moov parent: corrupt
    val overrun = ftyp ++ box("moov", mvhd0(1000, 1000) ++
      be32(1 << 20) ++ "trak".getBytes)
    val garbage = "not remotely an mp4 container...".getBytes

    val rows = Seq(
      (1L, v0), (2L, v1), (3L, twoTraks), (4L, audioOnly), (5L, sizeZero),
      (6L, largesize), (7L, truncated), (8L, noMvhd), (9L, overrun),
      (10L, garbage), (11L, null.asInstanceOf[Array[Byte]])
    ).toDF("media_id", "payload")
    val got = rows.select(col("media_id"),
      Multimodal.videoMetadata(col("payload")).as("v"))
      .collect().map { r =>
        r.getLong(0) -> (if (r.isNullAt(1)) null else {
          val s = r.getStruct(1)
          (s.getString(0), s.getLong(1), s.getLong(2), s.getLong(3), s.getLong(4),
            s.getDouble(5))
        })
      }.toMap
    assert(got(1L) == ("mp4", 1000L, 5000L, 1280L, 720L, 5.0))
    assert(got(2L) == ("mp4", 600L, 4200L, 1920L, 1080L, 7.0)) // v1 64-bit duration
    assert(got(3L) == ("mp4", 90000L, 90000L, 640L, 480L, 1.0)) // skips 0x0 audio trak
    assert(got(4L) == ("mp4", 48000L, 96000L, 0L, 0L, 2.0)) // audio-only: 0x0, not null
    assert(got(5L) == ("mp4", 25L, 100L, 320L, 240L, 4.0)) // size==0 to end-of-file
    assert(got(6L) == ("mp4", 25L, 100L, 320L, 240L, 4.0)) // 64-bit largesize header
    assert(got(7L) == null && got(8L) == null && got(9L) == null)
    assert(got(10L) == null && got(11L) == null)
  }

  test("batched decode is partitioning-invariant and null-safe on mixed payloads") {
    // 50 real PNGs + interleaved garbage payloads, shuffled across 4
    // partitions: results must be identical to the single-partition run,
    // and every garbage row must decode to a null-field row in place
    val media = (0 until 50).map(_.toLong).toDF("media_id")
      .select(col("media_id"),
        when(col("media_id") % 5 === 0, lit("not an image".getBytes))
          .otherwise(graft.plans.PngSynth.png(col("media_id"),
            (col("media_id") % 6 + 2).cast("int"),
            (col("media_id") % 5 + 2).cast("int"))).as("payload"))
    def run(df: org.apache.spark.sql.DataFrame) =
      Multimodal.decodeBatched(df).collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) null else r.getString(1),
          if (r.isNullAt(2)) -1L else r.getLong(2),
          if (r.isNullAt(4)) -1L else r.getLong(4))).toSet
    val one = run(media.coalesce(1))
    val four = run(media.repartition(4))
    assert(one == four)
    assert(one.count(_._2 == null) == 10) // every media_id % 5 == 0 row
    assert(one.count(_._2 == "png") == 40)
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

  test("cosine/dot on array columns") {
    val d = Seq((Array(1.0, 0.0), Array(0.0, 1.0))).toDF("a", "b")
    assert(d.select(GraftFunctions.dot(col("a"), col("b"))).head().getDouble(0) == 0.0)
    assert(d.select(GraftFunctions.cosine(col("a"), col("a"))).head().getDouble(0) == 1.0)
  }

  test("skew-safe distinct count equals plain countDistinct") {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    val df = (0 until 5000).map(i => (s"code_${i % 3}", rng.nextInt(400).toLong))
      .toDF("code", "subject_id")
    val plain = df.groupBy("code").agg(count_distinct(col("subject_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = GraftFunctions.skewSafeDistinctCount(df, Seq("code"), "subject_id")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(plain == salted)
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
