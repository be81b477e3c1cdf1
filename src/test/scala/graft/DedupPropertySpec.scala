package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import graft.ops.Dedup

/** Property net for the exact-substring span family (Lee et al. ExactSubstr
  * semantics — `Dedup.duplicateSpans` / `removeDuplicateSpans`), in the same
  * scalacheck-vs-brute-force pattern as BoundaryPropertySpec /
  * TemporalPropertySpec. The span-assembly fold is boundary logic of exactly
  * the shape where the r9 `least()` and r10 null-key bugs lived: half-open
  * [start, end) spans, overlap AND adjacency merging (`p <= ce`), the
  * global-first (min (id, pos)) keepFirst exemption, and documents shorter
  * than k dropping out of gram space entirely.
  *
  * The oracle recomputes everything naively: exact gram strings (no hashes),
  * a global occurrence map, per-document position sets, and an explicit
  * merge loop — then the applied variant rebuilds text token-by-token.
  * Corpora are drawn from a 3-token alphabet to force heavy gram collisions,
  * with occasional irregular whitespace to exercise the byte-identical
  * pass-through of documents that own no duplicated span.
  */
class DedupPropertySpec extends SparkSpec {
  import spark.implicits._

  private def tokenize(t: String): Vector[String] =
    t.split("\\s+").filter(_.nonEmpty).toVector

  /** Naive reference: spans per doc as (span_start, span_end, n_grams). */
  private def bruteSpans(docs: Seq[(Long, String)], k: Int,
      keepFirst: Boolean): Map[Long, Seq[(Long, Long, Long)]] = {
    val occ = for {
      (id, t) <- docs
      ts = tokenize(t)
      p <- 0 to ts.length - k
      if ts.length >= k
    } yield (ts.slice(p, p + k).mkString(" "), id, p.toLong)
    val removable = occ.groupBy(_._1).filter(_._2.size >= 2).toSeq.flatMap {
      case (_, os) =>
        val first = os.minBy(o => (o._2, o._3))
        if (keepFirst) os.filterNot(_ == first) else os
    }
    removable.groupBy(_._2).map { case (id, os) =>
      val ps = os.map(_._3).sorted
      val spans = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
      var cs = -1L; var ce = -1L; var cn = 0L
      ps.foreach { p =>
        if (cn == 0) { cs = p; ce = p + k; cn = 1 }
        else if (p <= ce) { ce = p + k; cn += 1 }
        else { spans += ((cs, ce, cn)); cs = p; ce = p + k; cn = 1 }
      }
      if (cn > 0) spans += ((cs, ce, cn))
      id -> spans.toSeq
    }
  }

  private def bruteRemoved(docs: Seq[(Long, String)], k: Int,
      keepFirst: Boolean): Map[Long, String] = {
    val spans = bruteSpans(docs, k, keepFirst)
    docs.map { case (id, t) =>
      spans.get(id) match {
        case None => id -> t // no spans: byte-identical pass-through
        case Some(sp) =>
          id -> tokenize(t).zipWithIndex
            .filterNot { case (_, i) => sp.exists(s => i >= s._1 && i < s._2) }
            .map(_._1).mkString(" ")
      }
    }.toMap
  }

  private val genDoc: Gen[String] = for {
    n <- Gen.choose(0, 10)
    ts <- Gen.listOfN(n, Gen.oneOf("a", "b", "c"))
    sep <- Gen.frequency((8, Gen.const(" ")), (1, Gen.const("  ")), (1, Gen.const(" \t")))
  } yield ts.mkString(sep)

  private val genCase: Gen[(List[String], Int, Boolean)] = for {
    nDocs <- Gen.choose(1, 5)
    docs <- Gen.listOfN(nDocs, genDoc)
    k <- Gen.choose(2, 3)
    keepFirst <- Gen.oneOf(true, false)
  } yield (docs, k, keepFirst)

  test("duplicateSpans equals the naive global-gram oracle (merge, adjacency, keepFirst)") {
    val prop = Prop.forAll(genCase) { case (texts, k, keepFirst) =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val df = docs.toDF("doc_id", "text")
      val got = Dedup.duplicateSpans(df, "doc_id", "text", k, keepFirst)
        .collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
        .groupBy(_._1).map { case (id, rs) => id -> rs.map(_._2).sortBy(_._1).toSeq }
      val want = bruteSpans(docs, k, keepFirst)
        .filter(_._2.nonEmpty).map { case (id, sp) => id -> sp.sortBy(_._1) }
      if (got != want)
        println(s"SPAN MISMATCH k=$k keepFirst=$keepFirst docs=$docs got=$got want=$want")
      got == want
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }

  test("decontaminate: exact, bloom (incl. forced-FP sizing), and naive oracle agree") {
    import graft.ops.Decontaminate
    val genCorpus: Gen[(List[String], List[String], Int)] = for {
      nTrain <- Gen.choose(1, 8)
      train <- Gen.listOfN(nTrain, genDoc)
      nEval <- Gen.choose(0, 4)
      eval <- Gen.listOfN(nEval, genDoc)
      n <- Gen.choose(2, 3)
    } yield (train, eval, n)
    val prop = Prop.forAll(genCorpus) { case (trainTexts, evalTexts, n) =>
      val train = trainTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val eval = evalTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      def ids(df: org.apache.spark.sql.DataFrame) =
        df.select("doc_id").collect().map(_.getLong(0)).toSet
      val exact = ids(Decontaminate.decontaminate(train, eval, "doc_id", "text", n))
      // minimum-size bloom (1024 bits for up to dozens of grams still has a
      // real FP rate at these sizes only with numBits forced tiny) — the
      // exact confirm must erase any difference
      val bloom = ids(Decontaminate.decontaminateBloom(
        train, eval, "doc_id", "text", n, expectedItems = 1L, numBits = 8L))
      val evalGrams = evalTexts.flatMap(t =>
        tokenize(t).sliding(n).filter(_.length == n).map(_.mkString(" "))).toSet
      val want = trainTexts.zipWithIndex.collect {
        case (t, i) if !tokenize(t).sliding(n).filter(_.length == n)
          .map(_.mkString(" ")).exists(evalGrams.contains) => i.toLong
      }.toSet
      if (exact != want || bloom != want)
        println(s"DECONTAM MISMATCH n=$n train=$trainTexts eval=$evalTexts " +
          s"exact=$exact bloom=$bloom want=$want")
      exact == want && bloom == want
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }

  test("resolveClusters: random multigraphs equal naive components on BOTH paths") {
    val genGraph: Gen[List[(Long, Long)]] = for {
      n <- Gen.choose(1, 12)
      m <- Gen.choose(0, 20)
      edges <- Gen.listOfN(m,
        Gen.zip(Gen.choose(0L, n.toLong), Gen.choose(0L, n.toLong)))
    } yield edges // includes self-loops and duplicate/reversed edges
    val prop = Prop.forAll(genGraph) { edges =>
      // naive: repeated relabel-to-min until fixpoint
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      var label = nodes.map(x => x -> x).toMap
      var changed = true
      while (changed) {
        changed = false
        edges.foreach { case (a, b) =>
          val m = math.min(label(a), label(b))
          if (label(a) != m) { label += a -> m; changed = true }
          if (label(b) != m) { label += b -> m; changed = true }
        }
      }
      val want = label.toSet
      val df = edges.toDF("id_a", "id_b")
      def got(small: Int) = Dedup.resolveClusters(df, smallGraphEdges = small)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
      val fast = got(1000000)
      val dist = got(0)
      // structural invariants of the distributed labels: every edge stays
      // inside one component, no label exceeds its id, and every label is a
      // member that labels itself
      val lbl = dist.toMap
      val structural = edges.forall { case (a, b) => lbl.get(a) == lbl.get(b) } &&
        dist.forall { case (id, c) => c <= id && lbl.get(c).contains(c) }
      if (fast != want || dist != want || !structural)
        println(s"CC MISMATCH edges=$edges fast=$fast dist=$dist want=$want")
      fast == want && dist == want && structural
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }

  test("sf0.001 near-dup chain: permutation-invariant labels; representatives and both dedup gates agree") {
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // components on the distributed path (the fast path is the property above)
    def labels(d: org.apache.spark.sql.DataFrame) =
      Dedup.resolveClusters(Dedup.minhashLshPairs(d, "doc_id", "text",
          n = 3, bands = 8, rowsPerBand = 4, threshold = 0.5), smallGraphEdges = 0)
        .select(col("id").cast("long").as("id"), col("cluster_id").cast("long").as("cluster_id"))
    val dist = labels(docs)
    val want = collectSet(dist)
    // the whole chain (shingles -> MinHash -> bands -> pairs -> components)
    // is invariant under a seeded permutation and repartition of the corpus
    val permuted = docs
      .repartition(7, pmod(xxhash64(col("doc_id") + 987654321L), lit(7)))
      .sortWithinPartitions(xxhash64(col("doc_id") * 7L))
    assert(collectSet(labels(permuted)) == want, "permutation drift")
    // representative selection through two plan shapes
    val scored = dist.join(
      docs.select(col("doc_id").as("id"), length(col("text")).as("__q")), Seq("id"))
    val reps = Dedup.clusterRepresentatives(scored, "id", "cluster_id", "__q")
      .select(col("cluster_id"), col("keep_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id").orderBy(col("__q").desc, col("id"))
    val reps2 = scored.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1).select(col("cluster_id"), col("id").as("keep_id"))
    assert(collectSet(reps) == collectSet(reps2), "representative drift across plan shapes")
    // each gate's own entry (the dedup stage through YAML -> registry ->
    // Pipeline) against the labels above: dedup_clusters equals them, and
    // the stage keeps exactly the docs whose label is their own id
    val gate = SparkEntry.queries("dedup_clusters")(spark, dir)
      .select(col("id").cast("long"), col("cluster_id").cast("long"))
    assert(collectSet(gate) == want, "dedup_clusters gate vs labels")
    val dropped = want.collect { case Seq(id: Long, c: Long) if id != c => id }
    val survivors = SparkEntry.queries("minhash_lsh_dedup_stage")(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == docs.select("doc_id").collect().map(_.getLong(0)).toSet -- dropped,
      "dedup-stage survivors vs label-derived survivorship")
  }

  test("removeDuplicateSpans equals the naive token rebuild (pass-through untouched)") {
    val prop = Prop.forAll(genCase) { case (texts, k, keepFirst) =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val df = docs.toDF("doc_id", "text")
      val got = Dedup.removeDuplicateSpans(df, "doc_id", "text", k, keepFirst)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val want = bruteRemoved(docs, k, keepFirst)
      if (got != want)
        println(s"REMOVE MISMATCH k=$k keepFirst=$keepFirst docs=$docs got=$got want=$want")
      got == want
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }
}
