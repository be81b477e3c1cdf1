package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.ops.Bpe
import graft.plans.{BpeEncode, BpeMergeTable}

/** BPE trainer + encoder: the classic reference example, incremental-vs-
  * naive trainer equivalence, the SQL-facing pair-count frame, encode
  * round-trip/determinism, model persistence, and codegen-path volume.
  */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  // the worked example from Sennrich et al. 2016 §3.2
  private val sennrich = Seq(
    ("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))

  test("trainer reproduces the classic merge sequence") {
    val merges = Bpe.train(sennrich, numMerges = 5)
    val pairs = merges.map(m => (m.left, m.right))
    // e+s (9) > es+t (9, next round) > est+</w> (9) > l+o (7) > lo+w (7)
    assert(pairs == Seq(
      ("e", "s"), ("es", "t"), ("est", "</w>"), ("l", "o"), ("lo", "w")))
    assert(merges.map(_.rank) == Seq(0, 1, 2, 3, 4))
  }

  /** Naive reference trainer: full pair recount every round. */
  private def naiveTrain(wordFreqs: Seq[(String, Long)], numMerges: Int,
      minFrequency: Long): Seq[(String, String)] = {
    var words = wordFreqs.map { case (w, f) =>
      (w.map(_.toString).toVector :+ Bpe.EndOfWord, f)
    }
    val out = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var stop = false
    while (out.length < numMerges && !stop) {
      val counts = scala.collection.mutable.HashMap[(String, String), Long]()
      for ((syms, f) <- words; j <- 0 until syms.length - 1)
        counts((syms(j), syms(j + 1))) =
          counts.getOrElse((syms(j), syms(j + 1)), 0L) + f
      if (counts.isEmpty) stop = true
      else {
        val best = counts.toSeq.minBy { case ((l, r), c) => (-c, l, r) }
        if (best._2 < minFrequency) stop = true
        else {
          val (l, r) = best._1
          out += best._1
          words = words.map { case (syms, f) =>
            val b = scala.collection.mutable.ArrayBuffer[String]()
            var k = 0
            while (k < syms.length) {
              if (k < syms.length - 1 && syms(k) == l && syms(k + 1) == r) {
                b += l + r; k += 2
              } else { b += syms(k); k += 1 }
            }
            (b.toVector, f)
          }
        }
      }
    }
    out.toSeq
  }

  test("incremental trainer equals full-recount trainer on random vocabs") {
    val rng = new scala.util.Random(7)
    for (trial <- 0 until 20) {
      val vocab = (0 until 30).map { _ =>
        val len = 1 + rng.nextInt(7)
        val w = (0 until len).map(_ => ('a' + rng.nextInt(4)).toChar).mkString
        (w, 1L + rng.nextInt(9))
      }.distinct.groupBy(_._1).map { case (w, g) => (w, g.map(_._2).sum) }.toSeq
      val inc = Bpe.train(vocab, 15, minFrequency = 2)
        .map(m => (m.left, m.right))
      val ref = naiveTrain(vocab, 15, minFrequency = 2)
      assert(inc == ref, s"trial $trial vocab $vocab")
    }
  }

  test("training is deterministic under input order permutation") {
    val m1 = Bpe.train(sennrich, 8)
    val m2 = Bpe.train(scala.util.Random.shuffle(sennrich), 8)
    assert(m1 == m2)
  }

  test("pairCounts frame equals driver-side first-round counts") {
    val wf = sennrich.toDF("word", "freq")
    val got = Bpe.pairCounts(wf).as[(String, String, Long)].collect().toSet
    // driver reference off the naive trainer's first recount
    val counts = scala.collection.mutable.HashMap[(String, String), Long]()
    for ((w, f) <- sennrich) {
      val syms = w.map(_.toString).toVector :+ Bpe.EndOfWord
      for (j <- 0 until syms.length - 1)
        counts((syms(j), syms(j + 1))) =
          counts.getOrElse((syms(j), syms(j + 1)), 0L) + f
    }
    assert(got == counts.map { case ((l, r), c) => (l, r, c) }.toSet)
    assert(got.contains(("e", "s", 9L)))
  }

  test("encode merges subwords and round-trips the text") {
    val merges = Bpe.train(sennrich, 5)
    val df = Seq((1L, "newest lower"), (2L, ""), (3L, "  low  unseen "))
      .toDF("id", "text")
    val enc = df.select(col("id"), Bpe.encode(col("text"), merges).as("sub"))
      .as[(Long, Seq[String])].collect().toMap
    assert(enc(1L) == Seq("n", "e", "w", "est</w>", "low", "e", "r", "</w>"))
    assert(enc(2L).isEmpty)
    // unseen word falls back to characters + </w>; low fuses fully... except
    // the final low+</w> pair was never learned (rank 5 in the classic run)
    assert(enc(3L) == Seq("low", "</w>",
      "u", "n", "s", "e", "e", "n", "</w>"))
    // round-trip: stripping </w> and concatenating reconstructs the words
    assert(enc(1L).mkString.replace("</w>", " ").trim == "newest lower")
    assert(enc(3L).mkString.replace("</w>", " ").trim == "low unseen")
  }

  test("unicode separators (U+3000, U+2028) are word-internal at train AND encode time") {
    // tokens() splits on Java \s+ (ASCII-only), so an ideographic space or a
    // line separator stays INSIDE a word at train time; encode must honor the
    // same boundary or the merge statistics mismatch applied tokenization
    val w = "lo　w" // one word to the \s+ tokenizer
    val docs = Seq((1L, s"$w $w $w x y")).toDF("id", "text")
    val wf = Bpe.wordFrequencies(docs, "text", maxWords = 0)
      .as[(String, Long)].collect().toMap
    assert(wf == Map(w -> 3L, "x y" -> 1L))
    val merges = Bpe.trainFromCorpus(docs, "text", numMerges = 8,
      maxWords = 1 << 10, minFrequency = 1)
    val enc = docs.select(Bpe.encode(col("text"), merges))
      .as[Seq[String]].head()
    // encode saw exactly two distinct word shapes: round-trip preserves the
    // unicode chars inside words and yields one </w> per \s+-token (4 total)
    assert(enc.mkString.replace("</w>", " ").trim.split(" ", -1).toSeq ==
      Seq(w, w, w, "x y"))
    assert("</w>".r.findAllMatchIn(enc.mkString).length == 4)
    // the frequent word fused across the ideographic space — proof the
    // encoder treated U+3000 as word-internal exactly like the trainer
    assert(enc.exists(s => s.contains("　")))
  }

  test("vocabulary dedupes colliding merge outputs, keeping the lowest rank") {
    // a+bc and ab+c both fuse to "abc": token→id must stay unambiguous
    val merges = Seq(
      Bpe.Merge(0, "a", "b"), Bpe.Merge(1, "b", "c"),
      Bpe.Merge(2, "a", "bc"), Bpe.Merge(3, "ab", "c"))
    val vocab = Bpe.vocabulary(spark, merges, Seq("a", "b", "c"))
      .as[(Long, String)].collect().sortBy(_._1)
    assert(vocab.map(_._2).distinct.length == vocab.length)
    assert(vocab.count(_._2 == "abc") == 1)
    // base sorted first (</w>, a, b, c) then ab, bc, abc — rank-3 dup dropped
    assert(vocab.map(_._2).toSeq == Seq("</w>", "a", "b", "c", "ab", "bc", "abc"))
  }

  test("null text encodes to null, not empty") {
    val merges = Bpe.train(sennrich, 3)
    val df = Seq((1L, "low"), (2L, null.asInstanceOf[String])).toDF("id", "text")
    val got = df.select(col("id"), Bpe.encode(col("text"), merges).as("s"))
      .collect().map(r => (r.getLong(0), r.isNullAt(1))).toMap
    assert(!got(1L) && got(2L))
  }

  test("two models in one JVM do not cross-contaminate (memo isolation)") {
    val mA = Bpe.train(sennrich, 5)
    val mB = Bpe.train(Seq(("lox", 10L)), 5, minFrequency = 1)
    val df = Seq(Tuple1("low")).toDF("text")
    val a = df.select(Bpe.encode(col("text"), mA)).as[Seq[String]].head()
    val b = df.select(Bpe.encode(col("text"), mB)).as[Seq[String]].head()
    assert(a == Seq("low", "</w>"))
    assert(a != b) // model B learned l+o from "lox" but never lo+w
  }

  test("interpreted eval equals the dataframe (codegen) path") {
    val merges = Bpe.train(sennrich, 5)
    val table = new BpeMergeTable(
      merges.map(m => m.left + " " + m.right).toArray)
    val texts = Seq("newest lower", "low wide widest", " spaced   out ", "")
    val viaEval = texts.map(t =>
      BpeEncode.encode(UTF8String.fromString(t), table)
        .toArray[UTF8String](org.apache.spark.sql.types.StringType)
        .map(_.toString).toSeq)
    val viaDf = texts.zipWithIndex.map { case (t, i) => (i, t) }
      .toDF("i", "text").orderBy("i")
      .select(Bpe.encode(col("text"), merges)).as[Seq[String]].collect().toSeq
    assert(viaEval == viaDf)
  }

  test("merge table round-trips through parquet") {
    val merges = Bpe.train(sennrich, 5)
    val dir = java.nio.file.Files.createTempDirectory("bpe_model").toString
    Bpe.mergesToDF(spark, merges).write.mode("overwrite").parquet(dir)
    val back = Bpe.mergesFromDF(spark.read.parquet(dir))
    assert(back == merges)
  }

  test("trainFromCorpus caps the dictionary deterministically") {
    val docs = Seq((1L, "aa bb aa cc"), (2L, "aa bb dd dd")).toDF("id", "text")
    // maxWords=2 keeps aa(3) and... bb/dd tie at 2 → lexicographically bb
    val wf = Bpe.wordFrequencies(docs, "text", maxWords = 2)
      .as[(String, Long)].collect().toSet
    assert(wf == Set(("aa", 3L), ("bb", 2L)))
    val merges = Bpe.trainFromCorpus(docs, "text", numMerges = 2, maxWords = 2)
    assert(merges.nonEmpty)
    intercept[IllegalArgumentException] {
      Bpe.trainFromCorpus(docs, "text", 2, maxWords = 0)
    }
  }

  test("vocabulary orders base symbols then merges by rank") {
    val merges = Bpe.train(sennrich, 3)
    val base = sennrich.flatMap(_._1.map(_.toString)).distinct
    val vocab = Bpe.vocabulary(spark, merges, base)
      .as[(Long, String)].collect().sortBy(_._1).map(_._2)
    assert(vocab.takeRight(3).toSeq == Seq("es", "est", "est</w>"))
    assert(vocab.dropRight(3).toSeq == vocab.dropRight(3).sorted.toSeq)
    assert(vocab.contains("</w>"))
  }

  test("bpe_train + bpe_encode stages: persisted model equals inline training") {
    import graft.config.PipelineConfig
    import graft.operators.Pipeline
    import graft.meds.MedsData
    val docs = Seq((1L, "low lower low"), (2L, "newest widest newest"),
      (3L, "low newest")).toDF("doc_id", "text")
    val wrap = MedsData(docs, spark.emptyDataFrame, spark.emptyDataFrame)
    val dir = java.nio.file.Files.createTempDirectory("bpe_stage").toString
    val trained = Pipeline.run(spark, wrap, PipelineConfig.fromYaml(
      s"""stages:
         |  - bpe_train:
         |      model_path: $dir/model
         |      num_merges: 6
         |      min_frequency: 1
         |  - bpe_encode:
         |      model_path: $dir/model
         |""".stripMargin).stages).data
    val inline = Pipeline.run(spark, wrap, PipelineConfig.fromYaml(
      """stages:
        |  - bpe_encode:
        |      num_merges: 6
        |      min_frequency: 1
        |""".stripMargin).stages).data
    val a = trained.select(col("doc_id"), col("bpe_tokens"))
      .as[(Long, Seq[String])].collect().toMap
    val b = inline.select(col("doc_id"), col("bpe_tokens"))
      .as[(Long, Seq[String])].collect().toMap
    assert(a == b)
    assert(a(1L).mkString.replace("</w>", " ").trim == "low lower low")
  }

  test("encode survives whole-stage codegen at volume with a Zipfian corpus") {
    val rng = new scala.util.Random(11)
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val docs = (0 until 5000).map { i =>
      (i.toLong, (0 until 20).map(_ =>
        words(math.min(rng.nextInt(words.length), rng.nextInt(words.length))))
        .mkString(" "))
    }.toDF("id", "text")
    val merges = Bpe.trainFromCorpus(docs, "text", numMerges = 40,
      maxWords = 100)
    val enc = docs.select(col("id"),
      Bpe.encode(col("text"), merges).as("sub"))
    // every doc has 20 words → at least 20 subwords, and concat round-trips
    val bad = enc.select(col("id"), col("sub"),
        array_join(col("sub"), "").as("flat"))
      .join(docs, "id")
      .where(regexp_replace(col("flat"), "</w>", " ") =!=
        concat(regexp_replace(col("text"), "\\s+", " "), lit(" ")))
      .count()
    assert(bad == 0)
  }

  test("encode yields at least one subword per word on a Zipfian corpus with a rare tail") {
    // 90% of positions draw from a ~2k-word head, 10% are document-unique
    // rare words (the memo-miss tail)
    val docs = spark.range(0, 2000L, 1, 8).select(col("id").as("doc_id"),
      array_join(transform(sequence(lit(1), lit(40)), i =>
        when(i % 10 === 0, concat(lit("rare"), col("id"), lit("x"), i))
          .otherwise(concat(lit("w"), pmod(col("id") * i + i * i, lit(100)) *
            pmod(col("id") + i, lit(100))))), " ").as("text"))
    val dict = Bpe.wordFrequencies(docs, "text", maxWords = 100000)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val merges = Bpe.train(dict.toSeq, numMerges = 1000)
    val total = docs.select(sum(size(Bpe.encode(col("text"), merges)))).head().getLong(0)
    assert(total >= 40L * 2000, s"every doc has 40 words -> >= 40 subwords each, got $total")
  }

  /** Independent re-implementation of BPE application, for the oracle-class
    * cross-check of the `bpe_tokens` gate (whose output DuckDB cannot replay:
    * the merge fixpoint is not one SQL query). Deliberately a DIFFERENT
    * algorithm from [[BpeEncode.encodeWord]]: merges are applied
    * sequentially in rank order, one left-to-right pass each — equivalent to
    * the greedy lowest-rank-present loop because fusing a later-rank pair
    * can never create a new adjacency between two pre-existing symbols
    * (neighbors become adjacent to the FUSED symbol only), and a pair's
    * constituents both predate every later merge.
    */
  private def naiveReencode(text: String, merges: Seq[Bpe.Merge]): Seq[String] = {
    def word(w: String): Seq[String] = {
      var syms: Vector[String] =
        w.codePoints().toArray.toVector.map(cp => new String(Character.toChars(cp))) :+
          Bpe.EndOfWord
      for (m <- merges.sortBy(_.rank)) {
        val out = Vector.newBuilder[String]
        var k = 0
        while (k < syms.length) {
          if (k < syms.length - 1 && syms(k) == m.left && syms(k + 1) == m.right) {
            out += m.left + m.right; k += 2
          } else { out += syms(k); k += 1 }
        }
        syms = out.result()
      }
      syms
    }
    text.split("\\s+").toSeq.filter(_.nonEmpty).flatMap(word)
  }

  test("gate-scale cross-check: codegen encode equals the naive rank-order applier (sf0.01)") {
    // exactly the bpe_tokens gate's training configuration
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val merges = Bpe.trainFromCorpus(docs, "text",
      numMerges = 64, maxWords = 1 << 16)
    val viaExpr = docs
      .select(col("doc_id"), Bpe.encode(col("text"), merges).as("subs"))
      .as[(Long, Seq[String])].collect().toMap
    val raw = docs.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect()
    assert(raw.length == viaExpr.size)
    for ((id, text) <- raw)
      assert(viaExpr(id) == naiveReencode(text, merges),
        s"doc $id: codegen encode diverges from the naive applier")
  }
}
