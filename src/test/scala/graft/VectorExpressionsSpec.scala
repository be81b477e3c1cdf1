package graft

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.plans.VectorExpressions

/** Native Catalyst expressions: parity with their composable forms, null
  * handling, codegen path.
  */
class VectorExpressionsSpec extends SparkSpec {
  import spark.implicits._

  test("Hash56 equals the composable conv(substring(md5)) definition") {
    // every oracle mirrors the composable form — the native expression must
    // be bit-identical on arbitrary content (incl. unicode, empties)
    val strs = (0 until 500).map(i => s"str-$i-${"x" * (i % 17)}") ++
      Seq("", " ", "ünïcode-ß", "a,b|c", "\ttab\nnewline")
    val df = strs.toDF("s")
    val both = df.select(
      graft.plans.VectorExpressions.hash56(col("s")).as("native"),
      conv(substring(md5(col("s")), 1, 14), 16, 10).cast("long").as("composable"))
    assert(both.filter(col("native") =!= col("composable")).count() == 0)
    // array form agrees element-wise, nulls stay null
    val arrDf = Seq((Seq("a", "b", "c"), 0)).toDF("arr", "i")
      .select(graft.plans.VectorExpressions.hash56Array(col("arr")).as("hs"),
        transform(col("arr"),
          s => conv(substring(md5(s), 1, 14), 16, 10).cast("long")).as("ref"))
    assert(arrDf.filter(col("hs") =!= col("ref")).count() == 0)
  }

  test("one-pass sketch expressions equal their composable fold forms") {
    val rng = new scala.util.Random(7)
    val arrs = (0 until 80).map(i =>
      (i.toLong, Seq.fill(3 + rng.nextInt(40))(rng.nextLong().abs % (1L << 56))))
      .toDF("id", "hs")
    val params = GraftFunctions.hashParams(16)
    val mhRef = params.zipWithIndex.map { case ((a, b), j) =>
      aggregate(col("hs"), lit(GraftFunctions.HashPrime),
        (acc, h) => least(acc, GraftFunctions.universalHash(h, a, b))).as(s"r_$j")
    }
    val mh = arrs.select(
      (VectorExpressions.minhashSig(col("hs"), params).as("native") +: mhRef): _*)
    mh.collect().foreach { r =>
      val native = r.getSeq[Long](0)
      (0 until 16).foreach(j => assert(native(j) == r.getLong(j + 1)))
    }
    val shRef = (0 until 32).map { b =>
      val bitSum = aggregate(col("hs"), lit(0L),
        (acc, h) => acc + when(shiftright(h, b).bitwiseAND(1) === 1, 1L).otherwise(-1L))
      when(bitSum > 0, shiftleft(lit(1L), b)).otherwise(0L)
    }.reduce(_ + _)
    arrs.select(VectorExpressions.simhashPack(col("hs"), 32).as("n"), shRef.as("r"))
      .collect().foreach(r => assert(r.getLong(0) == r.getLong(1)))
    val winRef = when(size(col("hs")) < 4, array(array_min(col("hs"))))
      .otherwise(transform(sequence(lit(1), size(col("hs")) - 3),
        i => array_min(slice(col("hs"), i, lit(4)))))
    arrs.select(VectorExpressions.winnowMins(col("hs"), 4).as("n"), winRef.as("r"))
      .collect().foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
  }

  test("ShingleHash56 equals the composable wordShingles + hash chain") {
    val rng = new scala.util.Random(41)
    val vocab = Seq("alpha", "beta", "gamma", "ünïcode", "x", "longer-token")
    val texts = (0 until 120).map { i =>
      val words = Seq.fill(rng.nextInt(12))(vocab(rng.nextInt(vocab.size)))
      // irregular whitespace exercises the tokenizer parity
      words.mkString(if (i % 3 == 0) "  " else " ")
    } ++ Seq("", "   ", "one", "a b", "dup dup dup dup dup")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    for (n <- Seq(1, 2, 3); distinct <- Seq(true, false)) {
      val toks = GraftFunctions.tokens(col("text"))
      val sh = GraftFunctions.wordShingles(col("text"), n)
      val composable = VectorExpressions.hash56Array(
        if (distinct) array_distinct(sh) else sh)
      val bad = df
        .filter(size(toks) >= n) // both forms defined on >= n tokens
        .select(
          VectorExpressions.shingleHash56(toks, n, distinct).as("native"),
          composable.as("ref"))
        .filter(col("native") =!= col("ref"))
      assert(bad.count() == 0, s"n=$n distinct=$distinct")
    }
    // null text -> null; null tokens skipped like the concat-null filter
    val edge = spark.sql(
      "SELECT CAST(NULL AS ARRAY<STRING>) AS t UNION ALL SELECT array('a', NULL, 'b')")
      .select(VectorExpressions.shingleHash56(col("t"), 2, false).as("h")).collect()
    assert(edge.exists(_.isNullAt(0)))
    assert(edge.find(!_.isNullAt(0)).get.getSeq[Long](0).isEmpty) // both windows hit the null
  }

  test("SortedPairs equals the composable transform/slice pyramid") {
    val rng = new scala.util.Random(23)
    // random lists incl. empty, singleton, duplicates, and unsorted order
    val lists = (0 until 60).map(i =>
      (i.toLong, Seq.fill(rng.nextInt(8))(rng.nextLong().abs % 20))) ++
      Seq((100L, Seq.empty[Long]), (101L, Seq(7L)), (102L, Seq(5L, 5L, 1L)))
    val df = lists.toDF("i", "ids")
    val sorted = sort_array(col("ids"))
    val pyramid = flatten(transform(sorted, (x, idx) =>
      transform(slice(sorted, idx + lit(2), size(sorted)),
        y => struct(x.as("id_a"), y.as("id_b")))))
    val rows = df.select(
      VectorExpressions.sortedPairs(col("ids")).as("native"),
      pyramid.as("ref")).collect()
    rows.foreach { r =>
      assert(r.getSeq[org.apache.spark.sql.Row](0) == r.getSeq[org.apache.spark.sql.Row](1))
    }
    // null array -> null; null elements stripped (collect_list never emits
    // them, but the expression must not NPE on hand-built input)
    val edge = spark.sql("SELECT CAST(NULL AS ARRAY<BIGINT>) AS ids " +
      "UNION ALL SELECT array(3L, NULL, 1L)")
      .select(VectorExpressions.sortedPairs(col("ids")).as("p")).collect()
    assert(edge.exists(_.isNullAt(0)))
    val stripped = edge.find(!_.isNullAt(0)).get.getSeq[org.apache.spark.sql.Row](0)
    assert(stripped.map(r => (r.getLong(0), r.getLong(1))) == Seq((1L, 3L)))
  }

  test("SortedPairs on string ids: lexicographic, matching binary `<`") {
    // non-integral doc ids (UUIDs, URLs) must order exactly as Spark's `<`
    // would in the join path — numeric-looking strings are the trap case
    // ("10" < "9" lexicographically)
    val df = Seq((1L, Seq("9", "10", "alpha", "Beta"))).toDF("i", "ids")
    val got = df.select(VectorExpressions.sortedPairs(col("ids")).as("p"))
      .selectExpr("inline(p)").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val elems = Seq("9", "10", "alpha", "Beta").sorted // JVM String == UTF8String order here
    val want = for { a <- elems.indices; b <- a + 1 until elems.size }
      yield (elems(a), elems(b))
    assert(got.toSeq == want)
    // unorderable element type is rejected at analysis, not at runtime
    val bad = Seq((1L, Seq(Map("k" -> 1L)))).toDF("i", "ids")
    intercept[org.apache.spark.sql.AnalysisException] {
      bad.select(VectorExpressions.sortedPairs(col("ids"))).collect()
    }
  }

  test("BloomAnyContain equals the composable exists(might_contain) form") {
    val bytes = {
      val bf = org.apache.spark.util.sketch.BloomFilter.create(100, 0.01)
      Seq(5L, 17L, 99L).foreach(bf.putLong)
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos); bos.toByteArray
    }
    val df = Seq(
      (1L, Seq[java.lang.Long](1L, 2L, 17L)), // hit
      (2L, Seq[java.lang.Long](1L, 2L, 3L)), // clean (fpp at 1% is possible but
      (3L, Seq[java.lang.Long]()), // empty → false     seeded values avoid it)
      (4L, Seq[java.lang.Long](null, 5L)) // null element skipped, then hit
    ).toDF("i", "hs")
    val native = df.select(col("i"),
      VectorExpressions.bloomAnyContain(col("hs"), bytes).as("m"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val hof = df.select(col("i"), exists(col("hs"), h =>
      org.apache.spark.sql.GraftSqlBridge.mightContain(lit(bytes), h)).as("m"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(native(1L) && !native(2L) && !native(3L) && native(4L))
    // exists() treats a null element as null unless a later element hits;
    // on these inputs both agree — the native loop simply skips nulls
    assert(native == hof)
    // null array propagates
    val nullRow = Seq((9L, null.asInstanceOf[Seq[java.lang.Long]])).toDF("i", "hs")
      .select(VectorExpressions.bloomAnyContain(col("hs"), bytes)).head()
    assert(nullRow.isNullAt(0))
  }

  test("expression survives whole-stage codegen over many rows") {
    // SortedPairs through the codegen'd generate path at volume: k=4 lists
    // emit exactly C(4,2)=6 pairs each
    val p = spark.range(10000)
      .select(array(col("id"), col("id") + 3, col("id") + 1, col("id") + 2).as("ids"))
      .select(explode(VectorExpressions.sortedPairs(col("ids"))).as("p"))
    assert(p.count() == 60000)
    assert(p.filter(col("p.id_a") >= col("p.id_b")).count() == 0)
  }

  test("unigram entropy: closed forms, null handling, SQL surface") {
    // uniform over 4 distinct tokens -> 2 bits; all-equal -> 0; empty -> 0
    val r = spark.range(1).select(
      VectorExpressions.unigramEntropy(
        array(lit("a"), lit("b"), lit("c"), lit("d"))).as("h4"),
      VectorExpressions.unigramEntropy(
        array(lit("x"), lit("x"), lit("x"))).as("h0"),
      VectorExpressions.unigramEntropy(
        array().cast("array<string>")).as("he"),
      VectorExpressions.unigramEntropy(
        lit(null).cast("array<string>")).as("hn"),
      // null elements form ONE token: {null, null, "a", "a"} is uniform
      // over 2 classes -> 1 bit (parity with the old fold's <=> runs)
      VectorExpressions.unigramEntropy(array(lit(null).cast("string"),
        lit(null).cast("string"), lit("a"), lit("a"))).as("hmix")).head()
    assert(math.abs(r.getDouble(0) - 2.0) < 1e-12)
    assert(r.getDouble(1) == 0.0 && r.getDouble(2) == 0.0)
    assert(r.isNullAt(3))
    assert(math.abs(r.getDouble(4) - 1.0) < 1e-12)
    graft.plans.GraftExtensions.register(spark)
    val viaSql = spark.sql(
      "SELECT graft_unigram_entropy(array('a','b','a','b')) h").head().getDouble(0)
    assert(math.abs(viaSql - 1.0) < 1e-12)
  }

  test("token/subword counts equal the regex formulations (unicode, ws runs, astral)") {
    import org.scalacheck.{Gen, Prop}
    val genText: Gen[String] = for {
      n <- Gen.choose(0, 30)
      cs <- Gen.listOfN(n, Gen.frequency(
        (6, Gen.alphaNumChar),
        (3, Gen.oneOf(' ', '\t', '\n', '\u000B', '\f', '\r')),
        (2, Gen.oneOf('!', ',', '-', 'é', 'ß', '中')),
        (1, Gen.const("😀")))) // astral: 4-byte UTF-8, 2 UTF-16 units
    } yield cs.map(_.toString).mkString
    val prop = Prop.forAll(genText) { t =>
      val r = spark.range(1).select(
        VectorExpressions.tokenCount(lit(t)).as("nt"),
        VectorExpressions.subwordCount(lit(t)).as("ns"),
        size(graft.functions.GraftFunctions.tokens(lit(t))).as("rt"),
        size(when(length(trim(lit(t))) === 0, array().cast("array<string>"))
          .otherwise(regexp_extract_all(lit(t),
            lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]"), lit(0)))).as("rs")).head()
      val ok = r.getInt(0) == r.getInt(2) && r.getInt(1) == r.getInt(3)
      if (!ok) println(s"COUNT MISMATCH text=${t.map(c => f"\\u$c%04x").mkString} " +
        s"native=(${r.getInt(0)},${r.getInt(1)}) regex=(${r.getInt(2)},${r.getInt(3)})")
      ok
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(40), prop)
    assert(res.passed, res.status.toString)
    // null propagation + SQL surface
    graft.plans.GraftExtensions.register(spark)
    val n = spark.sql("SELECT graft_token_count(CAST(NULL AS STRING)) a, " +
      "graft_subword_count(CAST(NULL AS STRING)) b, " +
      "graft_token_count(' a  bb\tc ') c, graft_subword_count('ab,cd é!') d").head()
    assert(n.isNullAt(0) && n.isNullAt(1))
    assert(n.getInt(2) == 3 && n.getInt(3) == 5) // ab , cd é ! -> 2 runs + 3 symbols
  }

  test("bigramCounts equals the exploded groupBy formulation (nulls, repeats, short docs)") {
    import org.scalacheck.{Gen, Prop}
    // the OLD formulation this expression replaced — zip_with bigram structs
    // exploded per occurrence, then counted by groupBy — kept here as the
    // oracle; token pool is tiny so repeated bigrams are the common case
    val genDoc: Gen[List[String]] = for {
      n <- Gen.choose(0, 12)
      ws <- Gen.listOfN(n, Gen.oneOf("a", "b", "ab", "a b"))
    } yield ws
    val prop = Prop.forAll(Gen.listOfN(6, genDoc)) { docsTokens =>
      val df = docsTokens.zipWithIndex
        .map { case (ws, i) => (i.toLong, ws) }.toDF("doc_id", "ws")
        .select(col("doc_id"), col("ws").cast("array<string>").as("ws"))
      val got = collectSet(df.select(col("doc_id"),
          explode(VectorExpressions.bigramCounts(col("ws"))).as("__g"))
        .select(col("doc_id"), col("__g.w1"), col("__g.w2"), col("__g.k")))
      val ref = collectSet(df.select(col("doc_id"), explode(zip_with(
          slice(col("ws"), lit(1), greatest(size(col("ws")) - 1, lit(0))),
          slice(col("ws"), lit(2), greatest(size(col("ws")) - 1, lit(0))),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("__b"))
        .groupBy(col("doc_id"), col("__b.w1"), col("__b.w2"))
        .agg(count(lit(1)).as("k")))
      if (got != ref) println(s"BIGRAM MISMATCH docs=$docsTokens\n got=$got\n ref=$ref")
      got == ref
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
    // null tokens: windows touching them are skipped (the old form's
    // isnotnull filter); null array -> null; token ambiguity ("a b","c")
    // vs ("a","b c") stays two distinct bigrams
    val edge = Seq(1L).toDF("id").select(
      VectorExpressions.bigramCounts(array(
        lit("x"), lit(null).cast("string"), lit("y"), lit("z"))).as("g"),
      VectorExpressions.bigramCounts(lit(null).cast("array<string>")).as("gn"),
      size(VectorExpressions.bigramCounts(array(lit("solo")))).as("g1"))
      .head()
    val pairs = edge.getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(pairs == Seq(("y", "z", 1L)))
    assert(edge.isNullAt(1) && edge.getInt(2) == 0)
    val ambig = Seq(1L).toDF("id").select(
      VectorExpressions.bigramCounts(array(lit("a b"), lit("c"))).as("g1"),
      VectorExpressions.bigramCounts(array(lit("a"), lit("b c"))).as("g2")).head()
    assert(ambig.getSeq[org.apache.spark.sql.Row](0) !=
      ambig.getSeq[org.apache.spark.sql.Row](1))
  }
}
