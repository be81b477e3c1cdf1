package graft

import org.apache.spark.sql.functions._
import graft.config.PipelineConfig
import graft.meds.{MedsData, MedsIO}
import graft.operators.Pipeline

/** The built-in training-data-hygiene stages (graft.config.OpStages) are
  * config-reachable: a pipeline YAML can chain MEDS transforms with corpus
  * curation stages through the same registry third-party stages use.
  */
class OpStagesSpec extends SparkSpec {

  private def docs = spark.createDataFrame(Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "web"),
    (2L, "the quick brown fox jumps over the lazy dog", "web"), // exact dup of 1
    (3L, "The  quick  brown fox jumps over the lazy dog", "web"), // fingerprint dup of 1
    (4L, "the quick brown fox jumps over the lazy cat today", "books"), // near-dup of 1
    (5L, "completely different content about spark catalyst plans", "books"),
    (6L, "short text", "web")
  )).toDF("doc_id", "text", "source")

  private def emptyMeds(data: org.apache.spark.sql.DataFrame): MedsData =
    MedsData(data, spark.emptyDataFrame, spark.emptyDataFrame)

  test("built-in hygiene stages are registered through the extension registry") {
    val expected = Set("dedup_exact", "dedup_fingerprint", "minhash_lsh_dedup",
      "ngram_jaccard_dedup", "simhash_dedup", "text_quality", "lang_id",
      "text_tokens", "sample", "sample_split", "stratified_cap")
    assert(expected.subsetOf(PipelineConfig.registeredStages))
  }

  test("documents pipeline from YAML: quality -> near-dup dedup -> split -> cap") {
    val yaml =
      """description: corpus curation chain
        |stages:
        |  - text_quality
        |  - ngram_jaccard_dedup:
        |      n: 3
        |      threshold: 0.5
        |  - sample_split:
        |      splits:
        |        train: 0.8
        |        held_out: 0.2
        |  - stratified_cap:
        |      stratum_col: source
        |      per_stratum: 2
        |""".stripMargin
    val parsed = PipelineConfig.fromYaml(yaml)
    assert(parsed.stages.map(_.name) == Seq(
      "text_quality", "ngram_jaccard_dedup", "sample_split", "stratified_cap"))
    val out = Pipeline.run(spark, emptyMeds(docs), parsed.stages).data

    // quality columns were appended, originals kept
    assert(Seq("doc_id", "text", "source", "n_words", "stopword_ratio")
      .forall(out.columns.contains))
    // the exact/fingerprint/near dups of doc 1 are gone, representative stays
    val kept = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.contains(1L) && Set(2L, 3L, 4L).intersect(kept).isEmpty)
    // split column assigned from the configured names
    val splits = out.select("split").distinct().collect().map(_.getString(0)).toSet
    assert(splits.subsetOf(Set("train", "held_out")))
    // per-source cap respected
    val maxPerSource = out.groupBy("source").count().collect().map(_.getLong(1)).max
    assert(maxPerSource <= 2)
  }

  test("YAML pipeline mixes MEDS stages with a dedup stage") {
    val yaml =
      """stages:
        |  - filter_subjects:
        |      min_events_per_subject: 5
        |  - dedup_exact:
        |      id_col: subject_id
        |      text_col: code
        |""".stripMargin
    val meds = MedsIO.read(spark, MedsFixture.root)
    val before = Pipeline.run(spark, meds,
      PipelineConfig.fromYaml("stages:\n  - filter_subjects:\n      min_events_per_subject: 5\n").stages)
    val out = Pipeline.run(spark, meds, PipelineConfig.fromYaml(yaml).stages)
    // runs end-to-end; dedup keeps the min-id representative per code so the
    // survivor set is a subset of the filtered subjects
    assert(out.data.count() > 0 && out.data.count() <= before.data.count())
    val keptSubjects = out.data.select("subject_id").distinct()
      .collect().map(_.getLong(0)).toSet
    val allSubjects = before.data.select("subject_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(keptSubjects.subsetOf(allSubjects))
  }

  test("dedup stage variants keep exactly the group representatives") {
    def run(stage: String, extra: String = ""): Set[Long] = {
      val yaml = s"stages:\n  - $stage:$extra\n"
      Pipeline.run(spark, emptyMeds(docs), PipelineConfig.fromYaml(yaml).stages)
        .data.select("doc_id").collect().map(_.getLong(0)).toSet
    }
    // exact: only the byte-identical copy collapses
    assert(run("dedup_exact", "\n      id_col: doc_id") == Set(1L, 3L, 4L, 5L, 6L))
    // fingerprint: whitespace/case variants collapse too
    assert(run("dedup_fingerprint") == Set(1L, 4L, 5L, 6L))
    // minhash-lsh: near-dups (2, 3, 4 vs 1) collapse; distinct docs stay
    val mh = run("minhash_lsh_dedup", "\n      threshold: 0.4")
    assert(mh.contains(1L) && mh.contains(5L) && mh.contains(6L))
    assert(Set(2L, 3L).intersect(mh).isEmpty)
    // with the hot-bucket chain guard on, the duplicate CLUSTER is preserved
    // (chain pairs reach every member), so the survivor set is identical
    assert(run("minhash_lsh_dedup", "\n      threshold: 0.4\n      max_bucket: 2") == mh)
    // simhash: exact copies share all bands at hamming 0
    val sh = run("simhash_dedup", "\n      max_hamming: 3")
    assert(sh.contains(1L) && !sh.contains(2L))
  }

  test("exact/fingerprint dedup stages keep every null-text row") {
    // null texts group together under SQL GROUP BY (md5(null) = null) — a
    // dedup over them would keep one failed-extraction row and silently drop
    // the rest as "duplicates" of each other
    val withNulls = docs.unionByName(spark.createDataFrame(Seq(
      (7L, null.asInstanceOf[String], "web"),
      (8L, null.asInstanceOf[String], "books"),
      (9L, null.asInstanceOf[String], "web")
    )).toDF("doc_id", "text", "source"))
    def run(stage: String): Set[Long] =
      Pipeline.run(spark, emptyMeds(withNulls),
        PipelineConfig.fromYaml(s"stages:\n  - $stage\n").stages)
        .data.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(run("dedup_exact") == Set(1L, 3L, 4L, 5L, 6L, 7L, 8L, 9L))
    assert(run("dedup_fingerprint") == Set(1L, 4L, 5L, 6L, 7L, 8L, 9L))
  }

  test("column-appending stages fail fast on an output-name collision") {
    val clash = docs.withColumn("n_tokens", lit(0L))
    val ex = intercept[IllegalArgumentException] {
      Pipeline.run(spark, emptyMeds(clash),
        PipelineConfig.fromYaml("stages:\n  - text_tokens\n").stages).data.count()
    }
    assert(ex.getMessage.contains("n_tokens") && ex.getMessage.contains("text_tokens"))
  }

  test("sample stage is deterministic and requires fraction") {
    val yaml = "stages:\n  - sample:\n      fraction: 0.5\n      seed: 7\n"
    val a = Pipeline.run(spark, emptyMeds(docs), PipelineConfig.fromYaml(yaml).stages)
      .data.select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Pipeline.run(spark, emptyMeds(docs), PipelineConfig.fromYaml(yaml).stages)
      .data.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b && a.nonEmpty && a.size < 6)
    intercept[IllegalArgumentException] {
      Pipeline.run(spark, emptyMeds(docs),
        PipelineConfig.fromYaml("stages:\n  - sample:\n      seed: 7\n").stages)
    }
  }

  test("resample_mix stage reweights strata from YAML") {
    // docs has doc_id 1..10; stratum = text col reused? use lang-less frame:
    val d = spark.createDataFrame(
      (0L until 12L).map(i => (i, if (i % 2 == 0) "web" else "books")))
      .toDF("doc_id", "source")
    val yaml =
      """stages:
        |  - resample_mix:
        |      stratum_col: source
        |      rates: {web: 2.0, books: 0.0}
        |      seed: 7
        |""".stripMargin
    val out = Pipeline.run(spark, emptyMeds(d), PipelineConfig.fromYaml(yaml).stages).data
    assert(out.columns.contains("epoch"))
    val rows = out.select("doc_id", "source", "epoch").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.count(_._2 == "web") == 12 && !rows.exists(_._2 == "books"))
    assert(rows.filter(_._1 == 0L).map(_._3).sorted.toSeq == Seq(0L, 1L))
    intercept[IllegalArgumentException] { // rates map is required
      PipelineConfig.fromYaml("stages:\n  - resample_mix:\n      stratum_col: source\n")
        .stages.head.asInstanceOf[Pipeline.DataStage]
    }
  }

  test("c4_filter and corpus_stats stages chain through YAML") {
    val d = spark.createDataFrame(Seq(
      (0L, "web", "First line with plenty of words here.\nsecond keeper line with enough words too.\nthird fine line with many words kept."),
      (1L, "web", "lorem ipsum dolor sit amet consectetur now.\nmore text with plenty of words here.\nthird line also has enough words kept."),
      (2L, "book", "One good line with enough words stays.\nsecond good line with enough words stays.\nthird good line with enough words stays.")
    )).toDF("doc_id", "source", "text")
    val yaml =
      """stages:
        |  - c4_filter:
        |      min_lines: 2
        |  - corpus_stats:
        |      group_cols: [source]
        |""".stripMargin
    val out = Pipeline.run(spark, emptyMeds(d), PipelineConfig.fromYaml(yaml).stages).data
      .orderBy("source").collect()
    // lorem page dropped before stats: web has 1 doc, book 1 doc
    assert(out.map(r => (r.getString(0), r.getAs[Long]("n_docs"))).toSeq ==
      Seq(("book", 1L), ("web", 1L)))
    // empty group_cols fails fast
    intercept[IllegalArgumentException] {
      PipelineConfig.fromYaml("stages:\n  - corpus_stats:\n      group_cols: []\n")
        .stages.head.asInstanceOf[Pipeline.DataStage]
    }
  }

  test("similarity/winnow/corpus stages are registered") {
    val expected = Set("winnow_fingerprint", "filter_rows", "json_extract",
      "normalize_text", "text_repetition",
      "decontaminate", "pack_sequences", "quality_filter",
      "dedup_lines", "remove_dup_spans", "tf_idf", "text_entropy",
      "load_jsonl", "write_jsonl", "load_csv", "c4_filter", "corpus_stats",
      "dedup_against", "token_budget_cap", "join_table", "write_csv",
      "expect_schema")
    assert(expected.subsetOf(PipelineConfig.registeredStages))
  }

  test("write_csv round-trips through load_csv; expect_schema passes and fails correctly") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_csv_stage").toString
    val docs = spark.createDataFrame(Seq(
      (1L, "plain text"), (2L, ""), (3L, "commas, \"quotes\" and all"),
      (4L, null.asInstanceOf[String])
    )).toDF("doc_id", "text")
    val y =
      s"""stages:
         |  - expect_schema:
         |      schema: "doc_id BIGINT, text STRING"
         |  - write_csv:
         |      path: $tmp/out
         |  - load_csv:
         |      path: $tmp/out
         |      schema: "doc_id BIGINT, text STRING"
         |""".stripMargin
    val back = Pipeline.run(spark, emptyMeds(docs), PipelineConfig.fromYaml(y).stages)
      .data.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(back == Map(1L -> "plain text", 2L -> "",
      3L -> "commas, \"quotes\" and all", 4L -> null))
    // contract violations die with a readable message
    val bad = "stages:\n  - expect_schema:\n      schema: \"doc_id STRING, nope INT\"\n"
    val e = intercept[IllegalArgumentException] {
      Pipeline.run(spark, emptyMeds(docs), PipelineConfig.fromYaml(bad).stages)
    }
    assert(e.getMessage.contains("doc_id") && e.getMessage.contains("nope"))
  }

  test("token_budget_cap: straddler kept, later docs dropped, global and per-stratum") {
    val docs = spark.createDataFrame(Seq(
      (1L, "a", "one two three"),     // 3 tokens
      (2L, "a", "one two three four"),// 4 tokens
      (3L, "a", "one two"),           // 2 tokens
      (4L, "b", "one")                // separate stratum
    )).toDF("doc_id", "lang", "text")
    // global budget 1: exactly the hash-first doc survives (straddler kept)
    val first = Pipeline.run(spark, emptyMeds(docs), PipelineConfig.fromYaml(
      "stages:\n  - token_budget_cap:\n      budget_tokens: 1\n").stages)
      .data.collect().map(_.getAs[Long]("doc_id")).toSet
    assert(first.size == 1)
    // per-stratum: budget 1 keeps one doc per lang
    val perLang = Pipeline.run(spark, emptyMeds(docs), PipelineConfig.fromYaml(
      "stages:\n  - token_budget_cap:\n      budget_tokens: 1\n      stratum_col: lang\n").stages)
      .data.collect().map(r => r.getAs[String]("lang")).toSeq
    assert(perLang.sorted == Seq("a", "b"))
    // a budget covering everything keeps everything
    val all = Pipeline.run(spark, emptyMeds(docs), PipelineConfig.fromYaml(
      "stages:\n  - token_budget_cap:\n      budget_tokens: 1000\n").stages)
      .data.count()
    assert(all == 4)
  }

  test("dedup_against: reformatted reference copies match via normalization; exact mode does not") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_dedup_against").toString
    spark.createDataFrame(Seq(
      Tuple1("  THE Quick  Brown fox "), // normalizes to doc 1's text
      Tuple1("something unrelated entirely")
    )).toDF("text").write.mode("overwrite").parquet(s"$tmp/ref")
    val docs = spark.createDataFrame(Seq(
      (1L, "the quick brown fox"),
      (2L, "a different document"),
      (3L, null.asInstanceOf[String]) // null text must never be dropped
    )).toDF("doc_id", "text")
    val y = s"stages:\n  - dedup_against:\n      ref_path: $tmp/ref\n"
    val kept = Pipeline.run(spark, emptyMeds(docs), PipelineConfig.fromYaml(y).stages)
      .data.collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept == Set(2L, 3L))
    val yExact = s"stages:\n  - dedup_against:\n      ref_path: $tmp/ref\n      normalize: false\n"
    val keptExact = Pipeline.run(spark, emptyMeds(docs),
      PipelineConfig.fromYaml(yExact).stages)
      .data.collect().map(_.getAs[Long]("doc_id")).toSet
    assert(keptExact == Set(1L, 2L, 3L)) // bytes differ -> exact mode keeps all
    // the bloom prefilter path is output-identical (exact confirm removes
    // false positives) — verified on the sf0.001 corpus with a reformatted
    // reference slice, where both matches and non-matches occur
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val ref = corpus.filter(col("doc_id") % 10 === 0)
      .select(upper(col("text")).as("text"))
    val plain = graft.ops.Dedup.dedupAgainst(corpus, "doc_id", "text", ref, "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val bloomed = graft.ops.Dedup.dedupAgainst(corpus, "doc_id", "text", ref, "text",
      bloomItems = 1000L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(plain == bloomed && plain.nonEmpty)
  }

  test("dedup_lines and remove_dup_spans stages run through the YAML path") {
    val d = spark.createDataFrame(Seq(
      (1L, "keep me\nshared boilerplate"),
      (2L, "shared boilerplate\nme too")
    )).toDF("doc_id", "text")
    val y1 = "stages:\n  - dedup_lines\n"
    val got = Pipeline.run(spark, emptyMeds(d), PipelineConfig.fromYaml(y1).stages)
      .data.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(got == Map(1L -> "keep me\nshared boilerplate", 2L -> "me too"))

    val s = spark.createDataFrame(Seq(
      (1L, "a b c d e f g h"),
      (2L, "x y a b c d e q")
    )).toDF("doc_id", "text")
    val y2 = "stages:\n  - remove_dup_spans:\n      k: 3\n"
    val got2 = Pipeline.run(spark, emptyMeds(s), PipelineConfig.fromYaml(y2).stages)
      .data.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(got2 == Map(1L -> "a b c d e f g h", 2L -> "x y q"))
  }

  test("quality_filter: AND of configured Gopher rules; unknown/empty rejected") {
    val d = spark.createDataFrame(Seq(
      (1L, "the cat and the dog walk to the park and rest there today fine"),
      (2L, "tiny"), // fails min_words
      (3L, "the the the the the the the the the the the the the the"), // repetition
      (4L, "01234 56789 01234 56789 01234 56789 01234 56789 01234 56789 01234 56789 1") // digits
    )).toDF("doc_id", "text")
    val yaml =
      """stages:
        |  - quality_filter:
        |      min_words: 5
        |      max_repetition_ratio: 0.5
        |      max_digit_ratio: 0.5
        |""".stripMargin
    val kept = Pipeline.run(spark, emptyMeds(d), PipelineConfig.fromYaml(yaml).stages)
      .data.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L))
    // a rule over a repetition signal resolves through the same map
    val y2 = "stages:\n  - quality_filter:\n      max_dup_ngram_fraction: 0.99\n"
    assert(Pipeline.run(spark, emptyMeds(d), PipelineConfig.fromYaml(y2).stages)
      .data.count() >= 1)
    // no rules or a bad lang rule: fail fast
    intercept[IllegalArgumentException] {
      Pipeline.run(spark, emptyMeds(d),
        PipelineConfig.fromYaml("stages:\n  - quality_filter\n").stages).data.count()
    }
    // a typo'd rule key must not silently disable its gate
    val typoErr = intercept[IllegalArgumentException] {
      PipelineConfig.fromYaml(
        "stages:\n  - quality_filter:\n      min_words: 5\n      max_digits_ratio: 0.3\n")
        .stages.head.asInstanceOf[Pipeline.DataStage]
    }
    assert(typoErr.getMessage.contains("max_digits_ratio"))
    // empty docs behave like sibling signals under mean_word_len rules:
    // fail min (dropped), pass max (kept) — never NULL-dropped by a max
    val blank = spark.createDataFrame(Seq((1L, "abcd efgh"), (2L, "   ")))
      .toDF("doc_id", "text")
    def run(y: String) = Pipeline.run(spark, emptyMeds(blank),
      PipelineConfig.fromYaml(y).stages).data.select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(run("stages:\n  - quality_filter:\n      max_mean_word_len: 12.0\n")
      == Set(1L, 2L))
    assert(run("stages:\n  - quality_filter:\n      min_mean_word_len: 2.0\n")
      == Set(1L))
    // lang rule keeps only predicted-language docs
    val y3 = "stages:\n  - quality_filter:\n      lang: en\n"
    val langKept = Pipeline.run(spark, emptyMeds(d), PipelineConfig.fromYaml(y3).stages)
      .data.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(langKept.contains(1L) && !langKept.contains(4L))
    // entropy bounds: min_entropy drops the one-token-repeated doc (H=0)
    // but keeps normal prose; blank text (H=0) fails min like empty docs
    // fail min_words
    val yH = "stages:\n  - quality_filter:\n      min_entropy: 1.0\n"
    val hKept = Pipeline.run(spark, emptyMeds(d), PipelineConfig.fromYaml(yH).stages)
      .data.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(hKept.contains(1L) && !hKept.contains(3L))
  }

  test("asof_join stage: backward and nearest directions reach the right operator") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("asof_right").toString
    Seq((1L, 10L, "r10"), (1L, 20L, "r20"), (2L, 15L, "x15"))
      .toDF("k", "rt", "reading").write.mode("overwrite")
      .parquet(s"$dir/right.parquet")
    val leftDf = Seq((101L, 1L, 12L), (102L, 1L, 19L), (103L, 2L, 5L))
      .toDF("qid", "k", "qt")
    def run(extra: String) = Pipeline.run(spark, emptyMeds(leftDf),
      PipelineConfig.fromYaml(
        s"""stages:
           |  - asof_join:
           |      keys: [k]
           |      right_path: $dir/right.parquet
           |      left_time: qt
           |      right_time: rt
           |      value_cols: [reading]
           |$extra""".stripMargin).stages).data
      .collect().map(r => r.getAs[Long]("qid") ->
        Option(r.getAs[String]("reading"))).toMap
    val backward = run("")
    assert(backward == Map(101L -> Some("r10"), 102L -> Some("r10"),
      103L -> None))
    val nearest = run("      direction: nearest\n")
    // qt=19 is nearer to r20 (d=1) than r10 (d=9); qt=5 now matches forward
    assert(nearest == Map(101L -> Some("r10"), 102L -> Some("r20"),
      103L -> Some("x15")))
  }

  test("rolling_agg stage appends the trailing aggregates of the library call") {
    import spark.implicits._
    val data = (0L until 500L).map(i => (i, i % 3, (i * 7) % 97, i.toDouble))
      .toDF("id", "k", "t", "v")
    val out = Pipeline.run(spark, emptyMeds(data),
      PipelineConfig.fromYaml(
        """stages:
          |  - rolling_agg:
          |      keys: [k]
          |      time_col: t
          |      range: 10
          |      count_as: n_10
          |      sum_col: v
          |""".stripMargin).stages).data
    assert(out.columns.contains("n_10") && out.columns.contains("v_sum"))
    assert(collectSet(out) === collectSet(graft.operators.RollingAgg.trailing(
      data, Seq("k"), "t", 10L, Seq("n_10" -> count(lit(1)), "v_sum" -> sum(col("v"))))))
  }

  test("winnow_fingerprint appends the sketch column; short docs get null") {
    val out = Pipeline.run(spark, emptyMeds(docs),
      PipelineConfig.fromYaml("stages:\n  - winnow_fingerprint\n").stages).data
    assert(out.columns.contains("winnow_fingerprints") && out.count() == 6)
    val byId = out.select("doc_id", "winnow_fingerprints").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).getSeq[Long](1).nonEmpty)
    assert(byId(6L).isNullAt(1)) // "short text" has < n words
    // identical text yields identical sketch
    assert(byId(1L).getSeq[Long](1) == byId(2L).getSeq[Long](1))
  }

  test("normalize_text stage: fixed-order ops, in-place or appended") {
    val messy = spark.createDataFrame(Seq(
      (1L, "Hello,   World! (Again)"),
      (2L, "hello world again"),
      (3L, null.asInstanceOf[String])
    )).toDF("doc_id", "text")
    val inPlace = Pipeline.run(spark, emptyMeds(messy), PipelineConfig.fromYaml(
      "stages:\n  - normalize_text\n").stages).data
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(inPlace(1L) == "hello world again" && inPlace(2L) == "hello world again")
    assert(inPlace(3L) == null) // null text passes through untouched
    // appended column + op subset; request order does not matter
    val appended = Pipeline.run(spark, emptyMeds(messy), PipelineConfig.fromYaml(
      """stages:
        |  - normalize_text:
        |      ops: [collapse_ws, lowercase]
        |      output_col: text_norm
        |""".stripMargin).stages).data
    val r1 = appended.filter(col("doc_id") === 1).head()
    assert(r1.getString(r1.fieldIndex("text")) == "Hello,   World! (Again)")
    assert(r1.getString(r1.fieldIndex("text_norm")) == "hello, world! (again)")
    // normalize -> fingerprint-dedup chain collapses the messy duplicate
    val chained = Pipeline.run(spark, emptyMeds(messy), PipelineConfig.fromYaml(
      "stages:\n  - normalize_text\n  - dedup_exact\n").stages).data
    assert(chained.select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    // unknown op fails at config time with the stage named
    val ex = intercept[IllegalArgumentException] {
      PipelineConfig.fromYaml(
        "stages:\n  - normalize_text:\n      ops: [lowercase, nfkc]\n")
    }
    assert(ex.getMessage.contains("normalize_text") && ex.getMessage.contains("nfkc"))
  }

  test("json_extract stage appends typed fields; malformed rows yield nulls") {
    val logs = spark.createDataFrame(Seq(
      (1L, """{"k": 7, "tag": "a"}"""),
      (2L, """{"k": 9}"""),
      (3L, "not json at all")
    )).toDF("doc_id", "props")
    val yaml =
      """stages:
        |  - json_extract:
        |      json_col: props
        |      schema: "k BIGINT, tag STRING"
        |  - filter_rows:
        |      predicate: "k > 8"
        |""".stripMargin
    val out = Pipeline.run(spark, emptyMeds(logs),
      PipelineConfig.fromYaml(yaml).stages).data
    assert(out.columns.toSeq == Seq("doc_id", "props", "k", "tag"))
    assert(out.select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(2L))
    // a bad DDL schema fails at config-parse time with the stage named
    val ex = intercept[IllegalArgumentException] {
      PipelineConfig.fromYaml(
        "stages:\n  - json_extract:\n      json_col: props\n      schema: \"k NOTATYPE\"\n")
    }
    assert(ex.getMessage.contains("json_extract"))
  }

  test("filter_rows stage: SQL predicate chains with signal stages") {
    val yaml =
      """stages:
        |  - text_tokens
        |  - filter_rows:
        |      predicate: "n_tokens >= 5 AND source = 'web'"
        |""".stripMargin
    val out = Pipeline.run(spark, emptyMeds(docs),
      PipelineConfig.fromYaml(yaml).stages).data
    val kept = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 3L)) // web docs with >= 5 tokens ("short text" = 2)
    // an unparsable predicate fails at CONFIG time, not mid-pipeline
    intercept[Exception] {
      PipelineConfig.fromYaml(
        "stages:\n  - filter_rows:\n      predicate: \"n_tokens >=\"\n")
    }
    // a missing predicate is rejected with the stage named
    val ex = intercept[IllegalArgumentException] {
      PipelineConfig.fromYaml("stages:\n  - filter_rows\n")
    }
    assert(ex.getMessage.contains("predicate"))
  }

  test("corpus pipeline end-to-end through the CLI on a non-MEDS root") {
    // a documents corpus (no subject_id/time) as a flat dataset root:
    // the full reference CLI surface — YAML file, dataset-root in/out —
    // driving hygiene stages, including the final layout write, which
    // must not require the MEDS sort columns for non-MEDS schemas
    val tmp = java.nio.file.Files.createTempDirectory("graft_corpus_cli").toString
    docs.write.parquet(s"$tmp/in/data")
    val yaml =
      s"""description: corpus curation via CLI
         |stages:
         |  - normalize_text
         |  - dedup_fingerprint
         |  - text_tokens
         |  - filter_rows:
         |      predicate: "n_tokens >= 3"
         |  - sample_split:
         |      splits:
         |        train: 0.5
         |        held_out: 0.5
         |""".stripMargin
    val p = s"$tmp/pipeline.yaml"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(p), yaml)
    Main.run(Array(p, s"$tmp/in", s"$tmp/out"), spark)
    val out = MedsIO.read(spark, s"$tmp/out").data
    // normalize collapses 1/2/3 to one representative; 6 ("short text")
    // fails the token filter; survivors carry assigned splits in the PATH
    // (the write partitions by the split column sample_split assigned)
    val kept = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L, 5L))
    val splits = out.select("split").distinct().collect().map(_.getString(0)).toSet
    assert(splits.subsetOf(Set("train", "held_out")) && splits.nonEmpty)
  }

  test("lm_perplexity stage appends scores; self-trained vs lm_path reference") {
    val yaml = "stages:\n  - lm_perplexity\n"
    val out = Pipeline.run(spark, emptyMeds(docs),
      PipelineConfig.fromYaml(yaml).stages).data
    assert(out.count() === docs.count())
    assert(Seq("n_bigrams", "oov_bigrams", "avg_nll", "ppl")
      .forall(out.columns.contains))
    // self-trained: every scored bigram is in the model -> zero OOV
    assert(out.agg(sum("oov_bigrams")).collect()(0).getLong(0) === 0L)

    // external reference corpus via lm_path: doc 5's vocabulary is absent
    val tmp = java.nio.file.Files.createTempDirectory("graft_lm").toString
    docs.filter(col("doc_id") <= 4).write.mode("overwrite").parquet(s"$tmp/ref")
    val y2 = s"stages:\n  - lm_perplexity:\n      lm_path: $tmp/ref\n"
    val ext = Pipeline.run(spark, emptyMeds(docs),
      PipelineConfig.fromYaml(y2).stages).data
    val d5 = ext.filter(col("doc_id") === 5L).collect()(0)
    assert(d5.getAs[Long]("oov_bigrams") === d5.getAs[Long]("n_bigrams"))
  }

  test("nb_classify stage trains on train_path and appends the prediction") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_nb").toString
    docs.withColumn("label", when(col("source") === "web", "w").otherwise("b"))
      .write.mode("overwrite").parquet(s"$tmp/seed")
    val yaml =
      s"""stages:
         |  - nb_classify:
         |      train_path: $tmp/seed
         |      output_col: guessed
         |""".stripMargin
    val out = Pipeline.run(spark, emptyMeds(docs),
      PipelineConfig.fromYaml(yaml).stages).data
    assert(out.count() === docs.count())
    // the seed docs themselves classify back to their own label
    val got = out.select("doc_id", "guessed").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(5L) === "b" && got(6L) === "w")
    // collision guard: appending over an existing column fails fast
    val clash = intercept[IllegalArgumentException] {
      Pipeline.run(spark, emptyMeds(docs.withColumn("nb_pred", lit("x"))),
        PipelineConfig.fromYaml(
          s"stages:\n  - nb_classify:\n      train_path: $tmp/seed\n").stages)
        .data.count()
    }
    assert(clash.getMessage.contains("nb_pred"))
  }

  test("nb_eval and js_divergence stages replace data with their report tables") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_nbe").toString
    docs.withColumn("label", when(col("source") === "web", "w").otherwise("b"))
      .write.mode("overwrite").parquet(s"$tmp/seed")
    val conf = Pipeline.run(spark, emptyMeds(
      docs.withColumn("label", when(col("source") === "web", "w").otherwise("b"))),
      PipelineConfig.fromYaml(
        s"stages:\n  - nb_eval:\n      train_path: $tmp/seed\n").stages).data
    assert(conf.columns.toSeq === Seq("label", "pred", "n"))
    // counts partition the eval set; smoothed NB resubstitution is not
    // guaranteed diagonal, so assert the accounting, not the accuracy
    assert(conf.agg(sum("n")).collect()(0).getLong(0) === docs.count())
    intercept[IllegalArgumentException] {
      PipelineConfig.fromYaml("stages:\n  - nb_eval\n").stages.head
        .asInstanceOf[Pipeline.DataStage]
    }

    val jsd = Pipeline.run(spark, emptyMeds(docs),
      PipelineConfig.fromYaml("stages:\n  - js_divergence\n").stages).data
    assert(jsd.columns.toSeq === Seq("source", "n_tokens", "n_terms", "js_bits"))
    assert(jsd.count() === 2L) // web + books
  }

  test("expect_rows: passes under the rate, fails over it, nulls are violations") {
    val d = spark.createDataFrame(Seq(
      (1L, Some(10.0)), (2L, Some(-5.0)), (3L, None), (4L, Some(3.0))
    ).map { case (id, v) => (id, v.map(java.lang.Double.valueOf).orNull) })
      .toDF("doc_id", "score")
    def run(expect: String, rate: Double) = Pipeline.run(spark, emptyMeds(d),
      PipelineConfig.fromYaml(
        s"stages:\n  - expect_rows:\n      expect: \"$expect\"\n" +
          s"      max_violation_rate: $rate\n").stages).data
    // 2 of 4 violate (score -5 and null score): passes at 0.5, fails at 0.25
    assert(run("score > 0", 0.5).count() === 4L)
    val e = intercept[IllegalArgumentException] { run("score > 0", 0.25) }
    assert(e.getMessage.contains("2/4"))
    // default rate 0: any violation fails; clean predicate passes
    assert(run("doc_id IS NOT NULL", 0.0).count() === 4L)
    val e2 = intercept[IllegalArgumentException] {
      Pipeline.run(spark, emptyMeds(d), PipelineConfig.fromYaml(
        "stages:\n  - expect_rows:\n      expect: \"score > 0\"\n").stages)
    }
    assert(e2.getMessage.contains("violated"))
    // unparsable predicate dies at build with a readable message
    val e3 = intercept[IllegalArgumentException] {
      Pipeline.run(spark, emptyMeds(d), PipelineConfig.fromYaml(
        "stages:\n  - expect_rows:\n      expect: \"><nope\"\n").stages)
    }
    assert(e3.getMessage.contains("unparsable"))
  }

  test("hygiene stages honor train_only orchestration") {
    // train_only resolves splits per subject_id — documents pipelines carry
    // one (here 1:1 with doc_id)
    val d = docs.withColumn("subject_id", col("doc_id"))
    val splits = d.select(col("subject_id"),
      when(col("doc_id") <= 3, "train").otherwise("held_out").as("split"))
    val m = MedsData(d, spark.emptyDataFrame, splits)
    val yaml = "stages:\n  - text_tokens:\n      train_only: true\n"
    val out = Pipeline.run(spark, m, PipelineConfig.fromYaml(yaml).stages).data
    assert(out.select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    assert(out.columns.contains("n_tokens"))
  }
}
