package graft.config

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.dsl.Cfg
import graft.operators.Pipeline
import graft.ops.{Decontaminate, Dedup, Multimodal, Packing, Pq, Redaction, Sampling, Similarity, TextAnalysis}

/** Built-in training-data-hygiene stages, registered through the SAME
  * extension point third-party packages use ([[PipelineConfig.register]],
  * mirroring the reference's entry-point stage discovery,
  * /root/reference/src/MEDS_transforms/stages/discovery.py:14-72 and
  * pyproject.toml:53-65) — so a pipeline YAML can chain MEDS transforms with
  * corpus curation (dedup, quality signals, sampling) in one run.
  *
  * These go beyond the reference's own stage set: they wrap the
  * `graft.ops` operators (each independently oracle-verified by the
  * correctness gate) as pipeline stages over whatever table the pipeline
  * threads as `data` — dedup (exact/fingerprint/minhash/ngram/simhash/
  * embedding), text signals (quality/lang-id/tokens/winnow), similarity
  * (knn_join/sim_topk), sampling (sample/sample_split/stratified_cap),
  * sessionization, multimodal plumbing (as_media/media_*), and a generic
  * `filter_rows` predicate stage. Column names are configurable per stage
  * (`id_col`, `text_col`, ...) with documents-table defaults
  * (`doc_id`, `text`) and embeddings-table defaults (`vec_id`,
  * `embedding`, `label`) for the vector stages.
  *
  * Dedup-stage semantics: the stage RETURNS THE DEDUPLICATED DATA — rows
  * whose id survives as its group's representative (minimum id per exact
  * text / fingerprint / near-dup cluster). The pair- and sketch-level
  * outputs stay available through the `graft.ops` API for analysis
  * workloads; a pipeline stage has to yield the filtered corpus to be
  * chainable.
  */
object OpStages {

  private val IdCol = "id_col"
  private val TextCol = "text_col"
  /** Estimated train-side size at which `decontaminate` takes the bloom path. */
  private val DecontamBloomMinBytes = 256L << 20

  /** Register every built-in hygiene stage. Invoked once from
    * [[PipelineConfig]]'s initializer; idempotent (re-registration replaces
    * the same builder).
    */
  private[config] def registerAll(): Unit = {
    import PipelineConfig.CfgOps

    def ids(cfg: Cfg) = (cfg.getStr(IdCol).getOrElse("doc_id"),
      cfg.getStr(TextCol).getOrElse("text"))

    // null-text rows are NOT duplicates of one another: md5(null) is null and
    // SQL GROUP BY groups nulls together, so deduping over them would keep
    // one row and silently drop every other failed-extraction document. They
    // bypass the dedup entirely (matching the near-dup stages, whose pair
    // generation never emits null-text docs).
    def keepNullText(data: DataFrame, id: String, text: String, keep: DataFrame): DataFrame =
      data.filter(col(text).isNull)
        .unionByName(data.filter(col(text).isNotNull).join(keep, Seq(id), "left_semi"))

    // keep the min-id row per distinct raw text (one hash shuffle on md5)
    PipelineConfig.register("dedup_exact") { (name, cfg) =>
      val (id, text) = ids(cfg)
      Pipeline.DataStage(name, m => {
        val keep = Dedup.exact(m.data.filter(col(text).isNotNull), id, text)
          .select(col("keep_id").as(id))
        keepNullText(m.data, id, text, keep)
      })
    }

    // keep the min-id row per normalized fingerprint (case/whitespace-
    // insensitive copies collapse too)
    // incremental / cross-corpus dedup: drop rows whose (normalized by
    // default) text fingerprint appears in the reference corpus at
    // `ref_path` — dedup the new crawl against the previous release
    PipelineConfig.register("dedup_against") { (name, cfg) =>
      val (id, text) = ids(cfg)
      val refPath = cfg.getStr("ref_path").getOrElse(
        throw new IllegalArgumentException(s"stage $name: `ref_path` is required"))
      val refText = cfg.getStr("ref_text_col").getOrElse(text)
      val normalize = cfg.getBool("normalize").getOrElse(true)
      // bloom_items > 0 switches on the prefilter for 100 TB-vs-100 TB
      // releases (size it to the reference's distinct doc count)
      val bloomItems = cfg.getLong("bloom_items").getOrElse(0L)
      Pipeline.DataStage(name, m => Dedup.dedupAgainst(m.data, id, text,
        m.data.sparkSession.read.parquet(refPath), refText, normalize,
        bloomItems))
    }

    PipelineConfig.register("dedup_fingerprint") { (name, cfg) =>
      val (id, text) = ids(cfg)
      Pipeline.DataStage(name, m => {
        val keep = Dedup.fingerprint(m.data.filter(col(text).isNotNull), id, text)
          .groupBy("fingerprint").agg(min(col(id)).as(id))
          .select(id)
        keepNullText(m.data, id, text, keep)
      })
    }

    // near-dup family: candidate pairs → connected components → drop every
    // non-representative (cluster member with id != min id of its cluster).
    // Rows never appearing in a pair are their own cluster and are kept.
    def dropNonRepresentatives(data: DataFrame, id: String, pairs: DataFrame): DataFrame = {
      val drop = Dedup.resolveClusters(pairs)
        .filter(col("id") =!= col("cluster_id"))
        .select(col("id").as(id))
      data.join(drop, Seq(id), "left_anti")
    }

    // score-based variant: keep each cluster's best-scoring member (ties ->
    // min id) instead of the arbitrary min-id copy; all frames here are
    // duplicate-count-sized, never corpus-sized
    def dropNonRepresentativesByScore(data: DataFrame, id: String,
        scoreCol: String, pairs: DataFrame): DataFrame = {
      val clusters = Dedup.resolveClusters(pairs)
      val scored = clusters.join(
        data.select(col(id).as("id"), col(scoreCol).as("__q")), Seq("id"))
      val reps = Dedup.clusterRepresentatives(scored, "id", "cluster_id", "__q")
      val drop = clusters.join(reps, Seq("cluster_id"))
        .filter(col("id") =!= col("keep_id"))
        .select(col("id").as(id))
      data.join(drop, Seq(id), "left_anti")
    }

    PipelineConfig.register("minhash_lsh_dedup") { (name, cfg) =>
      val (id, text) = ids(cfg)
      val n = cfg.getInt("n").getOrElse(3)
      val bands = cfg.getInt("bands").getOrElse(8)
      val rows = cfg.getInt("rows_per_band").getOrElse(4)
      val threshold = cfg.getDouble("threshold").getOrElse(0.5)
      val seed = cfg.getLong("seed").getOrElse(42L)
      val maxBucket = cfg.getInt("max_bucket") // None = no hot-bucket chaining
      // score_col switches the kept representative from min-id to the
      // cluster's best score (e.g. longest text, lowest ppl)
      val scoreCol = cfg.getStr("score_col")
      Pipeline.DataStage(name, m => {
        val pairs = Dedup.minhashLshPairs(m.data, id, text, n, bands, rows,
          threshold, seed, maxBucket)
        scoreCol match {
          case None => dropNonRepresentatives(m.data, id, pairs)
          case Some(sc) => dropNonRepresentativesByScore(m.data, id, sc, pairs)
        }
      })
    }

    // corpus-level exact line dedup (C4/RefinedWeb boilerplate hygiene):
    // replaces the text column with only the globally-first copy of each
    // line; other columns pass through
    PipelineConfig.register("dedup_lines") { (name, cfg) =>
      val (id, text) = ids(cfg)
      Pipeline.DataStage(name, m => Dedup.dedupLines(m.data, id, text))
    }

    // ExactSubstr span removal (Lee et al. 2022): drop every corpus-wide
    // duplicated k-gram span from the text, keeping the globally-first
    // occurrence unless keep_first: false
    PipelineConfig.register("remove_dup_spans") { (name, cfg) =>
      val (id, text) = ids(cfg)
      val k = cfg.getInt("k").getOrElse(20)
      val keepFirst = cfg.getBool("keep_first").getOrElse(true)
      Pipeline.DataStage(name, m =>
        Dedup.removeDuplicateSpans(m.data, id, text, k, keepFirst))
    }

    PipelineConfig.register("ngram_jaccard_dedup") { (name, cfg) =>
      val (id, text) = ids(cfg)
      val n = cfg.getInt("n").getOrElse(3)
      val threshold = cfg.getDouble("threshold").getOrElse(0.5)
      val maxDf = cfg.getInt("max_df") // None = no hot-shingle pruning
      Pipeline.DataStage(name, m => dropNonRepresentatives(m.data, id,
        Dedup.ngramJaccardPairs(m.data, id, text, n, threshold, maxDf)))
    }

    PipelineConfig.register("simhash_dedup") { (name, cfg) =>
      val (id, text) = ids(cfg)
      val n = cfg.getInt("n").getOrElse(3)
      val numBits = cfg.getInt("num_bits").getOrElse(32)
      val bands = cfg.getInt("bands").getOrElse(4)
      val maxHamming = cfg.getInt("max_hamming").getOrElse(3)
      val maxBucket = cfg.getInt("max_bucket")
      Pipeline.DataStage(name, m => dropNonRepresentatives(m.data, id,
        Dedup.simhashPairs(m.data, id, text, n, numBits, bands, maxHamming,
          maxBucket)))
    }

    // column-appending signal stages: pure projections, chainable anywhere.
    // A name clash with an existing column fails HERE with the stage named —
    // letting it through would surface as AMBIGUOUS_REFERENCE in whatever
    // later stage first touches the duplicated column.
    def appendCols(stage: String, data: DataFrame,
        exprs: Seq[org.apache.spark.sql.Column]): DataFrame = {
      val clash = data.select(exprs: _*).columns.toSeq.intersect(data.columns.toSeq)
      require(clash.isEmpty, s"stage $stage: output column(s) " +
        s"${clash.mkString(", ")} already exist in the input")
      data.select((col("*") +: exprs): _*)
    }

    PipelineConfig.register("text_quality") { (name, cfg) =>
      val text = cfg.getStr(TextCol).getOrElse("text")
      Pipeline.DataStage(name, m =>
        appendCols(name, m.data, TextAnalysis.qualityExprs(col(text))))
    }

    PipelineConfig.register("lang_id") { (name, cfg) =>
      val text = cfg.getStr(TextCol).getOrElse("text")
      Pipeline.DataStage(name, m =>
        appendCols(name, m.data, TextAnalysis.langIdExprs(col(text))))
    }

    // eval-set decontamination: drop rows sharing an n-gram with the corpus
    // at `eval_path`. The bloom prefilter path (identical output, no
    // train-side explode) runs once the train side's Catalyst-estimated
    // size reaches DecontamBloomMinBytes — the measured crossover is ~tens
    // of millions of train grams (SMOKE.md "Decontamination: auto-sized
    // bloom + exact-vs-bloom crossover": exact 11.5 s vs bloom 4.9 s at
    // ~45M grams; parity below).
    PipelineConfig.register("decontaminate") { (name, cfg) =>
      val known = Seq(IdCol, TextCol, "ngram", "eval_path")
      val unknown = cfg.obj.keySet -- known
      require(unknown.isEmpty, s"stage $name: unknown key(s) " +
        s"${unknown.toSeq.sorted.mkString(", ")} (known: ${known.mkString(", ")})")
      val id = cfg.getStr(IdCol).getOrElse("doc_id")
      val text = cfg.getStr(TextCol).getOrElse("text")
      val n = cfg.getInt("ngram").getOrElse(8)
      val evalPath = cfg.getStr("eval_path").getOrElse(
        throw new IllegalArgumentException(s"stage $name: `eval_path` is required"))
      Pipeline.DataStage(name, m => {
        val eval = m.data.sparkSession.read.parquet(evalPath)
        if (m.data.queryExecution.optimizedPlan.stats.sizeInBytes >= DecontamBloomMinBytes)
          Decontaminate.decontaminateBloom(m.data, eval, id, text, n)
        else Decontaminate.decontaminate(m.data, eval, id, text, n)
      })
    }

    // Gopher-style composite quality filter: AND of the threshold rules
    // present in the config, each computed inline from the signal
    // expressions (only the signals a rule needs are evaluated — a filter
    // over 2 rules must not pay for all 13 signals). Rows FAILING any rule
    // are dropped; thresholds are inclusive bounds on the keep side.
    PipelineConfig.register("quality_filter") { (name, cfg) =>
      val text = cfg.getStr(TextCol).getOrElse("text")
      // a typo'd rule key must not silently disable its gate
      val knownKeys = Set(TextCol, "min_words", "max_words", "min_chars",
        "max_chars", "min_mean_word_len", "max_mean_word_len",
        "min_alpha_ratio", "max_punct_ratio", "max_digit_ratio",
        "min_stopword_ratio", "max_repetition_ratio", "max_dup_line_fraction",
        "max_dup_ngram_fraction", "min_entropy", "max_entropy", "lang")
      val unknown = cfg.obj.keySet -- knownKeys
      require(unknown.isEmpty, s"stage $name: unknown rule key(s) " +
        s"${unknown.toSeq.sorted.mkString(", ")} (known: " +
        s"${(knownKeys - TextCol).toSeq.sorted.mkString(", ")})")
      Pipeline.DataStage(name, m => {
        val t = col(text)
        // Filter conjuncts get no codegen subexpression elimination and
        // predicate pushdown re-inlines projection aliases, so per-rule
        // signal expressions would re-scan the text once PER RULE
        // (measured 4.7x DuckDB at 320k docs). Instead each signal FAMILY
        // is one native scan checked by ONE SignalBounds conjunct, with
        // the historical per-rule null policy (nullAsZero = the old
        // coalesce/otherwise(0.0) rules; others yield NULL on null text).
        import graft.plans.{QualitySignals, SignalBounds}
        def q(n: String): Int = QualitySignals.fields.indexOf(n)
        val qChecks: Seq[(Int, Option[Double], Option[Double], Boolean)] = Seq(
          cfg.getInt("min_words").map(v => (q("n_words"), Some(v.toDouble), None, false)),
          cfg.getInt("max_words").map(v => (q("n_words"), None, Some(v.toDouble), false)),
          cfg.getInt("min_chars").map(v => (q("n_chars"), Some(v.toDouble), None, false)),
          cfg.getInt("max_chars").map(v => (q("n_chars"), None, Some(v.toDouble), false)),
          // mean_word_len is the one signal that is NULL (not 0) on
          // tokenless text — nullAsZero so empty docs fail min rules and
          // pass max rules, like every sibling signal
          cfg.getDouble("min_mean_word_len").map(v => (q("mean_word_len"), Some(v), None, true)),
          cfg.getDouble("max_mean_word_len").map(v => (q("mean_word_len"), None, Some(v), true)),
          cfg.getDouble("min_alpha_ratio").map(v => (q("alpha_ratio"), Some(v), None, false)),
          cfg.getDouble("max_punct_ratio").map(v => (q("punct_ratio"), None, Some(v), false)),
          cfg.getDouble("max_digit_ratio").map(v => (q("digit_ratio"), None, Some(v), false)),
          cfg.getDouble("min_stopword_ratio").map(v => (q("stopword_ratio"), Some(v), None, true)),
          cfg.getDouble("max_repetition_ratio").map(v => (q("repetition_ratio"), None, Some(v), true))
        ).flatten
        def r(n: String): Int = graft.plans.RepetitionSignals.fields.indexOf(n)
        val rChecks: Seq[(Int, Option[Double], Option[Double], Boolean)] = Seq(
          cfg.getDouble("max_dup_line_fraction").map(v => (r("dup_line_fraction"), None, Some(v), true)),
          cfg.getDouble("max_dup_ngram_fraction").map(v => (r("dup_ngram_fraction"), None, Some(v), true))
        ).flatten
        val rules = Seq(
          if (qChecks.isEmpty) None else Some(SignalBounds.bounds(
            QualitySignals.signals(t, TextAnalysis.DefaultStopwords), qChecks)),
          if (rChecks.isEmpty) None else Some(SignalBounds.bounds(
            graft.plans.VectorExpressions.repetitionSignals(t, 3), rChecks)),
          // unigram entropy (bits): min catches degenerate repetition,
          // max catches structureless gibberish (entropy ~ log2(n_words))
          cfg.getDouble("min_entropy").map(v => TextAnalysis.unigramEntropy(t) >= v),
          cfg.getDouble("max_entropy").map(v => TextAnalysis.unigramEntropy(t) <= v),
          cfg.getStr("lang").map { v =>
            val exprs = TextAnalysis.langIdExprs(t)
            exprs.last === v // lang_pred equality
          }
        ).flatten
        require(rules.nonEmpty, s"stage $name: at least one threshold rule " +
          "is required (min_words, max_dup_line_fraction, lang, ...)")
        m.data.filter(rules.reduce(_ && _))
      })
    }

    // PII scrubbing: REPLACES the text column with its redacted form and
    // appends per-kind match counts; `kinds` defaults to every known kind
    PipelineConfig.register("redact_pii") { (name, cfg) =>
      val text = cfg.getStr(TextCol).getOrElse("text")
      val kinds =
        if (cfg.getList("kinds").nonEmpty) cfg.strings("kinds")
        else Redaction.Patterns.map(_._1)
      Pipeline.DataStage(name, m => {
        val withCounts = appendCols(name, m.data, Redaction.piiCounts(col(text), kinds))
        withCounts.withColumn(text, Redaction.redact(col(text), kinds))
      })
    }

    PipelineConfig.register("text_repetition") { (name, cfg) =>
      val text = cfg.getStr(TextCol).getOrElse("text")
      val n = cfg.getInt("ngram").getOrElse(3)
      // staged form: the shared per-row arrays compute once (the signal
      // HOFs are interpreted and outside codegen subexpr elimination)
      Pipeline.DataStage(name, m =>
        TextAnalysis.withRepetitionSignals(m.data, text, n))
    }

    PipelineConfig.register("text_tokens") { (name, cfg) =>
      val text = cfg.getStr(TextCol).getOrElse("text")
      Pipeline.DataStage(name, m => appendCols(name, m.data, Seq(
        TextAnalysis.tokenCount(col(text)).as("n_tokens"),
        TextAnalysis.subwordCount(col(text)).as("n_subwords"))))
    }

    // dataset-card diagnostics: REPLACES data with the per-group stats table
    PipelineConfig.register("corpus_stats") { (name, cfg) =>
      val text = cfg.getStr(TextCol).getOrElse("text")
      val groups = if (cfg.obj.contains("group_cols"))
        cfg.getList("group_cols").collect { case Cfg.S(s) => s }
      else Seq("source")
      require(groups.nonEmpty, s"stage $name: `group_cols` must be non-empty")
      Pipeline.DataStage(name, m => TextAnalysis.corpusStats(m.data, text, groups))
    }

    // C4-style page cleanup (Raffel et al. 2020 §2.2): terminal-punctuation
    // line retention + page-level phrase/brace drops; replaces the text col
    PipelineConfig.register("c4_filter") { (name, cfg) =>
      val (id, text) = ids(cfg)
      val minLineWords = cfg.getInt("min_line_words").getOrElse(5)
      val minLines = cfg.getInt("min_lines").getOrElse(3)
      val phrases = if (cfg.obj.contains("drop_phrases"))
        cfg.getList("drop_phrases").collect { case Cfg.S(s) => s }
      else Seq("lorem ipsum", "{")
      Pipeline.DataStage(name, m =>
        TextAnalysis.c4Filters(m.data, id, text, minLineWords, minLines, phrases))
    }

    // unigram word entropy (bits) — the perplexity-proxy quality signal
    PipelineConfig.register("text_entropy") { (name, cfg) =>
      val text = cfg.getStr(TextCol).getOrElse("text")
      Pipeline.DataStage(name, m => appendCols(name, m.data, Seq(
        TextAnalysis.unigramEntropy(col(text)).as("unigram_entropy"))))
    }

    // bigram-LM perplexity (CCNet-style): score each doc against a model
    // trained on the corpus at `lm_path` (self-trained when omitted);
    // appends n_bigrams / oov_bigrams / avg_nll / ppl via an id join
    PipelineConfig.register("lm_perplexity") { (name, cfg) =>
      val (id, text) = ids(cfg)
      val lmPath = cfg.getStr("lm_path")
      val lmText = cfg.getStr("lm_text_col").getOrElse(text)
      Pipeline.DataStage(name, m => {
        val lm = lmPath match {
          case Some(p) => graft.ops.LanguageModel.bigramCounts(
            m.data.sparkSession.read.parquet(p), lmText)
          case None => graft.ops.LanguageModel.bigramCounts(m.data, text)
        }
        val scores = graft.ops.LanguageModel.perplexity(m.data, id, text, lm)
        val clash = scores.columns.toSeq.filterNot(_ == id)
          .intersect(m.data.columns.toSeq)
        require(clash.isEmpty, s"stage $name: output column(s) " +
          s"${clash.mkString(", ")} already exist in the input")
        m.data.join(scores, Seq(id), "left")
      })
    }

    // one-pass per-column statistics report: REPLACES the data with the
    // profile table (the pipeline's standing data-quality artifact)
    PipelineConfig.register("profile") { (name, cfg) =>
      val cols = cfg.getList("cols").collect { case Cfg.S(s) => s }
      val approx = cfg.getBool("approx_distinct").getOrElse(false)
      Pipeline.DataStage(name, m => graft.ops.Profile.profile(m.data, cols, approx))
    }

    // as-of temporal enrichment: attach the most recent prior (or next
    // upcoming) row from the parquet table at `right_path` per key
    PipelineConfig.register("asof_join") { (name, cfg) =>
      def req(k: String) = cfg.getStr(k).getOrElse(
        throw new IllegalArgumentException(s"stage $name: `$k` is required"))
      val keys = cfg.getList("keys").collect { case Cfg.S(s) => s }
      require(keys.nonEmpty, s"stage $name: `keys` list is required")
      val (rightPath, leftTime, rightTime) =
        (req("right_path"), req("left_time"), req("right_time"))
      val values = cfg.getList("value_cols").collect { case Cfg.S(s) => s }
      require(values.nonEmpty, s"stage $name: `value_cols` list is required")
      // direction: backward | forward | nearest
      val direction = cfg.getStr("direction").getOrElse("backward")
      val strict = cfg.getBool("strict").getOrElse(false)
      val dedup = cfg.getStr("dedup_right")
      Pipeline.DataStage(name, m => {
        val right = m.data.sparkSession.read.parquet(rightPath)
        if (direction == "nearest") {
          require(!strict, s"stage $name: strict has no meaning for nearest")
          graft.operators.AsOfJoin.asOfNearest(
            m.data, right, keys, leftTime, rightTime, values, dedup)
        } else graft.operators.AsOfJoin.asOf(
          m.data, right, keys, leftTime, rightTime, values, direction,
          strict, dedup)
      })
    }

    // trailing time-range aggregates: append rolling counts/sums over the
    // last `range` time units per key
    PipelineConfig.register("rolling_agg") { (name, cfg) =>
      val keys = cfg.getList("keys").collect { case Cfg.S(s) => s }
      require(keys.nonEmpty, s"stage $name: `keys` list is required")
      val timeCol = cfg.getStr("time_col").getOrElse(
        throw new IllegalArgumentException(s"stage $name: `time_col` is required"))
      val range = cfg.getLong("range").getOrElse(
        throw new IllegalArgumentException(s"stage $name: `range` is required"))
      val countAs = cfg.getStr("count_as")
      val sumCol = cfg.getStr("sum_col")
      val sumAs = cfg.getStr("sum_as").getOrElse(sumCol.map(_ + "_sum").orNull)
      val aggs =
        countAs.map(n => n -> org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1))).toSeq ++
        sumCol.map(c => sumAs -> org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.col(c))).toSeq
      require(aggs.nonEmpty,
        s"stage $name: at least one of `count_as` / `sum_col` is required")
      Pipeline.DataStage(name, m => graft.operators.RollingAgg.trailing(
        m.data, keys, timeCol, range, aggs))
    }

    // range (interval) containment join: all rows of the parquet interval
    // table at `right_path` whose [start,end] contains the row's numeric
    // time, per key — inner semantics, one row per match
    PipelineConfig.register("range_join") { (name, cfg) =>
      def req(k: String) = cfg.getStr(k).getOrElse(
        throw new IllegalArgumentException(s"stage $name: `$k` is required"))
      val keys = cfg.getList("keys").collect { case Cfg.S(s) => s }
      require(keys.nonEmpty, s"stage $name: `keys` list is required")
      val values = cfg.getList("value_cols").collect { case Cfg.S(s) => s }
      require(values.nonEmpty, s"stage $name: `value_cols` list is required")
      val bucketWidth = cfg.getLong("bucket_width").getOrElse(
        throw new IllegalArgumentException(s"stage $name: `bucket_width` is required"))
      val maxBuckets = cfg.getInt("max_buckets_per_interval").getOrElse(4096)
      val (rightPath, timeCol, startCol, endCol) =
        (req("right_path"), req("time_col"), req("start_col"), req("end_col"))
      Pipeline.DataStage(name, m => graft.operators.RangeJoin.pointInInterval(
        m.data, m.data.sparkSession.read.parquet(rightPath), keys,
        timeCol, startCol, endCol, values, bucketWidth, maxBuckets))
    }

    // deterministic global shuffle: append the reproducible permutation
    // position (same seed -> same order anywhere); write sorted by it for
    // in-order streaming shards
    PipelineConfig.register("shuffle_rows") { (name, cfg) =>
      val id = cfg.getStr(IdCol).getOrElse("doc_id")
      val outCol = cfg.getStr("output_col").getOrElse("shuffle_pos")
      val seed = cfg.getLong("seed").getOrElse(42L)
      Pipeline.DataStage(name, m => {
        require(!m.data.columns.contains(outCol),
          s"stage $name: output column $outCol already exists in the input")
        Sampling.deterministicShuffle(m.data, id, outCol, seed)
      })
    }

    // Z-order layout: append the interleaved `__z` curve position over
    // `cols` (2-3 numeric columns) and range-partition+sort by it, so the
    // following write's parquet footers carry tight min/max on EVERY listed
    // column — multi-column data skipping from plain parquet
    PipelineConfig.register("zorder_layout") { (name, cfg) =>
      val cols = cfg.getList("cols").collect { case Cfg.S(s) => s }
      require(cols.size == 2 || cols.size == 3,
        s"stage $name: `cols` needs 2 or 3 columns, got ${cols.size}")
      val numFiles = cfg.getLong("num_files").getOrElse(64L).toInt
      Pipeline.DataStage(name, m =>
        graft.ops.Layout.zOrderBy(m.data, cols, numFiles))
    }

    // sliding-window chunking: REPLACES the data with chunk-grain rows
    // (id, n_tokens, chunk_idx, chunk_tokens, chunk_text) — the
    // long-document dual of pack_sequences
    PipelineConfig.register("chunk_documents") { (name, cfg) =>
      val (id, text) = ids(cfg)
      val window = cfg.getLong("window").getOrElse(
        throw new IllegalArgumentException(s"stage $name: `window` is required")).toInt
      val stride = cfg.getLong("stride").getOrElse(window.toLong).toInt
      Pipeline.DataStage(name, m =>
        Packing.chunkDocuments(m.data, id, text, window, stride))
    }

    // CCNet head/middle/tail: bucket an LM-scored corpus into per-group
    // equal-population bands on `ppl_col` (append `ppl_bucket` 1..n_buckets);
    // compose after lm_perplexity — `keep_buckets: [1,2]` then also filters
    // to CCNet's curated head+middle
    PipelineConfig.register("ppl_buckets") { (name, cfg) =>
      val pplCol = cfg.getStr("ppl_col").getOrElse("ppl")
      val groupCols = cfg.getList("group_by").collect { case Cfg.S(s) => s }
      val nBuckets = cfg.getLong("n_buckets").getOrElse(3L).toInt
      val keep = cfg.getList("keep_buckets").collect { case Cfg.I(i) => i.toInt }
      Pipeline.DataStage(name, m => {
        require(m.data.columns.contains(pplCol),
          s"stage $name: score column `$pplCol` not in the input — " +
            "compose after lm_perplexity or point ppl_col at your score")
        require(!m.data.columns.contains("ppl_bucket"),
          s"stage $name: output column ppl_bucket already exists in the input")
        val b = graft.ops.LanguageModel.perplexityBuckets(
          m.data, pplCol, groupCols, nBuckets)
        if (keep.isEmpty) b else b.filter(col("ppl_bucket").isin(keep: _*))
      })
    }

    // Naive Bayes classifier: train on the labeled corpus at `train_path`
    // (default: the data itself) with `label_col`, append the predicted
    // class as `output_col` (default `nb_pred`)
    PipelineConfig.register("nb_classify") { (name, cfg) =>
      val (id, text) = ids(cfg)
      val labelCol = cfg.getStr("label_col").getOrElse("label")
      val outCol = cfg.getStr("output_col").getOrElse("nb_pred")
      val trainPath = cfg.getStr("train_path")
      val trainText = cfg.getStr("train_text_col").getOrElse(text)
      Pipeline.DataStage(name, m => {
        require(!m.data.columns.contains(outCol),
          s"stage $name: output column $outCol already exists in the input")
        val seed = trainPath match {
          case Some(p) => m.data.sparkSession.read.parquet(p)
          case None => m.data
        }
        val (tc, priors) = graft.ops.Classifier.trainNaiveBayes(seed, trainText, labelCol)
        val preds = graft.ops.Classifier.nbClassify(m.data, id, text, tc, priors)
          .withColumnRenamed("pred", outCol)
        m.data.join(preds, Seq(id), "left")
      })
    }

    // NB train/test evaluation: REPLACES the data with the confusion table
    // (label, pred, n) of classifying it against a model trained on
    // `train_path` (required — evaluating a self-trained model on its own
    // training set only reports resubstitution accuracy)
    PipelineConfig.register("nb_eval") { (name, cfg) =>
      val (id, text) = ids(cfg)
      val labelCol = cfg.getStr("label_col").getOrElse("label")
      val trainPath = cfg.getStr("train_path").getOrElse(
        throw new IllegalArgumentException(s"stage $name: `train_path` is required"))
      val trainText = cfg.getStr("train_text_col").getOrElse(text)
      val trainLabel = cfg.getStr("train_label_col").getOrElse(labelCol)
      Pipeline.DataStage(name, m => {
        val (tc, priors) = graft.ops.Classifier.trainNaiveBayes(
          m.data.sparkSession.read.parquet(trainPath), trainText, trainLabel)
        graft.ops.Classifier.nbConfusion(m.data, id, text, labelCol, tc, priors)
      })
    }

    // per-group unigram JS divergence to the whole corpus (mix-shift
    // monitoring); REPLACES the data with the per-group divergence table
    PipelineConfig.register("js_divergence") { (name, cfg) =>
      val text = cfg.getStr(TextCol).getOrElse("text")
      val group = cfg.getStr("group_col").getOrElse("source")
      Pipeline.DataStage(name, m =>
        graft.ops.Divergence.jsDivergence(m.data, group, text))
    }

    // deterministic Bernoulli sample on the id hash (retry/engine-stable)
    PipelineConfig.register("sample") { (name, cfg) =>
      val id = cfg.getStr(IdCol).getOrElse("doc_id")
      val fraction = cfg.getDouble("fraction").getOrElse(throw new IllegalArgumentException(
        s"stage $name: `fraction` is required"))
      val seed = cfg.getLong("seed").getOrElse(42L)
      Pipeline.DataStage(name, m => Sampling.sample(m.data, id, fraction, seed))
    }

    // deterministic split assignment: splits is an ORDERED {name: weight} map
    PipelineConfig.register("sample_split") { (name, cfg) =>
      val id = cfg.getStr(IdCol).getOrElse("doc_id")
      val seed = cfg.getLong("seed").getOrElse(42L)
      val splits = cfg.numberMap("splits", s"stage $name").getOrElse(
        throw new IllegalArgumentException(
          s"stage $name: `splits` map of {name: weight} is required"))
      Pipeline.DataStage(name, m => Sampling.assignSplits(m.data, id, splits, seed))
    }

    // deterministic per-stratum resampling to a target mix: rates is a
    // {stratum: rate} map; rate > 1 repeats rows (0-based `epoch` column
    // distinguishes copies), rate < 1 downsamples with sample()'s hash
    PipelineConfig.register("resample_mix") { (name, cfg) =>
      val id = cfg.getStr(IdCol).getOrElse("doc_id")
      val stratum = cfg.getStr("stratum_col").getOrElse(throw new IllegalArgumentException(
        s"stage $name: `stratum_col` is required"))
      val rates = cfg.numberMap("rates", s"stage $name").getOrElse(
        throw new IllegalArgumentException(
          s"stage $name: `rates` map of {stratum: rate} is required"))
      val defaultRate = cfg.getDouble("default_rate").getOrElse(1.0)
      val seed = cfg.getLong("seed").getOrElse(42L)
      val epochCol = cfg.getStr("epoch_col").getOrElse("epoch")
      Pipeline.DataStage(name, m =>
        Sampling.resampleMix(m.data, id, stratum, rates, defaultRate, seed, epochCol))
    }

    // temperature (alpha) mix rebalancing: derive per-stratum rates from
    // the corpus's own counts (share ∝ p^alpha) and resample — alpha 1 is a
    // no-op mix, alpha 0 equalizes strata
    PipelineConfig.register("temperature_mix") { (name, cfg) =>
      val id = cfg.getStr(IdCol).getOrElse("doc_id")
      val stratum = cfg.getStr("stratum_col").getOrElse(throw new IllegalArgumentException(
        s"stage $name: `stratum_col` is required"))
      val alpha = cfg.getDouble("alpha").getOrElse(throw new IllegalArgumentException(
        s"stage $name: `alpha` is required"))
      val sizeFactor = cfg.getDouble("size_factor").getOrElse(1.0)
      val seed = cfg.getLong("seed").getOrElse(42L)
      val epochCol = cfg.getStr("epoch_col").getOrElse("epoch")
      Pipeline.DataStage(name, m =>
        Sampling.temperatureMix(m.data, id, stratum, alpha, sizeFactor, seed, epochCol))
    }

    // token-budget cap: keep docs in deterministic hash order until the
    // (per-stratum) cumulative token count reaches `budget_tokens`
    PipelineConfig.register("token_budget_cap") { (name, cfg) =>
      val id = cfg.getStr(IdCol).getOrElse("doc_id")
      val text = cfg.getStr(TextCol).getOrElse("text")
      val budget = cfg.getLong("budget_tokens").getOrElse(
        throw new IllegalArgumentException(
          s"stage $name: `budget_tokens` is required"))
      val stratum = cfg.getStr("stratum_col")
      val seed = cfg.getLong("seed").getOrElse(42L)
      val bcast = cfg.getBool("broadcast").getOrElse(true)
      Pipeline.DataStage(name, m =>
        Sampling.tokenBudgetCap(m.data, id, text, budget, stratum, seed, bcast))
    }

    PipelineConfig.register("stratified_cap") { (name, cfg) =>
      val id = cfg.getStr(IdCol).getOrElse("doc_id")
      val stratum = cfg.getStr("stratum_col").getOrElse(throw new IllegalArgumentException(
        s"stage $name: `stratum_col` is required"))
      val perStratum = cfg.getInt("per_stratum").getOrElse(throw new IllegalArgumentException(
        s"stage $name: `per_stratum` is required"))
      val seed = cfg.getLong("seed").getOrElse(42L)
      // default: bounded top-k aggregate + broadcast semi-join (skew-proof,
      // unique-id contract); `algo: window` selects the salted-window cap
      // for corpora with duplicate ids (`salts` applies only there)
      val algo = cfg.getStr("algo").getOrElse("topk")
      val salts = cfg.getInt("salts").getOrElse(64)
      // broadcast: false for near-unique stratum columns, where the winner
      // set is no longer metadata-sized (see Sampling.stratifiedCap)
      val bcast = cfg.getBool("broadcast").getOrElse(true)
      Pipeline.DataStage(name, m => algo match {
        case "topk" =>
          Sampling.stratifiedCap(m.data, id, stratum, perStratum, seed, bcast)
        case "window" =>
          Sampling.stratifiedCapWindow(m.data, id, stratum, perStratum, seed, salts)
        case other => throw new IllegalArgumentException(
          s"stage $name: unknown algo `$other` (expected topk|window)")
      })
    }

    // concat-then-chunk sequence packing: REPLACES data with the per-doc
    // layout table (shard, offset, seq_idx, straddles) for loader manifests
    PipelineConfig.register("pack_sequences") { (name, cfg) =>
      val id = cfg.getStr(IdCol).getOrElse("doc_id")
      val text = cfg.getStr(TextCol).getOrElse("text")
      val capacity = cfg.getInt("capacity").getOrElse(
        throw new IllegalArgumentException(s"stage $name: `capacity` is required"))
      val shards = cfg.getInt("shards").getOrElse(256)
      val seed = cfg.getLong("seed").getOrElse(42L)
      // `shard` is also the MEDS dataset-layout provenance column, which
      // MedsIO.write strips on the way to disk — a pipeline that ends in
      // packing and flows into a dataset root must rename the packing
      // shard (`shard_col: pack_shard`) to keep it
      val shardCol = cfg.getStr("shard_col").getOrElse("shard")
      Pipeline.DataStage(name, m => {
        val out = Packing.packSequences(m.data, id, text, capacity, shards, seed)
        if (shardCol == "shard") out else out.withColumnRenamed("shard", shardCol)
      })
    }

    // ---- similarity / sketch / multimodal stages -------------------------
    // (embedding-table column defaults follow the embeddings schema:
    // `vec_id`, `embedding`, block/label column `label`)

    def vecIds(cfg: Cfg) = (cfg.getStr(IdCol).getOrElse("vec_id"),
      cfg.getStr("vec_col").getOrElse("embedding"))

    def doubleList(cfg: Cfg, k: String): Seq[Double] =
      cfg.getList(k).collect { case Cfg.D(d) => d; case Cfg.I(i) => i.toDouble }

    // append the winnowing sketch as an array column (pure projection —
    // no explode/shuffle; the exploded per-fingerprint table stays available
    // through the graft.ops API)
    PipelineConfig.register("winnow_fingerprint") { (name, cfg) =>
      val text = cfg.getStr(TextCol).getOrElse("text")
      val n = cfg.getInt("n").getOrElse(3)
      val w = cfg.getInt("w").getOrElse(4)
      Pipeline.DataStage(name, m => appendCols(name, m.data,
        Seq(Dedup.winnowFingerprintArray(col(text), n, w).as("winnow_fingerprints"))))
    }

    // embedding-cosine near-dup dedup over a block/label column — same
    // representative-selection semantics as the text dedup stages
    PipelineConfig.register("embed_dedup") { (name, cfg) =>
      val (id, vec) = vecIds(cfg)
      val block = cfg.getStr("block_col").getOrElse("label")
      val threshold = cfg.getDouble("threshold").getOrElse(0.95)
      val maxBlock = cfg.getInt("max_block") // None = no hot-block sub-bucketing
      Pipeline.DataStage(name, m => dropNonRepresentatives(m.data, id,
        Dedup.embeddingPairs(m.data, id, vec, col(block), threshold, maxBlock)))
    }

    // SemDeDup (arXiv:2303.09540): coarse-cluster the embeddings — a
    // precomputed `cluster_col` if the corpus has one, else `k` k-means
    // cells over `iters` Lloyd rounds — then drop within-cluster cosine
    // near-duplicates, keeping the cluster-min-id representative
    PipelineConfig.register("semdedup") { (name, cfg) =>
      val (id, vec) = vecIds(cfg)
      val clusterCol = cfg.getStr("cluster_col")
      val threshold = cfg.getDouble("threshold").getOrElse(0.95)
      val k = cfg.getInt("k").getOrElse(64)
      val iters = cfg.getInt("iters").getOrElse(1)
      val maxBlock = cfg.getInt("max_block")
      Pipeline.DataStage(name, m =>
        Dedup.semDedup(m.data, id, vec, threshold, clusterCol, k, iters, maxBlock))
    }

    // product quantization: train m-subspace codebooks on the (optionally
    // hash-sampled) corpus, append the compact `pq_codes` column — the
    // memory-compressed ANN representation (graft.ops.Pq; fixed-point
    // deterministic training, oracle-verified by the pq_codes gate)
    PipelineConfig.register("pq_encode") { (name, cfg) =>
      val (id, vec) = vecIds(cfg)
      val dim = cfg.getInt("dim").getOrElse(64)
      val m0 = cfg.getInt("m").getOrElse(8)
      val ksub = cfg.getInt("ksub").getOrElse(8)
      val iters = cfg.getInt("iters").getOrElse(3)
      val seed = cfg.getInt("seed").map(_.toLong).getOrElse(42L)
      val frac = cfg.getDouble("train_fraction").getOrElse(1.0)
      // model_path: persist-or-reuse codebooks (the production shape —
      // train on one snapshot, encode every later run against the SAME
      // model so codes stay comparable across corpus versions)
      val modelPath = cfg.getStr("model_path")
      // opq: true — learn the signed-Hadamard-permutation rotation by
      // alternating minimization before quantizing (Pq.trainOpq); same
      // fixed-point determinism, measurably higher recall at the same
      // bit budget (SMOKE.md "OPQ: learned rotation joins PQ")
      val opq = cfg.getBool("opq").getOrElse(false)
      val alts = cfg.getInt("opq_alternations").getOrElse(2)
      Pipeline.DataStage(name, m => {
        // encode() appends `codes` and the stage publishes it as `pq_codes`:
        // either name pre-existing would mean silent replacement / an
        // ambiguous duplicate downstream — fail loudly like the other
        // column-appending stages
        val clash = Seq("codes", "pq_codes").filter(m.data.columns.contains)
        require(clash.isEmpty, s"stage $name: output column(s) " +
          s"${clash.mkString(", ")} already exist in the input")
        val encoded =
          if (opq) {
            val om = Pq.trainOrLoadOpq(m.data, id, vec, dim, m0, ksub, iters,
              seed, frac, alts, modelPath)
            Pq.encodeOpq(m.data, vec, om)
          } else {
            val model = Pq.trainOrLoad(m.data, id, vec, dim, m0, ksub, iters,
              seed, frac, modelPath)
            Pq.encode(m.data, vec, model)
          }
        encoded.withColumnRenamed("codes", "pq_codes")
      })
    }

    // batch-query PQ k-NN: every row of the `queries_path` table gets its
    // ADC top-k over the corpus (trained+encoded in-stage, or reusing a
    // `model_path` codebook like pq_encode). REPLACES the data with the
    // (qid, <id>, dist_e6, rank) pair table — the bulk-retrieval analog of
    // sim_topk's single-query modes.
    PipelineConfig.register("pq_knn") { (name, cfg) =>
      val (id, vec) = vecIds(cfg)
      val k = cfg.getInt("k").getOrElse(5)
      val dim = cfg.getInt("dim").getOrElse(64)
      val m0 = cfg.getInt("m").getOrElse(8)
      val ksub = cfg.getInt("ksub").getOrElse(8)
      val iters = cfg.getInt("iters").getOrElse(3)
      val seed = cfg.getInt("seed").map(_.toLong).getOrElse(42L)
      val frac = cfg.getDouble("train_fraction").getOrElse(1.0)
      val queriesPath = cfg.getStr("queries_path").getOrElse(throw new
        IllegalArgumentException(s"stage $name: `queries_path` is required"))
      val qid = cfg.getStr("query_id_col").getOrElse("qid")
      val qvec = cfg.getStr("query_vec_col").getOrElse(vec)
      val modelPath = cfg.getStr("model_path")
      // rerank: N — ADC shortlist of N per query, exact distance on the
      // shortlist only (the standard PQ serving recipe; ~2× recall@10 at
      // the gate config, SMOKE.md "ANN recall: PQ joins the tuning-curve
      // evidence"). Omitted = ADC-only.
      val rerank = cfg.getInt("rerank").getOrElse(0)
      require(rerank == 0 || rerank >= k,
        s"stage $name: `rerank` ($rerank) must be >= k ($k)")
      Pipeline.DataStage(name, m => {
        val spark = m.data.sparkSession
        val model = Pq.trainOrLoad(m.data, id, vec, dim, m0, ksub, iters,
          seed, frac, modelPath)
        val queries = spark.read.parquet(queriesPath)
        val encoded = Pq.encode(m.data, vec, model)
        if (rerank > 0)
          Pq.adcKnnJoinRerank(encoded, id, vec, model, queries, qid, qvec, k, rerank)
        else Pq.adcKnnJoin(encoded, id, model, queries, qid, qvec, k)
      })
    }

    // k-NN join: each data row gets its k nearest rows of `right_path`
    // (another parquet table; omitted = self-join) sharing `block_col`.
    // Default output appends a `knn` array column (sorted by rank) so the
    // corpus stays chainable; `output: pairs` replaces data with the raw
    // (id_l, id_r, cos, rank) pair table for analysis pipelines.
    PipelineConfig.register("knn_join") { (name, cfg) =>
      val (id, vec) = vecIds(cfg)
      val block = cfg.getStr("block_col").getOrElse("label")
      val k = cfg.getInt("k").getOrElse(5)
      val cap = cfg.getInt("max_block_size")
      val rightPath = cfg.getStr("right_path")
      val output = cfg.getStr("output").getOrElse("column")
      require(output == "column" || output == "pairs",
        s"stage $name: `output` must be `column` or `pairs`, got `$output`")
      Pipeline.DataStage(name, m => {
        val right = rightPath match {
          case Some(p) => m.data.sparkSession.read.parquet(p)
          case None => m.data
        }
        val pairs = Similarity.knnJoin(m.data, right, id, vec, block, k, cap)
        if (output == "pairs") pairs
        else {
          val neighbors = pairs
            .groupBy(col("id_l").as(id))
            .agg(sort_array(collect_list(struct(
              col("rank"), col("id_r"), col("cos")))).as("knn"))
          require(!m.data.columns.contains("knn"),
            s"stage $name: output column knn already exists in the input")
          m.data.join(neighbors, Seq(id), "left")
        }
      })
    }

    // per-doc top-k TF-IDF terms (keyword extraction / domain-mix stats);
    // REPLACES the data with the (id, term, tf, score, rank) table
    PipelineConfig.register("tf_idf") { (name, cfg) =>
      val (id, text) = ids(cfg)
      val k = cfg.getInt("k").getOrElse(5)
      Pipeline.DataStage(name, m =>
        TextAnalysis.tfIdfTopTerms(m.data, id, text, k))
    }

    // top-k selection against one query vector: brute-force exact (default),
    // sign-LSH bucketed, or IVF (over `key_col` cells when given, else
    // k-means cells) — replaces data with the k best rows + their cosine.
    // `pq` / `ivfpq` are the compressed-corpus variants (train codebooks,
    // encode, ADC-score; ivfpq prunes candidates to the `n_probe` cells of
    // a required `key_col` first) — they rank by integer squared L2
    // (`dist_e6`), not cosine, so the output column differs by design
    PipelineConfig.register("sim_topk") { (name, cfg) =>
      val (id, vec) = vecIds(cfg)
      val query = doubleList(cfg, "query").map(_.toFloat)
      require(query.nonEmpty, s"stage $name: `query` vector is required")
      val k = cfg.getInt("k").getOrElse(10)
      val mode = cfg.getStr("mode").getOrElse("brute")
      def pqModel(m: graft.meds.MedsData): Pq.PqModel = {
        val m0 = cfg.getInt("m").getOrElse(8)
        require(query.length % m0 == 0,
          s"stage $name: query dim ${query.length} not divisible by m=$m0")
        Pq.train(m.data, id, vec, dim = query.length, m = m0,
          ksub = cfg.getInt("ksub").getOrElse(8),
          iters = cfg.getInt("iters").getOrElse(3),
          seed = cfg.getInt("seed").map(_.toLong).getOrElse(42L),
          trainFraction = cfg.getDouble("train_fraction").getOrElse(1.0))
      }
      val queryXe = Pq.xe(query.map(_.toDouble))
      // rerank: N (pq/ivfpq modes) — ADC shortlist of N, exact re-rank on
      // the shortlist only. Omitted = ADC-only ranking.
      val rerank = cfg.getInt("rerank").getOrElse(0)
      require(rerank == 0 || rerank >= k,
        s"stage $name: `rerank` ($rerank) must be >= k ($k)")
      // fail loudly on an inapplicable key: brute is already exact, and
      // lsh/ivf have no ADC shortlist to re-rank — a silently ignored
      // `rerank` would misreport the recall a user thinks they bought
      require(rerank == 0 || mode == "pq" || mode == "ivfpq",
        s"stage $name: `rerank` only applies to modes pq | ivfpq (got `$mode`)")
      Pipeline.DataStage(name, m => mode match {
        case "brute" => Similarity.topK(m.data, id, vec, query, k)
        case "lsh" =>
          val planes = cfg.getInt("planes").getOrElse(8)
          Similarity.lshTopK(m.data, id, vec, query, k, 0 until planes)
        case "ivf" =>
          val nProbe = cfg.getInt("n_probe").getOrElse(2)
          cfg.getStr("key_col") match {
            case Some(key) => Similarity.ivfTopK(m.data, id, key, vec, query, k, nProbe)
            case None => Similarity.ivfTopKKmeans(m.data, id, vec, query, k,
              cfg.getInt("n_cells").getOrElse(16), nProbe,
              cfg.getInt("iters").getOrElse(2))
          }
        case "pq" =>
          val model = pqModel(m)
          val enc = Pq.encode(m.data, vec, model)
          if (rerank > 0) Pq.adcTopKRerank(enc, id, vec, model, queryXe, k, rerank)
          else Pq.adcTopK(enc, id, model, queryXe, k)
        case "ivfpq" =>
          val key = cfg.getStr("key_col").getOrElse(throw new
            IllegalArgumentException(s"stage $name: mode ivfpq requires `key_col`"))
          val model = pqModel(m)
          Pq.ivfPqTopK(Pq.encode(m.data, vec, model), id, key, vec, model,
            query, queryXe, k, cfg.getInt("n_probe").getOrElse(2), rerank)
        case other => throw new IllegalArgumentException(
          s"stage $name: unknown mode `$other` (brute | lsh | ivf | pq | ivfpq)")
      })
    }

    // text normalization: the standard pre-dedup cleanup, in-place on
    // `text_col` by default or appended as `output_col`. Fixed application
    // order (lowercase → strip_punct → collapse_ws → trim) regardless of
    // the order requested, so configs normalize identically.
    PipelineConfig.register("normalize_text") { (name, cfg) =>
      val text = cfg.getStr(TextCol).getOrElse("text")
      val ops = cfg.strings("ops") match {
        case Seq() => TextAnalysis.NormalizeOps
        case xs => xs
      }
      val normalized = try TextAnalysis.normalize(col(text), ops)
      catch { case e: IllegalArgumentException =>
        throw new IllegalArgumentException(s"stage $name: ${e.getMessage}")
      }
      cfg.getStr("output_col") match {
        case Some(out) => Pipeline.DataStage(name, m =>
          appendCols(name, m.data, Seq(normalized.as(out))))
        case None => Pipeline.DataStage(name, m =>
          m.data.withColumn(text, normalized))
      }
    }

    // semi-structured extraction: parse a JSON string column with a DDL
    // schema ("k BIGINT, tag STRING") and append each parsed field as a
    // top-level column. Schema typos fail at config-parse time; malformed
    // JSON rows yield null fields (from_json's PERMISSIVE default — a log
    // pipeline must not die on one corrupt line).
    PipelineConfig.register("json_extract") { (name, cfg) =>
      val jsonCol = cfg.getStr("json_col").getOrElse(throw new IllegalArgumentException(
        s"stage $name: `json_col` is required"))
      val ddl = cfg.getStr("schema").getOrElse(throw new IllegalArgumentException(
        s"stage $name: `schema` (DDL, e.g. \"k BIGINT, tag STRING\") is required"))
      val schema = try org.apache.spark.sql.types.StructType.fromDDL(ddl)
      catch { case e: Exception => throw new IllegalArgumentException(
        s"stage $name: unparsable `schema` '$ddl': ${e.getMessage}")
      }
      Pipeline.DataStage(name, m => {
        val parsed = from_json(col(jsonCol), schema)
        appendCols(name, m.data,
          schema.fieldNames.toSeq.map(f => parsed.getField(f).as(f)))
      })
    }

    // corpus source/sink stages: replace the data table with a JSONL/CSV
    // corpus (or emit one mid-pipeline). `schema` is validated at config
    // time — from_json/DataFrameReader only surface a bad DDL lazily.
    def sourceCfg(name: String, cfg: Cfg): (String, Option[String]) = {
      val path = cfg.getStr("path").getOrElse(throw new IllegalArgumentException(
        s"stage $name: `path` is required"))
      val ddl = cfg.getStr("schema")
      ddl.foreach { d =>
        try org.apache.spark.sql.types.StructType.fromDDL(d)
        catch { case e: Exception => throw new IllegalArgumentException(
          s"stage $name: unparsable `schema` '$d': ${e.getMessage}") }
      }
      (path, ddl)
    }

    // train a BPE merge table on the flowing corpus and persist it as a
    // parquet artifact (rank, left, right): ONE distributed scan to the
    // capped word-frequency dictionary, driver merge loop, vocabulary-sized
    // write. Data flows through unchanged so the stage composes anywhere.
    PipelineConfig.register("bpe_train") { (name, cfg) =>
      val (_, text) = ids(cfg)
      val modelPath = cfg.getStr("model_path").getOrElse(
        throw new IllegalArgumentException(s"stage $name: `model_path` is required"))
      val numMerges = cfg.getLong("num_merges").getOrElse(256L).toInt
      val maxWords = cfg.getLong("max_words").getOrElse(1L << 20).toInt
      val minFreq = cfg.getLong("min_frequency").getOrElse(2L)
      Pipeline.DataStage(name, m => {
        val merges = graft.ops.Bpe.trainFromCorpus(m.data, text, numMerges,
          maxWords, minFreq)
        graft.ops.Bpe.mergesToDF(m.data.sparkSession, merges)
          .coalesce(1).write.mode("overwrite").parquet(modelPath)
        m.data
      })
    }

    // subword-encode `text_col` with a persisted model (`model_path`) or a
    // model trained inline on the flowing corpus; adds `output_col`
    // (array<string>) — a pure codegen'd projection, the merge table rides
    // the plan as a constant (never a join)
    PipelineConfig.register("bpe_encode") { (name, cfg) =>
      val (_, text) = ids(cfg)
      val out = cfg.getStr("output_col").getOrElse("bpe_tokens")
      val modelPath = cfg.getStr("model_path")
      val numMerges = cfg.getLong("num_merges").getOrElse(256L).toInt
      val maxWords = cfg.getLong("max_words").getOrElse(1L << 20).toInt
      val minFreq = cfg.getLong("min_frequency").getOrElse(2L)
      Pipeline.DataStage(name, m => {
        val merges = modelPath match {
          case Some(p) =>
            graft.ops.Bpe.mergesFromDF(m.data.sparkSession.read.parquet(p))
          case None => graft.ops.Bpe.trainFromCorpus(m.data, text, numMerges,
            maxWords, minFreq)
        }
        m.data.withColumn(out, graft.ops.Bpe.encode(col(text), merges))
      })
    }

    // theta-sketch overlap audit against a reference release: replaces the
    // flowing data with the metadata-sized per-group overlap report (A =
    // the reference at `ref_path`, B = the flowing corpus) — the cheap
    // "how much of this crawl is new?" answer before any dedup pass
    PipelineConfig.register("overlap_report") { (name, cfg) =>
      val (_, text) = ids(cfg)
      val refPath = cfg.getStr("ref_path").getOrElse(
        throw new IllegalArgumentException(s"stage $name: `ref_path` is required"))
      val groupCols = cfg.getStr("group_cols")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
      val normalize = cfg.getBool("normalize").getOrElse(true)
      val lgNom = cfg.getLong("lg_nominal_entries")
        .getOrElse(graft.ops.Overlap.DefaultLgNominal.toLong).toInt
      Pipeline.DataStage(name, m => graft.ops.Overlap.overlapReport(
        m.data.sparkSession.read.parquet(refPath), m.data, text, groupCols,
        normalize, lgNom))
    }

    PipelineConfig.register("load_jsonl") { (name, cfg) =>
      val (path, ddl) = sourceCfg(name, cfg)
      Pipeline.DataStage(name, m =>
        graft.sources.CorpusSources.readJsonl(m.data.sparkSession, path, ddl))
    }

    PipelineConfig.register("write_jsonl") { (name, cfg) =>
      val (path, _) = sourceCfg(name, cfg)
      Pipeline.DataStage(name, m => {
        graft.sources.CorpusSources.writeJsonl(m.data, path); m.data })
    }

    // heavy-hitter report: replaces the flowing data with the corpus's
    // frequent items over `item_col` (a token/host/url column — explode
    // upstream with json_extract/chunk stages as needed): ONE fixed-size
    // sketch aggregation, then the >= `threshold` items unpacked
    PipelineConfig.register("freq_items") { (name, cfg) =>
      val itemCol = cfg.getStr("item_col").getOrElse("item")
      val threshold = cfg.getLong("threshold").getOrElse(2L)
      val maxMap = cfg.getLong("max_map_size")
        .getOrElse(graft.plans.FrequencyExpressions.DefaultMaxMapSize.toLong).toInt
      require(maxMap > 0 && (maxMap & (maxMap - 1)) == 0,
        s"stage $name: max_map_size must be a power of 2, got $maxMap")
      Pipeline.DataStage(name, m => {
        import graft.plans.FrequencyExpressions._
        m.data.agg(freqAgg(col(itemCol), maxMap).as("__sk"))
          .select(explode(freqItems(col("__sk"), lit(threshold))).as("f"))
          .select(col("f.item").as(itemCol), col("f.estimate").as("estimate"),
            col("f.lower").as("lower"), col("f.upper").as("upper"))
      })
    }

    PipelineConfig.register("load_orc") { (name, cfg) =>
      val (path, _) = sourceCfg(name, cfg)
      Pipeline.DataStage(name, m =>
        graft.sources.CorpusSources.readOrc(m.data.sparkSession, path))
    }

    PipelineConfig.register("write_orc") { (name, cfg) =>
      val (path, _) = sourceCfg(name, cfg)
      Pipeline.DataStage(name, m => {
        graft.sources.CorpusSources.writeOrc(m.data, path); m.data })
    }

    PipelineConfig.register("write_csv") { (name, cfg) =>
      val (path, _) = sourceCfg(name, cfg)
      Pipeline.DataStage(name, m => {
        graft.sources.CorpusSources.writeCsv(m.data, path); m.data })
    }

    // fail-fast schema contract: every (name, type) in the DDL must be
    // present in the flowing data — a pipeline typo (renamed column,
    // wrong cast) dies HERE with a readable message instead of twelve
    // stages later inside an analyzer error
    PipelineConfig.register("expect_schema") { (name, cfg) =>
      val ddl = cfg.getStr("schema").getOrElse(throw new IllegalArgumentException(
        s"stage $name: `schema` (DDL) is required"))
      val expected =
        try org.apache.spark.sql.types.StructType.fromDDL(ddl)
        catch { case e: Exception => throw new IllegalArgumentException(
          s"stage $name: unparsable `schema` '$ddl': ${e.getMessage}") }
      Pipeline.DataStage(name, m => {
        val actual = m.data.schema
        val problems = expected.fields.flatMap { f =>
          actual.fields.find(_.name == f.name) match {
            case None => Some(s"missing column `${f.name}`")
            case Some(a) if a.dataType != f.dataType =>
              Some(s"column `${f.name}` is ${a.dataType.sql}, expected ${f.dataType.sql}")
            case _ => None
          }
        }
        require(problems.isEmpty,
          s"stage $name: schema contract violated: ${problems.mkString("; ")}")
        m.data
      })
    }

    // row-level data-quality contract: fail the run when more than
    // `max_violation_rate` (default 0 — any) of the rows violate the SQL
    // predicate in `expect`. ONE aggregate pass (count + violation count);
    // passing data flows through unchanged, so the contract composes
    // anywhere in a chain like expect_schema does for shapes.
    PipelineConfig.register("expect_rows") { (name, cfg) =>
      val predicate = cfg.getStr("expect").getOrElse(throw new IllegalArgumentException(
        s"stage $name: `expect` (SQL boolean expression) is required"))
      val maxRate = cfg.getDouble("max_violation_rate").getOrElse(0.0)
      require(maxRate >= 0 && maxRate <= 1,
        s"stage $name: max_violation_rate must be in [0,1], got $maxRate")
      Pipeline.DataStage(name, m => {
        // a null predicate result is a violation: "unknown" must not pass a
        // quality gate silently. expr() parses LAZILY (at analysis), so the
        // catch wraps the evaluation, not the construction.
        val ok = expr(predicate)
        val r =
          try m.data.agg(count(lit(1)).as("n"),
            count(when(!coalesce(ok, lit(false)), 1)).as("bad")).head()
          catch { case e: org.apache.spark.sql.AnalysisException =>
            throw new IllegalArgumentException(
              s"stage $name: unparsable or invalid `expect` '$predicate': " +
                e.getMessage) }
        val (n, bad) = (r.getLong(0), r.getLong(1))
        require(n == 0 || bad.toDouble / n <= maxRate,
          s"stage $name: row contract `$predicate` violated by $bad/$n rows " +
            f"(${bad.toDouble / n}%.4f > $maxRate%.4f allowed)")
        m.data
      })
    }

    PipelineConfig.register("load_csv") { (name, cfg) =>
      val (path, ddl) = sourceCfg(name, cfg)
      val header = cfg.getBool("header").getOrElse(true)
      val multiLine = cfg.getBool("multiline").getOrElse(false)
      Pipeline.DataStage(name, m => graft.sources.CorpusSources.readCsv(
        m.data.sparkSession, path, ddl, header, multiLine))
    }

    // generic predicate filter over the data table — the glue stage corpus
    // pipelines need between signal stages and dedup (e.g. keep
    // `lang_pred = 'en' AND n_tokens > 100` after lang_id/text_tokens).
    // The predicate is a Spark SQL boolean expression; it fails at
    // config-parse time if unparsable, at analysis time if columns miss.
    // generic enrichment join against an external parquet table (attach
    // embeddings / metadata / scores to the flowing corpus, or subset it
    // with a semi/anti join). `keys` maps flowing-side columns to the
    // right table's (same names; use `right_keys` when they differ);
    // `broadcast: true` (default) hints the external side — enrichment
    // tables are usually the small side, and a 100 TB right side should
    // flow through the corpus-side join key partitioning instead.
    PipelineConfig.register("join_table") { (name, cfg) =>
      val path = cfg.getStr("path").getOrElse(throw new IllegalArgumentException(
        s"stage $name: `path` is required"))
      val keys = cfg.strings("keys")
      require(keys.nonEmpty, s"stage $name: `keys` is required")
      val rightKeys =
        if (cfg.getList("right_keys").nonEmpty) cfg.strings("right_keys") else keys
      require(rightKeys.length == keys.length,
        s"stage $name: `right_keys` must match `keys` in length")
      val how = cfg.getStr("how").getOrElse("left")
      val allowed = Set("inner", "left", "left_semi", "left_anti")
      require(allowed(how),
        s"stage $name: unknown how `$how` (expected ${allowed.mkString("|")})")
      val bcast = cfg.getBool("broadcast").getOrElse(true)
      Pipeline.DataStage(name, m => {
        val right0 = m.data.sparkSession.read.parquet(path)
        val right = keys.zip(rightKeys).foldLeft(right0) {
          case (df, (l, r)) => if (l == r) df else df.withColumnRenamed(r, l)
        }
        val clash = right.columns.toSet -- keys.toSet intersect m.data.columns.toSet
        require(how == "left_semi" || how == "left_anti" || clash.isEmpty,
          s"stage $name: right column(s) ${clash.toSeq.sorted.mkString(", ")} " +
            "already exist in the input — project or rename the right table")
        m.data.join(if (bcast) broadcast(right) else right, keys, how)
      })
    }

    PipelineConfig.register("filter_rows") { (name, cfg) =>
      val predicate = cfg.getStr("predicate").getOrElse(throw new IllegalArgumentException(
        s"stage $name: `predicate` (a SQL boolean expression) is required"))
      // parse eagerly so a syntax error fails at config time, not
      // mid-pipeline (Spark 4's Column API defers expr() parsing to binding)
      try org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(predicate)
      catch { case e: org.apache.spark.sql.catalyst.parser.ParseException =>
        throw new IllegalArgumentException(
          s"stage $name: unparsable `predicate` '$predicate': ${e.getMessage}")
      }
      Pipeline.DataStage(name, m => m.data.filter(expr(predicate)))
    }

    // batch sessionization over an event-shaped data table: groups activity
    // into gap-separated sessions (the sequence-construction primitive).
    // Column names are configurable; REPLACES data with the session table
    // (user_id, session_idx, start_ts, end_ts, n_events, sum_value). The
    // streaming twin stays on the graft.streaming API (a YAML pipeline is a
    // batch run; identical semantics spec-locked in StreamingSpec).
    PipelineConfig.register("sessionize") { (name, cfg) =>
      val gap = cfg.getInt("gap_minutes").getOrElse(30)
      val user = cfg.getStr("user_col").getOrElse("user_id")
      val tsc = cfg.getStr("ts_col").getOrElse("ts")
      val value = cfg.getStr("value_col").getOrElse("value")
      val tieBreak = cfg.getStr("tie_break_col").getOrElse("event_id")
      // the select below renames into the fixed (user_id, ts, value) shape;
      // a tie-break column named like one of them would duplicate an output
      // column and surface later as AMBIGUOUS_REFERENCE
      require(!Set("user_id", "ts", "value").contains(tieBreak),
        s"stage $name: `tie_break_col` ($tieBreak) collides with the " +
          "sessionizer's user_id/ts/value output columns")
      Pipeline.DataStage(name, m =>
        graft.streaming.Sessionize.batch(
          m.data.select(col(user).as("user_id"), col(tsc).as("ts"),
            col(value).as("value"), col(tieBreak).as(tieBreak)),
          gapMinutes = gap, tieBreak = tieBreak))
    }

    // multimodal plumbing: convert a text corpus to the media-table shape,
    // then metadata / decode / resize / frame-sample over it. The decode /
    // resize / frame stages require media-shaped data (media_id, payload,
    // mime_type) and REPLACE data with the operator's output table (which
    // carries media_id for downstream joins); the codec itself is the
    // documented deterministic stub — no media libraries in this container.
    PipelineConfig.register("as_media") { (name, cfg) =>
      val (id, text) = ids(cfg)
      Pipeline.DataStage(name, m => Multimodal.asMediaTable(m.data, id, text))
    }
    PipelineConfig.register("media_metadata") { (name, _) =>
      Pipeline.DataStage(name, m => Multimodal.payloadMetadata(m.data))
    }
    // REAL container-header parsing (PNG/GIF/BMP/JPEG dimensions; WAV audio
    // metadata) appended as columns; unrecognized payloads yield nulls
    PipelineConfig.register("media_dimensions") { (name, cfg) =>
      val payload = cfg.getStr("payload_col").getOrElse("payload")
      Pipeline.DataStage(name, m => {
        val dim = Multimodal.imageDimensions(col(payload))
        appendCols(name, m.data, Seq(
          dim.getField("format").as("image_format"),
          dim.getField("width").as("image_width"),
          dim.getField("height").as("image_height")))
      })
    }
    PipelineConfig.register("audio_metadata") { (name, cfg) =>
      val payload = cfg.getStr("payload_col").getOrElse("payload")
      Pipeline.DataStage(name, m => {
        val a = Multimodal.audioMetadata(col(payload))
        appendCols(name, m.data, Seq(
          a.getField("channels").as("audio_channels"),
          a.getField("sample_rate").as("audio_sample_rate"),
          a.getField("n_frames").as("audio_n_frames"),
          a.getField("duration_s").as("audio_duration_s")))
      })
    }

    // MP3 sibling of audio_metadata (compressed-audio corpora): first
    // valid frame header fields + CBR duration estimate
    PipelineConfig.register("mp3_metadata") { (name, cfg) =>
      val payload = cfg.getStr("payload_col").getOrElse("payload")
      Pipeline.DataStage(name, m => {
        val a = Multimodal.mp3Metadata(col(payload))
        appendCols(name, m.data, Seq(
          a.getField("layer").as("mp3_layer"),
          a.getField("bitrate_kbps").as("mp3_bitrate_kbps"),
          a.getField("sample_rate").as("mp3_sample_rate"),
          a.getField("duration_s").as("mp3_duration_s")))
      })
    }
    PipelineConfig.register("video_metadata") { (name, cfg) =>
      val payload = cfg.getStr("payload_col").getOrElse("payload")
      Pipeline.DataStage(name, m => {
        val v = Multimodal.videoMetadata(col(payload))
        appendCols(name, m.data, Seq(
          v.getField("timescale").as("video_timescale"),
          v.getField("duration").as("video_duration"),
          v.getField("width").as("video_width"),
          v.getField("height").as("video_height"),
          v.getField("duration_s").as("video_duration_s")))
      })
    }
    PipelineConfig.register("media_decode") { (name, _) =>
      Pipeline.DataStage(name, m => Multimodal.decodeBatched(m.data))
    }
    PipelineConfig.register("media_resize") { (name, cfg) =>
      val w = cfg.getInt("target_w").getOrElse(throw new IllegalArgumentException(
        s"stage $name: `target_w` is required"))
      val h = cfg.getInt("target_h").getOrElse(throw new IllegalArgumentException(
        s"stage $name: `target_h` is required"))
      Pipeline.DataStage(name, m => Multimodal.resizeImages(m.data, w, h))
    }
    PipelineConfig.register("media_frames") { (name, cfg) =>
      val n = cfg.getInt("n_frames").getOrElse(throw new IllegalArgumentException(
        s"stage $name: `n_frames` is required"))
      Pipeline.DataStage(name, m => Multimodal.sampleFrames(m.data, n))
    }
    PipelineConfig.register("media_audio_decode") { (name, _) =>
      Pipeline.DataStage(name, m => Multimodal.decodeAudio(m.data))
    }
    PipelineConfig.register("media_video_frames") { (name, _) =>
      Pipeline.DataStage(name, m => Multimodal.videoFrames(m.data))
    }
  }
}
