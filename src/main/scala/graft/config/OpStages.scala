package graft.config

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.dsl.Cfg
import graft.operators.Pipeline
import graft.ops.{Decontaminate, Dedup, Packing, Sampling, TextAnalysis}

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
  * threads as `data` — dedup (exact/fingerprint/minhash/ngram/simhash),
  * text signals (quality/lang-id/tokens/winnow), sampling
  * (sample/sample_split/stratified_cap), and a generic `filter_rows`
  * predicate stage. Column names are configurable per stage (`id_col`,
  * `text_col`, ...) with documents-table defaults (`doc_id`, `text`).
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
      val refPath = cfg.reqStr("ref_path")
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
      val (id, text) = ids(cfg)
      val n = cfg.getInt("ngram").getOrElse(8)
      val evalPath = cfg.reqStr("eval_path")
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
      val (minEntropy, maxEntropy) = (cfg.getDouble("min_entropy"), cfg.getDouble("max_entropy"))
      val lang = cfg.getStr("lang")
      val t = col(text)
      val rules = Seq(
        if (qChecks.isEmpty) None else Some(SignalBounds.bounds(
          QualitySignals.signals(t, TextAnalysis.DefaultStopwords), qChecks)),
        if (rChecks.isEmpty) None else Some(SignalBounds.bounds(
          graft.plans.VectorExpressions.repetitionSignals(t, 3), rChecks)),
        // unigram entropy (bits): min catches degenerate repetition,
        // max catches structureless gibberish (entropy ~ log2(n_words))
        minEntropy.map(v => TextAnalysis.unigramEntropy(t) >= v),
        maxEntropy.map(v => TextAnalysis.unigramEntropy(t) <= v),
        lang.map(v => TextAnalysis.langIdExprs(t).last === v) // lang_pred equality
      ).flatten
      require(rules.nonEmpty, s"stage $name: needs at least one threshold rule " +
        "(min_words, max_dup_line_fraction, lang, ...)")
      Pipeline.DataStage(name, m => m.data.filter(rules.reduce(_ && _)))
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
      val groups = cfg.get("group_cols").fold(Seq("source"))(_ => cfg.strings("group_cols"))
      require(groups.nonEmpty, s"stage $name: `group_cols` must be non-empty")
      Pipeline.DataStage(name, m => TextAnalysis.corpusStats(m.data, text, groups))
    }

    // C4-style page cleanup (Raffel et al. 2020 §2.2): terminal-punctuation
    // line retention + page-level phrase/brace drops; replaces the text col
    PipelineConfig.register("c4_filter") { (name, cfg) =>
      val (id, text) = ids(cfg)
      val minLineWords = cfg.getInt("min_line_words").getOrElse(5)
      val minLines = cfg.getInt("min_lines").getOrElse(3)
      val phrases = cfg.get("drop_phrases").fold(Seq("lorem ipsum", "{"))(_ =>
        cfg.strings("drop_phrases"))
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

    // as-of temporal enrichment: attach the most recent prior (or next
    // upcoming) row from the parquet table at `right_path` per key
    PipelineConfig.register("asof_join") { (name, cfg) =>
      val keys = cfg.reqStrings("keys")
      val (rightPath, leftTime, rightTime) =
        (cfg.reqStr("right_path"), cfg.reqStr("left_time"), cfg.reqStr("right_time"))
      val values = cfg.reqStrings("value_cols")
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
      val keys = cfg.reqStrings("keys")
      val timeCol = cfg.reqStr("time_col")
      val range = cfg.reqLong("range")
      val countAs = cfg.getStr("count_as")
      val sumCol = cfg.getStr("sum_col")
      val sumAs = cfg.getStr("sum_as").getOrElse(sumCol.map(_ + "_sum").orNull)
      val aggs =
        countAs.map(n => n -> org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1))).toSeq ++
        sumCol.map(c => sumAs -> org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.col(c))).toSeq
      require(aggs.nonEmpty,
        s"stage $name: needs at least one of `count_as` / `sum_col`")
      Pipeline.DataStage(name, m => graft.operators.RollingAgg.trailing(
        m.data, keys, timeCol, range, aggs))
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

    // sliding-window chunking: REPLACES the data with chunk-grain rows
    // (id, n_tokens, chunk_idx, chunk_tokens, chunk_text) — the
    // long-document dual of pack_sequences
    PipelineConfig.register("chunk_documents") { (name, cfg) =>
      val (id, text) = ids(cfg)
      val window = cfg.reqLong("window").toInt
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
      val groupCols = cfg.strings("group_by")
      val nBuckets = cfg.getLong("n_buckets").getOrElse(3L).toInt
      val keep = cfg.ints("keep_buckets")
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
      val trainPath = cfg.reqStr("train_path")
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
      val fraction = cfg.reqDouble("fraction")
      val seed = cfg.getLong("seed").getOrElse(42L)
      Pipeline.DataStage(name, m => Sampling.sample(m.data, id, fraction, seed))
    }

    // deterministic split assignment: splits is an ORDERED {name: weight} map
    PipelineConfig.register("sample_split") { (name, cfg) =>
      val id = cfg.getStr(IdCol).getOrElse("doc_id")
      val seed = cfg.getLong("seed").getOrElse(42L)
      val splits = cfg.reqNumberMap("splits")
      Pipeline.DataStage(name, m => Sampling.assignSplits(m.data, id, splits, seed))
    }

    // deterministic per-stratum resampling to a target mix: rates is a
    // {stratum: rate} map; rate > 1 repeats rows (0-based `epoch` column
    // distinguishes copies), rate < 1 downsamples with sample()'s hash
    PipelineConfig.register("resample_mix") { (name, cfg) =>
      val id = cfg.getStr(IdCol).getOrElse("doc_id")
      val stratum = cfg.reqStr("stratum_col")
      val rates = cfg.reqNumberMap("rates")
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
      val stratum = cfg.reqStr("stratum_col")
      val alpha = cfg.reqDouble("alpha")
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
      val budget = cfg.reqLong("budget_tokens")
      val stratum = cfg.getStr("stratum_col")
      val seed = cfg.getLong("seed").getOrElse(42L)
      val bcast = cfg.getBool("broadcast").getOrElse(true)
      Pipeline.DataStage(name, m =>
        Sampling.tokenBudgetCap(m.data, id, text, budget, stratum, seed, bcast))
    }

    PipelineConfig.register("stratified_cap") { (name, cfg) =>
      val id = cfg.getStr(IdCol).getOrElse("doc_id")
      val stratum = cfg.reqStr("stratum_col")
      val perStratum = cfg.reqInt("per_stratum")
      val seed = cfg.getLong("seed").getOrElse(42L)
      // default: bounded top-k aggregate + broadcast semi-join (skew-proof,
      // unique-id contract); `algo: window` selects the salted-window cap
      // for corpora with duplicate ids (`salts` applies only there)
      val algo = cfg.getStr("algo").getOrElse("topk")
      require(algo == "topk" || algo == "window",
        s"stage $name: unknown algo `$algo` (expected topk|window)")
      val salts = cfg.getInt("salts").getOrElse(64)
      // broadcast: false for near-unique stratum columns, where the winner
      // set is no longer metadata-sized (see Sampling.stratifiedCap)
      val bcast = cfg.getBool("broadcast").getOrElse(true)
      Pipeline.DataStage(name, m =>
        if (algo == "topk") Sampling.stratifiedCap(m.data, id, stratum, perStratum, seed, bcast)
        else Sampling.stratifiedCapWindow(m.data, id, stratum, perStratum, seed, salts))
    }

    // concat-then-chunk sequence packing: REPLACES data with the per-doc
    // layout table (shard, offset, seq_idx, straddles) for loader manifests
    PipelineConfig.register("pack_sequences") { (name, cfg) =>
      val id = cfg.getStr(IdCol).getOrElse("doc_id")
      val text = cfg.getStr(TextCol).getOrElse("text")
      val capacity = cfg.reqInt("capacity")
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

    // ---- sketch stages ---------------------------------------------------

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

    // per-doc top-k TF-IDF terms (keyword extraction / domain-mix stats);
    // REPLACES the data with the (id, term, tf, score, rank) table
    PipelineConfig.register("tf_idf") { (name, cfg) =>
      val (id, text) = ids(cfg)
      val k = cfg.getInt("k").getOrElse(5)
      Pipeline.DataStage(name, m =>
        TextAnalysis.tfIdfTopTerms(m.data, id, text, k))
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
      val jsonCol = cfg.reqStr("json_col")
      val ddl = cfg.reqStr("schema")
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
      val path = cfg.reqStr("path")
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
      val modelPath = cfg.reqStr("model_path")
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
      val ddl = cfg.reqStr("schema")
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
      val predicate = cfg.reqStr("expect")
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
      val path = cfg.reqStr("path")
      val keys = cfg.reqStrings("keys")
      val rightKeys = cfg.strings("right_keys") match {
        case Nil => keys
        case rk => rk
      }
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
      val predicate = cfg.reqStr("predicate")
      // parse eagerly so a syntax error fails at config time, not
      // mid-pipeline (Spark 4's Column API defers expr() parsing to binding)
      try org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(predicate)
      catch { case e: org.apache.spark.sql.catalyst.parser.ParseException =>
        throw new IllegalArgumentException(
          s"stage $name: unparsable `predicate` '$predicate': ${e.getMessage}")
      }
      Pipeline.DataStage(name, m => m.data.filter(expr(predicate)))
    }
  }
}
