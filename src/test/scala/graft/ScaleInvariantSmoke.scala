package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Engine-side scale verification for the two gates whose DuckDB oracles are
  * infeasible at x10 (VERDICT r15 #2: "oracle can't keep up is not verified
  * at scale"): `cluster_reps` (the recursive-CTE connected-components oracle
  * ran 50+ min / 21 GB before being killed) and `knn_join` (brute-force
  * oracle >60 min / 96 GB). Instead of an external replay, each gets
  * INDEPENDENT in-engine recomputation plus structural invariants:
  *
  * cluster_reps —
  *   1. the DISTRIBUTED pointer-jumping component labeling equals the
  *      driver union-find labeling (two unrelated implementations; the
  *      fast path is forced OFF for one side and ON for the other);
  *   2. every candidate edge is intra-component;
  *   3. labels are component minima (no label exceeds its id; every label
  *      is a member labeled by itself);
  *   4. the full chain (shingles → MinHash → bands → pairs → components)
  *      is invariant under a seeded permutation/repartition of the corpus;
  *   5. representative selection re-derived through a different plan shape
  *      (window row_number vs groupBy-max + join) matches.
  *
  * knn_join —
  *   a SECOND exact pass with a different physical shape: groupByKey(label)
  *   + in-memory all-pairs per block (no join operator at all) with the
  *   same double arithmetic as the native cosine expression (sequential
  *   dot, sqrt-norm product, one divide — bit-identical ops), then
  *   set-equality of (id_l, id_r, rank) and max |Δcos| across both passes.
  *
  * Run: `sbt "Test/runMain graft.ScaleInvariantSmoke [dir]"` (default
  * target/scale_suite/x10 — generate with ScaleUpSuite). Results recorded
  * in SMOKE.md.
  */
object ScaleInvariantSmoke {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("target/scale_suite/x10")
    val spark = LocalSession()
    import spark.implicits._

    def timed[T](tag: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[inv] $tag%-52s ${(System.nanoTime() - t0) / 1e9}%7.1f s")
      r
    }
    def assertZero(tag: String, n: Long): Unit = {
      println(s"[inv] $tag: $n ${if (n == 0) "OK" else "VIOLATION"}")
      require(n == 0, s"$tag: $n violations")
    }

    // ================== cluster_reps ====================================
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val pairs = timed("minhash LSH pairs") {
      val p = graft.ops.Dedup.minhashLshPairs(docs, "doc_id", "text",
        n = 3, bands = 8, rowsPerBand = 4, threshold = 0.5)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      println(s"[inv] candidate edges: ${p.count()}")
      p
    }
    val (distLbl0, rounds) = timed("components: DISTRIBUTED pointer jumping") {
      val (d, r) = graft.ops.Dedup.resolveClustersStats(pairs, smallGraphEdges = 0)
      (d.persist(), r)
    }
    println(s"[inv] pointer-jumping rounds: $rounds")
    val ufLbl = timed("components: driver union-find (fast path forced)") {
      graft.ops.Dedup.resolveClusters(pairs,
        smallGraphEdges = Int.MaxValue - 1).persist()
    }
    // 1. two unrelated implementations agree exactly
    assertZero("distributed \\ union-find",
      distLbl0.except(ufLbl).count() + ufLbl.except(distLbl0).count())
    // 2. every edge intra-component
    val ca = distLbl0.select(col("id").as("id_a"), col("cluster_id").as("__ca"))
    val cb = distLbl0.select(col("id").as("id_b"), col("cluster_id").as("__cb"))
    assertZero("edges crossing components",
      pairs.join(ca, Seq("id_a")).join(cb, Seq("id_b"))
        .filter(col("__ca") =!= col("__cb")).count())
    // 3. min-label structure
    assertZero("labels exceeding their id",
      distLbl0.filter(col("cluster_id") > col("id")).count())
    val roots = distLbl0.filter(col("id") === col("cluster_id")).select("id")
    assertZero("labels that are not self-labeled roots",
      distLbl0.select(col("cluster_id").as("id")).distinct().except(roots).count())
    // 4. permutation idempotence of the WHOLE chain
    val permuted = docs
      .repartition(97, pmod(xxhash64(col("doc_id") + 987654321L), lit(97)))
      .sortWithinPartitions(xxhash64(col("doc_id") * 7L))
    val permLbl = timed("permuted corpus -> full chain -> components") {
      graft.ops.Dedup.resolveClusters(
        graft.ops.Dedup.minhashLshPairs(permuted, "doc_id", "text",
          n = 3, bands = 8, rowsPerBand = 4, threshold = 0.5),
        smallGraphEdges = 0).persist()
    }
    assertZero("permutation drift",
      distLbl0.except(permLbl).count() + permLbl.except(distLbl0).count())
    // 5. representative selection, two plan shapes
    val scored = distLbl0.join(
      docs.select(col("doc_id").as("id"), length(col("text")).as("__q")), Seq("id"))
    val reps = graft.ops.Dedup.clusterRepresentatives(scored, "id", "cluster_id", "__q")
      .select(col("cluster_id"), col("keep_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id").orderBy(col("__q").desc, col("id"))
    val reps2 = scored.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1).select(col("cluster_id"), col("id").as("keep_id"))
    assertZero("representative drift across plan shapes",
      reps.except(reps2).count() + reps2.except(reps).count())
    println(s"[inv] cluster_reps VERIFIED at $dir: ${distLbl0.count()} clustered " +
      s"ids, ${roots.count()} components")

    // ============ dedup_clusters & minhash_lsh_dedup_stage ================
    // The other two transitive-closure gates whose DuckDB oracles DNF at
    // x10 ride the SAME chain the five invariants above just verified
    // (identical n/bands/rows/threshold constants). Each gate's OWN entry —
    // the real SparkEntry query, including the YAML→registry→Pipeline path
    // for the dedup stage — is checked against the verified label table:
    //  - dedup_clusters output must EQUAL the five-way-verified labels;
    //  - the dedup stage's survivors must equal the min-label survivorship
    //    derived from those labels (drop id ⟺ verified label ≠ id), with
    //    unclustered and null-text rows passing through.
    val gateLabels = timed("gate dedup_clusters (SparkEntry entry)") {
      graft.SparkEntry.queries("dedup_clusters")(spark, dir).persist()
    }
    assertZero("dedup_clusters gate vs verified labels",
      gateLabels.select(col("id").cast("long").as("id"),
          col("cluster_id").cast("long").as("cluster_id"))
        .except(distLbl0.select(col("id").cast("long").as("id"),
          col("cluster_id").cast("long").as("cluster_id"))).count() +
      distLbl0.select(col("id").cast("long").as("id"),
          col("cluster_id").cast("long").as("cluster_id"))
        .except(gateLabels.select(col("id").cast("long").as("id"),
          col("cluster_id").cast("long").as("cluster_id"))).count())
    val gateSurvivors = timed("gate minhash_lsh_dedup_stage (Pipeline path)") {
      graft.SparkEntry.queries("minhash_lsh_dedup_stage")(spark, dir).persist()
    }
    val expectedSurvivors = docs.select(col("doc_id")).join(
      distLbl0.filter(col("cluster_id") =!= col("id"))
        .select(col("id").as("doc_id")),
      Seq("doc_id"), "left_anti")
    assertZero("dedup-stage survivors vs label-derived survivorship",
      gateSurvivors.select("doc_id").except(expectedSurvivors).count() +
      expectedSurvivors.except(gateSurvivors.select("doc_id")).count())
    println(s"[inv] dedup_clusters + minhash_lsh_dedup_stage VERIFIED at " +
      s"$dir: ${gateSurvivors.count()} survivors of ${docs.count()} docs")

    // ================== knn_join ========================================
    val embs = spark.read.parquet(s"$dir/embeddings.parquet")
      .withColumn("embedding", col("embedding").cast("array<double>"))
    val engine = timed("engine knnJoin (production dispatch)") {
      graft.ops.Similarity.knnJoin(embs, embs, "vec_id", "embedding", "label",
        k = 3, maxBlockSize = Some(100000)).persist()
    }
    // the window form is the third, structurally-different plan; it is only
    // runnable while the pair stream fits — guard on ESTIMATED PAIRS, not
    // rows (x64's 128k rows look small but make 1.64 B pairs, the exact
    // spill-bound shape the streaming plan replaces)
    val estPairs = embs.groupBy("label").count()
      .agg(sum(col("count") * col("count"))).head.getLong(0)
    println(s"[inv] knn estimated pairs: $estPairs")
    val windowed = if (estPairs > 100000000L) None else Some(
      timed("engine knnJoin (window form, forced)") {
        graft.ops.Similarity.knnJoin(embs, embs, "vec_id", "embedding", "label",
          k = 3, maxBlockSize = Some(100000), pairBudget = Long.MaxValue)
          .persist()
      })
    val indep = timed("independent pass (groupByKey + in-memory all-pairs)") {
      embs.select(col("label").cast("int"), col("vec_id").cast("long"),
          col("embedding"))
        .as[(Int, Long, Seq[Double])]
        .groupByKey(_._1)
        .flatMapGroups { (_, it) =>
          val arr = it.toArray
          val ids = arr.map(_._2)
          val vecs = arr.map(_._3.toArray)
          val n = arr.length
          // the native expressions' exact op order: sequential dot,
          // sqrt of sequential sum of squares, norm PRODUCT then divide
          val norms = vecs.map { v =>
            var s = 0.0; var i = 0
            while (i < v.length) { s += v(i) * v(i); i += 1 }
            math.sqrt(s)
          }
          Iterator.range(0, n).flatMap { a =>
            val va = vecs(a)
            // streaming top-3 by (cos desc, id asc) into primitive slots —
            // no per-candidate allocation (an x64 block is 12.8k² pairs;
            // a boxed candidate array per query OOMed the first attempt)
            val tc = Array(Double.NegativeInfinity, Double.NegativeInfinity,
              Double.NegativeInfinity)
            val ti = Array(Long.MaxValue, Long.MaxValue, Long.MaxValue)
            var m = 0 // slots filled
            var b = 0
            while (b < n) {
              if (b != a) {
                val vb = vecs(b)
                var dot = 0.0; var i = 0
                while (i < va.length) { dot += va(i) * vb(i); i += 1 }
                val c = dot / (norms(a) * norms(b))
                val id = ids(b)
                // insertion position under (cos desc, id asc)
                var p = m
                while (p > 0 && (c > tc(p - 1) ||
                    (c == tc(p - 1) && id < ti(p - 1)))) p -= 1
                if (p < 3) {
                  var q = math.min(m, 2)
                  while (q > p) { tc(q) = tc(q - 1); ti(q) = ti(q - 1); q -= 1 }
                  tc(p) = c; ti(p) = id
                  if (m < 3) m += 1
                }
              }
              b += 1
            }
            Iterator.range(0, m).map(r => (ids(a), ti(r), tc(r), (r + 1).toLong))
          }
        }
        .toDF("id_l", "id_r", "cos", "rank")
        .persist()
    }
    assertZero("knn (id_l, id_r, rank) set drift",
      engine.select("id_l", "id_r", "rank")
        .except(indep.select("id_l", "id_r", "rank")).count() +
      indep.select("id_l", "id_r", "rank")
        .except(engine.select("id_l", "id_r", "rank")).count())
    windowed.foreach { wf =>
      assertZero("knn window-form vs production-plan drift",
        engine.select("id_l", "id_r", "rank")
          .except(wf.select("id_l", "id_r", "rank")).count() +
        wf.select("id_l", "id_r", "rank")
          .except(engine.select("id_l", "id_r", "rank")).count())
    }
    val maxDiff = engine.select(col("id_l"), col("id_r"), col("cos").as("c1"))
      .join(indep.select(col("id_l"), col("id_r"), col("cos").as("c2")),
        Seq("id_l", "id_r"))
      .agg(max(abs(col("c1") - col("c2")))).head.getDouble(0)
    println(s"[inv] knn max |cos_engine - cos_independent| = $maxDiff")
    require(maxDiff == 0.0, s"cosine arithmetic drift: $maxDiff")
    println(s"[inv] knn_join VERIFIED at $dir: ${engine.count()} result rows, " +
      s"${indep.select("id_l").distinct().count()} queries")

    spark.stop()
  }
}
