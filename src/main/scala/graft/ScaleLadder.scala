package graft

/** Scale-ladder proof run: time a set of queries at two fixture scales
  * (default sf0.1 and the ScaleUp-generated 10× sf1) and report the
  * per-query growth ratio. The pass criterion for 10× data is
  * near-linear growth (≤ ~12×); anything over ~20× indicates a
  * super-linear plan (candidate-pair blowup, unbounded window, driver
  * collect) that must be fixed before it would survive 100 TB.
  *
  *   runMain graft.ScaleLadder <smallDir> <bigDir> [reps] [names…]
  *
  * Each query is timed by [[Timing.measure]] in the cold regime at
  * `local[SPARK_GRAFT_CPUS]` with as many shuffle partitions.
  */
object ScaleLadder {
  val DefaultQueries: Seq[String] = Seq(
    // heaviest per bench_detail.json, spanning every operator family
    "fingerprint_winnow", "source_leakage", "kmeans_clusters",
    "semdedup_report", "select_budget", "dedup_spans",
    "dedup_canonical", "dedup_clusters", "dedup_reduction",
    "dedup_minhash", "nb_confusion", "bpe_compression",
    "pagerank_dups", "dsir_weights", "knn_quantized",
    "contamination_ngram", "langid_counts", "q5_nation_revenue",
    "fts_topk", "ivf_ann", "pq_scan", "dedup_simhash_pairs",
    "token_accounting", "events_tumbling", "split_leakage",
    // round-10 additions: residual-coded ANN probe + recall eval and
    // the zero-exchange bucketed fact join (bucket build amortized in
    // the untimed warm-up, like the other persisted indexes)
    "ivfpq_ann", "ivfpq_recall", "bucketed_revenue",
    // round-11 additions: the binary-quantized scan (16-byte rows, so
    // even brute-force asym scoring should grow ~linearly with a low
    // constant), late-interaction exact vs IVF-cell-pruned (the pruned
    // path should stay flat like the other probe paths), the SymSpell
    // probe (variant-bucketed, ~flat), PRF/MLT (vocabulary-sized
    // aggregates + bucket-pruned probes), and the JSONL codec
    // round-trip (scan-local, ~linear)
    "bq_ann", "maxsim_topk", "maxsim_pruned", "fts_fuzzy",
    "fts_prf", "fts_mlt", "jsonl_roundtrip",
    // the graph walk should be FLAT (O(R·B·M) touches); drift/ab are
    // single-scan sub-linear; proximity rows are scan-bound like
    // fts_topk; hybrid_linear carries its exact-KNN leg
    "graph_ann", "drift_psi", "ab_test", "hybrid_linear", "fts_near",
    // this session's additions worth a ladder row: the power-iteration
    // solver (iters × one corpus pass, all reduces combinable), the
    // prefix-filtered PPJoin (cost ∝ rare-tail posting lists, not all
    // postings), the session-basket rule miner (one user-keyed window
    // + vocabulary-bounded frames), and the Q21 double self-join (two
    // joins sharing one orderkey exchange)
    "emb_pca_power", "dedup_ppjoin", "events_basket", "q21_sole_blame",
    // round-12: the quantization-family recall gate (Q-row broadcast
    // over ONE corpus scan computing all three distances; the exact
    // side is deliberately brute-force, so expect knn_quantized-class
    // growth, not probe-path flatness), the one-job grouped
    // per-collection top-k (bucket-pruned — should stay FLAT), and the
    // xxhash64 bloom-pruned join (scan-bound, ~linear)
    "quant_recall", "fts_by_collection", "join_bloom_prune",
    // round-13: variable-length substring dedup (levels × corpus, no
    // global sort — expect ~linear), the two-level k-means route
    // (distributed level 2, ~linear), the dispatch KNN kernels (one
    // corpus scan each, knn_cosine-class), the salted exact distinct
    // (three balanced exchanges, ~linear), the partitioned-layout
    // scoped pagination (directory-pruned scan, ~flat), and the
    // LZ-novelty estimator (scan-local, ~linear)
    "dedup_substrings", "kmeans_hier", "knn_l2", "agg_salted_distinct",
    "s3_pagination_scoped", "quality_compress")

  def main(args: Array[String]): Unit = {
    val small = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val big = if (args.length > 1) args(1) else "target/testdata/sf1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val names = if (args.length > 3) args.drop(3).toSeq else DefaultQueries
    val cpus = Session.cpus
    val spark = Session.create(cpus, cpus)

    // min seconds and rows of `query`; the first failed pass throws
    def time(query: => org.apache.spark.sql.DataFrame): (Double, Long) = {
      val m = Timing.measure(spark, reps, Timing.Cold)(query)
      m.errors.headOption.foreach { case (_, e) => throw e }
      (m.min, m.rows)
    }

    println(f"${"query"}%-24s ${"t_small"}%8s ${"t_big"}%8s ${"ratio"}%7s  rows_small->rows_big")
    val results = names.map { n =>
      val (ts, rs) = time(SparkEntry.queries(n)(spark, small))
      val (tb, rb) = time(SparkEntry.queries(n)(spark, big))
      val ratio = tb / ts
      println(f"$n%-24s $ts%8.2f $tb%8.2f $ratio%7.1fx  $rs->$rb")
      (n, ts, tb, ratio)
    }
    // corpus-relative cell count: build the IVF index with
    // autoNCentroids (cells ∝ n, constant target cell size) at each
    // scale and time the SAME probe — the flatness proof for the
    // auto policy, not just the fixture's fixed count (the build is
    // untimed, like every other persisted index in the warm-up)
    def autoProbe(dir: String): (Double, Long, Int) = {
      val n = Tables.embeddings(spark, dir).count()
      val k = operators.Similarity.autoNCentroids(n)
      operators.Similarity.ensureIvfIndex(spark, dir, k)
      val (best, rows) =
        time(operators.Similarity.ivfTopK(spark, dir, 42L, 10, k, 2))
      (best, rows, k)
    }
    val (ats, ars, aks) = autoProbe(small)
    val (atb, arb, akb) = autoProbe(big)
    println(f"${"ivf_ann_autoK"}%-24s $ats%8.2f $atb%8.2f ${atb / ats}%7.1fx  " +
      s"$ars->$arb (cells $aks->$akb)")
    val bad = results.filter(_._4 > 20.0)
    println(s"LADDER_SUMMARY worst=${results.maxBy(_._4)._1} " +
      f"worst_ratio=${results.map(_._4).max}%.1f over20=${bad.map(_._1).mkString(",")}")
    spark.stop()
  }
}
