package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Deterministic corpus sampling — the subsampling primitive a
  * training-data pipeline needs to be REPRODUCIBLE: hash-threshold
  * selection (keep a row iff a hash of its key falls under the rate
  * threshold) instead of RNG sampling. Properties that matter at 100 TB:
  *
  *   - stable: the same row is in or out regardless of partitioning,
  *     executor count, row order, or reruns (no RNG state);
  *   - shard-consistent: any subset of shards yields the sample's
  *     restriction to those shards — samples of shards union to the
  *     sample of the union;
  *   - scan-local: the predicate evaluates per-row with zero shuffles
  *     and pushes nothing more than a projection to the scan.
  *
  * The hash is the first 4 hex digits of md5(key) ∈ [0, 65536): rate r
  * keeps rows with hash < r·65536 — mirrored digit-for-digit in the
  * DuckDB oracle.
  */
object Sampling {

  val HashSpace = 65536 // 4 hex digits

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): rate every
    * document by how much more likely a TARGET-domain unigram LM finds
    * its tokens than the all-corpus LM — the importance score
    * Σ_tokens ln(p_target(t) / p_corpus(t)). Documents that read like
    * the target domain float up; selection then resamples by weight
    * (here: the top-`k` ranking, the deterministic core of it).
    *
    * Target domain = documents from source `targetSource`; both LMs
    * use add-one smoothing over the corpus vocabulary, so
    * out-of-target terms contribute the smoothed floor, never a NULL.
    *
    * Scale shape: both LMs are one partial-aggregable term-count
    * shuffle (vocab-bounded output); scoring joins doc tokens to the
    * broadcast LM table and folds per doc. Cross-engine determinism:
    * per-token log-ratios round to nano-unit BIGINTs before the
    * order-independent integer sum (the established nano-fold rule).
    */
  def dsirWeights(spark: SparkSession, dir: String, targetSource: String,
      k: Int): DataFrame = {
    // INDEX-PROBE formulation (r17): every quantity here is a pure
    // function of (doc, term, tf) plus the doc→source attribute, so
    // the whole computation runs off the persisted inverted index and
    // the attrs sidecar — no corpus tokenize per invocation. The
    // per-occurrence nano-rounding commutes with tf-weighting
    // (k occurrences of one term contribute tf × round(lr·1e9)
    // either way), so every value is bit-identical to the former
    // token-stream formulation and the oracle is unchanged.
    val idx = spark.table(Fts.ensureIndex(spark, dir))
      .select(col("doc_id"), col("term"), col("tf"))
    val attrs = spark.table(Fts.ensureDocAttrs(spark, dir))
      .select(col("doc_id"), col("source"))
    // the two unigram LMs as ONE persisted vocab-grain table
    // (term, n_c, n_t), built once per corpus generation
    val lm = EvalCache.ensure(spark, dir, "documents",
      ScaleOps.Family("dsir", 1), "term", targetSource)(
      idx.join(attrs, Seq("doc_id"))
        .groupBy(col("term"))
        .agg(sum(col("tf")).as("n_c"),
          sum(when(col("source") === targetSource, col("tf"))
            .otherwise(lit(0L))).as("n_t")))
    val totals = lm.agg(sum(col("n_c")).as("tot_c"),
      sum(col("n_t")).as("tot_t"), count(lit(1)).as("v"))
    val lrNano =
      round((log((col("n_t") + 1).cast("double") / (col("tot_t") + col("v"))) -
        log((col("n_c") + 1).cast("double") / (col("tot_c") + col("v"))))
        * 1e9).cast("long")
    spark.table(Fts.ensureIndex(spark, dir))
      .select(col("doc_id"), col("term"), col("tf"))
      .join(broadcast(lm), Seq("term"))
      .crossJoin(broadcast(totals))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_toks"),
        sum(col("tf") * lrNano).as("imp_nano"))
      .join(attrs, Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("n_toks"),
        col("imp_nano"))
      .orderBy(col("imp_nano").desc, col("doc_id").asc)
      .limit(k)
  }

  def dsirWeightsOracleSql(targetSource: String, k: Int): String = {
    import graft.functions.TextAnalyzer
    s"""WITH toks AS (
       |  SELECT doc_id, source, t AS term FROM (
       |    SELECT doc_id, source, ${TextAnalyzer.sqlTokenize("text")} AS t
       |    FROM documents) u
       |  WHERE ${TextAnalyzer.sqlTermFilter("t")}
       |), lm AS (
       |  SELECT term, count(*) AS n_c,
       |    coalesce(sum(CASE WHEN source = '$targetSource'
       |                      THEN 1 ELSE 0 END), 0) AS n_t
       |  FROM toks GROUP BY term
       |), tot AS (
       |  SELECT sum(n_c) AS tot_c, sum(n_t) AS tot_t, count(*) AS v
       |  FROM lm
       |), sc AS (
       |  SELECT toks.doc_id, toks.source,
       |    CAST(round((ln(CAST(lm.n_t + 1 AS DOUBLE) / (tot.tot_t + tot.v))
       |      - ln(CAST(lm.n_c + 1 AS DOUBLE) / (tot.tot_c + tot.v)))
       |      * 1e9) AS BIGINT) AS lr_nano
       |  FROM toks JOIN lm ON lm.term = toks.term CROSS JOIN tot
       |)
       |SELECT doc_id, source, count(*) AS n_toks,
       |  CAST(sum(lr_nano) AS BIGINT) AS imp_nano
       |FROM sc GROUP BY doc_id, source
       |ORDER BY imp_nano DESC, doc_id ASC LIMIT $k""".stripMargin
  }

  /** Per-row keep/drop column for a column-valued rate: floor() before
    * the int cast on BOTH engines (Spark's double→int cast truncates
    * while DuckDB's rounds, so floor is the only portable threshold;
    * for literal rates it equals the old (rate·HashSpace).toInt). */
  def hashKeepCol(key: org.apache.spark.sql.Column,
      rate: org.apache.spark.sql.Column) =
    conv(substring(md5(key.cast("string")), 1, 4), 16, 10).cast("int") <
      floor(rate * lit(HashSpace.toDouble)).cast("int")

  /** Per-row keep/drop column for rate `r` on the given key column. */
  def hashKeep(key: org.apache.spark.sql.Column, rate: Double) =
    hashKeepCol(key, lit(rate))

  /** Stratified sample summary: the ~rate sample of documents with
    * per-language counts/statistics (summary keeps the registered
    * query's output small; the underlying sample is row-level). */
  def sampleSummary(spark: SparkSession, dir: String,
      rate: Double): DataFrame =
    Tables.documentsDense(spark, dir)
      .filter(hashKeep(col("doc_id"), rate))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_sampled"),
        sum(col("n_chars")).as("sampled_chars"),
        round(avg(col("n_chars")), 4).as("avg_chars"))
      .orderBy(col("lang").asc)

  def sampleSummaryOracleSql(rate: Double): String = {
    val cut = (rate * HashSpace).toInt
    s"""SELECT lang, count(*) AS n_sampled,
       |  CAST(sum(n_chars) AS BIGINT) AS sampled_chars,
       |  round(avg(n_chars), 4) AS avg_chars
       |FROM documents
       |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
       |      AS INT) < $cut
       |GROUP BY lang ORDER BY lang ASC""".stripMargin
  }

  /** Stratified QUOTA sample: exactly `quota` rows per stratum (vs the
    * rate sample above, whose per-stratum size is binomial). Selection
    * order inside a stratum is the md5 of the key — deterministic,
    * reproducible, uncorrelated with ingestion order — so the quota
    * sample is a uniform-without-replacement draw that any rerun (or
    * any other engine) reproduces row-for-row.
    *
    * Scale shape: ONE shuffle, keyed by stratum (the window's
    * partitionBy). Per-stratum data must fit a partition's working set
    * for the rank — at 100 TB with heavy strata, swap in the two-pass
    * variant: rate-sample with `hashKeep` at ~2x the quota's expected
    * rate scan-locally, then rank only the survivors (the window then
    * sees quota-scale rows, not stratum-scale). Semantics identical;
    * same reason approx quantiles back `events_quantiles` at scale. */
  def stratifiedQuota(spark: SparkSession, dir: String,
      quota: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang")
      .orderBy(md5(col("doc_id").cast("string")).asc, col("doc_id").asc)
    Tables.documentsDense(spark, dir)
      .select(col("lang"), col("doc_id"), col("n_chars"),
        row_number().over(w).cast("long").as("pick"))
      .filter(col("pick") <= quota)
      .orderBy(col("lang").asc, col("pick").asc)
  }

  def stratifiedQuotaOracleSql(quota: Int): String =
    s"""WITH r AS (
       |  SELECT lang, doc_id, n_chars, row_number() OVER (
       |    PARTITION BY lang
       |    ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS pick
       |  FROM documents
       |)
       |SELECT lang, doc_id, n_chars, pick FROM r WHERE pick <= $quota
       |ORDER BY lang ASC, pick ASC""".stripMargin

  /** [[stratifiedQuota]] in its 100 TB form — the "two-pass variant"
    * its docstring promises: grouped top-k via the
    * [[graft.functions.BoundedTopK]] typed Aggregator instead of a
    * per-stratum window. The window form shuffles EVERY corpus row to
    * its stratum before ranking; the Aggregator partial-aggregates
    * map-side, so the exchange carries at most `quota` candidates per
    * stratum per map task — O(strata · quota), independent of corpus
    * size. Same uniform-without-replacement draw: selection order is
    * a deterministic md5 of the key.
    *
    * The rank key rides the Aggregator's Double score, so it is the
    * digest's first 13 hex digits (52 bits — the widest prefix a
    * Double carries EXACTLY; the full 128-bit digest would round and
    * reorder). The oracle ranks by the same 13-hex prefix, doc_id
    * tiebreak, so both engines compute one total order by
    * construction. */
  def stratifiedQuotaScale(spark: SparkSession, dir: String,
      quota: Int): DataFrame = {
    val topk = udaf(new graft.functions.BoundedTopK(quota),
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[graft.functions.Scored]())
    // conv() emits a decimal string; ≤ 2^52 casts to Double exactly.
    // Negated: BoundedTopK keeps score DESC, the draw wants hash ASC.
    val h = conv(substring(md5(col("doc_id").cast("string")), 1, 13),
      16, 10).cast("double")
    Tables.documentsDense(spark, dir)
      .groupBy("lang")
      .agg(topk(col("doc_id"), -h).as("picks"))
      .select(col("lang"), posexplode(col("picks")))
      .select(col("lang"), col("col.id").as("doc_id"),
        (col("pos") + 1).cast("long").as("pick"))
      .orderBy(col("lang").asc, col("pick").asc)
  }

  /** Token-budget corpus selection — the "best data under a budget"
    * step of a pretraining pipeline: grade every document (number of
    * Gopher rules passed, 0..5), lay the corpus out best-first, and
    * keep documents until the cumulative token count reaches the
    * budget (the straddling document stays — the same greedy
    * convention as sequence packing). Output is the per-source
    * composition of the selected corpus, i.e. what the budget actually
    * buys from each source.
    *
    * Scale shape: grading and token counting are scan-local; the
    * global best-first running total is [[ScaleOps.prefixSummed]]
    * (quantile-bucketed two-pass — no single-reducer window), then a
    * scan-local budget filter and one partial-agg shuffle down to
    * nSources rows. The selection key is integer-exact:
    * (5 - grade) · 2^32 + doc_id, ascending = best grade first,
    * doc_id tiebreak — both engines compute the identical total
    * order, no doubles anywhere in the ordering or the sums. */
  def selectBudget(spark: SparkSession, dir: String,
      budget: Long): DataFrame = {
    val graded = Tables.documentsDense(spark, dir)
      .select(col("doc_id"), col("source"),
        size(graft.functions.TextAnalyzer.tokens(col("text")))
          .cast("long").as("toks"),
        TextOps.gopherRuleCount.as("q"))
      .withColumn("sel_key",
        (lit(5L) - col("q")) * lit(4294967296L) + col("doc_id"))
    // boundaries memoized per corpus generation — steady-state reps
    // skip the approxQuantile driver action (r17 verdict #6 treatment)
    val bounds = ScaleOps.prefixBounds(graded,
      ScaleOps.contentHash(dir, "documents"), "sel_key", 32)
    ScaleOps.prefixSummed(graded, "sel_key", "toks", 32, Some(bounds))
      .filter(col("cum_before") < budget)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"),
        min(col("q")).as("worst_grade"))
      .orderBy(col("source").asc)
  }

  def selectBudgetOracleSql(budget: Long): String =
    s"""WITH sig AS (
       |  ${TextOps.gopherSignalsSql}
       |), s AS (
       |  SELECT sig.doc_id, sig.source,
       |    len(list_filter(string_split_regex(lower(d.text), '\\W+'),
       |      tk -> ${graft.functions.TextAnalyzer.sqlTermFilter("tk")}))
       |      AS toks,
       |    ${TextOps.gopherRuleCountSql} AS q
       |  FROM sig JOIN documents d ON d.doc_id = sig.doc_id
       |), k AS (
       |  SELECT source, toks, q,
       |    coalesce(sum(toks) OVER (
       |      ORDER BY (5 - q) * 4294967296 + doc_id ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS cum_before
       |  FROM s
       |)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(toks) AS BIGINT) AS n_tokens,
       |  CAST(min(q) AS BIGINT) AS worst_grade
       |FROM k WHERE cum_before < $budget
       |GROUP BY source ORDER BY source ASC""".stripMargin

  def stratifiedQuotaScaleOracleSql(quota: Int): String =
    s"""WITH r AS (
       |  SELECT lang, doc_id, row_number() OVER (
       |    PARTITION BY lang
       |    ORDER BY CAST('0x' ||
       |        substr(md5(CAST(doc_id AS VARCHAR)), 1, 13) AS BIGINT)
       |      ASC, doc_id ASC) AS pick
       |  FROM documents
       |)
       |SELECT lang, doc_id, pick FROM r WHERE pick <= $quota
       |ORDER BY lang ASC, pick ASC""".stripMargin

  /** Training-mixture weights per (source, lang) — the data-mixing step
    * of a pretraining pipeline (The Pile / LLaMA style): each stratum
    * gets its exact token share plus a sqrt-damped sampling weight
    * (w_g = √tokens_g / Σ_h √tokens_h — the unigram-distribution
    * damping of word2vec/XLM-R applied to corpus mixing), which
    * up-samples small high-value sources relative to raw proportion.
    *
    * Scale shape: token counting is scan-local (size of the analyzer's
    * token array — no explode); ONE partial-agg shuffle down to
    * nSources·nLangs rows; the two corpus scalars (total tokens, Σ√)
    * aggregate the tiny grouped result and ride back as a broadcast
    * single-row cross join. */
  def mixWeights(spark: SparkSession, dir: String): DataFrame = {
    // persist: the nSources·nLangs-row aggregate feeds both the final
    // projection AND the corpus-scalar aggregate — without it the
    // tokenize+count corpus scan runs twice per call
    val grouped = Tables.documentsDense(spark, dir)
      .select(col("source"), col("lang"),
        size(graft.functions.TextAnalyzer.tokens(col("text")))
          .cast("long").as("toks"))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
      .transform(CacheScope.cached)
    val totals = grouped.agg(
      sum(col("n_tokens")).as("total_tokens"),
      sum(sqrt(col("n_tokens").cast("double"))).as("sum_sqrt"))
    grouped.crossJoin(broadcast(totals))
      .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens").cast("double") /
          col("total_tokens").cast("double"), 6).as("token_share"),
        round(sqrt(col("n_tokens").cast("double")) / col("sum_sqrt"), 6)
          .as("mix_weight"))
      .orderBy(col("source").asc, col("lang").asc)
  }

  /** Temperature-scaled mixture weights — the generalization the
    * multilingual-pretraining literature actually tunes (XLM-R / mT5
    * sample language g with probability ∝ p_g^(1/T): T=1 is raw
    * proportion, T→∞ is uniform; [[mixWeights]]' sqrt damping is the
    * T=2 point). One scan, one stratum-sized aggregate; each
    * temperature's normalizer Σ_g tokens^(1/T) aggregates the tiny
    * grouped frame and rides back in the same 1-row broadcast. The
    * weight LADDER in one frame is the tuning view: how much a
    * temperature move shifts mass into the small strata. */
  def mixWeightsTemp(spark: SparkSession, dir: String,
      temps: Seq[Double]): DataFrame = {
    // integral temps only (r13 ADVICE): a dotted label (w_t2.5) breaks
    // col() resolution (dot parses as struct access), and pow(x, 1/T)
    // at non-integral T has no bit-parity guarantee between JVM and
    // DuckDB libm — the registered ladder points are 1/2/5
    require(temps.forall(t => t == t.floor),
      s"mixWeightsTemp requires integral temperatures, got $temps")
    def label(t: Double) = s"w_t${t.toLong}"
    val grouped = Tables.documentsDense(spark, dir)
      .select(col("source"), col("lang"),
        size(graft.functions.TextAnalyzer.tokens(col("text")))
          .cast("long").as("toks"))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
      .transform(CacheScope.cached)
    val zCols = temps.map(t => sum(pow(col("n_tokens").cast("double"),
      lit(1.0 / t))).as(s"z_${label(t)}"))
    val totals = grouped.agg(zCols.head, zCols.tail: _*)
    grouped.crossJoin(broadcast(totals))
      .select(Seq(col("source"), col("lang"), col("n_tokens")) ++
        temps.map(t =>
          round(pow(col("n_tokens").cast("double"), lit(1.0 / t)) /
            col(s"z_${label(t)}"), 6).as(label(t))): _*)
      .orderBy(col("source").asc, col("lang").asc)
  }

  def mixWeightsTempOracleSql(temps: Seq[Double]): String = {
    require(temps.forall(t => t == t.floor),
      s"mixWeightsTemp requires integral temperatures, got $temps")
    def label(t: Double) = s"w_t${t.toLong}"
    val zCols = temps.map(t =>
      s"sum(pow(CAST(n_tokens AS DOUBLE), ${1.0 / t})) AS z_${label(t)}")
      .mkString(",\n    ")
    val wCols = temps.map(t =>
      s"""round(pow(CAST(g.n_tokens AS DOUBLE), ${1.0 / t})
         |    / tot.z_${label(t)}, 6) AS ${label(t)}""".stripMargin)
      .mkString(",\n  ")
    s"""WITH g AS (
       |  SELECT source, lang, count(*) AS n_docs,
       |    sum(len(list_filter(string_split_regex(lower(text), '\\W+'),
       |      t -> ${graft.functions.TextAnalyzer.sqlTermFilter("t")})))
       |      AS n_tokens
       |  FROM documents GROUP BY source, lang
       |), tot AS (
       |  SELECT $zCols
       |  FROM g
       |)
       |SELECT g.source, g.lang, CAST(g.n_tokens AS BIGINT) AS n_tokens,
       |  $wCols
       |FROM g, tot
       |ORDER BY g.source ASC, g.lang ASC""".stripMargin
  }

  /** The mixture weights put to work: a reproducible weighted sampler.
    * Each (source, lang) stratum gets rate = min(1, base·w/share) —
    * strata whose sqrt-damped weight exceeds their raw share (small
    * sources) are up-sampled, large sources down-sampled — and rows are
    * kept by the same order-stable hash threshold as `sampleSummary`.
    * floor() before the int cast on BOTH sides: Spark's double→int cast
    * truncates while DuckDB's rounds, so an explicit floor is the only
    * engine-portable threshold.
    *
    * Scale shape: the rate table is nSources·nLangs rows (broadcast);
    * the keep-predicate is scan-local; one partial-agg shuffle reports
    * per-stratum outcomes. */
  def weightedSample(spark: SparkSession, dir: String,
      base: Double): DataFrame = {
    val rates = mixWeights(spark, dir)
      .select(col("source").as("w_source"), col("lang").as("w_lang"),
        least(lit(1.0), lit(base) * col("mix_weight") / col("token_share"))
          .as("rate"))
    Tables.documentsDense(spark, dir)
      .join(broadcast(rates),
        col("source") === col("w_source") && col("lang") === col("w_lang"))
      .filter(hashKeepCol(col("doc_id"), col("rate")))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_sampled"),
        round(max(col("rate")), 6).as("rate"))
      .orderBy(col("source").asc, col("lang").asc)
  }

  def weightedSampleOracleSql(base: Double): String =
    s"""WITH g AS (
       |  SELECT source, lang, count(*) AS n_docs,
       |    sum(len(list_filter(string_split_regex(lower(text), '\\W+'),
       |      t -> ${graft.functions.TextAnalyzer.sqlTermFilter("t")})))
       |      AS n_tokens
       |  FROM documents GROUP BY source, lang
       |), tot AS (
       |  SELECT sum(n_tokens) AS total_tokens,
       |    sum(sqrt(CAST(n_tokens AS DOUBLE))) AS sum_sqrt
       |  FROM g
       |), w AS (
       |  SELECT g.source AS w_source, g.lang AS w_lang,
       |    least(1.0,
       |      $base * round(sqrt(CAST(g.n_tokens AS DOUBLE)) / tot.sum_sqrt, 6)
       |      / round(CAST(g.n_tokens AS DOUBLE) /
       |              CAST(tot.total_tokens AS DOUBLE), 6)) AS rate
       |  FROM g, tot
       |)
       |SELECT d.source, d.lang, count(*) AS n_sampled,
       |  round(max(w.rate), 6) AS rate
       |FROM documents d
       |JOIN w ON w.w_source = d.source AND w.w_lang = d.lang
       |WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)
       |    AS INT) < CAST(floor(w.rate * $HashSpace) AS INT)
       |GROUP BY d.source, d.lang
       |ORDER BY d.source ASC, d.lang ASC""".stripMargin

  def mixWeightsOracleSql: String =
    s"""WITH g AS (
       |  SELECT source, lang, count(*) AS n_docs,
       |    sum(len(list_filter(string_split_regex(lower(text), '\\W+'),
       |      t -> ${graft.functions.TextAnalyzer.sqlTermFilter("t")})))
       |      AS n_tokens
       |  FROM documents GROUP BY source, lang
       |), tot AS (
       |  SELECT sum(n_tokens) AS total_tokens,
       |    sum(sqrt(CAST(n_tokens AS DOUBLE))) AS sum_sqrt
       |  FROM g
       |)
       |SELECT g.source, g.lang, g.n_docs,
       |  CAST(g.n_tokens AS BIGINT) AS n_tokens,
       |  round(CAST(g.n_tokens AS DOUBLE) /
       |    CAST(tot.total_tokens AS DOUBLE), 6) AS token_share,
       |  round(sqrt(CAST(g.n_tokens AS DOUBLE)) / tot.sum_sqrt, 6)
       |    AS mix_weight
       |FROM g, tot
       |ORDER BY g.source ASC, g.lang ASC""".stripMargin

  // ---- train/val/test splits -------------------------------------------

  /** Deterministic split bucket for a key: 4 md5 hex digits in
    * [0, HashSpace) — the same keyspace as [[hashKeep]], so splits and
    * samples draw from one hash family. */
  private def splitCol(key: org.apache.spark.sql.Column,
      trainFrac: Double, valFrac: Double) = {
    val b = conv(substring(md5(key.cast("string")), 1, 4), 16, 10)
      .cast("int")
    when(b < (trainFrac * HashSpace).toInt, "train")
      .when(b < ((trainFrac + valFrac) * HashSpace).toInt, "val")
      .otherwise("test")
  }

  /** The identical bucket logic in DuckDB SQL. */
  def splitSql(colName: String, trainFrac: Double,
      valFrac: Double): String = {
    val t = (trainFrac * HashSpace).toInt
    val v = ((trainFrac + valFrac) * HashSpace).toInt
    s"""CASE WHEN CAST('0x' || substr(md5(CAST($colName AS VARCHAR)),
       |    1, 4) AS INT) < $t THEN 'train'
       |  WHEN CAST('0x' || substr(md5(CAST($colName AS VARCHAR)),
       |    1, 4) AS INT) < $v THEN 'val'
       |  ELSE 'test' END""".stripMargin
  }

  /** Deterministic train/val/test assignment — the split step every
    * training pipeline runs, as a pure scan-local hash of the document
    * id (reproducible on any engine, stable under re-ingestion,
    * uncorrelated with ingestion order — the same rationale as
    * [[hashKeep]]). Per (source, split) roll-up; expected shares are
    * trainFrac/valFrac/rest with binomial variance per source. */
  def splitAssign(spark: SparkSession, dir: String,
      trainFrac: Double = 0.8, valFrac: Double = 0.1): DataFrame =
    Tables.documentsDense(spark, dir)
      .select(col("source"), col("n_chars"),
        splitCol(col("doc_id"), trainFrac, valFrac).as("split"))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars"))
      .orderBy(col("source").asc, col("split").asc)

  def splitAssignOracleSql(trainFrac: Double, valFrac: Double): String =
    s"""SELECT source, ${splitSql("doc_id", trainFrac, valFrac)} AS split,
       |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars
       |FROM documents GROUP BY 1, 2
       |ORDER BY source ASC, split ASC""".stripMargin

  /** Train/test NEAR-DUP LEAKAGE — the eval-hygiene check the split
    * step must be followed by: near-duplicate pairs (the MinHash
    * verified set) whose members land in DIFFERENT splits are exactly
    * the eval contamination a random doc-level split produces (the
    * reason Lee et al. 2022 and every benchmark-decontamination paper
    * dedup BEFORE splitting). Reports pair counts per unordered split
    * pair with the cross-split flag. Scan-local split hashing on top of
    * the banded pair set — no new joins at corpus grain. */
  def splitLeakage(spark: SparkSession, dir: String, threshold: Double,
      trainFrac: Double = 0.8, valFrac: Double = 0.1): DataFrame = {
    val pairs = Dedup.minhashPairs(spark, dir, threshold)
      .select(col("a"), col("b"))
      .withColumn("sa", splitCol(col("a"), trainFrac, valFrac))
      .withColumn("sb", splitCol(col("b"), trainFrac, valFrac))
    pairs
      .select(least(col("sa"), col("sb")).as("split_lo"),
        greatest(col("sa"), col("sb")).as("split_hi"))
      .groupBy("split_lo", "split_hi")
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("is_cross", col("split_lo") =!= col("split_hi"))
      .orderBy(col("split_lo").asc, col("split_hi").asc)
  }

  def splitLeakageOracleSql(threshold: Double, trainFrac: Double,
      valFrac: Double): String =
    s"""WITH pairs AS (
       |  SELECT a, b FROM (${Dedup.minhashPairsOracleSql(threshold)}) mh
       |), tagged AS (
       |  SELECT ${splitSql("a", trainFrac, valFrac)} AS sa,
       |    ${splitSql("b", trainFrac, valFrac)} AS sb
       |  FROM pairs
       |)
       |SELECT least(sa, sb) AS split_lo, greatest(sa, sb) AS split_hi,
       |  count(*) AS n_pairs,
       |  least(sa, sb) != greatest(sa, sb) AS is_cross
       |FROM tagged GROUP BY 1, 2
       |ORDER BY split_lo ASC, split_hi ASC""".stripMargin

  /** Weighted sampling WITHOUT replacement — Efraimidis-Spirakis
    * (A-ES) reservoir keys: each doc draws key = u^(1/w) (u =
    * deterministic md5-uniform, w = its weight, here n_chars) and the
    * top-k keys ARE a weight-proportional sample-without-replacement.
    * The rate-based [[weightedSample]] can't promise an exact sample
    * SIZE; A-ES fixes k exactly — the pairing every sampling survey
    * recommends. Deterministic: u derives from the doc id's md5, no
    * RNG, so the oracle draws identical keys.
    *
    * One scan + TakeOrderedAndProject — map-side partial top-k, never
    * a global sort. */
  def aesSample(spark: SparkSession, dir: String, k: Int): DataFrame = {
    val h = conv(substring(md5(col("doc_id").cast("string")), 1, 13),
      16, 10).cast("long")
    val u = (h + lit(1L)) / lit(4503599627370496.0) // 2^52
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"),
        round(pow(u, lit(1.0) / col("n_chars")), 6).as("aes_key"),
        pow(u, lit(1.0) / col("n_chars")).as("_k"))
      .orderBy(col("_k").desc, col("doc_id").asc)
      .limit(k)
      .select(col("doc_id"), col("n_chars"), col("aes_key"))
  }

  def aesSampleOracleSql(k: Int): String =
    s"""WITH keyed AS (
       |  SELECT doc_id, n_chars,
       |    pow((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)
       |           AS BIGINT) + 1) / 4503599627370496.0,
       |        1.0 / n_chars) AS k
       |  FROM documents
       |)
       |SELECT doc_id, n_chars, round(k, 6) AS aes_key
       |FROM keyed
       |ORDER BY k DESC, doc_id ASC LIMIT $k""".stripMargin

  /** Stratified EVAL-HOLDOUT construction with coverage guarantees —
    * the held-out set a training pipeline carves before any sampling
    * or dedup touches the corpus: exactly `perStratum` documents from
    * EVERY (language × length-decade) stratum, chosen by md5 order so
    * membership is a pure function of the corpus (reproducible across
    * reruns, shards, and engines — no seed state to lose). Where
    * [[sampleStratified]] targets proportional representation, this
    * guarantees COVERAGE: rare strata (a low-resource language at an
    * unusual length) are never sampled away, which is what an eval set
    * needs. Length strata use the digit-count decade (the string-exact
    * engine-parity bucketing). One partitioned window over the corpus
    * — no global funnel; the output is |strata|·perStratum rows. */
  def evalHoldout(spark: SparkSession, dir: String,
      perStratum: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window
      .partitionBy(col("lang"), col("len_decade"))
      .orderBy(col("hkey").asc, col("doc_id").asc)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        length(col("n_chars").cast("string")).cast("long")
          .as("len_decade"),
        md5(col("doc_id").cast("string").cast("binary")).as("hkey"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= perStratum)
      .select(col("lang"), col("len_decade"), col("rk"), col("doc_id"))
      .orderBy(col("lang").asc, col("len_decade").asc, col("rk").asc)
  }

  def evalHoldoutOracleSql(perStratum: Int): String =
    s"""WITH keyed AS (
       |  SELECT doc_id, lang,
       |    CAST(length(CAST(n_chars AS VARCHAR)) AS BIGINT)
       |      AS len_decade,
       |    md5(CAST(doc_id AS VARCHAR)) AS hkey
       |  FROM documents
       |)
       |SELECT lang, len_decade, rk, doc_id FROM (
       |  SELECT lang, len_decade, doc_id,
       |    CAST(row_number() OVER (PARTITION BY lang, len_decade
       |      ORDER BY hkey ASC, doc_id ASC) AS BIGINT) AS rk
       |  FROM keyed)
       |WHERE rk <= $perStratum
       |ORDER BY lang ASC, len_decade ASC, rk ASC""".stripMargin
}
