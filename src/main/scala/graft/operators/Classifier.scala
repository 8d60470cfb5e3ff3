package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextAnalyzer

/** Distributed multinomial Naive Bayes over the documents table — the
  * model-based quality/routing classifier of a training-data pipeline
  * (the fastText-classifier role in public LLM curation recipes: score
  * every document with a cheap linear model, route or filter on the
  * prediction). The reference ships embeddings to an external model
  * service (/root/reference/src/core/embedding_client.py); this is the
  * in-engine counterpart: TRAINING is one shuffle of (class, term)
  * counts, SCORING is a broadcast-model scan — no service round-trip.
  *
  * Label = `lang`; split is doc_id % 5 (held-out fifth). Add-one
  * smoothing: P(t|c) = (n_tc + 1) / (T_c + V).
  *
  * Scale shape (100 TB): training = explode tokens + one
  * partial-aggregable groupBy(lang, term) — the exchange carries
  * distinct (class, term) pairs, not token instances. The model table
  * is vocab-bounded; scoring joins test tokens to it — broadcast here,
  * a term-keyed shuffle join at corpus vocab. The per-document argmax
  * is a doc-partitioned window over n_classes rows. Nothing converges
  * on one reducer.
  *
  * Cross-engine determinism: every per-token log term is rounded to
  * integer NANO-units (round(ln(ratio)·1e9) as BIGINT) before summing —
  * long addition is order-independent, so the per-(doc, class) scores
  * and the argmax compare exactly across engines (the
  * quality_unigram_lm pattern; see graft-oracle rules). Priors fold the
  * same way.
  */
object Classifier {

  /** Train/test split modulus: doc_id % Split == 0 is held out. */
  val Split = 5L

  private def trainDocs(spark: SparkSession, dir: String): DataFrame =
    Tables.documentsDense(spark, dir).filter(col("doc_id") % Split =!= 0)

  private def testDocs(spark: SparkSession, dir: String): DataFrame =
    Tables.documentsDense(spark, dir).filter(col("doc_id") % Split === 0)

  private def tokenized(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"),
      explode(TextAnalyzer.tokens(col("text"))).as("term"))

  /** (lang, term) → training count. One partial-aggregable shuffle. */
  private def termCounts(spark: SparkSession, dir: String): DataFrame =
    // persisted once per corpus generation (EvalCache discipline): the
    // (class, term, n) count table IS the trained NB model — a pure
    // function of the corpus split, re-tokenizing the train corpus per
    // invocation was the nb_model/nb_confusion job-floor cost (r16).
    // Vocab-grain rows, one bucket.
    EvalCache.ensure(spark, dir, "documents", ScaleOps.Family("nbcnt", 1),
      "term")(
      tokenized(trainDocs(spark, dir))
        .groupBy(col("lang"), col("term"))
        .agg(count(lit(1)).as("n")))

  /** The training artifact: top-`k` terms per class by count (term-asc
    * tiebreak) with the smoothed nano-log-prob each carries into
    * scoring — the inspectable "what did the model learn" surface. */
  def nbModel(spark: SparkSession, dir: String, k: Int): DataFrame = {
    val counts = termCounts(spark, dir)
    val totals = counts.groupBy(col("lang").as("t_lang"))
      .agg(sum(col("n")).as("t_c"))
    val vocab = counts.select(countDistinct(col("term")).as("v"))
    val w = Window.partitionBy("lang")
      .orderBy(col("n").desc, col("term").asc)
    counts
      .join(broadcast(totals), col("lang") === col("t_lang"))
      .crossJoin(broadcast(vocab))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("lang"), col("rank"), col("term"), col("n"),
        round(log((col("n") + 1).cast("double") /
          (col("t_c") + col("v"))) * 1e9).cast("long").as("logp_nano"))
      .orderBy(col("lang").asc, col("rank").asc)
  }

  def nbModelOracleSql(k: Int): String =
    s"""WITH tok AS (
       |  SELECT lang, t AS term FROM (
       |    SELECT lang, ${TextAnalyzer.sqlTokenize("text")} AS t
       |    FROM documents WHERE doc_id % $Split != 0) u
       |  WHERE ${TextAnalyzer.sqlTermFilter("t")}
       |), m AS (
       |  SELECT lang, term, count(*) AS n FROM tok GROUP BY 1, 2
       |), tot AS (
       |  SELECT lang, sum(n) AS t_c FROM m GROUP BY 1
       |), voc AS (
       |  SELECT count(DISTINCT term) AS v FROM m
       |), r AS (
       |  SELECT m.lang, m.term, CAST(m.n AS BIGINT) AS n,
       |    CAST(round(ln(CAST(m.n + 1 AS DOUBLE) / (tot.t_c + voc.v))
       |      * 1e9) AS BIGINT) AS logp_nano,
       |    row_number() OVER (PARTITION BY m.lang
       |      ORDER BY m.n DESC, m.term ASC) AS rank
       |  FROM m JOIN tot ON tot.lang = m.lang CROSS JOIN voc
       |)
       |SELECT lang, CAST(rank AS BIGINT) AS rank, term, n, logp_nano
       |FROM r WHERE rank <= $k
       |ORDER BY lang ASC, rank ASC""".stripMargin

  /** Held-out confusion matrix: classify each test document by argmax
    * class score (score-desc, lang-asc tiebreak), tally
    * (true_lang, pred_lang). The one number a pipeline owner reads
    * before trusting the classifier as a filter.
    *
    * r18 strength reduction (r17 verdict #3): the former plan exploded
    * test tokens × classes through a shuffle and ranked with a window —
    * per test token, n_classes rows crossed the exchange. The scores
    * decompose EXACTLY in integer nano space instead:
    *
    *   score(d, c) = prior_c + Σ_t term_nano(t, c)
    *               = prior_c + cnt_d·zero_c + Σ_{t ∈ vocab} delta(t, c)
    *
    * where zero_c = round(ln(1/(T_c+V))·1e9) is the smoothed
    * zero-count mass (what any out-of-model token scores) and
    * delta(t, c) = term_nano(t, c) − zero_c is each in-vocab term's
    * integer surplus (0 when class c never saw t, since n=0 reproduces
    * zero_c). All three pieces are longs derived from the SAME rounded
    * expressions as before, so the scores — and therefore the
    * confusion tallies — are bit-identical (ClassifierShapeSpec pins
    * it; the oracle still computes the naive form). The plan becomes:
    * per-class scalars = one bounded n_classes-row collect; the model
    * pivots to ONE row per vocab term (delta per class as columns);
    * test tokens take a term-keyed broadcast join and ONE doc-grain
    * partial-aggregated shuffle; the argmax is a scan-local
    * strictly-greater fold in lang-asc order (ties keep the earlier
    * class — exactly the window's score-desc, lang-asc rank 1). At
    * 100 TB the broadcast becomes a term-keyed shuffle join; nothing
    * else changes and no window ranks token-grain data. */
  /** Per-generation memo of the bounded per-class scalar block
    * (c_lang, t_c, V, prior_nano, zero_nano) — a pure deterministic
    * function of the persisted count table (n_classes rows, ~5 longs
    * each), keyed by the generation-bearing EvalCache table name. The
    * r18 form re-collected it per invocation: 4 of nb_confusion's 15
    * sequential job-floor jobs (r18 verdict #8). */
  private val cstatMemo =
    new DriverMemo[String, Seq[(String, Long, Long, Long, Long)]](16)

  def nbConfusion(spark: SparkSession, dir: String): DataFrame = {
    // `counts` is a scan of the persisted per-generation model table
    // (EvalCache.ensure in termCounts) — the r18 CacheScope.cached
    // wrapper predated the persistence and only re-materialized a
    // cheap bucketed scan into the block cache per invocation.
    val counts = termCounts(spark, dir)
    val cntName = EvalCache.tableName(dir, "documents", "nbcnt")
    val train = trainDocs(spark, dir)
    val nTrain = train.select(count(lit(1)).as("n_train"))
    // per-class scalars (t_c, V, prior_nano, zero_nano): n_classes
    // rows, collected once PER GENERATION — the bounded statistics
    // read of the house probe pattern, under the DriverMemo bound. The
    // nano roundings happen in SPARK expressions (same `round ∘ log`
    // tree as the oracle), never on the driver, so no second rounding
    // convention enters the pipeline.
    val cstat = cstatMemo.getOrCompute(cntName, cntName) {
      counts.groupBy(col("lang").as("c_lang"))
        .agg(sum(col("n")).as("t_c"))
        .join(train.groupBy(col("lang").as("d_lang"))
            .agg(count(lit(1)).as("docs_c")),
          col("c_lang") === col("d_lang"))
        .crossJoin(nTrain)
        .crossJoin(counts.select(countDistinct(col("term")).as("v")))
        .select(col("c_lang"), col("t_c"), col("v"),
          round(log(col("docs_c").cast("double") / col("n_train")) * 1e9)
            .cast("long").as("prior_nano"),
          round(log(lit(1.0) / (col("t_c") + col("v"))) * 1e9)
            .cast("long").as("zero_nano"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
        .sortBy(_._1).toSeq // lang-asc = the argmax tiebreak order
    }
    // model pivot: ONE row per vocab term, delta(t, c) per class as a
    // column. delta uses the identical rounded term expression minus
    // the class's zero mass — integer subtraction, exact.
    val deltaCols = cstat.zipWithIndex.map { case ((lang, tc, v, _, zero), i) =>
      coalesce(sum(when(col("lang") === lit(lang),
        round(log((col("n") + 1).cast("double") / lit((tc + v).toDouble))
          * 1e9).cast("long") - lit(zero))), lit(0L)).as(s"d$i")
    }
    val termDeltas = counts.groupBy(col("term"))
      .agg(deltaCols.head, deltaCols.tail: _*)
    // test tokens: term-keyed model join (out-of-vocab tokens miss →
    // every delta 0), then ONE partial-aggregated doc-grain shuffle.
    // SIZE-ROUTED (r19 verdict #5, the searchAuto/routeMetaToIndex
    // pattern): the pivoted model is vocab×classes wide, and a
    // broadcast() hint is honored regardless of size — at
    // open-vocabulary scale the hint alone is an executor/driver OOM.
    // Below the threshold (on-disk bytes of the persisted count table,
    // driver-side metadata; default 64 MiB ≈ a few hundred MB of
    // built hash relation, comfortably under the 8 GB broadcast cap)
    // the model broadcasts; above it the join becomes the term-keyed
    // shuffle join the scale note always promised. Both routes are the
    // same left join — bit-identical rows (ClassifierShapeSpec route
    // rows pin it).
    val bcastMax = spark.conf.getOption("graft.nb.modelBroadcastMaxBytes")
      .map(_.toLong).getOrElse(64L << 20)
    val modelJoin =
      if (ScaleOps.warehouseTableBytes(spark, cntName) <= bcastMax)
        broadcast(termDeltas)
      else termDeltas
    val aggCols = count(lit(1)).as("cnt") +:
      cstat.indices.map(i =>
        sum(coalesce(col(s"d$i"), lit(0L))).as(s"s$i"))
    val docScores = tokenized(testDocs(spark, dir))
      .withColumnRenamed("lang", "true_lang")
      .join(modelJoin, Seq("term"), "left")
      .groupBy(col("doc_id"), col("true_lang"))
      .agg(aggCols.head, aggCols.tail: _*)
    def score(i: Int) = {
      val (_, _, _, prior, zero) = cstat(i)
      lit(prior) + col("cnt") * lit(zero) + col(s"s$i")
    }
    // scan-local argmax: strictly-greater fold in lang-asc order keeps
    // the earliest class on ties — the window's rank-1 row exactly
    val (predExpr, _) = cstat.zipWithIndex.tail.foldLeft(
      (lit(cstat.head._1), score(0))) { case ((pred, best), ((lang, _, _, _, _), i)) =>
      val s = score(i)
      (when(s > best, lit(lang)).otherwise(pred), greatest(s, best))
    }
    docScores
      .select(col("true_lang"), predExpr.as("pred_lang"))
      .groupBy(col("true_lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("true_lang").asc, col("pred_lang").asc)
  }

  val nbConfusionOracleSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, lang, t AS term FROM (
       |    SELECT doc_id, lang, ${TextAnalyzer.sqlTokenize("text")} AS t
       |    FROM documents WHERE doc_id % $Split != 0) u
       |  WHERE ${TextAnalyzer.sqlTermFilter("t")}
       |), m AS (
       |  SELECT lang, term, count(*) AS n FROM tok GROUP BY 1, 2
       |), cstat AS (
       |  SELECT m.lang AS c_lang, sum(n) AS t_c FROM m GROUP BY 1
       |), dstat AS (
       |  SELECT lang, count(*) AS docs_c FROM documents
       |  WHERE doc_id % $Split != 0 GROUP BY 1
       |), ntr AS (
       |  SELECT count(*) AS n_train FROM documents WHERE doc_id % $Split != 0
       |), prior AS (
       |  SELECT c_lang, t_c,
       |    CAST(round(ln(CAST(docs_c AS DOUBLE) / n_train) * 1e9)
       |      AS BIGINT) AS prior_nano
       |  FROM cstat JOIN dstat ON dstat.lang = cstat.c_lang CROSS JOIN ntr
       |), voc AS (
       |  SELECT count(DISTINCT term) AS v FROM m
       |), ttok AS (
       |  SELECT doc_id, lang AS true_lang, t AS term FROM (
       |    SELECT doc_id, lang, ${TextAnalyzer.sqlTokenize("text")} AS t
       |    FROM documents WHERE doc_id % $Split = 0) u
       |  WHERE ${TextAnalyzer.sqlTermFilter("t")}
       |), scored AS (
       |  SELECT tt.doc_id, tt.true_lang, p.c_lang, p.prior_nano,
       |    CAST(round(ln(CAST(coalesce(m.n, 0) + 1 AS DOUBLE) /
       |      (p.t_c + voc.v)) * 1e9) AS BIGINT) AS term_nano
       |  FROM ttok tt CROSS JOIN prior p CROSS JOIN voc
       |  LEFT JOIN m ON m.lang = p.c_lang AND m.term = tt.term
       |), sc AS (
       |  SELECT doc_id, true_lang, c_lang,
       |    prior_nano + sum(term_nano) AS score_nano
       |  FROM scored GROUP BY doc_id, true_lang, c_lang, prior_nano
       |), pred AS (
       |  SELECT doc_id, true_lang, c_lang,
       |    row_number() OVER (PARTITION BY doc_id
       |      ORDER BY score_nano DESC, c_lang ASC) AS rk
       |  FROM sc
       |)
       |SELECT true_lang, c_lang AS pred_lang, count(*) AS n_docs
       |FROM pred WHERE rk = 1
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
}
