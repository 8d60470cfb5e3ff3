package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextAnalyzer

/** Adjacent-token n-gram statistics over the corpus: a held-out bigram
  * language model with stupid backoff (the CCNet/KenLM quality-scoring
  * shape one rung up from [[QualityLm.unigramNll]]) and PMI collocation
  * mining. The reference's FTS analyzer defines tokenization
  * (/root/reference/src/core/vector_store.py:222); everything here reuses
  * that exact analysis chain so index, LM, and oracle agree on what a
  * token is.
  *
  * Scale shape (both operators): n-gram extraction is scan-local array
  * work behind the parquet scan (no shuffle until counting); counts are
  * partial-aggregated groupBys keyed by the n-gram; the score join is
  * keyed by the same n-gram, so at 100 TB the model side is a bucketed
  * table the probe side co-partitions against. Corpus totals ride along
  * as broadcast single-row cross joins. Nothing is collected to the
  * driver.
  */
object Ngrams {

  /** (doc_id, tl) analyzed token lists — the ONE tokenize pass both
    * operators cache and derive every stream from (r16 job-floor fix:
    * uncached, bigramNll re-tokenized the corpus 4× — train bigrams,
    * train unigrams twice, eval bigrams — and pmi 4× likewise; the
    * repeated subtree was most of their bench seconds). */
  private def docToks(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
      TextAnalyzer.tokens(col("text")).as("tl"))

  /** Per-doc ordered bigram stream over a (doc_id, tl) frame:
    * duplicates and order preserved — scan-local (array transform +
    * explode), the [[Dedup.docShingleSets]] pattern at n=2 without the
    * distinct. */
  private def bigramsOf(toks: DataFrame): DataFrame = {
    val idx = when(size(col("tl")) >= 2, sequence(lit(0), size(col("tl")) - 2))
      .otherwise(array().cast("array<int>"))
    toks.select(col("doc_id"),
      explode(transform(idx, i =>
        concat_ws(" ", element_at(col("tl"), i + 1),
          element_at(col("tl"), i + 2)))).as("bigram"))
  }

  /** Per-doc unigram stream (duplicates preserved). */
  private def unigramsOf(toks: DataFrame): DataFrame =
    toks.select(col("doc_id"), explode(col("tl")).as("w"))

  /** Held-out bigram-LM quality score with stupid backoff (Brants et
    * al. 2007, "Large Language Models in Machine Translation"): train
    * bigram/unigram counts on the `doc_id % mod != evalRem` split, then
    * score each held-out document's bigrams
    *
    *   S(w2|w1) = c(w1 w2) / c(w1)            if the bigram was seen
    *            = 0.4 · max(c(w2), 1) / N     otherwise (unigram
    *                                           backoff; OOV floor 1/N)
    *
    *   nll(doc) = -(1/n) Σ ln S
    *
    * Scoring held-out docs under the other split's model is what makes
    * backoff real — an in-corpus model would contain every bigram it is
    * asked to score. Unlike the unigram NLL (term-frequency join against
    * the inverted index), this needs token ORDER, so it runs from the
    * analyzed token arrays, not the index.
    *
    * Determinism: every per-bigram score is a double built from exact
    * BIGINT counts with identical operation order in both engines; the
    * per-doc fold scales k·ln(S) to integer nano-units and sums as
    * BIGINT (the q10/unigram-NLL rule — raw double sums order-diverge
    * across engines).
    */
  def bigramNll(spark: SparkSession, dir: String, mod: Long = 10L,
      evalRem: Long = 7L): DataFrame = {
    val toks = CacheScope.cached(docToks(Tables.documentsDense(spark, dir)))
    val train = toks.filter(col("doc_id") % mod =!= evalRem)
    val eval = toks.filter(col("doc_id") % mod === evalRem)

    // the TRAIN-side count tables ARE the model — pure functions of
    // (corpus, split), persisted once per corpus generation (EvalCache
    // discipline; r16 job-floor pass): later invocations probe the
    // vocab-grain tables and only tokenize the eval split
    val cb = EvalCache.ensure(spark, dir, "documents",
      ScaleOps.Family("bgcb", 1), "bigram", mod, evalRem)(
      bigramsOf(train).groupBy("bigram").agg(count(lit(1)).as("cb")))
    val cu = EvalCache.ensure(spark, dir, "documents",
      ScaleOps.Family("bgcu", 1), "w", mod, evalRem)(
      unigramsOf(train).groupBy("w").agg(count(lit(1)).as("cu")))
    // the corpus total is the SUM of the stored vocab counts — same
    // value as counting the unigram stream, one whole pass cheaper
    val tot = cu.agg(sum(col("cu")).as("n"))

    // pre-aggregate the probe side to (doc, bigram, k) so the model
    // joins see one row per distinct bigram per doc, not per occurrence
    val ev = bigramsOf(eval).groupBy("doc_id", "bigram")
      .agg(count(lit(1)).as("k"))
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
      .withColumn("w2", split(col("bigram"), " ").getItem(1))

    val score =
      when(col("cb").isNotNull,
        col("cb").cast("double") / col("c1"))
        .otherwise(lit(0.4) *
          coalesce(col("c2"), lit(1L)).cast("double") / col("n"))
    ev
      .join(cb, Seq("bigram"), "left")
      .join(cu.select(col("w").as("w1"), col("cu").as("c1")),
        Seq("w1"), "left")
      .join(cu.select(col("w").as("w2"), col("cu").as("c2")),
        Seq("w2"), "left")
      .crossJoin(broadcast(tot))
      .groupBy("doc_id")
      .agg(
        sum(col("k")).as("n_bigrams"),
        sum(round(col("k").cast("double") * log(score) * lit(1e9))
          .cast("long")).as("s9"))
      .select(col("doc_id"), col("n_bigrams"),
        round(-(col("s9").cast("double") / lit(1e9)) /
          col("n_bigrams").cast("double"), 6).as("nll"))
      .orderBy(col("nll").desc, col("doc_id").asc)
  }

  def bigramNllOracleSql(mod: Long = 10L, evalRem: Long = 7L): String =
    s"""WITH toklists AS (
       |  SELECT doc_id, list_filter(
       |    string_split_regex(lower(text), '\\W+'),
       |    t -> ${TextAnalyzer.sqlTermFilter("t")}) AS tl
       |  FROM documents
       |), big AS (
       |  SELECT doc_id, unnest(list_transform(
       |    range(1, greatest(len(tl) - 1, 0) + 1),
       |    i -> tl[i] || ' ' || tl[i+1])) AS bigram
       |  FROM toklists
       |), uni AS (
       |  SELECT doc_id, unnest(tl) AS w FROM toklists
       |), cb AS (
       |  SELECT bigram, count(*) AS cb FROM big
       |  WHERE doc_id % $mod <> $evalRem GROUP BY bigram
       |), cu AS (
       |  SELECT w, count(*) AS cu FROM uni
       |  WHERE doc_id % $mod <> $evalRem GROUP BY w
       |), tot AS (
       |  SELECT count(*) AS n FROM uni WHERE doc_id % $mod <> $evalRem
       |), ev AS (
       |  SELECT doc_id, bigram, count(*) AS k FROM big
       |  WHERE doc_id % $mod = $evalRem GROUP BY doc_id, bigram
       |), sc AS (
       |  SELECT e.doc_id, e.k,
       |    CASE WHEN cb.cb IS NOT NULL
       |         THEN CAST(cb.cb AS DOUBLE) / c1.cu
       |         ELSE 0.4 * CAST(COALESCE(c2.cu, 1) AS DOUBLE) / tot.n
       |    END AS s
       |  FROM ev e
       |  LEFT JOIN cb ON cb.bigram = e.bigram
       |  LEFT JOIN cu c1 ON c1.w = string_split(e.bigram, ' ')[1]
       |  LEFT JOIN cu c2 ON c2.w = string_split(e.bigram, ' ')[2], tot
       |)
       |SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
       |  round(-(CAST(sum(CAST(round(k * ln(s) * 1e9, 0) AS BIGINT))
       |    AS DOUBLE) / 1e9) / sum(k), 6) AS nll
       |FROM sc GROUP BY doc_id
       |ORDER BY nll DESC, doc_id ASC""".stripMargin

  /** PMI collocation mining — the classic "which word pairs co-occur
    * far above chance" report (Church & Hanks 1990) a corpus-analysis
    * pass ships next to term stats:
    *
    *   pmi(w1,w2) = ln( (c(w1 w2)/Nb) / ((c(w1)/Nu) · (c(w2)/Nu)) )
    *
    * over adjacent analyzed-token pairs, minimum bigram count
    * `minCount`, top `k` by PMI. Per-row arithmetic only (no double
    * fold), so determinism needs nothing beyond identical operation
    * order + round(…, 6); the top-k gets a bigram tiebreak for a total
    * order (TakeOrderedAndProject — no global sort).
    */
  def pmiCollocations(spark: SparkSession, dir: String,
      minCount: Long = 5L, k: Int = 50): DataFrame = {
    // the full-corpus bigram/unigram count tables are pure functions
    // of the corpus — persisted once per generation (the bigramNll
    // model-table discipline, r16): later invocations are vocab-grain
    // probes, never a corpus re-tokenize
    val cbAll = EvalCache.ensure(spark, dir, "documents",
      ScaleOps.Family("pmicb", 1), "bigram")(
      bigramsOf(docToks(Tables.documentsDense(spark, dir)))
        .groupBy("bigram").agg(count(lit(1)).as("n")))
    val cb = cbAll.filter(col("n") >= minCount)
    val cu = EvalCache.ensure(spark, dir, "documents",
      ScaleOps.Family("pmicu", 1), "w")(
      unigramsOf(docToks(Tables.documentsDense(spark, dir)))
        .groupBy("w").agg(count(lit(1)).as("cu")))
    // corpus totals derived from the cached vocab-grain counts (same
    // values as counting the raw streams, two whole passes cheaper)
    val nb = cbAll.agg(sum(col("n")).as("nb"))
    val nu = cu.agg(sum(col("cu")).as("nu"))

    cb
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
      .withColumn("w2", split(col("bigram"), " ").getItem(1))
      .join(cu.select(col("w").as("w1"), col("cu").as("c1")), Seq("w1"))
      .join(cu.select(col("w").as("w2"), col("cu").as("c2")), Seq("w2"))
      .crossJoin(broadcast(nb))
      .crossJoin(broadcast(nu))
      .select(col("bigram"), col("n"),
        round(log(
          (col("n").cast("double") / col("nb").cast("double")) /
            ((col("c1").cast("double") / col("nu").cast("double")) *
              (col("c2").cast("double") / col("nu").cast("double")))),
          6).as("pmi"))
      .orderBy(col("pmi").desc, col("bigram").asc)
      .limit(k)
  }

  def pmiOracleSql(minCount: Long = 5L, k: Int = 50): String =
    s"""WITH toklists AS (
       |  SELECT doc_id, list_filter(
       |    string_split_regex(lower(text), '\\W+'),
       |    t -> ${TextAnalyzer.sqlTermFilter("t")}) AS tl
       |  FROM documents
       |), big AS (
       |  SELECT unnest(list_transform(
       |    range(1, greatest(len(tl) - 1, 0) + 1),
       |    i -> tl[i] || ' ' || tl[i+1])) AS bigram
       |  FROM toklists
       |), uni AS (
       |  SELECT unnest(tl) AS w FROM toklists
       |), cb AS (
       |  SELECT bigram, count(*) AS n FROM big GROUP BY bigram
       |  HAVING count(*) >= $minCount
       |), cu AS (
       |  SELECT w, count(*) AS cu FROM uni GROUP BY w
       |), nb AS (SELECT count(*) AS nb FROM big),
       |nu AS (SELECT count(*) AS nu FROM uni)
       |SELECT cb.bigram, CAST(cb.n AS BIGINT) AS n,
       |  round(ln(
       |    (CAST(cb.n AS DOUBLE) / CAST(nb.nb AS DOUBLE)) /
       |      ((CAST(c1.cu AS DOUBLE) / CAST(nu.nu AS DOUBLE)) *
       |        (CAST(c2.cu AS DOUBLE) / CAST(nu.nu AS DOUBLE)))), 6)
       |    AS pmi
       |FROM cb
       |JOIN cu c1 ON c1.w = string_split(cb.bigram, ' ')[1]
       |JOIN cu c2 ON c2.w = string_split(cb.bigram, ' ')[2], nb, nu
       |ORDER BY pmi DESC, cb.bigram ASC LIMIT $k""".stripMargin
}
