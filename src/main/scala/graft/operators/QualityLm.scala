package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextAnalyzer

/** Unigram language-model quality scoring — the perplexity-proxy filter
  * of the CCNet/RefinedWeb lineage (Wenzek et al. 2020 score web pages
  * with a KenLM 5-gram; the unigram degenerate case keeps the exact
  * same pipeline shape while staying oracle-expressible): score every
  * document by its mean per-token negative log-likelihood under the
  * corpus's own unigram distribution,
  *
  *   nll(doc) = -(1/n) Σ_t tf_t · ln(ctf_t / total)
  *            =  ln(total) - (Σ_t tf_t · ln ctf_t) / n
  *
  * High nll = the document is made of corpus-rare tokens (boilerplate
  * hashes, mojibake, exotic vocabulary) — the rows a quality gate
  * inspects first. Low nll = stopword-ish common text.
  *
  * Scale shape: both sides of the one join are TERM-KEYED — the per-doc
  * term frequencies (the inverted index, persisted and bucketed by term
  * at 100 TB — Fts.ensureIndex) and the corpus term totals (an
  * aggregate OF that index, so it inherits the term bucketing). The
  * join is therefore co-partitioned/exchange-free against a persisted
  * index; the per-doc regroup is one partial-agg shuffle on doc_id; the
  * corpus-total scalar rides along as a broadcast single-row cross
  * join (same pattern as Fts.searchBm25's corpus stats). Nothing is
  * ever collected to the driver.
  */
object QualityLm {

  /** (doc_id, n_tokens, nll) for every document, worst (rarest-token)
    * first. Deterministic: each per-term contribution tf·ln(ctf) is an
    * identical double in both engines, then scaled to integer
    * nano-units and summed as BIGINT — an exact, order-independent
    * fold, where a raw double sum could land on a rounding boundary
    * differently per engine (the q10 failure class). */
  def unigramNll(spark: SparkSession, dir: String): DataFrame = {
    val idx = spark.table(Fts.ensureIndex(spark, dir))
      .select("doc_id", "term", "tf")
    val ctf = idx.groupBy("term").agg(sum(col("tf")).as("ctf"))
    val total = ctf.agg(sum(col("ctf")).as("total"))
    idx.join(ctf, "term")
      .groupBy("doc_id")
      .agg(
        sum(col("tf")).as("n_tokens"),
        sum(round(col("tf").cast("double") *
          log(col("ctf").cast("double")) * lit(1e9)).cast("long"))
          .as("s9"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("n_tokens"),
        round(log(col("total").cast("double")) -
          (col("s9").cast("double") / lit(1e9)) /
            col("n_tokens").cast("double"), 6).as("nll"))
      .orderBy(col("nll").desc, col("doc_id").asc)
  }

  /** Build-once per-doc NLL score table (r18): the unigram LM scores
    * are a pure function of the corpus, and every downstream consumer
    * (the CCNet terciles, the curation report) was re-running the
    * index join + two aggregations per invocation. Persisted bucketed
    * by doc_id — the score-once/bucket-many layout a 100 TB curation
    * pass uses (and the same persist-once discipline as the pmi/dsir
    * model tables). The live `quality_unigram_lm` entry still runs the
    * full chain — it is the operator under test; this table is its
    * persisted product. Parquet round-trips doubles exactly, so
    * consumers are bit-identical to the inline chain. */
  def ensureNllTable(spark: SparkSession, dir: String): String = {
    val name = s"graft_nll_${ScaleOps.contentHash(dir, "documents")}"
    ScaleOps.ensure(spark, ScaleOps.Family("nll", 1),
        ScaleOps.AttachSpec(name, "doc_id", 8)) {
      Seq(unigramNll(spark, dir))
    }
  }

  /** Per-source curation report — the roll-up a data-curation pass
    * actually reads: for every source, its Gopher-gate pass rate and
    * mean unigram NLL side by side. Composes `TextOps.gopherQuality`
    * and `unigramNll` (both scan-shaped) with one broadcast-sized join
    * at document grain, then a partial agg down to nSources rows.
    * Documents analyzing to zero tokens have no NLL and are excluded
    * (inner join) — both engines agree on the exclusion. */
  def curationReport(spark: SparkSession, dir: String): DataFrame = {
    val gq = TextOps.gopherQuality(spark, dir).select("doc_id", "pass")
    val nll = spark.table(ensureNllTable(spark, dir))
      .select("doc_id", "nll")
    Tables.documentsDense(spark, dir).select("doc_id", "source")
      .join(gq, "doc_id")
      .join(nll, "doc_id")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg(col("pass").cast("int")), 6).as("pass_rate"),
        // nll is rounded to 6, so nll·1e6 is integer-valued: the
        // BIGINT fold is exact and order-independent (a double sum's
        // order differs per engine)
        round((sum(round(col("nll") * lit(1e6)).cast("long"))
          .cast("double") / lit(1e6)) / count(lit(1)), 6).as("mean_nll"))
      .orderBy(col("source").asc)
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020 §4.3: score
    * every page under an LM and split the corpus into head/middle/tail
    * by perplexity terciles — the head trains, the tail is inspected):
    * docs ranked by unigram NLL (low = fluent/common = head), split at
    * exact tercile RANKS, rolled up per source × bucket.
    *
    * Scale shape: the global rank comes from the two-pass
    * quantile-literal prefix sum (ScaleOps.prefixSummed with a
    * constant-1 value column ⇒ cum_before IS the exact 0-based rank) —
    * no corpus-wide window anywhere; the tiebreak key nll_micro·2³³ +
    * doc_id is a total order, so both engines rank identically. The
    * corpus count rides back as a broadcast single-row cross join. */
  def pplBuckets(spark: SparkSession, dir: String): DataFrame = {
    // the NLL frame comes from the build-once score table (r18,
    // ensureNllTable): the quantile probe, both prefix-sum passes, the
    // corpus count, and the final roll-up all read a bucketed
    // docs-count-row parquet instead of re-running the scoring chain
    val nllTable = ensureNllTable(spark, dir)
    val keyed = spark.table(nllTable)
      .withColumn("nll_micro", round(col("nll") * lit(1e6)).cast("long"))
      .withColumn("key",
        col("nll_micro") * lit(8589934592L) + col("doc_id"))
      .withColumn("one", lit(1L))
    // bucket boundaries memoized per NLL-table generation (r17 verdict
    // #6; key fixed r19 — the r18 form passed Fts.ensureIndex(...) as
    // the generation string, forcing the most expensive index build in
    // the repo as a SIDE EFFECT of a quality query on a fresh session.
    // The NLL table name embeds the same corpus fingerprint and is
    // already ensured above, so it keys the memo for free): the NLL
    // ranking key is a deterministic function of the corpus, so
    // steady-state re-invocations skip the approxQuantile driver action
    // (any boundary set is correct — it only shapes bucket sizes)
    val bounds = ScaleOps.prefixBounds(keyed, nllTable, "key", 32)
    val ranked = ScaleOps.prefixSummed(keyed, "key", "one", 32, Some(bounds))
      .withColumnRenamed("cum_before", "rank")
    val tot = ranked.agg(count(lit(1)).as("n"))
    ranked.crossJoin(broadcast(tot))
      .withColumn("bucket",
        when(col("rank") * 3 < col("n"), "head")
          .when(col("rank") * 3 < col("n") * 2, "middle")
          .otherwise("tail"))
      .join(Tables.documentsDense(spark, dir).select("doc_id", "source"),
        "doc_id")
      .groupBy("source", "bucket")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        expr("sum(nll_micro) div count(1)").as("mean_nll_micro"))
      .orderBy(col("source").asc, col("bucket").asc)
  }

  def pplBucketsOracleSql: String =
    s"""WITH nq AS (${unigramNllOracleSql}), rk AS (
       |  SELECT doc_id, n_tokens,
       |    CAST(round(nll * 1e6, 0) AS BIGINT) AS nll_micro,
       |    row_number() OVER (ORDER BY
       |      CAST(round(nll * 1e6, 0) AS BIGINT) * 8589934592 + doc_id
       |      ASC) - 1 AS rank,
       |    count(*) OVER () AS n
       |  FROM nq
       |)
       |SELECT d.source,
       |  CASE WHEN rk.rank * 3 < rk.n THEN 'head'
       |       WHEN rk.rank * 3 < 2 * rk.n THEN 'middle'
       |       ELSE 'tail' END AS bucket,
       |  count(*) AS n_docs,
       |  CAST(sum(rk.n_tokens) AS BIGINT) AS n_tokens,
       |  CAST(sum(rk.nll_micro) // count(*) AS BIGINT) AS mean_nll_micro
       |FROM rk JOIN documents d ON d.doc_id = rk.doc_id
       |GROUP BY 1, 2 ORDER BY source ASC, bucket ASC""".stripMargin

  def curationReportOracleSql: String = {
    // reuse both operators' oracle chains as subqueries — the oracle
    // composes exactly what the engine composes
    val gopher = TextOps.gopherQualityOracleSql
    val nll = unigramNllOracleSql
    s"""WITH gq AS ($gopher), nq AS ($nll)
       |SELECT d.source, count(*) AS n_docs,
       |  round(avg(CAST(gq.pass AS INT)), 6) AS pass_rate,
       |  round((CAST(sum(CAST(round(nq.nll * 1e6, 0) AS BIGINT))
       |    AS DOUBLE) / 1e6) / count(*), 6) AS mean_nll
       |FROM documents d
       |JOIN gq ON gq.doc_id = d.doc_id
       |JOIN nq ON nq.doc_id = d.doc_id
       |GROUP BY d.source
       |ORDER BY d.source ASC""".stripMargin
  }

  def unigramNllOracleSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(list_filter(
       |    string_split_regex(lower(text), '\\W+'),
       |    t -> ${TextAnalyzer.sqlTermFilter("t")})) AS term
       |  FROM documents
       |), tfs AS (
       |  SELECT doc_id, term, count(*) AS tf FROM toks
       |  GROUP BY doc_id, term
       |), ctf AS (
       |  SELECT term, sum(tf) AS ctf FROM tfs GROUP BY term
       |), tot AS (
       |  SELECT sum(tf) AS total FROM tfs
       |)
       |SELECT f.doc_id, CAST(sum(f.tf) AS BIGINT) AS n_tokens,
       |  round(ln(CAST(max(tot.total) AS DOUBLE)) -
       |    (CAST(sum(CAST(round(f.tf * ln(CAST(c.ctf AS DOUBLE)) * 1e9,
       |       0) AS BIGINT)) AS DOUBLE) / 1e9) / sum(f.tf), 6) AS nll
       |FROM tfs f JOIN ctf c USING (term), tot
       |GROUP BY f.doc_id
       |ORDER BY nll DESC, f.doc_id ASC""".stripMargin
}
