package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextAnalyzer

/** Typo-tolerant term search — the fuzzy-matching layer every search
  * endpoint over the reference's FTS surface eventually needs (PG pairs
  * tsquery with pg_trgm `%` similarity for exactly this; Lucene ships it
  * as the fuzzy query with `max_expansions`). A misspelled query term is
  * expanded to the indexed vocabulary terms within Levenshtein
  * distance 1, then the expanded term set drives the normal
  * index-probing AND-search.
  *
  * Candidate generation is the SymSpell delete-neighborhood trick
  * (Garbe's symspell; also the core of Norvig's spell-corrector): for
  * edit distance <= 1, `lev(q, t) <= 1` implies the single-deletion
  * neighborhoods of q and t intersect (substitution at i: both minus
  * char i agree; insertion/deletion: the longer minus the extra char IS
  * the shorter; equality: the identity variant). So instead of scanning
  * the vocabulary with a Levenshtein filter — O(|vocab|) per query — the
  * corpus side precomputes each term's deletion variants ONCE into a
  * variant-bucketed table ([[ensureFuzzyIndex]], the same
  * build-once/probe-many convention as [[Fts.ensureIndex]]), and a query
  * probes it with its own <= len+1 variants as a driver-known IN-list
  * (static bucket pruning — cost ∝ posting lists touched, not vocab).
  * Exact `levenshtein` then refines the candidates (the delete-join is
  * complete but not sound: it admits some distance-2 pairs, e.g.
  * adjacent transpositions, which the refine rejects).
  *
  * Expansion is bounded by `maxExpansions` per query term (Lucene's
  * knob), keeping the highest-df terms (most evidence), ties on term
  * asc — a deterministic rank both engines replay.
  *
  * ASCII scope: expansion considers only `[a-z0-9]+` vocabulary terms.
  * This keeps the gate engine-portable (DuckDB's `levenshtein` counts
  * BYTES, Spark's counts CHARS — they agree exactly on ASCII) and
  * matches the practical target (keyboard typos in ASCII queries).
  *
  * The ORACLE is deliberately the brute-force scan (`levenshtein` over
  * the whole vocabulary): it is ground truth for the neighborhood
  * machinery, so a completeness bug in the delete-join would
  * hash-mismatch, not hide.
  *
  * Scale shape: the variant table is ~(avg_len+1)x the vocabulary —
  * still orders of magnitude smaller than the corpus, amortized across
  * queries like the FTS index itself. A probe touches |q|+1 variant
  * buckets, refines a handful of candidates, and the downstream search
  * inherits [[Fts.batchSearch]]'s broadcast-probe plan. Driver-side
  * collect of the expansion is bounded by slots x maxExpansions.
  */
object FuzzySearch {

  /** Deletion variants of an ASCII term, Scala-side (query path — MUST
    * match the column formulation in [[ensureFuzzyIndex]]). Includes the
    * identity variant (i = 0). */
  def variantsOf(term: String): Seq[String] =
    (term +: term.indices.map(i =>
      term.substring(0, i) + term.substring(i + 1))).distinct

  /** Build-once: (variant, term, df) for every `[a-z0-9]+` vocabulary
    * term of the language, bucketed by variant. df = distinct docs
    * containing the term (the expansion-ranking signal). */
  def ensureFuzzyIndex(spark: SparkSession, dir: String,
      lang: String): String = {
    val name = s"graft_fuzzy_${lang}_${ScaleOps.contentHash(dir, "documents")}"
    ScaleOps.ensure(spark, ScaleOps.Family("fuzzy", 1),
        ScaleOps.AttachSpec(name, "variant", 32)) {
      val vocab = spark.table(Fts.ensureIndex(spark, dir))
        .filter(col("lang") === lit(lang))
        .filter(col("term").rlike("^[a-z0-9]+$"))
        .groupBy("term")
        .agg(countDistinct(col("doc_id")).as("df"))
      // one row per deletion position; i = 0 keeps the term itself.
      // expr-form substring accepts column args, so the whole variant
      // projection stays inside whole-stage codegen (no HOF lambda).
      Seq(vocab
        .select(col("term"), col("df"),
          explode(sequence(lit(0), length(col("term")))).as("i"))
        .select(col("term"), col("df"),
          when(col("i") === 0, col("term"))
            .otherwise(expr(
              "concat(substring(term, 1, i-1), substring(term, i+1, length(term)-i))"))
            .as("variant"))
        .distinct())
    }
  }

  /** Fuzzy expansion of `qTerms`: for each query term, the vocabulary
    * terms within Levenshtein distance <= 1, highest-df first, at most
    * `maxExpansions` each. Output (q_term, term, dist, df). */
  def expand(spark: SparkSession, dir: String, qTerms: Seq[String],
      lang: String, maxExpansions: Int): DataFrame = {
    import spark.implicits._
    require(qTerms.nonEmpty, "no query terms")
    // The vocabulary is ASCII-scoped by construction (sqlTermFilter),
    // and the documented oracle-parity bound is byte-vs-char
    // Levenshtein equivalence — DuckDB counts BYTES, Spark counts
    // CHARS, so a multi-byte query term ('café') could pass dist<=1
    // here yet fail in the oracle. Enforce the same scope query-side.
    require(qTerms.forall(_.matches("^[a-z0-9]+$")),
      s"fuzzy query terms must be lowercase ASCII [a-z0-9]+: " +
        qTerms.filterNot(_.matches("^[a-z0-9]+$")).mkString(", "))
    val qv = qTerms.distinct
      .flatMap(q => variantsOf(q).map(v => (q, v)))
      .toDF("q_term", "variant")
    val allVars = qTerms.distinct.flatMap(variantsOf).distinct
    // driver-known variants -> a probe of at most |q|+1 bucket files
    val cand = ScaleOps.bucketProbe(spark,
        ensureFuzzyIndex(spark, dir, lang), allVars)
      .join(broadcast(qv), "variant")
      .select(col("q_term"), col("term"), col("df"))
      .distinct()
      .withColumn("dist", levenshtein(col("q_term"), col("term")))
      .filter(col("dist") <= 1)
    val w = Window.partitionBy("q_term")
      .orderBy(col("df").desc, col("term").asc)
    cand.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= maxExpansions)
      .select("q_term", "term", "dist", "df")
      .orderBy(col("q_term").asc, col("df").desc, col("term").asc)
  }

  /** Shared oracle CTEs: the language's inverted index and its ASCII
    * vocabulary with df. */
  private def vocabCte(lang: String): String =
    s"""toks AS (
       |  SELECT doc_id, ${TextAnalyzer.sqlTokenize("text")} AS term
       |  FROM documents WHERE lang = '$lang'
       |), idx AS MATERIALIZED (
       |  SELECT doc_id, term, count(*) AS tf FROM toks
       |  WHERE ${TextAnalyzer.sqlTermFilter("term")}
       |  GROUP BY doc_id, term
       |), vocab AS (
       |  SELECT term, count(DISTINCT doc_id) AS df FROM idx
       |  WHERE regexp_matches(term, '^[a-z0-9]+$$')
       |  GROUP BY term
       |)""".stripMargin

  /** Brute-force expansion in DuckDB — ground truth for the
    * delete-neighborhood machinery. */
  private def expandCte(qTerms: Seq[String], maxExpansions: Int): String = {
    val qRows = qTerms.distinct.map(q => s"('$q')").mkString(", ")
    s"""q(q_term) AS (VALUES $qRows),
       |cand AS (
       |  SELECT q.q_term, v.term,
       |    CAST(levenshtein(q.q_term, v.term) AS INT) AS dist, v.df
       |  FROM vocab v, q
       |  WHERE levenshtein(q.q_term, v.term) <= 1
       |), exp AS (
       |  SELECT q_term, term, dist, df FROM (
       |    SELECT q_term, term, dist, df, row_number() OVER (
       |      PARTITION BY q_term ORDER BY df DESC, term ASC) AS rn
       |    FROM cand) x
       |  WHERE rn <= $maxExpansions
       |)""".stripMargin
  }

  def expandOracleSql(qTerms: Seq[String], lang: String,
      maxExpansions: Int): String =
    s"""WITH ${vocabCte(lang)}, ${expandCte(qTerms, maxExpansions)}
       |SELECT q_term, term, dist, CAST(df AS BIGINT) AS df FROM exp
       |ORDER BY q_term ASC, df DESC, term ASC""".stripMargin

  /** Driver memo of collected expansions keyed by (fuzzy-index
    * generation, query terms, maxExpansions) under the [[DriverMemo]]
    * bound — the Fts.termDfs discipline (r17 verdict #7: the per-query
    * expansion probe + window was fts_fuzzy's steady-state cost; a
    * repeated query now pays zero driver jobs before the scoring
    * probe). Entries are ≤ slots × maxExpansions string pairs. */
  private val expandMemo = new DriverMemo[
    (String, Seq[String], Int), Seq[(String, String)]](256)

  /** Fuzzy AND-search: every query term must match through at least one
    * of its expansions; per (doc, slot) the best (max-tf) expansion
    * scores, slots sum as log(1+tf), normalized like [[Fts.search]].
    * The expansion is collected (bounded: slots x maxExpansions rows)
    * so the index probe keeps the driver-known IN-list prune. */
  def fuzzySearch(spark: SparkSession, dir: String, query: String,
      lang: String, k: Int, maxExpansions: Int): DataFrame = {
    import spark.implicits._
    val qTerms = TextAnalyzer.analyzeFor(query, lang).distinct
    require(qTerms.nonEmpty, s"query '$query' analyzes to no terms")
    val fuzzyIdx = ensureFuzzyIndex(spark, dir, lang)
    val exp = expandMemo.getOrCompute(
      (fuzzyIdx, qTerms.sorted, maxExpansions), fuzzyIdx) {
      expand(spark, dir, qTerms, lang, maxExpansions)
        .select(col("q_term"), col("term"))
        .collect() // bounded: <= qTerms.size * maxExpansions rows
        .map(r => (r.getString(0), r.getString(1))).toSeq
    }
    val nSlots = exp.map(_._1).distinct.length
    require(nSlots > 0, s"query '$query' has no fuzzy expansions")
    val expDf = exp.toSeq.toDF("q_term", "term")
    val allTerms = exp.map(_._2).distinct.toSeq
    val idx =
      ScaleOps.bucketProbe(spark, Fts.ensureIndex(spark, dir), allTerms)
      .filter(col("lang") === lit(lang))
    val perSlot = idx.join(broadcast(expDf), "term")
      .groupBy("doc_id", "q_term")
      .agg(max(col("tf")).as("best_tf"))
    val s = sum(log(lit(1.0) + col("best_tf")))
    perSlot.groupBy("doc_id")
      .agg(count(lit(1)).as("nmatch"), s.as("s"))
      .filter(col("nmatch") === lit(nSlots))
      .select(col("doc_id"),
        round(col("s") / (lit(1.0) + col("s")), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  def fuzzySearchOracleSql(query: String, lang: String, k: Int,
      maxExpansions: Int): String = {
    val qTerms = TextAnalyzer.analyzeFor(query, lang).distinct
    require(qTerms.nonEmpty, s"query '$query' analyzes to no terms")
    s"""WITH ${vocabCte(lang)}, ${expandCte(qTerms, maxExpansions)},
       |slots AS (SELECT count(DISTINCT q_term) AS n FROM exp),
       |best AS (
       |  SELECT idx.doc_id, exp.q_term, max(idx.tf) AS best_tf
       |  FROM idx JOIN exp ON idx.term = exp.term
       |  GROUP BY idx.doc_id, exp.q_term
       |), agg AS (
       |  SELECT doc_id, count(*) AS nmatch,
       |         sum(ln(1 + best_tf)) AS s
       |  FROM best GROUP BY doc_id
       |)
       |SELECT doc_id, round(s / (1 + s), 6) AS score
       |FROM agg, slots WHERE nmatch = n
       |ORDER BY score DESC, doc_id ASC LIMIT $k""".stripMargin
  }
}
