package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Multi-vector (late-interaction) retrieval — the ColBERT scoring
  * model (Khattab & Zaharia, SIGIR'20): a document is a BAG of vectors,
  * not one, and relevance to a multi-vector query is
  *
  *   MaxSim(q, d) = Σ_{qi ∈ q} max_{dj ∈ d} cos(qi, dj)
  *
  * — each query vector picks its best-matching document vector and the
  * per-vector evidence sums. The reference's store holds one embedding
  * per chunk and one document owns many chunks
  * (/root/reference/src/core/document_processor.py chunking →
  * vector_store rows), so this is exactly the document-level ranking
  * its chunk-level KNN endpoint leaves to the caller.
  *
  * Fixture mapping: the embeddings table has no document key, so
  * pseudo-documents group `vec_id % G` (G consecutive-id striped docs,
  * ~n/G vectors each) — the same deterministic device both engines
  * replay; the query is a pseudo-document too (retrieval by example).
  *
  * Determinism: per-pair similarity is rounded to integer MICRO-UNITS
  * (round(cos·1e6) — half-away-from-zero in both engines), so max and
  * sum run over BIGINTs and no double summation order can alias the
  * hash.
  *
  * Scale shape, exact path: one scan of the corpus vectors with the
  * |q|-row query frame broadcast riding it, then two partial
  * aggregations (max per (doc, qi), sum per doc) that combine map-side
  * — never a doc×doc join, never a collect. This is the documented
  * brute-force baseline (the [[Similarity.knnCosine]] analog).
  *
  * Scale path: [[maxSimPruned]] — PLAID-style (Santhanam et al. '22)
  * candidate generation over the trained IVF index: each query vector
  * probes its own centroid cell (the assignment the index already
  * stores), candidate documents are those with at least one vector in a
  * probed cell (bucket-pruned scan of the index), and the exact MaxSim
  * refine runs only on the candidates — cost ∝ probed cells + candidate
  * vectors, FLAT in corpus size at fixed cell geometry, like the other
  * ANN probe paths on the scale ladder.
  */
object MultiVector {

  /** Corpus vectors with their pseudo-doc key and precomputed norm. */
  private def docVecs(spark: SparkSession, dir: String,
      groups: Int): DataFrame =
    Tables.embeddings(spark, dir)
      .select((col("vec_id") % groups).as("mv_doc"), col("vec_id"),
        col("embedding"), Similarity.norm(col("embedding")).as("nrm"))

  /** Micro-unit cosine similarity — BIGINT, engine-identical. */
  private def simMicro(e: org.apache.spark.sql.Column,
      n: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    round(Similarity.dot(e, col("qv")) / (n * col("qn")) * lit(1e6), 0)
      .cast("long")

  /** Exact MaxSim top-k: rank all pseudo-docs against query doc `qDoc`.
    * Output (mv_doc, n_qvec, maxsim_micro).
    *
    * `qCap` pins the QUERY bag to the doc's vectors with vec_id < qCap
    * — a fixed-size bag at every corpus scale (a real late-interaction
    * query has a token-bounded vector count independent of the corpus;
    * without the cap the vec_id-stripe pseudo-doc device would grow the
    * query 10× with 10× data, an artifact). */
  def maxSimTopK(spark: SparkSession, dir: String, qDoc: Long,
      groups: Int, qCap: Long, k: Int): DataFrame = {
    val vecs = docVecs(spark, dir, groups)
    val q = vecs.filter(col("mv_doc") === lit(qDoc) &&
        col("vec_id") < lit(qCap))
      .select(col("vec_id").as("q_vec"),
        col("embedding").cast("array<double>").as("qv"),
        col("nrm").as("qn"))
    vecs.filter(col("mv_doc") =!= lit(qDoc))
      .crossJoin(broadcast(q))
      .select(col("mv_doc"), col("q_vec"),
        simMicro(col("embedding"), col("nrm")).as("sim"))
      .groupBy("mv_doc", "q_vec")
      .agg(max(col("sim")).as("best"))
      .groupBy("mv_doc")
      .agg(count(lit(1)).as("n_qvec"),
        sum(col("best")).as("maxsim_micro"))
      .orderBy(col("maxsim_micro").desc, col("mv_doc").asc)
      .limit(k)
  }

  /** Shared oracle CTEs: vectors with pseudo-doc key and the query
    * doc's vector bag. */
  private def baseCtes(qDoc: Long, groups: Int, qCap: Long): String =
    s"""e AS (
       |  SELECT vec_id % $groups AS mv_doc, vec_id,
       |    CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings
       |), q AS (
       |  SELECT vec_id AS q_vec, v AS qv FROM e
       |  WHERE mv_doc = $qDoc AND vec_id < $qCap
       |)""".stripMargin

  private def simMicroSql(v: String, qv: String): String =
    s"""CAST(round(list_dot_product($v, $qv)
       | / (sqrt(list_dot_product($v, $v))
       |    * sqrt(list_dot_product($qv, $qv))) * 1e6) AS BIGINT)"""
      .stripMargin.replace("\n", " ")

  def maxSimTopKOracleSql(qDoc: Long, groups: Int, qCap: Long,
      k: Int): String =
    s"""WITH ${baseCtes(qDoc, groups, qCap)}, best AS (
       |  SELECT e.mv_doc, q.q_vec,
       |    max(${simMicroSql("e.v", "q.qv")}) AS best
       |  FROM e, q WHERE e.mv_doc <> $qDoc
       |  GROUP BY e.mv_doc, q.q_vec
       |)
       |SELECT mv_doc, count(*) AS n_qvec,
       |  CAST(sum(best) AS BIGINT) AS maxsim_micro
       |FROM best GROUP BY mv_doc
       |ORDER BY maxsim_micro DESC, mv_doc ASC LIMIT $k""".stripMargin

  /** PLAID-style pruned MaxSim: candidates = pseudo-docs owning at
    * least one vector in the cells the query doc's vectors are assigned
    * to (each query vector's top-1 cell IS its stored assignment), then
    * the exact MaxSim refine on candidates only. Same output shape as
    * [[maxSimTopK]]; the oracle replays the identical pruning, and the
    * spec measures its agreement with the exact path. */
  def maxSimPruned(spark: SparkSession, dir: String, qDoc: Long,
      groups: Int, qCap: Long, nCentroids: Int, k: Int): DataFrame = {
    val ivf = Similarity.ensureIvfIndex(spark, dir, nCentroids)
    def docs(t: DataFrame) = t
      .select((col("vec_id") % groups).as("mv_doc"), col("vec_id"),
        col("embedding"), col("nrm"), col("centroid_id"))
    val idx = docs(spark.table(ivf))
    // the probed cells: the capped query bag's own assignments — a
    // bounded driver list (<= qCap/groups cells), so the candidate
    // probe reads only those cells' bucket files
    val qcells = idx.filter(col("mv_doc") === lit(qDoc) &&
        col("vec_id") < lit(qCap))
      .select("centroid_id").distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    val cands = docs(ScaleOps.bucketProbe(spark, ivf, qcells))
      .filter(col("mv_doc") =!= lit(qDoc))
      .select("mv_doc").distinct()
    val q = idx.filter(col("mv_doc") === lit(qDoc) &&
        col("vec_id") < lit(qCap))
      .select(col("vec_id").as("q_vec"),
        col("embedding").cast("array<double>").as("qv"),
        col("nrm").as("qn"))
    idx.join(broadcast(cands), "mv_doc")
      .crossJoin(broadcast(q))
      .select(col("mv_doc"), col("q_vec"),
        simMicro(col("embedding"), col("nrm")).as("sim"))
      .groupBy("mv_doc", "q_vec")
      .agg(max(col("sim")).as("best"))
      .groupBy("mv_doc")
      .agg(count(lit(1)).as("n_qvec"),
        sum(col("best")).as("maxsim_micro"))
      .orderBy(col("maxsim_micro").desc, col("mv_doc").asc)
      .limit(k)
  }

  def maxSimPrunedOracleSql(qDoc: Long, groups: Int, qCap: Long,
      nCentroids: Int, k: Int): String =
    s"""WITH e AS (
       |  SELECT vec_id % $groups AS mv_doc, vec_id,
       |    CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings
       |), ${Similarity.centsCtes(nCentroids)},
       |asg AS (
       |  SELECT e.mv_doc, e.vec_id, e.v, centroid_id,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |      round(1.0 - list_dot_product(v, cv)
       |        / (sqrt(list_dot_product(v, v))
       |           * sqrt(list_dot_product(cv, cv))), 6) ASC,
       |      centroid_id ASC) AS rn
       |  FROM e, cents
       |), cells AS MATERIALIZED (
       |  SELECT mv_doc, vec_id, v, centroid_id FROM asg WHERE rn = 1
       |), qcells AS (
       |  SELECT DISTINCT centroid_id FROM cells
       |  WHERE mv_doc = $qDoc AND vec_id < $qCap
       |), cands AS (
       |  SELECT DISTINCT mv_doc FROM cells
       |  WHERE centroid_id IN (SELECT centroid_id FROM qcells)
       |    AND mv_doc <> $qDoc
       |), q AS (
       |  SELECT vec_id AS q_vec, v AS qv FROM cells
       |  WHERE mv_doc = $qDoc AND vec_id < $qCap
       |), best AS (
       |  SELECT c.mv_doc, q.q_vec,
       |    max(${simMicroSql("c.v", "q.qv")}) AS best
       |  FROM cells c JOIN cands USING (mv_doc), q
       |  GROUP BY c.mv_doc, q.q_vec
       |)
       |SELECT mv_doc, count(*) AS n_qvec,
       |  CAST(sum(best) AS BIGINT) AS maxsim_micro
       |FROM best GROUP BY mv_doc
       |ORDER BY maxsim_micro DESC, mv_doc ASC LIMIT $k""".stripMargin
}
