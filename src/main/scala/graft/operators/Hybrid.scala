package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, LongType,
  StructField, StructType}

import graft.functions.TextAnalyzer

/** Hybrid search — reciprocal-rank fusion (RRF) of the FTS top-k list
  * and the vector-KNN top-k list.
  *
  * The reference ships BOTH retrieval paths over the same documents
  * table — FTS (/root/reference/src/core/vector_store.py:211-227) and
  * the legacy pgvector cosine KNN (vector_store.py:263-319) — but never
  * combines them; a user querying the service gets one or the other.
  * Fusing the two ranked lists is the canonical completion of that
  * surface (Cormack, Clarke & Buettcher, SIGIR 2009: RRF outperforms
  * either list and needs no score calibration):
  *
  *   rrf(d) = Σ_lists 1 / (K + rank_list(d)),  K = 60 conventionally.
  *
  * Rank, not score, is fused — so the incomparable FTS score (0,1) and
  * cosine distance scales never meet, and no normalization constant has
  * to be tuned.
  *
  * Scale shape: each side is already a TakeOrderedAndProject producing
  * ≤ kEach rows; ranking and fusing two such lists is driver-scale work
  * regardless of corpus size. The expensive parts (the two retrievals)
  * keep their own optimal plans (scan-local FTS, bucket-pruned ANN
  * probe); fusion adds nothing that grows with data.
  */
object Hybrid {

  /** RRF of FTS(query text, lang) and KNN(query vector id).
    * Output: (id, rrf, fts_rank, knn_rank) — ranks nullable when a doc
    * appears in only one list. The retrievals run concurrently (KNN
    * here, FTS on a second driver thread, [[DriverThreads.all]]); the
    * fusion is driver-side: `rrf` is the Catalyst expression a
    * Spark-side fusion ran, folded over a LocalRelation, sorted in
    * Spark's (rrf desc, id asc) order. Collecting the result fires no
    * job. */
  def rrfSearch(
      spark: SparkSession, dir: String, query: String, lang: String,
      qid: Long, kEach: Int, kRrf: Int, k: Int): DataFrame = {
    // 1-based ranks of a collected (id, key) list in (key, id) order
    def ranks(rows: Array[Row], key: Row => Double): Map[Long, Long] =
      rows.sortBy(r => (key(r), r.getLong(0))).zipWithIndex
        .map { case (r, i) => r.getLong(0) -> (i + 1L) }.toMap
    // searchAuto rides the persisted index probe when the corpus is
    // past the routing threshold (bit-identical to the scan route,
    // FtsRouteSpec) — the hybrid's FTS side is then corpus-size-
    // independent instead of re-tokenizing documents per query (r18)
    val Seq(knn, fts) = DriverThreads.all(
      () => ranks(Similarity.knnCosine(spark, dir, qid, kEach, 2.0)
        .select(col("vec_id"), col("dist")).collect(), _.getDouble(1)),
      () => ranks(Fts.searchAuto(spark, dir, query, lang, kEach)
        .select(col("doc_id"), col("score")).collect(), -_.getDouble(1)))
    fuseOnDriver(spark, "fts_rank" -> fts, "knn_rank" -> knn, LongType,
      round(
        coalesce(lit(1.0) / (lit(kRrf) + col("fts_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(kRrf) + col("knn_rank")), lit(0.0)),
        6).as("rrf"), k)
  }

  /** The fusion both hybrids share, on the driver: the two retrievals'
    * per-id values full-outer-joined into a LocalRelation (doc_id, fts
    * value, vec_id, knn value) of at most 2·kEach rows, `score` — the
    * Catalyst expression a Spark-side fusion ran — evaluated over it,
    * sorted in Spark's (score desc, id asc) order and cut to k. Output
    * (id, score, fts value, knn value) as a LocalRelation, so
    * collecting it fires no job. */
  private def fuseOnDriver(spark: SparkSession,
      fts: (String, Map[Long, Any]), knn: (String, Map[Long, Any]),
      valueType: DataType, score: Column, k: Int): DataFrame = {
    val ids = (fts._2.keys ++ knn._2.keys).toSeq.distinct
    def side(m: Map[Long, Any], id: Long): Seq[Any] =
      m.get(id).fold(Seq[Any](null, null))(v => Seq(id, v))
    val joined = spark.createDataFrame(
      ids.map(id => Row.fromSeq(side(fts._2, id) ++ side(knn._2, id))).asJava,
      StructType(Seq(StructField("doc_id", LongType),
        StructField(fts._1, valueType), StructField("vec_id", LongType),
        StructField(knn._1, valueType))))
    val fused = joined.select(
      coalesce(col("doc_id"), col("vec_id")).as("id"), score,
      col(fts._1), col(knn._1))
    val top = fused.collect().sortWith { (a, b) =>
      val c = SQLOrderingUtil.compareDoubles(b.getDouble(1), a.getDouble(1))
      c < 0 || (c == 0 && a.getLong(0) < b.getLong(0))
    }.take(k)
    spark.createDataFrame(top.toSeq.asJava, fused.schema)
  }

  /** DuckDB oracle mirroring `rrfSearch` (both ranked lists rebuilt with
    * the shared analyzer/cosine formulas, fused identically). */
  def rrfSearchOracleSql(query: String, lang: String, qid: Long,
      kEach: Int, kRrf: Int, k: Int): String = {
    val terms = TextAnalyzer.analyze(query).distinct
    val termList = terms.map(t => s"'$t'").mkString("(", ", ", ")")
    s"""WITH toks AS (
       |  SELECT doc_id, ${TextAnalyzer.sqlTokenize("text")} AS term
       |  FROM documents WHERE lang = '$lang'
       |), idx AS (
       |  SELECT doc_id, term, count(*) AS tf FROM toks
       |  WHERE ${TextAnalyzer.sqlTermFilter("term")}
       |  GROUP BY doc_id, term
       |), m AS (
       |  SELECT doc_id, count(*) AS nmatch, sum(ln(1 + tf)) AS s
       |  FROM idx WHERE term IN $termList GROUP BY doc_id
       |), fts_top AS (
       |  SELECT doc_id, round(s / (1 + s), 6) AS score
       |  FROM m WHERE nmatch = ${terms.length}
       |  ORDER BY score DESC, doc_id ASC LIMIT $kEach
       |), fts_r AS (
       |  SELECT doc_id,
       |    row_number() OVER (ORDER BY score DESC, doc_id ASC) AS fts_rank
       |  FROM fts_top
       |), q AS (
       |  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
       |  WHERE vec_id = $qid
       |), d AS (
       |  SELECT vec_id,
       |    round(1.0 - list_dot_product(CAST(embedding AS DOUBLE[]), qv)
       |      / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
       |                               CAST(embedding AS DOUBLE[])))
       |         * sqrt(list_dot_product(qv, qv))), 6) AS dist
       |  FROM embeddings, q WHERE vec_id <> $qid
       |), knn_top AS (
       |  SELECT vec_id, dist FROM d
       |  ORDER BY dist ASC, vec_id ASC LIMIT $kEach
       |), knn_r AS (
       |  SELECT vec_id,
       |    row_number() OVER (ORDER BY dist ASC, vec_id ASC) AS knn_rank
       |  FROM knn_top
       |)
       |SELECT COALESCE(f.doc_id, v.vec_id) AS id,
       |  round(COALESCE(CAST(1 AS DOUBLE) / ($kRrf + f.fts_rank), 0)
       |      + COALESCE(CAST(1 AS DOUBLE) / ($kRrf + v.knn_rank), 0),
       |    6) AS rrf,
       |  f.fts_rank, v.knn_rank
       |FROM fts_r f FULL OUTER JOIN knn_r v ON f.doc_id = v.vec_id
       |ORDER BY rrf DESC, id ASC LIMIT $k""".stripMargin
  }

  /** Weighted linear fusion — the other standard hybrid besides RRF
    * (the convex-combination recipe pgvector/Elastic hybrid guides
    * reach for when score CALIBRATION matters, where RRF only uses
    * ranks): min-max normalize each retriever's score within its own
    * top-kEach list (FTS: higher is better; KNN: closer is better),
    * fuse as α·fts + (1−α)·knn, absent-from-a-list contributes 0.
    * Same bounded-collect shape as [[rrfSearch]] — the lists are
    * driver-scale by construction, the plan keeps zero
    * single-partition operators. All normalized scores round(…, 6)
    * before fusing, so the oracle replays bit-for-bit. */
  def linearSearch(
      spark: SparkSession, dir: String, query: String, lang: String,
      qid: Long, kEach: Int, alpha: Double, k: Int): DataFrame = {
    // min-max normalize a collected (id, value) list so 1.0 is the best
    // entry. An AND-query matching zero documents yields an empty list,
    // which contributes nothing, like the oracle SQL's empty CTE
    def normed(rows: Array[Row], better: Double => Double): Map[Long, Any] =
      if (rows.isEmpty) Map.empty
      else {
        val v = rows.map(r => r.getLong(0) -> better(r.getDouble(1)))
        val (lo, hi) = (v.map(_._2).min, v.map(_._2).max)
        v.map { case (id, x) =>
          id -> (if (hi == lo) 1.0
            else BigDecimal((x - lo) / (hi - lo))
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }.toMap
      }
    // the index-probe FTS route, bit-identical to the scan route (see
    // rrfSearch); both retrievals run concurrently
    val Seq(knn, fts) = DriverThreads.all(
      () => normed(Similarity.knnCosine(spark, dir, qid, kEach, 2.0)
        .select(col("vec_id"), col("dist")).collect(), -_),
      () => normed(Fts.searchAuto(spark, dir, query, lang, kEach)
        .select(col("doc_id"), col("score")).collect(), identity))
    fuseOnDriver(spark, "fts_n" -> fts, "knn_n" -> knn, DoubleType,
      round(lit(alpha) * coalesce(col("fts_n"), lit(0.0)) +
        lit(1.0 - alpha) * coalesce(col("knn_n"), lit(0.0)), 6)
        .as("fused"), k)
  }

  def linearSearchOracleSql(query: String, lang: String, qid: Long,
      kEach: Int, alpha: Double, k: Int): String = {
    val terms = TextAnalyzer.analyze(query).distinct
    val termList = terms.map(t => s"'$t'").mkString("(", ", ", ")")
    s"""WITH toks AS (
       |  SELECT doc_id, ${TextAnalyzer.sqlTokenize("text")} AS term
       |  FROM documents WHERE lang = '$lang'
       |), idx AS (
       |  SELECT doc_id, term, count(*) AS tf FROM toks
       |  WHERE ${TextAnalyzer.sqlTermFilter("term")}
       |  GROUP BY doc_id, term
       |), m AS (
       |  SELECT doc_id, count(*) AS nmatch, sum(ln(1 + tf)) AS s
       |  FROM idx WHERE term IN $termList GROUP BY doc_id
       |), fts_top AS (
       |  SELECT doc_id, round(s / (1 + s), 6) AS score
       |  FROM m WHERE nmatch = ${terms.length}
       |  ORDER BY score DESC, doc_id ASC LIMIT $kEach
       |), fb AS (SELECT min(score) AS lo, max(score) AS hi FROM fts_top),
       |fts_n AS (
       |  SELECT doc_id, CASE WHEN hi = lo THEN 1.0
       |    ELSE round((score - lo) / (hi - lo), 6) END AS fts_n
       |  FROM fts_top, fb
       |), q AS (
       |  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
       |  WHERE vec_id = $qid
       |), d AS (
       |  SELECT vec_id,
       |    round(1.0 - list_dot_product(CAST(embedding AS DOUBLE[]), qv)
       |      / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
       |                               CAST(embedding AS DOUBLE[])))
       |         * sqrt(list_dot_product(qv, qv))), 6) AS dist
       |  FROM embeddings, q WHERE vec_id <> $qid
       |), knn_top AS (
       |  SELECT vec_id, dist FROM d
       |  ORDER BY dist ASC, vec_id ASC LIMIT $kEach
       |), kb AS (SELECT min(dist) AS lo, max(dist) AS hi FROM knn_top),
       |knn_n AS (
       |  SELECT vec_id, CASE WHEN hi = lo THEN 1.0
       |    ELSE round((hi - dist) / (hi - lo), 6) END AS knn_n
       |  FROM knn_top, kb
       |)
       |SELECT COALESCE(f.doc_id, v.vec_id) AS id,
       |  round($alpha * COALESCE(f.fts_n, 0)
       |      + ${1.0 - alpha} * COALESCE(v.knn_n, 0), 6) AS fused,
       |  f.fts_n, v.knn_n
       |FROM fts_n f FULL OUTER JOIN knn_n v ON f.doc_id = v.vec_id
       |ORDER BY fused DESC, id ASC LIMIT $k""".stripMargin
  }
}
