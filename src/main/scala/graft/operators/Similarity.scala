package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftPlanBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Divide, Expression, Literal, Multiply, Round, Subtract}
import org.apache.spark.sql.catalyst.util.{GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.Tables
import graft.functions.{RequestParam, VecDot}

/** Vector similarity search (SURVEY.md §2.3 — the reference's legacy
  * pgvector path, /root/reference/src/core/vector_store.py:263-319).
  *
  * - V1 cosine distance: `embedding <=> q` re-expressed with the
  *   higher-order functions `zip_with` + `aggregate` — pure Catalyst
  *   expressions, codegen'd, no UDF. Arithmetic is forced to DOUBLE so
  *   the DuckDB oracle (which computes on DOUBLE[] casts) is
  *   bit-compatible; both engines sum left-to-right over the array.
  * - V3 threshold + V4 top-k: filter + TakeOrderedAndProject.
  * - ANN (the ivfflat-index analog, scripts/init-db.sql:32): a
  *   deterministic IVF — coarse centroids TRAINED by the same
  *   bit-reproducible integer k-means the SemDeDup clustering uses
  *   (Clustering.trainedCentroidsMicro: md5-spread seeds, integer
  *   Lloyd, dequantized to doubles), the pgvector-at-build-time
  *   k-means lists analog; assignment = argmin cosine distance,
  *   probe = the query's cell only, exact re-rank inside the cell. At
  *   100 TB the assignment is a broadcast join (centroids are tiny)
  *   writing a bucketed table; a probe then touches 1/nCentroids of
  *   the data.
  */
object Similarity {

  /** dot(a, b) in double precision, left-to-right summation. Backed by
    * the native codegen'd [[graft.functions.VecDot]] expression —
    * bit-identical to the former aggregate/zip_with fold (same
    * widening, same order) but a single generated loop instead of one
    * interpreted lambda per element. */
  def dot(a: Column, b: Column): Column =
    call_function("vec_dot", a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** cosineDistance = 1 - a·b / (|a||b|). The reference hardwires cosine
    * regardless of the collection's distance_function column
    * (/root/reference/src/core/vector_store.py:286). */
  def cosineDistance(a: Column, b: Column): Column =
    lit(1.0) - dot(a, b) / (norm(a) * norm(b))

  /** 1 - dot/(na·nb) with the norms precomputed — vector norms are
    * functionally dependent on the vector, so computing them once
    * scan-local and carrying them in-row saves two of the three
    * zip_with/aggregate array passes per compared pair. */
  def cosineDistancePre(a: Column, b: Column, na: Column,
      nb: Column): Column =
    lit(1.0) - dot(a, b) / (na * nb)

  /** V1+V3+V4: exact KNN of the query vector (row vec_id = qid) over all
    * other vectors, optional distance threshold, top-k. The query
    * vector comes from [[queryVectorOpt]] (driver-held within the
    * broadcast bound, else a one-row lookup job) and is scored like
    * [[rerankCells]] does; a missing qid returns no rows. */
  def knnCosine(
      spark: SparkSession, dir: String, qid: Long, k: Int,
      threshold: Double): DataFrame = {
    val qv = queryVectorOpt(spark, dir, qid)
    Tables.embeddings(spark, dir)
      .filter(if (qv.isDefined) col("vec_id") =!= param(qid) else lit(false))
      .select(col("vec_id"), col("label"),
        queryDist(col("embedding"), norm(col("embedding")),
          qv.getOrElse(Nil)).as("dist"))
      .filter(col("dist") <= lit(threshold))
      .orderBy(col("dist").asc, col("vec_id").asc)
      .limit(k)
  }

  def knnCosineOracleSql(qid: Long, k: Int, threshold: Double): String =
    s"""WITH q AS (
       |  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
       |  WHERE vec_id = $qid
       |), d AS (
       |  SELECT vec_id, label,
       |    round(1.0 - list_dot_product(CAST(embedding AS DOUBLE[]), qv)
       |      / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
       |                               CAST(embedding AS DOUBLE[])))
       |         * sqrt(list_dot_product(qv, qv))), 6) AS dist
       |  FROM embeddings, q WHERE vec_id <> $qid
       |)
       |SELECT vec_id, label, dist FROM d WHERE dist <= $threshold
       |ORDER BY dist ASC, vec_id ASC LIMIT $k""".stripMargin

  // --- per-collection distance_function dispatch (models.py:20) --------

  /** The vector-collections dim: the reference's `collections` schema
    * carries `distance_function` (default "cosine",
    * /root/reference/src/db/models.py:20) and `embedding_dimension`
    * (default 384, models.py:19 — CONFLICTING with the 1024 default in
    * scripts/init-db.sql:24; see [[validateEmbeddingDim]]), but its
    * search path ignores both and always computes cosine
    * (vector_store.py:286). This engine honors the column: the
    * embeddings fixture's `label` (10 values) plays the vector-
    * collection role, `distance_function` is assigned by the
    * deterministic label%3 → (cosine, l2, ip) policy (a synthetic
    * stand-in for the user-chosen column), and `embedding_dimension`
    * is the fixture's actual 64. A tiny dim — broadcast-joined
    * everywhere, exactly like the reference's collections table. */
  def vectorCollections(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .groupBy(col("label").as("collection_id"))
      .agg(count(lit(1)).as("n_vectors"))
      .withColumn("distance_function",
        element_at(typedLit(Seq("cosine", "l2", "ip")),
          pmod(col("collection_id"), lit(3)).cast("int") + 1))
      .withColumn("embedding_dimension", lit(64))

  val vectorCollectionsOracleSql: String =
    """SELECT CAST(label AS BIGINT) AS collection_id,
      |  count(*) AS n_vectors,
      |  (['cosine','l2','ip'])[(label % 3) + 1] AS distance_function,
      |  64 AS embedding_dimension
      |FROM embeddings GROUP BY label ORDER BY collection_id ASC""".stripMargin

  /** L2 KNN within one vector collection. The distance is computed as
    * sqrt(a·a + q·q − 2·a·q) — three [[dot]] kernels plus identical
    * scalar arithmetic on both engines (the DuckDB twin uses the SAME
    * three-dot form, not `list_distance`, so the doubles are
    * bit-equal) — and a·a is a scan-local per-row pass while q·q is
    * computed once on the broadcast side, so the per-pair cost is ONE
    * array traversal, the same as cosine's. */
  def knnL2(spark: SparkSession, dir: String, label: Int, qid: Long,
      k: Int): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .filter(col("label") === lit(label))
    val q = emb.filter(col("vec_id") === lit(qid))
      .select(col("embedding").as("qv"),
        dot(col("embedding"), col("embedding")).as("qq"))
    emb.filter(col("vec_id") =!= lit(qid))
      .select(col("vec_id"),
        dot(col("embedding"), col("embedding")).as("aa"),
        col("embedding"))
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(sqrt(col("aa") + col("qq") -
          lit(2.0) * dot(col("embedding"), col("qv"))), 6).as("dist"))
      .orderBy(col("dist").asc, col("vec_id").asc)
      .limit(k)
  }

  /** Oracle twin of [[knnL2]] with qid = the label's min vec_id (the
    * sf-agnostic fixture anchor — vec_id/label pairings differ per
    * scale factor, but every label's min exists at every sf). */
  def knnL2OracleSql(label: Int, k: Int): String =
    s"""WITH q0 AS (
       |  SELECT min(vec_id) AS qid FROM embeddings WHERE label = $label
       |), q AS (
       |  SELECT CAST(e.embedding AS DOUBLE[]) AS qv,
       |    list_dot_product(CAST(e.embedding AS DOUBLE[]),
       |                     CAST(e.embedding AS DOUBLE[])) AS qq,
       |    q0.qid
       |  FROM embeddings e, q0 WHERE e.vec_id = q0.qid
       |)
       |SELECT e.vec_id,
       |  round(sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
       |                              CAST(e.embedding AS DOUBLE[]))
       |    + q.qq
       |    - 2.0 * list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)),
       |    6) AS dist
       |FROM embeddings e, q WHERE e.vec_id <> q.qid AND e.label = $label
       |ORDER BY dist ASC, vec_id ASC LIMIT $k""".stripMargin

  /** Inner-product KNN within one vector collection, pgvector `<#>`
    * semantics: the operator returns the NEGATED inner product so that
    * ascending order = most similar first, and a plain ORDER BY ASC
    * top-k serves MIPS. One dot per pair, no norms at all. */
  def knnIp(spark: SparkSession, dir: String, label: Int, qid: Long,
      k: Int): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .filter(col("label") === lit(label))
    val q = emb.filter(col("vec_id") === lit(qid))
      .select(col("embedding").as("qv"))
    emb.filter(col("vec_id") =!= lit(qid))
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(-dot(col("embedding"), col("qv")), 6).as("neg_ip"))
      .orderBy(col("neg_ip").asc, col("vec_id").asc)
      .limit(k)
  }

  def knnIpOracleSql(label: Int, k: Int): String =
    s"""WITH q0 AS (
       |  SELECT min(vec_id) AS qid FROM embeddings WHERE label = $label
       |), q AS (
       |  SELECT CAST(e.embedding AS DOUBLE[]) AS qv, q0.qid
       |  FROM embeddings e, q0 WHERE e.vec_id = q0.qid
       |)
       |SELECT e.vec_id,
       |  round(-list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv), 6)
       |    AS neg_ip
       |FROM embeddings e, q WHERE e.vec_id <> q.qid AND e.label = $label
       |ORDER BY neg_ip ASC, vec_id ASC LIMIT $k""".stripMargin

  /** Oracle twin of [[knnForCollection]]'s cosine branch (same
    * min-vec_id anchor, same within-label scope). */
  def knnCosineLabelOracleSql(label: Int, k: Int): String =
    s"""WITH q0 AS (
       |  SELECT min(vec_id) AS qid FROM embeddings WHERE label = $label
       |), q AS (
       |  SELECT CAST(e.embedding AS DOUBLE[]) AS qv,
       |    sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
       |                          CAST(e.embedding AS DOUBLE[]))) AS qn,
       |    q0.qid
       |  FROM embeddings e, q0 WHERE e.vec_id = q0.qid
       |)
       |SELECT e.vec_id,
       |  round(1.0 - list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)
       |    / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
       |                             CAST(e.embedding AS DOUBLE[]))) * q.qn),
       |    6) AS dist
       |FROM embeddings e, q WHERE e.vec_id <> q.qid AND e.label = $label
       |ORDER BY dist ASC, vec_id ASC LIMIT $k""".stripMargin

  /** The label's min vec_id — bounded control-plane lookup (one agg
    * over the label's pushed-filter scan) anchoring the dispatch
    * queries at every sf. */
  def minVecId(spark: SparkSession, dir: String, label: Int): Long =
    Tables.embeddings(spark, dir).filter(col("label") === lit(label))
      .agg(min(col("vec_id"))).first().getLong(0)

  /** Collection-routed KNN: read the collection's `distance_function`
    * from [[vectorCollections]] (a 1-row control-plane lookup on a
    * 10-row dim — bounded by the number of collections, the same read
    * the reference does per search against its collections table) and
    * dispatch to the matching kernel. The reference declares this
    * dispatch in schema and never implements it; here the column is
    * load-bearing. Cosine keeps [[knnCosine]]'s within-collection
    * scoping applied via label filter. */
  def knnForCollection(spark: SparkSession, dir: String, label: Int,
      qid: Long, k: Int): DataFrame = {
    val fn = vectorCollections(spark, dir)
      .filter(col("collection_id") === lit(label))
      .select("distance_function")
      .first().getString(0)
    fn match {
      case "l2" => knnL2(spark, dir, label, qid, k)
      case "ip" => knnIp(spark, dir, label, qid, k)
      case _ =>
        val emb = Tables.embeddings(spark, dir)
          .filter(col("label") === lit(label))
        val q = emb.filter(col("vec_id") === lit(qid))
          .select(col("embedding").as("qv"),
            norm(col("embedding")).as("qn"))
        emb.filter(col("vec_id") =!= lit(qid))
          .select(col("vec_id"), col("embedding"),
            norm(col("embedding")).as("nrm"))
          .crossJoin(broadcast(q))
          .select(col("vec_id"),
            round(cosineDistancePre(col("embedding"), col("qv"),
              col("nrm"), col("qn")), 6).as("dist"))
          .orderBy(col("dist").asc, col("vec_id").asc)
          .limit(k)
    }
  }

  /** Lloyd rounds for the coarse quantizer — more than the SemDeDup
    * default (3): the coarse layer is probe infrastructure, trained
    * once, and recall at fixed nProbe is what it buys. */
  val CoarseIterations = 5

  /** The TRAINED coarse centroids as a (centroid_id, cv, cn) frame:
    * SPHERICAL k-means in integer micro units (md5-spread seeds,
    * [[CoarseIterations]] integer Lloyd rounds with per-round unit
    * renormalization — [[Clustering.trainedCentroidsMicro]], the ONE
    * k-means this repo trains, in its cosine-coherent mode),
    * dequantized to double vectors. The round-10 verdict's carry-over:
    * first-k-rows centroids cost recall at fixed nProbe on skewed
    * corpora; pgvector's ivfflat likewise k-means its lists at index
    * build time. Dequantize/requantize is exact (micro magnitudes
    * ≪ 2⁵², so cq/1e6·1e6 rounds back to cq), which keeps the IVFPQ
    * residual layer bit-reproducible against its oracle. */
  private[operators] def trainedCents(spark: SparkSession, dir: String,
      nCentroids: Int): DataFrame = {
    val cm = Clustering.trainedCentroidsMicro(spark, dir, nCentroids,
      CoarseIterations, spherical = true)
    val rows = cm.toSeq.zipWithIndex.map { case (cs, c) =>
      (c.toLong, cs.toSeq.map(_.toDouble / 1e6))
    }
    spark.createDataFrame(rows).toDF("centroid_id", "cv")
      .select(col("centroid_id"), col("cv"), norm(col("cv")).as("cn"))
  }

  /** Deterministic IVF assignment: nearest of the trained coarse
    * centroids ([[trainedCents]]), tiebreak on centroid id. Returns
    * (vec_id, label, embedding, nrm, centroid_id, dist-to-centroid) —
    * the vector and its precomputed norm ride along so the persisted
    * index (ensureIvfIndex) can serve probes without joining back to
    * the source table. */
  def ivfAssign(spark: SparkSession, dir: String, emb: DataFrame,
      nCentroids: Int): DataFrame =
    ivfAssignTo(emb, trainedCents(spark, dir, nCentroids))

  /** Assignment against an explicit centroid frame — the ONE definition
    * of the assignment semantics (rounding, tiebreak, column order):
    * both the initial build and the incremental append path go through
    * here, so they cannot drift. */
  def ivfAssignTo(rows: DataFrame, cents: DataFrame): DataFrame = {
    val w = Window.partitionBy("vec_id")
      .orderBy(col("cdist").asc, col("centroid_id").asc)
    rows
      .select(col("vec_id"), col("label"), col("embedding"),
        norm(col("embedding")).as("nrm"))
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("label"), col("embedding"), col("nrm"),
        col("centroid_id"),
        round(cosineDistancePre(col("embedding"), col("cv"),
          col("nrm"), col("cn")), 6).as("cdist"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** Corpus-relative cell count — the same policy as the SemDeDup
    * k-means (k = max(8, n / target)): cells GROW with the corpus so a
    * probe touches nProbe·target vectors regardless of n, and the
    * per-cell exact re-rank stays bounded by target. pgvector's own
    * guidance is the square-root flavor of the same idea (lists ≈
    * rows/1000 up to 1M, sqrt(rows) beyond); the linear policy keeps
    * probe cost CONSTANT as the corpus grows, pushing all growth into
    * the (embarrassingly parallel, build-time) assignment. The count
    * feeding it is a parquet-metadata job, not a scan. */
  def autoNCentroids(n: Long, targetCellSize: Long = 1000L): Int =
    math.max(8L, n / targetCellSize).toInt

  /** Per-generation memo of the embeddings row count — the policy
    * input every corpus-relative auto entry (graph-ANN trio,
    * ivf_ann_auto, semdedup) derives its cell count from. A pure
    * function of the corpus generation; the count is parquet-metadata-
    * only but still one scheduled driver job PER INVOCATION (r19: one
    * of the sequential floor jobs on every auto-routed ANN query). */
  private val embCountMemo = new DriverMemo[String, Long](16)

  def embeddingsCount(spark: SparkSession, dir: String): Long = {
    val gen = ScaleOps.contentHash(dir, "embeddings")
    embCountMemo.getOrCompute(gen, gen)(
      Tables.embeddings(spark, dir).count())
  }

  /** [[ensureIvfIndex]] with the corpus-relative [[autoNCentroids]]
    * policy — the form a deployment calls (the oracled fixture queries
    * pass explicit counts so their DuckDB twins can replay them).
    * ROUTED (r12 verdict #2): while cells·dim fits the flat trainer's
    * driver bound the flat build runs (and its oracle replays it); past
    * it — the auto policy grows cells linearly with the corpus, so at
    * ~10⁹ vectors the driver matrix is gone — the build goes through
    * [[ensureIvfIndexHier]]'s centroids-over-centroids pass, whose
    * training never materializes the centroid matrix anywhere.
    *
    * ORACLE-PARITY NOTE (r13 ADVICE): hierarchical output is NOT
    * bit-equal to the flat fit at the same cell count, so a DuckDB
    * oracle that replays the flat chain (fitSqlForExpr) must never sit
    * behind this router — past the boundary it would diverge by
    * construction. No registered oracle consumes this function
    * (ivf_ann_auto probes the always-flat [[ensureIvfIndex]];
    * semdedupReport now fails loudly at the boundary); an oracled
    * routed query must mirror the routing in its SQL the way
    * kmeansHierClustersOracleSql does. */
  def ensureIvfIndexAuto(spark: SparkSession, dir: String): String = {
    val cells = autoNCentroids(embeddingsCount(spark, dir))
    if (cells.toLong * 64 <= Clustering.MaxDriverCentroidCells)
      ensureIvfIndex(spark, dir, cells)
    else {
      val k1 = math.ceil(math.sqrt(cells.toDouble)).toInt
      ensureIvfIndexHier(spark, dir, k1,
        math.ceil(cells.toDouble / k1).toInt)
    }
  }

  private def ivfHierName(dir: String, k1: Int, k2: Int): String =
    s"graft_ivfh_${k1}x${k2}_${ScaleOps.contentHash(dir, "embeddings")}"

  /** Hierarchical IVF build — the past-the-driver-bound route: the
    * coarse/sub centroid structure comes from
    * [[Clustering.fitHierarchical]] (level 2 fully distributed, no
    * k·dim driver matrix ever exists), the index rows REUSE the
    * trainer's own final assignment (no re-assignment pass — at auto
    * policy k ∝ n a flat re-assign would be the n·k quadratic this
    * route exists to avoid), and THREE tables persist: the bucketed
    * rows, the full cell-centroid frame (cv/cn per final cell, built
    * relationally from the micro centroids), and a k1-row COARSE
    * router (per-coarse mean of its sub-centroids) for the two-level
    * probe. The training metric is the integer L2 of fitHierarchical —
    * at this regime the coarse layer is a router, and the probe's
    * exact cosine re-rank inside the probed cells is what recall rides
    * on (spec-gated at fixture scale: a full-width probe reproduces
    * exact KNN bit-for-bit). */
  def ensureIvfIndexHier(spark: SparkSession, dir: String, k1: Int,
      k2: Int): String = {
    val name = ivfHierName(dir, k1, k2)
    ScaleOps.ensure(spark, ScaleOps.Family("ivf_hier", 1),
        ScaleOps.AttachSpec(s"${name}_cents", "centroid_id", 1),
        ScaleOps.AttachSpec(s"${name}_coarse", "centroid_id", 1),
        ScaleOps.AttachSpec(name, "centroid_id", math.min(k1 * k2, 64))) {
      // the fit itself is its own build-once artifact (shared with the
      // kmeans_hier gate) — this build is a probe over its tables
      val fitTbl = Clustering.ensureHierFit(spark, dir, k1, k2)
      val assign = spark.table(s"${fitTbl}_assign")
      val centMicro = spark.table(s"${fitTbl}_cent")
      val cents = centMicro.groupBy(col("cluster"))
        .agg(transform(
          array_sort(collect_list(struct(col("dim"), col("c")))),
          x => x.getField("c").cast("double") / 1e6).as("cv"))
        .select(col("cluster").as("centroid_id"), col("cv"))
        .withColumn("cn", norm(col("cv")))
      val coarse = centMicro
        .groupBy((col("cluster") / k2).cast("long").as("coarse"),
          col("dim"))
        .agg(avg(col("c")).as("cm"))
        .groupBy(col("coarse"))
        .agg(transform(
          array_sort(collect_list(struct(col("dim"), col("cm")))),
          x => x.getField("cm").cast("double") / 1e6).as("cv"))
        .withColumn("cn", norm(col("cv")))
        .select(col("coarse").as("centroid_id"), col("cv"), col("cn"))
      val rows = Tables.embeddings(spark, dir)
        .join(assign, Seq("vec_id"))
        .join(cents, col("cluster") === cents("centroid_id"))
        .select(col("vec_id"), col("label"), col("embedding"),
          norm(col("embedding")).as("nrm"),
          col("cluster").as("centroid_id"),
          round(cosineDistancePre(col("embedding"), col("cv"),
            norm(col("embedding")), col("cn")), 6).as("cdist"))
      Seq(cents, coarse, rows)
    }
  }

  /** Two-level ANN probe over the hierarchical index: (1) the query
    * scores the k1-row COARSE router and keeps nProbe1 coarse groups —
    * a √k-row scan with a bounded collect; (2) within those groups'
    * cell-id RANGES (final cell ids are coarse·k2+sub, so the group is
    * a pushable BETWEEN), the nProbe nearest cells — ≤ nProbe1·k2 rows
    * scanned, bounded collect; (3) the standard bucket-pruned exact
    * cosine re-rank inside the probed cells. Every driver collect is
    * parameter-sized (k1 router rows, then ≤ nProbe1·k2 cells) — the
    * flat probe's k-row centroid scan never happens. */
  def ivfTopKHier(spark: SparkSession, dir: String, qid: Long, k: Int,
      k1: Int, k2: Int, nProbe1: Int, nProbe: Int): DataFrame = {
    val idx = ensureIvfIndexHier(spark, dir, k1, k2)
    val qv = queryVector(spark, dir, qid)
    // (1) coarse routing: k1 rows, nProbe1 survivors
    val coarseIds = nearestCells(spark.table(s"${idx}_coarse").collect(), qv,
      nProbe1)
    // (2) cells within the routed groups: pushable id ranges
    val inGroups = coarseIds.map(c =>
      col("centroid_id").between(c * k2, c * k2 + k2 - 1))
      .reduce(_ || _)
    val cells = nearestCells(spark.table(s"${idx}_cents").filter(inGroups)
      .collect(), qv, nProbe)
    // (3) exact re-rank inside the probed cells' bucket files
    rerankCells(spark, idx, cells, qid, qv, k)()
  }

  /** DuckDB twin of [[ivfTopKHier]] — the hierarchical regime's probe
    * under the full hash gate (r14 verdict theme: the past-the-driver-
    * bound route must be oracled, not only spec-gated). Replays the
    * two-level fit via [[Clustering.hierFitSql]] (the SAME chain the
    * kmeans_hier gate rides), rebuilds the cell/coarse centroid frames
    * exactly as [[ensureIvfIndexHier]] persists them (cells = final
    * micro centroids /1e6; coarse router = per-coarse AVG of its sub-
    * centroids), reuses the trainer's own final assignment for the
    * index rows (no re-assignment — mirroring the build), then the
    * two-level probe: nProbe1 coarse groups, nProbe cells within them,
    * exact cosine re-rank inside the probed cells. */
  def ivfTopKHierOracleSql(qid: Long, k: Int, k1: Int, k2: Int,
      nProbe1: Int, nProbe: Int): String = {
    val I = Clustering.Iterations
    s"""WITH ${Clustering.hierFitSql(k1, k2)}, e AS MATERIALIZED (
       |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings
       |), hcells AS MATERIALIZED (
       |  SELECT coarse * $k2 + sub AS centroid_id,
       |    list(c / 1e6 ORDER BY dim) AS cv
       |  FROM hcent$I GROUP BY coarse, sub
       |), hrouter AS MATERIALIZED (
       |  SELECT coarse AS centroid_id, list(cm / 1e6 ORDER BY dim) AS cv
       |  FROM (
       |    SELECT coarse, dim, avg(c) AS cm
       |    FROM hcent$I GROUP BY coarse, dim
       |  ) GROUP BY coarse
       |), q AS (
       |  SELECT v AS qv FROM e WHERE vec_id = $qid
       |), qcoarse AS (
       |  SELECT centroid_id FROM hrouter, q
       |  ORDER BY round(1.0 - list_dot_product(cv, qv)
       |    / (sqrt(list_dot_product(cv, cv))
       |       * sqrt(list_dot_product(qv, qv))), 6) ASC,
       |    centroid_id ASC
       |  LIMIT $nProbe1
       |), qcells AS (
       |  SELECT c.centroid_id FROM hcells c
       |  JOIN qcoarse g ON c.centroid_id // $k2 = g.centroid_id, q
       |  ORDER BY round(1.0 - list_dot_product(c.cv, qv)
       |    / (sqrt(list_dot_product(c.cv, c.cv))
       |       * sqrt(list_dot_product(qv, qv))), 6) ASC,
       |    c.centroid_id ASC
       |  LIMIT $nProbe
       |), fassign AS (
       |  SELECT vec_id, coarse * $k2 + sub AS centroid_id
       |  FROM hassign$I
       |)
       |SELECT e.vec_id, e.label, f.centroid_id,
       |  round(1.0 - list_dot_product(e.v, q.qv)
       |    / (sqrt(list_dot_product(e.v, e.v))
       |       * sqrt(list_dot_product(q.qv, q.qv))), 6) AS dist
       |FROM fassign f
       |JOIN e ON e.vec_id = f.vec_id
       |JOIN qcells ON f.centroid_id = qcells.centroid_id, q
       |WHERE e.vec_id <> $qid
       |ORDER BY dist ASC, e.vec_id ASC LIMIT $k""".stripMargin
  }

  /** [[ivfTopK]] under the corpus-relative policy — the auto cell
    * count itself rides under the hash gate: the DuckDB twin derives
    * the SAME k = greatest(8, n // target) from the table it scans
    * (the semdedup kpick pattern), then replays the training chain at
    * that k. */
  def ivfTopKAuto(spark: SparkSession, dir: String, qid: Long, k: Int,
      nProbe: Int = 2, targetCellSize: Long = 1000L): DataFrame = {
    val n = embeddingsCount(spark, dir)
    val cells = autoNCentroids(n, targetCellSize)
    // oracled against the flat training chain: fail loudly rather than
    // OOM the flat trainer (or silently diverge via a hier route) past
    // the driver bound — see ensureIvfIndexAuto's oracle-parity note
    require(cells.toLong * 64 <= Clustering.MaxDriverCentroidCells,
      s"ivfTopKAuto cells=$cells crosses the flat-fit oracle boundary; " +
        "use ivfTopKHier past this point")
    ivfTopK(spark, dir, qid, k, cells, nProbe)
  }

  def ivfTopKAutoOracleSql(qid: Long, k: Int, nProbe: Int = 2,
      targetCellSize: Long = 1000L): String =
    s"""WITH kpick AS (
       |  SELECT greatest(8, count(*) // $targetCellSize) AS kk
       |  FROM embeddings
       |), e AS MATERIALIZED (
       |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings
       |), ${centsCtesK("(SELECT kk FROM kpick)")}, asg AS (
       |  SELECT vec_id, label, centroid_id,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY
       |      round(1.0 - list_dot_product(v, cv)
       |        / (sqrt(list_dot_product(v, v))
       |           * sqrt(list_dot_product(cv, cv))), 6) ASC,
       |      centroid_id ASC) AS rn
       |  FROM e, cents
       |), cells AS (
       |  SELECT vec_id, label, centroid_id FROM asg WHERE rn = 1
       |), q AS (
       |  SELECT v AS qv FROM e WHERE vec_id = $qid
       |), qcells AS (
       |  SELECT centroid_id AS q_centroid FROM cents, q
       |  ORDER BY round(1.0 - list_dot_product(cv, qv)
       |    / (sqrt(list_dot_product(cv, cv))
       |       * sqrt(list_dot_product(qv, qv))), 6) ASC,
       |    centroid_id ASC
       |  LIMIT $nProbe
       |)
       |SELECT c.vec_id, c.label, c.centroid_id,
       |  round(1.0 - list_dot_product(e.v, q.qv)
       |    / (sqrt(list_dot_product(e.v, e.v))
       |       * sqrt(list_dot_product(q.qv, q.qv))), 6) AS dist
       |FROM cells c
       |JOIN e ON e.vec_id = c.vec_id
       |JOIN qcells ON c.centroid_id = qcells.q_centroid, q
       |WHERE c.vec_id <> $qid
       |ORDER BY dist ASC, c.vec_id ASC LIMIT $k""".stripMargin

  /** The recall-vs-probe-width TUNING CURVE an ANN deployment monitors
    * (probe more cells → touch more corpus → higher recall): mean
    * recall@k over the query sample at each nProbe, exact integral
    * mean so both engines agree bit-for-bit. Composes the
    * already-oracled [[annRecall]] per probe width against ONE shared
    * persisted index. Monotonicity is spec-gated (SimilaritySpec's
    * nprobe-knob test); this registers the curve itself under the
    * hash gate. */
  def annRecallCurve(spark: SparkSession, dir: String, qids: Seq[Long],
      k: Int, nCentroids: Int, probes: Seq[Int]): DataFrame =
    probes.map { p =>
      annRecall(spark, dir, qids, k, nCentroids, p)
        .agg(count(lit(1)).as("n_queries"),
          expr("sum(recall_micro) div count(1)").as("mean_recall_micro"))
        .select(lit(p).as("n_probe"), col("n_queries"),
          col("mean_recall_micro"))
    }.reduce(_.union(_)).orderBy(col("n_probe").asc)

  def annRecallCurveOracleSql(qids: Seq[Long], k: Int, nCentroids: Int,
      probes: Seq[Int]): String =
    probes.map { p =>
      s"""SELECT $p AS n_probe, count(*) AS n_queries,
         |  CAST(sum(recall_micro) // count(*) AS BIGINT)
         |    AS mean_recall_micro
         |FROM (${annRecallOracleSql(qids, k, nCentroids, p)}) r$p""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY n_probe ASC")

  /** Deterministic catalog name for the persisted IVF index of (dir,
    * nCentroids). */
  def ivfIndexName(dir: String, nCentroids: Int): String =
    s"graft_ivf_${ScaleOps.contentHash(dir, "embeddings")}_c$nCentroids"

  /** Build-once / probe-many: persist the IVF assignment as a table
    * bucketed by centroid_id (vectors + norms in-row), plus a tiny
    * centroids side table. This is the pgvector `CREATE INDEX ...
    * USING ivfflat` analog (/root/reference/scripts/init-db.sql:32):
    * the assignment — the full-corpus shuffle — runs ONCE; every
    * subsequent search is a bucket-pruned probe of nProbe cells, and
    * the near-dup self-join is a shuffle-free co-located SortMergeJoin.
    * At 100 TB this is the difference between a per-query corpus scan
    * and touching nProbe/nCentroids of the data. Idempotent per
    * session; the name is deterministic per (dir, nCentroids). */
  def ensureIvfIndex(spark: SparkSession, dir: String,
      nCentroids: Int): String = {
    val name = ivfIndexName(dir, nCentroids)
    ScaleOps.ensure(spark, ScaleOps.Family("ivf", 1),
        ScaleOps.AttachSpec(s"${name}_cents", "centroid_id", 1),
        ScaleOps.AttachSpec(name, "centroid_id", nCentroids)) {
      // a driver-local frame (nCentroids rows) — no caching needed for
      // the two writes
      val cents = trainedCents(spark, dir, nCentroids)
      Seq(cents, ivfAssignTo(Tables.embeddings(spark, dir), cents))
    }
  }

  /** Incremental index maintenance — the append path a production
    * system runs between rebuilds (pgvector's ivfflat likewise inserts
    * into existing lists without re-clustering): assign ONLY the delta
    * rows against the STORED centroids (broadcast — they never change
    * within an index generation) and insert into the bucketed table.
    * Cost ∝ |delta|, not corpus; the probe path is oblivious to how
    * rows arrived. Centroid drift is a rebuild decision, not an append
    * concern. The insert ([[ScaleOps.appendInto]]) withdraws the
    * generation's attach marker first: its name no longer describes its
    * rows, so a later session rebuilds from the fixture instead of
    * attaching them. */
  def appendToIvfIndex(spark: SparkSession, dir: String, nCentroids: Int,
      delta: DataFrame): Unit = {
    val name = ensureIvfIndex(spark, dir, nCentroids)
    ScaleOps.appendInto(
      ivfAssignTo(delta, spark.table(s"${name}_cents")), name)
  }

  /** Vector-index DELETE path — the tombstone merge-on-read story
    * [[graft.operators.Fts.termStatsAfterDelete]] gives the FTS index,
    * mirrored onto the persisted IVF table: deletes never rewrite the
    * bucketed index (pgvector's ivfflat likewise leaves dead tuples to
    * vacuum); readers anti-join the tombstone set at probe time. This
    * is the per-cell occupancy report after such a delete — live/dead
    * counts per cell straight off the STORED assignment, no
    * re-clustering, no rebuild — the "how much garbage is each list
    * carrying" introspection that schedules a real rebuild.
    *
    * Scale: the tombstone set here is DERIVED as vec_id % mod == 0 —
    * n/mod rows, i.e. corpus-PROPORTIONAL, so it must NOT be forced
    * through a broadcast (at 100 TB a 1/mod-of-corpus broadcast OOMs
    * the driver); the join carries no hint and AQE picks the strategy
    * (broadcast when the runtime size is actually small, shuffle join
    * otherwise). A real delete batch (bounded request payload) could
    * safely hint broadcast; a derived predicate set cannot.
    * The index side stays a bucketed scan + vocabulary-sized aggregate.
    * A SimilaritySpec gate asserts the probe path over survivors is
    * unchanged: tombstoned [[ivfTopK]] == brute-force over the
    * surviving corpus. Output (centroid_id, n_total, n_deleted,
    * n_live). */
  def ivfDeleteStats(spark: SparkSession, dir: String, nCentroids: Int,
      mod: Long): DataFrame = {
    val idx = ensureIvfIndex(spark, dir, nCentroids)
    val tomb = Tables.embeddings(spark, dir)
      .filter(col("vec_id") % mod === 0)
      .select(col("vec_id"), lit(1L).as("dead"))
    spark.table(idx)
      .join(tomb, Seq("vec_id"), "left")
      .groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("dead").isNotNull, 1L).otherwise(0L)).as("n_deleted"),
        sum(when(col("dead").isNull, 1L).otherwise(0L)).as("n_live"))
      .orderBy(col("centroid_id").asc)
  }

  /** Oracle: replay the trained-centroid assignment, mark vec_id %
    * mod = 0 dead, aggregate per cell. */
  def ivfDeleteStatsOracleSql(nCentroids: Int, mod: Long): String =
    s"""WITH e AS MATERIALIZED (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings
       |), ${centsCtes(nCentroids)}, asg AS (
       |  SELECT vec_id, centroid_id,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY
       |      round(1.0 - list_dot_product(v, cv)
       |        / (sqrt(list_dot_product(v, v))
       |           * sqrt(list_dot_product(cv, cv))), 6) ASC,
       |      centroid_id ASC) AS rn
       |  FROM e, cents
       |), cells AS (
       |  SELECT vec_id, centroid_id FROM asg WHERE rn = 1
       |)
       |SELECT centroid_id, count(*) AS n_total,
       |  CAST(sum(CASE WHEN vec_id % $mod = 0 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_deleted,
       |  CAST(sum(CASE WHEN vec_id % $mod = 0 THEN 0 ELSE 1 END)
       |    AS BIGINT) AS n_live
       |FROM cells GROUP BY centroid_id
       |ORDER BY centroid_id ASC""".stripMargin

  /** Oracle for [[ivfTopKDeleted]]: [[ivfTopKOracleSql]]'s chain with
    * the tombstone predicate applied inside the probed cells. */
  def ivfTopKDeletedOracleSql(qid: Long, k: Int, nCentroids: Int,
      mod: Long, nProbe: Int = 2): String =
    s"""WITH e AS (
       |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings
       |), ${centsCtes(nCentroids)}, asg AS (
       |  SELECT vec_id, label, centroid_id,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY
       |      round(1.0 - list_dot_product(v, cv)
       |        / (sqrt(list_dot_product(v, v))
       |           * sqrt(list_dot_product(cv, cv))), 6) ASC,
       |      centroid_id ASC) AS rn
       |  FROM e, cents
       |), cells AS (
       |  SELECT vec_id, label, centroid_id FROM asg WHERE rn = 1
       |), q AS (
       |  SELECT v AS qv FROM e WHERE vec_id = $qid
       |), qcells AS (
       |  SELECT centroid_id AS q_centroid FROM cents, q
       |  ORDER BY round(1.0 - list_dot_product(cv, qv)
       |    / (sqrt(list_dot_product(cv, cv))
       |       * sqrt(list_dot_product(qv, qv))), 6) ASC,
       |    centroid_id ASC
       |  LIMIT $nProbe
       |)
       |SELECT c.vec_id, c.label, c.centroid_id,
       |  round(1.0 - list_dot_product(e.v, q.qv)
       |    / (sqrt(list_dot_product(e.v, e.v))
       |       * sqrt(list_dot_product(q.qv, q.qv))), 6) AS dist
       |FROM cells c
       |JOIN e ON e.vec_id = c.vec_id
       |JOIN qcells ON c.centroid_id = qcells.q_centroid, q
       |WHERE c.vec_id <> $qid AND c.vec_id % $mod <> 0
       |ORDER BY dist ASC, c.vec_id ASC LIMIT $k""".stripMargin

  /** [[ivfTopK]] under a tombstone set — the merge-on-read PROBE path
    * of the delete story: the bucketed index and its centroids are
    * untouched; the tombstone anti-join runs inside the probed
    * (bucket-pruned) cells, so deleted vectors can never surface and
    * the cost stays ∝ probed cells + |tombstones|. The tombstone side
    * is mod-derived (corpus-proportional, see [[ivfDeleteStats]]) so
    * the anti-join is unhinted — AQE broadcasts it only when its
    * runtime size is genuinely small. The
    * SimilaritySpec recall gate asserts this equals the probed-cell
    * top-k over survivors computed independently. */
  def ivfTopKDeleted(spark: SparkSession, dir: String, qid: Long, k: Int,
      nCentroids: Int, mod: Long, nProbe: Int = 2): DataFrame = {
    val idx = ensureIvfIndex(spark, dir, nCentroids)
    val qv = queryVector(spark, dir, qid)
    val tomb = Tables.embeddings(spark, dir)
      .filter(col("vec_id") % mod === 0)
      .select(col("vec_id"))
    rerankCells(spark, idx, probeCells(spark, idx, qv, nProbe), qid, qv,
      k)(_.join(tomb, Seq("vec_id"), "left_anti"))
  }

  /** Index COMPACTION (vacuum): the bucketed index rewritten WITHOUT
    * the tombstoned rows into a new generation, centroids untouched (no
    * re-clustering — pgvector's VACUUM likewise reclaims ivfflat dead
    * tuples without retraining lists). Probes over it drop the
    * per-probe tombstone anti-join of [[ivfTopKDeleted]]. Keyed by
    * (corpus fingerprint, mod). */
  def ensureCompactedIvfIndex(spark: SparkSession, dir: String,
      nCentroids: Int, mod: Long): String =
    ScaleOps.ensureVacuumed(spark, ensureIvfIndex(spark, dir, nCentroids),
      mod)(_.filter(col("vec_id") % mod =!= 0))

  /** Per-cell occupancy AFTER compaction — the introspection that
    * confirms the vacuum reclaimed what [[ivfDeleteStats]] reported as
    * dead: survivors only, straight off the compacted generation's
    * bucketed scan (cells whose every vector was tombstoned vanish
    * from the index entirely). Output (centroid_id, n_live). */
  def ivfCompactStats(spark: SparkSession, dir: String,
      nCentroids: Int, mod: Long): DataFrame =
    spark.table(ensureCompactedIvfIndex(spark, dir, nCentroids, mod))
      .groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n_live"))
      .orderBy(col("centroid_id").asc)

  /** Oracle: the [[ivfDeleteStatsOracleSql]] assignment chain with the
    * tombstones dropped before the per-cell aggregate. */
  def ivfCompactStatsOracleSql(nCentroids: Int, mod: Long): String =
    s"""WITH e AS MATERIALIZED (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings
       |), ${centsCtes(nCentroids)}, asg AS (
       |  SELECT vec_id, centroid_id,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY
       |      round(1.0 - list_dot_product(v, cv)
       |        / (sqrt(list_dot_product(v, v))
       |           * sqrt(list_dot_product(cv, cv))), 6) ASC,
       |      centroid_id ASC) AS rn
       |  FROM e, cents
       |)
       |SELECT centroid_id, count(*) AS n_live
       |FROM asg WHERE rn = 1 AND vec_id % $mod <> 0
       |GROUP BY centroid_id
       |ORDER BY centroid_id ASC""".stripMargin

  /** [[ivfTopK]] over the COMPACTED generation — no tombstone
    * anti-join anywhere in the probe: the vacuum already removed the
    * dead rows, so the plan is exactly the plain probe's
    * bucket-pruned scan + TakeOrderedAndProject. Registered against
    * [[ivfTopKDeletedOracleSql]] VERBATIM: compaction must be
    * invisible to results (merge-on-read ≡ rewrite), and the hash
    * gate holds that equivalence every round. */
  def ivfTopKCompacted(spark: SparkSession, dir: String, qid: Long,
      k: Int, nCentroids: Int, mod: Long,
      nProbe: Int = 2): DataFrame = {
    val base = ensureIvfIndex(spark, dir, nCentroids)
    val vac = ensureCompactedIvfIndex(spark, dir, nCentroids, mod)
    val qv = queryVector(spark, dir, qid)
    // centroids are the BASE generation's — compaction never retrains
    rerankCells(spark, vac, probeCells(spark, base, qv, nProbe), qid, qv, k)()
  }

  /** The `_cents` rows (centroid_id, cv, cn) of IVF index `idx`,
    * memoized per (warehouse, index table name). The name embeds the
    * embeddings content hash, so a rewritten corpus mints a new key;
    * entries obey the flat fit's own driver bound. */
  private val centroidMemo = new DriverMemo[(String, String), Seq[Row]](16)

  /** Live centroid-memo entries (spec hook). */
  def centroidMemoSize: Int = centroidMemo.size

  private[operators] def centroidRows(spark: SparkSession,
      idx: String): Seq[Row] = {
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    centroidMemo.getOrCompute((warehouse, idx), idx) {
      val rows = spark.table(s"${idx}_cents")
        .select(col("centroid_id"), col("cv"), col("cn")).collect().toSeq
      val cells = rows.map(_.getSeq[Double](1).length.toLong).sum
      require(cells <= Clustering.MaxDriverCentroidCells,
        s"${idx}_cents holds $cells centroid cells, past " +
          s"MaxDriverCentroidCells=${Clustering.MaxDriverCentroidCells}")
      rows
    }
  }

  /** Ids of the `n` rows of (centroid_id, cv, cn) nearest to `qv`,
    * ranked on the driver with no Dataset: [[cosDist]] evaluated over
    * each row's cv and cn, then Spark's (qdist asc, centroid_id asc)
    * order, nulls first, by SQLOrderingUtil's double compare; so the ids
    * equal an orderBy/limit job's over the same rows. */
  private[graft] def nearestCells(cents: collection.Seq[Row],
      qv: Seq[Double], n: Int): Seq[Long] = {
    val qdist = cosDist(BoundReference(0, ArrayType(DoubleType), nullable = true),
      BoundReference(1, DoubleType, nullable = true), qv)
    cents.map { r =>
      val cv = r.getAs[collection.Seq[Any]]("cv")
      r.getAs[Long]("centroid_id") -> qdist.eval(InternalRow(
        if (cv == null) null else new GenericArrayData(cv), r.getAs[Any]("cn")))
    }.sortWith { case ((ia, da), (ib, db)) =>
      val c = (da, db) match {
        case (x: Double, y: Double) => SQLOrderingUtil.compareDoubles(x, y)
        case _ => (db == null).compare(da == null)
      }
      c < 0 || (c == 0 && ia < ib)
    }.take(n).map(_._1).toSeq
  }

  /** The query's `nProbe` nearest cells of flat IVF index `idx`, ranked
    * on the memoized centroid rows ([[nearestCells]]): no job, no query. */
  def probeCells(spark: SparkSession, idx: String, qv: Seq[Double],
      nProbe: Int): Seq[Long] =
    nearestCells(centroidRows(spark, idx), qv, nProbe)

  /** The embeddings generation's vectors by vec_id, held on the driver
    * per (dir, content hash) — filled by one read of the fixture files
    * (not the session's memoized relation, whose file listing may
    * predate the hashed content), then no job per request. Used only
    * while the table is within the broadcast bound
    * ([[ScaleOps.withinBroadcastBound]]); `None` above it. The values
    * are the same `array<double>` cast the per-request lookup reads,
    * first row per vec_id as its `take(1)` takes. */
  private val vectorMemo =
    new DriverMemo[(String, String), Map[Long, Seq[Double]]](4)

  /** Live query-vector memo entries (spec hook). */
  def vectorMemoSize: Int = vectorMemo.size

  private def driverVectors(spark: SparkSession,
      dir: String): Option[Map[Long, Seq[Double]]] =
    if (!ScaleOps.withinBroadcastBound(spark,
        ScaleOps.tableBytes(dir, "embeddings"))) None
    else {
      val gen = ScaleOps.contentHash(dir, "embeddings")
      Some(vectorMemo.getOrCompute((dir, gen), gen) {
        val rows = spark.read.parquet(s"$dir/embeddings.parquet")
          .select(col("vec_id"), col("embedding").cast("array<double>"))
          .collect()
        rows.reverseIterator.filterNot(_.isNullAt(1))
          .map(r => r.getLong(0) -> (scala.collection.immutable.ArraySeq
            .unsafeWrapArray(r.getSeq[Double](1).toArray): Seq[Double]))
          .toMap
      })
    }

  /** Query vector `qid`, if the embeddings hold it: from
    * [[driverVectors]] within the bound, else a one-row point lookup.
    * The cast mirrors dot()'s per-element double cast, so downstream
    * arithmetic is bit-identical. */
  private def queryVectorOpt(spark: SparkSession, dir: String,
      qid: Long): Option[Seq[Double]] =
    driverVectors(spark, dir) match {
      case Some(vectors) => vectors.get(qid)
      case None =>
        Tables.embeddings(spark, dir)
          .filter(col("vec_id") === lit(qid))
          .select(col("embedding").cast("array<double>"))
          .take(1).headOption.map(_.getSeq[Double](0))
    }

  /** [[queryVectorOpt]] for the IVF probes, which need the vector to
    * rank cells: a missing qid fails by name. */
  private def queryVector(spark: SparkSession, dir: String,
      qid: Long): Seq[Double] = {
    val qv = queryVectorOpt(spark, dir, qid)
    require(qv.isDefined,
      s"query vector id $qid not found in $dir/embeddings")
    qv.get
  }

  /** `v` bound by reference ([[graft.functions.RequestParam]]). */
  private def param(v: Any): Column = call_function("graft_param", lit(v))

  /** Round-6 cosine distance of vector `v` (norm `n`) to the driver-held
    * `qv`, whose norm is summed left to right exactly as `norm` sums it;
    * both reach generated code by reference. Queried by [[queryDist]],
    * evaluated on the driver by [[nearestCells]]. */
  private def cosDist(v: Expression, n: Expression,
      qv: Seq[Double]): Expression =
    Round(Subtract(Literal(1.0), Divide(
      VecDot(v, Literal(new GenericArrayData(qv),
        ArrayType(DoubleType, containsNull = false))),
      Multiply(n, RequestParam(math.sqrt(qv.foldLeft(0.0)((acc, x) =>
        acc + x * x)), DoubleType)))), Literal(6))

  private def queryDist(vec: Column, nrm: Column, qv: Seq[Double]): Column =
    GraftPlanBridge.column(cosDist(GraftPlanBridge.expression(vec),
      GraftPlanBridge.expression(nrm), qv))

  /** Exact re-rank inside the probed `cells` of IVF index table `idx`:
    * read only their bucket files ([[ScaleOps.bucketProbe]]), apply
    * `restrict`, drop the query itself, round-6 cosine distance, top-k
    * by (dist, vec_id). */
  private def rerankCells(spark: SparkSession, idx: String,
      cells: Seq[Long], qid: Long, qv: Seq[Double], k: Int)(
      restrict: DataFrame => DataFrame = identity): DataFrame =
    restrict(ScaleOps.bucketProbe(spark, idx, cells))
      .filter(col("vec_id") =!= param(qid))
      .select(col("vec_id"), col("label"), col("centroid_id"),
        queryDist(col("embedding"), col("nrm"), qv).as("dist"))
      .orderBy(col("dist").asc, col("vec_id").asc)
      .limit(k)

  /** ANN search: probe the query's `nProbe` nearest IVF cells, exact
    * re-rank inside them — the standard ivfflat recall/latency trade
    * (probing more cells raises recall, touching nProbe/nCentroids of
    * the corpus). Deterministic: tiebreaks on centroid id and vec id.
    *
    * Probe path: the query vector comes from [[queryVector]] (driver-held
    * within the broadcast bound, else a one-row lookup job); the nProbe
    * cell ids are ranked on the driver ([[probeCells]], no job, no
    * query) and only their bucket files are read
    * ([[ScaleOps.bucketProbe]], one task per file). A warm request is
    * the one result job and compiles no code (request values are bound
    * by reference). No assignment recompute, no join back to the source.
    */
  def ivfTopK(
      spark: SparkSession, dir: String, qid: Long, k: Int,
      nCentroids: Int, nProbe: Int = 2): DataFrame = {
    val idx = ensureIvfIndex(spark, dir, nCentroids)
    val qv = queryVector(spark, dir, qid)
    rerankCells(spark, idx, probeCells(spark, idx, qv, nProbe), qid, qv, k)()
  }

  /** FILTERED ANN — the metadata-predicate + vector-search composition
    * every vector deployment ends up needing (the reference's search
    * API carries a `metadata_filter` next to the query vector;
    * pgvector's ivfflat applies the WHERE inside the probed lists):
    * probe the query's nProbe cells, apply the label predicate to the
    * surviving rows, exact re-rank, top-k. PRE-FILTER semantics inside
    * the probed cells' files, in the scan's stage (label rides in-row;
    * bound by reference, so it is not pushed to Parquet and a new label
    * compiles no code);
    * the recall caveat is the standard one: a highly selective filter
    * can starve k inside nProbe cells, and the remedy is probing wider,
    * exactly as in pgvector. Deterministic: same rounding/tiebreaks as
    * [[ivfTopK]]. */
  def ivfTopKFiltered(spark: SparkSession, dir: String, qid: Long,
      label: Int, k: Int, nCentroids: Int, nProbe: Int = 2): DataFrame = {
    val idx = ensureIvfIndex(spark, dir, nCentroids)
    val qv = queryVector(spark, dir, qid)
    rerankCells(spark, idx, probeCells(spark, idx, qv, nProbe), qid, qv,
      k)(_.filter(col("label") === param(label)))
  }

  def ivfTopKFilteredOracleSql(qid: Long, label: Int, k: Int,
      nCentroids: Int, nProbe: Int = 2): String =
    s"""WITH e AS MATERIALIZED (
       |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings
       |), ${centsCtes(nCentroids)}, asg AS (
       |  SELECT vec_id, label, centroid_id,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY
       |      round(1.0 - list_dot_product(v, cv)
       |        / (sqrt(list_dot_product(v, v))
       |           * sqrt(list_dot_product(cv, cv))), 6) ASC,
       |      centroid_id ASC) AS rn
       |  FROM e, cents
       |), cells AS (
       |  SELECT vec_id, label, centroid_id FROM asg WHERE rn = 1
       |), q AS (
       |  SELECT v AS qv FROM e WHERE vec_id = $qid
       |), qcells AS (
       |  SELECT centroid_id AS q_centroid FROM cents, q
       |  ORDER BY round(1.0 - list_dot_product(cv, qv)
       |    / (sqrt(list_dot_product(cv, cv))
       |       * sqrt(list_dot_product(qv, qv))), 6) ASC,
       |    centroid_id ASC
       |  LIMIT $nProbe
       |)
       |SELECT c.vec_id, c.label, c.centroid_id,
       |  round(1.0 - list_dot_product(e.v, q.qv)
       |    / (sqrt(list_dot_product(e.v, e.v))
       |       * sqrt(list_dot_product(q.qv, q.qv))), 6) AS dist
       |FROM cells c
       |JOIN e ON e.vec_id = c.vec_id
       |JOIN qcells ON c.centroid_id = qcells.q_centroid, q
       |WHERE c.vec_id <> $qid AND c.label = $label
       |ORDER BY dist ASC, c.vec_id ASC LIMIT $k""".stripMargin

  /** Batched exact KNN — every query vector resolved in ONE distributed
    * job (the [[graft.operators.Fts.batchSearch]] shape over vectors):
    * the Q query rows broadcast against the corpus scan, distances are
    * scan-local, and the grouped top-k is a single q_id-keyed window
    * shuffle — cost ∝ Q·n once, instead of Q sequential jobs each
    * re-scanning the corpus. Queries stay in a frame end to end (no
    * driver collect of vectors — contrast [[ivfTopK]]'s single-point
    * lookup, which is inherent to point queries). At 100 TB the same
    * batch composes against the IVF index instead (join the broadcast
    * per-query probe cells to the bucketed index), trading exactness
    * for touching nProbe/nCentroids of the corpus per query.
    * Deterministic: rounded distances, (dist, vec_id) tiebreak.
    */
  def knnBatch(spark: SparkSession, dir: String, qids: Seq[Long],
      k: Int): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        norm(col("embedding")).as("qn"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("dist").asc, col("vec_id").asc)
    emb
      .select(col("vec_id"), col("label"), col("embedding"),
        norm(col("embedding")).as("nrm"))
      .crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("label"),
        round(cosineDistancePre(col("embedding"), col("qv"),
          col("nrm"), col("qn")), 6).as("dist"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("q_id", "vec_id", "label", "dist")
      .orderBy(col("q_id").asc, col("dist").asc, col("vec_id").asc)
  }

  def knnBatchOracleSql(qids: Seq[Long], k: Int): String = {
    val inList = qids.mkString(", ")
    s"""WITH e AS (
       |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings
       |), q AS (
       |  SELECT vec_id AS q_id, v AS qv FROM e
       |  WHERE vec_id IN ($inList)
       |), d AS (
       |  SELECT q.q_id, e.vec_id, e.label,
       |    round(1.0 - list_dot_product(e.v, q.qv)
       |      / (sqrt(list_dot_product(e.v, e.v))
       |         * sqrt(list_dot_product(q.qv, q.qv))), 6) AS dist
       |  FROM e, q WHERE e.vec_id <> q.q_id
       |), r AS (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY dist ASC, vec_id ASC) AS rn
       |  FROM d
       |)
       |SELECT q_id, vec_id, label, dist FROM r WHERE rn <= $k
       |ORDER BY q_id ASC, dist ASC, vec_id ASC""".stripMargin
  }

  /** Batched ANN over the persisted IVF index — [[knnBatch]]'s 100 TB
    * form: instead of Q·n exact distances, each query is routed to its
    * `nProbe` nearest cells (a Q×C cross join on the tiny centroid side
    * table, grouped rank per query) and the bucketed index is probed
    * once with the broadcast (query, cell) routing frame — each index
    * row is scored only against the queries probing its cell, so total
    * work ∝ Q · nProbe/nCentroids · n. No driver collect anywhere: the
    * query vectors ride the routing frame. Deterministic: rounded
    * distances, centroid/vec-id tiebreaks, identical to [[ivfTopK]]
    * per query.
    */
  def ivfBatch(spark: SparkSession, dir: String, qids: Seq[Long],
      k: Int, nCentroids: Int, nProbe: Int = 2): DataFrame = {
    val idx = ensureIvfIndex(spark, dir, nCentroids)
    val queries = Tables.embeddings(spark, dir)
      .filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        norm(col("embedding")).as("qn"))
    val wCells = Window.partitionBy("q_id")
      .orderBy(col("qdist").asc, col("centroid_id").asc)
    val routing = spark.table(s"${idx}_cents")
      .crossJoin(broadcast(queries))
      .select(col("q_id"), col("qv"), col("qn"), col("centroid_id"),
        round(lit(1.0) - dot(col("cv"), col("qv")) /
          (col("cn") * col("qn")), 6).as("qdist"))
      .withColumn("rn", row_number().over(wCells))
      .filter(col("rn") <= nProbe)
      .select("q_id", "qv", "qn", "centroid_id")
    val w = Window.partitionBy("q_id")
      .orderBy(col("dist").asc, col("vec_id").asc)
    spark.table(idx)
      .join(broadcast(routing), Seq("centroid_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("label"),
        col("centroid_id"),
        round(lit(1.0) - dot(col("embedding"), col("qv")) /
          (col("nrm") * col("qn")), 6).as("dist"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("q_id", "vec_id", "label", "centroid_id", "dist")
      .orderBy(col("q_id").asc, col("dist").asc, col("vec_id").asc)
  }

  /** ANN self-evaluation: recall@k of the IVF probe against the exact
    * batched KNN on the same queries — the number an ANN deployment
    * monitors when tuning nProbe (probe more cells → higher recall,
    * touch more of the corpus). Both sides are the ALREADY-ORACLED
    * operators ([[knnBatch]], [[ivfBatch]]), composed with one
    * (q_id, vec_id)-keyed join; per-query recall in integral
    * micro-units. With nProbe = nCentroids the probe is exhaustive and
    * recall is provably 10⁶ everywhere (spec-gated). */
  /** Exact cosine-KNN ground truth for a fixed evaluation query set,
    * persisted once per corpus fingerprint ([[EvalCache]]) — the
    * reference list every cosine recall gate (IVF, binary-quant,
    * graph-ANN) scores against. The truth is [[knnBatch]]'s own
    * already-oracled output, so a cache hit serves bit-identical rows
    * to the inline computation. */
  def knnBatchGt(spark: SparkSession, dir: String, qids: Seq[Long],
      k: Int): DataFrame =
    EvalCache.ensure(spark, dir, "embeddings", ScaleOps.Family("cos", 1),
      "q_id", EvalCache.keyOf(qids, k))(
      knnBatch(spark, dir, qids, k).select(col("q_id"), col("vec_id")))

  def annRecall(spark: SparkSession, dir: String, qids: Seq[Long],
      k: Int, nCentroids: Int, nProbe: Int = 2): DataFrame = {
    val ex = knnBatchGt(spark, dir, qids, k)
    val ap = ivfBatch(spark, dir, qids, k, nCentroids, nProbe)
      .select(col("q_id"), col("vec_id"), lit(1L).as("hit"))
    ex.join(ap, Seq("q_id", "vec_id"), "left")
      .groupBy("q_id")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0L))).as("n_common"))
      .select(col("q_id"), col("n_exact"), col("n_common"),
        expr(s"n_common * 1000000 div $k").as("recall_micro"))
      .orderBy(col("q_id").asc)
  }

  def annRecallOracleSql(qids: Seq[Long], k: Int, nCentroids: Int,
      nProbe: Int = 2): String =
    s"""WITH ex AS (
       |  SELECT q_id, vec_id FROM (${knnBatchOracleSql(qids, k)}) x
       |), ap AS (
       |  SELECT q_id, vec_id
       |  FROM (${ivfBatchOracleSql(qids, k, nCentroids, nProbe)}) y
       |)
       |SELECT ex.q_id, count(*) AS n_exact,
       |  CAST(sum(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_common,
       |  CAST(sum(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END)
       |    * 1000000 // $k AS BIGINT) AS recall_micro
       |FROM ex LEFT JOIN ap
       |  ON ap.q_id = ex.q_id AND ap.vec_id = ex.vec_id
       |GROUP BY ex.q_id ORDER BY ex.q_id ASC""".stripMargin

  /** Oracle CTE chain reproducing [[trainedCents]] in DuckDB: the
    * shared integer-Lloyd fit (Clustering.fitSqlFor → `cent3`)
    * dequantized to DOUBLE[] centroid vectors — the same exact-integer
    * arithmetic both engines agree on bit-for-bit, divided by 1e6 as
    * correctly-rounded IEEE doubles on both sides. Exposes `cents`
    * (centroid_id, cv). */
  private[operators] def centsCtes(nCentroids: Int): String =
    centsCtesK(nCentroids.toString)

  /** [[centsCtes]] under an arbitrary BIGINT-valued k expression (the
    * corpus-relative policy's scalar subquery). */
  private[operators] def centsCtesK(kSql: String): String =
    s"""${Clustering.fitSqlForExpr(kSql, CoarseIterations,
          spherical = true)}, cents AS MATERIALIZED (
       |  SELECT cluster AS centroid_id,
       |    list(c / 1e6 ORDER BY dim) AS cv
       |  FROM cent$CoarseIterations GROUP BY cluster
       |)""".stripMargin

  def ivfBatchOracleSql(qids: Seq[Long], k: Int, nCentroids: Int,
      nProbe: Int = 2): String = {
    val inList = qids.mkString(", ")
    s"""WITH e AS (
       |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings
       |), ${centsCtes(nCentroids)}, asg AS (
       |  SELECT vec_id, label, centroid_id,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY
       |      round(1.0 - list_dot_product(v, cv)
       |        / (sqrt(list_dot_product(v, v))
       |           * sqrt(list_dot_product(cv, cv))), 6) ASC,
       |      centroid_id ASC) AS rn
       |  FROM e, cents
       |), cells AS (
       |  SELECT vec_id, label, centroid_id FROM asg WHERE rn = 1
       |), q AS (
       |  SELECT vec_id AS q_id, v AS qv FROM e
       |  WHERE vec_id IN ($inList)
       |), qcells AS (
       |  SELECT q_id, centroid_id FROM (
       |    SELECT q.q_id, cents.centroid_id,
       |      row_number() OVER (PARTITION BY q.q_id ORDER BY
       |        round(1.0 - list_dot_product(cents.cv, q.qv)
       |          / (sqrt(list_dot_product(cents.cv, cents.cv))
       |             * sqrt(list_dot_product(q.qv, q.qv))), 6) ASC,
       |        cents.centroid_id ASC) AS rn
       |    FROM cents, q) WHERE rn <= $nProbe
       |), d AS (
       |  SELECT q.q_id, c.vec_id, c.label, c.centroid_id,
       |    round(1.0 - list_dot_product(e.v, q.qv)
       |      / (sqrt(list_dot_product(e.v, e.v))
       |         * sqrt(list_dot_product(q.qv, q.qv))), 6) AS dist
       |  FROM cells c
       |  JOIN qcells qc ON qc.centroid_id = c.centroid_id
       |  JOIN q ON q.q_id = qc.q_id
       |  JOIN e ON e.vec_id = c.vec_id
       |  WHERE c.vec_id <> q.q_id
       |), r AS (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY dist ASC, vec_id ASC) AS rn
       |  FROM d
       |)
       |SELECT q_id, vec_id, label, centroid_id, dist FROM r
       |WHERE rn <= $k
       |ORDER BY q_id ASC, dist ASC, vec_id ASC""".stripMargin
  }

  def ivfTopKOracleSql(qid: Long, k: Int, nCentroids: Int,
      nProbe: Int = 2): String =
    s"""WITH e AS (
       |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings
       |), ${centsCtes(nCentroids)}, asg AS (
       |  SELECT vec_id, label, centroid_id,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY
       |      round(1.0 - list_dot_product(v, cv)
       |        / (sqrt(list_dot_product(v, v))
       |           * sqrt(list_dot_product(cv, cv))), 6) ASC,
       |      centroid_id ASC) AS rn
       |  FROM e, cents
       |), cells AS (
       |  SELECT vec_id, label, centroid_id FROM asg WHERE rn = 1
       |), q AS (
       |  SELECT v AS qv FROM e WHERE vec_id = $qid
       |), qcells AS (
       |  SELECT centroid_id AS q_centroid FROM cents, q
       |  ORDER BY round(1.0 - list_dot_product(cv, qv)
       |    / (sqrt(list_dot_product(cv, cv))
       |       * sqrt(list_dot_product(qv, qv))), 6) ASC,
       |    centroid_id ASC
       |  LIMIT $nProbe
       |)
       |SELECT c.vec_id, c.label, c.centroid_id,
       |  round(1.0 - list_dot_product(e.v, q.qv)
       |    / (sqrt(list_dot_product(e.v, e.v))
       |       * sqrt(list_dot_product(q.qv, q.qv))), 6) AS dist
       |FROM cells c
       |JOIN e ON e.vec_id = c.vec_id
       |JOIN qcells ON c.centroid_id = qcells.q_centroid, q
       |WHERE c.vec_id <> $qid
       |ORDER BY dist ASC, c.vec_id ASC LIMIT $k""".stripMargin

  /** Embedding-cosine near-duplicate pairs (the dedup-suite member over
    * vectors): candidates = pairs sharing an IVF cell (the bucketing
    * bounds quadratic work — cost ∝ Σ_cell |cell|² instead of n²), then
    * exact cosine verification <= eps. Deterministic: seed centroids,
    * tiebroken assignment, rounded distances.
    */
  def embCosinePairs(spark: SparkSession, dir: String, eps: Double,
      nCentroids: Int): DataFrame = {
    val idx = ensureIvfIndex(spark, dir, nCentroids)
    // self-join of the bucketed index on its bucket key: both sides are
    // pre-partitioned and pre-sorted on centroid_id on disk, so this is
    // a SortMergeJoin with ZERO shuffle exchanges (plan-asserted in
    // SimilaritySpec); vectors and norms ride in-row, so no join back
    // to the source either. Cost ∝ Σ_cell |cell|², never n².
    val t = spark.table(idx)
      .select("vec_id", "centroid_id", "embedding", "nrm")
    t.as("x")
      .join(t.as("y"),
        col("x.centroid_id") === col("y.centroid_id") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"),
        round(cosineDistancePre(col("x.embedding"), col("y.embedding"),
          col("x.nrm"), col("y.nrm")), 6).as("dist"))
      .filter(col("dist") <= lit(eps))
      .orderBy(col("dist").asc, col("a").asc, col("b").asc)
  }

  def embCosinePairsOracleSql(eps: Double, nCentroids: Int): String =
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |), ${centsCtes(nCentroids)}, asg AS (
       |  SELECT vec_id, centroid_id,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY
       |      round(1.0 - list_dot_product(v, cv)
       |        / (sqrt(list_dot_product(v, v))
       |           * sqrt(list_dot_product(cv, cv))), 6) ASC,
       |      centroid_id ASC) AS rn
       |  FROM e, cents
       |), cells AS (
       |  SELECT vec_id, centroid_id FROM asg WHERE rn = 1
       |), pairs AS (
       |  SELECT x.vec_id AS a, y.vec_id AS b
       |  FROM cells x JOIN cells y
       |    ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id
       |)
       |SELECT p.a, p.b,
       |  round(1.0 - list_dot_product(ea.v, eb.v)
       |    / (sqrt(list_dot_product(ea.v, ea.v))
       |       * sqrt(list_dot_product(eb.v, eb.v))), 6) AS dist
       |FROM pairs p
       |JOIN e ea ON ea.vec_id = p.a
       |JOIN e eb ON eb.vec_id = p.b
       |WHERE round(1.0 - list_dot_product(ea.v, eb.v)
       |    / (sqrt(list_dot_product(ea.v, ea.v))
       |       * sqrt(list_dot_product(eb.v, eb.v))), 6) <= $eps
       |ORDER BY dist ASC, a ASC, b ASC""".stripMargin

  /** Matryoshka (truncated-dimension) two-stage KNN: stage 1 ranks by
    * cosine over the first `dCoarse` dimensions only — reading/computing
    * a quarter of each vector — and keeps `nCand` candidates; stage 2
    * re-ranks those exactly over all dimensions. With MRL-style
    * embeddings (Kusupati et al. 2022) prefix dims carry most of the
    * signal, so recall survives while the scan cost drops by
    * dCoarse/dim. At 100 TB the coarse stage reads a 4x-smaller column
    * (store the prefix as its own parquet column and the scan prunes to
    * it); stage 2 touches only nCand rows. Deterministic: rounded
    * distances, id tiebreaks at both stages.
    */
  def knnMatryoshka(spark: SparkSession, dir: String, qid: Long,
      dCoarse: Int, nCand: Int, k: Int): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") === lit(qid))
      .select(
        col("embedding").as("qv"), norm(col("embedding")).as("qn"),
        slice(col("embedding"), 1, dCoarse).as("qc"),
        norm(slice(col("embedding"), 1, dCoarse)).as("qcn"))
    val coarse = emb.filter(col("vec_id") =!= lit(qid))
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"), col("embedding"),
        col("qv"), col("qn"),
        round(cosineDistancePre(
          slice(col("embedding"), 1, dCoarse), col("qc"),
          norm(slice(col("embedding"), 1, dCoarse)), col("qcn")), 6)
          .as("cdist"))
      .orderBy(col("cdist").asc, col("vec_id").asc)
      .limit(nCand)
    coarse
      .select(col("vec_id"), col("label"), col("cdist"),
        round(cosineDistancePre(col("embedding"), col("qv"),
          norm(col("embedding")), col("qn")), 6).as("dist"))
      .orderBy(col("dist").asc, col("vec_id").asc)
      .limit(k)
  }

  def knnMatryoshkaOracleSql(qid: Long, dCoarse: Int, nCand: Int,
      k: Int): String =
    s"""WITH e AS (
       |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
       |    CAST(list_slice(embedding, 1, $dCoarse) AS DOUBLE[]) AS vc
       |  FROM embeddings
       |), q AS (
       |  SELECT v AS qv, vc AS qc FROM e WHERE vec_id = $qid
       |), coarse AS (
       |  SELECT vec_id, label, v, qv,
       |    round(1.0 - list_dot_product(vc, qc)
       |      / (sqrt(list_dot_product(vc, vc))
       |         * sqrt(list_dot_product(qc, qc))), 6) AS cdist
       |  FROM e, q WHERE vec_id <> $qid
       |  ORDER BY cdist ASC, vec_id ASC LIMIT $nCand
       |)
       |SELECT vec_id, label, cdist,
       |  round(1.0 - list_dot_product(v, qv)
       |    / (sqrt(list_dot_product(v, v))
       |       * sqrt(list_dot_product(qv, qv))), 6) AS dist
       |FROM coarse
       |ORDER BY dist ASC, vec_id ASC LIMIT $k""".stripMargin

  /** MMR (maximal marginal relevance, Carbonell & Goldstein 1998)
    * diversified re-rank of the KNN candidate list:
    *
    *   pick_1 = argmax rel(c)
    *   pick_i = argmax  λ·rel(c) − (1−λ)·max_{s∈picked} sim(c, s)
    *
    * rel = cosine similarity to the query; sim = pairwise cosine; both
    * rounded to 6 BEFORE the greedy loop so every comparison the loop
    * makes is over identical values in any engine (the DuckDB oracle
    * replays the same recurrence as a recursive CTE). Tiebreak: lower
    * vec_id.
    *
    * Scale shape: the candidate retrieval is the distributed part and
    * keeps its KNN plan; the greedy loop is inherently sequential and
    * runs driver-side over the nCand collected rows — bounded by the
    * CONSTANT nCand (like the point-query head() lookups), independent
    * of corpus size. The driver materializes an O(nCand²) similarity
    * matrix: validated at nCand=20 (the registered query's setting);
    * fine to ~1k (≈8 MB of doubles), past that move the pairwise sims
    * into a distributed pre-pass. Output: (step, vec_id, rel).
    */
  def mmrRerank(spark: SparkSession, dir: String, qid: Long, nCand: Int,
      k: Int, lambda: Double): DataFrame = {
    // the scaladoc's ~1k boundary, enforced (r13 verdict #8): past it
    // the O(nCand²) driver matrix stops being a bounded artifact
    require(nCand <= 1000,
      s"mmrRerank nCand=$nCand exceeds the documented driver bound " +
        "(1000); move the pairwise sims into a distributed pre-pass")
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") === lit(qid))
      .select(col("embedding").as("qv"), norm(col("embedding")).as("qn"))
    val cand = emb.filter(col("vec_id") =!= lit(qid))
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(dot(col("embedding"), col("qv")) /
          (norm(col("embedding")) * col("qn")), 6).as("rel"),
        col("embedding"))
      .orderBy(col("rel").desc, col("vec_id").asc)
      .limit(nCand)
      .collect()
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // left-to-right double accumulation — same order as dot()/DuckDB
    def sdot(a: Seq[Double], b: Seq[Double]): Double =
      a.lazyZip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
    val ids = cand.map(_.getLong(0))
    val rel = cand.map(_.getDouble(1))
    val vs = cand.map(_.getSeq[Float](2).map(_.toDouble))
    val nrm = vs.map(v => math.sqrt(sdot(v, v)))
    val n = ids.length
    val simv = Array.tabulate(n, n)((i, j) =>
      if (i == j) 1.0
      else round6(sdot(vs(i), vs(j)) / (nrm(i) * nrm(j))))
    val picked = scala.collection.mutable.ArrayBuffer.empty[Int]
    while (picked.length < math.min(k, n)) {
      val remaining = (0 until n).filterNot(picked.contains)
      val next = remaining.minBy { c =>
        val score =
          if (picked.isEmpty) rel(c)
          else round6(
            lambda * rel(c) - (1.0 - lambda) * picked.map(simv(c)).max)
        (-score, ids(c)) // max score, then min id
      }
      picked += next
    }
    import spark.implicits._
    picked.toSeq.zipWithIndex
      .map { case (c, i) => ((i + 1).toLong, ids(c), rel(c)) }
      .toDF("step", "vec_id", "rel")
  }

  def mmrRerankOracleSql(qid: Long, nCand: Int, k: Int,
      lambda: Double): String =
    s"""WITH RECURSIVE e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |), q AS (
       |  SELECT v AS qv FROM e WHERE vec_id = $qid
       |), cand AS (
       |  SELECT vec_id,
       |    round(list_dot_product(v, qv)
       |      / (sqrt(list_dot_product(v, v))
       |         * sqrt(list_dot_product(qv, qv))), 6) AS rel, v
       |  FROM e, q WHERE vec_id <> $qid
       |  ORDER BY rel DESC, vec_id ASC LIMIT $nCand
       |), sim AS (
       |  SELECT x.vec_id AS a, y.vec_id AS b,
       |    round(list_dot_product(x.v, y.v)
       |      / (sqrt(list_dot_product(x.v, x.v))
       |         * sqrt(list_dot_product(y.v, y.v))), 6) AS s
       |  FROM cand x JOIN cand y ON x.vec_id <> y.vec_id
       |), sel AS (
       |  SELECT 1 AS step,
       |    [(SELECT vec_id FROM cand ORDER BY rel DESC, vec_id ASC
       |      LIMIT 1)] AS chosen
       |  UNION ALL
       |  SELECT step + 1, list_append(chosen, (
       |    SELECT c.vec_id FROM cand c
       |    WHERE NOT list_contains(sel.chosen, c.vec_id)
       |    ORDER BY round(CAST($lambda AS DOUBLE) * c.rel
       |      - (CAST(1 AS DOUBLE) - CAST($lambda AS DOUBLE))
       |        * (SELECT max(s.s) FROM sim s
       |           WHERE s.a = c.vec_id
       |             AND list_contains(sel.chosen, s.b)), 6) DESC,
       |      c.vec_id ASC LIMIT 1))
       |  FROM sel WHERE step < $k
       |), last AS (
       |  SELECT chosen FROM sel WHERE step = $k
       |)
       |SELECT CAST(t.i AS BIGINT) AS step, chosen[t.i] AS vec_id, c.rel
       |FROM last, generate_series(1, $k) AS t(i)
       |JOIN cand c ON c.vec_id = chosen[t.i]
       |ORDER BY step ASC""".stripMargin

  /** Per-label embedding statistics: count + mean L2 norm (sanity view of
    * the label ground truth, FIXTURES.md A.embeddings). */
  def labelStats(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label"), norm(col("embedding")).as("nrm"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"), round(avg(col("nrm")), 6).as("avg_norm"))
      .orderBy(col("label").asc)

  val labelStatsOracleSql: String =
    """SELECT label, count(*) AS n,
      |  round(avg(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
      |                                  CAST(embedding AS DOUBLE[])))), 6)
      |    AS avg_norm
      |FROM embeddings GROUP BY label ORDER BY label ASC""".stripMargin

  /** Per-dimension moment profile of the embedding cloud — mean and
    * population variance per coordinate, the tabular companion of
    * PcaPower's eigen-diagnostic (a dimension with ~zero variance is
    * dead capacity; a dominant one signals the same collapse the top
    * PC measures, without the solver). One posexplode + one (d)-keyed
    * combinable reduce — 64 output rows at any corpus size. */
  def dimVariance(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("d", "x")))
      .select(col("d"), col("x").cast("double").as("x"))
      .groupBy("d")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("d").cast("long").as("d"),
        round(col("sx") / col("n"), 6).as("mu"),
        round(col("sxx") / col("n") -
          (col("sx") / col("n")) * (col("sx") / col("n")), 6)
          .as("variance"))
      .orderBy(col("d").asc)

  val dimVarianceOracleSql: String =
    """WITH long AS (
      |  SELECT unnest(range(0, len(embedding))) AS d,
      |    CAST(unnest(embedding) AS DOUBLE) AS x
      |  FROM embeddings
      |), s AS (
      |  SELECT d, count(*) AS n, sum(x) AS sx, sum(x * x) AS sxx
      |  FROM long GROUP BY d
      |)
      |SELECT CAST(d AS BIGINT) AS d,
      |  round(sx / n, 6) AS mu,
      |  round(sxx / n - (sx / n) * (sx / n), 6) AS variance
      |FROM s ORDER BY d ASC""".stripMargin

  /** Inter-label centroid separation — the supervised-embedding
    * diagnostic next to [[labelStats]]: per unordered label pair, the
    * cosine between the class centroids. Labels whose centroids sit at
    * cosine ≈ 1 are classes the embedding cannot separate (the margin
    * collapse a classifier downstream would surface as confusion — the
    * geometric twin of nb_confusion).
    *
    * Long-format contraction like PcaPower: one posexplode, centroids
    * reduce per (label, d) — map-side combinable — and the pairwise
    * cosine is an equi-join of the |labels|×64 centroid frame with
    * itself on d: every frame after the first reduce is bounded by the
    * label dimension, never the corpus. */
  def labelCentroidMargins(spark: SparkSession, dir: String): DataFrame = {
    val cents = Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("d", "x")))
      .groupBy("label", "d")
      .agg((sum(col("x").cast("double")) / count(lit(1))).as("c"))
    val a = cents.select(col("label").as("label_a"), col("d"),
      col("c").as("ca"))
    val b = cents.select(col("label").as("label_b"), col("d"),
      col("c").as("cb"))
    a.join(b, Seq("d"))
      .filter(col("label_a") < col("label_b"))
      .groupBy("label_a", "label_b")
      .agg(
        (sum(col("ca") * col("cb")) /
          (sqrt(sum(col("ca") * col("ca"))) *
            sqrt(sum(col("cb") * col("cb"))))).as("cosine"))
      .select(col("label_a"), col("label_b"),
        round(col("cosine"), 6).as("cosine"))
      .orderBy(col("label_a").asc, col("label_b").asc)
  }

  val labelCentroidMarginsOracleSql: String =
    """WITH long AS (
      |  SELECT label,
      |    unnest(range(0, len(embedding))) AS d,
      |    CAST(unnest(embedding) AS DOUBLE) AS x
      |  FROM embeddings
      |), cents AS MATERIALIZED (
      |  SELECT label, d, sum(x) / count(*) AS c
      |  FROM long GROUP BY label, d
      |)
      |SELECT a.label AS label_a, b.label AS label_b,
      |  round(sum(a.c * b.c) /
      |    (sqrt(sum(a.c * a.c)) * sqrt(sum(b.c * b.c))), 6) AS cosine
      |FROM cents a JOIN cents b ON a.d = b.d AND a.label < b.label
      |GROUP BY a.label, b.label
      |ORDER BY label_a ASC, label_b ASC""".stripMargin
}
