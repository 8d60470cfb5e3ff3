package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import ProductQuant.{M, Dsub, NCode, Iterations}

/** IVF-PQ — the composed coarse-quantizer + product-quantizer index
  * (Jégou, Douze & Schmid 2011 §IV; the FAISS `IndexIVFPQ` shape) and
  * the actual 100 TB ANN serving path: IVF cell pruning bounds WHICH
  * rows a probe touches (nProbe/nCentroids of the corpus) while PQ
  * residual codes bound how many BYTES per row it reads (8 small ints
  * instead of 64 floats). The reference serves vectors from a flat
  * pgvector column (/root/reference/src/db/vector_store.py:178 runs a
  * full `<=>` scan per query); this module is the beyond-reference
  * scale path the same corpus would need at three more orders of
  * magnitude.
  *
  * Composition contract: cells and their centroids are EXACTLY the IVF
  * family's ([[Similarity.ensureIvfIndex]] — coarse centroids trained
  * by the shared integer k-means, round-6 cosine assignment,
  * centroid-id tiebreak), and the codebook is trained by EXACTLY the
  * PQ family's
  * integer Lloyd ([[ProductQuant.lloydOn]] — micro-unit BIGINT
  * arithmetic, md5-spread seeds, keyed argmin) — but over RESIDUALS
  * r = q(vec) − q(centroid) in micro units. Residual subtraction is
  * integer, so the whole train/encode/ADC pipeline stays
  * bit-reproducible against the DuckDB oracle; only the final full-dim
  * refine is (rounded) double math.
  *
  * Scale shape: the cell assignment (the one full-corpus shuffle) is
  * the ALREADY-persisted IVF index — building the PQ layer on top
  * reads it scan-locally (centroid micro matrix and codebook ride
  * along as literals; zero joins). The codes table is bucketed by
  * centroid_id like the IVF index, so a probe statically prunes to
  * nProbe buckets of a 32x-smaller table; the exact refine touches
  * only nCand full vectors.
  */
object IvfPq {

  /** Default cell count — matches the registered `ivf_ann` family. */
  val NCentroids = 10

  /** Default probe width. */
  val NProbe = 3

  /** The centroid micro matrix [centroid_id][dim] driver-side —
    * nCentroids·64 BIGINTs, bounded. Requantizes the STORED trained
    * centroids (the coarse layer is the IVF family's — one source of
    * truth) from [[Similarity.centroidRows]]' driver memo, so the
    * probe/encode paths run no job or query for it: cv = cq/1e6 with
    * |cq| ≪ 2⁵², so cv·1e6 lies within far less than 0.5 of the
    * trained integer centroid, and rounding recovers it exactly. */
  private def centroidMicro(spark: SparkSession, dir: String,
      nCentroids: Int): Array[Array[Long]] = {
    val idx = Similarity.ensureIvfIndex(spark, dir, nCentroids)
    val cm = Array.ofDim[Array[Long]](nCentroids)
    Similarity.centroidRows(spark, idx).foreach(r => cm(r.getLong(0).toInt) =
      r.getSeq[Double](1).map(x => math.round(x * 1e6)).toArray)
    cm
  }

  /** Trained residual codebooks per (warehouse, codebook table name) —
    * the name embeds the corpus content hash, so a regenerated fixture
    * can never be served a stale codebook. */
  private val codebookMemo =
    new DriverMemo[(String, String), Array[Array[Array[Long]]]](16)

  /** Residual micro-unit subspace points (vec_id, s, sd, q) with
    * q = micro(vec) − micro(assigned centroid): sourced from the
    * persisted IVF index (embedding + centroid_id in-row), the
    * centroid matrix riding along as a literal — a pure scan-local
    * projection, no joins, no assignment recompute. */
  private def respts(spark: SparkSession, dir: String,
      nCentroids: Int): DataFrame = {
    val idx = Similarity.ensureIvfIndex(spark, dir, nCentroids)
    val cmLit = typedLit(centroidMicro(spark, dir, nCentroids)
      .map(_.toSeq).toSeq)
    spark.table(idx)
      .select(col("vec_id"), posexplode(
        zip_with(
          transform(col("embedding"),
            x => round(x.cast("double") * 1e6).cast("long")),
          element_at(cmLit, col("centroid_id").cast("int") + 1),
          (x, c) => x - c)))
      .toDF("vec_id", "dim", "q")
      .select(col("vec_id"), expr(s"dim div $Dsub").cast("int").as("s"),
        expr(s"dim % $Dsub").cast("int").as("sd"), col("q"))
  }

  /** Train the residual codebook — [[ProductQuant.lloydOn]] over the
    * residual points with the same md5-spread seeds. One codebook
    * shared across cells (the standard IVFPQ arrangement: residuals
    * from different cells live in a comparable, centered space). */
  def trainCodebook(spark: SparkSession, dir: String,
      nCentroids: Int): DataFrame =
    ProductQuant.lloydOn(respts(spark, dir, nCentroids),
      ProductQuant.seedFrame(spark, dir))

  private def codebookName(dir: String, nCentroids: Int): String =
    s"graft_ivfpqcb_${ScaleOps.contentHash(dir, "embeddings")}_c$nCentroids"

  private def codesName(dir: String, nCentroids: Int): String =
    s"graft_ivfpq_${ScaleOps.contentHash(dir, "embeddings")}_c$nCentroids"

  /** Build-once: the trained residual codebook as a catalog table. */
  def ensureCodebook(spark: SparkSession, dir: String,
      nCentroids: Int): String =
    ScaleOps.ensure(spark, ScaleOps.Family("ivfpq_codebook", 1),
        ScaleOps.AttachSpec(codebookName(dir, nCentroids))) {
      Seq(trainCodebook(spark, dir, nCentroids))
    }

  /** The trained residual codebook as a driver-side literal
    * [s][c][sd] (1024 BIGINTs — bounded). */
  def loadCodebook(spark: SparkSession, dir: String,
      nCentroids: Int): Array[Array[Array[Long]]] = {
    val name = ensureCodebook(spark, dir, nCentroids)
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    codebookMemo.getOrCompute((warehouse, name), name) {
      val cb = Array.ofDim[Long](M, NCode, Dsub)
      spark.table(name).collect().foreach { r =>
        cb(r.getAs[Int]("s"))(r.getAs[Int]("c"))(r.getAs[Int]("sd")) =
          r.getAs[Long]("cq")
      }
      cb
    }
  }

  /** Scan-local residual encoding of the whole corpus against the
    * literal codebook: (vec_id, label, centroid_id, codes[M]). Reads
    * the persisted IVF index once; zero joins, zero shuffles. */
  def encode(spark: SparkSession, dir: String,
      nCentroids: Int): DataFrame = {
    val idx = Similarity.ensureIvfIndex(spark, dir, nCentroids)
    val cb = loadCodebook(spark, dir, nCentroids)
    val cmLit = typedLit(centroidMicro(spark, dir, nCentroids)
      .map(_.toSeq).toSeq)
    val rarr = zip_with(
      transform(col("embedding"),
        x => round(x.cast("double") * 1e6).cast("long")),
      element_at(cmLit, col("centroid_id").cast("int") + 1),
      (x, c) => x - c)
    spark.table(idx)
      .select(col("vec_id"), col("label"), col("centroid_id"),
        ProductQuant.encodeArray(cb, rarr).as("codes"))
  }

  /** Build-once: the residual codes persisted bucketed by centroid_id
    * (the same layout as the IVF index) — every probe statically
    * prunes to its nProbe buckets of the 32x-smaller table. */
  def ensureCodesTable(spark: SparkSession, dir: String,
      nCentroids: Int): String =
    ScaleOps.ensure(spark, ScaleOps.Family("ivfpq_codes", 1),
        ScaleOps.AttachSpec(codesName(dir, nCentroids), "centroid_id",
          nCentroids)) {
      Seq(encode(spark, dir, nCentroids))
    }

  /** Assign + residual-encode an arbitrary (vec_id, label, embedding)
    * delta frame against the STORED centroids and codebook (both ride
    * along as literals — scan-local, cost ∝ |delta|). The shared delta
    * path behind [[appendToCodes]] and the streaming ingest bridge
    * (graft.streaming.StreamBridge). */
  def encodeDelta(spark: SparkSession, dir: String, nCentroids: Int,
      delta: DataFrame): DataFrame = {
    val idx = Similarity.ensureIvfIndex(spark, dir, nCentroids)
    val cb = loadCodebook(spark, dir, nCentroids)
    val cmLit = typedLit(centroidMicro(spark, dir, nCentroids)
      .map(_.toSeq).toSeq)
    val rarr = zip_with(
      transform(col("embedding"),
        x => round(x.cast("double") * 1e6).cast("long")),
      element_at(cmLit, col("centroid_id").cast("int") + 1),
      (x, c) => x - c)
    Similarity.ivfAssignTo(delta, spark.table(s"${idx}_cents"))
      .select(col("vec_id"), col("label"), col("centroid_id"),
        ProductQuant.encodeArray(cb, rarr).as("codes"))
  }

  /** Incremental index maintenance — the IVFPQ analog of
    * [[Similarity.appendToIvfIndex]]: [[encodeDelta]] the delta rows
    * and insert into the bucketed codes table. Codebook drift is a
    * rebuild decision, not an append concern — the probe path is
    * oblivious to how rows arrived. The insert withdraws the attach
    * marker first ([[ScaleOps.appendInto]]), as in
    * [[Similarity.appendToIvfIndex]]. */
  def appendToCodes(spark: SparkSession, dir: String, nCentroids: Int,
      delta: DataFrame): Unit = {
    val codes = ensureCodesTable(spark, dir, nCentroids)
    ScaleOps.appendInto(encodeDelta(spark, dir, nCentroids, delta), codes)
  }

  /** Compaction for STREAMED code appends (the IVFPQ analog of
    * [[Fts.compactStreamedIndex]]): the streaming bridge writes one
    * small parquet batch per micro-batch with a `batch_id` column; this
    * folds them into the bucketed codes-table shape with merge-on-read
    * semantics — a vector re-encoded in a later batch REPLACES its
    * older codes (latest batch_id wins per vec_id). One vec-keyed
    * aggregate + co-keyed join, then the bucketed write; at 100 TB this
    * is the standard small-file compaction job scheduled off the ingest
    * path, and probes see one bucket-pruned relation instead of N
    * micro-batch files. */
  def compactStreamedCodes(spark: SparkSession, codesDir: String,
      table: String, nCentroids: Int = NCentroids): String = {
    val raw = spark.read.parquet(codesDir)
    val latest = raw.groupBy("vec_id")
      .agg(max(col("batch_id")).as("batch_id"))
    // dropDuplicates guards the implicit one-row-per-vec-per-batch
    // invariant: if a producer ever emitted the same vec_id twice within
    // one micro-batch, both rows would match (vec_id, max batch_id) and
    // survive as duplicates. Re-encodes within a batch are deterministic
    // (encodeDelta is a pure function of the stored artifacts), so any
    // such twins are identical rows and keeping one is value-exact.
    val winning = raw.join(latest, Seq("vec_id", "batch_id"))
      .select("vec_id", "label", "centroid_id", "codes")
      .dropDuplicates("vec_id")
    ScaleOps.writeBucketed(winning, table, "centroid_id", nCentroids)
    table
  }

  /** Order-independent per-cell digest of a codes frame: row count,
    * sum of the packed 32-bit-free code integers (Σ_s codes[s]·16^s —
    * binds the exact encode output, not just membership), and the
    * vec_id span. Equal digests ⇒ the streamed index IS the batch
    * index, whatever order rows arrived in. */
  def cellDigest(codes: DataFrame): DataFrame = {
    val codeInt = (0 until M)
      .map(s => element_at(col("codes"), s + 1).cast("long")
        * lit(1L << (4 * s)))
      .reduce(_ + _)
    codes.groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(codeInt).as("codes_sum"),
        min(col("vec_id")).as("min_vec"),
        max(col("vec_id")).as("max_vec"))
      .orderBy(col("centroid_id").asc)
  }

  /** Per-probed-cell ADC LUTs: lut(cellpos)(s)(c) = integer
    * |(q − centroid)_s − cw_sc|² — the query's residual is taken
    * against EACH probed cell's centroid, so a code row compares in
    * its own cell's residual space. */
  private def cellLuts(qq: Array[Long], cm: Array[Array[Long]],
      cells: Seq[Long], cb: Array[Array[Array[Long]]])
      : Seq[Array[Array[Long]]] =
    cells.map { cell =>
      val rq = Array.tabulate(qq.length)(i => qq(i) - cm(cell.toInt)(i))
      ProductQuant.buildLut(rq, cb)
    }

  /** The ADC distance column under a [cellpos][s][c] LUT literal and a
    * cellpos column — 8 lookups + 7 integer adds per row. */
  private def adcDist(lutLit: Column, cellpos: Column): Column =
    (0 until M)
      .map(s => element_at(element_at(element_at(lutLit, cellpos + 1),
        s + 1), element_at(col("codes"), s + 1) + 1))
      .reduce(_ + _)

  /** IVF-PQ search: read only the query's nProbe cells' bucket files
    * of the codes table, ADC-rank the survivors (integer, exact vs
    * the oracle), keep nCand, exact-refine them by full-dim (rounded
    * double) L2² against the original vectors. Output (vec_id, label,
    * centroid_id, adist, dist). The cellpos mapping is a when-chain
    * (nProbe literals), keeping the probe a pure scan+filter+project —
    * no join until the bounded refine. */
  def ivfPqScan(spark: SparkSession, dir: String, qid: Long, nCand: Int,
      k: Int, nCentroids: Int = NCentroids,
      nProbe: Int = NProbe): DataFrame = {
    val codes = ensureCodesTable(spark, dir, nCentroids)
    val idx = Similarity.ensureIvfIndex(spark, dir, nCentroids)
    val cb = loadCodebook(spark, dir, nCentroids)
    val cm = centroidMicro(spark, dir, nCentroids)
    val (qq, qv) = ProductQuant.fetchQuery(spark, dir, qid)
    val cells = Similarity.probeCells(spark, idx, qv.toSeq, nProbe)
    val luts = cellLuts(qq, cm, cells, cb)
    val lutLit = typedLit(luts.map(_.toSeq.map(_.toSeq)))
    val cellpos = cells.zipWithIndex.tail
      .foldLeft(when(col("centroid_id") === lit(cells.head), lit(0))) {
        case (acc, (cell, i)) =>
          acc.when(col("centroid_id") === lit(cell), lit(i))
      }
    val cand = ScaleOps.bucketProbe(spark, codes, cells)
      .filter(col("vec_id") =!= lit(qid))
      .select(col("vec_id"), col("label"), col("centroid_id"),
        adcDist(lutLit, cellpos).as("adist"))
      .orderBy(col("adist").asc, col("vec_id").asc)
      .limit(nCand)
    // refine against the IVF index table, NOT the source embeddings:
    // the index stores vectors in-row and receives incremental appends
    // (appendToCodes), so the whole probe path touches only index
    // structures — on the un-appended corpus the rows are identical,
    // which is what the DuckDB oracle checks
    val qvLit = typedLit(qv.toSeq)
    broadcast(cand)
      .join(spark.table(idx)
        .select(col("vec_id"), col("embedding")), "vec_id")
      .select(col("vec_id"), col("label"), col("centroid_id"),
        col("adist"),
        round(ProductQuant.l2sq(col("embedding"), qvLit), 6).as("dist"))
      .orderBy(col("dist").asc, col("vec_id").asc)
      .limit(k)
  }

  /** Batched IVF-PQ search — [[Similarity.ivfBatch]]'s residual-coded
    * sibling and the actual serving shape at scale: Q queries resolved
    * in ONE job over the bucketed codes table. Routing = the broadcast
    * (q_id, centroid_id, ppos) probe-pair frame; each code row is
    * ADC-scored only against the queries probing its cell (per-pair
    * LUT literal, integer-exact); per-query top-nCand by ADC, exact
    * full-dim refine of the survivors against the IVF index's in-row
    * vectors, per-query top-k. Total work ∝ Q · nProbe/nCentroids ·
    * |codes| + Q · nCand refine rows — never Q · corpus.
    * Deterministic: integer ADC, rounded refine, (dist, vec_id)
    * tiebreaks, identical to [[ivfPqScan]] per query. */
  def ivfPqBatch(spark: SparkSession, dir: String, qids: Seq[Long],
      nCand: Int, k: Int, nCentroids: Int = NCentroids,
      nProbe: Int = NProbe): DataFrame = {
    val codes = ensureCodesTable(spark, dir, nCentroids)
    val idx = Similarity.ensureIvfIndex(spark, dir, nCentroids)
    val cb = loadCodebook(spark, dir, nCentroids)
    val cm = centroidMicro(spark, dir, nCentroids)
    val fetched = ProductQuant.fetchQueries(spark, dir, qids)
    val pairs = qids.flatMap { q =>
      Similarity.probeCells(spark, idx, fetched(q)._2.toSeq, nProbe)
        .map(cell => (q, cell))
    }
    val pairsDf = broadcast(spark.createDataFrame(
        pairs.zipWithIndex.map { case ((q, cell), i) => (q, cell, i) })
      .toDF("q_id", "centroid_id", "ppos"))
    val lutLit = typedLit(pairs.map { case (q, cell) =>
      val qq = fetched(q)._1
      val rq = Array.tabulate(qq.length)(i => qq(i) - cm(cell.toInt)(i))
      ProductQuant.buildLut(rq, cb).toSeq.map(_.toSeq)
    })
    val w = Window.partitionBy(col("q_id"))
    val cand = spark.table(codes)
      .join(pairsDf, Seq("centroid_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("label"),
        col("centroid_id"), adcDist(lutLit, col("ppos")).as("adist"))
      .withColumn("rn", row_number().over(
        w.orderBy(col("adist").asc, col("vec_id").asc)))
      .filter(col("rn") <= nCand)
      .drop("rn")
    // exact refine of the Q·nCand survivors against the index's in-row
    // vectors (bounded broadcast), per-query qv from the literal
    val qvsLit = typedLit(qids.map(q => fetched(q)._2.toSeq))
    val qdf = broadcast(spark.createDataFrame(
        qids.zipWithIndex.map { case (q, i) => (q, i) })
      .toDF("q_id", "qx"))
    broadcast(cand)
      .join(spark.table(idx).select(col("vec_id"), col("embedding")),
        "vec_id")
      .join(qdf, "q_id")
      .select(col("q_id"), col("vec_id"), col("label"),
        col("centroid_id"), col("adist"),
        round(ProductQuant.l2sq(col("embedding"),
          element_at(qvsLit, col("qx") + 1)), 6).as("dist"))
      .withColumn("rn", row_number().over(
        w.orderBy(col("dist").asc, col("vec_id").asc)))
      .filter(col("rn") <= k)
      .select("q_id", "vec_id", "label", "centroid_id", "adist", "dist")
      .orderBy(col("q_id").asc, col("dist").asc, col("vec_id").asc)
  }

  def ivfPqBatchOracleSql(qids: Seq[Long], nCand: Int, k: Int,
      nCentroids: Int = NCentroids, nProbe: Int = NProbe): String = {
    val inList = qids.mkString(", ")
    s"""WITH ${ivfPqCtes(nCentroids)}, qs AS (
       |  SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id IN ($inList)
       |), qcells AS (
       |  SELECT q_id, centroid_id FROM (
       |    SELECT q.q_id, cents.centroid_id,
       |      row_number() OVER (PARTITION BY q.q_id ORDER BY
       |        round(1.0 - list_dot_product(cents.cv, q.qv)
       |          / (sqrt(list_dot_product(cents.cv, cents.cv))
       |             * sqrt(list_dot_product(q.qv, q.qv))), 6) ASC,
       |        cents.centroid_id ASC) AS rn
       |    FROM cents, qs q) WHERE rn <= $nProbe
       |), qres AS (
       |  SELECT qc.q_id, qc.centroid_id, cm.dim // $Dsub AS s,
       |    cm.dim % $Dsub AS sd, p.q - cm.cq AS q
       |  FROM qcells qc
       |  JOIN cmic cm ON cm.centroid_id = qc.centroid_id
       |  JOIN mic p ON p.vec_id = qc.q_id AND p.dim = cm.dim
       |), lutq AS (
       |  SELECT r.q_id, r.centroid_id, c.s, c.c,
       |    sum((r.q - c.cq) * (r.q - c.cq)) AS d
       |  FROM rqcb$Iterations c JOIN qres r
       |    ON r.s = c.s AND r.sd = c.sd
       |  GROUP BY 1, 2, 3, 4
       |), ad AS (
       |  SELECT l.q_id, enc.vec_id, cl.label, cl.centroid_id,
       |    CAST(sum(l.d) AS BIGINT) AS adist
       |  FROM rqenc enc
       |  JOIN cells cl ON cl.vec_id = enc.vec_id
       |  JOIN lutq l ON l.centroid_id = cl.centroid_id
       |    AND l.s = enc.s AND l.c = enc.c
       |  WHERE enc.vec_id <> l.q_id
       |  GROUP BY 1, 2, 3, 4
       |), cand AS (
       |  SELECT q_id, vec_id, label, centroid_id, adist FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |      ORDER BY adist ASC, vec_id ASC) AS rn
       |    FROM ad) x
       |  WHERE rn <= $nCand
       |), ref AS (
       |  SELECT c.q_id, c.vec_id, c.label, c.centroid_id, c.adist,
       |    round(list_dot_product(e.v, e.v)
       |      - 2 * list_dot_product(e.v, qs.qv)
       |      + list_dot_product(qs.qv, qs.qv), 6) AS dist
       |  FROM cand c
       |  JOIN e ON e.vec_id = c.vec_id
       |  JOIN qs ON qs.q_id = c.q_id
       |)
       |SELECT q_id, vec_id, label, centroid_id, adist, dist FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY dist ASC, vec_id ASC) AS rn
       |  FROM ref) y
       |WHERE rn <= $k
       |ORDER BY q_id ASC, dist ASC, vec_id ASC""".stripMargin
  }

  /** Index-quality self-evaluation (mirrors [[ProductQuant.pqRecall]])
    * — SERVING recall@k: the full serving path per query (prune to the
    * nProbe cells, ADC-rank the survivors, keep the top-`nCand`
    * candidate pool, exact full-dim refine, top-k), compared against
    * the exact full-corpus L2 top-k. Round 11 measured the PURE-ADC
    * ranking here (no refine) at 0.158@10 — a number that punished the
    * 16-codeword subquantizers for error the serving path's exact
    * refine removes; what an ivfflat user actually receives is the
    * refined list, so that is what the gate scores. With the refine
    * exact, residual quantization only has to get a true neighbor
    * into the top-nCand pool, and the remaining loss is cell pruning
    * (a true neighbor living outside the probed cells — the nProbe
    * knob, shared with the IVF family). One job ranks all Q queries:
    * the (q_id, centroid_id, ppos) probe-pair frame broadcasts against
    * the bucketed codes scan; refine touches Q·nCand rows; all
    * rankings use q_id-partitioned windows. */
  def ivfPqRecall(spark: SparkSession, dir: String, qids: Seq[Long],
      k: Int, nCand: Int = 50, nCentroids: Int = NCentroids,
      nProbe: Int = NProbe): DataFrame = {
    val codes = ensureCodesTable(spark, dir, nCentroids)
    val idx = Similarity.ensureIvfIndex(spark, dir, nCentroids)
    val cb = loadCodebook(spark, dir, nCentroids)
    val cm = centroidMicro(spark, dir, nCentroids)
    val fetched = ProductQuant.fetchQueries(spark, dir, qids)
    val qvsLit = typedLit(qids.map(q => fetched(q)._2.toSeq))
    val qdf = broadcast(spark.createDataFrame(
        qids.zipWithIndex.map { case (q, i) => (q, i) })
      .toDF("q_id", "qx"))
    val w = Window.partitionBy(col("q_id"))
    // exact side: persisted ground truth (EvalCache, built once)
    val exact = ProductQuant.exactL2Gt(spark, dir, qids, k)
    // approximate side: ADC within each query's nProbe cells only.
    // Flatten (query, probed cell) into one pair list; ppos indexes
    // the 3-level LUT literal.
    val pairs = qids.flatMap { q =>
      Similarity.probeCells(spark, idx, fetched(q)._2.toSeq, nProbe)
        .map(cell => (q, cell))
    }
    val pairsDf = broadcast(spark.createDataFrame(
        pairs.zipWithIndex.map { case ((q, cell), i) => (q, cell, i) })
      .toDF("q_id", "centroid_id", "ppos"))
    val lutLit = typedLit(pairs.map { case (q, cell) =>
      val qq = fetched(q)._1
      val rq = Array.tabulate(qq.length)(i => qq(i) - cm(cell.toInt)(i))
      ProductQuant.buildLut(rq, cb).toSeq.map(_.toSeq)
    })
    val pool = spark.table(codes)
      .join(pairsDf, Seq("centroid_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        adcDist(lutLit, col("ppos")).as("adist"))
      .withColumn("rn", row_number().over(
        w.orderBy(col("adist").asc, col("vec_id").asc)))
      .filter(col("rn") <= nCand)
      .select(col("q_id"), col("vec_id"))
    // exact full-dim refine of the Q·nCand pool — the serving path's
    // final stage (ivfPqScan/ivfPqBatch do exactly this), against the
    // IVF index's in-row vectors
    val approx = pool
      .join(spark.table(idx).select(col("vec_id"), col("embedding")),
        "vec_id")
      .join(qdf, Seq("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(ProductQuant.l2sq(col("embedding"),
          element_at(qvsLit, col("qx") + 1)), 6).as("dist"))
      .withColumn("rn", row_number().over(
        w.orderBy(col("dist").asc, col("vec_id").asc)))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("vec_id"), lit(1L).as("hit"))
    exact.join(approx, Seq("q_id", "vec_id"), "left")
      .groupBy("q_id")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0L))).as("n_common"))
      .select(col("q_id"), col("n_exact"), col("n_common"),
        expr(s"n_common * 1000000 div $k").as("recall_micro"))
      .orderBy(col("q_id").asc)
  }

  /** Serving recall over a LADDER of refine-pool widths — the IVFPQ
    * twin of `ann_recall_curve` (which sweeps nProbe for plain IVF):
    * one row per nCand with the aggregate recall@k over all queries.
    * Round 12 chose nCand=400 from exactly this curve (50→0.21,
    * 200→0.43, 400→0.555 at sf0.1, ceiling 0.57 from nProbe=3 cell
    * coverage); registering the sweep protects the pool-width choice
    * from silent degradation the same way the nProbe curve protects
    * the coarse layer. The ADC ranking is computed and cached ONCE;
    * each width is a filter + bounded refine over it. */
  def ivfPqRecallCurve(spark: SparkSession, dir: String,
      qids: Seq[Long], k: Int, nCands: Seq[Int],
      nCentroids: Int = NCentroids, nProbe: Int = NProbe): DataFrame = {
    val codes = ensureCodesTable(spark, dir, nCentroids)
    val idx = Similarity.ensureIvfIndex(spark, dir, nCentroids)
    val cb = loadCodebook(spark, dir, nCentroids)
    val cm = centroidMicro(spark, dir, nCentroids)
    val fetched = ProductQuant.fetchQueries(spark, dir, qids)
    val qvsLit = typedLit(qids.map(q => fetched(q)._2.toSeq))
    val qdf = broadcast(spark.createDataFrame(
        qids.zipWithIndex.map { case (q, i) => (q, i) })
      .toDF("q_id", "qx"))
    val w = Window.partitionBy(col("q_id"))
    // exact side: persisted ground truth (EvalCache, built once) —
    // read per width directly off the one-bucket table, no cache needed
    val exact = ProductQuant.exactL2Gt(spark, dir, qids, k)
    val pairs = qids.flatMap { q =>
      Similarity.probeCells(spark, idx, fetched(q)._2.toSeq, nProbe)
        .map(cell => (q, cell))
    }
    val pairsDf = broadcast(spark.createDataFrame(
        pairs.zipWithIndex.map { case ((q, cell), i) => (q, cell, i) })
      .toDF("q_id", "centroid_id", "ppos"))
    val lutLit = typedLit(pairs.map { case (q, cell) =>
      val qq = fetched(q)._1
      val rq = Array.tabulate(qq.length)(i => qq(i) - cm(cell.toInt)(i))
      ProductQuant.buildLut(rq, cb).toSeq.map(_.toSeq)
    })
    // ADC rank within probed cells, refined distance in-row: computed
    // once, every pool width is a filter over it
    val adc = CacheScope.cached(spark.table(codes)
      .join(pairsDf, Seq("centroid_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        adcDist(lutLit, col("ppos")).as("adist"))
      .withColumn("arn", row_number().over(
        w.orderBy(col("adist").asc, col("vec_id").asc)))
      .filter(col("arn") <= nCands.max)
      .join(spark.table(idx).select(col("vec_id"), col("embedding")),
        "vec_id")
      .join(qdf, Seq("q_id"))
      .select(col("q_id"), col("vec_id"), col("arn"),
        round(ProductQuant.l2sq(col("embedding"),
          element_at(qvsLit, col("qx") + 1)), 6).as("dist")))
    nCands.map { nc =>
      val hits = adc.filter(col("arn") <= nc)
        .withColumn("rr", row_number().over(
          w.orderBy(col("dist").asc, col("vec_id").asc)))
        .filter(col("rr") <= k)
        .select(col("q_id"), col("vec_id"), lit(1L).as("hit"))
      exact.join(hits, Seq("q_id", "vec_id"), "left")
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("hit"), lit(0L))).as("n_common"))
        .select(lit(nc).cast("long").as("n_cand"),
          col("n_exact"), col("n_common"),
          expr(s"n_common * 1000000 div (${qids.length} * $k)")
            .as("recall_micro"))
    }.reduce(_ union _)
      .orderBy(col("n_cand").asc)
  }

  def ivfPqRecallCurveOracleSql(qids: Seq[Long], k: Int,
      nCands: Seq[Int], nCentroids: Int = NCentroids,
      nProbe: Int = NProbe): String = {
    val inList = qids.mkString(", ")
    val widthCtes = nCands.map { nc =>
      s"""r$nc AS (
         |  SELECT CAST($nc AS BIGINT) AS n_cand,
         |    count(*) AS n_exact,
         |    CAST(sum(CASE WHEN h.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_common,
         |    CAST(sum(CASE WHEN h.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |      * 1000000 // (${qids.length} * $k) AS BIGINT)
         |      AS recall_micro
         |  FROM ex LEFT JOIN (
         |    SELECT q_id, vec_id FROM (
         |      SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
         |        ORDER BY dist ASC, vec_id ASC) AS rr
         |      FROM adc WHERE arn <= $nc) z
         |    WHERE rr <= $k) h
         |  ON h.q_id = ex.q_id AND h.vec_id = ex.vec_id
         |)""".stripMargin
    }.mkString(", ")
    val unions = nCands.map(nc => s"SELECT * FROM r$nc")
      .mkString("\n  UNION ALL ")
    s"""WITH ${ivfPqCtes(nCentroids)}, qs AS (
       |  SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id IN ($inList)
       |), qcells AS (
       |  SELECT q_id, centroid_id FROM (
       |    SELECT q.q_id, cents.centroid_id,
       |      row_number() OVER (PARTITION BY q.q_id ORDER BY
       |        round(1.0 - list_dot_product(cents.cv, q.qv)
       |          / (sqrt(list_dot_product(cents.cv, cents.cv))
       |             * sqrt(list_dot_product(q.qv, q.qv))), 6) ASC,
       |        cents.centroid_id ASC) AS rn
       |    FROM cents, qs q) WHERE rn <= $nProbe
       |), ex AS MATERIALIZED (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q.q_id, e.vec_id,
       |      row_number() OVER (PARTITION BY q.q_id ORDER BY
       |        round(list_dot_product(e.v, e.v)
       |          - 2 * list_dot_product(e.v, q.qv)
       |          + list_dot_product(q.qv, q.qv), 6) ASC,
       |        e.vec_id ASC) AS rn
       |    FROM e, qs q WHERE e.vec_id <> q.q_id) x
       |  WHERE rn <= $k
       |), qres AS (
       |  SELECT qc.q_id, qc.centroid_id, cm.dim // $Dsub AS s,
       |    cm.dim % $Dsub AS sd, p.q - cm.cq AS q
       |  FROM qcells qc
       |  JOIN cmic cm ON cm.centroid_id = qc.centroid_id
       |  JOIN mic p ON p.vec_id = qc.q_id AND p.dim = cm.dim
       |), lutq AS (
       |  SELECT r.q_id, r.centroid_id, c.s, c.c,
       |    sum((r.q - c.cq) * (r.q - c.cq)) AS d
       |  FROM rqcb$Iterations c JOIN qres r
       |    ON r.s = c.s AND r.sd = c.sd
       |  GROUP BY 1, 2, 3, 4
       |), adc AS MATERIALIZED (
       |  SELECT y.q_id, y.vec_id, y.arn,
       |    round(list_dot_product(e.v, e.v)
       |      - 2 * list_dot_product(e.v, q.qv)
       |      + list_dot_product(q.qv, q.qv), 6) AS dist
       |  FROM (
       |    SELECT l.q_id, enc.vec_id,
       |      row_number() OVER (PARTITION BY l.q_id ORDER BY
       |        sum(l.d) ASC, enc.vec_id ASC) AS arn
       |    FROM rqenc enc
       |    JOIN cells cl ON cl.vec_id = enc.vec_id
       |    JOIN lutq l ON l.centroid_id = cl.centroid_id
       |      AND l.s = enc.s AND l.c = enc.c
       |    WHERE enc.vec_id <> l.q_id
       |    GROUP BY 1, 2) y
       |  JOIN e ON e.vec_id = y.vec_id
       |  JOIN qs q ON q.q_id = y.q_id
       |  WHERE y.arn <= ${nCands.max}
       |), $widthCtes
       |SELECT n_cand, n_exact, n_common, recall_micro FROM (
       |  $unions
       |) u ORDER BY n_cand ASC""".stripMargin
  }

  // ---- oracle SQL ----

  /** Shared CTE block for the IVF-PQ oracles: `e` (double vectors),
    * `cents`/`cells` (the IVF family's round-6 cosine assignment —
    * textually the [[Similarity.ivfTopKOracleSql]] CTEs), `mic`/`cmic`
    * (micro points / centroid micro points), `respts` (residuals), and
    * the shared Lloyd chain over them under the `rq` prefix
    * ([[ProductQuant.lloydCtes]] → `rqcb$Iterations`, `rqenc`). */
  private def ivfPqCtes(nCentroids: Int): String =
    s"""e AS MATERIALIZED (
       |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings
       |), ${Similarity.centsCtes(nCentroids)}, asg AS (
       |  SELECT vec_id, label, centroid_id,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY
       |      round(1.0 - list_dot_product(v, cv)
       |        / (sqrt(list_dot_product(v, v))
       |           * sqrt(list_dot_product(cv, cv))), 6) ASC,
       |      centroid_id ASC) AS rn
       |  FROM e, cents
       |), cells AS MATERIALIZED (
       |  SELECT vec_id, label, centroid_id FROM asg WHERE rn = 1
       |), mic AS MATERIALIZED (
       |  SELECT vec_id,
       |    generate_subscripts(embedding, 1) - 1 AS dim,
       |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e6)
       |      AS BIGINT) AS q
       |  FROM embeddings
       |), cmic AS MATERIALIZED (
       |  -- the trained centroid micro matrix: the coarse fit's final
       |  -- cent CTE IS the integer micro representation (no
       |  -- re-rounding needed)
       |  SELECT cluster AS centroid_id, dim, c AS cq
       |  FROM cent${Similarity.CoarseIterations}
       |), respts AS MATERIALIZED (
       |  SELECT p.vec_id, p.dim // $Dsub AS s, p.dim % $Dsub AS sd,
       |    p.q - cm.cq AS q
       |  FROM mic p
       |  JOIN cells cl ON cl.vec_id = p.vec_id
       |  JOIN cmic cm ON cm.centroid_id = cl.centroid_id
       |    AND cm.dim = p.dim
       |), ${ProductQuant.lloydCtes("respts", "rq")}""".stripMargin

  def ivfPqScanOracleSql(qid: Long, nCand: Int, k: Int,
      nCentroids: Int = NCentroids, nProbe: Int = NProbe): String =
    s"""WITH ${ivfPqCtes(nCentroids)}, q AS (
       |  SELECT v AS qv FROM e WHERE vec_id = $qid
       |), qcells AS (
       |  SELECT centroid_id FROM cents, q
       |  ORDER BY round(1.0 - list_dot_product(cv, qv)
       |    / (sqrt(list_dot_product(cv, cv))
       |       * sqrt(list_dot_product(qv, qv))), 6) ASC,
       |    centroid_id ASC
       |  LIMIT $nProbe
       |), qres AS (
       |  SELECT cm.centroid_id, cm.dim // $Dsub AS s,
       |    cm.dim % $Dsub AS sd, p.q - cm.cq AS q
       |  FROM mic p
       |  JOIN cmic cm ON cm.dim = p.dim
       |  JOIN qcells qc ON qc.centroid_id = cm.centroid_id
       |  WHERE p.vec_id = $qid
       |), lut AS (
       |  SELECT r.centroid_id, c.s, c.c,
       |    sum((r.q - c.cq) * (r.q - c.cq)) AS d
       |  FROM rqcb$Iterations c JOIN qres r
       |    ON r.s = c.s AND r.sd = c.sd
       |  GROUP BY 1, 2, 3
       |), ad AS (
       |  SELECT cl.vec_id, cl.label, cl.centroid_id,
       |    CAST(sum(l.d) AS BIGINT) AS adist
       |  FROM rqenc enc
       |  JOIN cells cl ON cl.vec_id = enc.vec_id
       |  JOIN lut l ON l.centroid_id = cl.centroid_id
       |    AND l.s = enc.s AND l.c = enc.c
       |  WHERE enc.vec_id <> $qid
       |  GROUP BY 1, 2, 3
       |), cand AS (
       |  SELECT vec_id, label, centroid_id, adist FROM ad
       |  ORDER BY adist ASC, vec_id ASC LIMIT $nCand
       |)
       |SELECT c.vec_id, c.label, c.centroid_id, c.adist,
       |  round(list_dot_product(e.v, e.v)
       |    - 2 * list_dot_product(e.v, qv)
       |    + list_dot_product(qv, qv), 6) AS dist
       |FROM cand c JOIN e ON e.vec_id = c.vec_id, q
       |ORDER BY dist ASC, c.vec_id ASC LIMIT $k""".stripMargin

  def ivfPqRecallOracleSql(qids: Seq[Long], k: Int, nCand: Int = 50,
      nCentroids: Int = NCentroids, nProbe: Int = NProbe): String = {
    val inList = qids.mkString(", ")
    s"""WITH ${ivfPqCtes(nCentroids)}, qs AS (
       |  SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id IN ($inList)
       |), qcells AS (
       |  SELECT q_id, centroid_id FROM (
       |    SELECT q.q_id, cents.centroid_id,
       |      row_number() OVER (PARTITION BY q.q_id ORDER BY
       |        round(1.0 - list_dot_product(cents.cv, q.qv)
       |          / (sqrt(list_dot_product(cents.cv, cents.cv))
       |             * sqrt(list_dot_product(q.qv, q.qv))), 6) ASC,
       |        cents.centroid_id ASC) AS rn
       |    FROM cents, qs q) WHERE rn <= $nProbe
       |), exact AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q.q_id, e.vec_id,
       |      row_number() OVER (PARTITION BY q.q_id ORDER BY
       |        round(list_dot_product(e.v, e.v)
       |          - 2 * list_dot_product(e.v, q.qv)
       |          + list_dot_product(q.qv, q.qv), 6) ASC,
       |        e.vec_id ASC) AS rn
       |    FROM e, qs q WHERE e.vec_id <> q.q_id) x
       |  WHERE rn <= $k
       |), qres AS (
       |  SELECT qc.q_id, qc.centroid_id, cm.dim // $Dsub AS s,
       |    cm.dim % $Dsub AS sd, p.q - cm.cq AS q
       |  FROM qcells qc
       |  JOIN cmic cm ON cm.centroid_id = qc.centroid_id
       |  JOIN mic p ON p.vec_id = qc.q_id AND p.dim = cm.dim
       |), lutq AS (
       |  SELECT r.q_id, r.centroid_id, c.s, c.c,
       |    sum((r.q - c.cq) * (r.q - c.cq)) AS d
       |  FROM rqcb$Iterations c JOIN qres r
       |    ON r.s = c.s AND r.sd = c.sd
       |  GROUP BY 1, 2, 3, 4
       |), pool AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT l.q_id, enc.vec_id,
       |      row_number() OVER (PARTITION BY l.q_id ORDER BY
       |        sum(l.d) ASC, enc.vec_id ASC) AS rn
       |    FROM rqenc enc
       |    JOIN cells cl ON cl.vec_id = enc.vec_id
       |    JOIN lutq l ON l.centroid_id = cl.centroid_id
       |      AND l.s = enc.s AND l.c = enc.c
       |    WHERE enc.vec_id <> l.q_id
       |    GROUP BY 1, 2) y
       |  WHERE rn <= $nCand
       |), ap AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT p.q_id, p.vec_id,
       |      row_number() OVER (PARTITION BY p.q_id ORDER BY
       |        round(list_dot_product(e.v, e.v)
       |          - 2 * list_dot_product(e.v, q.qv)
       |          + list_dot_product(q.qv, q.qv), 6) ASC,
       |        p.vec_id ASC) AS rn
       |    FROM pool p
       |    JOIN e ON e.vec_id = p.vec_id
       |    JOIN qs q ON q.q_id = p.q_id) z
       |  WHERE rn <= $k
       |)
       |SELECT ex.q_id, count(*) AS n_exact,
       |  CAST(sum(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_common,
       |  CAST(sum(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END)
       |    * 1000000 // $k AS BIGINT) AS recall_micro
       |FROM exact ex LEFT JOIN ap
       |  ON ap.q_id = ex.q_id AND ap.vec_id = ex.vec_id
       |GROUP BY ex.q_id ORDER BY ex.q_id ASC""".stripMargin
  }

  /** Oracle for the streamed-ingest cell digest
    * (graft.streaming.StreamBridge.streamIvfPqCells): the same
    * count / packed-code-sum / vec-span per cell, computed from the
    * batch assignment + residual encoding CTEs — hash-equality proves
    * the foreachBatch-built index equals the batch-built one. */
  def streamedCellsOracleSql(nCentroids: Int = NCentroids): String =
    s"""WITH ${ivfPqCtes(nCentroids)}, ci AS (
       |  SELECT vec_id,
       |    CAST(sum(c * (CAST(1 AS BIGINT) << (4 * s))) AS BIGINT)
       |      AS code_int
       |  FROM rqenc GROUP BY 1
       |)
       |SELECT cl.centroid_id, count(*) AS n_vecs,
       |  CAST(sum(ci.code_int) AS BIGINT) AS codes_sum,
       |  min(cl.vec_id) AS min_vec, max(cl.vec_id) AS max_vec
       |FROM cells cl JOIN ci ON ci.vec_id = cl.vec_id
       |GROUP BY 1 ORDER BY 1 ASC""".stripMargin
}
