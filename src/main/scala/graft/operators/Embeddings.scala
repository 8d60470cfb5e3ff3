package graft.operators

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.feature.{BucketedRandomProjectionLSH, BucketedRandomProjectionLSHModel, HashingTF, IDF, Normalizer, RegexTokenizer, StopWordsRemover}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextAnalyzer

/** V5: the embedding-generation analog (SURVEY.md §2.3).
  *
  * The reference generates embeddings with sentence-transformers or a
  * remote API (/root/reference/src/core/embedding_client.py:59-124) and
  * indexes them with pgvector ivfflat (scripts/init-db.sql:32). The
  * Spark-native analog is an MLlib batch pipeline:
  *
  *   RegexTokenizer → StopWordsRemover (same stopword list as
  *   TextAnalyzer) → HashingTF(dim) → IDF → Normalizer(L2)
  *
  * producing fixed-dimension L2-normalized sparse vectors — deterministic,
  * offline, dimension-configurable (the reference's 384/768/1024 knob,
  * src/config/settings.py:37). The ANN index analog is
  * BucketedRandomProjectionLSH (fixed seed): bulk index build =
  * model.transform (hash buckets persisted alongside), search =
  * approxNearestNeighbors → exact cosine re-rank of the candidate set,
  * mirroring ivfflat's probe-then-refine.
  *
  * At 100 TB: the pipeline is one map-side pass (no shuffle except IDF's
  * doc-frequency aggregate); LSH bucketing is the standard shuffle-light
  * candidate generation for the similarity self-join.
  */
object Embeddings {

  val DefaultDim = 256

  def pipeline(dim: Int = DefaultDim): Pipeline = {
    val tok = new RegexTokenizer()
      .setInputCol("text").setOutputCol("raw_tokens")
      .setPattern("\\W+").setToLowercase(true)
      .setMinTokenLength(TextAnalyzer.MinTokenLen)
    val stop = new StopWordsRemover()
      .setInputCol("raw_tokens").setOutputCol("tokens")
      .setStopWords(TextAnalyzer.StopWords.toArray)
    val tf = new HashingTF()
      .setInputCol("tokens").setOutputCol("tf").setNumFeatures(dim)
    val idf = new IDF().setInputCol("tf").setOutputCol("tfidf")
    val norm = new Normalizer()
      .setInputCol("tfidf").setOutputCol("embedding").setP(2.0)
    new Pipeline().setStages(Array(tok, stop, tf, idf, norm))
  }

  /** Batch embedding generation over the documents table: one vector per
    * doc (the embeddings side-table shape, FIXTURES.md). */
  def embedDocuments(spark: SparkSession, dir: String,
      dim: Int = DefaultDim): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val model = pipeline(dim).fit(docs)
    model.transform(docs).select("doc_id", "embedding")
  }

  /** Fit-once model cache, keyed by the index table name
    * ([[embIndexName]]: the documents content hash and dim): the TF-IDF
    * pipeline and the LSH model are INDEX ARTIFACTS — fitting them is
    * the index build, and re-fitting per search (the round-2/3 shape)
    * is a full-corpus pass per query. One fit per corpus generation per
    * session, so an in-place fixture regeneration refits instead of
    * transforming the new corpus with the old fit; at cluster scale
    * these would be `model.save`d next to the index table. */
  private val models = new java.util.concurrent.ConcurrentHashMap[
    String, (PipelineModel, BucketedRandomProjectionLSHModel)]

  /** Deterministic catalog name for the persisted hashed-embedding
    * index of (dir, dim). */
  def embIndexName(dir: String, dim: Int): String =
    s"graft_emb_${ScaleOps.contentHash(dir, "documents")}_d$dim"

  /** Build-once / probe-many: fit the TF-IDF pipeline and LSH model
    * once per (dir, dim), persist (doc_id, embedding, hashes) to the
    * session catalog, and return (models, hashed index frame).
    * `approxNearestNeighbors` sees the precomputed `hashes` column and
    * skips re-hashing the corpus, so a search touches only the stored
    * index — the ivfflat build/probe split (init-db.sql:32) for the
    * MLlib path. */
  def ensureEmbIndex(spark: SparkSession, dir: String,
      dim: Int = DefaultDim):
      ((PipelineModel, BucketedRandomProjectionLSHModel), DataFrame) = {
    val name = embIndexName(dir, dim)
    val fitted = models.computeIfAbsent(name, { _ =>
      val docs = Tables.documents(spark, dir)
      val pm = pipeline(dim).fit(docs)
      val lsh = new BucketedRandomProjectionLSH()
        .setInputCol("embedding").setOutputCol("hashes")
        .setBucketLength(2.0).setNumHashTables(3).setSeed(42L)
      val emb = pm.transform(docs).select("doc_id", "embedding")
      (pm, lsh.fit(emb))
    })
    // NOT attachable (deliberate exception to the attach-many
    // lifecycle): this table carries ml VectorUDT columns, and an
    // external-table registration declares the parquet STRUCT encoding
    // — a fresh session attaching it would hand GenericRow structs to
    // consumers that cast to ml.linalg.Vector. The fit itself is
    // per-JVM driver state anyway, so each JVM builds its own table in
    // its own location: no attach marker, no cross-JVM build lock, and
    // no other JVM's files to drop.
    if (!spark.catalog.tableExists(name)) models.synchronized {
      if (!spark.catalog.tableExists(name)) ScaleOps.BuildTimer.timed {
        val docs = Tables.documents(spark, dir)
        val emb = fitted._1.transform(docs).select("doc_id", "embedding")
        ScaleOps.saveAs(fitted._2.transform(emb),
          ScaleOps.AttachSpec(name, "doc_id", 8),
          Some(privateDir.resolve(name).toString))
      }
    }
    (fitted, spark.table(name))
  }

  /** This JVM's home for the hashed-embedding tables, deleted at exit. */
  private lazy val privateDir: java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory("graft-emb-")
    sys.addShutdownHook(graft.sources.ParquetStore.deleteRecursively(d))
    d
  }

  /** LSH index + ANN query: top-k nearest neighbors of the document
    * `queryDocId` among all other documents, by cosine distance over the
    * TF-IDF embeddings (candidates from the persisted LSH index, exact
    * re-rank via codegen'd array arithmetic — no UDF). */
  def annSearch(spark: SparkSession, dir: String, queryDocId: Long,
      k: Int, dim: Int = DefaultDim): DataFrame = {
    val ((_, lshModel), hashed) = ensureEmbIndex(spark, dir, dim)
    // one-row point lookup of the query vector (inherent to point-query
    // ANN); only the query vector is hashed at search time
    val queryVec = hashed.filter(col("doc_id") === queryDocId)
      .head().getAs[org.apache.spark.ml.linalg.Vector]("embedding")
    // L2-normalized vectors: euclidean² = 2·(1−cos) → same ordering;
    // ask for extra candidates then exact re-rank
    val candidates = lshModel.approxNearestNeighbors(
      hashed.filter(col("doc_id") =!= queryDocId),
      queryVec, math.max(k * 4, 20)).toDF()
    val qArr = typedLit(queryVec.toArray.toSeq)
    candidates
      .select(col("doc_id"),
        round(lit(1.0) - Similarity.dot(
          vector_to_array(col("embedding")), qArr), 6).as("dist"))
      .orderBy(col("dist").asc, col("doc_id").asc)
      .limit(k)
  }

  /** HARD recall gate for the TF-IDF embedding + LSH family (r15
    * verdict #5: `emb_tfidf_ann` rode rows-only) — the `ann_recall`
    * pattern over TEXT-DERIVED vectors, fully DuckDB-expressible.
    *
    * The MLlib basis above (HashingTF murmur3 + BRP-LSH with JVM
    * random projections) cannot be recomputed in SQL, so this gate
    * owns an oracle-expressible twin of the same architecture:
    *
    *   - explicit-vocabulary TF-IDF: vocab = top-`vocabSize` terms by
    *     (df DESC, term ASC); weight w(d,t) = tf · idf3(t) with
    *     idf3 = round(ln((N+1)/(df+1))·10³) — integer MILLI-UNITS, so
    *     every dot product and norm below is exact BIGINT arithmetic
    *     in both engines (the clustering family's micro-unit
    *     discipline; magnitudes stay under 2⁵³ so the final double
    *     conversion is exact too);
    *   - signed-random-projection LSH (SimHash for cosine, Charikar
    *     2002): bit_b = [Σ_t w·s(t,b) ≥ 0] with s(t,b) = ±1 derived
    *     from md5(term:b) parity — deterministic and identical in SQL;
    *     `bits` bits in bands of `bandBits`, candidates = docs sharing
    *     any band value with the query doc;
    *   - approx = exact cosine re-rank of the candidates, top-k;
    *     exact = cosine top-k over ALL docs with positive dot (the
    *     sparse-retrieval retrievability rule, applied identically on
    *     both sides); recall@k per query doc.
    *
    * Scale shape: one token-grain shuffle (tf), a top-V limit for the
    * vocab, ONE doc-grain aggregate computing all `bits` projection
    * sums AND the norm in the same pass, broadcast joins for the
    * bounded query side. The exact side scans the vocab terms' posting
    * lists — inherent to a recall evaluation (ann_recall does the
    * same); the gate runs per corpus snapshot, not per serving query. */
  def tfidfSimhashRecall(spark: SparkSession, dir: String,
      qids: Seq[Long], k: Int, vocabSize: Int = 64, bits: Int = 16,
      bandBits: Int = 4): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // bounded driver action: one count job for the idf N (the zorder
    // tmin pattern — a literal beats re-planning a 1-row cross join)
    val n = docs.count()
    val tf = docs
      .select(col("doc_id"),
        explode(TextAnalyzer.tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .transform(CacheScope.cached)
    val signCols = (0 until bits).map(b =>
      when(conv(substring(md5(concat(col("term"), lit(s":$b"))), 1, 7),
        16, 10).cast("long") % 2 === 0, 1L).otherwise(-1L).as(s"sg$b"))
    val vocab = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("term").asc)
      .limit(vocabSize)
      .select(col("term") +:
        round(log((lit(n) + lit(1.0)) / (col("df") + lit(1.0))) * 1e3)
          .cast("long").as("idf3") +: signCols: _*)
    val w = tf.join(broadcast(vocab), Seq("term"))
      .select(Seq(col("doc_id"), col("term"),
        (col("tf") * col("idf3")).as("w")) ++
        (0 until bits).map(b => col(s"sg$b")): _*)
      .transform(CacheScope.cached)
    // ONE doc-grain aggregate: all projection sums + the norm
    val projAggs = (0 until bits).map(b =>
      sum(col("w") * col(s"sg$b")).as(s"bs$b")) :+
      sum(col("w") * col("w")).as("nn")
    val perDoc = w.groupBy(col("doc_id"))
      .agg(projAggs.head, projAggs.tail: _*)
      .transform(CacheScope.cached)
    val nBands = bits / bandBits
    val bandStructs = (0 until nBands).map { j =>
      val bval = (0 until bandBits).map { i =>
        val b = j * bandBits + i
        when(col(s"bs$b") >= 0, lit(1L) * (1L << i)).otherwise(lit(0L))
      }.reduce(_ + _)
      struct(lit(j).as("band"), bval.as("bval"))
    }
    val bands = perDoc
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("s"))
      .select(col("doc_id"), col("s.band"), col("s.bval"))
    val isQ = col("doc_id").isin(qids.map(q => q: Any): _*)
    val qw = w.filter(isQ)
      .select(col("doc_id").as("q_doc"), col("term"), col("w").as("wq"))
    val qn = perDoc.filter(isQ)
      .select(col("doc_id").as("q_doc"), col("nn").as("nq"))
    val qbands = bands.filter(isQ)
      .select(col("doc_id").as("q_doc"), col("band"), col("bval"))
    // exact BIGINT dots for every (q, doc) pair sharing a vocab term
    val dist = w.join(broadcast(qw), Seq("term"))
      .filter(col("doc_id") =!= col("q_doc"))
      .groupBy(col("q_doc"), col("doc_id"))
      .agg(sum(col("w") * col("wq")).as("dot"))
      .filter(col("dot") > 0)
      .join(perDoc.select(col("doc_id"), col("nn")), Seq("doc_id"))
      .join(broadcast(qn), Seq("q_doc"))
      .select(col("q_doc"), col("doc_id"),
        round(lit(1.0) - col("dot") /
          (sqrt(col("nn").cast("double")) * sqrt(col("nq").cast("double"))),
          6).as("dist"))
      .transform(CacheScope.cached)
    val byDist = Window.partitionBy(col("q_doc"))
      .orderBy(col("dist").asc, col("doc_id").asc)
    val exact = dist.withColumn("rn", row_number().over(byDist))
      .filter(col("rn") <= k).select(col("q_doc"), col("doc_id"))
    val cands = bands.join(broadcast(qbands), Seq("band", "bval"))
      .filter(col("doc_id") =!= col("q_doc"))
      .select(col("q_doc"), col("doc_id")).distinct()
    val approx = dist.join(cands, Seq("q_doc", "doc_id"))
      .withColumn("rn", row_number().over(byDist))
      .filter(col("rn") <= k)
      .select(col("q_doc"), col("doc_id"), lit(1L).as("in_a"))
    exact.join(approx, Seq("q_doc", "doc_id"), "left")
      .groupBy(col("q_doc"))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("in_a"), lit(0L))).as("n_common"))
      .select(col("q_doc"), col("n_exact"), col("n_common"),
        expr("n_common * 1000000 div n_exact").as("recall_micro"))
      .orderBy(col("q_doc").asc)
  }

  def tfidfSimhashRecallOracleSql(qids: Seq[Long], k: Int,
      vocabSize: Int = 64, bits: Int = 16, bandBits: Int = 4): String = {
    val inList = qids.mkString(", ")
    s"""WITH tf AS MATERIALIZED (
       |  SELECT doc_id, term, count(*) AS tf FROM (
       |    SELECT doc_id, unnest(list_filter(
       |      string_split_regex(lower(text), '\\W+'),
       |      t -> ${TextAnalyzer.sqlTermFilter("t")})) AS term
       |    FROM documents)
       |  GROUP BY 1, 2
       |), nn AS (SELECT count(*) AS n FROM documents),
       |vocab AS MATERIALIZED (
       |  SELECT term,
       |    CAST(round(ln((n + 1.0) / (df + 1.0)) * 1000) AS BIGINT)
       |      AS idf3
       |  FROM (SELECT term, count(*) AS df FROM tf GROUP BY 1), nn
       |  ORDER BY df DESC, term ASC LIMIT $vocabSize
       |), w AS MATERIALIZED (
       |  SELECT doc_id, tf.term, tf * idf3 AS w
       |  FROM tf JOIN vocab ON tf.term = vocab.term
       |), norms AS MATERIALIZED (
       |  SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS nn
       |  FROM w GROUP BY 1
       |), signs AS (
       |  SELECT term, b,
       |    CASE WHEN CAST('0x' || substr(md5(term || ':' || b), 1, 7)
       |      AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END AS s
       |  FROM vocab CROSS JOIN range($bits) t(b)
       |), bands AS MATERIALIZED (
       |  SELECT doc_id, b // $bandBits AS band,
       |    CAST(sum(CASE WHEN bs >= 0 THEN 1 << (b % $bandBits)
       |      ELSE 0 END) AS BIGINT) AS bval
       |  FROM (SELECT doc_id, b, CAST(sum(w * s) AS BIGINT) AS bs
       |        FROM w JOIN signs USING (term) GROUP BY 1, 2)
       |  GROUP BY 1, 2
       |), dist AS MATERIALIZED (
       |  SELECT d.q_doc, d.doc_id,
       |    round(1 - CAST(d.dot AS DOUBLE) /
       |      (sqrt(CAST(nd.nn AS DOUBLE)) * sqrt(CAST(nq.nn AS DOUBLE))),
       |      6) AS dist
       |  FROM (
       |    SELECT qw.doc_id AS q_doc, w.doc_id AS doc_id,
       |      CAST(sum(w.w * qw.w) AS BIGINT) AS dot
       |    FROM w JOIN w qw ON w.term = qw.term
       |      AND qw.doc_id IN ($inList) AND w.doc_id <> qw.doc_id
       |    GROUP BY 1, 2
       |    HAVING sum(w.w * qw.w) > 0) d
       |  JOIN norms nd ON nd.doc_id = d.doc_id
       |  JOIN norms nq ON nq.doc_id = d.q_doc
       |), exact AS (
       |  SELECT q_doc, doc_id FROM (
       |    SELECT q_doc, doc_id, row_number() OVER (PARTITION BY q_doc
       |      ORDER BY dist ASC, doc_id ASC) AS rn FROM dist)
       |  WHERE rn <= $k
       |), cand AS (
       |  SELECT DISTINCT qb.doc_id AS q_doc, b.doc_id
       |  FROM bands b JOIN bands qb
       |    ON b.band = qb.band AND b.bval = qb.bval
       |    AND qb.doc_id IN ($inList) AND b.doc_id <> qb.doc_id
       |), approx AS (
       |  SELECT q_doc, doc_id FROM (
       |    SELECT d.q_doc, d.doc_id, row_number() OVER (
       |      PARTITION BY d.q_doc
       |      ORDER BY d.dist ASC, d.doc_id ASC) AS rn
       |    FROM dist d JOIN cand c
       |      ON c.q_doc = d.q_doc AND c.doc_id = d.doc_id)
       |  WHERE rn <= $k
       |)
       |SELECT e.q_doc, count(*) AS n_exact,
       |  CAST(sum(CASE WHEN a.doc_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_common,
       |  CAST(sum(CASE WHEN a.doc_id IS NOT NULL THEN 1 ELSE 0 END)
       |    * 1000000 // count(*) AS BIGINT) AS recall_micro
       |FROM exact e LEFT JOIN approx a
       |  ON a.q_doc = e.q_doc AND a.doc_id = e.doc_id
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Exact cosine top-k over the generated embeddings (ground truth for
    * the ANN recall check). */
  def exactSearch(spark: SparkSession, dir: String, queryDocId: Long,
      k: Int, dim: Int = DefaultDim): DataFrame = {
    val (_, hashed) = ensureEmbIndex(spark, dir, dim)
    val queryVec = hashed.filter(col("doc_id") === queryDocId)
      .head().getAs[org.apache.spark.ml.linalg.Vector]("embedding")
    val qArr = typedLit(queryVec.toArray.toSeq)
    hashed.filter(col("doc_id") =!= queryDocId)
      .select(col("doc_id"),
        round(lit(1.0) - Similarity.dot(
          vector_to_array(col("embedding")), qArr), 6).as("dist"))
      .orderBy(col("dist").asc, col("doc_id").asc)
      .limit(k)
  }
}
