package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Graph-based ANN — the navigable-small-world serving structure
  * (Malkov & Yashunin's NSW/HNSW family; DiskANN's Vamana is the same
  * probe over a different build). A k-NN GRAPH is built once over the
  * corpus; a query walks it: start from a fixed entry point, expand the
  * current best-B frontier's out-edges, score the new candidates, keep
  * the best B, repeat R rounds, return top-k — touching
  * O(R·B·M) vectors regardless of corpus size.
  *
  * Spark-first build: candidate edges come from the trained IVF
  * geometry (vectors sharing any of their top-2 coarse cells), so the
  * quadratic neighbor search is bounded per cell exactly like
  * [[Similarity.embCosinePairs]]; each vector keeps its M nearest
  * candidates as directed out-edges, persisted BUCKETED BY src — a
  * frontier probe with driver-known ids statically prunes to the
  * frontier's buckets. The second-choice cell is what stitches cells
  * together (pure within-cell edges would make the graph unwalkable
  * across cell boundaries).
  *
  * Spark-first probe: the beam loop runs R bounded rounds as fused
  * PAIRS — three single-stage bucket-pruned jobs per two rounds (one-
  * hop dsts, their out-edges, one distance scan for both hops), every
  * probe a driver-known IN-list bounded by B·M then B·M², the second
  * round replayed driver-side from the collected superset (see
  * beamSearch). The final top-k is re-materialized as a real
  * scan-side projection (the collected ids become an IN-list), so the
  * returned frame's values are computed by the engine, not the
  * driver.
  *
  * Determinism: all distances round(…, 6); every selection (edge rank,
  * beam membership, final top-k) tiebreaks on vec_id; the oracle
  * replays the build chain and unrolls the SAME R beam rounds in SQL.
  * A spec measures beam recall against exact KNN; the oracle gates the
  * walk's exactness, the spec its quality.
  */
object GraphAnn {

  /** Build-once: the directed M-NN graph over 2-probe IVF candidates,
    * bucketed by src. Columns (src, dst, dist). */
  def ensureGraphIndex(spark: SparkSession, dir: String,
      nCentroids: Int, m: Int): String = {
    val name =
      s"graft_gann_${nCentroids}_${m}_${ScaleOps.contentHash(dir, "embeddings")}"
    // the input first: its generation must be current before this
    // family's marker is checked against it
    Similarity.ensureIvfIndex(spark, dir, nCentroids)
    ScaleOps.ensure(spark, ScaleOps.Family("graph_ann", 1),
        ScaleOps.AttachSpec(name, "src", 16)) {
      // probe-2 assignment against the SAME stored trained centroids
      // the IVF index uses (build once, share everywhere)
      val idx = Similarity.ensureIvfIndex(spark, dir, nCentroids)
      val cents = spark.table(s"${idx}_cents")
      val w = Window.partitionBy("vec_id")
        .orderBy(col("cdist").asc, col("centroid_id").asc)
      val asg2 = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"),
          Similarity.norm(col("embedding")).as("nrm"))
        .crossJoin(broadcast(cents))
        .select(col("vec_id"), col("embedding"), col("nrm"),
          col("centroid_id"),
          round(Similarity.cosineDistancePre(col("embedding"), col("cv"),
            col("nrm"), col("cn")), 6).as("cdist"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .select("vec_id", "embedding", "nrm", "centroid_id")
      // bounded quadratic: pairs sharing a cell; a pair sharing BOTH
      // cells dedupes before ranking
      val pairs = asg2.as("x")
        .join(asg2.as("y"),
          col("x.centroid_id") === col("y.centroid_id") &&
            col("x.vec_id") =!= col("y.vec_id"))
        .select(col("x.vec_id").as("src"), col("y.vec_id").as("dst"),
          round(Similarity.cosineDistancePre(
            col("x.embedding"), col("y.embedding"),
            col("x.nrm"), col("y.nrm")), 6).as("dist"))
        .distinct()
      val wm = Window.partitionBy("src")
        .orderBy(col("dist").asc, col("dst").asc)
      Seq(pairs.withColumn("rn", row_number().over(wm))
        .filter(col("rn") <= m)
        .select("src", "dst", "dist"))
    }
  }

  /** Bounded, generation-checked memo of fetched query vectors — the
    * ProductQuant fetch discipline: (vec_id, qv, qn) for a qid set,
    * collected once per (embeddings generation, qid set). qv/qn are
    * produced by the SAME Spark expressions the former broadcast query
    * frame carried (array<double> cast + norm), so literal-based
    * scoring is arithmetic-identical to the r18 crossJoin(broadcast)
    * form — while removing one broadcast-exchange job per beam round
    * (r19 verdict #4: the trio's cost is sequential job dispatch, and
    * the per-round broadcast materialization was a full job each). */
  private val queryFetchMemo = new DriverMemo[
    (String, Seq[Long]), Seq[(Long, Seq[Double], Double)]](128)

  private def fetchQueries(spark: SparkSession, dir: String,
      ids: Seq[Long]): Seq[(Long, Seq[Double], Double)] = {
    val gen = ScaleOps.contentHash(dir, "embeddings")
    queryFetchMemo.getOrCompute((gen, ids.sorted), gen) {
      Tables.embeddings(spark, dir)
        .filter(col("vec_id").isin(ids.map(Long.box): _*))
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("qv"),
          Similarity.norm(col("embedding")).as("qn"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq,
          r.getDouble(2)))
        .toSeq
    }
  }

  /** Beam search over the graph: entry point -> R rounds of
    * (expand best-B frontier, score new neighbors) -> top-k.
    * Output (vec_id, label, dist). */
  def beamSearch(spark: SparkSession, dir: String, qid: Long,
      entry: Long, nCentroids: Int, m: Int, beam: Int, rounds: Int,
      k: Int): DataFrame = {
    val edgesT = ensureGraphIndex(spark, dir, nCentroids, m)
    val emb = Tables.embeddings(spark, dir)
    val qrow = fetchQueries(spark, dir, Seq(qid))
    // fail loudly on a missing query vector (the r18 broadcast form
    // silently returned an empty frame) — no declared query can hit
    // this: the oracle gate requires the fixture qid to exist
    require(qrow.nonEmpty, s"query vector $qid not found")
    val qv = typedLit(qrow.head._2)
    val qn = lit(qrow.head._3)
    // distances for a DRIVER-KNOWN id set: a bucket-pruned emb scan
    // with a scan-local literal-query score — no join, no broadcast,
    // one single-stage job (the r18 form joined an ids frame to emb,
    // and the planner's broadcast materialization was a scheduled job
    // per call)
    def distsOf(ids: Seq[Long]): Map[Long, Double] =
      if (ids.isEmpty) Map.empty
      else emb.filter(col("vec_id").isin(ids.map(Long.box): _*))
        .select(col("vec_id"),
          round(lit(1.0) - Similarity.dot(col("embedding"), qv)
            / (Similarity.norm(col("embedding")) * qn), 6)
            .as("dist"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    // a dst without an embeddings row (stale edges table) fails by name
    def scoredOf(dists: Map[Long, Double], ids: Seq[Long]) = ids.map { id =>
      require(dists.contains(id),
        s"edge dst vec_id $id of $edgesT has no embeddings row in $dir")
      id -> dists(id)
    }
    // scored: every visited node's (id, dist) — driver-side, bounded
    // by 1 + R·B·M entries of 16 bytes
    var scored = distsOf(Seq(entry))
    var r = 0
    // TWO-HOP FUSED ROUNDS (r19 verdict #4): THREE single-stage
    // bucket-pruned jobs serve TWO beam rounds — (1) the frontier's
    // one-hop dsts, (2) the unseen candidates' out-edges, (3) one
    // distance scan for both hops — where the r18 loop paid a
    // join+broadcast+collect chain (2-3 scheduled jobs) PER ROUND.
    // Every edge probe has a driver-known key list (bounded by B·M
    // then B·M²) and reads only its keys' bucket files at any corpus
    // size — no full edge scan, no size route needed. The driver REPLAYS
    // round r+1's selection from the collected superset; exactness
    // rests on the top-B monotonicity invariant: distances never
    // change and the visited set only grows, so a node outside the
    // current top-B can never enter a later top-B — round r+1's
    // frontier ⊆ (frontier ∪ fresh₁), old members' neighbors are all
    // already visited, and the new members' neighbors are exactly the
    // collected second hop. GraphAnnSpec pins the fused walk
    // bit-identical to an inline reference of the r18 per-round loop
    // across a (beam, rounds) grid.
    while (r < rounds) {
      val frontier = scored.toSeq
        .sortBy { case (id, d) => (d, id) }.take(beam).map(_._1)
      val known = scored.keySet
      // job 1: one-hop dsts off the frontier's buckets (≤ B·M rows;
      // deduped driver-side so the job stays single-stage)
      val fresh1 = ScaleOps.bucketProbe(spark, edgesT, frontier)
        .select(col("dst"))
        .collect().map(_.getLong(0)).distinct.filterNot(known)
        .sorted.toSeq
      if (fresh1.isEmpty) r = rounds
      else if (rounds - r < 2) {
        // trailing single round: score the candidates, done
        scored ++= distsOf(fresh1)
        r += 1
      } else {
        // job 2: the fresh candidates' out-edges (≤ B·M² pairs)
        val e2 = ScaleOps.bucketProbe(spark, edgesT, fresh1)
          .select(col("src"), col("dst"))
          .collect().map(row => (row.getLong(0), row.getLong(1))).toSeq
        val known2 = known ++ fresh1
        val hop2Ids = e2.map(_._2).distinct.filterNot(known2)
        // job 3: distances for both hops in ONE pruned scan
        val dists = distsOf(fresh1 ++ hop2Ids)
        scored ++= scoredOf(dists, fresh1)
        r += 1
        if (r < rounds) {
          // replay round r+1 driver-side from the collected superset:
          // old frontier members' neighbors are all in known2 — only
          // the NEW members (⊆ fresh1) can surface unseen nodes, and
          // their out-edges are exactly e2
          val fresh1Set = fresh1.toSet
          val adj = e2.groupBy(_._1)
            .map { case (s, ps) => s -> ps.map(_._2) }
          val frontier2 = scored.toSeq
            .sortBy { case (id, d) => (d, id) }.take(beam).map(_._1)
          val fresh2 = frontier2.filter(fresh1Set)
            .flatMap(adj.getOrElse(_, Seq.empty[Long]))
            .distinct.filterNot(known2)
          if (fresh2.isEmpty) r = rounds
          else { scored ++= scoredOf(dists, fresh2); r += 1 }
        }
      }
    }
    val topIds = scored.toSeq.filter(_._1 != qid)
      .sortBy { case (id, d) => (d, id) }.take(k).map(_._1)
    // re-materialize engine-side: the walk chose WHICH ids, the scan
    // computes the returned values
    emb.filter(col("vec_id").isin(topIds.map(Long.box): _*))
      .select(col("vec_id"), col("label"),
        round(lit(1.0) - Similarity.dot(col("embedding"), qv)
          / (Similarity.norm(col("embedding")) * qn), 6)
          .as("dist"))
      .orderBy(col("dist").asc, col("vec_id").asc)
  }

  /** Batched beam search — Q queries served by ONE walk ([[beamSearch]]
    * amortized the way `knn_batch`/`ivf_batch`/`ivfpq_batch` amortize
    * their families). The visited set lives as a DISTRIBUTED
    * (q_id, vid, dist) frame instead of a driver map; each round is a
    * fixed set of frame operations — per-q_id top-B window, one
    * frontier⋈edges join, one anti-join against the visited set, one
    * score join against the broadcast query frame — so the number of
    * exchanges per round is INDEPENDENT of Q, and nothing is collected
    * to the driver at any point. The frame is localCheckpoint'ed per
    * round (the [[pagerankDups]] lesson: without it, Catalyst re-analyzes
    * the whole R-deep tree each round).
    *
    * Fixed R rounds ≡ the single-query loop's early termination: once a
    * query's frontier neighborhood is fully visited, its fresh set stays
    * empty in every later round, so unrolling is semantics-preserving —
    * which is also what lets the oracle replay the walk as R static CTEs.
    * Output (q_id, vec_id, label, dist), bit-equal per query to
    * [[beamSearch]] with the same parameters. */
  def batchBeamSearch(spark: SparkSession, dir: String, qids: Seq[Long],
      entry: Long, nCentroids: Int, m: Int, beam: Int, rounds: Int,
      k: Int): DataFrame = {
    val edgesT = ensureGraphIndex(spark, dir, nCentroids, m)
    val emb = Tables.embeddings(spark, dir)
    import spark.implicits._
    // query vectors as literal maps (the memoized bounded fetch above):
    // scoring becomes scan-local — the r18 per-round
    // broadcast(queries) exchange, a scheduled job per score call, is
    // gone; arithmetic is unchanged (same qv/qn doubles, same
    // expression tree around them)
    val qrows = fetchQueries(spark, dir, qids)
    val qvMap = typedLit(qrows.map(r => r._1 -> r._2).toMap)
    val qnMap = typedLit(qrows.map(r => r._1 -> r._3).toMap)
    def score(cand: DataFrame): DataFrame =
      cand.join(emb.select(col("vec_id"), col("embedding")), "vec_id")
        .select(col("q_id"), col("vec_id").as("vid"),
          round(lit(1.0) - Similarity.dot(col("embedding"),
              element_at(qvMap, col("q_id")))
            / (Similarity.norm(col("embedding"))
              * element_at(qnMap, col("q_id"))), 6)
            .as("dist"))
    val edges = spark.table(edgesT).select(col("src"), col("dst"))
    // visited frame: bounded by Q·(1 + R·B·M) rows of 24 bytes — tiny
    // relative to the corpus; checkpointed so each round's plan is flat
    var scored = score(
      qrows.map(_._1).toDF("q_id").withColumn("vec_id", lit(entry)))
      .localCheckpoint(true)
    val wBeam = Window.partitionBy("q_id")
      .orderBy(col("dist").asc, col("vid").asc)
    // Superstep fusion (r19 verdict #4): the eager checkpoint — one
    // scheduled job — runs every SECOND round instead of every round,
    // halving the per-query job count (the trio's cost is sequential
    // job dispatch, not data). The odd round's frame is persist()ed
    // LAZILY in between: the three references the next round makes to
    // it (frontier window, anti-join, union) then compute it once
    // inside the next checkpoint's job instead of thrice, and the
    // logical plan between checkpoints stays two rounds deep — far
    // from the unbounded re-analysis the per-round checkpoint was
    // added to stop. Values are untouched (a materialization barrier
    // only), so per-query output stays bit-equal to [[beamSearch]].
    var pending: Option[DataFrame] = None
    for (r <- 1 to rounds) {
      val frontier = scored.withColumn("rn", row_number().over(wBeam))
        .filter(col("rn") <= beam).select(col("q_id"), col("vid"))
      val fresh = frontier
        .join(edges, frontier("vid") === edges("src"))
        .select(col("q_id"), col("dst").as("vid")).distinct()
        .join(scored.select(col("q_id"), col("vid")),
          Seq("q_id", "vid"), "left_anti")
        .select(col("q_id"), col("vid").as("vec_id"))
      val next = scored.union(score(fresh))
      if (r % 2 == 0 || r == rounds) {
        scored = next.localCheckpoint(true)
        pending.foreach(_.unpersist(false))
        pending = None
      } else {
        scored = next.persist()
        pending = Some(next)
      }
    }
    scored.filter(col("vid") =!= col("q_id"))
      .withColumn("rn", row_number().over(wBeam))
      .filter(col("rn") <= k)
      .join(emb.select(col("vec_id").as("vid"), col("label")), "vid")
      .select(col("q_id"), col("vid").as("vec_id"), col("label"),
        col("dist"))
      .orderBy(col("q_id").asc, col("dist").asc, col("vec_id").asc)
  }

  /** Oracle for [[batchBeamSearch]]: the single-query oracle's chain
    * with every walk CTE keyed by q_id; each s$r is MATERIALIZED, or
    * the round recurrence would re-evaluate the edge build per round. */
  private def batchBeamSearchOracleCore(qids: Seq[Long], entry: Long,
      kpick: String, kSql: String,
      m: Int, beam: Int, rounds: Int, k: Int): String = {
    val asgDist =
      """round(1.0 - list_dot_product(v, cv)
        | / (sqrt(list_dot_product(v, v))
        |    * sqrt(list_dot_product(cv, cv))), 6)"""
        .stripMargin.replace("\n", " ")
    val inList = qids.mkString(", ")
    val beamRounds = (1 to rounds).map { r =>
      s"""f$r AS (
         |  SELECT q_id, vid FROM (
         |    SELECT q_id, vid, row_number() OVER (PARTITION BY q_id
         |      ORDER BY dist ASC, vid ASC) AS rn
         |    FROM s${r - 1}) b WHERE rn <= $beam
         |), n$r AS (
         |  SELECT DISTINCT f.q_id, e.dst AS vid
         |  FROM edges e JOIN f$r f ON e.src = f.vid
         |  LEFT JOIN s${r - 1} s ON s.q_id = f.q_id AND s.vid = e.dst
         |  WHERE s.vid IS NULL
         |), s$r AS MATERIALIZED (
         |  SELECT q_id, vid, dist FROM s${r - 1}
         |  UNION ALL
         |  SELECT n$r.q_id, n$r.vid,
         |    round(1.0 - list_dot_product(e2.v, q.qv)
         |      / (sqrt(list_dot_product(e2.v, e2.v))
         |         * sqrt(list_dot_product(q.qv, q.qv))), 6) AS dist
         |  FROM n$r JOIN e e2 ON e2.vec_id = n$r.vid
         |  JOIN q ON q.q_id = n$r.q_id
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${kpick}e AS (
       |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings
       |), ${Similarity.centsCtesK(kSql)}, asg2 AS MATERIALIZED (
       |  SELECT vec_id, v, centroid_id FROM (
       |    SELECT e.vec_id, e.v, centroid_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY $asgDist ASC, centroid_id ASC) AS rn
       |    FROM e, cents) a
       |  WHERE rn <= 2
       |), edges AS MATERIALIZED (
       |  SELECT src, dst FROM (
       |    SELECT src, dst, row_number() OVER (PARTITION BY src
       |      ORDER BY dist ASC, dst ASC) AS rn
       |    FROM (
       |      SELECT DISTINCT x.vec_id AS src, y.vec_id AS dst,
       |        round(1.0 - list_dot_product(x.v, y.v)
       |          / (sqrt(list_dot_product(x.v, x.v))
       |             * sqrt(list_dot_product(y.v, y.v))), 6) AS dist
       |      FROM asg2 x JOIN asg2 y
       |        ON x.centroid_id = y.centroid_id
       |       AND x.vec_id <> y.vec_id) p
       |  ) ranked WHERE rn <= $m
       |), q AS MATERIALIZED (
       |  SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id IN ($inList)
       |), s0 AS (
       |  SELECT q.q_id, e.vec_id AS vid,
       |    round(1.0 - list_dot_product(e.v, q.qv)
       |      / (sqrt(list_dot_product(e.v, e.v))
       |         * sqrt(list_dot_product(q.qv, q.qv))), 6) AS dist
       |  FROM e, q WHERE e.vec_id = $entry
       |),
       |$beamRounds
       |SELECT s.q_id, s.vid AS vec_id, e.label, s.dist FROM (
       |  SELECT q_id, vid, dist, row_number() OVER (PARTITION BY q_id
       |    ORDER BY dist ASC, vid ASC) AS rn
       |  FROM s$rounds WHERE vid <> q_id) s
       |JOIN e ON e.vec_id = s.vid
       |WHERE s.rn <= $k
       |ORDER BY s.q_id ASC, s.dist ASC, vec_id ASC""".stripMargin
  }

  /** Registered recall gate for the graph-ANN family — completes the
    * per-variant quality-gate matrix (ann_recall / pq_recall /
    * ivfpq_recall / bq_recall / quant_recall all gate their pruned
    * form against exact KNN under the ORACLE hash; graph ANN was
    * spec-gated only). Same shape as [[Similarity.annRecall]]: exact
    * integral recall_micro so both engines agree bit-for-bit, composed
    * from the already-oracled [[batchBeamSearch]] and
    * [[Similarity.knnBatch]] chains. */
  def beamRecall(spark: SparkSession, dir: String, qids: Seq[Long],
      entry: Long, nCentroids: Int, m: Int, beam: Int, rounds: Int,
      k: Int): DataFrame = {
    // persisted exact ground truth (EvalCache — built once per corpus)
    val ex = Similarity.knnBatchGt(spark, dir, qids, k)
    val ap = batchBeamSearch(spark, dir, qids, entry, nCentroids, m,
      beam, rounds, k)
      .select(col("q_id"), col("vec_id"), lit(1L).as("hit"))
    ex.join(ap, Seq("q_id", "vec_id"), "left")
      .groupBy("q_id")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0L))).as("n_common"))
      .select(col("q_id"), col("n_exact"), col("n_common"),
        expr(s"n_common * 1000000 div $k").as("recall_micro"))
      .orderBy(col("q_id").asc)
  }

  /** Corpus-relative cell count for the graph build — the
    * [[Similarity.autoNCentroids]] policy applied to the edge
    * candidate generation: cells grow with the corpus so the bounded
    * within-cell quadratic stays ~targetCellSize² per cell at any n
    * (a FIXED cell count makes the pair join n²/k — the r14 sf1 sweep
    * measured exactly that blowing the oracle budget). The oracle
    * derives the SAME k from the table it scans (kpick), so the
    * policy itself rides under the hash gate. */
  def beamSearchAuto(spark: SparkSession, dir: String, qid: Long,
      entry: Long, m: Int, beam: Int, rounds: Int, k: Int,
      targetCellSize: Long = 1000L): DataFrame =
    beamSearch(spark, dir, qid, entry,
      Similarity.autoNCentroids(
        Similarity.embeddingsCount(spark, dir), targetCellSize),
      m, beam, rounds, k)

  def batchBeamSearchAuto(spark: SparkSession, dir: String,
      qids: Seq[Long], entry: Long, m: Int, beam: Int, rounds: Int,
      k: Int, targetCellSize: Long = 1000L): DataFrame =
    batchBeamSearch(spark, dir, qids, entry,
      Similarity.autoNCentroids(
        Similarity.embeddingsCount(spark, dir), targetCellSize),
      m, beam, rounds, k)

  def beamRecallAuto(spark: SparkSession, dir: String, qids: Seq[Long],
      entry: Long, m: Int, beam: Int, rounds: Int, k: Int,
      targetCellSize: Long = 1000L): DataFrame =
    beamRecall(spark, dir, qids, entry,
      Similarity.autoNCentroids(
        Similarity.embeddingsCount(spark, dir), targetCellSize),
      m, beam, rounds, k)

  private def kpickCte(targetCellSize: Long): String =
    s"kpick AS (SELECT greatest(8, count(*) // $targetCellSize) " +
      "AS kk FROM embeddings), "

  private val AutoK = "(SELECT kk FROM kpick)"

  def beamSearchAutoOracleSql(qid: Long, entry: Long, m: Int, beam: Int,
      rounds: Int, k: Int, targetCellSize: Long = 1000L): String =
    beamSearchOracleCore(qid, entry, kpickCte(targetCellSize), AutoK,
      m, beam, rounds, k)

  def batchBeamSearchAutoOracleSql(qids: Seq[Long], entry: Long, m: Int,
      beam: Int, rounds: Int, k: Int,
      targetCellSize: Long = 1000L): String =
    batchBeamSearchOracleCore(qids, entry, kpickCte(targetCellSize),
      AutoK, m, beam, rounds, k)

  def beamRecallAutoOracleSql(qids: Seq[Long], entry: Long, m: Int,
      beam: Int, rounds: Int, k: Int,
      targetCellSize: Long = 1000L): String =
    s"""WITH ex AS (
       |  SELECT q_id, vec_id
       |  FROM (${Similarity.knnBatchOracleSql(qids, k)}) x
       |), ap AS (
       |  SELECT q_id, vec_id
       |  FROM (${batchBeamSearchAutoOracleSql(qids, entry, m, beam,
            rounds, k, targetCellSize)}) y
       |)
       |SELECT ex.q_id, count(*) AS n_exact,
       |  CAST(sum(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_common,
       |  CAST(sum(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END)
       |    * 1000000 // $k AS BIGINT) AS recall_micro
       |FROM ex LEFT JOIN ap
       |  ON ap.q_id = ex.q_id AND ap.vec_id = ex.vec_id
       |GROUP BY ex.q_id ORDER BY ex.q_id ASC""".stripMargin

  /** Oracle: replay the trained-centroid chain, the 2-probe edge
    * build, and the SAME R beam rounds unrolled as CTEs. */
  private def beamSearchOracleCore(qid: Long, entry: Long,
      kpick: String, kSql: String,
      m: Int, beam: Int, rounds: Int, k: Int): String = {
    val asgDist =
      """round(1.0 - list_dot_product(v, cv)
        | / (sqrt(list_dot_product(v, v))
        |    * sqrt(list_dot_product(cv, cv))), 6)"""
        .stripMargin.replace("\n", " ")
    val beamRounds = (1 to rounds).map { r =>
      s"""f$r AS (
         |  SELECT vid FROM s${r - 1} ORDER BY dist ASC, vid ASC
         |  LIMIT $beam
         |), n$r AS (
         |  SELECT DISTINCT e.dst AS vid FROM edges e
         |  JOIN f$r ON e.src = f$r.vid
         |  WHERE e.dst NOT IN (SELECT vid FROM s${r - 1})
         |), s$r AS MATERIALIZED (
         |  SELECT vid, dist FROM s${r - 1}
         |  UNION ALL
         |  SELECT n$r.vid,
         |    round(1.0 - list_dot_product(e2.v, q.qv)
         |      / (sqrt(list_dot_product(e2.v, e2.v))
         |         * sqrt(list_dot_product(q.qv, q.qv))), 6) AS dist
         |  FROM n$r JOIN e e2 ON e2.vec_id = n$r.vid, q
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${kpick}e AS (
       |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings
       |), ${Similarity.centsCtesK(kSql)}, asg2 AS MATERIALIZED (
       |  SELECT vec_id, v, centroid_id FROM (
       |    SELECT e.vec_id, e.v, centroid_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY $asgDist ASC, centroid_id ASC) AS rn
       |    FROM e, cents) a
       |  WHERE rn <= 2
       |), edges AS MATERIALIZED (
       |  SELECT src, dst FROM (
       |    SELECT src, dst, row_number() OVER (PARTITION BY src
       |      ORDER BY dist ASC, dst ASC) AS rn
       |    FROM (
       |      SELECT DISTINCT x.vec_id AS src, y.vec_id AS dst,
       |        round(1.0 - list_dot_product(x.v, y.v)
       |          / (sqrt(list_dot_product(x.v, x.v))
       |             * sqrt(list_dot_product(y.v, y.v))), 6) AS dist
       |      FROM asg2 x JOIN asg2 y
       |        ON x.centroid_id = y.centroid_id
       |       AND x.vec_id <> y.vec_id) p
       |  ) ranked WHERE rn <= $m
       |), q AS (SELECT v AS qv FROM e WHERE vec_id = $qid),
       |s0 AS (
       |  SELECT e.vec_id AS vid,
       |    round(1.0 - list_dot_product(e.v, q.qv)
       |      / (sqrt(list_dot_product(e.v, e.v))
       |         * sqrt(list_dot_product(q.qv, q.qv))), 6) AS dist
       |  FROM e, q WHERE e.vec_id = $entry
       |),
       |$beamRounds
       |SELECT s.vid AS vec_id, e.label, s.dist
       |FROM s$rounds s JOIN e ON e.vec_id = s.vid
       |WHERE s.vid <> $qid
       |ORDER BY s.dist ASC, s.vid ASC LIMIT $k""".stripMargin
  }
}
