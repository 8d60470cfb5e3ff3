package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextAnalyzer

/** Training-data deduplication operators (beyond-reference scope required
  * by the build brief): exact/normalized dedup, MinHash+LSH banding,
  * SimHash fingerprints, shingle-level Jaccard verification.
  *
  * All hash functions are md5-based so the DuckDB oracle computes the
  * exact same signatures (md5 hex is identical across engines; min over
  * hex strings = lexicographic min in both). No randomness anywhere —
  * the "random" permutations of classic MinHash are realized as the
  * family h_i(t) = md5(i || ':' || t), i = 0..k-1.
  *
  * Scale shape (100 TB): everything is explode → groupBy → join on
  * narrow keys. The only all-pairs step is band-bucket joins whose
  * bucket sizes are bounded by LSH design, never a corpus cross join.
  */
object Dedup {

  /** Exact dedup on canonicalized content: signature = md5 of the sorted
    * distinct token set. Returns groups with >1 member: the kept (min)
    * id, the group size, and the member list.
    */
  def exactNormalized(spark: SparkSession, dir: String): DataFrame =
    Tables.documentsDense(spark, dir)
      .select(col("doc_id"),
        md5(array_join(array_sort(array_distinct(
          TextAnalyzer.tokens(col("text")))), " ")).as("sig"))
      .groupBy("sig")
      .agg(
        min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)
      .select("sig", "keep_id", "n_copies")
      .orderBy(col("keep_id").asc)

  val exactNormalizedOracleSql: String =
    s"""WITH sigs AS (
       |  SELECT doc_id,
       |    md5(array_to_string(list_sort(list_distinct(list_filter(
       |      string_split_regex(lower(text), '\\W+'),
       |      t -> ${TextAnalyzer.sqlTermFilter("t")}))), ' ')) AS sig
       |  FROM documents
       |)
       |SELECT sig, min(doc_id) AS keep_id, count(*) AS n_copies
       |FROM sigs GROUP BY sig HAVING count(*) > 1
       |ORDER BY keep_id ASC""".stripMargin

  // ---- MinHash ----------------------------------------------------------

  val NumHashes = 8
  val BandSize = 2 // → 4 bands; pair is a candidate if any band matches

  /** MinHash signature columns h0..h{k-1} for an exploded (doc_id, token)
    * frame: h_i = min(md5(i || ':' || token)).
    */
  def minhashSignature(tokens: DataFrame): DataFrame = {
    val hashes = (0 until NumHashes).map(i =>
      min(md5(concat(lit(s"$i:"), col("token")))).as(s"h$i"))
    tokens.groupBy("doc_id").agg(hashes.head, hashes.tail: _*)
  }

  /** MinHash+LSH near-duplicate pairs over word 3-gram shingle sets:
    * band-bucket join for candidates, then exact shingle-set Jaccard
    * verification >= threshold. Shingles (not single tokens) keep the
    * candidate volume proportional to true near-dups — on a
    * shared-vocabulary corpus token sets are degenerate (every pair
    * looks similar) while shingle sets are not.
    *
    * Everything except the band-bucket join is scan-local: signatures
    * come from `array_min` over per-doc shingle arrays (no exploded
    * frame, no persist), and verification intersects the two docs'
    * shingle ARRAYS directly (`array_intersect`) after broadcasting the
    * LSH candidates — the corpus is scanned, never shuffled.
    */
  /** (doc_id, band, bkey) LSH band keys from a (doc_id, sh_set) frame:
    * h_i = min over the shingle set of md5(i ':' shingle); band key =
    * md5 of its BandSize signature slice. ONE definition feeding both
    * the full self-join (`minhashPairs`) and the incremental probe
    * (`minhashIncremental`) — a formula change applied to one but not
    * the other would silently break the probe's equivalence to the
    * full pairs' cross-batch slice. The signature frame (|corpus| rows
    * × NumHashes — the table a production system materializes) is
    * persisted: it feeds every band of the union and both sides of
    * downstream joins. */
  private def lshBands(docs: DataFrame): DataFrame = {
    val sigCols = (0 until NumHashes).map { i =>
      array_min(transform(col("sh_set"),
        s => md5(concat(lit(s"$i:"), s)))).as(s"h$i")
    }
    val sigs = docs.select(col("doc_id") +: sigCols: _*).transform(CacheScope.cached)
    (0 until NumHashes / BandSize).map { b =>
      val cols = (0 until BandSize).map(j => col(s"h${b * BandSize + j}"))
      sigs.select(col("doc_id"), lit(b).as("band"),
        md5(concat_ws("|", cols: _*)).as("bkey"))
    }.reduce(_ union _)
  }

  /** Build-once / probe-many for the MinHash-LSH family: the band-key
    * table (doc_id, band, bkey) and the per-doc shingle sets are pure
    * functions of the CORPUS (the Jaccard threshold enters only in the
    * exact verification filter), so both persist once per corpus
    * fingerprint — this is the LSH INDEX a production dedup service
    * stores (signatures are computed at ingest, band buckets are the
    * index; re-tokenizing the corpus per query is the anti-pattern).
    * Bands bucket by bkey, making the band self-join AND the
    * incremental new-batch probe co-located; sets bucket by doc_id for
    * the verification hops. Docs with an empty shingle set are dropped
    * BEFORE banding (they would all share the null-derived band key —
    * one giant bucket, an O(n_short²) candidate explosion — and can
    * never form a valid pair anyway). */
  def ensureLshIndex(spark: SparkSession, dir: String): String = {
    val name = s"graft_lsh_${ScaleOps.contentHash(dir, "documents")}"
    ScaleOps.ensure(spark, ScaleOps.Family("lsh", 1),
        ScaleOps.AttachSpec(s"${name}_sets", "doc_id", 8),
        ScaleOps.AttachSpec(name, "bkey", 32)) {
      // persist: the shingle-set frame feeds the signature computation
      // AND the sets table — without it the tokenize+shingle pass runs
      // twice in the build
      val docs = docShingleSets(Tables.documentsDense(spark, dir))
        .filter(size(col("sh_set")) > 0)
        .transform(CacheScope.cached)
      Seq(docs, lshBands(docs))
    }
  }

  def minhashPairs(
      spark: SparkSession, dir: String, threshold: Double): DataFrame = {
    val idx = ensureLshIndex(spark, dir)
    val docs = spark.table(s"${idx}_sets")
    val bands = spark.table(idx)
    // UNHINTED self-join over the persisted table: parquet stats are
    // REAL sizes that grow with the corpus, so a planning-time
    // broadcast only happens when the band table is genuinely small
    // and disappears at scale on its own; past the threshold the
    // planner exchanges and AQE sizes the build. (Pinning was tried
    // and measured worse both ways: SHUFFLE_HASH on the co-located
    // bucketed layout builds a whole corpus-growing bucket per task —
    // the sf1 rung failed at 1 GB; SHUFFLE_MERGE paid corpus-side
    // sorts every query.)
    val candidates = bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
      .transform(CacheScope.cached)
    // exact verification: set intersection on the candidates' arrays.
    // Both hops stay UNHINTED: the candidate side's true volume is
    // dup-density-scaled and only known at RUNTIME, so AQE must pick —
    // it broadcasts the bare pairs when genuinely small and falls back
    // to a spillable merge join when a dup-heavy corpus explodes them
    // (a pinned hash build of either side OOM'd the sf1 rung at 1 GB;
    // a pinned merge paid corpus-side sorts everywhere). The only
    // static-stats quirk is a planning-time broadcast of the sets
    // TABLE at tiny sf, harmless at that size and impossible once the
    // table outgrows the threshold.
    val withA = docs.select(col("doc_id").as("a"), col("sh_set").as("set_a"))
      .join(candidates, Seq("a"))
    val withB = docs.select(col("doc_id").as("b"), col("sh_set").as("set_b"))
      .join(withA, Seq("b"))
    withB
      .select(col("a"), col("b"),
        size(array_intersect(col("set_a"), col("set_b"))).as("inter"),
        size(col("set_a")).as("sza"), size(col("set_b")).as("szb"))
      .select(col("a"), col("b"),
        round(col("inter") /
          (col("sza") + col("szb") - col("inter")), 6).as("jaccard"))
      .filter(col("jaccard") >= lit(threshold))
      .orderBy(col("a").asc, col("b").asc)
  }

  /** Incremental (new-batch) near-dup probe — the ingestion-time mode
    * of `minhashPairs`: only documents in the "new batch" (here the
    * deterministic slice doc_id ≡ newRem mod `mod`; in production the
    * arriving micro-batch) are checked against the existing corpus.
    * The band join is new-bands × corpus-bands, NOT a self-join: with
    * the corpus bands persisted as the LSH index (the ScaleOps
    * bucketed-table pattern), an incremental run computes signatures
    * for the BATCH only and probes — cost ∝ batch size, never corpus
    * size. That asymmetry is what makes dedup-on-arrival viable at a
    * 100 TB corpus with GB-sized daily batches. */
  def minhashIncremental(spark: SparkSession, dir: String,
      threshold: Double, mod: Long = 10L,
      newRem: Long = 7L): DataFrame = {
    // probe the persisted LSH index ([[ensureLshIndex]]) — the comment
    // above is now literal: corpus bands ARE the stored index, and the
    // batch side probes it co-located (both sides bkey-bucketed)
    val idx = ensureLshIndex(spark, dir)
    val docs = spark.table(s"${idx}_sets")
    val bands = spark.table(idx)
    val isNew = col("doc_id") % mod === lit(newRem)
    // unhinted corpus band side — real table stats self-correct the
    // join strategy with scale (see minhashPairs' self-join note)
    val candidates = bands.filter(isNew).as("x")
      .join(bands.filter(!isNew).as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey"))
      .select(col("x.doc_id").as("new_id"), col("y.doc_id").as("corpus_id"))
      .distinct()
    // Verify hops mirror minhashPairs: unhinted, AQE runtime-sizes
    // the dup-density-scaled candidate side (see minhashPairs).
    val withN = docs
      .select(col("doc_id").as("new_id"), col("sh_set").as("set_n"))
      .join(candidates, Seq("new_id"))
    docs.select(col("doc_id").as("corpus_id"), col("sh_set").as("set_c"))
      .join(withN, Seq("corpus_id"))
      .select(col("new_id"), col("corpus_id"),
        size(array_intersect(col("set_n"), col("set_c"))).as("inter"),
        size(col("set_n")).as("szn"), size(col("set_c")).as("szc"))
      .select(col("new_id"), col("corpus_id"),
        round(col("inter") /
          (col("szn") + col("szc") - col("inter")), 6).as("jaccard"))
      .filter(col("jaccard") >= lit(threshold))
      .orderBy(col("new_id").asc, col("corpus_id").asc)
  }

  def minhashIncrementalOracleSql(threshold: Double, mod: Long = 10L,
      newRem: Long = 7L): String = {
    val hashCols = (0 until NumHashes)
      .map(i => s"min(md5('$i:' || token)) AS h$i").mkString(",\n    ")
    val bandSelects = (0 until NumHashes / BandSize).map { b =>
      val cols = (0 until BandSize).map(j => s"h${b * BandSize + j}")
      s"SELECT doc_id, $b AS band, md5(${cols.mkString(" || '|' || ")}) AS bkey FROM sigs"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH toklists AS (
       |  SELECT doc_id, list_filter(
       |    string_split_regex(lower(text), '\\W+'),
       |    t -> ${TextAnalyzer.sqlTermFilter("t")}) AS tl
       |  FROM documents
       |), toks AS (
       |  SELECT DISTINCT doc_id,
       |    unnest(list_transform(
       |      range(1, greatest(len(tl) - ${ShingleSize - 1}, 0) + 1),
       |      i -> tl[i] || ' ' || tl[i+1] || ' ' || tl[i+2])) AS token
       |  FROM toklists
       |), sigs AS (
       |  SELECT doc_id,
       |    $hashCols
       |  FROM toks GROUP BY doc_id
       |), bands AS (
       |  $bandSelects
       |), cand AS (
       |  SELECT DISTINCT x.doc_id AS new_id, y.doc_id AS corpus_id
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bkey = y.bkey
       |  WHERE x.doc_id % $mod = $newRem AND y.doc_id % $mod <> $newRem
       |), sizes AS (
       |  SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id
       |), inter AS (
       |  SELECT c.new_id, c.corpus_id, count(*) AS inter
       |  FROM cand c
       |  JOIN toks ta ON ta.doc_id = c.new_id
       |  JOIN toks tb ON tb.doc_id = c.corpus_id AND tb.token = ta.token
       |  GROUP BY c.new_id, c.corpus_id
       |)
       |SELECT i.new_id, i.corpus_id,
       |  round(CAST(i.inter AS DOUBLE) / (sn.sz + sc.sz - i.inter), 6)
       |    AS jaccard
       |FROM inter i
       |JOIN sizes sn ON sn.doc_id = i.new_id
       |JOIN sizes sc ON sc.doc_id = i.corpus_id
       |WHERE round(CAST(i.inter AS DOUBLE) / (sn.sz + sc.sz - i.inter), 6)
       |      >= $threshold
       |ORDER BY new_id ASC, corpus_id ASC""".stripMargin
  }

  /** Near-duplicate CLUSTERS: connected components over the MinHash
    * near-dup pair graph, labeled by each component's minimum doc id —
    * the step a dedup pipeline actually ships (keep one canonical doc
    * per duplicate cluster, `is_keeper`). Min-label propagation in
    * Pregel-style supersteps: every vertex takes the min of its own and
    * its neighbors' labels until fixpoint — ≤ graph-diameter rounds,
    * each one join + partial-aggregated groupBy; `localCheckpoint`
    * truncates the growing lineage each round (at cluster scale the
    * same loop runs large-star/small-star style with checkpoints).
    * The driver loop is superstep coordination, not data movement —
    * per-round data stays distributed.
    */
  def nearDupClusters(spark: SparkSession, dir: String,
      threshold: Double): DataFrame = {
    val pairs = minhashPairs(spark, dir, threshold)
      .select(col("a"), col("b"))
    val edges = pairs
      .union(pairs.select(col("b").as("a"), col("a").as("b")))
      .transform(CacheScope.cached)
    // Size the superstep shuffles to the duplicate GRAPH, not the corpus:
    // the label frame holds only docs that HAVE a near-dup — orders of
    // magnitude smaller than the corpus at any SF. One partition per
    // ~256k edges (grows with the graph alone at 100 TB); the count also
    // materializes the edge cache once, before the loop.
    val nParts = math.max(1L, math.min(32L, edges.count() / 262144L + 1L)).toInt
    val e = edges.repartition(nParts, col("b"))
    // Seed label = min(id, min neighbor) — the first superstep fused into
    // initialization (symmetric edges ⇒ the groupBy covers every vertex,
    // replacing the old distinct()+identity seed AND its first round).
    var labels = e
      .groupBy(col("a").as("id")).agg(min(col("b")).as("nmin"))
      .select(col("id"), least(col("id"), col("nmin")).as("label"))
      .localCheckpoint(true)
    var prevCached: DataFrame = null
    var changed = 1L
    var rounds = 0
    // safety cap far above any plausible component diameter — but NEVER
    // a silent exit: returning before the fixpoint would split one
    // component into several "clusters" with multiple keepers, so a
    // pathological graph fails loudly (require below) instead
    val maxRounds = 1000
    while (changed > 0 && rounds < maxRounds) {
      val t0 = System.nanoTime()
      val neighborMin = e
        .join(labels, e("b") === labels("id"))
        .groupBy(e("a").as("nid"))
        .agg(min(col("label")).as("nmin"))
      val updated = labels
        .join(neighborMin, labels("id") === col("nid"), "left")
        .select(col("id"), col("label"),
          least(col("label"), coalesce(col("nmin"), col("label")))
            .as("newlabel"))
        .persist()
      // ONE action per round: the count materializes the persisted frame
      // (populating the cache for the next superstep) AND returns the
      // convergence signal — no separate eager-checkpoint job
      changed = updated.filter(col("newlabel") =!= col("label")).count()
      if (prevCached != null) prevCached.unpersist(false)
      prevCached = updated
      labels = updated.select(col("id"), col("newlabel").as("label"))
      // periodic lineage truncation keeps analysis cost bounded on
      // high-diameter graphs without paying a checkpoint job every round
      if (rounds % 8 == 7) {
        labels = labels.localCheckpoint(true)
        prevCached.unpersist(false)
        prevCached = null
      }
      rounds += 1
      if (sys.env.contains("GRAFT_DEBUG_CLUSTERS"))
        println(f"[clusters round=$rounds changed=$changed " +
          f"${(System.nanoTime() - t0) / 1e9}%.2fs]")
    }
    require(changed == 0,
      s"label propagation did not converge in $maxRounds rounds")
    // truncate lineage off the loop's final persisted frame, then free
    // it — otherwise every invocation (including the nested ones inside
    // canonicalByQuality and the reduction report) leaks one cached
    // superstep frame until someone clears the whole cache
    if (prevCached != null) {
      labels = labels.localCheckpoint(true)
      prevCached.unpersist(false)
      prevCached = null
    }
    val w = Window.partitionBy("cluster_id")
    labels
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))
      .withColumn("cluster_size", count(lit(1)).over(w))
      .withColumn("is_keeper", col("doc_id") === col("cluster_id"))
      .orderBy(col("cluster_id").asc, col("doc_id").asc)
  }

  /** Oracle: the same components via a recursive reachability CTE over
    * the identical MinHash pair SQL — component id = min reachable id. */
  def nearDupClustersOracleSql(threshold: Double): String =
    s"""WITH RECURSIVE pairs AS MATERIALIZED (
       |  SELECT a, b FROM (${minhashPairsOracleSql(threshold)}) mh
       |), edges AS MATERIALIZED (
       |  SELECT a AS src, b AS dst FROM pairs
       |  UNION SELECT b, a FROM pairs
       |  UNION SELECT a, a FROM pairs
       |  UNION SELECT b, b FROM pairs
       |), reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst
       |), comp AS (
       |  SELECT src AS doc_id, min(dst) AS cluster_id
       |  FROM reach GROUP BY src
       |)
       |SELECT doc_id, cluster_id,
       |  CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
       |    AS cluster_size,
       |  doc_id = cluster_id AS is_keeper
       |FROM comp ORDER BY cluster_id ASC, doc_id ASC""".stripMargin

  /** Quality-aware canonical selection — the pluggable "which doc
    * survives" policy on top of [[nearDupClusters]]: instead of the
    * min-id keeper, each cluster keeps its HIGHEST-QUALITY member
    * (Gopher rule count, lowest doc_id tiebreak) — what a production
    * dedup pass actually does (the reference's delete path keeps
    * whichever row is "current"; a curation pass keeps the best).
    *
    * Determinism: the argmax is one integer-packed max —
    * q·2³³ + (2³³−1−doc_id) — decoded identically in both engines; no
    * structs, no floats. Scale shape: quality is scan-local per doc;
    * the cluster map is duplicate-graph-sized, so it broadcasts against
    * the corpus-grain quality frame; one cluster-keyed partial agg. */
  def canonicalByQuality(spark: SparkSession, dir: String,
      threshold: Double): DataFrame = {
    val M = 8589934592L // 2^33 > any doc_id; q ∈ [0,5]
    val clusters = nearDupClusters(spark, dir, threshold)
      .select(col("doc_id"), col("cluster_id"))
    val quality = Tables.documentsDense(spark, dir)
      .select(col("doc_id"), TextOps.gopherRuleCount.as("q"))
    quality.join(broadcast(clusters), "doc_id")
      .groupBy("cluster_id")
      .agg(
        count(lit(1)).as("cluster_size"),
        max(col("q") * lit(M) + (lit(M - 1) - col("doc_id"))).as("k"))
      .select(col("cluster_id"), col("cluster_size"),
        (lit(M - 1) - col("k") % lit(M)).as("keeper_doc"),
        expr(s"k div $M").as("keeper_q"))
      .orderBy(col("cluster_id").asc)
  }

  def canonicalByQualityOracleSql(threshold: Double): String =
    s"""WITH sig AS (
       |  ${TextOps.gopherSignalsSql}
       |), qual AS (
       |  SELECT doc_id,
       |    ${TextOps.gopherRuleCountSql} AS q
       |  FROM sig
       |), cl AS (
       |  SELECT doc_id, cluster_id
       |  FROM (${nearDupClustersOracleSql(threshold)}) z
       |), mx AS (
       |  SELECT cl.cluster_id, count(*) AS cluster_size,
       |    max(qual.q * 8589934592 + (8589934591 - cl.doc_id)) AS k
       |  FROM cl JOIN qual USING (doc_id) GROUP BY 1
       |)
       |SELECT cluster_id, cluster_size,
       |  CAST(8589934591 - k % 8589934592 AS BIGINT) AS keeper_doc,
       |  CAST(k // 8589934592 AS BIGINT) AS keeper_q
       |FROM mx ORDER BY cluster_id ASC""".stripMargin

  /** Doc-grain curation VERDICT rolled up per (source, decision) — the
    * decision table a production pass materializes before writing the
    * training set. Every document gets exactly one decision under a
    * fixed reason PRECEDENCE:
    *   `exact_dup` (a non-minimal copy of an identical normalized
    *   token set) > `near_dup` (a non-canonical member of a verified
    *   MinHash cluster) > `quality` (fails the Gopher gate) > `keep`.
    * Composes three already-oracled chains ([[exactNormalized]]'s
    * signatures, [[nearDupClusters]]'s keeper flags,
    * [[TextOps.gopherQuality]]'s pass bit); the SQL twin replays the
    * identical precedence, so the verdict itself — not just its
    * ingredients — rides under the hash gate.
    *
    * Scale shape: signatures and the quality bit are scan-local; the
    * exact-keeper map aggregates to the signature grain; the cluster
    * side holds only docs WITH a near-dup (broadcastable against the
    * corpus scan at 100 TB); output is bounded by sources × 4
    * decisions. */
  def curationDecisions(spark: SparkSession, dir: String,
      threshold: Double): DataFrame =
    spark.table(ensureCurationTable(spark, dir, threshold))
      .groupBy(col("source"), col("decision"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("sample_doc"))
      .orderBy(col("source").asc, col("decision").asc)

  /** Build-once/probe-many for the WHOLE curation pass (the ensureIndex
    * discipline applied to the pipeline artifact itself): ONE persisted
    * doc-grain table
    *   (doc_id, source, decision, n_tokens, n_kept, n_removed,
    *    cleaned_md5)
    * carrying every doc's verdict plus — for keep-decision docs — the
    * survivor-set span-removal stats. A real curation pass materializes
    * exactly this table once and every consumer (the verdict rollup,
    * the curated corpus, the release manifest) READS it; re-deriving
    * the MinHash/Gopher/span chains per consumer query would be four
    * full corpus passes for one artifact. Keyed on the documents
    * content fingerprint (the [[graft.operators.Collections
    * .ensurePartitionedDocuments]] staleness contract: an in-place
    * fixture regeneration forces a rebuild). Span columns are NULL for
    * dropped docs — the spans are mined among SURVIVORS (post-dedup
    * semantics, see [[curationApply]]). */
  def ensureCurationTable(spark: SparkSession, dir: String,
      threshold: Double): String = {
    val name = s"graft_cur_${math.round(threshold * 100)}_" +
      ScaleOps.contentHash(dir, "documents")
    var built = false
    ScaleOps.ensure(spark, ScaleOps.Family("curation", 1),
        ScaleOps.AttachSpec(name)) {
      built = true
      val dec = curationDocDecisions(spark, dir, threshold)
        .transform(CacheScope.cached)
      val keptDocs = Tables.documentsDense(spark, dir)
        .join(dec.filter(col("decision") === lit("keep"))
          .select("doc_id"), Seq("doc_id"))
        .select(col("doc_id"),
          TextAnalyzer.tokens(col("text")).as("toks"))
        .transform(CacheScope.cached)
      Seq(dec.join(spanRemovalStats(keptDocs), Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"), col("decision"),
          col("n_tokens"), col("n_kept"), col("n_removed"),
          col("cleaned_md5")))
    }
    if (built) CacheScope.release(spark)
    name
  }

  /** The doc-grain verdict frame behind [[curationDecisions]] — one
    * (source, doc_id, decision) row per document under the documented
    * precedence. Exposed so [[curationApply]] can select the survivor
    * set from the SAME chain the rolled-up verdict table is oracled
    * on (any drift between "what we reported" and "what we shipped"
    * is structurally impossible). */
  def curationDocDecisions(spark: SparkSession, dir: String,
      threshold: Double): DataFrame = {
    val sigs = Tables.documentsDense(spark, dir)
      .select(col("doc_id"), col("source"),
        md5(array_join(array_sort(array_distinct(
          TextAnalyzer.tokens(col("text")))), " ")).as("sig"))
    val keepers = sigs.groupBy("sig")
      .agg(min(col("doc_id")).as("keep_id"))
    val nd = nearDupClusters(spark, dir, threshold)
      .select(col("doc_id"), col("is_keeper"))
    val gq = TextOps.gopherQuality(spark, dir)
      .select(col("doc_id"), col("pass"))
    sigs.join(keepers, Seq("sig"))
      .join(nd, Seq("doc_id"), "left")
      .join(gq, Seq("doc_id"))
      .select(col("source"), col("doc_id"),
        when(col("doc_id") =!= col("keep_id"), lit("exact_dup"))
          .when(col("is_keeper").isNotNull && !col("is_keeper"),
            lit("near_dup"))
          .when(!col("pass"), lit("quality"))
          .otherwise(lit("keep")).as("decision"))
  }

  def curationDecisionsOracleSql(threshold: Double): String =
    s"""WITH g AS MATERIALIZED (
       |  SELECT doc_id,
       |    (wc >= 30 AND wc <= 10000)
       |      AND (meanwl >= 3.0 AND meanwl <= 5.0)
       |      AND symratio <= 0.1 AND nstop >= 1 AND dfrac >= 0.5
       |      AS pass
       |  FROM (
       |  ${TextOps.gopherSignalsSql}
       |  ) sgn
       |), exsigs AS MATERIALIZED (
       |  SELECT doc_id, source,
       |    md5(array_to_string(list_sort(list_distinct(list_filter(
       |      string_split_regex(lower(text), '\\W+'),
       |      t -> ${TextAnalyzer.sqlTermFilter("t")}))), ' ')) AS sig
       |  FROM documents
       |), keepers AS (
       |  SELECT sig, min(doc_id) AS keep_id FROM exsigs GROUP BY 1
       |), nd AS MATERIALIZED (
       |  SELECT doc_id, is_keeper
       |  FROM (${nearDupClustersOracleSql(threshold)}) c
       |), dec AS (
       |  SELECT s.source, s.doc_id,
       |    CASE WHEN s.doc_id <> k.keep_id THEN 'exact_dup'
       |         WHEN nd.doc_id IS NOT NULL AND NOT nd.is_keeper
       |           THEN 'near_dup'
       |         WHEN NOT g.pass THEN 'quality'
       |         ELSE 'keep' END AS decision
       |  FROM exsigs s JOIN keepers k ON k.sig = s.sig
       |  LEFT JOIN nd ON nd.doc_id = s.doc_id
       |  JOIN g ON g.doc_id = s.doc_id
       |)
       |SELECT source, decision, count(*) AS n_docs,
       |  min(doc_id) AS sample_doc
       |FROM dec GROUP BY 1, 2
       |ORDER BY source ASC, decision ASC""".stripMargin

  /** Corpus-reduction report — the number a dedup pass is actually run
    * to produce: per source, how many documents (and characters) survive
    * near-dup removal. Composes [[nearDupClusters]] (keeper flags) with
    * the full documents table via one doc_id-keyed left join — docs in
    * no cluster are trivially kept — then partial-aggregates to nSources
    * rows. The cluster side is tiny relative to the corpus (only docs
    * with a near-dup), so at 100 TB this is a broadcast join against the
    * full scan; nothing new shuffles at corpus grain.
    *
    * Determinism: counts and n_chars sums are exact BIGINT folds;
    * removed-side sums coalesce to 0 where a source has no removals
    * (Spark's sum-of-empty is NULL in both engines).
    */
  def dedupReduction(spark: SparkSession, dir: String,
      threshold: Double): DataFrame = {
    val flags = nearDupClusters(spark, dir, threshold)
      .select(col("doc_id"), col("is_keeper"))
    val keep = coalesce(col("is_keeper"), lit(true))
    Tables.documentsDense(spark, dir)
      .select("doc_id", "source", "n_chars")
      .join(broadcast(flags), Seq("doc_id"), "left")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(keep.cast("long")).as("n_kept"),
        sum((!keep).cast("long")).as("n_removed"),
        sum(when(keep, col("n_chars"))).as("chars_kept"),
        coalesce(sum(when(!keep, col("n_chars"))), lit(0L))
          .as("chars_removed"))
      .orderBy(col("source").asc)
  }

  /** Oracle: the clusters oracle as a subquery, left-joined to the full
    * documents table — the same composition the engine runs. */
  def dedupReductionOracleSql(threshold: Double): String =
    s"""WITH flags AS (
       |  SELECT doc_id, is_keeper
       |  FROM (${nearDupClustersOracleSql(threshold)}) c
       |)
       |SELECT d.source,
       |  count(*) AS n_docs,
       |  CAST(sum(CAST(COALESCE(f.is_keeper, true) AS BIGINT))
       |    AS BIGINT) AS n_kept,
       |  CAST(sum(CAST(NOT COALESCE(f.is_keeper, true) AS BIGINT))
       |    AS BIGINT) AS n_removed,
       |  CAST(sum(CASE WHEN COALESCE(f.is_keeper, true)
       |    THEN d.n_chars END) AS BIGINT) AS chars_kept,
       |  CAST(COALESCE(sum(CASE WHEN NOT COALESCE(f.is_keeper, true)
       |    THEN d.n_chars END), 0) AS BIGINT) AS chars_removed
       |FROM documents d LEFT JOIN flags f ON f.doc_id = d.doc_id
       |GROUP BY d.source
       |ORDER BY d.source ASC""".stripMargin

  /** (doc_id, sh_set) — the distinct word 3-gram shingle array per doc,
    * scan-local behind a tokenizer barrier. */
  def docShingleSets(documents: DataFrame): DataFrame = {
    val toks = documents
      .select(col("doc_id"),
        explode(array(TextAnalyzer.tokens(col("text")))).as("toks"))
    val idx = when(size(col("toks")) >= ShingleSize,
      sequence(lit(0), size(col("toks")) - ShingleSize))
      .otherwise(array().cast("array<int>"))
    val shingles = transform(idx,
      i => concat_ws(" ",
        (0 until ShingleSize).map(j => element_at(col("toks"), i + j + 1)): _*))
    toks.select(col("doc_id"),
      explode(array(array_distinct(shingles))).as("sh_set"))
  }

  def minhashPairsOracleSql(threshold: Double): String = {
    val hashCols = (0 until NumHashes)
      .map(i => s"min(md5('$i:' || token)) AS h$i").mkString(",\n    ")
    val bandSelects = (0 until NumHashes / BandSize).map { b =>
      val cols = (0 until BandSize).map(j => s"h${b * BandSize + j}")
      s"SELECT doc_id, $b AS band, md5(${cols.mkString(" || '|' || ")}) AS bkey FROM sigs"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH toklists AS (
       |  SELECT doc_id, list_filter(
       |    string_split_regex(lower(text), '\\W+'),
       |    t -> ${TextAnalyzer.sqlTermFilter("t")}) AS tl
       |  FROM documents
       |), toks AS (
       |  SELECT DISTINCT doc_id,
       |    unnest(list_transform(
       |      range(1, greatest(len(tl) - ${ShingleSize - 1}, 0) + 1),
       |      i -> tl[i] || ' ' || tl[i+1] || ' ' || tl[i+2])) AS token
       |  FROM toklists
       |), sigs AS (
       |  SELECT doc_id,
       |    $hashCols
       |  FROM toks GROUP BY doc_id
       |), bands AS (
       |  $bandSelects
       |), cand AS (
       |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
       |), sizes AS (
       |  SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id
       |), inter AS (
       |  SELECT c.a, c.b, count(*) AS inter
       |  FROM cand c
       |  JOIN toks ta ON ta.doc_id = c.a
       |  JOIN toks tb ON tb.doc_id = c.b AND tb.token = ta.token
       |  GROUP BY c.a, c.b
       |)
       |SELECT i.a, i.b,
       |  round(CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter), 6) AS jaccard
       |FROM inter i
       |JOIN sizes sa ON sa.doc_id = i.a
       |JOIN sizes sb ON sb.doc_id = i.b
       |WHERE round(CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter), 6)
       |      >= $threshold
       |ORDER BY a ASC, b ASC""".stripMargin
  }

  // ---- SimHash ----------------------------------------------------------

  val SimHashBits = 64

  /** Hex digits whose nibble has bit k set — the cross-engine way to
    * read bit k of an md5 nibble (both engines test set membership of
    * the hex CHARACTER; no base conversion, which the engines expose
    * differently). k=3 is the historical high-bit test. */
  private val NibbleBit: Array[Seq[String]] = Array(
    Seq("1", "3", "5", "7", "9", "b", "d", "f"), // bit 0
    Seq("2", "3", "6", "7", "a", "b", "e", "f"), // bit 1
    Seq("4", "5", "6", "7", "c", "d", "e", "f"), // bit 2
    Seq("8", "9", "a", "b", "c", "d", "e", "f")) // bit 3

  /** 64-bit SimHash per document, weighted by term frequency. Bit b of
    * token t = bit b%4 of hex digit b/4+1 of md5(t) (set → +1, clear →
    * -1); fingerprint bit b set iff Σ_t tf(t)·sign_b(t) > 0.
    * Hamming-near fingerprints ⇒ near-duplicate docs. 64 bits (not
    * 16): a 16-bit space holds 65,536 fingerprints, so at corpus scale
    * every band bucket saturates and banded candidate generation goes
    * quadratic; 2^64 keeps buckets sparse at any corpus size.
    *
    * The fingerprint lands in the long's full two's-complement range
    * (bit 63 = the sign bit): Spark's wrapping `+ Long.MinValue` and
    * the oracle's exact `+ (-2^63)` produce the same signed value
    * because the low-63-bit sum is < 2^63 — no ANSI overflow either.
    *
    * The tf-weighted sum over distinct tokens equals the plain sum over
    * token OCCURRENCES, so the whole fingerprint is scan-local: hash
    * array materialized once per row behind a barrier, 64 array
    * aggregates, zero shuffles (vs. two groupBys for the tf
    * formulation) — a shape that holds at any corpus size.
    */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    val hashes = Tables.documentsDense(spark, dir)
      .select(col("doc_id"),
        explode(array(transform(TextAnalyzer.tokens(col("text")),
          t => md5(t)))).as("hashes"))
    val bitSums = (0 until SimHashBits).map { b =>
      aggregate(col("hashes"), lit(0L),
        (acc, h) => acc + when(substring(h, b / 4 + 1, 1).isin(
          NibbleBit(b % 4): _*), 1L).otherwise(-1L))
        .as(s"s$b")
    }
    val fp = (0 until SimHashBits).map { b =>
      when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    hashes
      // token-less docs have no fingerprint — and the oracle's unnest
      // produces no rows for them, so emitting simhash=0 here would be a
      // latent row-count parity break
      .filter(size(col("hashes")) > 0)
      .select(col("doc_id") +: bitSums: _*)
      .select(col("doc_id"), fp.as("simhash"))
      .orderBy(col("doc_id").asc)
  }

  def simhashOracleSql: String = {
    val bitSums = (0 until SimHashBits).map { b =>
      val digits = NibbleBit(b % 4).map(d => s"'$d'").mkString(",")
      s"sum(CASE WHEN substr(h, ${b / 4 + 1}, 1) IN ($digits) THEN tf ELSE -tf END) AS s$b"
    }.mkString(",\n    ")
    val fp = (0 until SimHashBits)
      .map(b => s"(CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH tf AS (
       |  SELECT doc_id, t AS token, count(*) AS tf, md5(t) AS h FROM (
       |    SELECT doc_id, ${TextAnalyzer.sqlTokenize("text")} AS t FROM documents
       |  ) WHERE ${TextAnalyzer.sqlTermFilter("t")}
       |  GROUP BY doc_id, t
       |), sums AS (
       |  SELECT doc_id,
       |    $bitSums
       |  FROM tf GROUP BY doc_id
       |)
       |SELECT doc_id, CAST($fp AS BIGINT) AS simhash
       |FROM sums ORDER BY doc_id ASC""".stripMargin
  }

  /** SimHash near-duplicate PAIRS within Hamming distance `maxDist`,
    * found by pigeonhole banding — the scale path for Hamming search:
    * split the fingerprint into maxDist+1 bands; fingerprints within
    * Hamming distance maxDist differ in at most maxDist bands, so they
    * AGREE on at least one (pigeonhole) — candidates = pairs sharing
    * any (band, value) bucket, never all-pairs. Using the MINIMUM band
    * count maximizes per-band width and thus bucket selectivity: for
    * maxDist=1 that is 2 bands × 32 bits = 2^32 values/band, so a
    * bucket collision is already near-certain evidence of a true
    * near-dup (the 16-bit ancestor of this operator had 256-value
    * bands that saturated — candidate counts went quadratic and it was
    * the slowest query in the bench). Exact verify = bit_count(xor) <=
    * maxDist. Both sides md5-deterministic and mirrored in the oracle.
    */
  def simhashPairs(spark: SparkSession, dir: String,
      maxDist: Int): DataFrame = {
    val numBands = maxDist + 1
    require(SimHashBits % numBands == 0,
      s"$SimHashBits bits must split evenly into $numBands bands")
    val bandBits = SimHashBits / numBands
    val fps = simhash(spark, dir).transform(CacheScope.cached)
    val bands = (0 until numBands).map { b =>
      fps.select(col("doc_id"), lit(b).as("band"),
        expr(s"(simhash >> ${b * bandBits}) & " +
          s"${(1L << bandBits) - 1}").as("bval"))
    }.reduce(_ union _)
    val cand = bands.as("x")
      .join(bands.as("y").hint("SHUFFLE_HASH"),
        col("x.band") === col("y.band") && col("x.bval") === col("y.bval") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    cand
      .join(fps.select(col("doc_id").as("a"), col("simhash").as("ha")),
        Seq("a"))
      .join(fps.select(col("doc_id").as("b"), col("simhash").as("hb")),
        Seq("b"))
      .select(col("a"), col("b"),
        expr("bit_count(ha ^ hb)").cast("int").as("hamming"))
      .filter(col("hamming") <= lit(maxDist))
      .orderBy(col("a").asc, col("b").asc)
  }

  def simhashPairsOracleSql(maxDist: Int): String = {
    val numBands = maxDist + 1
    val bandBits = SimHashBits / numBands
    val bandSelects = (0 until numBands).map { b =>
      s"SELECT doc_id, $b AS band, (simhash >> ${b * bandBits}) & " +
        s"${(1L << bandBits) - 1} AS bval FROM fps"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH fps AS (
       |  SELECT doc_id, simhash FROM ($simhashOracleSql) sh
       |), bands AS (
       |  $bandSelects
       |), cand AS (
       |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bval = y.bval AND x.doc_id < y.doc_id
       |)
       |SELECT c.a, c.b,
       |  CAST(bit_count(xor(fa.simhash, fb.simhash)) AS INT) AS hamming
       |FROM cand c
       |JOIN fps fa ON fa.doc_id = c.a
       |JOIN fps fb ON fb.doc_id = c.b
       |WHERE bit_count(xor(fa.simhash, fb.simhash)) <= $maxDist
       |ORDER BY a ASC, b ASC""".stripMargin
  }

  /** Edit-distance confirmation — the LAST stage of the dedup funnel
    * (MinHash bands → shingle-Jaccard verify → char-level confirm):
    * Levenshtein distance over the first `prefixLen` chars of each
    * Jaccard-verified near-dup pair (the prefix bound keeps the O(n·m)
    * DP affordable; near-dups diverge early or not at all). Both
    * engines implement the identical unit-cost DP, so the integer
    * distance is hash-gateable.
    *
    * Scale shape — the funnel ordering is the whole point: the DP runs
    * only on pairs that already passed token-level Jaccard ≥
    * `jaccThreshold`, a set whose size ∝ true near-duplicates, NOT on
    * a raw fingerprint recall set (measured at sf0.1: 16-bit simhash
    * buckets yield 39k collision pairs — 120 s of DP — where the
    * Jaccard-verified set is a few hundred). A second guard skips the
    * DP lazily (CASE in both engines) when the prefix LENGTHS already
    * differ by more than `maxDist`, since length difference
    * lower-bounds edit distance. */
  def editDistancePairs(spark: SparkSession, dir: String,
      jaccThreshold: Double, prefixLen: Int, maxDist: Int): DataFrame = {
    val pairs = minhashPairs(spark, dir, jaccThreshold)
    val docs = Tables.documentsDense(spark, dir)
      .select(col("doc_id"), substring(col("text"), 1, prefixLen).as("t"))
    // long to match DuckDB levenshtein's BIGINT in the driver hash;
    // the length guard makes the DP conditional (when() evaluates
    // lazily under codegen)
    val dist = when(
      abs(length(col("ta")) - length(col("tb"))) <= lit(maxDist),
      levenshtein(col("ta"), col("tb")).cast("long"))
      .otherwise(lit(maxDist.toLong + 1L))
    broadcast(pairs)
      .join(docs.select(col("doc_id").as("a"), col("t").as("ta")), Seq("a"))
      .join(docs.select(col("doc_id").as("b"), col("t").as("tb")), Seq("b"))
      .select(col("a"), col("b"), col("jaccard"), dist.as("editdist"))
      .filter(col("editdist") <= lit(maxDist))
      .orderBy(col("a").asc, col("b").asc)
  }

  def editDistancePairsOracleSql(jaccThreshold: Double, prefixLen: Int,
      maxDist: Int): String =
    s"""WITH pairs AS (
       |  ${minhashPairsOracleSql(jaccThreshold)}
       |), d AS (
       |  SELECT doc_id, substr(text, 1, $prefixLen) AS t FROM documents
       |), scored AS (
       |  SELECT p.a, p.b, p.jaccard,
       |    CASE WHEN abs(length(da.t) - length(db.t)) <= $maxDist
       |         THEN levenshtein(da.t, db.t)
       |         ELSE ${maxDist + 1} END AS editdist
       |  FROM pairs p
       |  JOIN d da ON da.doc_id = p.a
       |  JOIN d db ON db.doc_id = p.b
       |)
       |SELECT a, b, jaccard, editdist FROM scored
       |WHERE editdist <= $maxDist
       |ORDER BY a ASC, b ASC""".stripMargin

  // ---- Shingle Jaccard --------------------------------------------------

  val ShingleSize = 3

  /** Token n-gram size for the duplicated-span inventory — longer than
    * the shingles so a reported span is a real verbatim run, not a
    * common phrase. */
  val SpanGramSize = 5

  /** Duplicated-span inventory — the fixed-n approximation of
    * exact-substring training-data dedup (Lee et al. 2021 build a
    * suffix array to find all repeated substrings ≥50 chars; at fixed
    * token-gram length the same question — "which verbatim runs appear
    * in more than one document, and how often?" — is a sort/agg over
    * the gram stream, no suffix structure needed). Output: every
    * 5-token gram occurring in >1 distinct document, with its document
    * frequency and total occurrence count (multiplicity preserved —
    * unlike the shingle SETS above, a doc repeating a span internally
    * counts every occurrence), worst offenders first.
    *
    * Scale shape: gram explosion is scan-local behind the tokenizer
    * barrier; ONE shuffle on gram with map-side partial aggregation;
    * the >1-doc filter runs post-agg on the vocabulary-sized result.
    * At 100 TB the gram stream never materializes — it flows straight
    * into the partial aggregate. */
  def duplicatedSpans(spark: SparkSession, dir: String,
      topK: Int): DataFrame = {
    val toks = Tables.documentsDense(spark, dir)
      .select(col("doc_id"),
        explode(array(TextAnalyzer.tokens(col("text")))).as("toks"))
    val idx = when(size(col("toks")) >= SpanGramSize,
      sequence(lit(0), size(col("toks")) - SpanGramSize))
      .otherwise(array().cast("array<int>"))
    val grams = transform(idx,
      i => concat_ws(" ",
        (0 until SpanGramSize).map(j =>
          element_at(col("toks"), i + j + 1)): _*))
    toks.select(col("doc_id"), explode(grams).as("gram"))
      .groupBy("gram")
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"))
      .filter(col("n_docs") > 1)
      .orderBy(col("n_docs").desc, col("n_occurrences").desc,
        col("gram").asc)
      .limit(topK)
  }

  def duplicatedSpansOracleSql(topK: Int): String = {
    val gramExpr = (1 to SpanGramSize).map(j => s"tl[i + ${j - 1}]")
      .mkString(" || ' ' || ")
    s"""WITH toklists AS (
       |  SELECT doc_id, list_filter(
       |    string_split_regex(lower(text), '\\W+'),
       |    t -> ${TextAnalyzer.sqlTermFilter("t")}) AS tl
       |  FROM documents
       |), grams AS (
       |  SELECT doc_id, unnest(list_transform(
       |    range(1, greatest(len(tl) - ${SpanGramSize - 1}, 0) + 1),
       |    i -> $gramExpr)) AS gram
       |  FROM toklists
       |)
       |SELECT gram, count(DISTINCT doc_id) AS n_docs,
       |  count(*) AS n_occurrences
       |FROM grams GROUP BY gram
       |HAVING count(DISTINCT doc_id) > 1
       |ORDER BY n_docs DESC, n_occurrences DESC, gram ASC
       |LIMIT $topK""".stripMargin
  }

  /** Duplicated-span REMOVAL — the actual Lee et al. 2022 transform
    * ([[duplicatedSpans]] inventories the offending grams,
    * [[spanCoverage]] measures how much text they cover; this EMITS
    * the cleaned corpus): every token position covered by some
    * `SpanGramSize`-token run that also appears verbatim in another
    * document is cut, and the surviving tokens rejoin in order. The
    * cut set is computed relationally: dup-span start positions
    * (gram-keyed semi-join against the >1-doc gram set, grams
    * traveling as md5 digests) anti-join the exploded token stream on
    * doc_id + a BETWEEN range — per-doc work ∝ tokens × that doc's
    * dup spans, never corpus-quadratic. Output is doc-level and
    * hash-gated: (n_tokens, n_kept, n_removed, md5 of the cleaned
    * text) — the cleaned STRING itself is reproduced identically by
    * both engines (same tokenizer, same order-preserving rejoin), so
    * the md5 pins the transform byte-for-byte without shipping text.
    * Fully-covered documents report the empty-string md5. */
  def removeDuplicatedSpans(spark: SparkSession,
      dir: String): DataFrame =
    spanRemovalStats(
      Tables.documentsDense(spark, dir)
        .select(col("doc_id"),
          TextAnalyzer.tokens(col("text")).as("toks"))
        .transform(CacheScope.cached))

  /** The span-removal kernel over any (doc_id, toks) frame — the dup
    * grams are mined WITHIN the given frame (so running it over a
    * deduplicated survivor set, as [[curationApply]] does, cuts only
    * spans still duplicated AMONG survivors, the honest post-dedup
    * semantics). Same relational shape as documented on
    * [[removeDuplicatedSpans]]. */
  private def spanRemovalStats(docs: DataFrame): DataFrame = {
    val idx = when(size(col("toks")) >= SpanGramSize,
      sequence(lit(0), size(col("toks")) - SpanGramSize))
      .otherwise(array().cast("array<int>"))
    val pg = transform(idx, i => struct(
      i.as("p"),
      md5(concat_ws(" ",
        (0 until SpanGramSize).map(j =>
          element_at(col("toks"), i + j + 1)): _*)).as("g")))
    val positions = docs
      .select(col("doc_id"), explode(pg).as("pg"))
      .select(col("doc_id"), col("pg.p").as("p"), col("pg.g").as("g"))
      .transform(CacheScope.cached)
    val dups = positions.groupBy("g")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") > 1).select("g")
    val dupPos = positions.join(dups, "g")
      .select(col("doc_id").as("d2"), col("p"))
    val tokens = docs.select(col("doc_id"),
      posexplode(col("toks")).as(Seq("ti", "token")))
    val kept = tokens.join(dupPos,
      col("doc_id") === col("d2") &&
        col("ti") >= col("p") && col("ti") <= col("p") + (SpanGramSize - 1),
      "left_anti")
    val agg = kept.groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        md5(concat_ws(" ",
          transform(array_sort(collect_list(struct(col("ti"),
            col("token")))), x => x.getField("token"))).cast("binary"))
          .as("cleaned_md5"))
    docs.select(col("doc_id"), size(col("toks")).cast("long")
        .as("n_tokens"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L)))
          .as("n_removed"),
        coalesce(col("cleaned_md5"),
          lit("d41d8cd98f00b204e9800998ecf8427e")).as("cleaned_md5"))
      .orderBy(col("doc_id").asc)
  }

  def removeDuplicatedSpansOracleSql: String = {
    val gramExpr = (1 to SpanGramSize).map(j => s"tl[i + ${j - 1}]")
      .mkString(" || ' ' || ")
    s"""WITH toklists AS MATERIALIZED (
       |  SELECT doc_id, list_filter(
       |    string_split_regex(lower(text), '\\W+'),
       |    t -> ${graft.functions.TextAnalyzer.sqlTermFilter("t")}) AS tl
       |  FROM documents
       |), pos AS MATERIALIZED (
       |  SELECT doc_id, s['p'] AS p, s['g'] AS g FROM (
       |    SELECT doc_id, unnest(list_transform(
       |      range(1, greatest(len(tl) - ${SpanGramSize - 1}, 0) + 1),
       |      i -> {'p': i, 'g': md5($gramExpr)})) AS s
       |    FROM toklists)
       |), dups AS (
       |  SELECT g FROM pos GROUP BY g
       |  HAVING count(DISTINCT doc_id) > 1
       |), dp AS MATERIALIZED (
       |  SELECT doc_id, p FROM pos JOIN dups USING (g)
       |), toksidx AS (
       |  SELECT doc_id, ti, tl[ti] AS token FROM (
       |    SELECT doc_id, tl, unnest(range(1, len(tl) + 1)) AS ti
       |    FROM toklists)
       |), kept AS (
       |  SELECT t.doc_id, t.ti, t.token FROM toksidx t
       |  WHERE NOT EXISTS (SELECT 1 FROM dp
       |    WHERE dp.doc_id = t.doc_id
       |      AND t.ti BETWEEN dp.p AND dp.p + ${SpanGramSize - 1})
       |), agg AS (
       |  SELECT doc_id, count(*) AS n_kept,
       |    md5(string_agg(token, ' ' ORDER BY ti)) AS cleaned_md5
       |  FROM kept GROUP BY doc_id
       |), base AS (
       |  SELECT doc_id, CAST(len(tl) AS BIGINT) AS n_tokens
       |  FROM toklists
       |)
       |SELECT b.doc_id, b.n_tokens,
       |  coalesce(a.n_kept, 0) AS n_kept,
       |  b.n_tokens - coalesce(a.n_kept, 0) AS n_removed,
       |  coalesce(a.cleaned_md5, md5('')) AS cleaned_md5
       |FROM base b LEFT JOIN agg a USING (doc_id)
       |ORDER BY b.doc_id ASC""".stripMargin
  }

  // ---- curated-corpus materialization (r14 verdict #3) ------------------

  /** CURATION APPLY — the artifact a training run actually consumes:
    * the surviving corpus after the full curation pipeline.
    * [[curationDecisions]] issues the verdicts; this materializes
    * them — documents whose decision is `keep` (exact dups, near
    * dups and quality failures dropped), then duplicated-SPAN removal
    * re-mined over the SURVIVOR set only (post-dedup semantics: a
    * span that was duplicated solely because a since-removed copy
    * carried it is no longer duplicated, so it survives — dedup first,
    * substring-dedup second, the production ordering of Lee et al.
    * 2022). Output is doc-grain and hash-gated like
    * [[removeDuplicatedSpans]]: (doc_id, source, n_tokens, n_kept,
    * n_removed, cleaned_md5) with the cleaned text pinned
    * byte-for-byte by md5, never shipped.
    *
    * Scale shape: a PROBE of the persisted [[ensureCurationTable]]
    * artifact (build-once/probe-many — the decision chain and the
    * survivor span pass run once per corpus fingerprint); this query
    * is then one filtered scan + ordered emit. */
  def curationApply(spark: SparkSession, dir: String,
      threshold: Double): DataFrame =
    spark.table(ensureCurationTable(spark, dir, threshold))
      .filter(col("decision") === lit("keep"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("n_kept"), col("n_removed"), col("cleaned_md5"))
      .orderBy(col("doc_id").asc)

  /** Shared oracle text: the doc-grain decision chain (dec) plus the
    * survivor span-removal chain ending in a per-kept-doc frame
    * `perdoc(doc_id, source, n_tokens, n_kept, n_removed,
    * cleaned_md5)`. Both curation_apply oracles append their own
    * final SELECT. */
  private[operators] def curationApplyCtes(threshold: Double): String = {
    val gramExpr = (1 to SpanGramSize).map(j => s"tl[i + ${j - 1}]")
      .mkString(" || ' ' || ")
    s"""WITH g AS MATERIALIZED (
       |  SELECT doc_id,
       |    (wc >= 30 AND wc <= 10000)
       |      AND (meanwl >= 3.0 AND meanwl <= 5.0)
       |      AND symratio <= 0.1 AND nstop >= 1 AND dfrac >= 0.5
       |      AS pass
       |  FROM (
       |  ${TextOps.gopherSignalsSql}
       |  ) sgn
       |), exsigs AS MATERIALIZED (
       |  SELECT doc_id, source,
       |    md5(array_to_string(list_sort(list_distinct(list_filter(
       |      string_split_regex(lower(text), '\\W+'),
       |      t -> ${TextAnalyzer.sqlTermFilter("t")}))), ' ')) AS sig
       |  FROM documents
       |), keepers AS (
       |  SELECT sig, min(doc_id) AS keep_id FROM exsigs GROUP BY 1
       |), nd AS MATERIALIZED (
       |  SELECT doc_id, is_keeper
       |  FROM (${nearDupClustersOracleSql(threshold)}) c
       |), dec AS MATERIALIZED (
       |  SELECT s.source, s.doc_id,
       |    CASE WHEN s.doc_id <> k.keep_id THEN 'exact_dup'
       |         WHEN nd.doc_id IS NOT NULL AND NOT nd.is_keeper
       |           THEN 'near_dup'
       |         WHEN NOT g.pass THEN 'quality'
       |         ELSE 'keep' END AS decision
       |  FROM exsigs s JOIN keepers k ON k.sig = s.sig
       |  LEFT JOIN nd ON nd.doc_id = s.doc_id
       |  JOIN g ON g.doc_id = s.doc_id
       |), keptdocs AS MATERIALIZED (
       |  SELECT d.doc_id, d.source, d.text
       |  FROM documents d
       |  JOIN dec ON dec.doc_id = d.doc_id
       |  WHERE dec.decision = 'keep'
       |), toklists AS MATERIALIZED (
       |  SELECT doc_id, list_filter(
       |    string_split_regex(lower(text), '\\W+'),
       |    t -> ${TextAnalyzer.sqlTermFilter("t")}) AS tl
       |  FROM keptdocs
       |), pos AS MATERIALIZED (
       |  SELECT doc_id, s['p'] AS p, s['g'] AS g FROM (
       |    SELECT doc_id, unnest(list_transform(
       |      range(1, greatest(len(tl) - ${SpanGramSize - 1}, 0) + 1),
       |      i -> {'p': i, 'g': md5($gramExpr)})) AS s
       |    FROM toklists)
       |), dups AS (
       |  SELECT g FROM pos GROUP BY g
       |  HAVING count(DISTINCT doc_id) > 1
       |), dp AS MATERIALIZED (
       |  SELECT doc_id, p FROM pos JOIN dups USING (g)
       |), toksidx AS (
       |  SELECT doc_id, ti, tl[ti] AS token FROM (
       |    SELECT doc_id, tl, unnest(range(1, len(tl) + 1)) AS ti
       |    FROM toklists)
       |), keptt AS (
       |  SELECT t.doc_id, t.ti, t.token FROM toksidx t
       |  WHERE NOT EXISTS (SELECT 1 FROM dp
       |    WHERE dp.doc_id = t.doc_id
       |      AND t.ti BETWEEN dp.p AND dp.p + ${SpanGramSize - 1})
       |), sagg AS (
       |  SELECT doc_id, count(*) AS n_kept,
       |    md5(string_agg(token, ' ' ORDER BY ti)) AS cleaned_md5
       |  FROM keptt GROUP BY doc_id
       |), perdoc AS MATERIALIZED (
       |  SELECT kd.doc_id, kd.source,
       |    CAST(len(tl.tl) AS BIGINT) AS n_tokens,
       |    coalesce(sagg.n_kept, 0) AS n_kept,
       |    CAST(len(tl.tl) AS BIGINT) - coalesce(sagg.n_kept, 0)
       |      AS n_removed,
       |    coalesce(sagg.cleaned_md5, md5('')) AS cleaned_md5
       |  FROM keptdocs kd
       |  JOIN toklists tl ON tl.doc_id = kd.doc_id
       |  LEFT JOIN sagg ON sagg.doc_id = kd.doc_id
       |)""".stripMargin
  }

  def curationApplyOracleSql(threshold: Double): String =
    s"""${curationApplyCtes(threshold)}
       |SELECT doc_id, source, n_tokens, n_kept, n_removed, cleaned_md5
       |FROM perdoc ORDER BY doc_id ASC""".stripMargin

  /** Per-source reconciliation + corpus digest of the curated set:
    * every decision count (must match [[curationDecisions]] row for
    * row — asserted by DedupSpec AND replayed by the oracle), the
    * kept-side token totals, and `corpus_md5` = md5 over the kept
    * docs' cleaned_md5 digests concatenated in doc_id order — ONE
    * hash that pins the entire curated corpus byte-for-byte. Output
    * is nSources rows. */
  def curationApplyDigest(spark: SparkSession, dir: String,
      threshold: Double): DataFrame = {
    val counts = spark.table(ensureCurationTable(spark, dir, threshold))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("decision") === "exact_dup", 1L).otherwise(0L))
          .as("n_exact_dup"),
        sum(when(col("decision") === "near_dup", 1L).otherwise(0L))
          .as("n_near_dup"),
        sum(when(col("decision") === "quality", 1L).otherwise(0L))
          .as("n_quality"),
        sum(when(col("decision") === "keep", 1L).otherwise(0L))
          .as("n_keep"))
    val dig = curationApply(spark, dir, threshold)
      .groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("n_tokens_kept_docs"),
        sum(col("n_kept")).as("n_tokens_clean"),
        md5(concat_ws("",
          transform(array_sort(collect_list(struct(col("doc_id"),
            col("cleaned_md5")))), x => x.getField("cleaned_md5")))
          .cast("binary")).as("corpus_md5"))
    counts.join(dig, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_exact_dup"),
        col("n_near_dup"), col("n_quality"), col("n_keep"),
        coalesce(col("n_tokens_kept_docs"), lit(0L))
          .as("n_tokens_kept_docs"),
        coalesce(col("n_tokens_clean"), lit(0L)).as("n_tokens_clean"),
        coalesce(col("corpus_md5"),
          lit("d41d8cd98f00b204e9800998ecf8427e")).as("corpus_md5"))
      .orderBy(col("source").asc)
  }

  def curationApplyDigestOracleSql(threshold: Double): String =
    s"""${curationApplyCtes(threshold)}, counts AS (
       |  SELECT source, count(*) AS n_docs,
       |    CAST(sum(CASE WHEN decision = 'exact_dup' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_exact_dup,
       |    CAST(sum(CASE WHEN decision = 'near_dup' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_near_dup,
       |    CAST(sum(CASE WHEN decision = 'quality' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_quality,
       |    CAST(sum(CASE WHEN decision = 'keep' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_keep
       |  FROM dec GROUP BY source
       |), dig AS (
       |  SELECT source,
       |    CAST(sum(n_tokens) AS BIGINT) AS n_tokens_kept_docs,
       |    CAST(sum(n_kept) AS BIGINT) AS n_tokens_clean,
       |    md5(string_agg(cleaned_md5, '' ORDER BY doc_id))
       |      AS corpus_md5
       |  FROM perdoc GROUP BY source
       |)
       |SELECT c.source, c.n_docs, c.n_exact_dup, c.n_near_dup,
       |  c.n_quality, c.n_keep,
       |  coalesce(d.n_tokens_kept_docs, 0) AS n_tokens_kept_docs,
       |  coalesce(d.n_tokens_clean, 0) AS n_tokens_clean,
       |  coalesce(d.corpus_md5, md5('')) AS corpus_md5
       |FROM counts c LEFT JOIN dig d ON d.source = c.source
       |ORDER BY c.source ASC""".stripMargin

  /** Hard-negative TRAINING-TRIPLET mining — the retrieval-training
    * read over the dedup machinery (contrastive embedding training
    * wants (anchor, positive, negative) triplets; the standard source
    * of positives is exactly the near-duplicate structure a curation
    * pass already computes, and negatives must be RANDOM-BUT-
    * REPRODUCIBLE non-duplicates): for every document with a verified
    * near-dup partner (minhash-banded, Jaccard ≥ threshold), the
    * positive is its highest-Jaccard partner (min-id tiebreak) and the
    * negative is drawn from the anchor's md5 HASH BUCKET — candidates
    * share the anchor's first md5 hex digit (a 1/16 corpus slice; at
    * 100 TB the prefix widens to keep the slice constant-sized), are
    * not the anchor/positive, are not any verified partner (no false
    * negatives in the training signal), and the winner minimizes
    * md5(anchor||'_'||cand) — a per-anchor deterministic draw both
    * engines replay. Per-anchor work is bounded by the bucket slice,
    * and the slice is CORPUS-RELATIVE: the md5 prefix length grows by
    * exact integer thresholds (p hex digits while n ≤ 512·16^p — the
    * same comparisons in both engines, no float log at a boundary) so
    * the expected slice stays ≤ ~512 candidates however large the
    * corpus; the argmin runs in anchor-partitioned windows, never
    * global. A fixed prefix made the draw anchors×(n/16) —
    * measured 6.3× at the 10× ladder rung before this. */

  /** Smallest p (1..8) with n ≤ [[NegSliceTarget]]·16^p. */
  val NegSliceTarget = 512L
  private[operators] def negPrefixLen(n: Long): Int =
    (1 to 8).find(p =>
      n <= NegSliceTarget * math.pow(16.0, p).toLong).getOrElse(8)

  def trainingTriplets(spark: SparkSession, dir: String,
      threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pfx = negPrefixLen(
      Tables.documentsDense(spark, dir).count()) // metadata-count job
    val pairs = minhashPairs(spark, dir, threshold)
      .transform(CacheScope.cached)
    val partners = pairs
      .select(col("a").as("anchor"), col("b").as("partner"),
        col("jaccard"))
      .unionByName(pairs.select(col("b").as("anchor"),
        col("a").as("partner"), col("jaccard")))
      .transform(CacheScope.cached)
    val wPos = Window.partitionBy("anchor")
      .orderBy(col("jaccard").desc, col("partner").asc)
    val pos = partners.withColumn("rn", row_number().over(wPos))
      .filter(col("rn") === 1)
      .select(col("anchor"), col("partner").as("positive"),
        col("jaccard"))
    val bucketed = Tables.documentsDense(spark, dir)
      .select(col("doc_id").as("cand"))
      .withColumn("bkt",
        substring(md5(col("cand").cast("string").cast("binary")), 1, pfx))
    val cands = pos
      .withColumn("bkt",
        substring(md5(col("anchor").cast("string").cast("binary")), 1, pfx))
      .join(bucketed, Seq("bkt"))
      .filter(col("cand") =!= col("anchor") &&
        col("cand") =!= col("positive"))
      .join(partners.select(col("anchor"),
        col("partner").as("cand")), Seq("anchor", "cand"), "left_anti")
      .withColumn("nkey", md5(concat(col("anchor").cast("string"),
        lit("_"), col("cand").cast("string")).cast("binary")))
    val wNeg = Window.partitionBy("anchor")
      .orderBy(col("nkey").asc, col("cand").asc)
    cands.withColumn("rn", row_number().over(wNeg))
      .filter(col("rn") === 1)
      .select(col("anchor"), col("positive"), col("jaccard"),
        col("cand").as("negative"))
      .orderBy(col("anchor").asc)
  }

  def trainingTripletsOracleSql(threshold: Double): String =
    s"""WITH pairs AS MATERIALIZED (
       |  ${minhashPairsOracleSql(threshold)}
       |), partners AS MATERIALIZED (
       |  SELECT a AS anchor, b AS partner, jaccard FROM pairs
       |  UNION ALL
       |  SELECT b AS anchor, a AS partner, jaccard FROM pairs
       |), pos AS (
       |  SELECT anchor, partner AS positive, jaccard FROM (
       |    SELECT *, row_number() OVER (PARTITION BY anchor
       |      ORDER BY jaccard DESC, partner ASC) AS rn
       |    FROM partners) WHERE rn = 1
       |), plen AS (
       |  -- corpus-relative prefix: same exact integer thresholds as
       |  -- the engine's negPrefixLen
       |  SELECT ${(1 to 8).map(p =>
            s"WHEN count(*) <= ${NegSliceTarget * math.pow(16.0, p).toLong} THEN $p")
            .mkString("CASE ", " ", " ELSE 8 END")} AS p
       |  FROM documents
       |), bucketed AS (
       |  SELECT doc_id AS cand,
       |    substr(md5(CAST(doc_id AS VARCHAR)), 1, (SELECT p FROM plen))
       |      AS bkt
       |  FROM documents
       |), cands AS (
       |  SELECT p.anchor, p.positive, p.jaccard, d.cand,
       |    md5(CAST(p.anchor AS VARCHAR) || '_'
       |        || CAST(d.cand AS VARCHAR)) AS nkey
       |  FROM pos p
       |  JOIN bucketed d
       |    ON d.bkt = substr(md5(CAST(p.anchor AS VARCHAR)), 1,
       |                      (SELECT p FROM plen))
       |  WHERE d.cand <> p.anchor AND d.cand <> p.positive
       |    AND NOT EXISTS (SELECT 1 FROM partners pp
       |                    WHERE pp.anchor = p.anchor
       |                      AND pp.partner = d.cand)
       |)
       |SELECT anchor, positive, jaccard, cand AS negative FROM (
       |  SELECT *, row_number() OVER (PARTITION BY anchor
       |    ORDER BY nkey ASC, cand ASC) AS rn
       |  FROM cands) WHERE rn = 1
       |ORDER BY anchor ASC""".stripMargin

  /** Variable-length exact-substring dedup — the suffix-array question
    * (Lee et al. 2022 find all repeated substrings ≥ threshold via a
    * corpus suffix array) answered with a LENGTH-CAPPED distributed
    * gram-extension pass, the sorted-extension member of the
    * suffix-grouping family: for each token length n in
    * [minN, maxN], inventory the cross-doc duplicated n-grams (one
    * partial-aggregable gram shuffle per level over the shared cached
    * token stream), then keep a level-n gram only if NO duplicated
    * (n+1)-gram contains it — containment checked relationally by
    * decomposing each level-(n+1) gram into its two n-token children
    * (drop-first-word / drop-last-word regexes, identical on both
    * engines) and anti-joining. What survives is the set of MAXIMAL
    * duplicated substrings (string-level inventory, like
    * [[duplicatedSpans]]): extending any of them by one token in
    * either direction is no longer a cross-doc duplicate. The maxN
    * level reports as-is — runs ≥ maxN tokens are length-capped by
    * construction (the cap is the suffix-array trade: bounded levels
    * instead of unbounded LCP extension).
    *
    * Scale shape: maxN−minN+1 gram levels, each scan-local behind the
    * cached tokenizer barrier with ONE map-side-combined shuffle;
    * anti-joins are vocabulary-sized on both sides and gram-keyed.
    * Total work is O(levels · corpus) — the suffix array's O(corpus ·
    * log) with a bounded constant and no global sort. */
  def maximalDuplicatedSubstrings(spark: SparkSession, dir: String,
      minN: Int, maxN: Int, topK: Int): DataFrame = {
    require(minN >= 2 && maxN > minN, "need a real level ladder")
    // All levels ride one flattened per-row array (the level-per-
    // shuffle form paid maxN−minN+1 scans+exchanges — measured 5.7 s
    // at sf0.1); the corpus-wide exchange carries HASH KEYS (pass 1
    // below), the strings only travel for duplicate candidates (pass
    // 2). The dup frame is cached: per-level slices and child-
    // decompositions below are vocabulary-sized filters over it.
    val toks = Tables.documentsDense(spark, dir)
      .select(col("doc_id"),
        explode(array(TextAnalyzer.tokens(col("text")))).as("toks"))
    def gramsFor(n: Int) = {
      val idx = when(size(col("toks")) >= n,
        sequence(lit(0), size(col("toks")) - n))
        .otherwise(array().cast("array<int>"))
      transform(idx, i => struct(
        lit(n.toLong).as("length"),
        concat_ws(" ",
          (0 until n).map(j => element_at(col("toks"), i + j + 1)): _*)
          .as("gram")))
    }
    def lgStream = toks
      .select(col("doc_id"),
        explode(flatten(array((minN to maxN).map(gramsFor): _*)))
          .as("lg"))
    // HASH-PROXY gram shuffle with EXACT recovery (r19 verdict #3;
    // guide §2.3 "shuffle keys and metadata instead of payloads" / §8
    // decide-with-small-rows): the 5-10-token gram STRINGS are 30-70
    // bytes each and the duplicate decision needs only equality, so
    // pass 1 aggregates (length, xxhash64(gram), doc_id) — 16 bytes of
    // key per row crosses the corpus-wide exchange instead of the
    // string. Pass 2 re-derives the grams from a second scan, keeps
    // only rows whose (length, hash) is a duplicate candidate, and
    // re-aggregates the SURVIVORS by the REAL string with the exact
    // n_docs > 1 re-check: a hash collision can only ADD a candidate
    // (its exact count then filters it), never drop one (a truly
    // duplicated gram's hash cell counts ≥ its own n_docs) — so the
    // result is bit-identical to the single-pass string shuffle, with
    // only the duplicated grams' strings ever crossing an exchange.
    // The trade is a second tokenize scan (the guide-§8 two-scan
    // shape); the token stream is deliberately NOT cached — at 100 TB
    // a corpus-sized cache spills, while the rescan is embarrassingly
    // parallel.
    val dupHashes = lgStream
      .select(col("lg.length").as("length"),
        xxhash64(col("lg.gram")).as("ghash"), col("doc_id"))
      .groupBy(col("length"), col("ghash"))
      .agg(countDistinct(col("doc_id")).as("n_docs_h"))
      .filter(col("n_docs_h") > 1)
      .select("length", "ghash")
    val allDups = lgStream
      .select(col("doc_id"), col("lg.length").as("length"),
        col("lg.gram").as("gram"))
      .withColumn("ghash", xxhash64(col("gram")))
      // broadcast the candidate set: without the hint the planner's
      // size estimate for the aggregated dupHashes picks a sort-merge
      // semi-join that shuffles the FULL gram stream by (length, ghash)
      // — strings included — which is exactly the exchange this pass
      // exists to avoid (measured 3.9 s → 10.6 s at sf0.1/32p before
      // the hint). The broadcast is 16 bytes per DUPLICATED gram —
      // orders of magnitude below the corpus gram stream.
      .join(broadcast(dupHashes), Seq("length", "ghash"), "left_semi")
      .groupBy(col("length"), col("gram"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"))
      .filter(col("n_docs") > 1)
      .transform(CacheScope.cached)
    val levels = (minN to maxN).map(n =>
      n -> allDups.filter(col("length") === n.toLong)).toMap
    def children(next: DataFrame): DataFrame =
      next.select(regexp_replace(col("gram"), " [^ ]+$", "").as("gram"))
        .union(next
          .select(regexp_replace(col("gram"), "^[^ ]+ ", "").as("gram")))
        .distinct()
    val maximal = (minN until maxN).map { n =>
      levels(n).join(children(levels(n + 1)), Seq("gram"), "left_anti")
    } :+ levels(maxN) // capped level: maximal-or-longer by construction
    maximal.reduce(_.unionByName(_))
      .select(col("length"), col("gram"), col("n_docs"),
        col("n_occurrences"))
      .orderBy(col("length").desc, col("n_docs").desc,
        col("n_occurrences").desc, col("gram").asc)
      .limit(topK)
  }

  def maximalDuplicatedSubstringsOracleSql(minN: Int, maxN: Int,
      topK: Int): String = {
    def gramExpr(n: Int) = (0 until n).map(j => s"tl[i + $j]")
      .mkString(" || ' ' || ")
    val dupCtes = (minN to maxN).map { n =>
      s"""g$n AS (
         |  SELECT doc_id, unnest(list_transform(
         |    range(1, greatest(len(tl) - ${n - 1}, 0) + 1),
         |    i -> ${gramExpr(n)})) AS gram
         |  FROM toklists
         |), dup$n AS MATERIALIZED (
         |  SELECT gram, count(DISTINCT doc_id) AS n_docs,
         |    count(*) AS n_occurrences
         |  FROM g$n GROUP BY gram HAVING count(DISTINCT doc_id) > 1
         |)""".stripMargin
    }.mkString(", ")
    // children precomputed once per level (equi-keyed anti-join, not a
    // per-pair regex nested loop)
    val childCtes = (minN until maxN).map { n =>
      s"""ch$n AS (
         |  SELECT regexp_replace(gram, ' [^ ]+$$', '') AS gram
         |  FROM dup${n + 1}
         |  UNION
         |  SELECT regexp_replace(gram, '^[^ ]+ ', '') FROM dup${n + 1}
         |)""".stripMargin
    }.mkString(", ")
    val maximalSelects = (minN until maxN).map { n =>
      s"""SELECT CAST($n AS BIGINT) AS length, gram, n_docs,
         |  n_occurrences
         |FROM dup$n d WHERE d.gram NOT IN (SELECT gram FROM ch$n)""".stripMargin
    } :+
      s"""SELECT CAST($maxN AS BIGINT) AS length, gram, n_docs,
         |  n_occurrences
         |FROM dup$maxN""".stripMargin
    s"""WITH toklists AS MATERIALIZED (
       |  SELECT doc_id, list_filter(
       |    string_split_regex(lower(text), '\\W+'),
       |    t -> ${graft.functions.TextAnalyzer.sqlTermFilter("t")}) AS tl
       |  FROM documents
       |), $dupCtes, $childCtes
       |${maximalSelects.mkString("\nUNION ALL\n")}
       |ORDER BY length DESC, n_docs DESC, n_occurrences DESC, gram ASC
       |LIMIT $topK""".stripMargin
  }

  /** Duplicated-span COVERAGE per source — the Lee et al. 2022 removal
    * criterion made queryable: for every document, the fraction of its
    * token positions covered by some `SpanGramSize`-token run that also
    * appears verbatim in ANOTHER document; rolled up per source with
    * the would-be removal set (docs ≥50% duplicated). Where
    * [[duplicatedSpans]] inventories the offending grams, this measures
    * how much of each slice of the corpus is duplicated text — the
    * number that decides whether a source is worth keeping.
    *
    * Shape: positions+grams are scan-local; duplicate grams come from
    * ONE gram-keyed partial-aggregable shuffle; covered positions
    * semi-join that (gram-keyed again — same partitioning); the
    * interval union (overlapping [p, p+n) windows must not double
    * count) is a per-document running-max window — bounded by document
    * length, never corpus-wide. Grams travel as md5 digests to cut
    * shuffle bytes. All-integer arithmetic; coverage reported in
    * integral micro-units.
    */
  def spanCoverage(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsDense(spark, dir)
      .select(col("doc_id"), col("source"),
        TextAnalyzer.tokens(col("text")).as("toks"))
      .transform(CacheScope.cached)
    val idx = when(size(col("toks")) >= SpanGramSize,
      sequence(lit(0), size(col("toks")) - SpanGramSize))
      .otherwise(array().cast("array<int>"))
    val pg = transform(idx, i => struct(
      i.as("p"),
      md5(concat_ws(" ",
        (0 until SpanGramSize).map(j =>
          element_at(col("toks"), i + j + 1)): _*)).as("g")))
    val positions = docs
      .select(col("doc_id"), explode(pg).as("pg"))
      .select(col("doc_id"), col("pg.p").as("p"), col("pg.g").as("g"))
      .transform(CacheScope.cached)
    val dups = positions.groupBy("g")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") > 1)
      .select("g")
    // per-doc interval union: (doc_id, p) is unique by construction, so
    // the running max of span ends over PRECEDING rows yields exact
    // non-double-counted coverage: contribution = (p+n) - max(p, prev_end)
    val w = Window.partitionBy("doc_id").orderBy(col("p"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val perDoc = positions.join(dups, "g")
      .withColumn("prev_end",
        max(col("p") + SpanGramSize).over(w))
      .select(col("doc_id"),
        (col("p") + SpanGramSize -
          greatest(col("p"), coalesce(col("prev_end"), lit(0)))).as("c"))
      .groupBy("doc_id").agg(sum(col("c")).as("covered"))
    docs
      .select(col("doc_id"), col("source"),
        size(col("toks")).cast("long").as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("n_tokens"),
        coalesce(col("covered"), lit(0L)).as("covered"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum((col("covered") > 0).cast("long")).as("n_with_dup"),
        sum(when(col("covered") * 2 >= col("n_tokens") &&
          col("n_tokens") > 0, 1L).otherwise(0L)).as("n_flagged"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("covered")).as("covered_tokens"))
      .select(col("source"), col("n_docs"), col("n_with_dup"),
        col("n_flagged"), col("total_tokens"), col("covered_tokens"),
        expr("covered_tokens * 1000000 div total_tokens")
          .as("coverage_micro"))
      .orderBy(col("source").asc)
  }

  def spanCoverageOracleSql: String = {
    val gramExpr = (1 to SpanGramSize).map(j => s"tl[i + ${j - 1}]")
      .mkString(" || ' ' || ")
    s"""WITH toklists AS (
       |  SELECT doc_id, source, list_filter(
       |    string_split_regex(lower(text), '\\W+'),
       |    t -> ${TextAnalyzer.sqlTermFilter("t")}) AS tl
       |  FROM documents
       |), pos AS (
       |  SELECT doc_id, s['p'] AS p, s['g'] AS g FROM (
       |    SELECT doc_id, unnest(list_transform(
       |      range(1, greatest(len(tl) - ${SpanGramSize - 1}, 0) + 1),
       |      i -> {'p': i, 'g': md5($gramExpr)})) AS s
       |    FROM toklists)
       |), dups AS (
       |  SELECT g FROM pos GROUP BY g
       |  HAVING count(DISTINCT doc_id) > 1
       |), cov AS (
       |  SELECT doc_id, p,
       |    coalesce(max(p + $SpanGramSize) OVER (
       |      PARTITION BY doc_id ORDER BY p
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS prev_end
       |  FROM pos WHERE g IN (SELECT g FROM dups)
       |), perdoc AS (
       |  SELECT doc_id,
       |    sum(p + $SpanGramSize - greatest(p, prev_end)) AS covered
       |  FROM cov GROUP BY doc_id
       |), grain AS (
       |  SELECT t.doc_id, t.source, len(t.tl) AS n_tokens,
       |    coalesce(p.covered, 0) AS covered
       |  FROM toklists t LEFT JOIN perdoc p ON p.doc_id = t.doc_id
       |)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN covered > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_with_dup,
       |  CAST(sum(CASE WHEN covered * 2 >= n_tokens AND n_tokens > 0
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |  CAST(sum(covered) AS BIGINT) AS covered_tokens,
       |  CAST(sum(covered) * 1000000 // sum(n_tokens) AS BIGINT)
       |    AS coverage_micro
       |FROM grain GROUP BY source ORDER BY source ASC""".stripMargin
  }

  /** Cross-source leakage matrix — which SOURCES share verbatim
    * `SpanGramSize`-token runs, and how much: for every unordered
    * source pair, the number of distinct shared grams. The curation
    * read behind "is slice A contaminated with slice B" (the
    * cross-split flavor of the benchmark-contamination screen —
    * sources standing in for train/eval splits).
    *
    * Scale shape: one gram-keyed partial-agg shuffle collecting each
    * gram's distinct SOURCE set (bounded by nSources, not corpus);
    * pair expansion is per-gram combinatorics over that bounded set;
    * the final agg is nSources² rows. The corpus never self-joins. */
  def sourceLeakage(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsDense(spark, dir)
      .select(col("source"), TextAnalyzer.tokens(col("text")).as("toks"))
    val idx = when(size(col("toks")) >= SpanGramSize,
      sequence(lit(0), size(col("toks")) - SpanGramSize))
      .otherwise(array().cast("array<int>"))
    // grams travel as 52-bit BIGINT digests (13 md5 hex chars — the
    // sample_hashed precedent), quartering shuffle bytes vs the full
    // 32-char digest; collision odds at corpus gram cardinality are
    // ~(n²/2)/2⁵² — negligible, and identical in both engines
    val grams = transform(idx,
      i => conv(substring(md5(concat_ws(" ",
        (0 until SpanGramSize).map(j =>
          element_at(col("toks"), i + j + 1)): _*)), 1, 13), 16, 10)
        .cast("long"))
    val srcSets = docs
      .select(col("source"), explode(grams).as("g"))
      .groupBy("g")
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
      .filter(size(col("srcs")) > 1)
    // unordered pairs from each gram's (bounded) source set
    srcSets
      .select(explode(expr(
        """flatten(transform(srcs, (a, i) ->
          |  transform(slice(srcs, i + 2, size(srcs)),
          |    b -> struct(a AS src_a, b AS src_b))))""".stripMargin))
        .as("p"))
      .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
      .agg(count(lit(1)).as("shared_grams"))
      .orderBy(col("src_a").asc, col("src_b").asc)
  }

  def sourceLeakageOracleSql: String = {
    val gramExpr = (1 to SpanGramSize).map(j => s"tl[i + ${j - 1}]")
      .mkString(" || ' ' || ")
    s"""WITH toklists AS (
       |  SELECT source, list_filter(
       |    string_split_regex(lower(text), '\\W+'),
       |    t -> ${TextAnalyzer.sqlTermFilter("t")}) AS tl
       |  FROM documents
       |), grams AS (
       |  SELECT source, unnest(list_transform(
       |    range(1, greatest(len(tl) - ${SpanGramSize - 1}, 0) + 1),
       |    i -> CAST('0x' || substr(md5($gramExpr), 1, 13) AS BIGINT)))
       |    AS g
       |  FROM toklists
       |), pairs AS (
       |  SELECT x.source AS src_a, y.source AS src_b, x.g
       |  FROM (SELECT DISTINCT source, g FROM grams) x
       |  JOIN (SELECT DISTINCT source, g FROM grams) y
       |    ON y.g = x.g AND x.source < y.source
       |)
       |SELECT src_a, src_b, count(*) AS shared_grams
       |FROM pairs GROUP BY 1, 2 ORDER BY src_a ASC, src_b ASC""".stripMargin
  }

  /** (doc_id, shingle) distinct word 3-gram shingles via sliding window
    * over the analyzed token stream (transform over index sequence —
    * pure built-ins, no UDF).
    */
  def docShingles(documents: DataFrame): DataFrame =
    docShinglesSized(documents).select("doc_id", "shingle")

  /** (doc_id, sz, shingle) — the shingle set exploded WITH its set size
    * attached scan-locally. Carrying sz in-row means downstream pair
    * joins get both set sizes for free, eliminating two per-doc-size
    * lookup joins that would otherwise shuffle at any corpus size. */
  def docShinglesSized(documents: DataFrame): DataFrame =
    docShingleSets(documents)
      .select(col("doc_id"), size(col("sh_set")).cast("long").as("sz"),
        explode(col("sh_set")).as("shingle"))

  /** Near-dup pairs by exact shingle-set Jaccard >= threshold, candidates
    * generated from the shingle inverted index (pairs sharing >= 1
    * shingle) — no cross join; cost ∝ Σ_shingle df².
    */
  def shingleJaccardPairs(
      spark: SparkSession, dir: String, threshold: Double): DataFrame = {
    // probe the persisted shingle-bucketed posting index
    // ([[ensurePpjoinIndex]]), replacing the per-query tokenize+explode
    // corpus pass. The self-join stays unhinted: real table stats
    // self-correct the strategy with scale (see minhashPairs).
    val sh = spark.table(ensurePpjoinIndex(spark, dir))
      .select(col("doc_id"), col("sz"), col("shingle"))
    sh.as("x")
      .join(sh.as("y"),
        col("x.shingle") === col("y.shingle") &&
          col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.sz").as("sza"), col("y.sz").as("szb"))
      .agg(count(lit(1)).as("inter"))
      .select(col("a"), col("b"),
        round(col("inter") /
          (col("sza") + col("szb") - col("inter")), 6).as("jaccard"))
      .filter(col("jaccard") >= lit(threshold))
      .orderBy(col("jaccard").desc, col("a").asc, col("b").asc)
  }

  def shingleJaccardOracleSql(threshold: Double): String =
    s"""WITH toklists AS (
       |  SELECT doc_id, list_filter(
       |    string_split_regex(lower(text), '\\W+'),
       |    t -> ${TextAnalyzer.sqlTermFilter("t")}) AS toks
       |  FROM documents
       |), sh AS (
       |  SELECT DISTINCT doc_id,
       |    unnest(list_transform(
       |      range(1, greatest(len(toks) - ${ShingleSize - 1}, 0) + 1),
       |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
       |  FROM toklists
       |), sizes AS (
       |  SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
       |), inter AS (
       |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
       |  FROM sh x JOIN sh y
       |    ON x.shingle = y.shingle AND x.doc_id < y.doc_id
       |  GROUP BY x.doc_id, y.doc_id
       |)
       |SELECT i.a, i.b,
       |  round(CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter), 6) AS jaccard
       |FROM inter i
       |JOIN sizes sa ON sa.doc_id = i.a
       |JOIN sizes sb ON sb.doc_id = i.b
       |WHERE round(CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter), 6)
       |      >= $threshold
       |ORDER BY jaccard DESC, a ASC, b ASC""".stripMargin

  /** PPJoin-style EXACT-threshold set-similarity join with PREFIX
    * FILTERING (Chaudhuri et al. 2006 / Xiao et al. 2008): candidate
    * pairs come only from each document's L = |set| − ⌈t·|set|⌉ + 1
    * RAREST tokens (global-df order), by the prefix-filter lemma —
    * two sets with Jaccard ≥ t MUST share a prefix token. The posting
    * join therefore runs over the rare tail of the vocabulary instead
    * of every token ([[shingleJaccardPairs]] joins ALL postings): at
    * 100 TB the frequent-token posting lists are exactly the quadratic
    * blowup this prunes, while the result is IDENTICAL to the brute
    * join — which is what the oracle computes, so the optimization is
    * hash-gated against the semantics it must preserve.
    *
    * Plan: one df-keyed join attaches the sort key (co-keyed shuffle,
    * not a broadcast — the vocabulary is corpus-sized at scale), one
    * doc-partitioned window ranks tokens, the prefix posting join
    * yields candidates, and one candidate-restricted intersection
    * verifies exact Jaccard. */
  /** Build-once / probe-many for the PPJoin family: the df-ranked
    * posting index (doc_id, shingle, sz, pos) and the per-doc shingle
    * sets are pure functions of the CORPUS — the threshold enters only
    * as a probe-time filter over `pos` (the prefix-length lemma) — so
    * both persist once per corpus fingerprint and every
    * exact-threshold join at ANY threshold is a probe. The postings
    * table is bucketed by shingle, which makes the prefix SELF-join a
    * zero-exchange co-located SortMergeJoin; the sets table is
    * bucketed by doc_id for the verification equi-joins. This is the
    * similarity-join-service discipline at 100 TB: the two corpus
    * tokenize+window passes are the build, the rare-tail posting join
    * is the query. */
  def ensurePpjoinIndex(spark: SparkSession, dir: String): String = {
    val name = s"graft_ppx_${ScaleOps.contentHash(dir, "documents")}"
    ScaleOps.ensure(spark, ScaleOps.Family("ppjoin", 1),
        ScaleOps.AttachSpec(s"${name}_sets", "doc_id", 8),
        ScaleOps.AttachSpec(name, "shingle", 32)) {
      val sh = docShinglesSized(Tables.documentsDense(spark, dir))
        .transform(CacheScope.cached)
      val dfs = sh.groupBy("shingle").agg(count(lit(1)).as("sdf"))
      val byDoc = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id")
        .orderBy(col("sdf").asc, col("shingle").asc)
      Seq(docShingleSets(Tables.documentsDense(spark, dir)),
        sh.join(dfs, Seq("shingle"))
          .withColumn("pos", row_number().over(byDoc))
          .select(col("doc_id"), col("shingle"), col("sz"), col("pos")))
    }
  }

  /** Formulation switch for the exact-threshold set-similarity join
    * (r15 verdict #3, resolved one level up from the suggested
    * filter-toggle): the decision signal is the BRUTE PAIR VOLUME
    * Σ_s C(df_s, 2) over the full posting index — the exact number of
    * same-shingle pair rows the direct posting join would emit.
    *
    * Measured A/B on this corpus family (both scales):
    *   - direct posting join + pair-grain count verify: 0.57 s at
    *     sf0.1 (471k-pair-volume regime), 2.5 s at sf1 — LINEAR while
    *     posting lists stay short;
    *   - prefix stack + array-carrying verify: 4.0 s / 7.9 s at the
    *     same rungs — the per-candidate array_intersect dominates
    *     (3.2 s of the sf0.1 4.0 s), and a positional-filter toggle
    *     (tried first) moves it the WRONG way (5.4 s with the filter
    *     off: more candidates reach the expensive verify).
    *
    * The prefix stack therefore only pays once frequent-token posting
    * lists make Σ C(df, 2) quadratic — the workload PPJoin was
    * invented for (Xiao et al. 2008 §1: web-scale corpora with zipf
    * vocabularies). Below [[PpjoinBruteMaxPairs]] the brute pair
    * volume fits one balanced exchange (50M pair rows ≈ a ~1 GB
    * shuffle) and the direct join wins outright; past it the prefix +
    * length + positional stack bounds candidates while brute blows up.
    * Both formulations produce IDENTICAL verified output (the oracle
    * is the brute join; PpjoinRouteSpec pins equality and the switch),
    * which is what licenses runtime adaptivity. The volume probe is
    * one tiny df aggregate over the bucketed index, memoized per index
    * generation. */
  val PpjoinBruteMaxPairs = 50000000L

  private val ppjoinVolMemo = new DriverMemo[String, Long](16)

  /** Brute pair volume Σ_s C(df_s, 2) of the persisted posting index —
    * the routing signal, memoized per index name (which carries the
    * corpus content fingerprint; dead generations age out of the
    * [[DriverMemo]] LRU instead of accumulating one scalar per
    * regeneration forever). */
  def ppjoinBruteVolume(spark: SparkSession, idx: String): Long =
    ppjoinVolMemo.getOrCompute(idx, idx) {
      Option(spark.table(idx).groupBy(col("shingle"))
        .agg(count(lit(1)).as("n"))
        .agg(sum(expr("n * (n - 1) div 2")).as("c"))
        .collect()(0).get(0)).map(_.asInstanceOf[Long]).getOrElse(0L)
    }

  def ppjoinPairs(spark: SparkSession, dir: String,
      threshold: Double): DataFrame = {
    val idx = ensurePpjoinIndex(spark, dir)
    val route = spark.conf.getOption("graft.ppjoin.route") match {
      case Some(r @ ("brute" | "prefix")) => r
      case Some(other) =>
        // a typo'd pin must fail loudly, not silently bench/test the
        // auto-chosen plan (ADVICE r16)
        throw new IllegalArgumentException(
          s"graft.ppjoin.route must be brute|prefix, got '$other'")
      case None =>
        if (ppjoinBruteVolume(spark, idx) < PpjoinBruteMaxPairs) "brute"
        else "prefix"
    }
    if (route == "brute") return shingleJaccardPairs(spark, dir, threshold)
    ppjoinPrefixPairs(spark, dir, threshold)
  }

  /** The prefix-filtered formulation — the high-volume route of
    * [[ppjoinPairs]]. */
  def ppjoinPrefixPairs(spark: SparkSession, dir: String,
      threshold: Double): DataFrame = {
    val idx = ensurePpjoinIndex(spark, dir)
    val ranked = spark.table(idx)
    // the threshold-filtered prefix frame feeds BOTH self-join sides —
    // cache it (per query, released by the caller) so the posting scan
    // and the pos-filter run once. sz and pos are carried through for
    // the positional filter below.
    val prefix = CacheScope.cached(ranked
      .filter(col("pos") <= col("sz") - ceil(lit(threshold) * col("sz"))
        + lit(1))
      .select(col("doc_id"), col("shingle"), col("sz"), col("pos")))
    // Candidate generation with the FULL PPJoin filter stack (Xiao et
    // al. 2008). Both extra filters are UPPER-BOUND SOUND — they can
    // only drop pairs whose Jaccard provably cannot reach t, so the
    // verified result is identical to the brute join:
    //  - LENGTH: jaccard ≥ t ⟹ min(sz)/max(sz) ≥ t;
    //  - POSITIONAL: a true pair's FIRST shared token at prefix
    //    positions (px, py) bounds the overlap o ≤ 1 + min(szx−px,
    //    szy−py), and jaccard ≥ t ⟺ o ≥ t/(1+t)·(szx+szy); a pair
    //    survives if ANY shared-token row passes, and the first-match
    //    row always passes for a true pair. The 1e-9 slack only ever
    //    RELAXES a float bound (never drops a boundary pair). In this
    //    route's regime (quadratic brute volume) every candidate the
    //    filters drop is an array-verify saved — the A/B behind the
    //    routing note above measured the filters cutting candidates
    //    3.2× (471k→145k) at the fixture.
    val overlapLb = (col("x.sz") + col("y.sz")) * lit(threshold) /
      lit(1.0 + threshold) - lit(1e-9)
    // self-join unhinted (every pinning was A/B'd at both scales and
    // measured equal or worse; real table stats self-correct the
    // strategy as the corpus grows)
    val candidates = prefix.as("x")
      .join(prefix.as("y"),
        col("x.shingle") === col("y.shingle") &&
          col("x.doc_id") < col("y.doc_id") &&
          least(col("x.sz"), col("y.sz")) >=
            lit(threshold) * greatest(col("x.sz"), col("y.sz")) - lit(1e-9) &&
          (lit(1) + least(col("x.sz") - col("x.pos"),
            col("y.sz") - col("y.pos"))) >= overlapLb)
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    // exact verification: the THRESHOLD-bounded candidate id pairs
    // equi-join the per-doc set arrays and the intersection is a
    // scan-local array_intersect — no posting re-join (the earlier
    // postings-based verify paid two more corpus-keyed shuffles and
    // benched 5x its oracle). Hops unhinted: AQE runtime-sizes the
    // dup-density-scaled candidate side.
    val sets = spark.table(s"${idx}_sets")
    val withA = sets
      .select(col("doc_id").as("a"), col("sh_set").as("set_a"))
      .join(candidates, Seq("a"))
    val withB = sets
      .select(col("doc_id").as("b"), col("sh_set").as("set_b"))
      .join(withA, Seq("b"))
    withB
      .select(col("a"), col("b"),
        size(array_intersect(col("set_a"), col("set_b"))).as("inter"),
        size(col("set_a")).as("sza"), size(col("set_b")).as("szb"))
      .select(col("a"), col("b"),
        round(col("inter") /
          (col("sza") + col("szb") - col("inter")), 6).as("jaccard"))
      .filter(col("jaccard") >= lit(threshold))
      .orderBy(col("jaccard").desc, col("a").asc, col("b").asc)
  }

  /** LSH banding recall gate — the dedup twin of `ann_recall`: both
    * [[minhashPairs]] (banded candidates, exact verify) and
    * [[ppjoinPairs]] (prefix-filtered, provably complete) end with the
    * same exact-Jaccard-≥-t verification, so any pair the MinHash path
    * lacks is a BANDING miss. One full-outer join of the two pair
    * frames reduces to the recall scorecard — the measured answer to
    * "how much does the LSH shortcut cost", which round-over-round
    * protects the banding parameters from silent degradation. */
  def lshRecallEval(spark: SparkSession, dir: String,
      threshold: Double): DataFrame = {
    // exact side: the provably-complete prefix-filtered pair set is a
    // deterministic pure function of (corpus, threshold) — persisted
    // once per corpus fingerprint (EvalCache), the discipline a dedup
    // evaluation harness uses at scale (the exact join is the
    // per-evaluation cost; the LSH side under test always runs live).
    // dedup_ppjoin, the operator itself, stays fully live.
    val exact = EvalCache.ensure(spark, dir, "documents",
        ScaleOps.Family("jac", 1), "a", EvalCache.keyOf(threshold))(
        ppjoinPairs(spark, dir, threshold).select(col("a"), col("b")))
      .select(col("a"), col("b"), lit(1L).as("in_e"))
    val lsh = minhashPairs(spark, dir, threshold)
      .select(col("a"), col("b"), lit(1L).as("in_l"))
    exact.join(lsh.withColumnRenamed("in_l", "in_l2"),
      Seq("a", "b"), "full_outer")
      .agg(
        sum(coalesce(col("in_e"), lit(0L))).as("n_exact"),
        sum(coalesce(col("in_l2"), lit(0L))).as("n_lsh"),
        sum(coalesce(col("in_e"), lit(0L)) *
          coalesce(col("in_l2"), lit(0L))).as("n_common"))
      .select(col("n_exact"), col("n_lsh"), col("n_common"),
        round(col("n_common") / col("n_exact"), 6).as("band_recall"))
  }

  def lshRecallEvalOracleSql(threshold: Double): String =
    s"""WITH ex AS MATERIALIZED (
       |  SELECT a, b FROM (${shingleJaccardOracleSql(threshold)})
       |), mh AS MATERIALIZED (
       |  SELECT a, b FROM (${minhashPairsOracleSql(threshold)})
       |)
       |SELECT
       |  (SELECT count(*) FROM ex) AS n_exact,
       |  (SELECT count(*) FROM mh) AS n_lsh,
       |  (SELECT count(*) FROM ex JOIN mh USING (a, b)) AS n_common,
       |  round(CAST((SELECT count(*) FROM ex JOIN mh USING (a, b))
       |    AS DOUBLE) / (SELECT count(*) FROM ex), 6) AS band_recall""".stripMargin

  /** Oracle = the BRUTE posting join over full shingle sets (no prefix
    * filter) — [[shingleJaccardOracleSql]] verbatim: the semantics the
    * optimization must preserve, at a threshold high enough that the
    * prefixes actually prune. */
  def ppjoinOracleSql(threshold: Double): String =
    shingleJaccardOracleSql(threshold)
}
