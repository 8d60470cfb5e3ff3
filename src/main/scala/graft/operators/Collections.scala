package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Collection semantics (SURVEY.md §1.1, §2.1 S1/S2/S6, §2.6 A1/A2).
  *
  * The fixture corpus has no collections table; the `lang` column plays
  * the collection role (a 5-value namespace over documents, mirroring
  * collection_id scoping in the reference FTS SQL,
  * /root/reference/src/core/vector_store.py:223). The derived collections
  * dim assigns deterministic ids by name order — at scale this dim is a
  * tiny broadcast table, exactly like the reference's `collections`.
  */
object Collections {

  /** The derived collections dim: (collection_id, name, n_docs,
    * total_chars) — A2 done right (groupBy, not ORM len()). */
  def collections(spark: SparkSession, dir: String): DataFrame = {
    val dims = Tables.documents(spark, dir)
      .groupBy(col("lang").as("name"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"))
    // name-rank via a broadcast self-join over the (already aggregated,
    // tiny) dim — collection_id = count of names <= this name; names are
    // distinct post-agg, so the rank is dense and unique. This replaces
    // the unpartitioned row_number window (single-partition WindowExec),
    // so nothing in the plan funnels through one task even if the dim
    // grows to thousands of collections at 100 TB.
    val names = dims.select(col("name").as("other"))
    val ranks = dims.select(col("name"))
      .join(broadcast(names), col("other") <= col("name"))
      .groupBy(col("name"))
      .agg(count(lit(1)).as("collection_id"))
    dims.join(broadcast(ranks), Seq("name"))
      .select("collection_id", "name", "n_docs", "total_chars")
  }

  /** The physical partition-by-collection layout SURVEY §4.3 promises:
    * documents persisted once per corpus as a table PARTITIONED BY the
    * collection column (`lang`), so collection-scoped reads prune at
    * the DIRECTORY level — the scan plans `PartitionFilters` and lists
    * only the target collection's files, rather than opening every
    * file and relying on row-group PushedFilters. At 100 TB with
    * thousands of collections this is the difference between listing
    * one partition and footer-probing the whole corpus. Built once per
    * dir (the [[graft.operators.Fts.ensureIndex]] build-once/probe-many
    * discipline); collection-scoped operators read through
    * [[scopedDocuments]]. */
  def ensurePartitionedDocuments(spark: SparkSession,
      dir: String): String = {
    // keyed on a CONTENT fingerprint, not the dir path: regenerating a
    // fixture in place (ScaleUp overwrites its out dir) changes the
    // fingerprint and forces a rebuild, so fts_topk / s3_pagination_
    // scoped can never silently serve the stale corpus (r13 ADVICE)
    ScaleOps.ensure(spark, ScaleOps.Family("docs_by_lang", 1),
      ScaleOps.AttachSpec(
        s"graft_docs_part_${ScaleOps.contentHash(dir, "documents")}",
        partitionCols = Seq("lang"))) {
      Seq(Tables.documents(spark, dir))
    }
  }

  /** One collection's documents off the partitioned layout — the
    * filter lands in the scan's PartitionFilters (directory pruning),
    * asserted by PartitionPruneSpec. */
  def scopedDocuments(spark: SparkSession, dir: String,
      lang: String): DataFrame =
    spark.table(ensurePartitionedDocuments(spark, dir))
      .filter(col("lang") === lit(lang))

  /** S1: point lookup by unique name (pushdown-friendly filter). */
  def lookup(spark: SparkSession, dir: String, name: String): DataFrame =
    collections(spark, dir).filter(col("name") === lit(name))

  def lookupOracleSql(name: String): String =
    s"""WITH colls AS (
       |  SELECT row_number() OVER (ORDER BY name) AS collection_id, name,
       |         n_docs, total_chars
       |  FROM (
       |    SELECT lang AS name, count(*) AS n_docs,
       |           CAST(sum(n_chars) AS BIGINT) AS total_chars
       |    FROM documents GROUP BY lang
       |  )
       |)
       |SELECT collection_id, name, n_docs, total_chars
       |FROM colls WHERE name = '$name'""".stripMargin

  /** S2: list all collections with stats, deterministic order. */
  def list(spark: SparkSession, dir: String): DataFrame =
    collections(spark, dir).orderBy(col("name").asc)

  val listOracleSql: String =
    """SELECT row_number() OVER (ORDER BY name) AS collection_id, name,
      |       n_docs, total_chars
      |FROM (
      |  SELECT lang AS name, count(*) AS n_docs,
      |         CAST(sum(n_chars) AS BIGINT) AS total_chars
      |  FROM documents GROUP BY lang
      |)
      |ORDER BY name ASC""".stripMargin

  /** S6: cascade delete of one collection — the two coordinated anti-join
    * rewrites, observed through the surviving per-collection stats. */
  def cascadeDeleteSurvivors(spark: SparkSession, dir: String,
      name: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("lang") =!= lit(name)) // docs cascade with the collection
      .groupBy(col("lang").as("name"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("name").asc)

  def cascadeDeleteOracleSql(name: String): String =
    s"""SELECT lang AS name, count(*) AS n_docs
       |FROM documents WHERE lang <> '$name'
       |GROUP BY lang ORDER BY name ASC""".stripMargin

  /** S9: relation-size stat — `pg_total_relation_size` analog
    * (/root/reference/src/core/vector_store.py:414-416) as the parquet
    * footprint of each table via the Hadoop FS API. */
  def relationSizes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val rows = Tables.All.map { t =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/$t.parquet")
      val fs = p.getFileSystem(conf)
      val size =
        if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
      (t, size)
    }
    rows.toDF("table_name", "size_bytes").orderBy(col("table_name"))
  }

  /** S4/P8 write path under the HASH GATE (r15 verdict #8): the sinks
    * were spec-gated only; this registers their OBSERVABLE OUTCOME as
    * an oracled query. Two stores under a content-fingerprinted scratch
    * root:
    *
    *   - `col_a` is pre-seeded with the doc_id%3==0 slice, then
    *     [[graft.sources.ParquetStore.appendIfAbsent]] appends the
    *     doc_id%2==0 batch — the absent-key filter must admit exactly
    *     the even ids NOT divisible by 3 (S4 batched insert,
    *     /root/reference/src/core/vector_store.py:92-174);
    *   - `col_b` does not exist, so the same call exercises the
    *     auto-create branch (P8, documents.py:111-126) with the `fr`
    *     slice.
    *
    * The result is a per-(store, collection) digest of the POST-APPEND
    * state read back from disk: row count, id sum, and an additive text
    * hash (the tableDigests fold) — any wrong/missing/duplicated row
    * shifts it. The oracle recomputes the expected state from the input
    * table with pure set algebra: after append-if-absent,
    * col_a ≡ {doc_id%3==0 ∨ doc_id%2==0}. Idempotent per corpus
    * generation: re-invocations append 0 fresh rows (the anti-join
    * finds every key present), so bench reps and verify see the same
    * state — which is itself the upsert semantics under test. */
  /** Name of the provenance marker written inside every scratch root:
    * it records WHICH fixture dir the generation derives from, and the
    * GC only ever reaps roots whose marker matches the current fixture
    * (r17 ADVICE: the unscoped reap could delete a CONCURRENT session's
    * live store for a different corpus — parallel sf0.1/sf1 runs — or
    * thrash delete/recreate when one JVM alternates fixture dirs). */
  private val S4Marker = "SOURCE_DIR"

  /** Scratch-root parent for the s4 append-state stores — session-conf
    * overridable so tests (and co-hosted sessions) can isolate their
    * scratch namespace instead of mutating the machine-wide tmpdir. */
  private def s4ScratchParent(spark: SparkSession): java.nio.file.Path =
    java.nio.file.Paths.get(
      spark.conf.getOption("graft.s4.scratchRoot")
        .getOrElse(sys.props("java.io.tmpdir")))

  def appendStateDigest(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    import java.nio.charset.StandardCharsets.UTF_8
    val fp = ScaleOps.contentHash(dir, "documents")
    val tmpRoot = s4ScratchParent(spark)
    val root = tmpRoot.resolve(s"graft_s4_$fp")
    // scratch-generation GC (r16 verdict #6 / ADVICE): a NEW corpus
    // generation vacuums the DEAD generations of the SAME fixture dir
    // (marker match), so regenerations leave exactly one live scratch
    // generation per fixture instead of accumulating dead stores
    // across sessions (the fitRawMemo problem, on disk). Scoped by the
    // provenance marker (r17 ADVICE): roots of OTHER fixture dirs —
    // a concurrent session's live store — and markerless roots we
    // cannot attribute are never touched. Idempotent re-runs on the
    // SAME generation skip the listing entirely.
    if (!Files.exists(root) && Files.isDirectory(tmpRoot)) {
      def markerOf(p: java.nio.file.Path): Option[String] =
        try Some(new String(Files.readAllBytes(p.resolve(S4Marker)), UTF_8))
        catch { case _: java.io.IOException => None }
      val stale = Files.list(tmpRoot)
      try stale.forEach { p =>
        if (p.getFileName.toString.startsWith("graft_s4_") && p != root &&
            markerOf(p).contains(dir))
          graft.sources.ParquetStore.deleteRecursively(p)
      } finally stale.close()
      Files.createDirectories(root)
      Files.write(root.resolve(S4Marker), dir.getBytes(UTF_8))
    }
    val storeA = root.resolve("col_a").toString
    val storeB = root.resolve("col_b").toString
    val docs = Tables.documents(spark, dir)
      .select("doc_id", "lang", "source", "text")
    // atomic seed (r16 ADVICE): the tmp+rename swap means col_a either
    // fully exists or not at all — a run killed mid-seed can never
    // leave a partial store that later invocations serve for this
    // corpus fingerprint (a leftover .tmp- sibling is invisible to the
    // exists-check and reaped with its root by the generation GC)
    if (!Files.exists(Paths.get(storeA)))
      graft.sources.ParquetStore.overwriteAtomic(
        docs.filter(col("doc_id") % 3 === 0), storeA)
    // the two stores are INDEPENDENT sinks: overlap their append jobs
    // from two driver threads (guide §2.6 — Spark happily runs both;
    // the second store's anti-join back-fills executors freed by the
    // first store's tail) instead of paying the two absent-check job
    // chains sequentially (r19 verdict #8: s4's cost is 17 sequential
    // jobs at the dispatch floor). Stores are disjoint directories, so
    // the interleaving cannot affect either store's state or the digest
    // below; a failure in either sink surfaces, the other's attached.
    DriverThreads.all(Seq(
      (storeA, docs.filter(col("doc_id") % 2 === 0)),
      (storeB, docs.filter(col("lang") === lit("fr")))
    ).map { case (store, rows) => () =>
      graft.sources.ParquetStore.appendIfAbsent(spark, store, rows,
        Seq("doc_id"))
    }: _*)
    val textHash = conv(substring(md5(col("text")), 1, 7), 16, 10)
      .cast("long")
    spark.read.parquet(storeA)
      .select(lit("col_a").as("store"), col("lang"), col("doc_id"),
        textHash.as("h"))
      .unionByName(spark.read.parquet(storeB)
        .select(lit("col_b").as("store"), col("lang"), col("doc_id"),
          textHash.as("h")))
      .groupBy(col("store"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"),
        sum(col("h")).as("text_hash_sum"))
      .orderBy(col("store").asc, col("lang").asc)
  }

  val appendStateDigestOracleSql: String =
    """WITH a AS (
      |  SELECT * FROM documents WHERE doc_id % 3 = 0 OR doc_id % 2 = 0
      |), b AS (
      |  SELECT * FROM documents WHERE lang = 'fr'
      |), u AS (
      |  SELECT 'col_a' AS store, lang, doc_id,
      |    CAST('0x' || substr(md5(text), 1, 7) AS BIGINT) AS h FROM a
      |  UNION ALL
      |  SELECT 'col_b' AS store, lang, doc_id,
      |    CAST('0x' || substr(md5(text), 1, 7) AS BIGINT) AS h FROM b
      |)
      |SELECT store, lang, count(*) AS n_docs,
      |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
      |  CAST(sum(h) AS BIGINT) AS text_hash_sum
      |FROM u GROUP BY store, lang
      |ORDER BY store ASC, lang ASC""".stripMargin
}
