package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextAnalyzer

/** Full-text search — the reference's flagship operator
  * (/root/reference/src/core/vector_store.py:176-261, SURVEY.md §2.2).
  *
  * The reference's FTS is one SQL statement against a trigger-maintained
  * GIN-indexed tsvector. Spark-first re-expression:
  *
  *   - F1 tsvector build  → derived inverted-index DataFrame
  *                          (doc_id, lang, term, tf, positions)
  *   - F2 plainto_tsquery → TextAnalyzer.analyze on the query string (AND)
  *   - F3 @@ match        → semi-join: index ⋈ query-terms, group by doc,
  *                          keep docs matching ALL terms (countDistinct ==
  *                          nTerms). The query-terms side is a literal
  *                          in-list → no shuffle for the probe; the
  *                          group-agg is partial-aggregated map-side.
  *   - F4 ts_rank_cd      → owned formula (SURVEY §7 phase 0):
  *                          s = Σ_t ln(1 + tf_t); score = s / (1 + s)
  *                          (the /(1+x) mirrors PG normalization bit 32,
  *                          /root/reference/src/core/vector_store.py:218)
  *   - F5 top-k           → orderBy desc + limit → TakeOrderedAndProject
  *                          (no full sort; per-partition heaps + driver
  *                          merge — scales to any partition count)
  *   - F6 collection scope→ `lang` column stands in for collection_id;
  *                          a pushed-down partition-prunable filter.
  *
  * Scale notes (100 TB): the inverted index would be a persisted table
  * partitioned by collection and bucketed by term; here it is derived
  * on the fly from documents.parquet. Matching starts from the query's
  * terms (an in-list filter pushed to the parquet scan of the index),
  * so cost is O(posting lists of the query terms), not O(corpus).
  */
object Fts {

  /** F1: the inverted index. tf + ordered positions per (doc, term). */
  def invertedIndex(documents: DataFrame): DataFrame = {
    documents
      .select(col("doc_id"), col("lang"),
        posexplode(TextAnalyzer.tokens(col("text"))).as(Seq("pos", "term")))
      .groupBy("doc_id", "lang", "term")
      .agg(
        count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos"))).as("positions"))
  }

  /** Build-once / probe-many: the inverted index persisted as a table
    * bucketed by term — the GIN-index analog this file's header promises
    * at 100 TB ("a persisted table partitioned by collection and
    * bucketed by term"). The tokenize+group build runs ONCE per corpus;
    * index-shaped workloads (term statistics, multi-query batch search)
    * probe it, and a term IN-list probe statically prunes to the terms'
    * buckets. Below the routing threshold a single ad-hoc search reads
    * the scan-local zero-exchange posting source instead ([[postings]]) —
    * strictly better when nothing is amortized. */
  /** Catalog name of the persisted index for `dir` — computable
    * without building (the routing policy checks existence). */
  def indexName(dir: String): String =
    s"graft_fts_${ScaleOps.contentHash(dir, "documents")}"

  def ensureIndex(spark: SparkSession, dir: String): String =
    ScaleOps.ensure(spark, ScaleOps.Family("fts_index", 1),
        ScaleOps.AttachSpec(indexName(dir), "term", 32)) {
      Seq(invertedIndex(Tables.documents(spark, dir)))
    }

  /** Compaction for the STREAMED index
    * (graft.streaming.EventStreams.indexMaintenance writes one
    * `batch_id=N` partition per micro-batch): fold the batch partitions
    * into the same term-bucketed table shape [[ensureIndex]] builds, so
    * probe-side consumers see one bucketed relation instead of N small
    * files. A document re-ingested in a later batch REPLACES its older
    * postings (latest batch_id wins per doc) — the merge-on-read
    * semantics of the CDC family applied to the index itself. One
    * doc-keyed aggregate + co-keyed join, then the bucketed write; at
    * 100 TB this is the standard small-file compaction job scheduled
    * off the ingest path. */
  def compactStreamedIndex(spark: SparkSession, indexDir: String,
      table: String): String = {
    val idx = spark.read.parquet(indexDir)
    val latest = idx.groupBy("doc_id")
      .agg(max(col("batch_id")).as("batch_id"))
    val winning = idx.join(latest, Seq("doc_id", "batch_id"))
      .select("doc_id", "lang", "term", "tf", "positions")
    ScaleOps.writeBucketed(winning, table, "term", 32)
    table
  }

  /** F2–F7: AND-match + rank + top-k, scoped to one language: the
    * query's terms from the [[postings]] source (a scan of the
    * collection's documents or a probe of the persisted index), the
    * ts_rank score over their tf columns, TakeOrderedAndProject. */
  def search(
      spark: SparkSession, dir: String, query: String, lang: String,
      k: Int): DataFrame = {
    val terms = TextAnalyzer.analyze(query).distinct
    require(terms.nonEmpty, "query analyzes to no terms")
    topK(andScored(postings(spark, dir, terms, plain, Some(lang),
      Want(allTerms = true)), terms.length), k)
  }

  /** Oracle SQL mirroring `search` exactly (DuckDB dialect). */
  def searchOracleSql(query: String, lang: String, k: Int): String = {
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
       |)
       |SELECT doc_id, round(s / (1 + s), 6) AS score
       |FROM m WHERE nmatch = ${terms.length}
       |ORDER BY score DESC, doc_id ASC LIMIT $k""".stripMargin
  }

  // --- Corpus-size routing: one posting source per query ---------------
  //
  // The reference IS an index-probe service (GIN bitmap scan over a
  // trigger-maintained tsvector, /root/reference/src/db/models.py:61-63);
  // a per-query full-collection tokenize is the one plan PG itself would
  // never pick at 100 TB. A scan of a small corpus still wins (nothing
  // amortized, one task), so [[postings]] decides the route once per
  // query — the kmeansAuto discipline:
  //
  //   probe the persisted term-bucketed index when the corpus exceeds
  //   `graft.fts.indexRouteMinBytes` (default 4 MiB): below it the
  //   whole corpus is a couple of scan partitions and the zero-exchange
  //   scan is one cheap task wave (measured: 0.27 s scan vs 0.58 s
  //   probe at the 0.6 MB fixture — the probe's fixed stage overhead
  //   loses when the scan is nearly free); past it the per-query scan
  //   cost grows linearly with the corpus while the probe stays bounded
  //   by the query terms' posting lists, so the one-time build
  //   amortizes within a handful of queries. A PURE size threshold (not
  //   catalog state) keeps the route deterministic — which plan is
  //   cheaper at a given corpus size does not depend on whether some
  //   other workload happened to build the index first.
  //
  // Either route yields the same per-document columns (tf, 0-based
  // positions, doc stats), and each query applies its one scorer to
  // them, so every double comes from the same expression in the same
  // term order on both routes (FtsRouteSpec pins this and the switch
  // point).

  /** Routing threshold in bytes (session-overridable). */
  def indexRouteMinBytes(spark: SparkSession): Long =
    spark.conf.getOption("graft.fts.indexRouteMinBytes")
      .map(_.toLong).getOrElse(4L << 20)

  /** The routing predicate: corpus past the size threshold.
    * Metadata-only — no Spark job. `graft.fts.route` = scan|index pins
    * a route explicitly (plan-fact tests and operators that must
    * compare both routes); anything else is auto. */
  def routeToIndex(spark: SparkSession, dir: String): Boolean =
    spark.conf.getOption("graft.fts.route") match {
      case Some("scan") => false
      case Some("index") => true
      case Some(other) =>
        // a typo'd pin must fail loudly, not silently bench/test the
        // auto-chosen plan (ADVICE r16)
        throw new IllegalArgumentException(
          s"graft.fts.route must be scan|index, got '$other'")
      case None =>
        ScaleOps.tableBytes(dir, "documents") >= indexRouteMinBytes(spark)
    }

  /** minDf/maxDf at or below this share routes the AND probe to the
    * rarest-first join chain (session-overridable). Below it the query
    * mixes a rare term with a frequent one, so the IN-list pivot would
    * shuffle a posting volume dominated by the frequent term while the
    * chain bounds every intermediate frame by the rare df; above it the
    * lists are comparably sized and the single-aggregate pivot's fewer
    * stages win. */
  def rarestMaxDfShare(spark: SparkSession): Double =
    spark.conf.getOption("graft.fts.rarestMaxDfShare")
      .map(_.toDouble).getOrElse(0.125)

  /** Driver memo of per-term document frequencies keyed by
    * (index generation, lang, terms) under the [[DriverMemo]] bound
    * (r17 verdict #2: the former (lang, terms) map grew with every
    * distinct query of a long session; the generation-bearing key also
    * keeps a session alternating two fixture dirs from evicting each
    * other's entries). The probe when it runs is |terms| rows out of
    * the terms' pruned buckets — the `gincostestimate` statistics read
    * PG performs before picking its GIN plan, and the same
    * bounded-collect class as the ppjoin volume scalar. */
  private val dfProbeMemo =
    new DriverMemo[(String, String, Seq[String]), Map[String, Long]](256)

  /** Live df-memo entries (MemoBoundSpec hook). */
  private[graft] def dfProbeMemoSize: Int = dfProbeMemo.size

  /** The term dictionary of index `idxName` — lang → term → df — held
    * on the driver per (warehouse, index generation) and filled by one
    * aggregation over the index. Used only while the index is within
    * the broadcast bound ([[ScaleOps.withinBroadcastBound]]); `None`
    * above it. */
  private val termDictMemo =
    new DriverMemo[(String, String), Map[String, Map[String, Long]]](4)

  /** Live term-dictionary entries (MemoBoundSpec hook). */
  private[graft] def termDictMemoSize: Int = termDictMemo.size

  private def termDictionary(spark: SparkSession,
      idxName: String): Option[Map[String, Map[String, Long]]] =
    if (!ScaleOps.withinBroadcastBound(spark,
        ScaleOps.warehouseTableBytes(spark, idxName))) None
    else Some(termDictMemo.getOrCompute(
        (spark.conf.get("spark.sql.warehouse.dir"), idxName), idxName) {
      spark.table(idxName)
        .groupBy("lang", "term").agg(count(lit(1)).as("df"))
        .collect().groupBy(_.getString(0))
        .map { case (l, rs) =>
          l -> rs.map(r => r.getString(1) -> r.getLong(2)).toMap
        }
    })

  /** Document frequency in `lang` of each query term present in the
    * index: read from [[termDictionary]] within the bound, else one
    * probe of the terms' bucket files memoized per query. */
  def termDfs(spark: SparkSession, idxName: String,
      terms: Seq[String], lang: String): Map[String, Long] =
    termDictionary(spark, idxName) match {
      case Some(dict) =>
        val dfs = dict.getOrElse(lang, Map.empty[String, Long])
        terms.flatMap(t => dfs.get(t).map(t -> _)).toMap
      case None =>
        dfProbeMemo.getOrCompute((idxName, lang, terms.sorted), idxName) {
          ScaleOps.bucketProbe(spark, idxName, terms)
            .filter(col("lang") === lit(lang))
            .groupBy("term").agg(count(lit(1)).as("df"))
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        }
    }

  /** A query's analyzer: the scan route's tokenizer and the persisted
    * index the probe route reads. `oneLang`: the index holds a single
    * language and has no lang column. */
  private final case class Analyzer(tokens: Column => Column,
      index: (SparkSession, String) => String, oneLang: Boolean = false)

  private val plain = Analyzer(TextAnalyzer.tokens, ensureIndex)
  private val stemmed =
    Analyzer(TextAnalyzer.stemmedTokens, ensureStemmedIndex)
  private def ownAnalyzer(lang: String) = Analyzer(
    TextAnalyzer.tokensFor(_, lang), ensureLangIndex(_, _, lang), true)

  /** What a query reads per candidate document beyond `doc_id` and the
    * `tf$i` columns: `pos$i` position lists, the `dl`/`nuniq` doc
    * stats, the `lang`/`source`/`wc` attributes, BM25's corpus stats
    * (`n`, `sumdl`, `df$i`), every document in scope rather than only
    * those holding a query term (`universe`), and whether the query
    * keeps only documents holding every term (`allTerms`, which lets
    * the probe intersect posting lists). */
  private final case class Want(positions: Boolean = false,
      docStats: Boolean = false, attrs: Boolean = false,
      corpus: Boolean = false, universe: Boolean = false,
      allTerms: Boolean = false)

  /** THE posting source of every ranked FTS query: one row per
    * candidate document of scope `lang` (all languages when `None`)
    * with `tf$i` (long, 0 when term i is absent) and what `want` asks
    * for; positions are 0-based offsets into the analyzed token stream,
    * empty when the term is absent. The route is decided here, once:
    *
    *   - scan: the collection's documents (the partition-pruned layout,
    *     [[Collections.scopedDocuments]]), every column computed from the
    *     analyzed token array inside the scan — zero exchanges;
    *   - index: the terms' bucket files of the persisted index
    *     ([[ScaleOps.bucketProbe]]) pivoted to the same columns by one
    *     doc-keyed aggregate, with the `_dl`/`_cs` and attrs sidecars
    *     joined in for what postings cannot carry. */
  private def postings(spark: SparkSession, dir: String,
      terms: Seq[String], analyzer: Analyzer, lang: Option[String],
      want: Want): DataFrame =
    if (routeToIndex(spark, dir))
      probed(spark, dir, terms, analyzer, lang, want)
    else scanned(spark, dir, terms, analyzer, lang, want)

  private def scanned(spark: SparkSession, dir: String,
      terms: Seq[String], analyzer: Analyzer, lang: Option[String],
      want: Want): DataFrame = {
    val docs = lang.fold(Tables.documents(spark, dir))(
      Collections.scopedDocuments(spark, dir, _))
    val attrs = if (want.attrs) Seq("lang", "source", "wc") else Nil
    val words = filter(split(col("text"), "\\s+"), w => w =!= "")
    // explode(array(...)) barrier: materialize the token array once per
    // row — project collapse would otherwise inline the tokenizer into
    // EVERY term column, and subexpression elimination is off inside
    // HOF lambdas (measured: 2.1 s -> phrase-class at sf0.1)
    val toks = col("toks")
    val withToks = docs.select(col("doc_id") +: attrs.map {
        case "wc" => size(words).as("wc")
        case a => col(a)
      } :+ explode(array(analyzer.tokens(col("text")))).as("toks"): _*)
    val tfs = terms.indices.map(i =>
      size(filter(toks, x => x === lit(terms(i)))).cast("long").as(s"tf$i"))
    val pos =
      if (!want.positions) Nil
      else terms.indices.map(i => filter(
        transform(toks, (x, j) => when(x === lit(terms(i)), j)
          .otherwise(lit(-1))),
        p => p >= 0).as(s"pos$i"))
    val stats =
      if (!want.docStats && !want.corpus) Nil
      else Seq(size(toks).as("dl"), size(array_distinct(toks)).as("nuniq"))
    val perDoc = withToks.select(col("doc_id") +:
      (tfs ++ pos ++ stats ++ attrs.map(col)): _*)
    if (!want.corpus) perDoc
    else {
      // (n, Σdl, df_i) as ONE tiny aggregate row cross-joined back by
      // broadcast: a full scan + a 1-row broadcast, no per-term shuffle
      val aggs = count(lit(1)).as("n") +: sum(col("dl")).as("sumdl") +:
        terms.indices.map(i =>
          sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
      perDoc.crossJoin(broadcast(perDoc.agg(aggs.head, aggs.tail: _*)))
    }
  }

  private def probed(spark: SparkSession, dir: String,
      terms: Seq[String], analyzer: Analyzer, lang: Option[String],
      want: Want): DataFrame = {
    val idxName = analyzer.index(spark, dir)
    if ((analyzer eq plain) && want == Want(allTerms = true) &&
        lang.exists(chainRoute(spark, idxName, terms, _)))
      return rarestFirstChain(spark, idxName, terms, lang.get)
    def scoped(df: DataFrame) =
      lang.fold(df)(l => df.filter(col("lang") === lit(l)))
    val probe = ScaleOps.bucketProbe(spark, idxName, terms)
    val hits = (if (analyzer.oneLang) probe else scoped(probe))
      .transform(p => if (want.corpus) CacheScope.cached(p) else p)
    var docs = pivot(hits, terms, want.positions)
    if (want.docStats || want.corpus || want.universe) {
      val dl = scoped(spark.table(s"${ensureBm25Stats(spark, dir)}_dl"))
        .select("doc_id", "dl", "nuniq")
      // a pure-negation query matches documents with no query-term
      // posting at all: start from the `_dl` universe (which counts even
      // zero-token docs) and read an absent posting as tf 0
      docs =
        if (!want.universe) docs.join(dl, Seq("doc_id"))
        else dl.join(docs, Seq("doc_id"), "left").select(col("doc_id") +:
          col("dl") +: col("nuniq") +: terms.indices.flatMap(i =>
            coalesce(col(s"tf$i"), lit(0L)).as(s"tf$i") +: (
              if (!want.positions) Nil
              else Seq(coalesce(col(s"pos$i"), array().cast("array<int>"))
                .as(s"pos$i")))): _*)
    }
    if (want.attrs)
      docs = docs.join(scoped(spark.table(ensureDocAttrs(spark, dir)))
        .select("doc_id", "lang", "source", "wc"), Seq("doc_id"))
    if (want.corpus) {
      // dfs aggregate over the already-pruned postings; (n, sumdl) from
      // `_cs` — two ONE-ROW broadcast frames
      val dfAggs = terms.indices.map(i =>
        sum(when(col("term") === lit(terms(i)), 1L).otherwise(0L))
          .as(s"df$i"))
      val cs = scoped(spark.table(s"${ensureBm25Stats(spark, dir)}_cs"))
        .select(col("n"), col("sumdl"))
      docs = docs.crossJoin(broadcast(hits.agg(dfAggs.head, dfAggs.tail: _*)))
        .crossJoin(broadcast(cs))
    }
    docs
  }

  /** Pruned postings → one row per doc with each term's tf (0 when
    * absent) and, when asked, its sorted position list (empty when
    * absent; collected ascending at build, the order the scan emits). */
  private def pivot(hits: DataFrame, terms: Seq[String],
      positions: Boolean): DataFrame = {
    def of(t: String, c: String) = max(when(col("term") === lit(t), col(c)))
    val aggs = terms.indices.flatMap(i =>
      coalesce(of(terms(i), "tf"), lit(0L)).as(s"tf$i") +: (
        if (!positions) Nil
        else Seq(coalesce(of(terms(i), "positions"),
          array().cast("array<int>")).as(s"pos$i"))))
    hits.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** ADAPTIVE AND-intersection (r16 verdict #3) for the AND probe: the
    * pivot reads the FULL posting list of every query term — with one
    * frequent term at 100 TB that list is the corpus. When the terms'
    * dfs ([[termDfs]], driver-held within the broadcast bound, so a
    * warm request fires no job before its action) show the
    * rare/frequent skew past [[rarestMaxDfShare]], the probe takes the
    * rarest-first join chain instead, whose intermediate frames are
    * bounded by the rarest df. Both yield the same tf columns, so the
    * route is free to flip with corpus statistics under ONE oracle
    * (FtsRouteSpec). `graft.fts.andRoute` = pivot|chain pins it. */
  private def chainRoute(spark: SparkSession, idxName: String,
      terms: Seq[String], lang: String): Boolean =
    spark.conf.getOption("graft.fts.andRoute") match {
      case Some("pivot") => false
      case Some("chain") => true
      case Some(other) =>
        throw new IllegalArgumentException(
          s"graft.fts.andRoute must be pivot|chain, got '$other'")
      case None =>
        // single-term queries take the pivot BEFORE the df probe — the
        // statistics cannot affect a one-term route (r17 ADVICE); an
        // absent term makes the AND-match provably empty, which the
        // pivot's AND filter expresses without any join
        terms.length >= 2 && {
          val dfs = termDfs(spark, idxName, terms, lang)
          terms.forall(dfs.contains) && {
            val ds = terms.map(dfs)
            ds.min <= rarestMaxDfShare(spark) * ds.max
          }
        }
    }

  /** AND-match + the ts_rank score s/(1+s), s = Σ ln(1 + tf_i) summed in
    * query-term order — the tf scorer of search, stemmed, lang and the
    * endpoint. */
  private def andScored(docs: DataFrame, nTerms: Int): DataFrame = {
    val s = (0 until nTerms)
      .map(i => log(lit(1.0) + col(s"tf$i")))
      .reduce(_ + _)
    docs
      .filter((0 until nTerms).map(i => col(s"tf$i") > 0).reduce(_ && _))
      .select(col("doc_id"), round(s / (lit(1.0) + s), 6).as("score"))
  }

  /** Top-k by score with the deterministic doc_id tiebreak. */
  private def topK(scored: DataFrame, k: Int): DataFrame =
    scored.orderBy(col("score").desc, col("doc_id").asc).limit(k)

  /** [[search]] under its former routed name; kept for the service
    * benchmark's callers. */
  def searchAuto(spark: SparkSession, dir: String, query: String,
      lang: String, k: Int): DataFrame = search(spark, dir, query, lang, k)

  /** Doc-stats side tables for the index routes, built once per corpus
    * generation: `_dl` (doc_id, lang, dl, nuniq) bucketed by doc_id —
    * doc length and distinct-token count INCLUDING zero-token docs,
    * which the index itself cannot represent but the corpus stats must
    * count — and `_cs` (lang, n, sumdl), the per-language scalar
    * stats. BM25 consumes (dl, n, sumdl); the ts_rank normalization
    * cascade consumes (dl, nuniq). At 100 TB these are the
    * posting-index sidecar every ranked-search service stores
    * (Lucene's norms file + the segment's docCount/sumTotalTermFreq). */
  def ensureBm25Stats(spark: SparkSession, dir: String): String = {
    val name = s"graft_ftsb_${ScaleOps.contentHash(dir, "documents")}"
    ensureDlCs(spark, ScaleOps.Family("fts_bm25", 1), name) {
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"),
          size(TextAnalyzer.tokens(col("text"))).as("dl"),
          size(array_distinct(TextAnalyzer.tokens(col("text"))))
            .as("nuniq"))
    }
  }

  /** The `_cs`/`_dl` pair over one (cached) `_dl` frame; `_cs` is
    * aggregated from it, so it always describes exactly the `_dl` rows.
    * Guard table `_dl`. */
  private def ensureDlCs(spark: SparkSession, family: ScaleOps.Family,
      name: String)(dl: => DataFrame): String = {
    ScaleOps.ensure(spark, family,
        ScaleOps.AttachSpec(s"${name}_cs", "lang", 1),
        ScaleOps.AttachSpec(s"${name}_dl", "doc_id", 8)) {
      val cached = dl.transform(CacheScope.cached)
      Seq(cached.groupBy(col("lang"))
          .agg(count(lit(1)).as("n"), sum(col("dl")).as("sumdl")),
        cached)
    }
    name
  }

  /** Build-once per-(lang, term) document-frequency sidecar and
    * per-lang indexed-doc counts — the vocabulary statistics every
    * TF-IDF-shaped consumer (MLT term mining, keyword scoring) needs
    * but was re-aggregating from the full index per query (r17 verdict
    * #7: the df aggregation WAS fts_mlt's steady-state cost). Term-
    * bucketed like the index itself, so a driver-known term IN-list
    * probe statically prunes. The `_nd` table counts docs with at
    * least one indexed term per lang — the index's own universe, which
    * is what the MLT idf uses (NOT the `_dl` universe, which includes
    * zero-token docs). */
  def ensureDfStats(spark: SparkSession, dir: String): String = {
    val name = s"graft_ftsdf_${ScaleOps.contentHash(dir, "documents")}"
    // the input first: its generation must be current before this
    // family's marker is checked against it
    ensureIndex(spark, dir)
    ScaleOps.ensure(spark, ScaleOps.Family("fts_df", 1),
        ScaleOps.AttachSpec(s"${name}_nd", "lang", 1),
        ScaleOps.AttachSpec(name, "term", 8)) {
      val idx = spark.table(ensureIndex(spark, dir))
      Seq(idx.groupBy("lang").agg(countDistinct(col("doc_id")).as("n_docs")),
        idx.groupBy("lang", "term")
          .agg(countDistinct(col("doc_id")).as("df")))
    }
  }

  /** Build-once STEMMED index — [[ensureIndex]] with the LightStem
    * chain applied at index time, the `to_tsvector('english', ...)`
    * layout the reference's trigger actually maintains
    * (/root/reference/src/db/models.py:58-63 stores stemmed lexemes).
    * Probed by [[searchStemmed]] on the index route. */
  def ensureStemmedIndex(spark: SparkSession, dir: String): String = {
    val name = s"graft_fts_stem_${ScaleOps.contentHash(dir, "documents")}"
    ScaleOps.ensure(spark, ScaleOps.Family("fts_stem", 1),
        ScaleOps.AttachSpec(name, "term", 32)) {
      Seq(Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"),
          explode(TextAnalyzer.stemmedTokens(col("text"))).as("term"))
        .groupBy("doc_id", "lang", "term")
        .agg(count(lit(1)).as("tf")))
    }
  }

  /** Build-once (doc_id, lang, source, wc) attrs sidecar — the
    * non-analyzed row attributes probe-side consumers join back by
    * doc_id: `wc` is the P4-extracted whitespace word count
    * [[searchEndpoint]] string-coerces against, (lang, source) are the
    * facet keys. At 100 TB this is the doc-values/attribute store every
    * search engine keeps beside its inverted index (Lucene docvalues),
    * bucketed by doc_id to co-partition with the `_dl` sidecar. */
  def ensureDocAttrs(spark: SparkSession, dir: String): String = {
    val name = s"graft_ftsat_${ScaleOps.contentHash(dir, "documents")}"
    ScaleOps.ensure(spark, ScaleOps.Family("fts_attrs", 1),
        ScaleOps.AttachSpec(name, "doc_id", 8)) {
      val words = filter(split(col("text"), "\\s+"), w => w =!= "")
      Seq(Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("source"),
          size(words).as("wc")))
    }
  }

  /** Build-once per-(corpus, LANGUAGE) index under that language's
    * analyzer policy — what PG's trigger maintains when the deployment
    * parameter picks a non-English config (settings.py:21): the `fr`
    * index stores stop-filtered French tokens, a no-stopword language
    * stores bare tokens. Keyed by (lang, corpus fingerprint); probed
    * by [[searchLang]] on the index route. */
  def ensureLangIndex(spark: SparkSession, dir: String,
      lang: String): String = {
    val name =
      s"graft_ftsl_${lang}_${ScaleOps.contentHash(dir, "documents")}"
    ScaleOps.ensure(spark, ScaleOps.Family("fts_lang", 1),
        ScaleOps.AttachSpec(name, "term", 32)) {
      Seq(Tables.documents(spark, dir)
        .filter(col("lang") === lit(lang))
        .select(col("doc_id"),
          explode(TextAnalyzer.tokensFor(col("text"), lang)).as("term"))
        .groupBy("doc_id", "term")
        .agg(count(lit(1)).as("tf")))
    }
  }

  /** [[searchBm25]] under its former routed name; kept for the service
    * benchmark's callers. */
  def searchBm25Auto(spark: SparkSession, dir: String, query: String,
      lang: String, k: Int, k1: Double = 1.2,
      b: Double = 0.75): DataFrame =
    searchBm25(spark, dir, query, lang, k, k1, b)

  /** `search` with language-keyed analysis (reference surface: the FTS
    * language is a deployment parameter, settings.py:21) — both the
    * corpus side and the query string run the LANGUAGE'S analyzer:
    * French stopwords for `fr` (a query "le merge et la table" reduces
    * to the content terms; the English analyzer would keep every one of
    * those function words and match nothing), bare tokenization for
    * languages without a stopword set, and the stemmer stays
    * English-only (`TextAnalyzer.stemmedTokensFor`). The index route
    * probes the per-language index ([[ensureLangIndex]]). */
  def searchLang(
      spark: SparkSession, dir: String, query: String, lang: String,
      k: Int): DataFrame = {
    val terms = TextAnalyzer.analyzeFor(query, lang).distinct
    require(terms.nonEmpty, "query analyzes to no terms")
    topK(andScored(postings(spark, dir, terms, ownAnalyzer(lang),
      Some(lang), Want(allTerms = true)), terms.length), k)
  }

  /** Oracle SQL mirroring `searchLang` exactly (DuckDB dialect). */
  def searchLangOracleSql(query: String, lang: String, k: Int): String = {
    val terms = TextAnalyzer.analyzeFor(query, lang).distinct
    val termList = terms.map(t => s"'$t'").mkString("(", ", ", ")")
    s"""WITH toks AS (
       |  SELECT doc_id, ${TextAnalyzer.sqlTokenize("text")} AS term
       |  FROM documents WHERE lang = '$lang'
       |), idx AS (
       |  SELECT doc_id, term, count(*) AS tf FROM toks
       |  WHERE ${TextAnalyzer.sqlTermFilterFor("term", lang)}
       |  GROUP BY doc_id, term
       |), m AS (
       |  SELECT doc_id, count(*) AS nmatch, sum(ln(1 + tf)) AS s
       |  FROM idx WHERE term IN $termList GROUP BY doc_id
       |)
       |SELECT doc_id, round(s / (1 + s), 6) AS score
       |FROM m WHERE nmatch = ${terms.length}
       |ORDER BY score DESC, doc_id ASC LIMIT $k""".stripMargin
  }

  /** The analyzer-matrix ROUND-TRIP gate (r13 verdict #7): route every
    * document by its DETECTED language (graft.functions.LangId), index
    * it under that language's analyzer policy (en = stop+stem, fr =
    * stop only, anything else = bare tokens), analyze the SAME query
    * under each policy, and search each routed bucket — per-lang
    * index ∘ per-lang query over the mixed corpus, one scan, one
    * aggregate shuffle. A document the heuristic MISROUTES (detected ≠
    * labeled lang — langid_confusion counts them) is indexed under the
    * wrong analyzer and is served by its DETECTED bucket only; the
    * output carries labeled_lang beside route_lang so the misroute is
    * visible in the hash-gated result, and FtsSpec pins the behavior.
    *
    * Output (route_lang, doc_id, labeled_lang, score): AND-match,
    * Σ ln(1+tf) score, top-k per route via a route-partitioned window
    * (bounded by |langs|·k — never a global funnel). */
  /** Build-once for the lang-routed analyzer-matrix index (the
    * [[ensureIndex]] discipline this family member was missing — the
    * roundtrip query re-detected and re-analyzed the whole corpus per
    * call): the (detected, doc_id, lang, term, tf) frame persisted
    * bucketed+sorted by term, so routed probes prune statically to the
    * query's term buckets. Keyed on the documents content fingerprint
    * (stale-fixture safe). */
  def ensureLangRoutedIndex(spark: SparkSession, dir: String): String = {
    val name =
      s"graft_ftslang_${ScaleOps.contentHash(dir, "documents")}"
    ScaleOps.ensure(spark, ScaleOps.Family("fts_lang_routed", 1),
        ScaleOps.AttachSpec(name, "term", 16)) {
      val docs = graft.functions.LangId.withDetected(
        Tables.documents(spark, dir).select("doc_id", "lang", "text"),
        "text")
      // policy dispatch on the detected lang; the explode(array(...))
      // barrier materializes the token array once per row (HOF lambdas
      // disable subexpression elimination — the fts_websearch lesson)
      val toks = docs.select(col("doc_id"), col("lang"),
        col("detected"),
        explode(array(
          when(col("detected") === "en",
            TextAnalyzer.stemmedTokens(col("text")))
            .when(col("detected") === "fr",
              TextAnalyzer.tokensFor(col("text"), "fr"))
            .otherwise(TextAnalyzer.tokensFor(col("text"), "und"))))
          .as("toks"))
      Seq(toks.select(col("doc_id"), col("lang"), col("detected"),
        explode(col("toks")).as("term"))
        .groupBy(col("detected"), col("doc_id"), col("lang"),
          col("term"))
        .agg(count(lit(1)).as("tf")))
    }
  }

  def searchLangRouted(spark: SparkSession, dir: String, query: String,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val routeLangs = Seq("en", "fr", "es", "de", "zh", "und")
    val qterms = routeLangs.flatMap(l =>
      TextAnalyzer.analyzeStemmedFor(query, l).distinct.map(t => (l, t)))
    require(qterms.nonEmpty, "query analyzes to no terms")
    // probe of the persisted routed index: only the driver-known
    // terms' bucket files are read (the fts_topk probe shape)
    val idx = ScaleOps.bucketProbe(spark, ensureLangRoutedIndex(spark, dir),
      qterms.map(_._2).distinct)
    import spark.implicits._
    val qt = qterms.toDF("route_lang", "qterm")
    val nt = routeLangs
      .map(l => (l, TextAnalyzer.analyzeStemmedFor(query, l)
        .distinct.length.toLong))
      .toDF("nt_lang", "n_terms")
    val m = idx
      .join(broadcast(qt),
        col("detected") === col("route_lang") &&
          col("term") === col("qterm"))
      .groupBy(col("detected"), col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("nmatch"),
        sum(log(lit(1.0) + col("tf"))).as("s"))
      .join(broadcast(nt), col("detected") === col("nt_lang"))
      .filter(col("nmatch") === col("n_terms"))
      .select(col("detected").as("route_lang"), col("doc_id"),
        col("lang").as("labeled_lang"), round(col("s"), 6).as("score"))
    val w = Window.partitionBy("route_lang")
      .orderBy(col("score").desc, col("doc_id").asc)
    m.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("route_lang", "doc_id", "labeled_lang", "score")
      .orderBy(col("route_lang").asc, col("score").desc,
        col("doc_id").asc)
  }

  /** Oracle for [[searchLangRouted]]: the detector via
    * [[graft.functions.LangId.sqlDetectExpr]] (generated from the same
    * Profiles), the per-policy term filter as a CASE on detected, the
    * stem chain applied through plain-column CTE stages and selected
    * only for detected='en'. */
  def searchLangRoutedOracleSql(query: String, k: Int): String = {
    val routeLangs = Seq("en", "fr", "es", "de", "zh", "und")
    val qtRows = routeLangs.flatMap(l =>
      TextAnalyzer.analyzeStemmedFor(query, l).distinct
        .map(t => s"('$l', '$t')")).mkString(", ")
    val ntRows = routeLangs.map(l =>
      s"('$l', ${TextAnalyzer.analyzeStemmedFor(query, l).distinct.length})")
      .mkString(", ")
    s"""WITH d AS MATERIALIZED (
       |  SELECT doc_id, lang,
       |    ${graft.functions.LangId.sqlDetectExpr("text")} AS detected,
       |    text
       |  FROM documents
       |), tok0 AS (
       |  SELECT doc_id, lang, detected,
       |    ${TextAnalyzer.sqlTokenize("text")} AS t0
       |  FROM d
       |), f0 AS (
       |  SELECT doc_id, lang, detected, t0 FROM tok0
       |  WHERE CASE detected
       |    WHEN 'en' THEN ${TextAnalyzer.sqlTermFilterFor("t0", "en")}
       |    WHEN 'fr' THEN ${TextAnalyzer.sqlTermFilterFor("t0", "fr")}
       |    ELSE ${TextAnalyzer.sqlTermFilterFor("t0", "und")} END
       |), sa AS (
       |  SELECT *, ${TextAnalyzer.sqlStemA("t0")} AS t1 FROM f0
       |), sb AS (
       |  SELECT *, ${TextAnalyzer.sqlStemB("t1")} AS t2 FROM sa
       |), sc AS (
       |  SELECT doc_id, lang, detected,
       |    CASE WHEN detected = 'en'
       |      THEN ${TextAnalyzer.sqlStemC("t2")} ELSE t0 END AS term
       |  FROM sb
       |), idx AS MATERIALIZED (
       |  SELECT detected, doc_id, lang, term, count(*) AS tf
       |  FROM sc GROUP BY 1, 2, 3, 4
       |), qt(route_lang, qterm) AS (VALUES $qtRows),
       |nt(nt_lang, n_terms) AS (VALUES $ntRows),
       |m AS (
       |  SELECT detected AS route_lang, doc_id, lang AS labeled_lang,
       |    count(*) AS nmatch, round(sum(ln(1 + tf)), 6) AS score
       |  FROM idx JOIN qt
       |    ON qt.route_lang = idx.detected AND qt.qterm = idx.term
       |  GROUP BY 1, 2, 3
       |), r AS (
       |  SELECT m.*, row_number() OVER (PARTITION BY route_lang
       |    ORDER BY score DESC, doc_id ASC) AS rn
       |  FROM m JOIN nt ON nt.nt_lang = m.route_lang
       |  WHERE m.nmatch = nt.n_terms
       |)
       |SELECT route_lang, doc_id, labeled_lang, score FROM r
       |WHERE rn <= $k
       |ORDER BY route_lang ASC, score DESC, doc_id ASC""".stripMargin
  }

  /** F1+F2 stemmed variant: the reference's actual behavior — both the
    * indexed document text and the query go through the `english`
    * stemmer (`plainto_tsquery('english', ...)`,
    * /root/reference/src/core/vector_store.py:222), so searching
    * "merging" matches documents containing "merge". The scan route
    * stems inside whole-stage codegen via the native `light_stem`
    * expression (graft.functions.LightStem — spec in
    * TextAnalyzer.stemOne, registered at session setup); the index
    * route probes the stemmed index ([[ensureStemmedIndex]]).
    */
  def searchStemmed(
      spark: SparkSession, dir: String, query: String, lang: String,
      k: Int): DataFrame = {
    val terms = TextAnalyzer.analyzeStemmed(query).distinct
    require(terms.nonEmpty, "query analyzes to no terms")
    topK(andScored(postings(spark, dir, terms, stemmed, Some(lang),
      Want(allTerms = true)), terms.length), k)
  }

  /** Oracle SQL mirroring `searchStemmed` exactly: the document tokens
    * run through the DuckDB renderings of stem stages A/B/C
    * (TextAnalyzer.sqlStemCtes — the SAME owned rules as LightStem), and
    * the query terms are stemmed driver-side by the same
    * `analyzeStemmed` the Spark path uses. */
  def searchStemmedOracleSql(query: String, lang: String, k: Int): String = {
    val terms = TextAnalyzer.analyzeStemmed(query).distinct
    val termList = terms.map(t => s"'$t'").mkString("(", ", ", ")")
    s"""WITH rawtoks AS (
       |  SELECT doc_id, ${TextAnalyzer.sqlTokenize("text")} AS t0
       |  FROM documents WHERE lang = '$lang'
       |), toks AS (
       |  SELECT doc_id, t0 FROM rawtoks
       |  WHERE ${TextAnalyzer.sqlTermFilter("t0")}
       |), ${TextAnalyzer.sqlStemCtes("toks")},
       |idx AS (
       |  SELECT doc_id, term, count(*) AS tf FROM stemmed
       |  GROUP BY doc_id, term
       |), m AS (
       |  SELECT doc_id, count(*) AS nmatch, sum(ln(1 + tf)) AS s
       |  FROM idx WHERE term IN $termList GROUP BY doc_id
       |)
       |SELECT doc_id, round(s / (1 + s), 6) AS score
       |FROM m WHERE nmatch = ${terms.length}
       |ORDER BY score DESC, doc_id ASC LIMIT $k""".stripMargin
  }

  /** F4 with the full ts_rank_cd normalization bitmask
    * (/root/reference/src/config/settings.py:22 exposes the knob; the
    * shipped config hardwires 32). PG semantics, applied in PG's
    * cascade order on the owned tf formula s = Σ ln(1+tf):
    *   bit 1:  s /= 1 + ln(doclen)      (doclen = analyzed token count)
    *   bit 2:  s /= doclen
    *   bit 8:  s /= nuniq               (distinct analyzed tokens)
    *   bit 16: s /= 1 + ln(nuniq)
    *   bit 32: s = s / (1 + s)
    * (bit 4, mean-harmonic-cover-distance, belongs to the
    * cover-density scorer — CoverDensityScore carries proximity there.)
    * doclen/nuniq come from the posting source's doc stats (the
    * analyzed token array on the scan route, the `_dl` sidecar on the
    * index route).
    */
  def searchNormalized(
      spark: SparkSession, dir: String, query: String, lang: String,
      k: Int, normalization: Int): DataFrame = {
    val terms = TextAnalyzer.analyze(query).distinct
    require(terms.nonEmpty, "query analyzes to no terms")
    val doclen = col("dl").cast("double")
    val nuniq = col("nuniq").cast("double")
    var s: Column = terms.indices
      .map(i => log(lit(1.0) + col(s"tf$i")))
      .reduce(_ + _)
    if ((normalization & 1) != 0) s = s / (lit(1.0) + log(doclen))
    if ((normalization & 2) != 0) s = s / doclen
    if ((normalization & 8) != 0) s = s / nuniq
    if ((normalization & 16) != 0) s = s / (lit(1.0) + log(nuniq))
    if ((normalization & 32) != 0) s = s / (lit(1.0) + s)
    val docs = postings(spark, dir, terms, plain, Some(lang),
      Want(docStats = true, allTerms = true))
    topK(docs
      .filter(terms.indices.map(i => col(s"tf$i") > 0).reduce(_ && _))
      .select(col("doc_id"), round(s, 6).as("score")), k)
  }

  /** Oracle SQL mirroring `searchNormalized` (DuckDB dialect). */
  def searchNormalizedOracleSql(query: String, lang: String, k: Int,
      normalization: Int): String = {
    val terms = TextAnalyzer.analyze(query).distinct
    val termList = terms.map(t => s"'$t'").mkString("(", ", ", ")")
    var s = "s"
    if ((normalization & 1) != 0) s = s"($s) / (1 + ln(doclen))"
    if ((normalization & 2) != 0) s = s"($s) / doclen"
    if ((normalization & 8) != 0) s = s"($s) / nuniq"
    if ((normalization & 16) != 0) s = s"($s) / (1 + ln(nuniq))"
    if ((normalization & 32) != 0) s = s"($s) / (1 + ($s))"
    s"""WITH toks AS (
       |  SELECT doc_id, ${TextAnalyzer.sqlTokenize("text")} AS term
       |  FROM documents WHERE lang = '$lang'
       |), ft AS (
       |  SELECT doc_id, term FROM toks
       |  WHERE ${TextAnalyzer.sqlTermFilter("term")}
       |), stats AS (
       |  SELECT doc_id, CAST(count(*) AS DOUBLE) AS doclen,
       |         CAST(count(DISTINCT term) AS DOUBLE) AS nuniq
       |  FROM ft GROUP BY doc_id
       |), idx AS (
       |  SELECT doc_id, term, count(*) AS tf FROM ft GROUP BY doc_id, term
       |), m AS (
       |  SELECT doc_id, count(*) AS nmatch, sum(ln(1 + tf)) AS s
       |  FROM idx WHERE term IN $termList GROUP BY doc_id
       |)
       |SELECT m.doc_id, round($s, 6) AS score
       |FROM m JOIN stats ON m.doc_id = stats.doc_id
       |WHERE nmatch = ${terms.length}
       |ORDER BY score DESC, m.doc_id ASC LIMIT $k""".stripMargin
  }

  /** The composed FTS endpoint — the reference's full `POST
    * /api/v1/search/similarity` parameter surface in ONE query:
    * collection scope (F6), the accepted-but-never-applied
    * `metadata_filter` (string-coerced equality, the legacy path's
    * semantics: /root/reference/src/core/vector_store.py:290-292 — `80`
    * matches `'80'`) and `min_score`
    * (/root/reference/src/api/models.py:29), which the reference
    * accepts and drops (vector_store.py:181,211-227). Metadata here is
    * the P4-extracted `word_count` (the documents table has no stored
    * metadata column; extraction is the pipeline's own metadata
    * source). The word count is the posting source's `wc` attribute
    * (computed in the scan, or the attrs sidecar on the index route);
    * min_score compares on the ROUNDED score so the oracle filter is
    * bit-identical.
    */
  def searchEndpoint(
      spark: SparkSession, dir: String, query: String, lang: String,
      metaWordCount: String, minScore: Double, k: Int): DataFrame = {
    val terms = TextAnalyzer.analyze(query).distinct
    require(terms.nonEmpty, "query analyzes to no terms")
    val docs = postings(spark, dir, terms, plain, Some(lang),
        Want(attrs = true, allTerms = true))
      .filter(col("wc").cast("string") === lit(metaWordCount))  // coerced
    topK(andScored(docs, terms.length)
      .filter(col("score") >= lit(minScore)), k)                // min_score
  }

  /** Oracle SQL mirroring `searchEndpoint` exactly (DuckDB dialect). */
  def searchEndpointOracleSql(query: String, lang: String,
      metaWordCount: String, minScore: Double, k: Int): String = {
    val terms = TextAnalyzer.analyze(query).distinct
    val termList = terms.map(t => s"'$t'").mkString("(", ", ", ")")
    s"""WITH src AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE lang = '$lang'
       |    AND CAST(len(list_filter(string_split_regex(text, '\\s+'),
       |          w -> w <> '')) AS VARCHAR) = '$metaWordCount'
       |), toks AS (
       |  SELECT doc_id, ${TextAnalyzer.sqlTokenize("text")} AS term
       |  FROM src
       |), idx AS (
       |  SELECT doc_id, term, count(*) AS tf FROM toks
       |  WHERE ${TextAnalyzer.sqlTermFilter("term")}
       |  GROUP BY doc_id, term
       |), m AS (
       |  SELECT doc_id, count(*) AS nmatch, sum(ln(1 + tf)) AS s
       |  FROM idx WHERE term IN $termList GROUP BY doc_id
       |)
       |SELECT doc_id, round(s / (1 + s), 6) AS score
       |FROM m WHERE nmatch = ${terms.length}
       |  AND round(s / (1 + s), 6) >= $minScore
       |ORDER BY score DESC, doc_id ASC LIMIT $k""".stripMargin
  }

  /** F4 v2: cover-density-ranked search using the native Catalyst
    * expression graft.functions.CoverDensityScore (the ts_rank_cd
    * analog — proximity-aware, unlike the tf-only v1 formula) over the
    * posting source's per-term position arrays (a doc missing a term
    * carries an empty array and the score>0 filter drops it); the
    * expression (registered at session setup) runs inside whole-stage
    * codegen, top-k via TakeOrderedAndProject. Hash-gated: the oracle
    * (searchCoverDensityOracleSql above) re-expresses the sweep with
    * window functions; CoverDensitySpec additionally pins the native
    * expression to hand-computed ranks.
    */
  def searchCoverDensity(
      spark: SparkSession, dir: String, query: String, lang: String,
      k: Int): DataFrame = {
    val terms = TextAnalyzer.analyze(query).distinct
    require(terms.nonEmpty, "query analyzes to no terms")
    val posArrays = terms.indices.map(i => col(s"pos$i"))
    topK(postings(spark, dir, terms, plain, Some(lang),
        Want(positions = true))
      .select(col("doc_id"), array(posArrays: _*).as("pos_arrays"))
      .select(col("doc_id"),
        round(expr("cover_density_score(pos_arrays)"), 6).as("score"))
      .filter(col("score") > 0), k)
  }

  /** Oracle for `searchCoverDensity` — the Clarke/Cormack/Tudhope cover
    * sweep re-expressed with window functions (no recursion needed):
    * an event is a (doc, pos, term) occurrence; the cover ENDING at an
    * event is [least of each term's running-max position, pos]; the
    * sweep's "new minimal cover" condition is exactly "start advanced
    * since the previous all-terms-seen event" (running maxes only move
    * forward, so start is non-decreasing). Each contributing cover
    * adds q/width; score = s/(1+s) (normalization 32). Positions are
    * 0-based analyzed-token indexes, same as the Spark side's
    * transform() arrays feeding the native expression. */
  def searchCoverDensityOracleSql(query: String, lang: String,
      k: Int): String = {
    val terms = TextAnalyzer.analyze(query).distinct
    require(terms.nonEmpty, "query analyzes to no terms") // mirror search
    val q = terms.length
    val termList = terms.map(t => s"'$t'").mkString("(", ", ", ")")
    val latestCols = terms.zipWithIndex.map { case (t, i) =>
      s"""max(CASE WHEN term = '$t' THEN pos END)
         |      OVER (PARTITION BY doc_id ORDER BY pos
         |            ROWS UNBOUNDED PRECEDING) AS l$i""".stripMargin
    }.mkString(",\n    ")
    val lRefs = terms.indices.map(i => s"l$i")
    val allSeen = lRefs.map(l => s"$l IS NOT NULL").mkString(" AND ")
    val start =
      if (q == 1) lRefs.head else s"least(${lRefs.mkString(", ")})"
    s"""WITH toklists AS (
       |  SELECT doc_id, list_filter(
       |    string_split_regex(lower(text), '\\W+'),
       |    t -> ${TextAnalyzer.sqlTermFilter("t")}) AS toks
       |  FROM documents WHERE lang = '$lang'
       |), events0 AS (
       |  SELECT doc_id, unnest(list_transform(range(len(toks)),
       |    i -> {'pos': i, 'term': toks[i + 1]})) AS e
       |  FROM toklists
       |), events AS (
       |  SELECT doc_id, e.pos AS pos, e.term AS term FROM events0
       |  WHERE e.term IN $termList
       |), latest AS (
       |  SELECT doc_id, pos, term,
       |    $latestCols
       |  FROM events
       |), qualifying AS (
       |  SELECT doc_id, pos, $start AS cover_start
       |  FROM latest WHERE $allSeen
       |), covers AS (
       |  SELECT doc_id, pos, cover_start,
       |    lag(cover_start) OVER (PARTITION BY doc_id ORDER BY pos)
       |      AS prev_start
       |  FROM qualifying
       |), scored AS (
       |  SELECT doc_id,
       |    sum(CAST($q AS DOUBLE) / (pos - cover_start + 1)) AS s
       |  FROM covers
       |  WHERE prev_start IS NULL OR cover_start <> prev_start
       |  GROUP BY doc_id
       |)
       |SELECT doc_id, round(s / (1 + s), 6) AS score
       |FROM scored WHERE round(s / (1 + s), 6) > 0
       |ORDER BY score DESC, doc_id ASC LIMIT $k""".stripMargin
  }

  /** Okapi BM25 top-k (k1 = 1.2, b = 0.75) — the ranking function the
    * rest of the retrieval world uses where PG uses ts_rank; OR-match
    * semantics (any query term qualifies), unlike `search`'s AND. The
    * Lucene-style positive IDF: ln(1 + (N - df + 0.5)/(df + 0.5)).
    *
    * Determinism: avgdl is sum(dl)/N over exact integer sums (never
    * avg() — a float mean is summation-order-dependent); per-row score
    * terms are added left-to-right in query-term order, identical in
    * the oracle; round(…, 6).
    *
    * Scale shape: the posting source carries (dl, tf_i) per doc and
    * the corpus stats (N, Σdl, df_i) as 1-row broadcast frames (one
    * aggregate over the scan, or the `_cs` sidecar + the pruned
    * postings' dfs on the index route) — no per-term shuffle, and the
    * TakeOrdered top-k never materializes the ranking. */
  def searchBm25(spark: SparkSession, dir: String, query: String,
      lang: String, k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame =
    topK(bm25Scored(spark, dir, query, lang, k1, b)
      .select(col("doc_id"), col("score")), k)

  /** The full BM25-scored match frame (no top-k), with `grade` = number
    * of distinct query terms present in the doc — the graded-relevance
    * label the retrieval-eval operator (RetrievalEval.ndcg) uses. */
  def bm25Scored(spark: SparkSession, dir: String, query: String,
      lang: String, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val terms = TextAnalyzer.analyze(query).distinct
    require(terms.nonEmpty, "query analyzes to no terms")
    val avgdl = col("sumdl").cast("double") / col("n")
    val contrib = terms.indices.map { i =>
      val idf = log(lit(1.0) +
        (col("n") - col(s"df$i") + lit(0.5)) / (col(s"df$i") + lit(0.5)))
      when(col(s"tf$i") > 0,
        idf * (col(s"tf$i") * lit(k1 + 1.0)) /
          (col(s"tf$i") + lit(k1) *
            (lit(1.0) - lit(b) + lit(b) * col("dl") / avgdl)))
        .otherwise(lit(0.0))
    }
    val grade = terms.indices
      .map(i => when(col(s"tf$i") > 0, 1).otherwise(0))
      .reduce(_ + _)
    postings(spark, dir, terms, plain, Some(lang), Want(corpus = true))
      .filter(terms.indices.map(i => col(s"tf$i") > 0).reduce(_ || _))
      .select(col("doc_id"),
        round(contrib.reduce(_ + _), 6).as("score"),
        grade.as("grade"))
  }

  /** Oracle for the full bm25Scored frame (doc_id, score, grade) — the
    * CTE body RetrievalEval.ndcgOracleSql composes over. */
  def bm25ScoredOracleSql(query: String, lang: String,
      k1: Double = 1.2, b: Double = 0.75): String = {
    val terms = TextAnalyzer.analyze(query).distinct
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(tl, x -> x = '$t')) AS tf$i"
    }.mkString(",\n    ")
    val dfCols = terms.indices.map(i =>
      s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(",\n    ")
    val contrib = terms.indices.map { i =>
      s"""CASE WHEN tf$i > 0 THEN
         |    ln(1.0 + (n - df$i + 0.5) / (df$i + 0.5))
         |      * (tf$i * ${k1 + 1.0})
         |      / (tf$i + $k1 * (1.0 - $b + $b * dl / avgdl))
         |    ELSE 0.0 END""".stripMargin
    }.mkString(" + ")
    val gradeExpr = terms.indices
      .map(i => s"CASE WHEN tf$i > 0 THEN 1 ELSE 0 END").mkString(" + ")
    val anyMatch = terms.indices.map(i => s"tf$i > 0").mkString(" OR ")
    s"""  SELECT doc_id, round($contrib, 6) AS score,
       |    $gradeExpr AS grade
       |  FROM (
       |    SELECT doc_id, len(tl) AS dl,
       |      $tfCols
       |    FROM (
       |      SELECT doc_id, list_filter(
       |        string_split_regex(lower(text), '\\W+'),
       |        t -> ${TextAnalyzer.sqlTermFilter("t")}) AS tl
       |      FROM documents WHERE lang = '$lang'
       |    ) tokl
       |  ) perdoc, (
       |    SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
       |      $dfCols
       |    FROM (
       |      SELECT len(tl) AS dl,
       |        $tfCols
       |      FROM (
       |        SELECT list_filter(
       |          string_split_regex(lower(text), '\\W+'),
       |          t -> ${TextAnalyzer.sqlTermFilter("t")}) AS tl
       |        FROM documents WHERE lang = '$lang'
       |      ) tokl2
       |    ) perdoc2
       |  ) stats
       |  WHERE $anyMatch""".stripMargin
  }

  def searchBm25OracleSql(query: String, lang: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75): String = {
    val terms = TextAnalyzer.analyze(query).distinct
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(tl, x -> x = '$t')) AS tf$i"
    }.mkString(",\n    ")
    val dfCols = terms.indices.map(i =>
      s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(",\n    ")
    // same left-to-right add chain as the Spark reduce
    val contrib = terms.indices.map { i =>
      s"""CASE WHEN tf$i > 0 THEN
         |    ln(1.0 + (n - df$i + 0.5) / (df$i + 0.5))
         |      * (tf$i * ${k1 + 1.0})
         |      / (tf$i + $k1 * (1.0 - $b + $b * dl / avgdl))
         |    ELSE 0.0 END""".stripMargin
    }.mkString(" + ")
    val anyMatch = terms.indices.map(i => s"tf$i > 0").mkString(" OR ")
    s"""WITH toklists AS (
       |  SELECT doc_id, list_filter(
       |    string_split_regex(lower(text), '\\W+'),
       |    t -> ${TextAnalyzer.sqlTermFilter("t")}) AS tl
       |  FROM documents WHERE lang = '$lang'
       |), perdoc AS (
       |  SELECT doc_id, len(tl) AS dl,
       |    $tfCols
       |  FROM toklists
       |), stats AS (
       |  SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
       |    $dfCols
       |  FROM perdoc
       |)
       |SELECT doc_id, round($contrib, 6) AS score
       |FROM perdoc, stats WHERE $anyMatch
       |ORDER BY score DESC, doc_id ASC LIMIT $k""".stripMargin
  }

  /** Phrase search: documents containing the query terms ADJACENT and in
    * order (the tsquery `<->` followed-by analog). A phrase of k terms
    * is exactly a k-gram over the analyzed token stream: an occurrence
    * at position p is p ∈ positions(term₀) with p+j ∈ positions(termⱼ)
    * for every later phrase slot (a full match never runs past the end,
    * because its last slot's position exists). Ranked by occurrence
    * count.
    */
  def phraseSearch(spark: SparkSession, dir: String, phrase: String,
      lang: String, k: Int): DataFrame = {
    val terms = TextAnalyzer.analyze(phrase)
    require(terms.length >= 2, "phrase needs at least 2 analyzed terms")
    val uniq = terms.distinct
    val slot = terms.map(uniq.indexOf) // phrase slot j → position column
    val matches = filter(col(s"pos${slot.head}"),
      p => terms.indices.tail
        .map(j => array_contains(col(s"pos${slot(j)}"), p + j))
        .reduce(_ && _))
    postings(spark, dir, uniq, plain, Some(lang),
        Want(positions = true, allTerms = true))
      .select(col("doc_id"), size(matches).cast("long").as("n_occurrences"))
      .filter(col("n_occurrences") > 0)
      .orderBy(col("n_occurrences").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Proximity (NEAR/slop) search — the unordered two-term window
    * query of Lucene's span_near / Elastic's match_phrase slop, the
    * generalization PG reaches with repeated `<N>` phrase operators:
    * documents where `a` and `b` occur within `w` token positions of
    * each other (either order), ranked by the closest approach then by
    * pair density. The pair gaps come from the two terms' ascending
    * position lists (cost ∝ occurrences of a × b per doc — tiny), then
    * TakeOrderedAndProject. Output (doc_id, n_pairs, min_gap). */
  def nearSearch(spark: SparkSession, dir: String, a: String, b: String,
      w: Int, lang: String, k: Int): DataFrame = {
    val Seq(ta, tb) = TextAnalyzer.analyze(s"$a $b").take(2)
    val uniq = Seq(ta, tb).distinct
    val posA = col(s"pos${uniq.indexOf(ta)}")
    val posB = col(s"pos${uniq.indexOf(tb)}")
    val gaps = flatten(transform(posA,
      x => transform(posB, y => abs(y - x))))
    postings(spark, dir, uniq, plain, Some(lang),
        Want(positions = true, allTerms = true))
      .select(col("doc_id"),
        size(filter(gaps, d => d <= lit(w))).cast("long").as("n_pairs"),
        array_min(gaps).as("min_gap"))
      .filter(col("n_pairs") > 0)
      .orderBy(col("min_gap").asc, col("n_pairs").desc, col("doc_id").asc)
      .limit(k)
  }

  def nearSearchOracleSql(a: String, b: String, w: Int, lang: String,
      k: Int): String = {
    val Seq(ta, tb) = TextAnalyzer.analyze(s"$a $b").take(2)
    s"""WITH toklists AS (
       |  SELECT doc_id, list_filter(
       |    string_split_regex(lower(text), '\\W+'),
       |    t -> ${TextAnalyzer.sqlTermFilter("t")}) AS toks
       |  FROM documents WHERE lang = '$lang'
       |), pos AS (
       |  SELECT doc_id,
       |    flatten(list_transform(
       |      list_filter(range(1, len(toks) + 1), i -> toks[i] = '$ta'),
       |      x -> list_transform(
       |        list_filter(range(1, len(toks) + 1), i -> toks[i] = '$tb'),
       |        y -> abs(y - x)))) AS gaps
       |  FROM toklists
       |), m AS (
       |  SELECT doc_id,
       |    CAST(len(list_filter(gaps, d -> d <= $w)) AS BIGINT)
       |      AS n_pairs,
       |    list_min(gaps) AS min_gap
       |  FROM pos
       |)
       |SELECT doc_id, n_pairs, min_gap FROM m WHERE n_pairs > 0
       |ORDER BY min_gap ASC, n_pairs DESC, doc_id ASC LIMIT $k""".stripMargin
  }

  /** The tsquery_phrase distance operator `a <N> b` (PG's generalized
    * phrase search; `<1>` is [[phraseSearch]]'s adjacency): `b` exactly
    * `n` analyzed positions after `a`, counted per document. */
  def phraseDistSearch(spark: SparkSession, dir: String, a: String,
      b: String, n: Int, lang: String, k: Int): DataFrame = {
    val Seq(ta, tb) = TextAnalyzer.analyze(s"$a $b").take(2)
    val uniq = Seq(ta, tb).distinct
    val posA = col(s"pos${uniq.indexOf(ta)}")
    val posB = col(s"pos${uniq.indexOf(tb)}")
    val hits = filter(posA, p => array_contains(posB, p + lit(n)))
    postings(spark, dir, uniq, plain, Some(lang),
        Want(positions = true, allTerms = true))
      .select(col("doc_id"), size(hits).cast("long").as("n_occurrences"))
      .filter(col("n_occurrences") > 0)
      .orderBy(col("n_occurrences").desc, col("doc_id").asc)
      .limit(k)
  }

  def phraseDistSearchOracleSql(a: String, b: String, n: Int,
      lang: String, k: Int): String = {
    val Seq(ta, tb) = TextAnalyzer.analyze(s"$a $b").take(2)
    s"""WITH toklists AS (
       |  SELECT doc_id, list_filter(
       |    string_split_regex(lower(text), '\\W+'),
       |    t -> ${TextAnalyzer.sqlTermFilter("t")}) AS toks
       |  FROM documents WHERE lang = '$lang'
       |), m AS (
       |  SELECT doc_id,
       |    CAST(len(list_filter(range(1, len(toks) + 1),
       |      i -> toks[i] = '$ta' AND i + $n <= len(toks)
       |           AND toks[i + $n] = '$tb')) AS BIGINT) AS n_occurrences
       |  FROM toklists
       |)
       |SELECT doc_id, n_occurrences FROM m WHERE n_occurrences > 0
       |ORDER BY n_occurrences DESC, doc_id ASC LIMIT $k""".stripMargin
  }

  def phraseSearchOracleSql(phrase: String, lang: String, k: Int): String = {
    val terms = TextAnalyzer.analyze(phrase)
    val n = terms.length
    val cond = terms.zipWithIndex
      .map { case (t, j) => s"toks[i + $j] = '$t'" }.mkString(" AND ")
    s"""WITH toklists AS (
       |  SELECT doc_id, list_filter(
       |    string_split_regex(lower(text), '\\W+'),
       |    t -> ${TextAnalyzer.sqlTermFilter("t")}) AS toks
       |  FROM documents WHERE lang = '$lang'
       |), m AS (
       |  SELECT doc_id,
       |    len(list_filter(
       |      range(1, greatest(len(toks) - ${n - 1}, 0) + 1),
       |      i -> $cond)) AS n_occurrences
       |  FROM toklists
       |)
       |SELECT doc_id, n_occurrences FROM m WHERE n_occurrences > 0
       |ORDER BY n_occurrences DESC, doc_id ASC LIMIT $k""".stripMargin
  }

  /** The inverted index itself as a checkable query: per-term document
    * frequency + total tf (the GIN-index statistics view). Probes the
    * persisted bucketed index — bucketing co-locates each term's
    * postings, so the groupBy aggregates bucket-locally with no hash
    * exchange.
    */
  def termStats(spark: SparkSession, dir: String): DataFrame =
    spark.table(ensureIndex(spark, dir))
      .groupBy("term")
      .agg(
        countDistinct(col("doc_id")).as("df"),
        sum(col("tf")).as("total_tf"))
      .orderBy(col("df").desc, col("term").asc)
      .limit(100)

  def termStatsOracleSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, ${TextAnalyzer.sqlTokenize("text")} AS term FROM documents
       |), idx AS (
       |  SELECT doc_id, term, count(*) AS tf FROM toks
       |  WHERE ${TextAnalyzer.sqlTermFilter("term")}
       |  GROUP BY doc_id, term
       |)
       |SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf
       |FROM idx GROUP BY term
       |ORDER BY df DESC, term ASC LIMIT 100""".stripMargin

  /** Prefix search — the `to_tsquery('pre:*')` analog (the reference's
    * plainto_tsquery has no prefix form, but the Postgres FTS surface
    * it stands on does): documents matching ANY indexed term starting
    * with the prefix, ranked by their total matched tf. Probes the
    * persisted term-bucketed index with a pushed-down StartsWith
    * filter; at scale a prefix probe reads only the matching terms'
    * posting lists (parquet min/max on the sorted term column prunes
    * row groups — the btree-prefix-scan analog). */
  def prefixSearch(spark: SparkSession, dir: String, prefix: String,
      k: Int): DataFrame =
    spark.table(ensureIndex(spark, dir))
      .filter(col("term").startsWith(prefix))
      .groupBy("doc_id")
      .agg(
        countDistinct(col("term")).as("n_terms"),
        sum(col("tf")).as("matched_tf"))
      .orderBy(col("matched_tf").desc, col("doc_id").asc)
      .limit(k)

  def prefixSearchOracleSql(prefix: String, k: Int): String =
    s"""WITH toks AS (
       |  SELECT doc_id, ${TextAnalyzer.sqlTokenize("text")} AS term FROM documents
       |), idx AS (
       |  SELECT doc_id, term, count(*) AS tf FROM toks
       |  WHERE ${TextAnalyzer.sqlTermFilter("term")}
       |  GROUP BY doc_id, term
       |)
       |SELECT doc_id, count(DISTINCT term) AS n_terms,
       |  CAST(sum(tf) AS BIGINT) AS matched_tf
       |FROM idx WHERE term LIKE '$prefix%'
       |GROUP BY doc_id
       |ORDER BY matched_tf DESC, doc_id ASC LIMIT $k""".stripMargin

  /** Suffix search — the `LIKE '%ing'` acceleration trick: a
    * REVERSED-term projection of the index, persisted sorted by the
    * reversed term, probed with `startsWith(reverse(suffix))` — the
    * same sorted-column parquet min/max row-group pruning
    * [[prefixSearch]] gets on the forward index (PG reaches this with
    * an expression index on reverse(col)). Ranking mirrors
    * prefixSearch: docs matching ANY suffixed term by total matched
    * tf. */
  def ensureReverseIndex(spark: SparkSession, dir: String): String = {
    val name = s"graft_fts_rev_${ScaleOps.contentHash(dir, "documents")}"
    // the input first: its generation must be current before this
    // family's marker is checked against it
    ensureIndex(spark, dir)
    ScaleOps.ensure(spark, ScaleOps.Family("fts_reverse", 1),
        ScaleOps.AttachSpec(name, "rterm", 32)) {
      Seq(spark.table(ensureIndex(spark, dir))
        .select(reverse(col("term")).as("rterm"), col("doc_id"),
          col("lang"), col("tf")))
    }
  }

  def suffixSearch(spark: SparkSession, dir: String, suffix: String,
      k: Int): DataFrame =
    spark.table(ensureReverseIndex(spark, dir))
      .filter(col("rterm").startsWith(suffix.reverse))
      .groupBy("doc_id")
      .agg(
        countDistinct(col("rterm")).as("n_terms"),
        sum(col("tf")).as("matched_tf"))
      .orderBy(col("matched_tf").desc, col("doc_id").asc)
      .limit(k)

  def suffixSearchOracleSql(suffix: String, k: Int): String =
    s"""WITH toks AS (
       |  SELECT doc_id, ${TextAnalyzer.sqlTokenize("text")} AS term FROM documents
       |), idx AS (
       |  SELECT doc_id, term, count(*) AS tf FROM toks
       |  WHERE ${TextAnalyzer.sqlTermFilter("term")}
       |  GROUP BY doc_id, term
       |)
       |SELECT doc_id, count(DISTINCT term) AS n_terms,
       |  CAST(sum(tf) AS BIGINT) AS matched_tf
       |FROM idx WHERE term LIKE '%$suffix'
       |GROUP BY doc_id
       |ORDER BY matched_tf DESC, doc_id ASC LIMIT $k""".stripMargin

  /** Infix (wildcard `%pat%`) search: the vocabulary — orders of
    * magnitude smaller than the corpus — is scanned for containing
    * terms, then their posting lists aggregate per doc. This is the
    * honest baseline PG's pg_trgm LIKE acceleration improves on with
    * a trigram index; at this engine's scale the vocab scan is a
    * rounding error next to any corpus-touching operator, and the
    * postings probe is the same index aggregation as prefix/suffix. */
  def infixSearch(spark: SparkSession, dir: String, pat: String,
      k: Int): DataFrame =
    spark.table(ensureIndex(spark, dir))
      .filter(col("term").contains(pat))
      .groupBy("doc_id")
      .agg(
        countDistinct(col("term")).as("n_terms"),
        sum(col("tf")).as("matched_tf"))
      .orderBy(col("matched_tf").desc, col("doc_id").asc)
      .limit(k)

  def infixSearchOracleSql(pat: String, k: Int): String =
    s"""WITH toks AS (
       |  SELECT doc_id, ${TextAnalyzer.sqlTokenize("text")} AS term FROM documents
       |), idx AS (
       |  SELECT doc_id, term, count(*) AS tf FROM toks
       |  WHERE ${TextAnalyzer.sqlTermFilter("term")}
       |  GROUP BY doc_id, term
       |)
       |SELECT doc_id, count(DISTINCT term) AS n_terms,
       |  CAST(sum(tf) AS BIGINT) AS matched_tf
       |FROM idx WHERE term LIKE '%$pat%'
       |GROUP BY doc_id
       |ORDER BY matched_tf DESC, doc_id ASC LIMIT $k""".stripMargin

  /** Query autocomplete — the TERM-level sibling of [[prefixSearch]]
    * (which ranks documents): top-k vocabulary completions of a typed
    * prefix ranked by document frequency, the suggest-as-you-type
    * primitive (Lucene's prefix suggester / PG's `pg_trgm` suggest
    * path). A pushed StartsWith over the sorted term column of the
    * persisted index prunes row groups; the aggregate runs at
    * VOCABULARY size, never corpus size. */
  def completeTerms(spark: SparkSession, dir: String, prefix: String,
      k: Int): DataFrame =
    spark.table(ensureIndex(spark, dir))
      .filter(col("term").startsWith(prefix))
      .groupBy("term")
      .agg(
        countDistinct(col("doc_id")).as("df"),
        sum(col("tf")).as("total_tf"))
      .orderBy(col("df").desc, col("term").asc)
      .limit(k)

  def completeTermsOracleSql(prefix: String, k: Int): String =
    s"""WITH toks AS (
       |  SELECT doc_id, ${TextAnalyzer.sqlTokenize("text")} AS term FROM documents
       |), idx AS (
       |  SELECT doc_id, term, count(*) AS tf FROM toks
       |  WHERE ${TextAnalyzer.sqlTermFilter("term")}
       |  GROUP BY doc_id, term
       |)
       |SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf
       |FROM idx WHERE term LIKE '$prefix%'
       |GROUP BY term
       |ORDER BY df DESC, term ASC LIMIT $k""".stripMargin

  /** Index DELETE path — S5's anti-join delete applied to the
    * PERSISTED index instead of the base table: queries after a
    * document deletion must see postings without the deleted docs
    * WITHOUT an index rebuild. The delete list (here: doc_id ≡ 0 mod
    * `mod`, standing in for an API delete batch) anti-joins the
    * term-bucketed index; downstream stats aggregate over survivors.
    * The merge-on-read dual of [[compactStreamedIndex]]'s upsert side —
    * together they close the index maintenance lifecycle.
    * [[ensureVacuumedIndex]] folds tombstones in off the serving
    * path. */
  def termStatsAfterDelete(spark: SparkSession, dir: String,
      mod: Long): DataFrame =
    withoutDeletes(spark, dir, mod)(spark.table(ensureIndex(spark, dir)))
      .groupBy("term")
      .agg(
        countDistinct(col("doc_id")).as("df"),
        sum(col("tf")).as("total_tf"))
      .orderBy(col("df").desc, col("term").asc)
      .limit(100)

  def termStatsAfterDeleteOracleSql(mod: Long): String =
    s"""WITH toks AS (
       |  SELECT doc_id, ${TextAnalyzer.sqlTokenize("text")} AS term
       |  FROM documents WHERE doc_id % $mod <> 0
       |), idx AS (
       |  SELECT doc_id, term, count(*) AS tf FROM toks
       |  WHERE ${TextAnalyzer.sqlTermFilter("term")}
       |  GROUP BY doc_id, term
       |)
       |SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf
       |FROM idx GROUP BY term
       |ORDER BY df DESC, term ASC LIMIT 100""".stripMargin

  /** Index VACUUM — [[termStatsAfterDelete]]'s merge-on-read tombstones
    * folded in: rewrite the term-bucketed index WITHOUT the deleted
    * docs' postings into a new generation (the PostgreSQL GIN VACUUM /
    * Lucene segment-merge analog — the reference deletes rows
    * (/root/reference/src/core/vector_store.py:360-385) and the
    * database's vacuum reclaims the index entries). One bucketed-scan
    * → anti-join → bucketed-write job, cost ∝ live postings, off the
    * serving path; probe-side consumers then drop the per-query
    * anti-join. Keyed by (corpus fingerprint, mod). */
  def ensureVacuumedIndex(spark: SparkSession, dir: String,
      mod: Long): String =
    ScaleOps.ensureVacuumed(spark, ensureIndex(spark, dir), mod)(
      withoutDeletes(spark, dir, mod))

  /** Term statistics over the VACUUMED index — no anti-join anywhere
    * in the query: the rewrite already dropped the tombstoned docs'
    * postings. Registered against [[termStatsAfterDeleteOracleSql]]
    * VERBATIM: vacuum must be invisible to results (merge-on-read ≡
    * rewrite), and the hash gate holds that equivalence every round.
    * Same vocabulary-sized aggregate as [[termStats]]. */
  def termStatsVacuumed(spark: SparkSession, dir: String,
      mod: Long): DataFrame =
    spark.table(ensureVacuumedIndex(spark, dir, mod))
      .groupBy("term")
      .agg(
        countDistinct(col("doc_id")).as("df"),
        sum(col("tf")).as("total_tf"))
      .orderBy(col("df").desc, col("term").asc)
      .limit(100)

  // --- vacuum generations for every persisted index family ----------
  //
  // Each family is rewritten WITHOUT the deleted docs' rows into a
  // (fingerprint, mod)-keyed generation off the serving path
  // ([[ScaleOps.ensureVacuumed]]), observed through a query whose
  // oracle recomputes from the surviving corpus: vacuum must be
  // invisible to results (merge-on-read ≡ rewrite).

  /** A doc-keyed frame minus the deleted docs' rows: the `live` side
    * of every doc-keyed vacuum generation ([[ScaleOps.ensureVacuumed]]).
    * The mod-DERIVED delete set is corpus-proportional, so no broadcast
    * hint (the ivfDeleteStats lesson): AQE broadcasts it only when its
    * runtime size is genuinely small. A real API delete batch (bounded
    * payload) could safely hint. */
  private def withoutDeletes(spark: SparkSession, dir: String,
      mod: Long)(df: DataFrame): DataFrame =
    df.join(Tables.documents(spark, dir)
      .filter(col("doc_id") % mod === 0).select("doc_id"),
      Seq("doc_id"), "left_anti")

  /** Stemmed-vocabulary stats over the vacuumed stemmed index — no
    * anti-join in the query; the oracle re-stems the surviving corpus. */
  def stemmedTermStatsVacuumed(spark: SparkSession, dir: String,
      mod: Long): DataFrame =
    spark.table(ScaleOps.ensureVacuumed(spark, ensureStemmedIndex(spark, dir),
      mod)(withoutDeletes(spark, dir, mod)))
      .groupBy("term")
      .agg(countDistinct(col("doc_id")).as("df"),
        sum(col("tf")).as("total_tf"))
      .orderBy(col("df").desc, col("term").asc)
      .limit(100)

  def stemmedTermStatsVacuumedOracleSql(mod: Long): String =
    s"""WITH rawtoks AS (
       |  SELECT doc_id, ${TextAnalyzer.sqlTokenize("text")} AS t0
       |  FROM documents WHERE doc_id % $mod <> 0
       |), toks AS (
       |  SELECT doc_id, t0 FROM rawtoks
       |  WHERE ${TextAnalyzer.sqlTermFilter("t0")}
       |), ${TextAnalyzer.sqlStemCtes("toks")},
       |idx AS (
       |  SELECT doc_id, term, count(*) AS tf FROM stemmed
       |  GROUP BY doc_id, term
       |)
       |SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf
       |FROM idx GROUP BY term
       |ORDER BY df DESC, term ASC LIMIT 100""".stripMargin

  /** [[suffixSearch]] over the vacuumed reverse index. */
  def suffixSearchVacuumed(spark: SparkSession, dir: String,
      suffix: String, mod: Long, k: Int): DataFrame =
    spark.table(ScaleOps.ensureVacuumed(spark, ensureReverseIndex(spark, dir),
      mod)(withoutDeletes(spark, dir, mod)))
      .filter(col("rterm").startsWith(suffix.reverse))
      .groupBy("doc_id")
      .agg(
        countDistinct(col("rterm")).as("n_terms"),
        sum(col("tf")).as("matched_tf"))
      .orderBy(col("matched_tf").desc, col("doc_id").asc)
      .limit(k)

  def suffixSearchVacuumedOracleSql(suffix: String, mod: Long,
      k: Int): String =
    s"""WITH toks AS (
       |  SELECT doc_id, ${TextAnalyzer.sqlTokenize("text")} AS term
       |  FROM documents WHERE doc_id % $mod <> 0
       |), idx AS (
       |  SELECT doc_id, term, count(*) AS tf FROM toks
       |  WHERE ${TextAnalyzer.sqlTermFilter("term")}
       |  GROUP BY doc_id, term
       |)
       |SELECT doc_id, count(DISTINCT term) AS n_terms,
       |  CAST(sum(tf) AS BIGINT) AS matched_tf
       |FROM idx WHERE term LIKE '%$suffix'
       |GROUP BY doc_id
       |ORDER BY matched_tf DESC, doc_id ASC LIMIT $k""".stripMargin

  /** Per-route-language index health stats over the vacuumed
    * lang-routed index; the oracle re-detects and re-analyzes the
    * surviving corpus under the same per-policy chain. */
  def langRoutedStatsVacuumed(spark: SparkSession, dir: String,
      mod: Long): DataFrame =
    spark.table(ScaleOps.ensureVacuumed(spark,
      ensureLangRoutedIndex(spark, dir), mod)(withoutDeletes(spark, dir, mod)))
      .groupBy("detected")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        countDistinct(col("term")).as("n_terms"),
        sum(col("tf")).cast("long").as("total_tf"))
      .orderBy(col("detected").asc)

  def langRoutedStatsVacuumedOracleSql(mod: Long): String =
    s"""WITH d AS MATERIALIZED (
       |  SELECT doc_id,
       |    ${graft.functions.LangId.sqlDetectExpr("text")} AS detected,
       |    text
       |  FROM documents WHERE doc_id % $mod <> 0
       |), tok0 AS (
       |  SELECT doc_id, detected,
       |    ${TextAnalyzer.sqlTokenize("text")} AS t0
       |  FROM d
       |), f0 AS (
       |  SELECT doc_id, detected, t0 FROM tok0
       |  WHERE CASE detected
       |    WHEN 'en' THEN ${TextAnalyzer.sqlTermFilterFor("t0", "en")}
       |    WHEN 'fr' THEN ${TextAnalyzer.sqlTermFilterFor("t0", "fr")}
       |    ELSE ${TextAnalyzer.sqlTermFilterFor("t0", "und")} END
       |), sa AS (
       |  SELECT *, ${TextAnalyzer.sqlStemA("t0")} AS t1 FROM f0
       |), sb AS (
       |  SELECT *, ${TextAnalyzer.sqlStemB("t1")} AS t2 FROM sa
       |), sc AS (
       |  SELECT doc_id, detected,
       |    CASE WHEN detected = 'en'
       |      THEN ${TextAnalyzer.sqlStemC("t2")} ELSE t0 END AS term
       |  FROM sb
       |), idx AS (
       |  SELECT detected, doc_id, term, count(*) AS tf
       |  FROM sc GROUP BY 1, 2, 3
       |)
       |SELECT detected, count(DISTINCT doc_id) AS n_docs,
       |  count(DISTINCT term) AS n_terms,
       |  CAST(sum(tf) AS BIGINT) AS total_tf
       |FROM idx GROUP BY detected ORDER BY detected ASC""".stripMargin

  /** Vacuumed generation of the BM25 `_dl`/`_cs` sidecars: `_dl` drops
    * the deleted docs' rows, `_cs` is RECOMPUTED from the surviving
    * `_dl` (the scalar stats must shrink with the corpus or every
    * post-delete idf/avgdl is wrong). */
  def ensureVacuumedBm25Stats(spark: SparkSession, dir: String,
      mod: Long): String = {
    val base = ensureBm25Stats(spark, dir)
    ensureDlCs(spark, ScaleOps.Vacuum, s"${base}_vac$mod") {
      withoutDeletes(spark, dir, mod)(spark.table(s"${base}_dl"))
    }
  }

  /** Per-language corpus stats over the vacuumed sidecars — reads BOTH
    * vacuumed tables ((n, sumdl) from `_cs`, Σnuniq from `_dl`); the
    * oracle re-analyzes the surviving corpus. */
  def bm25StatsVacuumed(spark: SparkSession, dir: String,
      mod: Long): DataFrame = {
    val v = ensureVacuumedBm25Stats(spark, dir, mod)
    spark.table(s"${v}_cs")
      .join(spark.table(s"${v}_dl").groupBy("lang")
        .agg(sum(col("nuniq")).cast("long").as("sum_nuniq")), Seq("lang"))
      .select(col("lang"), col("n"),
        col("sumdl").cast("long").as("sumdl"), col("sum_nuniq"))
      .orderBy(col("lang").asc)
  }

  def bm25StatsVacuumedOracleSql(mod: Long): String = {
    val toklist = s"list_filter(string_split_regex(lower(text), " +
      s"'\\W+'), t -> ${TextAnalyzer.sqlTermFilter("t")})"
    s"""WITH perdoc AS (
       |  SELECT doc_id, lang,
       |    len($toklist) AS dl,
       |    len(list_distinct($toklist)) AS nuniq
       |  FROM documents WHERE doc_id % $mod <> 0
       |)
       |SELECT lang, count(*) AS n, CAST(sum(dl) AS BIGINT) AS sumdl,
       |  CAST(sum(nuniq) AS BIGINT) AS sum_nuniq
       |FROM perdoc GROUP BY lang ORDER BY lang ASC""".stripMargin
  }

  /** [[facetedSearch]]'s index route over the VACUUMED forward index +
    * attrs sidecar — the post-delete facet panel with no anti-join
    * anywhere in the query (both generations already dropped the
    * tombstones); the oracle recomputes the facets from the surviving
    * corpus. */
  def facetedSearchVacuumed(spark: SparkSession, dir: String,
      query: String, mod: Long): DataFrame = {
    val terms = TextAnalyzer.analyze(query).distinct
    require(terms.nonEmpty, "query analyzes to no terms")
    val hits =
      ScaleOps.bucketProbe(spark, ensureVacuumedIndex(spark, dir, mod), terms)
    val attrs = spark.table(ScaleOps.ensureVacuumed(spark,
        ensureDocAttrs(spark, dir), mod)(withoutDeletes(spark, dir, mod)))
      .select("doc_id", "lang", "source")
    facets(pivot(hits, terms, positions = false).join(attrs, Seq("doc_id")),
      terms.length)
  }

  def facetedSearchVacuumedOracleSql(query: String, mod: Long): String = {
    val terms = TextAnalyzer.analyze(query).distinct
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(tl, x -> x = '$t')) AS tf$i"
    }.mkString(", ")
    val allMatch = terms.indices.map(i => s"tf$i > 0").mkString(" AND ")
    val tfSum = terms.indices.map(i => s"tf$i").mkString(" + ")
    s"""WITH perdoc AS (
       |  SELECT doc_id, lang, source, $tfCols
       |  FROM (
       |    SELECT doc_id, lang, source, list_filter(
       |      string_split_regex(lower(text), '\\W+'),
       |      t -> ${TextAnalyzer.sqlTermFilter("t")}) AS tl
       |    FROM documents WHERE doc_id % $mod <> 0
       |  ) tokl
       |)
       |SELECT lang, source, count(*) AS n_docs,
       |  CAST(sum($tfSum) AS BIGINT) AS matched_tf
       |FROM perdoc WHERE $allMatch
       |GROUP BY lang, source
       |ORDER BY lang ASC, source ASC""".stripMargin
  }

  /** Posting-list length histogram — index HEALTH introspection (the
    * `pg_stats`/Lucene-segment-info analog): how many terms fall in
    * each document-frequency magnitude bucket, and how much total tf
    * each bucket carries. The bucket is the DIGIT COUNT of df —
    * string-based, so no log arithmetic can diverge between engines —
    * which is exactly the decade structure that decides whether a
    * posting list is a broadcast probe (short tail) or the quadratic
    * hazard the PPJoin prefix filter prunes (frequent head). One
    * vocabulary-sized aggregate off the persisted index. */
  def dfHistogram(spark: SparkSession, dir: String): DataFrame =
    spark.table(ensureIndex(spark, dir))
      .groupBy("term")
      .agg(countDistinct(col("doc_id")).as("df"),
        sum(col("tf")).as("total_tf"))
      .groupBy(length(col("df").cast("string")).cast("long")
        .as("df_decade"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("total_tf")).cast("long").as("total_tf"))
      .orderBy(col("df_decade").asc)

  val dfHistogramOracleSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, ${TextAnalyzer.sqlTokenize("text")} AS term FROM documents
       |), idx AS (
       |  SELECT doc_id, term, count(*) AS tf FROM toks
       |  WHERE ${TextAnalyzer.sqlTermFilter("term")}
       |  GROUP BY doc_id, term
       |), vocab AS (
       |  SELECT term, count(*) AS df, sum(tf) AS total_tf
       |  FROM idx GROUP BY term
       |)
       |SELECT CAST(length(CAST(df AS VARCHAR)) AS BIGINT) AS df_decade,
       |  count(*) AS n_terms,
       |  CAST(sum(total_tf) AS BIGINT) AS total_tf
       |FROM vocab GROUP BY 1 ORDER BY df_decade ASC""".stripMargin

  /** Full BOOLEAN query search — the `to_tsquery` connective algebra
    * (`&`, `|`, `!`, parens) the reference's plainto path flattens to
    * AND ([[graft.functions.BoolQuery]] holds the grammar): one
    * driver-side parse, then the SAME AST emits both the Spark
    * predicate and the oracle SQL, so the semantics have one source of
    * truth. Matching reads the posting source's per-term tf columns;
    * ranking sums the tf of terms in NON-negated positions only (a doc
    * matching `a & !b` ranks by a, not b). A PURE-NEGATION query — one
    * whose predicate holds with every term absent (e.g. `!sort`) —
    * matches docs with no query-term posting at all, so it asks the
    * source for every doc in scope. */
  def booleanSearch(spark: SparkSession, dir: String, query: String,
      lang: String, k: Int): DataFrame = {
    import graft.functions.BoolQuery
    val ast = BoolQuery.parse(query)
    val terms = BoolQuery.terms(ast)
    val pos = BoolQuery.positiveTerms(ast)
    def tf(t: String) = col(s"tf${terms.indexOf(t)}")
    val pred = BoolQuery.predicate(ast, t => tf(t) > 0)
    val rank =
      if (pos.isEmpty) lit(0L)
      else pos.map(t => tf(t).cast("long")).reduce(_ + _)
    postings(spark, dir, terms, plain, Some(lang),
        Want(universe = BoolQuery.matches(ast, _ => false)))
      .filter(pred)
      .select(col("doc_id"), rank.as("matched_tf"))
      .orderBy(col("matched_tf").desc, col("doc_id").asc)
      .limit(k)
  }

  def booleanSearchOracleSql(query: String, lang: String,
      k: Int): String = {
    val ast = graft.functions.BoolQuery.parse(query)
    val terms = graft.functions.BoolQuery.terms(ast)
    val pos = graft.functions.BoolQuery.positiveTerms(ast)
    val tfCols = terms.map(t =>
      s"len(list_filter(tl, x -> x = '$t')) AS tf_$t").mkString(", ")
    val pred = graft.functions.BoolQuery
      .predicateSql(ast, t => s"tf_$t > 0")
    val rank = pos.map(t => s"tf_$t").mkString(" + ")
    s"""WITH tokl AS (
       |  SELECT doc_id, list_filter(
       |    string_split_regex(lower(text), '\\W+'),
       |    t -> ${TextAnalyzer.sqlTermFilter("t")}) AS tl
       |  FROM documents WHERE lang = '$lang'
       |), tf AS (
       |  SELECT doc_id, $tfCols FROM tokl
       |)
       |SELECT doc_id, CAST($rank AS BIGINT) AS matched_tf
       |FROM tf WHERE $pred
       |ORDER BY matched_tf DESC, doc_id ASC LIMIT $k""".stripMargin
  }

  /** `websearch_to_tsquery` search — the forgiving web-style surface
    * completing the tsquery family ([[booleanSearch]] is the strict
    * algebra): quoted phrases, bare `OR`, glued `-` negation, nothing
    * is a syntax error ([[graft.functions.WebSearchQuery]] holds the
    * grammar and PG-semantics notes). One driver-side parse; the SAME
    * AST emits the Spark predicate and the oracle SQL. Term atoms count
    * via the posting source's tf columns, phrase atoms via its position
    * lists (the [[phraseSearch]] rule), and a pure-negation query asks
    * for every doc in scope (the [[booleanSearch]] rule). Rank = total
    * match count of atoms in non-negated positions (term tf + phrase
    * occurrences), the booleanSearch convention. */
  def websearchSearch(spark: SparkSession, dir: String, query: String,
      lang: String, k: Int): DataFrame = {
    import graft.functions.WebSearchQuery
    import graft.functions.WebSearchQuery.{Term => WTerm, Phrase => WPhrase}
    val ast = WebSearchQuery.parse(query)
    val atoms = WebSearchQuery.atoms(ast)
    val pos = WebSearchQuery.positiveAtoms(ast)
    val name = atoms.zipWithIndex.map { case (a, i) => a -> s"m$i" }.toMap
    val fetch = atoms.flatMap {
      case WTerm(t) => Seq(t)
      case WPhrase(ts) => ts
      case other => throw new IllegalStateException(s"non-leaf $other")
    }.distinct
    def posOf(t: String) = col(s"pos${fetch.indexOf(t)}")
    def phraseCount(ts: Seq[String]): Column =
      if (ts.length == 1) size(posOf(ts.head))
      else size(filter(posOf(ts.head),
        p => ts.indices.tail
          .map(j => array_contains(posOf(ts(j)), p + j))
          .reduce(_ && _)))
    val matchCols = atoms.map {
      case a @ WTerm(t) => col(s"tf${fetch.indexOf(t)}").as(name(a))
      case a @ WPhrase(ts) => phraseCount(ts).as(name(a))
      case other => throw new IllegalStateException(s"non-leaf $other")
    }
    val projected = postings(spark, dir, fetch, plain, Some(lang),
        Want(positions = atoms.exists(_.isInstanceOf[WPhrase]),
          universe = WebSearchQuery.matches(ast, _ => false)))
      .select(col("doc_id") +: matchCols: _*)
    val pred = WebSearchQuery.predicate(ast, a => col(name(a)))
    val rank =
      if (pos.isEmpty) lit(0L)
      else pos.map(a => col(name(a)).cast("long")).reduce(_ + _)
    projected.filter(pred)
      .select(col("doc_id"), rank.as("matched_tf"))
      .orderBy(col("matched_tf").desc, col("doc_id").asc)
      .limit(k)
  }

  def websearchSearchOracleSql(query: String, lang: String,
      k: Int): String = {
    import graft.functions.WebSearchQuery
    import graft.functions.WebSearchQuery.{Term => WTerm, Phrase => WPhrase}
    val ast = WebSearchQuery.parse(query)
    val atoms = WebSearchQuery.atoms(ast)
    val pos = WebSearchQuery.positiveAtoms(ast)
    val name = atoms.zipWithIndex.map { case (a, i) => a -> s"m$i" }.toMap
    def frag(a: WebSearchQuery.Node): String = a match {
      case WTerm(t) => s"len(list_filter(tl, x -> x = '$t'))"
      case WPhrase(ts) =>
        val cond = ts.zipWithIndex
          .map { case (t, j) => s"tl[i + $j] = '$t'" }.mkString(" AND ")
        s"len(list_filter(range(1, greatest(len(tl) - ${ts.length - 1}, 0) + 1), i -> $cond))"
      case other => throw new IllegalStateException(s"non-leaf $other")
    }
    val matchCols = atoms
      .map(a => s"${frag(a)} AS ${name(a)}").mkString(",\n    ")
    val pred = WebSearchQuery.predicateSql(ast, a => name(a))
    val rank =
      if (pos.isEmpty) "0" else pos.map(name).mkString(" + ")
    s"""WITH tokl AS (
       |  SELECT doc_id, list_filter(
       |    string_split_regex(lower(text), '\\W+'),
       |    t -> ${TextAnalyzer.sqlTermFilter("t")}) AS tl
       |  FROM documents WHERE lang = '$lang'
       |), m AS (
       |  SELECT doc_id,
       |    $matchCols
       |  FROM tokl
       |)
       |SELECT doc_id, CAST($rank AS BIGINT) AS matched_tf
       |FROM m WHERE $pred
       |ORDER BY matched_tf DESC, doc_id ASC LIMIT $k""".stripMargin
  }

  /** Vocabulary concentration indexes — Simpson/Herfindahl Σ(tfᵢ/T)²
    * and the top-term share: [[zipfFit]]'s scalar companions (a
    * boilerplate-dominated corpus concentrates probability mass in few
    * terms; healthy text doesn't). One vocabulary-sized aggregate off
    * the persisted index; the Simpson sum runs in exact integer
    * numerators (Σ tfᵢ²) with ONE final division. */
  def vocabConcentration(spark: SparkSession, dir: String): DataFrame =
    spark.table(ensureIndex(spark, dir))
      .groupBy("term").agg(sum(col("tf")).as("freq"))
      .agg(
        count(lit(1)).as("n_terms"),
        sum(col("freq")).as("total_tf"),
        sum(col("freq") * col("freq")).as("sum_sq"),
        max(col("freq")).as("top_freq"))
      .select(
        col("n_terms"), col("total_tf").cast("long").as("total_tf"),
        // denominator forms in DOUBLE (oracle already does): the
        // corpus token total SQUARED exceeds Int64 long before 100 TB
        round(col("sum_sq") /
          (col("total_tf").cast("double") * col("total_tf")), 6)
          .as("simpson"),
        round(col("top_freq") / col("total_tf"), 6).as("top1_share"))

  val vocabConcentrationOracleSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, ${TextAnalyzer.sqlTokenize("text")} AS term FROM documents
       |), vocab AS (
       |  SELECT term, CAST(count(*) AS BIGINT) AS freq FROM toks
       |  WHERE ${TextAnalyzer.sqlTermFilter("term")}
       |  GROUP BY term
       |)
       |SELECT count(*) AS n_terms,
       |  CAST(sum(freq) AS BIGINT) AS total_tf,
       |  round(CAST(sum(freq * freq) AS DOUBLE) /
       |    (CAST(sum(freq) AS DOUBLE) * CAST(sum(freq) AS DOUBLE)), 6)
       |    AS simpson,
       |  round(CAST(max(freq) AS DOUBLE) / CAST(sum(freq) AS DOUBLE), 6)
       |    AS top1_share
       |FROM vocab""".stripMargin

  /** Zipf's-law fit of the corpus term-frequency distribution: least
    * squares of ln(freq) on ln(rank) over the vocabulary — slope ≈ −1
    * is the healthy-natural-text signature; a flat or cliff-shaped fit
    * flags boilerplate/dedup-failure corpora (the corpus-law diagnostic
    * next to diversity_report's type/token ratios).
    *
    * The rank is a row_number over the VOCABULARY-sized frequency frame
    * (bounded global window, allowlisted — never the corpus); the fit
    * reduces to one 1-row aggregate of log power sums. */
  def zipfFit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vocab = spark.table(ensureIndex(spark, dir))
      .groupBy("term").agg(sum(col("tf")).as("freq"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("freq").desc, col("term").asc)))
    val pts = vocab.select(
      log(col("rank").cast("double")).as("lx"),
      log(col("freq").cast("double")).as("ly"))
    pts.agg(
      count(lit(1)).as("n"),
      sum(col("lx")).as("sx"), sum(col("ly")).as("sy"),
      sum(col("lx") * col("ly")).as("sxy"),
      sum(col("lx") * col("lx")).as("sxx"),
      sum(col("ly") * col("ly")).as("syy"))
      .select(
        col("n").as("n_terms"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("slope"),
        round((col("sy") - (col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")) * col("sx")) /
          col("n"), 6).as("intercept"),
        round(
          ((col("n") * col("sxy") - col("sx") * col("sy")) *
            (col("n") * col("sxy") - col("sx") * col("sy"))) /
            ((col("n") * col("sxx") - col("sx") * col("sx")) *
              (col("n") * col("syy") - col("sy") * col("sy"))),
          6).as("r2"))
  }

  val zipfFitOracleSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, ${TextAnalyzer.sqlTokenize("text")} AS term FROM documents
       |), vocab AS (
       |  SELECT term, CAST(count(*) AS BIGINT) AS freq FROM toks
       |  WHERE ${TextAnalyzer.sqlTermFilter("term")}
       |  GROUP BY term
       |), ranked AS (
       |  SELECT ln(CAST(row_number() OVER (ORDER BY freq DESC, term ASC)
       |    AS DOUBLE)) AS lx, ln(CAST(freq AS DOUBLE)) AS ly
       |  FROM vocab
       |), s AS (
       |  SELECT count(*) AS n, sum(lx) AS sx, sum(ly) AS sy,
       |    sum(lx * ly) AS sxy, sum(lx * lx) AS sxx, sum(ly * ly) AS syy
       |  FROM ranked
       |)
       |SELECT n AS n_terms,
       |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
       |  round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n,
       |        6) AS intercept,
       |  round((n * sxy - sx * sy) * (n * sxy - sx * sy) /
       |    ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
       |FROM s""".stripMargin

  /** Faceted search — the aggregation panel every search UI renders
    * beside the hit list (Elastic terms-aggs, PG GROUP BY over the
    * match): the AND-match doc set of `query`, bucketed by
    * (lang, source) with doc counts and total matched tf: the posting
    * source over every language, with the facet keys as its attrs
    * columns, feeding one partial-aggregated groupBy. */
  def facetedSearch(spark: SparkSession, dir: String,
      query: String): DataFrame = {
    val terms = TextAnalyzer.analyze(query).distinct
    require(terms.nonEmpty, "query analyzes to no terms")
    facets(postings(spark, dir, terms, plain, None,
      Want(attrs = true, allTerms = true)), terms.length)
  }

  /** The facet panel over per-doc tf columns + (lang, source). */
  private def facets(docs: DataFrame, nTerms: Int): DataFrame =
    docs
      .filter((0 until nTerms).map(i => col(s"tf$i") > 0).reduce(_ && _))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum((0 until nTerms).map(i => col(s"tf$i")).reduce(_ + _))
          .cast("long").as("matched_tf"))
      .orderBy(col("lang").asc, col("source").asc)

  def facetedSearchOracleSql(query: String): String = {
    val terms = TextAnalyzer.analyze(query).distinct
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(tl, x -> x = '$t')) AS tf$i"
    }.mkString(", ")
    val allMatch = terms.indices.map(i => s"tf$i > 0").mkString(" AND ")
    val tfSum = terms.indices.map(i => s"tf$i").mkString(" + ")
    s"""WITH perdoc AS (
       |  SELECT doc_id, lang, source, $tfCols
       |  FROM (
       |    SELECT doc_id, lang, source, list_filter(
       |      string_split_regex(lower(text), '\\W+'),
       |      t -> ${TextAnalyzer.sqlTermFilter("t")}) AS tl
       |    FROM documents
       |  ) tokl
       |)
       |SELECT lang, source, count(*) AS n_docs,
       |  CAST(sum($tfSum) AS BIGINT) AS matched_tf
       |FROM perdoc WHERE $allMatch
       |GROUP BY lang, source
       |ORDER BY lang ASC, source ASC""".stripMargin
  }

  /** TF-IDF keyword extraction: the top-`perDoc` most characteristic
    * terms of every document — the per-doc summarization / tagging pass
    * a training-data pipeline runs for corpus exploration and topic
    * balancing. tfidf = tf · ln(N / df), integer tf/df/N so the double
    * is engine-identical; ties break on term asc.
    *
    * Scale shape: reuses the persisted inverted index (one tokenize
    * pass per corpus, amortized); df is a groupBy over the index's
    * (term, doc) rows whose result is vocabulary-sized — orders of
    * magnitude smaller than the corpus, so it joins back by term
    * WITHOUT broadcasting (vocab can still exceed driver memory at
    * 100 TB; the term-keyed shuffle join co-partitions with the
    * bucketed index layout). The per-doc top-k is one ranked window
    * partitioned by doc — a single shuffle of (doc, term, tfidf)
    * triples, no corpus re-scan. */
  def keywordsTfidf(spark: SparkSession, dir: String,
      perDoc: Int): DataFrame = {
    val idx = spark.table(ensureIndex(spark, dir))
    // df and N from the persisted vocabulary sidecar (r18, the fts_mlt
    // treatment): a document has exactly ONE lang, so summing the
    // per-(lang, term) dfs over langs IS the index's per-term row
    // count, and summing per-lang indexed-doc counts IS the distinct
    // doc count — same integers, two bucketed-sidecar scans instead of
    // two full-index aggregations per query
    val dfName = ensureDfStats(spark, dir)
    val n = spark.table(s"${dfName}_nd")
      .agg(sum(col("n_docs")).as("n"))
    val dfs = spark.table(dfName).groupBy("term")
      .agg(sum(col("df")).as("df"))
    val scored = idx.join(dfs, "term").crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"),
        round(col("tf") * log(col("n").cast("double") / col("df")), 6)
          .as("tfidf"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= perDoc)
      .select(col("doc_id"), col("rank").cast("long").as("rank"),
        col("term"), col("tfidf"))
      .orderBy(col("doc_id").asc, col("rank").asc)
  }

  def keywordsTfidfOracleSql(perDoc: Int): String =
    s"""WITH toks AS (
       |  SELECT doc_id, ${TextAnalyzer.sqlTokenize("text")} AS term FROM documents
       |), idx AS (
       |  SELECT doc_id, term, count(*) AS tf FROM toks
       |  WHERE ${TextAnalyzer.sqlTermFilter("term")}
       |  GROUP BY doc_id, term
       |), dfs AS (
       |  SELECT term, count(*) AS df FROM idx GROUP BY term
       |), n AS (
       |  SELECT count(DISTINCT doc_id) AS n FROM idx
       |), scored AS (
       |  SELECT idx.doc_id, idx.term,
       |    round(idx.tf * ln(CAST(n.n AS DOUBLE) / dfs.df), 6) AS tfidf
       |  FROM idx JOIN dfs ON dfs.term = idx.term, n
       |), ranked AS (
       |  SELECT doc_id, term, tfidf,
       |    row_number() OVER (PARTITION BY doc_id
       |                       ORDER BY tfidf DESC, term ASC) AS rank
       |  FROM scored
       |)
       |SELECT doc_id, rank, term, tfidf FROM ranked
       |WHERE rank <= $perDoc
       |ORDER BY doc_id ASC, rank ASC""".stripMargin

  /** B1 batch search — the reference's mocked endpoint
    * (/root/reference/src/api/search.py:108-135), given its intended
    * implementation as ONE joined pass: all queries' terms go through a
    * single shuffle against the index; per-query top-k via ranked window.
    * This is the scale-correct shape: N queries cost one index pass, not N.
    */
  def batchSearch(
      spark: SparkSession, dir: String,
      queries: Seq[(Int, String)], lang: String, k: Int): DataFrame = {
    import spark.implicits._
    val analyzed = queries.map { case (qid, q) =>
      (qid, q, TextAnalyzer.analyze(q).distinct)
    }
    // consistent with search(): an all-stopword query is an error, not a
    // silent omission (and an empty term set would also make the oracle's
    // VALUES list syntactically invalid)
    analyzed.foreach { case (qid, q, ts) =>
      require(ts.nonEmpty, s"query $qid ('$q') analyzes to no terms")
    }
    val queryTerms = analyzed
      .flatMap { case (qid, _, ts) => ts.map(t => (qid, t, ts.length)) }
      .toDF("query_idx", "term", "n_terms")
    // driver-side: the terms came from local query strings — collecting
    // them back out of a DataFrame would cost a whole Spark job
    val allTerms = analyzed.flatMap(_._3).distinct
    // probe the persisted index: only the query terms' bucket files
    // are read — cost ∝ posting lists touched, however large the corpus
    val idx = ScaleOps.bucketProbe(spark, ensureIndex(spark, dir), allTerms)
      .filter(col("lang") === lit(lang))
    val perQueryDoc = idx
      .join(broadcast(queryTerms), "term")
      .groupBy("query_idx", "n_terms", "doc_id")
      .agg(count(lit(1)).as("nmatch"), sum(log(lit(1.0) + col("tf"))).as("s"))
      .filter(col("nmatch") === col("n_terms"))
      .select(col("query_idx"), col("doc_id"),
        round(col("s") / (lit(1.0) + col("s")), 6).as("score"))
    val w = Window.partitionBy("query_idx")
      .orderBy(col("score").desc, col("doc_id").asc)
    perQueryDoc
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("query_idx", "doc_id", "score")
      .orderBy(col("query_idx").asc, col("score").desc, col("doc_id").asc)
  }

  def batchSearchOracleSql(
      queries: Seq[(Int, String)], lang: String, k: Int): String = {
    val qRows = queries
      .flatMap { case (qid, q) =>
        val ts = TextAnalyzer.analyze(q).distinct
        ts.map(t => s"($qid, '$t', ${ts.length})")
      }
      .mkString(", ")
    s"""WITH qt(query_idx, term, n_terms) AS (VALUES $qRows),
       |toks AS (
       |  SELECT doc_id, ${TextAnalyzer.sqlTokenize("text")} AS term
       |  FROM documents WHERE lang = '$lang'
       |), idx AS (
       |  SELECT doc_id, term, count(*) AS tf FROM toks
       |  WHERE ${TextAnalyzer.sqlTermFilter("term")}
       |  GROUP BY doc_id, term
       |), m AS (
       |  SELECT qt.query_idx, qt.n_terms, idx.doc_id,
       |         count(*) AS nmatch, sum(ln(1 + idx.tf)) AS s
       |  FROM idx JOIN qt USING (term)
       |  GROUP BY qt.query_idx, qt.n_terms, idx.doc_id
       |), scored AS (
       |  SELECT query_idx, doc_id, round(s / (1 + s), 6) AS score,
       |         row_number() OVER (PARTITION BY query_idx
       |                            ORDER BY round(s / (1 + s), 6) DESC,
       |                                     doc_id ASC) AS rn
       |  FROM m WHERE nmatch = n_terms
       |)
       |SELECT query_idx, doc_id, score FROM scored WHERE rn <= $k
       |ORDER BY query_idx ASC, score DESC, doc_id ASC""".stripMargin
  }

  /** Headline / snippet generation — the `ts_headline` analog (the one
    * member of PG's FTS function family the reference's SQL never
    * reaches but any search UI over it needs): for each top-k hit,
    * a keyword-in-context window of ±`window` words around the FIRST
    * occurrence of any query term.
    *
    * Deterministic and oracle-mirrored: display words are the raw
    * space-separated tokens of lower(text); term MATCHING runs against
    * a punctuation-stripped copy (each word minus `\W` chars — the same
    * character class the scoring tokenizer splits on), so "merge,"
    * still anchors the snippet for query term "merge". "First
    * occurrence" is the least 1-based position over the query terms
    * (absent terms contribute null, dropped by `least`). Remaining
    * contract gap vs ts_headline: terms are matched unstemmed, so an
    * inflected-only hit ("merging" for "merge") anchors no snippet.
    *
    * Scale shape: the search keeps its zero-exchange plan; the snippet
    * pass joins the k-row hit list back to a BARE (doc_id, text)
    * projection of documents and only THEN computes the word arrays —
    * broadcast the k rows, so the join is shuffle-free, and the
    * per-word regex clean / array_position scan runs on exactly the k
    * joined rows, never corpus-wide (at 100 TB: a broadcast-hash probe
    * of k ids against the doc scan, then O(k) snippet work). Catalyst
    * has no rule that defers expensive projections past a join, so the
    * ordering here is load-bearing: project text only below the join,
    * everything derived from it above.
    */
  def headlines(spark: SparkSession, dir: String, query: String,
      lang: String, k: Int, window: Int): DataFrame = {
    val terms = TextAnalyzer.analyze(query).distinct
    require(terms.nonEmpty, "query analyzes to no terms")
    // the hit list rides the probe route when the corpus is past the
    // routing threshold — the snippet pass then anchors on k index-probe
    // rows instead of a second corpus tokenization (r18)
    val top = search(spark, dir, query, lang, k)
    val docs = Tables.documents(spark, dir)
      .filter(col("lang") === lit(lang))
      .select(col("doc_id"), col("text"))
    val joined = broadcast(top).join(docs, "doc_id")
    val words = split(lower(col("text")), " ")
    val clean = transform(words, w => regexp_replace(w, "\\W+", ""))
    val posCols = terms.map(t => nullif(array_position(clean, t), lit(0L)))
    val firstPos =
      if (posCols.length == 1) posCols.head else least(posCols: _*)
    joined
      .select(col("doc_id"), col("score"), words.as("ws"),
        firstPos.as("fp"))
      .filter(col("fp").isNotNull)
      .select(col("doc_id"), col("score"), col("fp").as("first_pos"),
        array_join(
          slice(col("ws"),
            greatest(lit(1L), col("fp") - window).cast("int"),
            (least(size(col("ws")).cast("long"), col("fp") + window)
              - greatest(lit(1L), col("fp") - window) + 1).cast("int")),
          " ").as("snippet"))
      .orderBy(col("score").desc, col("doc_id").asc)
  }

  def headlinesOracleSql(query: String, lang: String, k: Int,
      window: Int): String = {
    val terms = TextAnalyzer.analyze(query).distinct
    val termList = terms.map(t => s"'$t'").mkString("(", ", ", ")")
    val posList = terms
      .map(t => s"list_position(cw, '$t')").mkString(", ")
    val firstPos =
      if (terms.length == 1) posList else s"least($posList)"
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
       |), top AS (
       |  SELECT doc_id, round(s / (1 + s), 6) AS score
       |  FROM m WHERE nmatch = ${terms.length}
       |  ORDER BY score DESC, doc_id ASC LIMIT $k
       |), d AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS ws,
       |    list_transform(string_split(lower(text), ' '),
       |      w -> regexp_replace(w, '\\W+', '', 'g')) AS cw
       |  FROM documents WHERE lang = '$lang'
       |), h AS (
       |  SELECT t.doc_id AS doc_id, t.score AS score, ws,
       |    CAST($firstPos AS BIGINT) AS fp
       |  FROM top t JOIN d ON t.doc_id = d.doc_id
       |)
       |SELECT doc_id, score, fp AS first_pos,
       |  array_to_string(list_slice(ws,
       |    greatest(1, fp - $window),
       |    least(len(ws), fp + $window)), ' ') AS snippet
       |FROM h WHERE fp IS NOT NULL
       |ORDER BY score DESC, doc_id ASC""".stripMargin
  }

  /** Grouped per-collection top-k in ONE pass — [[batchSearch]]'s shape
    * keyed by collection (lang) instead of query index: one query
    * string, the k best AND-matches WITHIN every collection, resolved
    * in a single job over the persisted term-bucketed index (the
    * reference serves this as a per-collection loop over its search
    * endpoint, /root/reference/src/api/routes/search.py — N scans
    * where one suffices). The term IN-list statically prunes to the
    * query terms' buckets, the (lang, doc_id) aggregate is map-side
    * combinable, and the rank window is keyed by lang — no
    * single-partition operator anywhere, so the plan survives a
    * thousand collections at 100 TB unchanged. */
  def searchPerCollection(spark: SparkSession, dir: String,
      query: String, k: Int): DataFrame = {
    val terms = TextAnalyzer.analyze(query).distinct
    require(terms.nonEmpty, "query analyzes to no terms")
    val idx = ScaleOps.bucketProbe(spark, ensureIndex(spark, dir), terms)
    idx
      .groupBy("lang", "doc_id")
      .agg(count(lit(1)).as("nmatch"),
        sum(log(lit(1.0) + col("tf"))).as("s"))
      .filter(col("nmatch") === lit(terms.length))
      .select(col("lang"), col("doc_id"),
        round(col("s") / (lit(1.0) + col("s")), 6).as("score"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("lang")
          .orderBy(col("score").desc, col("doc_id").asc)))
      .filter(col("rn") <= k)
      .select(col("lang"), col("doc_id"), col("score"),
        col("rn").cast("long").as("rank"))
      .orderBy(col("lang").asc, col("rank").asc)
  }

  def searchPerCollectionOracleSql(query: String, k: Int): String = {
    val terms = TextAnalyzer.analyze(query).distinct
    val termList = terms.map(t => s"'$t'").mkString("(", ", ", ")")
    s"""WITH toks AS (
       |  SELECT doc_id, lang, ${TextAnalyzer.sqlTokenize("text")} AS term
       |  FROM documents
       |), idx AS (
       |  SELECT doc_id, lang, term, count(*) AS tf FROM toks
       |  WHERE ${TextAnalyzer.sqlTermFilter("term")}
       |  GROUP BY doc_id, lang, term
       |), m AS (
       |  SELECT lang, doc_id, count(*) AS nmatch, sum(ln(1 + tf)) AS s
       |  FROM idx WHERE term IN $termList GROUP BY lang, doc_id
       |), scored AS (
       |  SELECT lang, doc_id, round(s / (1 + s), 6) AS score,
       |    row_number() OVER (PARTITION BY lang
       |      ORDER BY round(s / (1 + s), 6) DESC, doc_id ASC) AS rn
       |  FROM m WHERE nmatch = ${terms.length}
       |)
       |SELECT lang, doc_id, score, CAST(rn AS BIGINT) AS rank
       |FROM scored WHERE rn <= $k
       |ORDER BY lang ASC, rank ASC""".stripMargin
  }

  /** Rarest-term-first AND-match — the manual rewrite SURVEY §4.1 notes
    * a posting-list engine performs implicitly (intersect starting from
    * the SHORTEST posting list; Postgres GIN does the same via
    * `gincostestimate`): probe the index for each query term's df
    * (|terms| rows, bucket-pruned), order terms by ascending df, seed
    * the candidate set with the rarest term's postings, and equi-join
    * each later (larger) posting list against the shrinking candidate
    * frame. Results are IDENTICAL to [[search]] (same tf scoring; the
    * oracle is literally [[searchOracleSql]]); what changes is the
    * JOIN ORDER — every intermediate frame is bounded by the rarest
    * df, so on a skewed vocabulary (every real corpus) the frequent
    * term's millions-row posting list is only ever the PROBE side of a
    * candidate-bounded join, never a frame that must be ranked or
    * shuffled whole. AQE broadcasts the candidate side when small.
    *
    * Exactness of "identical": double addition is not associative, so
    * summing log(1+tf) in df-sorted JOIN order could differ from
    * [[search]] in the last ulp and flip a rank landing exactly on a
    * 6-dp rounding boundary. The joins therefore only COLLECT the
    * per-term tf columns (order-free), and the score is computed at
    * the end with the same fixed query-term-index expression tree as
    * [[search]] — the two paths produce bit-identical doubles. */
  def searchRarestFirst(spark: SparkSession, dir: String, query: String,
      lang: String, k: Int): DataFrame = {
    val terms = TextAnalyzer.analyze(query).distinct
    require(terms.nonEmpty, "query analyzes to no terms")
    topK(andScored(rarestFirstChain(spark, ensureIndex(spark, dir), terms,
      lang), terms.length), k)
  }

  /** The chain itself — (doc_id, tf$i) of the docs holding every term —
    * shared by [[searchRarestFirst]] (always-chain, the registered
    * rewrite) and the adaptive AND route of the posting source's probe.
    * The df probe rides the [[termDfs]] memo, so steady-state repeats
    * of a query skip the statistics job entirely. */
  private def rarestFirstChain(spark: SparkSession, idxName: String,
      terms: Seq[String], lang: String): DataFrame = {
    val dfs = termDfs(spark, idxName, terms, lang)
    // an absent term makes the AND-match provably empty — skip the
    // joins entirely (the posting engine's same short-circuit)
    if (terms.exists(t => !dfs.contains(t)))
      return spark.table(idxName).filter(lit(false)).select(col("doc_id") +:
        terms.indices.map(i => lit(0L).as(s"tf$i")): _*)
    // join in ascending-df order, but carry each term's tf under its
    // ORIGINAL query index so the final sum can replay search()'s tree
    val origIdx = terms.zipWithIndex.toMap
    val ordered = terms.sortBy(t => (dfs(t), t))
    def post(t: String) =
      ScaleOps.bucketProbe(spark, idxName, Seq(t))
        .filter(col("lang") === lit(lang))
        .select(col("doc_id"), col("tf").as(s"tf${origIdx(t)}"))
    ordered.tail.foldLeft(post(ordered.head)) {
      (cur, t) => cur.join(post(t), "doc_id")
    }
  }
}
