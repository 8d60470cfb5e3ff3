package graft

import org.apache.spark.sql.DataFrame

import graft.functions.{BoolQuery, TextAnalyzer}
import graft.operators.{CacheScope, Fts, ScaleOps}

/** Pins the flagship-search routing policy (r15 verdict #1): the switch
  * point between the zero-exchange corpus-scan plan and the persisted
  * term-bucketed index probe, and the bit-identity of the two routes'
  * results. The routed entry points (`fts_topk` → [[Fts.searchAuto]],
  * `fts_bm25` → [[Fts.searchBm25Auto]]) must be free to flip routes
  * with catalog/corpus state without any observable difference — that
  * is what lets ONE oracle SQL gate both physical plans. */
class FtsRouteSpec extends SparkSpec {

  private val query = "hash join merge"

  private def rows(df: DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("switch point: sub-threshold corpus scans; larger corpus probes") {
    // fresh conf state for the routing predicate; try/finally so an
    // assertion failure can't leak the confs into the shared session
    // and cascade into other routing-sensitive suites (r16 ADVICE)
    spark.conf.unset("graft.fts.indexRouteMinBytes")
    spark.conf.unset("graft.fts.route")
    try {
      val bytes = ScaleOps.tableBytes(Sf0001, "documents")
      assert(bytes > 0)
      // (a) below the default 4 MiB threshold → scan route, regardless
      // of whether the index happens to exist (pure-size policy)
      assert(!Fts.routeToIndex(spark, Sf0001))
      Fts.ensureIndex(spark, Sf0001)
      assert(!Fts.routeToIndex(spark, Sf0001))
      // (b) threshold at/below corpus size → index route
      spark.conf.set("graft.fts.indexRouteMinBytes", bytes.toString)
      assert(Fts.routeToIndex(spark, Sf0001))
      spark.conf.unset("graft.fts.indexRouteMinBytes")
      // (c) explicit route conf overrides the size policy both ways
      spark.conf.set("graft.fts.route", "index")
      assert(Fts.routeToIndex(spark, Sf0001))
      spark.conf.set("graft.fts.route", "scan")
      assert(!Fts.routeToIndex(spark, Sf0001))
      // (d) a typo'd pin fails loudly instead of silently going auto
      spark.conf.set("graft.fts.route", "bruteforce")
      intercept[IllegalArgumentException] {
        Fts.routeToIndex(spark, Sf0001)
      }
    } finally {
      spark.conf.unset("graft.fts.indexRouteMinBytes")
      spark.conf.unset("graft.fts.route")
    }
  }

  test("fts_topk: index probe is bit-identical to the scan route") {
    val scan = rows(Fts.search(spark, Sf0001, query, "en", 10))
    val probe = rows(Fts.searchIndexed(spark, Sf0001, query, "en", 10))
    assert(probe == scan)
    assert(scan.nonEmpty)
  }

  test("fts_bm25: index probe is bit-identical to the scan route") {
    val scan = rows(Fts.searchBm25(spark, Sf0001, query, "en", 10))
    val probe = rows(Fts.searchBm25Indexed(spark, Sf0001, query, "en", 10))
    CacheScope.release(spark)
    assert(probe == scan)
    assert(scan.nonEmpty)
  }

  test("stemmed/normalized/cover-density probes are bit-identical to scans") {
    val stemScan = rows(Fts.searchStemmed(spark, Sf0001,
      "merging streams", "en", 10))
    val stemProbe = rows(Fts.searchStemmedIndexed(spark, Sf0001,
      "merging streams", "en", 10))
    assert(stemProbe == stemScan && stemScan.nonEmpty)
    val normScan = rows(Fts.searchNormalized(spark, Sf0001,
      query, "en", 10, 33))
    val normProbe = rows(Fts.searchNormalizedIndexed(spark, Sf0001,
      query, "en", 10, 33))
    assert(normProbe == normScan && normScan.nonEmpty)
    // exercise the non-default cascade bits over the sidecar too
    val norm3Scan = rows(Fts.searchNormalized(spark, Sf0001,
      query, "en", 10, 1 | 2 | 8 | 16))
    val norm3Probe = rows(Fts.searchNormalizedIndexed(spark, Sf0001,
      query, "en", 10, 1 | 2 | 8 | 16))
    assert(norm3Probe == norm3Scan && norm3Scan.nonEmpty)
    val cdScan = rows(Fts.searchCoverDensity(spark, Sf0001,
      query, "en", 10))
    val cdProbe = rows(Fts.searchCoverDensityIndexed(spark, Sf0001,
      query, "en", 10))
    assert(cdProbe == cdScan && cdScan.nonEmpty)
    graft.operators.CacheScope.release(spark)
  }

  test("bm25 corpus stats sidecar counts zero-token docs in n") {
    // n must be the number of docs in the language, not the number of
    // docs with postings — the idf denominator the scan path uses
    val stats = Fts.ensureBm25Stats(spark, Sf0001)
    val n = spark.table(s"${stats}_cs")
      .filter(org.apache.spark.sql.functions.col("lang") === "en")
      .collect()(0).getAs[Long]("n")
    val nDocs = Tables.documents(spark, Sf0001)
      .filter(org.apache.spark.sql.functions.col("lang") === "en")
      .count()
    assert(n == nDocs)
  }

  test("probe plan: term IN-list prunes to the query terms' buckets") {
    // the probe must not scan all 32 buckets of the index — it reads
    // exactly the query terms' bucket files
    val probe = Fts.searchIndexed(spark, Sf0001, query, "en", 10)
    val want = bucketFileNames(Fts.ensureIndex(spark, Sf0001),
      TextAnalyzer.analyze(query).distinct)
    assert(inputFileNames(probe) == want)
    assert(want.nonEmpty && want.size < 32)
  }

  test("positional/boolean/websearch probes are bit-identical to scans") {
    def all(df: DataFrame): Seq[Seq[Any]] =
      df.collect().map(_.toSeq.toList).toSeq
    val pScan = all(Fts.phraseSearch(spark, Sf0001, "hash join", "en", 10))
    val pProbe = all(
      Fts.phraseSearchIndexed(spark, Sf0001, "hash join", "en", 10))
    assert(pProbe == pScan && pScan.nonEmpty)
    val nScan = all(
      Fts.nearSearch(spark, Sf0001, "hash", "merge", 8, "en", 10))
    val nProbe = all(
      Fts.nearSearchIndexed(spark, Sf0001, "hash", "merge", 8, "en", 10))
    assert(nProbe == nScan && nScan.nonEmpty)
    val dScan = all(
      Fts.phraseDistSearch(spark, Sf0001, "hash", "merge", 2, "en", 10))
    val dProbe = all(
      Fts.phraseDistSearchIndexed(spark, Sf0001, "hash", "merge", 2,
        "en", 10))
    // nonEmpty guard: equal-but-empty would pass vacuously and miss a
    // probe that silently matches nothing (r17 ADVICE)
    assert(dProbe == dScan && dScan.nonEmpty)
    val bScan = all(Fts.booleanSearch(spark, Sf0001,
      "(hash | merge) & !sort", "en", 10))
    val bProbe = all(Fts.booleanSearchIndexed(spark, Sf0001,
      "(hash | merge) & !sort", "en", 10))
    assert(bProbe == bScan && bScan.nonEmpty)
    val wScan = all(Fts.websearchSearch(spark, Sf0001,
      "\"hash join\" OR merge -sort", "en", 10))
    val wProbe = all(Fts.websearchSearchIndexed(spark, Sf0001,
      "\"hash join\" OR merge -sort", "en", 10))
    assert(wProbe == wScan && wScan.nonEmpty)
  }

  test("pure-negation queries take the doc-universe branch identically") {
    def all(df: DataFrame): Seq[Seq[Any]] =
      df.collect().map(_.toSeq.toList).toSeq
    // matches(all-absent) is true for these → probe must start from the
    // `_dl` universe, and still equal the scan route row-for-row
    val bScan = all(Fts.booleanSearch(spark, Sf0001, "!hash", "en", 10))
    val bProbe = all(
      Fts.booleanSearchIndexed(spark, Sf0001, "!hash", "en", 10))
    assert(bProbe == bScan && bScan.nonEmpty)
    val wScan = all(
      Fts.websearchSearch(spark, Sf0001, "-hash", "en", 10))
    val wProbe = all(
      Fts.websearchSearchIndexed(spark, Sf0001, "-hash", "en", 10))
    assert(wProbe == wScan && wScan.nonEmpty)
  }

  test("endpoint/facet/lang probes are bit-identical to scans") {
    def all(df: DataFrame): Seq[Seq[Any]] =
      df.collect().map(_.toSeq.toList).toSeq
    val eScan = all(Fts.searchEndpoint(spark, Sf0001,
      "hash join merge", "en", "80", 0.0, 10))
    val eProbe = all(Fts.searchEndpointIndexed(spark, Sf0001,
      "hash join merge", "en", "80", 0.0, 10))
    // nonEmpty guard (r17 ADVICE): see the phrase-dist assert above
    assert(eProbe == eScan && eScan.nonEmpty)
    val fScan = all(Fts.facetedSearch(spark, Sf0001, "hash join"))
    val fProbe = all(Fts.facetedSearchIndexed(spark, Sf0001, "hash join"))
    assert(fProbe == fScan && fScan.nonEmpty)
    val lScan = all(Fts.searchLang(spark, Sf0001,
      "le merge et la table", "fr", 10))
    val lProbe = all(Fts.searchLangIndexed(spark, Sf0001,
      "le merge et la table", "fr", 10))
    assert(lProbe == lScan && lScan.nonEmpty)
    graft.operators.CacheScope.release(spark)
  }

  test("positional probe plans prune to the query terms' buckets") {
    // the positional family probes like searchIndexed — cost bounded by
    // the terms' posting lists, not the index
    val idx = Fts.ensureIndex(spark, Sf0001)
    val bool = "(hash | merge) & !sort"
    for ((probe, terms) <- Seq(
        Fts.phraseSearchIndexed(spark, Sf0001, "hash join", "en", 10) ->
          TextAnalyzer.analyze("hash join"),
        Fts.nearSearchIndexed(spark, Sf0001, "hash", "merge", 8, "en", 10) ->
          TextAnalyzer.analyze("hash merge"),
        Fts.booleanSearchIndexed(spark, Sf0001, bool, "en", 10) ->
          BoolQuery.terms(BoolQuery.parse(bool)))) {
      val want = bucketFileNames(idx, terms.distinct)
      assert(inputFileNames(probe) == want)
      assert(want.nonEmpty && want.size < 32)
    }
  }

  test("adaptive AND-intersection: chain and pivot are bit-identical") {
    try {
      spark.conf.set("graft.fts.andRoute", "pivot")
      val pivot = rows(Fts.searchIndexed(spark, Sf0001, query, "en", 10))
      val pivotPlan = Fts.searchIndexed(spark, Sf0001, query, "en", 10)
        .queryExecution.executedPlan.toString
      spark.conf.set("graft.fts.andRoute", "chain")
      val chain = rows(Fts.searchIndexed(spark, Sf0001, query, "en", 10))
      val chainPlan = Fts.searchIndexed(spark, Sf0001, query, "en", 10)
        .queryExecution.executedPlan.toString
      assert(chain == pivot && pivot.nonEmpty)
      // plan shapes really differ: the chain joins posting lists, the
      // pivot is a single doc-keyed aggregate
      assert(chainPlan.contains("Join"), chainPlan)
      assert(!pivotPlan.contains("Join"), pivotPlan)
      // a typo'd pin fails loudly (the route-conf contract)
      spark.conf.set("graft.fts.andRoute", "rarest")
      intercept[IllegalArgumentException] {
        Fts.searchIndexed(spark, Sf0001, query, "en", 10)
      }
    } finally spark.conf.unset("graft.fts.andRoute")
  }

  test("adaptive AND route switches on the df-share threshold") {
    try {
      // share 1.0: minDf <= maxDf always holds → every multi-term query
      // takes the chain
      spark.conf.set("graft.fts.rarestMaxDfShare", "1.0")
      assert(Fts.searchIndexed(spark, Sf0001, query, "en", 10)
        .queryExecution.executedPlan.toString.contains("Join"))
      // share 0.0: minDf <= 0 never holds → pivot
      spark.conf.set("graft.fts.rarestMaxDfShare", "0.0")
      assert(!Fts.searchIndexed(spark, Sf0001, query, "en", 10)
        .queryExecution.executedPlan.toString.contains("Join"))
    } finally spark.conf.unset("graft.fts.rarestMaxDfShare")
  }

  test("routed entry points dispatch by the predicate") {
    // force the probe route: searchAuto's plan must read the catalog
    // table, not documents
    spark.conf.set("graft.fts.route", "index")
    try {
      val auto = Fts.searchAuto(spark, Sf0001, query, "en", 10)
      val plan = auto.queryExecution.executedPlan.toString
      assert(plan.contains("graft_fts_"))
      assert(!plan.contains("documents.parquet"))
    } finally spark.conf.unset("graft.fts.route")
    // and the default at this fixture size is the scan route
    val scanPlan = Fts.searchAuto(spark, Sf0001, query, "en", 10)
      .queryExecution.executedPlan.toString
    assert(scanPlan.contains("graft_docs_part_") ||
      scanPlan.contains("documents.parquet"))
  }
}
