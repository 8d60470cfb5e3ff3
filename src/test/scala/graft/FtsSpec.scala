package graft

import org.apache.spark.sql.functions._

import graft.operators.Fts

class FtsSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "en", "hash join hash join hash"),       // hash tf=3, join tf=2
    (2L, "en", "hash merge sort"),                // hash tf=1 (no join)
    (3L, "en", "join the hash table for a join"), // hash=1, join=2
    (4L, "fr", "hash join"),                      // wrong collection (lang)
    (5L, "en", "sort merge only")                 // no query terms
  ).toDF("doc_id", "lang", "text")

  test("inverted index: tf and positions per (doc, term)") {
    val idx = Fts.invertedIndex(corpus)
      .filter($"doc_id" === 1L).collect()
      .map(r => r.getAs[String]("term") ->
        (r.getAs[Long]("tf"),
          r.getAs[scala.collection.Seq[Int]]("positions").toList)).toMap
    assert(idx("hash")._1 == 3L)
    assert(idx("join")._1 == 2L)
    assert(idx("hash")._2 == List(0, 2, 4))
    assert(idx("join")._2 == List(1, 3))
  }

  test("AND semantics: docs missing any query term are excluded; lang scopes") {
    corpus.createOrReplaceTempView("ignore_me") // not used by search
    val hits = searchOver(corpus, "hash join", "en")
    assert(hits.map(_._1).toSet == Set(1L, 3L)) // 2 lacks join, 4 wrong lang, 5 nothing
  }

  test("rank: higher combined tf ranks first; score in (0,1)") {
    val hits = searchOver(corpus, "hash join", "en")
    // doc1: s = ln(4)+ln(3) = 2.484; doc3: s = ln(2)+ln(3) = 1.791
    assert(hits.head._1 == 1L)
    val s1 = math.log(4) + math.log(3)
    val expected1 = BigDecimal(s1 / (1 + s1))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(hits.head._2 - expected1) < 1e-9)
    hits.foreach { case (_, score) => assert(score > 0 && score < 1) }
  }

  /** Run the F2-F5 pipeline over an in-memory corpus (mirrors
    * Fts.search which reads from a directory). */
  private def searchOver(df: org.apache.spark.sql.DataFrame, query: String,
      lang: String): Seq[(Long, Double)] = {
    val terms = graft.functions.TextAnalyzer.analyze(query).distinct
    Fts.invertedIndex(df)
      .filter($"lang" === lang && $"term".isin(terms: _*))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("nmatch"), sum(log(lit(1.0) + $"tf")).as("s"))
      .filter($"nmatch" === terms.length)
      .select($"doc_id", round($"s" / (lit(1.0) + $"s"), 6).as("score"))
      .orderBy($"score".desc, $"doc_id".asc)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
  }

  test("end-to-end search on fixture data returns ranked, scoped results") {
    val hits = Fts.search(spark, Sf0001, "hash join merge", "en", 10).collect()
    assert(hits.nonEmpty && hits.length <= 10)
    val scores = hits.map(_.getAs[Double]("score"))
    assert(scores.sameElements(scores.sortBy(-(_: Double))))
  }

  test("error paths: all-stopword queries are rejected, not silently dropped") {
    intercept[IllegalArgumentException] {
      Fts.search(spark, Sf0001, "the and of", "en", 10)
    }
    intercept[IllegalArgumentException] {
      Fts.batchSearch(spark, Sf0001,
        Seq(0 -> "hash join", 1 -> "the and"), "en", 5)
    }
  }

  test("rarest-first rewrite returns exactly search()'s results and " +
      "its plan intersects from the rarest term's postings") {
    val (query, lang, k) = ("hash join merge", "en", 10)
    val base = Fts.search(spark, Sf0001, query, lang, k)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val rf = Fts.searchRarestFirst(spark, Sf0001, query, lang, k)
    val got = rf.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == base)
    // plan shape: the DEEPEST-LEFT posting scan (printed first in the
    // left-deep join chain) must carry the rarest term's filter —
    // that is the whole point of the rewrite
    val terms = graft.functions.TextAnalyzer.analyze(query).distinct
    val idx = spark.table(Fts.ensureIndex(spark, Sf0001))
      .filter(col("lang") === lang)
    val dfs = idx.filter(col("term").isin(terms: _*))
      .groupBy("term").agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ordered = terms.sortBy(t => (dfs(t), t))
    val plan = rf.queryExecution.optimizedPlan.toString
    val pos = ordered.map(t => t -> s"INSET $t\\b".r.findFirstMatchIn(plan)
      .fold(-1)(_.start))
    pos.foreach { case (t, p) => assert(p >= 0, s"term $t not in plan\n$plan") }
    assert(pos.map(_._2) == pos.map(_._2).sorted,
      s"posting scans out of df order: $pos\n$plan")
  }

  test("rarest-first equivalence holds over randomized vocabulary " +
      "queries (seeded)") {
    // deterministic sample of real vocabulary terms spanning the df
    // spectrum — the rewrite must be result-identical to search() for
    // ANY term multiset, not just the pinned fixture query
    val vocab = spark.table(Fts.ensureIndex(spark, Sf0001))
      .filter(col("lang") === "en")
      .groupBy("term").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("term").asc)
      .collect().map(_.getString(0))
    assert(vocab.length > 20)
    val rnd = new scala.util.Random(12)
    (0 until 6).foreach { _ =>
      val n = 2 + rnd.nextInt(3)
      // mix of frequent head and rare tail terms
      val terms = Seq.fill(n)(
        if (rnd.nextBoolean()) vocab(rnd.nextInt(10))
        else vocab(vocab.length / 2 + rnd.nextInt(vocab.length / 2)))
        .distinct
      val q = terms.mkString(" ")
      val base = Fts.search(spark, Sf0001, q, "en", 25)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val rf = Fts.searchRarestFirst(spark, Sf0001, q, "en", 25)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(rf == base, s"mismatch for query '$q'")
    }
  }

  test("rarest-first with an absent term short-circuits to empty") {
    val out = Fts.searchRarestFirst(spark, Sf0001,
      "hash zzqqabsentterm", "en", 10).collect()
    assert(out.isEmpty)
  }

  test("per-collection grouped top-k equals a per-lang searchLang loop " +
      "over the index analyzer's semantics") {
    val k = 5
    val out = Fts.searchPerCollection(spark, Sf0001, "hash join", k)
      .collect()
    val langs = out.map(_.getString(0)).distinct
    assert(langs.nonEmpty)
    // within every collection: ranks are 1..n, scores non-increasing
    langs.foreach { lg =>
      val rows = out.filter(_.getString(0) == lg)
      assert(rows.length <= k)
      assert(rows.map(_.getAs[Long]("rank")).toSeq ==
        (1L to rows.length).toSeq)
      val scores = rows.map(_.getAs[Double]("score"))
      assert(scores.sameElements(scores.sortBy(-(_: Double))))
    }
    // cross-check one collection against an independent index probe
    val terms = graft.functions.TextAnalyzer.analyze("hash join").distinct
    val exp = spark.table(Fts.ensureIndex(spark, Sf0001))
      .filter($"lang" === langs.head && $"term".isin(terms: _*))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("nmatch"), sum(log(lit(1.0) + $"tf")).as("s"))
      .filter($"nmatch" === terms.length)
      .select($"doc_id", round($"s" / (lit(1.0) + $"s"), 6).as("score"))
      .orderBy($"score".desc, $"doc_id".asc)
      .limit(k)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val got = out.filter(_.getString(0) == langs.head)
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSeq
    assert(got == exp)
  }

  test("endpoint composition: min_score and metadata filter both bind") {
    // unfiltered baseline
    val all = Fts.search(spark, Sf0001, "hash join merge", "en", 100)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    // a metadata filter that passes nothing → empty, not an error
    val none = Fts.searchEndpoint(spark, Sf0001, "hash join merge", "en",
      "99999", 0.0, 100).collect()
    assert(none.isEmpty)
    // min_score = 1.0 is unreachable (score = s/(1+s) < 1) → empty
    val tooHigh = Fts.searchEndpoint(spark, Sf0001, "hash join merge",
      "en", "80", 1.0, 100).collect()
    assert(tooHigh.isEmpty)
    // min_score 0 + any word count: results ⊆ unfiltered match set
    val some = Fts.searchNormalized(spark, Sf0001, "hash join merge",
      "en", 100, 32).collect().map(_.getAs[Long]("doc_id")).toSet
    assert(some == all)
  }

  test("rank normalization bitmask: 32 matches search; dampings reorder") {
    val base = Fts.search(spark, Sf0001, "hash join merge", "en", 100)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val n32 = Fts.searchNormalized(spark, Sf0001, "hash join merge", "en",
      100, 32).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(base.toSeq == n32.toSeq) // bit 32 alone IS the v1 formula
    // bit 2 (per-token-length damping) yields scores <= undamped raw s;
    // k beyond corpus size so both variants return the full match set
    val n2 = Fts.searchNormalized(spark, Sf0001, "hash join merge", "en",
      100000, 2).collect()
    val n0 = Fts.searchNormalized(spark, Sf0001, "hash join merge", "en",
      100000, 0).collect()
    assert(n2.length == n0.length)
    val raw = n0.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    n2.foreach(r =>
      assert(r.getDouble(1) <= raw(r.getLong(0))))
  }

  test("persisted index probes: batch search bucket-prunes, termStats aggregates bucket-locally") {
    val bs = Fts.batchSearch(spark, Sf0001,
      Seq(0 -> "hash join", 1 -> "sort merge"), "en", 3)
    bs.collect()
    val want = bucketFileNames(Fts.ensureIndex(spark, Sf0001),
      Seq("hash", "join", "sort", "merge"))
    assert(inputFileNames(bs) == want)
    assert(want.nonEmpty && want.size < 32)
    // bucketed-by-term scan satisfies groupBy(term): no hash exchange
    val ts = Fts.termStats(spark, Sf0001)
    ts.collect()
    val tsPlan = ts.queryExecution.executedPlan.toString
    assert(!tsPlan.contains("Exchange hashpartitioning"),
      s"termStats should aggregate bucket-locally:\n$tsPlan")
  }

  test("batch search: per-query top-k, one pass") {
    val res = Fts.batchSearch(spark, Sf0001,
      Seq(0 -> "hash join", 1 -> "sort merge"), "en", 3).collect()
    val byQuery = res.groupBy(_.getAs[Int]("query_idx"))
    assert(byQuery.keySet == Set(0, 1))
    byQuery.values.foreach(rows => assert(rows.length <= 3))
  }
}

class ProximitySpec extends SparkSpec {
  import spark.implicits._

  // synthetic corpus with engineered gaps, written as a documents.parquet
  // fixture so the dir-based search entry points exercise their real path
  private lazy val dir: String = {
    val d = java.nio.file.Files
      .createTempDirectory("graft_prox_").toFile.getAbsolutePath
    Seq(
      (1L, "hash alpha beta merge tail", "en", "s", 25L), // gap 3
      (2L, "merge alpha hash", "en", "s", 16L),           // gap 2 (reverse)
      (3L, "hash merge", "en", "s", 10L),                 // gap 1
      (4L, "hash alone here", "en", "s", 15L),            // no merge
      (5L, "hash pad pad pad pad pad pad pad pad merge", "en", "s", 42L) // gap 9
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$d/documents.parquet")
    d
  }

  test("near search: unordered window, ranked by closest approach") {
    val rows = graft.operators.Fts
      .nearSearch(spark, dir, "hash", "merge", 8, "en", 10).collect()
    assert(rows.map(_.getAs[Long]("doc_id")).toSeq == Seq(3L, 2L, 1L))
    assert(rows.map(_.getAs[Int]("min_gap")).toSeq == Seq(1, 2, 3))
    // doc 5's gap of 9 exceeds the window; doc 4 has no pair at all
  }

  test("phrase-distance <n> is directional and exact") {
    val d3 = graft.operators.Fts
      .phraseDistSearch(spark, dir, "hash", "merge", 3, "en", 10)
      .collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(d3 == Seq(1L)) // only doc 1 has merge exactly 3 after hash
    val d2rev = graft.operators.Fts
      .phraseDistSearch(spark, dir, "hash", "merge", 2, "en", 10)
      .collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(d2rev.isEmpty) // doc 2's pair is in the REVERSE order
    val d1 = graft.operators.Fts
      .phraseDistSearch(spark, dir, "hash", "merge", 1, "en", 10)
      .collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(d1 == Seq(3L)) // <1> is plain adjacency
  }

  test("empty and single-token docs survive the ANSI bounds guards") {
    val d = java.nio.file.Files
      .createTempDirectory("graft_prox2_").toFile.getAbsolutePath
    Seq((1L, "", "en", "s", 0L), (2L, "hash", "en", "s", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$d/documents.parquet")
    assert(graft.operators.Fts
      .nearSearch(spark, d, "hash", "merge", 8, "en", 10).count() == 0L)
    assert(graft.operators.Fts
      .phraseDistSearch(spark, d, "hash", "merge", 2, "en", 10)
      .count() == 0L)
  }

  test("lang round-trip: every hit is served by its DETECTED bucket, " +
      "and a misrouted doc is reachable ONLY via the detected analyzer") {
    val rows = graft.operators.Fts
      .searchLangRouted(spark, Sf0001, "hash join", 3).collect()
    assert(rows.nonEmpty)
    val texts = Tables.documents(spark, Sf0001)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // route_lang always equals the detector's own verdict on the text —
    // the index side and the serving side cannot disagree on routing
    rows.foreach { r =>
      assert(graft.functions.LangId
        .detectString(texts(r.getAs[Long]("doc_id"))) ==
        r.getAs[String]("route_lang"))
    }
    // the fixture contains misroutes (detected != labeled lang — the
    // langid_confusion off-diagonal); pin the behavior: such a doc is
    // INDEXED under the detected analyzer, so its hits surface under
    // route_lang == detected, never under its label
    val mis = rows.filter(r =>
      r.getAs[String]("route_lang") != r.getAs[String]("labeled_lang"))
    mis.foreach { r =>
      assert(!rows.exists(o =>
        o.getAs[Long]("doc_id") == r.getAs[Long]("doc_id") &&
          o.getAs[String]("route_lang") ==
            r.getAs[String]("labeled_lang")))
    }
  }

  test("index vacuum: vacuumed term stats == merge-on-read delete " +
      "stats bit-for-bit; no tombstoned doc's postings remain") {
    val mod = 7L
    val vac = graft.operators.Fts.termStatsVacuumed(spark, Sf0001, mod)
      .collect()
    val del = graft.operators.Fts
      .termStatsAfterDelete(spark, Sf0001, mod).collect()
    assert(vac.nonEmpty)
    assert(vac.map(r => (r.getAs[String]("term"), r.getAs[Long]("df"),
        r.getAs[Long]("total_tf"))).sameElements(
      del.map(r => (r.getAs[String]("term"), r.getAs[Long]("df"),
        r.getAs[Long]("total_tf")))))
    val tbl = graft.operators.Fts.ensureVacuumedIndex(spark, Sf0001, mod)
    assert(spark.table(tbl)
      .filter(org.apache.spark.sql.functions.col("doc_id") % mod === 0)
      .count() == 0)
  }

  test("zipf fit: negative slope, r2 in (0,1], rank-1 intercept sane") {
    val row = graft.operators.Fts.zipfFit(spark, Sf0001).collect().head
    assert(row.getAs[Long]("n_terms") > 10)
    assert(row.getAs[Double]("slope") < 0.0)
    val r2 = row.getAs[Double]("r2")
    assert(r2 > 0.0 && r2 <= 1.0, s"r2 $r2")
    // intercept = ln(freq) predicted at rank 1: must be at least the
    // log of the least frequent term, at most log of corpus size
    assert(row.getAs[Double]("intercept") > 0.0)
  }
}
