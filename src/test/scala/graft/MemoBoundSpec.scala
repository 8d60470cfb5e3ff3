package graft

import graft.operators.{DriverMemo, Fts, Similarity}

/** Proves the driver-memo discipline (r17 verdict #2): per-query
  * driver state stays BOUNDED under an unbounded stream of distinct
  * queries, generation flips replace instead of accumulate, and
  * alternating generations do not evict each other (r17 ADVICE,
  * probeMemo alternation).
  */
class MemoBoundSpec extends SparkSpec {

  test("a long stream of distinct keys leaves at most maxEntries live") {
    val memo = new DriverMemo[Int, Int](32)
    var computes = 0
    (0 until 10000).foreach { i =>
      memo.getOrCompute(i, "gen0") { computes += 1; i * 2 }
    }
    assert(memo.size == 32)
    assert(computes == 10000)
    // the most recent keys are the live ones (access-ordered LRU)
    var hits = 0
    (9968 until 10000).foreach { i =>
      memo.getOrCompute(i, "gen0") { hits -= 1000000; 0 }
    }
    assert(hits == 0, "recent keys must be served from the memo")
  }

  test("generation mismatch replaces in place; alternation keeps both") {
    val memo = new DriverMemo[String, Int](8)
    assert(memo.getOrCompute("q", "genA") { 1 } == 1)
    // stale-generation hit recomputes and REPLACES (no growth)
    assert(memo.getOrCompute("q", "genB") { 2 } == 2)
    assert(memo.size == 1)
    assert(memo.getOrCompute("q", "genB") { -1 } == 2)
    // generation-bearing keys (the index-name-in-key pattern) keep two
    // alternating fixtures live simultaneously — neither evicts the
    // other on a ping-pong access pattern
    var recomputes = 0
    (0 until 6).foreach { i =>
      val gen = if (i % 2 == 0) "idxA" else "idxB"
      memo.getOrCompute((gen, "terms").toString, gen) { recomputes += 1; i }
    }
    assert(recomputes == 2, "ping-pong between two generations must " +
      "compute once per generation, not once per call")
  }

  test("Fts df probe memo is wired through the bounded memo") {
    val idx = Fts.ensureIndex(spark, Sf0001)
    // a handful of real (tiny) statistics jobs through the memo — the
    // BOUND itself is proven by the unit tests above against the same
    // DriverMemo class; this pins that termDfs actually rides it.
    // With the broadcast bound off, the term dictionary stands aside
    // and every df lookup is the per-query probe.
    val vocab = Seq("hash", "join", "merge", "sort", "scan", "index",
      "table", "query")
    val pairs = for (a <- vocab; b <- vocab if a < b) yield Seq(a, b)
    withBroadcastThreshold("-1") {
      pairs.foreach(ts => Fts.termDfs(spark, idx, ts, "en"))
      assert(Fts.dfProbeMemoSize <= 256,
        s"df memo must stay bounded, got ${Fts.dfProbeMemoSize}")
      // repeats of recent queries hit the memo — size must not grow
      val before = Fts.dfProbeMemoSize
      pairs.take(5).foreach(ts => Fts.termDfs(spark, idx, ts, "en"))
      assert(Fts.dfProbeMemoSize == before)
    }
    // within the bound the dictionary answers the same dfs
    for (ts <- pairs.take(5))
      assert(Fts.termDfs(spark, idx, ts, "en") ==
        withBroadcastThreshold("-1")(Fts.termDfs(spark, idx, ts, "en")))
  }

  test("query-vector and term-dictionary memos stay bounded across " +
      "generations") {
    import java.nio.file.Files
    import spark.implicits._
    val dirs = (0 until 6).map(_ =>
      Files.createTempDirectory("graft-memo-gen").toString)
    val tables = (0 until 6).map(i => s"graft_memo_dict_t$i")
    try {
      dirs.zipWithIndex.foreach { case (dir, i) =>
        // six distinct corpora: six generations of each lookup
        Seq((1L, 0, Seq(1.0f, i.toFloat)), (2L, 0, Seq(0.0f, 1.0f)))
          .toDF("vec_id", "label", "embedding")
          .write.parquet(s"$dir/embeddings.parquet")
        assert(Similarity.knnCosine(spark, dir, 1L, 5, 2.0).count() == 1)
        graft.operators.ScaleOps.writeBucketed(
          Seq((1L, "en", s"term$i", 1L, Seq(0))).toDF(
            "doc_id", "lang", "term", "tf", "positions"),
          tables(i), "term", 32)
        assert(Fts.termDfs(spark, tables(i), Seq(s"term$i"), "en") ==
          Map(s"term$i" -> 1L))
        assert(Similarity.vectorMemoSize <= 4,
          s"vector memo must stay bounded, got ${Similarity.vectorMemoSize}")
        assert(Fts.termDictMemoSize <= 4,
          s"term dictionary must stay bounded, got ${Fts.termDictMemoSize}")
      }
      assert(Similarity.vectorMemoSize == 4 && Fts.termDictMemoSize == 4)
    } finally {
      tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      dirs.foreach(d => {
        Tables.invalidateDir(d)
        graft.sources.ParquetStore.deleteRecursively(java.nio.file.Paths.get(d))
      })
    }
  }

  test("IVF centroid memo holds one entry per index, not per query") {
    val idx = Similarity.ensureIvfIndex(spark, Sf0001, 10)
    val vecs = Tables.embeddings(spark, Sf0001)
      .select(org.apache.spark.sql.functions.col("embedding")
        .cast("array<double>"))
      .limit(200).collect().map(_.getSeq[Double](0))
    Similarity.probeCells(spark, idx, vecs.head, 2)
    val before = Similarity.centroidMemoSize
    // 200 distinct query vectors probe the same index generation
    vecs.foreach(qv => Similarity.probeCells(spark, idx, qv, 2))
    assert(Similarity.centroidMemoSize == before)
    assert(Similarity.centroidMemoSize <= 16,
      s"centroid memo must stay bounded, got ${Similarity.centroidMemoSize}")
  }
}
