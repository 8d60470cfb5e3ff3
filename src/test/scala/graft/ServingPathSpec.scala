package graft

import org.apache.spark.sql.DataFrame

import graft.operators.{Fts, Hybrid, Relational, Similarity}

/** The serving path's driver-held lookups (query vectors, the FTS term
  * dictionary) and bucket-file probes: both sides of the broadcast
  * bound answer bit-identically, a warm request fires one job whose
  * scan has one task per selected bucket file and compiles no code,
  * request values bound by reference give the same rows interpreted
  * and compiled, and a missing query vector fails by name. */
class ServingPathSpec extends SparkSpec {

  private def result(df: => DataFrame): (String, Seq[Seq[Any]]) = {
    val d = df
    (d.schema.json, d.collect().map(_.toSeq.toList).toSeq)
  }

  /** (lookups off, lookups on) results of `df`. */
  private def bothPaths(df: => DataFrame)
      : ((String, Seq[Seq[Any]]), (String, Seq[Seq[Any]])) =
    (withBroadcastThreshold("-1")(result(df)), result(df))

  test("knnCosine: driver-held query vector is bit-identical to the " +
      "per-request lookup; a missing qid returns no rows on both") {
    for (qid <- Seq(0L, 42L, 499L); threshold <- Seq(0.95, 2.0)) {
      val (off, on) =
        bothPaths(Similarity.knnCosine(spark, Sf0001, qid, 10, threshold))
      assert(on == off, s"qid=$qid threshold=$threshold")
      assert(on._2.nonEmpty)
    }
    val (off, on) =
      bothPaths(Similarity.knnCosine(spark, Sf0001, 999999L, 10, 2.0))
    assert(on == off)
    assert(on._2.isEmpty)
  }

  test("ivfTopK and ivfTopKFiltered are bit-identical on both paths") {
    for (qid <- Seq(0L, 42L, 499L)) {
      val (off, on) =
        bothPaths(Similarity.ivfTopK(spark, Sf0001, qid, 10, 10, 2))
      assert(on == off && on._2.nonEmpty, s"ivfTopK qid=$qid")
      val label = Tables.embeddings(spark, Sf0001)
        .filter(s"vec_id = $qid").select("label").head().getInt(0)
      val (foff, fon) = bothPaths(
        Similarity.ivfTopKFiltered(spark, Sf0001, qid, label, 10, 10, 3))
      assert(fon == foff, s"ivfTopKFiltered qid=$qid")
    }
  }

  test("searchIndexed is bit-identical on both paths and takes the " +
      "same AND route") {
    def route(q: String) = Fts.searchIndexed(spark, Sf0001, q, "en", 10)
      .queryExecution.executedPlan.toString.contains("Join")
    val queries = Seq("hash", "hash join", "hash join merge",
      "hash zzqxabsent")
    for (q <- queries) {
      val (off, on) = bothPaths(Fts.searchIndexed(spark, Sf0001, q, "en", 10))
      assert(on == off, q)
      assert(withBroadcastThreshold("-1")(route(q)) == route(q), q)
    }
    assert(result(Fts.searchIndexed(spark, Sf0001, "hash join", "en", 10))
      ._2.nonEmpty)
    assert(result(Fts.searchIndexed(spark, Sf0001, "hash zzqxabsent",
      "en", 10))._2.isEmpty)
    // both AND routes are exercised: the share pin forces the chain,
    // and the two paths still agree on it
    try {
      spark.conf.set("graft.fts.rarestMaxDfShare", "1.0")
      assert(route("hash join merge"))
      val (off, on) = bothPaths(
        Fts.searchIndexed(spark, Sf0001, "hash join merge", "en", 10))
      assert(on == off && on._2.nonEmpty)
    } finally spark.conf.unset("graft.fts.rarestMaxDfShare")
  }

  test("an in-place rewrite of the embeddings mints a new vector-memo " +
      "entry") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions.{col, lit, transform}
    val dir = Files.createTempDirectory("graft-qv-gen").toString
    val path = s"$dir/embeddings.parquet"
    val src = Tables.embeddings(spark, Sf0001)
    try {
      src.write.parquet(path)
      Tables.embeddings(spark, dir) // schema inference is a job of its own
      val (r1, fill1) = jobsFired(result(
        Similarity.knnCosine(spark, dir, 42L, 10, 2.0)))
      assert(fill1 == 3,
        "first request fills the memo (schema, vectors), then one job")
      // shift every component: new content, different cosines
      src.select(col("vec_id"), col("label"),
          transform(col("embedding"), x => x + lit(0.5f)).as("embedding"))
        .write.mode("overwrite").parquet(path)
      // a request before the relation is invalidated still fills the
      // new generation's entry from the new files
      val (_, fill2) = jobsFired(Similarity.knnCosine(spark, dir, 42L, 10, 2.0))
      assert(fill2 == 2, "the rewritten generation fills a new entry")
      Tables.invalidate(path)
      Tables.embeddings(spark, dir)
      val (r2, warm2) = jobsFired(result(
        Similarity.knnCosine(spark, dir, 42L, 10, 2.0)))
      assert(warm2 == 1)
      assert(r2 != r1)
      assert(r2 == withBroadcastThreshold("-1")(result(
        Similarity.knnCosine(spark, dir, 42L, 10, 2.0))))
      val (_, warm) = jobsFired(result(
        Similarity.knnCosine(spark, dir, 42L, 10, 2.0)))
      assert(warm == 1)
    } finally {
      Tables.invalidate(path)
      graft.sources.ParquetStore.deleteRecursively(
        java.nio.file.Paths.get(dir))
    }
  }

  test("warm requests: ivfTopK is one job with one task per selected " +
      "bucket file, knnCosine one job, multi-term searchIndexed none " +
      "before its action") {
    val idx = Similarity.ensureIvfIndex(spark, Sf0001, 10)
    Similarity.ivfTopK(spark, Sf0001, 42L, 10, 10, 2).collect()
    val (df, jobs) = jobStagesFired {
      val df = Similarity.ivfTopK(spark, Sf0001, 42L, 10, 10, 2)
      df.collect()
      df
    }
    val files = inputFileNames(df)
    assert(files.nonEmpty && files.size < 10)
    assert(jobs == Seq(Seq(files.size)), s"jobs (task counts): $jobs")
    val qv = Tables.embeddings(spark, Sf0001).filter("vec_id = 42")
      .selectExpr("CAST(embedding AS array<double>)").head().getSeq[Double](0)
    assert(files == bucketFileNames(idx,
      Similarity.probeCells(spark, idx, qv, 2)))

    Similarity.knnCosine(spark, Sf0001, 42L, 10, 0.95).collect()
    assert(jobsFired(
      Similarity.knnCosine(spark, Sf0001, 7L, 10, 0.95).collect())._2 == 1)

    Fts.searchIndexed(spark, Sf0001, "hash join", "en", 10)
    for (q <- Seq("sort merge", "hash join merge", "table scan index"))
      assert(jobsFired(Fts.searchIndexed(spark, Sf0001, q, "en", 10))._2 == 0,
        q)
  }

  test("a bucket-file probe selecting more than 32 files is one job " +
      "and no listing; an append is probed at once") {
    import org.apache.spark.sql.functions.col
    import graft.operators.ScaleOps
    import spark.implicits._
    val t = "graft_serving_probe48"
    try {
      ScaleOps.writeBucketed((0L until 480L).map(i => (i, s"v$i")).toDF("k", "v"),
        t, "k", 48)
      val keys = (0L until 480L by 5L).toSeq
      for (pass <- Seq("cold", "warm")) {
        val (df, jobs) = jobStagesFired {
          val df = ScaleOps.bucketProbe(spark, t, keys)
          assert(df.collect().length == keys.size)
          df
        }
        val files = inputFileNames(df)
        assert(files == bucketFileNames(t, keys) && files.size > 32, pass)
        // one scan stage; Spark packs this many small files into fewer
        // tasks than files
        assert(jobs.size == 1 && jobs.head.size == 1 &&
          jobs.head.head <= files.size, s"$pass: jobs (task counts) $jobs")
      }
      ScaleOps.appendInto(Seq((1000L, "new")).toDF("k", "v"), t)
      assert(ScaleOps.bucketProbe(spark, t, Seq(1000L, 5L))
        .orderBy(col("k")).collect().map(_.getLong(0)).toSeq == Seq(5L, 1000L))
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  /** (tasks, files read) of each scan of catalog table `table` that
    * `body` ran and that read some but not all of its files: its probe
    * scans. The scans come from the executed plans of `body`'s actions,
    * and each one's tasks and files from its input RDD's partitions. */
  private def probeScans(table: String)(body: => Unit): Seq[(Int, Int)] = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.datasources.FilePartition
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.jdk.CollectionConverters._
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    // the count's marker job flushes the listener bus
    try jobsFired(body) finally spark.listenerManager.unregister(listener)
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: QueryStageExec => scans(s.plan)
      case f: FileSourceScanExec => Seq(f)
      case m: InMemoryTableScanExec => scans(m.relation.cachedPlan)
      case other => (other.children ++ other.subqueries).flatMap(scans)
    }
    val all = tableFileNames(table)
    plans.asScala.toSeq.flatMap(scans).flatMap { s =>
      val rdd = s.inputRDDs().head
      val files = rdd.partitions.toSeq.flatMap {
        case fp: FilePartition => fp.files.map(_.toPath.getName).toSeq
      }
      Option.when(files.nonEmpty && files.forall(all) &&
        files.size < all.size)((rdd.getNumPartitions, files.size))
    }
  }

  test("warm probes of every module run at most one task per selected " +
      "bucket file and fewer tasks than buckets") {
    import graft.operators.{CacheScope, FuzzySearch, GraphAnn, IvfPq, MultiVector}
    val idx = Fts.ensureIndex(spark, Sf0001)
    val probes: Seq[(String, String, () => Unit)] = Seq(
      ("phrase", idx, () =>
        Fts.phraseSearchIndexed(spark, Sf0001, "hash join", "en", 10)),
      ("boolean", idx, () => Fts.booleanSearchIndexed(spark, Sf0001,
        "(hash | merge) & !sort", "en", 10)),
      ("bm25ScoredIndexed", idx, () =>
        Fts.bm25ScoredIndexed(spark, Sf0001, "hash join", "en")),
      ("searchLangIndexed", Fts.ensureLangIndex(spark, Sf0001, "fr"), () =>
        Fts.searchLangIndexed(spark, Sf0001, "le merge et la table", "fr",
          10)),
      ("fuzzySearch", idx, () => FuzzySearch.fuzzySearch(spark, Sf0001,
        "hashe joim merg", "en", 10, 8)),
      ("ivfPqScan", IvfPq.ensureCodesTable(spark, Sf0001, 10), () =>
        IvfPq.ivfPqScan(spark, Sf0001, 13L, 20, 5, 10, 2)),
      ("beamSearch", GraphAnn.ensureGraphIndex(spark, Sf0001, 8, 4), () =>
        GraphAnn.beamSearch(spark, Sf0001, 42L, 0L, 8, 4, 2, 3, 5)),
      ("maxSimPruned", Similarity.ensureIvfIndex(spark, Sf0001, 10), () =>
        MultiVector.maxSimPruned(spark, Sf0001, 3L, 50, 100L, 10, 10))
    ).map { case (name, t, df) => (name, t, () => {
      df().collect()
      CacheScope.release(spark)
    }) }
    for ((name, table, run) <- probes) {
      run()
      val buckets = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table))
        .bucketSpec.get.numBuckets
      val scans = probeScans(table)(run())
      assert(scans.nonEmpty, s"$name: no probe scan of $table")
      scans.foreach { case (tasks, files) =>
        assert(tasks <= files && tasks < buckets,
          s"$name: $tasks tasks for $files files of $buckets buckets")
      }
    }
  }

  test("a missing query vector fails by name on both paths") {
    for (t <- Seq("-1", "10485760")) withBroadcastThreshold(t) {
      val e = intercept[IllegalArgumentException](
        Similarity.ivfTopK(spark, Sf0001, 999999L, 10, 10, 2))
      assert(e.getMessage.contains("999999") &&
        e.getMessage.contains(Sf0001), e.getMessage)
    }
  }

  /** Classes Spark's code generator compiled (cache misses) in `body`. */
  private def compiles(body: => Unit): Long = {
    import org.apache.spark.metrics.source.CodegenMetrics
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  /** (vec_id, label) of every embedding, by vec_id. */
  private lazy val vectors: IndexedSeq[(Long, Int)] =
    Tables.embeddings(spark, Sf0001).select("vec_id", "label")
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getInt(1)))
      .toIndexedSeq

  private lazy val ivfCells = Similarity.autoNCentroids(vectors.size.toLong)

  test("warm requests compile nothing: 20 distinct requests of each " +
      "serving class add no generated class") {
    import org.apache.spark.sql.functions.{col, count, desc}
    // one or two of the 21 most frequent English terms per query
    val terms = spark.table(Fts.ensureIndex(spark, Sf0001))
      .filter(col("lang") === "en").groupBy("term").agg(count("*").as("df"))
      .orderBy(desc("df"), col("term")).limit(21).collect()
      .map(_.getString(0)).toIndexedSeq
    def text(i: Int) =
      if (i % 2 == 0) terms(i / 2) else s"${terms(i / 2)} ${terms(i / 2 + 1)}"
    def vec(i: Int) = vectors(i * 7)
    val index = Seq("graft.fts.route" -> "index")
    val classes: Seq[(String, Seq[(String, String)], Int => DataFrame)] = Seq(
      ("knnCosine", Nil,
        i => Similarity.knnCosine(spark, Sf0001, vec(i)._1, 10, 0.95)),
      ("ivfTopKAuto", Nil,
        i => Similarity.ivfTopKAuto(spark, Sf0001, vec(i)._1, 10)),
      ("ivfTopKFiltered", Nil, i => Similarity.ivfTopKFiltered(spark,
        Sf0001, vec(i)._1, vec(i)._2, 10, ivfCells, 2)),
      ("rrfSearch (scan route)", Seq("graft.fts.route" -> "scan"),
        i => Hybrid.rrfSearch(spark, Sf0001, text(i), "en", vec(i)._1, 20,
          60, 10)),
      ("rrfSearch (index route)", index,
        i => Hybrid.rrfSearch(spark, Sf0001, text(i), "en", vec(i)._1, 20,
          60, 10)),
      ("searchAuto (index route)", index,
        i => Fts.searchAuto(spark, Sf0001, text(i), "en", 10)),
      ("searchBm25Auto", Nil,
        i => Fts.searchBm25Auto(spark, Sf0001, text(i), "en", 10)),
      ("paginateDocuments", Nil,
        i => Relational.paginateDocuments(spark, Sf0001, 50, 7 * i)))
    val counts = classes.map { case (name, conf, request) =>
      withConf(conf: _*) {
        (0 until 20).foreach(request(_).collect())
        name -> compiles((20 until 40).foreach(request(_).collect()))
      }
    }
    assert(counts.forall(_._2 == 0),
      s"compilations over 20 warm requests: $counts")
  }

  test("vector requests return the same rows interpreted and compiled, " +
      "and two requests in a row return their own rows") {
    val label = vectors.toMap
    val requests: Seq[(String, Long => DataFrame)] = Seq(
      "knnCosine" -> (q => Similarity.knnCosine(spark, Sf0001, q, 10, 2.0)),
      "ivfTopKAuto" -> (q => Similarity.ivfTopKAuto(spark, Sf0001, q, 10)),
      "ivfTopKFiltered" -> (q => Similarity.ivfTopKFiltered(spark, Sf0001,
        q, label(q), 10, ivfCells, 3)),
      "ivfTopKHier" ->
        (q => Similarity.ivfTopKHier(spark, Sf0001, q, 10, 4, 4, 2, 2)),
      "rrfSearch" -> (q =>
        Hybrid.rrfSearch(spark, Sf0001, "hash join", "en", q, 20, 60, 10)))
    val interpreted = Seq("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false")
    val compiled = Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false")
    for ((name, request) <- requests) {
      val want = Seq(0L, 7L, 8L, 499L).map(q =>
        q -> withConf(interpreted: _*)(result(request(q)))).toMap
      for (q <- Seq(0L, 499L))
        assert(withConf(compiled: _*)(result(request(q))) == want(q),
          s"$name qid=$q")
      val (a, b) = withConf(compiled: _*)(
        (result(request(7L)), result(request(8L))))
      assert(a == want(7L) && b == want(8L) && a != b, name)
    }
  }

  test("a bucket probe filters its key list with an InSet and pushes it " +
      "to the scan as In, for numeric and string keys") {
    import graft.operators.GraphAnn
    import graft.operators.ScaleOps.bucketProbe
    // (the plan's filter, the scan's pushed filters)
    def filters(df: DataFrame) = {
      val plan = df.queryExecution.executedPlan.toString
      val pushed = "PushedFilters: \\[(.*?)\\], ReadSchema".r
      (plan.linesIterator.find(_.contains("Filter ")).getOrElse(plan),
        pushed.findFirstMatchIn(plan).map(_.group(1)).getOrElse(plan))
    }
    val (ivf, ivfPushed) =
      filters(Similarity.ivfTopK(spark, Sf0001, 42L, 10, 10, 2))
    assert(ivf.contains("centroid_id") && ivf.contains("INSET"), ivf)
    assert(ivfPushed.contains("In(centroid_id, ["), ivfPushed)
    val edges = GraphAnn.ensureGraphIndex(spark, Sf0001, 8, 4)
    val (graph, graphPushed) = filters(bucketProbe(spark, edges, Seq(1L, 2L)))
    assert(graph.contains("src#") && graph.contains("INSET 1, 2"), graph)
    assert(graphPushed.contains("In(src, [1,2])"), graphPushed)
    val (fts, ftsPushed) = filters(bucketProbe(spark,
      Fts.ensureIndex(spark, Sf0001), Seq("hash", "join")))
    assert(fts.contains("term#") && fts.contains("INSET hash, join"), fts)
    assert(ftsPushed.contains("In(term, [hash,join])"), ftsPushed)
  }
}
