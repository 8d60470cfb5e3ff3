package graft

import org.apache.spark.sql.functions._

import graft.operators.{IvfPq, ProductQuant, Similarity}

class IvfPqSpec extends SparkSpec {

  private val N = 10 // cells — matches the registered family

  test("codes table: M codes per row, each in [0, NCode); centroid_id " +
      "matches the IVF index assignment") {
    IvfPq.ensureCodesTable(spark, Sf0001, N)
    val idx = Similarity.ensureIvfIndex(spark, Sf0001, N)
    val asg = spark.table(idx).select("vec_id", "centroid_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = IvfPq.encode(spark, Sf0001, N).collect()
    assert(rows.length == asg.size)
    rows.foreach { r =>
      val codes = r.getSeq[Int](r.fieldIndex("codes"))
      assert(codes.length == ProductQuant.M)
      assert(codes.forall(c => c >= 0 && c < ProductQuant.NCode))
      assert(r.getAs[Long]("centroid_id") == asg(r.getAs[Long]("vec_id")))
    }
  }

  test("encode picks the argmin codeword of the RESIDUAL (lower-id " +
      "tiebreak), not of the raw vector") {
    val cb = IvfPq.loadCodebook(spark, Sf0001, N)
    val idx = Similarity.ensureIvfIndex(spark, Sf0001, N)
    // micro vectors + assignment via the operator's own column expr
    val micro = spark.table(idx)
      .select(col("vec_id"), col("centroid_id"),
        transform(col("embedding"),
          x => round(x.cast("double") * 1e6).cast("long")).as("qi"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toArray))
    // trained centroid micro matrix from the stored cents table (the
    // same requantize the operator's centroidMicro uses)
    val cm = spark.table(s"${idx}_cents")
      .select(col("centroid_id"),
        transform(col("cv"),
          x => round(x.cast("double") * 1e6).cast("long")).as("qm"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    val enc = IvfPq.encode(spark, Sf0001, N).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getSeq[Int](r.fieldIndex("codes"))).toMap
    micro.foreach { case (vid, cell, v) =>
      val res = Array.tabulate(v.length)(i => v(i) - cm(cell)(i))
      (0 until ProductQuant.M).foreach { s =>
        val dists = (0 until ProductQuant.NCode).map { c =>
          (0 until ProductQuant.Dsub).map { sd =>
            val d = res(s * ProductQuant.Dsub + sd) - cb(s)(c)(sd); d * d
          }.sum
        }
        assert(enc(vid)(s) == dists.indexOf(dists.min),
          s"vec $vid s=$s")
      }
    }
  }

  test("batched probe equals the point probe per query") {
    val qids = Seq(3L, 13L)
    val batch = IvfPq.ivfPqBatch(spark, Sf0001, qids, 20, 5, N, 2)
      .collect()
      .groupBy(_.getAs[Long]("q_id"))
      .view.mapValues(_.map(r =>
        (r.getAs[Long]("vec_id"), r.getAs[Long]("adist"),
          r.getAs[Double]("dist"))).toSeq).toMap
    qids.foreach { q =>
      val point = IvfPq.ivfPqScan(spark, Sf0001, q, 20, 5, N, 2)
        .collect().map(r =>
          (r.getAs[Long]("vec_id"), r.getAs[Long]("adist"),
            r.getAs[Double]("dist"))).toSeq
      assert(batch(q) == point, s"q=$q")
    }
  }

  test("scan returns k rows from probed cells only, refine-ordered") {
    val k = 5
    val out = IvfPq.ivfPqScan(spark, Sf0001, 13L, 20, k, N, 2).collect()
    assert(out.length == k)
    val cells = out.map(_.getAs[Long]("centroid_id")).toSet
    assert(cells.size <= 2, s"rows from ${cells.size} cells > nProbe=2")
    val dists = out.map(_.getAs[Double]("dist")).toSeq
    assert(dists == dists.sorted)
    assert(!out.exists(_.getAs[Long]("vec_id") == 13L))
  }

  test("probe statically bucket-prunes the codes table") {
    val codes = IvfPq.ensureCodesTable(spark, Sf0001, N)
    val df = IvfPq.ivfPqScan(spark, Sf0001, 13L, 20, 5, N, 2)
    df.collect()
    val qv = Tables.embeddings(spark, Sf0001).filter("vec_id = 13")
      .selectExpr("CAST(embedding AS array<double>)").head().getSeq[Double](0)
    val want = bucketFileNames(codes, Similarity.probeCells(spark,
      Similarity.ensureIvfIndex(spark, Sf0001, N), qv, 2))
    // the refine joins the IVF index table; the codes files are the
    // probe's
    assert(inputFileNames(df).filter(tableFileNames(codes)) == want)
    assert(want.nonEmpty && want.size < N)
  }

  test("incremental append: delta row is residual-encoded into the " +
      "right bucket and found by the probe at distance 0") {
    import spark.implicits._
    val codes = IvfPq.ensureCodesTable(spark, Sf0001, N)
    val idx = Similarity.ensureIvfIndex(spark, Sf0001, N)
    val before = spark.table(codes).count()
    // a vector equal to vector 3's assigns to the SAME trained cell the
    // index holds vector 3 in (identical input → identical cosine
    // argmin); the exact refine then puts it at dist 0 for query 3
    val v3cell = spark.table(idx).filter($"vec_id" === 3L)
      .head().getAs[Long]("centroid_id")
    val c3 = Tables.embeddings(spark, Sf0001)
      .filter($"vec_id" === 3L).select($"embedding").head()
      .getSeq[Float](0)
    val delta = Seq((900001L, 99)).toDF("vec_id", "label")
      .withColumn("embedding", typedLit(c3))
      .select($"vec_id", $"label", $"embedding")
    try {
      // a production append maintains BOTH index structures: the IVF
      // table (full vectors — the refine source) and the codes table
      Similarity.appendToIvfIndex(spark, Sf0001, N, delta)
      IvfPq.appendToCodes(spark, Sf0001, N, delta)
      assert(spark.table(codes).count() == before + 1)
      // the appended codes generation is no longer attachable by name
      assert(!graft.operators.ScaleOps.attachAll(spark,
        Seq(graft.operators.ScaleOps.AttachSpec(codes, "centroid_id", N))))
      val row = spark.table(codes)
        .filter($"vec_id" === 900001L).head()
      assert(row.getAs[Long]("centroid_id") == v3cell)
      val hits = IvfPq.ivfPqScan(spark, Sf0001, 3L, 20, 5, N, 1)
        .collect()
      assert(hits.head.getAs[Long]("vec_id") == 900001L)
      assert(hits.head.getAs[Double]("dist") == 0.0)
    } finally {
      // ALWAYS drop: a failure must not leave the fake row in the
      // shared tables that later tests would reuse
      spark.sql(s"DROP TABLE IF EXISTS $codes")
      spark.sql(s"DROP TABLE IF EXISTS $idx")
      spark.sql(s"DROP TABLE IF EXISTS ${idx}_cents")
    }
  }

  test("streamed ingest digest equals the batch encoding digest") {
    val streamed = graft.streaming.StreamBridge
      .streamIvfPqCells(spark, Sf0001).collect()
    val batch = IvfPq.cellDigest(IvfPq.encode(spark, Sf0001, N))
      .collect()
    assert(streamed.map(_.toSeq).toSeq == batch.map(_.toSeq).toSeq)
    assert(streamed.map(_.getAs[Long]("n_vecs")).sum ==
      Tables.embeddings(spark, Sf0001).count())
  }

  test("compactStreamedCodes: latest batch wins per vec_id " +
      "(merge-on-read), output is the bucketed codes shape") {
    import org.apache.spark.sql.functions.{col, lit}
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_compact_codes_").toFile.getAbsolutePath
    val table = "graft_test_compact_codes"
    try {
      val base = IvfPq.encode(spark, Sf0001, N)
        .withColumn("batch_id", lit(0L))
      base.write.mode("append").parquet(s"$tmp/codes")
      // batch 1 re-encodes vec_ids < 5 with a sentinel label — the
      // upsert case a re-ingested document produces
      base.filter(col("vec_id") < 5)
        // keep the label dtype identical to batch 0's — appended parquet
        // files must agree on physical types
        .withColumn("label",
          lit(999L).cast(base.schema("label").dataType))
        .withColumn("batch_id", lit(1L))
        .write.mode("append").parquet(s"$tmp/codes")
      IvfPq.compactStreamedCodes(spark, s"$tmp/codes", table, N)
      val compacted = spark.table(table)
      assert(compacted.count() ==
        Tables.embeddings(spark, Sf0001).count())
      val relabeled = compacted.filter(col("vec_id") < 5)
        .select(col("label").cast("long")).collect()
        .map(_.getLong(0)).toSeq
      assert(relabeled.nonEmpty && relabeled.forall(_ == 999L))
      val untouched = compacted.filter(col("vec_id") >= 5)
        .filter(col("label") === 999L).count()
      assert(untouched == 0L)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      graft.sources.ParquetStore.deleteRecursively(
        java.nio.file.Paths.get(tmp))
    }
  }

  test("recall frame: n_exact = k, recall_micro in [0, 1e6], and the " +
      "ADC top-k agrees with a driver-side recompute") {
    val qids = Seq(3L, 7L)
    val k = 5
    val out = IvfPq.ivfPqRecall(spark, Sf0001, qids, k, 20, N, 2)
      .collect()
    assert(out.map(_.getAs[Long]("q_id")).toSeq == qids.sorted)
    out.foreach { r =>
      assert(r.getAs[Long]("n_exact") == k)
      val rm = r.getAs[Long]("recall_micro")
      assert(rm >= 0L && rm <= 1000000L)
      assert(rm == r.getAs[Long]("n_common") * 1000000L / k)
    }
  }
}
