package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{DriverThreads, Fts, Hybrid, Similarity}

class HybridSpec extends SparkSpec {

  /** The former Spark-side fusion: both ranked lists as frames, a full
    * outer join, rrf, then orderBy/limit in the engine. */
  private def sparkSideRrf(query: String, lang: String, qid: Long,
      kEach: Int, kRrf: Int, k: Int): DataFrame = {
    import spark.implicits._
    val fts = Fts.search(spark, Sf0001, query, lang, kEach)
      .select(col("doc_id"), col("score")).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy { case (id, s) => (-s, id) }
      .zipWithIndex
      .map { case ((id, _), i) => (id, i + 1L) }
      .toSeq.toDF("doc_id", "fts_rank")
    val knn = Similarity.knnCosine(spark, Sf0001, qid, kEach, 2.0)
      .select(col("vec_id"), col("dist")).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy { case (id, dist) => (dist, id) }
      .zipWithIndex
      .map { case ((id, _), i) => (id, i + 1L) }
      .toSeq.toDF("vec_id", "knn_rank")
    fts.join(knn, col("doc_id") === col("vec_id"), "full_outer")
      .select(
        coalesce(col("doc_id"), col("vec_id")).as("id"),
        round(
          coalesce(lit(1.0) / (lit(kRrf) + col("fts_rank")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(kRrf) + col("knn_rank")), lit(0.0)),
          6).as("rrf"),
        col("fts_rank"), col("knn_rank"))
      .orderBy(col("rrf").desc, col("id").asc)
      .limit(k)
  }

  test("driver-side fusion equals the Spark-side fusion: rows, order, " +
      "schema; collecting the result fires no job") {
    for (kEach <- Seq(1, 15, 20); k <- Seq(1, 10, 1000);
         (query, qid) <- Seq(("hash join merge", 0L), ("index scan", 42L))) {
      val ctx = s"kEach=$kEach k=$k query='$query' qid=$qid"
      val got = Hybrid.rrfSearch(spark, Sf0001, query, "en", qid, kEach,
        60, k)
      val want = sparkSideRrf(query, "en", qid, kEach, 60, k)
      assert(got.schema == want.schema, ctx)
      val (rows, jobs) = jobsFired(got.collect())
      assert(jobs == 0, s"$ctx: collecting fired $jobs jobs")
      assert(rows.toSeq == want.collect().toSeq, ctx)
    }
  }

  /** The former linearSearch: both normalized lists as frames, a full
    * outer join, the fused score, then orderBy/limit in the engine. */
  private def sparkSideLinear(query: String, lang: String, qid: Long,
      kEach: Int, alpha: Double, k: Int): DataFrame = {
    import spark.implicits._
    def norm6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val fts = Fts.search(spark, Sf0001, query, lang, kEach)
      .select(col("doc_id"), col("score")).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val ftsN = (if (fts.isEmpty) Seq.empty[(Long, Double)]
      else {
        val (fLo, fHi) = (fts.map(_._2).min, fts.map(_._2).max)
        fts.toSeq.map { case (id, s) =>
          (id, if (fHi == fLo) 1.0 else norm6((s - fLo) / (fHi - fLo)))
        }
      }).toDF("doc_id", "fts_n")
    val knn = Similarity.knnCosine(spark, Sf0001, qid, kEach, 2.0)
      .select(col("vec_id"), col("dist")).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val knnN = (if (knn.isEmpty) Seq.empty[(Long, Double)]
      else {
        val (dLo, dHi) = (knn.map(_._2).min, knn.map(_._2).max)
        knn.toSeq.map { case (id, d) =>
          (id, if (dHi == dLo) 1.0 else norm6((dHi - d) / (dHi - dLo)))
        }
      }).toDF("vec_id", "knn_n")
    ftsN.join(knnN, col("doc_id") === col("vec_id"), "full_outer")
      .select(
        coalesce(col("doc_id"), col("vec_id")).as("id"),
        round(lit(alpha) * coalesce(col("fts_n"), lit(0.0)) +
          lit(1.0 - alpha) * coalesce(col("knn_n"), lit(0.0)), 6)
          .as("fused"),
        col("fts_n"), col("knn_n"))
      .orderBy(col("fused").desc, col("id").asc)
      .limit(k)
  }

  test("linear fusion on the driver equals the Spark-side join: rows, " +
      "order, schema, an FTS side matching nothing; collecting fires no " +
      "job") {
    for (kEach <- Seq(1, 20); alpha <- Seq(0.0, 0.3, 1.0);
         k <- Seq(1, 10, 1000);
         (query, qid) <- Seq(("hash join merge", 0L), ("index scan", 42L),
           ("zzqxjv", 7L))) {
      val ctx = s"kEach=$kEach alpha=$alpha k=$k query='$query' qid=$qid"
      val got = Hybrid.linearSearch(spark, Sf0001, query, "en", qid, kEach,
        alpha, k)
      val want = sparkSideLinear(query, "en", qid, kEach, alpha, k)
      assert(got.schema == want.schema, ctx)
      val (rows, jobs) = jobsFired(got.collect())
      assert(jobs == 0, s"$ctx: collecting fired $jobs jobs")
      assert(rows.toSeq == want.collect().toSeq, ctx)
      if (query == "zzqxjv")
        assert(rows.nonEmpty && rows.forall(_.isNullAt(2)), ctx)
    }
  }

  test("an FTS-side failure surfaces as the FTS exception") {
    val e = intercept[IllegalArgumentException](
      Hybrid.rrfSearch(spark, Sf0001, "", "en", 0L, 20, 60, 10))
    assert(e.getMessage.contains("query analyzes to no terms"))
  }

  test("DriverThreads: results in task order, the caller's job group " +
      "on forked threads, first failure thrown with the rest suppressed") {
    val sc = spark.sparkContext
    sc.setJobGroup("driver-threads-spec", "spec", interruptOnCancel = false)
    try {
      val groups = DriverThreads.all(
        () => sc.getLocalProperty("spark.jobGroup.id"),
        () => sc.getLocalProperty("spark.jobGroup.id"),
        () => sc.getLocalProperty("spark.jobGroup.id"))
      assert(groups == Seq.fill(3)("driver-threads-spec"))
    } finally sc.clearJobGroup()
    assert(DriverThreads.all(() => 1, () => 2, () => 3) == Seq(1, 2, 3))
    val e = intercept[IllegalStateException](DriverThreads.all(
      () => 0,
      () => throw new IllegalStateException("second"),
      () => throw new IllegalArgumentException("third")))
    assert(e.getMessage == "second")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("third"))
  }

  test("rrf fuses both lists: docs in both rank above single-list docs of equal rank") {
    val out = Hybrid
      .rrfSearch(spark, Sf0001, "hash join merge", "en", 0L, 20, 60, 50)
      .collect()
    assert(out.nonEmpty)
    // scores strictly follow 1/(60+fr) + 1/(60+vr) with nulls as 0
    out.foreach { r =>
      val fr = Option(r.getAs[java.lang.Long]("fts_rank")).map(_.toLong)
      val vr = Option(r.getAs[java.lang.Long]("knn_rank")).map(_.toLong)
      val expected =
        fr.map(x => 1.0 / (60 + x)).getOrElse(0.0) +
          vr.map(x => 1.0 / (60 + x)).getOrElse(0.0)
      assert(math.abs(r.getAs[Double]("rrf") -
        math.rint(expected * 1e6) / 1e6) < 1e-9)
      assert(fr.isDefined || vr.isDefined)
    }
    // output is sorted by (rrf desc, id asc)
    val keys = out.map(r => (-r.getAs[Double]("rrf"), r.getAs[Long]("id")))
    assert(keys.sameElements(keys.sorted))
  }

  test("rrf membership equals the union of the two top-k lists") {
    val kEach = 15
    val fts = Fts.search(spark, Sf0001, "hash join merge", "en", kEach)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val knn = Similarity.knnCosine(spark, Sf0001, 0L, kEach, 2.0)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val fused = Hybrid
      .rrfSearch(spark, Sf0001, "hash join merge", "en", 0L, kEach, 60, 1000)
      .collect().map(_.getAs[Long]("id")).toSet
    assert(fused == (fts ++ knn))
  }

  test("a doc present in both lists outscores one present in a single list at the same ranks") {
    val out = Hybrid
      .rrfSearch(spark, Sf0001, "hash join merge", "en", 0L, 20, 60, 1000)
      .collect()
    val both = out.filter(r =>
      r.getAs[java.lang.Long]("fts_rank") != null &&
        r.getAs[java.lang.Long]("knn_rank") != null)
    val single = out.filter(r =>
      r.getAs[java.lang.Long]("fts_rank") == null ||
        r.getAs[java.lang.Long]("knn_rank") == null)
    if (both.nonEmpty && single.nonEmpty) {
      // any doc in both lists beats any doc whose single rank is >= its worse rank
      val b = both.head
      val worse = math.max(b.getAs[Long]("fts_rank"), b.getAs[Long]("knn_rank"))
      single.filter { s =>
        val r = Option(s.getAs[java.lang.Long]("fts_rank"))
          .getOrElse(s.getAs[java.lang.Long]("knn_rank")).toLong
        r >= worse
      }.foreach(s =>
        assert(b.getAs[Double]("rrf") > s.getAs[Double]("rrf")))
    }
  }
}
