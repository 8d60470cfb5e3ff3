package graft

import org.apache.spark.sql.functions._

import graft.operators.{GraphAnn, Similarity}

class GraphAnnSpec extends SparkSpec {

  test("graph build: out-degree bounded by M, no self-loops") {
    val t = GraphAnn.ensureGraphIndex(spark, Sf0001, 10, 12)
    val deg = spark.table(t).groupBy("src")
      .agg(count(lit(1)).as("d")).agg(max("d")).head().getLong(0)
    assert(deg <= 12L)
    assert(spark.table(t).filter(col("src") === col("dst")).count() == 0L)
  }

  test("an edge to a vec_id with no embeddings row fails by name") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-gann-stale")
    val path = s"$dir/embeddings.parquet"
    try {
      Tables.embeddings(spark, Sf0001).write.parquet(path)
      val t = GraphAnn.ensureGraphIndex(spark, dir.toString, 8, 6)
      // a stale edges table: every node also points at a missing vector
      spark.table(t).select("src").distinct().as[Long].collect().toSeq
        .map(src => (src, 9999999L, 0.0)).toDF("src", "dst", "dist")
        .write.insertInto(t)
      val e = intercept[IllegalArgumentException](GraphAnn.beamSearch(
        spark, dir.toString, 42L, 0L, 8, 6, 4, 3, 5))
      assert(e.getMessage.contains("vec_id 9999999") &&
        e.getMessage.contains(t))
    } finally {
      Tables.invalidate(path)
      graft.sources.ParquetStore.deleteRecursively(dir)
    }
  }

  test("beam walk recalls most of the exact top-10 from a far entry") {
    val exact = Similarity.knnCosine(spark, Sf0001, 42L, 10, 2.0)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val walk = GraphAnn.beamSearch(spark, Sf0001, 42L, 0L, 10, 12, 16, 4, 10)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    // measured 8/10 on the fixture at M=12, B=16, R=4 — near-orthogonal
    // random vectors are the hard case for graph navigability, and the
    // walk still finds the neighborhood from an arbitrary entry
    assert((exact & walk).size >= 6, s"recall ${(exact & walk).size}/10")
  }

  test("wider beam and more rounds never lose recall on the fixture") {
    val exact = Similarity.knnCosine(spark, Sf0001, 42L, 10, 2.0)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val narrow = GraphAnn.beamSearch(spark, Sf0001, 42L, 0L, 10, 12, 8, 2, 10)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val wide = GraphAnn.beamSearch(spark, Sf0001, 42L, 0L, 10, 12, 24, 6, 10)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert((exact & wide).size >= (exact & narrow).size)
  }

  test("fused two-hop rounds return exactly the classic per-round " +
      "walk's rows (r19: three pruned jobs per two rounds)") {
    // inline reference: the r18 one-job-per-round loop (frontier-
    // pruned edge scan -> distinct unseen dsts -> score), kept here
    // verbatim so the fused replay is pinned against the naive shape
    // forever — the ClassifierShapeSpec discipline
    def classicWalk(qid: Long, entry: Long, beam: Int,
        rounds: Int, k: Int): Seq[List[Any]] = {
      val edgesT = GraphAnn.ensureGraphIndex(spark, Sf0001, 10, 12)
      val emb = graft.Tables.embeddings(spark, Sf0001)
      val q = emb.filter(col("vec_id") === lit(qid))
        .select(col("embedding").cast("array<double>").as("qv"),
          Similarity.norm(col("embedding")).as("qn"))
      def distOf(ids: org.apache.spark.sql.DataFrame) =
        ids.join(emb.select(col("vec_id"), col("embedding")), "vec_id")
          .crossJoin(broadcast(q))
          .select(col("vec_id"),
            round(lit(1.0) - Similarity.dot(col("embedding"), col("qv"))
              / (Similarity.norm(col("embedding")) * col("qn")), 6)
              .as("dist"))
          .collect().map(r => (r.getLong(0), r.getDouble(1)))
      import spark.implicits._
      var scored = distOf(Seq(entry).toDF("vec_id")).toMap
      var r = 0
      while (r < rounds) {
        val frontier = scored.toSeq
          .sortBy { case (id, d) => (d, id) }.take(beam).map(_._1)
        val known = scored.keySet
        val fresh = distOf(spark.table(edgesT)
          .filter(col("src").isin(frontier.map(Long.box): _*))
          .select(col("dst").as("vec_id")).distinct()
          .filter(!col("vec_id").isin(known.toSeq.map(Long.box): _*)))
        if (fresh.isEmpty) r = rounds
        else { scored ++= fresh; r += 1 }
      }
      val topIds = scored.toSeq.filter(_._1 != qid)
        .sortBy { case (id, d) => (d, id) }.take(k).map(_._1)
      emb.filter(col("vec_id").isin(topIds.map(Long.box): _*))
        .crossJoin(broadcast(q))
        .select(col("vec_id"), col("label"),
          round(lit(1.0) - Similarity.dot(col("embedding"), col("qv"))
            / (Similarity.norm(col("embedding")) * col("qn")), 6)
            .as("dist"))
        .orderBy(col("dist").asc, col("vec_id").asc)
        .collect().map(_.toSeq.toList).toSeq
    }
    // grid covers: even rounds (pure fused pairs), odd rounds
    // (trailing single round), single round, narrow and wide beams
    for ((beam, rounds) <- Seq((2, 2), (3, 3), (16, 4), (4, 1), (8, 5))) {
      val classic = classicWalk(42L, 0L, beam, rounds, 10)
      val fused = GraphAnn.beamSearch(spark, Sf0001, 42L, 0L, 10, 12,
        beam, rounds, 10).collect().map(_.toSeq.toList).toSeq
      assert(fused == classic && classic.nonEmpty,
        s"fused != classic at beam=$beam rounds=$rounds")
    }
  }

  test("walk output is deterministic and ranked") {
    val a = GraphAnn.beamSearch(spark, Sf0001, 42L, 0L, 10, 12, 16, 4, 10)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("dist")))
    val b = GraphAnn.beamSearch(spark, Sf0001, 42L, 0L, 10, 12, 16, 4, 10)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("dist")))
    assert(a.sameElements(b))
    val dists = a.map(_._2)
    assert(dists.sameElements(dists.sorted))
  }
}
