package graft

import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

import graft.operators.Embeddings

class EmbeddingsSpec extends SparkSpec {

  test("pipeline produces L2-normalized vectors of the configured dimension") {
    val emb = Embeddings.embedDocuments(spark, Sf0001, dim = 128)
    val vecs = emb.limit(20).collect().map(_.getAs[Vector]("embedding"))
    assert(vecs.nonEmpty)
    vecs.foreach { v =>
      assert(v.size == 128)
      val norm = math.sqrt(v.toArray.map(x => x * x).sum)
      assert(math.abs(norm - 1.0) < 1e-6 || norm == 0.0)
    }
  }

  test("embedding generation is deterministic") {
    val a = Embeddings.embedDocuments(spark, Sf0001, dim = 64)
      .orderBy("doc_id").limit(5).collect()
      .map(_.getAs[Vector]("embedding").toArray.toSeq)
    val b = Embeddings.embedDocuments(spark, Sf0001, dim = 64)
      .orderBy("doc_id").limit(5).collect()
      .map(_.getAs[Vector]("embedding").toArray.toSeq)
    assert(a.toSeq == b.toSeq)
  }

  test("ANN candidates agree with exact top-k on the nearest neighbors") {
    val exact = Embeddings.exactSearch(spark, Sf0001, 0L, 10)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val ann = Embeddings.annSearch(spark, Sf0001, 0L, 10)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    // LSH is approximate: require meaningful recall, not equality
    assert(ann.intersect(exact).size >= 5,
      s"recall too low: ${ann.intersect(exact).size}/10")
  }

  test("ANN distances are sorted and self is excluded") {
    val rows = Embeddings.annSearch(spark, Sf0001, 0L, 10).collect()
    assert(!rows.map(_.getAs[Long]("doc_id")).contains(0L))
    val dists = rows.map(_.getAs[Double]("dist"))
    assert(dists.sameElements(dists.sorted))
  }

  test("the hashed-embedding index lives outside the warehouse, with no " +
      "attach marker, and is not attachable") {
    Embeddings.ensureEmbIndex(spark, Sf0001, 32)
    val name = Embeddings.embIndexName(Sf0001, 32)
    val loc = java.nio.file.Paths.get(spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(name))
      .location)
    val warehouse = java.nio.file.Paths.get(new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath)
    assert(!loc.startsWith(warehouse), s"$loc is under the warehouse")
    val files = java.nio.file.Files.walk(loc)
    try assert(!files.iterator().asScala.exists(
      _.getFileName.toString == "_GRAFT_ATTACH"))
    finally files.close()
    assert(!graft.operators.ScaleOps.attachAll(spark,
      Seq(graft.operators.ScaleOps.AttachSpec(name, "doc_id", 8))))
  }

  test("an in-place fixture regeneration refits: the index carries a " +
      "fresh fit's embeddings, not the old corpus's") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft-emb-gen").toString
    val path = s"$dir/documents.parquet"
    val src = Tables.documents(spark, Sf0001)
    def vectors(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Double]] =
      df.select("doc_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getAs[Vector](1).toArray.toSeq).toMap
    try {
      src.write.parquet(path)
      val (_, idx1) = Embeddings.ensureEmbIndex(spark, dir, 64)
      assert(vectors(idx1) ==
        vectors(Embeddings.embedDocuments(spark, dir, 64)))
      // rewrite in place: half the corpus, so every idf weight moves
      src.filter(col("doc_id") % 2 === 0)
        .write.mode("overwrite").parquet(path)
      Tables.invalidate(path)
      val (_, idx2) = Embeddings.ensureEmbIndex(spark, dir, 64)
      val fresh = vectors(Embeddings.embedDocuments(spark, dir, 64))
      assert(vectors(idx2) == fresh,
        "the index was built with the previous corpus's fit")
      assert(fresh != vectors(idx1).filter { case (id, _) => id % 2 == 0 })
    } finally {
      Tables.invalidate(path)
      graft.sources.ParquetStore.deleteRecursively(
        java.nio.file.Paths.get(dir))
    }
  }
}
