package graft

import java.nio.file.Files

import graft.sources.ParquetStore

/** [[Tables.load]]: a fixture relation's schema is read from a parquet
  * footer on the driver, and equals what Spark's inference reads. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  test("the driver-read schema equals spark.read.parquet's for every " +
      "fixture table, events.ts under nanosAsLong included") {
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    for (dir <- Seq(Sf0001, "/root/testdata/sf0.01"); t <- Tables.All) {
      Tables.invalidateDir(dir)
      val p = s"$dir/$t.parquet"
      assert(Tables.load(spark, dir, t).schema == spark.read.parquet(p).schema,
        s"$dir $t")
    }
  }

  test("after an append, a relation re-loaded past invalidateDir has " +
      "Spark's schema and starts no job") {
    val dir = Files.createTempDirectory("graft-tables").toString
    val docs = s"$dir/documents.parquet"
    val batch = Tables.documents(spark, Sf0001).limit(5)
    ParquetStore.appendIfAbsent(spark, docs, batch, Seq("doc_id"))
    ParquetStore.appendIfAbsent(spark, docs,
      batch.withColumn("doc_id", $"doc_id" + 1000000L), Seq("doc_id"))
    Tables.invalidateDir(dir)
    val (rel, jobs) = jobsFired(Tables.documents(spark, dir))
    assert(jobs == 0)
    assert(rel.schema == spark.read.parquet(docs).schema)
    assert(rel.count() == 10)
    Tables.invalidateDir(dir)
    ParquetStore.deleteRecursively(java.nio.file.Paths.get(dir))
  }
}
