package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — Spark
  * sessions are expensive; specs must not stop() it). */
object SparkSpec {
  lazy val spark: SparkSession = Session.create(4, 4, Seq(
    "spark.app.name" -> "graft-test",
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString),
    pins = None)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  val Sf0001 = "/root/testdata/sf0.001"

  /** `body`'s value and the number of Spark jobs it started
    * ([[JobCounter.count]]). */
  def jobsFired[A](body: => A): (A, Int) = JobCounter.count(spark)(body)

  /** [[jobsFired]] with each started job's stages, as their task
    * counts in stage-id order. */
  def jobStagesFired[A](body: => A): (A, Seq[Seq[Int]]) =
    JobCounter.stages(spark)(body)

  /** Names of bucketed catalog table `table`'s data files in the
    * buckets that hold `keys`, each key's bucket computed as a bucketed
    * write assigns it: `pmod(hash(key), numBuckets)`. */
  def bucketFileNames(table: String, keys: Seq[Any]): Set[String] = {
    import org.apache.spark.sql.functions.{hash, lit, pmod}
    val n = tableMeta(table).bucketSpec.get.numBuckets
    val ids = keys.map(k => spark.range(1)
      .select(pmod(hash(lit(k)), lit(n))).head().getInt(0)).toSet
    val file = "part-.*_(\\d{5})\\.c\\d{3}.*\\.parquet".r
    tableFileNames(table).collect { case f @ file(id) if ids(id.toInt) => f }
  }

  /** Names of catalog table `table`'s data files. */
  def tableFileNames(table: String): Set[String] = {
    val listing = java.nio.file.Files.list(
      java.nio.file.Paths.get(tableMeta(table).location))
    try listing.toArray.map(_.toString.split('/').last)
      .filter(_.endsWith(".parquet")).toSet
    finally listing.close()
  }

  private def tableMeta(table: String) =
    spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))

  /** `body` with the session settings `kv`, each restored afterwards. */
  def withConf[A](kv: (String, String)*)(body: => A): A = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach { case (k, p) =>
      p.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  /** `body` with `spark.sql.autoBroadcastJoinThreshold` at `v` (`"-1"`
    * turns the driver-held lookups off), restored afterwards. */
  def withBroadcastThreshold[A](v: String)(body: => A): A =
    withConf("spark.sql.autoBroadcastJoinThreshold" -> v)(body)

  /** File names a frame's scans read. */
  def inputFileNames(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.inputFiles.map(p => new org.apache.hadoop.fs.Path(p).getName).toSet
}
