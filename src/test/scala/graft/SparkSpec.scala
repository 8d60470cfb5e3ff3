package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — Spark
  * sessions are expensive; specs must not stop() it). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = buildSession()
    graft.functions.NativeFunctions.registerAll(s)
    s
  }

  private def buildSession(): SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // keep bucketed scans bucketed even under pure-filter plans: one
    // task per bucket (Spark prunes bucket files in non-bucketed scans
    // too); mirrors graft.Bench's settings
    .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    .getOrCreate()
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  val Sf0001 = "/root/testdata/sf0.001"

  /** `body`'s value and the number of Spark jobs it started, counting
    * jobs of threads it forks too (they inherit the job group). A
    * marker job run afterwards flushes the listener bus, so the count
    * is exact, zero included. */
  def jobsFired[A](body: => A): (A, Int) = {
    val (out, jobs) = jobStagesFired(body)
    (out, jobs.size)
  }

  /** [[jobsFired]] with each started job's stages, as their task
    * counts in stage-id order. */
  def jobStagesFired[A](body: => A): (A, Seq[Seq[Int]]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"jobs-fired-${java.util.UUID.randomUUID}"
    val marker = s"$group-marker"
    val fired = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Int]]
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) =>
            fired.add(e.stageInfos.sortBy(_.stageId).map(_.numTasks))
          case Some(`marker`) => flushed.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "jobsFired", interruptOnCancel = false)
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "jobsFired marker", interruptOnCancel = false)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not deliver the marker job")
      import scala.jdk.CollectionConverters._
      (out, fired.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** Names of bucketed catalog table `table`'s data files in the
    * buckets that hold `keys`, each key's bucket computed as a bucketed
    * write assigns it: `pmod(hash(key), numBuckets)`. */
  def bucketFileNames(table: String, keys: Seq[Any]): Set[String] = {
    import org.apache.spark.sql.functions.{hash, lit, pmod}
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    val n = meta.bucketSpec.get.numBuckets
    val ids = keys.map(k => spark.range(1)
      .select(pmod(hash(lit(k)), lit(n))).head().getInt(0)).toSet
    val file = "part-.*_(\\d{5})\\.c\\d{3}.*\\.parquet".r
    val listing = java.nio.file.Files.list(java.nio.file.Paths.get(meta.location))
    try listing.toArray.map(_.toString.split('/').last)
      .collect { case f @ file(id) if ids(id.toInt) => f }.toSet
    finally listing.close()
  }

  /** `body` with `spark.sql.autoBroadcastJoinThreshold` at `v` (`"-1"`
    * turns the driver-held lookups off), restored afterwards. */
  def withBroadcastThreshold[A](v: String)(body: => A): A = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, v)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** File names a frame's scans read. */
  def inputFileNames(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.inputFiles.map(p => new org.apache.hadoop.fs.Path(p).getName).toSet
}
