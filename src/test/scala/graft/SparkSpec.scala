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
    // keep bucketed scans bucketed even under pure-filter plans, so
    // index probes (Similarity.ivfTopK) get static bucket pruning
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
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"jobs-fired-${java.util.UUID.randomUUID}"
    val marker = s"$group-marker"
    val fired = new java.util.concurrent.atomic.AtomicInteger
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => fired.incrementAndGet()
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
      (out, fired.get)
    } finally sc.removeSparkListener(listener)
  }
}
