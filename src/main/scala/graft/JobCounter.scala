package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Exact count of the Spark jobs a block of driver code starts — the
  * record Bench's plan pass and the specs read instead of a hand-kept
  * list of builders that run driver actions. */
object JobCounter {

  /** Local property that tags the counted block's jobs. A property of
    * its own, not the job group: a block that sets its own job group
    * is still counted. */
  private val Key = "graft.jobCounter"

  /** [[stages]]' job count. */
  def count[A](spark: SparkSession)(body: => A): (A, Int) = {
    val (out, jobs) = stages(spark)(body)
    (out, jobs.size)
  }

  /** `body`'s value and the jobs it started, each as its stages' task
    * counts in stage-id order. Jobs of threads `body` forks count too:
    * a thread inherits the caller's local properties when it is
    * created (threads of a pool created earlier do not). Jobs of a
    * nested count are that count's only. A marker job run afterwards
    * flushes the listener bus, so the count is exact, zero included. */
  def stages[A](spark: SparkSession)(body: => A): (A, Seq[Seq[Int]]) = {
    val sc = spark.sparkContext
    val id = s"jobs-${java.util.UUID.randomUUID}"
    val marker = s"$id-marker"
    val fired = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Int]]
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(Key)) match {
          case Some(`id`) =>
            fired.add(e.stageInfos.sortBy(_.stageId).map(_.numTasks))
          case Some(`marker`) => flushed.countDown()
          case _ =>
        }
    }
    val outer = sc.getLocalProperty(Key)
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(Key, id)
      val out = body
      sc.setLocalProperty(Key, marker)
      sc.parallelize(Seq(1), 1).count()
      if (!flushed.await(60, java.util.concurrent.TimeUnit.SECONDS))
        throw new IllegalStateException(
          "listener bus did not deliver the marker job")
      import scala.jdk.CollectionConverters._
      (out, fired.asScala.toSeq)
    } finally {
      sc.setLocalProperty(Key, outer)
      sc.removeSparkListener(listener)
    }
  }
}
