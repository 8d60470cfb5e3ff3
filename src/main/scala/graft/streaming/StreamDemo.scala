package graft.streaming

import org.apache.spark.sql.streaming.Trigger

/** Runnable demonstration of the streaming operators against the events
  * fixture: processes the whole table as one AvailableNow stream and
  * prints the first windowed aggregates plus state counts.
  *
  *   sbt "runMain graft.streaming.StreamDemo /root/testdata/sf0.001"
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Session.create(graft.Session.cpus, graft.Session.cpus)

    val ckpt = java.nio.file.Files.createTempDirectory("demo_ckpt").toString
    val q = EventStreams.windowedCounts(EventStreams.readEvents(spark, dir))
      .writeStream.format("memory").queryName("demo_windows")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val rows = spark.table("demo_windows")
      .orderBy("window_start", "event_type")
    println(s"windowed rows emitted: ${rows.count()}")
    rows.show(10, truncate = false)

    val totals = EventStreams.runningUserTotals(
      spark, EventStreams.readEvents(spark, dir))
    val ckpt2 = java.nio.file.Files.createTempDirectory("demo_ckpt2").toString
    val q2 = totals.toDF().writeStream.format("memory")
      .queryName("demo_totals").outputMode("update")
      .option("checkpointLocation", ckpt2)
      .trigger(Trigger.AvailableNow())
      .start()
    q2.awaitTermination(120000)
    println(s"distinct users tracked: ${spark.table("demo_totals").count()}")
    spark.stop()
  }
}
