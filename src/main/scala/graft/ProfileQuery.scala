package graft

import org.apache.spark.sql.SparkSession

/** Times one query repeatedly under a chosen shuffle-partition count —
  * the micro-profiling loop behind Bench tuning.
  *
  *   sbt "runMain graft.ProfileQuery dedup_shingles 8 3"
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val parts = if (args.length > 1) args(1) else "32"
    val reps = if (args.length > 2) args(2).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // same scan regime as Verify/Bench: keep bucketed scans bucketed
      // (one task per bucket; bucket files are pruned either way)
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.NativeFunctions.registerAll(spark)
    TimeQuery.setConfPins(spark)
    val fn = SparkEntry.queries(name)
    // SPARK_GRAFT_EXPLAIN=1: dump the formatted physical plan once
    // (after any builder-side ensure calls) before the timed reps
    if (sys.env.get("SPARK_GRAFT_EXPLAIN").contains("1"))
      fn(spark, sfDir).explain("formatted")
    (0 until reps).foreach { i =>
      spark.sparkContext.setJobGroup(s"prof_$i", name,
        interruptOnCancel = false)
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.clearJobGroup()
      val jobs = spark.sparkContext.statusTracker
        .getJobIdsForGroup(s"prof_$i").length
      println(f"[$name parts=$parts rep=$i] $dt%.2fs rows=$n jobs=$jobs")
    }
    spark.stop()
  }
}
