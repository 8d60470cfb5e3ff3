package graft

import org.apache.spark.sql.SparkSession

/** The one session factory of the driver mains (Bench, Verify,
  * TimeQuery, PlanCheck, ScaleLadder, ScaleUp, SkewStress, StreamDemo)
  * and of the test suite. The settings every session shares are
  * written here once; a main chooses only its core count and shuffle
  * partitions. */
object Session {

  /** Local cores: `SPARK_GRAFT_CPUS`, or 4 (the dev host's count). */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt)

  /** Loggers dropped to ERROR: repeated, lint-documented warnings that
    * would otherwise fill the 2000-char stdout tail the bench contract
    * line has to fit in. */
  private val QuietLoggers = Seq(
    // the remaining no-partition windows are all bounded cases on the
    // PlanLintSpec allowlist
    "org.apache.spark.sql.execution.window.WindowExec",
    // the streaming bridges' per-run pair (watermark disabled, AQE not
    // supported in stateful plans) and the state stores' maintenance
    // note; Spark 4.1 moved the micro-batch runtime under .runtime
    "org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution",
    "org.apache.spark.sql.execution.streaming.runtime.ResolveWriteToStream",
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    // "Asked to cache already cached data": CacheScope.cached is
    // idempotent across reps by design
    "org.apache.spark.sql.execution.CacheManager",
    // "Assume no metadata directory": the bridges read plain parquet
    // fixtures, never a FileStreamSink-written directory
    "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink",
    // "Failed to cancel job group": cancelJobGroup on cleanup is
    // idempotent whether or not the group still has active jobs
    "org.apache.spark.scheduler.DAGScheduler")

  /** Conf pins `"k=v;k2=v2"` (the `SPARK_GRAFT_CONF` format) as pairs.
    * Empty segments are skipped; a segment without '=' fails by name. */
  def confPins(pins: Option[String]): Seq[(String, String)] =
    pins.toSeq.flatMap(_.split(';')).filter(_.trim.nonEmpty).map { kv =>
      require(kv.contains("="),
        s"bad SPARK_GRAFT_CONF segment (want k=v): '$kv'")
      val Array(k, v) = kv.split("=", 2)
      k.trim -> v.trim
    }

  /** A `local[cpus]` session with the shared settings, then `conf`,
    * then the `pins` (`SPARK_GRAFT_CONF` by default), each later
    * setting overriding an earlier one; native functions registered and
    * the quiet loggers applied. */
  def create(cpus: Int, shufflePartitions: Int,
      conf: Seq[(String, String)] = Nil,
      pins: Option[String] = sys.env.get("SPARK_GRAFT_CONF")): SparkSession = {
    val shared = Seq(
      "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      // events.parquet has TIMESTAMP(NANOS), which Spark 4 otherwise
      // rejects; read as long nanos (Tables.tsSeconds normalizes)
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      // keep bucketed scans bucketed under pure-filter plans. No index
      // probe relies on it (probes read their bucket files through
      // ScaleOps.bucketProbe); it stays because the svcbench session
      // sets the same value, and the two must plan alike
      "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false")
    val builder = SparkSession.builder().master(s"local[$cpus]")
    (shared ++ conf ++ confPins(pins)).foreach { case (k, v) =>
      builder.config(k, v)
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    QuietLoggers.foreach(l =>
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        l, org.apache.logging.log4j.Level.ERROR))
    graft.functions.NativeFunctions.registerAll(spark)
    spark
  }
}
