package graft
import org.apache.spark.sql.SparkSession

/** Local-dev timing of a SUBSET of SparkEntry.queries — the per-query
  * iteration loop Bench is too heavy for (Bench times all ~280 entries;
  * plan-tuning one operator needs seconds for THAT operator only).
  * Usage: runMain graft.TimeQuery <sfDir> <name>[,<name>...] [reps]
  * Prints min/median seconds per query after one untimed warm-up rep,
  * mirroring Bench's steady-state convention (build-once tables and
  * memos populate during warm-up, exactly like a serving process). */
object TimeQuery {
  /** Arbitrary conf pins: SPARK_GRAFT_CONF="k=v;k2=v2" (r19 — lets an
    * A/B pin any size-routed policy, e.g. graft.gann.fusedMaxEdgeBytes).
    * Empty segments are skipped; a segment without '=' fails by name. */
  def setConfPins(spark: SparkSession,
      pins: Option[String] = sys.env.get("SPARK_GRAFT_CONF")): Unit =
    pins.foreach(_.split(';')
      .filter(_.trim.nonEmpty).foreach { kv =>
        require(kv.contains("="),
          s"bad SPARK_GRAFT_CONF segment (want k=v): '$kv'")
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k.trim, v.trim)
      })

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val reps = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled",
        "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.NativeFunctions.registerAll(spark)
    // optional route pins for A/B plan timing (scan|index, brute|prefix)
    sys.env.get("SPARK_GRAFT_FTS_ROUTE")
      .foreach(spark.conf.set("graft.fts.route", _))
    sys.env.get("SPARK_GRAFT_PPJOIN_ROUTE")
      .foreach(spark.conf.set("graft.ppjoin.route", _))
    setConfPins(spark)
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      try { fn(spark, sfDir).count() }
      catch { case e: Throwable =>
        println(s"$name WARMUP-FAIL ${e.getMessage}") }
      graft.operators.CacheScope.release(spark)
      spark.catalog.clearCache()
      val ts = (0 until reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val t = (System.nanoTime() - t0) / 1e9
        graft.operators.CacheScope.release(spark)
        spark.catalog.clearCache()
        t
      }.sorted
      println(f"TIMEQ $name%s min=${ts.head}%.3f med=${ts(ts.size / 2)}%.3f")
    }
    spark.stop()
  }
}
