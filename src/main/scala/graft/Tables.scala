package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * At 100 TB these would be partitioned/bucketed catalog tables; here they
  * are single parquet files per table. All operators take the scale-factor
  * directory as a parameter so the same code runs at any SF.
  */
object Tables {
  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session-scoped base-relation cache. The fixture tables are
    * immutable for a session's lifetime, so re-resolving a table on
    * EVERY query construction — directory listing + parquet footer
    * schema read — is pure planner overhead paid ~150× per bench run;
    * a real deployment resolves tables once through the catalog. Keyed
    * by (session, path): different sessions and different SF dirs stay
    * isolated, and only the logical relation is reused (no data is
    * cached — execution still scans files; clearCache is unaffected). */
  private val relCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()
  private val hooked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[SparkSession]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // evict this session's memoized relations when its context stops —
    // without this, the strong (session, path) keys pin stopped sessions
    // (and their analyzed plans) for the JVM lifetime
    if (hooked.add(spark)) {
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onApplicationEnd(
              e: org.apache.spark.scheduler.SparkListenerApplicationEnd)
              : Unit = {
            relCache.keySet.removeIf(_._1 eq spark)
            hooked.remove(spark)
          }
        })
    }
    relCache.computeIfAbsent((spark, s"$dir/$name.parquet"),
      k => footerSchema(k._1, k._2)
        .fold(k._1.read.parquet(k._2))(k._1.read.schema(_).parquet(k._2)))
  }

  /** The schema `spark.read.parquet(path)` infers, without its Spark
    * job: the footer of the file Spark's inference picks (a summary
    * file, else the first data file in path order) read on the driver
    * through Spark's own conversion under the session's settings. None
    * when `path` holds no file, so inference raises Spark's error. */
  private def footerSchema(spark: SparkSession,
      path: String): Option[StructType] = {
    import org.apache.parquet.format.converter.ParquetMetadataConverter
    import org.apache.parquet.hadoop.Footer
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
    val files = new InMemoryFileIndex(spark,
        Seq(new org.apache.hadoop.fs.Path(path)), Map.empty, None)
      .allFiles().sortBy(_.getPath.toString)
    val summaries = Seq("_common_metadata", "_metadata")
    summaries.flatMap(n => files.find(_.getPath.getName == n)).headOption
      .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
      .map { f =>
        val meta = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, spark.sessionState.newHadoopConf()),
          ParquetMetadataConverter.SKIP_ROW_GROUPS)
        ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, meta),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
      }
  }

  /** Drop the memoized relation for one parquet path (every session) —
    * the hook for the rare case of a fixture file being REPLACED within
    * a session, where the memoized file listing would otherwise serve
    * stale splits. Immutability is the documented norm; this makes it
    * recoverable rather than assumed. */
  def invalidate(path: String): Unit =
    relCache.keySet.removeIf(_._2 == path)

  /** Drop every memoized relation under a fixture directory. */
  def invalidateDir(dir: String): Unit =
    relCache.keySet.removeIf(_._2.startsWith(dir + "/"))

  def documents(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** Memoized input-split count of a fixture scan (a planning-time
    * probe — no data is read). */
  private val splitCounts =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Int]()

  /** Parallelism floor for COMPUTE-DENSE pipelines (per-char hashing,
    * per-token LMs, k·dim distance loops …): when the scan yields far
    * fewer input splits than the session has cores, round-robin the
    * rows across the cores first. Rationale: Spark sizes splits by
    * BYTES (maxPartitionBytes), which under-parallelizes operators
    * whose cost per byte is orders of magnitude above a scan's — the
    * fixture tables are single-row-group parquet, so every dense
    * operator otherwise runs its whole scan stage on ONE core (the
    * sf-ladder run measured fingerprint_winnow serializing 43 s of
    * hashing on one task at sf1). At warehouse scale a 100 TB table
    * yields thousands of splits, the guard fails, and this is a no-op —
    * the exchange exists exactly when the data is too small for the
    * split planner to spread, i.e. when it costs the least.
    * (The tiny-frame exchange is ~10 ms at fixture scale; explicit
    * numPartitions keeps AQE from re-coalescing it.) */
  private def dense(spark: SparkSession, dir: String,
      name: String): DataFrame = {
    val df = load(spark, dir, name)
    val cores = spark.sparkContext.defaultParallelism
    val parts = splitCounts.computeIfAbsent(
      (spark, s"$dir/$name.parquet"), _ => df.rdd.getNumPartitions)
    if (parts * 4 <= cores) df.repartition(cores) else df
  }

  def documentsDense(spark: SparkSession, dir: String): DataFrame =
    dense(spark, dir, "documents")
  def embeddingsDense(spark: SparkSession, dir: String): DataFrame =
    dense(spark, dir, "embeddings")
  def events(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "events")
  def lineitem(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "customer")
  def part(spark: SparkSession, dir: String): DataFrame       = load(spark, dir, "part")
  def supplier(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "supplier")
  def nation(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "region")

  /** Epoch seconds for an events frame's `ts` column, whichever dtype the
    * driver fixture shipped: BIGINT nanoseconds (legacy nanosAsLong parquet
    * reads) or TIMESTAMP. The single normalization point for batch AND
    * streaming operators — integer `div` on the nanos path avoids
    * double-precision loss at 1.7e18-scale values. */
  def tsSeconds(df: DataFrame): Column = df.schema("ts").dataType match {
    case LongType => expr("ts div 1000000000")
    case _        => unix_timestamp(col("ts")).cast("long")
  }

  /** `ts` as a proper TimestampType event-time column, either dtype —
    * the watermark/window input for the streaming operators. The fixture's
    * TIMESTAMP is parquet NTZ; watermarks require TIMESTAMP (ltz), so the
    * cast reinterprets the wall-clock under the session zone (pinned UTC
    * by every entry point — deterministic). */
  def tsTimestamp(df: DataFrame): Column = df.schema("ts").dataType match {
    case LongType => expr("timestamp_micros(ts div 1000)")
    case _        => col("ts").cast("timestamp")
  }

  /** Register all tables as temp views so spark.sql(...) works. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    All.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
