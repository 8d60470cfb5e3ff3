package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.hadoop.fs.{FileStatus, Path}
import scala.jdk.CollectionConverters._

/** Cluster-scale physical-layout utilities: bucketed co-located joins and
  * skew salting. These are the concrete mechanisms behind the README's
  * 100 TB claims — demonstrated and plan-asserted in ScaleOpsSpec.
  */
object ScaleOps {

  /** 20-hex-char name key of `s`: 10 MD5 bytes (80 bits). A 32-bit
    * truncation has a real birthday-collision chance across the
    * generations one warehouse holds, and a collision silently serves
    * another input's table under the colliding name. The one digest of
    * every generation and cache-table name. */
  def digest(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).take(10).map("%02x".format(_)).mkString

  /** Stable key for a corpus directory — the shared naming scheme for
    * every per-corpus derived artifact (index tables, fixtures). One
    * definition so they can never drift apart. */
  def dirHash(dir: String): String = digest(dir)

  /** Content fingerprint of one fixture table under `dir`: a digest
    * over the path plus every data file's (name, size, mtime), so a
    * fixture regenerated in place (ScaleUp overwrites its out dir)
    * names new generations instead of serving the stale ones. Handles
    * both fixture layouts: single file `<t>.parquet` and Spark-written
    * directories. */
  def contentHash(dir: String, table: String): String = {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val p = Paths.get(dir, s"$table.parquet")
    val files: Seq[Path] =
      if (Files.isDirectory(p)) {
        // close the listing stream deterministically: this runs once per
        // index-name lookup per query, and a leaked directory fd per call
        // exhausts the fd table over a long bench sweep
        val listing = Files.list(p)
        try
          listing.iterator().asScala.toSeq
            .filter(f => f.getFileName.toString.endsWith(".parquet"))
            .sortBy(_.getFileName.toString)
        finally listing.close()
      } else if (Files.exists(p)) Seq(p)
      else Seq.empty
    val sig = files.map(f =>
      s"${f.getFileName}:${Files.size(f)}:" +
        s"${Files.getLastModifiedTime(f).toMillis}").mkString("|")
    digest(s"$dir|$sig")
  }

  /** Driver-side size in bytes of one fixture table under `dir` —
    * metadata only (no Spark job), the cheap corpus-size signal
    * routing policies key on (Fts.routeToIndex). Handles both fixture
    * layouts like [[contentHash]]. */
  def tableBytes(dir: String, table: String): Long = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val p = Paths.get(dir, s"$table.parquet")
    if (Files.isDirectory(p)) {
      val listing = Files.list(p)
      try
        listing.iterator().asScala
          .filter(f => f.getFileName.toString.endsWith(".parquet"))
          .map(Files.size(_)).sum
      finally listing.close()
    } else if (Files.exists(p)) Files.size(p)
    else 0L
  }

  /** Driver-side on-disk bytes of a persisted warehouse table —
    * metadata only (no Spark job), the [[tableBytes]] analog for
    * catalog tables: the cheap size signal routing policies key on
    * (nbConfusion's broadcast-vs-shuffle model join). 0 if absent. */
  def warehouseTableBytes(spark: SparkSession, table: String): Long = {
    import scala.jdk.CollectionConverters._
    val loc = tableLocation(spark, table)
    if (!java.nio.file.Files.isDirectory(loc)) 0L
    else {
      val s = java.nio.file.Files.walk(loc)
      try s.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .map(java.nio.file.Files.size(_)).sum
      finally s.close()
    }
  }

  // --- Serving-path probes ----------------------------------------------

  /** The size test of every driver-held lookup: true iff a relation of
    * `bytes` on-disk bytes is within the session's
    * `spark.sql.autoBroadcastJoinThreshold` — Spark's own bound for a
    * relation it will hold whole (`-1` turns the lookups off). Above it
    * the caller keeps its per-request job. The lookups share the join
    * setting's meaning: raising it for joins also admits larger
    * lookups, each held in up to 4 memo entries per kind, and a
    * lookup's heap footprint is a multiple of its compressed on-disk
    * bytes (the query vectors' `double`s are twice their stored
    * `float`s, before per-entry overhead). */
  def withinBroadcastBound(spark: SparkSession, bytes: Long): Boolean = {
    val bound = spark.sessionState.conf.autoBroadcastJoinThreshold
    bound >= 0 && bytes <= bound
  }

  /** A bucketed catalog table as [[bucketProbe]] reads it: schema,
    * bucket key, bucket count and data files by bucket id. */
  private case class BucketFiles(schema: StructType, key: String, n: Int,
      byBucket: Map[Int, Seq[FileStatus]])

  /** [[BucketFiles]] per (warehouse, table), listed once per table
    * generation: every write of a persisted table goes through
    * [[rewrite]] or [[appendInto]], and both drop the table's entry
    * once their files are committed. Like the catalog's own cached
    * relation, it does not see another JVM rewriting the table. */
  private val bucketFilesMemo =
    new DriverMemo[(String, String), BucketFiles](32)

  private def bucketFilesKey(spark: SparkSession,
      table: String): (String, String) =
    (spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)

  private def bucketFiles(spark: SparkSession, table: String): BucketFiles =
    bucketFilesMemo.getOrCompute(bucketFilesKey(spark, table), "") {
      import org.apache.spark.sql.catalyst.TableIdentifier
      import org.apache.spark.sql.execution.datasources.BucketingUtils
      val meta = spark.sessionState.catalog
        .getTableMetadata(TableIdentifier(table))
      val (key, n) = meta.bucketSpec match {
        case Some(b) if b.bucketColumnNames.size == 1 =>
          (b.bucketColumnNames.head, b.numBuckets)
        case other => throw new IllegalArgumentException(
          s"$table is not bucketed on one column: $other")
      }
      val loc = new Path(meta.location)
      val files = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(loc).toSeq
        .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
          !f.getPath.getName.startsWith("."))
        .flatMap(f => BucketingUtils.getBucketId(f.getPath.getName).map(_ -> f))
      BucketFiles(meta.schema, key, n, files.groupMap(_._1)(_._2))
    }

  /** Bucketed catalog table `table` restricted to the bucket files that
    * hold `values` of its bucket key, with the `key IN values` filter
    * kept. Bucket ids come from Spark's own hash
    * (`BucketingUtils.getBucketIdFromValue`), the key and bucket count
    * from the catalog's bucket spec — the file pruning Spark applies to
    * a non-bucketed scan of a bucketed table. The selected files are
    * read as a plain parquet relation, so a probe of 2 of 8 buckets
    * schedules one task per selected file instead of one per bucket.
    * The file listing is [[bucketFiles]]' memoized one, so a request
    * makes no file-system call and fires no listing job, however many
    * files it selects. */
  def bucketProbe(spark: SparkSession, table: String,
      values: Seq[Any]): DataFrame = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Cast, InSet, Literal}
    import org.apache.spark.sql.execution.datasources.{BucketingUtils, FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val b = bucketFiles(spark, table)
    val keyAttr = AttributeReference(b.key, b.schema(b.key).dataType)()
    val keys = values.map(v => Cast(Literal(v), keyAttr.dataType).eval())
    val files = keys.map(BucketingUtils.getBucketIdFromValue(keyAttr, b.n, _))
      .distinct.flatMap(b.byBucket.getOrElse(_, Nil)).sortBy(_.getPath.getName)
    // the index "lists" each selected file from the memoized statuses
    val listed = new FileStatusCache {
      private val byPath = files.map(f => f.getPath -> Array(f)).toMap
      override def getLeafFiles(p: Path): Option[Array[FileStatus]] =
        byPath.get(p)
      override def putLeafFiles(p: Path, fs: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val index = new InMemoryFileIndex(spark, files.map(_.getPath), Map.empty,
      Some(b.schema), listed)
    // InSet: its code reads the keys by reference; pushed as In(key, ...)
    spark.baseRelationToDataFrame(HadoopFsRelation(index, new StructType(),
        b.schema, None, new ParquetFileFormat, Map.empty)(spark))
      .filter(org.apache.spark.sql.GraftPlanBridge.column(
        InSet(UnresolvedAttribute.quoted(b.key), keys.toSet)))
  }

  // --- Build-once / ATTACH-many persisted tables ------------------------

  /** Driver-side accounting of persisted-table build time: every
    * [[ensure]] that constructs a generation (one count per generation,
    * however many tables it writes) and every forced [[writeBucketed]]
    * adds its wall time here; `graft.Bench` reports the warm-up
    * pre-pass's total as `ensure_build_sec`, so first-touch build cost
    * is its own number. Reentrant: a build body that ensures another
    * table counts once, under the OUTERMOST build (per-thread depth). */
  object BuildTimer {
    private val nanos = new java.util.concurrent.atomic.AtomicLong(0L)
    private val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    private val depth = new ThreadLocal[Integer] {
      override def initialValue: Integer = 0
    }
    def timed[T](body: => T): T = {
      val d: Int = depth.get
      depth.set(d + 1)
      val t0 = System.nanoTime()
      try body
      finally {
        depth.set(d)
        if (d == 0) {
          nanos.addAndGet(System.nanoTime() - t0)
          builds.incrementAndGet()
        }
      }
    }
    def totalSec: Double = nanos.get / 1e9
    def count: Int = builds.get
  }

  /** One persisted family's identity, declared beside its
    * [[AttachSpec]]s at its [[ensure]] call: `tag` names the family in
    * every attach marker and in FamilyFingerprintSpec's golden list;
    * `version` is the generation format. Bump `version` whenever the
    * builder changes what it writes — schema, content or plan. A fresh
    * session then refuses the older generations by their markers and
    * rebuilds them, while every other family keeps attaching. */
  case class Family(tag: String, version: Int)

  /** The family of tables written outside a declared one:
    * [[writeBucketed]]'s forced writes and ad-hoc groups. */
  val Adhoc: Family = Family("adhoc", 1)

  /** The vacuum generations of [[ensureVacuumed]]. */
  val Vacuum: Family = Family("vacuum", 1)

  private val AttachMarker = "_GRAFT_ATTACH"

  private def tableLocation(spark: SparkSession,
      table: String): java.nio.file.Path = {
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:")
    java.nio.file.Paths.get(warehouse, table.toLowerCase)
  }

  /** A committed table's attach marker: its family, the layout it was
    * written with, its catalog schema, the [[planDigest]] of the frame
    * it was written from and, per generation its build read, that
    * input's [[markerDigest]] when the build ran; one `key=value` line
    * each (`input=<table>:<digest>`). */
  case class Marker(family: Family, layout: String, schema: StructType,
      plan: String, inputs: Seq[(String, String)])

  object Marker {
    /** `table`'s marker, if it has a well-formed one. */
    def read(spark: SparkSession, table: String): Option[Marker] = try {
      val lines = java.nio.file.Files.readAllLines(tableLocation(spark, table)
          .resolve(AttachMarker)).asScala.map(_.split("=", 2))
        .collect { case Array(k, v) => k -> v }.toSeq
      val kv = lines.toMap
      Some(Marker(Family(kv("family"), kv("version").toInt), kv("layout"),
        org.apache.spark.sql.types.DataType.fromJson(kv("schema"))
          .asInstanceOf[StructType], kv("plan"),
        lines.collect { case ("input", v) =>
          val Array(t, d) = v.split(":", 2)
          t -> d
        }))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** [[digest]] of `table`'s marker file, if it has one: what a
    * dependent generation records of its input. Any rebuild that
    * changes the input's version, layout, schema, plan or own inputs
    * changes it. */
  private def markerDigest(spark: SparkSession,
      table: String): Option[String] =
    try Some(digest(new String(java.nio.file.Files.readAllBytes(
      tableLocation(spark, table).resolve(AttachMarker)), "UTF-8")))
    catch { case _: java.io.IOException => None }

  /** The guards [[ensure]] resolves on this thread while a [[rewrite]]
    * evaluates its build, innermost build first: inputs a build reads
    * as driver-side values (a codebook collected into literals), which
    * no catalog relation of its frames shows. */
  private val resolvedGuards =
    new ThreadLocal[List[scala.collection.mutable.Set[String]]] {
      override def initialValue = Nil
    }

  /** Catalog tables `df`'s analyzed plan reads. */
  private def catalogInputs(df: DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    df.queryExecution.analyzed.collectWithSubqueries {
      case r: LogicalRelation if r.catalogTable.isDefined =>
        r.catalogTable.get.identifier.table
    }
  }

  /** The marker's form of `s`'s layout. */
  private def layoutOf(s: AttachSpec): String =
    s.bucket.map { case (k, n) => s"bucket($k,$n)" }
      .orElse(Option.when(s.partitionCols.nonEmpty)(
        s.partitionCols.mkString("partition(", ",", ")")))
      .getOrElse("plain")

  /** [[digest]] of a build frame's canonicalized analyzed plan and its
    * output schema (canonicalization drops column names): what the
    * frame computes, independent of expression ids, of the fixture's
    * location and of the generation names it reads (every 20-hex
    * digest is masked). A builder edit that changes the plan changes
    * it. */
  private def planDigest(df: DataFrame): String =
    digest((df.queryExecution.analyzed.canonicalized.toString +
      df.schema.json).replaceAll("[0-9a-f]{20}", "*"))

  /** Marker write — after a table's successful commit, so the marker's
    * presence certifies a complete build: any interrupted build or
    * partially-deleted location has no marker (it is deleted FIRST on
    * rebuild) and attach falls through to a clean rebuild. */
  private def markAttachable(spark: SparkSession, family: Family,
      s: AttachSpec, plan: String, inputs: Seq[(String, String)]): Unit = {
    val loc = tableLocation(spark, s.table)
    val schema = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(s.table)).schema
    if (java.nio.file.Files.isDirectory(loc))
      java.nio.file.Files.write(loc.resolve(AttachMarker), (Seq(
        s"family=${family.tag}", s"version=${family.version}",
        s"layout=${layoutOf(s)}", s"plan=$plan", s"schema=${schema.json}") ++
        inputs.map { case (t, d) => s"input=$t:$d" }).asJava)
  }

  /** Marker delete — BEFORE any drop/delete/rewrite of the location, so
    * no concurrent or later session can attach a dying generation. */
  private def unmarkAttachable(spark: SparkSession, table: String): Unit =
    try java.nio.file.Files.deleteIfExists(
      tableLocation(spark, table).resolve(AttachMarker))
    catch { case _: java.io.IOException => () }

  /** In-place append of `df` to a build-once generation (the
    * incremental index appends), positional, respecting the table's
    * bucket spec. The attach marker is withdrawn first: the name then
    * no longer describes the rows, so no later session may attach it —
    * [[attachAll]] fails for its group and [[ensure]] rebuilds from the
    * fixture. This session keeps serving its registered table, and its
    * probes list the table's files again. */
  def appendInto(df: DataFrame, table: String): Unit = {
    val spark = df.sparkSession
    unmarkAttachable(spark, table)
    df.write.insertInto(table)
    bucketFilesMemo.remove(bucketFilesKey(spark, table))
  }

  /** One table of a persisted generation, and the single place its
    * layout is declared: `bucket` = (key, nBuckets) for bucketed+sorted
    * layouts, `partitionCols` for directory-partitioned ones, neither
    * for plain parquet tables. */
  case class AttachSpec(table: String,
      bucket: Option[(String, Int)] = None,
      partitionCols: Seq[String] = Nil)

  object AttachSpec {
    /** The bucketed layout: `AttachSpec(name, "term", 32)`. */
    def apply(table: String, key: String, buckets: Int): AttachSpec =
      AttachSpec(table, Some((key, buckets)))
  }

  /** Attach a group of previously-persisted warehouse tables into this
    * session's catalog as external tables — all-or-nothing: true iff
    * EVERY member has a complete (`_SUCCESS`) directory whose marker
    * records `family`'s version and the member's own layout, every
    * input the marker records still has the marker it was built from,
    * and every registration succeeded. On false the caller builds from
    * scratch ([[ensure]] drops every member first, so a partially-registered
    * group is repaired by the build path). Registration is
    * metadata-only — the schema is the marker's, so no footer is read
    * and no Spark job runs — and the registered bucket/partition spec
    * is the one the files were written with (bucket ids live in the
    * file names), so bucket pruning and co-located joins behave
    * identically to the building session (pinned in ScaleOpsSpec). */
  def attachAll(spark: SparkSession, specs: Seq[AttachSpec],
      family: Family = Adhoc): Boolean = {
    val markers = specs.map { s =>
      Marker.read(spark, s.table).filter(m =>
        m.family.version == family.version && m.layout == layoutOf(s) &&
          m.inputs.forall { case (t, d) =>
            markerDigest(spark, t).contains(d) } &&
          java.nio.file.Files.exists(
            tableLocation(spark, s.table).resolve("_SUCCESS")))
    }
    markers.forall(_.isDefined) && (try {
      specs.zip(markers.flatten).foreach { case (s, m) =>
        if (!spark.catalog.tableExists(s.table)) {
          val loc = tableLocation(spark, s.table)
          val bucketDdl = s.bucket.map { case (k, n) =>
            s"CLUSTERED BY (`$k`) SORTED BY (`$k`) INTO $n BUCKETS"
          }.getOrElse("")
          val partDdl =
            if (s.partitionCols.isEmpty) ""
            else s.partitionCols.mkString(
              "PARTITIONED BY (`", "`, `", "`)")
          spark.sql(
            s"""CREATE TABLE `${s.table}` (${m.schema.toDDL})
               |USING PARQUET $partDdl $bucketDdl
               |LOCATION '${loc.toUri}'""".stripMargin)
          if (s.partitionCols.nonEmpty)
            spark.sql(s"ALTER TABLE `${s.table}` RECOVER PARTITIONS")
        }
      }
      true
    } catch { case scala.util.control.NonFatal(_) => false })
  }

  // --- Single-builder lock ----------------------------------------------

  /** How long a waiter honors another session's build lock before
    * treating the builder as hung and taking over. Generous: the
    * largest single-table build two decades above the fixture (the
    * sf10 inverted index) commits in low minutes. */
  private val StaleLockMs = 15 * 60 * 1000L
  private val LockPollMs = 500L

  private def lockPath(spark: SparkSession,
      table: String): java.nio.file.Path =
    tableLocation(spark, table).getParent
      .resolve(s".graft_build_${table.toLowerCase}.lock")

  /** One atomic create attempt; breaks a lock whose recorded builder
    * PID is no longer alive (single-host local[*] regime — ProcessHandle
    * answers for any PID on this machine). */
  private def tryAcquireBuildLock(spark: SparkSession,
      table: String): Boolean = {
    import java.nio.file.{Files, StandardOpenOption => O}
    val lock = lockPath(spark, table)
    try {
      Files.createDirectories(lock.getParent)
      Files.write(lock,
        ProcessHandle.current.pid.toString.getBytes("UTF-8"),
        O.CREATE_NEW, O.WRITE)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        val dead = try {
          val pid = new String(Files.readAllBytes(lock), "UTF-8").trim
          val h = ProcessHandle.of(pid.toLong)
          !(h.isPresent && h.get.isAlive)
        } catch { case scala.util.control.NonFatal(_) => false }
        val stale = try {
          System.currentTimeMillis -
            Files.getLastModifiedTime(lock).toMillis > StaleLockMs
        } catch { case _: java.io.IOException => true }
        if (dead || stale) {
          try Files.deleteIfExists(lock)
          catch { case _: java.io.IOException => () }
        }
        false
      case _: java.io.IOException => true // unlockable fs: build anyway
    }
  }

  private def releaseBuildLock(spark: SparkSession, table: String): Unit =
    try java.nio.file.Files.deleteIfExists(lockPath(spark, table))
    catch { case _: java.io.IOException => () }

  /** Block while ANOTHER live builder holds the lock. Returns when the
    * lock is gone (builder committed or died — tryAcquire breaks dead
    * and stale locks). */
  private def awaitBuildLock(spark: SparkSession, table: String): Unit = {
    val deadline = System.currentTimeMillis + StaleLockMs + 60000L
    while (java.nio.file.Files.exists(lockPath(spark, table))
        && System.currentTimeMillis < deadline)
      Thread.sleep(LockPollMs)
  }

  /** Build-once / ATTACH-many: the one lifecycle every persisted
    * generation goes through (the reference's index DDL runs once;
    * every request reads the index). `family` names the generation's
    * format; `tables` declares its tables and layouts; the LAST one is
    * the guard, written last, so a build that dies between two writes
    * leaves the guard absent and the next call rebuilds the whole group
    * instead of serving a table missing its companions (r15 ADVICE).
    *
    *  - Fast path: the guard is in this session's catalog — one
    *    `tableExists`, the per-request cost of every `ensure*` caller.
    *    Called while a build runs on this thread, the guard is also
    *    recorded as an input of that build.
    *  - Otherwise attach the committed generation another session built
    *    (all-or-nothing, [[attachAll]] under `family`'s version).
    *  - Otherwise build under ONE PID-bearing lock keyed on the guard:
    *    attach again after waiting for or winning the lock (the winner
    *    of a race builds; every other session attaches its commit
    *    instead of dropping files the winner's readers scan — the r18
    *    ladder crash), then unmark, drop and delete every member,
    *    evaluate `build` (one frame per spec, in spec order — frames may
    *    not read the group's own tables), write each frame with its
    *    spec's layout and mark it; all inside one [[BuildTimer.timed]].
    *
    * Returns the guard table's name. */
  def ensure(spark: SparkSession, family: Family, tables: AttachSpec*)(
      build: => Seq[DataFrame]): String = {
    val guard = tables.last.table
    resolvedGuards.get.headOption.foreach(_ += guard.toLowerCase)
    if (!spark.catalog.tableExists(guard) &&
        !attachAll(spark, tables, family))
      lockedWrite(spark, family, tables, attachAll(spark, tables, family),
        attachAll(spark, tables, family))(build)
    guard
  }

  /** [[ensure]] for an ad-hoc group, outside any declared family. */
  def ensure(spark: SparkSession, tables: AttachSpec*)(
      build: => Seq[DataFrame]): String =
    ensure(spark, Adhoc, tables: _*)(build)

  /** The `(base)_vac(mod)` generation of single-table family `base`:
    * `live` applied to `base` (the rows that survive `mod`'s deletes),
    * written in `base`'s own layout, read from the catalog. `base` is
    * in this session's catalog (its `ensure*` returned its name). */
  def ensureVacuumed(spark: SparkSession, base: String, mod: Long)(
      live: DataFrame => DataFrame): String = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    val layout = spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(base)).bucketSpec
      .map(b => (b.bucketColumnNames.head, b.numBuckets))
    ensure(spark, Vacuum, AttachSpec(s"${base}_vac$mod", layout)) {
      Seq(live(spark.table(base)))
    }
  }

  /** A FORCED bucketed (re)write of one table — for outputs that are not
    * build-once generations (stream compaction, specs). The same locked
    * write as [[ensure]]: a write racing a live builder of the same
    * table waits and then serves that builder's commit instead of
    * clobbering it. One file per
    * bucket ([[saveAs]]): a 20k-row band table written without the
    * repartition measured 4071 files and 1.4 s per bare scan. */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit = {
    val spark = df.sparkSession
    val spec = Seq(AttachSpec(table, key, buckets))
    lockedWrite(spark, Adhoc, spec, false,
      attachAll(spark, spec) || spark.catalog.tableExists(table))(Seq(df))
  }

  /** Single-builder discipline (r18): the write runs under a PID-bearing
    * lock file beside the guard's location. `settledUnderLock` is
    * re-checked once the lock is won, `settledAfterWait` after another
    * builder released it; either being true ends the call without a
    * write. A lock whose builder PID is dead — or older than
    * [[StaleLockMs]] — is broken and the build taken over, so a crashed
    * builder never wedges the fleet. */
  private def lockedWrite(spark: SparkSession, family: Family,
      specs: Seq[AttachSpec], settledUnderLock: => Boolean,
      settledAfterWait: => Boolean)(frames: => Seq[DataFrame]): Unit = {
    val guard = specs.last.table
    var attempts = 0
    while (attempts < 100) {
      attempts += 1
      if (tryAcquireBuildLock(spark, guard)) {
        try if (!settledUnderLock) rewrite(spark, family, specs, frames)
        finally releaseBuildLock(spark, guard)
        return
      }
      awaitBuildLock(spark, guard)
      // the other builder committed: serve its generation (identical
      // by construction — generation names are content-fingerprinted)
      if (settledAfterWait) return
      // died without committing: loop and take over
    }
    // pathological: build unlocked
    rewrite(spark, family, specs, frames)
  }

  private def rewrite(spark: SparkSession, family: Family,
      specs: Seq[AttachSpec],
      frames: => Seq[DataFrame]): Unit = BuildTimer.timed {
    // the markers die FIRST: from here to each table's post-commit mark
    // the group is never attachable, so an interrupted rebuild can only
    // ever be rebuilt, never served. The drop and the delete remove an
    // orphaned managed location from a previous session, which would
    // otherwise fail CREATE TABLE with LOCATION_ALREADY_EXISTS.
    specs.foreach { s =>
      unmarkAttachable(spark, s.table)
      spark.sql(s"DROP TABLE IF EXISTS ${s.table}")
      graft.sources.ParquetStore.deleteRecursively(
        tableLocation(spark, s.table))
    }
    // the inputs: the generations the frames read as catalog tables,
    // and every guard resolved while they were built
    val resolved = scala.collection.mutable.Set.empty[String]
    resolvedGuards.set(resolved :: resolvedGuards.get)
    val dfs = try frames finally resolvedGuards.set(resolvedGuards.get.tail)
    require(dfs.size == specs.size,
      s"${dfs.size} frames for ${specs.map(_.table).mkString(", ")}")
    val inputs = (resolved.toSeq ++ dfs.flatMap(catalogInputs))
      .map(_.toLowerCase).distinct.sorted
      .filterNot(specs.map(_.table.toLowerCase).contains)
      // an input without a marker (appended in place) records a digest
      // no marker has: the next session rebuilds the dependent with it
      .map(t => t -> markerDigest(spark, t).getOrElse("none"))
    specs.zip(dfs).foreach { case (s, df) =>
      val plan = planDigest(df)
      saveAs(df, s)
      markAttachable(spark, family, s, plan, inputs)
      bucketFilesMemo.remove(bucketFilesKey(spark, s.table))
    }
  }

  /** Writes `df` as catalog table `s.table` with `s`'s layout: in the
    * warehouse, or at `location` as an external table. Repartition on
    * the bucket key first: without it every input task writes its own
    * file per bucket (N_tasks × buckets small files), with it each
    * bucket is exactly one file. */
  def saveAs(df: DataFrame, s: AttachSpec,
      location: Option[String] = None): Unit = {
    val w = s.bucket match {
      case Some((key, n)) =>
        df.repartition(n, col(key)).write.bucketBy(n, key).sortBy(key)
      case None => df.write
    }
    val placed = location.fold(w)(w.option("path", _))
    (if (s.partitionCols.isEmpty) placed
     else placed.partitionBy(s.partitionCols: _*))
      .mode("overwrite").format("parquet").saveAsTable(s.table)
  }

  /** The co-located join over two pre-bucketed tables. */
  def bucketedJoin(spark: SparkSession, left: String, right: String,
      key: String): DataFrame =
    spark.table(left).join(spark.table(right), Seq(key))

  /** Build-once: orders and lineitem bucketed+sorted on the order key
    * (lineitem's key renamed so the join key is ONE column name on both
    * sides). Idempotent per (dir). */
  def ensureBucketedFacts(spark: SparkSession,
      dir: String): (String, String) = {
    val bo = ensure(spark, Family("bucketed_orders", 1), AttachSpec(
        s"graft_bord_${contentHash(dir, "orders")}", "o_orderkey", 16)) {
      Seq(graft.Tables.orders(spark, dir)
        .select("o_orderkey", "o_custkey", "o_orderdate"))
    }
    val bl = ensure(spark, Family("bucketed_lineitem", 1), AttachSpec(
        s"graft_blin_${contentHash(dir, "lineitem")}", "o_orderkey", 16)) {
      Seq(graft.Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("o_orderkey"),
          col("l_extendedprice"), col("l_discount")))
    }
    (bo, bl)
  }

  /** The fully exchange-free fact-fact query: top-k orders by revenue
    * over the PRE-BUCKETED orders⋈lineitem. Both scans are
    * hash-distributed on o_orderkey on disk, so the SortMergeJoin needs
    * no exchange on either side AND the per-order aggregate reuses the
    * same distribution — the whole plan's only data movement is the
    * final TakeOrdered(k). At 100 TB this layout is the difference
    * between shuffling the two largest tables per query and shuffling
    * NOTHING (ScaleOpsSpec asserts zero ShuffleExchange in this exact
    * plan). Decimal-summed revenue keeps the hash stable across
    * partition orderings. */
  def bucketedRevenue(spark: SparkSession, dir: String,
      k: Int): DataFrame = {
    val (bo, bl) = ensureBucketedFacts(spark, dir)
    spark.table(bo).join(spark.table(bl), Seq("o_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(round(sum((col("l_extendedprice")
          * (lit(1.0) - col("l_discount"))).cast("decimal(18,6)")), 2)
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey").asc)
      .limit(k)
  }

  def bucketedRevenueOracleSql(k: Int): String =
    s"""SELECT o_orderkey, o_orderdate,
       |  CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount)
       |    AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
       |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
       |GROUP BY 1, 2
       |ORDER BY revenue DESC, o_orderkey ASC LIMIT $k""".stripMargin

  /** Salted high-cardinality aggregation for skewed keys: spread each
    * key over `salts` sub-keys in a first partial aggregate, then
    * combine. Turns one hot reducer into `salts` balanced ones. The
    * composition is exact for decomposable aggregates (count/sum here).
    */
  def saltedCountSum(df: DataFrame, key: String, valueCol: String,
      salts: Int): DataFrame =
    df.withColumn("_salt", pmod(spark_partition_id()
        + crc32(col(key).cast("string")), lit(salts)))
      .groupBy(col(key), col("_salt"))
      .agg(count(lit(1)).as("_n"), sum(col(valueCol)).as("_s"))
      .groupBy(col(key))
      .agg(sum(col("_n")).as("n"), sum(col("_s")).as("total"))

  /** Exact per-key COUNT DISTINCT with a salted combine — the member
    * of the skew family where salting genuinely pays. (For plain
    * count/sum, hash partial aggregation already collapses each map
    * task's hot-key rows to one row, so the hot reducer never sees the
    * skew; [[saltedCountSum]] documents that pattern. COUNT DISTINCT
    * defeats partial reduction: the final per-key aggregate receives
    * ONE ROW PER DISTINCT VALUE of the hot key — a zipf head key with
    * 10⁶ distinct values funnels 10⁶ rows into a single reducer.)
    * Three exchanges, all balanced: (1) distinct on (key, value) —
    * spread by the value component; (2) count per (key,
    * hash(value) mod salts) — the hot key fans over `salts` reducers;
    * (3) sum the salt-counts per key — `salts` rows per key, trivial.
    * Exact because the salt partitions each key's distinct-value SET.
    * graft.SkewStress measures the win on a zipf corpus; BENCHNOTES
    * carries the rung. */
  def saltedDistinctCount(df: DataFrame, key: String, value: String,
      salts: Int): DataFrame =
    df.select(col(key), col(value)).distinct()
      .groupBy(col(key),
        pmod(xxhash64(col(value)), lit(salts.toLong)).as("_salt"))
      .agg(count(lit(1)).as("_n"))
      .groupBy(col(key))
      .agg(sum(col("_n")).as("n_distinct"))

  /** Registered form: distinct users per event type — event_type is a
    * NATURALLY skewed key (a handful of values over the whole fact
    * table), so the unsalted plan's final agg would receive every
    * distinct (type, user) pair of the hottest type in one task. */
  def saltedDistinctUsers(spark: SparkSession, dir: String): DataFrame =
    saltedDistinctCount(
      graft.Tables.events(spark, dir), "event_type", "user_id", 32)
      .select(col("event_type"), col("n_distinct"))
      .orderBy(col("event_type").asc)

  val saltedDistinctUsersOracleSql: String =
    """SELECT event_type, count(DISTINCT user_id) AS n_distinct
      |FROM events GROUP BY event_type ORDER BY event_type ASC""".stripMargin

  /** Z-order (Morton) key: interleave the low `bits` bits of two
    * non-negative dimensions — x in even positions, y in odd. Rows
    * sorted by this key cluster 2-D-close rows into the same parquet
    * row groups/files, so a conjunctive range filter on (x, y) prunes
    * by BOTH dimensions from one linear sort order (the layout trick
    * behind Delta/Iceberg Z-ORDER table maintenance). Pure long bit
    * arithmetic — exact, engine-independent, oracle-mirrored by
    * `zorderKeySql`. */
  def zorderKey(x: Column, y: Column, bits: Int): Column = {
    val mx = x.bitwiseAND(lit((1L << bits) - 1))
    val my = y.bitwiseAND(lit((1L << bits) - 1))
    (0 until bits).map { i =>
      shiftleft(shiftright(mx, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(
          shiftleft(shiftright(my, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
  }

  /** The identical interleave as SQL text over expressions `x`/`y`
    * (pass short identifiers). */
  def zorderKeySql(x: String, y: String, bits: Int): String = {
    val mask = (1L << bits) - 1
    (0 until bits).map { i =>
      s"((((($x) & $mask) >> $i) & 1) << ${2 * i}) | " +
        s"((((($y) & $mask) >> $i) & 1) << ${2 * i + 1})"
    }.mkString("(", " | ", ")")
  }

  /** Rewrite a frame into a Z-ordered layout: range-partition on the
    * key (so FILES own disjoint key ranges) and sort within partitions
    * (so ROW GROUPS inside each file are tight too). A later scan with
    * a 2-D range predicate prunes files via the partition ranges and
    * row groups via parquet min/max stats. */
  def writeZOrdered(df: DataFrame, dir: String, zcol: String,
      files: Int): Unit =
    df.repartitionByRange(files, col(zcol))
      .sortWithinPartitions(zcol)
      .write.mode("overwrite").parquet(dir)

  /** Write a table partitioned by a column (the documents-by-collection
    * layout, SURVEY §4.3): queries filtering on that column prune whole
    * directories at planning time instead of scanning and filtering.
    */
  def writePartitioned(df: DataFrame, dir: String, col: String): Unit =
    df.write.mode("overwrite").partitionBy(col).parquet(dir)

  /** Number of files the scan will actually read (post partition
    * pruning) for the given filtered frame. */
  def filesRead(df: DataFrame): Long = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      p +: kids.flatMap(nodes)
    }
    nodes(df.queryExecution.executedPlan).collect {
      case s: FileSourceScanExec => s.selectedPartitions.totalNumberOfFiles
    }.sum
  }

  /** Registered z-order demo: the Morton key over (user_id, 10-minute
    * bucket) of the events table — the two columns an ops dashboard
    * filters together — with the first `k` rows in key order. The KEY
    * is the oracle-gated part; the layout effect (disjoint per-file
    * ranges after `writeZOrdered`) is plan-asserted in ScaleOpsSpec.
    *
    * The time bucket is REBASED to the corpus minimum before the
    * 16-bit mask: raw epoch buckets (~2.9M for 2026 data) alias every
    * 65536 buckets (~45 days), which would silently destroy the 2-D
    * clustering for any corpus spanning multiple alias periods. After
    * the rebase 16 bits covers ~455 days of data span. The min is a
    * bounded one-row collect baked in as a LITERAL (the same pattern as
    * the IVF probe cells, Similarity.ivfTopK): paying one tiny
    * min-aggregation job up front keeps the main pass a single
    * scan-local job — the r7 crossJoin(broadcast) form re-planned an
    * extra aggregation + exchange per query for the same one number. */
  def zorderEventKeys(spark: SparkSession, dir: String,
      k: Int): DataFrame = {
    val ev = graft.Tables.events(spark, dir)
    val keyed = ev.select(col("event_id"), col("user_id"),
        graft.Tables.tsSeconds(ev).cast("long").as("secs"))
      .withColumn("tbucket", expr("secs div 600"))
    val tmin = keyed.agg(min(col("tbucket"))).collect()(0).getLong(0)
    keyed
      .select(col("event_id"), col("user_id"), col("tbucket"),
        zorderKey(col("user_id"), col("tbucket") - lit(tmin), 16)
          .as("zkey"))
      .orderBy(col("zkey").asc, col("event_id").asc)
      .limit(k)
  }

  def zorderEventKeysOracleSql(k: Int): String =
    s"""WITH b AS (
       |  SELECT event_id, user_id,
       |    (epoch_ns(ts) // 1000000000) // 600 AS tbucket
       |  FROM events
       |), m AS (
       |  SELECT min(tbucket) AS tmin FROM b
       |)
       |SELECT event_id, user_id, tbucket,
       |  ${zorderKeySql("user_id", "tbucket - tmin", 16)} AS zkey
       |FROM b, m ORDER BY zkey ASC, event_id ASC LIMIT $k""".stripMargin

  /** Registered salted-aggregation demo: per-supplier count + quantity
    * total through the two-stage salted path. Salting is exact for
    * decomposable aggregates, so the plain GROUP BY is the oracle —
    * this hash-gates that the skew mechanism changes the SHAPE of the
    * shuffle, never the numbers. (l_quantity is integer-valued, so the
    * double sum is order-independent-exact.) */
  def saltedSuppAgg(spark: SparkSession, dir: String): DataFrame =
    saltedCountSum(graft.Tables.lineitem(spark, dir),
      "l_suppkey", "l_quantity", 8)
      .orderBy(col("l_suppkey").asc)

  val saltedSuppAggOracleSql: String =
    """SELECT l_suppkey, count(*) AS n, sum(l_quantity) AS total
      |FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey ASC""".stripMargin

  // --- Bloom semi-join reduction (runtime-filter pattern) ---------------

  /** 4096-bit / 5-hash bloom over a join key — the explicit form of the
    * engine runtime filter (Spark's spark.sql.optimizer.runtime.
    * bloomFilter, the sideways information passing of warehouse
    * engines): the DIM side's keys compress to a fixed 512-byte bit
    * array that rides into the FACT scan as a literal, discarding
    * non-matching rows before they reach the join's shuffle. No false
    * negatives, so the join result is EXACTLY the plain join — which is
    * what lets the plain join be the oracle. */
  val JoinBloomBits = 4096
  val JoinBloomHashes = 5

  /** index_k(key) = xxhash64(k, CAST(key AS BIGINT)) mod 4096.
    * xxhash64 stays inside whole-stage codegen as a few integer ops
    * per row — the earlier md5-hex form (hash → hex string →
    * substring → base-16 conv) paid string materialization 5× per
    * fact row and dominated the probe scan.
    *
    * The BIGINT canonicalization makes the false-negative-freedom
    * STRUCTURAL rather than a same-type calling convention: xxhash64
    * output depends on the input Spark type, so an INT build key
    * probed with a BIGINT fact key would otherwise silently hash to
    * different cells and DROP matching join rows. CAST AS BIGINT maps
    * every integral width (and numeric strings) of the same value to
    * the same long; values outside the long domain cast to NULL on
    * BOTH sides, and xxhash64 folds NULL to its seed hash — so such
    * keys collapse to one shared cell, degrading the filter to
    * always-pass (a false POSITIVE, which the plain-join semantics
    * absorb) but never to a false negative. Any hash family is
    * admissible here: the bloom can only produce false positives, and
    * the oracle is the plain join. */
  private def jbloomIdx(k: Int, key: Column): Column =
    pmod(xxhash64(lit(k), key.cast("long")), lit(JoinBloomBits))
      .cast("int")

  /** Distributed bloom build: each dim key explodes to its 5 bit
    * indexes, ONE partial-agg shuffle folds them to ≤64 (word, bits)
    * cells, and only those 64 longs reach the driver — the build cost
    * is dim-scan + a fixed-size collect no matter how large the dim. */
  def buildJoinBloom(keys: DataFrame, keyCol: String): Array[Long] = {
    val cells = keys
      .select(explode(array((0 until JoinBloomHashes).map(k =>
        jbloomIdx(k, col(keyCol))): _*)).as("idx"))
      .groupBy((col("idx") / 64).cast("int").as("word"))
      .agg(bit_or(expr("shiftleft(CAST(1 AS BIGINT), idx % 64)"))
        .as("bits"))
      .collect()
    val words = Array.fill(JoinBloomBits / 64)(0L)
    cells.foreach(r => words(r.getInt(0)) = r.getLong(1))
    words
  }

  /** Scan-local might-contain predicate against the literal word array:
    * 5 integer hashes + 5 bit tests per row, zero joins, zero
    * shuffles. Build and probe keys may differ in integral width
    * (INT dim key vs BIGINT fact key is the common star-schema case):
    * [[jbloomIdx]] canonicalizes both sides to BIGINT before hashing,
    * so type mismatches cannot introduce false negatives. */
  def joinBloomMightContain(words: Seq[Long], key: Column): Column = {
    val wl = typedLit(words)
    (0 until JoinBloomHashes).map { k =>
      val idx = jbloomIdx(k, key)
      val word = element_at(wl, (idx / 64).cast("int") + 1)
      call_function("shiftright", word, pmod(idx, lit(64)))
        .bitwiseAND(lit(1L)) === lit(1L)
    }.reduce(_ && _)
  }

  /** Driver memo for built join blooms: the 64-long word array is a
    * pure function of (dim-table generation, build frame, key column),
    * so a steady-state serving process builds each bloom ONCE per
    * corpus generation instead of paying the dim-scan + collect job
    * per query (r18; the prefixBounds treatment). Values are 512 bytes
    * each, LRU-bounded, generation-checked on lookup.
    *
    * r19 (ADVICE): the key derives from the ANALYZED PLAN's semantic
    * hash rather than a hand-maintained tag string — a caller that
    * changes the build predicate (or passes a differently-filtered
    * keys frame) can no longer silently share a stale bloom, which for
    * a bloom means FALSE NEGATIVES (dropped join rows). Values are
    * stored immutable and cloned out, so no caller can poison the
    * cached words by mutating the returned array. */
  private val joinBloomMemo =
    new DriverMemo[(String, Int, String), Vector[Long]](64)

  def buildJoinBloomMemo(keys: DataFrame, gen: String,
      keyCol: String): Array[Long] =
    joinBloomMemo.getOrCompute(
      (gen, keys.queryExecution.analyzed.semanticHash(), keyCol), gen) {
      buildJoinBloom(keys, keyCol).toVector
    }.toArray

  /** Registered demo: order revenue by priority for BUILDING-segment
    * customers, with the orders scan pre-pruned by the customer-key
    * bloom. ~1/5 of customers are BUILDING, so ~80% of orders rows
    * (minus bloom false positives) never enter the join. The oracle is
    * the PLAIN join — hash-equality proves the bloom pruned without
    * changing a single row. Decimal summation keeps the aggregate off
    * double rounding boundaries. */
  def bloomPrunedRevenue(spark: SparkSession, dir: String): DataFrame = {
    val cust = graft.Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === lit("BUILDING"))
      .select("c_custkey")
    val words = buildJoinBloomMemo(cust,
      contentHash(dir, "customer"), "c_custkey")
    graft.Tables.orders(spark, dir)
      .filter(joinBloomMightContain(words.toSeq, col("o_custkey")))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(18,6)")), 2)
          .cast("double").as("total_price"))
      .orderBy(col("o_orderpriority").asc)
  }

  val bloomPrunedRevenueOracleSql: String =
    """SELECT o_orderpriority, count(*) AS n_orders,
      |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2)
      |    AS DOUBLE) AS total_price
      |FROM orders JOIN customer ON c_custkey = o_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |GROUP BY o_orderpriority ORDER BY o_orderpriority ASC""".stripMargin

  // --- Distributed prefix sum -------------------------------------------

  /** The two-pass distributed prefix sum — the cluster-scale form of a
    * global-order running total that a single-reducer window cannot
    * provide at 100 TB. Pass 0: one distributed quantile sketch over
    * the order key yields `partitions-1` range boundaries, collected
    * ONCE to the driver (bounded: a few doubles) and baked into the
    * plan as literals, so every row's bucket `_pid` is a pure
    * scan-local function of its key. This is deliberate: a
    * `repartitionByRange` here would plant a sampling RangePartitioner
    * in BOTH downstream branches (the row window and the offset
    * aggregate), and their bucket assignments would agree only while
    * exchange reuse happens to fire — literal boundaries make the two
    * branches agree by construction. Pass 1: each bucket owns a
    * disjoint, contiguous key range; the within-bucket running total
    * is a `partitionBy(_pid)` window (each reducer sees only its own
    * bucket). Pass 2: per-bucket sums (nPartitions rows) take their
    * own exclusive prefix — a window over a trivially small frame —
    * and broadcast back as each bucket's offset. No row-level data
    * ever converges on one reducer.
    *
    * Exact for integer values (long addition is associative), which is
    * what running token/row totals are. Quantile error only skews
    * bucket SIZES, never the result. Requires a numeric, non-null
    * order key. Emits the input columns plus `cum_before` = the
    * exclusive prefix sum of `valCol` in `orderCol` order (ties within
    * a duplicate order key are resolved by the row's bucket-local
    * position — pass a unique key). */
  /** Memoized bucket boundaries for [[prefixSummed]], keyed by a
    * generation-bearing identity (a persisted-table name or corpus
    * fingerprint): the boundaries are a deterministic function of the
    * corpus, so steady-state re-invocations of a prefix-sum query skip
    * the approxQuantile driver action entirely (r17 verdict #6 — the
    * probe was one of the 4-5 sequential job floors behind
    * pack_sequences / quality_ppl_buckets). Any boundary set is
    * CORRECT (it only skews bucket sizes), so memo staleness across an
    * in-place regeneration could not corrupt results even without the
    * generation check — but the check keeps the sizes honest.
    *
    * CALLER CONTRACT (r19 ADVICE): the key (gen, orderCol, partitions)
    * does not identify the source FRAME — two operators sharing those
    * three share boundaries even if their filters/projections differ.
    * Callers must never rely on the returned bounds being quantiles of
    * their specific frame; only the bucket-size skew is at stake,
    * which is what makes the coarser key safe. */
  private val boundsMemo =
    new DriverMemo[(String, String, Int), Array[Double]](64)

  def prefixBounds(df: DataFrame, gen: String, orderCol: String,
      partitions: Int): Array[Double] =
    boundsMemo.getOrCompute((gen, orderCol, partitions), gen) {
      val probs = (1 until partitions).map(_.toDouble / partitions).toArray
      if (probs.isEmpty) Array.empty[Double]
      else df.stat.approxQuantile(orderCol, probs, 0.01)
    }

  def prefixSummed(df: DataFrame, orderCol: String, valCol: String,
      partitions: Int, precomputedBounds: Option[Array[Double]] = None)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val probs = (1 until partitions).map(_.toDouble / partitions).toArray
    val bounds = precomputedBounds.getOrElse {
      if (probs.isEmpty) Array.empty[Double]
      else df.stat.approxQuantile(orderCol, probs, 0.01)
    }
    // bucket i owns keys in (bounds(i-1), bounds(i)] — contiguous by
    // construction since every row compares against the same literals
    val pidExpr = bounds.distinct.foldLeft(lit(0)) { (acc, b) =>
      acc + when(col(orderCol) > lit(b), 1).otherwise(0)
    }
    val bucketed = df.withColumn("_pid", pidExpr)
    val local = Window.partitionBy("_pid")
      .orderBy(col(orderCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val withLocal = bucketed.withColumn("_local",
      coalesce(sum(col(valCol)).over(local), lit(0L)))
    // the offsets window runs over nPartitions rows (one per bucket) —
    // bounded by construction. Its partition key is constant-zero
    // (_pid is never negative) but written non-foldably: a bare lit(0)
    // would be constant-folded out of the windowspec and WindowExec
    // would log its misleading single-partition warning for a frame
    // that is small by design
    val offsets = bucketed.groupBy("_pid")
      .agg(sum(col(valCol)).as("_psum"))
      .withColumn("_offset",
        coalesce(sum(col("_psum")).over(
          Window.partitionBy(least(col("_pid"), lit(0)))
            .orderBy(col("_pid").asc)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("_pid", "_offset")
    withLocal.join(broadcast(offsets), "_pid")
      .withColumn("cum_before", col("_local") + col("_offset"))
      .drop("_pid", "_local")
  }

  // --- Corpus integrity & diagnostics -----------------------------------

  /** Order-independent table digest — the dataset-versioning primitive
    * a training pipeline pins its runs to: per table, a 28-bit md5 row
    * hash folded with BOTH an additive and a xor aggregate (either
    * alone can be fooled; together they fingerprint multiset content).
    * Both folds are commutative, so the digest is independent of
    * partitioning, row order, and executor count — any two engines (or
    * the same corpus before/after a rewrite) agree iff the rows agree.
    * One scan + a 1-row aggregate per table; 28-bit hashes keep the
    * additive fold far from long overflow (needs > 2^35 rows to wrap).
    * Digest columns are the stable identity columns; mutable doubles
    * and timestamps are excluded (their string forms are
    * engine-formatting-sensitive). */
  def tableDigests(spark: SparkSession, dir: String): DataFrame = {
    def digest(df: DataFrame, name: String,
        cols: Seq[Column]): DataFrame = {
      // NULL-safe row string: concat_ws would silently SKIP null
      // columns (so a null-shift between adjacent columns hashes
      // identically, and the oracle's || would null the whole row) —
      // coalesce each column to a \u0001 sentinel instead
      val h = conv(substring(md5(concat_ws("|",
        cols.map(c => coalesce(c.cast("string"), lit("\u0001"))): _*)),
        1, 7), 16, 10).cast("long")
      df.select(h.as("h"))
        .agg(count(lit(1)).as("n_rows"), sum(col("h")).as("hash_sum"),
          expr("bit_xor(h)").as("hash_xor"))
        .select(lit(name).as("table_name"), col("n_rows"),
          col("hash_sum"), col("hash_xor"))
    }
    val d = graft.Tables.documents(spark, dir)
    val e = graft.Tables.events(spark, dir)
    val o = graft.Tables.orders(spark, dir)
    digest(d, "documents",
      Seq(col("doc_id"), col("lang"), col("source"), col("text")))
      .unionAll(digest(e, "events",
        Seq(col("event_id"), col("user_id"), col("event_type"))))
      .unionAll(digest(o, "orders",
        Seq(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_orderpriority"))))
      .orderBy(col("table_name").asc)
  }

  val tableDigestsOracleSql: String = {
    def nn(expr: String): String = s"coalesce($expr, chr(1))"
    def one(table: String, cols: Seq[String]): String = {
      val rowExpr = cols.map(nn).mkString(" || '|' || ")
      s"""SELECT '$table' AS table_name, count(*) AS n_rows,
         |  CAST(sum(h) AS BIGINT) AS hash_sum,
         |  bit_xor(h) AS hash_xor
         |FROM (SELECT CAST('0x' || substr(md5($rowExpr), 1, 7)
         |  AS BIGINT) AS h FROM $table)""".stripMargin
    }
    Seq(
      one("documents", Seq("CAST(doc_id AS VARCHAR)", "lang", "source",
        "text")),
      one("events", Seq("CAST(event_id AS VARCHAR)",
        "CAST(user_id AS VARCHAR)", "event_type")),
      one("orders", Seq("CAST(o_orderkey AS VARCHAR)",
        "CAST(o_custkey AS VARCHAR)", "o_orderstatus", "o_orderpriority"))
    ).mkString("", "\nUNION ALL\n", "\nORDER BY table_name ASC")
  }

  /** ANALYZE-style column statistics over lineitem — the per-column
    * (count, NDV, min, max) block a cost-based optimizer (and every
    * data catalog) feeds on. ONE scan computes every column's moments
    * in a single aggregate row (count/min/max are plain combinable
    * aggregates; the multi-column exact countDistinct plans one Expand
    * — at 100 TB swap the exact NDVs for the HLL sketch this repo
    * already ships in `sketch_hll`, which is what ANALYZE
    * implementations do); the wide 1-row result melts to the
    * catalog's long (column, stats) shape scan-locally. */
  def columnStats(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax")
    val metrics = cols.flatMap(c => Seq(
      count(col(c)).as(s"n_$c"),
      countDistinct(col(c)).as(s"ndv_$c"),
      min(col(c)).cast("double").as(s"min_$c"),
      max(col(c)).cast("double").as(s"max_$c")))
    val one = graft.Tables.lineitem(spark, dir)
      .agg(metrics.head, metrics.tail: _*)
    one.select(explode(array(cols.map(c => struct(
      lit(c).as("column_name"),
      col(s"n_$c").as("n"),
      col(s"ndv_$c").as("ndv"),
      col(s"min_$c").as("min_d"),
      col(s"max_$c").as("max_d"))): _*)).as("s"))
      .select(col("s.*"))
      .orderBy(col("column_name").asc)
  }

  val columnStatsOracleSql: String = {
    val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax")
    cols.map(c =>
      s"""SELECT '$c' AS column_name, count($c) AS n,
         |  count(DISTINCT $c) AS ndv,
         |  CAST(min($c) AS DOUBLE) AS min_d,
         |  CAST(max($c) AS DOUBLE) AS max_d
         |FROM lineitem""".stripMargin)
      .mkString("", "\nUNION ALL\n", "\nORDER BY column_name ASC")
  }

  /** Join-key skew diagnostic — the measurement that decides whether a
    * key needs `saltedCountSum`: per-key frequency of the fact-side
    * join key, the global max/avg skew factor, and the heaviest keys.
    * ONE partial-agg shuffle to key grain; the scalar stats aggregate
    * the key-grain result (broadcast back as a single row). The
    * avg is exact across engines (integer counts). */
  def joinKeySkew(spark: SparkSession, dir: String,
      topK: Int): DataFrame = {
    val counts = graft.Tables.orders(spark, dir)
      .groupBy("o_custkey").agg(count(lit(1)).as("n_orders"))
    val stats = counts.agg(
      max(col("n_orders")).as("mx"),
      avg(col("n_orders")).as("av"))
    counts.crossJoin(broadcast(stats))
      .select(col("o_custkey"), col("n_orders"),
        round(col("n_orders") / col("av"), 4).as("rel_to_avg"),
        round(col("mx") / col("av"), 4).as("skew_factor"))
      .orderBy(col("n_orders").desc, col("o_custkey").asc)
      .limit(topK)
  }

  def joinKeySkewOracleSql(topK: Int): String =
    s"""WITH c AS (
       |  SELECT o_custkey, count(*) AS n_orders FROM orders
       |  GROUP BY o_custkey
       |), s AS (
       |  SELECT max(n_orders) AS mx, avg(n_orders) AS av FROM c
       |)
       |SELECT o_custkey, n_orders,
       |  round(n_orders / av, 4) AS rel_to_avg,
       |  round(mx / av, 4) AS skew_factor
       |FROM c, s
       |ORDER BY n_orders DESC, o_custkey ASC LIMIT $topK""".stripMargin

  /** Detects whether a physical plan contains a shuffle exchange.
    * Walks THROUGH AQE wrapper nodes (AdaptiveSparkPlanExec /
    * QueryStageExec hide their subtrees from a plain collect). */
  def hasShuffleExchange(df: DataFrame): Boolean = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    df.count() // materialize so AQE finalizes the plan
    def nodes(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      p +: kids.flatMap(nodes)
    }
    nodes(df.queryExecution.executedPlan).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])
  }
}
