package svcbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.operators.ScaleOps.BuildTimer

/** Outcome of one timed operation; `kind` is read, probe or ingest. */
final case class OpRec(req: String, cls: String, kind: String, ms: Double,
    ok: Boolean, traced: Boolean)

/** A response kept for the DuckDB oracle check: the SQL, the corpus it
  * must be evaluated on (documents limited to ids below `docBound`) and
  * the rows the program returned. */
final case class Check(req: String, cls: String, sql: String, dir: String,
    docBound: Long, columns: Seq[String], rows: Seq[Row])

/** Everything one timed phase produced. */
final class PhaseOut {
  val ops = new ConcurrentLinkedQueue[OpRec]()
  val checks = new ConcurrentLinkedQueue[Check]()
  val errors = new ConcurrentLinkedQueue[String]()
  private val samples =
    new ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]()
  var wallS = 0.0
  var buildsTimed = 0

  def sample(name: String, v: Double): Unit = {
    samples.computeIfAbsent(name, _ => new ConcurrentLinkedQueue[Double]())
      .add(v)
    ()
  }
  def samplesOf(name: String): Seq[Double] =
    Option(samples.get(name)).map(_.asScala.toSeq).getOrElse(Nil)
  def mean(name: String): Double = {
    val xs = samplesOf(name)
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
  }
  def fail(req: String, e: Throwable): Unit = {
    errors.add(s"$req: ${e.getClass.getSimpleName}: ${e.getMessage}")
    ()
  }
}

/** One workload, driven by the generated manifest `m`. Setup rep `r`
  * runs against its own fresh corpus and warehouse, so every rep takes
  * the cold build path. */
abstract class Workload(val m: JsonNode, val dir: String) {
  val nVecs: Long = m.get("n_vecs").asLong
  def corpus(r: Int): String = m.get("corpora").get(r).asText
  /** One fresh corpus per set-up rep; the last one serves. */
  val setupReps: Int = m.get("corpora").size
  def serving: String = corpus(setupReps - 1)
  def warehouse(r: Int): String = Paths.get(dir, s"warehouse-$r").toString
  def conf: Seq[(String, String)] =
    m.get("conf").fields().asScala.map(e => e.getKey -> e.getValue.asText).toSeq
  def reads(key: String): Seq[Read] =
    m.get(key).elements().asScala.map(Ops.read(_, nVecs)).toSeq

  /** Answers every request class once on setup rep `r`'s corpus. On
    * the serving session this is also the warm-up: by then every class
    * has run once per rep in this JVM. */
  def firstAnswers(spark: SparkSession, r: Int): Unit
  /** The timed phase: the manifest's fixed sequence of operations. */
  def timed(spark: SparkSession, tr: Option[Tracer], stream: Int): PhaseOut
  /** Layer metrics only this workload exercises. */
  def layers(out: PhaseOut): Map[String, Double] = Map.empty

  /** Runs one request: the operator call, then (traced) forced physical
    * planning, then `collect()`, as a service returns rows. */
  def serve(spark: SparkSession, tr: Option[Tracer], req: String)(
      build: => DataFrame): (DataFrame, Array[Row]) = tr match {
    case None =>
      val df = build
      (df, df.collect())
    case Some(t) =>
      val df = t.span(req, "construct")(build)
      t.span(req, "plan")(df.queryExecution.executedPlan)
      (df, t.span(req, "action")(df.collect()))
  }

  /** Serves a read request under job group `req` and records it. In a
    * traced phase only the requests the manifest marks are traced. */
  def timedRead(spark: SparkSession, tr0: Option[Tracer], out: PhaseOut,
      req: String, op: Read, corpusDir: String, docBound: Long): Unit = {
    val sc = spark.sparkContext
    val tr = tr0.filter(_ => op.trace)
    sc.setJobGroup(req, op.cls, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try {
      val (df, rows) = serve(spark, tr, req)(op.build(spark, corpusDir))
      out.ops.add(OpRec(req, op.cls, "read", (System.nanoTime() - t0) / 1e6,
        ok = true, tr.isDefined))
      if (op.check)
        out.checks.add(Check(req, op.cls, op.oracle(), corpusDir, docBound,
          df.columns.toSeq, rows.toSeq))
    } catch {
      case e: Exception =>
        out.ops.add(OpRec(req, op.cls, "read", (System.nanoTime() - t0) / 1e6,
          ok = false, tr.isDefined))
        out.fail(req, e)
    } finally sc.clearJobGroup()
  }
}

/** Read-only serving on persisted indexes: closed-loop clients, each
  * sending its next request only after the previous one returned. */
final class SearchMix(m0: JsonNode, dir0: String) extends Workload(m0, dir0) {
  def firstAnswers(spark: SparkSession, r: Int): Unit =
    reads("first").foreach(_.build(spark, corpus(r)).collect())

  def timed(spark: SparkSession, tr: Option[Tracer], stream: Int): PhaseOut = {
    val out = new PhaseOut
    val clients = m.get("streams").get(stream.toString).get("clients")
      .elements().asScala.map(_.elements().asScala
        .map(Ops.read(_, nVecs)).toIndexedSeq).toIndexedSeq
    val b0 = BuildTimer.count
    val start = new CountDownLatch(1)
    val threads = clients.indices.map { c =>
      val t = new Thread(() => {
        start.await()
        clients(c).zipWithIndex.foreach { case (op, i) =>
          timedRead(spark, tr, out, s"s$stream-c$c-$i", op, serving,
            Long.MaxValue)
        }
      }, s"client-$c")
      t.start(); t
    }
    val t0 = System.nanoTime()
    start.countDown()
    threads.foreach(_.join())
    out.wallS = (System.nanoTime() - t0) / 1e9
    // a rebuild inside the serving loop is a bug, not a slow request
    out.buildsTimed = BuildTimer.count - b0
    if (out.buildsTimed > 0)
      out.errors.add(s"${out.buildsTimed} persisted-family builds in the timed phase")
    out
  }
}

/** Writes under reads, one client, on the FTS scan route. Each round
  * ingests a staged batch as one JobManager batch job (validate, chunk,
  * append, invalidate the table cache), probes for the batch, then
  * serves reads that never repeat. */
final class IngestSearch(m0: JsonNode, dir0: String) extends Workload(m0, dir0) {
  private var jm: graft.jobs.JobManager = _

  /** The ingest job and its visibility probe. False when the job did
    * not complete or the probe did not return exactly the batch. */
  private def ingest(spark: SparkSession, tr: Option[Tracer], out: PhaseOut,
      corpusDir: String, b: JsonNode, req: String, docBound: Long): Boolean = {
    def span[T](n: String)(body: => T): T =
      tr.map(_.span(req, n)(body)).getOrElse(body)
    val bdir = b.get("dir").asText
    val n = b.get("n").asInt
    val docsDir = s"$corpusDir/documents.parquet"
    val id = jm.createBatchJob("ingest", n)
    val done = new CountDownLatch(1)
    val marks = new Array[Long](5)
    val t0 = System.nanoTime()
    jm.submitWithProgress(id, s => {
      try {
        marks(0) = System.nanoTime()
        val valid = serve(s, tr, req)(
          graft.operators.DocumentPipeline.validate(s, bdir))._2
        require(valid.forall(_.getAs[Boolean]("is_valid")), "invalid document")
        marks(1) = System.nanoTime()
        val chunks = serve(s, tr, req)(
          graft.operators.Chunker.chunkRows(s, bdir, 1000, 200))._2
        out.sample("chunks", chunks.length.toDouble)
        marks(2) = System.nanoTime()
        span("append")(graft.sources.ParquetStore.appendIfAbsent(s, docsDir,
          s.read.parquet(s"$bdir/documents.parquet"), Seq("doc_id")))
        marks(3) = System.nanoTime()
        span("invalidate")(graft.Tables.invalidateDir(corpusDir))
        marks(4) = System.nanoTime()
      } finally done.countDown()
    })
    done.await()
    val t1 = System.nanoTime()
    tr.foreach(_.spans.add(Span(req, "queue", t0, marks(0))))
    while (!jm.get(id).exists(j => graft.jobs.JobStatus.Terminal(j.status)))
      Thread.sleep(1)
    val job = jm.get(id)
    val jobOk = job.exists(_.status == graft.jobs.JobStatus.Completed)
    if (!jobOk) out.errors.add(s"$req: ingest job ${job.map(_.status)} " +
      job.flatMap(_.error_message).getOrElse(""))
    out.ops.add(OpRec(req, "ingest", "ingest", (t1 - t0) / 1e6, jobOk,
      tr.isDefined))

    val preq = req + "-probe"
    val token = b.get("token").asText
    val (probeDf, got) = serve(spark, tr, preq)(
      graft.operators.Fts.searchAuto(spark, corpusDir, token, "en", n))
    val t2 = System.nanoTime()
    val first = b.get("first_id").asLong
    val visible = got.map(_.getLong(0)).toSet == (first until first + n).toSet
    out.ops.add(OpRec(preq, "probe", "probe", (t2 - t1) / 1e6, visible,
      tr.isDefined))
    if (!visible) out.errors.add(s"$preq: batch ${b.get("name").asText} not visible")
    if (b.has("check"))
      out.checks.add(Check(preq, "probe",
        graft.operators.Fts.searchOracleSql(token, "en", n), corpusDir,
        docBound, probeDf.columns.toSeq, got.toSeq))
    if (jobOk) {
      out.sample("visible_ms", (t2 - t0) / 1e6)
      out.sample("queue_ms", (marks(0) - t0) / 1e6)
      out.sample("run_ms", (marks(4) - marks(0)) / 1e6)
      out.sample("validate_ms", (marks(1) - marks(0)) / 1e6)
      out.sample("chunk_ms", (marks(2) - marks(1)) / 1e6)
      out.sample("append_ms", (marks(3) - marks(2)) / 1e6)
      out.sample("written_bytes", Main.bytesUnder(docsDir).toDouble)
      out.sample("batch_bytes", Main.bytesUnder(s"$bdir/documents.parquet").toDouble)
    }
    jobOk && visible
  }

  def firstAnswers(spark: SparkSession, r: Int): Unit = {
    jm = new graft.jobs.JobManager(spark)
    reads("first").foreach(_.build(spark, corpus(r)).collect())
    require(ingest(spark, None, new PhaseOut, corpus(r),
      m.get("setup_batches").get(r), s"setup$r", Long.MaxValue),
      s"setup ingest $r failed")
  }

  def timed(spark: SparkSession, tr: Option[Tracer], stream: Int): PhaseOut = {
    val out = new PhaseOut
    val rounds = m.get("streams").get(stream.toString).get("rounds")
      .elements().asScala.toIndexedSeq
    val b0 = BuildTimer.count
    val t0 = System.nanoTime()
    rounds.zipWithIndex.foreach { case (rd, i) =>
      val req = s"s$stream-r$i"
      val bound = rd.get("bound").asLong
      try ingest(spark, tr, out, serving, rd.get("batch"), req, bound)
      catch { case e: Exception =>
        out.ops.add(OpRec(req, "ingest", "ingest", 0, ok = false, tr.isDefined))
        out.fail(req, e)
      }
      rd.get("reads").elements().asScala.zipWithIndex.foreach { case (o, j) =>
        timedRead(spark, tr, out, s"$req-q$j", Ops.read(o, nVecs), serving, bound)
      }
    }
    out.wallS = (System.nanoTime() - t0) / 1e9
    out.buildsTimed = BuildTimer.count - b0
    out
  }

  override def layers(out: PhaseOut): Map[String, Double] = Map(
    "parquetstore.append_ms" -> out.mean("append_ms"),
    "parquetstore.write_amplification" ->
      out.samplesOf("written_bytes").sum /
        math.max(1.0, out.samplesOf("batch_bytes").sum),
    "pipeline.validate_ms" -> out.mean("validate_ms"),
    "chunker.chunk_ms" -> out.mean("chunk_ms"),
    "chunker.chunks" -> out.mean("chunks"),
    "jobmanager.queue_ms" -> out.mean("queue_ms"),
    "jobmanager.run_ms" -> out.mean("run_ms"))
}

object Main {
  private val t00 = System.nanoTime()
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Progress line on stderr (the run log), with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"svcbench ${(System.nanoTime() - t00) / 1e9}%.2f s: $msg")

  /** A session with exactly `graft.Bench`'s settings at local[4], plus a
    * run-private warehouse and scratch directory. */
  def session(warehouse: String, scratch: String,
      conf: Seq[(String, String)]): SparkSession = {
    val b = SparkSession.builder()
      .master("local[4]")
      .appName("svcbench")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse)
      .config("spark.local.dir", scratch)
    conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.NativeFunctions.registerAll(spark)
    spark
  }

  /** Median dispatch cost of a no-op job, in ms. */
  def noopFloorMs(spark: SparkSession): Double = {
    val xs = (0 until 7).map { _ =>
      val t0 = System.nanoTime()
      spark.range(1).count()
      (System.nanoTime() - t0) / 1e6
    }.sorted
    xs(xs.length / 2)
  }

  def bytesUnder(dirs: String*): Long = dirs.map(Paths.get(_))
    .filter(Files.exists(_)).map { p =>
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size(_)).sum
      finally s.close()
    }.sum

  /** Usage: svcbench.Main <trace 0|1> (<manifest.json> <run dir>)+.
    * Runs each manifest in turn and writes `result.json` into its run
    * dir; more than one manifest is a training run for the class-data
    * sharing archive. */
  def main(argv: Array[String]): Unit = {
    val runs = argv.toSeq.drop(1).grouped(2).toSeq
    runs.zipWithIndex.foreach { case (Seq(manifest, dir), k) =>
      val spark = run(manifest, dir, argv(0) == "1")
      if (k < runs.size - 1) spark.stop()
    }
    // exit stops the session through Spark's shutdown hook; the
    // JobManager pool's non-daemon threads would keep the JVM alive
    System.exit(0)
  }

  /** One run; returns the serving session, still open. */
  def run(manifest: String, dir: String, trace: Boolean): SparkSession = {
    val m = json.readTree(Paths.get(manifest).toFile)
    val w: Workload = m.get("workload").asText match {
      case "search_mix"    => new SearchMix(m, dir)
      case "ingest_search" => new IngestSearch(m, dir)
      case other           => sys.error(s"unknown workload $other")
    }
    val scratch = Paths.get(dir, "scratch").toString

    // setup: session start until every request class answered once,
    // repeated on fresh corpora and warehouses; the last session serves
    val setups = (0 until w.setupReps).map { r =>
      val (b0, s0) = (BuildTimer.count, BuildTimer.totalSec)
      val t0 = System.nanoTime()
      val spark = session(w.warehouse(r), scratch, w.conf)
      w.firstAnswers(spark, r)
      val dt = (System.nanoTime() - t0) / 1e9
      if (r < w.setupReps - 1) spark.stop()
      log(f"setup rep $r: $dt%.3f s")
      (spark, dt, BuildTimer.count - b0, BuildTimer.totalSec - s0)
    }
    val spark = setups.last._1
    System.gc()
    val floorBefore = noopFloorMs(spark)
    val plain = w.timed(spark, None, 1)
    log(f"timed phase: ${plain.ops.size} ops in ${plain.wallS}%.3f s")
    val traced = if (!trace) None else {
      val tr = new Tracer(spark)
      val out = w.timed(spark, Some(tr), 2)
      tr.drain()
      log(f"traced phase: ${out.ops.size} ops in ${out.wallS}%.3f s")
      Some((tr, out))
    }
    val floorAfter = noopFloorMs(spark)

    def med(xs: Seq[Double]) = {
      val ys = xs.sorted
      (ys((ys.length - 1) / 2) + ys(ys.length / 2)) / 2
    }
    val layers = traced.map { case (tr, out) =>
      Trace.layers(tr, out.ops.asScala.filter(_.traced)
        .map(o => o.req -> o.ms).toMap) ++
        w.layers(out) ++ Map(
        "scaleops.builds" -> med(setups.map(_._3.toDouble)),
        "scaleops.build_s" -> med(setups.map(_._4)),
        "scaleops.builds_timed" -> (plain.buildsTimed + out.buildsTimed).toDouble,
        "host.noop_floor_before_ms" -> floorBefore,
        "host.noop_floor_after_ms" -> floorAfter)
    }
    val result = Map(
      "setup_s" -> setups.map(_._2),
      "noop_floor_ms" -> Seq(floorBefore, floorAfter),
      "plain" -> phaseJson(plain),
      "traced" -> traced.map(t => phaseJson(t._2)).orNull,
      "layers" -> layers.orNull,
      "spans" -> traced.map(_._1.spans.asScala.toSeq
        .map(s => Seq(s.req, s.name, s.startNs, s.endNs))).orNull)
    json.writeValue(Paths.get(dir, "result.json").toFile, result)
    spark
  }

  def phaseJson(p: PhaseOut): Map[String, Any] = Map(
    "wall_s" -> p.wallS,
    "builds_timed" -> p.buildsTimed,
    "ops" -> p.ops.asScala.toSeq.map(o => Seq(o.cls, o.kind, o.ms, o.ok,
      o.traced)),
    "errors" -> p.errors.asScala.toSeq,
    "visible_ms" -> p.samplesOf("visible_ms"),
    "checks" -> p.checks.asScala.toSeq.map(c => Map(
      "req" -> c.req, "cls" -> c.cls, "sql" -> c.sql, "dir" -> c.dir,
      "doc_bound" -> c.docBound, "columns" -> c.columns,
      "rows" -> c.rows.map(r => json.readTree(r.json)))))
}
