package graft

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * Methodology: one untimed warm-up pass (JIT + codegen + file-cache +
  * shuffle-service warm), then per-query minimum of N timed runs
  * (default 3) — steady-state numbers, the regime a long-lived Spark
  * application actually runs in. Min-of-N is the point: the host VM
  * shows up to ±4× single-run scheduler/GC noise at these sub-second
  * scales (proven round 3: an unchanged binary moved individual queries
  * 0.12→0.51 s and 3.15→1.42 s between rounds), so no single-run number
  * is bankable.
  *
  * The "queries" numbers time exactly what a caller pays: DataFrame
  * construction + count() (one Catalyst pass + execution) — nothing is
  * double-planned inside the timed region. A rep that throws is
  * discarded; a query reports -1 only when EVERY rep failed.
  *
  * Reported extras (additive to the driver contract):
  *   - "plan": per-query seconds to analyze+optimize+physically plan
  *     (DataFrame construction through executedPlan), min-of-N, measured
  *     in a SEPARATE untimed pass — the fixed Catalyst floor each query
  *     pays regardless of data volume; -1 for a query whose builder
  *     starts jobs (not separable from execution).
  *   - "builder_jobs" (detail): the Spark jobs each query's pre-touch
  *     started while its DataFrame was being built, counted by
  *     [[JobCounter]] — the record that decides plan = -1.
  *   - "floor_noop": min-of-N seconds for `spark.range(1).count` — pure
  *     job-dispatch cost, the irreducible per-job scheduling overhead.
  *     Also on the stdout contract line: it moves with HOST LOAD, not
  *     with HEAD, so two runs whose noop floors differ are not
  *     comparable rep-for-rep.
  *   - "rep_max" (detail) / "contended_n" + "spread_max" (stdout):
  *     per-query max-rep seconds and the count/worst of queries whose
  *     max/min spread exceeds 2× — measured under contention. A noisy
  *     session is thereby SELF-IDENTIFYING (r15 verdict #2: same-HEAD
  *     totals swung 36% between driver and builder sessions; per-query
  *     mins are the bankable numbers, and these fields say when a
  *     session's mins were squeezed by outside load).
  *   - "reps": N.
  *
  * Tuning for the sf0.1 local[32] regime (all env-overridable):
  *   - shuffle partitions default to 8, the measured sweet spot for
  *     this regime (84-query totals: 32 parts ≈ 29.2 s, 8 ≈ 23.9 s,
  *     4 ≈ 25.7 s — below 8 the big dedup/winnow shuffles lose
  *     parallelism, above it task-scheduling overhead dominates the
  *     sub-second queries). AQE coalescing already folds tiny
  *     post-shuffle partitions, so the setting caps scheduling
  *     fan-out, not correctness. This is a BENCH-regime default:
  *     at warehouse scale partitions are sized by shuffle bytes
  *     (~128 MB/partition), not by a constant.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark = Session.create(Session.cpus,
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", "8").toInt)
    val names = SparkEntry.queries.keys.toSeq.sorted
    // every failed warm-up, pre-touch, timed rep or plan pass lands in
    // the detail file's "errors" list (query, pass, exception) instead
    // of vanishing; a timed rep that throws is still discarded
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    def error(name: String, pass: String, e: Throwable): Unit = {
      def js(s: String): String = s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      }
      errors += s"""{"query":"${js(name)}","pass":"$pass",""" +
        s""""error":"${js(e.toString.take(1000))}"}"""
    }
    def attempt[T](name: String, pass: String)(body: => T): Option[T] =
      try Some(body)
      catch {
        case scala.util.control.NonFatal(e) => error(name, pass, e); None
      }
    // warm-up pass (untimed) — this is also the ENSURE PRE-PASS: every
    // persisted family's first touch lands here, and the builders'
    // aggregate wall time is reported as ensure_build_sec on the
    // contract line (r18 verdict #1: first-touch build cost must be a
    // visible number, not an unattributable slowdown of whichever
    // session builds first). A nonzero ensure_build_late_sec in the
    // detail file means something REBUILT inside the timed loop — a
    // bug signal, never expected.
    names.foreach { name =>
      attempt(name, "warmup")(SparkEntry.queries(name)(spark, sfDir).count())
    }
    val ensureBuildSec = graft.operators.ScaleOps.BuildTimer.totalSec
    val ensureBuildN = graft.operators.ScaleOps.BuildTimer.count
    // drop the warm-up pass's persist()ed frames so the FIRST timed
    // query doesn't run under ~110 queries of dead-cache LRU churn the
    // per-query release below spares every later query
    Timing.release(spark)
    // GC barrier so warm-up garbage is not collected mid-measurement
    System.gc()
    Thread.sleep(500)
    val floorNoop = (0 until reps).map { _ =>
      val t0 = System.nanoTime()
      spark.range(1).count()
      (System.nanoTime() - t0) / 1e9
    }.min
    // timed pass: Timing's warm regime — one untimed pre-touch
    // re-establishes steady state for THIS query (the global warm-up
    // ran up to ~280 queries ago, and the per-query releases plus OS
    // page-cache churn can leave rep 1 partially cold: the round-10
    // driver stamp showed a 5-13x swing on the queries sharing the FTS
    // index), then min of N successful runs of construction + count(),
    // nothing double-planned; -1 only if every rep failed. The timed
    // runs' jobs per rep are the mechanical input to the pairing
    // tool's floor_bound tag (r17 verdict #4).
    val results = names.map { name =>
      val m = Timing.measure(spark, reps, Timing.Warm)(
        SparkEntry.queries(name)(spark, sfDir))
      m.errors.foreach { case (pass, e) => error(name, pass, e) }
      // separate pass: planning floor (construction through
      // executedPlan). A builder that started jobs in the pre-touch
      // (point lookups, iterative supersteps, streaming sinks, index
      // builds) would EXECUTE them again here, so its plan floor is
      // not separable: plan = -1 and no pass. The pass is counted too:
      // a job it fires is an error, not a planning number.
      val plans =
        if (m.builderJobs > 0) Seq.empty
        else {
          val (ps, jobs) = JobCounter.count(spark) {
            (0 until reps).flatMap { _ =>
              attempt(name, "plan") {
                val t0 = System.nanoTime()
                SparkEntry.queries(name)(spark, sfDir)
                  .queryExecution.executedPlan
                (System.nanoTime() - t0) / 1e9
              }
            }
          }
          if (jobs == 0) ps
          else {
            error(name, "plan", new IllegalStateException(
              s"plan pass started $jobs Spark jobs"))
            Seq.empty
          }
        }
      // operators that persist() intermediate frames (minhash family,
      // mixture weights) create NEW cached copies per invocation;
      // releasing between queries keeps the memory profile flat
      Timing.release(spark)
      (name, m.min, if (plans.nonEmpty) plans.min else -1.0, m.max,
        m.jobsPerRep, m.builderJobs)
    }
    def jmap(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    // a query that failed every rep must not shrink the headline total
    // (summing its -1 sentinel would make failures look like speedups)
    val ok = results.filter(_._2 >= 0)
    val failed = results.collect { case (n, t, _, _, _, _) if t < 0 => "\"" + n + "\"" }
    val total = ok.map(_._2).sum
    // Contention self-identification (r15 verdict #2: a 36% same-HEAD
    // total swing can hide a real 2× regression): a query whose max/min
    // rep spread exceeds 2× was measured under host contention — its
    // min is still the steady-state number (that is min-of-N's point),
    // but the artifact flags HOW MANY measurements were contended and
    // the worst spread, so a noisy run is self-identifying instead of
    // masquerading as a regression. The noop floor rides the stdout
    // line for the same reason: it moves with host load, not with HEAD.
    val spreads = ok.map(r => (r._1, if (r._2 > 0) r._4 / r._2 else 1.0))
    val contended = spreads.filter(_._2 > 2.0)
    val worstSpread =
      if (spreads.isEmpty) 1.0 else spreads.map(_._2).max
    // Full-precision detail (plan floor, noop floor) goes to a file; the
    // stdout contract line must stay SHORT — the driver keeps only the
    // last 2000 chars of stdout, and rounds 5/6 proved a ~4.6k line is
    // silently truncated into an unparseable tail. Per-query seconds are
    // rounded to 3 decimals (1 ms) on stdout; full precision is in the
    // detail file.
    // builds that ran AFTER the warm-up pre-pass (inside the timed
    // loop) — expected 0; nonzero means an ensure-guard rebuilt
    val ensureBuildLate =
      graft.operators.ScaleOps.BuildTimer.totalSec - ensureBuildSec
    val detail = s"""{"metric":"total","value":$total,"unit":"sec","queries":${jmap(results.map(r => (r._1, r._2)))},"sf":"$sfDir","reps":$reps,"plan":${jmap(results.map(r => (r._1, r._3)))},"rep_max":${jmap(results.map(r => (r._1, r._4)))},"jobs":${jmap(results.map(r => (r._1, r._5)))},"builder_jobs":${jmap(results.map(r => (r._1, r._6.toDouble)))},"contended":[${contended.map("\"" + _._1 + "\"").mkString(",")}],"failed":[${failed.mkString(",")}],"floor_noop":$floorNoop,"ensure_build_sec":$ensureBuildSec,"ensure_build_n":$ensureBuildN,"ensure_build_late_sec":$ensureBuildLate,"errors":[${errors.mkString(",")}]}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_detail.json"),
      detail.getBytes("UTF-8"))
    // degrade the per-query map until the line fits (~1900 chars stdout
    // tail budget after sbt's trailing "[success]" line): first lower
    // precision with ALL queries; past ~90 queries even 1-decimal
    // doesn't fit, so fall back to the LARGEST-k entries (the ones a
    // reader actually compares round-over-round) plus a "rest" rollup
    // {n, sum} so the map still accounts for the whole total. Full
    // precision for every query is always in bench_detail.json.
    def r3(v: Double): Double = math.rint(v * 1000) / 1000
    def r2(v: Double): Double = math.rint(v * 100) / 100
    val sfShort = sfDir.split('/').last
    val failedPart =
      if (failed.isEmpty) "" else s""","failed":[${failed.mkString(",")}]"""
    // paired DuckDB denominator from the most recent same-sf
    // tools/bench_compare.py run on this host, if one exists — stamps
    // the contract line with the ratio's other half so a round's bench
    // artifact is self-contained (numerator and denominator no longer
    // live in different sessions' notes)
    val duckPart = {
      val p = java.nio.file.Paths.get("bench_duckdb.json")
      if (!java.nio.file.Files.exists(p)) ""
      else {
        val s = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        def field(k: String): Option[String] =
          s""""$k"\\s*:\\s*([0-9.]+)""".r.findFirstMatchIn(s)
            .map(_.group(1))
        (for {
          d <- field("duckdb_total") if s.contains(s""""sf": "$sfDir"""")
          n <- field("n_paired")
        } yield s""","duckdb_paired":{"total":$d,"n":$n}""").getOrElse("")
      }
    }
    // the one-time streaming-family engine run amortized by the bridge
    // sinks (StreamBridge family runner): reported so the amortization
    // is explicit in the artifact, not hidden in warm-up
    val streamPart = {
      val s = graft.streaming.StreamBridge.familyBuildSecFor(sfDir)
      if (s > 0) s""","stream_family_build_sec":${r2(s)}""" else ""
    }
    // ensure_build_sec on the contract line: the warm-up pre-pass's
    // persisted-family build cost, so a cold-warehouse session's
    // artifact carries its own first-touch figure (r18 verdict #1)
    val ensurePart =
      s""","ensure_build_sec":${r2(ensureBuildSec)},"ensure_build_n":$ensureBuildN"""
    def envelope(queriesJson: String, extra: String): String =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$queriesJson,"sf":"$sfShort","reps":$reps,"floor_noop":${r3(floorNoop)},"contended_n":${contended.length},"spread_max":${r2(worstSpread)}$extra$failedPart$duckPart$streamPart$ensurePart}"""
    val byCost = ok.sortBy(r => (-r._2, r._1))
    val fullLadder = Seq(3, 2, 1).iterator.map { digits =>
      val p = math.pow(10, digits)
      def rd(v: Double): Double = math.rint(v * p) / p
      envelope(jmap(results.map(r => (r._1, rd(r._2)))), "")
    }
    val topKLadder = Iterator.iterate(byCost.length - 5)(_ - 10)
      .takeWhile(_ > 0).map { k =>
        val kept = byCost.take(k).sortBy(_._1)
        val rest = byCost.drop(k)
        envelope(jmap(kept.map(r => (r._1, r2(r._2)))),
          s""","rest":{"n":${rest.length},"sum":${r2(rest.map(_._2).sum)}}""")
      }
    // 1800, not 1850: the driver tails RAW stdout, so sbt's "[info] "
    // prefix rides inside the 2000-char budget with the JSON
    val line = (fullLadder ++ topKLadder).find(_.length <= 1800)
      .getOrElse(envelope("{}",
        ""","note":"per-query map exceeds tail budget; see bench_detail.json""""))
    println(line)
    spark.stop()
  }
}
