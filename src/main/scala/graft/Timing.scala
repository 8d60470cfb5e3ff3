package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one timing loop of Bench, TimeQuery and ScaleLadder: an untimed
  * pre-touch, then N timed runs of DataFrame construction + `count()`,
  * under an explicit cache regime. */
object Timing {

  /** What a run finds cached from earlier runs of the same query. */
  sealed abstract class Regime(val name: String)

  /** Caches kept across runs: the steady state of a long-lived serving
    * process (Bench's regime; the min of N is the number). */
  case object Warm extends Regime("warm")

  /** Persisted frames released before every run, the pre-touch
    * included: each run pays its own cache fills (persisted
    * generations and driver memos stay). */
  case object Cold extends Regime("cold")

  def regime(name: String): Regime = Seq(Warm, Cold).find(_.name == name)
    .getOrElse(throw new IllegalArgumentException(
      s"unknown regime '$name' (want warm or cold)"))

  /** One query's measurement. `builderJobs` counts the jobs the
    * pre-touch started while building the DataFrame, before its
    * action (-1 if the pre-touch failed); `jobs` counts every job of
    * the timed runs; `rows` is the last successful run's count. Each
    * failed pass is in `errors` as (pass, exception); a failed timed
    * run is left out of `runs`. */
  final case class Result(builderJobs: Int, runs: Seq[Double], jobs: Int,
      rows: Long, errors: Seq[(String, Throwable)]) {
    def min: Double = if (runs.isEmpty) -1.0 else runs.min
    def max: Double = if (runs.isEmpty) -1.0 else runs.max
    def jobsPerRep: Double =
      if (runs.isEmpty) -1.0 else jobs.toDouble / runs.size
  }

  /** Unpersists the operator-internal frames of earlier calls
    * ([[graft.operators.CacheScope]]) and everything else cached, so
    * dead cached copies do not accumulate across queries. Catalog
    * tables (the persisted indexes) live on disk and stay. */
  def release(spark: SparkSession): Unit = {
    graft.operators.CacheScope.release(spark)
    spark.catalog.clearCache()
  }

  /** Times `query` (construction + `count()`) `reps` times after one
    * untimed pre-touch, which re-establishes this query's steady state
    * and records its builder jobs. */
  def measure(spark: SparkSession, reps: Int, regime: Regime)(
      query: => DataFrame): Result = {
    val errors = Seq.newBuilder[(String, Throwable)]
    def attempt[T](pass: String)(body: => T): Option[T] =
      try Some(body)
      catch {
        case scala.util.control.NonFatal(e) => errors += pass -> e; None
      }
    def prepare(): Unit = if (regime == Cold) release(spark)
    prepare()
    val builderJobs = attempt("pretouch") {
      val (df, jobs) = JobCounter.count(spark)(query)
      df.count()
      jobs
    }.getOrElse(-1)
    var rows = -1L
    val (runs, jobs) = JobCounter.count(spark) {
      (0 until reps).flatMap { _ =>
        prepare()
        attempt("timed") {
          val t0 = System.nanoTime()
          rows = query.count()
          (System.nanoTime() - t0) / 1e9
        }
      }
    }
    Result(builderJobs, runs, jobs, rows, errors.result())
  }
}
