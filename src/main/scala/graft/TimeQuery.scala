package graft

/** Local-dev timing of a SUBSET of SparkEntry.queries — the per-query
  * iteration loop Bench is too heavy for (Bench times all ~280 entries;
  * plan-tuning one operator needs seconds for THAT operator only).
  * Usage: runMain graft.TimeQuery <sfDir> <name>[,<name>...] [reps] [warm|cold]
  * Runs [[Timing.measure]] per query under the given regime (default
  * cold) at `local[SPARK_GRAFT_CPUS]` with as many shuffle partitions;
  * `SPARK_GRAFT_CONF` pins any other setting. Prints min/median
  * seconds, jobs per rep and the pre-touch's builder jobs; a failed
  * pass prints a TIMEQ-FAIL line and makes the exit code 1. */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val reps = if (args.length > 2) args(2).toInt else 3
    val regime = Timing.regime(if (args.length > 3) args(3) else "cold")
    val cpus = Session.cpus
    val spark = Session.create(cpus, cpus)
    val failed = names.map { name =>
      val fn = SparkEntry.queries(name)
      val m = Timing.measure(spark, reps, regime)(fn(spark, sfDir))
      m.errors.foreach { case (pass, e) =>
        println(s"TIMEQ-FAIL $name pass=$pass $e")
      }
      val ts = m.runs.sorted
      if (ts.nonEmpty)
        println(f"TIMEQ $name%s min=${ts.head}%.3f med=${ts(ts.size / 2)}%.3f " +
          f"jobs=${m.jobsPerRep}%.1f builder_jobs=${m.builderJobs} " +
          s"regime=${regime.name} cpus=$cpus")
      m.errors.nonEmpty
    }
    spark.stop()
    if (failed.contains(true)) sys.exit(1)
  }
}
