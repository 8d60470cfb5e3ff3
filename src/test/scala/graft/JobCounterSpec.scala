package graft

/** [[JobCounter]]: the count Bench's plan pass reads in place of a
  * hand-kept list of builders that run driver actions. */
class JobCounterSpec extends SparkSpec {

  private def builder(name: String) = SparkEntry.queries(name)(spark, Sf0001)

  test("a builder with driver actions on forked threads is counted") {
    builder("hybrid_rrf").count() // builds the indexes it reads
    val (_, jobs) = JobCounter.count(spark)(builder("hybrid_rrf"))
    assert(jobs >= 1)
    // both tasks' jobs, the forked thread's included
    val (_, forked) = JobCounter.count(spark)(operators.DriverThreads.all(
      () => spark.range(3).collect(), () => spark.range(5).collect()))
    assert(forked == 2)
  }

  test("a block that sets its own job group is still counted") {
    val sc = spark.sparkContext
    val (n, jobs) = JobCounter.count(spark) {
      sc.setJobGroup("own-group", "spec", interruptOnCancel = false)
      try spark.range(7).collect().length finally sc.clearJobGroup()
    }
    assert(n == 7 && jobs == 1)
  }

  test("a pure builder counts 0, and the count restores the property") {
    builder("s3_pagination").count()
    val (df, jobs) = JobCounter.count(spark)(builder("s3_pagination"))
    assert(jobs == 0)
    assert(df.count() > 0)
    assert(spark.sparkContext.getLocalProperty("graft.jobCounter") == null)
  }

  test("Timing.measure records builder jobs, runs and failed passes") {
    val m = Timing.measure(spark, 2, Timing.Cold)(spark.range(10).toDF())
    assert(m.builderJobs == 0 && m.runs.size == 2 && m.rows == 10)
    assert(m.jobsPerRep >= 1.0 && m.errors.isEmpty)
    val lookup = Timing.measure(spark, 2, Timing.Warm) {
      spark.range(3).collect() // a driver action while building
      spark.range(3).toDF()
    }
    assert(lookup.builderJobs == 1 && lookup.min >= 0)
    val failing = Timing.measure(spark, 2, Timing.Warm)(
      throw new IllegalStateException("boom"))
    assert(failing.builderJobs == -1 && failing.runs.isEmpty)
    assert(failing.min == -1.0 && failing.jobsPerRep == -1.0)
    assert(failing.errors.map(_._1) == Seq("pretouch", "timed", "timed"))
    intercept[IllegalArgumentException](Timing.regime("lukewarm"))
  }
}
