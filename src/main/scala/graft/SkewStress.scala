package graft

import org.apache.spark.sql.functions._

/** Skew-stress rung (VERDICT r12 #9): on a deterministic zipf-keyed
  * corpus, measure the salted exact count-distinct
  * ([[graft.operators.ScaleOps.saltedDistinctCount]]) against the
  * plain `groupBy(key).agg(countDistinct(value))` plan, whose final
  * aggregate funnels one row per distinct value of the hot key into a
  * single reducer. Prints one JSON line
  * {"n":…,"unsalted_sec":…,"salted_sec":…,"speedup":…,"rows":…}
  * and exits nonzero if results differ (exactness is part of the
  * claim; the wall-clock win is recorded in BENCHNOTES, not asserted,
  * because local timings jitter).
  *
  * Key law: user_id = n / id for id in 1..n — the head key (1) owns
  * half the rows; distinct item domain capped at 10⁶ so the head
  * key's distinct set is large enough to expose the funnel.
  *
  *   runMain graft.SkewStress [n]   (default 5e6)
  */
object SkewStress {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 5000000L
    // both plans run under identical session confs
    val spark = Session.create(Session.cpus, Session.cpus)
    val df = spark.range(1L, n + 1L)
      .select((lit(n) / col("id")).cast("long").as("user_id"),
        (col("id") % 1000000L).as("item"))
      .persist()
    df.count() // materialize input outside both timings

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    // warm both code paths once at small scale (JIT)
    val warm = df.limit(10000)
    warm.groupBy("user_id").agg(countDistinct(col("item"))).count()
    graft.operators.ScaleOps.saltedDistinctCount(warm, "user_id",
      "item", 32).count()

    val (plainRows, plainSec) = time {
      df.groupBy("user_id")
        .agg(countDistinct(col("item")).as("n_distinct"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val (saltRows, saltSec) = time {
      graft.operators.ScaleOps
        .saltedDistinctCount(df, "user_id", "item", 32)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val exact = plainRows == saltRows
    println(s"""{"n":$n,"unsalted_sec":${math.rint(plainSec * 1000) / 1000},""" +
      s""""salted_sec":${math.rint(saltSec * 1000) / 1000},""" +
      s""""speedup":${math.rint(plainSec / saltSec * 100) / 100},""" +
      s""""rows":${plainRows.size},"exact":$exact}""")
    spark.stop()
    if (!exact) sys.exit(1)
  }
}
