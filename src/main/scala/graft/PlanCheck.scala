package graft

/** Prints the formatted physical plan of selected queries — the
  * plan-quality review loop (pushdown, pruning, join strategy, top-k).
  *
  *   sbt "runMain graft.PlanCheck fts_topk q3_shipping ..."   (none = all)
  */
object PlanCheck {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Session.create(Session.cpus, Session.cpus)
    val wanted =
      if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    wanted.foreach { name =>
      SparkEntry.queries.get(name).foreach { fn =>
        println(s"\n===== $name =====")
        try println(fn(spark, dir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        catch { case e: Exception => println(s"(failed: ${e.getMessage})") }
      }
    }
    spark.stop()
  }
}
