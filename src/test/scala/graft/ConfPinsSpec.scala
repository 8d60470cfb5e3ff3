package graft

/** SPARK_GRAFT_CONF parsing shared by the TimeQuery and ProfileQuery
  * mains. */
class ConfPinsSpec extends SparkSpec {

  test("conf pins skip empty segments and name a segment without '='") {
    val (a, b) = ("graft.spec.pinA", "graft.spec.pinB")
    try {
      TimeQuery.setConfPins(spark, Some(s";$a = 1;; $b=x=y ;"))
      assert(spark.conf.get(a) == "1")
      assert(spark.conf.get(b) == "x=y")
      TimeQuery.setConfPins(spark, Some(""))
      val e = intercept[IllegalArgumentException](
        TimeQuery.setConfPins(spark, Some(s"$a=2;oops")))
      assert(e.getMessage.contains("'oops'"))
    } finally Seq(a, b).foreach(spark.conf.unset)
  }
}
