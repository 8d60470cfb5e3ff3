package graft

/** The session factory: its `SPARK_GRAFT_CONF` parsing, and the
  * settings and pins a factory session carries. */
class ConfPinsSpec extends SparkSpec {

  test("conf pins skip empty segments and name a segment without '='") {
    val (a, b) = ("graft.spec.pinA", "graft.spec.pinB")
    assert(Session.confPins(Some(s";$a = 1;; $b=x=y ;")) ==
      Seq(a -> "1", b -> "x=y"))
    assert(Session.confPins(Some("")).isEmpty)
    assert(Session.confPins(None).isEmpty)
    val e = intercept[IllegalArgumentException](
      Session.confPins(Some(s"$a=2;oops")))
    assert(e.getMessage.contains("'oops'"))
  }

  test("a factory session carries the shared settings and the pins") {
    // the suite's session is a factory session
    Seq("spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.ui.enabled" -> "false").foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, k)
    }
    assert(spark.catalog.functionExists("vec_dot"))
    // pins apply after the shared settings (the factory reuses this
    // JVM's running session and sets its runtime settings)
    val pin = "graft.spec.pinC"
    try {
      val s = Session.create(4, 4,
        pins = Some(s"$pin=on;spark.sql.shuffle.partitions=3"))
      assert(s eq spark)
      assert(s.conf.get(pin) == "on")
      assert(s.conf.get("spark.sql.shuffle.partitions") == "3")
    } finally {
      spark.conf.unset(pin)
      spark.conf.set("spark.sql.shuffle.partitions", "4")
    }
  }
}
