package graft

/** The session factory's conf set, and SPARK_GRAFT_CPUS validation. */
class SessionSpec extends SparkSpec {

  test("Session.local sets the bench confs") {
    val conf = spark.conf
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(org.apache.logging.log4j.LogManager.getRootLogger.getLevel ==
      org.apache.logging.log4j.Level.WARN)
  }

  test("SPARK_GRAFT_CPUS: a positive integer, or the host core count when unset") {
    assert(Session.parseCpus(Some("3")) == 3)
    assert(Session.parseCpus(None) == Runtime.getRuntime.availableProcessors)
  }

  test("SPARK_GRAFT_CPUS rejects zero, negatives, non-numbers and blank") {
    Seq("0", "-1", "x", "").foreach { v =>
      val e = intercept[IllegalArgumentException](Session.parseCpus(Some(v)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
      assert(e.getMessage.contains(s"'$v'"), e.getMessage)
    }
  }
}
