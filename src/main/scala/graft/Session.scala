package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built, so Bench, Verify, the tests and
  * every tool main plan alike. */
object Session {
  /** `local[cpus]` with shuffle partitions = cpus, AQE on, UTC session
    * time zone, no UI, log level WARN. Returns the existing session if
    * one is active in this JVM. */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Executor threads: `SPARK_GRAFT_CPUS`, or the host core count when
    * it is unset. */
  def cpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  def parseCpus(value: Option[String]): Int = value match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(v) => v.toIntOption.filter(_ > 0).getOrElse(throw
      new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
  }
}
