package graft

import org.scalatest.funsuite.AnyFunSuite

/** SparkEntry.select: the query selection Bench, Verify and Profile share. */
class SelectSpec extends AnyFunSuite {

  test("an unknown name throws, naming the variable and the bad names") {
    val e = intercept[IllegalArgumentException](SparkEntry.select(
      "SPARK_GRAFT_QUERIES", Some("q22_catalog_trim,nope_b,nope_a")))
    assert(e.getMessage.contains("SPARK_GRAFT_QUERIES"), e.getMessage)
    assert(e.getMessage.contains("nope_a,nope_b"), e.getMessage)
    assert(!e.getMessage.contains("q22_catalog_trim"), e.getMessage)
  }

  test("unset selects all 193 queries, sorted by name") {
    val all = SparkEntry.select("SPARK_GRAFT_QUERIES", None).map(_._1)
    assert(all.size == 193)
    assert(all == SparkEntry.queries.keys.toSeq.sorted)
    val unsetVar = "SPARK_GRAFT_SELECT_SPEC_UNSET"
    assume(!sys.env.contains(unsetVar))
    assert(SparkEntry.select(unsetVar).map(_._1) == all)
  }

  test("a list with a blank entry ignores the blank") {
    val picked = SparkEntry.select("SPARK_GRAFT_BENCH_QUERIES",
      Some("q22_catalog_trim, ,,q83_epoch_pipeline")).map(_._1)
    assert(picked == Seq("q22_catalog_trim", "q83_epoch_pipeline"))
  }
}
