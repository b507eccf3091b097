package graft.tools

import java.io.ByteArrayOutputStream

import graft.SparkSpec

/** Every Profile mode runs once on sf0.001 through the shared session. */
class ProfileSpec extends SparkSpec {
  private val Dir = "/root/testdata/sf0.001"
  private val Q = "q22_catalog_trim"

  private def profile(args: String*): String = {
    val out = new ByteArrayOutputStream()
    Console.withOut(out)(Profile.run(spark, Dir, args))
    out.toString("UTF-8")
  }

  test("run: one CSV row per rep with jobs, planning phases and task ms") {
    val lines = profile("run", "--reps", "2", Q).linesIterator.toSeq
    assert(lines.head ==
      "query,rep,wall_ms,rows,jobs,analysis_ms,optimization_ms,planning_ms,task_ms")
    val rows = lines.filter(_.startsWith(s"$Q,"))
    assert(rows.map(_.split(",")(1)) == Seq("1", "2"))
    rows.foreach { r =>
      val f = r.split(",")
      assert(f.length == 9, r)
      assert(f(3).toLong > 0, r) // rows
      assert(f(4).toInt >= 1, r) // jobs
    }
  }

  test("stages: per-stage table and sampled frames for the warm rep") {
    val out = profile("stages", "--reps", "1", Q)
    assert(out.contains(s"== $Q rep 1:"), out)
    assert(out.contains("stage  tasks"), out)
    assert("stages=[1-9]".r.findFirstIn(out).nonEmpty, out)
    assert(out.contains("top sampled executor frames:"), out)
  }

  test("show prints the rows") {
    val out = profile("show", Q)
    assert(out.contains(s"== $Q @ $Dir"), out)
    assert(out.contains("+"), out)
  }

  test("explain prints the formatted physical plan") {
    val out = profile("explain", Q)
    assert(out.contains(s"== $Q"), out)
    assert(out.contains("Physical Plan"), out)
  }

  test("joblat times each probe") {
    assert(profile("joblat").linesIterator.count(_.endsWith("ms/op")) == 5)
  }

  test("bad mode, bad reps and unknown queries fail fast") {
    assert(intercept[IllegalArgumentException](profile("nope", Q))
      .getMessage.contains("unknown mode"))
    assert(intercept[IllegalArgumentException](profile("run", "--reps", "0", Q))
      .getMessage.contains("--reps"))
    assert(intercept[IllegalArgumentException](profile("show", "q0_missing"))
      .getMessage.contains("q0_missing"))
    assert(intercept[IllegalArgumentException](profile("joblat", "q83_epoch_pipeline"))
      .getMessage.contains("joblat takes no query names"))
  }
}
