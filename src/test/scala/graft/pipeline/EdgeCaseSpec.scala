package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The reference's production failure modes (SURVEY.md §5: README.md:20-36
  * changelog) as regression tests: single-image sets, zero-detection
  * epochs, solver non-convergence — each must degrade, not crash. */
class EdgeCaseSpec extends SparkSpec {
  import spark.implicits._

  private def flatField(imgId: Long, size: Int): org.apache.spark.sql.DataFrame = {
    val rnd = new scala.util.Random(imgId)
    (for (y <- 0 until size; x <- 0 until size)
      yield (imgId, y.toLong, x.toLong, 100.0 + rnd.nextGaussian()))
      .toDF("img_id", "y", "x", "v")
  }

  private def oneStarField(imgId: Long, size: Int): org.apache.spark.sql.DataFrame = {
    val rnd = new scala.util.Random(imgId)
    (for (y <- 0 until size; x <- 0 until size) yield {
      val d2 = (x - 16) * (x - 16) + (y - 16) * (y - 16)
      (imgId, y.toLong, x.toLong,
        100.0 + rnd.nextGaussian() + 600.0 * math.exp(-d2 / (2.0 * 1.8 * 1.8)))
    }).toDF("img_id", "y", "x", "v")
  }

  test("starless image: detection yields zero rows, no crash (psf_phot.py:53-55 guard)") {
    val px = Photometry.subtractBackground(flatField(1L, 48))
    assert(Photometry.detectStars(px, 10.0, 3).count() === 0)
  }

  test("starless image: iterative photometry returns empty results") {
    val px = Photometry.subtractBackground(flatField(1L, 48))
    val out = Photometry.iterativePhotometry(spark, px, 4.2, 2, 10.0)
    assert(out.count() === 0)
  }

  test("single-image set combines without shift matching (README.md:36 bug class)") {
    val px = oneStarField(1L, 48)
    val combined = Photometry.alignAndCombine(px, 48, 48)
    assert(combined.count() === 48L * 48)
    val peak = combined.filter($"y" === 16 && $"x" === 16).select("v").as[Double].head()
    assert(peak > 400.0)
  }

  test("multi-image starless epoch: combine degrades to unshifted median, pipeline aborts cleanly") {
    val px = flatField(1L, 48).union(flatField(2L, 48)).union(flatField(3L, 48))
    val combined = Photometry.alignAndCombine(px, 48, 48)
    assert(combined.count() === 48L * 48)
    val res = EpochPipeline.run(spark, px, 48, 48)
    assert(res.status === "aborted_no_fwhm")
  }

  test("EPSF photometry on a starless field returns empty, not NPE") {
    val px = Photometry.subtractBackground(flatField(1L, 48))
    val boxR = math.max(math.ceil(2 * 4.2).toInt, 2)
    assert(Photometry.epsfPhotometry(spark, px, 4.2, 2, 10.0,
      Photometry.detectStars(px, 10.0, boxR)).count() === 0)
  }

  test("plateau peaks (equal adjacent maxima) detect as a single star") {
    val rows = for (y <- 0 until 32; x <- 0 until 32) yield {
      // flat-topped star: a 2×2 saturated plateau at exactly 5000
      val plateau = (x == 15 || x == 16) && (y == 15 || y == 16)
      val d2 = (x - 15.5) * (x - 15.5) + (y - 15.5) * (y - 15.5)
      val v = if (plateau) 5000.0 else 100.0 + 4000.0 * math.exp(-d2 / (2 * 2.0 * 2.0))
      (1L, y.toLong, x.toLong, v)
    }
    val px = Photometry.subtractBackground(rows.toDF("img_id", "y", "x", "v"))
    assert(Photometry.detectStars(px, 10.0, 3).count() === 1)
  }

  test("scale smoke: 3×256² frames align, combine and detect correctly") {
    def bigField(imgId: Long, shift: (Int, Int)) = {
      val rnd = new scala.util.Random(imgId)
      val stars = (0 until 12).map(i => ((i * 67 % 230 + 12).toDouble,
        (i * 131 % 230 + 12).toDouble, 1500.0 + i * 100))
      (for (y <- 0 until 256; x <- 0 until 256) yield {
        var v = 100.0 + rnd.nextGaussian()
        stars.foreach { case (sx, sy, amp) =>
          val dx = x - (sx + shift._1); val dy = y - (sy + shift._2)
          val d2 = dx * dx + dy * dy
          if (d2 < 64) v += amp * math.exp(-d2 / (2 * 1.8 * 1.8))
        }
        (imgId, y.toLong, x.toLong, v)
      }).toDF("img_id", "y", "x", "v")
    }
    val px = bigField(0, (0, 0)).union(bigField(1, (2, -1))).union(bigField(2, (-2, 2)))
    val combined = Photometry.alignAndCombine(px, 256, 256)
    assert(combined.count() === 256L * 256)
    val detected = Photometry.detectStars(
      Photometry.subtractBackground(
        combined.select(lit(1L).as("img_id"), col("y"), col("x"), col("v"))),
      10.0, 4)
    assert(detected.count() === 12)
  }

  test("non-square frame: roll wraps x by width and y by height") {
    // 40(w)×24(h) frame, star near the x>height edge so a swapped wrap
    // (x mod 24) would both collide pixel keys and displace the peak
    def field(imgId: Long, sx: Int, sy: Int) =
      (for (y <- 0 until 24; x <- 0 until 40) yield {
        val dx = x - (30.0 + sx); val dy = y - (12.0 + sy)
        (imgId, y.toLong, x.toLong,
          100.0 + 1000.0 * math.exp(-(dx * dx + dy * dy) / (2 * 1.5 * 1.5)))
      }).toDF("img_id", "y", "x", "v")
    val px = field(0, 0, 0).union(field(1, 2, 1))
    val combined = Photometry.alignAndCombine(px, 40, 24)
    assert(combined.count() === 40L * 24)
    val peak = combined.filter($"y" === 12 && $"x" === 30)
      .select("v").as[Double].head()
    assert(peak > 900.0)
  }

  test("empty star table: grouping and annulus return empty, not error") {
    val empty = Seq.empty[(Long, Int, Double, Double, Double, Double)]
      .toDF("img_id", "star_id", "xcentroid", "ycentroid", "peak", "flux")
    assert(Photometry.linkGroups(Array.empty, Array.empty, 25.0).isEmpty)
    assert(Photometry.annulusBackground(flatField(1L, 16), empty, 3.0, 6.0).count() === 0)
  }
}

/** Plan-shape regression guards: the optimizations SURVEY.md §4 relies on
  * must stay visible in the physical plan. */
class OperatorPlanSpec extends SparkSpec {

  private def plan(name: String): String =
    graft.SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString

  test("q01: filter pushed to parquet scan, columns pruned") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"))
    assert(!p.contains("l_orderkey")) // pruned column never read
  }

  test("q04: dimension joins broadcast, no shuffle join") {
    val p = plan("q04_join_revenue_nation")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q22: bounded-sort shape — pruned window shuffle + tiny count agg") {
    // round-13 rewrite: the window path shuffles only each partition's
    // local top-35 per group (Partial WindowGroupLimit before its
    // exchange), and the trim's group counts travel through a SEPARATE
    // partial+final aggregate exchange of |groups| rows that broadcasts
    // back — two exchanges by design, neither carrying the full table
    // (the old one-exchange shape pushed every row through three
    // single-task window sorts: a 100× parallelism ceiling)
    val p = plan("q22_catalog_trim")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges === 2, s"expected window + count-agg shuffles, plan:\n$p")
    assert(p.contains("row_number(), 35, Partial"),
      s"window exchange input not pre-pruned:\n$p")
    assert(p.contains("partial_count"), s"count agg not partial+final:\n$p")
    assert(p.contains("BroadcastExchange"), s"counts not broadcast back:\n$p")
  }

  test("q25: udaf aggregate runs partial+final (two ObjectHashAggregate)") {
    val p = plan("q25_sigma_clipped_stats")
    val aggs = "ObjectHashAggregate".r.findAllIn(p).length
    assert(aggs >= 2)
  }

  test("q70: codegen dot product present in plan, no HOF fold") {
    // q70's registered result is SharedAnn's localCheckpoint (a
    // materialized RDD scan) — fence the brute-force builder it pins
    // twin built from SharedAnn.Cfg + SharedAnn.probes — the same
    // constants and probe set the registered builder reads
    val d = "/root/testdata/sf0.001"
    val emb = graft.Tables.embeddings(spark, d)
    val C = graft.queries.SharedAnn.Cfg
    val p = graft.operators.Similarity.bruteForceTopK(
      emb, "vec_id", "embedding",
      graft.queries.SharedAnn.probes(spark, d), "vec_id", "embedding",
      C.K).queryExecution.executedPlan.toString
    assert(p.contains("dotproduct") || p.contains("DotProduct"))
  }
}
