package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The in-memory steps of `EpochPipeline.epochKernel` against the
  * DataFrame operators that keep their rules for the registered queries,
  * and the kernel's job count. */
class EpochKernelSpec extends SparkSpec {
  import spark.implicits._

  private def frameOf(px: DataFrame): Photometry.Frame = {
    val rows = px.select("img_id", "y", "x", "v").as[(Long, Long, Long, Double)]
      .collect()
    Photometry.Frame.load(rows.head._1, rows.iterator)
  }

  test("the EPSF grid is the same bits under two partitionings and in memory") {
    val px = CrowdedField.pixels(spark).filter(col("img_id") === 1L).localCheckpoint()
    val stats = CrowdedField.stats(spark)
    val boxR = CrowdedField.BoxR
    val stars = Photometry.detectStars(px, 10.0, boxR, Double.MaxValue, 0, 0L,
      0L, Some(stats)).localCheckpoint()
    def grid(pixels: DataFrame, table: DataFrame): Seq[(Long, Long, Double)] =
      Photometry.buildEpsfIterative(pixels, table, boxR, 2)
        .select("w", "u", "epsf").as[(Long, Long, Double)]
        .collect().toSeq.sortBy(c => (c._1, c._2))
    val one = grid(px.repartition(1), stars.repartition(1))
    val many = grid(px.repartition(7, col("x")), stars.repartition(3, col("star_id")))
    assert(one.nonEmpty)
    assert(many === one)
    val table = stars.select("xcentroid", "ycentroid", "flux")
      .as[(Double, Double, Double)].collect().toSeq
    val inMemory = Photometry.epsfGrid(frameOf(px), table, boxR, 2).toSeq
      .map { case ((w, u), e) => (w, u, e) }.sortBy(c => (c._1, c._2))
    assert(inMemory === one)
  }

  test("the kernel's annulus equals annulusBackground, rings off the frame included") {
    val (w, h) = (40, 32)
    val px = KernelFields.image(5L, w, h, 100.0, Seq((12.0, 10.0, 900.0),
        (30.0, 20.0, 1500.0), (2.0, 29.0, 700.0)), sigma = 1.5)
      .toDF("img_id", "y", "x", "v").localCheckpoint()
    // inside, on half-pixel positions (rounded half up), with rings that
    // leave the frame at a side or a corner, and one wholly off the frame
    val stars = Seq((12.0, 10.0), (30.5, 20.5), (2.2, 29.6), (38.5, 0.5),
      (-0.5, 15.0), (-30.0, -30.0), (19.49, 16.5))
    Seq((2.0, 4.5), (3.7, 6.2), (0.0, 1.0)).foreach { case (rIn, rOut) =>
      val want = Photometry.annulusBackground(px,
          stars.zipWithIndex.map { case ((x, y), i) => (5L, i + 1, x, y) }
            .toDF("img_id", "star_id", "xcentroid", "ycentroid"), rIn, rOut)
        .select("star_id", "annulus_bkg").as[(Int, Double)].collect().toMap
      val got = Photometry.annulusOf(frameOf(px), stars, rIn, rOut)
      assert(got === stars.indices.map(i => want.get(i + 1)), s"ring $rIn..$rOut")
      assert(got.contains(None) && got.count(_.nonEmpty) >= 5)
    }
  }

  test("a frame's own clip equals backgroundStats: the median bit for bit") {
    import KernelFields.{DitherField, PeakField}
    Seq("crowded" -> CrowdedField.pixels(spark), "peak" -> PeakField.pixels(spark),
        "dithered" -> DitherField.pixels(spark, DitherField.dithered))
      .foreach { case (name, px) =>
        val want = Photometry.backgroundStats(px)
          .select("img_id", "bkg_median", "bkg_std").as[(Long, Double, Double)]
          .collect().toSeq.sortBy(_._1)
        val rows = px.select("img_id", "y", "x", "v").as[(Long, Long, Long, Double)]
          .collect().groupBy(_._1)
        val got = want.map { case (img, _, _) =>
          val (median, std) = Photometry.Frame.load(img, rows(img).iterator)
            .background()
          (img, median, std)
        }
        assert(got.map(g => (g._1, g._2)) === want.map(w => (w._1, w._2)), name)
        val worst = got.zip(want).map { case (g, w) =>
          math.abs(g._3 - w._3) / w._3 }.max
        info(s"$name: ${want.length} images, worst std relative difference $worst")
        assert(worst <= 1e-12, s"$name: $worst")
      }
  }

  test("the stats census ships up to MaxCensusImages images and fails naming the count above") {
    def census(n: Int) = (0 until n).map(i => (i % 7L, i.toLong, 100.0, 100.0, 1.0))
      .toDF("epoch_id", "img_id", "bkg_mean", "bkg_median", "bkg_std")
    val max = Photometry.MaxCensusImages
    assert(Photometry.statsMap(census(max)).size === max)
    val e = intercept[IllegalArgumentException](Photometry.statsMap(census(max + 1)))
    assert(e.getMessage.contains(s"${max + 1} images"), e.getMessage)
  }

  test("job fence: an epoch after the combine costs as many jobs for 60 stars as for 5") {
    // one-image epochs (no combine) on a 24 px grid of stars, wider apart
    // than the 5·FWHM crowding radius, so both reach the ok branch
    val (w, h) = (248, 152)
    val grid = for (j <- 0 until 6; i <- 0 until 10)
      yield (12.0 + 24 * i, 12.0 + 24 * j, 1200.0 + 30 * (i + 10 * j))
    def field(stars: Seq[(Double, Double, Double)]) =
      KernelFields.image(1L, w, h, 100.0, stars, sigma = 1.8)
        .toDF("img_id", "y", "x", "v").localCheckpoint()
    def run(px: DataFrame) = jobsDuring {
      val res = EpochPipeline.run(spark, px, w, h)
      (res.status, res.catalog.collect().length)
    }
    val ((fewStatus, few), jobsFew) = run(field(grid.take(5)))
    val ((manyStatus, many), jobsMany) = run(field(grid))
    assert(fewStatus === "ok" && manyStatus === "ok")
    assert(few >= 5 && many >= 50, s"$few and $many stars")
    info(s"$jobsFew jobs for $few stars, $jobsMany for $many")
    assert(jobsFew === jobsMany)
  }
}
