package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class GaussianFitSpec extends SparkSpec {

  private def sample(a: Double, x0: Double, y0: Double, sx: Double,
      sy: Double, off: Double, n: Int = 21) = {
    val xs = scala.collection.mutable.ArrayBuffer[Double]()
    val ys = scala.collection.mutable.ArrayBuffer[Double]()
    val zs = scala.collection.mutable.ArrayBuffer[Double]()
    for (y <- 0 until n; x <- 0 until n) {
      val dx = x - x0; val dy = y - y0
      xs += x; ys += y
      zs += a * math.exp(-dx * dx / (2 * sx * sx) - dy * dy / (2 * sy * sy)) + off
    }
    (xs.toArray, ys.toArray, zs.toArray)
  }

  test("recovers planted parameters on a clean Gaussian") {
    val (xs, ys, zs) = sample(a = 500.0, x0 = 10.3, y0 = 9.7, sx = 2.0,
      sy = 2.5, off = 50.0)
    val fit = GaussianFit.fit(xs, ys, zs)
    assert(fit.converged)
    assert(math.abs(fit.x0 - 10.3) < 0.05)
    assert(math.abs(fit.y0 - 9.7) < 0.05)
    assert(math.abs(fit.amplitude - 500.0) / 500.0 < 0.05)
    // FWHM = mean(2.0, 2.5)*2.3548 = 5.298
    assert(math.abs(fit.fwhm - 2.25 * GaussianFit.SigmaToFwhm) < 0.1)
  }

  test("noisy Gaussian still converges near truth") {
    val rnd = new scala.util.Random(3)
    val (xs, ys, zs) = sample(300.0, 8.0, 8.0, 1.8, 1.8, 10.0, 17)
    val noisy = zs.map(_ + rnd.nextGaussian() * 3.0)
    val fit = GaussianFit.fit(xs, ys, noisy)
    assert(fit.converged)
    assert(math.abs(fit.x0 - 8.0) < 0.2 && math.abs(fit.y0 - 8.0) < 0.2)
  }

  test("degenerate input returns the reference's fwhm=0 sentinel") {
    val fit = GaussianFit.fit(Array(1.0, 2.0), Array(1.0, 2.0), Array(0.0, 0.0))
    assert(!fit.converged && fit.fwhm === 0.0)
  }
}

class PhotometrySpec extends SparkSpec {
  import spark.implicits._

  /** Synthetic star field (FIXTURES.md §B images_long): flat background +
    * planted Gaussians, optional integer shift and hot pixel. */
  private def starField(imgId: Long, size: Int, bkg: Double,
      stars: Seq[(Double, Double, Double, Double)], shift: (Int, Int) = (0, 0),
      hot: Option[(Int, Int, Double)] = None): DataFrame = {
    val rnd = new scala.util.Random(imgId)
    val rows = for (y <- 0 until size; x <- 0 until size) yield {
      var v = bkg + rnd.nextGaussian() * 1.0
      stars.foreach { case (sx0, sy0, amp, sig) =>
        val dx = x - (sx0 + shift._1); val dy = y - (sy0 + shift._2)
        v += amp * math.exp(-(dx * dx + dy * dy) / (2 * sig * sig))
      }
      hot.foreach { case (hy, hx, hv) => if (y == hy && x == hx) v += hv }
      (imgId, y.toLong, x.toLong, v)
    }
    rows.toDF("img_id", "y", "x", "v")
  }

  private val planted = Seq((12.0, 14.0, 800.0, 1.8), (40.0, 22.0, 600.0, 1.8),
    (30.0, 45.0, 700.0, 1.8))

  test("background stats recover the flat level despite stars") {
    val px = starField(1L, 64, 100.0, planted)
    val row = Photometry.backgroundStats(px).head()
    assert(math.abs(row.getAs[Double]("bkg_median") - 100.0) < 1.0)
  }

  /** Two seeded 64² images: image 1 is uniform noise, which a 2σ clip
    * never touches (one round); image 2 is Gaussian noise plus the planted
    * stars, whose tails the clip keeps trimming. */
  private def clipField: DataFrame = {
    val rnd = new scala.util.Random(29)
    val uniform = for (y <- 0 until 64; x <- 0 until 64)
      yield (1L, y.toLong, x.toLong, 90.0 + 20.0 * rnd.nextDouble())
    uniform.toDF("img_id", "y", "x", "v")
      .union(starField(2L, 64, 100.0, planted))
  }

  /** Clip rounds until the survivor set stops changing (at most 5). */
  private def clipRounds(vals: Array[Double]): Int = {
    var cur = vals; var rounds = 0; var changed = true
    while (rounds < 5 && changed) {
      val med = graft.functions.SigmaClippedStats.median(cur)
      val bound = 2.0 * graft.functions.SigmaClippedStats.stdPop(cur)
      val kept = cur.filter(v => math.abs(v - med) <= bound)
      changed = kept.length != cur.length
      cur = kept; rounds += 1
    }
    rounds
  }

  test("background stats equal the retired fixpoint loop's output") {
    val px = clipField
    val vals = px.select("img_id", "v").as[(Long, Double)].collect()
      .groupMap(_._1)(_._2)
    assert(clipRounds(vals(1L)) === 1)
    assert(clipRounds(vals(2L)) >= 3)
    // (img_id, mean, median, std) of the per-round exact-percentile and
    // stddev_pop DataFrame loop this aggregate replaced, on this field
    val loop = Seq(
      (1L, 100.16242761432676, 100.18709833371238, 5.799434917750952),
      (2L, 100.02553364869812, 100.00746085346344, 0.8509418333943632))
    val got = Photometry.backgroundStats(px)
      .select("img_id", "bkg_mean", "bkg_median", "bkg_std")
      .as[(Long, Double, Double, Double)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq === loop.map(_._1))
    got.zip(loop).foreach { case ((img, mean, med, std), (_, lMean, lMed, lStd)) =>
      assert(med === lMed, s"image $img median")
      assert(math.abs(mean - lMean) <= 1e-12 * math.abs(lMean), s"image $img mean $mean vs $lMean")
      assert(math.abs(std - lStd) <= 1e-12 * math.abs(lStd), s"image $img std $std vs $lStd")
    }
  }

  test("job fence: one background clip of three or more rounds") {
    val px = starField(2L, 64, 100.0, planted).localCheckpoint()
    assert(clipRounds(px.select("v").as[Double].collect()) >= 3)
    val (_, jobs) = jobsDuring(Photometry.backgroundStats(px))
    // 2 jobs measured (the aggregate's shuffle stage and its collect); the
    // per-round DataFrame loop it replaced launched 28 on this field
    info(s"$jobs jobs")
    assert(jobs <= 4, s"$jobs jobs")
  }

  test("detection finds exactly the planted stars with accurate centroids") {
    val px = Photometry.subtractBackground(starField(1L, 64, 100.0, planted))
    val stars = Photometry.detectStars(px, 10.0, 4)
      .select("xcentroid", "ycentroid").as[(Double, Double)].collect()
    assert(stars.length === planted.length)
    planted.foreach { case (sx, sy, _, _) =>
      assert(stars.exists { case (cx, cy) =>
        math.abs(cx - sx) < 0.5 && math.abs(cy - sy) < 0.5 })
    }
  }

  test("peakMax rejects saturated peaks; excludeBorder drops edge detections") {
    // planted interior stars plus a bright source hugging the edge
    val edge = planted :+ (1.0, 30.0, 3000.0, 1.8)
    val px = Photometry.subtractBackground(starField(1L, 64, 100.0, edge))
    val all = Photometry.detectStars(px, 10.0, 4)
    assert(all.count() === edge.length)
    val unsat = Photometry.detectStars(px, 10.0, 4,
      peakMax = 1500.0, excludeBorder = 0, width = 64, height = 64)
      .select("peak").as[Double].collect()
    assert(unsat.nonEmpty && unsat.forall(_ < 1500.0))
    val interior = Photometry.detectStars(px, 10.0, 4,
      peakMax = Double.MaxValue, excludeBorder = 4, width = 64, height = 64)
      .select("xcentroid").as[Double].collect()
    assert(interior.length === planted.length) // edge star gone
    assert(interior.forall(_ > 3.0))
  }

  test("peak test: plateaus, saturated and border vetoes, per-image numbering") {
    // hand-placed pixels over a flat floor, with fixed stats: image 1 has
    // threshold 0 + 10·1 = 10, image 2 has −20 + 10·1 = −10
    def frame(img: Long, floor: Double, px: Map[(Int, Int), Double]) =
      for (y <- 0 until 16; x <- 0 until 16)
        yield (img, y.toLong, x.toLong, px.getOrElse((y, x), floor))
    val img1 = frame(1L, 0.0, Map(
      (3, 4) -> 100.0, (3, 5) -> 100.0, (3, 6) -> 50.0, // plateau
      (8, 8) -> 5000.0, (8, 9) -> 500.0, // saturated veto
      (12, 1) -> 300.0, (12, 2) -> 200.0, // border veto
      (1, 10) -> 80.0, // inside the border margin
      (12, 12) -> 400.0))
    val img2 = frame(2L, -100.0, Map(
      (2, 9) -> -0.0, (2, 10) -> 0.0, (2, 11) -> -5.0, // −0.0 == 0.0 plateau
      (6, 13) -> 300.0, (10, 3) -> 300.0))
    val px = (img1 ++ img2).toDF("img_id", "y", "x", "v")
    val stats = Seq((1L, 0.0, 0.0, 1.0), (2L, -20.0, -20.0, 1.0))
      .toDF("img_id", "bkg_mean", "bkg_median", "bkg_std")
    val stars = Photometry.detectStars(px, 10.0, 1, peakMax = 1000.0,
        excludeBorder = 2, width = 16, height = 16, precomputedStats = Some(stats))
      .select("img_id", "star_id", "xcentroid", "ycentroid")
      .as[(Long, Int, Double, Double)].collect().sortBy(r => (r._1, r._2))
    // a plateau peaks at its smallest (y, x): the 3×3 box around (3,4)
    // holds the two 100s only (centroid x 4.5); around (3,5) it would
    // also hold the 50 (x 4.8). Likewise (2,9) gives x 9.5, not 9.9.
    // The saturated pixel and the border pixels veto their neighbours
    // and are never emitted themselves.
    val want = Seq((1L, 1, 4.5, 3.0), (1L, 2, 12.0, 12.0),
      (2L, 1, 9.5, 2.0), (2L, 2, 13.0, 6.0), (2L, 3, 3.0, 10.0))
    assert(stars.length === want.length, stars.mkString(", "))
    stars.zip(want).foreach { case (got, w) =>
      assert(got._1 === w._1 && got._2 === w._2 &&
        math.abs(got._3 - w._3) < 1e-9 && math.abs(got._4 - w._4) < 1e-9,
        s"$got vs $w")
    }
  }

  test("detection emits DAOFIND-style shape stats (find_stars catalog columns)") {
    val px = Photometry.subtractBackground(starField(1L, 64, 100.0, planted))
    val rows = Photometry.detectStars(px, 10.0, 4)
      .select("sharpness", "roundness", "npix", "sky", "flux", "mag")
      .as[(Double, Double, Long, Double, Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (sharp, round, npix, sky, flux, mag) =>
      // a Gaussian peak stands above its 8 neighbors but not infinitely
      assert(sharp > 0.0 && sharp < 1.0, s"sharpness $sharp")
      // planted stars are circular: marginal widths nearly equal
      assert(math.abs(round) < 0.2, s"roundness $round")
      assert(npix === 81L) // full (2*4+1)^2 box away from borders
      assert(math.abs(sky) < 2.0) // background already subtracted
      assert(math.abs(mag - (-2.5 * math.log10(flux))) < 1e-9)
    }
  }

  test("align + sigma-clipped median combine removes a hot pixel and aligns shifts") {
    val base = starField(0L, 64, 100.0, planted)
    val shifted = starField(1L, 64, 100.0, planted, shift = (2, -1))
    val withHot = starField(2L, 64, 100.0, planted, hot = Some((5, 5, 5000.0)))
    val combined = Photometry.alignAndCombine(
      base.union(shifted).union(withHot), 64, 64)
    // hot pixel clipped away: combined value near background
    val hotV = combined.filter($"y" === 5 && $"x" === 5).select("v").as[Double].head()
    assert(math.abs(hotV - 100.0) < 5.0)
    // star survives at the reference position
    val peak = combined.filter($"y" === 14 && $"x" === 12).select("v").as[Double].head()
    assert(peak > 400.0)
  }

  test("EPSF stack peaks at the center cell") {
    val px = Photometry.subtractBackground(starField(1L, 64, 100.0, planted))
    val stars = Photometry.detectStars(px, 10.0, 4)
    val epsf = Photometry.buildEpsf(px, stars, 5, 2)
      .select("w", "u", "epsf").as[(Long, Long, Double)].collect()
    val center = epsf.find(e => e._1 == 0 && e._2 == 0).get._3
    assert(epsf.forall(_._3 <= center + 1e-9))
  }

  test("iterative EPSF build converges to a centered model") {
    val px = Photometry.subtractBackground(starField(1L, 64, 100.0, planted))
    val stars = Photometry.detectStars(px, 10.0, 4)
      // perturb centroids so recentering has work to do
      .withColumn("xcentroid", col("xcentroid") + 0.3)
      .withColumn("ycentroid", col("ycentroid") - 0.2)
    val epsf = Photometry.buildEpsfIterative(px, stars, 5, 2, maxIters = 8)
    val c = epsf.agg(
      (sum(col("u") * col("epsf")) / sum(col("epsf"))).as("cu"),
      (sum(col("w") * col("epsf")) / sum(col("epsf"))).as("cw")).head()
    assert(math.abs(c.getDouble(0)) < 0.1 && math.abs(c.getDouble(1)) < 0.1)
  }

  test("iterative photometry recovers planted fluxes within 15%") {
    val sig = 1.8
    val px = Photometry.subtractBackground(starField(1L, 64, 100.0, planted))
    val fwhm = sig * GaussianFit.SigmaToFwhm
    val out = Photometry.iterativePhotometry(spark, px, fwhm, 2, 10.0)
      .select("x_fit", "y_fit", "flux_fit").as[(Double, Double, Double)].collect()
    planted.foreach { case (sx, sy, amp, s) =>
      val trueFlux = amp * 2 * math.Pi * s * s
      val got = out.filter(o => math.abs(o._1 - sx) < 1.5 && math.abs(o._2 - sy) < 1.5)
      assert(got.nonEmpty, s"star at ($sx,$sy) not measured")
      val flux = got.map(_._3).sum // re-detections across iterations are residual top-ups
      assert(math.abs(flux - trueFlux) / trueFlux < 0.15,
        s"flux $flux vs true $trueFlux")
    }
  }

  test("group fit refines fractional positions to sub-0.1px (LevMar parity)") {
    // fractional centers: moment centroids over a truncated box are biased
    // here, so passing requires the Gauss-Newton position refinement
    // (core.py:442-450 fits flux AND position), not just the warm start
    val frac = Seq((12.4, 14.7, 800.0, 1.8), (40.6, 22.3, 600.0, 1.8),
      (30.2, 45.8, 700.0, 1.8))
    val px = Photometry.subtractBackground(starField(1L, 64, 100.0, frac))
    val fwhm = 1.8 * GaussianFit.SigmaToFwhm
    val out = Photometry.iterativePhotometry(spark, px, fwhm, 1, 10.0)
      .select("x_fit", "y_fit").as[(Double, Double)].collect()
    frac.foreach { case (sx, sy, _, _) =>
      val got = out.minBy(o =>
        (o._1 - sx) * (o._1 - sx) + (o._2 - sy) * (o._2 - sy))
      val err = math.sqrt(
        (got._1 - sx) * (got._1 - sx) + (got._2 - sy) * (got._2 - sy))
      assert(err < 0.1, s"position error $err at ($sx,$sy), got $got")
    }
  }

  test("residual cutouts: image center bright, residual center near zero") {
    val sig = 1.8
    val px = Photometry.subtractBackground(starField(1L, 64, 100.0, planted))
      .localCheckpoint()
    val fwhm = sig * GaussianFit.SigmaToFwhm
    val psf = Photometry.GaussianPsf(sig)
    val boxR = math.max(math.ceil(2 * fwhm).toInt, 2)
    val fitted = Photometry.iterativePhotometry(spark, px, fwhm, 1, 10.0)
    val residual = Photometry.subtractModel(px, fitted, psf, boxR)
    val cuts = Photometry.residualCutouts(px, residual, fitted, 2)
      .select("flux", "n_px", "image_cutout", "residual_cutout")
      .as[(Double, Long, Seq[Double], Seq[Double])].collect()
    assert(cuts.length >= planted.length)
    // flux-desc order (core.py:477's sort)
    assert(cuts.map(_._1).sliding(2).forall(s => s.length < 2 || s(0) >= s(1)))
    cuts.take(planted.length).foreach { case (flux, nPx, img, res) =>
      assert(nPx === 25 && img.length === 25 && res.length === 25)
      val center = img(12) // row-major (dy,dx) sorted => center at index 12
      assert(center > 0.5 * img.max, "image cutout should peak near center")
      assert(math.abs(res(12)) < 0.2 * center,
        s"residual center ${res(12)} not subtracted vs image $center")
    }
  }

  test("EPSF-based photometry (build_psf → do_photometry loop) recovers fluxes") {
    val sig = 1.8
    val px = Photometry.subtractBackground(starField(1L, 64, 100.0, planted))
    val fwhm = sig * GaussianFit.SigmaToFwhm
    val boxR = math.max(math.ceil(2 * fwhm).toInt, 2)
    val out = Photometry.epsfPhotometry(spark, px, fwhm, 2, 10.0,
        Photometry.detectStars(px, 10.0, boxR))
      .select("x_fit", "y_fit", "flux_fit").as[(Double, Double, Double)].collect()
    planted.foreach { case (sx, sy, amp, s) =>
      val trueFlux = amp * 2 * math.Pi * s * s
      val got = out.filter(o => math.abs(o._1 - sx) < 1.5 && math.abs(o._2 - sy) < 1.5)
      assert(got.nonEmpty, s"star at ($sx,$sy) not measured by EPSF photometry")
      val flux = got.map(_._3).sum
      assert(math.abs(flux - trueFlux) / trueFlux < 0.25,
        s"EPSF flux $flux vs true $trueFlux")
    }
  }

  test("star grouping: connected components within link radius") {
    val stars = Seq(
      (1L, 1, 10.0, 10.0, 1.0, 1.0), (1L, 2, 12.0, 10.0, 1.0, 1.0),
      (1L, 3, 13.5, 10.0, 1.0, 1.0), // chain 1-2-3 transitively linked
      (1L, 4, 50.0, 50.0, 1.0, 1.0))
      .toDF("img_id", "star_id", "xcentroid", "ycentroid", "peak", "flux")
    val groups = Photometry.groupStars(spark, stars, 2.5)
      .select("star_id", "group_id").as[(Int, Int)].collect().toMap
    assert(groups(1) === groups(2) && groups(2) === groups(3))
    assert(groups(4) !== groups(1))
  }
}
