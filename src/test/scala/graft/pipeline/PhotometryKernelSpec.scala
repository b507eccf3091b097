package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Edge cases and the job count of the per-image photometry kernel behind
  * `Photometry.iterativePhotometryWithPsf`. */
class PhotometryKernelSpec extends SparkSpec {
  import spark.implicits._

  private val psf = Photometry.GaussianPsf(1.5)
  private val boxR = 4

  /** Four background-subtracted stars on a 40² grid whose first pixel is
    * (y0, x0): a blended pair, and a faint star in a bright one's wing
    * that only the residual of round 1 shows. */
  private def field(img: Long, y0: Long, x0: Long): DataFrame = {
    val rnd = new scala.util.Random(17)
    val stars = Seq((10.0, 12.0, 900.0), (13.5, 14.0, 600.0), (30.0, 28.0, 1200.0),
      (33.0, 28.0, 80.0))
    (for (y <- 0 until 40; x <- 0 until 40) yield {
      var v = rnd.nextGaussian()
      stars.foreach { case (sx, sy, a) =>
        val dx = x - sx; val dy = y - sy
        v += a * StrictMath.exp(-(dx * dx + dy * dy) / (2 * 1.5 * 1.5))
      }
      (img, y + y0, x + x0, v)
    }).toDF("img_id", "y", "x", "v")
  }

  private def stats(imgs: Long*): DataFrame =
    imgs.map(i => (i, 0.0, 1.0)).toDF("img_id", "bkg_median", "bkg_std")

  private def measure(px: DataFrame, st: DataFrame, nIters: Int = 2) =
    Photometry.iterativePhotometryWithPsf(spark, px, psf, boxR, nIters, 10.0,
        Some(st))
      .select("img_id", "iter_detected", "star_id", "group_id", "x_fit",
        "y_fit", "flux_fit")
      .as[(Long, Int, Int, Int, Double, Double, Double)].collect()
      .sortBy(r => (r._1, r._2, r._3))

  test("an image missing from the stats emits nothing") {
    val out = measure(field(1L, 0, 0).union(field(2L, 0, 0)), stats(2L))
    assert(out.nonEmpty && out.forall(_._1 == 2L))
    assert(out.toSeq === measure(field(2L, 0, 0), stats(2L)).toSeq)
  }

  test("an image whose coordinates do not start at 0 is measured in place") {
    val base = measure(field(1L, 0, 0), stats(1L))
    val moved = measure(field(1L, -37, 250), stats(1L))
    assert(base.length >= 3)
    assert(moved.map(r => (r._2, r._3, r._4)).toSeq ===
      base.map(r => (r._2, r._3, r._4)).toSeq)
    moved.zip(base).foreach { case (m, b) =>
      assert(math.abs(m._5 - 250 - b._5) < 1e-9 && math.abs(m._6 + 37 - b._6) < 1e-9)
      assert(math.abs(m._7 - b._7) <= 1e-9 * math.abs(b._7), s"$m vs $b")
    }
  }

  test("a bounding box over the frame limit fails, naming the image and extent") {
    val px = Seq((42L, 0L, 0L, 5.0), (42L, 9000L, 9000L, 5.0))
      .toDF("img_id", "y", "x", "v")
    val e = intercept[Exception](measure(px, stats(42L)))
    assert(e.getMessage.contains("image 42 spans y 0..9000, x 0..9000"),
      e.getMessage)
  }

  test("the rounding helper equals Spark's round(col).cast(\"long\")") {
    val ds = Seq(0.5, -0.5, 2.5, -2.5, 0.49999999999999994, -0.49999999999999994,
      1.5000000000000002, 7.0)
    val spark0 = ds.toDF("d").select(round(col("d")).cast("long"))
      .as[Long].collect().toSeq
    assert(ds.map(Photometry.roundHalfUp) === spark0)
    assert(spark0.take(5) === Seq(1L, -1L, 3L, -3L, 0L))
  }

  test("job fence: a photometry pass launches as many jobs at nIters 3 as at 1") {
    val px = field(1L, 0, 0).union(field(2L, 5, 5)).localCheckpoint()
    val st = stats(1L, 2L)
    val (one, jobs1) = jobsDuring(measure(px, st, nIters = 1))
    val (three, jobs3) = jobsDuring(measure(px, st, nIters = 3))
    assert(three.exists(_._2 > 1), "no star was detected after round 1")
    assert(one.length < three.length)
    assert(jobs3 === jobs1, s"nIters 1: $jobs1 jobs, nIters 3: $jobs3")
  }
}
