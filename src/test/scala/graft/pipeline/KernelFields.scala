package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded fields for the detection, alignment and mask equivalence specs.
  * Every value is a pure function of its seed, so the recorded outputs in
  * [[KernelEquivalenceSpec]] pin the same inputs on any host. */
object KernelFields {

  /** Gaussian stars `(x, y, amplitude)` of width `sigma` over `floor` plus
    * unit Gaussian noise, on a `width`×`height` grid at the origin. */
  def image(img: Long, width: Int, height: Int, floor: Double,
      stars: Seq[(Double, Double, Double)], sigma: Double = 1.2,
      overrides: Map[(Int, Int), Double] = Map.empty): Seq[(Long, Long, Long, Double)] = {
    val rnd = new scala.util.Random(img * 104729)
    for (y <- 0 until height; x <- 0 until width) yield {
      var v = floor + rnd.nextGaussian()
      stars.foreach { case (sx, sy, a) =>
        val dx = x - sx; val dy = y - sy
        v += a * StrictMath.exp(-(dx * dx + dy * dy) / (2 * sigma * sigma))
      }
      (img, y.toLong, x.toLong, overrides.getOrElse((y, x), v))
    }
  }

  /** Two 40×32 images (ids 3 and 7) on a zero floor: isolated stars, a
    * blended pair, 2×2 and 1×3 plateaus, a saturated core (peak ≈ 6000)
    * whose neighbours stay under 5000, and stars on and near the border. */
  object PeakField {
    val Width = 40
    val Height = 32
    def pixels(spark: SparkSession): DataFrame = {
      import spark.implicits._
      val img3 = image(3L, Width, Height, 0.0, Seq(
          (10.3, 12.6, 200.0), (25.0, 20.0, 400.0), (18.0, 25.0, 6000.0),
          (1.0, 15.0, 300.0), (38.0, 30.0, 300.0), (20.0, 5.0, 250.0),
          (22.5, 5.5, 180.0)),
        overrides = Map((8, 30) -> 150.0, (8, 31) -> 150.0, (9, 30) -> 150.0,
          (9, 31) -> 150.0))
      val img7 = image(7L, Width, Height, 0.0, Seq(
          (6.0, 6.0, 500.0), (33.2, 9.7, 120.0), (0.0, 20.0, 400.0),
          (15.0, 31.0, 350.0), (27.0, 24.0, 5500.0), (12.0, 18.0, 90.0)),
        overrides = Map((14, 30) -> 77.0, (14, 31) -> 77.0, (14, 32) -> 77.0))
      (img3 ++ img7).toDF("img_id", "y", "x", "v")
    }
    def stats(spark: SparkSession): DataFrame = {
      import spark.implicits._
      Seq((3L, 0.0, 0.0, 1.0), (7L, 0.0, 0.0, 1.0))
        .toDF("img_id", "bkg_mean", "bkg_median", "bkg_std")
    }
  }

  /** 48(w)×40(h) three-frame dithered fields on a floor of 100, stars of
    * σ = 1.5. Each field is `(image id, stars or None for starless)`; the
    * frames' stars are the base list moved by the frame's dither. */
  object DitherField {
    val Width = 48
    val Height = 40
    val base: Seq[(Double, Double, Double)] = Seq(
      (12.0, 10.0, 1800.0), (30.5, 14.2, 900.0), (20.0, 27.0, 1400.0),
      (38.0, 30.0, 700.0), (8.0, 33.0, 1100.0), (26.0, 6.0, 600.0))
    /** Stars far (> 20 px) from every star of `left`. */
    val left: Seq[(Double, Double, Double)] = Seq(
      (6.0, 8.0, 1500.0), (9.0, 20.0, 1200.0), (5.0, 31.0, 900.0))
    val right: Seq[(Double, Double, Double)] = Seq(
      (40.0, 9.0, 1300.0), (43.0, 22.0, 1000.0))
    def moved(s: Seq[(Double, Double, Double)], dx: Int, dy: Int) =
      s.map { case (x, y, a) => (x + dx, y + dy, a) }

    /** Three dithered frames, all with stars. */
    val dithered: Seq[(Long, Option[Seq[(Double, Double, Double)]])] = Seq(
      1L -> Some(base), 2L -> Some(moved(base, 2, -1)),
      3L -> Some(moved(base, -3, 2)))
    /** A reference, a starless frame and a frame matching no reference
      * star. */
    val unmatched: Seq[(Long, Option[Seq[(Double, Double, Double)]])] = Seq(
      4L -> Some(left), 5L -> None, 6L -> Some(right))
    /** The starless frame has the smallest id. */
    val starlessFirst: Seq[(Long, Option[Seq[(Double, Double, Double)]])] = Seq(
      7L -> None, 8L -> Some(base), 9L -> Some(moved(base, 1, 1)))
    /** No stars anywhere. */
    val starless: Seq[(Long, Option[Seq[(Double, Double, Double)]])] = Seq(
      10L -> None, 11L -> None, 12L -> None)

    def pixels(spark: SparkSession,
        frames: Seq[(Long, Option[Seq[(Double, Double, Double)]])]): DataFrame = {
      import spark.implicits._
      frames.flatMap { case (img, stars) =>
        image(img, Width, Height, 100.0, stars.getOrElse(Nil), sigma = 1.5)
      }.toDF("img_id", "y", "x", "v")
    }
  }

  /** [[EpochPipelineSpec]]'s 64² epoch: frames of four stars of σ = 1.8
    * on a floor of 100, each frame's stars moved by its dither. */
  object EpochField {
    // amplitudes above the reference's minPeak=1000 search floor (core.py:110)
    val planted: Seq[(Double, Double, Double)] = Seq(
      (12.0, 14.0, 2400.0), (44.0, 22.0, 1700.0), (30.0, 47.0, 2000.0),
      (50.0, 50.0, 1500.0))

    def frame(spark: SparkSession, imgId: Long, shift: (Int, Int)): DataFrame = {
      import spark.implicits._
      val rnd = new scala.util.Random(imgId)
      (for (y <- 0 until 64; x <- 0 until 64) yield {
        var v = 100.0 + rnd.nextGaussian()
        planted.foreach { case (sx, sy, amp) =>
          val dx = x - (sx + shift._1); val dy = y - (sy + shift._2)
          v += amp * math.exp(-(dx * dx + dy * dy) / (2 * 1.8 * 1.8))
        }
        (imgId, y.toLong, x.toLong, v)
      }).toDF("img_id", "y", "x", "v")
    }
  }

  /** SHA-256 over the combined frame's rows `(y, x, v, n_stack)` in
    * (y, x) order, with `v` as its IEEE-754 bits. */
  def frameDigest(combined: DataFrame): String = {
    val rows = combined.select("y", "x", "v", "n_stack").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(r => (r._1, r._2))
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val bb = java.nio.ByteBuffer.allocate(32)
    rows.foreach { case (y, x, v, n) =>
      bb.clear()
      bb.putLong(y).putLong(x).putLong(java.lang.Double.doubleToLongBits(v)).putLong(n)
      md.update(bb.array())
    }
    md.digest().map(b => f"$b%02x").mkString
  }
}
