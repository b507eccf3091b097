package graft.pipeline

import graft.functions.SigmaClippedStats
import graft.functions.SigmaClippedStats.sigmaClippedStats
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference pipeline's image-domain operators re-expressed over
  * long-form pixels `(img_id: long, y: long, x: long, v: double)` —
  * abstraction #1 in SURVEY.md §1. The long-form table is the input and
  * the relational surface of every operator here; each stage shuffles it
  * once by its natural key.
  *
  * Three stages are frame kernels that hold a whole image in one task as a
  * dense [[Frame]]: detection ([[detectStars]]), iterative photometry
  * ([[iterativePhotometryWithPsf]]) and, through detection, the alignment
  * of [[alignAndCombine]]. Unless the caller supplies stats, each task
  * clips its own frame ([[Frame.background]]), as find_stars clips the
  * image it searches (core.py:141-143). A task peaks at ≈ 24 B per
  * bounding-box cell (≈ 405 MB at 4096²), and a box over [[MaxFrameCells]]
  * fails it, naming the image and its extent. The combine's clipped median
  * shuffles by row and holds one row of the stack per task, and the star
  * tables, shifts and EPSF grid are model objects held on the driver
  * (abstraction #5).
  *
  * A campaign keys every per-image step by `(epoch_id, img_id)`, since
  * image ids repeat across epochs: [[detectKeyed]] and [[combineEpochs]]
  * serve [[EpochPipeline.runEpochs]], and the public [[detectStars]] and
  * [[alignAndCombine]] are their one-epoch case (epoch 0, dropped from the
  * output). The epoch kernel runs every step after the combine in one task
  * per epoch; the in-memory twins it calls ([[detect]], [[epsfGrid]],
  * [[photometryKernel]], [[annulusOf]]) keep the rules of the DataFrame
  * operators here, which the registered queries use.
  */
object Photometry {

  /** Per-image sigma-clipped background (sigma_clipped_stats, psf_phot.py:68;
    * sigma=2.0 and five rounds, core.py:70), as
    * `(img_id, bkg_mean, bkg_median, bkg_std)`.
    *
    * One grouped [[sigmaClippedStats]] aggregate at every frame size: each
    * image's values shuffle once into one aggregation buffer and the whole
    * clip fixpoint runs in the task that finishes the group. The buffer is
    * 8 B per pixel (134 MB at 4096²) plus the clip's one sorted copy; see
    * [[graft.functions.SigmaClippedStats]].
    *
    * The stats are one row per image, a model object held on the driver
    * (SURVEY.md abstraction #5): the call collects them and returns a
    * local relation, so counting images launches no job and every
    * broadcast of the stats builds from driver memory.
    *
    * `bufferable` is ignored. It stays only because
    * `perfbench/harness/src/main/scala/perfbench/EpochStages.scala` passes
    * it by name. */
  def backgroundStats(pixels: DataFrame, bufferable: Boolean = true): DataFrame = {
    val scs = sigmaClippedStats(2.0, 5)
    val stats = pixels.groupBy(col("img_id"))
      .agg(scs(col("v")).as("s"))
      .select(col("img_id"), col("s.mean").as("bkg_mean"),
        col("s.median").as("bkg_median"), col("s.std").as("bkg_std"))
    pixels.sparkSession.createDataFrame(
      java.util.Arrays.asList(stats.collect(): _*), stats.schema)
  }

  /** `df` as epoch 0 of a campaign. */
  private def oneEpoch(df: DataFrame): DataFrame = df.withColumn("epoch_id", lit(0L))

  /** The largest table of caller-supplied stats, in images, that
    * [[statsMap]] ships in the frame kernels' closures: 2¹⁴, about 16× the
    * reference's whole dataset (~350 image sets × ~3 images, BASELINE.md). */
  val MaxCensusImages: Int = 1 << 14

  /** Per-image `(bkg_median, bkg_std)` of caller-supplied [[backgroundStats]]
    * rows collected to the driver, for the frame kernels' closures; rows
    * with a null stat are dropped, so their images emit nothing. A table
    * over [[MaxCensusImages]] fails, naming its size. */
  private[pipeline] def statsMap(stats: DataFrame): Map[Long, (Double, Double)] = {
    val rows = stats.select(col("img_id"), col("bkg_median"), col("bkg_std"))
      .collect()
    require(rows.length <= MaxCensusImages, s"supplied stats: ${rows.length} " +
      s"images, over the $MaxCensusImages-image limit of one kernel closure")
    rows.collect { case r if !r.anyNull =>
      r.getLong(0) -> (r.getDouble(1), r.getDouble(2))
    }.toMap
  }

  /** `kernel` over image `img`, loaded from `rows`, with its background
    * `(median, std)`: its row of `stats` when the caller supplied stats (an
    * image without one is not loaded and gives `None`), else the frame's
    * own [[Frame.background]]. */
  private def withBackground[T](stats: Option[Map[Long, (Double, Double)]],
      img: Long, rows: Iterator[(Long, Long, Long, Double)])(
      kernel: (Frame, (Double, Double)) => T): Option[T] = stats match {
    case Some(m) => m.get(img).map(bkg => kernel(Frame.load(img, rows), bkg))
    case None =>
      val frame = Frame.load(img, rows)
      Some(kernel(frame, frame.background()))
  }

  /** Global background subtraction (psf_phot.py:69: image −= median). */
  def subtractBackground(pixels: DataFrame): DataFrame =
    pixels.join(broadcast(backgroundStats(pixels)), Seq("img_id"))
      .select(col("img_id"), col("y"), col("x"),
        (col("v") - col("bkg_median")).as("v"))

  /** Star detection (DAOStarFinder semantics simplified, core.py:116-146):
    * local maxima above `bkg + nSigma·std` (core.py:143's 10σ default),
    * then flux-weighted centroid over a (2R+1)² box. */
  def detectStars(pixels: DataFrame, nSigma: Double, boxRadius: Int): DataFrame =
    detectStars(pixels, nSigma, boxRadius, Double.MaxValue, 0, 0L, 0L, None)

  /** As above with the reference's remaining DAOStarFinder knobs:
    * `peakMax` rejects saturated peaks (find_stars `peak=100000`,
    * core.py:130-131), and `excludeBorder > 0` with the image extent drops
    * peaks within that many pixels of the edge (`exclude_border=True`,
    * core.py:144). `precomputedStats` passes in a [[backgroundStats]]
    * frame computed once by the caller — the reference builds its finder
    * with a FIXED threshold (core.py:439), so repeated detections over the
    * same image must not re-estimate the background.
    *
    * Plan: the pixels shuffle once by `img_id` and each task loads its
    * image into a dense [[Frame]], takes its background and runs [[detect]]
    * over it ([[detectKeyed]]), so a call launches the same few jobs at any
    * star count. Without `precomputedStats` the task clips its own frame
    * (find_stars' own sigma_clipped_stats, core.py:141-143); supplied stats
    * are collected to the driver and shipped in the task closure
    * ([[statsMap]]), and an image without a stats row emits nothing. Emits
    * `(img_id, star_id, xcentroid, ycentroid, sharpness, roundness, npix,
    * sky, peak, flux, mag)`, one row per peak: the Generator shape (§2.11).
    * Pixels are unique per (img_id, y, x).
    *
    * Memory: one image per task, ≈ 24 B per bounding-box cell at peak
    * (16 B per pixel while streaming plus the 8 B dense frame, then the
    * frame plus the clip's copy of its values and their sorted copy; no
    * [[backgroundStats]] buffer), ≈ 405 MB for a 4096² frame; a bounding
    * box over [[MaxFrameCells]] fails the task, naming the image and its
    * extent. */
  def detectStars(pixels: DataFrame, nSigma: Double, boxRadius: Int,
      peakMax: Double, excludeBorder: Int, width: Long, height: Long,
      precomputedStats: Option[DataFrame] = None): DataFrame = {
    val spark = pixels.sparkSession
    import spark.implicits._
    detectKeyed(oneEpoch(pixels), precomputedStats.map(statsMap), nSigma,
        boxRadius, peakMax, excludeBorder, width, height)
      .flatMap { case (_, img, sky, found) => found.map(d => (img, d.starId,
        d.xcentroid, d.ycentroid, d.sharpness, d.roundness, d.npix, sky, d.peak,
        d.flux, d.mag)) }
      .toDF("img_id", "star_id", "xcentroid", "ycentroid", "sharpness",
        "roundness", "npix", "sky", "peak", "flux", "mag")
  }

  /** The detection of [[detectStars]] over a campaign's pixels `(epoch_id,
    * img_id, y, x, v)`, one task per `(epoch_id, img_id)`, with the
    * caller's `stats` by `img_id` ([[statsMap]], the one-epoch case) or,
    * with none, each frame's own clip: one row `(epoch_id, img_id, sky,
    * stars)` per image with a background, so an image without a star still
    * counts. */
  private[pipeline] def detectKeyed(pixels: DataFrame,
      stats: Option[Map[Long, (Double, Double)]], nSigma: Double,
      boxRadius: Int, peakMax: Double, excludeBorder: Int, width: Long,
      height: Long): Dataset[(Long, Long, Double, Seq[Detection])] = {
    val spark = pixels.sparkSession
    import spark.implicits._
    pixels.select(col("epoch_id"), col("img_id"), col("y"), col("x"), col("v"))
      .as[(Long, Long, Long, Long, Double)]
      .groupByKey(r => (r._1, r._2))
      // the shuffled rows carry the key once, beside (img_id, y, x, v)
      .mapValues(r => (r._2, r._3, r._4, r._5))
      .flatMapGroups((key, rows) => withBackground(stats, key._2, rows) {
        case (frame, (median, std)) => (key._1, key._2, median, detect(frame,
          median, median + nSigma * std, boxRadius, peakMax, excludeBorder,
          width, height).toSeq)
      })
  }

  /** One star found by [[detect]]; `None` is SQL NULL. */
  private[pipeline] final case class Detection(starId: Int, peak: Double,
      flux: Double, xcentroid: Double, ycentroid: Double,
      sharpness: Option[Double], roundness: Option[Double], npix: Long,
      mag: Option[Double])

  /** Detection over ONE image, in memory, with Spark SQL's arithmetic: the
    * peaks of [[peaksOf]] above `threshold`, numbered 1..n in (y, x) order,
    * each measured over the existing cells of its (2·boxR+1)² box with
    * weights w = max(v − `median`, 0):
    *  - flux Σw, centroid (Σw·x, Σw·y)/Σw, npix = the box's cell count;
    *  - sharpness (peak − mean of the other existing 3×3 cells) / peak,
    *    NULL unless the 3×3 box has another cell and peak ≠ 0 (DAOFIND);
    *  - roundness (sxx − syy)/(sxx + syy) from the flux-weighted second
    *    moments about the centroid, NULL when sxx + syy = 0;
    *  - mag −2.5·log10(flux), NULL when flux ≤ 0 (Spark's log10).
    * Requires boxR ≥ 1 (the 3×3 sharpness subset comes from the box). The
    * one detection of [[detectStars]] and of each [[photometryKernel]]
    * round. */
  private[pipeline] def detect(frame: Frame, median: Double, threshold: Double,
      boxR: Int, peakMax: Double, excludeBorder: Int, width: Long,
      height: Long): Array[Detection] = {
    val v = frame.v
    peaksOf(frame, threshold, peakMax, excludeBorder, width, height)
      .zipWithIndex.map { case (p, s) =>
        val (py, px) = (frame.y(p), frame.x(p))
        var (sw, swx, swy, swxx, swyy, s2) = (0.0, 0.0, 0.0, 0.0, 0.0, 0.0)
        var (npix, c2) = (0L, 0L)
        for (y <- py - boxR to py + boxR; x <- px - boxR to px + boxR) {
          val i = frame.at(y, x)
          if (i >= 0) {
            val w = math.max(v(i) - median, 0.0)
            sw += w; swx += w * x; swy += w * y
            swxx += w * x * x; swyy += w * y * y
            npix += 1
            if (math.abs(y - py) <= 1 && math.abs(x - px) <= 1) { s2 += v(i); c2 += 1 }
          }
        }
        val peak = v(p)
        val sxx = swxx / sw - (swx / sw) * (swx / sw)
        val syy = swyy / sw - (swy / sw) * (swy / sw)
        Detection(s + 1, peak, sw, swx / sw, swy / sw,
          if (c2 > 1 && peak != 0.0) Some((peak - (s2 - peak) / (c2 - 1)) / peak) else None,
          if (sxx + syy != 0.0) Some((sxx - syy) / (sxx + syy)) else None,
          npix, if (sw <= 0.0) None else Some(-2.5 * StrictMath.log10(sw)))
      }
  }

  /** The 3×3 peak test over one image's frame: the cells above
    * `threshold`, as cell indices in (y, x) order.
    *
    * A cell is a peak when no existing cell in its 3×3 neighbourhood
    * orders before it by (v desc, y asc, x asc), so a plateau yields one
    * peak at its smallest (y, x). Values compare as Spark SQL orders
    * doubles (−0.0 equals 0.0, NaN is largest), the threshold too. A
    * cell at or under the threshold orders after every cell above it, so
    * only above-threshold neighbours can veto. Saturated cells
    * (v ≥ `peakMax`, find_stars peak=100000, core.py:130-131) and cells
    * within `excludeBorder` of the `width`×`height` edge
    * (exclude_border=True, core.py:144) can veto a neighbour but are never
    * peaks themselves. */
  private def peaksOf(frame: Frame, threshold: Double, peakMax: Double,
      excludeBorder: Int, width: Long, height: Long): Array[Int] = {
    val v = frame.v
    def eligible(y: Long, x: Long, i: Int): Boolean =
      compareDoubles(v(i), peakMax) < 0 && (excludeBorder <= 0 ||
        x >= excludeBorder && x < width - excludeBorder &&
        y >= excludeBorder && y < height - excludeBorder)
    // row-major cell order is (y, x) order
    def beats(j: Int, i: Int): Boolean = {
      val c = compareDoubles(v(j), v(i))
      c > 0 || c == 0 && j < i
    }
    def unbeaten(y: Long, x: Long, i: Int): Boolean =
      (-1 to 1).forall(dy => (-1 to 1).forall { dx =>
        val j = frame.at(y + dy, x + dx)
        j < 0 || !beats(j, i)
      })
    val peaks = scala.collection.mutable.ArrayBuilder.make[Int]
    var i = frame.present.nextSetBit(0)
    while (i >= 0) {
      if (compareDoubles(v(i), threshold) > 0) {
        val (y, x) = (frame.y(i), frame.x(i))
        if (eligible(y, x, i) && unbeaten(y, x, i)) peaks += i
      }
      i = frame.present.nextSetBit(i + 1)
    }
    peaks.result()
  }

  /** image_combiner (core.py:245-279): detect stars per image, estimate each
    * image's integer shift against the reference frame (nearest-neighbor
    * match → median offset, core.py:148-177 + 203-206), roll the pixel keys
    * (core.py:209, np.roll: coordinates wrap modulo `width` and `height`),
    * then take the per-pixel sigma-clipped median across the stack
    * (core.py:215-243), as `(y, x, v, n_stack)`. Each image's threshold
    * comes from its own clip, as in image_combiner (core.py:262-264).
    *
    * Plan: [[detectStars]] runs as its frame kernel and its star tables (a
    * few stars per image, a model object) are collected; [[alignShifts]]
    * matches them on the driver. The rolled pixels then shuffle once by
    * `y`, and each task clips every pixel's stack of that row with
    * [[SigmaClippedStats.clip]] (sigma 2, five rounds), values in `img_id`
    * order. With no stars anywhere (a cloudy epoch) every shift is 0 and
    * the combine is the unshifted clipped median.
    *
    * Memory: the detection holds one image per task (see [[detectStars]]);
    * the combine holds one row of the stack, `width` × images values. */
  def alignAndCombine(pixels: DataFrame, width: Int, height: Int,
      nSigma: Double = 10.0, matchRadius: Double = 20.0): DataFrame = {
    val px = oneEpoch(pixels)
    combineEpochs(px, detectKeyed(px, None, nSigma, 3, Double.MaxValue, 0, 0L,
      0L).collect().toSeq, width, height, matchRadius).drop("epoch_id")
  }

  /** [[alignAndCombine]] of every epoch of a campaign's pixels `(epoch_id,
    * img_id, y, x, v)`, given the collected rows of [[detectKeyed]] for
    * those epochs: each epoch is aligned on its own reference image, and the
    * rolled pixels shuffle once by `(epoch_id, y)`. Emits `(epoch_id, y, x,
    * v, n_stack)`. */
  private[pipeline] def combineEpochs(pixels: DataFrame,
      found: Seq[(Long, Long, Double, Seq[Detection])], width: Int, height: Int,
      matchRadius: Double = 20.0): DataFrame = {
    val spark = pixels.sparkSession
    import spark.implicits._
    val shifts = found.groupBy(_._1).flatMap { case (ep, images) =>
      alignShifts(for ((_, img, _, stars) <- images; d <- stars)
          yield (img, d.starId, d.xcentroid, d.ycentroid), matchRadius)
        .map { case (img, shift) => (ep, img) -> shift }
    }
    pixels.select(col("epoch_id"), col("img_id"), col("y"), col("x"), col("v"))
      .as[(Long, Long, Long, Long, Double)]
      .map { case (ep, img, y, x, v) =>
        val (sx, sy) = shifts.getOrElse((ep, img), (0L, 0L))
        (ep, img, Math.floorMod(y + sy, height.toLong),
          Math.floorMod(x + sx, width.toLong), v)
      }
      .groupByKey(r => (r._1, r._3))
      .mapValues(r => (r._2, r._3, r._4, r._5))
      .flatMapGroups((key, row) => clipStacks(key._1, key._2, row.toArray))
      .toDF("epoch_id", "y", "x", "v", "n_stack")
  }

  /** Each image's integer (shift_x, shift_y) onto the reference image, the
    * smallest `img_id` with a star, from `stars` as
    * `(img_id, star_id, xcentroid, ycentroid)` (calculate_shift,
    * core.py:148-177 + 203-208), with the rules of the SQL plan it
    * replaces: each star's nearest reference star strictly within
    * `matchRadius`, ties broken by (distance, reference star_id); per
    * image, `rint` of the median of −offset, the two middle values
    * interpolated as Spark's `percentile` does (0.5·lo + 0.5·hi). Images
    * with no matched star (and the reference) are absent: their shift is
    * 0. */
  private[pipeline] def alignShifts(stars: Seq[(Long, Int, Double, Double)],
      matchRadius: Double): Map[Long, (Long, Long)] = {
    if (stars.isEmpty) return Map.empty
    val refImg = stars.iterator.map(_._1).min
    val ref = stars.filter(_._1 == refImg).toArray
    val grid = new PointGrid(ref.map(_._3), ref.map(_._4), matchRadius)
    def shift(offsets: Seq[Double]): Long = {
      val s = offsets.sorted
      val n = s.length
      Math.rint(if (n % 2 == 1) s(n / 2) else 0.5 * s(n / 2 - 1) + 0.5 * s(n / 2)).toLong
    }
    stars.filter(_._1 != refImg).groupBy(_._1).flatMap { case (img, ss) =>
      val offsets = ss.flatMap { case (_, _, x, y) =>
        grid.near(x, y).minByOption { case (j, d, _, _) => (d, ref(j)._2) }
          .map { case (_, _, dx, dy) => (-dx, -dy) }
      }
      if (offsets.isEmpty) None
      else Some(img -> ((shift(offsets.map(_._1)), shift(offsets.map(_._2)))))
    }
  }

  /** The clipped median of every pixel stack in one row `y` of epoch `ep`'s
    * rolled pixels `(img_id, y, x, v)`: per x, the values in `img_id` order
    * through [[SigmaClippedStats.clip]] (sigma 2, five rounds), emitted as
    * `(ep, y, x, median, n)` in x order. */
  private def clipStacks(ep: Long, y: Long, row: Array[(Long, Long, Long, Double)])
      : Iterator[(Long, Long, Long, Double, Long)] = {
    java.util.Arrays.sort(row, (a: (Long, Long, Long, Double), b: (Long, Long, Long, Double)) =>
      if (a._3 != b._3) java.lang.Long.compare(a._3, b._3)
      else java.lang.Long.compare(a._1, b._1))
    val vals = new Array[Double](row.length)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double, Long)]
    var lo = 0
    while (lo < row.length) {
      var hi = lo
      while (hi < row.length && row(hi)._3 == row(lo)._3) {
        vals(hi - lo) = row(hi)._4; hi += 1
      }
      val s = SigmaClippedStats.clip(vals, hi - lo, 2.0, 5)
      out += ((ep, y, row(lo)._3, s.median, s.n))
      lo = hi
    }
    out.iterator
  }

  /** Points bucketed into square cells of side `r`, for the strict
    * within-`r` probes of the alignment match and the crowding mask (the
    * grid of [[graft.operators.SpatialJoins]], on the driver). */
  private[pipeline] final class PointGrid(xs: Array[Double], ys: Array[Double],
      r: Double) {
    private def cell(c: Double): Long = math.floor(c / r).toLong
    private val cells = xs.indices.groupBy(i => (cell(xs(i)), cell(ys(i))))
    /** Every point j with dist = sqrt(dx² + dy²) < r, as (j, dist, dx, dy)
      * where (dx, dy) = (x, y) − point j. */
    def near(x: Double, y: Double): Iterator[(Int, Double, Double, Double)] =
      for {
        cy <- (cell(y) - 1 to cell(y) + 1).iterator
        cx <- (cell(x) - 1 to cell(x) + 1).iterator
        j <- cells.getOrElse((cx, cy), Nil).iterator
        (dx, dy) = (x - xs(j), y - ys(j))
        d = math.sqrt(dx * dx + dy * dy)
        if d < r
      } yield (j, d, dx, dy)
  }

  /** Per-star annulus background (bkg_sub, core.py:352-381): sigma-clipped
    * median of the pixels in the ring rIn ≤ d < rOut around each star —
    * spatial ring predicate on long-form pixels + grouped clipped median,
    * keyed by star id (SURVEY.md §2.5). The box join explodes stars (few)
    * against exact pixel keys, so pixel data never fans out. */
  def annulusBackground(pixels: DataFrame, stars: DataFrame,
      rIn: Double, rOut: Double): DataFrame = {
    val r = math.ceil(rOut).toInt
    val boxOffs = array((-r to r).map(lit): _*)
    val ring = stars
      .select(col("img_id"), col("star_id"), col("xcentroid"), col("ycentroid"))
      .withColumn("dy", explode(boxOffs)).withColumn("dx", explode(boxOffs))
      .select(col("img_id"), col("star_id"), col("xcentroid"), col("ycentroid"),
        (round(col("ycentroid")).cast(LongType) + col("dy")).as("y"),
        (round(col("xcentroid")).cast(LongType) + col("dx")).as("x"))
    val d2 = (col("x") - col("xcentroid")) * (col("x") - col("xcentroid")) +
      (col("y") - col("ycentroid")) * (col("y") - col("ycentroid"))
    val scs = sigmaClippedStats(2.0, 5)
    ring.join(pixels, Seq("img_id", "y", "x"))
      .filter(d2 >= lit(rIn * rIn) && d2 < lit(rOut * rOut))
      .groupBy(col("img_id"), col("star_id"))
      .agg(scs(col("v")).as("s"))
      .select(col("img_id"), col("star_id"), col("s.median").as("annulus_bkg"),
        col("s.n").as("n_annulus"))
  }

  /** [[annulusBackground]] over ONE frame, in memory: per star `(x, y)`,
    * the clipped median of the existing cells of the box of half-side
    * ⌈rOut⌉ around its rounded ([[roundHalfUp]]) position with
    * rIn² ≤ d² < rOut², compared as Spark SQL compares doubles; `None`
    * (NULL) when no cell lies in the ring. */
  private[pipeline] def annulusOf(frame: Frame, stars: Seq[(Double, Double)],
      rIn: Double, rOut: Double): Seq[Option[Double]] = {
    val r = math.ceil(rOut).toInt
    val (in2, out2) = (rIn * rIn, rOut * rOut)
    stars.map { case (xc, yc) =>
      val (cy, cx) = (roundHalfUp(yc), roundHalfUp(xc))
      val ring = scala.collection.mutable.ArrayBuilder.make[Double]
      for (y <- cy - r to cy + r; x <- cx - r to cx + r) {
        val i = frame.at(y, x)
        val d2 = (x - xc) * (x - xc) + (y - yc) * (y - yc)
        if (i >= 0 && compareDoubles(d2, in2) >= 0 && compareDoubles(d2, out2) < 0)
          ring += frame.v(i)
      }
      val vs = ring.result()
      if (vs.isEmpty) None else Some(SigmaClippedStats.clip(vs, 2.0, 5).median)
    }
  }

  /** Iterative EPSF build (core.py:384-414: oversampling=2, maxiters≤10):
    * stack → smooth → recenter the star positions by the model's centroid
    * offset → re-map, until the centroid converges. Star cutouts are
    * gathered from the pixel table ONCE, with a margin for the recentering
    * drift, by a box join (the reference's extract_stars also runs once;
    * EPSFBuilder iterates on the cutouts). The gather is read once: its
    * rows shuffle to ONE task (`groupByKey` on a constant) that runs the
    * whole recentering loop in memory ([[recenterEpsf]]), and the final
    * grid — ≤ (2·oversample·R+3)² cells, a model object (abstraction #5) —
    * is collected and returned as a local relation. That task holds the
    * cutout table, stars × (2(R+2)+1)² rows of 48 B. The grid does not
    * depend on the partitioning: the loop sorts the cutout rows first. */
  def buildEpsfIterative(pixels: DataFrame, stars: DataFrame, cutoutRadius: Int,
      oversample: Int, maxIters: Int = 10, tol: Double = 1e-2): DataFrame = {
    val spark = pixels.sparkSession
    import spark.implicits._
    val boxOffs = array((-(cutoutRadius + EpsfMargin) to (cutoutRadius + EpsfMargin))
      .map(lit): _*)
    val grid = stars
      .select(col("img_id"), col("xcentroid"), col("ycentroid"), col("flux"))
      .withColumn("dy", explode(boxOffs)).withColumn("dx", explode(boxOffs))
      .select(col("img_id"), col("xcentroid"), col("ycentroid"), col("flux"),
        (round(col("ycentroid")).cast(LongType) + col("dy")).as("y"),
        (round(col("xcentroid")).cast(LongType) + col("dx")).as("x"))
      .join(pixels, Seq("img_id", "y", "x"))
      .select(col("y"), col("x"), col("xcentroid"), col("ycentroid"),
        col("flux"), col("v"))
      .as[(Long, Long, Double, Double, Double, Double)]
      .groupByKey(_ => 0)
      .flatMapGroups((_, cut) => recenterEpsf(cut, cutoutRadius, oversample,
        maxIters, tol).iterator.map { case ((w, u), e) => (w, u, e) })
      .collect()
    grid.toSeq.toDF("w", "u", "epsf")
  }

  /** The cutout margin of the EPSF gather around each star's box; covers
    * the recentering drift (tol-convergent shifts ≪ 1 px). */
  private val EpsfMargin = 2

  /** [[buildEpsfIterative]] over ONE frame, in memory: the cutout rows of
    * each star `(xcentroid, ycentroid, flux)`, gathered as its box join
    * does (the existing cells within `cutoutRadius` + 2 of the rounded
    * centroid), through [[recenterEpsf]]. */
  private[pipeline] def epsfGrid(frame: Frame, stars: Seq[(Double, Double, Double)],
      cutoutRadius: Int, oversample: Int, maxIters: Int = 10,
      tol: Double = 1e-2): Map[(Long, Long), Double] = {
    val m = cutoutRadius + EpsfMargin
    val cut = for {
      (xc, yc, flux) <- stars.iterator
      (cy, cx) = (roundHalfUp(yc), roundHalfUp(xc))
      y <- (cy - m to cy + m).iterator
      x <- (cx - m to cx + m).iterator
      i = frame.at(y, x) if i >= 0
    } yield (y, x, xc, yc, flux, frame.v(i))
    recenterEpsf(cut, cutoutRadius, oversample, maxIters, tol)
  }

  /** The recentering loop of [[buildEpsfIterative]] over the cutout rows
    * `(y, x, xcentroid, ycentroid, flux, v)`, with Spark SQL's arithmetic.
    * The rows are first sorted by (ycentroid, xcentroid, flux, y, x, v), a
    * total order, so the per-cell sums do not depend on the order the rows
    * arrive in. Per round, keep each star's pixels within `cutoutRadius` of its
    * shifted, rounded centroid, average `v / flux` per oversampled cell
    * (w, u), smooth ([[smoothCells]]), and shift every centroid by the
    * model's centroid offset until it is under `tol` px or `maxIters`
    * rounds ran. An empty stack or an all-zero model stops the loop. */
  private def recenterEpsf(cut: Iterator[(Long, Long, Double, Double, Double, Double)],
      cutoutRadius: Int, oversample: Int, maxIters: Int,
      tol: Double): Map[(Long, Long), Double] = {
    val rows = cut.toArray.sorted(EpsfRowOrder)
    var sx = 0.0
    var sy = 0.0
    var grid: Map[(Long, Long), Double] = Map.empty
    var it = 0
    var converged = false
    while (it < maxIters && !converged) {
      val acc = scala.collection.mutable.HashMap.empty[(Long, Long), (Double, Long)]
      rows.foreach { case (y, x, xcen, ycen, flux, v) =>
        val xc = xcen + sx
        val yc = ycen + sy
        if (math.abs(y - roundHalfUp(yc)) <= cutoutRadius &&
            math.abs(x - roundHalfUp(xc)) <= cutoutRadius) {
          val key = (roundHalfUp((y - yc) * oversample),
            roundHalfUp((x - xc) * oversample))
          val (s, n) = acc.getOrElse(key, (0.0, 0L))
          acc(key) = (s + v / flux, n + 1)
        }
      }
      grid = smoothCells(acc.iterator.map { case (k, (s, n)) => k -> s / n }.toMap)
      val se = grid.values.sum
      if (grid.isEmpty || se == 0.0) return grid
      val cu = grid.iterator.map { case ((_, u), v) => u * v }.sum / se
      val cw = grid.iterator.map { case ((w, _), v) => w * v }.sum / se
      if (math.abs(cu) < tol * oversample && math.abs(cw) < tol * oversample) {
        converged = true
      } else {
        sx += cu / oversample
        sy += cw / oversample
      }
      it += 1
    }
    grid
  }

  private val EpsfRowOrder: Ordering[(Long, Long, Double, Double, Double, Double)] = {
    import Ordering.Double.{TotalOrdering => D}
    Ordering.by[(Long, Long, Double, Double, Double, Double),
        (Double, Double, Double, Long, Long, Double)](
      r => (r._4, r._3, r._5, r._1, r._2, r._6))(
      Ordering.Tuple6(D, D, D, Ordering.Long, Ordering.Long, D))
  }

  /** 3×3 quadratic-kernel smoothing of the oversampled EPSF grid
    * (EPSFBuilder's smoothing step, core.py:411): separable taps
    * (1, 2, 1)/4 per axis, normalized by sum(contrib)/sum(weight) over the
    * cells present. */
  private def smoothCells(cells: Map[(Long, Long), Double]): Map[(Long, Long), Double] = {
    val kernel = Seq((-1L, 0.0625), (0L, 0.125), (1L, 0.0625))
    val acc = scala.collection.mutable.HashMap
      .empty[(Long, Long), (Double, Double)]
    for (((w, u), v) <- cells; (dy, wy) <- kernel; (dx, wx) <- kernel) {
      val wt = wy * wx / 0.0625
      val key = (w + dy, u + dx)
      val (c, s) = acc.getOrElse(key, (0.0, 0.0))
      acc(key) = (c + v * wt, s + wt)
    }
    acc.iterator.map { case (k, (c, s)) => k -> c / s }.toMap
  }

  /** Spark SQL's `round(d).cast("long")`: HALF_UP on the decimal value of
    * `d` (so −0.5 → −1 and 0.49999999999999994 → 0), not `Math.round`. */
  private[pipeline] def roundHalfUp(d: Double): Long =
    java.math.BigDecimal.valueOf(d)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue

  /** PSF basis used by the group fits and model subtraction: evaluated in
    * executor code, broadcast by closure (model object, abstraction #5). */
  sealed trait PsfModel extends Serializable {
    def eval(dx: Double, dy: Double): Double
    /** eval as a NATIVE Catalyst expression tree (same arithmetic, same
      * operation order as [[eval]]) — keeps the model-subtraction plan
      * inside whole-stage codegen with zero scalar UDFs, so the
      * oracle-gated photometry queries satisfy PlanSpec's no-UDF
      * invariant. */
    def evalCol(dx: Column, dy: Column): Column
    /** ∫∫psf — converts the fitted peak coefficient to total flux. */
    def volume: Double
  }

  /** Analytic circular Gaussian of width sigma. */
  final case class GaussianPsf(sigma: Double) extends PsfModel {
    def eval(dx: Double, dy: Double): Double =
      math.exp(-(dx * dx + dy * dy) / (2 * sigma * sigma))
    def evalCol(dx: Column, dy: Column): Column =
      exp(-(dx * dx + dy * dy) / lit(2 * sigma * sigma))
    def volume: Double = 2 * math.Pi * sigma * sigma
  }

  /** Empirical oversampled EPSF grid (from buildEpsfIterative), evaluated
    * with bilinear interpolation; zero outside the grid support. */
  final case class GridPsf(grid: Array[Array[Double]], radius: Int,
      oversample: Int) extends PsfModel {
    private val size = grid.length
    private val c = radius * oversample
    def eval(dx: Double, dy: Double): Double = {
      val gu = dx * oversample + c
      val gw = dy * oversample + c
      if (gu < 0 || gw < 0 || gu > size - 1 || gw > size - 1) 0.0
      else {
        // clamp the base cell so samples exactly on the far edge read the
        // stored boundary value instead of being zeroed
        val u0 = math.min(math.floor(gu).toInt, size - 2)
        val w0 = math.min(math.floor(gw).toInt, size - 2)
        val fu = gu - u0; val fw = gw - w0
        grid(w0)(u0) * (1 - fu) * (1 - fw) + grid(w0)(u0 + 1) * fu * (1 - fw) +
          grid(w0 + 1)(u0) * (1 - fu) * fw + grid(w0 + 1)(u0 + 1) * fu * fw
      }
    }
    def evalCol(dx: Column, dy: Column): Column = {
      // the grid rides into the plan as ONE row-major array literal
      // (~size² doubles, a bounded model object), indexed with native
      // element_at — bilinear interpolation as a codegen'd expression
      // tree with the exact arithmetic of the scalar eval above
      val flat = lit(grid.flatten)
      val gu = dx * lit(oversample.toDouble) + lit(c.toDouble)
      val gw = dy * lit(oversample.toDouble) + lit(c.toDouble)
      val u0 = least(floor(gu).cast(IntegerType), lit(size - 2))
      val w0 = least(floor(gw).cast(IntegerType), lit(size - 2))
      val fu = gu - u0; val fw = gw - w0
      val one = lit(1.0)
      def cell(w: Column, u: Column) = element_at(flat, w * size + u + 1)
      // CaseWhen evaluates only the taken branch, so the element_at
      // indices are never computed for out-of-support offsets
      when(gu < 0 || gw < 0 ||
          gu > lit((size - 1).toDouble) || gw > lit((size - 1).toDouble),
          lit(0.0))
        .otherwise(
          cell(w0, u0) * (one - fu) * (one - fw) +
          cell(w0, u0 + 1) * fu * (one - fw) +
          cell(w0 + 1, u0) * (one - fu) * fw +
          cell(w0 + 1, u0 + 1) * fu * fw)
    }
    def volume: Double = {
      var s = 0.0
      grid.foreach(row => row.foreach(s += _))
      s / (oversample.toDouble * oversample)
    }
  }

  /** Materialize an EPSF DataFrame (w, u, epsf) into a dense GridPsf,
    * peak-normalized. The grid is tiny — this is a model readback. */
  def collectGridPsf(epsf: DataFrame, radius: Int, oversample: Int): GridPsf =
    gridPsf(epsf.select(col("w"), col("u"), col("epsf")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)), radius, oversample)

  /** The dense, peak-normalized GridPsf of EPSF cells `(w, u) -> epsf`;
    * cells outside the grid's support are dropped. */
  private[pipeline] def gridPsf(cells: Iterable[((Long, Long), Double)],
      radius: Int, oversample: Int): GridPsf = {
    val size = 2 * radius * oversample + 1
    val grid = Array.ofDim[Double](size, size)
    val c = radius * oversample
    cells.foreach { case ((w0, u0), e) =>
      val w = w0.toInt + c; val u = u0.toInt + c
      if (w >= 0 && w < size && u >= 0 && u < size) grid(w)(u) = e
    }
    val peak = grid.map(_.max).max
    val norm = if (peak > 0) grid.map(_.map(_ / peak)) else grid
    GridPsf(norm, radius, oversample)
  }

  /** The EPSF when it has volume, else the analytic Gaussian of `fwhm`: a
    * degenerate EPSF (starless field, empty stack) is not fitted against. */
  private[pipeline] def usablePsf(psf: GridPsf, fwhm: Double): PsfModel =
    if (psf.volume > 0) psf else GaussianPsf(fwhm / GaussianFit.SigmaToFwhm)

  /** Iteratively-subtracted PSF photometry (do_photometry, core.py:416-452)
    * with a Gaussian PSF of the given FWHM: `nIters` rounds of detect →
    * group (DAOGroup connected components within max(⌈2·fwhm⌉, 2),
    * core.py:440) → per-group flux and position fit ([[fitGroup]]) →
    * model subtraction, each image in one task
    * ([[iterativePhotometryWithPsf]]). */
  def iterativePhotometry(spark: SparkSession, pixels: DataFrame, fwhm: Double,
      nIters: Int, nSigma: Double, stats: Option[DataFrame] = None): DataFrame =
    iterativePhotometryWithPsf(spark, pixels,
      GaussianPsf(fwhm / GaussianFit.SigmaToFwhm),
      math.max(math.ceil(2 * fwhm).toInt, 2), nIters, nSigma, stats)

  /** EPSF-closed-loop photometry: build the empirical PSF from the
    * caller's star table (build_psf(stars_tbl), psf_phot.py:76), then
    * measure with it (do_photometry, psf_phot.py:84) — the reference's
    * actual sequence. `stars` is the reference's masked catalog: every row
    * is stacked into the EPSF, so blends and close neighbours must already
    * be gone. */
  def epsfPhotometry(spark: SparkSession, pixels: DataFrame, fwhm: Double,
      nIters: Int, nSigma: Double, stars: DataFrame, oversample: Int = 2,
      statsOpt: Option[DataFrame] = None): DataFrame = {
    val boxR = math.max(math.ceil(2 * fwhm).toInt, 2)
    val epsf = buildEpsfIterative(pixels, stars, boxR, oversample)
    iterativePhotometryWithPsf(spark, pixels,
      usablePsf(collectGridPsf(epsf, boxR, oversample), fwhm), boxR, nIters,
      nSigma, statsOpt)
  }

  /** The detect → group → fit → subtract loop over an arbitrary PSF model,
    * run as one in-memory kernel per image ([[photometryKernel]]): the
    * pixels shuffle once by `img_id` and each task iterates its image to
    * completion, so a pass costs the same few jobs at any `nIters`.
    *
    * The detection threshold `bkg_median + nSigma·bkg_std` comes from the
    * per-image background, estimated ONCE and held fixed across rounds —
    * the reference builds its finder with a fixed threshold before the loop
    * (core.py:439): the caller's stats (`statsOpt`, one row per image,
    * collected to the driver and shipped in the task closure; an image
    * without a stats row emits nothing), else the task's own clip of its
    * frame before the first round ([[Frame.background]]).
    *
    * Memory: a task streams its image into primitive buffers (16 B per
    * pixel), then fills a dense frame over the image's bounding box (8 B
    * per cell plus a presence bit) and drops the buffers; the clip holds a
    * copy of the frame's values and their sorted copy beside it — at most
    * 24.2 B per bounding-box cell of unique pixels at peak. The box is
    * capped at [[MaxFrameCells]] (2²⁵ cells, ≈ 810 MB); a 4096² frame
    * (2²⁴ cells, ≈ 405 MB) fits, and a larger box fails the task with a
    * message naming the image and its extent. */
  def iterativePhotometryWithPsf(spark: SparkSession, pixels: DataFrame,
      psf: PsfModel, boxR: Int, nIters: Int, nSigma: Double,
      statsOpt: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    val stats = statsOpt.map(statsMap)
    pixels.select(col("img_id"), col("y"), col("x"), col("v"))
      .as[(Long, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroups((img, rows) => withBackground(stats, img, rows) {
        case (frame, (median, std)) => photometryKernel(frame, median,
          median + nSigma * std, psf, boxR, nIters)
      }.getOrElse(Iterator.empty))
      .toDF("img_id", "star_id", "group_id", "x_fit", "y_fit", "flux_fit",
        "iter_detected")
  }

  /** The largest bounding box, in cells, that one frame-kernel task
    * (detection, photometry) holds densely (2²⁵: 8192 × 4096, or 2× a
    * 4096² frame). */
  val MaxFrameCells: Long = 1L << 25

  /** One image held densely over its bounding box: `v` row-major from
    * (`y0`, `x0`), with `present` marking the cells that have a pixel. */
  private[pipeline] final class Frame(val img: Long, val y0: Long, val x0: Long,
      val height: Int, val width: Int, val v: Array[Double],
      val present: java.util.BitSet) {
    /** Cell index of (y, x), or −1 when it is off the box or has no pixel. */
    def at(y: Long, x: Long): Int = {
      val dy = y - y0; val dx = x - x0
      if (dy < 0 || dx < 0 || dy >= height || dx >= width) -1
      else {
        val i = dy.toInt * width + dx.toInt
        if (present.get(i)) i else -1
      }
    }
    def y(i: Int): Long = y0 + i / width
    def x(i: Int): Long = x0 + i % width

    /** The image's background `(median, std)`: [[SigmaClippedStats.clip]]
      * (σ 2, five rounds) of the present cells' values in row-major order,
      * the clip of [[backgroundStats]] up to the order of its Kahan sums.
      * Holds a copy of the values and the clip's sorted copy, 16 B per
      * present cell, beside the frame's 8 B per cell. */
    def background(): (Double, Double) = {
      val values = new Array[Double](present.cardinality)
      var (i, k) = (present.nextSetBit(0), 0)
      while (i >= 0) { values(k) = v(i); k += 1; i = present.nextSetBit(i + 1) }
      val bkg = SigmaClippedStats.clip(values, 2.0, 5)
      (bkg.median, bkg.std)
    }
  }

  private[pipeline] object Frame {
    private val Chunk = 1 << 16

    /** Stream `rows` (one image's `(img_id, y, x, v)`) into 64 Ki-entry
      * chunks of (Int y, Int x) offsets from the first pixel and double
      * values, then fill the dense frame. Fails, naming the image and its
      * extent, when the bounding box exceeds [[MaxFrameCells]]. */
    def load(img: Long, rows: Iterator[(Long, Long, Long, Double)]): Frame = {
      val ys = scala.collection.mutable.ArrayBuffer.empty[Array[Int]]
      val xs = scala.collection.mutable.ArrayBuffer.empty[Array[Int]]
      val vs = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
      var n = 0L
      var (fy, fx) = (0L, 0L)
      var (minY, maxY, minX, maxX) = (0L, -1L, 0L, -1L)
      def guard(): Unit = require({
          val (h, w) = (maxY - minY + 1, maxX - minX + 1)
          h <= MaxFrameCells && w <= MaxFrameCells && h * w <= MaxFrameCells
        },
        s"frame kernel: image $img spans y $minY..$maxY, x $minX..$maxX " +
          s"(${maxY - minY + 1} × ${maxX - minX + 1} cells), over the " +
          s"$MaxFrameCells-cell limit of one task's frame")
      rows.foreach { case (_, y, x, v) =>
        if (n == 0) { fy = y; fx = x; minY = y; maxY = y; minX = x; maxX = x }
        else if (y < minY || y > maxY || x < minX || x > maxX) {
          minY = math.min(minY, y); maxY = math.max(maxY, y)
          minX = math.min(minX, x); maxX = math.max(maxX, x)
          guard() // also keeps the offsets below inside Int range
        }
        val k = (n % Chunk).toInt
        if (k == 0) {
          ys += new Array[Int](Chunk); xs += new Array[Int](Chunk)
          vs += new Array[Double](Chunk)
        }
        val c = (n / Chunk).toInt
        ys(c)(k) = (y - fy).toInt; xs(c)(k) = (x - fx).toInt; vs(c)(k) = v
        n += 1
      }
      val (h, w) = ((maxY - minY + 1).toInt, (maxX - minX + 1).toInt)
      val frame = new Array[Double](h * w)
      val present = new java.util.BitSet(h * w)
      val (oy, ox) = ((fy - minY).toInt, (fx - minX).toInt)
      var i = 0L
      while (i < n) {
        val (c, k) = ((i / Chunk).toInt, (i % Chunk).toInt)
        val cell = (ys(c)(k) + oy) * w + xs(c)(k) + ox
        frame(cell) = vs(c)(k); present.set(cell)
        i += 1
      }
      new Frame(img, minY, minX, h, w, frame, present)
    }
  }

  /** Iteratively-subtracted PSF photometry of ONE image (do_photometry,
    * core.py:416-452), in memory, with Spark SQL's rounding; per round,
    *  - detect: [[detect]] above `threshold` with a (2·boxR+1)² box, no
    *    saturation or border veto; its centroids seed the fits;
    *  - group: [[linkGroups]] within boxR (DAOGroup, core.py:440);
    *  - fit: [[fitGroup]] over the union of the members' boxes around
    *    their rounded centroids, each pixel once;
    *  - subtract: sum every star's (flux/volume)·psf over its box around
    *    the rounded fit position, then subtract once per pixel (skipped
    *    after the last round).
    * Stops early once a round detects nothing. Emits
    * `(img_id, star_id, group_id, x_fit, y_fit, flux_fit, iter_detected)`;
    * `frame` is the residual and is overwritten. */
  private[pipeline] def photometryKernel(frame: Frame, median: Double, threshold: Double,
      psf: PsfModel, boxR: Int, nIters: Int): Iterator[(Long, Int, Int, Double, Double, Double, Int)] = {
    val img = frame.img
    val v = frame.v
    val vol = psf.volume
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Int, Int, Double, Double, Double, Int)]
    /** Existing cells of the (2·boxR+1)² box around (cy, cx), row-major. */
    def box(cy: Long, cx: Long)(f: Int => Unit): Unit =
      for (y <- cy - boxR to cy + boxR; x <- cx - boxR to cx + boxR) {
        val i = frame.at(y, x)
        if (i >= 0) f(i)
      }
    var iter = 1
    var detected = true
    while (iter <= nIters && detected) {
      val found = detect(frame, median, threshold, boxR, Double.MaxValue, 0, 0L, 0L)
      detected = found.nonEmpty
      if (detected) {
        val k = found.length
        val (cx, cy) = (found.map(_.xcentroid), found.map(_.ycentroid))
        // stars are numbered 1..k in array order, so star_id = index + 1
        val root = linkGroups(cx, cy, boxR.toDouble * boxR.toDouble)
        val fits = new Array[(Double, Double, Double)](k)
        for ((r, members) <- (0 until k).groupBy(root).toSeq.sortBy(_._1)) {
          val seen = scala.collection.mutable.HashSet.empty[Int]
          val pix = scala.collection.mutable.ArrayBuffer.empty[Int]
          members.foreach(s => box(roundHalfUp(cy(s)), roundHalfUp(cx(s))) { i =>
            if (seen.add(i)) pix += i
          })
          val (fx, fy, ff) = fitGroup(pix.map(frame.x).toArray,
            pix.map(frame.y).toArray, pix.map(v).toArray,
            members.map(cx).toArray, members.map(cy).toArray, psf, boxR)
          members.indices.foreach { m =>
            fits(members(m)) = (fx(m), fy(m), ff(m))
            out += ((img, members(m) + 1, r + 1, fx(m), fy(m), ff(m), iter))
          }
        }
        if (iter < nIters) {
          val model = scala.collection.mutable.HashMap.empty[Int, Double]
          fits.foreach { case (xf, yf, f) =>
            box(roundHalfUp(yf), roundHalfUp(xf)) { i =>
              model(i) = model.getOrElse(i, 0.0) +
                f / vol * psf.eval(frame.x(i) - xf, frame.y(i) - yf)
            }
          }
          model.foreach { case (i, m) => v(i) -= m }
        }
      }
      iter += 1
    }
    out.iterator
  }

  /** DAOGroup (core.py:440) union-find over stars given in `star_id` order:
    * stars i < j link when their squared distance is ≤ `r2`. Returns each
    * star's group root, the index of its group's first (smallest-id)
    * member. */
  private[pipeline] def linkGroups(xs: Array[Double], ys: Array[Double],
      r2: Double): Array[Int] = {
    val parent = Array.tabulate(xs.length)(identity)
    def find(i: Int): Int = {
      var r = i; while (parent(r) != r) r = parent(r)
      var c = i
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    for (i <- xs.indices; j <- (i + 1) until xs.length) {
      val dx = xs(i) - xs(j); val dy = ys(i) - ys(j)
      if (dx * dx + dy * dy <= r2) {
        val (ri, rj) = (find(i), find(j))
        if (ri != rj) parent(math.max(ri, rj)) = math.min(ri, rj)
      }
    }
    xs.indices.map(find).toArray
  }

  /** Per-group PSF fit (fit_stars, core.py:442-450) over the group's pixel
    * evidence (`px`, `py`, `pv`) for members starting at (`mx`, `my`): a
    * linear LSQ warm start — solve (ΦᵀΦ)f = Φᵀz for member fluxes at the
    * detection centroids — then `posSteps` damped Gauss-Newton iterations
    * over the full parameter vector [fluxes, x positions, y positions],
    * matching the reference's LevMar fit of flux AND position. Position
    * derivatives are central differences (the EPSF grid has no analytic
    * gradient); steps are clamped to ±0.5 px and the star is kept within
    * boxR/2 of its start. Returns (x, y, total flux) per member: the solve
    * is 3k×3k for k members, and crowding bounds k. */
  private[pipeline] def fitGroup(px: Array[Long], py: Array[Long],
      pv: Array[Double], mx: Array[Double], my: Array[Double], psf: PsfModel,
      boxR: Int, posSteps: Int = 2): (Array[Double], Array[Double], Array[Double]) = {
    val k = mx.length
    val np = px.length
    val phi = Array.ofDim[Double](np, k)
    for (pi <- 0 until np; mi <- 0 until k)
      phi(pi)(mi) = psf.eval(px(pi) - mx(mi), py(pi) - my(mi))
    val ata = Array.ofDim[Double](k, k)
    val atb = new Array[Double](k)
    for (pi <- 0 until np) {
      for (a <- 0 until k) {
        atb(a) += phi(pi)(a) * pv(pi)
        for (b <- 0 until k) ata(a)(b) += phi(pi)(a) * phi(pi)(b)
      }
    }
    // ridge for stability of blended groups
    for (a <- 0 until k) ata(a)(a) += 1e-9
    val fs = LinAlg.solve(ata, atb).getOrElse(new Array[Double](k))
    // Gauss-Newton refinement of [f, x, y] around the warm start
    val xs = mx.clone()
    val ys = my.clone()
    val h = 0.25 // central-difference step; resolves oversample≥2 grids
    var step = 0
    while (step < posSteps && k > 0) {
      val n3 = 3 * k
      val jtj = Array.ofDim[Double](n3, n3)
      val jtr = new Array[Double](n3)
      val jrow = new Array[Double](n3)
      var pi = 0
      while (pi < np) {
        val pxd = px(pi).toDouble
        val pyd = py(pi).toDouble
        var model = 0.0
        var j = 0
        while (j < k) {
          val dx = pxd - xs(j); val dy = pyd - ys(j)
          val phi0 = psf.eval(dx, dy)
          model += fs(j) * phi0
          jrow(j) = phi0
          // ∂model/∂x_j = −f_j·∂φ/∂dx (dx = px − x_j)
          jrow(k + j) = -fs(j) *
            (psf.eval(dx + h, dy) - psf.eval(dx - h, dy)) / (2 * h)
          jrow(2 * k + j) = -fs(j) *
            (psf.eval(dx, dy + h) - psf.eval(dx, dy - h)) / (2 * h)
          j += 1
        }
        val r = pv(pi) - model
        var a = 0
        while (a < n3) {
          jtr(a) += jrow(a) * r
          var b = 0
          while (b < n3) { jtj(a)(b) += jrow(a) * jrow(b); b += 1 }
          a += 1
        }
        pi += 1
      }
      // Levenberg damping (relative) + absolute ridge for flat columns
      var a = 0
      while (a < n3) { jtj(a)(a) += 1e-3 * jtj(a)(a) + 1e-9; a += 1 }
      LinAlg.solve(jtj, jtr) match {
        case Some(delta) =>
          var j = 0
          while (j < k) {
            fs(j) += delta(j)
            xs(j) = math.max(mx(j) - boxR * 0.5, math.min(mx(j) + boxR * 0.5,
              xs(j) + math.max(-0.5, math.min(0.5, delta(k + j)))))
            ys(j) = math.max(my(j) - boxR * 0.5, math.min(my(j) + boxR * 0.5,
              ys(j) + math.max(-0.5, math.min(0.5, delta(2 * k + j)))))
            j += 1
          }
        case None => step = posSteps // singular: keep current params
      }
      step += 1
    }
    val vol = psf.volume
    (xs, ys, fs.map(_ * vol))
  }

  /** Subtract the fitted PSF models from the residual image (public: also
    * the `photometry.get_residual_image()` surface feeding get_residuals,
    * core.py:478). The model evaluation is a NATIVE expression tree over
    * the model's literal parameters (PsfModel.evalCol) — model pixels
    * number stars × box², never the full image, and the whole subtraction
    * stays inside whole-stage codegen with no scalar UDF. */
  def subtractModel(residual: DataFrame, fitted: DataFrame,
      psf: PsfModel, boxR: Int): DataFrame = {
    val vol = psf.volume
    val boxOffs = array((-boxR to boxR).map(lit): _*)
    val model = fitted
      .withColumn("dy", explode(boxOffs)).withColumn("dx", explode(boxOffs))
      .select(col("img_id"),
        (round(col("y_fit")).cast(LongType) + col("dy")).as("y"),
        (round(col("x_fit")).cast(LongType) + col("dx")).as("x"),
        col("x_fit"), col("y_fit"), col("flux_fit"))
      .withColumn("contrib", col("flux_fit") / vol *
        psf.evalCol(col("x") - col("x_fit"), col("y") - col("y_fit")))
      .groupBy(col("img_id"), col("y"), col("x"))
      .agg(sum(col("contrib")).as("model_v"))
    residual.join(model, Seq("img_id", "y", "x"), "left_outer")
      .select(col("img_id"), col("y"), col("x"),
        (col("v") - coalesce(col("model_v"), lit(0.0))).as("v"))
  }

  /** get_residuals (core.py:454-484): per measured star, the (2R+1)² cutout
    * from BOTH the original image and the photometry residual, flux-desc
    * ordered — the diagnostic the reference renders into its PDF report.
    * Cutouts are gathered by an exact-key box join (stars × box² rows, the
    * pixel table never fans out) and packed row-major; off-image cells and
    * in-image gaps are absent from the packed array, so `n_px` carries the
    * true cutout cardinality. */
  def residualCutouts(image: DataFrame, residual: DataFrame, stars: DataFrame,
      radius: Int): DataFrame = {
    val boxOffs = array((-radius to radius).map(lit): _*)
    val box = stars
      .select(col("img_id"), col("star_id"), col("x_fit"), col("y_fit"),
        col("flux_fit"))
      .withColumn("dy", explode(boxOffs)).withColumn("dx", explode(boxOffs))
      .select(col("img_id"), col("star_id"), col("x_fit"), col("y_fit"),
        col("flux_fit"), col("dy"), col("dx"),
        (round(col("y_fit")).cast(LongType) + col("dy")).as("y"),
        (round(col("x_fit")).cast(LongType) + col("dx")).as("x"))
    def packed(v: String): Column =
      transform(
        array_sort(collect_list(struct(col("dy"), col("dx"), col(v)))),
        s => s.getField(v))
    box
      .join(image.withColumnRenamed("v", "v_img"), Seq("img_id", "y", "x"))
      .join(residual.withColumnRenamed("v", "v_res"), Seq("img_id", "y", "x"))
      .groupBy(col("img_id"), col("star_id"))
      .agg(first(col("x_fit")).as("x"), first(col("y_fit")).as("y"),
        first(col("flux_fit")).as("flux"),
        count(lit(1)).cast(LongType).as("n_px"),
        packed("v_img").as("image_cutout"),
        packed("v_res").as("residual_cutout"))
      .orderBy(col("flux").desc, col("star_id"))
  }
}

/** Small dense linear algebra for the group fits. */
object LinAlg {
  /** k×k Gaussian elimination with partial pivoting; None if singular. */
  def solve(m: Array[Array[Double]], rhs: Array[Double]): Option[Array[Double]] = {
    val n = rhs.length
    val a = m.map(_.clone()); val b = rhs.clone()
    var col = 0
    while (col < n) {
      var piv = col; var best = math.abs(a(col)(col))
      var r = col + 1
      while (r < n) {
        if (math.abs(a(r)(col)) > best) { best = math.abs(a(r)(col)); piv = r }
        r += 1
      }
      if (best < 1e-300) return None
      if (piv != col) {
        val t = a(piv); a(piv) = a(col); a(col) = t
        val tb = b(piv); b(piv) = b(col); b(col) = tb
      }
      r = col + 1
      while (r < n) {
        val f = a(r)(col) / a(col)(col)
        var c = col
        while (c < n) { a(r)(c) -= f * a(col)(c); c += 1 }
        b(r) -= f * b(col)
        r += 1
      }
      col += 1
    }
    val x = new Array[Double](n)
    var row = n - 1
    while (row >= 0) {
      var s = b(row)
      var c = row + 1
      while (c < n) { s -= a(row)(c) * x(c); c += 1 }
      x(row) = s / a(row)(row)
      row -= 1
    }
    Some(x)
  }
}
