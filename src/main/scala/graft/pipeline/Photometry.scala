package graft.pipeline

import graft.functions.SigmaClippedStats.sigmaClippedStats
import graft.operators.SpatialJoins
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference pipeline's image-domain operators re-expressed over
  * long-form pixels `(img_id: long, y: long, x: long, v: double)` —
  * abstraction #1 in SURVEY.md §1. Long form makes every per-pixel
  * operation a plain projection/aggregate: background stats are a grouped
  * sigma-clipped aggregate, median combine is `groupBy(y,x)`, np.roll is a
  * key rewrite, detection is a per-image 3×3 peak kernel. A 4096² frame is
  * 16.7 M rows — at 100 TB the pixel table partitions by `img_id` and each
  * stage shuffles by its natural key. Only the iterative photometry holds
  * a whole image, one per task, as a dense frame (≈ 405 MB at 4096²).
  */
object Photometry {

  /** Per-image sigma-clipped background (sigma_clipped_stats, psf_phot.py:68;
    * sigma=2.0 per core.py:70).
    *
    * This is the few-groups/huge-cardinality shape (one group per image,
    * 16.7 M pixels each at full frame), where a buffering aggregate would
    * hold whole frames in aggregation buffers — so it runs as the
    * fixed-point DataFrame loop instead (SURVEY.md §2.5's two-pass
    * alternative): per round one exact-percentile + stddev_pop aggregate,
    * then a broadcast-threshold filter; stop when no image's survivor
    * count changed, or after the reference's 5 rounds. Same fixpoint as
    * SigmaClippedStats.clip; per-pixel state never leaves the scan. The
    * buffering aggregate remains the right tool for the many-small-groups
    * call sites (median combine, annulus). */
  def backgroundStats(pixels: DataFrame, sigma: Double = 2.0,
      maxIters: Int = 5, bufferable: Boolean = false): DataFrame = {
    val spark = pixels.sparkSession
    import spark.implicits._
    // when the caller can bound the per-image pixel count (small frames /
    // fixtures), the buffering aggregate runs the whole clip fixpoint in
    // ONE shuffle instead of maxIters+1 aggregate rounds — same clip
    // semantics (SigmaClippedStats.clip), different physical plan. Full
    // frames (16.7 M px = 134 MB buffers) must keep the loop.
    if (bufferable) {
      val scs = sigmaClippedStats(sigma, maxIters)
      return pixels.groupBy(col("img_id")).agg(scs(col("v")).as("s"))
        .select(col("img_id"), col("s.mean").as("bkg_mean"),
          col("s.median").as("bkg_median"), col("s.std").as("bkg_std"))
    }
    // pin the 2-column projection for the loop's repeated scans; released
    // before returning (the result itself is a collected model object)
    val base = pixels.select(col("img_id"), col("v")).persist()
    def agg(df: DataFrame): Array[(Long, Long, Double, Double, Double)] =
      df.groupBy(col("img_id"))
        .agg(count(lit(1)).as("n"), avg(col("v")).as("mean"),
          expr("percentile(v, 0.5)").as("med"),
          stddev_pop(col("v")).as("sd"))
        .as[(Long, Long, Double, Double, Double)].collect()
    var cur = base
    var res = agg(cur)
    var it = 0
    var changed = true
    while (it < maxIters && changed) {
      val bounds = res.map { case (img, _, _, med, sd) =>
        (img, med, sigma * sd) }.toSeq.toDF("img_id", "_med", "_bound")
      cur = cur.join(broadcast(bounds), Seq("img_id"))
        .filter(abs(col("v") - col("_med")) <= col("_bound"))
        .select(col("img_id"), col("v"))
      val nxt = agg(cur)
      val prevN = res.map(r => r._1 -> r._2).toMap
      changed = nxt.exists(r => prevN.get(r._1).forall(_ != r._2))
      // an image whose rows were ALL clipped this round vanishes from the
      // groupBy result — keep its previous-round stats (the last non-empty
      // survivor set, matching SigmaClippedStats.clip's kept.nonEmpty
      // guard) instead of silently dropping the image downstream
      val nxtImgs = nxt.map(_._1).toSet
      res = nxt ++ res.filterNot(r => nxtImgs.contains(r._1))
      it += 1
    }
    base.unpersist(blocking = false)
    res.toSeq.toDF("img_id", "n", "bkg_mean", "bkg_median", "bkg_std")
      .select(col("img_id"), col("bkg_mean"), col("bkg_median"), col("bkg_std"))
  }

  /** Whether a `width`×`height` frame fits an aggregation buffer (≤ 1 M px
    * = 8 MB), so [[backgroundStats]] can take the one-shuffle clip; full
    * frames take the fixpoint loop. */
  def bufferable(width: Int, height: Int): Boolean =
    width.toLong * height <= (1L << 20)

  /** Global background subtraction (psf_phot.py:69: image −= median). */
  def subtractBackground(pixels: DataFrame, bufferable: Boolean = false): DataFrame =
    pixels.join(broadcast(backgroundStats(pixels, bufferable = bufferable)),
        Seq("img_id"))
      .select(col("img_id"), col("y"), col("x"),
        (col("v") - col("bkg_median")).as("v"))

  /** Star detection (DAOStarFinder semantics simplified, core.py:116-146):
    * local maxima above `bkg + nSigma·std` (core.py:143's 10σ default),
    * then flux-weighted centroid over a (2R+1)² box.
    *
    * Plan: the threshold pass scans the pixel table once, joined to the
    * broadcast per-image stats, and keeps the above-threshold pixels (a
    * ~1e-5 fraction at 10σ). Those rows shuffle once by `img_id` into
    * [[peaksOf]], which runs the 3×3 peak test and numbers each image's
    * peaks in the same pass. The box gather joins the exploded (2R+1)²
    * peak boxes to the pixel table and folds every shape statistic into
    * one aggregation. AQE sizes that join at run time: a pixel table under
    * the broadcast threshold (a 192² frame is) is broadcast whole; at full
    * frame the pixel side is too large, so the small box side is
    * broadcast or both sides shuffle by pixel key. Requires boxRadius ≥ 1
    * (the 3×3 sharpness subset comes from the box). Emits one star row
    * per image peak: the Generator shape (§2.11). */
  def detectStars(pixels: DataFrame, nSigma: Double, boxRadius: Int): DataFrame =
    detectStars(pixels, nSigma, boxRadius, Double.MaxValue, 0, 0L, 0L, None)

  /** As above with the reference's remaining DAOStarFinder knobs:
    * `peakMax` rejects saturated peaks (find_stars `peak=100000`,
    * core.py:130-131), and `excludeBorder > 0` with the image extent drops
    * peaks within that many pixels of the edge (`exclude_border=True`,
    * core.py:144) — both are rules of the peak kernel, applied before the
    * centroid box join. `precomputedStats` passes in a
    * backgroundStats frame computed once by the caller — the reference
    * builds its finder with a FIXED threshold (core.py:439), so repeated
    * detections over the same image must not re-estimate the
    * background. */
  def detectStars(pixels: DataFrame, nSigma: Double, boxRadius: Int,
      peakMax: Double, excludeBorder: Int, width: Long, height: Long,
      precomputedStats: Option[DataFrame] = None): DataFrame = {
    val spark = pixels.sparkSession
    import spark.implicits._
    val stats = broadcast(precomputedStats.getOrElse(backgroundStats(pixels)))
    // above-threshold pixels: the only pixels that can be peaks OR beat a
    // peak. Tiny at any real nSigma.
    val aboveThr = pixels.join(stats, Seq("img_id"))
      .filter(col("v") > col("bkg_median") + lit(nSigma) * col("bkg_std"))
      .select(col("img_id"), col("y"), col("x"), col("v"), col("bkg_median"))
    val peaks = aboveThr.as[(Long, Long, Long, Double, Double)]
      .groupByKey(_._1)
      .flatMapGroups((_, rows) =>
        peaksOf(rows.toArray, peakMax, excludeBorder, width, height))
      .toDF("img_id", "py", "px", "peak", "bkg_median", "star_id")
    // ONE box gather per peak serves every remaining statistic: flux,
    // flux-weighted centroid and npix over the (2R+1)² box; DAOFIND-style
    // sharpness — (peak − mean of the 8 existing neighbors) / peak — from
    // the |d|≤1 subset via conditional aggregates; roundness from the
    // flux-weighted second moments about the centroid (marginal-width
    // asymmetry, DAOFIND roundness2 analog), folded into the same pass.
    val boxOffs = array((-boxRadius to boxRadius).map(lit): _*)
    val box = peaks
      .withColumn("dy", explode(boxOffs)).withColumn("dx", explode(boxOffs))
      .select(col("img_id"), col("star_id"), col("py"), col("px"), col("peak"),
        col("bkg_median"),
        (col("py") + col("dy")).as("y"), (col("px") + col("dx")).as("x"))
    val inner = abs(col("y") - col("py")) <= 1 && abs(col("x") - col("px")) <= 1
    val sw = sum(col("w")); val swx = sum(col("w") * col("x"))
    val swy = sum(col("w") * col("y"))
    val sxx = sum(col("w") * col("x") * col("x")) / sw - (swx / sw) * (swx / sw)
    val syy = sum(col("w") * col("y") * col("y")) / sw - (swy / sw) * (swy / sw)
    box.join(pixels, Seq("img_id", "y", "x"))
      .withColumn("w", greatest(col("v") - col("bkg_median"), lit(0.0)))
      .groupBy(col("img_id"), col("star_id"), col("py"), col("px"))
      .agg(first(col("peak")).as("peak"), sum(col("w")).as("flux"),
        (swx / sw).as("xcentroid"), (swy / sw).as("ycentroid"),
        sum(when(inner, col("v"))).as("s2"),
        sum(when(inner, 1L)).as("c2"),
        when(sxx + syy =!= 0.0, (sxx - syy) / (sxx + syy))
          .otherwise(lit(null)).as("roundness"),
        count(lit(1)).cast(LongType).as("npix"),
        first(col("bkg_median")).as("sky"))
      .withColumn("sharpness",
        when(col("c2") > 1 && col("peak") =!= 0.0,
          (col("peak") - (col("s2") - col("peak")) / (col("c2") - 1)) / col("peak"))
          .otherwise(lit(null)))
      .withColumn("mag", lit(-2.5) * log10(col("flux")))
      .select(col("img_id"), col("star_id"), col("xcentroid"), col("ycentroid"),
        col("sharpness"), col("roundness"), col("npix"), col("sky"),
        col("peak"), col("flux"), col("mag"))
  }

  /** The 3×3 peak test over ONE image's above-threshold pixels
    * `(img_id, y, x, v, bkg_median)`, returning its peaks as
    * `(img_id, y, x, v, bkg_median, star_id)` numbered 1..n in (y, x)
    * order.
    *
    * A pixel is a peak when no above-threshold pixel in its 3×3
    * neighbourhood orders before it by (v desc, y asc, x asc), so a
    * plateau yields one peak at its smallest (y, x). Values compare as
    * Spark SQL orders doubles (−0.0 equals 0.0, NaN is largest). A
    * sub-threshold pixel is smaller than every above-threshold one, so
    * the above-threshold set alone decides the test. Saturated pixels
    * (v ≥ `peakMax`, find_stars peak=100000, core.py:130-131) and pixels
    * within `excludeBorder` of the `width`×`height` edge
    * (exclude_border=True, core.py:144) can veto a neighbour but are
    * never peaks themselves. */
  private def peaksOf(px: Array[(Long, Long, Long, Double, Double)],
      peakMax: Double, excludeBorder: Int, width: Long,
      height: Long): Array[(Long, Long, Long, Double, Double, Int)] = {
    import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
    val at = px.iterator.map(p => (p._2, p._3) -> p._4).toMap
    def eligible(y: Long, x: Long, v: Double): Boolean =
      compareDoubles(v, peakMax) < 0 && (excludeBorder <= 0 ||
        x >= excludeBorder && x < width - excludeBorder &&
        y >= excludeBorder && y < height - excludeBorder)
    def beats(ny: Long, nx: Long, nv: Double, y: Long, x: Long, v: Double) = {
      val c = compareDoubles(nv, v)
      c > 0 || c == 0 && (ny < y || ny == y && nx < x)
    }
    def unbeaten(y: Long, x: Long, v: Double): Boolean =
      (-1 to 1).forall(dy => (-1 to 1).forall(dx =>
        at.get((y + dy, x + dx)).forall(nv => !beats(y + dy, x + dx, nv, y, x, v))))
    px.filter { case (_, y, x, v, _) => eligible(y, x, v) && unbeaten(y, x, v) }
      .sortBy(p => (p._2, p._3))
      .zipWithIndex
      .map { case ((img, y, x, v, bkg), i) => (img, y, x, v, bkg, i + 1) }
  }

  /** image_combiner (core.py:245-279): detect stars per image, estimate each
    * image's integer shift against the reference frame (nearest-neighbor
    * match → median offset, core.py:148-177 + 203-206), roll the pixel keys
    * (core.py:209 — a projection, no data movement beyond the final
    * combine), then per-pixel sigma-clipped median across the stack
    * (core.py:215-243). `height`/`width` wrap the roll like np.roll.
    * `stats` passes in the per-image [[backgroundStats]] the caller already
    * holds, so the detection threshold costs no second clip. */
  def alignAndCombine(pixels: DataFrame, width: Int, height: Int,
      nSigma: Double = 10.0, matchRadius: Double = 20.0,
      stats: Option[DataFrame] = None): DataFrame = {
    val bkg = stats.getOrElse(
      backgroundStats(pixels, bufferable = bufferable(width, height)))
    val stars = detectStars(pixels, nSigma, 3, Double.MaxValue, 0, 0L, 0L,
      Some(bkg)).localCheckpoint()
    // no stars anywhere (cloudy epoch): no shift estimation possible —
    // fall through to an unshifted clipped-median combine, don't crash
    val refImgOpt = Option(stars.agg(min(col("img_id"))).head().get(0))
      .map(_.asInstanceOf[Long])
    if (refImgOpt.isEmpty) {
      val scs0 = sigmaClippedStats(2.0, 5)
      return pixels.groupBy(col("y"), col("x"))
        .agg(scs0(col("v")).as("s"))
        .select(col("y"), col("x"), col("s.median").as("v"), col("s.n").as("n_stack"))
    }
    val refImg = refImgOpt.get
    val ref = stars.filter(col("img_id") === refImg)
      .select(col("star_id").as("ref_id"), col("xcentroid").as("rx"),
        col("ycentroid").as("ry"))
    val others = stars.filter(col("img_id") =!= refImg)
      .withColumn("sid", concat_ws("_", col("img_id"), col("star_id")))
    // nearest reference star per detected star, then per-image median offset
    val matched = SpatialJoins.nearestNeighbor(
      others, "sid", "xcentroid", "ycentroid",
      ref, "ref_id", "rx", "ry", matchRadius)
      .join(others.select(col("sid").as("left_id"), col("img_id")), Seq("left_id"))
    // np.int(np.round(median)) with banker's rounding (core.py:207-208);
    // Spark's rint builtin IS Math.rint — codegen'd, no UDF. nanvl keeps
    // the old UDF's NaN→0 (no shift) semantics: under ANSI mode a bare
    // CAST(NaN AS BIGINT) would throw instead of degrading gracefully
    val shifts = matched.groupBy(col("img_id"))
      .agg(expr("CAST(rint(nanvl(median(-dx), 0d)) AS BIGINT)").as("shift_x"),
        expr("CAST(rint(nanvl(median(-dy), 0d)) AS BIGINT)").as("shift_y"))
    val rolled = pixels.join(broadcast(shifts), Seq("img_id"), "left_outer")
      .withColumn("sx", coalesce(col("shift_x"), lit(0L)))
      .withColumn("sy", coalesce(col("shift_y"), lit(0L)))
      .select(col("img_id"),
        pmod(col("y") + col("sy"), lit(height.toLong)).as("y"),
        pmod(col("x") + col("sx"), lit(width.toLong)).as("x"), col("v"))
    val scs = sigmaClippedStats(2.0, 5)
    rolled.groupBy(col("y"), col("x"))
      .agg(scs(col("v")).as("s"))
      .select(col("y"), col("x"), col("s.median").as("v"), col("s.n").as("n_stack"))
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

  /** EPSF-style oversampled mean stack of flux-normalized star cutouts
    * (core.py:384-414; oversampling=2, core.py:411). Each star's cutout is
    * mapped onto an oversampled grid centered on its centroid and the stack
    * is averaged per grid cell — the grouped iterative aggregate of
    * SURVEY.md §2.5 (smoothing iterations elided: one stacking pass). */
  def buildEpsf(pixels: DataFrame, stars: DataFrame, cutoutRadius: Int,
      oversample: Int): DataFrame = {
    val boxOffs = array((-cutoutRadius to cutoutRadius).map(lit): _*)
    val cut = stars
      .select(col("img_id"), col("star_id"), col("xcentroid"), col("ycentroid"),
        col("flux"))
      .withColumn("dy", explode(boxOffs)).withColumn("dx", explode(boxOffs))
      .select(col("img_id"), col("star_id"), col("xcentroid"), col("ycentroid"),
        col("flux"),
        (round(col("ycentroid")).cast(LongType) + col("dy")).as("y"),
        (round(col("xcentroid")).cast(LongType) + col("dx")).as("x"))
    cut.join(pixels, Seq("img_id", "y", "x"))
      .withColumn("u", round((col("x") - col("xcentroid")) * oversample).cast(LongType))
      .withColumn("w", round((col("y") - col("ycentroid")) * oversample).cast(LongType))
      .withColumn("nv", col("v") / col("flux"))
      .groupBy(col("w"), col("u"))
      .agg(avg(col("nv")).as("epsf"), count(lit(1)).as("n_samples"))
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
    * cutout table, stars × (2(R+2)+1)² rows of 48 B. */
  def buildEpsfIterative(pixels: DataFrame, stars: DataFrame, cutoutRadius: Int,
      oversample: Int, maxIters: Int = 10, tol: Double = 1e-2): DataFrame = {
    val spark = pixels.sparkSession
    import spark.implicits._
    val margin = 2 // covers recenter drift (tol-convergent shifts ≪ 1 px)
    val boxOffs = array((-(cutoutRadius + margin) to (cutoutRadius + margin))
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

  /** The recentering loop of [[buildEpsfIterative]] over the cutout rows
    * `(y, x, xcentroid, ycentroid, flux, v)`, with Spark SQL's arithmetic:
    * per round, keep each star's pixels within `cutoutRadius` of its
    * shifted, rounded centroid, average `v / flux` per oversampled cell
    * (w, u), smooth ([[smoothCells]]), and shift every centroid by the
    * model's centroid offset until it is under `tol` px or `maxIters`
    * rounds ran. An empty stack or an all-zero model stops the loop. */
  private def recenterEpsf(cut: Iterator[(Long, Long, Double, Double, Double, Double)],
      cutoutRadius: Int, oversample: Int, maxIters: Int,
      tol: Double): Map[(Long, Long), Double] = {
    val rows = cut.toArray
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
  def collectGridPsf(epsf: DataFrame, radius: Int, oversample: Int): GridPsf = {
    val size = 2 * radius * oversample + 1
    val grid = Array.ofDim[Double](size, size)
    val c = radius * oversample
    epsf.select(col("w"), col("u"), col("epsf")).collect().foreach { r =>
      val w = r.getLong(0).toInt + c; val u = r.getLong(1).toInt + c
      if (w >= 0 && w < size && u >= 0 && u < size) grid(w)(u) = r.getDouble(2)
    }
    val peak = grid.map(_.max).max
    val norm = if (peak > 0) grid.map(_.map(_ / peak)) else grid
    GridPsf(norm, radius, oversample)
  }

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

  /** EPSF-closed-loop photometry: build the empirical PSF from the field's
    * own bright stars (build_psf, psf_phot.py:76), then measure with it
    * (do_photometry, psf_phot.py:84) — the reference's actual sequence. */
  def epsfPhotometry(spark: SparkSession, pixels: DataFrame, fwhm: Double,
      nIters: Int, nSigma: Double, oversample: Int = 2,
      statsOpt: Option[DataFrame] = None,
      starsOpt: Option[DataFrame] = None): DataFrame = {
    val boxR = math.max(math.ceil(2 * fwhm).toInt, 2)
    val stats = statsOpt.getOrElse(backgroundStats(pixels))
    // the reference builds the EPSF from the caller's masked star table
    // (build_psf(stars_tbl), psf_phot.py:76) — accept it and skip the
    // extra detection pass; detect only when the caller has none
    val stars = starsOpt.getOrElse(
      detectStars(pixels, nSigma, boxR, Double.MaxValue, 0, 0L, 0L,
        Some(stats)))
    val epsf = buildEpsfIterative(pixels, stars, boxR, oversample)
    val psf = collectGridPsf(epsf, boxR, oversample)
    // degenerate EPSF (starless field / empty stack): fall back to the
    // analytic Gaussian rather than fitting against a zero model
    val usable: PsfModel =
      if (psf.volume > 0) psf else GaussianPsf(fwhm / GaussianFit.SigmaToFwhm)
    iterativePhotometryWithPsf(spark, pixels, usable, boxR, nIters, nSigma,
      Some(stats))
  }

  /** The detect → group → fit → subtract loop over an arbitrary PSF model,
    * run as one in-memory kernel per image ([[photometryKernel]]): the
    * pixels shuffle once by `img_id` and each task iterates its image to
    * completion, so a pass costs the same few jobs at any `nIters`.
    *
    * The detection threshold `bkg_median + nSigma·bkg_std` comes from the
    * per-image stats (`statsOpt`, else [[backgroundStats]] of `pixels`),
    * estimated ONCE and held fixed across rounds — the reference builds
    * its finder with a fixed threshold before the loop (core.py:439). The
    * stats are one row per image, collected to the driver and shipped in
    * the task closure; an image without a stats row emits nothing.
    *
    * Memory: a task streams its image into primitive buffers (16 B per
    * pixel), then fills a dense frame over the image's bounding box (8 B
    * per cell plus a presence bit) and drops the buffers — at most
    * 24.2 B per bounding-box cell of unique pixels at peak. The box is
    * capped at [[MaxFrameCells]] (2²⁵ cells, ≈ 810 MB); a 4096² frame
    * (2²⁴ cells, ≈ 405 MB) fits, and a larger box fails the task with a
    * message naming the image and its extent. */
  def iterativePhotometryWithPsf(spark: SparkSession, pixels: DataFrame,
      psf: PsfModel, boxR: Int, nIters: Int, nSigma: Double,
      statsOpt: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    val stats: Map[Long, (Double, Double)] =
      statsOpt.getOrElse(backgroundStats(pixels))
        .select(col("img_id"), col("bkg_median"), col("bkg_std"))
        .collect()
        .collect { case r if !r.anyNull => r.getLong(0) -> (r.getDouble(1), r.getDouble(2)) }
        .toMap
    pixels.select(col("img_id"), col("y"), col("x"), col("v"))
      .as[(Long, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroups((img, rows) => stats.get(img) match {
        case Some((median, std)) =>
          photometryKernel(Frame.load(img, rows), median, median + nSigma * std,
            psf, boxR, nIters)
        case None => Iterator.empty
      })
      .toDF("img_id", "star_id", "group_id", "x_fit", "y_fit", "flux_fit",
        "iter_detected")
  }

  /** The largest bounding box, in cells, that one photometry task holds
    * densely (2²⁵: 8192 × 4096, or 2× a 4096² frame). */
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
        s"photometry: image $img spans y $minY..$maxY, x $minX..$maxX " +
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
    *  - detect: pixels with v > `threshold` → [[peaksOf]] → flux-weighted
    *    centroid over the (2·boxR+1)² box of existing pixels, weights
    *    max(v − `median`, 0);
    *  - group: [[linkGroups]] within boxR (DAOGroup, core.py:440);
    *  - fit: [[fitGroup]] over the union of the members' boxes around
    *    their rounded centroids, each pixel once;
    *  - subtract: sum every star's (flux/volume)·psf over its box around
    *    the rounded fit position, then subtract once per pixel (skipped
    *    after the last round).
    * Stops early once a round detects nothing. Emits
    * `(img_id, star_id, group_id, x_fit, y_fit, flux_fit, iter_detected)`;
    * `frame` is the residual and is overwritten. */
  private def photometryKernel(frame: Frame, median: Double, threshold: Double,
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
      val above = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Long, Double, Double)]
      var i = frame.present.nextSetBit(0)
      while (i >= 0) {
        if (v(i) > threshold) above += ((img, frame.y(i), frame.x(i), v(i), median))
        i = frame.present.nextSetBit(i + 1)
      }
      val peaks = peaksOf(above.toArray, Double.MaxValue, 0, 0L, 0L)
      detected = peaks.nonEmpty
      if (detected) {
        val k = peaks.length
        val (cx, cy) = (new Array[Double](k), new Array[Double](k))
        for (s <- 0 until k) {
          var (sw, swx, swy) = (0.0, 0.0, 0.0)
          box(peaks(s)._2, peaks(s)._3) { i =>
            val w = math.max(v(i) - median, 0.0)
            sw += w; swx += w * frame.x(i); swy += w * frame.y(i)
          }
          cx(s) = swx / sw; cy(s) = swy / sw
        }
        // peaks are numbered 1..k in array order, so star_id = index + 1
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

  /** DAOGroup (core.py:440): connected components of the within-`linkRadius`
    * star graph, per image, via flatMapGroups over [[linkGroups]] — no
    * Catalyst primitive expresses transitive closure, and per-image
    * cardinality is bounded, so in-memory per group is the right scale
    * tradeoff. */
  def groupStars(spark: SparkSession, stars: DataFrame, linkRadius: Double): DataFrame = {
    import spark.implicits._
    stars.select(col("img_id"), col("star_id"), col("xcentroid"),
        col("ycentroid"), col("peak"), col("flux"))
      .as[(Long, Int, Double, Double, Double, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (img, it) =>
        // star_id order, not shuffle arrival order: a group's id is its
        // smallest star_id, and the rows it emits keep that order
        val ss = it.toArray.sortBy(_._2)
        val root = linkGroups(ss.map(_._3), ss.map(_._4), linkRadius * linkRadius)
        ss.indices.iterator.map { i =>
          val s = ss(i)
          (img, s._2, ss(root(i))._2, s._3, s._4, s._5, s._6)
        }
      }
      .toDF("img_id", "star_id", "group_id", "xcentroid", "ycentroid",
        "peak", "flux")
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
