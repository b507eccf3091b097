package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
import org.apache.spark.sql.functions._

/** The reference's full per-epoch pipeline (psf_phot.py:9-98) composed from
  * the engine's operators — entry point 1 of SURVEY.md §3.1:
  *
  *   combine → background → FWHM → detect → mask (crowd + trim) →
  *   EPSF → photometry → annulus → WCS → catalog
  *
  * with the reference's guard branches: epoch aborted when the FWHM solve
  * fails (psf_phot.py:53-55), diagnostics-only when too few stars or the
  * FWHM is implausible (psf_phot.py:78-82), and null sky coordinates when
  * the WCS solve fails (psf_phot.py:95-98).
  *
  * A campaign of epochs ([[runEpochs]]) is one plan keyed by `epoch_id`,
  * the reference's per-epoch loop (psf_phot.py:44) as a `groupBy` on the
  * epoch (SURVEY.md:84); [[run]] is a campaign of one. The plan is three
  * distributed phases and a driver tail:
  *  - per image: one task per `(epoch_id, img_id)` clips the image's
  *    background and finds its stars ([[Photometry.detectKeyed]]); the
  *    collected rows count each epoch's images and hold the alignment's
  *    star tables;
  *  - the combine: the per-row clipped median of every multi-image epoch in
  *    the same stages ([[Photometry.combineEpochs]]); a one-image epoch is
  *    its own combined frame;
  *  - the frame kernel: the combined frames shuffle once, by epoch, and ONE
  *    task per epoch runs every step after the combine in memory
  *    ([[epochKernel]]), returning the epoch's status, FWHM and measured
  *    stars as one row;
  *  - on the driver: those rows' stars in flux-descending order as a local
  *    relation, then the WCS columns and magnitudes.
  *
  * Memory of a kernel task: the combined frame's values and their
  * residual, 16 B per bounding-box cell plus a presence bit, after a load
  * and a background clip that peak at 24.2 B per cell (≈ 405 MB at 4096²);
  * a frame over [[Photometry.MaxFrameCells]] fails, naming its epoch id. The
  * tasks of different epochs run side by side on the executors.
  */
object EpochPipeline {

  final case class Result(status: String, fwhm: Double, catalog: DataFrame)

  /** One measured star of the epoch kernel; `annulus_bkg` is NULL when no
    * pixel lies in its ring. */
  private[pipeline] final case class CatalogStar(star_id: Int, group_id: Int,
      xcentroid: Double, ycentroid: Double, flux: Double, iter_detected: Int,
      annulus_bkg: Option[Double])

  /** What the epoch kernel returns: the guard branch taken, the FWHM (0 when
    * aborted) and the measured stars (empty unless `ok`). */
  private[pipeline] final case class Outcome(status: String, fwhm: Double,
      stars: Seq[CatalogStar])

  /** The detection threshold in background σ (psf_phot.py:68-69). */
  private val NSigma = 10.0
  /** The widest FWHM, in px, that still measures stars (psf_phot.py:78-82). */
  private val MaxStarsFwhm = 30.0

  // find_fwhm's search limits (core.py:72-110)
  private val SatLimit = 50000.0
  private val MinPeak = 1000.0
  private val MinSeparation = 8.0
  private val MaxTries = 100
  private val CutoutRadius = 8

  /** FWHM estimation (find_fwhm, core.py:52-114): pick the brightest
    * unsaturated star ([[fwhmStar]]) among the `MaxTries` brightest rows
    * of `stars` by (peak desc, y, x), then LSQ-fit a 2-D Gaussian to its
    * cutout ([[cutoutFwhm]]). The candidates are collected to the driver;
    * the pixel cutout is gathered by a filter over `pixels`. */
  def findFwhm(spark: SparkSession, pixels: DataFrame, stars: DataFrame): Double = {
    import spark.implicits._
    val cands = stars
      .orderBy(col("peak").desc, col("ycentroid"), col("xcentroid"))
      .select(col("img_id"), col("xcentroid"), col("ycentroid"), col("peak"))
      .limit(MaxTries)
      .as[(Long, Double, Double, Double)]
      .collect() // ≤ MaxTries rows — the reference's bounded search
    fwhmStar(cands, SatLimit, MinPeak, MinSeparation) match {
      case None => 0.0 // sentinel: no usable star (core.py:107-113)
      case Some((img, xc, yc, _)) =>
        val cut = pixels
          .filter(col("img_id") === img &&
            col("y").between(math.round(yc) - CutoutRadius, math.round(yc) + CutoutRadius) &&
            col("x").between(math.round(xc) - CutoutRadius, math.round(xc) + CutoutRadius))
          .select(col("x").cast("double"), col("y").cast("double"), col("v"))
          .as[(Double, Double, Double)]
          .collect()
        cutoutFwhm(cut.map(_._1), cut.map(_._2), cut.map(_._3))
    }
  }

  /** find_fwhm's greedy walk (core.py:72-110) over candidates
    * `(img_id, x, y, peak)` in search order: saturated stars (peak ≥
    * `satLimit`) are suppressed, and so is any later candidate within
    * `minSeparation` of one (the reference zeroes their search box); the
    * walk abandons once a peak drops below `minPeak`. Returns the first
    * clear candidate. */
  private[pipeline] def fwhmStar(cands: Seq[(Long, Double, Double, Double)],
      satLimit: Double, minPeak: Double,
      minSeparation: Double): Option[(Long, Double, Double, Double)] = {
    val suppressed = scala.collection.mutable.ArrayBuffer[(Double, Double)]()
    val it = cands.iterator
    while (it.hasNext) {
      val c = it.next()
      if (c._4 < minPeak) return None
      else if (c._4 >= satLimit) suppressed += ((c._2, c._3))
      else if (suppressed.forall { case (tx, ty) =>
          val dx = c._2 - tx; val dy = c._3 - ty
          dx * dx + dy * dy >= minSeparation * minSeparation
        }) return Some(c)
    }
    None
  }

  /** The FWHM of a 2-D Gaussian fit to a cutout, or 0 when the fit fails
    * or is implausibly narrow (≤ 2 px, core.py:96). */
  private[pipeline] def cutoutFwhm(xs: Array[Double], ys: Array[Double],
      vs: Array[Double]): Double = {
    val fit = GaussianFit.fit(xs, ys, vs)
    if (fit.fwhm > 2.0) fit.fwhm else 0.0
  }

  /** image_mask (core.py:317-330, 338-340) over a star table
    * `(img_id, star_id, x, y, flux)`, on the driver; returns the indices of
    * the kept stars in input order. The rules are those of the SQL
    * operators it replaces, `SpatialJoins.crowdingAnti` keyed by
    * `star_id` and then `RankTrim.trim` per image:
    *  - crowding: a star_id is dropped when another star_id lies at
    *    sqrt(dx² + dy²) strictly under `radius`;
    *  - trim: an image with more than `minRows` survivors drops its
    *    `nTrim` first and `nTrim` last by (flux desc, star_id asc), flux
    *    ordered as Spark SQL orders doubles. */
  private[pipeline] def maskStars(stars: Seq[(Long, Int, Double, Double, Double)],
      radius: Double, nTrim: Int, minRows: Int): Seq[Int] = {
    val grid = new Photometry.PointGrid(stars.map(_._3).toArray,
      stars.map(_._4).toArray, radius)
    val crowded = stars.iterator.filter { case (_, id, x, y, _) =>
      grid.near(x, y).exists { case (j, _, _, _) => stars(j)._2 != id }
    }.map(_._2).toSet
    val survivors = stars.indices.filterNot(i => crowded(stars(i)._2))
    val kept = survivors.groupBy(stars(_)._1).values.flatMap { idx =>
      if (idx.length <= minRows) idx
      else idx.sortWith { (a, b) =>
        val c = compareDoubles(stars(a)._5, stars(b)._5)
        c > 0 || c == 0 && stars(a)._2 < stars(b)._2
      }.slice(nTrim, idx.length - nTrim)
    }.toSet
    survivors.filter(kept)
  }

  /** Run one epoch end to end over long-form pixels (one or more images of
    * the same field): a campaign of one, epoch 0. Returns the status
    * branch taken, the FWHM and the output catalog (empty unless `ok`).
    *
    * AXIS ORDER (breaking change in round 3): the positional frame dims
    * are `(width, height)` — x-extent first — matching `alignAndCombine`
    * and `EpochStream`. Earlier rounds took `(height, width)`; both are
    * `Int`, so external positional callers of non-square frames should
    * re-check their call sites (in-repo callers are updated). Prefer
    * named arguments (`width = _, height = _`) at call sites.
    *
    * `reportPath`, when set, writes
    * the reference's per-epoch diagnostic PDF of the input frames
    * (write_pdf(images=im_data), psf_phot.py:55) — a real PDF via
    * [[graft.sources.Pdf]]; the fuller model+cutout report remains the
    * standalone `Pdf.writeReport` surface. `wcsSolver`, when set, solves
    * the sky coordinates of an `ok` epoch's stars. */
  def run(spark: SparkSession, pixels: DataFrame, width: Int, height: Int,
      minStars: Int = 3, wcsSolver: Option[WcsEnrichment.Solver] = None,
      reportPath: Option[String] = None): Result = {
    // pinned before the epoch column is added, so a caller handing in an
    // already-checkpointed frame (the shared rendered-field intermediate)
    // skips the copy
    val pinned = graft.operators.Scale.pinOnce(pixels)
    reportPath.foreach { p =>
      graft.sources.Pdf.writeReport(p,
        graft.sources.Pdf.frameImages(pinned, width, height))
    }
    val outcome = outcomes(spark, pinned.withColumn("epoch_id", lit(0L)), width,
      height, minStars).getOrElse(0L, NoFrame)
    val stars = starTable(spark, Seq(0L -> outcome))
    val enriched = wcsSolver match {
      // the solver's join loses the local relation's order
      case Some(sv) if outcome.status == "ok" =>
        WcsEnrichment.enrich(spark, stars, sv).orderBy(col("flux").desc)
      case _ => withoutSky(stars)
    }
    Result(outcome.status, outcome.fwhm, catalog(enriched))
  }

  /** Every step of the epoch after the combine, over the combined `frame`
    * in memory, with the rules of the DataFrame operators that the
    * registered queries use:
    *  1. background: [[Photometry.Frame.background]] (σ 2, five rounds) of
    *     the frame's values; the residual is v − median, and the detection
    *     threshold `NSigma`·std above it (psf_phot.py:68-69);
    *  2. FWHM ([[findFwhm]]): the above-threshold cells by (peak desc, y,
    *     x), the first `MaxTries` through [[fwhmStar]], and a Gaussian fit
    *     to the residual cutout of the pick ([[cutoutFwhm]]); 0 aborts;
    *  3. [[Photometry.detect]] with a box of max(⌈fwhm⌉, 3), then
    *     [[maskStars]] at radius 5·fwhm; too few stars or a FWHM over
    *     `MaxStarsFwhm` is diagnostics-only;
    *  4. the EPSF of the masked stars ([[Photometry.epsfGrid]], as
    *     [[Photometry.buildEpsfIterative]]), or the Gaussian of the FWHM
    *     when it is degenerate;
    *  5. two rounds of [[Photometry.photometryKernel]] over the residual,
    *     as [[Photometry.iterativePhotometryWithPsf]];
    *  6. per measured star in (iter_detected, star_id) order, the annulus
    *     median of the ORIGINAL values in 2·fwhm ≤ d < 3·fwhm
    *     ([[Photometry.annulusOf]], as [[Photometry.annulusBackground]]).
    *
    * Memory: the frame's values stay for the annulus and one residual
    * array is allocated after the clip, so the steady state is 16 B per
    * cell plus the presence bit. The clip holds the pixels' values and a
    * sorted copy next to the frame, at most 24 B per cell, under the
    * 24.2 B of [[Photometry.Frame.load]]. */
  private[pipeline] def epochKernel(frame: Photometry.Frame, minStars: Int): Outcome = {
    import Photometry.Frame
    val (v, present) = (frame.v, frame.present)
    val (median, std) = frame.background()
    val res = new Array[Double](v.length)
    var i = present.nextSetBit(0)
    while (i >= 0) { res(i) = v(i) - median; i = present.nextSetBit(i + 1) }
    val sub = new Frame(frame.img, frame.y0, frame.x0, frame.height, frame.width,
      res, present)
    val threshold = 0.0 + NSigma * std

    // FWHM: the reference's argmax walk over the image (np.max + np.where,
    // core.py:72-76) runs over the above-threshold cells themselves
    val above = scala.collection.mutable.ArrayBuilder.make[Int]
    i = present.nextSetBit(0)
    while (i >= 0) {
      if (compareDoubles(res(i), threshold) > 0) above += i
      i = present.nextSetBit(i + 1)
    }
    val cands = above.result()
      .sortWith { (a, b) =>
        val c = compareDoubles(res(a), res(b))
        c > 0 || c == 0 && a < b // row-major cell order is (y, x) order
      }
      .take(MaxTries)
      .map(c => (frame.img, sub.x(c).toDouble, sub.y(c).toDouble, res(c)))
    val fwhm = fwhmStar(cands, SatLimit, MinPeak, MinSeparation) match {
      case None => 0.0
      case Some((_, xc, yc, _)) =>
        val cut = for {
          y <- math.round(yc) - CutoutRadius to math.round(yc) + CutoutRadius
          x <- math.round(xc) - CutoutRadius to math.round(xc) + CutoutRadius
          c = sub.at(y, x) if c >= 0
        } yield (x.toDouble, y.toDouble, res(c))
        cutoutFwhm(cut.map(_._1).toArray, cut.map(_._2).toArray,
          cut.map(_._3).toArray)
    }
    if (fwhm == 0.0) return Outcome("aborted_no_fwhm", 0.0, Nil)

    val found = Photometry.detect(sub, 0.0, threshold,
      math.max(math.ceil(fwhm).toInt, 3), Double.MaxValue, 0, 0L, 0L)
    val kept = maskStars(found.toSeq.map(d =>
      (frame.img, d.starId, d.xcentroid, d.ycentroid, d.flux)), 5 * fwhm, 5, 10)
      .map(found)
    if (kept.length < minStars || fwhm > MaxStarsFwhm)
      return Outcome("diagnostics_only", fwhm, Nil)

    val boxR = math.max(math.ceil(2 * fwhm).toInt, 2)
    val psf = Photometry.usablePsf(Photometry.gridPsf(Photometry.epsfGrid(sub,
      kept.map(d => (d.xcentroid, d.ycentroid, d.flux)), boxR, 2), boxR, 2), fwhm)
    val measured = Photometry.photometryKernel(sub, 0.0, threshold, psf, boxR, 2)
      .toSeq.sortBy(m => (m._7, m._2))
    val annulus = Photometry.annulusOf(frame, measured.map(m => (m._4, m._5)),
      2 * fwhm, 3 * fwhm)
    Outcome("ok", fwhm, measured.zip(annulus).map {
      case ((_, star, group, x, y, flux, iter), ann) =>
        CatalogStar(star, group, x, y, flux, iter, ann)
    })
  }

  /** The outer per-epoch loop (psf_phot.py:44) as one plan over a
    * campaign's pixels `(epoch_id, img_id, y, x, v)`: the pixels are pinned
    * once, every epoch runs in the same stages ([[outcomes]]), and the
    * statuses come back with one catalog of every epoch's stars, tagged
    * with `epoch_id`, as a local relation. The job count does not grow
    * with the number of epochs, except for the reports: with `reportDir`
    * set, each epoch writes `epoch_<id>.pdf` there in a job of its own.
    *
    * `epochIds` lists the epochs when the caller knows them: an epoch
    * listed without pixels takes the no-FWHM branch, and an empty list
    * reads nothing. Without it the epochs are those that have pixels.
    *
    * Memory: the pin is a `localCheckpoint` of the whole campaign's
    * pixels, whose blocks spill to disk past the storage memory, so a
    * caller bounds it by the campaign it hands in (a micro-batch of
    * [[graft.streaming.EpochStream]] is bounded by `maxFilesPerTrigger`).
    * A per-image task holds one image and a kernel task one combined
    * frame, each at most 24.2 B per cell ([[Photometry.MaxFrameCells]]);
    * each clips its own frame, so no per-image stats ride in a closure. */
  def runEpochs(spark: SparkSession, pixels: DataFrame, width: Int, height: Int,
      minStars: Int = 3, reportDir: Option[String] = None,
      epochIds: Option[Seq[Long]] = None): (Map[Long, String], DataFrame) = {
    val pinned = Option.unless(epochIds.exists(_.isEmpty))(
      graft.operators.Scale.pinOnce(pixels))
    val measured = pinned.fold(Map.empty[Long, Outcome])(
      outcomes(spark, _, width, height, minStars))
    val results = epochIds.getOrElse(measured.keys.toSeq).distinct.sorted
      .map(ep => ep -> measured.getOrElse(ep, NoFrame))
    for (dir <- reportDir; px <- pinned; (ep, _) <- results)
      calledAs(spark, s"runEpochs: report of epoch $ep") {
        graft.sources.Pdf.writeReport(s"$dir/epoch_$ep.pdf",
          graft.sources.Pdf.frameImages(px.filter(col("epoch_id") === ep),
            width, height))
      }
    (results.map { case (ep, o) => ep -> o.status }.toMap,
      catalog(withoutSky(starTable(spark, results)), col("epoch_id")))
  }

  /** The outcome of an epoch without pixels. */
  private val NoFrame = Outcome("aborted_no_fwhm", 0.0, Nil)

  /** Every epoch of the pinned campaign `(epoch_id, img_id, y, x, v)`
    * through the combine and [[epochKernel]], keyed by epoch. One per-image
    * pass ([[Photometry.detectKeyed]], one collect, each task clipping its
    * own image) counts each epoch's images and finds the alignment's
    * stars: only multi-image epochs go through the alignment and the
    * clipped combine; one-image epochs go to the kernel as they are. */
  private[pipeline] def outcomes(spark: SparkSession, pinned: DataFrame, width: Int,
      height: Int, minStars: Int): Map[Long, Outcome] = {
    import spark.implicits._
    val images = calledAs(spark, "runEpochs: background and stars")(
      Photometry.detectKeyed(pinned, None, NSigma, 3, Double.MaxValue, 0, 0L, 0L)
        .collect()).toSeq.groupBy(_._1)
    if (images.isEmpty) return Map.empty
    val (multi, single) = images.keys.toSeq.partition(images(_).length > 1)
    def only(eps: Seq[Long]): DataFrame =
      if (eps.length == images.size) pinned
      else pinned.filter(col("epoch_id").isin(eps: _*))
    val combined = Option.when(multi.nonEmpty)(Photometry.combineEpochs(
      only(multi), multi.flatMap(images), width, height))
    val frames = (combined ++ Option.when(single.nonEmpty)(only(single)))
      .map(_.select(col("epoch_id"), col("y"), col("x"), col("v")))
      .reduce(_ union _)
    calledAs(spark, "runEpochs: combine and epoch kernel") {
      frames.as[(Long, Long, Long, Double)]
        .groupByKey(_._1)
        .flatMapGroups((ep, rows) => Iterator.single(
          ep -> epochKernel(Photometry.Frame.load(ep, rows), minStars)))
        .collect().toMap
    }
  }

  /** The measured stars of `results` as one local relation `(epoch_id,
    * img_id, star_id, group_id, xcentroid, ycentroid, flux, iter_detected,
    * annulus_bkg)`, each epoch's stars in flux-descending order (write_csv).
    * They are sorted here, since a local relation keeps its row order
    * through filters and projections, and a Sort would cost a sampling job
    * and a shuffle in every consumer. */
  private def starTable(spark: SparkSession,
      results: Seq[(Long, Outcome)]): DataFrame = {
    import spark.implicits._
    results.flatMap { case (ep, o) =>
      o.stars.sortWith((a, b) => compareDoubles(a.flux, b.flux) > 0).map(ep -> _)
    }.toDF("epoch_id", "star")
      .select(col("epoch_id"), lit(0L).as("img_id"), col("star.*"))
  }

  /** Null sky coordinates: no WCS solver. */
  private def withoutSky(stars: DataFrame): DataFrame =
    stars.withColumn("ra", lit(null).cast("double"))
      .withColumn("dec", lit(null).cast("double"))

  /** The catalog of sky-tagged stars: positive-flux magnitudes in the
    * reference's columns, then `extra`. */
  private def catalog(stars: DataFrame, extra: Column*): DataFrame =
    stars.filter(col("flux") > 0)
      .withColumn("mag", lit(-2.5) * log10(col("flux")))
      .select(Seq(col("img_id"), col("star_id"), col("group_id"),
        col("xcentroid"), col("ycentroid"), col("flux"), col("mag"),
        col("iter_detected"), col("annulus_bkg"), col("ra"), col("dec")) ++
        extra: _*)

  /** Run `body` with the jobs it launches named `site` in the Spark UI and
    * in listeners: a Dataset action launches its jobs from a thread of
    * Spark's own (`SQLExecution.withThreadLocalCaptured`), whose stack
    * names no caller, so without this every job of an epoch reports a
    * `java.util.concurrent` frame as its call site. The thread's previous
    * call site is restored afterwards. */
  private def calledAs[T](spark: SparkSession, site: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("callSite.short")
    sc.setCallSite(site)
    try body finally sc.setLocalProperty("callSite.short", prev)
  }
}
