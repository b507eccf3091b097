package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's full per-epoch pipeline (psf_phot.py:9-98) composed from
  * the engine's operators — entry point 1 of SURVEY.md §3.1:
  *
  *   combine → background → FWHM → detect → mask (crowd + trim) →
  *   annulus → EPSF → photometry → WCS → catalog
  *
  * with the reference's guard branches: epoch aborted when the FWHM solve
  * fails (psf_phot.py:53-55), diagnostics-only when too few stars or the
  * FWHM is implausible (psf_phot.py:78-82), and null sky coordinates when
  * the WCS solve fails (psf_phot.py:95-98).
  *
  * The pixels are processed distributed; the small model objects (per-image
  * stats, star tables, alignment shifts, the star mask, the FWHM cutout
  * fit, the EPSF grid) are computed on the driver. Epochs are independent
  * (no cross-epoch state), so a 100 TB run maps epochs across the cluster
  * and this class orchestrates one of them.
  */
object EpochPipeline {

  final case class Result(status: String, fwhm: Double, catalog: DataFrame)

  /** FWHM estimation (find_fwhm, core.py:52-114): pick the brightest
    * unsaturated star — iterative argmax with suppression (core.py:72-105:
    * saturated peaks ≥ satLimit are skipped, stars dimmer than minPeak
    * abandon the search, bounded tries) — then LSQ-fit a 2-D Gaussian to
    * its cutout. Greedy selection runs on the (small) star list; the pixel
    * cutout is gathered by an exact-key box join. */
  def findFwhm(spark: SparkSession, pixels: DataFrame, stars: DataFrame,
      satLimit: Double = 50000.0, minPeak: Double = 1000.0,
      minSeparation: Double = 8.0, maxTries: Int = 100,
      cutoutRadius: Int = 8): Double = {
    import spark.implicits._
    val cands = stars
      .orderBy(col("peak").desc, col("ycentroid"), col("xcentroid"))
      .select(col("img_id"), col("xcentroid"), col("ycentroid"), col("peak"))
      .limit(maxTries)
      .as[(Long, Double, Double, Double)]
      .collect() // ≤ maxTries rows — the reference's bounded search
    // greedy walk in peak order: saturated stars are suppressed (their
    // neighborhood is excluded, like the reference's zeroed search box);
    // the walk abandons once peaks drop below minPeak (core.py:110).
    val suppressed = scala.collection.mutable.ArrayBuffer[(Double, Double)]()
    var pick: Option[(Long, Double, Double, Double)] = None
    val it = cands.iterator
    var abandoned = false
    while (pick.isEmpty && !abandoned && it.hasNext) {
      val c = it.next()
      if (c._4 < minPeak) abandoned = true
      else if (c._4 >= satLimit) suppressed += ((c._2, c._3))
      else {
        val clear = suppressed.forall { case (tx, ty) =>
          val dx = c._2 - tx; val dy = c._3 - ty
          dx * dx + dy * dy >= minSeparation * minSeparation
        }
        if (clear) pick = Some(c)
      }
    }
    pick match {
      case None => 0.0 // sentinel: no usable star (core.py:107-113)
      case Some((img, xc, yc, _)) =>
        val cut = pixels
          .filter(col("img_id") === img &&
            col("y").between(math.round(yc) - cutoutRadius, math.round(yc) + cutoutRadius) &&
            col("x").between(math.round(xc) - cutoutRadius, math.round(xc) + cutoutRadius))
          .select(col("x").cast("double"), col("y").cast("double"), col("v"))
          .as[(Double, Double, Double)]
          .collect()
        val fit = GaussianFit.fit(cut.map(_._1), cut.map(_._2), cut.map(_._3))
        if (fit.fwhm > 2.0) fit.fwhm else 0.0 // plausibility guard, core.py:96
    }
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
    * the same field). Returns the status branch taken and the output
    * catalog (empty for aborted epochs).
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
    * standalone `Pdf.writeReport` surface. */
  def run(spark: SparkSession, pixels: DataFrame, width: Int, height: Int,
      nSigma: Double = 10.0, maxStarsFwhm: Double = 30.0,
      minStars: Int = 3, wcsSolver: Option[WcsEnrichment.Solver] = None,
      reportPath: Option[String] = None): Result = {
    import spark.implicits._

    // every stage makes multiple passes over the epoch's pixels (detection
    // scans, box joins, the combine) — materialize the input once so those
    // passes read stored blocks instead of recomputing the source lineage
    // (pinOnce: a caller handing in an already-checkpointed frame — e.g.
    // the shared rendered-field intermediate — skips the redundant copy)
    val pinned = graft.operators.Scale.pinOnce(pixels)

    reportPath.foreach { p =>
      graft.sources.Pdf.writeReport(p,
        graft.sources.Pdf.frameImages(pinned, width, height))
    }

    // 1. per-image stats (one grouped pass, collected by backgroundStats)
    // double as the image census: the stats row count IS the image count,
    // read from the local relation without a job
    val pixStats = Photometry.backgroundStats(pinned)
    val nImages = pixStats.collect().length.toLong
    // the combine feeds the stats, the subtraction and the annulus gather:
    // pin it so those three reads do not each redo alignment and median
    val combined =
      if (nImages > 1)
        Photometry.alignAndCombine(pinned, width, height, nSigma,
            stats = Some(pixStats))
          .select(lit(0L).as("img_id"), col("y"), col("x"), col("v"))
          .localCheckpoint()
      else pinned.select(lit(0L).as("img_id"), col("y"), col("x"), col("v"))

    // 2. global background subtraction. One stats pass serves both the
    // subtraction and every later detection threshold: sigma clipping is
    // shift-invariant (subtracting the median shifts mean and median by
    // the same constant and keeps the survivor set), so the subtracted
    // image's stats are the combined image's, re-centered at zero — no
    // second clip. A single-image epoch is its own combine, so its stats
    // are the already-computed per-image row, relabeled. Either way the
    // stats are a local relation, so their five consumers below never
    // re-run the aggregate.
    val baseStats =
      if (nImages > 1) Photometry.backgroundStats(combined)
      else pixStats.select(lit(0L).as("img_id"), col("bkg_mean"),
        col("bkg_median"), col("bkg_std"))
    val sub = combined.join(broadcast(baseStats), Seq("img_id"))
      .select(col("img_id"), col("y"), col("x"),
        (col("v") - col("bkg_median")).as("v"))
      .localCheckpoint()
    val subStats = baseStats.select(col("img_id"),
      (col("bkg_mean") - col("bkg_median")).as("bkg_mean"),
      lit(0.0).as("bkg_median"), col("bkg_std"))

    // 3. FWHM from the brightest clean star; abort epoch on failure. The
    // candidate list is the above-threshold pixels themselves — the
    // reference's search is an argmax walk over the image (np.max +
    // np.where, core.py:72-76), not a detection pass, so feeding peak
    // pixels directly matches its semantics and skips a detection chain.
    val bright = sub.join(broadcast(subStats), Seq("img_id"))
      .filter(col("v") > col("bkg_median") + lit(nSigma) * col("bkg_std"))
      .select(col("img_id"), col("x").cast("double").as("xcentroid"),
        col("y").cast("double").as("ycentroid"), col("v").as("peak"))
    val fwhm = findFwhm(spark, sub, bright)
    if (fwhm == 0.0) return Result("aborted_no_fwhm", 0.0, emptyCatalog(spark))

    // 4. detection (one frame-kernel pass) + image_mask: the detections
    // are a few stars per image, so the crowding exclusion and the
    // two-sided rank trim run on the driver and the masked table goes back
    // as a local relation
    val detected = Photometry.detectStars(sub, nSigma,
      math.max(math.ceil(fwhm).toInt, 3), Double.MaxValue, 0, 0L, 0L,
      Some(subStats))
    val found = detected.collect()
    val kept = maskStars(found.map(r => (r.getAs[Long]("img_id"),
      r.getAs[Int]("star_id"), r.getAs[Double]("xcentroid"),
      r.getAs[Double]("ycentroid"), r.getAs[Double]("flux"))), 5 * fwhm, 5, 10)
    // guard: diagnostics-only epoch (psf_phot.py:78-82)
    if (kept.length < minStars || fwhm > maxStarsFwhm)
      return Result("diagnostics_only", fwhm, emptyCatalog(spark))
    val masked = spark.createDataFrame(
      java.util.Arrays.asList(kept.map(found): _*), detected.schema)

    // 5+6. EPSF build from the masked catalog (build_psf(stars_tbl),
    // psf_phot.py:76) + iterative PSF photometry. star_id restarts per
    // photometry iteration, so give every measured star a unique key
    // before anything joins on it. The annulus and the catalog both read
    // the measured stars, and every action on the catalog would rerun the
    // whole-image kernel: pin them once.
    val results = Photometry.epsfPhotometry(spark, sub, fwhm, 2, nSigma,
        masked, statsOpt = Some(subStats))
      .withColumn("uid", row_number().over(
        Window.partitionBy(col("img_id"))
          .orderBy(col("iter_detected"), col("star_id"))))
      .localCheckpoint()

    // 7. annulus background at the MEASURED positions (not the earlier
    // detection pass — its star_ids are a different numbering)
    val photStars = results.select(col("img_id"), col("uid").as("star_id"),
      col("x_fit").as("xcentroid"), col("y_fit").as("ycentroid"))
    val annulus = Photometry.annulusBackground(combined, photStars,
      2 * fwhm, 3 * fwhm)

    // 8. WCS enrichment (or null sky coordinates when no solver)
    val withStarIds = results
      .withColumnRenamed("x_fit", "xcentroid")
      .withColumnRenamed("y_fit", "ycentroid")
      .withColumnRenamed("flux_fit", "flux")
    val enriched = wcsSolver match {
      case Some(sv) => WcsEnrichment.enrich(spark, withStarIds, sv)
      case None => withStarIds
        .withColumn("ra", lit(null).cast("double"))
        .withColumn("dec", lit(null).cast("double"))
    }

    // 9. catalog: positive-flux magnitudes, flux-desc order (write_csv)
    val catalog = enriched
      .join(annulus.select(col("star_id").as("ann_star"), col("annulus_bkg")),
        col("uid") === col("ann_star"), "left_outer")
      .filter(col("flux") > 0)
      .withColumn("mag", lit(-2.5) * log10(col("flux")))
      .select(col("img_id"), col("star_id"), col("group_id"),
        col("xcentroid"), col("ycentroid"), col("flux"), col("mag"),
        col("iter_detected"), col("annulus_bkg"), col("ra"), col("dec"))
      .orderBy(col("flux").desc)
    Result("ok", fwhm, catalog)
  }

  /** The outer per-epoch loop (psf_phot.py:44): epochs are independent, so
    * they run as concurrent Spark jobs from the driver — on a cluster each
    * epoch's stages schedule in parallel across executors. Concurrency is
    * BOUNDED by a fixed-size pool (`parallelism`, default 4): a 350-epoch
    * campaign must not spawn 350 driver threads each holding job state and
    * localCheckpoint blocks — epochs beyond the bound queue and recycle
    * the same workers, keeping peak driver memory and scheduler pressure
    * flat no matter the campaign length. Returns the union of per-epoch
    * catalogs tagged with epoch_id, plus statuses.
    *
    * `epochIds` lists the epochs to run when the caller already knows
    * them (an epoch with no pixels then takes the no-FWHM branch); without
    * it they are the distinct `epochCol` values of `pixels`, a scan of the
    * whole input. */
  def runEpochs(spark: SparkSession, pixels: DataFrame, epochCol: String,
      width: Int, height: Int, nSigma: Double = 10.0,
      minStars: Int = 3, parallelism: Int = 4,
      reportDir: Option[String] = None,
      epochIds: Option[Seq[Long]] = None): (Map[Long, String], DataFrame) = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    require(parallelism >= 1, "parallelism must be positive")
    val epochs = epochIds.map(_.distinct.toArray).getOrElse(
      pixels.select(col(epochCol)).distinct().collect().map(_.getLong(0))).sorted
    if (epochs.isEmpty)
      return (Map.empty[Long, String],
        emptyCatalog(spark).withColumn("epoch_id", lit(null).cast("long")))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(parallelism, epochs.length))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val results =
      try {
        // submit everything up front (the pool queues past the bound),
        // await in epoch order
        val jobs = epochs.map { ep =>
          ep -> Future {
            run(spark,
              pixels.filter(col(epochCol) === ep).drop(epochCol),
              width, height, nSigma, minStars = minStars,
              reportPath = reportDir.map(d => s"$d/epoch_$ep.pdf"))
          }
        }
        jobs.map { case (ep, f) => ep -> Await.result(f, Duration.Inf) }
      } finally pool.shutdown()
    val statuses = results.map { case (ep, r) => ep -> r.status }.toMap
    val catalogs = results.map { case (ep, r) =>
      r.catalog.withColumn("epoch_id", lit(ep))
    }
    (statuses, catalogs.reduce(_.unionByName(_)))
  }

  private def emptyCatalog(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("img_id", LongType), StructField("star_id", IntegerType),
        StructField("group_id", IntegerType), StructField("xcentroid", DoubleType),
        StructField("ycentroid", DoubleType), StructField("flux", DoubleType),
        StructField("mag", DoubleType), StructField("iter_detected", IntegerType),
        StructField("annulus_bkg", DoubleType), StructField("ra", DoubleType),
        StructField("dec", DoubleType))))
  }
}
