package perfbench

import graft.operators.{RankTrim, SpatialJoins}
import graft.pipeline.{EpochPipeline, GaussianFit, Photometry}
import graft.sources.{CatalogSinks, Fits}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** One epoch through the same public functions that `FilePipeline.run`
  * and `EpochPipeline.run` compose, with each stage materialised inside
  * its own span so the span is that stage's own time. Used by traced
  * passes only; the measured passes call `FilePipeline.run` itself.
  * Parameters are the ones `FilePipeline.run` passes (nSigma 10, two
  * photometry rounds, oversampling 2, no WCS solver). */
object EpochStages {
  private val NSigma = 10.0

  /** Returns the epoch's status, as `EpochPipeline.Result.status`. */
  def run(spark: SparkSession, t: Tracer, pass: Int, unit: Int,
      csvPath: String, fitsGlob: String, width: Int, height: Int,
      minStars: Int, resultsDir: String): String = {
    def stage[T](name: String, layer: String = "pipeline")(f: => T): T =
      t.span(name, layer, pass, unit)(f)

    val (epoch, pinned) = stage("fits_read", "sources") {
      val meta = spark.read
        .schema("filename STRING, epoch_id LONG").csv(csvPath)
      val px = Fits.readFits(spark, fitsGlob)
        .withColumn("filename", element_at(split(col("img_id"), "/"), -1))
        .join(broadcast(meta), Seq("filename"))
        .withColumn("img", xxhash64(col("img_id")))
        .select(col("epoch_id"), col("img").as("img_id"), col("y"), col("x"),
          col("v"))
        .localCheckpoint()
      val Array(ep) = px.select(col("epoch_id")).distinct().collect()
        .map(_.getLong(0))
      (ep, px.filter(col("epoch_id") === ep).drop("epoch_id").localCheckpoint())
    }
    val bufferable = width.toLong * height <= (1L << 20)

    val nImages = stage("background") {
      Photometry.backgroundStats(pinned, bufferable = bufferable).collect().length
    }
    val combined = stage("combine") {
      val c = if (nImages > 1) Photometry.alignAndCombine(pinned, width, height, NSigma)
      else pinned
      c.select(lit(0L).as("img_id"), col("y"), col("x"), col("v")).localCheckpoint()
    }
    val (sub, subStats) = stage("background") {
      val d = Photometry.backgroundStats(combined, bufferable = bufferable)
      val baseStats = spark.createDataFrame(
        java.util.Arrays.asList(d.collect(): _*), d.schema)
      val sub = combined.join(broadcast(baseStats), Seq("img_id"))
        .select(col("img_id"), col("y"), col("x"),
          (col("v") - col("bkg_median")).as("v"))
        .localCheckpoint()
      (sub, baseStats.select(col("img_id"),
        (col("bkg_mean") - col("bkg_median")).as("bkg_mean"),
        lit(0.0).as("bkg_median"), col("bkg_std")))
    }
    val fwhm = stage("fwhm") {
      val bright = sub.join(broadcast(subStats), Seq("img_id"))
        .filter(col("v") > col("bkg_median") + lit(NSigma) * col("bkg_std"))
        .select(col("img_id"), col("x").cast("double").as("xcentroid"),
          col("y").cast("double").as("ycentroid"), col("v").as("peak"))
      EpochPipeline.findFwhm(spark, sub, bright)
    }
    if (fwhm == 0.0) return "aborted_no_fwhm"
    val (masked, nMasked) = stage("detect") {
      val detected = Photometry.detectStars(sub, NSigma,
        math.max(math.ceil(fwhm).toInt, 3), Double.MaxValue, 0, 0L, 0L,
        Some(subStats)).localCheckpoint()
      val uncrowded = SpatialJoins.crowdingAnti(
        detected.withColumn("sid", col("star_id")),
        "sid", "xcentroid", "ycentroid", 5 * fwhm)
      val m = RankTrim.trim(uncrowded, Seq(col("img_id")), col("flux"),
        Seq(col("star_id")), 5, 10).localCheckpoint()
      (m, m.count())
    }
    if (nMasked < minStars || fwhm > 30.0) return "diagnostics_only"
    val boxR = math.max(math.ceil(2 * fwhm).toInt, 2)
    val psf = stage("psf") {
      val grid = Photometry.collectGridPsf(
        Photometry.buildEpsfIterative(sub, masked, boxR, 2), boxR, 2)
      if (grid.volume > 0) grid
      else Photometry.GaussianPsf(fwhm / GaussianFit.SigmaToFwhm)
    }
    val (results, annulus) = stage("phot") {
      val r = Photometry.iterativePhotometryWithPsf(spark, sub, psf, boxR, 2,
          NSigma, Some(subStats))
        .withColumn("uid", row_number().over(
          Window.partitionBy(col("img_id"))
            .orderBy(col("iter_detected"), col("star_id"))))
        .localCheckpoint()
      val photStars = r.select(col("img_id"), col("uid").as("star_id"),
        col("x_fit").as("xcentroid"), col("y_fit").as("ycentroid"))
      (r, Photometry.annulusBackground(combined, photStars, 2 * fwhm, 3 * fwhm)
        .localCheckpoint())
    }
    val catalog = stage("wcs") {
      results
        .withColumnRenamed("x_fit", "xcentroid")
        .withColumnRenamed("y_fit", "ycentroid")
        .withColumnRenamed("flux_fit", "flux")
        .withColumn("ra", lit(null).cast("double"))
        .withColumn("dec", lit(null).cast("double"))
        .join(annulus.select(col("star_id").as("ann_star"), col("annulus_bkg")),
          col("uid") === col("ann_star"), "left_outer")
        .filter(col("flux") > 0)
        .withColumn("mag", lit(-2.5) * log10(col("flux")))
        .select(col("img_id"), col("star_id"), col("group_id"),
          col("xcentroid"), col("ycentroid"), col("flux"), col("mag"),
          col("iter_detected"), col("annulus_bkg"), col("ra"), col("dec"))
        .withColumn("epoch_id", lit(epoch))
        .localCheckpoint()
    }
    stage("catalog_write", "sources") {
      CatalogSinks.writePartitioned(catalog, "epoch_id", resultsDir)
    }
    "ok"
  }
}
