package graft.pipeline

import graft.sources.{CatalogSinks, Fits}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's top-level entry point (`pipeline(fn_path, fits_path,
  * res_path)`, psf_phot.py:9-98) composed from the engine's own pieces:
  *
  *   metadata CSV scan (filename, epoch-set id; psf_phot.py:41)
  *     → FITS ingest of the listed files (import_images, core.py:18-50)
  *     → per-epoch processing loop (concurrent epochs, psf_phot.py:44)
  *     → epoch-partitioned catalog sink (the per-epoch CSV/FITS outputs)
  *
  * Every stage is the already-tested operator: Fits.readFits decode,
  * EpochPipeline.runEpochs for the epoch dataflow with its guard
  * branches, CatalogSinks.writePartitioned for pruned-readback results.
  */
object FilePipeline {

  final case class PipelineResult(statuses: Map[Long, String], catalog: DataFrame)

  /** @param csvPath  headerless 2-column CSV: filename, epoch-set id
    * @param fitsGlob glob of FITS files whose basenames the CSV lists
    * @param resultsDir when set, the combined catalog is written there,
    *                   partitioned by epoch_id (the per-epoch output files)
    * @param reportDir  when set, each epoch writes its diagnostic PDF
    *                   (`epoch_<id>.pdf`) there — the reference's
    *                   per-epoch write_pdf call (psf_phot.py:55)
    */
  def run(spark: SparkSession, csvPath: String, fitsGlob: String,
      width: Int, height: Int, minStars: Int = 3,
      resultsDir: Option[String] = None,
      reportDir: Option[String] = None): PipelineResult = {
    val meta = spark.read
      .schema("filename STRING, epoch_id LONG").csv(csvPath)
    def basename(path: String) = element_at(split(col(path), "/"), -1)
    // the epochs come from the file listing joined to the metadata:
    // binaryFile reads a file's bytes only when `content` is selected, so
    // this lists the files without decoding any of them
    val epochIds = CatalogSinks.readBinary(spark, fitsGlob).select(col("path"))
      .withColumn("filename", basename("path"))
      .join(broadcast(meta), Seq("filename")) // unlisted files drop out
      .select(col("epoch_id")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val pixels = Fits.readFits(spark, fitsGlob)
      .withColumn("filename", basename("img_id"))
      .join(broadcast(meta), Seq("filename"))
      .withColumn("img", xxhash64(col("img_id"))) // stable numeric image id
      .select(col("epoch_id"), col("img").as("img_id"), col("y"), col("x"),
        col("v"))
    val (statuses, catalog) =
      EpochPipeline.runEpochs(spark, pixels, "epoch_id", width, height,
        minStars = minStars, reportDir = reportDir, epochIds = Some(epochIds))
    resultsDir.foreach(dir =>
      CatalogSinks.writePartitioned(catalog, "epoch_id", dir))
    PipelineResult(statuses, catalog)
  }
}
