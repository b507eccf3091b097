package graft.pipeline

import graft.sources.{CatalogSinks, Fits}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's top-level entry point (`pipeline(fn_path, fits_path,
  * res_path)`, psf_phot.py:9-98) composed from the engine's own pieces:
  *
  *   metadata CSV (filename, epoch-set id; psf_phot.py:41) + file listing
  *     → FITS ingest of each epoch's files (import_images, core.py:18-50)
  *     → the per-epoch processing loop (psf_phot.py:44) as one plan keyed
  *       by epoch
  *     → epoch-partitioned catalog sink (the per-epoch CSV/FITS outputs)
  *
  * Every stage is the already-tested operator: Fits.readFits decode,
  * EpochPipeline.runEpochs for the epoch dataflow with its guard
  * branches, CatalogSinks.writePartitioned for pruned-readback results.
  *
  * Memory: the whole campaign's pixels are pinned once, as a
  * `localCheckpoint` whose blocks spill to disk, and a kernel task holds
  * one epoch's combined frame at a time (see [[EpochPipeline.runEpochs]]);
  * a campaign too large to pin is run as several calls over parts of its
  * metadata CSV.
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
    val files = epochFiles(spark, csvPath, fitsGlob)
    val (statuses, catalog) =
      EpochPipeline.runEpochs(spark, epochPixels(spark, files), width, height,
        minStars = minStars, reportDir = reportDir,
        epochIds = Some(files.map(_._1)))
    resultsDir.foreach(dir =>
      CatalogSinks.writePartitioned(catalog, "epoch_id", dir))
    PipelineResult(statuses, catalog)
  }

  /** The files of each epoch, in epoch order: those matched by `fitsGlob`
    * whose basename the metadata CSV lists. The CSV is read once, one
    * collect of one row per file; the glob is listed on the driver from
    * the binaryFile relation's file index, reading no file content (Spark
    * lists in a job only past `parallelPartitionDiscovery.threshold`
    * paths). Unlisted files drop out, and listed files that do not exist
    * start no epoch. */
  private[pipeline] def epochFiles(spark: SparkSession, csvPath: String,
      fitsGlob: String): Seq[(Long, Seq[String])] = {
    val epochsOf = spark.read.schema("filename STRING, epoch_id LONG")
      .csv(csvPath).collect().toSeq
      .filterNot(_.isNullAt(0))
      .map { r =>
        require(!r.isNullAt(1), s"$csvPath: no epoch id for ${r.getString(0)}")
        r.getString(0) -> r.getLong(1)
      }
      .groupMap(_._1)(_._2)
    CatalogSinks.readBinary(spark, fitsGlob).inputFiles.toSeq
      .map(uri => new org.apache.hadoop.fs.Path(new java.net.URI(uri)))
      .flatMap(p => epochsOf.getOrElse(p.getName, Nil).map(_ -> p.toString))
      .groupMap(_._1)(_._2).toSeq.sortBy(_._1)
  }

  /** The epochs' pixels `(epoch_id, img_id, y, x, v)`: each epoch's files
    * decoded as one scan, its id a literal, and `img_id` the
    * `xxhash64` of the file's path (the combine's reference image and
    * stack order follow it). A filter on one epoch prunes the other
    * epochs' scans from the plan. */
  private[pipeline] def epochPixels(spark: SparkSession,
      files: Seq[(Long, Seq[String])]): DataFrame =
    files.map { case (ep, paths) =>
      Fits.readFits(spark, paths, 1)
        .select(lit(ep).as("epoch_id"), xxhash64(col("img_id")).as("img_id"),
          col("y"), col("x"), col("v"))
    }.reduceOption(_ union _)
      .getOrElse(spark.emptyDataFrame) // no epoch: runEpochs reads nothing
}
