package graft.streaming

import scala.collection.concurrent.TrieMap

import graft.pipeline.EpochPipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StructType

/** The reference's per-epoch loop as a stream (SURVEY.md §2.9): epochs
  * land incrementally (new FITS sets in a directory ≙ new micro-batches),
  * and each micro-batch runs the REAL batch epoch pipeline over all of its
  * epochs in one plan ([[EpochPipeline.runEpochs]]) — combine → background
  * → FWHM → detect → photometry → catalog, guards included — then upserts
  * keyed by epoch id. Re-delivered epochs overwrite their own slot, so
  * crash-and-rerun (README.md:22-27) is idempotent end to end. A
  * micro-batch's pixels are pinned whole, so `maxFilesPerTrigger` bounds
  * the pin.
  */
object EpochStream {

  final case class Measured(x: Double, y: Double, flux: Double)

  /** The sink's rows: `measureBatch`'s tuple, named. */
  private val CatalogSchema = StructType.fromDDL("epoch_id BIGINT, " +
    "status STRING, stars ARRAY<STRUCT<x: DOUBLE, y: DOUBLE, flux: DOUBLE>>")

  /** Run one micro-batch's epochs through the batch pipeline, returning
    * (epoch_id, status, measured stars) — the per-epoch catalog is a
    * bounded model object (≤ the star cap), so it travels as one row. */
  private def measureBatch(batch: DataFrame, width: Int, height: Int,
      minStars: Int): Seq[(Long, String, Seq[Measured])] = {
    val spark = batch.sparkSession
    import spark.implicits._
    val (statuses, catalog) = EpochPipeline.runEpochs(spark, batch, width,
      height, minStars = minStars)
    val stars = catalog
      .select(col("epoch_id"), col("xcentroid"), col("ycentroid"), col("flux"))
      .as[(Long, Double, Double, Double)].collect().toSeq
      .groupMap(_._1)(t => Measured(t._2, t._3, t._4))
    statuses.toSeq.sorted.map { case (ep, status) =>
      (ep, status, stars.getOrElse(ep, Nil))
    }
  }

  /** Start the stream over long-form pixel rows
    * `(epoch_id, img_id, y, x, v)`. Results land in `store` (epoch →
    * status + measured stars) — the embedded-store variant; the scale
    * path is [[startToSink]]. */
  def start(pixels: DataFrame, width: Int, height: Int, minStars: Int,
      store: TrieMap[Long, (String, Seq[Measured])]): StreamingQuery =
    pixels.writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        measureBatch(batch, width, height, minStars).foreach {
          case (ep, status, stars) => store.put(ep, (status, stars))
        }
      }
      .start()

  /** As [[start]], but epochs upsert into a [[KeyedParquetSink]] keyed by
    * epoch_id — the bounded, storage-backed sink (O(batch) commits,
    * distributed read-back, idempotent redelivery), so a long campaign's
    * results never live in driver memory. Read back with
    * [[readEpochCatalogs]]. */
  def startToSink(pixels: DataFrame, width: Int, height: Int, minStars: Int,
      sinkDir: String): StreamingQuery =
    pixels.writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val rows = measureBatch(batch, width, height, minStars)
          .toDF(CatalogSchema.fieldNames.toIndexedSeq: _*)
        KeyedParquetSink.upsertBatch(rows, bid, sinkDir)
      }
      .start()

  /** Current per-epoch results from a [[startToSink]] sink:
    * (epoch_id, status, stars), latest delivery per epoch. */
  def readEpochCatalogs(spark: org.apache.spark.sql.SparkSession,
      sinkDir: String): DataFrame =
    KeyedParquetSink.read(spark, sinkDir, CatalogSchema, Seq("epoch_id"))
}
