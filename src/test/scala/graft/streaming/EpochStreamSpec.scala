package graft.streaming

import scala.collection.concurrent.TrieMap

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Incremental epochs through the real pipeline: ok epoch, starless abort,
  * and idempotent re-delivery. */
class EpochStreamSpec extends SparkSpec {
  import spark.implicits._

  private val size = 48
  private val planted = Seq((12.0, 14.0, 2400.0), (30.0, 33.0, 2000.0))

  private def epochRows(ep: Long, starless: Boolean): Seq[(Long, Long, Long, Long, Double)] = {
    val rnd = new scala.util.Random(ep)
    for (y <- 0 until size; x <- 0 until size) yield {
      var v = 100.0 + rnd.nextGaussian()
      if (!starless) planted.foreach { case (sx, sy, amp) =>
        val dx = x - sx; val dy = y - sy
        v += amp * math.exp(-(dx * dx + dy * dy) / (2 * 1.8 * 1.8))
      }
      (ep, 0L, y.toLong, x.toLong, v)
    }
  }

  test("epochs stream through the full pipeline with idempotent upsert") {
    implicit val sc = spark.sqlContext
    val stream = MemoryStream[(Long, Long, Long, Long, Double)]
    val store = TrieMap.empty[Long, (String, Seq[EpochStream.Measured])]
    val q = EpochStream.start(
      stream.toDF().toDF("epoch_id", "img_id", "y", "x", "v"),
      size, size, minStars = 1, store)
    try {
      stream.addData(epochRows(1L, starless = false))
      q.processAllAvailable()
      assert(store(1L)._1 === "ok")
      assert(store(1L)._2.length >= planted.length)
      planted.foreach { case (sx, sy, _) =>
        assert(store(1L)._2.exists(m =>
          math.abs(m.x - sx) < 1.5 && math.abs(m.y - sy) < 1.5),
          s"star ($sx,$sy) missing from streamed epoch")
      }

      // starless epoch takes the abort guard branch
      stream.addData(epochRows(2L, starless = true))
      q.processAllAvailable()
      assert(store(2L)._1 === "aborted_no_fwhm")
      assert(store(2L)._2.isEmpty)

      // re-delivery of epoch 1 (crash-rerun semantics): same slot, same shape
      val before = store(1L)
      stream.addData(epochRows(1L, starless = false))
      q.processAllAvailable()
      assert(store.size === 2)
      assert(store(1L)._1 === before._1)
      assert(store(1L)._2.length === before._2.length)

      // both epochs, each with img_id 0, in ONE micro-batch: the same
      // statuses and stars as delivered in two
      val separate = (store(1L), store(2L))
      stream.addData(epochRows(1L, starless = false) ++
        epochRows(2L, starless = true))
      q.processAllAvailable()
      assert(store.size === 2)
      assert((store(1L), store(2L)) === separate)
    } finally q.stop()
  }

  test("sink-backed epoch stream: keyed parquet upsert, redelivery wins") {
    implicit val sc = spark.sqlContext
    val stream = MemoryStream[(Long, Long, Long, Long, Double)]
    val dir = graft.TempDirs.create("epoch-sink")
    val q = EpochStream.startToSink(
      stream.toDF().toDF("epoch_id", "img_id", "y", "x", "v"),
      size, size, minStars = 1, dir)
    try {
      stream.addData(epochRows(1L, starless = false))
      q.processAllAvailable()
      stream.addData(epochRows(2L, starless = true))
      q.processAllAvailable()
      // re-delivery of epoch 1 lands in a later generation and wins
      stream.addData(epochRows(1L, starless = false))
      q.processAllAvailable()
      val rows = EpochStream.readEpochCatalogs(spark, dir)
        .orderBy("epoch_id")
        .as[(Long, String, Seq[(Double, Double, Double)])].collect()
      assert(rows.map(r => (r._1, r._2)).toSeq ===
        Seq((1L, "ok"), (2L, "aborted_no_fwhm")))
      val stars = rows(0)._3
      assert(stars.length >= planted.length)
      planted.foreach { case (sx, sy, _) =>
        assert(stars.exists(m =>
          math.abs(m._1 - sx) < 1.5 && math.abs(m._2 - sy) < 1.5),
          s"star ($sx,$sy) missing from sink-backed epoch")
      }
      assert(rows(1)._3.isEmpty)
    } finally q.stop()
  }
}
