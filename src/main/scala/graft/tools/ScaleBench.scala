package graft.tools

import graft.Session
import graft.pipeline.EpochPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Full-frame scale proof: one epoch at the reference's REAL image size
  * (4096² px, 3 dithered frames ≈ 50 M pixel rows) through the complete
  * EpochPipeline — the workload the reference spends ~3.4 min/set on,
  * single-threaded (BASELINE.md). Usage:
  *
  *   SPARK_DRIVER_MEM=24g sbt "runMain graft.tools.ScaleBench [size] [nImages]"
  *
  * Executor-thread concurrency is sized to the granted heap by default
  * ([[threadsForHeap]]: ~1.5 threads/GiB, clamped to [4, 32]), because
  * concurrent task working memory scales with threads — a fixed
  * local[32] OOMs intermittently below ~24 GiB. `SPARK_GRAFT_CPUS`
  * overrides.
  *
  * Driver-heap ceiling proof: the same full-frame run completes with the
  * WHOLE local-mode JVM capped at 4 GiB —
  *
  *   SPARK_DRIVER_MEM=4g SPARK_GRAFT_CPUS=8 sbt "runMain graft.tools.ScaleBench 4096 3"
  *   → status=ok, 176.6 s (measured round 5; 185.2 s re-measured round 7)
  *
  * Full-power (24 g, 32 threads): 111.9 s round 5 → 89.2 s round 7 after
  * the PSF model subtraction moved from a scalar UDF to the native
  * PsfModel.evalCol expression tree.
  *
  * A hidden full-frame driver materialization (50 M Rows ≈ several GiB)
  * could not fit; at 32 threads the cap instead trips on legitimate
  * concurrent task working memory, which scales with threads, not with
  * any driver-side collect.
  *
  * The field renders WITHOUT a 50M-row shuffle: background + deterministic
  * sub-ADU noise are per-pixel expressions over spark.range, and the star
  * flux arrives via a broadcast left join of per-star box contributions
  * (stars × box² rows — the subtractModel pattern in reverse). */
object ScaleBench {

  private val Stars = 40
  private val Sigma = 1.8

  private def starList(size: Int): Seq[(Double, Double, Double)] =
    (0 until Stars).map { i =>
      val sx = 60.0 + (i * 2654435761L % (size - 120)).toDouble
      val sy = 60.0 + (i * 40503L * 40503L % (size - 120)).toDouble
      (sx, sy, 1500.0 + (i * 977 % 2000).toDouble)
    }

  private def renderFrame(spark: SparkSession, imgId: Long, size: Int,
      shift: (Int, Int)): DataFrame = {
    val boxR = 10
    val contrib = starList(size).flatMap { case (sx0, sy0, amp) =>
      val sx = sx0 + shift._1; val sy = sy0 + shift._2
      val cx = math.round(sx).toInt; val cy = math.round(sy).toInt
      for (dy <- -boxR to boxR; dx <- -boxR to boxR) yield {
        val x = cx + dx; val y = cy + dy
        val d2 = (x - sx) * (x - sx) + (y - sy) * (y - sy)
        (y.toLong, x.toLong, amp * math.exp(-d2 / (2 * Sigma * Sigma)))
      }
    }
    val spark2 = spark
    import spark2.implicits._
    val cdf = contrib.toDF("y", "x", "star_v")
      .groupBy("y", "x").agg(sum("star_v").as("star_v"))
    spark.range(size.toLong * size)
      // deterministic sub-ADU noise, codegen'd — no RNG, no shuffle
      .select((col("id") / size).cast(LongType).as("y"),
        (col("id") % size).as("x"),
        (lit(100.0) +
          (pmod(xxhash64(col("id") + lit(imgId * 1e9.toLong)), lit(1000L))
            .cast(DoubleType) / 1000.0 - 0.5)).as("v"))
      .join(broadcast(cdf), Seq("y", "x"), "left_outer")
      .select(lit(imgId).as("img_id"), col("y"), col("x"),
        (col("v") + coalesce(col("star_v"), lit(0.0))).as("v"))
  }

  /** Default executor-thread count derived from the heap actually
    * granted to this JVM: ~1.5 threads per pinned GiB, clamped to
    * [4, min(32, cores)]. Concurrent task working memory (box-join
    * build sides, sort/agg buffers, codegen scratch) scales with
    * THREADS, not data, so a fixed local[32] is only safe above
    * ~24 GiB — at 16 GiB it intermittently OOMs in the photometry
    * stage (measured round 10: 2 of 3 runs). Sizing threads to heap
    * makes every heap shape reproducible: 4 GiB → 6, 16 GiB → 24,
    * ≥24 GiB → 32. The floor is min(4, cores) so a <4-core box is
    * never oversubscribed. `SPARK_GRAFT_CPUS` still overrides. */
  def threadsForHeap(heapBytes: Long, cores: Int): Int = {
    val perGib = 1.5
    val byHeap = math.floor(heapBytes / (1L << 30).toDouble * perGib).toInt
    math.max(math.min(4, cores), math.min(math.min(32, cores), byHeap))
  }

  def main(args: Array[String]): Unit = {
    // RuntimeMXBean uptime at entry ≈ JVM init cost, which at big -Xms
    // is dominated by -XX:+AlwaysPreTouch faulting in the pinned heap —
    // recorded so provenance separates one-time pre-touch from the run
    val initMs =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime
    val heapBytes = Runtime.getRuntime.maxMemory()
    val heapGib = heapBytes / (1L << 30).toDouble
    val size = if (args.nonEmpty) args(0).toInt else 4096
    val nImages = if (args.length > 1) args(1).toInt else 3
    val cpus = if (sys.env.contains("SPARK_GRAFT_CPUS")) Session.cpus
      else threadsForHeap(heapBytes, Runtime.getRuntime.availableProcessors)
    println(f"SCALE-CONFIG heap=$heapGib%.1fg threads=$cpus " +
      f"jvm_init=${initMs / 1000.0}%.1f s (init ≈ AlwaysPreTouch at large -Xms)")
    val spark = Session.local(cpus)
    val px = (0 until nImages)
      .map(i => renderFrame(spark, i.toLong, size, (i % 3 - 1, (i * 2) % 3 - 1)))
      .reduce(_.unionByName(_))
    val nEpochs = if (args.length > 2) args(2).toInt else 1
    if (nEpochs <= 1) {
      val t0 = System.nanoTime()
      val res = EpochPipeline.run(spark, px, size, size, minStars = 5)
      val n = res.catalog.count()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"SCALE size=${size}x$size images=$nImages pixels=${size.toLong * size * nImages}%,d " +
        f"status=${res.status} fwhm=${res.fwhm}%.2f stars=$n wall=$dt%.1f s " +
        f"heap=$heapGib%.1fg threads=$cpus")
    } else {
      // a campaign (runEpochs): every epoch runs in the same stages, the
      // tasks of different epochs side by side on the executors. Epochs
      // reuse the same rendered frames, image ids included, tagged with
      // distinct epoch ids; results stay per-epoch.
      val tagged = (0 until nEpochs)
        .map(e => px.withColumn("epoch_id", lit(e.toLong)))
        .reduce(_.unionByName(_))
      val t0 = System.nanoTime()
      val (statuses, catalog) = EpochPipeline.runEpochs(
        spark, tagged, size, size, minStars = 5)
      val n = catalog.count()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"SCALE-CONCURRENT size=${size}x$size images=$nImages epochs=$nEpochs " +
        f"ok=${statuses.values.count(_ == "ok")} stars=$n wall=$dt%.1f s")
    }
    spark.stop()
  }
}
