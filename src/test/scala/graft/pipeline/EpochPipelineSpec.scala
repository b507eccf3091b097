package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class EpochPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val planted = KernelFields.EpochField.planted
  private def field(imgId: Long, shift: (Int, Int)): DataFrame =
    KernelFields.EpochField.frame(spark, imgId, shift)

  test("full epoch: 3-image set to measured catalog with magnitudes") {
    val px = field(0, (0, 0)).union(field(1, (1, -1))).union(field(2, (-1, 1)))
    val res = EpochPipeline.run(spark, px, 64, 64, minStars = 2)
    assert(res.status === "ok")
    assert(math.abs(res.fwhm - 1.8 * GaussianFit.SigmaToFwhm) < 0.5)
    val cat = res.catalog.collect()
    assert(cat.length >= planted.length)
    // brightest planted star measured with a sane magnitude
    val rows = res.catalog.select("xcentroid", "ycentroid", "flux", "mag")
      .as[(Double, Double, Double, Double)].collect()
    planted.foreach { case (sx, sy, _) =>
      assert(rows.exists(r => math.abs(r._1 - sx) < 1.5 && math.abs(r._2 - sy) < 1.5),
        s"planted star ($sx,$sy) missing from catalog")
    }
    // Spark's log10 is StrictMath-backed and may differ from Math.log10 by
    // 1 ulp — compare the mag invariant with a tight tolerance, not bitwise
    assert(rows.forall(r => math.abs(r._4 - -2.5 * math.log10(r._3)) < 1e-9))
    // the catalog comes flux-descending (write_csv)
    assert(rows.map(_._3).toSeq === rows.map(_._3).toSeq.sorted(
      Ordering.Double.TotalOrdering.reverse))
  }

  test("two epoch runs leave the CacheManager as they found it") {
    import org.apache.spark.sql.CacheEntries
    val before = CacheEntries.count(spark)
    val px = field(0, (0, 0)).union(field(1, (1, -1))).union(field(2, (-1, 1)))
    (1 to 2).foreach { _ =>
      EpochPipeline.run(spark, px, 64, 64, minStars = 2).catalog.collect()
    }
    assert(CacheEntries.count(spark) === before)
  }

  test("job fence: one 3-frame epoch and its catalog collect") {
    val px = field(0, (0, 0)).union(field(1, (1, -1))).union(field(2, (-1, 1)))
    val (_, jobs) = jobsDuring {
      EpochPipeline.run(spark, px, 64, 64, minStars = 2).catalog.collect()
    }
    // 8 jobs measured; AQE's broadcast timing has moved this count by a
    // job or two before, so the bound keeps that much headroom only. 29
    // while the steps after the combine ran as separate jobs; 60 while
    // detection, the alignment's match and stack and the mask ran as SQL
    // plans; 79–81 while photometry and the EPSF build ran their rounds as
    // Spark jobs; 130 before the alignment reused the stats, the combine
    // was pinned and the peak test became one pass.
    info(s"$jobs jobs")
    assert(jobs <= 11, s"$jobs jobs")
  }

  test("multi-epoch loop: concurrent epochs, statuses per branch, tagged union") {
    val rnd = new scala.util.Random(9)
    val flat = (for (y <- 0 until 64; x <- 0 until 64)
      yield (7L, y.toLong, x.toLong, 100.0 + rnd.nextGaussian()))
      .toDF("img_id", "y", "x", "v")
    val px = field(0, (0, 0)).withColumn("epoch_id", lit(1L))
      .union(field(1, (1, 0)).withColumn("epoch_id", lit(2L)))
      .union(flat.withColumn("epoch_id", lit(3L))) // starless epoch
    val (statuses, catalog) = EpochPipeline.runEpochs(spark, px, "epoch_id", 64, 64,
      minStars = 2)
    assert(statuses(1L) === "ok" && statuses(2L) === "ok")
    assert(statuses(3L) === "aborted_no_fwhm")
    assert(catalog.filter(col("epoch_id") === 1L).count() >= planted.length)
    assert(catalog.filter(col("epoch_id") === 3L).count() === 0)
  }

  test("per-epoch diagnostic PDF lands alongside the catalog") {
    val dir = java.nio.file.Files.createTempDirectory("graft-epoch-pdf")
    val p = dir.resolve("epoch_1.pdf").toString
    val res = EpochPipeline.run(spark, field(0, (0, 0)), 64, 64,
      minStars = 2, reportPath = Some(p))
    assert(res.status === "ok")
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    assert(new String(bytes.take(8), "US-ASCII").startsWith("%PDF-1.4"))
    assert(new String(bytes, "ISO-8859-1").contains("/Subtype /Image"))
  }

  test("campaign-scale epoch loop: 10 epochs through a parallelism-2 pool") {
    // more epochs than pool slots: work must queue and recycle the two
    // workers (the 350-epoch campaign shape), not spawn a thread per epoch
    val rnd = new scala.util.Random(11)
    val epochs = (1L to 10L).map { ep =>
      (for (y <- 0 until 24; x <- 0 until 24)
        yield (ep * 100, y.toLong, x.toLong, 100.0 + rnd.nextGaussian()))
        .toDF("img_id", "y", "x", "v").withColumn("epoch_id", lit(ep))
    }.reduce(_ union _)
    val (statuses, catalog) = EpochPipeline.runEpochs(spark, epochs,
      "epoch_id", 24, 24, minStars = 2, parallelism = 2)
    assert(statuses.size === 10)
    assert(statuses.values.forall(_ === "aborted_no_fwhm"))
    assert(catalog.count() === 0)
  }

  test("driver q83: rendered fixture field runs the ok branch, non-empty catalog") {
    val sf = "/root/testdata/sf0.001"
    val res = EpochPipeline.run(spark,
      graft.queries.PixelQueries.fieldFor(spark, sf), 64, 64, minStars = 2)
    assert(res.status === "ok")
    assert(res.catalog.count() >= 5) // all five rendered stars measured
    assert(graft.SparkEntry.queries("q83_epoch_pipeline")(spark, sf).count() >= 5)
  }

  test("epoch aborts with no-FWHM status on a starless field") {
    val rnd = new scala.util.Random(9)
    val flat = (for (y <- 0 until 48; x <- 0 until 48)
      yield (1L, y.toLong, x.toLong, 100.0 + rnd.nextGaussian()))
      .toDF("img_id", "y", "x", "v")
    val res = EpochPipeline.run(spark, flat, 48, 48)
    assert(res.status === "aborted_no_fwhm")
    assert(res.catalog.count() === 0)
  }

  test("WCS solver failure leaves null sky coordinates (psf_phot.py:95-98)") {
    val px = field(0, (0, 0))
    val failing: WcsEnrichment.Solver = _ => None
    val res = EpochPipeline.run(spark, px, 64, 64, minStars = 2,
      wcsSolver = Some(failing))
    assert(res.status === "ok")
    assert(res.catalog.filter(col("ra").isNotNull).count() === 0)
  }
}
