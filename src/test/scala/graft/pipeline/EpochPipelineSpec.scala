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
    // 6 jobs measured; the bound keeps one job of headroom for AQE's
    // broadcast timing, which has moved this count before. 8 while a stats
    // census of every image ran before the alignment's detection; 29
    // while the steps after the combine ran as separate jobs; 60 while
    // detection, the alignment's match and stack and the mask ran as SQL
    // plans; 79–81 while photometry and the EPSF build ran their rounds as
    // Spark jobs; 130 before the alignment reused the stats, the combine
    // was pinned and the peak test became one pass.
    info(s"$jobs jobs")
    assert(jobs <= 7, s"$jobs jobs")
  }

  test("multi-epoch loop: concurrent epochs, statuses per branch, tagged union") {
    val rnd = new scala.util.Random(9)
    val flat = (for (y <- 0 until 64; x <- 0 until 64)
      yield (7L, y.toLong, x.toLong, 100.0 + rnd.nextGaussian()))
      .toDF("img_id", "y", "x", "v")
    val px = field(0, (0, 0)).withColumn("epoch_id", lit(1L))
      .union(field(1, (1, 0)).withColumn("epoch_id", lit(2L)))
      .union(flat.withColumn("epoch_id", lit(3L))) // starless epoch
    val (statuses, catalog) = EpochPipeline.runEpochs(spark, px, 64, 64,
      minStars = 2)
    assert(statuses(1L) === "ok" && statuses(2L) === "ok")
    assert(statuses(3L) === "aborted_no_fwhm")
    assert(catalog.filter(col("epoch_id") === 1L).count() >= planted.length)
    assert(catalog.filter(col("epoch_id") === 3L).count() === 0)
  }

  test("job fence: a campaign of 8 epochs launches the jobs of a campaign of 1") {
    // the same three frames, image ids 0-2, in every epoch
    val frames = field(0, (0, 0)).union(field(1, (1, -1))).union(field(2, (-1, 1)))
      .localCheckpoint()
    def campaign(n: Int) = jobsDuring {
      val (statuses, catalog) = EpochPipeline.runEpochs(spark,
        (1 to n).map(ep => frames.withColumn("epoch_id", lit(ep.toLong)))
          .reduce(_ union _), 64, 64, minStars = 2)
      (statuses, catalog.collect())
    }
    val ((one, oneCat), jobsOne) = campaign(1)
    val ((eight, eightCat), jobsEight) = campaign(8)
    info(s"$jobsOne jobs for 1 epoch, $jobsEight for 8")
    assert(one === Map(1L -> "ok"))
    assert(eight === (1L to 8L).map(_ -> "ok").toMap)
    // every epoch measures the same stars as the campaign of one
    def stars(rows: Array[org.apache.spark.sql.Row], ep: Long) =
      rows.filter(_.getAs[Long]("epoch_id") == ep).map(_.toSeq.init).toSeq
    assert(stars(oneCat, 1L).nonEmpty)
    (1L to 8L).foreach(ep => assert(stars(eightCat, ep) === stars(oneCat, 1L)))
    assert(jobsEight === jobsOne)
  }

  test("a mixed campaign: every epoch takes its own branch, image ids repeating") {
    import KernelEquivalenceSpec._
    // the six guard fields (48², image ids 1-3) and the epoch field (64²,
    // ids 0-2), one epoch each: guard field i is epoch i + 1, the epoch
    // field epoch 7. The guard fields' frames do not shift against each
    // other, so the combine's 64² wrap leaves them as they are.
    val guards = GuardFields.map(_._1)
    val epochField = field(0, (0, 0)).union(field(1, (1, -1)))
      .union(field(2, (-1, 1)))
    val px = GuardFields.zipWithIndex.map { case ((_, (images, _)), i) =>
        images.flatten.toDF("img_id", "y", "x", "v")
          .withColumn("epoch_id", lit(i + 1L))
      }.reduce(_ union _)
      .union(epochField.withColumn("epoch_id", lit(7L)))
      .localCheckpoint()
    def rows(catalog: DataFrame, ep: Long) =
      catalog.filter(col("epoch_id") === ep).drop("epoch_id")
    // at minStars 3 every guard field reaches its recorded branch (some were
    // recorded at 1 or 2); the epoch field keeps two stars after its mask,
    // so it is diagnostics-only
    val (statuses, catalog) = EpochPipeline.runEpochs(spark, px, 64, 64)
    // runEpochs reports no FWHM; its outcomes do
    val fwhms = EpochPipeline.outcomes(spark, px, 64, 64, 3).map {
      case (ep, o) => ep -> o.fwhm }
    guards.zipWithIndex.foreach { case (name, i) =>
      val (status, fwhm, n) = Guards(name)
      assert(statuses(i + 1L) === status, name)
      assert(rows(catalog, i + 1L).count() === n, name)
      assert(math.abs(fwhms(i + 1L) - fwhm) <= 1e-9 * fwhm, name)
    }
    assert(statuses(7L) === "diagnostics_only")
    assert(math.abs(fwhms(7L) - EpochFwhm) <= 1e-9 * EpochFwhm)
    assert(rows(catalog, 7L).count() === 0)
    // at minStars 2 the epoch field measures its recorded catalog, and the
    // two too-few-stars fields turn ok with their two stars
    val (statuses2, catalog2) = EpochPipeline.runEpochs(spark, px, 64, 64,
      minStars = 2)
    val ok2 = Set("too few stars", "too few stars, two frames", "single image")
    guards.zipWithIndex.foreach { case (name, i) =>
      assert(statuses2(i + 1L) === (if (ok2(name)) "ok" else Guards(name)._1), name)
      assert(rows(catalog2, i + 1L).count() ===
        (if (ok2(name)) math.max(Guards(name)._3, 2L) else 0L), name)
    }
    assert(statuses2(7L) === "ok")
    val got = rows(catalog2, 7L).select("img_id", "star_id", "group_id",
        "xcentroid", "ycentroid", "flux", "mag", "iter_detected", "annulus_bkg")
      .as[(Long, Int, Int, Double, Double, Double, Double, Int, Double)]
      .collect().toSeq.sortBy(r => (r._1, r._2))
    assert(got.map(r => (r._1, r._2, r._3, r._8)) ===
      EpochCatalog.map(r => (r._1, r._2, r._3, r._8)))
    def rel(a: Double, b: Double) = math.abs(a - b) / math.max(math.abs(b), 1e-300)
    val worst = got.zip(EpochCatalog).map { case (g, w) =>
      Seq(rel(g._4, w._4), rel(g._5, w._5), rel(g._6, w._6), rel(g._7, w._7),
        rel(g._9, w._9)).max }.max
    info(s"worst relative difference $worst")
    assert(worst <= 1e-9, s"worst relative difference $worst")
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

  test("campaign-scale epoch loop: 10 epochs in one plan") {
    val rnd = new scala.util.Random(11)
    val epochs = (1L to 10L).map { ep =>
      (for (y <- 0 until 24; x <- 0 until 24)
        yield (ep * 100, y.toLong, x.toLong, 100.0 + rnd.nextGaussian()))
        .toDF("img_id", "y", "x", "v").withColumn("epoch_id", lit(ep))
    }.reduce(_ union _)
    val (statuses, catalog) = EpochPipeline.runEpochs(spark, epochs, 24, 24,
      minStars = 2)
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
