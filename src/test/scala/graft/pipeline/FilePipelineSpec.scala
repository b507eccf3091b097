package graft.pipeline

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** End-to-end from real files: synthetic FITS on disk + metadata CSV →
  * FilePipeline → statuses per epoch + partitioned catalog — the
  * reference's full `pipeline()` call on engine-made inputs. */
class FilePipelineSpec extends SparkSpec {
  import spark.implicits._

  private val W = 48
  private val planted = Seq((12.0, 14.0, 2400.0), (30.0, 33.0, 2000.0))

  private def card(k: String, v: String): Array[Byte] =
    (k.padTo(8, ' ') + "= " + v).padTo(80, ' ').getBytes("US-ASCII")
  private def pad(b: Array[Byte], fill: Byte): Array[Byte] =
    b ++ Array.fill[Byte]((2880 - b.length % 2880) % 2880)(fill)

  /** Primary HDU (no data) + float32 image extension with planted stars. */
  private def fits(seed: Long, shift: (Int, Int), starless: Boolean): Array[Byte] = {
    val primary = pad(card("SIMPLE", "T") ++ card("BITPIX", "8") ++
      card("NAXIS", "0") ++ "END".padTo(80, ' ').getBytes("US-ASCII"), ' '.toByte)
    val rnd = new scala.util.Random(seed)
    val data = ByteBuffer.allocate(W * W * 4).order(ByteOrder.BIG_ENDIAN)
    for (y <- 0 until W; x <- 0 until W) {
      var v = 100.0 + rnd.nextGaussian()
      if (!starless) planted.foreach { case (sx, sy, amp) =>
        val dx = x - (sx + shift._1); val dy = y - (sy + shift._2)
        v += amp * math.exp(-(dx * dx + dy * dy) / (2 * 1.8 * 1.8))
      }
      data.putFloat(v.toFloat)
    }
    val ext = pad(card("XTENSION", "'IMAGE   '") ++ card("BITPIX", "-32") ++
      card("NAXIS", "2") ++ card("NAXIS1", W.toString) ++
      card("NAXIS2", W.toString) ++ "END".padTo(80, ' ').getBytes("US-ASCII"),
      ' '.toByte)
    primary ++ ext ++ pad(data.array(), 0)
  }

  test("metadata CSV + FITS files to per-epoch partitioned catalogs") {
    val dir = Files.createTempDirectory("graft-filepipe")
    // epoch 1: two dithered frames; epoch 2: starless (abort branch);
    // a third unlisted file must be ignored, and listed files that are
    // missing must neither fail the run nor start an epoch of their own
    Files.write(dir.resolve("e1a.fits"), fits(1, (0, 0), starless = false))
    Files.write(dir.resolve("e1b.fits"), fits(2, (1, -1), starless = false))
    Files.write(dir.resolve("e2a.fits"), fits(3, (0, 0), starless = true))
    Files.write(dir.resolve("ignored.fits"), fits(4, (0, 0), starless = false))
    Files.write(dir.resolve("meta.csv"),
      "e1a.fits,1\ne1b.fits,1\ne1c.fits,1\ne2a.fits,2\ne3a.fits,3\n"
        .getBytes("US-ASCII"))
    val out = dir.resolve("results").toString

    val reports = java.nio.file.Files.createTempDirectory("graft-fp-reports")
    val res = FilePipeline.run(spark, dir.resolve("meta.csv").toString,
      dir.toString + "/*.fits", W, W, minStars = 1, resultsDir = Some(out),
      reportDir = Some(reports.toString))

    assert(res.statuses === Map(1L -> "ok", 2L -> "aborted_no_fwhm"))
    // per-epoch diagnostic PDFs landed (the psf_phot.py:55 call), one per
    // epoch, valid headers
    Seq(1L, 2L).foreach { ep =>
      val bytes = java.nio.file.Files.readAllBytes(
        reports.resolve(s"epoch_$ep.pdf"))
      assert(new String(bytes.take(8), "US-ASCII").startsWith("%PDF-1.4"))
    }
    val cat = res.catalog.filter($"epoch_id" === 1L)
      .select("xcentroid", "ycentroid").as[(Double, Double)].collect()
    planted.foreach { case (sx, sy, _) =>
      assert(cat.exists(c => math.abs(c._1 - sx) < 1.5 && math.abs(c._2 - sy) < 1.5),
        s"planted star ($sx,$sy) missing from file-driven catalog")
    }
    // partitioned results readable with pruning; aborted epoch wrote no rows
    val back = spark.read.parquet(out)
    assert(back.filter($"epoch_id" === 1L).count() >= planted.length)
    assert(back.filter($"epoch_id" === 2L).count() === 0L)
  }

  test("a two-epoch run names its own call sites, none in java.util.concurrent") {
    val dir = Files.createTempDirectory("graft-filepipe-sites")
    Seq("e1a" -> (0, 0), "e1b" -> (1, -1), "e2a" -> (0, 0), "e2b" -> (-1, 1))
      .zipWithIndex.foreach { case ((f, shift), i) =>
        Files.write(dir.resolve(s"$f.fits"), fits(i + 1L, shift, starless = false))
      }
    Files.write(dir.resolve("meta.csv"),
      "e1a.fits,1\ne1b.fits,1\ne2a.fits,2\ne2b.fits,2\n".getBytes("US-ASCII"))
    val (res, sites) = callSitesDuring(FilePipeline.run(spark,
      dir.resolve("meta.csv").toString, dir.toString + "/*.fits", W, W,
      minStars = 1, resultsDir = Some(dir.resolve("results").toString)))
    assert(res.statuses === Map(1L -> "ok", 2L -> "ok"))
    sites.foreach(s => info(s))
    // a short call site is "<method> at <File>.java:<line>"
    val inConcurrent = sites.filter { s =>
      "at (\\w+)\\.java:".r.findFirstMatchIn(s).exists(m => scala.util.Try(
        Class.forName(s"java.util.concurrent.${m.group(1)}")).isSuccess)
    }
    assert(sites.nonEmpty && inConcurrent.isEmpty, inConcurrent.mkString("; "))
  }

  test("listing the FITS files for their epochs reads no file content") {
    val dir = Files.createTempDirectory("graft-filepipe-list")
    Files.write(dir.resolve("big.fits"), fits(1, (0, 0), starless = false))
    val glob = dir.toString + "/*.fits"
    val key = "spark.sql.sources.binaryFile.maxLength"
    // a file over binaryFile's length limit fails any read of `content`,
    // so the path-only listing passing proves it reads no bytes
    spark.conf.set(key, "100")
    try {
      assert(graft.sources.CatalogSinks.readBinary(spark, glob).select("path")
        .collect().length === 1)
      assert(graft.sources.CatalogSinks.readBinary(spark, glob).inputFiles
        .length === 1)
      intercept[Exception](graft.sources.CatalogSinks.readBinary(spark, glob)
        .select("content").collect())
    } finally spark.conf.unset(key)
  }

  test("the epochs' files come from one metadata job and a listing with none") {
    val dir = Files.createTempDirectory("graft-filepipe-files")
    Seq("e1a", "e1b", "e2a", "ignored").zipWithIndex.foreach { case (f, i) =>
      Files.write(dir.resolve(s"$f.fits"), fits(i + 1L, (0, 0), starless = false))
    }
    Files.write(dir.resolve("meta.csv"),
      "e1a.fits,1\ne1b.fits,1\ne1c.fits,1\ne2a.fits,2\ne3a.fits,3\n"
        .getBytes("US-ASCII"))
    val glob = dir.toString + "/*.fits"
    val (listed, listJobs) = jobsDuring(
      graft.sources.CatalogSinks.readBinary(spark, glob).inputFiles)
    assert(listed.length === 4 && listJobs === 0)
    val (files, jobs) = jobsDuring(
      FilePipeline.epochFiles(spark, dir.resolve("meta.csv").toString, glob))
    assert(jobs === 1)
    assert(files.map { case (ep, ps) =>
        ep -> ps.map(p => p.substring(p.lastIndexOf('/') + 1)).sorted } ===
      Seq(1L -> Seq("e1a.fits", "e1b.fits"), 2L -> Seq("e2a.fits")))
    // the image ids are xxhash64 of the paths the glob's scan reports
    val ids = FilePipeline.epochPixels(spark, files)
      .select("epoch_id", "img_id").distinct().as[(Long, Long)].collect().toSet
    val want = graft.sources.CatalogSinks.readBinary(spark, glob)
      .select(col("path"), xxhash64(col("path"))).as[(String, Long)].collect()
      .collect { case (p, id) if !p.endsWith("ignored.fits") =>
        (if (p.endsWith("e2a.fits")) 2L else 1L) -> id }.toSet
    assert(ids === want)
  }
}
