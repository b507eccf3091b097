package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Minimal FITS reader for the import_images boundary (core.py:18-50:
  * `fits.open(path)` → `hdu[1].data` + `hdu[1].header`), implemented
  * directly from the public FITS 4.0 standard — no external libraries:
  *
  *   - a file is a sequence of HDUs; each HDU is a header of 2880-byte
  *     blocks holding 36 80-character ASCII cards, then data padded to a
  *     2880 multiple;
  *   - a card is `KEYWORD = value / comment` (keyword in bytes 1-8, value
  *     indicator `= ` at 9-10); `END` terminates the header;
  *   - array shape comes from BITPIX (8/16/32/64 int, -32/-64 float) and
  *     NAXIS/NAXISn; data is big-endian, physical = BZERO + BSCALE·raw.
  *
  * Scale note: decode runs inside the executors (flatMap over binaryFile
  * rows), one task per file — the same parallelism the reference gets from
  * its per-epoch loop, without collecting any image to the driver. A
  * DataSource V2 TableProvider that streams blocks instead of holding the
  * file bytes is the upgrade path for frames much larger than the LCOGT
  * 4096² (~67 MB) ones.
  */
object Fits {

  final case class Hdu(header: Map[String, String], bitpix: Int,
      axes: Seq[Int], dataOffset: Long, dataLength: Long)

  private val Block = 2880
  private val Card = 80

  /** Parse one 80-byte card into `cards`; returns true on END. Duplicate
    * keywords keep the first value, matching astropy's `header[key]`
    * lookup semantics. */
  private def parseCard(card: String,
      cards: scala.collection.mutable.LinkedHashMap[String, String]): Boolean = {
    val key = card.substring(0, 8).trim
    if (key == "END") true
    else {
      if (key.nonEmpty && card.length > 10 && card.charAt(8) == '=') {
        // strip inline comment (a '/' outside a quoted string), unquote
        val raw = card.substring(10)
        val value = {
          val t = raw.trim
          if (t.startsWith("'")) {
            val end = t.indexOf('\'', 1)
            if (end > 0) t.substring(1, end).trim else t
          } else {
            val slash = t.indexOf('/')
            (if (slash >= 0) t.substring(0, slash) else t).trim
          }
        }
        if (!cards.contains(key)) cards(key) = value
      }
      false
    }
  }

  /** Parse one header starting at `off`; returns (cards, offset after the
    * last header block). */
  private def parseHeader(bytes: Array[Byte], off: Int): (Map[String, String], Int) = {
    val cards = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var p = off
    var done = false
    while (!done && p + Card <= bytes.length) {
      done = parseCard(new String(bytes, p, Card, "US-ASCII"), cards)
      p += Card
    }
    // advance to the end of the current 2880 block
    val headerEnd = off + ((p - off + Block - 1) / Block) * Block
    (cards.toMap, headerEnd)
  }

  /** Parse one header from a positioned-readable stream starting at byte
    * `off`: header blocks are read one at a time; data bytes are never
    * touched. Returns (cards, data offset). */
  private def parseHeaderAt(read: (Long, Array[Byte]) => Unit, off: Long,
      fileLen: Long): (Map[String, String], Long) = {
    val cards = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val block = new Array[Byte](Block)
    var p = off
    var done = false
    while (!done && p + Block <= fileLen) {
      read(p, block)
      var c = 0
      while (!done && c < Block) {
        done = parseCard(new String(block, c, Card, "US-ASCII"), cards)
        c += Card
      }
      p += Block
    }
    (cards.toMap, p)
  }

  private def hduFrom(header: Map[String, String], dataOff: Long): Hdu = {
    val bitpix = header.get("BITPIX").map(_.toInt).getOrElse(8)
    val naxis = header.get("NAXIS").map(_.toInt).getOrElse(0)
    val axes = (1 to naxis).map(i => header(s"NAXIS$i").toInt)
    val dataLen = if (naxis == 0) 0L
      else axes.map(_.toLong).product * (math.abs(bitpix) / 8)
    Hdu(header, bitpix, axes, dataOff, dataLen)
  }

  /** Locate HDU `hduIndex` through a positioned reader WITHOUT reading any
    * data bytes: headers stream block-wise, data extents are skipped by
    * offset arithmetic. O(header bytes) I/O at any file length — the
    * >2 GiB-safe path the DSv2 connector uses (file offsets are Long
    * throughout). */
  def locateHdu(read: (Long, Array[Byte]) => Unit, fileLen: Long,
      hduIndex: Int): Option[Hdu] = {
    var off = 0L
    var idx = 0
    while (off + Block <= fileLen) {
      val (header, dataOff) = parseHeaderAt(read, off, fileLen)
      val hdu = hduFrom(header, dataOff)
      if (idx == hduIndex) return Some(hdu)
      off = dataOff + ((hdu.dataLength + Block - 1) / Block) * Block
      idx += 1
    }
    None
  }

  /** Split a FITS byte array into its HDUs (primary + extensions). */
  def parseHdus(bytes: Array[Byte]): Seq[Hdu] = {
    val out = Seq.newBuilder[Hdu]
    var off = 0
    while (off + Block <= bytes.length) {
      val (header, dataOff) = parseHeader(bytes, off)
      val hdu = hduFrom(header, dataOff.toLong)
      out += hdu
      off = dataOff + (((hdu.dataLength + Block - 1) / Block) * Block).toInt
    }
    out.result()
  }

  /** Decode an image HDU's data to physical values, row-major. */
  def pixelValues(bytes: Array[Byte], hdu: Hdu): Array[Double] = {
    val n = if (hdu.axes.isEmpty) 0 else hdu.axes.product
    val bscale = hdu.header.get("BSCALE").map(_.toDouble).getOrElse(1.0)
    val bzero = hdu.header.get("BZERO").map(_.toDouble).getOrElse(0.0)
    val buf = ByteBuffer.wrap(bytes, hdu.dataOffset.toInt, hdu.dataLength.toInt)
      .order(ByteOrder.BIG_ENDIAN)
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      val raw = hdu.bitpix match {
        case 8   => (buf.get() & 0xff).toDouble
        case 16  => buf.getShort().toDouble
        case 32  => buf.getInt().toDouble
        case 64  => buf.getLong().toDouble
        case -32 => buf.getFloat().toDouble
        case -64 => buf.getDouble()
        case b   => throw new IllegalArgumentException(s"BITPIX $b unsupported")
      }
      out(i) = bzero + bscale * raw
      i += 1
    }
    out
  }

  /** import_images as a Spark scan: binaryFile glob → per-file decode of
    * `hdu(hduIndex)` → long-form pixels (img path, y, x, physical value)
    * plus the header map — abstraction #1 + #2 of SURVEY.md §1 in one
    * DataFrame. 2-D image HDUs only (NAXIS1 = width, NAXIS2 = height). */
  def readFits(spark: SparkSession, path: String, hduIndex: Int = 1): DataFrame =
    readFits(spark, Seq(path), hduIndex)

  /** As above over several files or globs, scanned as one relation. */
  def readFits(spark: SparkSession, paths: Seq[String], hduIndex: Int): DataFrame = {
    import spark.implicits._
    CatalogSinks.readBinary(spark, paths: _*)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (p, bytes) =>
        val hdus = parseHdus(bytes)
        if (hduIndex >= hdus.length) Iterator.empty
        else {
          val hdu = hdus(hduIndex)
          require(hdu.axes.length == 2, s"HDU $hduIndex is not a 2-D image")
          val Seq(w, h) = hdu.axes
          val v = pixelValues(bytes, hdu)
          (0 until h).iterator.flatMap { y =>
            (0 until w).iterator.map { x =>
              (p, hdu.header, y.toLong, x.toLong, v(y * w + x))
            }
          }
        }
      }
      .toDF("img_id", "header", "y", "x", "v")
  }

  /** Header promotion (p_io.py:43-56): the typed columns the pipeline
    * consumes, pulled out of the header map. */
  def promoteHeader(df: DataFrame): DataFrame =
    df.select(col("*"),
      element_at(col("header"), "AIRMASS").cast("double").as("airmass"),
      element_at(col("header"), "EXPTIME").cast("double").as("exptime"),
      element_at(col("header"), "DATE-OBS").as("date_obs"),
      element_at(col("header"), "SITEID").as("site_id"),
      element_at(col("header"), "FILTER").as("filter"))

  /** One 80-byte header card. private[graft]: every FITS byte emitter in
    * the repo (writer, test fixtures, the q128 campaign stager) must share
    * ONE encoding of the card rules so a format fix reaches them all. */
  private[graft] def fitsCard(k: String, v: String): Array[Byte] = {
    val key = k.take(8).padTo(8, ' ')
    (key + "= " + v).padTo(Card, ' ').take(Card).getBytes("US-ASCII")
  }

  /** Pad to the 2880-byte FITS block multiple (headers pad with spaces,
    * data with zeros). Shared for the same reason as [[fitsCard]]. */
  private[graft] def padBlock(b: Array[Byte], fill: Byte): Array[Byte] =
    b ++ Array.fill[Byte]((Block - b.length % Block) % Block)(fill)

  /** write_fits (p_io.py:19-62): merge the WCS header over the first image
    * header (HISTORY/COMMENT filtered, p_io.py:40-42), set AIRMASS to the
    * across-images mean and BJD from the mean mid-exposure JD
    * (p_io.py:43-56, via the engine's Barycenter model), then serialize
    * the composite image as a primary-HDU FITS file (BITPIX=-64).
    *
    * A single-file FITS sink must serialize centrally, but it streams:
    * pixels are range-sorted by (y, x) and pulled through
    * `toLocalIterator`, so the driver holds one shuffle partition of rows
    * at a time (~total/32 rows) instead of the whole frame — a 4096²
    * composite (16.7 M rows) writes under a bounded driver heap. Missing
    * positions zero-fill (same as the dense-array path it replaces);
    * duplicate positions keep the last sorted value.
    * Returns (avgAirmass, bjd, mergedHeader) like the reference. */
  def writeFits(pixels: DataFrame, width: Int, height: Int,
      imHeaders: Seq[Map[String, String]], wcsHeader: Map[String, String],
      raDeg: Double, decDeg: Double, path: String): (Double, Double, Map[String, String]) = {
    require(imHeaders.nonEmpty, "write_fits needs at least one image header")
    require(width > 0 && height > 0,
      s"write_fits: frame dims must be positive, got ${width}x$height")
    // single-FILE sink: absent positions zero-fill, so the write cost is
    // the VIRTUAL frame area, not the row count — a >2³¹-pixel request
    // (17 GB of mostly zeros) is a caller bug (Int-overflow-shaped dims),
    // not a frame; fail fast before emitting a byte
    require(width.toLong * height < (1L << 31),
      s"write_fits: virtual frame ${width}x$height exceeds 2^31 pixels")
    val merged0 = imHeaders.head ++
      wcsHeader.view.filterKeys(k => k != "HISTORY" && k != "COMMENT").toMap
    val airmass = imHeaders.map(_("AIRMASS").toDouble)
    val avgAirmass = airmass.sum / airmass.length
    // mean mid-exposure JD: jd(DATE-OBS) + (EXPTIME/2)/3600/24 (p_io.py:48-53)
    val jdMid = imHeaders.map { h =>
      val isot = java.time.LocalDateTime.parse(h("DATE-OBS"))
      val epochSec = isot.toEpochSecond(java.time.ZoneOffset.UTC).toDouble +
        isot.getNano / 1e9
      val jd = epochSec / 86400.0 + 2440587.5
      jd + (h("EXPTIME").toDouble / 2.0) / 3600.0 / 24.0
    }
    val meanJd = jdMid.sum / jdMid.length
    val bjd = graft.functions.Barycenter.bjd(meanJd, raDeg, decDeg)
    val merged = merged0 +
      ("AIRMASS" -> avgAirmass.toString) + ("BJD" -> bjd.toString)

    val cards = Seq.newBuilder[Array[Byte]]
    cards += fitsCard("SIMPLE", "T")
    cards += fitsCard("BITPIX", "-64")
    cards += fitsCard("NAXIS", "2")
    cards += fitsCard("NAXIS1", width.toString)
    cards += fitsCard("NAXIS2", height.toString)
    merged.toSeq.sortBy(_._1)
      .filterNot { case (k, _) =>
        Set("SIMPLE", "BITPIX", "NAXIS", "NAXIS1", "NAXIS2", "XTENSION")(k) }
      .foreach { case (k, value) =>
        val quoted = if (value.matches("[-+0-9.eE]+|T|F")) value
          else s"'${value.take(67)}'"
        cards += fitsCard(k, quoted)
      }
    cards += "END".padTo(Card, ' ').getBytes("US-ASCII")
    val headerBytes = cards.result().flatten.toArray
    val headerPadded = headerBytes ++
      Array.fill[Byte]((Block - headerBytes.length % Block) % Block)(' '.toByte)

    val out = new java.io.BufferedOutputStream(
      java.nio.file.Files.newOutputStream(java.nio.file.Paths.get(path)),
      1 << 20)
    try {
      out.write(headerPadded)
      val total = width.toLong * height
      val it = pixels
        .select(col("y"), col("x"), col("v"))
        .where(col("y") >= 0 && col("y") < height &&
          col("x") >= 0 && col("x") < width)
        .sort("y", "x")
        .toLocalIterator()
      val word = new Array[Byte](8)
      val bb = ByteBuffer.wrap(word).order(ByteOrder.BIG_ENDIAN)
      val zero = new Array[Byte](8)
      var cursor = 0L
      // buffer one cell so duplicate (y, x) rows keep the last value
      var pendingPos = -1L
      var pendingV = 0.0
      def flushPending(): Unit = if (pendingPos >= 0) {
        while (cursor < pendingPos) { out.write(zero); cursor += 1 }
        bb.clear(); bb.putDouble(pendingV); out.write(word); cursor += 1
        pendingPos = -1L
      }
      while (it.hasNext) {
        val r = it.next()
        val pos = r.getLong(0) * width + r.getLong(1)
        if (pos == pendingPos) pendingV = r.getDouble(2)
        else { flushPending(); pendingPos = pos; pendingV = r.getDouble(2) }
      }
      flushPending()
      while (cursor < total) { out.write(zero); cursor += 1 }
      val pad = ((Block - (total * 8) % Block) % Block).toInt
      if (pad > 0) out.write(new Array[Byte](pad))
    } finally out.close()
    (avgAirmass, bjd, merged)
  }
}
