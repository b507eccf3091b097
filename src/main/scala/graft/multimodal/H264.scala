package graft.multimodal

/** H.264 / AVC (ISO/IEC 14496-10) I-frame codec over the CONFORMANT
  * I_PCM subset, hand-rolled from the public spec.
  *
  * Scope decision (the derive-or-embed policy, applied explicitly): the
  * NAL layer, Exp-Golomb entropy coding, SPS/PPS/slice-header grammar
  * and the macroblock walk are ALGORITHMIC — derivable exactly from the
  * published spec with no lookup data — and are implemented spec-exact
  * here. Transform-coded macroblocks (CAVLC residuals + intra
  * prediction) hinge on the printed coeff_token / total_zeros VLC
  * tables: lookup data that cannot be faithfully transcribed in this
  * offline environment, and a best-effort transcription would produce
  * nonconformant streams silently misrepresented as H.264. They remain
  * the documented descope. The I_PCM macroblock type (7.3.5.3 /
  * 7.4.5.3) exists in the spec precisely so an encoder can bypass
  * prediction+transform+entropy coding entirely — streams built from it
  * are fully conformant baseline H.264 that ANY conformant decoder
  * reproduces bit-exactly, which is a stronger interop claim than a
  * derived-table approximation of CAVLC would give.
  *
  * Layout implemented: Annex B byte streams (start codes + emulation
  * prevention), SPS (profile 66, 4:2:0, frame_mbs_only, optional
  * cropping), PPS (CAVLC mode, single slice group), IDR/non-IDR I
  * slices with pic_order_cnt_type 0 or 2, multiple slices per picture
  * resumed at `first_mb_in_slice`, and I_PCM macroblocks (alignment bit
  * + raw 256 luma / 2×64 chroma samples). Anything outside that —
  * CABAC, non-I slice types, transform-coded mb_types, slice groups,
  * field coding — returns None, never garbage.
  *
  * The encoder exists to certify the decoder (q147, H264Spec): I_PCM is
  * lossless, so the round-trip gate is BIT-EXACT pixel recovery, the
  * strongest gate in the codec family. Reference surface:
  * walkthrough.ipynb cell 0's opaque media columns; [[Mp4]] routes
  * `avc1` track payloads here.
  */
object H264 {

  /** One decoded 4:2:0 frame: full-res luma + quarter-res chroma. */
  final case class Frame(width: Int, height: Int, luma: Array[Byte],
      cb: Array[Byte], cr: Array[Byte])

  // ------------------------------------------------------------ bit I/O

  /** RBSP bit reader (operates on an UNESCAPED NAL payload). */
  private final class R(b: Array[Byte]) {
    var pos = 0
    private var bit = 0
    def u(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) {
        v = (v << 1) | ((b(pos) >> (7 - bit)) & 1)
        bit += 1
        if (bit == 8) { bit = 0; pos += 1 }
        i += 1
      }
      v
    }
    /** ue(v): Exp-Golomb — leadingZeroBits zeros, 1, leadingZeroBits of
      * suffix; value = 2^lz − 1 + suffix. */
    def ue(): Int = {
      var lz = 0
      while (u(1) == 0) { lz += 1; require(lz <= 31, "ue overflow") }
      (1 << lz) - 1 + (if (lz == 0) 0 else u(lz))
    }
    /** se(v): signed mapping (−1)^(k+1) · ceil(k/2). */
    def se(): Int = {
      val k = ue()
      if (k % 2 == 1) (k + 1) / 2 else -(k / 2)
    }
    def align(): Unit = while (bit != 0) require(u(1) == 0,
      "nonzero pcm alignment bit")
    def u8aligned(): Int = { require(bit == 0); val v = b(pos) & 0xff; pos += 1; v }
    def bitsLeft: Long = (b.length - pos).toLong * 8 - bit
  }

  private final class W {
    private val buf = new scala.collection.mutable.ArrayBuffer[Byte]()
    private var cur = 0; private var nbits = 0
    def u(v: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) {
        cur = (cur << 1) | ((v >>> i) & 1); nbits += 1
        if (nbits == 8) { buf += cur.toByte; cur = 0; nbits = 0 }
        i -= 1
      }
    }
    def ue(v: Int): Unit = {
      val k = v + 1
      val nb = 32 - Integer.numberOfLeadingZeros(k)
      u(0, nb - 1); u(k, nb)
    }
    def se(v: Int): Unit = ue(if (v > 0) 2 * v - 1 else -2 * v)
    def align0(): Unit = while (nbits != 0) u(0, 1)
    def byte(v: Int): Unit = { require(nbits == 0); buf += v.toByte }
    def trailing(): Unit = { u(1, 1); align0() }
    def result(): Array[Byte] = { require(nbits == 0); buf.toArray }
  }

  // ---------------------------------------------------- NAL (un)framing

  /** RBSP → EBSP: insert emulation_prevention_three_byte after any
    * 00 00 followed by 00/01/02/03 (7.4.1.1). */
  private def escape(rbsp: Array[Byte]): Array[Byte] = {
    val out = new scala.collection.mutable.ArrayBuffer[Byte](rbsp.length + 8)
    var zeros = 0
    for (b <- rbsp) {
      if (zeros >= 2 && (b & 0xff) <= 3) { out += 3; zeros = 0 }
      out += b
      zeros = if (b == 0) zeros + 1 else 0
    }
    out.toArray
  }

  private def unescape(ebsp: Array[Byte]): Array[Byte] = {
    val out = new scala.collection.mutable.ArrayBuffer[Byte](ebsp.length)
    var i = 0
    while (i < ebsp.length) {
      if (i + 2 < ebsp.length && ebsp(i) == 0 && ebsp(i + 1) == 0 &&
          ebsp(i + 2) == 3) {
        out += 0; out += 0; i += 3
      } else { out += ebsp(i); i += 1 }
    }
    out.toArray
  }

  /** Split an Annex B stream into (nal_ref_idc, nal_unit_type,
    * unescaped payload after the 1-byte NAL header). */
  private def nals(bytes: Array[Byte]): Seq[(Int, Int, Array[Byte])] = {
    val starts = scala.collection.mutable.ArrayBuffer[Int]()
    var i = 0
    while (i + 3 <= bytes.length) {
      if (bytes(i) == 0 && bytes(i + 1) == 0 && bytes(i + 2) == 1) {
        starts += i + 3; i += 3
      } else i += 1
    }
    require(starts.nonEmpty, "no start codes")
    starts.toSeq.zipWithIndex.map { case (s, idx) =>
      var e = if (idx + 1 < starts.length) starts(idx + 1) - 3 else bytes.length
      // trailing_zero_8bits (and the 4-byte start code's zero_byte) are
      // arbitrary-count per Annex B, and the RBSP stop bit guarantees a
      // NAL's real last byte is nonzero — trim ALL trailing zeros
      while (e > s && bytes(e - 1) == 0) e -= 1
      val hdr = bytes(s) & 0xff
      require((hdr & 0x80) == 0, "forbidden_zero_bit set")
      ((hdr >> 5) & 3, hdr & 0x1f, unescape(bytes.slice(s + 1, e)))
    }
  }

  // ------------------------------------------------------------ decode

  private final case class Sps(widthMbs: Int, heightMbs: Int,
      log2MaxFrameNum: Int, pocType: Int, log2MaxPocLsb: Int,
      cropL: Int, cropR: Int, cropT: Int, cropB: Int)

  private def parseSps(p: Array[Byte]): Sps = {
    val r = new R(p)
    val profile = r.u(8)
    r.u(8) // constraint flags + reserved
    r.u(8) // level_idc
    require(r.ue() == 0, "sps id != 0")
    // profiles ≥ 100 insert chroma_format_idc / bit depths / scaling
    // lists here — outside the baseline subset
    require(profile < 100, s"high-profile SPS (profile $profile)")
    val log2MaxFrameNum = r.ue() + 4
    val pocType = r.ue()
    val log2MaxPocLsb = pocType match {
      case 0 => r.ue() + 4
      case 2 => 0
      case t => throw new IllegalArgumentException(s"poc type $t")
    }
    r.ue() // max_num_ref_frames
    r.u(1) // gaps_in_frame_num_value_allowed_flag
    val wMbs = r.ue() + 1
    val hMapUnits = r.ue() + 1
    require(r.u(1) == 1, "field coding unsupported") // frame_mbs_only
    r.u(1) // direct_8x8_inference_flag
    val crop = r.u(1) == 1
    val (cl, cr2, ct, cb) =
      if (crop) (r.ue(), r.ue(), r.ue(), r.ue()) else (0, 0, 0, 0)
    // vui ignored (never read past what we need)
    Sps(wMbs, hMapUnits, log2MaxFrameNum, pocType, log2MaxPocLsb,
      cl, cr2, ct, cb)
  }

  /** The PPS flags that CHANGE the slice-header grammar downstream. */
  private final case class Pps(bottomFieldPocPresent: Boolean,
      deblockControlPresent: Boolean, redundantPicCntPresent: Boolean)

  private def parsePps(p: Array[Byte]): Pps = {
    val r = new R(p)
    require(r.ue() == 0, "pps id != 0")
    require(r.ue() == 0, "pps: sps id != 0")
    require(r.u(1) == 0, "CABAC streams unsupported (documented descope)")
    val bottomPoc = r.u(1) == 1 // bottom_field_pic_order_in_frame_present
    require(r.ue() == 0, "slice groups unsupported")
    r.ue(); r.ue() // num_ref_idx defaults
    r.u(1); r.u(2) // weighted pred
    r.se(); r.se(); r.se() // qp/qs/chroma offsets
    val deblock = r.u(1) == 1 // deblocking_filter_control_present
    r.u(1) // constrained_intra_pred
    val redundant = r.u(1) == 1 // redundant_pic_cnt_present
    Pps(bottomPoc, deblock, redundant)
  }

  /** Decode the first coded picture of an Annex B I_PCM stream; None on
    * anything malformed or outside the documented subset. */
  def decodeIFrame(bytes: Array[Byte]): Option[Frame] = {
    try {
      var sps: Option[Sps] = None
      var pps: Option[Pps] = None
      var luma: Array[Byte] = null
      var cbP: Array[Byte] = null
      var crP: Array[Byte] = null
      var mbsDone = 0
      var totalMbs = -1
      for ((refIdc, typ, p) <- nals(bytes)) typ match {
        case 7 => sps = Some(parseSps(p))
        case 8 => pps = Some(parsePps(p))
        case 5 | 1 if totalMbs < 0 || mbsDone < totalMbs =>
          // (slices after the first picture completes are ignored — the
          // contract is "decode the FIRST coded picture")
          val sp = sps.getOrElse(throw new IllegalArgumentException("no SPS"))
          val pp = pps.getOrElse(throw new IllegalArgumentException("no PPS"))
          if (luma == null) {
            // allocation bound BEFORE sizing planes: spec levels cap
            // MaxFS at 36864 MBs (level 5.2); a malformed SPS dimension
            // would otherwise drive a multi-GB allocation whose
            // OutOfMemoryError escapes the Exception→None guard (and
            // widthMbs·heightMbs·256 could overflow Int)
            require(sp.widthMbs <= 4096 && sp.heightMbs <= 4096 &&
              sp.widthMbs.toLong * sp.heightMbs <= 65536,
              "frame dimensions exceed the level bound")
            totalMbs = sp.widthMbs * sp.heightMbs
            luma = new Array[Byte](totalMbs * 256)
            cbP = new Array[Byte](totalMbs * 64)
            crP = new Array[Byte](totalMbs * 64)
          }
          val r = new R(p)
          val firstMb = r.ue()
          val sliceType = r.ue()
          require(sliceType == 2 || sliceType == 7,
            s"non-I slice type $sliceType unsupported")
          require(r.ue() == 0, "pps id != 0")
          r.u(sp.log2MaxFrameNum) // frame_num
          if (typ == 5) r.ue() // idr_pic_id
          if (sp.pocType == 0) {
            r.u(sp.log2MaxPocLsb) // pic_order_cnt_lsb
            if (pp.bottomFieldPocPresent) r.se() // delta_pic_order_cnt_bottom
          }
          if (pp.redundantPicCntPresent) r.ue() // redundant_pic_cnt
          if (typ == 5) { r.u(1); r.u(1) } // dec_ref_pic_marking (IDR)
          else if (refIdc != 0)
            // non-IDR referenced picture: adaptive marking carries MMCO
            // ops whose grammar is outside the subset — require the flag
            // off (sliding-window marking, the near-universal case)
            require(r.u(1) == 0, "adaptive ref-pic marking unsupported")
          r.se() // slice_qp_delta
          if (pp.deblockControlPresent) {
            val idc = r.ue() // disable_deblocking_filter_idc
            if (idc != 1) { r.se(); r.se() } // alpha/beta offsets
          }
          require(firstMb == mbsDone, "slices out of order")
          var mb = firstMb
          while (mb < totalMbs && r.bitsLeft > 8) {
            require(r.ue() == 25, // I_PCM
              "transform-coded macroblock (documented descope)")
            r.align()
            val mbX = mb % sp.widthMbs
            val mbY = mb / sp.widthMbs
            val lw = sp.widthMbs * 16
            var y = 0
            while (y < 16) {
              var x = 0
              while (x < 16) {
                luma((mbY * 16 + y) * lw + mbX * 16 + x) = r.u8aligned().toByte
                x += 1
              }
              y += 1
            }
            val cw = sp.widthMbs * 8
            var c = 0
            while (c < 2) {
              val plane = if (c == 0) cbP else crP
              var yy = 0
              while (yy < 8) {
                var xx = 0
                while (xx < 8) {
                  plane((mbY * 8 + yy) * cw + mbX * 8 + xx) =
                    r.u8aligned().toByte
                  xx += 1
                }
                yy += 1
              }
              c += 1
            }
            mb += 1
          }
          mbsDone = mb
        case _ => () // SEI/AUD/filler etc. — skipped
      }
      val sp = sps.getOrElse(return None)
      if (mbsDone != totalMbs || totalMbs <= 0) return None
      // frame cropping: units of 2 luma samples horiz and vert (4:2:0
      // frame coding, 7.4.2.1.1)
      val fullW = sp.widthMbs * 16
      val fullH = sp.heightMbs * 16
      val w = fullW - 2 * (sp.cropL + sp.cropR)
      val h = fullH - 2 * (sp.cropT + sp.cropB)
      require(w > 0 && h > 0, "over-cropped")
      if (w == fullW && h == fullH)
        Some(Frame(w, h, luma, cbP, crP))
      else {
        val l2 = new Array[Byte](w * h)
        var y = 0
        while (y < h) {
          System.arraycopy(luma, (y + 2 * sp.cropT) * fullW + 2 * sp.cropL,
            l2, y * w, w)
          y += 1
        }
        val cw = w / 2; val ch = h / 2; val fcw = fullW / 2
        val c2 = Array(new Array[Byte](cw * ch), new Array[Byte](cw * ch))
        for (c <- 0 to 1) {
          val src = if (c == 0) cbP else crP
          var yy = 0
          while (yy < ch) {
            System.arraycopy(src, (yy + sp.cropT) * fcw + sp.cropL,
              c2(c), yy * cw, cw)
            yy += 1
          }
        }
        Some(Frame(w, h, l2, c2(0), c2(1)))
      }
    } catch { case _: Exception => None }
  }

  // ------------------------------------------------------------ encode

  private def nal(refIdc: Int, typ: Int, rbsp: Array[Byte]): Array[Byte] =
    Array[Byte](0, 0, 0, 1, ((refIdc << 5) | typ).toByte) ++ escape(rbsp)

  /** Encode one 4:2:0 frame as a conformant Annex B I_PCM IDR stream
    * (SPS + PPS + one IDR slice). Width/height may be any even sizes —
    * non-multiples of 16 are carried via frame cropping. */
  def encodeIFrame(width: Int, height: Int, luma: Array[Byte],
      cb: Array[Byte], cr: Array[Byte]): Array[Byte] = {
    require(width > 0 && height > 0 && width % 2 == 0 && height % 2 == 0,
      "4:2:0 needs even dimensions")
    require(luma.length == width * height, "luma size mismatch")
    require(cb.length == width * height / 4 && cr.length == cb.length,
      "chroma size mismatch")
    val wMbs = (width + 15) / 16
    val hMbs = (height + 15) / 16
    val cropR = (wMbs * 16 - width) / 2
    val cropB = (hMbs * 16 - height) / 2

    val sps = new W
    sps.u(66, 8) // profile_idc: baseline
    sps.u(0xc0, 8) // constraint_set0+1, reserved zeros
    sps.u(30, 8) // level_idc 3.0
    sps.ue(0) // sps id
    sps.ue(0) // log2_max_frame_num_minus4
    sps.ue(2) // pic_order_cnt_type
    sps.ue(0) // max_num_ref_frames
    sps.u(0, 1) // gaps_in_frame_num
    sps.ue(wMbs - 1)
    sps.ue(hMbs - 1)
    sps.u(1, 1) // frame_mbs_only
    sps.u(0, 1) // direct_8x8_inference
    if (cropR > 0 || cropB > 0) {
      sps.u(1, 1); sps.ue(0); sps.ue(cropR); sps.ue(0); sps.ue(cropB)
    } else sps.u(0, 1)
    sps.u(0, 1) // vui_parameters_present
    sps.trailing()

    val pps = new W
    pps.ue(0); pps.ue(0) // pps id, sps id
    pps.u(0, 1) // CAVLC
    pps.u(0, 1) // bottom_field_poc
    pps.ue(0) // one slice group
    pps.ue(0); pps.ue(0) // ref idx defaults
    pps.u(0, 1); pps.u(0, 2) // weighted pred
    pps.se(0); pps.se(0); pps.se(0) // qp, qs, chroma offset
    pps.u(0, 1); pps.u(0, 1); pps.u(0, 1) // deblock/constrained/redundant
    pps.trailing()

    val sl = new W
    sl.ue(0) // first_mb_in_slice
    sl.ue(7) // slice_type: I (all slices)
    sl.ue(0) // pps id
    sl.u(0, 4) // frame_num
    sl.ue(0) // idr_pic_id
    sl.u(0, 1); sl.u(0, 1) // dec_ref_pic_marking
    sl.se(0) // slice_qp_delta
    var mb = 0
    while (mb < wMbs * hMbs) {
      sl.ue(25) // I_PCM
      sl.align0()
      val mbX = mb % wMbs; val mbY = mb / wMbs
      var y = 0
      while (y < 16) {
        var x = 0
        while (x < 16) {
          // padded rows/cols replicate the edge sample (any value is
          // legal; replication keeps the stream deterministic)
          val sy = math.min(height - 1, mbY * 16 + y)
          val sx = math.min(width - 1, mbX * 16 + x)
          sl.byte(luma(sy * width + sx) & 0xff)
          x += 1
        }
        y += 1
      }
      val cw = width / 2; val chh = height / 2
      var c = 0
      while (c < 2) {
        val plane = if (c == 0) cb else cr
        var yy = 0
        while (yy < 8) {
          var xx = 0
          while (xx < 8) {
            val sy = math.min(chh - 1, mbY * 8 + yy)
            val sx = math.min(cw - 1, mbX * 8 + xx)
            sl.byte(plane(sy * cw + sx) & 0xff)
            xx += 1
          }
          yy += 1
        }
        c += 1
      }
      mb += 1
    }
    sl.trailing()

    nal(3, 7, sps.result()) ++ nal(3, 8, pps.result()) ++
      nal(3, 5, sl.result())
  }

  // ------------------------------------------------- MP4 (avcC) layout

  /** Split an Annex B stream into the MP4 carriage form (ISO 14496-15):
    * an `avcC` AVCDecoderConfigurationRecord holding the SPS/PPS
    * parameter sets, and the frame as ONE sample of 4-byte
    * length-prefixed slice NALs. */
  def toAvcc(annexB: Array[Byte]): (Array[Byte], Array[Byte]) = {
    val ns = nals(annexB)
    val sps = ns.filter(_._2 == 7).map(_._3)
    val pps = ns.filter(_._2 == 8).map(_._3)
    val slices = ns.filter(n => n._2 == 5 || n._2 == 1)
    require(sps.nonEmpty && pps.nonEmpty && slices.nonEmpty,
      "need SPS+PPS+slice NALs")
    val cfg = new scala.collection.mutable.ArrayBuffer[Byte]()
    // configurationVersion, profile, compat, level from the first SPS
    cfg += 1; cfg += sps.head(0); cfg += sps.head(1); cfg += sps.head(2)
    cfg += 0xff.toByte // reserved(6) + lengthSizeMinusOne = 3
    cfg += (0xe0 | sps.length).toByte // reserved(3) + numOfSPS
    for (s <- sps) {
      val e = escape(s)
      val len = e.length + 1 // + the re-attached NAL header byte
      cfg += (len >> 8).toByte; cfg += len.toByte
      cfg += 0x67; cfg ++= e
    }
    cfg += pps.length.toByte
    for (p <- pps) {
      val e = escape(p)
      val len = e.length + 1
      cfg += (len >> 8).toByte; cfg += len.toByte
      cfg += 0x68; cfg ++= e
    }
    val sample = new scala.collection.mutable.ArrayBuffer[Byte]()
    for ((refIdc, typ, payload) <- slices) {
      val e = escape(payload)
      val len = e.length + 1
      sample += (len >>> 24).toByte; sample += (len >>> 16).toByte
      sample += (len >>> 8).toByte; sample += len.toByte
      sample += ((refIdc << 5) | typ).toByte; sample ++= e
    }
    (cfg.toArray, sample.toArray)
  }

  /** Decode one MP4 sample (4-byte length-prefixed NALs) under an
    * `avcC` configuration record: the parameter sets and slices are
    * re-framed as Annex B and decoded by [[decodeIFrame]]. None on
    * malformed config/sample or non-4-byte length fields. */
  def decodeAvccSample(avcC: Array[Byte], sample: Array[Byte]): Option[Frame] = {
    try {
      require(avcC.length >= 7 && avcC(0) == 1, "bad avcC")
      require((avcC(4) & 3) == 3, "only 4-byte NAL lengths supported")
      val out = new scala.collection.mutable.ArrayBuffer[Byte]()
      var p = 5
      val nSps = avcC(p) & 0x1f; p += 1
      for (_ <- 0 until nSps) {
        val len = ((avcC(p) & 0xff) << 8) | (avcC(p + 1) & 0xff); p += 2
        out ++= Array[Byte](0, 0, 0, 1); out ++= avcC.slice(p, p + len)
        p += len
      }
      val nPps = avcC(p) & 0xff; p += 1
      for (_ <- 0 until nPps) {
        val len = ((avcC(p) & 0xff) << 8) | (avcC(p + 1) & 0xff); p += 2
        out ++= Array[Byte](0, 0, 0, 1); out ++= avcC.slice(p, p + len)
        p += len
      }
      var q = 0
      while (q + 4 <= sample.length) {
        val len = ((sample(q) & 0xff) << 24) | ((sample(q + 1) & 0xff) << 16) |
          ((sample(q + 2) & 0xff) << 8) | (sample(q + 3) & 0xff)
        require(len > 0 && q + 4 + len <= sample.length, "bad NAL length")
        out ++= Array[Byte](0, 0, 0, 1)
        out ++= sample.slice(q + 4, q + 4 + len)
        q += 4 + len
      }
      require(q == sample.length, "trailing bytes after last NAL")
      decodeIFrame(out.toArray)
    } catch { case _: Exception => None }
  }

  def isAnnexB(bytes: Array[Byte]): Boolean =
    bytes.length >= 5 &&
      ((bytes(0) == 0 && bytes(1) == 0 && bytes(2) == 1) ||
        (bytes(0) == 0 && bytes(1) == 0 && bytes(2) == 0 && bytes(3) == 1))
}
