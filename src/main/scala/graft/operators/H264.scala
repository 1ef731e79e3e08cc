package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** From-scratch H.264 sequence-parameter-set codec face — the REAL
  * codec-level metadata a video curation pipeline reads (profile, level,
  * coded resolution) without touching entropy-coded picture data: the
  * SPS is plain Exp-Golomb bitstream structure (ISO/IEC 14496-10
  * §7.3.2.1.1 `seq_parameter_set_data`, public), carried inside the MP4
  * sample description's AVCDecoderConfigurationRecord (ISO/IEC 14496-15
  * §5.2.4 `avcC`). This shrinks the last gap past the container walk
  * (`Multimodal.parseMp4SampleTables` reads the sample TABLES; this
  * reads into the codec configuration itself) while keeping full
  * H.264 slice decode honestly out of scope.
  *
  * Both directions are implemented — a bit/Exp-Golomb writer
  * synthesizes fixture SPS (including 14496-10 §7.4.1 emulation-
  * prevention escaping) and the reader parses any baseline/main-profile
  * SPS — so the parser is exercised against real escaped bitstreams,
  * not just its own output shape. Scaling-list and VUI-bearing streams
  * quarantine (None) rather than misparse; high-profile (≥ 100)
  * chroma/bit-depth fields are parsed through.
  *
  * Scale shape: map-only per-row byte walking with bounds-checked reads
  * (corrupt → None, the repo-wide quarantine channel) — embarrassingly
  * parallel like every media decoder here.
  */
object H264 {

  /** Parameters of a synthesized SPS. Crop offsets are in chroma crop
    * units — CropUnitX/Y follow §7.4.2.1.1 from chroma_format_idc with
    * frame_mbs_only = 1 (the builder's fixed layout); fixtures stay at
    * 4:2:0 (CropUnit = 2 px), the non-default formats exist so the
    * parser's crop-unit math is exercised against real bitstreams.
    */
  case class SpsSpec(
      profileIdc: Int, levelIdc: Int,
      widthMbsMinus1: Int, heightUnitsMinus1: Int,
      cropRight: Int, cropBottom: Int,
      chromaFormatIdc: Int = 1) {
    /** (CropUnitX, CropUnitY) with frame_mbs_only = 1 (§7.4.2.1.1):
      * ChromaArrayType 0 crops in luma samples; else SubWidthC/SubHeightC.
      */
    def cropUnits: (Int, Int) = chromaFormatIdc match {
      case 0 => (1, 1) // monochrome: ChromaArrayType 0
      case 2 => (2, 1) // 4:2:2
      case 3 => (1, 1) // 4:4:4 (separate_colour_plane = 0)
      case _ => (2, 2) // 4:2:0
    }
    def codedWidth: Int = (widthMbsMinus1 + 1) * 16 - cropUnits._1 * cropRight
    def codedHeight: Int = (heightUnitsMinus1 + 1) * 16 - cropUnits._2 * cropBottom
  }

  /** Decoded SPS facts. The trailing fields are the slice-header
    * parsing CONTEXT (§7.3.3 reads frame_num/poc_lsb with bit widths
    * the SPS defines); defaults match the builder's fixed layout so
    * positional equality in older call sites is unchanged.
    */
  case class SpsInfo(
      profileIdc: Int, levelIdc: Int, width: Int, height: Int,
      frameNumBits: Int = 4, pocType: Int = 0, pocLsbBits: Int = 4)

  // ---- bit-level plumbing ------------------------------------------------

  private final class BitWriter {
    private val bytes = scala.collection.mutable.ArrayBuffer.empty[Byte]
    private var cur = 0
    private var nBits = 0
    def putBit(b: Int): Unit = {
      cur = (cur << 1) | (b & 1); nBits += 1
      if (nBits == 8) { bytes += cur.toByte; cur = 0; nBits = 0 }
    }
    def putBits(v: Int, n: Int): Unit =
      (n - 1 to 0 by -1).foreach(i => putBit((v >>> i) & 1))
    /** ue(v): Exp-Golomb — leadingZeroBits zeros, 1, then v+1−2^lz. */
    def putUe(v: Int): Unit = {
      require(v >= 0)
      val code = v + 1
      val lz = 31 - Integer.numberOfLeadingZeros(code)
      putBits(0, lz); putBits(code, lz + 1)
    }
    /** se(v): signed Exp-Golomb — v maps to codeNum 2|v|−(v>0 ? 1 : 0). */
    def putSe(v: Int): Unit =
      putUe(if (v > 0) 2 * v - 1 else -2 * v)
    /** rbsp_trailing_bits: stop bit + byte-align with zeros. */
    def finish(): Array[Byte] = {
      putBit(1)
      while (nBits != 0) putBit(0)
      bytes.toArray
    }
  }

  private final class BitReader(b: Array[Byte]) {
    private var pos = 0 // bit cursor
    def remaining: Int = b.length * 8 - pos
    def readBit(): Int = {
      val v = (b(pos >> 3) >> (7 - (pos & 7))) & 1
      pos += 1; v
    }
    def readBits(n: Int): Option[Int] =
      if (remaining < n) None
      else Some((0 until n).foldLeft(0)((acc, _) => (acc << 1) | readBit()))
    def readUe(): Option[Int] = {
      var lz = 0
      var found = false
      while (!found && remaining > 0) {
        if (readBit() == 1) found = true
        else {
          lz += 1
          // > 30 (not 31): (1 << 31) − 1 + rest overflows Int, and no
          // field in a real SPS approaches 2³¹ — malformed, not data
          if (lz > 30) return None
        }
      }
      // a stream exhausted before the marker bit is TRUNCATED, not 0
      if (!found) None
      else readBits(lz).map(rest => (1 << lz) - 1 + rest)
    }
    /** se(v): codeNum k → (−1)^(k+1)·⌈k/2⌉ (14496-10 §9.1.1). */
    def readSe(): Option[Int] =
      readUe().map(k => if (k % 2 == 1) (k + 1) / 2 else -(k / 2))
    // bit index of the rbsp_stop_one_bit — the LAST set bit; §7.2's
    // more_rbsp_data() is exactly "cursor strictly before it"
    private lazy val lastOneBit: Int = {
      var i = b.length * 8 - 1
      while (i >= 0 && ((b(i >> 3) >> (7 - (i & 7))) & 1) == 0) i -= 1
      i
    }
    def moreRbspData: Boolean = pos < lastOneBit
  }

  /** 14496-10 §7.4.1: insert emulation_prevention_three_byte — after two
    * consecutive 0x00 payload bytes, a following byte ≤ 0x03 is escaped
    * with 0x03.
    */
  private[graft] def escapeRbsp(rbsp: Array[Byte]): Array[Byte] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
    var zeros = 0
    rbsp.foreach { byte =>
      if (zeros >= 2 && (byte & 0xff) <= 3) { out += 3; zeros = 0 }
      out += byte
      zeros = if (byte == 0) zeros + 1 else 0
    }
    out.toArray
  }

  /** The inverse: strip emulation-prevention bytes (00 00 03 → 00 00). */
  private[graft] def unescapeRbsp(nal: Array[Byte]): Array[Byte] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
    var i = 0
    while (i < nal.length) {
      if (i + 2 < nal.length && nal(i) == 0 && nal(i + 1) == 0 &&
          nal(i + 2) == 3) {
        out += 0; out += 0; i += 3
      } else { out += nal(i); i += 1 }
    }
    out.toArray
  }

  /** Synthesize a complete SPS NAL (header byte 0x67 + escaped RBSP):
    * pic_order_cnt_type 0, frame_mbs_only 1, no VUI, left/top crop 0.
    */
  def buildSps(s: SpsSpec): Array[Byte] = {
    val w = new BitWriter
    w.putBits(s.profileIdc, 8)
    w.putBits(0, 8) // constraint flags + reserved
    w.putBits(s.levelIdc, 8)
    w.putUe(0) // seq_parameter_set_id
    // the SAME explicit profile list as parseSps — a `>= 100` gate here
    // would omit the chroma block for profiles 44/83/86 (which sit below
    // 100 and carry it) and silently misparse on round-trip
    if (extendedProfileIdcs(s.profileIdc)) {
      w.putUe(s.chromaFormatIdc)
      if (s.chromaFormatIdc == 3) w.putBit(0) // separate_colour_plane
      w.putUe(0); w.putUe(0) // bit_depth_{luma,chroma}_minus8
      w.putBit(0) // qpprime_y_zero_transform_bypass
      w.putBit(0) // seq_scaling_matrix_present
    } else require(s.chromaFormatIdc == 1,
      s"profile ${s.profileIdc} cannot carry chroma_format_idc ${s.chromaFormatIdc}")
    w.putUe(0) // log2_max_frame_num_minus4
    w.putUe(0) // pic_order_cnt_type = 0
    w.putUe(0) //   log2_max_pic_order_cnt_lsb_minus4
    w.putUe(1) // max_num_ref_frames
    w.putBit(0) // gaps_in_frame_num_value_allowed
    w.putUe(s.widthMbsMinus1)
    w.putUe(s.heightUnitsMinus1)
    w.putBit(1) // frame_mbs_only_flag
    w.putBit(0) // direct_8x8_inference
    val cropping = s.cropRight != 0 || s.cropBottom != 0
    w.putBit(if (cropping) 1 else 0)
    if (cropping) {
      w.putUe(0); w.putUe(s.cropRight)
      w.putUe(0); w.putUe(s.cropBottom)
    }
    w.putBit(0) // vui_parameters_present
    Array(0x67.toByte) ++ escapeRbsp(w.finish())
  }

  /** The profile_idc values that carry the chroma/bit-depth block —
    * 14496-10 §7.3.2.1.1's EXPLICIT list, not `>= 100`: profiles 44
    * (CAVLC 4:4:4 intra), 83/86 (scalable) sit BELOW 100 and carry it.
    */
  private[graft] val extendedProfileIdcs: Set[Int] =
    Set(100, 110, 122, 244, 44, 83, 86, 118, 128, 138, 139, 134, 135)

  /** Parse a SPS NAL. None on truncation, malformed codes, scaling
    * matrices (out of scope by contract), or non-SPS NAL types.
    */
  def parseSps(nal: Array[Byte]): Option[SpsInfo] = {
    if (nal.length < 4 || (nal(0) & 0x1f) != 7) return None
    val r = new BitReader(unescapeRbsp(nal.drop(1)))
    for {
      profile <- r.readBits(8)
      _ <- r.readBits(8)
      level <- r.readBits(8)
      _ <- r.readUe() // sps_id
      // (chroma_format_idc, separate_colour_plane_flag); profiles
      // outside the extended list imply 4:2:0 (chroma 1, no sep flag)
      chromaSep <-
        if (extendedProfileIdcs(profile)) for {
          chroma <- r.readUe()
          _ <- if (chroma <= 3) Some(0) else None // malformed: quarantine
          sep <- if (chroma == 3) r.readBits(1) else Some(0)
          _ <- r.readUe(); _ <- r.readUe()
          _ <- r.readBits(1)
          scaling <- r.readBits(1)
          ok <- if (scaling == 1) None else Some((chroma, sep)) // quarantine
        } yield ok
        else Some((1, 0))
      lmfn <- r.readUe() // log2_max_frame_num_minus4
      poc <- r.readUe()
      lpoc <- poc match {
        case 0 => r.readUe() // log2_max_pic_order_cnt_lsb_minus4
        case 2 => Some(-4) // no lsb field (bits resolve to 0 below)
        case _ => None // type 1's ref-offset list: quarantine
      }
      _ <- r.readUe() // max_num_ref_frames
      _ <- r.readBits(1)
      wMbs <- r.readUe()
      hUnits <- r.readUe()
      fmo <- r.readBits(1)
      _ <- if (fmo == 0) r.readBits(1) else Some(0) // mb_adaptive
      _ <- r.readBits(1) // direct_8x8
      cropFlag <- r.readBits(1)
      crops <-
        if (cropFlag == 1) for {
          l <- r.readUe(); rr <- r.readUe()
          t <- r.readUe(); bb <- r.readUe()
        } yield (l, rr, t, bb)
        else Some((0, 0, 0, 0))
    } yield {
      val (cl, cr, ct, cb) = crops
      // §7.4.2.1.1: ChromaArrayType = separate_colour_plane ? 0 : chroma;
      // type 0 crops in luma samples (CropUnitX=1, CropUnitY=2−fmo),
      // else CropUnitX=SubWidthC, CropUnitY=SubHeightC·(2−fmo) — the old
      // hard-coded 4:2:0 units misread mono/4:2:2/4:4:4 crops
      val (chroma, sep) = chromaSep
      val chromaArrayType = if (sep == 1) 0 else chroma
      val (subW, subH) = chromaArrayType match {
        case 1 => (2, 2)
        case 2 => (2, 1)
        case _ => (1, 1) // 0 (luma-sample crop) and 3 (4:4:4)
      }
      val cropUnitX = if (chromaArrayType == 0) 1 else subW
      val cropUnitY =
        (if (chromaArrayType == 0) 1 else subH) * (2 - fmo)
      SpsInfo(profile, level,
        (wMbs + 1) * 16 - cropUnitX * (cl + cr),
        (2 - fmo) * (hUnits + 1) * 16 - cropUnitY * (ct + cb),
        frameNumBits = lmfn + 4, pocType = poc, pocLsbBits = lpoc + 4)
    }
  }

  // ---- picture parameter set (§7.3.2.2) ----------------------------------

  /** Parameters of a synthesized PPS. Multi-slice-group fixtures use
    * map type 0 (interleaved run lengths, 9 per group).
    */
  case class PpsSpec(
      entropyCabac: Boolean, numSliceGroupsMinus1: Int,
      numRefIdxL0: Int, numRefIdxL1: Int,
      weightedPred: Boolean, weightedBipredIdc: Int,
      initQpMinus26: Int, chromaQpOffset: Int,
      deblockingControl: Boolean, constrainedIntraPred: Boolean,
      redundantPicCntPresent: Boolean)

  /** Decoded PPS facts — the codec-complexity signals a curation
    * pipeline buckets by (CABAC@high vs CAVLC@baseline are distinct
    * decode-compute classes; slice-group count flags FMO streams many
    * hardware decoders refuse).
    */
  case class PpsInfo(
      ppsId: Int, spsId: Int, entropyCabac: Boolean, numSliceGroups: Int,
      numRefIdxL0: Int, numRefIdxL1: Int,
      weightedPred: Boolean, weightedBipredIdc: Int,
      initQp: Int, chromaQpOffset: Int,
      deblockingControl: Boolean, constrainedIntraPred: Boolean,
      redundantPicCntPresent: Boolean)

  /** Synthesize a complete PPS NAL (header byte 0x68 + escaped RBSP):
    * pps_id/sps_id 0, no bottom-field ordering, qs offset 0, no
    * high-profile tail.
    */
  def buildPps(p: PpsSpec): Array[Byte] = {
    val w = new BitWriter
    w.putUe(0) // pic_parameter_set_id
    w.putUe(0) // seq_parameter_set_id
    w.putBit(if (p.entropyCabac) 1 else 0)
    w.putBit(0) // bottom_field_pic_order_in_frame_present
    w.putUe(p.numSliceGroupsMinus1)
    if (p.numSliceGroupsMinus1 > 0) {
      w.putUe(0) // slice_group_map_type 0: interleaved
      (0 to p.numSliceGroupsMinus1).foreach(_ => w.putUe(9)) // run_length_minus1
    }
    w.putUe(p.numRefIdxL0 - 1); w.putUe(p.numRefIdxL1 - 1)
    w.putBit(if (p.weightedPred) 1 else 0)
    w.putBits(p.weightedBipredIdc, 2)
    w.putSe(p.initQpMinus26)
    w.putSe(0) // pic_init_qs_minus26
    w.putSe(p.chromaQpOffset)
    w.putBit(if (p.deblockingControl) 1 else 0)
    w.putBit(if (p.constrainedIntraPred) 1 else 0)
    w.putBit(if (p.redundantPicCntPresent) 1 else 0)
    Array(0x68.toByte) ++ escapeRbsp(w.finish())
  }

  /** Parse a PPS NAL (§7.3.2.2). None on truncation, malformed codes,
    * non-PPS NAL types, slice-group map type 6 (explicit per-unit map —
    * out of scope like VUI), or scaling matrices in the high-profile
    * tail (the SPS contract). Slice-group map types 0–5 are walked;
    * the optional tail (transform_8x8 + second chroma offset) is
    * detected via more_rbsp_data().
    */
  def parsePps(nal: Array[Byte]): Option[PpsInfo] = {
    if (nal.length < 2 || (nal(0) & 0x1f) != 8) return None
    val r = new BitReader(unescapeRbsp(nal.drop(1)))
    for {
      ppsId <- r.readUe()
      spsId <- r.readUe()
      entropy <- r.readBits(1)
      _ <- r.readBits(1) // bottom_field_pic_order_in_frame_present
      groupsM1 <- r.readUe()
      _ <-
        if (groupsM1 > 0) for {
          mapType <- r.readUe()
          ok <- mapType match {
            case 0 => // run_length_minus1 per group
              (0 to groupsM1).foldLeft(Option(0))((a, _) => a.flatMap(_ => r.readUe()))
            case 2 => // top_left + bottom_right per group (groupsM1 entries)
              (0 until 2 * groupsM1).foldLeft(Option(0))((a, _) => a.flatMap(_ => r.readUe()))
            case 3 | 4 | 5 => for {
              _ <- r.readBits(1) // slice_group_change_direction_flag
              x <- r.readUe() // slice_group_change_rate_minus1
            } yield x
            case _ => None // type 6 explicit map, or malformed: quarantine
          }
        } yield ok
        else Some(0)
      l0 <- r.readUe(); l1 <- r.readUe()
      wp <- r.readBits(1)
      wbi <- r.readBits(2)
      initQp <- r.readSe()
      _ <- r.readSe() // pic_init_qs_minus26
      cqo <- r.readSe()
      dfc <- r.readBits(1)
      cip <- r.readBits(1)
      rpc <- r.readBits(1)
      _ <-
        if (r.moreRbspData) for {
          _ <- r.readBits(1) // transform_8x8_mode_flag
          scaling <- r.readBits(1)
          ok <- if (scaling == 1) None // quarantine, as in parseSps
            else r.readSe() // second_chroma_qp_index_offset
        } yield ok
        else Some(0)
    } yield PpsInfo(ppsId, spsId, entropy == 1, groupsM1 + 1,
      l0 + 1, l1 + 1, wp == 1, wbi, 26 + initQp, cqo,
      dfc == 1, cip == 1, rpc == 1)
  }

  // ---- supplemental enhancement information (§7.3.2.3) -------------------

  /** Parameters of a synthesized SEI NAL: one recovery_point message
    * (payload type 6 — the random-access signal players seek by) and
    * optionally one user_data_unregistered message (type 5, 16-byte
    * UUID + free bytes — the encoder-fingerprint payload curation
    * pipelines read to bucket by encoder).
    */
  case class SeiSpec(
      recoveryFrameCnt: Int, exactMatch: Boolean, brokenLink: Boolean,
      userUuid: Option[Array[Byte]]) // 16 bytes when present

  /** One decoded SEI message. Fields not applicable to the payload
    * type are None (typed NULLs in the table face).
    */
  case class SeiMessage(
      seiType: Int, payloadSize: Int, uuidHex: Option[String],
      recoveryFrameCnt: Option[Int], exactMatch: Option[Boolean],
      brokenLink: Option[Boolean])

  /** Synthesize a complete SEI NAL (header 0x06 + escaped RBSP): the
    * §7.3.2.3 message chain — ff-escaped type/size bytes, payload,
    * rbsp trailing 0x80 — through the same escaping writer as SPS/PPS.
    */
  def buildSei(s: SeiSpec): Array[Byte] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
    def putMsg(tpe: Int, payload: Array[Byte]): Unit = {
      var t = tpe
      while (t >= 255) { out += 0xff.toByte; t -= 255 }
      out += t.toByte
      var n = payload.length
      while (n >= 255) { out += 0xff.toByte; n -= 255 }
      out += n.toByte
      out ++= payload
    }
    val w = new BitWriter
    w.putUe(s.recoveryFrameCnt)
    w.putBit(if (s.exactMatch) 1 else 0)
    w.putBit(if (s.brokenLink) 1 else 0)
    w.putBits(0, 2) // changing_slice_group_idc
    putMsg(6, w.finish())
    s.userUuid.foreach { u =>
      require(u.length == 16, "uuid_iso_iec_11578 is 16 bytes")
      putMsg(5, u ++ "graft".getBytes("US-ASCII"))
    }
    out += 0x80.toByte // rbsp_trailing_bits
    Array(0x06.toByte) ++ escapeRbsp(out.toArray)
  }

  /** Parse a SEI NAL's message chain. Recovery_point payloads decode
    * fully; user_data_unregistered surfaces its UUID; other types pass
    * through as (type, size) rows. None on truncation, a malformed
    * message, or a missing trailing marker — quarantine over misparse.
    */
  def parseSei(nal: Array[Byte]): Option[Seq[SeiMessage]] = {
    if (nal.length < 2 || (nal(0) & 0x1f) != 6) return None
    val b = unescapeRbsp(nal.drop(1))
    // rbsp_trailing_bits: the LAST nonzero byte is the stop-bit marker
    // (sei_message ends byte-aligned, so it is exactly 0x80); §7.2's
    // more_rbsp_data() ≡ cursor strictly before it. Matching "0x80 at
    // message start" instead would misread a valid payloadType-128
    // message as the trailer and silently drop the rest of the chain.
    var last = b.length - 1
    while (last >= 0 && b(last) == 0) last -= 1
    if (last < 0 || (b(last) & 0xff) != 0x80) return None
    val msgs = scala.collection.mutable.ArrayBuffer.empty[SeiMessage]
    var i = 0
    while (i < last) {
      var tpe = 0
      while (i < last && (b(i) & 0xff) == 0xff) { tpe += 255; i += 1 }
      if (i >= last) return None
      tpe += b(i) & 0xff; i += 1
      var size = 0
      while (i < last && (b(i) & 0xff) == 0xff) { size += 255; i += 1 }
      if (i >= last) return None
      size += b(i) & 0xff; i += 1
      if (i + size > last) return None // payload may not swallow the marker
      val payload = b.slice(i, i + size); i += size
      val msg = tpe match {
        case 5 if size >= 16 =>
          SeiMessage(5, size,
            Some(payload.take(16).map(x => f"${x & 0xff}%02x").mkString),
            None, None, None)
        case 6 =>
          val r = new BitReader(payload)
          (for {
            cnt <- r.readUe()
            em <- r.readBits(1)
            bl <- r.readBits(1)
            _ <- r.readBits(2)
          } yield SeiMessage(6, size, None, Some(cnt),
            Some(em == 1), Some(bl == 1))) match {
            case Some(m) => m
            case None => return None
          }
        case _ => SeiMessage(tpe, size, None, None, None, None)
      }
      msgs += msg
    }
    Some(msgs.toSeq) // i == last: the chain ended exactly at the marker
  }

  // ---- slice headers (§7.3.3) ---------------------------------------------

  /** Parameters of a synthesized slice NAL. `sliceType` per Table 7-6
    * (0=P, 1=B, 2=I; +5 for the all-slices-of-picture variants). The
    * fixture is HEADER-ONLY: the bitstream ends after the POC field
    * with rbsp trailing bits — the parser reads exactly that prefix by
    * contract (entropy-coded slice DATA stays out of scope, as stated
    * for the SPS face).
    */
  case class SliceSpec(
      idr: Boolean, sliceType: Int, frameNum: Int, pocLsb: Int,
      idrPicId: Int = 0, firstMb: Int = 0)

  /** Decoded slice-header facts — the per-picture GOP signal
    * (slice_type distribution = the real I/P/B cadence the sample-table
    * face could only approximate from stss keyframe flags).
    */
  case class SliceInfo(
      nalType: Int, firstMb: Int, sliceType: Int, frameNum: Int,
      pocLsb: Option[Int], idrPicId: Option[Int])

  /** Synthesize a slice NAL under the builder's SPS/PPS layout
    * (log2_max_frame_num = 4 bits, poc type 0 with 4 lsb bits, pps 0):
    * header byte 0x65 (IDR, nal_ref_idc 3) or 0x41 (non-IDR ref).
    */
  def buildSlice(s: SliceSpec): Array[Byte] = {
    val w = new BitWriter
    w.putUe(s.firstMb)
    w.putUe(s.sliceType)
    w.putUe(0) // pic_parameter_set_id
    w.putBits(s.frameNum, 4)
    if (s.idr) w.putUe(s.idrPicId)
    w.putBits(s.pocLsb, 4)
    Array((if (s.idr) 0x65 else 0x41).toByte) ++ escapeRbsp(w.finish())
  }

  /** Parse a slice header's leading fields (§7.3.3) under the given
    * SPS context: first_mb_in_slice, slice_type, frame_num (SPS-width
    * bits), idr_pic_id (IDR only), pic_order_cnt_lsb (poc type 0 only).
    * None on truncation, non-slice NAL types, slice_type > 9, or an
    * IDR whose slice_type is not an I variant (2/4/7/9 per §7.4.3) —
    * quarantine over misparse, as everywhere in this family.
    */
  def parseSliceHeader(nal: Array[Byte], sps: SpsInfo): Option[SliceInfo] = {
    if (nal.length < 2) return None
    val nalType = nal(0) & 0x1f
    if (nalType != 1 && nalType != 5) return None
    val r = new BitReader(unescapeRbsp(nal.drop(1)))
    for {
      firstMb <- r.readUe()
      st <- r.readUe()
      _ <- if (st <= 9) Some(0) else None // Table 7-6 domain
      _ <- if (nalType == 5 && !Set(2, 4, 7, 9)(st)) None else Some(0)
      _ <- r.readUe() // pic_parameter_set_id
      frameNum <- r.readBits(sps.frameNumBits)
      idrPicId <-
        if (nalType == 5) r.readUe().map(x => Option(x)) else Some(None)
      pocLsb <-
        if (sps.pocType == 0) r.readBits(sps.pocLsbBits).map(x => Option(x))
        else Some(None)
    } yield SliceInfo(nalType, firstMb, st, frameNum, pocLsb, idrPicId)
  }

  /** The id → GOP rule, shared by the synthesizer and the oracle's
    * closed forms: 3 + id%4 slices, sample 0 an IDR I-slice (type 7,
    * idr_pic_id = id%8), then a B on (id+j)%3==0, an in-stream I on
    * (id+j)%5==0, P otherwise; frame_num/poc_lsb follow j.
    */
  def sliceSpecsFor(id: Long): Seq[SliceSpec] = {
    val n = 3 + (id % 4).toInt
    (0 until n).map { j =>
      if (j == 0)
        SliceSpec(idr = true, sliceType = 7, frameNum = 0, pocLsb = 0,
          idrPicId = (id % 8).toInt)
      else
        SliceSpec(idr = false,
          sliceType =
            if ((id + j) % 3 == 0) 1
            else if ((id + j) % 5 == 0) 2
            else 0,
          frameNum = j % 16, pocLsb = (2 * j) % 16)
    }
  }

  // ---- MP4 carriage ------------------------------------------------------

  private def be16(v: Int): Array[Byte] =
    Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
  private def be32(v: Int): Array[Byte] =
    Array((v >>> 24).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
  private def box(tpe: String, payload: Array[Byte]): Array[Byte] =
    be32(8 + payload.length) ++ tpe.getBytes("US-ASCII") ++ payload

  /** Minimal well-formed MP4 carrying ONE avc1 video track whose avcC
    * holds the given SPS (14496-15 §5.2.4; lengthSizeMinusOne = 3, no
    * PPS — a header-only metadata stream like buildMp4Samples).
    */
  def buildAvcMp4(sps: Array[Byte], width: Int, height: Int,
      pps: Seq[Array[Byte]] = Nil,
      sei: Option[Array[Byte]] = None,
      slices: Seq[Array[Byte]] = Nil): Array[Byte] = {
    val avcc = box("avcC",
      Array(1.toByte, sps(1), sps(2), sps(3), 0xff.toByte, 0xe1.toByte) ++
        be16(sps.length) ++ sps ++ Array(pps.length.toByte) ++
        pps.flatMap(p => be16(p.length) ++ p))
    val avc1 = box("avc1",
      new Array[Byte](6) ++ be16(1) ++ // reserved + data_ref_idx
        new Array[Byte](16) ++ // pre_defined/reserved
        be16(width) ++ be16(height) ++
        be32(0x00480000) ++ be32(0x00480000) ++ // 72 dpi
        be32(0) ++ be16(1) ++ // reserved + frame_count
        new Array[Byte](32) ++ // compressorname
        be16(24) ++ be16(0xffff) ++ // depth + pre_defined(-1)
        avcc)
    val stsd = box("stsd", Array[Byte](0, 0, 0, 0) ++ be32(1) ++ avc1)
    val stbl = box("stbl", stsd)
    val minf = box("minf", stbl)
    val hdlr = box("hdlr",
      Array[Byte](0, 0, 0, 0) ++ be32(0) ++
        "vide".getBytes("US-ASCII") ++ new Array[Byte](12) ++
        Array[Byte](0))
    val mdhd = box("mdhd",
      Array[Byte](0, 0, 0, 0) ++ be32(0) ++ be32(0) ++
        be32(600) ++ be32(600) ++ be16(0x55c4) ++ be16(0))
    val mdia = box("mdia", mdhd ++ hdlr ++ minf)
    val tkhd = box("tkhd",
      Array[Byte](0, 0, 0, 7) ++ be32(0) ++ be32(0) ++ be32(1) ++
        be32(0) ++ be32(600) ++ new Array[Byte](52) ++
        be32(width << 16) ++ be32(height << 16))
    val trak = box("trak", tkhd ++ mdia)
    val mvhd = box("mvhd",
      Array[Byte](0, 0, 0, 0) ++ be32(0) ++ be32(0) ++ be32(600) ++
        be32(600) ++ be32(0x00010000) ++ Array[Byte](0x01, 0, 0, 0) ++
        new Array[Byte](8) ++
        (be32(0x00010000) ++ be32(0) ++ be32(0) ++ be32(0) ++
          be32(0x00010000) ++ be32(0) ++ be32(0) ++ be32(0) ++
          be32(0x40000000)) ++ new Array[Byte](24) ++ be32(2))
    val ftyp = box("ftyp",
      "isom".getBytes("US-ASCII") ++ be32(512) ++
        "isomavc1".getBytes("US-ASCII"))
    // SEI and slice NALs ride in the elementary stream, not the avcC —
    // an mdat of length-prefixed samples (lengthSizeMinusOne = 3 per
    // the avcC written above), SEI first so the first-sample SEI walk
    // keeps its contract
    val streamNals = sei.toSeq ++ slices
    val mdat =
      if (streamNals.isEmpty) Array.empty[Byte]
      else box("mdat",
        streamNals.flatMap(n => be32(n.length) ++ n).toArray)
    ftyp ++ box("moov", mvhd ++ trak) ++ mdat
  }

  /** Locate the avcC box (moov→trak→mdia→minf→stbl→stsd→avc1→avcC),
    * bounds-checked throughout; None = corrupt or no AVC track — the
    * quarantine channel shared by the SPS and PPS extractors.
    */
  private def findAvcc(b: Array[Byte]): Option[Int] = {
    def boxType(off: Int): String =
      if (off + 8 <= b.length) new String(b, off + 4, 4, "US-ASCII") else ""
    def readBe32(off: Int): Int = Multimodal.readBe32(b, off)
    def child(from: Long, until: Long, want: String): Option[Int] = {
      var off = from
      while (off + 8 <= until) {
        val size = readBe32(off.toInt)
        if (size < 8) return None
        if (boxType(off.toInt) == want) return Some(off.toInt)
        off += size.toLong
      }
      None
    }
    def end(off: Int): Long =
      math.min(off.toLong + readBe32(off), b.length.toLong)
    if (b.length < 16 || boxType(0) != "ftyp") return None
    for {
      moov <- child(0L, b.length.toLong, "moov")
      trak <- child(moov + 8L, end(moov), "trak")
      mdia <- child(trak + 8L, end(trak), "mdia")
      minf <- child(mdia + 8L, end(mdia), "minf")
      stbl <- child(minf + 8L, end(minf), "stbl")
      stsd <- child(stbl + 8L, end(stbl), "stsd")
      // sample entries start after stsd's version/flags + entry_count
      avc1 <- child(stsd + 16L, end(stsd), "avc1")
      // avcC sits after the 78-byte VisualSampleEntry body
      avcc <- child(avc1 + 8L + 78L, end(avc1), "avcC")
    } yield avcc
  }

  /** Extract the first SPS from an MP4's avcC. */
  def extractSpsFromMp4(b: Array[Byte]): Option[Array[Byte]] = for {
    avcc <- findAvcc(b)
    if avcc + 16 <= b.length && (b(avcc + 13) & 0x1f) >= 1
    spsLen = ((b(avcc + 14) & 0xff) << 8) | (b(avcc + 15) & 0xff)
    if avcc + 16 + spsLen <= b.length
  } yield b.slice(avcc + 16, avcc + 16 + spsLen)

  /** Extract the first PPS from an MP4's avcC: the PPS array sits right
    * after the (single) SPS entry — count byte, then len+bytes per PPS
    * (14496-15 §5.2.4.1.1). Same quarantine discipline as the SPS walk.
    */
  def extractPpsFromMp4(b: Array[Byte]): Option[Array[Byte]] = for {
    avcc <- findAvcc(b)
    if avcc + 16 <= b.length && (b(avcc + 13) & 0x1f) >= 1
    spsLen = ((b(avcc + 14) & 0xff) << 8) | (b(avcc + 15) & 0xff)
    off = avcc + 16 + spsLen // numOfPictureParameterSets byte
    if off + 3 <= b.length && (b(off) & 0xff) >= 1
    ppsLen = ((b(off + 1) & 0xff) << 8) | (b(off + 2) & 0xff)
    if off + 3 + ppsLen <= b.length
  } yield b.slice(off + 3, off + 3 + ppsLen)

  /** Extract the first length-prefixed NAL from the top-level mdat box
    * and return it iff it is a SEI NAL — bounds-checked; None = no
    * mdat, truncation, or a non-SEI first sample (quarantine).
    */
  def extractSeiFromMp4(b: Array[Byte]): Option[Array[Byte]] = {
    def readBe32(off: Int): Int = Multimodal.readBe32(b, off)
    if (b.length < 16 || new String(b, 4, 4, "US-ASCII") != "ftyp") return None
    var off = 0L
    while (off + 8 <= b.length) {
      val size = readBe32(off.toInt)
      if (size < 8) return None
      if (new String(b, off.toInt + 4, 4, "US-ASCII") == "mdat") {
        val p = off.toInt + 8
        if (p + 4 > b.length) return None
        val nalLen = readBe32(p)
        if (nalLen < 1 || p + 4 + nalLen > b.length) return None
        val nal = b.slice(p + 4, p + 4 + nalLen)
        return if ((nal(0) & 0x1f) == 6) Some(nal) else None
      }
      off += size.toLong
    }
    None
  }

  /** Walk the top-level mdat's length-prefixed NAL samples and return
    * the SLICE NALs (types 1/5) in stream order — bounds-checked; None
    * on no mdat or any malformed length prefix (quarantine).
    */
  def extractSliceNalsFromMp4(b: Array[Byte]): Option[Seq[Array[Byte]]] = {
    def readBe32(off: Int): Int = Multimodal.readBe32(b, off)
    if (b.length < 16 || new String(b, 4, 4, "US-ASCII") != "ftyp") return None
    var off = 0L
    while (off + 8 <= b.length) {
      val size = readBe32(off.toInt)
      if (size < 8) return None
      if (new String(b, off.toInt + 4, 4, "US-ASCII") == "mdat") {
        // a declared size past the buffer is a TRUNCATED payload: the
        // tail samples are gone — quarantine, never a silent short read
        if (off + size > b.length) return None
        val end = (off + size).toInt
        val nals = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
        var p = off.toInt + 8
        while (p < end) {
          if (p + 4 > end) return None
          val nalLen = readBe32(p)
          if (nalLen < 1 || p + 4 + nalLen > end) return None
          nals += b.slice(p + 4, p + 4 + nalLen)
          p += 4 + nalLen
        }
        return Some(nals.toSeq
          .filter(n => (n(0) & 0x1f) == 1 || (n(0) & 0x1f) == 5))
      }
      off += size.toLong
    }
    None
  }

  /** Per-doc synthetic AVC MP4 table: id-derived profile/level/
    * resolution/crop (crop exercised on odd ids), a SEI sample + the
    * id-derived slice-NAL stream in mdat, every 13th payload truncated
    * for the quarantine channel.
    */
  def synthesizeAvcTable(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id").cast("long")).as[Long].map { id =>
      val spec = specFor(id)
      val bytes = buildAvcMp4(buildSps(spec), spec.codedWidth,
        spec.codedHeight, Seq(buildPps(ppsSpecFor(id))),
        Some(buildSei(seiSpecFor(id))),
        sliceSpecsFor(id).map(buildSlice))
      val out = if (id % 13 == 0) bytes.take(9) else bytes
      (id, "video/mp4", out)
    }.toDF("media_id", "media_type", "content")
  }

  /** The id → SpsSpec rule — shared by the synthesizer and the oracle's
    * closed forms (entry.MediaKeys) so the two cannot drift.
    */
  def specFor(id: Long): SpsSpec = SpsSpec(
    profileIdc = if (id % 2 == 0) 66 else 77,
    levelIdc = (30 + id % 21).toInt,
    widthMbsMinus1 = (19 + id % 60).toInt,
    heightUnitsMinus1 = (11 + id % 34).toInt,
    cropRight = (id % 2).toInt,
    cropBottom = ((id / 2) % 2).toInt)

  /** The id → PpsSpec rule — same drift-proofing contract as specFor;
    * exercises CABAC/CAVLC, FMO (two slice groups on every 7th), both
    * weighted-pred modes, and negative se(v) codes (init QP 16..36,
    * chroma offset −2..2).
    */
  /** The id → SeiSpec rule — recovery points across the ue(v) size
    * boundary (cnt 0..29 spans 1- and 2-byte payloads), flags cycling,
    * an encoder-fingerprint UUID on every 3rd doc.
    */
  def seiSpecFor(id: Long): SeiSpec = SeiSpec(
    recoveryFrameCnt = (id % 30).toInt,
    exactMatch = id % 2 == 0,
    brokenLink = id % 5 == 0,
    userUuid =
      if (id % 3 == 0) Some(Array.tabulate(16)(i => ((id + i) % 256).toByte))
      else None)

  def ppsSpecFor(id: Long): PpsSpec = PpsSpec(
    entropyCabac = id % 3 == 0,
    numSliceGroupsMinus1 = if (id % 7 == 0) 1 else 0,
    numRefIdxL0 = (1 + id % 4).toInt,
    numRefIdxL1 = (1 + id % 2).toInt,
    weightedPred = id % 5 == 0,
    weightedBipredIdc = (id % 3).toInt,
    initQpMinus26 = ((id % 21) - 10).toInt,
    chromaQpOffset = ((id % 5) - 2).toInt,
    deblockingControl = id % 2 == 0,
    constrainedIntraPred = id % 11 == 0,
    redundantPicCntPresent = id % 9 == 0)

  /** Decode face: (media_id, profile_idc, level_idc, coded_width,
    * coded_height) for every payload with a parseable SPS; corrupt rows
    * quarantine by absence. Map-only.
    */
  def extractCodecInfo(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        for {
          sps <- extractSpsFromMp4(bytes)
          info <- parseSps(sps)
        } yield (id, info.profileIdc.toLong, info.levelIdc.toLong,
          info.width.toLong, info.height.toLong)
      })
      .toDF("media_id", "profile_idc", "level_idc",
        "coded_width", "coded_height")
      .orderBy(col("media_id"))
  }

  /** PPS decode face: the picture-level coding-tool profile per payload
    * — entropy mode, slice-group (FMO) count, default ref-list sizes,
    * weighted prediction, init QP, deblocking/intra/redundancy flags.
    * Booleans surface as 0/1 BIGINT so the oracle's closed forms state
    * them directly. Corrupt rows quarantine by absence. Map-only.
    */
  def extractPpsInfo(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    def b(x: Boolean): Long = if (x) 1L else 0L
    media.select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        for {
          pps <- extractPpsFromMp4(bytes)
          info <- parsePps(pps)
        } yield (id, b(info.entropyCabac), info.numSliceGroups.toLong,
          info.numRefIdxL0.toLong, info.numRefIdxL1.toLong,
          b(info.weightedPred), info.weightedBipredIdc.toLong,
          info.initQp.toLong, info.chromaQpOffset.toLong,
          b(info.deblockingControl), b(info.constrainedIntraPred),
          b(info.redundantPicCntPresent))
      })
      .toDF("media_id", "entropy_cabac", "num_slice_groups",
        "num_ref_idx_l0", "num_ref_idx_l1", "weighted_pred",
        "weighted_bipred_idc", "init_qp", "chroma_qp_offset",
        "deblocking_control", "constrained_intra_pred",
        "redundant_pic_cnt")
      .orderBy(col("media_id"))
  }

  /** SEI decode face: one row per SEI message of each payload's first
    * stream sample — recovery-point random-access signals (frame count
    * + exact/broken flags) and encoder-fingerprint UUIDs; fields not
    * applicable to a message's type are typed NULLs. Corrupt rows
    * quarantine by absence. Map-only.
    */
  def extractSeiInfo(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        (for {
          nal <- extractSeiFromMp4(bytes)
          msgs <- parseSei(nal)
        } yield msgs).getOrElse(Seq.empty).zipWithIndex.map { case (m, idx) =>
          (id, idx.toLong, m.seiType.toLong, m.payloadSize.toLong,
            m.uuidHex, m.recoveryFrameCnt.map(_.toLong),
            m.exactMatch.map(b => if (b) 1L else 0L),
            m.brokenLink.map(b => if (b) 1L else 0L))
        }
      })
      .toDF("media_id", "msg_idx", "sei_type", "payload_size", "uuid_hex",
        "recovery_frame_cnt", "exact_match", "broken_link")
      .orderBy(col("media_id"), col("msg_idx"))
  }

  /** Slice-header decode face: one row per slice NAL of each payload's
    * stream — the REAL I/P/B distribution and GOP cadence (`media_video
    * _samples` could only approximate keyframe density from stss
    * flags). The SPS parsed from the SAME payload supplies the
    * frame_num/poc bit widths, so the parse is context-correct per
    * stream, not fixture-assumed. idr_pic_id is a typed NULL off
    * non-IDR slices. Corrupt rows quarantine by absence (any
    * unparseable slice drops the whole payload — a half-read GOP is a
    * misleading curation signal). Map-only.
    */
  def extractSliceInfo(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        (for {
          sps <- extractSpsFromMp4(bytes)
          info <- parseSps(sps)
          nals <- extractSliceNalsFromMp4(bytes)
          parsed <- {
            val all = nals.map(parseSliceHeader(_, info))
            if (all.forall(_.isDefined)) Some(all.map(_.get)) else None
          }
        } yield parsed).getOrElse(Seq.empty).zipWithIndex.map {
          case (s, idx) =>
            (id, idx.toLong, s.nalType.toLong, s.firstMb.toLong,
              s.sliceType.toLong, s.frameNum.toLong,
              s.pocLsb.map(_.toLong), s.idrPicId.map(_.toLong))
        }
      })
      .toDF("media_id", "slice_idx", "nal_type", "first_mb", "slice_type",
        "frame_num", "poc_lsb", "idr_pic_id")
      .orderBy(col("media_id"), col("slice_idx"))
  }
}
