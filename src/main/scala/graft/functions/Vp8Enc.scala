package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression,
  QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** VP8 key-frame ENCODER subset (RFC 6386 §7-§13) — the test/probe twin
  * of [[Vp8]]. Purpose, exactly the VP8L playbook: (1) reach decoder
  * branches the system libwebp never emits (the SIMPLE loop filter,
  * loop-filter deltas, multiple token partitions, quantizer deltas,
  * delta-mode segmentation), (2) give ScaleProbe --media a per-row
  * synth for throughput, (3) feed mutation fuzz with streams whose
  * ground truth exists. No rate-distortion machinery: modes, segment
  * ids, skip flags and coefficient LEVELS are chosen by the caller
  * (deterministically from an id in [[synth]]); tokens are written with
  * the DEFAULT probability tables (no updates). Streams generated here
  * are cross-verified against libwebp's decoder at fixture-generation
  * time (tools/gen_vp8_synth_truth.py) — fixtures/vp8s. */
object Vp8Enc {

  /** Diagnostics: a carry that would propagate past the start of a
    * partition (must stay 0 — see BoolEnc). */
  private[graft] var droppedCarries = 0

  /** §7.1 boolean arithmetic encoder with carry propagation. */
  private final class BoolEnc {
    private var range = 255
    private var bottom = 0L
    private var bitCount = 24
    private val out = new java.io.ByteArrayOutputStream(512)

    def bool(prob: Int, bit: Int): Unit = {
      val split = 1 + (((range - 1) * prob) >> 8)
      if (bit != 0) { bottom += split; range -= split }
      else range = split
      while (range < 128) {
        range <<= 1
        if ((bottom & (1L << 31)) != 0) {
          // carry: add one to the output stream (walk back over 0xff)
          val b = out.toByteArray
          var q = b.length - 1
          while (q >= 0 && b(q) == 0xff.toByte) { b(q) = 0; q -= 1 }
          if (q >= 0) b(q) = ((b(q) & 0xff) + 1).toByte
          else Vp8Enc.droppedCarries += 1
          out.reset(); out.write(b, 0, b.length)
        }
        bottom = (bottom << 1) & 0xffffffffL
        bitCount -= 1
        if (bitCount == 0) {
          out.write(((bottom >> 24) & 0xff).toInt)
          bottom &= 0xffffff
          bitCount = 8
        }
      }
    }

    def literal(v: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) { bool(128, (v >> i) & 1); i -= 1 }
    }

    def signedWithFlag(v: Int, n: Int): Unit =
      if (v == 0) bool(128, 0)
      else { bool(128, 1); literal(math.abs(v), n); bool(128, if (v < 0) 1 else 0) }

    /** Encode leaf `value` along `tree` with `probs` (DFS for the path,
      * then emit each branch bit with its node's probability). */
    def tree(t: Array[Int], probs: Array[Int], probOff: Int, value: Int): Unit = {
      def leafIn(i: Int, v: Int): Boolean = {
        val l = t(i); val r = t(i + 1)
        (l <= 0 && -l == v) || (r <= 0 && -r == v) ||
          (l > 0 && leafIn(l, v)) || (r > 0 && leafIn(r, v))
      }
      def pathFrom(i: Int, v: Int): List[Int] = {
        val l = t(i); val r = t(i + 1)
        if (l <= 0 && -l == v) List(0)
        else if (r <= 0 && -r == v) List(1)
        else if (l > 0 && leafIn(l, v)) 0 :: pathFrom(l, v)
        else 1 :: pathFrom(r, v)
      }
      var i = 0
      pathFrom(0, value).foreach { b =>
        bool(probs(probOff + (i >> 1)), b)
        i = t(i + b)
      }
    }

    def flush(): Array[Byte] = {
      var i = 0
      while (i < 32) {
        bool(128, 0) // pad: drives remaining bottom bits out
        i += 1
      }
      out.toByteArray
    }
  }

  // mirrors of the decoder's trees/tables (RFC §11.2/§13.2)
  private val KfYModeTree = Array(-4, 2, 4, 6, -0, -1, -2, -3)
  private val KfYModeProb = Array(145, 156, 163, 128)
  private val UvModeTree = Array(-0, 2, -1, 4, -2, -3)
  private val KfUvModeProb = Array(142, 114, 183)
  private val BModeTree = Array(
    -0, 2, -1, 4, -2, 6, 8, 12, -3, 10, -5, -6, -4, 14, -7, 16, -8, -9)
  private val SegTree = Array(2, 4, -0, -1, -2, -3)
  private val Implied4x4 = Array(0, 2, 3, 1)
  private val Rfc2Webp = Array(0, 1, 2, 3, 6, 4, 5, 7, 8, 9)
  private val Zigzag = Array(0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15)
  private val Bands = Array(0, 1, 2, 3, 6, 4, 5, 6, 6, 6, 6, 6, 6, 6, 6, 7)
  private val Cat1 = Array(159)
  private val Cat2 = Array(165, 145)
  private val Cat3 = Array(173, 148, 140)
  private val Cat4 = Array(176, 155, 140, 135)
  private val Cat5 = Array(180, 157, 141, 134, 130)
  private val Cat6 = Array(254, 254, 243, 230, 196, 177, 153, 140, 133, 130, 129)
  private val CatProbs = Array(Cat1, Cat2, Cat3, Cat4, Cat5, Cat6)
  private val CatBase = Array(5, 7, 11, 19, 35, 67)
  private val KfB: Array[Int] = {
    val out = new Array[Int](900)
    var a = 0
    while (a < 10) {
      var l = 0
      while (l < 10) {
        val src = (Rfc2Webp(a) * 10 + Rfc2Webp(l)) * 9
        var k = 0
        while (k < 9) { out((a * 10 + l) * 9 + k) = Vp8Tables.KfBModeProbs(src + k); k += 1 }
        l += 1
      }
      a += 1
    }
    out
  }

  /** One macroblock's encode-side plan. `coeffs` holds pre-dequant
    * LEVELS in NATURAL order: 25 blocks x 16 (blocks 0-15 luma — for
    * 16x16 modes position 0 must be 0 and the Y2 block 24 carries the
    * WHT-domain DCs; 16-19 U; 20-23 V; 24 Y2, all-zero unless 16x16). */
  final case class MbPlan(segment: Int, skip: Boolean, yMode: Int,
      bModes: Array[Int], uvMode: Int, coeffs: Array[Int])

  final case class FrameCfg(w: Int, h: Int,
      filterType: Int, filterLevel: Int, sharpness: Int,
      lfDeltaEnabled: Boolean, refLfDelta: Array[Int], modeLfDelta: Array[Int],
      nPartsLog2: Int, yacQi: Int,
      ydcDelta: Int, y2dcDelta: Int, y2acDelta: Int, uvdcDelta: Int, uvacDelta: Int,
      segEnabled: Boolean, segAbs: Boolean, segQuant: Array[Int], segLf: Array[Int],
      skipEnabled: Boolean, skipProb: Int)

  def encode(cfg: FrameCfg, mbs: Seq[MbPlan]): Array[Byte] = {
    val mbW = (cfg.w + 15) >> 4; val mbH = (cfg.h + 15) >> 4
    require(mbs.length == mbW * mbH)
    require(cfg.skipEnabled || mbs.forall(!_.skip),
      "MbPlan.skip requires cfg.skipEnabled (the header bit decoders read)")
    val br = new BoolEnc

    br.bool(128, 0) // color space
    br.bool(128, 0) // clamping
    // segmentation
    br.bool(128, if (cfg.segEnabled) 1 else 0)
    val segTreeProbs = Array(128, 128, 128)
    if (cfg.segEnabled) {
      br.bool(128, 1) // update map
      br.bool(128, 1) // update data
      br.bool(128, if (cfg.segAbs) 1 else 0)
      var i = 0
      while (i < 4) { br.signedWithFlag(cfg.segQuant(i), 7); i += 1 }
      i = 0
      while (i < 4) { br.signedWithFlag(cfg.segLf(i), 6); i += 1 }
      i = 0
      while (i < 3) { br.bool(128, 1); br.literal(segTreeProbs(i), 8); i += 1 }
    }
    // filter
    br.bool(128, cfg.filterType)
    br.literal(cfg.filterLevel, 6)
    br.literal(cfg.sharpness, 3)
    br.bool(128, if (cfg.lfDeltaEnabled) 1 else 0)
    if (cfg.lfDeltaEnabled) {
      br.bool(128, 1) // update
      var i = 0
      while (i < 4) { br.signedWithFlag(cfg.refLfDelta(i), 6); i += 1 }
      i = 0
      while (i < 4) { br.signedWithFlag(cfg.modeLfDelta(i), 6); i += 1 }
    }
    // partitions
    br.literal(cfg.nPartsLog2, 2)
    val nParts = 1 << cfg.nPartsLog2
    // quant
    br.literal(cfg.yacQi, 7)
    br.signedWithFlag(cfg.ydcDelta, 4)
    br.signedWithFlag(cfg.y2dcDelta, 4)
    br.signedWithFlag(cfg.y2acDelta, 4)
    br.signedWithFlag(cfg.uvdcDelta, 4)
    br.signedWithFlag(cfg.uvacDelta, 4)
    br.bool(128, 1) // refresh entropy (keyframe convention)
    // no token-probability updates: 1056 zero flags
    var i = 0
    while (i < 1056) { br.bool(Vp8Tables.CoeffUpdateProbs(i), 0); i += 1 }
    br.bool(128, if (cfg.skipEnabled) 1 else 0)
    if (cfg.skipEnabled) br.literal(cfg.skipProb, 8)

    // per-MB records
    val aboveB = new Array[Int](mbW * 4)
    val leftB = new Array[Int](4)
    var mbY = 0
    while (mbY < mbH) {
      java.util.Arrays.fill(leftB, 0)
      var mbX = 0
      while (mbX < mbW) {
        val mb = mbs(mbY * mbW + mbX)
        if (cfg.segEnabled) br.tree(SegTree, segTreeProbs, 0, mb.segment)
        if (cfg.skipEnabled) br.bool(cfg.skipProb, if (mb.skip) 1 else 0)
        br.tree(KfYModeTree, KfYModeProb, 0, mb.yMode)
        if (mb.yMode == 4) {
          var sb = 0
          while (sb < 16) {
            val sx = sb & 3; val sy = sb >> 2
            val a = if (sy == 0) aboveB(mbX * 4 + sx) else mb.bModes(sb - 4)
            val l = if (sx == 0) leftB(sy) else mb.bModes(sb - 1)
            br.tree(BModeTree, KfB, (a * 10 + l) * 9, mb.bModes(sb))
            sb += 1
          }
          var k = 0
          while (k < 4) {
            aboveB(mbX * 4 + k) = mb.bModes(12 + k)
            leftB(k) = mb.bModes(k * 4 + 3)
            k += 1
          }
        } else {
          val imp = Implied4x4(mb.yMode)
          var k = 0
          while (k < 4) { aboveB(mbX * 4 + k) = imp; leftB(k) = imp; k += 1 }
        }
        br.tree(UvModeTree, KfUvModeProb, 0, mb.uvMode)
        mbX += 1
      }
      mbY += 1
    }
    val part0 = br.flush()

    // token partitions (row % nParts)
    val parts = Array.fill(nParts)(new BoolEnc)
    val aboveNzY = new Array[Boolean](mbW * 4)
    val aboveNzU = new Array[Boolean](mbW * 2)
    val aboveNzV = new Array[Boolean](mbW * 2)
    val aboveNzY2 = new Array[Boolean](mbW)
    val leftNzY = new Array[Boolean](4)
    val leftNzU = new Array[Boolean](2)
    val leftNzV = new Array[Boolean](2)
    var leftNzY2 = false
    mbY = 0
    while (mbY < mbH) {
      val tk = parts(mbY % nParts)
      java.util.Arrays.fill(leftNzY, false)
      java.util.Arrays.fill(leftNzU, false)
      java.util.Arrays.fill(leftNzV, false)
      leftNzY2 = false
      var mbX = 0
      while (mbX < mbW) {
        val mb = mbs(mbY * mbW + mbX)
        val isB = mb.yMode == 4
        if (!mb.skip) {
          if (!isB) {
            val ctx = (if (aboveNzY2(mbX)) 1 else 0) + (if (leftNzY2) 1 else 0)
            val nz = encodeBlock(tk, 1, ctx, 0, mb.coeffs, 24 * 16)
            aboveNzY2(mbX) = nz; leftNzY2 = nz
          }
          val plane = if (isB) 3 else 0
          val first = if (isB) 0 else 1
          var b = 0
          while (b < 16) {
            val bx = b & 3; val by = b >> 2
            val ctx = (if (aboveNzY(mbX * 4 + bx)) 1 else 0) + (if (leftNzY(by)) 1 else 0)
            val nz = encodeBlock(tk, plane, ctx, first, mb.coeffs, b * 16)
            aboveNzY(mbX * 4 + bx) = nz; leftNzY(by) = nz
            b += 1
          }
          b = 0
          while (b < 4) {
            val bx = b & 1; val by = b >> 1
            val cu = (if (aboveNzU(mbX * 2 + bx)) 1 else 0) + (if (leftNzU(by)) 1 else 0)
            val nzu = encodeBlock(tk, 2, cu, 0, mb.coeffs, (16 + b) * 16)
            aboveNzU(mbX * 2 + bx) = nzu; leftNzU(by) = nzu
            b += 1
          }
          b = 0
          while (b < 4) {
            val bx = b & 1; val by = b >> 1
            val cv = (if (aboveNzV(mbX * 2 + bx)) 1 else 0) + (if (leftNzV(by)) 1 else 0)
            val nzv = encodeBlock(tk, 2, cv, 0, mb.coeffs, (20 + b) * 16)
            aboveNzV(mbX * 2 + bx) = nzv; leftNzV(by) = nzv
            b += 1
          }
        } else {
          var k = 0
          while (k < 4) { aboveNzY(mbX * 4 + k) = false; leftNzY(k) = false; k += 1 }
          k = 0
          while (k < 2) {
            aboveNzU(mbX * 2 + k) = false; leftNzU(k) = false
            aboveNzV(mbX * 2 + k) = false; leftNzV(k) = false
            k += 1
          }
          if (!isB) { aboveNzY2(mbX) = false; leftNzY2 = false }
        }
        mbX += 1
      }
      mbY += 1
    }
    val partBytes = parts.map(_.flush())

    // assemble: frame tag + start code + dims + part0 + sizes + parts
    val out = new java.io.ByteArrayOutputStream(1024)
    val tag = (part0.length << 5) | (0 << 4) | (0 << 1) | 0 // hidden, v0, key
    val tagShown = tag | (1 << 4)
    out.write(tagShown & 0xff); out.write((tagShown >> 8) & 0xff)
    out.write((tagShown >> 16) & 0xff)
    out.write(0x9d); out.write(0x01); out.write(0x2a)
    out.write(cfg.w & 0xff); out.write((cfg.w >> 8) & 0x3f)
    out.write(cfg.h & 0xff); out.write((cfg.h >> 8) & 0x3f)
    out.write(part0, 0, part0.length)
    var p = 0
    while (p < nParts - 1) {
      val len = partBytes(p).length
      out.write(len & 0xff); out.write((len >> 8) & 0xff); out.write((len >> 16) & 0xff)
      p += 1
    }
    p = 0
    while (p < nParts) { out.write(partBytes(p), 0, partBytes(p).length); p += 1 }
    // zero tail: legal trailing zeros of the LAST partition (§7 allows
    // the encoder to omit them, so adding them back is a no-op for any
    // conforming decoder) — keeps strict EOF-accounting decoders from
    // flagging a bit-tight stream as truncated
    out.write(0); out.write(0); out.write(0); out.write(0)
    out.toByteArray
  }

  /** Token-encode one block (mirrors Vp8.decodeBlock). Returns nz. */
  private def encodeBlock(br: BoolEnc, plane: Int, ctx0: Int, first: Int,
      levels: Array[Int], off: Int): Boolean = {
    val probs = Vp8Tables.CoeffProbs
    val planeOff = plane * 8 * 3 * 11
    // find last nonzero in zigzag order
    var last = -1
    var k = first
    while (k < 16) { if (levels(off + Zigzag(k)) != 0) last = k; k += 1 }
    var n = first
    var ctx = ctx0
    var allowEob = true
    var nz = false
    while (n < 16) {
      val p = planeOff + (Bands(n) * 3 + ctx) * 11
      if (n > last) { // EOB
        if (allowEob) br.bool(probs(p), 0)
        return nz
      }
      if (allowEob) br.bool(probs(p), 1)
      val v = levels(off + Zigzag(n))
      val a = math.abs(v)
      if (a == 0) {
        br.bool(probs(p + 1), 0)
        ctx = 0; allowEob = false
      } else {
        br.bool(probs(p + 1), 1)
        if (a == 1) { br.bool(probs(p + 2), 0); ctx = 1 }
        else {
          br.bool(probs(p + 2), 1); ctx = 2
          if (a <= 4) {
            br.bool(probs(p + 3), 0)
            if (a == 2) br.bool(probs(p + 4), 0)
            else { br.bool(probs(p + 4), 1); br.bool(probs(p + 5), a - 3) }
          } else {
            br.bool(probs(p + 3), 1)
            val cat =
              if (a <= 6) 0 else if (a <= 10) 1 else if (a <= 18) 2
              else if (a <= 34) 3 else if (a <= 66) 4 else 5
            if (cat <= 1) { br.bool(probs(p + 6), 0); br.bool(probs(p + 7), cat) }
            else if (cat <= 3) {
              br.bool(probs(p + 6), 1); br.bool(probs(p + 8), 0)
              br.bool(probs(p + 9), cat - 2)
            } else {
              br.bool(probs(p + 6), 1); br.bool(probs(p + 8), 1)
              br.bool(probs(p + 10), cat - 4)
            }
            val cp = CatProbs(cat)
            val extra = a - CatBase(cat)
            var i = cp.length - 1
            var j = 0
            while (j < cp.length) { br.bool(cp(j), (extra >> i) & 1); i -= 1; j += 1 }
          }
        }
        br.bool(128, if (v < 0) 1 else 0)
        nz = true; allowEob = true
      }
      n += 1
    }
    nz
  }

  /** Deterministic synthetic frame family for fuzz/probe/coverage —
    * rotates by `mode` over the branches libwebp's encoder never emits:
    *   0: 16x16 modes + Y2, normal filter, 1 partition
    *   1: B_PRED all 10 sub-modes, SIMPLE filter
    *   2: segmentation (DELTA mode) + 4 partitions + quant deltas
    *   3: lf deltas + skip MBs + big cat3-6 levels + 2 partitions
    *   4: absolute segmentation + sharpness + 8 partitions
    *   5: mixed everything, sharpness 7
    * mode+8 truncates mid-stream (must decode to None). */
  def synth(id: Long, w: Int, h: Int, mode: Int): Array[Byte] = {
    val corrupt = (mode & 8) != 0
    val m = mode & 7
    val mbW = (w + 15) >> 4; val mbH = (h + 15) >> 4
    val rnd = new java.util.Random(id * 7919 + m)
    def lvl(span: Int): Int = rnd.nextInt(2 * span + 1) - span
    val mbs = (0 until mbW * mbH).map { i =>
      val coeffs = new Array[Int](25 * 16)
      val yMode = m match {
        case 0 => (id + i) % 4
        case 1 => 4
        case _ => if ((id + i) % 3 == 0) 4 else (id + i) % 4
      }
      val isB = yMode == 4
      val bModes = Array.tabulate(16)(k => ((id + i + k) % 10).toInt)
      // skip flags are only expressible when the header enables
      // mb_no_coeff_skip (modes 3 and 5) — a skip without the header
      // bit desyncs every conforming decoder (caught by libwebp truth)
      val skip = (m == 3 || m == 5) && (id + i) % 4 == 3
      if (!skip) {
        var b = 0
        while (b < 24) {
          val dense = (b + i) % 3 == 0
          if (dense) {
            val firstPos = if (!isB && b < 16) 1 else 0
            var k = firstPos
            while (k < 16) {
              coeffs(b * 16 + Zigzag(k)) =
                if (k < 3) lvl(if (m == 3) 120 else 6)
                else if (k < 8 && rnd.nextInt(3) == 0) lvl(3)
                else 0
              k += 1
            }
          }
          b += 1
        }
        if (!isB) {
          var k = 0
          while (k < 16) {
            coeffs(24 * 16 + Zigzag(k)) = if (k < 4) lvl(4) else 0
            k += 1
          }
        }
      }
      MbPlan(segment = (i % 4), skip = skip, yMode = yMode.toInt,
        bModes = bModes, uvMode = ((id + i) % 4).toInt, coeffs = coeffs)
    }
    val cfg = m match {
      case 0 => FrameCfg(w, h, 0, 24, 0, false, Array.fill(4)(0), Array.fill(4)(0),
        0, 40, 2, 1, -1, -2, 3, false, false, Array.fill(4)(0), Array.fill(4)(0),
        skipEnabled = false, skipProb = 0)
      case 1 => FrameCfg(w, h, 1, 31, 2, false, Array.fill(4)(0), Array.fill(4)(0),
        0, 33, 0, 0, 0, 0, 0, false, false, Array.fill(4)(0), Array.fill(4)(0),
        skipEnabled = false, skipProb = 0)
      case 2 => FrameCfg(w, h, 0, 18, 0, false, Array.fill(4)(0), Array.fill(4)(0),
        2, 50, 0, 0, 0, -2, 4, true, false, Array(0, -8, 12, -20), Array(0, 4, -6, 8),
        skipEnabled = false, skipProb = 0)
      case 3 => FrameCfg(w, h, 0, 40, 0, true, Array(6, 0, -4, 2), Array(-5, 0, 0, 0),
        1, 60, 0, 0, 0, 0, 0, false, false, Array.fill(4)(0), Array.fill(4)(0),
        skipEnabled = true, skipProb = 170)
      case 4 => FrameCfg(w, h, 0, 26, 4, false, Array.fill(4)(0), Array.fill(4)(0),
        3, 30, 0, 0, 0, 0, 0, true, true, Array(20, 44, 64, 90), Array(8, 16, 32, 60),
        skipEnabled = false, skipProb = 0)
      case _ => FrameCfg(w, h, 1, 50, 7, true, Array(2, 0, 0, -2), Array(3, 0, 0, 0),
        1, 45, -3, 2, -2, 3, -4, true, false, Array(0, 10, -10, 25), Array(0, -3, 6, 12),
        skipEnabled = true, skipProb = 100)
    }
    // cap partitions so every one owns >= 1 MB row: libwebp rejects
    // zero-length partitions, and the cross-check contract is "libwebp
    // must accept every synth stream"
    val maxPl = 31 - Integer.numberOfLeadingZeros(math.max(1, mbH))
    val cfg2 = if (cfg.nPartsLog2 > maxPl) cfg.copy(nPartsLog2 = math.min(maxPl, 3)) else cfg
    val full = encode(cfg2, mbs)
    if (corrupt) java.util.Arrays.copyOf(full, math.max(12, full.length * 3 / 5))
    else full
  }
}

/** `synth_vp8(id, w, h, mode)` per [[Vp8Enc.synth]] (raw VP8 frame). */
case class SynthVp8(first: Expression, second: Expression,
    third: Expression, fourth: Expression)
    extends QuaternaryExpression with CodegenFallback with ExpectsInputTypes {
  override def dataType: DataType = BinaryType
  override def inputTypes = Seq(LongType, IntegerType, IntegerType, IntegerType)
  override def nullSafeEval(id: Any, w: Any, h: Any, mode: Any): Any =
    Vp8Enc.synth(id.asInstanceOf[Long], w.asInstanceOf[Int],
      h.asInstanceOf[Int], mode.asInstanceOf[Int])
  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression, d: Expression): SynthVp8 = copy(a, b, c, d)
  override def prettyName: String = "synth_vp8"
}

object vp8enc {
  def synth_vp8(id: Column, w: Column, h: Column, mode: Column): Column =
    ColumnBridge.column(SynthVp8(ColumnBridge.expression(id),
      ColumnBridge.expression(w), ColumnBridge.expression(h),
      ColumnBridge.expression(mode)))
}
