package graft.multimodal

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

import graft.sources.{BitCursor, BitWriter, ByteCursor, Huffman}

/** WebP lossless (VP8L) pixel codec — dependency-free, spec-derived
  * (the "WebP Lossless Bitstream Specification": LSB-first bitstream,
  * canonical Huffman code groups with the code-length-code machinery,
  * LZ77 backward references with 2-D distance plane codes, the
  * multiplicative color cache). Completes the crawl image family's
  * real-decode story beside PNG inflate (q221) and baseline /
  * progressive / restart-marker JPEG (q234/q323/q324); header-only
  * metadata stays in [[Binary.parseWebpMeta]].
  *
  * Scope: since r14 ALL FOUR transforms decode — SUBTRACT_GREEN,
  * PREDICTOR (14 modes, tile-mode sub-image), COLOR (per-tile
  * cross-color elements, signed-8-bit delta algebra) and
  * COLOR_INDEXING (delta-coded palette, pixel bundling at every
  * width-bits tier) — each sub-resolution image decoded as its own
  * entropy-coded stream — and the top-level meta-Huffman (entropy
  * image): per-tile Huffman-group selection with N groups read
  * sequentially and a shared color cache. One documented boundary
  * remains: a palette COMBINED with another transform (libwebp's
  * encoder never emits that; every other transform would have to
  * operate at the bundled width) returns None, never junk pixels.
  * Within scope the decode is COMPLETE:
  * simple and full Huffman code forms, zero-run / repeat-coded code
  * lengths, color-cache hits, LZ77 copies crossing row boundaries, and
  * the full 120-entry distance plane-code table. The encoder exists to
  * mint valid fixtures (balanced complete codes, greedy run LZ77,
  * optional cache, per-tile prediction/cross-color, palette bundling)
  * — ratio is a non-goal; validity and determinism are the contract.
  */
object Vp8l {

  // bits run LSB-first (spec); Huffman codes (RFC 1951 assignment: by
  // length, then symbol) read and write their top bit first

  /** Balanced COMPLETE code over the used symbols (Kraft = 1): with k
    * used symbols and L = ⌈log₂ k⌉, the first 2^L − k get length L−1,
    * the rest L. Any complete code is valid — fixtures trade ratio for
    * simplicity. Requires k ≥ 2 (k ≤ 1 goes through the simple form).
    */
  private def balancedLengths(alphabet: Int, used: Seq[Int]): Array[Int] = {
    val k = used.length
    require(k >= 2, "balanced code needs >= 2 symbols")
    val L = math.max(1, 32 - Integer.numberOfLeadingZeros(k - 1)) // ceil log2
    val nShort = (1 << L) - k
    val lengths = Array.fill(alphabet)(0)
    used.zipWithIndex.foreach { case (s, i) =>
      lengths(s) = if (i < nShort) L - 1 else L
    }
    // L-1 can be 0 only when k == 1, excluded above
    lengths
  }

  // ---- spec tables -----------------------------------------------------

  /** Code-length-code transmission order (spec §"Huffman code
    * lengths"). */
  private val ClOrder =
    Array(17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)

  /** 2-D distance map: plane codes 1..120 address a (Δx, Δy)
    * neighborhood around the pixel; the table packs (Δy+8, Δx+8)
    * nibbles (spec §"Decoding the distance"). */
  private val CodeToPlane: Array[Int] = Array(
    0x18, 0x07, 0x17, 0x19, 0x28, 0x06, 0x27, 0x29, 0x16, 0x1a,
    0x26, 0x2a, 0x38, 0x05, 0x37, 0x39, 0x15, 0x1b, 0x36, 0x3a,
    0x25, 0x2b, 0x48, 0x04, 0x47, 0x49, 0x14, 0x1c, 0x35, 0x3b,
    0x46, 0x4a, 0x24, 0x2c, 0x58, 0x45, 0x4b, 0x34, 0x3c, 0x03,
    0x57, 0x59, 0x13, 0x1d, 0x56, 0x5a, 0x23, 0x2d, 0x44, 0x4c,
    0x55, 0x5b, 0x33, 0x3d, 0x68, 0x02, 0x67, 0x69, 0x12, 0x1e,
    0x66, 0x6a, 0x22, 0x2e, 0x54, 0x5c, 0x43, 0x4d, 0x65, 0x6b,
    0x32, 0x3e, 0x78, 0x01, 0x77, 0x79, 0x53, 0x5d, 0x11, 0x1f,
    0x64, 0x6c, 0x42, 0x4e, 0x76, 0x7a, 0x21, 0x2f, 0x75, 0x7b,
    0x31, 0x3f, 0x63, 0x6d, 0x52, 0x5e, 0x00, 0x74, 0x7c, 0x41,
    0x4f, 0x10, 0x20, 0x62, 0x6e, 0x30, 0x73, 0x7d, 0x51, 0x5f,
    0x40, 0x72, 0x7e, 0x61, 0x6f, 0x50, 0x71, 0x7f, 0x60, 0x70)

  private def planeCodeToDistance(xsize: Int, planeCode: Int): Int =
    if (planeCode > 120) planeCode - 120
    else {
      val d = CodeToPlane(planeCode - 1)
      val yoff = (d >> 4) - 8
      val xoff = (d & 0xf) - 8
      val dist = yoff * xsize + xoff
      if (dist >= 1) dist else 1
    }

  /** LZ77 prefix coding: value ≥ 1 → (code, extraBits, extraValue);
    * decode mirror below. */
  private def prefixEncode(v: Int): (Int, Int, Int) =
    if (v <= 4) (v - 1, 0, 0)
    else {
      val x = v - 1
      val log = 31 - Integer.numberOfLeadingZeros(x)
      val code = 2 * log + ((x >> (log - 1)) & 1)
      (code, log - 1, x & ((1 << (log - 1)) - 1))
    }

  private def prefixDecode(code: Int, br: BitCursor): Int =
    if (code < 4) code + 1
    else {
      val extraBits = (code - 2) >> 1
      val offset = (2 + (code & 1)) << extraBits
      offset + bits(br, extraBits) + 1
    }

  private def cacheIndex(argb: Int, bits: Int): Int =
    (0x1e35a7bd * argb) >>> (32 - bits)

  // ---- encoder ---------------------------------------------------------

  private val MaxCopy = 4096 // longest length the 24 length codes reach

  /** Encode ARGB pixels (row-major 0xAARRGGBB) into a complete WebP
    * file (RIFF + VP8L). Transforms apply forward in libwebp's stream
    * order — subtract-green, predictor, cross-color — so the decoder's
    * reverse-order inverses undo them correctly; `predictorMode` /
    * `colorElem` pick each tile's mode / packed element; `palette`
    * emits the COLOR_INDEXING path instead (exclusive of the others,
    * ≤256 distinct colors, bundled when ≤16); `cacheBits` > 0 enables
    * the color cache. */
  def encode(width: Int, height: Int, argb: Array[Int],
             subtractGreen: Boolean = false, cacheBits: Int = 0,
             predictorBits: Int = 0,
             predictorMode: (Int, Int) => Int = (_, _) => 7,
             colorBits: Int = 0,
             colorElem: (Int, Int) => Int = (_, _) => 0,
             palette: Boolean = false,
             metaBits: Int = 0,
             metaGroup: (Int, Int) => Int = null): Array[Byte] = {
    require(width >= 1 && width <= 16384 && height >= 1 && height <= 16384)
    require(argb.length == width * height)
    require(cacheBits >= 0 && cacheBits <= 11)
    require(predictorBits == 0 || (predictorBits >= 2 && predictorBits <= 9))
    require(colorBits == 0 || (colorBits >= 2 && colorBits <= 9))
    require(metaBits == 0 || (metaBits >= 2 && metaBits <= 9))
    require(!palette || (!subtractGreen && predictorBits == 0 &&
      colorBits == 0), "a palette composes with no other transform")
    val hasAlpha = argb.exists(p => (p >>> 24) != 0xff)
    val w = new BitWriter(msb = false, pad = 0)
    // header: signature byte is written by the byte assembler below
    w.bits(width - 1, 14)
    w.bits(height - 1, 14)
    w.bits(if (hasAlpha) 1 else 0, 1)
    w.bits(0, 3) // version
    if (palette) {
      val colors = scala.collection.mutable.LinkedHashSet[Int]()
      argb.foreach(colors += _)
      require(colors.size <= 256, "palette needs <= 256 distinct colors")
      val pal = colors.toArray
      val lookup = pal.zipWithIndex.toMap
      w.bits(1, 1); w.bits(3, 2) // COLOR_INDEXING
      w.bits(pal.length - 1, 8)
      val deltas = Array.tabulate(pal.length)(i =>
        if (i == 0) pal(0) else subPixels(pal(i), pal(i - 1)))
      writeCodedImage(w, pal.length, 1, deltas, 0, topLevel = false)
      w.bits(0, 1) // end of transforms
      val widthBits =
        if (pal.length <= 2) 3
        else if (pal.length <= 4) 2
        else if (pal.length <= 16) 1
        else 0
      val bpp = 8 >> widthBits
      val perByte = 1 << widthBits
      val effW = (width + perByte - 1) >> widthBits
      val bundled = new Array[Int](effW * height)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          val i = lookup(argb(y * width + x))
          val at = y * effW + (x >> widthBits)
          val shift = (x & (perByte - 1)) * bpp
          bundled(at) |= (i << shift) << 8 // indices live in GREEN
          x += 1
        }
        // opaque alpha on every bundled pixel (only green is decoded)
        var e = y * effW
        while (e < (y + 1) * effW) { bundled(e) |= 0xff000000; e += 1 }
        y += 1
      }
      writeCodedImage(w, effW, height, bundled, cacheBits,
        topLevel = true, metaBits = metaBits, groupOf = metaGroup)
      return Binary.riffWebp("VP8L", Array[Byte](0x2f) ++ w.bytes)
    }
    if (subtractGreen) { w.bits(1, 1); w.bits(2, 2) }
    var coded = argb.map { p =>
      if (!subtractGreen) p
      else {
        val a = p >>> 24; val r = (p >> 16) & 0xff
        val g = (p >> 8) & 0xff; val b = p & 0xff
        (a << 24) | (((r - g) & 0xff) << 16) | (g << 8) | ((b - g) & 0xff)
      }
    }
    if (predictorBits > 0) {
      w.bits(1, 1); w.bits(0, 2) // PREDICTOR
      w.bits(predictorBits - 2, 3)
      val (res, tiles) =
        forwardPredictor(coded, width, height, predictorBits, predictorMode)
      val tpr = (width + (1 << predictorBits) - 1) >> predictorBits
      val tpc = (height + (1 << predictorBits) - 1) >> predictorBits
      writeCodedImage(w, tpr, tpc, tiles, 0, topLevel = false)
      coded = res
    }
    if (colorBits > 0) {
      w.bits(1, 1); w.bits(1, 2) // COLOR
      w.bits(colorBits - 2, 3)
      val (res, tiles) =
        forwardColorTransform(coded, width, height, colorBits, colorElem)
      val tpr = (width + (1 << colorBits) - 1) >> colorBits
      val tpc = (height + (1 << colorBits) - 1) >> colorBits
      writeCodedImage(w, tpr, tpc, tiles, 0, topLevel = false)
      coded = res
    }
    w.bits(0, 1) // end of transforms
    writeCodedImage(w, width, height, coded, cacheBits,
      topLevel = true, metaBits = metaBits, groupOf = metaGroup)
    Binary.riffWebp("VP8L", Array[Byte](0x2f) ++ w.bytes)
  }

  /** One entropy-coded image stream: color-cache bit(s), the (absent
    * for sub-images) meta-Huffman bit, five channel codes, tokens. */
  private def writeCodedImage(w: BitWriter, width: Int, height: Int,
      coded: Array[Int], cacheBits: Int, topLevel: Boolean,
      metaBits: Int = 0, groupOf: (Int, Int) => Int = null): Unit = {
    if (cacheBits > 0) { w.bits(1, 1); w.bits(cacheBits, 4) }
    else w.bits(0, 1)
    val useMeta = topLevel && metaBits > 0 && groupOf != null
    // meta-Huffman: entropy image of group ids, then per-group codes
    val metaW = if (useMeta) (width + (1 << metaBits) - 1) >> metaBits else 1
    val metaH = if (useMeta) (height + (1 << metaBits) - 1) >> metaBits else 1
    val groupIds: Array[Int] =
      if (!useMeta) Array(0)
      else Array.tabulate(metaW * metaH)(i =>
        groupOf(i % metaW, i / metaW) & 0xffff)
    val nGroups = groupIds.max + 1
    if (topLevel) {
      if (!useMeta) w.bits(0, 1)
      else {
        w.bits(1, 1)
        w.bits(metaBits - 2, 3)
        val tiles = groupIds.map(g =>
          0xff000000 | ((g >> 8) << 16) | ((g & 0xff) << 8))
        writeCodedImage(w, metaW, metaH, tiles, 0, topLevel = false)
      }
    }
    def groupAt(pos: Int): Int =
      if (!useMeta) 0
      else groupIds(((pos / width) >> metaBits) * metaW +
        ((pos % width) >> metaBits))
    // token stream: Literal(argb) | Copy(len, dist) | CacheHit(idx),
    // each tagged with the Huffman group of its starting pixel
    sealed trait Tok
    case class Lit(p: Int) extends Tok
    case class Copy(len: Int, dist: Int) extends Tok
    case class Hit(idx: Int) extends Tok
    val cacheSize = if (cacheBits > 0) 1 << cacheBits else 0
    val cache = new Array[Int](math.max(cacheSize, 1))
    val cacheSet = new Array[Boolean](math.max(cacheSize, 1))
    def insert(p: Int): Unit = if (cacheBits > 0) {
      val i = cacheIndex(p, cacheBits); cache(i) = p; cacheSet(i) = true
    }
    val toks = scala.collection.mutable.ArrayBuffer[(Int, Tok)]()
    var pos = 0
    val n = coded.length
    while (pos < n) {
      // greedy: longest of a dist-1 or dist-width run (min useful 3)
      def runLen(dist: Int): Int = {
        if (pos < dist) 0
        else {
          var l = 0
          while (pos + l < n && l < MaxCopy &&
            coded(pos + l) == coded(pos + l - dist)) l += 1
          l
        }
      }
      val h = runLen(1)
      val v = runLen(width)
      val (len, dist) = if (h >= v) (h, 1) else (v, width)
      val g = groupAt(pos)
      if (len >= 3) {
        toks += ((g, Copy(len, dist)))
        var i = 0
        while (i < len) { insert(coded(pos + i)); i += 1 }
        pos += len
      } else {
        val p = coded(pos)
        if (cacheBits > 0 && cacheSet(cacheIndex(p, cacheBits)) &&
          cache(cacheIndex(p, cacheBits)) == p) {
          toks += ((g, Hit(cacheIndex(p, cacheBits))))
        } else {
          toks += ((g, Lit(p)))
        }
        insert(p)
        pos += 1
      }
    }
    // channel alphabets + used-symbol sets, PER GROUP (unused groups
    // still get readable dummy codes — the decoder reads max_id+1)
    val greenAlpha = 256 + 24 + cacheSize
    val usedG = Array.fill(nGroups)(scala.collection.mutable.SortedSet[Int]())
    val usedR = Array.fill(nGroups)(scala.collection.mutable.SortedSet[Int]())
    val usedB = Array.fill(nGroups)(scala.collection.mutable.SortedSet[Int]())
    val usedA = Array.fill(nGroups)(scala.collection.mutable.SortedSet[Int]())
    val usedD = Array.fill(nGroups)(scala.collection.mutable.SortedSet[Int]())
    toks.foreach {
      case (g, Lit(p)) =>
        usedG(g) += (p >> 8) & 0xff; usedR(g) += (p >> 16) & 0xff
        usedB(g) += p & 0xff; usedA(g) += p >>> 24
      case (g, Copy(len, dist)) =>
        usedG(g) += 256 + prefixEncode(len)._1
        usedD(g) += prefixEncode(dist + 120)._1
      case (g, Hit(idx)) => usedG(g) += 256 + 24 + idx
    }
    // every channel needs a readable code even if unused
    def writeChannelCode(alphabet: Int,
                         used: Seq[Int]): Array[Int] = {
      val syms = if (used.isEmpty) Seq(0) else used
      if (syms.length <= 2 && syms.max <= 255) {
        // simple form
        w.bits(1, 1)
        w.bits(syms.length - 1, 1)
        val is8 = if (syms.head > 1) 1 else 0
        w.bits(is8, 1)
        w.bits(syms.head, if (is8 == 1) 8 else 1)
        if (syms.length == 2) w.bits(syms(1), 8)
        val lengths = Array.fill(alphabet)(0)
        if (syms.length == 1) lengths(syms.head) = 1 // marker; 0-bit read
        else { lengths(syms.head) = 1; lengths(syms(1)) = 1 }
        lengths
      } else {
        w.bits(0, 1) // full form
        // one used symbol above the simple form's 8-bit cap (a group
        // whose only token is a copy or cache hit): transmit a single
        // length-1 entry — a single-symbol code reads and writes 0 bits
        val lengths =
          if (syms.length == 1) {
            val l = Array.fill(alphabet)(0); l(syms.head) = 1; l
          } else balancedLengths(alphabet, syms)
        // code-length code: balanced over the used CL symbols
        val runsEncoded = encodeLengthRuns(lengths)
        val usedCl = runsEncoded.map(_._1).distinct.sorted
        val clLengths = Array.fill(19)(0)
        if (usedCl.length == 1) clLengths(usedCl.head) = 1
        else balancedLengths(19, usedCl).copyToArray(clLengths)
        w.bits(15, 4) // num_code_lengths = 4 + 15 = 19
        ClOrder.foreach(s => w.bits(clLengths(s), 3))
        w.bits(0, 1) // no max_symbol cap: lengths cover the alphabet
        // a single-CL-symbol code writes (and reads) 0 bits
        val cl = Huffman.fromLengths(clLengths)
        runsEncoded.foreach { case (sym, extraBits, extraVal) =>
          cl.encode(w, sym)
          w.bits(extraVal, extraBits)
        }
        lengths
      }
    }
    // per-group code tables, written in group order 0..nGroups-1
    def channel(alphabet: Int, used: Seq[Int]): Huffman =
      Huffman.fromLengths(writeChannelCode(alphabet, used))
    val chans = Array.tabulate(nGroups) { g =>
      (channel(greenAlpha, usedG(g).toSeq), channel(256, usedR(g).toSeq),
        channel(256, usedB(g).toSeq), channel(256, usedA(g).toSeq),
        channel(40, usedD(g).toSeq))
    }
    toks.foreach {
      case (g, Lit(p)) =>
        val (cg, cr, cb, ca, _) = chans(g)
        cg.encode(w, (p >> 8) & 0xff)
        cr.encode(w, (p >> 16) & 0xff)
        cb.encode(w, p & 0xff)
        ca.encode(w, p >>> 24)
      case (g, Copy(len, dist)) =>
        val (cg, _, _, _, cd) = chans(g)
        val (lc, lb, lv) = prefixEncode(len)
        cg.encode(w, 256 + lc)
        w.bits(lv, lb)
        val (dc, db, dv) = prefixEncode(dist + 120)
        cd.encode(w, dc)
        w.bits(dv, db)
      case (g, Hit(idx)) =>
        val (cg, _, _, _, _) = chans(g)
        cg.encode(w, 256 + 24 + idx)
    }
  }

  /** Lengths array → (CL symbol, extraBits, extraValue) emissions with
    * zero-run codes 17 (3–10) and 18 (11–138). */
  private def encodeLengthRuns(lengths: Array[Int]): Seq[(Int, Int, Int)] = {
    val out = scala.collection.mutable.ArrayBuffer[(Int, Int, Int)]()
    var i = 0
    while (i < lengths.length) {
      if (lengths(i) == 0) {
        var run = 0
        while (i + run < lengths.length && lengths(i + run) == 0) run += 1
        var rem = run
        while (rem >= 11) {
          val take = math.min(rem, 138)
          out += ((18, 7, take - 11)); rem -= take
        }
        if (rem >= 3) { out += ((17, 3, rem - 3)); rem = 0 }
        while (rem > 0) { out += ((0, 0, 0)); rem -= 1 }
        i += run
      } else {
        out += ((lengths(i), 0, 0))
        i += 1
      }
    }
    out.toSeq
  }

  // ---- decoder ---------------------------------------------------------

  private final case class HuffGroup(g: Huffman, r: Huffman, b: Huffman,
      a: Huffman, d: Huffman)

  /** `n` bits as an Int: no VP8L field is wider than 18 bits. */
  private def bits(br: BitCursor, n: Int): Int = br.bits(n).toInt

  /** Decode a WebP VP8L file → (width, height, ARGB row-major). None on
    * malformation or an out-of-scope transform — never junk pixels. */
  def decode(b: Array[Byte]): Option[(Int, Int, Array[Int])] = ByteCursor.total {
    val meta = Binary.parseWebpMeta(b)
    if (!meta.exists(_.variant == "vp8l")) return None
    // payload begins after RIFF(12) + chunk header(8) + signature(1)
    val br = new BitCursor(b, 21L, b.length.toLong, msb = false)
    val width = bits(br, 14) + 1
    val height = bits(br, 14) + 1
    br.bits(1 + 3) // alpha hint + version (validated by parseWebpMeta)
    // transform list, read order recorded: inverses apply in REVERSE
    // read order (the encoder applied them forward in read order)
    var subtractGreen = false
    var predictor: Option[(Int, Array[Int])] = None // (sizeBits, tiles)
    var colorT: Option[(Int, Array[Int])] = None // (sizeBits, tiles)
    var palette: Option[(Int, Array[Int])] = None // (widthBits, colors)
    val order = scala.collection.mutable.ArrayBuffer[Int]()
    while (br.bit() == 1) {
      bits(br, 2) match {
        case 0 => // PREDICTOR: tile-mode sub-resolution image
          if (predictor.isDefined) return None
          val tb = bits(br, 3) + 2
          val subW = (width + (1 << tb) - 1) >> tb
          val subH = (height + (1 << tb) - 1) >> tb
          predictor = Some((tb, decodeSubImage(br, subW, subH)))
          order += 0
        case 1 => // COLOR: per-tile cross-color transform elements
          if (colorT.isDefined) return None
          val tb = bits(br, 3) + 2
          val subW = (width + (1 << tb) - 1) >> tb
          val subH = (height + (1 << tb) - 1) >> tb
          colorT = Some((tb, decodeSubImage(br, subW, subH)))
          order += 1
        case 2 =>
          if (subtractGreen) return None
          subtractGreen = true
          order += 2
        case _ => // COLOR_INDEXING: delta-coded palette sub-image
          if (palette.isDefined) return None
          val tableSize = bits(br, 8) + 1
          val pal = decodeSubImage(br, tableSize, 1)
          var i = 1
          while (i < pal.length) { // entries are per-channel deltas
            pal(i) = addPixels(pal(i), pal(i - 1)); i += 1
          }
          val widthBits =
            if (tableSize <= 2) 3
            else if (tableSize <= 4) 2
            else if (tableSize <= 16) 1
            else 0
          palette = Some((widthBits, pal))
          order += 3
      }
    }
    // scope: a palette composes with no other transform here (libwebp's
    // encoder never combines them either — the combination would make
    // every other transform operate at the bundled width)
    if (palette.isDefined && order.length > 1) return None
    val effWidth = palette match {
      case Some((wb, _)) => (width + (1 << wb) - 1) >> wb
      case None => width
    }
    val cacheBits = if (br.bit() == 1) bits(br, 4) else 0
    if (cacheBits > 11) return None
    val cacheSize = if (cacheBits > 0) 1 << cacheBits else 0
    // optional meta-Huffman: an entropy image maps each tile to one of
    // N Huffman groups, read sequentially after it (group index packs
    // as (red << 8) | green); the color cache stays shared
    val (groups, metaBits, metaTiles) =
      if (br.bit() == 1) {
        val mb = bits(br, 3) + 2
        val mw = (effWidth + (1 << mb) - 1) >> mb
        val mh = (height + (1 << mb) - 1) >> mb
        val idx = decodeSubImage(br, mw, mh).map(p => (p >> 8) & 0xffff)
        val nG = idx.max + 1
        (Array.fill(nG)(readGroup(br, cacheSize)), mb, idx)
      } else (Array(readGroup(br, cacheSize)), 0, null)
    if (width.toLong * height > 64 * 1024 * 1024) return None
    var px = decodePixelData(br, effWidth, height, cacheBits,
      groups, metaBits, metaTiles)
    order.reverseIterator.foreach {
      case 0 =>
        val (tb, tiles) = predictor.get
        inversePredictor(px, width, height, tb, tiles)
      case 1 =>
        val (tb, tiles) = colorT.get
        inverseColorTransform(px, width, height, tb, tiles)
      case 2 => addGreenInverse(px)
      case _ =>
        val (wb, pal) = palette.get
        px = expandPalette(px, width, height, effWidth, wb, pal)
    }
    Some((width, height, px))
  }

  /** Sub-resolution image stream (transform data): optional color
    * cache + ONE Huffman group + pixel data — no transform list and no
    * meta-Huffman bit (the spec recurses only at the top level). */
  private def decodeSubImage(br: BitCursor, width: Int,
      height: Int): Array[Int] = {
    val cacheBits = if (br.bit() == 1) bits(br, 4) else 0
    if (cacheBits > 11) ByteCursor.reject()
    val grp = readGroup(br, if (cacheBits > 0) 1 << cacheBits else 0)
    decodePixelData(br, width, height, cacheBits, Array(grp), 0, null)
  }

  private def readGroup(br: BitCursor, cacheSize: Int): HuffGroup =
    HuffGroup(readCode(br, 256 + 24 + cacheSize), readCode(br, 256),
      readCode(br, 256), readCode(br, 256), readCode(br, 40))

  private def readCode(br: BitCursor, alphabet: Int): Huffman = {
    val lengths = Array.fill(alphabet)(0)
    if (br.bit() == 1) { // simple: one or two symbols of length 1
      val numSym = br.bit() + 1
      val s0 = bits(br, if (br.bit() == 1) 8 else 1)
      if (s0 >= alphabet) ByteCursor.reject()
      lengths(s0) = 1
      if (numSym == 2) {
        val s1 = bits(br, 8)
        if (s1 >= alphabet) ByteCursor.reject()
        lengths(s1) = 1
      }
    } else {
      val numCl = 4 + bits(br, 4)
      val clLengths = Array.fill(19)(0)
      var i = 0
      while (i < numCl) { clLengths(ClOrder(i)) = bits(br, 3); i += 1 }
      val cl = Huffman.fromLengths(clLengths)
      var maxSymbol =
        if (br.bit() == 1) 2 + bits(br, 2 + 2 * bits(br, 3))
        else alphabet
      var sym = 0
      var prev = 8
      while (sym < alphabet && maxSymbol > 0) {
        maxSymbol -= 1
        val c = cl.decode(br)
        if (c < 16) {
          lengths(sym) = c; sym += 1
          if (c != 0) prev = c
        } else {
          val (repeat, fill) = c match {
            case 16 => (3 + bits(br, 2), prev)
            case 17 => (3 + bits(br, 3), 0)
            case _ => (11 + bits(br, 7), 0) // 18, the last CL symbol
          }
          if (sym + repeat > alphabet) ByteCursor.reject()
          var k = 0
          while (k < repeat) { lengths(sym) = fill; sym += 1; k += 1 }
        }
      }
    }
    Huffman.fromLengths(lengths)
  }

  private def decodePixelData(br: BitCursor, width: Int, height: Int,
      cacheBits: Int, groups: Array[HuffGroup], metaBits: Int,
      metaTiles: Array[Int]): Array[Int] = {
    val cacheSize = if (cacheBits > 0) 1 << cacheBits else 0
    val n = width * height
    val px = new Array[Int](n)
    val cache = new Array[Int](math.max(cacheSize, 1))
    def insert(p: Int): Unit =
      if (cacheBits > 0) cache(cacheIndex(p, cacheBits)) = p
    val metaW = if (metaTiles == null) 0
      else (width + (1 << metaBits) - 1) >> metaBits
    var pos = 0
    while (pos < n) {
      val grp =
        if (metaTiles == null) groups(0)
        else groups(metaTiles(
          ((pos / width) >> metaBits) * metaW + ((pos % width) >> metaBits)))
      val g = grp.g.decode(br)
      if (g < 256) {
        val r = grp.r.decode(br); val bl = grp.b.decode(br)
        val a = grp.a.decode(br)
        val p = (a << 24) | (r << 16) | (g << 8) | bl
        px(pos) = p; insert(p); pos += 1
      } else if (g < 256 + 24) {
        val len = prefixDecode(g - 256, br)
        val dist = planeCodeToDistance(width,
          prefixDecode(grp.d.decode(br), br))
        if (dist > pos || pos + len > n) ByteCursor.reject()
        var k = 0
        while (k < len) {
          val p = px(pos - dist)
          px(pos) = p; insert(p); pos += 1; k += 1
        }
      } else {
        val idx = g - 256 - 24
        if (cacheBits == 0 || idx >= cacheSize) ByteCursor.reject()
        val p = cache(idx)
        px(pos) = p; insert(p); pos += 1
      }
    }
    px
  }

  /** In-place SUBTRACT_GREEN inverse: add green back to red/blue. */
  private def addGreenInverse(px: Array[Int]): Unit = {
    var i = 0
    while (i < px.length) {
      val p = px(i)
      val gch = (p >> 8) & 0xff
      val r = (((p >> 16) & 0xff) + gch) & 0xff
      val bl = ((p & 0xff) + gch) & 0xff
      px(i) = (p & 0xff00ff00) | (r << 16) | bl
      i += 1
    }
  }

  // ---- predictor transform (spec §4.2.2) --------------------------------

  /** Per-channel mod-256 pixel add (libwebp VP8LAddPixels: channel
    * carries fall into bits the masks clear). */
  @inline private def addPixels(a: Int, b: Int): Int = {
    val ag = ((a & 0xff00ff00) + (b & 0xff00ff00)) & 0xff00ff00
    val rb = ((a & 0x00ff00ff) + (b & 0x00ff00ff)) & 0x00ff00ff
    ag | rb
  }

  /** Per-channel mod-256 pixel subtract (encoder side). */
  @inline private def subPixels(a: Int, b: Int): Int = {
    val al = ((a >>> 24) - (b >>> 24)) & 0xff
    val r = (((a >> 16) & 0xff) - ((b >> 16) & 0xff)) & 0xff
    val g = (((a >> 8) & 0xff) - ((b >> 8) & 0xff)) & 0xff
    val bl = ((a & 0xff) - (b & 0xff)) & 0xff
    (al << 24) | (r << 16) | (g << 8) | bl
  }

  /** Per-channel floor average (carry-safe bit trick). */
  @inline private def avg2(a: Int, b: Int): Int =
    (((a ^ b) & 0xfefefefe) >>> 1) + (a & b)

  @inline private def clamp255(v: Int): Int =
    if (v < 0) 0 else if (v > 255) 255 else v

  /** Mode 11: pick L or T, whichever is closer (L1 over channels) to
    * the gradient prediction L+T−TL; ties go to T (libwebp Select). */
  private def select(l: Int, t: Int, tl: Int): Int = {
    var paMinusPb = 0
    var s = 0
    while (s < 32) {
      val lc = (l >>> s) & 0xff; val tc = (t >>> s) & 0xff
      val tlc = (tl >>> s) & 0xff
      paMinusPb += math.abs(lc - tlc) - math.abs(tc - tlc)
      s += 8
    }
    if (paMinusPb <= 0) t else l
  }

  /** Mode 12: per-channel clamp(L + T − TL) to [0, 255]. */
  private def casFull(l: Int, t: Int, tl: Int): Int = {
    var out = 0
    var s = 0
    while (s < 32) {
      val v = clamp255(((l >>> s) & 0xff) + ((t >>> s) & 0xff) -
        ((tl >>> s) & 0xff))
      out |= v << s
      s += 8
    }
    out
  }

  /** Mode 13: per-channel clamp(ave + (ave − TL)/2), ave = avg2(L, T);
    * the halving truncates toward zero (C semantics, matched). */
  private def casHalf(l: Int, t: Int, tl: Int): Int = {
    val ave = avg2(l, t)
    var out = 0
    var s = 0
    while (s < 32) {
      val m = (ave >>> s) & 0xff
      val v = clamp255(m + (m - ((tl >>> s) & 0xff)) / 2)
      out |= v << s
      s += 8
    }
    out
  }

  /** Prediction for the pixel at flat index `idx` = (x, y), reading
    * already-final neighbor values from `buf` (reconstructed pixels on
    * decode, original pixels on encode — identical by construction).
    * Border rules: (0,0) predicts opaque black, row 0 predicts L,
    * column 0 predicts T; otherwise `mode`. The top-right neighbor of
    * the rightmost column wraps to the current row's first pixel
    * (contiguous-buffer semantics the spec codifies). A mode above 13
    * never gets here: both callers check it first (-1 below).
    */
  private def predictAt(buf: Array[Int], idx: Int, x: Int, y: Int,
      width: Int, mode: Int): Int = {
    if (y == 0) { if (x == 0) 0xff000000 else buf(idx - 1) }
    else if (x == 0) buf(idx - width)
    else {
      val l = buf(idx - 1); val t = buf(idx - width)
      val tl = buf(idx - width - 1); val tr = buf(idx - width + 1)
      mode match {
        case 0 => 0xff000000
        case 1 => l
        case 2 => t
        case 3 => tr
        case 4 => tl
        case 5 => avg2(avg2(l, tr), t)
        case 6 => avg2(l, tl)
        case 7 => avg2(l, t)
        case 8 => avg2(tl, t)
        case 9 => avg2(t, tr)
        case 10 => avg2(avg2(l, tl), avg2(t, tr))
        case 11 => select(l, t, tl)
        case 12 => casFull(l, t, tl)
        case 13 => casHalf(l, t, tl)
        case _ => -1
      }
    }
  }

  /** In-place inverse predictor: residuals become pixels top-left to
    * bottom-right (predictions only read already-reconstructed
    * indices). Tile modes are the GREEN channel of the sub-image.
    * Rejects a mode above 13 (malformed, not junk pixels). */
  private def inversePredictor(px: Array[Int], width: Int, height: Int,
      bits: Int, tiles: Array[Int]): Unit = {
    val tilesPerRow = (width + (1 << bits) - 1) >> bits
    var idx = 0
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        val mode =
          if (x == 0 || y == 0) 1 // border rules ignore the tile mode
          else (tiles((y >> bits) * tilesPerRow + (x >> bits)) >> 8) & 0xff
        if (mode > 13) ByteCursor.reject()
        px(idx) = addPixels(px(idx), predictAt(px, idx, x, y, width, mode))
        x += 1; idx += 1
      }
      y += 1
    }
  }

  // ---- color transform (spec §4.2.3) -------------------------------------

  /** (t · c) >> 5 with both operands as signed 8-bit (libwebp
    * ColorTransformDelta). */
  @inline private def ctDelta(t: Int, c: Int): Int =
    (t.toByte * c.toByte) >> 5

  /** In-place inverse cross-color transform: each tile's element packs
    * red_to_blue in RED, green_to_blue in GREEN, green_to_red in BLUE.
    * red restores first; its restored int8 view feeds red_to_blue
    * (bitwise libwebp VP8LTransformColorInverse). */
  private def inverseColorTransform(px: Array[Int], width: Int,
      height: Int, bits: Int, tiles: Array[Int]): Unit = {
    val tpr = (width + (1 << bits) - 1) >> bits
    var idx = 0
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        val t = tiles((y >> bits) * tpr + (x >> bits))
        val g2r = (t & 0xff); val g2b = (t >> 8) & 0xff
        val r2b = (t >> 16) & 0xff
        val p = px(idx)
        val green = (p >> 8) & 0xff
        var red = (p >> 16) & 0xff
        var blue = p & 0xff
        red = (red + ctDelta(g2r, green)) & 0xff
        blue = blue + ctDelta(g2b, green) + ctDelta(r2b, red)
        blue &= 0xff
        px(idx) = (p & 0xff00ff00) | (red << 16) | blue
        x += 1; idx += 1
      }
      y += 1
    }
  }

  /** Forward cross-color (encoder): subtract the deltas; red_to_blue
    * uses the ORIGINAL red — the value the inverse will have restored. */
  private def forwardColorTransform(px: Array[Int], width: Int,
      height: Int, bits: Int, elemOf: (Int, Int) => Int)
      : (Array[Int], Array[Int]) = {
    val tpr = (width + (1 << bits) - 1) >> bits
    val tpc = (height + (1 << bits) - 1) >> bits
    val tiles = Array.tabulate(tpr * tpc) { i =>
      0xff000000 | (elemOf(i % tpr, i / tpr) & 0xffffff)
    }
    val res = new Array[Int](px.length)
    var idx = 0
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        val t = tiles((y >> bits) * tpr + (x >> bits))
        val g2r = t & 0xff; val g2b = (t >> 8) & 0xff
        val r2b = (t >> 16) & 0xff
        val p = px(idx)
        val green = (p >> 8) & 0xff
        val red = (p >> 16) & 0xff
        var newRed = red - ctDelta(g2r, green)
        newRed &= 0xff
        var newBlue = (p & 0xff) - ctDelta(g2b, green) - ctDelta(r2b, red)
        newBlue &= 0xff
        res(idx) = (p & 0xff00ff00) | (newRed << 16) | newBlue
        x += 1; idx += 1
      }
      y += 1
    }
    (res, tiles)
  }

  // ---- color-indexing transform (spec §4.2.4) -----------------------------

  /** Bundled-index image → full-size pixels: each coded GREEN byte
    * holds 1<<widthBits indices of 8>>widthBits bits (LSB-first along
    * x); an index at or past the table maps to 0x00000000 (spec). */
  private def expandPalette(px: Array[Int], width: Int, height: Int,
      effWidth: Int, widthBits: Int, pal: Array[Int]): Array[Int] = {
    val out = new Array[Int](width * height)
    val bpp = 8 >> widthBits
    val perByte = 1 << widthBits
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        val packed = (px(y * effWidth + (x >> widthBits)) >> 8) & 0xff
        val shift = (x & (perByte - 1)) * bpp
        val i = (packed >> shift) & ((1 << bpp) - 1)
        out(y * width + x) = if (i < pal.length) pal(i) else 0
        x += 1
      }
      y += 1
    }
    out
  }

  /** Forward predictor (encoder): residual image + the tile-mode
    * sub-image (mode in GREEN, alpha 0xff). Predictions read the
    * ORIGINAL pixels — exactly the values the decoder will have
    * reconstructed at those indices. */
  private def forwardPredictor(px: Array[Int], width: Int, height: Int,
      bits: Int, modeOf: (Int, Int) => Int): (Array[Int], Array[Int]) = {
    val tilesPerRow = (width + (1 << bits) - 1) >> bits
    val tilesPerCol = (height + (1 << bits) - 1) >> bits
    val tiles = Array.tabulate(tilesPerRow * tilesPerCol) { i =>
      val m = modeOf(i % tilesPerRow, i / tilesPerRow)
      require(m >= 0 && m <= 13, s"predictor mode $m out of range")
      0xff000000 | (m << 8)
    }
    val res = new Array[Int](px.length)
    var idx = 0
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        val mode =
          if (x == 0 || y == 0) 1
          else (tiles((y >> bits) * tilesPerRow + (x >> bits)) >> 8) & 0xff
        res(idx) = subPixels(px(idx), predictAt(px, idx, x, y, width, mode))
        x += 1; idx += 1
      }
      y += 1
    }
    (res, tiles)
  }

  // ---- fixtures + column wrappers ---------------------------------------

  /** Deterministic synthetic image per id: a 5-color closed-form
    * palette over 4-pixel horizontal cells (so LZ77 runs and cache
    * hits both bite), dims 16+id%17 × 16+id%13, with the encoder path
    * cycling transform/cache settings by id — every decoded channel
    * sum is a closed form of (id, x, y) the SQL oracle can replay. */
  def synthVp8l(id: Long): Array[Byte] = {
    val w = (16 + id % 17).toInt
    val h = (16 + id % 13).toInt
    val px = Array.tabulate(w * h) { i =>
      val x = i % w; val y = i / w
      val c = (x / 4 + y + id) % 5
      val r = ((c * 50 + id) % 256).toInt
      val g = ((c * 33 + 2 * id) % 256).toInt
      val b = ((c * 77 + 3 * id) % 256).toInt
      (0xff << 24) | (r << 16) | (g << 8) | b
    }
    // every 7th fixture takes the palette path (the 5-color image
    // bundles 2 px/byte); the rest cycle subtract-green, predictor
    // (block bits 2..4, all 14 modes over tiles), cross-color, and
    // cache combinations — decode recovers identical pixels in every
    // combination, so the oracle's closed form never changes
    val isPalette = id % 7 == 3
    encode(w, h, px,
      subtractGreen = !isPalette && id % 2 == 0,
      cacheBits = if (id % 3 == 0) 6 else 0,
      predictorBits = if (!isPalette && id % 5 < 3) (2 + id % 3).toInt else 0,
      predictorMode = (tx, ty) => ((tx + ty + id) % 14).toInt,
      colorBits = if (!isPalette && id % 4 == 1) (2 + id % 2).toInt else 0,
      colorElem = (tx, ty) => ((((tx * 29 + ty * 17 + id) % 256) << 16) |
        (((tx * 7 + id) % 256) << 8) | ((ty * 13 + id) % 256)).toInt,
      palette = isPalette,
      metaBits = if (id % 11 == 2) 3 else 0,
      metaGroup = (tx, ty) => ((tx + ty + id) % 3).toInt)
  }

  def synthVp8lCol(c: Column): Column =
    udf { id: Long => synthVp8l(id) }.apply(c)

  /** Decode → (width, height, Σr, Σg, Σb) for the oracle row. */
  def statsCol(c: Column): Column =
    udf { b: Array[Byte] =>
      decode(b).map { case (w, h, px) =>
        var sr = 0L; var sg = 0L; var sb = 0L
        px.foreach { p =>
          sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
        }
        (w, h, sr, sg, sb)
      }
    }.apply(c)
}
