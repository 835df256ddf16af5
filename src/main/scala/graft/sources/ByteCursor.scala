package graft.sources

import java.nio.charset.StandardCharsets

import scala.util.control.ControlThrowable

/** The one bounds-checked byte reader every parser in `sources` and
  * `multimodal` reads multi-byte fields through.
  *
  * Totality lives here: every read returns its value, or throws the
  * shared [[ByteCursor.Reject]] when it would cross `end`, and
  * [[ByteCursor.total]] is the one place that turns a Reject into
  * `None`. Each public parser runs its body inside `total`. Offsets
  * are Long and checked against an explicit `end` (≤ the buffer
  * length) BEFORE any narrowing, so a crafted unsigned 32-bit size can
  * neither truncate into a negative Int index nor step the cursor
  * backwards; any offset or length past `Int.MaxValue` is simply out
  * of range.
  *
  * Fixed-width reads come in two forms: `le32(at)` reads at an
  * absolute offset and leaves `pos` alone; `le32()` reads at `pos` and
  * advances it on success only. `varint` (LEB128, capped at 10 bytes)
  * and `zigzag` are sequential. The companion holds the matching
  * encoders the fixtures build their bytes with.
  *
  * The window itself must lie inside the buffer: parsers open
  * sub-cursors only over spans an earlier read has bounded, so a bad
  * window is a program error and the constructor throws on it.
  */
final class ByteCursor(val buf: Array[Byte], var pos: Long, val end: Long) {
  require(end >= 0L && end <= buf.length && pos >= 0L,
    s"cursor window [$pos, $end) outside a ${buf.length}-byte buffer")

  /** True when the `n` bytes at `at` lie inside `[0, end)`. */
  def has(at: Long, n: Long): Boolean = at >= 0L && n >= 0L && at <= end - n

  /** The buffer index of the `n` bytes at `at`, or a Reject. */
  private def index(at: Long, n: Long): Int =
    if (has(at, n)) at.toInt else throw ByteCursor.Reject

  /** Unsigned `n`-byte (1..8) little-endian value at `at`. */
  def le(at: Long, n: Int): Long = {
    val i = index(at, n)
    var v = 0L; var k = n - 1
    while (k >= 0) { v = (v << 8) | (buf(i + k) & 0xffL); k -= 1 }
    v
  }

  /** Unsigned `n`-byte (1..8) big-endian value at `at`. */
  def be(at: Long, n: Int): Long = {
    val i = index(at, n)
    var v = 0L; var k = 0
    while (k < n) { v = (v << 8) | (buf(i + k) & 0xffL); k += 1 }
    v
  }

  /** `le` or `be` by a byte-order flag read from the data (TIFF, pcap). */
  def uint(at: Long, n: Int, little: Boolean): Long =
    if (little) le(at, n) else be(at, n)

  def u8(at: Long): Int = buf(index(at, 1)) & 0xff
  def le16(at: Long): Int = {
    val i = index(at, 2)
    (buf(i) & 0xff) | (buf(i + 1) & 0xff) << 8
  }
  def le32(at: Long): Long = le(at, 4)
  def le64(at: Long): Long = le(at, 8)
  def be16(at: Long): Int = {
    val i = index(at, 2)
    (buf(i) & 0xff) << 8 | (buf(i + 1) & 0xff)
  }
  def be32(at: Long): Long = be(at, 4)
  def be64(at: Long): Long = be(at, 8)

  /** Four bytes at `at` as an ASCII tag (box type, chunk id). */
  def fourcc(at: Long): String =
    new String(buf, index(at, 4), 4, StandardCharsets.US_ASCII)

  /** A copy of the `n` bytes at `at`. */
  def bytes(at: Long, n: Long): Array[Byte] = {
    val i = index(at, n)
    java.util.Arrays.copyOfRange(buf, i, i + n.toInt)
  }

  /** True when `s` (ASCII) sits at `at`. */
  def tagAt(at: Long, s: String): Boolean =
    has(at, s.length) && {
      val i = at.toInt
      var k = 0
      while (k < s.length && buf(i + k) == s.charAt(k).toByte) k += 1
      k == s.length
    }

  def u8(): Int = { val v = u8(pos); pos += 1; v }
  def le16(): Int = { val v = le16(pos); pos += 2; v }
  def le32(): Long = { val v = le(pos, 4); pos += 4; v }
  def le64(): Long = { val v = le(pos, 8); pos += 8; v }
  def be16(): Int = { val v = be16(pos); pos += 2; v }
  def be32(): Long = { val v = be(pos, 4); pos += 4; v }
  def be64(): Long = { val v = be(pos, 8); pos += 8; v }
  def be(n: Int): Long = { val v = be(pos, n); pos += n; v }
  def fourcc(): String = { val v = fourcc(pos); pos += 4; v }
  def bytes(n: Long): Array[Byte] = { val v = bytes(pos, n); pos += n; v }
  def skip(n: Long): Unit = { index(pos, n); pos += n }

  /** ISO-BMFF boxes in `[pos, end)`, each as its fourcc plus a cursor
    * over its body. A 32-bit size of 1 promotes to the 64-bit
    * largesize, 0 runs to `end`. A size smaller than its own header or
    * reaching past `end` rejects, so every step moves forward and a
    * crafted size can never loop. */
  def boxes(): Iterator[(String, ByteCursor)] =
    new Iterator[(String, ByteCursor)] {
      private var at = pos
      def hasNext: Boolean = has(at, 8)
      def next(): (String, ByteCursor) = {
        val typ = fourcc(at + 4)
        val (body, boxEnd) = be32(at) match {
          case 1L => (at + 16, at + be64(at + 8))
          case 0L => (at + 8, end)
          case s => (at + 8, at + s)
        }
        if (body > boxEnd || boxEnd > end) throw ByteCursor.Reject
        at = boxEnd
        (typ, new ByteCursor(buf, body, boxEnd))
      }
    }

  /** Unsigned LEB128; more than 10 bytes is not a varint. */
  def varint(): Long = {
    var v = 0L; var shift = 0; var p = pos
    while (shift <= 63) {
      val byt = u8(p)
      p += 1
      v |= (byt & 0x7fL) << shift
      if ((byt & 0x80) == 0) { pos = p; return v }
      shift += 7
    }
    throw ByteCursor.Reject
  }

  /** Zigzag-decoded LEB128 (protobuf sint64, Avro long, thrift i64). */
  def zigzag(): Long = { val v = varint(); (v >>> 1) ^ -(v & 1L) }
}

object ByteCursor {

  def apply(b: Array[Byte]): ByteCursor = new ByteCursor(b, 0L, b.length.toLong)

  /** What a read past `end`, or a parser's [[reject]], throws: one
    * shared instance with no stack trace and no reason code. As a
    * ControlThrowable it passes `NonFatal`, `Try` and the parsers'
    * narrow JDK catches, up to the enclosing [[total]]. */
  object Reject extends ControlThrowable

  /** Rejects the input being parsed: malformed where no read failed. */
  def reject(): Nothing = throw Reject

  /** Runs a parser body; a Reject anywhere inside it is `None`. The
    * only catch of Reject. The body must return a built value, never a
    * lazy view whose reads would run after `total` has returned. */
  def total[A](body: => Option[A]): Option[A] =
    try body catch { case Reject => None }

  // ---- encoders (fixtures) ------------------------------------------ //

  /** Low `n` bytes of `v`, little-endian. */
  def le(v: Long, n: Int): Array[Byte] =
    Array.tabulate(n)(k => (v >>> (8 * k)).toByte)
  /** Low `n` bytes of `v`, big-endian. */
  def be(v: Long, n: Int): Array[Byte] =
    Array.tabulate(n)(k => (v >>> (8 * (n - 1 - k))).toByte)

  def uint(v: Long, n: Int, little: Boolean): Array[Byte] =
    if (little) le(v, n) else be(v, n)

  def le16(v: Long): Array[Byte] = le(v, 2)
  def le24(v: Long): Array[Byte] = le(v, 3)
  def le32(v: Long): Array[Byte] = le(v, 4)
  def le64(v: Long): Array[Byte] = le(v, 8)
  def be16(v: Long): Array[Byte] = be(v, 2)
  def be24(v: Long): Array[Byte] = be(v, 3)
  def be32(v: Long): Array[Byte] = be(v, 4)
  def be64(v: Long): Array[Byte] = be(v, 8)

  /** Unsigned LEB128 of all 64 bits (a negative value takes 10 bytes). */
  def varint(v0: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(10)
    var v = v0
    while ((v & ~0x7fL) != 0L) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
    out.toByteArray
  }

  /** Zigzag-then-LEB128: small magnitudes of either sign stay short. */
  def zigzag(v: Long): Array[Byte] = varint((v << 1) ^ (v >> 63))
}

/** The one bit reader: JPEG, FLAC, WebP lossless (VP8L) and GIF read
  * their entropy-coded data through it. It walks the byte window
  * `[from, end)` of `buf` bit by bit in one order, fixed when it is
  * built, as `ByteCursor.uint` takes a byte-order flag: `msb` takes each
  * byte's bits from the top (T.81, RFC 9639), otherwise from the bottom
  * (the WebP lossless bitstream, GIF's LZW codes). `bits(n)` puts the
  * first bit read at the top of its value in MSB order and at the
  * bottom in LSB order. A read past `end` throws the shared
  * [[ByteCursor.Reject]], so a parser runs it inside `ByteCursor.total`
  * and never checks a sentinel. A bad window is a program error, as
  * for `ByteCursor`.
  */
final class BitCursor(buf: Array[Byte], from: Long, end: Long,
                      msb: Boolean) {
  require(from >= 0L && from <= end && end <= buf.length,
    s"bit window [$from, $end) outside a ${buf.length}-byte buffer")

  private val stop = end.toInt
  private var next = from.toInt // the next byte to load
  private var cur = 0 // the loaded byte
  private var left = 0 // its unread bits

  private def load(): Unit = {
    if (next >= stop) throw ByteCursor.Reject
    cur = buf(next) & 0xff; next += 1; left = 8
  }

  def bit(): Int = {
    if (left == 0) load()
    left -= 1
    (if (msb) cur >> left else cur >> (7 - left)) & 1
  }

  /** `n` (0..64) bits as one unsigned value. */
  def bits(n: Int): Long = {
    var v = 0L; var got = 0
    while (got < n) { // whole runs of the loaded byte at a time
      if (left == 0) load()
      val k = math.min(n - got, left)
      val run = (if (msb) cur >> (left - k) else cur >> (8 - left)) & ((1 << k) - 1)
      v = if (msb) (v << k) | run else v | (run.toLong << got)
      left -= k; got += k
    }
    v
  }

  /** The number of 0 bits before the next 1; more than `max` rejects. */
  def unary(max: Int): Int = {
    var q = 0
    while (bit() == 0) { q += 1; if (q > max) ByteCursor.reject() }
    q
  }

  /** Skips the rest of a partly read byte. */
  def align(): Unit = left = 0

  /** The offset of the first byte no read has touched. */
  def pos: Long = next
}

/** The one bit writer, [[BitCursor]]'s mirror in the same bit order.
  * `pad` fills the last partial byte: T.81 pads with 1 bits, FLAC,
  * WebP lossless and GIF with 0 bits. Format framing (JPEG's 0xFF
  * stuffing, markers, CRCs) stays with the format's encoder.
  */
final class BitWriter(msb: Boolean, pad: Int) {
  private val out = new java.io.ByteArrayOutputStream()
  private var acc = 0
  private var nb = 0

  private def put(b: Int): Unit = {
    acc |= (b & 1) << (if (msb) 7 - nb else nb)
    nb += 1
    if (nb == 8) { out.write(acc); acc = 0; nb = 0 }
  }

  /** The low `n` bits of `v`, read back by `BitCursor.bits(n)`. */
  def bits(v: Long, n: Int): Unit =
    if (msb) { var i = n - 1; while (i >= 0) { put((v >>> i).toInt); i -= 1 } }
    else { var i = 0; while (i < n) { put((v >>> i).toInt); i += 1 } }

  /** A `len`-bit Huffman code, its top bit first in either order. */
  def code(c: Int, len: Int): Unit = {
    var i = len - 1
    while (i >= 0) { put(c >>> i); i -= 1 }
  }

  /** Pads to the next byte boundary. */
  def align(): Unit = while (nb != 0) put(pad)

  /** Everything written, padded to whole bytes. */
  def bytes: Array[Byte] = { align(); out.toByteArray }
}

/** One canonical Huffman code (T.81 Annex C, RFC 1951 §3.2.2):
  * `counts(l - 1)` codes of each length l in 1..16, assigned in order to
  * `symbols`, each length's codes following the last code of the
  * length before, shifted up one bit. `decode` is the T.81 F.16
  * min/max-code decoder, MSB of the code first in either bit order; a
  * code no length matches rejects. `encode` writes a symbol's code.
  * Built by [[Huffman.apply]] from a JPEG DHT (BITS, HUFFVAL) or by
  * [[Huffman.fromLengths]] from per-symbol code lengths (WebP lossless).
  */
final class Huffman private (val counts: Array[Int], val symbols: Array[Int],
                             single: Int) {
  private val minCode = new Array[Int](17)
  private val maxCode = new Array[Int](17)
  private val valPtr = new Array[Int](17)
  locally {
    var code = 0; var k = 0; var l = 1
    while (l <= 16) {
      valPtr(l) = k
      minCode(l) = code
      code += counts(l - 1); k += counts(l - 1)
      maxCode(l) = code - 1
      code <<= 1
      l += 1
    }
    require(k == symbols.length, "the counts must cover every symbol")
  }

  def decode(r: BitCursor): Int = {
    if (single >= 0) return single
    var code = 0; var l = 1
    while (l <= 16) {
      code = (code << 1) | r.bit()
      if (counts(l - 1) > 0 && code >= minCode(l) && code <= maxCode(l))
        return symbols(valPtr(l) + code - minCode(l))
      l += 1
    }
    ByteCursor.reject()
  }

  // each symbol's code and length (0: not in the code); only the
  // encoders need them, so a decoder never builds them
  private lazy val (codeOf, lenOf) = {
    val n = if (symbols.isEmpty) 0 else symbols.max + 1
    val code = new Array[Int](n); val len = new Array[Int](n)
    var c = 0; var k = 0; var l = 1
    while (l <= 16) {
      var i = 0
      while (i < counts(l - 1)) {
        code(symbols(k)) = c; len(symbols(k)) = l
        c += 1; k += 1; i += 1
      }
      c <<= 1
      l += 1
    }
    (code, len)
  }

  /** Writes `sym`'s code; a single-symbol code writes nothing. */
  def encode(w: BitWriter, sym: Int): Unit = if (single < 0) {
    require(sym < lenOf.length && lenOf(sym) > 0,
      f"symbol 0x$sym%02x not in the code")
    w.code(codeOf(sym), lenOf(sym))
  }
}

object Huffman {

  /** The code a JPEG DHT carries: BITS (16 counts) and HUFFVAL. */
  def apply(counts: Array[Int], symbols: Array[Int]): Huffman = {
    require(counts.length == 16, "one count per code length 1..16")
    new Huffman(counts, symbols, -1)
  }

  /** The code of per-symbol lengths (0 = unused, at most 16), symbols
    * ordered by length, then by symbol. A code of one used symbol
    * reads and writes 0 bits, as WebP lossless specifies. */
  def fromLengths(lengths: Array[Int]): Huffman = {
    val counts = new Array[Int](16)
    var s = 0
    while (s < lengths.length) {
      if (lengths(s) > 0) counts(lengths(s) - 1) += 1
      s += 1
    }
    val next = counts.scanLeft(0)(_ + _) // first slot of each length
    val symbols = new Array[Int](next(16))
    s = 0
    while (s < lengths.length) {
      val l = lengths(s)
      if (l > 0) { symbols(next(l - 1)) = s; next(l - 1) += 1 }
      s += 1
    }
    new Huffman(counts, symbols, if (symbols.length == 1) symbols(0) else -1)
  }
}
