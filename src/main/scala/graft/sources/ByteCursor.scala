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
