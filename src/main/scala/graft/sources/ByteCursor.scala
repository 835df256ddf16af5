package graft.sources

import java.nio.charset.StandardCharsets

/** The one bounds-checked byte reader every parser in `sources` and
  * `multimodal` reads multi-byte fields through.
  *
  * Totality lives here: every read returns `Some(value)` or `None`,
  * never throws. Offsets are Long and checked against an explicit
  * `end` (≤ the buffer length) BEFORE any narrowing, so a crafted
  * unsigned 32-bit size can neither truncate into a negative Int index
  * nor step the cursor backwards; any offset or length past
  * `Int.MaxValue` is simply out of range. Parsers chain reads with
  * `getOrElse(return None)`.
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

  /** Unsigned `n`-byte (1..8) little-endian value at `at`. */
  def le(at: Long, n: Int): Option[Long] =
    if (!has(at, n)) None
    else {
      val i = at.toInt
      var v = 0L; var k = n - 1
      while (k >= 0) { v = (v << 8) | (buf(i + k) & 0xffL); k -= 1 }
      Some(v)
    }

  /** Unsigned `n`-byte (1..8) big-endian value at `at`. */
  def be(at: Long, n: Int): Option[Long] =
    if (!has(at, n)) None
    else {
      val i = at.toInt
      var v = 0L; var k = 0
      while (k < n) { v = (v << 8) | (buf(i + k) & 0xffL); k += 1 }
      Some(v)
    }

  /** `le` or `be` by a byte-order flag read from the data (TIFF, pcap). */
  def uint(at: Long, n: Int, little: Boolean): Option[Long] =
    if (little) le(at, n) else be(at, n)

  def u8(at: Long): Option[Int] =
    if (has(at, 1)) Some(buf(at.toInt) & 0xff) else None
  def le16(at: Long): Option[Int] =
    if (has(at, 2)) Some((buf(at.toInt) & 0xff) | (buf(at.toInt + 1) & 0xff) << 8)
    else None
  def le32(at: Long): Option[Long] = le(at, 4)
  def le64(at: Long): Option[Long] = le(at, 8)
  def be16(at: Long): Option[Int] =
    if (has(at, 2)) Some((buf(at.toInt) & 0xff) << 8 | (buf(at.toInt + 1) & 0xff))
    else None
  def be32(at: Long): Option[Long] = be(at, 4)
  def be64(at: Long): Option[Long] = be(at, 8)

  /** Four bytes at `at` as an ASCII tag (box type, chunk id). */
  def fourcc(at: Long): Option[String] =
    if (has(at, 4)) Some(new String(buf, at.toInt, 4, StandardCharsets.US_ASCII))
    else None

  /** A copy of the `n` bytes at `at`. */
  def bytes(at: Long, n: Long): Option[Array[Byte]] =
    if (has(at, n))
      Some(java.util.Arrays.copyOfRange(buf, at.toInt, (at + n).toInt))
    else None

  /** True when `s` (ASCII) sits at `at`. */
  def tagAt(at: Long, s: String): Boolean =
    has(at, s.length) && {
      val i = at.toInt
      var k = 0
      while (k < s.length && buf(i + k) == s.charAt(k).toByte) k += 1
      k == s.length
    }

  private def advance[A](n: Long, r: Option[A]): Option[A] = {
    if (r.isDefined) pos += n
    r
  }

  def u8(): Option[Int] = advance(1, u8(pos))
  def le16(): Option[Int] = advance(2, le16(pos))
  def le32(): Option[Long] = advance(4, le32(pos))
  def le64(): Option[Long] = advance(8, le64(pos))
  def be16(): Option[Int] = advance(2, be16(pos))
  def be32(): Option[Long] = advance(4, be32(pos))
  def be64(): Option[Long] = advance(8, be64(pos))
  def be(n: Int): Option[Long] = advance(n, be(pos, n))
  def fourcc(): Option[String] = advance(4, fourcc(pos))
  def bytes(n: Long): Option[Array[Byte]] = advance(n, bytes(pos, n))
  def skip(n: Long): Option[Unit] = advance(n, if (has(pos, n)) Some(()) else None)

  /** ISO-BMFF boxes in `[pos, end)`, each as its fourcc plus a cursor
    * over its body. A 32-bit size of 1 promotes to the 64-bit
    * largesize, 0 runs to `end`. A size smaller than its own header or
    * reaching past `end` yields None and ends the walk, so every step
    * moves forward and a crafted size can never loop. */
  def boxes(): Iterator[Option[(String, ByteCursor)]] =
    new Iterator[Option[(String, ByteCursor)]] {
      private var at = pos
      def hasNext: Boolean = at >= 0 && has(at, 8)
      def next(): Option[(String, ByteCursor)] = {
        val box = for {
          size32 <- be32(at)
          typ <- fourcc(at + 4)
          (body, boxEnd) <- size32 match {
            case 1L => be64(at + 8).map(s => (at + 16, at + s))
            case 0L => Some((at + 8, end))
            case s => Some((at + 8, at + s))
          }
          if body <= boxEnd && boxEnd <= end
        } yield (typ, new ByteCursor(buf, body, boxEnd))
        at = box.fold(-1L)(_._2.end)
        box
      }
    }

  /** Unsigned LEB128; more than 10 bytes is not a varint. */
  def varint(): Option[Long] = {
    var v = 0L; var shift = 0; var p = pos
    while (shift <= 63) {
      if (!has(p, 1)) return None
      val byt = buf(p.toInt) & 0xff
      p += 1
      v |= (byt & 0x7fL) << shift
      if ((byt & 0x80) == 0) { pos = p; return Some(v) }
      shift += 7
    }
    None
  }

  /** Zigzag-decoded LEB128 (protobuf sint64, Avro long, thrift i64). */
  def zigzag(): Option[Long] = varint().map(v => (v >>> 1) ^ -(v & 1L))
}

object ByteCursor {

  def apply(b: Array[Byte]): ByteCursor = new ByteCursor(b, 0L, b.length.toLong)

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
