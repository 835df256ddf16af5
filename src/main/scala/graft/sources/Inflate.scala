package graft.sources

/** The one bounds-guarded JDK inflate used by every format reader
  * (WOFF table data, git loose objects, Avro deflate blocks, PDF
  * /FlateDecode, ZIP members, PNG IDAT) — a single implementation so
  * the stall handling and bomb guard can never diverge between copies.
  * Its mirror [[deflate]] is the one JDK deflate, for the fixture
  * encoders of the same formats; ByteCursorSpec fails on another.
  * Pdf goes through [[apply]] with its 64 MiB cap; Archives and PNG go
  * through [[exact]], which keeps the declared-size contract. The one
  * exception is [[Warc]]'s gzip member walk: it needs the inflater's
  * `getRemaining` after each member to find where the next one starts.
  * ByteCursorSpec fails on a `java.util.zip.Inflater` anywhere else.
  */
private[graft] object Inflate {

  /** Inflate `data`. `raw` = headerless deflate (ZIP members, Avro's
    * deflate codec); `cap` bounds the OUTPUT size — a stream that
    * exceeds it, stalls, or ends unfinished returns None, never junk
    * or an OOM. */
  def apply(data: Array[Byte], raw: Boolean, cap: Int)
    : Option[Array[Byte]] = {
    val inf = new java.util.zip.Inflater(raw)
    inf.setInput(data)
    val out = new java.io.ByteArrayOutputStream(
      math.min(cap, data.length * 2 + 64))
    val buf = new Array[Byte](8192)
    try {
      while (!inf.finished() && !inf.needsInput()) {
        val k = inf.inflate(buf)
        if (k == 0 && !inf.finished()) return None // stalled stream
        out.write(buf, 0, k)
        if (out.size > cap) return None // decompression bomb
      }
      if (!inf.finished()) return None // truncated input
      Some(out.toByteArray)
    } catch { case _: java.util.zip.DataFormatException => None }
    finally inf.end()
  }

  /** Deflate `data` at zlib's default level (6), the mirror of
    * [[apply]]: `raw` = headerless deflate, else a zlib stream. Every
    * fixture encoder and `Compress.deflatedLen` deflate through it. */
  def deflate(data: Array[Byte], raw: Boolean): Array[Byte] = {
    val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, raw)
    try {
      d.setInput(data); d.finish()
      val out = new java.io.ByteArrayOutputStream(data.length + 32)
      val buf = new Array[Byte](8192)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      out.toByteArray
    } finally d.end()
  }

  /** Inflate `data` into an exact `expected`-byte buffer, where the
    * container declares the size (ZIP members: `raw` deflate; PNG
    * IDAT: a zlib stream, whose size the header's dimensions fix).
    * Output of exactly `expected` bytes is accepted even with
    * unconsumed trailing compressed bytes (the member CRC gates
    * content); shorter output, stalls (a zlib preset dictionary
    * included) and bombs (expected > 256 MiB) return None. */
  def exact(data: Array[Byte], raw: Boolean,
            expected: Long): Option[Array[Byte]] = {
    if (expected < 0 || expected > (256L << 20)) return None
    val inf = new java.util.zip.Inflater(raw)
    try {
      inf.setInput(data)
      val out = new Array[Byte](expected.toInt)
      var off = 0
      while (off < out.length && !inf.finished()) {
        val k = inf.inflate(out, off, out.length - off)
        if (k == 0 && !inf.finished()) return None // stalled/truncated
        off += k
      }
      if (off == out.length) Some(out) else None
    } catch { case _: java.util.zip.DataFormatException => None }
    finally inf.end()
  }
}
