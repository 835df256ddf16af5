package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** ORC footer census — the other columnar lake format beside Parquet
  * (q392), with the mirrored planning question: stripes, row counts,
  * compression, schema width, all answerable from the file TAIL
  * without touching data. Layout (ORC spec v1): …[footer][postscript]
  * [1-byte postscript length]; the PostScript is plain protobuf
  * (never compressed) carrying footerLength / compression /
  * writerVersion and the field-8000 "ORC" magic; the Footer is
  * protobuf, chunk-framed when compressed — each chunk has a 3-byte
  * little-endian header `(len << 1) | isOriginal`, and ORC "ZLIB" is
  * RAW DEFLATE (no zlib wrapper), decoded through the shared
  * bounds-guarded [[Inflate]].
  *
  * Extracted: compression kind, writer version, content length, total
  * rows, schema type count, and per stripe (offset, index/data/footer
  * lengths, rows). Scope: NONE and ZLIB compression (SNAPPY/LZO/
  * LZ4/ZSTD are entropy-codec boundaries, named as such); unknown
  * protobuf fields are skipped by wire type, and every length is
  * bounds-checked — a corrupt tail returns None, never throws.
  */
object Orc {

  final case class OrcStripe(offset: Long, index_len: Long,
                             data_len: Long, footer_len: Long,
                             n_rows: Long)
  final case class OrcMeta(compression: String, writer_version: Long,
                           content_length: Long, n_rows: Long,
                           n_types: Int, stripes: Seq[OrcStripe])

  private val compNames = Map(0 -> "none", 1 -> "zlib", 2 -> "snappy",
    3 -> "lzo", 4 -> "lz4", 5 -> "zstd")

  // Protobuf grammar over the shared [[ByteCursor]].

  /** A length-delimited value: its [from, until) span, skipped. */
  private def lenSlice(pb: ByteCursor): (Long, Long) = {
    val n = pb.varint()
    val from = pb.pos
    pb.skip(n)
    (from, pb.pos)
  }

  private def skipWire(pb: ByteCursor, wire: Int): Unit = wire match {
    case 0 => pb.varint()
    case 1 => pb.skip(8)
    case 2 => lenSlice(pb)
    case 5 => pb.skip(4)
    case _ => ByteCursor.reject() // groups / reserved
  }

  /** Iterate fields; cb must consume the value. */
  private def fields(pb: ByteCursor)(cb: (Long, Int) => Unit): Unit =
    while (pb.pos < pb.end) {
      val key = pb.varint()
      val field = key >>> 3; val wire = (key & 7).toInt
      if (field == 0) ByteCursor.reject()
      cb(field, wire)
    }

  private def str(b: Array[Byte], from: Long, until: Long): String =
    new String(b, from.toInt, (until - from).toInt,
      java.nio.charset.StandardCharsets.US_ASCII)

  /** Un-frame an ORC compressed stream: 3-byte LE chunk headers,
    * `(len << 1) | isOriginal`, raw-deflate non-original chunks. */
  private def unframe(b: Array[Byte], from: Long, until: Long)
    : Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val c = new ByteCursor(b, from, until)
    while (c.pos < c.end) {
      val h = c.le(c.pos, 3)
      c.pos += 3
      val clen = h >>> 1
      val original = (h & 1) == 1
      if (clen <= 0) ByteCursor.reject()
      val chunk = c.bytes(clen)
      if (original) out.write(chunk)
      else out.write(Inflate(chunk, raw = true, cap = 1 << 24)
        .getOrElse(ByteCursor.reject()))
      if (out.size > (1 << 24)) ByteCursor.reject() // footer bomb
    }
    out.toByteArray
  }

  def parseOrc(b: Array[Byte]): Option[OrcMeta] = ByteCursor.total {
    if (b == null || b.length < 16) return None
    if (b(0) != 'O' || b(1) != 'R' || b(2) != 'C') return None
    val psLen = b(b.length - 1) & 0xff
    val psStart = b.length - 1L - psLen
    if (psLen < 4 || psStart < 3) return None
    // --- PostScript (plain protobuf) --------------------------------- //
    var footerLen = -1L
    var comp = 0
    var writerVersion = 0L
    var magicOk = false
    val ps = new ByteCursor(b, psStart, b.length - 1L)
    fields(ps) { (f, w) =>
      (f, w) match {
        case (1, 0) => footerLen = ps.varint()
        case (2, 0) => comp = ps.varint().toInt
        case (6, 0) => writerVersion = ps.varint()
        case (8000, 2) =>
          val (a, z) = lenSlice(ps)
          magicOk = str(b, a, z) == "ORC"
        case (_, wire) => skipWire(ps, wire)
      }
    }
    if (!magicOk || footerLen <= 0) return None
    if (!compNames.contains(comp)) return None
    val fStart = psStart - footerLen
    if (fStart < 3) return None
    // --- Footer (possibly chunk-framed) ------------------------------ //
    val footer: Array[Byte] = comp match {
      case 0 => java.util.Arrays.copyOfRange(b, fStart.toInt, psStart.toInt)
      case 1 => unframe(b, fStart, psStart)
      case _ => return None // snappy/lzo/lz4/zstd: codec boundary
    }
    var contentLength = -1L
    var nRows = -1L
    var nTypes = 0
    val stripes = Vector.newBuilder[OrcStripe]
    val fb = new ByteCursor(footer, 0L, footer.length.toLong)
    fields(fb) { (f, w) =>
      (f, w) match {
        case (2, 0) => contentLength = fb.varint()
        case (3, 2) => // StripeInformation
          val (a, z) = lenSlice(fb)
          var off = -1L; var il = -1L; var dl = -1L
          var fl = -1L; var nr = -1L
          val sb = new ByteCursor(footer, a, z)
          fields(sb) { (sf, sw) =>
            (sf, sw) match {
              case (1, 0) => off = sb.varint()
              case (2, 0) => il = sb.varint()
              case (3, 0) => dl = sb.varint()
              case (4, 0) => fl = sb.varint()
              case (5, 0) => nr = sb.varint()
              case (_, sw2) => skipWire(sb, sw2)
            }
          }
          if (off < 0 || nr < 0) return None
          stripes += OrcStripe(off, il.max(0), dl.max(0), fl.max(0), nr)
        case (4, 2) => // Type — count them, skip the body
          lenSlice(fb); nTypes += 1
        case (6, 0) => nRows = fb.varint()
        case (_, wire) => skipWire(fb, wire)
      }
    }
    if (nRows < 0 || nTypes == 0) return None
    Some(OrcMeta(compNames(comp), writerVersion, contentLength.max(0),
      nRows, nTypes, stripes.result()))
  }

  // ---- fixture ------------------------------------------------------ //

  private final class PW {
    val out = new java.io.ByteArrayOutputStream()
    def writeVarint(v: Long): Unit = out.write(ByteCursor.varint(v))
    def field(f: Long, wire: Int): Unit = writeVarint((f << 3) | wire)
    def vint(f: Long, v: Long): Unit = { field(f, 0); writeVarint(v) }
    def bytes(f: Long, v: Array[Byte]): Unit = {
      field(f, 2); writeVarint(v.length.toLong); out.write(v)
    }
  }

  /** Deterministic per-id ORC tail: g = id%3+1 stripes with
    * closed-form spans, a STRUCT root + id%4+1 children, NONE
    * compression on even ids and chunk-framed raw-deflate ZLIB on
    * odd, plus an unknown PostScript field the skip path must walk.
    */
  def synthOrc(id: Long): Array[Byte] = {
    val g = (id % 3 + 1).toInt
    val m = (id % 4 + 1).toInt
    val rowsPer = id % 50 + 10
    val zlib = id % 2 == 1
    // Footer proto
    val fw = new PW
    fw.vint(1, 3L) // headerLength ("ORC")
    fw.vint(2, 3L + g * 1000L) // contentLength
    (0 until g).foreach { k =>
      val sw = new PW
      sw.vint(1, 3L + k * 1000L) // offset
      sw.vint(2, 50L + k) // indexLength
      sw.vint(3, 800L + 10 * k + id % 100) // dataLength
      sw.vint(4, 40L + k) // footerLength
      sw.vint(5, rowsPer) // numberOfRows
      fw.bytes(3, sw.out.toByteArray)
    }
    // types: struct root + m leaves (kind cycle long/string/double/date)
    val rootT = new PW
    rootT.vint(1, 12L) // STRUCT
    (0 until m).foreach { j => rootT.field(2, 0); rootT.writeVarint(j + 1L) }
    fw.bytes(4, rootT.out.toByteArray)
    (0 until m).foreach { j =>
      val t = new PW
      t.vint(1, Seq(4L, 7L, 6L, 15L)(j % 4))
      fw.bytes(4, t.out.toByteArray)
    }
    fw.vint(6, g * rowsPer) // numberOfRows
    val footerPlain = fw.out.toByteArray
    val footerBytes: Array[Byte] =
      if (!zlib) footerPlain
      else {
        // one non-original chunk: 3-byte LE header (len << 1) | 0
        val body = Inflate.deflate(footerPlain, raw = true)
        ByteCursor.le24(body.length << 1) ++ body
      }
    // PostScript (plain)
    val psw = new PW
    psw.vint(1, footerBytes.length.toLong) // footerLength
    psw.vint(2, if (zlib) 1L else 0L) // compression
    psw.vint(3, 262144L) // compressionBlockSize
    psw.vint(6, id % 9) // writerVersion
    psw.vint(7777, id % 5) // unknown field: must be skipped
    psw.bytes(8000, "ORC".getBytes("US-ASCII")) // magic
    val ps = psw.out.toByteArray
    require(ps.length < 256)
    val out = new java.io.ByteArrayOutputStream()
    out.write("ORC".getBytes("US-ASCII"))
    val fill = (id % 13 + 2).toInt
    (0 until fill).foreach(j => out.write(((id + j) % 256).toInt))
    out.write(footerBytes)
    out.write(ps)
    out.write(ps.length)
    out.toByteArray
  }

  def synthOrcCol(c: Column): Column =
    udf { id: Long => synthOrc(id) }.apply(c)
  def orcMetaCol(c: Column): Column =
    udf { b: Array[Byte] => parseOrc(b) }.apply(c)
}
