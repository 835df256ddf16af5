package graft.multimodal

import graft.sources.ByteCursor

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** TTF/OTF font metadata — web crawls hit font binaries constantly
  * (every site ships WOFF/TTF), and an asset classifier wants the
  * family identity without a text engine. An sfnt table-directory
  * walk (the OpenType spec's core framing, shared by TTF and OTF):
  *
  *  - offset table: sfntVersion 0x00010000 (TrueType outlines) or
  *    'OTTO' (CFF outlines), then numTables 16-byte records of
  *    (tag, checksum, offset, length) — offsets/lengths are
  *    bounds-checked, checksums deliberately NOT verified (wild
  *    fonts routinely carry stale checksums; strictness there would
  *    reject real files, the opposite of this parser's job);
  *  - `name`: format-0 record list — family (nameID 1), subfamily
  *    (nameID 2); platform 3 (Windows) strings are UTF-16BE,
  *    platform 1 (Mac) single-byte; Windows wins when both exist;
  *  - `maxp`: numGlyphs; `head`: unitsPerEm (and the 0x5F0F3CF5
  *    magic as a sanity gate).
  *
  * Cursors stay Long (unsigned-32 offsets must never truncate into a
  * negative step). Returns None on non-sfnt input.
  */
object Font {

  final case class FontMeta(format: String, n_tables: Int, family: String,
                            subfamily: String, n_glyphs: Int,
                            units_per_em: Int)

  def parseFont(b: Array[Byte]): Option[FontMeta] = ByteCursor.total {
    if (b == null || b.length < 12) return None
    val c = ByteCursor(b)
    val n = b.length.toLong
    val ver = c.be32(0)
    val format = if (ver == 0x00010000L) "ttf"
      else if (ver == 0x4F54544FL) "otf" // 'OTTO'
      else return None
    val numTables = c.be16(4)
    if (numTables < 1 || numTables > 512) return None
    if (12L + 16L * numTables > n) return None
    var nameAt = -1L; var nameLen = 0L
    var maxpAt = -1L; var maxpLen = 0L
    var headAt = -1L; var headLen = 0L
    var t = 0
    while (t < numTables) {
      val rec = 12L + 16L * t
      val tag = c.fourcc(rec)
      val off = c.be32(rec + 8)
      val len = c.be32(rec + 12)
      if (off < 0 || len < 0 || off + len > n) return None
      tag match {
        case "name" => nameAt = off; nameLen = len
        case "maxp" => maxpAt = off; maxpLen = len
        case "head" => headAt = off; headLen = len
        case _ => ()
      }
      t += 1
    }
    if (headAt < 0 || headLen < 54) return None
    // head magic
    if (c.be32(headAt + 12) != 0x5F0F3CF5L) return None
    val unitsPerEm = c.be16(headAt + 18)
    if (maxpAt < 0 || maxpLen < 6) return None
    val nGlyphs = c.be16(maxpAt + 4)
    var family = ""; var subfamily = ""
    var famPlat = -1; var subPlat = -1
    if (nameAt >= 0 && nameLen >= 6) {
      val count = c.be16(nameAt + 2)
      val strBase = nameAt + c.be16(nameAt + 4)
      var r = 0
      while (r < count && nameAt + 6 + 12L * (r + 1) <= nameAt + nameLen) {
        val rec = nameAt + 6 + 12L * r
        val plat = c.be16(rec)
        val nameId = c.be16(rec + 6)
        val len = c.be16(rec + 8)
        val off = strBase + c.be16(rec + 10)
        if ((nameId == 1 || nameId == 2) && off + len <= n &&
          (plat == 1 || plat == 3)) {
          val value =
            if (plat == 3) new String(b.slice(off.toInt, (off + len).toInt),
              java.nio.charset.StandardCharsets.UTF_16BE)
            else new String(b.slice(off.toInt, (off + len).toInt),
              java.nio.charset.StandardCharsets.ISO_8859_1)
          // Windows (3) wins over Mac (1) when both records exist
          if (nameId == 1 && plat > famPlat) { family = value; famPlat = plat }
          if (nameId == 2 && plat > subPlat) { subfamily = value; subPlat = plat }
        }
        r += 1
      }
    }
    Some(FontMeta(format, numTables, family, subfamily, nGlyphs,
      unitsPerEm))
  }

  // ---- fixture ------------------------------------------------------ //

  import ByteCursor.{be16, be32}

  /** Deterministic per-id sfnt with head/maxp/name: format alternates
    * ttf/otf, the name table carries BOTH a Mac (decoy) and a Windows
    * (winning, UTF-16BE) family record, subfamily cycles
    * Regular/Bold/Italic. Checksums are zero — the parser must not
    * care. */
  def synthFont(id: Long): Array[Byte] = {
    val (flavor, tables) = sfntTables(id)
    val headerLen = 12 + 16 * tables.length
    var off = headerLen
    val dir = new java.io.ByteArrayOutputStream()
    dir.write(be32(flavor))
    dir.write(be16(tables.length)); dir.write(be16(0))
    dir.write(be16(0)); dir.write(be16(0))
    tables.foreach { case (tag, data) =>
      dir.write(tag.getBytes("US-ASCII"))
      dir.write(be32(0)) // checksum: deliberately wrong
      dir.write(be32(off)); dir.write(be32(data.length))
      off += data.length
    }
    tables.foreach { case (_, data) => dir.write(data) }
    dir.toByteArray
  }

  /** [[synthFont]]'s sfnt flavor and (tag, table) list. */
  private def sfntTables(id: Long): (Long, Seq[(String, Array[Byte])]) = {
    val d = id % 10
    val otf = id % 4 == 3
    val family = s"Graft Sans $d"
    val subfamily = Seq("Regular", "Bold", "Italic")((id % 3).toInt)
    val upem = if (id % 2 == 0) 1000 else 2048
    val nGlyphs = (id % 500 + 10).toInt
    // head: 54 bytes, magic at +12, unitsPerEm at +18
    val head = be32(0x00010000L) ++ be32(0) ++ be32(0) ++
      be32(0x5F0F3CF5L) ++ be16(0) ++ be16(upem) ++
      Array.fill(54 - 20)(0.toByte)
    val maxp = be32(0x00010000L) ++ be16(nGlyphs) ++
      Array.fill(26)(0.toByte)
    // name: Mac decoy family + Windows family (UTF-16BE) + subfamily
    val macFam = ("Mac " + family).getBytes("ISO-8859-1")
    val winFam = family.getBytes("UTF-16BE")
    val winSub = subfamily.getBytes("UTF-16BE")
    val strings = macFam ++ winFam ++ winSub
    val recs =
      be16(1) ++ be16(0) ++ be16(0) ++ be16(1) ++
        be16(macFam.length) ++ be16(0) ++
      be16(3) ++ be16(1) ++ be16(0x409) ++ be16(1) ++
        be16(winFam.length) ++ be16(macFam.length) ++
      be16(3) ++ be16(1) ++ be16(0x409) ++ be16(2) ++
        be16(winSub.length) ++ be16(macFam.length + winFam.length)
    val name = be16(0) ++ be16(3) ++ be16(6 + recs.length) ++
      recs ++ strings
    (if (otf) 0x4F54544FL else 0x00010000L,
      Seq(("head", head), ("maxp", maxp), ("name", name)))
  }

  // ---- WOFF1 --------------------------------------------------------- //

  /** WOFF 1.0 → [[FontMeta]]: the web-delivery wrapper around sfnt —
    * a 44-byte header (signature `wOFF`, the wrapped flavor, table
    * count) and a 20-byte-per-table directory whose entries are
    * zlib-compressed when compLength < origLength. The tables
    * reconstruct into an in-memory sfnt that [[parseFont]] then
    * reads — one parser, both deliveries. (WOFF2 needs Brotli: the
    * documented codec-table boundary.) */
  def parseWoff(b: Array[Byte]): Option[FontMeta] = ByteCursor.total {
    if (b == null || b.length < 44) return None
    val c = ByteCursor(b)
    if (c.be32(0) != 0x774F4646L) return None // 'wOFF'
    val flavor = c.be32(4)
    val numTables = c.be16(12)
    if (numTables < 1 || numTables > 512) return None
    if (44L + 20L * numTables > b.length) return None
    val n = b.length.toLong
    val entries = (0 until numTables).map { t =>
      val rec = 44L + 20L * t
      val tag = b.slice(rec.toInt, rec.toInt + 4)
      val off = c.be32(rec + 4)
      val compLen = c.be32(rec + 8)
      val origLen = c.be32(rec + 12)
      if (off < 0 || compLen < 0 || off + compLen > n) return None
      if (origLen < 0 || origLen > (1 << 24)) return None
      val raw = b.slice(off.toInt, (off + compLen).toInt)
      val data = if (compLen < origLen)
        graft.sources.Inflate(raw, raw = false, cap = 1 << 24)
          .getOrElse(return None)
      else raw
      if (data.length != origLen) return None
      (tag, data)
    }
    // reconstruct the sfnt: offset table + directory + table data
    val out = new java.io.ByteArrayOutputStream()
    out.write(be32(flavor))
    out.write(be16(numTables)); out.write(be16(0))
    out.write(be16(0)); out.write(be16(0))
    var off = 12 + 16 * numTables
    entries.foreach { case (tag, data) =>
      out.write(tag); out.write(be32(0))
      out.write(be32(off.toLong)); out.write(be32(data.length.toLong))
      off += data.length
    }
    entries.foreach { case (_, data) => out.write(data) }
    parseFont(out.toByteArray)
  }

  /** Deterministic per-id WOFF1 wrapping [[synthFont]]'s tables —
    * every second table stored uncompressed (compLength == origLength)
    * to pin both directory paths. */
  def synthWoff(id: Long): Array[Byte] = {
    val (flavor, named) = sfntTables(id)
    val tables =
      named.map { case (tag, data) => (tag.getBytes("US-ASCII"), data) }
    val numTables = tables.length
    val parts = tables.zipWithIndex.map { case ((tag, data), t) =>
      if (t % 2 == (id % 2).toInt) (tag, data, data.length) // stored
      else {
        val d = new java.util.zip.Deflater()
        d.setInput(data); d.finish()
        val out = new java.io.ByteArrayOutputStream(data.length + 32)
        val buf = new Array[Byte](8192)
        while (!d.finished()) out.write(buf, 0, d.deflate(buf))
        d.end()
        val comp = out.toByteArray
        if (comp.length < data.length) (tag, comp, data.length)
        else (tag, data, data.length)
      }
    }
    val out = new java.io.ByteArrayOutputStream()
    out.write(be32(0x774F4646L)) // wOFF
    out.write(be32(flavor))
    out.write(be32(0)) // length: filled below (parser doesn't read it)
    out.write(be16(numTables)); out.write(be16(0))
    out.write(be32(12L + 16L * numTables +
      tables.map(_._2.length.toLong).sum)) // totalSfntSize
    out.write(be16(1)); out.write(be16(0)) // version
    out.write(be32(0)); out.write(be32(0)); out.write(be32(0)) // meta
    out.write(be32(0)); out.write(be32(0)) // priv
    var off = 44 + 20 * numTables
    parts.foreach { case (tag, comp, orig) =>
      out.write(tag)
      out.write(be32(off.toLong))
      out.write(be32(comp.length.toLong))
      out.write(be32(orig.toLong))
      out.write(be32(0)) // origChecksum: ignored by design
      off += comp.length
    }
    parts.foreach { case (_, comp, _) => out.write(comp) }
    out.toByteArray
  }

  def synthWoffCol(c: Column): Column =
    udf { id: Long => synthWoff(id) }.apply(c)
  def woffMetaCol(c: Column): Column =
    udf { b: Array[Byte] => parseWoff(b) }.apply(c)

  def synthFontCol(c: Column): Column =
    udf { id: Long => synthFont(id) }.apply(c)
  /** bytes → struct<format, n_tables, family, subfamily, n_glyphs,
    * units_per_em>. */
  def fontMetaCol(c: Column): Column =
    udf { b: Array[Byte] => parseFont(b) }.apply(c)
}
