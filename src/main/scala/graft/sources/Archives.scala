package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** Archive ingestion — ZIP and tar(.gz), the containers code corpora
  * actually arrive in (repository exports, release tarballs, dataset
  * dumps). Same dependency-free discipline as [[Warc]]: JDK
  * `Inflater`/`CRC32` plus hand-parsed framing, strict on
  * malformation (a corrupt container must reject, never mint junk
  * members).
  *
  * ZIP (APPNOTE 6.3): the read starts from the END — scan back for
  * the end-of-central-directory record, walk the central directory
  * (the authoritative member list; local headers are only trusted for
  * their own name/extra lengths when seeking to data), inflate method
  * 8 with a raw `Inflater(true)`, take method 0 stored bytes, and
  * verify each member's CRC-32 against the central record. This is
  * the split-friendly read order a 100 TB ingest wants: the central
  * directory gives (offset, csize) for every member up front, so
  * member extraction parallelizes exactly like [[Warc]]'s member
  * offsets.
  *
  * TAR (POSIX ustar): 512-byte header blocks — octal size field,
  * checksum verified with the chksum bytes blanked, prefix+name
  * joining, regular-file/'\0' and directory typeflags, data padded to
  * block boundary, two zero blocks at end (tolerated absent at EOF) —
  * plus the record types real tarballs carry: GNU 'L' long names, PAX
  * 'x' path overrides ('g' globals skipped), hard/symbolic links.
  * `.tar.gz` wraps the walk in a gzip inflate.
  */
object Archives {

  /** One ZIP member: `method` ∈ {stored, deflate}; `text` is the
    * UTF-8 payload decode; `crc_ok` is the verified CRC-32. */
  final case class ZipEntry(name: String, method: String, usize: Long,
                            crc_ok: Boolean, text: String)

  final case class TarEntry(name: String, size: Long, type_flag: String,
                            text: String)

  /** Central-directory ZIP parse, classic AND ZIP64 (since r14: the
    * EOCD's 0xFFFF/0xFFFFFFFF sentinels route through the ZIP64 EOCD
    * locator to the 64-bit record, and per-entry sentinels resolve
    * from the 0x0001 extra field in spec order usize/csize/offset —
    * writers emit ZIP64 structure even for small archives, and a
    * 100 TB ingest meets >4 GiB members as a matter of course). None
    * on any structural malformation or unsupported feature
    * (encryption, methods other than stored/deflate). */
  def parseZip(b: Array[Byte]): Option[Seq[ZipEntry]] = ByteCursor.total {
    if (b == null || b.length < 22) return None
    val c = ByteCursor(b)
    // EOCD: signature PK\5\6, comment may pad up to 64 KiB
    var eocd = -1
    var i = b.length - 22
    val lo = math.max(0, b.length - 22 - 0xffff)
    while (i >= lo && eocd < 0) {
      if (b(i) == 'P' && b(i + 1) == 'K' && b(i + 2) == 5 && b(i + 3) == 6)
        eocd = i
      i -= 1
    }
    if (eocd < 0) return None
    var nEntries: Long = c.le16(eocd + 10)
    // multi-disk
    if (nEntries != c.le16(eocd + 8)) return None
    var cdSize = c.le32(eocd + 12)
    var cdOff = c.le32(eocd + 16)
    if (nEntries == 0xffffL || cdSize == 0xffffffffL ||
      cdOff == 0xffffffffL) {
      // ZIP64: locator (PK\6\7) sits immediately before the EOCD
      val loc = eocd - 20
      if (loc < 0 || !(b(loc) == 'P' && b(loc + 1) == 'K' &&
        b(loc + 2) == 6 && b(loc + 3) == 7)) return None
      val z64 = c.le64(loc + 8)
      if (z64 < 0 || z64 + 56 > b.length) return None
      val zi = z64.toInt
      if (!(b(zi) == 'P' && b(zi + 1) == 'K' && b(zi + 2) == 6 &&
        b(zi + 3) == 6)) return None
      nEntries = c.le64(zi + 32)
      // multi-disk
      if (c.le64(zi + 24) != nEntries) return None
      cdSize = c.le64(zi + 40)
      cdOff = c.le64(zi + 48)
    }
    if (nEntries < 0 || nEntries > (1L << 24)) return None
    if (cdOff < 0 || cdSize < 0 || cdOff + cdSize > eocd) return None
    val out = Vector.newBuilder[ZipEntry]
    var p = cdOff // Long cursor (unsigned-32 fields)
    var k = 0L
    while (k < nEntries) {
      if (p + 46 > b.length) return None
      if (!(b(p.toInt) == 'P' && b(p.toInt + 1) == 'K' &&
        b(p.toInt + 2) == 1 && b(p.toInt + 3) == 2)) return None
      val pi = p.toInt
      val flags = c.le16(pi + 8)
      if ((flags & 0x1) != 0) return None // encrypted
      val method = c.le16(pi + 10)
      val crc = c.le32(pi + 16)
      var csize = c.le32(pi + 20)
      var usize = c.le32(pi + 24)
      val nameLen = c.le16(pi + 28)
      val extraLen = c.le16(pi + 30)
      val commentLen = c.le16(pi + 32)
      var lho = c.le32(pi + 42)
      if (p + 46 + nameLen + extraLen > b.length) return None
      if (csize == 0xffffffffL || usize == 0xffffffffL ||
        lho == 0xffffffffL) {
        // ZIP64 extra field 0x0001: 8-byte values in spec order for
        // exactly the sentinel'd fields
        var e = pi + 46 + nameLen
        val eEnd = e + extraLen
        var found = false
        while (e + 4 <= eEnd && !found) {
          val id = c.le16(e)
          val sz = c.le16(e + 2)
          if (id == 0x0001) {
            // reads are bounded by THIS field's declared size, not the
            // whole extras block — a truncated 0x0001 must reject, not
            // read the next field's header bytes as size data
            val f = new ByteCursor(b, e + 4, math.min(e + 4 + sz, eEnd))
            if (usize == 0xffffffffL) usize = f.le64()
            if (csize == 0xffffffffL) csize = f.le64()
            if (lho == 0xffffffffL) lho = f.le64()
            found = true
          } else e += 4 + sz
        }
        if (!found) return None
      }
      if (csize < 0 || usize < 0 || lho < 0) return None // crafted 64-bit
      val name = new String(b, pi + 46, nameLen,
        java.nio.charset.StandardCharsets.UTF_8)
      // local header: trust only ITS name/extra lengths for the seek
      if (lho + 30 > b.length) return None
      val li = lho.toInt
      if (!(b(li) == 'P' && b(li + 1) == 'K' && b(li + 2) == 3 &&
        b(li + 3) == 4)) return None
      val dataAt = lho + 30 + c.le16(li + 26) + c.le16(li + 28)
      val raw = c.bytes(dataAt, csize)
      val data = method match {
        case 0 => if (csize != usize) return None else raw
        case 8 => inflateRaw(raw, usize).getOrElse(return None)
        case _ => return None
      }
      val crc32 = new java.util.zip.CRC32()
      crc32.update(data)
      out += ZipEntry(name, if (method == 0) "stored" else "deflate",
        usize, crc32.getValue == crc,
        new String(data, java.nio.charset.StandardCharsets.UTF_8))
      p += 46L + nameLen + extraLen + commentLen
      k += 1
    }
    Some(out.result())
  }

  /** Raw-deflate a ZIP member to its declared size — delegated to the
    * shared bounds-guarded [[Inflate.exact]] (r16 consolidation). */
  private def inflateRaw(data: Array[Byte],
      expected: Long): Option[Array[Byte]] =
    Inflate.exact(data, expected)

  /** ustar walk; None on a bad checksum/octal field/truncation.
    * Directories surface with empty text; only regular files carry
    * payload. Since r14 the walk also handles what real tarballs
    * contain: GNU long-name records (typeflag 'L' — the NUL-terminated
    * data names the NEXT entry), PAX extended headers (typeflag 'x' —
    * `len key=value\n` records, `path` overrides the next entry's
    * name; 'g' globals are skipped), and hard/symbolic links
    * (typeflags '1'/'2' — surfaced as `link`/`symlink` with the link
    * target as the text). */
  def parseTar(b: Array[Byte]): Option[Seq[TarEntry]] = ByteCursor.total {
    if (b == null || b.length % 512 != 0) return None
    val out = Vector.newBuilder[TarEntry]
    var pendingName: Option[String] = None
    var p = 0L
    while (p + 512 <= b.length) {
      val pi = p.toInt
      if ((0 until 512).forall(j => b(pi + j) == 0)) {
        // zero block: end-of-archive marker(s)
        return Some(out.result())
      }
      // checksum: header bytes with chksum[148,156) as spaces
      val stored = octal(b, pi + 148, 8)
      var sum = 0L
      var j = 0
      while (j < 512) {
        sum += (if (j >= 148 && j < 156) 0x20 else b(pi + j) & 0xff)
        j += 1
      }
      if (sum != stored) return None
      if (!(b(pi + 257) == 'u' && b(pi + 258) == 's' &&
        b(pi + 259) == 't' && b(pi + 260) == 'a' && b(pi + 261) == 'r'))
        return None
      val rawName = cstr(b, pi, 100)
      val prefix = cstr(b, pi + 345, 155)
      val hdrName = if (prefix.isEmpty) rawName else prefix + "/" + rawName
      val size = octal(b, pi + 124, 12)
      val dataBlocks = (size + 511) / 512
      if (p + 512 + dataBlocks * 512 > b.length) return None
      if (size > (256L << 20)) return None // bomb guard
      def data: Array[Byte] =
        java.util.Arrays.copyOfRange(b, pi + 512, pi + 512 + size.toInt)
      val tf = b(pi + 156).toChar
      tf match {
        case 'L' => // GNU long name: applies to the NEXT entry
          val nm = new String(data,
            java.nio.charset.StandardCharsets.UTF_8).takeWhile(_ != '\u0000')
          pendingName = Some(nm)
        case 'x' | 'g' => // PAX records: "len key=value\n"
          val s = new String(data, java.nio.charset.StandardCharsets.UTF_8)
          if (tf == 'x') {
            var at = 0
            while (at < s.length) {
              val sp = s.indexOf(' ', at)
              val len = if (sp < 0) -1
                else s.substring(at, sp).toIntOption.getOrElse(-1)
              if (len <= 0 || at + len > s.length ||
                at + len <= sp + 1) return None
              val rec = s.substring(sp + 1, at + len)
              val eq = rec.indexOf('=')
              if (eq > 0 && rec.substring(0, eq) == "path")
                pendingName = Some(rec.substring(eq + 1).stripSuffix("\n"))
              at += len
            }
          } // 'g' globals carry no per-entry override here
        case '0' | '\u0000' | '5' | '1' | '2' =>
          val typeFlag = tf match {
            case '5' => "dir"
            case '1' => "link"
            case '2' => "symlink"
            case _ => "file"
          }
          if (typeFlag != "file" && size != 0) return None
          val name = pendingName.getOrElse(hdrName)
          pendingName = None
          val text = typeFlag match {
            case "file" => new String(b, pi + 512, size.toInt,
              java.nio.charset.StandardCharsets.UTF_8)
            case "link" | "symlink" => cstr(b, pi + 157, 100) // target
            case _ => ""
          }
          out += TarEntry(name, size, typeFlag, text)
        case _ => return None // unknown typeflag: strict
      }
      p += 512 + dataBlocks * 512
    }
    Some(out.result()) // EOF without zero blocks: tolerated
  }

  /** `.tar.gz`: gzip inflate (JDK, multi-member tolerant) then the
    * ustar walk. */
  def parseTarGz(b: Array[Byte]): Option[Seq[TarEntry]] = {
    if (b == null || b.length < 2) return None
    try {
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(b))
      val out = new java.io.ByteArrayOutputStream(b.length * 4 + 1024)
      val buf = new Array[Byte](8192)
      var k = in.read(buf)
      while (k >= 0) {
        out.write(buf, 0, k)
        if (out.size() > (256 << 20)) return None
        k = in.read(buf)
      }
      parseTar(out.toByteArray)
    } catch { case _: java.io.IOException => None }
  }

  private def cstr(b: Array[Byte], at: Int, max: Int): String = {
    var n = 0
    while (n < max && b(at + n) != 0) n += 1
    new String(b, at, n, java.nio.charset.StandardCharsets.US_ASCII)
  }

  /** A space/NUL-padded octal field; no digit or a stray byte rejects. */
  private def octal(b: Array[Byte], at: Int, len: Int): Long = {
    var v = 0L
    var seen = false
    var i = 0
    while (i < len) {
      val c = (b(at + i) & 0xff).toChar
      if (c >= '0' && c <= '7') { v = v * 8 + (c - '0'); seen = true }
      else if (c != ' ' && c != 0.toChar) ByteCursor.reject() // not padding
      i += 1
    }
    if (!seen) ByteCursor.reject()
    v
  }

  // -- builders (deterministic fixtures + the write half) ----------- //

  /** Real ZIP bytes for (name, text, deflate?) members — correct
    * local headers, central directory, EOCD, CRC-32s. With
    * `zip64 = true` the archive uses the ZIP64 layout a modern writer
    * emits: sentinel'd central sizes/offsets resolved by 0x0001 extra
    * fields, a ZIP64 EOCD record + locator, and a sentinel'd classic
    * EOCD. */
  def buildZip(members: Seq[(String, String, Boolean)],
               zip64: Boolean = false): Array[Byte] = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val out = new java.io.ByteArrayOutputStream()
    val central = new java.io.ByteArrayOutputStream()
    import ByteCursor.{le16, le32, le64}
    members.foreach { case (name, text, deflated) =>
      val data = text.getBytes(utf8)
      val crc = new java.util.zip.CRC32(); crc.update(data)
      val comp = if (deflated) {
        val d = new java.util.zip.Deflater(
          java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
        d.setInput(data); d.finish()
        val o = new java.io.ByteArrayOutputStream(data.length + 32)
        val buf = new Array[Byte](8192)
        while (!d.finished()) o.write(buf, 0, d.deflate(buf))
        d.end(); o.toByteArray
      } else data
      val nameB = name.getBytes(utf8)
      val method = if (deflated) 8 else 0
      val lho = out.size().toLong
      out.write(Array[Byte]('P', 'K', 3, 4))
      // version, flags, method, fixed DOS stamp
      out.write(le16(20) ++ le16(0) ++ le16(method) ++ le16(0) ++ le16(0x2821))
      out.write(le32(crc.getValue) ++ le32(comp.length.toLong) ++
        le32(data.length.toLong))
      out.write(le16(nameB.length) ++ le16(0))
      out.write(nameB); out.write(comp)
      central.write(Array[Byte]('P', 'K', 1, 2))
      central.write(le16(if (zip64) 45 else 20) ++ le16(if (zip64) 45 else 20))
      central.write(le16(0) ++ le16(method) ++ le16(0) ++ le16(0x2821))
      central.write(le32(crc.getValue))
      if (zip64) {
        // csize/usize sentinels
        central.write(le32(0xffffffffL) ++ le32(0xffffffffL))
        central.write(le16(nameB.length) ++ le16(4 + 24) ++ le16(0) ++
          le16(0) ++ le16(0))
        central.write(le32(0L) ++ le32(0xffffffffL)) // offset sentinel
        central.write(nameB)
        // ZIP64 extra: usize, csize, offset
        central.write(le16(0x0001) ++ le16(24))
        central.write(le64(data.length.toLong) ++ le64(comp.length.toLong) ++
          le64(lho))
      } else {
        central.write(le32(comp.length.toLong) ++ le32(data.length.toLong))
        central.write(le16(nameB.length) ++ le16(0) ++ le16(0) ++ le16(0) ++
          le16(0))
        central.write(le32(0L) ++ le32(lho))
        central.write(nameB)
      }
    }
    val cdOff = out.size().toLong
    out.write(central.toByteArray)
    val cdSize = out.size() - cdOff
    if (zip64) {
      val z64At = out.size().toLong
      out.write(Array[Byte]('P', 'K', 6, 6)) // ZIP64 EOCD record
      out.write(le64(44) ++ le16(45) ++ le16(45) ++ le32(0) ++ le32(0))
      out.write(le64(members.length.toLong) ++ le64(members.length.toLong))
      out.write(le64(cdSize) ++ le64(cdOff))
      out.write(Array[Byte]('P', 'K', 6, 7)) // locator
      out.write(le32(0) ++ le64(z64At) ++ le32(1))
      out.write(Array[Byte]('P', 'K', 5, 6)) // sentinel'd classic EOCD
      out.write(le16(0) ++ le16(0) ++ le16(0xffff) ++ le16(0xffff))
      out.write(le32(0xffffffffL) ++ le32(0xffffffffL) ++ le16(0))
    } else {
      out.write(Array[Byte]('P', 'K', 5, 6))
      out.write(le16(0) ++ le16(0) ++ le16(members.length) ++
        le16(members.length))
      out.write(le32(cdSize) ++ le32(cdOff) ++ le16(0))
    }
    out.toByteArray
  }

  /** One checksummed ustar header block. */
  private def tarHeader(name: String, size: Int, typeflag: Char,
      link: String = ""): Array[Byte] = {
    val h = new Array[Byte](512)
    def put(at: Int, s: String): Unit =
      s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
        .copyToArray(h, at)
    put(0, name.take(100))
    put(100, "0000644\u0000"); put(108, "0000000\u0000"); put(116, "0000000\u0000")
    put(124, f"$size%011o\u0000")
    put(136, "00000000000\u0000")
    java.util.Arrays.fill(h, 148, 156, ' '.toByte)
    h(156) = typeflag.toByte
    if (link.nonEmpty) put(157, link.take(100))
    put(257, "ustar\u000000")
    var sum = 0L
    h.foreach(x => sum += (x & 0xff))
    put(148, f"$sum%06o\u0000 ")
    h
  }

  private def tarPad(out: java.io.ByteArrayOutputStream,
      data: Array[Byte]): Unit =
    if (data.nonEmpty) {
      out.write(data)
      out.write(new Array[Byte]((512 - data.length % 512) % 512))
    }

  /** Real ustar bytes for (name, text-or-None-for-dir) members,
    * correct checksums, two terminating zero blocks. */
  def buildTar(members: Seq[(String, Option[String])]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    members.foreach { case (name, textOpt) =>
      val data = textOpt.map(_.getBytes(
        java.nio.charset.StandardCharsets.UTF_8)).getOrElse(Array.empty[Byte])
      out.write(tarHeader(name, data.length,
        if (textOpt.isEmpty) '5' else '0'))
      tarPad(out, data)
    }
    out.write(new Array[Byte](1024))
    out.toByteArray
  }

  /** ustar bytes with the real-world record zoo: `gnu` long names
    * ('L' records naming the NEXT entry), `pax` path overrides
    * ('x' records), and `symlink`s ('2', payload = target); plain
    * `file` otherwise. */
  def buildTarSpecial(
      members: Seq[(String, String, String)]): Array[Byte] = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val out = new java.io.ByteArrayOutputStream()
    members.foreach { case (kind, name, payload) =>
      val data = payload.getBytes(utf8)
      kind match {
        case "file" =>
          out.write(tarHeader(name, data.length, '0')); tarPad(out, data)
        case "gnu" =>
          val nm = (name + "\u0000").getBytes(utf8)
          out.write(tarHeader("././@LongLink", nm.length, 'L'))
          tarPad(out, nm)
          out.write(tarHeader(name.take(100), data.length, '0'))
          tarPad(out, data)
        case "pax" =>
          // the record length counts ITSELF: "LEN path=value\n"
          val body = s" path=$name\n"
          var len = body.length + 1
          while (String.valueOf(len).length + body.length != len) len += 1
          val rb = s"$len$body".getBytes(utf8)
          out.write(tarHeader("PaxHeaders.0/x", rb.length, 'x'))
          tarPad(out, rb)
          out.write(tarHeader(name.take(100), data.length, '0'))
          tarPad(out, data)
        case "symlink" =>
          out.write(tarHeader(name, 0, '2', link = payload))
        case _ => throw new IllegalArgumentException(kind)
      }
    }
    out.write(new Array[Byte](1024))
    out.toByteArray
  }

  def gzip(b: Array[Byte]): Array[Byte] = {
    val o = new java.io.ByteArrayOutputStream(b.length / 2 + 64)
    val g = new java.util.zip.GZIPOutputStream(o)
    g.write(b); g.close()
    o.toByteArray
  }

  // -- fixtures + Column lifts --------------------------------------- //

  /** Deterministic per-id ZIP: a 3-file mini source tree (stored
    * python, deflated markdown, deflated generated go). */
  def synthZip(id: Long): Array[Byte] = {
    val d = (id % 10).toString
    buildZip(Seq(
      ("src/main.py", s"# module $d\nx = $d\n", false),
      ("README.md", s"# Readme $d\n\nHello $d\n", true),
      ("gen/auto.go",
        s"// Code generated by tool. DO NOT EDIT.\npackage p\nvar x = $d\n",
        true)))
  }

  /** Deterministic per-id tar.gz: dir + two files. */
  def synthTarGz(id: Long): Array[Byte] = {
    val d = (id % 10).toString
    gzip(buildTar(Seq(
      ("src", None),
      ("src/lib.rs", Some(s"// SPDX-License-Identifier: MIT\nfn f$d() {}\n")),
      ("notes.txt", Some(s"note $d\n")))))
  }

  /** Deterministic per-id ZIP64: same member shapes as [[synthZip]]
    * but through the 64-bit layout (sentinel'd EOCD + locator + ZIP64
    * EOCD, per-entry 0x0001 extra fields). */
  def synthZip64(id: Long): Array[Byte] = {
    val d = (id % 10).toString
    buildZip(Seq(
      ("big/data.bin", s"payload $d " * (1 + (id % 4)).toInt, false),
      ("META/manifest.txt", s"manifest $d\n", true)), zip64 = true)
  }

  /** Deterministic per-id tar with the real-world record zoo: a GNU
    * long-name member (name > 100 chars), a PAX path override, a
    * symlink, and a plain file. */
  def synthTarSpecial(id: Long): Array[Byte] = {
    val d = (id % 10).toString
    val longName = s"depth$d/" + ("nested/" * 14) + s"gnu_long_name_$d.txt"
    val paxName = s"pax$d/" + ("p/" * 10) + s"pax_override_$d.md"
    buildTarSpecial(Seq(
      ("gnu", longName, s"gnu payload $d\n"),
      ("pax", paxName, s"pax payload $d\n"),
      ("symlink", s"link$d", s"depth$d/target"),
      ("file", s"plain$d.txt", s"plain $d\n")))
  }

  def synthZipCol(c: Column): Column =
    udf { id: Long => synthZip(id) }.apply(c)
  def synthZip64Col(c: Column): Column =
    udf { id: Long => synthZip64(id) }.apply(c)
  def synthTarSpecialCol(c: Column): Column =
    udf { id: Long => gzip(synthTarSpecial(id)) }.apply(c)
  def synthTarGzCol(c: Column): Column =
    udf { id: Long => synthTarGz(id) }.apply(c)
  /** bytes → array<struct<name, method, usize, crc_ok, text>>. */
  def zipEntriesCol(c: Column): Column =
    udf { b: Array[Byte] =>
      parseZip(b).map(_.map(e =>
        (e.name, e.method, e.usize, e.crc_ok, e.text)))
    }.apply(c)
  /** bytes → array<struct<name, size, type_flag, text>>. */
  def tarGzEntriesCol(c: Column): Column =
    udf { b: Array[Byte] =>
      parseTarGz(b).map(_.map(e => (e.name, e.size, e.type_flag, e.text)))
    }.apply(c)
}
