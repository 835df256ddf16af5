package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** WARC/WET ingestion — the on-disk format LLM training corpora
  * actually arrive in (Common Crawl ships raw `response` captures as
  * WARC 1.0 / ISO 28500 records and text extracts as WET `conversion`
  * records, each record an independently-gzipped member, so a reader
  * can split and stream without decoding the whole file).
  * Dependency-free: member inflate is a manual RFC 1952 walk over
  * `java.util.zip.Inflater` — header flags, CRC32, ISIZE all verified
  * per member, and the walk yields each member's BYTE OFFSET and
  * compressed length, which is exactly the split index a 100 TB reader
  * needs to open a shard at an arbitrary member boundary. Record
  * parsing is strict byte walking; `response` payloads get an HTTP/1.x
  * status-line + header parse with charset-aware body decode. The
  * reference has no ingestion-format surface at all (it reads
  * pre-landed CSV, `lib/connector.py`); this is the crawl-side
  * boundary a 100 TB pipeline starts from.
  *
  * Scale shape: one WARC file is one binary cell; parse is per-row map
  * work (no shuffle), records explode to rows downstream. Both
  * directions enforce caps and return None on any malformation —
  * truncated members, bad member CRC/ISIZE, trailing garbage, missing
  * mandatory headers, short payloads, malformed HTTP blocks — never
  * junk records.
  */
object Warc {

  final case class WetRecord(targetUri: String, text: String)

  /** One gzip member of a multi-member stream: where it starts in the
    * compressed file, how many compressed bytes it spans, and its
    * inflated payload. (offset, compLen) is the shard split index. */
  final case class GzMember(offset: Long, compLen: Long, data: Array[Byte])

  /** One parsed record of a mixed crawl shard. `status`/`contentType`
    * come from the HTTP block for `response` records (status = -1 and
    * the WARC Content-Type header for `conversion`). (memberOffset,
    * memberLen) locate the gzip member the record arrived in. */
  final case class CrawlRecord(recType: String, targetUri: String,
                               status: Int, contentType: String,
                               text: String, memberOffset: Long,
                               memberLen: Long)

  private val MaxInflated = 256L * 1024 * 1024

  // ---- RFC 1952 member walk --------------------------------------------

  /** Walk a (possibly multi-member) gzip stream member by member,
    * verifying each member's header, trailer CRC32, and ISIZE, and
    * recording each member's byte offset + compressed length. None on
    * ANY malformation — including trailing bytes after the last
    * complete member, which `GZIPInputStream` silently swallows. */
  def gunzipMembers(b: Array[Byte]): Option[Vector[GzMember]] = ByteCursor.total {
    if (b.length == 0) return None // an empty stream is not a gzip stream
    val out = Vector.newBuilder[GzMember]
    val c = ByteCursor(b)
    var pos = 0L // Long cursor: size fields are unsigned 32-bit
    var total = 0L
    while (pos < b.length) {
      val start = pos
      if (pos + 10 > b.length) return None
      val p0 = pos.toInt
      if ((b(p0) & 0xff) != 0x1f || (b(p0 + 1) & 0xff) != 0x8b ||
        (b(p0 + 2) & 0xff) != 8) return None // magic + CM=deflate
      val flg = b(p0 + 3) & 0xff
      if ((flg & 0xe0) != 0) return None // reserved bits must be zero
      pos += 10
      if ((flg & 4) != 0) { // FEXTRA
        val xlen = c.le16(pos)
        pos += 2 + xlen
        if (pos > b.length) return None
      }
      var skip = 0
      if ((flg & 8) != 0) skip += 1  // FNAME
      if ((flg & 16) != 0) skip += 1 // FCOMMENT
      while (skip > 0) { // zero-terminated latin-1 strings
        while (pos < b.length && b(pos.toInt) != 0) pos += 1
        if (pos >= b.length) return None
        pos += 1; skip -= 1
      }
      if ((flg & 2) != 0) { // FHCRC: low 16 bits of header CRC32
        val stored = c.le16(pos)
        val crc = new java.util.zip.CRC32()
        crc.update(b, start.toInt, (pos - start).toInt)
        if ((crc.getValue & 0xffffL) != stored) return None
        pos += 2
      }
      val inf = new java.util.zip.Inflater(true)
      inf.setInput(b, pos.toInt, b.length - pos.toInt)
      val member = new java.io.ByteArrayOutputStream()
      val crc = new java.util.zip.CRC32()
      val buf = new Array[Byte](64 * 1024)
      try {
        while (!inf.finished()) {
          val n = try inf.inflate(buf) catch {
            case _: java.util.zip.DataFormatException => return None
          }
          if (n == 0 && !inf.finished()) return None // truncated deflate
          total += n
          if (total > MaxInflated) return None
          member.write(buf, 0, n)
          crc.update(buf, 0, n)
        }
        pos += (b.length - pos) - inf.getRemaining // deflate bytes consumed
      } finally inf.end()
      val data = member.toByteArray
      // trailer: CRC32 and ISIZE (input size mod 2^32)
      if (c.le32(pos) != crc.getValue) return None
      if (c.le32(pos + 4) != (data.length.toLong & 0xffffffffL)) return None
      pos += 8
      out += GzMember(start, pos - start, data)
    }
    Some(out.result())
  }

  /** Inflate a (possibly multi-member) gzip stream; None on corrupt
    * bytes, trailing garbage after the last member, or when the
    * inflated size exceeds the cap. */
  def gunzipAll(b: Array[Byte]): Option[Array[Byte]] =
    gunzipMembers(b).map { ms =>
      val out = new java.io.ByteArrayOutputStream()
      ms.foreach(m => out.write(m.data))
      out.toByteArray
    }

  /** One gzip member (the per-record CC convention). */
  def gzipMember(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(out)
    gz.write(data); gz.close()
    out.toByteArray
  }

  private val Crlf = "\r\n"

  private def warcRecord(headers: Seq[(String, String)],
                         payload: Array[Byte]): Array[Byte] = {
    val h = new StringBuilder("WARC/1.0").append(Crlf)
    headers.foreach { case (k, v) => h.append(k).append(": ").append(v).append(Crlf) }
    h.append("Content-Length: ").append(payload.length).append(Crlf)
    h.append(Crlf)
    h.toString.getBytes("US-ASCII") ++ payload ++
      (Crlf + Crlf).getBytes("US-ASCII")
  }

  /** Build a WET file from (uri, text) conversions: a warcinfo record
    * followed by one conversion record per document, EACH record its
    * own gzip member (so the output is a spec-shaped multi-member
    * stream like Common Crawl's). */
  def buildWet(docs: Seq[(String, String)]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val info = warcRecord(Seq(
      "WARC-Type" -> "warcinfo",
      "WARC-Record-ID" -> "<urn:graft:warcinfo:0>"),
      "software: graft-wet-writer/1.0\r\n".getBytes("US-ASCII"))
    out.write(gzipMember(info))
    docs.foreach { case (uri, text) =>
      val rec = warcRecord(Seq(
        "WARC-Type" -> "conversion",
        "WARC-Target-URI" -> uri,
        "WARC-Record-ID" -> s"<urn:graft:rec:${uri.hashCode}>"),
        text.getBytes("UTF-8"))
      out.write(gzipMember(rec))
    }
    out.toByteArray
  }

  /** An HTTP/1.x response block for a WARC `response` payload: status
    * line, Content-Type (with charset), Content-Length, body. */
  def httpResponse(status: Int, reason: String, contentType: String,
                   body: Array[Byte]): Array[Byte] = {
    val h = new StringBuilder("HTTP/1.1 ").append(status).append(' ')
      .append(reason).append(Crlf)
    h.append("Content-Type: ").append(contentType).append(Crlf)
    h.append("Content-Length: ").append(body.length).append(Crlf)
    h.append(Crlf)
    h.toString.getBytes("US-ASCII") ++ body
  }

  /** Build a MIXED crawl shard — warcinfo, then per doc either a raw
    * `response` capture (HTTP block with the given status/content-type)
    * or a WET-style `conversion`, each record its own gzip member.
    * recType must be "response" or "conversion". */
  def buildCrawl(docs: Seq[(String, String, String, Int, String)]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val info = warcRecord(Seq(
      "WARC-Type" -> "warcinfo",
      "WARC-Record-ID" -> "<urn:graft:warcinfo:0>"),
      "software: graft-warc-writer/1.0\r\n".getBytes("US-ASCII"))
    out.write(gzipMember(info))
    docs.foreach { case (uri, text, recType, status, ctype) =>
      val rec = recType match {
        case "response" =>
          val reason = if (status == 200) "OK" else "Error"
          warcRecord(Seq(
            "WARC-Type" -> "response",
            "WARC-Target-URI" -> uri,
            "WARC-Record-ID" -> s"<urn:graft:rec:${uri.hashCode}>",
            "Content-Type" -> "application/http; msgtype=response"),
            httpResponse(status, reason, s"$ctype; charset=utf-8",
              text.getBytes("UTF-8")))
        case _ =>
          warcRecord(Seq(
            "WARC-Type" -> "conversion",
            "WARC-Target-URI" -> uri,
            "WARC-Record-ID" -> s"<urn:graft:rec:${uri.hashCode}>",
            "Content-Type" -> "text/plain"),
            text.getBytes("UTF-8"))
      }
      out.write(gzipMember(rec))
    }
    out.toByteArray
  }

  /** Parse an INFLATED WARC stream into records. Strict: every record
    * needs the version line, a Content-Length, terminating CRLF CRLF;
    * anything else (or trailing garbage) is None. */
  def parseWarc(b: Array[Byte]): Option[Seq[(Map[String, String], Array[Byte])]] = {
    val recs = Vector.newBuilder[(Map[String, String], Array[Byte])]
    var i = 0
    def line(): String = { // bytes to CRLF as ASCII; null on violation
      val start = i
      while (i + 1 < b.length && !(b(i) == '\r' && b(i + 1) == '\n')) i += 1
      if (i + 1 >= b.length) null
      else {
        val s = new String(b, start, i - start, "US-ASCII")
        i += 2
        s
      }
    }
    while (i < b.length) {
      val v = line()
      if (v == null || v != "WARC/1.0") return None
      var headers = Map.empty[String, String]
      var l = line()
      while (l != null && l.nonEmpty) {
        val c = l.indexOf(':')
        if (c <= 0) return None
        headers += (l.substring(0, c).trim -> l.substring(c + 1).trim)
        l = line()
      }
      if (l == null) return None
      val len = headers.get("Content-Length").flatMap(_.toLongOption)
        .getOrElse(-1L)
      if (len < 0 || len > MaxInflated || i + len + 4 > b.length) return None
      val payload = java.util.Arrays.copyOfRange(b, i, i + len.toInt)
      i += len.toInt
      if (!(b(i) == '\r' && b(i + 1) == '\n' &&
        b(i + 2) == '\r' && b(i + 3) == '\n')) return None
      i += 4
      recs += ((headers, payload))
    }
    Some(recs.result())
  }

  /** Parse an HTTP/1.x response block: (status, media type, body text).
    * Strict on framing — status line must be `HTTP/1.x NNN ...`, a
    * present Content-Length must equal the body length. Body decode is
    * charset-aware: a declared utf-8 / us-ascii / iso-8859-1 /
    * windows-1252 charset param is honored; otherwise (or on an
    * unrecognized declaration) the body is SNIFFED — strict UTF-8
    * validation first, windows-1252 (which decodes any byte string,
    * and is what mislabeled "latin-1" web content actually is) as the
    * fallback. */
  def parseHttpResponse(p: Array[Byte]): Option[(Int, String, String)] = {
    var i = 0
    def line(): String = {
      val start = i
      while (i + 1 < p.length && !(p(i) == '\r' && p(i + 1) == '\n')) i += 1
      if (i + 1 >= p.length) null
      else { val s = new String(p, start, i - start, "ISO-8859-1"); i += 2; s }
    }
    val status = line() match {
      case null => return None
      case s if !s.startsWith("HTTP/1.") => return None
      case s =>
        val parts = s.split(" ", 3)
        if (parts.length < 2) return None
        parts(1).toIntOption match {
          case Some(c) if c >= 100 && c <= 599 => c
          case _ => return None
        }
    }
    var headers = Map.empty[String, String]
    var l = line()
    while (l != null && l.nonEmpty) {
      val c = l.indexOf(':')
      if (c <= 0) return None
      headers += (l.substring(0, c).trim.toLowerCase ->
        l.substring(c + 1).trim)
      l = line()
    }
    if (l == null) return None
    val body = java.util.Arrays.copyOfRange(p, i, p.length)
    headers.get("content-length").foreach { cl =>
      if (!cl.toLongOption.contains(body.length.toLong)) return None
    }
    val ct = headers.getOrElse("content-type", "")
    val media = ct.split(";")(0).trim.toLowerCase
    val declared = ct.split(";").drop(1).map(_.trim.toLowerCase)
      .collectFirst { case s if s.startsWith("charset=") =>
        s.substring(8).stripPrefix("\"").stripSuffix("\"") }
    val cs = declared match {
      case Some("utf-8" | "utf8") => "UTF-8"
      case Some("us-ascii" | "ascii") => "US-ASCII"
      case Some("iso-8859-1" | "latin-1" | "latin1") => "ISO-8859-1"
      // the web's de-facto latin-1: bytes 0x80-0x9F are printable
      // (curly quotes, em dash, €) — the JDK ships the table
      case Some("windows-1252" | "cp1252") => "windows-1252"
      case _ => // absent or unrecognized: sniff
        if (isValidUtf8(body)) "UTF-8" else "windows-1252"
    }
    Some((status, media, new String(body, cs)))
  }

  private def isValidUtf8(b: Array[Byte]): Boolean =
    try {
      java.nio.charset.StandardCharsets.UTF_8.newDecoder()
        .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
        .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
        .decode(java.nio.ByteBuffer.wrap(b))
      true
    } catch { case _: java.nio.charset.CharacterCodingException => false }

  /** Full WET read: gunzip members, parse records, keep conversions as
    * (target URI, UTF-8 text). None if the stream is malformed or no
    * warcinfo leads it. */
  def parseWet(b: Array[Byte]): Option[Seq[WetRecord]] =
    gunzipAll(b).flatMap(parseWarc).flatMap { recs =>
      if (recs.isEmpty || !recs.head._1.get("WARC-Type").contains("warcinfo"))
        None
      else Some(recs.tail.flatMap { case (h, p) =>
        if (!h.get("WARC-Type").contains("conversion")) None
        else h.get("WARC-Target-URI").map(u =>
          WetRecord(u, new String(p, "UTF-8")))
      })
    }

  /** Full MIXED-shard read: member walk (offsets kept), per-member
    * record parse, warcinfo must lead. `conversion` records yield their
    * UTF-8 payload; `response` records get the HTTP parse (malformed
    * HTTP in a response record rejects the shard — strict, like every
    * other framing violation). Record types this reader does not
    * ingest (warcinfo, request, metadata, ...) are SKIPPED, as ISO
    * 28500 prescribes for unknown types. Every emitted record carries
    * its gzip member's (offset, compressed length) — the split index
    * for opening a shard mid-file. */
  def parseCrawl(b: Array[Byte]): Option[Seq[CrawlRecord]] =
    gunzipMembers(b).flatMap { members =>
      val out = Vector.newBuilder[CrawlRecord]
      var first = true
      members.foreach { m =>
        parseWarc(m.data) match {
          case None => return None
          case Some(recs) => recs.foreach { case (h, p) =>
            val t = h.getOrElse("WARC-Type", "")
            if (first) {
              if (t != "warcinfo") return None
              first = false
            } else t match {
              case "conversion" =>
                h.get("WARC-Target-URI") match {
                  case None => return None
                  case Some(u) => out += CrawlRecord("conversion", u, -1,
                    h.getOrElse("Content-Type", ""), new String(p, "UTF-8"),
                    m.offset, m.compLen)
                }
              case "response" =>
                (h.get("WARC-Target-URI"), parseHttpResponse(p)) match {
                  case (Some(u), Some((status, media, text))) =>
                    out += CrawlRecord("response", u, status, media, text,
                      m.offset, m.compLen)
                  case _ => return None
                }
              case _ => () // warcinfo / request / metadata: skip
            }
          }
        }
      }
      if (first) None else Some(out.result()) // empty stream: no warcinfo
    }

  // ---- column wrappers -------------------------------------------------

  /** docs: array<struct<uri string, text string>> (caller sorts for
    * determinism) → WET bytes. */
  def buildWetCol(c: Column): Column =
    udf { rows: Seq[org.apache.spark.sql.Row] =>
      buildWet(rows.map(r => (r.getString(0), r.getString(1))))
    }.apply(c)

  /** WET bytes → array<struct<target_uri string, text string>>; null on
    * malformed input (never junk records). */
  def parseWetCol(c: Column): Column =
    udf { b: Array[Byte] => parseWet(b).map(_.map(r => (r.targetUri, r.text))) }
      .apply(c)

  /** docs: array<struct<uri, text, rec_type, status int, ctype>> →
    * mixed crawl shard bytes. */
  def buildCrawlCol(c: Column): Column =
    udf { rows: Seq[org.apache.spark.sql.Row] =>
      buildCrawl(rows.map(r => (r.getString(0), r.getString(1),
        r.getString(2), r.getInt(3), r.getString(4))))
    }.apply(c)

  /** crawl shard bytes → array<struct<rec_type, target_uri, status int,
    * content_type, text, member_offset long, member_len long>>; null on
    * malformed input. */
  def parseCrawlCol(c: Column): Column =
    udf { b: Array[Byte] => parseCrawl(b).map(_.map(r =>
      (r.recType, r.targetUri, r.status, r.contentType, r.text,
        r.memberOffset, r.memberLen)))
    }.apply(c)
}
