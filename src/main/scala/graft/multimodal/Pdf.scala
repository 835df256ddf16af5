package graft.multimodal

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** PDF text extraction — the second-biggest document format in a web
  * crawl after HTML (reference capability bar: the crawl→corpus
  * surfaces around `lib/utils.py`'s text handling; the HTML half is
  * [[graft.text.Html]]/q336). Dependency-free, same discipline as the
  * other codecs here: JDK `Inflater` for `/FlateDecode` plus hand
  * parsing of the COS object layer (ISO 32000-1):
  *
  *  - indirect objects are located by a linear `N G obj … endobj`
  *    scan (the spec's "repair mode" reading — no xref needed, which
  *    is also what a crawl wants: truncated tails lose pages, not the
  *    document);
  *  - the document tree walks `trailer /Root` → Catalog `/Pages` →
  *    `/Kids` (nested page-tree nodes supported, depth-capped) →
  *    `/Page /Contents` (single ref or array);
  *  - stream lengths honor direct `/Length N` and indirect
  *    `/Length N G R`; `/Filter /FlateDecode` inflates through zlib,
  *    absent filter is raw, anything else rejects the document;
  *  - content-stream text ops: `Tj`, `TJ` (array form — strings
  *    concatenate, kerning numbers drop), `'` and `"` (next line +
  *    show), `Td`/`TD`/`T*` (line breaks), `BT` (block break);
  *    literal strings decode the full escape set (named, octal,
  *    line-continuation, balanced nested parens), hex strings decode
  *    with odd-digit zero padding.
  *
  * Fonts: simple fonts map bytes to text via Latin-1 (the standard
  * encodings' ASCII range); composite `/Type0` fonts with a
  * `/ToUnicode` CMap (since r14) decode 2-byte codes through the
  * CMap's bfchar/bfrange sections (single- and array-destination
  * forms, multi-code-unit destinations) — the `/F1 12 Tf` operator
  * switches the active font per the text state. A Type0 font WITHOUT
  * a usable ToUnicode is opaque: its show operators contribute no
  * text (the bytes are glyph ids, unrecoverable without the font
  * program), never mojibake. PDF 1.5 object streams (`/Type /ObjStm`)
  * expand into the object map (modern writers pack the whole document
  * tree there), and binary cross-reference streams are harmless under
  * the repair-mode scan (no xref is ever consulted). Encrypted
  * documents reject. Pure per-row map work at any scale.
  */
object Pdf {

  /** version is the header's "1.x"; text is page texts joined by
    * newlines, empty lines dropped. `encrypted` documents surface the
    * typed flag with zero pages and empty text — the parser NEVER
    * attempts decryption, and never lets RC4/AES stream bytes reach
    * the text path as mojibake. */
  final case class PdfDoc(version: String, n_pages: Int, text: String,
                          encrypted: Boolean)

  private final case class Obj(dict: String, stream: Option[Array[Byte]])

  def parse(bytes: Array[Byte]): Option[PdfDoc] = {
    if (bytes == null || bytes.length < 12) return None
    val s = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
    if (!s.startsWith("%PDF-1.") || !s.charAt(7).isDigit) return None
    val version = s.substring(5, 8)
    // /Encrypt detection runs BEFORE any stream work: an encrypted
    // document's streams are ciphertext and must not be interpreted.
    // The key lives in the trailer dict (classic xref) or in the
    // cross-reference STREAM's dict (PDF 1.5+, which carries the
    // trailer fields) — check both.
    def hasEncrypt(d: String): Boolean =
      keyPattern("Encrypt").findFirstIn(d).isDefined
    val trailerDict = lastTrailerDict(s)
    if (trailerDict.exists(hasEncrypt))
      return Some(PdfDoc(version, 0, "", encrypted = true))
    val scanned = scanObjects(s, bytes).getOrElse(return None)
    if (scanned.valuesIterator.exists(o =>
      dictName(o.dict, "Type").contains("XRef") && hasEncrypt(o.dict)))
      return Some(PdfDoc(version, 0, "", encrypted = true))
    val objects = expandObjectStreams(scanned)
    val rootNum = trailerDict.flatMap(d => dictRef(d, "Root"))
      .orElse(objects.collectFirst {
        case (n, o) if dictName(o.dict, "Type").contains("Catalog") => n
      }).getOrElse(return None)
    val catalog = objects.get(rootNum).getOrElse(return None)
    val pagesRef = dictRef(catalog.dict, "Pages").getOrElse(return None)
    val pageNums = collectPages(objects, pagesRef, 0).getOrElse(return None)
    if (pageNums.isEmpty) return None
    val pageTexts = pageNums.map { pn =>
      val page = objects.get(pn).getOrElse(return None)
      val contentRefs = dictRefArray(page.dict, "Contents")
        .getOrElse(return None)
      val content = contentRefs.map { cr =>
        val obj = objects.get(cr).getOrElse(return None)
        val raw = obj.stream.getOrElse(return None)
        decodeStream(obj.dict, raw).getOrElse(return None)
      }.map(b => new String(b,
        java.nio.charset.StandardCharsets.ISO_8859_1)).mkString("\n")
      extractText(content, buildFonts(objects, page.dict))
    }
    Some(PdfDoc(version, pageNums.length,
      pageTexts.filter(_.nonEmpty).mkString("\n"), encrypted = false))
  }

  /** PDF 1.5 object streams: a `/Type /ObjStm` stream packs N
    * compressed non-stream objects — `/First` bytes of (objnum,
    * offset) integer pairs, then the object bodies back-to-back at
    * their offsets. Modern writers put the whole document tree
    * (catalog, pages, fonts) in one; without this expansion such
    * documents have no reachable /Root. Direct objects win number
    * collisions; a garbled ObjStm contributes nothing rather than
    * failing the document (repair-mode discipline). */
  private def expandObjectStreams(objects: Map[Int, Obj]): Map[Int, Obj] = {
    val extra = scala.collection.mutable.Map[Int, Obj]()
    objects.valuesIterator.foreach { o =>
      if (dictName(o.dict, "Type").contains("ObjStm")) {
        for {
          raw <- o.stream
          data <- decodeStream(o.dict, raw)
          nObjs <- dictInt(o.dict, "N")
          first <- dictInt(o.dict, "First")
        } {
          val s = new String(data,
            java.nio.charset.StandardCharsets.ISO_8859_1)
          if (first >= 0 && first <= s.length && nObjs >= 0 &&
            nObjs <= 65536) {
            val pairs = "\\d+".r.findAllIn(s.substring(0, first.toInt))
              .map(_.toLong).grouped(2).filter(_.length == 2)
              .take(nObjs.toInt).toVector
            pairs.zipWithIndex.foreach { case (p, i) =>
              val num = p(0); val start = first + p(1)
              val end = if (i + 1 < pairs.length)
                math.min(first + pairs(i + 1)(1), s.length.toLong)
              else s.length.toLong
              if (start >= 0 && start <= end && end <= s.length &&
                num > 0 && num <= Int.MaxValue)
                extra(num.toInt) =
                  Obj(s.substring(start.toInt, end.toInt).trim, None)
            }
          }
        }
      }
    }
    if (extra.isEmpty) objects else (extra ++ objects).toMap
  }

  /** Linear object scan ("repair mode"). None on structural
    * malformation (bad stream framing, unbalanced dict). */
  private def scanObjects(s: String,
      bytes: Array[Byte]): Option[Map[Int, Obj]] = {
    val out = scala.collection.mutable.Map[Int, Obj]()
    // deferred: streams whose /Length is an indirect reference
    var deferred = List.empty[(Int, String, Long, Int)] // num, dict, start, lenRef
    var i = 0L
    val n = s.length.toLong
    while (i < n) {
      val at = s.indexOf(" obj", i.toInt)
      if (at < 0) { i = n }
      else {
      // backtrack: generation then object number
      var j = at - 1
      while (j >= 0 && s.charAt(j).isDigit) j -= 1
      val genStart = j + 1
      if (genStart == at) { i = at + 4L } // no generation digits
      else {
        while (j >= 0 && s.charAt(j) == ' ') j -= 1
        var k = j
        while (k >= 0 && s.charAt(k).isDigit) k -= 1
        val numStart = k + 1
        if (numStart > j) { i = at + 4L }
        else {
          val num = s.substring(numStart, j + 1).toIntOption
            .getOrElse { i = at + 4L; -1 }
          if (num < 0) ()
          else {
            var p = at + 4L // after " obj"
            while (p < n && s.charAt(p.toInt).isWhitespace) p += 1
            if (p + 2 <= n && s.startsWith("<<", p.toInt)) {
              val dictEnd = balancedDictEnd(s, p)
              if (dictEnd < 0) return None
              val dict = s.substring(p.toInt, dictEnd.toInt)
              var q = dictEnd
              while (q < n && s.charAt(q.toInt).isWhitespace) q += 1
              if (s.startsWith("stream", q.toInt)) {
                var dataStart = q + 6
                if (dataStart < n && s.charAt(dataStart.toInt) == '\r')
                  dataStart += 1
                if (dataStart < n && s.charAt(dataStart.toInt) == '\n')
                  dataStart += 1
                dictInt(dict, "Length") match {
                  case Some(len) =>
                    if (len < 0 || dataStart + len > bytes.length) return None
                    val data = java.util.Arrays.copyOfRange(bytes,
                      dataStart.toInt, (dataStart + len).toInt)
                    if (!endstreamFollows(s, dataStart + len)) return None
                    out(num) = Obj(dict, Some(data))
                    i = dataStart + len
                  case None =>
                    dictRef(dict, "Length") match {
                      case Some(ref) =>
                        deferred ::= ((num, dict, dataStart, ref))
                        // skip scan past the stream terminator; the
                        // byte sequence "endstream" can occur inside
                        // compressed stream data, so only accept a
                        // candidate framed by a following "endobj"
                        var es = s.indexOf("endstream", dataStart.toInt)
                        while (es >= 0 && !endobjFollows(s, es + 9L))
                          es = s.indexOf("endstream", es + 1)
                        if (es < 0) return None
                        i = es + 9L
                      case None => return None // stream without Length
                    }
                }
              } else {
                out(num) = Obj(dict, None)
                i = q
              }
            } else {
              // non-dict object body (e.g. a bare integer for an
              // indirect /Length): up to endobj
              val end = s.indexOf("endobj", p.toInt)
              if (end < 0) return None
              out(num) = Obj(s.substring(p.toInt, end).trim, None)
              i = end + 6L
            }
          }
        }
      }
      }
    }
    // resolve deferred indirect lengths
    deferred.foreach { case (num, dict, start, lenRef) =>
      val len = out.get(lenRef)
        .flatMap(o => o.dict.trim.toLongOption)
        .getOrElse(return None)
      if (len < 0 || start + len > bytes.length) return None
      val data = java.util.Arrays.copyOfRange(bytes, start.toInt,
        (start + len).toInt)
      if (!endstreamFollows(s, start + len)) return None
      out(num) = Obj(dict, Some(data))
    }
    Some(out.toMap)
  }

  /** `endobj` follows (after PDF whitespace) — frames a real
    * `endstream` keyword vs the same bytes inside stream data. */
  private def endobjFollows(s: String, from: Long): Boolean = {
    var p = from
    while (p < s.length && (s.charAt(p.toInt) == '\r' ||
      s.charAt(p.toInt) == '\n' || s.charAt(p.toInt) == ' ' ||
      s.charAt(p.toInt) == '\t')) p += 1
    s.startsWith("endobj", p.toInt)
  }

  private def endstreamFollows(s: String, from: Long): Boolean = {
    var p = from
    while (p < s.length && (s.charAt(p.toInt) == '\r' ||
      s.charAt(p.toInt) == '\n' || s.charAt(p.toInt) == ' ')) p += 1
    s.startsWith("endstream", p.toInt)
  }

  /** End index (exclusive) of a `<< … >>` dict starting at `from`,
    * balancing nested dicts; -1 if unterminated. */
  private def balancedDictEnd(s: String, from: Long): Long = {
    var depth = 0
    var i = from
    while (i < s.length) {
      if (s.startsWith("<<", i.toInt)) { depth += 1; i += 2 }
      else if (s.startsWith(">>", i.toInt)) {
        depth -= 1; i += 2
        if (depth == 0) return i
      } else i += 1
    }
    -1L
  }

  private def lastTrailerDict(s: String): Option[String] = {
    val at = s.lastIndexOf("trailer")
    if (at < 0) return None
    var p = (at + 7).toLong
    while (p < s.length && s.charAt(p.toInt).isWhitespace) p += 1
    if (!s.startsWith("<<", p.toInt)) return None
    val end = balancedDictEnd(s, p)
    if (end < 0) None else Some(s.substring(p.toInt, end.toInt))
  }

  // -- dict value lookups (regex with a name-boundary guard: /Length
  // -- must not match /Length1) ------------------------------------ //

  private def keyPattern(key: String) =
    ("/" + key + "(?![A-Za-z0-9#])\\s*").r

  private def afterKey(dict: String, key: String): Option[String] =
    keyPattern(key).findFirstMatchIn(dict).map(m => dict.substring(m.end))

  private def dictInt(dict: String, key: String): Option[Long] =
    afterKey(dict, key).flatMap { rest =>
      val digits = rest.takeWhile(_.isDigit)
      // a direct int is NOT followed by a generation+R (indirect ref)
      val tail = rest.substring(digits.length)
      val isRef = tail.matches("(?s)\\s+\\d+\\s+R(?![A-Za-z0-9]).*")
      if (digits.nonEmpty && !isRef) digits.toLongOption else None
    }

  private def dictRef(dict: String, key: String): Option[Int] =
    afterKey(dict, key).flatMap { rest =>
      val m = "^(\\d+)\\s+\\d+\\s+R(?![A-Za-z0-9])".r
        .findFirstMatchIn(rest)
      m.map(_.group(1).toInt)
    }

  private def dictName(dict: String, key: String): Option[String] =
    afterKey(dict, key).flatMap { rest =>
      if (rest.startsWith("/"))
        Some(rest.drop(1).takeWhile(c => c.isLetterOrDigit))
      else None
    }

  /** `/Key N G R` or `/Key [N G R N G R …]` → referenced numbers. */
  private def dictRefArray(dict: String, key: String): Option[Seq[Int]] =
    afterKey(dict, key).flatMap { rest =>
      if (rest.startsWith("[")) {
        val close = rest.indexOf(']')
        if (close < 0) return None
        val inner = rest.substring(1, close)
        val refs = "(\\d+)\\s+\\d+\\s+R".r.findAllMatchIn(inner)
          .map(_.group(1).toInt).toSeq
        if (refs.isEmpty) None else Some(refs)
      } else dictRef(dict, key).map(Seq(_))
    }

  /** Page-tree walk: Pages nodes recurse through /Kids, Page leaves
    * collect, in order. Depth-capped against reference cycles. */
  private def collectPages(objects: Map[Int, Obj], ref: Int,
      depth: Int): Option[Seq[Int]] = {
    if (depth > 32) return None
    val node = objects.get(ref).getOrElse(return None)
    dictName(node.dict, "Type") match {
      case Some("Pages") =>
        val kids = dictRefArray(node.dict, "Kids").getOrElse(return None)
        val all = kids.map(k => collectPages(objects, k, depth + 1)
          .getOrElse(return None))
        Some(all.flatten)
      case Some("Page") => Some(Seq(ref))
      case _ => None
    }
  }

  private def decodeStream(dict: String,
      raw: Array[Byte]): Option[Array[Byte]] =
    dictName(dict, "Filter") match {
      case None => Some(raw)
      case Some("FlateDecode") => inflate(raw)
      case Some(_) => None // unsupported filter: reject, never junk
    }

  /** zlib-inflate a /FlateDecode stream — delegated to the shared
    * bounds-guarded [[graft.sources.Inflate]] with this reader's
    * 64 MiB bomb cap (r16 consolidation). */
  private def inflate(data: Array[Byte]): Option[Array[Byte]] =
    graft.sources.Inflate(data, raw = false, cap = 64 << 20)

  // -- fonts: simple (Latin-1) vs composite (CID via ToUnicode) ------ //

  private[multimodal] sealed trait FontMap
  /** Bytes ARE the text (Latin-1 view of the standard encodings). */
  private[multimodal] case object SimpleFont extends FontMap
  /** Type0: 2-byte big-endian codes → UTF-16 text via the CMap. */
  private[multimodal] final case class CidFont(cmap: Map[Int, String])
    extends FontMap
  /** Type0 without a usable ToUnicode: glyph ids, no text. */
  private[multimodal] case object OpaqueFont extends FontMap

  /** A dict value that is either an inline `<< … >>` or an indirect
    * reference to a dict object. */
  private def resolvedDict(objects: Map[Int, Obj], dict: String,
      key: String): Option[String] =
    afterKey(dict, key).flatMap { rest =>
      if (rest.startsWith("<<")) {
        val end = balancedDictEnd(rest, 0L)
        if (end < 0) None else Some(rest.substring(0, end.toInt))
      } else dictRef(dict, key).flatMap(objects.get).map(_.dict)
    }

  /** Page `/Resources /Font` → name → [[FontMap]]. Absent resources
    * mean an empty map (every show op then uses the Latin-1 default —
    * the pre-r14 behavior, and what simple single-font docs need). */
  private def buildFonts(objects: Map[Int, Obj],
      pageDict: String): Map[String, FontMap] = {
    val fontDict = for {
      res <- resolvedDict(objects, pageDict, "Resources")
      fd <- resolvedDict(objects, res, "Font")
    } yield fd
    fontDict match {
      case None => Map.empty
      case Some(fd) =>
        "/([A-Za-z0-9]+)\\s+(\\d+)\\s+\\d+\\s+R".r.findAllMatchIn(fd)
          .flatMap { m =>
            val name = m.group(1)
            objects.get(m.group(2).toInt).map { fo =>
              val fm: FontMap =
                if (dictName(fo.dict, "Subtype").contains("Type0")) {
                  val cid = for {
                    tuRef <- dictRef(fo.dict, "ToUnicode")
                    tu <- objects.get(tuRef)
                    raw <- tu.stream
                    bytes <- decodeStream(tu.dict, raw)
                  } yield CidFont(parseToUnicodeCMap(new String(bytes,
                    java.nio.charset.StandardCharsets.ISO_8859_1)))
                  cid.getOrElse(OpaqueFont)
                } else SimpleFont
              name -> fm
            }
          }.toMap
    }
  }

  /** ToUnicode CMap: `beginbfchar`/`endbfchar` pairs and
    * `beginbfrange`/`endbfrange` triples — both the incrementing
    * `<lo> <hi> <dst>` form and the explicit `<lo> <hi> [<d> …]`
    * array form. Destinations are UTF-16BE hex (multi-code-unit
    * destinations supported). Oversized/garbled sections are skipped,
    * not fatal — a partial CMap still recovers partial text. */
  private[graft] def parseToUnicodeCMap(s: String): Map[Int, String] = {
    val out = scala.collection.mutable.Map[Int, String]()
    val MaxEntries = 1 << 16
    def utf16Hex(hex: String): String = {
      val padded = "0" * ((4 - hex.length % 4) % 4) + hex
      val sb = new StringBuilder
      var i = 0
      while (i + 4 <= padded.length) {
        sb.append(Integer.parseInt(padded.substring(i, i + 4), 16).toChar)
        i += 4
      }
      sb.toString
    }
    def sections(tag: String): Iterator[String] = {
      val begin = s"begin$tag"; val end = s"end$tag"
      Iterator.unfold(s.indexOf(begin)) { at =>
        if (at < 0) None
        else {
          val stop = s.indexOf(end, at)
          val seg = if (stop < 0) s.substring(at + begin.length)
            else s.substring(at + begin.length, stop)
          val next = if (stop < 0) -1 else s.indexOf(begin, stop)
          Some((seg, next))
        }
      }
    }
    val tok = "<([0-9A-Fa-f]+)>|\\[|\\]".r
    sections("bfchar").foreach { seg =>
      tok.findAllMatchIn(seg).flatMap(m => Option(m.group(1)))
        .grouped(2).foreach {
          case Seq(src, dst) if src.length <= 8 && out.size < MaxEntries =>
            out(Integer.parseInt(src, 16)) = utf16Hex(dst)
          case _ => ()
        }
    }
    sections("bfrange").foreach { seg =>
      val toks = tok.findAllMatchIn(seg)
        .map(m => Option(m.group(1)).getOrElse(m.matched)).toVector
      var i = 0
      while (i + 1 < toks.length) {
        (toks(i), toks(i + 1)) match {
          case (lo, hi) if lo != "[" && lo != "]" && hi != "[" &&
            hi != "]" && lo.length <= 8 && hi.length <= 8 =>
            val loV = Integer.parseInt(lo, 16)
            val hiV = Integer.parseInt(hi, 16)
            if (i + 2 < toks.length && toks(i + 2) == "[") {
              // array form: one destination per code
              var j = i + 3
              var c = loV
              while (j < toks.length && toks(j) != "]") {
                if (c <= hiV && out.size < MaxEntries)
                  out(c) = utf16Hex(toks(j))
                c += 1; j += 1
              }
              i = j + 1
            } else if (i + 2 < toks.length) {
              // incrementing form: dst + (code − lo), same hex width
              val dst = toks(i + 2)
              if (dst != "[" && dst != "]" && dst.length <= 12 &&
                hiV - loV < MaxEntries) {
                val base = java.lang.Long.parseLong(dst, 16)
                // PDF 32000-1 §9.10.3: only the LAST BYTE of the
                // destination string is incremented (conforming
                // ranges may not cross its 0xFF boundary) — add the
                // offset within the low 8 bits, all higher bytes
                // fixed; a carry must never propagate upward
                val baseHi = base & ~0xffL
                val baseLo = base & 0xffL
                var c = loV
                while (c <= hiV && out.size < MaxEntries) {
                  val h = java.lang.Long.toHexString(
                    baseHi | ((baseLo + (c - loV)) & 0xffL))
                  out(c) = utf16Hex(
                    "0" * math.max(0, dst.length - h.length) + h)
                  c += 1
                }
              }
              i += 3
            } else i = toks.length
          case _ => i += 1
        }
      }
    }
    out.toMap
  }

  // -- content-stream text extraction ------------------------------- //

  /** Text shown by a content stream: one string per line, lines
    * separated by the Td/TD/T-star moves, the quote show-ops, and BT
    * blocks; empty lines dropped. Tolerant of truncation (a cut-off
    * string yields its prefix) — crawl material, not validator
    * material. */
  private[multimodal] def extractText(content: String): String =
    extractText(content, Map.empty)

  private[multimodal] def extractText(content: String,
      fonts: Map[String, FontMap]): String = {
    val lines = Vector.newBuilder[String]
    val cur = new StringBuilder
    var lastStr: String = null
    var lastArr: Seq[String] = null
    var lastName: String = null
    // text state: the active font persists across BT/ET until Tf
    var curFont: FontMap = SimpleFont
    def newline(): Unit = { lines += cur.toString; cur.clear() }
    /** Show a raw string through the active font. */
    def show(raw: String): Unit = curFont match {
      case SimpleFont => cur.append(raw)
      case OpaqueFont => () // glyph ids without a CMap: no text
      case CidFont(cmap) =>
        var k = 0
        while (k + 1 < raw.length) { // 2-byte big-endian CIDs
          val code = (raw.charAt(k) << 8) | raw.charAt(k + 1)
          cmap.get(code).foreach(cur.append)
          k += 2
        } // an odd trailing byte is truncation: drops
    }
    var i = 0
    val n = content.length
    while (i < n) {
      val c = content.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '%') { // comment to end of line
        while (i < n && content.charAt(i) != '\n' &&
          content.charAt(i) != '\r') i += 1
      } else if (c == '(') {
        val (str, next) = literalString(content, i)
        lastStr = str; i = next
      } else if (c == '<' && i + 1 < n && content.charAt(i + 1) == '<') {
        val end = balancedDictEnd(content, i.toLong)
        i = if (end < 0) n else end.toInt
      } else if (c == '<') {
        val (str, next) = hexString(content, i)
        lastStr = str; i = next
      } else if (c == '[') {
        val (arr, next) = arrayStrings(content, i)
        lastArr = arr; i = next
      } else if (c == ']' || c == ')' || c == '>' || c == '{' ||
        c == '}') i += 1
      else if (c == '/') {
        i += 1
        val start = i
        while (i < n && !isDelimiter(content.charAt(i))) i += 1
        lastName = content.substring(start, i)
      } else {
        val start = i
        while (i < n && !isDelimiter(content.charAt(i))) i += 1
        content.substring(start, i) match {
          case "Tj" => if (lastStr != null) show(lastStr)
          case "TJ" => if (lastArr != null) lastArr.foreach(show)
          case "'" | "\"" =>
            newline(); if (lastStr != null) show(lastStr)
          case "Td" | "TD" | "T*" => newline()
          case "BT" => newline()
          case "Tf" => // /Name size Tf — unknown names stay Latin-1
            if (lastName != null)
              curFont = fonts.getOrElse(lastName, SimpleFont)
          case _ => () // numbers, other operators
        }
      }
    }
    newline()
    lines.result().filter(_.nonEmpty).mkString("\n")
  }

  private def isDelimiter(c: Char): Boolean =
    c.isWhitespace || c == '(' || c == ')' || c == '<' || c == '>' ||
      c == '[' || c == ']' || c == '{' || c == '}' || c == '/' || c == '%'

  /** `(…)` with the full ISO 32000-1 escape set; truncation yields
    * the prefix. Returns (decoded, index after closing paren). */
  private[multimodal] def literalString(s: String, from: Int): (String, Int) = {
    val sb = new StringBuilder
    var depth = 1
    var i = from + 1
    val n = s.length
    while (i < n && depth > 0) {
      val c = s.charAt(i)
      if (c == '\\') {
        i += 1
        if (i < n) {
          val d = s.charAt(i)
          d match {
            case 'n' => sb.append('\n'); i += 1
            case 'r' => sb.append('\r'); i += 1
            case 't' => sb.append('\t'); i += 1
            case 'b' => sb.append('\b'); i += 1
            case 'f' => sb.append('\f'); i += 1
            case '(' => sb.append('('); i += 1
            case ')' => sb.append(')'); i += 1
            case '\\' => sb.append('\\'); i += 1
            case '\r' => // line continuation: swallow CR (and LF)
              i += 1; if (i < n && s.charAt(i) == '\n') i += 1
            case '\n' => i += 1
            case o if o >= '0' && o <= '7' =>
              var v = 0; var k = 0
              while (k < 3 && i < n && s.charAt(i) >= '0' &&
                s.charAt(i) <= '7') { v = v * 8 + (s.charAt(i) - '0'); i += 1; k += 1 }
              sb.append((v & 0xff).toChar)
            case other => sb.append(other); i += 1 // \x → x
          }
        }
      } else if (c == '(') { depth += 1; sb.append('('); i += 1 }
      else if (c == ')') {
        depth -= 1
        if (depth > 0) sb.append(')')
        i += 1
      } else { sb.append(c); i += 1 }
    }
    (sb.toString, i)
  }

  /** `<hex…>`: whitespace skipped, odd trailing digit zero-padded. */
  private[multimodal] def hexString(s: String, from: Int): (String, Int) = {
    val sb = new StringBuilder
    var i = from + 1
    var hi = -1
    while (i < s.length && s.charAt(i) != '>') {
      val c = s.charAt(i)
      val d = Character.digit(c, 16)
      if (d >= 0) {
        if (hi < 0) hi = d
        else { sb.append(((hi << 4) | d).toChar); hi = -1 }
      }
      i += 1
    }
    if (hi >= 0) sb.append((hi << 4).toChar) // odd digit: pad 0
    (sb.toString, if (i < s.length) i + 1 else i)
  }

  /** `[ … ]` TJ operand: strings in order, kerning numbers dropped. */
  private def arrayStrings(s: String, from: Int): (Seq[String], Int) = {
    val out = Vector.newBuilder[String]
    var i = from + 1
    while (i < s.length && s.charAt(i) != ']') {
      val c = s.charAt(i)
      if (c == '(') {
        val (str, next) = literalString(s, i)
        out += str; i = next
      } else if (c == '<') {
        val (str, next) = hexString(s, i)
        out += str; i = next
      } else i += 1
    }
    (out.result(), if (i < s.length) i + 1 else i)
  }

  // -- synthetic fixtures ------------------------------------------- //

  /** Deterministic per-id synthetic PDF — the query-able fixture
    * column for [[parse]]. Variant cycles (id % 4): 0 = plain content
    * with paren escapes, 1 = real FlateDecode (JDK Deflater), 2 = TJ
    * array with kerning numbers, 3 = hex string + `'` next-line-show
    * with an INDIRECT /Length. Every third id gets a second page. */
  def synthPdf(id: Long): Array[Byte] = {
    val v = (id % 4).toInt
    val twoPages = id % 3 == 0
    val content1 = v match {
      case 0 => s"BT (Hello \\(doc\\) $id) Tj 0 -14 Td (Line two of $id) Tj ET"
      case 1 => s"BT (Flate doc $id) Tj 0 -14 Td (Line two of $id) Tj ET"
      case 2 => s"BT [(Wor) -120 (ld doc ) 20 ($id)] TJ ET"
      case _ =>
        val hex = s"Hex doc $id".getBytes(
          java.nio.charset.StandardCharsets.ISO_8859_1)
          .map(b => f"${b & 0xff}%02x").mkString
        s"BT <$hex> Tj (Next line $id) ' ET"
    }
    val latin1 = java.nio.charset.StandardCharsets.ISO_8859_1
    val c1Raw = content1.getBytes(latin1)
    val c1 = if (v == 1) graft.sources.Inflate.deflate(c1Raw, raw = false) else c1Raw
    val filter1 = if (v == 1) " /Filter /FlateDecode" else ""
    val out = new java.io.ByteArrayOutputStream()
    def w(str: String): Unit = out.write(str.getBytes(latin1))
    w("%PDF-1.4\n")
    w("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    val kids = if (twoPages) "[3 0 R 5 0 R]" else "[3 0 R]"
    val count = if (twoPages) 2 else 1
    w(s"2 0 obj << /Type /Pages /Kids $kids /Count $count >> endobj\n")
    w("3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n")
    val lenSpec = if (v == 3) "7 0 R" else c1.length.toString
    w(s"4 0 obj << /Length $lenSpec$filter1 >> stream\n")
    out.write(c1)
    w("\nendstream endobj\n")
    if (twoPages) {
      val c2 = s"BT (Page 2 of $id) Tj ET".getBytes(latin1)
      w("5 0 obj << /Type /Page /Parent 2 0 R /Contents 6 0 R >> endobj\n")
      w(s"6 0 obj << /Length ${c2.length} >> stream\n")
      out.write(c2)
      w("\nendstream endobj\n")
    }
    if (v == 3) w(s"7 0 obj ${c1.length} endobj\n")
    w("trailer << /Size 8 /Root 1 0 R >>\n%%EOF\n")
    out.toByteArray
  }

  def synthPdfCol(c: Column): Column =
    udf { id: Long => synthPdf(id) }.apply(c)

  /** Deterministic per-id CID PDF: a `/Type0` + `/Identity-H` font
    * whose ToUnicode CMap exercises every section form — the
    * incrementing bfrange (CIDs 1–26 → A–Z), a bfchar (0x20 → space),
    * the ARRAY-form bfrange (0x30–0x32 → Greek Α/Β/Γ), and a
    * multi-code-unit bfchar (0x40 → "Æ!") — plus a simple Latin-1
    * font the content switches to mid-page via `Tf`. CID strings are
    * 2-byte big-endian hex shows. The extracted text is a closed form
    * of id the SQL oracle replays with chr(). */
  def synthCidPdf(id: Long): Array[Byte] = {
    val latin1 = java.nio.charset.StandardCharsets.ISO_8859_1
    val cmap =
      "/CIDInit /ProcSet findresource begin\n" +
        "12 dict begin\nbegincmap\n" +
        "/CMapName /GraftToUni def\n" +
        "2 beginbfchar\n<0020> <0020>\n<0040> <00C60021>\nendbfchar\n" +
        "2 beginbfrange\n<0001> <001a> <0041>\n" +
        "<0030> <0032> [<0391> <0392> <0393>]\nendbfrange\n" +
        "endcmap\nCMapName currentdict /CMap defineresource pop\nend end"
    def cid(c: Char): String =
      if (c == ' ') "0020" else f"${c - 'A' + 1}%04x"
    val letter = ('A' + (id % 26)).toChar
    val hex1 = ("CID " + letter).map(cid).mkString
    val hex2 = f"${0x30 + id % 3}%04x" + "0040"
    val content =
      s"BT /F1 12 Tf <$hex1> Tj 0 -14 Td <$hex2> Tj " +
        s"0 -14 Td /F2 10 Tf (plain ${id % 100}) Tj ET"
    val cBytes = content.getBytes(latin1)
    val mBytes = cmap.getBytes(latin1)
    val out = new java.io.ByteArrayOutputStream()
    def w(str: String): Unit = out.write(str.getBytes(latin1))
    w("%PDF-1.6\n")
    w("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    w("2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n")
    w("3 0 obj << /Type /Page /Parent 2 0 R /Resources " +
      "<< /Font << /F1 5 0 R /F2 8 0 R >> >> /Contents 4 0 R >> endobj\n")
    w(s"4 0 obj << /Length ${cBytes.length} >> stream\n")
    out.write(cBytes)
    w("\nendstream endobj\n")
    w("5 0 obj << /Type /Font /Subtype /Type0 /BaseFont /GraftCID " +
      "/Encoding /Identity-H /DescendantFonts [7 0 R] " +
      "/ToUnicode 6 0 R >> endobj\n")
    w(s"6 0 obj << /Length ${mBytes.length} >> stream\n")
    out.write(mBytes)
    w("\nendstream endobj\n")
    w("7 0 obj << /Type /Font /Subtype /CIDFontType2 " +
      "/BaseFont /GraftCID >> endobj\n")
    w("8 0 obj << /Type /Font /Subtype /Type1 " +
      "/BaseFont /Helvetica >> endobj\n")
    w("trailer << /Size 9 /Root 1 0 R >>\n%%EOF\n")
    out.toByteArray
  }

  def synthCidPdfCol(c: Column): Column =
    udf { id: Long => synthCidPdf(id) }.apply(c)

  /** Deterministic per-id PDF 1.5-style document: the ENTIRE document
    * tree (catalog, pages node, page dict) lives inside one
    * FlateDecode'd `/Type /ObjStm`; only the content stream and the
    * ObjStm itself are direct objects — the shape modern PDF writers
    * emit, unreachable without object-stream expansion. */
  def synthObjStmPdf(id: Long): Array[Byte] = {
    val latin1 = java.nio.charset.StandardCharsets.ISO_8859_1
    val content = s"BT (ObjStm doc $id) Tj 0 -14 Td " +
      s"(Packed tree ${id % 50}) Tj ET"
    val cBytes = content.getBytes(latin1)
    // packed objects 1 (catalog), 2 (pages), 3 (page)
    val bodies = Seq(
      1 -> "<< /Type /Catalog /Pages 2 0 R >>",
      2 -> "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      3 -> "<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>")
    val offsets = bodies.scanLeft(0) { case (off, (_, b)) =>
      off + b.length + 1
    }
    val header = bodies.zip(offsets).map { case ((num, _), off) =>
      s"$num $off"
    }.mkString(" ") + " "
    val payload = (header + bodies.map(_._2).mkString(" ")).getBytes(latin1)
    val packed = graft.sources.Inflate.deflate(payload, raw = false)
    val out = new java.io.ByteArrayOutputStream()
    def w(str: String): Unit = out.write(str.getBytes(latin1))
    w("%PDF-1.5\n")
    w(s"10 0 obj << /Type /ObjStm /N ${bodies.length} " +
      s"/First ${header.length} /Length ${packed.length} " +
      "/Filter /FlateDecode >> stream\n")
    out.write(packed)
    w("\nendstream endobj\n")
    w(s"4 0 obj << /Length ${cBytes.length} >> stream\n")
    out.write(cBytes)
    w("\nendstream endobj\n")
    w("trailer << /Size 11 /Root 1 0 R >>\n%%EOF\n")
    out.toByteArray
  }

  def synthObjStmPdfCol(c: Column): Column =
    udf { id: Long => synthObjStmPdf(id) }.apply(c)

  /** bytes → struct<version, n_pages, text, encrypted>; null when
    * malformed. */
  def pdfCol(c: Column): Column =
    udf { b: Array[Byte] => parse(b) }.apply(c)

  /** Deterministic per-id ENCRYPTED PDF stub: a structurally ordinary
    * document whose trailer carries `/Encrypt` (Standard security
    * handler dict, RC4 shape) and whose content stream is
    * deterministic ciphertext-looking junk — [[parse]] must flag it
    * without ever reaching that stream (reaching it would mint
    * mojibake, the failure mode the flag exists to prevent). */
  def synthEncryptedPdf(id: Long): Array[Byte] = {
    val latin1 = java.nio.charset.StandardCharsets.ISO_8859_1
    val out = new java.io.ByteArrayOutputStream()
    def w(str: String): Unit = out.write(str.getBytes(latin1))
    w("%PDF-1.6\n")
    w("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    w("2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n")
    w("3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n")
    val junk = Array.tabulate(((id % 40) + 24).toInt)(j =>
      ((id * 131 + j * 29 + 7) % 256).toByte)
    w(s"4 0 obj << /Length ${junk.length} >> stream\n")
    out.write(junk)
    w("\nendstream endobj\n")
    w("9 0 obj << /Filter /Standard /V 2 /R 3 /Length 128 " +
      "/P -3904 /O (o) /U (u) >> endobj\n")
    w("trailer << /Size 10 /Root 1 0 R /Encrypt 9 0 R >>\n%%EOF\n")
    out.toByteArray
  }

  def synthEncryptedPdfCol(c: Column): Column =
    udf { id: Long => synthEncryptedPdf(id) }.apply(c)
}
