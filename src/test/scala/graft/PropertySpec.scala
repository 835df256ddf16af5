package graft

import graft.multimodal.Binary
import graft.score.IsolationForest
import graft.sim.HashUtil
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck properties over the engine's pure kernels (SURVEY.md §5:
  * property tests for invariants the oracle can't see per-row).
  */
class PropertySpec extends AnyFunSuite {

  private def check(name: String, p: Prop): Unit = {
    val r = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(r.passed, s"$name: ${r.status}")
  }

  private val asciiStr: Gen[String] =
    Gen.listOf(Gen.choose(32.toChar, 126.toChar)).map(_.mkString)

  test("polyHash: range [0,P), deterministic, seed-sensitive") {
    check("range", Prop.forAll(asciiStr) { s =>
      val h = HashUtil.polyHash(UTF8String.fromString(s), 7L)
      h >= 0 && h < HashUtil.P
    })
    check("det", Prop.forAll(asciiStr) { s =>
      HashUtil.polyHash(UTF8String.fromString(s), 7L) ==
        HashUtil.polyHash(UTF8String.fromString(s), 7L)
    })
    check("seed", Prop.forAll(asciiStr.suchThat(_.nonEmpty)) { s =>
      HashUtil.polyHash(UTF8String.fromString(s), 7L) !=
        HashUtil.polyHash(UTF8String.fromString(s), 8L) ||
        s.isEmpty
    })
  }

  test("isolation forest c(n) is nonnegative and nondecreasing") {
    check("c", Prop.forAll(Gen.choose(1, 100000)) { n =>
      IsolationForest.c(n) >= 0.0 &&
        IsolationForest.c(n + 1) >= IsolationForest.c(n)
    })
  }

  test("byte histogram partitions the payload; stride sample sizes") {
    val bytesGen = Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue))
      .map(_.toArray)
    check("hist", Prop.forAll(bytesGen) { b =>
      Binary.byteHistogram(b).sum == b.length
    })
    check("stride", Prop.forAll(bytesGen, Gen.choose(1, 16)) { (b, k) =>
      Binary.strideSample(b, k).length == (b.length + k - 1) / k
    })
  }

  test("lerp interpolation stays within the endpoint box") {
    val vecGen = Gen.listOfN(8, Gen.choose(-100.0, 100.0))
    check("lerp", Prop.forAll(vecGen, vecGen, Gen.choose(0.0, 0.999999)) {
      (a, b, u) =>
        a.zip(b).forall { case (x, y) =>
          val v = x + u * (y - x)
          v >= math.min(x, y) - 1e-9 && v <= math.max(x, y) + 1e-9
        }
    })
  }

  test("linear AE reconstruction error is nonnegative (clamped projection)") {
    val m = new graft.score.LinearAE.Model(
      Array(0.0, 0.0), Array(Array(1.0, 0.0)))
    check("recon", Prop.forAll(Gen.choose(-1e6, 1e6), Gen.choose(-1e6, 1e6)) {
      (x, y) => m.reconstructionError(Array(x, y)) >= 0.0
    })
  }

  test("media header parsers: total on arbitrary bytes (None, never throw/hang)") {
    val bytes: Gen[Array[Byte]] =
      Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray)
    check("audio-fuzz", Prop.forAll(bytes) { b =>
      Binary.parseAudioMeta(b); true // totality: returns without throwing
    })
    check("image-fuzz", Prop.forAll(bytes) { b =>
      Binary.parseImageMeta(b); true
    })
    // truncation of a VALID header at any point must also be total
    val trunc = for {
      id <- Gen.choose(0L, 5000L)
      audio <- Gen.oneOf(true, false)
      full = if (audio) Binary.synthAudioHeader(id) else Binary.synthHeader(id)
      cut <- Gen.choose(0, full.length)
    } yield (audio, full.take(cut))
    check("truncation", Prop.forAll(trunc) { case (audio, b) =>
      if (audio) Binary.parseAudioMeta(b) else Binary.parseImageMeta(b); true
    })
  }

  test("wav/flac headers round-trip through the parser for any valid params") {
    val params = for {
      rate <- Gen.choose(1, 655349)
      ch <- Gen.choose(1, 8)
      bits <- Gen.oneOf(8, 16, 24, 32)
      frames <- Gen.choose(0L, 0xf_ffff_ffffL) // full 36-bit FLAC range
    } yield (rate, ch, bits, frames)
    check("flac-roundtrip", Prop.forAll(params) { case (rate, ch, bits, frames) =>
      Binary.parseAudioMeta(Binary.flacHeader(rate, ch, bits, frames))
        .contains(Binary.AudioMeta("flac", rate, ch, bits, frames,
          frames * 1000L / rate))
    })
    check("wav-roundtrip", Prop.forAll(params) { case (rate, ch, bits, frames) =>
      val blockAlign = ch * bits / 8
      // wav data size field is 32-bit: keep frames·blockAlign in range
      val f = math.min(frames, (0xffffffffL / blockAlign) - 1)
      Binary.parseAudioMeta(Binary.wavHeader(rate, ch, bits, f))
        .contains(Binary.AudioMeta("wav", rate, ch, bits, f, f * 1000L / rate))
    })
  }

  test("jacobi eigensolver: trace preserved, orthonormal basis, Av = λv") {
    val matGen = for {
      d <- Gen.choose(2, 8)
      entries <- Gen.listOfN(d * d, Gen.choose(-10.0, 10.0))
    } yield {
      val raw = entries.toArray.grouped(d).toArray
      // symmetrize: A := (M + Mᵀ)/2
      Array.tabulate(d, d)((i, j) => (raw(i)(j) + raw(j)(i)) / 2.0)
    }
    check("jacobi", Prop.forAll(matGen) { a =>
      val d = a.length
      val (evals, v) = graft.sim.Pca.jacobiEigen(a)
      val scale = math.max(1.0, a.map(_.map(math.abs).max).max) * d
      val traceOk = math.abs(evals.sum - (0 until d).map(i => a(i)(i)).sum) <
        1e-8 * scale
      val orthoOk = (0 until d).forall { i =>
        (i until d).forall { j =>
          val dot = (0 until d).map(r => v(r)(i) * v(r)(j)).sum
          math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-8
        }
      }
      val residOk = (0 until d).forall { k =>
        (0 until d).forall { r =>
          val av = (0 until d).map(c => a(r)(c) * v(c)(k)).sum
          math.abs(av - evals(k) * v(r)(k)) < 1e-7 * scale
        }
      }
      traceOk && orthoOk && residOk
    })
  }

  // ---- crawl-boundary parsers: total functions on hostile input ----
  // Every parser below claims "None/clean output, never a throw" on
  // arbitrary bytes/strings — fuzz the claim, not just the fixtures.

  private val anyStr: Gen[String] =
    Gen.listOf(Gen.frequency(
      8 -> Gen.choose(32.toChar, 126.toChar),
      1 -> Gen.oneOf('<', '>', '&', ';', '/', ':', '?', '#', '*', '$'),
      1 -> Gen.choose(0.toChar, 0xffff.toChar))).map(_.mkString)

  private val anyBytes: Gen[Array[Byte]] =
    Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray)

  test("crawl text parsers never throw on arbitrary strings") {
    import graft.text.{Html, Robots, Sitemap, Urls}
    check("urls", Prop.forAll(anyStr) { s =>
      Urls.canonicalParts(s); Urls.resolve("http://e.com/a/b", s); true
    })
    check("canonical-idempotent", Prop.forAll(anyStr) { s =>
      Urls.canonicalize(s).forall(c => Urls.canonicalize(c).contains(c))
    })
    check("html", Prop.forAll(anyStr) { s =>
      Html.htmlToText(s); Html.extractLinks(s); Html.extractTables(s)
      true
    })
    check("robots", Prop.forAll(anyStr) { s =>
      Robots.isAllowed(s, "bot", "/x")
      Robots.isAllowed("User-agent: *\nDisallow: /p\n", "bot", s)
      Robots.crawlDelay(s, "bot"); true
    })
    check("sitemap", Prop.forAll(anyStr) { s => Sitemap.parse(s); true })
    check("feeds-md-code-diff", Prop.forAll(anyStr) { s =>
      graft.text.Feeds.parse(s)
      graft.text.Markdown.mdToText(s)
      graft.text.Code.langOf("f.py", s); graft.text.Code.langOf(s, s)
      graft.text.Code.statsOf(s, "python"); graft.text.Code.licenseOf(s)
      graft.text.Diffs.parse(s); true
    })
    check("subs-pagemeta", Prop.forAll(anyStr) { s =>
      graft.text.Subtitles.parseSrt(s)
      graft.text.Subtitles.parseVtt("WEBVTT\n\n" + s)
      graft.text.Subtitles.parseAss(s)
      graft.text.Subtitles.parseAss("[Events]\nFormat: Start, End, Text\n" + s)
      graft.text.Html.pageMeta(s)
      graft.text.Html.jsonLdBlocks(s)
      graft.text.Html.jsonLdBlocks("<script type=\"application/ld+json\">" + s)
      graft.text.Html.ogProps(s); true
    })
    check("mail-rtf", Prop.forAll(anyStr) { s =>
      graft.sources.Mail.parseEml(s)
      graft.sources.Mail.parseEml("From: a@b\nContent-Type: " +
        "multipart/mixed; boundary=x\n\n" + s)
      graft.sources.Mail.decodeEncodedWords(s)
      graft.text.Rtf.rtfText(s)
      graft.text.Rtf.rtfText("{\\rtf1" + s)
      graft.text.Calendar.parseIcs(s)
      graft.text.Calendar.parseIcs("BEGIN:VCALENDAR\n" + s)
      graft.sources.Mail.mboxMessages("From a@b t\n" + s)
      graft.text.Calendar.parseVcards(s)
      graft.text.Calendar.parseVcards("BEGIN:VCARD\n" + s)
      graft.text.Gettext.parsePo(s)
      graft.text.Gettext.parsePo("msgid \"x\"\nmsgstr \"y\"\n" + s)
      graft.text.Toml.parseToml(s)
      graft.text.Toml.parseToml("[deps]\n" + s)
      graft.text.Toml.parseToml("k = \"" + s + "\"")
      true
    })
    // string-level mutation of the VALID mail/rtf fixtures — the
    // parsers' tolerance claims under single-char corruption
    check("mutate-mail-rtf", Prop.forAll(
      Gen.choose(0L, 63L), Gen.choose(0, 1 << 16),
      Gen.choose(32.toChar, 126.toChar)) { (id, posSeed, ch) =>
      val eml = graft.sources.Mail.synthEml(id)
      graft.sources.Mail.parseEml(eml.updated(posSeed % eml.length, ch))
      val rtf = graft.text.Rtf.synthRtf(id)
      graft.text.Rtf.rtfText(rtf.updated(posSeed % rtf.length, ch))
      true
    })
  }

  /** Walks a parser's result, so a reject that escapes through a
    * lazily built value fails the lane here, not in a later consumer. */
  private def force(r: Any): Unit = r match {
    case it: IterableOnce[_] => it.iterator.foreach(force)
    case p: Product => p.productIterator.foreach(force)
    case _ => ()
  }

  test("binary parsers never throw on arbitrary bytes") {
    import graft.multimodal.{Ebml, Font, Pdf, Vp8l}
    import graft.sources._
    def lane(name: String, parsers: Seq[Array[Byte] => Any]): Unit =
      check(name, Prop.forAll(anyBytes) { b =>
        parsers.foreach(p => force(p(b))); true
      })
    lane("warc", Seq(Warc.gunzipMembers, Warc.parseWarc, Warc.parseCrawl,
      Warc.parseHttpResponse, Warc.parseWet))
    lane("media", Seq(Binary.parseImageMeta, Binary.parseWebpMeta,
      Binary.parseAudioMeta, Vp8l.decode))
    lane("docs-archives", Seq(Pdf.parse, Binary.parseAvifMeta,
      Binary.parseExifMeta, Binary.parseBmpMeta, Binary.parseIcoMeta,
      Binary.parseTiffMeta, Archives.parseZip, Archives.parseTar,
      Archives.parseTarGz, Docs.docxText, Docs.epubText, Docs.epubMeta,
      Office.xlsxCells, Office.pptxText, Docs.odtText, Font.parseFont,
      Avro.parseAvro, Proto.census, Sqlite.parseSqlite, Frames.parseFrame,
      Font.parseWoff, Git.parseLoose, Pcap.census, Pcap.censusNg,
      Parquet.parseFooter, Cbor.census, Msgpack.census, Git.parsePackIdx,
      Orc.parseOrc, Parquet.thriftCensus, Binary.parseId3v2,
      Binary.parseSvgMeta, Binary.parseTracks, Binary.parseFlacTags,
      Binary.parseOggVorbisMeta, Ebml.parseMkv, Binary.pngDecode,
      Binary.gifDecode, Binary.jpegDecode, Binary.jpegDecodeColor420,
      Binary.jpegDecodeProgressive, Binary.wavPcmDecode, Binary.flacDecode,
      Binary.parseVideoMeta, Binary.parseOpusTags, Warc.gunzipAll))
    // mutation fuzz: corrupt VALID containers anywhere — parsers must
    // stay total (None / surviving prefix), never throw or hang
    val mutated: Seq[(Long => Array[Byte], Array[Byte] => Any)] = Seq(
      (Pdf.synthPdf, Pdf.parse), (Pdf.synthCidPdf, Pdf.parse),
      (Pdf.synthObjStmPdf, Pdf.parse), (Pdf.synthEncryptedPdf, Pdf.parse),
      (Archives.synthZip, Archives.parseZip),
      (Archives.synthZip64, Archives.parseZip),
      (Archives.synthTarGz, Archives.parseTarGz),
      (Archives.synthTarSpecial, Archives.parseTar),
      (Docs.synthEpub, Docs.epubText), (Office.synthXlsx, Office.xlsxCells),
      (Office.synthPptx, Office.pptxText), (Docs.synthOdt, Docs.odtText),
      (Font.synthFont, Font.parseFont), (Avro.synthAvro, Avro.parseAvro),
      (Proto.synthProto, Proto.census),
      (Sqlite.synthSqlite, Sqlite.parseSqlite),
      (Frames.synthFrame, Frames.parseFrame),
      (Font.synthWoff, Font.parseWoff), (Git.synthLoose, Git.parseLoose),
      (Pcap.synthPcap, Pcap.census), (Pcap.synthPcapng, Pcap.censusNg),
      (Parquet.synthParquet, Parquet.parseFooter),
      (Cbor.synthCbor, Cbor.census), (Msgpack.synthMsgpack, Msgpack.census),
      (Git.synthPackIdx, Git.parsePackIdx), (Orc.synthOrc, Orc.parseOrc),
      (Parquet.synthThrift, Parquet.thriftCensus),
      (Binary.synthLegacyImage, Binary.parseImageMeta),
      (Binary.synthExifJpeg, Binary.parseExifMeta),
      (Binary.synthVideoTracks, Binary.parseTracks),
      (Binary.synthOggVorbis, Binary.parseOggVorbisMeta),
      (Ebml.synthMkv, Ebml.parseMkv), (Binary.synthPng, Binary.pngDecode),
      (Binary.synthGif, Binary.gifDecode), (Binary.synthJpeg, Binary.jpegDecode),
      (Binary.synthJpegRst, Binary.jpegDecode),
      (Binary.synthColorJpeg, Binary.jpegDecodeColor420),
      (Binary.synthJpegProg, Binary.jpegDecodeProgressive),
      (Binary.synthWavPcm, Binary.wavPcmDecode),
      (Binary.synthFlac, Binary.flacDecode),
      (Binary.synthVideoHeader, Binary.parseVideoMeta),
      (Binary.synthOggOpus, Binary.parseOpusTags),
      (Archives.synthTarGz, Warc.gunzipAll))
    check("mutate-valid", Prop.forAll(
      Gen.choose(0L, 63L), Gen.choose(0, 1 << 16),
      Gen.choose(0, 255)) { (id, posSeed, v) =>
      def mut(b: Array[Byte]): Array[Byte] = {
        val c = b.clone(); val p = posSeed % c.length
        c(p) = v.toByte; c
      }
      mutated.foreach { case (synth, parse) => force(parse(mut(synth(id)))) }
      true
    })
    // DOCX XML-level fuzz: container byte flips die at the CRC gate,
    // so mutate word/document.xml ITSELF and rebuild the zip around it
    // (fresh CRC) — this is the lane that reaches the paragraph walk,
    // where the unterminated-tag hang lived
    check("mutate-docx-xml", Prop.forAll(
      Gen.choose(0L, 63L), Gen.choose(0, 1 << 16),
      Gen.choose(0, 255)) { (id, posSeed, v) =>
      val xml = graft.sources.Archives
        .parseZip(graft.sources.Docs.synthDocx(id)).get
        .find(_.name == "word/document.xml").get.text
      val p = posSeed % xml.length
      def rezip(doc: String) = graft.sources.Archives.buildZip(Seq(
        ("[Content_Types].xml", "<Types/>", true),
        ("word/document.xml", doc, true)))
      // single-char corruption
      graft.sources.Docs.docxText(rezip(xml.updated(p, v.toChar)))
      // structured splice of the two historical hang shapes
      val splice = if (v % 2 == 0) "<w:p x" else "</w:t><w:t zz"
      graft.sources.Docs.docxText(rezip(xml.take(p) + splice + xml.drop(p)))
      true
    })
    // XLSX/PPTX XML-level fuzz (the DOCX lesson): byte flips on the
    // CONTAINER die at the CRC gate, so mutate the inner sheet/slide
    // XML itself and rebuild the zip around it (fresh CRC) — this is
    // the lane that reaches the cell walk / paragraph-run walk
    check("mutate-office-xml", Prop.forAll(
      Gen.choose(0L, 63L), Gen.choose(0, 1 << 16),
      Gen.choose(0, 255)) { (id, posSeed, v) =>
      import graft.sources.{Archives, Office}
      val xEntries = Archives.parseZip(Office.synthXlsx(id)).get
      val sheet = xEntries.find(_.name == "xl/worksheets/sheet1.xml").get.text
      def rezipX(s: String) = Archives.buildZip(
        xEntries.map(e => (e.name,
          if (e.name == "xl/worksheets/sheet1.xml") s else e.text, true)))
      val p = posSeed % sheet.length
      Office.xlsxCells(rezipX(sheet.updated(p, v.toChar)))
      // structured splice of the walk's hang shapes: unterminated
      // cell open tag, torn run close
      val spliceX = if (v % 2 == 0) "<c r" else "</v><v zz"
      Office.xlsxCells(rezipX(sheet.take(p) + spliceX + sheet.drop(p)))
      val pEntries = Archives.parseZip(Office.synthPptx(id)).get
      val slide = pEntries.find(_.name == "ppt/slides/slide2.xml").get.text
      def rezipP(s: String) = Archives.buildZip(
        pEntries.map(e => (e.name,
          if (e.name == "ppt/slides/slide2.xml") s else e.text, true)))
      val q = posSeed % slide.length
      Office.pptxText(rezipP(slide.updated(q, v.toChar)))
      val spliceP = if (v % 2 == 0) "<a:p x" else "</a:t><a:t zz"
      Office.pptxText(rezipP(slide.take(q) + spliceP + slide.drop(q)))
      true
    })
  }

  test("VP8L codec round-trips random images under every coding path") {
    import graft.multimodal.Vp8l
    val imgGen = for {
      w <- Gen.choose(1, 24)
      h <- Gen.choose(1, 24)
      // mix pure noise (literal-dense, big alphabets) with run-heavy
      // rows (LZ77/cache-dense) — both entropy regimes
      runny <- Gen.oneOf(true, false)
      px <- Gen.listOfN(w * h,
        if (runny) Gen.oneOf(0xff112233, 0xff445566, 0x80aabbcc)
        else Gen.choose(Int.MinValue, Int.MaxValue))
      sg <- Gen.oneOf(true, false)
      cb <- Gen.oneOf(0, 3, 6)
      pb <- Gen.oneOf(0, 2, 3, 4) // predictor off / block bits
      pm <- Gen.choose(0, 13)     // uniform mode + per-tile cycling
      cyc <- Gen.oneOf(true, false)
      ctb <- Gen.oneOf(0, 2, 3)   // cross-color off / block bits
      ce <- Gen.choose(0, 0xffffff)
    } yield (w, h, px.toArray, sg, cb, pb, pm, cyc, ctb, ce)
    check("vp8l-roundtrip", Prop.forAll(imgGen) {
      case (w, h, px, sg, cb, pb, pm, cyc, ctb, ce) =>
        val modeOf: (Int, Int) => Int =
          if (cyc) (tx, ty) => (tx + ty + pm) % 14 else (_, _) => pm
        Vp8l.decode(Vp8l.encode(w, h, px, subtractGreen = sg,
          cacheBits = cb, predictorBits = pb, predictorMode = modeOf,
          colorBits = ctb,
          colorElem = (tx, ty) => ce ^ (tx * 0x10101) ^ (ty * 0x20202)))
          .exists(_._3.sameElements(px))
    })
    // palette round-trips at every bundling tier (8/4/2/1 px per byte)
    val palGen = for {
      w <- Gen.choose(1, 24)
      h <- Gen.choose(1, 24)
      nColors <- Gen.oneOf(2, 3, 4, 5, 16, 17, 200)
      colors <- Gen.listOfN(nColors, Gen.choose(Int.MinValue, Int.MaxValue))
      px <- Gen.listOfN(w * h, Gen.oneOf(colors))
      cb <- Gen.oneOf(0, 4)
    } yield (w, h, px.toArray, cb)
    check("vp8l-palette-roundtrip", Prop.forAll(palGen) {
      case (w, h, px, cb) =>
        Vp8l.decode(Vp8l.encode(w, h, px, palette = true, cacheBits = cb))
          .exists(_._3.sameElements(px))
    })
    // meta-Huffman: per-tile group selection composes with everything
    val metaGen = for {
      (w, h, px, sg, cb, pb, pm, cyc, ctb, ce) <- imgGen
      mb <- Gen.oneOf(2, 3)
      ng <- Gen.choose(1, 4)
    } yield (w, h, px, sg, cb, pb, pm, ctb, ce, mb, ng)
    check("vp8l-meta-huffman-roundtrip", Prop.forAll(metaGen) {
      case (w, h, px, sg, cb, pb, pm, ctb, ce, mb, ng) =>
        Vp8l.decode(Vp8l.encode(w, h, px, subtractGreen = sg,
          cacheBits = cb, predictorBits = pb,
          predictorMode = (tx, ty) => (tx + ty + pm) % 14,
          colorBits = ctb,
          colorElem = (tx, ty) => ce ^ (tx * 0x10101) ^ (ty * 0x20202),
          metaBits = mb, metaGroup = (tx, ty) => (tx + 2 * ty) % ng))
          .exists(_._3.sameElements(px))
    })
    // every predictor mode individually, on a fixed gradient+noise
    // image (deterministic, so a mode bug names itself)
    val w0 = 19; val h0 = 11
    val img = Array.tabulate(w0 * h0) { i =>
      val x = i % w0; val y = i / w0
      val r = (x * 13 + y * 7) % 256; val g = (x * 29 + y * 3) % 256
      val b = (i * 97) % 256; val a = if (i % 5 == 0) 0x80 else 0xff
      (a << 24) | (r << 16) | (g << 8) | b
    }
    for (mode <- 0 to 13; bits <- Seq(2, 4)) {
      val enc = Vp8l.encode(w0, h0, img, predictorBits = bits,
        predictorMode = (_, _) => mode)
      assert(Vp8l.decode(enc).exists(_._3.sameElements(img)),
        s"predictor mode $mode bits $bits must round-trip")
    }
    // regression: a meta-Huffman group whose ONLY token is a copy or
    // cache hit has one green symbol above the simple form's 8-bit
    // cap — must encode as a single-entry full code, not crash
    // (found by scalacheck: 5x1, cache 6, 3 groups at block bits 2)
    val tiny = Array.fill(5)(0xff112233)
    val encTiny = Vp8l.encode(5, 1, tiny, cacheBits = 6,
      metaBits = 2, metaGroup = (tx, _) => tx % 3)
    assert(Vp8l.decode(encTiny).exists(_._3.sameElements(tiny)))
    // predictor composes with subtract-green (reverse-order inverses)
    val both = Vp8l.encode(w0, h0, img, subtractGreen = true,
      cacheBits = 4, predictorBits = 3,
      predictorMode = (tx, ty) => (tx * 5 + ty) % 14)
    assert(Vp8l.decode(both).exists(_._3.sameElements(img)))
  }
}
