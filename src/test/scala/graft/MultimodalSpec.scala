package graft

import graft.eval.GridSearch
import graft.multimodal.Binary
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("byte ops: hash/histogram/stride on known bytes") {
    val bytes = "abc a".getBytes("UTF-8")
    // rolling: ((((13*31+97)*31+98)*31+99)*31+32)*31+97 mod P
    val expect = Seq(97, 98, 99, 32, 97).map(_.toLong)
      .foldLeft(13L)((acc, b) => (acc * 31 + b) % Binary.P)
    assert(Binary.byteHash(bytes) == expect)
    val h = Binary.byteHistogram(bytes)
    assert(h(6) == 4)      // a,b,c,a => 0x61,0x62,0x63 bin 6
    assert(h(2) == 1)      // space 0x20 bin 2
    assert(h.sum == 5)
    assert(Binary.strideSample(bytes, 2).toSeq == Seq('a', 'c', 'a').map(_.toByte))
  }

  test("stubDecode is deterministic and in range") {
    val b = "some media payload".getBytes("UTF-8")
    val f1 = Binary.stubDecode(b)
    val f2 = Binary.stubDecode(b)
    assert(f1.toSeq == f2.toSeq)
    assert(f1.length == 8)
    f1.foreach(v => assert(v >= 0.0f && v < 1.0f))
  }

  test("decodeBatches preserves columns, appends features, batches evenly") {
    val df = (1 to 100).map(i => (i.toLong, s"payload-$i".getBytes("UTF-8")))
      .toDF("id", "content").repartition(3)
    val out = Binary.decodeBatches(df, "content", batchSize = 16)
    assert(out.columns.toSeq == Seq("id", "content", "features"))
    val rows = out.collect()
    assert(rows.length == 100)
    rows.foreach { r =>
      assert(r.getSeq[Float](r.fieldIndex("features")).length == 8)
    }
    // determinism across runs
    val again = Binary.decodeBatches(df, "content", batchSize = 16)
      .select("id", "features").collect().map(r =>
        r.getLong(0) -> r.getSeq[Float](1)).toMap
    rows.foreach { r =>
      assert(again(r.getLong(0)) == r.getSeq[Float](r.fieldIndex("features")))
    }
  }

  test("media metadata struct is typed and filterable") {
    val df = Seq((1L, "x".getBytes)).toDF("id", "content")
    val m = Binary.withMeta(df, "content", lit("image/png"), lit(64), lit(64))
    val r = m.where(col("media_meta.media_type") === "image/png").head
    assert(r.getAs[org.apache.spark.sql.Row]("media_meta").getAs[Int]("width") == 64)
  }

  test("grid search picks the separating threshold on planted labels") {
    // scores: label 1 iff score > 100; grid quantile p=0.5 sits at the gap
    val df = ((1 to 50).map(i => (0, i.toDouble)) ++
      (1 to 50).map(i => (1, 100.0 + i))).toDF("label", "score")
    val grid = GridSearch.thresholdGrid(df, "label", "score",
      Seq(0.25, 0.5, 0.75)).collect()
    assert(grid.length == 3)
    val at50 = grid.find(_.getAs[Double]("p") == 0.5).get
    assert(at50.getAs[Long]("tp") == 50L && at50.getAs[Long]("fp") == 0L)
    assert(math.abs(at50.getAs[Double]("f1") - 1.0) < 1e-12)
    val best = GridSearch.bestThreshold(df, "label", "score",
      Seq(0.25, 0.5, 0.75)).head
    assert(best.getAs[Double]("p") == 0.5)
  }

  test("parseImageMeta round-trips png/jpeg/gif headers, rejects garbage") {
    assert(Binary.parseImageMeta(Binary.pngHeader(640, 480, 16))
      .contains(Binary.ImageMeta("png", 640, 480, 16)))
    assert(Binary.parseImageMeta(Binary.jpegHeader(1920, 1080))
      .contains(Binary.ImageMeta("jpeg", 1920, 1080, 8)))
    assert(Binary.parseImageMeta(Binary.gifHeader(320, 200, 5))
      .contains(Binary.ImageMeta("gif", 320, 200, 5)))
    assert(Binary.parseImageMeta("not an image".getBytes("UTF-8")).isEmpty)
    assert(Binary.parseImageMeta(Array[Byte](0x89.toByte, 'P')).isEmpty)
    // the jpeg marker walk must skip arbitrary segments before SOF:
    // splice a COM segment between SOI and APP0
    val j = Binary.jpegHeader(10, 20)
    val com = Array[Byte](0xff.toByte, 0xfe.toByte, 0, 4, 'h', 'i')
    assert(Binary.parseImageMeta(j.take(2) ++ com ++ j.drop(2))
      .contains(Binary.ImageMeta("jpeg", 10, 20, 8)))
    // truncated jpeg (SOI + APP0 only, no SOF) parses to None, not a crash
    assert(Binary.parseImageMeta(j.take(20)).isEmpty)
  }

  test("parseWebpMeta round-trips all three stream forms, rejects malformations") {
    // round-trips, including the 14-bit dim ceiling and alpha bit
    assert(Binary.parseWebpMeta(Binary.webpLossy(640, 480))
      .contains(Binary.WebpMeta("vp8", 640, 480, has_alpha = false)))
    assert(Binary.parseWebpMeta(Binary.webpLossless(16383, 1, alpha = true))
      .contains(Binary.WebpMeta("vp8l", 16383, 1, has_alpha = true)))
    assert(Binary.parseWebpMeta(Binary.webpLossless(1, 16384, alpha = false))
      .contains(Binary.WebpMeta("vp8l", 1, 16384, has_alpha = false)))
    assert(Binary.parseWebpMeta(Binary.webpExtended(1920, 1080, alpha = true))
      .contains(Binary.WebpMeta("vp8x", 1920, 1080, has_alpha = true)))
    // generic dispatch: WebP is always 8-bit per channel
    assert(Binary.parseImageMeta(Binary.webpLossy(320, 200))
      .contains(Binary.ImageMeta("webp", 320, 200, 8)))
    // malformations — every one None, never a crash
    val ok = Binary.webpLossy(640, 480)
    assert(Binary.parseWebpMeta(ok.take(19)).isEmpty)      // truncated
    assert(Binary.parseWebpMeta(ok ++ Array[Byte](0)).isEmpty) // RIFF size lies
    val badStart = ok.clone(); badStart(23) = 0x00         // start code
    assert(Binary.parseWebpMeta(badStart).isEmpty)
    val inter = ok.clone(); inter(20) = (inter(20) | 1).toByte // interframe
    assert(Binary.parseWebpMeta(inter).isEmpty)
    val l = Binary.webpLossless(10, 10, alpha = false)
    val badVer = l.clone(); badVer(24) = (badVer(24) | 0x20).toByte // version!=0
    assert(Binary.parseWebpMeta(badVer).isEmpty)
    val badSig = l.clone(); badSig(20) = 0x30 // VP8L signature byte
    assert(Binary.parseWebpMeta(badSig).isEmpty)
    val x = Binary.webpExtended(10, 10, alpha = false)
    val badRsv = x.clone(); badRsv(20) = (badRsv(20) | 0x40).toByte // reserved
    assert(Binary.parseWebpMeta(badRsv).isEmpty)
    assert(Binary.parseWebpMeta("RIFFxxxxWEBPLIST".getBytes ++
      Array[Byte](0, 0, 0, 0)).isEmpty) // non-stream first chunk
  }

  test("VP8L codec: exact round-trip across all coding variants") {
    import graft.multimodal.Vp8l
    // a structured image: runs (LZ77), repeated colors (cache), plus a
    // noisy strip (literal-dense, exercises the full Huffman form)
    val w = 37; val h = 23
    val px = Array.tabulate(w * h) { i =>
      val x = i % w; val y = i / w
      if (y < 4) (0xff << 24) | ((x * 53 + y * 91) % 256 << 16) |
        ((x * 7 + y * 3) % 256 << 8) | ((x * 31 + y * 17) % 256)
      else {
        val c = (x / 5 + y) % 4
        (0xff << 24) | (c * 60 << 16) | (c * 40 << 8) | (c * 20)
      }
    }
    // the cross-check that catches coding bugs closed-form tests miss:
    // the same content through every coding path must decode identically
    for ((sg, cb) <- Seq((false, 0), (true, 0), (false, 6), (true, 4))) {
      val enc = Vp8l.encode(w, h, px, subtractGreen = sg, cacheBits = cb)
      val (dw, dh, dec) = Vp8l.decode(enc).getOrElse(
        fail(s"decode failed sg=$sg cb=$cb"))
      assert(dw == w && dh == h)
      assert(dec.sameElements(px), s"pixel mismatch sg=$sg cb=$cb")
      // header metadata agrees with the generic parser
      assert(Binary.parseWebpMeta(enc)
        .contains(Binary.WebpMeta("vp8l", w, h, has_alpha = false)))
    }
    // alpha channel carried and flagged
    val pa = px.clone(); pa(5) = 0x80112233
    val encA = Vp8l.encode(w, h, pa)
    assert(Binary.parseWebpMeta(encA).exists(_.has_alpha))
    assert(Vp8l.decode(encA).get._3.sameElements(pa))
    // constant image: single-symbol channels + maximal LZ77
    val flat = Array.fill(64 * 64)(0xff336699)
    assert(Vp8l.decode(Vp8l.encode(64, 64, flat)).get._3.sameElements(flat))
    // vertical-run image (dist = width copies)
    val vert = Array.tabulate(16 * 50)(i => 0xff000000 | (i % 16) * 17)
    assert(Vp8l.decode(Vp8l.encode(16, 50, vert)).get._3.sameElements(vert))
    // 1x1
    assert(Vp8l.decode(Vp8l.encode(1, 1, Array(0xffabcdef)))
      .get._3.sameElements(Array(0xffabcdef)))
  }

  test("VP8L codec: strict boundaries (palette combos) + flips never crash") {
    import graft.multimodal.Vp8l
    val px = Array.tabulate(40)(i => 0xff000000 | i)
    val enc = Vp8l.encode(8, 5, px, subtractGreen = true)
    assert(Vp8l.decode(enc).get._3.sameElements(px))
    // bitstream bits 0-31 are dims/alpha/version (bytes 21-24); the
    // transform list starts at byte 25 bit 0: present=1, type bits 1-2
    // LSB-first (=2, subtract-green). All four transform TYPES are in
    // scope since r14 — rewriting the type makes the following bits
    // parse as a bogus sub-image: must stay total, never throw
    for (mask <- Seq(0x02, 0x04, 0x06)) {
      val t = enc.clone()
      t(25) = ((t(25) & ~0x06) | mask).toByte
      Vp8l.decode(t)
    }
    // the documented boundary that remains: a palette combined with
    // any other transform rejects (None, never junk)
    val twoColor = Array.tabulate(40)(i => 0xff000000 | (i % 2) * 0xffffff)
    val palOk = Vp8l.encode(8, 5, twoColor, palette = true)
    assert(Vp8l.decode(palOk).get._3.sameElements(twoColor))
    // splice a subtract-green transform bit in front of the palette:
    // re-encode by hand is fragile, so instead verify the decoder
    // rejects a palette stream whose transform list we extend — flip
    // the end-of-transforms bit after the palette to claim another
    // transform follows; the garbage that follows must reject or stay
    // total, and a REAL combined stream is never emitted by encode()
    intercept[IllegalArgumentException] {
      Vp8l.encode(8, 5, twoColor, palette = true, subtractGreen = true)
    }
    // truncation: None, never a crash
    assert(Vp8l.decode(enc.take(24)).isEmpty)
    assert(Vp8l.decode(enc.dropRight(1)).isEmpty)
    // header-only fixture (no pixel data): parseWebpMeta accepts the
    // metadata, the pixel decoder must reject
    assert(Vp8l.decode(Binary.webpLossless(8, 5, alpha = false)).isEmpty)
    // byte-flip sweep: decode returns None or different pixels, never
    // throws (VP8L has no CRC, so some flips decode to a valid file)
    (21 until enc.length).foreach { i =>
      val bad = enc.clone(); bad(i) = (bad(i) ^ 0x10).toByte
      Vp8l.decode(bad) match {
        case Some((dw, dh, _)) => assert(dw >= 1 && dh >= 1)
        case None => ()
      }
    }
  }

  test("parseAudioMeta round-trips wav/flac headers, rejects garbage") {
    assert(Binary.parseAudioMeta(Binary.wavHeader(44100, 2, 16, 44100L))
      .contains(Binary.AudioMeta("wav", 44100, 2, 16, 44100L, 1000L)))
    assert(Binary.parseAudioMeta(Binary.flacHeader(48000, 1, 24, 24000L))
      .contains(Binary.AudioMeta("flac", 48000, 1, 24, 24000L, 500L)))
    // frame counts above 2^32 exercise the 36-bit FLAC field
    assert(Binary.parseAudioMeta(Binary.flacHeader(8000, 8, 32, 0x5_0000_0000L))
      .contains(Binary.AudioMeta("flac", 8000, 8, 32, 0x5_0000_0000L,
        0x5_0000_0000L * 1000L / 8000L)))
    assert(Binary.parseAudioMeta("not audio at all".getBytes("UTF-8")).isEmpty)
    assert(Binary.parseAudioMeta(Array[Byte]('R', 'I', 'F')).isEmpty)
    // the wav chunk walk must skip a LIST chunk spliced before fmt
    val w = Binary.wavHeader(16000, 1, 16, 1600L)
    val list = "LIST".getBytes("US-ASCII") ++
      Array[Byte](6, 0, 0, 0) ++ "INFOab".getBytes("US-ASCII")
    assert(Binary.parseAudioMeta(w.take(12) ++ list ++ w.drop(12))
      .contains(Binary.AudioMeta("wav", 16000, 1, 16, 1600L, 100L)))
    // truncated wav (RIFF/WAVE but no fmt/data) parses to None, not a crash
    assert(Binary.parseAudioMeta(w.take(14)).isEmpty)
    // malformed chunk size near 2^32 (would be a negative/zero Int step):
    // must walk off the end and return None — not hang or throw
    val evil = "RIFF".getBytes("US-ASCII") ++ Array[Byte](0, 0, 0, 0) ++
      "WAVE".getBytes("US-ASCII") ++ "JUNK".getBytes("US-ASCII") ++
      Array[Byte](0xf8.toByte, 0xff.toByte, 0xff.toByte, 0xff.toByte)
    assert(Binary.parseAudioMeta(evil).isEmpty)
    val evil2 = evil.dropRight(4) ++
      Array[Byte](0, 0, 0, 0x80.toByte) // 0x80000000: sign-bit size
    assert(Binary.parseAudioMeta(evil2).isEmpty)
  }

  test("audioMetaCol surfaces parsed header fields as a typed struct column") {
    val df = Seq(0L, 1L, 7L, 300L).toDF("id")
      .withColumn("au", Binary.synthAudioHeaderCol(col("id")))
      .select(col("id"), Binary.audioMetaCol(col("au")).as("m"))
      .select(col("id"), col("m.format"), col("m.sample_rate"),
        col("m.channels"), col("m.bits_per_sample"), col("m.n_frames"),
        col("m.duration_ms"))
      .orderBy("id").collect()
    // id=0: wav, rate 8000, ch 1, 16-bit, frames 1*80, dur 10ms
    assert(df(0).getString(1) == "wav" && df(0).getInt(2) == 8000 &&
      df(0).getInt(3) == 1 && df(0).getInt(4) == 16 &&
      df(0).getLong(5) == 80L && df(0).getLong(6) == 10L)
    // id=1: flac, rate 16000, ch 2, 16-bit, frames 2*160, dur 20ms
    assert(df(1).getString(1) == "flac" && df(1).getInt(2) == 16000 &&
      df(1).getInt(3) == 2 && df(1).getInt(4) == 16 &&
      df(1).getLong(5) == 320L && df(1).getLong(6) == 20L)
    // id=7: flac, rate 24000 (7%5=2), ch 2, 24-bit (7%4=3), frames 8*240
    assert(df(2).getString(1) == "flac" && df(2).getInt(2) == 24000 &&
      df(2).getInt(3) == 2 && df(2).getInt(4) == 24 &&
      df(2).getLong(5) == 1920L && df(2).getLong(6) == 80L)
    // id=300: wav, rate 8000 (300%5=0), ch 1 (300%3=0), 16-bit (300%4=0)
    assert(df(3).getString(1) == "wav" && df(3).getInt(2) == 8000 &&
      df(3).getInt(3) == 1 && df(3).getInt(4) == 16)
  }

  test("imageMetaCol surfaces parsed header fields as a typed struct column") {
    val df = Seq(0L, 1L, 2L, 300L).toDF("id")
      .withColumn("img", Binary.synthHeaderCol(col("id")))
      .select(col("id"), Binary.imageMetaCol(col("img")).as("m"))
      .select(col("id"), col("m.format"), col("m.width"), col("m.height"),
        col("m.bit_depth"))
      .orderBy("id").collect()
    assert(df(0).getString(1) == "png" && df(0).getInt(2) == 1 &&
      df(0).getInt(3) == 1 && df(0).getInt(4) == 8)
    assert(df(1).getString(1) == "jpeg" && df(1).getInt(2) == 2)
    assert(df(2).getString(1) == "gif" && df(2).getInt(4) == 3)
    assert(df(3).getString(1) == "png" && df(3).getInt(2) == 301 &&
      df(3).getInt(4) == 8)
  }

  test("parseTracks walks trak/mdia/stbl: stts runs, both stsz forms") {
    import graft.multimodal.Binary
    // id=4: 2 tracks; t=0 vide fixed-size stsz, t=1 soun per-sample
    val ts4 = Binary.parseTracks(Binary.synthVideoTracks(4)).get
    assert(ts4.length == 2)
    val t0 = ts4(0)
    // id%5=4: n = 19, runs (14, 100+0) + (5, 200) -> sum_delta 2400
    assert(t0.handler == "vide" && t0.timescale == 1000L)
    assert(t0.n_samples == 19L && t0.sum_delta == 2400L)
    assert(t0.duration_ms == 2400L) // 2400 * 1000 / 1000
    assert(t0.total_bytes == 19L * (256 + 4)) // fixed-size form
    val t1 = ts4(1)
    assert(t1.handler == "soun" && t1.timescale == 2000L)
    assert(t1.sum_delta == 14 * 101 + 1000)
    assert(t1.duration_ms == t1.sum_delta * 1000 / 2000)
    // per-sample sizes 100 + i%4 over 19 samples
    assert(t1.total_bytes == (0 until 19).map(i => 100L + i % 4).sum)
    // bare traks (no sample table) are skipped, not fatal
    assert(Binary.parseTracks(Binary.mp4Header(600, 600, 2)).get.isEmpty)
    // garbage / truncation reject like the header walk
    assert(Binary.parseTracks("not a video".getBytes).isEmpty)
    assert(Binary.parseTracks(Binary.synthVideoTracks(4).take(40)).isEmpty)
  }

  test("parseVideoMeta round-trips mp4 v0/v1 headers, rejects garbage") {
    import graft.multimodal.Binary
    // mvhd version 0
    val v0 = Binary.parseVideoMeta(Binary.mp4Header(
      timescale = 30000, duration = 90000, nTracks = 2)).get
    assert(v0.format == "mp4" && v0.major_brand == "isom")
    assert(v0.timescale == 30000L && v0.duration_ms == 3000L)
    assert(v0.n_tracks == 2)
    // mvhd version 1 (64-bit fields)
    val v1 = Binary.parseVideoMeta(Binary.mp4Header(
      timescale = 90000, duration = 45000, nTracks = 1,
      brand = "mp42", mvhdV1 = true)).get
    assert(v1.major_brand == "mp42" && v1.timescale == 90000L &&
      v1.duration_ms == 500L && v1.n_tracks == 1)
    // garbage / truncation / malformed sizes never loop or throw
    assert(Binary.parseVideoMeta(Array.empty[Byte]).isEmpty)
    assert(Binary.parseVideoMeta("not a video".getBytes).isEmpty)
    assert(Binary.parseVideoMeta(
      Binary.mp4Header(600, 600, 1).take(20)).isEmpty)
    // crafted box size 0xFFFFFFFF (would be negative as Int) at the top
    val evil = Array[Byte](0xff.toByte, 0xff.toByte, 0xff.toByte,
      0xff.toByte, 'f', 't', 'y', 'p') ++ new Array[Byte](16)
    assert(Binary.parseVideoMeta(evil).isEmpty)
    // deterministic per-id fixture covers both layouts
    val a = Binary.parseVideoMeta(Binary.synthVideoHeader(3)).get // v1 path
    assert(a.duration_ms == (3 % 120 + 1) * 500L)
    val b = Binary.parseVideoMeta(Binary.synthVideoHeader(10)).get // v0 path
    assert(b.duration_ms == (10 % 120 + 1) * 500L &&
      b.n_tracks == (10 % 3 + 1))
  }

  test("ISO-BMFF: an empty mvhd/mdhd box ending the buffer rejects, never throws") {
    def be32(v: Long) = Array[Byte]((v >>> 24).toByte, (v >>> 16).toByte,
      (v >>> 8).toByte, v.toByte)
    def box(typ: String, body: Array[Byte]): Array[Byte] =
      be32(body.length + 8L) ++ typ.getBytes("US-ASCII") ++ body
    val ftyp = box("ftyp", "isom".getBytes("US-ASCII") ++ be32(0L))
    // ftyp + moov[mvhd(empty)]: the version byte would sit at b.length
    val emptyMvhd = ftyp ++ box("moov", box("mvhd", Array.empty[Byte]))
    assert(emptyMvhd.length == 32)
    assert(Binary.parseVideoMeta(emptyMvhd).isEmpty)
    // a valid v0 mvhd, then trak[mdia[mdhd(empty)]] ending the buffer
    val mvhd = box("mvhd", new Array[Byte](12) ++ be32(1000L) ++ be32(5000L))
    val emptyMdhd = ftyp ++ box("moov", mvhd ++
      box("trak", box("mdia", box("mdhd", Array.empty[Byte]))))
    assert(emptyMdhd.length == 76)
    assert(Binary.parseVideoMeta(emptyMdhd).isDefined) // passes the gate
    assert(Binary.parseTracks(emptyMdhd).isEmpty)
  }

  test("PNG pixel codec: exact round-trip through all five filters") {
    import graft.multimodal.Binary
    // 7 rows → filter types 0,1,2,3,4,0,1 all execute; odd width makes
    // the left/upper-left neighbors exercise the bpp offset logic
    val w = 5; val h = 7
    val px = Array.tabulate(w * h * 3)(i => ((i * 37 + 11) % 256).toByte)
    val png = Binary.pngEncode(w, h, px)
    // it really is a PNG per the metadata parser too
    val meta = Binary.parseImageMeta(png).get
    assert(meta.format == "png" && meta.width == w && meta.height == h)
    val dec = Binary.pngDecode(png).get
    assert(dec.width == w && dec.height == h)
    assert(dec.pixels.toSeq == px.toSeq, "pixel bytes must round-trip exactly")
  }

  test("PNG decoder rejects corrupt/unsupported input, never junk") {
    import graft.multimodal.Binary
    val png = Binary.synthPng(17)
    assert(Binary.pngDecode(png).isDefined)
    // flip one IDAT byte → CRC check fails → None (not wrong pixels)
    val corrupt = png.clone()
    corrupt(png.length - 20) = (corrupt(png.length - 20) ^ 0x55).toByte
    assert(Binary.pngDecode(corrupt).isEmpty)
    // truncation, garbage, empty
    assert(Binary.pngDecode(png.take(30)).isEmpty)
    assert(Binary.pngDecode("not a png at all".getBytes).isEmpty)
    assert(Binary.pngDecode(Array.empty[Byte]).isEmpty)
    // header-only fixture (no IDAT/IEND): metadata parses, pixels don't
    val headerOnly = Binary.pngHeader(8, 8, 8)
    assert(Binary.parseImageMeta(headerOnly).isDefined)
    assert(Binary.pngDecode(headerOnly).isEmpty)
  }

  test("PNG decoder: an IDAT zlib stream with a preset dictionary returns None") {
    import graft.sources.ByteCursor.be32
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val t = typ.getBytes("US-ASCII")
      val crc = new java.util.zip.CRC32
      crc.update(t); crc.update(data)
      be32(data.length) ++ t ++ data ++ be32(crc.getValue)
    }
    // zlib header 78 BB sets FDICT ((0x78 * 256 + 0xbb) % 31 == 0); a
    // DICTID and deflate bytes follow. Every chunk CRC is valid, so
    // the stream reaches the inflater, which then waits for a
    // dictionary and makes no progress.
    val idat = Array(0x78, 0xbb, 0, 0, 0, 1, 0x63, 0x60, 0, 0).map(_.toByte)
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
      chunk("IHDR", be32(1) ++ be32(1) ++ Array[Byte](8, 2, 0, 0, 0)) ++
      chunk("IDAT", idat) ++ chunk("IEND", Array.empty)
    // A decoder that spins never returns, and a spin loop ignores
    // interrupts: decode on a daemon thread so such a decoder fails
    // this test after the timeout instead of hanging the suite.
    @volatile var got: Option[Option[Binary.PngImage]] = None
    val t = new Thread(() => got = Some(Binary.pngDecode(png)))
    t.setDaemon(true)
    t.start()
    t.join(30000)
    assert(got.contains(None), "pngDecode did not return None within 30 s")
  }

  test("PNG channel stats match the closed-form pixel formula") {
    import graft.multimodal.Binary
    val id = 23L
    val w = (id % 13 + 4).toInt; val h = (id % 11 + 4).toInt
    val stats = Binary.pngChannelStats(Binary.synthPng(id)).get
    (0 until 3).foreach { c =>
      val vals = for { y <- 0 until h; x <- 0 until w }
        yield (x * 7 + y * 13 + c * 101 + id * 31) % 256
      val (ch, n, s, mean, std) = stats(c)
      assert(ch == c && n == w.toLong * h && s == vals.sum)
      assert(math.abs(mean - vals.sum.toDouble / (w * h)) < 1e-12)
      val v = vals.map(v => v.toDouble * v).sum / (w * h) -
        (vals.sum.toDouble / (w * h)) * (vals.sum.toDouble / (w * h))
      assert(math.abs(std - math.sqrt(v)) < 1e-12)
    }
  }

  test("WAV PCM codec: exact sample round-trip incl. chunk skipping") {
    val samples = Array.tabulate(200 * 2)(i => ((i * 37) % 4001 - 2000).toShort)
    val wav = Binary.wavPcmEncode(44100, 2, samples)
    val dec = Binary.wavPcmDecode(wav).get
    assert(dec.sampleRate == 44100 && dec.channels == 2)
    assert(dec.samples.toSeq == samples.toSeq,
      "int16 samples must round-trip exactly through the RIFF walk")
    // extremes survive (sign handling in the LE decode)
    val edge = Binary.wavPcmDecode(Binary.wavPcmEncode(8000, 1,
      Array(Short.MinValue, Short.MaxValue, 0, -1))).get
    assert(edge.samples.toSeq == Seq(Short.MinValue, Short.MaxValue, 0.toShort, (-1).toShort))
  }

  test("WAV PCM decoder rejects unsupported/corrupt input, never junk") {
    val wav = Binary.wavPcmEncode(16000, 1, Array.tabulate(50)(i => i.toShort))
    assert(Binary.wavPcmDecode(wav).isDefined)
    // non-PCM format tag → None
    val fl = wav.clone(); fl(20) = 3 // fmt tag offset: 12+8
    assert(Binary.wavPcmDecode(fl).isEmpty)
    assert(Binary.wavPcmDecode(wav.take(30)).isEmpty)
    assert(Binary.wavPcmDecode("definitely not a wav".getBytes).isEmpty)
    // the header-only legacy fixture has a data SIZE but no payload →
    // the chunk walk sees a body past EOF → None
    assert(Binary.wavPcmDecode(Binary.wavHeader(8000, 1, 16, 100)).isEmpty)
  }

  test("WAV channel stats match the closed-form sample formula") {
    val id = 37L
    val ch = (id % 2 + 1).toInt
    val frames = (40 + (id % 20) * 5).toInt
    val stats = Binary.wavChannelStats(Binary.synthWavPcm(id)).get
    assert(stats.length == ch)
    (0 until ch).foreach { c =>
      val vals = (0 until frames).map(i => (i * 7 + c * 101 + id * 31) % 4001 - 2000)
      val (cc, n, s, ss, peak) = stats(c)
      assert(cc == c && n == frames.toLong)
      assert(s == vals.sum && ss == vals.map(v => v * v).sum)
      assert(peak == vals.map(math.abs).max)
    }
  }

  test("GIF LZW codec: exact round-trip across code-width boundaries") {
    // big enough that nextCode crosses 2^5..2^9: pins the encoder/
    // decoder width-bump off-by-one (encoder at (1<<w)+1, decoder at 1<<w)
    val w = 60; val h = 40
    val palette = Array.tabulate(16)(j => (j * 12 << 16) | (j * 7 << 8) | j)
    val idx = Array.tabulate(w * h)(i => ((i * i + i / 3) % 16).toByte)
    val gif = Binary.gifEncode(w, h, palette, idx)
    val meta = Binary.parseImageMeta(gif).get
    assert(meta.format == "gif" && meta.width == w && meta.height == h)
    val dec = Binary.gifDecode(gif).get
    assert(dec.width == w && dec.height == h)
    assert(dec.palette.toSeq == palette.toSeq)
    assert(dec.indices.toSeq == idx.toSeq, "LZW indices must round-trip exactly")
  }

  test("GIF LZW round-trip over the synthetic id range") {
    (0L until 60L).foreach { id =>
      val w = (id % 12 + 4).toInt; val h = (id % 9 + 4).toInt
      val dec = Binary.gifDecode(Binary.synthGif(id)).get
      assert(dec.width == w && dec.height == h)
      (0 until w * h).foreach { i =>
        val (x, y) = (i % w, i / w)
        assert((dec.indices(i) & 0xff) == ((x * 5 + y * 11 + id) % 16).toInt)
      }
    }
  }

  test("GIF decoder rejects unsupported/corrupt input, never junk") {
    val gif = Binary.synthGif(11)
    assert(Binary.gifDecode(gif).isDefined)
    assert(Binary.gifDecode(gif.take(25)).isEmpty)
    assert(Binary.gifDecode("GIF89a then nonsense!".getBytes).isEmpty)
    assert(Binary.gifDecode(Array.empty[Byte]).isEmpty)
    // truncating the LZW payload (drop trailer + last sub-block bytes)
    assert(Binary.gifDecode(gif.dropRight(8)).isEmpty)
    // the metadata-only legacy fixture has no image data → None
    assert(Binary.gifDecode(Binary.gifHeader(8, 8, 4)).isEmpty)
  }

  test("GIF channel stats match the closed-form palette formula") {
    val id = 23L
    val w = (id % 12 + 4).toInt; val h = (id % 9 + 4).toInt
    val stats = Binary.gifChannelStats(Binary.synthGif(id)).get
    val muls = Seq((17L, 7L), (29L, 13L), (23L, 3L))
    (0 until 3).foreach { c =>
      val (jm, im) = muls(c)
      val vals = for { y <- 0 until h; x <- 0 until w }
        yield (((x * 5 + y * 11 + id) % 16) * jm + id * im) % 256
      val (ch, n, s, mean, std) = stats(c)
      assert(ch == c && n == w.toLong * h && s == vals.sum)
      assert(math.abs(mean - vals.sum.toDouble / (w * h)) < 1e-12)
      val v = vals.map(v => v.toDouble * v).sum / (w * h) -
        (vals.sum.toDouble / (w * h)) * (vals.sum.toDouble / (w * h))
      assert(math.abs(std - math.sqrt(v)) < 1e-12)
    }
  }

  test("JPEG DC-exact codec: decoded blocks match clamp(dc*2+128)") {
    // 3x2 blocks, values spanning both clamp ends and the diff chain
    val dcs = Array(-100, 0, 99, 50, -64, 17)
    val jpg = Binary.jpegEncodeDc(24, 16, dcs)
    val meta = Binary.parseImageMeta(jpg).get
    assert(meta.format == "jpeg" && meta.width == 24 && meta.height == 16)
    val img = Binary.jpegDecode(jpg).get
    assert(img.width == 24 && img.height == 16)
    for (by <- 0 until 2; bx <- 0 until 3) {
      val want = math.max(0, math.min(255, dcs(by * 3 + bx) * 2 + 128))
      for (y <- 0 until 8; x <- 0 until 8) {
        val got = img.pixels((by * 8 + y) * 24 + bx * 8 + x) & 0xff
        assert(got == want, s"block ($bx,$by) pixel ($x,$y): $got != $want")
      }
    }
  }

  test("JPEG decode round-trips the synthetic id range exactly") {
    (0L until 60L).foreach { id =>
      val bw = (id % 3 + 1).toInt; val bh = (id % 2 + 1).toInt
      val img = Binary.jpegDecode(Binary.synthJpeg(id)).get
      assert(img.width == bw * 8 && img.height == bh * 8)
      for (by <- 0 until bh; bx <- 0 until bw) {
        val dc = ((bx * 5 + by * 9 + id * 13) % 200 - 100).toInt
        val want = math.max(0, math.min(255, dc * 2 + 128))
        assert((img.pixels(by * 8 * img.width + bx * 8) & 0xff) == want)
      }
    }
  }

  test("JPEG decoder rejects unsupported/corrupt input, never junk") {
    val jpg = Binary.synthJpeg(7)
    assert(Binary.jpegDecode(jpg).isDefined)
    assert(Binary.jpegDecode(jpg.take(40)).isEmpty)
    assert(Binary.jpegDecode("not a jpeg".getBytes).isEmpty)
    assert(Binary.jpegDecode(Array.empty[Byte]).isEmpty)
    // progressive SOF2 → None (metadata parser still reads dims)
    val prog = jpg.clone()
    val sofAt = (0 until prog.length - 1).find(i =>
      (prog(i) & 0xff) == 0xff && (prog(i + 1) & 0xff) == 0xc0).get
    prog(sofAt + 1) = 0xc2.toByte
    assert(Binary.parseImageMeta(prog).isDefined)
    assert(Binary.jpegDecode(prog).isEmpty)
    // the header-only legacy fixture has no scan data → None
    assert(Binary.jpegDecode(Binary.jpegHeader(16, 8)).isEmpty)
  }

  test("JPEG AC path: run-length/ZRL/EXTEND round-trip vs reference IDCT") {
    // two blocks: one with scattered AC coefficients (exercising zero
    // runs, a 16+ run needing ZRL, negative EXTEND values), one flat —
    // the decode must match an independently computed float IDCT
    val blk0 = new Array[Int](64)
    blk0(0) = 12 // DC
    blk0(1) = -7 // (0,1)
    blk0(16) = 3 // (2,0)
    blk0(34) = -2 // far coefficient → long zigzag zero run (ZRL)
    blk0(63) = 1 // last position: lastNz == 63, no EOB
    val blk1 = new Array[Int](64)
    blk1(0) = -20
    val jpg = Binary.jpegEncodeBlocks(16, 8, Array(blk0, blk1))
    val img = Binary.jpegDecode(jpg).get
    def refIdct(blk: Array[Int], x: Int, y: Int): Int = {
      var acc = 0.0
      for (v <- 0 until 8; u <- 0 until 8) {
        val cu = if (u == 0) 1.0 / math.sqrt(2) else 1.0
        val cv = if (v == 0) 1.0 / math.sqrt(2) else 1.0
        acc += cu * cv * blk(v * 8 + u) * 16 *
          math.cos((2 * x + 1) * u * math.Pi / 16) *
          math.cos((2 * y + 1) * v * math.Pi / 16)
      }
      math.max(0, math.min(255, math.round(acc / 4 + 128).toInt))
    }
    for (y <- 0 until 8; x <- 0 until 8) {
      assert((img.pixels(y * 16 + x) & 0xff) == refIdct(blk0, x, y),
        s"AC block pixel ($x,$y)")
      assert((img.pixels(y * 16 + 8 + x) & 0xff) == math.max(0, math.min(255, -20 * 2 + 128)),
        s"flat block pixel ($x,$y)")
    }
  }

  test("JPEG luma stats match the closed-form block formula") {
    val id = 41L
    val bw = (id % 3 + 1).toInt; val bh = (id % 2 + 1).toInt
    val (n, s, mean, std) = Binary.jpegLumaStats(Binary.synthJpeg(id)).get
    val blocks = for { by <- 0 until bh; bx <- 0 until bw }
      yield math.max(0, math.min(255, ((bx * 5 + by * 9 + id * 13) % 200 - 100).toInt * 2 + 128))
    assert(n == bw.toLong * bh * 64)
    assert(s == 64L * blocks.sum)
    assert(math.abs(mean - blocks.sum.toDouble / blocks.length) < 1e-12)
    val v = blocks.map(b => b.toDouble * b).sum / blocks.length -
      (blocks.sum.toDouble / blocks.length) * (blocks.sum.toDouble / blocks.length)
    assert(math.abs(std - math.sqrt(v)) < 1e-12)
  }

  test("color JPEG 4:2:0: DC-exact round-trip across all three planes") {
    // 32x16: two MCUs — exercises the MCU walk, per-component DC
    // chains crossing MCU boundaries, and the two-table-pair selection
    def flat(dc: Int) = { val b = new Array[Int](64); b(0) = dc; b }
    val y = Array(flat(-100), flat(-50), flat(0), flat(40),
      flat(63), flat(99), flat(-1), flat(7))
    val cb = Array(flat(-80), flat(30))
    val cr = Array(flat(79), flat(-2))
    val img = Binary.jpegDecodeColor420(
      Binary.jpegEncodeColor420(32, 16, y, cb, cr)).get
    assert(img.width == 32 && img.height == 16)
    def v(dc: Int) = math.max(0, math.min(255, dc * 2 + 128))
    // Y raster blocks (bw=4, bh=2)
    for (by <- 0 until 2; bx <- 0 until 4; py <- 0 until 8; px <- 0 until 8)
      assert((img.y((by * 8 + py) * 32 + bx * 8 + px) & 0xff) ==
        v(y(by * 4 + bx)(0)), s"Y block ($bx,$by)")
    for (bx <- 0 until 2; py <- 0 until 8; px <- 0 until 8) {
      assert((img.cb(py * 16 + bx * 8 + px) & 0xff) == v(cb(bx)(0)), s"Cb $bx")
      assert((img.cr(py * 16 + bx * 8 + px) & 0xff) == v(cr(bx)(0)), s"Cr $bx")
    }
  }

  test("color JPEG AC path: chroma block with AC coeffs matches reference IDCT") {
    def flat(dc: Int) = { val b = new Array[Int](64); b(0) = dc; b }
    val acB = new Array[Int](64)
    acB(0) = 10; acB(1) = -5; acB(9) = 3; acB(40) = -1
    val img = Binary.jpegDecodeColor420(Binary.jpegEncodeColor420(16, 16,
      Array(flat(1), flat(2), flat(3), flat(4)), Array(acB), Array(flat(0)))).get
    def refIdct(blk: Array[Int], x: Int, y: Int): Int = {
      var acc = 0.0
      for (v <- 0 until 8; u <- 0 until 8) {
        val cu = if (u == 0) 1.0 / math.sqrt(2) else 1.0
        val cv = if (v == 0) 1.0 / math.sqrt(2) else 1.0
        acc += cu * cv * blk(v * 8 + u) * 16 *
          math.cos((2 * x + 1) * u * math.Pi / 16) *
          math.cos((2 * y + 1) * v * math.Pi / 16)
      }
      math.max(0, math.min(255, math.round(acc / 4 + 128).toInt))
    }
    for (y <- 0 until 8; x <- 0 until 8)
      assert((img.cb(y * 8 + x) & 0xff) == refIdct(acB, x, y), s"Cb ($x,$y)")
    // Y planes stay DC-exact around it
    assert((img.y(0) & 0xff) == 130 && (img.y(8) & 0xff) == 132)
  }

  test("color JPEG decoder rejects unsupported/corrupt input, never junk") {
    def flat(dc: Int) = { val b = new Array[Int](64); b(0) = dc; b }
    val ok = Binary.jpegEncodeColor420(16, 16,
      Array(flat(1), flat(2), flat(3), flat(4)), Array(flat(5)), Array(flat(6)))
    assert(Binary.jpegDecodeColor420(ok).isDefined)
    assert(Binary.jpegDecodeColor420(ok.take(60)).isEmpty)   // truncated
    assert(Binary.jpegDecodeColor420(Array.empty[Byte]).isEmpty)
    // grayscale stream is a different profile: color decoder rejects it
    assert(Binary.jpegDecodeColor420(Binary.synthJpeg(3L)).isEmpty)
    // and the grayscale decoder rejects color streams (3 components)
    assert(Binary.jpegDecode(ok).isEmpty)
    // entropy corruption: flip a bit mid-scan → some block fails loudly
    val bad = ok.clone
    bad(bad.length - 6) = (bad(bad.length - 6) ^ 0x40).toByte
    val r = Binary.jpegDecodeColor420(bad)
    assert(r.isEmpty || r.get.y.length == 256) // None or structurally sane
  }

  test("color JPEG stats match the closed-form three-plane formulas") {
    for (id <- Seq(0L, 1L, 7L, 42L, 59L)) {
      val mcus = (id % 2 + 1).toInt
      val (w, h, sy, scb, scr) =
        Binary.jpegColorStats(Binary.synthColorJpeg(id)).get
      assert(w == mcus * 16 && h == 16)
      def cl(dc: Long) = math.max(0L, math.min(255L, dc * 2 + 128))
      val ey = 64L * (for { by <- 0 until 2; bx <- 0 until mcus * 2 }
        yield cl((bx * 7 + by * 11 + id * 13) % 200 - 100)).sum
      val ecb = 64L * (0 until mcus).map(bx => cl((bx * 5 + id * 17) % 160 - 80)).sum
      val ecr = 64L * (0 until mcus).map(bx => cl((bx * 3 + id * 19) % 160 - 80)).sum
      assert(sy == ey && scb == ecb && scr == ecr, s"id=$id")
    }
  }

  test("MP3 metadata: frame walk recovers rate/channels/duration") {
    (0L until 60L).foreach { id =>
      val m = Binary.parseAudioMeta(Binary.synthMp3(id)).get
      assert(m.format == "mp3")
      assert(m.sample_rate == Seq(44100, 48000, 32000)((id % 3).toInt))
      assert(m.channels == (if (id % 2 == 0) 1 else 2))
      assert(m.n_frames == (id % 10 + 1) * 1152)
      assert(m.duration_ms == m.n_frames * 1000 / m.sample_rate)
    }
    // an ID3v2 tag in front is skipped (syncsafe size)
    val mp3 = Binary.synthMp3(5)
    val id3 = Array[Byte]('I', 'D', '3', 4, 0, 0, 0, 0, 0, 5) ++
      Array.fill[Byte](5)(0x41)
    assert(Binary.parseAudioMeta(id3 ++ mp3).get.format == "mp3")
  }

  test("MP3 metadata: rejects broken chains, never junk") {
    val mp3 = Binary.synthMp3(7)
    assert(Binary.parseAudioMeta(mp3.dropRight(1)).isEmpty) // short tail
    assert(Binary.parseAudioMeta(mp3 ++ Array[Byte](0)).isEmpty) // garbage
    val badSync = mp3.clone(); badSync(0) = 0x7f
    assert(Binary.parseAudioMeta(badSync).isEmpty)
    // reserved bitrate code mid-chain (frame 2's header byte 2 -> 0xF*)
    val m2 = mp3.clone()
    val flen = 144000 * 192 / 48000 // id=7: brIdx 11 (192), rate 48000
    m2(flen + 2) = 0xf0.toByte
    assert(Binary.parseAudioMeta(m2).isEmpty)
    // a rate change mid-chain is an inconsistent file
    val m3 = mp3.clone()
    m3(flen + 2) = (m3(flen + 2) ^ 0x04).toByte // flip sample-rate index
    assert(Binary.parseAudioMeta(m3).isEmpty)
  }

  test("MP3 metadata: ID3v1 trailer tolerated, MPEG-2/2.5 frames walk") {
    val mp3 = Binary.synthMp3(7)
    // a trailing 128-byte ID3v1 'TAG' block is standard crawl furniture
    val id3v1 = "TAG".getBytes("US-ASCII") ++ Array.fill[Byte](125)(0x20)
    val m = Binary.parseAudioMeta(mp3 ++ id3v1).get
    assert(m.n_frames == Binary.parseAudioMeta(mp3).get.n_frames)
    // ...but only EXACTLY at the tail: a TAG block mid-file is garbage
    assert(Binary.parseAudioMeta(mp3 ++ id3v1 ++
      Array[Byte](0)).isEmpty)
    // a 2-frame MPEG-2 Layer III chain: version bits 10, 64 kbps (V2
    // table idx 8) at 22050 Hz idx 0 -> frame length
    // 72000*64/22050 = 208, 576 samples per frame
    def v2frame(ch2: Boolean): Array[Byte] = {
      val f = new Array[Byte](208)
      f(0) = 0xff.toByte; f(1) = 0xf3.toByte // sync + MPEG-2 + layer III
      f(2) = 0x80.toByte // bitrate idx 8 (64 kbps), rate idx 0, no pad
      f(3) = if (ch2) 0x00 else 0xc0.toByte
      f
    }
    val v2 = v2frame(false) ++ v2frame(false)
    val m2 = Binary.parseAudioMeta(v2).get
    assert(m2.sample_rate == 22050 && m2.channels == 1 &&
      m2.n_frames == 2 * 576 &&
      m2.duration_ms == 2 * 576 * 1000L / 22050)
    // MPEG-2.5 (version bits 00, sync low bit clear): 8000 Hz idx 2,
    // 64 kbps -> frame length 72000*64/8000 = 576
    val v25 = v2frame(false)
    v25(1) = 0xe3.toByte; v25(2) = 0x88.toByte // 64 kbps, 8000 Hz
    val f25 = java.util.Arrays.copyOf(v25, 72000 * 64 / 8000)
    val m25 = Binary.parseAudioMeta(f25).get
    assert(m25.sample_rate == 8000 && m25.n_frames == 576)
    // a version change mid-chain is an inconsistent file
    assert(Binary.parseAudioMeta(v2frame(false) ++ f25).isEmpty)
    // reserved version bits (01) rejected
    val rv = v2frame(false); rv(1) = 0xeb.toByte
    assert(Binary.parseAudioMeta(rv).isEmpty)
  }

  test("Opus/Ogg: page walk recovers channels/rate/duration, CRC gates every bit") {
    (0L until 60L).foreach { id =>
      val m = Binary.parseAudioMeta(Binary.synthOggOpus(id)).get
      assert(m.format == "opus")
      assert(m.sample_rate == Seq(48000, 44100, 16000)((id % 3).toInt))
      assert(m.channels == (id % 2 + 1))
      assert(m.n_frames == (id % 10 + 1) * 960)
      assert(m.duration_ms == (id % 10 + 1) * 20)
    }
    // a payload longer than 255 bytes exercises multi-lacing; an exact
    // 255-multiple needs the 0 terminator lacing
    for (len <- Seq(255, 510, 300, 1024)) {
      val au = Binary.oggOpus(2, 312, 48000L, 960L,
        Array.tabulate(len)(_.toByte))
      assert(Binary.parseAudioMeta(au).get.n_frames == 960L, s"len=$len")
    }
  }

  test("Opus/Ogg: strict rejection — flipped bits, truncation, framing abuse") {
    val au = Binary.synthOggOpus(9)
    assert(Binary.parseAudioMeta(au).isDefined)
    // EVERY byte is CRC-protected: flip a sweep of bits -> None or a
    // different-but-valid file, never a crash (here: always None)
    (0 until au.length by 7).foreach { i =>
      val bad = au.clone(); bad(i) = (bad(i) ^ 0x01).toByte
      assert(Binary.parseAudioMeta(bad).isEmpty, s"flip at $i survived")
    }
    assert(Binary.parseAudioMeta(au.take(26)).isEmpty)  // truncated header
    assert(Binary.parseAudioMeta(au.dropRight(1)).isEmpty) // truncated page
    assert(Binary.parseAudioMeta(au ++ Array[Byte](0)).isEmpty) // post-EOS
    // no EOS page at all
    val noEos = Binary.oggPage(2, 0L, 1, 0,
      "OpusHead".getBytes ++ Array[Byte](1, 1, 0, 0) ++
        Array[Byte](0x80.toByte, 0xbb.toByte, 0, 0) ++ Array[Byte](0, 0, 0))
    assert(Binary.parseAudioMeta(noEos).isEmpty)
    // granule below pre-skip
    assert(Binary.parseAudioMeta(Binary.oggOpus(1, 312, 48000L, -100L,
      Array[Byte](1, 2, 3))).isEmpty)
    // first page not BOS
    val pages = Binary.oggOpus(1, 0, 48000L, 960L, Array[Byte](1))
    val bosOff = 5 // flags byte of page 0
    val nb = pages.clone(); nb(bosOff) = 0
    assert(Binary.parseAudioMeta(nb).isEmpty) // (also fails CRC — still None)
  }

  test("Vorbis/Ogg: identification header + strict rejection") {
    for (id <- 0L to 19L) {
      val m = Binary.parseOggVorbisMeta(Binary.synthOggVorbis(id)).get
      val rate = Binary.synthRates((id % 5).toInt)
      assert(m.channels == id % 2 + 1 && m.sample_rate == rate)
      assert(m.bitrate_nominal == (id % 8 + 1) * 32000)
      assert(m.blocksize0 == 256 && m.blocksize1 == 2048)
      assert(m.n_samples == (id % 10 + 1) * rate / 100)
      assert(m.duration_ms == (id % 10 + 1) * 10)
    }
    val v = Binary.synthOggVorbis(4)
    (0 until v.length by 7).foreach { i =>
      val bad = v.clone(); bad(i) = (bad(i) ^ 0x01).toByte
      assert(Binary.parseOggVorbisMeta(bad).isEmpty, s"flip at $i")
    }
    assert(Binary.parseOggVorbisMeta(v.dropRight(1)).isEmpty)
    assert(Binary.parseOggVorbisMeta(v ++ Array[Byte](7)).isEmpty)
    // an Opus stream is not a Vorbis stream (and vice versa)
    assert(Binary.parseOggVorbisMeta(Binary.synthOggOpus(4)).isEmpty)
    assert(Binary.parseAudioMeta(v).isEmpty)
    // blocksize sanity: bs0 > bs1 rejects
    assert(Binary.parseOggVorbisMeta(Binary.oggVorbis(
      1, 8000, 32000, 11, 8, 80, Array[Byte](1, 2))).isEmpty)
  }

  test("sfnt fonts: table walk, Windows-over-Mac names, bounds") {
    import graft.multimodal.Font
    for (id <- 0L to 11L) {
      val m = Font.parseFont(Font.synthFont(id)).get
      assert(m.format == (if (id % 4 == 3) "otf" else "ttf"))
      assert(m.n_tables == 3)
      assert(m.family == s"Graft Sans ${id % 10}") // Mac decoy loses
      assert(m.subfamily ==
        Seq("Regular", "Bold", "Italic")((id % 3).toInt))
      assert(m.n_glyphs == id % 500 + 10)
      assert(m.units_per_em == (if (id % 2 == 0) 1000 else 2048))
    }
    val f = Font.synthFont(5)
    // truncation anywhere rejects (offsets/lengths bounds-checked)
    for (k <- Seq(3, 11, 20, f.length / 2, f.length - 1))
      assert(Font.parseFont(f.take(k)).isEmpty, s"truncation at $k")
    // a bare offset table with no usable directory rejects
    assert(Font.parseFont(Array[Byte](0, 1, 0, 0, 0, 0, 0, 0, 0, 0,
      0, 0)).isEmpty)
    assert(Font.parseFont("not a font at all".getBytes("UTF-8")).isEmpty)
  }

  test("WOFF1: wrapped sfnt reads through the same parser") {
    import graft.multimodal.Font
    for (id <- 0L to 7L) {
      val w = Font.parseWoff(Font.synthWoff(id)).get
      assert(w == Font.parseFont(Font.synthFont(id)).get)
    }
    val w = Font.synthWoff(3)
    assert(Font.parseWoff(w.take(43)).isEmpty)
    assert(Font.parseWoff(Font.synthFont(3)).isEmpty) // bare sfnt: not wOFF
    // a flipped byte inside a COMPRESSED table breaks zlib -> None
    // (stored tables may survive flips; compressed ones must reject)
    val flipAt = w.length - 5
    val bad = w.clone(); bad(flipAt) = (bad(flipAt) ^ 0x7f).toByte
    Font.parseWoff(bad) // must not throw, either None or a valid parse
  }

  test("EBML/Matroska: doctype, duration rebase, track census, skips") {
    import graft.multimodal.Ebml
    for (id <- 0L to 19L) {
      val m = Ebml.parseMkv(Ebml.synthMkv(id)).get
      assert(m.doctype == (if (id % 2 == 1) "webm" else "matroska"))
      assert(m.timescale == (if (id % 2 == 1) 500000L else 1000000L))
      assert(m.duration_ms == (id % 10 + 1) * 1000 * (1 + id % 2))
      val tys = (0 until (id % 3 + 1).toInt).map(t => (id + t) % 3)
      assert(m.n_video == tys.count(_ == 0))
      assert(m.n_audio == tys.count(_ == 1))
      assert(m.n_subs == tys.count(_ == 2))
      assert(m.codecs == tys.map {
        case 0 => "V_VP9"
        case 1 => "A_OPUS"
        case _ => "S_TEXT/UTF8"
      }.mkString(","))
    }
    // structural rejections: wrong magic, truncation anywhere
    assert(Ebml.parseMkv(Array[Byte](1, 2, 3, 4, 5, 6, 7, 8)).isEmpty)
    val v = Ebml.synthMkv(6) // known-size segment: truncation rejects
    (1 until v.length).foreach { k =>
      assert(Ebml.parseMkv(v.take(k)).isEmpty, s"truncation at $k")
    }
    // MP4 is not EBML
    assert(Ebml.parseMkv(Binary.synthVideoTracks(3)).isEmpty)
  }

  test("FLAC codec: exact round-trip across subframe types") {
    // a smooth-ish deterministic 16-bit signal: FIXED predictors bite,
    // residuals stay small, and the tail block is shorter than 192
    val n = 500
    val xs = Array.tabulate(n)(i =>
      (2000 * math.sin(i / 7.0)).toInt + (i % 13) - 6)
    for (mode <- Seq(-1, -2, -3, 0, 1, 2, 3, 4)) {
      val enc = Binary.flacEncode(16000, Array(xs), 192, mode = mode)
      val dec = Binary.flacDecode(enc)
      assert(dec.isDefined, s"mode $mode failed to decode")
      val a = dec.get
      assert(a.sampleRate == 16000 && a.channels == 1 && a.bits == 16)
      assert(a.samples(0).sameElements(xs), s"mode $mode sample mismatch")
    }
    // metadata parser agrees with the full decoder on the header
    val meta = Binary.parseAudioMeta(Binary.flacEncode(16000, Array(xs), 192)).get
    assert(meta.format == "flac" && meta.sample_rate == 16000 &&
      meta.channels == 1)
  }

  test("FLAC codec: a tail block shorter than the forced order codes VERBATIM") {
    // 194 samples in 192-sample blocks leave a 2-sample tail: orders 3
    // and 4 cannot predict it, orders 1 and 2 and the LPC form just can
    val xs = Array.tabulate(194)(i => (900 * math.sin(i / 6.0)).toInt - (i % 5))
    for (mode <- Seq(-3, 1, 2, 3, 4); stereo <- Seq(-1, 10)) {
      val chans = if (stereo < 0) Array(xs) else Array(xs, xs.map(v => -v / 2))
      val enc = Binary.flacEncode(16000, chans, 192, mode = mode, stereo = stereo)
      val dec = Binary.flacDecode(enc)
      assert(dec.isDefined, s"mode $mode stereo $stereo failed to decode")
      chans.indices.foreach { c =>
        assert(dec.get.samples(c).sameElements(chans(c)),
          s"mode $mode stereo $stereo channel $c mismatch")
      }
    }
    // a 1-sample tail under the LPC order-2 form
    val one = Binary.flacEncode(16000, Array(xs.take(193)), 192, mode = -3)
    assert(Binary.flacDecode(one).get.samples(0).sameElements(xs.take(193)))
  }

  test("FLAC codec: stereo decorrelation modes reconstruct exactly") {
    val n = 300
    val l = Array.tabulate(n)(i => (1500 * math.sin(i / 9.0)).toInt + (i % 7))
    val r = Array.tabulate(n)(i => (1200 * math.cos(i / 11.0)).toInt - (i % 5))
    for (stereo <- Seq(-1, 8, 9, 10)) {
      val enc = Binary.flacEncode(8000, Array(l, r), 192, stereo = stereo)
      val a = Binary.flacDecode(enc).get
      assert(a.channels == 2)
      assert(a.samples(0).sameElements(l), s"stereo $stereo left mismatch")
      assert(a.samples(1).sameElements(r), s"stereo $stereo right mismatch")
    }
  }

  test("FLAC codec: wasted bits and the Rice escape round-trip") {
    // all samples share 3 trailing zero bits -> wasted-bits header path
    val xs = Array.tabulate(256)(i => ((800 * math.sin(i / 5.0)).toInt) << 3)
    val enc = Binary.flacEncode(24000, Array(xs), 128)
    assert(Binary.flacDecode(enc).get.samples(0).sameElements(xs))
    // a wild high-variance signal at VERBATIM and FIXED (escape likely)
    val wild = Array.tabulate(200)(i =>
      (((i * 2654435761L) >> 7) % 65536L - 32768L).toInt)
    for (mode <- Seq(-2, 0)) {
      val e2 = Binary.flacEncode(48000, Array(wild), 192, mode = mode)
      assert(Binary.flacDecode(e2).get.samples(0).sameElements(wild),
        s"mode $mode wild mismatch")
    }
  }

  test("FLAC round-trips the synthetic id range exactly") {
    (0L until 60L).foreach { id =>
      val nb = (id % 3 + 1).toInt
      val a = Binary.flacDecode(Binary.synthFlac(id)).get
      assert(a.channels == 1 && a.samples(0).length == nb * 192)
      (0 until nb).foreach { j =>
        val want = ((id * 31 + j * 17) % 1000 - 500).toInt
        assert(a.samples(0)(j * 192) == want, s"id=$id block $j")
        assert(a.samples(0)(j * 192 + 191) == want, s"id=$id block $j end")
      }
    }
  }

  test("FLAC decoder rejects corrupt input, never junk") {
    val enc = Binary.flacEncode(16000,
      Array(Array.tabulate(300)(i => (1000 * math.sin(i / 8.0)).toInt)), 192)
    assert(Binary.flacDecode(enc).isDefined)
    assert(Binary.flacDecode(enc.take(30)).isEmpty)
    assert(Binary.flacDecode(enc.dropRight(1)).isEmpty)
    assert(Binary.flacDecode("not a flac".getBytes).isEmpty)
    assert(Binary.flacDecode(Array.empty[Byte]).isEmpty)
    // flip one byte anywhere in the frame region: CRC-8 or CRC-16 must
    // catch it (None), never a junk decode that silently differs
    (42 until enc.length).foreach { at =>
      val mut = enc.clone(); mut(at) = (mut(at) ^ 0x2a).toByte
      val d = Binary.flacDecode(mut)
      assert(d.isEmpty, s"byte $at: corruption escaped both CRCs")
    }
    // a WAV header is not a FLAC stream
    assert(Binary.flacDecode(Binary.wavHeader(8000, 1, 16, 100)).isEmpty)
  }

  test("JPEG restart markers: round-trip with per-segment DC chain resets") {
    // DRI=2 over 6 blocks: segments [b0 b1][b2 b3][b4 b5], RST0 RST1
    // between them; each segment's first block codes its DC from 0
    val dcs = Array(-100, 0, 99, 50, -64, 17)
    val blocks = dcs.map { dc => val b = new Array[Int](64); b(0) = dc; b }
    val jpg = Binary.jpegEncodeBlocks(24, 16, blocks, restartInterval = 2)
    assert((0 until jpg.length - 1).exists(i =>
      (jpg(i) & 0xff) == 0xff && (jpg(i + 1) & 0xff) == 0xd0),
      "no RST0 marker emitted")
    val img = Binary.jpegDecode(jpg).get
    for (by <- 0 until 2; bx <- 0 until 3) {
      val want = math.max(0, math.min(255, dcs(by * 3 + bx) * 2 + 128))
      assert((img.pixels(by * 8 * 24 + bx * 8) & 0xff) == want,
        s"block ($bx,$by)")
    }
    // the synthetic id range: DRI cycles 1..3, dims cycle with it
    (0L until 60L).foreach { id =>
      val bw = (id % 3 + 1).toInt; val bh = (id % 2 + 1).toInt
      val rimg = Binary.jpegDecode(Binary.synthJpegRst(id)).get
      assert(rimg.width == bw * 8 && rimg.height == bh * 8)
      for (by <- 0 until bh; bx <- 0 until bw) {
        val dc = ((bx * 5 + by * 9 + id * 13) % 200 - 100).toInt
        val want = math.max(0, math.min(255, dc * 2 + 128))
        assert((rimg.pixels(by * 8 * rimg.width + bx * 8) & 0xff) == want,
          s"id=$id block ($bx,$by)")
      }
    }
  }

  test("JPEG restart markers: rejects undeclared/out-of-sequence RSTn") {
    val dcs = Array(-100, 0, 99, 50, -64, 17)
    val blocks = dcs.map { dc => val b = new Array[Int](64); b(0) = dc; b }
    val jpg = Binary.jpegEncodeBlocks(24, 16, blocks, restartInterval = 2)
    // find the RST0 marker and corrupt its sequence number -> None
    val at = (0 until jpg.length - 1).find(i =>
      (jpg(i) & 0xff) == 0xff && (jpg(i + 1) & 0xff) == 0xd0).get
    val outOfSeq = jpg.clone(); outOfSeq(at + 1) = 0xd5.toByte
    assert(Binary.jpegDecode(outOfSeq).isEmpty)
    // strip the DRI segment but keep the RSTn markers -> undeclared -> None
    val driAt = (0 until jpg.length - 1).find(i =>
      (jpg(i) & 0xff) == 0xff && (jpg(i + 1) & 0xff) == 0xdd).get
    val noDri = jpg.take(driAt) ++ jpg.drop(driAt + 6)
    assert(Binary.jpegDecode(noDri).isEmpty)
    // plain non-restart files still decode (no regression)
    assert(Binary.jpegDecode(Binary.synthJpeg(7)).isDefined)
  }

  test("progressive JPEG: DC-only decode matches clamp(dc*2+128) exactly") {
    val dcs = Array(-100, 0, 99, 50, -64, 17)
    val blocks = dcs.map { dc => val b = new Array[Int](64); b(0) = dc; b }
    val jpg = Binary.jpegEncodeProgressive(24, 16, blocks)
    val meta = Binary.parseImageMeta(jpg).get
    assert(meta.format == "jpeg" && meta.width == 24 && meta.height == 16)
    val img = Binary.jpegDecodeProgressive(jpg).get
    assert(img.width == 24 && img.height == 16)
    for (by <- 0 until 2; bx <- 0 until 3) {
      val want = math.max(0, math.min(255, dcs(by * 3 + bx) * 2 + 128))
      for (y <- 0 until 8; x <- 0 until 8) {
        val got = img.pixels((by * 8 + y) * 24 + bx * 8 + x) & 0xff
        assert(got == want, s"block ($bx,$by) pixel ($x,$y): $got != $want")
      }
    }
  }

  test("progressive JPEG: pixels equal the BASELINE coding of the same blocks") {
    // The strongest cross-check available without an external library:
    // the same quantized coefficients coded two ways (sequential Annex-K
    // stream vs the six-scan progressive script with EOBn runs, ZRL in
    // refinement, correction bits) must reconstruct bit-identical
    // coefficient arrays, hence bit-identical rendered pixels. Blocks
    // are seeded to hit each successive-approximation regime: values
    // ±1 (significant only in the final scan), ±2/±3 (newly significant
    // at Al=1), dense mid-band, far-position ZRL runs, and consecutive
    // empty-band blocks so EOBRUN spans blocks with pending correction
    // bits.
    def lcg(s0: Long): Iterator[Long] =
      Iterator.iterate(s0)(s => s * 6364136223846793005L + 1442695040888963407L)
    (0 until 8).foreach { trial =>
      val bw = 4; val bh = 3
      val rnd = lcg(trial * 7919L + 1).map(v => math.abs(v >>> 16))
      val blocks = Array.fill(bw * bh) {
        val blk = new Array[Int](64)
        val mode = rnd.next() % 5
        blk(0) = (rnd.next() % 200 - 100).toInt
        if (mode != 0) { // mode 0: flat (EOBRUN member)
          val nAc = (1 + rnd.next() % (if (mode == 1) 3 else 12)).toInt
          (0 until nAc).foreach { _ =>
            val k = (1 + rnd.next() % 63).toInt
            val mag = (1 + rnd.next() % (if (mode == 2) 3 else 40)).toInt
            blk(Array(0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
              12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
              35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
              58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62,
              63)(k)) = (if (rnd.next() % 2 == 0) mag else -mag)
          }
        }
        blk
      }
      val base = Binary.jpegDecode(
        Binary.jpegEncodeBlocks(bw * 8, bh * 8, blocks)).get
      val prog = Binary.jpegDecodeProgressive(
        Binary.jpegEncodeProgressive(bw * 8, bh * 8, blocks)).get
      assert(prog.width == base.width && prog.height == base.height)
      assert(java.util.Arrays.equals(prog.pixels, base.pixels),
        s"trial $trial: progressive decode diverges from baseline")
    }
  }

  test("progressive JPEG round-trips the synthetic id range exactly") {
    (0L until 60L).foreach { id =>
      val bw = (id % 3 + 1).toInt; val bh = (id % 2 + 1).toInt
      val img = Binary.jpegDecodeProgressive(Binary.synthJpegProg(id)).get
      assert(img.width == bw * 8 && img.height == bh * 8)
      for (by <- 0 until bh; bx <- 0 until bw) {
        val dc = ((bx * 5 + by * 9 + id * 13) % 200 - 100).toInt
        val want = math.max(0, math.min(255, dc * 2 + 128))
        assert((img.pixels(by * 8 * img.width + bx * 8) & 0xff) == want)
      }
    }
  }

  test("progressive JPEG decoder rejects unsupported/corrupt input, never junk") {
    val jpg = Binary.synthJpegProg(7)
    assert(Binary.jpegDecodeProgressive(jpg).isDefined)
    assert(Binary.jpegDecodeProgressive(jpg.take(40)).isEmpty)
    assert(Binary.jpegDecodeProgressive(jpg.dropRight(3)).isEmpty)
    assert(Binary.jpegDecodeProgressive("not a jpeg".getBytes).isEmpty)
    assert(Binary.jpegDecodeProgressive(Array.empty[Byte]).isEmpty)
    // a BASELINE (SOF0) file is not this profile — and vice versa
    assert(Binary.jpegDecodeProgressive(Binary.synthJpeg(7)).isEmpty)
    assert(Binary.jpegDecode(jpg).isEmpty)
    // truncating mid-entropy (kill the EOI) must not loop or throw
    val noEoi = jpg.dropRight(2)
    assert(Binary.jpegDecodeProgressive(noEoi).isEmpty)
    // flipping a bit in each scan's entropy data must never produce an
    // exception — None or a decoded (different) image are both
    // acceptable, junk crashes are not
    (jpg.length - 40 until jpg.length - 2).foreach { at =>
      val mut = jpg.clone(); mut(at) = (mut(at) ^ 0x40).toByte
      Binary.jpegDecodeProgressive(mut) // must not throw
    }
  }
}
