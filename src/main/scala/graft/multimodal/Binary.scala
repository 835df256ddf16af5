package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.ByteCursor
import graft.sources.ByteCursor.{be16, be24, be32, be64, le16, le24, le32,
  le64}

/** Multimodal (image/audio/video) column plumbing.
  *
  * Media rides through the engine as an opaque `binary` column plus a
  * typed metadata struct — the standard lakehouse layout: content stays
  * a byte blob readable without decoding; metadata (media type, dims,
  * duration) is columnar and prunable/filterable. All byte-level
  * operators here (length, hash, histogram, stride sampling) are real
  * and deterministic, and so is image-container METADATA decode
  * ([[parseImageMeta]]: PNG/JPEG/GIF dimensions + bit depth from pure
  * header-byte arithmetic). PAYLOAD decode is REAL and dependency-free
  * for six profiles: PNG pixels ([[pngDecode]]: chunk walk + CRC
  * verify + JDK zlib inflate + full scanline defiltering), WAV PCM
  * samples ([[wavPcmDecode]]: RIFF chunk walk + int16 LE), GIF pixels
  * ([[gifDecode]]: full LZW + palette), baseline grayscale JPEG
  * ([[jpegDecode]]: Huffman entropy decode + dequant + IDCT, exact
  * for DC-only blocks), 4:2:0 color JPEG ([[jpegDecodeColor420]]:
  * three interleaved DC chains over two Huffman table pairs), and
  * progressive grayscale JPEG ([[jpegDecodeProgressive]]: spectral
  * selection + successive approximation, EOBn runs, AC correction
  * bits), and FLAC ([[flacDecode]]: Rice-coded residuals over
  * fixed/LPC integer predictors, stereo decorrelation, CRC-8/16
  * framing). Codec-library-bound payloads (MP3/AAC frames, MP4 video
  * tracks) stay behind the clearly marked STUB ([[stubDecode]]) —
  * for those, the Spark-side plumbing (schema, batching,
  * partition-level processing, UDF signature) is the deliverable and
  * is fully tested.
  *
  * Scale notes: byte ops are per-row map work with no shuffle. The batch
  * processor mirrors the `mapInPandas` pattern — partition iterators
  * chunked into fixed-size batches so a decoder can amortize model/
  * codec init per batch rather than per record (the same batch shape a
  * Python Arrow UDF would see).
  */
object Binary {

  /** Attach a metadata struct column (values may be null/unknown). */
  def withMeta(df: DataFrame, binCol: String, mediaType: Column,
               width: Column = lit(null).cast(IntegerType),
               height: Column = lit(null).cast(IntegerType),
               durationMs: Column = lit(null).cast(LongType)): DataFrame =
    df.withColumn("media_meta", struct(
      mediaType.as("media_type"), width.as("width"),
      height.as("height"), durationMs.as("duration_ms")))

  val P = 1000000007L

  /** Rolling content hash over raw bytes (seed differs from the text
    * hash so text and its encoding don't trivially collide).
    */
  def byteHash(bytes: Array[Byte], seed: Long = 13L): Long = {
    var acc = seed
    var i = 0
    while (i < bytes.length) {
      acc = (acc * 31 + (bytes(i) & 0xff)) % P
      i += 1
    }
    acc
  }

  /** 16-bin byte-value histogram (bin = byte >> 4). */
  def byteHistogram(bytes: Array[Byte]): Array[Long] = {
    val h = new Array[Long](16)
    var i = 0
    while (i < bytes.length) {
      h((bytes(i) & 0xff) >> 4) += 1
      i += 1
    }
    h
  }

  /** Every-k-th-byte sample — the frame-subsampling analog. */
  def strideSample(bytes: Array[Byte], k: Int): Array[Byte] =
    Iterator.range(0, bytes.length, k).map(bytes).toArray

  /** Column-level wrappers (JVM UDFs over the binary payload — the
    * honest boundary for byte-level work, same role `mapInPandas` plays
    * in a Python pipeline; everything around them stays codegen'd).
    */
  def byteHashCol(c: Column): Column =
    udf { b: Array[Byte] => byteHash(b) }.apply(c)
  def byteHistogramCol(c: Column): Column =
    udf { b: Array[Byte] => byteHistogram(b) }.apply(c)

  /** Parsed image-container metadata (header fields only — no pixel
    * decode, no codec library). */
  final case class ImageMeta(format: String, width: Int, height: Int,
                             bit_depth: Int)

  /** REAL image metadata decode from HEADER BYTES — pure byte
    * arithmetic, no codec dependency: PNG (signature + IHDR
    * width/height/bit-depth), JPEG (marker walk to the first SOFn
    * frame header: precision/height/width, skipping APP/COM/quant
    * segments), GIF (87a/89a logical screen descriptor,
    * little-endian dims + color-resolution bits), WebP (RIFF walk,
    * delegated to [[parseWebpMeta]]), AVIF (ISO-BMFF walk, delegated
    * to [[parseAvifMeta]]). Returns None for
    * unrecognized/truncated bytes. Pixel-data decode stays behind
    * [[stubDecode]]; dimension/bit-depth extraction — the metadata a
    * 100 TB multimodal pipeline filters and partitions on — needs
    * only these first bytes, so it runs as cheap per-row map work.
    */
  def parseImageMeta(b: Array[Byte]): Option[ImageMeta] = ByteCursor.total {
    val c = ByteCursor(b)
    if (c.tagAt(0, PngSignature) && c.tagAt(12, "IHDR"))
      Some(ImageMeta("png", c.be32(16).toInt, c.be32(20).toInt, c.u8(24)))
    else if (b.length >= 4 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) {
      var i = 2
      while (i + 3 < b.length) {
        if ((b(i) & 0xff) != 0xff) return None // desynced marker stream
        val m = b(i + 1) & 0xff
        if (m == 0xd8 || (m >= 0xd0 && m <= 0xd7) || m == 0x01) i += 2
        else if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc)
          // SOFn: len(2) precision(1) height(2) width(2)
          return Some(ImageMeta("jpeg", c.be16(i + 7), c.be16(i + 5), c.u8(i + 4)))
        else i += 2 + c.be16(i + 2) // skip APPn/COM/DQT/...
      }
      None
    } else if (b.length >= 13 && c.tagAt(0, "GIF8") &&
               (b(4) == '7' || b(4) == '9') && b(5) == 'a')
      Some(ImageMeta("gif", c.le16(6), c.le16(8), ((c.u8(10) >> 4) & 7) + 1))
    else if (b.length >= 20 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' &&
             b(3) == 'F' && b(8) == 'W' && b(9) == 'E' && b(10) == 'B' &&
             b(11) == 'P') // WebP is always 8-bit-per-channel
      parseWebpMeta(b).map(m => ImageMeta("webp", m.width, m.height, 8))
    else if (b.length >= 16 && b(4) == 'f' && b(5) == 't' && b(6) == 'y' &&
             b(7) == 'p' && b(8) == 'a' && b(9) == 'v' && b(10) == 'i' &&
             (b(11) == 'f' || b(11) == 's')) // ISO-BMFF, avif/avis brand
      parseAvifMeta(b).map(m =>
        ImageMeta("avif", m.width, m.height, m.bit_depth))
    else if (b.length >= 30 && b(0) == 'B' && b(1) == 'M')
      parseBmpMeta(b)
    else if (b.length >= 14 && ((b(0) == 'I' && b(1) == 'I') ||
             (b(0) == 'M' && b(1) == 'M')))
      parseTiffMeta(b)
    else if (b.length >= 22 && b(0) == 0 && b(1) == 0 && b(2) == 1 &&
             b(3) == 0)
      parseIcoMeta(b)
    else None
  }

  /** Minimal VALID image headers (signature + dimension fields, no
    * pixel data) — deterministic fixtures for codec-less environments:
    * [[parseImageMeta]] round-trips them, exercising each parser path
    * against a known-answer oracle.
    */
  private val PngSignature = "\u0089PNG\r\n\u001a\n"

  def pngHeader(width: Int, height: Int, bitDepth: Int): Array[Byte] = {
    Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
      be32(13) ++ "IHDR".getBytes("US-ASCII") ++ be32(width) ++ be32(height) ++
      Array[Byte](bitDepth.toByte, 2, 0, 0, 0) ++ be32(0) // truecolor, stub CRC
  }

  def jpegHeader(width: Int, height: Int): Array[Byte] = {
    val app0 = Array[Byte](0xff.toByte, 0xe0.toByte) ++ be16(16) ++
      "JFIF".getBytes("US-ASCII") ++ Array[Byte](0, 1, 1, 0, 0, 1, 0, 1, 0, 0)
    val sof0 = Array[Byte](0xff.toByte, 0xc0.toByte) ++ be16(17) ++
      Array[Byte](8) ++ be16(height) ++ be16(width) ++
      Array[Byte](3, 1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1)
    Array[Byte](0xff.toByte, 0xd8.toByte) ++ app0 ++ sof0
  }

  def gifHeader(width: Int, height: Int, colorBits: Int): Array[Byte] = {
    "GIF89a".getBytes("US-ASCII") ++ le16(width) ++ le16(height) ++
      Array[Byte]((((colorBits - 1) & 7) << 4).toByte, 0, 0)
  }

  /** Deterministic per-id synthetic header (format cycles png/jpeg/gif)
    * — the query-able fixture column for [[parseImageMeta]]. */
  def synthHeader(id: Long): Array[Byte] = (id % 3) match {
    case 0 => pngHeader((id % 1920 + 1).toInt, (id % 1080 + 1).toInt,
      if (id % 2 == 0) 8 else 16)
    case 1 => jpegHeader((id % 1920 + 1).toInt, (id % 1080 + 1).toInt)
    case _ => gifHeader((id % 1920 + 1).toInt, (id % 1080 + 1).toInt,
      ((id % 8) + 1).toInt)
  }

  def synthHeaderCol(c: Column): Column =
    udf { id: Long => synthHeader(id) }.apply(c)
  def imageMetaCol(c: Column): Column =
    udf { b: Array[Byte] => parseImageMeta(b) }.apply(c)

  /** Parsed WebP container metadata — the most common image format in
    * a modern crawl after JPEG/PNG. `variant` is the coded stream kind
    * (vp8 lossy / vp8l lossless / vp8x extended). */
  final case class WebpMeta(variant: String, width: Int, height: Int,
                            has_alpha: Boolean)

  /** REAL WebP metadata decode from HEADER BYTES — RIFF framing plus
    * the three first-chunk forms the spec allows:
    *
    *  - `VP8 ` (lossy): 3-byte LE frame tag (keyframe bit must be 0 =
    *    keyframe), the 0x9D 0x01 0x2A start code, then 14-bit LE
    *    width/height (scale bits masked off); never carries alpha.
    *  - `VP8L` (lossless): 0x2F signature, then one LE u32 packing
    *    width-1 (14 bits), height-1 (14 bits), the alpha-is-used bit,
    *    and a 3-bit version that must be 0.
    *  - `VP8X` (extended): 10-byte payload — feature flags (bit 4 =
    *    alpha) and 24-bit LE canvas width-1 / height-1.
    *
    * Strict: the RIFF size must account exactly for the file tail,
    * the first chunk must be one of the three stream forms (per spec
    * ordering), dimensions must be nonzero. Returns None otherwise —
    * truncation, bad start code, nonzero VP8L version bits, a VP8X
    * payload that is not exactly 10 bytes. Pixel decode (VP8 DCT /
    * VP8L LZ77+Huffman) stays behind [[stubDecode]]; dimensions and
    * the alpha flag — what a 100 TB pipeline filters and partitions
    * on — need only these bytes, so it runs as cheap per-row map work.
    */
  def parseWebpMeta(b: Array[Byte]): Option[WebpMeta] = ByteCursor.total {
    val c = ByteCursor(b)
    if (b.length < 20 || !c.tagAt(0, "RIFF") || !c.tagAt(8, "WEBP")) return None
    // RIFF size must tile the file
    if (c.le32(4) != b.length - 8L) return None
    // first chunk's payload size (unsigned, kept Long)
    val size = c.le32(16)
    val p = 20
    if (c.tagAt(12, "VP8 ")) {
      if (size < 10 || p + 10 > b.length) return None
      // in bounds from here: p + 10 <= b.length
      val frameTag = b(p) & 0xff
      if ((frameTag & 1) != 0) return None // interframe cannot lead a file
      if ((b(p + 3) & 0xff) != 0x9d || b(p + 4) != 0x01 || b(p + 5) != 0x2a)
        return None
      val w = c.le16(p + 6) & 0x3fff
      val h = c.le16(p + 8) & 0x3fff
      if (w == 0 || h == 0) return None
      Some(WebpMeta("vp8", w, h, has_alpha = false))
    } else if (c.tagAt(12, "VP8L")) {
      if (size < 5 || p + 5 > b.length) return None
      if (b(p) != 0x2f) return None
      val bits = c.le32(p + 1)
      if (((bits >> 29) & 0x7L) != 0L) return None // version must be 0
      val w = ((bits & 0x3fffL) + 1L).toInt
      val h = (((bits >> 14) & 0x3fffL) + 1L).toInt
      Some(WebpMeta("vp8l", w, h, ((bits >> 28) & 1L) == 1L))
    } else if (c.tagAt(12, "VP8X")) {
      if (size != 10 || p + 10 > b.length) return None
      val flags = b(p) & 0xff
      if ((flags & 0xc1) != 0) return None // reserved flag bits must be 0
      val w = c.le(p + 4, 3).toInt + 1
      val h = c.le(p + 7, 3).toInt + 1
      Some(WebpMeta("vp8x", w, h, (flags & 0x10) != 0))
    } else None
  }

  private[multimodal] def riffWebp(fourcc: String, payload: Array[Byte]): Array[Byte] = {
    val padded = if (payload.length % 2 == 1) payload :+ 0.toByte else payload
    val body = "WEBP".getBytes("US-ASCII") ++ fourcc.getBytes("US-ASCII") ++
      le32(payload.length) ++ padded
    "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body
  }

  /** Minimal VALID WebP headers for each stream form — deterministic
    * fixtures for codec-less environments (the [[pngHeader]] pattern).
    */
  def webpLossy(width: Int, height: Int): Array[Byte] = {
    // keyframe (bit 0 = 0), version 0, show_frame (bit 4)
    val frameTag = 0x10
    riffWebp("VP8 ", Array[Byte](frameTag.toByte, 0, 0,
      0x9d.toByte, 0x01, 0x2a) ++ le16(width) ++ le16(height))
  }

  def webpLossless(width: Int, height: Int, alpha: Boolean): Array[Byte] = {
    val bits = (width - 1).toLong | ((height - 1).toLong << 14) |
      (if (alpha) 1L << 28 else 0L)
    riffWebp("VP8L", Array[Byte](0x2f) ++ le32(bits))
  }

  def webpExtended(width: Int, height: Int, alpha: Boolean): Array[Byte] = {
    riffWebp("VP8X", Array[Byte](if (alpha) 0x10 else 0, 0, 0, 0) ++
      le24(width - 1) ++ le24(height - 1))
  }

  /** Deterministic per-id synthetic WebP (variant cycles
    * vp8/vp8l/vp8x) — the query-able fixture column for
    * [[parseWebpMeta]]. */
  def synthWebp(id: Long): Array[Byte] = (id % 3) match {
    case 0 => webpLossy((id % 1920 + 1).toInt, (id % 1080 + 1).toInt)
    case 1 => webpLossless((id % 1920 + 1).toInt, (id % 1080 + 1).toInt,
      id % 2 == 0)
    case _ => webpExtended((id % 1920 + 1).toInt, (id % 1080 + 1).toInt,
      id % 2 == 0)
  }

  def synthWebpCol(c: Column): Column =
    udf { id: Long => synthWebp(id) }.apply(c)
  def webpMetaCol(c: Column): Column =
    udf { b: Array[Byte] => parseWebpMeta(b) }.apply(c)

  /** Parsed audio-container metadata (header fields only — no PCM
    * decode, no codec library). `duration_ms` is derived from the
    * parsed frame count and sample rate (floor division).
    */
  final case class AudioMeta(format: String, sample_rate: Int, channels: Int,
                             bits_per_sample: Int, n_frames: Long,
                             duration_ms: Long)

  /** REAL audio metadata decode from HEADER BYTES — pure byte
    * arithmetic, no codec dependency: WAV (RIFF/WAVE chunk walk to
    * `fmt ` for rate/channels/bits and `data` for the frame count —
    * skips any interleaved LIST/fact chunks), FLAC ("fLaC" +
    * STREAMINFO bit-packed sample rate / channels / bit depth / total
    * samples), Opus-in-Ogg ("OggS", delegated to
    * [[parseOggOpusMeta]]), and MP3 (frame-header walk,
    * [[parseMp3Meta]]). Returns None for unrecognized/truncated
    * bytes. WAV PCM
    * payload decode is [[wavPcmDecode]]; FLAC sample decode is
    * [[flacDecode]]; rate/channel/duration — the
    * metadata a 100 TB multimodal pipeline filters and partitions
    * on — needs only these first bytes, so it runs as cheap per-row
    * map work.
    */
  def parseAudioMeta(b: Array[Byte]): Option[AudioMeta] = ByteCursor.total {
    val c = ByteCursor(b)
    if (c.tagAt(0, "RIFF") && c.tagAt(8, "WAVE")) {
      // chunk walk: [id(4) size(4,LE) payload(size, word-aligned)].
      // The cursor is a Long and the unsigned 32-bit chunk size is
      // never truncated to Int: a malformed (or >= 2 GiB) size walks
      // the cursor past the buffer and falls out of the loop as None,
      // instead of a zero/negative Int step looping forever or
      // indexing out of bounds. Step >= 8 always, so the walk
      // terminates.
      var i = 12L
      var rate = 0; var ch = 0; var bits = 0; var dataBytes = -1L
      var blockAlign = 0
      while (i + 8 <= b.length && (rate == 0 || dataBytes < 0)) {
        val size = c.le32(i + 4)
        if (c.tagAt(i, "fmt ") && i + 24 <= b.length) {
          ch = c.le16(i + 10)
          rate = c.le32(i + 12).toInt
          blockAlign = c.le16(i + 20)
          bits = c.le16(i + 22)
        } else if (c.tagAt(i, "data")) dataBytes = size
        i += 8L + size + (size & 1L) // chunks are word-aligned
      }
      if (rate <= 0 || ch <= 0 || blockAlign <= 0 || dataBytes < 0) None
      else {
        val frames = dataBytes / blockAlign
        Some(AudioMeta("wav", rate, ch, bits, frames, frames * 1000L / rate))
      }
    } else if (c.tagAt(0, "fLaC") && b.length >= 26 && (b(4) & 0x7f) == 0) {
      // STREAMINFO (block type 0, 34 bytes at offset 8); the packed
      // field at offset 18: rate(20) channels-1(3) bits-1(5) samples(36)
      val (rate, ch, bits, frames) = streamInfo(c.be64(18))
      if (rate <= 0) None
      else Some(AudioMeta("flac", rate, ch, bits, frames, frames * 1000L / rate))
    } else if (c.tagAt(0, "OggS")) parseOggOpusMeta(b)
    else parseMp3Meta(b)
  }

  /** ID3v2's 28-bit "syncsafe" size: four bytes, top bit of each zero. */
  private def syncsafe(v: Long): Int =
    (((v >>> 24) & 0x7f) << 21 | ((v >>> 16) & 0x7f) << 14 |
      ((v >>> 8) & 0x7f) << 7 | (v & 0x7f)).toInt

  /** FLAC STREAMINFO's packed 64 bits (block offset 10): sample rate
    * (20), channels-1 (3), bits-per-sample-1 (5), total samples (36). */
  private def streamInfo(v: Long): (Int, Int, Int, Long) =
    ((v >>> 44).toInt, ((v >>> 41) & 7).toInt + 1,
      ((v >>> 36) & 0x1f).toInt + 1, v & 0xfffffffffL)

  /** MP3 (MPEG-1/2/2.5 Layer III) metadata via a FULL frame-header
    * walk — the most common crawl audio format has no self-describing
    * container, so rate/channels/duration come from validating every
    * frame header in the chain (sync, version/layer bits, per-version
    * bitrate and sample-rate table lookups, padding-aware frame
    * length coef·bitrate/rate + pad with coef 144000 for MPEG-1 and
    * 72000 for MPEG-2/2.5, whose Layer III frames carry 576 samples,
    * not 1152) and counting frames; a leading ID3v2 tag (syncsafe
    * 28-bit size) is skipped and a trailing 128-byte ID3v1 'TAG'
    * block is tolerated — both are standard crawl-file furniture.
    * Strict: a broken sync, a reserved version/bitrate/rate code, an
    * inconsistent version/rate/mode mid-chain, or trailing garbage is
    * None — never a junk duration. (Layer III SAMPLE decode — IMDCT +
    * synthesis filterbank — is codec-library territory and stays
    * behind [[stubDecode]].)
    */
  private def parseMp3Meta(b: Array[Byte]): Option[AudioMeta] = {
    val c = ByteCursor(b)
    var i = 0L
    if (c.tagAt(0, "ID3")) i = 10L + syncsafe(c.be32(6))
    val brV1 = Array(-1, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160,
      192, 224, 256, 320, -1)
    val brV2 = Array(-1, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96,
      112, 128, 144, 160, -1) // MPEG-2/2.5 Layer III
    val srV1 = Array(44100, 48000, 32000, -1)
    val srV2 = Array(22050, 24000, 16000, -1)
    val srV25 = Array(11025, 12000, 8000, -1)
    var frames = 0L
    var rate = -1
    var ch = -1
    var ver = -1 // header version bits: 0 = 2.5, 2 = MPEG-2, 3 = MPEG-1
    while (i < b.length) {
      // tolerate EXACTLY a trailing ID3v1 block (fixed 128 bytes)
      if (b.length - i == 128L && c.tagAt(i, "TAG")) {
        i = b.length.toLong
      } else {
        // a partial trailing header rejects
        val h = c.be32(i)
        // sync = 11 set bits; version 01 is reserved; layer must be III
        if (((h >>> 21) & 0x7ff) != 0x7ff) return None
        val v = ((h >>> 19) & 3).toInt
        if (v == 1 || ((h >>> 17) & 3) != 1) return None
        val br = (if (v == 3) brV1 else brV2)(((h >>> 12) & 0xf).toInt)
        val sr = (if (v == 3) srV1 else if (v == 2) srV2 else srV25)(
          ((h >>> 10) & 3).toInt)
        val pad = (h >>> 9) & 1
        if (br <= 0 || sr <= 0) return None
        val chans = if (((h >>> 6) & 3) == 3) 1 else 2
        if (rate < 0) { rate = sr; ch = chans; ver = v }
        else if (rate != sr || ch != chans || ver != v) return None
        i += (if (v == 3) 144000L else 72000L) * br / sr + pad
        frames += 1
      }
    }
    if (frames == 0 || i != b.length) return None
    val samples = frames * (if (ver == 3) 1152L else 576L)
    Some(AudioMeta("mp3", rate, ch, 0, samples, samples * 1000L / rate))
  }

  /** Deterministic synthetic MP3 per id: (id%10+1) MPEG-1 Layer III
    * frames at bitrate table index (id%5+9) (128–256 kbps) and rate
    * {44100, 48000, 32000}[id%3], mono iff id even, zero padding —
    * every header field and the frame count are closed forms of the
    * id, so the SQL oracle recomputes the whole metadata row. Payload
    * bytes are zeros (metadata walk never reads them).
    */
  def synthMp3(id: Long): Array[Byte] = {
    val bitrates = Array(-1, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160,
      192, 224, 256, 320, -1)
    val srates = Array(44100, 48000, 32000)
    val brIdx = (id % 5 + 9).toInt
    val srIdx = (id % 3).toInt
    val sr = srates(srIdx)
    val n = (id % 10 + 1).toInt
    val flen = (144000L * bitrates(brIdx) / sr).toInt
    val out = new java.io.ByteArrayOutputStream()
    (0 until n).foreach { _ =>
      out.write(0xff); out.write(0xfb)
      out.write((brIdx << 4) | (srIdx << 2))
      out.write(if (id % 2 == 0) 0xc0 else 0x00)
      var k = 4
      while (k < flen) { out.write(0); k += 1 }
    }
    out.toByteArray
  }

  def synthMp3Col(c: Column): Column =
    udf { id: Long => synthMp3(id) }.apply(c)

  // ---- Ogg/Opus --------------------------------------------------------

  /** Ogg's page CRC: 32-bit, polynomial 0x04C11DB7, no reflection, no
    * init, no final xor — NOT the zlib CRC32, so it must be hand-rolled
    * (RFC 3533 §6). */
  private lazy val oggCrcTable: Array[Int] = {
    val t = new Array[Int](256)
    var i = 0
    while (i < 256) {
      var r = i << 24
      var k = 0
      while (k < 8) {
        r = (r << 1) ^ (if ((r & 0x80000000) != 0) 0x04c11db7 else 0)
        k += 1
      }
      t(i) = r; i += 1
    }
    t
  }

  /** Opus-in-Ogg metadata via the full page walk (RFC 3533 framing +
    * RFC 7845 OpusHead): every page's capture pattern, version byte,
    * segment-lacing payload length, and CRC (computed with the CRC
    * field zeroed, Ogg's own polynomial) are verified; the first page
    * must be BOS and begin with an OpusHead packet (version 1 →
    * channels, pre-skip, input sample rate); the stream must end with
    * an EOS page whose granule position — Opus granules are ALWAYS
    * 48 kHz sample counts regardless of input rate — gives the
    * duration after pre-skip subtraction. Strict: a flipped bit
    * anywhere in a page fails its CRC; pages after EOS, a granule
    * below pre-skip, or a truncated lacing table are None — never a
    * junk duration. `sample_rate` reports OpusHead's informational
    * input rate; `n_frames` is the 48 kHz sample count.
    */
  def parseOggOpusMeta(b: Array[Byte]): Option[AudioMeta] = ByteCursor.total {
    val c = ByteCursor(b)
    var i = 0L
    var first = true
    var channels = -1; var preskip = -1; var rate = -1L
    var lastGranule = 0L; var sawEos = false
    while (i < b.length) {
      if (sawEos) return None // bytes after the EOS page: trailing garbage
      val pg = readOggPage(c, i)
      if (first) {
        if ((pg.flags & 2) == 0) return None // stream must open with BOS
        val h = pg.body
        if (pg.bodyLen < 19 || !c.tagAt(h, "OpusHead")) return None
        if (c.u8(h + 8) != 1) return None // version
        channels = c.u8(h + 9)
        preskip = c.le16(h + 10)
        rate = c.le32(h + 12)
        if (channels < 1) return None
        first = false
      }
      if ((pg.flags & 4) != 0) { sawEos = true; lastGranule = pg.granule }
      i = pg.end
    }
    if (first || !sawEos) return None
    val n = lastGranule - preskip
    if (n < 0) return None
    Some(AudioMeta("opus", rate.toInt, channels, 0, n, n * 1000L / 48000L))
  }

  /** One parsed Ogg page: header flags, granule position, and the
    * payload span [body, body + bodyLen); the page ends at `end`. */
  private final case class OggPage(flags: Int, granule: Long, body: Long,
                                   bodyLen: Long, end: Long)

  /** The strict RFC 3533 page read at `i`: capture pattern, version
    * byte 0, lacing table, and the CRC computed with its own field
    * read as zero. Rejects on any mismatch or truncation. */
  private def readOggPage(c: ByteCursor, i: Long): OggPage = {
    if (!c.tagAt(i, "OggS") || c.u8(i + 4) != 0) ByteCursor.reject()
    val flags = c.u8(i + 5)
    val granule = c.le64(i + 6)
    val stored = c.le32(i + 22)
    val nseg = c.u8(i + 26)
    if (!c.has(i + 27, nseg)) ByteCursor.reject()
    var payLen = 0L
    var k = 0
    while (k < nseg) { payLen += c.buf((i + 27 + k).toInt) & 0xff; k += 1 }
    val total = 27L + nseg + payLen
    if (!c.has(i, total)) ByteCursor.reject()
    var crc = 0
    var j = 0
    while (j < total) {
      val byt = if (j >= 22 && j < 26) 0 else c.buf((i + j).toInt) & 0xff
      crc = (crc << 8) ^ oggCrcTable(((crc >>> 24) ^ byt) & 0xff)
      j += 1
    }
    if ((crc.toLong & 0xffffffffL) != stored) ByteCursor.reject()
    OggPage(flags, granule, i + 27 + nseg, payLen, i + total)
  }

  /** One Ogg page with a correct CRC (general lacing: 255-runs + the
    * <255 terminator, including the 0 lacing a 255-multiple needs). */
  def oggPage(flags: Int, granule: Long, serial: Int, seq: Int,
              payload: Array[Byte]): Array[Byte] = {
    val lacing = new java.io.ByteArrayOutputStream()
    var rem = payload.length
    while (rem >= 255) { lacing.write(255); rem -= 255 }
    lacing.write(rem) // 0 terminator when length is a 255-multiple
    val segs = lacing.toByteArray
    val page = "OggS".getBytes("US-ASCII") ++
      Array[Byte](0, flags.toByte) ++
      le32(granule) ++ le32(granule >>> 32) ++
      le32(serial.toLong & 0xffffffffL) ++ le32(seq.toLong & 0xffffffffL) ++
      Array[Byte](0, 0, 0, 0) ++ // CRC placeholder
      Array[Byte](segs.length.toByte) ++ segs ++ payload
    var crc = 0
    page.foreach { byt =>
      crc = (crc << 8) ^ oggCrcTable(((crc >>> 24) ^ (byt & 0xff)) & 0xff)
    }
    page.patch(22, le32(crc), 4)
  }

  /** Minimal VALID Opus-in-Ogg stream: BOS page with OpusHead, an
    * OpusTags page, one audio data page with EOS + final granule. */
  def oggOpus(channels: Int, preskip: Int, inputRate: Long,
              nSamples48k: Long, dataBytes: Array[Byte],
              vendor: String = "graft",
              comments: Seq[(String, String)] = Seq.empty): Array[Byte] = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val head = "OpusHead".getBytes("US-ASCII") ++ Array[Byte](1,
      channels.toByte) ++ le16(preskip) ++ le32(inputRate) ++
      le16(0) ++ Array[Byte](0) // gain 0, mapping family 0
    val vb = vendor.getBytes(utf8)
    val tags = "OpusTags".getBytes("US-ASCII") ++
      le32(vb.length) ++ vb ++ le32(comments.length) ++
      comments.flatMap { case (k, v) =>
        val c = s"$k=$v".getBytes(utf8); le32(c.length) ++ c
      }
    oggPage(2, 0L, 0x6772, 0, head) ++
      oggPage(0, 0L, 0x6772, 1, tags) ++
      oggPage(4, preskip.toLong + nSamples48k, 0x6772, 2, dataBytes)
  }

  /** Deterministic synthetic Opus file per id: channels id%2+1,
    * pre-skip 312, informational input rate {48000, 44100, 16000}[id%3],
    * (id%10+1)·960 samples at 48 kHz (so duration is exactly
    * (id%10+1)·20 ms), and a deterministic fake audio payload (the
    * metadata walk never decodes it). */
  def synthOggOpus(id: Long): Array[Byte] = {
    val rates = Array(48000L, 44100L, 16000L)
    val data = Array.tabulate(((id % 50) + 40).toInt)(j =>
      ((id * 7 + j * 13) % 256).toByte)
    oggOpus((id % 2 + 1).toInt, 312, rates((id % 3).toInt),
      (id % 10 + 1) * 960L, data,
      vendor = s"graft $id", comments = Seq(
        ("TITLE", s"Opus Track ${id % 100}"),
        ("ARTIST", s"Opus Artist ${id % 30}"),
        ("ENCODER", "graft")))
  }

  def synthOggOpusCol(c: Column): Column =
    udf { id: Long => synthOggOpus(id) }.apply(c)

  /** Vorbis identification header (Vorbis I spec §4.2.2): the fields
    * a transcoding pipeline reads before deciding what to do with an
    * Ogg Vorbis file. */
  final case class VorbisId(channels: Int, sample_rate: Long,
                            bitrate_nominal: Long, blocksize0: Int,
                            blocksize1: Int, n_samples: Long,
                            duration_ms: Long)

  /** Ogg VORBIS metadata — the identification-header sibling of
    * [[parseOggOpusMeta]], sharing the same strict RFC 3533 page walk
    * (capture pattern, version byte, lacing, CRC with the field
    * zeroed). The BOS page's first packet must be `vorbis` with
    * vorbis_version 0; channels/rate/nominal-bitrate read directly,
    * the blocksize byte's two 4-bit exponents give blocksize0 (low
    * nibble) ≤ blocksize1 (high nibble) — both must land in the
    * spec's [64, 8192] — and the framing bit must be set. Unlike
    * Opus, Vorbis granules are PCM sample counts at the STREAM's own
    * rate, so the EOS granule is n_samples directly and duration
    * needs no 48 kHz rebase. */
  def parseOggVorbisMeta(b: Array[Byte]): Option[VorbisId] = ByteCursor.total {
    if (b == null || b.length < 27) return None
    val c = ByteCursor(b)
    var i = 0L
    var first = true
    var channels = -1; var rate = -1L; var nominal = -1L
    var bs0 = -1; var bs1 = -1
    var lastGranule = 0L; var sawEos = false
    while (i < b.length) {
      if (sawEos) return None // trailing garbage after EOS
      val pg = readOggPage(c, i)
      if (first) {
        if ((pg.flags & 2) == 0) return None // must open with BOS
        val h = pg.body
        // \x01vorbis + version(4) + ch(1) + rate(4) + 3 bitrates(12)
        // + blocksizes(1) + framing(1) = 30 bytes
        if (pg.bodyLen < 30 || c.u8(h) != 1 || !c.tagAt(h + 1, "vorbis"))
          return None
        // vorbis_version
        if (c.le32(h + 7) != 0) return None
        channels = c.u8(h + 11)
        rate = c.le32(h + 12)
        // max(16), nominal(20), min(24)
        nominal = c.le32(h + 20)
        val bsByte = c.u8(h + 28)
        bs0 = 1 << (bsByte & 0xf)
        bs1 = 1 << (bsByte >>> 4)
        // framing bit
        if ((c.u8(h + 29) & 1) == 0) return None
        if (channels < 1 || rate < 1) return None
        if (bs0 < 64 || bs1 > 8192 || bs0 > bs1) return None
        first = false
      }
      if ((pg.flags & 4) != 0) { sawEos = true; lastGranule = pg.granule }
      i = pg.end
    }
    if (first || !sawEos || lastGranule < 0) return None
    Some(VorbisId(channels, rate, nominal, bs0, bs1, lastGranule,
      lastGranule * 1000L / rate))
  }

  /** Minimal VALID Vorbis-in-Ogg stream: BOS identification page,
    * comment-header page, one data page with EOS + final granule. */
  def oggVorbis(channels: Int, rate: Long, nominal: Long,
                bs0Exp: Int, bs1Exp: Int, nSamples: Long,
                dataBytes: Array[Byte]): Array[Byte] = {
    val ident = Array[Byte](1) ++ "vorbis".getBytes("US-ASCII") ++
      le32(0) ++ Array[Byte](channels.toByte) ++ le32(rate) ++
      le32(0) ++ le32(nominal) ++ le32(0) ++
      Array[Byte]((bs0Exp | (bs1Exp << 4)).toByte, 1)
    val vb = "graft".getBytes("UTF-8")
    val comments = Array[Byte](3) ++ "vorbis".getBytes("US-ASCII") ++
      le32(vb.length) ++ vb ++ le32(0) ++ Array[Byte](1)
    oggPage(2, 0L, 0x7653, 0, ident) ++
      oggPage(0, 0L, 0x7653, 1, comments) ++
      oggPage(4, nSamples, 0x7653, 2, dataBytes)
  }

  /** Deterministic per-id Ogg Vorbis: rate from [[synthRates]] (all
    * divisible by 100, so `(id%10+1)·rate/100` samples = an exact
    * `(id%10+1)·10` ms), nominal bitrate `(id%8+1)·32000`, the spec's
    * common 256/2048 blocksizes. */
  def synthOggVorbis(id: Long): Array[Byte] = {
    val rate = synthRates((id % 5).toInt)
    val data = Array.tabulate(((id % 40) + 30).toInt)(j =>
      ((id * 11 + j * 17) % 256).toByte)
    oggVorbis((id % 2 + 1).toInt, rate, (id % 8 + 1) * 32000L,
      8, 11, (id % 10 + 1) * rate / 100L, data)
  }

  def synthOggVorbisCol(c: Column): Column =
    udf { id: Long => synthOggVorbis(id) }.apply(c)
  def vorbisIdCol(c: Column): Column =
    udf { b: Array[Byte] => parseOggVorbisMeta(b) }.apply(c)

  /** Minimal VALID audio headers (container + format fields, no PCM
    * payload) — deterministic fixtures for codec-less environments:
    * [[parseAudioMeta]] round-trips them, exercising both parser paths
    * against a known-answer oracle.
    */
  def wavHeader(sampleRate: Int, channels: Int, bitsPerSample: Int,
                nFrames: Long): Array[Byte] = {
    val blockAlign = channels * bitsPerSample / 8
    val dataBytes = nFrames * blockAlign
    "RIFF".getBytes("US-ASCII") ++ le32(36 + dataBytes) ++
      "WAVE".getBytes("US-ASCII") ++
      "fmt ".getBytes("US-ASCII") ++ le32(16) ++ le16(1) ++ le16(channels) ++
      le32(sampleRate) ++ le32(sampleRate.toLong * blockAlign) ++
      le16(blockAlign) ++ le16(bitsPerSample) ++
      "data".getBytes("US-ASCII") ++ le32(dataBytes) // header only, no PCM
  }

  def flacHeader(sampleRate: Int, channels: Int, bitsPerSample: Int,
                 nFrames: Long): Array[Byte] = {
    // the [[streamInfo]] layout: rate(20) channels-1(3) bits-1(5) samples(36)
    val packed = be64(((sampleRate & 0xfffffL) << 44) |
      (((channels - 1) & 7L) << 41) | (((bitsPerSample - 1) & 0x1fL) << 36) |
      (nFrames & 0xfffffffffL))
    "fLaC".getBytes("US-ASCII") ++
      Array[Byte](0x80.toByte, 0, 0, 34) ++ // last-block flag + STREAMINFO(34)
      Array[Byte](0x10, 0, 0x10, 0) ++ // min/max block size 4096
      Array[Byte](0, 0, 0, 0, 0, 0) ++ // min/max frame size (unknown)
      packed ++ new Array[Byte](16) // MD5 (unset)
  }

  /** Vorbis-comment tags — the metadata structure BOTH FLAC's
    * VORBIS_COMMENT block and Ogg Opus's OpusTags packet carry (the
    * open-audio analog of ID3). */
  final case class VorbisTags(vendor: String, title: String, artist: String,
                              album: String, n_comments: Int)

  /** The shared Vorbis-comment body parse: little-endian vendor
    * string + KEY=value UTF-8 records over b[from, end). */
  private def vorbisComments(b: Array[Byte], from: Long,
      end: Long): VorbisTags = {
    val c = new ByteCursor(b, from, end)
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val vendor = new String(c.bytes(c.le32()), utf8)
    val n = c.le32()
    if (n > 65536) ByteCursor.reject()
    var title = ""; var artist = ""; var album = ""
    var k = 0L
    while (k < n) {
      val s = new String(c.bytes(c.le32()), utf8)
      val eq = s.indexOf('=')
      if (eq > 0) s.substring(0, eq).toUpperCase match {
        case "TITLE" => title = s.substring(eq + 1)
        case "ARTIST" => artist = s.substring(eq + 1)
        case "ALBUM" => album = s.substring(eq + 1)
        case _ => ()
      }
      k += 1
    }
    VorbisTags(vendor, title, artist, album, n.toInt)
  }

  /** Metadata-block walk after "fLaC" to the VORBIS_COMMENT block
    * (type 4): little-endian vendor string + comment list of
    * `KEY=value` UTF-8 records (keys case-insensitive —
    * TITLE/ARTIST/ALBUM surface, everything else counts). None when
    * no comment block exists or any length field lies. */
  def parseFlacTags(b: Array[Byte]): Option[VorbisTags] = ByteCursor.total {
    if (b == null || b.length < 8) return None
    val c = ByteCursor(b)
    if (!c.tagAt(0, "fLaC")) return None
    var p = 4L
    var last = false
    while (!last && p + 4 <= b.length) {
      // block header: last-flag(1) type(7) length(24, big-endian)
      val h = c.be32(p)
      last = (h & 0x80000000L) != 0
      val typ = (h >>> 24) & 0x7f
      val len = h & 0xffffff
      if (p + 4 + len > b.length) return None
      if (typ == 4) return Some(vorbisComments(b, p + 4, p + 4 + len))
      p += 4 + len
    }
    None
  }

  /** FLAC with a real VORBIS_COMMENT block after STREAMINFO. */
  def flacWithTags(sampleRate: Int, channels: Int, bitsPerSample: Int,
      nFrames: Long, vendor: String,
      comments: Seq[(String, String)]): Array[Byte] = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val base = flacHeader(sampleRate, channels, bitsPerSample, nFrames)
    base(4) = (base(4) & 0x7f).toByte // STREAMINFO is no longer last
    val vb = vendor.getBytes(utf8)
    val body = new java.io.ByteArrayOutputStream()
    body.write(le32(vb.length)); body.write(vb)
    body.write(le32(comments.length))
    comments.foreach { case (k, v) =>
      val c = s"$k=$v".getBytes(utf8)
      body.write(le32(c.length)); body.write(c)
    }
    val blk = body.toByteArray
    base ++ Array[Byte]((0x80 | 4).toByte) ++ be24(blk.length) ++ blk
  }

  /** Deterministic per-id tagged FLAC: rate/frames from the q75
    * closed forms, TITLE/ARTIST/ALBUM plus a TRACKNUMBER the rollup
    * only counts. */
  def synthTaggedFlac(id: Long): Array[Byte] =
    flacWithTags(synthRates((id % 5).toInt), (id % 2 + 1).toInt, 16,
      (id % 10 + 1) * synthRates((id % 5).toInt) / 100,
      s"graft $id", Seq(
        ("TITLE", s"Flac Track ${id % 100}"),
        ("ARTIST", s"Flac Artist ${id % 30}"),
        ("ALBUM", s"Flac Album ${id % 12}"),
        ("TRACKNUMBER", (id % 20 + 1).toString)))

  def synthTaggedFlacCol(c: Column): Column =
    udf { id: Long => synthTaggedFlac(id) }.apply(c)
  def flacTagsCol(c: Column): Column =
    udf { b: Array[Byte] => parseFlacTags(b) }.apply(c)

  /** OpusTags (RFC 7845 §5.2): the CRC-checked Ogg page walk to the
    * first non-BOS page whose packet opens "OpusTags", then the same
    * Vorbis-comment body as FLAC's block. Multi-page tag packets are
    * out of documented scope (length checks reject them, never
    * garble). */
  def parseOpusTags(b: Array[Byte]): Option[VorbisTags] = ByteCursor.total {
    if (b == null || b.length < 27) return None
    val c = ByteCursor(b)
    if (!c.tagAt(0, "OggS")) return None
    var i = 0L
    var first = true
    while (i + 27 <= b.length) {
      val pg = readOggPage(c, i)
      if (!first && pg.bodyLen >= 8 && c.tagAt(pg.body, "OpusTags"))
        return Some(vorbisComments(b, pg.body + 8, pg.body + pg.bodyLen))
      first = false
      i = pg.end
    }
    None
  }

  def opusTagsCol(c: Column): Column =
    udf { b: Array[Byte] => parseOpusTags(b) }.apply(c)

  /** Deterministic per-id synthetic audio header (format alternates
    * wav/flac; every field a closed form of the id so a SQL oracle can
    * recompute it) — the query-able fixture column for
    * [[parseAudioMeta]]. Rates are all divisible by 100, so
    * `n_frames = (id%10+1)·rate/100` gives an exact
    * `duration_ms = (id%10+1)·10`.
    */
  val synthRates: Seq[Int] = Seq(8000, 16000, 24000, 44100, 48000)

  def synthAudioHeader(id: Long): Array[Byte] = {
    val rate = synthRates((id % 5).toInt)
    val ch = (id % 3 + 1).toInt
    val bits = if (id % 4 < 2) 16 else 24
    val frames = (id % 10 + 1) * rate / 100
    if (id % 2 == 0) wavHeader(rate, ch, bits, frames)
    else flacHeader(rate, ch, bits, frames)
  }

  def synthAudioHeaderCol(c: Column): Column =
    udf { id: Long => synthAudioHeader(id) }.apply(c)
  def audioMetaCol(c: Column): Column =
    udf { b: Array[Byte] => parseAudioMeta(b) }.apply(c)

  /** Parsed video-container metadata (ISO-BMFF/MP4 box headers only —
    * no codec, no frame decode). `duration_ms` = floor(duration · 1000
    * / timescale) from the movie header.
    */
  final case class VideoMeta(format: String, major_brand: String,
                             timescale: Long, duration_ms: Long,
                             n_tracks: Int)

  /** REAL MP4 metadata decode — a top-level ISO-BMFF box walk (32-bit
    * big-endian sizes; `size == 1` promotes to the 64-bit largesize,
    * `size == 0` means to-end-of-buffer) to `ftyp` (major brand) and
    * `moov`, then a child walk inside `moov` for `mvhd` (version 0:
    * 32-bit timescale/duration; version 1: 64-bit) and the `trak`
    * count. Cursors stay Long throughout — an unsigned 32-bit size
    * field truncated to Int becomes a zero/negative step, i.e. an
    * executor-side infinite loop on crafted input (the byte-walk rule
    * from the audio parser). Returns None for unrecognized/truncated/
    * malformed bytes.
    */
  def parseVideoMeta(b: Array[Byte]): Option[VideoMeta] = ByteCursor.total {
    if (b.length < 16) return None
    var brand: String = null
    var timescale = -1L
    var duration = -1L
    var tracks = 0
    ByteCursor(b).boxes().foreach {
      case ("ftyp", f) => brand = f.fourcc(f.pos)
      case ("moov", mv) =>
        mv.boxes().foreach {
          case ("mvhd", m) =>
            m.u8(m.pos) match {
              case 0 =>
                timescale = m.be32(m.pos + 12); duration = m.be32(m.pos + 16)
              case 1 =>
                timescale = m.be32(m.pos + 20); duration = m.be64(m.pos + 24)
              case _ => return None
            }
          case ("trak", _) => tracks += 1
          case _ => ()
        }
      case _ => () // skip free/mdat/unknown top-level boxes
    }
    if (brand == null || timescale <= 0 || duration < 0) None
    else Some(VideoMeta("mp4", brand, timescale,
      duration * 1000L / timescale, tracks))
  }

  /** Per-track MP4 metadata from the sample-table walk — still
    * metadata, not sample decode ([[stubDecode]]'s boundary shrinks:
    * frame counts, byte volumes, and track clocks no longer need it).
    * `duration_ms` = floor(mdhd duration · 1000 / mdhd timescale);
    * `n_samples`/`sum_delta` from `stts` runs; `total_bytes` from
    * `stsz` (fixed-size or per-sample forms). */
  final case class TrackMeta(track_idx: Int, handler: String,
                             timescale: Long, duration_ms: Long,
                             n_samples: Long, sum_delta: Long,
                             total_bytes: Long)

  /** ISO-BMFF track walk: `moov` → each `trak` → `mdia` → `mdhd`
    * (v0/v1 clocks) + `hdlr` (handler fourcc) + `minf` → `stbl` →
    * `stts` (decoding deltas: Σcount, Σcount·delta) and `stsz`
    * (fixed `sample_size` or the per-sample size list). Tracks missing
    * any of these boxes are skipped, not fatal (a metadata-only trak
    * is legal — the q213 fixtures carry them); a malformed size field
    * rejects the file. Long cursors throughout (the crafted-size
    * infinite-loop rule). */
  def parseTracks(b: Array[Byte]): Option[Seq[TrackMeta]] = ByteCursor.total {
    if (b == null || b.length < 16) return None
    if (parseVideoMeta(b).isEmpty) return None // same validity gate
    val out = Vector.newBuilder[TrackMeta]
    var idx = 0
    ByteCursor(b).boxes().foreach {
      case ("moov", mv) =>
        mv.boxes().foreach {
          case ("trak", tk) =>
            var handler: String = null
            var timescale = -1L
            var duration = -1L
            var nSamples = -1L
            var sumDelta = -1L
            var totalBytes = -1L
            tk.boxes().foreach {
              case ("mdia", md) =>
                md.boxes().foreach {
                  case ("mdhd", h) =>
                    h.u8(h.pos) match {
                      case 0 if h.has(h.pos, 24) =>
                        timescale = h.be32(h.pos + 12)
                        duration = h.be32(h.pos + 16)
                      case 1 if h.has(h.pos, 36) =>
                        timescale = h.be32(h.pos + 20)
                        duration = h.be64(h.pos + 24)
                      case _ => return None
                    }
                  case ("hdlr", h) => handler = h.fourcc(h.pos + 8)
                  case ("minf", mf) =>
                    mf.boxes().foreach {
                      case ("stbl", sb) =>
                        sb.boxes().foreach {
                          case ("stts", t) =>
                            val entries = t.be32(t.pos + 4)
                            if (!t.has(t.pos + 8, entries * 8)) return None
                            var s = 0L; var d = 0L
                            var e = 0L
                            while (e < entries) {
                              val run = t.pos + 8 + e * 8
                              val cnt = t.be32(run)
                              s += cnt; d += cnt * t.be32(run + 4)
                              e += 1
                            }
                            nSamples = s; sumDelta = d
                          case ("stsz", z) =>
                            val fixed = z.be32(z.pos + 4)
                            val cnt = z.be32(z.pos + 8)
                            if (fixed != 0L) totalBytes = fixed * cnt
                            else {
                              if (!z.has(z.pos + 12, cnt * 4)) return None
                              var s = 0L; var e = 0L
                              while (e < cnt) {
                                s += z.be32(z.pos + 12 + e * 4)
                                e += 1
                              }
                              totalBytes = s
                            }
                          case _ => ()
                        }
                      case _ => ()
                    }
                  case _ => ()
                }
              case _ => ()
            }
            // a complete sample table names the track; bare traks skip
            if (handler != null && timescale > 0 && duration >= 0 &&
              nSamples >= 0 && totalBytes >= 0)
              out += TrackMeta(idx, handler, timescale,
                duration * 1000L / timescale, nSamples, sumDelta,
                totalBytes)
            idx += 1
          case _ => ()
        }
      case _ => ()
    }
    Some(out.result())
  }

  /** Minimal VALID MP4 skeleton (ftyp + moov[mvhd + empty traks]) —
    * the deterministic fixture [[parseVideoMeta]] round-trips.
    */
  def mp4Header(timescale: Long, duration: Long, nTracks: Int,
                brand: String = "isom", mvhdV1: Boolean = false): Array[Byte] = {
    def box(typ: String, body: Array[Byte]): Array[Byte] =
      be32(body.length + 8L) ++ typ.getBytes("US-ASCII") ++ body
    val ftyp = box("ftyp", brand.getBytes("US-ASCII") ++ be32(512L) ++
      "isommp41".getBytes("US-ASCII"))
    val mvhdBody =
      if (!mvhdV1)
        Array[Byte](0, 0, 0, 0) ++ be32(0L) ++ be32(0L) ++
          be32(timescale) ++ be32(duration) ++
          be32(0x00010000L) ++ Array[Byte](0x01, 0, 0, 0) ++
          new Array[Byte](8) ++ new Array[Byte](36) ++
          new Array[Byte](24) ++ be32(nTracks + 1L)
      else
        Array[Byte](1, 0, 0, 0) ++ be64(0L) ++ be64(0L) ++
          be32(timescale) ++ be64(duration) ++
          be32(0x00010000L) ++ Array[Byte](0x01, 0, 0, 0) ++
          new Array[Byte](8) ++ new Array[Byte](36) ++
          new Array[Byte](24) ++ be32(nTracks + 1L)
    val traks = Array.fill(nTracks)(box("trak", Array.empty[Byte]))
      .foldLeft(Array.empty[Byte])(_ ++ _)
    ftyp ++ box("moov", box("mvhd", mvhdBody) ++ traks)
  }

  /** Deterministic per-id synthetic MP4 (timescale cycles standard
    * clock rates, duration/tracks derive from the id, every 4th file
    * uses the 64-bit mvhd v1 layout).
    */
  private val synthTimescales = Array(600L, 1000L, 24000L, 30000L, 90000L)
  def synthVideoHeader(id: Long): Array[Byte] = {
    val ts = synthTimescales((id % 5).toInt)
    val dur = (id % 120 + 1) * ts / 2 // 0.5 s steps
    mp4Header(ts, dur, (id % 3 + 1).toInt,
      brand = if (id % 2 == 0) "isom" else "mp42", mvhdV1 = id % 4 == 3)
  }

  def synthVideoHeaderCol(c: Column): Column =
    udf { id: Long => synthVideoHeader(id) }.apply(c)
  def videoMetaCol(c: Column): Column =
    udf { b: Array[Byte] => parseVideoMeta(b) }.apply(c)

  /** MP4 with REAL per-track sample tables (trak → mdia →
    * mdhd/hdlr/minf → stbl → stts/stsz) — each track spec is
    * (handler, timescale, stts runs as (count, delta), stsz fixed
    * size or 0, per-sample sizes when 0). mdhd duration = Σcount·delta
    * so the clocks are self-consistent. */
  def mp4WithTracks(brand: String, mvTimescale: Long, mvDuration: Long,
      specs: Seq[(String, Long, Seq[(Long, Long)], Long, Seq[Long])])
      : Array[Byte] = {
    def box(typ: String, body: Array[Byte]): Array[Byte] =
      be32(body.length + 8L) ++ typ.getBytes("US-ASCII") ++ body
    val v0 = Array[Byte](0, 0, 0, 0) // version 0 + flags
    val ftyp = box("ftyp", brand.getBytes("US-ASCII") ++ be32(512L) ++
      "isommp41".getBytes("US-ASCII"))
    val mvhd = box("mvhd",
      v0 ++ be32(0L) ++ be32(0L) ++ be32(mvTimescale) ++
        be32(mvDuration) ++ be32(0x00010000L) ++
        Array[Byte](0x01, 0, 0, 0) ++ new Array[Byte](8) ++
        new Array[Byte](36) ++ new Array[Byte](24) ++
        be32(specs.length + 1L))
    val traks = specs.map { case (handler, ts, runs, fixed, sizes) =>
      val dur = runs.map { case (c, d) => c * d }.sum
      val nSamples = runs.map(_._1).sum
      val mdhd = box("mdhd",
        v0 ++ be32(0L) ++ be32(0L) ++ be32(ts) ++ be32(dur) ++
          Array[Byte](0x55, 0xc4.toByte, 0, 0))
      val hdlr = box("hdlr",
        v0 ++ be32(0L) ++ handler.getBytes("US-ASCII") ++
          new Array[Byte](12) ++ Array[Byte](0))
      val stts = box("stts", v0 ++ be32(runs.length.toLong) ++
        runs.flatMap { case (c, d) => be32(c) ++ be32(d) }.toArray)
      val stsz = box("stsz", v0 ++ be32(fixed) ++
        be32(if (fixed != 0L) nSamples else sizes.length.toLong) ++
        (if (fixed != 0L) Array.empty[Byte]
         else sizes.flatMap(be32).toArray))
      box("trak", box("mdia", mdhd ++ hdlr ++
        box("minf", box("stbl", stts ++ stsz))))
    }.foldLeft(Array.empty[Byte])(_ ++ _)
    ftyp ++ box("moov", mvhd ++ traks)
  }

  /** Deterministic per-id tracked MP4: 1–3 tracks cycling handler,
    * clock, stts run shapes, and BOTH stsz forms by (id, t). */
  def synthVideoTracks(id: Long): Array[Byte] = {
    val k = (id % 3 + 1).toInt
    val specs = (0 until k).map { t =>
      val n = 15 + id % 5
      val runs = Seq((10 + id % 5, 100L + t), (5L, 200L))
      val handler = if ((t + id) % 2 == 0) "vide" else "soun"
      val ts = 1000L * (t + 1)
      if (t % 2 == 0) (handler, ts, runs, 256L + id % 100, Seq.empty[Long])
      else (handler, ts, runs, 0L, (0L until n).map(i => 100L + i % 4))
    }
    val mvDur = specs.map(_._3.map { case (c, d) => c * d }.sum).max
    mp4WithTracks(if (id % 2 == 0) "isom" else "mp42", 1000L, mvDur, specs)
  }

  def synthVideoTracksCol(c: Column): Column =
    udf { id: Long => synthVideoTracks(id) }.apply(c)
  def trackMetaCol(c: Column): Column =
    udf { b: Array[Byte] => parseTracks(b) }.apply(c)

  /** Parsed AVIF metadata — AV1-in-HEIF, the image format modern
    * crawls increasingly serve beside WebP. */
  final case class AvifMeta(brand: String, width: Int, height: Int,
                            bit_depth: Int, has_alpha: Boolean)

  /** REAL AVIF metadata decode — an ISO-BMFF walk (the same box
    * grammar as [[parseVideoMeta]], AVIF is ISO 23000-22 on top of
    * HEIF) to `ftyp` (major brand must be avif/avis), then into the
    * `meta` FullBox's children: `iprp` → `ipco`, whose properties
    * carry what a pipeline filters on — `ispe` (image spatial
    * extents: u32 width/height), `pixi` (bits per channel), and the
    * alpha-auxiliary `auxC` whose URN identifies an alpha plane.
    * Cursors stay Long (unsigned-32 size fields must never truncate
    * to a zero/negative Int step). Strict: missing ftyp/meta/ispe,
    * zero dims, or a malformed box size is None. AV1 sample decode
    * (the `av1C` payload) is codec-library territory behind
    * [[stubDecode]], exactly like MP4 frames.
    */
  def parseAvifMeta(b: Array[Byte]): Option[AvifMeta] = ByteCursor.total {
    if (b == null || b.length < 16) return None
    var brand: String = null
    var width = -1L
    var height = -1L
    var depth = 8
    var alpha = false
    ByteCursor(b).boxes().foreach {
      case ("ftyp", f) =>
        brand = f.fourcc(f.pos)
        if (brand != "avif" && brand != "avis") return None
      case ("meta", mt) =>
        mt.skip(4) // meta is a FullBox
        mt.boxes().foreach {
          case ("iprp", ip) =>
            ip.boxes().foreach {
              case ("ipco", pc) =>
                pc.boxes().foreach {
                  case ("ispe", x) =>
                    width = x.be32(x.pos + 4)
                    height = x.be32(x.pos + 8)
                  case ("pixi", x) => // first channel's bits
                    depth = x.u8(x.pos + 5)
                  case ("auxC", x) =>
                    // a body too short for the URN carries no alpha
                    val n = x.end - x.pos - 4
                    if (x.has(x.pos + 4, n) &&
                      new String(x.bytes(x.pos + 4, n), "US-ASCII")
                        .takeWhile(_ != '\u0000').contains(":alpha"))
                      alpha = true
                  case _ => ()
                }
              case _ => () // ipma associations etc.
            }
          case _ => () // hdlr/pitm/iinf/iloc
        }
      case _ => () // mdat and friends
    }
    if (brand == null || width <= 0 || height <= 0 ||
      width > 0xffffffL || height > 0xffffffL) None
    else Some(AvifMeta(brand, width.toInt, height.toInt, depth, alpha))
  }

  /** Minimal VALID AVIF skeleton (ftyp + meta[hdlr pict, iprp[ipco[
    * ispe, pixi, auxC?]]]) — the deterministic fixture
    * [[parseAvifMeta]] round-trips. */
  def avifHeader(width: Int, height: Int, bitDepth: Int, alpha: Boolean,
                 brand: String = "avif"): Array[Byte] = {
    def box(typ: String, body: Array[Byte]): Array[Byte] =
      be32(body.length + 8L) ++ typ.getBytes("US-ASCII") ++ body
    def fullBox(typ: String, body: Array[Byte]): Array[Byte] =
      box(typ, Array[Byte](0, 0, 0, 0) ++ body)
    val ftyp = box("ftyp", brand.getBytes("US-ASCII") ++ be32(0L) ++
      "avifmif1miaf".getBytes("US-ASCII"))
    val hdlr = fullBox("hdlr", be32(0L) ++
      "pict".getBytes("US-ASCII") ++ new Array[Byte](13))
    val ispe = fullBox("ispe", be32(width.toLong) ++ be32(height.toLong))
    val pixi = fullBox("pixi", Array[Byte](3, bitDepth.toByte,
      bitDepth.toByte, bitDepth.toByte))
    val auxC = if (alpha) fullBox("auxC",
      ("urn:mpeg:mpegB:cicp:systems:auxiliary:alpha\u0000")
        .getBytes("US-ASCII")) else Array.empty[Byte]
    val ipco = box("ipco", ispe ++ pixi ++ auxC)
    val meta = fullBox("meta", hdlr ++ box("iprp", ipco))
    ftyp ++ meta
  }

  private val avifDepths = Array(8, 10, 12)

  /** Deterministic per-id synthetic AVIF (dims/depth/alpha/brand all
    * closed forms of the id). */
  def synthAvif(id: Long): Array[Byte] =
    avifHeader((id % 1920 + 1).toInt, (id % 1080 + 1).toInt,
      avifDepths((id % 3).toInt), id % 2 == 0,
      brand = if (id % 5 == 0) "avis" else "avif")

  def synthAvifCol(c: Column): Column =
    udf { id: Long => synthAvif(id) }.apply(c)
  def avifMetaCol(c: Column): Column =
    udf { b: Array[Byte] => parseAvifMeta(b) }.apply(c)

  /** EXIF essentials a vision-training pipeline filters on:
    * `orientation` is the 1..8 rotation/mirror code (tag 274),
    * `datetime` the capture stamp (tag 306, "YYYY:MM:DD HH:MM:SS"). */
  final case class ExifMeta(orientation: Int, datetime: String)

  /** EXIF decode from a JPEG's APP1 segment — the marker walk finds
    * 0xFFE1 with the "Exif" identifier, and the payload is an
    * embedded TIFF stream: byte order, magic 42, then the IFD0 entry
    * walk for orientation (SHORT, inline) and DateTime (ASCII,
    * NUL-terminated, via offset). The IFD machinery is the same
    * grammar [[parseTiffMeta]] walks; offsets here are relative to
    * the embedded TIFF origin, bounds-checked against the segment.
    * None when there is no APP1/Exif, or the embedded stream is
    * malformed — a JPEG without EXIF is not an error for
    * [[parseImageMeta]], only for this extractor.
    */
  def parseExifMeta(b: Array[Byte]): Option[ExifMeta] = ByteCursor.total {
    if (b == null || b.length < 4 || (b(0) & 0xff) != 0xff ||
      (b(1) & 0xff) != 0xd8) return None
    val c = ByteCursor(b)
    var i = 2
    var tiffAt = -1
    var tiffEnd = -1
    while (tiffAt < 0 && i + 3 < b.length) {
      if ((b(i) & 0xff) != 0xff) return None
      val m = b(i + 1) & 0xff
      if (m == 0xd8 || (m >= 0xd0 && m <= 0xd7) || m == 0x01) i += 2
      else if (m == 0xda || m == 0xd9) return None // image data: no EXIF
      else {
        val len = c.be16(i + 2)
        if (m == 0xe1 && len >= 16 && i + 2 + len <= b.length &&
          c.tagAt(i + 4, "Exif\u0000\u0000")) {
          tiffAt = i + 10
          tiffEnd = i + 2 + len
        } else i += 2 + len
      }
    }
    if (tiffAt < 0 || tiffEnd > b.length) return None
    // embedded TIFF: offsets relative to tiffAt, reads bounded by the
    // segment
    val t = new ByteCursor(b, tiffAt, tiffEnd)
    val le = t.tagAt(tiffAt, "II")
    if (!le && !t.tagAt(tiffAt, "MM")) return None
    val n = (tiffEnd - tiffAt).toLong
    if (n < 8 || t.uint(tiffAt + 2, 2, le) != 42)
      return None
    val ifd = t.uint(tiffAt + 4, 4, le)
    if (ifd + 2 > n) return None
    val cnt = t.uint(tiffAt + ifd, 2, le)
    var orientation = -1
    var datetime = ""
    var k = 0
    while (k < cnt) {
      val e = tiffAt + ifd + 2 + k * 12L
      if (!t.has(e, 12)) return None
      val tag = t.uint(e, 2, le)
      val typ = t.uint(e + 2, 2, le)
      val valCnt = t.uint(e + 4, 4, le)
      if (tag == 274 && typ == 3 && valCnt == 1L)
        orientation = t.uint(e + 8, 2, le).toInt
      else if (tag == 306 && typ == 2 && valCnt >= 2 && valCnt <= 32) {
        val off = tiffAt + t.uint(e + 8, 4, le)
        if (!t.has(off, valCnt)) return None
        // NUL terminator dropped
        datetime = new String(t.bytes(off, valCnt - 1),
          "US-ASCII")
      }
      k += 1
    }
    if (orientation < 1 || orientation > 8) None
    else Some(ExifMeta(orientation, datetime))
  }

  /** JPEG with a real EXIF APP1 (little-endian embedded TIFF: IFD0
    * carrying orientation + NUL-terminated DateTime) spliced between
    * SOI and the [[jpegHeader]] body — [[parseImageMeta]] still reads
    * dims from SOF past it, [[parseExifMeta]] reads the EXIF. */
  def jpegWithExif(width: Int, height: Int, orientation: Int,
                   datetime: String): Array[Byte] = {
    val dt = datetime.getBytes("US-ASCII") :+ 0.toByte
    // IFD: 2 entries + next-IFD(0); DateTime bytes follow at offset
    // 8 (tiff header) + 2 + 24 + 4 = 38
    val ifd = le16(2) ++
      (le16(274) ++ le16(3) ++ le32(1) ++ le16(orientation) ++ le16(0)) ++
      (le16(306) ++ le16(2) ++ le32(dt.length) ++ le32(38)) ++
      le32(0)
    val tiff = "II".getBytes("US-ASCII") ++ le16(42) ++ le32(8) ++
      ifd ++ dt
    val payload = "Exif".getBytes("US-ASCII") ++ Array[Byte](0, 0) ++ tiff
    val app1 = Array[Byte](0xff.toByte, 0xe1.toByte) ++
      be16(payload.length + 2) ++ payload
    val base = jpegHeader(width, height)
    base.take(2) ++ app1 ++ base.drop(2)
  }

  /** Deterministic per-id EXIF fixture (orientation cycles 1..8,
    * capture stamp varies by the id digit). */
  def synthExifJpeg(id: Long): Array[Byte] =
    jpegWithExif((id % 1920 + 1).toInt, (id % 1080 + 1).toInt,
      (id % 8 + 1).toInt,
      f"2026:08:${id % 28 + 1}%02d 12:${id % 60}%02d:00")

  def synthExifJpegCol(c: Column): Column =
    udf { id: Long => synthExifJpeg(id) }.apply(c)
  def exifMetaCol(c: Column): Column =
    udf { b: Array[Byte] => parseExifMeta(b) }.apply(c)

  /** ID3v2 text content — the metadata the MP3 walk (q328) skips:
    * title/artist/album from TIT2/TPE1/TALB text frames. */
  final case class Id3Meta(version: Int, title: String, artist: String,
                           album: String)

  /** ID3v2.2/2.3/2.4 parse: "ID3" + major version + syncsafe 28-bit
    * tag size, then a frame walk — v2.2 uses 3-char ids (TT2/TP1/TAL)
    * + 3-byte plain sizes + no flags, v3/v4 use 4-char ids
    * (TIT2/TPE1/TALB) + plain/syncsafe sizes + 2 flag bytes — and
    * text frames prefixed by an encoding byte (0 = Latin-1,
    * 1 = UTF-16 with BOM, 2 = UTF-16BE, 3 = UTF-8; a BOM-less
    * encoding-1 frame is rejected rather than mis-decoded). Padding
    * (a zero where a frame id should start) ends the walk. None for
    * malformed framing.
    */
  def parseId3v2(b: Array[Byte]): Option[Id3Meta] = ByteCursor.total {
    if (b == null || b.length < 10 || b(0) != 'I' || b(1) != 'D' ||
      b(2) != '3') return None
    val c = ByteCursor(b)
    val major = b(3) & 0xff
    if (major != 2 && major != 3 && major != 4) return None
    val tagSize = syncsafe(c.be32(6))
    val end = math.min(10L + tagSize, b.length.toLong)
    var i = 10L
    var title = ""; var artist = ""; var album = ""
    // v2.2 frames: 3-char ids + 3-byte plain sizes, no flag bytes
    val hdr = if (major == 2) 6 else 10
    val idLen = if (major == 2) 3 else 4
    while (i + hdr <= end) {
      if (b(i.toInt) == 0) { i = end } // padding begins
      else {
        val id = new String(b, i.toInt, idLen, "US-ASCII")
        if (!id.forall(ch => ch.isUpper || ch.isDigit)) return None
        val size64 = major match {
          case 2 => c.be(i + 3, 3)
          case 4 => syncsafe(c.be32(i + 4)).toLong
          case _ => c.be32(i + 4)
        }
        if (i + hdr + size64 > end) return None
        val size = size64.toInt // in range: bounded by `end` above
        if (id.startsWith("T") && size >= 1) {
          val enc = b((i + hdr).toInt) & 0xff
          val text = enc match {
            case 0 => new String(b, i.toInt + hdr + 1, size - 1,
              java.nio.charset.StandardCharsets.ISO_8859_1)
            case 1 => // UTF-16 with BOM (v2.2 UCS-2 / v2.3 "Unicode")
              if (size <= 3) ""
              else {
                val cs = c.be16(i + hdr + 1) match {
                  case 0xfffe => java.nio.charset.StandardCharsets.UTF_16LE
                  case 0xfeff => java.nio.charset.StandardCharsets.UTF_16BE
                  case _ => return None // enc 1 without a BOM: malformed
                }
                new String(b, i.toInt + hdr + 3, size - 3, cs)
              }
            case 2 => // UTF-16BE, no BOM (v2.4)
              new String(b, i.toInt + hdr + 1, size - 1,
                java.nio.charset.StandardCharsets.UTF_16BE)
            case 3 => new String(b, i.toInt + hdr + 1, size - 1,
              java.nio.charset.StandardCharsets.UTF_8)
            case _ => return None // unknown encoding byte
          }
          val clean = text.takeWhile(_ != '\u0000')
          id match {
            case "TIT2" | "TT2" => title = clean
            case "TPE1" | "TP1" => artist = clean
            case "TALB" | "TAL" => album = clean
            case _ => ()
          }
        }
        i += hdr + size
      }
    }
    Some(Id3Meta(major, title, artist, album))
  }

  /** ID3v2 builder (v2.2, v2.3 or v2.4 framing). */
  def id3v2(major: Int, title: String, artist: String,
            album: String, enc: Int = 0): Array[Byte] = {
    require(major == 2 || major == 3 || major == 4)
    require(enc >= 0 && enc <= 3)
    require(major != 2 || enc <= 1, "v2.2 defines encodings 0 and 1 only")
    def frame(id: String, text: String): Array[Byte] = {
      import java.nio.charset.StandardCharsets._
      val payload = enc match {
        case 0 => 0.toByte +: text.getBytes(ISO_8859_1)
        case 1 => // UTF-16 with a little-endian BOM
          1.toByte +: (Array(0xff.toByte, 0xfe.toByte) ++
            text.getBytes(UTF_16LE))
        case 2 => 2.toByte +: text.getBytes(UTF_16BE)
        case _ => 3.toByte +: text.getBytes(UTF_8)
      }
      val n = payload.length
      if (major == 2) // 3-char id + 3-byte size, no flags
        id.getBytes("US-ASCII") ++ be24(n) ++ payload
      else {
        val size =
          if (major == 4) Array[Byte](((n >> 21) & 0x7f).toByte,
            ((n >> 14) & 0x7f).toByte, ((n >> 7) & 0x7f).toByte,
            (n & 0x7f).toByte)
          else be32(n)
        id.getBytes("US-ASCII") ++ size ++ Array[Byte](0, 0) ++ payload
      }
    }
    val frames =
      if (major == 2)
        frame("TT2", title) ++ frame("TP1", artist) ++ frame("TAL", album)
      else frame("TIT2", title) ++ frame("TPE1", artist) ++
        frame("TALB", album)
    val n = frames.length
    "ID3".getBytes("US-ASCII") ++
      Array[Byte](major.toByte, 0, 0, ((n >> 21) & 0x7f).toByte,
        ((n >> 14) & 0x7f).toByte, ((n >> 7) & 0x7f).toByte,
        (n & 0x7f).toByte) ++ frames
  }

  /** Deterministic per-id ID3v2-tagged MP3: the tag prepends the
    * q328 synthetic frame chain, so [[parseAudioMeta]] must still
    * walk the frames past it while [[parseId3v2]] reads the tag. The
    * major version cycles 4/3/2 (v2.2 uses 3-char ids + 3-byte sizes)
    * and the text encoding cycles what each version DEFINES — all
    * four on v2.4, only 0/1 on v2.3 and v2.2 (encodings 2/3 are
    * v2.4-only per the spec) — the decoded strings are identical in
    * every combination, so the q359 oracle depends on the version
    * column alone. */
  def synthTaggedMp3(id: Long): Array[Byte] = {
    val major = (id % 3) match {
      case 0 => 4
      case 1 => 3
      case _ => 2
    }
    val enc = if (major == 4) (id % 4).toInt else (id % 2).toInt
    id3v2(major, s"Track ${id % 100}",
      s"Artist ${id % 30}", s"Album ${id % 12}", enc = enc) ++ synthMp3(id)
  }

  def synthTaggedMp3Col(c: Column): Column =
    udf { id: Long => synthTaggedMp3(id) }.apply(c)
  def id3MetaCol(c: Column): Column =
    udf { b: Array[Byte] => parseId3v2(b) }.apply(c)

  /** SVG metadata — the vector format in every crawl. The document is
    * XML text: the `<svg>` root's width/height attributes (unit
    * suffixes like `px` stripped; only integral values reported) with
    * the `viewBox` third/fourth numbers as the fallback. bit_depth
    * reports 8 (SVG rasterizes to 8-bit channels). */
  def parseSvgMeta(b: Array[Byte]): Option[ImageMeta] = {
    if (b == null || b.length < 5) return None
    val head = new String(b, 0, math.min(b.length, 4096),
      java.nio.charset.StandardCharsets.UTF_8)
    val at = graft.text.XmlLite.indexOfTag(head, "svg", 0)
    if (at < 0) return None
    val end = head.indexOf('>', at)
    if (end < 0) return None
    val inner = head.substring(at + 1, end).stripSuffix("/")
    def dim(name: String): Option[Int] =
      graft.text.XmlLite.attr(inner, name)
        .map(_.stripSuffix("px").trim).flatMap(_.toIntOption)
    val fromAttrs = for (w <- dim("width"); h <- dim("height"))
      yield (w, h)
    val fromViewBox = graft.text.XmlLite.attr(inner, "viewBox")
      .map(_.trim.split("[ ,]+")).filter(_.length == 4)
      .flatMap { p =>
        for (w <- p(2).toIntOption; h <- p(3).toIntOption) yield (w, h)
      }
    fromAttrs.orElse(fromViewBox).collect {
      case (w, h) if w > 0 && h > 0 => ImageMeta("svg", w, h, 8)
    }
  }

  /** Deterministic per-id SVG (attribute dims on even ids, viewBox
    * fallback on odd). */
  def synthSvg(id: Long): Array[Byte] = {
    val w = (id % 1920 + 1).toInt
    val h = (id % 1080 + 1).toInt
    val s =
      if (id % 2 == 0)
        s"""<?xml version="1.0"?><svg xmlns="http://www.w3.org/2000/svg" width="${w}px" height="$h"><rect/></svg>"""
      else
        s"""<svg viewBox="0 0 $w $h"><circle r="1"/></svg>"""
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  def synthSvgCol(c: Column): Column =
    udf { id: Long => synthSvg(id) }.apply(c)
  def svgMetaCol(c: Column): Column =
    udf { b: Array[Byte] => parseSvgMeta(b) }.apply(c)

  // ------------------------------------------------------------------ //
  // Legacy raster metadata: BMP / ICO / TIFF — the long tail a crawl
  // still meets (scans, favicons, uploads). Header arithmetic only.
  // ------------------------------------------------------------------ //

  /** BMP: "BM" + BITMAPINFOHEADER — LE dims at 18/22 (height may be
    * negative = top-down; magnitude reported), bpp at 28. */
  def parseBmpMeta(b: Array[Byte]): Option[ImageMeta] = ByteCursor.total {
    if (b == null || b.length < 30 || b(0) != 'B' || b(1) != 'M') return None
    val c = ByteCursor(b)
    val dibSize = c.le32(14)
    if (dibSize < 40) return None // core-header BMPs out of scope
    val w = c.le32(18).toInt
    // signed: negative = top-down rows
    val h = c.le32(22).toInt
    val bpp = c.le16(28)
    if (w <= 0 || h == 0 || h == Int.MinValue) return None
    if (!Set(1, 4, 8, 16, 24, 32).contains(bpp)) return None
    Some(ImageMeta("bmp", w, math.abs(h), bpp))
  }

  /** ICO: the directory's FIRST image entry (0-byte dim = 256). */
  def parseIcoMeta(b: Array[Byte]): Option[ImageMeta] = ByteCursor.total {
    if (b == null || b.length < 22) return None
    val c = ByteCursor(b)
    // reserved, type=icon
    if (c.le16(0) != 0 || c.le16(2) != 1) return None
    val count = c.le16(4)
    if (count < 1) return None
    val w = if ((b(6) & 0xff) == 0) 256 else b(6) & 0xff
    val h = if ((b(7) & 0xff) == 0) 256 else b(7) & 0xff
    val bpp = c.le16(12)
    Some(ImageMeta("ico", w, h, if (bpp == 0) 32 else bpp))
  }

  /** TIFF: both byte orders (II little / MM big, magic 42),
    * first-IFD walk for ImageWidth(256) / ImageLength(257) /
    * BitsPerSample(258, inline SHORT or via offset for multi-sample —
    * first sample reported). Cursors Long (unsigned-32 offsets). */
  def parseTiffMeta(b: Array[Byte]): Option[ImageMeta] = ByteCursor.total {
    if (b == null || b.length < 14) return None
    val c = ByteCursor(b)
    val le = c.tagAt(0, "II")
    if (!le && !c.tagAt(0, "MM")) return None
    if (c.uint(2, 2, le) != 42) return None
    val ifd = c.uint(4, 4, le)
    val n = c.uint(ifd, 2, le)
    var width = -1L
    var height = -1L
    var depth = 1
    var k = 0
    while (k < n) {
      val e = ifd + 2 + k * 12L
      if (!c.has(e, 12)) return None
      val tag = c.uint(e, 2, le)
      val typ = c.uint(e + 2, 2, le)
      val cnt = c.uint(e + 4, 4, le)
      // SHORT(3) reads 2 bytes, LONG(4) reads 4 — inline when it fits
      val inlineVal =
        if (typ == 3) c.uint(e + 8, 2, le)
        else if (typ == 4) c.uint(e + 8, 4, le)
        else -1L
      tag match {
        case 256 => width = inlineVal
        case 257 => height = inlineVal
        case 258 =>
          if (cnt == 1L) depth = inlineVal.toInt
          else if (typ == 3 && cnt >= 2 && cnt <= 16) {
            val off = c.uint(e + 8, 4, le)
            // first sample's bits
            depth = c.uint(off, 2, le).toInt
          } else return None
        case _ => ()
      }
      k += 1
    }
    if (width <= 0 || height <= 0 || depth <= 0 || width > 0xffffff ||
      height > 0xffffff) None
    else Some(ImageMeta("tiff", width.toInt, height.toInt, depth))
  }

  /** Minimal valid builders for the three legacy formats. */
  def bmpHeader(width: Int, height: Int, bpp: Int,
                topDown: Boolean = false): Array[Byte] = {
    "BM".getBytes("US-ASCII") ++ le32(54) ++ le32(0) ++ le32(54) ++
      le32(40) ++ le32(width) ++ le32(if (topDown) -height else height) ++
      le16(1) ++ le16(bpp) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0) ++
      le32(0) ++ le32(0)
  }

  def icoHeader(width: Int, height: Int, bpp: Int,
                nImages: Int = 1): Array[Byte] = {
    val dir = le16(0) ++ le16(1) ++ le16(nImages)
    val entry = Array[Byte](
      (if (width == 256) 0 else width).toByte,
      (if (height == 256) 0 else height).toByte, 0, 0) ++
      le16(1) ++ le16(bpp) ++ le32(0) ++ le32(22)
    dir ++ entry
  }

  def tiffHeader(width: Int, height: Int, bitsPerSample: Int,
                 bigEndian: Boolean = false): Array[Byte] = {
    def w16(v: Int) = ByteCursor.uint(v, 2, !bigEndian)
    def w32(v: Int) = ByteCursor.uint(v, 4, !bigEndian)
    val order = if (bigEndian) "MM" else "II"
    // IFD at offset 8: 3 entries + next-IFD 0
    def entry(tag: Int, typ: Int, cnt: Int, v: Int): Array[Byte] = {
      val value = if (typ == 3) w16(v) ++ w16(0) else w32(v)
      w16(tag) ++ w16(typ) ++ w32(cnt) ++ value
    }
    order.getBytes("US-ASCII") ++ w16(42) ++ w32(8) ++ w16(3) ++
      entry(256, 4, 1, width) ++ entry(257, 4, 1, height) ++
      entry(258, 3, 1, bitsPerSample) ++ w32(0)
  }

  /** Deterministic per-id legacy-format fixture (bmp/ico/tiff cycle;
    * BMP alternates top-down, TIFF alternates byte order). */
  def synthLegacyImage(id: Long): Array[Byte] = (id % 3) match {
    case 0 => bmpHeader((id % 1920 + 1).toInt, (id % 1080 + 1).toInt,
      Array(8, 24, 32)((id / 3 % 3).toInt), topDown = id % 2 == 0)
    case 1 => icoHeader((id % 256 + 1).toInt, (id % 256 + 1).toInt,
      if (id % 2 == 0) 32 else 8)
    case _ => tiffHeader((id % 1920 + 1).toInt, (id % 1080 + 1).toInt,
      Array(1, 8, 16)((id / 3 % 3).toInt), bigEndian = id % 2 == 0)
  }

  def synthLegacyImageCol(c: Column): Column =
    udf { id: Long => synthLegacyImage(id) }.apply(c)

  // ------------------------------------------------------------------ //
  // REAL PNG pixel codec — dependency-free (java.util.zip only).
  // PNG is the one mainstream image format whose full pixel path is
  // decodable with nothing beyond the JDK: zlib (Inflater) + the five
  // scanline filters. This closes the pixel half of the multimodal
  // boundary for PNG; JPEG/PCM/video payloads remain behind
  // [[stubDecode]] (their entropy coders need a codec library).
  // ------------------------------------------------------------------ //

  /** Decoded truecolor image: RGB bytes row-major, 3 bytes/pixel. */
  final case class PngImage(width: Int, height: Int, pixels: Array[Byte])

  private def crc32Of(parts: Array[Byte]*): Int = {
    val c = new java.util.zip.CRC32
    parts.foreach(p => c.update(p))
    c.getValue.toInt
  }

  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** REAL PNG encoder (8-bit truecolor, no interlace): IHDR + one IDAT
    * holding the zlib-deflated filtered scanlines + IEND, with genuine
    * CRC-32s. Each row's filter type cycles y % 5 (none/sub/up/average/
    * paeth) so a round-trip exercises every defilter path — the encoder
    * exists to make [[pngDecode]] testable against a known-answer
    * oracle, not to win compression.
    */
  def pngEncode(width: Int, height: Int, pixels: Array[Byte]): Array[Byte] = {
    require(pixels.length == width * height * 3,
      s"need ${width * height * 3} RGB bytes, got ${pixels.length}")
    val bpp = 3
    val stride = width * bpp
    val raw = new Array[Byte](height * (1 + stride))
    var y = 0
    while (y < height) {
      val f = y % 5
      raw(y * (1 + stride)) = f.toByte
      var i = 0
      while (i < stride) {
        val cur = pixels(y * stride + i) & 0xff
        val left = if (i >= bpp) pixels(y * stride + i - bpp) & 0xff else 0
        val above = if (y > 0) pixels((y - 1) * stride + i) & 0xff else 0
        val ul = if (y > 0 && i >= bpp) pixels((y - 1) * stride + i - bpp) & 0xff else 0
        val pred = f match {
          case 0 => 0
          case 1 => left
          case 2 => above
          case 3 => (left + above) / 2
          case 4 => paeth(left, above, ul)
        }
        raw(y * (1 + stride) + 1 + i) = ((cur - pred) & 0xff).toByte
        i += 1
      }
      y += 1
    }
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(raw); deflater.finish()
    val buf = new Array[Byte](raw.length + 64)
    val out = new java.io.ByteArrayOutputStream()
    while (!deflater.finished())
      out.write(buf, 0, deflater.deflate(buf))
    deflater.end()
    val idat = out.toByteArray
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val t = typ.getBytes("US-ASCII")
      be32(data.length) ++ t ++ data ++ be32(crc32Of(t, data))
    }
    val ihdr = be32(width) ++ be32(height) ++
      Array[Byte](8, 2, 0, 0, 0) // depth 8, truecolor, deflate, adaptive, no interlace
    Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
      chunk("IHDR", ihdr) ++ chunk("IDAT", idat) ++ chunk("IEND", Array.empty)
  }

  /** REAL PNG pixel decode, dependency-free: chunk walk with CRC-32
    * verification, concatenated-IDAT zlib inflate, and full scanline
    * defiltering (none/sub/up/average/paeth). Supports the 8-bit
    * truecolor non-interlaced profile ([[pngEncode]]'s output and the
    * overwhelmingly common case); anything else (palette, alpha,
    * 16-bit, interlaced, corrupt CRC, short stream) returns None
    * rather than junk pixels. Cursor arithmetic stays in Long per the
    * byte-walk discipline (a crafted 4 GiB length field must not
    * become a negative step).
    */
  def pngDecode(b: Array[Byte]): Option[PngImage] = ByteCursor.total {
    val c = ByteCursor(b)
    if (b.length < 8 + 25 || (b(0) & 0xff) != 0x89 || !c.tagAt(1, "PNG"))
      return None
    var pos = 8L
    var w = -1; var h = -1
    val idat = new java.io.ByteArrayOutputStream()
    var sawEnd = false
    while (!sawEnd && pos + 8 <= b.length) {
      val len = c.be32(pos)
      val typ = c.fourcc(pos + 4)
      val dataOff = pos + 8
      val crcStored = c.be32(dataOff + len)
      val crc = new java.util.zip.CRC32
      crc.update(b, pos.toInt + 4, 4 + len.toInt) // in range: CRC read above
      if ((crc.getValue & 0xffffffffL) != crcStored) return None
      typ match {
        case "IHDR" =>
          if (len != 13) return None
          w = c.be32(dataOff).toInt
          h = c.be32(dataOff + 4).toInt
          // depth 8, truecolor, deflate, adaptive filter, no interlace
          if (!c.tagAt(dataOff + 8, "\u0008\u0002\u0000\u0000\u0000"))
            return None
          if (w <= 0 || h <= 0 || w.toLong * h * 3 > 64L * 1024 * 1024)
            return None
        case "IDAT" => idat.write(b, dataOff.toInt, len.toInt)
        case "IEND" => sawEnd = true
        case _ => () // ancillary chunk: skip
      }
      pos += 12 + len
    }
    if (!sawEnd || w < 0) return None
    val bpp = 3
    val stride = w * bpp
    val raw = new Array[Byte](h * (1 + stride))
    val inf = new java.util.zip.Inflater()
    inf.setInput(idat.toByteArray)
    var got = 0
    try {
      while (got < raw.length && !inf.finished()) {
        val n = inf.inflate(raw, got, raw.length - got)
        if (n == 0 && inf.needsInput()) return None // truncated stream
        got += n
      }
    } catch { case _: java.util.zip.DataFormatException => return None }
    finally inf.end()
    if (got != raw.length) return None
    val px = new Array[Byte](h * stride)
    var y = 0
    while (y < h) {
      val f = raw(y * (1 + stride)) & 0xff
      if (f > 4) return None
      var i = 0
      while (i < stride) {
        val v = raw(y * (1 + stride) + 1 + i) & 0xff
        val left = if (i >= bpp) px(y * stride + i - bpp) & 0xff else 0
        val above = if (y > 0) px((y - 1) * stride + i) & 0xff else 0
        val ul = if (y > 0 && i >= bpp) px((y - 1) * stride + i - bpp) & 0xff else 0
        val pred = f match {
          case 0 => 0
          case 1 => left
          case 2 => above
          case 3 => (left + above) / 2
          case 4 => paeth(left, above, ul)
        }
        px(y * stride + i) = ((v + pred) & 0xff).toByte
        i += 1
      }
      y += 1
    }
    Some(PngImage(w, h, px))
  }

  /** Deterministic synthetic truecolor PNG per id: dims (id%13+4) ×
    * (id%11+4), pixel value (x·7 + y·13 + c·101 + id·31) mod 256 — a
    * closed form DuckDB reproduces exactly with integer arithmetic, so
    * decoded-pixel statistics get a full VALUE-checked oracle (the
    * whole deflate→inflate→defilter path must reproduce every byte).
    */
  def synthPng(id: Long): Array[Byte] = {
    val w = (id % 13 + 4).toInt
    val h = (id % 11 + 4).toInt
    val px = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var c = 0
        while (c < 3) {
          px((y * w + x) * 3 + c) =
            ((x * 7 + y * 13 + c * 101 + id * 31) % 256).toByte
          c += 1
        }
        x += 1
      }
      y += 1
    }
    pngEncode(w, h, px)
  }

  def synthPngCol(c: Column): Column =
    udf { id: Long => synthPng(id) }.apply(c)

  /** Per-channel decoded-pixel statistics: (channel, n, mean, std) rows
    * per image — the feature-extraction step a real multimodal pipeline
    * runs after decode. Population std via exact integer sums (pixel
    * values are 0..255 ints, so the sums are exact longs and the final
    * doubles are reproducible cross-engine after rounding).
    */
  def pngChannelStats(b: Array[Byte]): Option[Seq[(Int, Long, Long, Double, Double)]] =
    pngDecode(b).map { img =>
      val n = img.width.toLong * img.height
      (0 until 3).map { c =>
        var s = 0L; var ss = 0L
        var i = c
        while (i < img.pixels.length) {
          val v = img.pixels(i) & 0xff
          s += v; ss += v.toLong * v
          i += 3
        }
        val mean = s.toDouble / n
        val variance = ss.toDouble / n - mean * mean
        (c, n, s, mean, math.sqrt(math.max(0.0, variance)))
      }
    }

  def pngChannelStatsCol(c: Column): Column =
    udf { b: Array[Byte] => pngChannelStats(b) }.apply(c)

  /** STUB — media decode. A real deployment plugs a codec here (e.g.
    * ffmpeg bindings) returning pixel/PCM tensors; this container has
    * none, so the stub emits a deterministic 8-dim pseudo-feature
    * derived from the byte stream (stride-sampled rolling hashes scaled
    * to [0,1)). Signature and batching are what a real decoder uses.
    * The stub's remaining territory is MP3/AAC frames, MP4 VIDEO
    * frames, and the WebP VP8 lossy / transform-coded VP8L paths —
    * PNG/GIF/WAV/JPEG (baseline, color 4:2:0, progressive,
    * restart-interval), FLAC, and transform-free / subtract-green
    * VP8L ([[Vp8l]]) all have REAL dependency-free payload decoders.
    */
  def stubDecode(bytes: Array[Byte]): Array[Float] = {
    val f = new Array[Float](8)
    var i = 0
    while (i < 8) {
      val slice = strideSample(bytes.drop(i), 8)
      f(i) = (byteHash(slice, seed = i + 1L) % 1000000L).toFloat / 1000000.0f
      i += 1
    }
    f
  }

  /** Partition-level batch processor (the `mapInPandas` shape): chunks
    * each partition's rows into `batchSize` groups, runs `decode` per
    * record with per-batch amortized setup, preserves all input columns
    * and appends `features: array<float>`.
    */
  def decodeBatches(df: DataFrame, binCol: String,
                    batchSize: Int = 64,
                    decode: Array[Byte] => Array[Float] = stubDecode): DataFrame = {
    val schema = df.schema.add("features", ArrayType(FloatType))
    val idx = df.schema.fieldIndex(binCol)
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    df.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        // per-batch setup would init the codec/model here, once
        batch.iterator.map { r =>
          val bytes = r.getAs[Array[Byte]](idx)
          Row.fromSeq(r.toSeq :+ decode(bytes).toSeq)
        }
      }
    }(enc)
  }

  // ------------------------------------------------------------------ //
  // REAL WAV PCM codec — dependency-free. PCM-in-RIFF is the one
  // mainstream AUDIO format whose full sample path needs no entropy
  // coder at all: the payload IS the samples (int16 little-endian,
  // interleaved by channel). This closes the PCM half of the
  // multimodal boundary for WAV the way [[pngDecode]] closes pixels
  // for PNG; compressed audio (FLAC frames, MP3, AAC) stays behind
  // [[stubDecode]] (those need real entropy decoders).
  // ------------------------------------------------------------------ //

  /** Decoded PCM audio: samples frame-major, interleaved by channel. */
  final case class WavPcm(sampleRate: Int, channels: Int,
                          samples: Array[Short])

  /** REAL WAV encoder (PCM s16le): canonical RIFF layout — fmt chunk,
    * one ancillary LIST/INFO chunk (so the decoder's chunk-skip path
    * executes on every fixture), then the data chunk with the actual
    * sample payload. Exists to make [[wavPcmDecode]] testable against
    * a known-answer oracle.
    */
  def wavPcmEncode(sampleRate: Int, channels: Int,
                   samples: Array[Short]): Array[Byte] = {
    require(channels > 0 && samples.length % channels == 0,
      s"samples (${samples.length}) must be a multiple of channels ($channels)")
    val blockAlign = channels * 2
    val data = samples.flatMap(s => le16(s.toLong))
    val fmt = "fmt ".getBytes("US-ASCII") ++ le32(16) ++ le16(1) ++
      le16(channels) ++ le32(sampleRate.toLong) ++
      le32(sampleRate.toLong * blockAlign) ++ le16(blockAlign) ++ le16(16)
    // ancillary LIST/INFO chunk (ISFT = encoding software, NUL-padded
    // to even length per the RIFF word-alignment rule)
    val listBody = "INFO".getBytes("US-ASCII") ++
      "ISFT".getBytes("US-ASCII") ++ le32(6) ++
      "graft\u0000".getBytes("US-ASCII")
    val list = "LIST".getBytes("US-ASCII") ++ le32(listBody.length.toLong) ++
      listBody
    val dataChunk = "data".getBytes("US-ASCII") ++
      le32(data.length.toLong) ++ data
    val body = "WAVE".getBytes("US-ASCII") ++ fmt ++ list ++ dataChunk
    "RIFF".getBytes("US-ASCII") ++ le32(body.length.toLong) ++ body
  }

  /** REAL WAV PCM decode, dependency-free: RIFF chunk walk (word-
    * aligned — odd chunk sizes consume a pad byte), `fmt ` validation
    * (PCM tag 1, 16-bit only), ancillary chunks skipped, `data`
    * payload decoded to int16 LE samples. Anything unsupported
    * (float/ADPCM tags, 8/24-bit, truncation, size overflow) returns
    * None rather than junk samples. Cursors stay Long per the
    * byte-walk discipline.
    */
  def wavPcmDecode(b: Array[Byte]): Option[WavPcm] = ByteCursor.total {
    val c = ByteCursor(b)
    val n = b.length.toLong
    if (n < 44 || !c.tagAt(0, "RIFF") || !c.tagAt(8, "WAVE")) return None
    val riffEnd = math.min(n, 8L + c.le32(4))
    var pos = 12L
    var rate = -1; var ch = -1; var bits = -1; var fmtOk = false
    var dataOff = -1L; var dataLen = -1L
    while (pos + 8 <= riffEnd) {
      val id = c.fourcc(pos)
      val len = c.le32(pos + 4)
      val body = pos + 8
      if (body + len > n) return None
      id match {
        case "fmt " =>
          if (len < 16) return None
          val tag = c.le16(body)
          ch = c.le16(body + 2)
          rate = c.le32(body + 4).toInt
          bits = c.le16(body + 14)
          fmtOk = tag == 1 // PCM only; float (3) / ADPCM (2) unsupported
        case "data" => dataOff = body; dataLen = len
        case _ => () // LIST/fact/cue: ancillary, skip
      }
      pos = body + len + (len & 1L) // RIFF chunks are word-aligned
    }
    if (!fmtOk || rate <= 0 || ch <= 0 || bits != 16 || dataOff < 0)
      return None
    if (dataLen % (2L * ch) != 0 || dataLen > 64L * 1024 * 1024) return None
    val pcm = c.bytes(dataOff, dataLen)
    val out = new Array[Short]((dataLen / 2).toInt)
    java.nio.ByteBuffer.wrap(pcm).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .asShortBuffer().get(out) // int16 LE samples
    Some(WavPcm(rate, ch, out))
  }

  /** Deterministic synthetic PCM WAV per id: rate cycles the standard
    * clock set, 1–2 channels, 40–135 frames, sample value
    * (i·7 + c·101 + id·31) mod 4001 − 2000 — a closed form DuckDB
    * reproduces exactly with integer arithmetic, so decoded-sample
    * statistics get a full VALUE-checked oracle (the whole
    * RIFF-walk→LE-decode path must reproduce every sample).
    */
  def synthWavPcm(id: Long): Array[Byte] = {
    val rate = synthRates((id % 5).toInt)
    val ch = (id % 2 + 1).toInt
    val frames = (40 + (id % 20) * 5).toInt
    val samples = new Array[Short](frames * ch)
    var i = 0
    while (i < frames) {
      var c = 0
      while (c < ch) {
        samples(i * ch + c) =
          ((i * 7 + c * 101 + id * 31) % 4001 - 2000).toShort
        c += 1
      }
      i += 1
    }
    wavPcmEncode(rate, ch, samples)
  }

  def synthWavPcmCol(c: Column): Column =
    udf { id: Long => synthWavPcm(id) }.apply(c)

  /** Per-channel decoded-sample statistics: (channel, n, sum, sum_sq,
    * peak_abs) — all exact longs (int16 samples; sums of ≤64 Mi
    * squares fit comfortably), so the query layer derives mean/RMS as
    * reproducible doubles and the integer anchors are exact.
    */
  def wavChannelStats(b: Array[Byte]): Option[Seq[(Int, Long, Long, Long, Long)]] =
    wavPcmDecode(b).map { w =>
      val frames = w.samples.length / w.channels
      (0 until w.channels).map { c =>
        var s = 0L; var ss = 0L; var peak = 0L
        var i = c
        while (i < w.samples.length) {
          val v = w.samples(i).toLong
          s += v; ss += v * v
          if (math.abs(v) > peak) peak = math.abs(v)
          i += w.channels
        }
        (c, frames.toLong, s, ss, peak)
      }
    }

  def wavChannelStatsCol(c: Column): Column =
    udf { b: Array[Byte] => wavChannelStats(b) }.apply(c)

  // ------------------------------------------------------------------ //
  // REAL GIF pixel codec — dependency-free. GIF's entropy coder is
  // LZW, which (unlike JPEG's Huffman+DCT or FLAC's Rice coding)
  // needs no external library and no floating point: a dictionary of
  // byte strings and a little-endian bit reader. This closes the
  // pixel half of the multimodal boundary for GIF alongside PNG.
  // ------------------------------------------------------------------ //

  /** Decoded paletted image: `indices` row-major, one byte per pixel;
    * `palette` packs 0xRRGGBB ints.
    */
  final case class GifImage(width: Int, height: Int, palette: Array[Int],
                            indices: Array[Byte])

  /** GIF-variant LZW encoder (LSB-first bit packing, clear/EOI codes,
    * code width grows from minCode+1 to 12, dictionary reset at 4096).
    * The width-bump point is the classic off-by-one between encoder
    * and decoder: the decoder learns each dictionary entry one code
    * LATER than the encoder creates it, so the encoder bumps at
    * nextCode == (1<<width)+1 where the decoder bumps at (1<<width) —
    * the round-trip spec pins this on images big enough to cross the
    * 2^width boundaries.
    */
  private[multimodal] def lzwEncode(indices: Array[Byte], minCode: Int): Array[Byte] = {
    val clear = 1 << minCode
    val eoi = clear + 1
    val out = new java.io.ByteArrayOutputStream()
    var bitBuf = 0L; var bitCnt = 0
    var width = minCode + 1
    def put(code: Int): Unit = {
      bitBuf |= code.toLong << bitCnt
      bitCnt += width
      while (bitCnt >= 8) {
        out.write((bitBuf & 0xff).toInt); bitBuf >>>= 8; bitCnt -= 8
      }
    }
    var nextCode = eoi + 1
    val dict = new java.util.HashMap[Integer, Integer]()
    put(clear)
    var cur = indices(0) & 0xff
    var i = 1
    while (i < indices.length) {
      val k = indices(i) & 0xff
      val key = Integer.valueOf((cur << 8) | k)
      val hit = dict.get(key)
      if (hit != null) cur = hit.intValue()
      else {
        put(cur)
        if (nextCode < 4096) {
          dict.put(key, Integer.valueOf(nextCode))
          nextCode += 1
          if (nextCode == (1 << width) + 1 && width < 12) width += 1
        } else {
          put(clear)
          dict.clear(); nextCode = eoi + 1; width = minCode + 1
        }
        cur = k
      }
      i += 1
    }
    put(cur); put(eoi)
    if (bitCnt > 0) out.write((bitBuf & 0xff).toInt)
    out.toByteArray
  }

  /** GIF-variant LZW decoder: prefix-chain dictionary in flat arrays,
    * the cScSc special case (code == nextCode references the entry
    * being defined), width bump at nextCode == 1<<width, add-freeze at
    * 4096 until a clear. Returns None (never junk) on out-of-range
    * codes, truncated bitstreams, or output exceeding `maxPixels`.
    */
  private[multimodal] def lzwDecode(data: Array[Byte], minCode: Int,
                                    maxPixels: Int): Option[Array[Byte]] = {
    if (minCode < 2 || minCode > 8) return None
    val clear = 1 << minCode
    val eoi = clear + 1
    var width = minCode + 1
    var bitPos = 0L
    val nBits = data.length.toLong * 8
    def read(): Int = {
      if (bitPos + width > nBits) return -1
      var v = 0; var i = 0
      while (i < width) {
        val bit = (data((bitPos >> 3).toInt) >> (bitPos & 7L).toInt) & 1
        v |= bit << i
        bitPos += 1; i += 1
      }
      v
    }
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    val csize = new Array[Int](4096)
    var c = 0
    while (c < clear) { prefix(c) = -1; suffix(c) = c.toByte; csize(c) = 1; c += 1 }
    var nextCode = eoi + 1
    val out = new java.io.ByteArrayOutputStream()
    def firstOf(code: Int): Byte = {
      var x = code
      while (prefix(x) >= 0) x = prefix(x)
      suffix(x)
    }
    def emit(code: Int): Unit = {
      val buf = new Array[Byte](csize(code))
      var x = code; var j = buf.length - 1
      while (j >= 0) { buf(j) = suffix(x); x = prefix(x); j -= 1 }
      out.write(buf, 0, buf.length)
    }
    var prev = -1
    var done = false
    while (!done) {
      val code = read()
      if (code < 0) return None // truncated before EOI
      if (code == clear) { nextCode = eoi + 1; width = minCode + 1; prev = -1 }
      else if (code == eoi) done = true
      else if (prev < 0) {
        if (code >= clear) return None // first code after clear must be literal
        emit(code); prev = code
      } else {
        if (code > nextCode) return None // undefined code
        val first = firstOf(if (code < nextCode) code else prev)
        if (code == nextCode && nextCode >= 4096) return None
        if (nextCode < 4096) {
          prefix(nextCode) = prev; suffix(nextCode) = first
          csize(nextCode) = csize(prev) + 1
          nextCode += 1
          if (nextCode == (1 << width) && width < 12) width += 1
        }
        emit(code)
        if (out.size > maxPixels) return None
        prev = code
      }
    }
    Some(out.toByteArray)
  }

  /** REAL GIF encoder (89a, global color table, single image, no
    * interlace): logical screen descriptor, GCT, one graphic-control
    * extension (so the decoder's extension-skip path executes on every
    * fixture), image descriptor, real LZW-compressed index stream in
    * ≤255-byte sub-blocks, trailer.
    */
  def gifEncode(width: Int, height: Int, palette: Array[Int],
                indices: Array[Byte]): Array[Byte] = {
    require(indices.length == width * height,
      s"need ${width * height} indices, got ${indices.length}")
    val gctBits = 32 - Integer.numberOfLeadingZeros(palette.length - 1)
    require(palette.length == (1 << gctBits) && gctBits >= 1 && gctBits <= 8,
      s"palette size ${palette.length} must be a power of two in [2,256]")
    val minCode = math.max(2, gctBits)
    val gct = palette.flatMap(p => be24(p.toLong))
    val lzw = lzwEncode(indices, minCode)
    val sub = new java.io.ByteArrayOutputStream()
    var off = 0
    while (off < lzw.length) {
      val len = math.min(255, lzw.length - off)
      sub.write(len)
      sub.write(lzw, off, len)
      off += len
    }
    sub.write(0) // block terminator
    "GIF89a".getBytes("US-ASCII") ++
      le16(width) ++ le16(height) ++
      Array[Byte]((0x80 | ((gctBits - 1) << 4) | (gctBits - 1)).toByte,
        0, 0) ++
      gct ++
      Array[Byte](0x21, 0xf9.toByte, 4, 0, 0, 0, 0, 0) ++ // GCE (skipped)
      Array[Byte](0x2c) ++ le16(0) ++ le16(0) ++ le16(width) ++
      le16(height) ++ Array[Byte](0) ++ // no LCT, no interlace
      Array[Byte](minCode.toByte) ++ sub.toByteArray ++
      Array[Byte](0x3b)
  }

  /** REAL GIF pixel decode, dependency-free: header + logical screen
    * descriptor, global color table, extension-block skipping, image
    * descriptor, sub-block reassembly, full LZW decode. Supports the
    * full-frame GCT profile ([[gifEncode]]'s output and the common
    * single-image case); local color tables, interlace, and offset
    * sub-frames return None rather than junk pixels.
    */
  def gifDecode(b: Array[Byte]): Option[GifImage] = ByteCursor.total {
    val c = ByteCursor(b)
    val n = b.length.toLong
    if (n < 14) return None
    if (!c.tagAt(0, "GIF87a") && !c.tagAt(0, "GIF89a")) return None
    val w = c.le16(6)
    val h = c.le16(8)
    val packed = b(10) & 0xff
    if ((packed & 0x80) == 0) return None // GCT required in this profile
    val gctSize = 2 << (packed & 7)
    var pos = 13L
    val palette = new Array[Int](gctSize)
    var j = 0
    while (j < gctSize) {
      palette(j) = c.be(pos + 3L * j, 3).toInt
      j += 1
    }
    pos += gctSize * 3L
    if (w <= 0 || h <= 0 || w.toLong * h > 64L * 1024 * 1024) return None
    while (pos < n) {
      (b(pos.toInt) & 0xff) match {
        case 0x21 => // extension: introducer + label, then sub-blocks
          pos += 2
          var bs = c.u8(pos)
          while (bs != 0) {
            pos += 1 + bs
            bs = c.u8(pos)
          }
          pos += 1
        case 0x2c => // image descriptor
          val left = c.le16(pos + 1)
          val top = c.le16(pos + 3)
          val iw = c.le16(pos + 5)
          val ih = c.le16(pos + 7)
          val ip = c.u8(pos + 9)
          if (left != 0 || top != 0 || iw != w || ih != h) return None
          if ((ip & 0x80) != 0 || (ip & 0x40) != 0) return None // LCT/interlace
          pos += 10
          val minCode = c.u8(pos)
          pos += 1
          val lzw = new java.io.ByteArrayOutputStream()
          var bs = c.u8(pos)
          while (bs != 0) {
            if (pos + 1 + bs > n) return None
            lzw.write(b, pos.toInt + 1, bs)
            pos += 1 + bs
            bs = c.u8(pos)
          }
          val idx = lzwDecode(lzw.toByteArray, minCode, w * h) match {
            case Some(x) => x
            case None => return None
          }
          if (idx.length != w * h) return None
          var i = 0
          while (i < idx.length) {
            if ((idx(i) & 0xff) >= gctSize) return None
            i += 1
          }
          return Some(GifImage(w, h, palette, idx))
        case 0x3b => return None // trailer before any image
        case _ => return None
      }
    }
    None
  }

  /** Deterministic synthetic GIF per id: dims (id%12+4) × (id%9+4),
    * 16-color palette with channel formulas
    * r=(j·17+id·7)%256, g=(j·29+id·13)%256, b=(j·23+id·3)%256,
    * pixel index (x·5 + y·11 + id) mod 16 — closed forms DuckDB
    * reproduces exactly, so decoded-pixel statistics get a full
    * VALUE-checked oracle (the whole LZW encode→decode→palette path
    * must reproduce every byte).
    */
  def synthGif(id: Long): Array[Byte] = {
    val w = (id % 12 + 4).toInt
    val h = (id % 9 + 4).toInt
    val palette = Array.tabulate(16) { j =>
      val r = ((j * 17 + id * 7) % 256).toInt
      val g = ((j * 29 + id * 13) % 256).toInt
      val bl = ((j * 23 + id * 3) % 256).toInt
      (r << 16) | (g << 8) | bl
    }
    val idx = new Array[Byte](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        idx(y * w + x) = ((x * 5 + y * 11 + id) % 16).toByte
        x += 1
      }
      y += 1
    }
    gifEncode(w, h, palette, idx)
  }

  def synthGifCol(c: Column): Column =
    udf { id: Long => synthGif(id) }.apply(c)

  /** Per-channel decoded-pixel statistics through the palette:
    * (channel, n, sum, mean, std) rows per image — same shape as
    * [[pngChannelStats]] (population std, exact integer sums).
    */
  def gifChannelStats(b: Array[Byte]): Option[Seq[(Int, Long, Long, Double, Double)]] =
    gifDecode(b).map { img =>
      val n = img.width.toLong * img.height
      (0 until 3).map { c =>
        val shift = (2 - c) * 8
        var s = 0L; var ss = 0L
        var i = 0
        while (i < img.indices.length) {
          val v = (img.palette(img.indices(i) & 0xff) >>> shift) & 0xff
          s += v; ss += v.toLong * v
          i += 1
        }
        val mean = s.toDouble / n
        val variance = ss.toDouble / n - mean * mean
        (c, n, s, mean, math.sqrt(math.max(0.0, variance)))
      }
    }

  def gifChannelStatsCol(c: Column): Column =
    udf { b: Array[Byte] => gifChannelStats(b) }.apply(c)

  // ------------------------------------------------------------------ //
  // REAL baseline JPEG entropy decoder — dependency-free. The layer
  // that "needs a codec library" in JPEG is Huffman coding + the DCT;
  // the Huffman layer needs nothing beyond bit arithmetic, and the
  // DCT is exact in integers for flat (DC-only) blocks. This decoder
  // implements the full baseline grayscale path — marker walk, DQT,
  // DHT (canonical code reconstruction per T.81 C.2), SOS, byte
  // unstuffing, DC-diff + AC run-length entropy decode, dequant,
  // IDCT — with an exact integer fast path for DC-only blocks and a
  // float IDCT for general ones. Fixtures are DC-only with q0=16 so
  // every decoded sample is integer-exact and a SQL oracle can
  // recompute the whole image; the entropy machinery exercised
  // (category coding, EXTEND, diff chain, EOB) is the real thing.
  // ------------------------------------------------------------------ //

  /** Decoded grayscale image: one luma byte per pixel, row-major. */
  final case class JpegImage(width: Int, height: Int, pixels: Array[Byte])

  private val jpegZigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  // standard luminance Huffman tables (ITU T.81 Annex K.3) — carried
  // in the DHT segment, so encoder and decoder are self-consistent by
  // construction even though only DC categories + EOB are exercised
  // by the DC-only fixtures
  private val jpegDcBits: Array[Int] =
    Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val jpegDcVals: Array[Byte] = (0 to 11).map(_.toByte).toArray
  private val jpegAcBits: Array[Int] =
    Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125)
  private val jpegAcVals: Array[Byte] = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xa1, 0x08, 0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0a, 0x16, 0x17, 0x18, 0x19, 0x1a,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4a, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5a, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8a, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5,
    0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6, 0xb7,
    0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7, 0xc8, 0xc9,
    0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1,
    0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf1, 0xf2,
    0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa).map(_.toByte)

  /** Canonical Huffman codes from BITS/HUFFVAL (T.81 C.2): returns
    * (code, length) per value index, in HUFFVAL order. */
  private def jpegHuffCodes(bits: Array[Int]): (Array[Int], Array[Int]) = {
    val total = bits.sum
    val codes = new Array[Int](total)
    val lens = new Array[Int](total)
    var code = 0; var k = 0; var l = 1
    while (l <= 16) {
      var i = 0
      while (i < bits(l - 1)) {
        codes(k) = code; lens(k) = l; code += 1; k += 1; i += 1
      }
      code <<= 1
      l += 1
    }
    (codes, lens)
  }

  /** MSB-first bit writer with 0xFF→0xFF00 byte stuffing; flush pads
    * the final partial byte with 1-bits per the standard. */
  private final class JpegBitWriter {
    val out = new java.io.ByteArrayOutputStream()
    private var acc = 0
    private var nb = 0
    def put(code: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        acc = (acc << 1) | ((code >> i) & 1)
        nb += 1
        if (nb == 8) {
          out.write(acc)
          if (acc == 0xff) out.write(0)
          acc = 0; nb = 0
        }
        i -= 1
      }
    }
    def flush(): Unit = while (nb != 0) put(1, 1)
  }

  /** MSB-first bit reader over unstuffed entropy bytes. */
  private final class JpegBitReader(data: Array[Byte]) {
    private var pos = 0
    private var acc = 0
    private var nb = 0
    def readBit(): Int = {
      if (nb == 0) {
        if (pos >= data.length) return -1
        acc = data(pos) & 0xff; pos += 1; nb = 8
      }
      nb -= 1
      (acc >> nb) & 1
    }
    def receive(s: Int): Int = {
      var v = 0; var i = 0
      while (i < s) {
        val b = readBit()
        if (b < 0) return Int.MinValue
        v = (v << 1) | b
        i += 1
      }
      v
    }
  }

  private def jpegExtend(v: Int, s: Int): Int =
    if (s == 0) 0 else if (v < (1 << (s - 1))) v - (1 << s) + 1 else v

  /** Sequential Huffman decode per T.81 F.16 (min/max-code tables). */
  private final class JpegHuffDecoder(bits: Array[Int], vals: Array[Byte]) {
    private val minCode = new Array[Int](17)
    private val maxCode = new Array[Int](17)
    private val valPtr = new Array[Int](17)
    locally {
      var code = 0; var k = 0; var l = 1
      while (l <= 16) {
        valPtr(l) = k
        minCode(l) = code
        code += bits(l - 1); k += bits(l - 1)
        maxCode(l) = code - 1
        code <<= 1
        l += 1
      }
    }
    def decode(r: JpegBitReader): Int = {
      var code = 0; var l = 0
      while (l < 16) {
        val bit = r.readBit()
        if (bit < 0) return -1
        code = (code << 1) | bit
        l += 1
        if (bits(l - 1) > 0 && code >= minCode(l) && code <= maxCode(l))
          return vals(valPtr(l) + code - minCode(l)) & 0xff
      }
      -1
    }
  }

  /** REAL baseline JPEG encoder (grayscale): JFIF APP0, DQT (flat
    * q=16), SOF0, the standard Annex-K DHT pair, SOS, and a genuine
    * entropy stream — Huffman-coded DC category + EXTEND bits on the
    * DC DIFF CHAIN (each block codes its difference from the previous
    * block's DC), AC run-length coding in zigzag order (ZRL for runs ≥
    * 16, EOB for the zero tail), 0xFF byte stuffing, 1-padded flush.
    * Dims must be multiples of 8; `blocks` are raster-ordered 64-entry
    * QUANTIZED coefficient blocks in natural (row-major) order.
    * `restartInterval` > 0 emits a DRI segment and RST0–RST7 markers
    * every that-many blocks (byte-aligned flush, DC predictor reset,
    * cycling sequence numbers) — the error-resilience machinery real
    * crawl JPEGs carry.
    */
  def jpegEncodeBlocks(width: Int, height: Int,
                       blocks: Array[Array[Int]],
                       restartInterval: Int = 0): Array[Byte] = {
    require(width % 8 == 0 && height % 8 == 0,
      s"dims must be multiples of 8, got ${width}x$height")
    val bw = width / 8; val bh = height / 8
    require(blocks.length == bw * bh,
      s"need ${bw * bh} blocks, got ${blocks.length}")
    require(blocks.forall(blk => blk.length == 64 &&
      blk.forall(c => c > -1024 && c < 1024)), "coef category must be <= 10")
    def seg(marker: Int, body: Array[Byte]): Array[Byte] =
      Array[Byte](0xff.toByte, marker.toByte) ++ be16(body.length + 2) ++ body
    val app0 = seg(0xe0, "JFIF".getBytes("US-ASCII") ++
      Array[Byte](0, 1, 1, 0, 0, 1, 0, 1, 0, 0))
    val dqt = seg(0xdb, Array[Byte](0) ++ Array.fill[Byte](64)(16))
    val sof0 = seg(0xc0, Array[Byte](8) ++ be16(height) ++ be16(width) ++
      Array[Byte](1, 1, 0x11, 0))
    val dhtDc = seg(0xc4, Array[Byte](0x00) ++
      jpegDcBits.map(_.toByte) ++ jpegDcVals)
    val dhtAc = seg(0xc4, Array[Byte](0x10) ++
      jpegAcBits.map(_.toByte) ++ jpegAcVals)
    val sos = seg(0xda, Array[Byte](1, 1, 0x00, 0, 63, 0))
    val (dcCodes, dcLens) = jpegHuffCodes(jpegDcBits)
    val (acCodes, acLens) = jpegHuffCodes(jpegAcBits)
    // AC symbol byte (run<<4 | size) → index into the Annex-K HUFFVAL
    val acIdx = new Array[Int](256)
    java.util.Arrays.fill(acIdx, -1)
    jpegAcVals.zipWithIndex.foreach { case (v, k) => acIdx(v & 0xff) = k }
    def putAc(w: JpegBitWriter, sym: Int): Unit = {
      val k = acIdx(sym)
      require(k >= 0, f"AC symbol 0x$sym%02x not in the standard table")
      w.put(acCodes(k), acLens(k))
    }
    def category(v: Int): Int = 32 - Integer.numberOfLeadingZeros(math.abs(v))
    val dri = if (restartInterval > 0)
      seg(0xdd, be16(restartInterval)) else Array.empty[Byte]
    val entropyOut = new java.io.ByteArrayOutputStream()
    var w = new JpegBitWriter
    var prev = 0
    blocks.zipWithIndex.foreach { case (blk, bi) =>
      if (restartInterval > 0 && bi > 0 && bi % restartInterval == 0) {
        w.flush(); entropyOut.write(w.out.toByteArray)
        entropyOut.write(0xff)
        entropyOut.write(0xd0 + ((bi / restartInterval - 1) % 8))
        w = new JpegBitWriter
        prev = 0
      }
      val diff = blk(0) - prev
      prev = blk(0)
      val s = category(diff)
      w.put(dcCodes(s), dcLens(s)) // DC category symbol == value index
      if (s > 0)
        w.put(if (diff < 0) diff + (1 << s) - 1 else diff, s)
      val lastNz = (63 to 1 by -1).find(k => blk(jpegZigzag(k)) != 0).getOrElse(0)
      var k = 1
      var run = 0
      while (k <= lastNz) {
        val c = blk(jpegZigzag(k))
        if (c == 0) run += 1
        else {
          while (run >= 16) { putAc(w, 0xf0); run -= 16 } // ZRL
          val sz = category(c)
          putAc(w, (run << 4) | sz)
          w.put(if (c < 0) c + (1 << sz) - 1 else c, sz)
          run = 0
        }
        k += 1
      }
      if (lastNz < 63) putAc(w, 0x00) // EOB
    }
    w.flush(); entropyOut.write(w.out.toByteArray)
    Array[Byte](0xff.toByte, 0xd8.toByte) ++ app0 ++ dqt ++ sof0 ++
      dri ++ dhtDc ++ dhtAc ++ sos ++ entropyOut.toByteArray ++
      Array[Byte](0xff.toByte, 0xd9.toByte)
  }

  /** DC-only convenience wrapper: flat blocks from raster-ordered DC
    * values (all AC zero) — the integer-exact oracle profile. */
  def jpegEncodeDc(width: Int, height: Int, dcs: Array[Int]): Array[Byte] =
    jpegEncodeBlocks(width, height, dcs.map { dc =>
      val blk = new Array[Int](64); blk(0) = dc; blk
    })

  /** REAL baseline JPEG decode (grayscale single-scan profile): marker
    * walk, DQT (8-bit tables), DHT canonical-code reconstruction, SOF0
    * (baseline only — progressive/arithmetic/multi-component return
    * None), SOS, byte unstuffing, full entropy decode (DC diff chain,
    * AC run-length with ZRL and EOB), dequantization, IDCT, and
    * RESTART intervals (DRI + RST0–RST7: byte-aligned segments with
    * cycling sequence numbers; each segment restarts the DC chain).
    * Flat (DC-only) blocks take the exact integer path; blocks with AC
    * coefficients go through a float IDCT. Returns None (never junk)
    * on truncation, undeclared or out-of-sequence restart markers,
    * segment-count mismatches, undefined codes, or coefficient
    * overruns.
    */
  def jpegDecode(b: Array[Byte]): Option[JpegImage] = ByteCursor.total {
    val cur = ByteCursor(b)
    val n = b.length
    if (n < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8) return None
    var i = 2
    var w = -1; var h = -1
    val quant = new Array[Array[Int]](4)
    val dcTabs = new Array[JpegHuffDecoder](4)
    val acTabs = new Array[JpegHuffDecoder](4)
    var qSel = -1; var dcSel = -1; var acSel = -1
    var restartInt = 0
    var segments: Array[Array[Byte]] = null
    while (segments == null) {
      if (i + 4 > n || (b(i) & 0xff) != 0xff) return None
      val m = b(i + 1) & 0xff
      if (m == 0xd9) return None // EOI before scan data
      val len = cur.be16(i + 2)
      val body = i + 4
      if (body + len - 2 > n || len < 2) return None
      m match {
        case 0xdb => // DQT: one or more tables
          val segEnd = body + len - 2
          var p = body
          while (p < segEnd) {
            val pq = (b(p) & 0xff) >> 4; val tq = b(p) & 0x0f
            if (pq != 0 || tq > 3 || p + 65 > segEnd) return None
            quant(tq) = Array.tabulate(64)(k => b(p + 1 + k) & 0xff)
            p += 65
          }
        case 0xc4 => // DHT: one or more tables
          val segEnd = body + len - 2
          var p = body
          while (p < segEnd) {
            val tc = (b(p) & 0xff) >> 4; val th = b(p) & 0x0f
            if (tc > 1 || th > 3 || p + 17 > segEnd) return None
            val bits = Array.tabulate(16)(k => b(p + 1 + k) & 0xff)
            val total = bits.sum
            if (total > 256 || p + 17 + total > segEnd) return None
            val vals = Array.tabulate(total)(k => b(p + 17 + k))
            val dec = new JpegHuffDecoder(bits, vals)
            if (tc == 0) dcTabs(th) = dec else acTabs(th) = dec
            p += 17 + total
          }
        case 0xc0 => // SOF0 baseline
          if (len < 11 || (b(body) & 0xff) != 8) return None
          h = cur.be16(body + 1)
          w = cur.be16(body + 3)
          if ((b(body + 5) & 0xff) != 1) return None // grayscale profile only
          if ((b(body + 7) & 0xff) != 0x11) return None // no subsampling
          qSel = b(body + 8) & 0xff
        case 0xc1 | 0xc2 | 0xc3 | 0xc5 | 0xc6 | 0xc7 | 0xc9 | 0xca |
             0xcb | 0xcd | 0xce | 0xcf =>
          return None // extended/progressive/arithmetic: not baseline
        case 0xdd => // DRI: restart interval in MCUs (= blocks here)
          if (len != 4) return None
          restartInt = cur.be16(body)
        case 0xda => // SOS: header then entropy data (split at RSTn) to EOI
          if (len < 8 || (b(body) & 0xff) != 1) return None
          dcSel = (b(body + 2) & 0xff) >> 4; acSel = b(body + 2) & 0x0f
          var p = body + len - 2
          val segs = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
          var raw = new java.io.ByteArrayOutputStream()
          var end = -1
          var nRst = 0
          while (end < 0) {
            if (p >= n) return None
            val c = b(p) & 0xff
            if (c != 0xff) { raw.write(c); p += 1 }
            else if (p + 1 < n && b(p + 1) == 0) { raw.write(0xff); p += 2 }
            else if (p + 1 < n && (b(p + 1) & 0xff) == 0xd9) end = p
            else if (p + 1 < n && (b(p + 1) & 0xf8) == 0xd0) {
              // RSTn: valid only under a declared interval, and the
              // 3-bit sequence number must cycle in order — an
              // out-of-sequence marker means dropped data, not junk out
              if (restartInt == 0) return None
              if ((b(p + 1) & 0x07) != (nRst % 8)) return None
              segs += raw.toByteArray
              raw = new java.io.ByteArrayOutputStream()
              nRst += 1; p += 2
            }
            else return None // truncation mid-scan
          }
          segs += raw.toByteArray
          segments = segs.toArray
        case _ => () // APPn/COM: skip
      }
      if (segments == null) i = body + len - 2
    }
    if (w <= 0 || h <= 0 || w % 8 != 0 || h % 8 != 0) return None
    if (w.toLong * h > 64L * 1024 * 1024) return None
    val q = if (qSel >= 0 && qSel < 4) quant(qSel) else null
    val dcT = if (dcSel >= 0 && dcSel < 4) dcTabs(dcSel) else null
    val acT = if (acSel >= 0 && acSel < 4) acTabs(acSel) else null
    if (q == null || dcT == null || acT == null) return None
    val bw = w / 8; val bh = h / 8
    // restart discipline: segment count must match the declared
    // interval exactly (extra/missing RSTn = dropped data)
    val expectSegs =
      if (restartInt > 0) (bw * bh + restartInt - 1) / restartInt else 1
    if (segments.length != expectSegs) return None
    val px = new Array[Byte](w * h)
    var r = new JpegBitReader(segments(0))
    var segIdx = 0
    var blockNo = 0
    val coef = new Array[Int](64)
    var prev = 0
    var by = 0
    while (by < bh) {
      var bx = 0
      while (bx < bw) {
        if (restartInt > 0 && blockNo > 0 && blockNo % restartInt == 0) {
          // restart boundary: byte-aligned new segment, DC chain resets
          segIdx += 1
          r = new JpegBitReader(segments(segIdx))
          prev = 0
        }
        blockNo += 1
        java.util.Arrays.fill(coef, 0)
        val s = dcT.decode(r)
        if (s < 0 || s > 11) return None
        val dv = r.receive(s)
        if (dv == Int.MinValue) return None
        prev += jpegExtend(dv, s)
        coef(0) = prev * q(0)
        var k = 1
        var eob = false
        var hasAc = false
        while (!eob && k < 64) {
          val sym = acT.decode(r)
          if (sym < 0) return None
          if (sym == 0x00) eob = true
          else if (sym == 0xf0) k += 16 // ZRL: sixteen zeros
          else {
            val run = sym >> 4; val size = sym & 0x0f
            if (size == 0) return None
            k += run
            if (k > 63) return None
            val av = r.receive(size)
            if (av == Int.MinValue) return None
            coef(jpegZigzag(k)) = jpegExtend(av, size) * q(k)
            hasAc = true
            k += 1
          }
        }
        if (!hasAc) {
          // exact integer path: flat block = round(DC/8) + 128
          val dcq = coef(0)
          val v = math.max(0, math.min(255,
            Math.floorDiv(2 * dcq + 8, 16) + 128)) // round-half-up of dcq/8
          var yy = 0
          while (yy < 8) {
            java.util.Arrays.fill(px, (by * 8 + yy) * w + bx * 8,
              (by * 8 + yy) * w + bx * 8 + 8, v.toByte)
            yy += 1
          }
        } else {
          // general float IDCT (T.81 A.3.3), clamped
          var yy = 0
          while (yy < 8) {
            var xx = 0
            while (xx < 8) {
              var acc = 0.0
              var v = 0
              while (v < 8) {
                var u = 0
                while (u < 8) {
                  val cu = if (u == 0) 0.7071067811865476 else 1.0
                  val cv = if (v == 0) 0.7071067811865476 else 1.0
                  acc += cu * cv * coef(v * 8 + u) *
                    math.cos((2 * xx + 1) * u * math.Pi / 16) *
                    math.cos((2 * yy + 1) * v * math.Pi / 16)
                  u += 1
                }
                v += 1
              }
              val sv = math.max(0, math.min(255, math.round(acc / 4 + 128).toInt))
              px((by * 8 + yy) * w + bx * 8 + xx) = sv.toByte
              xx += 1
            }
            yy += 1
          }
        }
        bx += 1
      }
      by += 1
    }
    Some(JpegImage(w, h, px))
  }

  /** Deterministic synthetic DC-only JPEG per id: dims 8·(id%3+1) ×
    * 8·(id%2+1), per-block DC value (bx·5 + by·9 + id·13) mod 200 −
    * 100, flat quant 16 — so every decoded sample is exactly
    * clamp(dc·2 + 128) and DuckDB recomputes the whole image in
    * integer arithmetic (the clamp range [−72, 326] exercises both
    * saturation ends). The DIFF chain across blocks means one wrong
    * Huffman bit corrupts every subsequent block — sum_px is a
    * whole-stream integrity check.
    */
  def synthJpeg(id: Long): Array[Byte] = {
    val bw = (id % 3 + 1).toInt
    val bh = (id % 2 + 1).toInt
    val dcs = Array.tabulate(bw * bh) { k =>
      val bx = k % bw; val by = k / bw
      ((bx * 5 + by * 9 + id * 13) % 200 - 100).toInt
    }
    jpegEncodeDc(bw * 8, bh * 8, dcs)
  }

  def synthJpegCol(c: Column): Column =
    udf { id: Long => synthJpeg(id) }.apply(c)

  /** Deterministic synthetic DC-only JPEG WITH RESTART MARKERS per id:
    * the [[synthJpeg]] layout (same clamp(dc·2+128) closed form) coded
    * with DRI = id%3+1 blocks, so RST0.. markers cycle through the
    * scan and every segment restarts the DC diff chain from zero — a
    * missed predictor reset, a swallowed marker, or a mis-aligned
    * segment boundary shifts every block of a whole segment.
    */
  def synthJpegRst(id: Long): Array[Byte] = {
    val bw = (id % 3 + 1).toInt
    val bh = (id % 2 + 1).toInt
    val blocks = Array.tabulate(bw * bh) { k =>
      val bx = k % bw; val by = k / bw
      val blk = new Array[Int](64)
      blk(0) = ((bx * 5 + by * 9 + id * 13) % 200 - 100).toInt
      blk
    }
    jpegEncodeBlocks(bw * 8, bh * 8, blocks,
      restartInterval = (id % 3 + 1).toInt)
  }

  def synthJpegRstCol(c: Column): Column =
    udf { id: Long => synthJpegRst(id) }.apply(c)

  /** Decoded-luma statistics: (n, sum, mean, std) per image (exact
    * integer sums; population std, same conventions as
    * [[pngChannelStats]]). */
  def jpegLumaStats(b: Array[Byte]): Option[(Long, Long, Double, Double)] =
    jpegDecode(b).map { img =>
      val n = img.width.toLong * img.height
      var s = 0L; var ss = 0L
      var i = 0
      while (i < img.pixels.length) {
        val v = img.pixels(i) & 0xff
        s += v; ss += v.toLong * v
        i += 1
      }
      val mean = s.toDouble / n
      val variance = ss.toDouble / n - mean * mean
      (n, s, mean, math.sqrt(math.max(0.0, variance)))
    }

  def jpegLumaStatsCol(c: Column): Column =
    udf { b: Array[Byte] => jpegLumaStats(b) }.apply(c)

  // ---- baseline COLOR JPEG (3-component YCbCr, 4:2:0) --------------- //

  /** Decoded color image: full-resolution luma plane + quarter-size
    * (w/2 × h/2) chroma planes, exactly as they sit in the codestream —
    * no upsampling, so every sample is decoder output, not interpolator
    * output, and per-plane statistics are integer-exact.
    */
  final case class JpegYCbCr(width: Int, height: Int, y: Array[Byte],
                             cb: Array[Byte], cr: Array[Byte])

  /** REAL baseline color JPEG encoder — 3-component YCbCr with 4:2:0
    * subsampling (the overwhelmingly dominant profile in the wild):
    * two DQT tables (flat q=16 luma + chroma), TWO DHT pairs (the
    * Annex-K code lengths registered at table ids 0 and 1, so the
    * decoder's table SELECTION logic is exercised, not just one shared
    * table), SOF0 with sampling factors Y=2x2 / Cb=Cr=1x1, and an MCU-
    * interleaved entropy stream: per 16x16 MCU four Y blocks (left-
    * right, top-bottom) then Cb then Cr, each component carrying its
    * OWN DC difference chain (T.81 E.2.4). Dims must be multiples of
    * 16. `yBlocks` are raster-ordered (w/8 x h/8) quantized blocks;
    * `cbBlocks`/`crBlocks` raster-ordered (w/16 x h/16).
    */
  def jpegEncodeColor420(width: Int, height: Int,
                         yBlocks: Array[Array[Int]],
                         cbBlocks: Array[Array[Int]],
                         crBlocks: Array[Array[Int]]): Array[Byte] = {
    require(width % 16 == 0 && height % 16 == 0,
      s"dims must be multiples of 16, got ${width}x$height")
    val bw = width / 8; val bh = height / 8
    val cw = width / 16; val ch = height / 16
    require(yBlocks.length == bw * bh && cbBlocks.length == cw * ch &&
      crBlocks.length == cw * ch, "block counts must match dims")
    require((yBlocks ++ cbBlocks ++ crBlocks).forall(blk =>
      blk.length == 64 && blk.forall(c => c > -1024 && c < 1024)),
      "coef category must be <= 10")
    def seg(marker: Int, body: Array[Byte]): Array[Byte] =
      Array[Byte](0xff.toByte, marker.toByte) ++ be16(body.length + 2) ++ body
    val app0 = seg(0xe0, "JFIF".getBytes("US-ASCII") ++
      Array[Byte](0, 1, 1, 0, 0, 1, 0, 1, 0, 0))
    val dqt = seg(0xdb, Array[Byte](0x00) ++ Array.fill[Byte](64)(16) ++
      Array[Byte](0x01) ++ Array.fill[Byte](64)(16))
    val sof0 = seg(0xc0, Array[Byte](8) ++ be16(height) ++ be16(width) ++
      Array[Byte](3, 1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1))
    val dht = seg(0xc4,
      Array[Byte](0x00) ++ jpegDcBits.map(_.toByte) ++ jpegDcVals ++
      Array[Byte](0x10) ++ jpegAcBits.map(_.toByte) ++ jpegAcVals ++
      Array[Byte](0x01) ++ jpegDcBits.map(_.toByte) ++ jpegDcVals ++
      Array[Byte](0x11) ++ jpegAcBits.map(_.toByte) ++ jpegAcVals)
    val sos = seg(0xda,
      Array[Byte](3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0))
    val (dcCodes, dcLens) = jpegHuffCodes(jpegDcBits)
    val (acCodes, acLens) = jpegHuffCodes(jpegAcBits)
    val acIdx = new Array[Int](256)
    java.util.Arrays.fill(acIdx, -1)
    jpegAcVals.zipWithIndex.foreach { case (v, k) => acIdx(v & 0xff) = k }
    def category(v: Int): Int = 32 - Integer.numberOfLeadingZeros(math.abs(v))
    val w = new JpegBitWriter
    val prev = new Array[Int](3) // per-component DC predictor
    def putBlock(blk: Array[Int], comp: Int): Unit = {
      val diff = blk(0) - prev(comp)
      prev(comp) = blk(0)
      val s = category(diff)
      w.put(dcCodes(s), dcLens(s))
      if (s > 0)
        w.put(if (diff < 0) diff + (1 << s) - 1 else diff, s)
      val lastNz = (63 to 1 by -1).find(k => blk(jpegZigzag(k)) != 0).getOrElse(0)
      var k = 1
      var run = 0
      while (k <= lastNz) {
        val c = blk(jpegZigzag(k))
        if (c == 0) run += 1
        else {
          while (run >= 16) {
            w.put(acCodes(acIdx(0xf0)), acLens(acIdx(0xf0))); run -= 16
          }
          val sz = category(c)
          w.put(acCodes(acIdx((run << 4) | sz)), acLens(acIdx((run << 4) | sz)))
          w.put(if (c < 0) c + (1 << sz) - 1 else c, sz)
          run = 0
        }
        k += 1
      }
      if (lastNz < 63) w.put(acCodes(acIdx(0x00)), acLens(acIdx(0x00))) // EOB
    }
    var my = 0
    while (my < ch) {
      var mx = 0
      while (mx < cw) {
        putBlock(yBlocks((my * 2) * bw + mx * 2), 0)
        putBlock(yBlocks((my * 2) * bw + mx * 2 + 1), 0)
        putBlock(yBlocks((my * 2 + 1) * bw + mx * 2), 0)
        putBlock(yBlocks((my * 2 + 1) * bw + mx * 2 + 1), 0)
        putBlock(cbBlocks(my * cw + mx), 1)
        putBlock(crBlocks(my * cw + mx), 2)
        mx += 1
      }
      my += 1
    }
    w.flush()
    Array[Byte](0xff.toByte, 0xd8.toByte) ++ app0 ++ dqt ++ sof0 ++
      dht ++ sos ++ w.out.toByteArray ++
      Array[Byte](0xff.toByte, 0xd9.toByte)
  }

  /** REAL baseline color JPEG decode (3-component YCbCr 4:2:0 single
    * interleaved scan — the profile [[jpegEncodeColor420]] emits and
    * the one phone cameras and web encoders emit): marker walk, up to
    * four DQT/DHT tables, SOF0 with sampling validation (Y 2x2, chroma
    * 1x1; anything else → None), SOS component→table binding, MCU-
    * interleaved entropy decode with per-component DC chains, dequant,
    * exact integer path for flat blocks / float IDCT otherwise —
    * sharing the grayscale decoder's primitives ([[JpegBitReader]],
    * [[JpegHuffDecoder]], EXTEND). Progressive/arithmetic/restart
    * markers return None, never junk. The grayscale entry point
    * [[jpegDecode]] is untouched: separate profiles, separately pinned
    * oracles.
    */
  def jpegDecodeColor420(b: Array[Byte]): Option[JpegYCbCr] = ByteCursor.total {
    val cur = ByteCursor(b)
    val n = b.length
    if (n < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8) return None
    var i = 2
    var w = -1; var h = -1
    val quant = new Array[Array[Int]](4)
    val dcTabs = new Array[JpegHuffDecoder](4)
    val acTabs = new Array[JpegHuffDecoder](4)
    val qSel = new Array[Int](3)   // per-component quant table id
    val dcSel = new Array[Int](3)  // per-component DC table id (from SOS)
    val acSel = new Array[Int](3)
    var entropy: Array[Byte] = null
    while (entropy == null) {
      if (i + 4 > n || (b(i) & 0xff) != 0xff) return None
      val m = b(i + 1) & 0xff
      if (m == 0xd9) return None
      val len = cur.be16(i + 2)
      val body = i + 4
      if (body + len - 2 > n || len < 2) return None
      m match {
        case 0xdb =>
          val segEnd = body + len - 2
          var p = body
          while (p < segEnd) {
            val pq = (b(p) & 0xff) >> 4; val tq = b(p) & 0x0f
            if (pq != 0 || tq > 3 || p + 65 > segEnd) return None
            quant(tq) = Array.tabulate(64)(k => b(p + 1 + k) & 0xff)
            p += 65
          }
        case 0xc4 =>
          val segEnd = body + len - 2
          var p = body
          while (p < segEnd) {
            val tc = (b(p) & 0xff) >> 4; val th = b(p) & 0x0f
            if (tc > 1 || th > 3 || p + 17 > segEnd) return None
            val bits = Array.tabulate(16)(k => b(p + 1 + k) & 0xff)
            val total = bits.sum
            if (total > 256 || p + 17 + total > segEnd) return None
            val vals = Array.tabulate(total)(k => b(p + 17 + k))
            val dec = new JpegHuffDecoder(bits, vals)
            if (tc == 0) dcTabs(th) = dec else acTabs(th) = dec
            p += 17 + total
          }
        case 0xc0 =>
          if (len < 17 || (b(body) & 0xff) != 8) return None
          h = cur.be16(body + 1)
          w = cur.be16(body + 3)
          if ((b(body + 5) & 0xff) != 3) return None // color profile only here
          var c = 0
          while (c < 3) {
            val cid = b(body + 6 + 3 * c) & 0xff
            val samp = b(body + 7 + 3 * c) & 0xff
            if (cid != c + 1) return None
            if (c == 0 && samp != 0x22) return None
            if (c > 0 && samp != 0x11) return None
            qSel(c) = b(body + 8 + 3 * c) & 0xff
            c += 1
          }
        case 0xc1 | 0xc2 | 0xc3 | 0xc5 | 0xc6 | 0xc7 | 0xc9 | 0xca |
             0xcb | 0xcd | 0xce | 0xcf =>
          return None
        case 0xdd => return None
        case 0xda =>
          if (len < 12 || (b(body) & 0xff) != 3) return None
          var c = 0
          while (c < 3) {
            if ((b(body + 1 + 2 * c) & 0xff) != c + 1) return None
            dcSel(c) = (b(body + 2 + 2 * c) & 0xff) >> 4
            acSel(c) = b(body + 2 + 2 * c) & 0x0f
            c += 1
          }
          var p = body + len - 2
          val raw = new java.io.ByteArrayOutputStream()
          var end = -1
          while (end < 0) {
            if (p >= n) return None
            val cc = b(p) & 0xff
            if (cc != 0xff) { raw.write(cc); p += 1 }
            else if (p + 1 < n && b(p + 1) == 0) { raw.write(0xff); p += 2 }
            else if (p + 1 < n && (b(p + 1) & 0xff) == 0xd9) end = p
            else return None
          }
          entropy = raw.toByteArray
        case _ => ()
      }
      if (entropy == null) i = body + len - 2
    }
    if (w <= 0 || h <= 0 || w % 16 != 0 || h % 16 != 0) return None
    if (w.toLong * h > 64L * 1024 * 1024) return None
    val qs = Array.tabulate(3) { c =>
      if (qSel(c) < 0 || qSel(c) > 3) return None
      quant(qSel(c))
    }
    val dcs = Array.tabulate(3) { c =>
      if (dcSel(c) < 0 || dcSel(c) > 3) return None
      dcTabs(dcSel(c))
    }
    val acs = Array.tabulate(3) { c =>
      if (acSel(c) < 0 || acSel(c) > 3) return None
      acTabs(acSel(c))
    }
    if (qs.exists(_ == null) || dcs.exists(_ == null) || acs.exists(_ == null))
      return None
    val cw = w / 16; val chh = h / 16
    val py = new Array[Byte](w * h)
    val pcb = new Array[Byte]((w / 2) * (h / 2))
    val pcr = new Array[Byte]((w / 2) * (h / 2))
    val r = new JpegBitReader(entropy)
    val coef = new Array[Int](64)
    val prev = new Array[Int](3)
    // decode one block of component `comp` into plane at block (bx, by)
    def block(comp: Int, plane: Array[Byte], planeW: Int,
              bx: Int, by: Int): Boolean = {
      java.util.Arrays.fill(coef, 0)
      val s = dcs(comp).decode(r)
      if (s < 0 || s > 11) return false
      val dv = r.receive(s)
      if (dv == Int.MinValue) return false
      prev(comp) += jpegExtend(dv, s)
      coef(0) = prev(comp) * qs(comp)(0)
      var k = 1
      var eob = false
      var hasAc = false
      while (!eob && k < 64) {
        val sym = acs(comp).decode(r)
        if (sym < 0) return false
        if (sym == 0x00) eob = true
        else if (sym == 0xf0) k += 16
        else {
          val run = sym >> 4; val size = sym & 0x0f
          if (size == 0) return false
          k += run
          if (k > 63) return false
          val av = r.receive(size)
          if (av == Int.MinValue) return false
          coef(jpegZigzag(k)) = jpegExtend(av, size) * qs(comp)(k)
          hasAc = true
          k += 1
        }
      }
      if (!hasAc) {
        val v = math.max(0, math.min(255,
          Math.floorDiv(2 * coef(0) + 8, 16) + 128))
        var yy = 0
        while (yy < 8) {
          java.util.Arrays.fill(plane, (by * 8 + yy) * planeW + bx * 8,
            (by * 8 + yy) * planeW + bx * 8 + 8, v.toByte)
          yy += 1
        }
      } else {
        var yy = 0
        while (yy < 8) {
          var xx = 0
          while (xx < 8) {
            var acc = 0.0
            var v = 0
            while (v < 8) {
              var u = 0
              while (u < 8) {
                val cu = if (u == 0) 0.7071067811865476 else 1.0
                val cv = if (v == 0) 0.7071067811865476 else 1.0
                acc += cu * cv * coef(v * 8 + u) *
                  math.cos((2 * xx + 1) * u * math.Pi / 16) *
                  math.cos((2 * yy + 1) * v * math.Pi / 16)
                u += 1
              }
              v += 1
            }
            val sv = math.max(0, math.min(255, math.round(acc / 4 + 128).toInt))
            plane((by * 8 + yy) * planeW + bx * 8 + xx) = sv.toByte
            xx += 1
          }
          yy += 1
        }
      }
      true
    }
    var my = 0
    while (my < chh) {
      var mx = 0
      while (mx < cw) {
        if (!block(0, py, w, mx * 2, my * 2)) return None
        if (!block(0, py, w, mx * 2 + 1, my * 2)) return None
        if (!block(0, py, w, mx * 2, my * 2 + 1)) return None
        if (!block(0, py, w, mx * 2 + 1, my * 2 + 1)) return None
        if (!block(1, pcb, w / 2, mx, my)) return None
        if (!block(2, pcr, w / 2, mx, my)) return None
        mx += 1
      }
      my += 1
    }
    Some(JpegYCbCr(w, h, py, pcb, pcr))
  }

  /** Deterministic synthetic DC-only COLOR JPEG per id: (id%2+1) MCUs
    * wide x 1 MCU tall (16 or 32 x 16 px). Per-block DC values by
    * closed integer formulas (below), flat quant 16 everywhere — every
    * decoded sample is exactly clamp(dc·2 + 128) on its own plane, so
    * DuckDB recomputes all three planes in integer arithmetic. Three
    * interleaved DC chains cross 4 or 10 blocks per image — one wrong
    * bit in any chain corrupts every later block of that component and
    * flips that plane's sum.
    */
  def synthColorJpeg(id: Long): Array[Byte] = {
    val mcus = (id % 2 + 1).toInt
    val bw = mcus * 2
    val yB = Array.tabulate(bw * 2) { k =>
      val bx = k % bw; val by = k / bw
      val blk = new Array[Int](64)
      blk(0) = ((bx * 7 + by * 11 + id * 13) % 200 - 100).toInt
      blk
    }
    val cbB = Array.tabulate(mcus) { bx =>
      val blk = new Array[Int](64)
      blk(0) = ((bx * 5 + id * 17) % 160 - 80).toInt
      blk
    }
    val crB = Array.tabulate(mcus) { bx =>
      val blk = new Array[Int](64)
      blk(0) = ((bx * 3 + id * 19) % 160 - 80).toInt
      blk
    }
    jpegEncodeColor420(mcus * 16, 16, yB, cbB, crB)
  }

  def synthColorJpegCol(c: Column): Column =
    udf { id: Long => synthColorJpeg(id) }.apply(c)

  /** Per-plane statistics of a decoded color JPEG: (width, height,
    * sum_y, sum_cb, sum_cr) with exact integer sums — the whole-stream
    * integrity profile (three DC chains must all decode exactly).
    */
  def jpegColorStats(b: Array[Byte]): Option[(Int, Int, Long, Long, Long)] =
    jpegDecodeColor420(b).map { img =>
      def psum(p: Array[Byte]): Long = {
        var s = 0L; var i = 0
        while (i < p.length) { s += p(i) & 0xff; i += 1 }
        s
      }
      (img.width, img.height, psum(img.y), psum(img.cb), psum(img.cr))
    }

  def jpegColorStatsCol(c: Column): Column =
    udf { b: Array[Byte] => jpegColorStats(b) }.apply(c)

  // ------------------------------------------------------------------ //
  // REAL PROGRESSIVE JPEG codec (grayscale SOF2) — the last media
  // profile a crawl-scale pipeline hits at frequency (r11 brief item
  // 8). Spectral selection + successive approximation per ITU T.81
  // G.1/G.2: DC first/refine scans (point transform = arithmetic
  // shift), AC first scans per spectral band with EOBn run coding, and
  // AC refinement scans with correction bits (the G.1.2.3 algorithm).
  // The encoder emits the libjpeg-style six-scan script, so the
  // decoder's every path — band placement, EOBRUN absorption, ZRL in
  // refinement, correction-bit ordering — is exercised by the
  // round-trip spec against the BASELINE decoder's pixels (same
  // coefficients, two codings, one rendering). The reference keeps all
  // media handling out of engine scope (no codec anywhere in
  // francesco-camaione/dataquality_ML); this closes the progressive
  // half of the boundary the way q234/q321 closed baseline/color.
  // After this, [[stubDecode]] stands in only for FLAC subframe
  // samples and MP4 video frames.
  // ------------------------------------------------------------------ //

  /** Custom AC Huffman table covering ALL 256 symbols (255 at 9 bits,
    * one at 10): progressive AC scans emit EOBn symbols (r<<4, r ≥ 1)
    * that the Annex-K baseline table does not contain. Compression is
    * irrelevant here; exercising the decoder's full symbol space is
    * the point.
    */
  private val jpegProgAcBits: Array[Int] =
    Array(0, 0, 0, 0, 0, 0, 0, 0, 255, 1, 0, 0, 0, 0, 0, 0)
  private val jpegProgAcVals: Array[Byte] = (0 to 255).map(_.toByte).toArray

  /** The fixed scan script (Ss, Se, Ah, Al) — libjpeg's default
    * grayscale progression: DC approximation, two AC bands at Al=2,
    * one AC refinement step to Al=1, the DC bit, the final AC
    * refinement to Al=0. Completing all scans reconstructs every
    * coefficient EXACTLY (each refinement step restores one bit).
    */
  private val jpegProgScript: Seq[(Int, Int, Int, Int)] = Seq(
    (0, 0, 0, 1), (1, 5, 0, 2), (6, 63, 0, 2),
    (1, 63, 2, 1), (0, 0, 1, 0), (1, 63, 1, 0))

  /** REAL progressive JPEG encoder (grayscale): SOI, APP0, DQT (flat
    * q=16), SOF2, DHT (standard DC + full-symbol AC), then one
    * SOS + entropy segment per script scan. `blocks` are raster-order
    * 64-entry QUANTIZED coefficient blocks in natural order, as in
    * [[jpegEncodeBlocks]].
    */
  def jpegEncodeProgressive(width: Int, height: Int,
                            blocks: Array[Array[Int]]): Array[Byte] = {
    require(width % 8 == 0 && height % 8 == 0,
      s"dims must be multiples of 8, got ${width}x$height")
    val bw = width / 8; val bh = height / 8
    require(blocks.length == bw * bh,
      s"need ${bw * bh} blocks, got ${blocks.length}")
    require(blocks.forall(blk => blk.length == 64 &&
      blk.forall(c => c > -1024 && c < 1024)), "coef category must be <= 10")
    def seg(marker: Int, body: Array[Byte]): Array[Byte] =
      Array[Byte](0xff.toByte, marker.toByte) ++ be16(body.length + 2) ++ body
    val app0 = seg(0xe0, "JFIF".getBytes("US-ASCII") ++
      Array[Byte](0, 1, 1, 0, 0, 1, 0, 1, 0, 0))
    val dqt = seg(0xdb, Array[Byte](0) ++ Array.fill[Byte](64)(16))
    val sof2 = seg(0xc2, Array[Byte](8) ++ be16(height) ++ be16(width) ++
      Array[Byte](1, 1, 0x11, 0))
    val dhtDc = seg(0xc4, Array[Byte](0x00) ++
      jpegDcBits.map(_.toByte) ++ jpegDcVals)
    val dhtAc = seg(0xc4, Array[Byte](0x10) ++
      jpegProgAcBits.map(_.toByte) ++ jpegProgAcVals)
    val (dcCodes, dcLens) = jpegHuffCodes(jpegDcBits)
    val (acCodes, acLens) = jpegHuffCodes(jpegProgAcBits) // HUFFVAL = 0..255
    def category(v: Int): Int = 32 - Integer.numberOfLeadingZeros(math.abs(v))
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array[Byte](0xff.toByte, 0xd8.toByte)); out.write(app0)
    out.write(dqt); out.write(sof2); out.write(dhtDc); out.write(dhtAc)
    jpegProgScript.foreach { case (ss, se, ah, al) =>
      out.write(seg(0xda,
        Array[Byte](1, 1, 0x00, ss.toByte, se.toByte, ((ah << 4) | al).toByte)))
      val w = new JpegBitWriter
      if (ss == 0 && ah == 0) {
        // DC first: diff chain on the point-transformed values
        var prev = 0
        blocks.foreach { blk =>
          val t = blk(0) >> al // arithmetic shift = T.81 DC point transform
          val diff = t - prev; prev = t
          val s = category(diff)
          w.put(dcCodes(s), dcLens(s))
          if (s > 0)
            w.put(if (diff < 0) diff + (1 << s) - 1 else diff, s)
        }
      } else if (ss == 0) {
        // DC refinement: one raw bit per block
        blocks.foreach(blk => w.put((blk(0) >> al) & 1, 1))
      } else if (ah == 0) {
        // AC first scan of band [ss, se] at Al=al, EOBn run coding
        var eobrun = 0
        def flushEob(): Unit = if (eobrun > 0) {
          val rb = 31 - Integer.numberOfLeadingZeros(eobrun)
          w.put(acCodes(rb << 4), acLens(rb << 4))
          if (rb > 0) w.put(eobrun - (1 << rb), rb)
          eobrun = 0
        }
        def pt(v: Int): Int = if (v >= 0) v >> al else -((-v) >> al)
        blocks.foreach { blk =>
          val t = Array.tabulate(se - ss + 1)(j => pt(blk(jpegZigzag(ss + j))))
          val lastNz = t.lastIndexWhere(_ != 0)
          if (lastNz < 0) {
            eobrun += 1; if (eobrun == 0x7fff) flushEob()
          } else {
            flushEob()
            var r = 0
            var j = 0
            while (j <= lastNz) {
              val v = t(j)
              if (v == 0) r += 1
              else {
                while (r >= 16) { w.put(acCodes(0xf0), acLens(0xf0)); r -= 16 }
                val sz = category(v)
                val sym = (r << 4) | sz
                w.put(acCodes(sym), acLens(sym))
                w.put(if (v < 0) v + (1 << sz) - 1 else v, sz)
                r = 0
              }
              j += 1
            }
            if (lastNz < se - ss) { eobrun += 1; if (eobrun == 0x7fff) flushEob() }
          }
        }
        flushEob()
      } else {
        // AC refinement scan (T.81 G.1.2.3, mirroring libjpeg's
        // encode_mcu_AC_refine control flow exactly): newly-significant
        // coefficients code as (run-of-zero-history<<4)|1 + sign bit;
        // already-significant ones contribute one correction bit each.
        // TWO bit buffers, like libjpeg's BE/BR split: `eobBits` ride
        // with the deferred EOBn (bits of blocks absorbed into the EOB
        // run, in block order), `runBits` belong to the current
        // intra-block run and are emitted after the ZRL or significance
        // symbol whose advance crosses their positions. The ZRL check
        // runs at EVERY nonzero position (not only newly-significant
        // ones) — that placement is what keeps the decoder's
        // advance-and-correct loop bit-synchronized.
        var eobrun = 0
        val eobBits = scala.collection.mutable.ArrayBuffer.empty[Int]
        val runBits = scala.collection.mutable.ArrayBuffer.empty[Int]
        def emitRunBits(): Unit = { runBits.foreach(w.put(_, 1)); runBits.clear() }
        def flushEob(): Unit = if (eobrun > 0) {
          val rb = 31 - Integer.numberOfLeadingZeros(eobrun)
          w.put(acCodes(rb << 4), acLens(rb << 4))
          if (rb > 0) w.put(eobrun - (1 << rb), rb)
          eobrun = 0
          eobBits.foreach(w.put(_, 1)); eobBits.clear()
        }
        blocks.foreach { blk =>
          val band = Array.tabulate(se - ss + 1)(j => blk(jpegZigzag(ss + j)))
          val temp = band.map(v => math.abs(v) >> al)
          val eobIdx = temp.lastIndexWhere(_ == 1)
          var r = 0
          var j = 0
          while (j < temp.length) {
            if (temp(j) == 0) r += 1
            else {
              while (r > 15 && j <= eobIdx) {
                flushEob()
                w.put(acCodes(0xf0), acLens(0xf0)); r -= 16
                emitRunBits()
              }
              if (temp(j) > 1) runBits += (temp(j) & 1)
              else { // newly significant
                flushEob()
                w.put(acCodes((r << 4) | 1), acLens((r << 4) | 1))
                w.put(if (band(j) > 0) 1 else 0, 1)
                emitRunBits()
                r = 0
              }
            }
            j += 1
          }
          if (r > 0 || runBits.nonEmpty) {
            eobrun += 1
            eobBits ++= runBits; runBits.clear()
            if (eobrun == 0x7fff) flushEob()
          }
        }
        flushEob()
      }
      w.flush()
      out.write(w.out.toByteArray)
    }
    out.write(Array[Byte](0xff.toByte, 0xd9.toByte))
    out.toByteArray
  }

  /** REAL progressive JPEG decode (grayscale SOF2 single-component
    * profile): multi-scan marker walk (tables may be redefined between
    * scans), per-scan dispatch on (Ss, Se, Ah, Al) — DC first/refine,
    * AC first with EOBn runs and ZRL, AC refinement with correction
    * bits — then dequantization and the same rendering as the baseline
    * path (exact integer flat blocks, float IDCT otherwise). Returns
    * None (never junk) on restart markers, truncation, undefined
    * codes, band violations, or coefficient overruns.
    */
  def jpegDecodeProgressive(b: Array[Byte]): Option[JpegImage] = ByteCursor.total {
    val cur = ByteCursor(b)
    val n = b.length
    if (n < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8) return None
    var i = 2
    var w = -1; var h = -1
    val quant = new Array[Array[Int]](4)
    val dcTabs = new Array[JpegHuffDecoder](4)
    val acTabs = new Array[JpegHuffDecoder](4)
    var qSel = -1
    var coefs: Array[Int] = null // bw*bh*64, QUANTIZED, natural order
    var nBlocks = 0
    var sawScan = false
    var done = false
    while (!done) {
      if (i + 2 > n || (b(i) & 0xff) != 0xff) return None
      val m = b(i + 1) & 0xff
      if (m == 0xd9) { done = true } // EOI
      else {
        if (i + 4 > n) return None
        val len = cur.be16(i + 2)
        val body = i + 4
        if (body + len - 2 > n || len < 2) return None
        m match {
          case 0xdb =>
            val segEnd = body + len - 2
            var p = body
            while (p < segEnd) {
              val pq = (b(p) & 0xff) >> 4; val tq = b(p) & 0x0f
              if (pq != 0 || tq > 3 || p + 65 > segEnd) return None
              quant(tq) = Array.tabulate(64)(k => b(p + 1 + k) & 0xff)
              p += 65
            }
            i = body + len - 2
          case 0xc4 =>
            val segEnd = body + len - 2
            var p = body
            while (p < segEnd) {
              val tc = (b(p) & 0xff) >> 4; val th = b(p) & 0x0f
              if (tc > 1 || th > 3 || p + 17 > segEnd) return None
              val bits = Array.tabulate(16)(k => b(p + 1 + k) & 0xff)
              val total = bits.sum
              if (total > 256 || p + 17 + total > segEnd) return None
              val vals = Array.tabulate(total)(k => b(p + 17 + k))
              val dec = new JpegHuffDecoder(bits, vals)
              if (tc == 0) dcTabs(th) = dec else acTabs(th) = dec
              p += 17 + total
            }
            i = body + len - 2
          case 0xc2 => // SOF2 progressive
            if (coefs != null) return None // one frame header only
            if (len < 11 || (b(body) & 0xff) != 8) return None
            h = cur.be16(body + 1)
            w = cur.be16(body + 3)
            if ((b(body + 5) & 0xff) != 1) return None // grayscale profile only
            if ((b(body + 7) & 0xff) != 0x11) return None
            qSel = b(body + 8) & 0xff
            if (qSel > 3) return None
            if (w <= 0 || h <= 0 || w % 8 != 0 || h % 8 != 0) return None
            if (w.toLong * h > 64L * 1024 * 1024) return None
            nBlocks = (w / 8) * (h / 8)
            coefs = new Array[Int](nBlocks * 64)
            i = body + len - 2
          case 0xc0 | 0xc1 | 0xc3 | 0xc5 | 0xc6 | 0xc7 | 0xc9 | 0xca |
               0xcb | 0xcd | 0xce | 0xcf =>
            return None // any other SOF: not this profile
          case 0xdd => return None // DRI unsupported
          case 0xda =>
            if (coefs == null) return None // SOS before SOF2
            if (len < 8 || (b(body) & 0xff) != 1) return None
            val dcSel = (b(body + 2) & 0xff) >> 4; val acSel = b(body + 2) & 0x0f
            val ss = (b(body + 3) & 0xff); val se = b(body + 4) & 0xff
            val ah = (b(body + 5) & 0xff) >> 4; val al = b(body + 5) & 0x0f
            if (dcSel > 3 || acSel > 3) return None
            // entropy data: unstuff to the next marker
            var p = body + len - 2
            val raw = new java.io.ByteArrayOutputStream()
            var endMark = -1
            while (endMark < 0) {
              if (p + 1 >= n) return None
              val c = b(p) & 0xff
              if (c != 0xff) { raw.write(c); p += 1 }
              else if (b(p + 1) == 0) { raw.write(0xff); p += 2 }
              else endMark = p
            }
            if (!decodeProgScan(raw.toByteArray, coefs, nBlocks, ss, se,
                ah, al, dcTabs(dcSel), acTabs(acSel))) return None
            sawScan = true
            i = endMark
          case _ => i = body + len - 2 // APPn/COM
        }
      }
    }
    if (coefs == null || !sawScan) return None
    val q = quant(qSel)
    if (q == null) return None
    val bw = w / 8; val bh = h / 8
    val px = new Array[Byte](w * h)
    val deq = new Array[Int](64)
    var bi = 0
    while (bi < nBlocks) {
      var k = 0
      var hasAc = false
      while (k < 64) {
        val c = coefs(bi * 64 + jpegZigzag(k))
        // a crafted stream can shift a 15-bit magnitude up 13 bits;
        // bound what reaches the multiply so dequantization can't wrap
        if (c > 32767 || c < -32768) return None
        deq(jpegZigzag(k)) = c * q(k)
        if (k > 0 && deq(jpegZigzag(k)) != 0) hasAc = true
        k += 1
      }
      renderJpegBlock(deq, hasAc, px, w, bi % bw, bi / bw)
      bi += 1
    }
    Some(JpegImage(w, h, px))
  }

  /** One progressive scan over the (quantized, natural-order) shared
    * coefficient array. Returns false on any stream violation. */
  private def decodeProgScan(data: Array[Byte], coefs: Array[Int],
                             nBlocks: Int, ss: Int, se: Int, ah: Int,
                             al: Int, dcT: JpegHuffDecoder,
                             acT: JpegHuffDecoder): Boolean = {
    if (ss < 0 || se > 63 || ss > se || al > 13) return false
    if (ss == 0 && se != 0) return false // this profile: DC scans are DC-only
    val r = new JpegBitReader(data)
    if (ss == 0 && ah == 0) {
      if (dcT == null) return false
      var pred = 0
      var bi = 0
      while (bi < nBlocks) {
        val s = dcT.decode(r)
        if (s < 0 || s > 11) return false
        val dv = r.receive(s)
        if (dv == Int.MinValue) return false
        pred += jpegExtend(dv, s)
        coefs(bi * 64) = pred << al
        bi += 1
      }
      true
    } else if (ss == 0) {
      var bi = 0
      while (bi < nBlocks) {
        val bit = r.readBit()
        if (bit < 0) return false
        if (bit == 1) coefs(bi * 64) |= (1 << al)
        bi += 1
      }
      true
    } else if (ah == 0) {
      if (acT == null) return false
      var eobrun = 0
      var bi = 0
      while (bi < nBlocks) {
        if (eobrun > 0) eobrun -= 1
        else {
          var k = ss
          var break = false
          while (k <= se && !break) {
            val sym = acT.decode(r)
            if (sym < 0) return false
            val run = sym >> 4; val sz = sym & 0x0f
            if (sz == 0) {
              if (run < 15) {
                eobrun = (1 << run) - 1
                if (run > 0) {
                  val extra = r.receive(run)
                  if (extra == Int.MinValue) return false
                  eobrun += extra
                }
                break = true
              } else k += 16 // ZRL
            } else {
              k += run
              if (k > se) return false
              val av = r.receive(sz)
              if (av == Int.MinValue) return false
              coefs(bi * 64 + jpegZigzag(k)) = jpegExtend(av, sz) << al
              k += 1
            }
          }
        }
        bi += 1
      }
      true
    } else {
      // AC refinement (T.81 G.1.2.3 / libjpeg decode_mcu_AC_refine)
      if (acT == null) return false
      val p1 = 1 << al; val m1 = -1 << al
      var eobrun = 0
      var bi = 0
      def correct(bi: Int, k: Int): Boolean = {
        val idx = bi * 64 + jpegZigzag(k)
        if (coefs(idx) != 0) {
          val bit = r.readBit()
          if (bit < 0) return false
          if (bit == 1 && (coefs(idx) & p1) == 0)
            coefs(idx) += (if (coefs(idx) >= 0) p1 else m1)
        }
        true
      }
      while (bi < nBlocks) {
        var k = ss
        if (eobrun == 0) {
          var break = false
          while (k <= se && !break) {
            val sym = acT.decode(r)
            if (sym < 0) return false
            var run = sym >> 4; val sz = sym & 0x0f
            var placed = 0
            if (sz != 0) {
              if (sz != 1) return false
              val sb = r.readBit()
              if (sb < 0) return false
              placed = if (sb == 1) p1 else m1
            } else if (run < 15) {
              eobrun = 1 << run
              if (run > 0) {
                val extra = r.receive(run)
                if (extra == Int.MinValue) return false
                eobrun += extra
              }
              break = true
            }
            if (!break) {
              // advance over `run` zero-history positions, correcting
              // nonzero-history ones crossed on the way
              var adv = true
              while (adv && k <= se) {
                val idx = bi * 64 + jpegZigzag(k)
                if (coefs(idx) != 0) {
                  if (!correct(bi, k)) return false
                  k += 1
                } else if (run == 0) adv = false
                else { run -= 1; k += 1 }
              }
              if (placed != 0) {
                if (k > se) return false
                coefs(bi * 64 + jpegZigzag(k)) = placed
              }
              k += 1
            }
          }
        }
        if (eobrun > 0) {
          // correction bits for the rest of the band (and, for absorbed
          // blocks, the whole band)
          while (k <= se) {
            if (!correct(bi, k)) return false
            k += 1
          }
          eobrun -= 1
        }
        bi += 1
      }
      true
    }
  }

  /** Shared block rendering (baseline semantics): exact integer path
    * for flat blocks, T.81 A.3.3 float IDCT otherwise. `deq` is the
    * DEQUANTIZED natural-order block. */
  private def renderJpegBlock(deq: Array[Int], hasAc: Boolean,
                              px: Array[Byte], w: Int,
                              bx: Int, by: Int): Unit = {
    if (!hasAc) {
      val v = math.max(0, math.min(255,
        Math.floorDiv(2 * deq(0) + 8, 16) + 128))
      var yy = 0
      while (yy < 8) {
        java.util.Arrays.fill(px, (by * 8 + yy) * w + bx * 8,
          (by * 8 + yy) * w + bx * 8 + 8, v.toByte)
        yy += 1
      }
    } else {
      var yy = 0
      while (yy < 8) {
        var xx = 0
        while (xx < 8) {
          var acc = 0.0
          var v = 0
          while (v < 8) {
            var u = 0
            while (u < 8) {
              val cu = if (u == 0) 0.7071067811865476 else 1.0
              val cv = if (v == 0) 0.7071067811865476 else 1.0
              acc += cu * cv * deq(v * 8 + u) *
                math.cos((2 * xx + 1) * u * math.Pi / 16) *
                math.cos((2 * yy + 1) * v * math.Pi / 16)
              u += 1
            }
            v += 1
          }
          val sv = math.max(0, math.min(255, math.round(acc / 4 + 128).toInt))
          px((by * 8 + yy) * w + bx * 8 + xx) = sv.toByte
          xx += 1
        }
        yy += 1
      }
    }
  }

  /** Deterministic synthetic DC-only PROGRESSIVE JPEG per id — the
    * same closed-form profile as [[synthJpeg]] (per-block DC
    * (bx·5 + by·9 + id·13) mod 200 − 100, flat quant 16, every decoded
    * sample exactly clamp(dc·2 + 128)) coded through the full six-scan
    * progressive script: the DC value arrives over THREE scans (high
    * bits, diff-chained; the low bit; nothing from the AC scans but
    * their EOBn runs still cover every block), so one wrong bit in any
    * scan corrupts the image and sum_px is a whole-script integrity
    * check that DuckDB replays in integer arithmetic.
    */
  def synthJpegProg(id: Long): Array[Byte] = {
    val bw = (id % 3 + 1).toInt
    val bh = (id % 2 + 1).toInt
    val blocks = Array.tabulate(bw * bh) { k =>
      val bx = k % bw; val by = k / bw
      val blk = new Array[Int](64)
      blk(0) = ((bx * 5 + by * 9 + id * 13) % 200 - 100).toInt
      blk
    }
    jpegEncodeProgressive(bw * 8, bh * 8, blocks)
  }

  def synthJpegProgCol(c: Column): Column =
    udf { id: Long => synthJpegProg(id) }.apply(c)

  /** Decoded-luma statistics of a progressive JPEG: (n, sum, mean,
    * std), same conventions as [[jpegLumaStats]]. */
  def jpegProgLumaStats(b: Array[Byte]): Option[(Long, Long, Double, Double)] =
    jpegDecodeProgressive(b).map { img =>
      val n = img.width.toLong * img.height
      var s = 0L; var ss = 0L
      var i = 0
      while (i < img.pixels.length) {
        val v = img.pixels(i) & 0xff
        s += v; ss += v.toLong * v
        i += 1
      }
      val mean = s.toDouble / n
      val variance = ss.toDouble / n - mean * mean
      (n, s, mean, math.sqrt(math.max(0.0, variance)))
    }

  def jpegProgLumaStatsCol(c: Column): Column =
    udf { b: Array[Byte] => jpegProgLumaStats(b) }.apply(c)

  // ------------------------------------------------------------------ //
  // REAL FLAC codec — dependency-free, pure integer math (RFC 9639).
  // FLAC is the one mainstream COMPRESSED audio format whose full
  // sample path needs no float transform at all: Rice-coded residuals
  // over fixed/LPC integer predictors, CRC-8/CRC-16 framing. This
  // closes the compressed-audio half of the multimodal boundary the
  // way the JPEG family closed pixels; [[stubDecode]] now stands in
  // only for MP4 video frames (H.264 entropy decode + motion
  // compensation is a codec library, not an afternoon of integer
  // arithmetic — documented out). Coverage: CONSTANT / VERBATIM /
  // FIXED orders 0-4 / LPC subframes, Rice partitions with the
  // 5-bit escape, wasted bits, left-side / right-side / mid-side
  // stereo decorrelation, UTF-8 frame numbers, both CRCs validated.
  // The reference keeps all media out of engine scope (no codec in
  // francesco-camaione/dataquality_ML).
  // ------------------------------------------------------------------ //

  /** Decoded FLAC audio: per-channel sample arrays (channel-major). */
  final case class FlacAudio(sampleRate: Int, channels: Int, bits: Int,
                             samples: Array[Array[Int]])

  private def crc8(b: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= b(i) & 0xff
      var k = 0
      while (k < 8) {
        crc = if ((crc & 0x80) != 0) ((crc << 1) ^ 0x07) & 0xff else (crc << 1) & 0xff
        k += 1
      }
      i += 1
    }
    crc
  }

  private def crc16(b: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= (b(i) & 0xff) << 8
      var k = 0
      while (k < 8) {
        crc = if ((crc & 0x8000) != 0) ((crc << 1) ^ 0x8005) & 0xffff
        else (crc << 1) & 0xffff
        k += 1
      }
      i += 1
    }
    crc
  }

  /** MSB-first bit writer without byte stuffing (FLAC framing). */
  private final class FlacBitWriter {
    val out = new java.io.ByteArrayOutputStream()
    private var acc = 0
    private var nb = 0
    def put(v: Long, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) {
        acc = (acc << 1) | ((v >>> i) & 1L).toInt
        nb += 1
        if (nb == 8) { out.write(acc); acc = 0; nb = 0 }
        i -= 1
      }
    }
    def putUnary(q: Int): Unit = { put(0L, q); put(1L, 1) }
    def alignZero(): Unit = if (nb != 0) put(0L, 8 - nb)
    def toBytes: Array[Byte] = { alignZero(); out.toByteArray }
  }

  /** MSB-first bit reader with byte-align (FLAC framing). Returns -1
    * sentinels on exhaustion — callers bail to None. */
  private final class FlacBitReader(data: Array[Byte], var pos: Int) {
    private var acc = 0
    private var nb = 0
    def readBit(): Int = {
      if (nb == 0) {
        if (pos >= data.length) return -1
        acc = data(pos) & 0xff; pos += 1; nb = 8
      }
      nb -= 1
      (acc >> nb) & 1
    }
    def readBits(n: Int): Long = { // n <= 32, -1L on EOF
      var v = 0L
      var i = 0
      while (i < n) {
        val b = readBit()
        if (b < 0) return -1L
        v = (v << 1) | b
        i += 1
      }
      v
    }
    def readUnary(max: Int): Int = { // zeros before a 1; -1 on EOF/overrun
      var q = 0
      while (q <= max) {
        val b = readBit()
        if (b < 0) return -1
        if (b == 1) return q
        q += 1
      }
      -1
    }
    def alignToByte(): Unit = { nb = 0 }
  }

  private def signExtend(v: Long, n: Int): Int =
    if (n == 0) 0
    else if ((v & (1L << (n - 1))) != 0) (v - (1L << n)).toInt else v.toInt

  private def zigzagDec(u: Long): Int = (((u >>> 1) ^ -(u & 1L))).toInt

  private val flacBlockSizes = Array(-1, 192, 576, 1152, 2304, 4608, -6, -7,
    256, 512, 1024, 2048, 4096, 8192, 16384, 32768)

  private def flacFixedResiduals(xs: Array[Int], order: Int): Array[Long] = {
    val n = xs.length
    val r = new Array[Long](n - order)
    var i = order
    while (i < n) {
      val p: Long = order match {
        case 0 => 0L
        case 1 => xs(i - 1).toLong
        case 2 => 2L * xs(i - 1) - xs(i - 2)
        case 3 => 3L * xs(i - 1) - 3L * xs(i - 2) + xs(i - 3)
        case _ => 4L * xs(i - 1) - 6L * xs(i - 2) + 4L * xs(i - 3) - xs(i - 4)
      }
      r(i - order) = xs(i) - p
      i += 1
    }
    r
  }

  /** One subframe into `w`. `mode`: -1 auto (CONSTANT if flat, else
    * best FIXED 0-2), -2 VERBATIM, -3 LPC order-2 test form (qlp
    * [2,-1], shift 0 — the fixed-order-2 predictor routed through the
    * general LPC path), 0..4 forced FIXED order. */
  private def flacWriteSubframe(w: FlacBitWriter, xs0: Array[Int], bps0: Int,
                                mode: Int): Unit = {
    // wasted bits: shared trailing zeros move into the subframe header
    // (flag + unary count-1) and samples code at the reduced width
    val tz = xs0.foldLeft(32)((m, v) =>
      if (v == 0) m else math.min(m, Integer.numberOfTrailingZeros(v)))
    val wasted = if (tz == 32 || tz == 0) 0 else math.min(tz, bps0 - 1)
    val xs = if (wasted > 0) xs0.map(_ >> wasted) else xs0
    val bps = bps0 - wasted
    def putHeader(typeBits: Long): Unit = {
      w.put(0L, 1); w.put(typeBits, 6)
      if (wasted == 0) w.put(0L, 1)
      else { w.put(1L, 1); w.putUnary(wasted - 1) }
    }
    def writeResiduals(res: Array[Long], order: Int): Unit = {
      // rice method 0, partition order 0, one partition
      w.put(0L, 2); w.put(0L, 4)
      val maxAbs = res.foldLeft(0L)((m, v) => math.max(m, math.abs(v)))
      // pick the rice param so quotients stay small; escape to raw for
      // the occasional pathological block
      var p = 0
      while (p < 14 && (maxAbs >> p) > 8) p += 1
      if (p >= 14) { // escape: raw n-bit residuals (5-bit count field)
        w.put(0x0fL, 4)
        val nbits = 31
        w.put(nbits.toLong, 5)
        res.foreach(v => w.put(v & 0x7fffffffL, nbits))
      } else {
        w.put(p.toLong, 4)
        res.foreach { v =>
          val u = (v << 1) ^ (v >> 63) // zigzag
          w.putUnary((u >>> p).toInt)
          w.put(u & ((1L << p) - 1), p)
        }
      }
    }
    if (mode == -2) {
      putHeader(1L) // VERBATIM
      xs.foreach(v => w.put(v.toLong & ((1L << bps) - 1), bps))
    } else if (mode == -3) {
      val order = 2
      putHeader(32L | (order - 1).toLong) // LPC
      xs.take(order).foreach(v => w.put(v.toLong & ((1L << bps) - 1), bps))
      w.put(14L, 4) // qlp precision 15 (-1 coded)
      w.put(0L, 5)  // shift 0
      w.put(2L & 0x7fffL, 15)  // coef a1 = 2
      w.put((-1L) & 0x7fffL, 15) // coef a2 = -1
      writeResiduals(flacFixedResiduals(xs, 2), order)
    } else if (mode == -1 && xs.forall(_ == xs(0))) {
      putHeader(0L) // CONSTANT
      w.put(xs(0).toLong & ((1L << bps) - 1), bps)
    } else {
      val order =
        if (mode >= 0) mode
        else (0 to 2).minBy { o =>
          if (xs.length <= o) Long.MaxValue
          else flacFixedResiduals(xs, o).foldLeft(0L)((s, v) => s + math.abs(v))
        }
      putHeader(8L | order.toLong) // FIXED
      xs.take(order).foreach(v => w.put(v.toLong & ((1L << bps) - 1), bps))
      writeResiduals(flacFixedResiduals(xs, order), order)
    }
  }

  /** REAL FLAC encoder (16-bit, fixed 192-multiple block sizes):
    * STREAMINFO + frames with genuine Rice-coded entropy. `stereo`:
    * -1 independent channels, 8 left/side, 9 right/side, 10 mid/side
    * (2-channel input only). `mode` as in [[flacWriteSubframe]].
    */
  def flacEncode(rate: Int, samplesByCh: Array[Array[Int]],
                 blockSize: Int, mode: Int = -1,
                 stereo: Int = -1): Array[Byte] = {
    val ch = samplesByCh.length
    require(ch >= 1 && ch <= 8, s"channels: $ch")
    require(blockSize >= 1 && blockSize <= 256,
      s"8-bit block-size coding: $blockSize") // header uses code 6
    require(samplesByCh.forall(_.length == samplesByCh(0).length),
      "ragged channels")
    require(stereo == -1 || ch == 2, "stereo modes need 2 channels")
    val bps = 16
    require(samplesByCh.forall(_.forall(v => v >= -32768 && v <= 32767)),
      "16-bit samples only")
    val total = samplesByCh(0).length.toLong
    val out = new java.io.ByteArrayOutputStream()
    out.write(flacHeader(rate, ch, bps, total), 0, 42)
    var start = 0
    var frameNo = 0L
    while (start < samplesByCh(0).length) {
      val bs = math.min(blockSize, samplesByCh(0).length - start)
      val hdr = new FlacBitWriter
      hdr.put(0x3ffeL, 14); hdr.put(0L, 1); hdr.put(0L, 1) // sync, rsvd, fixed-bs
      // block size: code 6 (8-bit value-1) keeps arbitrary tails legal
      hdr.put(6L, 4)
      hdr.put(0L, 4) // sample rate: from STREAMINFO
      val chAssign = if (stereo >= 0) stereo else ch - 1
      hdr.put(chAssign.toLong, 4)
      hdr.put(4L, 3) // sample size: 16-bit
      hdr.put(0L, 1)
      // UTF-8 frame number (same scheme as codepoints)
      if (frameNo < 0x80) hdr.put(frameNo, 8)
      else {
        hdr.put(0xc0L | (frameNo >> 6), 8)
        hdr.put(0x80L | (frameNo & 0x3f), 8)
      }
      hdr.put((bs - 1).toLong, 8)
      val hb = hdr.toBytes
      val fw = new FlacBitWriter
      hb.foreach(b => fw.put(b.toLong & 0xff, 8))
      fw.put(crc8(hb, 0, hb.length).toLong, 8)
      // subframes (stereo decorrelation on the coded channels)
      val coded: Array[(Array[Int], Int)] = // (samples, bps)
        if (stereo < 0) samplesByCh.map(a =>
          (a.slice(start, start + bs), bps))
        else {
          val l = samplesByCh(0).slice(start, start + bs)
          val r = samplesByCh(1).slice(start, start + bs)
          val side = Array.tabulate(bs)(i => l(i) - r(i))
          stereo match {
            case 8 => Array((l, bps), (side, bps + 1))
            case 9 => Array((side, bps + 1), (r, bps))
            case _ =>
              val mid = Array.tabulate(bs)(i => (l(i) + r(i)) >> 1)
              Array((mid, bps), (side, bps + 1))
          }
        }
      coded.foreach { case (xs, b) => flacWriteSubframe(fw, xs, b, mode) }
      fw.alignZero()
      val body = fw.toBytes
      out.write(body, 0, body.length)
      val c16 = crc16(body, 0, body.length)
      out.write(c16 >> 8); out.write(c16 & 0xff)
      start += bs
      frameNo += 1
    }
    out.toByteArray
  }

  /** REAL FLAC decode: STREAMINFO, then every frame — sync + header
    * with CRC-8, UTF-8 frame number, subframe dispatch (CONSTANT /
    * VERBATIM / FIXED 0-4 / LPC with quantized coefficients and
    * arithmetic-shift prediction), Rice partitions (both 4- and 5-bit
    * param widths, escape-to-raw), wasted bits, stereo
    * undecorrelation, frame CRC-16. Returns None (never junk) on any
    * CRC mismatch, sync loss, reserved code, truncation, or
    * sample-count mismatch.
    */
  def flacDecode(b: Array[Byte]): Option[FlacAudio] = ByteCursor.total {
    if (b.length < 42 || b(0) != 'f' || b(1) != 'L' || b(2) != 'a' ||
      b(3) != 'C') return None
    val cur = ByteCursor(b)
    // metadata walk: STREAMINFO must be first; skip to last block
    var i = 4
    var rate = -1; var ch = -1; var bits = -1; var total = -1L
    var last = false
    var first = true
    while (!last) {
      // block header: last-flag(1) type(7) length(24, big-endian)
      val hdr = cur.be32(i)
      last = (hdr & 0x80000000L) != 0
      val btype = (hdr >>> 24) & 0x7f
      val len = (hdr & 0xffffff).toInt
      if (first) {
        if (btype != 0 || len != 34) return None
        val p = i + 4
        if (p + 34 > b.length) return None
        val info = streamInfo(cur.be64(p + 10))
        rate = info._1; ch = info._2; bits = info._3; total = info._4
        first = false
      }
      i += 4 + len
    }
    if (rate <= 0 || ch < 1 || ch > 8 || bits < 4 || bits > 32) return None
    if (total < 0 || total > 64L * 1024 * 1024) return None
    val outCh = Array.fill(ch)(new Array[Int](total.toInt))
    var got = 0L
    while (got < total) {
      if (i + 5 > b.length) return None
      val frameStart = i
      val r = new FlacBitReader(b, i)
      if (r.readBits(14) != 0x3ffe) return None
      if (r.readBit() != 0) return None
      val blockingStrategy = r.readBit()
      if (blockingStrategy < 0) return None
      val bsCode = r.readBits(4).toInt
      val srCode = r.readBits(4).toInt
      val chAssign = r.readBits(4).toInt
      val ssCode = r.readBits(3).toInt
      if (r.readBit() != 0) return None
      if (bsCode < 0 || srCode < 0 || chAssign < 0 || ssCode < 0) return None
      // UTF-8 coded number (frame or sample): 1-7 bytes
      val lead = r.readBits(8).toInt
      if (lead < 0) return None
      var extra = 0
      var tmp = lead
      if (lead >= 0x80) {
        var mask = 0x40
        while ((tmp & mask) != 0) { extra += 1; mask >>= 1 }
        if (extra < 1 || extra > 6) return None
        var k = 0
        while (k < extra) {
          val c = r.readBits(8).toInt
          if (c < 0 || (c & 0xc0) != 0x80) return None
          k += 1
        }
      }
      val bs = bsCode match {
        case 0 => return None
        case 6 => val v = r.readBits(8); if (v < 0) return None else v.toInt + 1
        case 7 => val v = r.readBits(16); if (v < 0) return None else v.toInt + 1
        case c => flacBlockSizes(c)
      }
      srCode match { // explicit-rate codes carry extra header bytes
        case 12 => if (r.readBits(8) < 0) return None
        case 13 | 14 => if (r.readBits(16) < 0) return None
        case 15 => return None
        case _ => ()
      }
      val frameBps = ssCode match {
        case 0 => bits
        case 1 => 8
        case 2 => 12
        case 4 => 16
        case 5 => 20
        case 6 => 24
        case 7 => 32
        case _ => return None
      }
      val nCh = if (chAssign <= 7) chAssign + 1 else 2
      if (chAssign > 10) return None
      if (nCh != ch) return None
      if (bs <= 0 || got + bs > total) return None
      // header CRC-8: bytes from frameStart up to reader position
      val hdrEnd = r.pos
      val crcH = r.readBits(8).toInt
      if (crcH < 0 || crcH != crc8(b, frameStart, hdrEnd)) return None
      // subframes
      val sub = new Array[Array[Int]](nCh)
      var c = 0
      while (c < nCh) {
        val sbps = frameBps + (chAssign match {
          case 8 => if (c == 1) 1 else 0 // left/side
          case 9 => if (c == 0) 1 else 0 // side/right
          case 10 => if (c == 1) 1 else 0 // mid/side
          case _ => 0
        })
        sub(c) = flacReadSubframe(r, bs, sbps)
        if (sub(c) == null) return None
        c += 1
      }
      r.alignToByte()
      val bodyEnd = r.pos
      val crcF = r.readBits(16).toInt
      if (crcF < 0 || crcF != crc16(b, frameStart, bodyEnd)) return None
      // undecorrelate + copy out
      val off = got.toInt
      chAssign match {
        case 8 => // left/side: R = L - side
          var k = 0
          while (k < bs) {
            outCh(0)(off + k) = sub(0)(k)
            outCh(1)(off + k) = sub(0)(k) - sub(1)(k)
            k += 1
          }
        case 9 => // side/right: L = R + side
          var k = 0
          while (k < bs) {
            outCh(0)(off + k) = sub(1)(k) + sub(0)(k)
            outCh(1)(off + k) = sub(1)(k)
            k += 1
          }
        case 10 => // mid/side
          var k = 0
          while (k < bs) {
            var mid = sub(0)(k) << 1
            val side = sub(1)(k)
            mid |= (side & 1)
            outCh(0)(off + k) = (mid + side) >> 1
            outCh(1)(off + k) = (mid - side) >> 1
            k += 1
          }
        case _ =>
          var cc = 0
          while (cc < nCh) {
            System.arraycopy(sub(cc), 0, outCh(cc), off, bs)
            cc += 1
          }
      }
      got += bs
      i = r.pos
    }
    // nothing but padding may follow the last frame
    while (i < b.length) { if (b(i) != 0) return None; i += 1 }
    Some(FlacAudio(rate, ch, bits, outCh))
  }

  /** One subframe: returns the reconstructed samples or null on any
    * stream violation. */
  private def flacReadSubframe(r: FlacBitReader, bs: Int,
                               bps: Int): Array[Int] = {
    if (r.readBit() != 0) return null
    val t = r.readBits(6).toInt
    if (t < 0) return null
    val wastedFlag = r.readBit()
    if (wastedFlag < 0) return null
    var wasted = 0
    if (wastedFlag == 1) {
      val q = r.readUnary(32)
      if (q < 0) return null
      wasted = q + 1
    }
    val eb = bps - wasted
    if (eb <= 0 || eb > 33) return null
    val xs = new Array[Int](bs)
    def readResiduals(order: Int): Boolean = {
      val method = r.readBits(2).toInt
      if (method < 0 || method > 1) return false
      val pWidth = if (method == 0) 4 else 5
      val escape = if (method == 0) 0xf else 0x1f
      val pOrder = r.readBits(4).toInt
      if (pOrder < 0) return false
      val nPart = 1 << pOrder
      if (bs % nPart != 0) return false
      var idx = order
      var part = 0
      while (part < nPart) {
        val cnt = (bs >> pOrder) - (if (part == 0) order else 0)
        if (cnt < 0) return false
        val prm = r.readBits(pWidth).toInt
        if (prm < 0) return false
        if (prm == escape) {
          val nb = r.readBits(5).toInt
          if (nb < 0) return false
          var k = 0
          while (k < cnt) {
            val v = r.readBits(nb)
            if (nb > 0 && v < 0) return false
            xs(idx) = signExtend(v, nb); idx += 1; k += 1
          }
        } else {
          var k = 0
          while (k < cnt) {
            val q = r.readUnary(1 << 24)
            if (q < 0) return false
            val rem = r.readBits(prm)
            if (prm > 0 && rem < 0) return false
            xs(idx) = zigzagDec((q.toLong << prm) | (if (prm > 0) rem else 0L))
            idx += 1; k += 1
          }
        }
        part += 1
      }
      true
    }
    val ok: Boolean =
      if (t == 0) { // CONSTANT
        val v = r.readBits(eb)
        if (v < 0 && eb > 0) false
        else { java.util.Arrays.fill(xs, signExtend(v, eb)); true }
      } else if (t == 1) { // VERBATIM
        var k = 0
        var good = true
        while (good && k < bs) {
          val v = r.readBits(eb)
          if (v < 0) good = false else { xs(k) = signExtend(v, eb); k += 1 }
        }
        good
      } else if (t >= 8 && t <= 12) { // FIXED
        val order = t - 8
        if (order > bs) false
        else {
          var k = 0
          var good = true
          while (good && k < order) {
            val v = r.readBits(eb)
            if (v < 0) good = false else { xs(k) = signExtend(v, eb); k += 1 }
          }
          good && readResiduals(order) && {
            var i2 = order
            while (i2 < bs) {
              val p: Long = order match {
                case 0 => 0L
                case 1 => xs(i2 - 1).toLong
                case 2 => 2L * xs(i2 - 1) - xs(i2 - 2)
                case 3 => 3L * xs(i2 - 1) - 3L * xs(i2 - 2) + xs(i2 - 3)
                case _ =>
                  4L * xs(i2 - 1) - 6L * xs(i2 - 2) + 4L * xs(i2 - 3) - xs(i2 - 4)
              }
              val v = p + xs(i2)
              if (v < Int.MinValue || v > Int.MaxValue) return null
              xs(i2) = v.toInt
              i2 += 1
            }
            true
          }
        }
      } else if (t >= 32) { // LPC, order (t & 31) + 1
        val order = (t & 31) + 1
        if (order > bs) false
        else {
          var k = 0
          var good = true
          while (good && k < order) {
            val v = r.readBits(eb)
            if (v < 0) good = false else { xs(k) = signExtend(v, eb); k += 1 }
          }
          val precM1 = r.readBits(4).toInt
          if (precM1 < 0 || precM1 == 15) good = false
          val prec = precM1 + 1
          val shiftRaw = if (good) r.readBits(5).toInt else -1
          if (shiftRaw < 0) good = false
          val shift = signExtend(shiftRaw.toLong, 5)
          if (shift < 0) good = false
          val coefs = new Array[Int](order)
          var j = 0
          while (good && j < order) {
            val cv = r.readBits(prec)
            if (cv < 0) good = false else { coefs(j) = signExtend(cv, prec); j += 1 }
          }
          good && readResiduals(order) && {
            var i2 = order
            while (i2 < bs) {
              var acc = 0L
              var jj = 0
              while (jj < order) { acc += coefs(jj).toLong * xs(i2 - 1 - jj); jj += 1 }
              val v = (acc >> shift) + xs(i2)
              if (v < Int.MinValue || v > Int.MaxValue) return null
              xs(i2) = v.toInt
              i2 += 1
            }
            true
          }
        }
      } else false // reserved types
    if (!ok) return null
    if (wasted > 0) {
      var k = 0
      while (k < bs) { xs(k) = xs(k) << wasted; k += 1 }
    }
    xs
  }

  /** Deterministic synthetic CONSTANT-subframe FLAC per id: mono
    * 16-bit, rate from [[synthRates]], (id%3+1) blocks of 192 samples,
    * block j holding the constant (id·31 + j·17) mod 1000 − 500 — so
    * every decoded sample, and therefore n/sum/mean, is a closed form
    * DuckDB replays in integer arithmetic, while the Spark side must
    * walk real frames (sync, UTF-8 numbers, CRC-8, CRC-16) to get
    * them.
    */
  def synthFlac(id: Long): Array[Byte] = {
    val rate = synthRates((id % 5).toInt)
    val nb = (id % 3 + 1).toInt
    val xs = Array.tabulate(nb * 192) { k =>
      val j = k / 192
      ((id * 31 + j * 17) % 1000 - 500).toInt
    }
    flacEncode(rate, Array(xs), 192)
  }

  def synthFlacCol(c: Column): Column =
    udf { id: Long => synthFlac(id) }.apply(c)

  /** Decoded-sample statistics of a FLAC stream: (n, sum, mean, std)
    * over all channels, same conventions as [[wavChannelStats]]'
    * aggregate profile. */
  def flacSampleStats(b: Array[Byte]): Option[(Long, Long, Double, Double)] =
    flacDecode(b).map { a =>
      var n = 0L; var s = 0L; var ss = 0L
      a.samples.foreach { chs =>
        var k = 0
        while (k < chs.length) {
          n += 1; s += chs(k); ss += chs(k).toLong * chs(k); k += 1
        }
      }
      val mean = if (n == 0) 0.0 else s.toDouble / n
      val variance = if (n == 0) 0.0 else ss.toDouble / n - mean * mean
      (n, s, mean, math.sqrt(math.max(0.0, variance)))
    }

  def flacSampleStatsCol(c: Column): Column =
    udf { b: Array[Byte] => flacSampleStats(b) }.apply(c)
}
