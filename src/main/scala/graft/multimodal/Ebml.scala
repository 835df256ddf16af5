package graft.multimodal

import graft.sources.ByteCursor

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** Matroska/WebM top-level metadata via an EBML element walk (RFC
  * 8794 framing + the Matroska element IDs) — the remaining video
  * container beside MP4 a crawl meets. Parses ONLY structure-level
  * metadata: the EBML header's DocType, the Segment's Info
  * (TimestampScale, Duration) and Tracks (TrackType, CodecID per
  * TrackEntry). Clusters and everything else skip by their declared
  * size — no codec work, matching [[Binary.parseVideoMeta]]'s scope.
  *
  * EBML mechanics honored: element IDs keep their length-marker bits
  * (compared as whole values), data-size VINTs strip them, an
  * all-ones data size means "unknown" (accepted for the Segment only,
  * meaning to-end-of-buffer — the streaming/live case; rejected
  * elsewhere), and cursors stay Long (the byte-walk rule: a truncated
  * unsigned size must never become a zero/negative step).
  */
object Ebml {

  final case class MkvMeta(doctype: String, timescale: Long,
                           duration_ms: Long, n_video: Int, n_audio: Int,
                           n_subs: Int, codecs: String)

  private val IdEbml = 0x1A45DFA3L
  private val IdDocType = 0x4282L
  private val IdSegment = 0x18538067L
  private val IdInfo = 0x1549A966L
  private val IdTimestampScale = 0x2AD7B1L
  private val IdDuration = 0x4489L
  private val IdTracks = 0x1654AE6BL
  private val IdTrackEntry = 0xAEL
  private val IdTrackType = 0x83L
  private val IdCodecId = 0x86L

  /** VINT length from its first byte: 1 + leading zero bits (0 = no
    * marker bit = invalid). */
  private def vintLen(first: Int): Int = {
    var mask = 0x80; var len = 1
    while (len <= 8 && (first & mask) == 0) { mask >>= 1; len += 1 }
    if (len > 8) -1 else len
  }

  /** Element ID at `i`: marker bits KEPT, 4-byte cap (Matroska IDs
    * are at most class D). Returns (id, lenBytes). */
  private def readId(c: ByteCursor, i: Long): (Long, Int) = {
    val len = vintLen(c.u8(i))
    if (len < 1 || len > 4) ByteCursor.reject()
    (c.be(i, len), len)
  }

  /** Data size at `i`: marker bit stripped. Returns (size, lenBytes,
    * unknown) where unknown = the all-ones reserved value. */
  private def readSize(c: ByteCursor, i: Long): (Long, Int, Boolean) = {
    val len = vintLen(c.u8(i))
    if (len < 1) ByteCursor.reject()
    // the big-endian value with the length-marker bits stripped
    val v = c.be(i, len) & ((1L << (7 * len)) - 1)
    val unknown = v == (1L << (7 * len)) - 1
    (v, len, unknown)
  }

  /** Big-endian unsigned element body (first 8 bytes of a longer one). */
  private def uintEl(c: ByteCursor, from: Long, size: Long): Long =
    c.be(from, size.min(8L).toInt)

  private def float(c: ByteCursor, from: Long, size: Long): Double =
    size match {
      case 4 => java.lang.Float.intBitsToFloat(c.be32(from).toInt).toDouble
      case 8 => java.lang.Double.longBitsToDouble(c.be64(from))
      case _ => ByteCursor.reject()
    }

  def parseMkv(b: Array[Byte]): Option[MkvMeta] = ByteCursor.total {
    if (b == null || b.length < 8) return None
    val n = b.length.toLong
    val c = ByteCursor(b)
    // run `f` over the (id, dataStart, dataEnd) children of [from, hi)
    def children(from: Long, hi: Long)(f: (Long, Long, Long) => Unit): Unit = {
      var i = from
      while (i < hi) {
        val (id, idLen) = readId(c, i)
        val (sz, szLen, unk) = readSize(c, i + idLen)
        val ds = i + idLen + szLen
        if (unk) ByteCursor.reject() // unknown size only for the Segment
        if (ds + sz > hi) ByteCursor.reject()
        f(id, ds, ds + sz)
        i = ds + sz
      }
    }
    // top level: EBML header then Segment
    val (hid, hidLen) = readId(c, 0)
    if (hid != IdEbml) return None
    val (hsz, hszLen, hunk) = readSize(c, hidLen)
    if (hunk) return None
    val hStart = hidLen.toLong + hszLen
    if (hStart + hsz > n) return None
    var doctype = "matroska" // the EBML-specified default
    children(hStart, hStart + hsz) { (id, ds, de) =>
      if (id == IdDocType)
        doctype = new String(b.slice(ds.toInt, de.toInt), "US-ASCII")
          .takeWhile(_ != '\u0000')
    }
    // Segment
    val segAt = hStart + hsz
    val (sid, sidLen) = readId(c, segAt)
    if (sid != IdSegment) return None
    val (ssz, sszLen, sunk) = readSize(c, segAt + sidLen)
    val segStart = segAt + sidLen + sszLen
    val segEnd = if (sunk) n else segStart + ssz // streaming: to-EOF
    if (segEnd > n) return None
    var timescale = 1000000L // Matroska default: 1 ms in ns
    var duration = -1.0
    var nv = 0; var na = 0; var ns = 0
    val codecs = Vector.newBuilder[String]
    children(segStart, segEnd) { (id, ds, de) =>
      if (id == IdInfo) {
        children(ds, de) { (cid, cds, cde) =>
          if (cid == IdTimestampScale) timescale = uintEl(c, cds, cde - cds)
          else if (cid == IdDuration) duration = float(c, cds, cde - cds)
        }
      } else if (id == IdTracks) {
        children(ds, de) { (cid, cds, cde) =>
          if (cid == IdTrackEntry) {
            var ty = -1L; var codec = ""
            children(cds, cde) { (tid, tds, tde) =>
              if (tid == IdTrackType) ty = uintEl(c, tds, tde - tds)
              else if (tid == IdCodecId)
                codec = new String(b.slice(tds.toInt, tde.toInt),
                  "US-ASCII").takeWhile(_ != '\u0000')
            }
            ty match {
              case 1 => nv += 1
              case 2 => na += 1
              case 17 => ns += 1
              case _ => ()
            }
            if (codec.nonEmpty) codecs += codec
          }
        }
      } // Cluster/SeekHead/Void/unknown: skipped by size
    }
    if (timescale <= 0) return None
    val durMs = if (duration < 0) 0L
      else math.round(duration * timescale / 1e6)
    Some(MkvMeta(doctype, timescale, durMs, nv, na, ns,
      codecs.result().mkString(",")))
  }

  // ---- fixture ------------------------------------------------------ //

  /** Minimal VINT size encoding (1-4 bytes). */
  private def vint(v: Long): Array[Byte] = {
    require(v >= 0 && v < (1L << 28) - 1)
    val len = if (v < 0x7f) 1 else if (v < 0x3fff) 2
      else if (v < 0x1fffff) 3 else 4
    ByteCursor.be(v | (1L << (7 * len)), len) // length-marker bit on top
  }

  private def idBytes(id: Long): Array[Byte] =
    ByteCursor.be(id, if (id <= 0xff) 1 else if (id <= 0xffff) 2
      else if (id <= 0xffffff) 3 else 4)

  private def el(id: Long, payload: Array[Byte]): Array[Byte] =
    idBytes(id) ++ vint(payload.length.toLong) ++ payload

  /** Deterministic per-id Matroska/WebM: doctype+timescale alternate
    * by parity, Duration is float32 (float64 every 4th id),
    * `id%3+1` TrackEntries cycling video/audio/subtitle, plus a Void
    * element and an unknown element the walk must skip; odd ids use
    * an UNKNOWN-size Segment (the streaming form). */
  def synthMkv(id: Long): Array[Byte] = {
    val web = id % 2 == 1
    val header = el(IdEbml,
      el(0x4286, ByteCursor.be(1, 1)) ++ // EBMLVersion
        el(IdDocType,
          (if (web) "webm" else "matroska").getBytes("US-ASCII")))
    val scale = if (web) 500000L else 1000000L
    val durUnits = (id % 10 + 1).toDouble * 1000.0 * (if (web) 4 else 1)
    val durBytes = if (id % 4 == 0)
      ByteCursor.be(java.lang.Double.doubleToLongBits(durUnits), 8)
    else ByteCursor.be(
      java.lang.Float.floatToIntBits(durUnits.toFloat).toLong, 4)
    val info = el(IdInfo,
      el(IdTimestampScale, ByteCursor.be(scale, 3)) ++
        el(IdDuration, durBytes))
    val nTracks = (id % 3 + 1).toInt
    val tracks = el(IdTracks,
      (0 until nTracks).flatMap { t =>
        val ty = Array(1L, 2L, 17L)(((id + t) % 3).toInt)
        val codec = ty match {
          case 1 => "V_VP9"
          case 2 => "A_OPUS"
          case _ => "S_TEXT/UTF8"
        }
        el(IdTrackEntry,
          el(0xD7, ByteCursor.be(t + 1L, 1)) ++ // TrackNumber
            el(IdTrackType, ByteCursor.be(ty, 1)) ++
            el(IdCodecId, codec.getBytes("US-ASCII")))
      }.toArray)
    val voidEl = el(0xEC, Array.fill(5)(0.toByte))
    val cluster = el(0x1F43B675, // Cluster: must skip by size
      Array.tabulate(((id % 20) + 8).toInt)(j => ((id + j) % 256).toByte))
    val body = voidEl ++ info ++ tracks ++ cluster
    val segment =
      if (web) idBytes(IdSegment) ++ Array(0xff.toByte) ++ body // unknown
      else idBytes(IdSegment) ++ vint(body.length.toLong) ++ body
    header ++ segment
  }

  def synthMkvCol(c: Column): Column =
    udf { id: Long => synthMkv(id) }.apply(c)
  /** bytes → struct<doctype, timescale, duration_ms, n_video,
    * n_audio, n_subs, codecs>. */
  def mkvMetaCol(c: Column): Column =
    udf { b: Array[Byte] => parseMkv(b) }.apply(c)
}
