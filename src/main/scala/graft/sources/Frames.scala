package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** Compressed-frame header metadata for the post-gzip container
  * generation — zstd, LZ4 frame, and XZ. An archive-layer triage
  * pass answers "what is this, how big does it claim to be, is it
  * integrity-checked" WITHOUT decompressing (entropy-stage decode —
  * zstd FSE/Huffman, LZ4 sequences, LZMA2 — stays behind the same
  * documented codec-table boundary as AAC/VP8 lossy):
  *
  *  - zstd (RFC 8878): magic 0xFD2FB528 LE, frame header descriptor →
  *    single-segment flag, content-checksum flag, dictionary-ID field
  *    size, frame-content-size field size; window descriptor
  *    (exponent+mantissa → window size) when not single-segment;
  *    FCS with the +256 bias on the 2-byte form;
  *  - LZ4 frame: magic 0x184D2204 LE, FLG (version must be 01,
  *    block-independence, block/content checksum flags, content-size
  *    flag) + BD (block max size 4-7 → 64 KB..4 MB), u64 content size
  *    when flagged, header-checksum byte present;
  *  - XZ: 6-byte magic FD '7zXZ' 00, then stream flags — the check
  *    type (none/CRC32/CRC64/SHA-256).
  */
object Frames {

  final case class FrameMeta(format: String, content_size: Long,
                             window_size: Long, checksum: String,
                             block_independent: Boolean)

  def parseFrame(b: Array[Byte]): Option[FrameMeta] = {
    if (b == null || b.length < 6) return None
    val c = ByteCursor(b)
    c.le32(0).getOrElse(return None) match {
      case 0xFD2FB528L => // zstd
        val fhd = b(4) & 0xff
        val fcsFlag = fhd >>> 6
        val singleSegment = (fhd & 0x20) != 0
        if ((fhd & 0x08) != 0) return None // reserved bit must be 0
        val hasChecksum = (fhd & 0x04) != 0
        val didSize = Seq(0, 1, 2, 4)(fhd & 0x03)
        var p = 5L
        var window = -1L
        if (!singleSegment) {
          val wd = c.u8(p).getOrElse(return None); p += 1
          val exp = wd >>> 3
          val mantissa = wd & 7
          if (exp + 10 > 62) return None
          val base = 1L << (exp + 10)
          window = base + (base / 8) * mantissa
        }
        p += didSize
        val fcsSize = fcsFlag match {
          case 0 => if (singleSegment) 1 else 0
          case 1 => 2
          case 2 => 4
          case _ => 8
        }
        // the dictionary ID and content size must both be present
        if (!c.has(p, fcsSize)) return None
        val contentSize = fcsSize match {
          case 0 => -1L
          case 2 => c.le(p, 2).getOrElse(return None) + 256L // biased
          case n => c.le(p, n).getOrElse(return None)
        }
        if (singleSegment && contentSize >= 0) window = contentSize
        Some(FrameMeta("zstd", contentSize, window,
          if (hasChecksum) "xxh64" else "none",
          block_independent = true)) // zstd frames are self-contained
      case 0x184D2204L => // LZ4 frame
        if (b.length < 7) return None
        val flg = b(4) & 0xff
        if ((flg >>> 6) != 1) return None // version must be 01
        val indep = (flg & 0x20) != 0
        val contentChecksum = (flg & 0x04) != 0
        val hasContentSize = (flg & 0x08) != 0
        val bd = b(5) & 0xff
        val bmax = (bd >>> 4) & 7
        if (bmax < 4) return None // 4..7 defined
        val window = 1L << (bmax * 2 + 8) // 4→64KB, 5→256KB, 6→1MB, 7→4MB
        var p = 6L
        val contentSize = if (hasContentSize) {
          val v = c.le64(p).getOrElse(return None); p += 8; v
        } else -1L
        if (p >= b.length) return None // header-checksum byte
        Some(FrameMeta("lz4", contentSize, window,
          if (contentChecksum) "xxh32" else "none", indep))
      case _ =>
        // XZ: FD 37 7A 58 5A 00, stream flags (2 bytes) + CRC32
        if (b.length >= 12 && (b(0) & 0xff) == 0xFD && b(1) == '7' &&
          b(2) == 'z' && b(3) == 'X' && b(4) == 'Z' && b(5) == 0) {
          if (b(6) != 0) return None // first flags byte must be 0
          val check = b(7) & 0x0f
          val name = check match {
            case 0 => "none"
            case 1 => "crc32"
            case 4 => "crc64"
            case 10 => "sha256"
            case _ => return None
          }
          Some(FrameMeta("xz", -1L, -1L, name, block_independent = true))
        } else None
    }
  }

  // ---- fixture ------------------------------------------------------ //

  /** Deterministic per-id frame header cycling zstd (with and without
    * single-segment / checksum / each FCS width), LZ4 (content size
    * by parity, dependent blocks every third), and XZ (check type
    * cycling) — headers only, plus deterministic junk payload the
    * parser must never read. */
  def synthFrame(id: Long): Array[Byte] = {
    import ByteCursor.{le32, le64}
    val junk = Array.tabulate(((id % 16) + 4).toInt)(j =>
      ((id * 37 + j * 11) % 256).toByte)
    (id % 3) match {
      case 0 => // zstd
        val fcsKind = (id % 4).toInt // 0: none, 1: u8 SS, 2: u16, 3: u32
        val checksum = id % 2 == 0
        fcsKind match {
          case 0 => // windowed, no FCS
            le32(0xFD2FB528L) ++ Array[Byte](
              (if (checksum) 0x04 else 0x00).toByte,
              ((id % 8) << 3).toByte) ++ junk // window exp 10..17
          case 1 => // single-segment, 1-byte FCS
            le32(0xFD2FB528L) ++ Array[Byte](
              (0x20 | (if (checksum) 0x04 else 0)).toByte,
              (id % 200).toByte) ++ junk
          case 2 => // windowed, 2-byte FCS (+256 bias)
            le32(0xFD2FB528L) ++ Array[Byte](
              (0x40 | (if (checksum) 0x04 else 0)).toByte,
              ((id % 8) << 3).toByte,
              (id % 256).toByte, ((id / 256) % 256).toByte) ++ junk
          case _ => // windowed, 4-byte FCS
            le32(0xFD2FB528L) ++ Array[Byte](
              (0x80 | (if (checksum) 0x04 else 0)).toByte,
              ((id % 8) << 3).toByte) ++ le32(id * 1000 + 5) ++ junk
        }
      case 1 => // LZ4
        val hasSize = id % 2 == 1
        val flg = 0x40 | (if (id % 4 == 1) 0x20 else 0) |
          (if (hasSize) 0x08 else 0) | (if (id % 2 == 1) 0x04 else 0)
        val bd = (((id % 4) + 4) << 4).toInt
        le32(0x184D2204L) ++ Array[Byte](flg.toByte, bd.toByte) ++
          (if (hasSize) le64(id * 777 + 1) else Array.empty[Byte]) ++
          Array[Byte](0x5A) ++ junk // header checksum placeholder
      case _ => // XZ
        val check = Seq(0, 1, 4, 10)((id % 4).toInt)
        Array[Byte](0xFD.toByte, '7', 'z', 'X', 'Z', 0, 0,
          check.toByte) ++ le32(0x11223344L) ++ junk
    }
  }

  def synthFrameCol(c: Column): Column =
    udf { id: Long => synthFrame(id) }.apply(c)
  /** bytes → struct<format, content_size, window_size, checksum,
    * block_independent>. */
  def frameMetaCol(c: Column): Column =
    udf { b: Array[Byte] => parseFrame(b) }.apply(c)
}
