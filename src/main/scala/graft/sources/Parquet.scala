package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** Parquet footer / row-group metadata census — the engine's OWN
  * canonical format is the one data-lake format a planner must be able
  * to introspect WITHOUT scanning data: which files can be skipped is
  * answered entirely by the footer (row groups, per-column-chunk codec,
  * sizes, min/max statistics). Reads the trailing frame
  * (`FileMetaData` thrift ++ u32-LE length ++ "PAR1") and decodes the
  * Thrift COMPACT protocol first-principles: varints + zigzag, short-
  * and long-form field headers, embedded booleans, size-prefixed
  * binaries, list headers with the 15-overflow escape — no codec
  * tables needed, which is what makes this decodable in-sandbox.
  *
  * Extracted (parquet-format FileMetaData): version, num_rows,
  * created_by, leaf-column count from the schema walk, and per
  * (row-group, column-chunk): dotted path, codec, num_values,
  * compressed/uncompressed sizes, and INT64 min/max/null_count stats
  * (other physical types report stats as absent rather than
  * misdecoded). Unknown/extra fields of every struct are SKIPPED
  * structurally (full compact-protocol skip with a depth cap), so
  * footers written by newer writers still census.
  *
  * Totality: every read is bounds-checked (a short read rejects
  * through [[ByteCursor.total]]), varints are length-capped, list
  * sizes and skip depth are capped — a corrupt footer returns None,
  * never throws and never hangs.
  */
object Parquet {

  final case class PqColumn(rg: Int, path: String, codec: String,
                            num_values: Long, compressed: Long,
                            uncompressed: Long, min_i64: Option[Long],
                            max_i64: Option[Long],
                            null_count: Option[Long])
  final case class PqMeta(version: Int, n_rows: Long, n_groups: Int,
                          n_leaves: Int, created_by: String,
                          columns: Seq[PqColumn])

  private val codecNames = Map(0 -> "uncompressed", 1 -> "snappy",
    2 -> "gzip", 3 -> "lzo", 4 -> "brotli", 5 -> "lz4", 6 -> "zstd",
    7 -> "lz4_raw")

  // ---- thrift compact-protocol reader ------------------------------ //

  // Grammar over the shared [[ByteCursor]]: a short read or a
  // malformed value rejects the whole parse.

  private def binary(tc: ByteCursor): Array[Byte] = {
    val n = tc.varint()
    if (n > (1 << 24)) ByteCursor.reject()
    tc.bytes(n)
  }

  /** Structural skip of one value of compact type `tpe`. */
  private def skipValue(tc: ByteCursor, tpe: Int, depth: Int): Unit = {
    if (depth > 16) ByteCursor.reject()
    tpe match {
      case 1 | 2 => () // boolean true/false: value in the type
      case 3 => tc.skip(1) // byte
      case 4 | 5 | 6 => tc.varint() // i16/i32/i64
      case 7 => tc.skip(8) // double (8 bytes)
      case 8 => binary(tc) // binary/string
      case 9 | 10 => // list/set
        val (n, et) = listHeader(tc)
        var k = 0L
        while (k < n) { skipValue(tc, et, depth + 1); k += 1 }
      case 11 => // map
        val (n, kt, vt) = mapHeader(tc)
        var k = 0L
        while (k < n) {
          skipValue(tc, kt, depth + 1); skipValue(tc, vt, depth + 1); k += 1
        }
      case 12 => struct(tc, depth + 1)((_, t) => skipValue(tc, t, depth + 1))
      case _ => ByteCursor.reject()
    }
  }

  /** A list header: (size, element type); an absurd size rejects. */
  private def listHeader(tc: ByteCursor): (Long, Int) = {
    val h = tc.u8()
    val sz = (h >> 4) & 0xf; val et = h & 0xf
    val n = if (sz == 15) tc.varint() else sz.toLong
    if (n < 0 || n > 100000) ByteCursor.reject()
    (n, et)
  }

  /** A map header: (size, key type, value type); the type byte is
    * present only for a non-empty map. */
  private def mapHeader(tc: ByteCursor): (Long, Int, Int) = {
    val n = tc.varint()
    if (n == 0) (0L, 0, 0)
    else if (n < 0 || n > 100000) ByteCursor.reject()
    else { val kv = tc.u8(); (n, (kv >> 4) & 0xf, kv & 0xf) }
  }

  /** Iterate a struct's fields: cb(fieldId, compactType) must consume
    * the value. */
  private def struct(tc: ByteCursor, depth: Int)(
      cb: (Int, Int) => Unit): Unit = {
    if (depth > 16) ByteCursor.reject()
    var last = 0
    var h = tc.u8()
    while (h != 0) {
      val delta = (h >> 4) & 0xf; val tpe = h & 0xf
      if (delta == 0) {
        val id = tc.zigzag()
        if (id < -32768 || id > 32767) ByteCursor.reject()
        last = id.toInt
      } else last += delta
      cb(last, tpe)
      h = tc.u8()
    }
  }

  private def str(b: Array[Byte]): String =
    new String(b, java.nio.charset.StandardCharsets.UTF_8)

  /** Plain (non-compact) little-endian i64 — the Parquet stats
    * encoding for INT64 values. */
  private def statI64(v: Array[Byte]): Option[Long] =
    if (v.length != 8) None else Some(ByteCursor(v).le64(0))

  /** A list of `elemType` values, `read` consuming each. */
  private def listOf(tc: ByteCursor, elemType: Int)(read: => Unit): Unit = {
    val (n, et) = listHeader(tc)
    if (et != elemType) ByteCursor.reject()
    var k = 0L
    while (k < n) { read; k += 1 }
  }

  // ---- the census ---------------------------------------------------- //

  def parseFooter(b: Array[Byte]): Option[PqMeta] = ByteCursor.total {
    if (b == null || b.length < 12) return None
    val c = ByteCursor(b)
    if (!c.tagAt(0, "PAR1") || !c.tagAt(b.length - 4, "PAR1")) return None
    val fl = c.le32(b.length - 8)
    val fStart = b.length - 8L - fl
    if (fl <= 0 || fStart < 4) return None
    val tc = new ByteCursor(b, fStart, b.length - 8L)

    var version = -1
    var nRows = -1L
    var createdBy = ""
    var leaves = 0
    var schemaSeen = false
    val cols = Vector.newBuilder[PqColumn]
    var rg = 0

    def readSchemaElement(): Unit = {
      var numChildren = -1
      struct(tc, 1) { (id, tpe) =>
        (id, tpe) match {
          case (5, 5) => numChildren = tc.zigzag().toInt
          case (_, t) => skipValue(tc, t, 1)
        }
      }
      // the FIRST element is the root (carries num_children); leaves
      // are elements with no children
      if (schemaSeen && numChildren <= 0) leaves += 1
      schemaSeen = true
    }

    def readColumnMeta(rgIdx: Int): Unit = {
      var path = ""; var codec = -1
      var numValues = -1L; var unc = -1L; var cmp = -1L
      var colType = -1
      var minV: Option[Long] = None; var maxV: Option[Long] = None
      var nulls: Option[Long] = None
      struct(tc, 3) { (id, tpe) =>
        (id, tpe) match {
          case (1, 5) => colType = tc.zigzag().toInt
          case (3, 9) => // path_in_schema
            val parts = Vector.newBuilder[String]
            listOf(tc, 8)(parts += str(binary(tc)))
            path = parts.result().mkString(".")
          case (4, 5) => codec = tc.zigzag().toInt
          case (5, 6) => numValues = tc.zigzag()
          case (6, 6) => unc = tc.zigzag()
          case (7, 6) => cmp = tc.zigzag()
          case (12, 12) => // Statistics
            struct(tc, 4) { (sid, stpe) =>
              (sid, stpe) match {
                case (3, 6) => nulls = Some(tc.zigzag())
                // max_value/min_value (new) and max/min (legacy):
                // decode only for INT64 columns
                case (5, 8) | (1, 8) =>
                  val v = binary(tc)
                  if (colType == 2) maxV = statI64(v)
                case (6, 8) | (2, 8) =>
                  val v = binary(tc)
                  if (colType == 2) minV = statI64(v)
                case (_, t) => skipValue(tc, t, 4)
              }
            }
          case (_, t) => skipValue(tc, t, 3)
        }
      }
      if (codec < 0 || numValues < 0 || unc < 0 || cmp < 0)
        ByteCursor.reject()
      cols += PqColumn(rgIdx, path,
        codecNames.getOrElse(codec, s"codec_$codec"),
        numValues, cmp, unc, minV, maxV, nulls)
    }

    def readRowGroup(): Unit = {
      val rgIdx = rg
      rg += 1
      struct(tc, 1) { (id, tpe) =>
        (id, tpe) match {
          case (1, 9) => // columns: ColumnChunk structs
            listOf(tc, 12) {
              struct(tc, 2) { (cid, ctpe) =>
                (cid, ctpe) match {
                  case (3, 12) => readColumnMeta(rgIdx)
                  case (_, t) => skipValue(tc, t, 2)
                }
              }
            }
          case (_, t) => skipValue(tc, t, 1)
        }
      }
    }

    struct(tc, 0) { (id, tpe) =>
      (id, tpe) match {
        case (1, 5) => version = tc.zigzag().toInt
        case (2, 9) => listOf(tc, 12)(readSchemaElement()) // schema
        case (3, 6) => nRows = tc.zigzag()
        case (4, 9) => listOf(tc, 12)(readRowGroup()) // row_groups
        case (6, 8) => createdBy = str(binary(tc))
        case (_, t) => skipValue(tc, t, 0)
      }
    }
    if (version < 0 || nRows < 0 || !schemaSeen) return None
    if (tc.pos != tc.end) return None // trailing bytes: misparse
    Some(PqMeta(version, nRows, rg, leaves, createdBy, cols.result()))
  }

  // ---- fixture ------------------------------------------------------ //

  /** Thrift compact-protocol writer for the fixture footer. */
  private final class TW {
    private val out = new java.io.ByteArrayOutputStream()
    private var last = List(0) // field-id stack (one frame per struct)
    def bytes: Array[Byte] = out.toByteArray
    def raw(v: Int): Unit = out.write(v & 0xff)
    def writeVarint(v: Long): Unit = out.write(ByteCursor.varint(v))
    def writeZigzag(v: Long): Unit = out.write(ByteCursor.zigzag(v))
    def field(id: Int, tpe: Int): Unit = {
      val delta = id - last.head
      if (delta >= 1 && delta <= 15) raw((delta << 4) | tpe)
      else { raw(tpe); writeZigzag(id.toLong) }
      last = id :: last.tail
    }
    def push(): Unit = last = 0 :: last
    def pop(): Unit = { raw(0); last = last.tail }
    def i32(id: Int, v: Long): Unit = { field(id, 5); writeZigzag(v) }
    def i64(id: Int, v: Long): Unit = { field(id, 6); writeZigzag(v) }
    def bin(id: Int, v: Array[Byte]): Unit = {
      field(id, 8); writeVarint(v.length.toLong); out.write(v)
    }
    def strF(id: Int, v: String): Unit =
      bin(id, v.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    def list(id: Int, n: Int, elemType: Int): Unit = {
      field(id, 9)
      if (n < 15) raw((n << 4) | elemType)
      else { raw(0xf0 | elemType); writeVarint(n.toLong) }
    }
  }

  /** Deterministic per-id parquet file (real footer, filler data
    * region): k = id%3+2 leaf columns alternating INT64/BYTE_ARRAY,
    * g = id%2+1 row groups, closed-form sizes/codecs/INT64 stats, an
    * UNKNOWN extra field (id 32767) the skip path must walk over.
    */
  def synthParquet(id: Long): Array[Byte] = {
    val k = (id % 3 + 2).toInt
    val g = (id % 2 + 1).toInt
    val rowsPerGroup = id % 50 + 10
    val w = new TW
    // FileMetaData
    w.push()
    w.i32(1, 1L) // version
    w.list(2, k + 1, 12) // schema: root + k leaves
    // root element
    w.push(); w.strF(4, "schema"); w.i32(5, k.toLong); w.pop()
    (0 until k).foreach { j =>
      w.push()
      w.i32(1, if (j % 2 == 0) 2L else 6L) // INT64 / BYTE_ARRAY
      w.i32(3, 1L) // repetition: REQUIRED-ish (skipped by reader)
      w.strF(4, s"c$j")
      w.pop()
    }
    w.i64(3, g * rowsPerGroup) // num_rows
    w.list(4, g, 12) // row_groups
    (0 until g).foreach { r =>
      w.push()
      w.list(1, k, 12) // columns
      (0 until k).foreach { j =>
        w.push() // ColumnChunk
        w.i64(2, 4L + r * 1000 + j * 100) // file_offset
        w.field(3, 12) // meta_data struct
        w.push()
        w.i32(1, if (j % 2 == 0) 2L else 6L) // type
        w.list(2, 1, 5); w.writeZigzag(0L) // encodings: [PLAIN]
        w.list(3, 1, 8) // path_in_schema
        val p = s"c$j".getBytes("UTF-8")
        w.writeVarint(p.length.toLong); p.foreach(x => w.raw(x))
        w.i32(4, (id + j) % 3) // codec
        w.i64(5, rowsPerGroup) // num_values
        w.i64(6, 1000L + 10 * j + r + id % 100) // uncompressed
        w.i64(7, 1000L + 10 * j + r + id % 100 - (j + 1)) // compressed
        w.i64(9, 4L + r * 1000 + j * 100) // data_page_offset
        if (j % 2 == 0) { // INT64 stats
          w.field(12, 12)
          w.push()
          w.i64(3, (id + j) % 3) // null_count
          w.bin(5, ByteCursor.le64(id + r + rowsPerGroup - 1)) // max_value
          w.bin(6, ByteCursor.le64(id + r)) // min_value
          w.pop()
        }
        // an unknown trailing field newer writers might add: the
        // reader must structurally skip it
        w.field(32767, 8)
        val x = s"x$id".getBytes("UTF-8")
        w.writeVarint(x.length.toLong); x.foreach(c => w.raw(c))
        w.pop() // ColumnMetaData
        w.pop() // ColumnChunk
      }
      w.i64(2, k * 1100L) // total_byte_size
      w.i64(3, rowsPerGroup) // num_rows
      w.pop()
    }
    w.strF(6, s"graft-writer 1.${id % 10}")
    w.pop()
    val footer = w.bytes
    val out = new java.io.ByteArrayOutputStream()
    out.write("PAR1".getBytes("UTF-8"))
    // filler "data" region — the census never reads it
    val fill = (id % 17 + 3).toInt
    (0 until fill).foreach(j => out.write(((id + j) % 256).toInt))
    out.write(footer)
    out.write(ByteCursor.le32(footer.length))
    out.write("PAR1".getBytes("UTF-8"))
    out.toByteArray
  }

  def synthParquetCol(c: Column): Column =
    udf { id: Long => synthParquet(id) }.apply(c)
  def footerCol(c: Column): Column =
    udf { b: Array[Byte] => parseFooter(b) }.apply(c)

  // ---- schema-less thrift-compact census ---------------------------- //

  final case class ThriftCensus(n_fields: Long, n_int: Long,
                                n_bool: Long, n_str: Long,
                                n_double: Long, n_list: Long,
                                n_struct: Long, max_field_id: Long,
                                max_depth: Int, int_sum: Long,
                                str_bytes: Long)

  /** Schema-less census of a bare thrift-compact STRUCT — the triage
    * walk for unknown Thrift payloads (RPC dumps, serialized caches),
    * the exact sibling of the protobuf census (q383): same walker the
    * parquet footer uses ([[ByteCursor]] + the compact grammar above),
    * counting per-type fields, nesting depth, zigzag int sums and
    * string byte volume instead of extracting known ids. Trailing
    * bytes, reserved types, depth bombs and truncation return None.
    */
  def thriftCensus(b: Array[Byte]): Option[ThriftCensus] = ByteCursor.total {
    if (b == null || b.length == 0) return None
    val tc = ByteCursor(b)
    var nFields = 0L; var nInt = 0L; var nBool = 0L; var nStr = 0L
    var nDouble = 0L; var nList = 0L; var nStruct = 0L
    var maxField = 0L; var maxDepth = 0
    var intSum = 0L; var strBytes = 0L
    def value(tpe: Int, depth: Int): Unit = {
      if (depth > 16 || nFields > 1000000) ByteCursor.reject()
      if (depth > maxDepth) maxDepth = depth
      tpe match {
        case 1 | 2 => nBool += 1
        case 3 => tc.skip(1)
        case 4 | 5 | 6 => nInt += 1; intSum += tc.zigzag()
        case 7 => nDouble += 1; tc.skip(8)
        case 8 => nStr += 1; strBytes += binary(tc).length
        case 9 | 10 =>
          val (n, et) = listHeader(tc)
          nList += 1
          var k = 0L
          while (k < n) { value(et, depth + 1); k += 1 }
        case 11 => // map: size, one kt/vt nibble byte, then pairs
          nList += 1
          val (n, kt, vt) = mapHeader(tc)
          var k = 0L
          while (k < n) { value(kt, depth + 1); value(vt, depth + 1); k += 1 }
        case 12 => nStruct += 1; fields(depth + 1)
        case _ => ByteCursor.reject() // reserved types
      }
    }
    def fields(depth: Int): Unit =
      struct(tc, depth) { (id, tpe) =>
        if (id < 0) ByteCursor.reject()
        nFields += 1
        if (id > maxField) maxField = id
        value(tpe, depth)
      }
    fields(1)
    if (tc.pos != tc.end) return None // trailing bytes: misparse
    Some(ThriftCensus(nFields, nInt, nBool, nStr, nDouble, nList,
      nStruct, maxField, maxDepth, intSum, strBytes))
  }

  /** Deterministic per-id thrift-compact struct: cycled scalar fields,
    * an i64 list, a nested struct, a long-form field id (200) the
    * delta encoding can't reach, and a negative zigzag value. */
  def synthThrift(id: Long): Array[Byte] = {
    val w = new TW
    w.push()
    w.i32(1, id % 100)
    w.strF(2, s"s${id % 10}")
    w.field(3, if (id % 2 == 0) 1 else 2) // bool in the type nibble
    w.field(4, 7) // double
    val dv = java.lang.Double.doubleToLongBits((id % 7).toDouble + 0.25)
    ByteCursor.le64(dv).foreach(x => w.raw(x))
    val n = (id % 3 + 1).toInt
    w.list(5, n, 6)
    (0 until n).foreach(j => w.writeZigzag(id * 10 + j))
    w.field(6, 12) // nested struct
    w.push()
    w.i32(1, -(id % 50) - 1) // negative zigzag
    w.strF(2, s"n${id % 10}")
    w.pop()
    w.i32(200, id % 30) // long-form header (delta > 15)
    w.pop()
    w.bytes
  }

  def synthThriftCol(c: Column): Column =
    udf { id: Long => synthThrift(id) }.apply(c)
  def thriftCensusCol(c: Column): Column =
    udf { b: Array[Byte] => thriftCensus(b) }.apply(c)
}
