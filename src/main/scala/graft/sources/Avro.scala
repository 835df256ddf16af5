package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** Avro Object Container File ingest — the row-oriented data-lake
  * format beside Parquet; log shippers and Kafka connect sinks emit
  * it constantly, so an ingest engine must at least open it. A
  * dependency-free reader of the OCF spec's core:
  *
  *  - magic `Obj\x01`, then the file-metadata map (avro.schema,
  *    avro.codec) in Avro map encoding (zigzag-varint block counts,
  *    negative-count blocks carry a byte size, zero terminates),
  *    then the 16-byte sync marker;
  *  - data blocks of (record count, byte size, payload, sync) — the
  *    per-block sync must equal the header's (torn/foreign blocks
  *    reject);
  *  - codecs: `null` and `deflate` (raw JDK Inflater — the two
  *    codecs the spec requires);
  *  - records decode against a FLAT record schema of primitive
  *    fields (string/bytes/long/int/double/float/boolean/null) —
  *    the minimal JSON field walk is deliberate (no JSON library in
  *    the sandbox); nested/union schemas are out of documented scope
  *    and return None rather than misparse.
  *
  * Values stringify (doubles via shortest-repr `toString`) so one
  * surface serves any flat schema; the caller casts.
  */
object Avro {

  private val Utf8 = java.nio.charset.StandardCharsets.UTF_8

  /** (codec, n_blocks, records as field-name → stringified value). */
  def parseAvro(b: Array[Byte])
    : Option[(String, Int, Seq[Map[String, String]])] = ByteCursor.total {
    if (b == null || b.length < 20) return None
    if (!(b(0) == 'O' && b(1) == 'b' && b(2) == 'j' && b(3) == 1))
      return None
    val cur = new ByteCursor(b, 4L, b.length)
    // file metadata map
    val meta = scala.collection.mutable.Map[String, Array[Byte]]()
    var blockCount = cur.zigzag()
    var guard = 0
    while (blockCount != 0 && guard < 64) {
      val n = if (blockCount < 0) {
        cur.zigzag() // block byte size: unused
        -blockCount
      } else blockCount
      if (n > 1024) return None
      var k = 0L
      while (k < n) {
        val key = lenBytes(cur)
        val value = lenBytes(cur)
        meta(new String(key, Utf8)) = value
        k += 1
      }
      blockCount = cur.zigzag()
      guard += 1
    }
    val codec = meta.get("avro.codec").map(new String(_, Utf8))
      .getOrElse("null")
    if (codec != "null" && codec != "deflate") return None
    val schema = meta.get("avro.schema").map(new String(_, Utf8))
      .getOrElse(return None)
    val fields = schemaFields(schema).getOrElse(return None)
    val sync = cur.bytes(16)
    // data blocks
    val records = Vector.newBuilder[Map[String, String]]
    var nBlocks = 0
    while (cur.pos < b.length) {
      val count = cur.zigzag()
      val size = cur.zigzag()
      if (count < 0 || count > 1000000 || size < 0) return None
      val payload = cur.bytes(size)
      val blockSync = cur.bytes(16)
      if (!java.util.Arrays.equals(blockSync, sync)) return None
      val data = if (codec == "deflate")
        Inflate(payload, raw = true, cap = 1 << 26)
          .getOrElse(return None)
      else payload
      val bc = ByteCursor(data)
      var r = 0L
      while (r < count) {
        val rec = Map.newBuilder[String, String]
        fields.foreach { case (name, typ) =>
          rec += name -> (typ match {
            case "string" => new String(lenBytes(bc), Utf8)
            case "bytes" => lenBytes(bc).map(x => f"${x & 0xff}%02x").mkString
            case "long" | "int" => bc.zigzag().toString
            case "double" =>
              java.lang.Double.longBitsToDouble(bc.le64()).toString
            case "float" =>
              java.lang.Float.intBitsToFloat(bc.le32().toInt).toString
            case "boolean" => (bc.u8() != 0).toString
            case "null" => ""
            case _ => return None
          })
        }
        records += rec.result()
        r += 1
      }
      if (bc.pos != data.length) return None // trailing bytes: misparse
      nBlocks += 1
    }
    Some((codec, nBlocks, records.result()))
  }

  /** Ordered (name, type) of a FLAT record schema; None when any
    * field's type isn't a primitive-name string. */
  private[graft] def schemaFields(schema: String)
    : Option[Seq[(String, String)]] = {
    val at = schema.indexOf("\"fields\"")
    if (at < 0) return None
    val Field =
      ("\\{\\s*\"name\"\\s*:\\s*\"([^\"]+)\"\\s*," +
        "\\s*\"type\"\\s*:\\s*\"([^\"]+)\"\\s*\\}").r
    val out = Field.findAllMatchIn(schema.substring(at))
      .map(m => (m.group(1), m.group(2))).toVector
    // a fields array we couldn't fully parse must not silently
    // half-decode: a field carrying extra keys ("default", "doc") or
    // with name/type reversed misses the exact-shape regex, and a
    // "null"-typed omission consumes zero bytes so the record decode
    // would still align — the column would silently disappear. So
    // require every object inside the fields ARRAY (brace-counted to
    // the array's matching ']') to be one of our matches, and reject
    // nested types ("type" followed by '{' or '[') outright.
    if (out.isEmpty) return None
    val rest = schema.substring(at)
    if ("\"type\"\\s*:\\s*[\\[{]".r.findFirstIn(rest).isDefined) return None
    val open = rest.indexOf('[')
    if (open < 0) return None
    var i = open; var depth = 0; var braces = 0; var end = -1
    while (i < rest.length && end < 0) {
      rest.charAt(i) match {
        case '[' => depth += 1
        case ']' => depth -= 1; if (depth == 0) end = i
        case '{' => braces += 1
        case _ =>
      }
      i += 1
    }
    if (end < 0 || braces != out.length) return None
    Some(out)
  }

  /** Avro's length-prefixed byte string over the shared [[ByteCursor]]. */
  private def lenBytes(c: ByteCursor): Array[Byte] = {
    val n = c.zigzag()
    if (n > (1 << 24)) ByteCursor.reject()
    c.bytes(n)
  }

  // ---- fixture ------------------------------------------------------ //

  import ByteCursor.{le64, zigzag}

  private def str(s: String): Array[Byte] = {
    val raw = s.getBytes(Utf8)
    zigzag(raw.length.toLong) ++ raw
  }

  /** Deterministic per-id OCF: the flat (name: string, n: long,
    * score: double, ok: boolean) schema, codec alternating
    * null/deflate, TWO data blocks of id%3+1 records each. */
  def synthAvro(id: Long): Array[Byte] = {
    val deflateCodec = id % 2 == 1
    val schema = "{\"type\":\"record\",\"name\":\"r\",\"fields\":[" +
      "{\"name\":\"name\",\"type\":\"string\"}," +
      "{\"name\":\"n\",\"type\":\"long\"}," +
      "{\"name\":\"score\",\"type\":\"double\"}," +
      "{\"name\":\"ok\",\"type\":\"boolean\"}]}"
    val sync = Array.tabulate(16)(k => ((id * 31 + k * 7 + 3) % 256).toByte)
    def record(i: Long): Array[Byte] =
      str(s"item ${id % 10}-$i") ++ zigzag(id * 10 + i) ++
        le64(java.lang.Double.doubleToLongBits((id % 7).toDouble + 0.5)) ++
        Array[Byte](if ((id + i) % 2 == 0) 1 else 0)
    val perBlock = (id % 3 + 1).toInt
    def block(b0: Int): Array[Byte] = {
      val payload = (0 until perBlock).toArray
        .flatMap(i => record(b0 * perBlock + i.toLong))
      val data = if (deflateCodec) deflateRaw(payload) else payload
      zigzag(perBlock.toLong) ++ zigzag(data.length.toLong) ++ data ++ sync
    }
    val metaMap = zigzag(2L) ++
      str("avro.schema") ++ str(schema) ++
      str("avro.codec") ++ str(if (deflateCodec) "deflate" else "null") ++
      zigzag(0L)
    "Obj".getBytes(Utf8) ++ Array[Byte](1) ++ metaMap ++ sync ++
      block(0) ++ block(1)
  }

  private def deflateRaw(data: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater(
      java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    d.setInput(data); d.finish()
    val out = new java.io.ByteArrayOutputStream(data.length + 32)
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  def synthAvroCol(c: Column): Column =
    udf { id: Long => synthAvro(id) }.apply(c)
  /** bytes → struct<_1: codec, _2: n_blocks,
    * _3: array<map<string,string>>>. */
  def avroCol(c: Column): Column =
    udf { b: Array[Byte] => parseAvro(b) }.apply(c)
}
