package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** Schema-less protobuf wire-format census — the triage pass a data
  * engineer runs on an unknown binary blob column: is it protobuf,
  * what fields does it carry, how is the payload distributed? Walks
  * the tag/value stream without any schema:
  *
  *  - tag = varint(field_no << 3 | wire_type); wire types 0 (varint),
  *    1 (fixed64), 2 (length-delimited), 5 (fixed32) — the deprecated
  *    group types 3/4 reject (proto3 never emits them);
  *  - field numbers must be valid (1..2^29-1);
  *  - length-delimited payloads that THEMSELVES parse as messages
  *    count as nested (one probe level — the heuristic real decoders
  *    use), else they count as strings/bytes;
  *  - varint values sum (the census's cheap aggregate anchor).
  *
  * Returns None unless the ENTIRE buffer parses — the walk is a
  * validator, not a scavenger.
  */
object Proto {

  final case class ProtoCensus(n_fields: Int, n_varint: Int,
                               n_fixed64: Int, n_len: Int, n_fixed32: Int,
                               n_nested: Int, max_field: Int,
                               varint_sum: Long, len_bytes: Long)

  def census(b: Array[Byte]): Option[ProtoCensus] = {
    if (b == null || b.length == 0) return None
    walk(b, 0L, b.length.toLong, probeNested = true)
  }

  private def walk(b: Array[Byte], from: Long, hi: Long,
      probeNested: Boolean): Option[ProtoCensus] = {
    val c = new ByteCursor(b, from, hi)
    var nv = 0; var n64 = 0; var nl = 0; var n32 = 0; var nested = 0
    var maxField = 0
    var vsum = 0L; var lbytes = 0L
    while (c.pos < c.end) {
      val tag = c.varint().getOrElse(return None)
      val field = (tag >>> 3).toInt
      val wt = (tag & 7).toInt
      if (field < 1 || field > 0x1FFFFFFF) return None
      if (field > maxField) maxField = field
      wt match {
        case 0 =>
          vsum += c.varint().getOrElse(return None); nv += 1
        case 1 =>
          c.skip(8).getOrElse(return None); n64 += 1
        case 2 =>
          val len = c.varint().getOrElse(return None)
          val at = c.pos
          c.skip(len).getOrElse(return None)
          nl += 1; lbytes += len
          if (probeNested && len > 0 &&
            walk(b, at, at + len, probeNested = false).isDefined)
            nested += 1
        case 5 =>
          c.skip(4).getOrElse(return None); n32 += 1
        case _ => return None // groups (3/4) and invalid types
      }
    }
    Some(ProtoCensus(nv + n64 + nl + n32, nv, n64, nl, n32, nested,
      maxField, vsum, lbytes))
  }

  // ---- fixture ------------------------------------------------------ //

  private def tag(field: Int, wt: Int): Array[Byte] =
    ByteCursor.varint((field.toLong << 3) | wt)

  /** Deterministic per-id message: id%5+1 varint fields (values
    * id*3+k), one fixed64, one fixed32, a string field, and a NESTED
    * message (itself two varints) the probe must count. */
  def synthProto(id: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val nV = (id % 5 + 1).toInt
    (1 to nV).foreach { k =>
      out.write(tag(k, 0)); out.write(ByteCursor.varint(id * 3 + k))
    }
    out.write(tag(9, 1)); out.write(Array.fill(8)(0x11.toByte))
    out.write(tag(10, 5)); out.write(Array.fill(4)(0x22.toByte))
    val s = s"blob ${id % 10}".getBytes("UTF-8")
    out.write(tag(11, 2)); out.write(ByteCursor.varint(s.length.toLong))
    out.write(s)
    val inner = new java.io.ByteArrayOutputStream()
    inner.write(tag(1, 0)); inner.write(ByteCursor.varint(id % 100))
    inner.write(tag(2, 0)); inner.write(ByteCursor.varint(7L))
    val ib = inner.toByteArray
    out.write(tag(12, 2)); out.write(ByteCursor.varint(ib.length.toLong))
    out.write(ib)
    out.toByteArray
  }

  def synthProtoCol(c: Column): Column =
    udf { id: Long => synthProto(id) }.apply(c)
  def censusCol(c: Column): Column =
    udf { b: Array[Byte] => census(b) }.apply(c)
}
