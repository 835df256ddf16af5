package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** MessagePack census — the other self-describing binary interchange
  * format (Redis dumps, RPC payloads, columnar sidecars). A pure
  * initial-byte dispatch, no tables:
  *
  *  - positive/negative fixint, uint8/16/32/64, int8/16/32/64;
  *  - fixstr / str8/16/32 and bin8/16/32 (length-prefixed, skipped);
  *  - fixarray / array16/32 and fixmap / map16/32 (recursive walk);
  *  - nil, booleans, float32/64;
  *  - ext types (fixext1..16, ext8/16/32): counted and skipped by
  *    their declared width — the extensibility contract.
  *
  * Census row matches [[Cbor.WalkCensus]] (ext counts in `n_tag`).
  * 0xc1 (never-used), truncation, trailing bytes, depth > 32 and item
  * counts past a hard cap return None — reject, never misparse.
  */
object Msgpack {

  def census(b: Array[Byte]): Option[Cbor.WalkCensus] = {
    if (b == null || b.length == 0) return None
    val c = ByteCursor(b)
    var nodes = 0L; var ints = 0L; var strs = 0L; var byts = 0L
    var arrs = 0L; var maps = 0L; var bools = 0L; var nulls = 0L
    var floats = 0L; var exts = 0L; var maxDepth = 0
    var intSum = 0L; var strBytes = 0L
    def topName(ib: Int): String = ib match {
      case x if x <= 0x7f || x >= 0xe0 => "int"
      case x if (x >= 0x80 && x <= 0x8f) || x == 0xde || x == 0xdf => "map"
      case x if (x >= 0x90 && x <= 0x9f) || x == 0xdc || x == 0xdd => "array"
      case x if (x >= 0xa0 && x <= 0xbf) || (x >= 0xd9 && x <= 0xdb) => "text"
      case 0xc0 => "null"
      case 0xc2 | 0xc3 => "bool"
      case 0xc4 | 0xc5 | 0xc6 => "bytes"
      case 0xca | 0xcb => "float"
      case x if x >= 0xcc && x <= 0xd3 => "int"
      case _ => "ext"
    }
    def walk(depth: Int): Boolean = {
      if (depth > 32 || nodes > 1000000) return false
      val ib = c.u8().getOrElse(return false)
      nodes += 1
      if (depth > maxDepth) maxDepth = depth
      def kids(n: Long, per: Int): Boolean = {
        if (n < 0 || n > 1000000) return false
        var k = 0L
        while (k < n * per) { if (!walk(depth + 1)) return false; k += 1 }
        true
      }
      def strBody(n: Long): Boolean = {
        strs += 1; strBytes += n; c.skip(n).isDefined
      }
      ib match {
        case x if x <= 0x7f => ints += 1; intSum += x; true // pos fixint
        case x if x >= 0xe0 => // neg fixint (-32..-1)
          ints += 1; intSum += (x - 256); true
        case x if x >= 0x80 && x <= 0x8f => maps += 1; kids(x - 0x80L, 2)
        case x if x >= 0x90 && x <= 0x9f => arrs += 1; kids(x - 0x90L, 1)
        case x if x >= 0xa0 && x <= 0xbf => strBody(x - 0xa0L) // fixstr
        case 0xc0 => nulls += 1; true
        case 0xc1 => false // never used
        case 0xc2 => bools += 1; true
        case 0xc3 => bools += 1; true
        case 0xc4 | 0xc5 | 0xc6 => // bin8/16/32
          val w = 1 << (ib - 0xc4)
          val n = c.be(w).getOrElse(return false)
          byts += 1; c.skip(n).isDefined
        case 0xc7 | 0xc8 | 0xc9 => // ext8/16/32
          val w = 1 << (ib - 0xc7)
          val n = c.be(w).getOrElse(return false)
          exts += 1
          c.skip(1).isDefined && c.skip(n).isDefined // type byte + payload
        case 0xca => floats += 1; c.skip(4).isDefined
        case 0xcb => floats += 1; c.skip(8).isDefined
        case 0xcc | 0xcd | 0xce | 0xcf => // uint8/16/32/64
          val w = 1 << (ib - 0xcc)
          val v = c.be(w).getOrElse(return false)
          ints += 1; intSum += v; true
        case 0xd0 | 0xd1 | 0xd2 | 0xd3 => // int8/16/32/64
          val w = 1 << (ib - 0xd0)
          val raw = c.be(w).getOrElse(return false)
          val bits = 8 * w
          val v = if (w == 8) raw
          else if ((raw & (1L << (bits - 1))) != 0) raw - (1L << bits)
          else raw
          ints += 1; intSum += v; true
        case x if x >= 0xd4 && x <= 0xd8 => // fixext1..16
          exts += 1
          c.skip(1).isDefined && c.skip(1L << (x - 0xd4)).isDefined
        case 0xd9 | 0xda | 0xdb => // str8/16/32
          val w = 1 << (ib - 0xd9)
          val n = c.be(w).getOrElse(return false)
          strBody(n)
        case 0xdc | 0xdd => // array16/32
          val w = 2 << (ib - 0xdc)
          val n = c.be(w).getOrElse(return false)
          arrs += 1; kids(n, 1)
        case 0xde | 0xdf => // map16/32
          val w = 2 << (ib - 0xde)
          val n = c.be(w).getOrElse(return false)
          maps += 1; kids(n, 2)
        case _ => false
      }
    }
    val top = topName(b(0) & 0xff)
    if (!walk(1)) return None
    if (c.pos != c.end) return None // trailing bytes: misparse
    Some(Cbor.WalkCensus(top, nodes, ints, strs, byts, arrs, maps,
      bools, nulls, floats, exts, maxDepth, intSum, strBytes))
  }

  // ---- fixture ------------------------------------------------------ //

  /** Deterministic per-id document: a fixmap of e = id%3+2 cycled
    * entries — fixint / uint16 (forced width) / fixarray of fixints /
    * bool — plus a negative-fixint entry and a float64 entry; a
    * fixext4 decoy every 4th id. Every census field is a closed form.
    */
  def synthMsgpack(id: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val e = (id % 3 + 2).toInt
    def text(s: String): Unit = {
      val x = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.write(0xa0 | x.length); out.write(x)
    }
    val extra = if (id % 4 == 0) 3 else 2 // neg + float (+ ext)
    out.write(0x80 | (e + extra)) // fixmap
    (0 until e).foreach { j =>
      text(s"k$j")
      j % 4 match {
        case 0 => out.write((id % 100 + j).toInt) // pos fixint (< 0x67)
        case 1 => // uint16: value 1000 + id%1000 forces the width
          val v = (1000 + id % 1000).toInt
          out.write(0xcd); out.write(ByteCursor.be16(v))
        case 2 =>
          val n = (id % 2 + 1).toInt
          out.write(0x90 | n)
          (0 until n).foreach(x => out.write(j + x))
        case 3 => out.write(if ((id + j) % 2 == 0) 0xc3 else 0xc2)
      }
    }
    text("neg")
    out.write(256 - (id % 30 + 1).toInt) // negative fixint
    text("f")
    out.write(0xcb) // float64
    val dv = java.lang.Double.doubleToLongBits((id % 7).toDouble + 0.5)
    out.write(ByteCursor.be64(dv))
    if (id % 4 == 0) {
      text("x")
      out.write(0xd6); out.write(42) // fixext4, type 42
      (0 until 4).foreach(j => out.write(((id + j) % 256).toInt))
    }
    out.toByteArray
  }

  def synthMsgpackCol(c: Column): Column =
    udf { id: Long => synthMsgpack(id) }.apply(c)
  def censusCol(c: Column): Column =
    udf { b: Array[Byte] => census(b) }.apply(c)
}
