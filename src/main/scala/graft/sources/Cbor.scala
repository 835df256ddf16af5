package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** CBOR census (RFC 8949) — the self-describing binary interchange
  * format beside JSON/protobuf/msgpack in API-dump and embedded
  * corpora. A pure initial-byte type walk (major type in the high 3
  * bits, additional info in the low 5), no tables:
  *
  *  - majors 0/1: unsigned / negative integers (info 24..27 widths);
  *  - majors 2/3: byte / text strings (definite lengths only — an
  *    indefinite CHUNKED string returns None, documented scope);
  *  - majors 4/5: arrays / maps, definite or indefinite (0xFF break);
  *  - major 6: tags — counted, content walked;
  *  - major 7: false/true/null/undefined + float16/32/64 (the half-
  *    float exponent/mantissa split decoded first-principles).
  *
  * The census is the triage row an ingest pipeline wants before
  * committing to a schema: node counts per kind, nesting depth, the
  * integer sum and text byte volume. Reserved info values (28-30),
  * a lone break, trailing bytes, truncation, depth > 32 and item
  * counts past a hard cap all return None — reject, never misparse.
  */
object Cbor {

  final case class WalkCensus(top_type: String, n_nodes: Long,
                              n_int: Long, n_str: Long, n_bytes: Long,
                              n_arr: Long, n_map: Long, n_bool: Long,
                              n_null: Long, n_float: Long, n_tag: Long,
                              max_depth: Int, int_sum: Long,
                              str_bytes: Long)

  private final class St {
    var nodes = 0L; var ints = 0L; var strs = 0L; var byts = 0L
    var arrs = 0L; var maps = 0L; var bools = 0L; var nulls = 0L
    var floats = 0L; var tags = 0L; var maxDepth = 0
    var intSum = 0L; var strBytes = 0L
  }

  def census(b: Array[Byte]): Option[WalkCensus] = {
    if (b == null || b.length == 0) return None
    val st = new St
    val c = ByteCursor(b)
    /** The argument for additional-info `info` (length or value):
      * 24..27 carry a 1/2/4/8-byte big-endian follow-on. */
    def arg(info: Int): Option[Long] = info match {
      case n if n < 24 => Some(n.toLong)
      case n if n <= 27 => c.be(1 << (n - 24))
      case _ => None // 28-30 reserved, 31 handled by callers
    }
    def topName(major: Int, info: Int): String = major match {
      case 0 | 1 => "int"
      case 2 => "bytes"
      case 3 => "text"
      case 4 => "array"
      case 5 => "map"
      case 6 => "tag"
      case 7 => info match {
        case 20 | 21 => "bool"
        case 22 | 23 => "null"
        case 25 | 26 | 27 => "float"
        case _ => "simple"
      }
      case _ => "?"
    }
    /** Walk one item; false poisons. */
    def item(depth: Int): Boolean = {
      if (depth > 32 || st.nodes > 1000000) return false
      val ib = c.u8().getOrElse(return false)
      if (ib == 0xff) return false // lone break
      val major = ib >> 5; val info = ib & 0x1f
      st.nodes += 1
      if (depth > st.maxDepth) st.maxDepth = depth
      major match {
        case 0 =>
          val v = arg(info).getOrElse(return false)
          st.ints += 1; st.intSum += v; true
        case 1 =>
          val v = arg(info).getOrElse(return false)
          st.ints += 1; st.intSum += -1L - v; true
        case 2 | 3 =>
          if (info == 31) return false // chunked string: out of scope
          val n = arg(info).getOrElse(return false)
          c.skip(n).getOrElse(return false)
          if (major == 2) st.byts += 1
          else { st.strs += 1; st.strBytes += n }
          true
        case 4 | 5 =>
          if (major == 4) st.arrs += 1 else st.maps += 1
          val per = if (major == 5) 2 else 1
          if (info == 31) { // indefinite: walk to the break
            var more = true
            while (more) {
              if (c.u8(c.pos).getOrElse(return false) == 0xff) {
                c.pos += 1; more = false
              }
              else {
                var k = 0
                while (k < per) {
                  if (!item(depth + 1)) return false; k += 1
                }
              }
            }
            true
          } else {
            val n = arg(info).getOrElse(return false)
            if (n < 0 || n > 1000000) return false
            var k = 0L
            while (k < n * per) {
              if (!item(depth + 1)) return false; k += 1
            }
            true
          }
        case 6 =>
          arg(info).getOrElse(return false) // the tag number
          st.tags += 1
          item(depth + 1) // tag content is one item
        case 7 => info match {
          case 20 | 21 => st.bools += 1; true
          case 22 | 23 => st.nulls += 1; true
          case 24 => c.u8().isDefined // simple value 32..255
          case 25 => st.floats += 1; arg(25).isDefined // float16
          case 26 => st.floats += 1; arg(26).isDefined
          case 27 => st.floats += 1; arg(27).isDefined
          case n if n < 20 => true // simple values 0..19
          case _ => false // 28-31 reserved / break (handled above)
        }
        case _ => false
      }
    }
    val ib0 = b(0) & 0xff
    val top = topName(ib0 >> 5, ib0 & 0x1f)
    if (!item(1)) return None
    if (c.pos != c.end) return None // trailing bytes: misparse
    Some(WalkCensus(top, st.nodes, st.ints, st.strs, st.byts, st.arrs,
      st.maps, st.bools, st.nulls, st.floats, st.tags, st.maxDepth,
      st.intSum, st.strBytes))
  }

  // ---- fixture ------------------------------------------------------ //

  private def wArg(out: java.io.ByteArrayOutputStream, major: Int,
                   v: Long): Unit = {
    val m = major << 5
    if (v < 24) out.write(m | v.toInt)
    else if (v < 256) { out.write(m | 24); out.write(v.toInt) }
    else if (v < 65536) { out.write(m | 25); out.write(ByteCursor.be16(v)) }
    else { out.write(m | 26); out.write(ByteCursor.be32(v)) }
  }
  private def wText(out: java.io.ByteArrayOutputStream, s: String): Unit = {
    val x = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    wArg(out, 3, x.length.toLong); out.write(x)
  }

  /** Deterministic per-id document: a map of e = id%3+2 cycled entries
    * (uint / text / small array / bool) plus a negative-int entry, the
    * whole thing wrapped in tag 55799 (self-described CBOR) every 5th
    * id. Every census field is a closed form of id.
    */
  def synthCbor(id: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val e = (id % 3 + 2).toInt
    if (id % 5 == 0) wArg(out, 6, 55799L) // tag(55799)
    wArg(out, 5, e + 1L) // map
    (0 until e).foreach { j =>
      wText(out, s"k$j")
      j % 4 match {
        case 0 => wArg(out, 0, id * 10 + j)
        case 1 => wText(out, s"v${id % 10}-$j")
        case 2 =>
          val n = (id % 2 + 1).toInt
          wArg(out, 4, n.toLong)
          (0 until n).foreach(x => wArg(out, 0, j + x.toLong))
        case 3 =>
          out.write(if ((id + j) % 2 == 0) 0xf5 else 0xf4) // true/false
      }
    }
    wText(out, "neg")
    wArg(out, 1, id % 100) // -(id%100+1)
    out.toByteArray
  }

  def synthCborCol(c: Column): Column =
    udf { id: Long => synthCbor(id) }.apply(c)
  def censusCol(c: Column): Column =
    udf { b: Array[Byte] => census(b) }.apply(c)
}
