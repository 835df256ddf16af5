package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** PCAP capture census — network captures are a data-engineering
  * staple (observability dumps, security corpora), and the triage
  * row is protocol mix + traffic volume + time span. Walks the
  * classic (non-ng) format:
  *
  *  - global header: magic 0xA1B2C3D4 (µs) / 0xA1B23C4D (ns) in
  *    EITHER byte order (the magic doubles as the endianness probe),
  *    version 2.x, snaplen, link type (Ethernet = 1 parsed further,
  *    others counted as opaque);
  *  - per packet: ts sec/frac, captured + original lengths
  *    (incl_len > snaplen or > remaining bytes rejects — the classic
  *    crafted-capture trap), then for Ethernet the ethertype
  *    (IPv4/IPv6/ARP) and the IPv4 protocol (TCP/UDP/other).
  *
  * Span is last-minus-first timestamp in milliseconds (frac scaled by
  * the magic's resolution).
  */
object Pcap {

  final case class PcapCensus(endian: String, resolution: String,
                              link_type: Int, n_packets: Int,
                              total_bytes: Long, n_ipv4: Int, n_tcp: Int,
                              n_udp: Int, n_arp: Int, n_other: Int,
                              span_ms: Long)

  def census(b: Array[Byte]): Option[PcapCensus] = ByteCursor.total {
    if (b == null || b.length < 24) return None
    val c = ByteCursor(b)
    val magicBe = c.be32(0)
    val (little, nanos) = magicBe match {
      case 0xA1B2C3D4L => (false, false)
      case 0xA1B23C4DL => (false, true)
      case 0xD4C3B2A1L => (true, false)
      case 0x4D3CB2A1L => (true, true)
      case _ => return None
    }
    // major version
    if (c.uint(4, 2, little) != 2) return None
    val snaplen = c.uint(16, 4, little)
    val linkType = c.uint(20, 4, little).toInt
    var i = 24L
    var n = 0; var bytes = 0L
    var ipv4 = 0; var tcp = 0; var udp = 0; var arp = 0; var other = 0
    var firstTs = -1L; var lastTs = -1L
    val n1 = b.length.toLong
    while (i < n1) {
      // a torn packet header rejects
      val sec = c.uint(i, 4, little)
      val frac = c.uint(i + 4, 4, little)
      val incl = c.uint(i + 8, 4, little)
      val orig = c.uint(i + 12, 4, little)
      if (incl > snaplen || incl > orig || i + 16 + incl > n1) return None
      val tsMs = sec * 1000L + (if (nanos) frac / 1000000L else frac / 1000L)
      if (firstTs < 0) firstTs = tsMs
      lastTs = tsMs
      n += 1
      bytes += orig
      val p = i + 16
      if (linkType == 1 && incl >= 14) {
        // Ethernet II ethertype is ALWAYS big-endian (network order)
        val ethertype = c.be16(p + 12)
        ethertype match {
          case 0x0800 if incl >= 14 + 20 =>
            ipv4 += 1
            c.u8(p + 14 + 9) match { // IPv4 protocol field
              case 6 => tcp += 1
              case 17 => udp += 1
              case _ => other += 1
            }
          case 0x0806 => arp += 1
          case _ => other += 1
        }
      } else other += 1
      i += 16 + incl
    }
    if (n == 0) return None
    Some(PcapCensus(if (little) "little" else "big",
      if (nanos) "ns" else "us", linkType, n, bytes, ipv4, tcp, udp,
      arp, other, lastTs - firstTs))
  }

  // ---- fixture ------------------------------------------------------ //

  /** Deterministic per-id capture: endianness by parity, ns magic
    * every 4th, id%10+5 Ethernet packets cycling TCP/UDP/ARP with
    * closed-form sizes and a fixed inter-packet step. */
  def synthPcap(id: Long): Array[Byte] = {
    val little = id % 2 == 0
    val nanos = id % 4 == 3
    def w32(v: Long): Array[Byte] = ByteCursor.uint(v, 4, little)
    def w16(v: Int): Array[Byte] = ByteCursor.uint(v, 2, little)
    val out = new java.io.ByteArrayOutputStream()
    out.write(w32(if (nanos) 0xA1B23C4DL else 0xA1B2C3D4L))
    out.write(w16(2)); out.write(w16(4)) // version 2.4
    out.write(w32(0)); out.write(w32(0)) // thiszone, sigfigs
    out.write(w32(65535L)) // snaplen
    out.write(w32(1L)) // Ethernet
    val nPkts = (id % 10 + 5).toInt
    val stepMs = id % 5 + 1
    (0 until nPkts).foreach { k =>
      val payloadLen = ((id + k) % 20 + 6).toInt
      val kind = k % 3 // 0 tcp, 1 udp, 2 arp
      val ipLen = if (kind == 2) 0 else 20
      val incl = 14 + ipLen + payloadLen
      val tMs = 1700000000000L + k * stepMs
      out.write(w32(tMs / 1000L))
      out.write(w32(
        if (nanos) (tMs % 1000L) * 1000000L else (tMs % 1000L) * 1000L))
      out.write(w32(incl.toLong)); out.write(w32(incl.toLong))
      // Ethernet: dst/src MACs + ethertype (network order always)
      (0 until 12).foreach(j => out.write(((id + j) % 256).toInt))
      val ethertype = if (kind == 2) 0x0806 else 0x0800
      out.write(ByteCursor.be16(ethertype))
      if (kind != 2) {
        // minimal IPv4 header: version/IHL, ..., protocol at +9
        out.write(0x45)
        (1 until 9).foreach(j => out.write(((id + j) % 256).toInt))
        out.write(if (kind == 0) 6 else 17)
        (10 until 20).foreach(j => out.write(((id + j) % 256).toInt))
      }
      (0 until payloadLen).foreach(j => out.write(((id * 3 + j) % 256).toInt))
    }
    out.toByteArray
  }

  def synthPcapCol(c: Column): Column =
    udf { id: Long => synthPcap(id) }.apply(c)
  def censusCol(c: Column): Column =
    udf { b: Array[Byte] => census(b) }.apply(c)

  // ---- pcapng (block-structured next-generation captures) ---------- //

  final case class PcapngCensus(endian: String, resolution: String,
                                n_interfaces: Int, link_type: Int,
                                n_packets: Int, total_bytes: Long,
                                n_ipv4: Int, n_tcp: Int, n_udp: Int,
                                n_arp: Int, n_other: Int, span_ms: Long)

  /** PCAPNG census — modern observability corpora ship pcapng, not
    * classic pcap. Block-structured walk: SHB (type 0x0A0D0D0A whose
    * byte-order magic 0x1A2B3C4D doubles as the endianness probe,
    * version 1.x), IDB per interface (link type, snaplen, the
    * if_tsresol OPTION — power-of-10 resolutions only, the documented
    * scope), EPB (interface id, 64-bit split timestamp, captured +
    * original lengths, data padded to 4), with unknown block types
    * SKIPPED by their declared length (the extensibility contract).
    * Every block's leading and trailing total-length must agree, be
    * ≥ 12 and 4-aligned; option walks are length-checked against
    * their block — a violation returns None rather than a misparse
    * (the crafted-capture rule, same as classic).
    *
    * Census mirrors [[PcapCensus]] (endian/resolution/link_type of
    * interface 0, packet + protocol counts over Ethernet interfaces,
    * span from EPB timestamps at each interface's resolution) plus
    * n_interfaces.
    */
  def censusNg(b: Array[Byte]): Option[PcapngCensus] = ByteCursor.total {
    if (b == null || b.length < 28) return None
    val c = ByteCursor(b)
    // SHB block type
    if (c.be32(0) != 0x0A0D0D0AL) return None
    val little = c.be32(8) match {
      case 0x1A2B3C4DL => false
      case 0x4D3C2B1AL => true
      case _ => return None
    }
    val n1 = b.length.toLong
    // per-interface (linkType, tsresol power) in IDB order
    val ifaces = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var nPkts = 0; var bytes = 0L
    var ipv4 = 0; var tcp = 0; var udp = 0; var arp = 0; var other = 0
    var firstTs = -1L; var lastTs = -1L
    var i = 0L
    var sawShb = false
    while (i < n1) {
      if (i + 12 > n1) return None // torn block header
      val btype = c.uint(i, 4, little)
      val blen = c.uint(i + 4, 4, little)
      if (blen < 12 || (blen & 3) != 0 || i + blen > n1) return None
      // trailing length echo
      if (c.uint(i + blen - 4, 4, little) != blen) return None
      val body = i + 8
      val bodyEnd = i + blen - 4
      /** The if_tsresol power from the option walk at `p0` (6, for
        * microseconds, when absent); a malformed walk rejects. Codes
        * not asked for are skipped by length. */
      def tsresol(p0: Long): Int = {
        var p = p0
        var res = 6 // default: microseconds
        while (p < bodyEnd) {
          if (p + 4 > bodyEnd) ByteCursor.reject()
          val code = c.uint(p, 2, little)
          val olen = c.uint(p + 2, 2, little)
          val vEnd = p + 4 + olen
          if (vEnd > bodyEnd) ByteCursor.reject()
          if (code == 0) return res // opt_endofopt
          if (code == 9) { // if_tsresol
            if (olen != 1) ByteCursor.reject()
            val v = c.u8(p + 4)
            // fixed-point / absurd
            if ((v & 0x80) != 0 || v > 9) ByteCursor.reject()
            res = v
          }
          p = p + 4 + ((olen + 3) & ~3L) // pad to 4
        }
        res
      }
      btype match {
        case 0x0A0D0D0AL => // SHB (the first, or a new section)
          if (i + 28 > n1 || body + 12 > bodyEnd) return None
          if (c.uint(body + 4, 2, little) != 1) return None // major version
          if (sawShb) return None // multi-section: out of scope
          sawShb = true
        case 1L => // IDB
          if (body + 8 > bodyEnd) return None
          val lt = c.uint(body, 2, little).toInt
          val res = tsresol(body + 8)
          ifaces += ((lt, res))
        case 6L => // EPB
          if (body + 20 > bodyEnd) return None
          val ifId = c.uint(body, 4, little)
          if (ifId >= ifaces.length) return None // undeclared interface
          val (lt, res) = ifaces(ifId.toInt)
          val ts = (c.uint(body + 4, 4, little) << 32) |
            c.uint(body + 8, 4, little)
          val incl = c.uint(body + 12, 4, little)
          val orig = c.uint(body + 16, 4, little)
          if (incl > orig || body + 20 + incl > bodyEnd) return None
          // resolution 10^-res per tick → milliseconds
          val tsMs =
            if (res >= 3) ts / math.pow(10, res - 3).toLong
            else ts * math.pow(10, 3 - res).toLong
          if (firstTs < 0) firstTs = tsMs
          lastTs = tsMs
          nPkts += 1
          bytes += orig
          val p = body + 20
          if (lt == 1 && incl >= 14) {
            val ethertype = c.be16(p + 12)
            ethertype match {
              case 0x0800 if incl >= 14 + 20 =>
                ipv4 += 1
                c.u8(p + 14 + 9) match {
                  case 6 => tcp += 1
                  case 17 => udp += 1
                  case _ => other += 1
                }
              case 0x0806 => arp += 1
              case _ => other += 1
            }
          } else other += 1
        case _ => () // unknown block: skip by declared length
      }
      i += blen
    }
    if (!sawShb || ifaces.isEmpty || nPkts == 0) return None
    val (lt0, res0) = ifaces.head
    Some(PcapngCensus(if (little) "little" else "big",
      if (res0 == 9) "ns" else if (res0 == 6) "us" else s"1e-$res0",
      ifaces.length, lt0, nPkts, bytes, ipv4, tcp, udp, arp, other,
      lastTs - firstTs))
  }

  /** Deterministic per-id pcapng: endianness by parity, an explicit
    * ns if_tsresol option every 4th id, a second (non-Ethernet)
    * interface every 3rd id carrying 2 "other" packets, one unknown
    * custom block that must be skipped, and the same closed-form
    * Ethernet packet mix as [[synthPcap]]. */
  def synthPcapng(id: Long): Array[Byte] = {
    val little = id % 2 == 0
    val nanos = id % 4 == 3
    val twoIf = id % 3 == 0
    def w32(v: Long): Array[Byte] = ByteCursor.uint(v, 4, little)
    def w16(v: Int): Array[Byte] = ByteCursor.uint(v, 2, little)
    def block(btype: Long, body: Array[Byte]): Array[Byte] = {
      val pad = (4 - body.length % 4) % 4
      val blen = 12L + body.length + pad
      val out = new java.io.ByteArrayOutputStream()
      out.write(w32(btype)); out.write(w32(blen))
      out.write(body); (0 until pad).foreach(_ => out.write(0))
      out.write(w32(blen))
      out.toByteArray
    }
    val out = new java.io.ByteArrayOutputStream()
    // SHB: magic, version 1.0, section length -1 (unspecified)
    val shb = new java.io.ByteArrayOutputStream()
    shb.write(w32(0x1A2B3C4DL))
    shb.write(w16(1)); shb.write(w16(0))
    shb.write(w32(0xFFFFFFFFL)); shb.write(w32(0xFFFFFFFFL))
    out.write(block(0x0A0D0D0AL, shb.toByteArray))
    // IDB 0: Ethernet; explicit if_tsresol option when ns
    val idb0 = new java.io.ByteArrayOutputStream()
    idb0.write(w16(1)); idb0.write(w16(0)) // linktype, reserved
    idb0.write(w32(65535L)) // snaplen
    if (nanos) {
      idb0.write(w16(9)); idb0.write(w16(1)) // if_tsresol, len 1
      idb0.write(9); idb0.write(0); idb0.write(0); idb0.write(0) // pad
      idb0.write(w16(0)); idb0.write(w16(0)) // opt_endofopt
    }
    out.write(block(1L, idb0.toByteArray))
    // IDB 1 (every 3rd id): Linux SLL — its packets census as "other"
    if (twoIf) {
      val idb1 = new java.io.ByteArrayOutputStream()
      idb1.write(w16(113)); idb1.write(w16(0))
      idb1.write(w32(65535L))
      out.write(block(1L, idb1.toByteArray))
    }
    // a custom/unknown block the walk must skip by length
    out.write(block(0x0A0B0C0DL,
      Array.tabulate[Byte](6)(j => ((id + j) % 256).toByte)))
    val nPkts = (id % 10 + 5).toInt
    val stepMs = id % 5 + 1
    def epb(ifId: Long, tMs: Long, pkt: Array[Byte]): Array[Byte] = {
      val body = new java.io.ByteArrayOutputStream()
      body.write(w32(ifId))
      val ts = if (ifId == 0 && nanos) tMs * 1000000L else tMs * 1000L
      body.write(w32(ts >>> 32)); body.write(w32(ts & 0xFFFFFFFFL))
      body.write(w32(pkt.length.toLong)); body.write(w32(pkt.length.toLong))
      body.write(pkt)
      block(6L, body.toByteArray)
    }
    (0 until nPkts).foreach { k =>
      val payloadLen = ((id + k) % 20 + 6).toInt
      val kind = k % 3
      val ipLen = if (kind == 2) 0 else 20
      val pkt = new java.io.ByteArrayOutputStream()
      (0 until 12).foreach(j => pkt.write(((id + j) % 256).toInt))
      val ethertype = if (kind == 2) 0x0806 else 0x0800
      pkt.write(ByteCursor.be16(ethertype))
      if (kind != 2) {
        pkt.write(0x45)
        (1 until 9).foreach(j => pkt.write(((id + j) % 256).toInt))
        pkt.write(if (kind == 0) 6 else 17)
        (10 until 20).foreach(j => pkt.write(((id + j) % 256).toInt))
      }
      (0 until payloadLen).foreach(j => pkt.write(((id * 3 + j) % 256).toInt))
      out.write(epb(0L, 1700000000000L + k * stepMs, pkt.toByteArray))
    }
    if (twoIf) (0 until 2).foreach { k =>
      val pkt = Array.tabulate[Byte](16)(j => ((id + k + j) % 256).toByte)
      out.write(epb(1L,
        1700000000000L + (nPkts - 1) * stepMs, pkt))
    }
    out.toByteArray
  }

  def synthPcapngCol(c: Column): Column =
    udf { id: Long => synthPcapng(id) }.apply(c)
  def censusNgCol(c: Column): Column =
    udf { b: Array[Byte] => censusNg(b) }.apply(c)
}
