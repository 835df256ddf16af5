package graft

import graft.multimodal.Binary
import graft.sources.{BitCursor, BitWriter, ByteCursor, Huffman}
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The shared bounds-checked reader: every read returns its value
  * inside `[0, end)` and rejects past it (`total` turns the reject into
  * None), offsets stay Long, and the encoders the fixtures use
  * round-trip through the reads. */
class ByteCursorSpec extends AnyFunSuite {

  private def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray

  /** True when `read` rejects. */
  private def rejects(read: => Any): Boolean =
    ByteCursor.total { read; Some(()) }.isEmpty

  test("reads ending exactly at end succeed; one byte past rejects") {
    // five buffer bytes, but the window ends at 4
    val c = new ByteCursor(bytes(1, 2, 3, 4, 5), 0L, 4L)
    assert(c.le32(0) == 0x04030201L)
    assert(c.be32(0) == 0x01020304L)
    assert(rejects(c.le32(1)) && rejects(c.be16(3)))
    assert(c.u8(3) == 4 && rejects(c.u8(4)) && rejects(c.u8(-1)))
    assert(c.bytes(1, 3).toSeq == Seq[Byte](2, 3, 4))
    assert(rejects(c.bytes(1, 4)) && rejects(c.fourcc(1)))
    // sequential reads advance on success only
    assert(c.le16() == 0x0201 && c.pos == 2)
    assert(rejects(c.le32()) && c.pos == 2)
    c.skip(2)
    assert(c.pos == 4)
    assert(rejects(c.u8()) && rejects(c.skip(1)) && c.pos == 4)
    assert(rejects(c.skip(-1)) && rejects(c.bytes(-1L)))
  }

  test("u32 values at or above 2^31 stay positive; u64 keeps all bits") {
    val ones = ByteCursor(bytes(0xff, 0xff, 0xff, 0xff))
    assert(ones.le32(0) == 0xffffffffL)
    assert(ones.be32(0) == 0xffffffffL)
    assert(ByteCursor(bytes(0, 0, 0, 0x80)).le32(0) == 1L << 31)
    assert(ByteCursor(bytes(0x80, 0, 0, 0)).be32(0) == 1L << 31)
    assert(ByteCursor(Array.fill[Byte](8)(-1)).be64(0) == -1L)
    assert(ByteCursor(bytes(0xff, 0xfe)).be16(0) == 0xfffe)
    assert(ByteCursor(bytes(0x12, 0x34, 0x56)).uint(0, 3, little = true) ==
      0x563412L)
  }

  test("offsets and lengths beyond Int.MaxValue reject, never truncate") {
    val c = ByteCursor(bytes(9, 8, 7, 6, 5, 4, 3, 2))
    val wrap = (1L << 32) + 1 // .toInt == 1, a valid index
    assert(rejects(c.u8(wrap)) && rejects(c.le32(wrap)))
    assert(rejects(c.u8(Int.MaxValue.toLong + 1)))
    assert(rejects(c.be64(Long.MaxValue)) && rejects(c.le16(Long.MinValue)))
    assert(rejects(c.bytes(0, Int.MaxValue.toLong + 1)))
    assert(rejects(c.bytes(1, Long.MaxValue))) // at + n overflows
    assert(rejects(c.skip(1L << 33)) && c.pos == 0)
    assert(!c.has(Long.MaxValue, 1) && !c.has(0, Long.MaxValue))
  }

  test("varint: the 10-byte cap, truncation, and the unsigned top bit") {
    // nine continuation bytes + a terminator: exactly 10, bit 63 set
    val ten = ByteCursor(Array.fill[Byte](9)(0x80.toByte) :+ 1.toByte)
    assert(ten.varint() == Long.MinValue && ten.pos == 10)
    // an 11th byte is not a varint
    val eleven = ByteCursor(Array.fill[Byte](10)(0x80.toByte) :+ 0.toByte)
    assert(rejects(eleven.varint()) && eleven.pos == 0)
    // truncated mid-varint: rejects, cursor unmoved
    val cut = ByteCursor(bytes(0x96))
    assert(rejects(cut.varint()) && cut.pos == 0)
    assert(ByteCursor(bytes(0x96, 0x01)).varint() == 150L)
  }

  test("total: only a Reject becomes None; returns and program errors pass") {
    // a `return` inside the body still returns from the enclosing def
    def early(flag: Boolean): Option[Int] = ByteCursor.total {
      if (flag) return None
      Some(ByteCursor(bytes(7)).u8(0))
    }
    assert(early(flag = true).isEmpty && early(flag = false).contains(7))
    def found(b: Array[Byte]): Option[Int] = ByteCursor.total {
      var i = 0
      while (i < b.length) { if (b(i) == 5) return Some(i); i += 1 }
      None
    }
    assert(found(bytes(1, 5)).contains(1) && found(bytes(1)).isEmpty)
    // a window outside its buffer is a program error, not a reject
    assertThrows[IllegalArgumentException] {
      ByteCursor.total(Some(new ByteCursor(bytes(1, 2), 0L, 3L)))
    }
    assert(ByteCursor.total[Int](ByteCursor.reject()).isEmpty)
    // the Reject is a control throwable: NonFatal and Try pass it on
    assert(!scala.util.control.NonFatal(ByteCursor.Reject))
    assert(ByteCursor.total(
      scala.util.Try(ByteCursor(bytes()).u8()).toOption).isEmpty)
  }

  test("zigzag/varint and fixed-width encoders round-trip through reads") {
    val values = Seq(0L, 1L, -1L, 63L, -64L, 64L, 150L, 300L, -300L,
      Int.MaxValue.toLong, Int.MinValue.toLong, 1L << 35, Long.MaxValue,
      Long.MinValue)
    values.foreach { v =>
      val u = ByteCursor(ByteCursor.varint(v))
      assert(u.varint() == v && u.pos == u.end, s"varint $v")
      val z = ByteCursor(ByteCursor.zigzag(v))
      assert(z.zigzag() == v && z.pos == z.end, s"zigzag $v")
      assert(ByteCursor(ByteCursor.le64(v)).le64(0) == v)
      assert(ByteCursor(ByteCursor.be64(v)).be64(0) == v)
      assert(ByteCursor(ByteCursor.le32(v)).le32(0) == (v & 0xffffffffL))
      assert(ByteCursor(ByteCursor.be32(v)).be32(0) == (v & 0xffffffffL))
      assert(ByteCursor(ByteCursor.le16(v)).le16(0) == (v & 0xffff).toInt)
      assert(ByteCursor(ByteCursor.be24(v)).be(0, 3) == (v & 0xffffff))
    }
    // small magnitudes of either sign stay one byte under zigzag
    assert(ByteCursor.zigzag(-64L).length == 1)
    assert(ByteCursor.zigzag(63L).length == 1)
    assert(ByteCursor.varint(-1L).length == 10)
  }

  test("ISO-BMFF box walk: sizes 0/1/normal, and malformed sizes end it") {
    def box(typ: String, body: Array[Byte]): Array[Byte] =
      ByteCursor.be32(body.length + 8L) ++ typ.getBytes("US-ASCII") ++ body
    val large = ByteCursor.be32(1L) ++ "larg".getBytes("US-ASCII") ++
      ByteCursor.be64(20L) ++ bytes(7, 7, 7, 7)
    val toEnd = ByteCursor.be32(0L) ++ "rest".getBytes("US-ASCII") ++ bytes(1)
    val walk = ByteCursor(box("ftyp", bytes(1, 2, 3, 4)) ++ large ++ toEnd)
      .boxes().toList
    assert(walk.map { case (t, b) => (t, b.pos, b.end) } == List(
      ("ftyp", 8L, 12L), ("larg", 28L, 32L), ("rest", 40L, 41L)))
    // a size smaller than its header, or past the end, rejects
    Seq(4L, 1L, 64L, 0xffffffffL).foreach { size =>
      val evil = ByteCursor.be32(size) ++ "moov".getBytes("US-ASCII") ++
        new Array[Byte](8)
      assert(rejects(ByteCursor(evil).boxes().toList), s"size $size")
    }
  }

  private def bitsOf(b: Array[Byte], msb: Boolean): BitCursor =
    new BitCursor(b, 0L, b.length.toLong, msb)

  test("bit cursor: MSB and LSB order, the window's last bit, the reject") {
    val pair = bytes(0xa5, 0x0f)
    assert(bitsOf(pair, msb = true).bits(12) == 0xa50L)
    assert(bitsOf(pair, msb = false).bits(12) == 0xfa5L)
    val msb = bitsOf(pair, msb = true)
    assert(Seq.fill(16)(msb.bit()) ==
      Seq(1, 0, 1, 0, 0, 1, 0, 1, 0, 0, 0, 0, 1, 1, 1, 1))
    val lsb = bitsOf(pair, msb = false)
    assert(Seq.fill(16)(lsb.bit()) ==
      Seq(1, 0, 1, 0, 0, 1, 0, 1, 1, 1, 1, 1, 0, 0, 0, 0))
    // the window ends at 1 of 2 buffer bytes: bit 7 reads, bit 8 rejects
    val one = new BitCursor(pair, 0L, 1L, msb = true)
    assert(one.bits(7) == 0x52L && one.bit() == 1 && one.pos == 1L)
    assert(rejects(one.bit()))
    assert(rejects(bitsOf(bytes(), msb = false).bit()))
    assert(rejects(bitsOf(pair, msb = true).bits(17)))
    assertThrows[IllegalArgumentException](new BitCursor(pair, 1L, 3L, true))
  }

  test("bit cursor: unary cap, align and the byte position, 33-bit reads") {
    // 15 zeros, then a 1
    assert(bitsOf(bytes(0, 1), msb = true).unary(15) == 15)
    assert(rejects(bitsOf(bytes(0, 1), msb = true).unary(14)))
    assert(rejects(bitsOf(bytes(0, 0), msb = true).unary(100)))
    val c = new BitCursor(bytes(9, 0xe0, 0x3c), 1L, 3L, msb = true)
    assert(c.pos == 1L && c.bits(3) == 7L && c.pos == 2L)
    c.align()
    assert(c.pos == 2L && c.bits(8) == 0x3cL && c.pos == 3L)
    c.align() // already aligned: stays
    assert(c.pos == 3L && rejects(c.bit()))
    val wide = bitsOf(bytes(0xff, 0xff, 0xff, 0xff, 0x80), msb = true)
    assert(wide.bits(33) == (1L << 33) - 1 && wide.pos == 5L)
    val low = bitsOf(bytes(0, 0, 0, 0, 1), msb = false)
    assert(low.bits(33) == 1L << 32)
  }

  test("bit writer round-trips through the cursor in both orders") {
    val fields = Seq((1L, 1), (0x1f0L, 9), (0L, 3), (0x1fedcba98L, 33),
      (5L, 3), (0L, 0), (0xabcdL, 16), (1L, 1))
    Seq(true, false).foreach { msb =>
      Seq(0, 1).foreach { pad =>
        val w = new BitWriter(msb, pad)
        fields.foreach { case (v, n) => w.bits(v, n) }
        w.code(0x5, 3) // a Huffman code goes top bit first in either order
        val out = w.bytes
        val nBits = fields.map(_._2).sum + 3
        assert(out.length == (nBits + 7) / 8)
        val r = bitsOf(out, msb)
        fields.foreach { case (v, n) => assert(r.bits(n) == v, s"$v/$n") }
        assert(Seq.fill(3)(r.bit()) == Seq(1, 0, 1))
        // the padding fills the last byte, then the window ends
        assert(Seq.fill(8 - nBits % 8)(r.bit()).forall(_ == pad))
        assert(rejects(r.bit()))
      }
    }
    // only the low n bits are written
    val w = new BitWriter(msb = true, pad = 0)
    w.bits(0x1ffL, 4); w.bits(0L, 4)
    assert(w.bytes.sameElements(bytes(0xf0)))
  }

  test("huffman: T.81 Annex K tables round-trip every symbol") {
    Seq(Binary.jpegDcTable, Binary.jpegAcTable).foreach { h =>
      Seq(true, false).foreach { msb =>
        val w = new BitWriter(msb, pad = 1)
        h.symbols.foreach(h.encode(w, _))
        val r = bitsOf(w.bytes, msb)
        assert(h.symbols.forall(s => h.decode(r) == s))
      }
    }
    // K.3 table K.3: DC category 0 is 00, category 11 is 111111110
    val w = new BitWriter(msb = true, pad = 1)
    Binary.jpegDcTable.encode(w, 11); Binary.jpegDcTable.encode(w, 0)
    assert(w.bytes.sameElements(bytes(0xff, 0x1f)))
    // sixteen 1 bits are no DC code: a code no length matches rejects
    assert(rejects(Binary.jpegDcTable.decode(bitsOf(bytes(0xff, 0xff), true))))
    assert(rejects(Binary.jpegDcTable.decode(bitsOf(bytes(0xff), true))))
    assertThrows[IllegalArgumentException](
      Binary.jpegDcTable.encode(new BitWriter(true, 1), 12))
  }

  test("huffman from lengths: by length then symbol; one symbol reads 0 bits") {
    // lengths A=2 B=1 C=3 D=3 (RFC 1951 3.2.2): B=0, A=10, C=110, D=111
    val h = Huffman.fromLengths(Array(2, 1, 3, 3))
    assert(h.counts.take(3).sameElements(Array(1, 1, 2)))
    assert(h.symbols.sameElements(Array(1, 0, 2, 3)))
    val w = new BitWriter(msb = false, pad = 0)
    Seq(0, 1, 2, 3).foreach(h.encode(w, _))
    val r = bitsOf(w.bytes, msb = false)
    assert(Seq.fill(4)(h.decode(r)) == Seq(0, 1, 2, 3))
    // a code of one used symbol consumes (and writes) no bits
    val single = Huffman.fromLengths(Array(0, 0, 5, 0))
    val empty = bitsOf(bytes(), msb = false)
    assert(single.decode(empty) == 2 && single.decode(empty) == 2)
    val none = new BitWriter(msb = false, pad = 0)
    single.encode(none, 2)
    assert(none.bytes.isEmpty)
    // a code of no symbols matches nothing
    assert(rejects(Huffman.fromLengths(Array(0, 0)).decode(
      bitsOf(bytes(0, 0), msb = false))))
  }

  test("no byte-helper copies outside ByteCursor.scala") {
    val helper = ("""def (u8|u16|u24|u32|u64|le16|le24|le32|le64|be16|be24|""" +
      """be32|be64|u16le|u32le|raw32le|raw32be|varint|zigzag|zigzagLong|""" +
      """varintBytes|pngBe32|fourcc|boxes)\b""").r
    // `ByteCursor.total` is the only catch of a Reject: a parser that
    // catches Throwable, ControlThrowable or Reject (or everything)
    // would swallow it and turn a reject into a wrong value
    val catches = Seq(
      """\bControlThrowable\b""",
      """\bcase\s+\w+\s*:\s*(java\.lang\.)?Throwable\b""",
      """\bcase\s+(\w+\s*:\s*)?(ByteCursor\.)?Reject\b""",
      """\bcatch\s*\{\s*case\s+(_|[a-z]\w*)\s*(=>|if\b)""",
      """\ballCatch\b""").map(_.r)
    // `Inflate` is the one inflater; Warc's gzip member walk keeps its
    // own because it needs `getRemaining` after each member
    val inflater = """\bjava\.util\.zip\.Inflater\b|\bnew\s+Inflater\b""".r
    // Warc's member walk is the one gzip reader; its scaladoc names
    // GZIPInputStream, so only a construction counts
    val gunzip = """\bnew\s+(java\.util\.zip\.)?GZIPInputStream\b""".r
    // `BitCursor`, `BitWriter` and `Huffman` are the one bit reader,
    // bit writer and canonical Huffman code
    val bitCopy = """\bclass\s+\w*Bit(Reader|Writer)\b|\bclass\s+\w*Huff\w*Decoder\b""".r
    val inflaterFiles = Set("Inflate.scala", "Warc.scala")
    val parserDirs = Set("sources", "multimodal", "text")
    val hits = scanMain { (f, text, at) =>
      if (f.getFileName.toString == "ByteCursor.scala") Nil
      else {
        val copies =
          helper.findAllMatchIn(text).map(m => s"${at(m.start)}: ${m.matched}")
        val caught =
          if (!parserDirs.contains(f.getParent.getFileName.toString)) Nil
          else catches.flatMap(_.findAllMatchIn(text)
            .map(m => s"${at(m.start)}: catch ${m.matched}"))
        val inflates =
          if (inflaterFiles.contains(f.getFileName.toString)) Nil
          else inflater.findAllMatchIn(text)
            .map(m => s"${at(m.start)}: raw ${m.matched}").toList
        val more = (gunzip.findAllMatchIn(text) ++ bitCopy.findAllMatchIn(text))
          .map(m => s"${at(m.start)}: ${m.matched}").toList
        copies.toList ++ caught ++ inflates ++ more
      }
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("one native-expression seam and one deflater in src/main") {
    // native functions register only in GraftFunctions (idempotent) and
    // in ArrayScoreExpr.scored (scoped to one analysis); a driver-fit
    // model is an ArrayScorer, so no expression falls back from codegen
    val rules = Seq(
      """\bcreateOrReplaceTempFunction\b""".r ->
        Set("GraftFunctions.scala", "ArrayScoreExpr.scala"),
      """\bCodegenFallback\b""".r -> Set.empty[String],
      """\bregister\s*\(""".r -> Set("GraftFunctions.scala"),
      // Inflate.deflate is the one deflater
      """\bnew\s+(java\.util\.zip\.)?Deflater\b""".r -> Set("Inflate.scala"))
    val hits = scanMain { (f, text, at) =>
      rules.flatMap { case (re, allowed) =>
        if (allowed.contains(f.getFileName.toString)) Nil
        else re.findAllMatchIn(text).map(m => s"${at(m.start)}: ${m.matched}")
      }
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  /** `check(file, text, at)` over every Scala file in src/main, where
    * `at(offset)` names the file and line of a match. */
  private def scanMain(
      check: (java.nio.file.Path, String, Int => String) => Seq[String]): List[String] = {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root")
    val files = java.nio.file.Files.walk(root)
    try {
      files.iterator().asScala.filter(_.toString.endsWith(".scala")).flatMap { f =>
        val text = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
        check(f, text, i => s"$f:${text.substring(0, i).count(_ == '\n') + 1}")
      }.toList
    } finally files.close()
  }
}
