package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** SQLite database-file catalog extraction — app data dumps and
  * scraped `.db`/`.sqlite` files are a recurring crawl payload, and
  * the triage question is always the same: what tables does it hold?
  * Reads the 100-byte header (page size with the 1=65536 encoding,
  * page count, text encoding, user version) and walks page 1's
  * `sqlite_master` table b-tree LEAF cells — varint payload/rowid,
  * record header of serial types (NULL/ints/floats/text/blob), then
  * the (type, name, tbl_name, rootpage, sql) columns of each catalog
  * row.
  *
  * Scope boundaries, stated: an INTERIOR page-1 (huge schemas) and
  * cell payload overflow pages return None rather than a partial
  * catalog; only UTF-8 files (encoding 1) are read. Cursors stay
  * Long; every varint is length-capped (the byte-walk rule).
  */
object Sqlite {

  final case class SqliteTable(name: String, tbl_name: String,
                               rootpage: Long, sql: String)
  final case class SqliteMeta(page_size: Int, n_pages: Long,
                              encoding: String,
                              tables: Seq[SqliteTable])

  def parseSqlite(b: Array[Byte]): Option[SqliteMeta] = ByteCursor.total {
    if (b == null || b.length < 112) return None
    val magic = "SQLite format 3\u0000"
    var k = 0
    while (k < 16) {
      if (b(k) != magic.charAt(k).toByte) return None
      k += 1
    }
    val db = ByteCursor(b)
    val pageSize = db.be16(16) match {
      case 1 => 65536
      case v => v
    }
    if (pageSize < 512 || (pageSize & (pageSize - 1)) != 0) return None
    val nPages = db.be32(28)
    val encoding = db.be32(56) match {
      case 1 => "utf-8"
      case 2 => "utf-16le"
      case 3 => "utf-16be"
      case _ => return None
    }
    if (encoding != "utf-8") return None // documented scope
    // page 1: the sqlite_master root; its header sits AFTER the
    // 100-byte file header
    val ph = 100L
    if (ph + 8 > b.length) return None
    val pageType = db.u8(ph)
    if (pageType == 0x05) return None // interior root: out of scope
    if (pageType != 0x0D) return None
    val nCells = db.be16(ph + 3)
    if (nCells > 10000) return None
    // the cell-pointer array must fit in the buffer BEFORE we index
    // into it — a truncated file whose header claims more cells than
    // the bytes hold must reject, not throw (parser-totality rule)
    if (ph + 8 + 2L * nCells > b.length) return None
    val tables = Vector.newBuilder[SqliteTable]
    var c = 0
    while (c < nCells) {
      val cellPtr = db.be16(ph + 8 + 2L * c).toLong
      if (cellPtr < ph || cellPtr >= b.length) return None
      val cur = new ByteCursor(b, cellPtr, b.length)
      val payloadLen = bigVarint(cur)
      bigVarint(cur) // rowid
      // overflow (payload larger than what fits in-page): out of scope
      if (cur.pos + payloadLen > b.length) return None
      if (payloadLen > pageSize - 35L) return None
      val recStart = cur.pos
      val hdrLen = bigVarint(cur)
      if (hdrLen < 0 || recStart + hdrLen > b.length) return None
      val serials = Vector.newBuilder[Long]
      while (cur.pos < recStart + hdrLen)
        serials += bigVarint(cur)
      val st = serials.result()
      if (st.length < 5) return None
      var vp = recStart + hdrLen
      def readVal(serial: Long): (String, Long) = {
        // returns (text-or-stringified, int value) per serial type
        serial match {
          case 0 => ("", 0L)
          case s if s >= 1 && s <= 6 =>
            val n = Seq(1, 2, 3, 4, 6, 8)(s.toInt - 1)
            val raw = db.be(vp, n)
            // sign-extend
            val v = if (n < 8 && (raw & (1L << (8 * n - 1))) != 0)
              raw - (1L << (8 * n)) else raw
            vp += n; (v.toString, v)
          case 8 => ("0", 0L)
          case 9 => ("1", 1L)
          case s if s >= 13 && s % 2 == 1 =>
            val len = (s - 13) / 2
            if (vp + len > b.length) ByteCursor.reject()
            val t = new String(b.slice(vp.toInt, (vp + len).toInt),
              java.nio.charset.StandardCharsets.UTF_8)
            vp += len; (t, 0L)
          case s if s >= 12 && s % 2 == 0 =>
            val len = (s - 12) / 2
            if (vp + len > b.length) ByteCursor.reject()
            vp += len; ("", 0L) // blob: skipped
          case 7 =>
            val v = java.lang.Double.longBitsToDouble(db.be64(vp))
            vp += 8; (v.toString, v.toLong)
          case _ => ByteCursor.reject()
        }
      }
      val typ = readVal(st(0))._1
      val name = readVal(st(1))._1
      val tblName = readVal(st(2))._1
      val rootpage = readVal(st(3))._2
      val sql = readVal(st(4))._1
      if (typ == "table")
        tables += SqliteTable(name, tblName, rootpage, sql)
      c += 1
    }
    Some(SqliteMeta(pageSize, nPages, encoding, tables.result()))
  }

  /** SQLite varints are BIG-endian 7-bit groups, at most 9 bytes (the
    * 9th contributes all 8 bits). */
  private def bigVarint(c: ByteCursor): Long = {
    var v = 0L; var k = 0
    while (k < 8) {
      val byt = c.u8()
      if ((byt & 0x80) == 0) return (v << 7) | byt
      v = (v << 7) | (byt & 0x7f)
      k += 1
    }
    (v << 8) | c.u8()
  }

  // ---- fixture ------------------------------------------------------ //

  import ByteCursor.{be16, be32}

  /** Deterministic per-id database: 512-byte pages, id%3+1 tables in
    * sqlite_master (plus an index row the table filter must skip),
    * UTF-8, page count covering the schema roots. */
  def synthSqlite(id: Long): Array[Byte] = {
    val d = id % 10
    val nTables = (id % 3 + 1).toInt
    val pageSize = 512
    def record(typ: String, name: String, tbl: String, root: Long,
        sql: String): Array[Byte] = {
      val cols = Seq(typ, name, tbl).map(_.getBytes("UTF-8"))
      val sqlB = sql.getBytes("UTF-8")
      // serial types: three texts, one 1-byte int, one text
      val serials = Seq(cols(0).length * 2 + 13, cols(1).length * 2 + 13,
        cols(2).length * 2 + 13, 1, sqlB.length * 2 + 13)
      // header: all serials are < 128 except possibly text lens
      def sv(v: Int): Array[Byte] =
        if (v < 128) Array(v.toByte)
        else Array((0x80 | (v >> 7)).toByte, (v & 0x7f).toByte)
      val serialBytes = serials.flatMap(sv).toArray
      val hdr = sv(serialBytes.length + 1) // header-length varint = 1 byte
      val payload = hdr ++ serialBytes ++ cols(0) ++ cols(1) ++ cols(2) ++
        Array(root.toByte) ++ sqlB
      sv(payload.length) ++ Array((name.length % 120 + 1).toByte) ++ payload
    }
    val rows = (0 until nTables).map { k =>
      val nm = s"t${k}_$d"
      record("table", nm, nm, k + 2L,
        s"CREATE TABLE $nm (a INT, b TEXT)")
    } :+ record("index", s"idx_$d", s"t0_$d", nTables + 2L,
      s"CREATE INDEX idx_$d ON t0_$d (a)")
    val nCells = rows.length
    // lay cells from the page end downward (SQLite's layout)
    val page = new Array[Byte](pageSize - 100) // page 1 area after header
    var cellAt = page.length
    val ptrs = rows.map { r =>
      cellAt -= r.length
      System.arraycopy(r, 0, page, cellAt, r.length)
      cellAt + 100 // file-absolute offset
    }
    // leaf table page header at offset 100: type, first-freeblock,
    // cell count, content start, fragmented bytes
    page(0) = 0x0D
    val hdrBytes = be16(0) ++ be16(nCells) ++ be16(ptrs.last) ++
      Array(0.toByte)
    System.arraycopy(hdrBytes, 0, page, 1, hdrBytes.length)
    ptrs.zipWithIndex.foreach { case (p, i) =>
      val pb = be16(p)
      page(8 + 2 * i) = pb(0); page(9 + 2 * i) = pb(1)
    }
    val nPages = nTables + 2L
    val header = "SQLite format 3\u0000".getBytes("ISO-8859-1") ++
      be16(pageSize) ++ Array[Byte](1, 1, 0, 64, 32, 32) ++
      be32(7) ++               // 24 file change counter
      be32(nPages) ++          // 28 page count
      be32(0) ++ be32(0) ++    // 32/36 freelist trunk + count
      be32(1) ++               // 40 schema cookie
      be32(1) ++               // 44 schema format
      be32(0) ++ be32(0) ++    // 48/52 cache size, largest root
      be32(1) ++               // 56 text encoding: UTF-8
      be32((id % 50).toInt) ++ // 60 user version
      Array.fill(100 - 64)(0.toByte)
    val file = new Array[Byte](pageSize * nPages.toInt)
    System.arraycopy(header, 0, file, 0, 100)
    System.arraycopy(page, 0, file, 100, page.length)
    file
  }

  def synthSqliteCol(c: Column): Column =
    udf { id: Long => synthSqlite(id) }.apply(c)
  /** bytes → struct<page_size, n_pages, encoding,
    * tables: array<struct<name, tbl_name, rootpage, sql>>>. */
  def sqliteMetaCol(c: Column): Column =
    udf { b: Array[Byte] => parseSqlite(b) }.apply(c)
}
