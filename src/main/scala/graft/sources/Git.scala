package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** Git loose-object extraction — code crawls that mirror repositories
  * meet `.git/objects/xx/...` files constantly; each is
  * zlib(`<type> <size>` + NUL + content). Inflates (bomb-guarded),
  * validates the declared size against the actual payload, then
  * dispatches:
  *
  *  - `blob`: line count + the text (Latin-1-safe);
  *  - `commit`: tree sha, parent COUNT (merges have 2+), author
  *    name/email/epoch from the `author` line's trailing
  *    `timestamp tz` pair, first message line;
  *  - `tree`: `<mode> <name>` + NUL + 20-byte sha entries — count and
  *    newline-joined `mode name` listing (shas hex in the listing's
  *    order is the caller's follow-up, kept out of the row).
  *
  * Packfiles (delta chains) are a different on-disk format and out of
  * documented scope; this is the loose half.
  */
object Git {

  final case class GitObject(obj_type: String, size: Long, n_lines: Int,
                             tree_sha: String, n_parents: Int,
                             author: String, author_epoch: Long,
                             message: String, n_entries: Int,
                             listing: String)

  private val Empty = GitObject("", 0L, 0, "", 0, "", 0L, "", 0, "")

  def parseLoose(b: Array[Byte]): Option[GitObject] = {
    if (b == null || b.length < 3) return None
    val data = Inflate(b, raw = false, cap = 1 << 26)
      .getOrElse(return None)
    val nul = data.indexOf(0.toByte)
    if (nul <= 0 || nul > 32) return None
    val header = new String(data, 0, nul,
      java.nio.charset.StandardCharsets.US_ASCII)
    val sp = header.indexOf(' ')
    if (sp <= 0) return None
    val typ = header.substring(0, sp)
    val size = header.substring(sp + 1).toLongOption.getOrElse(return None)
    val content = java.util.Arrays.copyOfRange(data, nul + 1, data.length)
    if (content.length != size) return None // declared size must match
    typ match {
      case "blob" =>
        val text = new String(content,
          java.nio.charset.StandardCharsets.ISO_8859_1)
        val lines = if (text.isEmpty) 0
          else text.count(_ == '\n') + (if (text.endsWith("\n")) 0 else 1)
        Some(Empty.copy(obj_type = "blob", size = size, n_lines = lines))
      case "commit" =>
        val text = new String(content,
          java.nio.charset.StandardCharsets.UTF_8)
        val (headers, message) = text.indexOf("\n\n") match {
          case -1 => (text, "")
          case at => (text.substring(0, at), text.substring(at + 2))
        }
        var tree = ""; var parents = 0
        var author = ""; var epoch = -1L
        headers.split('\n').foreach { line =>
          if (line.startsWith("tree ")) tree = line.substring(5).trim
          else if (line.startsWith("parent ")) parents += 1
          else if (line.startsWith("author ")) {
            // author NAME <email> EPOCH TZ
            val rest = line.substring(7)
            val lt = rest.lastIndexOf('>')
            if (lt > 0) {
              author = rest.substring(0, lt + 1).trim
              val tail = rest.substring(lt + 1).trim.split("\\s+")
              if (tail.nonEmpty)
                epoch = tail(0).toLongOption.getOrElse(-1L)
            }
          }
        }
        if (tree.length != 40) return None
        Some(Empty.copy(obj_type = "commit", size = size,
          tree_sha = tree, n_parents = parents, author = author,
          author_epoch = epoch,
          message = message.takeWhile(_ != '\n')))
      case "tree" =>
        val entries = Vector.newBuilder[String]
        var i = 0
        var n = 0
        while (i < content.length) {
          val z = {
            var k = i
            while (k < content.length && content(k) != 0) k += 1
            k
          }
          if (z + 21 > content.length) return None // torn entry
          val head = new String(content, i, z - i,
            java.nio.charset.StandardCharsets.UTF_8)
          if (!head.contains(' ')) return None
          entries += head
          n += 1
          i = z + 21 // NUL + 20-byte sha
        }
        Some(Empty.copy(obj_type = "tree", size = size, n_entries = n,
          listing = entries.result().mkString("\n")))
      case "tag" =>
        Some(Empty.copy(obj_type = "tag", size = size))
      case _ => None
    }
  }

  // ---- fixture ------------------------------------------------------ //

  private def loose(typ: String, content: Array[Byte]): Array[Byte] =
    Inflate.deflate((s"$typ ${content.length}" + "\u0000").getBytes("US-ASCII") ++
      content, raw = false)

  /** 40-hex deterministic pseudo-sha of (id, salt) — an 8-hex word
    * repeated 5×, so a SQL oracle rebuilds it with
    * repeat(printf('%08x', id·1000003 + salt), 5). */
  private[graft] def hex40(id: Long, salt: Long): String = {
    val h = f"${(id * 1000003L + salt) & 0xffffffffL}%08x"
    h * 5
  }

  /** Deterministic per-id loose object cycling blob/commit/tree:
    * blobs have id%20+1 lines; commits have (id%5)%3 parents, a UTC
    * epoch closed form, a multi-line message (only line 1 surfaces);
    * trees have id%4+1 entries of alternating file/dir modes. */
  def synthLoose(id: Long): Array[Byte] = (id % 3) match {
    case 0 =>
      val n = (id % 20 + 1).toInt
      loose("blob", (1 to n).map(k => s"line $k of ${id % 10}")
        .mkString("", "\n", "\n").getBytes("UTF-8"))
    case 1 =>
      val parents = (0 until ((id % 5) % 3).toInt)
        .map(p => s"parent ${hex40(id, p + 100)}\n").mkString
      val content =
        s"tree ${hex40(id, 1)}\n" + parents +
          s"author Dev ${id % 30} <d${id % 30}@example.com> " +
          s"${1700000000L + id * 60} +0000\n" +
          s"committer Dev ${id % 30} <d${id % 30}@example.com> " +
          s"${1700000000L + id * 60} +0000\n\n" +
          s"feat: change ${id % 10}\n\nbody detail ${id % 7}\n"
      loose("commit", content.getBytes("UTF-8"))
    case _ =>
      val n = (id % 4 + 1).toInt
      val bytes = new java.io.ByteArrayOutputStream()
      (0 until n).foreach { k =>
        val mode = if (k % 2 == 0) "100644" else "40000"
        val name = if (k % 2 == 0) s"file$k.txt" else s"dir$k"
        bytes.write((s"$mode $name" + "\u0000").getBytes("UTF-8"))
        val sha = hex40(id, k)
        (0 until 20).foreach { j =>
          bytes.write(Integer.parseInt(sha.substring(2 * j, 2 * j + 2), 16))
        }
      }
      loose("tree", bytes.toByteArray)
  }

  def synthLooseCol(c: Column): Column =
    udf { id: Long => synthLoose(id) }.apply(c)
  def looseCol(c: Column): Column =
    udf { b: Array[Byte] => parseLoose(b) }.apply(c)

  // ---- pack index (pack-*.idx v2) ----------------------------------- //

  final case class PackIdx(n_objects: Int, n_large: Int, sum_crc: Long,
                           max_offset: Long, first_sha8: String,
                           last_sha8: String)

  /** Pack-index v2 census — real mirrors are 99% packfiles, and the
    * `.idx` sidecar (magic \xFFtOc, version 2, 256-entry cumulative
    * fanout, sorted sha table, crc table, offset table with the
    * MSB-set 64-bit escape) is the bounded binary walk that yields
    * object counts and offset spans WITHOUT decoding delta chains —
    * the split index a 100 TB code crawl shards packs by, matching
    * the ZIP central-directory / WARC member-offset story.
    *
    * Validations (violation → None, the reject-not-misparse rule):
    * exact length accounting (the large-offset table size is DERIVED
    * from the residue and must divide by 8), fanout monotonic AND
    * consistent with the sha first-byte histogram, shas strictly
    * sorted, large-offset indices in range. sum_crc / max_offset /
    * first+last sha prefixes give the oracle its closed forms.
    */
  def parsePackIdx(b: Array[Byte]): Option[PackIdx] = ByteCursor.total {
    if (b == null || b.length < 8 + 1024 + 40) return None
    val c = ByteCursor(b)
    if (c.be32(0) != 0xff744f63L) return None // \377tOc
    if (c.be32(4) != 2L) return None
    val fanout = new Array[Long](256)
    var k = 0
    while (k < 256) {
      fanout(k) = c.be32(8L + 4 * k)
      if (k > 0 && fanout(k) < fanout(k - 1)) return None
      k += 1
    }
    val n = fanout(255)
    if (n > 1000000) return None
    val shaAt = 8L + 1024
    val crcAt = shaAt + 20 * n
    val offAt = crcAt + 4 * n
    val largeAt = offAt + 4 * n
    val rem = b.length - largeAt - 40
    if (rem < 0 || rem % 8 != 0) return None
    val nLarge = (rem / 8).toInt
    // shas: strictly sorted, and the first-byte histogram must match
    // the fanout's deltas
    val hist = new Array[Long](256)
    var i = 0L
    while (i < n) {
      val at = shaAt + 20 * i
      hist(c.u8(at)) += 1
      // unsigned lexicographic compare vs the previous sha (in bounds:
      // rem >= 0 above puts every sha inside the buffer)
      if (i > 0 && java.util.Arrays.compareUnsigned(b, at.toInt,
        at.toInt + 20, b, at.toInt - 20, at.toInt) <= 0)
        return None // unsorted or duplicate
      i += 1
    }
    var acc = 0L
    k = 0
    while (k < 256) {
      acc += hist(k)
      if (fanout(k) != acc) return None
      k += 1
    }
    var sumCrc = 0L
    i = 0L
    while (i < n) {
      sumCrc += c.be32(crcAt + 4 * i); i += 1
    }
    var maxOff = 0L
    var largeSeen = 0
    i = 0L
    while (i < n) {
      val o = c.be32(offAt + 4 * i)
      if ((o & 0x80000000L) != 0) {
        val idx = o & 0x7fffffffL
        if (idx >= nLarge) return None
        val big = c.be64(largeAt + 8 * idx)
        if (big < 0) return None
        if (big > maxOff) maxOff = big
        largeSeen += 1
      } else if (o > maxOff) maxOff = o
      i += 1
    }
    if (n == 0) return None
    val first = c.be32(shaAt)
    val last = c.be32(shaAt + 20 * (n - 1))
    Some(PackIdx(n.toInt, nLarge, sumCrc, maxOff, f"$first%08x", f"$last%08x"))
  }

  /** Deterministic per-id .idx v2: n = id%20+5 sorted shas whose
    * byte0 spreads buckets (k·256/n) and byte1 breaks ties (k), crcs
    * and offsets as closed forms, with object 2 routed through the
    * 64-bit large-offset table every 3rd id. */
  def synthPackIdx(id: Long): Array[Byte] = {
    val n = (id % 20 + 5).toInt
    val hasLarge = id % 3 == 0
    val out = new java.io.ByteArrayOutputStream()
    def w32(v: Long): Unit = out.write(ByteCursor.be32(v))
    w32(0xff744f63L); w32(2L)
    def byte0(kk: Int): Int = kk * 256 / n
    (0 until 256).foreach { bb =>
      w32((0 until n).count(kk => byte0(kk) <= bb).toLong)
    }
    (0 until n).foreach { kk =>
      out.write(byte0(kk)); out.write(kk)
      (2 until 20).foreach(j => out.write(((id * 3 + kk * 5 + j * 11) % 256).toInt))
    }
    (0 until n).foreach(kk => w32((id * 1000 + kk * 17) % 2147483647L))
    (0 until n).foreach { kk =>
      if (hasLarge && kk == 2) w32(0x80000000L) // large index 0
      else w32(12L + kk * (100 + id % 50))
    }
    if (hasLarge) { w32((2147483648L + id) >>> 32); w32((2147483648L + id) & 0xffffffffL) }
    // trailing packfile + idx checksums (closed-form filler bytes)
    (0 until 40).foreach(j => out.write(((id + j) % 256).toInt))
    out.toByteArray
  }

  def synthPackIdxCol(c: Column): Column =
    udf { id: Long => synthPackIdx(id) }.apply(c)
  def packIdxCol(c: Column): Column =
    udf { b: Array[Byte] => parsePackIdx(b) }.apply(c)
}
