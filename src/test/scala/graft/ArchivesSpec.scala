package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Archives, Warc}

class ArchivesSpec extends AnyFunSuite {

  test("zip: build/parse round-trip, stored + deflated, CRC verified") {
    val zip = Archives.buildZip(Seq(
      ("a.txt", "hello zip", false),
      ("dir/b.py", "x = 1\n" * 40, true),
      ("empty.txt", "", false)))
    val es = Archives.parseZip(zip).get
    assert(es.map(_.name) == Seq("a.txt", "dir/b.py", "empty.txt"))
    assert(es(0).method == "stored" && es(0).text == "hello zip")
    assert(es(1).method == "deflate" && es(1).text == "x = 1\n" * 40)
    assert(es(1).usize == 240 && es(2).usize == 0)
    assert(es.forall(_.crc_ok))
    // synth fixture round-trips its closed forms
    val s = Archives.parseZip(Archives.synthZip(7)).get
    assert(s.map(_.name) == Seq("src/main.py", "README.md", "gen/auto.go"))
    assert(s(0).text == "# module 7\nx = 7\n")
    assert(s.forall(_.crc_ok))
  }

  test("zip: payload corruption flips crc_ok, framing corruption rejects") {
    val zip = Archives.buildZip(Seq(("a.txt", "payload data here", false)))
    // flip a payload byte (stored: data sits after the 30+5 byte header)
    val bad = zip.clone(); bad(35) = (bad(35) ^ 0x01).toByte
    val es = Archives.parseZip(bad).get
    assert(!es(0).crc_ok)
    // truncations reject
    assert(Archives.parseZip(zip.take(zip.length - 3).toArray).isEmpty)
    assert(Archives.parseZip(Array[Byte](1, 2, 3)).isEmpty)
    assert(Archives.parseZip(null).isEmpty)
    // EOCD found through a trailing comment
    val commented = zip ++ "trailing comment".getBytes("US-ASCII")
    // (comment length field says 0, so strict parse still finds EOCD by
    // scan; entries stay intact)
    assert(Archives.parseZip(commented).get.head.text
      == "payload data here")
    // clobber the central-directory signature
    val cds = zip.length - 22 - (46 + 5)
    val badCd = zip.clone(); badCd(cds) = 'X'
    assert(Archives.parseZip(badCd).isEmpty)
  }

  test("tar: build/parse round-trip with dirs, checksum enforced") {
    val tar = Archives.buildTar(Seq(
      ("src", None),
      ("src/a.rs", Some("fn main() {}\n")),
      ("big.txt", Some("z" * 1300))))
    val es = Archives.parseTar(tar).get
    assert(es.map(_.name) == Seq("src", "src/a.rs", "big.txt"))
    assert(es(0).type_flag == "dir" && es(0).size == 0)
    assert(es(1).text == "fn main() {}\n")
    assert(es(2).size == 1300 && es(2).text == "z" * 1300)
    // corrupt a header byte -> checksum mismatch -> reject
    val bad = tar.clone(); bad(0) = 'X'
    assert(Archives.parseTar(bad).isEmpty)
    // non-512-multiple rejects
    assert(Archives.parseTar(tar.take(tar.length - 1).toArray).isEmpty)
    // tar.gz round-trip
    val tgz = Warc.gzipMember(tar)
    assert(Archives.parseTarGz(tgz).get.map(_.name) == es.map(_.name))
    assert(Archives.parseTarGz(Array[Byte](1, 2)).isEmpty)
    // synth fixture
    val s = Archives.parseTarGz(Archives.synthTarGz(3)).get
    assert(s.map(_.name) == Seq("src", "src/lib.rs", "notes.txt"))
    assert(s(1).text == "// SPDX-License-Identifier: MIT\nfn f3() {}\n")
  }

  test("tar.gz reads through the strict gzip member walk") {
    val tgz = Archives.synthTarGz(3)
    assert(Archives.parseTarGz(tgz).get.length == 3)
    // two members concatenate, as a multi-member stream should
    val two = Warc.gzipMember(Archives.synthTarGz(3).take(0)) ++ tgz
    assert(Archives.parseTarGz(two).get.length == 3)
    // trailing bytes after the last member and reserved flag bits
    // reject (the JDK's GZIPInputStream accepted both)
    assert(Archives.parseTarGz(tgz ++ Array[Byte](0)).isEmpty)
    assert(Archives.parseTarGz(tgz ++ "junk".getBytes).isEmpty)
    val reserved = tgz.clone(); reserved(3) = 0x80.toByte
    assert(Archives.parseTarGz(reserved).isEmpty)
    assert(Archives.parseTarGz(null).isEmpty)
    assert(Archives.parseTarGz(Array.emptyByteArray).isEmpty)
  }

  test("zip64: sentinel'd EOCD routes through the locator; extras resolve") {
    val z = Archives.synthZip64(7)
    val es = Archives.parseZip(z).get
    assert(es.map(_.name) == Seq("big/data.bin", "META/manifest.txt"))
    assert(es.forall(_.crc_ok))
    assert(es(0).text == "payload 7 " * 4 && es(0).method == "stored")
    assert(es(1).text == "manifest 7\n" && es(1).method == "deflate")
    // a zip64 archive whose locator is clobbered rejects
    val at = z.length - 22 - 20 // locator sits just before the EOCD
    val bad = z.clone(); bad(at) = 'X'
    assert(Archives.parseZip(bad).isEmpty)
    // classic archives still parse (no sentinel path taken)
    assert(Archives.parseZip(Archives.synthZip(7)).get.length == 3)
  }

  test("tar: GNU long names, PAX path overrides, symlinks") {
    val t = Archives.parseTar(Archives.synthTarSpecial(4)).get
    assert(t.length == 4) // 'L'/'x' records merge into their entries
    val longName = "depth4/" + ("nested/" * 14) + "gnu_long_name_4.txt"
    assert(t(0).name == longName && t(0).name.length > 100)
    assert(t(0).type_flag == "file" && t(0).text == "gnu payload 4\n")
    val paxName = "pax4/" + ("p/" * 10) + "pax_override_4.md"
    assert(t(1).name == paxName && t(1).text == "pax payload 4\n")
    assert(t(2).name == "link4" && t(2).type_flag == "symlink")
    assert(t(2).text == "depth4/target" && t(2).size == 0L)
    assert(t(3).name == "plain4.txt" && t(3).text == "plain 4\n")
    // the gz lift round-trips too
    assert(Archives.parseTarGz(
      Warc.gzipMember(Archives.synthTarSpecial(4))).get.length == 4)
  }
}
