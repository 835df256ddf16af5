package graft

import graft.core.Skew
import graft.sources.Tables
import org.apache.spark.sql.functions._

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private lazy val li = spark.read.parquet(s"$sf/lineitem.parquet")

  test("every harness table loads with the pinned canonical schema") {
    // pin name→type for all 10 tables AS LOADED (post-normalization:
    // events.ts is always LongType epoch-nanos whichever parquet
    // encoding the harness generation used). A testdata regeneration
    // that drifts a column type fails HERE, naming table and column,
    // instead of as 18 scattered analysis errors (the round-7 incident).
    import org.apache.spark.sql.types._
    val pinned: Map[String, Seq[(String, DataType)]] = Map(
      "region" -> Seq("r_regionkey" -> IntegerType, "r_name" -> StringType),
      "nation" -> Seq("n_nationkey" -> IntegerType, "n_name" -> StringType,
        "n_regionkey" -> IntegerType),
      "customer" -> Seq("c_custkey" -> LongType, "c_name" -> StringType,
        "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
        "c_mktsegment" -> StringType),
      "supplier" -> Seq("s_suppkey" -> LongType, "s_name" -> StringType,
        "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
      "part" -> Seq("p_partkey" -> LongType, "p_name" -> StringType,
        "p_brand" -> StringType, "p_type" -> StringType,
        "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
      "orders" -> Seq("o_orderkey" -> LongType, "o_custkey" -> LongType,
        "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
        "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
      "lineitem" -> Seq("l_orderkey" -> LongType, "l_partkey" -> LongType,
        "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
        "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
        "l_discount" -> DoubleType, "l_tax" -> DoubleType,
        "l_returnflag" -> StringType, "l_linestatus" -> StringType,
        "l_shipdate" -> TimestampNTZType),
      "events" -> Seq("event_id" -> LongType, "ts" -> LongType,
        "user_id" -> LongType, "event_type" -> StringType,
        "value" -> DoubleType, "props" -> StringType),
      "documents" -> Seq("doc_id" -> LongType, "text" -> StringType,
        "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
      "embeddings" -> Seq("vec_id" -> LongType,
        "embedding" -> ArrayType(FloatType), "label" -> IntegerType))
    // compare via .sql: nullability-insensitive (parquet element
    // nullability is a writer detail, not a semantic contract)
    val drift = Tables.all.flatMap { t =>
      val got = Tables.load(spark, sf, t).schema
        .map(f => f.name -> f.dataType.sql)
      val want = pinned(t).map { case (n, d) => n -> d.sql }
      if (got == want) None else Some(s"$t: expected $want, got $got")
    }
    assert(drift.isEmpty, s"schema drift:\n${drift.mkString("\n")}")
  }

  /** Jobs started while `body` runs. The listener bus delivers events
    * in order, so once a sentinel job from a second job group has been
    * seen, every job `body` started has been counted. */
  private def jobsDuring(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val seen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some("sources-probe") => jobs.incrementAndGet()
          case Some("sources-probe-end") => seen.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("sources-probe", "jobs of the probed body")
      body
      sc.setJobGroup("sources-probe-end", "sentinel")
      sc.parallelize(Seq(1), 1).count()
      assert(seen.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the sentinel job never reached the listener")
      jobs.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("footer schema equals Spark's inferred schema for every harness table") {
    Tables.all.foreach { t =>
      val got = Tables.load(spark, sf, t).schema
      // inferred under the confs Tables.load just set
      val inferred = spark.read.parquet(s"$sf/$t.parquet")
      val want = (if (t == "events") Tables.withNanosTs(inferred) else inferred).schema
      assert(got == want, s"$t: footer $got, inferred $want")
    }
  }

  test("footer schema equals Spark's inferred schema for a multi-file directory") {
    val dir = java.nio.file.Files.createTempDirectory("graft-footer").toString
    li.select("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate")
      .repartition(3).write.parquet(s"$dir/multi.parquet")
    val data = new java.io.File(s"$dir/multi.parquet").list()
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
    assert(data.length == 3, s"expected 3 data files, got ${data.toSeq}")
    val loaded = Tables.load(spark, dir, "multi")
    val inferred = spark.read.parquet(s"$dir/multi.parquet")
    assert(loaded.schema == inferred.schema)
    assert(loaded.count() == li.count())
  }

  test("a table load launches no Spark job") {
    assert(jobsDuring(Tables.all.foreach(t => Tables.load(spark, sf, t))) == 0)
    // the probe sees the inference job that the footer read replaces
    assert(jobsDuring(spark.read.parquet(s"$sf/lineitem.parquet")) >= 1)
  }

  test("a missing table fails at load time, naming the path") {
    val e = intercept[Exception](Tables.load(spark, sf, "no_such_table"))
    assert(e.getMessage.contains(s"$sf/no_such_table.parquet"), e.getMessage)
  }

  test("Tables.load is the only Parquet reader in src/main") {
    // the two warm-ups mirror the benchmark runner's warm-up read
    val allowed = Set("Tables.scala", "Bench.scala", "ActionProfile.scala")
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root")
    val files = java.nio.file.Files.walk(root)
    val hits = try {
      import scala.jdk.CollectionConverters._
      files.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .filterNot(f => allowed(f.getFileName.toString))
        .flatMap { f =>
          java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
            .collect { case (line, i) if line.contains("read.parquet(") =>
              s"$f:${i + 1}: ${line.trim}" }
        }.toList
    } finally files.close()
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("CSV round-trip with explicit schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft-csv").toString
    val sample = li.select("l_orderkey", "l_quantity").limit(100)
    Tables.writeCsv(sample, s"$dir/li")
    val back = Tables.csvWithSchema(spark, s"$dir/li", sample.schema)
    assert(back.count() == 100)
    assert(back.schema == sample.schema)
  }

  test("temp-view SQL surface: register, query, drop") {
    Tables.registerViews(spark, sf)
    val n = spark.sql("SELECT count(*) AS n FROM lineitem").head.getLong(0)
    assert(n == li.count())
    Tables.dropViews(spark)
    assert(!spark.catalog.tableExists("lineitem"))
  }

  test("filters and column pruning reach the parquet scan") {
    val q = li.where(col("l_discount") > 0.05).select("l_orderkey", "l_discount")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(l_discount"),
      s"filter not pushed:\n$plan")
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_discount:double>"),
      s"columns not pruned:\n$plan")
  }

  test("managed table: save, SQL query, drop (S3/S4 lifecycle)") {
    Tables.writeManagedTable(li.limit(100).select("l_orderkey", "l_quantity"),
      "li_managed")
    assert(spark.sql("SELECT count(*) FROM li_managed").head.getLong(0) == 100L)
    Tables.dropTable(spark, "li_managed")
    assert(!spark.catalog.tableExists("li_managed"))
  }

  test("salted aggregation is bit-identical to the plain groupBy") {
    val salted = Skew.saltedSumCount(li, Seq("l_returnflag"),
        "l_extendedprice", col("l_orderkey"), buckets = 32)
      .collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    val plain = li.groupBy("l_returnflag")
      .agg(graft.core.Stats.dsum(col("l_extendedprice")).as("s"),
        count(lit(1)).as("n"))
      .collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(salted.keySet == plain.keySet)
    salted.foreach { case (k, (s, n)) =>
      assert(java.lang.Double.doubleToLongBits(s) ==
        java.lang.Double.doubleToLongBits(plain(k)._1), s"sum differs for $k")
      assert(n == plain(k)._2)
    }
  }

  test("salted join is row-identical to the plain equi-join") {
    import spark.implicits._
    // planted hot key: 90% of fact rows share key 1
    val fact = ((1 to 90).map(i => (1L, i.toLong)) ++
      (1 to 10).map(i => (i.toLong % 5 + 2, 100L + i))).toDF("k", "payload")
    val dim = (1L to 7L).map(i => (i, s"dim$i")).toDF("k", "name")
    val plain = fact.join(dim, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    val salted = Skew.saltedJoin(fact, dim, Seq("k"),
        spread = col("payload"), buckets = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    assert(salted.toSeq == plain.toSeq)
    // keys missing from the dim side drop in both (inner-join semantics)
    assert(!salted.exists(_._1 > 7L))
    // degenerate single bucket degrades to the plain join
    val one = Skew.saltedJoin(fact, dim, Seq("k"), col("payload"), buckets = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    assert(one.toSeq == plain.toSeq)
    // a null spread value must not drop the row (it lands in bucket 0)
    val fWithNull = Seq((1L, Some(5L)), (2L, None), (3L, None))
      .toDF("k", "payload")
    val pn = fWithNull.join(dim, Seq("k")).count()
    val sn = Skew.saltedJoin(fWithNull, dim, Seq("k"), col("payload"), 8).count()
    assert(sn == pn && sn == 3L)
  }

  test("WARC/WET: build and parse round-trip every byte") {
    import graft.sources.Warc
    // payloads with embedded CRLF, unicode, and an empty text — the
    // Content-Length framing must carry them all
    val docs = Seq(
      "urn:d:1" -> "plain ascii text",
      "urn:d:2" -> "line one\r\nline two\r\n\r\nlooks like a record break",
      "urn:d:3" -> "unicode: déjà vu — 校正 ✓",
      "urn:d:4" -> "")
    val wet = Warc.buildWet(docs)
    // multi-member: one gzip member per record (warcinfo + 4)
    val members = wet.sliding(2).count(p =>
      (p(0) & 0xff) == 0x1f && (p(1) & 0xff) == 0x8b)
    assert(members == 5, s"expected 5 gzip members, found $members")
    val back = Warc.parseWet(wet).get
    assert(back.map(r => r.targetUri -> r.text) == docs)
  }

  test("WARC/WET: strict rejection of malformed streams") {
    import graft.sources.Warc
    val wet = Warc.buildWet(Seq("urn:d:1" -> "hello", "urn:d:2" -> "world"))
    assert(Warc.parseWet(wet).isDefined)
    assert(Warc.parseWet(wet.take(20)).isEmpty) // truncated member
    assert(Warc.parseWet(Array.empty[Byte]).isEmpty)
    assert(Warc.parseWet("no gzip here".getBytes).isEmpty)
    // valid gzip of garbage: gunzip fine, record walk must reject
    assert(Warc.parseWet(Warc.gzipMember("HTTP/1.1 200 OK\r\n".getBytes)).isEmpty)
    // a conversion stream WITHOUT a leading warcinfo is rejected
    val inflated = Warc.gunzipAll(wet).get
    val recs = Warc.parseWarc(inflated).get
    assert(recs.length == 3 && recs.head._1("WARC-Type") == "warcinfo")
    // corrupt the Content-Length framing: flip a payload byte count
    val s = new String(inflated, "ISO-8859-1")
    val bad = s.replaceFirst("Content-Length: 5", "Content-Length: 4")
      .getBytes("ISO-8859-1")
    assert(Warc.parseWarc(bad).isEmpty)
  }

  test("WARC: member walk yields exact split offsets and rejects trailing garbage") {
    import graft.sources.Warc
    val wet = Warc.buildWet(Seq("urn:d:1" -> "hello", "urn:d:2" -> "wörld"))
    val ms = Warc.gunzipMembers(wet).get
    assert(ms.length == 3)
    // offsets tile the file exactly: fencepost-perfect split index
    assert(ms.head.offset == 0L)
    ms.sliding(2).foreach { case Vector(a, b) =>
      assert(a.offset + a.compLen == b.offset); case _ => () }
    assert(ms.last.offset + ms.last.compLen == wet.length)
    // a member re-inflated FROM ITS OFFSET alone decodes that record:
    // the property that makes 100 TB shards splittable mid-file
    val slice = java.util.Arrays.copyOfRange(wet,
      ms(2).offset.toInt, (ms(2).offset + ms(2).compLen).toInt)
    val rec = Warc.parseWarc(Warc.gunzipAll(slice).get).get.head
    assert(rec._1("WARC-Target-URI") == "urn:d:2" &&
      new String(rec._2, "UTF-8") == "wörld")
    // trailing garbage after the last complete member: None, not the
    // clean prefix (GZIPInputStream would silently swallow it)
    assert(Warc.gunzipAll(wet ++ "junk".getBytes).isEmpty)
    assert(Warc.gunzipAll(wet ++ Array[Byte](0x1f)).isEmpty)
    // corrupt trailer CRC of the last member
    val crcBad = wet.clone(); crcBad(wet.length - 5) =
      (crcBad(wet.length - 5) ^ 0x01).toByte
    assert(Warc.gunzipAll(crcBad).isEmpty)
    // corrupt ISIZE
    val szBad = wet.clone(); szBad(wet.length - 1) =
      (szBad(wet.length - 1) ^ 0x01).toByte
    assert(Warc.gunzipAll(szBad).isEmpty)
  }

  test("WARC: response records parse HTTP blocks with charset handling") {
    import graft.sources.Warc
    // declared utf-8
    val p1 = Warc.httpResponse(200, "OK", "text/html; charset=utf-8",
      "déjà ✓".getBytes("UTF-8"))
    assert(Warc.parseHttpResponse(p1).contains((200, "text/html", "déjà ✓")))
    // declared latin-1
    val p2 = Warc.httpResponse(200, "OK", "text/plain; charset=iso-8859-1",
      "café".getBytes("ISO-8859-1"))
    assert(Warc.parseHttpResponse(p2).contains((200, "text/plain", "café")))
    // NO charset declared: sniff — valid UTF-8 bytes decode as UTF-8...
    val p3 = Warc.httpResponse(404, "Error", "text/plain",
      "gønε".getBytes("UTF-8"))
    assert(Warc.parseHttpResponse(p3).contains((404, "text/plain", "gønε")))
    // ...and invalid UTF-8 falls back to windows-1252 (never an exception)
    val p4 = Warc.httpResponse(200, "OK", "text/plain",
      Array[Byte]('a', 0xe9.toByte, 'b')) // lone 0xE9 is invalid UTF-8
    assert(Warc.parseHttpResponse(p4).contains((200, "text/plain", "aéb")))
    // windows-1252: 0x80-0x9F are printable (what mislabeled latin-1 is)
    val p5 = Warc.httpResponse(200, "OK", "text/html; charset=windows-1252",
      Array[Byte](0x93.toByte, 'q', 0x94.toByte, 0x97.toByte))
    assert(Warc.parseHttpResponse(p5).contains((200, "text/html", "“q”—")))
    // sniffed fallback hits the same table
    val p6 = Warc.httpResponse(200, "OK", "text/plain",
      Array[Byte]('x', 0x97.toByte, 'y'))
    assert(Warc.parseHttpResponse(p6).contains((200, "text/plain", "x—y")))
    // strictness: bad status line, bad Content-Length
    assert(Warc.parseHttpResponse("FTP/1.0 200 OK\r\n\r\n".getBytes).isEmpty)
    val clBad = Warc.httpResponse(200, "OK", "text/plain", "abc".getBytes)
    val clStr = new String(clBad, "ISO-8859-1")
      .replaceFirst("Content-Length: 3", "Content-Length: 7")
    assert(Warc.parseHttpResponse(clStr.getBytes("ISO-8859-1")).isEmpty)
  }

  test("WARC: mixed crawl shard round-trips with member offsets, skips non-ingest types") {
    import graft.sources.Warc
    val shard = Warc.buildCrawl(Seq(
      ("urn:c:1", "first page", "response", 200, "text/html"),
      ("urn:c:2", "gone", "response", 404, "text/plain"),
      ("urn:c:3", "wet text\r\nwith breaks", "conversion", -1, ""),
      ("urn:c:4", "víα ütf-8", "response", 200, "text/plain")))
    val recs = Warc.parseCrawl(shard).get
    assert(recs.length == 4) // warcinfo skipped, not emitted
    assert(recs.map(_.recType) == Seq("response", "response", "conversion",
      "response"))
    assert(recs.map(_.status) == Seq(200, 404, -1, 200))
    assert(recs.map(_.text) == Seq("first page", "gone",
      "wet text\r\nwith breaks", "víα ütf-8"))
    assert(recs(0).contentType == "text/html" &&
      recs(2).contentType == "text/plain")
    // member offsets: strictly increasing, tile to file end, first
    // record's member starts AFTER the warcinfo member
    assert(recs.head.memberOffset > 0)
    assert(recs.map(_.memberOffset) == recs.map(_.memberOffset).sorted)
    assert(recs.last.memberOffset + recs.last.memberLen == shard.length)
    // strictness: a response record whose payload is not HTTP → None
    val badShard = Warc.buildWet(Seq("u" -> "x")) // conversion-shaped
    val infl = Warc.gunzipAll(badShard).get
    val asResp = new String(infl, "ISO-8859-1")
      .replace("WARC-Type: conversion", "WARC-Type: response  ")
    assert(Warc.parseCrawl(Warc.gzipMember(
      asResp.getBytes("ISO-8859-1"))).isEmpty)
    // no leading warcinfo → None
    val noInfo = Warc.parseCrawl(java.util.Arrays.copyOfRange(shard,
      Warc.gunzipMembers(shard).get(1).offset.toInt, shard.length))
    assert(noInfo.isEmpty)
  }
}
