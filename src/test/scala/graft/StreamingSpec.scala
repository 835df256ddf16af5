package graft

import graft.streaming.StreamOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int) = new Timestamp(minute * 60000L)

  test("streamingSessionize: gap-break within a batch, timeout via watermark") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val out = StreamOps.streamingSessionize(
      in.toDF.toDF("ts", "user", "value"),
      "ts", "user", "value", gapMs = 5 * 60000L, watermarkDelay = "0 seconds")
    val q = out.writeStream.format("memory").queryName("sess")
      .outputMode(OutputMode.Append).start()
    try {
      // u1: events at minutes 1,2 then 20,21 — the in-batch gap break
      // closes the first session immediately
      in.addData((ts(1), "u1", 1.0), (ts(2), "u1", 2.0),
        (ts(20), "u1", 3.0), (ts(21), "u1", 4.0))
      q.processAllAvailable()
      val first = spark.table("sess").collect()
      assert(first.length == 1)
      assert(first.head.getAs[String]("key") == "u1")
      assert(first.head.getAs[Timestamp]("session_start") == ts(1))
      assert(first.head.getAs[Timestamp]("session_end") == ts(2))
      assert(first.head.getAs[Long]("n_events") == 2L)
      assert(first.head.getAs[Double]("value_sum") == 3.0)
      // a far-future event for another key advances the watermark past
      // 21min + gap, timing out u1's open session
      in.addData((ts(120), "u2", 9.0))
      q.processAllAvailable()
      in.addData((ts(121), "u2", 1.0)) // one more batch so the timeout fires
      q.processAllAvailable()
      val rows = spark.table("sess").collect()
      val u1Late = rows.filter(r => r.getAs[String]("key") == "u1" &&
        r.getAs[Timestamp]("session_start") == ts(20))
      assert(u1Late.length == 1)
      assert(u1Late.head.getAs[Long]("n_events") == 2L)
      assert(u1Late.head.getAs[Double]("value_sum") == 7.0)
    } finally q.stop()
  }

  test("streamingSessionize: late in-gap event extends start; stale event splits") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val out = StreamOps.streamingSessionize(
      in.toDF.toDF("ts", "user", "value"),
      "ts", "user", "value", gapMs = 5 * 60000L, watermarkDelay = "15 minutes")
    val q = out.writeStream.format("memory").queryName("sessl")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData((ts(10), "u1", 1.0), (ts(11), "u1", 2.0))
      q.processAllAvailable()
      // minute 9 is late but in-gap: merges and extends start backwards;
      // minute 1 is stale (> gap before the open session): its own session
      in.addData((ts(9), "u1", 4.0), (ts(1), "u1", 8.0))
      q.processAllAvailable()
      val stale = spark.table("sessl").collect()
      assert(stale.length == 1)
      assert(stale.head.getAs[Timestamp]("session_start") == ts(1) &&
        stale.head.getAs[Long]("n_events") == 1L &&
        stale.head.getAs[Double]("value_sum") == 8.0)
      // close the merged session via watermark advance
      in.addData((ts(120), "u2", 0.0))
      q.processAllAvailable()
      in.addData((ts(121), "u2", 0.0))
      q.processAllAvailable()
      val merged = spark.table("sessl").collect()
        .filter(r => r.getAs[String]("key") == "u1" &&
          r.getAs[Long]("n_events") == 3L)
      assert(merged.length == 1)
      assert(merged.head.getAs[Timestamp]("session_start") == ts(9))
      assert(merged.head.getAs[Timestamp]("session_end") == ts(11))
      assert(merged.head.getAs[Double]("value_sum") == 7.0)
    } finally q.stop()
  }

  test("streamingSessionize: adjacent stale events gap-merge like batch") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val out = StreamOps.streamingSessionize(
      in.toDF.toDF("ts", "user", "value"),
      "ts", "user", "value", gapMs = 5 * 60000L, watermarkDelay = "60 minutes")
    val q = out.writeStream.format("memory").queryName("sessm")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData((ts(30), "u1", 1.0), (ts(31), "u1", 2.0))
      q.processAllAvailable()
      // four stale events, all > gap before the open session's start:
      // minutes 1,2,3 are within gap of each other (ONE session, the
      // batch Sessionizer's answer), minute 12 is its own
      in.addData((ts(1), "u1", 1.0), (ts(2), "u1", 2.0), (ts(3), "u1", 4.0),
        (ts(12), "u1", 8.0))
      q.processAllAvailable()
      val rows = spark.table("sessm").collect()
        .map(r => (r.getAs[Timestamp]("session_start"),
          r.getAs[Timestamp]("session_end"),
          r.getAs[Long]("n_events"), r.getAs[Double]("value_sum")))
        .sortBy(_._1.getTime)
      assert(rows.toSeq == Seq((ts(1), ts(3), 3L, 7.0), (ts(12), ts(12), 1L, 8.0)))
    } finally q.stop()
  }

  test("streamingNearDupAlerts matches batch banded candidates across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Long, String)]
    val out = StreamOps.streamingNearDupAlerts(
      in.toDF.toDF("doc_id", "text"), "doc_id", "text")
    val q = out.writeStream.format("memory").queryName("nda")
      .outputMode(OutputMode.Append).start()
    try {
      val a = "the quick brown fox jumps over the lazy dog again and again today"
      val c = "completely different content with nothing shared at all here now"
      in.addData((1L, a), (3L, c))
      q.processAllAvailable()
      in.addData((2L, a)) // near-dup arriving in a LATER batch
      q.processAllAvailable()
      val alerts = spark.table("nda").collect()
        .map(r => (r.getLong(2), r.getLong(3))).distinct.toSet
      assert(alerts.contains((1L, 2L)), s"dup not flagged: $alerts")
      assert(!alerts.exists(p => p._1 == 3L || p._2 == 3L),
        "disjoint doc must not alert")
      // parity: the batch banded candidate set is exactly the alert set
      val batch = graft.dedup.MinHashLSH.candidatePairs(
          Seq((1L, a), (2L, a), (3L, c)).toDF("doc_id", "text"),
          "doc_id", "text", n = 3, k = 16, bands = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(alerts.map(p => (math.min(p._1, p._2), math.max(p._1, p._2)))
        == batch, s"stream $alerts != batch $batch")
    } finally q.stop()
  }

  test("streamingEwma carries the fold across batches and matches batch ewmaByKey") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, Double)]
    val out = StreamOps.streamingEwma(in.toDF.toDF("k", "t", "v"),
      "k", "t", "v", alpha = 0.5)
    val q = out.writeStream.format("memory").queryName("sewma")
      .outputMode(OutputMode.Update).start()
    try {
      // batch 1 arrives out of order WITHIN the batch (sorted by t first)
      val b1 = Seq((1L, 2L, 20.0), (1L, 1L, 10.0), (2L, 1L, 4.0))
      // batch 2 continues key 1 in time order across batches
      val b2 = Seq((1L, 3L, 30.0), (1L, 4L, 40.0))
      in.addData(b1: _*)
      q.processAllAvailable()
      in.addData(b2: _*)
      q.processAllAvailable()
      val last = spark.table("sewma").collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
        .groupBy(_._1).map { case (k, vs) => k -> vs.maxBy(_._2._1)._2 }
      // exact parity with the batch operator on the concatenated data
      val batch = graft.seq.Rolling.ewmaByKey(
          (b1 ++ b2).toDF("k", "t", "v"), Seq("k"), "t", "v", alpha = 0.5)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(last(1L) == batch(1L), s"streaming ${last(1L)} vs batch ${batch(1L)}")
      assert(last(2L) == batch(2L))
      // and the fold really is the expected closed form:
      // 10 → 15 → 22.5 → 31.25
      assert(last(1L) == ((4L, 31.25)))
    } finally q.stop()
  }

  test("stream-static broadcast enrichment join resolves per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.broadcast
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("uid", "tier")
    val in = MemoryStream[(Timestamp, Long, Double)]
    val out = in.toDF.toDF("ts", "uid", "amount")
      .join(broadcast(dim), Seq("uid"), "left")
    val q = out.writeStream.format("memory").queryName("ssj_static")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData((ts(1), 1L, 5.0), (ts(2), 3L, 7.0))
      q.processAllAvailable()
      val rows = spark.table("ssj_static").collect()
        .map(r => (r.getAs[Long]("uid"), Option(r.getAs[String]("tier")))).toSet
      assert(rows === Set((1L, Some("gold")), (3L, None)))
    } finally q.stop()
  }

  test("streamingPsi flags a shifted window against a frozen baseline") {
    implicit val sqlCtx = spark.sqlContext
    val baseline = (1 to 100).map(_.toDouble).toDF("x")
    val base = graft.drift.Drift.fitPsiBaseline(baseline, Seq("x"), bins = 5)
    val in = MemoryStream[(Timestamp, Double)]
    val out = StreamOps.streamingPsi(in.toDF.toDF("ts", "x"), "ts", base,
      "10 minutes", "5 minutes")
    val q = out.writeStream.format("memory").queryName("sp")
      .outputMode(OutputMode.Append).start()
    try {
      // window [0,10): the baseline distribution; [10,20): shifted mass
      in.addData((1 to 100).map(i => (ts(1 + i % 3), i.toDouble)): _*)
      in.addData((1 to 100).map(i => (ts(11 + i % 3), 500.0 + i)): _*)
      q.processAllAvailable()
      in.addData((ts(60), 1.0)) // advance watermark to close both windows
      q.processAllAvailable()
      val rows = spark.table("sp").collect()
        .map(r => r.getAs[Timestamp]("window_start").getTime ->
          r.getAs[Double]("psi")).toMap
      assert(rows.contains(0L) && rows.contains(600000L))
      assert(math.abs(rows(0L)) < 0.05,
        s"same-distribution window psi should be ~0, got ${rows(0L)}")
      assert(rows(600000L) > 0.25,
        s"shifted window psi should flag, got ${rows(600000L)}")
    } finally q.stop()
  }

  test("streamingPsi per-window psi equals batch Drift.psi on the same slice") {
    implicit val sqlCtx = spark.sqlContext
    val baseline = (1 to 100).map(_.toDouble).toDF("x")
    val base = graft.drift.Drift.fitPsiBaseline(baseline, Seq("x"), bins = 5)
    // two windows with different mixes: in-distribution, and half-shifted
    val w0 = (1 to 100).map(i => (ts(1 + i % 3), i.toDouble))
    val w1 = (1 to 100).map(i =>
      (ts(11 + i % 3), if (i % 2 == 0) 500.0 + i else i.toDouble))
    val in = MemoryStream[(Timestamp, Double)]
    val out = StreamOps.streamingPsi(in.toDF.toDF("ts", "x"), "ts", base,
      "10 minutes", "5 minutes")
    val q = out.writeStream.format("memory").queryName("spp")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(w0 ++ w1: _*)
      q.processAllAvailable()
      in.addData((ts(60), 1.0)) // advance watermark to close both windows
      q.processAllAvailable()
      val streamed = spark.table("spp").collect()
        .map(r => r.getAs[Timestamp]("window_start").getTime ->
          r.getAs[Double]("psi")).toMap
      // batch twin: Drift.psi(baseline, <window slice>) with the same
      // bins — same edges (same fit path), same eps smoothing; the only
      // representational difference is the term-sum (decimal-exact in
      // batch, fixed-order double in the stream), so parity is asserted
      // at the shared round-at-6 output scale
      Seq(0L -> w0, 600000L -> w1).foreach { case (wStart, slice) =>
        val batchPsi = graft.drift.Drift.psi(
            baseline, slice.map(_._2).toDF("x"), Seq("x"), bins = 5)
          .collect().head.getAs[Double]("psi")
        assert(math.abs(streamed(wStart) - batchPsi) <= 1e-6,
          s"window $wStart: streaming ${streamed(wStart)} vs batch $batchPsi")
      }
    } finally q.stop()
  }
}
