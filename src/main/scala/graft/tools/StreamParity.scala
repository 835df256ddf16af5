package graft.tools

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp

/** Round close-out streaming/batch parity measurement: replays the
  * harness events slice through the Structured Streaming operators in
  * time-ordered micro-batch chunks and compares the emitted results
  * against the batch twins on the same frame — hash equality for
  * sessionize, bitwise state equality for EWMA, per-window |Δpsi| for
  * streaming PSI. StreamingSpec proves these equivalences on synthetic
  * frames per build; this tool records them on the REAL slice per round
  * (PLANS.md close-out), so the stream surface's correctness is a
  * measured number, not a qualitative claim.
  *
  * Usage: runMain graft.tools.StreamParity <sfDir> [chunks]
  * Prints one JSON line {"sf":…,"sessionize_match":…,"session_rows":…,
  * "batch_hash":…,"stream_hash":…,"ewma_match":…,"ewma_keys":…,
  * "psi_windows":…,"psi_max_abs_diff":…}.
  */
object StreamParity {

  private def sha(rows: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.sorted.foreach(r => md.update(r.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val chunks = args.lift(1).map(_.toInt).getOrElse(8)
    val spark = graft.Session()
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // events at millisecond precision: the streaming session state keys
    // time off Timestamp.getTime (ms), so the batch twin uses the same
    // truncation — parity is then exact, not approximate
    val ev = graft.sources.Tables.load(spark, sfDir, "events")
      .select(col("user_id").cast("string").as("k"),
        expr("ts div 1000000").cast("long").as("t_ms"),
        col("value").cast("double").as("v"))
      .persist(graft.core.Caches.level) // not kept: the run's session ends with it
    val n = ev.count()
    require(n > 0, s"no events in $sfDir")

    // time-ordered chunk edges (distinct ts values, so a tie never
    // spans a micro-batch boundary and cross-batch order is monotone)
    val edges = ev.stat.approxQuantile("t_ms",
        (1 until chunks).map(_.toDouble / chunks).toArray, 0.0)
      .map(_.toLong).distinct.sorted
    def chunkOf(t: Long): Int = edges.count(_ <= t)
    val slices: Seq[Seq[(String, Long, Double)]] = ev
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .groupBy(x => chunkOf(x._2)).toSeq.sortBy(_._1).map(_._2.toSeq)

    val gapMs = 30L * 60 * 1000

    // --- sessionize: stream replay vs batch Sessionizer ------------- //
    val sessIn = MemoryStream[(String, Timestamp, Double)]
    val sessOut = graft.streaming.StreamOps.streamingSessionize(
      sessIn.toDF.toDF("k", "ts", "v"), "ts", "k", "v", gapMs,
      watermarkDelay = "0 seconds")
    val q1 = sessOut.writeStream.format("memory").queryName("sp_sess")
      .outputMode(OutputMode.Append).start()
    val maxT = ev.agg(max("t_ms")).head().getLong(0)
    try {
      slices.foreach { s =>
        sessIn.addData(s.map { case (k, t, v) => (k, new Timestamp(t), v) }: _*)
        q1.processAllAvailable()
      }
      // sentinel far past every session's timeout horizon, then one
      // more batch so EventTimeTimeout fires for all open sessions
      sessIn.addData(("__sentinel__", new Timestamp(maxT + 10 * gapMs), 0.0))
      q1.processAllAvailable()
      sessIn.addData(("__sentinel__", new Timestamp(maxT + 11 * gapMs), 0.0))
      q1.processAllAvailable()
    } finally q1.stop()
    def canon(k: String, s: Long, e: Long, cnt: Long, sum: Double): String =
      f"$k|$s|$e|$cnt|${math.round(sum * 1e6)}"
    val streamSess = spark.table("sp_sess").collect()
      .filter(_.getString(0) != "__sentinel__")
      .map(r => canon(r.getString(0), r.getTimestamp(1).getTime,
        r.getTimestamp(2).getTime, r.getLong(3), r.getDouble(4))).toSeq
    val batchSess = graft.seq.Sessionizer.sessionStats(
        ev, Seq("k"), col("t_ms"), Seq(col("v")), gapMs, col("v"))
      .collect()
      .map(r => canon(r.getString(0), r.getLong(3), r.getLong(4),
        r.getLong(2), r.getDouble(5))).toSeq
    val (bh, sh) = (sha(batchSess), sha(streamSess))

    // --- EWMA: carried fold vs batch HOF fold ----------------------- //
    val ewmaIn = MemoryStream[(Long, Long, Double)]
    val ewmaOut = graft.streaming.StreamOps.streamingEwma(
      ewmaIn.toDF.toDF("k", "t", "v"), "k", "t", "v", alpha = 0.3)
    val q2 = ewmaOut.writeStream.format("memory").queryName("sp_ewma")
      .outputMode(OutputMode.Update).start()
    try {
      slices.foreach { s =>
        ewmaIn.addData(s.map { case (k, t, v) => (k.toLong, t, v) }: _*)
        q2.processAllAvailable()
      }
    } finally q2.stop()
    val streamEwma = spark.table("sp_ewma").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
      .groupBy(_._1).map { case (k, vs) => k -> vs.maxBy(_._2._1)._2 }
    val batchEwma = graft.seq.Rolling.ewmaByKey(
        ev.toDF("k", "t", "v"), Seq("k"), "t", "v", alpha = 0.3)
      .collect()
      .map(r => r.getString(0).toLong -> ((r.getLong(1), r.getDouble(2)))).toMap
    val ewmaMatch = batchEwma.keySet == streamEwma.keySet &&
      batchEwma.forall { case (k, (bn, bs)) =>
        val (sn, ss) = streamEwma(k)
        bn == sn && java.lang.Double.doubleToLongBits(bs) ==
          java.lang.Double.doubleToLongBits(ss)
      }

    // --- streaming PSI vs batch Drift.psi per closed day window ----- //
    val cut = ev.stat.approxQuantile("t_ms", Array(0.5), 0.0).head.toLong
    val baseDf = ev.where(col("t_ms") < cut).select(col("v").as("x"))
    val base = graft.drift.Drift.fitPsiBaseline(baseDf, Seq("x"), bins = 10)
    val tail = ev.where(col("t_ms") >= cut)
      .collect().map(r => (new Timestamp(r.getLong(1)), r.getDouble(2))).toSeq
      .sortBy(_._1.getTime)
    val psiIn = MemoryStream[(Timestamp, Double)]
    val psiOut = graft.streaming.StreamOps.streamingPsi(
      psiIn.toDF.toDF("ts", "x"), "ts", base, "1 day", "0 seconds")
    val q3 = psiOut.writeStream.format("memory").queryName("sp_psi")
      .outputMode(OutputMode.Append).start()
    try {
      psiIn.addData(tail: _*)
      q3.processAllAvailable()
      // far-future row closes every real window
      psiIn.addData((new Timestamp(tail.last._1.getTime + 30L * 86400000), 0.0))
      q3.processAllAvailable()
      psiIn.addData((new Timestamp(tail.last._1.getTime + 31L * 86400000), 0.0))
      q3.processAllAvailable()
    } finally q3.stop()
    val dayMs = 86400000L
    val streamPsi = spark.table("sp_psi").collect()
      .map(r => r.getTimestamp(0).getTime -> r.getDouble(3)).toMap
      .filter { case (w, _) => tail.exists(e => e._1.getTime / dayMs * dayMs == w) }
    val psiDiffs = streamPsi.map { case (w, sp) =>
      val slice = tail.filter(e => e._1.getTime >= w && e._1.getTime < w + dayMs)
      val bp = graft.drift.Drift.psi(baseDf,
          slice.map(_._2).toDF("x"), Seq("x"), bins = 10)
        .collect().head.getAs[Double]("psi")
      math.abs(sp - bp)
    }
    val psiMax = if (psiDiffs.isEmpty) -1.0 else psiDiffs.max

    def r6(v: Double): Double = math.round(v * 1e6) / 1e6
    println(s"""{"sf":"$sfDir","n_events":$n,"chunks":${slices.size},""" +
      s""""sessionize_match":${bh == sh},"session_rows":${batchSess.size},""" +
      s""""batch_hash":"$bh","stream_hash":"$sh",""" +
      s""""ewma_match":$ewmaMatch,"ewma_keys":${batchEwma.size},""" +
      s""""psi_windows":${streamPsi.size},"psi_max_abs_diff":${r6(psiMax)}}""")
    spark.stop()
  }
}
