package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface.
  *
  * The reference is batch-only (SURVEY.md §2.9) — its README merely
  * suggests daily/weekly orchestration. This module is the engine's
  * incremental counterpart: the same Column-expression operators
  * (profilers, scorers, text ops are all pure row-wise/aggregation
  * expressions) applied to an unbounded source with event-time
  * semantics. Four incremental twins of batch operators, each checked
  * against its batch form (StreamingSpec, `tools.StreamParity`):
  *
  *  - [[streamingPsi]] — continuous drift monitoring: PSI per
  *    event-time window against a frozen training baseline;
  *  - [[streamingSessionize]] — gap-based sessionization with
  *    event-time-timeout keyed state;
  *  - [[streamingNearDupAlerts]] — banded near-duplicate candidates
  *    across micro-batches;
  *  - [[streamingEwma]] — a per-key EWMA carried in keyed state.
  *
  * Scale: watermarks bound state; per-key state is O(distinct keys).
  */
object StreamOps {

  /** Streaming drift monitor: PSI per event-time window against a
    * frozen training-time baseline
    * ([[graft.drift.Drift.fitPsiBaseline]]) — the incremental form of
    * [[graft.drift.Drift.psi]], i.e. continuous "is serving data
    * drifting from training data" monitoring.
    *
    * Structure chosen for streaming constraints: ONE watermarked
    * tumbling-window aggregation computes per-window bin counts as
    * cols × bins CONDITIONAL counts (wide form — a second stateful
    * aggregation for totals/proportions would be illegal in append
    * mode), then psi per column is a STATELESS projection over those
    * count columns with the baseline proportions riding in as literals
    * (no stream-side join, no extra state). Output: one
    * (window_start, window_end, feature, psi) row per column per
    * closed window; a column with no valid values in a window emits
    * null psi (same convention as batch). State is O(open windows ×
    * cols × bins) — watermark-bounded, scale-free in the row count.
    */
  def streamingPsi(stream: DataFrame, tsCol: String,
                   base: graft.drift.Drift.PsiBaseline,
                   windowDur: String, watermarkDelay: String,
                   eps: Double = 1e-6): DataFrame = {
    import graft.drift.Drift
    val aggs = base.cols.zipWithIndex.flatMap { case (c, ci) =>
      val bin = Drift.binIndex(col(c).cast("double"), base.edges(c))
      (0 to base.edges(c).size).map(b =>
        count(when(bin === b, 1)).as(s"__n_${ci}_$b"))
    }
    val win = stream
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDur))
      .agg(aggs.head, aggs.tail: _*)
    val psiCols = base.cols.zipWithIndex.map { case (c, ci) =>
      val nb = (0 to base.edges(c).size).map(b => col(s"__n_${ci}_$b"))
      val total = nb.reduce(_ + _)
      val terms = nb.zipWithIndex.map { case (n, b) =>
        val pc = greatest(n.cast("double") / total.cast("double"), lit(eps))
        val pb = lit(base.props(c)(b))
        (pc - pb) * log(pc / pb)
      }
      when(total > 0, round(terms.reduce(_ + _), 6)).as(s"__psi_$ci")
    }
    val wide = win.select(
      Seq(col("window.start").as("window_start"),
        col("window.end").as("window_end")) ++ psiCols: _*)
    // long form via a stateless explode (NOT a self-union of the
    // aggregation, which would double the state store)
    val pairs = explode(array(base.cols.zipWithIndex.map { case (c, ci) =>
      struct(lit(c).as("feature"), col(s"__psi_$ci").as("psi"))
    }: _*))
    wide.select(col("window_start"), col("window_end"), pairs.as("fp"))
      .select(col("window_start"), col("window_end"),
        col("fp.feature").as("feature"), col("fp.psi").as("psi"))
  }

  /** Open-session state for [[streamingSessionize]]: millis bounds +
    * running aggregates of the session being built per key.
    */
  final case class SessionState(start: Long, last: Long, n: Long, sum: Double)

  /** Streaming gap-based sessionization — the incremental form of
    * [[graft.seq.Sessionizer]]: events with the same key belong to one
    * session while consecutive event times are within `gapMs`; a
    * session CLOSES (and is emitted, append-mode) either when a
    * later event of the same key arrives past the gap, or when the
    * event-time watermark passes `last + gapMs` (EventTimeTimeout —
    * no more in-gap events can exist, by the watermark contract).
    * Emits (key, session_start, session_end, n_events, value_sum).
    *
    * State is one [[SessionState]] per ACTIVE key — watermark-bounded:
    * idle keys time out, emit, and are removed. Events are processed
    * in event-time order within each micro-batch; cross-batch
    * disorder beyond the watermark delay is dropped upstream by the
    * watermark itself: a window or session closes once the watermark
    * passes its end, and later events for it are not counted.
    */
  def streamingSessionize(stream: DataFrame, tsCol: String, keyCol: String,
                          valueCol: String, gapMs: Long,
                          watermarkDelay: String): DataFrame = {
    import stream.sparkSession.implicits._
    require(gapMs > 0, s"streamingSessionize needs a positive gap: $gapMs")
    // project/cast FIRST, watermark the projected column: a cast after
    // withWatermark mints a new attribute without the event-time tag
    // and EventTimeTimeout then rejects the plan
    val typed = stream
      .select(col(keyCol).cast("string").as("k"),
        col(tsCol).cast("timestamp").as("ts"),
        col(valueCol).cast("double").as("v"))
      .withWatermark("ts", watermarkDelay)
      .as[(String, java.sql.Timestamp, Double)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[SessionState,
        (String, java.sql.Timestamp, java.sql.Timestamp, Long, Double)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key, rows, state) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator((key, new java.sql.Timestamp(s.start),
              new java.sql.Timestamp(s.last), s.n, s.sum))
          } else {
            val events = rows.map(r => (r._2.getTime, r._3)).toArray.sortBy(_._1)
            val closed = scala.collection.mutable.ArrayBuffer
              .empty[(String, java.sql.Timestamp, java.sql.Timestamp, Long, Double)]
            def emit(s: SessionState): Unit =
              closed += ((key, new java.sql.Timestamp(s.start),
                new java.sql.Timestamp(s.last), s.n, s.sum))
            var cur = state.getOption
            // stale events (more than a gap BEFORE the open session —
            // older sessions this operator can no longer grow) are
            // gap-merged among THEMSELVES before emission, matching the
            // batch Sessionizer: adjacent stale events within gapMs
            // form one session, not n single-event sessions. A stale
            // chain can never reach the open session (each member is
            // > gapMs before its start by definition), so the merge
            // stays local to this accumulator.
            var stale = Option.empty[SessionState]
            events.foreach { case (t, v) =>
              cur match {
                // in-gap on EITHER side: a within-watermark late event
                // extends the session backwards (start = min), not just
                // forwards — the signed `t - last` alone would silently
                // swallow arbitrarily-early events into the wrong session
                case Some(s) if t >= s.start - gapMs && t - s.last <= gapMs =>
                  cur = Some(SessionState(math.min(s.start, t),
                    math.max(s.last, t), s.n + 1, s.sum + v))
                case Some(s) if t < s.start - gapMs =>
                  stale match {
                    case Some(st) if t - st.last <= gapMs =>
                      stale = Some(SessionState(st.start, math.max(st.last, t),
                        st.n + 1, st.sum + v))
                    case other =>
                      other.foreach(emit)
                      stale = Some(SessionState(t, t, 1L, v))
                  }
                case Some(s) =>
                  emit(s)
                  cur = Some(SessionState(t, t, 1L, v))
                case None =>
                  cur = Some(SessionState(t, t, 1L, v))
              }
            }
            stale.foreach(emit)
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last + gapMs)
            }
            closed.iterator
          }
      }
      .toDF("key", "session_start", "session_end", "n_events", "value_sum")
  }

  /** Streaming NEAR-DUP candidate alerts — the incremental form of the
    * MinHash-LSH banded dedup ([[graft.dedup.MinHashLSH]]): each
    * arriving document's 16×4 band keys are checked against per-bucket
    * keyed state holding the bucket's FIRST owner; any later arrival
    * in an occupied bucket emits (band, bucket, first_id, dup_id).
    * The alert stream IS the banded candidate stream — downstream
    * consumers dedup/verify exactly as the batch path does after
    * `candidatePairs` (the StreamingSpec parity assertion). State is
    * one long per non-empty bucket — fixed-size and key-partitioned,
    * the same scale envelope as the batch band table; arrivals are
    * id-ordered within a batch so replays are deterministic.
    */
  def streamingNearDupAlerts(stream: DataFrame, idCol: String,
                             textCol: String, n: Int = 3, k: Int = 16,
                             bands: Int = 4): DataFrame = {
    import stream.sparkSession.implicits._
    graft.dedup.MinHashLSH.bandKeys(stream, idCol, textCol, n, k, bands)
      .select(col("band_idx").cast("int").as("band_idx"),
        col("band_key").cast("long").as("band_key"),
        col("id").cast("long").as("id"))
      .as[(Int, Long, Long)]
      .groupByKey { case (bi, bkey, _) => (bi, bkey) }
      .flatMapGroupsWithState[Long, (Int, Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case ((bi, bkey), rows, state) =>
          val ids = rows.map(_._3).toSeq.sorted
          var first = state.getOption.getOrElse(Long.MaxValue)
          val alerts =
            scala.collection.mutable.ArrayBuffer[(Int, Long, Long, Long)]()
          ids.foreach { id =>
            if (first == Long.MaxValue) first = id
            else if (id != first) alerts += ((bi, bkey, first, id))
          }
          state.update(first)
          alerts.iterator
      }
      .toDF("band_idx", "band_key", "first_id", "dup_id")
  }

  /** Streaming twin of `seq.Rolling.ewmaByKey`: per-key EWMA carried as
    * explicit (ewma, n) state across micro-batches. Each batch's new
    * rows are sorted by (ts, value) and folded `s ← s·(1−α) + v·α` onto
    * the carried state — BIT-IDENTICAL to the batch fold when events
    * arrive time-ordered across batches (the StreamingSpec parity
    * assertion). Out-of-order arrivals WITHIN a batch are handled by
    * the sort; across batches they would need the watermarked-buffer
    * pattern of [[streamingSessionize]] — EWMA is order-defined, so a
    * late event cannot be folded exactly without replaying the fold;
    * callers needing exactness under cross-batch disorder should
    * window-buffer upstream. Emits (key, n, ewma) per key per batch.
    *
    * State is two doubles per key — O(distinct keys), no timeout by
    * default (a monitoring EWMA is long-lived by design).
    */
  def streamingEwma(stream: DataFrame, keyCol: String, tsCol: String,
                    valueCol: String, alpha: Double): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0,1]: $alpha")
    import stream.sparkSession.implicits._
    stream
      .select(col(keyCol).cast("long").as("k"), col(tsCol).cast("long").as("t"),
        col(valueCol).cast("double").as("v"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[(Long, Long, Double)],
         state: GroupState[(Double, Long)]) =>
          val ordered = rows.toSeq.sortBy(r => (r._2, r._3)).map(_._3)
          val (s0, n0) =
            if (state.exists) (state.get._1, state.get._2)
            else (ordered.head, 1L)
          val start = if (state.exists) ordered else ordered.tail
          val s = start.foldLeft(s0)((s, v) => s * (1.0 - alpha) + v * alpha)
          val n = n0 + start.size
          state.update((s, n))
          (key, n, s)
      }
      .toDF("key", "n", "ewma")
  }
}
