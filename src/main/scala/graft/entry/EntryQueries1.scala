package graft

import graft.core.{Caches, PrefixScan, Profiler, Quantiles, Stats}
import graft.eval.Metrics
import graft.features.{FrequencyIndexer, Imputers}
import graft.score.ZScoreAnomaly
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Query registry part 1 — see [[SparkEntry]] for the driver
  * contract. Mixed into `object SparkEntry`; the self-type gives
  * every member access to the shared helpers wherever they live.
  */
private[graft] trait EntryQueries1 { this: SparkEntry.type =>


  private[graft] def li(s: SparkSession, dir: String) = Tables.load(s, dir, "lineitem")
  private[graft] def em(s: SparkSession, dir: String) = Tables.load(s, dir, "embeddings")

  /** A1/A8 — grouped aggregation (sums, exact mean, count). */
  private[graft] def qPricingSummary(s: SparkSession, dir: String): DataFrame =
    // par(): the four decimal partial aggregates otherwise run inside
    // the scan's single row-group task (r16 second pass, A/B'd)
    par(li(s, dir))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(Stats.dsum(col("l_quantity")), 4).as("sum_qty"),
        round(Stats.dsum(col("l_extendedprice")), 4).as("sum_base_price"),
        round(Stats.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
          .as("sum_disc_price"),
        round(Stats.dsum(col("l_quantity")) / count(lit(1)), 6).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Pruned lineitem slice for the stats/quantile family (q02/q03/
    * q14/q16/q108/q162/q190): the few numeric columns they all read.
    * Not persisted: the quantile consumers go through OrderStats, which
    * caches the one-column pairs frame its own passes read, and every
    * query is built after `Caches.releaseAll()`, so a wide cache here
    * served no second reader (A/B and plans in `plans/r18/`).
    */
  private[graft] def liStats(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_orderkey", "l_linestatus") ++ lineitemNumerics
    // NOT par()'d (r16 second-pass A/B): the quantile-selection passes
    // are short, and a 32-partition input makes each pay 32 tasks of
    // overhead for trivial per-pass compute (q03 0.72→1.43 s, q16
    // 0.71→1.32 s with par) — the single-pass profiler repartitions
    // per-call below
    li(s, dir).select(cols.map(col): _*)
  }

  /** A1/A9/A10 — single-pass numeric column profiler (replaces the
    * reference's job-per-column loop, SURVEY.md §4).
    */
  private[graft] def qProfile(s: SparkSession, dir: String): DataFrame =
    Profiler.profile(par(liStats(s, dir)), lineitemNumerics)

  /** A6/A7 — exact quantiles + IQR upper fence as a long table. */
  private[graft] def qQuantiles(s: SparkSession, dir: String): DataFrame = {
    val ps = Seq(0.25, 0.5, 0.75, 0.9, 0.95, 0.99)
    val df = liStats(s, dir)
    val qs = Quantiles.exactQuantiles(df, "l_extendedprice", ps)
    val fence = qs(2) + 1.5 * (qs(2) - qs(0))
    // sorted here, not by an orderBy over the 7-row LocalRelation
    // (a range sort costs three jobs: sample, map, result)
    val rows = (ps.zip(qs).map { case (p, v) => (f"p$p%.2f", v) } :+ (("iqr_fence", fence)))
      .sortBy(_._1)
    import s.implicits._
    rows.toDF("quantile", "value")
      .select(col("quantile"), round(col("value"), 6).as("value"))
  }

  /** P1/P5/L3 — filter + projection + top-k (TakeOrderedAndProject). */
  private[graft] def qFilterTopk(s: SparkSession, dir: String): DataFrame =
    li(s, dir)
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-01-01").cast("timestamp") &&
        col("l_discount") > lit(0.04))
      // round at 4, not 2: the product of a 2-dp price and a 2-dp
      // (1-discount) has EXACTLY ≤4 decimal digits, so round(.,4) is
      // an identity and cannot tie — round(.,2) hits true .xx5 ties
      // at sf0.1 where Spark's shortest-repr HALF_UP and DuckDB's
      // binary-double rounding disagree (the q90 divergence class)
      .select(col("l_orderkey"), col("l_linenumber"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
          .as("revenue"))
      .orderBy(desc("revenue"), asc("l_orderkey"), asc("l_linenumber"))
      .limit(100)

  /** P3/J1 — schema-aligned union of customer and supplier. */
  private[graft] def qUnionAlign(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(s, dir, "customer").select(
      col("c_name").as("name"), col("c_acctbal").as("acctbal"),
      col("c_nationkey").as("nationkey"), col("c_mktsegment").as("mktsegment"),
      lit("customer").as("kind"))
    val sup = Tables.load(s, dir, "supplier").select(
      col("s_name").as("name"), col("s_acctbal").as("acctbal"),
      col("s_nationkey").as("nationkey"), lit("supplier").as("kind"))
    graft.core.SchemaAlign.unionAligned(c, sup).orderBy("kind", "name")
  }

  /** A2/P6 — mean imputation over an induced-null column, verified via a
    * grouped checksum of the imputed values.
    */
  private[graft] def qImputeMean(s: SparkSession, dir: String): DataFrame = {
    val base = li(s, dir).withColumn("qty_n",
      when(col("l_orderkey") % 7 === 0, lit(null).cast(DoubleType))
        .otherwise(col("l_quantity").cast(DoubleType)))
    val fill = Imputers.fit(base, Seq("qty_n"), Imputers.Mean)
    base.groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        count(when(col("qty_n").isNull, 1)).as("n_filled"),
        round(Stats.dsum(coalesce(col("qty_n"), lit(fill("qty_n")))), 4)
          .as("sum_imputed"))
      .orderBy("l_returnflag")
  }

  /** F3 + A6 + P9 — the flagship: z-score anomaly detection. */
  private[graft] def qZscoreAnomaly(s: SparkSession, dir: String): DataFrame = {
    // pruned input cached across the fit pass, the scoring pass, and
    // steady-state reruns (retention-bounded)
    val base = Caches.keep("entry.q07", par(li(s, dir))
      .select((Seq("l_orderkey", "l_linenumber") ++ anomalyFeatures).map(col): _*))
    ZScoreAnomaly.detect(base, anomalyFeatures, p = 0.95,
        keep = Seq("l_orderkey", "l_linenumber"))
      .filter(col("is_anomaly"))
      .select(col("l_orderkey"), col("l_linenumber"),
        round(col("anomaly_score"), 6).as("anomaly_score"))
      .orderBy(desc("anomaly_score"), asc("l_orderkey"), asc("l_linenumber"))
  }

  /** A5 — frequency-descending string indexing (StringIndexer parity). */
  private[graft] def qStringIndex(s: SparkSession, dir: String): DataFrame =
    FrequencyIndexer.fit(Tables.load(s, dir, "orders"), "o_orderpriority")
      .labels.select(col("label"), col("label_index"))
      .orderBy("label_index")

  /** A11/A12 — confusion counts + derived rates in one aggregate. */
  private[graft] def qConfusion(s: SparkSession, dir: String): DataFrame = {
    val d = li(s, dir)
      .withColumn("label", when(col("l_returnflag") === "R", 1).otherwise(0))
      .withColumn("predicted", col("l_extendedprice") > 30000.0)
    Metrics.rates(d, "label", "predicted")
  }

  /** A13 — exact ROC AUC via the tie-corrected rank-sum identity over a
    * distributed prefix scan (integer-exact numerator; no
    * single-partition window — the windowed trapezoid `Metrics.aucDF`
    * remains as the small-data baseline).
    */
  private[graft] def qRocAuc(s: SparkSession, dir: String): DataFrame = {
    val d = li(s, dir)
      .withColumn("label", when(col("l_returnflag") === "R", 1).otherwise(0))
    Metrics.aucRankSum(d, "label", "l_extendedprice")
  }

  // --- W1-W3 sequence operators on events ---------------------------- //

  private[graft] def ev(s: SparkSession, dir: String) = Tables.load(s, dir, "events")
  private[graft] lazy val seqT = 5
  private[graft] lazy val seqOrder = Seq(col("ts"), col("event_id"))

  /** W1 — sliding sequences per user (size-5, stride-1); sequence sum
    * computed FROM the built array (exercises ArrayType path).
    */
  private[graft] def qSlidingSeq(s: SparkSession, dir: String): DataFrame =
    graft.seq.Sequencer
      .slidingSequences(ev(s, dir), Seq("user_id"), seqOrder, col("value"), seqT)
      .select(col("user_id"), col("row_id"),
        round(aggregate(col("seq"), lit(0.0), (acc, x) => acc + x), 4).as("seq_sum"))
      .orderBy("user_id", "row_id")

  /** W2 — expand flagged sequences (seq_sum > 450) to distinct member rows. */
  private[graft] def qSeqExpand(s: SparkSession, dir: String): DataFrame = {
    val seqs = graft.seq.Sequencer
      .slidingSequences(ev(s, dir), Seq("user_id"), seqOrder, col("value"), seqT)
      .withColumn("seq_sum", aggregate(col("seq"), lit(0.0), (acc, x) => acc + x))
      .where(col("seq_sum") > 450.0)
    graft.seq.Sequencer.expandMembers(seqs, Seq("user_id"), seqT)
      .orderBy("user_id", "member_row_id")
  }

  /** W3 — pad-align per-sequence scores onto source rows (first t−1 rows
    * of each series get null), aggregated per user for a compact check.
    */
  private[graft] def qPadAlign(s: SparkSession, dir: String): DataFrame = {
    val base = graft.seq.Sequencer.withRowId(ev(s, dir), Seq("user_id"), seqOrder)
    val scores = graft.seq.Sequencer
      .slidingSequences(ev(s, dir), Seq("user_id"), seqOrder, col("value"), seqT)
      .select(col("user_id"), col("row_id"),
        (aggregate(col("seq"), lit(0.0), (acc, x) => acc + x) / seqT).as("seq_score"))
    graft.seq.Sequencer.padAlignScores(base, scores, Seq("user_id", "row_id"))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_rows"),
        count(when(col("seq_score").isNull, 1)).as("n_padded"),
        round(Stats.dsum(col("seq_score")), 4).as("score_sum"))
      .orderBy("user_id")
  }

  // --- feature/eval coverage ---------------------------------------- //

  /** A3 — median imputation (exact percentile path). */
  private[graft] def qImputeMedian(s: SparkSession, dir: String): DataFrame = {
    val base = liStats(s, dir).withColumn("price_n",
      when(col("l_orderkey") % 5 === 0, lit(null).cast(DoubleType))
        .otherwise(col("l_extendedprice").cast(DoubleType)))
    val fill = Imputers.fit(base, Seq("price_n"), Imputers.MedianExact)
    base.groupBy(col("l_linestatus"))
      .agg(
        count(lit(1)).as("n"),
        count(when(col("price_n").isNull, 1)).as("n_filled"),
        round(Stats.dsum(coalesce(col("price_n"), lit(fill("price_n")))), 4)
          .as("sum_imputed"))
      .orderBy("l_linestatus")
  }

  /** A4/F3 — z-score standardization, verified via grouped checksums. */
  private[graft] def qStandardize(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice")
    // pruned input cached across the fit agg and the transform agg;
    // par() BEFORE the persist so both decimal-exact passes run on
    // every core instead of the scan's single row-group partition
    // (r16 honest bench: 3.3 s isolated without it)
    val df = Caches.keep("entry.q15",
      par(li(s, dir).select((cols :+ "l_returnflag").map(col): _*)))
    val model = graft.features.Standardizer.fit(df, cols)
    model.transform(df, suffix = "_z")
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        round(Stats.dsum(col("l_quantity_z")), 4).as("sum_z_qty"),
        round(Stats.dsum(col("l_extendedprice_z")), 4).as("sum_z_price"),
        round(max(abs(col("l_quantity_z"))), 6).as("max_abs_z_qty"))
      .orderBy("l_returnflag")
  }

  /** P11/F5 — winsorize to [p01, p99], verified via aggregates. */
  private[graft] def qClip(s: SparkSession, dir: String): DataFrame = {
    val clipped = Quantiles.clipToQuantiles(liStats(s, dir), Seq("l_extendedprice"))
    clipped.agg(
      round(min(col("l_extendedprice")), 4).as("min_clipped"),
      round(max(col("l_extendedprice")), 4).as("max_clipped"),
      round(Stats.dsum(col("l_extendedprice")), 4).as("sum_clipped"))
  }

  /** A10 — zero/missing fraction per column in one pass. */
  private[graft] def qSparseFractions(s: SparkSession, dir: String): DataFrame = {
    val base = li(s, dir)
      .withColumn("qty_n",
        when(col("l_orderkey") % 7 === 0, lit(null).cast(DoubleType))
          .otherwise(col("l_quantity").cast(DoubleType)))
      .withColumn("tax_d", col("l_tax").cast(DoubleType))
    Profiler.sparseFractions(base, Seq("qty_n", "tax_d"))
  }

  /** A14 — Youden-J optimal threshold over the ROC points. */
  private[graft] def qYouden(s: SparkSession, dir: String): DataFrame = {
    val d = li(s, dir)
      .withColumn("label", when(col("l_returnflag") === "R", 1).otherwise(0))
    Metrics.youdenJ(d, "label", "l_extendedprice")
      .select(round(col("score"), 4).as("score"), round(col("j"), 6).as("j"))
  }

  /** T5 — duplicate-n-gram repetition fractions (Gopher-style quality
    * filter): map-only, per-doc 2-gram and 3-gram dup fractions.
    */
  private[graft] def qRepetition(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextOps
    // tokens hoisted into its own MULTI-referenced projection (both
    // n-gram sizes read it), so the per-gram lambdas slice a bound
    // array instead of re-running the tokenizer per element; par()
    // because the remaining work is per-row compute on a one-row-group
    // scan (r16 A/B: 8.9 s → 0.9 s)
    par(doc(s, dir))
      .select(col("doc_id"), TextOps.tokens(col("text")).as("__toks"))
      .select(col("doc_id"),
        round(TextOps.dupNgramFractionFromTokens(col("__toks"), 2), 6)
          .as("dup2"),
        round(TextOps.dupNgramFractionFromTokens(col("__toks"), 3), 6)
          .as("dup3"))
      .orderBy("doc_id")
  }

  /** T6 — PII detection + redaction (emails / phones / IPv4), the
    * corpus-scrubbing stage: pure regex Column expressions, map-only.
    * Deterministic PII is injected per doc_id so counts and the
    * redacted-text hash are meaningfully nonzero on synthetic text.
    */
  private[graft] def qPiiRedact(s: SparkSession, dir: String): DataFrame = {
    import graft.text.{Pii, TextOps}
    val t = concat(col("text"),
      when(col("doc_id") % 7 === 0,
        concat(lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com"))).otherwise(lit("")),
      when(col("doc_id") % 11 === 0, lit(" from 192.168.1.77")).otherwise(lit("")),
      when(col("doc_id") % 13 === 0, lit(" call +1 555 0100")).otherwise(lit("")))
    doc(s, dir).withColumn("t", t)
      .select(col("doc_id"),
        Pii.emailCount(col("t")).as("n_email"),
        Pii.phoneCount(col("t")).as("n_phone"),
        Pii.ipv4Count(col("t")).as("n_ip"),
        TextOps.strHash(Pii.redact(col("t"))).as("redacted_hash"))
      .orderBy("doc_id")
  }

  /** T7 — benchmark decontamination: 3-gram overlap of every corpus
    * document (doc_id ≥ 20) against the "benchmark" set (doc_id < 20) —
    * broadcast shingle semi-join, the pre-training leak check.
    */
  private[graft] def qDecontam(s: SparkSession, dir: String): DataFrame = {
    val d = doc(s, dir)
    graft.text.Decontam.contamination(
        par(d.where(col("doc_id") >= 20)), d.where(col("doc_id") < 20),
        "doc_id", "text", n = 3)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  /** W6 — as-of join: each event picks up the most recent prior error
    * event's value for its user (point-in-time enrichment). Union-scan
    * form — one shuffle on the key, no range-join pair blowup; DuckDB's
    * native ASOF JOIN is the oracle.
    */
  private[graft] def qAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir).withColumn("ts_us", expr("ts div 1000"))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("event_type"), col("value"))
    // marker stream deduped to one row per (user, ts): at equal
    // timestamps the as-of pick would otherwise be engine-dependent
    val err = e.where(col("event_type") === "error")
      .groupBy(col("user_id"), col("ts_us")).agg(max(col("value")).as("err_value"))
    graft.seq.AsOfJoin.asOf(e, err, "user_id", "ts_us", Seq("err_value"))
      .select(col("event_id"), col("user_id"), col("ts_us"), col("event_type"),
        col("asof_ts").as("err_ts"), col("asof_err_value").as("err_value"))
      .orderBy("event_id")
  }

  /** W5 — gap-based sessionization over events (30-minute gap): per-key
    * ordered window (parallel across users, no global window), session
    * summaries with decimal-exact value sums. Oracle-checked end to end
    * including the gap logic.
    */
  private[graft] def qSessionize(s: SparkSession, dir: String): DataFrame = {
    val gapUs = 30L * 60 * 1000 * 1000 // 30 min in micros
    // micro-precision timestamps on BOTH engines: DuckDB TIMESTAMP is
    // microseconds, so the nanos-as-long column is integer-divided down
    // before the gap compare (otherwise a gap within 1 µs of the
    // threshold could sessionize differently across engines)
    val base = ev(s, dir).withColumn("ts_us", expr("ts div 1000"))
    graft.seq.Sessionizer.sessionStats(base, Seq("user_id"),
        col("ts_us"), Seq(col("event_id")), gapUs, col("value"))
      .select(col("user_id"), col("session_seq"), col("n_events"),
        col("start_ts"), col("end_ts"), round(col("sum_value"), 4).as("sum_value"))
      .orderBy("user_id", "session_seq")
  }

  // --- distribution drift (data-quality monitoring) ------------------ //

  /** D1 — PSI per numeric feature between early (baseline) and late
    * (current) shipment populations: decile edges from the baseline via
    * the distributed order-statistic selection, then one fused
    * (column, bin) aggregate per frame — narrow keys only.
    */
  private[graft] def qPsiDrift(s: SparkSession, dir: String): DataFrame = {
    val l = li(s, dir)
    val cut = lit("1998-01-01").cast("timestamp")
    graft.drift.Drift.psi(
        l.where(col("l_shipdate") < cut), l.where(col("l_shipdate") >= cut),
        Seq("l_quantity", "l_extendedprice", "l_discount"), bins = 10)
      .orderBy("feature")
  }

  /** D2 — exact two-sample Kolmogorov–Smirnov statistic between
    * purchase and click event values — distributed prefix scan, no
    * single-partition window, sup evaluated at every distinct value.
    */
  private[graft] def qKsDrift(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
    graft.drift.Drift.ks(
      e.where(col("event_type") === "purchase"),
      e.where(col("event_type") === "click"), "value")
  }

  /** D3 — chi-square categorical drift: event-type mix of even- vs
    * odd-id events (a scale-free split — both sides are non-empty at
    * every sf, unlike an absolute id cut).
    */
  private[graft] def qChi2Drift(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
    graft.drift.Drift.chiSquare(
      e.where(col("event_id") % 2 === 0), e.where(col("event_id") % 2 === 1),
      "event_type")
  }

  /** W7 — rolling trailing-window features per user over the event
    * stream: moving count/avg/std/min/max + lag delta. One shuffle on
    * the key, per-key ordered windows, decimal-exact windowed sums
    * (engines disagree on windowed-double association order).
    */
  private[graft] def qRollingFeats(s: SparkSession, dir: String): DataFrame = {
    // persist BEFORE the final orderBy: a range exchange executes its
    // narrow child TWICE (once for the boundary-sampling job, once as
    // the shuffle map pass — guide §2.4's accidental-shuffle cost), and
    // here that child is the whole two-window battery. Materializing
    // the pre-sort frame makes both passes read one computed result.
    val out = Caches.keep("entry.q66",
      graft.seq.Rolling.rolling(ev(s, dir), Seq("user_id"),
          col("event_id"), col("value"), k = 4)
        .select(col("event_id"), col("user_id"), col("roll_n"),
          round(col("roll_avg"), 6).as("roll_avg"),
          round(col("roll_std"), 6).as("roll_std"),
          round(col("roll_min"), 6).as("roll_min"),
          round(col("roll_max"), 6).as("roll_max"),
          round(col("roll_delta"), 6).as("roll_delta")))
    out.orderBy("event_id")
  }

  /** A16 — pairwise Pearson correlation matrix of the lineitem numeric
    * features in ONE mergeable aggregate pass (pairwise-complete
    * validity, exact decimal moments).
    */
  private[graft] def qCorrMatrix(s: SparkSession, dir: String): DataFrame =
    Stats.corrMatrix(par(li(s, dir)), lineitemNumerics)
      .select(col("col_x"), col("col_y"), round(col("corr"), 6).as("corr"))
      .orderBy("col_x", "col_y")

  /** F7 — robust (median/IQR) scaling, the outlier-insensitive scaler:
    * fused distributed quantile fit, codegen'd transform, grouped
    * decimal checksum of the scaled values.
    */
  private[graft] def qRobustScale(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice")
    val base = li(s, dir)
    val m = graft.features.RobustScaler.fit(base, cols)
    m.transform(base, "_r")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        round(Stats.dsum(col("l_quantity_r")), 4).as("sum_qty_scaled"),
        round(Stats.dsum(col("l_extendedprice_r")), 4).as("sum_price_scaled"))
      .orderBy("l_returnflag")
  }

  /** A17 — exact per-group quantiles via the fused grouped selection
    * (no per-group value buffers, no single-reducer percentile).
    */
  private[graft] def qGroupedQuantiles(s: SparkSession, dir: String): DataFrame =
    graft.core.OrderStats.groupedQuantiles(li(s, dir), "l_returnflag",
        "l_extendedprice", Seq(0.25, 0.5, 0.95))
      .select(col("l_returnflag"), col("p"), round(col("value"), 6).as("value"))
      .orderBy("l_returnflag", "p")

  // --- text analysis over documents (training-data pipeline ops) ----- //

  private[graft] def doc(s: SparkSession, dir: String) = Tables.load(s, dir, "documents")
  /** Post-scan round-robin repartition (the reference's own L5
    * `repartition(32)`, `app/AE_model.py:29`). The harness's local
    * parquet files hold ONE row group each, so a bare scan is a single
    * task; queries whose cost is per-row compute (model scoring,
    * multi-agg profiling, shingle explosion) repartition first so the
    * narrow stages use every core. Cheap scan-bound queries skip it —
    * the shuffle would cost more than it buys.
    */
  private[graft] def par(df: DataFrame) =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** T1 — token counting (whitespace, distinct, BPE-ish, regex) +
    * rolling-hash fingerprint, one codegen'd map stage per document.
    */
  private[graft] def qTextStats(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextOps
    doc(s, dir).select(col("doc_id"),
      TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
      TextOps.uniqueTokenCount(col("text")).cast("long").as("n_uniq"),
      TextOps.bpeTokenCount(col("text")).as("bpe_tokens"),
      TextOps.regexTokenCount(col("text")).cast("long").as("regex_tokens"),
      TextOps.fingerprint(col("text")).as("fingerprint"))
      .orderBy("doc_id")
  }

  /** T2 — language identification (lexicon-overlap argmax) with a
    * per-(actual, predicted) confusion rollup.
    */
  private[graft] def qLangId(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextOps
    doc(s, dir)
      .select(col("lang"), TextOps.tokens(col("text")).as("toks"))
      .select(col("lang"), TextOps.langIdFromTokens(col("toks")).as("lang_pred"))
      .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))
      .orderBy("lang", "lang_pred")
  }

  /** T3 — per-document quality scoring (stopword/unique ratios, length
    * prior blend).
    */
  private[graft] def qTextQuality(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextOps
    doc(s, dir).select(col("doc_id"),
      round(TextOps.stopwordRatio(col("text")), 6).as("stopword_ratio"),
      round(TextOps.avgTokenLen(col("text")), 6).as("avg_token_len"),
      round(TextOps.uniqueRatio(col("text")), 6).as("unique_ratio"),
      round(TextOps.qualityScore(col("text")), 6).as("quality"))
      .orderBy("doc_id")
  }

  // --- deduplication over documents / embeddings --------------------- //

  /** D1 — exact dedup by content hash on a frame with induced duplicates
    * (every 10th doc re-inserted under a shifted id). Only (hash, id)
    * shuffles — document bodies never move.
    */
  private[graft] def qExactDedup(s: SparkSession, dir: String): DataFrame = {
    val d = doc(s, dir).select(col("doc_id"), col("text"))
    val withDups = d.unionByName(
      d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))
    graft.dedup.Dedup.exactDupGroups(withDups, "doc_id", "text")
      .select(col("content_hash"), col("n_dups"), col("canonical_id"))
      .orderBy("canonical_id")
  }

  /** D2 — all-pairs 3-gram Jaccard near-dup detection (correctness
    * baseline for D3's LSH path).
    */
  private[graft] def qJaccardPairs(s: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.jaccardPairs(par(doc(s, dir)), "doc_id", "text",
        n = 3, threshold = 0.5)
      .orderBy("a", "b")

  /** D3 — MinHash(16) + 4-band LSH candidates, exact-Jaccard verified.
    * The scale path: shuffles band keys, verifies only in-bucket pairs.
    */
  private[graft] def qMinHashLsh(s: SparkSession, dir: String): DataFrame =
    graft.dedup.MinHashLSH.nearDupPairs(doc(s, dir), "doc_id", "text",
        n = 3, k = 16, bands = 4, threshold = 0.5)
      .orderBy("a", "b")

  /** D4 — per-document 24-bit SimHash fingerprints. */
  private[graft] def qSimHash(s: SparkSession, dir: String): DataFrame =
    graft.dedup.SimHash.fingerprints(par(doc(s, dir)), "doc_id", "text")
      .orderBy("id")

  /** D5 — SimHash Hamming-distance near-dup pairs (≤ 1 bit), via the
    * exact banded path (pigeonhole: ≤1 differing bit ⇒ ≥2 intact
    * chunks), verified against the brute-force oracle.
    */
  private[graft] def qSimHashPairs(s: SparkSession, dir: String): DataFrame =
    graft.dedup.SimHash.nearPairs(doc(s, dir), "doc_id", "text", maxDist = 1)
      .orderBy("a", "b")

  /** D6 — embedding-cosine near-dup pairs over the embeddings table. */
  private[graft] def qCosineDups(s: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.cosineDupPairs(
        em(s, dir), "vec_id", "embedding",
        threshold = 0.45)
      .orderBy("a", "b")

  /** D6s — LSH-bucketed embedding near-dup pairs: the 100 TB twin of
    * q28. Bucket equi-join candidates + in-bucket exact cosine — the
    * plan contains no BroadcastNestedLoopJoin; q28 remains the labeled
    * all-pairs correctness baseline.
    */
  private[graft] def qLshCosineDups(s: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.lshCosineDupPairs(
        em(s, dir), "vec_id", "embedding",
        threshold = 0.45, dim = 64, tables = 8, bitsPerTable = 6)
      .orderBy("a", "b")

  // --- similarity search over embeddings ----------------------------- //

  /** N1 — brute-force cosine top-3 neighbors (codegen'd dot kernel) for
    * query vectors id < 100; the exactness baseline for N2.
    */
  private[graft] def qCosineTopK(s: SparkSession, dir: String): DataFrame =
    graft.sim.Ann.cosineTopK(em(s, dir),
        "vec_id", "embedding", k = 3, queryPred = col("id") < 100)
      .orderBy("a", "rank")

  /** N2 — random-hyperplane LSH ANN (16 tables × 4 bits), exact
    * re-rank within buckets only: the 100 TB path. Registered at the
    * MEASURED operating point (r8 RecallCheck: recall@10 = 0.73 at
    * sf0.1 vs 0.13 for the old 4×8 banding — same 64 total planes,
    * wider OR over narrower buckets; AnnSpec floors the recall per
    * build so a params regression fails the suite).
    */
  private[graft] def qLshAnn(s: SparkSession, dir: String): DataFrame =
    graft.sim.Ann.lshTopK(em(s, dir),
        "vec_id", "embedding", k = 3, dim = 64, tables = 16,
        bitsPerTable = 4, queryPred = col("id") < 100)
      .orderBy("a", "rank")

  // --- joins, sampling, augmentation --------------------------------- //

  /** J — multiway star join with broadcast dims: revenue by nation for
    * one region+year. lineitem⋈orders shuffles on the fact keys; nation
    * and region are broadcast (no shuffle); the date filter pushes into
    * the orders scan. The canonical 100 TB join shape.
    */
  private[graft] def qJoinRevenue(s: SparkSession, dir: String): DataFrame = {
    val li = SparkEntry.li(s, dir)
    val ord = Tables.load(s, dir, "orders")
      .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val cust = Tables.load(s, dir, "customer")
    val nat = Tables.load(s, dir, "nation")
    val reg = Tables.load(s, dir, "region").where(col("r_name") === "ASIA")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(
        round(Stats.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
          .as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy("n_name")
  }

  /** R1' — deterministic content-hash sampling (the engine's scale-sane
    * replacement for RNG sampling: stable under retries and engine
    * changes), verified via grouped aggregates of the sampled set.
    */
  private[graft] def qHashSample(s: SparkSession, dir: String): DataFrame =
    graft.aug.Sampling.hashSample(li(s, dir), "l_orderkey", 0.1, seed = 42L)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        round(Stats.dsum(col("l_extendedprice")), 4).as("sum_price"))
      .orderBy("l_returnflag")

  /** R2 — deterministic SMOTE: 50 synthetic minority rows (label=7) by
    * k-NN interpolation over embeddings; checksummed via the synthetic
    * vector's squared norm.
    */
  private[graft] def qSmote(s: SparkSession, dir: String): DataFrame =
    graft.aug.Smote.oversample(em(s, dir),
        "vec_id", "embedding", col("label") === 7, k = 5, target = 50)
      .select(col("synth_id"), col("a"), col("b"), round(col("u"), 6).as("u"),
        round(graft.sim.GraftFunctions.norm2(col("vec")), 6).as("vec_norm2"))
      .orderBy("synth_id")

  /** R1/R3 — Spark-native seeded sample + full shuffle, SELF-VERIFYING
    * (the q190/q191 audit pattern; closes the engine's last rows-only
    * row). rand(seed)'s stream is engine-private, so instead of emitting
    * RNG-dependent rows the query emits deterministic anchors (the exact
    * lineitem row count and class count, cross-engine-checked) plus
    * distributional invariants the oracle pins TRUE:
    *  - `frac_in_band`  — |n_sampled − p·N| ≤ 6σ, σ = √(N·p·(1−p)): the
    *    Bernoulli(p) sample size sits inside its binomial envelope;
    *  - `chi2_ok`       — Σ_c (n_c − p·N_c)²/(p·(1−p)·N_c) < 30: the
    *    per-returnflag sampled counts match their exact expected counts
    *    (each class is an independent Binomial(N_c, p); the bound is a
    *    ~1e-6 tail for 3 classes, robust to any healthy RNG stream);
    *  - `subset_ok`     — without-replacement sampling draws a multiset
    *    SUBSET: for every (l_orderkey, l_linenumber) the sampled count
    *    never exceeds the base count (the synthetic lineitem carries
    *    duplicate business keys, so the check is per-key counts, not
    *    distinctness);
    *  - `perm_ok`       — the rand(seed) shuffle is a true permutation:
    *    zipWithIndex over the sorted frame yields exactly n indices with
    *    max = n−1 (forces the sort to materialize — the aggregate-only
    *    form would let Catalyst drop it).
    * A broken sampler (wrong fraction, replacement, skew) or shuffle
    * (dropped/duplicated rows) now fails the hard correctness gate.
    * Deterministic oracle twin for membership/order semantics: q176.
    */
  private[graft] def qSampleShuffle(s: SparkSession, dir: String): DataFrame = {
    val p = 0.01
    val base = li(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"))
    // exact per-class totals: one grouped aggregate, ≤3 rows collected
    val totals = base.groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nTotal = totals.values.sum
    // not kept: the audit's actions below read it, then it is released
    val sampled = graft.aug.Sampling.seededSample(base, p, seed = 42L)
      .persist(Caches.level)
    val sCounts = sampled.groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nSamp = sCounts.values.sum
    val fracOk =
      math.abs(nSamp - p * nTotal) <= 6.0 * math.sqrt(nTotal * p * (1 - p))
    val chi2 = totals.map { case (c, nc) =>
      val obs = sCounts.getOrElse(c, 0L).toDouble
      val exp = p * nc
      (obs - exp) * (obs - exp) / (exp * (1 - p))
    }.sum
    val subsetOk = sampled.groupBy("l_orderkey", "l_linenumber")
      .agg(count(lit(1)).as("sn"))
      .join(base.groupBy("l_orderkey", "l_linenumber")
        .agg(count(lit(1)).as("bn")), Seq("l_orderkey", "l_linenumber"))
      .where(col("sn") > col("bn")).count() == 0L
    // permutation check, two halves: (a) zipWithIndex over the sorted
    // frame still forces the shuffle's sort to MATERIALIZE (an
    // aggregate-only form would let Catalyst drop it) and pins the row
    // count; (b) a key-multiset signature — count + Σ xxhash64(key) as
    // exact decimal — compared between sampled and shuffled pins that
    // the shuffle is a PERMUTATION of the sample (zipWithIndex indices
    // are 0..n−1 by construction, so the old max-index check could not
    // catch a shuffle that dropped one row and duplicated another)
    val shuffled = graft.aug.Sampling.shuffle(sampled, seed = 42L)
    val permCnt = shuffled.select("l_orderkey").rdd
      .zipWithIndex().map(_._2).count()
    def keySig(df: DataFrame) = df.agg(
      count(lit(1)),
      sum(xxhash64(col("l_orderkey"), col("l_linenumber"))
        .cast(DecimalType(38, 0)))).head()
    val (sigS, sigH) = (keySig(sampled), keySig(shuffled))
    sampled.unpersist()
    val permOk = permCnt == nSamp && sigS.getLong(0) == sigH.getLong(0) &&
      sigS.getDecimal(1) == sigH.getDecimal(1)
    s.range(1).select(
      lit(nTotal).as("n_rows"),
      lit(totals.size.toLong).as("n_classes"),
      lit(fracOk).as("frac_in_band"),
      lit(chi2 < 30.0).as("chi2_ok"),
      lit(subsetOk).as("subset_ok"),
      lit(permOk).as("perm_ok"))
  }

  // --- native models: driver fit → broadcast → distributed score ----- //

  /** M1 — Isolation Forest end-to-end (the reference's flagship IF flow,
    * `app/IsolationForest_AE.py`): fit 100 iTrees on a deterministic
    * driver pool, broadcast, score every row distributed, flag the p90
    * tail. SELF-VERIFYING (the q190/q191 audit pattern): a random
    * forest's scores have no SQL twin, so the query outputs the exact
    * row count plus in-query invariants the oracle pins TRUE — score
    * range (0,1], planted synthetic extremes scoring above the normal
    * pool's median, and the p90 flag fraction landing in its band. A
    * broken forest (degenerate trees, bad path-length math, wrong
    * normalization) fails the hard correctness gate, not just a spec.
    */
  private[graft] def qIsolationForest(s: SparkSession, dir: String): DataFrame = {
    val feats = array(lineitemNumerics.map(c => col(c).cast("double")): _*)
    // composite key = total order: the fit pool is tie-free deterministic.
    // One slim persisted projection feeds both the pool TakeOrdered and
    // the scoring pass — the scan + repartition + array construction run
    // once instead of twice.
    val base = par(li(s, dir)).withColumn("features", feats)
      .withColumn("fit_id", col("l_orderkey") * 10 + col("l_linenumber"))
      .select(col("fit_id"), col("features"))
      .persist(Caches.level) // not kept: released once `scored` is built
    val model = graft.score.IsolationForest.fit(
      base, "fit_id", "features", numTrees = 100, maxSamples = 16)
    // cache only the score column — the wide features arrays would
    // dominate the cached bytes
    val scored = Caches.keep("entry.q35", model.transform(base, "features", "if_score")
      .select(col("if_score")))
    // approx quantiles (mergeable sketch, no global sort) — the scale
    // path for thresholds on distributed scores; deterministic
    val qs = scored
      .agg(graft.core.Quantiles.approx(col("if_score"), Seq(0.5, 0.9)))
      .head().getSeq[Double](0)
    val (median, thr) = (qs(0), qs(1))
    // the threshold action above materialized `scored`, so the wide
    // features frame is spent — release it NOW rather than retaining it.
    base.unpersist()
    // planted extremes: 4 synthetic rows far outside the data envelope,
    // scored through the SAME broadcast forest — the audit's anomaly
    // ground truth (reference analog: the labeled failure rows of
    // `app/IsolationForest_AE.py:367-399`)
    val dim = lineitemNumerics.size
    val planted = s.range(4).select(
      transform(sequence(lit(1), lit(dim)),
        j => lit(1.0e12) + col("id").cast("double") * j.cast("double"))
        .as("features"))
    val plantedMin = model.transform(planted, "features", "ps")
      .agg(min(col("ps"))).head().getDouble(0)
    val a = scored.agg(
      count(lit(1)).as("n"),
      count(when(col("if_score") <= 0 || col("if_score") > 1, 1)).as("bad"),
      count(when(col("if_score") > thr, 1)).as("flagged")).head()
    val (n, bad, flagged) = (a.getLong(0), a.getLong(1), a.getLong(2))
    import s.implicits._
    Seq((n, 4L, bad == 0L, plantedMin > median,
        flagged <= (n * 0.12).toLong && flagged >= (n * 0.02).toLong))
      .toDF("n_rows", "n_planted", "scores_in_unit", "planted_above_median",
        "flag_frac_ok")
  }

  /** M2 — linear-AE (PCA) reconstruction-error scoring over embeddings:
    * fit top-8 components on the driver pool, broadcast, score
    * distributed. SELF-VERIFYING: eigenvectors have no SQL twin, so the
    * output is the exact (row count, dim, k) plus in-query invariants
    * the oracle pins TRUE — every error non-negative and bounded by the
    * centered squared norm (k = 0 reconstruction), error monotonically
    * non-increasing in k over the NESTED bases (k = 8 basis truncated
    * to k = 2 — more components can only absorb more variance), and the
    * fitted basis orthonormal to 1e-8. Projection-math or basis bugs
    * now fail the hard correctness gate.
    */
  private[graft] def qLinearAE(s: SparkSession, dir: String): DataFrame = {
    val base = em(s, dir)
      .withColumn("features", col("embedding").cast("array<double>"))
    val m8 = graft.score.LinearAE.fit(base, "vec_id", "features", k = 8)
    // truncations of the SAME fitted basis: nested by construction, so
    // err8 <= err2 <= err0 holds row-wise as a mathematical identity
    val m2 = new graft.score.LinearAE.Model(m8.mean, m8.components.take(2))
    val m0 = new graft.score.LinearAE.Model(m8.mean, Array.empty)
    val scored = m8.transform(
      m2.transform(m0.transform(base, "features", "err0"),
        "features", "err2"),
      "features", "err8")
    val a = scored.agg(
      count(lit(1)).as("n"),
      count(when(col("err8") < 0, 1)).as("neg"),
      count(when(col("err8") > col("err2") + lit(1e-9) ||
        col("err2") > col("err0") + lit(1e-9), 1)).as("nonmono")).head()
    val ortho = basisOrthonormal(m8.components)
    import s.implicits._
    Seq((a.getLong(0), m8.mean.length.toLong, 8L, a.getLong(1) == 0L,
        a.getLong(2) == 0L, ortho))
      .toDF("n_rows", "dim", "k", "err_nonneg", "err_monotone_k",
        "basis_orthonormal")
  }

  /** max |⟨wᵢ,wⱼ⟩ − δᵢⱼ| < 1e-8 over a fitted component basis. */
  private[graft] def basisOrthonormal(comps: Array[Array[Double]]): Boolean = {
    var ok = true
    for (i <- comps.indices; j <- i until comps.length) {
      val dot = comps(i).zip(comps(j)).map { case (x, y) => x * y }.sum
      val expect = if (i == j) 1.0 else 0.0
      if (math.abs(dot - expect) > 1e-8) ok = false
    }
    ok
  }

  /** M2n — nonlinear MLP autoencoder (Dense-AE parity,
    * `app/AE_model.py:114-191`): driver-fit 64→16→64 tanh AE on the
    * deterministic pool, broadcast weights, distributed reconstruction
    * error, p95 threshold (`app/AE_model.py:197`), report the flagged
    * anomalies. Deterministic but not SQL-replicable (rows-only check).
    */
  private[graft] def qMlpAe(s: SparkSession, dir: String): DataFrame = {
    val base = em(s, dir)
      .withColumn("features", col("embedding").cast("array<double>"))
    val model = graft.score.MlpAE.fit(base, "vec_id", "features",
      hidden = 16, epochs = 60)
    val scored = Caches.keep("entry.q53", model.transform(base, "features", "recon_error")
      .select(col("vec_id"), col("recon_error")))
    val thr = Quantiles.exactQuantiles(scored, "recon_error", Seq(0.95)).head
    // SELF-VERIFYING audit (q190/q191 pattern): trained weights aren't
    // SQL-expressible, so the output is the exact row count plus
    // invariants the oracle pins TRUE — MSE scores non-negative, the
    // TRAINED net beating its own Xavier-init weights on the fit pool
    // (60 Adam epochs must reduce reconstruction loss), and the exact
    // p95 flag fraction within its band. A diverged fit, a broken
    // forward pass, or a wrong threshold fails the hard gate.
    mlpAudit(s, base, model, scored, thr,
      init = graft.score.MlpAE.fit(base, "vec_id", "features",
        hidden = 16, epochs = 0))
  }

  /** Shared MLP-AE audit body for q53/q103: distributed invariants over
    * the scored frame + driver-side trained-vs-init loss on the pool.
    */
  private[graft] def mlpAudit(s: SparkSession, base: DataFrame,
                       model: graft.score.MlpAE.Model,
                       scored: DataFrame, thr: Double,
                       init: graft.score.MlpAE.Model,
                       poolSize: Int = 4096): DataFrame = {
    val pool = graft.score.FitPool.collect(base, "vec_id", "features", poolSize)
    def meanLoss(m: graft.score.MlpAE.Model): Double =
      pool.map(m.score).sum / pool.length
    val trainedBeatsInit = meanLoss(model) < meanLoss(init)
    val a = scored.agg(
      count(lit(1)).as("n"),
      count(when(col("recon_error") < 0, 1)).as("neg"),
      count(when(col("recon_error") > thr, 1)).as("flagged")).head()
    val (n, neg, flagged) = (a.getLong(0), a.getLong(1), a.getLong(2))
    import s.implicits._
    Seq((n, neg == 0L, trainedBeatsInit,
        flagged <= (n * 0.05).toLong && flagged >= 1L))
      .toDF("n_rows", "err_nonneg", "trained_beats_init", "flag_frac_ok")
  }

  /** M2n-deep — the reference's ENHANCED Dense AE shape
    * (`app/AE_model.py:114-191`: a deep relu encoder-decoder,
    * 512→256→128→48→… in its configs) scaled to the embedding dim:
    * driver-fit multi-layer relu stack on the deterministic pool,
    * broadcast weights, distributed reconstruction error, p95
    * threshold. Deterministic but not SQL-replicable (rows-only).
    */
  private[graft] def qDeepAe(s: SparkSession, dir: String): DataFrame = {
    val base = em(s, dir)
      .withColumn("features", col("embedding").cast("array<double>"))
    val model = graft.score.MlpAE.fitStack(base, "vec_id", "features",
      hidden = Seq(32, 16, 8, 16, 32), activation = "relu",
      epochs = 30, sampleSize = 1024)
    val scored = Caches.keep("entry.q103",
      model.transform(base, "features", "recon_error")
        .select(col("vec_id"), col("recon_error")))
    val thr = Quantiles.exactQuantiles(scored, "recon_error", Seq(0.95)).head
    // same self-verifying audit as q53 (see mlpAudit): deep relu stack
    // must beat its own init after 30 epochs, scores non-negative, p95
    // flag fraction in band — the oracle pins every boolean TRUE
    mlpAudit(s, base, model, scored, thr,
      init = graft.score.MlpAE.fitStack(base, "vec_id", "features",
        hidden = Seq(32, 16, 8, 16, 32), activation = "relu",
        epochs = 0, sampleSize = 1024),
      poolSize = 1024)
  }

  /** E2E — the curation pipeline composed end to end, the way a
    * pretraining-data run chains it: C4 rule filter (q82) →
    * standing-corpus exact dedup + incoming-batch delta dedup (q78) →
    * benchmark decontamination (q61, integer-arithmetic threshold:
    * keep iff 2·n_contaminated ≤ n_shingles, no float compare to tie)
    * → deterministic split assignment (q95) → per-split sequence
    * packing (q87). Proves the operators compose with no row-id or
    * ordering assumptions between stages; oracle-checked end to end
    * over the composed SQL. Scale shape inherits from the parts:
    * bodies shuffle only into the final per-split window; dedup and
    * decontam move (hash, id) pairs and broadcast benchmark shingles.
    */
  private[graft] def qCurationPipeline(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextOps
    val d = doc(s, dir)
    // par() first: the C4 token walks + the content hash are the
    // per-row compute bulk, and the one-row-group scan would otherwise
    // run them on a single core (A/B: 6.0 s → see PLANS.md)
    // dup_frac consumes a HOISTED token array: its per-gram lambda
    // slices the array per element, and an inline tokens(text) would
    // re-run the split per gram (the q59 O(len²) trap, fixed r16)
    val stats = par(d)
      .select(col("doc_id"), col("text"),
        TextOps.tokens(col("text")).as("__toks"))
      .select(col("doc_id"), col("text"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextOps.avgTokenLen(col("text")).as("avg_len"),
        TextOps.stopwordRatio(col("text")).as("sw_ratio"),
        TextOps.dupNgramFractionFromTokens(col("__toks"), 2).as("dup_frac"))
    val passAll = TextOps.c4Rules(col("n_tokens"), col("avg_len"),
      col("sw_ratio"), col("dup_frac")).map(_._2).reduce(_ && _)
    // persisted: the corpus side is referenced by its own dedup reps
    // join AND the batch's anti-join; re-walking the C4 stats per
    // reference would triple the text scans. The content hash is
    // computed ONCE here and passed into both dedup operators as a
    // column ref — three hash walks become one.
    val kept = Caches.keep("entry.q102",
      stats.where(passAll).select(col("doc_id"), col("text"),
          TextOps.strHash(col("text")).as("h")))
    val preHashed: Column => Column = _ => col("h")
    val corpus = kept.where(col("doc_id") % 5 < 4)
    val batch = kept.where(col("doc_id") % 5 === 4)
    val merged = Caches.keep("entry.q102",
      graft.dedup.Dedup.dropExactDups(corpus, "doc_id", "text", preHashed)
        .unionByName(
          graft.dedup.Dedup.deltaDedup(batch, corpus, "doc_id", "text", preHashed))
        .drop("h")
        .where(col("doc_id") >= 20))
    val cont = graft.text.Decontam.contamination(
      merged, d.where(col("doc_id") < 20), "doc_id", "text", n = 3)
    val cleanIds = cont.where(col("n_contaminated") * 2 <= col("n_shingles"))
      .select(col("id").as("doc_id"))
    val clean = merged.join(cleanIds, Seq("doc_id"), "left_semi")
    val split = graft.aug.Sampling.splitAssign(clean, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val weighted = split.select(col("split"), col("doc_id"),
      TextOps.bpeTokenCount(col("text")).as("tokens"))
    graft.seq.Packing.packStatsByGroup(weighted, "split", "doc_id", "tokens",
        budget = 512L)
      .withColumnRenamed("group", "split")
      .orderBy("split", "pack_id")
  }

  /** F6 — VAE loss pieces as a distributed query (`app/LSTM_VAE.py:46-95`):
    * per-row reconstruction MSE + KL divergence over (x, x̂, μ, logσ²)
    * array columns — one codegen'd map stage. Training stays driver-side
    * like the reference's Keras fit; the loss math itself is engine
    * surface, and fully oracle-checked (deterministic derived μ/logσ²).
    */
  private[graft] def qVaeLoss(s: SparkSession, dir: String): DataFrame = {
    import graft.score.VaeLoss
    val base = em(s, dir).select(
      col("vec_id"),
      col("embedding").as("x"),
      transform(col("embedding"), v => v.cast(DoubleType) * lit(0.9)).as("xhat"),
      transform(col("embedding"), v => v.cast(DoubleType) * lit(0.5)).as("mu"),
      transform(col("embedding"), v => -abs(v.cast(DoubleType))).as("logvar"))
    base.select(col("vec_id"),
        VaeLoss.mse(col("x"), col("xhat")).as("m"),
        VaeLoss.klDivergence(col("mu"), col("logvar")).as("k"))
      .select(col("vec_id"), round(col("m"), 6).as("mse"),
        round(col("k"), 6).as("kl"), round(col("m") + col("k"), 6).as("loss"))
      .orderBy("vec_id")
  }

  // --- multimodal binary + grid search ------------------------------- //

  /** X1 — multimodal binary plumbing: text encoded to a binary payload
    * (stand-in for image/audio bytes), typed metadata struct attached,
    * byte-level metadata extracted (length, rolling byte hash, histogram
    * checksum). Byte ops run in JVM UDFs over the blob — the engine's
    * mapInPandas-analog boundary; everything around stays codegen'd.
    */
  private[graft] def qBinaryMeta(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Binary
    val bin = Binary.withMeta(
      doc(s, dir).withColumn("content", encode(col("text"), "UTF-8")),
      "content", mediaType = lit("text/plain"))
    bin.select(col("doc_id"),
      col("media_meta.media_type").as("media_type"),
      length(col("content")).cast("long").as("n_bytes"),
      Binary.byteHashCol(col("content")).as("byte_hash"),
      aggregate(Binary.byteHistogramCol(col("content")),
        lit(0L), (acc, x) => acc + x * x).as("hist_checksum"))
      .orderBy("doc_id")
  }

  /** A15 — single-pass grid search: F1 at each quantile threshold of the
    * score, 30 conditional aggregates in one scan (no grid cross join).
    */
  private[graft] def qGridThreshold(s: SparkSession, dir: String): DataFrame = {
    val d = li(s, dir)
      .withColumn("label", when(col("l_returnflag") === "R", 1).otherwise(0))
    graft.eval.GridSearch.thresholdGrid(d, "label", "l_extendedprice",
        Seq(0.5, 0.6, 0.7, 0.8, 0.9, 0.95))
      .select(col("p"), round(col("threshold"), 4).as("threshold"),
        col("tp"), col("fp"), col("fn"), round(col("f1"), 6).as("f1"))
      .orderBy("p")
  }

  /** P2/P3/P4/J2 end-to-end — the reference's test-vs-train schema
    * reconciliation (`app/test_AE.py:50-83`): a mutated "test" frame
    * (training column missing, unexpected extra column, boolean flag)
    * aligned back to the training schema — missing column restored as a
    * typed null, extra dropped, field order restored, bool cast to int.
    * Pure metadata operations: the plan is a single projection over the
    * scan, no shuffle.
    */
  private[graft] def qSchemaAlign(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(s, dir, "customer")
    val target = cust.select(col("c_custkey"), col("c_name"), col("c_acctbal"),
      col("c_mktsegment"), (col("c_custkey") % 2 === 0).as("is_even"))
    val mutated = cust.select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
      lit("junk").as("c_extra"), (col("c_custkey") % 2 === 0).as("is_even"))
    graft.core.SchemaAlign.boolsToInt(
        graft.core.SchemaAlign.alignTo(mutated, target.schema))
      .orderBy("c_custkey")
  }

  /** A15m — model-hyperparameter grid for the native isolation forest
    * with the reference's stability score
    * (`app/IsolationForest_AE_enhanced.py:39-146`). Driver loop over
    * the grid; ALL candidates' scoring moments from ONE distributed agg
    * pass. SELF-VERIFYING: forest scores have no SQL twin, so each grid
    * row carries its exact (num_trees, max_samples) coordinates plus
    * in-query invariants the oracle pins TRUE — mean score in (0,1),
    * σ ≥ 0, range in [0,1], the reference's stability statistic in
    * (0,1]. A degenerate candidate (collapsed scores, broken moments)
    * fails the hard gate on its own grid row.
    */
  private[graft] def qIfGrid(s: SparkSession, dir: String): DataFrame = {
    val feats = array(lineitemNumerics.map(c => col(c).cast("double")): _*)
    // (l_orderkey, l_linenumber) is the table key; a composite sort id
    // makes the fit pool a total order (no tie-dependent rows)
    val base = par(li(s, dir)).withColumn("features", feats)
      .withColumn("fit_id", col("l_orderkey") * 10 + col("l_linenumber"))
    graft.eval.GridSearch.ifParamGrid(base, "fit_id", "features",
        grid = Seq((50, 16), (100, 16), (50, 64), (100, 64)))
      .select(col("num_trees"), col("max_samples"),
        (col("mean_score") > 0 && col("mean_score") < 1).as("mean_in_unit"),
        (col("std_score") >= 0).as("std_nonneg"),
        (col("score_range") >= 0 && col("score_range") <= 1).as("range_valid"),
        (col("stability") > 0 && col("stability") <= 1).as("stability_in_unit"))
      .orderBy("num_trees", "max_samples")
  }

  /** A15cv — k-fold cross-validated threshold grid (GridSearchCV
    * analog, `app/IsolationForest_AE.py:210-247`): deterministic hash
    * folds, per-fold exact train-side thresholds, held-out confusion
    * cells. The CV structure itself is oracle-checked — fold
    * assignment, per-fold quantiles, and held-out counts all replicate
    * in SQL.
    */
  private[graft] def qCvGrid(s: SparkSession, dir: String): DataFrame =
    graft.eval.GridSearch.cvThresholdGrid(
        li(s, dir)
          .withColumn("rid", col("l_orderkey") * 10 + col("l_linenumber"))
          .withColumn("label", when(col("l_returnflag") === "R", 1).otherwise(0)),
        "rid", "label", "l_extendedprice", ps = Seq(0.8, 0.9, 0.95), k = 5)
      .select(col("p"), col("fold"), round(col("threshold"), 4).as("threshold"),
        col("tp"), col("fp"), col("fn"), round(col("f1"), 6).as("f1"))
      .orderBy("p", "fold")

  // --- reconstruction-error scoring (F1/F2) -------------------------- //

  /** F1 — variance-normalized MAE record scoring (`lib/utils.py:39-63`):
    * x̂ = per-feature train means (the trivial linear reconstruction),
    * vars = population variances (np.var semantics), score thresholded
    * at p95 — the Dense-AE flow with an oracle-checkable reconstruction.
    */
  private[graft] def qReconMae(s: SparkSession, dir: String): DataFrame = {
    val cols = lineitemNumerics
    // pruned input cached across the stats pass, the scoring pass, and
    // steady-state reruns (retention-bounded)
    val df = Caches.keep("entry.q39", par(li(s, dir))
      .select((Seq("l_orderkey", "l_linenumber") ++ cols).map(col): _*))
    val aggs = cols.flatMap { c =>
      val d = col(c).cast(DoubleType)
      Seq(Stats.dmean(d).as(s"${c}__mu"), Stats.dvarPop(d).as(s"${c}__var"))
    }
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    val mus = cols.indices.map(i => r.getDouble(2 * i))
    val vars = cols.indices.map(i => r.getDouble(2 * i + 1))
    // cache only the report columns — caching the 16-col frame would
    // multiply the cached bytes for nothing
    val scored = Caches.keep("entry.q39", df.withColumn("score",
        graft.score.ReconstructionError.varNormalizedMaeCols(
          cols.map(col), mus, vars))
      .select(col("l_orderkey"), col("l_linenumber"), col("score")))
    val thr = Quantiles.exactQuantiles(scored, "score", Seq(0.95)).head
    scored.where(col("score") > thr)
      .select(col("l_orderkey"), col("l_linenumber"),
        round(col("score"), 6).as("recon_mae"))
      .orderBy(desc("recon_mae"), asc("l_orderkey"), asc("l_linenumber"))
  }

  /** F2 — sequence reconstruction scoring over the W1 sliding windows:
    * per-timestep F1 against the global mean, averaged over the window.
    */
  private[graft] def qSeqReconMae(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
    val r = e.agg(
      Stats.dmean(col("value").cast(DoubleType)),
      Stats.dvarPop(col("value").cast(DoubleType))).head()
    val (mu, vr) = (r.getDouble(0), r.getDouble(1))
    // persist before the final orderBy (the q66 fix): the window
    // battery + per-sequence scoring otherwise run twice (range-
    // exchange sampling pass + shuffle pass)
    val out = Caches.keep("entry.q40", graft.seq.Sequencer
      .slidingSequences(e, Seq("user_id"), seqOrder, col("value"), seqT)
      .select(col("user_id"), col("row_id"),
        round(graft.score.ReconstructionError.seqVarNormalizedMae(
          transform(col("seq"), v => array(v)), Seq(mu), Seq(vr)), 6)
          .as("seq_recon_mae")))
    out.orderBy("user_id", "row_id")
  }

  /** S6/A2-A5 — the full fitted feature pipeline end-to-end (impute →
    * frequency-index → assemble → standardize), checksummed per group.
    * The reference's `Pipeline.fit/transform` flow in one query.
    */
  private[graft] def qFeaturePipeline(s: SparkSession, dir: String): DataFrame = {
    import graft.features.FeaturePipeline
    // persisted: the pipeline fit runs one job per stage kind (fills,
    // two label tables, z-params) plus the final query — five scans of
    // the same projection without it
    val base = Caches.keep("entry.q41", par(li(s, dir)).withColumn("qty_n",
      when(col("l_orderkey") % 7 === 0, lit(null).cast(DoubleType))
        .otherwise(col("l_quantity").cast(DoubleType))))
    val spec = FeaturePipeline.Spec(
      imputeCols = Seq("qty_n"),
      imputeStrategy = graft.features.Imputers.Mean,
      indexCols = Seq("l_returnflag", "l_linestatus"),
      numericCols = Seq("qty_n", "l_extendedprice"),
      standardize = true)
    val out = FeaturePipeline.fit(base, spec).transform(base)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        round(Stats.dsum(aggregate(col("features"), lit(0.0), (a, x) => a + x)), 4)
          .as("feat_checksum"))
      .orderBy("l_returnflag")
    out
  }

  /** K1 — skew-salted two-stage aggregation: hot keys spread over 32
    * salt buckets, decimal partials merged exactly — bit-identical to
    * the plain GROUP BY the oracle runs (the correctness contract of
    * the salting rewrite).
    */
  private[graft] def qSaltedAgg(s: SparkSession, dir: String): DataFrame =
    graft.core.Skew.saltedSumCount(li(s, dir), Seq("l_returnflag"),
        "l_extendedprice", spread = col("l_orderkey"), buckets = 32)
      .select(col("l_returnflag"),
        round(col("sum_l_extendedprice"), 4).as("sum_price"), col("n"))
      .orderBy("l_returnflag")

  /** N3 — IVF ANN: k-means coarse cells (fit on a deterministic pool,
    * broadcast), nprobe-cell candidate search, exact re-rank.
    * Registered at the MEASURED r10 knee (nprobe = 8 of 16 cells —
    * recall@3 0.837/0.883/0.843 at sf0.001/0.01/0.1; the r9 nprobe=4
    * point's 0.56–0.65 was a recall trap for users trusting the
    * default). The harness embeddings have weak intrinsic cluster
    * structure, so recall tracks the scanned fraction near-linearly —
    * the measured tradeoff curve lives in PLANS.md; on real corpora
    * with cluster structure the same nprobe/nCells fraction buys far
    * more. SELF-VERIFYING: centroids have no SQL twin, so the query
    * audits itself in-query against the exact brute-force top-k (the
    * q29 path) over the SAME query set and the oracle pins the
    * booleans TRUE — recall@k ≥ 0.75 (just under the weakest measured
    * SF point) and every reported cosine in [−1, 1]. An index whose
    * defaults stop returning real neighbors fails the hard
    * correctness gate.
    */
  private[graft] def qIvfAnn(s: SparkSession, dir: String): DataFrame = {
    val e = em(s, dir)
    val ivf = Caches.keep("entry.q45", graft.sim.Ann.ivfTopK(e,
        "vec_id", "embedding", k = 3, nCells = 16, nprobe = 8,
        queryPred = col("id") < 100))
    // persisted: the exact baseline feeds TWO count actions (nTrue and
    // the semi-join hit count) — unpersisted, the brute-force rerank
    // pass ran twice per rep (r16)
    val brute = Caches.keep("entry.q45.brute", graft.sim.Ann.cosineTopK(e,
        "vec_id", "embedding", k = 3, queryPred = col("id") < 100))
    val nTrue = brute.count()
    val nHit = brute.select("a", "b")
      .join(ivf.select("a", "b"), Seq("a", "b"), "left_semi").count()
    val recall = nHit.toDouble / nTrue
    val badCos = ivf.agg(count(when(
      col("cos") < lit(-1.0 - 1e-9) || col("cos") > lit(1.0 + 1e-9), 1)))
      .head().getLong(0)
    val nQueries = e.where(col("vec_id") < 100).count()
    import s.implicits._
    Seq((nQueries, 3L, recall >= 0.75, badCos == 0L))
      .toDF("n_queries", "k", "recall_ge_floor", "cos_in_range")
  }

  /** T4 — TF-IDF top-3 terms per document (rational IDF for exact
    * cross-engine arithmetic; log variant in the library).
    */
  private[graft] def qTfIdf(s: SparkSession, dir: String): DataFrame =
    graft.text.TfIdf.topTerms(
        doc(s, dir).where(col("doc_id") < 50), "doc_id", "text",
        k = 3, rational = true)
      .orderBy("id", "rank")

  /** D7 — near-dup clustering: connected components over the Jaccard
    * ≥ 0.5 pair graph (min-label propagation), the dedup
    * canonicalization step. Oracle = recursive min-reachable-id CTE.
    */
  private[graft] def qDedupClusters(s: SparkSession, dir: String): DataFrame = {
    val pairs = graft.dedup.Dedup.jaccardPairs(par(doc(s, dir)), "doc_id", "text",
      n = 3, threshold = 0.5)
    graft.dedup.Components.connectedComponents(pairs, "a", "b")
      .orderBy("id")
  }

  /** Q1 — declarative data-quality suite in one aggregation pass +
    * one referential anti-join (the deequ-style engine-native form of
    * the reference's defensive checks).
    */
  private[graft] def qQualityChecks(s: SparkSession, dir: String): DataFrame = {
    import graft.core.Checks
    import graft.core.Checks._
    val l = li(s, dir)
    val base = Checks.run(l, Seq(
      MaxNullFraction("l_quantity", 0.01),
      InRange("l_discount", 0.0, 0.05),
      Unique("l_orderkey"),
      NonEmpty,
      Finite("l_extendedprice")))
    val orphans = Checks.referentialOrphans(
      l, "l_orderkey", Tables.load(s, dir, "orders"), "o_orderkey")
    import s.implicits._
    val refRow = Seq(("referential(l_orderkey->orders)",
      orphans.toDouble, 0.0, orphans == 0L))
      .toDF("check", "observed", "threshold", "passed")
    base.unionByName(refRow).orderBy("check")
  }

  /** A13' — binned approximate ROC AUC: the documented scale path for
    * continuous scores (window input = bins, not distinct scores).
    */
  private[graft] def qBinnedRoc(s: SparkSession, dir: String): DataFrame = {
    val d = li(s, dir)
      .withColumn("label", when(col("l_returnflag") === "R", 1).otherwise(0))
    Metrics.binnedRocAuc(d, "label", "l_extendedprice", bins = 20)
  }

  /** L' — ranking window functions (row_number + lag delta): top-2
    * orders per customer by price.
    */
  private[graft] def qRanking(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey")
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
    Tables.load(s, dir, "orders")
      .where(col("o_custkey") < 200)
      .withColumn("rank", row_number().over(w))
      .withColumn("delta_to_prev",
        round(coalesce(lag("o_totalprice", 1).over(w) - col("o_totalprice"),
          lit(0.0)), 4))
      .where(col("rank") <= 2)
      .select(col("o_custkey"), col("rank"), col("o_orderkey"),
        round(col("o_totalprice"), 4).as("total"), col("delta_to_prev"))
      .orderBy("o_custkey", "rank")
  }

  /** A1' — exact per-column cardinality (the oracle-checkable column of
    * `Profiler.cardinality`; the HLL approx column is spec-tested —
    * sketches aren't cross-engine comparable).
    */
  private[graft] def qCardinality(s: SparkSession, dir: String): DataFrame =
    Profiler.cardinality(li(s, dir),
        Seq("l_returnflag", "l_linestatus", "l_orderkey", "l_quantity"))
      .select("column_name", "n_distinct")
      .orderBy("column_name")

  /** S2 — the SQL entry surface (`spark.sql` over registered tables,
    * the reference's `app/main.py` shape): orders per priority per year,
    * straight ANSI SQL through the same Catalyst pipeline.
    */
  private[graft] def qSqlSurface(s: SparkSession, dir: String): DataFrame = {
    Tables.registerViews(s, dir)
    s.sql(
      """SELECT year(o_orderdate) AS yr, o_orderpriority,
        |  count(*) AS n,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,10))) AS DOUBLE), 4) AS sum_total
        |FROM orders
        |WHERE o_orderstatus <> 'X'
        |GROUP BY year(o_orderdate), o_orderpriority
        |ORDER BY yr, o_orderpriority""".stripMargin)
  }

  /** M3 — sequence anomaly scoring end-to-end (the engine's LSTM-AE
    * capability analog, SURVEY.md §7: sequence scoring with a pluggable
    * scorer): W1 sliding windows → fixed-length sequence vectors →
    * linear-AE (PCA) reconstruction error, fit on a deterministic pool,
    * scored distributed. SELF-VERIFYING: the W1 sequence COUNT is exact
    * SQL (Σ_user max(n_u − t + 1, 0)) and anchors the oracle row; the
    * model side ships its invariants as booleans the oracle pins TRUE —
    * errors non-negative, bounded by the centered norm (k = 0), and
    * monotone over the nested k = 2 → 1 → 0 bases.
    */
  private[graft] def qSeqAeScore(s: SparkSession, dir: String): DataFrame = {
    // persisted: the sliding-window frame (scan + window shuffle) feeds
    // BOTH the fit-pool TakeOrdered and the scoring pass — without the
    // cache the whole window computation runs twice (q35/q39 pattern)
    val seqs = Caches.keep("entry.q44", graft.seq.Sequencer
      .slidingSequences(ev(s, dir), Seq("user_id"), seqOrder, col("value"), seqT)
      .withColumn("features", col("seq").cast("array<double>"))
      .withColumn("seq_key",
        col("user_id").cast("long") * 1000000L + col("row_id"))
      .select(col("seq_key"), col("features")))
    val m2 = graft.score.LinearAE.fit(seqs, "seq_key", "features", k = 2)
    val m1 = new graft.score.LinearAE.Model(m2.mean, m2.components.take(1))
    val m0 = new graft.score.LinearAE.Model(m2.mean, Array.empty)
    val scored = m2.transform(
      m1.transform(m0.transform(seqs, "features", "err0"), "features", "err1"),
      "features", "err2")
    val a = scored.agg(
      count(lit(1)).as("n"),
      count(when(col("err2") < 0, 1)).as("neg"),
      count(when(col("err2") > col("err1") + lit(1e-9) ||
        col("err1") > col("err0") + lit(1e-9), 1)).as("nonmono")).head()
    import s.implicits._
    Seq((a.getLong(0), seqT.toLong, a.getLong(1) == 0L, a.getLong(2) == 0L,
        basisOrthonormal(m2.components)))
      .toDF("n_seqs", "seq_len", "err_nonneg", "err_monotone_k",
        "basis_orthonormal")
  }

  /** A9 — per-group population and sample variance (exact-sum identity). */
  private[graft] def qVariance(s: SparkSession, dir: String): DataFrame =
    par(li(s, dir)).groupBy(col("l_returnflag"))
      .agg(
        round(Stats.dvarPop(col("l_quantity")), 6).as("var_pop_qty"),
        round(Stats.dvarSamp(col("l_quantity")), 6).as("var_samp_qty"),
        round(Stats.dstddevSamp(col("l_discount")), 6).as("std_disc"))
      .orderBy("l_returnflag")

  /** A13'' — full ROC-curve export (the reference's headline evaluation
    * artifact: the fpr/tpr arrays it plots, `lib/utils.py:117-151`,
    * `app/AE_model.py:294-319`), via the distributed prefix scan — one
    * row per distinct score, no single-partition window anywhere.
    */
  private[graft] def qRocCurve(s: SparkSession, dir: String): DataFrame = {
    val d = li(s, dir)
      .withColumn("label", when(col("l_returnflag") === "R", 1).otherwise(0))
    Metrics.rocCurve(d, "label", "l_quantity")
      .select(col("score"), round(col("tpr"), 6).as("tpr"),
        round(col("fpr"), 6).as("fpr"))
      .orderBy("score")
  }

  /** A13'' binned — the ROC curve's scale path for continuous scores:
    * quantile-bucketed, one row per bin instead of per distinct score.
    */
  private[graft] def qBinnedRocCurve(s: SparkSession, dir: String): DataFrame = {
    val d = li(s, dir)
      .withColumn("label", when(col("l_returnflag") === "R", 1).otherwise(0))
    Metrics.binnedRocCurve(d, "label", "l_extendedprice", bins = 20)
      .select(col("bin").cast("long").as("bin"), round(col("tpr"), 6).as("tpr"),
        round(col("fpr"), 6).as("fpr"))
      .orderBy("bin")
  }

  /** R4' — deterministic stratified sampling (hash-bucketed per-class
    * fractions, the oracle-checkable twin of RNG `sampleBy`), verified
    * via per-class aggregates of the sampled set.
    */
  private[graft] def qStratSample(s: SparkSession, dir: String): DataFrame =
    graft.aug.Sampling.hashStratifiedSample(li(s, dir), "l_returnflag",
        "l_orderkey", Map("A" -> 0.05, "N" -> 0.25, "R" -> 0.5), seed = 42L)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        round(Stats.dsum(col("l_extendedprice")), 4).as("sum_price"))
      .orderBy("l_returnflag")

  /** P3'/J2' — feature-dimension guard + zero-pad (`app/test_AE.py:
    * 138-165`): a "test-time" frame assembled with only 3 of the 5
    * training features is padded back to the training width; the
    * position-weighted checksum proves pad values AND positions (a
    * truncation or left-pad would shift the weights).
    */
  private[graft] def qDimPad(s: SparkSession, dir: String): DataFrame = {
    val narrow = li(s, dir).withColumn("features",
      array(Seq("l_quantity", "l_extendedprice", "l_discount")
        .map(c => col(c).cast(DoubleType)): _*))
    val padded = graft.core.SchemaAlign.padFeatures(narrow, "features", dim = 5)
    val weighted = (1 to 5)
      .map(i => element_at(col("features"), i) * lit(i.toDouble))
      .reduce(_ + _)
    padded.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        round(Stats.dsum(weighted), 4).as("checksum"),
        max(size(col("features"))).cast("long").as("dim"))
      .orderBy("l_returnflag")
  }

  /** MM' — REAL image-container metadata decode (PNG/JPEG/GIF header
    * bytes → dimensions + bit depth, pure byte arithmetic, no codec):
    * synthetic headers built from doc_id round-trip through the parser
    * and are checked against a known-answer oracle. Pixel decode stays
    * the documented stub (q37 covers the byte-level plumbing).
    */
  private[graft] def qImageMeta(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Binary
    doc(s, dir).select(col("doc_id"))
      .withColumn("img", Binary.synthHeaderCol(col("doc_id")))
      .select(col("doc_id"), Binary.imageMetaCol(col("img")).as("m"))
      .select(col("doc_id"), col("m.format").as("format"),
        col("m.width").cast("long").as("width"),
        col("m.height").cast("long").as("height"),
        col("m.bit_depth").cast("long").as("bit_depth"))
      .orderBy("doc_id")
  }

  /** MM-PX — REAL PNG PIXEL decode, dependency-free (closes the pixel
    * half of the multimodal boundary for PNG): deterministic truecolor
    * PNGs are built per doc_id by [[graft.multimodal.Binary.synthPng]]
    * (real zlib IDAT via Deflater, real CRC-32s, scanline filter type
    * cycling y%5 so every defilter path executes), then fully decoded
    * back — chunk walk, CRC verify, Inflater, none/sub/up/average/
    * paeth defiltering — and reduced to per-channel pixel statistics.
    * The oracle recomputes the statistics from the closed-form pixel
    * formula with exact integer arithmetic: a single wrong byte
    * anywhere in the deflate→inflate→defilter path breaks sum_px and
    * hash-mismatches the row. Integer anchors (n_px, sum_px) are
    * exact; mean is a terminating-or-never-tying rational at scale 6
    * for this id range (checked: no x.xxxxxx5 midpoints for id < 60);
    * std follows the repo's sqrt-at-6 convention. JPEG/PCM/video
    * payloads remain behind the documented stub (their entropy coders
    * need a codec library PNG doesn't).
    */
  private[graft] def qPngDecode(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Binary
    doc(s, dir).where(col("doc_id") < 60).select(col("doc_id"))
      .withColumn("png", Binary.synthPngCol(col("doc_id")))
      .select(col("doc_id"),
        explode(Binary.pngChannelStatsCol(col("png"))).as("st"))
      .select(col("doc_id"),
        col("st._1").cast("long").as("channel"),
        col("st._2").as("n_px"),
        col("st._3").as("sum_px"),
        round(col("st._4"), 6).as("mean_px"),
        round(col("st._5"), 6).as("std_px"))
      .orderBy("doc_id", "channel")
  }

  /** MM-PCM — REAL WAV PCM decode, dependency-free (closes the sample
    * half of the multimodal boundary for WAV): deterministic PCM WAVs
    * are built per doc_id by [[graft.multimodal.Binary.synthWavPcm]]
    * (real RIFF layout with an ancillary LIST chunk so chunk-skipping
    * executes), then fully decoded back — word-aligned chunk walk, fmt
    * validation, int16 LE sample decode — and reduced to per-channel
    * sample statistics. Integer anchors (n_samp, sum_s, sum_sq,
    * peak_abs) are exact longs; mean/RMS follow the repo's
    * round-at-6 / sqrt-at-6 conventions. The oracle recomputes every
    * sample from the closed-form formula in exact integer arithmetic —
    * one wrong byte in the RIFF walk breaks sum_sq. Compressed audio
    * (FLAC/MP3) stays behind the documented stub.
    */
  private[graft] def qWavDecode(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Binary
    doc(s, dir).where(col("doc_id") < 80).select(col("doc_id"))
      .withColumn("wav", Binary.synthWavPcmCol(col("doc_id")))
      .select(col("doc_id"),
        explode(Binary.wavChannelStatsCol(col("wav"))).as("st"))
      .select(col("doc_id"),
        col("st._1").cast("long").as("channel"),
        col("st._2").as("n_samp"),
        col("st._3").as("sum_s"),
        col("st._4").as("sum_sq"),
        col("st._5").as("peak_abs"),
        round(col("st._3").cast("double") / col("st._2"), 6).as("mean_s"),
        round(sqrt(col("st._4").cast("double") / col("st._2")), 6).as("rms_s"))
      .orderBy("doc_id", "channel")
  }

  /** MM-GIF — REAL GIF pixel decode, dependency-free (closes the pixel
    * half of the multimodal boundary for GIF): deterministic 16-color
    * GIFs are built per doc_id by [[graft.multimodal.Binary.synthGif]]
    * (real LZW compression, sub-block framing, a graphic-control
    * extension so the skip path executes), then fully decoded back —
    * screen descriptor, global color table, extension skip, LZW decode
    * with the cScSc case and code-width growth — and reduced through
    * the palette to per-channel pixel statistics. The oracle
    * recomputes the palette→pixel formula in exact integer arithmetic:
    * a single wrong index anywhere in the LZW dictionary machinery
    * breaks sum_px and hash-mismatches the row.
    */
  private[graft] def qGifDecode(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Binary
    doc(s, dir).where(col("doc_id") < 60).select(col("doc_id"))
      .withColumn("gif", Binary.synthGifCol(col("doc_id")))
      .select(col("doc_id"),
        explode(Binary.gifChannelStatsCol(col("gif"))).as("st"))
      .select(col("doc_id"),
        col("st._1").cast("long").as("channel"),
        col("st._2").as("n_px"),
        col("st._3").as("sum_px"),
        round(col("st._4"), 6).as("mean_px"),
        round(col("st._5"), 6).as("std_px"))
      .orderBy("doc_id", "channel")
  }

  /** MM-JPG — REAL baseline JPEG entropy decode (DC-exact profile):
    * deterministic DC-only grayscale JPEGs are built per doc_id by
    * [[graft.multimodal.Binary.synthJpeg]] (real Annex-K Huffman
    * tables in DHT, category+EXTEND coding of the DC diff chain, EOB
    * per block, 0xFF stuffing), then fully decoded back — marker walk,
    * DHT canonical-code reconstruction, entropy decode, dequant, exact
    * integer IDCT for flat blocks — and reduced to luma statistics.
    * Because each block codes the DIFFERENCE from its predecessor, one
    * wrong Huffman bit corrupts every later block: sum_px is a
    * whole-stream integrity check the oracle recomputes from the
    * closed-form clamp(dc·2+128) block values. General AC blocks run a
    * float IDCT (tested in spec, not oracle-checked — lossy math).
    */
  private[graft] def qJpegDecode(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Binary
    doc(s, dir).where(col("doc_id") < 60).select(col("doc_id"))
      .withColumn("jpg", Binary.synthJpegCol(col("doc_id")))
      .select(col("doc_id"), Binary.jpegLumaStatsCol(col("jpg")).as("st"))
      .select(col("doc_id"),
        col("st._1").as("n_px"),
        col("st._2").as("sum_px"),
        round(col("st._3"), 6).as("mean_px"),
        round(col("st._4"), 6).as("std_px"))
      .orderBy("doc_id")
  }

  /** S9 — JSON round-trip surface: a JSONL corpus is the standard
    * training-data interchange format, and the engine must serialize
    * and re-parse it without loss. Each document becomes a nested JSON
    * payload via `to_json(struct(...))` — including a `note` field
    * deliberately stuffed with quote/newline/tab/backslash characters
    * to exercise the escaper — then `from_json` parses it back against
    * an explicit schema, and an in-query audit counts field-exact
    * round-trips (id, nested meta, array length, long field): the
    * oracle pins `json_ok` TRUE and recomputes the aggregates from the
    * base columns, so any serialization loss flips the row. Both
    * directions are codegen'd Catalyst expressions (JacksonGenerator/
    * JacksonParser), not UDFs — per-row map work at any scale.
    */
  private[graft] def qJsonRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val d = par(doc(s, dir))
      .select(col("doc_id"), col("lang"), col("source"), col("text"),
        col("n_chars"))
      .withColumn("quoted", concat(lit("\""), col("lang"), lit("\n\t"),
        col("source"), lit("\\end\"")))
    val payload = d.withColumn("payload", to_json(struct(
      col("doc_id").as("id"),
      struct(col("lang").as("lang"), col("quoted").as("note")).as("meta"),
      split(col("text"), " ").as("words"),
      col("n_chars").as("nc"))))
    val sch = StructType(Seq(
      StructField("id", LongType),
      StructField("meta", StructType(Seq(
        StructField("lang", StringType), StructField("note", StringType)))),
      StructField("words", ArrayType(StringType)),
      StructField("nc", LongType)))
    val p = Caches.keep("entry.q235",
      payload.withColumn("r", from_json(col("payload"), sch)))
    val a = p.agg(
      count(when(col("r.id") === col("doc_id") &&
        col("r.meta.lang") === col("lang") &&
        col("r.meta.note") === col("quoted") &&
        col("r.nc") === col("n_chars") &&
        size(col("r.words")) === size(split(col("text"), " ")), 1)).as("ok"),
      count(lit(1)).as("n")).head()
    val jsonOk = a.getLong(0) == a.getLong(1)
    p.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(col("r.words")).cast("long")).as("sum_words"),
        sum(col("r.nc")).as("sum_chars"))
      .withColumn("json_ok", lit(jsonOk))
      .orderBy("source")
  }

  /** D18 — winnowing substring fingerprints (MOSS): the
    * guarantee-carrying local fingerprint scheme — any shared run of
    * ≥ w+k−1 tokens yields a shared fingerprint (details and scale
    * shape in [[graft.dedup.Winnowing]]). Emits the top shared-
    * fingerprint document pairs plus corpus totals; the oracle replays
    * gram hashing, the per-document window-min selection, and the
    * inverted-index pair join end-to-end.
    */
  private[graft] def qWinnowing(s: SparkSession, dir: String): DataFrame = {
    val d = par(doc(s, dir))
    val fp = Caches.keep("entry.q236",
      graft.dedup.Winnowing.fingerprints(d, "doc_id", "text",
          k = 4, w = 4))
    val st = fp.agg(countDistinct(col("doc_id")).as("corpus_docs"),
      count(lit(1)).as("corpus_fps"))
    val pairs = fp.as("x").join(fp.as("y"),
        col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("shared_fps"))
    pairs.crossJoin(st) // 1-row aggregate: broadcast, not a pair blowup
      .orderBy(desc("shared_fps"), asc("a"), asc("b"))
      .limit(15)
  }

  /** J5 — blocking QUALITY report (Christen's record-linkage metrics):
    * reduction ratio and pair completeness of the q129 prefix-blocking
    * scheme, measured against exact all-pairs edit-distance ground
    * truth on a deterministic eval subset (c_custkey &lt; 1500 — an
    * ABSOLUTE cap, so the labeled baseline costs the same at every
    * corpus scale, exactly how production ER evaluation samples its
    * truth set; the operator under test, the blocked join, stays
    * linear in the full corpus). ONE all-pairs pass computes distance
    * and block agreement together — truth, candidates, and
    * blocked-found counts come from the same levenshtein evaluation.
    * Every metric is an exact scaled integer; the oracle replays
    * subset → truth → candidates → blocked matches end-to-end (DuckDB
    * `levenshtein` ≡ Spark's, q129-established).
    */
  private[graft] def qBlockingQuality(s: SparkSession, dir: String): DataFrame = {
    val c = Caches.keep("entry.q237", par(Tables.load(s, dir, "customer")
        .where(col("c_custkey") < 1500))
      .select(col("c_custkey").as("id"), col("c_name").as("name"),
        substring(col("c_name"), 1, 16).as("blk")))
    val m = c.count()
    val a = c.as("x").crossJoin(c.as("y")) // labeled all-pairs baseline
      .where(col("x.id") < col("y.id"))
      .select((levenshtein(col("x.name"), col("y.name")) <= 1).as("is_match"),
        (col("x.blk") === col("y.blk")).as("same_blk"))
      .agg(count(when(col("is_match"), 1)).as("n_truth"),
        count(when(col("same_blk"), 1)).as("n_cand"),
        count(when(col("is_match") && col("same_blk"), 1)).as("n_found"))
      .head()
    val (nTruth, nCand, nFound) = (a.getLong(0), a.getLong(1), a.getLong(2))
    val nAll = m * (m - 1) / 2
    import s.implicits._
    Seq((m, nAll, nTruth, nCand, nFound,
        1000000L - (if (nAll > 0) nCand * 1000000L / nAll else 0L),
        if (nTruth > 0) nFound * 1000000L / nTruth else 1000000L))
      .toDF("n_eval", "n_allpairs", "n_truth", "n_candidates", "n_found",
        "reduction_e6", "completeness_e6")
  }

  /** T31 — compression-ratio quality signal (deflate bytes per char,
    * the Gopher/Dolma "too compressible = boilerplate" filter; module
    * rationale in [[graft.text.Compress]]). zlib byte counts are not
    * engine-mirrorable, so the registered query is a self-verifying
    * audit (the q190 pattern): the oracle pins per-source doc counts
    * plus three structural invariants that only hold if the
    * measurement is real zlib output — ratios bounded by the
    * stored-block worst case, text||text costing ≤ 64 bytes over text
    * (the whole second copy is back-references), and repetition
    * compressing strictly better than reversed-novelty at corpus
    * level. Per-doc ratios remain available to library users via
    * `Compress.withCompressionRatio`.
    */
  private[graft] def qCompressionSignal(s: SparkSession, dir: String): DataFrame = {
    import graft.text.Compress
    val d = Caches.keep("entry.q238",
      par(doc(s, dir)).select(col("doc_id"), col("source"), col("text"))
        .withColumn("raw_len", length(col("text")).cast("long"))
        .withColumn("c_len", Compress.deflatedLenCol(col("text")).cast("long"))
        .withColumn("c_dup",
          Compress.deflatedLenCol(concat(col("text"), col("text"))).cast("long"))
        .withColumn("c_rev",
          Compress.deflatedLenCol(concat(col("text"), reverse(col("text")))).cast("long")))
    val a = d.agg(
      count(when(col("c_len") > 0 &&
        col("c_len") <= col("raw_len") + col("raw_len") / 1000 + 64, 1)).as("nb"),
      count(when(col("c_dup") <= col("c_len") + 64, 1)).as("nd"),
      sum(col("c_dup")).as("sd"), sum(col("c_rev")).as("sr"),
      count(lit(1)).as("n")).head()
    val boundedOk = a.getLong(0) == a.getLong(4)
    val dupOk = a.getLong(1) == a.getLong(4)
    val repBeatsNovel = a.getLong(2) < a.getLong(3)
    d.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .withColumn("ratio_bounded", lit(boundedOk))
      .withColumn("dup_compresses", lit(dupOk))
      .withColumn("repetition_beats_novelty", lit(repBeatsNovel))
      .orderBy("source")
  }

  /** A24 — Local Outlier Factor (density-ratio anomaly score; math
    * and engine-parity discipline in [[graft.sim.Lof]]): the LOCAL
    * complement to the engine's global anomaly family (IF q35, AE
    * q36/q53, Mahalanobis q132, HBOS q136). Eval subset vec_id < 250
    * keeps the labeled all-pairs kNN baseline bounded (the 100 TB path
    * feeds the same math from IVF/LSH candidates); every derived
    * quantity is micro-unit integer so the oracle replays kNN →
    * k-distance → reachability → lrd → LOF bitwise.
    */
  private[graft] def qLof(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "embeddings").where(col("vec_id") < 250)
    graft.sim.Lof.scores(e, "vec_id", "embedding", k = 5)
      .select(col("id"), col("k_dist_micro"), col("lrd_micro"),
        round(col("lof"), 6).as("lof"))
      .orderBy(desc("lof"), asc("id")).limit(10)
  }

  /** A25 — grid-blocked exact DBSCAN (cell completeness + scale story
    * in [[graft.sim.Dbscan]]): density clustering with a noise class
    * over a closed-form 2-D fixture — three planted 1×1 blobs 10
    * units apart plus a sparse noise field, integer centi-unit
    * coordinates so every distance predicate is exact. The oracle
    * recomputes the SAME clustering from the O(n²) pair join (the
    * grid is a complete candidate set, so both must agree exactly) and
    * replays core/border/noise roles and min-id component labels.
    */
  private[graft] def qDbscan(s: SparkSession, dir: String): DataFrame = {
    val pts = doc(s, dir).where(col("doc_id") < 400)
      .select(col("doc_id").as("id"))
      .withColumn("x", when(col("id") % 4 < 3,
          (col("id") % 4) * 1000 + (col("id") * 7) % 100)
        .otherwise(lit(3000) + (col("id") * 31) % 3000))
      .withColumn("y", when(col("id") % 4 < 3,
          (col("id") % 4) * 1000 + (col("id") * 13) % 100)
        .otherwise((col("id") * 37) % 3000))
    val labeled = graft.sim.Dbscan.cluster(pts, "id", "x", "y",
      epsCenti = 50L, minPts = 5)
    val st = labeled.agg(
      count(when(col("role") === "noise", 1)).as("n_noise"),
      count(lit(1)).as("n_points"))
    labeled.where(col("role") =!= "noise")
      .groupBy("cluster")
      .agg(count(when(col("role") === "core", 1)).as("n_core"),
        count(when(col("role") === "border", 1)).as("n_border"))
      .crossJoin(st) // 1-row aggregate
      .orderBy("cluster")
  }

  /** D19 — LSH dedup QUALITY evaluation (the q237 blocking-metrics
    * story applied to the MinHash family): pair completeness and
    * precision of the banded 16×4 candidate generation vs exact
    * Jaccard ≥ 0.5 ground truth — the measurement that justifies
    * trusting LSH dedup unmodified at corpus scale. Both sides are
    * inverted-index equi-joins (truth via shared-shingle join, not
    * all-pairs), so the eval itself is corpus-scalable; the oracle
    * replays shingles → exact Jaccard AND signatures → bands →
    * candidates end-to-end with the same hash family.
    */
  private[graft] def qLshQuality(s: SparkSession, dir: String): DataFrame = {
    val d = par(doc(s, dir))
    val truth = Caches.keep("entry.q241",
      graft.dedup.Dedup.jaccardPairs(d, "doc_id", "text",
          n = 3, threshold = 0.5)
        .select(col("a"), col("b")))
    val cand = Caches.keep("entry.q241",
      graft.dedup.MinHashLSH.candidatePairs(d, "doc_id", "text",
          n = 3, k = 16, bands = 4))
    val nTruth = truth.count()
    val nCand = cand.count()
    val nFound = cand.join(truth, Seq("a", "b"), "left_semi").count()
    import s.implicits._
    Seq((nTruth, nCand, nFound,
        if (nTruth > 0) nFound * 1000000L / nTruth else 1000000L,
        if (nCand > 0) nFound * 1000000L / nCand else 0L))
      .toDF("n_truth", "n_candidates", "n_found",
        "completeness_e6", "precision_e6")
  }

  /** G1 — differentially-private-style noisy count release with
    * DETERMINISTIC Laplace noise: per (source, lang) group, count +
    * Laplace(1/ε) noise drawn by inverse CDF from the engine's
    * hash-uniform (`Sampling.keyBucket` over the group-name hash — the
    * same u the weighted sampler races on), plus k-anonymity-style
    * suppression of groups below 5. Real DP would draw fresh
    * randomness per release; the deterministic draw is what makes the
    * mechanism TESTABLE (the oracle replays hash → uniform → inverse
    * CDF exactly; ln rounds at 6 per the q96 transcendental rule).
    * One map-side-combined aggregate; noise is per-GROUP map work.
    */
  private[graft] def qDpRelease(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextOps
    val eps = 0.5
    val g = doc(s, dir).groupBy("source", "lang")
      .agg(count(lit(1)).as("n"))
      .withColumn("u",
        (graft.aug.Sampling.keyBucket(
          TextOps.strHash(concat_ws("|", col("source"), col("lang"))),
          seed = 271L).cast("double") + lit(0.5)) / lit(1000000.0))
      .withColumn("noise", round(
        lit(-1.0 / eps) * signum(col("u") - lit(0.5)) *
          log(lit(1.0) - lit(2.0) * abs(col("u") - lit(0.5))), 6))
      .withColumn("suppressed", col("n") < 5)
      .withColumn("noisy_count",
        when(col("suppressed"), lit(null).cast("double"))
          .otherwise(round(col("n") + col("noise"), 6)))
    g.select(col("source"), col("lang"), col("suppressed"),
        col("noisy_count"))
      .orderBy("source", "lang")
  }

  /** D20 — dup-cluster SURVIVORSHIP (canonical record selection): the
    * step after dedup detection — each near-dup cluster (connected
    * components over exact Jaccard ≥ 0.5 pairs, the q47/q222
    * machinery) keeps its best member by lexical-diversity score
    * (u·10⁶ div n_tok, the q223 integer-exact density), ties to the
    * smallest doc_id via one packed integer argmax key (score·2³³ −
    * doc_id — deterministic, no argmax ambiguity). Emits per-cluster
    * keep/drop accounting; the oracle replays components, scoring,
    * and the packed argmax end-to-end.
    */
  private[graft] def qSurvivorship(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextOps
    val d = par(doc(s, dir))
    val pairs = graft.dedup.Dedup.jaccardPairs(d, "doc_id", "text",
      n = 3, threshold = 0.5)
    val comp = graft.dedup.Components.connectedComponents(pairs, "a", "b")
      .withColumnRenamed("id", "doc_id")
    val toks = TextOps.tokens(col("text"))
    val scored = d.select(col("doc_id"),
        size(toks).cast("long").as("n_tok"),
        size(array_distinct(toks)).cast("long").as("u"))
      .where(col("n_tok") > 0)
      .withColumn("score", expr("u * 1000000 div n_tok"))
      .withColumn("pick", col("score") * lit(8589934592L) - col("doc_id"))
    val rooted = Caches.keep("entry.q243", scored.join(comp, Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("component"), col("doc_id"))))
    val best = rooted.groupBy("cluster").agg(
      count(lit(1)).as("n_members"),
      sum("n_tok").as("total_tokens"),
      max("pick").as("best_pick"))
    best.where(col("n_members") >= 2)
      .join(rooted.select(col("cluster"), col("pick").as("best_pick"),
        col("doc_id").as("canonical_doc"), col("n_tok").as("kept_tokens")),
        Seq("cluster", "best_pick"))
      .select(col("cluster"), col("n_members"), col("canonical_doc"),
        col("kept_tokens"),
        (col("total_tokens") - col("kept_tokens")).as("dropped_tokens"))
      .orderBy("cluster")
  }

  /** SK5 — KMV (k-minimum-values / theta-style) set sketches with
    * SET OPERATIONS: where HLL (q191) only unions, KMV estimates
    * INTERSECTION too — k smallest value-hashes per set, estimate
    * (k−1)·P/h₍k₎, Jaccard from the merged k-set (Beyer et al.,
    * SIGMOD 2007). Fully deterministic (same hash family as MinHash),
    * so unlike randomized sketches this one gets a FULL value oracle:
    * exact cardinalities AND estimates are both replayed. Per-set
    * k-smallest runs as a vocab-bound partitioned window; the merged
    * top-k is a distributed TakeOrdered. Sets: the distinct token
    * vocabularies of the even/odd document halves.
    */
  private[graft] def qKmvSets(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextOps
    import org.apache.spark.sql.expressions.Window
    val k = 128
    val P = 1000000007L
    // set elements: distinct 3-gram shingles of the even/odd halves
    // (the token vocabulary is only ~31 words on this corpus; shingles
    // are the cardinality the sketch exists for)
    val tok = Caches.keep("entry.q244", par(doc(s, dir))
      .select((col("doc_id") % 2).as("half"),
        explode(graft.dedup.Dedup.shingles(col("text"), 3)).as("w"))
      .distinct()
      .withColumn("h", TextOps.strHash(col("w"))))
    // per-half k smallest hashes: two shingle-vocab-sized partitions
    // (bounded by vocabulary, not corpus — the BPE-trainer class)
    val kth = tok.withColumn("rk", row_number().over(
        Window.partitionBy("half").orderBy(asc("h"), asc("w"))))
      .where(col("rk") === k)
      .select(col("half"), col("h").as("hk"))
    // merged k-set over the union vocabulary: distributed top-k
    val membership = tok.groupBy("w", "h")
      .agg(max(when(col("half") === 0, 1).otherwise(0)).as("in_a"),
        max(when(col("half") === 1, 1).otherwise(0)).as("in_b"))
    val mergedK = membership.orderBy(asc("h"), asc("w")).limit(k)
    val mk = mergedK.agg(max("h").as("hu"),
      sum(when(col("in_a") === 1 && col("in_b") === 1, 1L).otherwise(0L))
        .as("n_both")).head()
    val (hu, nBoth) = (mk.getLong(0), mk.getLong(1))
    val exact = tok.agg(
      countDistinct(when(col("half") === 0, col("w"))).as("ea"),
      countDistinct(when(col("half") === 1, col("w"))).as("eb"),
      countDistinct(col("w")).as("eu")).head()
    val kths = kth.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    import s.implicits._
    Seq((k.toLong, exact.getLong(0), exact.getLong(1), exact.getLong(2),
        exact.getLong(0) + exact.getLong(1) - exact.getLong(2),
        kths(0L), kths(1L), hu, nBoth))
      .toDF("k", "exact_a", "exact_b", "exact_union", "exact_inter",
        "hk_a", "hk_b", "hk_u", "n_both")
      // estimates derived in-plan so rounding is Spark's round(), the
      // exact convention the oracle mirrors with DuckDB round()
      .select(col("k"), col("exact_a"), col("exact_b"),
        col("exact_union"), col("exact_inter"),
        round(lit((k - 1).toDouble * P) / col("hk_a"), 6).as("est_a"),
        round(lit((k - 1).toDouble * P) / col("hk_b"), 6).as("est_b"),
        round(lit((k - 1).toDouble * P) / col("hk_u"), 6).as("est_union"),
        round(col("n_both").cast("double") / lit(k.toDouble) *
          (lit((k - 1).toDouble * P) / col("hk_u")), 6).as("est_inter"))
  }

  /** A26 — Weight-of-Evidence encoding + Information Value (the credit
    * -scoring standard for categorical predictive power): per segment,
    * WoE = ln(((good+0.5)·B)/((bad+0.5)·G)) (0.5 Laplace adjustment so
    * empty cells stay finite), IV = Σ (gᵢ/G − bᵢ/B)·WoEᵢ. "Bad" =
    * order status F on the customer's segment. ln rounds at 6 (the
    * transcendental rule) and IV accumulates 6-dp terms through the
    * exact decimal sum, so the whole thing value-oracles. One
    * broadcast dim join + one map-side-combined aggregate.
    */
  private[graft] def qWoe(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    val c = Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val seg = Caches.keep("entry.q245",
      o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(when(col("o_orderstatus") =!= "F", 1)).as("n_good"),
          count(when(col("o_orderstatus") === "F", 1)).as("n_bad")))
    val t = seg.agg(sum("n_good"), sum("n_bad")).head()
    val (g, b) = (t.getLong(0), t.getLong(1))
    val woe = round(log(((col("n_good") + lit(0.5)) * lit(b.toDouble)) /
      ((col("n_bad") + lit(0.5)) * lit(g.toDouble))), 6)
    val scored = seg.withColumn("woe", woe)
      .withColumn("term", round(
        (col("n_good") / lit(g.toDouble) - col("n_bad") / lit(b.toDouble)) *
          col("woe"), 6))
    val iv = scored.agg(Stats.dsum(col("term")).as("iv")).head().getDouble(0)
    scored.select(col("segment"), col("n_good"), col("n_bad"), col("woe"))
      .withColumn("iv", round(lit(iv), 6))
      .orderBy("segment")
  }

  /** G6 — k-core decomposition (R-round peeling) of the q156 brand
    * co-occurrence graph: repeatedly drop vertices with in-survivor
    * degree &lt; 3. Spam/bot rings and boilerplate hubs live in dense
    * cores; peeling is the standard scale algorithm (each round one
    * equi-join + grouped count — no global state). Both engines run
    * exactly R=8 rounds and report `fixpoint_reached` (round 8 ==
    * round 7) — TRUE here, making the fixed-R answer THE k-core; the
    * oracle replays all 8 rounds as chained CTEs.
    */
  private[graft] def qKCore(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.load(s, dir, "part").select(col("p_partkey"), col("p_brand"))
    val ob = li(s, dir).select(col("l_orderkey"), col("l_partkey"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("ok"), col("p_brand").as("b"))
      .distinct()
    val e = Caches.keep("entry.q246", ob.toDF("ok", "b1")
      .join(ob.toDF("ok2", "b2"), col("ok") === col("ok2") && col("b1") < col("b2"))
      .groupBy("b1", "b2").agg(count(lit(1)).as("np"))
      .where(col("np") >= 5).select("b1", "b2"))
    val ed = Caches.keep("entry.q246", e.select(col("b1").as("src"), col("b2").as("dst"))
      .union(e.select(col("b2").as("src"), col("b1").as("dst"))))
    val kk = 3
    var surv = ed.select(col("src").as("v")).distinct()
    var prevCount = -1L
    var lastCount = -2L
    (1 to 8).foreach { _ =>
      prevCount = lastCount
      val sv = surv
      surv = ed
        .join(sv.withColumnRenamed("v", "src"), "src")
        .join(sv.withColumnRenamed("v", "dst"), "dst")
        .groupBy(col("src").as("v")).agg(count(lit(1)).as("dg"))
        .where(col("dg") >= kk).select("v")
        .localCheckpoint()
      lastCount = surv.count()
    }
    val fix = lastCount == prevCount
    val coreDeg = ed
      .join(surv.withColumnRenamed("v", "src"), "src")
      .join(surv.withColumnRenamed("v", "dst"), "dst")
      .groupBy(col("src").as("brand")).agg(count(lit(1)).as("core_degree"))
    coreDeg.withColumn("k", lit(kk.toLong))
      .withColumn("fixpoint_reached", lit(fix))
      .select(col("brand"), col("k"), col("core_degree"),
        col("fixpoint_reached"))
      .orderBy("brand")
  }

  /** A27 — association RULES over the brand co-occurrence incidence
    * (the step after q144's raw pair counts): directed X→Y with
    * support, confidence = n(X,Y)/n(X), lift = n(X,Y)·N/(n(X)·n(Y)) —
    * all exact scaled integers (zero rounding classes). The pair stage
    * is the order-incidence self-join (bucket-confined by order);
    * marginals broadcast. Top-15 by lift with a total (lift, X, Y)
    * order, distributed TakeOrdered.
    */
  private[graft] def qAssocRules(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.load(s, dir, "part").select(col("p_partkey"), col("p_brand"))
    val ob = Caches.keep("entry.q247",
      li(s, dir).select(col("l_orderkey"), col("l_partkey"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("ok"), col("p_brand").as("b"))
        .distinct())
    val nOrders = ob.select("ok").distinct().count()
    // NOT persisted (r16 A/B: 1.70 -> 1.78 s with supp cached): the two
    // join builds' aggregate subtrees reuse one exchange already
    val supp = ob.groupBy("b").agg(count(lit(1)).as("nb"))
    val pair = ob.toDF("ok", "x")
      .join(ob.toDF("ok2", "y"), col("ok") === col("ok2") && col("x") =!= col("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("nxy"))
      .where(col("nxy") >= 5)
    pair
      .join(supp.withColumnRenamed("b", "x").withColumnRenamed("nb", "nx"), "x")
      .join(supp.withColumnRenamed("b", "y").withColumnRenamed("nb", "ny"), "y")
      .withColumn("confidence_e6", expr("nxy * 1000000 div nx"))
      .withColumn("lift_e6", expr(s"nxy * $nOrders * 1000000 div (nx * ny)"))
      .select(col("x").as("antecedent"), col("y").as("consequent"),
        col("nxy").as("support"), col("confidence_e6"), col("lift_e6"))
      .orderBy(desc("lift_e6"), col("antecedent"), col("consequent"))
      .limit(15)
  }

  /** A28 — rank-aggregated OUTLIER ENSEMBLE: three mirrorable robust
    * scores on the same column (|z|, the 0.6745-scaled MAD score, IQR
    * exceedance) are each converted to average ranks via the two-phase
    * prefix-scan ranker ([[graft.core.Rank.avgRank]] — no global
    * window), and the consensus is the mean rank: the standard
    * rank-aggregation trick that makes incommensurable score scales
    * combinable (and what production outlier ensembles do with
    * IF/LOF/AE members — those live in q35/q239/q36; this query keeps
    * the ensemble fully value-oracled by using SQL-mirrorable
    * members). Exact decimal moments + exact-selection quantiles; the
    * oracle replays scores → tie-corrected ranks → consensus.
    *
    * Plan shape (r12): every score is a per-row function of the SAME
    * column `x` with plan-literal constants, so the three rank passes
    * share ONE corpus `groupBy(x)` — each score's tie table is a
    * re-aggregation of the x-tie counts by score value
    * ([[graft.core.Rank.rankMap]]), the three rank maps attach to the
    * distinct-x frame (narrow, distinct-value-sized joins), and the
    * corpus joins back ONCE on x carrying r1/r2/r3. Replaces three
    * chained corpus-sized rank join-backs (r11's most expensive bench
    * plan, 5.85 s) with bitwise-identical output: s_i is constant per
    * x, so grouping x-counts by s_i yields exactly [[Rank.avgRank]]'s
    * tie table.
    */
  private[graft] def qOutlierEnsemble(s: SparkSession, dir: String): DataFrame = {
    val base = Caches.keep("entry.q248",
      par(li(s, dir)).select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice").cast("double").as("x")))
    val stRow = base.agg(Stats.dmean(col("x")).as("mu"),
      Stats.dstddevSamp(col("x")).as("sd")).head()
    val (mu, sd) = (stRow.getDouble(0), stRow.getDouble(1))
    val qs = graft.core.OrderStats.quantilesOf(base, "x", Seq(0.25, 0.5, 0.75))
    val (q1v, medv, q3v) = (qs(0), qs(1), qs(2))
    val dev = base.withColumn("d", abs(col("x") - lit(medv)))
    val madv = graft.core.OrderStats.quantilesOf(dev, "d", Seq(0.5)).head
    val xt = Caches.keep("entry.q248", base.groupBy("x").agg(count(lit(1)).as("__xn"))
      .withColumn("s1", abs((col("x") - lit(mu)) / lit(sd)))
      .withColumn("s2", abs(lit(0.6745) * (col("x") - lit(medv)) / lit(madv)))
      .withColumn("s3", greatest(lit(0.0), col("x") - lit(q3v),
        lit(q1v) - col("x")) / (lit(q3v) - lit(q1v))))
    var perX = xt
    Seq("s1" -> "r1", "s2" -> "r2", "s3" -> "r3").foreach { case (sc, rc) =>
      val tie = xt.groupBy(sc).agg(sum("__xn").as("__ties"))
      val m = graft.core.Rank.rankMap(tie, sc, "__ties", rc,
        s"entry.q248.$rc").withColumnRenamed(sc, s"__v_$sc")
      perX = perX.join(m, col(sc) <=> col(s"__v_$sc"), "left")
        .drop(s"__v_$sc")
    }
    // one corpus join-back against the materialized per-x map
    val rankMapX = perX.select(col("x").as("__x"), col("s1"), col("s2"),
      col("s3"), col("r1"), col("r2"), col("r3")).localCheckpoint()
    val ranked = base.join(rankMapX, col("x") <=> col("__x"), "left")
      .drop("__x")
    ranked
      .withColumn("consensus",
        round((col("r1") + col("r2") + col("r3")) / lit(3.0), 6))
      .select(col("l_orderkey"), col("l_linenumber"), col("consensus"),
        round(col("s1"), 6).as("z_score"),
        round(col("s2"), 6).as("mad_score"),
        round(col("s3"), 6).as("iqr_score"))
      .orderBy(desc("consensus"), col("l_orderkey"), col("l_linenumber"))
      .limit(15)
  }

  /** D21 — composed curation pipeline v2, the session-2 capstone
    * (q102's sibling built from the NEW operators): winnowing
    * substring fingerprints (q236) → near-dup graph (pairs sharing ≥ 2
    * fingerprints) → connected components → survivorship (q243's
    * packed argmax keeps the most diverse member per cluster) →
    * cluster-safe split (q222's root-hash rule: every cluster member,
    * kept or dropped, lands in the canonical root's split). One oracle
    * replays the whole composition end-to-end — fingerprints,
    * window-min, pair join, components, scoring, argmax, split hash —
    * so a regression anywhere in five operators breaks this row.
    */
  private[graft] def qCurationV2(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextOps
    val d = par(doc(s, dir))
    val fp = Caches.keep("entry.q249",
      graft.dedup.Winnowing.fingerprints(d, "doc_id", "text",
          k = 4, w = 4))
    val edges = fp.as("x").join(fp.as("y"),
        col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("nshared"))
      .where(col("nshared") >= 2)
      .select("a", "b")
    val comp = graft.dedup.Components.connectedComponents(edges, "a", "b")
      .withColumnRenamed("id", "doc_id")
    val toks = TextOps.tokens(col("text"))
    val scored = d.select(col("doc_id"),
        size(toks).cast("long").as("n_tok"),
        size(array_distinct(toks)).cast("long").as("u"))
      .where(col("n_tok") > 0)
      .withColumn("score", expr("u * 1000000 div n_tok"))
      .withColumn("pick", col("score") * lit(8589934592L) - col("doc_id"))
    val rooted = Caches.keep("entry.q249", scored.join(comp, Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("component"), col("doc_id"))))
    val best = rooted.groupBy("cluster").agg(max("pick").as("best_pick"))
    val labeled = rooted.join(best, "cluster")
      .withColumn("kept", col("pick") === col("best_pick"))
    val split = graft.aug.Sampling.splitAssign(labeled, "cluster",
      Seq("train" -> 0.9, "test" -> 0.1))
    split.groupBy("split")
      .agg(count(when(col("kept"), 1)).as("n_docs_kept"),
        count(when(!col("kept"), 1)).as("n_docs_dropped"),
        sum(when(col("kept"), col("n_tok")).otherwise(0L)).as("tokens_kept"),
        sum(when(!col("kept"), col("n_tok")).otherwise(0L)).as("tokens_dropped"))
      .orderBy("split")
  }

  /** V9 — FILTERED vector search measurement: top-k under a metadata
    * predicate is the production vector-DB problem (pre-filter = exact
    * top-k over the predicate subset; post-filter = over-fetch the
    * global top-k′ and filter, the cheap path every ANN index offers).
    * This query MEASURES the recall cost of post-filtering at k′ = 4k
    * under a 25%-selective predicate — the number that tells a user
    * when the cheap path is safe. Both paths and the recall join are
    * replayed exactly by the oracle (bitwise cosines via the fixed-
    * order fold, per-query partitioned windows, id tie-breaks).
    */
  private[graft] def qFilteredAnn(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.sim.GraftFunctions
    val e = Caches.keep("entry.q250", Tables.load(s, dir, "embeddings")
      .select(col("vec_id").cast("long").as("id"), col("embedding").as("vec"),
        col("label"))
      .withColumn("n2", GraftFunctions.norm2(col("vec"))))
    val pairs = Caches.keep("entry.q250", e.as("q").where(col("q.id") < 50)
      .join(e.as("t"), col("q.id") =!= col("t.id"))
      .select(col("q.id").as("qid"), col("t.id").as("tid"),
        (col("t.label") % 4 === 1).as("ok"),
        (GraftFunctions.dot(col("q.vec"), col("t.vec")) /
          (sqrt(col("q.n2")) * sqrt(col("t.n2")))).as("cos")))
    val wq = Window.partitionBy("qid").orderBy(desc("cos"), asc("tid"))
    val exact = pairs.where(col("ok"))
      .withColumn("rk", row_number().over(wq)).where(col("rk") <= 3)
      .select(col("qid"), col("tid"))
    val post = pairs.withColumn("gr", row_number().over(wq))
      .where(col("gr") <= 12).where(col("ok"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("qid").orderBy(asc("gr"))))
      .where(col("rk") <= 3)
      .select(col("qid"), col("tid"))
    val m = exact.join(post, Seq("qid", "tid"), "left_semi")
      .groupBy("qid").agg(count(lit(1)).as("matched"))
    val per = exact.groupBy("qid").agg(count(lit(1)).as("n_exact"))
      .join(m, Seq("qid"), "left")
      .withColumn("matched", coalesce(col("matched"), lit(0L)))
    per.agg(count(lit(1)).as("n_queries"),
        sum("n_exact").as("sum_exact"),
        sum("matched").as("sum_matched"),
        count(when(col("matched") < col("n_exact"), 1)).as("n_degraded"))
      .withColumn("recall_e6",
        expr("sum_matched * 1000000 div sum_exact"))
  }

  /** V10 — intrinsic-dimension estimate by the Two-NN method (Facco
    * et al., Scientific Reports 2017): d ≈ 1/mean(ln(r₂/r₁)) over each
    * point's two nearest neighbors — the standard measurement of how
    * much of an embedding space's nominal dimensionality is actually
    * used (collapsed representations ⇒ low d̂; d̂ drives PQ/IVF sizing
    * decisions). Exact 2-NN on the eval subset (labeled baseline, the
    * q29 pattern); ln terms round at 6 and accumulate through the
    * exact decimal sum; zero-distance pairs (exact dups) are excluded
    * and counted. Fully value-oracled.
    */
  private[graft] def qIntrinsicDim(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.sim.GraftFunctions
    val v = Caches.keep("entry.q251",
      Tables.load(s, dir, "embeddings").where(col("vec_id") < 300)
        .select(col("vec_id").cast("long").as("id"), col("embedding").as("vec"))
        .withColumn("n2", GraftFunctions.norm2(col("vec"))))
    val nn = v.as("x").join(v.as("y"), col("x.id") =!= col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        (lit(1.0) - GraftFunctions.dot(col("x.vec"), col("y.vec")) /
          (sqrt(col("x.n2")) * sqrt(col("y.n2")))).as("dist"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("a").orderBy(asc("dist"), asc("b"))))
      .where(col("rk") <= 2)
    val rr = nn.groupBy("a").agg(
        min(when(col("rk") === 1, col("dist"))).as("r1"),
        min(when(col("rk") === 2, col("dist"))).as("r2"))
    val terms = rr
      .withColumn("usable", col("r1") > 0)
      .withColumn("t", when(col("usable"), round(log(col("r2") / col("r1")), 6)))
    terms.agg(count(when(col("usable"), 1)).as("n_used"),
        count(when(!col("usable"), 1)).as("n_excluded"),
        (Stats.dsum(col("t")) /
          count(when(col("usable"), 1)).cast("double")).as("mu_raw"))
      .select(col("n_used"), col("n_excluded"),
        round(col("mu_raw"), 6).as("mu"),
        round(lit(1.0) / col("mu_raw"), 6).as("d_hat"))
  }

  /** V11 — greedy k-center coreset selection (farthest-point
    * traversal, the 2-approximation of the k-center objective): the
    * DIVERSITY-maximizing data-selection step — where q223 selects by
    * per-doc quality, k-center selects points that COVER the embedding
    * space (max-min distance), the standard coreset/active-learning
    * primitive. Deterministic: seeded at the minimum id, ties to the
    * smaller id; each round is one map over the running min-distance
    * column with the new center as a plan literal (the PQ typedlit
    * lesson — never a 64-element expression tree per dimension) + one
    * distributed argmax. Emits (round, center, coverage radius); the
    * oracle replays all 8 rounds as chained MATERIALIZED CTEs.
    */
  private[graft] def qKCenter(s: SparkSession, dir: String): DataFrame = {
    import graft.sim.GraftFunctions
    val v = Caches.keep("entry.q252",
      Tables.load(s, dir, "embeddings").where(col("vec_id") < 200)
        .select(col("vec_id").cast("long").as("id"), col("embedding").as("vec"))
        .withColumn("n2", GraftFunctions.norm2(col("vec"))))
    def distTo(cvec: Seq[Float], cn2: Double) =
      lit(1.0) - GraftFunctions.dot(col("vec"), typedlit(cvec)) /
        (sqrt(col("n2")) * lit(math.sqrt(cn2)))
    var cur = v.withColumn("md", lit(Double.MaxValue))
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
    (1 to 8).foreach { r =>
      val pick =
        if (r == 1) cur.orderBy(asc("id")).limit(1)
        else cur.orderBy(desc("md"), asc("id")).limit(1)
      val row = pick.select(col("id"), col("vec"), col("n2")).head()
      val (cid, cvec, cn2) =
        (row.getLong(0), row.getSeq[Float](1), row.getDouble(2))
      cur = cur.withColumn("md", least(col("md"), distTo(cvec, cn2)))
        .localCheckpoint()
      val radius = cur.agg(max("md")).head().getDouble(0)
      out += ((r.toLong, cid, radius))
    }
    import s.implicits._
    out.toSeq.toDF("round", "center_id", "radius_raw")
      .select(col("round"), col("center_id"),
        round(col("radius_raw"), 6).as("coverage_radius"))
      .orderBy("round")
  }

  /** D22 — dedup FUNNEL report: the cumulative stage accounting every
    * production pipeline publishes — exact text dedup, then MinHash-
    * verified near-dup (Jaccard ≥ 0.5) components on the survivors,
    * then winnowing substring overlap (≥ 2 shared fingerprints)
    * components on THOSE survivors; each stage keeps the minimum-id
    * root (keep-first policy, q231's attribution order). Per stage:
    * docs in / removed / out and surviving tokens. The oracle replays
    * the whole three-stage cascade — each stage's input is the
    * previous stage's survivor set, so stage-2/3 counts are
    * order-sensitive and pin the cascade, not just the parts.
    */
  private[graft] def qDedupFunnel(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextOps
    val d = Caches.keep("entry.q253", par(doc(s, dir)).select(col("doc_id"), col("text"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tok")))
    def stats(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), sum("n_tok")).head()
      (r.getLong(0), r.getLong(1))
    }
    val (n0, _) = stats(d)
    val surv1 = Caches.keep("entry.q253", d.join(
        d.groupBy("text").agg(min("doc_id").as("doc_id")).select("doc_id"),
        Seq("doc_id"), "left_semi"))
    val (n1, t1) = stats(surv1)
    val comp2 = graft.dedup.Components.connectedComponents(
        graft.dedup.Dedup.jaccardPairs(surv1, "doc_id", "text", 3, 0.5),
        "a", "b")
      .withColumnRenamed("id", "doc_id")
    val surv2 = Caches.keep("entry.q253", surv1.join(comp2, Seq("doc_id"), "left")
      .where(col("component").isNull || col("component") === col("doc_id"))
      .drop("component"))
    val (n2, t2) = stats(surv2)
    val fp = Caches.keep("entry.q253",
      graft.dedup.Winnowing.fingerprints(surv2, "doc_id", "text", 4, 4))
    val pairs3 = fp.as("x").join(fp.as("y"),
        col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("ns")).where(col("ns") >= 2).select("a", "b")
    val comp3 = graft.dedup.Components.connectedComponents(pairs3, "a", "b")
      .withColumnRenamed("id", "doc_id")
    val surv3 = surv2.join(comp3, Seq("doc_id"), "left")
      .where(col("component").isNull || col("component") === col("doc_id"))
    val (n3, t3) = stats(surv3)
    import s.implicits._
    Seq((1L, "exact", n0, n0 - n1, n1, t1),
        (2L, "near_dup", n1, n1 - n2, n2, t2),
        (3L, "substring", n2, n2 - n3, n3, t3))
      .toDF("stage", "name", "n_in", "n_removed", "n_out", "tokens_out")
  }

  /** R6 — EPOCH-AWARE sampling plan: given a 4×-corpus token budget
    * and sqrt-temperature source weights (α = 0.5 — sqrt is correctly-
    * rounded IEEE, identical cross-engine, which is exactly why q92
    * chose it over pow), compute each source's planned tokens and
    * implied epochs, flagging anything over 4 epochs (the Muennighoff
    * et al. repetition knee — data repeated beyond ~4 epochs stops
    * helping). The weight normalizer sums sqrt terms in SOURCE ORDER
    * on both engines (ordered fold ≡ ordered list_reduce). The
    * planning table every budgeted pretraining run starts from.
    */
  private[graft] def qEpochPlan(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextOps
    val perSource = doc(s, dir).groupBy("source")
      .agg(sum(size(TextOps.tokens(col("text"))).cast("long")).as("tok"))
      .orderBy("source")
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val total = perSource.map(_._2).sum
    val budget = 4L * total
    // ordered fold, exactly mirrored by list_reduce(... ORDER BY source)
    val sw = perSource.map(_._2.toDouble)
      .foldLeft(0.0)((a, n) => a + math.sqrt(n))
    import s.implicits._
    perSource.toSeq.toDF("source", "tokens")
      .withColumn("weight_e6",
        expr(s"CAST(floor(sqrt(CAST(tokens AS DOUBLE)) / $sw * 1000000) AS BIGINT)"))
      .withColumn("planned_tokens",
        expr(s"CAST(floor($budget * sqrt(CAST(tokens AS DOUBLE)) / $sw) AS BIGINT)"))
      .withColumn("epochs_e2", expr("planned_tokens * 100 div tokens"))
      .withColumn("over_repetition_knee", col("epochs_e2") > 400)
      .orderBy("source")
  }

  /** G7 — dataset CONTENT MANIFEST (Merkle-style chunked hash tree):
    * the content-addressable integrity record a dataset release ships
    * — change one byte anywhere and the root moves. Two levels:
    * per-source chunks of 64 docs (chunk hash = doc-id-ordered fold of
    * content hashes — bounded work per group), then a source root =
    * chunk-id-ordered fold of chunk hashes. The tree shape is WHY this
    * scales: a flat chain hash is inherently sequential over the whole
    * corpus; the tree folds only within bounded chunks and over the
    * (64×-smaller) chunk table — recursing levels keeps every fold
    * bounded at any corpus size. Both folds replay in DuckDB as
    * ORDER-pinned list_reduce.
    */
  private[graft] def qManifest(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextOps
    val d = par(doc(s, dir)).select(col("doc_id"), col("source"),
        col("n_chars"), TextOps.strHash(col("text")).as("h"))
      .withColumn("chunk", expr("doc_id div 64"))
    val P = 1000000007L
    val R = 1000003L
    val chunks = d.groupBy("source", "chunk")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
        // bounded in-chunk ordered fold (<= 64 entries per group)
        aggregate(
          array_sort(collect_list(struct(col("doc_id"), col("h")))),
          lit(13L),
          (acc, e) => (acc * lit(R) + e.getField("h")) % lit(P))
          .as("chunk_hash"))
    chunks.groupBy("source")
      .agg(sum("n_docs").as("n_docs"), sum("sum_chars").as("sum_chars"),
        aggregate(
          array_sort(collect_list(struct(col("chunk"), col("chunk_hash")))),
          lit(13L),
          (acc, e) => (acc * lit(R) + e.getField("chunk_hash")) % lit(P))
          .as("root_hash"))
      .orderBy("source")
  }

  /** J6 — sorted-neighborhood (SNM) blocking quality: the OTHER
    * classic ER blocking scheme — global sort by the key, compare only
    * within a sliding window of w=10 ranks — measured with the SAME
    * metrics, truth set, and eval subset as q237's prefix blocking, so
    * the two rows are directly comparable (SNM catches prefix-straddling
    * typos that prefix blocking misses; prefix blocking has no window
    * cliff). The subset is an absolute cap (constant 1500), so the
    * rank window runs over a bounded frame — the documented exemption
    * class; at corpus scale SNM ranks come from the PrefixScan ranker.
    */
  private[graft] def qSnmQuality(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the bounded-frame rank window coalesces to ONE partition — the
    // pair stage must re-spread or the BNLJ runs on a single task
    // (the q237 lesson, reintroduced by the window)
    val c = Caches.keep("entry.q256", par(Tables.load(s, dir, "customer")
        .where(col("c_custkey") < 1500)
        .select(col("c_custkey").as("id"), col("c_name").as("name"))
        .withColumn("rk", row_number().over(
          Window.orderBy(asc("name"), asc("id")))))) // bounded 1500-row frame
    val m = c.count()
    val a = c.as("x").crossJoin(c.as("y")) // labeled all-pairs baseline
      .where(col("x.id") < col("y.id"))
      .select((levenshtein(col("x.name"), col("y.name")) <= 1).as("is_match"),
        (abs(col("x.rk") - col("y.rk")) <= 10).as("in_window"))
      .agg(count(when(col("is_match"), 1)).as("n_truth"),
        count(when(col("in_window"), 1)).as("n_cand"),
        count(when(col("is_match") && col("in_window"), 1)).as("n_found"))
      .head()
    val (nTruth, nCand, nFound) = (a.getLong(0), a.getLong(1), a.getLong(2))
    val nAll = m * (m - 1) / 2
    import s.implicits._
    Seq((m, nAll, nTruth, nCand, nFound,
        1000000L - (if (nAll > 0) nCand * 1000000L / nAll else 0L),
        if (nTruth > 0) nFound * 1000000L / nTruth else 1000000L))
      .toDF("n_eval", "n_allpairs", "n_truth", "n_candidates", "n_found",
        "reduction_e6", "completeness_e6")
  }

  /** A29 — CUPED variance reduction (Deng et al., WSDM 2013): the
    * industry-standard A/B trick — adjust the metric by a
    * pre-experiment covariate, y′ = y − θ(x − x̄) with θ = cov(x,y)/
    * var(x), shrinking variance by the squared correlation without
    * biasing the treatment difference. Covariate: the customer's
    * account balance (pre-dates the order); assignment: deterministic
    * hash split. θ/x̄ come from decimal-exact moments (2-dp inputs ⇒
    * 4-dp products, exactly castable); adjusted values round at 6
    * BEFORE any decimal sum (the full-fraction-cast gotcha), and the
    * variance-reduction ratio is floor-scaled. Fully value-oracled.
    */
  private[graft] def qCuped(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    val c = Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_acctbal"))
    val d = Caches.keep("entry.q257",
      o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"),
          col("o_totalprice").cast("double").as("y"),
          col("c_acctbal").cast("double").as("x"))
        .withColumn("grp", when(graft.aug.Sampling.keyBucket(
          col("o_orderkey"), 1234L) < 500000, "A").otherwise("B"))
        // par() BEFORE the persist: the broadcast join preserves the
        // scan's single row-group partition, so without it every decimal
        // pass over the cache (cov/var fit + grouped CUPED aggregates)
        // runs single-core (r16 second pass)
        .transform(par))
    val st = d.agg(Stats.dcovSamp(col("x"), col("y")).as("cov"),
      Stats.dvarSamp(col("x")).as("vx"),
      Stats.dmean(col("x")).as("mx")).head()
    val theta = st.getDouble(0) / st.getDouble(1)
    val mx = st.getDouble(2)
    val adj = d.withColumn("ya",
      round(col("y") - lit(theta) * (col("x") - lit(mx)), 6))
    adj.groupBy("grp").agg(count(lit(1)).as("n"),
        round(Stats.dmean(col("y")), 6).as("mean_y"),
        round(Stats.dmean(col("ya")), 6).as("mean_y_adj"),
        (floor(Stats.dvarSamp(col("ya")) / Stats.dvarSamp(col("y")) *
          lit(1000000.0))).cast("long").as("var_ratio_e6"))
      .orderBy("grp")
  }

  /** A30 — quantile treatment effects: per-quantile metric difference
    * between the hash-split arms — the distributional view a mean
    * comparison (q141 Welch) hides (an effect concentrated in the
    * tail moves q90 and nothing else). Exact grouped quantiles via
    * the distributed selection machinery; both engines interpolate
    * identically (the q69-pinned quantile_cont parity).
    */
  private[graft] def qQte(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice").cast("double").as("y"))
      .withColumn("grp", when(graft.aug.Sampling.keyBucket(
        col("o_orderkey"), 1234L) < 500000, "A").otherwise("B"))
    val qs = graft.core.OrderStats.groupedQuantiles(d, "grp", "y",
      Seq(0.1, 0.25, 0.5, 0.75, 0.9))
    val a = qs.where(col("grp") === "A")
      .select(col("p"), col("value").as("va"))
    val b = qs.where(col("grp") === "B")
      .select(col("p"), col("value").as("vb"))
    a.join(b, "p")
      .select(col("p"), round(col("va"), 6).as("q_a"),
        round(col("vb"), 6).as("q_b"),
        round(col("vb") - col("va"), 6).as("qte"))
      .orderBy("p")
  }

  /** A31 — sample-ratio-mismatch (SRM) guardrail: THE first check any
    * A/B readout runs — χ² of observed arm counts against the design
    * ratio; a mismatch means broken assignment/logging and invalidates
    * everything downstream. Two rows: the healthy hash split (flag
    * must be false) and a deliberately corrupted twin dropping ~3% of
    * one arm (flag must be true — the q165 corrupted-twin pattern, so
    * the check's DETECTION is itself verified). The statistic is
    * closed-form (no CDF needed — compared against the 3.84 critical
    * value for 1 dof); counts and χ² replay exactly.
    */
  private[graft] def qSrm(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(s, dir, "orders").select(col("o_orderkey"))
      .withColumn("b", graft.aug.Sampling.keyBucket(col("o_orderkey"), 1234L))
      .withColumn("grp", when(col("b") < 500000, "A").otherwise("B"))
      .withColumn("drop2", col("grp") === "B" &&
        graft.aug.Sampling.keyBucket(col("o_orderkey"), 99L) < 30000)
    def row(name: String, df: DataFrame) = {
      val r = df.agg(count(when(col("grp") === "A", 1)).as("na"),
        count(when(col("grp") === "B", 1)).as("nb")).head()
      val (na, nb) = (r.getLong(0), r.getLong(1))
      val e = (na + nb).toDouble / 2.0
      val chi2 = (na - e) * (na - e) / e + (nb - e) * (nb - e) / e
      (name, na, nb, chi2)
    }
    val healthy = row("healthy", d)
    val corrupted = row("corrupted", d.where(!col("drop2")))
    import s.implicits._
    Seq(healthy, corrupted).toDF("scenario", "n_a", "n_b", "chi2_raw")
      .select(col("scenario"), col("n_a"), col("n_b"),
        round(col("chi2_raw"), 6).as("chi2"),
        (col("chi2_raw") > 3.841).as("srm_detected"))
      .orderBy("scenario")
  }

  /** A32 — delta-method inference for a RATIO metric (revenue per
    * order at the customer unit): the standard A/B pitfall — the unit
    * of analysis (customer) differs from the unit of the ratio
    * (order), so naive per-order variance is wrong; the delta method
    * gives Var(ȳ/x̄) ≈ (Var y + R²·Var x − 2R·Cov)/(x̄²·n). Everything
    * from decimal-exact per-customer moments (spend 2-dp, counts int),
    * standard errors sqrt-at-6, and the two-arm z-score computed from
    * the collected per-arm rows. Fully value-oracled.
    */
  private[graft] def qRatioDelta(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    val per = Caches.keep("entry.q260", o.groupBy("o_custkey")
      .agg(count(lit(1)).cast("double").as("x"),
        Stats.dsum(col("o_totalprice")).as("y")) // 2-dp: decimal-exact
      .withColumn("grp", when(graft.aug.Sampling.keyBucket(
        col("o_custkey"), 777L) < 500000, "A").otherwise("B")))
    val st = per.groupBy("grp").agg(
        count(lit(1)).as("n"),
        Stats.dmean(col("x")).as("mx"), Stats.dmean(col("y")).as("my"),
        Stats.dvarSamp(col("x")).as("vx"), Stats.dvarSamp(col("y")).as("vy"),
        Stats.dcovSamp(col("x"), col("y")).as("cxy"))
      .orderBy("grp").collect()
    def arm(r: org.apache.spark.sql.Row) = {
      val (n, mx, my, vx, vy, cxy) = (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))
      val ratio = my / mx
      val varR = (vy + ratio * ratio * vx - 2.0 * ratio * cxy) /
        (mx * mx * n.toDouble)
      (r.getString(0), n, ratio, varR)
    }
    val Array(a, b) = st.map(arm)
    val z = (b._3 - a._3) / math.sqrt(a._4 + b._4)
    import s.implicits._
    Seq((a._1, a._2, a._3, a._4, z), (b._1, b._2, b._3, b._4, z))
      .toDF("grp", "n_units", "ratio_raw", "var_raw", "z_raw")
      .select(col("grp"), col("n_units"),
        round(col("ratio_raw"), 6).as("revenue_per_order"),
        round(sqrt(col("var_raw")), 6).as("se"),
        round(col("z_raw"), 6).as("z_diff"))
      .orderBy("grp")
  }

  /** D16 — cluster-safe train/test split: q98 DETECTS eval leakage;
    * this PREVENTS it. Near-dup clusters (connected components over
    * the Jaccard ≥ 0.5 pair graph, the q47 machinery) are collapsed to
    * their canonical root, and the split hash is taken over the ROOT —
    * every member of a near-dup cluster lands in the same split by
    * construction, so a test document can never have a training-set
    * near-duplicate. The `no_leakage` boolean re-verifies the
    * guarantee by recomputation (roots spanning >1 split), and the
    * oracle replays components + hash + split end-to-end. Scale shape:
    * the pair graph is banded (Dedup.jaccardPairs), components are
    * iterative equi-joins, the split is one hash — no new shuffles
    * beyond the dedup family's own.
    */
  private[graft] def qClusterSafeSplit(s: SparkSession, dir: String): DataFrame = {
    val d = par(doc(s, dir))
    // maxShingleDocFreq = 256: hot-shingle cap on the pair stage — a
    // single boilerplate shingle (header, stop phrase) makes the
    // per-shingle self-join quadratic in its doc frequency on a real
    // crawl. The fixture's max 3-gram df is 25 at sf0.1 (measured), so
    // the cap changes nothing here while pinning the scale-safe
    // candidate rule; the oracle replays the identical exclusion.
    // Dropping hot shingles from INTERSECTIONS only (sizes stay full)
    // biases boilerplate-heavy pairs BELOW the 0.5 threshold — the
    // conservative direction for leakage prevention's candidate graph.
    val pairs = graft.dedup.Dedup.jaccardPairs(d, "doc_id", "text",
      n = 3, threshold = 0.5, maxShingleDocFreq = 256L)
    val comp = graft.dedup.Components.connectedComponents(pairs, "a", "b")
      .withColumnRenamed("id", "doc_id")
    val rooted = Caches.keep("entry.q222", d.select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .withColumn("root", coalesce(col("component"), col("doc_id"))))
    val split = graft.aug.Sampling.splitAssign(rooted, "root",
      Seq("train" -> 0.9, "test" -> 0.1))
    val noLeak = split.groupBy("root")
      .agg(countDistinct(col("split")).as("ns"))
      .where(col("ns") > 1).count() == 0L
    split.groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("root")).as("n_clusters"))
      .withColumn("no_leakage", lit(noLeak))
      .orderBy("split")
  }

  /** T27 — token-budget corpus selection: pick documents maximizing
    * lexical diversity (distinct-token ratio, integer-exact density
    * score) under a global token budget (25% of corpus tokens) — the
    * data-selection step before a fixed-compute pretraining run.
    * Selection is a GLOBAL greedy prefix: order by (density desc,
    * doc_id), running token total via the two-phase [[PrefixScan]]
    * (no single-partition window), keep while the running total fits.
    * The (score, id) pair packs into one integer sort key —
    * (10⁶ − density)·2³³ + doc_id — so the prefix-scan order is total
    * and deterministic, and the oracle mirrors it with the same
    * integer arithmetic.
    */
  private[graft] def qTokenBudget(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextOps
    val toks = TextOps.tokens(col("text"))
    val d = doc(s, dir).select(col("doc_id"), col("source"),
        size(toks).cast("long").as("n_tok"),
        size(array_distinct(toks)).cast("long").as("u"))
      .where(col("n_tok") > 0)
      .withColumn("key",
        (lit(1000000L) - expr("u * 1000000 div n_tok")) * lit(8589934592L) +
          col("doc_id"))
    val budget = d.agg(sum("n_tok")).head().getLong(0) / 4
    val (scanned, _) = graft.core.PrefixScan.build(
      d, "key", Seq("n_tok"), "entry.q223")
    scanned.where(col("cum_n_tok_below") + col("n_tok") <= budget)
      .groupBy("source")
      .agg(count(lit(1)).as("n_selected"),
        sum("n_tok").as("tokens_selected"))
      .orderBy("source")
  }

  /** N8 — two-table kNN JOIN (query set × corpus, the retrieval /
    * RAG-eval shape, vs q29's self-join): exact cosine top-3 of each
    * query row over a DISJOINT corpus partition. Labeled brute-force
    * baseline like q29 — the sublinear paths (q30/q45/q215) are the
    * scale story; this is the ground-truth operator they're audited
    * against.
    */
  private[graft] def qKnnJoin(s: SparkSession, dir: String): DataFrame = {
    val e = em(s, dir)
    graft.sim.Ann.knnJoin(
        e.where(col("vec_id") < 50), e.where(col("vec_id") >= 50),
        "vec_id", "embedding", k = 3)
      .orderBy("a", "rank")
  }

  /** T28 — domain mixture reweighting (the DoReMi-flavoured one-step
    * proxy, Xie et al. 2023): per-language excess loss under the
    * corpus-self-fit bigram LM (q96) lifts that domain's sampling
    * weight above its natural frequency — train harder on what the
    * model finds hard. Weights are the deterministic closed form
    * w ∝ frac·(1 + max(0, L_domain − L_corpus)) (linear excess, not a
    * softmax — exp() is last-ulp engine-divergent, +/× are not), all
    * means taken over 6-dp-rounded per-doc scores so every decimal
    * sum is exact cross-engine.
    */
  private[graft] def qDomainWeights(s: SparkSession, dir: String): DataFrame = {
    val d = doc(s, dir)
    val sc = graft.text.BigramLm.score(d, "doc_id", "text")
    val wl = Caches.keep("entry.q225",
      d.select(col("doc_id").as("id"), col("lang")).join(sc, "id"))
    val per = wl.groupBy("lang").agg(count(lit(1)).as("n_docs"),
      (Stats.dsum(col("avg_logp")) / count(lit(1))).as("m"))
    val all = wl.agg(
      (Stats.dsum(col("avg_logp")) / count(lit(1))).as("m_all"),
      count(lit(1)).as("n_all"))
    val joined = per.crossJoin(all)
      .withColumn("excess", greatest(lit(0.0), col("m_all") - col("m")))
      .withColumn("wr", round(
        (col("n_docs").cast("double") / col("n_all").cast("double")) *
          (lit(1.0) + col("excess")), 6))
    val z = joined.agg(Stats.dsum(col("wr")).as("z"))
    joined.crossJoin(z)
      .select(col("lang"), col("n_docs"),
        round(col("m"), 6).as("mean_logp"),
        round(col("excess"), 6).as("excess_loss"),
        round(col("wr") / col("z"), 6).as("weight"))
      .orderBy("lang")
  }

  /** N9 — matryoshka truncation audit (Kusupati et al. 2022): how well
    * does the 16-dim PREFIX of the 64-dim embedding preserve the full
    * similarity structure? Per query: Pearson correlation between
    * full-dim and truncated-dim cosines over a fixed target set, plus
    * whether the top-1 neighbor survives truncation — the measurement
    * behind "store the short prefix hot, re-rank with the full vector"
    * tiered vector storage (64→16 dims = 4× less hot storage/bandwidth
    * at 100 TB). Both cosines are computed by the same deterministic
    * kernel; the correlation runs over 6-dp-rounded cosines so the
    * moment sums are decimal-exact cross-engine.
    */
  private[graft] def qMatryoshka(s: SparkSession, dir: String): DataFrame = {
    import graft.sim.GraftFunctions.{dot, norm2}
    val v = Caches.keep("entry.q226",
      em(s, dir).select(col("vec_id").cast("long").as("id"),
          col("embedding").as("vec"))
        .withColumn("v16", slice(col("vec"), 1, 16))
        .withColumn("n2", norm2(col("vec")))
        .withColumn("n2_16", norm2(col("v16"))))
    val q = v.where(col("id") < 30).select(col("id").as("a"),
      col("vec").as("qv"), col("v16").as("qv16"),
      col("n2").as("qn2"), col("n2_16").as("qn2_16"))
    val t = v.where(col("id") >= 30 && col("id") < 130)
      .select(col("id").as("b"), col("vec").as("tv"), col("v16").as("tv16"),
        col("n2").as("tn2"), col("n2_16").as("tn2_16"))
    val pairs = Caches.keep("entry.q226", q.join(t, col("a") =!= col("b"))
      .select(col("a"), col("b"),
        round(dot(col("qv"), col("tv")) /
          (sqrt(col("qn2")) * sqrt(col("tn2"))), 6).as("c64"),
        round(dot(col("qv16"), col("tv16")) /
          (sqrt(col("qn2_16")) * sqrt(col("tn2_16"))), 6).as("c16")))
    val n = count(lit(1)).cast("double")
    val stats = pairs.groupBy("a").agg(
      count(lit(1)).as("n_targets"),
      ((n * Stats.dsum(col("c64") * col("c16")) -
        Stats.dsum(col("c64")) * Stats.dsum(col("c16"))) /
        (sqrt(n * Stats.dsum(col("c64") * col("c64")) -
          Stats.dsum(col("c64")) * Stats.dsum(col("c64"))) *
         sqrt(n * Stats.dsum(col("c16") * col("c16")) -
           Stats.dsum(col("c16")) * Stats.dsum(col("c16"))))).as("corr"),
      max(struct(col("c64"), (-col("b")).as("nb"))).getField("nb").as("t64n"),
      max(struct(col("c16"), (-col("b")).as("nb"))).getField("nb").as("t16n"))
    stats.select(col("a"), col("n_targets"),
        round(col("corr"), 6).as("corr_64_16"),
        (col("t64n") === col("t16n")).as("top1_match"))
      .orderBy("a")
  }

  /** T29 — iterative BPE tokenizer TRAINING ([[graft.text.BpeTrainer]],
    * 6 greedy merge rounds over the distinct-word table — the full
    * trainer, vs q200's single-round pair statistics). Later rounds'
    * argmax depends on merged state no SQL engine can replay without
    * reimplementing the trainer, so the query is SELF-VERIFYING (the
    * q190/q191 pattern): exact SQL anchors — n_words, total_tokens,
    * total_chars, and the ROUND-1 merge (the weighted char-bigram
    * argmax IS SQL-expressible, and single-char symbols make the
    * (p1, p2) order identical to 2-char string order) — plus
    * invariants the oracle pins TRUE:
    *  - `symbols_decreasing`: the weighted symbol count strictly drops
    *    every round (each applied merge removes ≥1 symbol occurrence);
    *  - `merges_positive`: every selected pair had weighted count > 0;
    *  - `merged_pairs_eliminated`: no trained merge's pair is adjacent
    *    anywhere in the FINAL state (greedy left-to-right removes all
    *    occurrences, and a merge can never re-create an eliminated
    *    adjacency — it replaces two symbols with one, preserving
    *    order);
    *  - `concat_ok`: every word's final symbols concatenate back to
    *    the original word (the trainer never loses or invents bytes).
    */
  private[graft] def qBpeTrain(s: SparkSession, dir: String): DataFrame = {
    import graft.text.BpeTrainer
    val trained = BpeTrainer.train(doc(s, dir), "text", k = 6)
    val w = trained.words
    val anchors = w.agg(count(lit(1)).as("n_words"),
      sum("c").as("total_tokens"),
      sum(length(col("w")).cast("long") * col("c")).as("total_chars"),
      min(concat_ws("", col("syms")) === col("w")).as("concat_ok"))
      .head()
    val decreasing = {
      val seq = anchors.getLong(2) +: trained.weightedSymbols
      seq.zip(seq.tail).forall { case (a, b) => b < a }
    }
    val positive = trained.merges.forall(_.count > 0L)
    val eliminated = trained.merges.forall { m =>
      w.select(explode(
          when(size(col("syms")) >= 2, transform(
            sequence(lit(1), size(col("syms")) - 1),
            i => element_at(col("syms"), i) === lit(m.p1) &&
              element_at(col("syms"), i + 1) === lit(m.p2)))
            .otherwise(array().cast("array<boolean>"))).as("hit"))
        .where(col("hit")).count() == 0L
    }
    import s.implicits._
    Seq((anchors.getLong(0), anchors.getLong(1), anchors.getLong(2), 6L,
        trained.merges.head.p1 + trained.merges.head.p2,
        decreasing, positive, eliminated, anchors.getBoolean(3)))
      .toDF("n_words", "total_tokens", "total_chars", "n_merges",
        "first_merge", "symbols_decreasing", "merges_positive",
        "merged_pairs_eliminated", "concat_ok")
  }

  /** D17 — n-gram NOVELTY scoring: per document, the fraction of its
    * distinct 5-grams whose FIRST corpus occurrence (minimum doc_id
    * over the ingestion order) is an earlier document — the
    * attribution signal behind "keep the first, drop the rest" dedup
    * policies and prefix-ordered decontamination. One shuffle: 5-grams
    * group to their min owner (map-side combinable), join back
    * per-doc; no pairwise stage at all — this is the linear-cost
    * companion to the quadratic span/pair operators (q79's coverage
    * uses cross-doc counts; novelty uses first-owner order).
    * Summarized per source with exact integer ratios (scaled 1e6).
    */
  private[graft] def qNgramNovelty(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextOps
    val d = par(doc(s, dir))
    // tokens hoisted into their own projection: referenced inside the
    // transform lambda they would be re-split once per n-gram position
    // (the documented HOF shared-subtree inlining trap)
    val grams = Caches.keep("entry.q231", d.select(col("doc_id"), col("source"),
        TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("source"),
        explode(array_distinct(when(size(col("toks")) >= 5,
          transform(sequence(lit(1), size(col("toks")) - 4),
            i => array_join(slice(col("toks"), i, lit(5)), " ")))
          .otherwise(array().cast("array<string>")))).as("g")))
    val firstOwner = grams.groupBy("g").agg(min("doc_id").as("first_doc"))
    val perDoc = grams.join(firstOwner, "g")
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("first_doc") === col("doc_id"), 1)).as("n_novel"))
    perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_grams").as("n_grams"),
        sum("n_novel").as("n_novel"))
      .withColumn("novelty_e6", expr("n_novel * 1000000 div n_grams"))
      .orderBy("source")
  }

  /** T30 — Zipf's-law fit of the token frequency spectrum: ranks the
    * vocabulary by count and fits ln(count) = a + s·ln(rank) by OLS —
    * s ≈ −1 is the natural-language signature, and a corpus whose
    * slope drifts (template spam: flat head; boilerplate: cliff) fails
    * downstream quality assumptions. The ranking window runs over the
    * VOCABULARY table (already aggregated, metadata-sized — the
    * documented exemption class), with a (count desc, token asc) total
    * order; ln values round at 6 before the exact decimal moment sums
    * (the q96 pattern for transcendentals).
    */
  private[graft] def qZipfFit(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextOps
    import org.apache.spark.sql.expressions.Window
    val vocab = par(doc(s, dir))
      .select(explode(TextOps.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    val ranked = vocab.withColumn("rank",
        row_number().over(Window.orderBy(desc("cnt"), asc("w"))))
      .select(round(log(col("rank").cast("double")), 6).as("x"),
        round(log(col("cnt").cast("double")), 6).as("y"))
    val n = count(lit(1)).cast("double")
    ranked.agg(count(lit(1)).as("n_vocab"),
        ((n * Stats.dsum(col("x") * col("y")) -
          Stats.dsum(col("x")) * Stats.dsum(col("y"))) /
          (n * Stats.dsum(col("x") * col("x")) -
            Stats.dsum(col("x")) * Stats.dsum(col("x")))).as("slope"),
        (Stats.dsum(col("y")) / n).as("my"),
        (Stats.dsum(col("x")) / n).as("mx"))
      .select(col("n_vocab"), round(col("slope"), 6).as("zipf_slope"),
        round(col("my") - col("slope") * col("mx"), 6).as("intercept"))
  }

  /** T31 — BPE ENCODE with the trained merges (q227's tokenizer put to
    * work): every corpus word encoded by the trainer's final symbol
    * state, fertility (BPE tokens per word) measured corpus-wide.
    * Encoded state is merge-order-dependent (not SQL-replayable), so
    * the audit is DUAL-PATH: a second, independent encoder — iterated
    * separator-string `replace` (p1␟p2 → p1p2), which is also greedy
    * left-to-right non-overlapping — re-encodes every word in pure
    * column ops, and `dual_path_ok` pins both paths identical on every
    * word. Anchors (n_words, total_tokens=chars-upper-bound pieces)
    * are SQL-exact; fertility bounds pinned: 1 ≤ tokens/word and
    * tokens < chars (6 positive merges must strictly compress).
    */
  private[graft] def qBpeEncode(s: SparkSession, dir: String): DataFrame = {
    import graft.text.BpeTrainer
    val sep = "\u0001"
    val trained = BpeTrainer.train(doc(s, dir), "text", k = 6)
    val w0 = trained.words
    // independent path: symbols joined AND bracketed by the separator
    // (\u2423a\u2423b\u2423 — brackets stop a pattern matching ACROSS symbol
    // boundaries: merge (b,a) must not fire inside [ab, a]); each merge
    // is a left-to-right regex replace whose trailing separator is a
    // LOOKAHEAD, so adjacent matches don't consume each other's
    // boundary ([a,b,a,b] under (a,b) must become [ab, ab], exactly as
    // the trainer's fold does)
    val init = concat(lit(sep),
      concat_ws(sep, BpeTrainer.charSyms(col("w"))), lit(sep))
    val viaReplace = trained.merges.foldLeft(init) {
      case (acc, m) =>
        regexp_replace(acc,
          java.util.regex.Pattern.quote(sep + m.p1 + sep + m.p2) +
            s"(?=${java.util.regex.Pattern.quote(sep)})",
          java.util.regex.Matcher.quoteReplacement(sep + m.p1 + m.p2))
    }
    val audited = w0.withColumn("alt",
      filter(split(viaReplace, java.util.regex.Pattern.quote(sep)),
        x => x =!= ""))
    val r = audited.agg(
      count(lit(1)).as("n_words"),
      sum("c").as("total_word_occurrences"),
      sum(size(col("syms")).cast("long") * col("c")).as("total_bpe_tokens"),
      sum(length(col("w")).cast("long") * col("c")).as("total_chars"),
      min(col("alt") === col("syms")).as("dual_path_ok"),
      min(size(col("syms")) >= 1).as("fert_ge_1")).head()
    import s.implicits._
    Seq((r.getLong(0), r.getLong(1), r.getLong(3), 6L,
        r.getBoolean(4), r.getBoolean(5),
        r.getLong(2) < r.getLong(3)))
      .toDF("n_words", "total_word_occurrences", "total_chars", "n_merges",
        "dual_path_ok", "fert_ge_1", "compressed")
  }

  /** K2 — key-skew diagnostic report: the partition-planning measurement
    * behind the salting/AQE decisions (q43's salted aggregate, skew-join
    * levers). Per key-column: distinct keys, max/mean key frequency,
    * the skew ratio (hot key vs expected uniform share), and the exact
    * Gini coefficient of the key-frequency distribution — rank-weighted
    * via the distributed prefix scan over the (frequency, key) total
    * order, no single-partition window on data. All integer arithmetic
    * until the final ratios.
    */
  private[graft] def qSkewReport(s: SparkSession, dir: String): DataFrame = {
    def report(df: DataFrame, keyCol: String, label: String): DataFrame = {
      val freq = df.groupBy(col(keyCol).cast("long").as("k"))
        .agg(count(lit(1)).as("f"))
      // unique sort key (f, k): pack into one long (f < 2^31, k < 2^32)
      val keyed = freq
        .withColumn("sk", col("f") * lit(4294967296L) + col("k"))
        .withColumn("one", lit(1L))
      val (scanned, totals) = graft.core.PrefixScan.build(
        keyed, "sk", Seq("f", "one"), s"entry.q230.$label")
      val total = totals(0)
      val n = totals(1)
      // Gini over key frequencies, rank-weighted with the ascending
      // (f, k) rank recovered from the scan's exclusive ones-count:
      // G = (2*SUM(rank_i * f_i) - (n+1)*F) / (n*F) — all integers
      // until the final scaled division
      val giniNum = scanned.agg(
        sum((col("cum_one_below") + lit(1L)) * col("f"))).head().getLong(0)
      val giniE6 = (BigInt(2) * BigInt(giniNum) -
        BigInt(n + 1) * BigInt(total)) * BigInt(1000000) /
        (BigInt(n) * BigInt(total))
      val maxF = freq.agg(max("f")).head().getLong(0)
      import s.implicits._
      // every output is INTEGER-exact (scaled by 1e6 where fractional):
      // no double rounding class anywhere in this query
      Seq((label, n, total, maxF,
          total * 1000000L / n,
          maxF * n * 1000000L / total,
          giniE6.toLong))
        .toDF("key_col", "n_keys", "n_rows", "max_freq", "mean_freq_e6",
          "skew_ratio_e6", "gini_e6")
    }
    report(li(s, dir), "l_orderkey", "lineitem.l_orderkey")
      .union(report(ev(s, dir), "user_id", "events.user_id"))
      .orderBy("key_col")
  }

  /** MM'' — REAL audio-container metadata decode (WAV RIFF-chunk walk +
    * FLAC STREAMINFO bit unpack → rate/channels/bits/frames/duration,
    * pure byte arithmetic, no codec): synthetic headers built from
    * doc_id round-trip through the parser and are checked against a
    * known-answer oracle. PCM decode stays the documented stub.
    */
  private[graft] def qAudioMeta(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Binary
    doc(s, dir).select(col("doc_id"))
      .withColumn("au", Binary.synthAudioHeaderCol(col("doc_id")))
      .select(col("doc_id"), Binary.audioMetaCol(col("au")).as("m"))
      .select(col("doc_id"), col("m.format").as("format"),
        col("m.sample_rate").cast("long").as("sample_rate"),
        col("m.channels").cast("long").as("channels"),
        col("m.bits_per_sample").cast("long").as("bits_per_sample"),
        col("m.n_frames").as("n_frames"),
        col("m.duration_ms").as("duration_ms"))
      .orderBy("doc_id")
  }

  /** V1 — int8 symmetric embedding quantization (the vector-store
    * memory-compression step before ANN indexing): per-vector max-abs
    * scale, half-up integer codes, auditable max dequantization error.
    * Pure map stage (codegen'd HOF expressions, no shuffle beyond the
    * final tiny sort).
    */
  private[graft] def qEmbedQuant(s: SparkSession, dir: String): DataFrame = {
    import graft.sim.Quantize
    // NB the raw scale keeps a distinct name from the rounded output
    // column: a lambda in the same select that references `scale`
    // binds to the projection's `round(...) AS scale` alias, not the
    // child column (HOF lambda resolution quirk), silently computing
    // the error against the ROUNDED scale
    em(s, dir)
      .withColumn("scale_raw", Quantize.scaleCol(col("embedding")))
      .withColumn("q", Quantize.quantize(col("embedding"), col("scale_raw")))
      .withColumn("max_err_raw",
        Quantize.dequantError(col("embedding"), col("q"), col("scale_raw")))
      .select(col("vec_id"), col("label"),
        round(col("scale_raw"), 6).as("scale"),
        Quantize.codeSum(col("q")).as("q_sum"),
        Quantize.codeL1(col("q")).as("q_l1"),
        round(col("max_err_raw"), 6).as("max_err"))
      .orderBy("vec_id")
  }

  /** K1 — sequence packing (concat-and-chunk, the standard pretraining
    * batching): documents concatenated in doc_id order, cut every 512
    * BPE-ish tokens, each doc assigned to the chunk where it starts;
    * per-pack doc counts and token mass. The global running sum is the
    * two-phase distributed prefix scan — no single-partition window.
    */
  private[graft] def qSeqPack(s: SparkSession, dir: String): DataFrame = {
    val d = doc(s, dir).select(col("doc_id"),
      graft.text.TextOps.bpeTokenCount(col("text")).as("tokens"))
    graft.seq.Packing.packStats(d, "doc_id", "tokens", budget = 512L)
      .orderBy("pack_id")
  }

  /** D7 — incremental (delta) dedup at ingest: a new batch (doc_id %
    * 5 = 4) is anti-joined against the existing corpus's content
    * hashes, then exact-deduped within itself — the kept set unioned
    * with the corpus stays exactly-deduplicated. Only (hash, id) pairs
    * shuffle.
    */
  private[graft] def qDeltaDedup(s: SparkSession, dir: String): DataFrame = {
    val d = doc(s, dir)
    val corpus = d.where(col("doc_id") % 5 < 4)
    val batch = d.where(col("doc_id") % 5 === 4)
    graft.dedup.Dedup.deltaDedup(batch, corpus, "doc_id", "text")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy("doc_id")
  }

  /** D8 — duplicated-span coverage (the ExactSubstr partial-dup signal,
    * Lee et al. 2021): per document, the fraction of tokens covered by
    * a 5-gram appearing verbatim in ≥2 distinct documents. Catches
    * boilerplate/quoted passages whole-document near-dup misses.
    */
  private[graft] def qDupSpans(s: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.dupSpanCoverage(doc(s, dir), "doc_id", "text", n = 5)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  /** Z1 — z-order layout keys (the OPTIMIZE ZORDER BY primitive):
    * Morton-interleave (l_partkey, l_suppkey), then per-z-cell extent
    * stats — each 256×256 cell's min/max on BOTH dimensions stays
    * tight, which is exactly why min/max file stats prune two-sided
    * filters on a z-laid-out table.
    */
  private[graft] def qZorder(s: SparkSession, dir: String): DataFrame = {
    import graft.core.ZOrder
    li(s, dir)
      .select(col("l_partkey"), col("l_suppkey"),
        ZOrder.zkey(col("l_partkey"), col("l_suppkey")).as("zkey"),
        ZOrder.zcell(col("l_partkey"), col("l_suppkey"), 16).as("zcell"))
      .groupBy("zcell")
      .agg(count(lit(1)).as("n"),
        min("l_partkey").as("min_part"), max("l_partkey").as("max_part"),
        min("l_suppkey").as("min_supp"), max("l_suppkey").as("max_supp"),
        min("zkey").as("min_z"), max("zkey").as("max_z"))
      .orderBy("zcell")
  }

  /** T7 — corpus vocabulary (the tokenizer-training frequency table):
    * total count + document frequency per token, count ≥ 50, one
    * explode + one map-side-combinable aggregate.
    */
  private[graft] def qVocab(s: SparkSession, dir: String): DataFrame =
    graft.text.Vocab.vocabulary(doc(s, dir), "doc_id", "text", minCount = 50L)
      .orderBy(desc("n"), asc("token"))

  /** T8 — C4/Gopher-style rule-based quality filtering: per-source
    * kept counts and per-rule failure counts in ONE aggregate pass.
    * Token-derived stats are hoisted into their own projection first
    * (HOF lambdas inline shared subtrees — evaluating four rules off
    * the raw text column would re-walk the token array per rule).
    */
  private[graft] def qQualityFilter(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextOps
    val t = col("text")
    // same hoist as qCurationPipeline: dup_frac off a projected token
    // array, per-row compute spread with par()
    val stats = par(doc(s, dir))
      .select(col("source"), t, TextOps.tokens(t).as("__toks"))
      .select(col("source"),
        TextOps.tokenCount(t).cast("long").as("n_tokens"),
        TextOps.avgTokenLen(t).as("avg_len"),
        TextOps.stopwordRatio(t).as("sw_ratio"),
        TextOps.dupNgramFractionFromTokens(col("__toks"), 2).as("dup_frac"))
    val rules = TextOps.c4Rules(col("n_tokens"), col("avg_len"),
      col("sw_ratio"), col("dup_frac"))
    val passAll = rules.map(_._2).reduce(_ && _)
    val failCounts = rules.map { case (name, p) =>
      count(when(!p, 1)).as(s"n_fail_$name")
    }
    stats.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        (count(when(passAll, 1)).as("n_kept") +: failCounts): _*)
      .orderBy("source")
  }

  /** R5 — deterministic negative sampling (the contrastive-training
    * draw): 4 hash-drawn negatives per anchor, never the anchor
    * itself; payload fetch is a plain equi-join on neg_id.
    */
  private[graft] def qNegSample(s: SparkSession, dir: String): DataFrame = {
    val e = em(s, dir)
    graft.aug.Sampling.negativeSamples(e, "vec_id", k = 4)
      .join(e.select(col("vec_id").as("neg_id"),
        col("label").cast("long").as("neg_label")), "neg_id")
      .select(col("anchor"), col("j"), col("neg_id"), col("neg_label"))
      .orderBy("anchor", "j")
  }

  /** V2 — per-label embedding centroids (class prototypes): narrow
    * (label, dim) component means with DECIMAL partials, reduced to a
    * position-weighted checksum + squared norm per label.
    */
  private[graft] def qLabelCentroids(s: SparkSession, dir: String): DataFrame =
    graft.sim.Centroids.labelCentroids(em(s, dir), "label", "embedding")
      .groupBy("group")
      .agg(max("n").as("n"),
        round(Stats.dsum(col("mean") * col("dim").cast("double")), 6)
          .as("centroid_checksum"),
        round(Stats.dsum(col("mean") * col("mean")), 6).as("norm2"))
      .select(col("group").cast("long").as("label"), col("n"),
        col("centroid_checksum"), col("norm2"))
      .orderBy("label")

  /** DV1 — snapshot diff (dataset versioning): yesterday's corpus
    * (doc_id % 7 ≠ 3) vs today's (all docs, 1-in-10 texts revised) →
    * added/changed/unchanged churn counts by content hash; the
    * training-data release-note summary.
    */
  private[graft] def qSnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val d = doc(s, dir)
    val snapA = d.where(col("doc_id") % 7 =!= 3)
    val snapB = d.withColumn("text",
      when(col("doc_id") % 10 === 0, concat(col("text"), lit(" rev2")))
        .otherwise(col("text")))
    graft.core.Versioning.diffSummary(snapA, snapB, "doc_id",
      df => graft.text.TextOps.strHash(df("text")))
      .orderBy("status")
  }

  /** K2 — length-bucketed batching stats (the dynamic-batching tuner):
    * docs bucketed by BPE-ish token count; per bucket, the padding
    * waste of batching to the bucket max.
    */
  private[graft] def qLengthBuckets(s: SparkSession, dir: String): DataFrame = {
    val d = doc(s, dir)
      .select(graft.text.TextOps.bpeTokenCount(col("text")).as("tokens"))
    graft.seq.Packing.lengthBuckets(d, "tokens", Seq(16L, 32L, 48L, 64L))
      .orderBy("bucket")
  }

  /** K3 — per-group (monolingual) sequence packing: the token stream
    * restarts per language, so the running sum is an ordinary window
    * PARTITIONED BY lang — parallel across groups, no global scan.
    */
  private[graft] def qGroupedPack(s: SparkSession, dir: String): DataFrame = {
    val d = doc(s, dir).select(col("lang"), col("doc_id"),
      graft.text.TextOps.bpeTokenCount(col("text")).as("tokens"))
    graft.seq.Packing.packStatsByGroup(d, "lang", "doc_id", "tokens",
        budget = 512L)
      .withColumnRenamed("group", "lang")
      .orderBy("lang", "pack_id")
  }

  /** T9 — inverted-index posting lists (the search-index build): per
    * term, document frequency + first-10 doc ids; hot-term lists are
    * capped BEFORE collecting, so no executor materializes "the"'s
    * full postings.
    */
  private[graft] def qPostings(s: SparkSession, dir: String): DataFrame =
    graft.text.Vocab.postings(doc(s, dir), "doc_id", "text",
        cap = 10, minDf = 5L)
      .orderBy("token")

  /** A13''' — precision–recall curve export: the imbalance-robust
    * companion to q70's ROC curve, as the same no-window prefix-scan
    * projection.
    */
  private[graft] def qPrCurve(s: SparkSession, dir: String): DataFrame = {
    val d = li(s, dir)
      .withColumn("label", when(col("l_returnflag") === "R", 1).otherwise(0))
    Metrics.prCurve(d, "label", "l_quantity")
      .select(col("score"), round(col("precision"), 6).as("precision"),
        round(col("recall"), 6).as("recall"))
      .orderBy("score")
  }

  /** A16 — calibration/reliability bins: per score-quantile bin, the
    * count, mean score, and observed positive rate (the reliability-
    * diagram table; "are high scores still enriched for positives?").
    */
  private[graft] def qCalibration(s: SparkSession, dir: String): DataFrame = {
    val d = li(s, dir)
      .withColumn("label", when(col("l_returnflag") === "R", 1).otherwise(0))
    // mean rounded at 6, not 4: a mean of 2-dp money over n rows can be
    // a TRUE tie at the 5th decimal (bin 8 at sf0.01 is exactly
    // x.59795), where Spark's shortest-repr HALF_UP and DuckDB's
    // binary-double rounding disagree; at scale 6 the terminating
    // expansions end before the rounding digit and non-terminating
    // ones can never tie
    Metrics.calibrationBins(d, "label", "l_extendedprice", bins = 10)
      .select(col("bin").cast("long").as("bin"), col("n"),
        round(col("mean_score"), 6).as("mean_score"),
        round(col("pos_rate"), 6).as("pos_rate"))
      .orderBy("bin")
  }

}
