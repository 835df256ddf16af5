package graft.eval

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Binary-detection evaluation: confusion counts, rates, ROC/AUC,
  * Youden-J threshold — the reference computes these driver-side in
  * numpy/sklearn (`app/IsolationForest_AE.py:373-396`,
  * `lib/utils.py:117-151`, `app/AE_model_enhanced.py:150-168`); here they
  * are single-pass Spark aggregates / window functions.
  */
object Metrics {

  /** TP/FP/TN/FN in ONE aggregate job (vs four filtered counts in the
    * reference, `app/IsolationForest_AE.py:373-396`).
    * `label` ∈ {0,1}, `predicted` boolean or {0,1}.
    */
  def confusion(df: DataFrame, labelCol: String, predCol: String): DataFrame = {
    val y = col(labelCol).cast("int")
    val p = col(predCol).cast("boolean")
    df.agg(
      count(when(y === 1 && p, 1)).as("tp"),
      count(when(y === 0 && p, 1)).as("fp"),
      count(when(y === 0 && !p, 1)).as("tn"),
      count(when(y === 1 && !p, 1)).as("fn"))
  }

  /** Detection rate (recall), FPR, precision, F1 from confusion counts.
    * Rates are round()ed to 6 so cross-engine double division (which can
    * differ in the last ulp) hash-compares stably.
    */
  def rates(df: DataFrame, labelCol: String, predCol: String): DataFrame =
    confusion(df, labelCol, predCol).selectExpr(
      "tp", "fp", "tn", "fn",
      "round(CAST(tp AS DOUBLE)/nullif(tp+fn,0), 6) AS detection_rate",
      "round(CAST(fp AS DOUBLE)/nullif(fp+tn,0), 6) AS false_positive_rate",
      "round(CAST(tp AS DOUBLE)/nullif(tp+fp,0), 6) AS precision_",
      // 2.0 literal parses as DECIMAL in Spark SQL — cast to keep f1 DOUBLE
      "round(CAST(2*tp AS DOUBLE)/nullif(2*tp+fp+fn,0), 6) AS f1")

  /** ROC points via running totals over score-descending order — the
    * distributed form of sklearn.roc_curve (`lib/utils.py:117-151`).
    * Ties in score collapse to one ROC point (max cum counts per distinct
    * score), matching roc_curve's drop_intermediate=False on thresholds.
    *
    * NOTE scale: the global `orderBy` window is a single-partition sort
    * over DISTINCT SCORES after pre-aggregation — we first groupBy score
    * (shuffle on score, map-side combine), so the window input is
    * #distinct-scores rows, not #records. For continuous scores consider
    * quantile-bucketing scores first.
    */
  def rocPoints(df: DataFrame, labelCol: String, scoreCol: String): DataFrame = {
    val y = col(labelCol).cast("int")
    val perScore = df.groupBy(col(scoreCol).as("score"))
      .agg(count(when(y === 1, 1)).as("pos"), count(when(y === 0, 1)).as("neg"))
    val w = Window.orderBy(desc("score"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totals = df.agg(
      count(when(y === 1, 1)).as("P"), count(when(y === 0, 1)).as("N")).head()
    val (pTot, nTot) = (totals.getLong(0), totals.getLong(1))
    perScore
      .withColumn("cum_tp", sum("pos").over(w))
      .withColumn("cum_fp", sum("neg").over(w))
      .select(col("score"),
        (col("cum_tp").cast("double") / lit(pTot.toDouble)).as("tpr"),
        (col("cum_fp").cast("double") / lit(nTot.toDouble)).as("fpr"))
  }

  /** AUC by trapezoid over ROC points (matches sklearn.auc on the same
    * points). Uses lag() over fpr-ascending order.
    */
  def auc(df: DataFrame, labelCol: String, scoreCol: String): Double = {
    val roc = rocPoints(df, labelCol, scoreCol)
    val w = Window.orderBy(asc("fpr"), asc("tpr"))
    val trap = roc
      .withColumn("prev_fpr", lag("fpr", 1, 0.0).over(w))
      .withColumn("prev_tpr", lag("tpr", 1, 0.0).over(w))
      .select(((col("fpr") - col("prev_fpr")) *
        (col("tpr") + col("prev_tpr")) / 2.0).as("area"))
    trap.agg(sum("area")).head().getDouble(0)
  }

  /** AUC as a 1-row DataFrame with run-deterministic summation: trapezoid
    * areas are cast to DECIMAL(38,18) before the final sum so the result
    * does not depend on partition merge order (see [[graft.core.Stats]]).
    */
  def aucDF(df: DataFrame, labelCol: String, scoreCol: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val roc = rocPoints(df, labelCol, scoreCol)
    val w = Window.orderBy(asc("fpr"), asc("tpr"))
    roc
      .withColumn("prev_fpr", lag("fpr", 1, 0.0).over(w))
      .withColumn("prev_tpr", lag("tpr", 1, 0.0).over(w))
      .select(((col("fpr") - col("prev_fpr")) *
        (col("tpr") + col("prev_tpr")) / 2.0).cast(DecimalType(38, 18)).as("area"))
      .agg(round(sum("area").cast(DoubleType), 6).as("auc"))
  }

  /** Per-distinct-score counts with EXCLUSIVE running totals, computed
    * by a distributed two-phase prefix scan — no single-partition
    * window anywhere:
    *
    *  1. `groupBy(score)` → (score, pos, neg): shuffle on score with
    *     map-side combine (input shrinks to #distinct scores);
    *  2. range-repartition + in-partition sort by score: a distributed
    *     sort, every partition holds a contiguous score range;
    *  3. phase one collects per-partition (pos, neg) subtotals — one
    *     tiny row per partition; the driver prefix-sums them into
    *     per-partition offsets (broadcast);
    *  4. phase two streams each partition once, emitting
    *     (score, pos, neg, cum_pos_below, cum_neg_below).
    *
    * The result is layout-independent (prefix sums depend only on the
    * score order) and every stage is bounded: the classic scalable scan
    * primitive behind exact ROC/AUC/Youden on billions of rows. Scores
    * must be non-null and non-NaN.
    */
  def prefixScoreCounts(df: DataFrame, labelCol: String, scoreCol: String): DataFrame =
    prefixScan(df, labelCol, scoreCol)._1

  /** [[prefixScoreCounts]] plus the grand totals (P, N) as scalars —
    * the subtotal fold produces them for free, and callers that need
    * ECDF denominators (KS drift, rank statistics) avoid a second
    * counting pass over the input.
    */
  def prefixScoreCountsWithTotals(df: DataFrame, labelCol: String,
                                  scoreCol: String): (DataFrame, Long, Long) =
    prefixScan(df, labelCol, scoreCol)

  /** [[prefixScoreCounts]] plus the grand totals (P, N) — the subtotal
    * fold already produces them, so callers avoid a separate
    * full-input counting scan. The internal cached sort is registered
    * with [[graft.core.Caches]]: it stays warm for the caller's action
    * and same-operator reruns, and is swept when a different operator
    * retains — bounded, not leaked.
    */
  private def prefixScan(df: DataFrame, labelCol: String,
                         scoreCol: String): (DataFrame, Long, Long) = {
    val y = col(labelCol).cast("int")
    val perScore = df.groupBy(col(scoreCol).cast("double").as("score"))
      .agg(count(when(y === 1, 1)).as("pos"), count(when(y === 0, 1)).as("neg"))
    val (scanned, totals) = graft.core.PrefixScan.build(
      perScore, "score", Seq("pos", "neg"), "metrics.prefixScan")
    (scanned, totals(0), totals(1))
  }

  /** Full ROC curve (score, tpr, fpr) — the reference's headline
    * evaluation artifact (the fpr/tpr arrays it plots,
    * `lib/utils.py:117-151`, `app/AE_model.py:294-319`) — computed from
    * the distributed two-phase prefix scan instead of [[rocPoints]]'s
    * single-partition global window: at threshold s (predict positive
    * when score ≥ s), tp = P − cum_pos_below(s), so the curve is a
    * projection of [[prefixScoreCounts]] with NO window anywhere — the
    * 100 TB exact-curve path. One row per distinct score; for
    * continuous (near-unique) scores use [[binnedRocCurve]].
    */
  def rocCurve(df: DataFrame, labelCol: String, scoreCol: String): DataFrame = {
    val (pc, pTot, nTot) = prefixScan(df, labelCol, scoreCol)
    require(pTot > 0 && nTot > 0,
      s"rocCurve needs both classes present: P=$pTot N=$nTot")
    pc.select(col("score"),
      ((lit(pTot) - col("cum_pos_below")).cast("double") / lit(pTot.toDouble)).as("tpr"),
      ((lit(nTot) - col("cum_neg_below")).cast("double") / lit(nTot.toDouble)).as("fpr"))
  }

  /** Full precision–recall curve (score, precision, recall) — the
    * standard companion artifact to [[rocCurve]], and the one that
    * stays informative under heavy class imbalance (anomaly detection's
    * usual regime, where ROC saturates). Same no-window projection of
    * the prefix scan: at threshold s (predict positive when score ≥ s),
    * tp = P − cum_pos_below and predicted = (P+N) − (cum_pos_below +
    * cum_neg_below); predicted ≥ 1 at every emitted score (each
    * distinct score has at least one row), so precision never divides
    * by zero.
    */
  def prCurve(df: DataFrame, labelCol: String, scoreCol: String): DataFrame = {
    val (pc, pTot, nTot) = prefixScan(df, labelCol, scoreCol)
    require(pTot > 0, s"prCurve needs positive examples: P=$pTot")
    val tp = (lit(pTot) - col("cum_pos_below")).cast("double")
    val pred = (lit(pTot + nTot) - col("cum_pos_below") - col("cum_neg_below"))
      .cast("double")
    pc.select(col("score"), (tp / pred).as("precision"),
      (tp / lit(pTot.toDouble)).as("recall"))
  }

  /** Calibration (reliability) table over score-quantile bins: per bin,
    * the count, mean score, and observed positive rate — the data
    * behind a reliability diagram and the drift check "are high scores
    * still enriched for positives?". One quantile fit (exact
    * distributed selection) + one aggregate pass; the mean uses the
    * engine's DECIMAL partials, so bins are layout-independent.
    */
  def calibrationBins(df: DataFrame, labelCol: String, scoreCol: String,
                      bins: Int = 10): DataFrame = {
    require(bins >= 2, s"calibrationBins needs at least 2 bins: $bins")
    val slim = df.select(col(labelCol).cast("int").as("y"),
        col(scoreCol).cast("double").as("s"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ps = (1 until bins).map(_.toDouble / bins)
    val ts = graft.core.Quantiles.exactQuantiles(slim, "s", ps).distinct
    val bin = ts.map(t => when(col("s") > lit(t), 1).otherwise(0)).reduce(_ + _)
    val out = slim.groupBy(bin.as("bin"))
      .agg(count(lit(1)).as("n"),
        (graft.core.Stats.dsum(col("s")) / count(lit(1))).as("mean_score"),
        (sum(col("y")).cast("double") / count(lit(1)).cast("double")).as("pos_rate"))
    graft.core.Caches.retain("metrics.calibration", slim)
    out
  }

  /** Quantile-binned ROC curve — [[rocCurve]]'s scale path for
    * continuous scores (same binning as [[binnedRocAuc]]): one (bin,
    * tpr, fpr) row per score-quantile bucket, cumulated from the
    * highest bin down. The bin table is ≤ bins+1 rows, so the
    * cumulative window is driver-trivial while every full-data pass
    * stays a codegen'd aggregate.
    */
  def binnedRocCurve(df: DataFrame, labelCol: String, scoreCol: String,
                     bins: Int = 20): DataFrame = {
    val (perBinRows, schema, pTot, nTot) = binnedCounts(df, labelCol, scoreCol, bins)
    require(pTot > 0 && nTot > 0,
      s"binnedRocCurve needs both classes present: P=$pTot N=$nTot")
    val spark = df.sparkSession
    val perBin = spark.createDataFrame(
      spark.sparkContext.parallelize(perBinRows.toIndexedSeq, 1), schema)
    val w = Window.orderBy(desc("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perBin
      .select(col("bin"),
        (sum("pos").over(w).cast("double") / lit(pTot.toDouble)).as("tpr"),
        (sum("neg").over(w).cast("double") / lit(nTot.toDouble)).as("fpr"))
  }

  /** Shared bin table for the binned-ROC family ([[binnedRocAuc]],
    * [[binnedRocCurve]]): a slim (y, s) projection is cached
    * (retention-bounded via [[graft.core.Caches]]) so that curve + AUC
    * calls over the same input share ONE scan — the second call's
    * identical projection plan is served from the cache by Spark's
    * CacheManager `sameResult` matching, and the quantile-selection
    * histogram passes read the cached projection instead of re-scanning
    * the source. Returns (bin rows, schema, P, N); the bin table itself
    * is ≤ bins+1 rows collected to the driver, keeping the downstream
    * cumulative window off the distributed plan entirely.
    */
  private def binnedCounts(df: DataFrame, labelCol: String, scoreCol: String,
                           bins: Int): (Array[org.apache.spark.sql.Row],
                            org.apache.spark.sql.types.StructType, Long, Long) = {
    val slim = df.select(col(labelCol).cast("int").as("y"),
        col(scoreCol).cast("double").as("s"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ps = (1 until bins).map(_.toDouble / bins)
    val ts = graft.core.Quantiles.exactQuantiles(slim, "s", ps).distinct
    val bin = ts.map(t => when(col("s") > lit(t), 1).otherwise(0)).reduce(_ + _)
    val agged = slim.groupBy(bin.as("bin"))
      .agg(count(when(col("y") === 1, 1)).as("pos"),
        count(when(col("y") === 0, 1)).as("neg"))
    val rows = agged.collect()
    graft.core.Caches.retain("metrics.binnedRoc", slim)
    (rows, agged.schema, rows.map(_.getLong(1)).sum, rows.map(_.getLong(2)).sum)
  }

  /** Exact AUC via the tie-corrected rank-sum (Mann–Whitney) identity —
    * equal to the trapezoid over the tie-collapsed ROC, but with an
    * INTEGER-EXACT numerator and no window at all:
    *   2U = Σ_s pos_s·(2·cum_neg_below(s) + neg_s),  AUC = 2U / (2·P·N).
    * The sum accumulates in DECIMAL(38,0) (associative, order-free), so
    * the result is bitwise deterministic on any layout and identical in
    * any engine — where the trapezoid's double areas depend on
    * summation order. This is the 100 TB exact-AUC path; [[aucDF]]
    * stays as the windowed baseline and [[binnedRocAuc]] as the
    * approximate variant.
    */
  def aucRankSum(df: DataFrame, labelCol: String, scoreCol: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val (pc, pTot, nTot) = prefixScan(df, labelCol, scoreCol)
    if (pTot == 0L || nTot == 0L)
      return df.sparkSession.range(1).select(lit(null).cast(DoubleType).as("auc"))
    // denominator in double: 2·P·N overflows Long past ~2e9 rows per
    // class (left-associated (2.0·P)·N matches the oracle's
    // (2.0 * p * n))
    pc.select((col("pos").cast(DecimalType(38, 0)) *
        (lit(2) * col("cum_neg_below") + col("neg"))).as("c"))
      .agg(round((sum("c").cast(DoubleType) /
        lit(2.0 * pTot.toDouble * nTot.toDouble)), 6).as("auc"))
  }

  /** Youden-J optimal threshold: score maximizing tpr − fpr
    * (`app/AE_model_enhanced.py:150-168`). tpr/fpr at threshold s
    * (predict positive when score ≥ s) come from the prefix scan:
    * tpr = (P − cum_pos_below)/P — no single-partition window; the
    * argmax is TakeOrderedAndProject.
    */
  def youdenJ(df: DataFrame, labelCol: String, scoreCol: String): DataFrame = {
    val (pc, pTot, nTot) = prefixScan(df, labelCol, scoreCol)
    pc.select(col("score"),
        (((lit(pTot) - col("cum_pos_below")).cast("double") / lit(pTot.toDouble)) -
          ((lit(nTot) - col("cum_neg_below")).cast("double") / lit(nTot.toDouble))).as("j"))
      .orderBy(desc("j"), asc("score"))
      .limit(1)
  }

  /** Approximate AUC via quantile-binned scores — the 100 TB path for
    * continuous (near-unique) scores promised in [[rocPoints]]'s note:
    * the window input shrinks from #distinct-scores to `bins`+1 rows.
    *
    * Bin thresholds are the (1..bins−1)/bins score quantiles (exact,
    * deduplicated); bin(x) = count of thresholds strictly below x, a
    * codegen'd sum of comparisons. Per-bin pos/neg is one aggregate
    * pass; cumulative TPR/FPR + trapezoid run over the tiny bin table.
    * Converges to the exact AUC as bins → #distinct scores.
    */
  def binnedRocAuc(df: DataFrame, labelCol: String, scoreCol: String,
                   bins: Int = 20): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    // ONE aggregate pass over the shared cached projection (see
    // binnedCounts): grand totals are the bin table's integer-exact
    // column sums — a separate full-input counting scan would triple
    // the data passes
    val (perBinRows, schema, pTot, nTot) = binnedCounts(df, labelCol, scoreCol, bins)
    val spark = df.sparkSession
    val perBin = spark.createDataFrame(
      spark.sparkContext.parallelize(perBinRows.toIndexedSeq, 1), schema)
    val w = Window.orderBy(desc("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wl = Window.orderBy(asc("fpr"), asc("tpr"))
    perBin
      .withColumn("tpr", sum("pos").over(w).cast("double") / lit(pTot.toDouble))
      .withColumn("fpr", sum("neg").over(w).cast("double") / lit(nTot.toDouble))
      .withColumn("prev_fpr", lag("fpr", 1, 0.0).over(wl))
      .withColumn("prev_tpr", lag("tpr", 1, 0.0).over(wl))
      .select(((col("fpr") - col("prev_fpr")) *
        (col("tpr") + col("prev_tpr")) / 2.0).cast(DecimalType(38, 18)).as("area"))
      .agg(round(sum("area").cast(DoubleType), 6).as("auc_binned"))
  }
}
