package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Exact distributed WEIGHTED quantiles.
  *
  * The unweighted engine ([[OrderStats]]) selects order statistics by
  * rank; the weighted generalization selects by cumulative weight: the
  * p-quantile is the smallest value v whose inclusive cumulative weight
  * Σ_{x≤v} w(x) reaches p·W. That is exactly a prefix-scan shape:
  *
  *  1. aggregate weight per DISTINCT value (map-side combined — ties
  *     collapse, and the scan input shrinks to the distinct-value set);
  *  2. two-phase [[PrefixScan]] over the value order → exclusive
  *     cumulative weight below each value + grand total W;
  *  3. for each requested p, a filter-aggregate picks
  *     min{v : cum_below + w ≥ ceil-style p·W} — a tiny codegen'd pass
  *     over the scanned frame, no global window, no value buffers.
  *
  * Weights must be non-negative; zero-weight values can never be
  * selected (they add nothing to any cumulative). Output is the lower
  * weighted quantile (inverted-CDF definition) — the convention of
  * numpy `quantile(..., method="inverted_cdf", weights=...)`.
  *
  * Capability rationale: the reference resamples minority classes with
  * per-class weights (`app/data_augmentation_enhanced.py`); weighted
  * quantiles are the matching summary statistic when rows carry
  * importance/frequency weights (duplicated-document counts, sampling
  * weights), where unweighted quantiles are simply wrong.
  */
object WeightedQuantile {

  /** (p, value) rows, one per requested quantile. */
  def quantiles(df: DataFrame, valueCol: String, weightCol: String,
                ps: Seq[Double], cacheKey: String): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0 && p <= 1),
      s"quantile levels must lie in (0, 1]: $ps")
    val v = col(valueCol).cast(DoubleType)
    val w = col(weightCol).cast("long")
    val perValue = df
      .where(v.isNotNull && !isnan(v) && w.isNotNull && w > 0)
      .groupBy(v.as("__wq_value")).agg(sum(w).as("__wq_w"))
    val (scanned, totals) = PrefixScan.build(
      perValue, "__wq_value", Seq("__wq_w"), cacheKey)
    val total = totals(0)
    val frames = ps.map { p =>
      // smallest value whose inclusive cumulative weight reaches p·W;
      // exact integer threshold ceil(p·W) dodges double edge error
      val need = math.ceil(p * total).toLong.max(1L)
      scanned
        .where(col("cum___wq_w_below") + col("__wq_w") >= need)
        .agg(min(col("__wq_value")).as("value"))
        .select(lit(p).cast(DoubleType).as("p"), col("value"))
    }
    frames.reduce(_ union _)
  }
}
