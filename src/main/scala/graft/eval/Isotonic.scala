package graft.eval

import graft.core.Caches
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Isotonic (monotone) calibration of a score against a binary label —
  * the distribution-free calibrator (Zadrozny–Elkan), the standard
  * upgrade over raw score→rate reliability tables when scores must map
  * to MONOTONE probabilities.
  *
  * Scale design: the data-proportional work is ONE pass — bin rows by
  * score quantiles (exact distributed selection) and aggregate per-bin
  * (weight, positives) with decimal-exact partials. The isotonic fit
  * itself then runs on the ≤ bins-row table via the MINIMAX identity
  *
  *   fit(i) = max_{j ≤ i} min_{l ≥ i} (Σ_{b∈[j,l]} pos_b) /
  *                                     (Σ_{b∈[j,l]} n_b)
  *
  * which equals the pool-adjacent-violators solution exactly, but is
  * expressed as plain relational algebra: a triangle self-join over
  * bin indices (B³ tuples for B bins — metadata-sized), range sums
  * from exact decimal prefix aggregates, then max-of-min. No
  * sequential pooling loop, no driver fit, and — unlike PAV — the
  * whole operator is a deterministic SQL-shaped plan an oracle can
  * replay verbatim.
  *
  * Output per bin: bin index, n, pos, raw rate, fitted (monotone
  * non-decreasing) calibrated rate.
  */
object Isotonic {

  def fitBins(df: DataFrame, labelCol: String, scoreCol: String,
              bins: Int = 20): DataFrame = {
    require(bins >= 2, s"isotonic needs at least 2 bins: $bins")
    val slim = df.select(col(labelCol).cast("int").as("y"),
      col(scoreCol).cast("double").as("s"))
    val ps = (1 until bins).map(_.toDouble / bins)
    val ts = graft.core.Quantiles.exactQuantiles(slim, "s", ps).distinct
    val bin = ts.map(t => when(col("s") > lit(t), 1).otherwise(0)).reduce(_ + _)
    val perBin = Caches.keep("isotonic.bins", slim.groupBy(bin.cast("long").as("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).cast("long").as("pos")))
    // triangle join over bin indices: (i, j ≤ i, l ≥ i) with the range
    // [j, l] rate; every frame here is ≤ B or ≤ B³ rows
    val b = perBin.select(col("bin"))
    val spans = perBin.select(col("bin").as("j"))
      .join(perBin.select(col("bin").as("l")), col("j") <= col("l"))
      .join(perBin.select(col("bin").as("m"), col("n"), col("pos")),
        col("m") >= col("j") && col("m") <= col("l"))
      .groupBy("j", "l")
      .agg((sum(col("pos")).cast(DoubleType) /
        sum(col("n")).cast(DoubleType)).as("rate"))
    val minOver = b
      .join(spans, col("j") <= col("bin") && col("l") >= col("bin"))
      .groupBy(col("bin"), col("j"))
      .agg(min(col("rate")).as("minr"))
      .groupBy("bin")
      .agg(max(col("minr")).as("fitted"))
    perBin.join(minOver, "bin")
      .select(col("bin"), col("n"), col("pos"),
        (col("pos").cast(DoubleType) / col("n").cast(DoubleType)).as("rate"),
        col("fitted"))
  }
}
