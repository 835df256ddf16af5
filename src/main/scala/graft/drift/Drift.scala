package graft.drift

import graft.core.Caches
import graft.core.OrderStats
import graft.eval.Metrics
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Distribution-drift detection between a baseline (training/reference)
  * frame and a current (serving/incoming) frame — the monitoring half
  * of a data-quality engine: the reference validates incoming batches
  * against training-time expectations (schema guard
  * `app/test_AE.py:138-165`, threshold drift via re-derived quantiles
  * `app/AE_model.py:197`); these operators quantify the distribution
  * shift itself.
  *
  * All three statistics reduce to per-key counts (map-side combined)
  * over narrow columns — document/row bodies never shuffle — so every
  * plan survives a 1000-executor cluster:
  *
  *  - [[psi]]: quantile-binned Population Stability Index per numeric
  *    column; bin edges from the baseline via the distributed
  *    order-statistic selection, then ONE fused aggregate per frame
  *    over (column, bin) keys (≤ cols × bins of them).
  *  - [[ks]]: EXACT two-sample Kolmogorov–Smirnov statistic via the
  *    distributed two-phase prefix scan (no single-partition window,
  *    no value collect) — sup|ECDF_a − ECDF_b| evaluated at every
  *    distinct value.
  *  - [[chiSquare]]: categorical chi-square against baseline
  *    proportions; two tiny per-category aggregates.
  */
object Drift {

  /** PSI per column: Σ_bins (p_cur − p_base)·ln(p_cur/p_base), bins =
    * baseline quantile intervals (`bins`-iles; duplicate edges
    * collapse). Zero-count bins are smoothed to proportion `eps` —
    * PSI stays finite when a bin empties on one side, the standard
    * practical convention. Null/NaN values are excluded (validity
    * semantics of the profiler). Returns (feature, psi) rows.
    *
    * Common reading: psi < 0.1 stable, 0.1–0.25 moderate shift,
    * > 0.25 action required.
    *
    * Every requested column emits exactly one output row: a column with
    * no valid values in EITHER frame (or an empty side) yields a null
    * psi rather than an ANSI division-by-zero job failure or a silently
    * missing row. Bin edges are rounded to `edgeScale` decimals before
    * binning so the bin assignment of mass sitting exactly on an edge
    * cannot depend on last-ulp quantile-interpolation differences
    * between engines (lo·(1−f)+hi·f vs lo+(hi−lo)·f). `edgeScale` is
    * ABSOLUTE decimals; for a column whose inter-quantile gaps are
    * smaller than 10^-edgeScale that rounding would merge genuinely
    * distinct edges and silently flatten the histogram, so the scale
    * auto-escalates (+3 at a time, up to 15) until rounding is
    * collapse-free, falling back to raw edges for sub-1e-15 gaps.
    * Residual cross-engine risk: a value whose exact decimal expansion
    * ties at the rounding digit can round differently under another
    * engine's scaled-double rounding — rare (needs a tie in the 6th
    * decimal of a measured value) and detectable as a one-bin count
    * diff; pin `edgeScale` higher if the data is tie-prone.
    */
  /** Quantile bin index of `v` against `es` (count of edges strictly
    * below the value, codegen'd comparison sum); invalid values map to
    * a null bin. Shared by batch PSI and the streaming PSI monitor.
    */
  private[graft] def binIndex(v: Column, es: Seq[Double]): Column = {
    val idx = es.map(e => when(v > lit(e), 1).otherwise(0)).reduce(_ + _)
    when(v.isNotNull && !isnan(v), idx)
  }

  /** Baseline bin edges: (1..bins−1)/bins quantiles per column via the
    * fused distributed order-statistic selection, rounded with the
    * collapse-free escalation documented on [[psi]], deduplicated.
    */
  private def psiEdges(baseline: DataFrame, cols: Seq[String], bins: Int,
                       edgeScale: Int): Map[String, Seq[Double]] = {
    val ps = (1 until bins).map(_.toDouble / bins)
    val edges0 = OrderStats.quantiles(baseline, cols, ps)
    def roundAt(es: Seq[Double], scale: Int): Seq[Double] = es.map(e =>
      if (e.isNaN || e.isInfinite) e
      else BigDecimal(e).setScale(scale, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)
    edges0.map { case (c, es) =>
      val finite = es.filter(e => !e.isNaN && !e.isInfinite)
      val want = finite.distinct.size
      val scale = (edgeScale to 15 by 3).find(sc =>
        roundAt(finite, sc).distinct.size == want)
      c -> scale.map(roundAt(es, _)).getOrElse(es).distinct
    }
  }

  /** Long-form (ci, bin, count) for one frame — ONE map stage + one
    * tiny-key aggregate (≤ cols × bins output rows).
    */
  private def binnedCounts(df: DataFrame, side: String, cols: Seq[String],
                           edges: Map[String, Seq[Double]]): DataFrame = {
    val binCols: Seq[Column] =
      cols.map(c => binIndex(col(c).cast(DoubleType), edges(c)))
    df.select(posexplode(array(binCols: _*)).as(Seq("ci", "bin")))
      .where(col("bin").isNotNull)
      .groupBy("ci", "bin").agg(count(lit(1)).as(side))
  }

  def psi(baseline: DataFrame, current: DataFrame, cols: Seq[String],
          bins: Int = 10, eps: Double = 1e-6, edgeScale: Int = 6): DataFrame = {
    require(bins >= 2, s"psi needs at least 2 bins: $bins")
    require(cols.nonEmpty, "psi needs at least one column")
    // edges from the BASELINE only (the monitored population is scored
    // against training-time geometry); one fused multi-column selection
    val edges = psiEdges(baseline, cols, bins, edgeScale)
    val b = binnedCounts(baseline, "nb", cols, edges)
    val c = binnedCounts(current, "nc", cols, edges)
    // per-column totals from the bin tables themselves (≤ cols×bins
    // rows) — no extra full-input pass
    val joined = b.join(c, Seq("ci", "bin"), "full_outer")
      .select(col("ci"), col("bin"),
        coalesce(col("nb"), lit(0L)).as("nb"), coalesce(col("nc"), lit(0L)).as("nc"))
    val totals = org.apache.spark.sql.expressions.Window.partitionBy("ci")
    // guard the denominators: an empty side makes its per-column total
    // 0 and ANSI double division by zero THROWS — with the guard the
    // proportion (hence the psi term, hence the column's psi) is null
    // instead of an opaque job failure (same convention as chiSquare)
    val tb = sum("nb").over(totals)
    val tc = sum("nc").over(totals)
    val pb = when(tb > 0, greatest(col("nb").cast(DoubleType) / tb.cast(DoubleType), lit(eps)))
    val pc = when(tc > 0, greatest(col("nc").cast(DoubleType) / tc.cast(DoubleType), lit(eps)))
    val psiByCi = joined
      .select(col("ci"),
        ((pc - pb) * log(pc / pb)).cast(DecimalType(38, 18)).as("term"))
      .groupBy(col("ci"))
      .agg(round(sum("term").cast(DoubleType), 6).as("psi"))
    // left-join against the full requested-column index: a column empty
    // in BOTH frames has no (ci, bin) rows at all, and without this it
    // would be silently absent from the output instead of null-psi
    val colIdx = baseline.sparkSession
      .createDataFrame(cols.zipWithIndex.map { case (c, i) => (i, c) })
      .toDF("ci", "feature")
    colIdx.join(broadcast(psiByCi), Seq("ci"), "left")
      .select(col("feature"), col("psi"))
  }

  /** Training-time PSI geometry, frozen for monitoring: per-column
    * deduplicated bin edges plus smoothed baseline bin proportions.
    * Fit ONCE on the (static) training frame, then score any number of
    * serving batches/windows against it — batch via the proportions
    * directly, streaming via [[graft.streaming.StreamOps.streamingPsi]]
    * (edges and proportions ride into the stream as literals: no
    * stream-side join, no state beyond the windowed counts).
    */
  final case class PsiBaseline(cols: Seq[String],
                               edges: Map[String, Seq[Double]],
                               props: Map[String, Seq[Double]])

  /** Fit the frozen PSI baseline: quantile edges (same collapse-free
    * rounding as [[psi]]) and per-bin proportions (zero-count bins
    * smoothed to `eps`, the same convention [[psi]] applies to the
    * current side). Fails loudly on a column with no valid values —
    * a baseline that can't define geometry should not silently emit
    * null monitoring forever after.
    */
  def fitPsiBaseline(baseline: DataFrame, cols: Seq[String], bins: Int = 10,
                     eps: Double = 1e-6, edgeScale: Int = 6): PsiBaseline = {
    require(bins >= 2, s"fitPsiBaseline needs at least 2 bins: $bins")
    require(cols.nonEmpty, "fitPsiBaseline needs at least one column")
    val edges = psiEdges(baseline, cols, bins, edgeScale)
    val rows = binnedCounts(baseline, "nb", cols, edges).collect()
    val byCol: Map[Int, Map[Int, Long]] = rows
      .groupBy(_.getInt(0))
      .map { case (ci, rs) =>
        ci -> rs.map(r => r.getInt(1) -> r.getLong(2)).toMap
      }
    val props = cols.zipWithIndex.map { case (c, ci) =>
      val m = byCol.getOrElse(ci, Map.empty[Int, Long])
      val total = m.values.sum
      require(total > 0L,
        s"fitPsiBaseline: baseline column '$c' has no valid values")
      val nBins = edges(c).size + 1
      c -> (0 until nBins).map(b =>
        math.max(m.getOrElse(b, 0L).toDouble / total, eps)).toSeq
    }.toMap
    PsiBaseline(cols, edges, props)
  }

  /** Exact two-sample KS statistic D = sup_v |ECDF_a(v) − ECDF_b(v)|
    * over the values of `valueCol`, plus both sample sizes. Tagged
    * union → per-distinct-value counts → distributed prefix scan
    * ([[Metrics.prefixScoreCountsWithTotals]]): every stage is a
    * bounded shuffle of narrow keys; the sup is an order-free max.
    */
  def ks(a: DataFrame, b: DataFrame, valueCol: String): DataFrame = {
    def side(df: DataFrame, tag: Int): DataFrame = {
      val v = col(valueCol).cast(DoubleType)
      df.select(v.as("v"), lit(tag).as("side"))
        .where(col("v").isNotNull && !isnan(col("v")))
    }
    val (pc, nA, nB) = Metrics.prefixScoreCountsWithTotals(
      side(a, 1).unionAll(side(b, 0)), "side", "v")
    require(nA > 0 && nB > 0, "ks needs non-empty samples on both sides")
    pc.select(abs(
        (col("cum_pos_below") + col("pos")).cast(DoubleType) / lit(nA.toDouble) -
        (col("cum_neg_below") + col("neg")).cast(DoubleType) / lit(nB.toDouble)).as("d"))
      .agg(round(max("d"), 6).as("ks"))
      .select(col("ks"), lit(nA).as("n_a"), lit(nB).as("n_b"))
  }

  /** Chi-square drift for a categorical column: Σ_cat (o_c − e_c)²/e_c
    * with expected e_c = n_cur · max(p_base_c, eps) (smoothing keeps
    * categories absent from the baseline finite rather than dividing
    * by zero). Returns one row: (chi2, n_categories, n_base, n_cur).
    * Two tiny aggregates over category keys — scale-free.
    */
  def chiSquare(baseline: DataFrame, current: DataFrame, catCol: String,
                eps: Double = 1e-6): DataFrame = {
    val b = baseline.groupBy(col(catCol).as("cat")).agg(count(lit(1)).as("nb"))
    val c = current.groupBy(col(catCol).as("cat")).agg(count(lit(1)).as("nc"))
    val joined = b.join(c, Seq("cat"), "full_outer")
      .select(col("cat"),
        coalesce(col("nb"), lit(0L)).as("nb"), coalesce(col("nc"), lit(0L)).as("nc"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    val e = sum("nc").over(w).cast(DoubleType) *
      greatest(col("nb").cast(DoubleType) / sum("nb").over(w).cast(DoubleType), lit(eps))
    // (o−e)² via explicit multiply, not pow(): IEEE multiplication is
    // bit-identical across engines, libm pow need not be. Guard e > 0:
    // an EMPTY current frame makes every e zero, and Spark's ANSI
    // double division by zero THROWS (it is not IEEE-silent) — with
    // the guard an empty side yields a null chi2 instead of a job
    // failure.
    val d = col("nc").cast(DoubleType) - e
    joined
      .select(col("cat"), col("nb"), col("nc"),
        when(e > lit(0.0), d * d / e).cast(DecimalType(38, 18)).as("term"))
      .agg(round(sum("term").cast(DoubleType), 6).as("chi2"),
        count(lit(1)).as("n_categories"),
        sum("nb").as("n_base"), sum("nc").as("n_cur"))
  }

  /** Cramér's V association between two categorical columns of ONE
    * frame: χ² over the r×c contingency table, normalized to [0, 1] by
    * V = √(χ² / (n·(min(r,c) − 1))). The contingency table is one
    * map-side-combined groupBy on (a, b); marginals derive from it by
    * two tiny re-aggregations joined back ON THE CATEGORY KEYS (both
    * sides are category-cardinality-sized — broadcast at any data
    * scale). The data is scanned exactly once.
    *
    * The contingency groupBy materializes only OBSERVED cells; a zero
    * cell still contributes (0 − e)²/e = e to χ². Rather than
    * generating the full r×c grid, the zero cells enter via the
    * identity Σ_allcells e = n:  χ² = Σ_obs (o−e)²/e + (n − Σ_obs e).
    * Expected counts e = rowTot·colTot/n are never zero for observed
    * marginals, so no smoothing is needed (unlike the two-sample
    * [[chiSquare]], where a category can be absent from one side).
    * χ² terms accumulate in DECIMAL(38,18) for cross-engine
    * determinism. V is null for a degenerate table (r or c = 1).
    */
  def cramersV(df: DataFrame, colA: String, colB: String): DataFrame = {
    val ct = Caches.keep(s"drift.cramersV:$colA:$colB",
      df.groupBy(col(colA).as("a"), col(colB).as("b"))
        .agg(count(lit(1)).as("o")))
    val rowTot = ct.groupBy("a").agg(sum("o").as("ra"))
    val colTot = ct.groupBy("b").agg(sum("o").as("cb"))
    val n = ct.agg(sum("o").as("n"), countDistinct("a").as("r"),
      countDistinct("b").as("c"))
    val e = col("ra").cast(DoubleType) * col("cb").cast(DoubleType) /
      col("n").cast(DoubleType)
    val d = col("o").cast(DoubleType) - e
    ct.join(broadcast(rowTot), "a").join(broadcast(colTot), "b")
      .crossJoin(broadcast(n))
      .select(col("n"), col("r"), col("c"),
        (d * d / e).cast(DecimalType(38, 18)).as("term"),
        e.cast(DecimalType(38, 18)).as("e_obs"))
      .groupBy("n", "r", "c")
      .agg((sum("term").cast(DoubleType) +
        (col("n").cast(DoubleType) - sum("e_obs").cast(DoubleType)))
        .as("chi2"))
      .select(col("n"), col("r").as("n_cat_a"), col("c").as("n_cat_b"),
        round(col("chi2"), 6).as("chi2"),
        round(when(least(col("r"), col("c")) > 1,
          sqrt(col("chi2") / (col("n").cast(DoubleType) *
            (least(col("r"), col("c")).cast(DoubleType) - 1.0)))), 6)
          .as("cramers_v"))
  }

  /** Benford first-significant-digit conformance — the classic
    * fabricated-data / corrupted-feed screen for positive numeric
    * columns spanning several orders of magnitude. Per digit d ∈ 1..9:
    * observed count and frequency vs the Benford expectation
    * p_d = log₁₀(1 + 1/d), plus the per-digit deviation. One row per
    * digit, with the summary MAD (mean |obs − exp| over the 9 digits,
    * the Nigrini conformance statistic) repeated on each row.
    *
    * The first digit is extracted arithmetically —
    * floor(x / 10^floor(log₁₀ x)) — not by string formatting, so the
    * whole extraction is codegen'd column math; the aggregation is a
    * 9-bucket groupBy (map-side combined, scale-free). Non-positive,
    * null, and NaN values are excluded (Benford is undefined there).
    */
  def benford(df: DataFrame, valueCol: String): DataFrame = {
    val x = col(valueCol).cast(DoubleType)
    val raw = floor(x / pow(lit(10.0), floor(log10(x)))).cast("int")
    // at exact powers of 10 a 1-ulp log10 error in EITHER engine can
    // under/over-floor the exponent, yielding 10 (true digit 1) or 0
    // (true digit 9); the correction makes extraction engine-proof
    val digit = when(raw === 10, 1).when(raw === 0, 9).otherwise(raw)
    val counts = df.where(x.isNotNull && !isnan(x) && x > 0)
      .select(digit.as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n_obs"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    val expP = log10(lit(1.0) + lit(1.0) / col("digit").cast(DoubleType))
    counts
      .withColumn("freq_obs",
        col("n_obs").cast(DoubleType) / sum("n_obs").over(w).cast(DoubleType))
      .withColumn("freq_exp", expP)
      .withColumn("dev", abs(col("freq_obs") - col("freq_exp")))
      .withColumn("mad", avg(col("dev")).over(w))
      .select(col("digit"), col("n_obs"), round(col("freq_obs"), 6).as("freq_obs"),
        round(col("freq_exp"), 6).as("freq_exp"),
        round(col("dev"), 6).as("dev"), round(col("mad"), 6).as("mad"))
  }
}
