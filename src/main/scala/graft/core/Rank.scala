package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Distributed fractional (average-tie) ranking and Spearman rank
  * correlation.
  *
  * The naive rank is a window over a GLOBAL order — a single-partition
  * bottleneck that dies at scale. Here ranks are derived per DISTINCT
  * value instead: aggregate tie counts per value (map-side combined),
  * run the two-phase [[PrefixScan]] over the value order for the
  * cumulative count below each value, and compute the classic
  * average-tie rank
  *
  *   rank(v) = (#rows < v) + (ties(v) + 1) / 2
  *
  * The rank map then joins back to the rows on the value — a plain
  * shuffled equi-join, parallel in the number of distinct values, with
  * no global window anywhere. Spearman's ρ is Pearson on these ranks
  * via the exact decimal moments of [[Stats]] (bitwise deterministic
  * across partitionings).
  *
  * Rows where the value is null/NaN are EXCLUDED from ranking (the
  * pandas `rank(method="average")` / `scipy.stats.spearmanr`
  * `nan_policy="omit"` convention); Spearman uses pairwise-complete
  * rows, ranked within the pair's complete subset.
  *
  * Capability parity: the reference computes feature association for
  * drift/selection via numpy/pandas correlation (`app/lib/utils.py`
  * stats helpers); Spearman is its rank-robust twin for monotone but
  * non-linear dependence.
  */
object Rank {

  /** (row frame with `rankCol` appended, n valid rows). One rank per
    * input row; null/NaN values get a null rank.
    */
  def avgRank(df: DataFrame, valueCol: String, rankCol: String,
              cacheKey: String): DataFrame = {
    val v = col(valueCol).cast(DoubleType)
    val valid = df.where(v.isNotNull && !isnan(v))
    val ties = valid.groupBy(v.as("__rk_value"))
      .agg(count(lit(1)).as("__rk_ties"))
    val (scanned, _) = PrefixScan.build(
      ties, "__rk_value", Seq("__rk_ties"), cacheKey)
    val ranks = scanned.select(col("__rk_value"),
      (col("cum___rk_ties_below").cast(DoubleType) +
        (col("__rk_ties").cast(DoubleType) + lit(1.0)) / lit(2.0))
        .as(rankCol))
    df.join(ranks, v <=> col("__rk_value"), "left").drop("__rk_value")
  }

  /** Average-tie rank map (`valueCol` → `rankCol`) from a PRECOMPUTED
    * weighted tie table — for callers that already hold per-value row
    * counts (e.g. several derived scores of one column sharing a
    * single `groupBy` of the raw value: re-aggregate the raw-value
    * counts per score value and rank each score WITHOUT another
    * corpus-sized scan). Bitwise-identical ranks to [[avgRank]]'s
    * internal tie table: same cast, same invalid-value exclusion, same
    * [[PrefixScan]] and rank formula. The caller joins the map back to
    * rows itself (which is the point — once, not once per score).
    */
  def rankMap(ties: DataFrame, valueCol: String, tiesCol: String,
              rankCol: String, cacheKey: String): DataFrame = {
    val v = col(valueCol).cast(DoubleType)
    val t = ties.where(v.isNotNull && !isnan(v))
      .select(v.as("__rk_value"), col(tiesCol).cast("long").as("__rk_ties"))
    val (scanned, _) = PrefixScan.build(
      t, "__rk_value", Seq("__rk_ties"), cacheKey)
    scanned.select(col("__rk_value").as(valueCol),
      (col("cum___rk_ties_below").cast(DoubleType) +
        (col("__rk_ties").cast(DoubleType) + lit(1.0)) / lit(2.0))
        .as(rankCol))
  }

  /** Spearman rank correlation of each unordered column pair, long
    * form (col_x, col_y, rho). Each pair is ranked within its own
    * pairwise-complete subset (both values valid), then Pearson via
    * exact decimal moments. One rank scan per (pair, side); the tie
    * tables are tiny relative to the data and every step is
    * shuffle-parallel.
    */
  def spearmanMatrix(df: DataFrame, cols: Seq[String],
                     cacheKey: String): DataFrame = {
    require(cols.length >= 2, s"spearmanMatrix needs >= 2 columns: $cols")
    val pairs = for { i <- cols.indices; j <- (i + 1) until cols.length }
      yield (cols(i), cols(j))
    // Validity probe (one tiny aggregate): when every column is fully
    // valid — the common clean-numeric-table case — pairwise-complete
    // ranking degenerates to whole-column ranking, so the matrix needs
    // ONE rank scan per COLUMN and ONE moment pass for all pairs,
    // instead of two rank scans and an aggregate per PAIR (k(k−1)
    // scans): 30 → 6 scans at k = 6, A/B'd ~4× faster at sf0.1.
    // Results are bitwise identical (same ranks, same moment formula).
    val invalid = df.agg(
      count(when(cols.map { c =>
        val d = col(c).cast(DoubleType); d.isNull || isnan(d)
      }.reduce(_ || _), 1)).as("bad")).head().getLong(0)
    if (invalid == 0L) return spearmanAllValid(df, cols, pairs, cacheKey)
    val frames = pairs.map { case (a, b) =>
      val x = col(a).cast(DoubleType); val y = col(b).cast(DoubleType)
      val complete = df
        .where(x.isNotNull && !isnan(x) && y.isNotNull && !isnan(y))
        .select(x.as(a), y.as(b))
      // one shared cache key: all tie-table scans live in ONE Caches
      // working set (the 4-key LRU would evict per-pair keys mid-action)
      val rx = avgRank(complete, a, "__rx", cacheKey)
      val both = avgRank(rx, b, "__ry", cacheKey)
      val n = Stats.nValid(col("__rx")).cast(DoubleType)
      val num = n * Stats.dsum(col("__rx") * col("__ry")) -
        Stats.dsum(col("__rx")) * Stats.dsum(col("__ry"))
      val vx = n * Stats.dsum(col("__rx") * col("__rx")) -
        Stats.dsum(col("__rx")) * Stats.dsum(col("__rx"))
      val vy = n * Stats.dsum(col("__ry") * col("__ry")) -
        Stats.dsum(col("__ry")) * Stats.dsum(col("__ry"))
      both.agg(
        when(vx > 0.0 && vy > 0.0, num / (sqrt(vx) * sqrt(vy))).as("rho"))
        .select(lit(a).as("col_x"), lit(b).as("col_y"), col("rho"))
    }
    frames.reduce(_ union _)
  }

  /** Fully-valid fast path: rank each column once over the whole
    * frame, then compute every pair's Spearman from ONE mergeable
    * moment aggregate (2k + k(k−1)/2 + 1 buffer slots).
    *
    * The returned lazy frame aggregates a localCheckpoint, so it dies
    * with [[Caches.releaseAll]] (truncated lineage, blocks gone).
    */
  private def spearmanAllValid(df: DataFrame, cols: Seq[String],
                               pairs: Seq[(String, String)],
                               cacheKey: String): DataFrame = {
    def rk(c: String) = s"__r_$c"
    // Build each column's (value → rank) map from a PRUNED single-column
    // scan of the ORIGINAL frame — chaining avgRank over the growing
    // join would recompute the whole chain once per column inside each
    // PrefixScan subtotal job (quadratic re-execution; measured, not
    // hypothetical). The maps are distinct-value-sized; the row frame
    // joins them once each.
    val rankMaps = cols.map { c =>
      val ties = df.select(col(c).cast(DoubleType).as("__rk_value"))
        .groupBy("__rk_value").agg(count(lit(1)).as("__rk_ties"))
      val (scanned, _) = PrefixScan.build(
        ties, "__rk_value", Seq("__rk_ties"), cacheKey)
      // distinct-value cardinality: a count on the PrefixScan-persisted
      // tie table (already materialized by the subtotal job — this is a
      // cached-frame count, not a rescan)
      val nDistinct = scanned.count()
      val m = scanned.select(col("__rk_value").as(s"__v_$c"),
        (col("cum___rk_ties_below").cast(DoubleType) +
          (col("__rk_ties").cast(DoubleType) + lit(1.0)) / lit(2.0))
          .as(rk(c)))
      (m, nDistinct)
    }
    var ranked = df.select(cols.map(c => col(c).cast(DoubleType).as(c)): _*)
    cols.zip(rankMaps).foreach { case (c, (m, nDistinct)) =>
      // a small rank map (bounded-cardinality numerics: quantities,
      // rates, grades) broadcasts, so the row frame joins it map-side
      // without a shuffle. The threshold is deliberately conservative
      // (65k entries ≈ 1 MiB): an A/B at sf0.1 measured broadcasting a
      // 600k-entry near-unique map at 2× SLOWER than its shuffled
      // equi-join (driver collect + row-object overhead dominates), so
      // high-cardinality maps keep the shuffle plan.
      val mh = if (nDistinct <= 65536L) broadcast(m) else m
      ranked = ranked.join(mh, col(c) <=> col(s"__v_$c"), "left")
        .drop(s"__v_$c")
    }
    // Checkpoint the k-way rank-joined frame: a MEMORY_AND_DISK persist
    // can be evicted mid-sweep under storage pressure, forcing a full
    // re-derivation (k PrefixScan tie scans + k shuffled join-backs)
    // inside a single timed action — the r11 official bench measured
    // q121 reps of [14.8, 2.3, 6.7] s from exactly this. A
    // localCheckpoint truncates the lineage, so the aggregate above it
    // never re-joins.
    ranked = ranked.localCheckpoint()
    val aggs = cols.flatMap { c =>
      Seq(Stats.dsum(col(rk(c))).as(s"s_$c"),
        Stats.dsum(col(rk(c)) * col(rk(c))).as(s"ss_$c"))
    } ++ pairs.zipWithIndex.map { case ((a, b), i) =>
      Stats.dsum(col(rk(a)) * col(rk(b))).as(s"sp_$i")
    } :+ count(lit(1)).cast(DoubleType).as("n")
    val rows = pairs.zipWithIndex.map { case ((a, b), i) =>
      val n = col("n")
      val num = n * col(s"sp_$i") - col(s"s_$a") * col(s"s_$b")
      val vx = n * col(s"ss_$a") - col(s"s_$a") * col(s"s_$a")
      val vy = n * col(s"ss_$b") - col(s"s_$b") * col(s"s_$b")
      struct(lit(a).as("col_x"), lit(b).as("col_y"),
        when(vx > 0.0 && vy > 0.0, num / (sqrt(vx) * sqrt(vy))).as("rho"))
    }
    ranked.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(rows: _*)).as("p"))
      .select(col("p.col_x"), col("p.col_y"), col("p.rho"))
  }
}
