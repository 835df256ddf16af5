package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Distributed exact quantiles via order-statistic selection over a
  * sortable-bits histogram.
  *
  * Catalyst's `percentile` buffers every value per partition and merges
  * the full value multiset on a single reducer — at 100 TB that reducer
  * is an OOM, and before that a straggler. This computes the same exact,
  * linearly-interpolated quantiles (numpy `np.percentile` semantics, the
  * reference's threshold math at `app/AE_model.py:197` and
  * `app/LSTM_AE.py:513-517`) with bounded memory everywhere, and
  * usually in ONE full pass:
  *
  *  1. bucket every value by a fixed right-shift of its
  *     [[SortableBitsExpr order-preserving bit image]] — a monotone,
  *     data-independent partition of the double line, so there is NO
  *     min/max pre-pass and no infinite-tail special case — and
  *     aggregate (count, min, max) per occupied bucket: a
  *     map-side-combined shuffle of at most `buckets` keys. The bucket
  *     counts locate the cell holding each target rank AND yield the
  *     total count n, so rank targets come from the same pass.
  *  2. a located cell that is constant (min == max) resolves
  *     immediately; cells with ≤ `collectThreshold` rows are fetched
  *     and sorted on the driver (one bucket-membership job per level
  *     for ALL such cells); anything larger recurses with the shift
  *     reduced by log₂(buckets) bits — resolution grows `buckets`-fold
  *     per level, and at shift 0 a bucket is a single double, so
  *     termination is structural (≤ ⌈64/log₂(buckets)⌉ levels), not
  *     data-dependent.
  *
  * Multi-column requests fuse into the same passes (one scan covers
  * every column via a posexplode of the validity-filtered values).
  * Driver and executor memory are bounded by `buckets` +
  * `collectThreshold` per column regardless of data size, and every
  * aggregate is mergeable, so the plan survives a 1000-executor
  * cluster.
  *
  * Interpolation matches Catalyst `Percentile` bitwise (and DuckDB
  * `quantile_cont` within rounding): with h = p·(n−1),
  * result = v_⌊h⌋·(⌈h⌉−h) + v_⌈h⌉·(h−⌊h⌋).
  * Nulls and NaNs are excluded (Imputer/profiler validity semantics).
  */
object OrderStats {

  /** A located cell: bucket `id` at the current shift for column
    * `colIdx`, holding the 1-indexed order statistics `ranks`, with
    * `below` values strictly before it in ascending order.
    */
  private case class Cell(colIdx: Int, id: Long, below: Long,
                          ranks: List[Long], mn: Double, mx: Double, cnt: Long)

  /** Exact interpolated quantiles `ps` for each of `cols`. Returns per
    * column the quantile values in the order of `ps`; a column with
    * zero valid rows maps to NaNs. `buckets` bounds the occupied cells
    * per column and level (driver histogram size); `collectThreshold`
    * bounds the rows fetched per driver-resolved cell.
    */
  def quantiles(df: DataFrame, cols: Seq[String], ps: Seq[Double],
                buckets: Int = 1 << 17, collectThreshold: Int = 8192): Map[String, Seq[Double]] = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      s"quantile probabilities must be in [0,1]: $ps")
    require(buckets >= 2, s"need at least 2 buckets: $buckets")
    val effBuckets = effectiveBuckets(buckets, cols.length)
    def valid(c: String): Column = {
      val d = col(c).cast(DoubleType)
      when(d.isNotNull && !isnan(d), d)
    }
    // (colIdx, value) pairs — ONE scan covers every requested column.
    // The selection reads them 1 + ~levels times; if the caller didn't
    // already persist, cache the narrow pair frame so every later pass
    // reads it instead of re-running the upstream plan. At 100 TB the
    // cache is the pruned quantile columns only, and MEMORY_AND_DISK
    // degrades to re-scan economics, never OOM.
    val pairs0 =
      if (cols.length == 1) df.select(lit(0).as("ci"), valid(cols.head).as("v"))
      else df.select(posexplode(array(cols.map(valid): _*)).as(Seq("ci", "v")))
    val pairs1 = pairs0.where(col("v").isNotNull)
    val needCache = df.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val pairs =
      if (needCache) pairs1.persist(Caches.level) // released in `finally`
      else pairs1
    try {
      val resolved = selectAll(pairs, cols.length, ps, effBuckets, collectThreshold)
      cols.zipWithIndex.map { case (c, ci) =>
        val (n, values) = resolved(ci)
        c -> interpolate(ps, n, values)
      }.toMap
    } finally if (needCache) { pairs.unpersist(false); () }
  }

  /** Single-column convenience. */
  def quantilesOf(df: DataFrame, colName: String, ps: Seq[Double]): Seq[Double] =
    OrderStats.quantiles(df, Seq(colName), ps)(colName)

  /** Exact per-GROUP quantiles of `valueCol`, sharing the same fused
    * selection passes across every group (group index plays the same
    * role as column index in [[quantiles]]). Returns
    * (groupCol, p, value) rows — one per group × probability; null
    * groups are excluded.
    *
    * Scale shape: for LOW-cardinality group columns (flags, segments,
    * categories — the monitoring case). Distinct groups are collected
    * once (bounded by `maxGroups`), broadcast back as an index join,
    * and the per-level driver histogram divides `buckets` across
    * groups exactly like the multi-column cap. For HIGH-cardinality
    * groups prefer a plain `groupBy(percentile(...))`: with many small
    * groups the per-group value buffer is bounded by the group size
    * and hash aggregation is already parallel — the single-reducer
    * pathology this selection exists to avoid only bites when one
    * group's values outsize an executor.
    */
  def groupedQuantiles(df: DataFrame, groupCol: String, valueCol: String,
                       ps: Seq[Double], buckets: Int = 1 << 17,
                       collectThreshold: Int = 8192,
                       maxGroups: Int = 4096): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      s"quantile probabilities must be in [0,1]: $ps")
    val spark = df.sparkSession
    // bounded collect: LIMIT maxGroups+1 so the cardinality guard is
    // enforced BEFORE anything unbounded reaches the driver — a
    // high-cardinality group column fails with the loud message below,
    // never with a driver OOM on the collect itself
    val groups = df.select(col(groupCol)).where(col(groupCol).isNotNull)
      .distinct().orderBy(groupCol).limit(maxGroups + 1).collect().map(_.get(0))
    require(groups.length <= maxGroups,
      s"groupedQuantiles: more than maxGroups=$maxGroups distinct groups " +
        "— use groupBy + percentile for high-cardinality keys")
    if (groups.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(Seq(df.schema(groupCol).copy(name = groupCol),
          StructField("p", org.apache.spark.sql.types.DoubleType),
          StructField("value", org.apache.spark.sql.types.DoubleType))))
    val mapSchema = StructType(Seq(
      df.schema(groupCol).copy(name = "__g"), StructField("ci", IntegerType)))
    val mapping = spark.createDataFrame(
      spark.sparkContext.parallelize(
        groups.zipWithIndex.map { case (g, i) => Row(g, i) }.toIndexedSeq, 1),
      mapSchema)
    val v0 = col(valueCol).cast(DoubleType)
    val pairs1 = df.join(broadcast(mapping), col(groupCol) === col("__g"))
      .select(col("ci"), when(v0.isNotNull && !isnan(v0), v0).as("v"))
      .where(col("v").isNotNull)
    val needCache = df.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val pairs =
      if (needCache) pairs1.persist(Caches.level) // released in `finally`
      else pairs1
    try {
      val eff = effectiveBuckets(buckets, groups.length)
      val resolved = selectAll(pairs, groups.length, ps, eff, collectThreshold)
      val rows = groups.zipWithIndex.flatMap { case (g, ci) =>
        val (n, values) = resolved(ci)
        ps.zip(interpolate(ps, n, values)).map { case (p, q) => Row(g, p, q) }
      }
      val outSchema = StructType(Seq(
        df.schema(groupCol).copy(name = groupCol),
        StructField("p", org.apache.spark.sql.types.DoubleType),
        StructField("value", org.apache.spark.sql.types.DoubleType)))
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toIndexedSeq, 1), outSchema)
    } finally if (needCache) { pairs.unpersist(false); () }
  }

  /** Fused passes (multi-column or per-group) can return up to
    * n × buckets occupied cells to the driver; divide the per-slot
    * resolution so a level-0 collect stays ≈ `buckets` rows TOTAL
    * regardless of fan-out (floor 1024 — worst case a couple of extra
    * recursion levels, never a driver-heap step-up).
    */
  private def effectiveBuckets(buckets: Int, slots: Int): Int =
    if (slots <= 1) buckets
    else math.min(buckets,
      math.max(1024, Integer.highestOneBit(math.max(1, buckets / slots))))

  /** The 1-indexed bracketing order statistics needed for `ps` over n
    * values (numpy linear interpolation: both neighbors of p·(n−1)).
    */
  private def ranksFor(ps: Seq[Double], n: Long): List[Long] =
    ps.flatMap { p =>
      val h = p * (n - 1)
      Seq(math.floor(h).toLong + 1L, math.ceil(h).toLong + 1L)
    }.distinct.sorted.toList

  private def interpolate(ps: Seq[Double], n: Long,
                          values: Map[Long, Double]): Seq[Double] =
    if (n == 0L) ps.map(_ => Double.NaN)
    else ps.map { p =>
      val h = p * (n - 1)
      val fl = math.floor(h); val cl = math.ceil(h)
      val lo = values(fl.toLong + 1L)
      if (cl == fl) lo
      else lo * (cl - h) + values(cl.toLong + 1L) * (h - fl)
    }

  /** Resolve every needed order statistic for every column. Returns per
    * column (total valid count n, rank → value map).
    */
  private def selectAll(pairs: DataFrame, nCols: Int, ps: Seq[Double],
                        buckets: Int, collectThr: Int): Array[(Long, Map[Long, Double])] = {
    val bitsPerLevel = 63 - java.lang.Long.numberOfLeadingZeros(buckets.toLong)
    val bits = graft.sim.GraftFunctions.dbits(col("v"))
    val out = Array.fill(nCols)(scala.collection.mutable.Map.empty[Long, Double])
    val ns = new Array[Long](nCols)

    /** Histogram rows (ci, bkt, cnt, mn, mx) for one column, ascending
      * by bucket (bucket order IS value order).
      */
    def colRows(hist: Array[Row], ci: Int): Array[Row] =
      hist.filter(_.getInt(0) == ci).sortBy(_.getLong(1))

    /** Walk one column's ordered cells covering ranks starting at
      * `below0`; resolve constant cells inline, return (small, heavy).
      */
    def classify(ci: Int, rows: Array[Row], below0: Long,
                 ranks: List[Long]): (List[Cell], List[Cell]) = {
      var cum = below0
      var remaining = ranks
      val small = scala.collection.mutable.ListBuffer.empty[Cell]
      val heavy = scala.collection.mutable.ListBuffer.empty[Cell]
      rows.foreach { r =>
        val cnt = r.getLong(2)
        val (inB, rest) = remaining.partition(k => k > cum && k <= cum + cnt)
        if (inB.nonEmpty) {
          val mn = r.getDouble(3); val mx = r.getDouble(4)
          if (mn == mx) inB.foreach(out(ci)(_) = mn)
          else if (cnt <= collectThr)
            small += Cell(ci, r.getLong(1), cum, inB, mn, mx, cnt)
          else heavy += Cell(ci, r.getLong(1), cum, inB, mn, mx, cnt)
        }
        cum += cnt
        remaining = rest
      }
      require(remaining.isEmpty,
        s"order-statistic selection: ranks $remaining not covered (col $ci)")
      (small.toList, heavy.toList)
    }

    /** One membership predicate for a set of same-level cells — an OR
      * of per-column (ci, isin) conjunctions: #cols disjuncts at most,
      * never a per-cell range OR-chain (CNF-explosion trap).
      */
    def cellFilter(cells: List[Cell], shift: Int): Column =
      cells.groupBy(_.colIdx).map { case (ci, cs) =>
        col("ci") === ci && shiftright(bits, shift).isin(cs.map(_.id): _*)
      }.reduce(_ || _)

    /** Rows belonging to `cells`. Few distinct columns → the literal
      * predicate above (codegen'd, no join). MANY columns — the
      * grouped-selection path, where one "column" is one GROUP and
      * thousands are legitimate — switch to a broadcast LEFT SEMI join
      * on (ci, bucket): a thousand-disjunct OR tree overflows the
      * column-conversion stack and chokes CNF conversion, while a
      * semi-join against a cell-count-sized frame is the plan a
      * membership test should be at scale anyway.
      */
    def memberRows(cells: List[Cell], shift: Int): DataFrame =
      if (cells.map(_.colIdx).distinct.length <= 64)
        pairs.where(cellFilter(cells, shift))
      else {
        import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
        val spark = pairs.sparkSession
        val schema = StructType(Seq(StructField("__ci", IntegerType),
          StructField("__bkt", LongType)))
        val cdf = spark.createDataFrame(
          spark.sparkContext.parallelize(
            cells.map(c => Row(c.colIdx, c.id)).toIndexedSeq, 1), schema)
        pairs.join(broadcast(cdf),
          col("ci") === col("__ci") &&
            shiftright(bits, shift) === col("__bkt"), "leftsemi")
      }

    /** ONE job resolves every small cell of the current level: fetch
      * (ci, bucket, value) for members, sort per cell on the driver.
      */
    def resolveSmall(cells: List[Cell], shift: Int): Unit = if (cells.nonEmpty) {
      val rows = memberRows(cells, shift)
        .select(col("ci"), shiftright(bits, shift).as("bkt"), col("v"))
        .collect()
      val byCell = rows.groupBy(r => (r.getInt(0), r.getLong(1)))
      cells.foreach { cell =>
        val vals = byCell((cell.colIdx, cell.id)).map(_.getDouble(2)).sorted
        cell.ranks.foreach(k => out(cell.colIdx)(k) = vals((k - cell.below - 1).toInt))
      }
    }

    // ---- level 0: one full pass, all columns fused; yields n too ----
    val topShift = 64 - bitsPerLevel
    val h0 = pairs
      .groupBy(col("ci"), shiftright(bits, topShift).as("bkt"))
      .agg(count(lit(1)).as("c"), min(col("v")).as("mn"), max(col("v")).as("mx"))
      .collect()
    var small = List.empty[Cell]
    var heavy = List.empty[Cell]
    (0 until nCols).foreach { ci =>
      val rows = colRows(h0, ci)
      ns(ci) = rows.map(_.getLong(2)).sum
      if (ns(ci) > 0) {
        val (s, h) = classify(ci, rows, 0L, ranksFor(ps, ns(ci)))
        small :::= s; heavy :::= h
      }
    }

    // ---- deeper levels: filtered histogram over heavy cells only ----
    var shift = topShift
    var level = 0
    while (small.nonEmpty || heavy.nonEmpty) {
      level += 1
      require(level <= 64, s"order-statistic selection failed to converge")
      resolveSmall(small, shift)
      small = Nil
      if (heavy.nonEmpty) {
        val childShift = math.max(shift - bitsPerLevel, 0)
        val h = memberRows(heavy, shift)
          .groupBy(col("ci"), shiftright(bits, childShift).as("bkt"))
          .agg(count(lit(1)).as("c"), min(col("v")).as("mn"), max(col("v")).as("mx"))
          .collect()
        val stillHeavy = heavy
        heavy = Nil
        stillHeavy.foreach { cell =>
          // this parent's children: finer buckets whose coarse prefix
          // is the parent id (arithmetic shifts compose)
          val rows = colRows(h, cell.colIdx)
            .filter(r => (r.getLong(1) >> (shift - childShift)) == cell.id)
          require(rows.map(_.getLong(2)).sum == cell.cnt,
            s"order-statistic selection: child counts disagree with parent (col ${cell.colIdx})")
          val (s, hv) = classify(cell.colIdx, rows, cell.below, cell.ranks)
          small :::= s; heavy :::= hv
        }
        shift = childShift
      }
    }

    (0 until nCols).map(ci => (ns(ci), out(ci).toMap)).toArray
  }
}
