package graft.core

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The distributed two-phase exclusive prefix scan — the shared scale
  * primitive behind exact ROC/AUC/Youden/KS (per-score cumulative
  * label counts, `eval.Metrics`) and sequence packing (global running
  * token sums, `seq.Packing`):
  *
  *  1. range-repartition + in-partition sort on the sort column —
  *     a distributed sort, every partition holds a contiguous range;
  *  2. phase one folds per-partition subtotals of each weight column —
  *     ONE tiny row per partition collected to the driver, which
  *     prefix-sums them into per-partition offsets (broadcast);
  *  3. phase two streams each partition once, emitting every input row
  *     plus its exclusive running totals.
  *
  * No single-partition window anywhere; the result is
  * layout-independent (prefix sums depend only on the sort order).
  * Rows whose sort keys are equal must be avoided by callers needing
  * per-row determinism (pre-aggregate per key, or sort by a unique
  * key) — equal keys land in one partition but their relative order,
  * and so their individual running totals, is arbitrary.
  */
object PrefixScan {

  /** Append `cum_<w>_below` (exclusive running total in `sortCol`
    * order) for each weight column, plus the grand totals. Weight
    * columns must be non-null longs. The internal sorted frame is
    * kept under `cacheKey` with [[Caches.keep]] — warm for the
    * caller's action, swept when other operators keep theirs.
    */
  def build(df: DataFrame, sortCol: String, weightCols: Seq[String],
            cacheKey: String): (DataFrame, Array[Long]) = {
    val spark = df.sparkSession
    val parts = math.max(1, spark.sparkContext.defaultParallelism)
    val sorted = Caches.keep(cacheKey, df.repartitionByRange(parts, col(sortCol))
      .sortWithinPartitions(sortCol))
    val wIdx = weightCols.map(sorted.schema.fieldIndex).toArray
    val nW = wIdx.length
    val subtotal = sorted.rdd.mapPartitionsWithIndex { case (i, it) =>
      val acc = new Array[Long](nW)
      it.foreach { r =>
        var k = 0
        while (k < nW) { acc(k) += r.getLong(wIdx(k)); k += 1 }
      }
      Iterator((i, acc))
    }.collect().sortBy(_._1)
    val offsets = new Array[Array[Long]](subtotal.length)
    val totals = new Array[Long](nW)
    subtotal.foreach { case (i, acc) =>
      offsets(i) = totals.clone()
      var k = 0
      while (k < nW) { totals(k) += acc(k); k += 1 }
    }
    val bc = spark.sparkContext.broadcast(offsets)
    val rows = sorted.rdd.mapPartitionsWithIndex { case (i, it) =>
      val cum = bc.value(i).clone()
      it.map { r =>
        val out = Row.fromSeq(r.toSeq ++ cum.toSeq)
        var k = 0
        while (k < nW) { cum(k) += r.getLong(wIdx(k)); k += 1 }
        out
      }
    }
    val schema = StructType(sorted.schema.fields ++
      weightCols.map(w => StructField(s"cum_${w}_below", LongType)))
    (spark.createDataFrame(rows, schema), totals)
  }
}
