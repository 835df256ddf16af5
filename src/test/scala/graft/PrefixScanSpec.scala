package graft

import org.apache.spark.sql.functions._

import graft.core.PrefixScan

/** [[graft.core.PrefixScan.build]] keeps no state between calls: two
  * builds of one scan give equal running totals, and different inputs,
  * sort columns or weight sets give their own.
  */
class PrefixScanSpec extends SparkSpec {
  import spark.implicits._

  private def base = (1 to 100).map(i => (i, 1L)).toDF("v", "w")

  private def cum(df: org.apache.spark.sql.DataFrame, sortCol: String) =
    df.orderBy(sortCol).select("cum_w_below").as[Long].collect().toSeq

  test("exclusive: two builds of one scan give equal values") {
    val (a, ta) = PrefixScan.build(base, "v", Seq("w"), "psspec-rebuild")
    val (b, tb) = PrefixScan.build(base, "v", Seq("w"), "psspec-rebuild")
    assert(ta.toSeq == Seq(100L) && tb.toSeq == ta.toSeq)
    assert(cum(a, "v") == (0L until 100L))
    assert(cum(b, "v") == cum(a, "v"))
  }

  test("exclusive: different sort/weights/input build fresh scans") {
    val df = (1 to 50).map(i => (i, 51 - i, 2L)).toDF("x", "y", "w")
    val (a, ta) = PrefixScan.build(df, "x", Seq("w"), "psspec-fresh")
    val (b, tb) = PrefixScan.build(df, "y", Seq("w"), "psspec-fresh")
    assert(ta.toSeq == Seq(100L) && tb.toSeq == Seq(100L))
    // x ascends where y descends: the running totals run opposite ways
    assert(a.where(col("x") === 1).select("cum_w_below").as[Long].head() == 0L)
    assert(b.where(col("x") === 1).select("cum_w_below").as[Long].head() == 98L)
    val df2 = (1 to 60).map(i => (i, 1L)).toDF("v", "w")
    val (c, tc) = PrefixScan.build(df2, "v", Seq("w"), "psspec-fresh")
    assert(tc.head == 60L)
    assert(cum(c, "v") == (0L until 60L))
  }
}
