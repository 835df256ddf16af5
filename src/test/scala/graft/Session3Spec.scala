package graft

import org.apache.spark.sql.functions._
import graft.core.{LabelProp, PrefixScan}

/** Round-10 session-3 operators: label propagation, the prefix-scan
  * energy-distance identity, and the JL sign matrix.
  */
class Session3Spec extends SparkSpec {

  test("LabelProp finds the two cliques and tie-breaks deterministically") {
    import spark.implicits._
    // two triangles bridged by one edge: communities must converge to
    // the min label of each triangle; the bridge must not merge them
    val edges = Seq(
      ("a", "b"), ("b", "c"), ("a", "c"),
      ("x", "y"), ("y", "z"), ("x", "z"),
      ("c", "x")).toDF("s", "d")
    val out = LabelProp.run(edges, "s", "d", rounds = 4)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("a") == "a" && out("b") == "a")
    assert(out.keySet == Set("a", "b", "c", "x", "y", "z"))
    // sync LPA with (max count, min label) is a pure function of the
    // previous round: re-running yields the identical assignment
    val again = LabelProp.run(edges, "s", "d", rounds = 4)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out == again)
    // the two triangles never share a label (one bridge edge cannot
    // outvote two in-clique neighbors)
    assert(Set(out("x"), out("y"), out("z")).intersect(
      Set(out("a"), out("b"))).isEmpty)
  }

  test("prefix-scan pairwise |x-y| sums match the O(n^2) brute force") {
    import spark.implicits._
    // deterministic pseudo-random integer values in two groups
    val rows = (1 to 200).map { i =>
      val v = (i * 7919L) % 997L
      (i.toLong, if (i % 3 == 0) "A" else "B", v)
    }
    val df = rows.toDF("id", "g", "v")
      .withColumn("key", col("v") * 1000L + col("id"))
      .withColumn("ca", when(col("g") === "A", 1L).otherwise(0L))
      .withColumn("sa", when(col("g") === "A", col("v")).otherwise(0L))
      .withColumn("cb", when(col("g") === "B", 1L).otherwise(0L))
      .withColumn("sb", when(col("g") === "B", col("v")).otherwise(0L))
    val (sc, _) = PrefixScan.build(df, "key",
      Seq("ca", "sa", "cb", "sb"), "test.energy")
    val r = sc.select(col("ca"), col("cb"),
        (col("v") * col("cum_ca_below") - col("cum_sa_below")).as("da"),
        (col("v") * col("cum_cb_below") - col("cum_sb_below")).as("db"))
      .agg(
        sum(when(col("ca") === 1, col("db")).otherwise(0L)
          + when(col("cb") === 1, col("da")).otherwise(0L)).as("sxy"),
        sum(when(col("ca") === 1, col("da")).otherwise(0L)).as("sxx"),
        sum(when(col("cb") === 1, col("db")).otherwise(0L)).as("syy"))
      .head()
    val a = rows.filter(_._2 == "A").map(_._3)
    val b = rows.filter(_._2 == "B").map(_._3)
    val sxy = (for (x <- a; y <- b) yield math.abs(x - y)).sum
    val sxx = (for (i <- a.indices; j <- i + 1 until a.length)
      yield math.abs(a(i) - a(j))).sum
    val syy = (for (i <- b.indices; j <- i + 1 until b.length)
      yield math.abs(b(i) - b(j))).sum
    assert(r.getLong(0) == sxy, s"cross-pair sum ${r.getLong(0)} != $sxy")
    assert(r.getLong(1) == sxx, s"within-A sum ${r.getLong(1)} != $sxx")
    assert(r.getLong(2) == syy, s"within-B sum ${r.getLong(2)} != $syy")
  }

  test("JL quadratic-residue sign matrix has full rank and balanced columns") {
    // mirrors the q264 sign formula; a structured parity (linear, or
    // multiply-mod) fails one of these two checks (rank 1 / column
    // anticorrelation) — this pins the formula against regressions
    val s = Array.tabulate(64, 16) { (i0, j0) =>
      val x = (i0 + 1) * 131L + (j0 + 1) * 137L
      if ((x * x) % 1000003L % 2L == 0L) 1.0 else -1.0
    }
    // Gaussian elimination rank of the 16x64 (columns-as-rows) matrix
    val m = Array.tabulate(16, 64)((j, i) => s(i)(j))
    var rank = 0
    var col = 0
    while (col < 64 && rank < 16) {
      val pivot = (rank until 16).find(r => math.abs(m(r)(col)) > 1e-9)
      pivot.foreach { pr =>
        val t = m(rank); m(rank) = m(pr); m(pr) = t
        for (r <- rank + 1 until 16) {
          val f = m(r)(col) / m(rank)(col)
          for (c <- col until 64) m(r)(c) -= f * m(rank)(c)
        }
        rank += 1
      }
      col += 1
    }
    assert(rank == 16, s"sign matrix rank $rank != 16")
    // balanced: every column within ±16 of zero-sum (parity balance)
    (0 until 16).foreach { j =>
      val cs = (0 until 64).map(i => s(i)(j)).sum
      assert(math.abs(cs) <= 16.0, s"column $j unbalanced: $cs")
    }
    // mean |pairwise column correlation| stays low (the multiply-mod
    // hash measured 0.47-0.50 here; the quadratic residue 0.085)
    val corrs = for (j1 <- 0 until 16; j2 <- j1 + 1 until 16) yield {
      val d = (0 until 64).map(i => s(i)(j1) * s(i)(j2)).sum / 64.0
      math.abs(d)
    }
    val meanAbs = corrs.sum / corrs.length
    assert(meanAbs < 0.2, s"mean |column corr| $meanAbs >= 0.2")
  }
}
