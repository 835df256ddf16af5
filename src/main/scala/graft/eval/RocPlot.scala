package graft.eval

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ROC plot ARTIFACT rendering — the reference emits matplotlib PNGs
  * of its ROC curves (`lib/utils.py:117-151`, the `plots/` PNGs); the
  * engine-side analog renders the [[Metrics.rocCurve]] table to a
  * self-contained SVG string with zero library dependencies (pure
  * string building), so the artifact pipeline works in any deployment.
  *
  * Scale shape: the curve table is one row per DISTINCT score — already
  * reduced by the distributed prefix scan — and is downsampled here to
  * ≤ `maxPoints` evenly-spaced points BEFORE the driver collect, so the
  * render cost is bounded by the plot's resolution, never the corpus.
  * (A 4K-wide plot cannot show more than a few thousand distinct x
  * positions; collecting millions of curve points would be waste.)
  */
object RocPlot {

  /** Evenly-spaced downsample of a curve frame to ≤ maxPoints rows
    * (keeps first and last by construction: indexes 0, step, 2·step, …
    * plus the final index).
    */
  def downsample(curve: DataFrame, orderCol: String,
                 maxPoints: Int = 512): DataFrame = {
    require(maxPoints >= 2, s"need at least 2 points: $maxPoints")
    // total order: orderCol first, then every remaining column — ROC
    // curves carry repeated fpr values (vertical segments), and a sort
    // on fpr alone would leave the index assignment (and so WHICH rows
    // survive the downsample) partition-order-dependent
    val sortCols = (orderCol +: curve.columns.filterNot(_ == orderCol).toSeq)
      .map(col)
    val n = curve.count()
    if (n <= maxPoints) curve.orderBy(sortCols: _*)
    else {
      val step = (n - 1).toDouble / (maxPoints - 1).toDouble
      // rank via the distributed prefix scan shape: zipWithIndex on the
      // sorted frame (no window needed for a plain ordinal)
      val spark = curve.sparkSession
      val schema = curve.schema.add("_i", "long")
      val indexed = spark.createDataFrame(
        curve.orderBy(sortCols: _*).rdd.zipWithIndex.map { case (r, i) =>
          org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i)
        }, schema)
      val keep = (0 until maxPoints).map(j => math.round(j * step)).distinct
      indexed.where(col("_i").isin(keep: _*)).drop("_i")
        .orderBy(sortCols: _*)
    }
  }

  /** Render (fpr, tpr) rows to a standalone SVG: axes, diagonal
    * chance line, the ROC polyline, and an AUC caption. Deterministic
    * output for identical input (sorted by fpr, then tpr).
    */
  def rocSvg(curve: DataFrame, auc: Double, width: Int = 480,
             height: Int = 480, maxPoints: Int = 512): String = {
    val pts = downsample(curve.select("fpr", "tpr"), "fpr", maxPoints)
      .collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
      .sortBy(p => (p._1, p._2))
    require(pts.nonEmpty, "empty ROC curve")
    val m = 40.0 // margin
    val w = width - 2 * m
    val h = height - 2 * m
    def x(fpr: Double) = m + fpr * w
    def y(tpr: Double) = height - m - tpr * h
    def f(v: Double) = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    // close the polyline at the conventional endpoints (0,0) and (1,1)
    val path = ((1.0, 1.0) +: pts :+ ((0.0, 0.0)))
      .sortBy(p => (p._1, p._2))
      .map { case (fp, tp) => s"${f(x(fp))},${f(y(tp))}" }.mkString(" ")
    s"""<svg xmlns="http://www.w3.org/2000/svg" width="$width" height="$height" viewBox="0 0 $width $height">
       |<rect width="$width" height="$height" fill="white"/>
       |<line x1="${f(m)}" y1="${f(height - m)}" x2="${f(width - m)}" y2="${f(height - m)}" stroke="black"/>
       |<line x1="${f(m)}" y1="${f(m)}" x2="${f(m)}" y2="${f(height - m)}" stroke="black"/>
       |<line x1="${f(m)}" y1="${f(height - m)}" x2="${f(width - m)}" y2="${f(m)}" stroke="gray" stroke-dasharray="4"/>
       |<polyline points="$path" fill="none" stroke="#1f77b4" stroke-width="2"/>
       |<text x="${f(width / 2.0)}" y="${f(height - 8)}" text-anchor="middle" font-size="12">False positive rate</text>
       |<text x="12" y="${f(height / 2.0)}" text-anchor="middle" font-size="12" transform="rotate(-90 12 ${f(height / 2.0)})">True positive rate</text>
       |<text x="${f(width - m)}" y="${f(m - 8)}" text-anchor="end" font-size="12">AUC = ${"%.4f".formatLocal(java.util.Locale.ROOT, auc)}</text>
       |</svg>""".stripMargin
  }

  /** Write the artifact file (the reference's `plots/` ROC PNG analog,
    * `app/AE_model.py:294-303`). */
  def writeRocSvg(curve: DataFrame, auc: Double, path: String,
                  maxPoints: Int = 512): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      rocSvg(curve, auc, maxPoints = maxPoints))
}
