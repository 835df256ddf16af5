package graft.score

import graft.core.{Caches, Quantiles, Stats}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Model-free anomaly scoring: mean |z| over feature columns, thresholded
  * at a train-quantile — the fully-SQL-expressible distillation of the
  * reference's score→quantile-threshold→flag flow
  * (`app/AE_model.py:194-254`: reconstruction error replaced by |z|;
  * threshold = p95 of scores as at `app/AE_model.py:197`).
  *
  * Plan shape at scale: fit (μ,σ) = one agg job; scoring = pure column
  * arithmetic (codegen, no shuffle); threshold = one quantile agg over
  * the scored frame; flagging = a literal comparison. Two passes total
  * over the data, both embarrassingly parallel. The scored pass is
  * cached between threshold and flag when the caller keeps the frame.
  */
object ZScoreAnomaly {

  /** |(x−μ)/σ| averaged over `cols`, appended as `scoreCol`. σ=0 or
    * null features contribute 0 (null-safe: missing value ⇒ no evidence).
    */
  def score(df: DataFrame, cols: Seq[String],
            stats: Map[String, (Double, Double)],
            scoreCol: String = "anomaly_score"): DataFrame = {
    val terms: Seq[Column] = cols.map { c =>
      val (mu, sigma) = stats(c)
      if (sigma == 0.0 || sigma.isNaN) lit(0.0)
      else coalesce(abs((col(c).cast(DoubleType) - lit(mu)) / lit(sigma)), lit(0.0))
    }
    val total = terms.reduce(_ + _)
    df.withColumn(scoreCol, total / lit(cols.size.toDouble))
  }

  def fitStats(df: DataFrame, cols: Seq[String]): Map[String, (Double, Double)] = {
    val aggs = cols.flatMap { name =>
      val d = col(name).cast(DoubleType)
      Seq(Stats.dmean(d).as(s"${name}__mu"), Stats.dstddevSamp(d).as(s"${name}__sigma"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    cols.zipWithIndex.map { case (c, i) =>
      c -> (row.getDouble(2 * i), row.getDouble(2 * i + 1))
    }.toMap
  }

  /** End-to-end: score, threshold at quantile p of the scores, flag.
    * The scored frame is cached across the threshold pass and the
    * caller's flag/filter pass (scoring would otherwise re-run) and
    * registered with [[graft.core.Caches]] so it is swept by the next
    * operator rather than pinned for the session. `keep` prunes the
    * cached frame to the columns the caller needs downstream (plus the
    * score) — at scale, caching a wide frame to read three columns
    * multiplies the cached bytes for nothing; the default keeps every
    * column.
    */
  def detect(df: DataFrame, cols: Seq[String], p: Double = 0.95,
             scoreCol: String = "anomaly_score",
             flagCol: String = "is_anomaly",
             keep: Seq[String] = Nil): DataFrame = {
    val full = score(df, cols, fitStats(df, cols), scoreCol)
    val slim = if (keep.isEmpty) full
      else full.select((keep.filterNot(_ == scoreCol) :+ scoreCol).map(col): _*)
    val scored = Caches.keep("zscore.detect", slim)
    val thr = Quantiles.exactQuantiles(scored, scoreCol, Seq(p)).head
    scored.withColumn(flagCol, col(scoreCol) > lit(thr))
  }
}
