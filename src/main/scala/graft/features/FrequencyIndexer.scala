package graft.features

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Caches

/** Categorical → index by descending frequency — parity with spark.ml
  * `StringIndexer` with `handleInvalid="keep"` as fitted by the reference
  * (`lib/utils.py:205-207`).
  *
  * Fit: `groupBy(col).count()` (map-side combine keeps the shuffle tiny —
  * one row per distinct label), order by (count desc, label asc) — the
  * exact StringIndexer tie-break — and assign 0-based indexes.
  * Transform: broadcast hash join against the label table (labels are
  * small by construction: they fit the StringIndexer model driver-side
  * in the reference too). Unseen labels get index = numLabels ("keep").
  */
object FrequencyIndexer {
  final case class Model(colName: String, labels: DataFrame, numLabels: Long) {
    def transform(df: DataFrame, outputCol: String): DataFrame = {
      val joined = df.join(
        broadcast(labels.withColumnRenamed("label", colName)),
        Seq(colName), "left")
      joined.withColumn(outputCol,
        coalesce(col("label_index"), lit(numLabels)).cast("double"))
        .drop("label_index")
    }
  }

  def fit(df: DataFrame, colName: String): Model = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(desc("cnt"), asc("label"))
    val labels = df.filter(col(colName).isNotNull)
      .groupBy(col(colName).as("label")).agg(count(lit(1)).as("cnt"))
      .withColumn("label_index", row_number().over(w).cast("long") - 1)
      .drop("cnt")
    val cached = Caches.keep("features.frequencyIndexer", labels)
    Model(colName, cached, cached.count())
  }
}
