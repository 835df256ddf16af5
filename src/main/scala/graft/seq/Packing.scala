package graft.seq

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Sequence packing for LLM pretraining dataloaders: documents are
  * concatenated in a deterministic order into one token stream, which
  * is cut every `budget` tokens; each document is assigned to the pack
  * (training sequence) where it STARTS. This is concat-and-chunk
  * packing — the standard way pretraining corpora are batched — and
  * its core is a GLOBAL exclusive running sum of token counts, which
  * Spark's window functions can only express as a single-partition
  * window (a scale-killer).
  *
  * [[exclusivePrefixSum]] computes it with the shared two-phase
  * distributed scan ([[graft.core.PrefixScan]] — the same primitive
  * behind the exact ROC/KS metrics): every stage is a bounded shuffle
  * of (key, weight) pairs, document bodies never move, and the result
  * is layout-independent. At 100 TB the scan moves ~16 bytes per
  * document — the packing of a trillion-token corpus is two narrow
  * shuffles.
  *
  * The reference has no packing operator (it windows telemetry rows,
  * `lib/utils.py` sequence building); this is part of the LLM-pipeline
  * family the engine adds on top of the reference's surface.
  */
object Packing {

  /** (key, weight, cum_before) with cum_before = Σ weights of all
    * strictly-smaller keys — an EXCLUSIVE prefix sum in `keyCol` order,
    * no single-partition window anywhere. Keys must be unique non-null
    * longs (a duplicate key would make the intra-key order, and so the
    * scan, nondeterministic — callers order by a rowid/doc_id);
    * weights must be non-null longs ≥ 0.
    */
  def exclusivePrefixSum(df: DataFrame, keyCol: String,
                         weightCol: String): DataFrame = {
    val slim = df.select(col(keyCol).cast(LongType).as("key"),
      col(weightCol).cast(LongType).as("weight"))
    val (scanned, _) = graft.core.PrefixScan.build(
      slim, "key", Seq("weight"), "packing.prefixSum")
    scanned.withColumnRenamed("cum_weight_below", "cum_before")
  }

  /** Assign each document its training-sequence id:
    * `pack_id = cum_before div budget` (the chunk its first token lands
    * in). Returns (key, weight, cum_before, pack_id).
    */
  def packSequences(df: DataFrame, keyCol: String, weightCol: String,
                    budget: Long): DataFrame = {
    require(budget > 0, s"packSequences needs a positive budget: $budget")
    exclusivePrefixSum(df, keyCol, weightCol)
      .withColumn("pack_id", expr(s"cum_before div ${budget}L"))
  }

  /** Per-pack summary: how many documents start in each pack and how
    * many tokens they contribute (a pack's `doc_tokens` can exceed the
    * budget — its tail spills into the next chunk, the defining
    * property of concat-and-chunk).
    */
  def packStats(df: DataFrame, keyCol: String, weightCol: String,
                budget: Long): DataFrame =
    packSequences(df, keyCol, weightCol, budget)
      .groupBy("pack_id")
      .agg(count(lit(1)).as("n_docs"), sum("weight").as("doc_tokens"))

  /** Per-group concat-and-chunk packing — the grouped form used when
    * training sequences must not mix groups (monolingual packs, one
    * source per sequence): the token stream restarts per group, so the
    * running sum is an ordinary window PARTITIONED BY the group —
    * parallel across groups, no global scan needed (contrast
    * [[packSequences]], whose single global stream forces the
    * two-phase prefix scan). Keys must be unique within a group.
    * Returns (group, key, weight, cum_before, pack_id).
    */
  def packSequencesByGroup(df: DataFrame, groupCol: String, keyCol: String,
                           weightCol: String, budget: Long): DataFrame = {
    require(budget > 0, s"packSequencesByGroup needs a positive budget: $budget")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("group").orderBy("key")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    df.select(col(groupCol).as("group"), col(keyCol).cast(LongType).as("key"),
        col(weightCol).cast(LongType).as("weight"))
      .withColumn("cum_before", coalesce(sum("weight").over(w), lit(0L)))
      .withColumn("pack_id", expr(s"cum_before div ${budget}L"))
  }

  /** Materialized pack contents — the actual training sequences:
    * each pack's member documents joined back by key and concatenated
    * in key order. The per-pack collect is bounded by the pack's
    * capacity (a pack holds at most budget/min_doc_tokens + 1
    * documents), so no executor ever gathers more than one training
    * sequence's worth of text — the safe-by-construction version of
    * "collect_list the corpus". Returns (pack_id, n_docs, doc_tokens,
    * text) with text = members joined by a single space.
    */
  def packTexts(df: DataFrame, keyCol: String, weightCol: String,
                textCol: String, budget: Long): DataFrame = {
    val packs = packSequences(df, keyCol, weightCol, budget)
    val withText = packs.join(
      df.select(col(keyCol).cast(LongType).as("key"),
        col(textCol).as("__text")), Seq("key"))
    withText.groupBy("pack_id")
      .agg(count(lit(1)).as("n_docs"), sum("weight").as("doc_tokens"),
        array_join(transform(
          array_sort(collect_list(struct(col("key"), col("__text")))),
          s => s.getField("__text")), " ").as("text"))
  }

  /** Per-(group, pack) summary of [[packSequencesByGroup]]. */
  def packStatsByGroup(df: DataFrame, groupCol: String, keyCol: String,
                       weightCol: String, budget: Long): DataFrame =
    packSequencesByGroup(df, groupCol, keyCol, weightCol, budget)
      .groupBy("group", "pack_id")
      .agg(count(lit(1)).as("n_docs"), sum("weight").as("doc_tokens"))

  /** Length-bucketed batching stats — the inference-serving twin of
    * packing: bucket documents by token count (thresholds define
    * half-open ranges), and per bucket report the padding waste of
    * batching to the bucket's max length (`n·max − Σtokens`). High
    * waste in a bucket means its range is too wide — the statistic
    * that tunes dynamic-batching bucket boundaries. One
    * map-side-combinable aggregate; bucket index is a codegen'd
    * comparison sum (same shape as the PSI binIndex).
    */
  def lengthBuckets(df: DataFrame, weightCol: String,
                    thresholds: Seq[Long]): DataFrame = {
    require(thresholds.nonEmpty && thresholds == thresholds.sorted,
      s"lengthBuckets needs ascending thresholds: $thresholds")
    val w = col(weightCol).cast(LongType)
    val bucket = thresholds.map(t => when(w >= t, 1L).otherwise(0L))
      .reduce(_ + _)
    df.select(bucket.as("bucket"), w.as("w"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum("w").as("sum_tokens"),
        max("w").as("max_tokens"),
        (count(lit(1)) * max("w") - sum("w")).as("padding_waste"))
  }

  /** DuckDB twin: the same packing as a cumulative window (fine at
    * oracle scale; the point of the Spark side is avoiding exactly
    * this global window).
    */
  object Sql {
    def packStats(rel: String, key: String, weight: String,
                  budget: Long): String =
      s"""WITH c AS (SELECT $key AS key, $weight AS weight,
         |   CAST(coalesce(sum($weight) OVER (ORDER BY $key ROWS UNBOUNDED PRECEDING), 0) - $weight AS BIGINT) AS cum_before
         |  FROM $rel)
         | SELECT cum_before // $budget AS pack_id, count(*) AS n_docs,
         |   CAST(sum(weight) AS BIGINT) AS doc_tokens
         | FROM c GROUP BY 1""".stripMargin.replaceAll("\n", " ")

    def lengthBuckets(rel: String, weight: String,
                      thresholds: Seq[Long]): String = {
      val bucket = thresholds
        .map(t => s"(CASE WHEN CAST($weight AS BIGINT) >= $t THEN 1 ELSE 0 END)")
        .mkString("(", " + ", ")")
      s"""SELECT CAST($bucket AS BIGINT) AS bucket, count(*) AS n_docs,
         | CAST(sum(CAST($weight AS BIGINT)) AS BIGINT) AS sum_tokens,
         | max(CAST($weight AS BIGINT)) AS max_tokens,
         | CAST(count(*) * max(CAST($weight AS BIGINT)) - sum(CAST($weight AS BIGINT)) AS BIGINT) AS padding_waste
         | FROM $rel GROUP BY 1""".stripMargin.replaceAll("\n", " ")
    }
  }
}
