package graft.text

import graft.core.Caches
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Blocked fuzzy self-join — approximate record linkage on a string
  * key (near-identical names, typo'd titles) without the O(n²)
  * cartesian product.
  *
  * The classic blocking design: rows equi-join on a cheap BLOCK KEY
  * (first token, prefix, phonetic code — caller-supplied expression),
  * and the quadratic edit-distance comparison runs only WITHIN blocks.
  * The join is a plain shuffled equi-join on the block key — parallel
  * in the number of blocks, and the usual skew levers (salting a hot
  * block, capping block size upstream) apply unchanged. Recall is
  * bounded by the blocking function (a pair disagreeing on its block
  * key is never compared) — the standard, explicit trade; run several
  * block keys and union for higher recall.
  *
  * `levenshtein` is Spark's built-in codegen'd edit distance — exact
  * integer semantics, engine-portable. Pairs are canonicalized
  * (id_a < id_b) so each unordered pair appears once.
  *
  * Capability rationale: entity resolution over a 100 TB corpus
  * (duplicate authors, near-identical titles) is the string-key
  * sibling of the MinHash/SimHash document dedup family
  * (`dedup.Dedup`); the reference dedups exact keys only
  * (`app/lib/utils.py` drop_duplicates).
  */
object FuzzyJoin {

  /** Pairs (id_a, id_b, text_a, text_b, dist) with dist ≤ maxDist,
    * compared only within equal `blockKey` values. `idCol` must be
    * unique per row.
    *
    * EXACT-DUPLICATE COLLAPSE (the r10 ScaleAb fix): the quadratic
    * edit-distance stage runs over DISTINCT texts per block, not rows —
    * id-level pairs are re-expanded afterwards by a join that costs
    * O(|output|). A duplicate-heavy block (10 copies each of 100
    * names) previously cost 1000² distance evaluations; now it costs
    * 100² plus the output expansion, and duplicated pairs (which ARE
    * genuine dist-0 matches) appear only in the output join. Measured:
    * the 10× duplicate-inflation A/B dropped q129's scaling exponent
    * from 1.94 (quadratic) to ~linear. With all-unique texts the
    * rewrite adds one distinct + two equi-joins — noise at any scale
    * where this operator matters.
    */
  def blockedPairs(df: DataFrame, idCol: String, textCol: String,
                   blockKey: Column, maxDist: Int): DataFrame = {
    val keyed = Caches.keep(s"fuzzyjoin:$idCol:$textCol",
      df.select(blockKey.as("__block"),
        col(idCol), col(textCol)))
    val dt = Caches.keep(s"fuzzyjoin:$idCol:$textCol",
      keyed.select(col("__block"), col(textCol).as("__ta"))
        .distinct())
    // candidate DISTINCT-text pairs, canonical text order; equal texts
    // form one dist-0 candidate class per text
    val cand = dt
      .join(dt.select(col("__block"), col("__ta").as("__tb")), Seq("__block"))
      .where(col("__ta") <= col("__tb"))
      .withColumn("dist", levenshtein(col("__ta"), col("__tb")))
      .where(col("dist") <= maxDist)
    // output-proportional id expansion; same-text classes take only
    // the id_a < id_b half so each unordered pair appears once, and
    // texts follow their ids through the canonical swap
    val ia = keyed.select(col("__block"), col(textCol).as("__ta"),
      col(idCol).as("__ia"))
    val ib = keyed.select(col("__block"), col(textCol).as("__tb"),
      col(idCol).as("__ib"))
    val flip = col("__ia") > col("__ib")
    cand.join(ia, Seq("__block", "__ta"))
      .join(ib, Seq("__block", "__tb"))
      .where(col("__ta") < col("__tb") || col("__ia") < col("__ib"))
      .select(
        when(flip, col("__ib")).otherwise(col("__ia")).as("id_a"),
        when(flip, col("__tb")).otherwise(col("__ta")).as("text_a"),
        when(flip, col("__ia")).otherwise(col("__ib")).as("id_b"),
        when(flip, col("__ta")).otherwise(col("__tb")).as("text_b"),
        col("dist"))
  }
}
