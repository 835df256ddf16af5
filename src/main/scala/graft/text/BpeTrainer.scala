package graft.text

import graft.core.Caches
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed byte-pair-encoding tokenizer TRAINING (Sennrich et al.
  * 2016) — k greedy merge rounds, not just the single-round pair
  * statistics of q200.
  *
  * Scale design — the classic trainer decomposition:
  *  1. the corpus compresses to DISTINCT WORDS + multiplicities first
  *     (one groupBy; the working set is vocabulary-sized from then on,
  *     never corpus-sized — at 100 TB the distinct-word table is the
  *     only thing the iteration touches);
  *  2. each round: weighted adjacent-pair counts (one exploded
  *     map-side-combined aggregate over the word table), a 1-ROW
  *     argmax collect (count desc, then (p1, p2) lexicographic — a
  *     total order, so training is deterministic), and a codegen'd
  *     HOF fold that applies the merge greedy-left-to-right per word;
  *  3. per-round state is persisted and the previous round released —
  *     lineage stays one-round deep, jobs stay vocabulary-sized.
  *
  * Pair counting counts every adjacent occurrence (overlapping, the
  * standard convention); merge application is non-overlapping greedy
  * left-to-right via the pop/push fold: if the accumulator's last
  * symbol is p1 and the next is p2, replace with p1+p2 (an "aaa" word
  * under merge (a,a) becomes [aa, a], not [aa, aa]).
  */
object BpeTrainer {

  final case class Merge(p1: String, p2: String, count: Long)

  final case class Trained(
      words: DataFrame, // (w, c, syms) final symbol state, persisted
      merges: Seq[Merge], // selected merges in order
      weightedSymbols: Seq[Long]) // total symbol count after each round

  /** Split a word into single-character symbols. */
  private[graft] def charSyms(w: Column): Column =
    filter(split(w, ""), x => x =!= "")

  private def adjacentPairs(syms: Column): Column =
    when(size(syms) >= 2,
      transform(sequence(lit(1), size(syms) - 1),
        i => struct(element_at(syms, i).as("p1"),
          element_at(syms, i + 1).as("p2"))))
      .otherwise(array().cast("array<struct<p1:string,p2:string>>"))

  /** Greedy left-to-right non-overlapping merge of (p1, p2) → p1+p2. */
  private[graft] def applyMerge(syms: Column, p1: String, p2: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, x) =>
      when(size(acc) > 0 && element_at(acc, -1) === lit(p1) && x === lit(p2),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(p1 + p2))))
        .otherwise(concat(acc, array(x))))

  /** Train k merges over the corpus text column. */
  def train(df: DataFrame, textCol: String, k: Int): Trained = {
    // each round persists its frame and releases the previous one, so
    // only the last round's frame is registered, after the loop
    var words = df
      .select(explode(TextOps.tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .withColumn("syms", charSyms(col("w")))
      .persist(Caches.level)
    val merges = scala.collection.mutable.ListBuffer.empty[Merge]
    val sizes = scala.collection.mutable.ListBuffer.empty[Long]
    var r = 0
    while (r < k) {
      val best = words
        .select(explode(adjacentPairs(col("syms"))).as("p"), col("c"))
        .groupBy(col("p.p1"), col("p.p2"))
        .agg(sum("c").as("cnt"))
        .orderBy(desc("cnt"), asc("p1"), asc("p2"))
        .limit(1).collect()
      if (best.isEmpty) { r = k } // degenerate corpus: nothing left to merge
      else {
        val m = Merge(best(0).getString(0), best(0).getString(1),
          best(0).getLong(2))
        merges += m
        val next = words
          .withColumn("syms", applyMerge(col("syms"), m.p1, m.p2))
          .persist(Caches.level)
        sizes += next.agg(sum(size(col("syms")).cast("long") * col("c")))
          .head().getLong(0) // materializes `next` before the release
        words.unpersist()
        words = next
        r += 1
      }
    }
    Caches.keep("text.bpeTrainer", words)
    Trained(words, merges.toList, sizes.toList)
  }
}
