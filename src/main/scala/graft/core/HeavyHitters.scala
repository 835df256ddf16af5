package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Exact distributed heavy hitters (frequency > n/k) with a
  * Misra–Gries candidate prune.
  *
  * Scale shape: the naive plan — `groupBy(item).count` then filter —
  * shuffles one partial count per DISTINCT item, which at 100 TB of a
  * high-cardinality key (URLs, user ids, n-grams) is itself a huge
  * shuffle for a tiny answer. Instead:
  *
  *  1. one map-only pass runs a Misra–Gries(k) summary per partition
  *     and emits only its ≤ k candidate keys. Any item with global
  *     frequency > n/k must exceed n_p/k in at least one partition
  *     (averaging argument), and MG(k) always retains items above its
  *     partition's n_p/k — so the union of per-partition candidates is
  *     a superset of every true heavy hitter;
  *  2. one aggregation pass recounts ONLY the candidates exactly
  *     (everything else collapses into a single overflow bucket, so
  *     the grand total n comes from the same pass), then filters by
  *     the exact threshold `cnt · k > n`.
  *
  * The candidate SET depends on arrival order inside each partition,
  * but the exact recount makes the final OUTPUT independent of it —
  * deterministic and oracle-checkable. Null items count toward n but
  * are never candidates.
  */
object HeavyHitters {

  /** Union of per-partition Misra–Gries(k) candidate keys. */
  def candidates(df: DataFrame, itemCol: String, k: Int): Array[String] = {
    require(k >= 2, s"heavy hitters needs k >= 2: $k")
    df.select(col(itemCol).cast("string"))
      .na.drop(Seq(itemCol))
      .rdd.mapPartitions { it =>
        val counters = mutable.LinkedHashMap.empty[String, Long]
        it.foreach { r =>
          val v = r.getString(0)
          counters.get(v) match {
            case Some(c) => counters.update(v, c + 1)
            case None if counters.size < k => counters.update(v, 1L)
            case None =>
              // decrement-all step: drop one occurrence of every
              // tracked key (and of the incoming one, uncounted)
              val dead = mutable.ArrayBuffer.empty[String]
              counters.foreach { case (key, c) =>
                if (c == 1L) dead += key else counters.update(key, c - 1)
              }
              dead.foreach(counters.remove)
          }
        }
        counters.keysIterator
      }
      .distinct().collect().sorted
  }

  /** Exact heavy hitters: (item, cnt, share) for items with
    * cnt · k > n, ordered by item.
    */
  def exact(df: DataFrame, itemCol: String, k: Int): DataFrame = {
    val cand = candidates(df, itemCol, k).toSeq
    val bucket = when(col(itemCol).cast("string").isin(cand: _*),
      col(itemCol).cast("string"))
    val counts = Caches.keep(s"heavyHitters.$itemCol", df.groupBy(bucket.as("item"))
      .agg(count(lit(1)).as("cnt")))
    val n = counts.agg(sum("cnt")).head().getLong(0)
    counts.where(col("item").isNotNull && col("cnt") * k > n)
      .select(col("item"), col("cnt"),
        round(col("cnt").cast("double") / lit(n.toDouble), 6).as("share"))
      .orderBy("item")
  }
}
