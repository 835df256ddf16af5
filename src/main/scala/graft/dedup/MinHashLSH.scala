package graft.dedup

import graft.core.Caches
import graft.text.TextOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MinHash signatures + banded LSH near-duplicate detection:
  * shingle → k min-hashes → b bands of r rows → band-key bucket join →
  * exact-Jaccard verification of candidates only.
  *
  * This is the 100 TB-scale path for Jaccard dedup: the only shuffle of
  * size O(corpus) carries (band_idx, band_key, id) triples — b small
  * integers per document — and the quadratic verification join runs only
  * inside LSH buckets, whose expected size is O(1) for a well-tuned
  * (b, r). The all-pairs [[Dedup.jaccardPairs]] is the correctness
  * baseline at test scale.
  *
  * Hash family: h_i(s) = ((2i+1)·H(s) + 7919·i + 12345) mod P over the
  * shingle's polynomial hash H (oracle-parity, see [[TextOps.strHash]]);
  * all arithmetic stays < 2^36, overflow-safe in longs. Band key is a
  * rolling hash of the band's signature slice.
  */
object MinHashLSH {

  val P: Long = TextOps.P

  private def hashAt(i: Column, h: Column): Column =
    ((lit(2L) * i + lit(1L)) * h + lit(7919L) * i + lit(12345L)) % lit(P)

  /** k-wide MinHash signature from a shingle-array column, via the
    * native codegen kernel ([[graft.sim.MinHashSigExpr]]): each shingle
    * hashed exactly once, k mins updated in one generated loop. Null
    * for empty shingle sets.
    */
  def signatureFromShingles(sh: Column, k: Int): Column =
    graft.sim.GraftFunctions.minhashSig(sh, k)

  /** Higher-order-function form of [[signatureFromShingles]] (slow
    * path) — kept for parity testing.
    * Single-pass fold: the naive `transform(0..k-1, i ->
    * array_min(transform(shingles, hash)))` re-evaluates every shingle
    * hash k times per row (Catalyst inlines the shared subtree into
    * each lambda), a 16× slowdown measured at sf0.1.
    */
  def signatureFromShinglesHof(sh: Column, k: Int): Column = {
    val hs = transform(sh, s => TextOps.strHashHof(s))
    when(size(sh) > 0,
      aggregate(hs,
        transform(sequence(lit(0), lit(k - 1)), _ => lit(P)),
        (acc, h) => zip_with(acc, sequence(lit(0L), lit(k - 1L)),
          (m, i) => least(m, hashAt(i, h)))))
      .otherwise(lit(null))
  }

  def signature(text: Column, n: Int, k: Int): Column =
    signatureFromShingles(Dedup.shingles(text, n), k)

  /** Band keys (length-`bands` array) from a signature array: rolling
    * hash of each r-wide signature slice, computed in one expression.
    */
  def bandKeysFromSig(sig: Column, k: Int, bands: Int): Column = {
    require(k % bands == 0, s"numHashes $k must divide into $bands bands")
    val r = k / bands
    transform(sequence(lit(0), lit(bands - 1)),
      j => aggregate(slice(sig, j * lit(r) + lit(1), lit(r)),
        lit(0L), (acc, v) => (acc * lit(TextOps.RollBase) + v) % lit(P)))
  }

  /** (id, band_idx, band_key) LSH bucket coordinates. */
  def bandKeys(df: DataFrame, idCol: String, textCol: String,
               n: Int, k: Int, bands: Int): DataFrame = {
    val sh = df.select(col(idCol).cast("long").as("id"),
      Dedup.shingles(col(textCol), n).as("sh"))
    bandKeysFromShingleFrame(sh, k, bands)
  }

  private def bandKeysFromShingleFrame(sh: DataFrame, k: Int,
                                       bands: Int): DataFrame =
    sh.where(size(col("sh")) > 0)
      .select(col("id"), signatureFromShingles(col("sh"), k).as("sig"))
      .select(col("id"), posexplode(bandKeysFromSig(col("sig"), k, bands)))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_key")

  /** Distinct candidate pairs (a < b) sharing at least one LSH bucket. */
  def candidatePairs(df: DataFrame, idCol: String, textCol: String,
                     n: Int, k: Int, bands: Int): DataFrame = {
    val bk = Caches.keep("minhash.candidatePairs",
      bandKeys(df, idCol, textCol, n, k, bands))
    selfJoinBuckets(bk)
  }

  private def selfJoinBuckets(bk: DataFrame): DataFrame =
    bk.as("x").join(bk.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
        col("x.band_key") === col("y.band_key") &&
        col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"))
      .distinct()

  /** LSH candidates verified with exact Jaccard over distinct shingle
    * sets (array_intersect on the two docs' shingle arrays — O(bucket²)
    * pairs only), filtered to ≥ threshold.
    *
    * The shingle frame is persisted once and reused by the signature
    * side and both verification sides of the join — without it a
    * self-join re-derives the whole upstream plan per side. At 100 TB
    * persist only (id, bands) and recompute shingles in the verify join
    * if memory-bound; both frames spill to disk here.
    */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, k: Int = 16, bands: Int = 4,
                   threshold: Double = 0.5): DataFrame = {
    val sh = Caches.keep("minhash.nearDupPairs",
      df.select(col(idCol).cast("long").as("id"),
          Dedup.shingles(col(textCol), n).as("sh"))
        .where(size(col("sh")) > 0))
    val bk = Caches.keep("minhash.nearDupPairs", bandKeysFromShingleFrame(sh, k, bands))
    val cand = selfJoinBuckets(bk)
    val out = cand
      .join(sh.select(col("id").as("a"), col("sh").as("sha")), "a")
      .join(sh.select(col("id").as("b"), col("sh").as("shb")), "b")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))).cast("long"))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sha")) + size(col("shb")) - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("inter"), round(col("jaccard"), 6).as("jaccard"))
    out
  }

  /** Estimator-quality audit: for every LSH candidate pair, the
    * signature-estimated Jaccard (fraction of equal MinHash
    * components — the unbiased estimator the banding math is built on)
    * next to the exact shingle-set Jaccard. The per-round measurement
    * that tells an operator whether k is large enough for the corpus's
    * similarity profile BEFORE trusting the banded dedup at scale;
    * everything is deterministic (the fixed hash family), so the whole
    * audit — estimates included — is oracle-checkable, not just
    * spot-sampled.
    */
  def estimateAudit(df: DataFrame, idCol: String, textCol: String,
                    n: Int = 3, k: Int = 16, bands: Int = 4): DataFrame = {
    val sh = Caches.keep("minhash.estimateAudit",
      df.select(col(idCol).cast("long").as("id"),
          Dedup.shingles(col(textCol), n).as("sh"))
        .where(size(col("sh")) > 0))
    val sg = Caches.keep("minhash.estimateAudit", sh.select(col("id"), col("sh"),
        signatureFromShingles(col("sh"), k).as("sig")))
    val bk = sg.select(col("id"),
        posexplode(bandKeysFromSig(col("sig"), k, bands)))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_key")
    val out = selfJoinBuckets(bk)
      .join(sg.select(col("id").as("a"), col("sh").as("sha"),
        col("sig").as("siga")), "a")
      .join(sg.select(col("id").as("b"), col("sh").as("shb"),
        col("sig").as("sigb")), "b")
      .withColumn("n_eq", size(filter(
        zip_with(col("siga"), col("sigb"), (x, y) => x === y),
        p => p)).cast("long"))
      .withColumn("inter",
        size(array_intersect(col("sha"), col("shb"))).cast("long"))
      .select(col("a"), col("b"), col("n_eq"),
        round(col("n_eq").cast("double") / k, 6).as("est_jaccard"),
        round(col("inter").cast("double") /
          (size(col("sha")) + size(col("shb")) - col("inter")), 6).as("jaccard"))
    out
  }

  /** DuckDB oracle twins (same hash family, same banding). */
  object Sql {
    def signature(x: String, n: Int, k: Int): String =
      signatureFromShingles(Dedup.Sql.shingles(x, n), k)

    def signatureFromShingles(shExpr: String, k: Int): String = {
      val hs = s"list_transform($shExpr, s -> ${TextOps.Sql.strHash("s")})"
      s"list_transform(generate_series(0, ${k - 1}), i -> list_min(list_transform($hs, h -> ((2*i+1)*h + 7919*i + 12345) % $P)))"
    }

    /** Per-document list of band keys (index = band_idx, 0-based). */
    def bandKeyList(sigExpr: String, k: Int, bands: Int): String = {
      val r = k / bands
      s"list_transform(generate_series(0, ${bands - 1}), j -> list_reduce(list_prepend(0::BIGINT, ($sigExpr)[j*$r+1 : j*$r+$r]), (acc, v) -> (acc * ${TextOps.RollBase} + v) % $P))"
    }
  }
}
