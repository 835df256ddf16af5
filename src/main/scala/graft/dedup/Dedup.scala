package graft.dedup

import graft.core.Caches
import graft.sim.VectorMath
import graft.text.TextOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-corpus curation: exact
  * (content-hash groupBy), n-gram Jaccard near-dup, and embedding-cosine
  * near-dup. MinHash/LSH and SimHash live in their own files.
  *
  * Scale design (100 TB corpus):
  *  - exact dedup shuffles only (hash, id) pairs — never the document
  *    bodies; the groupBy is a map-side-combinable count.
  *  - the quadratic shingle self-join here is the *verification* kernel;
  *    at scale candidates come from [[MinHashLSH]] buckets and this join
  *    runs per-bucket. `maxShingleDocFreq` prunes stop-shingles (shared
  *    by thousands of docs) that would otherwise square the join output.
  *  - embedding near-dup at scale goes through [[graft.sim.Ann]] LSH
  *    buckets; the all-pairs form is the correctness baseline.
  */
object Dedup {

  /** Word n-gram shingles (distinct) of a text column; empty array when
    * the document has fewer than n tokens.
    */
  def shingles(text: Column, n: Int): Column = {
    val toks = TextOps.tokens(text)
    when(size(toks) >= n,
      array_distinct(transform(
        sequence(lit(1), size(toks) - lit(n - 1)),
        i => array_join(slice(toks, i, lit(n)), " "))))
      .otherwise(array().cast("array<string>"))
  }

  /** Exact-duplicate groups by content hash: (content_hash, n_dups,
    * canonical_id = min id). Only ids and 64-bit-ish hashes are shuffled.
    * `hash` defaults to the oracle-parity polynomial hash; pass
    * `xxhash64(_)` for production speed.
    */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String,
                     hash: Column => Column = TextOps.strHash(_)): DataFrame =
    df.select(hash(col(textCol)).as("content_hash"), col(idCol).cast("long").as("id"))
      .groupBy("content_hash")
      .agg(count(lit(1)).as("n_dups"), min("id").as("canonical_id"))
      .where(col("n_dups") > 1)

  /** Keep one row per content hash (the min-id representative): the
    * "apply" side of exact dedup. Implemented as a min-id aggregation +
    * semi join back, so document bodies never shuffle.
    */
  def dropExactDups(df: DataFrame, idCol: String, textCol: String,
                    hash: Column => Column = TextOps.strHash(_)): DataFrame =
    dropExactDupsByHash(df, idCol, hash(col(textCol)))

  /** [[dropExactDups]] over an already-computed hash expression/column —
    * lets callers that carry a content hash (delta dedup) dedupe
    * without walking every document body a second time.
    */
  private def dropExactDupsByHash(df: DataFrame, idCol: String,
                                  hashCol: Column): DataFrame = {
    val reps = df
      .select(hashCol.as("content_hash"), col(idCol).as("rep_id"))
      .groupBy("content_hash").agg(min("rep_id").as("rep_id"))
    df.join(reps, df(idCol) === reps("rep_id"), "left_semi")
  }

  /** Per-document distinct-shingle exploded view: (id, shingle). */
  private def shingleRows(df: DataFrame, idCol: String, textCol: String,
                          n: Int): DataFrame =
    df.select(col(idCol).cast("long").as("id"),
        explode(shingles(col(textCol), n)).as("shingle"))

  /** Incremental (delta) dedup — the ingest-time form every growing
    * corpus runs: keep only the NEW batch's documents whose content
    * hash appears nowhere in the EXISTING corpus, then drop exact dups
    * within the batch itself (min-id representative), so the union
    * corpus+kept stays exactly-deduplicated. Two narrow anti/semi
    * joins on (hash, id) pairs — bodies never shuffle, and the corpus
    * side reduces to its distinct hashes before joining. At 100 TB the
    * corpus hash set is itself big data (no broadcast); a production
    * deployment additionally keeps a bloom filter of corpus hashes to
    * prune the batch before the exact join — the exact anti-join stays
    * as the verifier, so the result is identical (bloom false
    * positives only cost a lookup, never a wrong drop).
    */
  def deltaDedup(batch: DataFrame, corpus: DataFrame, idCol: String,
                 textCol: String,
                 hash: Column => Column = TextOps.strHash(_)): DataFrame = {
    val corpusHashes = corpus
      .select(hash(col(textCol)).as("content_hash")).distinct()
    val fresh = batch
      .withColumn("content_hash", hash(col(textCol)))
      .join(corpusHashes, Seq("content_hash"), "left_anti")
    // in-batch dedup reuses the hash already on the frame — each body
    // is walked once per ingest, not twice
    dropExactDupsByHash(fresh, idCol, col("content_hash"))
      .drop("content_hash")
  }

  /** Duplicated-span coverage — the exact-substring dedup signal of
    * Lee et al. 2021 ("Deduplicating Training Data Makes Language
    * Models Better", the ExactSubstr criterion): for every document,
    * the fraction of its tokens covered by an n-token span that also
    * appears verbatim in at least `minDocs` distinct documents. Unlike
    * whole-document near-dup (Jaccard/MinHash), this finds PARTIAL
    * duplication — boilerplate, quoted passages, licence blocks —
    * which at web scale is most of the duplicate mass.
    *
    * Pipeline: positional n-gram rows (id, pos, gram-hash) → cross-doc
    * duplicate grams (count-distinct-docs ≥ minDocs) → per-doc
    * interval-union sweep of the duplicated starts (a per-doc window:
    * overlapping spans merge via min(n, next_start − start)).
    * Everything that shuffles is a (hash, id, pos) triple — shingle
    * STRINGS never leave the map stage and bodies never move; the
    * windows are per-document keys. `hash` defaults to the
    * oracle-parity polynomial hash (collisions ~|grams|²/2P, identical
    * in the oracle since it hashes the same way); pass `xxhash64(_)`
    * for production.
    */
  def dupSpanCoverage(df: DataFrame, idCol: String, textCol: String,
                      n: Int, minDocs: Int = 2,
                      hash: Column => Column = TextOps.strHash(_)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Caches.keep("dedup.dupSpanCoverage",
      df.select(col(idCol).cast("long").as("id"),
          TextOps.tokens(col(textCol)).as("toks"))
        .withColumn("n_tokens", size(col("toks")).cast("long")))
    val grams = base.select(col("id"),
        posexplode(when(size(col("toks")) >= n,
          transform(sequence(lit(1), size(col("toks")) - lit(n - 1)),
            i => hash(array_join(slice(col("toks"), i, lit(n)), " "))))
          .otherwise(array().cast("array<long>"))))
      .select(col("id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("gh"))
    val dup = grams.groupBy("gh").agg(countDistinct("id").as("nd"))
      .where(col("nd") >= minDocs).select("gh")
    val ds = grams.join(dup, Seq("gh"), "left_semi")
    val w = Window.partitionBy("id").orderBy("pos")
    val cov = ds
      .withColumn("contrib", least(lit(n.toLong),
        coalesce(lead("pos", 1).over(w) - col("pos"), lit(n.toLong))))
      .groupBy("id").agg(sum("contrib").as("covered_tokens"),
        count(lit(1)).as("n_dup_starts"))
    val covered = coalesce(col("covered_tokens"), lit(0L))
    val out = base.join(cov, Seq("id"), "left")
      .select(col("id"), col("n_tokens"),
        coalesce(col("n_dup_starts"), lit(0L)).as("n_dup_starts"),
        covered.as("covered_tokens"),
        when(col("n_tokens") > 0,
          round(covered.cast("double") / col("n_tokens").cast("double"), 6))
          .otherwise(lit(0.0)).as("coverage"))
    out
  }

  /** All pairs (a < b) with n-gram Jaccard similarity ≥ `threshold`.
    * `maxShingleDocFreq`: drop shingles occurring in more than this many
    * documents before pairing (0 = keep all; oracle queries use 0).
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   n: Int, threshold: Double,
                   maxShingleDocFreq: Long = 0L): DataFrame = {
    // persisted: referenced by the size aggregate and BOTH sides of the
    // pair self-join — shingling would otherwise run four times
    val rows = Caches.keep("dedup.jaccardPairs", shingleRows(df, idCol, textCol, n))
    val pruned =
      if (maxShingleDocFreq <= 0) rows
      else {
        val hot = rows.groupBy("shingle").agg(count(lit(1)).as("df"))
          .where(col("df") > maxShingleDocFreq).select("shingle")
        rows.join(broadcast(hot), Seq("shingle"), "left_anti")
      }
    val sizes = rows.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val inter = pruned.as("x")
      .join(pruned.as("y"), col("x.shingle") === col("y.shingle") &&
        col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("a"), col("y.id").as("b"))
      .agg(count(lit(1)).as("inter"))
    val out = inter
      .join(sizes.withColumnRenamed("id", "a").withColumnRenamed("n_sh", "na"), "a")
      .join(sizes.withColumnRenamed("id", "b").withColumnRenamed("n_sh", "nb"), "b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("inter"), round(col("jaccard"), 6).as("jaccard"))
    out
  }

  /** All embedding pairs (a < b) with cosine ≥ `threshold` — the
    * near-duplicate filter over an embedding column. Norms are reduced
    * per vector before the pair join.
    */
  def cosineDupPairs(df: DataFrame, idCol: String, vecCol: String,
                     threshold: Double): DataFrame = {
    // persisted: norms are computed once per vector, and the self-join
    // reuses one materialization for both sides; the pair-stage dot uses
    // the codegen'd kernel (bitwise-identical to the interpreted fold)
    val v = Caches.keep("dedup.cosineDupPairs",
      df.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
        .withColumn("n2", graft.sim.GraftFunctions.norm2(col("vec"))))
    val out = v.as("x").join(v.as("y"), col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        VectorMath.cosineFromNorms(
          graft.sim.GraftFunctions.dot(col("x.vec"), col("y.vec")),
          col("x.n2"), col("y.n2")).as("cos"))
      .where(col("cos") >= threshold)
      .select(col("a"), col("b"), round(col("cos"), 6).as("cos"))
    out
  }

  /** LSH-bucketed embedding near-dup pairs — the 100 TB twin of
    * [[cosineDupPairs]]. Candidates are pairs sharing at least one
    * random-hyperplane bucket (`tables` tables × `bitsPerTable` sign
    * bits, deterministic planes — `graft.sim.Ann`); the exact cosine ≥
    * `threshold` check runs only inside buckets. The only all-corpus
    * shuffles carry (id, table, bucket) triples and the bucket
    * equi-join — no cartesian, no BroadcastNestedLoopJoin; recall tunes
    * with (tables, bitsPerTable) like any hyperplane-LSH index.
    */
  def lshCosineDupPairs(df: DataFrame, idCol: String, vecCol: String,
                        threshold: Double, dim: Int,
                        tables: Int = 8, bitsPerTable: Int = 6): DataFrame = {
    import graft.sim.{Ann, GraftFunctions}
    val v = Caches.keep("dedup.lshCosineDupPairs",
      df.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
        .withColumn("n2", GraftFunctions.norm2(col("vec"))))
    // signs hoisted into their own projection: the plane dots run once
    // per vector, not once per table (lambda inlining)
    // persisted: the self-join below would otherwise recompute the plane
    // dots for BOTH sides (A/B-measured slower than the cache round-trip)
    val bk = Caches.keep("dedup.lshCosineDupPairs", v
      .select(col("id"), Ann.planeSigns(col("vec"), dim, tables * bitsPerTable).as("signs"))
      .select(col("id"), posexplode(Ann.bucketsFromSigns(col("signs"), tables, bitsPerTable)))
      .withColumnRenamed("pos", "tbl").withColumnRenamed("col", "bucket"))
    val cand = bk.as("x")
      .join(bk.as("y"),
        col("x.tbl") === col("y.tbl") && col("x.bucket") === col("y.bucket") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"))
      .distinct()
    val out = cand
      .join(v.select(col("id").as("a"), col("vec").as("avec"), col("n2").as("an2")), "a")
      .join(v.select(col("id").as("b"), col("vec").as("bvec"), col("n2").as("bn2")), "b")
      .select(col("a"), col("b"),
        VectorMath.cosineFromNorms(
          GraftFunctions.dot(col("avec"), col("bvec")),
          col("an2"), col("bn2")).as("cos"))
      .where(col("cos") >= threshold)
      .select(col("a"), col("b"), round(col("cos"), 6).as("cos"))
    out
  }

  /** DuckDB oracle twins. */
  object Sql {
    def shingles(x: String, n: Int): String = {
      val toks = TextOps.Sql.toks(x)
      s"CASE WHEN len($toks) >= $n THEN list_distinct(list_transform(generate_series(1, len($toks) - ${n - 1}), i -> array_to_string($toks[i:i+${n - 1}], ' '))) ELSE [] END"
    }
  }
}
