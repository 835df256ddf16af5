package graft.aug

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sampling & shuffling operators (reference SURVEY.md §2.7 R1/R3/R4).
  *
  * Two families:
  *  - Spark-native seeded sampling (`sample`/`sampleBy`/`orderBy(rand)`)
  *    — parity with the reference's numpy-seeded sampling
  *    (`app/data_augmentation_enhanced.py:229-241`). Deterministic for a
  *    fixed seed *within Spark* but not reproducible by another engine,
  *    so these get rows-only verification.
  *  - [[hashSample]] — content-hash systematic sampling: keep a row iff
  *    h(key) mod M < fraction·M. Fully deterministic across engines,
  *    partitionings, and re-runs; this is also the right 100 TB design:
  *    the sample is stable under retries/backfills (no RNG state), trivially
  *    parallel, and join-compatible (the same key always lands in the
  *    same split — e.g. consistent train/test assignment).
  */
object Sampling {

  val P: Long = graft.text.TextOps.P
  private val M = 1000000L

  /** Multiplicative hash of a long key into [0, M). */
  def keyBucket(key: Column, seed: Long): Column =
    ((key.cast("long") * lit(2654435761L) + lit(seed) * lit(40503L))
      % lit(P) + lit(P)) % lit(P) % lit(M)

  /** Deterministic hash sample: rows whose key bucket falls below
    * fraction·M. Reproducible everywhere; stable under data reordering.
    */
  def hashSample(df: DataFrame, keyCol: String, fraction: Double,
                 seed: Long = 42L): DataFrame =
    df.where(keyBucket(col(keyCol), seed) < lit((fraction * M).toLong))

  /** Seeded Bernoulli sample (Spark-native; reference R1). */
  def seededSample(df: DataFrame, fraction: Double, seed: Long = 42L,
                   withReplacement: Boolean = false): DataFrame =
    df.sample(withReplacement, fraction, seed)

  /** Class-conditional sampling (reference R4,
    * `app/data_augmentation_enhanced.py:221-222`): per-class fractions. */
  def stratifiedSample(df: DataFrame, classCol: String,
                       fractions: Map[Any, Double], seed: Long = 42L): DataFrame =
    df.stat.sampleBy(classCol, fractions, seed)

  /** Deterministic stratified sample — [[hashSample]]'s per-class form
    * of `sampleBy` (reference R4, `app/data_augmentation_enhanced
    * .py:221-241`): keep a row iff its key bucket falls below
    * fraction(class)·M. Classes absent from `fractions` are dropped
    * (sampleBy semantics). Reproducible across engines/partitionings/
    * retries — which is what makes the per-class counts oracle-checkable
    * where RNG `sampleBy` is rows-only — and join-stable: a key keeps
    * one global bucket, so per-class splits stay consistent with any
    * other hash-sampled view of the same keys.
    */
  def hashStratifiedSample(df: DataFrame, classCol: String, keyCol: String,
                           fractions: Map[String, Double],
                           seed: Long = 42L): DataFrame = {
    require(fractions.nonEmpty, "hashStratifiedSample needs fractions")
    val thr = fractions.foldLeft(lit(0L)) { case (acc, (k, f)) =>
      when(col(classCol) === lit(k), lit((f * M).toLong)).otherwise(acc)
    }
    df.where(keyBucket(col(keyCol), seed) < thr)
  }

  /** Seeded full shuffle (reference R3: `sample(frac=1, random_state)`).
    * A total order by rand(seed) — one range-partitioned sort at scale.
    */
  def shuffle(df: DataFrame, seed: Long = 42L): DataFrame =
    df.orderBy(rand(seed))

  /** Deterministic permutation — R3's engine-reproducible twin: a total
    * order by the key's hash bucket, ties broken by `tieBreak`. Same
    * range-partitioned-sort shape at scale as [[shuffle]], but the
    * order is a pure function of the data, so it is retry-stable and
    * oracle-checkable where `rand(seed)` is Spark-private.
    */
  def hashShuffled(df: DataFrame, keyCol: String, seed: Long,
                   tieBreak: Column*): DataFrame =
    df.orderBy(keyBucket(col(keyCol), seed) +: tieBreak: _*)

  /** Deterministic train/validation/test split assignment: every row
    * gets a split label from its key's hash bucket, with fractions
    * mapped to contiguous bucket ranges in the given order. Unlike
    * `randomSplit`, the assignment is a pure function of the key —
    * join-stable (features computed elsewhere land in the same split),
    * retry-stable, engine-reproducible, and leak-proof under
    * re-ingestion (a document's split never changes when the corpus
    * around it does). Fractions must sum to ≤ 1; any remainder is
    * labeled with `restLabel` (empty string drops instead).
    */
  def splitAssign(df: DataFrame, keyCol: String,
                  splits: Seq[(String, Double)], seed: Long = 42L,
                  restLabel: String = ""): DataFrame = {
    require(splits.nonEmpty, "splitAssign needs at least one split")
    val fracSum = splits.map(_._2).sum
    require(fracSum <= 1.0 + 1e-12, s"split fractions sum to $fracSum > 1")
    val b = keyBucket(col(keyCol), seed)
    val bounds = cumBounds(splits)
    val labeled = splits.zip(bounds).foldLeft((when(lit(false), lit("")), 0L)) {
      case ((expr, lo), ((name, _), hi)) =>
        (expr.when(b >= lo && b < hi, lit(name)), hi)
    }._1
    val withRest =
      if (restLabel.nonEmpty) labeled.otherwise(lit(restLabel))
      else labeled
    df.withColumn("split", withRest)
      .where(col("split").isNotNull)
  }

  /** Bucket bounds from CUMULATIVE fractions (round(cumFrac·M)), not a
    * sum of per-split truncations: three 1/3 splits must cover all M
    * buckets (truncating each to 333333 would leave bound 999999 and
    * silently drop the residual buckets when restLabel is empty).
    * Clamped to M so a 1.0+1e-13 float sum can't mint bucket M.
    */
  private[graft] def cumBounds(splits: Seq[(String, Double)]): Seq[Long] =
    splits.map(_._2).scanLeft(0.0)(_ + _).tail
      .map(cf => math.min(M, math.round(cf * M)))

  /** Temperature-based mixture sampling — the multilingual/multi-source
    * REBALANCING op (the `p_s ∝ n_s^α` upsampling of low-resource
    * sources used since mBERT/XLM-R): per-class keep rates are
    * COMPUTED FROM THE DATA — `rate_s = min(1, N_target·n_s^α /
    * (Σ_t n_t^α · n_s))` with `N_target = ⌊targetFraction·N⌋` — then
    * applied as a deterministic hash sample ([[hashStratifiedSample]]),
    * so the draw is engine/retry-reproducible. The class-count collect
    * is bounded by the number of classes. α = 0.5 (the default) uses
    * `sqrt`, which IEEE defines correctly-rounded — rates computed by
    * another engine match bitwise; other α go through `pow`, where
    * libm implementations may differ in the last ulp (documented
    * parity caveat). The Σ n^α fold runs in class-sorted order so the
    * double sum is order-fixed.
    */
  def temperatureSample(df: DataFrame, classCol: String, keyCol: String,
                        targetFraction: Double, alpha: Double = 0.5,
                        seed: Long = 42L): DataFrame = {
    require(targetFraction > 0 && targetFraction <= 1.0,
      s"temperatureSample needs targetFraction in (0,1]: $targetFraction")
    def w(n: Long): Double =
      if (alpha == 0.5) math.sqrt(n.toDouble) else math.pow(n.toDouble, alpha)
    // null-class rows are dropped (hashStratifiedSample semantics for a
    // class with no fraction) — and they must not reach r.get(0).toString,
    // which would NPE the driver on the null-key group
    val counts = df.where(col(classCol).isNotNull)
      .groupBy(col(classCol)).agg(count(lit(1)).as("n"))
      .collect().map(r => r.get(0).toString -> r.getLong(1)).sortBy(_._1)
    require(counts.nonEmpty, "temperatureSample needs at least one non-null class")
    val sw = counts.foldLeft(0.0) { case (acc, (_, n)) => acc + w(n) }
    val nTarget = math.floor(targetFraction * counts.map(_._2).sum.toDouble)
    val fractions = counts.map { case (c, n) =>
      c -> math.min(1.0, nTarget * w(n) / (sw * n.toDouble))
    }.toMap
    hashStratifiedSample(df, classCol, keyCol, fractions, seed)
  }

  /** Deterministic negative sampling — the contrastive-training data
    * op (word2vec/SimCLR-style: for each anchor, k "negative" rows
    * drawn pseudo-randomly from the corpus, never the anchor itself).
    * Ids must be dense 0..n−1 (rank-encode otherwise); candidate j of
    * anchor a is `((a mod P)·2654435761 + j·40503 + seed) mod P mod n`
    * (P = 1e9+7 prime), bumped by one (mod n) on self-collision.
    * Routing through the PRIME modulus before mod n is what prevents
    * systematic degeneracy: a direct `(a·c1 + j·c2) mod n` collapses
    * the j-stride whenever gcd(c2, n) > 1 (every anchor would draw k
    * copies of one id at n = c2); mod a prime, distinct j always hash
    * distinctly, and residual mod-n collisions are incidental (~k/n),
    * which negative sampling tolerates. The `a mod P` pre-reduction
    * keeps the product within Long. No RNG state: the draw is a pure
    * hash of (anchor, j), reproducible across engines/retries, and
    * the payload fetch is a plain equi-join on neg_id — narrow
    * shuffles only at any scale. Returns (anchor, j, neg_id).
    */
  def negativeSamples(df: DataFrame, idCol: String, k: Int,
                      seed: Long = 7L): DataFrame = {
    require(k >= 1, s"negativeSamples needs k >= 1: $k")
    val n = df.count()
    require(n > 1, s"negativeSamples needs at least 2 rows: $n")
    val raw = (((col("anchor") % lit(P)) * lit(2654435761L)
      + col("j") * lit(40503L) + lit(seed)) % lit(P)) % lit(n)
    df.select(col(idCol).cast("long").as("anchor"))
      .select(col("anchor"), explode(sequence(lit(0L), lit(k - 1L))).as("j"))
      .withColumn("neg_id",
        when(raw === col("anchor"), (raw + 1) % lit(n)).otherwise(raw))
  }

  /** Per-group cap — the "domain capping" curation op (limit any one
    * source/domain/URL-host to at most `cap` documents so a crawl
    * dominated by one site cannot dominate the training mix; the CCNet/
    * RefinedWeb per-domain limit). Rows within a group are ranked by
    * their key's hash bucket (ties broken by the key itself), so WHICH
    * rows survive is a pure function of the data — retry-stable,
    * engine-reproducible, and unchanged when the corpus around a group
    * grows (a kept doc stays kept until its group out-ranks it).
    *
    * Scale shape: one window hash-partitioned BY GROUP — groups rank in
    * parallel and only (group, key) ordering state is held per
    * partition. A pathologically hot group (one domain = half the
    * corpus) serializes on one partition; the 100 TB mitigation is a
    * pre-pass dropping groups with count ≤ cap from the window input
    * (they pass through unranked — most groups, in a Zipfian crawl),
    * which [[capPerGroupCounted]] implements.
    */
  def capPerGroup(df: DataFrame, groupCol: String, keyCol: String,
                  cap: Int, seed: Long = 42L): DataFrame = {
    require(cap >= 1, s"capPerGroup needs cap >= 1: $cap")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol))
      .orderBy(keyBucket(col(keyCol), seed), col(keyCol))
    df.withColumn("grp_rank", row_number().over(w))
      .where(col("grp_rank") <= cap)
      .drop("grp_rank")
  }

  /** [[capPerGroup]] with the small-group bypass: per-group counts are
    * computed first (map-side-combined aggregate, one row per group),
    * groups at-or-under the cap skip the window entirely, and only the
    * over-cap remainder — in a Zipfian crawl, a tiny fraction of
    * groups carrying most rows — is ranked. Output is row-identical to
    * [[capPerGroup]]; the split is purely a physical optimization, so
    * the spec pins equality between the two paths.
    */
  def capPerGroupCounted(df: DataFrame, groupCol: String, keyCol: String,
                         cap: Int, seed: Long = 42L): DataFrame = {
    require(cap >= 1, s"capPerGroupCounted needs cap >= 1: $cap")
    // counts = one row per group: broadcastable for realistic domain
    // cardinalities; left unhinted so AQE can fall back to a shuffle
    // join if the group count itself is huge
    val counts = df.groupBy(col(groupCol)).agg(count(lit(1)).as("grp_n"))
    val tagged = df.join(counts, Seq(groupCol))
    val small = tagged.where(col("grp_n") <= cap).drop("grp_n")
    val big = tagged.where(col("grp_n") > cap).drop("grp_n")
    small.unionByName(capPerGroup(big, groupCol, keyCol, cap, seed))
  }

  /** Deterministic weighted sampling without replacement — the
    * Efraimidis–Spirakis exponential race (each row draws an
    * exponential with rate = its weight; the k earliest arrivals win,
    * giving exact probability-proportional-to-weight semantics), with
    * the uniform draw derived from the key's hash bucket
    * (`u = (bucket + 0.5)/M` ∈ (0,1) — never 0 or 1, so ln is always
    * finite) instead of RNG state. This is the quality-weighted
    * subsample step of corpus curation (sample documents ∝ quality
    * score), reproducible across engines/retries like every other
    * hash-derived draw here. Non-positive or null weights are
    * excluded (zero-weight rows can never win a rate-w race).
    *
    * Scale shape: the race key is a map-stage expression; the k-select
    * plans as TakeOrderedAndProject — per-partition top-k then a
    * k-row merge, never a global sort. Ties (astronomically unlikely
    * with double keys) break on the key column for determinism.
    */
  def weightedSample(df: DataFrame, keyCol: String, weightCol: String,
                     k: Int, seed: Long = 42L): DataFrame = {
    require(k >= 1, s"weightedSample needs k >= 1: $k")
    val u = (keyBucket(col(keyCol), seed).cast("double") + lit(0.5)) /
      lit(1000000.0)
    val race = (lit(0.0) - log(u)) / col(weightCol).cast("double")
    df.where(col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn("es_race", race)
      .orderBy(col("es_race"), col(keyCol))
      .limit(k)
      .drop("es_race")
  }

  /** DuckDB oracle twin of [[keyBucket]]/[[hashSample]]'s predicate. */
  object Sql {
    def keyBucket(key: String, seed: Long): String =
      s"((((CAST($key AS BIGINT) * 2654435761 + $seed * 40503) % $P) + $P) % $P) % ${M}"
    /** Twin of [[Sampling.weightedSample]]'s race key. */
    def raceKey(key: String, weight: String, seed: Long): String =
      s"((0.0 - ln((CAST(${keyBucket(key, seed)} AS DOUBLE) + 0.5) / 1000000.0)) / CAST($weight AS DOUBLE))"
    def samplePred(key: String, fraction: Double, seed: Long): String =
      s"${keyBucket(key, seed)} < ${(fraction * M).toLong}"
    def stratPred(key: String, classCol: String,
                  fractions: Map[String, Double], seed: Long): String = {
      val whens = fractions.toSeq.sortBy(_._1).map { case (k, f) =>
        s"WHEN '$k' THEN ${(f * M).toLong}"
      }.mkString(" ")
      s"${keyBucket(key, seed)} < (CASE $classCol $whens ELSE 0 END)"
    }
    /** Twin of [[Sampling.splitAssign]]'s bucket-range CASE. */
    def splitCase(key: String, splits: Seq[(String, Double)], seed: Long,
                  restLabel: String = ""): String = {
      val b = keyBucket(key, seed)
      // same cumulative-rounded arithmetic as splitAssign, by sharing it
      val bounds = cumBounds(splits)
      val whens = splits.zip(bounds).foldLeft((Seq.empty[String], 0L)) {
        case ((acc, lo), ((name, _), hi)) =>
          (acc :+ s"WHEN $b >= $lo AND $b < $hi THEN '$name'", hi)
      }._1.mkString(" ")
      val rest = if (restLabel.nonEmpty) s"'$restLabel'" else "NULL"
      s"(CASE $whens ELSE $rest END)"
    }

    /** Twin of [[Sampling.negativeSamples]]' candidate arithmetic:
      * `anchor`, `j` and `n` are SQL expressions (pass the corpus size
      * as a subquery/CTE column so the oracle adapts to any SF).
      */
    def negId(anchor: String, j: String, n: String, seed: Long): String = {
      val raw = s"(((($anchor % $P) * 2654435761 + $j * 40503 + $seed) % $P) % $n)"
      s"(CASE WHEN $raw = $anchor THEN ($raw + 1) % $n ELSE $raw END)"
    }
  }
}
