package graft

import graft.core.{PrefixScan, Profiler, Quantiles, Stats}
import graft.eval.Metrics
import graft.features.{FrequencyIndexer, Imputers}
import graft.score.ZScoreAnomaly
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Query registry part 2 — see [[SparkEntry]] for the driver
  * contract. Mixed into `object SparkEntry`; the self-type gives
  * every member access to the shared helpers wherever they live.
  */
private[graft] trait EntryQueries2 { this: SparkEntry.type =>

  /** SK2 — salted skew join: lineitem⋈part on the (potentially hot)
    * part key via replicate-and-salt, then revenue per brand. The
    * oracle is the PLAIN join + group-by — the salted plan must be
    * row-identical.
    */
  private[graft] def qSaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.load(s, dir, "part")
      .select(col("p_partkey"), col("p_brand"))
    val joined = graft.core.Skew.saltedJoin(
      li(s, dir).select(col("l_partkey").as("p_partkey"),
        col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
      p, Seq("p_partkey"), spread = col("l_orderkey"), buckets = 8)
    joined.groupBy("p_brand")
      .agg(count(lit(1)).as("n"),
        round(Stats.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
          .as("revenue"))
      .orderBy("p_brand")
  }

  /** R6 — temperature mixture sampling (α = 0.5 source rebalancing):
    * per-language keep rates computed from the data (upsample
    * low-resource languages relative to their share), applied as a
    * deterministic hash sample; per-language kept counts + char mass.
    */
  private[graft] def qTemperatureMix(s: SparkSession, dir: String): DataFrame =
    graft.aug.Sampling.temperatureSample(doc(s, dir), "lang", "doc_id",
        targetFraction = 0.5)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"), sum("n_chars").as("sum_chars"))
      .orderBy("lang")

  /** K4 — materialized training sequences: q77's pack assignment joined
    * back to the text and concatenated in key order; per-pack collects
    * are bounded by the pack capacity. Verified via length + content
    * hash per pack.
    */
  private[graft] def qPackTexts(s: SparkSession, dir: String): DataFrame = {
    val d = doc(s, dir).select(col("doc_id"),
      graft.text.TextOps.bpeTokenCount(col("text")).as("tokens"), col("text"))
    graft.seq.Packing.packTexts(d, "doc_id", "tokens", "text", budget = 512L)
      .select(col("pack_id"), col("n_docs"), col("doc_tokens"),
        length(col("text")).cast("long").as("text_len"),
        graft.text.TextOps.strHash(col("text")).as("text_hash"))
      .orderBy("pack_id")
  }

  /** T10 — deterministic token masking (denoising-objective prep):
    * 15% of tokens masked by a pure (doc_id, position) hash — the
    * same example corrupts identically across epochs/engines.
    */
  private[graft] def qSpanMask(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextOps
    // tokens hoisted (the mask lambda's element_at would re-tokenize
    // per element) + par(): per-row compute on a one-row-group scan
    // (r16 A/B: 4.3 s → sub-second). The masked array is projected
    // once and read three times.
    par(doc(s, dir))
      .select(col("doc_id"), TextOps.tokens(col("text")).as("__toks"))
      .withColumn("masked",
        TextOps.maskTokensFromTokens(col("doc_id"), col("__toks"), pct = 15))
      .select(col("doc_id"),
        size(col("masked")).cast("long").as("n_tokens"),
        size(filter(col("masked"), t => t === "<mask>")).cast("long").as("n_masked"),
        TextOps.strHash(array_join(col("masked"), " ")).as("masked_hash"))
      .orderBy("doc_id")
  }

  /** R7 — deterministic train/val/test split assignment: hash-bucket
    * ranges give every doc a stable split label (join-stable,
    * leak-proof under re-ingestion); per-split counts + char mass.
    */
  private[graft] def qSplitAssign(s: SparkSession, dir: String): DataFrame =
    graft.aug.Sampling.splitAssign(doc(s, dir), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .groupBy("split")
      .agg(count(lit(1)).as("n"), sum("n_chars").as("sum_chars"))
      .orderBy("split")

  /** T11 — bigram LM quality scoring (the CCNet-style perplexity
    * filter, self-fit): mean add-one-smoothed bigram log-probability
    * per document; low scores flag garbled/boilerplate text.
    */
  private[graft] def qBigramLm(s: SparkSession, dir: String): DataFrame =
    graft.text.BigramLm.score(doc(s, dir), "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  /** T12 — quality-pruned corpus (keep-best selection): per source,
    * keep the top half of documents by quality score (deterministic
    * doc_id tiebreak); per-source kept counts and quality mass. The
    * per-source window ranks in parallel across sources.
    */
  private[graft] def qQualityPrune(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = doc(s, dir).select(col("source"), col("doc_id"), col("n_chars"),
      graft.text.TextOps.qualityScore(col("text")).as("q"))
    val w = Window.partitionBy("source")
    val ranked = scored
      .withColumn("rk", row_number().over(
        Window.partitionBy("source").orderBy(desc("q"), asc("doc_id"))))
      .withColumn("n_src", count(lit(1)).over(w))
      .where(col("rk") <= ceil(col("n_src") * lit(0.5)))
    ranked.groupBy("source")
      .agg(count(lit(1)).as("n_kept"),
        round(Stats.dsum(col("q")), 6).as("quality_mass"),
        sum("n_chars").as("sum_chars"))
      .orderBy("source")
  }

  /** D9 — train/test leakage audit: split assignment (q95's hash
    * ranges) × prefix fingerprints (first-8-token hash, the cheap
    * near-dup key) — fingerprint groups that straddle the train/test
    * boundary are eval leakage (the decontamination check applied to
    * the corpus's OWN splits; this corpus has no EXACT text dups, but
    * shared prefixes cross the boundary).
    */
  private[graft] def qSplitLeakage(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextOps
    val split = graft.aug.Sampling.splitAssign(doc(s, dir), "doc_id",
      Seq("train" -> 0.9, "test" -> 0.1))
    val prefixFp = TextOps.strHash(
      array_join(slice(TextOps.tokens(col("text")), 1, 8), " "))
    val groups = split
      .select(prefixFp.as("h"), col("split"))
      .groupBy("h")
      .agg(count(when(col("split") === "train", 1)).as("n_train"),
        count(when(col("split") === "test", 1)).as("n_test"))
      .where(col("n_train") > 0 && col("n_test") > 0)
    groups.agg(count(lit(1)).as("n_leaky_groups"),
      coalesce(sum("n_train"), lit(0L)).as("n_train_docs"),
      coalesce(sum("n_test"), lit(0L)).as("n_test_docs"))
  }

  /** P12 — pivot (long → wide): revenue matrix returnflag × linestatus
    * via the relational pivot; one partial-aggregated pass, columns
    * fixed by the explicit value list (no value-discovery scan).
    */
  private[graft] def qPivot(s: SparkSession, dir: String): DataFrame =
    li(s, dir)
      .withColumn("rev",
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast(DecimalType(38, 10)))
      .groupBy("l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(round(sum("rev").cast(DoubleType), 4))
      .withColumnRenamed("F", "rev_f").withColumnRenamed("O", "rev_o")
      .orderBy("l_returnflag")

  /** P13 — unpivot (wide → long, melt): per-row numeric columns
    * stacked to (metric, value) then profiled — the tidy-data
    * reshape feeding any per-metric operator.
    */
  private[graft] def qUnpivot(s: SparkSession, dir: String): DataFrame =
    // par(): stack() triples the rows and the decimal partials run in
    // the same task — spread before the expansion (r16 second pass)
    par(li(s, dir))
      .select(col("l_returnflag"), expr(
        """stack(3, 'quantity', CAST(l_quantity AS DOUBLE),
          | 'price', CAST(l_extendedprice AS DOUBLE),
          | 'discount', CAST(l_discount AS DOUBLE)) AS (metric, value)""".stripMargin))
      .groupBy("l_returnflag", "metric")
      .agg(count(lit(1)).as("n"), round(Stats.dsum(col("value")), 4).as("sum_value"))
      .orderBy("l_returnflag", "metric")

  /** W5 — time-series resampling + forward fill (telemetry gap
    * repair, the step the reference's evenly-spaced LSTM windows
    * presume happened upstream): 6-hour grid per user, last
    * observation per bucket, gaps carried forward; per-user grid
    * size, observed count, and filled-value checksum.
    */
  private[graft] def qResample(s: SparkSession, dir: String): DataFrame =
    graft.seq.Resample.resampleFfill(ev(s, dir), "user_id", "ts", "value",
        stepSeconds = 21600L)
      .groupBy(col("key").as("user_id"))
      .agg(count(lit(1)).as("n_points"),
        count(when(col("observed"), 1)).as("n_observed"),
        round(Stats.dsum(col("value")), 4).as("value_checksum"))
      .orderBy("user_id")

  /** Per-source domain capping (Sampling.capPerGroup) — keep ≤ cap docs
    * per source by deterministic hash rank; output pins WHICH rows
    * survive via an exact id checksum per source. Uses the counted
    * variant (small-group bypass) so the registered query exercises the
    * scale path; the spec pins its equality with the plain window.
    */
  private[graft] def qSourceCap(s: SparkSession, dir: String): DataFrame = {
    val capped = graft.aug.Sampling.capPerGroupCounted(
      doc(s, dir).select("doc_id", "source"), "source", "doc_id", cap = 15)
    capped.groupBy("source")
      .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_checksum"))
      .orderBy("source")
  }

  /** Canonical text normalization (TextOps.normalize): per-doc raw vs
    * normalized length and the hash of the normalized text (the
    * pre-dedup canonical form). Normalized text is projected ONCE into
    * its own column, then hashed/measured — not recomputed per output.
    */
  private[graft] def qNormalize(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextOps
    doc(s, dir)
      .select(col("doc_id"), length(col("text")).cast("long").as("n_raw"),
        TextOps.normalize(col("text")).as("norm"))
      .select(col("doc_id"), col("n_raw"),
        length(col("norm")).cast("long").as("n_norm"),
        TextOps.strHash(col("norm")).as("norm_hash"))
      .orderBy("doc_id")
  }

  /** Unigram token entropy (TextOps.tokenEntropy) — the vocabulary-
    * diversity quality signal, per doc. Token array hoisted into its
    * own projection (HOF-inlining gotcha); entropy summed in sorted
    * distinct-token order for cross-engine fold parity.
    */
  private[graft] def qTokenEntropy(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextOps
    par(doc(s, dir))
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        round(TextOps.tokenEntropyFromTokens(col("toks")), 6).as("entropy_bits"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
        col("entropy_bits"))
      .orderBy("doc_id")
  }

  /** CDC merge (Versioning.applyChanges): a change batch derived
    * deterministically from the documents table — updates (seq 1) on
    * ids ≡ 0 (mod 4), deletes (seq 2) overriding half of them
    * (ids ≡ 0 mod 8 — exercises latest-wins), inserts at shifted ids —
    * applied to the ids ≢ 3 (mod 4) snapshot; per-source exact
    * checksums pin the merged state.
    */
  private[graft] def qCdcMerge(s: SparkSession, dir: String): DataFrame = {
    val d = doc(s, dir).select(col("doc_id"), col("source"), col("n_chars"))
    val snapshot = d.where(col("doc_id") % 4 < 3)
    val upd = d.where(col("doc_id") % 4 === 3).select(
      (col("doc_id") - 3).as("doc_id"), col("source"),
      (col("n_chars") + 1000).as("n_chars"), lit("U").as("op"), lit(1L).as("seq"))
    val del = d.where(col("doc_id") % 8 === 3).select(
      (col("doc_id") - 3).as("doc_id"), col("source"), col("n_chars"),
      lit("D").as("op"), lit(2L).as("seq"))
    val ins = d.where(col("doc_id") % 4 === 3).select(
      (col("doc_id") + 10000000L).as("doc_id"), col("source"), col("n_chars"),
      lit("I").as("op"), lit(1L).as("seq"))
    val merged = graft.core.Versioning.applyChanges(
      snapshot, upd.unionByName(del).unionByName(ins), "doc_id")
    merged.groupBy("source")
      .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_checksum"),
        sum(col("n_chars")).as("chars_checksum"))
      .orderBy("source")
  }

  /** Feature discretization (features.Discretizer): equal-frequency
    * bins on price (exact distributed k-quantile edges) + equal-width
    * bins on quantity (one min/max pass), reported as a long per-bin
    * table. Rides the shared stats-family cache.
    */
  private[graft] def qDiscretize(s: SparkSession, dir: String): DataFrame = {
    import graft.features.Discretizer
    val df = liStats(s, dir)
    val ef = Discretizer.fitEqualFreq(df, Seq("l_extendedprice"), 8)
    val ew = Discretizer.fitEqualWidth(df, Seq("l_quantity"), 6)
    def leg(m: Discretizer.Model, c: String) =
      m.transform(df.select(col(c)))
        .groupBy(col(s"${c}_bin").cast("long").as("bin"))
        .agg(count(lit(1)).as("n"),
          round(Stats.dsum(col(c).cast("double")), 4).as("sum_value"))
        .select(lit(c).as("column_name"), col("bin"), col("n"), col("sum_value"))
    leg(ef, "l_extendedprice").unionByName(leg(ew, "l_quantity"))
      .orderBy("column_name", "bin")
  }

  /** Target encoding (features.TargetEncoder): m-estimate-smoothed
    * per-brand mean of a binary label + the per-brand checksum of the
    * leave-one-out row encodings (pins every row's LOO value).
    */
  private[graft] def qTargetEncode(s: SparkSession, dir: String): DataFrame = {
    import graft.features.TargetEncoder
    val p = Tables.load(s, dir, "part")
      .select(col("p_brand"), (col("p_size") > 25).cast("int").as("y"))
    val enc = TargetEncoder.encodings(p, "p_brand", "y", m = 10.0)
      .select(col("p_brand"), col("n"), round(col("enc"), 6).as("enc"))
    val loo = TargetEncoder.looTransform(p, "p_brand", "y")
      .groupBy("p_brand")
      .agg(round(Stats.dsum(col("loo_enc")), 6).as("loo_checksum"))
    enc.join(loo, Seq("p_brand")).orderBy("p_brand")
  }

  /** Interval containment join (seq.IntervalJoin): every ~97th event
    * anchors a 2 h half-open interval; all events falling inside any
    * interval match via the bucketed range join (bucket = interval
    * width ⇒ ≤ 2 buckets per interval, one equi-join, no nested loop).
    * Micro-precision longs on both engines (the q58 convention).
    */
  private[graft] def qIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val twoH = 2L * 3600 * 1000 * 1000
    val e = ev(s, dir).withColumn("ts_us", expr("ts div 1000"))
    val anchors = e.where(col("event_id") % 97 === 0)
      .select(col("event_id").as("anchor_id"), col("ts_us").as("start_us"),
        (col("ts_us") + lit(twoH)).as("end_us"))
    val pts = e.select(col("event_id"), col("ts_us"), col("value"))
    graft.seq.IntervalJoin.containment(pts, anchors, "ts_us",
        "start_us", "end_us", bucketWidth = twoH)
      .groupBy("anchor_id")
      .agg(count(lit(1)).as("n_points"), sum(col("event_id")).as("id_checksum"),
        round(Stats.dsum(col("value")), 4).as("value_checksum"))
      .orderBy("anchor_id")
  }

  /** Per-user EWMA (seq.Rolling.ewmaByKey): the sequential smoothing
    * fold, distributed one-key-per-group; α = 0.5 and a (ts, value)
    * sort key keep the fold bitwise cross-engine.
    */
  private[graft] def qEwma(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir).select(col("user_id"),
      expr("ts div 1000").as("ts_us"), col("value"))
    graft.seq.Rolling.ewmaByKey(e, Seq("user_id"), "ts_us", "value", alpha = 0.5)
      .select(col("user_id"), col("n"), round(col("ewma"), 6).as("ewma"))
      .orderBy("user_id")
  }

  /** Mutual information between flag and status (core.InfoTheory):
    * one joint-count pass; entropies/MI as decimal-exact sums of
    * fixed-shape double terms.
    */
  private[graft] def qMutualInfo(s: SparkSession, dir: String): DataFrame =
    graft.core.InfoTheory.mutualInfo(li(s, dir), "l_returnflag", "l_linestatus")
      .select(round(col("h_a"), 6).as("h_flag"),
        round(col("h_b"), 6).as("h_status"),
        round(col("mi"), 6).as("mi"), round(col("nmi"), 6).as("nmi"))

  /** Quality-weighted subsample (Sampling.weightedSample): k docs drawn
    * ∝ n_chars via the deterministic exponential race; TakeOrdered
    * top-k, never a global sort.
    */
  private[graft] def qWeightedSample(s: SparkSession, dir: String): DataFrame =
    graft.aug.Sampling.weightedSample(
        doc(s, dir).select("doc_id", "source", "n_chars"),
        "doc_id", "n_chars", k = 100)
      .orderBy("doc_id")

  /** Hashing-trick featurization (TextOps.hashedTokens/hashFeatures):
    * 64-dim token-count vectors, pinned by nnz / L1 / position-weighted
    * checksums. Tokens hashed once in their own projection.
    */
  private[graft] def qFeatureHash(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextOps
    val dim = 64
    par(doc(s, dir))
      .select(col("doc_id"), TextOps.hashedTokens(col("text"), dim).as("hs"))
      .select(col("doc_id"), TextOps.hashFeaturesFromHashed(col("hs"), dim).as("f"))
      .select(col("doc_id"),
        size(filter(col("f"), c => c > 0)).cast("long").as("nnz"),
        aggregate(col("f"), lit(0L), (a, c) => a + c).as("l1"),
        aggregate(
          transform(sequence(lit(1L), lit(dim.toLong)),
            i => element_at(col("f"), i.cast("int")) * i),
          lit(0L), (a, c) => a + c).as("wsum"))
      .orderBy("doc_id")
  }

  /** Vocabulary-id encoding (Vocab.encode): docs tokenized against the
    * fitted top-256 vocab with OOV bucketing; per-doc length / OOV /
    * position-weighted id checksums pin every id at every position.
    */
  private[graft] def qVocabEncode(s: SparkSession, dir: String): DataFrame = {
    val vs = 256
    graft.text.Vocab.encode(doc(s, dir), "doc_id", "text", vocabSize = vs)
      .select(col("id").as("doc_id"),
        size(col("ids")).cast("long").as("n_tokens"),
        size(filter(col("ids"), t => t === vs)).cast("long").as("n_oov"),
        aggregate(
          transform(sequence(lit(1L), size(col("ids")).cast("long")),
            i => element_at(col("ids"), i.cast("int")).cast("long") * i),
          lit(0L), (a, c) => a + c).as("id_checksum"))
      .orderBy("doc_id")
  }

  /** Overlapping chunking (TextOps.chunkTexts): 40-token chunks with
    * 8-token overlap, one row per chunk, pinned by per-chunk token
    * count and content hash.
    */
  private[graft] def qChunk(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextOps
    // tokens hoisted: chunkTexts' per-chunk lambda slices the array,
    // and an inline tokens(text) re-runs the split per chunk (r16)
    par(doc(s, dir))
      .select(col("doc_id"), TextOps.tokens(col("text")).as("__toks"))
      .select(col("doc_id"),
        posexplode(TextOps.chunkTexts(col("__toks"), 40, 8))
          .as(Seq("chunk_idx", "chunk")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        TextOps.tokenCount(col("chunk")).cast("long").as("chunk_tokens"),
        TextOps.strHash(col("chunk")).as("chunk_hash"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** PCA over the embeddings table (sim.Pca): distributed
    * treeAggregate covariance fit + driver Jacobi eigensolve, k = 4
    * codegen'd dot-product scores per row. SELF-VERIFYING: eigenvectors
    * aren't SQL-expressible, so the query audits the decomposition
    * in-query and the oracle pins the booleans TRUE — eigenvalues
    * descending and non-negative, basis orthonormal, and the variance
    * identity mean(‖x−μ‖² − Σⱼpcⱼ²) = trace(Σ) − Σ top-k λ (both sides
    * from the SAME full-data fit — an eigensolve or projection bug
    * breaks the equality). Exact anchors: row count and dimension.
    */
  private[graft] def qPca(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val m = graft.sim.Pca.fit(e, "v", k = 4)
    val evalsOk = m.eigenvalues.forall(_ >= -1e-9) &&
      m.eigenvalues.zip(m.eigenvalues.tail).forall { case (a, b) => a >= b - 1e-12 }
    // centered squared norm via the k = 0 linear-AE scorer sharing μ
    val m0 = new graft.score.LinearAE.Model(m.mean, Array.empty)
    val scored = m.transform(m0.transform(par(e), "v", "sq"), "v")
    val projSq = (0 until 4).map(j => col(s"pc$j") * col(s"pc$j"))
      .reduce(_ + _)
    val a = scored.agg(
      count(lit(1)).as("n"),
      Stats.dmean(col("sq") - projSq).as("mean_resid"),
      Stats.dmean(col("sq")).as("mean_sq"),
      count(when(col("sq") - projSq < lit(-1e-6), 1)).as("neg")).head()
    val (n, meanResid, meanSq, neg) =
      (a.getLong(0), a.getDouble(1), a.getDouble(2), a.getLong(3))
    // population identity: E[residual] = trace(cov) − Σ top-k eigenvalues;
    // trace comes from mean ‖x−μ‖² over the same rows the fit consumed
    val expected = meanSq - m.eigenvalues.sum
    val identityOk = math.abs(meanResid - expected) <=
      1e-6 * math.max(1.0, meanSq)
    import s.implicits._
    Seq((n, m.mean.length.toLong, 4L, evalsOk, basisOrthonormal(m.components),
        identityOk, neg == 0L))
      .toDF("n_rows", "dim", "k", "evals_descending", "basis_orthonormal",
        "var_identity_ok", "resid_nonneg")
  }

  /** Per-user OLS trend (seq.Trend.linearFit): slope rescaled to
    * per-hour units so the 6-dp rounding keeps signal (raw slope is
    * per-microsecond). One window + one aggregate on the same key.
    */
  private[graft] def qTrend(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir).select(col("user_id"),
      expr("ts div 1000").as("x"), col("value").as("y"))
    // persist before the final orderBy: the range exchange's sampling
    // job otherwise re-runs the window+aggregate fit a second time
    // (same fix as q66; the per-user fit table is tiny)
    val fit = graft.seq.Trend.linearFit(e, Seq("user_id"), "x", "y")
      .select(col("user_id"), col("n"),
        round(col("slope") * lit(3.6e9), 6).as("slope_per_hour"),
        round(col("intercept"), 6).as("intercept"),
        round(col("r2"), 6).as("r2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.Caches.retain("entry.q118", fit)
    fit.orderBy("user_id")
  }

  /** Decile lift/gains table — the marketing-science twin of the ROC
    * family: rank rows by score into exact deciles (OrderStats edges,
    * the q49/q108 bin shape), then per decile report positive rate,
    * cumulative gain (fraction of all positives captured) and lift vs
    * the base rate. The cumulative window runs over the 10-row decile
    * table, not the data.
    */
  private[graft] def qLiftGains(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = li(s, dir).select(
      (col("l_returnflag") === "R").cast("int").as("y"),
      col("l_extendedprice").cast("double").as("score"))
    val edges = graft.core.OrderStats.quantilesOf(
      base, "score", (1 until 10).map(_.toDouble / 10)).distinct
    val bin = edges.foldLeft(lit(0)) { (acc, e) =>
      acc + when(col("score") > lit(e), 1).otherwise(0)
    }
    val perBin = base.withColumn("decile", bin.cast("long"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n"), sum(col("y")).cast("long").as("pos"))
    // descending deciles: highest scores first (decile 9 = top)
    val w = Window.orderBy(desc("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perBin
      .withColumn("cum_pos", sum(col("pos")).over(w))
      .withColumn("cum_n", sum(col("n")).over(w))
      .select(col("decile"), col("n"), col("pos"),
        round(col("cum_pos").cast("double") /
          sum(col("pos")).over(Window.partitionBy()), 6).as("gain"),
        round((col("cum_pos").cast("double") / col("cum_n")) /
          (sum(col("pos")).over(Window.partitionBy()).cast("double") /
            sum(col("n")).over(Window.partitionBy())), 6).as("lift"))
      .orderBy(desc("decile"))
  }

  /** Median/MAD robust anomaly score — the outlier-insensitive twin of
    * q07's z-score (median and MAD ignore the outliers themselves;
    * mean/std do not): flag rows with |0.6745·(x−med)/MAD| > 3.5 (the
    * Iglewicz–Hoaglin modified z-score). Both statistics are exact
    * distributed order-statistic selections; scoring is codegen'd
    * column math with plan literals.
    */
  private[graft] def qMadScore(s: SparkSession, dir: String): DataFrame = {
    val base = li(s, dir).select(col("l_orderkey"),
      col("l_extendedprice").cast("double").as("x"))
    val med = graft.core.OrderStats.quantilesOf(base, "x", Seq(0.5)).head
    val dev = base.withColumn("d", abs(col("x") - lit(med)))
    val mad = graft.core.OrderStats.quantilesOf(dev, "d", Seq(0.5)).head
    val mz = lit(0.6745) * (col("x") - lit(med)) / lit(mad)
    base.withColumn("mz", mz)
      .agg(count(lit(1)).as("n"),
        count(when(abs(col("mz")) > 3.5, 1)).as("n_flagged"),
        round(max(col("mz")), 6).as("max_mz"), round(min(col("mz")), 6).as("min_mz"))
      .withColumn("median", round(lit(med), 6))
      .withColumn("mad", round(lit(mad), 6))
  }

  /** A18 — Spearman rank correlation matrix: rank-robust dependence
    * over the lineitem numerics. Ranks derive from per-distinct-value
    * tie counts + the two-phase prefix scan (no global window), join
    * back on the value, then Pearson over exact decimal moments.
    */
  private[graft] def qSpearman(s: SparkSession, dir: String): DataFrame =
    graft.core.Rank.spearmanMatrix(li(s, dir), lineitemNumerics, "q121")
      .select(col("col_x"), col("col_y"), round(col("rho"), 6).as("rho"))
      .orderBy("col_x", "col_y")

  /** A19 — Cramér's V association between two categorical columns
    * (orders status × priority): one contingency-table scan, broadcast
    * marginals, χ² normalized to [0,1].
    */
  private[graft] def qCramersV(s: SparkSession, dir: String): DataFrame =
    graft.drift.Drift.cramersV(Tables.load(s, dir, "orders"),
      "o_orderstatus", "o_orderpriority")

  /** Q5 — Benford first-digit conformance of l_extendedprice: the
    * fabricated-data screen; arithmetic digit extraction, 9-bucket
    * map-side-combined aggregate, Nigrini MAD summary.
    */
  private[graft] def qBenford(s: SparkSession, dir: String): DataFrame =
    graft.drift.Drift.benford(li(s, dir), "l_extendedprice")
      .orderBy("digit")

  /** A20 — per-priority Gini concentration of order value: sorted-rank
    * identity with the rank window PARTITIONED by group (parallel
    * across groups), exact decimal Σ i·xᵢ.
    */
  private[graft] def qGini(s: SparkSession, dir: String): DataFrame =
    graft.core.Inequality.giniByGroup(Tables.load(s, dir, "orders"),
        Seq("o_orderpriority"), "o_totalprice", col("o_orderkey"))
      .select(col("o_orderpriority"), col("n"),
        round(col("total"), 4).as("total"), round(col("gini"), 6).as("gini"))
      .orderBy("o_orderpriority")

  /** W8 — per-user CUSUM changepoint detection over the event stream:
    * the persistent-level-shift detector (prefix-sum minus running-min
    * closed form — per-key windows only). In-control μ/σ come from one
    * exact-decimal global aggregate; k = σ/2 (tuned for a 1σ shift),
    * h = 4σ. Output: per-user alarm summary.
    */
  private[graft] def qCusum(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir).select(col("user_id"), col("event_id"),
      col("value").cast("double").as("value"))
    val st = e.agg(Stats.dmean(col("value")).as("mu"),
      Stats.dstddevSamp(col("value")).as("sd")).head()
    val (mu, sd) = (st.getDouble(0), st.getDouble(1))
    graft.seq.Changepoint.cusum(e, Seq("user_id"), Seq(col("event_id")),
        "value", mu, sd / 2.0, 4.0 * sd)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum(col("alarm")).cast("long").as("n_alarms"),
        round(max(col("cusum_pos")), 6).as("max_pos"),
        round(max(col("cusum_neg")), 6).as("max_neg"))
      .orderBy("user_id")
  }

  /** A21 — exact weighted quantiles (quantity-weighted price
    * distribution): cumulative-weight selection over the per-value
    * prefix scan — the statistic unweighted quantiles get wrong when
    * rows carry multiplicity.
    */
  private[graft] def qWeightedQuantiles(s: SparkSession, dir: String): DataFrame =
    graft.core.WeightedQuantile.quantiles(li(s, dir), "l_extendedprice",
        "l_quantity", Seq(0.25, 0.5, 0.75, 0.95), "q126")
      .select(col("p"), round(col("value"), 6).as("value"))
      .orderBy("p")

  /** A22 — ROLLUP grouping-set aggregation (flag → flag×status →
    * grand total) with an explicit grouping level — the OLAP subtotal
    * surface; one shuffle computes every grouping set via partial
    * aggregation.
    */
  private[graft] def qRollup(s: SparkSession, dir: String): DataFrame =
    li(s, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        round(Stats.dsum(col("l_extendedprice")), 4).as("sum_price"),
        (grouping(col("l_returnflag")) * 2 +
          grouping(col("l_linestatus"))).cast("long").as("lvl"))
      .orderBy("lvl", "l_returnflag", "l_linestatus")

  /** L6 — Pareto frontier of the part catalog (maximize retail price,
    * minimize size): two-phase local-frontier + global-merge skyline —
    * no O(n²) self-join, only frontiers move between stages.
    */
  private[graft] def qSkyline(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.load(s, dir, "part")
      .withColumn("neg_size", -col("p_size").cast("double"))
    graft.core.Skyline.skyline(p, Seq("p_retailprice", "neg_size"))
      .select(col("p_partkey"), col("p_name"), col("p_size"),
        col("p_retailprice"))
      .orderBy("p_partkey")
  }

  /** J4 — blocked fuzzy self-join on customer names (edit distance ≤ 1
    * within a 16-char-prefix block): the record-linkage shape — equi-
    * join on the block key, quadratic comparison only within blocks.
    * Output summarizes pairs per block (the pair list is the operator;
    * the query checks its exact cardinality profile).
    */
  private[graft] def qFuzzyPairs(s: SparkSession, dir: String): DataFrame =
    graft.text.FuzzyJoin.blockedPairs(Tables.load(s, dir, "customer"),
        "c_custkey", "c_name", substring(col("c_name"), 1, 16), 1)
      .groupBy(substring(col("text_a"), 1, 16).as("block"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("id_a")).as("n_left"),
        max(col("dist")).as("max_dist"))
      .orderBy("block")

  /** R5 — deterministic Poisson bootstrap CI for the mean order value:
    * the shuffle-free bootstrap (per-replicate hash-derived Poisson(1)
    * weights, all replicates in one map-side-combined pass) — THE
    * resampling shape that survives 100 TB, where a true resample
    * would be R full shuffles.
    */
  private[graft] def qBootstrapCi(s: SparkSession, dir: String): DataFrame =
    graft.aug.Bootstrap.meanCi(Tables.load(s, dir, "orders"),
        "o_orderkey", "o_totalprice", replicates = 40, alpha = 0.025,
        seed = 42L)
      .select(round(col("estimate"), 6).as("estimate"),
        round(col("ci_lo"), 6).as("ci_lo"),
        round(col("ci_hi"), 6).as("ci_hi"),
        col("n"), col("n_replicates"))

  /** A23 — isotonic (monotone) calibration of price→return-rate via
    * the PAV≡minimax identity on quantile bins: the data-proportional
    * work is one binning pass; the fit is relational algebra over the
    * ≤20-row bin table (triangle join + max-of-min), no sequential
    * pooling, oracle-replayable.
    */
  private[graft] def qIsotonic(s: SparkSession, dir: String): DataFrame = {
    val d = li(s, dir)
      .withColumn("label", when(col("l_returnflag") === "R", 1).otherwise(0))
    graft.eval.Isotonic.fitBins(d, "label", "l_extendedprice", bins = 20)
      .select(col("bin"), col("n"), col("pos"),
        round(col("rate"), 6).as("rate"),
        round(col("fitted"), 6).as("fitted"))
      .orderBy("bin")
  }

  /** F8 — Mahalanobis multivariate anomaly score over (quantity,
    * price): covariance-aware distance, one exact-moment fit
    * aggregate, driver 2×2 adjugate inverse as plan literals,
    * codegen'd quadratic form, χ²₂(0.99) flag threshold.
    */
  private[graft] def qMahalanobis(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice")
    // par() + persist (the q15 shape): both the moment-fit pass and
    // the d² scoring pass are single decimal-heavy passes that
    // otherwise run in the scan's one row-group task (r16 second pass)
    val base = par(graft.score.Mahalanobis.completeCase(li(s, dir), cols))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.Caches.retain("entry.q132", base)
    val m = graft.score.Mahalanobis.fit(base, cols)
    base.select(m.score.as("d2"))
      .agg(count(lit(1)).as("n"),
        count(when(col("d2") > 9.21034, 1)).as("n_flagged"),
        round(max(col("d2")), 6).as("max_d2"),
        round(Stats.dsum(col("d2")) / count(lit(1)), 6).as("mean_d2"))
  }

  /** W9 — Theil–Sen robust trend per user: median of all pairwise
    * slopes — the breakdown-resistant twin of q118's OLS (one wild
    * value corrupts OLS; the slope median shrugs). Pairs form inside
    * each key only (equi-join on the key, quadratic in per-key series
    * length, parallel across keys); the median is the fused grouped
    * exact selection — no per-group buffers.
    */
  private[graft] def qTheilSen(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir).select(col("user_id"),
        expr("ts div 1000").as("us"), col("value").cast("double").as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.Caches.retain("q133", e)
    val a = e.select(col("user_id"), col("us").as("us_a"), col("v").as("v_a"))
    val b = e.select(col("user_id"), col("us").as("us_b"), col("v").as("v_b"))
    val slopes = a.join(b, Seq("user_id"))
      .where(col("us_a") < col("us_b"))
      .select(col("user_id"), ((col("v_b") - col("v_a")) /
        ((col("us_b") - col("us_a")).cast("double") / lit(3600000000.0)))
        .as("slope"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.Caches.retain("q133", slopes)
    val med = graft.core.OrderStats.groupedQuantiles(
      slopes, "user_id", "slope", Seq(0.5))
    val counts = slopes.groupBy("user_id").agg(count(lit(1)).as("n_pairs"))
    counts.join(med, "user_id")
      .select(col("user_id"), col("n_pairs"),
        round(col("value"), 6).as("med_slope_per_hr"))
      .orderBy("user_id")
  }

  /** W10 — event funnel (view → click → purchase, 7-day completion):
    * per-step earliest-qualifying-timestamp chaining — three grouped
    * min-aggregates, each joined to the previous step's frame (all
    * user-cardinality-sized), never a per-user event sort. The classic
    * product-analytics operator.
    */
  private[graft] def qFunnel(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir).select(col("user_id"),
      expr("ts div 1000").as("us"), col("event_type"))
    val s1 = e.where(col("event_type") === "view")
      .groupBy("user_id").agg(min("us").as("t1"))
    val s2 = e.where(col("event_type") === "click").join(s1, "user_id")
      .where(col("us") > col("t1"))
      .groupBy("user_id").agg(min("us").as("t2"), min("t1").as("t1"))
    val s3 = e.where(col("event_type") === "purchase").join(s2, "user_id")
      .where(col("us") > col("t2"))
      .groupBy("user_id").agg(min("us").as("t3"), min("t1").as("t1"))
    val completed = s3.where(col("t3") - col("t1") <= 604800000000L)
    val n1 = s1.agg(count(lit(1)).as("step1_users"))
    val n2 = s2.agg(count(lit(1)).as("step2_users"))
    val n3 = s3.agg(count(lit(1)).as("step3_users"))
    val n4 = completed.agg(count(lit(1)).as("completed_7d"))
    n1.crossJoin(n2).crossJoin(n3).crossJoin(n4)
      .select(col("step1_users"), col("step2_users"), col("step3_users"),
        col("completed_7d"),
        round(col("step2_users").cast("double") /
          col("step1_users").cast("double"), 6).as("conv_1_2"),
        round(col("step3_users").cast("double") /
          col("step2_users").cast("double"), 6).as("conv_2_3"))
  }

  /** W11 — weekly cohort retention: cohort = first-activity week,
    * retention = fraction of the cohort active k weeks later. Exact
    * integer week bucketing (micros div 7d — floor-exact, no date-lib
    * divergence), one distinct-activity aggregate, cohort sizes joined
    * from the offset-0 row.
    */
  private[graft] def qRetention(s: SparkSession, dir: String): DataFrame = {
    val wk = 604800000000L
    val e = ev(s, dir).select(col("user_id"), expr("ts div 1000").as("us"))
    val first = e.groupBy("user_id").agg(min("us").as("first_us"))
    val act = e.join(first, "user_id")
      .select(expr(s"first_us div $wk").as("cohort_wk"),
        expr(s"(us - first_us) div $wk").as("week_offset"), col("user_id"))
      .distinct()
    val byCell = act.groupBy("cohort_wk", "week_offset")
      .agg(countDistinct("user_id").as("n_active"))
    val base = byCell.where(col("week_offset") === 0)
      .select(col("cohort_wk"), col("n_active").as("cohort_size"))
    byCell.join(broadcast(base), "cohort_wk")
      .select(col("cohort_wk"), col("week_offset"), col("n_active"),
        col("cohort_size"),
        round(col("n_active").cast("double") /
          col("cohort_size").cast("double"), 6).as("retention"))
      .orderBy("cohort_wk", "week_offset")
  }

  /** F9 — HBOS (histogram-based outlier score) over the lineitem
    * numerics: per-feature equal-width-histogram densities, score =
    * Σ −log₁₀ density — the linear-time anomaly baseline
    * complementing q132's covariance-aware Mahalanobis. Fit = one
    * min/max pass + ONE conditional-count aggregate; scoring is a
    * literal when-chain (no join/broadcast/UDF).
    */
  private[graft] def qHbos(s: SparkSession, dir: String): DataFrame = {
    val base = li(s, dir)
    val m = graft.score.Hbos.fit(base, lineitemNumerics, bins = 10)
    base.select(m.score.as("score"))
      .agg(count(lit(1)).as("n"),
        round(Stats.dsum(col("score")) / count(lit(1)), 6).as("mean_score"),
        round(max(col("score")), 6).as("max_score"),
        round(min(col("score")), 6).as("min_score"))
  }

  /** W12 — day-of-week seasonal profile + residual anomaly per user:
    * the seasonality-aware twin of q07's global z-score (a Monday
    * spike is only anomalous relative to MONDAYS). Exact integer dow
    * bucketing (no date-lib divergence), per-(user, dow) exact-decimal
    * means, residual flags at 2σ of the residual distribution.
    */
  private[graft] def qSeasonalResid(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir).select(col("user_id"),
      expr("((ts div 1000) div 86400000000 + 4) % 7").as("dow"),
      col("value").cast("double").as("v"))
    val prof = e.groupBy("user_id", "dow").agg(Stats.dmean(col("v")).as("mu"))
    val r = e.join(prof, Seq("user_id", "dow"))
      .select(col("user_id"), (col("v") - col("mu")).as("resid"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.Caches.retain("q137", r)
    val sd = r.agg(Stats.dstddevSamp(col("resid"))).head().getDouble(0)
    r.groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        count(when(abs(col("resid")) > lit(2.0 * sd), 1)).as("n_flagged"),
        round(max(abs(col("resid"))), 6).as("max_abs_resid"))
      .orderBy("user_id")
  }

  /** W13 — event-type Markov transition matrix: per-user ordered
    * lead() pairs (one shuffle on the key, windows within partitions),
    * then global transition counts and row-normalized probabilities —
    * the behavioral-model summary of the event stream.
    */
  private[graft] def qTransitions(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = ev(s, dir).select(col("user_id"), col("event_id"),
      expr("ts div 1000").as("us"), col("event_type"))
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val pairs = e.withColumn("next", lead(col("event_type"), 1).over(w))
      .where(col("next").isNotNull)
    val wc = Window.partitionBy("cur")
    pairs.groupBy(col("event_type").as("cur"), col("next"))
      .agg(count(lit(1)).as("n"))
      .select(col("cur"), col("next"), col("n"),
        round(col("n").cast("double") /
          sum(col("n")).over(wc).cast("double"), 6).as("p"))
      .orderBy("cur", "next")
  }

  /** W14 — sliding 7-day distinct active users per day: the rolling-
    * engagement metric. Exact sliding DISTINCT resists plain windows
    * (COUNT(DISTINCT) OVER isn't supported and would buffer users);
    * instead each (user, activity-day) pair — already deduplicated,
    * bounded by users × days — fans out to the ≤7 report days it
    * covers via a compact range join, then one distinct-count per day.
    * Fan-out is 7× the DEDUPED activity table, never 7× the events.
    */
  private[graft] def qSlidingDau(s: SparkSession, dir: String): DataFrame = {
    val day = 86400000000L
    val act = ev(s, dir)
      .select(col("user_id"), expr(s"(ts div 1000) div $day").as("d"))
      .distinct()
    val days = act.select(col("d").as("report_d")).distinct()
    act.join(days,
        col("report_d") >= col("d") && col("report_d") <= col("d") + 6)
      .groupBy("report_d")
      .agg(countDistinct("user_id").as("dau_7d"))
      .orderBy("report_d")
  }

  /** P12 — SCD2 validity intervals from a change log: per (user) the
    * ordered event stream becomes [valid_from, valid_to) rows via
    * lead() — one shuffle on the key, the warehouse history-modeling
    * primitive (current rows carry a null valid_to).
    */
  private[graft] def qScd2(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = ev(s, dir).select(col("user_id"), col("event_id"),
      expr("ts div 1000").as("us"), col("event_type"))
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val iv = e.withColumn("valid_to", lead(col("us"), 1).over(w))
    iv.groupBy("user_id")
      .agg(count(lit(1)).as("n_versions"),
        count(when(col("valid_to").isNull, 1)).as("n_current"),
        sum(when(col("valid_to").isNotNull,
          col("valid_to") - col("us"))).cast("long").as("total_covered_us"),
        max(col("valid_to") - col("us")).as("max_interval_us"))
      .orderBy("user_id")
  }

  /** A15b — Welch two-sample t-test (unequal variances): the A/B-test
    * primitive. Group moments are ONE conditional-aggregate pass
    * (exact decimal sums per [[Stats]]); t and the Welch–Satterthwaite
    * df are pure double arithmetic over those moments, expression-
    * shape-mirrored in the oracle so IEEE rounding agrees bitwise.
    */
  private[graft] def qWelch(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
      .select(col("o_orderpriority").as("g"),
        col("o_totalprice").cast("double").as("v"))
      .where(col("g").isin("1-URGENT", "5-LOW"))
    val ag = o.groupBy("g").agg(count(lit(1)).cast("double").as("n"),
      Stats.dmean(col("v")).as("m"), Stats.dvarSamp(col("v")).as("s2"))
    val r = ag.agg(
      max(when(col("g") === "1-URGENT", col("n"))).as("n1"),
      max(when(col("g") === "1-URGENT", col("m"))).as("m1"),
      max(when(col("g") === "1-URGENT", col("s2"))).as("s21"),
      max(when(col("g") === "5-LOW", col("n"))).as("n2"),
      max(when(col("g") === "5-LOW", col("m"))).as("m2"),
      max(when(col("g") === "5-LOW", col("s2"))).as("s22"))
    val se1 = col("s21") / col("n1")
    val se2 = col("s22") / col("n2")
    val se = se1 + se2
    r.select(col("n1").cast("long").as("n1"), col("n2").cast("long").as("n2"),
      round(col("m1"), 6).as("mean1"), round(col("m2"), 6).as("mean2"),
      round((col("m1") - col("m2")) / sqrt(se), 6).as("t_stat"),
      round(se * se / (se1 * se1 / (col("n1") - lit(1.0)) +
        se2 * se2 / (col("n2") - lit(1.0))), 6).as("df"))
  }

  /** A16 — RFM customer segmentation: recency / frequency / monetary
    * per customer from the order history, each quintile-binned with the
    * [[graft.features.Discretizer]] exact-quantile machinery (the q108
    * edge convention — distinct edges, bin = count of edges strictly
    * below). One groupBy builds the per-customer frame; the fit is one
    * fused 3-column distributed selection; binning is codegen'd
    * literal comparisons — no global ntile window anywhere.
    */
  private[graft] def qRfm(s: SparkSession, dir: String): DataFrame = {
    import graft.features.Discretizer
    val per = Tables.load(s, dir, "orders")
      .select(col("o_custkey"),
        expr("unix_timestamp(o_orderdate) div 86400").as("day"),
        col("o_totalprice").cast("double").as("tp"))
      .groupBy("o_custkey")
      .agg(max(col("day")).as("last_day"), count(lit(1)).as("freq"),
        Stats.dsum(col("tp")).as("monetary"))
    val maxDay = per.agg(max("last_day")).head().getLong(0)
    val rfm = per.select(col("o_custkey"),
        (lit(maxDay) - col("last_day")).cast("double").as("recency"),
        col("freq").cast("double").as("frequency"), col("monetary"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.Caches.retain("q142", rfm)
    val m = Discretizer.fitEqualFreq(rfm,
      Seq("recency", "frequency", "monetary"), 5)
    m.transform(rfm)
      .groupBy(col("recency_bin").cast("long").as("r"),
        col("frequency_bin").cast("long").as("f"),
        col("monetary_bin").cast("long").as("m"))
      .agg(count(lit(1)).as("n_customers"),
        round(Stats.dsum(col("monetary")), 4).as("sum_monetary"))
      .orderBy("r", "f", "m")
  }

  /** A17 — Pareto / ABC analysis: parts ranked by revenue, classified
    * by cumulative share (A ≤ 80%, B ≤ 95%, C rest). The cumulative
    * sum is the distributed two-phase [[PrefixScan]] — no
    * single-partition window — over exact integer cents, and the class
    * boundaries are pure integer comparisons (incl·5 ≤ tot·4), so
    * revenue ties cannot flip the per-class aggregates and no floating
    * comparison can diverge cross-engine.
    */
  private[graft] def qPareto(s: SparkSession, dir: String): DataFrame = {
    val pr = li(s, dir)
      .select(col("l_partkey"),
        expr("CAST(round(l_extendedprice * 100) AS LONG)").as("cents"))
      .groupBy("l_partkey").agg(sum("cents").as("cents"))
      .select(col("cents"), (-col("cents")).as("neg"))
    val (scanned, totals) = PrefixScan.build(pr, "neg", Seq("cents"), "q143")
    val tot = totals(0)
    val incl = col("cum_cents_below") + col("cents")
    scanned.select(col("cents"),
        when(incl * 5 <= tot * 4L, "A")
          .when(incl * 20 <= tot * 19L, "B").otherwise("C").as("cls"))
      .groupBy("cls").agg(count(lit(1)).as("n_parts"),
        sum(col("cents")).as("revenue_cents"),
        round(sum(col("cents")).cast("double") / lit(tot.toDouble), 6)
          .as("rev_share"))
      .orderBy("cls")
  }

  /** A18 — market-basket association rules over brands co-occurring in
    * an order: support / confidence / lift for each brand pair. The
    * (order, brand) incidence deduplicates first (one shuffle, rows
    * bounded by orders × brands-per-order); the pair join shuffles on
    * the order key with per-key width bounded by the brand alphabet;
    * the part dim and the single-brand counts broadcast.
    */
  private[graft] def qBasket(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.load(s, dir, "part").select(col("p_partkey"), col("p_brand"))
    val ob = li(s, dir).select(col("l_orderkey"), col("l_partkey"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("ok"), col("p_brand").as("b"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.Caches.retain("q144", ob)
    val nOrders = ob.select("ok").distinct().count()
    val singles = ob.groupBy("b").agg(count(lit(1)).as("nb"))
    val pairs = ob.toDF("ok", "b1")
      .join(ob.toDF("ok2", "b2"), col("ok") === col("ok2") && col("b1") < col("b2"))
      .groupBy("b1", "b2").agg(count(lit(1)).as("n_pair"))
    pairs.join(broadcast(singles.toDF("b1", "n1")), "b1")
      .join(broadcast(singles.toDF("b2", "n2")), "b2")
      .where(col("n_pair") >= 5)
      .select(col("b1"), col("b2"), col("n_pair"),
        round(col("n_pair").cast("double") / lit(nOrders.toDouble), 6)
          .as("support"),
        round(col("n_pair").cast("double") / col("n1").cast("double"), 6)
          .as("confidence"),
        round(col("n_pair").cast("double") * lit(nOrders.toDouble) /
          (col("n1").cast("double") * col("n2").cast("double")), 6).as("lift"))
      .orderBy("b1", "b2")
  }

  /** W15 — autocorrelation function of the daily event-count series at
    * calendar lags 1..7. The heavy stage is the distributed daily
    * aggregate; the series itself is bounded by distinct days, so the
    * mean/denominator scalars and the lag equi-join run on a tiny
    * persisted frame. Deviation products are decimal-summed
    * (order-independent) per the [[Stats]] convention.
    */
  private[graft] def qAcf(s: SparkSession, dir: String): DataFrame = {
    val daily = ev(s, dir)
      .select(expr("(ts div 1000) div 86400000000").as("d"))
      .groupBy("d").agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.Caches.retain("q145", daily)
    val mu = daily.agg(Stats.dmean(col("c").cast("double"))).head().getDouble(0)
    val dev = daily.select(col("d"), (col("c").cast("double") - lit(mu)).as("x"))
    val denom = dev.agg(Stats.dsum(col("x") * col("x"))).head().getDouble(0)
    dev.select(col("d"), col("x"),
        explode(array((1 to 7).map(i => lit(i)): _*)).as("k"))
      .join(dev.toDF("d2", "y"), col("d2") === col("d") + col("k"))
      .groupBy("k").agg(count(lit(1)).as("n_pairs"),
        round(Stats.dsum(col("x") * col("y")) / lit(denom), 6).as("acf"))
      .orderBy("k")
  }

  /** A19 — Jensen–Shannon divergence between the price distributions of
    * two segments over shared pooled-decile bins: the symmetric,
    * bounded drift measure complementing PSI (q63) and KS (q64). Edges
    * come from one exact distributed selection; per-(bin, group) counts
    * are ONE conditional aggregate; the ~10 ln-terms decimal-sum per
    * the q96 convention (`ln` of identical doubles is libm-identical).
    */
  private[graft] def qJsDiv(s: SparkSession, dir: String): DataFrame = {
    val base = li(s, dir).where(col("l_returnflag").isin("R", "N"))
      .select(col("l_returnflag").as("g"),
        col("l_extendedprice").cast("double").as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.Caches.retain("q146", base)
    val edges = Quantiles.exactQuantiles(base, "v",
      (1 until 10).map(_.toDouble / 10)).distinct
    val bin = edges.foldLeft(lit(0)) { (acc, e) =>
      acc + when(col("v") > lit(e), 1).otherwise(0)
    }
    val cnt = base.groupBy(bin.as("bin")).agg(
      count(when(col("g") === "R", 1)).as("na"),
      count(when(col("g") === "N", 1)).as("nb"))
    val tot = cnt.agg(sum("na").as("ta"), sum("nb").as("tb"))
    val terms = cnt.crossJoin(tot)
      .select((col("na").cast("double") / col("ta").cast("double")).as("p"),
        (col("nb").cast("double") / col("tb").cast("double")).as("q"))
      .select(col("p"), col("q"), ((col("p") + col("q")) * 0.5).as("m"))
      .select(
        when(col("p") > 0, col("p") * log(col("p") / col("m")))
          .otherwise(0.0).as("tp"),
        when(col("q") > 0, col("q") * log(col("q") / col("m")))
          .otherwise(0.0).as("tq"))
    terms.agg(count(lit(1)).as("n_bins"),
      round((Stats.dsum(col("tp")) + Stats.dsum(col("tq"))) * 0.5, 6)
        .as("js_divergence"))
  }

  /** A20 — exact heavy hitters over document languages with a Misra–Gries
    * candidate prune ([[graft.core.HeavyHitters]]): one map-only
    * sketch pass emits ≤ k keys per partition, one recount pass counts
    * only candidates (everything else folds into an overflow bucket) —
    * at 100 TB of a high-cardinality key the shuffle carries the
    * candidate set, not one partial per distinct item. The exact
    * recount makes the output independent of the sketch's
    * order-sensitivity.
    */
  private[graft] def qHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    graft.core.HeavyHitters.exact(doc(s, dir).select(col("lang")), "lang", 5)
      .withColumnRenamed("item", "lang")
  }

  /** G1 — weighted PageRank over the nation trade graph (customer
    * nation → supplier nation, weighted by lineitem count). The edge
    * aggregation is the heavy distributed stage; the power iteration
    * ([[PageRank]]) is narrow joins + decimal-summed aggregates, and
    * the oracle unrolls the same ten iterations as generated CTEs.
    */
  private[graft] def qPageRank(s: SparkSession, dir: String): DataFrame = {
    val l = li(s, dir).select(col("l_orderkey"), col("l_suppkey"))
    val o = Tables.load(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val c = Tables.load(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
    val sup = Tables.load(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
    val edges = l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      .agg(count(lit(1)).as("w"))
    val r = graft.core.PageRank.run(edges, d = 0.85, iters = 10, cacheKey = "q148")
    val nat = Tables.load(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
    r.join(broadcast(nat), col("node") === col("n_nationkey"))
      .select(col("n_name"), round(col("r"), 6).as("pr"))
      .orderBy("n_name")
  }

  /** W16 — Kaplan–Meier survival curve for time-to-purchase: per user,
    * duration (days) from first event to first purchase, censored at
    * the corpus horizon when no purchase occurs. The per-user
    * reduction is the distributed stage; at-risk counts and the
    * cumulative ln-product run on the duration table (bounded by
    * distinct day values), with ln terms decimal-summed per the q96
    * convention and a full-death guard (d = n ⇒ S = 0 thereafter).
    */
  private[graft] def qKaplanMeier(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = ev(s, dir).select(col("user_id"),
      expr("ts div 1000").as("us"), col("event_type"))
    val maxUs = e.agg(max("us")).head().getLong(0)
    val per = e.groupBy("user_id").agg(min("us").as("first_us"),
      min(when(col("event_type") === "purchase", col("us"))).as("p_us"))
    val tbl = per
      .select(expr(s"(coalesce(p_us, ${maxUs}) - first_us) div 86400000000").as("t"),
        when(col("p_us").isNotNull, 1L).otherwise(0L).as("died"))
      .groupBy("t").agg(sum("died").as("d"), count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.Caches.retain("q149", tbl)
    val tot = tbl.agg(sum("c")).head().getLong(0)
    val wPrev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    val wInc = Window.orderBy("t")
    val ar = tbl.withColumn("n_at_risk",
      lit(tot) - coalesce(sum("c").over(wPrev), lit(0L)))
    val term = when(col("d") < col("n_at_risk"),
      log(lit(1.0) - col("d").cast("double") / col("n_at_risk").cast("double"))
        .cast(DecimalType(38, 18)))
    val zf = when(col("d") >= col("n_at_risk"), 1).otherwise(0)
    ar.withColumn("zcum", max(zf).over(wInc))
      .withColumn("cum", sum(term).over(wInc))
      .where(col("d") > 0)
      .select(col("t"), col("n_at_risk"), col("d"),
        round(when(col("zcum") === 1, lit(0.0))
          .otherwise(exp(col("cum").cast("double"))), 6).as("survival"))
      .orderBy("t")
  }

  /** W17 — top first-5-event-type paths: the user-journey summary.
    * One key shuffle ranks events per user; paths assemble via
    * order-preserving array_sort over (rank, type) structs — no
    * unordered collect_list dependence — and the bounded path strings
    * aggregate map-side.
    */
  private[graft] def qEventPaths(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    ev(s, dir).select(col("user_id"), col("event_id"),
        expr("ts div 1000").as("us"), col("event_type"))
      .withColumn("rn", row_number().over(w)).where(col("rn") <= 5)
      .groupBy("user_id")
      .agg(expr("array_join(transform(array_sort(collect_list(struct(rn, event_type))), x -> x.event_type), '>')").as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_users"))
      .orderBy(desc("n_users"), col("path"))
      .limit(20)
  }

  /** A21 — trimmed + winsorized mean of extended price at the 10/90
    * fences: the robust-location twins (drop the tails vs clamp them).
    * Edges come from one exact distributed selection; both means are
    * conditional decimal aggregates in ONE pass.
    */
  private[graft] def qTrimmedMean(s: SparkSession, dir: String): DataFrame = {
    // NOT par()'d (r16 A/B: 1.17→2.51 s with it) — the quantile
    // selection's multi-pass reads dominate and prefer the single
    // row-group partition over 32-task-per-pass overhead
    val base = li(s, dir).select(col("l_extendedprice").cast("double").as("v"))
    val qs = Quantiles.exactQuantiles(base, "v", Seq(0.1, 0.9))
    val (p10, p90) = (qs(0), qs(1))
    val v = col("v")
    val kept = when(v >= p10 && v <= p90, v)
    val wins = when(v < p10, lit(p10)).when(v > p90, lit(p90)).otherwise(v)
    base.agg(count(lit(1)).as("n"),
      count(kept).as("n_kept"),
      round(Stats.dmean(kept), 6).as("trimmed_mean"),
      round(Stats.dmean(wins), 6).as("winsorized_mean"))
  }

  /** A22 — Mann–Whitney U (rank-sum) test between two order-priority
    * groups: the nonparametric twin of q141's Welch t. Ranks are the
    * distributed average-tie ranks of [[Rank.avgRank]] (no global
    * window); the tie-corrected normal approximation runs on exact
    * decimal rank sums.
    */
  private[graft] def qMannWhitney(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
      .select(col("o_orderpriority").as("g"),
        col("o_totalprice").cast("double").as("v"))
      .where(col("g").isin("1-URGENT", "5-LOW"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.Caches.retain("q152", o)
    val ranked = graft.core.Rank.avgRank(o, "v", "rk", "q152_rank")
    val ag = ranked.agg(
      count(when(col("g") === "1-URGENT", 1)).cast("double").as("n1"),
      count(when(col("g") === "5-LOW", 1)).cast("double").as("n2"),
      Stats.dsum(when(col("g") === "1-URGENT", col("rk"))).as("r1"))
    val t = col("t").cast("double")
    val tc = o.groupBy("v").agg(count(lit(1)).as("t"))
      .agg(Stats.dsum(t * t * t - t).as("tsum"))
    val n = col("n1") + col("n2")
    val u1 = col("r1") - col("n1") * (col("n1") + lit(1.0)) / lit(2.0)
    val sigma = sqrt(col("n1") * col("n2") / lit(12.0) *
      ((n + lit(1.0)) - col("tsum") / (n * (n - lit(1.0)))))
    ag.crossJoin(tc).select(
      col("n1").cast("long").as("n1"), col("n2").cast("long").as("n2"),
      round(u1, 4).as("u1"),
      round((u1 - col("n1") * col("n2") / lit(2.0)) / sigma, 6).as("z"))
  }

  /** A23 — two-proportion z-test on conversion (did the user purchase
    * at least twice — "ever purchased" saturates at ~1 in this data and
    * the pooled variance degenerates) between the even/odd user-id
    * cohorts: the categorical A/B primitive. One per-user reduction,
    * one conditional aggregate, pooled-variance z in mirrored double
    * arithmetic, null z when the pooled proportion is degenerate.
    */
  private[graft] def qPropZtest(s: SparkSession, dir: String): DataFrame = {
    val per = ev(s, dir).groupBy("user_id")
      .agg(when(sum(when(col("event_type") === "purchase", 1).otherwise(0))
        .geq(2), 1).otherwise(0).as("conv"))
      .select((col("user_id") % 2 === 0).as("a"), col("conv"))
    val ag = per.agg(
      count(when(col("a"), 1)).cast("double").as("n1"),
      count(when(!col("a"), 1)).cast("double").as("n2"),
      sum(when(col("a"), col("conv"))).cast("double").as("x1"),
      sum(when(!col("a"), col("conv"))).cast("double").as("x2"))
    val p1 = col("x1") / col("n1")
    val p2 = col("x2") / col("n2")
    val pp = (col("x1") + col("x2")) / (col("n1") + col("n2"))
    ag.select(col("n1").cast("long").as("n1"), col("n2").cast("long").as("n2"),
      col("x1").cast("long").as("conv1"), col("x2").cast("long").as("conv2"),
      round(p1, 6).as("p1"), round(p2, 6).as("p2"),
      round(when(pp > 0.0 && pp < 1.0,
        (p1 - p2) / sqrt(pp * (lit(1.0) - pp) *
          (lit(1.0) / col("n1") + lit(1.0) / col("n2")))), 6).as("z"))
  }

  /** W18 — classical seasonal decomposition of the daily event-count
    * series: trend = centered 7-row moving average (complete windows
    * only), seasonal = day-of-week mean of the detrended series,
    * residual = remainder. The distributed stage is the daily
    * aggregate; the decomposition runs on the bounded day table. Both
    * engines apply identical ROWS-window semantics, so parity holds
    * even across calendar gaps.
    */
  private[graft] def qSeasonalDecompose(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = ev(s, dir)
      .select(expr("(ts div 1000) div 86400000000").as("d"))
      .groupBy("d").agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.Caches.retain("q154", daily)
    val w7 = Window.orderBy("d").rowsBetween(-3, 3)
    val dt = daily
      .withColumn("trend", when(count(lit(1)).over(w7) === 7,
        sum("c").over(w7).cast("double") / lit(7.0)))
      .withColumn("detr", col("c").cast("double") - col("trend"))
      .withColumn("dow", (col("d") + 4) % 7)
    val se = dt.groupBy("dow").agg(Stats.dmean(col("detr")).as("seasonal"))
    dt.join(broadcast(se), "dow")
      .select(col("d"), col("c"), round(col("trend"), 6).as("trend"),
        round(col("seasonal"), 6).as("seasonal"),
        round(col("detr") - col("seasonal"), 6).as("resid"))
      .orderBy("d")
  }

  /** F10 — quantile normalization of three lineitem measures onto
    * their consensus distribution (the cross-sample calibration step
    * from genomics, applied as feature prep): each column's sorted
    * values align by position via the distributed [[PrefixScan]] (no
    * global row_number window), the target is the positionwise mean,
    * and each column reports its correlation with — and mean absolute
    * deviation from — the consensus. Tied positions swap freely but
    * carry equal values, so every output is tie-order invariant.
    */
  private[graft] def qQuantileNormalize(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
    val tabs = cols.zipWithIndex.map { case (c, i) =>
      val base = li(s, dir).select(col(c).cast("double").as(s"v$i"),
        lit(1L).as("one"))
      val (scanned, _) = PrefixScan.build(base, s"v$i", Seq("one"), s"q155_$i")
      scanned.select(col("cum_one_below").as("pos"), col(s"v$i"))
    }
    val t = tabs(0).join(tabs(1), "pos").join(tabs(2), "pos")
      .withColumn("tg", (col("v0") + col("v1") + col("v2")) / lit(3.0))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.Caches.retain("q155", t)
    val aggs = cols.indices.flatMap { i =>
      val x = col(s"v$i"); val y = col("tg")
      Seq(Stats.dsum(x).as(s"sx_$i"), Stats.dsum(x * x).as(s"sxx_$i"),
        Stats.dsum(x * y).as(s"sxy_$i"),
        Stats.dsum(abs(x - y)).as(s"sad_$i"))
    } ++ Seq(Stats.dsum(col("tg")).as("sy"),
      Stats.dsum(col("tg") * col("tg")).as("syy"),
      count(lit(1)).cast("double").as("n"))
    val m = t.agg(aggs.head, aggs.tail: _*)
    val rows = cols.zipWithIndex.map { case (c, i) =>
      val n = col("n")
      val vx = n * col(s"sxx_$i") - col(s"sx_$i") * col(s"sx_$i")
      val vy = n * col("syy") - col("sy") * col("sy")
      val num = n * col(s"sxy_$i") - col(s"sx_$i") * col("sy")
      struct(lit(c).as("column_name"),
        round(num / (sqrt(vx) * sqrt(vy)), 6).as("corr_consensus"),
        round(col(s"sad_$i") / n, 6).as("mad_consensus"))
    }
    m.select(explode(array(rows: _*)).as("p"))
      .select(col("p.column_name"), col("p.corr_consensus"),
        col("p.mad_consensus"))
      .orderBy("column_name")
  }

  /** G2 — triangle census of the brand co-occurrence graph (edges =
    * brand pairs sharing ≥ 5 orders, from the q144 incidence): global
    * clustering coefficient = 3·triangles / connected triples. The
    * oriented (b1 < b2) edge list makes each triangle count exactly
    * once; the census is two equi-joins over the persisted edge table
    * and the triple count is pure integer degree arithmetic.
    */
  private[graft] def qTriangles(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.load(s, dir, "part").select(col("p_partkey"), col("p_brand"))
    val ob = li(s, dir).select(col("l_orderkey"), col("l_partkey"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("ok"), col("p_brand").as("b"))
      .distinct()
    val e = ob.toDF("ok", "b1")
      .join(ob.toDF("ok2", "b2"), col("ok") === col("ok2") && col("b1") < col("b2"))
      .groupBy("b1", "b2").agg(count(lit(1)).as("np"))
      .where(col("np") >= 5).select("b1", "b2")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.Caches.retain("q156", e)
    val deg = e.select(col("b1").as("b")).union(e.select(col("b2").as("b")))
      .groupBy("b").agg(count(lit(1)).as("dg"))
    val triples = deg.agg(sum(col("dg") * (col("dg") - 1) / 2).as("triples"))
    val tri = e.toDF("x", "y")
      .join(e.toDF("y", "z2").withColumnRenamed("y", "y2"),
        col("y") === col("y2"))
      .join(e.toDF("x3", "z3"),
        col("x") === col("x3") && col("z2") === col("z3"))
      .agg(count(lit(1)).as("tri"))
    val ne = e.agg(count(lit(1)).as("n_edges"))
    ne.crossJoin(tri).crossJoin(triples)
      .select(col("n_edges"), col("tri").as("n_triangles"),
        col("triples").cast("long").as("n_triples"),
        round(lit(3.0) * col("tri").cast("double") /
          col("triples").cast("double"), 6).as("clustering_coef"))
  }

  /** A24 — log-rank test comparing time-to-purchase survival between
    * the even/odd user cohorts: the standard two-sample censored-data
    * test, sharing q149's duration machinery. Per event time, observed
    * vs expected cohort-A deaths under the hypergeometric null; the
    * statistic runs on decimal-summed terms over the bounded
    * distinct-duration table.
    */
  private[graft] def qLogRank(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = ev(s, dir).select(col("user_id"),
      expr("ts div 1000").as("us"), col("event_type"))
    val maxUs = e.agg(max("us")).head().getLong(0)
    val per = e.groupBy("user_id").agg(min("us").as("first_us"),
      min(when(col("event_type") === "purchase", col("us"))).as("p_us"))
    val tbl = per.select(
        expr(s"(coalesce(p_us, ${maxUs}) - first_us) div 86400000000").as("t"),
        when(col("p_us").isNotNull, 1L).otherwise(0L).as("died"),
        (col("user_id") % 2 === 0).as("a"))
      .groupBy("t").agg(
        sum(when(col("a"), col("died")).otherwise(0L)).as("d1"),
        sum("died").as("d"),
        count(when(col("a"), 1)).as("c1"),
        count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.Caches.retain("q157", tbl)
    val tots = tbl.agg(sum("c1"), sum("c")).head()
    val (tot1, tot) = (tots.getLong(0), tots.getLong(1))
    val wPrev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    val ar = tbl
      .withColumn("n1", lit(tot1) - coalesce(sum("c1").over(wPrev), lit(0L)))
      .withColumn("n", lit(tot) - coalesce(sum("c").over(wPrev), lit(0L)))
      .where(col("d") > 0)
    val dD = col("d").cast("double"); val n1D = col("n1").cast("double")
    val nD = col("n").cast("double")
    val e1 = dD * n1D / nD
    val v1 = when(col("n") > 1,
      dD * (n1D / nD) * (lit(1.0) - n1D / nD) *
        (nD - dD) / (nD - lit(1.0))).otherwise(lit(0.0))
    val agg = ar.agg(count(lit(1)).as("n_event_times"),
      Stats.dsum(col("d1").cast("double") - e1).as("oe"),
      Stats.dsum(v1).as("v"))
    agg.select(col("n_event_times"), round(col("oe"), 6).as("o_minus_e"),
      round(col("v"), 6).as("var_sum"),
      round(col("oe") / sqrt(col("v")), 6).as("z"))
  }

  /** W19 — Pettitt changepoint test on the daily event-count series:
    * the rank-based nonparametric location-shift detector. Ranks come
    * from the windowless [[graft.core.Rank.avgRank]]; the U statistic
    * is exact integer arithmetic over cumulative rank sums on the
    * bounded day table, and the changepoint is the earliest argmax of
    * |U|.
    */
  private[graft] def qPettitt(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = ev(s, dir)
      .select(expr("(ts div 1000) div 86400000000").as("d"))
      .groupBy("d").agg(count(lit(1)).cast("double").as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.Caches.retain("q158", daily)
    val nN = daily.count()
    val ranked = graft.core.Rank.avgRank(daily, "c", "rk", "q158_rank")
    val wInc = Window.orderBy("d")
    val ut = ranked
      .withColumn("pos", row_number().over(wInc))
      .withColumn("srk", sum(col("rk").cast(DecimalType(38, 10))).over(wInc)
        .cast("double"))
      .where(col("pos") < nN) // U_n ≡ 0 by construction; t ranges 1..n−1
      .select(col("d"),
        (lit(2.0) * col("srk") - col("pos").cast("double") *
          lit((nN + 1).toDouble)).as("u"))
    val top = ut.orderBy(abs(col("u")).desc, col("d")).limit(1)
    val k = abs(col("u"))
    top.select(col("d").as("changepoint_day"), col("u").cast("long").as("u"),
      round(lit(2.0) * exp(lit(-6.0) * k * k /
        lit((nN.toDouble * nN * nN + nN.toDouble * nN))), 6).as("p_approx"))
  }

  /** T1 — pointwise mutual information of word pairs co-occurring in a
    * document: the collocation/association mine over the corpus. The
    * (doc, word) incidence deduplicates once (the q144 basket shape on
    * text); pair counts shuffle on the doc key with per-doc width
    * bounded by the distinct-word count; PMI is mirrored double
    * arithmetic over exact counts.
    */
  private[graft] def qPmi(s: SparkSession, dir: String): DataFrame = {
    val dw = doc(s, dir).select(col("doc_id"),
        explode(expr("filter(split(text, ' '), t -> t != '')")).as("w"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.Caches.retain("q159", dw)
    val nD = dw.select("doc_id").distinct().count()
    // wc feeds TWO broadcast builds (the w1 and w2 joins) — vocab-sized,
    // but unpersisted each build re-aggregates the dw cache (r16)
    val wc = dw.groupBy("w").agg(count(lit(1)).as("cw"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.Caches.retain("q159", wc)
    val pairs = dw.toDF("doc_id", "w1")
      .join(dw.toDF("doc2", "w2"),
        col("doc_id") === col("doc2") && col("w1") < col("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("cab"))
      .where(col("cab") >= 5)
    pairs.join(broadcast(wc.toDF("w1", "c1")), "w1")
      .join(broadcast(wc.toDF("w2", "c2")), "w2")
      .select(col("w1"), col("w2"), col("cab"),
        round(log(col("cab").cast("double") * lit(nD.toDouble) /
          (col("c1").cast("double") * col("c2").cast("double"))), 6).as("pmi"))
      .orderBy(desc("pmi"), col("w1"), col("w2"))
      .limit(20)
  }

  /** O6 — CUBE over (returnflag, linestatus): all four grouping sets in
    * ONE pass — Spark expands the grouping sets map-side and the
    * partials stay mergeable decimal sums, so the cube costs one
    * shuffle, not four scans. `grouping_id` disambiguates levels; null
    * markers project to 'ALL' so the output carries no null-ordering
    * ambiguity between engines.
    */
  private[graft] def qCube(s: SparkSession, dir: String): DataFrame =
    // par(): cube's Expand quadruples every row into a decimal-exact
    // partial aggregation — single-core on a one-row-group scan (r16)
    par(li(s, dir))
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
        round(Stats.dsum(col("l_quantity")), 4).as("sum_qty"),
        round(Stats.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
          .as("revenue"))
      .select(col("gid").cast("long").as("gid"),
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("n"), col("sum_qty"), col("revenue"))
      .orderBy("gid", "rf", "ls")

  /** A25 — Kruskal–Wallis H across the returnflag groups on quantity:
    * the k-sample generalization of Mann–Whitney. Ranks come from the
    * windowless [[graft.core.Rank.avgRank]] (prefix scan over the
    * bounded distinct-value table — quantity has ~50 distinct values,
    * so ties dominate and the tie correction is load-bearing). Rank
    * sums are decimal partials; H and the tie term are mirrored double
    * arithmetic over exact counts.
    */
  private[graft] def qKruskal(s: SparkSession, dir: String): DataFrame = {
    val d = col("l_quantity").cast("double")
    val base = li(s, dir)
      .where(col("l_quantity").isNotNull && !isnan(d))
      .select(col("l_returnflag").as("g"), d.as("v"))
    val ranked = graft.core.Rank.avgRank(base, "v", "rk", "q161_rank")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.Caches.retain("q161", ranked)
    val grp = ranked.groupBy("g").agg(count(lit(1)).as("nj"),
      Stats.dsum(col("rk")).as("rj"))
    // second-level rj²/nj terms are wide doubles whose decimal casts
    // differ between engines in low digits — over 3 rows use the
    // order-defined IEEE fold instead (see orderedFoldSum)
    val summ = grp.agg(sum("nj").as("n"), count(lit(1)).as("k"),
      orderedFoldSum(col("g"),
        col("rj") * col("rj") / col("nj").cast("double")).as("s2"))
    val ties = ranked.groupBy("v")
      .agg(count(lit(1)).cast("double").as("t"))
      .agg(Stats.dsum(col("t") * col("t") * col("t") - col("t")).as("tsum"))
    val nD = col("n").cast("double")
    val h = lit(12.0) / (nD * (nD + lit(1.0))) * col("s2") -
      lit(3.0) * (nD + lit(1.0))
    val cc = lit(1.0) - col("tsum") / (nD * nD * nD - nD)
    summ.crossJoin(ties).select(col("n"), col("k"),
      round(h, 6).as("h"), round(cc, 6).as("tie_c"),
      round(h / cc, 6).as("h_adj"))
  }

  /** A26 — Jarque–Bera normality screen per numeric column: skewness,
    * excess kurtosis, and JB = n/6·(S² + K²/4) from CENTRAL moments —
    * one fused pass for all means, one fused pass for all (x−μ)^p
    * sums, both over the shared cached stats slice. Centering first
    * keeps the decimal partials inside DECIMAL(38,10) headroom (raw
    * Σx⁴ of a 10⁵-scale column would overflow near SF1000); μ is a
    * driver scalar folded into the second pass as a literal.
    */
  private[graft] def qJarqueBera(s: SparkSession, dir: String): DataFrame = {
    val cols = lineitemNumerics
    // persist the par'd slice: the mean pass and the central-moment
    // pass otherwise each pay the serial cache read + re-shuffle (r16)
    val t = par(liStats(s, dir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.Caches.retain("entry.q162", t)
    def vd(c: String) = {
      val d = col(c).cast("double")
      when(col(c).isNotNull && !isnan(d), d)
    }
    val meanAggs = cols.flatMap { c =>
      Seq(Stats.dsum(vd(c)).as(s"s_$c"), count(vd(c)).as(s"n_$c"))
    }
    val mrow = t.agg(meanAggs.head, meanAggs.tail: _*).head()
    val mus = cols.map { c =>
      c -> mrow.getAs[Double](s"s_$c") / mrow.getAs[Long](s"n_$c").toDouble
    }.toMap
    val cAggs = cols.flatMap { c =>
      val v = vd(c) - lit(mus(c))
      Seq(count(vd(c)).as(s"n_$c"), Stats.dsum(v * v).as(s"m2_$c"),
        Stats.dsum(v * v * v).as(s"m3_$c"),
        Stats.dsum(v * v * v * v).as(s"m4_$c"))
    }
    val m = t.agg(cAggs.head, cAggs.tail: _*)
    val rows = cols.map { c =>
      val nD = col(s"n_$c").cast("double")
      val m2 = col(s"m2_$c") / nD
      val m3 = col(s"m3_$c") / nD
      val m4 = col(s"m4_$c") / nD
      val sk = m3 / pow(m2, lit(1.5))
      val ku = m4 / (m2 * m2) - lit(3.0)
      struct(lit(c).as("column_name"), col(s"n_$c").as("n"),
        round(sk, 6).as("skewness"), round(ku, 6).as("kurtosis_excess"),
        round(nD / lit(6.0) * (sk * sk + ku * ku / lit(4.0)), 6).as("jb"))
    }
    m.select(explode(array(rows: _*)).as("p"))
      .select(col("p.column_name"), col("p.n"), col("p.skewness"),
        col("p.kurtosis_excess"), col("p.jb"))
      .orderBy("column_name")
  }

  /** A27 — one-way ANOVA F across the returnflag groups on extended
    * price: between/within sums of squares from per-group decimal
    * partials of the CENTERED values (grand mean subtracted first, the
    * q162 pattern). Centering is load-bearing for cross-engine
    * determinism, not just conditioning: uncentered Σsj²/nj terms have
    * 10-bit binary fractions, so their 54-bit-precision sums land on
    * exact double midpoints where Java (half-up) and strtod
    * (half-even) disagree — observed 1-ulp flips at two of three
    * scales. Centered terms carry full-length decimal tails, making
    * midpoints measure-zero. The grand totals derive from the k group
    * rows, so the second aggregation is over a bounded table.
    */
  private[graft] def qAnova(s: SparkSession, dir: String): DataFrame = {
    val d = col("l_extendedprice").cast("double")
    val v = when(col("l_extendedprice").isNotNull && !isnan(d), d)
    // NOT par()'d unlike its q172/q195 siblings (r16 A/B: 1.49→1.62 s
    // with it): without their median/mean prepass there is no reuse to
    // amortize the repartition shuffle against
    centeredAnovaF(li(s, dir).select(col("l_returnflag").as("g"), v.as("v")))
  }

  /** Shared core of q163/q172: one-way F over a (g, v) frame with the
    * grand mean subtracted first (see qAnova's determinism note —
    * centering makes the double-midpoint tie class measure-zero).
    * [[centeredAnovaSql]] is its oracle twin over a `d(g, v)` CTE.
    */
  private[graft] def centeredAnovaF(gv0: DataFrame): DataFrame = {
    // persist the (g, v) frame: it feeds the grand-mean pass here AND
    // the centered-F pass below — without it each pass re-runs the
    // caller's whole upstream (scan + par shuffle + centering join)
    // (r16 second pass; guide §5 caching-for-reuse)
    val gv = gv0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.Caches.retain("entry.centeredAnovaF", gv)
    val mrow = gv.agg(Stats.dsum(col("v")).as("s"), count(col("v")).as("c")).head()
    // round the centering constant to 6 dp: every caller feeds v with
    // ≤6 decimal places, so vc = v − mu stays EXACTLY representable in
    // DECIMAL(38,10) and the first-level sums are decimal-exact on both
    // engines. An unrounded mu has a full double fraction, and the two
    // engines' double→decimal casts disagree on half-ulp cases (Spark
    // shortest-repr string vs DuckDB ×10¹⁰ double multiply) — observed
    // as a last-digit ss_within flip on q195 at sf0.1. Centering is a
    // numerical-conditioning device; a ≤5e-7 shift of the center is
    // statistically nil and F is invariant to it up to that epsilon.
    val mu = math.round(
      mrow.getAs[Double]("s") / mrow.getAs[Long]("c").toDouble * 1e6) / 1e6
    // Two determinism guards, both observed failing in the wild:
    // centering makes the grp-level sums well-conditioned (see qAnova
    // note), and the SECOND level avoids decimal casts entirely —
    // both engines' double→decimal casts are APPROXIMATIONS for wide
    // values (Spark goes through the shortest-repr string, DuckDB
    // multiplies by 10¹⁰ in double), whose low-digit junk surfaces
    // whenever a small-row-count sum lands near a double rounding
    // boundary. Over the BOUNDED group table the order-defined IEEE
    // fold is exactly mirrorable instead (list_reduce ORDER BY g).
    val vc = col("v") - lit(mu)
    // Integer micro-unit accumulation: vc is a ≤6-dp value (callers
    // feed ≤6-dp v, mu is 6-dp), so w = round(vc·10⁶) recovers its
    // EXACT integer micro-units on both engines (the double is within
    // 3e-5 of the integer — any rounding convention agrees), and Σw,
    // Σw² in exact decimal arithmetic are bitwise mirrorable. Summing
    // vc² as doubles is not: the product carries a full fraction, and
    // the engines' double→decimal casts (Spark shortest-repr string,
    // DuckDB ×10^scale double multiply) disagree on half-ulp cases —
    // observed flipping q195's ss_within last ulp at sf0.1.
    val w = round(vc * lit(1000000.0)).cast(DecimalType(38, 0))
    val grp = gv.groupBy("g")
      .agg(count(vc).as("nj"),
        (sum(w).cast(DoubleType) / lit(1000000.0)).as("sj"),
        (sum(w * w).cast(DoubleType) / lit(1.0e12)).as("sj2"))
    val njD = col("nj").cast("double")
    val summ = grp.agg(sum("nj").as("n"), count(lit(1)).as("k"),
      orderedFoldSum(col("g"), col("sj")).as("st"),
      orderedFoldSum(col("g"),
        col("sj2") - col("sj") * col("sj") / njD).as("ssw"),
      orderedFoldSum(col("g"), col("sj") * col("sj") / njD).as("sb_part"))
    val nD = col("n").cast("double"); val kD = col("k").cast("double")
    val ssb = col("sb_part") - col("st") * col("st") / nD
    val f = (ssb / (kD - lit(1.0))) / (col("ssw") / (nD - kD))
    // SS columns round to INTEGERS, not 6 dp: at ss ~ 1e14, DuckDB's
    // round(x, 6) computes x·10⁶ (≈1e20, far past 2⁵³) and hands back a
    // DIFFERENT double — the scale-0 round has no multiply and both
    // engines agree. Sub-integer digits of a 1e14 sum are noise anyway;
    // f_stat is O(1) and keeps its 6 dp.
    summ.select(col("n"), col("k"), round(ssb).as("ss_between"),
      round(col("ssw")).as("ss_within"), round(f, 6).as("f_stat"))
  }

  /** Order-defined IEEE sum over a BOUNDED group table (second-level
    * aggregates): collect (key, term) pairs, sort, left-fold plain
    * double adds — NO decimal casts. Both engines' double→decimal
    * casts are approximations for wide values (Spark rounds through
    * the shortest-repr string, DuckDB multiplies by 10^scale in
    * double), and over a handful of rows that junk is not averaged
    * away — observed flipping q172's ss_within across the nearest-
    * double boundary. The fold is mirrored exactly by
    * `list_reduce(list(term ORDER BY key), (s, x) -> s + x)`.
    */
  private[graft] def orderedFoldSum(key: Column, term: Column): Column = {
    val arr = array_sort(collect_list(struct(key.as("k"), term.as("v"))))
    aggregate(slice(arr, lit(2), size(arr) - lit(1)),
      element_at(arr, 1).getField("v"), (s, x) => s + x.getField("v"))
  }

  /** Oracle twin of [[centeredAnovaF]]: emits the full statement given
    * the body of a `d` CTE producing (g, v) rows.
    */
  private[graft] def centeredAnovaSql(dBody: String): String = {
    val nD = "CAST(n AS DOUBLE)"; val kD = "CAST(k AS DOUBLE)"
    val ssb = "(sb_part - st * st / " + nD + ")"
    val vc = "(v - m)"
    s"""WITH d AS ($dBody),
       | mu AS (SELECT round(${Stats.Sql.dsumWide("v")} /
       |   CAST(count(v) AS DOUBLE), 6) AS m FROM d),
       | grp AS (SELECT g, count($vc) AS nj,
       |   CAST(CAST(sum(CAST(round(($vc) * 1000000.0) AS HUGEINT)) AS VARCHAR)
       |     AS DOUBLE) / 1000000.0 AS sj,
       |   CAST(CAST(sum(CAST(round(($vc) * 1000000.0) AS HUGEINT) *
       |     CAST(round(($vc) * 1000000.0) AS HUGEINT)) AS VARCHAR)
       |     AS DOUBLE) / 1.0e12 AS sj2
       |  FROM d, mu GROUP BY g),
       | summ AS (SELECT CAST(sum(nj) AS BIGINT) AS n, count(*) AS k,
       |   list_reduce(list(sj ORDER BY g), (s, x) -> s + x) AS st,
       |   list_reduce(list(sj2 - sj * sj / CAST(nj AS DOUBLE) ORDER BY g),
       |     (s, x) -> s + x) AS ssw,
       |   list_reduce(list(sj * sj / CAST(nj AS DOUBLE) ORDER BY g),
       |     (s, x) -> s + x) AS sb_part FROM grp)
       | SELECT n, k, round($ssb) AS ss_between, round(ssw) AS ss_within,
       |  round(($ssb / ($kD - 1.0)) / (ssw / ($nD - $kD)), 6) AS f_stat
       | FROM summ""".stripMargin.replaceAll("\n", " ")
  }

  /** T2 — BM25 relevance scoring of the corpus against a fixed term
    * set: the classic retrieval ranker over the q81 vocabulary
    * machinery. Corpus stats (N, df per term, avgdl) reduce to a
    * handful of driver scalars in ONE pass over the tokenized frame;
    * scoring is then a pure codegen'd map stage (idf constants folded
    * into the plan) + TakeOrdered top-k — no join, no second shuffle.
    */
  /** The BM25-scored frame behind q164 and q212's lexical leg:
    * (doc_id, dl, score) with the RAW score (rounding happens at each
    * query's output edge — q212 ranks on the raw value exactly like
    * the oracle does).
    */
  private[graft] def bm25Frame(s: SparkSession, dir: String,
                        terms: Seq[String]): DataFrame = {
    val base = doc(s, dir)
      .select(col("doc_id"), expr("split(text, ' ')").as("toks"))
      .withColumn("dl", size(col("toks")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.Caches.retain("q164", base)
    val statAggs = Seq(count(lit(1)).as("n_docs"),
      Stats.dsum(col("dl")).as("sdl")) ++
      terms.zipWithIndex.map { case (t, i) =>
        count(when(array_contains(col("toks"), t), 1)).as(s"df_$i")
      }
    val st = base.agg(statAggs.head, statAggs.tail: _*).head()
    val nD = st.getAs[Long]("n_docs").toDouble
    val avgdl = st.getAs[Double]("sdl") / nD
    val dlD = col("dl").cast("double")
    val score = terms.zipWithIndex.map { case (t, i) =>
      val dfD = st.getAs[Long](s"df_$i").toDouble
      val idf = math.log((nD - dfD + 0.5) / (dfD + 0.5) + 1.0)
      val tf = size(expr(s"filter(toks, x -> x = '$t')")).cast("double")
      lit(idf) * tf / (tf + lit(1.2) *
        (lit(1.0) - lit(0.75) + lit(0.75) * dlD / lit(avgdl)))
    }.reduce(_ + _)
    base.select(col("doc_id"), col("dl").cast("long").as("dl"),
      score.as("score"))
  }

  private[graft] def qBm25(s: SparkSession, dir: String): DataFrame =
    bm25Frame(s, dir, Seq("join", "hash", "filter"))
      .select(col("doc_id"), col("dl"), round(col("score"), 6).as("bm25"))
      .orderBy(desc("bm25"), col("doc_id")).limit(20)

  /** Q1 — referential-integrity audit across the star schema's FK
    * relationships (+ one deliberately-corrupted twin proving
    * detection): the deequ-style orphan check. Each relationship
    * reduces the child to DISTINCT (fk, row-count) pairs FIRST — only
    * fixed-width keys and counts shuffle, never payload — then one
    * left-anti join against the parent's key set. Child rows re-derive
    * from the same bounded key table, so the audit costs one narrow
    * shuffle + one anti-join per relationship.
    */
  private[graft] def qRefIntegrity(s: SparkSession, dir: String): DataFrame = {
    def rel(name: String, child: DataFrame, fk: String,
            parent: DataFrame, pk: String): DataFrame = {
      val ck = child.select(col(fk).as("k")).where(col("k").isNotNull)
        .groupBy("k").agg(count(lit(1)).as("cnt"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      graft.core.Caches.retain(s"q165_$name", ck)
      val orph = ck.join(parent.select(col(pk).as("k")).distinct(),
        Seq("k"), "left_anti")
      ck.agg(count(lit(1)).as("fk_keys"), sum("cnt").as("child_rows"))
        .crossJoin(orph.agg(count(lit(1)).as("orphan_keys"),
          coalesce(sum("cnt"), lit(0L)).as("orphan_rows")))
        .select(lit(name).as("relationship"), col("fk_keys"),
          col("child_rows").cast("long").as("child_rows"),
          col("orphan_keys"),
          col("orphan_rows").cast("long").as("orphan_rows"))
    }
    val o = Tables.load(s, dir, "orders"); val liT = li(s, dir)
    val cust = Tables.load(s, dir, "customer")
    Seq(
      rel("customer.nationkey->nation", cust, "c_nationkey",
        Tables.load(s, dir, "nation"), "n_nationkey"),
      rel("lineitem.orderkey->orders", liT, "l_orderkey", o, "o_orderkey"),
      rel("lineitem.orderkey->orders[mod3-corrupted]", liT, "l_orderkey",
        o.where(col("o_orderkey") % 3 =!= 0), "o_orderkey"),
      rel("lineitem.partkey->part", liT, "l_partkey",
        Tables.load(s, dir, "part"), "p_partkey"),
      rel("orders.custkey->customer", o, "o_custkey", cust, "c_custkey"))
      .reduce(_ union _).orderBy("relationship")
  }

  /** A28 — Kendall tau-b between daily order count and daily revenue:
    * the rank-correlation twin of q121's Spearman, computed by exact
    * pair classification over the day-level series. The pair join is
    * bounded by the CALENDAR (distinct days), not the data — at any SF
    * it is a ~2.4k×2.4k comparison of 24-byte rows — so the quadratic
    * step is scale-free by construction; the revenue doubles feeding
    * the equality tests are wide-sum parity-safe on both engines.
    */
  private[graft] def qKendall(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.load(s, dir, "orders")
      .groupBy(expr("unix_timestamp(o_orderdate) div 86400").as("d"))
      .agg(count(lit(1)).cast("double").as("x"),
        Stats.dsum(col("o_totalprice")).as("y"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.Caches.retain("q166", daily)
    val nDays = daily.count()
    val p = daily.toDF("d1", "x1", "y1")
      .join(daily.toDF("d2", "x2", "y2"), col("d1") < col("d2"))
    val conc = (col("x1") < col("x2") && col("y1") < col("y2")) ||
      (col("x1") > col("x2") && col("y1") > col("y2"))
    val disc = (col("x1") < col("x2") && col("y1") > col("y2")) ||
      (col("x1") > col("x2") && col("y1") < col("y2"))
    val tx = col("x1") === col("x2") && col("y1") =!= col("y2")
    val ty = col("y1") === col("y2") && col("x1") =!= col("x2")
    val agg = p.agg(count(when(conc, 1)).as("nc"), count(when(disc, 1)).as("nd"),
      count(when(tx, 1)).as("tie_x"), count(when(ty, 1)).as("tie_y"))
    val ncD = col("nc").cast("double"); val ndD = col("nd").cast("double")
    val txD = col("tie_x").cast("double"); val tyD = col("tie_y").cast("double")
    agg.select(lit(nDays).as("n_days"), col("nc"), col("nd"),
      col("tie_x"), col("tie_y"),
      round((ncD - ndD) /
        sqrt((ncD + ndD + txD) * (ncD + ndD + tyD)), 6).as("tau_b"))
  }

  /** W20 — Holt linear-trend smoothing of each nation's monthly
    * revenue ([[graft.seq.Rolling.holtByKey]]): level+trend state with
    * a one-step forecast. One narrow join tree (orders⋈customer
    * shuffled on custkey, nation broadcast), one shuffle on the
    * 25-key group, per-key fold state bounded by the month count.
    */
  private[graft] def qHolt(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders").select(col("o_custkey"),
      col("o_totalprice"),
      (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("ym"))
    val c = Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val n = Tables.load(s, dir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    val monthly = o.join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("ym"))
      .agg(Stats.dsum(col("o_totalprice")).as("rev"))
    graft.seq.Rolling.holtByKey(monthly, Seq("n_name"), "ym", "rev",
        alpha = 0.5, beta = 0.3)
      .select(col("n_name"), col("n"), round(col("level"), 6).as("level"),
        round(col("trend"), 6).as("trend"),
        round(col("forecast"), 6).as("forecast"))
      .orderBy("n_name")
  }

  /** S1' — item–item collaborative similarity: cosine between brands
    * over the customer×brand purchase-count matrix (the
    * neighborhood-method recommender primitive). Entirely EXACT
    * integer arithmetic until the final cosine: counts, squared norms
    * and pair dot-products are integer sums (bitwise cross-engine),
    * so no decimal machinery is needed. The pair join shuffles the
    * (customer, brand, n) incidence on the customer key with per-key
    * fan-out bounded by the brand count (~25), the same shape as q144
    * baskets; norms broadcast back onto the bounded pair table.
    */
  private[graft] def qItemSim(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.load(s, dir, "part").select(col("p_partkey"), col("p_brand"))
    val o = Tables.load(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val cb = li(s, dir).select(col("l_orderkey"), col("l_partkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("o_custkey").as("cust"), col("p_brand").as("b"))
      .agg(count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.Caches.retain("q168", cb)
    val norms = cb.groupBy("b").agg(sum(col("n") * col("n")).as("sn2"))
      .select(col("b"), sqrt(col("sn2").cast("double")).as("nrm"))
    val pairs = cb.toDF("cust", "b1", "n1")
      .join(cb.toDF("cust2", "b2", "n2"),
        col("cust") === col("cust2") && col("b1") < col("b2"))
      .groupBy("b1", "b2").agg(sum(col("n1") * col("n2")).as("dot"))
    pairs
      .join(broadcast(norms.toDF("b1", "nrm1")), "b1")
      .join(broadcast(norms.toDF("b2", "nrm2")), "b2")
      .select(col("b1"), col("b2"), col("dot").cast("long").as("dot"),
        round(col("dot").cast("double") / (col("nrm1") * col("nrm2")), 6)
          .as("cosine"))
      .orderBy(desc("cosine"), col("b1"), col("b2"))
      .limit(20)
  }

  /** Q2 — functional-dependency audit (X → Y candidates with the g3
    * violation measure: minimum rows to delete for the FD to hold =
    * Σ_x (n_x − max_y n_xy)). Two narrow count shuffles per candidate
    * — (x,y) pairs then x — nothing wider than keys and counts ever
    * moves; TPC-H's brand→mfgr FD genuinely holds while type→size is
    * genuinely violated, so both verdict branches are exercised.
    */
  private[graft] def qFdAudit(s: SparkSession, dir: String): DataFrame = {
    def fd(name: String, t: DataFrame, x: String, y: String): DataFrame = {
      val perX = t.groupBy(col(x).as("x"), col(y).as("y"))
        .agg(count(lit(1)).as("c"))
        .groupBy("x").agg(sum("c").as("nx"), max("c").as("mx"),
          count(lit(1)).as("ndv"))
      perX.agg(count(lit(1)).as("lhs_values"),
        count(when(col("ndv") > 1, 1)).as("violating_lhs"),
        sum(col("nx") - col("mx")).as("vr"))
        .select(lit(name).as("fd"), col("lhs_values"), col("violating_lhs"),
          col("vr").cast("long").as("violation_rows"),
          (col("violating_lhs") === 0).as("holds"))
    }
    val part = Tables.load(s, dir, "part")
    Seq(
      fd("customer: c_nationkey->c_mktsegment",
        Tables.load(s, dir, "customer"), "c_nationkey", "c_mktsegment"),
      fd("nation: n_nationkey->n_regionkey",
        Tables.load(s, dir, "nation"), "n_nationkey", "n_regionkey"),
      fd("orders: o_custkey->o_orderpriority",
        Tables.load(s, dir, "orders"), "o_custkey", "o_orderpriority"),
      fd("part: p_name->p_brand", part, "p_name", "p_brand"),
      fd("part: p_type->p_size", part, "p_type", "p_size"))
      .reduce(_ union _).orderBy("fd")
  }

  /** A29 — NDCG@100 of the returnflag classifier ranking (binary
    * gains): the graded ranking-quality companion to q10's AUC. The
    * top-k cut is a TakeOrdered (never a global sort); positions are
    * minted by a window over the ALREADY-bounded k-row frame, so the
    * single-partition window is k-bounded by construction. IDCG sums
    * the ideal discount series over a driver-bounded range.
    */
  private[graft] def qNdcg(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = 100
    val d = li(s, dir).select(
      when(col("l_returnflag") === "R", 1).otherwise(0).as("label"),
      col("l_extendedprice").as("score"), col("l_orderkey"), col("l_linenumber"))
    val nPos = d.agg(sum("label")).head().getLong(0)
    val ord = Seq(desc("score"), asc("l_orderkey"), asc("l_linenumber"))
    val top = d.orderBy(ord: _*).limit(k)
      .withColumn("pos", row_number().over(Window.orderBy(ord: _*)))
    val dcg = top.agg(Stats.dsum(col("label").cast("double") /
      log2(col("pos").cast("double") + lit(1.0))).as("dcg"))
    val idcg = s.range(1L, math.min(k.toLong, nPos) + 1L).toDF("i")
      .agg(Stats.dsum(lit(1.0) /
        log2(col("i").cast("double") + lit(1.0))).as("idcg"))
    dcg.crossJoin(idcg).select(lit(k).as("k"), lit(nPos).as("n_pos"),
      round(col("dcg"), 6).as("dcg"), round(col("idcg"), 6).as("idcg"),
      round(col("dcg") / col("idcg"), 6).as("ndcg"))
  }

  /** A30 — decision-stump split finder: weighted Gini impurity of the
    * label at each decile threshold of the score column — the
    * single-feature CART split step, and the one-node version of a
    * tree ensemble's feature-importance scan. Thresholds come from the
    * distributed exact-selection engine; ALL candidate splits evaluate
    * in ONE conditional-aggregation pass (no per-threshold scans), so
    * the scan count is independent of the candidate count.
    */
  private[graft] def qStump(s: SparkSession, dir: String): DataFrame = {
    val ps = (1 to 9).map(_ / 10.0)
    val d = col("l_extendedprice").cast("double")
    val base = li(s, dir)
      .select(when(col("l_returnflag") === "R", 1).otherwise(0).as("y"),
        d.as("v"))
      .where(col("v").isNotNull && !isnan(col("v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.Caches.retain("q171", base)
    val ts = graft.core.OrderStats.quantilesOf(base, "v", ps)
    val aggs = Seq(count(lit(1)).as("n"), sum("y").as("pos")) ++
      ts.zipWithIndex.flatMap { case (t, i) =>
        Seq(count(when(col("v") <= lit(t), 1)).as(s"nl_$i"),
          sum(when(col("v") <= lit(t), col("y")).otherwise(0)).as(s"pl_$i"))
      }
    val m = base.agg(aggs.head, aggs.tail: _*)
    val rows = ts.zipWithIndex.map { case (t, i) =>
      val nD = col("n").cast("double")
      val nlD = col(s"nl_$i").cast("double")
      val nrD = nD - nlD
      val pL = col(s"pl_$i").cast("double") / nlD
      val pR = (col("pos").cast("double") - col(s"pl_$i").cast("double")) / nrD
      val gL = lit(1.0) - pL * pL - (lit(1.0) - pL) * (lit(1.0) - pL)
      val gR = lit(1.0) - pR * pR - (lit(1.0) - pR) * (lit(1.0) - pR)
      val g = when(col(s"nl_$i") > 0 && col(s"nl_$i") < col("n"),
        nlD / nD * gL + nrD / nD * gR)
      struct(lit(ps(i)).as("p"), lit(t).as("threshold"),
        col(s"nl_$i").as("n_left"), col(s"pl_$i").cast("long").as("pos_left"),
        round(g, 6).as("gini_split"))
    }
    m.select(explode(array(rows: _*)).as("r"))
      .select(col("r.p"), round(col("r.threshold"), 6).as("threshold"),
        col("r.n_left"), col("r.pos_left"), col("r.gini_split"))
      .orderBy("p")
  }

  /** A31 — Brown–Forsythe (median-based Levene) test for variance
    * homogeneity across the returnflag groups: the robust companion
    * to q163's mean-comparison F — same [[centeredAnovaF]] core, run
    * on per-group median absolute deviations. Group medians come from
    * the grouped exact-selection engine and join back broadcast, so
    * the transform stays a map stage.
    */
  private[graft] def qBrownForsythe(s: SparkSession, dir: String): DataFrame = {
    val d = col("l_extendedprice").cast("double")
    val base = li(s, dir)
      .select(col("l_returnflag").as("g"), d.as("v0"))
      .where(col("v0").isNotNull && !isnan(col("v0")))
    val med = graft.core.OrderStats
      .groupedQuantiles(base, "g", "v0", Seq(0.5))
      .select(col("g"), col("value").as("md"))
    // par() on the centered-F pass only (decimal-exact sums); the
    // median selection keeps the bare scan — repartitioning it would
    // re-shuffle per selection pass for no gain (r16 A/B)
    centeredAnovaF(par(base).join(broadcast(med), "g")
      .select(col("g"), abs(col("v0") - col("md")).as("v")))
  }

  /** A32 — two-predictor OLS (extendedprice ~ quantity + discount) by
    * exact normal equations: grand means first (driver scalars), then
    * ONE pass of centered second moments (decimal partials, wide-sum
    * parity), then the closed-form 2×2 solve — no iteration, no
    * gradient steps, bitwise-reproducible. The R² derives from the
    * same moments (SSR = b₁S₁y + b₂S₂y), so the whole fit is two
    * scans total.
    */
  private[graft] def qOls(s: SparkSession, dir: String): DataFrame = {
    def vd(c: String) = {
      val d = col(c).cast("double")
      when(col(c).isNotNull && !isnan(d), d)
    }
    val ok = vd("l_extendedprice").isNotNull && vd("l_quantity").isNotNull &&
      vd("l_discount").isNotNull
    // par(): both passes are decimal-exact sums of double products —
    // per-row BigDecimal accumulation on a one-row-group scan would
    // run single-core (r16 honest bench: 5.1 s isolated); persisted
    // because the mean pass (head()) and the centered-moment pass are
    // separate actions that otherwise re-run the scan+shuffle (r16
    // second pass, the centeredAnovaF shape)
    val base = par(li(s, dir).where(ok)
      .select(vd("l_extendedprice").as("y"), vd("l_quantity").as("x1"),
        vd("l_discount").as("x2")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.Caches.retain("entry.q173", base)
    val mrow = base.agg(Stats.dsum(col("y")).as("sy"),
      Stats.dsum(col("x1")).as("s1"), Stats.dsum(col("x2")).as("s2"),
      count(lit(1)).as("c")).head()
    val nL = mrow.getAs[Long]("c"); val nD = nL.toDouble
    val muY = mrow.getAs[Double]("sy") / nD
    val mu1 = mrow.getAs[Double]("s1") / nD
    val mu2 = mrow.getAs[Double]("s2") / nD
    val cy = col("y") - lit(muY); val c1 = col("x1") - lit(mu1)
    val c2 = col("x2") - lit(mu2)
    val m = base.agg(Stats.dsum(c1 * c1).as("s11"), Stats.dsum(c2 * c2).as("s22"),
      Stats.dsum(c1 * c2).as("s12"), Stats.dsum(c1 * cy).as("s1y"),
      Stats.dsum(c2 * cy).as("s2y"), Stats.dsum(cy * cy).as("syy"))
    val det = col("s11") * col("s22") - col("s12") * col("s12")
    val b1 = (col("s22") * col("s1y") - col("s12") * col("s2y")) / det
    val b2 = (col("s11") * col("s2y") - col("s12") * col("s1y")) / det
    val b0 = lit(muY) - b1 * lit(mu1) - b2 * lit(mu2)
    val r2 = (b1 * col("s1y") + b2 * col("s2y")) / col("syy")
    m.select(lit(nL).as("n"), round(b0, 6).as("b0"), round(b1, 6).as("b1"),
      round(b2, 6).as("b2"), round(r2, 6).as("r2"))
  }

  /** A33 — Cohen's kappa between two deterministic document-quality
    * raters (char-count vs token-count rules): chance-corrected
    * inter-rater agreement, the label-audit statistic for annotation
    * pipelines. One conditional-count pass; κ from exact cell counts.
    */
  private[graft] def qKappa(s: SparkSession, dir: String): DataFrame = {
    val r1 = col("n_chars") >= 500
    val r2 = size(expr("split(text, ' ')")) >= 80
    val m = doc(s, dir).agg(count(lit(1)).as("n"),
      count(when(r1 && r2, 1)).as("n11"),
      count(when(r1 && !r2, 1)).as("n10"),
      count(when(!r1 && r2, 1)).as("n01"),
      count(when(!r1 && !r2, 1)).as("n00"))
    val nD = col("n").cast("double")
    val po = (col("n11") + col("n00")).cast("double") / nD
    val pe = (col("n11") + col("n10")).cast("double") / nD *
      ((col("n11") + col("n01")).cast("double") / nD) +
      (col("n00") + col("n01")).cast("double") / nD *
        ((col("n00") + col("n10")).cast("double") / nD)
    m.select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
      round(po, 6).as("po"), round(pe, 6).as("pe"),
      round((po - pe) / (lit(1.0) - pe), 6).as("kappa"))
  }

  /** T3 — vocabulary overlap between corpus sources (Jaccard over
    * distinct word sets): the corpus-composition diagnostic before
    * mixing sources into a training set. The (source, word) incidence
    * deduplicates once; the pair join shuffles on the word key with
    * fan-out bounded by the source count squared.
    */
  private[graft] def qVocabOverlap(s: SparkSession, dir: String): DataFrame = {
    val sw = doc(s, dir).select(col("source"),
        explode(expr("filter(split(text, ' '), t -> t != '')")).as("w"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.Caches.retain("q175", sw)
    val vs = sw.groupBy("source").agg(count(lit(1)).as("v"))
    val pairs = sw.toDF("s1", "w")
      .join(sw.toDF("s2", "w2"), col("w") === col("w2") && col("s1") < col("s2"))
      .groupBy("s1", "s2").agg(count(lit(1)).as("inter"))
    pairs
      .join(broadcast(vs.toDF("s1", "v1")), "s1")
      .join(broadcast(vs.toDF("s2", "v2")), "s2")
      .select(col("s1"), col("s2"), col("v1"), col("v2"), col("inter"),
        round(col("inter").cast("double") /
          (col("v1") + col("v2") - col("inter")).cast("double"), 6)
          .as("jaccard"))
      .orderBy("s1", "s2")
  }

  /** R1/R3 oracle twin of q34 (which is rows-only by RNG nature): the
    * deterministic-hash sample composed with the deterministic-hash
    * permutation ([[graft.aug.Sampling.hashShuffled]]). The head of the
    * permutation plus the sample count pin BOTH the membership (R1) and
    * the ordering (R3) semantics in a cross-engine-checkable form.
    * Head extraction is TakeOrderedAndProject — distributed top-k, no
    * single-partition window.
    */
  private[graft] def qSampleShuffleAudit(s: SparkSession, dir: String): DataFrame = {
    val sampled = graft.aug.Sampling.hashSample(li(s, dir), "l_orderkey",
        fraction = 0.01, seed = 7L)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
    graft.aug.Sampling.hashShuffled(sampled, "l_orderkey", 99L,
        col("l_orderkey"), col("l_linenumber"))
      .select(graft.aug.Sampling.keyBucket(col("l_orderkey"), 99L).as("shuffle_key"),
        col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .limit(50)
  }

  /** T-series lead–lag cross-correlation (CCF): Pearson correlation
    * between the daily click count and the purchase count k days LATER,
    * k = 0..5 — the "does activity lead conversions" diagnostic that
    * complements q145's autocorrelation. The daily frame is ≤ one row
    * per day, so the per-lag self-join fans out 6× over a tiny frame;
    * moments are decimal sums over integer-exact counts, so the oracle
    * math is digit-identical.
    */
  private[graft] def qCcf(s: SparkSession, dir: String): DataFrame = {
    // materialized once: both sides of the lag self-join read it. The
    // checkpoint carries the plan's size ESTIMATE, not its tiny actual
    // size, so the per-day side is broadcast explicitly.
    val daily = ev(s, dir)
      .where(col("event_type").isin("click", "purchase"))
      .select(expr("(ts div 1000) div 86400000000").as("d"), col("event_type"))
      .groupBy("d")
      .agg(count(when(col("event_type") === "click", 1)).cast("double").as("x"),
        count(when(col("event_type") === "purchase", 1)).cast("double").as("y"))
      .localCheckpoint()
    val lagged = daily.select(col("d"), col("x"),
        explode(array((0 to 5).map(i => lit(i)): _*)).as("k"))
      .join(broadcast(daily.select(col("d").as("d2"), col("y"))),
        col("d2") === col("d") + col("k"))
    val n = col("n_pairs").cast("double")
    lagged.groupBy("k").agg(count(lit(1)).as("n_pairs"),
        Stats.dsum(col("x")).as("sx"), Stats.dsum(col("y")).as("sy"),
        Stats.dsum(col("x") * col("x")).as("sxx"),
        Stats.dsum(col("y") * col("y")).as("syy"),
        Stats.dsum(col("x") * col("y")).as("sxy"))
      .select(col("k"), col("n_pairs"),
        round((n * col("sxy") - col("sx") * col("sy")) /
          (sqrt(n * col("sxx") - col("sx") * col("sx")) *
           sqrt(n * col("syy") - col("sy") * col("sy"))), 6).as("ccf"))
      .orderBy("k")
  }

  /** Effect size between the click and purchase value distributions:
    * Cohen's d on the pooled sample SD, with the Hedges' g small-sample
    * correction — the "is the difference MEANINGFUL" companion to
    * q141's Welch significance test. Two mergeable moment aggregates;
    * scalar algebra on a one-row frame.
    */
  private[graft] def qCohensD(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir).where(col("event_type").isin("click", "purchase"))
      .select(col("event_type").as("g"), col("value").cast("double").as("v"))
    val ag = e.groupBy("g").agg(count(lit(1)).cast("double").as("n"),
      Stats.dmean(col("v")).as("m"), Stats.dvarSamp(col("v")).as("s2"))
    val r = ag.agg(
      max(when(col("g") === "click", col("n"))).as("n1"),
      max(when(col("g") === "click", col("m"))).as("m1"),
      max(when(col("g") === "click", col("s2"))).as("s21"),
      max(when(col("g") === "purchase", col("n"))).as("n2"),
      max(when(col("g") === "purchase", col("m"))).as("m2"),
      max(when(col("g") === "purchase", col("s2"))).as("s22"))
    val dof = col("n1") + col("n2") - lit(2.0)
    val sp = sqrt(((col("n1") - lit(1.0)) * col("s21") +
      (col("n2") - lit(1.0)) * col("s22")) / dof)
    val dEff = (col("m1") - col("m2")) / sp
    r.select(col("n1").cast("long").as("n1"), col("n2").cast("long").as("n2"),
      round(col("m1"), 6).as("mean1"), round(col("m2"), 6).as("mean2"),
      round(sp, 6).as("pooled_sd"), round(dEff, 6).as("cohens_d"),
      round(dEff * (lit(1.0) - lit(3.0) / (lit(4.0) * dof - lit(1.0))), 6)
        .as("hedges_g"))
  }

  /** Herfindahl–Hirschman concentration of order revenue across
    * customers, per order priority: HHI = Σ share² — the market-
    * concentration audit (is one customer dominating a segment?).
    * Two-level aggregate: exact integer cents per (priority, customer),
    * then one mergeable moment pass per priority. Squaring happens in
    * DOUBLE on both engines (same IEEE op), the sums in DECIMAL.
    */
  private[graft] def qHhi(s: SparkSession, dir: String): DataFrame = {
    val per = Tables.load(s, dir, "orders")
      .select(col("o_orderpriority").as("g"), col("o_custkey"),
        expr("CAST(round(o_totalprice * 100) AS LONG)").as("cents"))
      .groupBy("g", "o_custkey").agg(sum("cents").as("cents"))
    per.select(col("g"), col("cents").cast("double").as("c"))
      .groupBy("g").agg(count(lit(1)).as("n_customers"),
        Stats.dsum(col("c")).as("tot"),
        Stats.dsum(col("c") * col("c")).as("ss"))
      .select(col("g").as("priority"), col("n_customers"),
        round(col("tot") / lit(100.0), 2).as("revenue"),
        round(col("ss") / (col("tot") * col("tot")), 6).as("hhi"))
      .orderBy("priority")
  }

  /** Lorenz curve of customer lifetime order value in deciles: per
    * decile of customers (poorest→richest), the decile's share of total
    * revenue and the cumulative share — the inequality curve behind
    * q124's Gini scalar. Rank-range decile assignment WITHOUT a global
    * window: per DISTINCT value, the exclusive prefix count from
    * [[graft.core.PrefixScan]] gives the value's rank interval, and its
    * overlap with each decile's boundary interval is pure arithmetic —
    * tie-order-independent by construction, so engine-exact. At 100 TB
    * the scanned frame is one row per distinct value, not per customer.
    */
  private[graft] def qLorenz(s: SparkSession, dir: String): DataFrame = {
    val per = Tables.load(s, dir, "orders")
      .select(col("o_custkey"),
        expr("CAST(round(o_totalprice * 100) AS LONG)").as("cents"))
      .groupBy("o_custkey").agg(sum("cents").as("cents"))
    val byVal = per.groupBy("cents").agg(count(lit(1)).as("n"))
      .withColumn("vsum", col("cents") * col("n"))
    val (scanned, totals) =
      PrefixScan.build(byVal, "cents", Seq("n", "vsum"), "q180")
    val nT = totals(0)
    val cT = totals(1)
    val ex = scanned.select(col("cents"), col("n"), col("cum_n_below").as("cum"),
        explode(array((0 to 9).map(i => lit(i)): _*)).as("decile"))
      .withColumn("b_lo", expr(s"(${nT}L * decile) div 10"))
      .withColumn("b_hi", expr(s"(${nT}L * (decile + 1)) div 10"))
      .withColumn("in_d", greatest(lit(0L),
        least(col("cum") + col("n"), col("b_hi")) -
          greatest(col("cum"), col("b_lo"))))
      .withColumn("le_d", greatest(lit(0L),
        least(col("n"), col("b_hi") - col("cum"))))
    ex.groupBy("decile").agg(sum("in_d").as("n_customers"),
        Stats.dsum(col("in_d").cast("double") * col("cents").cast("double"))
          .as("dc"),
        Stats.dsum(col("le_d").cast("double") * col("cents").cast("double"))
          .as("cc"))
      .select(col("decile"), col("n_customers"),
        round(col("dc") / lit(cT.toDouble), 6).as("value_share"),
        round(col("cc") / lit(cT.toDouble), 6).as("cum_share"))
      .orderBy("decile")
  }

  /** Degree histogram of the supplier–part bipartite graph (who supplies
    * what): per side, how many nodes have each degree — the graph-shape
    * profile (hubs vs long tail) that sizes any downstream graph
    * algorithm. One distinct edge scan feeds two narrow count-of-counts
    * aggregates.
    */
  private[graft] def qDegreeHist(s: SparkSession, dir: String): DataFrame = {
    val edges = li(s, dir).select(col("l_suppkey"), col("l_partkey")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.Caches.retain("q181", edges)
    val sup = edges.groupBy("l_suppkey").agg(count(lit(1)).as("deg"))
      .groupBy("deg").agg(count(lit(1)).as("n_nodes"))
      .withColumn("side", lit("supplier"))
    val prt = edges.groupBy("l_partkey").agg(count(lit(1)).as("deg"))
      .groupBy("deg").agg(count(lit(1)).as("n_nodes"))
      .withColumn("side", lit("part"))
    sup.unionByName(prt).select("side", "deg", "n_nodes")
      .orderBy("side", "deg")
  }

  /** Corpus composition audit — the language mix per source: per source
    * its document count, language count, the dominant language's share
    * and the language-distribution entropy (bits). The before-mixing
    * diagnostic for multilingual corpus assembly (a source whose
    * entropy jumps between snapshots changed its crawl mix). One
    * (source, lang) aggregate, then a per-source fold — both narrow.
    */
  private[graft] def qLangMix(s: SparkSession, dir: String): DataFrame = {
    val c = doc(s, dir).groupBy("source", "lang").agg(count(lit(1)).as("n"))
    val tot = c.groupBy("source").agg(sum("n").as("n_docs"),
      count(lit(1)).as("n_langs"))
    c.join(tot, "source")
      .withColumn("p", col("n").cast("double") / col("n_docs").cast("double"))
      .groupBy("source").agg(
        max("n_langs").as("n_langs"), max("n_docs").as("n_docs"),
        round(max("p"), 6).as("top_share"),
        round(lit(0.0) - Stats.dsum(col("p") * log2(col("p"))), 6)
          .as("entropy_bits"))
      .orderBy("source")
  }

  /** Near-duplicate cluster size distribution: how many dup clusters of
    * each size the corpus holds — the dedup planning statistic (many
    * small clusters → cheap pair removal; one giant cluster → template
    * spam needing a different rule). Reuses the q47 component labeling;
    * two count-of-counts aggregates on the tiny (id → component) frame.
    */
  private[graft] def qClusterSizeHist(s: SparkSession, dir: String): DataFrame = {
    val pairs = graft.dedup.Dedup.jaccardPairs(par(doc(s, dir)), "doc_id", "text",
      n = 3, threshold = 0.5)
    graft.dedup.Components.connectedComponents(pairs, "a", "b")
      .groupBy("component").agg(count(lit(1)).as("sz"))
      .groupBy("sz").agg(count(lit(1)).as("n_clusters"))
      .orderBy("sz")
  }

  /** Daily OHLC bars of purchase values: open/close by (ts, event_id)
    * order, high/low/mean over the day — the classic downsample-for-
    * charting aggregation. ONE mergeable aggregate: open/close ride
    * lexicographic min/max over a (ts, event_id, v) struct (the unique
    * key makes the selection deterministic), no window anywhere.
    */
  private[graft] def qOhlc(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir).where(col("event_type") === "purchase")
      .select(expr("(ts div 1000) div 86400000000").as("d"),
        col("ts"), col("event_id"), col("value").cast("double").as("v"))
    e.groupBy("d").agg(
        min(struct(col("ts"), col("event_id"), col("v"))).as("fst"),
        max(struct(col("ts"), col("event_id"), col("v"))).as("lst"),
        count(lit(1)).as("n"),
        round(min("v"), 6).as("low"), round(max("v"), 6).as("high"),
        Stats.dsum(col("v")).as("sv"))
      .select(col("d"), col("n"),
        round(col("fst.v"), 6).as("open"), round(col("lst.v"), 6).as("close"),
        col("low"), col("high"),
        round(col("sv") / col("n").cast("double"), 6).as("mean"))
      .orderBy("d")
  }

  /** Tokenizer fertility by language: per lang, characters per
    * whitespace token and BPE-ish subword tokens per word — the
    * tokenizer-suitability diagnostic (a language whose fertility is 2×
    * the corpus median pays 2× the context budget per sentence; the
    * standard argument for retraining a tokenizer before a multilingual
    * run). One pass, all counts from codegen'd string expressions.
    */
  private[graft] def qFertility(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextOps
    par(doc(s, dir))
      .select(col("lang"), length(col("text")).cast("long").as("chars"),
        TextOps.tokenCount(col("text")).cast("long").as("ws"),
        TextOps.bpeTokenCount(col("text")).cast("long").as("bpe"))
      .groupBy("lang").agg(count(lit(1)).as("n_docs"),
        sum("chars").as("chars"), sum("ws").as("ws_tokens"),
        sum("bpe").as("bpe_tokens"))
      .select(col("lang"), col("n_docs"), col("ws_tokens"), col("bpe_tokens"),
        round(col("chars").cast("double") / col("ws_tokens").cast("double"), 6)
          .as("chars_per_word"),
        round(col("bpe_tokens").cast("double") / col("ws_tokens").cast("double"), 6)
          .as("fertility"))
      .orderBy("lang")
  }

  /** Cross-source duplication matrix: for each (source, source) pair,
    * how many near-duplicate document pairs span them — the corpus-
    * licensing/provenance audit (mirror sites show up as off-diagonal
    * mass; template spam as diagonal mass). Near-dup pairs come from
    * the exact n-gram Jaccard path; two broadcast-able doc→source joins
    * label the ends.
    */
  private[graft] def qCrossSourceDups(s: SparkSession, dir: String): DataFrame = {
    val pairs = graft.dedup.Dedup.jaccardPairs(par(doc(s, dir)), "doc_id", "text",
      n = 3, threshold = 0.5)
    val src = doc(s, dir).select(col("doc_id"), col("source"))
    pairs.join(src.toDF("a", "s_a"), "a").join(src.toDF("b", "s_b"), "b")
      .select(least(col("s_a"), col("s_b")).as("s1"),
        greatest(col("s_a"), col("s_b")).as("s2"))
      .groupBy("s1", "s2").agg(count(lit(1)).as("n_dup_pairs"))
      .orderBy("s1", "s2")
  }

  /** Balanced class weights over the embeddings labels — the
    * `n_samples / (n_classes * n_c)` inverse-frequency weighting every
    * imbalanced trainer consumes. One narrow aggregate + a broadcast
    * scalar.
    */
  private[graft] def qClassWeights(s: SparkSession, dir: String): DataFrame = {
    val c = em(s, dir).groupBy("label").agg(count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.Caches.retain("q188", c)
    val r0 = c.agg(sum("n"), count(lit(1))).head()
    val total = r0.getLong(0)
    val k = r0.getLong(1)
    c.select(col("label"), col("n"),
        round(lit(total.toDouble) / (lit(k.toDouble) * col("n").cast("double")), 6)
          .as("weight"))
      .orderBy("label")
  }

  /** Odds ratio with 95% CI for the error outcome between two hash
    * cohorts of users — the epidemiological 2×2 effect measure
    * complementing q153's significance z-test: OR = ad/bc with the Woolf
    * log-interval. One conditional-count aggregate; exact integer cells.
    */
  private[graft] def qOddsRatio(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir).select(
      (col("user_id") % 2 === 0).as("exposed"),
      (col("event_type") === "error").as("bad"))
    val m = e.agg(
      count(when(col("exposed") && col("bad"), 1)).as("a"),
      count(when(col("exposed") && !col("bad"), 1)).as("b"),
      count(when(!col("exposed") && col("bad"), 1)).as("c"),
      count(when(!col("exposed") && !col("bad"), 1)).as("d"))
    val or = (col("a") * col("d")).cast("double") /
      (col("b") * col("c")).cast("double")
    val se = sqrt(lit(1.0) / col("a") + lit(1.0) / col("b") +
      lit(1.0) / col("c") + lit(1.0) / col("d"))
    m.select(col("a"), col("b"), col("c"), col("d"),
      round(or, 6).as("odds_ratio"),
      round(exp(log(or) - lit(1.959963984540054) * se), 6).as("ci_lo"),
      round(exp(log(or) + lit(1.959963984540054) * se), 6).as("ci_hi"))
  }

  /** Self-verifying GK quantile sketch (core.Sketches.quantileAudit):
    * the single-pass mergeable substitute for OrderStats at 100 TB,
    * shipped with its acceptance audit — the oracle asserts the
    * bound-check column as literal TRUE, so a sketch that violates its
    * rank guarantee fails the correctness gate.
    */
  private[graft] def qQuantileSketch(s: SparkSession, dir: String): DataFrame =
    graft.core.Sketches.quantileAudit(liStats(s, dir), "l_extendedprice",
      Seq(0.25, 0.5, 0.75, 0.95), accuracy = 200)

  /** Self-verifying HLL++ cardinality sketch per group — same audit
    * pattern as q190: exact distinct count (cross-engine-checked) plus
    * the 3·rsd bound boolean the oracle pins TRUE.
    */
  private[graft] def qHllAudit(s: SparkSession, dir: String): DataFrame =
    graft.core.Sketches.distinctAudit(li(s, dir), "l_linestatus",
      "l_partkey", rsd = 0.05)

  /** Analytic window-function suite over per-user event streams: lag
    * delta (inter-event micros), percent_rank and cume_dist of the
    * value within the user's history, ntile(4) session-quartile — the
    * four rank-analytic primitives not exercised elsewhere, all over
    * ONE hash-partitioned (user_id) window family (no global window;
    * ties broken by the unique event_id). Head-200 via distributed
    * top-k for a bounded deterministic output.
    */
  private[graft] def qWindowSuite(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = ev(s, dir).select(col("user_id"), col("event_id"),
      expr("ts div 1000").as("us"), col("value").cast("double").as("v"))
    val wt = Window.partitionBy("user_id").orderBy("us", "event_id")
    val wv = Window.partitionBy("user_id").orderBy("v", "event_id")
    e.select(col("user_id"), col("event_id"),
        (col("us") - lag("us", 1).over(wt)).as("delta_us"),
        round(percent_rank().over(wv), 6).as("pr"),
        round(cume_dist().over(wv), 6).as("cd"),
        ntile(4).over(wv).as("tile"))
      .orderBy("user_id", "event_id")
      .limit(200)
  }

  /** Arbitrary GROUPING SETS through the SQL surface (the shape cube
    * q160 and rollup q127 are special cases of): three chosen sets in
    * ONE Expand+aggregate pass, 'ALL' markers dodging cross-engine null
    * ordering.
    */
  private[graft] def qGroupingSets(s: SparkSession, dir: String): DataFrame = {
    Tables.registerViews(s, dir)
    s.sql(
      """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
        |  coalesce(l_linestatus, 'ALL') AS lstatus,
        |  count(*) AS n,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(38,10))) AS DOUBLE), 4) AS sum_qty
        | FROM lineitem
        | GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |   (l_returnflag), (l_linestatus))
        | ORDER BY rflag, lstatus""".stripMargin)
  }

  /** Explicit LEFT SEMI join surface: per market segment, customers
    * with and without orders. Two customer scans, one orders scan: the
    * "without" column is ARITHMETIC (n_customers − n_with_orders), not
    * a third scan through a LEFT ANTI join — at 100× the data the r8
    * three-scan form paid a full extra pass of both tables for a number
    * the report already implies (r8 advisory #3). The LEFT ANTI plan
    * shape itself stays a registered, plan-audited surface via
    * [[antiJoinOrphans]] (PlanAuditSpec pins the SEMI here and the ANTI
    * there, and that q48's referential check keeps planning one).
    */
  private[graft] def qSemiAnti(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val o = Tables.load(s, dir, "orders").select(col("o_custkey"))
    val withO = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n_with_orders"))
    c.groupBy("c_mktsegment").agg(count(lit(1)).as("n_customers"))
      .join(withO, Seq("c_mktsegment"), "left")
      .select(col("c_mktsegment").as("segment"), col("n_customers"),
        coalesce(col("n_with_orders"), lit(0L)).as("n_with_orders"),
        (col("n_customers") - coalesce(col("n_with_orders"), lit(0L)))
          .as("n_without_orders"))
      .orderBy("segment")
  }

  /** The LEFT ANTI existence-join shape, kept as a first-class audited
    * surface (PlanAuditSpec asserts the anti hash join): customers with
    * no orders, per segment. Not a registered query — q194 reports the
    * same number arithmetically with one fewer scan; this is the plan
    * shape a caller uses when they need the ROWS, not the count.
    */
  def antiJoinOrphans(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val o = Tables.load(s, dir, "orders").select(col("o_custkey"))
    c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n_without_orders"))
      .orderBy("c_mktsegment")
  }

  /** A33 — Levene's homogeneity-of-variance test (mean-centered),
    * completing the spread-test family with q172's Brown–Forsythe
    * (median-centered, the robust twin): same one-way F over absolute
    * deviations, centered on per-group MEANS (one mergeable aggregate
    * instead of the grouped median selection).
    */
  private[graft] def qLevene(s: SparkSession, dir: String): DataFrame = {
    val d = col("l_extendedprice").cast("double")
    val base = li(s, dir)
      .select(col("l_returnflag").as("g"), d.as("v0"))
      .where(col("v0").isNotNull && !isnan(col("v0")))
    // center on round(mean, 6), not the raw mean: 2-dp data minus a
    // 6-dp center keeps |x − c| exactly representable in DECIMAL(38,10),
    // where a full-fraction center makes the two engines' double→decimal
    // casts disagree on half-ulp cases (Spark rounds via shortest-repr
    // string, DuckDB multiplies by 10¹⁰ in double — the q172 scaladoc
    // class, observed shifting ss_between at 1e-5 here). The center
    // choice is conventional in Levene's test; a 1e-6 shift of a 5e4
    // magnitude center is statistically nil but buys bitwise parity.
    // par(): two decimal-exact passes (group means, centered F) over
    // a one-row-group scan otherwise run single-core (r16); persisted
    // because the mean pass and the centering join each re-read it
    val basePar = par(base)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.Caches.retain("entry.q195", basePar)
    val mn = basePar.groupBy("g")
      .agg(round(Stats.dmean(col("v0")), 6).as("mn"))
    centeredAnovaF(basePar.join(broadcast(mn), "g")
      .select(col("g"), abs(col("v0") - col("mn")).as("v")))
  }

  /** Poisson rate-ratio test between even and odd days: event counts,
    * exposure days, the rate ratio and its log-scale z statistic — the
    * count-data companion to q153's proportion test. Pure conditional
    * counts; exact integers both sides.
    */
  private[graft] def qRateRatio(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
      .select(expr("(ts div 1000) div 86400000000").as("d"))
      .select(col("d"), (col("d") % 2 === 0).as("even"))
    val m = e.agg(
      count(when(col("even"), 1)).as("c1"),
      count(when(!col("even"), 1)).as("c2"),
      countDistinct(when(col("even"), col("d"))).as("d1"),
      countDistinct(when(!col("even"), col("d"))).as("d2"))
    val r1 = col("c1").cast("double") / col("d1").cast("double")
    val r2 = col("c2").cast("double") / col("d2").cast("double")
    m.select(col("c1"), col("c2"), col("d1"), col("d2"),
      round(r1 / r2, 6).as("rate_ratio"),
      round(log(r1 / r2) /
        sqrt(lit(1.0) / col("c1") + lit(1.0) / col("c2")), 6).as("z"))
  }

  /** Per-user inter-event gap profile: event count, gap count, mean and
    * max gap in micros — the telemetry-cadence health table (a user
    * whose max gap dwarfs the mean has a collection outage). The lag
    * window and the aggregate share ONE user_id hash exchange.
    */
  private[graft] def qGapStats(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    ev(s, dir)
      .select(col("user_id"), col("event_id"), expr("ts div 1000").as("us"))
      .withColumn("gap", col("us") - lag("us", 1).over(w))
      .groupBy("user_id").agg(count(lit(1)).as("n_events"),
        count(col("gap")).as("n_gaps"),
        // nearest MICROSECOND (scale-0 round): integer micros over a
        // 2·5-smooth gap count produce exact 4-dp midpoints where the
        // engines' round(x, 4) conventions split (observed at sf0.1);
        // scale-0 has no ×10^k multiply and exact .5 rounds up on both
        round(Stats.dmean(col("gap").cast("double"))).as("mean_gap_us"),
        max("gap").as("max_gap_us"))
      .orderBy("user_id")
  }

  /** DAU/MAU stickiness per 30-day window: average daily active users
    * over the window's monthly active users — the engagement ratio.
    * Exact distinct counts via two narrow (window, user) dedups; no
    * approximate sketches so the oracle is exact.
    */
  private[graft] def qStickiness(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir).select(
      expr("(ts div 1000) div 86400000000").as("d"),
      expr("((ts div 1000) div 86400000000) div 30").as("m"),
      col("user_id"))
    val daily = e.select("m", "d", "user_id").distinct()
      .groupBy("m", "d").agg(count(lit(1)).as("dau"))
    val dauAvg = daily.groupBy("m").agg(count(lit(1)).as("n_days"),
      Stats.dmean(col("dau").cast("double")).as("avg_dau"))
    val mau = e.select("m", "user_id").distinct()
      .groupBy("m").agg(count(lit(1)).as("mau"))
    dauAvg.join(mau, "m")
      .select(col("m"), col("n_days"), col("mau"),
        round(col("avg_dau"), 6).as("avg_dau"),
        round(col("avg_dau") / col("mau").cast("double"), 6).as("stickiness"))
      .orderBy("m")
  }

  /** D13 — SemDeDup (Abbas et al. 2023): semantic deduplication by
    * k-means clustering the embedding space and pruning cosine
    * near-duplicates ONLY within clusters — the step that makes
    * embedding dedup tractable at corpus scale (all-pairs is O(n²);
    * clustering confines the quadratic work to cluster-sized buckets,
    * and k grows with n so bucket sizes stay bounded).
    *
    * Cluster assignment is a pure codegen'd HOF arg-min over the
    * broadcast centers literal (no UDF in the hot path); the prune rule
    * is deterministic — drop a vector iff an in-cluster LOWER-ID
    * neighbor has cosine ≥ θ — so the kept set is a pure function of
    * the data and the fitted centers.
    *
    * Self-verifying audit (the q190/q191 pattern — centers are
    * driver-fit model state DuckDB cannot refit): exact SQL anchors
    * (n_vecs, k, dim) plus in-query invariants the oracle pins TRUE:
    * `assign_ok` cross-checks the codegen arg-min assignment against
    * the independent broadcast-model scorer ([[graft.sim.KMeans]]'s
    * sequential-fold UDF) on every row; `cos_bounded` checks every
    * in-cluster pair cosine is a valid similarity; `pruned_frac_ok`
    * bounds the prune rate at half the corpus.
    */
  private[graft] def qSemDedup(s: SparkSession, dir: String): DataFrame = {
    // k from the √n scale recipe (SemDedup.kForCorpus) rather than a
    // fixed benchmark point: bucket sizes stay ~√n as the corpus grows,
    // and the oracle pins the SAME formula in SQL, so a drifting k is a
    // hash mismatch, not a silent re-tune
    val e = em(s, dir)
    val k = graft.dedup.SemDedup.kForCorpus(e.count())
    graft.dedup.SemDedup.audit(e, "vec_id", "embedding",
      k = k, theta = 0.45)
  }

  /** T25 — CCNet perplexity bucketing (Wenzek et al. 2020): documents
    * split per language into head/middle/tail thirds by LM score —
    * the standard quality-stratification step before sampling a
    * pretraining mix (train mostly on head+middle, drop tail). LM =
    * q96's corpus-self-fit add-one bigram model; tertile edges per
    * language via the distributed exact-quantile selection
    * ([[graft.core.OrderStats]] — no single-reducer percentile);
    * bucketing is a broadcast join of the 2-row-per-language edge
    * table. Higher avg log-prob = more probable text = "head".
    */
  private[graft] def qPerplexityBuckets(s: SparkSession, dir: String): DataFrame = {
    val d = doc(s, dir)
    val scored = graft.text.BigramLm.score(d, "doc_id", "text")
    // persisted: the scored frame feeds BOTH the tertile-edge selection
    // and the bucket pass — without it the whole LM pipeline (explode,
    // two count tables, two joins) runs twice (bench-measured 2.2s→
    // roughly the single-pass cost)
    val withLang = scored.join(
        d.select(col("doc_id").cast("long").as("id"), col("lang")), "id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.Caches.retain("entry.perplexityBuckets", withLang)
    val edges = graft.core.OrderStats.groupedQuantiles(
      withLang, "lang", "avg_logp", Seq(1.0 / 3, 2.0 / 3))
    val e2 = edges.groupBy("lang").agg(
      max(when(col("p") === 1.0 / 3, col("value"))).as("t1"),
      max(when(col("p") === 2.0 / 3, col("value"))).as("t2"))
    withLang.join(broadcast(e2), "lang")
      .withColumn("bucket",
        when(col("avg_logp") >= col("t2"), "head")
          .when(col("avg_logp") >= col("t1"), "middle")
          .otherwise("tail"))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n"),
        round(Stats.dmean(col("avg_logp")), 6).as("mean_logp"))
      .orderBy("lang", "bucket")
  }

  /** T26 — BPE merge-pair statistics: corpus-wide adjacent character
    * pair frequencies — the exact quantity the first iteration of
    * byte-pair-encoding tokenizer training maximizes over (Sennrich et
    * al. 2016). One explode to words, one codegen'd HOF expansion to
    * in-word character bigrams, one map-side-combinable count (the key
    * space is bounded by charset², so partial aggregation collapses
    * the corpus before any shuffle), top-32 via TakeOrderedAndProject
    * with a total (cnt desc, pair asc) order so the cut is
    * deterministic cross-engine.
    */
  private[graft] def qBpePairs(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextOps
    val words = par(doc(s, dir))
      .select(explode(TextOps.tokens(col("text"))).as("w"))
    val pairs = words.select(explode(
      when(length(col("w")) >= 2,
        transform(sequence(lit(1), length(col("w")) - 1),
          i => col("w").substr(i, lit(2))))
        .otherwise(array().cast("array<string>"))).as("pair"))
    pairs.groupBy("pair").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("pair")).limit(32)
  }

  /** W5 — RANGE-frame sliding window: per-user rolling 6-hour event
    * count and value sum, the time-based frame (`RANGE BETWEEN
    * <interval> PRECEDING AND CURRENT ROW`) as opposed to the
    * row-count frames everywhere else — frame membership follows the
    * ORDER BY *value* (event time in micros), so co-timed events are
    * peers and gaps shrink the frame. Hash-partitioned per-user
    * windows (no global window); the rolling sum accumulates in
    * DECIMAL(38,10) so window-internal addition order (segment trees
    * vs sequential) cannot flip a bit cross-engine. Reduced per user
    * to peak concurrency / peak rolling mass / total rolling mass.
    *
    * The double→DECIMAL(38,10) cast below is the documented divergence
    * class (Spark: shortest-repr string, HALF_UP; DuckDB: ×10^scale in
    * double) — it is EXACT here because events.value is 2-decimal money
    * of magnitude < 10^3 (measured across SFs): Spark's shortest repr
    * is the 2-dp literal, and DuckDB's scaled product sits ~9 orders of
    * magnitude under the 2^52/10^10 ≈ 4.5e5 safety bound, so both
    * engines recover the identical decimal. A full-fraction or
    * ≥ 450k-magnitude value column must NOT take this path unrounded —
    * recover integer units first (see the Verify skill notes).
    */
  private[graft] def qRangeWindow(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sixHoursUs = 21600000000L
    val e = ev(s, dir).select(col("user_id"),
      expr("ts div 1000").as("us"),
      col("value").cast(DecimalType(38, 10)).as("v"))
    val w = Window.partitionBy("user_id").orderBy("us")
      .rangeBetween(-sixHoursUs, 0)
    e.withColumn("roll_n", count(lit(1)).over(w))
      .withColumn("roll_sum", sum("v").over(w))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        max("roll_n").as("max_roll_n"),
        round(max("roll_sum").cast(DoubleType), 4).as("max_roll_sum"),
        round(sum("roll_sum").cast(DoubleType), 4).as("sum_roll_sum"))
      .orderBy("user_id")
  }

  /** D14 — MinHash estimator-quality audit: per LSH candidate pair,
    * the signature-estimated Jaccard next to the exact shingle-set
    * Jaccard ([[graft.dedup.MinHashLSH.estimateAudit]]). Run this
    * before trusting a banded dedup config on a new corpus: if
    * |est − exact| is wide at the dedup threshold, k is too small.
    */
  private[graft] def qMinhashEstAudit(s: SparkSession, dir: String): DataFrame =
    graft.dedup.MinHashLSH.estimateAudit(doc(s, dir), "doc_id", "text",
        n = 3, k = 16, bands = 4)
      .orderBy("a", "b")

  /** A34 — Cochran–Mantel–Haenszel stratified 2×2 association test +
    * Mantel–Haenszel pooled odds ratio: "is exposure associated with
    * outcome after controlling for the stratifying variable" — the
    * confounder-adjusted companion to q189's crude odds ratio (and the
    * aggregate-vs-stratified discrepancy IS Simpson's paradox when the
    * two disagree). One conditional-count pass builds every stratum's
    * 2×2 table; E/V/OR terms are fixed-shape double arithmetic over
    * exact integer counts (products of four ~n counts overflow int64
    * at sf0.1 scale — computed in double, identically parenthesized on
    * both engines).
    */
  private[graft] def qCmh(s: SparkSession, dir: String): DataFrame = {
    val t = li(s, dir).select(
      col("l_returnflag").as("g"),
      (col("l_discount") > 0.05).as("x"),
      (col("l_tax") > 0.04).as("y"))
    val cells = t.groupBy("g").agg(
      count(when(col("x") && col("y"), 1)).as("a"),
      count(when(col("x") && !col("y"), 1)).as("b"),
      count(when(!col("x") && col("y"), 1)).as("c"),
      count(when(!col("x") && !col("y"), 1)).as("d"))
    val n = (col("a") + col("b") + col("c") + col("d")).cast(DoubleType)
    val ad = col("a").cast(DoubleType)
    val e = (col("a") + col("b")).cast(DoubleType) *
      (col("a") + col("c")).cast(DoubleType) / n
    val v = ((col("a") + col("b")).cast(DoubleType) *
        (col("c") + col("d")).cast(DoubleType)) *
      ((col("a") + col("c")).cast(DoubleType) *
        (col("b") + col("d")).cast(DoubleType)) /
      (n * n * (n - lit(1.0)))
    val per = cells.select(col("g"), col("a"), ad.as("ae"), e.as("ee"),
      v.as("ve"),
      (col("a").cast(DoubleType) * col("d").cast(DoubleType) / n).as("rr"),
      (col("b").cast(DoubleType) * col("c").cast(DoubleType) / n).as("ss"))
    // cross-stratum sums of full-fraction doubles: fold in stratum-key
    // order over a sorted struct array (order-fixed, bitwise
    // cross-engine — the q106 convention; decimal widening is NOT safe
    // here, double→decimal casts of full-fraction values are the
    // documented divergence class)
    val folded = per.agg(count(lit(1)).as("n_strata"), sum("a").as("sum_a"),
      sort_array(collect_list(struct(col("g"), col("ee"), col("ve"),
        col("rr"), col("ss")))).as("xs"))
    def fsum(field: String) = aggregate(col("xs"), lit(0.0),
      (acc, x) => acc + x.getField(field))
    folded.select(col("n_strata"), col("sum_a"), fsum("ee").as("sum_e"),
        fsum("ve").as("sum_v"), fsum("rr").as("sum_r"), fsum("ss").as("sum_s"))
      .select(col("n_strata"), col("sum_a"),
        round(col("sum_e"), 6).as("sum_e"),
        round(col("sum_v"), 6).as("sum_v"),
        round(pow(abs(col("sum_a").cast(DoubleType) - col("sum_e")) - lit(0.5), 2) /
          col("sum_v"), 6).as("cmh"),
        round(col("sum_r") / col("sum_s"), 6).as("or_mh"))
  }

  /** D15 — dedup threshold sweep: pair and affected-document counts at
    * a ladder of Jaccard thresholds over the LSH candidate set — the
    * planning table that picks a dedup θ for a new corpus (how much am
    * I about to delete?) from ONE candidate-generation pass; the
    * threshold ladder explodes AFTER the quadratic stage, so the sweep
    * costs one extra narrow aggregate, not five dedup runs.
    */
  private[graft] def qDedupSweep(s: SparkSession, dir: String): DataFrame = {
    val thetas = Seq(0.3, 0.5, 0.7, 0.8, 0.9)
    val pairs = graft.dedup.MinHashLSH.nearDupPairs(doc(s, dir), "doc_id",
        "text", n = 3, k = 16, bands = 4, threshold = 0.0)
      .select(col("a"), col("b"), col("jaccard"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sel = pairs
      .select(explode(array(thetas.map(lit(_)): _*)).as("theta"),
        col("a"), col("b"), col("jaccard"))
      .where(col("jaccard") >= col("theta"))
    val nPairs = sel.groupBy("theta").agg(count(lit(1)).as("n_pairs"))
    val nDocs = sel
      .select(col("theta"), explode(array(col("a"), col("b"))).as("id"))
      .groupBy("theta").agg(countDistinct("id").as("n_docs"))
    graft.core.Caches.retain("entry.dedupSweep", pairs)
    nPairs.join(nDocs, Seq("theta"), "left")
      .select(col("theta"), col("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
      .orderBy("theta")
  }

  /** G1 — deletion-propagation purge (the GDPR/right-to-be-forgotten
    * shape): a deletion list of user ids anti-joined out of the event
    * log, with a per-event-type before/after/deleted reconciliation
    * AND the residual count of surviving rows for deleted users — the
    * audit a data-governance pipeline must publish with every purge.
    * The anti join is a hash equi-join on the user id (the q194-family
    * LEFT ANTI surface, here as a registered at-scale operator);
    * reconciliation reuses one conditional-count pass per side.
    */
  private[graft] def qPurgeAudit(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir).select(col("user_id"), col("event_type"))
    val del = e.select("user_id").where(col("user_id") % 13 === 0).distinct()
    val purged = e.join(del, Seq("user_id"), "left_anti")
      .groupBy("event_type").agg(count(lit(1)).as("n_after"),
        count(when(col("user_id") % 13 === 0, 1)).as("n_residual"))
    e.groupBy("event_type").agg(count(lit(1)).as("n_before"))
      .join(purged, Seq("event_type"), "left")
      .select(col("event_type"), col("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        (col("n_before") - coalesce(col("n_after"), lit(0L))).as("n_deleted"),
        coalesce(col("n_residual"), lit(0L)).as("n_residual"))
      .orderBy("event_type")
  }

  /** A35 — Benjamini–Hochberg FDR correction: the multiple-testing
    * step-up over a family of per-event-type hypotheses (here: a
    * 3-bucket day-of-cycle uniformity χ² with df=2, whose survival
    * function is exactly e^(−χ²/2) — elementary, so p-values are
    * engine-exact with no special functions). Rank p ascending, reject
    * all ranks ≤ k* where k* = max{i : p_i ≤ (i/m)·α} — the step-up
    * rule that plain per-test α misstates. The ranking window runs
    * over the aggregated family table (one row per event type — cards
    * bounded by the hypothesis family, not the data), never over raw
    * events.
    */
  private[graft] def qBhFdr(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val alpha = 0.05
    val e = ev(s, dir).select(col("event_type"),
      expr("((ts div 1000) div 86400000000) % 3").as("b"))
    val byType = e.groupBy("event_type").agg(
      count(when(col("b") === 0, 1)).as("n0"),
      count(when(col("b") === 1, 1)).as("n1"),
      count(when(col("b") === 2, 1)).as("n2"),
      count(lit(1)).as("t"))
    val exp3 = col("t").cast(DoubleType) / lit(3.0)
    def term(c: Column) = pow(c.cast(DoubleType) - exp3, 2) / exp3
    val scored = byType.withColumn("chi2",
        term(col("n0")) + term(col("n1")) + term(col("n2")))
      .withColumn("p", exp(col("chi2") / lit(-2.0)))
    val w = Window.orderBy("p", "event_type")
    val wAll = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    scored.withColumn("rank", row_number().over(w))
      .withColumn("m", count(lit(1)).over(wAll))
      .withColumn("crit",
        col("rank").cast(DoubleType) / col("m").cast(DoubleType) * lit(alpha))
      .withColumn("kstar",
        coalesce(max(when(col("p") <= col("crit"), col("rank"))).over(wAll),
          lit(0)))
      .select(col("event_type"), col("t").as("n"),
        round(col("chi2"), 6).as("chi2"), round(col("p"), 6).as("p"),
        col("rank").cast("long").as("rank"),
        (col("rank") <= col("kstar")).as("reject"))
      .orderBy("rank")
  }

  /** J4 — relational set operations: INTERSECT / EXCEPT on distinct
    * key sets and INTERSECT ALL / EXCEPT ALL on multisets — the set
    * algebra surface (Catalyst plans these as semi/anti hash joins and
    * count-compare aggregates; nothing here should ever nested-loop).
    * Sets: customers with a high-value order vs customers with an
    * urgent order.
    */
  private[graft] def qSetOps(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    val m1 = o.where(col("o_totalprice") > 150000).select("o_custkey")
    val m2 = o.where(col("o_orderpriority") === "1-URGENT").select("o_custkey")
    val s1 = m1.distinct()
    val s2 = m2.distinct()
    def cnt(op: String, df: DataFrame) =
      df.agg(count(lit(1)).as("n")).select(lit(op).as("op"), col("n"))
    cnt("except_all", m1.exceptAll(m2))
      .unionByName(cnt("except_hp_minus_urgent", s1.except(s2)))
      .unionByName(cnt("except_urgent_minus_hp", s2.except(s1)))
      .unionByName(cnt("intersect", s1.intersect(s2)))
      .unionByName(cnt("intersect_all", m1.intersectAll(m2)))
      .orderBy("op")
  }

  /** T27 — tokenizer vocabulary coverage on a held-out split: fit a
    * top-V vocabulary on the train split only (q95's leak-proof hash
    * split), measure per-language OOV rate on the test split — the
    * coverage report that decides whether a tokenizer's V is large
    * enough per language BEFORE training with it. The vocabulary is
    * bounded by V, so the membership join broadcasts.
    */
  private[graft] def qTokenizerCoverage(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextOps
    val vocabSize = 256
    val split = graft.aug.Sampling.splitAssign(doc(s, dir), "doc_id",
      Seq("train" -> 0.9, "test" -> 0.1))
    val vocab = split.where(col("split") === "train")
      .select(explode(TextOps.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("token")).limit(vocabSize)
      .select(col("token"), lit(1).as("in_vocab"))
    split.where(col("split") === "test")
      .select(col("lang"), explode(TextOps.tokens(col("text"))).as("token"))
      .join(broadcast(vocab), Seq("token"), "left")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("in_vocab").isNull, 1)).as("n_oov"))
      .select(col("lang"), col("n_tokens"), col("n_oov"),
        round(col("n_oov").cast(DoubleType) /
          col("n_tokens").cast(DoubleType), 6).as("oov_rate"))
      .orderBy("lang")
  }

  /** N4 — hard-negative mining for contrastive training: for each
    * anchor embedding, the top-3 most-similar vectors with a DIFFERENT
    * label, candidates confined to shared LSH buckets (the registered
    * 16×4 banding) with exact cosine re-rank — the metric-learning
    * companion to q83's random negatives (hard negatives carry the
    * gradient signal; random ones mostly don't). Plane signs are
    * hoisted into their own projection so the 64 plane dots run once
    * per vector.
    */
  private[graft] def qHardNegatives(s: SparkSession, dir: String): DataFrame = {
    import graft.sim.{Ann, GraftFunctions}
    import org.apache.spark.sql.expressions.Window
    GraftFunctions.register(s)
    val v = em(s, dir).select(col("vec_id").cast("long").as("id"),
        col("embedding").as("vec"), col("label"))
      .withColumn("n2", GraftFunctions.norm2(col("vec")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bk = v
      .select(col("id"), Ann.planeSigns(col("vec"), 64, 64).as("signs"))
      .select(col("id"), posexplode(Ann.bucketsFromSigns(col("signs"), 16, 4)))
      .withColumnRenamed("pos", "tbl").withColumnRenamed("col", "bucket")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = bk.as("qx").where(col("qx.id") < 100)
      .join(bk.as("tx"),
        col("qx.tbl") === col("tx.tbl") &&
          col("qx.bucket") === col("tx.bucket") &&
          col("qx.id") =!= col("tx.id"))
      .select(col("qx.id").as("qid"), col("tx.id").as("tid"))
      .distinct()
    val scoredPairs = cand
      .join(v.select(col("id").as("qid"), col("vec").as("qvec"),
        col("n2").as("qn2"), col("label").as("label_a")), "qid")
      .join(v.select(col("id").as("tid"), col("vec").as("tvec"),
        col("n2").as("tn2"), col("label").as("label_b")), "tid")
      .where(col("label_a") =!= col("label_b"))
      .select(col("qid").as("a"), col("tid").as("b"),
        col("label_a"), col("label_b"),
        (GraftFunctions.dot(col("qvec"), col("tvec")) /
          (sqrt(col("qn2")) * sqrt(col("tn2")))).as("cos"))
    graft.core.Caches.retain("entry.hardNegatives", v, bk)
    scoredPairs
      .withColumn("rank", row_number().over(
        Window.partitionBy("a").orderBy(desc("cos"), asc("b"))))
      .where(col("rank") <= 3)
      .select(col("a"), col("b"), col("rank"), col("label_a"),
        col("label_b"), round(col("cos"), 6).as("cos"))
      .orderBy("a", "rank")
  }

  /** T28 — corpus data card: the per-source datasheet a curated
    * release ships (Datasheets for Datasets / Dolma-style): document
    * and token volumes, language spread with the dominant language,
    * mean quality, exact-duplicate and too-short counts — every signal
    * from ONE pass over the corpus plus two narrow per-source
    * aggregates; the kind of composed reporting query a 100 TB corpus
    * runs nightly.
    */
  private[graft] def qDataCard(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextOps
    import org.apache.spark.sql.expressions.Window
    val d = doc(s, dir).select(col("source"), col("lang"),
        TextOps.tokenCount(col("text")).cast("long").as("n_toks"),
        TextOps.qualityScore(col("text")).as("q"),
        TextOps.strHash(col("text")).as("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val base = d.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum("n_toks").as("n_tokens"),
      count(when(col("n_toks") < 20, 1)).as("n_short"),
      round(Stats.dmean(col("q")), 6).as("mean_quality"))
    val topLang = d.groupBy("source", "lang").agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("source").orderBy(desc("cnt"), asc("lang"))))
    val langs = topLang.groupBy("source").agg(
      count(lit(1)).as("n_langs"),
      max(when(col("rk") === 1, col("lang"))).as("top_lang"))
    val dups = d.groupBy("source", "h").agg(count(lit(1)).as("nh"))
      .groupBy("source")
      .agg(coalesce(sum(when(col("nh") > 1, col("nh"))), lit(0L))
        .as("n_dup_docs"))
    graft.core.Caches.retain("entry.dataCard", d)
    base.join(langs, "source").join(dups, "source")
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("n_langs"), col("top_lang"), col("mean_quality"),
        col("n_dup_docs"), col("n_short"))
      .orderBy("source")
  }

  /** N5 — product quantization ([[graft.sim.Pq]]): M=8 sub-space
    * codebooks of k=16 centroids over the 64-dim embeddings — 512
    * bytes/vector down to 8. Self-verifying audit (codebooks are
    * driver-fit model state): anchors n/dim/M/k/bytes, invariants
    * codes-in-range, dual-path arg-min agreement, nonneg + minimal
    * per-sub-space quantization error.
    */
  private[graft] def qPqQuantize(s: SparkSession, dir: String): DataFrame =
    graft.sim.Pq.audit(em(s, dir), "vec_id", "embedding", m = 8, k = 16)

  /** N6 — hybrid retrieval with reciprocal-rank fusion: the lexical
    * leg ranks the top-100 documents by BM25 (q164's scorer) and the
    * semantic leg the top-100 embeddings by cosine to the query
    * vector; RRF fuses `Σ 1/(60+rank)` over the legs a candidate
    * appears in — the standard hybrid-search merge (rank-based, so the
    * two legs' incomparable score scales never touch). Each leg's cut
    * is a distributed TakeOrderedAndProject with a total tie-break
    * order; the ranking window then runs over the 100-row cut (bounded
    * by the parameter, never the corpus — the q115 convention).
    * Missing-leg ranks report 0. Fully oracle-checked.
    */
  private[graft] def qHybridRrf(s: SparkSession, dir: String): DataFrame = {
    import graft.sim.GraftFunctions
    import org.apache.spark.sql.expressions.Window
    GraftFunctions.register(s)
    val rrfK = 60
    val topN = 100
    val lex = bm25Frame(s, dir, Seq("join", "hash", "filter"))
      .orderBy(desc("score"), asc("doc_id")).limit(topN)
      .withColumn("rank_lex", row_number().over(
        Window.orderBy(desc("score"), asc("doc_id"))))
      .select(col("doc_id").cast("long").as("id"), col("rank_lex"))
    val v = em(s, dir).select(col("vec_id").cast("long").as("id"),
        col("embedding").as("vec"))
      .withColumn("n2", GraftFunctions.norm2(col("vec")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val q = v.where(col("id") === 0)
      .select(col("vec").as("qvec"), col("n2").as("qn2"))
    val sem = v.where(col("id") =!= 0).crossJoin(broadcast(q))
      .select(col("id"), (GraftFunctions.dot(col("vec"), col("qvec")) /
        (sqrt(col("n2")) * sqrt(col("qn2")))).as("cos"))
      .orderBy(desc("cos"), asc("id")).limit(topN)
      .withColumn("rank_sem", row_number().over(
        Window.orderBy(desc("cos"), asc("id"))))
      .select(col("id"), col("rank_sem"))
    graft.core.Caches.retain("entry.hybridRrf", v)
    val fused = lex.join(sem, Seq("id"), "full_outer")
      .select(col("id"),
        coalesce(col("rank_lex"), lit(0)).cast("long").as("rank_lex"),
        coalesce(col("rank_sem"), lit(0)).cast("long").as("rank_sem"),
        (coalesce(lit(1.0) / (lit(rrfK) + col("rank_lex")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("rank_sem")), lit(0.0)))
          .as("rrf"))
    fused.orderBy(desc("rrf"), asc("id")).limit(20)
      .select(col("id"), col("rank_lex"), col("rank_sem"),
        round(col("rrf"), 6).as("rrf"))
  }

  /** MM''' — REAL video-container metadata decode (ISO-BMFF/MP4 box
    * walk → brand/timescale/duration/track-count, pure byte
    * arithmetic, no codec; Long cursors throughout per the byte-walk
    * rule): synthetic MP4 skeletons built from doc_id — every 4th with
    * the 64-bit mvhd v1 layout — round-trip through the parser against
    * a known-answer oracle. Frame decode stays the documented stub.
    * Completes the image (q74) / audio (q75) / video container
    * triple.
    */
  private[graft] def qVideoMeta(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Binary
    doc(s, dir).select(col("doc_id"))
      .withColumn("vid", Binary.synthVideoHeaderCol(col("doc_id")))
      .select(col("doc_id"), Binary.videoMetaCol(col("vid")).as("m"))
      .select(col("doc_id"), col("m.format").as("format"),
        col("m.major_brand").as("major_brand"),
        col("m.timescale").as("timescale"),
        col("m.duration_ms").as("duration_ms"),
        col("m.n_tracks").cast("long").as("n_tracks"))
      .orderBy("doc_id")
  }

  /** S9 — count-min sketch with an EXACT oracle: the D×W counter
    * matrix is one (row, cell)-keyed mergeable aggregate over the
    * deterministic hash family (the MinHash family shape over the
    * polynomial string hash), so the sketch — and every tracked key's
    * estimate `min_j counter[j][h_j(key)]` — computes bitwise
    * identically on both engines. Unlike the GK/HLL audits (q190/q191,
    * bound-checked), the CMS is fully value-checked: per tracked hot
    * key the oracle compares the exact true count, the exact estimate,
    * and the deterministic one-sided guarantee est ≥ true. Sketch
    * size is D·W cells regardless of corpus size — the fixed-memory
    * substitute for exact counting at 100 TB.
    */
  private[graft] def qCountMinSketch(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextOps
    val depth = 4
    val width = 256
    val tracked = (1L to 20L)
    val keyed = li(s, dir)
      .select(col("l_partkey").cast("string").as("key"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def cellOf(j: Column, key: Column): Column =
      ((lit(2L) * j + lit(1L)) * TextOps.strHash(key) +
        lit(7919L) * j + lit(12345L)) % lit(TextOps.P) % lit(width.toLong)
    val counters = keyed
      .select(explode(sequence(lit(0L), lit(depth - 1L))).as("j"), col("key"))
      .select(col("j"), cellOf(col("j"), col("key")).as("h"))
      .groupBy("j", "h").agg(count(lit(1)).as("c"))
    val cells = keyed.sparkSession
      .range(1, 21).select(col("id").as("partkey"))
      .select(col("partkey"),
        explode(sequence(lit(0L), lit(depth - 1L))).as("j"))
      .select(col("partkey"), col("j"),
        cellOf(col("j"), col("partkey").cast("string")).as("h"))
    val est = cells.join(counters, Seq("j", "h"))
      .groupBy("partkey").agg(min("c").as("est"))
    val truth = keyed.where(col("key").isin(tracked.map(_.toString): _*))
      .groupBy("key").agg(count(lit(1)).as("true_cnt"))
      .select(col("key").cast("long").as("partkey"), col("true_cnt"))
    graft.core.Caches.retain("entry.cms", keyed)
    truth.join(est, "partkey")
      .select(col("partkey"), col("true_cnt"), col("est"),
        (col("est") >= col("true_cnt")).as("est_ge_true"),
        (col("est") - col("true_cnt")).as("overestimate"))
      .orderBy("partkey")
  }

  /** N7 — IVF-PQ ANN ([[graft.sim.Pq.ivfPqTopK]]): coarse 16-cell
    * inverted file + 8×256 product-quantized ADC scoring + exact
    * re-rank of the 16k shortlist — the billion-scale vector-store
    * read path end to end. Registered at the measured r10 knee
    * (nprobe = 8, rerank 32 — the r9 nprobe=4 point's 0.56–0.65
    * recall@3 was the cell-probe ceiling, i.e. ADC loses almost
    * nothing after re-rank; doubling the probed cells moves the
    * ceiling, see q45 and the PLANS.md tradeoff curve). Same
    * self-verifying audit shape as q45: in-query recall vs the exact
    * top-k pinned ≥ 0.7 (PQ shortlist truncation costs a few points
    * vs exact-IVF's 0.75 floor), cosine validity pinned.
    */
  private[graft] def qIvfPq(s: SparkSession, dir: String): DataFrame = {
    val e = em(s, dir)
    val model = graft.sim.Pq.fit(e, "vec_id", "embedding", m = 8, k = 256)
    val approx = graft.sim.Pq.ivfPqTopK(e, "vec_id", "embedding", k = 3,
        model, nCells = 16, nprobe = 8, rerankFactor = 32,
        queryPred = col("id") < 100)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // persisted: the exact baseline feeds TWO count actions (nTrue and
    // the semi-join hit count) — unpersisted, the brute-force rerank
    // pass ran twice per rep (r16)
    val brute = graft.sim.Ann.cosineTopK(e,
        "vec_id", "embedding", k = 3, queryPred = col("id") < 100)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.Caches.retain("entry.q215.brute", brute)
    val nTrue = brute.count()
    val nHit = brute.select("a", "b")
      .join(approx.select("a", "b"), Seq("a", "b"), "left_semi").count()
    val recall = nHit.toDouble / nTrue
    val badCos = approx.agg(count(when(
      col("cos") < lit(-1.0 - 1e-9) || col("cos") > lit(1.0 + 1e-9), 1)))
      .head().getLong(0)
    graft.core.Caches.retain("entry.q215", approx)
    val nQueries = e.where(col("vec_id") < 100).count()
    import s.implicits._
    Seq((nQueries, 3L, 8L, 256L, recall >= 0.7, badCos == 0L))
      .toDF("n_queries", "k", "pq_m", "pq_k", "recall_ge_floor",
        "cos_in_range")
  }

  /** V1 — incremental view maintenance: a materialized per-group
    * aggregate (n, decimal sum) updated from a CDC delta batch by
    * MERGING partial aggregates — the lakehouse pattern that avoids
    * rescanning the base table on every ingest. The delta here is the
    * last day of orders (by order date); `base ⊎ delta` is maintained
    * as `agg(base) + agg(delta)` (group-wise outer merge of two small
    * aggregate states), and the oracle recomputes the view from the
    * full table — the in-query `ivm_ok` boolean pins
    * incremental == full-recompute per group, which only holds because
    * the aggregate state is mergeable and decimal-exact (a double sum
    * would drift under the split). Merge cost is O(groups), not
    * O(rows).
    */
  private[graft] def qIncrementalAgg(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
      .select(col("o_orderpriority").as("g"),
        expr("unix_timestamp(o_orderdate) div 86400").as("day"),
        col("o_totalprice").cast(DecimalType(38, 10)).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cut = o.agg(max(col("day"))).head().getLong(0)
    val isDelta = col("day") === cut
    def agg0(df: DataFrame) = df.groupBy("g")
      .agg(count(lit(1)).as("n"), sum("v").as("s"))
    val base = agg0(o.where(!isDelta))
    val delta = agg0(o.where(isDelta))
    val merged = base.as("b").join(delta.as("d"), Seq("g"), "full_outer")
      .select(col("g"),
        (coalesce(col("b.n"), lit(0L)) + coalesce(col("d.n"), lit(0L))).as("n"),
        (coalesce(col("b.s"), lit(BigDecimal(0)).cast(DecimalType(38, 10))) +
          coalesce(col("d.s"), lit(BigDecimal(0)).cast(DecimalType(38, 10))))
          .as("s"))
    val full = agg0(o).withColumnRenamed("n", "n_full")
      .withColumnRenamed("s", "s_full")
    graft.core.Caches.retain("entry.ivm", o)
    merged.join(full, "g")
      .select(col("g"), col("n"),
        round(col("s").cast(DoubleType), 4).as("sum_price"),
        (col("n") === col("n_full") && col("s") === col("s_full")).as("ivm_ok"))
      .orderBy("g")
  }

  /** E1 — multi-touch attribution (linear model): every purchase's
    * value is split equally across the user's touch events (any
    * non-purchase event) in the 7 days before it; purchases with no
    * touches credit a 'direct' bucket. Per-touch credit is computed in
    * integer MICRO-units (`round(v·10⁶ / n_touches)` — the double
    * division is deterministic, its scale-0 round is engine-exact, and
    * integer micros sum exactly; a raw double credit sum would be
    * partition-order-dependent). The purchase×touch pairing is a
    * per-user equi-join with a time-window residual predicate —
    * fan-out bounded by per-user activity, never a global range join.
    */
  private[graft] def qAttribution(s: SparkSession, dir: String): DataFrame = {
    val sevenDaysUs = 7L * 86400000000L
    val e = ev(s, dir).select(col("user_id"), col("event_id"),
        col("event_type"), expr("ts div 1000").as("us"),
        col("value").cast(DoubleType).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val purchases = e.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"),
        col("us").as("p_us"), col("v"))
    val touches = e.where(col("event_type") =!= "purchase")
      .select(col("user_id"), col("event_type").as("touch_type"),
        col("us").as("t_us"))
    val pairs = purchases.join(touches, Seq("user_id"))
      .where(col("t_us") < col("p_us") && col("t_us") >= col("p_us") - sevenDaysUs)
    val counted = pairs.groupBy("p_id", "v")
      .agg(count(lit(1)).as("n_touches"))
    val credited = pairs
      .join(counted.select(col("p_id"), col("n_touches")), "p_id")
      .select(col("touch_type"),
        round(col("v") * lit(1000000.0) / col("n_touches").cast(DoubleType))
          .cast("long").as("credit_micro"))
    val direct = purchases.join(
        counted.select(col("p_id"), col("n_touches")), Seq("p_id"), "left_anti")
      .select(lit("direct").as("touch_type"),
        round(col("v") * lit(1000000.0)).cast("long").as("credit_micro"))
    graft.core.Caches.retain("entry.attribution", e)
    credited.unionByName(direct)
      .groupBy("touch_type")
      .agg(count(lit(1)).as("n_credited"),
        round(sum("credit_micro").cast(DoubleType) / lit(1000000.0), 4)
          .as("credit"))
      .orderBy("touch_type")
  }

  /** A36 — Holt–Winters additive triple smoothing
    * ([[graft.seq.Rolling.holtWintersByKey]]): monthly revenue per
    * nation with a 12-month seasonal component — the seasonality-aware
    * companion to q167's Holt. Same distributed shape (one key per
    * group, order-fixed sequential fold), seasonal state carried by
    * rotation so the fold needs no time index.
    */
  private[graft] def qHoltWinters(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders").select(col("o_custkey"),
      col("o_totalprice"),
      (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("ym"))
    val c = Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val n = Tables.load(s, dir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    val monthly = o.join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("ym"))
      .agg(Stats.dsum(col("o_totalprice")).as("rev"))
    graft.seq.Rolling.holtWintersByKey(monthly, Seq("n_name"), "ym", "rev",
        alpha = 0.5, beta = 0.3, gamma = 0.2, period = 12)
      .select(col("n_name"), col("n"), round(col("level"), 6).as("level"),
        round(col("trend"), 6).as("trend"),
        round(col("next_season"), 6).as("next_season"),
        round(col("forecast"), 6).as("forecast"))
      .orderBy("n_name")
  }

}
