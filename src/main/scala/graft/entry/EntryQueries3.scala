package graft

import graft.core.{Caches, PrefixScan, Profiler, Quantiles, Stats}
import graft.eval.Metrics
import graft.features.{FrequencyIndexer, Imputers}
import graft.score.ZScoreAnomaly
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Query registry part 3 — see [[SparkEntry]] for the driver
  * contract. Mixed into `object SparkEntry`; the self-type gives
  * every member access to the shared helpers wherever they live.
  */
private[graft] trait EntryQueries3 { this: SparkEntry.type =>

  /** A driver-side double rounded HALF_UP at 6 decimals through its
    * shortest decimal form, the way Spark's `round` rounds a double. */
  private def r6(v: Double): Double = java.math.BigDecimal.valueOf(v)
    .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** A37 — split-conformal prediction interval: the
    * distribution-free uncertainty wrapper around ANY point predictor
    * (Vovk; Angelopoulos & Bates 2021). Hash-split train/cal/test; the
    * predictor is the per-segment train mean; q-hat is the (1-alpha)
    * calibration-residual quantile via the distributed exact
    * interpolated selection; test coverage of |y - yhat| <= q-hat is
    * then reported. Every number recomputes exactly in SQL: the oracle
    * is a full value check, not an audit.
    */
  private[graft] def qConformal(s: SparkSession, dir: String): DataFrame = {
    val alpha = 0.1
    val o = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority").as("seg"),
        col("o_totalprice").cast(DoubleType).as("y"))
    val split = Caches.keep("entry.conformal",
      graft.aug.Sampling.splitAssign(o, "o_orderkey",
          Seq("train" -> 0.5, "cal" -> 0.25, "test" -> 0.25)))
    val means = split.where(col("split") === "train")
      .groupBy("seg").agg(Stats.dmean(col("y")).as("yhat"))
    val withResid = split.join(broadcast(means), "seg")
      .withColumn("r", abs(col("y") - col("yhat")))
    val cal = Caches.keep("entry.conformal", withResid.where(col("split") === "cal"))
    val nCal = cal.count()
    // q-hat at the PLAIN (1-alpha) interpolated quantile — constant
    // fraction on both engines (DuckDB's quantile_cont cannot take a
    // computed fraction); the finite-sample-corrected
    // k = ceil((n_cal+1)(1-alpha)) order statistic is the production
    // refinement — same plan, a rank instead of a fraction
    val qhat = graft.core.OrderStats.quantilesOf(cal, "r",
      Seq(1.0 - alpha)).head
    split.where(col("split") === "test")
      .join(broadcast(means), "seg")
      .agg(count(lit(1)).as("n_test"),
        count(when(abs(col("y") - col("yhat")) <= qhat, 1)).as("n_covered"))
      .select(lit(nCal).as("n_cal"),
        round(lit(qhat), 4).as("qhat"), col("n_test"), col("n_covered"),
        round(col("n_covered").cast(DoubleType) /
          col("n_test").cast(DoubleType), 6).as("coverage"))
  }

  /** A38 — walk-forward forecast backtest
    * ([[graft.seq.Rolling.holtBacktestByKey]]): the monthly-revenue
    * Holt smoother scored by expanding-window one-step-ahead MAE
    * against the naive last-value baseline, per nation — forecast
    * validation with no look-ahead, errors accumulated inside the
    * order-fixed fold so the MAEs are engine-exact. A negative skill
    * honestly reports where persistence beats the smoother.
    */
  private[graft] def qForecastBacktest(s: SparkSession, dir: String): DataFrame = {
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
    graft.seq.Rolling.holtBacktestByKey(monthly, Seq("n_name"), "ym", "rev",
        alpha = 0.5, beta = 0.3)
      .select(col("n_name"), col("n"), round(col("mae"), 6).as("mae"),
        round(col("mae_naive"), 6).as("mae_naive"),
        round(col("skill"), 6).as("skill"))
      .orderBy("n_name")
  }

  /** D24 — PARAGRAPH-level exact dedup (the CCNet/RefinedWeb
    * "hash each paragraph, keep the first occurrence" pass — Wenzek
    * et al. 2020 §3.1): documents segment into NON-overlapping
    * 10-token blocks (the corpus has no newlines, so fixed-width
    * blocks stand in for paragraphs), each block hashes once, and a
    * block instance survives iff it is the global first occurrence of
    * its hash (min packed (doc_id, pos) — the integer-argmax
    * tie-break pattern). Complements q79 (OVERLAPPING spans →
    * coverage) and q23 (whole-doc dedup): this is the granularity
    * that strips shared boilerplate without dropping whole documents.
    * Cost is linear: one explode (n/10 blocks per doc — 10× CHEAPER
    * than a shingle explode), one map-combinable groupBy(hash), one
    * hash-keyed join back; per-source rollup with exact scaled-integer
    * retention fractions.
    */
  private[graft] def qParagraphDedup(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextOps
    val B = 10
    val paras = par(doc(s, dir))
      .select(col("doc_id"), col("source"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("source"), posexplode(
        transform(sequence(lit(0), ((size(col("toks")) - 1) / B).cast("int")),
          i => struct(
            TextOps.strHash(array_join(slice(col("toks"), i * B + 1, lit(B)), " ")).as("h"),
            least(lit(B), size(col("toks")) - i * B).cast("long").as("ntok")))))
      .select(col("doc_id"), col("source"), col("pos").cast("long").as("pos"),
        col("col.h").as("h"), col("col.ntok").as("ntok"))
    val byHash = paras.groupBy("h").agg(count(lit(1)).as("n_inst"),
      min(col("doc_id") * lit(1000000L) + col("pos")).as("fo"))
    paras.join(byHash, "h")
      .groupBy("source")
      .agg(countDistinct("doc_id").as("n_docs"),
        count(lit(1)).as("n_paras"),
        count(when(col("n_inst") > 1, 1)).as("n_dup_paras"),
        sum("ntok").as("n_tokens"),
        sum(when(col("n_inst") > 1, col("ntok")).otherwise(lit(0L)))
          .as("dup_tokens"),
        sum(when(col("doc_id") * lit(1000000L) + col("pos") === col("fo"),
          col("ntok")).otherwise(lit(0L))).as("kept_tokens"))
      .withColumn("kept_e6", expr("kept_tokens * 1000000 div n_tokens"))
      .orderBy("source")
  }

  /** D25 — DSIR-style importance weighting for data selection (Xie et
    * al. 2023, "Data Selection for Language Models via Importance
    * Resampling"): hashed-bigram bag-of-features, target = the English
    * slice, raw = the whole corpus; per-document weight is the mean
    * Laplace-smoothed log-likelihood ratio of its bigram buckets.
    * Scale shape: bigrams hash into a FIXED 1024-bucket feature space,
    * so both distribution fits are map-combinable aggregates to 1024
    * rows, the fitted log-ratio table broadcasts, and scoring is a
    * broadcast-join map pass — no shuffle grows with the corpus.
    * Determinism: ln rounds at 6 per bucket (the q96 transcendental
    * pattern), per-doc means are decimal-exact sums of those rounded
    * values; selection = weight > 0 (more target-like than raw).
    */
  private[graft] def qDsir(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextOps
    val NB = 1024
    val d = par(doc(s, dir))
      .select(col("doc_id"), col("source"), col("lang"),
        TextOps.tokens(col("text")).as("toks"))
    val inst = Caches.keep("entry.q262",
      d.select(col("doc_id"), col("source"), col("lang"),
          explode(when(size(col("toks")) >= 2,
            transform(sequence(lit(1), size(col("toks")) - 1),
              i => TextOps.strHash(concat(
                element_at(col("toks"), i), lit(" "),
                element_at(col("toks"), i + 1))) % NB))
            .otherwise(array().cast("array<long>"))).as("b")))
    // ONE fused groupBy(b) pass replaces the separate target/raw
    // aggregates and their left join (a zero en-count is identical to
    // the old join's null through the +1 Laplace term), and ONE fused
    // scalar aggregate replaces the two count() actions — two cache
    // passes and a join instead of four passes and a join (r16)
    val byB = inst.groupBy("b").agg(count(lit(1)).as("cr"),
      count(when(col("lang") === "en", 1)).as("ct"))
    val cnts = inst.agg(count(lit(1)).as("nr"),
      count(when(col("lang") === "en", 1)).as("nt")).head()
    val (nR, nT) = (cnts.getLong(0), cnts.getLong(1))
    val lr = byB
      .select(col("b"), round(
        log((col("ct") + lit(1)).cast(DoubleType) /
          lit((nT + NB).toDouble)) -
        log((col("cr") + lit(1)).cast(DoubleType) / lit((nR + NB).toDouble)),
        6).as("lr"))
    inst.join(broadcast(lr), "b")
      .groupBy("doc_id", "source")
      .agg(round(Stats.dsum(col("lr")) / count(lit(1)), 6).as("w"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        round(Stats.dsum(col("w")) / count(lit(1)), 6).as("mean_w"),
        count(when(col("w") > 0, 1)).as("n_selected"))
      .orderBy("source")
  }

  /** C7 — simplified SILHOUETTE score per label cluster (Rousseeuw
    * 1987; the "simplified" centroid form — a = distance to own
    * centroid, b = nearest other centroid — is the linear-cost variant
    * every large-scale library ships, vs the O(n²) exact form): the
    * cluster-quality measurement missing from the k-means/gap-stats
    * family (q197 measures k-selection, this measures assignment
    * quality). Two-phase: per-(label, dim) exact means (map-combinable
    * aggregate to k×64 rows, driver-collected under a loud bound),
    * then ONE codegen'd map pass with the centroids as plan literals —
    * the q211 typedlit lesson; no join, no shuffle beyond the final
    * k-row rollup. Determinism: centroid means are dsum/count (bit
    * identical cross-engine), distances fold per-dim squares in fixed
    * 1..64 order exactly like the oracle's list_reduce (the q29 dot
    * pattern), so a, b, s are bitwise reproducible; rounding happens
    * only at the output.
    */
  private[graft] def qSilhouette(s: SparkSession, dir: String): DataFrame = {
    val e = em(s, dir).select(col("vec_id"),
      col("label").cast("long").as("label"), col("embedding"))
    val cent = graft.sim.Centroids.labelCentroids(e, "label", "embedding")
      .select(col("group").cast("long").as("label"), col("dim"), col("mean"))
      .collect()
    require(cent.length <= 4096,
      s"silhouette centroid collect guard: ${cent.length} (k*dims) > 4096")
    val byLabel: Seq[(Long, Array[Double])] =
      cent.groupBy(_.getLong(0)).toSeq.sortBy(_._1).map { case (l, rows) =>
        l -> rows.sortBy(_.getLong(1)).map(_.getDouble(2)).toArray
      }
    val dims = byLabel.head._2.length
    def d2To(c: Array[Double]): Column =
      aggregate(sequence(lit(1), lit(dims)), lit(0.0), (acc, i) => {
        val d = element_at(col("embedding"), i.cast("int")).cast(DoubleType) -
          element_at(typedlit(c.toSeq), i.cast("int"))
        acc + d * d
      })
    val withD = byLabel.foldLeft(e) { case (df, (l, c)) =>
      df.withColumn(s"d2_$l", d2To(c))
    }
    val aCol = sqrt(coalesce(byLabel.map { case (l, _) =>
      when(col("label") === l, col(s"d2_$l")) }: _*))
    val bCol = sqrt(least(byLabel.map { case (l, _) =>
      when(col("label") =!= l, col(s"d2_$l")) }: _*))
    withD.select(col("label"), aCol.as("a"), bCol.as("b"),
        ((col("b") - col("a")) / greatest(col("a"), col("b"))).as("sil"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        round(Stats.dsum(col("a")) / count(lit(1)), 6).as("mean_a"),
        round(Stats.dsum(col("b")) / count(lit(1)), 6).as("mean_b"),
        round(Stats.dsum(col("sil")) / count(lit(1)), 6).as("mean_sil"))
      .orderBy("label")
  }

  /** C8 — Johnson–Lindenstrauss random projection with a measured
    * distortion audit: embeddings project 64→16 dims through a
    * deterministic ±1 sign matrix (sign(i,j) from a closed-form parity
    * — reproducible anywhere, nothing to store or broadcast), scaled
    * by 1/√16 (exact: division by 4). Distortion = ‖p(a)−p(b)‖²/‖a−b‖²
    * over a hash-sampled set of adjacent-id pairs (equi-join, never a
    * cross product). This is the cheap-projection leg of the ANN
    * family: JL says pairwise geometry survives a 4× dim cut, and this
    * query MEASURES it (mean/min/max ratio + the fraction inside the
    * [0.5, 1.5] band) instead of assuming it. Projection and distance
    * folds run in fixed dim order (the q29 pattern) so every ratio is
    * bitwise reproducible; rounding only at the output.
    */
  private[graft] def qJlProjection(s: SparkSession, dir: String): DataFrame = {
    val dIn = 64
    val dOut = 16
    // sign(i,j): parity of (131i+137j)² mod 1000003 — the SQUARE is
    // load-bearing. A LINEAR parity ((31i+17j)%2 = (-1)^(i+j)) is a
    // rank-1 matrix that collapses every output dim onto one
    // projection (measured band coverage 0.25), and a multiply-mod
    // Knuth hash alternates parity between adjacent cells (columns
    // pairwise anticorrelated, band 0.39–0.48). The quadratic-residue
    // parity measures rank 16, mean |column corr| 0.085, band 0.88 on
    // both Gaussian and the harness embeddings — matching the JL
    // prediction sd ≈ √(2/16) ≈ 0.35.
    val proj: Column = transform(sequence(lit(1), lit(dOut)), j =>
      aggregate(sequence(lit(1), lit(dIn)), lit(0.0), (acc, i) => {
        val v = element_at(col("embedding"), i.cast("int")).cast(DoubleType)
        val x = i.cast("long") * 131L + j.cast("long") * 137L
        acc + when((x * x) % 1000003L % 2 === 0, v).otherwise(-v)
      }) / lit(4.0))
    val e = em(s, dir).select(col("vec_id"), col("embedding"))
      .withColumn("p", proj)
    val a = e.select(col("vec_id").as("ida"), col("embedding").as("va"),
      col("p").as("pa"))
    val b = e.select(col("vec_id").as("idb"), col("embedding").as("vb"),
      col("p").as("pb"))
    def fold2(x: String, y: String, n: Int): Column =
      aggregate(sequence(lit(1), lit(n)), lit(0.0), (acc, i) => {
        val d = element_at(col(x), i.cast("int")).cast(DoubleType) -
          element_at(col(y), i.cast("int")).cast(DoubleType)
        acc + d * d
      })
    val pairs = a.where(graft.aug.Sampling.keyBucket(col("ida"), 5151L) <
        lit(200000L))
      .join(b, col("idb") === col("ida") + 1)
      .select(fold2("va", "vb", dIn).as("od2"), fold2("pa", "pb", dOut).as("pd2"))
      .where(col("od2") > 0)
      .withColumn("ratio", col("pd2") / col("od2"))
    pairs.agg(count(lit(1)).as("n_pairs"),
      round(Stats.dsum(col("ratio")) / count(lit(1)), 6).as("mean_ratio"),
      round(min("ratio"), 6).as("min_ratio"),
      round(max("ratio"), 6).as("max_ratio"),
      count(when(col("ratio") >= 0.5 && col("ratio") <= 1.5, 1))
        .as("n_in_band"))
  }

  /** X7 — POWER ANALYSIS / minimum-detectable-effect planning (the
    * step BEFORE every experiment the q141/q257–q260 family analyzes):
    * per metric (event_type), given the realized arm sizes under the
    * hash assignment and the metric's exact-decimal sd, the absolute
    * and relative MDE at alpha=0.05 two-sided / 80% power —
    * (z_{0.975}+z_{0.80})·sd·√(1/n_a+1/n_b) with the z constants as
    * plan literals. One map-combinable aggregate to k metric rows; the
    * relative MDE ships as an exact floor-scaled integer.
    */
  private[graft] def qPowerMde(s: SparkSession, dir: String): DataFrame = {
    val zsum = lit(1.959964 + 0.841621)
    val ev = Tables.load(s, dir, "events")
    val arm = graft.aug.Sampling.keyBucket(col("user_id"), 31L) < lit(500000L)
    ev.groupBy("event_type")
      .agg(count(when(arm, 1)).as("n_a"),
        count(when(!arm, 1)).as("n_b"),
        Stats.dmean(col("value")).as("mean_raw"),
        Stats.dstddevSamp(col("value")).as("sd_raw"))
      .withColumn("mde_abs_raw", zsum * col("sd_raw") *
        sqrt(lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))
      .select(col("event_type"), col("n_a"), col("n_b"),
        round(col("mean_raw"), 6).as("mean_value"),
        round(col("sd_raw"), 6).as("sd_value"),
        round(col("mde_abs_raw"), 6).as("mde_abs"),
        floor(col("mde_abs_raw") / col("mean_raw") * 1e6).cast("long")
          .as("mde_rel_e6"))
      .orderBy("event_type")
  }

  /** X8 — mSPRT always-valid sequential test (Johari, Pekelis &
    * Walsh 2017 — the "peeking problem" fix): the event stream in
    * arrival (event_id) order, a checkpoint every 500 events, and at
    * each checkpoint the two-sample mixture-SPRT log-likelihood ratio
    * for the arm mean difference under known variance —
    * logΛ = ½ln(V/(V+τ²)) + δ²τ²/(2V(V+τ²)), V = σ²(1/n_a+1/n_b),
    * τ² = σ²/4; reject when logΛ > ln(1/α) (α=0.05, literal
    * 2.995732). Scale shape: the running per-arm counts/sums come from
    * the two-phase distributed PrefixScan (the W4 machinery — NO
    * single-partition window over the stream); arm sums accumulate in
    * exact integer cents, σ² is the decimal-exact population variance
    * broadcast from a 1-row frame, and only ln rounds at the output
    * (the q96 transcendental pattern).
    */
  private[graft] def qMsprt(s: SparkSession, dir: String): DataFrame = {
    val isA = graft.aug.Sampling.keyBucket(col("user_id"), 31L) < lit(500000L)
    // detection-proof pair (the q259 pattern): the HEALTHY stream has
    // identical arms (the test must NOT reject — always-validity in
    // action), the SHIFTED twin bumps arm B values ×1.25 in exact
    // cents (the test MUST cross the boundary) — both scenarios run
    // through the same scan
    def stream(shifted: Boolean): DataFrame = {
      val vc = round(col("value") * 100).cast("long")
      // /4 of a small int is exact in double; cast back restores LONG
      // (a bare Column `/` is double division — PrefixScan needs longs)
      val vcB = if (shifted) ((vc * 5L) / lit(4)).cast("long") else vc
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("value"),
          when(isA, 1L).otherwise(0L).as("cnt_a"),
          when(isA, vc).otherwise(0L).as("sum_a_c"),
          when(!isA, 1L).otherwise(0L).as("cnt_b"),
          when(!isA, vcB).otherwise(0L).as("sum_b_c"))
      val tag = if (shifted) "shifted" else "healthy"
      val (scanned, _) = PrefixScan.build(ev, "event_id",
        Seq("cnt_a", "sum_a_c", "cnt_b", "sum_b_c"), s"entry.q266.$tag")
      // sigma^2 stays the HEALTHY-stream variance in both scenarios
      // (the planning constant of the known-variance mSPRT)
      val sig = Tables.load(s, dir, "events")
        .agg(Stats.dvarPop(col("value")).as("sig2"))
      scanned
        .select((col("cum_cnt_a_below") + col("cnt_a") +
            col("cum_cnt_b_below") + col("cnt_b")).as("n"),
          (col("cum_cnt_a_below") + col("cnt_a")).as("n_a"),
          (col("cum_cnt_b_below") + col("cnt_b")).as("n_b"),
          (col("cum_sum_a_c_below") + col("sum_a_c")).as("sa_c"),
          (col("cum_sum_b_c_below") + col("sum_b_c")).as("sb_c"))
        .where(col("n") % 500 === 0 && col("n_a") > 0 && col("n_b") > 0)
        .crossJoin(broadcast(sig))
        .withColumn("scenario", lit(tag))
    }
    val cp = stream(shifted = false).unionByName(stream(shifted = true))
    val delta = (col("sa_c").cast(DoubleType) / col("n_a") -
      col("sb_c").cast(DoubleType) / col("n_b")) / lit(100.0)
    val tau2 = col("sig2") / lit(4.0)
    val vv = col("sig2") * (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))
    val logLam = lit(0.5) * log(vv / (vv + tau2)) +
      delta * delta * tau2 / (lit(2.0) * vv * (vv + tau2))
    cp.select(col("scenario"), col("n"), col("n_a"), col("n_b"),
        round(delta, 6).as("delta"),
        round(logLam, 6).as("log_lambda"),
        (logLam > lit(2.995732)).as("rejected"))
      .orderBy("scenario", "n")
  }

  /** M9 — TEMPERATURE SCALING calibration (Guo et al. 2017 — the
    * one-parameter post-hoc calibrator every model-serving pipeline
    * runs): standardized-price logits z against the return flag, NLL(θ)
    * = Σ softplus(θz) − yθz minimized by three unrolled NEWTON steps on
    * θ = 1/T — gradient Σ z(p−y) and curvature Σ z²p(1−p) are ONE
    * map-combinable aggregate per step (distributed second-order
    * optimization with driver-side scalar state, the k-means shape).
    * Determinism: per-row transcendentals (softplus with the u>30
    * linear guard, sigmoid) round at 6 BEFORE their exact decimal
    * sums; θ rounds at 6 between steps (HALF_UP, mirroring round());
    * the oracle replays all three steps in MATERIALIZED CTE stages.
    * Each row reports the θ entering the step, its NLL, and the θ the
    * Newton update produced (raw Newton can overshoot before settling
    * — the trace shows it honestly; NLL at the final θ is the lowest).
    */
  private[graft] def qTempScaling(s: SparkSession, dir: String): DataFrame = {
    val base0 = li(s, dir).select(col("l_extendedprice").cast(DoubleType)
      .as("x"), when(col("l_returnflag") === "R", 1.0).otherwise(0.0).as("y"))
    val mo = base0.agg(Stats.dmean(col("x")).as("mu"),
      Stats.dstddevSamp(col("x")).as("sd")).head()
    val (mu, sd) = (mo.getDouble(0), mo.getDouble(1))
    val base = Caches.keep("entry.q267",
      par(base0).withColumn("z", (col("x") - lit(mu)) / lit(sd)))
    def softplus(u: Column): Column =
      when(u > 30.0, u).otherwise(log(lit(1.0) + exp(u)))
    def step(theta: Double): (Double, Double, Double) = {
      val u = lit(theta) * col("z")
      val p = lit(1.0) / (lit(1.0) + exp(-u))
      val r = base.agg(
        Stats.dsum(round(softplus(u) - col("y") * u, 6)).as("nll"),
        Stats.dsum(round(col("z") * (p - col("y")), 6)).as("g"),
        Stats.dsum(round(col("z") * col("z") * p * (lit(1.0) - p), 6))
          .as("h")).head()
      (r.getDouble(0), r.getDouble(1), r.getDouble(2))
    }
    var theta = 1.0
    val rows = (1 to 3).map { k =>
      val (nll, g, h) = step(theta)
      val next = r6(theta - g / h)
      val row = (k.toLong, theta, r6(nll), next)
      theta = next
      row
    }
    import s.implicits._
    rows.toDF("iter", "theta_in", "nll", "theta_out")
  }

  /** X9 — exact ENERGY DISTANCE between two value distributions
    * (Székely & Rizzo; the metric two-sample test that sees ANY
    * distributional difference, not just location like q64's KS or
    * q141's t): D² = 2E|X−Y| − E|X−X′| − E|Y−Y′|. The textbook form is
    * O(n²) pairwise; here every pairwise |x−y| sum collapses to ONE
    * distributed prefix scan over the merged value order — for each
    * element, (v·cnt_below − sum_below) against each group's running
    * totals sums exactly the cross-pair absolute differences (each
    * unequal pair counted once at its larger element; ties contribute
    * v−v = 0 wherever they land). Values are exact integer CENTS, so
    * all three pair-sums are overflow-checked BIGINTs with ZERO float
    * divergence — the U-statistic expectations and D² are the only
    * doubles, derived at the end. O(n log n) via the two-phase
    * PrefixScan (W4 machinery), no window, no pair join.
    */
  private[graft] def qEnergyDistance(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
      .where(col("event_type").isin("click", "view"))
      .select(col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("vc"))
      .withColumn("key", col("vc") * lit(10000000L) + col("event_id"))
      .withColumn("ca", when(col("event_type") === "click", 1L).otherwise(0L))
      .withColumn("sa", when(col("event_type") === "click", col("vc"))
        .otherwise(0L))
      .withColumn("cb", when(col("event_type") === "view", 1L).otherwise(0L))
      .withColumn("sb", when(col("event_type") === "view", col("vc"))
        .otherwise(0L))
    val (sc, _) = PrefixScan.build(ev, "key",
      Seq("ca", "sa", "cb", "sb"), "entry.q268")
    val agg = sc.select(col("ca"), col("cb"),
        (col("vc") * col("cum_ca_below") - col("cum_sa_below")).as("dA"),
        (col("vc") * col("cum_cb_below") - col("cum_sb_below")).as("dB"))
      .agg(sum("ca").as("n_a"), sum("cb").as("n_b"),
        sum(when(col("ca") === 1, col("dB")).otherwise(0L)
          + when(col("cb") === 1, col("dA")).otherwise(0L)).as("sxy"),
        sum(when(col("ca") === 1, col("dA")).otherwise(0L)).as("sxx"),
        sum(when(col("cb") === 1, col("dB")).otherwise(0L)).as("syy"))
    agg.select(col("n_a"), col("n_b"), col("sxy"), col("sxx"), col("syy"),
        (col("sxy").cast(DoubleType) /
          (col("n_a").cast(DoubleType) * col("n_b").cast(DoubleType)))
          .as("exy_c"),
        (lit(2.0) * col("sxx").cast(DoubleType) /
          (col("n_a").cast(DoubleType) * (col("n_a").cast(DoubleType) - 1.0)))
          .as("exx_c"),
        (lit(2.0) * col("syy").cast(DoubleType) /
          (col("n_b").cast(DoubleType) * (col("n_b").cast(DoubleType) - 1.0)))
          .as("eyy_c"))
      .select(col("n_a"), col("n_b"), col("sxy"), col("sxx"), col("syy"),
        round(col("exy_c") / 100.0, 6).as("e_xy"),
        round(col("exx_c") / 100.0, 6).as("e_xx"),
        round(col("eyy_c") / 100.0, 6).as("e_yy"),
        round((lit(2.0) * col("exy_c") - col("exx_c") - col("eyy_c")) / 100.0,
          6).as("energy_d2"))
  }

  /** X10 — NEYMAN ALLOCATION for stratified sampling design (Neyman
    * 1934; the budget-split answer to "how many rows per stratum"):
    * per stratum h, allocate n·N_h·σ_h / Σ N_hσ_h — strata that are
    * big AND noisy get the samples. Complements q72/q113 (which
    * EXECUTE samples) with the DESIGN step, and reports proportional
    * allocation beside it so the design delta is visible. One
    * map-combinable aggregate to k strata + a broadcast total; exact
    * decimal σ, share as floor-scaled integers.
    */
  private[graft] def qNeyman(s: SparkSession, dir: String): DataFrame = {
    val budget = 1000.0
    val st = Caches.keep("entry.q269", Tables.load(s, dir, "events")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_pop"),
        Stats.dstddevSamp(col("value")).as("sd_raw"))
      .withColumn("ns", col("n_pop").cast(DoubleType) * col("sd_raw")))
    val tot = st.agg(Stats.dsum(round(col("ns"), 6)).as("tot_ns"),
      sum("n_pop").as("n_tot"))
    st.crossJoin(broadcast(tot))
      .select(col("event_type"), col("n_pop"),
        round(col("sd_raw"), 6).as("sd_value"),
        floor(round(col("ns"), 6) / col("tot_ns") * 1e6).cast("long")
          .as("share_e6"),
        floor(round(col("ns"), 6) / col("tot_ns") * budget).cast("long")
          .as("neyman_n"),
        floor(col("n_pop").cast(DoubleType) / col("n_tot").cast(DoubleType)
          * budget).cast("long").as("prop_n"))
      .orderBy("event_type")
  }

  /** G5 — label-propagation COMMUNITIES ([[graft.core.LabelProp]])
    * over the brand co-occurrence graph (same ≥5-support edges as
    * q246's k-core): 4 synchronous rounds with the deterministic
    * (max count, then min label) update, then community rollup with a
    * sorted member list. The deterministic tie-break makes classic
    * LPA — usually randomized — exactly SQL-replayable: the oracle
    * unrolls all 4 rounds as MATERIALIZED CTE stages.
    */
  private[graft] def qLabelProp(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.load(s, dir, "part").select(col("p_partkey"), col("p_brand"))
    val ob = li(s, dir).select(col("l_orderkey"), col("l_partkey"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("ok"), col("p_brand").as("b"))
      .distinct()
    val e = Caches.keep("entry.q270", ob.toDF("ok", "b1")
      .join(ob.toDF("ok2", "b2"), col("ok") === col("ok2") && col("b1") < col("b2"))
      .groupBy("b1", "b2").agg(count(lit(1)).as("np"))
      .where(col("np") >= 5).select("b1", "b2"))
    graft.core.LabelProp.run(e, "b1", "b2", rounds = 4)
      .groupBy("lbl")
      .agg(count(lit(1)).as("n_members"),
        concat_ws(",", sort_array(collect_list(col("v")))).as("members"))
      .select(col("lbl").as("community"), col("n_members"), col("members"))
      .orderBy("community")
  }

  /** D26 — FELLEGI–SUNTER probabilistic record linkage (Fellegi &
    * Sunter 1969 — the decision-theoretic scoring layer the blocking
    * family q237/q241/q256 feeds): a corrupted twin of customer
    * (name digit bumped 1-in-7, segment rotated 1-in-11, balance
    * shifted 1-in-5 — the q259 detection-proof pattern) links back via
    * a (nation, name-prefix) BLOCK equi-join; each candidate pair
    * scores Σ of per-field agreement log-weights ln(m/u) /
    * ln((1−m)/(1−u)) with the m/u literals in the plan, and the
    * link / possible / non-link decision bands are evaluated against
    * ground truth (same custkey), so the output MEASURES the
    * operating points (true/false links per band) instead of assuming
    * them. Quadratic work stays block-confined; weights round at 6
    * per field before exact decimal pair sums.
    */
  private[graft] def qFellegiSunter(s: SparkSession, dir: String): DataFrame = {
    def w(m: Double, u: Double): (Double, Double) =
      (math.log(m / u), math.log((1.0 - m) / (1.0 - u)))
    val (wnA, wnD) = w(0.95, 0.001) // name
    val (wsA, wsD) = w(0.95, 0.2) // segment
    val (wbA, wbD) = w(0.98, 0.01) // balance-within-1
    val c = Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"), col("c_name"),
        col("c_acctbal"), col("c_mktsegment"))
    val twin = c.select(col("c_custkey").as("t_custkey"),
      col("c_nationkey").as("t_nationkey"),
      when(col("c_custkey") % 7 === 0,
        concat(substring(col("c_name"), 1, 16),
          lit("9"), substring(col("c_name"), 18, 99)))
        .otherwise(col("c_name")).as("t_name"),
      when(col("c_custkey") % 5 === 0, col("c_acctbal") + lit(1.5))
        .otherwise(col("c_acctbal")).as("t_acctbal"),
      when(col("c_custkey") % 11 === 0, lit("ROTATED"))
        .otherwise(col("c_mktsegment")).as("t_mktsegment"))
    // block on (nation, name-prefix-15): the 9-digit zero-padded id
    // means chars 10..15 are the HIGH six digits, i.e. the key/1000
    // range — block sizes stay BOUNDED as the corpus grows (new
    // customers mint new ranges). A 12-char prefix only reaches the
    // top-3 digits — constant "000" below key 1e6, which silently
    // degenerates to nation-only blocking: ScaleAb measured exponent
    // 1.78 (1.5 s → 92 s at 10×) before this fix, 0.0x after. The
    // 1-in-7 corruption sits at char 17 (inside the last-3 digits),
    // safely OUTSIDE the blocking prefix.
    val pairs = c.join(twin,
      col("c_nationkey") === col("t_nationkey") &&
        substring(col("c_name"), 1, 15) === substring(col("t_name"), 1, 15))
    val weight =
      round(when(col("c_name") === col("t_name"), wnA).otherwise(wnD), 6) +
      round(when(col("c_mktsegment") === col("t_mktsegment"), wsA)
        .otherwise(wsD), 6) +
      round(when(abs(col("c_acctbal") - col("t_acctbal")) <= 1.0, wbA)
        .otherwise(wbD), 6)
    pairs.select(weight.as("fs_w"),
        (col("c_custkey") === col("t_custkey")).as("is_true"))
      .withColumn("decision",
        when(col("fs_w") > 5.0, "link")
          .when(col("fs_w") < 0.0, "non_link").otherwise("possible"))
      .groupBy("decision")
      .agg(count(lit(1)).as("n_pairs"),
        count(when(col("is_true"), 1)).as("n_true"),
        round(Stats.dsum(col("fs_w")) / count(lit(1)), 6).as("mean_w"))
      .orderBy("decision")
  }

  /** X11 — exact SHAPLEY channel attribution (Shapley 1953 applied to
    * marketing response — the game-theoretic upgrade of q217's
    * first/last/linear heuristics): players = the four non-purchase
    * event channels, v(S) = observed conversion rate of users whose
    * exposure set is exactly S. The corpus-sized work is ONE user
    * rollup to a 4-bit exposure mask + purchase flag and ONE 16-row
    * coalition aggregate; the exponential Shapley lattice lives
    * entirely on metadata (16 coalitions, driver-enumerated exactly
    * like the oracle's bitmask joins). Exactness: v scales to
    * integer-e6 conversion rates, the |S|!(n−|S|−1)! weights are the
    * integers {6,2,2,6} (×24 = 4!), so every marginal-contribution sum
    * is INTEGER arithmetic — the only double is the final /24e6
    * display division.
    */
  private[graft] def qShapleyAttribution(s: SparkSession, dir: String): DataFrame = {
    val channels = Seq("click" -> 1, "view" -> 2, "signup" -> 4, "error" -> 8)
    val ev = Tables.load(s, dir, "events")
    // exposure uses a SPARSIFIED stream (event_id % 13 < 4) so masks
    // actually vary — on the full stream every active user touches
    // every channel and Shapley degenerates to the uniform 1/4 split
    // (measured); conversion stays on the full stream
    val mask = channels.map { case (c, b) =>
      max(when(col("event_type") === c && col("event_id") % 13 < 4, b)
        .otherwise(0)) }.reduce(_ + _)
    val perUser = ev.groupBy("user_id")
      .agg(mask.as("mask"),
        max(when(col("event_type") === "purchase", 1).otherwise(0))
          .as("conv"))
    val coal = perUser.groupBy("mask")
      .agg(count(lit(1)).as("n"), sum("conv").as("nc"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val v6 = (0 until 16).map { m =>
      m -> coal.get(m).map { case (n, nc) => nc * 1000000L / n }.getOrElse(0L)
    }.toMap
    val wFac = Map(0 -> 6L, 1 -> 2L, 2 -> 2L, 3 -> 6L)
    import s.implicits._
    channels.map { case (name, bit) =>
      val phiX = (0 until 16).filter(m => (m & bit) == 0).map { m =>
        wFac(Integer.bitCount(m)) * (v6(m | bit) - v6(m))
      }.sum
      val nExposed = coal.collect {
        case (m, (n, _)) if (m & bit) != 0 => n }.sum
      (name, nExposed, phiX,
        BigDecimal(phiX.toDouble / 24.0 / 1000000.0)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toDF("channel", "n_exposed_users", "phi_x24e6", "shapley_value")
      .orderBy("channel")
  }

  /** X12 — stratified IPW-free ATE (the causal-inference composition of
    * the experimentation family: q257 reduces variance WITHIN an
    * experiment, this estimates the effect when assignment is only
    * conditionally balanced): strata = order priority, treatment = the
    * hash arm, ATE = Σ_h (N_h/N)(ȳ_hT − ȳ_hC) with the conservative
    * two-sample SE² = Σ_h (N_h/N)²(s²_hT/n_hT + s²_hC/n_hC) — the
    * blocked-difference estimator (Imbens & Rubin ch. 9). One grouped
    * decimal-exact aggregate per stratum + a broadcast total; every
    * moment mirrors in SQL.
    */
  private[graft] def qStratifiedAte(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
      .select(col("o_orderpriority").as("stratum"),
        col("o_totalprice").cast(DoubleType).as("y"),
        (graft.aug.Sampling.keyBucket(col("o_orderkey"), 1234L) <
          lit(500000L)).as("t"))
    val st = Caches.keep("entry.q273", o.groupBy("stratum")
      .agg(count(lit(1)).as("n_h"),
        count(when(col("t"), 1)).as("n_t"),
        count(when(!col("t"), 1)).as("n_c"),
        Stats.dmean(when(col("t"), col("y"))).as("my_t"),
        Stats.dmean(when(!col("t"), col("y"))).as("my_c"),
        Stats.dvarSamp(when(col("t"), col("y"))).as("v_t"),
        Stats.dvarSamp(when(!col("t"), col("y"))).as("v_c")))
    val tot = st.agg(sum("n_h").as("n_tot"))
    val wgt = col("n_h").cast(DoubleType) / col("n_tot").cast(DoubleType)
    val per = Caches.keep("entry.q273", st.crossJoin(broadcast(tot))
      .select(col("stratum"), col("n_h"), col("n_t"), col("n_c"),
        round(col("my_t") - col("my_c"), 6).as("diff_h"),
        (wgt * (col("my_t") - col("my_c"))).as("wdiff_raw"),
        (wgt * wgt * (col("v_t") / col("n_t") + col("v_c") / col("n_c")))
          .as("wvar_raw")))
    val ate = per.agg(
      Stats.dsum(round(col("wdiff_raw"), 6)).as("ate"),
      Stats.dsum(round(col("wvar_raw"), 6)).as("var_ate")).head()
    per.select(col("stratum"), col("n_h"), col("n_t"), col("n_c"),
        col("diff_h"))
      .withColumn("ate", round(lit(ate.getDouble(0)), 6))
      .withColumn("se_ate", round(sqrt(lit(ate.getDouble(1))), 6))
      .orderBy("stratum")
  }

  /** SK5 — AMS F₂ sketch (Alon–Matias–Szegedy 1996, the second
    * frequency moment = self-join size / repeat rate of the bigram
    * stream): 16 ±1 counters, each ONE map-combinable sum — the
    * streaming-friendly estimator beside the exact Σc² pass it is
    * verified against (the q190/q214 sketch-audit pattern, except here
    * BOTH the estimate and the truth are exact integers, so the oracle
    * value-checks the estimator itself, not just an invariant). Signs
    * come from the quadratic-residue parity of (h + j·1000003)² mod P
    * — the q264 lesson: affine/multiplicative parities are correlated
    * across counters (measured rel-err −0.70 to −0.82 on this corpus);
    * the squared form measures −0.10 (mean-of-16) as AMS variance
    * predicts. The bigram hash is HOISTED into its own projection
    * (the HOF inlining trap — 16 counter lambdas would otherwise
    * re-hash per counter). Everything is integer arithmetic; the only
    * divisions are by powers of two (exact in double).
    */
  private[graft] def qAmsF2(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextOps
    val P = 1000000007L
    val inst = Caches.keep("entry.q274", par(doc(s, dir))
      .select(TextOps.tokens(col("text")).as("toks"))
      .select(explode(when(size(col("toks")) >= 2,
        transform(sequence(lit(1), size(col("toks")) - 1),
          i => TextOps.strHash(concat(
            element_at(col("toks"), i), lit(" "),
            element_at(col("toks"), i + 1)))))
        .otherwise(array().cast("array<long>"))).as("h")))
    val sums = (1 to 16).map { j =>
      val t = col("h") + lit(j * 1000003L)
      sum(when((t * t) % P % 2 === 0, 1L).otherwise(-1L)).as(s"s$j")
    }
    val sk = inst.agg(sums.head, sums.tail: _*).head()
    val ss = (0 until 16).map(sk.getLong)
    val ex = inst.groupBy("h").agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("n_distinct"), sum(col("c") * col("c")).as("f2"),
        sum("c").as("n_inst")).head()
    val (nDistinct, f2, nInst) = (ex.getLong(0), ex.getLong(1), ex.getLong(2))
    val sq = ss.map(v => v * v)
    val estMean = sq.sum / 16.0
    val groupMeans = sq.grouped(4).map(g => g.sum / 4.0).toSeq.sorted
    val estMom = (groupMeans(1) + groupMeans(2)) / 2.0
    import s.implicits._
    Seq((nInst, nDistinct, f2, r6(estMean), r6(estMom),
        r6((estMean - f2) / f2), r6((estMom - f2) / f2)))
      .toDF("n_inst", "n_distinct", "f2_exact", "f2_est_mean", "f2_est_mom",
        "rel_err_mean", "rel_err_mom")
  }

  /** X13 — instrumental-variables LATE via the WALD estimator (Imbens
    * & Angrist 1994 — the encouragement-design answer when uptake is
    * voluntary): Z = the hash assignment, D = deterministic uptake
    * (2/3 of encouraged comply, 1/7 of control always-take), LATE =
    * ITT / compliance-difference. Scenario pair: the NULL stream is
    * raw revenue, the INJECTED twin adds exactly +500 to every taker.
    * Because both scenarios share the identical draw, the noise
    * CANCELS in the twin difference: late(injected) − late(null) =
    * 500.000000 exactly (ITT shifts by exactly 500·compliance over
    * the same compliance) — the q259/q266 detection-proof pattern
    * applied to identification, with an EXACT recovery identity
    * instead of a statistical one. The per-scenario point estimates
    * honestly carry the small-sample noise their SE reports. One
    * grouped decimal-exact aggregate per scenario; delta-method SE =
    * SE(ITT)/|compliance|.
    */
  private[graft] def qIvLate(s: SparkSession, dir: String): DataFrame = {
    val z = graft.aug.Sampling.keyBucket(col("o_orderkey"), 777L) <
      lit(500000L)
    val d = (z && col("o_custkey") % 3 =!= 0) ||
      (!z && col("o_custkey") % 7 === 0)
    val base = Tables.load(s, dir, "orders")
      .select(z.as("z"), d.as("d"), col("o_totalprice").cast(DoubleType)
        .as("y0"))
    def arm(df: DataFrame, scenario: String): DataFrame = {
      val y = if (scenario == "injected")
        col("y0") + when(col("d"), 500.0).otherwise(0.0)
      else col("y0")
      df.withColumn("y", y)
        .groupBy("z")
        .agg(count(lit(1)).as("n"),
          Stats.dmean(col("y")).as("my"),
          Stats.dvarSamp(col("y")).as("vy"),
          count(when(col("d"), 1)).as("n_d"))
        .withColumn("scenario", lit(scenario))
    }
    val g = Caches.keep("entry.q275",
      arm(base, "null").unionByName(arm(base, "injected")))
    val z1 = g.where(col("z")).select(col("scenario"), col("n").as("n1"),
      col("my").as("my1"), col("vy").as("vy1"), col("n_d").as("nd1"))
    val z0 = g.where(!col("z")).select(col("scenario"), col("n").as("n0"),
      col("my").as("my0"), col("vy").as("vy0"), col("n_d").as("nd0"))
    val itt = col("my1") - col("my0")
    val comp = col("nd1").cast(DoubleType) / col("n1") -
      col("nd0").cast(DoubleType) / col("n0")
    val seItt = sqrt(col("vy1") / col("n1") + col("vy0") / col("n0"))
    z1.join(z0, "scenario")
      .select(col("scenario"), (col("n1") + col("n0")).as("n"),
        round(itt, 6).as("itt"),
        round(comp, 6).as("compliance_diff"),
        round(itt / comp, 6).as("late"),
        round(seItt / abs(comp), 6).as("se_late"))
      .orderBy("scenario")
  }

  /** X14 — difference-in-differences with a PLACEBO pre-trend check
    * (Card & Krueger shape): treated = the user hash arm, period =
    * a deterministic event-id phase, DiD = (ΔT) − (ΔC). Scenario
    * pair on the identical draw: the injected twin adds exactly +25
    * to treated-post values, so did(injected) − did(null) = 25.000000
    * EXACTLY (shared noise cancels); the placebo contrast (two PRE
    * sub-periods) is by construction identical across scenarios — the
    * parallel-trends diagnostic that separates a real design from a
    * trend artifact. One grouped aggregate per scenario over
    * (treated, phase) cells; exact decimal moments, closed-form SE
    * from the four cell variances.
    */
  private[graft] def qDid(s: SparkSession, dir: String): DataFrame = {
    val treated = graft.aug.Sampling.keyBucket(col("user_id"), 31L) <
      lit(500000L)
    val base = Tables.load(s, dir, "events")
      .select(treated.as("t"), (col("event_id") % 10).as("phase"),
        col("value").cast(DoubleType).as("y0"))
    def cells(scenario: String): DataFrame = {
      val post = col("phase") >= 5
      val y = if (scenario == "injected")
        col("y0") + when(col("t") && post, 25.0).otherwise(0.0)
      else col("y0")
      base.withColumn("y", y)
        .withColumn("grp",
          when(post, "post").when(col("phase") < 2, "pre_a")
            .otherwise("pre_b"))
        .groupBy("t", "grp")
        .agg(count(lit(1)).as("n"), Stats.dmean(col("y")).as("my"),
          Stats.dvarSamp(col("y")).as("vy"))
        .withColumn("scenario", lit(scenario))
    }
    val g = Caches.keep("entry.q276", cells("null").unionByName(cells("injected")))
    def cell(t: Boolean, grp: String, suffix: String): DataFrame =
      g.where(col("t") === t && col("grp") === grp)
        .select(col("scenario"), col("n").as(s"n_$suffix"),
          col("my").as(s"my_$suffix"), col("vy").as(s"vy_$suffix"))
    val j = cell(true, "post", "tp").join(cell(true, "pre_a", "ta"), "scenario")
      .join(cell(true, "pre_b", "tb"), "scenario")
      .join(cell(false, "post", "cp"), "scenario")
      .join(cell(false, "pre_a", "ca"), "scenario")
      .join(cell(false, "pre_b", "cb"), "scenario")
    // pre = both pre sub-periods pooled by exact-count weighting
    val preT = (col("my_ta") * col("n_ta") + col("my_tb") * col("n_tb")) /
      (col("n_ta") + col("n_tb"))
    val preC = (col("my_ca") * col("n_ca") + col("my_cb") * col("n_cb")) /
      (col("n_ca") + col("n_cb"))
    val did = (col("my_tp") - preT) - (col("my_cp") - preC)
    val placebo = (col("my_tb") - col("my_ta")) -
      (col("my_cb") - col("my_ca"))
    val seDid = sqrt(col("vy_tp") / col("n_tp") + col("vy_cp") / col("n_cp") +
      col("vy_ta") / col("n_ta") + col("vy_ca") / col("n_ca"))
    j.select(col("scenario"),
        (col("n_tp") + col("n_ta") + col("n_tb") + col("n_cp") +
          col("n_ca") + col("n_cb")).as("n"),
        round(did, 6).as("did"),
        round(seDid, 6).as("se_did"),
        round(placebo, 6).as("placebo_pre_trend"))
      .orderBy("scenario")
  }

  /** X15 — regression discontinuity (sharp RDD, Thistlethwaite &
    * Campbell 1960): running variable = account balance, cutoff 5000,
    * bandwidth ±2000; per side, a closed-form local LINEAR fit of
    * customer revenue on the centered running variable (the q173 OLS
    * moments, decimal-exact), jump = the difference of the two
    * intercepts AT the cutoff. The injected twin adds exactly +300
    * above the cutoff; on the shared draw the twin difference
    * jump(injected) − jump(null) = 300.000000 EXACTLY, while the
    * per-scenario jumps honestly carry the local-linear small-sample
    * noise (tens of thousands at n≈25/side — RDD needs bandwidth-
    * scaled data, and the output shows why).
    * The fit is one grouped aggregate over (scenario, side) — four
    * rows of sufficient statistics, everything else is driver-free
    * column arithmetic.
    */
  private[graft] def qRdd(s: SparkSession, dir: String): DataFrame = {
    val cut = 5000.0
    val bw = 2000.0
    val o = Tables.load(s, dir, "orders")
      .groupBy("o_custkey").agg(Stats.dsum(col("o_totalprice")).as("rev"))
    val c = Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_acctbal").cast(DoubleType).as("x"))
    val base = Caches.keep("entry.q277", c.join(o, col("c_custkey") === col("o_custkey"))
      .where(abs(col("x") - cut) <= bw)
      .select((col("x") - cut).as("xc"), (col("x") >= cut).as("right"),
        col("rev").as("y0")))
    def fits(scenario: String): DataFrame = {
      val y = if (scenario == "injected")
        col("y0") + when(col("right"), 300.0).otherwise(0.0)
      else col("y0")
      val n = count(lit(1)).cast(DoubleType)
      base.withColumn("y", y)
        .groupBy("right")
        .agg(count(lit(1)).as("n"),
          ((n * Stats.dsum(col("xc") * col("y")) -
            Stats.dsum(col("xc")) * Stats.dsum(col("y"))) /
            (n * Stats.dsum(col("xc") * col("xc")) -
              Stats.dsum(col("xc")) * Stats.dsum(col("xc")))).as("b"),
          (Stats.dsum(col("y")) / n).as("my"),
          (Stats.dsum(col("xc")) / n).as("mx"))
        .select(col("right"), col("n"), col("b"),
          (col("my") - col("b") * col("mx")).as("a"))
        .withColumn("scenario", lit(scenario))
    }
    val g = fits("null").unionByName(fits("injected"))
    val l = g.where(!col("right")).select(col("scenario"),
      col("n").as("n_left"), col("a").as("a_l"), col("b").as("b_l"))
    val r = g.where(col("right")).select(col("scenario"),
      col("n").as("n_right"), col("a").as("a_r"), col("b").as("b_r"))
    l.join(r, "scenario")
      .select(col("scenario"), col("n_left"), col("n_right"),
        round(col("a_l"), 6).as("intercept_left"),
        round(col("a_r"), 6).as("intercept_right"),
        round(col("b_l"), 6).as("slope_left"),
        round(col("b_r"), 6).as("slope_right"),
        round(col("a_r") - col("a_l"), 6).as("jump"))
      .orderBy("scenario")
  }

  /** X16 — RAKING / iterative proportional fitting (Deming & Stephan
    * 1940 — the survey-weighting workhorse; completes the weighting
    * family beside q269's Neyman DESIGN and q113's weighted
    * EXECUTION): a 30% hash sample of events is re-weighted so its
    * (event_type × value-band) margins match the full population's.
    * The corpus-sized work is exactly TWO map-combinable cell
    * aggregates (population and sample); the IPF loop runs on the
    * 15-cell metadata frame as driver scalar state (the k-means/q267
    * shape) — 3 rounds × (row-fit, column-fit). Determinism: cell
    * weights round at 6 after every multiplicative update and the
    * margin sums are decimal-exact over those rounded values, so the
    * oracle replays all 6 half-rounds in MATERIALIZED CTE stages.
    */
  private[graft] def qRaking(s: SparkSession, dir: String): DataFrame = {
    val band = when(col("value") < 50, "lo")
      .when(col("value") < 200, "mid").otherwise("hi")
    val ev = Tables.load(s, dir, "events")
      .select(col("event_id"), col("event_type").as("r"), band.as("c"))
    val pop = ev.groupBy("r", "c").agg(count(lit(1)).as("n_pop"))
      .collect().map(x => (x.getString(0), x.getString(1)) -> x.getLong(2))
      .toMap
    val samp = graft.aug.Sampling.hashSample(ev, "event_id", 0.3, seed = 99L)
      .groupBy("r", "c").agg(count(lit(1)).as("n_samp"))
      .collect().map(x => (x.getString(0), x.getString(1)) -> x.getLong(2))
      .toMap
    val cells = pop.keySet.toSeq.sorted
    val rows = cells.map(_._1).distinct.sorted
    val colsB = cells.map(_._2).distinct.sorted
    val nPopTot = pop.values.sum
    val nSampTot = samp.values.sum
    // w starts uniform N/n; each half-round scales by target/achieved
    // margin; sums accumulate over ROUNDED per-cell products so the
    // fold is order-free (decimal-sum semantics, mirrored in SQL)
    var w = cells.map(k => k -> r6(nPopTot.toDouble / nSampTot)).toMap
    def dsumLocal(vs: Seq[Double]): Double =
      vs.map(v => BigDecimal.valueOf(v)).sum.toDouble
    (1 to 3).foreach { _ =>
      val rowFac = rows.map { r =>
        val target = cells.filter(_._1 == r).map(k => pop(k)).sum.toDouble
        val got = dsumLocal(cells.filter(_._1 == r).map(k =>
          r6(w(k) * samp.getOrElse(k, 0L).toDouble)))
        r -> (if (got > 0) target / got else 1.0)
      }.toMap
      w = w.map { case (k, v) => k -> r6(v * rowFac(k._1)) }
      val colFac = colsB.map { c =>
        val target = cells.filter(_._2 == c).map(k => pop(k)).sum.toDouble
        val got = dsumLocal(cells.filter(_._2 == c).map(k =>
          r6(w(k) * samp.getOrElse(k, 0L).toDouble)))
        c -> (if (got > 0) target / got else 1.0)
      }.toMap
      w = w.map { case (k, v) => k -> r6(v * colFac(k._2)) }
    }
    import s.implicits._
    cells.map { k =>
      (k._1, k._2, pop(k), samp.getOrElse(k, 0L), w(k),
        r6(w(k) * samp.getOrElse(k, 0L).toDouble))
    }.toDF("event_type", "band", "n_pop", "n_samp", "weight", "w_mass")
      .orderBy("event_type", "band")
  }

  /** X17 — exact WASSERSTEIN-1 drift (earth-mover distance, THE
    * distribution-shift metric of ML monitoring — companion to q268's
    * energy distance and q64's KS): W₁ = ∫|F_A − F_B| dx computed
    * EXACTLY as Σ |cumA·n_B − cumB·n_A|·gap over distinct cent values
    * — an integer numerator, one division at the end. The window runs
    * over the PRE-AGGREGATED distinct-value frame (the documented
    * rocPoints exemption class: #distinct cents, not #events, and
    * partitioned by scenario). Healthy/shifted scenario pair (the
    * q266 pattern): identical arms must read ≈0 dollars, the ×1.25
    * arm-B twin must read the planted shift.
    */
  private[graft] def qW1Drift(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val isA = graft.aug.Sampling.keyBucket(col("user_id"), 31L) < lit(500000L)
    val base = Tables.load(s, dir, "events")
      .select(isA.as("a"), round(col("value") * 100).cast("long").as("vc"))
    def scen(shifted: Boolean): DataFrame = {
      val vc = if (shifted)
        when(col("a"), col("vc")).otherwise((col("vc") * 5L / lit(4)).cast("long"))
      else col("vc")
      base.select(col("a"), vc.as("v"))
        .groupBy("v")
        .agg(count(when(col("a"), 1)).as("ca"),
          count(when(!col("a"), 1)).as("cb"))
        .withColumn("scenario", lit(if (shifted) "shifted" else "healthy"))
    }
    val g = Caches.keep("entry.q279", scen(false).unionByName(scen(true)))
    val tot = g.groupBy("scenario")
      .agg(sum("ca").as("n_a"), sum("cb").as("n_b"))
    val wsp = Window.partitionBy("scenario").orderBy("v")
    val cum = g.select(col("scenario"), col("v"),
        sum("ca").over(wsp.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)).as("cuma"),
        sum("cb").over(wsp.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)).as("cumb"),
        (lead("v", 1).over(wsp) - col("v")).as("gap"))
      .join(broadcast(tot), "scenario")
    cum.groupBy("scenario")
      .agg(max("n_a").as("n_a"), max("n_b").as("n_b"),
        count(lit(1)).as("n_distinct"),
        sum(when(col("gap").isNotNull,
          abs(col("cuma") * col("n_b") - col("cumb") * col("n_a")) *
            col("gap")).otherwise(0L)).as("w1_num"))
      .select(col("scenario"), col("n_a"), col("n_b"), col("n_distinct"),
        col("w1_num"),
        round(col("w1_num").cast(DoubleType) /
          (col("n_a").cast(DoubleType) * col("n_b").cast(DoubleType)) /
          lit(100.0), 6).as("w1_dollars"))
      .orderBy("scenario")
  }

  /** D27 — greedy MAX-COVERAGE corpus selection (the facility-location
    * / submodular objective behind "pick the subset that covers the
    * most content" data-selection recipes — Nemhauser's greedy carries
    * the (1−1/e) guarantee): 8 rounds, each picking the document whose
    * shingle set adds the most UNCOVERED 3-grams (tie-break min
    * doc_id), then folding its shingles into the covered set.
    * Complements q252's k-center (geometric diversity) with the
    * set-coverage view. Per round: one anti-join against the covered
    * set + one grouped count + a 1-row driver argmax (the k-center
    * shape); `localCheckpoint` truncates the growing covered-set
    * lineage. The oracle unrolls all 8 rounds as MATERIALIZED stages.
    */
  private[graft] def qCoverageSelect(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextOps
    val grams = Caches.keep("entry.q280", par(doc(s, dir))
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(array_distinct(
        when(size(col("toks")) >= 3,
          transform(sequence(lit(1), size(col("toks")) - 2),
            i => TextOps.strHash(array_join(slice(col("toks"), i, lit(3)), " "))))
          .otherwise(array().cast("array<long>")))).as("g")))
    val total = grams.select("g").distinct().count()
    var covered = s.range(0).select(col("id").as("g"))
    var cum = 0L
    val picks = (1 to 8).map { k =>
      val gain = grams.join(covered, Seq("g"), "left_anti")
        .groupBy("doc_id").agg(count(lit(1)).as("new_g"))
        .orderBy(desc("new_g"), asc("doc_id")).limit(1).head()
      val (docId, g) = (gain.getLong(0), gain.getLong(1))
      covered = covered
        .union(grams.where(col("doc_id") === docId).select("g"))
        .distinct().localCheckpoint()
      cum += g
      (k.toLong, docId, g, cum, cum * 1000000L / total)
    }
    import s.implicits._
    picks.toDF("rank", "doc_id", "gain", "cum_covered", "coverage_e6")
  }

  /** A39 — BRIER SCORE with the Murphy decomposition (Murphy 1973):
    * brier = reliability − resolution + uncertainty — the calibration
    * summary behind q90's reliability diagram (q90 shows the bins,
    * this reduces them to the three decision-theoretic components and
    * CHECKS the identity, reporting the rounding residual honestly).
    * Probabilities come from a fixed-θ logistic on the standardized
    * price (θ = q267's converged operating point); per-row and per-bin
    * terms round at 6 before their exact decimal sums, two
    * map-combinable aggregate levels (rows → 10 bins → 1).
    */
  private[graft] def qBrier(s: SparkSession, dir: String): DataFrame = {
    val mo = li(s, dir).agg(
      Stats.dmean(col("l_extendedprice")).as("mu"),
      Stats.dstddevSamp(col("l_extendedprice")).as("sd")).head()
    val (mu, sd) = (mo.getDouble(0), mo.getDouble(1))
    val theta = 0.025
    val base = Caches.keep("entry.q281", par(li(s, dir)).select(
        when(col("l_returnflag") === "R", 1.0).otherwise(0.0).as("y"),
        round(lit(1.0) / (lit(1.0) +
          exp(-(lit(theta) * ((col("l_extendedprice") - lit(mu)) / lit(sd))))),
          6).as("p"))
      .withColumn("bin", least(lit(9L), floor(col("p") * 10).cast("long"))))
    val glob = base.agg(count(lit(1)).as("n_tot"),
      (Stats.dsum(col("y")) / count(lit(1))).as("ybar"),
      round(Stats.dsum(round((col("p") - col("y")) * (col("p") - col("y")),
        6)) / count(lit(1)), 6).as("brier"))
    val bins = base.groupBy("bin")
      .agg(count(lit(1)).as("nk"),
        (Stats.dsum(col("p")) / count(lit(1))).as("pk"),
        (Stats.dsum(col("y")) / count(lit(1))).as("yk"))
    bins.crossJoin(broadcast(glob))
      .select(col("n_tot"), col("ybar"), col("brier"),
        round(col("nk") * (col("pk") - col("yk")) * (col("pk") - col("yk")),
          6).as("rel_t"),
        round(col("nk") * (col("yk") - col("ybar")) * (col("yk") - col("ybar")),
          6).as("res_t"))
      .groupBy("n_tot", "ybar", "brier")
      .agg(round(Stats.dsum(col("rel_t")) / col("n_tot"), 6).as("reliability"),
        round(Stats.dsum(col("res_t")) / col("n_tot"), 6).as("resolution"))
      .select(col("n_tot"), col("brier"), col("reliability"),
        col("resolution"),
        round(col("ybar") * (lit(1.0) - col("ybar")), 6).as("uncertainty"),
        round(col("brier") - (col("reliability") - col("resolution") +
          col("ybar") * (lit(1.0) - col("ybar"))), 6).as("identity_gap"))
  }

  /** T32 — COLLOCATION detection by Dunning's log-likelihood ratio
    * (Dunning 1993 — the statistically sound cousin of q159's PMI,
    * which overweights rare pairs): adjacent bigrams scored by the
    * 2×2 G² statistic of (bigram count vs first/second-position
    * unigram margins). Counts are exact corpus aggregates; each of
    * the four k·ln(kN/(RC)) terms rounds at 6 before the fixed-order
    * sum (the q96 transcendental pattern); top-20 by (G², pair) via
    * the distributed top-k. Margin joins are vocabulary-sized →
    * broadcast.
    */
  private[graft] def qCollocations(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextOps
    val bi = Caches.keep("entry.q282", par(doc(s, dir))
      .select(TextOps.tokens(col("text")).as("toks"))
      .select(explode(when(size(col("toks")) >= 2,
        transform(sequence(lit(1), size(col("toks")) - 1),
          i => struct(element_at(col("toks"), i).as("w1"),
            element_at(col("toks"), i + 1).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>")))
        .as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2")))
    val pair = bi.groupBy("w1", "w2").agg(count(lit(1)).as("cab"))
      .where(col("cab") >= 5)
    val c1 = bi.groupBy("w1").agg(count(lit(1)).as("c1"))
    val c2 = bi.groupBy("w2").agg(count(lit(1)).as("c2"))
    val nTot = bi.count()
    def term(k: Column, r: Column, c: Column): Column =
      round(when(k > 0, k.cast(DoubleType) *
        log(k.cast(DoubleType) * lit(nTot.toDouble) /
          (r.cast(DoubleType) * c.cast(DoubleType)))).otherwise(0.0), 6)
    val k11 = col("cab")
    val k12 = col("c1") - col("cab")
    val k21 = col("c2") - col("cab")
    val k22 = lit(nTot) - col("c1") - col("c2") + col("cab")
    val r2 = lit(nTot) - col("c1")
    val cc2 = lit(nTot) - col("c2")
    val g2 = lit(2.0) * (term(k11, col("c1"), col("c2")) +
      term(k12, col("c1"), cc2) + term(k21, r2, col("c2")) +
      term(k22, r2, cc2))
    pair.join(broadcast(c1), "w1").join(broadcast(c2), "w2")
      .select(col("w1"), col("w2"), col("cab"), col("c1"), col("c2"),
        round(g2, 6).as("llr"))
      .orderBy(desc("llr"), asc("w1"), asc("w2"))
      .limit(20)
  }

  /** A40 — PINBALL (quantile) LOSS evaluation (Koenker & Bassett
    * 1978's check function — the proper scoring rule for quantile
    * forecasts, completing the q219/q220 forecast-evaluation family):
    * a hash-split train half fits per-segment means, the held-out
    * half scores them at τ ∈ {0.1, 0.5, 0.9}. Per-row losses round at
    * 6 before exact decimal means; the asymmetry constants are
    * COMPUTED (τ − 1.0) on both engines — the parsed literal "-0.9"
    * is a DIFFERENT double than 0.1 − 1.0, the documented
    * cross-engine literal trap.
    */
  private[graft] def qPinball(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority").as("seg"),
        col("o_totalprice").cast(DoubleType).as("y"))
    val isTrain = graft.aug.Sampling.keyBucket(col("o_orderkey"), 17L) <
      lit(500000L)
    val base = Caches.keep("entry.q283", o.withColumn("train", isTrain))
    val means = base.where(col("train"))
      .groupBy("seg").agg(Stats.dmean(col("y")).as("yhat"))
    val test = base.where(!col("train"))
      .join(broadcast(means), "seg")
      .withColumn("e", col("y") - col("yhat"))
    import s.implicits._
    val taus = Seq(0.1, 0.5, 0.9).toDF("tau")
    test.crossJoin(broadcast(taus))
      .groupBy("tau")
      .agg(count(lit(1)).as("n_test"),
        round(Stats.dsum(round(greatest(col("tau") * col("e"),
          (col("tau") - lit(1.0)) * col("e")), 6)) / count(lit(1)), 6)
          .as("pinball"))
      .orderBy("tau")
  }

  /** A41 — HORVITZ–THOMPSON estimation from the unequal-probability
    * stratified sample (Horvitz & Thompson 1952 — the estimator that
    * makes q72's designs USABLE: every weighted-sample consumer
    * implicitly runs it): per-class inclusion probabilities with
    * exact INTEGER inverse weights (1/0.2, 1/0.05, 1/0.5 → 5, 20, 2 —
    * so Σw·y is pure 2-dp decimal arithmetic, zero float classes),
    * estimate vs the KNOWN per-class population total, plus the
    * stratified SE √(N²(1−f)s²/n). The output is the
    * estimate-vs-truth measurement itself — the q259 philosophy:
    * don't assume the estimator works, show it.
    */
  private[graft] def qHtTotal(s: SparkSession, dir: String): DataFrame = {
    val fr = Map("A" -> 0.2, "N" -> 0.05, "R" -> 0.5)
    val base = li(s, dir).select(col("l_orderkey"), col("l_linenumber"),
      col("l_returnflag").as("cls"),
      col("l_extendedprice").cast(DoubleType).as("y"))
    val pop = base.groupBy("cls")
      .agg(count(lit(1)).as("n_pop"),
        round(Stats.dsum(col("y")), 4).as("t_true"))
    val samp = graft.aug.Sampling.hashStratifiedSample(
        base.withColumn("k", col("l_orderkey") * 10 + col("l_linenumber")),
        "cls", "k", fr, seed = 7L)
      .withColumn("w", when(col("cls") === "A", 5L)
        .when(col("cls") === "N", 20L).otherwise(2L))
      .groupBy("cls")
      .agg(count(lit(1)).as("n_samp"),
        max("w").as("inv_pi"),
        round(Stats.dsum(col("w") * col("y")), 4).as("t_hat"),
        Stats.dvarSamp(col("y")).as("s2"))
    pop.join(samp, "cls")
      .select(col("cls"), col("n_pop"), col("n_samp"), col("inv_pi"),
        col("t_hat"), col("t_true"),
        round(col("t_hat") / col("t_true"), 6).as("ratio"),
        round(sqrt(col("n_pop").cast(DoubleType) *
          col("n_pop").cast(DoubleType) *
          (lit(1.0) - col("n_samp").cast(DoubleType) /
            col("n_pop").cast(DoubleType)) *
          col("s2") / col("n_samp").cast(DoubleType)), 4).as("se_t"))
      .orderBy("cls")
  }

  /** X20 — UPLIFT deciles + Qini accumulation (Radcliffe 2007 — the
    * heterogeneous-treatment-effect view the ATE family q273/q257
    * averages away): customers hash-assigned to arms, scored by
    * account balance, cut into exact OrderStats deciles; per decile
    * the treated-vs-control conversion gap, plus the Qini-style
    * cumulative incremental-conversion curve walked from the top
    * decile down. Ships the q259 detection-proof twin: a `healthy`
    * scenario (no effect — uplift reads ≈0 noise) beside an
    * `injected` one whose planted lift GROWS with the score decile
    * (hash-drawn extra conversions at decile·2pp among treated), so
    * the decile table visibly recovers the planted heterogeneity.
    * Conversion is data-driven (any order > 480k); Qini terms round
    * at 6 then accumulate as DECIMAL window sums over the 10-row
    * pre-aggregated decile frame (the rocPoints exemption class).
    */
  private[graft] def qUplift(s: SparkSession, dir: String): DataFrame = {
    import graft.aug.Sampling.keyBucket
    val conv = Tables.load(s, dir, "orders")
      .groupBy(col("o_custkey").as("c_custkey"))
      .agg(max(when(col("o_totalprice") > 480000.0, 1).otherwise(0))
        .as("base_conv"))
    val cust = Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_acctbal"))
    val edges = graft.core.OrderStats.quantilesOf(
      cust, "c_acctbal", (1 until 10).map(_.toDouble / 10)).distinct.sorted
    val bin = edges.map(e => when(col("c_acctbal") > lit(e), 1).otherwise(0))
      .reduce(_ + _)
    val base = Caches.keep("entry.q285", cust.join(conv, Seq("c_custkey"), "left")
      .na.fill(0, Seq("base_conv"))
      .withColumn("decile", bin.cast("long"))
      .withColumn("treated", keyBucket(col("c_custkey"), 23L) < lit(500000L))
      .withColumn("lift_draw", keyBucket(col("c_custkey"), 97L)))
    val injectedConv = greatest(col("base_conv"),
      when(col("treated") && col("lift_draw") < col("decile") * lit(20000L),
        1).otherwise(0))
    val scen = base.withColumn("scenario", lit("healthy"))
        .withColumn("conv", col("base_conv"))
      .unionByName(base.withColumn("scenario", lit("injected"))
        .withColumn("conv", injectedConv))
    val per = scen.groupBy("scenario", "decile")
      .agg(count(when(col("treated"), 1)).as("n_t"),
        count(when(!col("treated"), 1)).as("n_c"),
        sum(when(col("treated"), col("conv"))).as("conv_t"),
        sum(when(!col("treated"), col("conv"))).as("conv_c"))
    val term = round(col("conv_t").cast(DoubleType) -
      col("conv_c").cast(DoubleType) * col("n_t").cast(DoubleType) /
        col("n_c").cast(DoubleType), 6)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("scenario").orderBy(desc("decile"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    per.withColumn("qini_cum",
        round(sum(term.cast("decimal(38,10)")).over(w).cast(DoubleType), 6))
      .select(col("scenario"), col("decile"), col("n_t"), col("n_c"),
        round(col("conv_t").cast(DoubleType) / col("n_t").cast(DoubleType), 6)
          .as("rate_t"),
        round(col("conv_c").cast(DoubleType) / col("n_c").cast(DoubleType), 6)
          .as("rate_c"),
        round(col("conv_t").cast(DoubleType) / col("n_t").cast(DoubleType) -
          col("conv_c").cast(DoubleType) / col("n_c").cast(DoubleType), 6)
          .as("uplift"),
        col("qini_cum"))
      .orderBy("scenario", "decile")
  }

  /** X21 — retrieval-quality metrics (MRR / MAP@10 / P@10 / hit@10)
    * over the exact cosine top-10 of q224's kNN-join shape, with
    * label-match relevance: the RAG/IR evaluation layer that turns the
    * retrieval operators (q212 fusion, q224 ground truth, q30/q45/q215
    * sublinear paths) into MEASURED search quality. AP@10 normalizes
    * by min(R, 10) with R = the label's corpus frequency (broadcast
    * margin join); precision terms are exact small-integer ratios
    * computed inside the per-query ≤10-row rank frame (bounded window,
    * partitioned by query), rounded at 6 before their decimal means.
    */
  private[graft] def qRetrievalEval(s: SparkSession, dir: String): DataFrame = {
    val e = em(s, dir)
    val labels = e.select(col("vec_id").cast("long").as("id"),
      col("label").cast("long").as("lbl"))
    val top = graft.sim.Ann.knnJoin(
      e.where(col("vec_id") < 50), e.where(col("vec_id") >= 50),
      "vec_id", "embedding", k = 10)
    val rels = labels.groupBy("lbl").agg(count(lit(1)).as("r_all"))
      .join(labels.where(col("id") >= 50).groupBy("lbl")
        .agg(count(lit(1)).as("r_corpus")), "lbl")
    val t = top
      .join(broadcast(labels.withColumnRenamed("id", "a")
        .withColumnRenamed("lbl", "la")), "a")
      .join(broadcast(labels.withColumnRenamed("id", "b")
        .withColumnRenamed("lbl", "lb")), "b")
      .withColumn("rel", when(col("la") === col("lb"), 1).otherwise(0))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("a").orderBy("rank")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val scored = t.withColumn("cum_rel", sum("rel").over(w))
      .withColumn("ap_term", round(col("rel").cast(DoubleType) *
        col("cum_rel").cast(DoubleType) / col("rank").cast(DoubleType), 6))
    val perQ = scored.groupBy("a", "la")
      .agg(Stats.dsum(col("ap_term")).as("ap_num"),
        sum("rel").as("n_rel_found"),
        min(when(col("rel") === 1, col("rank"))).as("first_rel"))
      .join(broadcast(rels.withColumnRenamed("lbl", "la")), "la")
      .withColumn("ap", round(col("ap_num") /
        least(col("r_corpus"), lit(10L)).cast(DoubleType), 6))
      .withColumn("rr", round(coalesce(lit(1.0) /
        col("first_rel").cast(DoubleType), lit(0.0)), 6))
    perQ.agg(count(lit(1)).as("n_queries"),
        round(Stats.dsum(col("rr")) / count(lit(1)), 6).as("mrr"),
        round(Stats.dsum(col("ap")) / count(lit(1)), 6).as("map10"),
        round(sum("n_rel_found").cast(DoubleType) /
          (count(lit(1)) * lit(10L)).cast(DoubleType), 6).as("p10"),
        round(count(when(col("n_rel_found") > 0, 1)).cast(DoubleType) /
          count(lit(1)).cast(DoubleType), 6).as("hit10"))
  }

  /** X22 — multiclass nearest-centroid classification with the FULL
    * confusion-derived metric sheet (per-class precision/recall/F1 +
    * macro-F1 + accuracy): the k>2 generalization of the binary
    * A11/A12 family (q09), evaluated honestly on a hash-split holdout
    * (centroids fit on ~60% of vectors, scored on the rest). Per-test
    * distances reuse the q263 plan-literal centroid fold (no join in
    * the scoring pass); argmin label = min label attaining the exact
    * minimum distance (same arithmetic both engines, so the tie rule
    * is engine-stable). Class margins and the two 1-row overall
    * aggregates broadcast.
    */
  private[graft] def qCentroidClassifier(s: SparkSession, dir: String): DataFrame = {
    import graft.aug.Sampling.keyBucket
    val e = Caches.keep("entry.q287",
      em(s, dir).select(col("vec_id").cast("long").as("id"),
          col("label").cast("long").as("label"), col("embedding"))
        .withColumn("train", keyBucket(col("id"), 31L) < lit(600000L)))
    val cent = graft.sim.Centroids.labelCentroids(
        e.where(col("train")), "label", "embedding")
      .select(col("group").cast("long").as("label"), col("dim"), col("mean"))
      .collect()
    require(cent.length <= 4096,
      s"centroid classifier collect guard: ${cent.length} (k*dims) > 4096")
    val byLabel: Seq[(Long, Array[Double])] =
      cent.groupBy(_.getLong(0)).toSeq.sortBy(_._1).map { case (l, rows) =>
        l -> rows.sortBy(_.getLong(1)).map(_.getDouble(2)).toArray
      }
    val dims = byLabel.head._2.length
    def d2To(c: Array[Double]): Column =
      aggregate(sequence(lit(1), lit(dims)), lit(0.0), (acc, i) => {
        val d = element_at(col("embedding"), i.cast("int")).cast(DoubleType) -
          element_at(typedlit(c.toSeq), i.cast("int"))
        acc + d * d
      })
    val withD = byLabel.foldLeft(e.where(!col("train"))) {
      case (df, (l, c)) => df.withColumn(s"d2_$l", d2To(c))
    }
    val dmin = least(byLabel.map { case (l, _) => col(s"d2_$l") }: _*)
    val pred = least(byLabel.map { case (l, _) =>
      when(col(s"d2_$l") === dmin, lit(l)) }: _*)
    val scored = Caches.keep("entry.q287.scored",
      withD.select(col("id"), col("label"), pred.as("pred")))
    val byTrue = scored.groupBy("label")
      .agg(count(lit(1)).as("n_true"),
        count(when(col("pred") === col("label"), 1)).as("tp"))
    val byPred = scored.groupBy(col("pred").as("label"))
      .agg(count(lit(1)).as("n_pred"))
    val cls = byTrue.join(byPred, Seq("label"), "left")
      .na.fill(0L, Seq("n_pred"))
      .withColumn("precision", round(when(col("n_pred") > 0,
        col("tp").cast(DoubleType) / col("n_pred").cast(DoubleType))
        .otherwise(0.0), 6))
      .withColumn("recall", round(col("tp").cast(DoubleType) /
        col("n_true").cast(DoubleType), 6))
      .withColumn("f1", round(when(col("precision") + col("recall") > 0,
        lit(2.0) * col("precision") * col("recall") /
          (col("precision") + col("recall"))).otherwise(0.0), 6))
    val overall = cls.agg(
      round(Stats.dsum(col("f1")) / count(lit(1)), 6).as("macro_f1"),
      round(sum("tp").cast(DoubleType) / sum("n_true").cast(DoubleType), 6)
        .as("accuracy"))
    cls.crossJoin(broadcast(overall))
      .select(col("label"), col("n_true"), col("n_pred"), col("tp"),
        col("precision"), col("recall"), col("f1"),
        col("macro_f1"), col("accuracy"))
      .orderBy("label")
  }

  /** X23 — interpolated Kneser–Ney bigram LM (Kneser & Ney 1995; the
    * smoothing KenLM ships as its default — the CCNet filter's actual
    * LM family, where q96's add-one is the classroom baseline): fit on
    * a 90% hash split of documents, scored on the 10% holdout, so the
    * discount/backoff machinery is exercised by genuinely UNSEEN
    * bigrams. Singleton train tokens (and all OOV test tokens) map to
    * `<unk>`; P(w2|w1) = max(c12−D,0)/c1 + (D·N1+(w1·)/c1)·Pcont(w2)
    * with D = 0.75 and the CONTINUATION unigram Pcont(w2) =
    * N1+(·w2)/T — the Kneser–Ney insight that backoff mass should
    * follow how many contexts a word completes, not how often it
    * occurs. Unseen-context (c1 or N1+fw null) backs off to Pcont
    * alone; a 0.5/T floor guards the (never-observed-in-practice)
    * unseen-continuation case deterministically on both engines.
    * Scale shape: count tables stay distributed (vocab² keys), scoring
    * is hash equi-joins on token keys, bigrams form via a positional
    * self-join (linear shuffle), and per-doc reduction sums ln terms
    * in DECIMAL(38,18) (the q96/PSI order-free convention).
    */
  private[graft] def qKneserNey(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextOps
    import graft.aug.Sampling.keyBucket
    val t = par(doc(s, dir)).select(col("doc_id"),
      TextOps.tokens(col("text")).as("toks"),
      (keyBucket(col("doc_id"), 71L) < lit(900000L)).as("train"))
    val tok = Caches.keep("q288", t.select(col("doc_id"), col("train"),
        posexplode(col("toks")).as(Seq("i", "w"))))
    val vocab = tok.where(col("train")).groupBy("w")
      .agg(count(lit(1)).as("c_raw")).where(col("c_raw") >= 2)
      .select(col("w"), lit(1).as("inv"))
    val mapped = Caches.keep("q288", tok.join(vocab, Seq("w"), "left")
      .select(col("doc_id"), col("train"), col("i"),
        when(col("inv").isNotNull, col("w")).otherwise(lit("<unk>")).as("mw")))
    val bg = Caches.keep("q288", mapped
      .select(col("doc_id"), col("train"), col("i"), col("mw").as("w1"))
      .join(mapped.select(col("doc_id"), (col("i") - 1).as("i"),
        col("mw").as("w2")), Seq("doc_id", "i"))
      .select(col("doc_id"), col("train"), col("w1"), col("w2")))
    val c12 = Caches.keep("q288.c12", bg.where(col("train")).groupBy("w1", "w2")
      .agg(count(lit(1)).as("c12")))
    val c1 = mapped.where(col("train")).groupBy(col("mw").as("w1"))
      .agg(count(lit(1)).as("c1"))
    val fw = c12.groupBy("w1").agg(count(lit(1)).as("n1fw"))
    val bw = c12.groupBy("w2").agg(count(lit(1)).as("n1bw"))
    val tt = c12.agg(count(lit(1)).as("tbig"))
    val d = lit(0.75)
    val tD = col("tbig").cast(DoubleType)
    val pcont = coalesce(col("n1bw").cast(DoubleType) / tD, lit(0.5) / tD)
    val p = when(col("c1").isNotNull && col("n1fw").isNotNull,
      greatest(coalesce(col("c12").cast(DoubleType), lit(0.0)) - d, lit(0.0)) /
        col("c1").cast(DoubleType) +
        ((d * col("n1fw").cast(DoubleType)) / col("c1").cast(DoubleType)) *
          pcont).otherwise(pcont)
    bg.where(!col("train"))
      .join(c12, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .join(fw, Seq("w1"), "left")
      .join(bw, Seq("w2"), "left")
      .crossJoin(broadcast(tt))
      .select(col("doc_id"), log(p).cast(DecimalType(38, 18)).as("lp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum("lp").cast(DoubleType) / count(lit(1)), 6).as("avg_logp"))
      .withColumn("ppl", round(exp(-col("avg_logp")), 6))
      .orderBy("doc_id")
  }

  /** X24 — Good–Turing frequency-of-frequencies estimation (Good 1953;
    * the unseen-mass machinery under Katz backoff and every corpus
    * coverage claim), computed over token TRIGRAM types — the corpus's
    * unigram vocabulary is a closed ~31-word set with no rare types
    * (min count 26 even at sf0.001), so unigram GT would be vacuous;
    * trigrams have a real Zipf tail (~9.4k singletons). Reports the
    * train-split frequency-of-frequencies table N_r, the Turing
    * estimate r* = (r+1)·N_{r+1}/N_r for r ≤ 5, and the headline
    * prediction — unseen-type mass p0 = N_1/N — put to an EMPIRICAL
    * test against the holdout's measured OOV trigram rate (the
    * validation most GT write-ups skip). One distributed trigram
    * count; the FoF rollup and r* self-join run on the tiny
    * count-of-counts frame; the OOV probe is one hash anti-join shape
    * (left join + null filter) on trigram keys.
    */
  private[graft] def qGoodTuring(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextOps
    import graft.aug.Sampling.keyBucket
    val tok = Caches.keep("q289", par(doc(s, dir)).select(col("doc_id"),
        TextOps.tokens(col("text")).as("toks"),
        (keyBucket(col("doc_id"), 73L) < lit(900000L)).as("train"))
      .where(size(col("toks")) >= 3)
      .select(col("train"), explode(expr(
        "transform(sequence(0, size(toks) - 3), " +
          "i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))")).as("w")))
    val uni = Caches.keep("q289", tok.where(col("train")).groupBy("w")
      .agg(count(lit(1)).as("c")))
    val fof = uni.groupBy("c").agg(count(lit(1)).as("n_r"))
    val totals = uni.agg(sum("c").as("n_train_tokens"))
    val n1 = fof.agg(coalesce(sum(when(col("c") === 1, col("n_r"))), lit(0L))
      .as("n1"))
    val oov = tok.where(!col("train"))
      .join(uni.select(col("w"), lit(1).as("inv")), Seq("w"), "left")
      .agg(count(lit(1)).as("n_test_tokens"),
        count(when(col("inv").isNull, 1)).as("n_oov"))
    val rows = fof.select(col("c").as("r"), col("n_r"))
      .join(fof.select((col("c") - 1).as("r"), col("n_r").as("n_r1")),
        Seq("r"), "left")
      .where(col("r") >= 1 && col("r") <= 5)
      .withColumn("r_star", round((col("r").cast(DoubleType) + lit(1.0)) *
        coalesce(col("n_r1").cast(DoubleType), lit(0.0)) /
        col("n_r").cast(DoubleType), 6))
    rows.crossJoin(broadcast(totals)).crossJoin(broadcast(n1))
      .crossJoin(broadcast(oov))
      .select(col("r"), col("n_r"), col("r_star"), col("n_train_tokens"),
        round(col("n1").cast(DoubleType) /
          col("n_train_tokens").cast(DoubleType), 6).as("p0_pred"),
        col("n_test_tokens"), col("n_oov"),
        round(col("n_oov").cast(DoubleType) /
          col("n_test_tokens").cast(DoubleType), 6).as("oov_rate"))
      .orderBy("r")
  }

  /** X25 — link prediction on the part co-purchase graph (Liben-Nowell
    * & Kleinberg 2003): hold out a 20% hash split of edges, score
    * distance-2 non-edge candidates on the training graph with the
    * three classical indices — common neighbors, Jaccard, Adamic–Adar
    * (Σ 1/ln deg(m), the inverse-log damping of promiscuous middles) —
    * and report each index's exact tie-aware AUC at recovering the
    * held-out edges against true non-edges. The graph is q156's
    * co-occurrence construction at part grain (co-ordered ≥ 2 times);
    * candidate generation is the adjacency self-join (quadratic work
    * confined to per-node neighborhoods, the triangle-count shape);
    * AUC runs as integer pair-counting over the per-method
    * distinct-score frame (no per-pair window). Test edges outside
    * distance 2 are unreachable by ANY common-neighbor index —
    * n_test_total vs n_pos makes that coverage limit explicit.
    * Node grain: parts are folded onto K = 6·⌈√(#orders)⌉ supernodes
    * (pk % K) so co-occurrence density stays SF-INVARIANT — at raw
    * part grain instances grow ∝ SF but candidate pairs ∝ SF², so the
    * npair ≥ 2 graph empties out by sf0.1 (zero reachable positives →
    * AUC div/0; the q271 blocking-degeneration class). On a real
    * corpus you'd keep the natural item grain; the √n fold is the
    * fixture-density recipe, documented here as such.
    */
  private[graft] def qLinkPrediction(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.aug.Sampling.keyBucket
    val raw = li(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").cast("long").as("pk"))
    val kk = raw.agg(
      (ceil(sqrt(countDistinct(col("ok")))).cast("long") * lit(6L)).as("k"))
    val ob = Caches.keep("q290", raw.crossJoin(broadcast(kk))
      .select(col("ok"), (col("pk") % col("k")).as("pk"))
      .distinct())
    val co = Caches.keep("q290", ob.toDF("ok", "p1")
      .join(ob.toDF("ok2", "p2"), col("ok") === col("ok2") && col("p1") < col("p2"))
      .groupBy("p1", "p2").agg(count(lit(1)).as("npair"))
      .where(col("npair") >= 2)
      // pre-mod the combined pair key: p1·1000003+p2 reaches ~2e10 at
      // sf0.1 and keyBucket's 2654435761 multiplier would overflow Long
      .withColumn("test",
        keyBucket((col("p1") * lit(1000003L) + col("p2")) % lit(1000000007L),
          83L) < lit(200000L)))
    val trainE = Caches.keep("q290", co.where(!col("test")).select("p1", "p2"))
    val adj = Caches.keep("q290",
      trainE.union(trainE.select(col("p2"), col("p1"))).toDF("a", "b"))
    val deg = adj.groupBy("a").agg(count(lit(1)).as("dg"))
    val mids = adj.toDF("x", "m")
      .join(adj.toDF("mm", "y"), col("m") === col("mm"))
      .where(col("x") < col("y")).select("x", "m", "y")
      .join(deg.select(col("a").as("m"), col("dg").as("dgm")), Seq("m"))
    val pairScores = mids.groupBy("x", "y").agg(
      count(lit(1)).as("cn"),
      round(Stats.dsum(lit(1.0) / log(col("dgm").cast(DoubleType))), 6).as("aa"))
    val scored = Caches.keep("q290.scored", pairScores
      .join(trainE.select(col("p1").as("x"), col("p2").as("y"),
        lit(1).as("istr")), Seq("x", "y"), "left")
      .where(col("istr").isNull).drop("istr")
      .join(co.where(col("test")).select(col("p1").as("x"), col("p2").as("y"),
        lit(1).as("pos")), Seq("x", "y"), "left")
      .na.fill(0, Seq("pos"))
      .join(deg.select(col("a").as("x"), col("dg").as("dgx")), Seq("x"))
      .join(deg.select(col("a").as("y"), col("dg").as("dgy")), Seq("y"))
      .withColumn("jac", round(col("cn").cast(DoubleType) /
        (col("dgx") + col("dgy") - col("cn")).cast(DoubleType), 6)))
    val long = scored.select(lit("cn").as("method"),
        col("cn").cast(DoubleType).as("score"), col("pos"))
      .unionByName(scored.select(lit("jaccard").as("method"),
        col("jac").as("score"), col("pos")))
      .unionByName(scored.select(lit("adamic_adar").as("method"),
        col("aa").as("score"), col("pos")))
    // tie-aware Mann–Whitney AUC via integer pair counting over the
    // per-method DISTINCT-SCORE frame. r16: the cumulative negative
    // count comes from the per-method TWO-PHASE PREFIX SCAN (the
    // rocPoints/W4 primitive) instead of a Window.partitionBy(method)
    // — that window hash-partitions ~1M distinct-score rows into THREE
    // tasks (one per method literal), a single-core sort+scan straggler
    // at any cluster size, and it re-ran every rep (isolated A/B at
    // sf0.1: 3.8-4.3 s/rep windowed vs 0.3-0.4 s/rep scanned, integer
    // won2 bitwise identical). byScore persists because the three
    // scans all read it.
    val byScore = Caches.keep("q290.byScore", long.groupBy("method", "score").agg(
        sum(col("pos")).cast("long").as("np"),
        sum(lit(1) - col("pos")).cast("long").as("nn")))
    val agg = Seq("cn", "jaccard", "adamic_adar").map { m =>
      val one = byScore.where(col("method") === m)
        .select(col("score"), col("np"), col("nn"))
      val (scanned, _) = graft.core.PrefixScan.build(
        one, "score", Seq("nn"), s"q290.auc.$m")
      scanned
        .withColumn("won2",
          lit(2L) * col("np") * col("cum_nn_below") + col("np") * col("nn"))
        .agg(sum("np").as("n_pos"), sum("nn").as("n_neg"),
          sum("won2").as("won2"))
        .select(lit(m).as("method"), col("n_pos"), col("n_neg"), col("won2"))
    }.reduce(_ unionByName _)
    val testTotal = co.where(col("test")).agg(count(lit(1)).as("n_test_total"))
    agg.crossJoin(broadcast(testTotal))
      .select(col("method"), col("n_pos"), col("n_neg"), col("n_test_total"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          round(col("won2").cast(DoubleType) /
            (lit(2.0) * col("n_pos").cast(DoubleType) *
              col("n_neg").cast(DoubleType)), 6)).as("auc"))
      .orderBy("method")
  }

  /** X26 — Hill tail-index estimation (Hill 1975; the heavy-tail
    * exponent behind every "is this power-law?" claim about document
    * lengths, degree distributions, and revenue concentration):
    * α̂(k) = k / Σ_{i≤k}(ln x_(i) − ln x_(k+1)) over the top-k order
    * statistics, swept at k ∈ {50, 100, 200}. Detection-proof twin:
    * the `healthy` arm runs on raw o_totalprice (a sum of bounded
    * uniforms — NO power tail, so α̂ drifts upward with k and the
    * sweep visibly disagrees with itself), while `pareto_injected`
    * transforms the same keys through an exact inverse-CDF Pareto
    * (α = 2.5, x_m = 100) built from the deterministic hash uniform —
    * the estimator recovers ≈ 2.5 STABLY across the k sweep. The
    * distributed stage is two TakeOrdered top-201 cuts; everything
    * after runs on the bounded pooled frame.
    */
  private[graft] def qHillTail(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.aug.Sampling.keyBucket
    val o = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
    val healthy = o.select(lit("healthy").as("scenario"),
      col("o_totalprice").cast(DoubleType).as("v"))
    val u = (keyBucket(col("o_orderkey"), 131L).cast(DoubleType) + lit(0.5)) /
      lit(1000000.0)
    val injected = o.select(lit("pareto_injected").as("scenario"),
      (lit(100.0) * exp(log(lit(1.0) / u) / lit(2.5))).as("v"))
    def top(df: DataFrame) = df.orderBy(desc("v")).limit(201)
    val pool = Caches.keep("q291", top(healthy).unionByName(top(injected)))
    val ranked = pool
      .withColumn("rk", row_number().over(
        Window.partitionBy("scenario").orderBy(desc("v"))))
      .withColumn("lnv", log(col("v")))
    Seq(50, 100, 200).map { k =>
      val thr = ranked.where(col("rk") === k + 1)
        .select(col("scenario"), col("lnv").as("ln_thr"), col("v").as("x_k1"))
      ranked.where(col("rk") <= k)
        .groupBy("scenario").agg(Stats.dsum(col("lnv")).as("sum_ln"))
        .join(thr, Seq("scenario"))
        .select(col("scenario"), lit(k).as("k"),
          round(col("x_k1"), 6).as("x_threshold"),
          round(lit(k.toDouble) /
            (col("sum_ln") - lit(k.toDouble) * col("ln_thr")), 6)
            .as("alpha_hat"))
    }.reduce(_ unionByName _).orderBy("scenario", "k")
  }

  /** X27 — McNemar's paired test (McNemar 1947; the CORRECT way to
    * compare two classifiers evaluated on the SAME examples — marginal
    * accuracies hide that errors are paired): language-ID task
    * (is-English vs the `lang` column) comparing the lexicon-argmax
    * detector (q21's langId) against an intentionally crude
    * contains-"the" heuristic. Continuity-corrected
    * χ² = (max(|b−c|−1,0))²/(b+c) over the discordant counts b
    * (A right, B wrong) and c (A wrong, B right) — the only cells the
    * hypothesis touches. One conditional aggregate over documents;
    * complements q174 (kappa measures AGREEMENT between raters,
    * McNemar tests ACCURACY difference against truth).
    */
  private[graft] def qMcnemar(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextOps
    val d = doc(s, dir).select(
      (col("lang") === "en").as("truth"),
      (TextOps.langId(col("text")) === "en").as("pa"),
      array_contains(TextOps.tokens(col("text")), "the").as("pb"))
    val m = d.agg(count(lit(1)).as("n"),
      count(when(col("pa") === col("truth"), 1)).as("ok_a"),
      count(when(col("pb") === col("truth"), 1)).as("ok_b"),
      count(when(col("pa") === col("truth") && col("pb") =!= col("truth"), 1))
        .as("b"),
      count(when(col("pa") =!= col("truth") && col("pb") === col("truth"), 1))
        .as("c"))
    val cc = greatest(abs(col("b") - col("c")).cast(DoubleType) - lit(1.0),
      lit(0.0))
    m.select(col("n"),
      round(col("ok_a").cast(DoubleType) / col("n").cast(DoubleType), 6)
        .as("acc_a"),
      round(col("ok_b").cast(DoubleType) / col("n").cast(DoubleType), 6)
        .as("acc_b"),
      col("b"), col("c"),
      round(when(col("b") + col("c") > 0,
        (cc * cc) / (col("b") + col("c")).cast(DoubleType))
        .otherwise(lit(0.0)), 6).as("mcnemar_chi2"))
  }

  /** X28 — HITS hubs/authorities ([[graft.core.Hits]], Kleinberg 1999)
    * on the supplier→part supply bipartite graph (distinct
    * (l_suppkey, l_partkey) edges): hubs = suppliers whose catalog
    * concentrates on widely-supplied parts, authorities = parts
    * carried by the strongest hubs — the mutual-reinforcement ranking
    * PageRank (q148) can't express (PageRank needs a stochastic walk;
    * HITS is the adjacency's principal singular pair). Four power
    * iterations (each is two full passes over the edge table — the
    * top-10 ranking is stable well before that on this graph, and
    * every extra iteration costs two 590k-row aggregates at sf0.1),
    * L2-normalized per half-step, decimal-summed contributions;
    * output is the top-10 per side ordered by rounded score with id
    * tie-break.
    */
  private[graft] def qHits(s: SparkSession, dir: String): DataFrame = {
    val edges = li(s, dir).select(col("l_suppkey").cast("long").as("hub"),
      col("l_partkey").cast("long").as("auth"))
    val (h, a) = graft.core.Hits.run(edges, iters = 4, cacheKey = "q293")
    val topH = h.select(lit("hub").as("side"), col("hub").as("node"),
        round(col("h"), 6).as("score"))
      .orderBy(desc("score"), col("node")).limit(10)
    val topA = a.select(lit("authority").as("side"), col("auth").as("node"),
        round(col("a"), 6).as("score"))
      .orderBy(desc("score"), col("node")).limit(10)
    topA.unionByName(topH).orderBy(col("side"), desc("score"), col("node"))
  }

  /** X29 — Bloom-filter false-positive-rate audit: build a
    * double-hashed Bloom filter (k = 5, m = 8n bits; Kirsch &
    * Mitzenmacher 2006's h1 + i·h2 scheme in pure integer arithmetic)
    * over a 90% hash split of order keys, probe it with the DISJOINT
    * 10% holdout — every hit is a false positive by construction — and
    * report the measured FPR beside the (1 − e^(−kn/m))^k theory the
    * q78 delta-dedup bloom prepass relies on. Fully relational: the
    * bit array is a DISTINCT bit-position table, membership is "all k
    * positions present" counted per probe key via one hash equi-join —
    * no bitmap state, so the construction shuffles O(kn) fixed-width
    * longs and scales like any aggregation.
    */
  private[graft] def qBloomFpr(s: SparkSession, dir: String): DataFrame = {
    import graft.aug.Sampling.keyBucket
    val P = 1000000007L
    val o = Tables.load(s, dir, "orders")
      .select(col("o_orderkey").cast("long").as("key"),
        (keyBucket(col("o_orderkey"), 11L) < lit(900000L)).as("train"))
    val mrow = o.where(col("train")).agg(count(lit(1)).as("n_train"),
      (count(lit(1)) * lit(8L)).as("m"))
    val h1 = ((col("key") * lit(2654435761L) + lit(40503L)) % lit(P)
      + lit(P)) % lit(P)
    val h2 = (((col("key") * lit(40503L) + lit(2654435761L)) % lit(P)
      + lit(P)) % lit(P)) + lit(1L)
    val pos = o.crossJoin(broadcast(mrow))
      .select(col("key"), col("train"), col("m"),
        explode(expr("sequence(0, 4)")).as("i"), h1.as("h1"), h2.as("h2"))
      .select(col("key"), col("train"), col("m"),
        ((col("h1") + col("i") * col("h2")) % col("m")).as("pos"))
    val bits = pos.where(col("train")).select(col("pos")).distinct()
      .withColumn("hit", lit(1))
    val probe = pos.where(!col("train")).join(bits, Seq("pos"), "left")
      .groupBy("key").agg((count(col("hit")) === 5).as("fp"))
    probe.agg(count(lit(1)).as("n_test"),
        count(when(col("fp"), 1)).as("fp_count"))
      .crossJoin(broadcast(mrow))
      .select(col("n_train"), col("n_test"), col("m").as("m_bits"),
        lit(5).as("k_hashes"), col("fp_count"),
        round(col("fp_count").cast(DoubleType) /
          col("n_test").cast(DoubleType), 6).as("fpr_measured"),
        round(pow(lit(1.0) - exp(lit(-5.0) *
          col("n_train").cast(DoubleType) / col("m").cast(DoubleType)),
          5.0), 6).as("fpr_theory"))
  }

  /** X30 — Heaps' law fit (Heaps 1978; vocabulary growth V(n) ≈ K·n^β,
    * the planning curve behind "how big must the tokenizer vocab be at
    * 100 TB"): cumulative trigram-type counts at ten document-prefix
    * checkpoints (doc_ids are dense 0..N−1, so prefix d = doc_id <
    * ⌊N·d/10⌋ exactly), fit by log-log OLS over the 10-point frame.
    * The distributed stages are one first-occurrence aggregate
    * (min doc_id per type) and one per-doc token count; each joins a
    * broadcast 10-row checkpoint frame on a range predicate — a
    * constant ×10 linear blowup, never quadratic. The OLS runs on 10
    * rows. Trigram types, not unigrams, for the same reason as q289:
    * the unigram vocab is closed at ~31 words.
    */
  private[graft] def qHeaps(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextOps
    val t = Caches.keep("q295", par(doc(s, dir)).select(col("doc_id"),
        TextOps.tokens(col("text")).as("toks"))
      .where(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(toks) - 3), " +
          "i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))")).as("w")))
    val nd = doc(s, dir).agg(count(lit(1)).as("nd"))
    val cp = s.range(1, 11).toDF("d").crossJoin(broadcast(nd))
      .select(col("d"), floor(col("nd") * col("d") / lit(10)).as("cut"))
    val first = t.groupBy("w").agg(min("doc_id").as("fd"))
    val vd = first.join(broadcast(cp), col("fd") < col("cut"))
      .groupBy("d", "cut").agg(count(lit(1)).as("v_types"))
    val tc = t.groupBy("doc_id").agg(count(lit(1)).as("c"))
    val ntok = tc.join(broadcast(cp), col("doc_id") < col("cut"))
      .groupBy(col("d").as("d2")).agg(sum("c").as("n_tokens"))
    val pts = vd.join(ntok, col("d") === col("d2")).drop("d2")
      .withColumn("x", log(col("n_tokens").cast(DoubleType)))
      .withColumn("y", log(col("v_types").cast(DoubleType)))
    val fit = pts.agg(Stats.dsum(col("x")).as("sx"),
        Stats.dsum(col("y")).as("sy"),
        Stats.dsum(col("x") * col("y")).as("sxy"),
        Stats.dsum(col("x") * col("x")).as("sxx"),
        count(lit(1)).cast(DoubleType).as("n"))
      .select(((col("sxy") - col("sx") * col("sy") / col("n")) /
        (col("sxx") - col("sx") * col("sx") / col("n"))).as("beta_raw"),
        col("sx"), col("sy"), col("n"))
      .select(round(col("beta_raw"), 6).as("heaps_beta"),
        round(exp(col("sy") / col("n") -
          col("beta_raw") * col("sx") / col("n")), 6).as("heaps_k"))
    pts.crossJoin(broadcast(fit))
      .select(col("d").cast("int").as("decile"), col("cut"),
        col("n_tokens"), col("v_types"), col("heaps_beta"), col("heaps_k"))
      .orderBy("decile")
  }

  /** X31 — TextRank keyword extraction (Mihalcea & Tarau 2004):
    * weighted PageRank over the word co-occurrence graph (±2-token
    * window within a document, symmetrized, weight = co-occurrence
    * count), reusing [[graft.core.PageRank]] verbatim — the graph
    * CONSTRUCTION is the corpus-sized stage (positional equi-self-joins
    * at offsets 1 and 2, one grouped count), while the power iteration
    * runs on the ≤|vocab|² metadata frame. The corpus-level analog of
    * per-document TextRank: which words sit at the densest
    * co-occurrence crossroads.
    */
  private[graft] def qTextRank(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextOps
    val tok = Caches.keep("q296", par(doc(s, dir)).select(col("doc_id"),
        posexplode(TextOps.tokens(col("text"))).as(Seq("i", "w"))))
    val pairs = Seq(1, 2).map { o =>
      tok.select(col("doc_id"), col("i"), col("w").as("wa"))
        .join(tok.select(col("doc_id"), (col("i") - o).as("i"),
          col("w").as("wb")), Seq("doc_id", "i"))
        .select(col("wa"), col("wb"))
    }.reduce(_ unionByName _)
    // one distributed grouped count on the canonical orientation, then
    // symmetrize the vocab-sized frame (not the corpus-sized pairs)
    val cnt = pairs.where(col("wa") =!= col("wb"))
      .groupBy(least(col("wa"), col("wb")).as("a"),
        greatest(col("wa"), col("wb")).as("b"))
      .agg(count(lit(1)).as("w"))
    val edges = cnt.select(col("a").as("src"), col("b").as("dst"), col("w"))
      .unionByName(cnt.select(col("b").as("src"), col("a").as("dst"),
        col("w")))
    val r = graft.core.PageRank.run(edges, d = 0.85, iters = 10,
      cacheKey = "q296.pr")
    r.select(col("node").as("word"), round(col("r"), 6).as("textrank"))
      .orderBy(desc("textrank"), col("word"))
  }

  /** X32 — Durbin–Watson autocorrelation diagnostic (Durbin & Watson
    * 1950) on the residuals of the daily-revenue trend OLS: the
    * standard "is the regression error serially correlated" check that
    * q173's OLS sheet omits. Daily sums are exact decimal; the trend
    * fit uses the exact-moment aggregates; residuals are rounded to
    * 6 dp and squared in integer micro-units (DECIMAL(38,0) — the
    * engine-exact sums-of-squares recipe), so DW is bitwise
    * cross-engine. The lag window runs over the bounded ~30-row daily
    * frame (rocPoints exemption class); the only corpus-sized stage is
    * the daily aggregate. Reports DW ∈ [0,4] and ρ̂ ≈ 1 − DW/2.
    */
  private[graft] def qDurbinWatson(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = ev(s, dir)
      .select(expr("(ts div 1000) div 86400000000").as("day"), col("value"))
      .groupBy("day").agg(Stats.dsum(col("value")).as("y"))
    val m0 = daily.agg(min("day").as("d0"))
    val pts = Caches.keep("q297", daily.crossJoin(broadcast(m0))
      .select(col("day"), (col("day") - col("d0"))
        .cast(DoubleType).as("x"), col("y")))
    val fit = pts.agg(Stats.dsum(col("x")).as("sx"),
        Stats.dsum(col("y")).as("sy"),
        Stats.dsum(col("x") * col("y")).as("sxy"),
        Stats.dsum(col("x") * col("x")).as("sxx"),
        count(lit(1)).cast(DoubleType).as("nn"))
      .select(((col("sxy") - col("sx") * col("sy") / col("nn")) /
        (col("sxx") - col("sx") * col("sx") / col("nn"))).as("b"),
        col("sx"), col("sy"), col("nn"))
      .select(col("b"), ((col("sy") - col("b") * col("sx")) / col("nn"))
        .as("a"), col("nn"))
    val e6 = pts.crossJoin(broadcast(fit))
      .select(col("day"), col("nn"),
        round(round(col("y") - col("a") - col("b") * col("x"), 6) *
          lit(1e6)).cast(DecimalType(38, 0)).as("e6"))
    val w = Window.orderBy("day")
    val dd = e6.withColumn("p6", lag("e6", 1).over(w))
    dd.agg(max(col("nn")).as("n_days"),
        sum(when(col("p6").isNotNull,
          (col("e6") - col("p6")) * (col("e6") - col("p6")))).as("num"),
        sum(col("e6") * col("e6")).as("den"))
      .select(col("n_days").cast("long").as("n_days"),
        round(col("num").cast(DoubleType) / col("den").cast(DoubleType), 6)
          .as("dw"),
        round(lit(1.0) - col("num").cast(DoubleType) /
          col("den").cast(DoubleType) / lit(2.0), 6).as("rho_hat"))
  }

  /** X33 — cross-source token-distribution JS divergence matrix: the
    * LM-level answer to "which corpus sources are linguistically
    * close" (q187 asks it at the duplicate level, q183 at the language
    * level). Per-source unigram distributions with add-0.5 smoothing
    * over the shared vocab, JS(p,q) in nats for every source pair.
    * The only corpus-sized stage is one (source, word) grouped count;
    * the grid, the pair self-join, and the divergence sums all run on
    * the ≤ sources×vocab metadata frame. At 100 TB the same plan holds:
    * the count output is #sources·|vocab| rows regardless of corpus
    * size.
    */
  private[graft] def qSourceJs(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextOps
    val cnt = Caches.keep("q298", par(doc(s, dir)).select(col("source"),
        explode(TextOps.tokens(col("text"))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c")))
    val vocab = cnt.select("w").distinct()
    val tot = cnt.groupBy("source").agg(sum("c").as("n"))
    val vsize = vocab.agg(count(lit(1)).as("v"))
    val grid = tot.crossJoin(broadcast(vocab))
      .join(cnt, Seq("source", "w"), "left").na.fill(0, Seq("c"))
      .crossJoin(broadcast(vsize))
      .select(col("source"), col("w"),
        ((col("c").cast(DoubleType) + lit(0.5)) /
          (col("n").cast(DoubleType) + lit(0.5) *
            col("v").cast(DoubleType))).as("p"))
    val pairs = grid.toDF("s1", "w", "p1")
      .join(grid.toDF("s2", "w2", "p2"),
        col("w") === col("w2") && col("s1") < col("s2"))
    pairs.select(col("s1"), col("s2"),
        (col("p1") * log(col("p1") / ((col("p1") + col("p2")) / 2)) +
          col("p2") * log(col("p2") / ((col("p1") + col("p2")) / 2))).as("t"))
      .groupBy("s1", "s2")
      .agg(round(Stats.dsum(col("t")) * 0.5, 6).as("js_divergence"))
      .orderBy("s1", "s2")
  }

  /** X34 — Maximal Marginal Relevance diversified retrieval (Carbonell
    * & Goldstein 1998): for 20 query vectors, take the exact top-20
    * cosine candidates, then greedily pick 5 results maximizing
    * λ·rel − (1−λ)·max-sim-to-already-picked (λ = 0.7) — the standard
    * redundancy-pruning rerank behind "diverse top-k" product
    * surfaces. The distributed stage is the brute-force candidate
    * scoring (the q29 labeled-baseline shape, broadcast query side);
    * the candidate-pair similarity grid and all five greedy rounds run
    * on the bounded ≤20×20-per-query frame (rocPoints exemption
    * class). Dot products use the codegen'd sequential-loop kernel
    * ([[graft.sim.DotProductExpr]]) — same fold order as the oracle's
    * list_reduce, so similarities are bitwise cross-engine.
    */
  private[graft] def qMmr(s: SparkSession, dir: String): DataFrame = {
    import graft.sim.GraftFunctions
    import org.apache.spark.sql.expressions.Window
    // both weights as EXPLICIT literals: 1.0 − 0.7 in IEEE is
    // 0.30000000000000004, which would diverge from the oracle's 0.3
    val lam = 0.7
    val oneMinusLam = 0.3
    val v = Caches.keep("q299", em(s, dir).select(col("vec_id").as("id"),
        col("embedding").as("vec"),
        GraftFunctions.norm2(col("embedding")).as("n2")))
    val q = v.where(col("id") < 20).toDF("qid", "qv", "qn2")
    val rel0 = v.toDF("cid", "cv", "cn2").join(broadcast(q),
        col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), col("cv"), col("cn2"),
        (GraftFunctions.dot(col("qv"), col("cv")) /
          (sqrt(col("qn2")) * sqrt(col("cn2")))).as("rel"))
    val wTop = Window.partitionBy("qid").orderBy(desc("rel"), col("cid"))
    val cand = Caches.keep("q299", rel0.withColumn("rk", row_number().over(wTop))
      .where(col("rk") <= 20).drop("rk"))
    // candidate-pair cosine grid, bounded 20×20 per query
    val pairs = Caches.keep("q299.pairs", cand.select(col("qid"), col("cid").as("pa"),
        col("cv").as("va"), col("cn2").as("na"))
      .join(cand.select(col("qid"), col("cid").as("pb"),
        col("cv").as("vb"), col("cn2").as("nb")), Seq("qid"))
      .where(col("pa") =!= col("pb"))
      .select(col("qid"), col("pa"), col("pb"),
        (GraftFunctions.dot(col("va"), col("vb")) /
          (sqrt(col("na")) * sqrt(col("nb")))).as("sim")))
    val slim = cand.select(col("qid"), col("cid"), col("rel"))
    val wPick = Window.partitionBy("qid").orderBy(desc("score"), col("cid"))
    var picked = slim.withColumn("score", col("rel"))
      .withColumn("rk", row_number().over(wPick)).where(col("rk") === 1)
      .select(col("qid"), col("cid"), lit(1).as("pick"), col("score"))
      .localCheckpoint()
    for (r <- 2 to 5) {
      val ms = pairs.join(picked.select(col("qid"),
          col("cid").as("pb")), Seq("qid", "pb"))
        .groupBy(col("qid"), col("pa").as("cid"))
        .agg(max(col("sim")).as("msim"))
      val scored = slim.join(picked.select(col("qid"), col("cid"),
          lit(1).as("sel")), Seq("qid", "cid"), "left")
        .where(col("sel").isNull).drop("sel")
        .join(ms, Seq("qid", "cid"))
        .withColumn("score", lit(lam) * col("rel") -
          lit(oneMinusLam) * col("msim"))
      val next = scored.withColumn("rk", row_number().over(wPick))
        .where(col("rk") === 1)
        .select(col("qid"), col("cid"), lit(r).as("pick"), col("score"))
      picked = picked.unionByName(next).localCheckpoint()
    }
    picked.select(col("qid"), col("pick"), col("cid"),
        round(col("score"), 6).as("score"))
      .orderBy("qid", "pick")
  }

  /** X35 — Ljung–Box portmanteau test (Ljung & Box 1978) on the q297
    * daily-trend residuals: Q = n(n+2)·Σ_{k≤10} ρ̂_k²/(n−k), the
    * "is there ANY autocorrelation up to lag 10" companion to q297's
    * lag-1 Durbin–Watson. Residuals quantize to exact integer
    * micro-units; every lag-k product and the denominator are exact
    * decimal sums over the bounded ~30-row daily frame (lag via
    * day+k self-join, no data-sized window), so ρ̂_k and Q are
    * bitwise cross-engine.
    */
  private[graft] def qLjungBox(s: SparkSession, dir: String): DataFrame = {
    val daily = ev(s, dir)
      .select(expr("(ts div 1000) div 86400000000").as("day"), col("value"))
      .groupBy("day").agg(Stats.dsum(col("value")).as("y"))
    val m0 = daily.agg(min("day").as("d0"))
    val pts = daily.crossJoin(broadcast(m0))
      .select(col("day"), (col("day") - col("d0"))
        .cast(DoubleType).as("x"), col("y"))
    val fit = pts.agg(Stats.dsum(col("x")).as("sx"),
        Stats.dsum(col("y")).as("sy"),
        Stats.dsum(col("x") * col("y")).as("sxy"),
        Stats.dsum(col("x") * col("x")).as("sxx"),
        count(lit(1)).cast(DoubleType).as("nn"))
      .select(((col("sxy") - col("sx") * col("sy") / col("nn")) /
        (col("sxx") - col("sx") * col("sx") / col("nn"))).as("b"),
        col("sx"), col("sy"), col("nn"))
      .select(col("b"), ((col("sy") - col("b") * col("sx")) / col("nn"))
        .as("a"), col("nn"))
    val e6 = Caches.keep("q300", pts.crossJoin(broadcast(fit))
      .select(col("day"), col("nn"),
        round(round(col("y") - col("a") - col("b") * col("x"), 6) *
          lit(1e6)).cast(DecimalType(38, 0)).as("e6")))
    val den = e6.agg(sum(col("e6") * col("e6")).as("den"),
      max("nn").as("n"))
    val ks = s.range(1, 11).toDF("k")
    // lag-k pairs explicitly: t and t+k rows joined on day+k
    val pr = e6.select(col("day"), col("e6")).crossJoin(broadcast(ks))
      .join(e6.select(col("day").as("dk"), col("e6").as("f6")),
        col("dk") === col("day") + col("k"))
      .groupBy("k").agg(sum(col("e6") * col("f6")).as("num"))
    val rho = pr.crossJoin(broadcast(den))
      .select(col("k"), col("n"),
        (col("num").cast(DoubleType) / col("den").cast(DoubleType))
          .as("rho_raw"))
    val qstat = rho.agg(max(col("n")).as("n2"),
        Stats.dsum(col("rho_raw") * col("rho_raw") /
          (col("n") - col("k").cast(DoubleType))).as("srho"))
      .select(round(col("n2") * (col("n2") + 2.0) * col("srho"), 6)
        .as("q_stat"), lit(10).as("df"))
    rho.crossJoin(broadcast(qstat))
      .select(col("k").cast("int").as("lag"),
        round(col("rho_raw"), 6).as("rho"), col("q_stat"), col("df"))
      .orderBy("lag")
  }

  /** X36 — 1-D two-component Gaussian-mixture EM (Dempster et al.
    * 1977) with a QUANTIZED E-step: responsibilities round to integer
    * micro-units before the M-step sums, so every iteration's
    * sufficient statistics are exact integer decimals (ΣR, ΣR·X,
    * ΣR·X², with X = exact centi-units of the 2-dp money value) and
    * the whole 6-iteration trajectory is bitwise cross-engine — the
    * same determinism trick as the q297 residual recipe, applied to an
    * iterative fit. Detection-proof twin: `healthy` runs on raw
    * events.value (unimodal — components collapse toward each other),
    * `bimodal_injected` adds 400.00 to a deterministic half of the
    * keys and EM recovers the two planted means and the 50/50 mixing
    * weight. Params stay in 1-row-per-scenario broadcast frames
    * (never collected); each iteration is one scan + one grouped
    * aggregate, localCheckpointed to keep lineage flat.
    */
  private[graft] def qGmmEm(s: SparkSession, dir: String): DataFrame = {
    import graft.aug.Sampling.keyBucket
    val base = ev(s, dir).select(col("event_id"), col("value"))
    val x = Caches.keep("q301", base.select(lit("healthy").as("scenario"),
        round(col("value") * 100).cast(DecimalType(38, 0)).as("xc"))
      .unionByName(base.select(lit("bimodal_injected").as("scenario"),
        (round(col("value") * 100) +
          when(keyBucket(col("event_id"), 17L) < lit(500000L), lit(40000L))
            .otherwise(lit(0L))).cast(DecimalType(38, 0)).as("xc"))))
    val xd = col("xc").cast(DoubleType) / lit(100.0)
    // init: quartile-spread means from exact min/max, pooled sd, pi=.5
    var par = x.groupBy("scenario").agg(
        min(col("xc")).cast(DoubleType).as("mn"),
        max(col("xc")).cast(DoubleType).as("mx"),
        Stats.dsum(xd).as("sx"), Stats.dsum(xd * xd).as("sxx"),
        count(lit(1)).cast(DoubleType).as("n"))
      .select(col("scenario"),
        (col("mn") / 100.0 + (col("mx") - col("mn")) / 100.0 / 4.0).as("mu1"),
        (col("mn") / 100.0 + (col("mx") - col("mn")) / 100.0 * 3.0 / 4.0)
          .as("mu2"),
        sqrt(greatest(col("sxx") / col("n") -
          (col("sx") / col("n")) * (col("sx") / col("n")), lit(1e-6)))
          .as("s1"),
        sqrt(greatest(col("sxx") / col("n") -
          (col("sx") / col("n")) * (col("sx") / col("n")), lit(1e-6)))
          .as("s2"),
        lit(0.5).as("p1"))
    par = par.localCheckpoint()
    def phi(mu: Column, sd: Column) =
      exp(lit(-0.5) * ((xd - mu) / sd) * ((xd - mu) / sd)) /
        (sd * math.sqrt(2.0 * math.Pi))
    for (_ <- 1 to 6) {
      val g1 = col("p1") * phi(col("mu1"), col("s1"))
      val g2 = (lit(1.0) - col("p1")) * phi(col("mu2"), col("s2"))
      val resp = x.join(broadcast(par), Seq("scenario"))
        .select(col("scenario"), col("xc"),
          round(g1 / (g1 + g2) * lit(1e6)).cast(DecimalType(38, 0)).as("r1"))
      val mstep = resp.groupBy("scenario").agg(
        sum(col("r1")).as("sr1"),
        sum(col("r1") * col("xc")).as("srx1"),
        sum(col("r1") * col("xc") * col("xc")).as("srxx1"),
        sum(lit(1000000L).cast(DecimalType(38, 0)) - col("r1")).as("sr2"),
        sum((lit(1000000L).cast(DecimalType(38, 0)) - col("r1")) *
          col("xc")).as("srx2"),
        sum((lit(1000000L).cast(DecimalType(38, 0)) - col("r1")) *
          col("xc") * col("xc")).as("srxx2"),
        count(lit(1)).cast(DoubleType).as("n"))
      par = mstep.select(col("scenario"),
        (col("srx1").cast(DoubleType) / col("sr1").cast(DoubleType) /
          lit(100.0)).as("mu1"),
        (col("srx2").cast(DoubleType) / col("sr2").cast(DoubleType) /
          lit(100.0)).as("mu2"),
        sqrt(greatest(col("srxx1").cast(DoubleType) /
          col("sr1").cast(DoubleType) / lit(10000.0) -
          (col("srx1").cast(DoubleType) / col("sr1").cast(DoubleType) /
            lit(100.0)) * (col("srx1").cast(DoubleType) /
            col("sr1").cast(DoubleType) / lit(100.0)), lit(1e-6))).as("s1"),
        sqrt(greatest(col("srxx2").cast(DoubleType) /
          col("sr2").cast(DoubleType) / lit(10000.0) -
          (col("srx2").cast(DoubleType) / col("sr2").cast(DoubleType) /
            lit(100.0)) * (col("srx2").cast(DoubleType) /
            col("sr2").cast(DoubleType) / lit(100.0)), lit(1e-6))).as("s2"),
        (col("sr1").cast(DoubleType) / lit(1e6) / col("n")).as("p1"))
      par = par.localCheckpoint()
    }
    par.select(col("scenario"), round(col("p1"), 6).as("pi1"),
        round(col("mu1"), 6).as("mu1"), round(col("s1"), 6).as("sigma1"),
        round(col("mu2"), 6).as("mu2"), round(col("s2"), 6).as("sigma2"),
        round(col("mu2") - col("mu1"), 6).as("mean_gap"))
      .orderBy("scenario")
  }

  /** X37 — Friedman rank test (Friedman 1937): the repeated-measures
    * companion to q161's Kruskal–Wallis — daily revenue by event type
    * forms a (day × type) block design; types are ranked WITHIN each
    * day (row_number over the bounded ~30×5 daily frame; exact decimal
    * sums make ties practically impossible and the type-name tiebreak
    * keeps both engines identical if one occurs), and
    * χ²_F = 12/(nk(k+1))·ΣR_j² − 3n(k+1) is exact integer arithmetic
    * until the final division. One corpus-sized grouped aggregate.
    */
  private[graft] def qFriedman(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = ev(s, dir)
      .select(expr("(ts div 1000) div 86400000000").as("day"),
        col("event_type"), col("value"))
      .groupBy("day", "event_type").agg(Stats.dsum(col("value")).as("y"))
    val w = Window.partitionBy("day").orderBy(desc("y"), col("event_type"))
    val ranked = daily.withColumn("rk", row_number().over(w))
    val rj = ranked.groupBy("event_type")
      .agg(sum("rk").as("r_sum"), count(lit(1)).as("n_days"))
    val tot = rj.agg(sum(col("r_sum") * col("r_sum")).as("ssr"),
        max("n_days").as("n"), count(lit(1)).as("k"))
      .select(round(lit(12.0) /
        (col("n").cast(DoubleType) * col("k").cast(DoubleType) *
          (col("k").cast(DoubleType) + 1.0)) * col("ssr").cast(DoubleType) -
        lit(3.0) * col("n").cast(DoubleType) *
          (col("k").cast(DoubleType) + 1.0), 6).as("friedman_chi2"),
        (col("k") - 1).cast("int").as("df"))
    rj.crossJoin(broadcast(tot))
      .select(col("event_type"), col("r_sum"),
        round(col("r_sum").cast(DoubleType) /
          col("n_days").cast(DoubleType), 6).as("mean_rank"),
        col("friedman_chi2"), col("df"))
      .orderBy("event_type")
  }

  /** X38 — single change-point by binary segmentation (Scott & Knott
    * 1974 / the CUSUM-fit alternative to q158's Pettitt): over the
    * daily-revenue series, pick the split t maximizing the
    * between-segment fit g(t) = (Σ_L x)²/n_L + (Σ_R x)²/n_R — exactly
    * equivalent to minimizing SSE_L + SSE_R. Prefix sums run over the
    * bounded ~30-row daily frame; all Σx terms are exact centi-unit
    * decimals so g's components are identical doubles cross-engine and
    * the argmax is deterministic. Detection-proof twin: `healthy` =
    * raw series (split explains ~nothing); `shift_injected` adds
    * 5000.00/day from day 20 on — the argmax recovers day 20 and the
    * variance-explained ratio jumps.
    */
  private[graft] def qBinseg(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily0 = ev(s, dir)
      .select(expr("(ts div 1000) div 86400000000").as("day"), col("value"))
      .groupBy("day")
      .agg(sum(round(col("value") * 100).cast(DecimalType(38, 0))).as("xc"))
    val m0 = daily0.agg(min("day").as("d0"))
    val daily = daily0.crossJoin(broadcast(m0))
      .select((col("day") - col("d0")).as("t"), col("xc"))
    val series = daily.select(lit("healthy").as("scenario"), col("t"),
        col("xc"))
      .unionByName(daily.select(lit("shift_injected").as("scenario"),
        col("t"), (col("xc") + when(col("t") >= 20, lit(500000L))
          .otherwise(lit(0L)).cast(DecimalType(38, 0))).as("xc")))
    val w = Window.partitionBy("scenario").orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pre = series.withColumn("cx", sum("xc").over(w))
      .withColumn("ct", count(lit(1)).over(w))
    val tot = series.groupBy("scenario").agg(sum("xc").as("tx"),
      count(lit(1)).as("tn"),
      sum(col("xc") * col("xc")).as("txx"))
    val g = pre.join(tot, Seq("scenario"))
      .where(col("ct") >= 2 && col("tn") - col("ct") >= 2)
      .select(col("scenario"), col("t"),
        ((col("cx") * col("cx")).cast(DoubleType) /
          col("ct").cast(DoubleType) +
          ((col("tx") - col("cx")) * (col("tx") - col("cx")))
            .cast(DoubleType) /
            (col("tn") - col("ct")).cast(DoubleType)).as("gg"),
        (col("txx").cast(DoubleType) -
          (col("tx") * col("tx")).cast(DoubleType) /
            col("tn").cast(DoubleType)).as("sse_tot"))
    val wPick = Window.partitionBy("scenario").orderBy(desc("gg"), col("t"))
    // var_explained = (g(t) − (Σx)²/n) / SSE_tot — both terms from
    // exact decimal components, so the ratio is engine-identical
    g.join(tot.select(col("scenario"),
        ((col("tx") * col("tx")).cast(DoubleType) /
          col("tn").cast(DoubleType)).as("gm")), Seq("scenario"))
      .withColumn("rk", row_number().over(wPick)).where(col("rk") === 1)
      .select(col("scenario"), (col("t") + 1).as("split_day"),
        round((col("gg") - col("gm")) / col("sse_tot"), 6)
          .as("var_explained"))
      .orderBy("scenario")
  }

  /** X39 — Chow structural-break test (Chow 1960) on the daily-revenue
    * trend: fit OLS pooled and on the two halves split at day 15,
    * F = ((SSE_p − SSE_1 − SSE_2)/k) / ((SSE_1 + SSE_2)/(n − 2k)) with
    * k = 2 — the parametric companion to q303's binseg and q158's
    * Pettitt (those find WHERE; Chow tests WHETHER a given split's
    * regimes differ). Every moment enters as an exact centi-unit
    * integer decimal; centered sums form as exact decimal numerators
    * (n·Σxy − Σx·Σy) before ONE cast to double, so SSEs and F are
    * bitwise cross-engine. Detection twin: `slope_injected` adds a
    * +2000.00/day kink from day 15 — F explodes; `healthy` stays
    * small. One corpus-sized daily aggregate; the rest is the bounded
    * 30-row frame.
    */
  private[graft] def qChow(s: SparkSession, dir: String): DataFrame = {
    val daily0 = ev(s, dir)
      .select(expr("(ts div 1000) div 86400000000").as("day"), col("value"))
      .groupBy("day")
      .agg(sum(round(col("value") * 100).cast(DecimalType(38, 0))).as("yc"))
    val m0 = daily0.agg(min("day").as("d0"))
    val daily = daily0.crossJoin(broadcast(m0))
      .select((col("day") - col("d0")).as("t"), col("yc"))
    val series = daily.select(lit("healthy").as("scenario"), col("t"),
        col("yc"))
      .unionByName(daily.select(lit("slope_injected").as("scenario"),
        col("t"), (col("yc") + when(col("t") >= 15,
          (col("t") - lit(14)) * lit(200000L)).otherwise(lit(0L))
          .cast(DecimalType(38, 0))).as("yc")))
      .withColumn("seg", when(col("t") < 15, lit(1)).otherwise(lit(2)))
    def sse(grouped: DataFrame): DataFrame =
      // exact decimal numerators, ONE cast to double per centered sum
      grouped.select(col("scenario"), col("grp"),
        ((col("n") * col("syy") - col("sy") * col("sy"))
          .cast(DoubleType) / col("n").cast(DoubleType)).as("cyy"),
        ((col("n") * col("sxy") - col("sx") * col("sy"))
          .cast(DoubleType) / col("n").cast(DoubleType)).as("cxy"),
        ((col("n") * col("sxx") - col("sx") * col("sx"))
          .cast(DoubleType) / col("n").cast(DoubleType)).as("cxx"),
        col("n"))
        .select(col("scenario"), col("grp"), col("n"),
          (col("cyy") - col("cxy") * col("cxy") / col("cxx")).as("sse"))
    val d0 = lit(0L).cast(DecimalType(38, 0))
    def moments(df: DataFrame, grp: Column): DataFrame =
      df.groupBy(col("scenario"), grp.as("grp")).agg(
        count(lit(1)).cast(DecimalType(38, 0)).as("n"),
        sum(col("t").cast(DecimalType(38, 0))).as("sx"),
        sum(col("yc")).as("sy"),
        sum(col("t").cast(DecimalType(38, 0)) *
          col("t").cast(DecimalType(38, 0))).as("sxx"),
        sum(col("t").cast(DecimalType(38, 0)) * col("yc")).as("sxy"),
        sum(col("yc") * col("yc")).as("syy"))
    val pooled = sse(moments(series, lit(0)))
      .select(col("scenario"), col("sse").as("sse_p"),
        col("n").cast(DoubleType).as("nn"))
    val segs = sse(moments(series, col("seg")))
      .groupBy("scenario").agg(Stats.dsum(col("sse")).as("sse_12"))
    pooled.join(segs, Seq("scenario"))
      .select(col("scenario"), col("nn").cast("long").as("n_days"),
        round(((col("sse_p") - col("sse_12")) / lit(2.0)) /
          (col("sse_12") / (col("nn") - lit(4.0))), 6).as("f_chow"))
      .orderBy("scenario")
  }

  /** X40 — shingle containment (Broder 1997's asymmetric resemblance):
    * containment(A→B) = |S(A)∩S(B)| / |S(A)| over 3-token shingle
    * SETS — the quote/excerpt detector Jaccard misses (a short doc
    * fully contained in a long one has high containment but low
    * Jaccard; q24/q25 only measure the symmetric kind). Pair
    * generation is the inverted-index shape: join docs on shared
    * shingle, grouped count = the intersection size directly — with a
    * document-frequency cap (shingles in > 50 docs dropped, the
    * stopword-shingle guard) bounding the per-key fan-out exactly like
    * the q129 prefix-blocking rule. Output: pairs with containment
    * ≥ 0.5 plus their Jaccard for contrast, top-20.
    */
  private[graft] def qContainment(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextOps
    val sh = Caches.keep("q305", par(doc(s, dir)).select(col("doc_id"),
        TextOps.tokens(col("text")).as("toks"))
      .where(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(toks) - 3), " +
          "i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))")).as("w"))
      .distinct())
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val dfCap = sh.groupBy("w").agg(count(lit(1)).as("df"))
      .where(col("df") <= 50).select("w")
    // persist the capped side ONCE: a self-join recomputes its whole
    // upstream per side (guide §3.3), which here re-ran the df-cap
    // aggregate + join probe twice (r16 second pass)
    val filt = Caches.keep("q305", sh.join(dfCap, Seq("w")))
    val inter = filt
      .select(col("doc_id").as("a"), col("w"))
      .join(filt.select(col("doc_id").as("b"), col("w")),
        Seq("w"))
      .where(col("a") =!= col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter"))
    inter.join(sizes.select(col("doc_id").as("a"), col("sz").as("sza")),
        Seq("a"))
      .join(sizes.select(col("doc_id").as("b"), col("sz").as("szb")),
        Seq("b"))
      .select(col("a"), col("b"), col("inter"), col("sza"), col("szb"),
        round(col("inter").cast(DoubleType) /
          col("sza").cast(DoubleType), 6).as("containment"),
        round(col("inter").cast(DoubleType) /
          (col("sza") + col("szb") - col("inter")).cast(DoubleType), 6)
          .as("jaccard"))
      .where(col("containment") >= 0.5)
      .orderBy(desc("containment"), col("a"), col("b"))
      .limit(20)
  }

  /** X41 — Lincoln–Petersen capture–recapture (Petersen 1896) put to a
    * test it can't cheat: estimate the trigram-type population from
    * two overlapping document samples (disjoint hash splits A and B of
    * the corpus, "capture" = type appears in the sample), N̂ =
    * n_A·n_B/m — then report it against the EXACT type count the
    * engine can compute anyway. The honest twist: types are NOT
    * equal-catchability — a singleton trigram lives in exactly one
    * document and can be caught by at most ONE sample, deflating the
    * overlap m, so N̂ = n_A·n_B/m OVERestimates (measured +51% at
    * sf0.001) — the rel_err column quantifies the classic
    * heterogeneous-catchability bias instead of hiding it. One
    * distributed type-per-sample aggregate; the LP arithmetic is a
    * 1-row frame.
    */
  private[graft] def qCaptureRecapture(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextOps
    import graft.aug.Sampling.keyBucket
    val tri = par(doc(s, dir)).select(col("doc_id"),
        TextOps.tokens(col("text")).as("toks"))
      .where(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(toks) - 3), " +
          "i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))")).as("w"))
    val marked = tri.select(col("w"),
        (keyBucket(col("doc_id"), 29L) < lit(500000L)).as("in_a"))
      .groupBy("w").agg(max(when(col("in_a"), 1).otherwise(0)).as("ca"),
        max(when(!col("in_a"), 1).otherwise(0)).as("cb"))
    marked.agg(sum(col("ca")).cast("long").as("n_a"),
        sum(col("cb")).cast("long").as("n_b"),
        sum(col("ca") * col("cb")).cast("long").as("m_both"),
        count(lit(1)).as("n_true"))
      .select(col("n_a"), col("n_b"), col("m_both"), col("n_true"),
        round(col("n_a").cast(DoubleType) * col("n_b").cast(DoubleType) /
          col("m_both").cast(DoubleType), 2).as("n_hat"),
        round((col("n_a").cast(DoubleType) * col("n_b").cast(DoubleType) /
          col("m_both").cast(DoubleType) -
          col("n_true").cast(DoubleType)) /
          col("n_true").cast(DoubleType), 6).as("rel_err"))
  }

  /** X42 — Cochran's Q test (Cochran 1950): the k-classifier
    * generalization of q292's McNemar — three binary language
    * detectors (lexicon argmax, contains-"the", contains-"and")
    * scored against the lang column on the SAME documents;
    * Q = (k−1)·[k·ΣC_j² − (ΣC_j)²] / [k·ΣR_i − ΣR_i²] over
    * per-classifier correct totals C_j and per-document correct
    * counts R_i. Pure integer arithmetic until the final division —
    * one conditional aggregate over the corpus.
    */
  private[graft] def qCochranQ(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextOps
    val d = doc(s, dir).select(
      (col("lang") === "en").as("truth"),
      (TextOps.langId(col("text")) === "en").as("pa"),
      array_contains(TextOps.tokens(col("text")), "the").as("pb"),
      array_contains(TextOps.tokens(col("text")), "and").as("pc"))
    val rows = d.select(
      when(col("pa") === col("truth"), 1L).otherwise(0L).as("xa"),
      when(col("pb") === col("truth"), 1L).otherwise(0L).as("xb"),
      when(col("pc") === col("truth"), 1L).otherwise(0L).as("xc"))
      .withColumn("ri", col("xa") + col("xb") + col("xc"))
    rows.agg(count(lit(1)).as("n"), sum("xa").as("ca"),
        sum("xb").as("cb"), sum("xc").as("cc"),
        sum("ri").as("sr"), sum(col("ri") * col("ri")).as("srr"))
      .select(col("n"), col("ca"), col("cb"), col("cc"),
        round(lit(2.0) * (lit(3.0) *
          (col("ca") * col("ca") + col("cb") * col("cb") +
            col("cc") * col("cc")).cast(DoubleType) -
          ((col("ca") + col("cb") + col("cc")) *
            (col("ca") + col("cb") + col("cc"))).cast(DoubleType)) /
          (lit(3.0) * col("sr").cast(DoubleType) -
            col("srr").cast(DoubleType)), 6).as("cochran_q"),
        lit(2).as("df"))
  }

  /** X43 — Page's L trend test (Page 1963): ordered-alternatives rank
    * test over the q302 block design — where Friedman asks "do the
    * event types differ at all", Page asks "do they follow THIS
    * order" (alphabetical type order as the registered hypothesis;
    * the statistic is demonstrative on label-ordered data).
    * L = Σ_j j·R_j with exact integer ranks; the standardization
    * μ_L = n·k(k+1)²/4, σ_L² = n·k²(k+1)(k²−1)/144 is closed-form
    * integer arithmetic until the final z.
    */
  private[graft] def qPageTrend(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = ev(s, dir)
      .select(expr("(ts div 1000) div 86400000000").as("day"),
        col("event_type"), col("value"))
      .groupBy("day", "event_type").agg(Stats.dsum(col("value")).as("y"))
    val w = Window.partitionBy("day").orderBy(desc("y"), col("event_type"))
    val ranked = daily.withColumn("rk", row_number().over(w))
    val wj = Window.orderBy("event_type")
    val rj = ranked.groupBy("event_type")
      .agg(sum("rk").as("r_sum"), count(lit(1)).as("n_days"))
      .withColumn("j", row_number().over(wj))
    val tot = rj.agg(sum(col("j") * col("r_sum")).as("l_stat"),
        max("n_days").as("n"), count(lit(1)).as("k"))
      .select(col("l_stat").cast("long").as("page_l"),
        col("n"), col("k"),
        (col("n").cast(DoubleType) * col("k").cast(DoubleType) *
          (col("k") + 1).cast(DoubleType) *
          (col("k") + 1).cast(DoubleType) / lit(4.0)).as("mu_l"),
        sqrt(col("n").cast(DoubleType) *
          col("k").cast(DoubleType) * col("k").cast(DoubleType) *
          (col("k") + 1).cast(DoubleType) *
          (col("k") * col("k") - 1).cast(DoubleType) / lit(144.0))
          .as("sd_l"))
    rj.crossJoin(broadcast(tot))
      .select(col("event_type"), col("j"), col("r_sum"), col("page_l"),
        round((col("page_l").cast(DoubleType) - col("mu_l")) /
          col("sd_l"), 6).as("z"))
      .orderBy("j")
  }

  /** X44 — entropy rate of the event stream (Shannon 1948; the
    * information-gain companion to q138's transition matrix):
    * H(next|cur) = −Σ p(cur,next)·ln p(next|cur) vs the memoryless
    * H(next), with the difference = the mutual information one step of
    * memory buys. Transition pairs form per user via the q138 lead
    * shape; the entropy arithmetic runs on the 25-cell transition
    * frame in exact-count ratios (ln of identical doubles).
    */
  private[graft] def qEntropyRate(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = ev(s, dir).select(col("user_id"), col("event_id"),
      expr("ts div 1000").as("us"), col("event_type"))
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val cells = Caches.keep("q309",
      e.withColumn("next", lead(col("event_type"), 1).over(w))
        .where(col("next").isNotNull)
        .groupBy(col("event_type").as("cur"), col("next"))
        .agg(count(lit(1)).as("n")))
    val curTot = cells.groupBy("cur").agg(sum("n").as("nc"))
    val nextTot = cells.groupBy("next").agg(sum("n").as("nx"))
    val tot = cells.agg(sum("n").as("nt"))
    val hCond = cells.join(curTot, Seq("cur")).crossJoin(broadcast(tot))
      .select(((col("n").cast(DoubleType) / col("nt").cast(DoubleType)) *
        (lit(0.0) - log(col("n").cast(DoubleType) /
          col("nc").cast(DoubleType)))).as("t"))
      .agg(Stats.dsum(col("t")).as("h_cond"))
    val hMarg = nextTot.crossJoin(broadcast(tot))
      .select(((col("nx").cast(DoubleType) / col("nt").cast(DoubleType)) *
        (lit(0.0) - log(col("nx").cast(DoubleType) /
          col("nt").cast(DoubleType)))).as("t"))
      .agg(Stats.dsum(col("t")).as("h_marg"))
    hCond.crossJoin(broadcast(hMarg)).crossJoin(broadcast(tot))
      .select(col("nt").as("n_transitions"),
        round(col("h_cond"), 6).as("entropy_rate"),
        round(col("h_marg"), 6).as("entropy_marginal"),
        round(col("h_marg") - col("h_cond"), 6).as("memory_gain"))
  }

  /** X45 — sequential pattern support ("A then B", existential per
    * user) with lift against order-blind co-occurrence: the
    * sequence-mining primitive under funnel analysis that q150's
    * prefix paths and q134's fixed funnel don't cover. The classic
    * trap is the per-user event self-join (66² pairs/user); the
    * existential semantics collapse it — "some A before some B" ⇔
    * min_ts(A) < max_ts(B) — so one (user, type) min/max aggregate
    * plus a per-user 5×5 type join (bounded by the type-vocabulary,
    * not the event count) computes exact support at ANY corpus size.
    * Semantics: FIRST occurrence of A before FIRST occurrence of B
    * (funnel order) — unconstrained "some A before some B" saturates
    * at support 1.0 on this stream (66 events/user over 5 types),
    * which reads as broken rather than measured; the first-vs-first
    * fraction sits near 0.5 on iid data and its deviation IS the
    * order-bias measurement. Microsecond ties count as not-before
    * (strict <) on both engines.
    */
  private[graft] def qSeqPatterns(s: SparkSession, dir: String): DataFrame = {
    val spans = Caches.keep("q310", ev(s, dir)
      .select(col("user_id"), col("event_type"),
        expr("ts div 1000").as("us"))
      .groupBy("user_id", "event_type")
      .agg(min("us").as("mn"), max("us").as("mx")))
    val users = spans.select("user_id").distinct()
      .agg(count(lit(1)).as("nu"))
    val pats = spans.toDF("user_id", "ta", "mna", "mxa")
      .join(spans.toDF("uid2", "tb", "mnb", "mxb"),
        col("user_id") === col("uid2") && col("ta") =!= col("tb"))
      .groupBy(col("ta").as("antecedent"), col("tb").as("consequent"))
      .agg(count(when(col("mna") < col("mnb"), 1)).as("n_seq"),
        count(lit(1)).as("n_both"))
    val single = spans.groupBy("event_type")
      .agg(count(lit(1)).as("n_has"))
    pats.join(single.select(col("event_type").as("antecedent"),
        col("n_has").as("na")), Seq("antecedent"))
      .join(single.select(col("event_type").as("consequent"),
        col("n_has").as("nb")), Seq("consequent"))
      .crossJoin(broadcast(users))
      .select(col("antecedent"), col("consequent"), col("n_seq"),
        round(col("n_seq").cast(DoubleType) /
          col("nu").cast(DoubleType), 6).as("support"),
        round(col("n_seq").cast(DoubleType) * col("nu").cast(DoubleType) /
          (col("na").cast(DoubleType) * col("nb").cast(DoubleType)), 6)
          .as("lift"))
      .orderBy("antecedent", "consequent")
  }

  /** X46 — overdispersion diagnostic + negative-binomial fit for
    * events-per-user counts (the "is Poisson good enough" gate every
    * count model needs): dispersion index D = s²/x̄, the Poisson
    * dispersion test χ² = (n−1)·D with its normal approximation
    * z = √(2χ²) − √(2df−1), and the method-of-moments NB parameters
    * r = x̄²/(s²−x̄), p = x̄/s². Counts are exact integers; variance
    * uses the exact-decimal moment recipe, so every statistic is
    * engine-identical. One grouped count + one moment aggregate.
    */
  private[graft] def qOverdispersion(s: SparkSession, dir: String): DataFrame = {
    val per = ev(s, dir).groupBy("user_id")
      .agg(count(lit(1)).cast(DecimalType(38, 0)).as("c"))
    val m = per.agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"),
        sum(col("c")).as("sc"), sum(col("c") * col("c")).as("scc"))
      .select(col("n").cast(DoubleType).as("n"),
        (col("sc").cast(DoubleType) / col("n").cast(DoubleType)).as("mean"),
        (((col("n") * col("scc") - col("sc") * col("sc"))
          .cast(DoubleType)) /
          (col("n").cast(DoubleType) * (col("n").cast(DoubleType) - 1.0)))
          .as("variance"))
    m.select(col("n").cast("long").as("n_users"),
        round(col("mean"), 6).as("mean"),
        round(col("variance"), 6).as("variance"),
        round(col("variance") / col("mean"), 6).as("dispersion"),
        round(sqrt(lit(2.0) * (col("n") - 1.0) * col("variance") /
          col("mean")) - sqrt(lit(2.0) * (col("n") - 1.0) - 1.0), 6)
          .as("poisson_z"),
        round(col("mean") * col("mean") /
          (col("variance") - col("mean")), 6).as("nb_r"),
        round(col("mean") / col("variance"), 6).as("nb_p"))
  }

  /** X47 — effective sample size of temperature-mix importance weights
    * (Kong 1992; the "did re-weighting waste my corpus" diagnostic for
    * the q92/q225 mixing family): target q_d ∝ p_d^τ (τ = 0.5) over
    * document LANGUAGES (the skewed dimension — en is ~44% of the
    * corpus; sources are uniform and would make the diagnostic
    * vacuous), per-doc weight w_d = q_d/p_d, ESS = (Σw)²/Σw² — equal
    * to n only when weights are uniform; the ess_fraction column is
    * the usable-corpus fraction after re-weighting. Everything reduces
    * on the per-language count frame (Σ over docs of a per-language
    * weight = n_d·w_d in closed form).
    */
  private[graft] def qEssWeights(s: SparkSession, dir: String): DataFrame = {
    val cnt = doc(s, dir).groupBy("lang").agg(count(lit(1)).as("nd"))
    val tot = cnt.agg(sum("nd").as("n"))
    val g = cnt.crossJoin(broadcast(tot))
      .select(col("lang"), col("nd"), col("n"),
        (col("nd").cast(DoubleType) / col("n").cast(DoubleType)).as("p"))
      .withColumn("q_raw", sqrt(col("p")))
    val z = g.agg(Stats.dsum(col("q_raw")).as("zq"))
    val w = Caches.keep("q311", g.crossJoin(broadcast(z))
      .select(col("lang"), col("nd"), col("n"),
        ((col("q_raw") / col("zq")) / col("p")).as("w")))
    val ess = w.agg(
        Stats.dsum(col("nd").cast(DoubleType) * col("w")).as("sw"),
        Stats.dsum(col("nd").cast(DoubleType) * col("w") * col("w"))
          .as("sww"), max("n").as("n"))
      .select(round(col("sw") * col("sw") / col("sww"), 2).as("ess"),
        round(col("sw") * col("sw") / col("sww") /
          col("n").cast(DoubleType), 6).as("ess_fraction"))
    w.crossJoin(broadcast(ess))
      .select(col("lang"), col("nd").as("n_docs"),
        round(col("w"), 6).as("weight"), col("ess"), col("ess_fraction"))
      .orderBy("lang")
  }

  /** X48 — global graph statistics sheet on the co-purchase graph
    * (q290's SF-invariant √n-supernode grain): degree assortativity
    * (Newman 2002 — do high-degree nodes link to high-degree nodes?)
    * as the exact Pearson correlation of endpoint degrees over both
    * edge orientations, and the global clustering coefficient
    * 3·triangles/wedges (Watts–Strogatz's transitivity in its
    * closed-triple form, the q156 triangle shape). Every sum is over
    * integer degrees/counts (exact decimal) — bitwise cross-engine.
    * The quadratic work is bucket-confined exactly as in q156/q290.
    */
  private[graft] def qGraphStats(s: SparkSession, dir: String): DataFrame = {
    val raw = li(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").cast("long").as("pk"))
    val kk = raw.agg(
      (ceil(sqrt(countDistinct(col("ok")))).cast("long") * lit(6L)).as("k"))
    val ob = Caches.keep("q313", raw.crossJoin(broadcast(kk))
      .select(col("ok"), (col("pk") % col("k")).as("pk"))
      .distinct())
    val edges = Caches.keep("q313", ob.toDF("ok", "p1")
      .join(ob.toDF("ok2", "p2"), col("ok") === col("ok2") && col("p1") < col("p2"))
      .groupBy("p1", "p2").agg(count(lit(1)).as("npair"))
      .where(col("npair") >= 2).select("p1", "p2"))
    val adj = Caches.keep("q313",
      edges.union(edges.select(col("p2"), col("p1"))).toDF("a", "b"))
    val deg = adj.groupBy("a").agg(count(lit(1)).cast("long").as("dg"))
    // assortativity: Pearson over directed edge list of (deg_a, deg_b)
    val de = adj.join(deg.toDF("a", "da"), Seq("a"))
      .join(deg.toDF("b", "db"), Seq("b"))
      .select(col("da").cast(DecimalType(38, 0)).as("x"),
        col("db").cast(DecimalType(38, 0)).as("y"))
    val mo = de.agg(count(lit(1)).cast(DecimalType(38, 0)).as("m"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    val assort = mo.select(
      (((col("m") * col("sxy") - col("sx") * col("sy")).cast(DoubleType)) /
        (sqrt((col("m") * col("sxx") - col("sx") * col("sx"))
          .cast(DoubleType)) *
          sqrt((col("m") * col("syy") - col("sy") * col("sy"))
            .cast(DoubleType)))).as("assortativity"),
      (col("m") / lit(2)).cast("long").as("n_edges"))
    // triangles via the directed wedge join (a < m < c canonical form)
    val tri = edges.toDF("x", "m")
      .join(edges.toDF("m2", "y"), col("m") === col("m2"))
      .join(edges.toDF("x2", "y2"),
        col("x") === col("x2") && col("y") === col("y2"))
      .agg(count(lit(1)).cast("long").as("n_tri"))
    val wedges = deg.agg(
      sum(expr("dg * (dg - 1) div 2").cast(DecimalType(38, 0)))
        .cast("long").as("n_wedges"))
    val nn = deg.agg(count(lit(1)).as("n_nodes"))
    assort.crossJoin(broadcast(tri)).crossJoin(broadcast(wedges))
      .crossJoin(broadcast(nn))
      .select(col("n_nodes"), col("n_edges"),
        round(col("assortativity"), 6).as("assortativity"),
        col("n_tri"), col("n_wedges"),
        round(lit(3.0) * col("n_tri").cast(DoubleType) /
          col("n_wedges").cast(DoubleType), 6).as("clustering_coef"))
  }

  /** X49 — Wald–Wolfowitz runs test (1940) on the signs of the q297
    * daily-trend residuals: R runs of same-signed residuals against
    * μ_R = 2·n₊·n₋/n + 1, σ²_R = (μ_R−1)(μ_R−2)/(n−1) — positive
    * autocorrelation shows as too FEW runs, the nonparametric
    * cross-check of q297's DW and q300's Ljung–Box (all three
    * diagnostics now triangulate the same residual series). Residual
    * signs come from the exact micro-unit quantization; the run count
    * is a lag comparison over the bounded ~30-row daily frame.
    */
  private[graft] def qRunsTest(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = ev(s, dir)
      .select(expr("(ts div 1000) div 86400000000").as("day"), col("value"))
      .groupBy("day").agg(Stats.dsum(col("value")).as("y"))
    val m0 = daily.agg(min("day").as("d0"))
    val pts = daily.crossJoin(broadcast(m0))
      .select(col("day"), (col("day") - col("d0"))
        .cast(DoubleType).as("x"), col("y"))
    val fit = pts.agg(Stats.dsum(col("x")).as("sx"),
        Stats.dsum(col("y")).as("sy"),
        Stats.dsum(col("x") * col("y")).as("sxy"),
        Stats.dsum(col("x") * col("x")).as("sxx"),
        count(lit(1)).cast(DoubleType).as("nn"))
      .select(((col("sxy") - col("sx") * col("sy") / col("nn")) /
        (col("sxx") - col("sx") * col("sx") / col("nn"))).as("b"),
        col("sx"), col("sy"), col("nn"))
      .select(col("b"), ((col("sy") - col("b") * col("sx")) / col("nn"))
        .as("a"))
    val sgn = pts.crossJoin(broadcast(fit))
      .select(col("day"),
        when(round(round(col("y") - col("a") - col("b") * col("x"), 6) *
          lit(1e6)) >= 0, lit(1)).otherwise(lit(-1)).as("sg"))
    val w = Window.orderBy("day")
    val runs = sgn.withColumn("prev", lag("sg", 1).over(w))
      .agg(count(lit(1)).as("n"),
        count(when(col("sg") === 1, 1)).as("n_pos"),
        count(when(col("sg") === -1, 1)).as("n_neg"),
        (count(when(col("prev").isNull ||
          col("sg") =!= col("prev"), 1)).cast("long")).as("n_runs"))
    runs.select(col("n"), col("n_pos"), col("n_neg"), col("n_runs"),
        (lit(2.0) * col("n_pos").cast(DoubleType) *
          col("n_neg").cast(DoubleType) / col("n").cast(DoubleType) +
          lit(1.0)).as("mu_r"))
      .select(col("n"), col("n_pos"), col("n_neg"), col("n_runs"),
        round(col("mu_r"), 6).as("mu_runs"),
        round((col("n_runs").cast(DoubleType) - col("mu_r")) /
          sqrt((col("mu_r") - 1.0) * (col("mu_r") - 2.0) /
            (col("n").cast(DoubleType) - 1.0)), 6).as("z"))
  }

  /** X50 — Theil T inequality index with exact within/between-nation
    * decomposition (Theil 1967): the additively-decomposable
    * inequality measure q124's Gini and q179's HHI can't provide —
    * T = Σ_g s_g·T_g + Σ_g s_g·ln(s_g/(n_g/n)) splits customer-revenue
    * inequality into within-nation and between-nation parts, and the
    * output carries the identity audit |T − within − between| < 1e-7
    * (measured residual 4.4e-9 at sf0.1 — accumulated double rounding
    * across the per-customer term pass). Per-customer
    * revenue is an exact centi-unit sum; the per-customer term pass is
    * the only corpus-sized stage.
    */
  private[graft] def qTheil(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
      .select(col("o_custkey"), round(col("o_totalprice") * 100)
        .cast(DecimalType(38, 0)).as("yc"))
    val c = Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val per = Caches.keep("q315", o.groupBy("o_custkey").agg(sum("yc").as("yc"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey").as("nation"), col("yc")))
    // gtot/tot are nation-count-sized but feed FIVE broadcast builds
    // below — unpersisted, every build re-aggregates the per cache;
    // terms feeds two aggregates (t_total and the per-nation t_g sums)
    // that would each re-run the join+log pass (r16)
    val gtot = Caches.keep("q315", per.groupBy("nation").agg(sum("yc").as("ycg"),
        count(lit(1)).cast("long").as("ng")))
    val tot = Caches.keep("q315", gtot.agg(sum("ycg").as("yct"), sum("ng").as("nt")))
    // per-customer terms for T_total and (via the group mean) T_within
    val terms = Caches.keep("q315", per.join(broadcast(gtot), Seq("nation"))
      .crossJoin(broadcast(tot))
      .select(col("nation"),
        ((col("yc").cast(DoubleType) / col("yct").cast(DoubleType)) *
          log((col("yc").cast(DoubleType) / col("yct").cast(DoubleType)) *
            col("nt").cast(DoubleType))).as("t_tot"),
        ((col("yc").cast(DoubleType) / col("ycg").cast(DoubleType)) *
          log((col("yc").cast(DoubleType) / col("ycg").cast(DoubleType)) *
            col("ng").cast(DoubleType))).as("t_g")))
    val tTotal = terms.agg(Stats.dsum(col("t_tot")).as("t_total"))
    val tWithin = terms.groupBy("nation")
      .agg(Stats.dsum(col("t_g")).as("tg"))
      .join(broadcast(gtot), Seq("nation")).crossJoin(broadcast(tot))
      .select(((col("ycg").cast(DoubleType) / col("yct").cast(DoubleType)) *
        col("tg")).as("w"))
      .agg(Stats.dsum(col("w")).as("t_within"))
    val tBetween = gtot.crossJoin(broadcast(tot))
      .select(((col("ycg").cast(DoubleType) / col("yct").cast(DoubleType)) *
        log((col("ycg").cast(DoubleType) / col("yct").cast(DoubleType)) /
          (col("ng").cast(DoubleType) / col("nt").cast(DoubleType))))
        .as("tb"))
      .agg(Stats.dsum(col("tb")).as("t_between"))
    tTotal.crossJoin(broadcast(tWithin)).crossJoin(broadcast(tBetween))
      .select(round(col("t_total"), 6).as("theil_total"),
        round(col("t_within"), 6).as("theil_within"),
        round(col("t_between"), 6).as("theil_between"),
        // tolerance 1e-7: the identity residual is accumulated double
        // rounding across the per-customer term pass (measured 4.4e-9
        // at 150k customers / sf0.1, growing ~linearly in n)
        (abs(col("t_total") - col("t_within") - col("t_between")) <
          lit(1e-7)).as("decomposition_ok"))
  }

  /** X51 — Bradley–Terry pairwise-preference ratings via the MM
    * algorithm (Bradley & Terry 1952; Hunter 2004's minorization
    * update θ_i ← W_i / Σ_j n_ij/(θ_i+θ_j)) — the model behind Elo,
    * arena-style LLM eval leaderboards, and every "A beats B" rating.
    * Comparisons: within an order, supplier a beats supplier b when
    * a's extendedprice total for that order exceeds b's (exact 2-dp
    * decimals; ties are no-games, documented). The pair aggregate is
    * the only corpus-sized stage; eight MM iterations run on the
    * bounded supplier-pair frame (five registered iterations — MM converges geometrically and each costs a full pair-frame pass) with the q301 determinism recipe —
    * ratings quantize to 1e-9 after each update, so the whole
    * trajectory is bitwise cross-engine. Mean-normalized; top-20.
    */
  private[graft] def qBradleyTerry(s: SparkSession, dir: String): DataFrame = {
    val perOs = Caches.keep("q316.perOs", li(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"),
        round(col("l_extendedprice") * 100).cast(DecimalType(38, 0))
          .as("pc"))
      .groupBy("ok", "sk").agg(sum("pc").as("pc")))
    val games = Caches.keep("q316", perOs.toDF("ok", "sa", "pa")
      .join(perOs.toDF("ok2", "sb", "pb"),
        col("ok") === col("ok2") && col("sa") =!= col("sb"))
      .where(col("pa") =!= col("pb"))
      .groupBy("sa", "sb")
      .agg(count(lit(1)).as("n_ij"),
        count(when(col("pa") > col("pb"), 1)).as("w_ij")))
    val wins = Caches.keep("q316.wins", games.groupBy(col("sa").as("i"))
      .agg(sum("w_ij").cast(DoubleType).as("wi")))
    var theta = wins.select(col("i"), lit(1.0).as("th")).coalesce(1)
      .localCheckpoint()
    for (_ <- 1 to 5) {
      val denom = games
        .join(broadcast(theta.toDF("i", "thi")), col("sa") === col("i"))
        .join(broadcast(theta.toDF("j", "thj")), col("sb") === col("j"))
        .groupBy(col("sa"))
        .agg(Stats.dsum(col("n_ij").cast(DoubleType) /
          (col("thi") + col("thj"))).as("dn"))
      val raw = wins.join(denom, col("i") === col("sa"))
        .select(col("i"), (col("wi") / col("dn")).as("tr"))
      val mean = raw.agg(Stats.dsum(col("tr")).as("st"),
        count(lit(1)).cast(DoubleType).as("nn"))
      theta = raw.crossJoin(broadcast(mean))
        .select(col("i"),
          (round(col("tr") / (col("st") / col("nn")) * lit(1e9)) /
            lit(1e9)).as("th"))
        .coalesce(1).localCheckpoint()
    }
    theta.join(wins, Seq("i"))
      .select(col("i").as("supplier"), col("wi").cast("long").as("wins"),
        round(col("th"), 6).as("rating"))
      .orderBy(desc("rating"), col("supplier")).limit(20)
  }

  /** X52 — AGMS join-size estimation (Alon–Gianella–Matias–Szegedy
    * 1999/2002): |A⋈B| = Σ_k a_k·b_k estimated by the inner product of
    * ±1 atomic sketches — the classic sketch the q274 F2 machinery
    * exists FOR in a query optimizer (join cardinality from one pass
    * per side, no key-level statistics). A = lineitem part keys, B =
    * part keys restricted to a 20% order hash split (real skewed
    * multiplicities on both sides). Sketch counters and the EXACT join
    * size both derive from ONE groupBy(key) pass (ξ is a function of
    * the key, so Σ_rows ξ ≡ Σ_key ξ·count); estimator = mean and
    * median-of-4-group-means of the counter products, reported with
    * relative errors. Same sign-hash family and driver-side median as q274,
    * widened to 64 counters: the estimator variance is ~F2(A)·F2(B)
    * per counter and this join is dense (every key matches), so 16
    * counters sat at ±50% — 64 lands within a few percent (measured
    * +3.4% mean / −15% median-of-means at sf0.1).
    */
  private[graft] def qJoinSizeAms(s: SparkSession, dir: String): DataFrame = {
    import graft.aug.Sampling.keyBucket
    val P = 1000000007L
    // Fused single pass (r13): ξ_j depends only on h, so the sketch
    // counter Σ_rows ξ_j(h) ≡ Σ_h ξ_j(h)·count(h). One groupBy(h) over
    // the corpus yields per-key multiplicities (a, b); the exact join
    // size AND all 128 sketch sums then come from ONE aggregate over
    // the distinct-key frame (~|parts| rows, not |lineitem|) — same
    // longs bit-for-bit as the former two-pass form, one scan fewer,
    // no persist needed.
    val keyed = li(s, dir).select(
        ((col("l_partkey").cast("long") * lit(2654435761L)) % lit(P))
          .as("h"),
        (keyBucket(col("l_orderkey"), 41L) < lit(200000L)).as("in_b"))
      .groupBy("h")
      .agg(count(lit(1)).as("a"), count(when(col("in_b"), 1)).as("b"))
    val xi = (1 to 64).map { j =>
      val t = col("h") + lit(j * 1000003L)
      when((t * t) % lit(P) % 2 === 0, 1L).otherwise(-1L)
    }
    val aggs = Seq(sum("a").as("n_a"), sum("b").as("n_b"),
        sum(col("a") * col("b")).as("jx")) ++
      xi.zipWithIndex.flatMap { case (x, i) =>
        Seq(sum(x * col("a")).as(s"a${i + 1}"),
          sum(x * col("b")).as(s"b${i + 1}"))
      }
    val sk = keyed.agg(aggs.head, aggs.tail: _*).head()
    val prods = (0 until 64).map(i =>
      sk.getLong(3 + 2 * i).toDouble * sk.getLong(4 + 2 * i).toDouble)
    val estMean = prods.sum / 64.0
    val groupMeans = prods.grouped(8).map(_.sum / 8.0).toSeq.sorted
    val estMom = (groupMeans(3) + groupMeans(4)) / 2.0
    val (nA, nB, jx) = (sk.getLong(0), sk.getLong(1), sk.getLong(2))
    import s.implicits._
    Seq((nA, nB, jx, r6(estMean), r6(estMom),
      r6((estMean - jx.toDouble) / jx.toDouble),
      r6((estMom - jx.toDouble) / jx.toDouble)))
      .toDF("n_a", "n_b", "join_exact", "est_mean", "est_mom",
        "rel_err_mean", "rel_err_mom")
  }

  /** X53 — k-anonymity / l-diversity audit (Sweeney 2002; Machanavajjhala
    * 2007): the privacy-risk sheet beside the governance family (q205
    * GDPR purge, q242 DP release). Quasi-identifier = (nation,
    * mktsegment) on customers, sensitive attribute = acctbal in 1000-
    * unit buckets; reports equivalence-class statistics, the fraction
    * of rows in classes below k ∈ {2,5}, and the minimum/violating-l
    * diversity. One grouped aggregate over the corpus; all metrics
    * integer-exact until the final fractions.
    */
  private[graft] def qKAnonymity(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(s, dir, "customer").select(col("c_nationkey"),
      col("c_mktsegment"),
      floor(col("c_acctbal") / 1000.0).cast("long").as("sbucket"))
    val cls = c.groupBy("c_nationkey", "c_mktsegment")
      .agg(count(lit(1)).as("k"), countDistinct("sbucket").as("l"))
    cls.agg(sum("k").as("n_rows"), count(lit(1)).as("n_classes"),
        min("k").as("min_k"),
        sum(when(col("k") < 2, col("k")).otherwise(lit(0L)))
          .as("rows_k_lt_2"),
        sum(when(col("k") < 5, col("k")).otherwise(lit(0L)))
          .as("rows_k_lt_5"),
        min("l").as("min_l"),
        count(when(col("l") < 3, 1)).as("classes_l_lt_3"))
      .select(col("n_rows"), col("n_classes"), col("min_k"),
        round(col("rows_k_lt_2").cast(DoubleType) /
          col("n_rows").cast(DoubleType), 6).as("pct_rows_k_lt_2"),
        round(col("rows_k_lt_5").cast(DoubleType) /
          col("n_rows").cast(DoubleType), 6).as("pct_rows_k_lt_5"),
        col("min_l"),
        round(col("classes_l_lt_3").cast(DoubleType) /
          col("n_classes").cast(DoubleType), 6).as("pct_classes_l_lt_3"))
  }

  /** X54 — Mann–Kendall trend test + Sen's slope (Mann 1945; Sen
    * 1968): the nonparametric trend battery beside q133's Theil–Sen
    * regression — S = Σ_{i<j} sign(x_j − x_i) with the no-ties
    * variance n(n−1)(2n+5)/18 and continuity-corrected z, plus Sen's
    * slope as the exact median of the 435 pairwise slopes (avg of the
    * two middle order statistics on the bounded pair frame).
    * Detection twin: `trend_injected` adds +2000.00·t — Sen's slope
    * recovers ≈2000 and z leaves the null band; `healthy` stays
    * inside it. Daily sums exact centi-units; the pair join is the
    * bounded ~30-row frame against itself.
    */
  private[graft] def qMannKendall(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily0 = ev(s, dir)
      .select(expr("(ts div 1000) div 86400000000").as("day"), col("value"))
      .groupBy("day")
      .agg(sum(round(col("value") * 100).cast(DecimalType(38, 0))).as("xc"))
    val m0 = daily0.agg(min("day").as("d0"))
    val daily = daily0.crossJoin(broadcast(m0))
      .select((col("day") - col("d0")).as("t"), col("xc"))
    val series = Caches.keep("q319", daily.select(lit("healthy").as("scenario"), col("t"),
        col("xc"))
      .unionByName(daily.select(lit("trend_injected").as("scenario"),
        col("t"), (col("xc") + col("t") * lit(200000L))
          .cast(DecimalType(38, 0)).as("xc"))))
    val pairs = Caches.keep("q319.pairs", series.toDF("scenario", "ti", "xi")
      .join(series.toDF("sc2", "tj", "xj"),
        col("scenario") === col("sc2") && col("ti") < col("tj"))
      .select(col("scenario"),
        signum((col("xj") - col("xi")).cast(DoubleType)).as("sg"),
        ((col("xj") - col("xi")).cast(DoubleType) / lit(100.0) /
          (col("tj") - col("ti")).cast(DoubleType)).as("slope")))
    val wS = Window.partitionBy("scenario").orderBy("slope")
    val med = pairs
      .withColumn("rk", row_number().over(wS))
      .withColumn("np", count(lit(1)).over(Window.partitionBy("scenario")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .where(col("rk") === expr("(np + 1) div 2") ||
        col("rk") === expr("np div 2 + 1"))
      .groupBy("scenario").agg(Stats.dsum(col("slope")).as("msum"),
        count(lit(1)).cast(DoubleType).as("mc"))
      .select(col("scenario"), (col("msum") / col("mc")).as("sen"))
    val st = pairs.groupBy("scenario")
      .agg(sum(col("sg").cast(DecimalType(38, 0))).cast("long").as("s_mk"))
    val n = series.groupBy("scenario").agg(count(lit(1)).as("n"))
    st.join(n, Seq("scenario")).join(med, Seq("scenario"))
      .select(col("scenario"), col("n"), col("s_mk"),
        round(when(col("s_mk") > 0,
          (col("s_mk").cast(DoubleType) - 1.0)).otherwise(
          when(col("s_mk") < 0, col("s_mk").cast(DoubleType) + 1.0)
            .otherwise(lit(0.0))) /
          sqrt(col("n").cast(DoubleType) * (col("n").cast(DoubleType) - 1.0) *
            (lit(2.0) * col("n").cast(DoubleType) + 5.0) / lit(18.0)), 6)
          .as("z"),
        round(col("sen"), 6).as("sen_slope"))
      .orderBy("scenario")
  }

  /** X55 — Hurst exponent by rescaled-range analysis (Hurst 1951;
    * Mandelbrot & Wallis 1969): log(R/S) vs log(n) over block sizes
    * n ∈ {8, 16, 24} on the daily series. Detection twin: `healthy`
    * is the (near-iid) daily revenue — H̄ hovers near the 0.5 noise
    * band; `walk_injected` REPLACES the series with a deterministic
    * hash-sign random walk (cumulative ±1000.00 steps), whose R/S
    * slope runs near 1 — the long-memory signature R/S exists to
    * detect. Block R and S come from exact centi-unit cumulative
    * sums and moments over the bounded ~30-row frame; the final OLS
    * runs on 3 points per scenario. Caveat carried in the numbers:
    * plain R/S overestimates H at small n (the Anis–Lloyd bias —
    * healthy reads ≈0.72, not 0.5, on 30 points); the registered
    * measurement is the healthy-vs-walk CONTRAST (0.72 vs 1.02),
    * not an absolute H estimate.
    */
  private[graft] def qHurst(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.aug.Sampling.keyBucket
    // NOT persisted (r16 A/B: 1.53 -> 1.64 s with daily0+base cached):
    // the duplicated daily0 aggregate subtrees below are identical
    // post-canonicalization, so ReusedExchange already bounds the
    // events scan at one pass — the caches only added materialization
    // overhead
    val daily0 = ev(s, dir)
      .select(expr("(ts div 1000) div 86400000000").as("day"), col("value"))
      .groupBy("day")
      .agg(sum(round(col("value") * 100).cast(DecimalType(38, 0))).as("xc"))
    val m0 = daily0.agg(min("day").as("d0"))
    val base = daily0.crossJoin(broadcast(m0))
      .select((col("day") - col("d0")).as("t"), col("xc"))
    val wWalk = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val walk = base.select(col("t"),
        when(keyBucket(col("t") + lit(7700L), 37L) < lit(500000L),
          lit(100000L)).otherwise(lit(-100000L))
          .cast(DecimalType(38, 0)).as("step"))
      .withColumn("xc", sum("step").over(wWalk)).drop("step")
    val series = Caches.keep("q320", base.select(lit("healthy").as("scenario"), col("t"),
        col("xc"))
      .unionByName(walk.select(lit("walk_injected").as("scenario"),
        col("t"), col("xc"))))
    val sizes = Seq(8, 16, 24)
    val rs = sizes.map { bn =>
      val blk = series.select(col("scenario"), col("t"), col("xc"),
          expr(s"t div $bn").as("blk"))
      // block mean from exact sums; per-row deviation; cumulative
      // deviation range R and block sd S over the bounded frame
      val bm = blk.groupBy("scenario", "blk")
        .agg(sum("xc").as("sxc"), count(lit(1)).as("bc"))
        .where(col("bc") === bn)
      val dev = blk.join(bm, Seq("scenario", "blk"))
        .select(col("scenario"), col("blk"), col("t"),
          (col("xc").cast(DoubleType) -
            col("sxc").cast(DoubleType) / col("bc").cast(DoubleType))
            .as("d"),
          col("bc"))
      val wCum = Window.partitionBy("scenario", "blk").orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = dev.withColumn("cd",
        sum(col("d").cast(DecimalType(38, 10))).over(wCum)
          .cast(DoubleType))
      cum.groupBy("scenario", "blk")
        .agg((greatest(max("cd"), lit(0.0)) -
          least(min("cd"), lit(0.0))).as("r"),
          sqrt(Stats.dsum(col("d") * col("d")) /
            max(col("bc")).cast(DoubleType)).as("sd"))
        .where(col("sd") > 0)
        .select(col("scenario"), lit(bn).as("n"),
          (col("r") / col("sd")).as("rs"))
    }.reduce(_ unionByName _)
    val pts = rs.groupBy("scenario", "n")
      .agg(Stats.dsum(col("rs")).as("srs"),
        count(lit(1)).cast(DoubleType).as("nb"))
      .select(col("scenario"), col("n"),
        log(col("srs") / col("nb")).as("y"),
        log(col("n").cast(DoubleType)).as("x"))
    val fit = pts.groupBy("scenario").agg(
        Stats.dsum(col("x")).as("sx"), Stats.dsum(col("y")).as("sy"),
        Stats.dsum(col("x") * col("y")).as("sxy"),
        Stats.dsum(col("x") * col("x")).as("sxx"),
        count(lit(1)).cast(DoubleType).as("np"))
      .select(col("scenario"),
        round((col("sxy") - col("sx") * col("sy") / col("np")) /
          (col("sxx") - col("sx") * col("sx") / col("np")), 6)
          .as("hurst_h"))
    pts.select(col("scenario"), col("n"),
        round(exp(col("y")), 6).as("rs_mean"))
      .join(fit, Seq("scenario"))
      .orderBy("scenario", "n")
  }

  /** MM-JPG-COLOR — REAL baseline COLOR JPEG decode (3-component YCbCr
    * 4:2:0, the dominant in-the-wild profile; closes the r10 verdict's
    * "missing #2" color gap over the Huffman/IDCT machinery already
    * built for q234): deterministic DC-only color JPEGs per doc_id
    * ([[graft.multimodal.Binary.synthColorJpeg]] — two quant tables,
    * two Huffman table PAIRS so table selection is exercised, MCU-
    * interleaved scan with three independent DC difference chains),
    * fully decoded back — marker walk, SOF0 sampling validation, MCU
    * entropy decode, dequant, exact integer path for flat blocks — and
    * reduced to per-plane integer sums. One wrong bit in ANY of the
    * three chains corrupts every later block of that component and
    * flips that plane's sum; the oracle recomputes all three planes
    * from the closed-form clamp(dc·2+128) block values. stubDecode's
    * boundary shrinks to progressive JPEG / FLAC / MP4 frames.
    */
  private[graft] def qColorJpeg(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Binary
    doc(s, dir).where(col("doc_id") < 60).select(col("doc_id"))
      .withColumn("jpg", Binary.synthColorJpegCol(col("doc_id")))
      .select(col("doc_id"), Binary.jpegColorStatsCol(col("jpg")).as("st"))
      .select(col("doc_id"),
        col("st._1").cast("long").as("width"),
        col("st._2").cast("long").as("height"),
        col("st._3").as("sum_y"),
        col("st._4").as("sum_cb"),
        col("st._5").as("sum_cr"))
      .orderBy("doc_id")
  }

  /** ST-E2E — the streaming surface's oracle-checked BATCH TWIN
    * (r10 verdict item 7): sessionize → daily session-length
    * distribution → PSI drift alert, the exact composition the
    * incremental path runs as streamingSessionize → streamingPsi with
    * a fitPsiBaseline literal. Conventions are the streaming ops' own:
    * 30-min gap on micro timestamps, fixed bin edges as x.5 literals
    * (integer session lengths can never sit ON an edge), baseline
    * proportions frozen from the first 15 days and carried as driver
    * literals (the PsiBaseline shape), per-bin eps=1e-6 smoothing on
    * BOTH sides, psi summed in fixed bin order 0..3 (the oracle chains
    * the same left-associated expression), alert at psi > 0.2 on the
    * ROUNDED value. StreamingSpec/StreamParity pin stream == batch per
    * stage on the same slice; this row documents end-to-end what the
    * stream computes, inside the hard correctness gate.
    */
  private[graft] def qStreamPipelineTwin(s: SparkSession, dir: String): DataFrame = {
    val gapUs = 30L * 60 * 1000 * 1000
    val eps = 1e-6
    val base = ev(s, dir).withColumn("ts_us", expr("ts div 1000"))
    val sess = Caches.keep("entry.q322",
      graft.seq.Sessionizer.sessionStats(base, Seq("user_id"),
          col("ts_us"), Seq(col("event_id")), gapUs, col("value"))
        .select(col("n_events"),
          expr("CAST(start_ts AS BIGINT) div 86400000000").as("day")))
    val edges = Seq(1.5, 3.5, 6.5)
    val binned = sess.withColumn("bin",
      graft.drift.Drift.binIndex(col("n_events").cast("double"), edges))
    val minDay = sess.agg(min("day")).head().getLong(0)
    // frozen baseline: first 15 days' bin proportions, eps-smoothed —
    // collected to ≤4 rows and carried as literals, the PsiBaseline
    // contract streamingPsi consumes
    val baseRows = binned.where(col("day") < minDay + 15)
      .groupBy("bin").agg(count(lit(1)).as("nb")).collect()
    val baseTot = baseRows.map(_.getLong(1)).sum.toDouble
    val pb = Array.tabulate(4) { bI =>
      val nb = baseRows.find(_.getInt(0) == bI).map(_.getLong(1)).getOrElse(0L)
      math.max(nb.toDouble / baseTot, eps)
    }
    val dayAgg = binned.groupBy("day").agg(
      count(lit(1)).as("n_sessions"),
      count(when(col("bin") === 0, 1)).as("c0"),
      count(when(col("bin") === 1, 1)).as("c1"),
      count(when(col("bin") === 2, 1)).as("c2"),
      count(when(col("bin") === 3, 1)).as("c3"))
    def term(bI: Int): Column = {
      val pc = greatest(col(s"c$bI").cast("double") /
        col("n_sessions").cast("double"), lit(eps))
      (pc - lit(pb(bI))) * log(pc / lit(pb(bI)))
    }
    dayAgg
      .withColumn("psi", round((0 to 3).map(term).reduce(_ + _), 6))
      .select(col("day"), col("n_sessions"), col("psi"),
        (col("psi") > lit(0.2)).as("alert"))
      .orderBy("day")
  }

  /** MM-JPGP — REAL progressive JPEG entropy decode (DC-exact
    * profile, r11 brief item 8): deterministic DC-only grayscale
    * PROGRESSIVE JPEGs are built per doc_id by
    * [[graft.multimodal.Binary.synthJpegProg]] — the libjpeg six-scan
    * script (spectral selection + successive approximation), so every
    * DC value arrives over THREE scans (high bits diff-chained at
    * Al=1, the low bit in the refinement scan) and the four AC scans
    * cover every block through EOBn run coding — then fully decoded
    * back by [[graft.multimodal.Binary.jpegDecodeProgressive]] (multi-
    * scan marker walk, per-scan dispatch, G.1.2.3 refinement) and
    * reduced to luma statistics. The closed form is the same
    * clamp(dc·2+128) as q234, so the oracle is IDENTICAL SQL — the
    * Spark side must reconstruct the same image through a completely
    * different coding; one wrong bit in any of the six scans breaks
    * sum_px. The general-coefficient progressive paths (band
    * placement, ZRL-in-refinement, correction bits) are pinned by the
    * MultimodalSpec baseline-equality round-trip, which no oracle can
    * see (float IDCT).
    */
  private[graft] def qJpegProgressive(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Binary
    doc(s, dir).where(col("doc_id") < 60).select(col("doc_id"))
      .withColumn("jpg", Binary.synthJpegProgCol(col("doc_id")))
      .select(col("doc_id"), Binary.jpegProgLumaStatsCol(col("jpg")).as("st"))
      .select(col("doc_id"),
        col("st._1").as("n_px"),
        col("st._2").as("sum_px"),
        round(col("st._3"), 6).as("mean_px"),
        round(col("st._4"), 6).as("std_px"))
      .orderBy("doc_id")
  }

  /** MM-JPGR — baseline JPEG with RESTART MARKERS (DRI/RSTn), the
    * error-resilience machinery real crawl JPEGs carry (cameras and
    * encoders emit DRI so a corrupted byte loses one restart segment,
    * not the image): deterministic DC-only JPEGs per doc_id are coded
    * with DRI = doc_id%3+1 blocks
    * ([[graft.multimodal.Binary.synthJpegRst]]) — RST0..RST7 cycle
    * through the scan, each segment byte-aligns and restarts the DC
    * diff chain from zero — and decoded by the extended
    * [[graft.multimodal.Binary.jpegDecode]] (sequence-number
    * validation, segment-count check, per-segment predictor reset).
    * Same clamp(dc·2+128) closed form as q234, so the oracle is
    * identical SQL over a third coding; a missed reset shifts whole
    * segments and breaks sum_px.
    */
  private[graft] def qJpegRestart(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Binary
    doc(s, dir).where(col("doc_id") < 60).select(col("doc_id"))
      .withColumn("jpg", Binary.synthJpegRstCol(col("doc_id")))
      .select(col("doc_id"), Binary.jpegLumaStatsCol(col("jpg")).as("st"))
      .select(col("doc_id"),
        col("st._1").as("n_px"),
        col("st._2").as("sum_px"),
        round(col("st._3"), 6).as("mean_px"),
        round(col("st._4"), 6).as("std_px"))
      .orderBy("doc_id")
  }

  /** MM-FLAC — REAL compressed-audio entropy decode
    * ([[graft.multimodal.Binary.flacDecode]], r12: Rice-coded
    * residuals over fixed/LPC integer predictors, CRC-8/CRC-16
    * framing, stereo decorrelation — FLAC is the one mainstream
    * compressed audio format that is pure integer math, so the sample
    * path is dependency-free the way the JPEG family is).
    * Deterministic CONSTANT-subframe fixtures per doc_id
    * ([[graft.multimodal.Binary.synthFlac]]): (id%3+1) frames of 192
    * samples, block j holding (id·31+j·17) mod 1000 − 500 — every
    * decoded sample is a closed form, and the Spark side must walk
    * real frames (sync codes, UTF-8 frame numbers, both CRCs) to
    * reach them; a single bad bit fails a CRC and nulls the row. The
    * general paths (FIXED/LPC predictors, Rice escape, wasted bits,
    * stereo modes) are pinned by MultimodalSpec exact round-trips,
    * which no SQL oracle can replay.
    */
  private[graft] def qFlacDecode(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Binary
    doc(s, dir).where(col("doc_id") < 60).select(col("doc_id"))
      .withColumn("fl", Binary.synthFlacCol(col("doc_id")))
      .select(col("doc_id"), Binary.flacSampleStatsCol(col("fl")).as("st"))
      .select(col("doc_id"),
        col("st._1").as("n_samples"),
        col("st._2").as("sum_samples"),
        round(col("st._3"), 6).as("mean_s"),
        round(col("st._4"), 6).as("std_s"))
      .orderBy("doc_id")
  }

  /** S10 — WARC/WET ingestion round-trip
    * ([[graft.sources.Warc]], r12): documents are packed into
    * spec-shaped WET files — a warcinfo record plus one conversion
    * record per document, EACH record an independently-gzipped member
    * (the Common Crawl layout) — then read back through the full
    * ingestion path: multi-member gunzip, strict WARC 1.0 record walk
    * (version line, headers, Content-Length-framed payload that may
    * itself contain CRLF, terminating CRLFCRLF), conversion-record
    * explode. The oracle recomputes per-bucket record counts, decoded
    * character sums, and the polynomial content hash of every decoded
    * text from the RAW documents table — so any byte lost or mangled
    * anywhere in gzip framing, record framing, or UTF-8 round-trip
    * breaks sum_hash. Scale shape: `collect_list` groups are bounded
    * by construction (doc_id < 240 over 24 buckets ⇒ ≤ 10 docs/WET);
    * at corpus scale the same pipeline runs with bounded WET shard
    * sizes, parse stays per-row map work, records explode to rows.
    */
  private[graft] def qWarcIngest(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Warc
    val d = par(doc(s, dir)).where(col("doc_id") < 240)
      .select(col("doc_id"), col("text"),
        (col("doc_id") % lit(24L)).as("bucket"))
    val wet = d.groupBy("bucket").agg(
        sort_array(collect_list(struct(
          concat(lit("urn:graft:doc:"), col("doc_id")).as("uri"),
          col("text").as("text")))).as("docs"))
      .select(col("bucket"), Warc.buildWetCol(col("docs")).as("wet"))
    val parsed = wet.select(col("bucket"),
        explode(Warc.parseWetCol(col("wet"))).as("r"))
      .select(col("bucket"), col("r._2").as("rtext"))
    parsed.groupBy("bucket").agg(
        count(lit(1)).as("n_records"),
        sum(length(col("rtext"))).cast("long").as("sum_chars"),
        sum(graft.text.TextOps.strHash(col("rtext"))).cast("long")
          .as("sum_hash"))
      .orderBy("bucket")
  }

  /** D22 — CRAWL-TO-CORPUS CAPSTONE: the end-to-end path a 100 TB
    * pretraining corpus actually takes, as ONE oracle-checked
    * composition over this round's and prior rounds' operators —
    * documents packed into WET shards and read back through the REAL
    * ingestion boundary ([[graft.sources.Warc]]: multi-member gunzip +
    * strict WARC walk; source and doc id recovered from the
    * WARC-Target-URI, text from the payload), then quality filtering
    * (token count in [5, 2000], integer-exact distinct-token ratio ≥
    * 0.30 — the C4-style rule shape), exact content dedup (polynomial
    * text hash, keep-first by doc id), and q223's token-budget greedy
    * selection (density-packed integer sort key, running totals via
    * the two-phase [[graft.core.PrefixScan]], budget = 25% of
    * surviving tokens). Output is the per-source FUNNEL — parsed /
    * quality-kept / unique / selected counts + selected tokens — so a
    * regression anywhere in five stages (ingestion bytes, filter
    * arithmetic, hash, dedup rule, budget scan) breaks a row. The
    * oracle replays every stage from the raw documents table in SQL.
    * Scale shape: WET groups bounded by construction (96 buckets over
    * doc_id < 960); the hash-dedup join and budget scan are the
    * q23/q223 shapes already pinned scale-safe.
    */
  private[graft] def qCrawlCapstone(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Warc
    import graft.text.TextOps
    val d0 = par(doc(s, dir)).where(col("doc_id") < 960)
      .select(col("doc_id"), col("source"), col("text"),
        (col("doc_id") % lit(96L)).as("bucket"))
    // 1. ingestion boundary: pack to WET shards, read back
    val wet = d0.groupBy("bucket").agg(
        sort_array(collect_list(struct(
          concat(lit("urn:graft:"), col("source"), lit(":"),
            col("doc_id")).as("uri"),
          col("text").as("text")))).as("docs"))
      .select(Warc.buildWetCol(col("docs")).as("wet"))
    val parsed = wet.select(explode(Warc.parseWetCol(col("wet"))).as("r"))
      .select(split(col("r._1"), ":").getItem(2).as("source"),
        split(col("r._1"), ":").getItem(3).cast("long").as("doc_id"),
        col("r._2").as("text"))
    // 2. quality rules (integer-exact, SQL-mirrorable)
    val toks = TextOps.tokens(col("text"))
    val scored = Caches.keep("entry.q327", parsed
      .withColumn("n_tok", size(toks).cast("long"))
      .withColumn("u", size(array_distinct(toks)).cast("long"))
      // division-free ratio rule (u/n_tok >= 0.30): n_tok = 0 rows must
      // yield FALSE, not a null/err from the division, on BOTH engines
      .withColumn("quality", col("n_tok") >= 5 && col("n_tok") <= 2000 &&
        col("u") * lit(1000000L) >= col("n_tok") * lit(300000L))
      .withColumn("h", TextOps.strHash(col("text"))))
    // 3. exact content dedup among quality survivors: keep-first by id
    val firstIds = scored.where(col("quality"))
      .groupBy("h").agg(min("doc_id").as("first_id"))
    // persisted: flagged feeds the budget scalar, the prefix scan AND
    // the per-source funnel — three separate actions that otherwise
    // each re-run the dedup join over the scored cache (r16)
    val flagged = Caches.keep("entry.q327", scored
      .join(firstIds, scored("h") === firstIds("h"), "left")
      .drop(firstIds("h"))
      .withColumn("kept", col("quality") && col("doc_id") === col("first_id")))
    // 4. token-budget greedy selection over the kept set (q223 machinery)
    val kept = flagged.where(col("kept"))
      .withColumn("key",
        (lit(1000000L) - expr("u * 1000000 div n_tok")) * lit(8589934592L) +
          col("doc_id"))
    val budget = kept.agg(coalesce(sum("n_tok"), lit(0L))).head().getLong(0) / 4
    val (scanned, _) = graft.core.PrefixScan.build(
      kept.select("source", "doc_id", "n_tok", "key"),
      "key", Seq("n_tok"), "entry.q327")
    val selected = scanned
      .where(col("cum_n_tok_below") + col("n_tok") <= budget)
      .groupBy("source").agg(count(lit(1)).as("n_selected"),
        sum("n_tok").as("tokens_selected"))
    // 5. per-source funnel
    flagged.groupBy("source").agg(
        count(lit(1)).as("n_parsed"),
        count(when(col("quality"), 1)).as("n_quality"),
        count(when(col("kept"), 1)).as("n_unique"))
      .join(selected, Seq("source"), "left")
      .na.fill(0L, Seq("n_selected", "tokens_selected"))
      .orderBy("source")
  }

  /** MM-MP3 — MP3 metadata via the full frame-header walk
    * ([[graft.multimodal.Binary.parseMp3Meta]] through
    * [[graft.multimodal.Binary.parseAudioMeta]]): the most common
    * crawl audio format has no self-describing container, so
    * rate/channels/duration require validating EVERY frame header in
    * the chain (sync bits, bitrate/rate table lookups, padding-aware
    * frame length) and counting frames — a single malformed header
    * nulls the row. Fixtures are closed forms of doc_id (bitrate index
    * id%5+9, rate {44100,48000,32000}[id%3], id%10+1 frames, mono iff
    * even), so the oracle recomputes every column with the same
    * integer arithmetic, including the 144000·br/sr frame-length and
    * samples·1000/rate duration divisions. Sample decode (IMDCT +
    * synthesis filterbank) stays documented-out as codec-library
    * territory.
    */
  private[graft] def qMp3Meta(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Binary
    doc(s, dir).where(col("doc_id") < 120).select(col("doc_id"))
      .withColumn("au", Binary.synthMp3Col(col("doc_id")))
      .select(col("doc_id"), Binary.audioMetaCol(col("au")).as("m"))
      .select(col("doc_id"), col("m.format").as("format"),
        col("m.sample_rate").cast("long").as("sample_rate"),
        col("m.channels").cast("long").as("channels"),
        col("m.n_frames").as("n_samples"),
        col("m.duration_ms").as("duration_ms"))
      .orderBy("doc_id")
  }

  /** S11 — raw-crawl `response` ingestion with splittable member
    * offsets ([[graft.sources.Warc.parseCrawl]], r13): documents are
    * packed into MIXED WARC shards — warcinfo + alternating `response`
    * captures (full HTTP/1.1 blocks: status line, Content-Type with
    * charset, Content-Length-framed body) and WET `conversion` records,
    * each record its own gzip member — then read back through the
    * response-aware path: the manual RFC 1952 member walk (header
    * flags, CRC32, ISIZE verified per member), the strict WARC record
    * walk, and the HTTP parse with charset-aware body decode. Ingest
    * policy mirrors a crawl pipeline: conversions and 2xx responses
    * are kept; 404 captures (whose bodies are error junk, not the
    * document) are dropped. The oracle recomputes every count and the
    * polynomial content hash of the KEPT texts from the raw documents
    * table — a byte lost in gzip framing, HTTP framing, or charset
    * decode breaks sum_hash; keeping a 404 breaks sum_chars.
    * `offsets_ok` pins the split-index property the 100 TB reader
    * needs: per-record member offsets strictly positive (warcinfo owns
    * offset 0), one member per record, and the last member tiling
    * exactly to the file end — Spark-checked structurally, oracle
    * expects TRUE. Scale shape (r16: the battery is the WHOLE corpus,
    * not a fixed 480-doc slice, so the measured bench time scales with
    * the table — the ingest-layer throughput number is real): docs
    * shard into 48 WET files, so shard size grows with the corpus
    * exactly as real crawl shards do; `collect_list` groups stay
    * file-sized (~100 docs at sf0.1); parse is per-row map work,
    * records explode to rows.
    */
  /** The (bucket, wrc) crawl shards qWarcResponses parses — factored
    * out so the parse-bytes probe ([[SparkEntry.parseBytes]]) measures
    * the exact byte volume the query's parse stage consumes.
    */
  private[graft] def warcShards(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Warc
    val d = par(doc(s, dir))
      .select(col("doc_id"), col("text"),
        (col("doc_id") % lit(48L)).as("bucket"),
        when(col("doc_id") % 2 === 0, lit("response"))
          .otherwise(lit("conversion")).as("rec_type"),
        when(col("doc_id") % 10 === 4, lit(404)).otherwise(lit(200))
          .as("status"),
        when(col("doc_id") % 3 === 0, lit("text/html"))
          .otherwise(lit("text/plain")).as("ctype"))
      // a 404 capture carries an error page, not the document
      .withColumn("body", when(col("rec_type") === "response" &&
        col("status") === 404, lit("gone")).otherwise(col("text")))
    d.groupBy("bucket").agg(
        sort_array(collect_list(struct(
          concat(lit("urn:graft:doc:"), col("doc_id")).as("uri"),
          col("body").as("text"), col("rec_type").as("rec_type"),
          col("status").as("status"), col("ctype").as("ctype")))).as("docs"))
      .select(col("bucket"), Warc.buildCrawlCol(col("docs")).as("wrc"))
  }
  private[graft] def qWarcResponses(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Warc
    val shards = warcShards(s, dir)
    val parsed = shards.select(col("bucket"),
        length(col("wrc")).cast("long").as("file_len"),
        explode(Warc.parseCrawlCol(col("wrc"))).as("r"))
    val keep = col("r._1") === "conversion" ||
      (col("r._3") >= 200 && col("r._3") <= 299)
    parsed.groupBy("bucket").agg(
        count(lit(1)).as("n_records"),
        count(when(col("r._1") === "response", 1)).as("n_response"),
        count(when(col("r._3") === 404, 1)).as("n_404"),
        count(when(keep, 1)).as("n_kept"),
        sum(when(keep, length(col("r._5")).cast("long"))
          .otherwise(lit(0L))).cast("long").as("sum_chars"),
        sum(when(keep, graft.text.TextOps.strHash(col("r._5")))
          .otherwise(lit(0L))).cast("long").as("sum_hash"),
        countDistinct(col("r._6")).as("__n_members"),
        min(col("r._6")).as("__min_off"),
        max(col("r._6") + col("r._7")).as("__max_end"),
        max(col("file_len")).as("__flen"))
      .select(col("bucket"), col("n_records"), col("n_response"),
        col("n_404"), col("n_kept"), col("sum_chars"), col("sum_hash"),
        (col("__n_members") === col("n_records") && col("__min_off") > 0 &&
          col("__max_end") === col("__flen")).as("offsets_ok"))
      .orderBy("bucket")
  }

  /** Parse-input byte probes for the ingest-throughput rows (r16): for
    * each corpus-proportional parser query, the total bytes its parse
    * stage consumes at `dir`'s scale — WARC shard files for q329, the
    * per-doc synthetic containers for the rest. [[graft.Bench]] runs
    * these once (untimed) and divides the measured min wall time into
    * them to emit `parse_mb_s`, the number a 100 TB crawl budget needs.
    */
  private[graft] def warcParseBytes(s: SparkSession, dir: String): Long =
    warcShards(s, dir)
      .agg(sum(octet_length(col("wrc")).cast("long")))
      .collect()(0).getLong(0)
  private def synthBytes(synth: Column => Column)(
      s: SparkSession, dir: String): Long =
    par(doc(s, dir))
      .select(length(synth(col("doc_id"))).cast("long").as("b"))
      .agg(sum(col("b"))).collect()(0).getLong(0)
  private[graft] def pdfParseBytes(s: SparkSession, dir: String): Long =
    synthBytes(graft.multimodal.Pdf.synthPdfCol)(s, dir)
  private[graft] def zipParseBytes(s: SparkSession, dir: String): Long =
    synthBytes(graft.sources.Archives.synthZipCol)(s, dir)
  private[graft] def xlsxParseBytes(s: SparkSession, dir: String): Long =
    synthBytes(graft.sources.Office.synthXlsxCol)(s, dir)
  private[graft] def avroParseBytes(s: SparkSession, dir: String): Long =
    synthBytes(graft.sources.Avro.synthAvroCol)(s, dir)

  /** MM-WEBP — WebP metadata via the RIFF + stream-header walk
    * ([[graft.multimodal.Binary.parseWebpMeta]]): the most common
    * crawl image format after JPEG/PNG, in all three spec stream
    * forms — `VP8 ` lossy (frame tag + start code + 14-bit dims),
    * `VP8L` lossless (signature + bit-packed dims/alpha/version),
    * `VP8X` extended (feature flags + 24-bit canvas dims). Fixtures
    * are closed forms of doc_id (variant id%3, dims id%1920+1 ×
    * id%1080+1, alpha iff even for the forms that carry it), so the
    * oracle recomputes every column with the same integer arithmetic;
    * the Spark side must walk real RIFF framing (size-tiles-file
    * check, start codes, version bits) to recover them. VP8L pixel
    * decode is REAL ([[graft.multimodal.Vp8l]], q333); VP8 lossy DCT
    * decode stays documented-out as codec-library territory
    * ([[graft.multimodal.Binary.stubDecode]]).
    */
  private[graft] def qWebpMeta(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Binary
    doc(s, dir).where(col("doc_id") < 120).select(col("doc_id"))
      .withColumn("wp", Binary.synthWebpCol(col("doc_id")))
      .select(col("doc_id"), Binary.webpMetaCol(col("wp")).as("m"))
      .select(col("doc_id"), col("m.variant").as("variant"),
        col("m.width").cast("long").as("width"),
        col("m.height").cast("long").as("height"),
        col("m.has_alpha").as("has_alpha"))
      .orderBy("doc_id")
  }

  /** MM-OPUS — Opus-in-Ogg metadata via the full page walk
    * ([[graft.multimodal.Binary.parseOggOpusMeta]] through
    * [[graft.multimodal.Binary.parseAudioMeta]]): closes the audio
    * container family (WAV/FLAC/MP3 already oracle-gated). Every
    * field requires REAL framing work — page capture patterns,
    * segment-lacing payload lengths, Ogg's own non-zlib CRC on every
    * page, the RFC 7845 OpusHead (channels, pre-skip, informational
    * input rate), and the duration from the EOS page's 48 kHz granule
    * minus pre-skip. Fixtures are closed forms of doc_id (channels
    * id%2+1, rate {48000,44100,16000}[id%3], (id%10+1)·960 samples ⇒
    * exactly (id%10+1)·20 ms), so the oracle recomputes every column;
    * a single flipped bit anywhere fails a page CRC and nulls the
    * row. Sample decode (SILK/CELT) stays documented-out as
    * codec-library territory.
    */
  private[graft] def qOpusMeta(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Binary
    doc(s, dir).where(col("doc_id") < 120).select(col("doc_id"))
      .withColumn("au", Binary.synthOggOpusCol(col("doc_id")))
      .select(col("doc_id"), Binary.audioMetaCol(col("au")).as("m"))
      .select(col("doc_id"), col("m.format").as("format"),
        col("m.sample_rate").cast("long").as("sample_rate"),
        col("m.channels").cast("long").as("channels"),
        col("m.n_frames").as("n_samples_48k"),
        col("m.duration_ms").as("duration_ms"))
      .orderBy("doc_id")
  }

  /** ST-NDUP — the streaming near-dup alert path's oracle-checked
    * BATCH TWIN (the second streaming foothold in the hard gate
    * beside q322's sessionize→PSI): what
    * [[graft.streaming.StreamOps.streamingNearDupAlerts]] emits —
    * per LSH bucket, the first-seen id alerts every later arrival —
    * restated as batch algebra over the SAME
    * [[graft.dedup.MinHashLSH.bandKeys]] bucket coordinates (per
    * bucket: first = min id, since stream arrivals are id-ordered;
    * alert = every other id), aggregated to distinct (first_id,
    * dup_id) pairs with the number of bands that fired. StreamingSpec
    * pins stream == batch on the alert set; this row pins the batch
    * side to a full SQL re-derivation of shingles → minhash
    * signatures → band keys → bucket-min alerts, so the signature
    * arithmetic itself sits inside CORRECTNESS. Corpus is documents
    * plus exact clones of every 10th doc under shifted ids — the
    * known-dup injection q23 uses. Scale shape: equi-join of the band
    * table against its grouped bucket-min (the candidate-generation
    * join), strings never shuffle.
    */
  private[graft] def qStreamNearDupTwin(s: SparkSession, dir: String): DataFrame = {
    val d = doc(s, dir).select(col("doc_id"), col("text"))
    val base = d.unionByName(d.where(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 10000L).as("doc_id"), col("text")))
    val bands = Caches.keep("entry.q332",
      graft.dedup.MinHashLSH.bandKeys(base, "doc_id", "text",
          n = 3, k = 16, bands = 4))
    val firsts = bands.groupBy("band_idx", "band_key")
      .agg(min("id").as("first_id"))
    bands.join(firsts, Seq("band_idx", "band_key"))
      .where(col("id") =!= col("first_id"))
      .groupBy(col("first_id"), col("id").as("dup_id"))
      .agg(count(lit(1)).as("n_bands"))
      .orderBy("first_id", "dup_id")
  }

  /** MM-VP8L — REAL WebP lossless pixel decode
    * ([[graft.multimodal.Vp8l]], r13): the last major crawl image
    * format without a pixel path (PNG/GIF/JPEG all have real codecs).
    * Fixtures are 5-color closed-form palette images per doc_id,
    * encoded through the full VP8L machinery with the coding path
    * CYCLING by id — subtract-green transform iff even, color cache
    * iff id%3=0 — and decoded back through canonical Huffman groups
    * (simple + full forms, repeat-coded lengths), LZ77 copies with
    * plane-coded distances, and the multiplicative color cache; the
    * per-channel sums only match if every pixel survives whichever
    * coding path its id took. The oracle replays the palette closed
    * form over an (x, y) grid. PREDICTOR/COLOR/COLOR_INDEXING
    * transforms stay documented-out (recursive sub-resolution images —
    * codec-library territory; the decoder rejects them, never junk).
    */
  private[graft] def qVp8lDecode(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Vp8l
    doc(s, dir).where(col("doc_id") < 90).select(col("doc_id"))
      .withColumn("wp", Vp8l.synthVp8lCol(col("doc_id")))
      .select(col("doc_id"), Vp8l.statsCol(col("wp")).as("st"))
      .select(col("doc_id"),
        col("st._1").cast("long").as("width"),
        col("st._2").cast("long").as("height"),
        col("st._3").as("sum_r"),
        col("st._4").as("sum_g"),
        col("st._5").as("sum_b"))
      .orderBy("doc_id")
  }

  /** The q334/q335 URL fixture: per doc_id < 600, a raw crawl URL
    * whose rule family cycles by (doc_id div 2) % 6 and whose messy
    * variant (doc_id odd) differs from the clean one (even) only by
    * things canonicalization must erase — scheme/host case, default
    * ports, dot-segments, tracking params, param order, fragments —
    * so every odd/even pair MUST collapse to one canonical URL. */
  private def urlFixture(s: SparkSession, dir: String): DataFrame = {
    val d = doc(s, dir).where(col("doc_id") < 600)
      .select(col("doc_id"),
        expr("(doc_id div 2) % 6").as("fam"),
        (col("doc_id") % 2).as("v"),
        expr("(doc_id div 2) % 50").cast("string").as("n"))
    val raw =
      when(col("fam") === 0 && col("v") === 0,
        concat(lit("http://site"), col("n"), lit(".com/a/c")))
      .when(col("fam") === 0,
        concat(lit("HTTP://SITE"), col("n"), lit(".COM:80/a/b/../c#frag")))
      .when(col("fam") === 1 && col("v") === 0,
        concat(lit("http://site"), col("n"), lit(".com/p?b=2&a=1")))
      .when(col("fam") === 1,
        concat(lit("http://site"), col("n"),
          lit(".com/p?utm_source=news&b=2&gclid=XYZ&a=1")))
      .when(col("fam") === 2 && col("v") === 0,
        concat(lit("http://shop"), col("n"), lit(".co.uk")))
      .when(col("fam") === 2,
        concat(lit("http://shop"), col("n"), lit(".CO.UK:80/x/..")))
      .when(col("fam") === 3 && col("v") === 0,
        concat(lit("https://site"), col("n"), lit(".com/s")))
      .when(col("fam") === 3,
        concat(lit("HTTPS://site"), col("n"), lit(".com:443/s?fbclid=abc")))
      .when(col("fam") === 4 && col("v") === 0,
        concat(lit("http://a.b.site"), col("n"), lit(".com/d")))
      .when(col("fam") === 4,
        concat(lit("http://A.B.site"), col("n"), lit(".com:80/./d")))
      .when(col("fam") === 5 && col("v") === 0,
        concat(lit("http://site"), col("n"), lit(".com:8080/e?x=1")))
      .otherwise(
        concat(lit("http://SITE"), col("n"),
          lit(".com:8080/f/../e?utm_medium=m&x=1")))
    d.select(col("doc_id"), raw.as("raw"))
  }

  /** TX-URL — URL canonicalization ([[graft.text.Urls]], r13): the
    * crawl-index stage BEFORE any text loads — canonical-URL dedup and
    * registrable-domain aggregation are how a CC-index sweep decides
    * what to fetch. Each fixture row is a raw URL whose messy variant
    * carries exactly the junk the canonicalizer must erase
    * (case, :80/:443, dot-segments, utm_-prefixed and gclid/fbclid
    * tracking params, param order,
    * fragments); the oracle states the expected canonical / host /
    * eTLD+1 / surviving-param-count as closed forms of doc_id, so any
    * rule the parser misapplies breaks a visible string. Per-row map
    * work; embarrassingly parallel at crawl scale.
    */
  private[graft] def qUrlCanonical(s: SparkSession, dir: String): DataFrame = {
    import graft.text.Urls
    urlFixture(s, dir)
      .select(col("doc_id"), Urls.partsCol(col("raw")).as("p"))
      .select(col("doc_id"), col("p._1").as("canonical"),
        col("p._2").as("host"), col("p._3").as("registrable"),
        col("p._4").cast("long").as("n_params"))
      .orderBy("doc_id")
  }

  /** TX-URL-AGG — canonical-URL dedup + registrable-domain rollup over
    * the q334 fixture, THROUGH the real parser: every odd/even raw
    * pair must collapse to one canonical (n_canonical is exactly half
    * n_urls per domain unless two rule families share a canonical —
    * the oracle recomputes the truth from the closed forms), and
    * subdomain hosts roll up to their eTLD+1. The group-by shape is
    * the per-domain cap/prior aggregation a corpus build runs at
    * index scale.
    */
  private[graft] def qDomainStats(s: SparkSession, dir: String): DataFrame = {
    import graft.text.Urls
    urlFixture(s, dir)
      .select(Urls.partsCol(col("raw")).as("p"))
      .select(col("p._1").as("canonical"), col("p._2").as("host"),
        col("p._3").as("registrable"))
      .groupBy("registrable")
      .agg(count(lit(1)).as("n_urls"),
        countDistinct("host").as("n_hosts"),
        countDistinct("canonical").as("n_canonical"))
      .orderBy("registrable")
  }

  /** TX-HTML — HTML → text extraction ([[graft.text.Html]], r13): the
    * WET-conversion step between a crawl `response` body (q329) and
    * corpus text. Each fixture family plants one extraction hazard —
    * nested inline tags that must NOT break the line, script/style
    * content that must vanish, comments, named + decimal + hex
    * character references, block-tag line structure — and the oracle
    * states the exact expected text as a closed form of doc_id, so a
    * single leaked tag, swallowed character, or misplaced line break
    * diverges a visible string. Per-row map work at any scale.
    */
  private[graft] def qHtmlExtract(s: SparkSession, dir: String): DataFrame = {
    import graft.text.Html
    val d = doc(s, dir).where(col("doc_id") < 300)
      .select(col("doc_id"), (col("doc_id") % 5).as("fam"),
        col("doc_id").cast("string").as("n"))
    val html =
      when(col("fam") === 0,
        concat(lit("<p>alpha "), col("n"), lit("</p><p>beta</p>")))
      .when(col("fam") === 1,
        concat(lit("<div>x"), col("n"), lit("<span> y</span>z</div><br>w")))
      .when(col("fam") === 2,
        concat(lit("<script>var a=1;</script><b>bold "), col("n"),
          lit("</b>&amp;&lt;tag&gt;")))
      .when(col("fam") === 3,
        concat(lit("<!-- note --><ul><li>a</li><li>b "), col("n"),
          lit("</li></ul>")))
      .otherwise(
        concat(lit("<h1>T&#65;"), col("n"),
          lit("</h1><style>p{color:red}</style><p>&quot;q&quot;&#x41;</p>")))
    d.select(col("doc_id"), Html.htmlToTextCol(html).as("text_out"))
      .select(col("doc_id"), col("text_out"),
        (size(split(col("text_out"), "\n")).cast("long")).as("n_lines"),
        length(col("text_out")).cast("long").as("n_chars"))
      .orderBy("doc_id")
  }

  /** TX-ROBOTS — robots.txt policy evaluation ([[graft.text.Robots]],
    * RFC 9309): the crawl-policy gate between q334's canonical URL
    * frontier and the fetcher. The fixture robots.txt carries a `*`
    * group (prefix disallow, a MORE SPECIFIC allow that must win by
    * length, a `*`-wildcard `$`-anchored pattern, a crawl delay) and a
    * `graftbot` group; each path family exercises one decision rule,
    * and the oracle states every verdict for BOTH agents as closed
    * forms — including that the specific-agent group SUPPRESSES the
    * `*` group entirely (allowed_bot is true on /private/ paths) and
    * that crawl-delay resolution follows the matched group (-1 for the
    * bot's group, which declares none).
    */
  private[graft] def qRobots(s: SparkSession, dir: String): DataFrame = {
    import graft.text.Robots
    val d = doc(s, dir).where(col("doc_id") < 300)
      .select(col("doc_id"), (col("doc_id") % 6).as("fam"),
        (col("doc_id") % 7).cast("string").as("cd"))
    val robots = concat(
      lit("User-agent: *\nDisallow: /private/\nAllow: /private/public/\n" +
        "Disallow: /*.pdf$\nCrawl-delay: "), col("cd"),
      lit("\n\nUser-agent: graftbot\nDisallow: /bot-only/\n"))
    val path =
      when(col("fam") === 0, lit("/a"))
      .when(col("fam") === 1, lit("/private/x"))
      .when(col("fam") === 2, lit("/private/public/y"))
      .when(col("fam") === 3, lit("/doc.pdf"))
      .when(col("fam") === 4, lit("/bot-only/z"))
      .otherwise(lit("/files/report.pdf"))
    d.select(col("doc_id"), path.as("path"),
        Robots.isAllowedCol(robots, lit("googlebot"), path)
          .as("allowed_star"),
        Robots.isAllowedCol(robots, lit("graftbot"), path)
          .as("allowed_bot"),
        Robots.crawlDelayCol(robots, lit("googlebot")).cast("long")
          .as("delay_star"),
        Robots.crawlDelayCol(robots, lit("graftbot")).cast("long")
          .as("delay_bot"))
      .orderBy("doc_id")
  }

  /** D23 — FRONTIER-TO-TEXT CAPSTONE: the index-side half of the
    * corpus pipeline, composed end-to-end over this round's operators
    * the way q327 composed the ingest-side half — raw crawl URLs
    * through the REAL canonicalizer ([[graft.text.Urls]]; messy
    * variants must collapse onto their clean twins), canonical-URL
    * keep-first dedup (the CC-index rule: fetch each canonical once),
    * the RFC 9309 robots gate ([[graft.text.Robots]]; the policy
    * blocks two path families), and HTML → text extraction
    * ([[graft.text.Html]]) with the polynomial content hash over the
    * extracted text. Output is the per-registrable-domain FUNNEL
    * (frontier / unique / allowed counts + extracted chars + text
    * hash), so a regression in any of four stages — a canonicalization
    * rule, the dedup keep rule, a robots verdict, a leaked tag or
    * swallowed entity — breaks a visible column. The oracle replays
    * every stage from doc_id closed forms (min-per-canonical via a
    * window, robots verdicts as family CASEs, extracted text as
    * literal strings). The fetch boundary between the two halves is
    * q329's oracle-pinned WARC response path. Scale shape: equi-join
    * of the frontier against its per-canonical min (the q23 dedup
    * shape); everything else per-row map work.
    */
  private[graft] def qFrontierCapstone(s: SparkSession, dir: String): DataFrame = {
    import graft.text.{Html, Robots, TextOps, Urls}
    val parts = Caches.keep("entry.q338", urlFixture(s, dir)
      .select(col("doc_id"), Urls.partsCol(col("raw")).as("p"))
      .select(col("doc_id"), col("p._1").as("canonical"),
        col("p._3").as("registrable"), col("p._5").as("path")))
    val firsts = parts.groupBy("canonical").agg(min("doc_id").as("first_id"))
    val flagged = parts.join(firsts, Seq("canonical"))
      .withColumn("kept", col("doc_id") === col("first_id"))
      .withColumn("allowed", Robots.isAllowedCol(
        lit("User-agent: *\nDisallow: /p\nDisallow: /d\n"),
        lit("graftbot"), col("path")))
    val html =
      when(col("doc_id") % 5 === 0,
        concat(lit("<p>alpha "), col("doc_id"), lit("</p><p>beta</p>")))
      .when(col("doc_id") % 5 === 1,
        concat(lit("<div>x"), col("doc_id"),
          lit("<span> y</span>z</div><br>w")))
      .when(col("doc_id") % 5 === 2,
        concat(lit("<script>var a=1;</script><b>bold "), col("doc_id"),
          lit("</b>&amp;&lt;tag&gt;")))
      .when(col("doc_id") % 5 === 3,
        concat(lit("<!-- note --><ul><li>a</li><li>b "), col("doc_id"),
          lit("</li></ul>")))
      .otherwise(
        concat(lit("<h1>T&#65;"), col("doc_id"),
          lit("</h1><style>p{color:red}</style><p>&quot;q&quot;&#x41;</p>")))
    val fetch = col("kept") && col("allowed")
    flagged.withColumn("text", when(fetch, Html.htmlToTextCol(html)))
      .groupBy("registrable")
      .agg(count(lit(1)).as("n_frontier"),
        count(when(col("kept"), 1)).as("n_unique"),
        count(when(fetch, 1)).as("n_allowed"),
        sum(when(fetch, length(col("text")).cast("long")).otherwise(lit(0L)))
          .cast("long").as("sum_chars"),
        sum(when(fetch, TextOps.strHash(col("text"))).otherwise(lit(0L)))
          .cast("long").as("sum_hash"))
      .orderBy("registrable")
  }

  /** TX-LINK — link extraction + RFC 3986 reference resolution
    * ([[graft.text.Html.extractLinks]] + [[graft.text.Urls.resolve]]):
    * the crawl-GRAPH edge source — every page's href values resolved
    * against its base URL into canonical absolute targets, which is
    * what the frontier enqueues and what PageRank/HITS (q148/q293)
    * consume as edges. One fixture page per doc carries every
    * reference form — absolute external, network-path (`//host`,
    * inherits scheme), absolute-path, relative with `..` merge,
    * relative subdirectory, query-only — plus the two NON-edges
    * (fragment-only = same document, mailto: = non-fetchable scheme;
    * both must resolve to null, not junk), and a script-built link
    * that must NOT be extracted. The oracle states every resolved
    * target as a closed form of doc_id in document order. Per-row
    * map work + posexplode.
    */
  private[graft] def qLinkExtract(s: SparkSession, dir: String): DataFrame = {
    import graft.text.{Html, Urls}
    val d = doc(s, dir).where(col("doc_id") < 300)
      .select(col("doc_id"), (col("doc_id") % 40).cast("string").as("n"))
    val base = concat(lit("http://site"), col("n"), lit(".com/dir/page.html"))
    val html = concat(
      lit("<p>intro</p><a href=\"http://ext"), col("n"),
      lit(".org/x\">e</a><a href='//cdn"), col("n"),
      lit(".net/lib.js'>c</a><a href=/top>t</a>" +
        "<a href=\"../up/a.html\">u</a>" +
        "<script>var a='<a href=\"/junk\">x</a>';</script>" +
        "<a href=\"sub/b.html\">s</a><a href=\"?q=1\">q</a>" +
        "<a href=\"#frag\">f</a><a href=\"mailto:x@y.z\">m</a>"))
    d.select(col("doc_id"), base.as("base"),
        posexplode(Html.linksCol(html)))
      .select(col("doc_id"), col("pos").cast("long").as("link_idx"),
        Urls.resolveCol(col("base"), col("col")).as("target"))
      .orderBy("doc_id", "link_idx")
  }

  /** TX-SITEMAP — sitemap XML parsing ([[graft.text.Sitemap]]): the
    * frontier's third leg (robots.txt `Sitemap:` lines point here) —
    * both document kinds in one fixture battery: even docs carry a
    * `<urlset>` whose three entries exercise entity-escaped locs
    * (`&amp;` is REQUIRED escaping in sitemap URLs), a CDATA loc, an
    * explicit priority pair and the spec's 0.5 default; odd docs carry
    * a `<sitemapindex>` of gzipped shard pointers with everything
    * optional omitted. Every field is a closed form of doc_id the
    * oracle states directly. Per-row map work + posexplode.
    */
  private[graft] def qSitemap(s: SparkSession, dir: String): DataFrame = {
    import graft.text.Sitemap
    val d = doc(s, dir).where(col("doc_id") < 240)
      .select(col("doc_id"), (col("doc_id") % 30).cast("string").as("n"))
    def urlEntry(j: Int): org.apache.spark.sql.Column = {
      val loc =
        if (j == 1) concat(lit("<loc><![CDATA[http://site"), col("n"),
          lit(s".com/p$j?a=1&b=$j]]></loc>"))
        else concat(lit("<loc>http://site"), col("n"),
          lit(s".com/p$j?a=1&amp;b=$j</loc>"))
      val pri = if (j == 0) "<priority>0.9</priority>"
        else if (j == 1) "<priority>0.3</priority>" else ""
      concat(lit("<url>"), loc,
        lit(s"<lastmod>2026-0${j + 1}-15</lastmod>$pri</url>"))
    }
    val urlset = concat(
      lit("<?xml version=\"1.0\"?>" +
        "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">"),
      urlEntry(0), urlEntry(1), urlEntry(2), lit("</urlset>"))
    val index = concat(
      lit("<sitemapindex><sitemap><loc>http://site"), col("n"),
      lit(".com/sm0.xml.gz</loc></sitemap><sitemap><loc>http://site"),
      col("n"), lit(".com/sm1.xml.gz</loc></sitemap></sitemapindex>"))
    val xml = when(col("doc_id") % 2 === 0, urlset).otherwise(index)
    d.select(col("doc_id"), posexplode(Sitemap.entriesCol(xml)))
      .select(col("doc_id"), col("pos").cast("long").as("idx"),
        col("col._1").as("kind"), col("col._2").as("loc"),
        col("col._3").as("lastmod"), col("col._4").as("priority"))
      .orderBy("doc_id", "idx")
  }

  /** IDX-FEED — RSS 2.0 / Atom feed parsing
    * ([[graft.text.Feeds.parse]]): the fresh-content frontier leg
    * beside sitemaps (q340) — feeds announce new URLs before sitemaps
    * or links carry them. Even docs are a 3-item RSS channel (CDATA
    * and entity-escaped titles both decoding to the same closed form,
    * a guid on item 0 with the default-to-link convention on the
    * rest); odd docs a 2-entry Atom feed whose entries each carry a
    * rel="self" link that MUST be skipped in favor of the
    * rel="alternate"/rel-absent content link, with entity-escaped
    * hrefs and the id-defaults-to-link convention on entry 1. Every
    * column is a closed form of doc_id, so the oracle recomputes the
    * full normalized entry table — rel selection, CDATA/entity
    * decoding, and both default rules all sit inside the hash.
    */
  private[graft] def qFeedParse(s: SparkSession, dir: String): DataFrame = {
    import graft.text.Feeds
    val d = doc(s, dir).where(col("doc_id") < 240)
      .select(col("doc_id"), (col("doc_id") % 30).cast("string").as("n"))
    def rssItem(j: Int): org.apache.spark.sql.Column = {
      val title = if (j == 1) s"<title><![CDATA[A & B $j]]></title>"
        else s"<title>A &amp; B $j</title>"
      val guid = if (j == 0)
        concat(lit("<guid isPermaLink=\"false\">tag:site"), col("n"),
          lit(",p0</guid>"))
      else lit("")
      concat(lit(s"<item>$title<link>http://site"), col("n"),
        lit(s".com/post$j</link><pubDate>0${j + 1} Jun 2026</pubDate>"),
        guid, lit("</item>"))
    }
    val rss = concat(
      lit("<?xml version=\"1.0\"?><rss version=\"2.0\"><channel>" +
        "<title>Site News</title><link>http://x/</link>"),
      rssItem(0), rssItem(1), rssItem(2), lit("</channel></rss>"))
    def atomEntry(j: Int): org.apache.spark.sql.Column = {
      val id = if (j == 0) concat(lit("<id>urn:b"), col("n"),
        lit(":e0</id>")) else lit("")
      concat(lit(s"<entry><title>Entry $j</title>" +
          "<link rel=\"self\" href=\"http://blog"), col("n"),
        lit(s".example/e$j.atom\"/><link rel=\"alternate\" href=\"http://blog"),
        col("n"), lit(s".example/e$j?a=1&amp;b=$j\"/>" +
          s"<updated>2026-07-0${j + 1}T00:00:00Z</updated>"),
        id, lit("</entry>"))
    }
    val atom = concat(
      lit("<feed xmlns=\"http://www.w3.org/2005/Atom\"><title>Blog</title>" +
        "<link rel=\"self\" href=\"http://x/feed\"/>"),
      atomEntry(0), atomEntry(1), lit("</feed>"))
    val xml = when(col("doc_id") % 2 === 0, rss).otherwise(atom)
    d.select(col("doc_id"), posexplode(Feeds.entriesCol(xml)))
      .select(col("doc_id"), col("pos").cast("long").as("idx"),
        col("col._1").as("kind"), col("col._2").as("feed_title"),
        col("col._3").as("title"), col("col._4").as("link"),
        col("col._5").as("pub_date"), col("col._6").as("entry_id"))
      .orderBy("doc_id", "idx")
  }

  /** MM-PDF — PDF text extraction ([[graft.multimodal.Pdf.parse]]):
    * the second-biggest crawl document format after HTML, previously
    * absent. REAL work on every row: a COS object scan (repair-mode
    * `N G obj` walk, no xref), trailer→Catalog→Pages-tree→Contents
    * resolution, direct AND indirect `/Length`, zlib `/FlateDecode`
    * through JDK Inflater on variant 1, and content-stream text ops
    * (Tj, TJ arrays with kerning drops, quote show-ops, Td/T* line
    * breaks, paren-escape and hex-string decoding). Fixtures cycle
    * four variants of doc_id with a second page every third doc, so
    * the extracted text, page count and version are closed forms the
    * oracle fully recomputes — a flipped byte anywhere (header,
    * stream framing, zlib, escapes) changes the hash. r16: the battery
    * is the WHOLE documents table (corpus-proportional, repartitioned
    * across cores) so the bench row measures real parse throughput.
    */
  private[graft] def qPdfText(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Pdf
    par(doc(s, dir)).select(col("doc_id"))
      .withColumn("p", Pdf.pdfCol(Pdf.synthPdfCol(col("doc_id"))))
      .select(col("doc_id"), col("p.version").as("version"),
        col("p.n_pages").cast("long").as("n_pages"),
        col("p.text").as("text"),
        col("p.encrypted").as("encrypted")) // plain corpus: pinned FALSE
      .orderBy("doc_id")
  }

  /** MM-EML — RFC 5322/MIME email ([[graft.sources.Mail.parseEml]],
    * r15): the mail-archive ingest surface — header unfolding (the
    * folded To), RFC 2047 B- and Q-encoded Subjects (including the
    * adjacent-words whitespace-transparency rule), nested
    * mixed[alternative[...]] multipart splitting, quoted-printable
    * with soft line breaks, base64 parts, HTML parts through the
    * text extractor, attachments counted not decoded. Fixture cycles
    * the three shapes by id%3; closed forms throughout. Per-row map
    * work.
    */
  private[graft] def qEmlParse(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Mail
    doc(s, dir).where(col("doc_id") < 240).select(col("doc_id"))
      .withColumn("m", Mail.emlCol(Mail.synthEmlCol(col("doc_id"))))
      .select(col("doc_id"),
        col("m.from").as("from_addr"), col("m.to").as("to_addr"),
        col("m.subject").as("subject"),
        col("m.n_parts").cast("long").as("n_parts"),
        col("m.n_attachments").cast("long").as("n_attachments"),
        col("m.text").as("text"))
      .orderBy("doc_id")
  }

  /** MM-ODT — OpenDocument Text ([[graft.sources.Docs.odtText]],
    * r15): content.xml paragraphs/headings with spans transparent,
    * tab/line-break/explicit-space elements rendered, meta.xml
    * dc:title. Closed forms; per-row map work.
    */
  private[graft] def qOdtText(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Docs
    doc(s, dir).where(col("doc_id") < 240).select(col("doc_id"))
      .withColumn("m", Docs.odtTextCol(Docs.synthOdtCol(col("doc_id"))))
      .select(col("doc_id"),
        col("m._1").cast("long").as("n_paragraphs"),
        col("m._2").as("title"), col("m._3").as("text"))
      .orderBy("doc_id")
  }

  /** MM-RTF — RTF plain text ([[graft.text.Rtf.rtfText]], r15): the
    * legacy rich-text format — group-stack walk with destination
    * skipping (fonttbl + the `\*` ignorable form), `\'hh` and `\uN`
    * escapes (with the `\uc` fallback-skip rule), escaped braces,
    * `\par`/`\tab` rendering. Closed forms; per-row map work.
    */
  private[graft] def qRtfText(s: SparkSession, dir: String): DataFrame = {
    import graft.text.Rtf
    doc(s, dir).where(col("doc_id") < 240).select(col("doc_id"))
      .withColumn("t", Rtf.rtfTextCol(Rtf.synthRtfCol(col("doc_id"))))
      .select(col("doc_id"), col("t").as("text"),
        length(col("t")).cast("long").as("n_chars"))
      .orderBy("doc_id")
  }

  /** MM-FONT — TTF/OTF metadata ([[graft.multimodal.Font.parseFont]],
    * r15): the sfnt table-directory walk to head (unitsPerEm + magic
    * gate), maxp (glyph count), and the name table's family/subfamily
    * — with the Windows-over-Mac record preference the fixture's
    * decoy Mac record pins. Checksums ignored by design (wild fonts
    * carry stale ones). Closed forms; per-row map work.
    */
  private[graft] def qFontMeta(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Font
    doc(s, dir).where(col("doc_id") < 240).select(col("doc_id"))
      .withColumn("m", Font.fontMetaCol(Font.synthFontCol(col("doc_id"))))
      .select(col("doc_id"), col("m.format").as("format"),
        col("m.n_tables").cast("long").as("n_tables"),
        col("m.family").as("family"),
        col("m.subfamily").as("subfamily"),
        col("m.n_glyphs").cast("long").as("n_glyphs"),
        col("m.units_per_em").cast("long").as("units_per_em"))
      .orderBy("doc_id")
  }

  /** SRC-AVRO — Avro OCF ingest ([[graft.sources.Avro.parseAvro]],
    * r15): the row-format data-lake sibling of Parquet — metadata map
    * (schema + codec), sync-marker-gated blocks, null AND deflate
    * codecs, and real record decode (zigzag varints, length-prefixed
    * strings, LE doubles, booleans) against the flat schema. Records
    * explode to rows; every field a closed form. Per-row map work +
    * the explode.
    */
  private[graft] def qAvroIngest(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Avro
    par(doc(s, dir)).select(col("doc_id"))
      .withColumn("a", Avro.avroCol(Avro.synthAvroCol(col("doc_id"))))
      .select(col("doc_id"), col("a._1").as("codec"),
        col("a._2").cast("long").as("n_blocks"),
        posexplode(col("a._3")))
      .select(col("doc_id"), col("codec"), col("n_blocks"),
        col("pos").cast("long").as("rec_idx"),
        col("col")("name").as("name"),
        col("col")("n").cast("long").as("n"),
        col("col")("score").cast("double").as("score"),
        col("col")("ok").cast("boolean").as("ok"))
      .orderBy("doc_id", "rec_idx")
  }

  /** TXT-ICS — iCalendar events ([[graft.text.Calendar.parseIcs]],
    * r15): RFC 5545 content-line unfolding (continuation drops ONE
    * char, unlike mail), quoted-param ':' trap, text escapes,
    * VALARM exclusion, and UTC basic-format date-times through plain
    * Gregorian arithmetic. Events explode; closed forms.
    */
  private[graft] def qIcsEvents(s: SparkSession, dir: String): DataFrame = {
    import graft.text.{Calendar => Cal}
    doc(s, dir).where(col("doc_id") < 240).select(col("doc_id"))
      .select(col("doc_id"),
        posexplode(Cal.icsEventsCol(Cal.synthIcsCol(col("doc_id")))))
      .select(col("doc_id"), col("pos").cast("long").as("ev_idx"),
        col("col.summary").as("summary"),
        col("col.location").as("location"),
        col("col.start").as("start_ts"),
        col("col.duration_min").as("duration_min"))
      .orderBy("doc_id", "ev_idx")
  }

  /** SRC-PROTO — schema-less protobuf census ([[graft.sources.Proto
    * .census]], r15): the wire-format triage walk over an unknown
    * binary column — tag/wire-type validation, per-type counts, the
    * one-level nested-message probe, varint sums. Closed forms;
    * per-row map work.
    */
  private[graft] def qProtoCensus(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Proto
    doc(s, dir).where(col("doc_id") < 240).select(col("doc_id"))
      .withColumn("c", Proto.censusCol(Proto.synthProtoCol(col("doc_id"))))
      .select(col("doc_id"),
        col("c.n_fields").cast("long").as("n_fields"),
        col("c.n_varint").cast("long").as("n_varint"),
        col("c.n_fixed64").cast("long").as("n_fixed64"),
        col("c.n_len").cast("long").as("n_len"),
        col("c.n_fixed32").cast("long").as("n_fixed32"),
        col("c.n_nested").cast("long").as("n_nested"),
        col("c.max_field").cast("long").as("max_field"),
        col("c.varint_sum").as("varint_sum"),
        col("c.len_bytes").as("len_bytes"))
      .orderBy("doc_id")
  }

  /** SRC-SQLITE — database-file catalog ([[graft.sources.Sqlite
    * .parseSqlite]], r15): the 100-byte header plus a REAL page-1
    * b-tree leaf walk of sqlite_master — SQLite varints, record
    * serial types, the (type,name,tbl_name,rootpage,sql) catalog
    * columns, with index rows filtered out by the type column.
    * Tables explode; closed forms. Per-row map work.
    */
  private[graft] def qSqliteMaster(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Sqlite
    doc(s, dir).where(col("doc_id") < 240).select(col("doc_id"))
      .withColumn("m",
        Sqlite.sqliteMetaCol(Sqlite.synthSqliteCol(col("doc_id"))))
      .select(col("doc_id"),
        col("m.page_size").cast("long").as("page_size"),
        col("m.n_pages").as("n_pages"),
        col("m.encoding").as("encoding"),
        posexplode(col("m.tables")))
      .select(col("doc_id"), col("page_size"), col("n_pages"),
        col("encoding"), col("pos").cast("long").as("tbl_idx"),
        col("col.name").as("name"),
        col("col.rootpage").as("rootpage"),
        col("col.sql").as("sql"))
      .orderBy("doc_id", "tbl_idx")
  }

  /** SRC-FRAMES — zstd/LZ4/XZ frame-header metadata
    * ([[graft.sources.Frames.parseFrame]], r15): the archive-layer
    * triage pass — format, claimed content size (all four zstd FCS
    * widths incl. the 2-byte +256 bias), window size, checksum kind,
    * block independence — without decompressing (entropy decode stays
    * behind the documented codec-table boundary). Closed forms;
    * per-row map work.
    */
  private[graft] def qFrameMeta(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Frames
    doc(s, dir).where(col("doc_id") < 240).select(col("doc_id"))
      .withColumn("m",
        Frames.frameMetaCol(Frames.synthFrameCol(col("doc_id"))))
      .select(col("doc_id"), col("m.format").as("format"),
        col("m.content_size").as("content_size"),
        col("m.window_size").as("window_size"),
        col("m.checksum").as("checksum"),
        col("m.block_independent").as("block_independent"))
      .orderBy("doc_id")
  }

  /** SRC-MBOX — mailing-list archives ([[graft.sources.Mail
    * .mboxMessages]], r15): `From ` envelope splitting (never the
    * `From:` header), the mboxrd `>From` unquote (pinned by the text
    * column of the spliced first message), each message through the
    * full MIME parse. Messages explode; closed forms.
    */
  private[graft] def qMboxParse(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Mail
    doc(s, dir).where(col("doc_id") < 240).select(col("doc_id"))
      .select(col("doc_id"),
        posexplode(Mail.mboxCol(Mail.synthMboxCol(col("doc_id")))))
      .select(col("doc_id"), col("pos").cast("long").as("msg_idx"),
        col("col.from").as("from_addr"),
        col("col.subject").as("subject"),
        col("col.n_parts").cast("long").as("n_parts"),
        col("col.n_attachments").cast("long").as("n_attachments"),
        col("col.text").as("text"))
      .orderBy("doc_id", "msg_idx")
  }

  /** MM-WOFF — WOFF1 web fonts ([[graft.multimodal.Font.parseWoff]],
    * r15): the zlib-wrapped sfnt delivery — 44-byte header, per-table
    * directory with mixed stored/compressed entries, reconstruction
    * into the q380 sfnt parser (one parser, both deliveries; WOFF2 =
    * Brotli = the codec-table boundary). Same closed forms as q380.
    */
  private[graft] def qWoffMeta(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Font
    doc(s, dir).where(col("doc_id") < 240).select(col("doc_id"))
      .withColumn("m", Font.woffMetaCol(Font.synthWoffCol(col("doc_id"))))
      .select(col("doc_id"), col("m.format").as("format"),
        col("m.n_tables").cast("long").as("n_tables"),
        col("m.family").as("family"),
        col("m.subfamily").as("subfamily"),
        col("m.n_glyphs").cast("long").as("n_glyphs"),
        col("m.units_per_em").cast("long").as("units_per_em"))
      .orderBy("doc_id")
  }

  /** TXT-VCF — vCard contacts ([[graft.text.Calendar.parseVcards]],
    * r15): shares the RFC 5545 content-line machinery with iCalendar
    * — folding, quoted-param ':' trap, escaped `\;` in ORG, N's
    * unescaped-semicolon split, first-occurrence-wins per property.
    * Cards explode; closed forms.
    */
  private[graft] def qVcards(s: SparkSession, dir: String): DataFrame = {
    import graft.text.{Calendar => Cal}
    doc(s, dir).where(col("doc_id") < 240).select(col("doc_id"))
      .select(col("doc_id"),
        posexplode(Cal.vcardsCol(Cal.synthVcfCol(col("doc_id")))))
      .select(col("doc_id"), col("pos").cast("long").as("card_idx"),
        col("col.family").as("family"), col("col.given").as("given"),
        col("col.fn").as("fn"), col("col.email").as("email"),
        col("col.tel").as("tel"), col("col.org").as("org"))
      .orderBy("doc_id", "card_idx")
  }

  /** SRC-GIT — git loose objects ([[graft.sources.Git.parseLoose]],
    * r15): the code-crawl object store — zlib envelope with the
    * declared-size gate, blob line counts, commit tree/parents/author
    * line (epoch from the trailing timestamp pair) / first message
    * line, tree mode-name-sha entries. The oracle REBUILDS the commit
    * content string to pin its size. Closed forms; per-row map work.
    */
  private[graft] def qGitObjects(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Git
    doc(s, dir).where(col("doc_id") < 240).select(col("doc_id"))
      .withColumn("g", Git.looseCol(Git.synthLooseCol(col("doc_id"))))
      .select(col("doc_id"), col("g.obj_type").as("obj_type"),
        col("g.size").as("size"),
        col("g.n_lines").cast("long").as("n_lines"),
        col("g.tree_sha").as("tree_sha"),
        col("g.n_parents").cast("long").as("n_parents"),
        col("g.author").as("author"),
        col("g.author_epoch").as("author_epoch"),
        col("g.message").as("message"),
        col("g.n_entries").cast("long").as("n_entries"),
        col("g.listing").as("listing"))
      .orderBy("doc_id")
  }

  /** SRC-PCAP — capture census ([[graft.sources.Pcap.census]], r15):
    * magic-probed endianness AND timestamp resolution (µs/ns), the
    * snaplen/incl_len crafted-capture gate, Ethernet ethertype +
    * IPv4 protocol mix, span from reconstructed millis. Closed
    * forms; per-row map work.
    */
  private[graft] def qPcapCensus(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Pcap
    doc(s, dir).where(col("doc_id") < 240).select(col("doc_id"))
      .withColumn("c", Pcap.censusCol(Pcap.synthPcapCol(col("doc_id"))))
      .select(col("doc_id"), col("c.endian").as("endian"),
        col("c.resolution").as("resolution"),
        col("c.link_type").cast("long").as("link_type"),
        col("c.n_packets").cast("long").as("n_packets"),
        col("c.total_bytes").as("total_bytes"),
        col("c.n_ipv4").cast("long").as("n_ipv4"),
        col("c.n_tcp").cast("long").as("n_tcp"),
        col("c.n_udp").cast("long").as("n_udp"),
        col("c.n_arp").cast("long").as("n_arp"),
        col("c.n_other").cast("long").as("n_other"),
        col("c.span_ms").as("span_ms"))
      .orderBy("doc_id")
  }

  /** TXT-PO — gettext catalogs ([[graft.text.Gettext.poStats]],
    * r15): the parallel-text channel in every localized repo —
    * continuation-line strings, C escapes, the header entry excluded,
    * fuzzy entries not counted as translations, plural forms with
    * msgstr[0] standing in. Closed forms; per-row map work.
    */
  private[graft] def qPoStats(s: SparkSession, dir: String): DataFrame = {
    import graft.text.Gettext
    doc(s, dir).where(col("doc_id") < 240).select(col("doc_id"))
      .withColumn("p", Gettext.poStatsCol(Gettext.synthPoCol(col("doc_id"))))
      .select(col("doc_id"),
        col("p.n_entries").cast("long").as("n_entries"),
        col("p.n_translated").cast("long").as("n_translated"),
        col("p.n_fuzzy").cast("long").as("n_fuzzy"),
        col("p.n_plural").cast("long").as("n_plural"),
        col("p.first_id").as("first_id"),
        col("p.first_str").as("first_str"))
      .orderBy("doc_id")
  }

  /** MM-PDF-ENC — the `/Encrypt` gate ([[graft.multimodal.Pdf
    * .synthEncryptedPdf]], r15): every 3rd doc is an encrypted stub
    * (Standard security handler in the trailer, ciphertext-junk
    * content stream) that must surface the typed flag with ZERO pages
    * and EMPTY text — the parser never decrypts and never lets
    * ciphertext reach the text path as mojibake; the rest are plain
    * [[graft.multimodal.Pdf.synthPdf]] docs pinned unencrypted.
    * Per-row map work.
    */
  private[graft] def qPdfEncrypt(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Pdf
    doc(s, dir).where(col("doc_id") < 240).select(col("doc_id"))
      .withColumn("b", when(col("doc_id") % 3 === 0,
        Pdf.synthEncryptedPdfCol(col("doc_id")))
        .otherwise(Pdf.synthPdfCol(col("doc_id"))))
      .withColumn("p", Pdf.pdfCol(col("b")))
      .select(col("doc_id"), col("p.version").as("version"),
        col("p.n_pages").cast("long").as("n_pages"),
        (col("p.text") === "").as("text_empty"),
        col("p.encrypted").as("encrypted"))
      .orderBy("doc_id")
  }

  /** MM-AVIF — AVIF metadata ([[graft.multimodal.Binary.parseAvifMeta]]):
    * AV1-in-HEIF, the modern crawl image format beside WebP (q330),
    * previously absent. Real ISO-BMFF work per row: the box walk into
    * the `meta` FullBox's `iprp`/`ipco` property container for `ispe`
    * (spatial extents), `pixi` (bit depth) and the alpha-plane `auxC`
    * URN, with the avif/avis brand gate. All five columns are closed
    * forms of doc_id the oracle recomputes; AV1 sample decode stays
    * documented-out with MP4 frames.
    */
  private[graft] def qAvifMeta(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Binary
    doc(s, dir).where(col("doc_id") < 120).select(col("doc_id"))
      .withColumn("av", Binary.synthAvifCol(col("doc_id")))
      .select(col("doc_id"), Binary.avifMetaCol(col("av")).as("m"))
      .select(col("doc_id"), col("m.brand").as("brand"),
        col("m.width").cast("long").as("width"),
        col("m.height").cast("long").as("height"),
        col("m.bit_depth").cast("long").as("bit_depth"),
        col("m.has_alpha").as("has_alpha"))
      .orderBy("doc_id")
  }

  /** CODE-1 — code-corpus per-file analysis ([[graft.text.Code]]):
    * language ID (extension + shebang), license detection (SPDX tag
    * beats phrase fingerprints), generated-file banners, and the
    * Stack-style quality stats + keep rule. Six fixture families
    * (python shebang script, javascript, SPDX'd rust, Apache-phrase
    * java, protoc-generated go, minified js) with a single-digit
    * payload so content varies per doc while every stat stays a
    * closed form; the oracle REPLAYS the stats from the same content
    * strings (string_split line algebra, regexp alpha count,
    * comment-prefix line filter) rather than asserting constants.
    */
  private[graft] def qCodeCorpus(s: SparkSession, dir: String): DataFrame = {
    import graft.text.Code
    val d = doc(s, dir).where(col("doc_id") < 300)
      .select(col("doc_id"), (col("doc_id") % 6).as("f"),
        (col("doc_id") % 10).cast("string").as("dg"))
    val content = when(col("f") === 0, concat(
        lit("#!/usr/bin/env python\n# comment "), col("dg"),
        lit("\nx = "), col("dg"), lit("\n\nprint(x)")))
      .when(col("f") === 1, concat(
        lit("// header "), col("dg"), lit("\nconst x = "), col("dg"),
        lit(";\nconsole.log(x);")))
      .when(col("f") === 2, concat(
        lit("// SPDX-License-Identifier: MIT\nfn main() { let x = "),
        col("dg"), lit("; }")))
      .when(col("f") === 3, concat(
        lit("/* Licensed under the Apache License, Version 2.0 */\n" +
          "class Main { int x = "), col("dg"), lit("; }")))
      .when(col("f") === 4, concat(
        lit("// Code generated by protoc. DO NOT EDIT.\npackage p\nvar x = "),
        col("dg")))
      // f5: minified js — one 1040-char line, 130 repeats of a unit
      .otherwise(concat_ws("", array_repeat(
        concat(lit("var a="), col("dg"), lit(";")), 130)))
    val path = when(col("f") === 0, lit("scripts/run"))
      .when(col("f") === 1, lit("src/app.js"))
      .when(col("f") === 2, lit("src/lib.rs"))
      .when(col("f") === 3, lit("Main.java"))
      .when(col("f") === 4, lit("gen.go"))
      .otherwise(lit("m.min.js"))
    d.withColumn("content", content)
      .withColumn("a", Code.analyzeCol(path, col("content")))
      .select(col("doc_id"), col("a._1").as("lang"),
        col("a._2").as("license"), col("a._3").as("autogen"),
        col("a._4").cast("long").as("n_lines"),
        col("a._5").cast("long").as("max_line"),
        round(col("a._6"), 6).as("mean_line"),
        round(col("a._7"), 6).as("alpha_frac"),
        round(col("a._8"), 6).as("comment_frac"),
        col("a._9").as("keep"))
      .orderBy("doc_id")
  }

  /** CODE-2 — Markdown → text ([[graft.text.Markdown.mdToText]]):
    * README/doc extraction for the code corpus, the markup mirror of
    * q336's HTML extraction. Three fixture families exercise
    * headings + emphasis + links + list markers, fenced code kept
    * VERBATIM (code is signal — emphasis inside a fence must
    * survive), and rules/setext/blockquote handling with blank-line
    * collapse. Expected text is a closed form of doc_id.
    */
  private[graft] def qMarkdownText(s: SparkSession, dir: String): DataFrame = {
    import graft.text.Markdown
    val d = doc(s, dir).where(col("doc_id") < 240)
      .select(col("doc_id"), (col("doc_id") % 3).as("g"),
        (col("doc_id") % 10).cast("string").as("dg"))
    val md = when(col("g") === 0, concat(
        lit("# Title "), col("dg"),
        lit("\n\nBody **bold "), col("dg"), lit("** and [link "),
        col("dg"), lit("](http://u/x).\n\n- item one "), col("dg"),
        lit("\n- item two "), col("dg")))
      .when(col("g") === 1, concat(
        lit("Intro "), col("dg"),
        lit("\n\n```js\nvar x = "), col("dg"),
        lit("; // *keep*\n```\n\n> quote "), col("dg")))
      .otherwise(concat(
        lit("## Sub *em "), col("dg"),
        lit("*\n\n---\n\nText `code "), col("dg"), lit("` end")))
    d.select(col("doc_id"), Markdown.mdToTextCol(md).as("text"))
      .orderBy("doc_id")
  }

  /** SRC-ZIP — ZIP ingestion ([[graft.sources.Archives.parseZip]]):
    * the container code corpora arrive in. Real framing per row:
    * EOCD back-scan, central-directory walk (the authoritative member
    * list, local headers trusted only for their own lengths), raw
    * deflate through JDK Inflater, stored members, and per-member
    * CRC-32 verification — a flipped payload byte flips crc_ok, a
    * flipped framing byte nulls the row. Members, methods, sizes and
    * texts are closed forms of doc_id the oracle recomputes. The
    * central directory's (offset, csize) per member is the same
    * split index [[graft.sources.Warc]] exposes — member extraction
    * parallelizes at 100 TB.
    */
  private[graft] def qZipIngest(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Archives
    par(doc(s, dir)).select(col("doc_id"))
      .select(col("doc_id"), posexplode(Archives.zipEntriesCol(
        Archives.synthZipCol(col("doc_id")))))
      .select(col("doc_id"), col("pos").cast("long").as("idx"),
        col("col._1").as("name"), col("col._2").as("method"),
        col("col._3").as("usize"), col("col._4").as("crc_ok"),
        col("col._5").as("text"))
      .orderBy("doc_id", "idx")
  }

  /** SRC-TAR — tar.gz ingestion ([[graft.sources.Archives.parseTarGz]]):
    * gzip inflate then the POSIX ustar walk — octal size fields,
    * header checksums verified with the chksum bytes blanked,
    * dir/file typeflags, block padding. Entry names, sizes, kinds and
    * texts are closed forms of doc_id.
    */
  private[graft] def qTarIngest(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Archives
    doc(s, dir).where(col("doc_id") < 120).select(col("doc_id"))
      .select(col("doc_id"), posexplode(Archives.tarGzEntriesCol(
        Archives.synthTarGzCol(col("doc_id")))))
      .select(col("doc_id"), col("pos").cast("long").as("idx"),
        col("col._1").as("name"), col("col._2").as("size"),
        col("col._3").as("type_flag"), col("col._4").as("text"))
      .orderBy("doc_id", "idx")
  }

  /** CODE-CAP — the code-corpus capstone, third of the composed
    * end-to-end rows (q327 ingest, q338 frontier): ZIP + tar.gz
    * archives per doc → member extraction (CRC/checksum-verified) →
    * per-file analysis ([[graft.text.Code.analyzeCol]]: language,
    * license, generated-banner, quality stats, keep rule) → the
    * per-language corpus rollup a Stack-style pipeline reports
    * (files, keeps, lines, MIT-licensed). Every stage's effect is a
    * closed form of doc_id; the oracle recomposes the rollup from the
    * per-family constants times the doc count. Scale shape: per-row
    * archive parse + explode, then one partial-aggregated groupBy on
    * a 5-value key — no shuffle of member text.
    */
  private[graft] def qCodeCapstone(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Archives
    import graft.text.Code
    val d = doc(s, dir).where(col("doc_id") < 600).select(col("doc_id"))
    val zipM = d.select(col("doc_id"), explode(Archives.zipEntriesCol(
        Archives.synthZipCol(col("doc_id")))).as("e"))
      .select(col("e._1").as("path"), col("e._5").as("text"))
    val tarM = d.select(col("doc_id"), explode(Archives.tarGzEntriesCol(
        Archives.synthTarGzCol(col("doc_id")))).as("e"))
      .where(col("e._3") === "file")
      .select(col("e._1").as("path"), col("e._4").as("text"))
    zipM.unionByName(tarM)
      .withColumn("a", Code.analyzeCol(col("path"), col("text")))
      .select(col("a._1").as("lang"), col("a._2").as("license"),
        col("a._4").as("file_lines"), col("a._9").as("keep"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_files"),
        count(when(col("keep"), 1)).as("n_keep"),
        sum(col("file_lines")).cast("long").as("n_lines"),
        count(when(col("license") === "MIT", 1)).as("n_mit"))
      .orderBy("lang")
  }

  /** DOC-X — DOCX text extraction ([[graft.sources.Docs.docxText]]):
    * OOXML through the engine's own layers — the ZIP central
    * directory (q346) opens the package, then the `word/document.xml`
    * paragraph walk: `<w:t>` runs (entity-decoded, attribute-
    * tolerant), `<w:tab/>`, `<w:br/>`. Paragraph count and extracted
    * text are closed forms of doc_id; CRC verification sits inside
    * the path (a corrupt member nulls the row).
    */
  private[graft] def qDocxText(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Docs
    doc(s, dir).where(col("doc_id") < 240).select(col("doc_id"))
      .withColumn("x", Docs.docxTextCol(Docs.synthDocxCol(col("doc_id"))))
      .select(col("doc_id"),
        col("x._1").cast("long").as("n_paragraphs"),
        col("x._2").as("text"))
      .orderBy("doc_id")
  }

  /** DOC-EPUB — EPUB text extraction ([[graft.sources.Docs.epubText]]):
    * OCF container → `container.xml` rootfile attr → OPF manifest
    * (id→href) → spine order → XHTML chapters through the SAME
    * [[graft.text.Html]] extractor q336 gates. The fixture's OPF
    * lists a stylesheet the spine must not pull in, so manifest-vs-
    * spine discipline is inside the hash along with chapter order.
    */
  private[graft] def qEpubText(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Docs
    doc(s, dir).where(col("doc_id") < 240).select(col("doc_id"))
      .withColumn("x", Docs.epubTextCol(Docs.synthEpubCol(col("doc_id"))))
      .select(col("doc_id"),
        col("x._1").cast("long").as("n_chapters"),
        col("x._2").as("text"))
      .orderBy("doc_id")
  }

  /** MM-LEGACY — BMP/ICO/TIFF metadata
    * ([[graft.multimodal.Binary.parseBmpMeta]]/[[graft.multimodal.Binary.parseIcoMeta]]/
    * [[graft.multimodal.Binary.parseTiffMeta]]): the legacy raster
    * long tail (scans, favicons, uploads). BMP alternates top-down
    * negative heights (magnitude must surface), TIFF alternates byte
    * order (both II and MM walks inside the hash), ICO exercises the
    * 0-byte-means-256 rule at id%256==255. Dispatched through
    * [[graft.multimodal.Binary.parseImageMeta]], which now covers
    * PNG/JPEG/GIF/WebP/AVIF/BMP/ICO/TIFF.
    */
  private[graft] def qLegacyImageMeta(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Binary
    doc(s, dir).where(col("doc_id") < 300).select(col("doc_id"))
      .withColumn("m", Binary.imageMetaCol(
        Binary.synthLegacyImageCol(col("doc_id"))))
      .select(col("doc_id"), col("m.format").as("format"),
        col("m.width").cast("long").as("width"),
        col("m.height").cast("long").as("height"),
        col("m.bit_depth").cast("long").as("bit_depth"))
      .orderBy("doc_id")
  }

  /** NB-1 — Jupyter notebook extraction: deliberately SPARK-NATIVE —
    * the .ipynb container is JSON, so the parse is codegen'd
    * `from_json` with an explicit cells schema (Functions, not UDFs:
    * the only per-row Scala is the markdown render, reusing
    * [[graft.text.Markdown]] exactly as q345 gates it). Markdown
    * cells render to text, code cells pass through raw — the shape a
    * notebook-corpus pipeline (Stack-style) actually wants. Cell
    * texts are closed forms of doc_id.
    */
  private[graft] def qIpynbCells(s: SparkSession, dir: String): DataFrame = {
    import graft.text.Markdown
    val d = doc(s, dir).where(col("doc_id") < 240)
      .select(col("doc_id"), (col("doc_id") % 10).cast("string").as("dg"))
    val json = concat(
      lit("{\"nbformat\":4,\"cells\":[" +
        "{\"cell_type\":\"markdown\",\"source\":[\"# Note "), col("dg"),
      lit("\\n\",\"Body **"), col("dg"), lit("**\"]}," +
        "{\"cell_type\":\"code\",\"source\":[\"x = "), col("dg"),
      lit("\\n\",\"print(x)\"]}," +
        "{\"cell_type\":\"markdown\",\"source\":[\"End "), col("dg"),
      lit("\"]}]}"))
    val schema = "nbformat INT, cells ARRAY<STRUCT<cell_type: STRING, " +
      "source: ARRAY<STRING>>>"
    d.select(col("doc_id"),
        posexplode(from_json(json, org.apache.spark.sql.types.StructType
          .fromDDL(schema)).getField("cells")))
      .select(col("doc_id"), col("pos").cast("long").as("cell_idx"),
        col("col.cell_type").as("cell_type"),
        concat_ws("", col("col.source")).as("raw"))
      .select(col("doc_id"), col("cell_idx"), col("cell_type"),
        when(col("cell_type") === "markdown",
          Markdown.mdToTextCol(col("raw"))).otherwise(col("raw"))
          .as("text"))
      .orderBy("doc_id", "cell_idx")
  }

  /** NB-2 — dependency-manifest rollup: package.json through
    * codegen'd `from_json` with MAP columns (again no UDF in the
    * parse), runtime + dev dependencies exploded and rolled up to
    * (dep, kind) → uses + distinct version count — the
    * ecosystem-level report a code-corpus data card carries. Version
    * strings vary by doc digit, so n_versions exercises a real
    * distinct aggregation the oracle replays with
    * count(DISTINCT doc_id % 10).
    */
  private[graft] def qDepsRollup(s: SparkSession, dir: String): DataFrame = {
    val d = doc(s, dir).where(col("doc_id") < 600)
      .select(col("doc_id"), (col("doc_id") % 10).cast("string").as("dg"))
    val express = when(col("doc_id") % 2 === 0,
      lit(",\"express\":\"^4.18.0\"")).otherwise(lit(""))
    val json = concat(
      lit("{\"name\":\"pkg-"), col("dg"),
      lit("\",\"dependencies\":{\"react\":\"^18.2.0\",\"lodash\":\"4.17."),
      col("dg"), lit("\""), express,
      lit("},\"devDependencies\":{\"jest\":\"^29."), col("dg"),
      lit(".0\"}}"))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "name STRING, dependencies MAP<STRING,STRING>, " +
        "devDependencies MAP<STRING,STRING>")
    val parsed = d.select(col("doc_id"), from_json(json, schema).as("p"))
    val runtime = parsed.select(explode(col("p.dependencies"))
        .as(Seq("dep", "version"))).withColumn("kind", lit("runtime"))
    val dev = parsed.select(explode(col("p.devDependencies"))
        .as(Seq("dep", "version"))).withColumn("kind", lit("dev"))
    // r16: the same crawl hits Cargo.toml just as often — a REAL TOML
    // parse (graft.text.Toml: tables, strings, comment stripping,
    // duplicate-key rejection) feeds the same (dep, kind) rollup; the
    // [package] table and the comment decoy must NOT surface
    val tomlText = concat(
      lit("# manifest for pkg-"), col("dg"), lit("\n[package]\nname = \"pkg-"),
      col("dg"), lit("\"\nversion = \"1.0."), col("dg"),
      lit("\"\n\n[dependencies]\nserde = \"1.0."), col("dg"),
      lit("\" # decoy = \"9.9.9\"\nrand = \"0.8."), col("dg"), lit("\"\n"),
      when(col("doc_id") % 2 === 0,
        concat(lit("tokio = \"1."), col("dg"), lit("\"\n")))
        .otherwise(lit("")),
      lit("\n[dev-dependencies]\ncriterion = \"0.5."), col("dg"), lit("\"\n"))
    val toml = d.select(col("doc_id"),
        explode(graft.text.Toml.parseTomlCol(tomlText)).as("kv"))
      .where(col("kv.table").isin("dependencies", "dev-dependencies"))
      .select(col("kv.key").as("dep"), col("kv.value").as("version"),
        when(col("kv.table") === "dependencies", lit("runtime"))
          .otherwise(lit("dev")).as("kind"))
    runtime.unionByName(dev).unionByName(toml)
      .groupBy("dep", "kind")
      .agg(count(lit(1)).as("n_uses"),
        countDistinct(col("version")).as("n_versions"))
      .orderBy("dep", "kind")
  }

  /** NB-3 — unified-diff stats ([[graft.text.Diffs.parse]]): patch
    * shape for commit-data corpora — file boundaries (`---`/`+++`
    * with `b/` stripping and the `/dev/null` deletion rule),
    * VALIDATED `@@` hunk headers (a malformed header nulls the row,
    * never junk counts), per-file added/removed tallies. The fixture
    * carries a modification and a deletion per doc, closed forms
    * throughout.
    */
  private[graft] def qDiffStats(s: SparkSession, dir: String): DataFrame = {
    import graft.text.Diffs
    val d = doc(s, dir).where(col("doc_id") < 240)
      .select(col("doc_id"), (col("doc_id") % 10).cast("string").as("dg"))
    val diff = concat(
      lit("--- a/src/app_"), col("dg"), lit(".py\n+++ b/src/app_"),
      col("dg"), lit(".py\n@@ -1,3 +1,4 @@\n ctx\n+new line "),
      col("dg"), lit("\n+another "), col("dg"), lit("\n-old "),
      col("dg"), lit("\n ctx\n--- a/README.md\n+++ /dev/null\n" +
        "@@ -1,2 +0,0 @@\n-gone "), col("dg"), lit("\n-gone2 "),
      col("dg"), lit("\n"))
    d.select(col("doc_id"), posexplode(Diffs.fileDiffsCol(diff)))
      .select(col("doc_id"), col("pos").cast("long").as("idx"),
        col("col._1").as("path"),
        col("col._2").cast("long").as("n_hunks"),
        col("col._3").cast("long").as("n_added"),
        col("col._4").cast("long").as("n_removed"))
      .orderBy("doc_id", "idx")
  }

  /** MM-EXIF — EXIF orientation + capture stamp
    * ([[graft.multimodal.Binary.parseExifMeta]]): what a
    * vision-training pipeline must read before using a crawl image
    * (orientation 1..8 decides the rotation/mirror fix). The APP1
    * marker walk finds the embedded TIFF stream and the IFD0 entry
    * walk reads tag 274 (SHORT inline) and tag 306 (ASCII via
    * bounds-checked offset, NUL dropped). The SAME fixture bytes go
    * through [[graft.multimodal.Binary.parseImageMeta]] for dims —
    * the marker walk must skip APP1 correctly for SOF to resolve, so
    * both parsers sit inside one hash.
    */
  private[graft] def qExifMeta(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Binary
    doc(s, dir).where(col("doc_id") < 240).select(col("doc_id"))
      .withColumn("jp", Binary.synthExifJpegCol(col("doc_id")))
      .select(col("doc_id"), Binary.exifMetaCol(col("jp")).as("e"),
        Binary.imageMetaCol(col("jp")).as("m"))
      .select(col("doc_id"),
        col("e.orientation").cast("long").as("orientation"),
        col("e.datetime").as("datetime"),
        col("m.width").cast("long").as("width"),
        col("m.height").cast("long").as("height"))
      .orderBy("doc_id")
  }

  /** MM-SUB — subtitle parsing ([[graft.text.Subtitles]]): the text
    * half of a video-training pair. Even docs an SRT (comma
    * millis, multi-line cue text, minute-hour carries), odd docs a
    * WebVTT (dot millis, hour field OPTIONAL, a cue identifier line
    * and trailing cue settings that must be tolerated but not
    * surface). Cue indexes, timestamps (exercising the sexagesimal
    * carry math) and texts are closed forms of doc_id.
    */
  private[graft] def qSubtitles(s: SparkSession, dir: String): DataFrame = {
    import graft.text.Subtitles
    val d = doc(s, dir).where(col("doc_id") < 240)
      .select(col("doc_id"), (col("doc_id") % 10).cast("string").as("dg"))
    val srt = concat(
      lit("1\n00:00:01,000 --> 00:00:02,500\nHello "), col("dg"),
      lit("\n\n2\n00:00:03,000 --> 00:00:04,000\nLine one "), col("dg"),
      lit("\nLine two "), col("dg"),
      lit("\n\n3\n00:01:00,000 --> 00:01:30,250\nEnd "), col("dg"))
    val vtt = concat(
      lit("WEBVTT\n\n00:05.000 --> 00:07.100\nIntro "), col("dg"),
      lit("\n\ncue-2\n00:00:10.000 --> 00:00:12.000 align:start\nBody "),
      col("dg"))
    val text = when(col("doc_id") % 2 === 0, srt).otherwise(vtt)
    d.select(col("doc_id"), posexplode(Subtitles.cuesCol(text)))
      .select(col("doc_id"),
        col("col._1").cast("long").as("cue_idx"),
        col("col._2").as("start_ms"), col("col._3").as("end_ms"),
        col("col._4").as("cue_text"))
      .orderBy("doc_id", "cue_idx")
  }

  /** MM-ASS — SubStation Alpha subtitles ([[graft.text.Subtitles
    * .parseAss]], r14): the third caption format (fansub corpora ship
    * it almost exclusively) — Format-line field ordering, Text fields
    * containing commas (field-count-limited split), centisecond
    * timing, `{\\i1}` override-tag stripping, `\\N` line breaks, and
    * Comment: lines skipped. Closed forms throughout.
    */
  private[graft] def qAssSubs(s: SparkSession, dir: String): DataFrame = {
    import graft.text.Subtitles
    val d = doc(s, dir).where(col("doc_id") < 240)
      .select(col("doc_id"), (col("doc_id") % 10).cast("string").as("dg"))
    val ass = concat(
      lit("[Script Info]\nTitle: graft fixture\n" +
        "[V4+ Styles]\nFormat: Name, Fontname\nStyle: Default,Arial\n" +
        "[Events]\nFormat: Layer, Start, End, Style, Name, MarginL, " +
        "MarginR, MarginV, Effect, Text\n" +
        "Dialogue: 0,0:00:01.00,0:00:02.50,Default,,0,0,0,," +
        "{\\i1}Styled{\\i0} hello "), col("dg"),
      lit("\nComment: 0,0:00:02.50,0:00:03.00,Default,,0,0,0,,not a cue\n" +
        "Dialogue: 0,0:01:00.25,0:02:00.00,Default,,0,0,0,,Line one "),
      col("dg"), lit("\\NLine two, with comma "), col("dg"))
    d.select(col("doc_id"), posexplode(Subtitles.cuesCol(ass)))
      .select(col("doc_id"),
        col("col._1").cast("long").as("cue_idx"),
        col("col._2").as("start_ms"), col("col._3").as("end_ms"),
        col("col._4").as("cue_text"))
      .orderBy("doc_id", "cue_idx")
  }

  /** MM-EPUB-META — EPUB OPF Dublin Core metadata
    * ([[graft.sources.Docs.epubMeta]], r14): title/creator/language
    * plus the spine length, read through container.xml → OPF without
    * extracting any chapter — the metadata-only pass an indexer runs
    * before deciding what to fetch. Absent elements are empty strings
    * inside the hash. Per-row map work.
    */
  private[graft] def qEpubMeta(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Docs
    doc(s, dir).where(col("doc_id") < 240).select(col("doc_id"))
      .withColumn("m", Docs.epubMetaCol(Docs.synthEpubCol(col("doc_id"))))
      .select(col("doc_id"), col("m.title").as("title"),
        col("m.creator").as("creator"), col("m.language").as("language"),
        col("m.n_spine").cast("long").as("n_spine"))
      .orderBy("doc_id")
  }

  /** MM-XLSX — workbook cell extraction ([[graft.sources.Office
    * .xlsxCells]], r15): the office format beside DOCX every ingest
    * pipeline hits. The fixture exercises workbook-ordered sheets
    * (order from workbook.xml + rels, not part filenames), all five
    * cell types (shared/inline/formula-string/boolean/numeric), a
    * rich-text shared-string item, and a self-closing empty cell that
    * must not count. Closed forms throughout; per-row map work, no
    * shuffle beyond the final order.
    */
  private[graft] def qXlsxCells(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Office
    par(doc(s, dir)).select(col("doc_id"))
      .withColumn("m", Office.xlsxCellsCol(Office.synthXlsxCol(col("doc_id"))))
      .select(col("doc_id"),
        col("m.n_sheets").cast("long").as("n_sheets"),
        col("m.n_rows").cast("long").as("n_rows"),
        col("m.n_cells").cast("long").as("n_cells"),
        col("m.n_shared").cast("long").as("n_shared"),
        col("m.text_cells").as("text_cells"),
        round(col("m.num_sum"), 2).as("num_sum"))
      .orderBy("doc_id")
  }

  /** MM-PPTX — slide-deck text ([[graft.sources.Office.pptxText]],
    * r15): completes the office triple. Slide ORDER comes from
    * presentation.xml's sldIdLst resolved through the rels part — the
    * fixture reverses the part-filename order so a glob-ordered
    * reader hash-mismatches. `<a:t>` runs concatenate per `<a:p>`
    * paragraph. Per-row map work.
    */
  private[graft] def qPptxText(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Office
    doc(s, dir).where(col("doc_id") < 240).select(col("doc_id"))
      .withColumn("m", Office.pptxTextCol(Office.synthPptxCol(col("doc_id"))))
      .select(col("doc_id"),
        col("m._1").cast("long").as("n_slides"),
        col("m._2").cast("long").as("n_paras"),
        col("m._3").as("text"))
      .orderBy("doc_id")
  }

  /** IDX-JSONLD — structured-data entity extraction
    * ([[graft.text.Html.jsonLdBlocks]] + [[graft.text.Html.ogProps]],
    * r15): the per-page entity row a metadata miner builds — JSON-LD
    * blocks parsed by the codegen'd `from_json` (the q352 Functions-
    * not-UDFs pattern; an array-wrapped block falls back to an
    * ArrayType parse), joined with the OpenGraph property map. Decoy
    * lanes baked into the fixture: a commented-out ld+json block and
    * an inline-JS object never surface; every 3rd page carries an
    * INVALID block first (from_json degrades it to null, `min_by`
    * over the explode position picks the first PARSEABLE block);
    * odd pages CDATA-wrap; every 7th page has no JSON-LD at all
    * (absent = empty string inside the hash, via the left join).
    * Scale: per-row map work + one doc_id-key join — both sides
    * shuffle-partition on the id, no skew.
    */
  private[graft] def qJsonLd(s: SparkSession, dir: String): DataFrame = {
    import graft.text.Html
    import org.apache.spark.sql.types.{ArrayType, StringType, StructType}
    val d = doc(s, dir).where(col("doc_id") < 240)
      .select(col("doc_id"), (col("doc_id") % 10).cast("string").as("dg"))
    val valid = concat(
      lit("{\"@type\":\"Article\",\"name\":\"Story "), col("dg"),
      lit("\",\"author\":{\"name\":\"Writer "),
      (col("doc_id") % 30).cast("string"),
      lit("\"},\"datePublished\":\"2024-0"),
      (col("doc_id") % 9 + 1).cast("string"), lit("-01\"}"))
    val payload = when(col("doc_id") % 5 === 0,
      concat(lit("["), valid, lit("]"))).otherwise(valid)
    val wrapped = when(col("doc_id") % 2 === 1,
      concat(lit("<![CDATA["), payload, lit("]]>"))).otherwise(payload)
    val invalidFirst = when(col("doc_id") % 3 === 0,
      lit("<script type=\"application/ld+json\">{\"@type\": </script>"))
      .otherwise(lit(""))
    val ldScripts = when(col("doc_id") % 7 === 0, lit(""))
      .otherwise(concat(invalidFirst,
        lit("<script type=\"application/ld+json\">"), wrapped,
        lit("</script>")))
    val html = concat(
      lit("<html><head><!-- <script type=\"application/ld+json\">" +
        "{\"@type\":\"Decoy\",\"name\":\"no\"}</script> -->" +
        "<meta property=\"og:title\" content=\"OG "), col("dg"),
      lit("\"><meta property=\"og:type\" content=\"article\">" +
        "<meta property=\"og:image\" content=\"http://img.site/p"),
      col("dg"),
      lit(".png\"><script type=\"text/javascript\">" +
        "var x = {\"name\": \"decoy\"};</script>"),
      ldScripts, lit("</head><body>b</body></html>"))
    val schema = new StructType()
      .add("@type", StringType).add("name", StringType)
      .add("author", new StructType().add("name", StringType))
      .add("datePublished", StringType)
    val base = d.select(col("doc_id"),
      Html.ogPropsCol(html).as("og"), Html.jsonLdBlocksCol(html).as("blocks"))
    val withOg = base.select(col("doc_id"),
      coalesce(col("og")("title"), lit("")).as("og_title"),
      coalesce(col("og")("type"), lit("")).as("og_type"),
      coalesce(col("og")("image"), lit("")).as("og_image"),
      col("blocks"))
    // a struct-schema from_json on an ARRAY payload yields an all-null
    // struct (PERMISSIVE corrupt handling), not NULL — so the
    // array-wrapped form must dispatch on its leading '[', not coalesce
    val ld = withOg.select(col("doc_id"), posexplode(col("blocks")))
      .select(col("doc_id"), col("pos"),
        when(startswith(ltrim(col("col")), lit("[")),
          from_json(col("col"), ArrayType(schema)).getItem(0))
          .otherwise(from_json(col("col"), schema)).as("p"))
      .where(col("p").getField("name").isNotNull)
      .groupBy("doc_id").agg(min_by(col("p"), col("pos")).as("p"))
    withOg.drop("blocks").join(ld, Seq("doc_id"), "left")
      .select(col("doc_id"), col("og_title"), col("og_type"),
        col("og_image"),
        coalesce(col("p").getField("@type"), lit("")).as("ld_type"),
        coalesce(col("p").getField("name"), lit("")).as("ld_name"),
        coalesce(col("p").getField("author").getField("name"), lit(""))
          .as("ld_author"),
        coalesce(col("p").getField("datePublished"), lit("")).as("ld_date"))
      .orderBy("doc_id")
  }

  /** MM-VORBIS — Ogg Vorbis identification header
    * ([[graft.multimodal.Binary.parseOggVorbisMeta]], r15): the
    * remaining first-class Ogg codec beside Opus — CRC-checked page
    * walk, `vorbis` ident packet (version, channels, rate,
    * nominal bitrate, the two blocksize exponents, framing bit), EOS
    * granule = PCM samples at the stream's own rate (no 48 kHz rebase,
    * unlike Opus). Closed forms; per-row map work.
    */
  private[graft] def qVorbisId(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Binary
    doc(s, dir).where(col("doc_id") < 240).select(col("doc_id"))
      .withColumn("m",
        Binary.vorbisIdCol(Binary.synthOggVorbisCol(col("doc_id"))))
      .select(col("doc_id"),
        col("m.channels").cast("long").as("channels"),
        col("m.sample_rate").as("sample_rate"),
        col("m.bitrate_nominal").as("bitrate_nominal"),
        col("m.blocksize0").cast("long").as("blocksize0"),
        col("m.blocksize1").cast("long").as("blocksize1"),
        col("m.n_samples").as("n_samples"),
        col("m.duration_ms").as("duration_ms"))
      .orderBy("doc_id")
  }

  /** MM-MKV — Matroska/WebM metadata ([[graft.multimodal.Ebml
    * .parseMkv]], r15): the EBML element walk to DocType,
    * TimestampScale/Duration, and the per-TrackEntry type/codec
    * census — the container family MP4 doesn't cover. The fixture
    * alternates doctype+timescale by parity, uses float32 AND float64
    * Durations, hides a Void and a Cluster the walk must skip by
    * size, and odd ids ship the UNKNOWN-size (streaming) Segment.
    * Closed forms; per-row map work.
    */
  private[graft] def qMkvMeta(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Ebml
    doc(s, dir).where(col("doc_id") < 240).select(col("doc_id"))
      .withColumn("m", Ebml.mkvMetaCol(Ebml.synthMkvCol(col("doc_id"))))
      .select(col("doc_id"), col("m.doctype").as("doctype"),
        col("m.timescale").as("timescale"),
        col("m.duration_ms").as("duration_ms"),
        col("m.n_video").cast("long").as("n_video"),
        col("m.n_audio").cast("long").as("n_audio"),
        col("m.n_subs").cast("long").as("n_subs"),
        col("m.codecs").as("codecs"))
      .orderBy("doc_id")
  }

  /** IDX-META — page-head metadata ([[graft.text.Html.pageMeta]]):
    * what an indexer reads before the body — title (entity-decoded),
    * meta description, rel=canonical, OpenGraph title. Odd docs omit
    * canonical/og (absent = empty string, not an error — the absent
    * case must sit inside the hash too); a commented-out title must
    * NOT win over the real one.
    */
  private[graft] def qPageMeta(s: SparkSession, dir: String): DataFrame = {
    import graft.text.Html
    val d = doc(s, dir).where(col("doc_id") < 240)
      .select(col("doc_id"), (col("doc_id") % 10).cast("string").as("dg"))
    val extras = when(col("doc_id") % 2 === 0, concat(
      lit("<link rel=\"canonical\" href=\"http://site.com/p"), col("dg"),
      lit("\"/><meta property=\"og:title\" content=\"OG "), col("dg"),
      lit("\">"))).otherwise(lit(""))
    val html = concat(
      lit("<html><head><!-- <title>decoy</title> --><title>Page &amp; "),
      col("dg"), lit("</title><meta name=\"description\" content=\"Desc "),
      col("dg"), lit("\">"), extras,
      lit("</head><body>x</body></html>"))
    d.select(col("doc_id"), Html.pageMetaCol(html).as("m"))
      .select(col("doc_id"), col("m._1").as("title"),
        col("m._2").as("description"), col("m._3").as("canonical"),
        col("m._4").as("og_title"))
      .orderBy("doc_id")
  }

  /** MM-SVG — SVG metadata ([[graft.multimodal.Binary.parseSvgMeta]]):
    * the vector image format; attribute dims (px suffixes stripped)
    * on even docs, the viewBox fallback on odd — both paths inside
    * the hash.
    */
  private[graft] def qSvgMeta(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Binary
    doc(s, dir).where(col("doc_id") < 240).select(col("doc_id"))
      .withColumn("m", Binary.svgMetaCol(Binary.synthSvgCol(col("doc_id"))))
      .select(col("doc_id"), col("m.format").as("format"),
        col("m.width").cast("long").as("width"),
        col("m.height").cast("long").as("height"))
      .orderBy("doc_id")
  }

  /** MM-ID3 — ID3v2 tag content ([[graft.multimodal.Binary.parseId3v2]]):
    * the metadata q328's frame walk skips. v2.4 syncsafe and v2.3
    * plain-BE frame sizes alternate by doc parity; the SAME tagged
    * bytes flow through [[graft.multimodal.Binary.parseAudioMeta]],
    * so the tag-skip arithmetic inside the MP3 walk sits in the hash
    * beside the tag read itself.
    */
  private[graft] def qId3Meta(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Binary
    doc(s, dir).where(col("doc_id") < 240).select(col("doc_id"))
      .withColumn("b", Binary.synthTaggedMp3Col(col("doc_id")))
      .select(col("doc_id"), Binary.id3MetaCol(col("b")).as("t"),
        Binary.audioMetaCol(col("b")).as("a"))
      .select(col("doc_id"),
        col("t.version").cast("long").as("version"),
        col("t.title").as("title"), col("t.artist").as("artist"),
        col("t.album").as("album"),
        col("a.sample_rate").cast("long").as("sample_rate"),
        col("a.n_frames").as("n_samples"))
      .orderBy("doc_id")
  }

  /** MM-CAP — the vision-pair capstone, fourth composed end-to-end
    * row (q327 ingest, q338 frontier, q348 code): per doc an
    * EXIF-tagged JPEG and an SRT caption track flow through THREE
    * parser families — [[graft.multimodal.Binary.parseImageMeta]]
    * (dims via the APP1-skipping marker walk),
    * [[graft.multimodal.Binary.parseExifMeta]] (orientation), and
    * [[graft.text.Subtitles]] (cue count + caption chars + covered
    * millis) — then join on doc_id into the training-pair manifest a
    * vision pipeline filters on: `usable` = landscape-or-square,
    * upright orientation (1), and at least 2 cues. The rollup
    * aggregates per orientation: pairs, usable pairs, caption chars,
    * covered seconds. Every stage is a closed form of doc_id the
    * oracle recomposes — including the sexagesimal cue timing sums.
    */
  private[graft] def qVisionCapstone(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Binary
    import graft.text.Subtitles
    val d = doc(s, dir).where(col("doc_id") < 600)
      .select(col("doc_id"), (col("doc_id") % 10).cast("string").as("dg"))
    val img = d.select(col("doc_id"),
        Binary.synthExifJpegCol(col("doc_id")).as("jp"))
      .select(col("doc_id"),
        Binary.imageMetaCol(col("jp")).as("m"),
        Binary.exifMetaCol(col("jp")).as("e"))
      .select(col("doc_id"), col("m.width").as("w"),
        col("m.height").as("h"), col("e.orientation").as("orientation"))
    val srt = concat(
      lit("1\n00:00:00,000 --> 00:00:0"), col("dg"),
      lit(",500\nCaption one "), col("dg"),
      when(col("doc_id") % 3 === 0, concat(
        lit("\n\n2\n00:00:10,000 --> 00:00:12,000\nCaption two "),
        col("dg"))).otherwise(lit("")))
    val caps = d.select(col("doc_id"), Subtitles.cuesCol(srt).as("cues"))
      .select(col("doc_id"), size(col("cues")).as("n_cues"),
        aggregate(col("cues"), lit(0L),
          (acc, q) => acc + length(q.getField("_4"))).as("cap_chars"),
        aggregate(col("cues"), lit(0L),
          (acc, q) => acc + q.getField("_3") - q.getField("_2"))
          .as("cap_ms"))
    img.join(caps, "doc_id")
      .withColumn("usable", col("w") >= col("h") &&
        col("orientation") === 1 && col("n_cues") >= 2)
      .groupBy(col("orientation").cast("long").as("orientation"))
      .agg(count(lit(1)).as("n_pairs"),
        count(when(col("usable"), 1)).as("n_usable"),
        sum(col("cap_chars")).cast("long").as("caption_chars"),
        sum(col("cap_ms")).cast("long").as("caption_ms"))
      .orderBy("orientation")
  }

  /** IDX-TBL — web-table extraction ([[graft.text.Html.extractTables]]):
    * cell-grid structure is a corpus source of its own
    * (relational/QA pretraining), and exactly what flat text
    * extraction throws away. The fixture exercises header-row
    * detection (all-th), entity decoding inside cells, tag-soup
    * implicit cell/row closure (`<td>x<td>y</table>`), a second
    * table after intervening prose, and a commented-out decoy table
    * that must NOT surface. Every grid coordinate and cell text is a
    * closed form of doc_id.
    */
  private[graft] def qHtmlTables(s: SparkSession, dir: String): DataFrame = {
    import graft.text.Html
    val d = doc(s, dir).where(col("doc_id") < 240)
      .select(col("doc_id"), (col("doc_id") % 10).cast("string").as("dg"))
    val html = concat(
      lit("<table><tr><th>Name</th><th>Val</th></tr>" +
        "<tr><td>alpha &amp; "), col("dg"), lit("</td><td>"), col("dg"),
      lit("</td></tr><tr><td>beta "), col("dg"), lit("<td>x"), col("dg"),
      lit("</table><p>gap</p><table><tr><td>solo "), col("dg"),
      lit("</td></tr></table>" +
        "<!-- <table><tr><td>decoy</td></tr></table> -->"))
    d.select(col("doc_id"), explode(Html.tablesCol(html)).as("r"))
      .select(col("doc_id"),
        col("r._1").cast("long").as("table_idx"),
        col("r._2").cast("long").as("row_idx"),
        col("r._3").as("is_header"),
        col("r._4").cast("long").as("n_cells"),
        col("r._5").as("row_text"))
      .orderBy("doc_id", "table_idx", "row_idx")
  }

  /** MM-PDF-CID — composite-font PDF text ([[graft.multimodal.Pdf]]
    * ToUnicode CMaps, r14): the fixture's `/Type0` + `/Identity-H`
    * font routes 2-byte CIDs through a CMap that exercises every
    * section form (incrementing bfrange, bfchar, array-form bfrange,
    * multi-code-unit destination), with a mid-page `Tf` switch back to
    * a simple Latin-1 font. The COS walk, CMap parse, and per-show
    * font routing happen Spark-side; the oracle replays the extracted
    * text as a chr() closed form of doc_id. Per-row map work.
    */
  private[graft] def qPdfCid(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Pdf
    doc(s, dir).where(col("doc_id") < 240).select(col("doc_id"))
      .withColumn("p", Pdf.pdfCol(Pdf.synthCidPdfCol(col("doc_id"))))
      .select(col("doc_id"), col("p.version").as("version"),
        col("p.n_pages").cast("long").as("n_pages"),
        col("p.text").as("text"))
      .orderBy("doc_id")
  }

  /** MM-MP4-TRACKS — per-track MP4 sample-table metadata
    * ([[graft.multimodal.Binary.parseTracks]], r14): the trak → mdia →
    * stbl walk reads each track's clock (mdhd v0/v1), handler fourcc,
    * stts decoding runs (frame counts + summed deltas) and stsz byte
    * volumes in BOTH forms (fixed sample size and the per-sample size
    * list) — track-level depth the q213 movie-header row lacked,
    * shrinking the sample-decode stub's blast radius. Every column is
    * a closed form of (doc_id, track) the oracle recomputes. Per-row
    * map work, explode fan-out ≤ 3.
    */
  private[graft] def qMp4Tracks(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Binary
    doc(s, dir).where(col("doc_id") < 240).select(col("doc_id"))
      .withColumn("t",
        explode(Binary.trackMetaCol(Binary.synthVideoTracksCol(col("doc_id")))))
      .select(col("doc_id"),
        col("t.track_idx").cast("long").as("track_idx"),
        col("t.handler").as("handler"),
        col("t.timescale").as("timescale"),
        col("t.duration_ms").as("duration_ms"),
        col("t.n_samples").as("n_samples"),
        col("t.sum_delta").as("sum_delta"),
        col("t.total_bytes").as("total_bytes"))
      .orderBy("doc_id", "track_idx")
  }

  /** MM-PDF-OBJSTM — PDF 1.5 object streams
    * ([[graft.multimodal.Pdf.expandObjectStreams]], r14): the
    * fixture's entire document tree (catalog, pages node, page dict)
    * lives inside one FlateDecode'd `/Type /ObjStm` — the shape modern
    * PDF writers emit, where no /Root is reachable without expanding
    * the packed objects into the map. The inflate + pair-table parse +
    * tree walk happen Spark-side; the oracle replays the two extracted
    * lines as closed forms of doc_id. Per-row map work.
    */
  private[graft] def qPdfObjStm(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Pdf
    doc(s, dir).where(col("doc_id") < 240).select(col("doc_id"))
      .withColumn("p", Pdf.pdfCol(Pdf.synthObjStmPdfCol(col("doc_id"))))
      .select(col("doc_id"), col("p.version").as("version"),
        col("p.n_pages").cast("long").as("n_pages"),
        col("p.text").as("text"))
      .orderBy("doc_id")
  }

  /** ARCH-ZIP64 — 64-bit ZIP layout ([[graft.sources.Archives]], r14):
    * the fixture archive uses sentinel'd EOCD fields routed through the
    * ZIP64 locator/record and per-entry 0x0001 extra fields — the
    * structure any >4 GiB member forces and many writers emit
    * unconditionally. CRC-verified member extraction happens
    * Spark-side; the oracle replays names/methods/sizes/text closed
    * forms. Per-row map work.
    */
  private[graft] def qZip64(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Archives
    doc(s, dir).where(col("doc_id") < 240).select(col("doc_id"))
      .withColumn("e",
        explode(Archives.zipEntriesCol(Archives.synthZip64Col(col("doc_id")))))
      .select(col("doc_id"), col("e._1").as("name"),
        col("e._2").as("method"), col("e._3").as("usize"),
        col("e._4").as("crc_ok"), col("e._5").as("text"))
      .orderBy("doc_id", "name")
  }

  /** ARCH-TAR-ZOO — the tar record types real tarballs carry
    * ([[graft.sources.Archives.parseTar]], r14): GNU 'L' long-name
    * records (>100-char paths), PAX 'x' extended headers with path
    * overrides, and symlinks surfacing their targets — all folded into
    * their logical entries by the walk. Oracle replays every column
    * closed-form. Per-row map work.
    */
  private[graft] def qTarSpecial(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Archives
    doc(s, dir).where(col("doc_id") < 240).select(col("doc_id"))
      .withColumn("e", explode(
        Archives.tarGzEntriesCol(Archives.synthTarSpecialCol(col("doc_id")))))
      .select(col("doc_id"), col("e._1").as("name"),
        col("e._2").as("size"), col("e._3").as("type_flag"),
        col("e._4").as("text"))
      .orderBy("doc_id", "name")
  }

  /** MM-FLAC-TAGS — FLAC VORBIS_COMMENT tags
    * ([[graft.multimodal.Binary.parseFlacTags]], r14): the metadata
    * the FLAC half of a music crawl carries (the ID3 analog, q359's
    * sibling) — block walk to type 4, little-endian vendor + KEY=value
    * comment list, case-insensitive keys, unknown keys counted. The
    * STREAMINFO stays readable past the extra block (sample_rate
    * cross-checked through parseAudioMeta). Closed forms throughout.
    */
  private[graft] def qFlacTags(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Binary
    doc(s, dir).where(col("doc_id") < 240).select(col("doc_id"))
      .withColumn("b", Binary.synthTaggedFlacCol(col("doc_id")))
      .select(col("doc_id"), Binary.flacTagsCol(col("b")).as("t"),
        Binary.audioMetaCol(col("b")).as("a"))
      .select(col("doc_id"), col("t.vendor").as("vendor"),
        col("t.title").as("title"), col("t.artist").as("artist"),
        col("t.album").as("album"),
        col("t.n_comments").cast("long").as("n_comments"),
        col("a.sample_rate").cast("long").as("sample_rate"))
      .orderBy("doc_id")
  }

  /** MM-OPUS-TAGS — OpusTags ([[graft.multimodal.Binary.parseOpusTags]],
    * r14): the CRC-checked Ogg page walk to the first non-BOS packet
    * opening "OpusTags", then the SAME Vorbis-comment body as FLAC's
    * block (one shared parser) — completing the audio-tag triple
    * beside ID3 (q359) and FLAC (q367). The duration walk
    * (parseAudioMeta) cross-checks on the same bytes.
    */
  private[graft] def qOpusTags(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Binary
    doc(s, dir).where(col("doc_id") < 240).select(col("doc_id"))
      .withColumn("b", Binary.synthOggOpusCol(col("doc_id")))
      .select(col("doc_id"), Binary.opusTagsCol(col("b")).as("t"),
        Binary.audioMetaCol(col("b")).as("a"))
      .select(col("doc_id"), col("t.vendor").as("vendor"),
        col("t.title").as("title"), col("t.artist").as("artist"),
        col("t.n_comments").cast("long").as("n_comments"),
        col("a.duration_ms").as("duration_ms"))
      .orderBy("doc_id")
  }

  /** SRC-PQMETA — Parquet footer / row-group census
    * ([[graft.sources.Parquet.parseFooter]], r16): a REAL thrift
    * compact-protocol decode of FileMetaData — varints/zigzag, field
    * deltas, list headers, structural skip of unknown fields (the
    * fixture plants field id 32767) — yielding the pruning-planning
    * primitive of a 100 TB lake: per-chunk codec, sizes, INT64
    * min/max stats. Every field is a closed form of doc_id.
    */
  private[graft] def qParquetFooter(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Parquet
    doc(s, dir).where(col("doc_id") < 240).select(col("doc_id"))
      .withColumn("m",
        Parquet.footerCol(Parquet.synthParquetCol(col("doc_id"))))
      .select(col("doc_id"),
        col("m.version").cast("long").as("version"),
        col("m.n_rows").as("n_rows"),
        col("m.n_groups").cast("long").as("n_groups"),
        col("m.n_leaves").cast("long").as("n_leaves"),
        col("m.created_by").as("created_by"),
        explode(col("m.columns")).as("c"))
      .select(col("doc_id"), col("version"), col("n_rows"),
        col("n_groups"), col("n_leaves"), col("created_by"),
        col("c.rg").cast("long").as("rg"), col("c.path").as("path"),
        col("c.codec").as("codec"), col("c.num_values").as("num_values"),
        col("c.compressed").as("compressed"),
        col("c.uncompressed").as("uncompressed"),
        col("c.min_i64").as("min_i64"), col("c.max_i64").as("max_i64"),
        col("c.null_count").as("null_count"))
      .orderBy("doc_id", "rg", "path")
  }

  /** SRC-PCAPNG — next-generation capture census
    * ([[graft.sources.Pcap.censusNg]], r16): the block-structured walk
    * (SHB byte-order magic, IDB if_tsresol options, EPB 64-bit split
    * timestamps, unknown-block skip) beside q390's classic format —
    * same census row shape plus the interface count.
    */
  private[graft] def qPcapngCensus(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Pcap
    doc(s, dir).where(col("doc_id") < 240).select(col("doc_id"))
      .withColumn("c", Pcap.censusNgCol(Pcap.synthPcapngCol(col("doc_id"))))
      .select(col("doc_id"), col("c.endian").as("endian"),
        col("c.resolution").as("resolution"),
        col("c.n_interfaces").cast("long").as("n_interfaces"),
        col("c.link_type").cast("long").as("link_type"),
        col("c.n_packets").cast("long").as("n_packets"),
        col("c.total_bytes").as("total_bytes"),
        col("c.n_ipv4").cast("long").as("n_ipv4"),
        col("c.n_tcp").cast("long").as("n_tcp"),
        col("c.n_udp").cast("long").as("n_udp"),
        col("c.n_arp").cast("long").as("n_arp"),
        col("c.n_other").cast("long").as("n_other"),
        col("c.span_ms").as("span_ms"))
      .orderBy("doc_id")
  }

  /** SRC-CBOR — RFC 8949 type-walk census ([[graft.sources.Cbor
    * .census]], r16): major-type dispatch, definite+indefinite
    * containers, tags, negative-int encoding, text byte volumes —
    * the self-describing binary interchange triage beside JSON
    * (q235) and protobuf (q383). Closed forms of doc_id.
    */
  private[graft] def qCborCensus(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Cbor
    doc(s, dir).where(col("doc_id") < 240).select(col("doc_id"))
      .withColumn("c", Cbor.censusCol(Cbor.synthCborCol(col("doc_id"))))
      .select(col("doc_id"), col("c.top_type").as("top_type"),
        col("c.n_nodes").as("n_nodes"), col("c.n_int").as("n_int"),
        col("c.n_str").as("n_str"), col("c.n_arr").as("n_arr"),
        col("c.n_map").as("n_map"), col("c.n_bool").as("n_bool"),
        col("c.n_tag").as("n_tag"),
        col("c.max_depth").cast("long").as("max_depth"),
        col("c.int_sum").as("int_sum"),
        col("c.str_bytes").as("str_bytes"))
      .orderBy("doc_id")
  }

  /** SRC-MSGPACK — MessagePack initial-byte census
    * ([[graft.sources.Msgpack.census]], r16): fixint/fixmap/fixstr
    * forms, forced uint16 widths, negative fixints, float64, the
    * fixext skip path — the same census row as CBOR (exts land in
    * n_tag), so the two walkers cross-check each other's shape.
    */
  private[graft] def qMsgpackCensus(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Msgpack
    doc(s, dir).where(col("doc_id") < 240).select(col("doc_id"))
      .withColumn("c",
        Msgpack.censusCol(Msgpack.synthMsgpackCol(col("doc_id"))))
      .select(col("doc_id"), col("c.top_type").as("top_type"),
        col("c.n_nodes").as("n_nodes"), col("c.n_int").as("n_int"),
        col("c.n_str").as("n_str"), col("c.n_arr").as("n_arr"),
        col("c.n_map").as("n_map"), col("c.n_bool").as("n_bool"),
        col("c.n_float").as("n_float"), col("c.n_tag").as("n_ext"),
        col("c.max_depth").cast("long").as("max_depth"),
        col("c.int_sum").as("int_sum"),
        col("c.str_bytes").as("str_bytes"))
      .orderBy("doc_id")
  }

  /** SRC-ORC — ORC footer/stripe census ([[graft.sources.Orc
    * .parseOrc]], r16): the OTHER columnar lake format beside q392's
    * Parquet — tail walk through the plain-protobuf PostScript
    * (field-8000 magic, unknown-field skip), chunk-framed raw-deflate
    * footer decode via the shared [[graft.sources.Inflate]], stripe
    * spans + schema width. Stripes explode; closed forms.
    */
  private[graft] def qOrcFooter(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Orc
    doc(s, dir).where(col("doc_id") < 240).select(col("doc_id"))
      .withColumn("m", Orc.orcMetaCol(Orc.synthOrcCol(col("doc_id"))))
      .select(col("doc_id"),
        col("m.compression").as("compression"),
        col("m.writer_version").as("writer_version"),
        col("m.content_length").as("content_length"),
        col("m.n_rows").as("n_rows"),
        col("m.n_types").cast("long").as("n_types"),
        posexplode(col("m.stripes")))
      .select(col("doc_id"), col("compression"), col("writer_version"),
        col("content_length"), col("n_rows"), col("n_types"),
        col("pos").cast("long").as("stripe_idx"),
        col("col.offset").as("offset"),
        col("col.index_len").as("index_len"),
        col("col.data_len").as("data_len"),
        col("col.footer_len").as("footer_len"),
        col("col.n_rows").as("stripe_rows"))
      .orderBy("doc_id", "stripe_idx")
  }

  /** SRC-THRIFT — schema-less thrift-compact census
    * ([[graft.sources.Parquet.thriftCensus]], r16): the unknown-
    * Thrift-payload triage walk beside protobuf (q383) and
    * CBOR/MessagePack (q394/q395), riding the SAME compact-protocol
    * walker as the q392 parquet footer — per-type field counts,
    * nesting depth, zigzag int sums, string volume. Closed forms.
    */
  private[graft] def qThriftCensus(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Parquet
    doc(s, dir).where(col("doc_id") < 240).select(col("doc_id"))
      .withColumn("c",
        Parquet.thriftCensusCol(Parquet.synthThriftCol(col("doc_id"))))
      .select(col("doc_id"), col("c.n_fields").as("n_fields"),
        col("c.n_int").as("n_int"), col("c.n_bool").as("n_bool"),
        col("c.n_str").as("n_str"), col("c.n_double").as("n_double"),
        col("c.n_list").as("n_list"), col("c.n_struct").as("n_struct"),
        col("c.max_field_id").as("max_field_id"),
        col("c.max_depth").cast("long").as("max_depth"),
        col("c.int_sum").as("int_sum"),
        col("c.str_bytes").as("str_bytes"))
      .orderBy("doc_id")
  }

  /** LAKE-DELTA — Delta-style transaction-log census: the _delta_log
    * JSON-lines commit stream (protocol / metaData / add / remove
    * actions) split and parsed with codegen'd `from_json` — no custom
    * parser; the lakehouse log is Spark-native by construction, and
    * this row pins the shape a table-state reconstruction starts
    * from: action counts, bytes added, distinct partitions touched,
    * protocol presence. Closed forms per commit.
    */
  private[graft] def qDeltaLog(s: SparkSession, dir: String): DataFrame = {
    val d = doc(s, dir).where(col("doc_id") < 600)
      .select(col("doc_id"), (col("doc_id") % 10).cast("string").as("dg"))
    val k = (col("doc_id") % 3 + 1).cast("int")
    def addLine(j: Int) = when(lit(j) < k, concat(
      lit("{\"add\":{\"path\":\"part-" + j + "-"), col("dg"),
      lit(s".parquet\",\"size\":"),
      (lit(1000 + 10 * j) + col("doc_id") % 10).cast("string"),
      lit(",\"partitionValues\":{\"dt\":\"2024-01-0" + (j % 9 + 1) +
        "\"},\"dataChange\":true}}\n"))).otherwise(lit(""))
    val log = concat(
      when(col("doc_id") % 5 === 0, lit(
        "{\"protocol\":{\"minReaderVersion\":1,\"minWriterVersion\":2}}\n"))
        .otherwise(lit("")),
      concat(lit("{\"metaData\":{\"id\":\"m-"), col("dg"),
        lit("\",\"format\":{\"provider\":\"parquet\"}}}\n")),
      addLine(0), addLine(1), addLine(2),
      when(col("doc_id") % 4 === 0, concat(
        lit("{\"remove\":{\"path\":\"part-9-"), col("dg"),
        lit(".parquet\",\"deletionTimestamp\":170000000"), col("dg"),
        lit("}}\n"))).otherwise(lit("")))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "protocol STRUCT<minReaderVersion INT, minWriterVersion INT>, " +
        "metaData STRUCT<id STRING, format STRUCT<provider STRING>>, " +
        "add STRUCT<path STRING, size BIGINT, " +
        "partitionValues MAP<STRING,STRING>, dataChange BOOLEAN>, " +
        "remove STRUCT<path STRING, deletionTimestamp BIGINT>")
    d.select(col("doc_id"),
        explode(filter(split(log, "\n"), l => l =!= "")).as("line"))
      .select(col("doc_id"), from_json(col("line"), schema).as("a"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_actions"),
        count(col("a.add.path")).as("n_adds"),
        coalesce(sum(col("a.add.size")), lit(0L)).as("bytes_added"),
        count(col("a.remove.path")).as("n_removes"),
        max(col("a.protocol.minWriterVersion")).isNotNull
          .as("has_protocol"),
        countDistinct(col("a.add.partitionValues")("dt"))
          .as("n_partitions"),
        max(col("a.metaData.id")).as("meta_id"))
      .orderBy("doc_id")
  }

  /** SRC-PACKIDX — git pack-index v2 census ([[graft.sources.Git
    * .parsePackIdx]], r16): fanout/sha-histogram consistency, strict
    * sha ordering, crc sums, the MSB 64-bit offset escape — the
    * split index for pack shards beside q389's loose objects.
    */
  private[graft] def qGitPackIdx(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Git
    doc(s, dir).where(col("doc_id") < 240).select(col("doc_id"))
      .withColumn("p", Git.packIdxCol(Git.synthPackIdxCol(col("doc_id"))))
      .select(col("doc_id"),
        col("p.n_objects").cast("long").as("n_objects"),
        col("p.n_large").cast("long").as("n_large"),
        col("p.sum_crc").as("sum_crc"),
        col("p.max_offset").as("max_offset"),
        col("p.first_sha8").as("first_sha8"),
        col("p.last_sha8").as("last_sha8"))
      .orderBy("doc_id")
  }

}
