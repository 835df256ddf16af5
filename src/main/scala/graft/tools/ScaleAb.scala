package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scale audit: measures how the most expensive registered
  * queries actually scale when the data grows ~10×, turning the
  * 100×-readiness story from a plan-shape argument into a measurement.
  *
  * The harness testdata is capped at sf0.1 (read-only), so the tool
  * inflates each table IN-FLIGHT — crossJoin with a 10-row range and a
  * consistent key re-salt (key → key·10 + rep) — and materializes the
  * result under /tmp (never /root/testdata), so the 10× run exercises
  * the same parquet-scan path as the 1× run. Salting rules:
  *
  *  - join keys are salted CONSISTENTLY on both sides (l_orderkey and
  *    o_orderkey, o_custkey and c_custkey), so referential joins keep
  *    exactly their 1× fan-out;
  *  - foreign keys into UN-inflated dimension tables (part, supplier,
  *    nation) are left unsalted, so dimension joins stay valid;
  *  - document text gets a per-rep suffix token: verbatim 10×
  *    duplication would hand the dedup/clustering family artificial
  *    100× in-bucket pair blowups (they exist to FIND duplicates) —
  *    the audit measures scaling on 10× genuine content, not on a
  *    pathological corpus;
  *  - embeddings get a per-replica DISPERSAL perturbation (r13):
  *    deterministic pseudo-uniform offsets on EVERY dimension with
  *    expected norm ≈ 0.4 of the vector's own norm — the
  *    inter-centroid distance scale at 16 IVF cells on the unit
  *    sphere — so a vector's replicas scatter across cells instead of
  *    collapsing into one. The r12 first-component 1e-3 nudge minted
  *    10 near-copies per vector, clustering each query's true top-10
  *    into a single cell and making 10× ANN recall structurally
  *    optimistic (the r12 verdict's weakest-claim call-out); rep 0
  *    keeps the original vector, so the 1× corpus embeds in the 10×.
  *
  * Output: one JSON line per query with t(1×), t(10×) (best of
  * `reps`), and the fitted scaling exponent log10(t10/t1) — 1.0 =
  * linear, <1 amortized fixed costs, >1 super-linear. PLANS.md records
  * the table per round; anything super-linear beyond its declared
  * complexity needs a plan fix or a documented reason.
  *
  * Usage: runMain graft.tools.ScaleAb [sfDir] [outDir] [reps] [q,q,...]
  */
object ScaleAb {

  /** The declared top-cost set from VERDICT r9 + its brief. */
  private val defaultQueries = Seq(
    "q121_spearman", "q215_ivfpq_ann", "q148_pagerank", "q129_fuzzy_pairs",
    "q132_mahalanobis", "q155_quantile_normalize", "q47_dedup_clusters",
    "q198_semdedup", "q35_iforest", "q67_corr_matrix")

  def inflate(spark: SparkSession, sfDir: String, outDir: String,
              factor: Int): Unit = {
    val fs = java.nio.file.Paths.get(outDir)
    java.nio.file.Files.createDirectories(fs)
    def reps = spark.range(factor).select(col("id").as("__rep"))
    def read(t: String) = graft.sources.Tables.load(spark, sfDir, t)
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    // small dimensions: copy through unchanged
    Seq("region", "nation", "part", "supplier").foreach(t => write(read(t), t))
    // customer: salt c_custkey (orders salts o_custkey identically)
    write(read("customer").crossJoin(reps)
      .withColumn("c_custkey", col("c_custkey") * factor + col("__rep"))
      // rebuild the name from the SALTED key (same policy as the
      // per-rep document-text suffix): 10 verbatim copies of one name
      // would inflate every name-prefix block 10× (100× the pairs) —
      // a pathological-corpus artifact, not real growth, which mints
      // NEW ids that land in NEW prefix blocks (q271 measured 1.80
      // before this fix, 10×-same-name pair blowup; real-data blocks
      // are bounded key ranges)
      .withColumn("c_name", concat(lit("Customer#"),
        lpad(col("c_custkey").cast("string"), 9, "0")))
      .drop("__rep"), "customer")
    write(read("orders").crossJoin(reps)
      .withColumn("o_orderkey", col("o_orderkey") * factor + col("__rep"))
      .withColumn("o_custkey", col("o_custkey") * factor + col("__rep"))
      .drop("__rep"), "orders")
    // lineitem: salt the orderkey consistently; part/supp keys stay
    // valid into the un-inflated dimensions
    write(read("lineitem").crossJoin(reps)
      .withColumn("l_orderkey", col("l_orderkey") * factor + col("__rep"))
      .drop("__rep"), "lineitem")
    write(read("events").crossJoin(reps)
      .withColumn("user_id", col("user_id") * factor + col("__rep"))
      // event_id salts too: it is the arrival-order / prefix-scan sort
      // key (q266/q268) — 10 verbatim copies would make it non-unique
      .withColumn("event_id", col("event_id") * factor + col("__rep"))
      .drop("__rep"), "events")
    write(read("documents").crossJoin(reps)
      .withColumn("doc_id", col("doc_id") * factor + col("__rep"))
      .withColumn("text", concat(col("text"), lit(" zrep"), col("__rep")))
      .drop("__rep"), "documents")
    // dispersal amplitude: per-dim uniform[-a, a] has E||δ||² = a²·d/3,
    // so a = ρ·√(3/d)·||v|| gives expected offset norm ρ·||v||; ρ = 0.4
    val dim = size(col("embedding")).cast("double")
    val amp = lit(0.4) * sqrt(lit(3.0) / dim) *
      sqrt(aggregate(transform(col("embedding"),
        x => x.cast("double") * x.cast("double")), lit(0.0), _ + _))
    write(read("embeddings").crossJoin(reps)
      .withColumn("vec_id", col("vec_id") * factor + col("__rep"))
      .withColumn("embedding",
        when(col("__rep") === 0, col("embedding")).otherwise(
          zip_with(col("embedding"),
            sequence(lit(0L), size(col("embedding")).cast("long") - 1L),
            (x, j) => {
              // deterministic pseudo-uniform in [-1, 1) per (vec, rep, dim)
              val h = pmod(col("vec_id") * lit(1000003L) +
                col("__rep") * lit(7919L) + j * lit(104729L), lit(2000003L))
              (x + (h.cast("double") / lit(1000001.0) - lit(1.0)) * amp)
                .cast("float")
            })))
      .drop("__rep"), "embeddings")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("/tmp/scaleab_10x")
    val reps = args.lift(2).map(_.toInt).getOrElse(2)
    val names = args.lift(3).map(_.split(",").toSeq).getOrElse(defaultQueries)
    val factor = 10
    val spark = graft.Session()
    if (!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$outDir/lineitem.parquet"))) {
      System.err.println(s"[scaleab] materializing ${factor}x of $sfDir -> $outDir")
      inflate(spark, sfDir, outDir, factor)
    }
    // noop write, not count() (r16, same fix as Bench): count() prunes
    // the final projection, so projection-shaped parser rows measured
    // scan+count instead of the parse — their 10× exponents read flat
    // no matter what the parser cost.
    def exec(df: DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    def time(name: String, dir: String): Double = {
      val fn = graft.SparkEntry.queries(name)
      graft.core.Caches.releaseAll(); System.gc()
      exec(fn(spark, dir)) // untimed warmup (codegen/JIT)
      (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        exec(fn(spark, dir))
        (System.nanoTime() - t0) / 1e9
      }.min
    }
    def r(v: Double): Double = math.round(v * 1000) / 1000.0
    val rows = names.map { n =>
      val t1 = time(n, sfDir)
      val t10 = time(n, outDir)
      val exp = math.log(t10 / t1) / math.log(factor.toDouble)
      // ingest rows: MARGINAL throughput (Δbytes/Δtime) alongside the
      // exponent — at sub-second row times the ~0.3-0.5 s fixed local
      // job overhead (scheduling 2×32 tasks, plan exec, noop commit)
      // depresses the raw exponent even when the parse itself is
      // perfectly linear; the marginal rate subtracts that constant
      // and IS the bytes/s a 100 TB ingest budget extrapolates from
      val marginal = graft.SparkEntry.parseBytes.get(n).map { bf =>
        val b1 = bf(spark, sfDir); val b10 = bf(spark, outDir)
        val mbs = (b10 - b1) / 1e6 / math.max(1e-3, t10 - t1)
        (b1, b10, mbs)
      }
      val mtxt = marginal
        .map { case (_, _, m) => f" marginal=$m%7.1f MB/s" }.getOrElse("")
      System.err.println(
        f"[scaleab] $n%-26s t1=$t1%7.2fs t10=$t10%7.2fs exp=$exp%5.2f$mtxt")
      val mjson = marginal.map { case (b1, b10, m) =>
        s""","mb_1":${r(b1 / 1e6)},"mb_10":${r(b10 / 1e6)},"marginal_mb_s":${r(m)}"""
      }.getOrElse("")
      s"""{"query":"$n","t1_sec":${r(t1)},"t10_sec":${r(t10)},"exponent":${r(exp)}$mjson}"""
    }
    println(s"""{"metric":"scale_ab","factor":$factor,"sf":"$sfDir","results":[${rows.mkString(",")}]}""")
    spark.stop()
  }
}
