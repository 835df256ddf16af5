package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan audits: the scale properties the engine claims are
  * asserted against `.explain` output, so a regression that silently
  * turns a broadcast join into a shuffle, drops a pushed filter, or
  * reintroduces a single-reducer Percentile FAILS the build rather
  * than surfacing as a 100 TB incident.
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("star join broadcasts the small dimensions, never nested-loops") {
    val p = plan(SparkEntry.queries("q31_join_revenue")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"dims not broadcast:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"cartesian in star join:\n$p")
  }

  test("filter + projection push into the parquet scan") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .where(col("l_quantity") > 45)
      .select("l_orderkey", "l_quantity")
    val p = plan(li)
    assert(p.contains("PushedFilters") && p.contains("l_quantity"),
      s"filter not pushed:\n$p")
    // pruned read schema: the 14 unused columns must not be scanned
    assert(p.contains("ReadSchema") && !p.contains("l_comment"),
      s"projection not pruned:\n$p")
  }

  test("no registered query plans a Percentile aggregate (single-reducer buffer)") {
    // NOTE: building a query runs its driver-side fits/thresholds
    // eagerly (models, OrderStats) — acceptable at the spec's sf0.001,
    // and it is exactly those eager paths the audit needs to cover
    SparkEntry.queries.foreach { case (name, fn) =>
      val q = fn(spark, sf)
      val p = q.queryExecution.optimizedPlan.toString
      assert(!p.contains("percentile("),
        s"$name still plans exact Percentile:\n${p.take(2000)}")
    }
  }

  test("LSH dedup and ANN plans contain no nested-loop join") {
    Seq("q52_lsh_cosine_dups", "q30_lsh_ann", "q25_minhash_lsh").foreach { name =>
      val p = plan(SparkEntry.queries(name)(spark, sf))
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name plans a cartesian:\n$p")
    }
  }

  test("decontamination broadcasts the benchmark shingles") {
    val p = plan(SparkEntry.queries("q61_decontam")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"benchmark side not broadcast:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"cartesian in decontam:\n$p")
  }

  test("as-of join plans a window scan, not a range join") {
    val p = plan(SparkEntry.queries("q62_asof_join")(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"as-of join exploded into a pair join:\n$p")
    assert(p.contains("Window"), s"no window carry in as-of plan:\n$p")
  }

  test("aggregation queries use partial (map-side) aggregation") {
    val p = plan(SparkEntry.queries("q01_pricing_summary")(spark, sf))
    // two HashAggregate nodes around the exchange = partial + final
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial agg:\n$p")
  }

  test("round-6 query plans keep their scale shapes") {
    // q76 quantization is map-only: the sole exchange is the output sort
    val q76 = plan(SparkEntry.queries("q76_embed_quant")(spark, sf))
    assert("Exchange".r.findAllIn(q76).size <= 1,
      s"quantization should not shuffle beyond the output sort:\n$q76")
    // q77 packing: the global prefix sum must NOT be a single-partition
    // window (that is the whole point of the two-phase scan)
    val q77 = plan(SparkEntry.queries("q77_seq_pack")(spark, sf))
    assert(!q77.contains("Window"), s"packing regressed to a window:\n$q77")
    assert(!q77.contains("Exchange SinglePartition"),
      s"packing plans a single-partition exchange:\n$q77")
    // q78 delta dedup: hash anti-join, never a nested loop
    val q78 = plan(SparkEntry.queries("q78_delta_dedup")(spark, sf))
    assert(!q78.contains("BroadcastNestedLoopJoin"),
      s"delta dedup plans a cartesian:\n$q78")
    // q79 span coverage: windows are per-document, not global
    val q79 = plan(SparkEntry.queries("q79_dup_spans")(spark, sf))
    assert(q79.contains("Window"), s"no interval-union window:\n$q79")
    assert(!q79.contains("Exchange SinglePartition"),
      s"span sweep plans a single-partition exchange:\n$q79")
    // q80 z-order cell stats aggregate map-side first
    val q80 = plan(SparkEntry.queries("q80_zorder")(spark, sf))
    assert("HashAggregate".r.findAllIn(q80).size >= 2, s"no partial agg:\n$q80")
    // q81 vocab / q84 centroids / q86 buckets: map-side combine absorbs
    // token/dimension skew before the shuffle
    Seq("q81_vocab", "q84_label_centroids", "q86_length_buckets").foreach { n =>
      val p = plan(SparkEntry.queries(n)(spark, sf))
      assert("HashAggregate".r.findAllIn(p).size >= 2, s"$n: no partial agg:\n$p")
    }
    // q83 negative fetch, q85 snapshot diff, q91 salted join, and
    // q96 LM scoring are hash equi-joins, never nested loops
    Seq("q83_neg_sample", "q85_snapshot_diff", "q91_salted_join",
      "q96_bigram_lm").foreach { n =>
      val p = plan(SparkEntry.queries(n)(spark, sf))
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$n plans a cartesian:\n$p")
    }
    // q92/q95 sampling aggregates combine map-side; q93 pack
    // materialization keeps the prefix scan window-free
    Seq("q92_temperature_mix", "q95_split_assign").foreach { n =>
      val p = plan(SparkEntry.queries(n)(spark, sf))
      assert("HashAggregate".r.findAllIn(p).size >= 2, s"$n: no partial agg:\n$p")
    }
    val q93 = plan(SparkEntry.queries("q93_pack_texts")(spark, sf))
    assert(!q93.contains("Exchange SinglePartition"),
      s"pack texts plans a single-partition exchange:\n$q93")
  }

  test("round-7 query plans keep their scale shapes") {
    // q110 interval join: the bucketed range join MUST plan as a hash
    // equi-join — a nested loop here is the exact trap the operator exists
    // to avoid
    val q110 = plan(SparkEntry.queries("q110_interval_join")(spark, sf))
    assert(!q110.contains("BroadcastNestedLoopJoin") && !q110.contains("CartesianProduct"),
      s"interval join exploded into a pair join:\n$q110")
    // q104 domain cap: the ranking window is hash-partitioned by group,
    // never a global single-partition sort
    val q104 = plan(SparkEntry.queries("q104_source_cap")(spark, sf))
    assert(!q104.contains("Exchange SinglePartition"),
      s"group cap plans a single-partition exchange:\n$q104")
    // q107 CDC merge: latest-change selection + anti-join are hash
    // operations
    val q107 = plan(SparkEntry.queries("q107_cdc_merge")(spark, sf))
    assert(!q107.contains("BroadcastNestedLoopJoin") && !q107.contains("CartesianProduct"),
      s"CDC merge plans a cartesian:\n$q107")
    // q105/q106 text transforms are map-stage + final aggregate shapes;
    // q109 target encoding joins the tiny per-category table back by hash
    val q109 = plan(SparkEntry.queries("q109_target_encode")(spark, sf))
    assert(!q109.contains("BroadcastNestedLoopJoin"),
      s"target encoding plans a cartesian:\n$q109")
    // q111 EWMA: one aggregate keyed by user — no window, no
    // single-partition exchange
    val q111 = plan(SparkEntry.queries("q111_ewma")(spark, sf))
    assert(!q111.contains("Window") && !q111.contains("Exchange SinglePartition"),
      s"EWMA regressed to a window/global sort:\n$q111")
    // q113 weighted sample: the k-select is TakeOrdered (per-partition
    // top-k + k-row merge), never a global sort
    val q113 = plan(SparkEntry.queries("q113_weighted_sample")(spark, sf))
    assert(q113.contains("TakeOrderedAndProject"),
      s"weighted sample lost its top-k plan:\n$q113")
    // q114 feature hashing is a pure map stage: only the output sort
    // exchanges
    val q114 = plan(SparkEntry.queries("q114_feature_hash")(spark, sf))
    assert("Exchange".r.findAllIn(q114).size <= 2, // par() + output sort
      s"feature hashing should not shuffle beyond repartition + sort:\n$q114")
    // q118 trend: the centering window and the stats aggregate share the
    // user_id hash exchange — one key shuffle plus the output sort only
    val q118 = plan(SparkEntry.queries("q118_trend")(spark, sf))
    assert(!q118.contains("Exchange SinglePartition"),
      s"trend plans a single-partition exchange:\n$q118")
    assert("Exchange hashpartitioning".r.findAllIn(q118).size <= 1,
      s"trend re-shuffles between window and aggregate:\n$q118")
  }

  test("round-7 extension query plans keep their scale shapes") {
    // q136 HBOS: scoring is a literal when-chain — fit collapses to plan
    // literals, so the scoring plan must contain NO join at all
    val q136 = plan(SparkEntry.queries("q136_hbos")(spark, sf))
    assert(!q136.contains("Join"), s"HBOS scoring gained a join:\n$q136")
    // q142 RFM: quintiles come from the fused exact selection, never a
    // global ntile window
    val q142 = plan(SparkEntry.queries("q142_rfm")(spark, sf))
    assert(!q142.contains("Window"), s"RFM regressed to ntile windows:\n$q142")
    // q143 Pareto: cumulative shares ride the distributed PrefixScan —
    // no window, no single-partition exchange before the 3-row output
    val q143 = plan(SparkEntry.queries("q143_pareto")(spark, sf))
    assert(!q143.contains("Window"), s"Pareto regressed to a window:\n$q143")
    // q144 basket / q156 triangles: pair expansion is an equi-join on the
    // order/brand keys — never a cartesian
    val q144 = plan(SparkEntry.queries("q144_basket_pairs")(spark, sf))
    assert(!q144.contains("CartesianProduct"),
      s"basket pairs plans a cartesian:\n$q144")
    val q156 = plan(SparkEntry.queries("q156_triangles")(spark, sf))
    assert(!q156.contains("CartesianProduct") ||
      "CartesianProduct".r.findAllIn(q156).size <= 2, // 1-row stat crossJoins
      s"triangle census plans a data-sized cartesian:\n$q156")
    // q152 Mann–Whitney / q155 quantile normalization / q121 fast path:
    // ranks and positions come from PrefixScan joins — no global
    // row_number/rank window anywhere
    val q152 = plan(SparkEntry.queries("q152_mannwhitney")(spark, sf))
    assert(!q152.contains("Window"),
      s"mann-whitney regressed to a rank window:\n$q152")
    val q155 = plan(SparkEntry.queries("q155_quantile_normalize")(spark, sf))
    assert(!q155.contains("Window"),
      s"quantile normalization regressed to a row_number window:\n$q155")
    val q121 = plan(SparkEntry.queries("q121_spearman")(spark, sf))
    assert(!q121.contains("Window"),
      s"spearman regressed to a rank window:\n$q121")
    // q147 heavy hitters: the recount groups the BUCKETED item (candidate
    // set folded to literals) — no join in the counting plan
    val q147 = plan(SparkEntry.queries("q147_heavy_hitters")(spark, sf))
    assert(!q147.contains("SortMergeJoin"),
      s"heavy-hitter recount gained a data-sized join:\n$q147")
  }

  test("round-8 query plans keep their scale shapes") {
    // q176 sample+shuffle audit: head extraction is distributed top-k
    // (TakeOrderedAndProject), never a global sort + limit
    val q176 = plan(SparkEntry.queries("q176_sample_shuffle_audit")(spark, sf))
    assert(q176.contains("TakeOrderedAndProject"),
      s"sample audit lost its top-k plan:\n$q176")
    // q180 Lorenz: decile assignment is PrefixScan + arithmetic — no
    // window operator, no single-partition exchange anywhere
    val q180 = plan(SparkEntry.queries("q180_lorenz")(spark, sf))
    assert(!q180.contains("Window"),
      s"Lorenz regressed to a window:\n$q180")
    // q185 OHLC: open/close ride struct min/max inside ONE aggregate —
    // no window, no join
    val q185 = plan(SparkEntry.queries("q185_ohlc")(spark, sf))
    assert(!q185.contains("Window") && !q185.contains("Join"),
      s"OHLC regressed from single-aggregate shape:\n$q185")
    // q177 CCF: the per-lag self-join of the tiny daily frame must be a
    // hash equi-join on (d + k), not a nested loop
    val q177 = plan(SparkEntry.queries("q177_ccf")(spark, sf))
    assert(!q177.contains("BroadcastNestedLoopJoin") &&
      !q177.contains("CartesianProduct"),
      s"CCF lag join exploded:\n$q177")
    // q187 cross-source dups: the doc→source labeling joins are
    // equi-joins (broadcast or hash), never nested loops
    val q187 = plan(SparkEntry.queries("q187_cross_source_dups")(spark, sf))
    assert(!q187.contains("BroadcastNestedLoopJoin") &&
      !q187.contains("CartesianProduct"),
      s"cross-source labeling plans a cartesian:\n$q187")
    // q181/q182/q183/q186: narrow aggregate chains — no single-partition
    // exchange except the bounded final merge of scalar aggregates
    Seq("q181_degree_hist", "q182_stickiness", "q183_lang_mix",
        "q186_fertility").foreach { name =>
      val p = plan(SparkEntry.queries(name)(spark, sf))
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian:\n$p")
      assert(!p.contains("Window"), s"$name gained a window:\n$p")
    }
    // q193 grouping sets: ONE Expand feeding one aggregate — three
    // grouping sets must not become three scans
    val q193 = plan(SparkEntry.queries("q193_grouping_sets")(spark, sf))
    assert(q193.contains("Expand"), s"grouping sets lost the Expand plan:\n$q193")
    assert("Scan parquet".r.findAllIn(q193).size <= 1,
      s"grouping sets scans more than once:\n$q193")
    // q194 (r9 two-scan rewrite): the semi join survives, the customer
    // table is scanned at most twice (n_without is arithmetic, not a
    // third scan), and no nested loop appears
    val q194 = plan(SparkEntry.queries("q194_semi_anti")(spark, sf))
    assert(q194.contains("LeftSemi"), s"semi join shape lost:\n$q194")
    assert(!q194.contains("LeftAnti"),
      s"q194 re-grew the third (anti) scan the r8 advisory removed:\n$q194")
    assert("Scan parquet".r.findAllIn(q194).size <= 3,
      s"q194 scans more than customer×2 + orders×1:\n$q194")
    assert(!q194.contains("BroadcastNestedLoopJoin"),
      s"existence join plans a cartesian:\n$q194")
    // the LEFT ANTI surface stays registered and audited on its own
    // plan (rows-of-orphans shape, SparkEntry.antiJoinOrphans)
    val anti = plan(SparkEntry.antiJoinOrphans(spark, sf))
    assert(anti.contains("LeftAnti"), s"anti join shape lost:\n$anti")
    assert(!anti.contains("BroadcastNestedLoopJoin"),
      s"anti join plans a cartesian:\n$anti")
  }

  test("round-9 query plans keep their scale shapes") {
    // q198 SemDeDup: the in-cluster pair stage must be an EQUI join on
    // the cluster id (bucket-confined quadratic), never a cartesian;
    // the only nested-loop joins allowed are the two 1-row×1-row
    // scalar-audit cross joins at the very top of the plan
    val q198 = plan(SparkEntry.queries("q198_semdedup")(spark, sf))
    assert(!q198.contains("CartesianProduct"), s"semdedup plans a cartesian:\n$q198")
    assert("BroadcastNestedLoopJoin".r.findAllIn(q198).size <= 2,
      s"semdedup pair stage fell out of the equi join:\n$q198")
    assert(q198.contains("HashJoin") || q198.contains("SortMergeJoin"),
      s"no hash equi-join for the cluster pair stage:\n$q198")
    // q199 perplexity buckets: the per-language edge table broadcasts;
    // LM count tables join hash-wise, never nested-loop
    val q199 = plan(SparkEntry.queries("q199_perplexity_buckets")(spark, sf))
    assert(q199.contains("BroadcastHashJoin"),
      s"tertile edges not broadcast:\n$q199")
    assert(!q199.contains("CartesianProduct"),
      s"perplexity bucketing plans a cartesian:\n$q199")
    // q200 BPE pairs: map-side combine before the shuffle, top-32 as
    // distributed TakeOrderedAndProject (never a global sort)
    val q200 = plan(SparkEntry.queries("q200_bpe_pairs")(spark, sf))
    assert("HashAggregate".r.findAllIn(q200).size >= 2,
      s"pair count lost partial aggregation:\n$q200")
    assert(q200.contains("TakeOrderedAndProject"),
      s"top-32 is not a distributed top-k:\n$q200")
    // q201 RANGE window: hash-partitioned per-user windows only
    val q201 = plan(SparkEntry.queries("q201_range_window")(spark, sf))
    assert(q201.contains("Window"), s"range frame lost its window:\n$q201")
    assert(!q201.contains("Exchange SinglePartition"),
      s"range window plans a single-partition exchange:\n$q201")
    // q202/q204: the MinHash candidate stage is a banded equi-join,
    // never a cartesian; the sweep aggregates combine map-side
    Seq("q202_minhash_est_audit", "q204_dedup_sweep").foreach { n =>
      val p = plan(SparkEntry.queries(n)(spark, sf))
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$n plans a cartesian:\n$p")
    }
    // q203 CMH: one conditional-count pass with partial aggregation
    val q203 = plan(SparkEntry.queries("q203_cmh")(spark, sf))
    assert("HashAggregate".r.findAllIn(q203).size >= 2,
      s"CMH cell counts lost partial aggregation:\n$q203")
    // q205 purge: a real LEFT ANTI hash join, never a nested loop
    val q205 = plan(SparkEntry.queries("q205_purge_audit")(spark, sf))
    assert(q205.contains("LeftAnti"), s"purge lost the anti join:\n$q205")
    assert(!q205.contains("BroadcastNestedLoopJoin"),
      s"purge anti join plans a cartesian:\n$q205")
    // q206 BH-FDR: the step-up rule is windows over the aggregated
    // family table (rows = #hypotheses, not #events) — no join at all
    val q206 = plan(SparkEntry.queries("q206_bh_fdr")(spark, sf))
    assert(!q206.contains("Join"), s"BH-FDR grew a join:\n$q206")
    assert(q206.contains("Window"), s"BH-FDR lost the ranking window:\n$q206")
    // q207 set ops: INTERSECT/EXCEPT plan as hash semi/anti joins or
    // count-compare aggregates — never a nested loop
    val q207 = plan(SparkEntry.queries("q207_set_ops")(spark, sf))
    assert(!q207.contains("BroadcastNestedLoopJoin") &&
      !q207.contains("CartesianProduct"),
      s"set ops plan a cartesian:\n$q207")
    // q208 coverage: the V-bounded vocabulary broadcasts
    val q208 = plan(SparkEntry.queries("q208_tokenizer_coverage")(spark, sf))
    assert(q208.contains("BroadcastHashJoin"),
      s"vocabulary membership not broadcast:\n$q208")
    // q209 hard negatives: bucket equi-join candidates, per-anchor
    // (not global) ranking window
    val q209 = plan(SparkEntry.queries("q209_hard_negatives")(spark, sf))
    assert(!q209.contains("BroadcastNestedLoopJoin") &&
      !q209.contains("CartesianProduct"),
      s"hard-negative mining plans a cartesian:\n$q209")
    assert(!q209.contains("Exchange SinglePartition"),
      s"hard-negative ranking plans a single-partition exchange:\n$q209")
    // q210 data card: narrow per-source aggregates with map-side combine
    val q210 = plan(SparkEntry.queries("q210_data_card")(spark, sf))
    assert("HashAggregate".r.findAllIn(q210).size >= 2,
      s"data card lost partial aggregation:\n$q210")
    assert(!q210.contains("CartesianProduct"),
      s"data card plans a cartesian:\n$q210")
    // q211 PQ audit: encode + audit is one aggregate over projections —
    // no join anywhere in the plan
    val q211 = plan(SparkEntry.queries("q211_pq_quantize")(spark, sf))
    assert(!q211.contains("Join"), s"PQ audit grew a join:\n$q211")
    // q212 hybrid RRF: each leg cuts via distributed top-k; the only
    // nested loop is the broadcast 1-row query vector
    val q212 = plan(SparkEntry.queries("q212_hybrid_rrf")(spark, sf))
    assert(q212.contains("TakeOrderedAndProject"),
      s"RRF legs lost the distributed top-k cut:\n$q212")
    assert(!q212.contains("CartesianProduct"),
      s"RRF plans a cartesian:\n$q212")
    assert("BroadcastNestedLoopJoin".r.findAllIn(q212).size <= 1,
      s"RRF grew a non-scalar nested loop:\n$q212")
    // q214 count-min: counters are one map-side-combined (j, cell)
    // aggregate; estimate lookup is a hash equi-join on (j, cell)
    val q214 = plan(SparkEntry.queries("q214_count_min")(spark, sf))
    assert("HashAggregate".r.findAllIn(q214).size >= 2,
      s"CMS counters lost partial aggregation:\n$q214")
    assert(!q214.contains("CartesianProduct") &&
      !q214.contains("BroadcastNestedLoopJoin"),
      s"CMS plans a cartesian:\n$q214")
    // q215 IVF-PQ: candidate generation is the cell equi-join; ranking
    // windows are per-query — never a cartesian, never single-partition
    val q215pairs = graft.sim.Pq.ivfPqTopK(
      spark.read.parquet(s"$sf/embeddings.parquet"), "vec_id", "embedding",
      k = 3, graft.sim.Pq.fit(spark.read.parquet(s"$sf/embeddings.parquet"),
        "vec_id", "embedding", m = 8, k = 16),
      nCells = 16, nprobe = 8, queryPred = col("id") < 100)
    val p215 = plan(q215pairs)
    assert(!p215.contains("CartesianProduct") &&
      !p215.contains("BroadcastNestedLoopJoin"),
      s"IVF-PQ plans a cartesian:\n$p215")
    assert(!p215.contains("Exchange SinglePartition"),
      s"IVF-PQ plans a single-partition exchange:\n$p215")
    // q216 IVM: the merge is a hash full-outer join of two O(groups)
    // aggregate states — partial aggregation everywhere, no nested loop
    val q216 = plan(SparkEntry.queries("q216_incremental_agg")(spark, sf))
    assert("HashAggregate".r.findAllIn(q216).size >= 2,
      s"IVM lost partial aggregation:\n$q216")
    assert(!q216.contains("BroadcastNestedLoopJoin") &&
      !q216.contains("CartesianProduct"),
      s"IVM plans a cartesian:\n$q216")
    // q217 attribution: purchase×touch pairing is a per-user hash
    // equi-join (window predicate is a residual filter, never a range
    // join blowup)
    val q217 = plan(SparkEntry.queries("q217_attribution")(spark, sf))
    assert(!q217.contains("BroadcastNestedLoopJoin") &&
      !q217.contains("CartesianProduct"),
      s"attribution plans a cartesian:\n$q217")
    // q218/q220 Holt–Winters + backtest: per-key folds — no window
    // operator at all
    Seq("q218_holt_winters", "q220_forecast_backtest").foreach { nm =>
      val p = plan(SparkEntry.queries(nm)(spark, sf))
      assert(!p.contains("Window"), s"$nm fold regressed to a window:\n$p")
      assert(!p.contains("CartesianProduct"), s"$nm plans a cartesian:\n$p")
    }
    // q219 conformal: segment means broadcast; q-hat is a driver
    // scalar literal — no cartesian anywhere
    val q219 = plan(SparkEntry.queries("q219_conformal")(spark, sf))
    assert(q219.contains("BroadcastHashJoin"),
      s"conformal predictor join not broadcast:\n$q219")
    assert(!q219.contains("CartesianProduct"),
      s"conformal plans a cartesian:\n$q219")
  }

  test("round-10 query plans keep their scale shapes") {
    // q222 cluster-safe split: the shingle pair stage is a banded
    // equi-join, components are iterative equi-joins — no cartesian,
    // no nested loop beyond the 1-row no-leakage scalar
    val q222 = plan(SparkEntry.queries("q222_cluster_safe_split")(spark, sf))
    assert(!q222.contains("CartesianProduct"),
      s"cluster-safe split plans a cartesian:\n$q222")
    // q223 token budget: the global running token total comes from the
    // two-phase PrefixScan — never a single-partition window
    val q223 = plan(SparkEntry.queries("q223_token_budget")(spark, sf))
    assert(!q223.contains("Window"),
      s"token budget regressed to a window:\n$q223")
    assert(!q223.contains("Exchange SinglePartition"),
      s"token budget plans a single-partition exchange:\n$q223")
    // q225 domain weights: LM count tables join hash-wise; the only
    // nested-loop joins are 1-row scalar (corpus mean, normalizer)
    val q225 = plan(SparkEntry.queries("q225_domain_weights")(spark, sf))
    assert(!q225.contains("CartesianProduct"),
      s"domain weights plan a cartesian:\n$q225")
    assert("HashAggregate".r.findAllIn(q225).size >= 2,
      s"domain weights lost partial aggregation:\n$q225")
  }

  test("round-10 codec and fingerprint plans keep their scale shapes") {
    // q232-q234 media decodes: pure per-row map work — no join, no
    // aggregation shuffle beyond the final orderBy, never a cartesian
    Seq("q232_wav_decode", "q233_gif_decode", "q234_jpeg_decode").foreach { n =>
      val p = plan(SparkEntry.queries(n)(spark, sf))
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$n plans a join it doesn't need:\n$p")
      assert(!p.contains("Window"), s"$n plans a window:\n$p")
    }
    // q235 JSON round-trip: one partial-aggregated groupBy, no joins
    val q235 = plan(SparkEntry.queries("q235_json_roundtrip")(spark, sf))
    assert("HashAggregate".r.findAllIn(q235).size >= 2,
      s"json roundtrip lost partial aggregation:\n$q235")
    assert(!q235.contains("CartesianProduct"),
      s"json roundtrip plans a cartesian:\n$q235")
    // q236 winnowing: the window-min is PARTITIONED by doc (never a
    // single-partition exchange); the pair stage is a hash equi-join
    // on fp; top-15 is a distributed TakeOrderedAndProject; the only
    // nested-loop join is the 1-row corpus-stats cross join
    val q236 = plan(SparkEntry.queries("q236_winnowing")(spark, sf))
    assert(!q236.contains("Exchange SinglePartition") ||
      q236.contains("TakeOrderedAndProject"),
      s"winnowing single-partition exchange outside the top-k:\n$q236")
    assert(q236.contains("Window"), s"winnowing lost its window-min:\n$q236")
    assert(!q236.contains("CartesianProduct"),
      s"winnowing pair stage plans a cartesian:\n$q236")
    assert("BroadcastNestedLoopJoin".r.findAllIn(q236).size <= 1,
      s"winnowing pair stage fell out of the equi join:\n$q236")
    assert(q236.contains("HashJoin") || q236.contains("SortMergeJoin"),
      s"no hash equi-join for the fingerprint pair stage:\n$q236")
  }

  test("round-10 session-2 plans keep their scale shapes") {
    // q241 LSH quality: BOTH truth and candidate stages are equi-joins
    // (shared-shingle / band-bucket inverted indexes), never cartesian
    val q241 = plan(SparkEntry.queries("q241_lsh_quality")(spark, sf))
    assert(!q241.contains("CartesianProduct"),
      s"LSH quality eval plans a cartesian:\n$q241")
    // q243/q249: components + argmax stay hash-join shaped
    Seq("q243_survivorship", "q249_curation_v2").foreach { n =>
      val p = plan(SparkEntry.queries(n)(spark, sf))
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$n plans a cartesian:\n$p")
    }
    // q247 association rules: order-confined pair equi-join, partial
    // aggregation, distributed top-15
    val q247 = plan(SparkEntry.queries("q247_assoc_rules")(spark, sf))
    assert(!q247.contains("CartesianProduct"),
      s"assoc rules plan a cartesian:\n$q247")
    assert(q247.contains("TakeOrderedAndProject"),
      s"assoc top-15 is not a distributed top-k:\n$q247")
    // q248 ensemble (r12 shape): all three score ranks derive from ONE
    // groupBy(x) and join back to rows ONCE — the final plan holds
    // exactly one join (rows × checkpointed per-x rank map) and never a
    // single-partition data window
    val q248 = plan(SparkEntry.queries("q248_outlier_ensemble")(spark, sf))
    assert(!q248.contains("CartesianProduct"),
      s"ensemble plans a cartesian:\n$q248")
    assert(!q248.contains("Window"),
      s"ensemble ranks regressed to a window:\n$q248")
    assert(q248.contains("TakeOrderedAndProject"),
      s"ensemble top-15 is not a distributed top-k:\n$q248")
    val q248Joins = "Join".r.findAllIn(q248).length
    assert(q248Joins <= 1,
      s"ensemble regressed to >1 corpus join-back ($q248Joins):\n$q248")
  }

  test("round-10 session-3 plans keep their scale shapes") {
    // q261 paragraph dedup: instances join their hash-group stats by an
    // EQUI join; partial aggregation before the hash shuffle
    val q261 = plan(SparkEntry.queries("q261_paragraph_dedup")(spark, sf))
    assert(!q261.contains("CartesianProduct") &&
      !q261.contains("BroadcastNestedLoopJoin"),
      s"paragraph dedup plans a cartesian:\n$q261")
    assert(q261.contains("HashJoin") || q261.contains("SortMergeJoin"),
      s"paragraph-hash join lost its equi shape:\n$q261")
    assert("HashAggregate".r.findAllIn(q261).size >= 2,
      s"paragraph stats lost partial aggregation:\n$q261")
    // q262 DSIR: the 1024-bucket log-ratio table must BROADCAST — the
    // corpus-side stream is never shuffled for the scoring join
    val q262 = plan(SparkEntry.queries("q262_dsir")(spark, sf))
    assert(q262.contains("BroadcastHashJoin"),
      s"DSIR log-ratio table not broadcast:\n$q262")
    assert(!q262.contains("CartesianProduct"),
      s"DSIR plans a cartesian:\n$q262")
    // q263 silhouette: centroids are PLAN LITERALS — the scoring pass
    // has no join at all (the q211 typedlit shape)
    val q263 = plan(SparkEntry.queries("q263_silhouette")(spark, sf))
    assert(!q263.contains("Join"),
      s"silhouette scoring re-grew a join (centroids must be literals):\n$q263")
    // q264 JL: the pair stage is an adjacent-id EQUI join
    val q264 = plan(SparkEntry.queries("q264_jl_projection")(spark, sf))
    assert(!q264.contains("CartesianProduct") &&
      !q264.contains("BroadcastNestedLoopJoin"),
      s"JL pair stage plans a cartesian:\n$q264")
    // q266/q268: running totals come from the two-phase PrefixScan —
    // NO window operator anywhere (the W4 invariant)
    Seq("q266_msprt", "q268_energy_distance").foreach { n =>
      val p = plan(SparkEntry.queries(n)(spark, sf))
      assert(!p.contains("Window"),
        s"$n regressed to a window for its running sums:\n$p")
      assert(!p.contains("CartesianProduct"), s"$n plans a cartesian:\n$p")
    }
    // q265/q269: one map-combinable aggregate to k metric rows; the
    // only nested loop is the 1-row total/variance broadcast
    Seq("q265_power_mde", "q269_neyman").foreach { n =>
      val p = plan(SparkEntry.queries(n)(spark, sf))
      assert("HashAggregate".r.findAllIn(p).size >= 2,
        s"$n lost partial aggregation:\n$p")
      assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1 &&
        !p.contains("CartesianProduct"),
        s"$n plans a data-sized nested loop:\n$p")
    }
    // q271 FS linkage: the candidate stage is the (nation, prefix)
    // BLOCK equi-join — never a cartesian (the prefix-12 degeneration
    // measured exponent 1.78; the plan shape pin is the regression
    // guard's first line of defense)
    val q271 = plan(SparkEntry.queries("q271_fellegi_sunter")(spark, sf))
    assert(!q271.contains("CartesianProduct") &&
      !q271.contains("BroadcastNestedLoopJoin"),
      s"FS linkage pair stage plans a cartesian:\n$q271")
    assert(q271.contains("HashJoin") || q271.contains("SortMergeJoin"),
      s"FS blocking lost its equi join:\n$q271")
    // causal trio: grouped decimal aggregates + metadata-sized scenario
    // joins — no data-sized cartesian anywhere
    Seq("q275_iv_late", "q276_did", "q277_rdd").foreach { n =>
      val p = plan(SparkEntry.queries(n)(spark, sf))
      assert(!p.contains("CartesianProduct"), s"$n plans a cartesian:\n$p")
      assert("HashAggregate".r.findAllIn(p).size >= 2,
        s"$n lost partial aggregation:\n$p")
    }
    // q279 W1: the window runs over the PRE-AGGREGATED distinct-value
    // frame (rocPoints exemption), partitioned by scenario — the
    // grouping aggregate must sit BELOW the window in the plan
    val q279 = plan(SparkEntry.queries("q279_w1_drift")(spark, sf))
    assert(!q279.contains("CartesianProduct"),
      s"W1 plans a cartesian:\n$q279")
    assert(q279.contains("Window"), s"W1 lost its distinct-value window:\n$q279")
    assert("HashAggregate".r.findAllIn(q279).size >= 2,
      s"W1 lost the pre-aggregation below its window:\n$q279")
    // q281/q282: partial aggregation; q282's vocabulary-sized margin
    // tables must BROADCAST (never shuffle the bigram stream twice)
    val q281 = plan(SparkEntry.queries("q281_brier")(spark, sf))
    assert("HashAggregate".r.findAllIn(q281).size >= 2,
      s"Brier lost partial aggregation:\n$q281")
    assert(!q281.contains("CartesianProduct") ||
      q281.contains("BroadcastNestedLoopJoin"),
      s"Brier plans a data-sized cartesian:\n$q281")
    val q282 = plan(SparkEntry.queries("q282_collocations")(spark, sf))
    assert(q282.contains("BroadcastHashJoin"),
      s"collocation margins not broadcast:\n$q282")
    assert(!q282.contains("CartesianProduct"),
      s"collocations plan a cartesian:\n$q282")
    assert(q282.contains("TakeOrderedAndProject"),
      s"collocation top-20 is not a distributed top-k:\n$q282")
    // q283/q284: the per-segment means / class margins broadcast, and
    // the scoring aggregates keep their map-side combine
    Seq("q283_pinball", "q284_ht_total").foreach { n =>
      val p = plan(SparkEntry.queries(n)(spark, sf))
      assert(!p.contains("CartesianProduct"), s"$n plans a cartesian:\n$p")
      assert("HashAggregate".r.findAllIn(p).size >= 2,
        s"$n lost partial aggregation:\n$p")
    }
    val q283 = plan(SparkEntry.queries("q283_pinball")(spark, sf))
    assert(q283.contains("BroadcastHashJoin"),
      s"pinball per-segment means not broadcast:\n$q283")
    // q285 uplift: no cartesian; the Qini window runs over the 10-row
    // pre-aggregated decile frame only (partitioned by scenario)
    val q285 = plan(SparkEntry.queries("q285_uplift")(spark, sf))
    assert(!q285.contains("CartesianProduct"),
      s"uplift plans a cartesian:\n$q285")
    assert("HashAggregate".r.findAllIn(q285).size >= 2,
      s"uplift lost partial aggregation:\n$q285")
    // q286 retrieval eval: label margins broadcast onto the top-k frame
    val q286 = plan(SparkEntry.queries("q286_retrieval_eval")(spark, sf))
    assert(!q286.contains("CartesianProduct"),
      s"retrieval eval plans a cartesian:\n$q286")
    assert(q286.contains("BroadcastHashJoin"),
      s"retrieval-eval label margins not broadcast:\n$q286")
    // q287 centroid classifier: centroids are plan literals — the
    // scoring projection (up to the confusion rollup) must not re-grow
    // a per-row join against a centroid table
    val q287 = plan(SparkEntry.queries("q287_centroid_classifier")(spark, sf))
    assert(!q287.contains("CartesianProduct"),
      s"centroid classifier plans a cartesian:\n$q287")
    assert(!q287.contains("SortMergeJoin"),
      s"centroid classifier shuffles a join (metadata joins must broadcast):\n$q287")
  }

  test("round-10 session-5/6 additions keep their scale shapes (q288-q295)") {
    // q288 Kneser-Ney: bigram formation and count joins are all equi;
    // the only 1-row frame (total bigram types) broadcasts
    val q288 = plan(SparkEntry.queries("q288_kneser_ney")(spark, sf))
    assert(!q288.contains("CartesianProduct"),
      s"Kneser-Ney plans a data-sized cartesian:\n$q288")
    assert("HashAggregate".r.findAllIn(q288).size >= 2,
      s"Kneser-Ney lost partial aggregation:\n$q288")
    // q289 Good-Turing: FoF rollup keeps map-side combine; OOV probe
    // is a hash join, not a nested loop over trigram keys
    val q289 = plan(SparkEntry.queries("q289_good_turing")(spark, sf))
    assert(!q289.contains("CartesianProduct"),
      s"Good-Turing plans a cartesian:\n$q289")
    // q290 link prediction: the distance-2 candidate stage is the
    // adjacency equi-self-join (triangle shape), never a cartesian
    val q290 = plan(SparkEntry.queries("q290_link_prediction")(spark, sf))
    assert(!q290.contains("CartesianProduct"),
      s"link prediction plans a cartesian:\n$q290")
    assert("HashAggregate".r.findAllIn(q290).size >= 2,
      s"link prediction lost partial aggregation:\n$q290")
    // q291 Hill: the distributed stage is two top-201 cuts
    val q291 = plan(SparkEntry.queries("q291_hill_tail")(spark, sf))
    assert(q291.contains("TakeOrderedAndProject"),
      s"Hill top-k cut is not a distributed top-k:\n$q291")
    // q292 McNemar: one conditional aggregate with map-side combine
    val q292 = plan(SparkEntry.queries("q292_mcnemar")(spark, sf))
    assert("HashAggregate".r.findAllIn(q292).size >= 2,
      s"McNemar lost partial aggregation:\n$q292")
    // q293 HITS: edge-score joins are equi; normalizers are 1-row
    // broadcast margins; top-10 per side is a distributed top-k
    val q293 = plan(SparkEntry.queries("q293_hits")(spark, sf))
    assert(!q293.contains("CartesianProduct"),
      s"HITS plans a cartesian:\n$q293")
    assert(q293.contains("TakeOrderedAndProject"),
      s"HITS top-10 is not a distributed top-k:\n$q293")
    // q294 bloom FPR: membership is a hash equi-join on bit positions
    val q294 = plan(SparkEntry.queries("q294_bloom_fpr")(spark, sf))
    assert(!q294.contains("CartesianProduct"),
      s"bloom FPR plans a cartesian:\n$q294")
    // q295 Heaps: the checkpoint range joins must broadcast the 10-row
    // side (BNLJ with broadcast small side is the intended shape for a
    // range predicate; a CartesianProduct would mean the broadcast hint
    // was lost)
    val q295 = plan(SparkEntry.queries("q295_heaps")(spark, sf))
    assert(!q295.contains("CartesianProduct"),
      s"Heaps checkpoint join lost its broadcast:\n$q295")
  }

  test("round-10 session-5 batch-3 additions keep their scale shapes (q296-q298)") {
    // q296 TextRank: graph construction is positional equi-self-joins;
    // the grouped count keeps map-side combine
    val q296 = plan(SparkEntry.queries("q296_textrank")(spark, sf))
    assert(!q296.contains("CartesianProduct"),
      s"TextRank plans a cartesian:\n$q296")
    // q297 DW: one corpus-sized daily aggregate; margins broadcast
    val q297 = plan(SparkEntry.queries("q297_durbin_watson")(spark, sf))
    assert(!q297.contains("CartesianProduct"),
      s"Durbin-Watson plans a cartesian:\n$q297")
    assert("HashAggregate".r.findAllIn(q297).size >= 2,
      s"Durbin-Watson lost partial aggregation:\n$q297")
    // q298 source JS: the only corpus-sized stage is the (source, word)
    // count; the pair stage is an equi-join on the vocab key
    val q298 = plan(SparkEntry.queries("q298_source_js")(spark, sf))
    assert(!q298.contains("CartesianProduct"),
      s"source-JS plans a data-sized cartesian:\n$q298")
    assert("HashAggregate".r.findAllIn(q298).size >= 2,
      s"source-JS lost partial aggregation:\n$q298")
  }

  test("round-10 session-6 additions keep their scale shapes (q299-q303)") {
    // q299 MMR: candidate scoring broadcasts the 20-query side (BNLJ
    // with broadcast is the labeled brute-force baseline shape); the
    // greedy rounds run on bounded frames
    val q299 = plan(SparkEntry.queries("q299_mmr")(spark, sf))
    assert(!q299.contains("CartesianProduct"),
      s"MMR plans a data-sized cartesian:\n$q299")
    // q300 Ljung-Box / q302 Friedman / q303 binseg: one corpus-sized
    // daily aggregate each; everything downstream is metadata-sized
    Seq("q300_ljung_box", "q302_friedman", "q303_binseg").foreach { n =>
      val p = plan(SparkEntry.queries(n)(spark, sf))
      assert(!p.contains("CartesianProduct"), s"$n plans a cartesian:\n$p")
      assert("HashAggregate".r.findAllIn(p).size >= 2,
        s"$n lost partial aggregation:\n$p")
    }
    // q301 GMM-EM: the per-iteration plans sit behind localCheckpoint
    // boundaries (the iterative-lineage rule), so the observable final
    // plan is just the projection over the checkpointed param frame —
    // pin the E-step join shape on a manually built first iteration
    val q301 = plan(SparkEntry.queries("q301_gmm_em")(spark, sf))
    assert(!q301.contains("CartesianProduct"),
      s"GMM-EM plans a cartesian:\n$q301")
    val x = spark.read.parquet(s"$sf/events.parquet")
      .select(org.apache.spark.sql.functions.lit("h").as("scenario"),
        col("value").as("xc"))
    val par1 = x.groupBy("scenario").agg(
      org.apache.spark.sql.functions.avg("xc").as("mu1"))
    val estep = plan(x.join(
      org.apache.spark.sql.functions.broadcast(par1), Seq("scenario")))
    assert(estep.contains("BroadcastExchange"),
      s"GMM-EM E-step param join shape would not broadcast:\n$estep")
  }

  test("round-10 session-6 batch-2 additions keep their scale shapes (q304-q308)") {
    // q304 Chow / q308 Page: one corpus-sized daily aggregate each
    Seq("q304_chow", "q308_page_trend").foreach { n =>
      val p = plan(SparkEntry.queries(n)(spark, sf))
      assert(!p.contains("CartesianProduct"), s"$n plans a cartesian:\n$p")
      assert("HashAggregate".r.findAllIn(p).size >= 2,
        s"$n lost partial aggregation:\n$p")
    }
    // q305 containment: pair generation is the df-capped inverted-index
    // equi-join; the top-20 cut is a distributed top-k
    val q305 = plan(SparkEntry.queries("q305_containment")(spark, sf))
    assert(!q305.contains("CartesianProduct"),
      s"containment plans a cartesian:\n$q305")
    assert(q305.contains("TakeOrderedAndProject"),
      s"containment top-20 is not a distributed top-k:\n$q305")
    // q306 capture-recapture / q307 Cochran Q: single-pass conditional
    // aggregates with map-side combine
    Seq("q306_capture_recapture", "q307_cochran_q").foreach { n =>
      val p = plan(SparkEntry.queries(n)(spark, sf))
      assert(!p.contains("CartesianProduct"), s"$n plans a cartesian:\n$p")
      assert("HashAggregate".r.findAllIn(p).size >= 2,
        s"$n lost partial aggregation:\n$p")
    }
  }

  test("round-10 session-6 batch-3 additions keep their scale shapes (q309-q312)") {
    // q309 entropy rate / q311 overdispersion: corpus-sized grouped
    // aggregates with map-side combine; margins broadcast
    Seq("q309_entropy_rate", "q311_overdispersion").foreach { n =>
      val p = plan(SparkEntry.queries(n)(spark, sf))
      assert(!p.contains("CartesianProduct"), s"$n plans a cartesian:\n$p")
      assert("HashAggregate".r.findAllIn(p).size >= 2,
        s"$n lost partial aggregation:\n$p")
    }
    // q310 seq patterns: the (user, type) span aggregate bounds the
    // self-join at 5x5 per user — no event-level pair join
    val q310 = plan(SparkEntry.queries("q310_seq_patterns")(spark, sf))
    assert(!q310.contains("CartesianProduct"),
      s"seq patterns plan a cartesian:\n$q310")
    assert("HashAggregate".r.findAllIn(q310).size >= 2,
      s"seq patterns lost partial aggregation:\n$q310")
    // q312 ESS: one per-language count; everything else metadata-sized
    val q312 = plan(SparkEntry.queries("q312_ess_weights")(spark, sf))
    assert(!q312.contains("CartesianProduct"),
      s"ESS plans a cartesian:\n$q312")
  }

  test("round-10 session-6 batch-4 additions keep their scale shapes (q313-q315)") {
    // q313 graph stats: pair/wedge generation is the bucket-confined
    // equi-self-join family (q156/q290 shape), never a cartesian
    val q313 = plan(SparkEntry.queries("q313_graph_stats")(spark, sf))
    assert(!q313.contains("CartesianProduct"),
      s"graph stats plan a cartesian:\n$q313")
    assert("HashAggregate".r.findAllIn(q313).size >= 2,
      s"graph stats lost partial aggregation:\n$q313")
    // q314 runs test: one daily aggregate; bounded-frame lag
    val q314 = plan(SparkEntry.queries("q314_runs_test")(spark, sf))
    assert(!q314.contains("CartesianProduct"),
      s"runs test plans a cartesian:\n$q314")
    // q315 Theil: per-customer aggregate + broadcast nation margins
    val q315 = plan(SparkEntry.queries("q315_theil")(spark, sf))
    assert(!q315.contains("CartesianProduct"),
      s"Theil plans a cartesian:\n$q315")
    assert(q315.contains("BroadcastHashJoin"),
      s"Theil nation margins not broadcast:\n$q315")
  }

  test("q316 Bradley-Terry keeps its scale shape") {
    // comparison-pair generation is the per-order equi-self-join; the
    // MM iterations sit behind checkpoints, so pin the observable
    // final plan for no cartesian and a distributed top-k
    val q316 = plan(SparkEntry.queries("q316_bradley_terry")(spark, sf))
    assert(!q316.contains("CartesianProduct"),
      s"Bradley-Terry plans a cartesian:\n$q316")
    assert(q316.contains("TakeOrderedAndProject"),
      s"Bradley-Terry top-20 is not a distributed top-k:\n$q316")
  }

  test("q317/q318 additions keep their scale shapes") {
    // q317 AGMS: one conditional-aggregate pass builds all 128 counters
    val q317 = plan(SparkEntry.queries("q317_join_size_ams")(spark, sf))
    assert(!q317.contains("CartesianProduct"),
      s"AGMS plans a cartesian:\n$q317")
    // q318 k-anonymity: one grouped aggregate over the corpus
    val q318 = plan(SparkEntry.queries("q318_k_anonymity")(spark, sf))
    assert(!q318.contains("CartesianProduct"),
      s"k-anonymity plans a cartesian:\n$q318")
    assert("HashAggregate".r.findAllIn(q318).size >= 2,
      s"k-anonymity lost partial aggregation:\n$q318")
  }

  test("q319/q320 additions keep their scale shapes") {
    // both: one corpus-sized daily aggregate; pair/block work runs on
    // the bounded ~30-row daily frame
    Seq("q319_mann_kendall", "q320_hurst").foreach { n =>
      val p = plan(SparkEntry.queries(n)(spark, sf))
      assert(!p.contains("CartesianProduct"), s"$n plans a cartesian:\n$p")
      assert("HashAggregate".r.findAllIn(p).size >= 2,
        s"$n lost partial aggregation:\n$p")
    }
  }

  test("q321/q322 additions keep their scale shapes") {
    // q321 color JPEG: pure per-row map (encode UDF -> decode UDF) —
    // no join of any kind may appear
    val q321 = plan(SparkEntry.queries("q321_color_jpeg")(spark, sf))
    assert(!q321.contains("Join"), s"color JPEG decode plans a join:\n$q321")
    // q322 stream twin: sessionize windows partition BY USER (never a
    // single-partition global window); daily PSI is one grouped agg
    val q322 = plan(SparkEntry.queries("q322_stream_pipeline")(spark, sf))
    assert(!q322.contains("CartesianProduct"),
      s"stream twin plans a cartesian:\n$q322")
    assert(!q322.contains("SinglePartition"),
      s"stream twin collapsed to a single partition:\n$q322")
    // q323 progressive JPEG: pure per-row map (encode UDF -> decode
    // UDF), no join, no window — embarrassingly parallel at any scale
    val q323 = plan(SparkEntry.queries("q323_jpeg_progressive")(spark, sf))
    assert(!q323.contains("Join"), s"progressive JPEG decode plans a join:\n$q323")
    assert(!q323.contains("Window"), s"progressive JPEG decode plans a window:\n$q323")
    val q324 = plan(SparkEntry.queries("q324_jpeg_restart")(spark, sf))
    assert(!q324.contains("Join"), s"restart JPEG decode plans a join:\n$q324")
    assert(!q324.contains("Window"), s"restart JPEG decode plans a window:\n$q324")
    val q325 = plan(SparkEntry.queries("q325_flac_decode")(spark, sf))
    assert(!q325.contains("Join"), s"FLAC decode plans a join:\n$q325")
    assert(!q325.contains("Window"), s"FLAC decode plans a window:\n$q325")
    // q326 WARC ingest: bucket-grouped pack + per-row parse + explode —
    // no join, no window, partial aggregation on the final rollup
    val q326 = plan(SparkEntry.queries("q326_warc_ingest")(spark, sf))
    assert(!q326.contains("Join"), s"WARC ingest plans a join:\n$q326")
    assert(!q326.contains("Window"), s"WARC ingest plans a window:\n$q326")
    assert(!q326.contains("CartesianProduct"),
      s"WARC ingest plans a cartesian:\n$q326")
    // q327 capstone: hash-dedup equi-join + prefix-scan budget — never a
    // cartesian, a nested loop, or a single-partition data window
    val q327 = plan(SparkEntry.queries("q327_crawl_capstone")(spark, sf))
    assert(!q327.contains("CartesianProduct"),
      s"capstone plans a cartesian:\n$q327")
    assert(!q327.contains("BroadcastNestedLoopJoin"),
      s"capstone plans a nested loop:\n$q327")
    assert(!q327.contains("Window"),
      s"capstone budget regressed to a window:\n$q327")
    val q328 = plan(SparkEntry.queries("q328_mp3_meta")(spark, sf))
    assert(!q328.contains("Join"), s"MP3 meta plans a join:\n$q328")
    assert(!q328.contains("Window"), s"MP3 meta plans a window:\n$q328")
    // q329 mixed-shard response ingest: same shape as q326 — bucketed
    // pack + per-row member/HTTP parse + explode, no join anywhere
    val q329 = plan(SparkEntry.queries("q329_warc_responses")(spark, sf))
    assert(!q329.contains("Join"), s"WARC response ingest plans a join:\n$q329")
    assert(!q329.contains("Window"), s"WARC response ingest plans a window:\n$q329")
    assert(!q329.contains("CartesianProduct"),
      s"WARC response ingest plans a cartesian:\n$q329")
    // q330 WebP meta: pure per-row map work, embarrassingly parallel
    val q330 = plan(SparkEntry.queries("q330_webp_meta")(spark, sf))
    assert(!q330.contains("Join"), s"WebP meta plans a join:\n$q330")
    assert(!q330.contains("Window"), s"WebP meta plans a window:\n$q330")
    val q331 = plan(SparkEntry.queries("q331_opus_meta")(spark, sf))
    assert(!q331.contains("Join"), s"Opus meta plans a join:\n$q331")
    assert(!q331.contains("Window"), s"Opus meta plans a window:\n$q331")
    // q332 stream near-dup twin: band-table equi-join against its
    // bucket-min — never a cartesian/BNLJ, never single-partition
    val q332 = plan(SparkEntry.queries("q332_stream_neardup_twin")(spark, sf))
    assert(!q332.contains("CartesianProduct"),
      s"near-dup twin plans a cartesian:\n$q332")
    assert(!q332.contains("BroadcastNestedLoopJoin"),
      s"near-dup twin plans a nested loop:\n$q332")
    assert(!q332.contains("Window"), s"near-dup twin plans a window:\n$q332")
    val q333 = plan(SparkEntry.queries("q333_vp8l_decode")(spark, sf))
    assert(!q333.contains("Join"), s"VP8L decode plans a join:\n$q333")
    assert(!q333.contains("Window"), s"VP8L decode plans a window:\n$q333")
    // q334/q335 URL canonicalization: per-row parse; the rollup keeps
    // partial aggregation and never joins
    val q334 = plan(SparkEntry.queries("q334_url_canonical")(spark, sf))
    assert(!q334.contains("Join"), s"URL canonical plans a join:\n$q334")
    assert(!q334.contains("Window"), s"URL canonical plans a window:\n$q334")
    val q335 = plan(SparkEntry.queries("q335_domain_stats")(spark, sf))
    assert(!q335.contains("Join"), s"domain stats plans a join:\n$q335")
    assert("HashAggregate".r.findAllIn(q335).size >= 2,
      s"domain stats lost partial aggregation:\n$q335")
    // q336/q337 HTML extraction + robots evaluation: per-row map work
    val q336 = plan(SparkEntry.queries("q336_html_extract")(spark, sf))
    assert(!q336.contains("Join"), s"HTML extract plans a join:\n$q336")
    assert(!q336.contains("Window"), s"HTML extract plans a window:\n$q336")
    val q337 = plan(SparkEntry.queries("q337_robots")(spark, sf))
    assert(!q337.contains("Join"), s"robots eval plans a join:\n$q337")
    assert(!q337.contains("Window"), s"robots eval plans a window:\n$q337")
    // q338 frontier capstone: per-canonical min equi-join only
    val q338 = plan(SparkEntry.queries("q338_frontier_capstone")(spark, sf))
    assert(!q338.contains("CartesianProduct"),
      s"frontier capstone plans a cartesian:\n$q338")
    assert(!q338.contains("BroadcastNestedLoopJoin"),
      s"frontier capstone plans a nested loop:\n$q338")
    assert(!q338.contains("Window"),
      s"frontier capstone dedup regressed to a window:\n$q338")
    val q339 = plan(SparkEntry.queries("q339_link_extract")(spark, sf))
    assert(!q339.contains("Join"), s"link extract plans a join:\n$q339")
    assert(!q339.contains("Window"), s"link extract plans a window:\n$q339")
    val q340 = plan(SparkEntry.queries("q340_sitemap")(spark, sf))
    assert(!q340.contains("Join"), s"sitemap parse plans a join:\n$q340")
    assert(!q340.contains("Window"), s"sitemap parse plans a window:\n$q340")
    assert("HashAggregate".r.findAllIn(q322).size >= 2,
      s"stream twin lost partial aggregation:\n$q322")
  }

  test("forest scoring stays inside whole-stage codegen") {
    // parquet-backed: a local relation would be constant-folded away
    val df = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("features"))
    val forest = graft.score.IsolationForest.fit(df, "id", "features",
      numTrees = 10, maxSamples = 8, poolSize = 50)
    val linear = graft.score.LinearAE.fit(df, "id", "features", k = 2,
      sampleSize = 50)
    for ((name, scored) <- Seq("forest" -> forest.transform(df, "features"),
                               "linear AE" -> linear.transform(df, "features"))) {
      val p = plan(scored)
      // "*(n)" node prefixes mark whole-stage-codegen regions in the
      // compact plan string; the one scorer node's Project must carry one
      assert(p.linesIterator.exists(l => l.contains("arrayscoreexpr") && l.contains("*(")),
        s"$name scoring fell out of codegen:\n$p")
    }
  }
}
