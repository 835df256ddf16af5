package graft.eval

import graft.core.{Caches, Quantiles}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Grid-search threshold selection (reference SURVEY.md §2.4 A15: manual
  * nested-loop grids, `app/IsolationForest_AE_enhanced.py:39-146`;
  * GridSearchCV at `app/IsolationForest_AE.py:210-247`).
  *
  * SINGLE-PASS at scale: instead of cross-joining the table against the
  * grid (row count × grid size), every grid point becomes three
  * conditional aggregates in ONE scan — a 10-point grid is 30 extra
  * partial-agg columns, map-side combined, no extra shuffle. The 1×3n
  * result row is unpivoted driver-free via `inline(array(struct…))`.
  */
object GridSearch {

  /** F1 per candidate threshold (quantiles `ps` of the score column).
    * Output: (p, threshold, tp, fp, fn, f1) — one row per grid point.
    */
  def thresholdGrid(df: DataFrame, labelCol: String, scoreCol: String,
                    ps: Seq[Double]): DataFrame = {
    val thrs = Quantiles.exactQuantiles(df, scoreCol, ps)
    val y = col(labelCol)
    val s = col(scoreCol).cast("double")
    val aggs = ps.indices.flatMap { i =>
      // null/NaN scores are misses, never hits: without the guard Spark
      // (and DuckDB) order NaN above every threshold, so a NaN row
      // would count as tp/fp
      val pred = s.isNotNull && !isnan(s) && s > thrs(i)
      Seq(
        count(when(pred && y === 1, 1)).as(s"tp_$i"),
        count(when(pred && y === 0, 1)).as(s"fp_$i"),
        count(when(!pred && y === 1, 1)).as(s"fn_$i"))
    }
    val onerow = df.agg(aggs.head, aggs.tail: _*)
    val structs = ps.indices.map { i =>
      struct(lit(ps(i)).as("p"), lit(thrs(i)).as("threshold"),
        col(s"tp_$i").as("tp"), col(s"fp_$i").as("fp"), col(s"fn_$i").as("fn"))
    }
    onerow.select(inline(array(structs: _*)))
      .withColumn("f1",
        when(lit(2) * col("tp") + col("fp") + col("fn") === 0, lit(null))
          .otherwise((lit(2.0) * col("tp")) /
            (lit(2) * col("tp") + col("fp") + col("fn")).cast("double")))
  }

  /** Model-hyperparameter grid for the native isolation forest — the
    * reference's manual IF search with its stability score
    * (`app/IsolationForest_AE_enhanced.py:39-146`:
    * `1/(1 + σ/(μ+1e-8) + range/(μ+1e-8))` over the score
    * distribution; GridSearchCV analog at
    * `app/IsolationForest_AE.py:210-247`).
    *
    * Scale shape: every candidate's FIT is a bounded driver computation
    * (trees see ≤ maxSamples of a 4096-row deterministic pool), and ALL
    * candidates' SCORING DISTRIBUTIONS come from ONE pass: each model
    * is a broadcast codegen'd map column, and the moments
    * (mean/σ/min/max via decimal-exact sums) are 4·|grid| mergeable
    * aggregates in a single scan — no collect of scores, no
    * per-candidate scan, no shuffle beyond the one agg.
    */
  def ifParamGrid(df: DataFrame, idCol: String, featuresCol: String,
                  grid: Seq[(Int, Int)], poolSize: Int = 4096,
                  seed: Long = 42L): DataFrame = {
    import graft.core.Stats
    import graft.score.IsolationForest
    val spark = df.sparkSession
    import spark.implicits._
    val base = Caches.keep("gridsearch.ifParamGrid",
      df.select(col(idCol), col(featuresCol)))
    // one TakeOrdered job: every candidate fits from the same pool
    val pool = IsolationForest.collectPool(base, idCol, featuresCol, poolSize)
    val models = grid.map { case (numTrees, maxSamples) =>
      IsolationForest.fitPool(pool,
        numTrees = numTrees, maxSamples = maxSamples, seed = seed)
    }
    val scored = models.zipWithIndex.foldLeft(base) { case (acc, (m, i)) =>
      m.transform(acc, featuresCol, s"__s$i")
    }
    val aggs = grid.indices.flatMap { i =>
      val s = col(s"__s$i")
      Seq(Stats.dmean(s).as(s"mu_$i"), sqrt(Stats.dvarPop(s)).as(s"sd_$i"),
        min(s).as(s"mn_$i"), max(s).as(s"mx_$i"))
    }
    val r = scored.agg(aggs.head, aggs.tail: _*).head()
    val rows = grid.zipWithIndex.map { case ((numTrees, maxSamples), i) =>
      val mu = r.getDouble(4 * i); val sd = r.getDouble(4 * i + 1)
      val mn = r.getDouble(4 * i + 2); val mx = r.getDouble(4 * i + 3)
      val stability = 1.0 / (1.0 + sd / (mu + 1e-8) + (mx - mn) / (mu + 1e-8))
      (numTrees, maxSamples, mu, sd, mx - mn, stability)
    }
    rows.toDF("num_trees", "max_samples", "mean_score", "std_score",
      "score_range", "stability")
  }

  /** k-fold cross-validated threshold grid — A15's GridSearchCV analog
    * (`app/IsolationForest_AE.py:210-247`, cv=5) made engine-exact:
    * folds are a deterministic 64-bit hash of the id (partition-proof
    * and replicable in SQL, so the whole CV is oracle-checkable); for
    * each candidate quantile p the threshold is fit per fold on the
    * TRAIN side (fold ≠ f; exact interpolated quantile via the
    * distributed selection) and the confusion counts are measured on
    * the HELD-OUT side (fold = f).
    *
    * Scale shape: thresholds come from [[graft.core.OrderStats]] over
    * the persisted (id, label, score) projection; then ONE
    * conditional-agg pass computes every (fold, p) confusion cell —
    * k·|ps|·3 mergeable aggregates, no per-fold scan. Output is one
    * row per (p, fold): fold-level cells are exact in both engines,
    * where a cross-fold float mean would be summation-order-sensitive.
    */
  def cvThresholdGrid(df: DataFrame, idCol: String, labelCol: String,
                      scoreCol: String, ps: Seq[Double], k: Int = 5): DataFrame = {
    require(k >= 2, "need at least 2 folds")
    val s = col(scoreCol).cast("double")
    val y = col(labelCol)
    val base = Caches.keep("gridsearch.cvThresholdGrid", df.select(
        col(idCol).cast("long").as("id"), y.as("y"), s.as("s"))
      // pmod, not %: Scala/Spark % is a signed remainder, so a negative
      // id would land in a negative fold and silently match no
      // `fold === f` — excluded from every threshold fit and confusion
      // cell. A non-numeric id casts to null: fail loudly instead of
      // silently shrinking the CV population.
      .withColumn("fold",
        when(col("id").isNull, raise_error(lit(
          "cvThresholdGrid: id column cast to null — fold assignment needs numeric non-null ids")))
          .otherwise(
            pmod(pmod(col("id"), lit(FoldP)) * lit(FoldC1 % FoldP) + lit(FoldC2), lit(FoldP)) % k)))
    // ALL k×|ps| exact train-side thresholds from ONE multi-fold prefix
    // scan (3 jobs total), instead of k independent quantile selections
    val thr = foldThresholds(base, k, ps)
    // one pass: every (fold, p) confusion cell as conditional aggregates
    val aggs = for {
      f <- 0 until k
      i <- ps.indices
      (nm, pred) <- {
        // a hit requires a real (non-null, non-NaN) score above the
        // threshold — NaN compares greater than everything in both
        // Spark and DuckDB, so an unguarded `s > thr` would count NaN
        // rows as hits; everything that is not a hit (including
        // null/NaN scores) is a miss
        val real = col("s").isNotNull && !isnan(col("s"))
        val hit = col("fold") === f && real && col("s") > thr(f)(i)
        val miss = col("fold") === f && !(real && col("s") > thr(f)(i))
        Seq(("tp", hit && col("y") === 1), ("fp", hit && col("y") === 0),
          ("fn", miss && col("y") === 1))
      }
    } yield count(when(pred, 1)).as(s"${nm}_${f}_$i")
    val onerow = base.agg(aggs.head, aggs.tail: _*)
    val structs = for {
      f <- 0 until k
      i <- ps.indices
    } yield struct(
      lit(ps(i)).as("p"), lit(f).as("fold"), lit(thr(f)(i)).as("threshold"),
      col(s"tp_${f}_$i").as("tp"), col(s"fp_${f}_$i").as("fp"),
      col(s"fn_${f}_$i").as("fn"))
    val out = onerow.select(inline(array(structs: _*)))
      .withColumn("f1",
        when(lit(2) * col("tp") + col("fp") + col("fn") === 0, lit(null))
          .otherwise((lit(2.0) * col("tp")) /
            (lit(2) * col("tp") + col("fp") + col("fn")).cast("double")))
    // materialize while `base` is still cached: the returned frame is
    // built from the collected rows
    val local = out.collect().toIndexedSeq
    df.sparkSession.createDataFrame(
      df.sparkSession.sparkContext.parallelize(local, 1), out.schema)
  }

  /** Exact interpolated quantiles of the score over every fold's
    * COMPLEMENT (train side), all from one distributed prefix scan:
    *
    *  1. groupBy(score) with one count per fold — shuffle shrinks the
    *     input to #distinct scores × k counts;
    *  2. range-repartition + in-partition sort by score; per-partition
    *     fold subtotals to the driver (tiny), prefix into offsets;
    *  3. one streaming pass locates, for every (fold, rank), the score
    *     whose complement-cumulative range covers the rank — the
    *     bracketing order statistics of all k·|ps| quantiles in a
    *     single job.
    *
    * Interpolation matches `OrderStats`/Catalyst `Percentile` bitwise.
    * Scales like any groupBy + sorted scan: no per-node buffer of
    * values, no repeated passes per fold.
    */
  private def foldThresholds(base: DataFrame, k: Int,
                             ps: Seq[Double]): Map[Int, Seq[Double]] = {
    val spark = base.sparkSession
    val cnts = (0 until k).map(f => count(when(col("fold") === f, 1)).as(s"c$f"))
    // null/NaN scores carry no rank information — excluded from the
    // threshold fit (quantile semantics); the confusion pass counts
    // them as misses via its explicit non-null/non-NaN hit guard
    val perScore = base
      .where(col("s").isNotNull && !isnan(col("s").cast("double")))
      .groupBy(col("s").cast("double").as("score"))
      .agg(cnts.head, cnts.tail: _*)
    val parts = math.max(1, spark.sparkContext.defaultParallelism)
    // not kept: the two passes below read it, then it is released
    val sorted = perScore.repartitionByRange(parts, col("score"))
      .sortWithinPartitions("score")
      .persist(Caches.level)
    val sub = sorted.rdd.mapPartitionsWithIndex { case (i, it) =>
      val t = new Array[Long](k)
      it.foreach { r => var f = 0; while (f < k) { t(f) += r.getLong(f + 1); f += 1 } }
      Iterator((i, t))
    }.collect().sortBy(_._1)
    val offsets = Array.ofDim[Long](sub.length, k)
    val running = new Array[Long](k)
    sub.foreach { case (i, t) =>
      Array.copy(running, 0, offsets(i), 0, k)
      var f = 0
      while (f < k) { running(f) += t(f); f += 1 }
    }
    val nFold = running.clone()
    val nTot = nFold.sum
    // 1-indexed bracketing ranks per fold over its complement
    val nComp = (0 until k).map(f => nTot - nFold(f))
    nComp.foreach(n => require(n > 0, "a fold's training complement is empty"))
    val needed: Array[Array[Long]] = (0 until k).map { f =>
      ps.flatMap { p =>
        val h = p * (nComp(f) - 1)
        Seq(math.floor(h).toLong + 1L, math.ceil(h).toLong + 1L)
      }.distinct.sorted.toArray
    }.toArray
    val bcOff = spark.sparkContext.broadcast(offsets)
    val bcNeed = spark.sparkContext.broadcast(needed)
    val picks = sorted.rdd.mapPartitionsWithIndex { case (i, it) =>
      val cum = bcOff.value(i).clone()
      it.flatMap { r =>
        val score = r.getDouble(0)
        val rowCnt = Array.tabulate(k)(f => r.getLong(f + 1))
        val rowTot = rowCnt.sum
        var cumTot = 0L
        var f = 0
        while (f < k) { cumTot += cum(f); f += 1 }
        // materialize BEFORE mutating cum — the comprehension closes
        // over the mutable array
        val out = (for {
          f <- (0 until k).iterator
          cumC = cumTot - cum(f)
          cntC = rowTot - rowCnt(f)
          if cntC > 0
          rk <- bcNeed.value(f).iterator
          if rk > cumC && rk <= cumC + cntC
        } yield ((f, rk), score)).toList
        f = 0
        while (f < k) { cum(f) += rowCnt(f); f += 1 }
        out
      }
    }.collect().toMap
    sorted.unpersist()
    (0 until k).map { f =>
      f -> ps.map { p =>
        val h = p * (nComp(f) - 1)
        val fl = math.floor(h); val cl = math.ceil(h)
        val lo = picks((f, fl.toLong + 1L))
        if (cl == fl) lo
        else lo * (cl - h) + picks((f, cl.toLong + 1L)) * (h - fl)
      }
    }.toMap
  }

  /** Fold-hash constants (pure 64-bit arithmetic, same family as
    * `graft.sim.Ann`). The hash reduces the id pmod P BEFORE the
    * multiply, so pmod(id,P)·(C1%P) < 2⁶³ for ANY Long id — no
    * wraparound on the Spark side and no BIGINT overflow error on the
    * SQL side; pmod (not %) keeps negative ids in [0, k) folds.
    */
  val FoldC1 = 2654435761L
  val FoldC2 = 40503L
  val FoldP = 1000000007L

  /** CV winner: max mean-F1 across folds (driver-side over the tiny
    * fold grid; sequential fold order ⇒ deterministic mean), ties to
    * the smaller quantile. Mirrors GridSearchCV cv=5
    * (`app/IsolationForest_AE.py:210-247`, SURVEY A15).
    */
  def cvBestThreshold(df: DataFrame, idCol: String, labelCol: String,
                      scoreCol: String, ps: Seq[Double], k: Int = 5): (Double, Double) = {
    val rows = cvThresholdGrid(df, idCol, labelCol, scoreCol, ps, k)
      .select("p", "f1").collect()
    val byP = rows.groupBy(_.getDouble(0)).map { case (p, rs) =>
      val f1s = rs.flatMap(r => Option(r.get(1)).map(_.asInstanceOf[Double]))
      p -> (if (f1s.isEmpty) 0.0 else f1s.sum / f1s.length)
    }
    byP.toSeq.sortBy { case (p, m) => (-m, p) }.head
  }

  /** The winning threshold: max F1, ties to the smaller quantile — the
    * argmax threshold pick (`app/AE_model_enhanced.py:154-155`, SURVEY L4). */
  def bestThreshold(df: DataFrame, labelCol: String, scoreCol: String,
                    ps: Seq[Double]): DataFrame =
    thresholdGrid(df, labelCol, scoreCol, ps)
      .orderBy(desc("f1"), asc("p"))
      .limit(1)
}
