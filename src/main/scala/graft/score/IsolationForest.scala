package graft.score

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Native Isolation Forest (reference SURVEY.md §7: sklearn
  * `IsolationForest` at `app/IsolationForest_AE.py:210-247` — n_estimators
  * up to 6000 with max_samples=16, i.e. each tree sees a *tiny* bootstrap
  * sample).
  *
  * Architecture mirrors the engine's model contract: FIT on the driver
  * over a small deterministic sample (the reference collects too — its
  * trees are 16-row objects), then SCORE distributed — the fitted forest
  * is a few KB, broadcast to executors, applied as one map stage. No
  * `collect()` of the scored table ever happens, which is the whole
  * point at 100 TB.
  *
  * Determinism: the fit pool is the lexicographically-first `poolSize`
  * rows by `idCol` (not a partition-order-dependent `take`), and all
  * randomness flows from `new util.Random(seed ⊕ treeIndex)`. Same
  * data + params ⇒ same forest ⇒ same scores, on any cluster layout.
  * (Bitwise parity with sklearn's RNG is impossible and not claimed —
  * tests assert distributional/ranking properties, per SURVEY.md §7.)
  */
object IsolationForest {

  sealed trait ITree extends Serializable
  final case class Leaf(size: Int) extends ITree
  final case class Split(feature: Int, value: Double, left: ITree, right: ITree)
      extends ITree

  /** Average unsuccessful-search path length in a BST of n nodes. */
  def c(n: Int): Double =
    if (n <= 1) 0.0
    else 2.0 * (math.log(n - 1.0) + 0.5772156649015329) - 2.0 * (n - 1.0) / n

  final class Model(val trees: Array[ITree], val sampleSize: Int)
      extends Serializable {

    private val cn = c(sampleSize)

    def pathLength(x: Array[Double], t: ITree, depth: Int): Double = t match {
      case Leaf(size) => depth + c(size)
      case Split(f, v, l, r) =>
        if (x(f) < v) pathLength(x, l, depth + 1) else pathLength(x, r, depth + 1)
    }

    /** Anomaly score in (0,1]: 2^(−E[h(x)]/c(ψ)); higher = more anomalous. */
    def score(x: Array[Double]): Double = {
      var s = 0.0
      var i = 0
      while (i < trees.length) { s += pathLength(x, trees(i), 0); i += 1 }
      math.pow(2.0, -(s / trees.length) / cn)
    }

    /** Distributed scoring: broadcast the [[FlatForest flattened forest]],
      * apply as a codegen'd map stage ([[ArrayScoreExpr]]) — no boxing, no
      * encoder round-trip; bitwise-identical scores to [[udfTransform]].
      */
    def transform(df: DataFrame, featuresCol: String,
                  outCol: String = "if_score"): DataFrame =
      ArrayScoreExpr.withScore(df, FlatForest(this), featuresCol, outCol)

    /** Boxed Scala-UDF scoring — correctness baseline for the codegen
      * path (ModelSpec asserts bitwise equality); not used by queries.
      */
    def udfTransform(df: DataFrame, featuresCol: String,
                     outCol: String = "if_score"): DataFrame = {
      val bc = df.sparkSession.sparkContext.broadcast(this)
      val scoreUdf = udf { xs: Seq[Double] => bc.value.score(xs.toArray) }
      df.withColumn(outCol, scoreUdf(col(featuresCol)))
    }
  }

  private def buildTree(data: Array[Array[Double]], rnd: util.Random,
                        depth: Int, maxDepth: Int): ITree = {
    if (data.length <= 1 || depth >= maxDepth) Leaf(data.length)
    else {
      val d = data(0).length
      // random feature with spread; give up after d tries (all-constant node)
      var attempt = 0
      var f = -1
      var lo = 0.0
      var hi = 0.0
      while (attempt < d && f < 0) {
        val cand = rnd.nextInt(d)
        var mn = Double.PositiveInfinity
        var mx = Double.NegativeInfinity
        data.foreach { row =>
          if (row(cand) < mn) mn = row(cand)
          if (row(cand) > mx) mx = row(cand)
        }
        if (mx > mn) { f = cand; lo = mn; hi = mx }
        attempt += 1
      }
      if (f < 0) Leaf(data.length)
      else {
        val v = lo + rnd.nextDouble() * (hi - lo)
        val (l, r) = data.partition(_(f) < v)
        if (l.isEmpty || r.isEmpty) Leaf(data.length)
        else Split(f, v,
          buildTree(l, rnd, depth + 1, maxDepth),
          buildTree(r, rnd, depth + 1, maxDepth))
      }
    }
  }

  /** Fit on the first `poolSize` rows by `idCol` (deterministic pool);
    * each tree bootstraps `maxSamples` rows from the pool.
    */
  def fit(df: DataFrame, idCol: String, featuresCol: String,
          numTrees: Int = 100, maxSamples: Int = 16,
          poolSize: Int = 4096, seed: Long = 42L): Model =
    fitPool(collectPool(df, idCol, featuresCol, poolSize),
      numTrees, maxSamples, seed)

  /** The deterministic fit pool: lexicographically-first `poolSize` rows
    * by `idCol`. One TakeOrdered job; reusable across a parameter grid
    * (`eval.GridSearch.ifParamGrid` collects it once for all candidates).
    */
  def collectPool(df: DataFrame, idCol: String, featuresCol: String,
                  poolSize: Int = 4096): Array[Array[Double]] =
    FitPool.collect(df, idCol, featuresCol, poolSize)

  /** Fit from a pre-collected pool (driver-side, bounded). */
  def fitPool(pool: Array[Array[Double]], numTrees: Int = 100,
              maxSamples: Int = 16, seed: Long = 42L): Model = {
    require(pool.nonEmpty, "empty fit pool")
    val psi = math.min(maxSamples, pool.length)
    val maxDepth = math.ceil(math.log(psi.toDouble) / math.log(2.0)).toInt
    val trees = Array.tabulate(numTrees) { t =>
      val rnd = new util.Random(seed * 1000003L + t)
      val sample = Array.fill(psi)(pool(rnd.nextInt(pool.length)))
      buildTree(sample, rnd, 0, maxDepth)
    }
    new Model(trees, psi)
  }
}
