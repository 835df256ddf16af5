package graft.score

/** Pointer-free isolation forest: every tree flattened into parallel
  * primitive arrays so the scoring loop is a tight `int`/`double` walk
  * with no virtual dispatch, no boxing, and no object graph to chase.
  * Leaves store their `c(size)` term in `threshold`, so a walk
  * accumulates `depth + threshold(leaf)` directly.
  *
  * A 6000-tree forest with ψ=16 (the reference's largest grid point,
  * `app/IsolationForest_AE.py:210-247`) flattens to ~4 MB of arrays —
  * broadcast once, shared by every task on an executor, and scored by
  * [[ArrayScoreExpr]] like every other driver-fit model.
  */
final class FlatForest private (
    roots: Array[Int],
    feature: Array[Int], // -1 marks a leaf
    threshold: Array[Double], // split value, or c(size) at a leaf
    left: Array[Int],
    right: Array[Int],
    cNorm: Double)
    extends ArrayScorer {

  /** Same arithmetic, same order as `IsolationForest.Model.score`. */
  def score(x: Array[Double]): Double = {
    var s = 0.0
    var t = 0
    while (t < roots.length) {
      var node = roots(t)
      var depth = 0
      while (feature(node) >= 0) {
        node = if (x(feature(node)) < threshold(node)) left(node) else right(node)
        depth += 1
      }
      s += depth + threshold(node)
      t += 1
    }
    math.pow(2.0, -(s / roots.length) / cNorm)
  }
}

object FlatForest {
  def apply(m: IsolationForest.Model): FlatForest = {
    import IsolationForest._
    val feature = scala.collection.mutable.ArrayBuffer.empty[Int]
    val threshold = scala.collection.mutable.ArrayBuffer.empty[Double]
    val left = scala.collection.mutable.ArrayBuffer.empty[Int]
    val right = scala.collection.mutable.ArrayBuffer.empty[Int]
    def emit(t: ITree): Int = t match {
      case Leaf(size) =>
        val i = feature.length
        feature += -1; threshold += c(size); left += -1; right += -1
        i
      case Split(f, v, l, r) =>
        val i = feature.length
        feature += f; threshold += v; left += -1; right += -1
        left(i) = emit(l)
        right(i) = emit(r)
        i
    }
    val roots = m.trees.map(emit)
    new FlatForest(roots, feature.toArray, threshold.toArray,
      left.toArray, right.toArray, c(m.sampleSize))
  }
}
