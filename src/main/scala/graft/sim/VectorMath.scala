package graft.sim

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cosine from precomputed norms (with its DuckDB twins) over
  * `ArrayType(Float/Double)` embedding columns, and the higher-order-
  * function references of the native kernels.
  *
  * Queries compute dot products and norms with the codegen'd
  * [[GraftFunctions.dot]] / [[GraftFunctions.norm2]]. The interpreted
  * [[dot]], [[norm2]] and [[cosine]] here are kept only as the references
  * AnnSpec and DedupSpec compare those kernels against: `aggregate` folds
  * the array sequentially in index order, exactly as the kernels and
  * DuckDB's `list_reduce` do, so for same-length vectors all three are
  * bitwise identical across partitionings and engines — no decimal
  * widening needed, unlike shuffled aggregates (see graft.core.Stats).
  *
  * Scale: norms are meant to be computed once per vector *before* any
  * pair join, so an n×n similarity stage joins pre-reduced
  * (id, vec, norm) tuples and the O(d) work per pair is a single dot
  * product.
  */
object VectorMath {

  /** Elementwise product sum (dot), sequential double fold. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** Squared L2 norm, sequential double fold. */
  def norm2(a: Column): Column =
    aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double"))

  /** Cosine similarity given precomputed squared norms. A zero-norm
    * side (the zero vector — empty embeddings do occur in real
    * corpora) is DEFINED as similarity 0.0 rather than a
    * divide-by-zero: under ANSI mode the raw division would fail the
    * whole stage, and "no direction" ≡ "similar to nothing" is the
    * convention every downstream θ-prune wants. The SQL twin matches.
    */
  def cosineFromNorms(dotAB: Column, n2a: Column, n2b: Column): Column =
    when(n2a === 0.0 || n2b === 0.0, lit(0.0))
      .otherwise(dotAB / (sqrt(n2a) * sqrt(n2b)))

  def cosine(a: Column, b: Column): Column =
    cosineFromNorms(dot(a, b), norm2(a), norm2(b))

  /** DuckDB twins: identical sequential folds over list columns. */
  object Sql {
    def dot(a: String, b: String): String =
      s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, len($a)), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), (acc, x) -> acc + x)"
    def norm2(a: String): String =
      s"list_reduce(list_prepend(0.0::DOUBLE, list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (acc, x) -> acc + x)"
    def cosineFromNorms(d: String, n2a: String, n2b: String): String =
      s"(CASE WHEN $n2a = 0 OR $n2b = 0 THEN 0.0 ELSE ($d / (sqrt($n2a) * sqrt($n2b))) END)"
  }
}
