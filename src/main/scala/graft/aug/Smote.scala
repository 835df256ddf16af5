package graft.aug

import graft.core.Caches
import graft.sim.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic SMOTE minority oversampling (reference SURVEY.md §2.7
  * R2: k-NN interpolation of the minority class,
  * `app/data_augmentation_enhanced.py:250-265`).
  *
  * The reference draws neighbor choice and interpolation factor from a
  * seeded numpy RNG; bitwise parity with that is impossible from any
  * other engine, so this implementation replaces the RNG with hash
  * arithmetic on the synthetic-row index — same distributional behavior,
  * fully reproducible across engines/partitionings (and hence
  * DuckDB-oracle-checkable end to end):
  *
  *   synthetic row r (0-based):  base a = minority[r mod n]
  *   neighbor pick  j = (h₁(r) mod k)+1-th nearest neighbor of a
  *   lerp factor    u = h₂(r)/P ∈ [0,1)
  *   vec            = va + u·(vb − va)  (elementwise)
  *
  * Scale: the minority class is small by definition (the reference's is
  * 4 rows); the all-pairs k-NN below is O(m²·d) on m minority rows with
  * the codegen'd dot kernel. For a large "minority", swap the k-NN stage
  * for [[graft.sim.Ann.lshTopK]] — the interpolation stage is unchanged.
  */
object Smote {

  val P: Long = graft.text.TextOps.P

  private def h(r: Column, c1: Long, c2: Long): Column =
    ((r * lit(c1) + lit(c2)) % lit(P) + lit(P)) % lit(P)

  /** Generate `target` synthetic minority rows.
    * Output: (synth_id, a, b, u, vec) where a/b are source minority ids.
    */
  def oversample(df: DataFrame, idCol: String, vecCol: String,
                 minorityPred: Column, k: Int, target: Int): DataFrame = {
    val m = Caches.keep("smote.oversample", df.where(minorityPred)
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .withColumn("rn",
        row_number().over(Window.orderBy("id")).cast("long") - 1)
      .withColumn("n2", GraftFunctions.norm2(col("vec"))))

    // k nearest neighbors per minority row: d² = |a|² + |b|² − 2·a·b
    val nCnt = m.count()
    require(nCnt >= 2, s"SMOTE needs >= 2 minority rows, got $nCnt")
    // a row has only nCnt-1 neighbors: clamp k so every pick resolves
    // (otherwise synthetic rows with out-of-range picks silently vanish)
    val kEff = math.min(k, (nCnt - 1).toInt)

    val nn = m.as("x").join(m.as("y"), col("x.id") =!= col("y.id"))
      .select(col("x.rn").as("arn"), col("y.rn").as("brn"),
        (col("x.n2") + col("y.n2") -
          lit(2.0) * GraftFunctions.dot(col("x.vec"), col("y.vec"))).as("d2"))
      .withColumn("nnrank", row_number().over(
        Window.partitionBy("arn").orderBy(asc("d2"), asc("brn"))))
      .where(col("nnrank") <= kEff)

    val synth = df.sparkSession.range(target).toDF("synth_id")
      .withColumn("arn", col("synth_id") % nCnt)
      .withColumn("pick", (h(col("synth_id"), 2654435761L, 97L) % kEff) + 1)
      .withColumn("u", h(col("synth_id"), 1103515245L, 12345L)
        .cast("double") / lit(P.toDouble))

    val out = synth
      .join(nn, Seq("arn"))
      .where(col("nnrank") === col("pick"))
      .join(m.select(col("rn").as("arn"), col("id").as("a"), col("vec").as("va")), "arn")
      .join(m.select(col("rn").as("brn"), col("id").as("b"), col("vec").as("vb")), "brn")
      .select(col("synth_id"), col("a"), col("b"), col("u"),
        zip_with(col("va"), col("vb"),
          (x, y) => x.cast("double") + col("u") * (y.cast("double") - x.cast("double")))
          .as("vec"))
    out
  }

  /** Balanced frame: original rows + synthetic rows for the minority
    * class, the reference's end-to-end augmentation flow (original union
    * synthetic, J1).
    */
  def balance(df: DataFrame, idCol: String, vecCol: String, classCol: String,
              minorityValue: Any, k: Int, target: Int): DataFrame = {
    // synthetic ids start past the real id range — a fixed offset would
    // collide with real rows once ids grow past it (empty/uncastable
    // ids ⇒ null max ⇒ start at 1)
    val maxRow = df.agg(max(col(idCol).cast("long"))).head()
    val idBase = (if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)) + 1L
    val synth = oversample(df, idCol, vecCol,
      col(classCol) === lit(minorityValue), k, target)
      .select((col("synth_id") + idBase).as(idCol), col("vec").as(vecCol),
        lit(minorityValue).as(classCol))
    df.select(col(idCol).cast("long"), col(vecCol).cast("array<double>"), col(classCol))
      .unionByName(synth)
  }
}
