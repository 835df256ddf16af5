package graft.sim

import graft.core.Caches
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths:
  *  - [[cosineTopK]] — brute-force all-pairs cosine top-k: the
  *    correctness baseline. O(n²·d) with the codegen'd
  *    [[DotProductExpr]] kernel; right answer at any scale where n²
  *    pairs are tractable.
  *  - [[lshTopK]] — random-hyperplane LSH: L tables × b hyperplane sign
  *    bits per vector (one map stage), bucket equi-join for candidates,
  *    exact cosine re-rank of candidates only. This is the 100 TB path:
  *    the only all-corpus shuffle carries (id, table, bucket) triples,
  *    and pair work is confined to buckets. Recall tunes with (L, b).
  *
  * Hyperplanes are pseudo-random but fully deterministic arithmetic —
  * component (p, j) = ((2654435761·(p·dim+j) + 40503) mod P)/P − ½ —
  * so results are reproducible across runs, partitionings, and the SQL
  * oracle (no RNG state, no driver-side materialization to broadcast).
  */
object Ann {

  val P: Long = graft.text.TextOps.P
  val C1 = 2654435761L
  val C2 = 40503L

  /** Hyperplane component (plane p, coordinate j) in [−½, ½). */
  def planeComp(p: Column, j: Column, dim: Int): Column =
    (((lit(C1) * (p.cast("long") * dim + j.cast("long")) + lit(C2)) % lit(P))
      .cast("double") / lit(P.toDouble)) - lit(0.5)

  /** Signed projection of `vec` onto plane p (sequential fold — exact
    * parity with the oracle's list_reduce).
    */
  private def planeDot(vec: Column, p: Column, dim: Int): Column =
    aggregate(sequence(lit(1), lit(dim)), lit(0.0),
      (acc, j) => acc + element_at(vec, j).cast("double") *
        planeComp(p, j - 1, dim))

  /** Sign-bit array of `vec` against the first `nPlanes` hyperplanes
    * (each plane's projection evaluated exactly once).
    */
  def planeSigns(vec: Column, dim: Int, nPlanes: Int): Column =
    transform(sequence(lit(0), lit(nPlanes - 1)),
      p => when(planeDot(vec, p, dim) > 0, lit(1L)).otherwise(lit(0L)))

  /** The first `n` (COLUMN-valued) plane sign bits packed MSB-first
    * into a long, in ONE fold — each projection evaluated exactly
    * once. Callers with a per-row bit count must use this rather than
    * indexing a separate [[planeSigns]] column: CollapseProject
    * inlines a single-reference signs array into the consuming
    * lambda, re-evaluating all projections once PER BIT (the q198
    * capBuckets stage measured 27 s at the 10× point from exactly
    * that inlining). `n` must be ≥ 1 on the rows where the result is
    * consumed. */
  def planePrefixBucket(vec: Column, dim: Int, n: Column): Column =
    aggregate(sequence(lit(0), greatest(n, lit(1)) - 1), lit(0L),
      (acc, p) => acc * 2 +
        when(planeDot(vec, p, dim) > 0, lit(1L)).otherwise(lit(0L)))

  /** Pack a sign array into per-table bucket ids (table t packs bits
    * t·b … t·b+b−1).
    */
  def bucketsFromSigns(signs: Column, tables: Int, bitsPerTable: Int): Column =
    transform(sequence(lit(0), lit(tables - 1)),
      t => aggregate(
        zip_with(
          slice(signs, t * lit(bitsPerTable) + lit(1), lit(bitsPerTable)),
          sequence(lit(0L), lit(bitsPerTable - 1L)),
          (s, b) => s * pow(lit(2.0), b.cast("double")).cast("long")),
        lit(0L), (acc, x) => acc + x))

  /** Length-L array of bucket ids. NOTE for hot paths: this single
    * expression re-evaluates the sign subtree once per table (lambda
    * inlining); [[lshTopK]] hoists [[planeSigns]] into its own
    * projection so the 32 plane dots run once per vector.
    */
  def lshBuckets(vec: Column, dim: Int, tables: Int, bitsPerTable: Int): Column =
    bucketsFromSigns(planeSigns(vec, dim, tables * bitsPerTable),
      tables, bitsPerTable)

  /** Brute-force cosine top-k neighbors for each query vector
    * (`queryPred` restricts the query side; targets are all vectors).
    * Output: (a, b, rank, cos), rank 1..k by (cos desc, b asc).
    */
  def cosineTopK(df: DataFrame, idCol: String, vecCol: String, k: Int,
                 queryPred: Column = lit(true)): DataFrame = {
    val v = Caches.keep("ann.cosineTopK",
      df.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
        .withColumn("n2", GraftFunctions.norm2(col("vec"))))
    val q = v.where(queryPred)
    rerank(q, v, k)
  }

  /** LSH-bucketed top-k: candidates share ≥1 table bucket with the
    * query; exact cosine re-rank within candidates. May return < k rows
    * per query (approximate by design).
    */
  def lshTopK(df: DataFrame, idCol: String, vecCol: String, k: Int,
              dim: Int, tables: Int = 4, bitsPerTable: Int = 8,
              queryPred: Column = lit(true)): DataFrame = {
    val v = Caches.keep("ann.lshTopK",
      df.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
        .withColumn("n2", GraftFunctions.norm2(col("vec"))))
    val bk = Caches.keep("ann.lshTopK", v
      .select(col("id"),
        planeSigns(col("vec"), dim, tables * bitsPerTable).as("signs"))
      .select(col("id"),
        posexplode(bucketsFromSigns(col("signs"), tables, bitsPerTable)))
      .withColumnRenamed("pos", "tbl").withColumnRenamed("col", "bucket"))
    // candidate (query, target) pairs sharing any bucket
    val cand = bk.as("qx").where(queryPredOnId(queryPred))
      .join(bk.as("tx"),
        col("qx.tbl") === col("tx.tbl") && col("qx.bucket") === col("tx.bucket") &&
          col("qx.id") =!= col("tx.id"))
      .select(col("qx.id").as("qid"), col("tx.id").as("tid"))
      .distinct()
    val withVecs = cand
      .join(v.select(col("id").as("qid"), col("vec").as("qvec"), col("n2").as("qn2")), "qid")
      .join(v.select(col("id").as("tid"), col("vec").as("tvec"), col("n2").as("tn2")), "tid")
      .select(col("qid").as("a"), col("tid").as("b"),
        (GraftFunctions.dot(col("qvec"), col("tvec")) /
          (sqrt(col("qn2")) * sqrt(col("tn2")))).as("cos"))
    topK(withVecs, k)
  }

  /** IVF top-k: coarse k-means quantization (fit on a deterministic
    * pool, broadcast centers), candidates = vectors sharing the query's
    * `nprobe` nearest cells, exact cosine re-rank within candidates.
    * The classic inverted-file ANN: the only all-corpus shuffle carries
    * (id, cell); pair work is confined to probed cells.
    */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String, k: Int,
              nCells: Int = 16, nprobe: Int = 2,
              queryPred: Column = lit(true)): DataFrame = {
    val v = Caches.keep("ann.ivfTopK",
      df.select(col(idCol).cast("long").as("id"), col(vecCol).cast("array<double>").as("vec"))
        .withColumn("n2", GraftFunctions.norm2(col("vec"))))
    val km = KMeans.fit(v, "id", "vec", nCells)
    // cell assignment and probe selection are codegen'd expressions
    // over a typedlit codebook (the Pq.ivfPqTopK / SemDedup.assign
    // pattern), NOT broadcast-model UDFs: the r16 driver sweep read
    // the UDF form at 3.8 s late-sweep (per-rep closure/boxing paths
    // that never reach JIT steady state) while the expression twin
    // (q215) held 1.5 s. SqDistExpr folds Σ(x−y)² in the same
    // sequential IEEE order as Model.assign, and first-arg-min ties
    // break to the lower index on both paths, so cells, probes, and
    // every downstream candidate are bitwise unchanged.
    val centersLit = typedlit(km.centers.map(_.toSeq).toSeq)
    val cdists = transform(centersLit, ctr =>
      GraftFunctions.sqDist(col("vec"), ctr))
    val assigned = Caches.keep("ann.ivfTopK", v.withColumn("cdists", cdists)
      .withColumn("cell",
        element_at(filter(sequence(lit(0), lit(nCells - 1)),
          i => element_at(col("cdists"), i + 1) === array_min(col("cdists"))), 1))
      .drop("cdists"))
    // nprobe nearest cells: sort (distance, index) structs — same
    // order as the old sortBy(identity) on (d, c) for finite doubles
    val probes = assigned.where(queryPred)
      .withColumn("cdists", cdists)
      .withColumn("probe", slice(array_sort(
        zip_with(col("cdists"), sequence(lit(0), lit(nCells - 1)),
          (d, i) => struct(d.as("d"), i.as("c")))), 1, nprobe))
      .select(col("id").as("qid"), col("vec").as("qvec"), col("n2").as("qn2"),
        explode(col("probe.c")).as("cell"))
    val pairs = probes.join(
        assigned.select(col("id").as("b"), col("vec").as("tvec"),
          col("n2").as("tn2"), col("cell")),
        Seq("cell"))
      .where(col("qid") =!= col("b"))
      .select(col("qid").as("a"), col("b"),
        (GraftFunctions.dot(col("qvec"), col("tvec")) /
          (sqrt(col("qn2")) * sqrt(col("tn2")))).as("cos"))
      .distinct()
    topK(pairs, k)
  }

  /** Two-table exact kNN JOIN: top-k corpus neighbors per query row by
    * cosine (the retrieval shape — query set and corpus are different
    * frames, unlike [[cosineTopK]]'s self-join). Brute-force baseline
    * by design; the per-pair kernel is the same codegen'd dot product,
    * and the output contract matches the self-join family
    * (a, b, rank, cos).
    */
  def knnJoin(queries: DataFrame, corpus: DataFrame,
              idCol: String, vecCol: String, k: Int): DataFrame = {
    def prep(df: DataFrame) =
      df.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
        .withColumn("n2", GraftFunctions.norm2(col("vec")))
    val q = prep(queries)
    val t = Caches.keep("ann.knnJoin", prep(corpus))
    rerank(q, t, k)
  }

  // queryPred is written against column `id`
  private def queryPredOnId(p: Column): Column = p

  private def rerank(q: DataFrame, v: DataFrame, k: Int): DataFrame = {
    val pairs = q.select(col("id").as("a"), col("vec").as("qvec"), col("n2").as("qn2"))
      .join(v.select(col("id").as("b"), col("vec").as("tvec"), col("n2").as("tn2")),
        col("a") =!= col("b"))
      .select(col("a"), col("b"),
        (GraftFunctions.dot(col("qvec"), col("tvec")) /
          (sqrt(col("qn2")) * sqrt(col("tn2")))).as("cos"))
    topK(pairs, k)
  }

  private def topK(pairs: DataFrame, k: Int): DataFrame =
    pairs
      .withColumn("rank", row_number().over(
        Window.partitionBy("a").orderBy(desc("cos"), asc("b"))))
      .where(col("rank") <= k)
      .select(col("a"), col("b"), col("rank"), round(col("cos"), 6).as("cos"))

  /** DuckDB oracle twins. */
  object Sql {
    def planeComp(p: String, j: String, dim: Int): String =
      s"((CAST(($C1 * (($p) * $dim + ($j)) + $C2) % $P AS DOUBLE) / $P.0) - 0.5)"

    def planeDot(vec: String, p: String, dim: Int): String =
      s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, $dim), j -> CAST(($vec)[j] AS DOUBLE) * ${planeComp(p, "j - 1", dim)})), (acc, x) -> acc + x)"

    /** The full sign-bit list — meant to be materialized ONCE per row in
      * its own CTE column, then fed to [[bucketsFromSigns]]: inlining it
      * per (table, bit) element (the old single-expression form) makes
      * the SQL engine evaluate the whole plane family quadratically.
      */
    def signsList(vec: String, dim: Int, nPlanes: Int): String =
      s"list_transform(generate_series(0, ${nPlanes - 1}), p -> CASE WHEN ${planeDot(vec, "p", dim)} > 0 THEN 1::BIGINT ELSE 0::BIGINT END)"

    /** Per-table bucket ids from a sign-list COLUMN reference. */
    def bucketsFromSigns(signs: String, tables: Int, bitsPerTable: Int): String =
      s"list_transform(generate_series(0, ${tables - 1}), t -> list_reduce(list_prepend(0::BIGINT, list_transform(generate_series(1, $bitsPerTable), b -> ($signs)[t * $bitsPerTable + b] * CAST(power(2.0, CAST(b - 1 AS DOUBLE)) AS BIGINT))), (acc, x) -> acc + x))"

    def lshBuckets(vec: String, dim: Int, tables: Int, bitsPerTable: Int): String =
      bucketsFromSigns(signsList(vec, dim, tables * bitsPerTable),
        tables, bitsPerTable)
  }
}
