package graft.sim

import graft.core.Caches
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al. 2011) — the vector-store
  * compression step one tier beyond q76's int8 scalar quantization:
  * split each d-dim embedding into M sub-vectors, learn a k-centroid
  * codebook per sub-space (driver-pool Lloyd, the [[KMeans]]
  * fit-small/score-everywhere contract), and encode every vector as M
  * small codes — d doubles become M bytes (for k ≤ 256), the memory
  * layout IVF-PQ indexes serve ANN from at billion scale.
  *
  * Encoding is a pure codegen'd map stage: per sub-space the squared
  * distances to the k centroid literals land in their OWN projection
  * column first (a lambda re-evaluates referenced subtrees per element
  * — materializing the distance array keeps the arg-min O(k), not
  * O(k²)), then the code is the first-minimum index. No UDF in the hot
  * path; the dual-path audit re-derives each code through the
  * broadcast-model scorer ([[KMeans.Model.assign]]'s sequential fold —
  * identical IEEE order, so agreement is bitwise).
  */
object Pq {

  final class Model(val codebooks: Array[Array[Array[Double]]])
      extends Serializable {
    def m: Int = codebooks.length
    def k: Int = codebooks(0).length
    def subDim: Int = codebooks(0)(0).length
  }

  /** Fit M per-sub-space codebooks on one deterministic driver pool
    * (single collect, sliced M ways — not M collects).
    */
  def fit(df: DataFrame, idCol: String, vecCol: String,
          m: Int, k: Int, iters: Int = 8, poolSize: Int = 4096): Model = {
    val pool = df.select(col(idCol),
        transform(col(vecCol), x => x.cast("double")).as("v"))
      .orderBy(col(idCol)).limit(poolSize)
      .collect()
      .map(_.getSeq[Double](1).toArray)
    require(pool.nonEmpty, "empty fit pool")
    val d = pool(0).length
    require(d % m == 0, s"dim $d must divide into $m sub-spaces")
    val sub = d / m
    // the m sub-space fits are INDEPENDENT pure functions of their own
    // slice (deterministic hash seeding, fixed iteration count), so
    // they run on a driver thread pool; Future.sequence preserves
    // sub-space order, so the assembled codebook array — and every
    // downstream code/distance — is bitwise identical to the
    // sequential fold (r16: the serial 8×256-center loop was the whole
    // warm-rep cost of the PQ rows)
    val books = {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      Await.result(Future.sequence((0 until m).toList.map { mi =>
        Future {
          val slice = pool.map(v =>
            java.util.Arrays.copyOfRange(v, mi * sub, (mi + 1) * sub))
          KMeans.fitPool(slice, k, iters).centers
        }
      }), Duration.Inf).toArray
    }
    new Model(books)
  }

  /** One nested-array Literal node (typedlit), NOT k·d individual
    * lit() nodes — with k=256 codebooks the per-element form puts
    * ~16k expression nodes PER SUB-SPACE into the plan and analysis/
    * codegen time dwarfs execution (bench-measured on q215).
    */
  private def bookLit(book: Array[Array[Double]]): Column =
    typedlit(book.map(_.toSeq).toSeq)

  /** Squared distances from the mi-th sub-vector to that sub-space's k
    * centroids (sequential fold per centroid — oracle-parity order).
    */
  def subDists(model: Model, vec: Column, mi: Int): Column = {
    val sub = model.subDim
    transform(bookLit(model.codebooks(mi)), ctr =>
      aggregate(zip_with(slice(vec, mi * sub + 1, sub), ctr,
        (x, y) => (x - y) * (x - y)), lit(0.0), (a, x) => a + x))
  }

  /** First-minimum index into a materialized distance-array column. */
  def argminCode(dists: Column, k: Int): Column =
    element_at(filter(sequence(lit(0), lit(k - 1)),
      i => element_at(dists, i + 1) === array_min(dists)), 1)

  /** (id, vec, code_0..code_{M-1}, dist_0..dist_{M-1}) — codes plus
    * each sub-space's quantization error (the distance to the chosen
    * centroid, i.e. the arg-min's value).
    */
  def encode(df: DataFrame, idCol: String, vecCol: String,
             model: Model): DataFrame = {
    val base = df.select(col(idCol).cast("long").as("id"),
      transform(col(vecCol), x => x.cast("double")).as("vec"))
    val withDists = (0 until model.m).foldLeft(base) { (acc, mi) =>
      acc.withColumn(s"dists_$mi", subDists(model, col("vec"), mi))
    }
    (0 until model.m).foldLeft(withDists) { (acc, mi) =>
      acc.withColumn(s"code_$mi", argminCode(col(s"dists_$mi"), model.k))
        .withColumn(s"qerr_$mi", array_min(col(s"dists_$mi")))
    }.drop((0 until model.m).map(mi => s"dists_$mi"): _*)
  }

  /** IVF-PQ ANN search — the billion-scale vector-store read path:
    * a coarse k-means quantizer buckets every vector into a cell
    * (inverted file), queries probe their `nprobe` nearest cells
    * (candidate generation is a hash EQUI-join on the cell id — the
    * pair stage never nested-loops), and candidates are scored in the
    * compressed domain by ADC: each query precomputes an M×k lookup
    * table of sub-distances to every codebook centroid, so a
    * candidate costs M array lookups instead of a d-dim dot product.
    * The top `rerankFactor`·k by ADC are re-ranked with exact cosine.
    * (Codebooks here quantize raw vectors; per-cell residual
    * quantization is the classic refinement — same plan shape, one
    * subtraction more per encode.)
    *
    * Output: (a, b, rank, cos) like [[Ann.cosineTopK]] — approximate
    * by design; recall is gated by the q215 in-query audit and
    * measured per round.
    */
  def ivfPqTopK(df: DataFrame, idCol: String, vecCol: String, k: Int,
                model: Model, nCells: Int = 16, nprobe: Int = 4,
                rerankFactor: Int = 4,
                queryPred: Column = lit(true)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val coarse = KMeans.fit(
      df.select(col(idCol).cast("long").as("id"),
        transform(col(vecCol), x => x.cast("double")).as("v")),
      "id", "v", k = nCells)
    val coarseLit = typedlit(coarse.centers.map(_.toSeq).toSeq)
    def cellDists(vec: Column): Column = transform(coarseLit, ctr =>
      aggregate(zip_with(vec, ctr, (x, y) => (x - y) * (x - y)),
        lit(0.0), (a, x) => a + x))
    val enc = Caches.keep("sim.ivfPq", encode(df, idCol, vecCol, model)
      .withColumn("n2", GraftFunctions.norm2(col("vec")))
      .withColumn("cdists", cellDists(col("vec")))
      .withColumn("cell", element_at(filter(
        sequence(lit(0), lit(nCells - 1)),
        i => element_at(col("cdists"), i + 1) === array_min(col("cdists"))), 1))
      .drop("cdists"))
    // queries: nprobe nearest cells + the M per-sub-space ADC tables
    val qBase = enc.where(queryPred)
      .withColumn("cdists", cellDists(col("vec")))
      .withColumn("probe", slice(array_sort(
        zip_with(col("cdists"), sequence(lit(0), lit(nCells - 1)),
          (d, i) => struct(d.as("d"), i.as("c")))), 1, nprobe))
      .drop("cdists")
    val qLuts = (0 until model.m).foldLeft(qBase) { (acc, mi) =>
      acc.withColumn(s"lut_$mi", subDists(model, col("vec"), mi))
    }
    val q = qLuts.select((Seq(col("id").as("qid"), col("vec").as("qvec"),
      col("n2").as("qn2"),
      explode(col("probe")).as("p")) ++
      (0 until model.m).map(mi => col(s"lut_$mi"))): _*)
      .withColumn("cell", col("p.c")).drop("p")
    val adc = (0 until model.m).map(mi =>
      element_at(col(s"lut_$mi"), col(s"code_$mi") + 1)).reduce(_ + _)
    val targetCols = Seq(col("id").as("tid"), col("cell"),
      col("vec").as("tvec"), col("n2").as("tn2")) ++
      (0 until model.m).map(mi => col(s"code_$mi"))
    val cand = q.join(enc.select(targetCols: _*), Seq("cell"))
      .where(col("qid") =!= col("tid"))
      .select(col("qid"), col("tid"), col("qvec"), col("qn2"),
        col("tvec"), col("tn2"), adc.as("adc"))
      // a candidate can arrive via several probed cells → dedup, keep
      // its (identical) adc via min
      .groupBy("qid", "tid").agg(min("adc").as("adc"),
        first("qvec").as("qvec"), first("qn2").as("qn2"),
        first("tvec").as("tvec"), first("tn2").as("tn2"))
    val shortlist = cand
      .withColumn("arank", row_number().over(
        Window.partitionBy("qid").orderBy(asc("adc"), asc("tid"))))
      .where(col("arank") <= k * rerankFactor)
    shortlist
      .select(col("qid").as("a"), col("tid").as("b"),
        (GraftFunctions.dot(col("qvec"), col("tvec")) /
          (sqrt(col("qn2")) * sqrt(col("tn2")))).as("cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("a").orderBy(desc("cos"), asc("b"))))
      .where(col("rank") <= k)
  }

  /** The registered self-verifying audit (q211): exact SQL anchors
    * (n_vecs, dim, M, k, bytes per vector before/after) + invariants
    * the oracle pins TRUE — `codes_valid` (every code in [0, k)),
    * `assign_ok` (codegen arg-min == broadcast-model scorer on every
    * (row, sub-space)), `qerr_nonneg`, and `qerr_minimal` (each chosen
    * centroid's distance ≤ the distance to centroid 0 — the arg-min
    * property checked against an independently-computed fixed code).
    */
  def audit(df: DataFrame, idCol: String, vecCol: String,
            m: Int, k: Int): DataFrame = {
    val model = fit(df, idCol, vecCol, m, k)
    val enc = encode(df, idCol, vecCol, model)
    // dual path: per sub-space, the KMeans scorer UDF on the slice
    val withCheck = Caches.keep("sim.pqAudit", (0 until m).foldLeft(enc) { (acc, mi) =>
      val sub = model.subDim
      val km = new KMeans.Model(model.codebooks(mi))
      km.transform(
        acc.withColumn(s"sub_$mi", slice(col("vec"), mi * sub + 1, sub)),
        s"sub_$mi", s"code_check_$mi")
    })
    val codesValid = (0 until m).map(mi =>
      col(s"code_$mi") >= 0 && col(s"code_$mi") < k).reduce(_ && _)
    val assignOk = (0 until m).map(mi =>
      col(s"code_$mi") === col(s"code_check_$mi")).reduce(_ && _)
    val qerrNonneg = (0 until m).map(mi =>
      col(s"qerr_$mi") >= 0.0).reduce(_ && _)
    val qerrMinimal = (0 until m).map { mi =>
      val toZero = aggregate(zip_with(
        slice(col("vec"), mi * model.subDim + 1, model.subDim),
        typedlit(model.codebooks(mi)(0).toSeq),
        (x, y) => (x - y) * (x - y)), lit(0.0), (a, x) => a + x)
      col(s"qerr_$mi") <= toZero
    }.reduce(_ && _)
    val out = withCheck.agg(count(lit(1)).as("n_vecs"),
      max(size(col("vec"))).cast("long").as("dim"),
      (count(when(codesValid, 1)) === count(lit(1))).as("codes_valid"),
      (count(when(assignOk, 1)) === count(lit(1))).as("assign_ok"),
      (count(when(qerrNonneg, 1)) === count(lit(1))).as("qerr_nonneg"),
      (count(when(qerrMinimal, 1)) === count(lit(1))).as("qerr_minimal"))
    out.select(col("n_vecs"), col("dim"), lit(m.toLong).as("m"),
      lit(k.toLong).as("k"),
      (col("dim") * 8).as("bytes_raw"), lit(m.toLong).as("bytes_pq"),
      col("codes_valid"), col("assign_ok"), col("qerr_nonneg"),
      col("qerr_minimal"))
  }
}
