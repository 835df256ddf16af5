package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Round close-out ANN quality measurement: recall@k of the sublinear
  * index paths (q30 hyperplane LSH, q45 IVF) against brute-force ground
  * truth (the q29 path) on the harness embeddings table at an arbitrary
  * scale factor. AnnSpec enforces floors at test scale; this tool tracks
  * the same numbers as the data grows (PLANS.md records them per round),
  * so LSH/IVF parameter quality is measured — not assumed — at each SF.
  *
  * Usage: runMain graft.tools.RecallCheck <sfDir> [nQueries] [k]
  * Prints one JSON line {"sf":…,"n":…,"k":…,"lsh":…,"lsh_tuned":…,
  * "ivf":…,"ivf_tuned":…}.
  */
object RecallCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nQueries = args.lift(1).map(_.toInt).getOrElse(100)
    val k = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.Session()
    val emb = graft.sources.Tables.load(spark, sfDir, "embeddings")
    val pred = col("id") < nQueries
    import graft.sim.Ann
    def pairs(df: DataFrame): Map[Long, Set[Long]] =
      df.select("a", "b").collect()
        .groupBy(_.getLong(0)).map { case (a, rs) =>
          a -> rs.map(_.getLong(1)).toSet
        }
    val brute = pairs(Ann.cosineTopK(emb, "vec_id", "embedding", k,
      queryPred = pred))
    // empty ground truth (non-zero-based vec_id, tiny SF) would make
    // every recall 0/0 → NaN, which is not valid JSON downstream
    require(brute.nonEmpty,
      s"no ground-truth queries: no embeddings satisfy id < $nQueries in $sfDir")
    def recallOf(approx: Map[Long, Set[Long]]): Double = {
      val per = brute.map { case (a, truth) =>
        (truth intersect approx.getOrElse(a, Set.empty)).size.toDouble /
          truth.size
      }
      per.sum / per.size
    }
    def r(v: Double): Double = math.round(v * 1000) / 1000.0
    val lsh = recallOf(pairs(Ann.lshTopK(emb, "vec_id", "embedding", k,
      dim = 64, tables = 4, bitsPerTable = 8, queryPred = pred)))
    val lshTuned = recallOf(pairs(Ann.lshTopK(emb, "vec_id", "embedding", k,
      dim = 64, tables = 16, bitsPerTable = 4, queryPred = pred)))
    val ivfLegacy = recallOf(pairs(Ann.ivfTopK(emb, "vec_id", "embedding", k,
      nCells = 16, nprobe = 4, queryPred = pred)))
    val ivfReg = recallOf(pairs(Ann.ivfTopK(emb, "vec_id", "embedding", k,
      nCells = 16, nprobe = 8, queryPred = pred)))
    val pqModel = graft.sim.Pq.fit(emb, "vec_id", "embedding", m = 8, k = 256)
    val ivfPqLegacy = recallOf(pairs(graft.sim.Pq.ivfPqTopK(emb, "vec_id",
      "embedding", k, pqModel, nCells = 16, nprobe = 4, rerankFactor = 16,
      queryPred = pred)))
    val ivfPqReg = recallOf(pairs(graft.sim.Pq.ivfPqTopK(emb, "vec_id",
      "embedding", k, pqModel, nCells = 16, nprobe = 8, rerankFactor = 32,
      queryPred = pred)))
    // recall-vs-scanned CURVE (r11 brief item 4): nprobe of 16 cells is
    // the scanned-fraction knob — the curve shows where the recall knee
    // sits at this scale, so a knee that moves as the corpus grows is
    // visible as data, not argument
    val ivfCurve = Seq(2, 4, 8, 12).map { np =>
      np -> r(recallOf(pairs(Ann.ivfTopK(emb, "vec_id", "embedding", k,
        nCells = 16, nprobe = np, queryPred = pred))))
    }
    val ivfPqCurve = Seq((2, 16), (4, 16), (8, 32), (12, 32)).map {
      case (np, rr) =>
        (np, rr) -> r(recallOf(pairs(graft.sim.Pq.ivfPqTopK(emb, "vec_id",
          "embedding", k, pqModel, nCells = 16, nprobe = np,
          rerankFactor = rr, queryPred = pred))))
    }
    // GROWTH-SCALED index (r13): a fixed cell count is not how IVF
    // scales — per-cell occupancy must stay bounded, so the cell count
    // grows with the corpus (the √n family; 16 cells were registered
    // at the 2000-vector test scale). This curve measures recall at
    // nCells = 16·√(n/2000) with nprobe swept at the same FRACTIONS as
    // the fixed-16 curve, so 1× and 10× runs are comparable per
    // scanned fraction rather than per absolute nprobe.
    val nRows = emb.count()
    val cellsScaled = math.max(16,
      math.round(16.0 * math.sqrt(nRows / 2000.0)).toInt)
    val scaledProbes = Seq(2, 4, 8, 12).map(np =>
      math.max(1, math.round(np.toDouble * cellsScaled / 16.0).toInt))
    val ivfScaledCurve = scaledProbes.map { np =>
      np -> r(recallOf(pairs(Ann.ivfTopK(emb, "vec_id", "embedding", k,
        nCells = cellsScaled, nprobe = np, queryPred = pred))))
    }
    // "registered" = the operating points q30/q45/q215 actually ship
    // (16×4 banding; nprobe=8 of 16 cells — re-registered in r10 at
    // the measured recall knee); "legacy" = prior points kept for
    // trend comparison
    println(s"""{"sf":"$sfDir","n":$nQueries,"k":$k,""" +
      s""""lsh_legacy_4x8":${r(lsh)},"lsh_registered_16x4":${r(lshTuned)},""" +
      s""""ivf_legacy_np4":${r(ivfLegacy)},"ivf_registered_np8":${r(ivfReg)},""" +
      s""""ivfpq_legacy_np4_rr16":${r(ivfPqLegacy)},"ivfpq_registered_np8_rr32":${r(ivfPqReg)},""" +
      s""""ivf_curve_np":{${ivfCurve.map { case (np, v) => s"\"$np\":$v" }.mkString(",")}},""" +
      s""""ivfpq_curve_np_rr":{${ivfPqCurve.map { case ((np, rr), v) => s"\"${np}_$rr\":$v" }.mkString(",")}},""" +
      s""""ivf_scaled_cells":$cellsScaled,""" +
      s""""ivf_scaled_curve_np":{${ivfScaledCurve.map { case (np, v) => s"\"$np\":$v" }.mkString(",")}}}""")
    spark.stop()
  }
}
