package graft

import graft.sim.{Ann, GraftFunctions, VectorMath}
import org.apache.spark.sql.functions._

class AnnSpec extends SparkSpec {
  import spark.implicits._

  private def clustered(nClusters: Int, perCluster: Int, dim: Int) = {
    // deterministic clusters: center c has 1.0 in coords [4c, 4c+4); members
    // add a small deterministic perturbation
    val rows = for {
      c <- 0 until nClusters
      m <- 0 until perCluster
    } yield {
      val v = Array.fill(dim)(0.0f)
      for (j <- 4 * c until math.min(4 * c + 4, dim)) v(j) = 1.0f
      v((c * 7 + m) % dim) += 0.05f * ((m % 3) + 1)
      ((c * perCluster + m).toLong, v.toSeq)
    }
    rows.toDF("vec_id", "embedding")
  }

  test("codegen dot kernel is bitwise-identical to the interpreted fold") {
    val df = clustered(4, 5, 16)
    val both = df.as("x").join(df.as("y"), col("x.vec_id") < col("y.vec_id"))
      .select(
        GraftFunctions.dot(col("x.embedding"), col("y.embedding")).as("fast"),
        VectorMath.dot(col("x.embedding"), col("y.embedding")).as("slow"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("dot kernel handles float and double arrays") {
    val d = Seq((Seq(1.0f, 2.0f), Seq(3.0, 4.0))).toDF("f", "d")
    val r = d.select(
      GraftFunctions.dot(col("f"), col("f")),
      GraftFunctions.dot(col("d"), col("d")),
      GraftFunctions.dot(col("f"), col("d"))).head
    assert(r.getDouble(0) == 5.0 && r.getDouble(1) == 25.0 && r.getDouble(2) == 11.0)
  }

  test("native functions register themselves once, and again after a drop") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val reg = spark.sessionState.functionRegistry
    val id = FunctionIdentifier("graft_dot")
    val d = Seq((Seq(1.0f, 2.0f), Seq(3.0, 4.0))).toDF("f", "d")
    reg.dropFunction(id)
    assert(!reg.functionExists(id))
    // a freshly built call registers the function before it returns
    assert(d.select(GraftFunctions.dot(col("f"), col("d"))).head.getDouble(0) == 11.0)
    val first = reg.lookupFunctionBuilder(id)
    assert(first.isDefined)
    // a second build keeps the registered builder: no replacement, so
    // Spark logs no "replaced a previously registered function" WARN
    assert(d.select(GraftFunctions.norm2(col("d"))).head.getDouble(0) == 25.0)
    assert(reg.lookupFunctionBuilder(id).get eq first.get)
  }

  test("cosineTopK: nearest neighbors are same-cluster members") {
    val df = clustered(5, 4, 20)
    val top = Ann.cosineTopK(df, "vec_id", "embedding", k = 3)
      .collect()
      .groupBy(_.getAs[Long]("a"))
    top.foreach { case (a, rows) =>
      val cluster = a / 4
      rows.foreach { r =>
        assert(r.getAs[Long]("b") / 4 == cluster,
          s"query $a got cross-cluster neighbor ${r.getAs[Long]("b")}")
      }
    }
  }

  test("cosineTopK ranks are 1..k with descending cosine") {
    val df = clustered(3, 5, 12)
    val rows = Ann.cosineTopK(df, "vec_id", "embedding", k = 3)
      .orderBy("a", "rank").collect()
    rows.groupBy(_.getAs[Long]("a")).foreach { case (_, rs) =>
      val ranked = rs.sortBy(_.getAs[Int]("rank"))
      assert(ranked.map(_.getAs[Int]("rank")).toSeq == (1 to ranked.length))
      val cs = ranked.map(_.getAs[Double]("cos"))
      assert(cs.zip(cs.tail).forall { case (x, y) => x >= y })
    }
  }

  test("lshTopK recall vs brute force on well-separated clusters") {
    val df = clustered(5, 4, 20)
    val brute = Ann.cosineTopK(df, "vec_id", "embedding", k = 2)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val approx = Ann.lshTopK(df, "vec_id", "embedding", k = 2,
      dim = 20, tables = 4, bitsPerTable = 4)
      .select("a", "b").as[(Long, Long)].collect().toSet
    // LSH is approximate, but same-cluster vectors are near-identical:
    // demand decent recall and zero cross-cluster junk in the top ranks
    val recall = (brute intersect approx).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall $recall too low")
    approx.foreach { case (a, b) => assert(a / 4 == b / 4) }
  }

  test("ivfTopK recall vs brute force on well-separated clusters") {
    val df = clustered(5, 4, 20)
    val brute = Ann.cosineTopK(df, "vec_id", "embedding", k = 2)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val ivf = Ann.ivfTopK(df, "vec_id", "embedding", k = 2,
      nCells = 5, nprobe = 2)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall >= 0.8, s"recall $recall too low")
    ivf.foreach { case (a, b) => assert(a / 4 == b / 4) }
  }

  test("recall@10 floor on the real embeddings table at the registered params") {
    // The standard ANN acceptance gate: LSH (q30 params) and IVF (q45
    // params) against brute-force ground truth (q29 path) on the SAME
    // frame the registered queries run over — the harness embeddings
    // table, not a synthetic cluster layout. Floors recorded in
    // PLANS.md; raise params, not the floor, if this ever regresses.
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val k = 10
    def pairs(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("a", "b").collect()
        .groupBy(_.getLong(0)).map { case (a, rs) =>
          a -> rs.map(_.getLong(1)).toSet
        }
    val brute = pairs(Ann.cosineTopK(emb, "vec_id", "embedding", k,
      queryPred = col("id") < 100))
    def recallOf(approx: Map[Long, Set[Long]]): Double = {
      val per = brute.map { case (a, truth) =>
        (truth intersect approx.getOrElse(a, Set.empty)).size.toDouble / truth.size
      }
      per.sum / per.size
    }
    // REGISTERED operating points since round 10: q30 = 16 tables × 4
    // bits, q45 = nprobe 8 of 16 cells (the r9 nprobe=4 point measured
    // 0.56–0.65 recall — re-registered at the measured knee, ≥ 0.8
    // across all SFs). The prior defaults stay measured as the narrow
    // variants to prove the probing knob still moves recall in the
    // right direction.
    val lshNarrow = recallOf(pairs(Ann.lshTopK(emb, "vec_id", "embedding", k,
      dim = 64, tables = 4, bitsPerTable = 8, queryPred = col("id") < 100)))
    val lsh = recallOf(pairs(Ann.lshTopK(emb, "vec_id", "embedding", k,
      dim = 64, tables = 16, bitsPerTable = 4, queryPred = col("id") < 100)))
    val ivfNarrow = recallOf(pairs(Ann.ivfTopK(emb, "vec_id", "embedding", k,
      nCells = 16, nprobe = 4, queryPred = col("id") < 100)))
    val ivf = recallOf(pairs(Ann.ivfTopK(emb, "vec_id", "embedding", k,
      nCells = 16, nprobe = 8, queryPred = col("id") < 100)))
    info(f"recall@10: lsh=$lsh%.3f (narrow $lshNarrow%.3f) ivf=$ivf%.3f (narrow $ivfNarrow%.3f)")
    // every operator here is deterministic (hash planes, pooled k-means
    // — no RNG), so these are exact measurements, not noisy estimates;
    // floors sit just under the measured values (registered 0.688 /
    // 0.839, narrow 0.081 / 0.620 at sf0.001 — see PLANS.md). The
    // harness embeddings are near-isotropic (no planted cluster
    // structure), which bounds ANY sublinear index. A user trusting the
    // q30/q45 defaults must get a usable index: the registered floors
    // are the contract, not a token bound. Raise params, never the
    // floor, if this regresses.
    assert(lsh >= 0.5, s"LSH@q30-registered-params recall $lsh below floor 0.5")
    assert(ivf >= 0.75, s"IVF@q45-registered-params recall $ivf below floor 0.75")
    assert(lshNarrow >= 0.08, s"LSH narrow recall $lshNarrow below floor 0.08")
    assert(ivfNarrow >= 0.5, s"IVF narrow recall $ivfNarrow below floor 0.5")
    assert(lsh > lshNarrow && ivf > ivfNarrow, "probing knob must raise recall")
  }

  test("kmeans recovers planted clusters and is deterministic") {
    import graft.sim.KMeans
    val df = clustered(4, 5, 16)
      .withColumn("vec", col("embedding").cast("array<double>"))
    val m1 = KMeans.fit(df, "vec_id", "vec", k = 4)
    val m2 = KMeans.fit(df, "vec_id", "vec", k = 4)
    assert(m1.centers.map(_.toSeq).toSeq == m2.centers.map(_.toSeq).toSeq)
    val assigned = m1.transform(df, "vec").select("vec_id", "cluster")
      .collect().map(r => r.getLong(0) -> r.getInt(1))
    // members of the same planted cluster land in the same cell
    assigned.groupBy(_._1 / 5).values.foreach { grp =>
      assert(grp.map(_._2).distinct.length == 1, s"split cluster: ${grp.toSeq}")
    }
  }

  test("lshBuckets are deterministic across evaluations") {
    val df = clustered(2, 3, 8)
    val b1 = df.select(col("vec_id"), Ann.lshBuckets(col("embedding"), 8, 2, 4).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val b2 = df.select(col("vec_id"), Ann.lshBuckets(col("embedding"), 8, 2, 4).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(b1 == b2)
    assert(b1.values.forall(_.forall(v => v >= 0 && v < 16)))
  }

  test("int8 quantization: known codes, tie rounding, zero-vector guard") {
    import graft.sim.Quantize
    val df = Seq(
      (1L, Seq(127.0f, -64.0f, 0.0f)),
      (2L, Seq(2.0f, 1.0f)), // 1/(2/127) = 63.5: the half-up tie
      (3L, Seq(0.0f, 0.0f))  // zero vector: scale 0, codes 0, no crash
    ).toDF("vec_id", "embedding")
    val out = df
      .withColumn("scale", Quantize.scaleCol(col("embedding")))
      .withColumn("q", Quantize.quantize(col("embedding"), col("scale")))
      .withColumn("err",
        Quantize.dequantError(col("embedding"), col("q"), col("scale")))
      .orderBy("vec_id").collect()
    assert(out(0).getAs[Double]("scale") == 1.0)
    assert(out(0).getSeq[Long](out(0).fieldIndex("q")) == Seq(127L, -64L, 0L))
    assert(out(0).getAs[Double]("err") == 0.0)
    assert(out(1).getSeq[Long](out(1).fieldIndex("q")) == Seq(127L, 64L))
    assert(math.abs(out(1).getAs[Double]("err") - 1.0 / 127.0) < 1e-12)
    assert(out(2).getAs[Double]("scale") == 0.0)
    assert(out(2).getSeq[Long](out(2).fieldIndex("q")) == Seq(0L, 0L))
    // codes are always within the int8 envelope on arbitrary data
    val codes = clustered(4, 5, 16)
      .withColumn("scale", Quantize.scaleCol(col("embedding")))
      .select(Quantize.quantize(col("embedding"), col("scale")).as("q"))
      .select(explode(col("q")).as("c")).collect().map(_.getLong(0))
    assert(codes.forall(c => c >= -127 && c <= 127))
  }

  test("LOF: planted local outlier scores highest; inliers near 1") {
    // 8 near-identical vectors + 1 isolated direction
    val rows = (0 until 8).map { i =>
      (i.toLong, Seq(1.0f, 0.001f * i, 0.0f, 0.0f))
    } :+ (100L, Seq(0.0f, 1.0f, 0.0f, 0.0f))
    val df = rows.toDF("vec_id", "embedding")
    val r = graft.sim.Lof.scores(df, "vec_id", "embedding", k = 3)
      .collect().map(x => x.getAs[Long]("id") -> x.getAs[Double]("lof")).toMap
    assert(r(100L) > 2.0, s"outlier lof ${r(100L)} should be >> 1")
    (0 until 8).foreach { i =>
      assert(r(i.toLong) < 1.5, s"inlier $i lof ${r(i.toLong)} should be ~1")
    }
    assert(r(100L) > r.filterKeys(_ != 100L).values.max)
  }

  test("DBSCAN: planted blobs cluster, border attaches, noise isolated") {
    val pts = Seq(
      (1L, 0L, 0L), (2L, 10L, 0L), (3L, 0L, 10L), (4L, 10L, 10L), (5L, 5L, 5L),
      (6L, 30L, 0L), // border: within eps of core 2 only
      (11L, 1000L, 1000L), (12L, 1010L, 1000L), (13L, 1000L, 1010L),
      (14L, 1010L, 1010L), (15L, 1005L, 1005L),
      (20L, 500L, 500L) // noise
    ).toDF("id", "x", "y")
    val r = graft.sim.Dbscan.cluster(pts, "id", "x", "y",
        epsCenti = 20L, minPts = 5)
      .collect().map(x => x.getAs[Long]("id") ->
        ((x.getAs[String]("role"), Option(x.getAs[java.lang.Long]("cluster"))))).toMap
    Seq(1L, 2L, 3L, 4L, 5L).foreach { i =>
      assert(r(i) == (("core", Some(1L))), s"$i: ${r(i)}")
    }
    assert(r(6L) == (("border", Some(1L))), s"border: ${r(6L)}")
    Seq(11L, 12L, 13L, 14L, 15L).foreach { i =>
      assert(r(i) == (("core", Some(11L))), s"$i: ${r(i)}")
    }
    assert(r(20L) == (("noise", None)), s"noise: ${r(20L)}")
  }
}
