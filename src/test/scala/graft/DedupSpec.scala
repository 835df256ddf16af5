package graft

import graft.dedup.{Dedup, MinHashLSH, SimHash}
import graft.sim.VectorMath
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),
    (3L, "completely different words entirely here now"),
    (4L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (5L, "one two")                                      // < 3 tokens
  ).toDF("doc_id", "text")

  test("shingles: distinct word 3-grams; short docs yield empty") {
    val r = docs.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
      .collect().map(x => x.getLong(0) -> x.getSeq[String](1)).toMap
    assert(r(1L).contains("the quick brown"))
    assert(r(1L).size == 7)
    assert(r(5L).isEmpty)
  }

  test("exactDupGroups finds only true duplicates, canonical = min id") {
    val g = Dedup.exactDupGroups(docs, "doc_id", "text").collect()
    assert(g.length == 1)
    assert(g(0).getAs[Long]("n_dups") == 2L)
    assert(g(0).getAs[Long]("canonical_id") == 1L)
  }

  test("dropExactDups keeps the min-id representative") {
    val kept = Dedup.dropExactDups(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 2L, 3L, 5L))
  }

  test("jaccardPairs: near-identical docs pair up, distinct docs do not") {
    val p = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
        r.getAs[Double]("jaccard")))
    // 1-2 share 6 of 8 union shingles (j=0.75); 1-4 and 2-4 are dups/near
    val keys = p.map(x => (x._1, x._2)).toSet
    assert(keys.contains((1L, 2L)))
    assert(keys.contains((1L, 4L)))
    assert(p.find(x => (x._1, x._2) == (1L, 4L)).get._3 == 1.0)
    assert(!keys.exists(k => k._1 == 3L || k._2 == 3L))
  }

  test("native minhash signature equals the higher-order fold") {
    val sh = docs.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
    val both = sh.select(
      MinHashLSH.signatureFromShingles(col("sh"), 16).as("fast"),
      MinHashLSH.signatureFromShinglesHof(col("sh"), 16).as("slow"))
      .collect()
    both.foreach { r =>
      val fast = if (r.isNullAt(0)) null else r.getSeq[Long](0)
      val slow = if (r.isNullAt(1)) null else r.getSeq[Long](1)
      assert(fast == slow)
    }
  }

  test("minhash LSH finds the same high-similarity pairs as brute force") {
    val lsh = MinHashLSH.nearDupPairs(docs, "doc_id", "text",
      n = 3, k = 16, bands = 4, threshold = 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    // exact dups MUST collide (identical signatures)
    assert(lsh.contains((1L, 4L)))
    // every LSH pair must also pass brute-force verification
    val brute = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(brute))
  }

  test("simhash: identical docs identical; near docs within small hamming") {
    val fp = SimHash.fingerprints(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(4L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    // one-token difference perturbs few bits (tiny docs can tie, so ≤)
    assert(ham(fp(1L), fp(2L)) <= ham(fp(1L), fp(3L)))
    assert(ham(fp(1L), fp(2L)) <= 8)
    assert(fp.values.forall(v => v >= 0 && v < (1L << 24)))
  }

  test("hammingPairs and bandCandidates agree on exact dups") {
    val hp = SimHash.hammingPairs(docs, "doc_id", "text", maxDist = 0)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(hp.contains((1L, 4L)))
    val bc = SimHash.bandCandidates(docs, "doc_id", "text")
      .where(col("hamming") === 0)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(bc.contains((1L, 4L)))
  }

  test("cosineDupPairs flags the planted duplicate vector") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(0.99f, 0.1f, 0.0f)),
      (3L, Seq(0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val p = Dedup.cosineDupPairs(vecs, "vec_id", "embedding", 0.9)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(p == Set((1L, 2L)))
  }

  test("lshCosineDupPairs: subset of all-pairs baseline, finds near-identical dup, no nested-loop join") {
    val dim = 8
    val base = Seq(0.9, 0.1, -0.3, 0.7, 0.2, -0.5, 0.4, 0.8)
    val vecs = Seq(
      1L -> base,
      2L -> base.map(_ * 1.001 + 0.0005), // near-identical to 1
      3L -> base.map(-_), // opposite
      4L -> Seq(1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)
    ).map { case (id, v) => (id, v.map(_.toFloat)) }.toDF("vec_id", "embedding")
    val lsh = Dedup.lshCosineDupPairs(vecs, "vec_id", "embedding", 0.95, dim,
      tables = 8, bitsPerTable = 4)
    val lshPairs = lsh.select("a", "b").as[(Long, Long)].collect().toSet
    val all = Dedup.cosineDupPairs(vecs, "vec_id", "embedding", 0.95)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(lshPairs.subsetOf(all), s"LSH produced non-dup pairs: ${lshPairs -- all}")
    assert(lshPairs.contains((1L, 2L)), "near-identical pair must share every bucket")
    val plan = lsh.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), "scale path must not plan a cartesian")
  }

  test("cosine is exactly 1 for identical vectors (sequential fold)") {
    val vecs = Seq((1L, Seq(0.3f, -0.2f, 0.9f)), (2L, Seq(0.3f, -0.2f, 0.9f)))
      .toDF("vec_id", "embedding")
    val c = vecs.as("x").join(vecs.as("y"), col("x.vec_id") < col("y.vec_id"))
      .select(VectorMath.cosine(col("x.embedding"), col("y.embedding")))
      .head.getDouble(0)
    assert(math.abs(c - 1.0) < 1e-15)
  }

  test("deltaDedup drops corpus dups AND in-batch dups, keeps min-id rep") {
    val corpus = Seq((1L, "a b"), (2L, "c d")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "a b"), // exact dup of corpus doc 1 → dropped
      (12L, "e f"), // in-batch dup group {11,12} → 11 kept
      (11L, "e f"),
      (13L, "g h")  // fresh → kept
    ).toDF("doc_id", "text")
    val kept = Dedup.deltaDedup(batch, corpus, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(11L, 13L))
    // union(corpus, kept) must still be exactly deduplicated
    val union = corpus.unionByName(
      batch.join(Seq(11L, 13L).toDF("doc_id"), Seq("doc_id"), "left_semi"))
    assert(Dedup.exactDupGroups(union, "doc_id", "text").count() == 0)
    // an empty corpus degrades to plain in-batch exact dedup
    val empty = corpus.where(lit(false))
    val all = Dedup.deltaDedup(batch, empty, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(all.toSeq == Seq(10L, 11L, 13L))
  }

  test("dupSpanCoverage: interval union of cross-doc duplicated n-grams") {
    val docs = Seq(
      (1L, "a b c d e"),     // grams at 1..3; "a b c","b c d" shared with doc 2
      (2L, "x a b c d y"),   // shared grams start at 2,3 → tokens 2..5 covered
      (3L, "p q r s t u"),   // no cross-doc grams
      (4L, "z z")            // shorter than n: no grams at all
    ).toDF("doc_id", "text")
    val out = Dedup.dupSpanCoverage(docs, "doc_id", "text", n = 3)
      .orderBy("id").collect()
    // doc 1: starts {1,2} → min(3,1) + 3 = 4 covered of 5
    assert(out(0).getLong(1) == 5L && out(0).getLong(2) == 2L &&
      out(0).getLong(3) == 4L && out(0).getDouble(4) == 0.8)
    // doc 2: starts {2,3} → 4 covered of 6
    assert(out(1).getLong(1) == 6L && out(1).getLong(3) == 4L &&
      out(1).getDouble(4) == 0.666667)
    // doc 3: nothing duplicated
    assert(out(2).getLong(2) == 0L && out(2).getLong(3) == 0L &&
      out(2).getDouble(4) == 0.0)
    // doc 4: no grams (too short), still present with zero coverage
    assert(out(3).getLong(1) == 2L && out(3).getDouble(4) == 0.0)
    // disjoint spans do not merge: two separated shared grams count 2n
    val far = Seq(
      (1L, "a b c 1 2 3 4 x y z"), // "a b c" at 1, "x y z" at 8
      (2L, "a b c q r s t x y z")
    ).toDF("doc_id", "text")
    val f = Dedup.dupSpanCoverage(far, "doc_id", "text", n = 3)
      .orderBy("id").collect()
    assert(f(0).getLong(3) == 6L && f(1).getLong(3) == 6L)
  }

  test("SemDedup: dual-path cluster assignment agrees bitwise") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val a = graft.dedup.SemDedup.assign(e, "vec_id", "embedding", k = 8)
    assert(a.where(col("cluster") =!= col("cluster_check")).count() == 0L)
    // every cluster id in range
    assert(a.where(col("cluster") < 0 || col("cluster") >= 8).count() == 0L)
  }

  test("SemDedup: planted exact duplicate is pruned, lower id kept") {
    import graft.dedup.SemDedup
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    val dup = e.where(col("vec_id") === 0)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    val assigned = SemDedup.assign(e.unionByName(dup), "vec_id", "embedding", k = 8)
    // identical vectors share identical distance vectors → same cluster
    val clusters = assigned.where(col("id").isin(0L, 100000L))
      .select("cluster").distinct().count()
    assert(clusters == 1L)
    val pruned = SemDedup.prunedIds(SemDedup.clusterPairs(assigned), 0.999)
      .collect().map(_.getLong(0)).toSet
    assert(pruned.contains(100000L), "the planted duplicate must be pruned")
    assert(!pruned.contains(0L), "the lower-id original must be kept")
  }

  test("SemDedup: capBuckets pins bucket sizes; near-dups survive split") {
    import graft.dedup.SemDedup
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    // k=4 over 500 vectors → clusters ~125, far above a cap of 16:
    // every cluster must re-split
    val assigned = SemDedup.assign(e, "vec_id", "embedding", k = 4)
    val capped = SemDedup.capBuckets(assigned, dim = 64, cap = 16)
    val sizes = capped.groupBy("cluster").count()
    // level-1 sign splits are data-dependent; the level-2 hash layer
    // pins any residual at ceil(size/cap) cells ≈ cap-sized buckets
    // (hash balance gives slack — assert a 3× bound, not exactly cap)
    assert(sizes.agg(max("count")).first.getLong(0) <= 48L)
    assert(sizes.count() >= (500L / 48) + 1)
    // at-or-under-cap clusters pass through untouched (exact semantics)
    val small = SemDedup.assign(e.limit(40), "vec_id", "embedding", k = 8)
    val smallCapped = SemDedup.capBuckets(small, dim = 64, cap = 64)
    assert(smallCapped.groupBy("cluster").count().count()
      == small.groupBy("cluster").count().count())
    // a planted EXACT duplicate still pairs up through the capped path:
    // identical vectors share every sign bit (level 1) — only the hash
    // layer could separate them, and these buckets stay under cap
    val dup = e.where(col("vec_id") === 3)
      .select((col("vec_id") + 100001L).as("vec_id"), col("embedding"))
    val a2 = SemDedup.assign(e.unionByName(dup), "vec_id", "embedding", k = 8)
    val pruned = SemDedup.prunedIds(
      SemDedup.clusterPairs(SemDedup.capBuckets(a2, dim = 64, cap = 64)),
      0.999).collect().map(_.getLong(0)).toSet
    assert(pruned.contains(100004L), "the planted duplicate must be pruned")
    assert(!pruned.contains(3L), "the lower-id original must be kept")
  }

  test("SemDedup: audit invariants hold on the test frame") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val r = graft.dedup.SemDedup.audit(e, "vec_id", "embedding",
      k = 8, theta = 0.45).collect()(0)
    assert(r.getAs[Long]("n_vecs") == 500L)
    assert(r.getAs[Long]("dim") == 64L)
    assert(r.getAs[Boolean]("assign_ok"))
    assert(r.getAs[Boolean]("cos_bounded"))
    assert(r.getAs[Boolean]("pruned_frac_ok"))
  }

  test("SemDedup: audit survives empty frame AND zero-length vectors") {
    import org.apache.spark.sql.functions._
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    // genuinely empty frame: the aggregate row still comes back
    val r0 = graft.dedup.SemDedup.audit(e.limit(0), "vec_id", "embedding",
      k = 4, theta = 0.45).collect()(0)
    assert(r0.getAs[Long]("n_vecs") == 0L)
    // NON-empty frame of zero-length vectors: dim==0 must NOT bypass
    // capBuckets (the in-cluster join stays capped), and nothing
    // throws from the plane projection with no dims
    val z = e.limit(40).select(col("vec_id"),
      expr("array()").cast("array<double>").as("embedding"))
    val rz = graft.dedup.SemDedup.audit(z, "vec_id", "embedding",
      k = 4, theta = 0.45, cap = 8).collect()(0)
    assert(rz.getAs[Long]("n_vecs") == 40L)
    assert(rz.getAs[Long]("dim") == 0L)
    // and the cap actually bit: all-identical (empty) vectors land in
    // one k-means cluster, so capBuckets must have re-split it (hash
    // balance gives slack — assert a 3× bound, as the sized test does)
    val assigned = graft.dedup.SemDedup.assign(z, "vec_id", "embedding", k = 4)
    val capped = graft.dedup.SemDedup.capBuckets(assigned, dim = 0, cap = 8)
    val sizes = capped.groupBy("cluster").count()
    assert(sizes.agg(max("count")).collect()(0).getLong(0) <= 24L)
    assert(sizes.count() >= 2L)
  }

  test("winnowing: detection guarantee and density bound") {
    // k=4, w=4: any shared run of >= w+k-1 = 7 tokens must yield a
    // shared fingerprint. Docs 1 and 2 share an 8-token run; doc 3 is
    // disjoint vocabulary.
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta unique1 tail1 more1"),
      (2L, "lead2 alpha beta gamma delta epsilon zeta eta theta other2"),
      (3L, "completely different words entirely here now again further onwards")
    ).toDF("doc_id", "text")
    val fp = graft.dedup.Winnowing.fingerprints(d, "doc_id", "text", k = 4, w = 4)
    val byDoc = fp.collect().groupBy(_.getLong(0))
      .map { case (k2, v) => k2 -> v.map(_.getLong(1)).toSet }
    assert((byDoc(1L) intersect byDoc(2L)).nonEmpty,
      "shared 8-token run must produce a shared fingerprint")
    assert((byDoc(1L) intersect byDoc(3L)).isEmpty,
      "disjoint vocabularies share nothing")
    // density: fingerprints <= full windows; >= ceil(grams / w) since
    // a window min can persist at most w consecutive windows
    val grams1 = 11 - 3 // n_tokens - (k-1)
    val windows1 = grams1 - 3 // full windows
    assert(byDoc(1L).size <= windows1)
    assert(byDoc(1L).size >= (grams1 + 3) / 4)
    // short doc: fewer tokens than k + w - 1 full window -> no panic
    val short = Seq((9L, "one two three")).toDF("doc_id", "text")
    assert(graft.dedup.Winnowing.fingerprints(short, "doc_id", "text").count() == 0L)
  }
}
