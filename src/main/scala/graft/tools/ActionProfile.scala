package graft.tools
// scratch: split each query's wall time into plan-construction,
// physical-planning, and per-rep execution under the noop action —
// tells planning-bound rows apart from execution-bound ones, and a
// high warm-rep time (what the bench min measures) from cold cost.
// Usage: runMain graft.tools.ActionProfile <name>[,name...] [reps] [sfDir]
object ActionProfile {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val dir = args.lift(2).getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session()
    // session warmup (same as Bench)
    spark.read.parquet(s"$dir/lineitem.parquet").limit(1000)
      .agg(org.apache.spark.sql.functions.sum("l_quantity")).collect()
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"  $label%-22s ${(System.nanoTime() - t0) / 1e9}%8.3f s"); r
    }
    names.foreach { name =>
      println(s"$name:")
      graft.core.Caches.releaseAll()
      spark.sql("CLEAR CACHE")
      System.gc()
      (1 to reps).foreach { i =>
        println(s" rep $i:")
        val df = t("construct")(graft.SparkEntry.queries(name)(spark, dir))
        t("physical plan")(df.queryExecution.executedPlan)
        t("execute (noop)")(
          df.write.mode("overwrite").format("noop").save())
      }
    }
    spark.stop()
  }
}
