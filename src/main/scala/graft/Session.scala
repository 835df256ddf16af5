package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built (the reference's
  * `lib/connector.py:17-76` role). Bench, Verify, the tools and the test
  * suite all call it, so a timing, an answer and a test all come from the
  * same session settings.
  */
object Session {
  /** `local[cpus]` with as many shuffle partitions as cores, UTC, no UI
    * and a bounded status store. `cpus` defaults to `SPARK_GRAFT_CPUS`,
    * else 4; `warehouseDir` overrides Spark's default `./spark-warehouse`
    * (a deployment path, not a tuning knob).
    */
  def apply(cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt,
            warehouseDir: Option[String] = None): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the status store retains per-execution plan strings + metrics
      // even with the UI off; at 320 queries × 3-4 executions each the
      // defaults (1000 executions / jobs / stages) hold full physical
      // plans — typedlit codebooks included — for the whole sweep.
      // Bound them so sweep position N costs the same heap as position 1.
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
    warehouseDir.foreach(builder.config("spark.sql.warehouse.dir", _))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
