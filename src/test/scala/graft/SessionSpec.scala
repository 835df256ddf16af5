package graft

import scala.jdk.CollectionConverters._

/** The factory's session carries the program-side settings the benchmark
  * records in `perfbench/workloads.json` → `session` (that file's own note:
  * program and benchmark sessions must not drift). Entries marked
  * "benchmark only" are the benchmark's scratch paths and are skipped;
  * `nproc` stands for the session's core count.
  */
class SessionSpec extends SparkSpec {
  test("the factory session matches the benchmark's recorded settings") {
    val recorded = Bench.json.readTree(new java.io.File("perfbench/workloads.json"))
      .get("session").properties().asScala
      .map(e => e.getKey -> e.getValue.asText)
      .filter { case (k, v) => k.startsWith("spark.") && !v.contains("benchmark only") }
      .toMap
    assert(recorded.keySet == Set("spark.master", "spark.sql.shuffle.partitions",
      "spark.sql.session.timeZone", "spark.ui.enabled",
      "spark.sql.ui.retainedExecutions", "spark.ui.retainedJobs",
      "spark.ui.retainedStages", "spark.ui.retainedTasks"))
    val cores = spark.sparkContext.defaultParallelism.toString
    assert(cores == "4")
    recorded.foreach { case (k, v) =>
      assert(spark.conf.get(k) == v.replace("nproc", cores), k)
    }
  }
}
