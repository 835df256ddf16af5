package perfbench

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.SparkEntry
import graft.core.Caches
import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.sum

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One benchmark process: builds the session, runs the warm-up query and
  * prints the ready line (run.py times set-up up to it). With
  * `--setup-only 1` it stops there; otherwise it runs the
  * workload's queries in passes, one after another on this thread (a
  * closed loop with one client), runs every query once more untimed for
  * the output check, and writes the raw record run.py turns into metrics.
  */
object Runner {
  val Ready = "PERFBENCH READY"

  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  /** Wall-clock epoch milliseconds with nanoTime resolution. */
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val dir = opt("dir")
    val cores = opt("cores").toInt
    val spark = session(cores, opt("scratch"))
    // the warm-up query of graft.Bench: session, codegen and reader init
    spark.read.parquet(s"$dir/lineitem.parquet").limit(1000)
      .agg(sum("l_quantity")).collect()
    println(Ready)
    System.out.flush()
    if (!opt.get("setup-only").contains("1")) run(spark, opt, dir, cores)
    spark.stop()
  }

  /** The session of graft.Bench (Bench.scala:7-21): local[cores], as many
    * shuffle partitions as cores, UTC, no UI, bounded status store. Only
    * the scratch directories differ, so the run writes inside its checkout.
    */
  def session(cores: Int, scratch: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum

  private def run(spark: SparkSession, opt: Map[String, String], dir: String,
                  cores: Int): Unit = {
    val sc = spark.sparkContext
    val queries = opt("queries").split(",").toSeq
    val fns = queries.map(q => q -> SparkEntry.queries(q)).toMap
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val rng = new scala.util.Random(opt("seed").toLong)
    val tracer = new Tracer

    // graft.Bench's isolation protocol, outside the timed region, without
    // its 150 ms drain sleep: at this input size the sleeps would take
    // about a quarter of a pass's wall time
    def isolate(): Unit = {
      Caches.releaseAll()
      spark.sql("CLEAR CACHE")
      System.gc()
    }
    // the action graft.Bench times: every output column, no side effect
    def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

    val samples = ArrayBuffer.empty[Map[String, Any]]
    val traces = ArrayBuffer.empty[Map[String, Any]]
    // Pass 0 is the cold pass; the next `settle` passes let the JIT settle;
    // the later passes are the measured warm passes. A traced run traces
    // its cold pass, then its later passes in the order untraced, traced,
    // traced, untraced, ..., so the tracing overhead is measured in the
    // same process and a remaining warm-up trend cancels.
    val settle = opt("settle").toInt
    // at least 11 later samples, so query_tail_s has a percentile with 10
    // samples above it; a traced run needs its later passes U T T U
    val minPasses = 1 + settle + math.max(if (trace) 4 else 2,
      (11 + queries.size - 1) / queries.size)
    def isTraced(pass: Int): Boolean = trace && (pass == 0 ||
      (pass > settle && Set(1, 2).contains((pass - settle - 1) % 4)))
    val t0 = System.nanoTime()
    var pass = 0
    while (pass < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      val traced = isTraced(pass)
      if (traced) {
        sc.addSparkListener(tracer)
        spark.listenerManager.register(tracer)
      }
      rng.shuffle(queries).zipWithIndex.foreach { case (q, pos) =>
        isolate()
        sc.setJobDescription(s"perfbench: $q")
        val g0 = gcMs
        val start = nowMs
        var built = Double.NaN
        val err = try {
          val df = fns(q)(spark, dir)
          built = nowMs
          noop(df)
          None
        } catch { case NonFatal(e) => Some(e.toString) }
        val end = nowMs
        val gcQuery = gcMs - g0
        val cachedMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
        // the heap the query left live, caches included, before isolate()
        // releases them: what the program keeps, not what the collector
        // has not reclaimed yet
        System.gc()
        val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
        samples += Map("pass" -> pass, "pos" -> pos, "q" -> q,
          "traced" -> traced, "start_ms" -> start,
          "built_ms" -> (if (built.isNaN) end else built), "end_ms" -> end,
          "ok" -> err.isEmpty, "error" -> err, "gc_ms" -> gcQuery,
          "persisted_rdds" -> sc.getPersistentRDDs.size, "cached_mb" -> cachedMb,
          "live_heap_mb" -> heapMb)
      }
      if (traced) {
        Bus.drain(sc)
        sc.removeSparkListener(tracer)
        spark.listenerManager.unregister(tracer)
        traces += Map("pass" -> pass, "events" -> tracer.drain())
      }
      pass += 1
    }

    // output check: each query once more, untimed, written for the oracle
    val checkDir = opt("check-dir")
    val checks = queries.sorted.map { q =>
      Caches.releaseAll()
      spark.sql("CLEAR CACHE")
      val err = try {
        fns(q)(spark, dir).write.mode("overwrite").parquet(s"$checkDir/$q")
        None
      } catch { case NonFatal(e) => Some(e.toString) }
      Map("q" -> q, "ok" -> err.isEmpty, "error" -> err)
    }
    // input bytes of the parser rows, probed untimed after the passes
    val parseBytes =
      if (!trace) Nil
      else queries.flatMap(q => SparkEntry.parseBytes.get(q).map(f => q -> f(spark, dir)))

    val hwmKb = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    val record = Map("cores" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "session" -> spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.") || k.startsWith("spark.ui.") || k == "spark.master"
      }.toMap,
      "samples" -> samples.toList, "traces" -> traces.toList, "checks" -> checks,
      "parse_bytes" -> parseBytes.toMap, "vm_hwm_kb" -> hwmKb,
      "oracle_sql" -> queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap)
    JsonMapper.builder().addModule(DefaultScalaModule).build()
      .writeValue(Paths.get(opt("out")).toFile, record)
  }
}
