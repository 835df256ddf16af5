package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session()
    new java.io.File(outDir).mkdirs()
    // optional comma-separated filter for single-query debugging
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(',').toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        // NonFatal only: an OOM must stop the run, not be logged as one
        // failed query while the rest run on a degraded heap
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case NonFatal(e) =>
          System.err.println(s"[verify] $name failed: $e")
          e.getStackTrace.take(12).foreach(f =>
            System.err.println(s"[verify]   at $f"))
        }
        // 320 single-pass queries: without a per-query teardown the
        // unregistered persists + checkpoint blocks accumulate for the
        // whole run (same storage-residue class the bench fixed in r11)
        graft.core.Caches.releaseAll()
        spark.sql("CLEAR CACHE")
      }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Bench.json.writeValueAsString(SparkEntry.oracleSql))
    spark.stop()
  }
}
