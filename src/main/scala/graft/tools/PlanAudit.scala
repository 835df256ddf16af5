package graft.tools
// Fleet-wide plan-shape audit (guide §1 "capture the plan for every
// declared query"): one JSON line per query with the shape counters a
// reviewer checks — Exchange count (shuffles), join strategies,
// WholeStageCodegen spans, scan pushdown. Compact committed evidence
// beside the per-touched-query full dumps in plans/r16/.
//   runMain graft.tools.PlanAudit <outFile> [sfDir]
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val outFile = args.headOption.getOrElse("plans/r16/plan_audit.jsonl")
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session()
    def count(p: String, needle: String): Int =
      needle.r.findAllIn(p).size
    val sb = new StringBuilder
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val line = try {
        val df = fn(spark, dir)
        val p = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        // codegen spans only appear as *(n) markers in the simple string
        val simple = df.queryExecution.explainString(
          org.apache.spark.sql.execution.SimpleMode)
        val spans = "\\*\\((\\d+)\\)".r.findAllMatchIn(simple)
          .map(_.group(1).toInt).toSet.size
        val joins = Seq("BroadcastHashJoin", "SortMergeJoin",
          "ShuffledHashJoin", "BroadcastNestedLoopJoin", "CartesianProduct")
          .map(j => s""""$j":${count(p, j)}""").mkString(",")
        s"""{"query":"$name","exchanges":${count(p, "Exchange")},""" +
          s""""codegen_spans":$spans,$joins,""" +
          s""""pushed_filters":${count(p, "PushedFilters: \\[[^\\]]")},""" +
          s""""in_memory_scans":${count(p, "InMemoryTableScan")},""" +
          s""""takeordered":${count(p, "TakeOrderedAndProject")}}"""
      } catch { case scala.util.control.NonFatal(e) =>
        s"""{"query":"$name","error":"${e.getClass.getSimpleName}"}"""
      }
      sb.append(line).append('\n')
      graft.core.Caches.releaseAll()
      spark.sql("CLEAR CACHE")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile),
      sb.toString)
    println(s"wrote ${graft.SparkEntry.queries.size} plan rows -> $outFile")
    spark.stop()
  }
}
