package graft
import java.nio.file.{Files, Paths}

/** Dev tool: dump `explain("formatted")` for every query so the physical
  * plans can be audited — broadcasts where expected, PushedFilters /
  * narrow ReadSchema on scans, no stray CartesianProduct, window
  * partitioning. Usage: runMain graft.Explain <sfDir> <outFile>. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "/tmp/graft_plans.txt"
    val spark = LocalSession(4)
    val sb = new StringBuilder
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      sb.append(s"\n===================== $name =====================\n")
      try {
        val df = fn(spark, sfDir)
        sb.append(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      } catch { case e: Throwable => sb.append(s"ERROR: ${e.getMessage}\n") }
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
