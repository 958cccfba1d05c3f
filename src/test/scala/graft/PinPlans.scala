package graft

import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Formatted explains of every frame one query pins (each `Pin` is one
  * `localCheckpoint` action), of every write its build makes (a chain
  * commit's staged write, say; optimized plan first) and of the frame
  * it returns, with the Spark jobs its build and its run take:
  *
  *   sbt 'Test/runMain graft.PinPlans q_dedup_cluster /path/to/sf0.01 out.txt'
  *
  * The query is built and run twice; the second pass is written. */
object PinPlans {
  def main(args: Array[String]): Unit = {
    val Array(query, sfDir, out) = args
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    val pins = scala.collection.mutable.ArrayBuffer.empty[String]
    val writes = scala.collection.mutable.ArrayBuffer.empty[String]
    // the SQL surface's statements run on the extension session, which
    // has listeners of its own
    val listener = new QueryExecutionListener {
      def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        if (fn == "localCheckpoint") pins.synchronized {
          pins += qe.explainString(FormattedMode)
        } else if (fn == "command") writes.synchronized {
          writes += qe.optimizedPlan.treeString + "\n" +
            qe.explainString(FormattedMode)
        }
      def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    Seq(spark, graft.sql.GraftSql.mergeSession(spark))
      .foreach(_.listenerManager.register(listener))
    val fn = SparkEntry.queries(query)
    var text = ""
    for (_ <- 1 to 2) {
      pins.synchronized(pins.clear())
      writes.synchronized(writes.clear())
      val (df, buildJobs) = SparkJobs.jobsOf(spark)(fn(spark, sfDir))
      val writeText = writes.synchronized(writes.toList).zipWithIndex.map {
        case (w, i) => s"== write ${i + 1} ==\n$w"
      }
      val (_, runJobs) = SparkJobs.jobsOf(spark)(
        df.write.format("noop").mode("overwrite").save())
      val pinText = pins.synchronized(pins.toList).zipWithIndex.map {
        case (p, i) => s"== pin ${i + 1} ==\n$p"
      }
      val head = s"$query: build $buildJobs jobs, run $runJobs jobs, " +
        s"${pinText.size} pins, ${writeText.size} writes"
      val result = "== returned frame ==\n" +
        df.queryExecution.explainString(FormattedMode)
      text = (head +: (pinText ++ writeText) :+ result).mkString("\n\n")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), text)
    spark.stop()
  }
}
