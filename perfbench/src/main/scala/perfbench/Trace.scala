package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Listener-side recorder for traced passes. It only appends events to
  * in-memory buffers; the harness tags them with the statement running
  * at the time (`current`), drains the bus after each statement and
  * writes everything out when the run ends. */
final class Trace extends SparkListener {
  @volatile var current: String = ""

  val jobs = ArrayBuffer[Map[String, Any]]()
  private val jobStart = scala.collection.mutable.Map[Int, Map[String, Any]]()
  private val stageAgg = scala.collection.mutable.Map[(Int, Int), StageAgg]()
  val qe = ArrayBuffer[Map[String, Any]]()
  val stream = ArrayBuffer[Map[String, Any]]()

  final class StageAgg {
    var tasks, runMs, gcMs = 0L
    var cpuNs, shuffleWrite, shuffleRead, spill = 0L
    val taskMs = ArrayBuffer[Long]()
  }

  private val sqlSite = scala.collection.mutable.Map[String, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { sqlSite(s.executionId.toString) = s.description }
    case _ =>
  }

  /** A job's call site ("count at Dedup.scala:740") is that of the SQL
    * action that launched it, when there is one: jobs of a broadcast or
    * a subquery run on another thread, and their own stage name points
    * at that thread. Otherwise it is the result stage's name. */
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    val site = sqlSite.get(prop("spark.sql.execution.id"))
      .filter(_.matches(".* at [^ ]+:\\d+"))
      .getOrElse(e.stageInfos.maxBy(_.stageId).name)
    jobStart(e.jobId) = Map(
      "id" -> e.jobId, "t0_ms" -> e.time, "exec" -> current,
      "group" -> prop("spark.jobGroup.id"), "phase" -> prop("perfbench.phase"),
      "site" -> site, "stages" -> e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { j =>
      jobs += j ++ Map("t1_ms" -> e.time,
        "ok" -> (e.jobResult == JobSucceeded))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = stageAgg.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAgg)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.diskBytesSpilled
      a.taskMs += e.taskInfo.duration
    }
  }

  /** Per-stage task aggregates, keyed by stage id (attempts summed). */
  def stages: Seq[Map[String, Any]] = synchronized {
    stageAgg.groupBy(_._1._1).toSeq.sortBy(_._1).map { case (id, as) =>
      val v = as.values
      Map("id" -> id, "tasks" -> v.map(_.tasks).sum,
        "run_ms" -> v.map(_.runMs).sum, "cpu_ns" -> v.map(_.cpuNs).sum,
        "gc_ms" -> v.map(_.gcMs).sum,
        "shuffle_write" -> v.map(_.shuffleWrite).sum,
        "shuffle_read" -> v.map(_.shuffleRead).sum,
        "spill" -> v.map(_.spill).sum,
        "task_ms" -> v.flatMap(_.taskMs).toSeq)
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe0: QueryExecution, ok: Boolean): Unit = {
      val ph = qe0.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      Trace.this.synchronized {
        qe += Map("exec" -> current, "ok" -> ok, "analysis_ms" -> ms("analysis"),
          "optimization_ms" -> ms("optimization"), "planning_ms" -> ms("planning"))
      }
    }
    override def onSuccess(f: String, q: QueryExecution, d: Long): Unit = record(q, ok = true)
    override def onFailure(f: String, q: QueryExecution, e: Exception): Unit = record(q, ok = false)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val trigger = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      Trace.this.synchronized {
        stream += Map("exec" -> current, "batch" -> p.batchId,
          "duration_ms" -> trigger, "input_rows" -> p.numInputRows)
      }
    }
  }
}
