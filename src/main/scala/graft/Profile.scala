package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev tool (guide §1.1): run selected queries and print a per-JOB
  * wall-time breakdown (job id, seconds, #tasks, first line of the
  * call site) so optimization targets the stage that actually costs,
  * not the one that looks expensive. Usage:
  *   runMain graft.Profile <sfDir> <queryRegex> [reps]
  * Results go to stdout; timings are single-pass (profile shape, not
  * bench numbers). */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val rx = (if (args.length > 1) args(1) else "q1_agg").r
    val reps = if (args.length > 2) args(2).toInt else 1
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = LocalSession(cpus.toInt)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double, String, Int)]()
    val taskCounts = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val site = Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .getOrElse("?")
        jobs.put(js.jobId, (js.time, site, js.stageInfos.map(_.numTasks).sum))
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = ()
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(jobs.remove(je.jobId)).foreach { case (t0, site, nt) =>
          done.add((je.jobId, (je.time - t0) / 1000.0, site, nt))
        }
      }
    })
    // warmup codegen paths once
    try SparkEntry.queries("q1_agg")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    val picked = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => rx.pattern.matcher(n).matches() }
    for ((name, fn) <- picked; r <- 1 to reps) {
      done.clear()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let the listener bus drain
      println(f"\n===== $name rep$r total $dt%.2f s =====")
      import scala.jdk.CollectionConverters._
      val rows = done.asScala.toSeq.sortBy(_._1)
      val sum = rows.map(_._2).sum
      println(f"  jobs=${rows.size} jobTimeSum=$sum%.2f s (gaps=${dt - sum}%.2f s driver/planning)")
      rows.foreach { case (id, s, site, nt) =>
        println(f"  job $id%4d $s%7.3f s  tasks=$nt%-5d $site")
      }
    }
    spark.stop()
  }
}
