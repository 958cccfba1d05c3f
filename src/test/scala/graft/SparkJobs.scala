package graft

import org.apache.spark.sql.SparkSession

/** Test helper: how many Spark jobs a piece of driver code runs. */
object SparkJobs {

  /** `body`'s result and the Spark jobs it ran ([[countsOf]]). */
  def jobsOf[T](spark: SparkSession)(body: => T): (T, Int) = {
    val (result, jobs, _) = countsOf(spark)(body)
    (result, jobs)
  }

  /** `body`'s result, the Spark jobs it ran and the input records its
    * tasks read: a listener counts the job starts and task ends between
    * two marker jobs, and since it sees events in order, the end
    * marker's arrival means every job and task has been counted. */
  def countsOf[T](spark: SparkSession)(body: => T): (T, Int, Long) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
      SparkListenerTaskEnd}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(-1)
    val records = new java.util.concurrent.atomic.AtomicLong(0L)
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty("spark.job.description"))
          .orNull match {
          case "jobsOf-start" => jobs.set(0); records.set(0L)
          case "jobsOf-end" => done.countDown()
          case _ => if (jobs.get >= 0) jobs.incrementAndGet()
        }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (jobs.get >= 0 && done.getCount > 0)
          Option(te.taskMetrics).foreach(m =>
            records.addAndGet(m.inputMetrics.recordsRead))
    }
    def marker(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      marker("jobsOf-start")
      val result = body
      marker("jobsOf-end")
      require(done.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the listener never saw the end marker")
      (result, jobs.get, records.get)
    } finally sc.removeSparkListener(listener)
  }
}
