package graft

import org.apache.spark.sql.SparkSession

/** Test helper: how many Spark jobs a piece of driver code runs. */
object SparkJobs {

  /** `body`'s result and the Spark jobs it ran: a listener counts the
    * job starts between two marker jobs, and since it sees events in
    * order, the end marker's arrival means every job has been counted. */
  def jobsOf[T](spark: SparkSession)(body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(-1)
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty("spark.job.description"))
          .orNull match {
          case "jobsOf-start" => jobs.set(0)
          case "jobsOf-end" => done.countDown()
          case _ => if (jobs.get >= 0) jobs.incrementAndGet()
        }
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
      (result, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
