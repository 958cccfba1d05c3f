package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Measurement side of the benchmark (perfbench/run.py starts it and
  * turns its record into metrics). One driver thread issues the
  * workload's statements in sequence: a closed loop with one client.
  *
  *  1. Set-up, timed whole: a session with graft's SQL functions
  *     registered, then two warm-up passes over the statements. The
  *     first also loads the input tables they read (graft keeps each
  *     table's plan per session) and writes each statement's result to
  *     parquet for the oracle check, so the check never touches a
  *     measured pass. The second runs them as a measured pass does: the
  *     passes right after a cold start still speed up steeply, and a
  *     median taken on that slope moves with how fast the JIT warms.
  *  2. Measured passes until `--seconds` have gone by, at least three
  *     (four in a traced run). Each statement is timed as build (the
  *     `SparkEntry.queries` call) plus run (the frame's noop-sink
  *     write); the statement order of each pass comes from the seed. In
  *     a traced run, untraced and traced passes alternate, so both run
  *     under the same conditions.
  *  3. With `--micro-rows` > 0, the native-expression microbench.
  *
  * Everything goes to `<out>/record.json`. */
object Main {
  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val t0Nanos = System.nanoTime()
  private val t0EpochUs = System.currentTimeMillis() * 1000L
  /** Epoch microseconds on the monotonic clock, comparable with the
    * listener's epoch-millisecond event times. */
  private def nowUs(): Long = t0EpochUs + (System.nanoTime() - t0Nanos) / 1000L

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val data = a("data")
    val out = a("out")
    val stmts = a("statements").split(",").toSeq
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val microRows = a("micro-rows").toInt
    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(Paths.get(out))
    if (traced)
      org.apache.hadoop.conf.Configuration.addDefaultResource("perfbench-trace-site.xml")

    val rec = scala.collection.mutable.LinkedHashMap[String, Any]("cores" -> cores)

    // 1. set-up
    val t = System.nanoTime()
    val spark = session(cores, out, traced)
    shuffled(stmts, seed, -1).foreach(s => writeResult(spark, data, s, s"$out/check/0/$s"))
    shuffled(stmts, seed, -2).foreach(s => runStatement(spark, data, s, s"warmup:$s"))
    rec("setup_s") = (System.nanoTime() - t) / 1e9
    rec("spark_conf") = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.shuffle") || k.startsWith("spark.sql.adaptive") ||
        k == "spark.master" || k == "spark.hadoop.fs.file.impl" || k == "spark.sql.session.timeZone"
    }

    // 2. measured passes
    val sc = spark.sparkContext
    val trace = new Trace
    val passes = ArrayBuffer[Map[String, Any]]()
    val start = System.nanoTime()
    var p = 0
    // three, so that one pass slowed by a burst of load elsewhere on the
    // machine does not move the median; a traced run needs two untraced
    // and two traced passes
    val minPasses = if (traced) 4 else 3
    while (p < minPasses || System.nanoTime() - start < seconds * 1e9) {
      // untraced and traced passes in the order U T T U, repeated, so a
      // warming trend over the run favours neither side
      val tracedPass = traced && (p % 4 == 1 || p % 4 == 2)
      if (tracedPass) {
        sc.addSparkListener(trace)
        spark.listenerManager.register(trace.queryListener)
        spark.streams.addListener(trace.streamListener)
      }
      val cpu0 = cpuBean.getProcessCpuTime
      val execs = shuffled(stmts, seed, p).map { s =>
        runStatement(spark, data, s, s"$p:$s", if (tracedPass) Some(trace) else None)
      }
      val cpu1 = cpuBean.getProcessCpuTime
      if (tracedPass) {
        PerfbenchBus.drain(sc)
        sc.removeSparkListener(trace)
        spark.listenerManager.unregister(trace.queryListener)
        spark.streams.removeListener(trace.streamListener)
      }
      passes += Map("traced" -> tracedPass, "cpu_s" -> (cpu1 - cpu0) / 1e9,
        "statements" -> execs)
      p += 1
    }
    rec("passes") = passes
    rec("jobs") = trace.jobs
    rec("stages") = trace.stages
    rec("query_executions") = trace.qe
    rec("stream_progress") = trace.stream

    // 3. native-expression microbench
    if (microRows > 0) rec("functions") = Microbench.run(spark, data, microRows)

    // a result that has no oracle must repeat: write it once more
    stmts.filterNot(SparkEntry.oracleSql.contains)
      .foreach(s => writeResult(spark, data, s, s"$out/check/1/$s"))
    rec("oracle_sql") = stmts.flatMap(s => SparkEntry.oracleSql.get(s).map(s -> _)).toMap
    rec("check_errors") = checkErrors
    spark.stop()
    Files.writeString(Paths.get(s"$out/record.json"),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(rec))
  }

  private def session(cores: Int, out: String, traced: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
    if (traced) b.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.functions._
    Seq[SparkSession => Unit](VectorDot.register, SortedIntersectCount.register,
      VecNormalize.register, HyperplaneLsh.register, SimHash60.register,
      MinHashSig.register, ArrayCountIn.register, NfcNormalize.register,
      UrlCanon.register).foreach(_(spark))
    spark
  }

  private def shuffled(stmts: Seq[String], seed: Long, pass: Int): Seq[String] =
    new Random(seed * 1000003L + pass).shuffle(stmts)

  private def message(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).take(300)

  private val checkErrors = scala.collection.mutable.Map[String, String]()

  /** Untimed: the statement's result as parquet in one file, the way
    * graft's own correctness dump writes it. */
  private def writeResult(spark: SparkSession, data: String, stmt: String, dir: String): Unit = {
    try SparkEntry.queries(stmt)(spark, data).coalesce(1).write.mode("overwrite").parquet(dir)
    catch { case e: Throwable => checkErrors.getOrElseUpdate(stmt, message(e)) }
    finally spark.catalog.clearCache()
  }

  private def storage(spark: SparkSession): Map[String, Any] = {
    val sc = spark.sparkContext
    val used = sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
    Map("mb" -> used / 1e6, "rdds" -> sc.getRDDStorageInfo.length)
  }

  /** One statement execution: job group = execution id, a local property
    * naming the phase (build or run), and the timestamps of both. With a
    * trace, it also drains the bus and records the file-system counters
    * and storage residency (after the statement, and after the cache is
    * cleared); all of that is outside the timed interval. */
  private def runStatement(spark: SparkSession, data: String, stmt: String,
      exec: String, trace: Option[Trace] = None): Map[String, Any] = {
    val sc = spark.sparkContext
    trace.foreach(_.current = exec)
    val fs0 = trace.map(_ => CountingFs.snapshot())
    // the group alone, without a job description: a description would
    // replace the call site that attributes each job to a module
    sc.setLocalProperty("spark.jobGroup.id", exec)
    sc.setLocalProperty("perfbench.phase", "build")
    var err: Option[String] = None
    val t0 = nowUs()
    var tb = -1L
    try {
      val df = SparkEntry.queries(stmt)(spark, data)
      tb = nowUs()
      sc.setLocalProperty("perfbench.phase", "run")
      df.write.format("noop").mode("overwrite").save()
    } catch { case e: Throwable => err = Some(message(e)) }
    val t1 = nowUs()
    if (tb < 0) tb = t1
    sc.setLocalProperty("spark.jobGroup.id", null)
    sc.setLocalProperty("perfbench.phase", null)
    val traced = trace.map { tr =>
      PerfbenchBus.drain(sc)
      val fs1 = CountingFs.snapshot()
      val fs = fs1.map { case (k, v) => k -> (v - fs0.get(k)) }
      val held = storage(spark)
      spark.catalog.clearCache()
      val afterClear = storage(spark)
      tr.current = ""
      Map("fs" -> fs, "storage" -> held, "storage_after_clear" -> afterClear)
    }.getOrElse { spark.catalog.clearCache(); Map.empty[String, Any] }
    Map("id" -> stmt, "exec" -> exec, "t0_us" -> t0, "tb_us" -> tb,
      "t1_us" -> t1, "error" -> err) ++ traced
  }
}
