package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Scale

/** File-skipping (#55x): the per-file min/max stats index + the
  * predicate → may-contain translation must (a) never change query
  * results, (b) actually skip files on a clustered layout, (c)
  * degrade soundly on unsupported predicate shapes. */
class FilePruneSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def rm(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(rm)
    f.delete(): Unit
  }

  test("pruned read == plain filtered read; skips on clustered layout") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_prune")
    val dir = base.resolve("t").toString
    // range-clustered on x: 8 files, each a tight x-interval
    (1 to 8000).map(i => (i.toLong, (i % 100).toLong, s"p$i"))
      .toDF("x", "y", "p")
      .repartitionByRange(8, col("x")).sortWithinPartitions("x")
      .write.parquet(dir)
    val stats = Scale.fileStats(spark, dir, Seq("x", "y"))
    assert(stats.count() == 8)
    def check(cond: String, expectSkip: Boolean): Unit = {
      val (pruned, ps) = Scale.readPruned(spark, dir, cond, stats)
      val plain = spark.read.parquet(dir).where(expr(cond))
      assert(pruned.collect().map(_.toSeq).toSet ==
        plain.collect().map(_.toSeq).toSet, s"results diverged: $cond")
      if (expectSkip)
        assert(ps.filesRead < ps.filesTotal,
          s"no skipping for selective $cond: $ps")
      else assert(ps.filesRead == ps.filesTotal, s"unsound skip? $cond")
    }
    check("x >= 2000 AND x < 3000", expectSkip = true)   // range
    check("x = 4321", expectSkip = true)                 // point
    check("x IN (17, 6033)", expectSkip = true)          // in-list
    check("x < 500 OR x > 7900", expectSkip = true)      // disjunct
    check("1000 <= x AND x <= 1100", expectSkip = true)  // flipped sides
    // y is uniform per file → nothing prunable on y, but sound
    check("y = 5", expectSkip = false)
    // unsupported shapes degrade to full read inside AND / at root
    check("x % 2 = 0", expectSkip = false)
    val (_, psMixed) = Scale.readPruned(spark, dir,
      "x < 1000 AND p LIKE 'p%'", stats)
    assert(psMixed.filesRead < psMixed.filesTotal,
      "the supported AND-sibling must still prune")
    // contradiction prunes everything but still answers (empty)
    val (none, psNone) = Scale.readPruned(spark, dir, "x > 99999", stats)
    assert(psNone.filesRead == 0 && none.count() == 0)
    rm(base.toFile)
  }

  test("bloom index prunes point lookups the range stats cannot") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_prune_b")
    val dir = base.resolve("t").toString
    // clustered on x; id is a PERMUTATION (coprime multiplier mod
    // 8000) so every file's id-range spans ~the whole domain —
    // min/max can't prune id
    (1 to 8000).map(i => (i.toLong, (i.toLong * 7919L) % 8000L, s"p$i"))
      .toDF("x", "id", "p")
      .repartitionByRange(8, col("x")).sortWithinPartitions("x")
      .write.parquet(dir)
    val stats = Scale.fileStats(spark, dir, Seq("x", "id"))
    val (_, psStats) = Scale.readPruned(spark, dir, "id = 7900", stats)
    assert(psStats.filesRead == psStats.filesTotal,
      "range stats must be useless on the scattered column")
    val bloom = Scale.fileBloom(spark, dir, "id", estPerFile = 10000L)
    assert(bloom.count() == 8)
    // a present key lives in exactly one file (i=100 → id=7900)
    val (hit, psHit) = Scale.readPrunedPoint(spark, dir, "id",
      lit(7900L), bloom)
    assert(hit.collect().map(_.getString(2)).toSeq == Seq("p100"))
    assert(psHit.filesRead < psHit.filesTotal,
      s"bloom failed to prune: $psHit")
    // an absent key prunes everything (no false negatives, empty ok)
    val (miss, psMiss) = Scale.readPrunedPoint(spark, dir, "id",
      lit(12345L), bloom)
    assert(miss.count() == 0 && psMiss.filesRead <= 1,
      s"absent key should prune ~all files: $psMiss")
    // equality == the full-scan filter on a multi-file key too
    val plain = spark.read.parquet(dir).where(col("id") === 7900L)
    assert(hit.collect().map(_.toSeq).toSet ==
      plain.collect().map(_.toSeq).toSet)
    rm(base.toFile)
  }

  test("chain stats: ANALYZE once, DML maintains them incrementally") {
    import spark.implicits._
    import graft.tables.VersionStore
    val base = java.nio.file.Files.createTempDirectory("graft_prune_c")
    val src = base.resolve("src").toString
    val tbl = base.resolve("tbl").toString
    (1 to 8000).map(i => (i.toLong, s"p$i")).toDF("x", "p")
      .repartitionByRange(8, col("x")).sortWithinPartitions("x")
      .write.parquet(src)
    Scale.analyzeTable(spark, src, tbl, Seq("x"))           // v=0
    val s0 = Scale.statsOf(spark, tbl, 0L).get
      .collect().map(r => r.getString(0) -> r.toSeq).toMap
    assert(s0.size >= 7 && s0.size <= 8)
    Scale.deleteWhere(spark, tbl, tbl,                      // v=1
      col("x") >= 2000 && col("x") < 3000)
    val s1 = Scale.statsOf(spark, tbl, 1L).get
      .collect().map(r => r.getString(0) -> r.toSeq).toMap
    // a rewrite the delete fully EMPTIED carries no stats row (it has
    // no rows to serve — skipping it is sound), so coverage may drop
    // below the manifest size; never below files-with-rows
    assert(s1.size >= 5 && s1.size <= s0.size,
      s"stats must cover every non-empty file: ${s1.size}")
    // incremental: untouched files keep their EXACT stats rows; only
    // the rewritten file(s) re-profile
    val changed = s1.keySet.filterNot(s0.keySet)
    assert(changed.nonEmpty && changed.size <= 3,
      s"a range delete must re-profile only its hit files: $changed")
    assert((s1.keySet -- changed).forall(f => s1(f) == s0(f)),
      "carried pointer files must keep their stats rows verbatim")
    // the pruned read serves POST-DML data and skips
    val (got, ps) = Scale.readTablePruned(spark, tbl,
      "x >= 2500 AND x < 4000")
    val want = Scale.readTable(spark, tbl)
      .where(col("x") >= 2500 && col("x") < 4000)
    assert(got.collect().map(_.toSeq).toSet ==
      want.collect().map(_.toSeq).toSet)
    assert(ps.filesRead < ps.filesTotal, s"no skipping: $ps")
    // a probe entirely inside the DELETED range: the rewritten file's
    // FRESH stats exclude it, so the read opens (almost) nothing
    val (gone, psGone) = Scale.readTablePruned(spark, tbl,
      "x >= 2100 AND x < 2400")
    assert(gone.count() == 0 && psGone.filesRead <= 1,
      s"fresh stats must reflect the delete: $psGone")
    // RENAME carries the stats frame to the NEW logical name (r11):
    // pruning continues under `w`, rows stay correct (alias-coalesce
    // serves the pre-rename files' bytes)
    Scale.renameColumn(spark, tbl, tbl, "x", "w")           // v=2
    val (g2, ps2) = Scale.readTablePruned(spark, tbl,
      "w >= 2500 AND w < 4000")
    assert(ps2.filesRead < ps2.filesTotal,
      s"stats lost across the rename: $ps2")
    assert(g2.count() == want.count())
    // RENAME-then-ANALYZE (the r10 advice defect): re-profiling goes
    // through the reader's alias-coalesce projection, so pre-rename
    // pointer files get REAL stats under the new name — their rows
    // must never silently vanish from a pruned read
    Scale.analyzeTable(spark, tbl, tbl, Seq("w"))           // v=3
    val (g3, ps3) = Scale.readTablePruned(spark, tbl,
      "w >= 2500 AND w < 4000")
    assert(g3.collect().map(_.toSeq).toSet ==
      want.collect().map(_.toSeq).toSet,
      "RENAME-then-ANALYZE lost pointer-file rows")
    assert(ps3.filesRead < ps3.filesTotal, s"no skipping: $ps3")
    // ANALYZE of a column the table does not serve fails by NAME
    // instead of recording all-NULL stats that prune everything
    val err = intercept[IllegalArgumentException] {
      Scale.analyzeTable(spark, tbl, tbl, Seq("nope"))
    }
    assert(err.getMessage.contains("nope"))
    assert(VersionStore.committed(spark, tbl).size == 4)
    rm(base.toFile)
  }

  test("record stats: reads and metadata DDL run no job, commits one") {
    import spark.implicits._
    import graft.tables.VersionStore
    val base = java.nio.file.Files.createTempDirectory("graft_prune_j")
    val src = base.resolve("src").toString
    (1 to 8000).map(i => (i.toLong, (i % 100).toLong, s"p$i"))
      .toDF("x", "y", "p")
      .repartitionByRange(8, col("x")).sortWithinPartitions("x")
      .write.parquet(src)
    // the same 8 files as v=0 of two chains: one ANALYZEd on two
    // columns, one never ANALYZEd (a DELETE that matches nothing)
    val analyzed = base.resolve("a").toString
    val plain = base.resolve("b").toString
    val (_, analyze) = SparkJobs.jobsOf(spark)(
      Scale.analyzeTable(spark, src, analyzed, Seq("x", "y")))
    Scale.deleteWhere(spark, src, plain, lit(false))
    val more = (9001 to 9100).map(i => (i.toLong, (i % 100).toLong, s"p$i"))
      .toDF("x", "y", "p")
    // each statement runs on both chains; its Spark jobs per chain
    def jobs(stmt: String => Any): (Int, Int) =
      (SparkJobs.jobsOf(spark)(stmt(analyzed))._2,
        SparkJobs.jobsOf(spark)(stmt(plain))._2)
    val counts = Seq(
      "filesPruned" -> jobs(t => Scale.filesPruned(spark,
        VersionStore.snapshot(spark, t), "x >= 2000 AND x < 3000")),
      "DELETE" -> jobs(t => Scale.deleteWhere(spark, t, t,
        col("x") >= 2000 && col("x") < 2100)),
      "APPEND" -> jobs(t => Scale.appendTable(spark, t, more)),
      "OPTIMIZE ZORDER" -> jobs(t => Scale.optimizeTable(spark, t, t, 0.02,
        Some((col("x"), col("y"))))),
      "RENAME COLUMN" -> jobs(t => Scale.renameColumn(spark, t, t, "y", "w")))
    counts.foreach { case (stmt, (a, p)) =>
      info(s"$stmt: $a jobs ANALYZEd, $p not") }
    info(s"ANALYZE of the 8 files: $analyze jobs")
    assert(analyze == 1, s"a profile that fits one task is one job: $analyze")
    val byStmt = counts.toMap
    assert(byStmt("filesPruned")._1 == 0 && byStmt("RENAME COLUMN")._1 == 0,
      s"stats reads and metadata-only DDL must run no job: $counts")
    Seq("DELETE", "APPEND", "OPTIMIZE ZORDER").foreach { stmt =>
      val (a, p) = byStmt(stmt)
      assert(a <= p + 1, s"$stmt: stats upkeep ran ${a - p} extra jobs")
    }
    // the stats followed every statement: they still prune, under the
    // renamed column too
    val head = VersionStore.snapshot(spark, analyzed)
    assert(Scale.statsOf(spark, analyzed, head.version).get.columns
      .toSeq == Seq("__f", "min_x", "max_x", "nc_x", "min_w", "max_w",
        "nc_w", "cnt"))
    val (_, ps) = Scale.filesPruned(spark, head, "x > 9050")
    assert(ps.filesRead < ps.filesTotal, s"no skipping: $ps")
    rm(base.toFile)
  }

  test("all-null column stats prune soundly") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_prune_n")
    val dir = base.resolve("t").toString
    // file 0: x all null; file 1: x = 1..100
    Seq.fill(100)(Option.empty[Long]).zipWithIndex
      .map { case (x, i) => (x, i.toLong) }.toDF("x", "id")
      .coalesce(1).write.parquet(dir)
    (1 to 100).map(i => (Option(i.toLong), 1000L + i)).toDF("x", "id")
      .coalesce(1).write.mode("append").parquet(dir)
    val stats = Scale.fileStats(spark, dir, Seq("x"))
    val (got, ps) = Scale.readPruned(spark, dir, "x = 50", stats)
    // the all-null file satisfies no comparison → sound to skip
    assert(ps.filesRead == 1 && got.count() == 1)
    // IS NULL / IS NOT NULL prune off the null COUNTS (r11): min/max
    // can't decide null membership, nc_<col>/cnt can — and exactly
    val (nn, psNN) = Scale.readPruned(spark, dir, "x IS NULL", stats)
    assert(psNN.filesRead == 1 && nn.count() == 100,
      s"IS NULL must open only the null-carrying file: $psNN")
    val (vv, psVV) = Scale.readPruned(spark, dir, "x IS NOT NULL", stats)
    assert(psVV.filesRead == 1 && vv.count() == 100,
      s"IS NOT NULL must skip the all-null file: $psVV")
    // inside an AND both arms compose with the range translation
    val (mix, psMix) = Scale.readPruned(spark, dir,
      "x IS NOT NULL AND id > 1000", stats)
    assert(psMix.filesRead == 1 && mix.count() == 100)
    rm(base.toFile)
  }

  test("bloom probe runs distributed; driver sees only surviving names") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_prune_b")
    val dir = base.resolve("t").toString
    (1 to 4000).map(i => (i.toLong, s"r$i")).toDF("id", "p")
      .repartition(8).write.parquet(dir)
    val bloom = Scale.fileBloom(spark, dir, "id", estPerFile = 10000L)
    val probe = spark.range(1).select(xxhash64(lit(777L)).as("h"))
      .head().getLong(0)
    // executor-side survivors == a driver-side reference probe of the
    // same sketches (bit-identical deserialization path)
    val (total, survivors) = Scale.bloomSurvivors(bloom, probe)
    val reference = bloom.collect().filter { r =>
      org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("bloom")))
        .mightContainLong(probe)
    }.map(_.getString(0)).toSet
    assert(total == 8 && survivors.toSet == reference)
    assert(survivors.nonEmpty && survivors.size < 8,
      s"no pruning at 10k-est sketches over 4k keys: $survivors")
    rm(base.toFile)
  }
}
