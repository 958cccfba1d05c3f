package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Scale
import graft.sql.GraftSql
import graft.tables.VersionStore

/** SQL/DSv2 surface (#42t–#42v): the `graft` catalog must serve the
  * chain to plain `spark.sql` — reads (head + VERSION AS OF), DELETE,
  * INSERT, and (through the extension session) MERGE — all routed
  * through the ONE commit protocol, with unsupported shapes failing
  * loudly and leaving the chain untouched. */
class GraftSqlSpec extends AnyFunSuite {
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

  private def freshChain(tag: String): (java.nio.file.Path, String) = {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory(tag)
    val src = base.resolve("src").toString
    val tbl = base.resolve("tbl").toString
    (1 to 1000).map(i => (i.toLong, i.toLong % 4, i.toDouble))
      .toDF("id", "k", "v")
      .repartition(4, col("k")).write.parquet(src)
    Scale.analyzeTable(spark, src, tbl, Seq("id"))   // v=0: pointers
    GraftSql.install(spark)
    (base, tbl)
  }

  test("SELECT head and VERSION AS OF route through the catalog") {
    val (base, tbl) = freshChain("graft_sql_r")
    Scale.deleteWhere(spark, tbl, tbl, col("k") === 3)          // v=1
    val head = spark.sql(s"SELECT * FROM graft.`$tbl`")
    assert(head.count() == 750 &&
      head.schema.fieldNames.toSeq == Seq("id", "k", "v"))
    assert(head.collect().map(_.getLong(0)).toSet ==
      Scale.readTable(spark, tbl).collect().map(_.getLong(0)).toSet)
    val v0 = spark.sql(s"SELECT count(*) AS n FROM graft.`$tbl` " +
      "VERSION AS OF 0").head().getLong(0)
    assert(v0 == 1000, "time travel must serve the pre-delete image")
    // aggregates/filters compose like any SQL table
    assert(spark.sql(
      s"SELECT k, count(*) n FROM graft.`$tbl` WHERE id <= 100 " +
        "GROUP BY k ORDER BY k").count() == 3)
    rm(base.toFile)
  }

  test("SQL DELETE commits through the chain; bad predicates refuse") {
    val (base, tbl) = freshChain("graft_sql_d")
    spark.sql(s"DELETE FROM graft.`$tbl` WHERE k = 2 AND id > 500")
    assert(VersionStore.head(spark, tbl).contains(1L))
    assert(Scale.history(spark, tbl).collect().map(_.getString(1))
      .toSeq == Seq("ANALYZE", "DELETE"))
    val want = (1 to 1000).count(i => !(i % 4 == 2 && i > 500))
    assert(spark.sql(s"SELECT count(*) n FROM graft.`$tbl`")
      .head().getLong(0) == want)
    // an untranslatable predicate must error, not silently mis-delete
    intercept[Exception] {
      spark.sql(s"DELETE FROM graft.`$tbl` WHERE v * 2 > id")
    }
    assert(VersionStore.head(spark, tbl).contains(1L),
      "a refused DELETE must not move the head")
    rm(base.toFile)
  }

  test("SQL INSERT INTO appends a new version by pointer + data file") {
    val (base, tbl) = freshChain("graft_sql_i")
    spark.sql(s"INSERT INTO graft.`$tbl` " +
      s"SELECT id + 10000, 9L, 0.5 FROM graft.`$tbl` WHERE k = 0")
    assert(VersionStore.head(spark, tbl).contains(1L))
    val n = spark.sql(s"SELECT count(*) n FROM graft.`$tbl`")
      .head().getLong(0)
    assert(n == 1250)
    // the base files ride by pointer: v=1 holds ONLY the append file(s)
    val mf = VersionStore.snapshot(spark, tbl, Some(1L)).files
    val baseCount = VersionStore.snapshot(spark, tbl, Some(0L)).files.size
    assert(mf.count(_.contains("/v=1/")) >= 1 &&
      mf.count(!_.contains("/v=1/")) == baseCount)
    rm(base.toFile)
  }

  test("MERGE INTO runs via the extension session; odd shapes fall through") {
    import spark.implicits._
    val (base, tbl) = freshChain("graft_sql_m")
    val ms = GraftSql.mergeSession(spark)
    // updates for half the k=0 keys, inserts for a fresh key space
    import ms.implicits.{localSeqToDatasetHolder => msSeq}
    msSeq((1 to 250).map(i =>
      (i * 4L, 0L, -1.0)) ++ (1 to 100).map(i =>
      (100000L + i, 7L, 0.25))).toDF("id", "k", "v")
      .createOrReplaceTempView("ms_src")
    ms.sql(
      s"""MERGE INTO graft.`$tbl` t USING ms_src s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(VersionStore.head(spark, tbl).contains(1L))
    val tb = Scale.readTable(spark, tbl)
    assert(tb.count() == 1100)
    assert(tb.where(col("v") === -1.0).count() == 250)
    assert(tb.where(col("k") === 7).count() == 100)
    // an unsupported MERGE shape (NOT MATCHED BY SOURCE) must NOT be
    // silently half-applied: the rule leaves it and Spark errors
    intercept[Exception] {
      ms.sql(
        s"""MERGE INTO graft.`$tbl` t USING ms_src s
           |ON t.id = s.id
           |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    }
    assert(VersionStore.head(spark, tbl).contains(1L),
      "a refused MERGE must not move the head")
    // the ORIGINAL session still reads the merged head (one chain,
    // any session) and stays the active/default session
    assert(org.apache.spark.sql.classic.SparkSession
      .getDefaultSession.exists(_ eq spark))
    assert(spark.sql(s"SELECT count(*) n FROM graft.`$tbl`")
      .head().getLong(0) == 1100)
    rm(base.toFile)
  }

  test("SQL scan file-prunes via pushed filters; unprunable reads stay full") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_sql_p")
    val src = base.resolve("src").toString
    val tbl = base.resolve("tbl").toString
    (1 to 8000).map(i => (i.toLong, s"p$i")).toDF("x", "p")
      .repartitionByRange(8, col("x")).sortWithinPartitions("x")
      .write.parquet(src)
    Scale.analyzeTable(spark, src, tbl, Seq("x"))
    GraftSql.install(spark)
    val sel = spark.sql(
      s"SELECT * FROM graft.`$tbl` WHERE x >= 2000 AND x < 3000")
    val got = sel.collect().map(_.getLong(0)).toSet
    assert(got == (2000 until 3000).map(_.toLong).toSet)
    val ps = graft.sql.GraftScanStats.last
    assert(ps.exists(p => p.filesRead < p.filesTotal),
      s"selective SQL read must skip files: $ps")
    // an unprunable predicate (no stats column) reads everything —
    // and stays correct
    val all = spark.sql(
      s"SELECT count(*) n FROM graft.`$tbl` WHERE p LIKE 'p1%'")
      .head().getLong(0)
    assert(all == (1 to 8000).count(i => s"p$i".startsWith("p1")))
    rm(base.toFile)
  }

  test("extension-session UPDATE and expression-predicate DELETE") {
    import spark.implicits._
    val (base, tbl) = freshChain("graft_sql_u")
    val ms = GraftSql.mergeSession(spark)
    ms.sql(s"UPDATE graft.`$tbl` SET v = v + 0.5 WHERE k = 1")
    val t1 = Scale.readTable(spark, tbl)
    assert(t1.where(col("k") === 1 && col("v") % 1.0 === 0.5)
      .count() == 250, "UPDATE must hit exactly the k=1 rows")
    // this predicate is NOT v1-Filter-expressible: the catalog hook
    // refuses it on a plain session...
    intercept[Exception] {
      spark.sql(s"DELETE FROM graft.`$tbl` WHERE v * 2 > id")
    }
    // ...and the extension arm runs it (v*2 > id ⇔ always true here
    // except... v == id as doubles, so v*2 > id for all id >= 1)
    ms.sql(s"DELETE FROM graft.`$tbl` WHERE v * 2 > cast(id AS double) AND k = 2")
    val t2 = Scale.readTable(spark, tbl)
    assert(t2.where(col("k") === 2).count() == 0,
      "expression-predicate DELETE must run on the extension session")
    assert(t2.count() == 750)
    assert(Scale.history(spark, tbl).collect().map(_.getString(1))
      .toSeq == Seq("ANALYZE", "UPDATE", "DELETE"))
    rm(base.toFile)
  }

  test("ALTER TABLE ADD/RENAME/DROP route to the metadata-only DDL") {
    val (base, tbl) = freshChain("graft_sql_a")
    spark.sql(s"ALTER TABLE graft.`$tbl` ADD COLUMNS (flag BIGINT)")
    assert(spark.sql(s"SELECT * FROM graft.`$tbl`").columns.toSeq ==
      Seq("id", "k", "v", "flag"))
    spark.sql(s"ALTER TABLE graft.`$tbl` RENAME COLUMN v TO val")
    spark.sql(s"ALTER TABLE graft.`$tbl` DROP COLUMN k")
    val t = spark.sql(s"SELECT * FROM graft.`$tbl`")
    assert(t.columns.toSeq == Seq("id", "val", "flag"))
    assert(t.count() == 1000 &&
      t.where(col("val").isNull).count() == 0,
      "renamed column must keep serving pre-rename bytes")
    // all three DDLs were metadata-only: no version dir holds data
    (1L to 3L).foreach(v =>
      assert(parquetsIn(s"$tbl/v=$v").isEmpty, s"v=$v wrote data"))
    assert(Scale.history(spark, tbl).collect().map(_.getString(1))
      .toSeq == Seq("ANALYZE", "ADD_COLUMN", "RENAME_COLUMN",
      "DROP_COLUMN"))
    rm(base.toFile)
  }

  test("maintenance statements: OPTIMIZE, RESTORE, DESCRIBE HISTORY, VACUUM") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_sql_v")
    val src = base.resolve("src").toString
    val tbl = base.resolve("tbl").toString
    (1 to 2000).map(i => (i.toLong, i.toLong % 4, i.toDouble))
      .toDF("id", "k", "v").repartition(12).write.parquet(src)
    Scale.analyzeTable(spark, src, tbl, Seq("id"))              // v=0
    Scale.deleteWhere(spark, tbl, tbl, col("k") === 3)          // v=1
    val ms = GraftSql.mergeSession(spark)
    val opt = ms.sql(s"OPTIMIZE graft.`$tbl` TARGET 64 MB").head()
    assert(opt.getLong(1) < opt.getLong(0))                     // v=2
    ms.sql(s"RESTORE TABLE graft.`$tbl` TO VERSION AS OF 0")    // v=3
    assert(Scale.readTable(spark, tbl).count() == 2000)
    val hist = ms.sql(s"DESCRIBE HISTORY graft.`$tbl`")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(hist.toSeq == Seq((0L, "ANALYZE"), (1L, "DELETE"),
      (2L, "OPTIMIZE"), (3L, "RESTORE")))
    // VACUUM drops all but the newest 2 versions; head still serves
    val pruned = ms.sql(s"VACUUM graft.`$tbl` RETAIN 2 VERSIONS")
      .head().getLong(0)
    assert(pruned == 2L)
    assert(Scale.readTable(spark, tbl).count() == 2000,
      "the restored head must survive retention (pointers ref-counted)")
    // an unknown statement still parses through the delegate
    assert(ms.sql("SELECT 1 + 1 AS two").head().getInt(0) == 2)
    rm(base.toFile)
  }

  private def parquetsIn(d: String): Array[java.io.File] = {
    val fl = new java.io.File(d).listFiles()
    if (fl == null) Array.empty
    else fl.filter(_.getName.endsWith(".parquet"))
  }

  test("TIMESTAMP AS OF resolves by commit stamp; VACUUM RETAIN HOURS") {
    val (base, tbl) = freshChain("graft_sql_ts")
    Scale.deleteWhere(spark, tbl, tbl, col("k") === 3)          // v=1
    Scale.deleteWhere(spark, tbl, tbl, col("k") === 2)          // v=2
    val hist = Scale.history(spark, tbl).orderBy("version")
      .collect().map(r => r.getLong(0) -> r.getTimestamp(3)).toMap
    assert(hist.values.forall(_ != null), "every commit is stamped")
    assert(hist(0L).getTime < hist(1L).getTime &&
      hist(1L).getTime < hist(2L).getTime,
      "stamps are strictly increasing even within one clock tick")
    // as-of each version's own stamp serves exactly that version
    def countAt(ts: java.sql.Timestamp): Long = spark.sql(
      s"SELECT count(*) AS n FROM graft.`$tbl` TIMESTAMP AS OF '$ts'")
      .head().getLong(0)
    assert(countAt(hist(0L)) == 1000)
    assert(countAt(hist(1L)) == 750)
    assert(countAt(hist(2L)) == 500)
    // between two stamps → the earlier version; before the first → refuse
    assert(spark.sql(s"SELECT count(*) AS n FROM graft.`$tbl` " +
      s"TIMESTAMP AS OF '${new java.sql.Timestamp(
        hist(1L).getTime + (hist(2L).getTime - hist(1L).getTime) / 2)}'")
      .head().getLong(0) == 750)
    intercept[Exception] {
      spark.sql(s"SELECT count(*) FROM graft.`$tbl` " +
        "TIMESTAMP AS OF '1999-01-01'").head()
    }
    // VACUUM RETAIN HOURS: a huge window keeps everything; a zero
    // window keeps only the head (all stamps are in the past)
    val ms = GraftSql.mergeSession(spark)
    assert(ms.sql(s"VACUUM graft.`$tbl` RETAIN 24 HOURS")
      .head().getLong(0) == 0L)
    Thread.sleep(5) // age every stamp past the zero-hour cutoff
    assert(ms.sql(s"VACUUM graft.`$tbl` RETAIN 0 HOURS")
      .head().getLong(0) == 2L)
    assert(Scale.readTable(spark, tbl).count() == 500,
      "the head must survive a zero-hour vacuum")
    rm(base.toFile)
  }

  test("multi-clause MERGE: conditional update/delete/insert, clause order") {
    import spark.implicits._
    val (base, tbl) = freshChain("graft_sql_mm")
    val ms = GraftSql.mergeSession(spark)
    import ms.implicits.{localSeqToDatasetHolder => msSeq}
    // matched keys 1..500 (flag v: negative → delete arm), new keys
    // 100001..100100 (only even qualify for the conditional insert)
    msSeq((1 to 500).map(i =>
      (i.toLong, 0L, if (i % 5 == 0) -1.0 else 10.0)) ++
      (1 to 100).map(i => (100000L + i, 7L, i.toDouble)))
      .toDF("id", "k", "v").createOrReplaceTempView("mm_src")
    ms.sql(
      s"""MERGE INTO graft.`$tbl` t USING mm_src s
         |ON t.id = s.id
         |WHEN MATCHED AND s.v < 0 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET v = t.v + s.v
         |WHEN NOT MATCHED AND s.id % 2 = 0 THEN
         |  INSERT (id, k, v) VALUES (s.id, 9, s.v)""".stripMargin)
    val t = Scale.readTable(spark, tbl)
    // 1000 - 100 deleted (i%5==0 of 1..500) + 50 inserted (even ids)
    assert(t.count() == 1000 - 100 + 50, s"got ${t.count()}")
    assert(t.where(col("k") === 9).count() == 50)
    // updated rows: matched, not deleted → v = id + 10
    assert(t.where(col("id") === 7).head().getDouble(2) == 17.0)
    assert(t.where(col("id") === 5).count() == 0, "delete arm fired")
    // untouched rows keep their value
    assert(t.where(col("id") === 501).head().getDouble(2) == 501.0)
    // UPDATE-before-DELETE order: the update wins both-true rows
    val tbl2 = base.resolve("tbl2").toString
    msSeq((1 to 100).map(i => (i.toLong, i.toDouble))).toDF("id", "v")
      .repartition(2).write.parquet(base.resolve("s2").toString)
    Scale.analyzeTable(spark, base.resolve("s2").toString, tbl2,
      Seq("id"))
    msSeq((1 to 100).map(i => (i.toLong, -5.0))).toDF("id", "v")
      .createOrReplaceTempView("mm_src2")
    ms.sql(
      s"""MERGE INTO graft.`$tbl2` t USING mm_src2 s
         |ON t.id = s.id
         |WHEN MATCHED AND t.id <= 40 THEN UPDATE SET v = 0.0
         |WHEN MATCHED AND t.id <= 60 THEN DELETE""".stripMargin)
    val t2 = Scale.readTable(spark, tbl2)
    assert(t2.where(col("v") === 0.0).count() == 40,
      "first-match-wins: ids 1..40 update, not delete")
    assert(t2.count() == 80, "only ids 41..60 deleted")
    rm(base.toFile)
  }

  test("MERGE SET lists: SET * writes NULL like SET c = s.c; SET v = s.v writes only v") {
    import spark.implicits._
    val (baseA, star) = freshChain("graft_sql_ns")
    val (baseB, spelled) = freshChain("graft_sql_nc")
    val ms = GraftSql.mergeSession(spark)
    import ms.implicits.{localSeqToDatasetHolder => msSeq}
    // one matched key with a NULL v, one matched with a value, one new
    msSeq(Seq((4L, 0L, None), (8L, 0L, Some(-8.0)), (5000L, 9L, None)))
      .toDF("id", "k", "v").createOrReplaceTempView("ns_src")
    ms.sql(
      s"""MERGE INTO graft.`$star` t USING ns_src s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    ms.sql(
      s"""MERGE INTO graft.`$spelled` t USING ns_src s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET k = s.k, v = s.v
         |WHEN NOT MATCHED THEN
         |  INSERT (id, k, v) VALUES (s.id, s.k, s.v)""".stripMargin)
    def rows(tbl: String) = Scale.readTable(spark, tbl).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).sorted.toSeq
    val got = rows(star)
    assert(got == rows(spelled), "SET * and SET c = s.c must agree")
    // the SQL rule: the NULL lands, it does not keep the target value
    val changed = got.filter(r => Set(4L, 8L, 5000L)(r._1))
    assert(changed == Seq((4L, 0L, None), (8L, 0L, Some(-8.0)),
      (5000L, 9L, None)) && got.size == 1001, s"$changed")
    // an all-identity SET list that names v alone leaves k as it was,
    // even from a source whose k differs
    msSeq(Seq((12L, 3L, -12.0))).toDF("id", "k", "v")
      .createOrReplaceTempView("ns_src_v")
    ms.sql(
      s"""MERGE INTO graft.`$spelled` t USING ns_src_v s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(rows(spelled).find(_._1 == 12L).contains((12L, 0L, Some(-12.0))))
    rm(baseA.toFile)
    rm(baseB.toFile)
  }

  test("REPLACE WHERE is one commit; INSERT OVERWRITE replaces the table") {
    import spark.implicits._
    val (base, tbl) = freshChain("graft_sql_rw")
    val ms = GraftSql.mergeSession(spark)
    ms.range(1, 2000).selectExpr("id", "3L AS k", "-1.0 AS v")
      .createOrReplaceTempView("rw_src")
    // replace the k=3 slice (250 rows) with 1999 fresh k=3 rows — ONE
    // commit, no in-between state on the op log
    ms.sql(s"INSERT INTO graft.`$tbl` REPLACE WHERE k = 3 " +
      "SELECT id, k, v FROM rw_src")
    assert(VersionStore.head(spark, tbl).contains(1L),
      "REPLACE WHERE must publish exactly one version")
    assert(Scale.history(spark, tbl).collect().map(_.getString(1))
      .toSeq == Seq("ANALYZE", "REPLACE_WHERE"))
    val t = Scale.readTable(spark, tbl)
    assert(t.count() == 750 + 1999)
    assert(t.where(col("k") === 3).count() == 1999)
    assert(t.where(col("k") === 3 && col("v") =!= -1.0).count() == 0,
      "every old k=3 row must be gone")
    // replacement rows escaping the predicate refuse, head unmoved
    intercept[Exception] {
      ms.sql(s"INSERT INTO graft.`$tbl` REPLACE WHERE k = 2 " +
        "SELECT id, 9L AS k, v FROM rw_src")
    }
    assert(VersionStore.head(spark, tbl).contains(1L))
    // INSERT OVERWRITE: the whole table swaps in one commit; the old
    // image stays time-travelable
    ms.sql(s"INSERT OVERWRITE graft.`$tbl` " +
      "SELECT id, 0L AS k, 2.5 AS v FROM rw_src WHERE id <= 10")
    assert(VersionStore.head(spark, tbl).contains(2L))
    assert(Scale.readTable(spark, tbl).count() == 10)
    assert(Scale.readTableAt(spark, tbl, 1L).count() == 2749,
      "the overwritten image must stay time-travelable")
    assert(Scale.history(spark, tbl).collect().map(_.getString(1))
      .toSeq == Seq("ANALYZE", "REPLACE_WHERE", "OVERWRITE"))
    rm(base.toFile)
  }

  test("SQL scan prunes COLUMNS: a two-column SELECT reads two columns") {
    val (base, tbl) = freshChain("graft_sql_cp")
    // the physical scan schema is what the V1 relation advertises —
    // capture it off the executed plan's RowDataSourceScanExec
    val q = spark.sql(s"SELECT k, count(*) AS n, sum(v) AS sv " +
      s"FROM graft.`$tbl` WHERE id <= 500 GROUP BY k")
    val scans = q.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.RowDataSourceScanExec => s
    }
    assert(scans.nonEmpty, "expected a v1-fallback scan in the plan")
    val served = scans.head.output.map(_.name).toSet
    assert(served == Set("id", "k", "v"),
      s"scan must serve exactly the referenced columns, got $served")
    // correctness through the pruned scan
    val got = q.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (1 to 500).groupBy(_ % 4).map { case (k, xs) =>
      k.toLong -> xs.size.toLong })
    // a full-width SELECT still serves the whole schema
    val full = spark.sql(s"SELECT * FROM graft.`$tbl`")
    assert(full.columns.toSeq == Seq("id", "k", "v"))
    assert(full.count() == 1000)
    // count(*) prunes to ZERO data columns and stays countable
    assert(spark.sql(s"SELECT count(*) AS n FROM graft.`$tbl`")
      .head().getLong(0) == 1000)
    rm(base.toFile)
  }

  test("scan prune accounting is per-thread: concurrent queries don't race") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_sql_cc")
    val src = base.resolve("src").toString
    val tbl = base.resolve("tbl").toString
    (1 to 8000).map(i => (i.toLong, i.toDouble)).toDF("x", "v")
      .repartitionByRange(8, col("x")).sortWithinPartitions("x")
      .write.parquet(src)
    Scale.analyzeTable(spark, src, tbl, Seq("x"))
    GraftSql.install(spark)
    // thread A runs a selective (pruning) query, thread B an
    // unprunable full read, many times each — every thread must see
    // ITS OWN accounting regardless of interleaving
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def worker(selective: Boolean): Thread = new Thread(() => {
      (1 to 5).foreach { _ =>
        if (selective) {
          spark.sql(s"SELECT count(*) AS n FROM graft.`$tbl` " +
            "WHERE x >= 100 AND x < 900").head().getLong(0): Unit
          val ps = graft.sql.GraftScanStats.last
          if (!ps.exists(p => p.filesRead < p.filesTotal))
            errs.add(s"selective thread saw $ps"): Unit
        } else {
          spark.sql(s"SELECT count(*) AS n FROM graft.`$tbl`")
            .head().getLong(0): Unit
          val ps = graft.sql.GraftScanStats.last
          if (ps.nonEmpty)
            errs.add(s"full-read thread saw $ps"): Unit
        }
      }
    })
    val ts = Seq(worker(true), worker(false))
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(errs.isEmpty, s"cross-thread stats bleed: $errs")
    rm(base.toFile)
  }

  test("CREATE TABLE / CTAS creates the chain; DROP TABLE removes it") {
    val base = java.nio.file.Files.createTempDirectory("graft_sql_c")
    val tbl = base.resolve("tbl").toString
    GraftSql.install(spark)
    spark.sql(s"CREATE TABLE graft.`$tbl` AS " +
      "SELECT id, id % 4 AS k, cast(id AS double) AS v FROM range(1000)")
    assert(Scale.history(spark, tbl).collect().map(_.getString(1))
      .toSeq == Seq("CREATE", "APPEND"))
    assert(spark.sql(s"SELECT count(*) n FROM graft.`$tbl`")
      .head().getLong(0) == 1000)
    // the created chain is a full citizen: DML + DDL compose on it
    spark.sql(s"DELETE FROM graft.`$tbl` WHERE k = 0")
    assert(spark.sql(s"SELECT count(*) n FROM graft.`$tbl`")
      .head().getLong(0) == 750)
    // plain CREATE (no AS): empty table with a declared schema
    val t2 = base.resolve("t2").toString
    spark.sql(s"CREATE TABLE graft.`$t2` (a BIGINT, b STRING)")
    assert(spark.sql(s"SELECT * FROM graft.`$t2`").count() == 0)
    spark.sql(s"INSERT INTO graft.`$t2` VALUES (1, 'x'), (2, 'y')")
    assert(spark.sql(s"SELECT count(*) n FROM graft.`$t2`")
      .head().getLong(0) == 2)
    // duplicate CREATE refuses; DROP removes the chain dir wholesale
    intercept[Exception] {
      spark.sql(s"CREATE TABLE graft.`$t2` (a BIGINT)")
    }
    spark.sql(s"DROP TABLE graft.`$tbl`")
    assert(!new java.io.File(tbl).exists())
    rm(base.toFile)
  }
}
