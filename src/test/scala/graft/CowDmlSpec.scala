package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Scale
import graft.tables.VersionStore

/** Copy-on-write DML (#42g), manifest-pointer edition: DELETE/UPDATE
  * rewrite ONLY the files the predicate touches; untouched files are
  * carried by MANIFEST POINTER — never rewritten, never byte-copied
  * (the r9 shape streamed every untouched byte through the driver) —
  * and the logical result equals the plain filter / CASE projection. */
class CowDmlSpec extends AnyFunSuite {
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

  private def parquets(d: String): Array[java.io.File] = {
    val fl = new java.io.File(d).listFiles()
    if (fl == null) Array.empty
    else fl.filter(_.getName.endsWith(".parquet"))
  }

  test("deleteWhere rewrites only hit files; untouched ride by pointer") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_cow_spec")
    val src = base.resolve("src").toString
    val dest = base.resolve("del").toString
    // k in 0..3, one file per k: the predicate k = 2 must touch 1 of 4
    val df = (1 to 4000).map(i => (i.toLong, i.toLong % 4, s"v$i"))
      .toDF("id", "k", "v")
    df.repartition(4, col("k")).write.parquet(src)
    val srcSnapshot = parquets(src)
      .map(f => f.getName -> (f.length(), f.lastModified())).toMap
    val stats = Scale.deleteWhere(spark, src, dest, col("k") === 2)
    // 4 key values hash into ≤4 partitions (collisions allowed), but
    // k=2's rows land in exactly ONE file — the only one rewritten
    assert(stats.filesTotal >= 2 && stats.filesRewritten == 1,
      s"expected a single-file rewrite, got $stats")
    assert(stats.rowsBefore == 4000 && stats.rowsAfter == 3000)
    val got = Scale.readTable(spark, dest)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exp = df.where(col("k") =!= 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == exp)
    // NO-COPY proof: the version dir holds ONLY the rewritten file;
    // every untouched file stayed in src, bit-for-bit undisturbed
    val vdirFiles = parquets(s"$dest/v=0")
    assert(vdirFiles.length == 1,
      s"untouched files must NOT be copied into the version dir, " +
        s"found ${vdirFiles.length}")
    val after = parquets(src)
      .map(f => f.getName -> (f.length(), f.lastModified())).toMap
    assert(after == srcSnapshot, "source files were disturbed")
    // the manifest points at src for every untouched file
    val mf = VersionStore.snapshot(spark, dest, Some(0L)).files
    assert(mf.count(_.contains("/src/")) ==
      stats.filesTotal - stats.filesRewritten)
    // UPDATE twin: matched rows get the new value, others untouched
    val upd = base.resolve("upd").toString
    val us = Scale.updateWhere(spark, src, upd, col("k") === 2,
      Seq("v" -> lit("X")))
    assert(us.filesRewritten == stats.filesRewritten &&
      us.rowsAfter == 4000)
    val uv = Scale.readTable(spark, upd)
      .collect().map(r => (r.getLong(0), r.getString(2))).toMap
    assert((1 to 4000).forall(i =>
      uv(i.toLong) == (if (i % 4 == 2) "X" else s"v$i")))
    rm(base.toFile)
  }

  test("chained DML + retention: pointers resolve across versions") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_cow_chain")
    val src = base.resolve("src").toString
    val tbl = base.resolve("tbl").toString
    val df = (1 to 4000).map(i => (i.toLong, i.toLong % 4, i * 10.0))
      .toDF("id", "k", "v")
    df.repartition(4, col("k")).write.parquet(src)
    val srcFiles = parquets(src).length
    // v=0: delete k=2; v=1: update k=1 — the update's base is v=0's
    // manifest, so its untouched pointers span src AND v=0
    Scale.deleteWhere(spark, src, tbl, col("k") === 2)
    val us = Scale.updateWhere(spark, src, tbl, col("k") === 1,
      Seq("v" -> lit(-1.0)))
    assert(us.filesRewritten == 1 && us.rowsAfter == 3000)
    val got = Scale.readTable(spark, tbl)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(got.size == 3000 && !got.keySet.exists(_ % 4 == 2))
    assert(got.forall { case (id, v) =>
      v == (if (id % 4 == 1) -1.0 else id * 10.0) })
    // time travel: v=0 still serves the pre-update state
    val v0 = VersionStore.read(spark, tbl, Some(0L))
    assert(v0.where(col("v") === -1.0).count() == 0)
    // retention to head only: v=0's rewritten file survives ONLY if
    // v=1 still references it (it does not here — both DML hit the
    // same k-hash file? no: k=2 and k=1 differ) — referenced files
    // survive, unreferenced ones go, src is never touched
    val mf1 = VersionStore.snapshot(spark, tbl, Some(1L)).files
    VersionStore.retain(spark, tbl, keepLast = 1)
    assert(VersionStore.committed(spark, tbl) == Seq(1L))
    mf1.foreach { f =>
      assert(VersionStore.fsOf(spark, tbl)
        .exists(new org.apache.hadoop.fs.Path(f)),
        s"referenced file pruned: $f")
    }
    val got2 = Scale.readTable(spark, tbl)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(got2 == got, "retention changed the served table")
    assert(parquets(src).length == srcFiles,
      "retention touched the source")
    rm(base.toFile)
  }

  test("tableChanges: manifest-diff CDF reads only changed files") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_cow_cdf")
    val src = base.resolve("src").toString
    val tbl = base.resolve("tbl").toString
    val df = (1 to 4000).map(i => (i.toLong, i.toLong % 4, i * 1.0))
      .toDF("id", "k", "v")
    df.repartition(4, col("k")).write.parquet(src)
    Scale.deleteWhere(spark, src, tbl, col("k") === 2) // v=0
    Scale.updateWhere(spark, src, tbl, col("k") === 1, // v=1
      Seq("v" -> (col("v") + 0.5)))
    val ch = Scale.tableChanges(spark, tbl, 0L, 1L)
      .collect().map(r => (r.getString(3), r.getLong(0), r.getDouble(2)))
    // exactly the k=1 rows change: old image out, +0.5 image in
    val dels = ch.filter(_._1 == "D").map(t => t._2 -> t._3).toMap
    val ins = ch.filter(_._1 == "I").map(t => t._2 -> t._3).toMap
    assert(dels.keySet == ins.keySet &&
      dels.keySet == (1 to 4000).filter(_ % 4 == 1).map(_.toLong).toSet)
    assert(dels.forall { case (id, v) => v == id * 1.0 } &&
      ins.forall { case (id, v) => v == id * 1.0 + 0.5 })
    // I/O bound: the diff read only the files the manifests disagree
    // on — k=1's one rewritten file per side, never the whole table
    val mf0 = VersionStore.snapshot(spark, tbl, Some(0L)).files.toSet
    val mf1 = VersionStore.snapshot(spark, tbl, Some(1L)).files.toSet
    assert((mf0 -- mf1).size == 1 && (mf1 -- mf0).size == 1,
      "a one-key UPDATE must change exactly one manifest entry")
    rm(base.toFile)
  }

  test("mergeInto: matched update in-file, unmatched append, no copy") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_cow_mrg")
    val src = base.resolve("src").toString
    val tbl = base.resolve("tbl").toString
    val df = (1 to 4000).map(i => (i.toLong, i.toLong % 4, i * 1.0))
      .toDF("id", "k", "v")
    df.repartition(4, col("k")).write.parquet(src)
    // updates hit only k=2 rows' file(s); two brand-new ids append
    val source = Seq((2L, 2L, -2.0), (6L, 2L, -6.0),
      (9001L, 7L, 91.0), (9002L, 7L, 92.0)).toDF("id", "k", "v")
    val stats = Scale.mergeInto(spark, src, tbl, source, Seq("id"))
    assert(stats.rowsBefore == 4000 && stats.rowsAfter == 4002)
    assert(stats.filesRewritten >= 1 &&
      stats.filesRewritten < stats.filesTotal,
      s"only the matched files may rewrite: $stats")
    val got = Scale.readTable(spark, tbl)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(got(2L) == -2.0 && got(6L) == -6.0, "matched rows updated")
    assert(got(9001L) == 91.0 && got(9002L) == 92.0, "inserts landed")
    assert(got(1L) == 1.0 && got.size == 4002)
    // no-copy: the version dir holds rewritten + the one insert file
    val vdirFiles = parquets(s"$tbl/v=0").map(_.getName)
    assert(vdirFiles.count(_.startsWith("merge-insert-")) == 1)
    assert(vdirFiles.length.toLong == stats.filesRewritten + 1,
      s"untouched files must not be copied: ${vdirFiles.toSeq}")
    rm(base.toFile)
  }

  test("mergeInto evaluates a lazy RDD-backed source exactly once") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_cow_lazy")
    val src = base.resolve("src").toString
    val tbl = base.resolve("tbl").toString
    (1 to 400).map(i => (i.toLong, i.toLong % 4, i * 1.0))
      .toDF("id", "k", "v").repartition(4, col("k")).write.parquet(src)
    // an RDD-backed frame is a LogicalRDD but not a materialized one:
    // MERGE must pin it, not read it once per use
    val seen = spark.sparkContext.longAccumulator("merge_source_rows")
    val rows = Seq((2L, 2L, -2.0), (6L, 2L, -6.0), (9001L, 7L, 91.0))
    val source = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2).map { case (a, b, c) =>
        seen.add(1L); org.apache.spark.sql.Row(a, b, c) },
      org.apache.spark.sql.types.StructType.fromDDL(
        "id BIGINT, k BIGINT, v DOUBLE"))
    val stats = Scale.mergeInto(spark, src, tbl, source, Seq("id"))
    assert(stats.rowsAfter == 401L)
    assert(seen.value == rows.size.toLong,
      s"source rows evaluated ${seen.value} times for ${rows.size} rows")
    val got = Scale.readTable(spark, tbl)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(got(2L) == -2.0 && got(6L) == -6.0 && got(9001L) == 91.0)
    rm(base.toFile)
  }

  test("addColumn is metadata-only; reads align; DML fills in place") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_cow_ddl")
    val src = base.resolve("src").toString
    val tbl = base.resolve("tbl").toString
    val df = (1 to 4000).map(i => (i.toLong, i.toLong % 4, i * 1.0))
      .toDF("id", "k", "v")
    df.repartition(4, col("k")).write.parquet(src)
    Scale.deleteWhere(spark, src, tbl, col("k") === 2) // v=0
    val as = Scale.addColumn(spark, src, tbl, "flag",   // v=1: DDL
      org.apache.spark.sql.types.LongType)
    assert(as.filesRewritten == 0, "ADD COLUMN must rewrite nothing")
    // metadata-only proof: the DDL version dir holds ZERO data files
    assert(parquets(s"$tbl/v=1").isEmpty,
      "a metadata-only DDL must not write data files")
    // reads align: every pre-DDL row carries a typed NULL
    val v1 = Scale.readTable(spark, tbl)
    assert(v1.columns.toSeq == Seq("id", "k", "v", "flag"))
    assert(v1.where(col("flag").isNotNull).count() == 0)
    // a later UPDATE fills the column in just its hit files; other
    // files still physically lack it and keep reading as NULL
    Scale.updateWhere(spark, src, tbl, col("k") === 1, // v=2
      Seq("flag" -> lit(7L)))
    val got = Scale.readTable(spark, tbl)
      .collect().map(r =>
        (r.getLong(0), if (r.isNullAt(3)) -1L else r.getLong(3)))
      .toMap
    assert(got.size == 3000)
    assert(got.forall { case (id, f) =>
      f == (if (id % 4 == 1) 7L else -1L) })
    // time travel: the pre-DDL version serves the old schema
    assert(Scale.readTableAt(spark, tbl, 0L).columns.toSeq ==
      Seq("id", "k", "v"))
    // CDF across the DDL stays union-compatible (pre-DDL rows NULL)
    val ch = Scale.tableChanges(spark, tbl, 0L, 2L)
    assert(ch.columns.toSeq == Seq("id", "k", "v", "flag", "op"))
    assert(ch.where(col("op") === "I" && col("flag") === 7L).count() ==
      1000)
    rm(base.toFile)
  }

  test("optimizeTable packs small files; compact files ride by pointer") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_cow_opt")
    val src = base.resolve("src").toString
    val tbl = base.resolve("tbl").toString
    // 16 tiny fragments + 1 chunky file in one directory
    val df = (1 to 4000).map(i => (i.toLong, i.toLong % 4, s"val_$i"))
      .toDF("id", "k", "v")
    df.where(col("id") <= 400).repartition(16).write.parquet(src)
    df.where(col("id") > 400).coalesce(1)
      .write.mode("append").parquet(src)
    val bigFile = parquets(src).maxBy(_.length()).getName
    val bigLen = parquets(src).map(_.length()).max
    // target sits between the fragments and the chunky file
    val targetMB = (bigLen - 1024).toDouble / (1024 * 1024)
    val stats = Scale.optimizeTable(spark, src, tbl, targetMB)
    assert(stats.filesAfter < stats.filesBefore,
      s"expected a packed layout, got $stats")
    // the chunky file rides by pointer — never rewritten or copied
    val mf = VersionStore.snapshot(spark, tbl, Some(0L)).files
    assert(mf.exists(f => f.contains("/src/") && f.endsWith(bigFile)),
      "the already-compact file must ride by pointer")
    assert(parquets(s"$tbl/v=0").forall(_.getName.startsWith("opt-")))
    // content is untouched by contract
    val got = Scale.readTable(spark, tbl)
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(got == df.collect()
      .map(r => (r.getLong(0), r.getString(2))).toSet)
    // idempotence: a second OPTIMIZE finds nothing to pack → no-op,
    // the chain head does not advance
    val again = Scale.optimizeTable(spark, src, tbl, targetMB)
    assert(again.filesAfter == again.filesBefore)
    assert(VersionStore.head(spark, tbl).contains(0L),
      "an optimal table must not publish an empty rewrite")
    rm(base.toFile)
  }

  test("CHECK constraints: DDL validates, DML enforces, NULL passes") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_cow_ck")
    val src = base.resolve("src").toString
    val tbl = base.resolve("tbl").toString
    val df = Seq(
      (1L, 0L, Option(5.0)), (2L, 0L, None),
      (3L, 1L, Option(99.0)), (4L, 1L, Option(1.0))
    ).toDF("id", "k", "v")
    df.repartition(2, col("k")).write.parquet(src)
    Scale.deleteWhere(spark, src, tbl, col("id") === 3L) // v=0
    // DDL validation: a constraint the current data violates refuses
    intercept[Scale.ConstraintViolationException] {
      Scale.addConstraint(spark, src, tbl, "v_big", "v > 2.0")
    }
    assert(VersionStore.head(spark, tbl).contains(0L),
      "a refused constraint must publish nothing")
    // NULL passes (SQL CHECK 3VL): id=2's NULL v does not block this
    Scale.addConstraint(spark, src, tbl, "v_pos", "v >= 0.0") // v=1
    // a violating UPDATE is rejected BEFORE publish; chain untouched
    intercept[Scale.ConstraintViolationException] {
      Scale.updateWhere(spark, src, tbl, col("id") === 4L,
        Seq("v" -> lit(-7.0)))
    }
    assert(VersionStore.head(spark, tbl).contains(1L))
    assert(Scale.readTable(spark, tbl)
      .where(col("v") < 0).count() == 0)
    // a valid UPDATE passes and the constraint rides forward
    Scale.updateWhere(spark, src, tbl, col("id") === 4L,
      Seq("v" -> lit(7.0)))                             // v=2
    assert(VersionStore.snapshot(spark, tbl, Some(2L)).constraints ==
      Seq("v_pos" -> "v >= 0.0"))
    // a violating MERGE insert is rejected too
    intercept[Scale.ConstraintViolationException] {
      Scale.mergeInto(spark, src, tbl,
        Seq((9L, 0L, Option(-1.0))).toDF("id", "k", "v"), Seq("id"))
    }
    assert(VersionStore.head(spark, tbl).contains(2L))
    rm(base.toFile)
  }

  test("history records the op chain; shallow clone is zero-copy") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_cow_hist")
    val src = base.resolve("src").toString
    val a = base.resolve("a").toString
    val b = base.resolve("b").toString
    val df = (1 to 4000).map(i => (i.toLong, i.toLong % 4, i * 1.0))
      .toDF("id", "k", "v")
    df.repartition(4, col("k")).write.parquet(src)
    Scale.deleteWhere(spark, src, a, col("k") === 2)            // v=0
    Scale.addColumn(spark, src, a, "flag",                      // v=1
      org.apache.spark.sql.types.LongType)
    Scale.updateWhere(spark, src, a, col("k") === 1,            // v=2
      Seq("flag" -> lit(7L)))
    val hist = Scale.history(spark, a)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(hist.toSeq == Seq((0L, "DELETE", ""),
      (1L, "ADD_COLUMN", "flag"), (2L, "UPDATE", "")))
    // shallow clone: v=0 points at A's head files — ZERO data copied
    Scale.cloneTable(spark, a, b)
    assert(parquets(s"$b/v=0").isEmpty,
      "a shallow clone must not copy data files")
    assert(Scale.history(spark, b).collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2))).toSeq ==
      Seq((0L, "CLONE", a)))
    val cloned = Scale.readTable(spark, b)
    assert(cloned.columns.toSeq == Seq("id", "k", "v", "flag"))
    assert(cloned.count() == 3000)
    // divergence: DML on the clone never touches the source chain
    Scale.updateWhere(spark, src, b, col("k") === 0,
      Seq("v" -> lit(-5.0)))
    assert(Scale.readTable(spark, b)
      .where(col("v") === -5.0).count() == 1000)
    assert(Scale.readTable(spark, a)
      .where(col("v") === -5.0).count() == 0,
      "the clone's DML leaked into the source")
    // the clone inherits constraints-by-metadata semantics: its own
    // chain carries A's declared schema forward
    assert(VersionStore.snapshot(spark, b, Some(1L)).schema.exists(
      _.fieldNames.contains("flag")))
    rm(base.toFile)
  }

  test("rename/drop column are metadata-only; restore rolls back") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_cow_ren")
    val src = base.resolve("src").toString
    val tbl = base.resolve("tbl").toString
    val df = (1 to 4000).map(i => (i.toLong, i.toLong % 4, i * 1.0))
      .toDF("id", "k", "v")
    df.repartition(4, col("k")).write.parquet(src)
    Scale.deleteWhere(spark, src, tbl, col("k") === 2)          // v=0
    Scale.renameColumn(spark, src, tbl, "v", "amount")          // v=1
    assert(parquets(s"$tbl/v=1").isEmpty, "rename copied data")
    val t1 = Scale.readTable(spark, tbl)
    assert(t1.columns.toSeq == Seq("id", "k", "amount"))
    assert(t1.where(col("amount") === 3.0).count() == 1,
      "values must survive the rename by alias coalesce")
    // DML after the rename writes the NEW physical name in just its
    // hit files; the mixed layout keeps reading correctly
    Scale.updateWhere(spark, src, tbl, col("k") === 1,          // v=2
      Seq("amount" -> lit(-1.0)))
    val got = Scale.readTable(spark, tbl)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(got.size == 3000 && got(5L) == -1.0 && got(4L) == 4.0)
    // chained rename composes aliases (amount -> cost sees both)
    Scale.renameColumn(spark, src, tbl, "amount", "cost")       // v=3
    assert(Scale.readTable(spark, tbl)
      .where(col("cost") === -1.0).count() == 1000)
    Scale.dropColumn(spark, src, tbl, "k")                      // v=4
    assert(Scale.readTable(spark, tbl).columns.toSeq ==
      Seq("id", "cost"))
    // a constraint blocks renaming/dropping the column it references
    Scale.addConstraint(spark, src, tbl, "cost_ok",
      "cost >= -1.0")                                           // v=5
    assertThrows[IllegalArgumentException] {
      Scale.renameColumn(spark, src, tbl, "cost", "price")
    }
    assertThrows[IllegalArgumentException] {
      Scale.dropColumn(spark, src, tbl, "cost")
    }
    // resurrection guard: dropped "k"'s bytes still live in pointer
    // files — re-adding (or renaming onto) that name would read them
    // back as the new column's values; both must refuse
    assertThrows[IllegalArgumentException] {
      Scale.addColumn(spark, src, tbl, "k",
        org.apache.spark.sql.types.LongType)
    }
    assertThrows[IllegalArgumentException] {
      Scale.renameColumn(spark, src, tbl, "cost", "k")
    }
    // RESTORE: head rolls back to v=1's state as a NEW version
    Scale.restoreTable(spark, tbl, 1L)                          // v=6
    val r = Scale.readTable(spark, tbl)
    assert(r.columns.toSeq == Seq("id", "k", "amount"))
    assert(r.where(col("amount") === -1.0).count() == 0,
      "restore must serve the pre-update image")
    assert(Scale.history(spark, tbl).collect().map(_.getString(1))
      .toSeq == Seq("DELETE", "RENAME_COLUMN", "UPDATE",
        "RENAME_COLUMN", "DROP_COLUMN", "ADD_CONSTRAINT", "RESTORE"))
    rm(base.toFile)
  }

  test("deleteWhere keeps NULL-predicate rows regardless of file") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_cow_null")
    val src = base.resolve("src").toString
    val dest = base.resolve("del").toString
    // NULL v rows land in BOTH files: one shares a file with TRUE
    // hits (k=1), one does not (k=0). SQL DELETE removes only rows
    // where the predicate IS TRUE — the r9 advice defect dropped
    // NULL rows that happened to share a file with a hit.
    val df = Seq(
      (1L, 0L, Option(5.0)), (2L, 0L, None),
      (3L, 1L, Option(99.0)), (4L, 1L, None), (5L, 1L, Option(1.0))
    ).toDF("id", "k", "v")
    df.repartition(2, col("k")).write.parquet(src)
    val stats = Scale.deleteWhere(spark, src, dest, col("v") > 50.0)
    assert(stats.rowsAfter == 4,
      s"only the v>50 row may be deleted, got $stats")
    val kept = Scale.readTable(spark, dest)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 4L, 5L),
      "NULL-predicate rows must survive in hit AND untouched files")
    rm(base.toFile)
  }

  test("partition manifests: metadata-only drop, pre-pruned DML, tuple upkeep") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_cow_part")
    val src = base.resolve("src").toString
    val tbl = base.resolve("tbl").toString
    // 3 partitions × 2 files each, partition column file-constant
    val df = (1 to 3000).map(i =>
      (i.toLong, s"d${i % 3}", i.toDouble)).toDF("id", "day", "v")
    Seq("d0", "d1", "d2").foreach(d =>
      df.where(col("day") === d).coalesce(2)
        .write.mode("append").parquet(src))
    Scale.registerPartitions(spark, src, tbl, Seq("day"))      // v=0
    val p0 = VersionStore.snapshot(spark, tbl, Some(0L)).partitions
    assert(p0.size == 6 && p0.values.forall(_.keySet == Set("day")))
    // metadata-only drop: no parquet appears under the version dir,
    // the dropped partition's files leave the manifest wholesale
    val drop = Scale.deletePartition(spark, tbl, "day", "d1")  // v=1
    assert(drop.filesRewritten == 0 && drop.filesScanned == 0, s"$drop")
    assert(parquets(s"$tbl/v=1").isEmpty,
      "DELETE_PARTITION must write no data file")
    assert(VersionStore.snapshot(spark, tbl, Some(1L)).files.size == 4)
    assert(Scale.readTable(spark, tbl).where(col("day") === "d1")
      .count() == 0)
    assert(drop.rowsAfter == 2000)
    // partition-pruned UPDATE: hit detection scans d2's 2 files only
    val upd = Scale.updateWhere(spark, tbl, tbl,
      "day = 'd2'", Seq("v" -> (col("v") * 10)))               // v=2
    assert(upd.filesScanned == 2 && upd.filesRewritten == 2,
      s"pre-filter must hand hit detection just d2's files: $upd")
    // rewritten files INHERIT their tuple (the UPDATE set `v`, not
    // `day`), so the next partition-targeted DML still pre-prunes
    val p2 = VersionStore.snapshot(spark, tbl, Some(2L)).partitions
    assert(p2.size == 4 && p2.values.count(_ ("day") == "d2") == 2,
      s"rewritten d2 files must keep their tuple: $p2")
    // an UPDATE that SETs the partition column invalidates the tuple
    // for the files it rewrites — and only those
    Scale.updateWhere(spark, tbl, tbl, "day = 'd0'",
      Seq("day" -> lit("d9")))                                 // v=3
    val p3 = VersionStore.snapshot(spark, tbl, Some(3L)).partitions
    assert(p3.size == 2 && p3.values.forall(_ ("day") == "d2"),
      s"rewrites that change the partition column must drop tuples: $p3")
    // untupled files make the whole-file proof impossible: refuse, by
    // name, instead of silently deleting rows that may not all match
    val err = intercept[IllegalArgumentException] {
      Scale.deletePartition(spark, tbl, "day", "d9")
    }
    assert(err.getMessage.contains("registerPartitions"))
    // re-register re-proves everything; the drop then works
    Scale.registerPartitions(spark, tbl, tbl, Seq("day"))      // v=4
    val drop9 = Scale.deletePartition(spark, tbl, "day", "d9") // v=5
    assert(drop9.filesRewritten == 0)
    val fin = Scale.readTable(spark, tbl)
    assert(fin.count() == 1000 &&
      fin.select("day").distinct().collect().map(_.getString(0))
        .toSet == Set("d2"))
    // content law: d2 rows are the original values × 10
    assert(fin.agg(sum("v")).head().getDouble(0) ==
      df.where(col("day") === "d2").agg(sum(col("v") * 10))
        .head().getDouble(0))
    rm(base.toFile)
  }

  test("chains under paths WITH SPACES: hit detection matches across spellings") {
    import spark.implicits._
    // the r11 review case: manifest entries are DECODED ('/a b/f'),
    // input_file_name() is percent-ENCODED ('/a%20b/f') — normalize
    // must match them, and a rewritten file must re-hit later DML
    val base = java.nio.file.Files.createTempDirectory("graft cow sp ")
    val src = base.resolve("src dir").toString
    val tbl = base.resolve("tbl dir").toString
    val df = (1 to 2000).map(i => (i.toLong, i.toLong % 4, s"v$i"))
      .toDF("id", "k", "v")
    df.repartition(4, col("k")).write.parquet(src)
    val d1 = Scale.deleteWhere(spark, src, tbl, col("k") === 2)
    assert(d1.rowsAfter == 1500 && d1.filesRewritten == 1, s"$d1")
    // UPDATE must re-hit the REWRITTEN (v=0) file through the same
    // space-carrying spellings
    val u = Scale.updateWhere(spark, tbl, tbl, col("k") === 3,
      Seq("v" -> lit("hit")))
    assert(u.filesRewritten >= 1, s"$u")
    val t = Scale.readTable(spark, tbl)
    assert(t.count() == 1500 &&
      t.where(col("v") === "hit").count() == 500)
    // multi-column SET sees the PRE-update row (r11 review): after
    // SET id = id + k, k = id on the k=1 rows, k must hold the
    // ORIGINAL id (≡ 1 mod 4) and id must lead it by exactly the
    // original k — the old sequential fold gave k = id + 1 instead
    Scale.updateWhere(spark, tbl, tbl, col("k") === 1,
      Seq("id" -> (col("id") + col("k")), "k" -> col("id")))
    val sw = Scale.readTable(spark, tbl).where(pmod(col("k"), lit(4)) === 1)
    assert(sw.count() == 500 &&
      sw.where(col("id") =!= col("k") + 1).count() == 0,
      "SET right-hand sides must evaluate against the pre-update row")
    rm(base.toFile)
  }

  test("partition-aware OPTIMIZE: packed outputs inherit tuples, DROP still metadata-only") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_cow_popt")
    val src = base.resolve("src").toString
    val tbl = base.resolve("tbl").toString
    // 2 partitions × 6 tiny files each
    val df = (1 to 1200).map(i =>
      (i.toLong, s"d${i % 2}", i.toDouble)).toDF("id", "day", "v")
    Seq("d0", "d1").foreach(d =>
      df.where(col("day") === d).repartition(6)
        .write.mode("append").parquet(src))
    Scale.registerPartitions(spark, src, tbl, Seq("day"))       // v=0
    val st = Scale.optimizeTable(spark, src, tbl, 64.0)         // v=1
    assert(st.filesAfter < st.filesBefore, s"no packing: $st")
    // every packed file carries its group's tuple — bins never cross
    // partition boundaries
    val p1 = VersionStore.snapshot(spark, tbl, Some(1L)).partitions
    val mf = VersionStore.snapshot(spark, tbl, Some(1L)).files
    assert(mf.forall(p1.contains),
      s"every post-OPTIMIZE file must stay tupled: ${mf.filterNot(p1.contains)}")
    assert(p1.values.count(_ ("day") == "d0") >= 1 &&
      p1.values.count(_ ("day") == "d1") >= 1)
    // packed files are file-constant on the partition column (the
    // tuple's claim) — verified by a fresh profiling pass
    Scale.registerPartitions(spark, tbl, tbl, Seq("day"))       // v=2
    // the whole point: DROP PARTITION survives compaction
    val drop = Scale.deletePartition(spark, tbl, "day", "d0")   // v=3
    assert(drop.filesRewritten == 0)
    val fin = Scale.readTable(spark, tbl)
    assert(fin.count() == 600 && fin.select("day").distinct()
      .collect().map(_.getString(0)).toSet == Set("d1"))
    rm(base.toFile)
  }

  /** 8 parquet files under `dir`, file i holding x in
    * (1000 i, 1000 (i + 1)] in ascending order: a predicate on x hits
    * an exact, known set of files. */
  private def eightSortedFiles(dir: String): Unit = {
    import spark.implicits._
    (0 until 8).foreach { i =>
      (1000 * i + 1 to 1000 * (i + 1))
        .map(x => (x.toLong, (x % 100).toLong, s"p$x")).toDF("x", "y", "p")
        .coalesce(1).write.mode("append").parquet(dir)
    }
  }

  /** `body` run with `spark.sql.files.maxPartitionBytes` at `split`
    * (Spark's default when None): a rewrite whose input fits one scan
    * task is written by one task, otherwise repartitioned by target. */
  private def withSplit[T](split: Option[String])(body: => T): T = {
    split.foreach(spark.conf.set("spark.sql.files.maxPartitionBytes", _))
    try body finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }

  test("a rewrite is one Spark write: jobs do not grow with hit files or bins") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_cow_jobs")
    val src = base.resolve("src").toString
    eightSortedFiles(src)
    var n = 0
    // one statement on a fresh chain over the same 8 files: its jobs
    // and its result
    def run[T](stmt: String => T): (T, Int) = {
      n += 1
      SparkJobs.jobsOf(spark)(stmt(base.resolve(s"t$n").toString))
    }
    val one = col("x") <= 100
    val all = pmod(col("x"), lit(1000)) < 100
    def merge(keys: Seq[Long]) = (keys :+ 9001L)
      .map(x => (x, 0L, "m")).toDF("x", "y", "p")
    val lens = parquets(src).map(_.length())
    // first-fit decreasing packs two files per bin below 3 × the
    // smallest file, every file in one bin above the total
    val mb = 1024.0 * 1024
    require(2 * lens.max < 3 * lens.min, s"uneven files: ${lens.toSeq}")
    val pairs = (2 * lens.max + 3 * lens.min) / 2 / mb
    val whole = (lens.sum + 1024) / mb
    // with a 4 KB split nothing fits one task, and one target still
    // needs no exchange where several are repartitioned by target: one
    // job more at most. A MERGE hitting one file runs `merge1` jobs at
    // most: the source pin, hit detection's broadcast and collect, the
    // clause join's two shuffles and the write
    def gate(split: Option[String], slack: Int,
             merge1: Int): Unit = withSplit(split) {
      val mode = split.fold("one task")(b => s"$b splits")
      val counts = Seq(
        "DELETE" -> (run(t => Scale.deleteWhere(spark, src, t, one)),
          run(t => Scale.deleteWhere(spark, src, t, all))),
        "UPDATE" -> (
          run(t => Scale.updateWhere(spark, src, t, one,
            Seq("p" -> lit("u")))),
          run(t => Scale.updateWhere(spark, src, t, all,
            Seq("p" -> lit("u"))))),
        "MERGE" -> (
          run(t => Scale.mergeInto(spark, src, t, merge(Seq(50L)),
            Seq("x"))),
          run(t => Scale.mergeInto(spark, src, t,
            merge((0 until 8).map(i => 1000L * i + 50)), Seq("x")))))
      counts.foreach { case (stmt, ((s1, j1), (s8, j8))) =>
        info(s"$stmt, $mode: $j1 jobs for 1 hit file, $j8 for 8")
        assert(s1.filesRewritten == 1 && s8.filesRewritten == 8,
          s"$stmt hit ${s1.filesRewritten} and ${s8.filesRewritten} files")
        assert(j8 <= j1 + slack,
          s"$stmt, $mode: $j8 jobs for 8 hit files vs $j1 for 1")
      }
      val ((_, mergeJobs), _) = counts.toMap.apply("MERGE")
      assert(mergeJobs <= merge1,
        s"MERGE, $mode: $mergeJobs jobs for 1 hit file, gate $merge1")
      val (o1, j1) = run(t => Scale.optimizeTable(spark, src, t, whole))
      val (o4, j4) = run(t => Scale.optimizeTable(spark, src, t, pairs))
      info(s"OPTIMIZE, $mode: $j1 jobs into 1 bin, $j4 into ${o4.filesAfter}")
      assert(o1.filesAfter == 1 && o4.filesAfter == 4, s"$o1 / $o4")
      assert(j4 <= j1 + slack,
        s"OPTIMIZE, $mode: $j4 jobs for 4 bins vs $j1 for 1")
    }
    gate(None, 0, merge1 = 6)
    gate(Some("4k"), 1, merge1 = 7)
    rm(base.toFile)
  }

  test("UPDATE and MERGE rewrite 1:1 and keep each file's row order") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_cow_order")
    val src = base.resolve("src").toString
    eightSortedFiles(src)
    Seq(None, Some("4k")).foreach { split =>
      val tbl = base.resolve(s"tbl-${split.size}").toString
      def rows(f: String) = spark.read.parquet(f).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
      def name(f: String) = new org.apache.hadoop.fs.Path(f).getName
      // version `v` keeps every file of `before` by pointer or rewrites
      // it into one file of the same name, holding `change` of its
      // source's rows in their order; `inserts` files are new
      def check(before: Seq[String], v: Long, hits: Int, inserts: Int)
               (change: ((Long, Long, String)) => (Long, Long, String)) = {
        val after = VersionStore.snapshot(spark, tbl, Some(v)).files
        val (written, untouched) = after.partition(_.contains(s"/v=$v/"))
        val rewritten =
          written.filterNot(f => name(f).startsWith("merge-insert-"))
        assert(rewritten.size == hits && written.size == hits + inserts &&
          untouched.size + hits == before.size, s"record of v=$v: $after")
        assert((untouched ++ rewritten).map(name).toSet ==
          before.map(name).toSet,
          "every hit file maps to one file of the same name")
        val sources = before.map(f => name(f) -> f).toMap
        rewritten.foreach { f =>
          assert(rows(f) == rows(sources(name(f))).map(change),
            s"$f lost its source's row order")
        }
      }
      withSplit(split)(Scale.updateWhere(spark, src, tbl,
        pmod(col("x"), lit(3)) === 0 && col("x") <= 4000,
        Seq("p" -> lit("U"))))                                     // v=0
      check(parquets(src).map(_.getPath).toSeq, 0L, 4, 0) {
        case (x, y, p) => (x, y, if (x % 3 == 0) "U" else p) }
      val before = VersionStore.snapshot(spark, tbl, Some(0L)).files
      val keys = Seq(2500L, 3500L, 4500L, 5500L)
      withSplit(split)(Scale.mergeInto(spark, tbl, tbl,
        (keys ++ Seq(9001L, 9002L)).map(x => (x, -1L, "M"))
          .toDF("x", "y", "p"), Seq("x")))                         // v=1
      check(before, 1L, 4, 1) { case (x, y, p) =>
        if (keys.contains(x)) (x, -1L, "M") else (x, y, p) }
      assert(Scale.readTable(spark, tbl).count() == 8002L)
    }
    rm(base.toFile)
  }

  test("a CLONE's files may share names with its source's: DML, OPTIMIZE and ANALYZE key on the path") {
    import spark.implicits._
    // a space and a '%' in the path: a file's identity survives every
    // spelling of it
    val base = java.nio.file.Files.createTempDirectory("graft cow%clone ")
    def dir(d: String) = base.resolve(d).toString
    def rows(lo: Long, hi: Long) =
      (lo to hi).map(i => (i, i * 1.0)).toDF("id", "v").coalesce(1)
    rows(1, 100).write.parquet(dir("src"))
    Scale.deleteWhere(spark, dir("src"), dir("a"), col("id") > 1000) // v=0
    Scale.appendTable(spark, dir("a"), rows(101, 200))   // a/v=1/append-1-0
    // b's v=0 points at a's files; its own v=1 names a file alike
    Scale.cloneTable(spark, dir("a"), dir("b"))
    Scale.appendTable(spark, dir("b"), rows(201, 300))   // b/v=1/append-1-0
    val files = VersionStore.snapshot(spark, dir("b"), Some(1L)).files
    assert(files.count(_.endsWith("/append-1-0.parquet")) == 2, s"$files")
    def ids(t: String) = Scale.readTable(spark, t).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val all = (1L to 300L).map(i => i -> i * 1.0).toMap
    // DELETE hits all three files, two of them same-named
    Scale.cloneTable(spark, dir("b"), dir("c1"))
    val d = Scale.deleteWhere(spark, dir("c1"), dir("c1"),
      pmod(col("id"), lit(10)) === 0)
    assert(d.filesRewritten == 3 && d.rowsAfter == 270, s"$d")
    assert(ids(dir("c1")) == all.filter(_._1 % 10 != 0))
    // MERGE updates a key in each same-named file and inserts one
    Scale.cloneTable(spark, dir("b"), dir("c2"))
    val m = Scale.mergeInto(spark, dir("c2"), dir("c2"),
      Seq((150L, -1.0), (250L, -2.0), (9001L, 0.5)).toDF("id", "v"),
      Seq("id"))
    assert(m.filesRewritten == 2 && m.rowsAfter == 301, s"$m")
    assert(ids(dir("c2")) ==
      all ++ Map(150L -> -1.0, 250L -> -2.0, 9001L -> 0.5))
    assert(VersionStore.latest(spark, dir("c2")).get.files.distinct.size ==
      4, "each rewrite is a file of its own")
    // bin-pack OPTIMIZE packs both into one bin, rows intact
    Scale.cloneTable(spark, dir("b"), dir("c3"))
    val o = Scale.optimizeTable(spark, dir("c3"), dir("c3"), 64.0)
    assert(o.filesAfter == 1, s"$o")
    assert(ids(dir("c3")) == all)
    // ANALYZE profiles each same-named file under its own path
    Scale.analyzeTable(spark, dir("b"), dir("b"), Seq("id"))
    val st = VersionStore.latest(spark, dir("b")).get.stats.get.files
    assert(files.map(f => f -> (st(f).cnt, st(f).min, st(f).max)).toMap ==
      files.map(f => f -> (if (f.contains("/b/")) (100L, Seq(201L), Seq(300L))
        else if (f.contains("/a/")) (100L, Seq(101L), Seq(200L))
        else (100L, Seq(1L), Seq(100L)))).toMap, s"$st")
    rm(base.toFile)
  }

  test("MERGE computes its inserts from the hit rows, not the whole table") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_cow_mins")
    val src = base.resolve("src").toString
    eightSortedFiles(src)
    // one source key in one of the 8 files, one new key: hit detection
    // reads the table once, the rewrite and the inserts only the hit file
    val (st, _, read) = SparkJobs.countsOf(spark)(Scale.mergeInto(spark, src,
      base.resolve("t").toString,
      Seq((2500L, -1L, "M"), (9001L, 0L, "I")).toDF("x", "y", "p"),
      Seq("x")))
    info(s"MERGE on one hit file of 8: $read input records for 8000 rows")
    assert(st.filesRewritten == 1 && st.rowsAfter == 8001L, s"$st")
    assert(read < 2 * 8000L, s"MERGE read $read records of an 8000-row table")
    rm(base.toFile)
  }

  test("OPTIMIZE ZORDER is one Spark write: jobs do not grow with partition groups") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_cow_zgroups")
    // the same 8000 rows twice: 8 files by x range, and 2 files per
    // group g; y is a permutation of x, so no x-sorted file prunes y
    val rows = (0 until 8000).map(x =>
      (x.toLong, (x * 7919L) % 8000, s"g${x % 4}")).toDF("x", "y", "g")
    val mixed = base.resolve("mixed").toString
    val byG = base.resolve("by-g").toString
    rows.repartitionByRange(8, col("x")).write.parquet(mixed)
    (0 until 4).foreach(g => rows.where(col("g") === s"g$g").repartition(2)
      .write.mode("append").parquet(byG))
    val bytes = parquets(mixed).map(_.length()).sum
    var n = 0
    // OPTIMIZE ZORDER on a fresh un-ANALYZEd chain over one layout: one
    // partition group, or the 4 registered groups of g
    def zorder(groups: Int): (String, Int) = {
      n += 1
      val t = base.resolve(s"t$n").toString
      if (groups == 1) Scale.deleteWhere(spark, mixed, t, lit(false))
      else Scale.registerPartitions(spark, byG, t, Seq("g"))
      val (_, jobs) = SparkJobs.jobsOf(spark)(Scale.optimizeTable(spark, t,
        t, bytes / 32.0 / 1048576, Some((col("x"), col("y")))))
      (t, jobs)
    }
    Seq(None -> 0, Some("4k") -> 1).foreach { case (splitBytes, slack) =>
      withSplit(splitBytes) {
        val (t1, j1) = zorder(1)
        val (t4, j4) = zorder(4)
        val mode = splitBytes.fold("default split")(b => s"$b splits")
        info(s"OPTIMIZE ZORDER, $mode: $j1 jobs for 1 group, $j4 for 4")
        assert(j4 <= j1 + slack,
          s"OPTIMIZE ZORDER, $mode: $j4 jobs for 4 groups vs $j1 for 1")
        Seq(t1 -> 1, t4 -> 4).foreach { case (t, groups) =>
          val snap = VersionStore.snapshot(spark, t)
          // every file holds one group, which the record carries as its
          // tuple; the rows are the source's
          if (groups == 1) assert(snap.partitions.isEmpty)
          else snap.files.foreach { f =>
            val gs = spark.read.parquet(f).select("g").distinct()
              .collect().map(_.getString(0)).toSeq
            assert(gs.size == 1 && snap.partitions(f) == Map("g" -> gs.head),
              s"$f holds groups $gs, recorded ${snap.partitions.get(f)}")
          }
          assert(Scale.readTable(spark, t).collect().map(_.toSeq).toSet ==
            rows.collect().map(_.toSeq).toSet, s"$t lost or changed rows")
          // a range on the second dimension prunes files
          Scale.analyzeTable(spark, t, t, Seq("x", "y"))
          val (_, ps) = Scale.filesPruned(spark, VersionStore.snapshot(spark, t),
            "y < 500")
          assert(ps.filesRead < ps.filesTotal, s"$t: y does not prune: $ps")
        }
      }
    }
    rm(base.toFile)
  }

  test("committed DML and CDC versions hold no Hadoop _SUCCESS marker") {
    import spark.implicits._
    // the commit record is the chain's marker; each extra file is one
    // more `chmod` process on a local file system
    val base = java.nio.file.Files.createTempDirectory("graft_cow_success")
    val src = base.resolve("src").toString
    (1 to 400).map(i => (i.toLong, i.toLong % 4)).toDF("id", "k")
      .repartition(4, col("k")).write.parquet(src)
    val tbl = base.resolve("tbl").toString
    Scale.deleteWhere(spark, src, tbl, col("k") === 2)
    Scale.updateWhere(spark, src, tbl, col("k") === 1, Seq("k" -> lit(5L)))
    val cdc = base.resolve("cdc").toString
    for (b <- 0L to 1L)
      graft.streaming.Streams.cdcMerge(cdc, Seq("id"), Seq("k"))(
        Seq((b, b), (b + 10, b)).toDF("id", "k"), b)
    def names(f: java.io.File): Seq[String] =
      Option(f.listFiles()).toSeq.flatten.flatMap(c =>
        if (c.isDirectory) names(c) else Seq(c.getName))
    for (d <- Seq(tbl, cdc)) {
      assert(VersionStore.committed(spark, d).size == 2, d)
      val found = names(new java.io.File(d)).filter(_.contains("_SUCCESS"))
      assert(found.isEmpty, s"$d: ${found.mkString(", ")}")
    }
    rm(base.toFile)
  }

  test("guard: Scale stages chain files only through stageTargets") {
    // every file a version stages is written by the one staging helper;
    // compact and writeBucketed write plain directories, no chain stage
    val src = new java.io.File("src/main/scala/graft/ops/Scale.scala")
    assert(src.isFile, s"run from the repository root: $src")
    val lines = java.nio.file.Files.readAllLines(src.toPath,
      java.nio.charset.StandardCharsets.UTF_8).toArray.toSeq.map(_.toString)
    val defAt = raw"^  (?:private(?:\[\w+\])? )?def (\w+)".r
    val writes = raw"\.write\b|writeEmpty\(|stageWriter\(".r
    val allowed = Set("stageTargets", "compact", "writeBucketed")
    val offenders = lines.zipWithIndex
      .scanLeft(("", "", 0)) { case ((owner, _, _), (l, i)) =>
        (defAt.findFirstMatchIn(l).map(_.group(1)).getOrElse(owner), l, i + 1)
      }.drop(1).collect {
        case (owner, l, i) if writes.findFirstIn(l).nonEmpty &&
          !allowed(owner) => s"Scale.scala:$i ($owner): ${l.trim}"
      }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
