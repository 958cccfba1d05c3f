package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.tables.{Part, Snapshot, Stats, VersionStore}

/** The shared versioned-table layer (r9-verdict ask #5): ONE
  * implementation of marker-gated listing, the exclusive staged
  * commit (every version carries its commit record) and
  * reference-counted retention — the CDC chain, SCD2 history, edge
  * artifact, ANN index and COW DML all commit through
  * `VersionStore.commit`, so the torn-dir / crash-debris / racing-
  * writer edge cases are proven here once. A chain is its `v=<n>`
  * listing plus those records: the replay watermark is the lowest
  * committed id, and no side file sits at the chain root. */
class VersionStoreSpec extends AnyFunSuite {
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

  private def hpath(s: String) = new org.apache.hadoop.fs.Path(s)

  /** Write `xs` as one data file `name` into the stage; returns its
    * final path. */
  private def stageRows(stage: VersionStore.Stage, name: String,
                        xs: Seq[Int]): String = {
    import spark.implicits._
    val fs = VersionStore.fsOf(spark, stage.path)
    xs.toDF("x").coalesce(1).write.parquet(s"${stage.path}/__tmp")
    fs.listStatus(hpath(s"${stage.path}/__tmp")).map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
      .foreach(p => fs.rename(p, hpath(s"${stage.path}/$name")): Unit)
    fs.delete(hpath(s"${stage.path}/__tmp"), true): Unit
    s"${stage.vdir}/$name"
  }

  /** Commit the next version after `parent`: `xs` land as one data
    * file `name`, and the record points at it plus `keep` (files of
    * earlier versions, by pointer). */
  private def commitRows(dir: String, parent: Option[Snapshot],
                         xs: Seq[Int], name: String = "rows.parquet",
                         keep: Seq[String] = Nil): Snapshot =
    VersionStore.commit(spark, dir, parent)(stage =>
      Snapshot(dir, stage.version, keep :+ stageRows(stage, name, xs),
        op = "APPEND", detail = xs.mkString(",")))

  private def rows(dir: String, v: Option[Long] = None): Set[Int] = {
    import spark.implicits._
    VersionStore.read(spark, dir, v).as[Int].collect().toSet
  }

  /** Commit the next version after `parent` as a record with two
    * parts: `a` holds `xs`, `b` their negations. */
  private def commitParts(dir: String, parent: Option[Snapshot],
                          xs: Seq[Int]): Snapshot = {
    import spark.implicits._
    VersionStore.commit(spark, dir, parent) { stage =>
      stage.put(xs.toDF("x").coalesce(1), "a")
      stage.put(xs.map(-_).toDF("x").coalesce(1), "b")
      Snapshot(dir, stage.version, Nil, parts = stage.parts,
        op = "APPEND", detail = xs.mkString(","))
    }
  }

  /** Part `name` of committed version `v` (default: head). */
  private def partRows(dir: String, name: String,
                       v: Option[Long] = None): Set[Int] = {
    import spark.implicits._
    VersionStore.read(spark, VersionStore.snapshot(spark, dir, v).part(name))
      .as[Int].collect().toSet
  }

  /** The head of a two-part chain: part `a`, checked against `b`. */
  private def partsServed(dir: String): Set[Int] = {
    val a = partRows(dir, "a")
    assert(partRows(dir, "b") == a.map(-_), s"torn parts under $dir")
    a
  }

  test("commit is marker-gated; torn dirs invisible and reaped") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_vs_spec")
    val dir = base.resolve("t").toString
    val fs = VersionStore.fsOf(spark, dir)
    val v0 = commitRows(dir, None, Seq(1, 2, 3))
    assert(VersionStore.committed(spark, dir) == Seq(0L))
    assert(VersionStore.read(spark, dir).count() == 3)
    assert(VersionStore.snapshot(spark, dir) == v0)
    // a torn writer: unmarked v=1 dir + leftover stage dir — both
    // invisible to readers...
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/v=1")): Unit
    Seq(9).toDF("x").write.parquet(s"$dir/v=1/junk")
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/_stage_v=0")): Unit
    assert(VersionStore.committed(spark, dir) == Seq(0L))
    assert(VersionStore.head(spark, dir).contains(0L))
    assert(VersionStore.latest(spark, dir).map(_.version).contains(0L))
    intercept[IllegalArgumentException](
      VersionStore.snapshot(spark, dir, Some(1L)))
    // ...and BELOW-head debris is reaped by retention (r9 advice:
    // previously accumulated forever); v=1 is ABOVE head → a possible
    // concurrent writer, left alone until a later head supersedes it
    VersionStore.retain(spark, dir, keepLast = 5)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_stage_v=0")),
      "stage debris at/below head must be reaped")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/v=1")),
      "an unmarked dir above head may be a writer mid-publish")
    // a commit that lands ABOVE the torn id (its parent claims id 1)
    commitRows(dir, Some(v0.copy(version = 1L)), Seq(4, 5))
    VersionStore.retain(spark, dir, keepLast = 5)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/v=1")),
      "torn dir below the new head must be reaped")
    assert(VersionStore.committed(spark, dir).sorted == Seq(0L, 2L))
    rm(base.toFile)
  }

  test("publishExclusive: losers conflict, stage debris reaped") {
    val base = java.nio.file.Files.createTempDirectory("graft_vs_excl")
    val dir = base.resolve("t").toString
    val fs = VersionStore.fsOf(spark, dir)
    val v0 = commitRows(dir, None, Seq(1, 2, 3))
    assert(VersionStore.committed(spark, dir) == Seq(0L))
    // a second writer that resolved the SAME head (none) computes the
    // same next id — it must fail with a conflict, not clobber the
    // winner
    intercept[VersionStore.VersionConflictException] {
      commitRows(dir, None, Seq(9))
    }
    assert(rows(dir) == Set(1, 2, 3),
      "the losing writer must not disturb the committed version")
    // the loser re-resolves the head and retries with the next id —
    // the optimistic-concurrency loop Scale's DML runs
    val v1 = commitRows(dir, VersionStore.latest(spark, dir), Seq(9))
    assert(VersionStore.committed(spark, dir).sorted == Seq(0L, 1L))
    assert(v1.ts > v0.ts, "commit stamps must be monotonic")
    // the whole layout of a committed version: marker, writer token,
    // ONE commit record and the data (filesystem checksums aside)
    assert(fs.listStatus(hpath(s"$dir/v=1")).map(_.getPath.getName)
      .filterNot(_.endsWith(".crc")).toSet == Set(
        VersionStore.CommitMarker, "_GRAFT_WRITER", "_GRAFT_COMMIT",
        "rows.parquet"))
    // UNMARKED debris at the target id (a writer that crashed between
    // its rename and its marker): while YOUNG (within the debris
    // grace) it is presumed a live racer mid-commit — the publisher
    // must back off with a conflict and leave the dir UNTOUCHED
    // (r11 advice: deleting it races the racer's marker PUT)...
    fs.mkdirs(hpath(s"$dir/v=2/junk")): Unit
    intercept[VersionStore.VersionConflictException] {
      commitRows(dir, Some(v1), Seq(7, 8))
    }
    assert(fs.exists(hpath(s"$dir/v=2/junk")),
      "young unmarked debris must not be touched (presumed racer)")
    // ...and once AGED past the grace it is evicted atomically and
    // the new commit serves the new content — naive rename-onto-
    // existing would nest the new stage inside the debris and the
    // marker would commit the dead writer's content
    spark.conf.set("spark.graft.commit.debrisGraceMs", "0")
    try commitRows(dir, Some(v1), Seq(7, 8))
    finally spark.conf.unset("spark.graft.commit.debrisGraceMs")
    assert(rows(dir, Some(2L)) == Set(7, 8),
      "a commit onto unmarked debris must serve the NEW content")
    assert(VersionStore.snapshot(spark, dir).detail == "7,8")
    assert(!fs.exists(hpath(s"$dir/v=2/junk")),
      "debris must not survive inside the committed version")
    // unique-suffix stage debris (a loser that died before cleanup)
    // is still recognized and reaped by retention
    fs.mkdirs(hpath(s"$dir/_stage_v=1.dead1234")): Unit
    VersionStore.retain(spark, dir, keepLast = 5)
    assert(!fs.exists(hpath(s"$dir/_stage_v=1.dead1234")),
      "suffixed stage debris at/below head must be reaped")
    rm(base.toFile)
  }

  test("retention is manifest-reference-counted; watermark raises") {
    val base = java.nio.file.Files.createTempDirectory("graft_vs_ref")
    val dir = base.resolve("t").toString
    val fs = VersionStore.fsOf(spark, dir)
    // v=0 holds two data files; v=1's record points at ONE of them
    // plus its own new file — pruning v=0 must keep the shared file
    val v0 = VersionStore.commit(spark, dir, None)(stage =>
      Snapshot(dir, stage.version, Seq(stageRows(stage, "a.parquet", Seq(1)),
        stageRows(stage, "b.parquet", Seq(2)))))
    commitRows(dir, Some(v0), Seq(3), "c.parquet",
      keep = Seq(s"$dir/v=0/a.parquet"))
    assert(rows(dir) == Set(1, 3))
    val dropped = VersionStore.retain(spark, dir, keepLast = 1)
    assert(dropped == Seq(0L))
    assert(fs.exists(hpath(s"$dir/v=0/a.parquet")),
      "file referenced by the kept record must survive")
    assert(!fs.exists(hpath(s"$dir/v=0/b.parquet")),
      "unreferenced file must be pruned")
    assert(!fs.exists(hpath(s"$dir/v=0/${VersionStore.CommitMarker}")),
      "pruned version must lose its marker")
    assert(fs.listStatus(hpath(s"$dir/v=0")).map(_.getPath.getName)
      .toSeq == Seq("a.parquet"),
      "a pruned version keeps only its referenced files")
    assert(VersionStore.committed(spark, dir) == Seq(1L))
    assert(rows(dir) == Set(1, 3),
      "the head still serves through the pointer")
    // the watermark is the listing's: the lowest committed id rose
    // past the pruned one, and the chain root holds no side file
    assert(VersionStore.committed(spark, dir).min == 1L)
    assert(fs.listStatus(hpath(dir)).map(_.getPath.getName).toSet ==
      Set("v=0", "v=1"))
    rm(base.toFile)
  }

  /** A writer that dies mid-commit, for a chain whose versions
    * `commitXs` commits and whose head `served` reads. */
  private def tornWriters(
      commitXs: (String, Option[Snapshot], Seq[Int]) => Snapshot,
      served: String => Set[Int]): Unit = {
    val base = java.nio.file.Files.createTempDirectory("graft_vs_torn")
    val dir = base.resolve("t").toString
    val fs = VersionStore.fsOf(spark, dir)
    // what a writer leaves when it dies after writing its record: the
    // complete staged output (record, writer token, data) without the
    // marker. Made by a real commit in a scratch chain, moved here
    // with the marker taken away.
    var deaths = 0
    def deadWriter(at: String, xs: Int*): Unit = {
      deaths += 1
      val scratch = base.resolve(s"scratch$deaths").toString
      commitXs(scratch, None, xs)
      fs.delete(hpath(s"$scratch/v=0/${VersionStore.CommitMarker}"),
        false): Unit
      assert(fs.rename(hpath(s"$scratch/v=0"), hpath(at)))
    }
    val v0 = commitXs(dir, None, Seq(1))
    val v1 = commitXs(dir, Some(v0), Seq(2))
    val v2 = commitXs(dir, Some(v1), Seq(3))
    VersionStore.retain(spark, dir, keepLast = 1): Unit
    // (a) died with its record in the stage, before the rename
    deadWriter(s"$dir/_stage_v=1.dead0001", 8)
    // (b) a writer that computed id 1 from a head retention has since
    // pruned: died after the rename, before the marker
    deadWriter(s"$dir/v=1", 9)
    // (c) the same above the head: a writer mid-commit, or dead
    deadWriter(s"$dir/v=3", 7)
    // none of them is visible to any reader
    assert(VersionStore.committed(spark, dir) == Seq(2L))
    assert(VersionStore.head(spark, dir).contains(2L))
    assert(VersionStore.snapshot(spark, dir) == v2)
    Seq(1L, 3L).foreach { v =>
      intercept[IllegalArgumentException](
        VersionStore.snapshot(spark, dir, Some(v)))
    }
    assert(VersionStore.snapshots(spark, dir) == Seq(v2))
    assert(served(dir) == Set(3))
    // retention reaps the debris at or below the head, records and
    // all, and leaves the id above it alone (maybe a live writer)
    VersionStore.retain(spark, dir, keepLast = 5): Unit
    assert(!fs.exists(hpath(s"$dir/_stage_v=1.dead0001")),
      "stage holding a dead writer's record must be reaped")
    assert(!fs.exists(hpath(s"$dir/v=1")),
      "unmarked version dir below the head must be reaped")
    assert(fs.exists(hpath(s"$dir/v=3")),
      "an unmarked dir above the head may be a writer mid-commit")
    // the next writer at id 3 evicts it once aged and commits its own
    // record — the dead writer's record never becomes visible
    spark.conf.set("spark.graft.commit.debrisGraceMs", "0")
    val v3 = try commitXs(dir, Some(v2), Seq(4))
      finally spark.conf.unset("spark.graft.commit.debrisGraceMs")
    assert(VersionStore.snapshot(spark, dir, Some(3L)) == v3)
    assert(v3.detail == "4" && served(dir) == Set(4))
    rm(base.toFile)
  }

  test("a writer that dies mid-commit leaves no visible record; retain reaps it") {
    tornWriters(commitRows(_, _, _), rows(_))
  }

  test("a writer that dies mid-commit of a two-part record: same laws") {
    tornWriters(commitParts, partsServed)
  }

  /** Two driver processes race `n` commits each onto one chain; with
    * `parts`, every record also names two parts. */
  private def twoJvmRace(parts: Boolean): Unit = {
    import scala.jdk.CollectionConverters._
    val base = java.nio.file.Files.createTempDirectory("graft_vs_xjvm")
    val dir = base.resolve("t").toString
    val n = 5
    // a SECOND DRIVER PROCESS races this one on the same chain — the
    // only shared state is the filesystem (the cross-process claim
    // the protocol's marker create-if-absent makes)
    val java17 = java.nio.file.Paths
      .get(System.getProperty("java.home"), "bin", "java").toString
    val ia = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toVector
    val opens = ia.zipWithIndex.flatMap {
      case (a, i) if a == "--add-opens" && i + 1 < ia.size =>
        Seq(a, ia(i + 1))
      case (a, _) if a.startsWith("--add-opens=") => Seq(a)
      case _ => Seq.empty
    }
    val log = base.resolve("child.log").toFile
    val pb = new ProcessBuilder(
      (Seq(java17) ++ opens ++ Seq("-Xmx1g",
        "-Dspark.ui.enabled=false",
        "-cp", System.getProperty("java.class.path"),
        "graft.VersionRaceChild", dir, "B", n.toString,
        parts.toString)).asJava)
    pb.redirectErrorStream(true)
    pb.redirectOutput(log)
    val child = pb.start()
    // parent writer, in-process, same protocol, tag A
    val i = VersionRaceChild.race(spark, dir, "A", n, parts)
    assert(i == n, s"parent writer starved")
    assert(child.waitFor(180, java.util.concurrent.TimeUnit.SECONDS),
      "child JVM did not finish in time")
    assert(child.exitValue() == 0,
      s"child failed: ${scala.io.Source.fromFile(log).mkString.takeRight(800)}")
    // the chain: exactly 2n contiguous committed versions, each
    // carrying exactly one writer's COMPLETE op note in its record,
    // both writers' full sequences present exactly once
    val snaps = VersionStore.snapshots(spark, dir)
    val vs = snaps.map(_.version)
    assert(vs == (0L until 2L * n), s"ids must be contiguous: $vs")
    assert(snaps.forall(_.op == "APPEND"), s"torn records: $snaps")
    val notes = snaps.map(_.detail)
    val want = (0 until n).flatMap(k => Seq(s"A-$k", s"B-$k")).toSet
    assert(notes.toSet == want && notes.size == want.size,
      s"lost/duplicated commits: $notes")
    // per-writer order preserved (a writer only advances after its
    // commit succeeds)
    def seqOf(tag: String) = notes.filter(_.startsWith(tag))
      .map(_.stripPrefix(s"$tag-").toInt)
    assert(seqOf("A") == (0 until n) && seqOf("B") == (0 until n))
    // each stamp is floored by its parent's: strictly increasing
    val ts = snaps.map(_.ts)
    assert(ts.zip(ts.tail).forall { case (a, b) => a < b },
      s"commit stamps must increase along the chain: $ts")
    // each record's parts are its own writer's complete output
    if (parts) snaps.foreach { snap =>
      import spark.implicits._
      val Array(tag, k) = snap.detail.split("-")
      assert(snap.parts.keySet == Set("a", "b") && snap.parts.values
        .forall(_.files.forall(_.startsWith(s"${snap.vdir}/"))))
      assert(VersionStore.read(spark, snap.part("a")).as[Int].collect()
        .toSeq == Seq(k.toInt) && VersionStore.read(spark, snap.part("b"))
        .as[String].collect().toSeq == Seq(tag), s"torn parts: $snap")
    }
    rm(base.toFile)
  }

  test("two-JVM publishExclusive race: no commit lost, duplicated, or torn") {
    twoJvmRace(parts = false)
  }

  test("two-JVM race on two-part records: no commit lost, duplicated, or torn") {
    twoJvmRace(parts = true)
  }

  test("the commit record carries named parts exactly; a missing part fails by name") {
    import org.apache.spark.sql.types._
    val base = java.nio.file.Files.createTempDirectory("graft_vs_parts")
    val dir = base.resolve("t").toString
    // an ANN `assigned`-like part (non-null key, `ne` array<double>
    // with non-null elements) and an empty part
    val vecs = StructType(Seq(StructField("vec_id", LongType, false),
      StructField("ne", ArrayType(DoubleType, containsNull = false)),
      StructField("cid", LongType)))
    val empty = StructType(Seq(StructField("k", StringType)))
    var parts = Map.empty[String, Part]
    val committed = VersionStore.commit(spark, dir, None) { stage =>
      parts = Map(
        "assigned" -> Part(vecs, Seq(s"${stage.vdir}/assigned/p0.parquet",
          s"${stage.vdir}/assigned/p1.parquet")),
        "none" -> Part(empty, Nil))
      Snapshot(dir, stage.version, Nil, parts = parts, batchId = Some(7L))
    }
    val back = VersionStore.snapshot(spark, dir)
    assert(back == committed && back.parts == parts &&
      back.batchId.contains(7L))
    assert(back.part("assigned").schema == vecs && back.files.isEmpty &&
      back.schema.isEmpty)
    // the empty part reads as no rows under its schema
    val none = VersionStore.read(spark, back.part("none"))
    assert(none.schema.fieldNames.toSeq == Seq("k") && none.count() == 0L)
    // a record with no parts: the absence is a fact, and asking for a
    // part names it
    val plain = commitRows(dir, Some(back), Seq(1))
    assert(VersionStore.snapshot(spark, dir) == plain && plain.parts.isEmpty &&
      plain.batchId.isEmpty)
    val err = intercept[RuntimeException](plain.part("edges"))
    assert(err.getMessage.contains("'edges'"), err.getMessage)
    rm(base.toFile)
  }

  test("retention keeps every file a kept record's parts list") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_vs_pref")
    val dir = base.resolve("t").toString
    val fs = VersionStore.fsOf(spark, dir)
    // v=1 carries v=0's part `a` by pointer and writes a part `c`
    val v0 = commitParts(dir, None, Seq(1, 2))
    VersionStore.commit(spark, dir, Some(v0)) { stage =>
      stage.put(Seq(3).toDF("x").coalesce(1), "c")
      Snapshot(dir, stage.version, Nil,
        parts = Map("a" -> v0.part("a")) ++ stage.parts)
    }: Unit
    assert(VersionStore.retain(spark, dir, keepLast = 1) == Seq(0L))
    assert(v0.part("a").files.forall(f => fs.exists(hpath(f))),
      "a part file the kept record lists must survive")
    assert(!fs.exists(hpath(s"$dir/v=0/b")) &&
      !fs.exists(hpath(s"$dir/v=0/${VersionStore.CommitMarker}")),
      "the pruned version's unreferenced part and marker must go")
    assert(VersionStore.committed(spark, dir) == Seq(1L))
    assert(partRows(dir, "a") == Set(1, 2) && partRows(dir, "c") == Set(3),
      "the head still serves its carried part")
    rm(base.toFile)
  }

  /** Equal as the record must keep them: doubles bit for bit (NaN,
    * -0.0), decimals with their scale, everything else by value and
    * class. */
  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      java.lang.Double.doubleToRawLongBits(x) ==
        java.lang.Double.doubleToRawLongBits(y)
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.equals(y)
    case _ => a == b && (a == null || a.getClass == b.getClass)
  }

  test("the commit record carries per-file stats exactly, type by type") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val base = java.nio.file.Files.createTempDirectory("graft_vs_stats")
    val dir = base.resolve("t").toString
    val columns = StructType(Seq(
      StructField("l", LongType), StructField("i", IntegerType),
      StructField("d", DoubleType), StructField("m", DecimalType(38, 18)),
      StructField("s", StringType), StructField("day", DateType),
      StructField("ts", TimestampType), StructField("none", LongType)))
    val lo = Row(Long.MinValue, Int.MinValue, -0.0,
      new java.math.BigDecimal("-12345678901234567890.123456789012345678"),
      "naïve Ωμέγα 東京 🚀", java.sql.Date.valueOf("1969-12-31"),
      java.sql.Timestamp.valueOf("1969-12-31 23:59:59.999999"), null)
    val hi = Row(Long.MaxValue, Int.MaxValue, Double.NaN,
      new java.math.BigDecimal("0.000000000000000001"),
      "ünïcødé", java.sql.Date.valueOf("2024-02-29"),
      java.sql.Timestamp.valueOf("2024-02-29 12:34:56.123456"), null)
    val entry = Stats.File(5L, lo.toSeq, hi.toSeq,
      columns.indices.map(i => if (i == 7) 5L else i.toLong))
    val stats = Stats(columns, Map(s"$dir/v=0/a.parquet" -> entry,
      s"$dir/v=0/b.parquet" -> entry.copy(cnt = 7L)))
    val committed = VersionStore.commit(spark, dir, None)(stage =>
      Snapshot(dir, stage.version, Seq(stageRows(stage, "a.parquet", Seq(1))),
        stats = Some(stats)))
    val back = VersionStore.snapshot(spark, dir)
    assert(back.copy(stats = None) == committed.copy(stats = None))
    val got = back.stats.get
    assert(got.columns == columns && got.files.keySet == stats.files.keySet)
    for ((f, want) <- stats.files) {
      val have = got.files(f)
      assert(have.cnt == want.cnt && have.nulls == want.nulls)
      for (i <- columns.indices)
        assert(same(have.min(i), want.min(i)) &&
          same(have.max(i), want.max(i)),
          s"$f.${columns(i).name}: $want came back as $have")
    }
    // and the values ANALYZE records are exactly those Spark profiles
    val src = base.resolve("src").toString
    Seq(Seq(lo, hi), Seq(hi, lo, hi)).foreach(rs =>
      spark.createDataFrame(rs.asJava, columns).coalesce(1)
        .write.mode("append").parquet(src))
    graft.ops.Scale.analyzeTable(spark, src, base.resolve("a").toString,
      columns.fieldNames.toSeq)
    def profile(df: org.apache.spark.sql.DataFrame) =
      df.drop("__f").collect().sortBy(_.getAs[Long]("cnt")).map(_.toSeq)
    val recorded = graft.ops.Scale.statsOf(spark,
      base.resolve("a").toString, 0L).get
    val direct = graft.ops.Scale.fileStats(spark, src, columns.fieldNames.toSeq)
    assert(recorded.schema.map(f => f.name -> f.dataType) ==
      direct.schema.map(f => f.name -> f.dataType))
    val (pr, pd) = (profile(recorded), profile(direct))
    assert(pr.length == 2 && pr.zip(pd).forall { case (a, b) =>
      a.length == b.length && a.zip(b).forall { case (x, y) => same(x, y) }
    }, s"recorded ${pr.map(_.mkString(",")).mkString(" | ")} vs " +
      s"profiled ${pd.map(_.mkString(",")).mkString(" | ")}")
    rm(base.toFile)
  }

  test("guard: chain file names stay inside graft.tables") {
    // the on-disk layout (marker, writer token, commit record,
    // watermarks, the `v=<n>` version dirs) is VersionStore's alone:
    // every other module reads a chain through Snapshot (a version's
    // dir is `Snapshot.vdir`). The one exception is ScaleExperiment's
    // data-generator marker, which names no chain file. Version paths
    // are checked in code only; docs may describe the layout.
    // A version's parts are read through its record: no code outside
    // graft.tables reads a path built from a version dir (`vdir`) or a
    // stage dir (`stage.path`), spells `$vdir/...`, or uses a committed
    // version's dir at all, except the two CLONE no-copy listings in
    // Queries; and the artifact writers in graft.sim and graft.dedup
    // probe no path with `fs.exists`. Inside graft.tables, the `_GRAFT_`
    // names the code declares are exactly the marker, the commit record
    // and the writer token: a chain keeps no other file of its own.
    import scala.jdk.CollectionConverters._
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root: $root")
    val name = raw"(?i)(?<![A-Za-z0-9])_GRAFT_[A-Za-z0-9_]*".r
    val versionPath = raw"/v=".r
    def isDoc(l: String) = {
      val t = l.trim
      t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")
    }
    val allowed = Map("graft/ScaleExperiment.scala" -> Set("_GRAFT_GEN_OK_v2"))
    val versionDir = raw"(?<!stage)\.vdir\b|\$$\{?vdir\b".r
    val dirRead = raw"\.read\b.*?(vdir|stage\.path)".r
    val probe = raw"\bfs\.exists\b".r
    val dirAllowed = Map("graft/ops/Queries.scala" -> Seq(
      "snapshot(s, cln, Some(0L)).vdir", "snapshot(s, b, Some(0L)).vdir"))
    val probeFree = Seq("graft/sim/", "graft/dedup/")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f =>
        if (f.isDirectory) files(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    def codeLines(f: java.io.File) = java.nio.file.Files.readAllLines(
      f.toPath, java.nio.charset.StandardCharsets.UTF_8).asScala.toVector
    val declared = files(new java.io.File(root, "graft/tables"))
      .flatMap(codeLines).filterNot(isDoc)
      .flatMap(l => raw""""(_GRAFT_[A-Za-z0-9_]*)"""".r
        .findAllMatchIn(l.split("//", 2).head).map(_.group(1))).toSet
    assert(declared == Set("_GRAFT_COMMITTED", "_GRAFT_COMMIT",
      "_GRAFT_WRITER"), s"chain file names in graft.tables: $declared")
    val offenders = files(root).flatMap { f =>
      val rel = root.toPath.relativize(f.toPath).toString
      if (rel.startsWith("graft/tables/")) Nil
      else {
        val lines = codeLines(f)
        def code(i: Int) =
          if (i >= lines.size || isDoc(lines(i))) ""
          else lines(i).split("//", 2).head
        lines.indices.flatMap { i =>
          val l = lines(i)
          // a read's path may sit on the line after `.read`
          val read = if (code(i).contains(".read")) code(i) + code(i + 1)
            else ""
          (name.findAllIn(l)
            .filterNot(allowed.getOrElse(rel, Set.empty[String])) ++
            versionPath.findAllIn(code(i)) ++
            dirRead.findAllIn(read) ++
            (if (dirAllowed.getOrElse(rel, Nil).exists(code(i).contains)) Nil
             else versionDir.findAllIn(code(i))) ++
            (if (probeFree.exists(rel.startsWith)) probe.findAllIn(code(i))
             else Nil))
            .map(n => s"$rel:${i + 1}: $n")
        }
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
