package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

import graft.core.{Channel, Fixpoint, Fold, Pin, Pump, Sink, Source, StatePump}

/** Semantics of the tubes surface (SURVEY §2.1–§2.3) on driver-sized
  * streams — mirrors the reference's own doc examples. */
class CoreSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("lfold demo: fold [1..10] = 55, resume [11..20] = 210 (Util.hs:160)") {
    import spark.implicits._
    val f = Fold.decimalSum[java.math.BigDecimal](identity)
    val d1 = spark.createDataset((1 to 10).map(i => new java.math.BigDecimal(i)))
    val d2 = spark.createDataset((11 to 20).map(i => new java.math.BigDecimal(i)))
    val (r1, resumed) = f.runResumable(d1)
    assert(r1.intValue == 55)
    assert(resumed.run(d2).intValue == 210)
  }

  test("Fold.count ignores partitioning") {
    import spark.implicits._
    val ds = spark.createDataset(1 to 1000).repartition(7)
    assert(Fold.count[Int].run(ds) == 1000L)
  }

  test("Pump recv pulls incrementally (Core.hs:196 / unyield)") {
    import spark.implicits._
    val p = Pump(spark.createDataset(Seq(1, 2, 3)).orderBy("value"))
    val Some((a, p2)) = p.recv()
    assert(a == 1)
    assert(p2.fold(0)(_ + _) == 5) // consumes the rest: 2 + 3
  }

  test("StatePump replays the reference's resumable summer demo") {
    import graft.core.StatePump
    // summer = lfold (+) (\x -> ((),x)) 0; stream over [1..10] → 55,
    // duplicate and keep folding [11..20] → 210 (Util.hs:171)
    val summer =
      StatePump.lfold[Int, Int, Int](0)((s, a) => s + a)(s => s)
    val after10 = summer.sendAll(1 to 10)
    val (r1, resumed) = after10.recv()
    assert(r1 == 55)
    val (r2, _) = resumed.sendAll(11 to 20).recv()
    assert(r2 == 210)
  }

  test("take/drop/takeWhile are ordered-prefix ops (Util.hs:94-121)") {
    import spark.implicits._
    val src = Source(spark.createDataset(Seq(5, 1, 4, 2, 3)).toDF("x"))
    assert(src.take(2, col("x")).toDF.as[Int].collect().toSeq == Seq(1, 2))
    assert(src.drop(3, col("x")).toDF.as[Int].collect().toSeq == Seq(4, 5))
    val tw = Source(spark.createDataset(Seq(1, 2, 9, 3)).toDF("x"))
      .takeWhile(col("x") < 5, Seq(monotonically_increasing_id()))
    // input arrival order: 1, 2 pass; 9 stops the stream (3 never seen)
    assert(tw.toDF.as[Int].collect().toSeq == Seq(1, 2))
  }

  test("sequence evaluates deferred effects in stream order (#12)") {
    import spark.implicits._
    // the reference's `sequence = mapM id`: effectful values evaluated
    // as they pass — graft models the effect as executor-side compute
    val got = Source(spark.createDataset(Seq(1, 2, 3)))
      .mapM(identity) // sequence = mapM id (Util.hs:142)
      .ds.collect().sorted.toSeq
    assert(got == Seq(1, 2, 3))
  }

  test("merge interleaves like the reference README example") {
    import spark.implicits._
    val a = Source(spark.createDataset(Seq("A1", "A2", "A3")).toDF("s"))
    val b = Source(spark.createDataset(Seq("B1", "B2", "B3", "B4")).toDF("s"))
    val out = a.merge(b, Seq(col("s"))).toDF.orderBy("pos")
      .select("s").as[String].collect().toSeq
    assert(out == Seq("A1", "B1", "A2", "B2", "A3", "B3", "B4"))
  }

  test("keyed take/drop/merge stay within partitions (SURVEY §5)") {
    import spark.implicits._
    val df = Seq((1, 10), (1, 20), (1, 30), (2, 40), (2, 50))
      .toDF("k", "x")
    val top = Source(df).takeWithin(2, Seq(col("k")), Seq(col("x")))
      .toDF.orderBy("k", "x").select("x").as[Int].collect().toSeq
    assert(top == Seq(10, 20, 40, 50))
    val rest = Source(df).dropWithin(2, Seq(col("k")), Seq(col("x")))
      .toDF.select("x").as[Int].collect().toSeq
    assert(rest == Seq(30))
    val a = Source(Seq((1, 1), (1, 3), (2, 5)).toDF("k", "x"))
    val b = Source(Seq((1, 2), (2, 6), (2, 8)).toDF("k", "x"))
    val m = a.mergeWithin(b, Seq(col("k")), Seq(col("x")))
      .toDF.orderBy("k", "pos").select("x").as[Int].collect().toSeq
    assert(m == Seq(1, 2, 3, 5, 6, 8))
  }

  test("Sink semigroup: both sinks consume every element (Sink.hs:127)") {
    import spark.implicits._
    val buf1 = scala.collection.mutable.ArrayBuffer[Int]()
    val buf2 = scala.collection.mutable.ArrayBuffer[Int]()
    Source(spark.createDataset(Seq(1, 2, 3)))
      .into(Sink.collect(buf1).both(Sink.collect(buf2)))
    assert(buf1.sorted == Seq(1, 2, 3) && buf2.sorted == Seq(1, 2, 3))
  }

  test("Channel category laws: id compose = self (Channel.hs:132)") {
    import spark.implicits._
    val df = spark.createDataset(Seq(1, 2, 3)).toDF("x")
    val ch = Channel.withColumn("y", col("x") * 2)
    val composed = Channel.id[org.apache.spark.sql.Row].andThen(ch)
    assert(composed.run(df).select("y").as[Int].collect().sorted.toSeq
      == Seq(2, 4, 6))
  }

  test("Channel.choice routes by predicate with tags (Channel.hs:169)") {
    import spark.implicits._
    val df = spark.createDataset(Seq(1, 2, 3, 4)).toDF("x")
    val l = Channel.select(col("x"), (col("x") * 10).as("out"))
    val r = Channel.select(col("x"), (-col("x")).as("out"))
    val got = Channel.choice(col("x") % 2 === 0, l, r).run(df)
      .orderBy("x").select("out", "side").as[(Int, String)].collect().toSeq
    assert(got == Seq((-1, "R"), (20, "L"), (-3, "R"), (40, "L")))
  }

  test("statefulMap: per-key state machine in order (Channel.hs:141)") {
    import spark.implicits._
    val df = Seq((1L, 1L, 10.0), (1L, 2L, 5.0), (2L, 1L, 7.0), (1L, 3L, 1.0))
      .toDF("k", "seq", "v")
    // running max per key — an arbitrary imperative state machine
    val ch = Channel.statefulMap[Long, Double, (Long, Long, Double)](
      keyCols = Seq(col("k")), orderCols = Seq(col("seq")),
      key = _.getLong(0), zero = Double.MinValue) {
      (s, r) =>
        val m = math.max(s, r.getDouble(2))
        (m, (r.getLong(0), r.getLong(1), m))
    }
    val got = ch.run(df).collect().sortBy(t => (t._1, t._2)).toSeq
    assert(got == Seq((1L, 1L, 10.0), (1L, 2L, 10.0), (1L, 3L, 10.0),
      (2L, 1L, 7.0)))
  }

  test("statefulMap streams one giant key without materializing it") {
    import spark.implicits._
    // One key owning ~all rows: the groupByKey+sort form would buffer
    // the whole group on one executor; the secondary-sort form streams.
    val n = 300000L
    val df = spark.range(n)
      .select(lit(1L).as("k"), col("id").as("seq"), lit(1.0).as("v"))
      .unionAll(Seq((2L, 0L, 5.0)).toDF("k", "seq", "v"))
    val ch = Channel.statefulMap[Long, Long, (Long, Long)](
      keyCols = Seq(col("k")), orderCols = Seq(col("seq")),
      key = _.getLong(0), zero = 0L) {
      (s, r) => (s + 1, (r.getLong(0), s + 1))
    }
    val out = ch.run(df).groupByKey(_._1)
      .mapValues(_._2).reduceGroups((a, b) => math.max(a, b))
      .collect().toMap
    assert(out == Map(1L -> n, 2L -> 1L))
  }

  test("observe collects metrics without an extra pass") {
    import spark.implicits._
    val obs = new org.apache.spark.sql.Observation("m")
    val out = Source(Seq(1, 2, 3, 4).toDF("x"))
      .through(Channel.observe(obs,
        "n" -> count(lit(1)), "sum_x" -> sum(col("x"))))
      .ds.collect()
    assert(out.length == 4)
    assert(obs.get("n") == 4L && obs.get("sum_x") == 10L)
  }

  test("tee passes through while observing (Channel.hs:218)") {
    import spark.implicits._
    val buf = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
    val df = spark.createDataset(Seq(1, 2, 3)).toDF("x")
    val out = Channel.tee(Sink(ds => buf ++= ds.collect()))
      .run(df).as[Int].collect().sorted.toSeq
    assert(out == Seq(1, 2, 3) && buf.size == 3)
  }

  test("Source Num lift: s1 + s2 is liftA2 (+) — cross semantics (Source.hs:128)") {
    import spark.implicits._
    val a = Source(Seq(1, 2).toDF("x"))
    val b = Source(Seq(10, 20).toDF("y"))
    val got = (a + b).toDF.as[Int].collect().sorted.toSeq
    assert(got == Seq(11, 12, 21, 22))
    val prod = (a * b).toDF.as[Int].collect().sorted.toSeq
    assert(prod == Seq(10, 20, 20, 40))
    // result column keeps the left name (the lifted stream is still "x")
    assert((a + b).toDF.columns.toSeq == Seq("x"))
  }

  test("Sink.divide: one pass split into parts for two sinks (Sink.hs:102)") {
    import spark.implicits._
    val df = Seq((1, "a"), (2, "b")).toDF("n", "s")
    val nums = scala.collection.mutable.ArrayBuffer[Int]()
    val strs = scala.collection.mutable.ArrayBuffer[String]()
    Sink.divide[org.apache.spark.sql.Row, Int, String](
      ds => ds.select("n").as[Int], ds => ds.select("s").as[String])(
      Sink(d => nums ++= d.collect()), Sink(d => strs ++= d.collect()))
      .run(df)
    assert(nums.sorted.toSeq == Seq(1, 2) && strs.sorted.toSeq == Seq("a", "b"))
    assert(df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
  }

  test("global-order guard enforces the driver-sized-stream contract") {
    import spark.implicits._
    val df = spark.range(10).toDF("x")
    spark.conf.set(Source.MaxGlobalOrderedRows, "5")
    try {
      // over the limit: the global window op must raise
      val ex = intercept[Exception] {
        Source(df).takeWhile(col("x") < 100, Seq(col("x"))).toDF.count()
      }
      def rootMsg(t: Throwable): String = {
        var m = ""
        var cur: Throwable = t
        while (cur != null) { m += Option(cur.getMessage).getOrElse(""); cur = cur.getCause }
        m
      }
      assert(rootMsg(ex).contains("maxGlobalOrderedRows"))
      intercept[Exception] {
        Source(df.limit(4)).merge(Source(df.limit(4)), Seq(col("x")))
          .toDF.count() // 8 interleaved rows > 5
      }
      // at-or-under the limit: unchanged results
      val ok = Source(df.limit(5)).takeWhile(col("x") < 3, Seq(col("x")))
        .toDF.as[Long].collect().toSeq
      assert(ok == Seq(0L, 1L, 2L))
      // keyed variants are the scale path: never guarded
      val keyed = Source(df.withColumn("k", col("x") % 2))
        .takeWithin(3, Seq(col("k")), Seq(col("x"))).toDF.count()
      assert(keyed == 6)
    } finally spark.conf.unset(Source.MaxGlobalOrderedRows)
  }

  test("StatePump.duplicate: checkpoint a fold mid-stream and branch (Core.hs:170)") {
    val summer = StatePump.lfold[Int, Int, Int](0)(_ + _)(s => s)
    val half = summer.sendAll(1 to 10) // the reference's summer demo
    assert(half.extract == 55)
    val checkpoint = half.duplicate.extract // a frozen copy of the pump
    val branchA = checkpoint.sendAll(11 to 20)
    val branchB = half.sendAll(Seq(100)) // original keeps running too
    assert(branchA.extract == 210)
    assert(branchB.extract == 155)
    assert(checkpoint.extract == 55) // the checkpoint itself is unmoved
    // recv-ADVANCING pump (not an identity-transition fold): the
    // duplicate must mirror the original's recv state dynamics
    val drain = StatePump[Int, Int, Int](5, _ + _, s => (s, 0))
    assert(drain.recv()._2.state == 0)
    val (frozen, dupAfter) = drain.duplicate.recv()
    assert(frozen.state == 5 && dupAfter.state == 0)
  }

  test("Pin carries its observed rowCount; large x pinned-small plans a broadcast") {
    // an RDD-backed frame has no size estimate (defaultSizeInBytes): a
    // bare checkpoint of it would keep that and plan a sort-merge join
    val small = spark.createDataFrame(
      spark.sparkContext.parallelize(0L until 100L, 4)
        .map(org.apache.spark.sql.Row(_)),
      org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
    val big = spark.range(0L, 100000000L).toDF("k") // planned, never run
    scala.util.Using.resource(Pin(small, max("k").as("hi"))) { p =>
      assert(p.rows == 100L && p.metric("hi") == 99L)
      assert(p.df.queryExecution.optimizedPlan.stats.rowCount
        .contains(BigInt(100)))
      val plan = big.join(p.df, "k").queryExecution.sparkPlan
      assert(plan.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
      }.nonEmpty, plan.treeString)
      assert(Pin.isPinned(p.df) && !Pin.isPinned(small))
      assert(p.df.count() == 100L)
    }
    // no partitions at all: the observation still completes
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
    scala.util.Using.resource(Pin(empty))(p => assert(p.rows == 0L))
  }

  test("Pin reports the bytes its blocks hold, not rows x schema width") {
    // 500 rows of 50-long bigint arrays: 200,000 payload bytes, where
    // the schema's default row width counts each array as one element
    val arrays = spark.range(0L, 500L, 1L, 4)
      .select(expr("sequence(id, id + 49)").as("a"))
    scala.util.Using.resource(Pin(arrays)) { p =>
      assert(p.bytes >= BigInt(500L * 50 * 8), s"bytes=${p.bytes}")
      assert(p.df.queryExecution.optimizedPlan.stats.sizeInBytes == p.bytes)
    }
  }

  test("Pin releases: Fixpoint over >=10 rounds and Bpe.trainDistributed free every block") {
    import spark.implicits._
    val before = Residency.ids(spark)
    var rounds = 0
    val got = scala.util.Using.resource(
        Fixpoint.iterate(Seq(0L, 3L).toDF("x"), 20, sum("x")) { df =>
          rounds += 1
          df.select(least(col("x") + 1L, lit(12L)).as("x"))
        })(_.df.as[Long].collect().toSeq.sorted)
    assert(got == Seq(12L, 12L) && rounds >= 10, s"rounds=$rounds")
    Residency.assertReleased(spark, before)
    val wc = Seq(("lower", 5L), ("lowest", 3L), ("newer", 6L),
      ("wider", 2L)).toDF("w", "freq")
    assert(graft.text.Bpe.trainDistributed(wc, 8).nonEmpty)
    Residency.assertReleased(spark, before)
  }

  test("guard: the broadcast threshold is read only by Pin.fits") {
    // one driver gate: an operator that finishes small inputs on the
    // driver asks Pin.fits, so -1 turns every such path off. Excepted:
    // ScaleExperiment, which saves, sets and restores the setting.
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root: $root")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f =>
        if (f.isDirectory) files(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    val readers = files(root).flatMap { f =>
      val rel = root.toPath.relativize(f.toPath).toString
      java.nio.file.Files.readAllLines(f.toPath,
          java.nio.charset.StandardCharsets.UTF_8).asScala.zipWithIndex
        .filter { case (l, _) => l.contains("utoBroadcastJoinThreshold") &&
          !Seq("*", "//", "/*").exists(l.trim.startsWith) }
        .map { case (l, i) => (rel, s"$rel:${i + 1}: ${l.trim}") }.toSeq
    }
    val offenders = readers.collect {
      case (rel, hit) if rel != "graft/ScaleExperiment.scala" &&
        rel != "graft/core/Pin.scala" => hit
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
    assert(readers.count(_._1 == "graft/core/Pin.scala") == 1,
      readers.mkString("\n"))
  }

  test("guard: Pin is the only materialize-and-release idiom in src/main") {
    // a fifth idiom must not creep back: every frame computed once and
    // read many times goes through graft.core.Pin. The exceptions are
    // the lazily filled, finally-released persists of Sink.divide,
    // Sink.choose and Channel.tee.
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root: $root")
    val idiom = raw"localCheckpoint\(|\.persist\(|\.cache\(\)|Eager\(".r
    val allowed = Map("graft/core/Sink.scala" -> 2,
      "graft/core/Channel.scala" -> 1)
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f =>
        if (f.isDirectory) files(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    val offenders = files(root).flatMap { f =>
      val rel = root.toPath.relativize(f.toPath).toString
      val hits = java.nio.file.Files.readAllLines(f.toPath,
          java.nio.charset.StandardCharsets.UTF_8).asScala.zipWithIndex
        .filter { case (l, _) => idiom.findFirstIn(l).nonEmpty }
        .map { case (l, i) => s"$rel:${i + 1}: ${l.trim}" }.toSeq
      if (rel == "graft/core/Pin.scala" ||
          hits.size <= allowed.getOrElse(rel, 0)) Nil
      else hits
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
