package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Relational

/** Unit contracts for the round-6 Relational additions: changelog
  * upsert (#42c), SCD-2 history build (#42d), and degree-oriented
  * triangle listing (#57h — equality vs brute-force enumeration on a
  * random graph, the same adversarial-reference style DedupSpec uses
  * for the prefix-filter join). */
class RelationalSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  test("upsert: insert/update/keep actions; null change keeps base (#42c)") {
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "bal")
    val changes = Seq((2L, Some(99.0)), (4L, Some(40.0)), (3L, None))
      .toDF("k", "bal")
    val got = Relational.upsert(base, changes, Seq("k"))
      .orderBy("k")
      .collect().map(r => (r.getLong(0), Option(r.get(1)),
        Option(r.get(2)), r.getString(3)))
    assert(got.toSeq == Seq(
      (1L, Some("a"), Some(10.0), "keep"),
      (2L, Some("b"), Some(99.0), "update"),
      // MERGE convention: a null change field means "no change"
      (3L, Some("c"), Some(30.0), "update"),
      (4L, None, Some(40.0), "insert")))
  }

  test("upsert: 'D' op removes the key; absent-key delete no-op (#42c r8)") {
    val base = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "bal")
    val changes = Seq((2L, 0.0, "D"), (3L, 99.0, "U"), (4L, 40.0, "I"),
      (9L, 0.0, "D")).toDF("k", "bal", "op")
    val got = Relational.upsert(base, changes, Seq("k"), Some("op"))
      .orderBy("k")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    // k2 deleted, k9 delete is a no-op (absent), op column never lands
    assert(got.toSeq == Seq((1L, 10.0, "keep"), (3L, 99.0, "update"),
      (4L, 40.0, "insert")))
    // default None: byte-identical to the r6 behavior — every change
    // row upserts, so the would-be tombstones land as plain writes
    val plain = Relational.upsert(base, changes.drop("op"), Seq("k"))
      .orderBy("k").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(plain.toSeq == Seq((1L, 10.0), (2L, 0.0), (3L, 99.0),
      (4L, 40.0), (9L, 0.0)))
  }

  test("mergeInto: clause order, NULL-set sticks, conditional insert (#42g)") {
    val target = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0),
      (4L, "d", 40.0)).toDF("k", "name", "bal")
    val source = Seq((2L, 99.0), (3L, 99.0), (4L, -1.0), (5L, 50.0),
      (6L, -1.0)).toDF("k", "x")
    val got = Relational.mergeInto(target, source, Seq("k"),
      // DELETE fires first even when the update cond also holds (k=3)
      whenMatchedDelete = Some(expr("s.x < 0 OR t.k = 3")),
      whenMatchedUpdate = Some((expr("s.x > 0"), Map(
        "bal" -> expr("t.bal + s.x"),
        // UPDATE SET to NULL must stick (not fall back to base)
        "name" -> expr("cast(null AS string)")))),
      whenNotMatchedInsert = Some((expr("s.x > 0"), Map(
        "bal" -> expr("s.x")))))
      .orderBy("k")
      .collect().map(r => (r.getLong(0), Option(r.get(1)),
        Option(r.get(2)), r.getString(3)))
    assert(got.toSeq == Seq(
      (1L, Some("a"), Some(10.0), "keep"),     // target-only rides through
      (2L, None, Some(119.0), "update"),       // SET bal=t.bal+s.x, name=NULL
      // k=3 deleted (delete precedes update), k=4 deleted (x<0)
      (5L, None, Some(50.0), "insert")),       // unlisted name -> NULL
      s"got ${got.toSeq}")                     // k=6 fails the insert cond
    // no clauses at all: pure full-outer audit — every target row keeps,
    // every source-only row is dropped (no insert clause)
    val none = Relational.mergeInto(target, source, Seq("k"))
      .orderBy("k").collect()
    assert(none.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L) &&
      none.forall(_.getString(3) == "keep"))
  }

  test("NULL keys match nothing: mergeInto, upsert and the COW MERGE agree") {
    val target = Seq((None, "t0", 1.0), (Some(1L), "t1", 1.0))
      .toDF("k", "name", "bal")
    val source = Seq((None, "s0", 2.0), (Some(1L), "s1", 2.0))
      .toDF("k", "name", "bal")
    def rows(df: DataFrame) = df.select("k", "name", "bal").collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getString(1),
        r.getDouble(2))).sortBy(_.toString).toSeq
    val all = Map("name" -> expr("s.name"), "bal" -> expr("s.bal"))
    def merge(insert: Boolean) = Relational.mergeInto(target, source,
      Seq("k"), whenMatchedUpdate = Some((lit(true), all)),
      whenNotMatchedInsert = Option.when(insert)((lit(true), all)))
    // the target's NULL-key row is kept; the source's is inserted when
    // an insert clause admits it and dropped when none does
    val admitted = Seq((None, "s0", 2.0), (None, "t0", 1.0),
      (Some(1L), "s1", 2.0))
    assert(rows(merge(insert = true)) == admitted)
    assert(rows(merge(insert = false)) ==
      Seq((None, "t0", 1.0), (Some(1L), "s1", 2.0)))
    assert(rows(Relational.upsert(target, source, Seq("k"))) == admitted)
    val dir = java.nio.file.Files.createTempDirectory("graft_rel_nullkey")
    val src = dir.resolve("src").toString
    val tbl = dir.resolve("tbl").toString
    target.coalesce(1).write.parquet(src)
    graft.ops.Scale.mergeInto(spark, src, tbl, source, Seq("k"))
    assert(rows(graft.ops.Scale.readTable(spark, tbl)) == admitted)
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  /** [[Relational.upsert]] before it lowered onto mergeInto: its own
    * full-outer join, kept here as the reference the clause form must
    * reproduce. */
  private def upsertReference(base: DataFrame, changes: DataFrame,
                              key: Seq[String], opCol: Option[String],
                              deleteOp: String = "D"): DataFrame = {
    val common = base.columns.filterNot(key.contains)
      .filter(changes.columns.contains)
      .filterNot(opCol.contains)
    val del = opCol.map(c =>
      (upper(col(c)) === deleteOp.toUpperCase).as("__del")).toSeq
    val c = changes.select(key.map(col) ++
      common.map(n => col(n).as(s"__c_$n")) ++ del :+ lit(1).as("__c"): _*)
    val merged = base.withColumn("__b", lit(1)).join(c, key, "full_outer")
    val dropDeleted =
      if (opCol.isDefined) merged.where(!coalesce(col("__del"), lit(false)))
      else merged
    dropDeleted
      .select(key.map(col) ++
        base.columns.filterNot(key.contains).toSeq.map { n =>
          if (common.contains(n)) coalesce(col(s"__c_$n"), col(n)).as(n)
          else col(n)
        } :+
        when(col("__b").isNull, lit("insert"))
          .when(col("__c").isNull, lit("keep"))
          .otherwise(lit("update")).as("action"): _*)
  }

  test("upsert lowered onto mergeInto == its own-join reference (seeded)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val baseSchema = StructType.fromDDL(
      "k BIGINT, g INT, a STRING, b DOUBLE, only_base INT")
    val changeSchema = StructType.fromDDL(
      "k BIGINT, g INT, a STRING, b DOUBLE, only_change STRING, op STRING")
    val ops = IndexedSeq("D", "d", "U", "u", "c", null)
    (1 to 24).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      def maybe[A](a: A): Any = if (rnd.nextDouble() < 0.25) null else a
      // composite key on odd seeds; a NULL key now and then
      val key = if (seed % 2 == 1) Seq("k", "g") else Seq("k")
      val baseKeys = (0L until 12L).filter(_ => rnd.nextDouble() < 0.8)
      val base = baseKeys.map(k => Row(if (k == 0L) null else k,
        (k % 2).toInt, maybe(s"a$k"), maybe(k * 1.5), maybe(k.toInt)))
      // changes hit present keys (updates, tombstones) and absent ones
      // (inserts, deletes of absent keys); every fourth seed is empty
      val changeKeys =
        if (seed % 4 == 0) Seq.empty
        else (0L until 18L).filter(_ => rnd.nextDouble() < 0.5)
      val changes = changeKeys.map(k => Row(if (k == 0L) null else k,
        (k % 2).toInt, maybe(s"c$k"), maybe(-k * 2.0), maybe("x"),
        ops(rnd.nextInt(ops.size))))
      val b = spark.createDataFrame(
        spark.sparkContext.parallelize(base, 2), baseSchema)
      val c = spark.createDataFrame(
        spark.sparkContext.parallelize(changes, 2), changeSchema)
      Seq(None, Some("op")).foreach { op =>
        val ch = if (op.isEmpty) c.drop("op") else c
        val got = Relational.upsert(b, ch, key, op)
        val want = upsertReference(b, ch, key, op)
        assert(got.schema == want.schema,
          s"seed $seed, op $op: ${got.schema} vs ${want.schema}")
        def sorted(df: DataFrame) = df.collect().map(_.toSeq)
          .sortBy(_.mkString("|")).toSeq
        assert(sorted(got) == sorted(want), s"seed $seed, op $op")
      }
    }
  }

  test("deltaJoin: delta algebra == full recompute; base-base never rejoined (#42h)") {
    val rnd = new scala.util.Random(7)
    val a = (1 to 400).map(i => (rnd.nextInt(40).toLong, i))
      .toDF("k", "av")
    val b = (1 to 120).map(i => (rnd.nextInt(40).toLong, s"b$i"))
      .toDF("k", "bv")
    // random 70/30 splits of both sides
    val Array(aBase, aDelta) = a.randomSplit(Array(0.7, 0.3), seed = 1)
    val Array(bBase, bDelta) = b.randomSplit(Array(0.7, 0.3), seed = 2)
    val full = a.join(b, "k")
    val incr = aBase.join(bBase, Seq("k"))
      .unionByName(Relational.deltaJoin(aBase, aDelta, bBase, bDelta,
        Seq("k")))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "av", "bv").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
        .sorted.toSeq
    assert(canon(incr) == canon(full), "delta algebra lost or dup'd pairs")
    // the delta plan must contain EXACTLY two joins (dA join (B u dB),
    // A join dB) — a third would mean the base-base join was recomputed
    val dPlan = Relational.deltaJoin(aBase, aDelta, bBase, bDelta,
      Seq("k")).queryExecution.optimizedPlan.toString
    assert("Join Inner".r.findAllIn(dPlan).size == 2,
      s"delta join count drifted:\n$dPlan")
    // empty deltas -> empty increment (and no work)
    val empty = Relational.deltaJoin(aBase, aDelta.limit(0), bBase,
      bDelta.limit(0), Seq("k"))
    assert(empty.count() == 0)
  }

  test("cumsumExact == single-window cumsum, bit-exact decimals (#38x)") {
    import org.apache.spark.sql.expressions.{Window => W}
    val rnd = new scala.util.Random(41)
    val df = (1 to 5000).map(i =>
        (i.toLong, rnd.nextInt(1000).toLong,
          BigDecimal(rnd.nextInt(1000000)) / 100))
      .toDF("id", "k", "v")
      .select(col("id"), col("k"),
        col("v").cast(org.apache.spark.sql.types.DecimalType(18, 2))
          .as("v"))
    val got = Relational.cumsumExact(df, Seq("k", "id"), "v",
        partitions = 7)
      .select(col("id"), col("cum").cast("decimal(38,2)"))
      .collect().map(r => (r.getLong(0), r.getDecimal(1))).toMap
    val exp = df.withColumn("cum",
        sum(col("v")).over(W.orderBy(col("k").asc, col("id").asc)
          .rowsBetween(W.unboundedPreceding, W.currentRow)))
      .select(col("id"), col("cum").cast("decimal(38,2)"))
      .collect().map(r => (r.getLong(0), r.getDecimal(1))).toMap
    assert(got.size == 5000 && got == exp)
    // rejects non-decimal values (the exactness contract)
    val bad = intercept[IllegalArgumentException] {
      Relational.cumsumExact(df.withColumn("d",
        col("v").cast("double")), Seq("k", "id"), "d")
    }
    assert(bad.getMessage.contains("DECIMAL"))
  }

  test("asofJoin forward/tolerance == brute force incl. ties (#55d')") {
    val rnd = new scala.util.Random(23)
    val left = (1 to 300).map(i =>
      (i.toLong, rnd.nextInt(8).toLong, rnd.nextInt(100).toLong))
    val right = (1 to 200).map(i =>
      (rnd.nextInt(8).toLong, rnd.nextInt(100).toLong, s"v$i"))
    val lDf = left.toDF("id", "k", "t")
    val rDf = right.toDF("k", "t", "v")
    for (dir <- Seq("backward", "forward"); tol <- Seq(None, Some(7L))) {
      val got = Relational.asofJoin(lDf, rDf, Seq("k"), "t",
          direction = dir, tolerance = tol)
        .collect().map(r => (r.getLong(0), Option(r.get(3))
          .map(_.asInstanceOf[Long]))).toMap
      for ((id, k, t) <- left) {
        val cands = right.filter(r => r._1 == k &&
          (if (dir == "backward") r._2 <= t else r._2 >= t) &&
          tol.forall(x => math.abs(r._2 - t) <= x))
        val exp =
          if (cands.isEmpty) None
          else Some(if (dir == "backward") cands.map(_._2).max
                    else cands.map(_._2).min)
        assert(got(id) == exp, s"$dir tol=$tol id=$id k=$k t=$t")
      }
    }
    // equal-order right rows stay visible in BOTH directions
    val l1 = Seq((1L, 1L, 50L)).toDF("id", "k", "t")
    val r1 = Seq((1L, 50L, "x")).toDF("k", "t", "v")
    for (dir <- Seq("backward", "forward"))
      assert(Relational.asofJoin(l1, r1, Seq("k"), "t", direction = dir)
        .collect()(0).getString(4) == "x", s"$dir equality-inclusive")
  }

  test("asofJoin width gate fails safe on unknown statistics") {
    // an RDD-backed input has no size estimate (Spark reports
    // spark.sql.defaultSizeInBytes): the gate must not read that as
    // "big" and pin a Fanout-width repartition onto a few rows
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, k BIGINT, t BIGINT")
    val left = Seq((1L, 1L, 10L), (2L, 1L, 30L), (3L, 2L, 5L))
    val lRdd = spark.createDataFrame(spark.sparkContext.parallelize(
      left.map { case (a, b, c) => org.apache.spark.sql.Row(a, b, c) }),
      schema)
    val rDf = Seq((1L, 20L, "a"), (2L, 1L, "b")).toDF("k", "t", "v")
    assert(lRdd.queryExecution.optimizedPlan.stats.sizeInBytes >=
      BigInt(org.apache.spark.sql.internal.SQLConf.get.defaultSizeInBytes))
    val got = Relational.asofJoin(lRdd, rDf, Seq("k"), "t")
    val repartitions = got.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression => r
    }
    assert(repartitions.isEmpty, got.queryExecution.optimizedPlan.treeString)
    val want = Relational.asofJoin(left.toDF("id", "k", "t"), rDf, Seq("k"), "t")
    assert(got.orderBy("id").collect().toSeq ==
      want.orderBy("id").collect().toSeq)
    assert(got.orderBy("id").collect().map(r => Option(r.getString(4))).toSeq ==
      Seq(None, Some("a"), Some("b")))
  }

  test("snapshotDiff: newer-side NULL wins by presence, not coalesce (r7 advice)") {
    val a = Seq((1L, "x", Some("old")), (2L, "y", Some("keep")))
      .toDF("k", "fp", "note")
    val b = Seq((1L, "x2", None: Option[String]), (2L, "y", Some("keep")))
      .toDF("k", "fp", "note")
    val got = Relational.snapshotDiff(a, b, Seq("k"), "fp")
      .orderBy("k").collect()
      .map(r => (r.getLong(0), Option(r.getString(2)), r.getString(3)))
    // k1 changed AND its carried note is the newer side's legitimate
    // NULL — the old value must NOT resurrect
    assert(got.toSeq == Seq((1L, None, "changed"),
      (2L, Some("keep"), "unchanged")))
  }

  test("scd2: collapses no-change runs; half-open contiguous intervals (#42d)") {
    val ch = Seq(
      (1L, 10L, 1L, 5.0), (1L, 20L, 2L, 5.0), // no-change collapsed
      (1L, 30L, 3L, 7.0), (1L, 40L, 4L, 5.0), // back to 5.0 IS a change
      (2L, 10L, 5L, 1.0))
      .toDF("k", "t", "seq", "v")
    val got = Relational.scd2(ch, Seq("k"), Seq("t", "seq"), "v")
      .orderBy("k", "version")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3), Option(r.get(4)), r.getBoolean(5)))
    assert(got.toSeq == Seq(
      (1L, 1L, 5.0, 10L, Some(30L), false),
      (1L, 2L, 7.0, 30L, Some(40L), false),
      (1L, 3L, 5.0, 40L, None, true),
      (2L, 1L, 1.0, 10L, None, true)))
    // interval chain: each version's valid_to == next's valid_from
    got.groupBy(_._1).foreach { case (_, vs) =>
      vs.sortBy(_._2).sliding(2).foreach {
        case Array(a, b) => assert(a._5.contains(b._4))
        case _ =>
      }
    }
  }

  test("editDistanceJoin == brute force incl. short strings (#57k)") {
    val rnd = new scala.util.Random(23)
    val alpha = "abcde"
    def randStr(n: Int) =
      (0 until n).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    // lengths 1..10: strings below q*(k+1)=6 exercise the brute bucket
    val vals = (0 until 120).map(_ => randStr(1 + rnd.nextInt(10))).distinct
    val got = Relational.editDistanceJoin(vals.toDF("v"), "v", k = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val brute = (for {
      a <- vals; b <- vals if a < b
      d = lev(a, b) if d <= 2
    } yield (a, b, d.toLong)).toSet
    assert(got == brute, s"${got.size} vs ${brute.size}")
  }

  test("skewJoin == plain join on skewed and uniform keys (#55w)") {
    import org.apache.spark.sql.functions._
    // 50% of fact rows on one hot key; dim has payloads for all keys
    val fact = spark.range(20000).select(
      when(col("id") % 2 === 0, 0L).otherwise(col("id") % 500L).as("k"),
      (col("id") % 97).as("v"))
    val dim = spark.range(500).select(col("id").as("k"),
      md5(col("id").cast("string")).as("p"))
    val plain = fact.join(dim, "k")
    val auto = Relational.skewJoin(fact, dim, "k", salts = 8)
    assert(auto.count() == plain.count(), "skewJoin changed cardinality")
    assert(auto.exceptAll(plain).isEmpty && plain.exceptAll(auto).isEmpty,
      "skewJoin diverged from the plain join")
    // the hot key was detected: the auto plan is the two-slice union
    assert(auto.queryExecution.optimizedPlan.toString.contains("Union"),
      "auto path did not split the hot slice")
    // uniform keys: no hot key → the plain single-join plan untouched
    val uni = spark.range(20000).select((col("id") % 500L).as("k"),
      col("id").as("v"))
    val autoUni = Relational.skewJoin(uni, dim, "k", salts = 8)
    assert(!autoUni.queryExecution.optimizedPlan.toString.contains("Union"),
      "uniform keys should not trigger salting")
    assert(autoUni.exceptAll(uni.join(dim, "k")).isEmpty,
      "uniform-path result diverged")
    // null fact keys drop on both paths (inner-join semantics)
    val withNull = fact.unionByName(spark.range(1).select(
      lit(null).cast("long").as("k"), lit(0L).as("v")))
    assert(Relational.skewJoin(withNull, dim, "k", salts = 8).count()
      == plain.count(), "null keys must drop exactly like inner join")
  }

  test("skewJoin hot-key collect is contract-bounded, not data-sized") {
    import org.apache.spark.sql.functions._
    // HIGH-CARDINALITY uniform key: 50k rows over ~50k distinct keys.
    // The r9 defect collected one row per distinct SAMPLED key (here
    // ~25k rows at sampleFrac=0.5) and filtered driver-side; the fix
    // filters in-plan, so the frame the driver collects can never
    // exceed ⌊1/hotShare⌋ rows — on uniform data it is EMPTY.
    val uni = spark.range(50000).select(col("id").as("k"),
      (col("id") % 7).as("v"))
    val candidates = Relational.hotKeyFrame(uni, "k",
      hotShare = 0.05, sampleFrac = 0.5)
    assert(candidates.count() == 0,
      "uniform high-cardinality keys must yield zero hot candidates")
    // skewed data: the collected frame holds the hot key(s) and stays
    // within the 1/hotShare bound even though 500 keys were sampled
    val fact = spark.range(20000).select(
      when(col("id") % 2 === 0, 0L).otherwise(col("id") % 500L).as("k"))
    val hot = Relational.hotKeyFrame(fact, "k",
      hotShare = 0.05, sampleFrac = 0.5).collect()
    assert(hot.length <= 20, s"collect exceeded 1/hotShare: ${hot.length}")
    assert(hot.map(_.getLong(0)).contains(0L), "missed the hot key")
    // empty input: no candidates (the NULL-total guard)
    val empty = spark.range(0).select(col("id").as("k"))
    assert(Relational.hotKeyFrame(empty, "k", 0.05, 0.5).count() == 0)
  }

  test("upsert laws: idempotent; empty changes = all-keep (#42c)") {
    val base = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "bal")
    val ch = Seq((2L, 99.0), (3L, 30.0)).toDF("k", "bal")
    val once = Relational.upsert(base, ch, Seq("k"))
    // applying the same changes to the merged state changes no values,
    // only flips keep→update where the key is present in changes
    val twice = Relational.upsert(once.drop("action"), ch, Seq("k"))
    assert(once.drop("action").orderBy("k").collect().toSeq ==
      twice.drop("action").orderBy("k").collect().toSeq)
    val noop = Relational.upsert(base, ch.limit(0), Seq("k"))
    assert(noop.where(col("action") =!= "keep").count() == 0 &&
      noop.count() == 2)
  }

  test("scd2 reconstruction law: current versions == upsert of latest changes (#42d)") {
    val rnd = new scala.util.Random(3)
    val ch = (0 until 200).map { i =>
      (rnd.nextInt(8).toLong, i.toLong, i.toLong, rnd.nextInt(4).toDouble)
    }.toDF("k", "t", "seq", "v")
    val current = Relational.scd2(ch, Seq("k"), Seq("t", "seq"), "v")
      .where(col("is_current"))
      .select(col("k"), col("v")).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // independent route: last value per key under the same total order
    val w = Window.partitionBy("k").orderBy(col("t").desc, col("seq").desc)
    val latest = ch.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1).select(col("k"), col("v")).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(current.toSeq == latest.toSeq)
    // exactly one current version per key
    assert(current.map(_._1).distinct.length == current.length)
  }

  test("scd2Merge: any chunking == one-shot scd2, incl. null values (#42e)") {
    val rnd = new scala.util.Random(11)
    // random changelog: 8 keys, ~60 rows, values drawn from a tiny
    // domain INCLUDING null so no-change runs and null↔x transitions
    // land on chunk boundaries
    val rows = (0 until 60).map { i =>
      val v: java.lang.Double =
        rnd.nextInt(4) match { case 0 => null; case d => d.toDouble }
      (rnd.nextInt(8).toLong, i.toLong * 10, i.toLong, v)
    }
    val ch = rows.toDF("user_id", "tsec", "event_id", "value")
    val key = Seq("user_id"); val ord = Seq("tsec", "event_id")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("user_id", "version", "value", "valid_from", "valid_to",
        "is_current")
      .orderBy("user_id", "version").collect().map(_.toSeq).toSeq
    val oneShot = canon(Relational.scd2(ch, key, ord, "value"))
    for (_ <- 1 to 5) {
      // random ascending time cuts → 2..5 chunks (empty chunks legal)
      val cuts = (600L +: Seq.fill(rnd.nextInt(4) + 1)(
        rnd.nextInt(60).toLong * 10)).distinct.sorted
      var hist = Relational.scd2(
        ch.where(col("tsec") < cuts.head), key, ord, "value")
      var prev = cuts.head
      for (c <- cuts.tail :+ Long.MaxValue) {
        hist = Relational.scd2Merge(hist,
          ch.where(col("tsec") >= prev && col("tsec") < c),
          key, ord, "value")
        prev = c
      }
      assert(canon(hist) == oneShot,
        s"chunked scd2Merge diverged for cuts $cuts")
    }
  }

  test("zorder: bijective on the masked domain; per-dimension monotone (#55h)") {
    val rnd = new scala.util.Random(5)
    val pts = Seq.fill(4000)((rnd.nextInt(1 << 12).toLong,
      rnd.nextInt(1 << 12).toLong)).distinct
    val zs = pts.toDF("x", "y")
      .withColumn("z", graft.functions.ZOrder.zval(col("x"), col("y"), 12))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
    // injective: distinct inputs → distinct keys (it's a bit interleave)
    assert(zs.map(_._2).distinct.length == pts.length)
    // monotone per dimension: growing x with y fixed grows z
    zs.groupBy(_._1._2).foreach { case (_, g) =>
      val sorted = g.sortBy(_._1._1)
      assert(sorted.map(_._2).toSeq == sorted.map(_._2).sorted.toSeq)
    }
  }

  test("intervalJoin == brute overlap join; exactly-once emission (#55i)") {
    val rnd = new scala.util.Random(7)
    val left = (1 to 300).map { i =>
      val lo = rnd.nextInt(1000)
      (i.toLong, lo.toLong, (lo + rnd.nextInt(60)).toLong)
    }.toDF("lid", "a_lo", "a_hi")
    val right = (1 to 120).map { j =>
      val lo = rnd.nextInt(1000)
      (j.toLong, lo.toLong, (lo + rnd.nextInt(200)).toLong)
    }.toDF("rid", "b_lo", "b_hi")
    val want = left.join(right,
        col("a_lo") <= col("b_hi") && col("b_lo") <= col("a_hi"))
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(want.nonEmpty, "degenerate brute reference")
    // bin smaller / comparable / larger than the spans: answer and
    // multiplicity must be invariant to the bucketing choice
    for (bin <- Seq(1L, 7L, 64L, 5000L)) {
      val rows = Relational.intervalJoin(left, right,
          "a_lo", "a_hi", "b_lo", "b_hi", bin)
        .select("lid", "rid").as[(Long, Long)].collect().toSeq
      assert(rows.size == rows.toSet.size,
        s"bin=$bin emitted duplicates — first-shared-bucket rule broken")
      assert(rows.toSet == want, s"bin=$bin wrong pair set")
    }
  }

  test("kcore: peeling == brute-force iterative deletion on random graphs (#57j)") {
    val rnd = new scala.util.Random(13)
    for (trial <- 0 until 3) {
      val n = 40
      val es = for {
        a <- 0 until n; b <- (a + 1) until n
        if rnd.nextInt(100) < 7 + trial * 5
      } yield (a.toLong, b.toLong)
      val got = Relational.kcore(es.toDF("x", "y"), "x", "y",
          k = 2, rounds = 12)
        .collect().map(_.getLong(0)).toSet
      // brute force: delete degree-<2 nodes until stable
      var edges = es.toSet
      var stable = false
      while (!stable) {
        val deg = edges.toSeq.flatMap(e => Seq(e._1, e._2))
          .groupBy(identity).map { case (v, vs) => v -> vs.size }
        val keep = deg.filter(_._2 >= 2).keySet
        val next = edges.filter(e => keep(e._1) && keep(e._2))
        stable = next == edges
        edges = next
      }
      val brute = edges.flatMap(e => Seq(e._1, e._2))
      assert(got == brute, s"trial $trial: ${got.size} vs ${brute.size}")
    }
  }

  test("kcore: the 8-round contract reaches the fixpoint at sf0.001 (#57j)") {
    val pairs = graft.dedup.Dedup.jaccardJoin(
      graft.tables.Tables(spark, "/root/testdata/sf0.001").documents, 0.8)
    val (r8, r9) = scala.util.Using.resource(
        graft.core.Pin(pairs.select("doc_a", "doc_b"))) { e =>
      (Relational.kcore(e.df, "doc_a", "doc_b", 2, 8)
        .collect().map(_.getLong(0)).toSet,
       Relational.kcore(e.df, "doc_a", "doc_b", 2, 9)
        .collect().map(_.getLong(0)).toSet)
    }
    assert(r8.nonEmpty && r8 == r9)
  }

  test("triangles: degree-oriented listing == brute force on random graphs (#57h)") {
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 3) {
      val n = 30
      val es = (for {
        a <- 0 until n; b <- (a + 1) until n
        if rnd.nextInt(100) < 12 + trial * 8
      } yield (a.toLong, b.toLong)) ++ Seq((5L, 5L)) // self-loop dropped
      // feed some edges reversed + duplicated: normalization contract
      val fed = es.map { case (a, b) =>
        if (rnd.nextBoolean()) (b, a) else (a, b)
      } ++ es.take(3)
      val got = Relational.triangles(fed.toDF("x", "y"), "x", "y")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      val undirected = es.filter(e => e._1 != e._2).toSet
      def has(a: Long, b: Long) = undirected.contains((a min b, a max b))
      val brute = (for {
        a <- 0L until n.toLong; b <- (a + 1) until n.toLong
        c <- (b + 1) until n.toLong
        if has(a, b) && has(b, c) && has(a, c)
      } yield (a, b, c)).toSet
      assert(got == brute, s"trial $trial: ${got.size} vs ${brute.size}")
    }
  }

  test("coalesceIntervals == brute transitive-overlap merge; touching merges (#53f)") {
    val rnd = new scala.util.Random(11)
    for (trial <- 0 until 3) {
      val rows = (0 until 120).map { i =>
        val k = rnd.nextInt(4).toLong
        val lo = rnd.nextInt(50).toLong
        (k, lo, lo + 1 + rnd.nextInt(8), i.toLong)
      }
      val got = Relational.coalesceIntervals(
          rows.toDF("k", "lo", "hi", "id"), Seq("k"), "lo", "hi",
          tiebreak = Seq("id"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      // brute: per key, sort by lo and sweep, merging when lo <= running hi
      // (touching intervals merge: island breaks only on a strict gap)
      val brute = rows.groupBy(_._1).flatMap { case (k, rs) =>
        val sorted = rs.sortBy(r => (r._2, r._3, r._4))
        val islands = sorted.foldLeft(List.empty[(Long, Long, Long)]) {
          case (acc, (_, lo, hi, _)) => acc match {
            case (ilo, ihi, n) :: rest if lo <= ihi =>
              (ilo, ihi max hi, n + 1) :: rest
            case _ => (lo, hi, 1L) :: acc
          }
        }
        islands.map { case (lo, hi, n) => (k, lo, hi, n) }
      }.toSet
      assert(got == brute, s"trial $trial: ${got.size} vs ${brute.size}")
    }
    // handcrafted edges: touching [0,5)+[5,9) merge; containment absorbs
    val hand = Seq((1L, 0L, 5L, 1L), (1L, 5L, 9L, 2L), (1L, 1L, 3L, 3L),
      (1L, 20L, 30L, 4L), (1L, 22L, 25L, 5L))
      .toDF("k", "lo", "hi", "id")
    val got = Relational.coalesceIntervals(hand, Seq("k"), "lo", "hi",
        tiebreak = Seq("id"))
      .orderBy("island_lo")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((0L, 9L, 3L), (20L, 30L, 2L)))
  }

  test("ntileExact == built-in ntile incl. remainder and n<k cases (#38m)") {
    val rnd = new scala.util.Random(31)
    // 1003 % 10 = 3 exercises the remainder rule; 7 rows < k=10
    // exercises the q=0 branch
    for ((n, k) <- Seq((1003, 10), (1000, 7), (7, 10), (64, 64))) {
      val rows = (0 until n).map(i => (rnd.nextInt(50).toLong, i.toLong))
      val df = rows.toDF("v", "id")
      val got = Relational.ntileExact(df, Seq("v", "id"), k, partitions = 5)
        .select("v", "id", "bucket")
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
        .toMap
      val want = df.withColumn("b", ntile(k).over(
          Window.orderBy(col("v"), col("id"))).cast("long"))
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
        .toMap
      assert(got == want, s"n=$n k=$k")
    }
  }

  test("hierarchy: forest roots, depth/path accumulation, orphans and cycles dropped (#55r)") {
    // forest: two roots (1, 2); chain 1<-10<-100; 2<-20; orphan 30
    // points at missing 99; cycle 40<->41 never resolves
    val nodes = Seq(
      (1L, None, 5L), (2L, None, 7L),
      (10L, Some(1L), 11L), (100L, Some(10L), 13L),
      (20L, Some(2L), 17L),
      (30L, Some(99L), 19L),
      (40L, Some(41L), 23L), (41L, Some(40L), 29L))
      .toDF("id", "pid", "w")
    val got = Relational.hierarchy(nodes, "id", "pid", "w", maxDepth = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got == Set(
      (1L, 0L, 1L, 5L), (2L, 0L, 2L, 7L),
      (10L, 1L, 1L, 16L), (100L, 2L, 1L, 29L),
      (20L, 1L, 2L, 24L)))
    // maxDepth boundary: a chain of depth exactly maxDepth resolves;
    // one deeper is dropped (the cycle-bound contract)
    val chain = (0L to 5L).map(i =>
      (i, if (i == 0) None else Some(i - 1), 1L)).toDF("id", "pid", "w")
    val d4 = Relational.hierarchy(chain, "id", "pid", "w", maxDepth = 4)
      .collect().map(_.getLong(0)).toSet
    assert(d4 == Set(0L, 1L, 2L, 3L, 4L)) // node 5 needs 5 steps
    val d5 = Relational.hierarchy(chain, "id", "pid", "w", maxDepth = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(d5(5L) == 5L && d5.size == 6)
  }

  test("gridJoin == brute radius pairs incl. boundary dist and negatives (#55q)") {
    val rnd = new scala.util.Random(23)
    val r = 10L
    // negative coords exercise the exact floor-division cell math;
    // planted pair at EXACTLY distance r (boundary inclusive) and one
    // just past it
    val pts = (0 until 200).map { i =>
      (i.toLong, (rnd.nextInt(200) - 100).toLong,
        (rnd.nextInt(200) - 100).toLong)
    } ++ Seq((200L, 500L, 500L), (201L, 506L, 508L), // dist2=100 == r²
             (202L, 500L, 511L))                     // dist2=121 > r²
    val got = Relational.gridJoin(pts.toDF("id", "x", "y"),
        "id", "x", "y", radius = r)
      .collect().map(rr => (rr.getLong(0), rr.getLong(1), rr.getLong(2)))
      .toSet
    val brute = (for {
      a <- pts; b <- pts if a._1 < b._1
      d2 = (a._2 - b._2) * (a._2 - b._2) + (a._3 - b._3) * (a._3 - b._3)
      if d2 <= r * r
    } yield (a._1, b._1, d2)).toSet
    assert(got == brute, s"${got.size} vs ${brute.size}")
    assert(brute.contains((200L, 201L, 100L)) &&
      !brute.exists(p => p._1 == 200L && p._2 == 202L))
    // the 100 TB claim: the grid rewrite must plan as a hash equi-join
    val plan = Relational.gridJoin(pts.toDF("id", "x", "y"),
      "id", "x", "y", radius = r).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"),
      s"gridJoin plan contains a cartesian:\n$plan")
  }

  test("gridJoin: complete across radii and cell geometries (#55q)") {
    // radius 1 (every neighbor cell-adjacent), a radius bigger than
    // the point cloud (all pairs), and a mid radius; plus a
    // co-located cluster (one cell holds many points)
    val rnd = new scala.util.Random(41)
    val pts = (0 until 80).map { i =>
      (i.toLong, (rnd.nextInt(60) - 30).toLong, (rnd.nextInt(60) - 30).toLong)
    } ++ (80 until 90).map(i => (i.toLong, 7L, -3L)) // co-located
    for (r <- Seq(1L, 9L, 200L)) {
      val got = Relational.gridJoin(pts.toDF("id", "x", "y"),
          "id", "x", "y", radius = r)
        .collect().map(rr => (rr.getLong(0), rr.getLong(1))).toSet
      val brute = (for {
        a <- pts; b <- pts if a._1 < b._1
        d2 = (a._2 - b._2) * (a._2 - b._2) + (a._3 - b._3) * (a._3 - b._3)
        if d2 <= r * r
      } yield (a._1, b._1)).toSet
      assert(got == brute, s"radius $r: ${got.size} vs ${brute.size}")
    }
  }
}
