package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.text.TextFunctions

/** Dedup family on planted near-duplicates (SURVEY §2.5 #56–59). */
class DedupSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"

  private def docs = {
    import spark.implicits._
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again", "en"),
      (1L, "the quick brown fox jumps over the lazy dog again and again!", "en"), // near-dup of 0
      (2L, "completely different text about spark catalyst optimizer rules here", "en"),
      (3L, "THE  quick   brown fox jumps over the lazy dog again and again", "en"), // exact dup of 0 after norm? (punct diff vs 1)
      (4L, "unrelated short words salad table window merge join filter scan", "en")
    ).toDF("doc_id", "text", "lang")
  }

  test("exact dedup: normalization collapses case/whitespace variants") {
    val fps = docs.select(col("doc_id"),
      TextFunctions.fingerprint(col("text")).as("fp"))
    val groups = fps.groupBy("fp").agg(min("doc_id").as("keep"),
      count(lit(1)).as("n")).where(col("n") > 1)
      .select("keep", "n").collect()
    assert(groups.length == 1 && groups(0).getLong(0) == 0L
      && groups(0).getLong(1) == 2L) // docs 0 and 3 collapse
  }

  test("minhash LSH finds the planted near-dup pair and nothing else") {
    val pairs = Dedup.minhashPairs(docs, k = 64, bands = 16, tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 3L)) && pairs.contains((1L, 3L)))
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("simhash: near-dups at small hamming distance, strangers far") {
    val sh = Dedup.simhashed(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def dist(a: Long, b: Long) = java.lang.Long.bitCount(sh(a) ^ sh(b))
    assert(dist(0L, 3L) == 0)               // identical token multisets
    // one-token diff on a tiny doc is noisy, but still closer than a
    // completely unrelated doc
    assert(dist(0L, 1L) < dist(0L, 2L))
    assert(dist(0L, 2L) > 10)               // unrelated
  }

  test("jaccardJoin: complete vs a quadratic reference on random dup-heavy docs") {
    import spark.implicits._
    // 120 docs: 40 bases, each with 2 mutated copies whose J spans the
    // 0.8 boundary — boundary pairs are exactly where a banding scheme
    // could miss and the prefix filter must not
    val rnd = new scala.util.Random(11)
    val vocab = (0 until 300).map(i => s"w$i")
    def doc(words: Seq[String]) = words.mkString(" ")
    val rows = (0 until 40).flatMap { b =>
      val base = Seq.fill(25 + rnd.nextInt(15))(vocab(rnd.nextInt(vocab.size)))
      (0 until 3).map { c =>
        val mut = base.map(w =>
          if (rnd.nextInt(100) < c * 4) vocab(rnd.nextInt(vocab.size)) else w)
        ((b * 3 + c).toLong, doc(mut))
      }
    }
    val df = rows.toDF("doc_id", "text")
    val got = Dedup.jaccardJoin(df, 0.8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // quadratic reference: distinct 3-gram shingle sets in plain Scala
    def sh(t: String): Set[String] = {
      val tk = t.toLowerCase.split("\\s+").filter(_.nonEmpty)
      if (tk.length < 3) Set.empty
      else tk.sliding(3).map(_.mkString(" ")).toSet
    }
    val sets = rows.map { case (id, t) => id -> sh(t) }.filter(_._2.nonEmpty)
    val want = (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
      inter = (sa & sb).size
      j = inter.toDouble / (sa.size + sb.size - inter)
      if j >= 0.8
    } yield (ia, ib) -> j).toMap
    assert(got.keySet == want.keySet,
      s"missed=${want.keySet -- got.keySet} extra=${got.keySet -- want.keySet}")
    want.foreach { case (k, j) => assert(math.abs(got(k) - j) < 1e-12) }
    assert(want.nonEmpty, "reference produced no pairs — test data broken")
  }

  test("incrementalPairs == full minhashPairs restricted to batch-touching pairs") {
    import spark.implicits._
    // same dup-heavy generator as the jaccardJoin spec: 40 bases x 3
    // mutated copies, so plenty of pairs fall corpus-corpus (must NOT
    // appear), corpus-batch and batch-batch (must appear exactly)
    val rnd = new scala.util.Random(31)
    val vocab = (0 until 300).map(i => s"w$i")
    val rows = (0 until 40).flatMap { b =>
      val base = Seq.fill(25 + rnd.nextInt(15))(vocab(rnd.nextInt(vocab.size)))
      (0 until 3).map { c =>
        val mut = base.map(w =>
          if (rnd.nextInt(100) < c * 4) vocab(rnd.nextInt(vocab.size)) else w)
        ((b * 3 + c).toLong, mut.mkString(" "))
      }
    }
    val df = rows.toDF("doc_id", "text")
    val cut = 96L // newest 20% of 120 docs = the batch
    val full = Dedup.minhashPairs(df)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    val want = full.filter { case ((a, b), _) => a >= cut || b >= cut }
    val idx = Dedup.minhashIndex(df.where(col("doc_id") < cut))
    val got = Dedup.incrementalPairs(idx, df.where(col("doc_id") >= cut))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    assert(got.keySet == want.keySet,
      s"missed=${want.keySet -- got.keySet} extra=${got.keySet -- want.keySet}")
    want.foreach { case (k, j) => assert(got(k) == j) }
    assert(want.nonEmpty && full.size > want.size,
      "generator must yield both corpus-corpus and batch-touching pairs")
  }

  test("containmentJoin: complete vs a quadratic reference incl. boundary pairs") {
    import spark.implicits._
    // eval docs are SUBSTRINGS and mutations of corpus docs, so
    // containment spans the 0.6 boundary from both sides — the regime
    // where the eval-side prefix filter must not miss (Jaccard for a
    // short quote in a long doc is far below any dedup threshold, which
    // is the whole point of the asymmetric metric)
    val rnd = new scala.util.Random(23)
    val vocab = (0 until 250).map(i => s"w$i")
    val corpus = (0 until 30).map { i =>
      (100L + i, Seq.fill(40 + rnd.nextInt(20))(
        vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val evals = (0 until 30).map { i =>
      val src = corpus(rnd.nextInt(corpus.size))._2.split(" ")
      val from = rnd.nextInt(math.max(1, src.length - 12))
      val quote = src.slice(from, from + 8 + rnd.nextInt(8))
      // mutate 0–3 tokens: containment of the quote drifts across 0.6
      val mut = quote.map(w => if (rnd.nextInt(100) < 12)
        vocab(rnd.nextInt(vocab.size)) else w)
      (i.toLong, mut.mkString(" "))
    }
    val got = Dedup.containmentJoin(
        evals.toDF("doc_id", "text"), corpus.toDF("doc_id", "text"), 0.6)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    def sh(t: String): Set[String] = {
      val tk = t.toLowerCase.split("\\s+").filter(_.nonEmpty)
      if (tk.length < 3) Set.empty else tk.sliding(3).map(_.mkString(" ")).toSet
    }
    val es = evals.map { case (id, t) => id -> sh(t) }.filter(_._2.nonEmpty)
    val cs = corpus.map { case (id, t) => id -> sh(t) }.filter(_._2.nonEmpty)
    val want = (for {
      (ie, se) <- es; (ic, sc) <- cs
      c = (se & sc).size.toDouble / se.size
      if c >= 0.6
    } yield (ie, ic) -> c).toMap
    assert(got.keySet == want.keySet,
      s"missed=${want.keySet -- got.keySet} extra=${got.keySet -- want.keySet}")
    want.foreach { case (k, c) => assert(math.abs(got(k) - c) < 1e-12) }
    assert(want.nonEmpty, "reference produced no pairs — test data broken")
  }

  test("substringDedup: equals brute-force span removal incl. full-cover and short docs") {
    import spark.implicits._
    val k = 4
    val license = "licensed under the apache license version two point zero"
    val docs = Seq(
      0L -> s"alpha beta gamma delta $license epsilon zeta",
      1L -> s"one two three four five $license",
      2L -> license,                       // fully covered -> ""
      3L -> "unique words nowhere else repeated in this corpus at all",
      4L -> "tiny doc",                    // shorter than k -> untouched
      5L -> s"$license prefix shared then diverging tail here")
    val got = Dedup.substringDedup(docs.toDF("doc_id", "text"), k)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // brute force: same tokenization, gram -> distinct docs, cover, strip
    val toks = docs.map { case (id, t) =>
      id -> t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq }.toMap
    val gramDocs = toks.toSeq.flatMap { case (id, tk) =>
      if (tk.length < k) Seq.empty
      else tk.sliding(k).map(_.mkString(" ")).toSeq.distinct.map(_ -> id)
    }.groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2).distinct.size }
    docs.foreach { case (id, _) =>
      val tk = toks(id)
      val covered = (0 to tk.length - k).flatMap { i =>
        val g = tk.slice(i, i + k).mkString(" ")
        if (tk.length >= k && gramDocs.getOrElse(g, 0) > 1) i until i + k
        else Seq.empty
      }.toSet
      val clean = tk.zipWithIndex.collect {
        case (w, i) if !covered(i) => w }.mkString(" ")
      assert(got(id) == ((tk.length.toLong, covered.size.toLong, clean)),
        s"doc $id: got ${got(id)}, want (${tk.length}, ${covered.size}, '$clean')")
    }
    assert(got(2L)._3 == "" && got(4L)._2 == 0L)
  }

  test("ngram jaccard: hand-checked value") {
    import spark.implicits._
    val two = Seq(
      (0L, "a b c d", "en"),   // shingles: {a b c, b c d}
      (1L, "a b c e", "en")    // shingles: {a b c, b c e} → J = 1/3
    ).toDF("doc_id", "text", "lang")
    val got = Dedup.ngramJaccardPairs(two, "lang", 0.0)
      .select("j").as[Double].collect()
    assert(got.length == 1 && math.abs(got(0) - 1.0 / 3.0) < 1e-15)
  }

  test("jaccard_est: estimates concentrate around exact J (sf0.001)") {
    // k=16 portable minhash: sd of J-hat is sqrt(J(1-J)/16), which is
    // <= 0.125 only at the J=0.5 worst case; the graded pairs all have
    // J >= 0.8 where sd <= sqrt(0.8*0.2/16) = 0.1, so 0.35 is a 3.5-sd
    // band there (deterministic on the fixed data) — assert that, PLUS
    // the tighter mean-level property
    // that the average error across pairs is well inside one sd
    val rows = graft.ops.Queries.qJaccardEst(spark, sf)
      .collect().map(r => (r.getDouble(2), r.getDouble(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (j, est) =>
      assert(math.abs(est - j) <= 0.35, s"estimate $est too far from $j") }
    val meanAbs = rows.map { case (j, e) => math.abs(e - j) }.sum / rows.size
    assert(meanAbs <= 0.125, s"mean |err| $meanAbs exceeds one sd")
  }

  test("jaccardBandingFor: recall >= 0.999 at tau, sharpest rows wins") {
    def recallAt(tau: Double, bands: Int, rows: Int): Double =
      1.0 - math.pow(1.0 - math.pow(tau, rows), bands)
    for (tau <- Seq(0.3, 0.5, 0.8, 0.95)) {
      val (bands, rows) = Dedup.jaccardBandingFor(tau)
      assert(bands * rows == 64)
      assert(recallAt(tau, bands, rows) >= 0.999,
        s"tau=$tau got ($bands,$rows)")
      // no sharper (larger-rows) config would also meet the recall bar
      for (r2 <- Seq(32, 16, 8, 4, 2) if r2 > rows)
        assert(recallAt(tau, 64 / r2, r2) < 0.999)
    }
    assert(Dedup.jaccardBandingFor(0.5) == (32, 2)) // the decontam point
  }

  test("decontamPrefiltered == exact broadcast scan on planted overlap") {
    import spark.implicits._
    // train doc 10 is contaminated by eval doc 100 (J well above 0.5);
    // train 11 shares a little with eval (J ~ 0.14, below threshold);
    // train 12 is disjoint; train 13 is too short to shingle (kept)
    val train = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (11L, "alpha beta gamma unrelated words fill this document nicely ok"),
      (12L, "spark catalyst tungsten codegen shuffle partition broadcast join"),
      (13L, "too short")
    ).toDF("doc_id", "text")
    val eval = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (101L, "other benchmark content entirely distinct from any train doc")
    ).toDF("doc_id", "text")
    val got = Dedup.decontamPrefiltered(train, eval, tau = 0.5)
      .select("doc_id", "max_j_hit", "kept").collect()
      .map(r => r.getLong(0) ->
        (Option(r.get(1)).map(_.asInstanceOf[Double]), r.getBoolean(2)))
      .toMap
    // exact check for doc 10: 8 shared of (8+8-6... compute directly:
    // both have 8 shingles; 7 shared (positions 1..7 of 8 identical,
    // last shingle differs) → J = 7 / (8 + 8 - 7) = 7/9
    assert(got(10L)._2 == false)
    assert(math.abs(got(10L)._1.get - 7.0 / 9.0) < 1e-15)
    assert(got(11L) == (None, true) && got(12L) == (None, true))
    assert(got(13L) == (None, true))
  }

  test("components: closed graph with chain, triangle and singleton-free") {
    import spark.implicits._
    // two components: a 4-node chain 1-2-3-4 (diameter 3 — forces
    // multi-round propagation) and a triangle 10-11-12; node 20 has no
    // pair and must be absent
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (11L, 12L), (10L, 12L)).toDF("doc_a", "doc_b")
    val got = Dedup.components(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("components: every minhash pair lands in one component (sf0.001)") {
    val pairs = Dedup.minhashPairs(
      graft.tables.Tables(spark, sf).documents)
    // over pre-pinned pairs the driver path runs two jobs: the edge pin
    // and the collect
    val pinned = graft.core.Pin(pairs).df
    val (rows, jobs) = SparkJobs.jobsOf(spark)(
      Dedup.components(pinned).collect())
    assert(jobs <= 2, s"components ran $jobs jobs")
    val comp = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ps = pinned.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(ps.nonEmpty)
    // pair members share a component, and the label is the component min
    for ((a, b) <- ps) assert(comp(a) == comp(b))
    for ((id, c) <- comp) assert(c <= id && comp(c) == c)
  }

  /** `body` with the Fixpoint path forced: no broadcast threshold. */
  private def noBroadcast[T](body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try body
    finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** A seeded graph of `shape` as (doc_a, doc_b) pairs over node ids
    * scattered in [0, 10^6): chains of diameter < 24, stars or
    * disjoint triangles, several components each. */
  private def graph(shape: String, seed: Long) = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val ids = rnd.shuffle((0L until 1000000L by 997L).toVector)
    var next = 0
    def fresh(k: Int) = { val v = ids.slice(next, next + k); next += k; v }
    val pairs = (1 to 2 + rnd.nextInt(4)).flatMap { _ =>
      shape match {
        case "chain" =>
          val v = fresh(2 + rnd.nextInt(23)); v.zip(v.tail)
        case "star" =>
          val v = fresh(2 + rnd.nextInt(12)); v.tail.map(v.head -> _)
        case "triangle" =>
          val v = fresh(3); Seq(v(0) -> v(1), v(1) -> v(2), v(0) -> v(2))
      }
    }
    pairs.map { case (a, b) => if (rnd.nextBoolean()) (a, b) else (b, a) }
      .toDF("doc_a", "doc_b")
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

  test("components: the driver path and the Fixpoint path agree") {
    for (shape <- Seq("chain", "star", "triangle"); seed <- 1L to 3L) {
      val pairs = graph(shape, seed)
      val driver = Dedup.components(pairs)
      val fix = noBroadcast(Dedup.components(pairs))
      assert(driver.queryExecution.analyzed.isInstanceOf[LocalRelation],
        s"$shape/$seed did not take the driver path")
      assert(driver.schema == fix.schema, s"$shape/$seed")
      assert(sortedRows(driver) == sortedRows(fix), s"$shape/$seed")
    }
    // 60-bit hash ids: their label sums overflow a long
    val mixed = Seq("chain", "star", "triangle").map(graph(_, 7L))
      .reduce(_ unionByName _)
    val hashed = mixed.select(
      Dedup.md5Hash60(col("doc_a").cast("string"), lit("cc")).as("doc_a"),
      Dedup.md5Hash60(col("doc_b").cast("string"), lit("cc")).as("doc_b"))
    val driver = Dedup.components(hashed)
    val fix = noBroadcast(Dedup.components(hashed))
    assert(driver.schema == fix.schema)
    assert(sortedRows(driver) == sortedRows(fix))
    assert(sortedRows(driver).exists(_._2 > (1L << 40)))
    // a null id keeps a null label and links nothing, on both paths
    import spark.implicits._
    val withNull = Seq[(Option[Long], Option[Long])]((Some(1L), Some(2L)),
      (Some(2L), None), (None, Some(5L)), (Some(5L), Some(6L)))
      .toDF("doc_a", "doc_b")
    def labels(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (Option(r.get(0)), Option(r.get(1)))).toSet
    assert(labels(Dedup.components(withNull)) == Set(
      (Some(1L), Some(1L)), (Some(2L), Some(1L)), (Some(5L), Some(5L)),
      (Some(6L), Some(5L)), (None, None)))
    assert(labels(Dedup.components(withNull)) ==
      labels(noBroadcast(Dedup.components(withNull))))
  }

  test("components: a chain of diameter 30 is exact on the driver, " +
       "and raises past maxIter on the Fixpoint path") {
    import spark.implicits._
    val chain = (0L until 30L).map(i => (i * 7 + 3, i * 7 + 10))
      .toDF("doc_a", "doc_b")
    val got = Dedup.components(chain, maxIter = 24).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L to 30L).map(i => (i * 7 + 3) -> 3L).toMap)
    val e = intercept[IllegalStateException](
      noBroadcast(Dedup.components(chain, maxIter = 24)))
    assert(e.getMessage.contains("no convergence"))
  }

  /** (doc_a, doc_b, raw bits of j), sorted: bit-identical `j` or bust. */
  private def pairBits(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (Option(r.get(0)), Option(r.get(1)),
      java.lang.Double.doubleToRawLongBits(r.getDouble(2)))).toSeq
      .sortBy(t => (t._1.map(_.toString), t._2.map(_.toString), t._3))

  private def isLocal(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.analyzed.isInstanceOf[LocalRelation]

  test("minhashPairs: the driver path and the distributed path agree " +
       "bit for bit") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val vocab = (0 until 300).map(i => s"w$i")
    val dupHeavy = (0 until 40).flatMap { b =>
      val base = Seq.fill(25 + rnd.nextInt(15))(vocab(rnd.nextInt(vocab.size)))
      (0 until 3).map { c =>
        val mut = base.map(w =>
          if (rnd.nextInt(100) < c * 4) vocab(rnd.nextInt(vocab.size)) else w)
        (Option((b * 3 + c).toLong), mut.mkString(" "))
      }
    }
    val inputs = Seq(
      "sf0.001" -> graft.tables.Tables(spark, sf).documents,
      "dup-heavy" -> dupHeavy.toDF("doc_id", "text"),
      // two docs under 3 tokens, a null id beside its own duplicate, and
      // a repeated id whose second text is another doc's near-dup
      "short+null" -> (dupHeavy.take(6) ++ Seq(
        (Option(900L), "two words"), (Option(901L), "one"),
        (None, dupHeavy.head._2), (Option(2L), dupHeavy(4)._2)))
        .toDF("doc_id", "text"),
      "empty" -> dupHeavy.take(0).toDF("doc_id", "text"))
    for ((name, docs) <- inputs) {
      val driver = Dedup.minhashPairs(docs)
      val dist = noBroadcast(Dedup.minhashPairs(docs))
      assert(isLocal(driver), s"$name did not take the driver path")
      assert(!isLocal(dist), s"$name: threshold -1 must stay distributed")
      assert(driver.schema == dist.schema, name)
      assert(pairBits(driver) == pairBits(dist), name)
      if (name != "empty") assert(pairBits(driver).nonEmpty, name)
    }
    // the pinned buckets are the per-band lambda's values, bit for bit
    val sfDocs = inputs.head._2
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sorted.toSeq
    val lambdaForm = Dedup.shingled(sfDocs).select(col("doc_id"), explode(expr(
      """transform(sequence(0, 15), b -> named_struct('band', b,
        |  'bucket', hash(b, slice(minhash_sig(sh), b * 4 + 1, 4))))"""
        .stripMargin)).as("x")).select("doc_id", "x.band", "x.bucket")
    assert(rows(Dedup.minhashIndex(sfDocs).buckets) == rows(lambdaForm))
  }

  test("minhashPairs: heavy buckets fall back to the distributed path") {
    import spark.implicits._
    // 200 identical docs: every band holds one bucket of 200, so
    // 16 x C(200, 2) = 318,400 candidates (5.1 MB at 16 B each) against
    // a 1 MB threshold that the pin itself fits easily
    val docs = (0L until 200L).map(i => (i, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, (1L << 20).toString)
    val heavy = try Dedup.minhashPairs(docs)
      finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(!isLocal(heavy), "heavy buckets must not be enumerated")
    val want = noBroadcast(pairBits(Dedup.minhashPairs(docs)))
    assert(pairBits(heavy) == want && want.size == 200 * 199 / 2)
  }

  test("components(minhashPairs(sf0.001)) runs at most 3 jobs") {
    val docs = graft.tables.Tables(spark, sf).documents
    docs.schema: Unit
    // the signature pin (its shuffle and its checkpoint) and its collect;
    // the pairs and their labels are then found with no further job
    val (rows, jobs) = SparkJobs.jobsOf(spark)(
      Dedup.components(Dedup.minhashPairs(docs)).collect())
    assert(jobs <= 3, s"ran $jobs jobs")
    assert(rows.nonEmpty)
  }

  test("pageRank matches a driver-local reference on the sf0.001 graph") {
    val pairs = Dedup.jaccardJoin(
      graft.tables.Tables(spark, sf).documents, 0.8)
    val got = Dedup.pageRank(pairs, iters = 8).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // independent per-iteration reference: plain Scala maps, the same
    // integer recurrence
    val ps = pairs.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(ps.nonEmpty)
    val adj = (ps ++ ps.map(p => (p._2, p._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    var r = adj.keys.map(_ -> 1000000L).toMap
    for (_ <- 1 to 8)
      r = adj.map { case (n, nbrs) =>
        n -> (150000L + 85L * nbrs.map(j => r(j) / adj(j).size).sum / 100L)
      }
    assert(got == adj.map { case (n, nbrs) =>
      n -> (nbrs.size.toLong, r(n)) })
  }

  test("pageRank: a 2-regular cycle is a fixed point at rank=scale") {
    import spark.implicits._
    // 0-1-2-3-0: deg 2 everywhere; floor(1e6/2)*2 feeds back exactly
    val cyc = Seq((0L, 1L), (1L, 2L), (2L, 3L), (0L, 3L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.pageRank(cyc, iters = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(got == Seq((0L, 2L, 1000000L), (1L, 2L, 1000000L),
      (2L, 2L, 1000000L), (3L, 2L, 1000000L)))
  }

  test("Fixpoint.iterate raises instead of returning unconverged") {
    import spark.implicits._
    // a step that never stabilizes the measure within the bound
    val seed = Seq(0L).toDF("x")
    val e = intercept[IllegalStateException] {
      graft.core.Fixpoint.iterate(seed, maxIter = 3,
        org.apache.spark.sql.functions.sum("x"))(df =>
        df.select((col("x") + 1).as("x")))
    }
    assert(e.getMessage.contains("no convergence"))
  }

  test("bfs == brute-force hop levels on random graphs; early-exit and cap (#57q)") {
    import spark.implicits._
    val rnd = new scala.util.Random(19)
    for (trial <- 0 until 3) {
      val n = 40
      val es = (for {
        a <- 0 until n; b <- (a + 1) until n
        if rnd.nextInt(100) < 4 + trial * 3
      } yield (a.toLong, b.toLong))
      val seeds = (0 until n).filter(_ % 11 == 0).map(_.toLong)
      val cap = if (trial == 1) 2 else 8 // trial 1 exercises the hop cap
      val got = graft.dedup.Dedup.bfs(es.toDF("doc_a", "doc_b"),
          seeds.toDF("doc_id"), maxHops = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      // brute: Dijkstra-free BFS over the adjacency map
      val adj = (es ++ es.map(e => (e._2, e._1)))
        .groupBy(_._1).map { case (k, v) => (k, v.map(_._2)) }
      var dist = seeds.map(_ -> 0L).toMap
      var frontier = seeds.toSet
      var h = 1L
      while (h <= cap && frontier.nonEmpty) {
        val next = frontier.flatMap(u => adj.getOrElse(u, Nil))
          .filterNot(dist.contains)
        dist = dist ++ next.map(_ -> h)
        frontier = next
        h += 1
      }
      assert(got == dist, s"trial $trial: ${got.size} vs ${dist.size}")
    }
  }

  test("cdcChunks: roundtrip, driver replay, content-anchored boundaries (#57s)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val alpha = "abcdefgh "
    def randText(n: Int) =
      (1 to n).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    val texts = (0 until 30).map(i =>
      (i.toLong, randText(40 + rnd.nextInt(400)), s"s${i % 3}")) ++
      Seq((100L, "tiny", "s0"), (101L, "", "s0"),          // n < window
          (102L, "exactly8", "s0"))                        // n == window
    val df = texts.toDF("doc_id", "text", "source")
    val got = Dedup.cdcChunks(df).collect()
      .map(r => (r.getLong(0), r.getString(2)))
      .groupBy(_._1).map { case (k, v) => (k, v.map(_._2).toSeq) }
    // driver replay of the same polynomial rule
    def chunksOf(t: String): Seq[String] = {
      val pows = (0 until 8).map(j => math.pow(31.0, j).toLong)
      val codes = t.map(_.toLong)
      val bnd = (8 to t.length).filter { i =>
        i < t.length &&
        (0 until 8).map(j => codes(i - 1 - j) * pows(j)).sum % 64 == 0
      }
      if (t.isEmpty) Seq.empty
      else {
        val cuts = 0 +: bnd :+ t.length
        cuts.sliding(2).map { case Seq(a, b) => t.substring(a, b) }.toSeq
      }
    }
    for ((id, t, _) <- texts) {
      val exp = chunksOf(t)
      val g = got.getOrElse(id, Seq.empty)
      assert(g == exp, s"doc $id: $g vs $exp")
      assert(g.mkString == t, s"doc $id: chunks must concat to the text")
    }
    // content-anchoring: inserting one char changes only the cut(s)
    // around the edit — every boundary far past the edit point just
    // shifts by one (same CONTENT cut), and chunks fully past it are
    // identical strings; a fixed-size chunker would rewrite them all
    val base = randText(600)
    val edited = base.substring(0, 300) + "X" + base.substring(300)
    val cb = chunksOf(base).drop(1)
    val ce = chunksOf(edited).drop(1)
    val commonTail = cb.reverse.zip(ce.reverse).takeWhile(p => p._1 == p._2)
    assert(commonTail.nonEmpty,
      "an edit must leave the far-downstream chunks byte-identical")
  }
}
