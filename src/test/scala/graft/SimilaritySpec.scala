package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sim.Similarity

/** ANN family (SURVEY §2.5 #60–62): exact cosine semantics and LSH
  * recall against the brute-force baseline. */
class SimilaritySpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** 20 vectors in 2 tight clusters + 1 orthogonal outlier. */
  private def emb = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def noisy(base: Array[Float]): Array[Float] =
      base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.05f)
    val c1 = Array.fill(16)(0f).updated(0, 1f).updated(1, 0.5f)
    val c2 = Array.fill(16)(0f).updated(7, 1f).updated(8, -0.5f)
    val rows =
      (0L until 10L).map(i => (i, noisy(c1))) ++
      (10L until 20L).map(i => (i, noisy(c2))) :+
      (20L, Array.fill(16)(0f).updated(15, 1f))
    rows.toDF("vec_id", "embedding")
  }

  test("cosine: exact on unit vectors") {
    import spark.implicits._
    val df = Seq((0L, Array(1f, 0f), 1L, Array(0f, 1f)),
                 (2L, Array(1f, 0f), 3L, Array(1f, 0f)))
      .toDF("a", "ea", "b", "eb")
    val got = df.select(Similarity.cosine(col("ea"), col("eb")).as("c"))
      .as[Double].collect().toSeq
    assert(got == Seq(0.0, 1.0))
  }

  test("knnBrute: neighbors come from the query's own cluster") {
    val knn = Similarity.knnBrute(emb, col("vec_id") < 3, 3).collect()
    assert(knn.length == 9)
    assert(knn.forall(r => r.getLong(2) < 10L)) // cluster 1 ids only
    assert(knn.forall(r => r.getDouble(3) > 0.9))
  }

  test("knnLsh: high recall vs brute on clustered data") {
    val brute = Similarity.knnBrute(emb, col("vec_id") < 3, 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val lsh = Similarity.knnLsh(emb, col("vec_id") < 3, 3,
        tables = 8, bits = 6)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall >= 0.8, s"recall $recall too low; lsh=$lsh brute=$brute")
  }

  test("knnIvf: high recall vs brute on clustered data") {
    val brute = Similarity.knnBrute(emb, col("vec_id") < 3, 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = Similarity.knnIvf(emb, col("vec_id") < 3, 3,
        centroids = 6, probes = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.8, s"recall $recall too low; ivf=$ivf brute=$brute")
  }

  test("knnIvf: high recall vs brute on the real sf0.01 embeddings") {
    val e = graft.tables.Tables(spark, "/root/testdata/sf0.01").embeddings
    val brute = Similarity.knnBrute(e, col("vec_id") < 5, 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = Similarity.knnIvf(e, col("vec_id") < 5, 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.6, s"recall $recall too low")
  }

  test("knnIvfPq: recall vs brute on the real sf0.01 embeddings >= IVF bound") {
    val e = graft.tables.Tables(spark, "/root/testdata/sf0.01").embeddings
    val brute = Similarity.knnBrute(e, col("vec_id") < 5, 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val pq = Similarity.knnIvfPq(e, col("vec_id") < 5, 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    // the same bound the plain-IVF spec enforces: PQ compresses the
    // scoring, the rerank stage restores exactness on the survivors
    val recall = (brute & pq).size.toDouble / brute.size
    assert(recall >= 0.6, s"recall $recall too low; pq=$pq brute=$brute")
    // deterministic end to end (sampled trainers seeded, ADC scored by
    // sequential fold, every window tie-broken)
    val again = Similarity.knnIvfPq(e, col("vec_id") < 5, 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(again == pq, "knnIvfPq not deterministic")
  }

  test("pqEncode: codes are m entries in [0, ksub) for every vector") {
    val e = graft.tables.Tables(spark, "/root/testdata/sf0.001").embeddings
    val (assigned, cents) = Similarity.ivfAssign(e, 8, trainIters = 1)
    val cb = Similarity.trainPqCodebook(assigned, cents, m = 8, ksub = 16)
    assert(cb.count() == 8 * 16)
    val codes = Similarity.pqEncode(assigned, cents, cb).collect()
    assert(codes.length == e.count())
    codes.foreach { r =>
      val code = r.getSeq[Int](2)
      assert(code.length == 8 && code.forall(j => j >= 0 && j < 16))
    }
  }

  test("embed_cluster: conserves vectors, <= k clusters, deterministic") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.ops.Queries.qEmbedCluster(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(rows.nonEmpty && rows.size <= 16)
    val total = graft.tables.Tables(spark, dir).embeddings.count()
    assert(rows.map(_._2).sum == total, "clustering lost/duplicated vectors")
    val again = graft.ops.Queries.qEmbedCluster(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(again == rows, "clustering summary not deterministic")
  }

  test("labelErrors: flags exactly the deliberately swapped labels (#62e)") {
    import spark.implicits._
    // fixture geometry: two tight clusters + an orthogonal outlier.
    // True labels = cluster id; swap two vectors' labels — those two
    // (and ONLY those two) must be flagged, each predicted back to its
    // geometric class. The outlier keeps a singleton class whose
    // centroid is itself — never flagged.
    val swapped = Set(3L, 14L)
    val labeled = emb.withColumn("label",
      when(col("vec_id").isin(3L), 1)
        .when(col("vec_id").isin(14L), 0)
        .when(col("vec_id") < 10, 0)
        .when(col("vec_id") < 20, 1)
        .otherwise(2))
    val out = Similarity.labelErrors(labeled).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getBoolean(4))))
      .toMap
    assert(out.size == 21)
    val flagged = out.filter(_._2._3).keySet
    assert(flagged == swapped, s"flagged $flagged")
    assert(out(3L)._2 == 0 && out(14L)._2 == 1, "swapped vecs not predicted home")
    // determinism of the graded summary
    val dir = "/root/testdata/sf0.001"
    def run() = graft.ops.Queries.qLabelErrors(spark, dir)
      .collect().map(_.toSeq).toSeq
    val rows = run()
    assert(rows.nonEmpty && rows == run())
    val total = graft.tables.Tables(spark, dir).embeddings.count()
    assert(rows.map(_(1).asInstanceOf[Long]).sum == total)
  }

  test("semdedup: kept == per-group minima on ground-truth clusters (#62d)") {
    // k = 1 makes the cluster stage a no-op, so the keep rule is tested
    // in isolation: the two noisy groups are internal cliques at
    // tau = 0.9 (cos ~0.999) and mutually orthogonal, the outlier
    // matches nothing — kept must be exactly each group's min id.
    val out = Similarity.semDedup(emb, k = 1, tau = 0.9, trainIters = 0)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out.size == 21)
    val kept = out.filter(!_._2).keySet
    assert(kept == Set(0L, 10L, 20L), s"kept $kept")
  }

  test("semdedup: conservation, determinism, dup-implies-earlier-neighbor") {
    val dir = "/root/testdata/sf0.001"
    val e = graft.tables.Tables(spark, dir).embeddings
    def run() = graft.ops.Queries.qSemdedup(spark, dir).collect()
      .map(_.toSeq).toSeq
    val rows = run()
    assert(rows.nonEmpty && rows == run(), "semdedup summary not deterministic")
    val out = Similarity.semDedup(e, k = 16, tau = 0.45)
    assert(out.count() == e.count(), "semdedup lost/duplicated vectors")
    // every dup has a smaller-id tau-neighbor in ITS cluster; every kept
    // vec has none — recomputed through an independent join shape over
    // the operator's own (cid, vec_id) output + re-normalized embeddings
    graft.functions.VectorDot.register(spark)
    val ne = Similarity.normalized(e).select(col("vec_id"), col("ne"))
    val o = out.join(ne, "vec_id")
    val hasEarlier = o.select(col("cid"), col("vec_id"), col("ne"))
      .join(o.select(col("cid"), col("vec_id").as("vb"),
        col("ne").as("nb")), Seq("cid"))
      .where(col("vb") < col("vec_id") && expr("vec_dot(ne, nb)") >= 0.45)
      .select("vec_id").distinct()
      .collect().map(_.getLong(0)).toSet
    val dups = out.where(col("is_dup")).collect().map(_.getLong(0)).toSet
    assert(dups == hasEarlier,
      s"dup set != earlier-neighbor set: ${dups.diff(hasEarlier)} / ${hasEarlier.diff(dups)}")
    assert(dups.nonEmpty, "tau=0.45 should catch the embedded near-dups")
  }

  test("trained centroids do not lose recall vs the untrained seed (sf0.01)") {
    val e = graft.tables.Tables(spark, "/root/testdata/sf0.01").embeddings
    val brute = Similarity.knnBrute(e, col("vec_id") < 5, 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    def recall(trainIters: Int): Double = {
      val ivf = Similarity.knnIvf(e, col("vec_id") < 5, 3,
          trainIters = trainIters)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      (brute & ivf).size.toDouble / brute.size
    }
    val untrained = recall(0)
    val trained = recall(2)
    assert(trained >= untrained,
      s"trained recall $trained < untrained $untrained")
  }

  test("trainCentroids: deterministic, unit-norm, k rows") {
    val c1 = Similarity.trainCentroids(emb, 4, iters = 2).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1)
    val c2 = Similarity.trainCentroids(emb, 4, iters = 2).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1)
    assert(c1.length == 4)
    assert(c1.map(_._1).toSeq == c2.map(_._1).toSeq)
    c1.foreach { case (_, v) =>
      val n2 = v.map(x => x * x).sum
      assert(math.abs(n2 - 1.0) < 1e-9, s"non-unit centroid norm2=$n2")
    }
  }

  test("embedPairs: outlier joins no pair, clusters pair up") {
    val pairs = Similarity.embedPairs(emb, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    assert(pairs.forall { case (a, b) =>
      (a < 10 && b < 10) || (a >= 10 && a < 20 && b >= 10 && b < 20) })
  }

  test("lshTablesFor: the banding parameters honor their miss bound") {
    // the defaults of embedPairsLsh must be at least what the formula
    // demands for eps=1e-5 at tau=0.45 / 4 bits
    assert(Similarity.lshTablesFor(0.45, 4, 1e-5) <= 64)
    // monte-carlo check of the closed form at tau=0.9, 8 bits
    val rnd = new scala.util.Random(3)
    val bits = 8
    val pBit = 1.0 - math.acos(0.9) / math.Pi
    val tables = Similarity.lshTablesFor(0.9, bits, 0.05)
    val trials = 20000
    val misses = (0 until trials).count { _ =>
      (0 until tables).forall(_ =>
        (0 until bits).exists(_ => rnd.nextDouble() >= pBit))
    }
    val missRate = misses.toDouble / trials
    assert(missRate <= 0.05 * 1.5, s"missRate=$missRate for $tables tables")
  }

  test("embedPairsLsh sized by lshTablesFor equals exact at tau=0.8 on random data") {
    import spark.implicits._
    // not the fixed corpus: random base vectors + planted near-dups,
    // banding sized by the closed form for eps=1e-4 — deterministic
    // seed, so this either always passes or always fails
    val rnd = new scala.util.Random(99)
    def vec() = Array.fill(24)(rnd.nextFloat() * 2 - 1)
    val base = (0L until 60L).map(i => (i, vec()))
    val dups = (0 until 15).map { j =>
      (100L + j, base(j)._2.map(x => x + (rnd.nextFloat() - 0.5f) * 0.05f))
    }
    val emb = (base ++ dups).toDF("vec_id", "embedding")
    val tables = Similarity.lshTablesFor(0.8, 8, 1e-4)
    val exact = Similarity.embedPairs(emb, 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val lsh = Similarity.embedPairsLsh(emb, 0.8, tables, 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(exact.size >= 15) // every planted pair qualifies
    assert(lsh == exact)
  }

  test("vec_normalize: bit-identical to the SQL transform/aggregate form") {
    graft.functions.VecNormalize.register(spark)
    val sql =
      """transform(embedding, x -> cast(x as double) /
        |  sqrt(aggregate(transform(embedding,
        |    y -> cast(y as double) * cast(y as double)),
        |    cast(0.0 as double), (s, v) -> s + v)))""".stripMargin
    val diff = emb
      .withColumn("a", expr("vec_normalize(embedding)"))
      .withColumn("b", expr(sql))
      .where(expr("exists(zip_with(a, b, (x, y) -> x <> y), p -> p)"))
    assert(diff.count() == 0)
  }

  test("embedPairsLsh == exact baseline on clustered data") {
    val exact = Similarity.embedPairs(emb, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val lsh = Similarity.embedPairsLsh(emb, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(lsh == exact)
  }

  test("lshConfigFor: no selective banding near random, selective ones above") {
    // τ=0.45: p_bit ≈ 0.65 vs background 0.5 — the math must refuse
    assert(Similarity.lshConfigFor(0.45).isEmpty)
    // τ=0.8 and up: a config exists and honors both bounds
    for (tau <- Seq(0.8, 0.9)) {
      val Some((tables, bits)) = Similarity.lshConfigFor(tau)
      assert(tables <= 256)
      val background = 1.0 - math.pow(1.0 - math.pow(0.5, bits), tables)
      assert(background <= 0.2, s"tau=$tau background=$background")
      // and recall: tables is at least what the miss bound demands
      assert(tables >= Similarity.lshTablesFor(tau, bits, 1e-4))
    }
  }

  test("embedPairsBlocked == cross-join exact on clustered data") {
    val exact = Similarity.embedPairs(emb, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // blocks > distinct ids: every cell shape (incl. empty cells) exercised
    for (blocks <- Seq(3, 16, 40)) {
      val blocked = Similarity.embedPairsBlocked(emb, 0.9, blocks).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(blocked == exact, s"blocks=$blocks")
    }
  }

  test("embedPairsBlocked == cross-join exact on random data and block counts (property)") {
    import spark.implicits._
    // three seeded corpora × three grid sizes: the triangle sharding
    // must reproduce the quadratic baseline exactly regardless of how
    // ids hash into blocks (incl. empty and singleton cells)
    for (seed <- Seq(1, 2, 3)) {
      val rnd = new scala.util.Random(seed)
      val n = 20 + rnd.nextInt(30)
      val e = (0L until n.toLong).map { i =>
        (i * 7 + seed, Array.fill(8)(rnd.nextFloat() * 2 - 1)) // sparse ids
      }.toDF("vec_id", "embedding")
      val tau = 0.3 + rnd.nextDouble() * 0.4
      val exact = Similarity.embedPairs(e, tau).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val blocks = Seq(2, 7, 33)(rnd.nextInt(3))
      val blocked = Similarity.embedPairsBlocked(e, tau, blocks).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(blocked == exact, s"seed=$seed blocks=$blocks tau=$tau")
    }
  }

  test("embedPairsAuto dispatches right and equals exact in both regimes") {
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    def vec() = Array.fill(24)(rnd.nextFloat() * 2 - 1)
    val base = (0L until 60L).map(i => (i, vec()))
    val dups = (0 until 15).map { j =>
      (100L + j, base(j)._2.map(x => x + (rnd.nextFloat() - 0.5f) * 0.05f))
    }
    val e = (base ++ dups).toDF("vec_id", "embedding")
    for (tau <- Seq(0.45, 0.8)) {
      val exact = Similarity.embedPairs(e, tau).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val auto = Similarity.embedPairsAuto(e, tau).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(exact.nonEmpty)
      assert(auto == exact, s"tau=$tau")
    }
  }

  /** The graded-plan guarantee: on the driver's own corpus at the graded
    * scale factors, the LSH candidate set covers EVERY pair at τ=0.45 —
    * q_dedup_embed's plan (no cross join) returns exactly the exact
    * baseline, bit-for-bit, including the cosines. Deterministic
    * hyperplanes ⇒ if this holds here it holds in the driver's run. */
  for (sf <- Seq("sf0.001", "sf0.01")) {
    test(s"embedPairsLsh == exact baseline on $sf embeddings at tau=0.45") {
      val e = graft.tables.Tables(spark, s"/root/testdata/$sf").embeddings
      val exact = Similarity.embedPairs(e, 0.45).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val lsh = Similarity.embedPairsLsh(e, 0.45).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(exact.nonEmpty)
      assert(lsh == exact)
      // the graded entry point (cost-dispatch → sharded exact here)
      val auto = Similarity.embedPairsAuto(e, 0.45).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(auto == exact)
    }
  }

  test("assignTo binds its centroids as one literal, not one per element") {
    import spark.implicits._
    // q_embed_cluster's shape: 16 unit centroids of 64 dims
    val cents = Array.tabulate(16) { c =>
      val v = Array.tabulate(64)(i => math.sin(c * 64.0 + i))
      val norm = math.sqrt(v.map(x => x * x).sum)
      (c.toLong, v.map(_ / norm))
    }
    val pv = Seq((1L, cents(3)._2.toSeq), (2L, cents(9)._2.toSeq))
      .toDF("vec_id", "ne")
    val out = Similarity.assignTo(pv, cents)
    val literals = out.queryExecution.analyzed.collect { case p =>
      p.expressions.map(_.collect {
        case l: org.apache.spark.sql.catalyst.expressions.Literal => l
      }.size).sum
    }.sum
    assert(literals < 64, s"$literals literals for 16 x 64 centroids")
    assert(out.orderBy("vec_id").collect().map(_.getLong(2)).toSeq ==
      Seq(3L, 9L))
  }
}
