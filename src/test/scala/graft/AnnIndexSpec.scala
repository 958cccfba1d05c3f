package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sim.Similarity
import graft.tables.VersionStore

/** Build-once ANN index artifact (#62g, r9-verdict ask #4): the
  * persisted IVF(-PQ) index must serve EXACTLY what a per-run-trained
  * path computes (training is deterministic), rebuild identically,
  * and grow by append against the stored centroids without touching
  * existing assignments. */
class AnnIndexSpec extends AnyFunSuite {
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

  /** Every data file under a committed version's dir, spelled the way
    * its record names them (hidden `_`/`.` names are not data). */
  private def dataFilesUnder(vdir: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(vdir)
    java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") &&
        !root.relativize(p).iterator().asScala
          .exists(n => n.toString.startsWith("_") || n.toString.startsWith(".")))
      .map(_.toString).toSet
  }

  private lazy val emb = {
    val s = spark
    import s.implicits._
    // 200 vectors in 8 dims, deterministic pseudo-random-ish content
    (0 until 200).map { i =>
      (i.toLong, (0 until 8).map(d =>
        math.sin(i * 37 + d * 11).abs + 0.1).toArray)
    }.toDF("vec_id", "embedding")
  }

  test("indexed IVF and IVF-PQ == per-run-trained, bit-for-bit") {
    val base = java.nio.file.Files.createTempDirectory("graft_ann_spec")
    val path = base.resolve("idx").toString
    Similarity.buildAnnIndex(emb, path, centroids = 8,
      pq = Some((4, 8)))
    // the read-back is the record's four parts under their recorded
    // schemas: no footer-inference job, no directory probe
    val (idx, readJobs) = SparkJobs.jobsOf(spark)(
      Similarity.readAnnIndex(spark, path))
    assert(readJobs == 0, s"readAnnIndex ran $readJobs Spark jobs")
    assert(idx.codebook.nonEmpty && idx.codes.nonEmpty)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    val perRunIvf = Similarity.knnIvf(emb, col("vec_id") < 5, 3,
      centroids = 8)
    val idxIvf = Similarity.knnIvfIndexed(spark, path,
      col("vec_id") < 5, 3)
    assert(rows(idxIvf) == rows(perRunIvf),
      "stored-index IVF diverged from per-run training")
    val perRunPq = Similarity.knnIvfPq(emb, col("vec_id") < 5, 3,
      centroids = 8, m = 4, ksub = 8)
    val idxPq = Similarity.knnIvfPqIndexed(spark, path,
      col("vec_id") < 5, 3)
    assert(rows(idxPq) == rows(perRunPq),
      "stored-index IVF-PQ diverged from per-run training")
    rm(base.toFile)
  }

  test("the PQ shape is read off the index rows: no aggregate job to serve or append") {
    val base = java.nio.file.Files.createTempDirectory("graft_ann_shape")
    val path = base.resolve("idx").toString
    Similarity.buildAnnIndex(emb.where(col("vec_id") < 150), path,
      centroids = 8, pq = Some((4, 8)))
    // the ADC plan finds ksub from its flat table, so serving the index
    // builds a lazy frame and runs nothing (an aggregate for the
    // largest codebook entry ran 2 jobs here)
    val (_, serveJobs) = SparkJobs.jobsOf(spark)(Similarity.knnIvfPqIndexed(
      spark, path, col("vec_id") < 5, 3))
    assert(serveJobs == 0, s"knnIvfPqIndexed ran $serveJobs Spark jobs")
    // the append encodes against the codebook rows pqEncode collects
    // anyway, so m needs no aggregate of its own: 9 jobs (11 with the
    // aggregate for the largest `mi`)
    val (_, appendJobs) = SparkJobs.jobsOf(spark)(Similarity.annIndexAppend(
      path, emb.where(col("vec_id") >= 150)))
    assert(appendJobs <= 9, s"annIndexAppend ran $appendJobs Spark jobs")
    rm(base.toFile)
  }

  test("rebuild is deterministic; versions are manifest-committed") {
    val base = java.nio.file.Files.createTempDirectory("graft_ann_det")
    val path = base.resolve("idx").toString
    val v0 = Similarity.buildAnnIndex(emb, path, centroids = 8)
    val v1 = Similarity.buildAnnIndex(emb, path, centroids = 8)
    assert(v0 == 0L && v1 == 1L)
    assert(VersionStore.committed(spark, path).sorted == Seq(0L, 1L))
    // every artifact version carries its commit record, naming its
    // parts and listing every file the build wrote; no PQ, no codebook
    val snaps = VersionStore.snapshots(spark, path)
    assert(snaps.map(_.version) == Seq(0L, 1L))
    snaps.foreach { s =>
      assert(s.op == "BUILD" && s.ts > 0L, s"record-less version: $s")
      assert(s.parts.keySet == Set("centroids", "assigned"))
      assert(s.parts.values.flatMap(_.files).toSet == dataFilesUnder(s.vdir),
        s"the record must list exactly the files v=${s.version} wrote")
    }
    assert(Similarity.readAnnIndex(spark, path).codebook.isEmpty)
    def dump(v: Long) = VersionStore.read(spark,
        VersionStore.snapshot(spark, path, Some(v)).part("assigned"))
      .select("vec_id", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dump(0L) == dump(1L), "rebuild produced different cells")
    rm(base.toFile)
  }

  test("append assigns against STORED centroids; existing rows intact") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_ann_app")
    val path = base.resolve("idx").toString
    val baseEmb = emb.where(col("vec_id") < 150)
    val freshEmb = emb.where(col("vec_id") >= 150)
    Similarity.buildAnnIndex(baseEmb, path, centroids = 8,
      pq = Some((4, 8)))
    val before = Similarity.readAnnIndex(spark, path)
    val beforeAssigned = before.assigned.select("vec_id", "cid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cents = before.centroids.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSet
    val built = VersionStore.snapshot(spark, path)
    assert(Similarity.annIndexAppend(path, freshEmb) == built.version + 1)
    val appended = VersionStore.snapshot(spark, path)
    assert(appended.op == "APPEND" && appended.ts > built.ts)
    // the append rewrites assigned and codes and points at the build's
    // centroids and codebook
    val written = Set("assigned", "codes")
    assert(appended.parts.keySet == written ++ Set("centroids", "codebook"))
    assert(written.flatMap(appended.part(_).files) ==
      dataFilesUnder(appended.vdir),
      "the append's record must list every file it wrote")
    assert(Seq("centroids", "codebook").forall(n =>
      appended.part(n) == built.part(n)),
      "centroids and codebook must be carried, not rewritten")
    val after = Similarity.readAnnIndex(spark, path)
    // centroids unchanged (no retrain)
    assert(after.centroids.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSet == cents)
    val afterAssigned = after.assigned.select("vec_id", "cid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every pre-existing assignment intact; 50 fresh rows added
    assert(beforeAssigned.subsetOf(afterAssigned))
    assert(afterAssigned.size == beforeAssigned.size + 50)
    // PQ codes grew by the same 50, against the stored codebook
    assert(after.codes.get.count() == before.codes.get.count() + 50)
    // the appended assignment equals a full rebuild's assignment IF
    // the rebuild trained identical centroids — not guaranteed (the
    // sample differs); what IS guaranteed: each fresh vector sits in
    // its argmax cell of the stored centroids
    val consumers = Similarity.knnIvfIndexed(spark, path,
      col("vec_id") >= 195, 3)
    assert(consumers.groupBy("qid").count().collect()
      .forall(_.getLong(1) == 3L), "indexed consumer must serve top-3")
    rm(base.toFile)
  }
}
