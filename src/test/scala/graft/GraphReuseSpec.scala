package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.ops.Relational
import graft.tables.VersionStore

/** The build-once edge artifact ([[graft.dedup.Dedup.edgeTable]]) and
  * q_graph_reuse's rollup must agree EXACTLY with composing the
  * standalone operators from a fresh discovery pass — the artifact is
  * a materialization, never an approximation. */
class GraphReuseSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"

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

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  test("edgeTable round-trips the exact pair set bit-for-bit") {
    val docs = graft.tables.Tables(spark, sf).documents
    val path = java.nio.file.Files
      .createTempDirectory("graft_edge_art").toString
    Dedup.edgeTable(docs, 0.8, path)
    // the read-back is the record's two parts under their recorded
    // schemas: no footer-inference job
    val (art, readJobs) = SparkJobs.jobsOf(spark)(
      Dedup.readEdgeTable(spark, path))
    assert(readJobs == 0, s"readEdgeTable ran $readJobs Spark jobs")
    val direct = rows(Dedup.jaccardJoin(docs, 0.8)
      .orderBy("doc_a", "doc_b"))
    val stored = rows(art.edges.orderBy("doc_a", "doc_b"))
    assert(stored == direct, "stored edges != fresh jaccardJoin")
    // degrees: the artifact's precomputed table == recount from edges
    val recount = rows(art.edges
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("deg"))
      .orderBy("doc_id"))
    assert(rows(art.degrees.orderBy("doc_id")) == recount)
    // bfs is the sixth artifact consumer: hop levels off the stored
    // edges == hop levels off a fresh discovery pass (#57q)
    val seeds = docs.where(col("doc_id") % 23 === 0).select("doc_id")
    val fromArt = rows(Dedup.bfs(art.edges, seeds).orderBy("doc_id"))
    val fresh = rows(Dedup.bfs(Dedup.jaccardJoin(docs, 0.8), seeds)
      .orderBy("doc_id"))
    assert(fromArt == fresh, "bfs(artifact) != bfs(fresh discovery)")
    // r9 (r8-verdict ask #4): MANIFEST COMMIT — an unmarked (torn)
    // version dir, even with a higher id, is invisible to readers
    assert(new java.io.File(path, "v=7").mkdirs())
    val still = rows(Dedup.readEdgeTable(spark, path).edges
      .orderBy("doc_a", "doc_b"))
    assert(still == direct, "torn artifact version served to a reader")
  }

  test("edgeTableIncrement == full rebuild (edges AND degrees)") {
    val docs = graft.tables.Tables(spark, sf).documents
    val cut =
      (docs.agg(max("doc_id")).head().getLong(0) + 1L) * 4L / 5L
    val incrPath = java.nio.file.Files
      .createTempDirectory("graft_edge_incr").toString
    Dedup.edgeTable(docs.where(col("doc_id") < cut), 0.8, incrPath)
    Dedup.edgeTableIncrement(incrPath,
      Dedup.minhashIndex(docs.where(col("doc_id") < cut)),
      docs.where(col("doc_id") >= cut), 0.8)
    // build and increment are committed versions with full records
    val snaps = VersionStore.snapshots(spark, incrPath)
    assert(snaps.map(s => s.version -> s.op) ==
      Seq(0L -> "BUILD", 1L -> "INCREMENT"))
    assert(snaps(0).ts > 0L && snaps(1).ts > snaps(0).ts)
    snaps.foreach(s => assert(s.parts.keySet == Set("edges", "degrees") &&
      s.parts.values.flatMap(_.files).toSet == dataFilesUnder(s.vdir),
      s"the record must list every file v=${s.version} wrote"))
    val fullPath = java.nio.file.Files
      .createTempDirectory("graft_edge_full").toString
    Dedup.edgeTable(docs, 0.8, fullPath)
    val inc = Dedup.readEdgeTable(spark, incrPath)
    val full = Dedup.readEdgeTable(spark, fullPath)
    assert(rows(inc.edges.orderBy("doc_a", "doc_b")) ==
      rows(full.edges.orderBy("doc_a", "doc_b")),
      "incremented edge set != rebuild")
    assert(rows(inc.degrees.orderBy("doc_id")) ==
      rows(full.degrees.orderBy("doc_id")),
      "incremented degrees != rebuild")
    // r8 idempotence arm (the r7 verdict nit): a failed-batch RETRY
    // re-applies the same increment — the deduped staged swap must
    // leave edges AND degrees bit-identical, where the old bare
    // append would have double-written every pair
    Dedup.edgeTableIncrement(incrPath,
      Dedup.minhashIndex(docs.where(col("doc_id") < cut)),
      docs.where(col("doc_id") >= cut), 0.8)
    val replayed = Dedup.readEdgeTable(spark, incrPath)
    assert(rows(replayed.edges.orderBy("doc_a", "doc_b")) ==
      rows(full.edges.orderBy("doc_a", "doc_b")),
      "replayed increment changed the edge set")
    assert(rows(replayed.degrees.orderBy("doc_id")) ==
      rows(full.degrees.orderBy("doc_id")),
      "replayed increment changed the degrees")
  }

  test("an edge build pays no footer-inference job for its degrees pass") {
    val docs = graft.tables.Tables(spark, sf).documents
    val pairs = graft.core.Pin(Dedup.jaccardJoin(docs, 0.8))
    try {
      val base = java.nio.file.Files.createTempDirectory("graft_edge_jobs")
      // the same-run baseline: the two writes and the degrees pass over
      // the written edges, read back under their known schema
      val (_, direct) = SparkJobs.jobsOf(spark) {
        val e = base.resolve("direct_edges").toString
        pairs.df.repartition(col("doc_a")).write.parquet(e)
        spark.read.schema(pairs.df.schema).parquet(e)
          .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
          .groupBy("doc_id").agg(count(lit(1)).as("deg"))
          .repartition(col("doc_id"))
          .write.parquet(base.resolve("direct_degrees").toString)
      }
      val (_, build) = SparkJobs.jobsOf(spark)(
        Dedup.edgeTableFrom(pairs.df, base.resolve("art").toString))
      assert(build <= direct,
        s"edgeTableFrom ran $build Spark jobs, the two writes $direct")
    } finally pairs.close()
  }

  test("q_graph_reuse rollup == composing the standalone operators") {
    val docs = graft.tables.Tables(spark, sf).documents
    val reuse = rows(graft.ops.Queries.qGraphReuse(spark, sf))
    // fresh, artifact-free composition of the five standalone answers
    val pairs = graft.core.Pin(
      Dedup.jaccardJoin(docs, 0.8).select("doc_a", "doc_b")).df
    val comps = Dedup.components(pairs)
    val keep = Dedup.keepBest(pairs, docs)
    val prC = Dedup.pageRank(pairs).join(comps, "doc_id")
      .groupBy("comp").agg(sum("pr").as("sum_pr"))
    val triC = Relational.triangles(pairs, "doc_a", "doc_b")
      .join(comps.select(col("doc_id").as("a"), col("comp")), Seq("a"))
      .groupBy("comp").agg(count(lit(1)).as("n_tri"))
    val coreC = Relational.kcore(pairs, "doc_a", "doc_b", 2, 8)
      .join(comps, "doc_id").groupBy("comp")
      .agg(count(lit(1)).as("n_core2"))
    val composed = rows(keep.join(prC, "comp")
      .join(triC, Seq("comp"), "left")
      .join(coreC, Seq("comp"), "left")
      .select(col("comp"), col("n_members"), col("keep_id"),
        col("keep_chars"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        coalesce(col("n_core2"), lit(0L)).as("n_core2"),
        col("sum_pr"))
      .orderBy("comp"))
    assert(reuse == composed,
      s"artifact rollup diverged: ${reuse.size} vs ${composed.size} rows")
  }
}
