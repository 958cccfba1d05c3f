package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Scale

/** The §5 scale mechanics, proven at the plan level where possible. */
class ScaleSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"

  test("SQL surface: spark.sql over registered views matches DataFrame") {
    Scale.registerViews(spark, sf)
    val viaSql = spark.sql(
      """SELECT l_returnflag, l_linestatus,
        |  cast(sum(cast(l_quantity AS DECIMAL(18,2))) AS double) AS sum_qty
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
      .collect().map(_.toSeq)
    val viaDf = graft.tables.Tables(spark, sf).lineitem
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
        .as("sum_qty"))
      .orderBy("l_returnflag", "l_linestatus")
      .collect().map(_.toSeq)
    assert(viaSql.toSeq == viaDf.toSeq)
  }

  test("salted join returns exactly the plain join's rows") {
    val t = graft.tables.Tables(spark, sf)
    val plain = t.orders.join(t.customer,
        col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "c_custkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val salted = Scale.saltedJoin(
        t.orders.withColumnRenamed("o_custkey", "k"),
        t.customer.withColumnRenamed("c_custkey", "k"), "k", 8)
      .select("o_orderkey", "k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(salted == plain && salted.nonEmpty)
  }

  test("plan audit: pushdown, pruning, dimension broadcast (§5 claims)") {
    def plan(q: String): String =
      graft.SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
    // filters reach the parquet scan
    val filt = plan("q_filter")
    assert(filt.contains("PushedFilters: [Is") || filt.contains(
      "PushedFilters: [GreaterThan") || filt.contains("PushedFilters: [*"),
      s"q_filter scan shows no pushed filters:\n$filt")
    // column pruning: a 2-column projection reads a 2-column schema
    val tok = plan("q_tokens")
    assert(tok.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"q_tokens reads more than (doc_id, text):\n$tok")
    // dimension tables broadcast in the join-heavy queries
    for (q <- Seq("q3_join", "q5_multijoin", "q_case_agg"))
      assert(plan(q).contains("BroadcastHashJoin"),
        s"$q has no broadcast join")
    // global top-k never materializes a full sort
    assert(plan("q_topk").contains("TakeOrderedAndProject"))
    // cohort: one keyed (user) window + distinct-count partial aggs,
    // no join anywhere
    val co = plan("q_cohort")
    assert(co.contains("Window") && co.contains("hashpartitioning(user_id"),
      s"q_cohort lost the keyed window:\n$co")
    assert(!co.contains("Join"), s"q_cohort grew a join:\n$co")
    // resample: the dense grid joins broadcast (grouping-cardinality ×
    // span rows on both sides — never a shuffled fact-fact join) and
    // the carry-forward window is keyed on type
    val rs = plan("q_resample")
    assert(rs.contains("BroadcastHashJoin") && rs.contains("Window"),
      s"q_resample lost the broadcast-grid/window shape:\n$rs")
    assert(!rs.contains("CartesianProduct"),
      s"q_resample has a cartesian:\n$rs")
    // listagg: rank-filtered keyed window, then the ordered collect —
    // no join anywhere
    val la = plan("q_listagg")
    assert(la.contains("Window") && !la.contains("Join"),
      s"q_listagg shape drifted:\n$la")
    // grouping sets run the one-pass Expand + partial-agg family
    val gs = plan("q_grouping_sets")
    assert(gs.contains("Expand") && gs.contains("partial_count"),
      s"q_grouping_sets lost the Expand/partial-agg shape:\n$gs")
    // outliers: the per-type stats side broadcasts back (never a
    // shuffled fact-fact join) and the moments aggregate partially
    val ol = plan("q_outliers")
    assert(ol.contains("BroadcastHashJoin") && ol.contains("partial_count"),
      s"q_outliers stats side not broadcast/partial:\n$ol")
  }

  test("graded dedup/ANN plans are cartesian-free") {
    // the 100 TB claim, machine-checked: no CartesianProduct /
    // BroadcastNestedLoopJoin anywhere in the graded plans (knnBrute is
    // excluded — its broadcast-queries × corpus-scan shape is the
    // intended exact baseline and the cross there is the semantics)
    for (q <- Seq("q_dedup_minhash", "q_dedup_simhash", "q_ngram_jaccard",
                  "q_dedup_embed", "q_knn_lsh")) {
      val plan = graft.SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") &&
             !plan.contains("BroadcastNestedLoopJoin"),
        s"$q plan contains a cartesian:\n$plan")
    }
  }

  test("r6b graph/warehouse plans: cartesian-free; scan-speed ops shuffle-free") {
    // graph analytics and the upsert/SCD family are all keyed joins and
    // windows — nothing may degenerate to a cross product (q_triangles
    // materializes intermediate frames, so its final plan reads from
    // InMemory/checkpoint scans — asserting on the query's own plan
    // still covers the wedge/closure joins)
    for (q <- Seq("q_triangles", "q_clustering_coef", "q_upsert",
                  "q_scd2", "q_dq_audit", "q_incr_rollup")) {
      val plan = graft.SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") &&
             !plan.contains("BroadcastNestedLoopJoin"),
        s"$q plan contains a cartesian:\n$plan")
    }
    // the two scan-speed maps must not shuffle before their display
    // sort: zero Exchange hashpartitioning anywhere
    for (q <- Seq("q_zorder", "q_rand_proj")) {
      val plan = graft.SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"$q should be scan-speed (no hash shuffle):\n$plan")
    }
  }

  test("r6d curation plans: cartesian-free; extraction scan-speed") {
    // the cluster compositions materialize their fixpoint via
    // localCheckpoint (the q_triangles caveat): asserting on the
    // returned frame still covers the label-join + argmax/split stages
    for (q <- Seq("q_er_cluster", "q_dedup_keepbest", "q_split_neardup")) {
      val plan = graft.SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") &&
             !plan.contains("BroadcastNestedLoopJoin"),
        s"$q plan contains a cartesian:\n$plan")
    }
    // html extraction is a per-row map: nothing may hash-shuffle
    // before the display sort
    val he = graft.SparkEntry.queries("q_html_extract")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!he.contains("Exchange hashpartitioning"),
      s"q_html_extract should be scan-speed (no hash shuffle):\n$he")
    // url dedup: the one keyed agg must combine map-side
    val ud = graft.SparkEntry.queries("q_url_dedup")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(ud.contains("partial_count"), s"q_url_dedup lost partial agg:\n$ud")
    assert(!ud.contains("CartesianProduct"),
      s"q_url_dedup plan contains a cartesian:\n$ud")
    // the composed web pipeline: keyed windows + keyed aggs only
    val pw = graft.SparkEntry.queries("q_pipeline_web")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!pw.contains("CartesianProduct") &&
           !pw.contains("BroadcastNestedLoopJoin"),
      s"q_pipeline_web plan contains a cartesian:\n$pw")
    assert(pw.contains("partial_count"),
      s"q_pipeline_web lost partial agg:\n$pw")
  }

  test("r7 wave-3 plans: joins cartesian-free; aggs stay partial") {
    // the event/warehouse/graph additions: every join must plan as a
    // hash/broadcast equi-join (gridJoin's 3×3 rewrite, the RI anti
    // joins, BFS's frontier joins, hierarchy's parent-following,
    // vocab's token-keyed self-join — none may degenerate).
    // q_series_corr / q_chi2 are excluded by design: their hour×type /
    // source×lang gap-fill grid IS an intentional broadcast cross of
    // two tiny DISTINCT dimension frames (bounded by cardinality, not
    // data) — the same contract as q_cross.
    for (q <- Seq("q_geo_join", "q_ri_audit", "q_bfs", "q_hierarchy",
                  "q_vocab_overlap", "q_boxplot")) {
      val plan = graft.SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") &&
             !plan.contains("BroadcastNestedLoopJoin"),
        s"$q plan contains a cartesian:\n$plan")
    }
    // the window-family additions partial-aggregate their final rollup
    for (q <- Seq("q_markov", "q_skew_report", "q_cusum")) {
      val plan = graft.SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(plan.contains("partial_count") ||
             plan.contains("partial_sum"),
        s"$q lost partial aggregation:\n$plan")
    }
    // equidepth must NOT carry a single-partition window: the ntile
    // rewrite's whole point (range repartition, windows keyed by pid)
    val eq = graft.SparkEntry.queries("q_equidepth")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(eq.contains("Exchange rangepartitioning"),
      s"q_equidepth lost the parallel range sort:\n$eq")
    assert(!eq.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      s"q_equidepth funnels through one partition:\n$eq")
  }

  test("pipeline operators keep partial aggregation and no cartesian") {
    // q_split / q_pipeline_e2e are pure column math + keyed aggs: the
    // count must be map-side partial and nothing may cross-product
    for (q <- Seq("q_split", "q_pipeline_e2e")) {
      val plan = graft.SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(plan.contains("partial_count"), s"$q lost partial agg:\n$plan")
      assert(!plan.contains("CartesianProduct"),
        s"$q plan contains a cartesian:\n$plan")
    }
    // decontam's scale claim: the eval side BROADCASTS (the intended
    // small-side product, like knnBrute) — never a shuffled cartesian
    val dc = graft.SparkEntry.queries("q_decontam")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(dc.contains("Broadcast"), s"q_decontam eval side not broadcast:\n$dc")
    assert(!dc.contains("CartesianProduct"),
      s"q_decontam plan contains a shuffled cartesian:\n$dc")
    // the discovery-scale composition: candidate gen AND verify are
    // broadcast probes against the eval side, nothing cross-products
    // and nothing nested-loops — the plan contract behind its 100 TB
    // claim (the broadcast q_decontam form is the small-eval product
    // BY contract; this one must not even have that)
    val dcl = graft.SparkEntry.queries("q_decontam_lsh")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(dcl.contains("BroadcastHashJoin"),
      s"q_decontam_lsh candidate/verify probes not broadcast:\n$dcl")
    assert(!dcl.contains("CartesianProduct") &&
           !dcl.contains("BroadcastNestedLoopJoin"),
      s"q_decontam_lsh plan contains a cartesian:\n$dcl")
    // exact n-gram decontam: the eval gram set must broadcast (the
    // corpus side stays shuffle-free until the per-doc hit count) and
    // the hit count must aggregate partially
    val dcn = graft.SparkEntry.queries("q_decontam_ngram")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(dcn.contains("BroadcastHashJoin"),
      s"q_decontam_ngram eval gram set not broadcast:\n$dcn")
    assert(dcn.contains("partial_count"),
      s"q_decontam_ngram lost partial agg:\n$dcn")
    assert(!dcn.contains("CartesianProduct") &&
           !dcn.contains("BroadcastNestedLoopJoin"),
      s"q_decontam_ngram plan contains a cartesian:\n$dcn")
    // stratified sample: a pure scan-speed filter — no shuffle at all
    // before the display sort, no join, no aggregation
    val ss = graft.SparkEntry.queries("q_sample_stratified")(spark, sf)
      .queryExecution.executedPlan
    val ssStr = ss.toString
    assert(!ssStr.contains("Join") && !ssStr.contains("HashAggregate"),
      s"q_sample_stratified should be a pure filter:\n$ssStr")
    // mixture: ONE keyed shuffle (the per-lang window) + the display
    // sort; no join, no cartesian
    val mx = graft.SparkEntry.queries("q_mixture")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(mx.contains("Window"), s"q_mixture lost the keyed window:\n$mx")
    assert(mx.contains("hashpartitioning(lang"),
      s"q_mixture window not hash-partitioned on lang:\n$mx")
    assert(!mx.contains("Join") && !mx.contains("CartesianProduct"),
      s"q_mixture plan grew a join:\n$mx")
    // adaptive quality filter: all three windows share ONE lang hash
    // partitioning (exactly one exchange on lang), no join
    val qf = graft.SparkEntry.queries("q_quality_filter")(spark, sf)
      .queryExecution.executedPlan.toString
    val langExchanges = "hashpartitioning\\(lang".r
      .findAllIn(qf).size
    assert(qf.contains("Window") && langExchanges >= 1,
      s"q_quality_filter lost the keyed windows:\n$qf")
    assert(!qf.contains("Join"),
      s"q_quality_filter plan grew a join:\n$qf")
    // approx twin: the whole point is NO per-stratum sort — cutoffs
    // come from a partial-agg mergeable sketch, rejoined by BROADCAST;
    // any Window or sort-based exchange here is a scale regression
    val qfa = graft.SparkEntry.queries("q_quality_filter_approx")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!qfa.contains("Window"),
      s"q_quality_filter_approx grew a per-stratum window:\n$qfa")
    assert(qfa.contains("approx_percentile") &&
           qfa.contains("BroadcastHashJoin"),
      s"q_quality_filter_approx lost the sketch/broadcast shape:\n$qfa")
    // fixed-size sample: one keyed lang window, no join, no agg
    val st = graft.SparkEntry.queries("q_sample_topk")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(st.contains("Window") && st.contains("hashpartitioning(lang"),
      s"q_sample_topk lost the keyed window:\n$st")
    assert(!st.contains("Join") && !st.contains("HashAggregate"),
      s"q_sample_topk shape drifted:\n$st")
    // navigation family: keyed (user) window, no join anywhere
    val nv = graft.SparkEntry.queries("q_window_nav")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(nv.contains("Window") && nv.contains("hashpartitioning(user_id"),
      s"q_window_nav lost the keyed window:\n$nv")
    assert(!nv.contains("Join"), s"q_window_nav grew a join:\n$nv")
    // portable jaccard estimation rides the LSH candidate pairs — the
    // sig joins are keyed on doc ids, nothing cross-products
    val je = graft.SparkEntry.queries("q_jaccard_est")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!je.contains("CartesianProduct") &&
           !je.contains("BroadcastNestedLoopJoin"),
      s"q_jaccard_est plan contains a cartesian:\n$je")
    // packing: like mixture, ONE keyed lang window + partial agg — the
    // only join allowed is nothing at all (pure window + groupBy)
    val pk = graft.SparkEntry.queries("q_pack")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(pk.contains("Window") && pk.contains("hashpartitioning(lang"),
      s"q_pack lost the keyed lang window:\n$pk")
    assert(pk.contains("partial_count") && !pk.contains("Join"),
      s"q_pack shape drifted:\n$pk")
    // collocations: marginals are keyed-window sums over the aggregated
    // bigram table (no self-joins); N is a broadcast 1-row cross (the
    // scalar-subquery shape — the only nested-loop allowed); top-k
    // never full-sorts
    val cl = graft.SparkEntry.queries("q_collocations")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(cl.contains("hashpartitioning(l#") && cl.contains(
      "hashpartitioning(r#"), s"q_collocations lost a marginal window:\n$cl")
    assert(cl.contains("partial_count") &&
           cl.contains("TakeOrderedAndProject"),
      s"q_collocations shape drifted:\n$cl")
    assert(!cl.contains("CartesianProduct"),
      s"q_collocations has a shuffled cartesian:\n$cl")
    // segment dedup: the df join must stay a keyed (seg) shuffle join —
    // never a cartesian — and the df count must aggregate partially
    val sd = graft.SparkEntry.queries("q_segment_dedup")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(sd.contains("partial_count"),
      s"q_segment_dedup df count lost partial agg:\n$sd")
    assert(!sd.contains("CartesianProduct") &&
           !sd.contains("BroadcastNestedLoopJoin"),
      s"q_segment_dedup plan contains a cartesian:\n$sd")
    // chunking: pure per-row expansion — no join, no aggregation, the
    // only exchange is the display sort's range partitioning
    val ch = graft.SparkEntry.queries("q_chunk")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!ch.contains("Join") && !ch.contains("HashAggregate"),
      s"q_chunk should be a pure generate:\n$ch")
    // cluster dedup: the fixpoint rounds are keyed joins over the pair
    // graph — nothing may cross-product at any round. With a broadcast
    // threshold the pair graph fits, components labels it on the driver
    // and returns a local frame, so the threshold is off here to audit
    // the Fixpoint path.
    val bcKey = "spark.sql.autoBroadcastJoinThreshold"
    val bcSaved = spark.conf.getOption(bcKey)
    spark.conf.set(bcKey, "-1")
    val ccPlan = try graft.dedup.Dedup.components(
        graft.dedup.Dedup.minhashPairs(
          graft.tables.Tables(spark, sf).documents))
      .queryExecution.executedPlan.toString
    finally bcSaved.fold(spark.conf.unset(bcKey))(spark.conf.set(bcKey, _))
    assert(!ccPlan.contains("LocalTableScan"),
      s"components took the driver path:\n$ccPlan")
    assert(!ccPlan.contains("CartesianProduct") &&
           !ccPlan.contains("BroadcastNestedLoopJoin"),
      s"components result plan contains a cartesian:\n$ccPlan")
  }

  test("runtime bloom-filter join pruning injects on the fact side (§5)") {
    // the 100 TB lever the other pruning gates don't cover: a
    // SELECTIVE dim filter propagates to the fact scan as a runtime
    // bloom filter (InjectRuntimeFilter), so fact rows that can never
    // join are dropped at the scan instead of shuffled. Thresholds are
    // sized for production data; pull them down to demonstrate the
    // plan shape on test-scale input.
    val keep = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter" +
        ".applicationSideScanSizeThreshold", "0")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val t = graft.tables.Tables(spark, sf)
      val dim = t.customer.where(col("c_nationkey") === 3)
      val joined = t.orders.join(dim,
        col("o_custkey") === col("c_custkey"))
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain") &&
        plan.contains("bloom_filter_agg"),
        s"no runtime bloom filter injected:\n$plan")
      // the filter must sit on the FACT (orders) side
      val idx = plan.indexOf("might_contain")
      assert(plan.indexOf("o_custkey", idx) >= 0,
        "bloom filter not applied to the fact key")
      // and it must not change the answer
      val n = joined.count()
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      assert(n == t.orders.join(dim,
        col("o_custkey") === col("c_custkey")).count())
    } finally keep.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("bucketed-on-key join plans without a shuffle exchange") {
    val t = graft.tables.Tables(spark, sf)
    val base = java.nio.file.Files.createTempDirectory("graft_bkt")
    Scale.writeBucketed(t.orders, "orders_b", "o_orderkey", 4,
      base.resolve("o").toString)
    Scale.writeBucketed(
      t.lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
      "lineitem_b", "o_orderkey", 4, base.resolve("l").toString)
    // force the non-broadcast path: the point is that two tables
    // bucketed on the join key sort-merge WITHOUT a shuffle exchange
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("orders_b")
        .join(spark.table("lineitem_b"), "o_orderkey")
      val physical = joined.queryExecution.executedPlan.toString
      assert(!physical.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n$physical")
      assert(physical.contains("SortMergeJoin"))
      assert(joined.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("z-order layout: y-predicate prunes z-clustered files, not x-sorted ones") {
    // The layout claim behind q_zorder (#55h): range-partitioning files
    // on the interleaved key gives EVERY dimension locality, so
    // per-file min/max stats — exactly what lakehouse formats and
    // parquet row-group pruning consult — skip most files for a
    // predicate on the dimension a 1-D sort key does NOT cover.
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val pts = Seq.fill(1 << 14)(
        (rnd.nextInt(4096).toLong, rnd.nextInt(4096).toLong))
      .toDF("x", "y")
      .withColumn("z",
        graft.functions.ZOrder.zval(col("x"), col("y"), bits = 12))
    def filesIntersectingLowY(sortCol: String): (Int, Int) = {
      val d = java.nio.file.Files.createTempDirectory("graft_zord")
      pts.repartitionByRange(16, col(sortCol))
        .write.mode("overwrite").parquet(d.toString)
      val stats = spark.read.parquet(d.toString)
        .groupBy(input_file_name().as("f"))
        .agg(min("y").as("ymin")).collect()
      (stats.length, stats.count(_.getAs[Long]("ymin") < 256L))
    }
    val (nz, needZ) = filesIntersectingLowY("z")
    val (nx, needX) = filesIntersectingLowY("x")
    assert(nz == 16 && nx == 16, s"expected 16 files, got $nz / $nx")
    // x-sorted: every file spans the full y range — zero y-pruning
    assert(needX == 16, s"x-sorted layout unexpectedly pruned: $needX")
    // z-clustered: only the Morton cells whose y-band meets [0, 256)
    assert(needZ <= 6, s"z layout should prune most files, needed $needZ")
  }

  test("compact: collapses small files to target size, keeps content, z-layout prunes") {
    // the OPTIMIZE mechanics behind q_compact (r8-verdict ask #2):
    // 1. file count drops to ~bytes/target; 2. nothing is lost or
    // duplicated; 3. the z-order variant leaves per-file min/max tight
    // on BOTH clustering dimensions (the pruning signal parquet
    // row-group skipping and lakehouse file skipping consult)
    val t = graft.tables.Tables(spark, sf)
    val base = java.nio.file.Files.createTempDirectory("graft_cpt")
    val frag = base.resolve("frag").toString
    t.orders.repartition(40).write.parquet(frag)
    val nFrag = new java.io.File(frag).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(nFrag == 40, s"fragmentation setup wrote $nFrag files")

    // plain compaction: tiny table + generous target → exactly 1 file
    val plain = base.resolve("plain").toString
    val st1 = graft.ops.Scale.compact(spark, frag, plain, targetMB = 64)
    assert(st1.filesBefore == 40 && st1.filesAfter == 1,
      s"expected 40 -> 1 files, got $st1")
    // content equality both directions (no loss, no duplication)
    val orig = t.orders
    val comp = spark.read.parquet(plain)
    assert(comp.count() == orig.count(), "row count changed")
    assert(comp.exceptAll(orig).isEmpty && orig.exceptAll(comp).isEmpty,
      "compaction changed table content")

    // z-ordered compaction into multiple files: each output file must
    // cover a narrow band of BOTH dimensions — assert real pruning on
    // the second dim (a 1-D sort could only ever give the first)
    import org.apache.spark.sql.functions._
    val zdest = base.resolve("zopt").toString
    // target = bytes/8 → ~8 z-clustered output files on the tiny table
    val stz = graft.ops.Scale.compact(spark, frag, zdest,
      targetMB = st1.bytesBefore / 8.0 / 1024 / 1024,
      zorder = Some((pmod(col("o_custkey"), lit(4096)),
                     pmod(col("o_orderkey"), lit(4096)))))
    assert(stz.filesAfter > 2, s"z-compact produced too few files: $stz")
    val stats = spark.read.parquet(zdest)
      .select(input_file_name().as("f"),
        pmod(col("o_orderkey"), lit(4096)).as("y"))
      .groupBy("f").agg(min("y").as("ymin")).collect()
    val needLowY = stats.count(_.getAs[Long]("ymin") < 1024L)
    assert(needLowY < stats.length,
      s"z-compacted layout has no y-dimension locality " +
        s"(${stats.length} files, all intersect low y)")
    def rm(f: java.io.File): Unit = {
      val k = f.listFiles(); if (k != null) k.foreach(rm); f.delete(): Unit
    }
    rm(base.toFile)
  }

  test("join strategy hints steer the physical join (§5 knobs)") {
    // the per-join override for when the optimizer's default is wrong
    // at scale (stats-blind equal-size joins, broadcast-budget edges):
    // each hint must actually land in the physical plan
    val t = graft.tables.Tables(spark, sf)
    def join(r: org.apache.spark.sql.DataFrame) =
      t.orders.join(r, t.orders("o_custkey") === r("c_custkey"))
    def plan(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString
    assert(plan(join(t.customer.hint("merge")))
      .contains("SortMergeJoin"), "merge hint ignored")
    assert(plan(join(t.customer.hint("shuffle_hash")))
      .contains("ShuffledHashJoin"), "shuffle_hash hint ignored")
    assert(plan(join(broadcast(t.customer)))
      .contains("BroadcastHashJoin"), "broadcast hint ignored")
  }

  test("hive-partitioned read prunes at the PARTITION level (q_partition_prune)") {
    val out = java.nio.file.Files
      .createTempDirectory("graft_ppr").resolve("docs").toString
    graft.tables.Tables(spark, sf).documents.write
      .partitionBy("lang").parquet(out)
    val read = graft.ops.Queries.partitionPruneRead(spark, out)
    val plan = read.queryExecution.executedPlan.toString
    // the lang predicate must be a PartitionFilter on the scan (directory
    // pruning), never a post-scan data filter
    assert(plan.contains("PartitionFilters") && plan.contains("lang"),
      s"expected partition filters on lang in:\n$plan")
    assert(plan.contains("DataFilters: []") &&
      plan.contains("PushedFilters: []"),
      s"lang leaked into data filters:\n$plan")
    // and the scan must actually touch only the en/de directories
    val files = read.select(input_file_name().as("f")).distinct()
      .collect().map(_.getString(0))
    assert(files.nonEmpty &&
      files.forall(f => f.contains("lang=en") || f.contains("lang=de")),
      s"scan read non-matching partitions: ${files.mkString(", ")}")
  }
}
