package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.RDDBlockId
import org.apache.spark.sql.{DataFrame, SparkSession, classic}

/** The one `private[sql]` seam graft's SQL surface needs: turning an
  * already-analyzed [[LogicalPlan]] (the MERGE statement's source
  * subtree) back into a [[DataFrame]] so
  * [[graft.sql.GraftMergeCommand]] can hand it to the existing
  * `Scale.mergeInto` API. Placing this object under
  * `org.apache.spark.sql` is the standard connector idiom (Delta,
  * Sedona, spark-excel all ship such a shim) — no Spark internals are
  * copied, only the accessibility boundary is crossed. */
object Bridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** This predicate as the v1 [[org.apache.spark.sql.sources.Filter]]
    * core Spark would hand a `SupportsDelete` connector, if it
    * translates at all. [[graft.sql.GraftMergeRule]]'s DELETE arm
    * composes this with the catalog's OWN spellability test
    * (`GraftFilters.filterSql`) so the arm steps aside exactly when
    * the hook can serve the statement — translate-only gating skipped
    * predicates (LIKE, EqualNullSafe, nested fields) that the hook
    * then refused (r11 advice). */
  def v1Filter(
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.execution.datasources.DataSourceStrategy
      .translateFilter(e, supportNestedPredicatePushdown = true)

  /** Re-tag a computed batch frame as STREAMING for a v1 streaming
    * `Source.getBatch` return value (MicroBatchExecution asserts
    * `isStreaming`; the file source marks its relation the same way).
    * The plan stays fully distributed — `toRdd` is the lazily-
    * executed physical plan, pinned into a streaming-tagged
    * [[LogicalRDD]]. */
  def asStreamingBatch(df: DataFrame): DataFrame =
    ofRows(df.sparkSession, LogicalRDD(df.queryExecution.analyzed.output,
      df.queryExecution.toRdd, isStreaming = true)(
      df.sparkSession.asInstanceOf[classic.SparkSession]))

  /** A checkpointed frame re-planned with its observed row count and
    * the bytes its blocks hold, memory + disk, as the block-manager
    * master records them: each task reports its block before it ends,
    * so the figure is complete once the checkpoint's job returns, and
    * reading it runs no job. The schema's row width × rows is the
    * floor; alone it counts an array or a string as one element. */
  def withStats(df: DataFrame, rows: Long): DataFrame = {
    val r = df.queryExecution.analyzed.asInstanceOf[LogicalRDD]
    val stored = org.apache.spark.SparkEnv.get.blockManager.master
      .getStorageStatus.iterator.flatMap(_.rddBlocks).collect {
        case (RDDBlockId(id, _), b) if id == r.rdd.id =>
          BigInt(b.memSize + b.diskSize)
      }.sum
    val stats = Statistics(rowCount = Some(BigInt(rows)), sizeInBytes =
      stored.max(EstimationUtils.getSizePerRow(r.output) * rows).max(1))
    ofRows(df.sparkSession, LogicalRDD(r.output, r.rdd,
      r.outputPartitioning, r.outputOrdering, r.isStreaming)(
      df.sparkSession.asInstanceOf[classic.SparkSession], Some(stats), None))
  }

  /** `StructType.merge` is `private[sql]`; chain reads merge per-file
    * footer schemas with it — the same reduction Spark's own
    * `mergeSchema` path performs — so an explicit-schema read can
    * replace the distributed footer-merge job (guide §1.2). */
  def mergeSchemas(ss: Seq[org.apache.spark.sql.types.StructType])
      : org.apache.spark.sql.types.StructType =
    ss.reduceLeft(_ merge _)

  /** Wrap a catalyst expression as a user-facing [[Column]] (the
    * UPDATE/DELETE commands re-resolve statement expressions against
    * the COW rewrite's own frame — attributes are unresolved-by-name
    * before they get here). */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)
}
