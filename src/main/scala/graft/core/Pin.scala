package graft.core

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.storage.StorageLevel

/** graft's one way to compute a frame once, read it many times and
  * release it. `Pin(df, metrics*)` runs ONE job, `df.observe(count +:
  * metrics).localCheckpoint()`, so the row count and the caller's
  * aggregates ride the materialization. [[df]] carries `rowCount = rows`
  * and `sizeInBytes` = the bytes its blocks hold in the block manager
  * (memory + disk, read without a job; rows × the schema's row width is
  * the floor): a bare checkpoint keeps its source plan's estimate (tens
  * of GB for thousands of rows after a join) and plans a sort-merge
  * join where a broadcast join belongs, and a row-width estimate counts
  * an array or a string as one element (500 docs' minhash signatures
  * and shingle hashes: 16 KB estimated, 527 KB held).
  *
  * [[fits]] is graft's one gate for a driver kernel: an operator that
  * can finish a small input on the driver asks the pin whether it fits
  * Spark's own broadcast threshold.
  *
  * Lifetime: a pin used only inside the call that made it is OWNED —
  * close it in a `finally` (or `scala.util.Using`). A pin whose frame
  * ESCAPES into a returned lazy frame stays open, and Spark's
  * ContextCleaner frees its blocks once the RDD is unreachable.
  * `spark.catalog.clearCache()` and `Dataset.unpersist` do not touch
  * pins: the blocks belong to the checkpoint RDD, not the CacheManager.
  *
  * Why checkpoints, not `persist`: re-rooting an iterated persisted
  * frame at its `InMemoryRelation` went super-linear (34 s a round by
  * round 15 of 20, then out of memory), and its `unpersist` never
  * matched the cached plan, so nothing was freed. */
final class Pin private (val df: DataFrame, values: Map[String, Any])
    extends AutoCloseable {
  /** Rows in the pinned frame, observed by the pinning job. */
  def rows: Long = values(Pin.Rows).asInstanceOf[Long]

  /** An aggregate passed to `Pin(df, metrics*)`, by its alias. */
  def metric(name: String): Any = values(name)

  /** The bytes the pinned blocks hold: [[df]]'s `sizeInBytes`. */
  def bytes: BigInt = df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** The pinned frame fits the driver ([[Pin.fits]] of [[bytes]]). */
  def fits: Boolean = Pin.fits(df.sparkSession, bytes)

  /** Pin `next` — computed from this pin's frame — then close this
    * pin, whether or not that succeeds: the loop discipline of every
    * iterated algorithm, so at most two rounds hold blocks at once. */
  def advance(next: DataFrame, metrics: Column*): Pin =
    try Pin(next, metrics: _*) finally close()

  /** Free the blocks; the frame must not be read afterwards. */
  def close(): Unit = Pin.rdd(df).foreach(_.unpersist(blocking = false))
}

object Pin {
  private val Rows = "__pin_rows"

  def apply(df: DataFrame, metrics: Column*): Pin = {
    val obs = Observation()
    val ckpt = df.observe(obs, count(lit(1)).as(Rows), metrics: _*)
      .localCheckpoint()
    val values = obs.get
    new Pin(org.apache.spark.sql.graftbridge.Bridge.withStats(ckpt,
      values(Rows).asInstanceOf[Long]), values)
  }

  /** The driver gate: `bytes` are at or below the session's
    * `spark.sql.autoBroadcastJoinThreshold`, and that is > 0. It is the
    * size Spark itself ships through the driver to broadcast a join
    * side, so a frame under it may be collected and finished there;
    * -1 turns every driver kernel off with broadcasting. The only
    * reader of that setting in graft (a CoreSpec scan keeps it so). */
  def fits(spark: SparkSession, bytes: BigInt): Boolean = {
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    threshold > 0 && bytes <= threshold
  }

  /** `df` is a checkpoint with its blocks held (a lazy RDD-backed
    * frame such as `createDataFrame(rdd)` or a streaming batch is not). */
  def isPinned(df: DataFrame): Boolean =
    rdd(df).exists(_.getStorageLevel != StorageLevel.NONE)

  private def rdd(df: DataFrame) = df.queryExecution.analyzed match {
    case r: LogicalRDD => Some(r.rdd)
    case _ => None
  }
}
