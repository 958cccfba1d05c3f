package graft.streaming

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.ops.Scale
import graft.tables.VersionStore

/** `spark.readStream.format("graft").load("/table")` — the chain's
  * CHANGE DATA FEED as a first-class streaming source (r11 verdict
  * ask #3's streaming half): each commit arrives as its manifest-diff
  * delta, rows tagged `op` ∈ D/I and `version`. Unlike the spool path
  * ([[graft.ops.Scale.readChangesStream]], which funnels each delta
  * through one file for file-source exactly-once), this source serves
  * every delta DISTRIBUTED straight off the manifests — no spool dir,
  * no extra copy of the changed data; per-trigger cost is the
  * commit's changed files. Offsets are VERSION IDS: the checkpoint
  * records "all commits ≤ v emitted", restart recomputes exactly the
  * un-emitted suffix (the manifest diff of a committed pair is
  * deterministic), so delivery is exactly-once at the version level.
  * Convention matches Delta CDF and [[Scale.spoolChanges]]: the
  * chain's FIRST committed version is the base snapshot — deltas
  * start at the second. Retention ([[VersionStore.retain]]) must
  * keep the versions an offline consumer still needs: a pruned
  * predecessor fails loudly, never silently skips. The
  * schema is fixed at stream start (head's declared schema + tags);
  * later deltas align to it — Delta CDF's rule. */
class GraftSourceProvider extends StreamSourceProvider
    with DataSourceRegister {

  override def shortName(): String = "graft"

  private def dirOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "the graft source needs a table path: " +
        "readStream.format(\"graft\").load(\"/table\")"))

  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String])
      : (String, StructType) =
    ("graft", GraftChangesSource.changeSchema(
      sqlContext.sparkSession, dirOf(parameters)))

  override def createSource(sqlContext: SQLContext,
                            metadataPath: String,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): Source =
    new GraftChangesSource(sqlContext.sparkSession, dirOf(parameters),
      metadataPath)
}

object GraftChangesSource {
  /** The feed's row shape: the head's served schema plus the CDF
    * tags. */
  def changeSchema(spark: SparkSession, dir: String): StructType =
    Scale.readSnapshot(spark, VersionStore.snapshot(spark, dir)).schema
      .add("op", StringType).add("version", LongType)
}

/** One chain's change feed as a v1 streaming [[Source]] (the API the
  * file source itself uses; `getBatch` returning a DataFrame lets the
  * delta stay a distributed plan). */
class GraftChangesSource(spark: SparkSession, dir: String,
                         metadataPath: String)
    extends Source {

  private val fixedSchema =
    GraftChangesSource.changeSchema(spark, dir)

  override def schema: StructType = fixedSchema

  private def committedSorted: Seq[Long] =
    VersionStore.committed(spark, dir).sorted

  /** Base snapshot = the chain's first committed version at the
    * stream's FIRST start, PERSISTED under the checkpoint's metadata
    * path: a restart must reuse the original base (r12 review —
    * recomputing it after retention pruned early versions would make
    * a replayed batch-0 silently skip deltas its offset range
    * covered; the gap require below then fails loudly instead). */
  private val baseVersion: Long = {
    val fs = new org.apache.hadoop.fs.Path(metadataPath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val p = new org.apache.hadoop.fs.Path(metadataPath, "graft-base")
    if (fs.exists(p)) {
      val in = fs.open(p)
      try new String(org.apache.hadoop.io.IOUtils
        .readFullyToByteArray(in), "UTF-8").trim.toLong
      finally in.close()
    } else {
      val base = committedSorted.headOption
        .getOrElse(throw new IllegalArgumentException(
          s"no committed versions under $dir"))
      fs.mkdirs(p.getParent): Unit
      val out = fs.create(p, false) // single stream owns its checkpoint
      try out.write(base.toString.getBytes("UTF-8")) finally out.close()
      base
    }
  }

  override def getOffset: Option[Offset] = {
    val head = committedSorted.lastOption.getOrElse(baseVersion)
    if (head <= baseVersion) None else Some(LongOffset(head))
  }

  private def ver(o: Offset): Long = o.json.trim.toLong

  override def getBatch(start: Option[Offset], end: Offset)
      : DataFrame = {
    val from = start.map(ver).getOrElse(baseVersion)
    val to = ver(end)
    val vs = committedSorted
    val todo = vs.filter(v => v > from && v <= to)
    // version ids are consecutive (every publish is head+1), so a
    // shorter todo than the offset range means retention pruned
    // versions this stream still owed its sink — fail LOUDLY, never
    // silently skip committed changes (exactly-once at version level)
    require(todo.size == to - from,
      s"change stream over $dir lost versions in ($from, $to]: only " +
        s"${todo.mkString(", ")} remain — retention pruned commits " +
        "this checkpoint still needed; restart from a fresh checkpoint")
    // align every delta to the stream's FIXED schema (a later ADD
    // COLUMN null-fills backwards; a drop serves NULL forward)
    def aligned(df: DataFrame): DataFrame = {
      val have = df.columns.toSet
      df.select(fixedSchema.fields.toIndexedSeq.map(f =>
        (if (have(f.name)) col(f.name).cast(f.dataType)
         else lit(null).cast(f.dataType)).as(f.name)): _*)
    }
    val empty = aligned(
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        fixedSchema))
    val deltas = todo.map { v =>
      val prior = vs.filter(_ < v)
      require(prior.nonEmpty,
        s"cannot serve version $v of $dir: its predecessor was pruned " +
          "by retention while this stream was behind — restart the " +
          "stream from a fresh checkpoint")
      aligned(Scale.tableChanges(spark, dir, prior.max, v)
        .withColumn("version", lit(v)))
    }
    // the batch must carry the streaming tag (MicroBatchExecution
    // asserts it); the union stays a distributed plan underneath
    org.apache.spark.sql.graftbridge.Bridge.asStreamingBatch(
      deltas.foldLeft(empty)(_ unionByName _))
  }

  override def stop(): Unit = ()
}
