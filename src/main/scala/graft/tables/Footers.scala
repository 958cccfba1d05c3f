package graft.tables

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DataType, StructType}

/** Driver-side parquet FOOTER reads — the metadata a lakehouse format
  * keeps in its manifests, recovered straight from the files. Bounded
  * by FILE COUNT (the same bound as the manifest/name-list collects
  * this layer already documents), never by rows. Two uses, both
  * replacing whole Spark jobs in the commit path (guide §1.2 — remove
  * work, §5 — keep the driver out of data, but metadata is fine):
  *
  *  - exact per-file ROW COUNTS: a footer's row-group counts are the
  *    very numbers `count()` aggregates, so DML accounting
  *    (rowsBefore / hitBefore / rowsAfter) needs no job at all;
  *  - the file's LENGTH, from the same open: whether a rewrite's or
  *    a profile's input fits one scan task, and OPTIMIZE's file sizes;
  *  - the file's SPARK SCHEMA (the `org.apache.spark.sql.parquet.row.
  *    metadata` footer key every Spark-written file carries — the same
  *    key Spark's own `mergeSchema` path prefers), so chain reads can
  *    pass an explicit merged schema instead of launching a
  *    distributed footer-merge job per DataFrame creation.
  *
  * Files without the key (non-Spark writers) report no schema and
  * callers fall back to the real `mergeSchema` read — behavior
  * identical, just without the saving. The one write, [[writeEmpty]],
  * gives a rewrite target with no rows its footer-only file. */
object Footers {
  final case class Info(rows: Long, schema: Option[StructType],
                        bytes: Long)

  private val SparkSchemaKey =
    "org.apache.spark.sql.parquet.row.metadata"

  /** Footer info for each file, read driver-side in a small bounded
    * pool — one open + footer parse per file, no Spark job. */
  def read(spark: SparkSession, files: Seq[String])
      : Map[String, Info] = {
    if (files.isEmpty) return Map.empty
    val conf = spark.sessionState.newHadoopConf()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(8, files.size))
    try {
      val tasks = files.map { f =>
        f -> pool.submit(new java.util.concurrent.Callable[(String, Info)] {
          override def call(): (String, Info) = {
            val in = org.apache.parquet.hadoop.util.HadoopInputFile
              .fromPath(new Path(f), conf)
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            try {
              val schema = Option(r.getFileMetaData
                .getKeyValueMetaData.get(SparkSchemaKey))
                .flatMap(j => scala.util.Try(DataType.fromJson(j)
                  .asInstanceOf[StructType]).toOption)
              f -> Info(r.getRecordCount, schema, in.getLength)
            } finally r.close()
          }
        })
      }
      tasks.map { case (f, t) =>
        try t.get()
        catch { case e: java.util.concurrent.ExecutionException =>
          // cancel the remaining queued reads and surface a
          // DESCRIPTIVE failure naming the offending file (r12
          // advice: the bare ExecutionException hid both)
          pool.shutdownNow(): Unit
          throw new java.io.IOException(
            s"parquet footer read failed for $f: " +
              s"${Option(e.getCause).getOrElse(e).getMessage}",
            Option(e.getCause).getOrElse(e))
        }
      }.toMap
    } finally pool.shutdown()
  }

  /** Write a ZERO-ROW parquet file at `path` on the driver, no Spark
    * job: Spark's own parquet writer, opened and closed with no row,
    * so the footer carries `schema` exactly as a Spark write does. */
  def writeEmpty(spark: SparkSession, path: Path, schema: StructType): Unit = {
    val job = org.apache.hadoop.mapreduce.Job.getInstance(
      spark.sessionState.newHadoopConf())
    new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, schema)
      .newInstance(path.toString, schema,
        new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
          job.getConfiguration, new org.apache.hadoop.mapreduce.TaskAttemptID()))
      .close()
  }

  /** Exact row total of `files` from footers alone — the number
    * `spark.read.parquet(files).count()` returns, without the job.
    * Summed per OCCURRENCE in `files` (r12 advice: a Map-values sum
    * silently deduplicated repeated paths, unlike the count() this
    * replaces). */
  def rowCount(spark: SparkSession, files: Seq[String]): Long = {
    val m = read(spark, files)
    files.iterator.map(m(_).rows).sum
  }
}
