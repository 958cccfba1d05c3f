package graft.tables

import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

/** One committed version of a chain, resolved once per statement:
  * everything a reader or the next writer needs, from one listing and
  * one commit-record read ([[VersionStore.snapshot]]). Immutable — a
  * statement that resolved it keeps serving the same version while
  * concurrent writers advance the head.
  *
  *  - `files`: the data files this version consists of. Files may live
  *    OUTSIDE `v=<n>` (untouched originals referenced by POINTER, the
  *    Delta/Iceberg copy-on-write shape).
  *  - `schema`: the declared logical schema, written by metadata-only
  *    DDL ([[graft.ops.Scale.addColumn]]); readers align pointer files
  *    that physically predate the DDL (missing columns read as NULL).
  *  - `constraints`: CHECK constraints (`name -> sql`), enforced by
  *    [[graft.ops.Scale]]'s DML on the rows it rewrites or inserts.
  *  - `renames`: COLUMN MAPPING, logical name → the physical aliases
  *    older files still carry; readers coalesce them, so RENAME COLUMN
  *    is metadata-only ([[graft.ops.Scale.renameColumn]]).
  *  - `partitions`: per-file FILE-CONSTANT column values
  *    ([[graft.ops.Scale.registerPartitions]] verifies them before
  *    recording); DML hit detection and pruned reads consult them
  *    before opening any stats. Files without an entry are simply
  *    unprunable by partition — sound, never wrong. Values are stored
  *    as strings and cast to the column's declared type at use.
  *  - `op`, `detail`, `ts`: what produced the version and when (epoch
  *    millis, monotonic along the chain — stamped by
  *    [[VersionStore.commit]], so a record a writer is still building
  *    carries 0 until then).
  *
  * Every committed version carries its record; a chain with no
  * record has no version. */
final case class Snapshot(
    dir: String,
    version: Long,
    files: Seq[String],
    schema: Option[StructType] = None,
    constraints: Seq[(String, String)] = Seq.empty,
    renames: Map[String, Seq[String]] = Map.empty,
    partitions: Map[String, Map[String, String]] = Map.empty,
    op: String = "",
    detail: String = "",
    ts: Long = 0L) {

  /** The version's own directory: where the data files it wrote live
    * (an artifact's `edges/`, `centroids/`, ... are subdirs of it). */
  def vdir: String = VersionStore.versionDir(dir, version)
}

object Snapshot {

  /** The commit record's JSON: every field but `dir` and `version`,
    * which are where the record lives. */
  private[tables] def toJson(s: Snapshot): String = {
    def strs(xs: Seq[String]) = JArray(xs.map(JString(_)).toList)
    compact(render(JObject(
      "files" -> strs(s.files),
      "schema" -> s.schema.map(st => parse(st.json)).getOrElse(JNothing),
      "constraints" -> JArray(s.constraints.map { case (n, c) =>
        strs(Seq(n, c)) }.toList),
      "renames" -> JObject(s.renames.toList.sortBy(_._1).map {
        case (n, as) => n -> strs(as) }),
      "partitions" -> JObject(s.partitions.toList.sortBy(_._1).map {
        case (f, kv) => f -> JObject(kv.toList.sorted.map {
          case (k, v) => k -> (JString(v): JValue) }) }),
      "op" -> JString(s.op),
      "detail" -> JString(s.detail),
      "ts" -> JLong(s.ts))))
  }

  private[tables] def fromJson(dir: String, version: Long, json: String)
      : Snapshot = {
    val j = parse(json)
    def strs(v: JValue): List[String] = v match {
      case JArray(xs) => xs.collect { case JString(x) => x }
      case _ => Nil
    }
    def fields(v: JValue): List[(String, JValue)] = v match {
      case JObject(fs) => fs
      case _ => Nil
    }
    def str(f: String): String = j \ f match {
      case JString(x) => x
      case _ => ""
    }
    Snapshot(dir, version,
      files = strs(j \ "files"),
      schema = j \ "schema" match {
        case JNothing | JNull => None
        case st => Some(DataType.fromJson(compact(render(st)))
          .asInstanceOf[StructType])
      },
      constraints = (j \ "constraints") match {
        case JArray(xs) => xs.map(strs).collect { case List(n, c) => (n, c) }
        case _ => Nil
      },
      renames = fields(j \ "renames").map { case (n, as) => n -> strs(as) }
        .toMap,
      partitions = fields(j \ "partitions").map { case (f, kv) =>
        f -> fields(kv).collect { case (k, JString(v)) => k -> v }.toMap
      }.toMap,
      op = str("op"),
      detail = str("detail"),
      ts = j \ "ts" match {
        case JInt(n) => n.toLong
        case JLong(n) => n
        case t => throw new IllegalStateException(
          s"commit record of version $version under $dir has no ts: $t")
      })
  }
}
