package graft.tables

import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._
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
  *  - `stats`: per-file data-skipping stats ([[Stats]]), written by
  *    [[graft.ops.Scale.analyzeTable]] and kept current by every later
  *    commit of the chain; None for a chain never ANALYZEd.
  *  - `parts`: an artifact's named sub-tables (the edge artifact's
  *    `edges`/`degrees`, the ANN index's `centroids`, `assigned`,
  *    `codebook`, `codes`), each with its schema and files
  *    ([[Part]]); read through [[VersionStore.read]]. A part the
  *    record does not name does not exist.
  *  - `batchId`: the highest streaming batch a sink has merged into
  *    the chain ([[graft.streaming.Streams.cowMergeBatch]]), written
  *    by that MERGE's own commit and carried by every later commit
  *    (RESTORE keeps the head's; a CLONE starts without one), so a
  *    replay of a merged batch finds its id in the head's record.
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
    stats: Option[Stats] = None,
    parts: Map[String, Part] = Map.empty,
    batchId: Option[Long] = None,
    op: String = "",
    detail: String = "",
    ts: Long = 0L) {

  /** The version's own directory: where the data files it wrote live. */
  def vdir: String = VersionStore.versionDir(dir, version)

  /** The recorded part `name`; fails naming it when the record has no
    * such part. */
  def part(name: String): Part = parts.getOrElse(name,
    sys.error(s"version $version of $dir records no part '$name'"))
}

/** A named sub-table of a version: its schema and data files, read
  * under that schema with no footer inference. */
final case class Part(schema: StructType, files: Seq[String])

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
      "stats" -> s.stats.map(Stats.toJson).getOrElse(JNothing),
      "parts" -> JObject(s.parts.toList.sortBy(_._1).map { case (n, p) =>
        n -> JObject("schema" -> parse(p.schema.json),
          "files" -> strs(p.files)) }),
      "batchId" -> s.batchId.map(JLong(_)).getOrElse(JNothing),
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
    def struct(v: JValue): StructType =
      DataType.fromJson(compact(render(v))).asInstanceOf[StructType]
    def long(v: JValue): Option[Long] = v match {
      case JInt(n) => Some(n.toLong)
      case JLong(n) => Some(n)
      case _ => None
    }
    Snapshot(dir, version,
      files = strs(j \ "files"),
      schema = j \ "schema" match {
        case JNothing | JNull => None
        case st => Some(struct(st))
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
      stats = j \ "stats" match {
        case JNothing | JNull => None
        case st => Some(Stats.fromJson(st))
      },
      parts = fields(j \ "parts").map { case (n, p) =>
        n -> Part(struct(p \ "schema"), strs(p \ "files")) }.toMap,
      batchId = long(j \ "batchId"),
      op = str("op"),
      detail = str("detail"),
      ts = long(j \ "ts").getOrElse(throw new IllegalStateException(
        s"commit record of version $version under $dir has no ts: " +
          (j \ "ts"))))
  }
}

/** Per-file data-skipping stats of a version: the ANALYZEd `columns`
  * with their types and, for each data file that holds rows, its row
  * count `cnt` and, in `columns` order, each column's min, max and
  * null count. Values are the Row values Spark collects for the
  * column's type (`Long`, `Double`, `java.math.BigDecimal`,
  * `java.sql.Timestamp`, ...); min and max are null for a file whose
  * column is all-NULL. A file with no entry holds no rows. */
final case class Stats(columns: StructType,
                       files: Map[String, Stats.File]) {

  require(columns.forall(c => Stats.recordable(c.dataType)),
    "the commit record cannot carry stats of " + columns.filterNot(c =>
      Stats.recordable(c.dataType)).map(_.toDDL).mkString(", "))

  /** The stats without `names`; None once no column is left. */
  def without(names: Set[String]): Option[Stats] = {
    val keep = columns.indices.filterNot(i => names(columns(i).name))
    Option.when(keep.nonEmpty)(Stats(StructType(keep.map(columns(_))),
      files.map { case (f, e) => f -> Stats.File(e.cnt, keep.map(e.min),
        keep.map(e.max), keep.map(e.nulls)) }))
  }
}

object Stats {
  final case class File(cnt: Long, min: Seq[Any], max: Seq[Any],
                        nulls: Seq[Long])

  // values travel as text: Java's text of a number parses back to the
  // same value (NaN, -0.0 and a decimal's scale included), dates and
  // timestamps as Spark's day and microsecond counts, converted both
  // ways by the rules collect and createDataFrame use
  private def encode(t: DataType)(v: Any): JValue =
    if (v == null) JNull else JString(t match {
      case DateType => DateTimeUtils.anyToDays(v).toString
      case TimestampType => DateTimeUtils.anyToMicros(v).toString
      case TimestampNTZType => DateTimeUtils.localDateTimeToMicros(
        v.asInstanceOf[java.time.LocalDateTime]).toString
      case _ => v.toString
    })

  private val fromText: PartialFunction[DataType, String => Any] = {
    case BooleanType => _.toBoolean
    case ByteType => _.toByte
    case ShortType => _.toShort
    case IntegerType => _.toInt
    case LongType => _.toLong
    case FloatType => _.toFloat
    case DoubleType => _.toDouble
    case _: DecimalType => new java.math.BigDecimal(_)
    case _: StringType => identity
    case DateType => s => DateTimeUtils.toJavaDate(s.toInt)
    case TimestampType => s => DateTimeUtils.toJavaTimestamp(s.toLong)
    case TimestampNTZType => s => DateTimeUtils.microsToLocalDateTime(s.toLong)
  }

  /** Types whose values the record carries exactly. */
  def recordable(t: DataType): Boolean = fromText.isDefinedAt(t)

  private def long(j: JValue): Long = j match {
    case JInt(n) => n.toLong
    case JLong(n) => n
    case o => throw new IllegalStateException(s"not an integer: $o")
  }

  /** `{"columns": <schema>, "files": {f: {"cnt": n, "min": [...],
    * "max": [...], "nulls": [...]}}}`. */
  private[tables] def toJson(s: Stats): JValue = JObject(
    "columns" -> parse(s.columns.json),
    "files" -> JObject(s.files.toList.sortBy(_._1).map { case (f, e) =>
      def vals(vs: Seq[Any]) = JArray(s.columns.toList.zip(vs)
        .map { case (c, v) => encode(c.dataType)(v) })
      f -> JObject("cnt" -> JLong(e.cnt), "min" -> vals(e.min),
        "max" -> vals(e.max), "nulls" -> JArray(e.nulls.map(JLong(_)).toList))
    }))

  private[tables] def fromJson(j: JValue): Stats = {
    val columns = DataType.fromJson(compact(render(j \ "columns")))
      .asInstanceOf[StructType]
    def vals(v: JValue) = columns.toList.zip(v.children).map {
      case (c, JString(x)) => fromText(c.dataType)(x)
      case _ => null
    }
    Stats(columns, (j \ "files").asInstanceOf[JObject].obj.map {
      case (f, e) => f -> File(long(e \ "cnt"), vals(e \ "min"),
        vals(e \ "max"), (e \ "nulls").children.map(long))
    }.toMap)
  }
}
