package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructType, TimestampType}

/** Maintenance/lifecycle statements for graft chains, Delta-parser
  * style: statements core Spark has no grammar for, recognized up
  * front and everything else delegated verbatim to Spark's own parser
  * (injected via `GraftSql.mergeSession`'s `injectParser`):
  *
  * {{{
  *   DESCRIBE HISTORY graft.`/path`
  *   OPTIMIZE graft.`/path` TARGET <n> MB [ZORDER BY (x, y)]
  *   RESTORE TABLE graft.`/path` TO VERSION AS OF <v>
  *   VACUUM graft.`/path` RETAIN <k> VERSIONS
  *   VACUUM graft.`/path` RETAIN <n> HOURS
  *   ANALYZE graft.`/path` COLUMNS (a, b)
  *   ALTER TABLE graft.`/path` ADD CONSTRAINT name CHECK (expr)
  *   CLONE graft.`/src` TO graft.`/dst`
  *   INSERT INTO graft.`/path` REPLACE WHERE <cond> SELECT …
  *   TABLE CHANGES graft.`/path` FROM <v1> TO <v2>
  * }}}
  *
  * Each routes to the existing chain operation (history /
  * optimizeTable / restoreTable / retention / analyzeTable /
  * addConstraint / cloneTable / overwriteWhere / tableChanges) — the
  * SQL layer adds spelling, not semantics. */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {

  private val History =
    """(?is)\s*DESCRIBE\s+HISTORY\s+graft\.`([^`]+)`\s*;?\s*""".r
  private val Optimize =
    """(?is)\s*OPTIMIZE\s+graft\.`([^`]+)`\s+TARGET\s+(\d+(?:\.\d+)?)\s*MB\s*;?\s*""".r
  private val OptimizeZ =
    """(?is)\s*OPTIMIZE\s+graft\.`([^`]+)`\s+TARGET\s+(\d+(?:\.\d+)?)\s*MB\s+ZORDER\s+BY\s*\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*,\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)\s*;?\s*""".r
  private val Restore =
    """(?is)\s*RESTORE\s+TABLE\s+graft\.`([^`]+)`\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*""".r
  private val Vacuum =
    """(?is)\s*VACUUM\s+graft\.`([^`]+)`\s+RETAIN\s+(\d+)\s+VERSIONS\s*;?\s*""".r
  private val Analyze =
    """(?is)\s*ANALYZE\s+graft\.`([^`]+)`\s+COLUMNS\s*\(\s*([A-Za-z_][A-Za-z0-9_]*(?:\s*,\s*[A-Za-z_][A-Za-z0-9_]*)*)\s*\)\s*;?\s*""".r
  private val AddCons =
    """(?is)\s*ALTER\s+TABLE\s+graft\.`([^`]+)`\s+ADD\s+CONSTRAINT\s+([A-Za-z_][A-Za-z0-9_]*)\s+CHECK\s*\((.+)\)\s*;?\s*""".r
  private val CloneT =
    """(?is)\s*CLONE\s+graft\.`([^`]+)`\s+TO\s+graft\.`([^`]+)`\s*;?\s*""".r
  private val ReplaceWhere =
    """(?is)\s*INSERT\s+INTO\s+graft\.`([^`]+)`\s+REPLACE\s+WHERE\s+(.+?)\s+(SELECT\b.*)""".r
  private val TableChanges =
    """(?is)\s*TABLE\s+CHANGES\s+graft\.`([^`]+)`\s+FROM\s+(\d+)\s+TO\s+(\d+)\s*;?\s*""".r
  private val VacuumHours =
    """(?is)\s*VACUUM\s+graft\.`([^`]+)`\s+RETAIN\s+(\d+(?:\.\d+)?)\s+HOURS\s*;?\s*""".r

  override def parsePlan(sqlText: String): LogicalPlan =
    sqlText match {
      case History(dir) => GraftHistoryCommand(dir)
      case OptimizeZ(dir, mb, zx, zy) =>
        GraftOptimizeCommand(dir, mb.toDouble, Some((zx, zy)))
      case Optimize(dir, mb) => GraftOptimizeCommand(dir, mb.toDouble)
      case Restore(dir, v) => GraftRestoreCommand(dir, v.toLong)
      case Vacuum(dir, k) => GraftVacuumCommand(dir, k.toInt)
      case VacuumHours(dir, h) => GraftVacuumHoursCommand(dir, h.toDouble)
      case Analyze(dir, cols) =>
        GraftAnalyzeCommand(dir,
          cols.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      case AddCons(dir, name, cond) =>
        GraftAddConstraintCommand(dir, name, cond.trim)
      case CloneT(src, dst) => GraftCloneCommand(src, dst)
      case TableChanges(dir, f, t) =>
        GraftTableChangesPlaceholder(dir, f.toLong, t.toLong)
      case ReplaceWhere(dir, cond, query) =>
        GraftReplaceWhereCommand(dir, cond.trim,
          delegate.parseQuery(query))
      case _ => delegate.parsePlan(sqlText)
    }

  override def parseExpression(t: String): Expression =
    delegate.parseExpression(t)
  override def parseTableIdentifier(t: String): TableIdentifier =
    delegate.parseTableIdentifier(t)
  override def parseFunctionIdentifier(t: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(t)
  override def parseMultipartIdentifier(t: String): Seq[String] =
    delegate.parseMultipartIdentifier(t)
  override def parseQuery(t: String): LogicalPlan =
    delegate.parseQuery(t)
  override def parseRoutineParam(t: String): StructType =
    delegate.parseRoutineParam(t)
  override def parseTableSchema(t: String): StructType =
    delegate.parseTableSchema(t)
  override def parseDataType(t: String): DataType =
    delegate.parseDataType(t)
}

/** `DESCRIBE HISTORY`: the chain's op log as a result set — one row
  * per committed version (with its monotonic commit timestamp),
  * version-count-sized metadata. */
case class GraftHistoryCommand(tableDir: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("op", StringType)(),
    AttributeReference("detail", StringType)(),
    AttributeReference("when", TimestampType)())
  override def run(sparkSession: SparkSession)
      : Seq[org.apache.spark.sql.Row] =
    graft.ops.Scale.history(sparkSession, tableDir)
      .orderBy("version").collect().toSeq
}

/** `OPTIMIZE … TARGET n MB [ZORDER BY (x, y)]`: partition-aware
  * bin-packing commit — or, with the ZORDER clause, a Morton
  * re-clustering of the head published as one version; returns the
  * file accounting. */
case class GraftOptimizeCommand(tableDir: String, targetMB: Double,
                                zorder: Option[(String, String)] = None)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("files_before", LongType, nullable = false)(),
    AttributeReference("files_after", LongType, nullable = false)())
  override def run(sparkSession: SparkSession)
      : Seq[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.functions.col
    val st = graft.ops.Scale.optimizeTable(sparkSession, tableDir,
      tableDir, targetMB,
      zorder.map { case (x, y) => (col(x), col(y)) })
    Seq(org.apache.spark.sql.Row(st.filesBefore, st.filesAfter))
  }
}

/** `RESTORE TABLE … TO VERSION AS OF v`: roll the head back as a NEW
  * version (zero data movement). */
case class GraftRestoreCommand(tableDir: String, version: Long)
    extends LeafRunnableCommand {
  override def run(sparkSession: SparkSession)
      : Seq[org.apache.spark.sql.Row] = {
    graft.ops.Scale.restoreTable(sparkSession, tableDir, version)
    Seq.empty
  }
}

/** `VACUUM … RETAIN k VERSIONS`: reference-counted retention; returns
  * the pruned version ids' count. */
case class GraftVacuumCommand(tableDir: String, keepLast: Int)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("pruned_versions", LongType, nullable = false)())
  override def run(sparkSession: SparkSession)
      : Seq[org.apache.spark.sql.Row] = {
    val pruned = graft.tables.VersionStore.retain(sparkSession,
      tableDir, keepLast)
    Seq(org.apache.spark.sql.Row(pruned.size.toLong))
  }
}

/** `VACUUM … RETAIN n HOURS`: time-based retention off the commit
  * stamps (versions newer than the window — and the head — survive). */
case class GraftVacuumHoursCommand(tableDir: String, hours: Double)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("pruned_versions", LongType, nullable = false)())
  override def run(sparkSession: SparkSession)
      : Seq[org.apache.spark.sql.Row] = {
    val pruned = graft.ops.Scale.vacuumHours(sparkSession, tableDir,
      hours)
    Seq(org.apache.spark.sql.Row(pruned.size.toLong))
  }
}

/** `ANALYZE graft.\`p\` COLUMNS (a, b)`: build/refresh the chain's
  * per-file data-skipping stats for the named columns (one
  * distributed profiling pass, maintained incrementally by every
  * later DML). */
case class GraftAnalyzeCommand(tableDir: String, cols: Seq[String])
    extends LeafRunnableCommand {
  override def run(sparkSession: SparkSession)
      : Seq[org.apache.spark.sql.Row] = {
    graft.ops.Scale.analyzeTable(sparkSession, tableDir, tableDir, cols)
    Seq.empty
  }
}

/** `ALTER TABLE graft.\`p\` ADD CONSTRAINT name CHECK (expr)`:
  * validate once, then every DML enforces on the rows it changes. */
case class GraftAddConstraintCommand(tableDir: String, name: String,
                                     condSql: String)
    extends LeafRunnableCommand {
  override def run(sparkSession: SparkSession)
      : Seq[org.apache.spark.sql.Row] = {
    graft.ops.Scale.addConstraint(sparkSession, tableDir, tableDir,
      name, condSql)
    Seq.empty
  }
}

/** `CLONE graft.\`src\` TO graft.\`dst\``: zero-copy shallow fork —
  * the clone's v=0 points at the source head's files. */
case class GraftCloneCommand(srcDir: String, destDir: String)
    extends LeafRunnableCommand {
  override def run(sparkSession: SparkSession)
      : Seq[org.apache.spark.sql.Row] = {
    graft.ops.Scale.cloneTable(sparkSession, srcDir, destDir)
    Seq.empty
  }
}

/** `INSERT INTO graft.\`p\` REPLACE WHERE <cond> SELECT …` — Delta's
  * partition-replace statement: delete the predicate's rows and land
  * the select's rows in ONE commit (replacement rows must satisfy the
  * predicate; refused otherwise). The predicate text may not itself
  * contain a subquery (the split is at the first SELECT). */
case class GraftReplaceWhereCommand(
    tableDir: String, condSql: String,
    source: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
    extends LeafRunnableCommand {
  override def run(sparkSession: SparkSession)
      : Seq[org.apache.spark.sql.Row] = {
    val df = org.apache.spark.sql.graftbridge.Bridge
      .ofRows(sparkSession, source)
    graft.ops.Scale.overwriteWhere(sparkSession, tableDir, df, condSql)
    Seq.empty
  }
}

/** `TABLE CHANGES graft.\`p\` FROM v1 TO v2` — parse-time placeholder
  * with no session to build the plan against; the injected resolution
  * rule ([[GraftMergeRule]]) swaps it for the analyzed manifest-diff
  * plan, so the statement stays a fully DISTRIBUTED query (a
  * RunnableCommand would collect the delta to the driver — wrong for
  * a change feed whose whole point is changed-data-sized plans). */
case class GraftTableChangesPlaceholder(tableDir: String, from: Long,
                                        to: Long)
    extends org.apache.spark.sql.catalyst.plans.logical.LeafNode {
  override def output
      : Seq[org.apache.spark.sql.catalyst.expressions.Attribute] = Nil
  override lazy val resolved: Boolean = false
}
