package graft.sql

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Expression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** `MERGE INTO graft.\`/path\` …` support (r10 verdict ask #4's hard
  * half): core Spark only rewrites MERGE for tables implementing the
  * full row-level-operation connector API, so graft takes the
  * Delta-style route instead — an injected RESOLUTION rule converts
  * the analyzed [[MergeIntoTable]] into a runnable command that
  * drives the COW MERGE (`Scale.cowMerge`, the clause algebra of
  * `Relational.mergeInto`). Supported shape, one clause list:
  *
  * {{{
  *   MERGE INTO graft.`/t` t USING src s
  *   ON t.k1 = s.k1 [AND t.k2 = s.k2 …]
  *   [WHEN MATCHED [AND c] THEN DELETE]
  *   [WHEN MATCHED [AND c] THEN UPDATE SET c1 = e1, … | UPDATE SET *]
  *   [WHEN NOT MATCHED [AND c] THEN INSERT (…) VALUES (…) | INSERT *]
  * }}}
  *
  * at most one DELETE and one UPDATE, in either order, and at least
  * one clause. `UPDATE SET *` writes every source value, NULLs
  * included (the SQL rule). Other shapes — NOT MATCHED BY SOURCE, a
  * non-equi ON, a SET of an ON key to anything but itself — fall
  * through untouched (Spark then reports them unsupported, never a
  * silent wrong answer). */
case class GraftMergeRule(session: SparkSession)
    extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperators {
      case m: MergeIntoTable
          if m.resolved && !m.withSchemaEvolution &&
            graftDir(m.targetTable).isDefined =>
        translateMerge(m).getOrElse(m)
      // UPDATE …: core Spark reserves it for row-level-operation
      // connectors entirely — route every graft UPDATE through the
      // COW updateWhere. Statement expressions re-resolve BY NAME
      // against the rewrite's own frame (their exprIds belong to this
      // statement's relation, not the files the DML re-reads).
      case u: UpdateTable if u.resolved &&
          graftDir(u.table).isDefined =>
        val set = u.assignments.map(a => a.key match {
          case k: AttributeReference => k.name -> unresolve(a.value)
          case other => throw new UnsupportedOperationException(
            s"UPDATE of non-column target $other")
        })
        GraftUpdateCommand(graftDir(u.table).get,
          u.condition.map(e => Bridge.column(unresolve(e))),
          set.map { case (n, e) => n -> Bridge.column(e) })
      // TABLE CHANGES …: swap the parser's placeholder for the real
      // manifest-diff plan (analyzed against THIS session) — the
      // statement then plans and runs distributed like any SELECT.
      case p: GraftTableChangesPlaceholder =>
        graft.ops.Scale.tableChanges(session, p.tableDir, p.from, p.to)
          .queryExecution.analyzed
      // DELETE …: the catalog's SupportsDelete hook serves
      // predicates it can BOTH translate to v1 Filters AND render
      // back to SQL text (GraftFilters — the hook's own
      // canDeleteWhere test) — and with partition/stats pre-pruning,
      // so this arm deliberately steps aside for those (r11 review)
      // and catches everything the hook would REFUSE: expression
      // predicates v1 Filters can't spell, and translatable Filters
      // filterSql can't render (LIKE/StartsWith/EqualNullSafe —
      // r11 advice: those used to fall between the two paths).
      case d: DeleteFromTable if d.resolved &&
          graftDir(d.table).isDefined &&
          !catalogServes(d.condition) =>
        GraftDeleteCommand(graftDir(d.table).get,
          Bridge.column(unresolve(d.condition)))
    }

  /** Would the DSv2 DELETE path accept this predicate end-to-end?
    * Core Spark translates each conjunct to a v1 Filter, then the
    * catalog's canDeleteWhere demands each be renderable — mirror
    * both, or the statement errors on a session that could serve it. */
  private def catalogServes(cond: Expression): Boolean =
    splitConjunctivePredicates(cond).forall(c =>
      Bridge.v1Filter(c).exists(f =>
        GraftFilters.filterSql(f).isDefined))

  /** Swap resolved attribute references for by-name unresolved ones,
    * so the expression re-analyzes against whatever frame the COW
    * rewrite reads. */
  private def unresolve(e: Expression): Expression = e.transform {
    case a: AttributeReference =>
      org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
        .quoted(a.name)
  }

  private def graftDir(p: LogicalPlan): Option[String] = p match {
    case r: DataSourceV2Relation => r.table match {
      case t: GraftTable if t.travelVersion.isEmpty => Some(t.dir)
      case _ => None
    }
    case SubqueryAlias(_, child) => graftDir(child)
    case _ => None
  }

  /** A MERGE's clause list lowered onto the COW `Scale.cowMerge`.
    * The ON condition must be a conjunction of same-named
    * target = source column equalities (the keys). Statement ORDER of
    * the matched clauses composes into their conditions, preserving
    * SQL's first-match-wins; a SET of an ON key to its own source
    * column is an identity under the match and is dropped, any other
    * SET of a key refuses (the file-granular hit contract needs keys
    * stable). Anything else falls through and core Spark reports it
    * unsupported. */
  private def translateMerge(m: MergeIntoTable): Option[LogicalPlan] = {
    val tgt = m.targetTable.outputSet
    val src = m.sourceTable.outputSet
    def keyOf(e: Expression): Option[String] = e match {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if a.name == b.name && (tgt.contains(a) && src.contains(b) ||
            tgt.contains(b) && src.contains(a)) =>
        Some(a.name)
      case _ => None
    }
    val keys = splitConjunctivePredicates(m.mergeCondition).map(keyOf)
    if (keys.isEmpty || keys.exists(_.isEmpty) ||
      m.notMatchedBySourceActions.nonEmpty) return None
    val keyNames = keys.flatten
    // qualify matched-clause expressions for the t/s-aliased join the
    // clause algebra evaluates them against
    def qual(e: Expression): Option[Column] = {
      var ok = true
      val out = e.transform {
        case a: AttributeReference if tgt.contains(a) =>
          org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(
            Seq("t", a.name))
        case a: AttributeReference if src.contains(a) =>
          org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(
            Seq("s", a.name))
        case a: AttributeReference => ok = false; a
      }
      if (ok) Some(Bridge.column(out)) else None
    }
    // an UPDATE's SET list; `k = s.k` on an ON key (what `SET *`
    // expands to) is an identity under the match and is dropped
    def sets(as: Seq[Assignment]): Option[Map[String, Column]] = {
      val out = as.filterNot(a => (a.key, a.value) match {
        case (k: AttributeReference, v: AttributeReference) =>
          keyNames.contains(k.name) && src.contains(v) && v.name == k.name
        case _ => false
      }).map(a => a.key match {
        case k: AttributeReference
            if tgt.contains(k) && !keyNames.contains(k.name) =>
          qual(a.value).map(k.name -> _)
        case _ => None
      })
      if (out.exists(_.isEmpty)) None else Some(out.flatten.toMap)
    }
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    def cond(c: Option[Expression]): Option[Column] = c match {
      case None => Some(lit(true))
      case Some(e) => qual(e)
    }
    val matched: Option[(Option[Column],
                         Option[(Column, Map[String, Column])])] =
      m.matchedActions match {
        case Seq() => Some((None, None))
        case Seq(u: UpdateAction) =>
          for { cu <- cond(u.condition); ss <- sets(u.assignments) }
            yield (None, Some((cu, ss)))
        case Seq(d: DeleteAction) =>
          cond(d.condition).map(cd => (Some(cd), None))
        case Seq(d: DeleteAction, u: UpdateAction) =>
          // statement order: delete first — the algebra's native law
          for { cd <- cond(d.condition); cu <- cond(u.condition)
                ss <- sets(u.assignments) }
            yield (Some(cd), Some((cu, ss)))
        case Seq(u: UpdateAction, d: DeleteAction) =>
          // update first: a row matching BOTH takes the update — the
          // delete fires only where the update's condition is not TRUE
          for { cu <- cond(u.condition); cd <- cond(d.condition)
                ss <- sets(u.assignments) }
            yield (Some(not(coalesce(cu, lit(false))) && cd),
              Some((cu, ss)))
        case _ => None
      }
    val insert: Option[Option[(Column, Map[String, Column])]] =
      m.notMatchedActions match {
        case Seq() => Some(None)
        case Seq(i: InsertAction) =>
          val vals = i.assignments.map { a =>
            a.key match {
              case k: AttributeReference if tgt.contains(k) =>
                qual(a.value).map(k.name -> _)
              case _ => None
            }
          }
          // an unlisted key inserts NULL, like any unlisted column
          val unlisted = keyNames.filterNot(vals.flatten.toMap.contains)
            .map(_ -> lit(null))
          if (vals.exists(_.isEmpty)) None
          else cond(i.condition).map(ci =>
            Some((ci, (vals.flatten ++ unlisted).toMap)))
        case _ => None
      }
    for {
      (del, upd) <- matched
      ins <- insert
      if del.isDefined || upd.isDefined || ins.isDefined
      dir <- graftDir(m.targetTable)
    } yield GraftMergeCommand(dir, m.sourceTable, keyNames,
      del, upd, ins)
  }
}

/** The eagerly-executed MERGE: hands the analyzed source subtree back
  * to the DataFrame world, refuses a source with several rows per ON
  * key, then runs the file-granular COW `Scale.cowMerge` (conditions
  * and values ride as [[Column]]s qualified `t.`/`s.` for the clause
  * algebra's join; hit files rewrite 1:1, inserts append, everything
  * else rides by pointer). */
case class GraftMergeCommand(
    tableDir: String, source: LogicalPlan, keys: Seq[String],
    matchedDelete: Option[Column],
    matchedUpdate: Option[(Column, Map[String, Column])],
    notMatchedInsert: Option[(Column, Map[String, Column])])
    extends LeafRunnableCommand {
  override def run(sparkSession: SparkSession)
      : Seq[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.functions.{col, count, lit}
    val src = Bridge.ofRows(sparkSession, source)
    // SQL MERGE contract (Delta errors identically): a source with
    // several rows per key makes "the matched update" ambiguous —
    // refuse rather than resolve arbitrarily (r11 review). The check
    // is one aggregate over the changelog-sized source.
    val dup = src.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n")).where(col("__n") > 1)
      .limit(1).count()
    if (dup > 0) throw new IllegalArgumentException(
      "MERGE source has multiple rows for the same ON key; " +
        "deduplicate the source first")
    graft.ops.Scale.cowMerge(sparkSession, tableDir, tableDir,
      src, keys, matchedDelete, matchedUpdate, notMatchedInsert)
    Seq.empty
  }
}

/** The eagerly-executed UPDATE: `Scale.updateWhere` with the
  * statement's condition and SET expressions carried as [[Column]]s
  * — NOT raw Expression fields, which QueryPlan's (final)
  * `expressions` walk would hand back to the analyzer and reject:
  * the attributes are deliberately by-name-unresolved so they
  * re-resolve against each COW rewrite's own frame at run time. */
case class GraftUpdateCommand(tableDir: String,
                              cond: Option[Column],
                              set: Seq[(String, Column)])
    extends LeafRunnableCommand {
  override def run(sparkSession: SparkSession)
      : Seq[org.apache.spark.sql.Row] = {
    graft.ops.Scale.updateWhere(sparkSession, tableDir, tableDir,
      cond.getOrElse(org.apache.spark.sql.functions.lit(true)), set)
    Seq.empty
  }
}

/** The eagerly-executed DELETE (extension-session form — takes any
  * predicate, not just v1-Filter-translatable ones). Column-carried
  * like [[GraftUpdateCommand]]. */
case class GraftDeleteCommand(tableDir: String, cond: Column)
    extends LeafRunnableCommand {
  override def run(sparkSession: SparkSession)
      : Seq[org.apache.spark.sql.Row] = {
    graft.ops.Scale.deleteWhere(sparkSession, tableDir, tableDir,
      cond)
    Seq.empty
  }
}

/** Session plumbing for the SQL surface. */
object GraftSql {
  /** Register the `graft` catalog on `spark` (idempotent): enables
    * `SELECT … FROM graft.\`/path\``, `VERSION AS OF`, `INSERT INTO`
    * and `DELETE FROM` — everything except MERGE, which needs the
    * extension session below. */
  def install(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.catalog.graft",
      classOf[GraftCatalog].getName)

  @volatile private var cached: Option[SparkSession] = None

  /** A session (sharing `spark`'s SparkContext and warehouse) whose
    * analyzer carries [[GraftMergeRule]] (MERGE / UPDATE /
    * expression-DELETE) and whose parser carries [[GraftSqlParser]]
    * (DESCRIBE HISTORY / OPTIMIZE / RESTORE / VACUUM), so the full
    * statement surface parses, resolves and RUNS. Extensions are builder-time state in
    * Spark, so an already-running session can't gain the rule — the
    * standard pattern (Delta's docs do the same) is to build the
    * session with the extension; this helper builds one lazily from
    * the live context and caches it. Temp views must be registered
    * on the returned session (it has its own catalog state). */
  def mergeSession(spark: SparkSession): SparkSession = synchronized {
    cached.filter(_.sparkContext eq spark.sparkContext).getOrElse {
      import org.apache.spark.sql.classic.{SparkSession => CS}
      val active = CS.getActiveSession
      val default = CS.getDefaultSession
      CS.clearActiveSession()
      CS.clearDefaultSession()
      val s2 =
        try CS.builder()
          .withExtensions { e =>
            e.injectResolutionRule(s => GraftMergeRule(s))
            e.injectParser((_, p) => new GraftSqlParser(p))
          }
          .getOrCreate()
        finally {
          active.foreach(CS.setActiveSession)
          default.foreach(CS.setDefaultSession)
        }
      install(s2)
      cached = Some(s2)
      s2
    }
  }
}
