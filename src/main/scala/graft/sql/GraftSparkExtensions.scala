package graft.sql

import org.apache.spark.sql.{Row, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, AttributeSet, Expression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

import graft.delta.{DeltaTable, MergeClause}

/** SQL `UPDATE` / `MERGE INTO` for graft-delta tables
  * (`spark.sql.extensions=graft.sql.GraftSparkExtensions`): a post-hoc
  * resolution rule rewrites the analyzed UpdateTable / MergeIntoTable
  * commands into engine calls — the same mechanism delta-spark uses
  * for its DML (its PreprocessTableUpdate/Merge rules), since plain
  * DSv2 only carries filter-based DELETE. The engine's transactional
  * updateWhere / merge paths do the real work: touched-file discovery,
  * CDF images, conflict rebase, constraint + generated-column
  * enforcement.
  */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPostHocResolutionRule(s => new GraftDmlRewrite(s))
    // `SELECT ... FROM table_changes(<path-or-name>, start[, end])` —
    // delta-spark's CDF table-valued function (its
    // CDCReader/DeltaTableValueFunctions surface). Registered as a
    // real table function (resolution rules fire too late: the
    // analyzer's ResolveFunctions throws for unknown TVF names).
    ext.injectTableFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("table_changes"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        "graft.delta.TableChanges", "table_changes"),
      (args: Seq[Expression]) =>
        GraftTableValuedFunctions.tableChanges(args)))
    // spatial predicate surface over WKB geo columns (GeoExprs) —
    // available to spark.sql and to the engine's predicate-SQL strings
    graft.ops.GeoExprs.sqlFunctions.foreach { case (name, arity, builder) =>
      ext.injectFunction((
        new org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          "graft.ops.GeoExprs", name),
        (args: Seq[Expression]) => {
          require(args.length == arity,
            s"$name expects $arity arguments, got ${args.length}")
          builder(args)
        }))
    }
  }
}

/** `table_changes(<path-or-name>, startVersion[, endVersion])` — the
  * engine's batch CDF read (TableChanges.read) as a SQL table-valued
  * function: the SQL twin of the DataFrame change feed, with the same
  * `_change_type` / `_commit_version` / `_commit_timestamp` columns
  * and range validation. The first argument is a filesystem path
  * (contains '/') or a catalog identifier like `gd.ns.tbl` resolved
  * to its table location.
  */
object GraftTableValuedFunctions {

  private def stringArg(e: Expression, what: String): String = {
    require(e.foldable, s"table_changes $what must be a literal")
    e.eval() match {
      case null => throw new IllegalArgumentException(
        s"table_changes $what must not be NULL")
      case s => s.toString
    }
  }

  private def longArg(e: Expression, what: String): Long = {
    require(e.foldable, s"table_changes $what must be a literal")
    e.eval() match {
      case n: java.lang.Number => n.longValue
      case other => throw new IllegalArgumentException(
        s"table_changes $what must be an integer, got $other")
    }
  }

  private def resolveLocation(spark: SparkSession,
      nameOrPath: String): String =
    if (nameOrPath.contains("/")) nameOrPath
    else {
      val parts = spark.sessionState.sqlParser
        .parseMultipartIdentifier(nameOrPath)
      require(parts.length >= 2,
        s"table_changes: qualify '$nameOrPath' with its catalog " +
          "(e.g. gd.tbl) or pass a path")
      val cat = spark.sessionState.catalogManager.catalog(parts.head)
      val ident = org.apache.spark.sql.connector.catalog.Identifier.of(
        parts.tail.dropRight(1).toArray, parts.last)
      cat.asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
        .loadTable(ident) match {
        case g: GraftSqlTable => g.location
        case other => throw new IllegalArgumentException(
          s"table_changes: '$nameOrPath' is not a graft-delta table " +
            s"(${other.getClass.getSimpleName})")
      }
    }

  /** TVF builder: runs at analysis time on the active session. A 4th
    * string argument is a file-skipping predicate (TableChanges.read's
    * `predicateSql` — conservative file-level pushdown; rows still
    * need the WHERE clause).
    */
  def tableChanges(args: Seq[Expression]): LogicalPlan = {
    require(args.length >= 2 && args.length <= 4,
      "table_changes(pathOrName, startVersion[, endVersion[, " +
        s"predicate]]) takes 2-4 arguments, got ${args.length}")
    val spark = SparkSession.active
    val location = resolveLocation(spark, stringArg(args.head, "table"))
    val start = longArg(args(1), "startVersion")
    val end = args.lift(2).map(longArg(_, "endVersion"))
    val pred = args.lift(3).map(stringArg(_, "predicate"))
    graft.delta.TableChanges.read(spark, location, start, end, pred)
      .queryExecution.analyzed
  }
}

class GraftDmlRewrite(spark: SparkSession) extends Rule[LogicalPlan] {

  private def graftTarget(plan: LogicalPlan)
      : Option[(GraftSqlTable, AttributeSet)] =
    plan.collectFirst {
      case r @ DataSourceV2Relation(t: GraftSqlTable, _, _, _, _, _) =>
        (t, r.outputSet)
    }

  /** Render an analyzed expression as SQL the engine re-parses, with
    * each attribute re-qualified by WHICH SIDE it resolves to — the
    * engine's merge evaluates clause expressions against frames
    * aliased `t` (target) and `s` (source), the user's own aliases
    * having served their purpose during analysis.
    */
  private def sqlWith(e: Expression, tgt: AttributeSet,
      src: AttributeSet): String =
    e.transform {
      case a: AttributeReference if tgt.contains(a) =>
        a.withQualifier(Seq("t"))
      case a: AttributeReference if src.contains(a) =>
        a.withQualifier(Seq("s"))
    }.sql

  /** Bare-name SQL for single-table UPDATE (no aliases in play). */
  private def bareSql(e: Expression): String =
    e.transform {
      case a: AttributeReference => a.withQualifier(Nil)
    }.sql

  private def colName(key: Expression): String = key match {
    case a: AttributeReference => a.name
    case other => throw new IllegalArgumentException(
      s"unsupported assignment target ${other.sql} " +
        "(nested-field assignment is not supported)")
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case u @ UpdateTable(tbl, assignments, condition)
        if u.resolved && graftTarget(tbl).isDefined =>
      val (t, _) = graftTarget(tbl).get
      require(t.pinnedVersion.isEmpty,
        "cannot UPDATE a time-travelled table")
      GraftUpdateCommand(t.location,
        condition.map(bareSql).getOrElse("true"),
        assignments.map(a => colName(a.key) -> bareSql(a.value)).toMap)

    // `WITH SCHEMA EVOLUTION` needs no handling here: the target
    // table advertises AUTOMATIC_SCHEMA_EVOLUTION, so by the time the
    // plan is resolved Spark's ResolveMergeIntoSchemaEvolution has
    // already committed the new columns through the catalog's
    // alterTable and star/explicit assignments resolve against the
    // evolved schema — the rewrite below sees an ordinary merge.
    case m @ MergeIntoTable(tgt, src, cond, matched, notMatched,
        bySource, _)
        if m.resolved && graftTarget(tgt).isDefined =>
      val (t, tset) = graftTarget(tgt).get
      require(t.pinnedVersion.isEmpty,
        "cannot MERGE into a time-travelled table")
      val sset = src.outputSet
      def sql(e: Expression) = sqlWith(e, tset, sset)
      def assigns(as: Seq[Assignment]): Map[String, String] =
        as.map(a => colName(a.key) -> sql(a.value)).toMap
      def starAssigns: Map[String, String] =
        t.schema().fieldNames.map(f => f -> s"s.`$f`").toMap
      import MergeClause._
      val clauses: Seq[MergeClause] =
        matched.map {
          case UpdateAction(c, as, _) => MatchedUpdate(c.map(sql), assigns(as))
          case UpdateStarAction(c) => MatchedUpdate(c.map(sql), starAssigns)
          case DeleteAction(c) => MatchedDelete(c.map(sql))
          case other => throw new IllegalArgumentException(
            s"unsupported WHEN MATCHED action $other")
        } ++ notMatched.map {
          case InsertAction(c, as) =>
            NotMatchedInsert(c.map(sql), assigns(as))
          case InsertStarAction(c) =>
            NotMatchedInsert(c.map(sql), starAssigns)
          case other => throw new IllegalArgumentException(
            s"unsupported WHEN NOT MATCHED action $other")
        } ++ bySource.map {
          case UpdateAction(c, as, _) =>
            NotMatchedBySourceUpdate(c.map(sql), assigns(as))
          case DeleteAction(c) => NotMatchedBySourceDelete(c.map(sql))
          case other => throw new IllegalArgumentException(
            s"unsupported WHEN NOT MATCHED BY SOURCE action $other")
        }
      GraftMergeCommand(t.location, src, sql(cond), clauses)

    case _ => plan
  }
}

case class GraftUpdateCommand(location: String, conditionSql: String,
    set: Map[String, String]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    DeltaTable.forPath(spark, location).sqlDml(conditionSql, Some(set))
    Nil
  }
}

case class GraftMergeCommand(location: String, source: LogicalPlan,
    conditionSql: String, clauses: Seq[MergeClause])
    extends LeafRunnableCommand {
  // the analyzed source plan rides along as an inner child is NOT
  // desired: a leaf command keeps the analyzer from re-touching it
  override def innerChildren: Seq[LogicalPlan] = Seq(source)
  override def run(spark: SparkSession): Seq[Row] = {
    val srcDf = org.apache.spark.sql.classic.GraftShims.ofRows(spark, source)
    DeltaTable.forPath(spark, location)
      .merge(srcDf, conditionSql, clauses)
    Nil
  }
}
