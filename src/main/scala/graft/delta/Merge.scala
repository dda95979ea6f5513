package graft.delta

import org.apache.spark.sql.DataFrame

/** MERGE INTO clause forms (reference: the kernel exposes the
  * building blocks — file-granular rewrite via add/remove pairs,
  * transaction/mod.rs — and delta-spark defines the clause semantics;
  * this mirrors the Delta MERGE contract: clauses are evaluated in
  * order, first whose condition holds wins for a given row).
  *
  * Conditions and value expressions are Spark SQL strings over the
  * aliased relations `t` (target) and `s` (source), e.g.
  * `"t.k = s.k"`, `Map("v" -> "s.v + t.v")`.
  */
sealed trait MergeClause {
  /** The clause's extra condition; None always holds. */
  def condition: Option[String]

  /** Column -> expression: an UPDATE's SET, an INSERT's values, empty
    * for a DELETE.
    */
  def assignments: Map[String, String] = this match {
    case MergeClause.MatchedUpdate(_, set) => set
    case MergeClause.NotMatchedBySourceUpdate(_, set) => set
    case MergeClause.NotMatchedInsert(_, values) => values
    case _ => Map.empty
  }
}

object MergeClause {

  /** WHEN MATCHED [AND condition] THEN UPDATE SET col -> expr. */
  final case class MatchedUpdate(
      condition: Option[String],
      set: Map[String, String]) extends MergeClause

  /** WHEN MATCHED [AND condition] THEN DELETE. */
  final case class MatchedDelete(
      condition: Option[String]) extends MergeClause

  /** WHEN NOT MATCHED [AND condition] THEN INSERT (col -> expr over
    * `s`). Target columns absent from `values` become NULL.
    */
  final case class NotMatchedInsert(
      condition: Option[String],
      values: Map[String, String]) extends MergeClause

  /** WHEN NOT MATCHED BY SOURCE [AND condition] THEN UPDATE SET —
    * target rows with no source match. Conditions/exprs see `t` only.
    */
  final case class NotMatchedBySourceUpdate(
      condition: Option[String],
      set: Map[String, String]) extends MergeClause

  /** WHEN NOT MATCHED BY SOURCE [AND condition] THEN DELETE. */
  final case class NotMatchedBySourceDelete(
      condition: Option[String]) extends MergeClause

  /** Whether running `df` again surely yields the same rows: a
    * deterministic plan of projections, filters and repartitions over
    * in-memory rows or a range, with no subquery. Joins, limits,
    * samples and external sources may not.
    */
  private[delta] def rereadsAlike(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
    import org.apache.spark.sql.catalyst.plans.logical
    val plan = df.queryExecution.analyzed
    plan.deterministic && plan.find(n =>
      n.expressions.exists(SubqueryExpression.hasSubquery) || (n match {
        case _: logical.LocalRelation | _: logical.Range |
             _: logical.Project | _: logical.Filter |
             _: logical.SubqueryAlias | _: logical.Repartition |
             _: logical.RepartitionByExpression => false
        case _ => true
      })).isEmpty
  }
}
