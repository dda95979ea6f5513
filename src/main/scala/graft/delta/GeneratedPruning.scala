package graft.delta

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._

/** Partition-filter derivation for GENERATED partition columns
  * (delta-spark's OptimizeGeneratedColumn; the reference stores the
  * generation expression in field metadata,
  * kernel/src/schema/mod.rs:253-313 `delta.generationExpression`).
  *
  * The canonical 100 TB case: a table partitioned by
  * `day GENERATED ALWAYS AS (CAST(ts AS DATE))` queried with
  * `ts >= T1 AND ts < T2`. Without derivation the predicate references
  * only the base column, so partition pruning sees nothing and the
  * scan lists every partition. This derives the implied partition
  * predicates:
  *
  *  - `base = lit`  → `p <=> f(lit)` for ANY deterministic generation
  *    expression f over a single base column (rows with that base
  *    value can only live in that partition);
  *  - `base >= lit` / `>` → `p >= f(lit)`, and `<=` / `<` →
  *    `p <= f(lit)`, for MONOTONE non-decreasing f (identity,
  *    CAST(base AS DATE), year, date_trunc, trunc, and the
  *    lexicographically-ordered date_format patterns);
  *  - `base IN (l1..ln)` → `p <=> f(l1) OR ... OR p <=> f(ln)`.
  *
  * For the recognized monotone shapes `f(b)` is NULL iff `b` is NULL,
  * and a NULL base never satisfies the source comparison (3VL), so the
  * derived predicates are exact — they can never prune a file that
  * could hold a matching row.
  */
object GeneratedPruning {

  /** date_format patterns whose output string-sorts in time order. */
  private val monotoneFormats = Set(
    "yyyy", "yyyy-MM", "yyyy-MM-dd", "yyyy-MM-dd-HH", "yyyy-MM-dd HH")

  private sealed trait Shape
  private case object Monotone extends Shape
  private case object EqualityOnly extends Shape

  /** Classify a generation expression over exactly one base column:
    * (baseColumn, shape). None when it references zero or multiple
    * columns — no derivation possible.
    */
  private def classify(gen: Expression): Option[(String, Shape)] = {
    val refs = DataSkipping.references(gen)
    if (refs.size != 1) return None
    def isBase(e: Expression) = e match {
      case a: UnresolvedAttribute => a.nameParts.size == 1
      case _ => false
    }
    val shape = gen match {
      case a: UnresolvedAttribute if a.nameParts.size == 1 => Monotone
      case c: Cast if c.dataType == DateType && isBase(c.child) => Monotone
      case f: UnresolvedFunction =>
        val name = f.nameParts.last.toLowerCase(java.util.Locale.ROOT)
        (name, f.arguments) match {
          case ("year", Seq(b)) if isBase(b) => Monotone
          case ("date_trunc", Seq(_, b)) if isBase(b) => Monotone
          case ("trunc", Seq(b, _)) if isBase(b) => Monotone
          case ("date_format", Seq(b, Literal(fmt, StringType)))
              if isBase(b) && fmt != null &&
                monotoneFormats(fmt.toString) => Monotone
          case _ => EqualityOnly
        }
      case _ => EqualityOnly
    }
    Some((refs.head, shape))
  }

  /** Derive partition conjuncts implied by `dataConjuncts` for every
    * generated partition column. Derived conjuncts reference only the
    * partition column, so the existing partition-pruning path
    * evaluates them over the typed partition-values struct. All
    * evaluation is driver-local (one-row plans, no cluster jobs); any
    * evaluation failure simply derives nothing (scan stays unpruned —
    * correct, just less fast).
    */
  def derive(spark: SparkSession, schema: StructType,
      partCols: Seq[String], dataConjuncts: Seq[Expression])
      : Seq[Expression] = {
    if (dataConjuncts.isEmpty) return Nil
    val generated = partCols.flatMap { p =>
      schema.fields.find(_.name == p)
        .filter(_.metadata.contains(WriteValidation.GENERATION_KEY))
        .map(f => (p, f.metadata.getString(WriteValidation.GENERATION_KEY)))
    }
    if (generated.isEmpty) return Nil

    generated.flatMap { case (p, genSql) =>
      scala.util.Try(DataSkipping.parse(spark, genSql)).toOption
        .flatMap(classify).toSeq.flatMap { case (base, shape) =>
          val baseType = schema.fields.find(_.name == base)
            .map(_.dataType).getOrElse(StringType)

          // f(comparand): CAST the comparand to the base type, then
          // evaluate the generation expression over it. Evaluation is
          // analyze + optimize + Literal.eval on the DRIVER — no Spark
          // job is ever launched from scan planning (the previous
          // spark.sql(...).head() path scheduled two tiny jobs per
          // conjunct, adding latency and a whole class of
          // environment-dependent failure the Try() then silently
          // turned into "no pruning").
          def evalConst(e: Expression): Option[(Any, DataType)] =
            scala.util.Try {
              val plan = org.apache.spark.sql.catalyst.plans.logical
                .Project(Seq(Alias(e, "v")()),
                  org.apache.spark.sql.catalyst.plans.logical
                    .OneRowRelation())
              val qe = spark.sessionState.executePlan(plan)
              val dt = qe.analyzed.schema.head.dataType
              val v = qe.optimizedPlan match {
                case p: org.apache.spark.sql.catalyst.plans.logical
                    .Project =>
                  p.projectList.head.asInstanceOf[Alias].child
                    .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
                case l: org.apache.spark.sql.catalyst.plans.logical
                    .LocalRelation =>
                  if (l.data.isEmpty) null
                  else l.data.head.get(0, dt)
                case other => throw new IllegalStateException(
                  s"constant plan did not fold: ${other.nodeName}")
              }
              (v, dt)
            }.toOption

          def f(comparand: Expression): Option[(Any, DataType)] = {
            val castArg = Cast(comparand, baseType)
            evalConst(castArg) match {
              case Some((cv, _)) if cv != null =>
                val gen = DataSkipping.parse(spark, genSql)
                val bound = gen.transform {
                  case a: UnresolvedAttribute
                      if a.nameParts == Seq(base) =>
                    Literal(cv, baseType)
                }
                evalConst(bound).filter(_._1 != null)
              case _ => None // comparand casts to NULL: derive nothing
            }
          }

          def attr = UnresolvedAttribute(Seq(p))
          def isBaseAttr(e: Expression) = e match {
            case a: UnresolvedAttribute => a.nameParts == Seq(base)
            case _ => false
          }
          def constant(e: Expression): Option[Expression] =
            if (DataSkipping.references(e).isEmpty) Some(e) else None

          def mono(cmp: (Expression, Expression) => Expression,
              v: Expression): Option[Expression] =
            if (shape != Monotone) None
            else constant(v).flatMap(f)
              .map { case (fv, dt) => cmp(attr, Literal(fv, dt)) }
          def eq(v: Expression): Option[Expression] =
            constant(v).flatMap(f)
              .map { case (fv, dt) => EqualNullSafe(attr, Literal(fv, dt)) }

          dataConjuncts.flatMap {
            case EqualTo(b, v) if isBaseAttr(b) => eq(v)
            case EqualTo(v, b) if isBaseAttr(b) => eq(v)
            case GreaterThanOrEqual(b, v) if isBaseAttr(b) =>
              mono(GreaterThanOrEqual(_, _), v)
            case GreaterThan(b, v) if isBaseAttr(b) =>
              mono(GreaterThanOrEqual(_, _), v)
            case LessThanOrEqual(b, v) if isBaseAttr(b) =>
              mono(LessThanOrEqual(_, _), v)
            case LessThan(b, v) if isBaseAttr(b) =>
              mono(LessThanOrEqual(_, _), v)
            // flipped operand order: lit cmp base
            case GreaterThanOrEqual(v, b) if isBaseAttr(b) =>
              mono(LessThanOrEqual(_, _), v)
            case GreaterThan(v, b) if isBaseAttr(b) =>
              mono(LessThanOrEqual(_, _), v)
            case LessThanOrEqual(v, b) if isBaseAttr(b) =>
              mono(GreaterThanOrEqual(_, _), v)
            case LessThan(v, b) if isBaseAttr(b) =>
              mono(GreaterThanOrEqual(_, _), v)
            case In(b, vs) if isBaseAttr(b) && vs.nonEmpty =>
              val fvs = vs.map(eq)
              if (fvs.exists(_.isEmpty)) None
              else Some(fvs.flatten.reduce(Or(_, _)))
            case _ => None
          }
        }
    }
  }
}
