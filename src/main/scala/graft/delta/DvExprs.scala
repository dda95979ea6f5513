package graft.delta

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd DV probes (reference kernel/src/scan/mod.rs:1337-1399 —
  * DVs apply as per-file selection vectors inside the scan). A Scala
  * UDF here would sever WholeStageCodegen on every DV-table scan; a
  * native Expression keeps the whole scan → mask-filter → project
  * pipeline in one generated loop, with the broadcast bitmap handle
  * materialized once as a codegen reference object. The path child is
  * the scan's `_metadata.file_path` verbatim (`__path`), probed as the
  * `UTF8String` it already is.
  */
case class DvLiveExpr(left: Expression, right: Expression,
    masks: Broadcast[DvMasks]) extends BinaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "dv_live"

  override protected def nullSafeEval(path: Any, ridx: Any): Any =
    !masks.value.contains(path.asInstanceOf[UTF8String],
      ridx.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val bc = ctx.addReferenceObj("dvMasks", masks,
      classOf[Broadcast[DvMasks]].getName)
    nullSafeCodeGen(ctx, ev, (p, r) =>
      s"${ev.value} = !((graft.delta.DvMasks) $bc.value())" +
        s".contains($p, $r);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd descriptor→tree-location resolver (reference
  * content_tree/dv_conversion.rs `extract_deletion_vector_content`):
  * maps an add's DV (storageType, pathOrInlineDv) to the Iceberg-side
  * location string during content-tree entry construction. Native so
  * the wide entry projection (700+ `content_stats` leaves on a
  * 100-column table) stays in one generated loop.
  */
case class DvResolveLocExpr(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "dv_resolve_loc"

  override protected def nullSafeEval(st: Any, p: Any): Any =
    UTF8String.fromString(
      ContentTree.resolveDvLocation(st.toString, p.toString))

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, p) =>
      s"${ev.value} = UTF8String.fromString(" +
        s"graft.delta.ContentTree.resolveDvLocation(" +
        s"$s.toString(), $p.toString()));")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Version-keyed CDF DV-swap tagger for the COLLAPSED range plan: when
  * one scan arm serves DV-swap files from MANY commits (the reference
  * `Load` operator's file-constant commit version,
  * kernel/src/plans/ir/nodes.rs:330-472), the same data file can be
  * swapped in several in-range commits, so the mask lookup must key on
  * (commit version, `_metadata.file_path`) — the version rides in as a
  * per-file constant partition column.
  */
case class DvChangeAtExpr(first: Expression, second: Expression,
    third: Expression, masks: Broadcast[DvSwapMasks])
  extends TernaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "dv_change_at"

  override protected def nullSafeEval(
      version: Any, path: Any, ridx: Any): Any =
    masks.value.changeOf(version.asInstanceOf[Long],
      path.asInstanceOf[UTF8String], ridx.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val bc = ctx.addReferenceObj("dvSwapMasks", masks,
      classOf[Broadcast[DvSwapMasks]].getName)
    nullSafeCodeGen(ctx, ev, (v, p, r) => {
      val tag = ctx.freshName("tag")
      s"""UTF8String $tag = ((graft.delta.DvSwapMasks) $bc.value())
         |  .changeOf($v, $p, $r);
         |if ($tag == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $tag; }
         |""".stripMargin
    })
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}
