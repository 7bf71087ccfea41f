package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.DataType

/** A constant that generated code reads by reference instead of
  * inlining it.
  *
  * Why it exists: constant folding turns a per-run value (a literal, a
  * `current_timestamp()` once `ComputeCurrentTime` has fixed it, a cast
  * string) into a `Literal`, and `Literal.doGenCode` inlines a
  * long-backed value (timestamp, bigint, date, interval) as `<value>L`
  * into the generated Java. Spark caches compiled classes by their
  * source text, so a value that changes between runs of one query
  * shape makes every stage that projects it a new class, compiled by
  * Janino on the driver. The micro-batch's `retrieved_at` stamp was such
  * a value: 14-16 compiles per steady-state `ingest_refresh` batch, all
  * while the batch was materialized, against 0 with the stamp wrapped
  * here (4-vCPU host).
  *
  * A foldable child is evaluated once, when its stage's code is
  * generated, and read through `ctx.addReferenceObj`, so the source is
  * the same for every value and the first run's class serves the rest.
  * Each run generates its own references array, so a run never reads an
  * earlier run's value. A child that does not fold is generated as is.
  *
  * `foldable = false` keeps constant folding from replacing this node
  * with a `Literal` (its child still folds); it is deterministic and its
  * value is its child's, so nothing else about the plan changes. A
  * `current_timestamp()` child is still fixed per query by
  * `ComputeCurrentTime`.
  */
case class BoundConstant(child: Expression) extends UnaryExpression {
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def foldable: Boolean = false
  override def prettyName: String = "bound_constant"

  override def eval(input: InternalRow): Any = child.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (!child.foldable) child.genCode(ctx)
    else {
      val ref = ctx.addReferenceObj("bound", child.eval(), CodeGenerator.boxedType(dataType))
      ev.copy(code = code"""
        boolean ${ev.isNull} = $ref == null;
        ${CodeGenerator.javaType(dataType)} ${ev.value} =
          ${ev.isNull} ? ${CodeGenerator.defaultValue(dataType)} : $ref;""")
    }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
