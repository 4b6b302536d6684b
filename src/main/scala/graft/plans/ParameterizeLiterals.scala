package graft.plans

import org.apache.spark.sql.catalyst.expressions.{BinaryArithmetic, BinaryComparison, Expression, In, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.types.DataType

/** A non-null primitive literal whose generated code reads its value from
  * the generated class's `references` array instead of spelling it in
  * the Java source. It evaluates, prints (EXPLAIN), compares and
  * canonicalizes exactly as the wrapped [[Literal]]: equality is the
  * literal's, so exchange and subquery reuse never merge two values.
  *
  * Not foldable: a foldable operand may be evaluated at codegen time and
  * inlined, which is what this node exists to prevent.
  */
case class ParamLiteral(literal: Literal) extends LeafExpression {
  override def dataType: DataType = literal.dataType
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = literal.value
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("literal", literal.value, CodeGenerator.boxedType(dataType))
    // unboxed once per generated-class instance, not once per row
    val v = ctx.addMutableState(javaType, "literal",
      v => s"$v = $ref.${javaType}Value();", forceInline = true)
    ExprCode.forNonNullValue(JavaCode.global(v, dataType))
  }
}

/** Physical rule: every non-null primitive literal operand of a
  * comparison, an IN list or an arithmetic expression inside a
  * `FilterExec` or `ProjectExec` becomes a [[ParamLiteral]], so
  * statements that differ only in such values generate identical Java
  * source and hit Spark's codegen cache instead of compiling fresh
  * classes (and running them before the JIT has warmed them).
  *
  * Runs as a pre-transition columnar rule: Spark applies those before
  * `CollapseCodegenStages` both in `QueryExecution.preparations` and in
  * AQE's per-stage `postStageCreationRules`. Scans keep their literals
  * (parquet pushdown and lake manifest pruning read them), and logical
  * plans are untouched, so the plan cache, result cache and reflection
  * matching see the same plans as before.
  *
  * Reference analog: the coordinator compiles operator kernels at run
  * time and reuses compiled classes across queries
  * (`exec/compile/CodeCompiler.java`).
  */
object ParameterizeLiterals extends Rule[SparkPlan] {

  val columnarRule: ColumnarRule = new ColumnarRule {
    override def preColumnarTransitions: Rule[SparkPlan] = ParameterizeLiterals
  }

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case p @ (_: FilterExec | _: ProjectExec) => p.transformExpressionsUp {
      // an all-literal operator stays foldable (Spark folds those already)
      case op @ (_: BinaryComparison | _: In | _: BinaryArithmetic) if !op.foldable =>
        op.mapChildren(param)
    }
  }

  private def param(e: Expression): Expression = e match {
    case l: Literal if l.value != null && CodeGenerator.isPrimitiveType(l.dataType) =>
      ParamLiteral(l)
    case other => other
  }
}
