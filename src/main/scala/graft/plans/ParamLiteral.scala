package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.types._

/** A primitive constant whose generated code reads the value instead of
  * inlining it. `Literal` writes its value into the Java source
  * (`value == 547L`), so two runs of one query shape with different
  * constants produce different sources and each compiles its own class;
  * Spark's compiled-class cache is keyed by the source text. This
  * expression passes the value through the generated class's `references`
  * array and loads it into a field once per class instance, so those
  * sources are byte-identical and the second run reuses the first's class.
  *
  * `foldable` stays true and `eval` returns the value: expressions that
  * specialise their code on a foldable child (a `round` scale, say) still
  * read it at generation time and stay correct; they only forgo the reuse.
  * Equality keeps the value, so plans that differ in a constant never
  * canonicalise alike (exchange and subquery reuse stay exact). */
case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {
  require(value != null && ParamLiteral.types(dataType),
    s"ParamLiteral takes a non-null primitive constant, got $value: $dataType")

  override def foldable: Boolean = true
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value

  override def toString: String = Literal(value, dataType).toString
  override def sql: String = Literal(value, dataType).sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val boxed = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param",
      v => s"$v = $boxed.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

object ParamLiteral {
  /** Primitive-backed types. Booleans stay inlined (two values, and
    * codegen folds them away); strings and decimals are objects that
    * `Literal` already passes by reference. */
  val types: DataType => Boolean = {
    case IntegerType | LongType | ShortType | ByteType | FloatType |
         DoubleType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }
}

/** Physical rule: primitive constants in `FilterExec` conditions and
  * `ProjectExec` lists become [[ParamLiteral]]s, so a query shape compiles
  * once however its constants vary. Registered as a pre-columnar-transition
  * rule, which Spark applies before `CollapseCodegenStages` in both the
  * adaptive and the non-adaptive path. Scan nodes are left alone: their
  * pushed filters (row-group skipping) were derived from the logical plan
  * and keep their literals. */
object ParameterizeLiterals extends Rule[SparkPlan] {
  private val toParam: PartialFunction[Expression, Expression] = {
    case Literal(v, t) if v != null && ParamLiteral.types(t) => ParamLiteral(v, t)
  }

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case p @ (_: FilterExec | _: ProjectExec) => p.transformExpressions(toParam)
  }
}
