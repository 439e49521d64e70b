package graft.engine

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, In, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.execution.{FilterExec, LogicalRDD, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.{FileSourceStrategy, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._

/**
 * A filter constant passed to generated code by reference. A [[Literal]]
 * of a numeric, date or timestamp type writes its value into the Java
 * source, so two requests that differ only in a time window or bind
 * value compile two classes; a `BoundParam` loads the value from the
 * generated class's `references` array into a field at init, so the
 * source, and Spark's codegen cache entry, is the same for every value.
 * It renders exactly like the literal it stands for (`toString`, `sql`),
 * so plan strings and trace spans do not change.
 */
case class BoundParam(value: Any, dataType: DataType) extends LeafExpression {
  private def literal = Literal(value, dataType)
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param", v => s"$v = $ref.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

/**
 * Planner strategy that binds filter constants as [[BoundParam]]s: the
 * operands of comparisons and `IN` lists in a `FilterExec` condition, for
 * the numeric, date and timestamp types whose literals Spark inlines into
 * generated code (strings and decimals already go by reference). This is
 * the engine's prepared-statement path: a repeated statement with a new
 * window or value reuses the compiled class of the first.
 *
 * A filter over a file scan is planned by `FileSourceStrategy` first, so
 * pushed filters and partition pruning are computed from the original
 * literals; only the `FilterExec` it leaves above the scan is rewritten.
 * A filter over an operator, a local relation or an RDD becomes a
 * `FilterExec` directly, as `BasicOperators` would plan it. Filters over
 * any other leaf (cached relations, V2 scans) are left to the
 * strategies that push them into the scan.
 */
object BindFilterLiterals extends SparkStrategy {

  /** Add the strategy to `session` once; safe under concurrent callers. */
  def install(session: SparkSession): Unit = {
    val exp = session.experimental
    if (!exp.extraStrategies.contains(this)) exp.synchronized {
      if (!exp.extraStrategies.contains(this)) exp.extraStrategies = this +: exp.extraStrategies
    }
  }

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = {
    val (filtered, base) = chain(plan)
    base match {
      case l: LogicalRelation if filtered && l.relation.isInstanceOf[HadoopFsRelation] =>
        FileSourceStrategy(plan).map(_.transformUp {
          case f: FilterExec => f.copy(condition = bind(f.condition))
        })
      case _: LocalRelation | _: LogicalRDD => plainFilter(plan)
      case _: LeafNode => Nil
      case _ => plainFilter(plan)
    }
  }

  private def plainFilter(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Filter(condition, child) => FilterExec(bind(condition), planLater(child)) :: Nil
    case _ => Nil
  }

  /** Whether the Project/Filter chain on top of `plan` holds a filter, and
    * the node below it. */
  private def chain(plan: LogicalPlan): (Boolean, LogicalPlan) = plan match {
    case Filter(_, child) => (true, chain(child)._2)
    case Project(_, child) => chain(child)
    case other => (false, other)
  }

  private def bind(condition: Expression): Expression = condition.transform {
    case c: BinaryComparison => c.withNewChildren(c.children.map(param))
    case in: In => in.withNewChildren(in.children.map(param))
  }

  private def param(e: Expression): Expression = e match {
    case Literal(v, dt) if v != null && inlined(dt) => BoundParam(v, dt)
    case other => other
  }

  private def inlined(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
        DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }
}
