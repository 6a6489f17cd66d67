package graft.exec

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, BinaryArithmetic, BinaryComparison, Cast, Expression, In, LeafExpression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, HashedRelationBroadcastMode, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.types._

/** `$param` values read through references, so one plan shape compiles
  * once whatever the values (SnappyData's `ParamLiteral`, Mozafari et al.,
  * CIDR 2017, did the same on Spark 2.x).
  *
  * Spark writes a numeric, date or timestamp `Literal` into the generated
  * Java source, so every new parameter value used to compile new classes.
  * The logical plan keeps its `Literal`s — constant folding, inferred
  * filters and parquet pushdown still see the value. Only the physical
  * plan changes, just before whole-stage codegen: in the comparison and
  * `IN` operands of filter, projection and join conditions (and of a
  * cached relation's batch-pruning predicates), and in the keys of a
  * broadcast hash join, a literal whose value the statement bound becomes
  * a [[ParamRef]], whose code reads the value from a field set once from
  * `ctx.addReferenceObj` — what Spark already does for string literals.
  * File scans keep their literals, so `PushedFilters`, `dataFilters` and
  * `partitionFilters` are unchanged. Left inlined: an `IN` list of 11 to
  * 400 INT or DATE values, which Catalyst compiles into a `switch`.
  *
  * Marks. [[GraftSession.cypher]] binds one [[Statement]] per call. Its
  * numeric, date and timestamp values — `IN $list` elements included —
  * become marks, and so do values Catalyst folds from the parameters
  * alone, such as `datetime($d)` ([[folded]], called by [[ExprCompiler]]).
  * Marks compare by value: numbers across numeric types (an integral
  * parameter unwrapped against an INT column becomes an INT literal),
  * dates and timestamps by type. A constant the user or the engine wrote
  * that happens to equal a bound value is replaced too; the replacement
  * reads the same value, so answers never change.
  *
  * Scope. The marks belong to the calling thread's [[Statement]], and
  * end with it: at the release of the thread's cache scope. A later
  * statement on the thread plans with its own marks; a thread with no
  * live statement — every batch call — plans exactly as before. */
object ParamRefs {

  /** A literal's mark key: numbers by value across numeric types, dates
    * and timestamps by type and internal value; None for values Spark
    * already reads through references (strings, decimals) or that have
    * few values (booleans). */
  private def key(v: Any, dt: DataType): Option[Any] = (v, dt) match {
    case (null, _) => None
    case (n: Number, ByteType | ShortType | IntegerType | LongType) => Some(BigDecimal(n.longValue))
    case (n: Number, FloatType | DoubleType) if java.lang.Double.isFinite(n.doubleValue) =>
      Some(BigDecimal(n.doubleValue))
    case (d: Int, DateType) => Some(("date", d))
    case (t: Long, TimestampType | TimestampNTZType) => Some(("ts", t))
    case _ => None
  }

  /** The mark key of a bound parameter value. */
  private[exec] def keyOfValue(v: Any): Option[Any] =
    try { val l = Literal(v); key(l.value, l.dataType) }
    catch { case NonFatal(_) => None }

  private def current: Option[Statement] = Statement.current(SparkSession.active.sparkContext)

  /** Whether `v` is a value the calling thread's statement bound. */
  def isBound(v: Any): Boolean = current.exists(_.raw(v))

  /** Whether statement `st` bound the value `v` of a literal of type
    * `dt`: a mark, a bound string, or a bound number written as a
    * decimal. */
  private[exec] def binds(st: Statement, v: Any, dt: DataType): Boolean =
    key(v, dt).exists(st.keys.contains) || (v match {
      case s: org.apache.spark.unsafe.types.UTF8String => st.raw(s.toString)
      case d: Decimal => st.keys.contains(BigDecimal(d.toJavaBigDecimal))
      case _ => false
    })

  /** Marks the value Catalyst will fold `c` — an expression over bound
    * values only — into, and returns `c` unchanged. A value that does not
    * fold (non-deterministic, or failing on this input) marks nothing. */
  def folded(c: Column): Column = {
    for (st <- current) try {
      val spark = SparkSession.active
      ReplaceExpressions(spark.range(1).select(c).queryExecution.analyzed) match {
        case Project(Seq(Alias(e, _)), _) if e.foldable =>
          val v = e.eval()
          key(v, e.dataType).foreach(st.keys.add)
          // compared with a column of another temporal type, Catalyst
          // casts the folded value into that type
          val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
          if (Temporal(e.dataType) && v != null) for (t <- Temporal - e.dataType)
            key(Cast(Literal(v, e.dataType), t, tz).eval(), t).foreach(st.keys.add)
        case _ =>
      }
    } catch { case NonFatal(_) => }
    c
  }

  private val Temporal: Set[DataType] = Set(DateType, TimestampType, TimestampNTZType)

  /** The physical rewrite, for the thread's live marks (none: identity). */
  final class Replace(session: SparkSession) extends Rule[SparkPlan] {
    def apply(plan: SparkPlan): SparkPlan =
      Statement.current(session.sparkContext).filterNot(_.keys.isEmpty)
        .fold(plan)(st => rewrite(plan, st.keys))
  }

  private def rewrite(plan: SparkPlan, keys: java.util.Set[Any]): SparkPlan = {
    // a bound literal, under casts
    def ref(e: Expression): Expression = e match {
      case Literal(v, dt) if key(v, dt).exists(keys.contains) => ParamRef(v, dt)
      case c: Cast => c.withNewChildren(Seq(ref(c.child)))
      case other => other
    }
    // an operand: the bound literal itself, or an operand of one
    // arithmetic step (`top - $d`). A deeper constant belongs to the
    // expression around it (a function argument, an index), and a bound
    // value equal to it must not turn it into a reference: that would be
    // a second plan shape.
    def refs(e: Expression): Expression = e match {
      case a: BinaryArithmetic => a.withNewChildren(a.children.map(ref))
      case other => ref(other)
    }
    def cond(e: Expression): Expression = e.transformDown {
      case c @ (_: BinaryComparison | _: In) => c.withNewChildren(c.children.map(refs))
    }
    plan.transformUp {
      case f: FilterExec => f.copy(condition = cond(f.condition))
      case p: ProjectExec =>
        p.copy(projectList = p.projectList.map(cond(_).asInstanceOf[NamedExpression]))
      // an equality the join extracted into keys: both key sides and the
      // build side's hashed-relation keys
      case j: BroadcastHashJoinExec => j.copy(leftKeys = j.leftKeys.map(refs),
        rightKeys = j.rightKeys.map(refs), condition = j.condition.map(cond))
      case b @ BroadcastExchangeExec(m: HashedRelationBroadcastMode, _) =>
        b.copy(mode = m.copy(key = m.key.map(refs)))
      case j: ShuffledHashJoinExec => j.copy(condition = j.condition.map(cond))
      case j: SortMergeJoinExec => j.copy(condition = j.condition.map(cond))
      case j: BroadcastNestedLoopJoinExec => j.copy(condition = j.condition.map(cond))
      // a cached relation's batch-pruning predicate is generated code too
      case s: InMemoryTableScanExec => s.copy(predicates = s.predicates.map(cond))
    }
  }

  /** The rule's two hooks ([[graft.functions.GraftExtensions]]): a
    * columnar rule, which the non-adaptive preparations run before
    * whole-stage codegen, and a query-stage optimizer rule, which adaptive
    * execution runs on every stage it creates — a cached relation's scan
    * stage included — and on the final plan. (A query post-planner rule
    * runs only inside `AdaptiveSparkPlanExec`, which does not wrap a plan
    * without an exchange, such as a point lookup.) Running both on one
    * plan is harmless: the second finds no bound literal left. */
  def columnar(session: SparkSession): ColumnarRule = new ColumnarRule {
    private val replace = new Replace(session)
    override def preColumnarTransitions: Rule[SparkPlan] = replace
  }
}

/** A bound parameter value in the physical plan: evaluates to `value`, and
  * its generated code reads it from a field initialised once from the
  * plan's reference array, so the Java source does not depend on it. */
final case class ParamRef(value: Any, dataType: DataType) extends LeafExpression {
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param", v => s"$v = $ref.${javaType}Value();")
    ev.copy(code = EmptyBlock, isNull = FalseLiteral, value = JavaCode.global(field, dataType))
  }

  /** Canonically the literal it stands for: plan comparisons — exchange
    * reuse, a broadcast stage's partitioning that adaptive re-planning
    * matches against a new join — see no difference. */
  override lazy val canonicalized: Expression = Literal(value, dataType).canonicalized

  override def toString: String = s"param(${Literal(value, dataType)})"
  override def sql: String = Literal(value, dataType).sql
}
