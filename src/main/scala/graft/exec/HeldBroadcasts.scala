package graft.exec

import java.util.concurrent.{CompletableFuture, TimeUnit}

import scala.jdk.FutureConverters._

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastMode, BroadcastPartitioning, Partitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{LeafExecNode, LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec, TableCacheQueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, BroadcastExchangeLike, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.HashedRelationBroadcastMode
import org.apache.spark.sql.execution.metric.SQLMetric

/** Broadcast join sides held for the session: a side that depends only
  * on the tables is built once per generation of the session's
  * [[HeldStore]], not once per request.
  *
  * Rule. [[Hold]] runs after `EnsureRequirements` has inserted the
  * exchanges, and again on every adaptive re-plan (a query-stage
  * preparation rule, [[graft.functions.GraftExtensions]]). It replaces a
  * `BroadcastExchangeExec` with a [[HeldBroadcastExchangeExec]] when
  *   - the [[Statement]] planning on this thread is a read that
  *     `GraftSession.cypher` bound — a thread with no live statement,
  *     such as every batch call, plans exactly as before;
  *   - every expression of the side is deterministic; and
  *   - the side carries no value the statement bound: no literal (a file
  *     scan's data filters included) equals a bound `$param` value
  *     ([[ParamRefs.binds]]: numbers across numeric types, strings as
  *     strings), it has no [[ParamRef]], and it reads no local relation
  *     when the statement bound any value.
  *
  * Key. A side is held under its broadcast mode and child plan, both
  * canonicalized (a [[ParamRef]] canonicalizes to its literal). The key
  * and the generation make a held side correct; the bound-value test only
  * keeps each new parameter value from adding an entry.
  *
  * Lifetime. The first use runs the ordinary broadcast and publishes it
  * when the generation its statement read is still current. The
  * statement holds a lease on every side it plans with, until its cache
  * scope ends: a read in flight across a write finishes on the old
  * broadcast, destroyed when its last lease goes. Held sides share one
  * byte bound, [[CapFraction]] of the driver heap. */
object HeldBroadcasts {

  /** The held sides' share of the driver heap (1/16). The 12
    * `cypher_read` templates hold 57 MB of hashed relations in 11 sides at
    * sf0.1, under a third of a 3 GiB heap's 192 MiB share (DESIGN §20). */
  val CapFraction = 16L

  /** A side's key: its broadcast mode and child, canonicalized. */
  private final case class Key(mode: BroadcastMode, child: SparkPlan)
  private[graft] val KeyClass: Class[_] = classOf[Key]

  /** A held side: the broadcast and what the ordinary exchange measured. */
  final class Side private[exec] (val bc: Broadcast[Any], val bytes: Long, val rows: Long)

  /** The physical rule, for the thread's read statement (none: identity). */
  final class Hold(session: SparkSession) extends Rule[SparkPlan] {
    def apply(plan: SparkPlan): SparkPlan =
      Statement.current(session.sparkContext).filter(_.holds).fold(plan)(st => plan.transformDown {
        case b: BroadcastExchangeExec if valueFree(st, b) => held(st, b)
      })
  }

  private def valueFree(st: Statement, b: BroadcastExchangeExec): Boolean = {
    // the plans of a cached relation, and of the side's finished
    // exchanges (query stages, after an adaptive re-plan), are not
    // children: they are read all the same
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case s: InMemoryTableScanExec => nodes(s.relation.cacheBuilder.cachedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case r: ReusedExchangeExec => nodes(r.child)
      case a: AdaptiveSparkPlanExec => nodes(a.inputPlan)
      case _ => (p.children ++ p.subqueries).flatMap(nodes)
    })
    val side = nodes(b.child)
    val exprs = (b.mode match {
      case m: HashedRelationBroadcastMode => m.key
      case _ => Nil
    }) ++ side.flatMap(_.expressions)
    def bound(e: Expression): Boolean = e.exists {
      case _: ParamRef => true
      case Literal(v, dt) => ParamRefs.binds(st, v, dt)
      case _ => false
    }
    // Catalyst folds a filter over a local relation into its rows, where
    // the values it compared with no longer show: a statement that bound
    // any value holds no side that reads one
    exprs.forall(_.deterministic) && !exprs.exists(bound) &&
      !(st.raw.nonEmpty && side.exists(_.isInstanceOf[LocalTableScanExec]))
  }

  /** `b`'s key. A cached relation enters it as the plan it caches, scan
    * or adaptive stage alike: each CALL+UNION request persists its own
    * copy of the same frame, and those copies hold the same rows. */
  private def key(b: BroadcastExchangeExec): Key = {
    def cached(s: InMemoryTableScanExec) =
      HeldSideExec(s.attributes.map(_.toAttribute), s.relation.cacheBuilder.cachedPlan.canonicalized)
    Key(b.mode.canonicalized, b.child.canonicalized.transformUp {
      case s: InMemoryTableScanExec => cached(s)
      case TableCacheQueryStageExec(_, s: InMemoryTableScanExec) =>
        cached(s.canonicalized.asInstanceOf[InMemoryTableScanExec])
    })
  }

  private def held(st: Statement, b: BroadcastExchangeExec): SparkPlan = {
    val key = this.key(b)
    st.lease[Side](key) match {
      case Some(l) =>
        val side = HeldSideExec(b.child.output, b.child.canonicalized)
        // adaptive execution links each new query stage to a logical plan
        // found below its exchange
        b.child.collectFirst { case p if p.logicalLink.isDefined => p.logicalLink.get }
          .foreach(side.setLogicalLink)
        HeldBroadcastExchangeExec(b.mode, side, Some(l.value), key, st)
      case None => HeldBroadcastExchangeExec(b.mode, b.child, None, key, st)
    }
  }
}

/** A broadcast exchange that serves a held side (`served`), or on first
  * use runs the ordinary exchange over `child` and publishes the result
  * ([[HeldBroadcasts]]). It canonicalizes to that ordinary exchange, so
  * adaptive execution matches it against the stages it has, and reports
  * the ordinary exchange's metrics and statistics: a served side reports
  * the size and row count of its first use, and no collect or build
  * time. */
case class HeldBroadcastExchangeExec(mode: BroadcastMode, child: SparkPlan,
    @transient served: Option[HeldBroadcasts.Side], @transient key: Any,
    @transient st: Statement) extends BroadcastExchangeLike {

  @transient private val ordinary = BroadcastExchangeExec(mode, child)

  override lazy val metrics: Map[String, SQLMetric] = ordinary.metrics

  override def outputPartitioning: Partitioning = BroadcastPartitioning(mode)

  override def runtimeStatistics: Statistics = ordinary.runtimeStatistics

  override def jobTag: String = ordinary.jobTag

  override def doCanonicalize(): SparkPlan = ordinary.canonicalized

  override def stringArgs: Iterator[Any] =
    Iterator(mode, if (served.isDefined) "held" else "first use", s"[plan_id=$id]")

  @transient override lazy val relationFuture: CompletableFuture[Broadcast[Any]] = served match {
    case Some(side) =>
      metrics("dataSize").set(side.bytes)
      metrics("numOutputRows").set(side.rows)
      CompletableFuture.completedFuture(side.bc)
    case None =>
      ordinary.relationFuture.asInstanceOf[CompletableFuture[Broadcast[Any]]].thenApply { bc =>
        val side = new HeldBroadcasts.Side(bc, metrics("dataSize").value, metrics("numOutputRows").value)
        st.publish(key, new Leased(side, (s: HeldBroadcasts.Side) => s.bc.destroy()), side.bytes)
        bc
      }
  }

  @transient override lazy val completionFuture: scala.concurrent.Future[Broadcast[Any]] =
    relationFuture.asScala

  override protected def doPrepare(): Unit = relationFuture

  override protected def doExecute(): RDD[InternalRow] =
    throw new UnsupportedOperationException("a broadcast exchange runs through executeBroadcast")

  override def doExecuteBroadcast[T](): Broadcast[T] =
    relationFuture.get(conf.broadcastTimeout, TimeUnit.SECONDS).asInstanceOf[Broadcast[T]]

  override protected def withNewChildInternal(c: SparkPlan): HeldBroadcastExchangeExec =
    copy(child = c)
}

/** Stands in for a plan that does not run: a held side's child, whose
  * output the join reads, and, in a side's key, a cached relation.
  * Canonically the plan it stands for. */
case class HeldSideExec(output: Seq[Attribute], side: SparkPlan) extends LeafExecNode {
  override protected def doExecute(): RDD[InternalRow] =
    throw new UnsupportedOperationException("a held broadcast side does not execute")
  override def doCanonicalize(): SparkPlan = side
  override def simpleString(maxFields: Int): String = s"HeldSide ${output.mkString("[", ", ", "]")}"
}
