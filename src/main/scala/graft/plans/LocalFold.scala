package graft.plans

import scala.util.Try

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, BoundReference, Expression, GenericInternalRow, IntegerLiteral, InterpretedMutableProjection, InterpretedOrdering, InterpretedPredicate, InterpretedUnsafeProjection, JoinedRow, SubqueryExpression, Unevaluable}
import org.apache.spark.sql.catalyst.plans.{Cross, FullOuter, Inner, JoinType, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, GlobalLimit, Join, LocalLimit, LocalRelation, LogicalPlan, OneRowRelation, Project, Repartition, ReturnAnswer, Sort}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.catalyst.util.truncatedString
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}

/** Driver-side fold of local-only plans: a planner strategy that turns
  * the largest subtree of Project, Filter, Join, Sort, single-partition
  * Repartition and Limit whose leaves are all `LocalRelation`s or
  * `OneRowRelation`s into one leaf, [[LocalFoldExec]], evaluated in the
  * driver with Spark's interpreted evaluators.
  *
  * Catalog SQL (pg_catalog, information_schema, system.*: joins over
  * driver-local relations) and tableless probes (`SELECT 1`,
  * `version()`) need no executor, yet Spark plans them as jobs: a scan
  * of `OneRowRelation`, a broadcast exchange per join, a shuffle for a
  * root ORDER BY. `ConvertToLocalRelation` folds only Project, Filter
  * and Limit over one `LocalRelation`; this strategy covers the rest
  * the serving path sends, the way DuckDB answers them in-process.
  *
  * Planning never evaluates (EXPLAIN and Parse/Describe stay free):
  * the row counts of the leaves give a static bound on every node's
  * rows and on the join pairs a nested-loop evaluation tests. Past
  * [[MaxRows]] or [[MaxPairs]], an unsupported node or join type, or an
  * expression that is nondeterministic, unevaluable or holds a
  * subquery, the strategy returns Nil and Spark plans as before.
  *
  * Installed on the server's session only ([[install]] from
  * `Engine.bootstrap`): Verify, Bench and the operator specs keep
  * exercising Spark's distributed operators. */
object LocalFold extends SparkStrategy {

  /** Bound on the rows any folded node may yield. */
  val MaxRows = 100000L

  /** Bound on the join pairs one fold may test (nested loop). */
  val MaxPairs = 1000000L

  def install(spark: SparkSession): Unit = synchronized {
    val ex = spark.experimental
    if (!ex.extraStrategies.contains(this)) ex.extraStrategies = this +: ex.extraStrategies
  }

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ReturnAnswer(child) => apply(child)
    // a bare leaf plans as Spark plans it (LocalTableScanExec collects
    // without a job already)
    case _: LocalRelation | _: OneRowRelation => Nil
    // a plan the fold cannot judge is Spark's to plan, never an error
    case p if Try(bound(p)).toOption.flatten.isDefined => LocalFoldExec(p.output, p) :: Nil
    case _ => Nil
  }

  /** (rows, join pairs) upper bounds of folding `p`; None when `p`
    * cannot fold or exceeds a cap. */
  private[plans] def bound(p: LogicalPlan): Option[(Long, Long)] = {
    val b: Option[(Long, Long)] = p match {
      case l: LocalRelation if !l.isStreaming => Some((l.data.size.toLong, 0L))
      case _: OneRowRelation => Some((1L, 0L))
      case Project(list, child) if list.forall(evaluable) => bound(child)
      case Filter(cond, child) if evaluable(cond) => bound(child)
      case Sort(order, _, child, _) if order.forall(o => evaluable(o.child)) => bound(child)
      case Repartition(1, _, child) => bound(child)
      case GlobalLimit(IntegerLiteral(n), child) => bound(child).map { case (r, j) => (r min n, j) }
      case LocalLimit(IntegerLiteral(n), child) => bound(child).map { case (r, j) => (r min n, j) }
      case Join(left, right, jt, cond, _) if joins(jt) && cond.forall(evaluable) =>
        for ((lr, lj) <- bound(left); (rr, rj) <- bound(right)) yield {
          val pairs = lr * rr
          val rows = jt match {
            case LeftSemi | LeftAnti => lr
            case Inner | Cross => pairs
            case _ => pairs + lr + rr
          }
          (rows, lj + rj + pairs)
        }
      case _ => None
    }
    b.filter { case (rows, pairs) => rows <= MaxRows && pairs <= MaxPairs }
  }

  private def joins(jt: JoinType): Boolean = jt match {
    case Inner | Cross | LeftOuter | RightOuter | FullOuter | LeftSemi | LeftAnti => true
    case _ => false
  }

  private def evaluable(e: Expression): Boolean = e.deterministic && !e.exists {
    case _: Attribute => false
    case _: SubqueryExpression | _: Unevaluable => true
    case _ => false
  }

  /** The rows of a plan [[bound]] accepted, in `p.output` order. */
  private[plans] def eval(p: LogicalPlan): IndexedSeq[InternalRow] = p match {
    case l: LocalRelation => l.data.toIndexedSeq
    case _: OneRowRelation => IndexedSeq(InternalRow.empty)
    case Project(list, child) =>
      val proj = new InterpretedMutableProjection(list, child.output)
      eval(child).map(r => proj(r).copy())
    case Filter(cond, child) =>
      val pred = InterpretedPredicate(BindReferences.bindReference(cond, child.output))
      eval(child).filter(pred.eval)
    case Sort(order, _, child, _) =>
      eval(child).sorted(new InterpretedOrdering(order, child.output))
    case Repartition(_, _, child) => eval(child)
    case GlobalLimit(IntegerLiteral(n), child) => eval(child).take(n)
    case LocalLimit(IntegerLiteral(n), child) => eval(child).take(n)
    case j: Join => join(j)
  }

  private def join(j: Join): IndexedSeq[InternalRow] = {
    val left = eval(j.left)
    val right = eval(j.right)
    val row = new JoinedRow
    val matches: (InternalRow, InternalRow) => Boolean = j.condition match {
      case Some(c) =>
        val pred = InterpretedPredicate(
          BindReferences.bindReference(c, j.left.output ++ j.right.output))
        (l, r) => pred.eval(row(l, r))
      case None => (_, _) => true
    }
    lazy val noLeft = new GenericInternalRow(j.left.output.length)
    lazy val noRight = new GenericInternalRow(j.right.output.length)
    j.joinType match {
      case LeftSemi => left.filter(l => right.exists(matches(l, _)))
      case LeftAnti => left.filterNot(l => right.exists(matches(l, _)))
      case RightOuter =>
        right.flatMap { r =>
          val ls = left.filter(matches(_, r))
          if (ls.isEmpty) IndexedSeq(row(noLeft, r).copy()) else ls.map(row(_, r).copy())
        }
      case jt =>
        val outer = jt == LeftOuter || jt == FullOuter
        val rightHit = new Array[Boolean](right.length)
        val pairs = left.flatMap { l =>
          val hits = right.indices.filter(i => matches(l, right(i)))
          hits.foreach(rightHit(_) = true)
          if (hits.isEmpty && outer) IndexedSeq(row(l, noRight).copy())
          else hits.map(i => row(l, right(i)).copy())
        }
        if (jt != FullOuter) pairs
        else pairs ++ right.indices.filterNot(rightHit).map(i => row(noLeft, right(i)).copy())
    }
  }
}

/** The leaf a [[LocalFold]] subtree plans to. Evaluation is lazy: it
  * runs in the driver each time the node executes, never at planning.
  * `executeCollect` returns the rows without a job; `doExecute` wraps
  * the same rows in a one-partition RDD for any other consumer. */
case class LocalFoldExec(output: Seq[Attribute], @transient folded: LogicalPlan)
    extends LeafExecNode {

  override def outputPartitioning: Partitioning = SinglePartition

  override def executeCollect(): Array[InternalRow] = {
    val toUnsafe = InterpretedUnsafeProjection.createProjection(
      output.zipWithIndex.map { case (a, i) => BoundReference(i, a.dataType, nullable = true) })
    LocalFold.eval(folded).map(r => toUnsafe(r).copy()).toArray
  }

  override def executeTake(n: Int): Array[InternalRow] = executeCollect().take(n)

  override def executeToIterator(): Iterator[InternalRow] = executeCollect().iterator

  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(executeCollect().toIndexedSeq, 1)

  override def simpleString(maxFields: Int): String =
    s"LocalFold ${truncatedString(output, "[", ", ", "]", maxFields)}, " +
      folded.collect { case p => p.nodeName }.mkString(", ")
}
