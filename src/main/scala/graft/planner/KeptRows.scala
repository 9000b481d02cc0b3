package graft.planner

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, ExpressionSet, IsNotNull, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Project, Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}

/** One instance's kept survivors: `UnsafeRow`s already on the driver,
  * held once however many leaves and queries serve them. Equality is
  * identity, so a plan's canonical form names the row set it reads: two
  * leaves over different rows never share an exchange, and two leaves
  * over the same set may. A whole-stage task ships the plan it runs, so
  * the set is serializable, but its rows stay on the driver: only the
  * driver reads them.
  */
final class KeptRowSet(@transient val rows: IndexedSeq[InternalRow]) extends Serializable {
  val size: Int = rows.size
  val bytes: Long = rows.iterator.map(_.asInstanceOf[UnsafeRow].getSizeInBytes.toLong).sum
  override def toString: String = s"$size rows@${System.identityHashCode(this).toHexString}"
}

/** A leaf over kept survivors (the COMPASS splice's push-down result).
  * Not a `LocalRelation`: that holds its rows as a constructor argument,
  * and Catalyst's generic tree walks (`mapExpressions`, `expressions`)
  * visit every `Seq` argument, so each rule that maps a plan's
  * expressions walks and copies the row list — optimizing the 25-query
  * job-compass set with ~7k kept rows per query took ~1.6 s against
  * ~0.2 s with one row per leaf. A [[KeptRowSet]] is opaque to those
  * walks. Its statistics are rows × estimated row size, and its
  * non-nullable columns (the join columns: NULL-key rows were dropped)
  * are declared as constraints, so no `isnotnull` filter is inferred.
  * [[KeptRowsStrategy]] plans it.
  */
final case class KeptRows(output: Seq[Attribute], rowSet: KeptRowSet)
    extends LeafNode with MultiInstanceRelation {
  override def computeStats(): Statistics = Statistics(
    EstimationUtils.getSizePerRow(output) * rowSet.size, Some(BigInt(rowSet.size)))

  override lazy val constraints: ExpressionSet =
    ExpressionSet(output.filterNot(_.nullable).map(IsNotNull))

  override def newInstance(): LogicalPlan = copy(output = output.map(_.newInstance()))

  override def simpleString(maxFields: Int): String =
    s"KeptRows ${output.mkString("[", ", ", "]")}, $rowSet"
}

/** [[KeptRows]] executed: `output` read from rows laid out as `source`.
  * A broadcast exchange collects its child with `executeCollectIterator`,
  * which here hands over the rows already on the driver — no job, and no
  * whole-stage class to compile. Only a leaf on the probe side runs
  * [[doExecute]], which parallelizes them.
  */
final case class KeptRowsExec(output: Seq[Attribute], source: Seq[Attribute],
    rowSet: KeptRowSet) extends LeafExecNode {
  @transient private lazy val rows: IndexedSeq[InternalRow] =
    if (output.map(_.exprId) == source.map(_.exprId)) rowSet.rows
    else {
      val project = UnsafeProjection.create(output, source)
      rowSet.rows.map(project(_).copy())
    }

  protected override def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(rows,
      math.max(1, math.min(rows.size, sparkContext.defaultParallelism)))

  override def executeCollect(): Array[InternalRow] = rows.toArray

  override def executeCollectIterator(): (Long, Iterator[InternalRow]) =
    (rows.size.toLong, rows.iterator)

  override def simpleString(maxFields: Int): String =
    s"KeptRows ${output.mkString("[", ", ", "]")}, $rowSet"
}

/** Plans [[KeptRows]], and an attribute-only `Project` over it, into a
  * [[KeptRowsExec]]. Without the `Project` case column pruning can put a
  * compiled projection between a broadcast exchange and the rows, and the
  * exchange would run a job to collect it.
  */
object KeptRowsStrategy extends SparkStrategy {
  def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case k: KeptRows => KeptRowsExec(k.output, k.output, k.rowSet) :: Nil
    case Project(list, k: KeptRows) if list.forall(_.isInstanceOf[Attribute]) =>
      KeptRowsExec(list.map(_.asInstanceOf[Attribute]), k.output, k.rowSet) :: Nil
    case _ => Nil
  }

  /** Install the strategy on `session`; a no-op if it is there already. */
  def setup(session: SparkSession): Unit = {
    val em = session.experimental
    em.synchronized {
      if (!em.extraStrategies.contains(this)) em.extraStrategies = this +: em.extraStrategies
    }
  }
}
