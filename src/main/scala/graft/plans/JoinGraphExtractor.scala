package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.plans.InnerLike

import scala.collection.mutable

/** One base-table instance participating in the join region. `idx` is the
  * per-query instance id — self-joins of the same table get distinct
  * instances, mirroring the reference keying sketches by (table id, RA
  * node id) (reference: mapd-core/QueryEngine/RelAlgExecutor.h:349-356).
  */
final case class TableInstance(idx: Int, name: String, plan: LogicalPlan) {
  lazy val outputSet: AttributeSet = plan.outputSet
}

/** Decomposition of the topmost contiguous Inner-Join/Filter region of an
  * analyzed plan:
  *  - `instances`: the leaf subtrees (scans / aliased views) hanging off it
  *  - `edges`: equi-join attribute pairs between two distinct instances
  *  - `instanceFilters`: single-instance conjuncts (pushable filters)
  *  - `residual`: everything else (multi-table non-equi, constants)
  *
  * This is the Catalyst equivalent of the reference's join-graph extraction
  * from the RA DAG (reference:
  * mapd-core/QueryEngine/FilterPushDownSketch.cpp:25-123 `extractHashJoinCol`
  * — equi pairs only; OR'd and non-equi predicates are deliberately ignored
  * for the graph, matching the reference, and kept as residual filters for
  * execution).
  */
final case class ExtractedJoinGraph(
    instances: IndexedSeq[TableInstance],
    edges: Seq[((Int, Attribute), (Int, Attribute))],
    instanceFilters: Map[Int, Seq[Expression]],
    residual: Seq[Expression]) {

  /** Distinct join attributes of one instance, in first-seen order. */
  def joinAttrs(idx: Int): Seq[Attribute] = {
    val out = mutable.LinkedHashSet.empty[Attribute]
    edges.foreach {
      case ((`idx`, a), _) => out += a
      case (_, (`idx`, b)) => out += b
      case _ =>
    }
    out.toSeq
  }
}

object JoinGraphExtractor {

  /** Extract the join region from an analyzed plan. Returns the graph and a
    * rebuild function that splices a replacement region into the original
    * plan (upper Aggregate/Project/Sort nodes keep resolving because the
    * instance subtrees — and hence exprIds — are reused verbatim).
    *
    * None when there is no join, or a non-inner join participates
    * (the reference reorders INNER only; LEFT keeps its order —
    * mapd-core/Shared/sqldefs.h:74).
    */
  def extract(plan: LogicalPlan): Option[(ExtractedJoinGraph, LogicalPlan => LogicalPlan)] = {
    val regionRoot = findRegion(plan)
    regionRoot.flatMap { root =>
      val conjuncts = mutable.Buffer.empty[Expression]
      val leaves = mutable.Buffer.empty[LogicalPlan]
      decompose(root, conjuncts, leaves)
      if (leaves.size < 2) None
      else {
        val instances = leaves.zipWithIndex
          .map { case (p, i) => TableInstance(i, nameOf(p), p) }.toIndexedSeq
        val edges = mutable.Buffer.empty[((Int, Attribute), (Int, Attribute))]
        val filters = mutable.Map.empty[Int, mutable.Buffer[Expression]]
        val residual = mutable.Buffer.empty[Expression]

        def owner(a: Attribute): Option[Int] =
          instances.find(_.outputSet.contains(a)).map(_.idx)

        conjuncts.foreach { c =>
          equiPair(c) match {
            case Some((a, b)) =>
              (owner(a), owner(b)) match {
                case (Some(ia), Some(ib)) if ia != ib =>
                  edges += (((ia, a), (ib, b)))
                case (Some(ia), Some(ib)) if ia == ib =>
                  filters.getOrElseUpdate(ia, mutable.Buffer.empty) += c
                case _ => residual += c
              }
            case None =>
              val owners = c.references.toSeq.flatMap(owner).distinct
              if (owners.size == 1 && c.references.nonEmpty)
                filters.getOrElseUpdate(owners.head, mutable.Buffer.empty) += c
              else residual += c
          }
        }
        if (edges.isEmpty) None
        else {
          val graph = ExtractedJoinGraph(
            instances, edges.toSeq,
            filters.view.mapValues(_.toSeq).toMap, residual.toSeq)
          val rebuild = (newRegion: LogicalPlan) =>
            replaceNode(plan, root, newRegion)
          Some((graph, rebuild))
        }
      }
    }
  }

  /** Topmost maximal Filter/Inner-Join chain, reached through unary nodes.
    * A non-inner join is not itself a region, but its children may contain
    * one (e.g. an optional LEFT-joined lookup atop an inner chain — the
    * reference likewise reorders only the inner portion and keeps LEFT
    * joins pinned, RelAlgExecutor.cpp:2635-2644): descend and take the
    * first viable inner region.
    */
  private def findRegion(p: LogicalPlan): Option[LogicalPlan] = p match {
    case f: Filter if containsInnerJoin(f.child) => Some(f)
    case j: Join if j.joinType.isInstanceOf[InnerLike] => Some(j)
    case j: Join => j.children.flatMap(findRegion).headOption
    case u: UnaryNode => findRegion(u.child)
    case _ => None
  }

  private def containsInnerJoin(p: LogicalPlan): Boolean = p match {
    case j: Join => j.joinType.isInstanceOf[InnerLike]
    case f: Filter => containsInnerJoin(f.child)
    case _ => false
  }

  /** Flatten the region. A nested NON-inner join becomes an opaque leaf:
    * its subtree joins the others as one derived relation, so the inner
    * joins around it can still be reordered while the outer join itself
    * stays pinned (reference keeps LEFT joins in place,
    * RelAlgExecutor.cpp:2635-2644).
    */
  private def decompose(
      p: LogicalPlan,
      conjuncts: mutable.Buffer[Expression],
      leaves: mutable.Buffer[LogicalPlan]): Unit = p match {
    case Filter(cond, child) =>
      conjuncts ++= splitConjuncts(cond)
      decompose(child, conjuncts, leaves)
    case Join(l, r, _: InnerLike, cond, _) =>
      cond.foreach(conjuncts ++= splitConjuncts(_))
      decompose(l, conjuncts, leaves)
      decompose(r, conjuncts, leaves)
    case leaf =>
      leaves += leaf
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  /** BARE attr = attr, the only edge shape the reference extracts
    * (FilterPushDownSketch.cpp:33-104). Cast-wrapped equalities are
    * deliberately NOT edges: the cast cannot be reconstructed at splice
    * time (rebuilding `CAST(ts AS DATE) = d` as `ts = d` re-coerces to
    * instant equality — wrong results), and a mixed-type edge would
    * sketch its two sides in incompatible key domains (pure-noise
    * estimates). Such conjuncts survive as residual filters applied
    * verbatim above the splice, where Catalyst's PushPredicateThroughJoin
    * turns Filter-over-Cross back into the hash join vanilla Spark would
    * have planned — correctness and join algorithm preserved, only the
    * reorder benefit for that edge is forgone.
    */
  private def equiPair(e: Expression): Option[(Attribute, Attribute)] = e match {
    case EqualTo(l: Attribute, r: Attribute) => Some((l, r))
    case _ => None
  }

  /** Outermost alias on the leaf subtree (e.g. `lineitem l1` →  "l1"). */
  private def nameOf(p: LogicalPlan): String = p match {
    case SubqueryAlias(id, _) => id.name
    case u: UnaryNode => nameOf(u.child)
    case other => other.nodeName
  }

  /** Stable identity of the underlying base relation, for sketch-template
    * cache keys: the resolved data location plus a modification-time
    * snapshot for file relations. None for derived/local relations —
    * templating those is unsound. Keying on this instead of the instance
    * ALIAS closes two r2 hazards: two different relations aliased
    * identically ("docs d") sharing a cache slot, and the same table name
    * over different scale-factor directories (sf0.001 tests, then sf0.1
    * bench) serving a stale sketch.
    */
  def templateId(p: LogicalPlan): Option[String] = p match {
    case SubqueryAlias(_, child) => templateId(child)
    case v: View => templateId(v.child)
    case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
      lr.relation match {
        case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
          val roots = fs.location.rootPaths.map(_.toString).sorted
          val conf = fs.sparkSession.sessionState.newHadoopConf()
          val mtime = roots.map { r =>
            scala.util.Try {
              val path = new org.apache.hadoop.fs.Path(r)
              path.getFileSystem(conf).getFileStatus(path).getModificationTime
            }.getOrElse(-1L) // stat failure ≠ a real mtime of 0
          }.foldLeft(0L)(math.max)
          // Root mtimes alone miss files landing INSIDE existing partition
          // subdirs (dynamic partition overwrite leaves the root mtime
          // untouched); the relation's total byte size — already computed
          // by the file index, no extra listing — moves on any such write,
          // so the pair keys staleness without a per-query recursive walk.
          Some(s"files:${roots.mkString(",")}@$mtime#${fs.sizeInBytes}")
        case _ => None
      }
    case _ => None
  }

  /** Replace `target` (by reference identity) inside `plan`. */
  private def replaceNode(plan: LogicalPlan, target: LogicalPlan, replacement: LogicalPlan): LogicalPlan =
    if (plan.eq(target)) replacement
    else plan.withNewChildren(plan.children.map(replaceNode(_, target, replacement)))
}
