package graft.enumerate

import graft.sketch.{Estimator, SketchGroup}

import scala.collection.mutable

/** One join-graph node: a table instance plus its (possibly
  * filter-surviving) sketch group. Complexity = surviving rows × join
  * columns — the reference's "sketch complexity" used to order the search
  * (reference: mapd-core/QueryEngine/RelAlgExecutor.cpp:1459).
  */
final case class GraphNode(id: Int, sketch: SketchGroup) {
  def complexity: Long = sketch.count * math.max(1, sketch.nCols)
}

/** Sketch-driven join-order enumeration — the heart of COMPASS.
  *
  * Ports, driver-local and pure:
  *  - `estimate_join_size` with its memo table keyed by the sorted node set
  *    (reference: mapd-core/QueryEngine/RelAlgExecutor.cpp:2068-2188):
  *    2 nodes → pairwise product-median over the single join-column planes;
  *    >2 nodes → per node compose a working plane as the element-wise
  *    min-|v| over the planes of the columns joining it to the other
  *    traversal members (Sketches.h:95-110 Set_Sketch_With_Max /
  *    Choose_Sketch_Min_Val), then the multi-way product-median.
  *  - `get_distinct_graph_traversals`: DFS over connected orderings,
  *    children visited cheapest-sketch-first, accumulated intermediate-size
  *    cost, branch-and-bound early stop against the best-so-far, and a hard
  *    bound of 100 recursion steps per start node
  *    (reference: RelAlgExecutor.cpp:2190-2314,
  *    variables_details.txt:13-14).
  *  - start nodes tried in ascending sketch-complexity order with a memo
  *    shared across starts (reference: RelAlgExecutor.cpp:2504-2546).
  *
  * Divergence from the reference (SURVEY §7.4.4): the DFS here only emits
  * connected prefixes (every appended node is adjacent to some placed
  * node), so the `adjustPlanForMapD` left-deep fix-up pass is unnecessary
  * — Spark can execute any connected left-deep order directly.
  *
  * Fallback when no edges exist: descending cardinality — MapD's stock
  * ordering (reference: RelAlgExecutor.cpp:2608-2621).
  */
final class Enumerator(
    nodes: IndexedSeq[GraphNode],
    edges: Seq[((Int, String), (Int, String))],
    estimator: String = Enumerator.ModeHybrid) {
  require(Enumerator.Modes.contains(estimator),
    s"unknown estimator mode '$estimator' (one of ${Enumerator.Modes})")

  private val sketchOf: Map[Int, SketchGroup] = nodes.map(n => n.id -> n.sketch).toMap
  private val complexityOf: Map[Int, Long] = nodes.map(n => n.id -> n.complexity).toMap
  private val total = nodes.size

  /** (a, b) → column pairs, symmetric. First pair wins for estimation,
    * matching the reference's `join_cols_info.find` (first entry).
    */
  private val joinCols: Map[(Int, Int), Seq[(String, String)]] = {
    val m = mutable.LinkedHashMap.empty[(Int, Int), mutable.Buffer[(String, String)]]
    edges.foreach { case ((a, ca), (b, cb)) =>
      m.getOrElseUpdate((a, b), mutable.Buffer.empty) += ((ca, cb))
      m.getOrElseUpdate((b, a), mutable.Buffer.empty) += ((cb, ca))
    }
    m.view.mapValues(_.toSeq).toMap
  }

  /** Adjacency, children sorted ascending by their sketch complexity
    * (reference: RelAlgExecutor.cpp:2480-2491 child_complexities sort).
    */
  private val graph: Map[Int, Seq[Int]] = {
    val adj = mutable.Map.empty[Int, mutable.LinkedHashSet[Int]]
    joinCols.keys.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, mutable.LinkedHashSet.empty) += b
    }
    adj.view.mapValues(_.toSeq.sortBy(complexityOf)).toMap
  }

  private val memo = mutable.Map.empty[String, Double] // bottom_up_table

  /** Ascending sketch-complexity id order — used for start nodes AND the
    * second-phase candidate scan on every dfs frame (constant; computed
    * once, not per frame).
    */
  private val startOrder: IndexedSeq[Int] = nodes.map(_.id).sortBy(complexityOf)

  /** Estimated size of joining the given node set (order-insensitive). */
  def estimate(traversal: Seq[Int]): Double = {
    val key = traversal.sorted.mkString(" ")
    memo.getOrElseUpdate(key, {
      val sk0 = sketchOf(traversal.head)
      if (traversal.size == 2) {
        val a = traversal(0); val b = traversal(1)
        joinCols.get((a, b)) match {
          case Some(pairs) =>
            val (ca, cb) = pairs.head
            val sa = sketchOf(a); val sb = sketchOf(b)
            Estimator.pairwise(
              sa.planes(sa.columnIndex(ca)), sb.planes(sb.columnIndex(cb)),
              sa.rows, sa.buckets)
          case None =>
            // No edge → cartesian product; exact, and reachable when the
            // size-descending fallback order (disconnected graph) is
            // introspected for intermediate estimates.
            sketchOf(a).count.toDouble * sketchOf(b).count.toDouble
        }
      } else {
        // Alignment guard (beyond the reference): the multi-way
        // product-median multiplies per-bucket counters ACROSS planes, so
        // it only measures the join when every involved column hashes the
        // same domain — i.e. all the traversal's internal edges live in
        // ONE seed equivalence class (e.g. the all-orderkey self-join
        // triangle). With several distinct join attributes the products
        // telescope into clamp-noise: deep prefixes "estimate" ~0 (or
        // garbage), branch-and-bound compares noise, and on the 9-way
        // region diamond the chosen order measured 8x WORSE true
        // intermediates than stock. The test is STRUCTURAL (seed-class
        // fingerprints), not value-based: mixing sketch-scaled and
        // cascade-scaled numbers inside one search misleads the bound, so
        // each regime is used consistently — reference product-median
        // where its math holds, an all-edge independence cascade
        // (exact survivor counts x pairwise sketch selectivities, always
        // seed-aligned on their own predicate) everywhere else.
        // Measured A/B of the three modes on plan CHOICE (ESTIMATES.md
        // §4, r14): reference math ranks 1.4-2.1x better on JOB but
        // 12-14x worse on TPC-H (34x on one family, worsening with
        // scale); this hybrid keeps the best Σ-true-intermediates totals
        // on BOTH workloads with the bounded worst case — gated in
        // JobCorpusSpec.
        // Planes are composed only on the aligned path: each composition
        // clones |traversal| full planes (~600 KB each), and a
        // disconnected traversal (size-descending fallback introspection)
        // would trip composedPlane's require before cascadeEstimate's
        // cartesian branch could handle it.
        estimator match {
          case Enumerator.ModeReference =>
            // The reference's unconditional composition (A/B mode): the
            // multi-way product-median regardless of seed alignment,
            // exactly as RelAlgExecutor.cpp:2068-2188 computes it. Only a
            // structurally unestimable traversal (disconnected member —
            // composedPlane's require) falls back, mirroring how such
            // traversals are handled on the default path.
            try multiwayEstimate(traversal, sk0)
            catch { case scala.util.control.NonFatal(_) => cascadeEstimate(traversal) }
          case Enumerator.ModeCascade => cascadeEstimate(traversal)
          case _ =>
            if (multiwayAligned(traversal)) multiwayEstimate(traversal, sk0)
            else cascadeEstimate(traversal)
        }
      }
    })
  }

  private def multiwayEstimate(traversal: Seq[Int],
      sk0: SketchGroup): Double = {
    val planes = traversal.map { n =>
      val others = traversal.filterNot(_ == n)
      composedPlane(n, others)
    }
    Estimator.multiway(planes.toArray, sk0.rows, sk0.buckets)
  }

  /** Seed-class fingerprint of one (node, column): SeedRegistry hands the
    * SAME seed arrays to every member of an equivalence class, so the
    * first pair identifies the class.
    */
  private def seedFp(n: Int, col: String): (Long, Long, Int, Int) = {
    val sk = sketchOf(n)
    val s = sk.seeds(sk.columnIndex(col)).pairs(0)
    (s.cwA, s.cwB, s.ehS0, s.ehS1)
  }

  /** True iff every (first) join column on the traversal's internal edges
    * carries the same seed class — the regime where the product-median is
    * hash-aligned.
    */
  private def multiwayAligned(traversal: Seq[Int]): Boolean = {
    val fps = mutable.Set.empty[(Long, Long, Int, Int)]
    var i = 0
    while (i < traversal.size) {
      var j = i + 1
      while (j < traversal.size) {
        joinCols.get((traversal(i), traversal(j))).foreach { pairs =>
          fps += seedFp(traversal(i), pairs.head._1)
          fps += seedFp(traversal(j), pairs.head._2)
        }
        j += 1
      }
      i += 1
    }
    fps.size == 1
  }

  /** Independence-cascade estimate of |⋈ traversal|: Π survivor counts ×
    * Π edge selectivities over EVERY internal edge (each unordered node
    * pair once — the System-R independence assumption). Edge selectivity
    * = pairwise sketch estimate / (|a|·|b|), clamped to [0, 1]. Members
    * with no edge contribute a cartesian factor, mirroring
    * rebuildRegion's Cross splice.
    *
    * r7: the r5 formulation multiplied only a most-selective spanning
    * FOREST, ignoring cycle-closing edges. That inflated exactly the
    * orders that close cycles early — on the 17-instance family the
    * stock baseline (which places the orderkey clique first) was
    * estimated as WORSE than the search's pick while being 25 % better
    * in true intermediates, so both the search ranking and the
    * stock-candidate fallback compared lies. All-edge products
    * under-estimate when predicates correlate, but they rank
    * cycle-closing prefixes fairly; the floor of 1.0 below keeps deep
    * prefixes out of the clamp-noise regime the alignment guard exists
    * for.
    */
  private def cascadeEstimate(traversal: Seq[Int]): Double = {
    var est = traversal.map(n => math.max(1.0, sketchOf(n).count.toDouble)).product
    var i = 0
    while (i < traversal.size) {
      var j = i + 1
      while (j < traversal.size) {
        if (joinCols.contains((traversal(i), traversal(j))))
          est *= edgeSelectivity(traversal(i), traversal(j))
        j += 1
      }
      i += 1
    }
    math.max(est, 1.0)
  }

  private def edgeSelectivity(a: Int, b: Int): Double = {
    // estimate(pair) is already memoized; only the clamp runs per call.
    val ca = math.max(1.0, sketchOf(a).count.toDouble)
    val cb = math.max(1.0, sketchOf(b).count.toDouble)
    math.min(1.0, math.max(0.0, estimate(Seq(a, b)) / (ca * cb)))
  }

  /** Working plane for node `n` inside a traversal: min-|v| composition
    * over the (first) join column toward each other member, deduplicated
    * per column (reference `processed_columns`, RelAlgExecutor.cpp:2147-2165).
    */
  private def composedPlane(n: Int, others: Seq[Int]): Array[Double] = {
    val sk = sketchOf(n)
    val cols = mutable.LinkedHashSet.empty[String]
    others.foreach { m =>
      joinCols.get((n, m)).foreach(pairs => cols += pairs.head._1)
    }
    require(cols.nonEmpty, s"node $n has no join column toward $others")
    sk.composedMinPlane(cols.toSeq.map(sk.columnIndex))
  }

  private final class SearchState {
    var best: Double = Double.MaxValue
    var bestOrder: Vector[Int] = Vector.empty
    var traversals: Int = 0
    var bound: Int = 0
    val path = mutable.ArrayBuffer.empty[Int]
    val visited = mutable.Set.empty[Int]
  }

  /** Estimated Σ-intermediate cost of an explicit order (prefixes of size
    * 2..N-1 — the same cost the DFS accumulates).
    */
  def orderCost(order: Seq[Int]): Double =
    (2 until order.size).map(k => estimate(order.take(k))).sum

  /** The reference's post-enumeration fix-up applied to an order over
    * THIS enumerator's adjacency — behavior-parity A/B surface only
    * (see [[Enumerator.adjustPlanForMapD]]).
    */
  def adjustedOrder(order: Seq[Int]): Seq[Int] =
    Enumerator.adjustPlanForMapD(graph, order)

  /** The optimal connected left-deep order and its accumulated
    * intermediate-size estimate. Cost of an order = Σ estimate(prefix) for
    * prefixes of size 2..N-1 (the full join is identical for all orders and
    * excluded, reference: RelAlgExecutor.cpp:2226-2231).
    *
    * The STOCK order is always a candidate: past ~12 nodes the 100-step
    * bound explores a vanishing fraction of the order space, and a bounded
    * search that returns something WORSE than the baseline it exists to
    * beat is a regression the optimizer must not ship (the 17-instance
    * quality family caught exactly that). If the search's best costs more
    * than the stock order under the enumerator's own estimates, the stock
    * order wins.
    */
  def optimalOrder(): (Seq[Int], Double) = {
    val fallback = nodes.sortBy(n => -n.sketch.count).map(_.id)
    if (total <= 1 || joinCols.isEmpty) return (fallback, 0.0)

    val st = new SearchState
    startOrder.foreach { start =>
      if (graph.contains(start)) {
        st.bound = 0 // per-start bound, reference :2531 traversal_bound = 0
        dfs(start, Set.empty, 0.0, st)
      }
    }
    if (st.bestOrder.isEmpty) return (fallback, 0.0)
    val stock = Enumerator.stockOrder(nodes.map(_.id), joinCols.keys,
      i => sketchOf(i).count)
    // A disconnected member inside an otherwise seed-aligned prefix can
    // make estimation throw (composedPlane's require); an unestimable
    // stock candidate simply doesn't compete.
    val stockCost =
      try orderCost(stock)
      catch { case scala.util.control.NonFatal(_) => Double.MaxValue }
    if (stockCost < st.best) (stock, stockCost) else (st.bestOrder, st.best)
  }

  /** Returns the "future visited" set (nodes reached below this frame),
    * used to avoid re-starting sibling branches from the second loop
    * (reference: RelAlgExecutor.cpp:2282-2307).
    */
  private def dfs(node: Int, allAdjacentIn: Set[Int], accIn: Double, st: SearchState): Set[Int] = {
    if (st.bound > Enumerator.TraversalBound) return Set.empty
    st.bound += 1
    var future = Set(node)
    st.path += node
    st.visited += node

    def pop(): Unit = { st.path.remove(st.path.size - 1); st.visited -= node }

    val n = st.path.size
    val est = if (n > 1 && n < total) estimate(st.path.toSeq) else 0.0

    if (n == total) {
      if (accIn < st.best) { st.best = accIn; st.bestOrder = st.path.toVector }
      st.traversals += 1
      pop()
      return future
    }
    if (n > 1 && accIn + est > st.best) { // branch-and-bound early stop
      pop()
      return future
    }
    val acc = accIn + est
    val allAdjacent = allAdjacentIn ++ graph.getOrElse(node, Nil)

    graph.getOrElse(node, Nil).foreach { next =>
      if (!st.visited.contains(next))
        future = future ++ dfs(next, allAdjacent, acc, st)
    }
    // Second phase: extend from nodes adjacent to ANY placed node (keeps
    // prefixes connected while allowing jumps to earlier branches);
    // cheapest sketch first (reference: RelAlgExecutor.cpp:2282-2307).
    // Accumulate the future-visited set here too — r2 discarded it, so
    // sibling candidates re-explored identical subtrees and burned the
    // hard traversal bound before better orders were reached.
    startOrder.foreach { cand =>
      if (!st.visited.contains(cand) && !future.contains(cand) && allAdjacent.contains(cand))
        future = future ++ dfs(cand, allAdjacent, acc, st)
    }
    pop()
    future
  }
}

object Enumerator {
  /** Recursion steps per start node before the DFS stops — fixed, as the
    * reference fixes it (variables_details.txt:13-14).
    */
  val TraversalBound = 100

  /** The stock baseline order (reference RelAlgExecutor.cpp:2608-2621
    * sorts relations by descending size): the largest instance first,
    * then repeatedly the largest instance adjacent to the placed prefix
    * (the largest remaining when nothing connects — the Cross case, as in
    * rebuildRegion), ties to the smaller id. `links` are the join graph's
    * (a, b) edges, either direction. The enumerator's stock candidate
    * applies it to sketch counts and the quality battery's baseline to
    * true counts; sketch counts ARE exact survivor counts, so when the
    * enumerator falls back to its stock candidate the two orders coincide
    * and the quality comparison reads equal sums.
    */
  def stockOrder(ids: Seq[Int], links: Iterable[(Int, Int)],
      counts: Int => Long): Seq[Int] = {
    val adj = links.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap.withDefaultValue(Set.empty)
    def largest(cand: Iterable[Int]): Int = cand.minBy(i => (-counts(i), i))
    var placed = Vector(largest(ids))
    while (placed.size < ids.size) {
      val remaining = ids.filterNot(placed.contains)
      val connected = remaining.filter(i => adj(i).exists(placed.contains))
      placed :+= largest(if (connected.nonEmpty) connected else remaining)
    }
    placed
  }

  /** Behavior-parity port of the reference's left-deep fix-up pass
    * (reference: mapd-core/QueryEngine/RelAlgExecutor.cpp:2327-2395,
    * applied to the winning traversal at :2558). A/B-ONLY — never on the
    * shipping path: this enumerator's DFS emits connected prefixes, and
    * the reference's does too (both extension phases gate on adjacency
    * to the current path — :2255-2278 children, :2282-2307
    * all_adjacent_nodes), so the pass exists for MapD's nest-level
    * constraint ("re-order: leaves after internal nodes", :2316-2325),
    * not for left-deep validity. Ported exactly, quirks included:
    *  - a leaf whose single neighbor is not yet placed always swaps
    *    positions 0 and 1 of the traversal (:2338-2343) — on a
    *    connected order this can only fire for a leaf at index 0, and
    *    the swap puts its parent first (same prefix SETS, so identical
    *    Σ intermediates);
    *  - the output keeps the prefix through the LAST leaf verbatim and
    *    re-inserts each later INTERNAL node directly after its
    *    latest-placed neighbor (:2359-2391);
    *  - an internal node with no placed neighbor — reachable only on a
    *    leafless (all-cycle) graph, where the kept prefix is empty — is
    *    DROPPED (:2384-2386 inserts nothing), and a leaf in the tail
    *    would be dropped too (:2387-2389 empty else); both are
    *    unreachable on leaf-bearing graphs and documented here so the
    *    A/B can assert node-set preservation per family instead of
    *    assuming it.
    */
  def adjustPlanForMapD(graph: Map[Int, Seq[Int]], order: Seq[Int]): Seq[Int] = {
    if (order.size < 2) return order
    val trav = scala.collection.mutable.ArrayBuffer(order: _*)
    val connected = scala.collection.mutable.Set.empty[Int]
    var lastLeafIdx = -1 // unsigned -1 in the reference; +1 overflows to 0 there and here
    var i = 0
    while (i < trav.size) {
      val adj = graph.getOrElse(trav(i), Nil)
      if (adj.size == 1) {
        if (!connected.contains(adj.head)) {
          val tmp = trav(0); trav(0) = trav(1); trav(1) = tmp
        }
        lastLeafIdx = i
      }
      // internal node with all neighbors placed "became a leaf" — the
      // reference only logs this (:2344-2356)
      connected += trav(i) // after a swap at i=0 this is the NEW head, as in the reference
      i += 1
    }
    val cut = lastLeafIdx + 1
    val result = scala.collection.mutable.ArrayBuffer(trav.take(cut).toSeq: _*)
    val connected2 = scala.collection.mutable.Set.empty[Int]
    connected2 ++= result
    var j = cut
    while (j < trav.size) {
      val node = trav(j)
      val adj = graph.getOrElse(node, Nil)
      if (adj.size != 1) {
        var closest = -1
        adj.foreach { a =>
          var k = 0
          result.foreach { placed =>
            if (connected2.contains(placed) && placed == a && k > closest) closest = k
            k += 1
          }
        }
        if (closest != -1) result.insert(closest + 1, node)
        // closest == -1: dropped ("internal node remained as a leaf")
      }
      // tail leaf: the reference appends nothing
      connected2 += node
      j += 1
    }
    result.toSeq
  }

  /** Default: seed-alignment-guarded hybrid — reference product-median
    * where its math holds (one seed class), independence cascade
    * everywhere else (see the alignment-guard comment in `estimate`).
    */
  val ModeHybrid = "hybrid"
  /** A/B mode: the reference's unconditional multi-way product-median
    * (the math `MultiwayDivergenceSpec` proves degenerates cross-class).
    */
  val ModeReference = "reference"
  /** A/B mode: the independence cascade for every >2-way traversal. */
  val ModeCascade = "cascade"
  val Modes: Set[String] = Set(ModeHybrid, ModeReference, ModeCascade)
}
