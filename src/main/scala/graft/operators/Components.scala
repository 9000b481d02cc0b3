package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge list — the clustering
  * step of a dedup pipeline: near-duplicate PAIRS (from MinHash / SimHash
  * / n-gram verification) become GROUPS, and each group keeps one
  * canonical representative (the minimum id).
  *
  * Algorithm: iterated min-label propagation with pointer jumping.
  * Each round every node takes the minimum label over {itself, its
  * neighbors' labels}, then labels chase their own label's label
  * (`comp ← comp(comp)`), which contracts label chains like union-find
  * path-halving. Propagation alone needs O(diameter) rounds (a 1M-node
  * chain would need 1M shuffles); with jumping the label graph contracts
  * geometrically, so convergence is O(log n) rounds — each round a
  * constant number of hash-shuffle joins and aggregates on (id, comp)
  * pairs, never materializing anything wider than the edge list. This is
  * the standard scalable formulation (cf. the large-star/small-star
  * map-reduce algorithm); dedup graphs in practice are near-diameter-2
  * (dup clusters), so the loop exits after 2-3 rounds via the
  * convergence check.
  *
  * Returns one row per node appearing in `edges`: (id, component) with
  * `component` = the minimum node id reachable. Isolated documents (no
  * near-dup pair) are their own components — callers union them in from
  * the corpus if needed (see the `q_dedup_components` entry).
  *
  * Every iterative operator here materializes its rounds through
  * [[OpCaches.materialize]]: a checkpoint, not just a cache — a persisted
  * DataFrame still carries its FULL logical plan, so every round would
  * re-analyze and re-optimize the upstream pipeline (for dedup, the whole
  * MinHash-LSH HOF lattice) plus all previous rounds' joins, and that
  * plan work (not data) dominated the loops at bench scale. The
  * checkpoint roots the plan at the materialized partitions.
  */
object Components {

  def connectedComponents(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 25): DataFrame = {
    // Symmetrize once; every round's neighbor-min join reads this relation.
    val sym = symmetric(edges, srcCol, dstCol)

    // comp₀ = min(id, min neighbor) — one aggregate seeds the labels.
    var labels = OpCaches.materialize(
      sym.groupBy(col("a").as("id"))
        .agg(min(col("b")).as("min_nbr"))
        .select(col("id"), least(col("id"), col("min_nbr")).as("comp")))
    // Empty edge relation (e.g. a dedup pass that found no pairs, a
    // density grid with no dense cells at sparse scale): the loop's
    // convergence sum would be NULL and NPE — there is nothing to
    // propagate, so the empty label relation IS the answer.
    if (labels.isEmpty) return labels
    // Labels only ever DECREASE, so Σcomp strictly decreases on any
    // change: convergence is "sum unchanged" — one aggregate action per
    // round, no self-join diff. DECIMAL(38) sum: node-count × id-range
    // can overflow a 64-bit sum at full scale.
    def labelSum(df: org.apache.spark.sql.DataFrame): java.math.BigDecimal =
      df.agg(sum(col("comp").cast("decimal(38,0)"))).head().getDecimal(0)
    var prevSum = labelSum(labels)

    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // Neighbor-min over CURRENT labels: node id ← min comp of neighbors.
      val nbrMin = sym
        .join(labels.withColumnsRenamed(Map("id" -> "b_id", "comp" -> "b_comp")),
          col("b") === col("b_id"))
        .groupBy(col("a").as("id"))
        .agg(min(col("b_comp")).as("nbr_comp"))
      val propagated = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("comp"))
      // Pointer jumping: comp ← comp(comp). Labels are node ids, so the
      // label table IS the pointer table; a label already at its root
      // (comp(comp) == comp) passes through unchanged.
      val jumped = propagated
        .join(labels.withColumnsRenamed(Map("id" -> "p_id", "comp" -> "p_comp")),
          col("comp") === col("p_id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("p_comp"), col("comp"))).as("comp"))
      // The checkpoint keeps the next round's plan constant-size (labels
      // is always a leaf, never k rounds of nested joins); the superseded
      // round's blocks go with its GC'd DataFrame. Lazy: the round's first
      // read is its label sum, so materializing and summing are one job.
      val next = OpCaches.materialize(jumped, eager = false)
      val nextSum = labelSum(next)
      labels = next
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      iter += 1
    }
    // `sym` and the intermediate rounds are checkpoint-backed: their
    // blocks are reclaimed by the ContextCleaner once unreachable. Only
    // the returned labels' blocks outlive the call, until IT is collected.
    labels
  }

  /** PageRank over a directed edge relation — fixed `iters` power
    * iterations at damping `d`, the standard uniform redistribution of
    * dangling mass (nodes with no out-edges). Returns (id, rank).
    *
    * Scale shape: per iteration, ONE join of ranks onto edges (shuffle
    * on src) and ONE dst aggregate — both key-partitioned; the dangling
    * term is a scalar aggregate (one driver double per iteration, like
    * the components loop's convergence sum) and node count N is a single
    * scalar up front. Ranks checkpoint per iteration exactly like the
    * components labels — the plan stays constant-size however many
    * iterations, and superseded rounds' blocks are reclaimed. Iteration
    * count is FIXED (not convergence-tested): the differential oracle
    * re-derives the same unrolled iterations relationally, which a
    * data-dependent stopping rule would break.
    */
  def pageRank(
      edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 3, damping: Double = 0.85): DataFrame = {
    require(iters >= 1, s"pageRank: iters must be >= 1, got $iters")
    require(damping > 0 && damping < 1,
      s"pageRank: damping must be in (0,1), got $damping")
    val e = OpCaches.materialize(edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct())
    val nodes = OpCaches.materialize(
      e.select(col("src").as("id")).union(e.select(col("dst").as("id"))).distinct())
    val n = nodes.count().toDouble // one scalar, any graph size
    require(n > 0, "pageRank: empty graph")
    val outdeg = e.groupBy("src").agg(count(lit(1)).cast("double").as("deg"))
    var ranks = OpCaches.materialize(nodes.withColumn("rank", lit(1.0 / n)))
    for (_ <- 1 to iters) {
      // Mass a node RECEIVES: Σ over in-edges of rank(src)/outdeg(src).
      val inMass = e
        .join(ranks.withColumnsRenamed(Map("id" -> "src_id", "rank" -> "r")),
          col("src") === col("src_id"))
        .join(outdeg, "src")
        .groupBy(col("dst").as("id"))
        .agg(sum(col("r") / col("deg")).as("in_mass"))
      // Mass dangling nodes LOSE, redistributed uniformly (a scalar).
      val dangling = ranks
        .join(outdeg.select(col("src").as("id")), Seq("id"), "left_anti")
        .agg(coalesce(sum(col("rank")), lit(0.0))).head().getDouble(0)
      ranks = OpCaches.materialize(nodes
        .join(inMass, Seq("id"), "left")
        .select(col("id"),
          (lit((1.0 - damping) / n) +
            lit(damping) * (coalesce(col("in_mass"), lit(0.0)) +
              lit(dangling / n))).as("rank")))
    }
    ranks
  }

  /** Multi-source BFS hop counts over an undirected edge list — the
    * "how far is everything from these seeds" profile (reachability
    * tiers, influence radius) beside components/PageRank/triangles.
    * Returns one row per node in the edge relation: (id, hops) with
    * `hops` = minimum edge count from any source, or -1 when the node is
    * not reachable within `maxHops`. The cap is part of the SEMANTICS
    * (capped BFS), not an approximation: the differential oracle
    * re-derives exactly "min hops ≤ maxHops else -1".
    *
    * Scale shape: one frontier round per hop level — frontier ⋈ edges
    * (hash shuffle on the node key), distinct, anti-join against the
    * settled set; all relations are (id) or (id, hops) pairs, never wider
    * than the edge list. Rounds checkpoint like the components loop so
    * the plan stays constant-size, and the loop exits early on an empty
    * frontier (the per-round count is the same one-scalar action the
    * components convergence check pays).
    */
  def bfsHops(
      edges: DataFrame, srcCol: String, dstCol: String,
      sources: Seq[Long], maxHops: Int): DataFrame = {
    require(sources.nonEmpty, "bfsHops: at least one source node")
    require(maxHops >= 0, s"bfsHops: maxHops must be >= 0, got $maxHops")
    val sym = symmetric(edges, srcCol, dstCol)
    // Symmetric relation ⇒ the src side alone covers every node.
    val nodes = OpCaches.materialize(sym.select(col("a").as("id")).distinct())
    val dist = frontierRounds(sym,
      nodes.filter(col("id").isin(sources: _*)).withColumn("hops", lit(0)),
      carry = Nil, maxHops)
    nodes.join(dist, Seq("id"), "left")
      .select(col("id"), coalesce(col("hops"), lit(-1)).cast("int").as("hops"))
  }

  /** Multi-landmark BFS distances over the symmetrized edge relation —
    * the landmark-closeness building block (exact all-pairs BFS is
    * O(V·E); landmark distances are the standard scale substitute).
    * Landmarks are the `nLandmarks` SMALLEST node ids — a deterministic,
    * oracle-replayable choice (one TakeOrdered over the node relation,
    * never a sample). The BFS state is keyed (lm, id), so each round is
    * the [[bfsHops]] loop lifted to a composite key: one frontier⋈edges
    * equi-join + distinct + anti-join against settled state, per-round
    * relation bounded by nLandmarks·|V|. Returns (lm, id, hops) for
    * REACHED pairs only (hops = 0 for the landmark itself); an empty
    * edge relation yields an empty result, never a driver NPE.
    */
  def landmarkDistances(
      edges: DataFrame, srcCol: String, dstCol: String,
      nLandmarks: Int, maxHops: Int): DataFrame = {
    require(nLandmarks >= 1, s"landmarkDistances: nLandmarks must be >= 1, got $nLandmarks")
    require(maxHops >= 0, s"landmarkDistances: maxHops must be >= 0, got $maxHops")
    val sym = symmetric(edges, srcCol, dstCol)
    val landmarks = OpCaches.materialize(
      sym.select(col("a").as("id")).distinct().orderBy("id").limit(nLandmarks))
    frontierRounds(sym,
      landmarks.select(col("id").as("lm"), col("id"), lit(0).as("hops")),
      carry = Seq("lm"), maxHops)
  }

  /** The frontier loop of [[bfsHops]] and [[landmarkDistances]]: BFS
    * state rows are (carry..., id, hops), `seeds` the hop-0 rows. Each
    * round joins the last round's new rows onto `sym`, keeps the reached
    * (carry..., id) keys not yet settled and settles them at the round's
    * hop count. It stops after `maxHops` rounds or on an empty round.
    * Returns every settled row.
    */
  private def frontierRounds(sym: DataFrame, seeds: DataFrame,
      carry: Seq[String], maxHops: Int): DataFrame = {
    var dist = OpCaches.materialize(seeds)
    var frontier = dist
    var h = 0
    var exhausted = frontier.isEmpty
    while (h < maxHops && !exhausted) {
      h += 1
      val nxt = OpCaches.materialize(frontier
        .join(sym, col("id") === col("a"))
        .select(carry.map(col) :+ col("b").as("id"): _*).distinct()
        .join(dist, carry :+ "id", "left_anti")
        .withColumn("hops", lit(h)))
      if (nxt.isEmpty) exhausted = true
      else {
        dist = OpCaches.materialize(dist.union(nxt))
        frontier = nxt
      }
    }
    dist
  }

  /** Single-source WEIGHTED shortest paths, bounded at `maxHops` edges —
    * distributed Bellman–Ford: after round h, dist(v) is the exact
    * minimum cost over paths of ≤ h edges (integer weights, so every
    * comparison is exact — no float accumulation order to diverge on).
    * The hop cap is part of the semantics (like [[bfsHops]]'s), which a
    * differential oracle replays as a depth-capped recursion; with
    * maxHops ≥ the graph diameter and non-negative weights it IS the
    * true shortest-path relation, since longer paths only cost more.
    * Returns (id, dist) for REACHED nodes only.
    *
    * Scale shape: each round relaxes only the frontier (nodes improved
    * last round) — one equi-join of frontier onto edges (shuffle on the
    * src key) + one min-aggregate per dst + one join back against the
    * running dist; rounds eager-checkpoint like the components loop so
    * the plan stays constant-size; convergence = empty frontier, checked
    * with the same one-action-per-round discipline. Edges are treated
    * DIRECTED; pass a symmetrized relation for undirected graphs.
    */
  def shortestPaths(
      edges: DataFrame, srcCol: String, dstCol: String, weightCol: String,
      sources: Seq[Long], maxHops: Int): DataFrame = {
    require(sources.nonEmpty, "shortestPaths: at least one source node")
    require(maxHops >= 0, s"shortestPaths: maxHops must be >= 0, got $maxHops")
    val e = OpCaches.materialize(edges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"),
        col(weightCol).cast("long").as("w"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("w").isNotNull &&
        col("a") =!= col("b")))

    var dist = OpCaches.materialize(e.sparkSession.createDataFrame(
      // distinct: duplicate seeds would ride every left_anti/union round
      // and emit duplicate (id, dist) rows
      e.sparkSession.sparkContext.parallelize(sources.distinct.map(Tuple1(_))).map(t =>
        org.apache.spark.sql.Row(t._1, 0L)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("d",
          org.apache.spark.sql.types.LongType)))))
    var frontier = dist
    var h = 0
    var exhausted = frontier.isEmpty
    while (h < maxHops && !exhausted) {
      h += 1
      // Candidate relaxations through the frontier, best per dst first
      // (the min-agg keeps the per-round exchange node-bounded).
      val cand = frontier
        .join(e, col("id") === col("a"))
        .groupBy(col("b").as("nid"))
        .agg(min(col("d") + col("w")).as("nd"))
      val improved = OpCaches.materialize(cand
        .join(dist.withColumnsRenamed(Map("id" -> "o_id", "d" -> "o_d")),
          col("nid") === col("o_id"), "left")
        .filter(col("o_d").isNull || col("nd") < col("o_d"))
        .select(col("nid").as("id"), col("nd").as("d")))
      if (improved.isEmpty) exhausted = true
      else {
        dist = OpCaches.materialize(dist.join(improved, Seq("id"), "left_anti").union(improved))
        frontier = improved
      }
    }
    dist
  }

  /** k-core decomposition by synchronous peeling: `rounds` rounds of
    * "drop every node with degree < k, restrict edges to survivors".
    * Peeling reaches the true k-core at fixpoint (the loop exits early
    * there — further rounds are no-ops, so running with rounds ≥ the
    * peel depth IS the k-core); a fixed `rounds` keeps the semantics
    * deterministic and oracle-replayable even before convergence.
    * Returns surviving (id, degree) — degree within the core.
    *
    * Scale shape: each round is one degree aggregate (partial+final,
    * node-cardinality-bound exchange) and one two-sided semi-restriction
    * join of the edge list; rounds eager-checkpoint like the components
    * loop so the plan stays constant-size. Peel depth is bounded by the
    * degeneracy ordering's span — single digits on power-law graphs.
    */
  def kCore(
      edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"kCore: k must be >= 1, got $k")
    require(rounds >= 1, s"kCore: rounds must be >= 1, got $rounds")
    var e = symmetric(edges, srcCol, dstCol)
    var prevEdges = e.count() // one scalar per round, like the BFS frontier
    var r = 0
    var done = prevEdges == 0L
    while (r < rounds && !done) {
      val survivors = e.groupBy(col("a").as("id"))
        .agg(count(lit(1)).as("d")).filter(col("d") >= k).select("id")
      val next = OpCaches.materialize(e
        .join(survivors.withColumnRenamed("id", "_ia"), col("a") === col("_ia"))
        .join(survivors.withColumnRenamed("id", "_ib"), col("b") === col("_ib"))
        .select(col("a"), col("b")))
      val nextEdges = next.count()
      if (nextEdges == prevEdges) done = true // fixpoint: the k-core
      e = next
      prevEdges = nextEdges
      r += 1
    }
    e.groupBy(col("a").as("id")).agg(count(lit(1)).cast("int").as("degree"))
  }

  /** The undirected edge set of `edges`: (a, b) and (b, a) for every edge
    * between two distinct non-null ids, each pair once, materialized.
    * The input lineage (e.g. a full MinHash-LSH pipeline) is materialized
    * first so the two union branches don't each recompute it — measured
    * 2× the whole upstream cost without this. Lazy: its first read is the
    * symmetric relation's checkpoint, which computes it once.
    */
  private def symmetric(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val directed = OpCaches.materialize(
      edges
        .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
        .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b")),
      eager = false)
    OpCaches.materialize(
      directed.union(directed.select(col("b").as("a"), col("a").as("b"))).distinct())
  }

  /** Dedup-group summary from near-dup pairs over a corpus: every
    * document mapped to its component representative (`keep_id` = min id
    * in the component; singletons map to themselves) — the final
    * "which row survives" relation of the dedup pipeline.
    */
  def dedupGroups(
      corpus: DataFrame, idCol: String, pairs: DataFrame,
      srcCol: String, dstCol: String): DataFrame = {
    val comps = connectedComponents(pairs, srcCol, dstCol)
    corpus.select(col(idCol).cast("long").as("id"))
      .join(comps, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("comp"), col("id")).as("keep_id"))
  }
}
