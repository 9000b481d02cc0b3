package graft

import graft.operators.Components
import org.scalatest.funsuite.AnyFunSuite

class ComponentsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def componentsOf(edges: Seq[(Long, Long)], maxIter: Int = 25): Map[Long, Long] = {
    val df = edges.toDF("src", "dst")
    val out = Components.connectedComponents(df, "src", "dst", maxIter)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.operators.OpCaches.releaseAll(spark)
    out
  }

  /** Reference union-find for randomized comparison. */
  private def exact(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    // find() roots are the minimum id of each set because unions always
    // point the larger root at the smaller.
    nodes.map(n => n -> find(n)).toMap
  }

  test("two triangles and a bridge collapse to one component each") {
    val got = componentsOf(Seq((1L, 2L), (2L, 3L), (3L, 1L), (10L, 11L), (11L, 12L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("a long chain converges within the logarithmic iteration budget") {
    // 64-node path: plain propagation would need ~64 rounds; pointer
    // jumping must finish far under the default 25.
    val chain = (1L until 64L).map(i => (i, i + 1))
    val got = componentsOf(chain)
    assert(got.values.toSet == Set(1L), s"chain not fully contracted: ${got.values.toSet}")
  }

  test("an empty edge relation yields an empty label relation, not an NPE") {
    // Regression: the convergence-sum loop NPE'd on the NULL aggregate
    // of an empty label table (hit by q_grid_cluster at sf0.001, where
    // no cell meets the density threshold).
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Components.connectedComponents(empty, "src", "dst").count() == 0)
    // Edges that all self-loop reduce to the same empty relation.
    val loops = Seq((5L, 5L), (7L, 7L)).toDF("src", "dst")
    assert(Components.connectedComponents(loops, "src", "dst").count() == 0)
  }

  test("self-loops and duplicate/reversed edges are harmless") {
    val got = componentsOf(Seq((5L, 5L), (1L, 2L), (2L, 1L), (1L, 2L), (3L, 3L)))
    // Pure self-loop nodes are dropped by the a =!= b filter (they carry
    // no connectivity); pair (1,2) resolves to min label 1.
    assert(got == Map(1L -> 1L, 2L -> 1L))
  }

  test("randomized graphs match exact union-find") {
    val rng = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val n = 40 + trial * 20
      val edges = Seq.fill(n)((rng.nextInt(30).toLong, rng.nextInt(30).toLong))
        .filter(e => e._1 != e._2)
      val got = componentsOf(edges)
      assert(got == exact(edges), s"trial $trial differs")
    }
  }

  test("pageRank: hand-computed one-iteration values incl. dangling redistribution") {
    // 1→2, 2→1, 1→3; node 3 is DANGLING. After one iteration at d=0.85:
    //   in(1)=r(2)/1=1/3, in(2)=in(3)=r(1)/2=1/6, dangling mass r(3)=1/3
    //   r'(v) = 0.05 + 0.85·(in(v) + (1/3)/3)
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L)).toDF("src", "dst")
    val out = Components.pageRank(edges, "src", "dst", iters = 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def expect(in: Double) = 0.05 + 0.85 * (in + 1.0 / 9.0)
    assert(math.abs(out(1L) - expect(1.0 / 3.0)) < 1e-12)
    assert(math.abs(out(2L) - expect(1.0 / 6.0)) < 1e-12)
    assert(math.abs(out(3L) - expect(1.0 / 6.0)) < 1e-12)
    // Total mass is conserved exactly because dangling mass is
    // redistributed, not dropped.
    assert(math.abs(out.values.sum - 1.0) < 1e-9)
    // More iterations keep conserving mass and stay deterministic
    // across partitionings.
    val r3a = Components.pageRank(edges, "src", "dst", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val r3b = Components.pageRank(edges.repartition(5), "src", "dst", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(r3a.values.sum - 1.0) < 1e-9)
    assert(r3a.keys == r3b.keys &&
      r3a.forall { case (k, v) => math.abs(r3b(k) - v) < 1e-12 })
  }

  test("dedupGroups maps singletons to themselves and members to the min id") {
    val corpus = (1L to 8L).toDF("doc_id")
    val pairs = Seq((2L, 5L), (5L, 7L)).toDF("id_a", "id_b")
    val got = Components.dedupGroups(corpus, "doc_id", pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.operators.OpCaches.releaseAll(spark)
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L,
      5L -> 2L, 6L -> 6L, 7L -> 2L, 8L -> 8L))
  }

  private def bfsOf(edges: Seq[(Long, Long)], sources: Seq[Long],
      maxHops: Int): Map[Long, Int] = {
    val df = edges.toDF("src", "dst")
    val out = Components.bfsHops(df, "src", "dst", sources, maxHops)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    graft.operators.OpCaches.releaseAll(spark)
    out
  }

  test("bfsHops: path + disconnected island, cap semantics, early exit") {
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
    // Full reach: hop levels along the path, -1 on the island.
    assert(bfsOf(path, Seq(1L), maxHops = 12) ==
      Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3, 5L -> 4, 10L -> -1, 11L -> -1))
    // The cap is semantic: everything past 2 hops reads -1.
    assert(bfsOf(path, Seq(1L), maxHops = 2) ==
      Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> -1, 5L -> -1, 10L -> -1, 11L -> -1))
  }

  test("bfsHops: multi-source takes the minimum over sources") {
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    assert(bfsOf(path, Seq(1L, 5L), maxHops = 12) ==
      Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 1, 5L -> 0))
  }

  private def lmOf(edges: Seq[(Long, Long)], nLandmarks: Int,
      maxHops: Int): Map[(Long, Long), Int] = {
    val df = edges.toDF("src", "dst")
    val out = Components.landmarkDistances(df, "src", "dst", nLandmarks, maxHops)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    graft.operators.OpCaches.releaseAll(spark)
    out
  }

  test("landmarkDistances: per-landmark levels, smallest-id landmark choice, cap") {
    // Path 1-2-3-4-5 plus island 10-11; landmarks = two smallest ids (1, 2).
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
    val got = lmOf(path, nLandmarks = 2, maxHops = 12)
    assert(got == Map(
      (1L, 1L) -> 0, (1L, 2L) -> 1, (1L, 3L) -> 2, (1L, 4L) -> 3, (1L, 5L) -> 4,
      (2L, 2L) -> 0, (2L, 1L) -> 1, (2L, 3L) -> 1, (2L, 4L) -> 2, (2L, 5L) -> 3))
    // Hop cap truncates the reached relation, per landmark independently.
    val capped = lmOf(path, nLandmarks = 2, maxHops = 1)
    assert(capped == Map(
      (1L, 1L) -> 0, (1L, 2L) -> 1,
      (2L, 2L) -> 0, (2L, 1L) -> 1, (2L, 3L) -> 1))
  }

  test("landmarkDistances: empty edge relation yields empty, not an NPE") {
    val empty = Seq.empty[(Long, Long)]
    assert(lmOf(empty, nLandmarks = 4, maxHops = 5).isEmpty)
  }

  private def spOf(edges: Seq[(Long, Long, Long)], sources: Seq[Long],
      maxHops: Int = 12): Map[Long, Long] = {
    // Symmetrize here: shortestPaths treats edges as directed.
    val sym = edges ++ edges.map(e => (e._2, e._1, e._3))
    Components.shortestPaths(sym.toDF("src", "dst", "w"), "src", "dst", "w",
        sources, maxHops)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("shortestPaths: weighted route beats fewer hops; cap and islands hold") {
    // 1→2→3 costs 1+1=2, direct 1→3 costs 5: Bellman-Ford must prefer
    // the longer-hop cheaper route. Island 10-11 stays unreached.
    val g = Seq((1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 5L), (10L, 11L, 2L))
    assert(spOf(g, Seq(1L)) == Map(1L -> 0L, 2L -> 1L, 3L -> 2L),
      "reached nodes only, island absent — " + spOf(g, Seq(1L)))
    // Hop cap 1: only direct edges relax — 3 reads the EXPENSIVE direct
    // cost (5), not the cheaper 2-hop route.
    assert(spOf(g, Seq(1L), maxHops = 1) == Map(1L -> 0L, 2L -> 1L, 3L -> 5L))
    // A later round must re-improve: with cap 2 the 2-hop route wins.
    assert(spOf(g, Seq(1L), maxHops = 2)(3L) == 2L)
    // Multi-source takes the min over sources.
    assert(spOf(g, Seq(1L, 11L))(10L) == 2L)
  }

  private def kCoreOf(edges: Seq[(Long, Long)], k: Int,
      rounds: Int = 12): Map[Long, Int] = {
    val out = Components.kCore(edges.toDF("src", "dst"), "src", "dst", k, rounds)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    graft.operators.OpCaches.releaseAll(spark)
    out
  }

  test("kCore: triangle survives its 2-core, pendant tail peels, 3-core empty") {
    val g = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
    assert(kCoreOf(g, k = 2) == Map(1L -> 2, 2L -> 2, 3L -> 2))
    assert(kCoreOf(g, k = 3) == Map.empty[Long, Int])
  }

  test("kCore: a chain cascades to empty over multiple peel rounds") {
    val chain = (1L until 6L).map(i => (i, i + 1))
    // Each round removes the current endpoints; needs 3 rounds, which a
    // single-round implementation would get wrong.
    assert(kCoreOf(chain, k = 2) == Map.empty[Long, Int])
    // With only 1 round allowed, the inner chain survives — pinning that
    // rounds are synchronous peels, not a one-shot degree filter.
    assert(kCoreOf(chain, k = 2, rounds = 1).keySet == Set(2L, 3L, 4L, 5L))
  }

  test("kCore: randomized graphs match exact synchronous peeling") {
    val rng = new scala.util.Random(31)
    for (trial <- 1 to 3) {
      val edges = Seq.fill(80 + trial * 40)(
        (rng.nextInt(30).toLong, rng.nextInt(30).toLong))
        .filter(e => e._1 != e._2)
      val und = (edges ++ edges.map(_.swap)).distinct
      var adj = und.groupBy(_._1).map { case (n, vs) => n -> vs.map(_._2).toSet }
      var changed = true
      while (changed) {
        val dead = adj.collect { case (n, nb) if nb.size < 2 => n }.toSet
        changed = dead.nonEmpty
        adj = adj.collect { case (n, nb) if !dead(n) => n -> (nb -- dead) }
      }
      val expect = adj.map { case (n, nb) => n -> nb.size }
      val got = kCoreOf(edges, k = 2)
      assert(got == expect, s"trial $trial: got=$got want=$expect")
    }
  }

  test("bfsHops: randomized graphs match exact BFS at any partitioning") {
    val rng = new scala.util.Random(13)
    for (trial <- 1 to 3) {
      val edges = Seq.fill(60 + trial * 30)(
        (rng.nextInt(40).toLong, rng.nextInt(40).toLong))
        .filter(e => e._1 != e._2)
      val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
        .map { case (k, vs) => k -> vs.map(_._2).toSet }
      val nodes = adj.keySet
      val src = nodes.min
      // Reference BFS.
      val distRef = scala.collection.mutable.Map(src -> 0)
      var frontier = Set(src)
      var h = 0
      while (frontier.nonEmpty && h < 5) {
        h += 1
        frontier = frontier.flatMap(adj).diff(distRef.keySet)
        frontier.foreach(n => distRef(n) = h)
      }
      val expect = nodes.map(n => n -> distRef.getOrElse(n, -1)).toMap
      val df = edges.toDF("src", "dst").repartition(1 + trial * 3)
      val got = Components.bfsHops(df, "src", "dst", Seq(src), maxHops = 5)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      graft.operators.OpCaches.releaseAll(spark)
      assert(got == expect, s"trial $trial mismatch")
    }
  }
}
