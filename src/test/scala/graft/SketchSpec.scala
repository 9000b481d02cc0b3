package graft

import graft.sketch._
import org.scalatest.funsuite.AnyFunSuite

class SketchSpec extends AnyFunSuite {

  test("EH3 returns only ±1 and is deterministic") {
    val sp = SeedPair.fromRaw(123456789, 987654321, 13579, 24680)
    (0 until 1000).foreach { j =>
      val v = sp.sign(j)
      assert(v == 1 || v == -1)
      assert(v == sp.sign(j))
    }
  }

  test("EH3 is roughly balanced over a key range") {
    val sp = SeedPair.fromRaw(42, 4242, 7, 77)
    val sum = (0 until 100000).map(sp.sign).sum
    assert(math.abs(sum) < 2000, s"±1 sum too biased: $sum")
  }

  test("CW2B maps into [0, buckets) and distributes") {
    val sp = SeedPair.fromRaw(11, 22, 33, 44)
    val buckets = 1021
    val counts = new Array[Int](buckets)
    (0 until 102100).foreach { j =>
      val b = sp.bucket(j, buckets)
      assert(b >= 0 && b < buckets)
      counts(b) += 1
    }
    // expected 100/bucket; chi-square-ish sanity: no bucket wildly off
    assert(counts.max < 200 && counts.min > 20)
  }

  test("hash31 matches Mersenne-mod reference arithmetic for known edge values") {
    // hash31(a,b,x) = ((a*x+b) >> 31 + (a*x+b)) & (2^31-1), unsigned 64-bit
    assert(Xi.hash31(0L, 0L, 12345L) == 0L)
    assert(Xi.hash31(1L, 0L, 12345L) == 12345L)
    assert(Xi.hash31(0L, Xi.Mod, 1L) == Xi.Mod) // (0 + M) fold: (M>>31)+M = 1+M -> & M = 0? compute
  }

  test("median matches reference tie rules") {
    assert(Estimator.median(Array(5.0)) == 5.0)
    assert(Estimator.median(Array(2.0, 4.0)) == 3.0)
    assert(Estimator.median(Array(3.0, 1.0, 2.0)) == 2.0)
    assert(Estimator.median(Array(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("sketch linearity: sketch(A) + sketch(B) == sketch(A ∪ B)") {
    val seeds = ColumnSeeds.deterministic(11, 7L)
    def mk() = new SketchGroup(11, 101, Array("k"), Array(seeds))
    val a = mk(); val b = mk(); val ab = mk()
    val rng = new scala.util.Random(1)
    val keysA = Array.fill(500)(rng.nextInt(1000))
    val keysB = Array.fill(700)(rng.nextInt(1000))
    keysA.foreach(k => a.update(Array(k)))
    keysB.foreach(k => b.update(Array(k)))
    (keysA ++ keysB).foreach(k => ab.update(Array(k)))
    a.merge(b)
    assert(a.count == ab.count)
    assert(a.planes(0).sameElements(ab.planes(0)))
  }

  test("pairwise estimate is close to true join size (shared seeds)") {
    val rows = 73; val buckets = 1021
    val reg = new SeedRegistry(rows)
    reg.addPredicate(("t1", "k"), ("t2", "k"))
    val s1 = new SketchGroup(rows, buckets, Array("k"), Array(reg.seedsFor(("t1", "k"))))
    val s2 = new SketchGroup(rows, buckets, Array("k"), Array(reg.seedsFor(("t2", "k"))))
    val rng = new scala.util.Random(42)
    // t1: 2000 rows keys uniform [0,100); t2: 1000 rows keys uniform [0,100)
    val k1 = Array.fill(2000)(rng.nextInt(100))
    val k2 = Array.fill(1000)(rng.nextInt(100))
    k1.foreach(k => s1.update(Array(k)))
    k2.foreach(k => s2.update(Array(k)))
    val trueSize = {
      val c1 = k1.groupBy(identity).view.mapValues(_.length.toLong).toMap
      val c2 = k2.groupBy(identity).view.mapValues(_.length.toLong).toMap
      c1.map { case (k, n) => n * c2.getOrElse(k, 0L) }.sum
    }
    val est = Estimator.pairwise(s1.planes(0), s2.planes(0), rows, buckets)
    assert(math.abs(est - trueSize) / trueSize < 0.15,
      s"estimate $est vs true $trueSize")
  }

  test("same-seed sketches of identical data estimate ≈ self-join size") {
    // SURVEY §7.4.3: seed-sharing property test
    val rows = 73; val buckets = 1021
    val reg = new SeedRegistry(rows)
    reg.addPredicate(("a", "x"), ("b", "y"))
    val sa = new SketchGroup(rows, buckets, Array("x"), Array(reg.seedsFor(("a", "x"))))
    val sb = new SketchGroup(rows, buckets, Array("y"), Array(reg.seedsFor(("b", "y"))))
    val rng = new scala.util.Random(7)
    val keys = Array.fill(3000)(rng.nextInt(500))
    keys.foreach { k => sa.update(Array(k)); sb.update(Array(k)) }
    val self = Estimator.selfJoin(sa.planes(0), rows, buckets)
    val pair = Estimator.pairwise(sa.planes(0), sb.planes(0), rows, buckets)
    // identical data + identical seeds → pairwise ≈ self-join (same counters)
    assert(math.abs(pair - self) / self < 0.01, s"pair $pair vs self $self")
  }

  test("transitive seed sharing: a=b, b=c implies a,c share seeds") {
    val reg = new SeedRegistry(5)
    reg.addPredicate(("a", "x"), ("b", "y"))
    reg.addPredicate(("b", "y"), ("c", "z"))
    assert(reg.sameClass(("a", "x"), ("c", "z")))
    assert(reg.seedsFor(("a", "x")) == reg.seedsFor(("c", "z")))
    // distinct classes get distinct seeds
    reg.addPredicate(("d", "w"), ("e", "v"))
    assert(!reg.sameClass(("a", "x"), ("d", "w")))
    assert(reg.seedsFor(("a", "x")) != reg.seedsFor(("d", "w")))
  }

  test("serialization round-trips") {
    val seeds = ColumnSeeds.deterministic(7, 3L)
    val g = new SketchGroup(7, 31, Array("k1", "k2"),
      Array(seeds, ColumnSeeds.deterministic(7, 4L)))
    (0 until 100).foreach(i => g.update(Array(i, i * 2)))
    val g2 = SketchGroup.deserialize(g.serialize())
    assert(g2.count == g.count)
    assert(g2.rows == g.rows && g2.buckets == g.buckets)
    assert(g2.columns.sameElements(g.columns))
    (0 until 2).foreach(c => assert(g2.planes(c).sameElements(g.planes(c))))
  }

  test("codec bytes are the DataOutputStream layout: files on disk keep loading") {
    val seeds = Array(ColumnSeeds.deterministic(3, 5L), ColumnSeeds.deterministic(3, 6L))
    val g = new SketchGroup(3, 5, Array("a_id", "b_näme"), seeds)
    (0 until 40).foreach(i => g.update(Array(i * 7, -i)))
    // The layout as written one value at a time before the bulk codec.
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(3); out.writeInt(5); out.writeInt(2); out.writeLong(40L)
    out.writeUTF("a_id"); out.writeUTF("b_näme")
    seeds.foreach(_.pairs.foreach { p =>
      out.writeLong(p.cwA); out.writeLong(p.cwB); out.writeInt(p.ehS0); out.writeInt(p.ehS1)
    })
    g.planes.foreach(_.foreach(out.writeDouble))
    out.flush()
    val golden = bos.toByteArray
    assert(g.planes.exists(_.exists(_ != 0.0)))
    assert(g.serialize().sameElements(golden))
    val back = SketchGroup.deserialize(golden)
    assert(back.count == 40L && back.rows == 3 && back.buckets == 5)
    assert(back.columns.sameElements(g.columns))
    assert(back.seeds.map(_.pairs.toSeq).sameElements(seeds.map(_.pairs.toSeq)))
    (0 until 2).foreach(c => assert(back.planes(c).sameElements(g.planes(c))))
  }

  test("multiway estimate on a 3-table chain is within 2x of truth (dense regime)") {
    // The min-abs plane composition (Sketches.h:95-110 Set_Sketch_With_Max/
    // Choose_Sketch_Min_Val) is a heuristic tuned for the reference's
    // operating regime: distinct keys ≫ buckets, so every bucket is
    // populated in every plane. In a SPARSE regime (keys ≪ buckets) most
    // counters are 0 → the 1e-4 clamp kills the per-bucket products and the
    // estimate collapses ~30× under truth. The reference never runs sparse
    // (JOB tables are 100k–36M rows over 1021 buckets), so the test pins
    // the dense regime: 31 buckets, 200 distinct keys per side.
    val rows = 73; val buckets = 31
    val reg = new SeedRegistry(rows)
    // chain: t1.k = t2.k, t2.j = t3.j
    reg.addPredicate(("t1", "k"), ("t2", "k"))
    reg.addPredicate(("t2", "j"), ("t3", "j"))
    val s1 = new SketchGroup(rows, buckets, Array("k"), Array(reg.seedsFor(("t1", "k"))))
    val s2 = new SketchGroup(rows, buckets, Array("k", "j"),
      Array(reg.seedsFor(("t2", "k")), reg.seedsFor(("t2", "j"))))
    val s3 = new SketchGroup(rows, buckets, Array("j"), Array(reg.seedsFor(("t3", "j"))))
    val rng = new scala.util.Random(11)
    val t1 = Array.fill(5000)(rng.nextInt(200))
    val t2 = Array.fill(4000)((rng.nextInt(200), rng.nextInt(160)))
    val t3 = Array.fill(6000)(rng.nextInt(160))
    t1.foreach(k => s1.update(Array(k)))
    t2.foreach { case (k, j) => s2.update(Array(k, j)) }
    t3.foreach(j => s3.update(Array(j)))
    val trueSize = {
      val c1 = t1.groupBy(identity).view.mapValues(_.length.toLong).toMap
      val c3 = t3.groupBy(identity).view.mapValues(_.length.toLong).toMap
      t2.map { case (k, j) => c1.getOrElse(k, 0L) * c3.getOrElse(j, 0L) }.sum
    }
    // multiway: t2's plane = min-abs over its two planes; t1, t3 single
    val p2 = s2.composedMinPlane(Seq(0, 1))
    val est = Estimator.multiway(Array(s1.planes(0), p2, s3.planes(0)), rows, buckets)
    assert(est > trueSize / 2.0 && est < trueSize * 2.0, s"est $est vs true $trueSize")
  }
}
