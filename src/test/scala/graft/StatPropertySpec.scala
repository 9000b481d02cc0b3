package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame

/** Closed-form property proofs for the r14 statistics entries — each
  * scenario constructs a dataset whose exact answer is known analytically
  * and asserts the entry reproduces it BIT-exactly (the entries' whole
  * design is exact integer moments + one IEEE division, so the expected
  * values are not approximations):
  *   - Spearman ρ = ±1 on perfectly concordant / reversed rankings
  *     (untied-rank d² shortcut: Σd² = 0 and n(n²−1)/3 respectively);
  *   - HHI = 1.0 for a single-supplier (monopoly) segment;
  *   - permutation entropy = 0 for a strictly monotone series (one
  *     ordinal pattern ⇒ every micro-bit term is the exact integer 0);
  *   - modularity Q-term = 0.0 when the whole graph is one community
  *     (A_c = 2m and d_c = 2m ⇒ 1 − 1²);
  *   - assortativity r = −1 on a star (the canonical perfectly
  *     disassortative graph: num = −36, den = 36 on K_{1,3}).
  */
class StatPropertySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Rows of entry `name` over a fixture dir: overridden tables are
    * written as tiny parquet, every other catalog table symlinks to the
    * sf0.001 data so registerAll still resolves the full catalog. The dir
    * is deleted once the rows are collected.
    */
  private def run(name: String, overrides: (String, DataFrame)*) =
    TempDirs.withTempDir("graft_statfix") { path =>
      val base = "/root/testdata/sf0.001"
      val dir = path.toString
      val over = overrides.toMap
      Tables.all.foreach { t =>
        if (over.contains(t))
          over(t).coalesce(1).write.parquet(s"$dir/$t.parquet")
        else
          java.nio.file.Files.createSymbolicLink(
            java.nio.file.Paths.get(s"$dir/$t.parquet"),
            java.nio.file.Paths.get(s"$base/$t.parquet"))
      }
      Queries.queryMap(name)(spark, dir).collect()
    }

  test("spearman: concordant rankings give rho exactly 1, reversed exactly -1") {
    import spark.implicits._
    val lineitems = (1L to 8L).flatMap(k => (1L to k).map(i => (k, i)))
      .toDF("l_orderkey", "l_linenumber")
    // Concordant: order value grows with order width.
    val r1 = run("q_spearman",
      "orders" -> (1L to 8L).map(k => (k, k * 10.0 + 0.25)).toDF("o_orderkey", "o_totalprice"),
      "lineitem" -> lineitems)
    assert(r1.length == 1)
    assert(r1(0).getAs[Long]("sum_d2") == 0L, "concordant ranks must have zero d2")
    assert(r1(0).getAs[Double]("rho") == 1.0)
    // Reversed: order value shrinks as order width grows.
    val r2 = run("q_spearman",
      "orders" -> (1L to 8L).map(k => (k, (9 - k) * 10.0 + 0.25)).toDF("o_orderkey", "o_totalprice"),
      "lineitem" -> lineitems)
    // Σd² = n(n²−1)/3 for a full reversal of untied ranks.
    assert(r2(0).getAs[Long]("sum_d2") == 8L * 63L / 3L)
    assert(r2(0).getAs[Double]("rho") == -1.0)
  }

  test("hhi: a monopoly segment scores exactly 1.0") {
    import spark.implicits._
    val li = Seq(
      ("A", 7L, 100.00), ("A", 7L, 250.50), ("A", 7L, 30.25),
      ("N", 1L, 10.00), ("N", 2L, 10.00))
      .toDF("l_returnflag", "l_suppkey", "l_extendedprice")
    val out = run("q_hhi", "lineitem" -> li)
      .map(r => r.getAs[String]("seg") -> r.getAs[Double]("hhi")).toMap
    assert(out("A") == 1.0, s"monopoly HHI must be exactly 1.0, got ${out("A")}")
    assert(out("N") == 0.5, "two equal firms halve the index exactly")
  }

  test("permutation entropy of a strictly monotone series is exactly 0") {
    import spark.implicits._
    val events = (1 to 20).map(i =>
      (i.toLong, java.sql.Timestamp.valueOf(f"2024-01-01 00:${i}%02d:00"),
        1L, "click", i * 1.5)).toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = run("q_perm_entropy", "events" -> events)
    assert(out.length == 1, "monotone series must collapse to one ordinal pattern")
    assert(out(0).getAs[Int]("pattern") == 7)
    assert(out(0).getAs[Long]("dl_u") == 0L, "n_p == N makes the lattice term exact 0")
    assert(out(0).getAs[Double]("h_term") == 0.0)
  }

  test("modularity of a single-community graph is exactly 0") {
    import spark.implicits._
    // Parts {1,2,3} pairwise co-purchased in >= 2 orders; one community.
    val li = (for {
      pair <- Seq((1L, 2L), (1L, 3L), (2L, 3L)); rep <- 0 to 1
      ok = pair._1 * 100 + pair._2 * 10 + rep
      p <- Seq(pair._1, pair._2)
    } yield (ok, p)).toDF("l_orderkey", "l_partkey")
    val parts = Seq(1L, 2L, 3L).map(p => (p, "same type")).toDF("p_partkey", "p_type")
    val out = run("q_modularity", "lineitem" -> li, "part" -> parts)
    assert(out.length == 1)
    assert(out(0).getAs[Long]("a_c") == out(0).getAs[Long]("d_c"),
      "every edge is internal in a one-community graph")
    assert(out(0).getAs[Double]("q_term") == 0.0)
  }

  test("assortativity of a star is exactly -1") {
    import spark.implicits._
    // Center part 1, leaves 2..4: each (1,k) co-purchased in 2 orders.
    val li = (for {
      leaf <- Seq(2L, 3L, 4L); rep <- 0 to 1
      ok = leaf * 10 + rep
      p <- Seq(1L, leaf)
    } yield (ok, p)).toDF("l_orderkey", "l_partkey")
    val out = run("q_assortativity", "lineitem" -> li)
    assert(out.length == 1)
    assert(out(0).getAs[Long]("n_edges") == 6L)
    assert(out(0).getAs[Double]("r_assort") == -1.0,
      "K_{1,3} is the canonical perfectly disassortative graph")
  }
}
