package graft

import graft.functions.ZOrderKernel
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Z-order clustering: kernel bit-exactness, codegen integration, and the
  * locality property the layout exists for.
  */
class ZOrderSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Naive bit-by-bit reference: input bit i of x → output bit 2i, of
    * y → 2i+1.
    */
  private def naive(x: Long, y: Long): Long = {
    var z = 0L
    var i = 0
    while (i < 32) {
      z |= ((x >> i) & 1L) << (2 * i)
      z |= ((y >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }

  test("kernel matches the bit-by-bit reference incl. boundaries") {
    val cases = Seq[(Long, Long)](
      (0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (12345L, 67890L),
      (0xFFFFFFFFL, 0L), (0L, 0xFFFFFFFFL), (0xFFFFFFFFL, 0xFFFFFFFFL),
      (Int.MaxValue.toLong, Int.MaxValue.toLong),
      // high bits beyond 32 must be ignored
      (0x1_0000_0003L, 0x7_0000_0005L))
    cases.foreach { case (x, y) =>
      assert(ZOrderKernel.interleave(x, y) === naive(x, y), s"($x, $y)")
    }
    // randomized sweep on a fixed seed
    val rnd = new scala.util.Random(42)
    (1 to 1000).foreach { _ =>
      val x = rnd.nextLong() & 0xFFFFFFFFL
      val y = rnd.nextLong() & 0xFFFFFFFFL
      assert(ZOrderKernel.interleave(x, y) === naive(x, y))
    }
  }

  test("interleave_bits runs inside WholeStageCodegen (no fallback)") {
    graft.functions.GraftExtensions.register(spark)
    // spark.range (not a local Seq): a LocalRelation would be folded at
    // plan time and leave nothing to codegen.
    val df = spark.range(64)
      .selectExpr("id % 8 AS x", "id DIV 8 AS y")
      .selectExpr("x", "y", "interleave_bits(x, y) AS z")
    val rows = df.collect()
    rows.foreach { r =>
      assert(r.getLong(2) === naive(r.getLong(0), r.getLong(1)))
    }
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), s"expected codegen stage:\n$plan")
  }

  test("writeZOrdered produces disjoint z-ranges with 2-D-clustered files") {
    import spark.implicits._
    TempDirs.withTempDir("graft_zwrite") { dir =>
      val path = dir.toString
      val pts = (for (x <- 0 until 64; y <- 0 until 64)
        yield (x.toLong, y.toLong)).toDF("x", "y")
      graft.operators.Layout.writeZOrdered(pts, "x", "y", s"$path/d", numFiles = 16)
      val back = spark.read.parquet(s"$path/d")
        .withColumn("f", input_file_name())
        .selectExpr("f", "x", "y", "interleave_bits(x, y) AS z")
      val perFile = back.groupBy("f")
        .agg(min("z").as("zmin"), max("z").as("zmax"),
          (max("x") - min("x")).as("xspan"), (max("y") - min("y")).as("yspan"),
          count(lit(1)).as("n"))
        .collect()
      assert(perFile.map(_.getAs[Long]("n")).sum === 4096L)
      // z-ranges across files are disjoint (range partitioning guarantee)
      val ranges = perFile.map(r =>
        (r.getAs[Long]("zmin"), r.getAs[Long]("zmax"))).sortBy(_._1)
      ranges.sliding(2).foreach {
        case Array((_, hi), (lo2, _)) => assert(hi < lo2, "overlapping z-ranges")
        case _ =>
      }
      // 2-D clustering: the MEDIAN file spans far less than the 63-wide
      // domain on BOTH axes (median, not max — the sampled range
      // partitioner draws file boundaries that can straddle a tile).
      def median(xs: Seq[Long]): Long = xs.sorted.apply(xs.size / 2)
      assert(median(perFile.toIndexedSeq.map(_.getAs[Long]("xspan"))) <= 31,
        "files do not cluster x")
      assert(median(perFile.toIndexedSeq.map(_.getAs[Long]("yspan"))) <= 31,
        "files do not cluster y")
    }
  }

  test("property: deinterleave inverts interleave on random 32-bit pairs") {
    // compress = inverse of ZOrderKernel.spread (mask-shift rounds reversed)
    def compress(v: Long): Long = {
      var x = v & 0x5555555555555555L
      x = (x | (x >>> 1)) & 0x3333333333333333L
      x = (x | (x >>> 2)) & 0x0F0F0F0F0F0F0F0FL
      x = (x | (x >>> 4)) & 0x00FF00FF00FF00FFL
      x = (x | (x >>> 8)) & 0x0000FFFF0000FFFFL
      x = (x | (x >>> 16)) & 0x00000000FFFFFFFFL
      x
    }
    val gen = for {
      x <- org.scalacheck.Gen.chooseNum(0L, 0xFFFFFFFFL)
      y <- org.scalacheck.Gen.chooseNum(0L, 0xFFFFFFFFL)
    } yield (x, y)
    (0 until 200).foreach { i =>
      gen.apply(org.scalacheck.Gen.Parameters.default,
        org.scalacheck.rng.Seed(0x20DE + i)).foreach { case (x, y) =>
        val z = ZOrderKernel.interleave(x, y)
        assert(compress(z) === x, s"x roundtrip ($x, $y)")
        assert(compress(z >>> 1) === y, s"y roundtrip ($x, $y)")
      }
    }
  }

  test("property: shared coordinate prefixes give shared z prefixes (tile theorem)") {
    // If two points agree on all x-bits above position k AND all y-bits
    // above k (i.e. they lie in the same 2^k × 2^k tile), their z codes
    // agree above position 2k — the tile is ONE contiguous z range. This
    // is exactly why per-tile min/max row-group stats stay tight.
    val gen = for {
      xhi <- org.scalacheck.Gen.chooseNum(0L, 0xFFFFFFL)
      yhi <- org.scalacheck.Gen.chooseNum(0L, 0xFFFFFFL)
      k <- org.scalacheck.Gen.chooseNum(1, 8)
      dx1 <- org.scalacheck.Gen.chooseNum(0L, 255L)
      dy1 <- org.scalacheck.Gen.chooseNum(0L, 255L)
      dx2 <- org.scalacheck.Gen.chooseNum(0L, 255L)
      dy2 <- org.scalacheck.Gen.chooseNum(0L, 255L)
    } yield (xhi, yhi, k, dx1, dy1, dx2, dy2)
    (0 until 200).foreach { i =>
      gen.apply(org.scalacheck.Gen.Parameters.default,
        org.scalacheck.rng.Seed(0x711E + i)).foreach {
        case (xhi, yhi, k, dx1, dy1, dx2, dy2) =>
          val mask = (1L << k) - 1
          val x1 = (xhi << k) | (dx1 & mask); val y1 = (yhi << k) | (dy1 & mask)
          val x2 = (xhi << k) | (dx2 & mask); val y2 = (yhi << k) | (dy2 & mask)
          val z1 = ZOrderKernel.interleave(x1, y1)
          val z2 = ZOrderKernel.interleave(x2, y2)
          assert((z1 >>> (2 * k)) === (z2 >>> (2 * k)),
            s"tile prefix broken: k=$k ($x1,$y1) vs ($x2,$y2)")
      }
    }
  }

  test("z-sort clusters both dimensions (the data-skipping property)") {
    // 64×64 grid, sorted by z, cut into blocks of 256 rows (≙ row
    // groups): each block must span at most a 16×16 tile of the grid —
    // the perfect-recursion property of the Z-curve on power-of-two
    // grids. A single-column sort gives 64-wide spans in the other
    // dimension; min/max stats on BOTH columns are only tight under z.
    val pts = for (x <- 0 until 64; y <- 0 until 64) yield (x.toLong, y.toLong)
    val sorted = pts.sortBy { case (x, y) => ZOrderKernel.interleave(x, y) }
    sorted.grouped(256).foreach { block =>
      val xs = block.map(_._1)
      val ys = block.map(_._2)
      assert(xs.max - xs.min <= 15, s"x span ${xs.max - xs.min}")
      assert(ys.max - ys.min <= 15, s"y span ${ys.max - ys.min}")
    }
  }
}
