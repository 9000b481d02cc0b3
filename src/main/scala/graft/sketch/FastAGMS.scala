package graft.sketch

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.nio.ByteBuffer

/** Per-column seed vector: `rows` independent (CW2B, EH3) pairs.
  * Two sketch columns that appear in the same join equivalence class MUST
  * share the identical ColumnSeeds instance (reference:
  * mapd-core/QueryEngine/FilterPushDownSketch.cpp:1280-1373 forces the same
  * seed pair transitively onto both sides of every join predicate).
  */
final case class ColumnSeeds(rows: Int, pairs: Array[SeedPair]) extends Serializable {
  require(pairs.length == rows)
}

object ColumnSeeds {
  /** Deterministic seeds from a 64-bit base seed (testable; the reference
    * uses rand() — mapd-core/QueryEngine/Sketch/RandomGenScheme.h:21-26 —
    * persisted to seed template files for reproducibility).
    */
  def deterministic(rows: Int, baseSeed: Long): ColumnSeeds = {
    val rng = new java.util.Random(baseSeed)
    val pairs = Array.fill(rows) {
      SeedPair.fromRaw(rng.nextInt(), rng.nextInt(), rng.nextInt(), rng.nextInt())
    }
    ColumnSeeds(rows, pairs)
  }
}

/** A Fast-AGMS sketch group for one table instance: one `rows × buckets`
  * counter plane per join column, plus the surviving-row count.
  *
  * Semantics match the reference's GPU path (the configuration used in its
  * experiments): each join column gets its own plane
  * (mapd-core/QueryEngine/cuda_mapd_rt.cu:766-804 writes `num_cols` planes;
  * mapd-core/QueryEngine/Execute.cpp:1822-1835 copies them into
  * `separate_sketch_elem`). Update per row r, column c with key k:
  * `plane(c)(r*B + CW2B_{c,r}(k)) += EH3_{c,r}(k)`
  * (mapd-core/QueryEngine/Sketch/Sketches.h:124-138).
  *
  * Sketches are linear, so merge = element-wise add
  * (Sketches.h:140-143) — which is exactly Spark's partial/final
  * aggregation contract.
  */
final class SketchGroup(
    val rows: Int,
    val buckets: Int,
    val columns: Array[String],
    val seeds: Array[ColumnSeeds]) extends Serializable {
  require(columns.length == seeds.length)
  val nCols: Int = columns.length
  val planes: Array[Array[Double]] = Array.fill(nCols)(new Array[Double](rows * buckets))
  var count: Long = 0L

  def columnIndex(col: String): Int = columns.indexOf(col)

  // Seeds flattened to primitive arrays for the update hot loop: the
  // per-row work is rows × (CW2B + EH3) per column, and SeedPair object
  // dereferences dominate at millions of rows. Values are identical to
  // the SeedPair path — only the memory layout changes.
  @transient private lazy val flatCwA: Array[Array[Long]] =
    seeds.map(_.pairs.map(_.cwA))
  @transient private lazy val flatCwB: Array[Array[Long]] =
    seeds.map(_.pairs.map(_.cwB))
  @transient private lazy val flatEh0: Array[Array[Int]] =
    seeds.map(_.pairs.map(_.ehS0))
  @transient private lazy val flatEh1: Array[Array[Int]] =
    seeds.map(_.pairs.map(_.ehS1))

  /** Stream one tuple's join-column values (already folded to 32-bit). */
  def update(keys: Array[Int]): Unit = {
    var c = 0
    while (c < nCols) {
      val cwA = flatCwA(c); val cwB = flatCwB(c)
      val eh0 = flatEh0(c); val eh1 = flatEh1(c)
      val plane = planes(c)
      val k = keys(c)
      val kU = k.toLong & 0xFFFFFFFFL
      var r = 0
      while (r < rows) {
        val b = Xi.cw2b(cwA(r), cwB(r), kU, buckets)
        plane(r * buckets + b) += Xi.eh3(eh0(r), eh1(r), k).toDouble
        r += 1
      }
      c += 1
    }
    count += 1
  }

  /** Element-wise addition — sketches are linear. */
  def merge(other: SketchGroup): Unit = {
    require(other.nCols == nCols && other.rows == rows && other.buckets == buckets)
    var c = 0
    while (c < nCols) {
      val a = planes(c); val b = other.planes(c)
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      c += 1
    }
    count += other.count
  }

  /** Working plane composed for a multi-way estimate: element-wise pick the
    * min-|value| across this table's planes for `colIdxs` (reference:
    * Sketches.h:99-110 `Set_Sketch_With_Max`/`Choose_Sketch_Min_Val`,
    * driven by mapd-core/QueryEngine/RelAlgExecutor.cpp:2143-2169).
    */
  def composedMinPlane(colIdxs: Seq[Int]): Array[Double] = {
    require(colIdxs.nonEmpty)
    val out = planes(colIdxs.head).clone()
    colIdxs.tail.foreach { ci =>
      val p = planes(ci)
      var i = 0
      while (i < out.length) {
        if (math.abs(out(i)) > math.abs(p(i))) out(i) = p(i)
        i += 1
      }
    }
    out
  }

  def serialize(): Array[Byte] = SketchGroup.serialize(this)
}

object SketchGroup {
  /** Compact binary codec (the template cache's disk tier). Seeds ride
    * along so a loaded group is self-describing. Layout: rows, buckets,
    * nCols (int), count (long), column names (modified UTF-8), seeds, then
    * every plane as big-endian doubles — written and read in bulk through
    * a `DoubleBuffer` view, byte-for-byte what `DataOutputStream` writes.
    */
  def serialize(g: SketchGroup): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(g.rows); out.writeInt(g.buckets); out.writeInt(g.nCols)
    out.writeLong(g.count)
    g.columns.foreach(out.writeUTF)
    g.seeds.foreach { cs =>
      cs.pairs.foreach { p =>
        out.writeLong(p.cwA); out.writeLong(p.cwB)
        out.writeInt(p.ehS0); out.writeInt(p.ehS1)
      }
    }
    out.flush()
    val header = bos.size()
    val bytes = java.util.Arrays.copyOf(bos.toByteArray, header + 8 * g.nCols * g.rows * g.buckets)
    val doubles = ByteBuffer.wrap(bytes, header, bytes.length - header).asDoubleBuffer()
    g.planes.foreach(p => doubles.put(p))
    bytes
  }

  def deserialize(bytes: Array[Byte]): SketchGroup = {
    val bis = new ByteArrayInputStream(bytes)
    val in = new DataInputStream(bis)
    val rows = in.readInt(); val buckets = in.readInt(); val nCols = in.readInt()
    // A corrupt header must fail here, before it sizes the arrays below:
    // every (column, row) carries a 24-byte seed pair and `buckets` doubles.
    require(rows > 0 && buckets > 0 && nCols >= 0 &&
      nCols.toDouble * rows * (24.0 + 8.0 * buckets) <= bytes.length,
      "not a serialized SketchGroup")
    val count = in.readLong()
    val columns = Array.fill(nCols)(in.readUTF())
    val seeds = Array.fill(nCols) {
      ColumnSeeds(rows, Array.fill(rows) {
        SeedPair(in.readLong(), in.readLong(), in.readInt(), in.readInt())
      })
    }
    val g = new SketchGroup(rows, buckets, columns, seeds)
    g.count = count
    val header = bytes.length - bis.available()
    val doubles = ByteBuffer.wrap(bytes, header, bytes.length - header).asDoubleBuffer()
    g.planes.foreach(p => doubles.get(p))
    g
  }
}

/** Join-size estimation over sketch planes (driver-local, microseconds).
  * Arithmetic pinned to the reference: zeros clamped to 1e-4, `abs` on the
  * running product, median over rows
  * (mapd-core/QueryEngine/Sketch/Sketches.h:155-219,
  * mapd-core/QueryEngine/Sketch/SketchUtil.cpp:12-45).
  */
object Estimator {
  /** Median with the reference's tie-breaking: n==2 → mean; even n → mean of
    * the two middle elements (SketchUtil.cpp:12-45).
    */
  def median(xs: Array[Double]): Double = {
    val n = xs.length
    if (n == 1) return xs(0)
    if (n == 2) return (xs(0) + xs(1)) / 2
    val s = xs.clone()
    java.util.Arrays.sort(s)
    if (n % 2 == 0) (s(n / 2 - 1) + s(n / 2)) / 2.0 else s(n / 2)
  }

  private val ZeroClamp = 1e-4

  /** Pairwise estimate: median over rows of Σ_b |s1[r][b]·s2[r][b]|
    * (Sketches.h:155-176 `Size_Of_Join`).
    */
  def pairwise(s1: Array[Double], s2: Array[Double], rows: Int, buckets: Int): Double =
    multiway(Array(s1, s2), rows, buckets)

  /** Multi-way estimate: per (row, bucket), product of all planes' counters
    * (zero→1e-4, abs after each multiply), summed over buckets, median over
    * rows (Sketches.h:178-204).
    */
  def multiway(planes: Array[Array[Double]], rows: Int, buckets: Int): Double = {
    val est = new Array[Double](rows)
    var r = 0
    while (r < rows) {
      var sum = 0.0
      var b = 0
      while (b < buckets) {
        var prod = {
          val v = planes(0)(r * buckets + b)
          if (v == 0) ZeroClamp else v
        }
        var k = 1
        while (k < planes.length) {
          val v0 = planes(k)(r * buckets + b)
          val v = if (v0 == 0) ZeroClamp else v0
          prod = math.abs(prod * v)
          k += 1
        }
        sum += prod
        b += 1
      }
      est(r) = sum
      r += 1
    }
    median(est)
  }

  /** Self-join size: median over rows of Σ_b s[r][b]² (Sketches.h:206-219). */
  def selfJoin(s: Array[Double], rows: Int, buckets: Int): Double = {
    val est = new Array[Double](rows)
    var r = 0
    while (r < rows) {
      var sum = 0.0
      var b = 0
      while (b < buckets) {
        val v = s(r * buckets + b)
        sum += v * v
        b += 1
      }
      est(r) = sum
      r += 1
    }
    median(est)
  }
}
