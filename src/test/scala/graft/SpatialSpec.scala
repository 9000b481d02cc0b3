package graft

import org.scalatest.funsuite.AnyFunSuite

/** Exhaustive-grid proof of the spatial prefilter's lossless claim: the
  * entry oracle (q_point_in_polygon) proves equivalence on the event
  * fixture at three SFs, but the INCLUSIVE-bbox safety argument is
  * geometric — every point the half-open crossing rule can classify
  * inside lies within the polygon's inclusive bbox — and deserves a
  * boundary-hostile exhaustive check: every lattice point of a grid,
  * polygons whose edges/vertices LIE ON grid points, and several grid
  * cell sizes including ones that misalign with the bboxes.
  */
class SpatialSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  // (pid, i, x1, y1, x2, y2) — square, triangle, concave L, reflex arrow;
  // coordinates chosen so vertices and edges sit ON lattice points and
  // bbox borders coincide with point coordinates (the knife edges).
  private val edges = Seq(
    (1, 1, 5, 5, 20, 5), (1, 2, 20, 5, 20, 20), (1, 3, 20, 20, 5, 20), (1, 4, 5, 20, 5, 5),
    (2, 1, 25, 25, 45, 25), (2, 2, 45, 25, 35, 45), (2, 3, 35, 45, 25, 25),
    (3, 1, 0, 30, 15, 30), (3, 2, 15, 30, 15, 40), (3, 3, 15, 40, 8, 40),
    (3, 4, 8, 40, 8, 49), (3, 5, 8, 49, 0, 49), (3, 6, 0, 49, 0, 30),
    (4, 1, 30, 0, 49, 0), (4, 2, 49, 0, 49, 15), (4, 3, 49, 15, 40, 8),
    (4, 4, 40, 8, 30, 15), (4, 5, 30, 15, 30, 0))

  /** The entry's exact half-open crossing parity, computed locally. */
  private def insideBrute(px: Long, py: Long, pid: Int): Boolean = {
    var crossings = 0
    edges.filter(_._1 == pid).foreach { case (_, _, x1, y1, x2, y2) =>
      if ((y1 > py) != (y2 > py)) {
        val cross = (py - y1) * (x2 - x1) - (px - x1) * (y2 - y1)
        if (if (y2 > y1) cross > 0 else cross < 0) crossings += 1
      }
    }
    crossings % 2 == 1
  }

  test("grid prefilter is lossless over every lattice point, at several cell sizes") {
    import spark.implicits._
    val pts = (for (x <- 0L until 50L; y <- 0L until 50L)
      yield (x * 50 + y, x, y)).toDF("event_id", "px", "py")
    val poly = edges.toDF("pid", "i", "x1", "y1", "x2", "y2")
    // Brute-force expectation per polygon from the local parity rule.
    val expected = (1 to 4).map { pid =>
      val in = for (x <- 0L until 50L; y <- 0L until 50L if insideBrute(x, y, pid))
        yield x * 50 + y
      pid -> ((in.size.toLong, in.sum))
    }.toMap
    assert(expected.values.map(_._1).sum > 0, "fixture must contain interior points")
    // Cell sizes that align (5), misalign (7), exceed every bbox (250),
    // and degenerate to per-unit cells (1).
    Seq(1, 7, 5, 250).foreach { cell =>
      val got = graft.operators.Spatial
        .pointInPolygonCounts(pts, poly, idCol = "event_id", cellSize = cell)
        .collect()
        .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(got == expected,
        s"cellSize=$cell diverged from brute force: got $got expected $expected")
    }
  }

  test("polygon with no candidate points still emits a zero row") {
    import spark.implicits._
    // All points far outside the polygon's bbox grid cells.
    val pts = Seq((1L, 900L, 900L), (2L, 950L, 901L)).toDF("event_id", "px", "py")
    val poly = Seq((7, 1, 0, 0, 10, 0), (7, 2, 10, 0, 10, 10),
      (7, 3, 10, 10, 0, 0)).toDF("pid", "i", "x1", "y1", "x2", "y2")
    val rows = graft.operators.Spatial
      .pointInPolygonCounts(pts, poly, idCol = "event_id", cellSize = 50)
      .collect()
    assert(rows.length == 1 && rows.head.getInt(0) == 7 &&
      rows.head.getLong(1) == 0L && rows.head.getLong(2) == 0L)
  }
}
