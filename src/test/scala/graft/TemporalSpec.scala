package graft

import graft.operators.Temporal
import org.scalatest.funsuite.AnyFunSuite

import java.sql.Timestamp

class TemporalSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")

  test("as-of join: latest prior-or-equal right row per key, null when none") {
    import spark.implicits._
    val quotes = Seq( // (key, ts, px)
      ("a", ts(0), 1.0), ("a", ts(10), 2.0), ("a", ts(20), 3.0),
      ("b", ts(5), 10.0))
      .toDF("sym", "ts", "px")
    val trades = Seq( // (key, ts, id)
      ("a", ts(5), 1L),  // between quotes 0 and 10 → px 1.0
      ("a", ts(10), 2L), // exactly at a quote → px 2.0 (<= includes equal)
      ("a", ts(25), 3L), // after the last → px 3.0
      ("b", ts(1), 4L),  // before b's only quote → null
      ("c", ts(9), 5L))  // key with no quotes → null
      .toDF("sym", "ts", "id").repartition(3)
    val out = Temporal.asofJoin(trades, quotes, "sym", "ts", Seq("px"))
      .collect().map(r => r.getLong(2) -> Option(r.get(3))).toMap
    assert(out == Map(
      1L -> Some(1.0), 2L -> Some(2.0), 3L -> Some(3.0),
      4L -> None, 5L -> None))
  }

  test("as-of join: tolerance nulls stale matches, keeps fresh ones, salted path agrees") {
    import spark.implicits._
    val quotes = Seq( // ts() is MINUTES; tolerance below is 600 s = 10 min
      ("a", ts(0), 1.0), ("a", ts(40), 2.0), ("b", ts(5), 10.0))
      .toDF("sym", "ts", "px")
    val trades = Seq(
      ("a", ts(5), 1L),  // 5 min stale → within the 10 min tolerance
      ("a", ts(30), 2L), // 30 min stale → OUT of tolerance → null
      ("a", ts(40), 3L), // exact-ts match, 0 stale
      ("b", ts(20), 4L), // 15 min stale → null
      ("c", ts(9), 5L))  // no match at all → null
      .toDF("sym", "ts", "id").repartition(3)
    val expect = Map(
      1L -> Some(1.0), 2L -> None, 3L -> Some(2.0), 4L -> None, 5L -> None)
    val out = Temporal.asofJoin(trades, quotes, "sym", "ts", Seq("px"),
        toleranceSec = Some(600L))
      .collect().map(r => r.getLong(2) -> Option(r.get(3))).toMap
    assert(out == expect)
    // The salted plan must apply the identical bound — 20-min ranges put
    // trade 2's only match in an EARLIER range, so the stale match
    // arrives via the cross-range carry-in and must still be nulled.
    val salted = Temporal.asofJoin(trades, quotes, "sym", "ts", Seq("px"),
        saltSpanSec = Some(1200L), toleranceSec = Some(600L))
      .collect().map(r => r.getLong(2) -> Option(r.get(3))).toMap
    assert(salted == expect)
  }

  test("as-of join: forward direction picks the earliest following-or-equal row") {
    import spark.implicits._
    val quotes = Seq(
      ("a", ts(10), 1.0), ("a", ts(20), 2.0), ("b", ts(5), 10.0))
      .toDF("sym", "ts", "px")
    val trades = Seq(
      ("a", ts(5), 1L),  // next quote at 10 → 1.0
      ("a", ts(10), 2L), // equal ts included → 1.0
      ("a", ts(15), 3L), // next at 20 → 2.0
      ("a", ts(25), 4L), // nothing follows → null
      ("b", ts(9), 5L))  // b's only quote is BEHIND → null
      .toDF("sym", "ts", "id").repartition(3)
    val out = Temporal.asofJoin(trades, quotes, "sym", "ts", Seq("px"),
        direction = "forward")
      .collect().map(r => r.getLong(2) -> Option(r.get(3))).toMap
    assert(out == Map(
      1L -> Some(1.0), 2L -> Some(1.0), 3L -> Some(2.0),
      4L -> None, 5L -> None))
    // Forward + tolerance: staleness is matched.ts − left.ts.
    val tight = Temporal.asofJoin(trades, quotes, "sym", "ts", Seq("px"),
        toleranceSec = Some(120L), direction = "forward")
      .collect().map(r => r.getLong(2) -> Option(r.get(3))).toMap
    assert(tight == Map(
      1L -> None, 2L -> Some(1.0), 3L -> None, 4L -> None, 5L -> None))
    intercept[IllegalArgumentException] {
      Temporal.asofJoin(trades, quotes, "sym", "ts", Seq("px"),
        saltSpanSec = Some(60L), direction = "forward")
    }
  }

  test("as-of join: duplicate right timestamps resolve deterministically (max)") {
    import spark.implicits._
    val right = Seq(("a", ts(0), 5.0), ("a", ts(0), 7.0)).toDF("k", "ts", "v")
    val left = Seq(("a", ts(1), 1L)).toDF("k", "ts", "id")
    val out = Temporal.asofJoin(left, right, "k", "ts", Seq("v")).collect()
    assert(out.head.getDouble(3) == 7.0)
  }

  test("as-of join: carry-name collision is rejected") {
    import spark.implicits._
    val df = Seq(("a", ts(0), 1.0)).toDF("k", "ts", "v")
    intercept[IllegalArgumentException] {
      Temporal.asofJoin(df, df, "k", "ts", Seq("v"))
    }
  }

  test("range join: exact interval membership across bucket boundaries") {
    import spark.implicits._
    // lookback 600 s; boundary cases: exactly at left.ts (in), exactly at
    // left.ts - 600 (out, strict >), one second inside, previous-bucket
    // matches, other keys excluded.
    val left = Seq(("a", ts(20), 1L), ("b", ts(20), 2L)).toDF("k", "ts", "id")
    val right = Seq(
      ("a", ts(20), 100L), // == left.ts → in
      ("a", ts(10), 101L), // 600s before → out (strict)
      ("a", ts(11), 102L), // 540s before → in
      ("a", ts(21), 103L), // after → out
      ("b", ts(15), 104L), // other key, in range for b
      ("c", ts(20), 105L)) // no left key
      .toDF("k", "ts", "rid").repartition(3)
    val out = Temporal.rangeJoin(left, right, "k", "ts", 600L, Seq("rid"))
      .collect().map(r => (r.getLong(2), r.getLong(3))).toSet
    assert(out == Set((1L, 100L), (1L, 102L), (2L, 104L)))
  }

  test("as-of join: null right timestamps never match") {
    import spark.implicits._
    val right = Seq(("a", null.asInstanceOf[Timestamp], 99.0)).toDF("k", "ts", "v")
    val left = Seq(("a", ts(1), 1L)).toDF("k", "ts", "id")
    val out = Temporal.asofJoin(left, right, "k", "ts", Seq("v")).collect()
    assert(out.head.isNullAt(3), "a null-ts right row must not be carried")
  }

  test("property: asofJoin agrees with the naive correlated-subquery definition") {
    import spark.implicits._
    // Randomized cross-check against an independent definition of the
    // same semantics (a windowed max-ts lookup), over data with key skew,
    // ts collisions, and empty keys.
    val rng = new scala.util.Random(2026)
    for (trial <- 1 to 3) {
      val keys = Vector("a", "b", "c", "d")
      val right = Seq.fill(60)((keys(rng.nextInt(4)), ts(rng.nextInt(50)),
        rng.nextInt(100).toDouble)).toDF("k", "ts", "px")
      val left = Seq.tabulate(40)(i => (keys(rng.nextInt(4)), ts(rng.nextInt(50)),
        (trial * 100 + i).toLong)).toDF("k", "ts", "id")
      val got = Temporal.asofJoin(left, right, "k", "ts", Seq("px"))
        .collect().map(r => r.getLong(2) -> Option(r.get(3))).toMap
      // Naive definition: max px among right rows at the max eligible ts.
      val rRows = right.collect().map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2)))
      val expected = left.collect().map { lr =>
        val (k, t, id) = (lr.getString(0), lr.getTimestamp(1), lr.getLong(2))
        val eligible = rRows.filter(r => r._1 == k && !r._2.after(t))
        val v = if (eligible.isEmpty) None
          else {
            val maxTs = eligible.map(_._2.getTime).max
            Some(eligible.filter(_._2.getTime == maxTs).map(_._3).max)
          }
        id -> v
      }.toMap
      assert(got == expected.map { case (k, v) => k -> v.map(x => x: Any) },
        s"trial $trial mismatch")
    }
  }

  test("property: rangeJoin agrees with the naive filter definition") {
    import spark.implicits._
    // Randomized cross-check against the direct O(|L|x|R|) definition of
    // the same predicate, over data with bucket-boundary timestamps, key
    // skew, and empty keys — the bucketed equi-join must lose or invent
    // nothing at the bucket seams.
    val rng = new scala.util.Random(2027)
    val lookback = 600L
    for (trial <- 1 to 3) {
      val keys = Vector("a", "b", "c")
      // Timestamps snapped near multiples of the lookback so seams are hit.
      def t(): Timestamp = ts(rng.nextInt(50)) match {
        case x if rng.nextInt(3) == 0 =>
          new Timestamp((x.getTime / (lookback * 1000)) * lookback * 1000)
        case x => x
      }
      val left = Seq.tabulate(40)(i => (keys(rng.nextInt(3)), t(), (trial * 100 + i).toLong))
        .toDF("k", "ts", "id")
      val right = Seq.tabulate(60)(i => (keys(rng.nextInt(3)), t(), (trial * 1000 + i).toLong))
        .toDF("k", "ts", "rid")
      val got = Temporal.rangeJoin(left, right, "k", "ts", lookback, Seq("rid"))
        .collect().map(r => (r.getLong(2), r.getLong(3))).toSet
      val lRows = left.collect().map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2)))
      val rRows = right.collect().map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2)))
      val expected = (for {
        (lk, lt, id) <- lRows
        (rk, rt, rid) <- rRows
        if lk == rk && !rt.after(lt) && rt.getTime > lt.getTime - lookback * 1000
      } yield (id, rid)).toSet
      assert(got == expected, s"trial $trial: ${got.diff(expected)} extra, ${expected.diff(got)} missing")
    }
  }

  test("as-of join: salted path is exactly equivalent under 90% single-key skew") {
    import spark.implicits._
    // The docstring's claimed contract: saltSpanSec changes the plan, never
    // the result. Data stresses everything the summary join must get right:
    // one key holding ~90 % of rows (spanning many salt ranges), NULL keys
    // (the unsalted window groups them — the null-safe join must too),
    // NULL left timestamps, ts collisions, ranges with only left rows
    // (carry-in from an earlier range), and keys with no right rows.
    val rng = new scala.util.Random(41)
    def key(): String = rng.nextInt(10) match {
      case 0 => null           // NULL-key group
      case n if n <= 1 => "b"  // minor key
      case _ => "hot"          // ~80-90 % of rows
    }
    for (trial <- 1 to 3) {
      val right = Seq.fill(80)((key(), ts(rng.nextInt(55)),
        rng.nextInt(100).toDouble)).toDF("k", "ts", "px")
      val left = Seq.tabulate(60) { i =>
        val t = if (rng.nextInt(12) == 0) null else ts(rng.nextInt(55))
        (key(), t.asInstanceOf[Timestamp], (trial * 1000 + i).toLong)
      }.toDF("k", "ts", "id")
      val unsalted = Temporal.asofJoin(left, right, "k", "ts", Seq("px"))
        .collect().map(r => r.getLong(2) -> Option(r.get(3))).toMap
      // Span of 120 s ⇒ the 55-minute ts domain spreads over ~28 ranges.
      val salted = Temporal.asofJoin(left, right, "k", "ts", Seq("px"),
          saltSpanSec = Some(120L))
        .collect().map(r => r.getLong(2) -> Option(r.get(3))).toMap
      assert(salted == unsalted, s"trial $trial: salted != unsalted")
    }
  }

  test("as-of join plan: exactly one hash exchange (the key window), no join operator") {
    import spark.implicits._
    val quotes = (1 to 50).map(i => ("a", ts(i % 60), i.toDouble)).toDF("k", "ts", "px")
    val trades = (1 to 50).map(i => ("a", ts(i % 60), i.toLong)).toDF("k", "ts", "id")
    val out = Temporal.asofJoin(trades, quotes, "k", "ts", Seq("px"))
    out.collect()
    val plan = PlanText.finalPlan(out.queryExecution.executedPlan.toString)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"as-of must not plan a product join:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1,
      s"as-of should shuffle exactly once (the key window), got $exchanges:\n$plan")
  }

  test("retention: cohort by first anchor, distinct per cell, pre-anchor excluded") {
    import spark.implicits._
    def tsd(d: Int, h: Int = 0) = Timestamp.valueOf(f"2024-01-$d%02d $h%02d:00:00")
    val events = Seq(
      // user 1 signs up day 1; active day 1 (x2 -> distinct once), day 9.
      (1L, tsd(1), "signup"), (1L, tsd(1, 5), "click"), (1L, tsd(1, 6), "view"),
      (1L, tsd(9), "click"),
      // user 2 signs up day 2 (same epoch cohort-week as day 1), active day 2 only;
      // a pre-signup event on day 1 must NOT count.
      (2L, tsd(1), "view"), (2L, tsd(2), "signup"), (2L, tsd(2, 3), "click"),
      // user 3 never signs up: absent.
      (3L, tsd(1), "click")
    ).toDF("user_id", "ts", "event_type")
    val got = Temporal.retention(events, "user_id", "ts", "event_type", "signup")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val w1 = tsd(1).getTime / 1000 / 604800
    // Offsets are anchored per user: both users are offset-0 actives in
    // their signup week; user 1 returns in offset week 1.
    assert(got == Map((w1, 0L) -> 2L, (w1, 1L) -> 1L), s"got $got")
    intercept[IllegalArgumentException] {
      Temporal.retention(events, "user_id", "ts", "event_type", "signup",
        bucketSec = 0L) }
  }

  test("funnel: greedy-earliest chain, window flag, drop-offs, order matters") {
    import spark.implicits._
    val events = Seq(
      // user 1: view@1 → click@3 → purchase@5 — converts (within 10 min).
      (1L, ts(1), "view"), (1L, ts(3), "click"), (1L, ts(5), "purchase"),
      // user 2: completes but outside the window (purchase @ 55).
      (2L, ts(1), "view"), (2L, ts(2), "click"), (2L, ts(55), "purchase"),
      // user 3: drop-off after click — no purchase.
      (3L, ts(1), "view"), (3L, ts(4), "click"),
      // user 4: purchase BEFORE any click — order matters, not presence.
      (4L, ts(1), "view"), (4L, ts(2), "purchase"), (4L, ts(6), "click"),
      // user 5: GREEDY — first view@1 chains to click@3/purchase@50
      //  (outside window) even though view@45→... would be tighter.
      (5L, ts(1), "view"), (5L, ts(3), "click"), (5L, ts(45), "view"),
      (5L, ts(50), "purchase"),
      // user 6: never views — absent entirely.
      (6L, ts(1), "click"), (6L, ts(2), "purchase")
    ).toDF("user_id", "ts", "event_type")
    val got = Temporal.funnel(events, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"), withinSec = 600L)
      .collect()
      .map(r => r.getLong(0) ->
        ((Option(r.getTimestamp(1)), Option(r.getTimestamp(2)),
          Option(r.getTimestamp(3)), r.getBoolean(4))))
      .toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(got(1L) == ((Some(ts(1)), Some(ts(3)), Some(ts(5)), true)))
    assert(got(2L) == ((Some(ts(1)), Some(ts(2)), Some(ts(55)), false)))
    assert(got(3L) == ((Some(ts(1)), Some(ts(4)), None, false)))
    assert(got(4L) == ((Some(ts(1)), Some(ts(6)), None, false)),
      "a purchase before the click must not count")
    assert(got(5L) == ((Some(ts(1)), Some(ts(3)), Some(ts(50)), false)),
      "greedy-earliest: the first view anchors the chain")
    intercept[IllegalArgumentException] {
      Temporal.funnel(events, "user_id", "ts", "event_type", Seq("view"), 10L) }
    intercept[IllegalArgumentException] {
      Temporal.funnel(events, "user_id", "ts", "event_type",
        Seq("view", "view"), 10L) }
  }
}
