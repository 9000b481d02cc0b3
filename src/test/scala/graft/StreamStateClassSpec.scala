package graft

import org.scalatest.funsuite.AnyFunSuite

/** Measured-membership gate for the streaming partition dial (r19
  * verdict #2): `HeavyStateEntries` must not be a hand-maintained name
  * set. Every `q_stream_*` entry is RUN here and its final state-store
  * footprint read from its `Work` scope, as recorded by the same
  * drain harness the bench uses; an entry whose state rows
  * scale linearly with input rows (ratio ≥ LinearStateRatio — the
  * dedup-shaped class the ×1000 dial measurement was about) must appear
  * in an EXPLICIT decision set: either `HeavyStateEntries` (measured
  * winner at 32 past the volume boundary) or `LinearStateDecided`
  * (measured linear, dial decision recorded as stay-on-default). A new
  * stateful entry landing in the linear class without a decision turns
  * this suite red — the exact silent-ride failure mode the r19 verdict
  * called out.
  */
class StreamStateClassSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def footprints(dir: String): Map[String, (Long, Long)] =
    StreamQueries.entries.map { e =>
      val (_, c) = Work.measure(spark)(e.run(spark, dir).collect())
      val fs = c.records.stateFootprints.values
      e.name -> (fs.map(_.stateRows).sum, fs.map(_.inputRows).sum)
    }.toMap

  test("every linear-state entry carries an explicit dial decision") {
    // TWO-POINT measurement: a single small-corpus ratio misclassifies
    // bounded-state entries — at 1,000 events the O(hours×types) window
    // stores have barely saturated, so stateRows/inputRows ≈ 0.9 looks
    // linear. What distinguishes the dedup-shaped class is that state
    // KEEPS GROWING with input: between sf0.001 and sf0.01 (10× input)
    // a linear store grows ~10×, a bounded store flattens against its
    // key-combination ceiling.
    val small = footprints("/root/testdata/sf0.001")
    val big = footprints("/root/testdata/sf0.01")
    val measured = StreamQueries.entries.map(_.name).map { n =>
      val (sRows, sIn) = small(n)
      val (bRows, bIn) = big(n)
      val inGrowth = if (sIn > 0) bIn.toDouble / sIn else 0.0
      val stGrowth = if (sRows > 0) bRows.toDouble / sRows else 0.0
      val bigRatio = if (bIn > 0) bRows.toDouble / bIn else 0.0
      // documents-backed entries read the same table at both sf dirs
      // (the driver corpus only scales the TPC-H-ish tables + events),
      // so growth is unmeasurable for them — fall back to the
      // single-point ratio, which is unambiguous at their distance from
      // the boundary (chunk_dedup ≈ 6.9 state rows per input doc;
      // neardup ≈ 0.03).
      val linear =
        if (inGrowth > 1.0)
          bigRatio >= StreamQueries.LinearStateRatio &&
            stGrowth >= 0.5 * inGrowth
        else bigRatio >= StreamQueries.LinearStateRatio
      info(f"$n%-28s ratio@sf0.01=$bigRatio%.3f stateGrowth=$stGrowth%.1f " +
        f"inGrowth=$inGrowth%.1f linear=$linear " +
        s"(rows $sRows->$bRows, in $sIn->$bIn)")
      n -> linear
    }
    val linear = measured.collect { case (n, true) => n }.toSet
    val decided = StreamQueries.HeavyStateEntries ++
      StreamQueries.LinearStateDecided
    assert(linear == decided,
      s"measured linear-state class $linear != decided set $decided — " +
        "a stateful entry changed class without a dial decision " +
        "(measure both partition counts on the x1000 corpus, then add it " +
        "to HeavyStateEntries or LinearStateDecided with the numbers)")
    // And the flip set itself must be a subset of the measured linear
    // class: a heavy entry whose state stopped scaling with input no
    // longer justifies its 32-partition route.
    assert(StreamQueries.HeavyStateEntries.subsetOf(linear),
      "HeavyStateEntries contains an entry that no longer measures linear-state")
  }
}
