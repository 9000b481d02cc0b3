package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the streaming state-store partition dial (r18 measured the
  * reversal direction at ×1000; r19 re-measured in clean isolated JVMs
  * and encoded the chooser): a stateful operator runs one state store
  * per shuffle partition, so partition count trades per-batch
  * store-commit fan-out against state-shard parallelism. Clean ×1000
  * measurements (one entry per JVM, ~196 MB events):
  *   - q_stream_dedup WINS at 32 on both laps (41.6/59.9 s at 8 vs
  *     34.1/53.5 at 32) → flips past the boundary.
  *   - q_stream_topk is a WASH (26.7/37.2 at 8 vs 23.5/41.6 at 32 —
  *     cold −12%, warm +12%) → stays on 8, the negative result
  *     recorded rather than a split verdict shipped.
  *   - light fixed-state entries LOSE at 32 at every volume.
  * The chooser requires BOTH signals — a winning-heavy entry AND
  * volume at the measured boundary — exactly like
  * JobCorpus.useInteractiveProfile's profile gate.
  */
class StreamDialSpec extends AnyFunSuite {

  test("only the measured-winning heavy entry flips, and only past the measured volume") {
    val big = StreamQueries.HeavyStateVolumeBytes
    // Bench volume (~2 MB events at sf0.1): everything on 8.
    assert(StreamQueries.streamPartitionsFor("q_stream_dedup", 2L << 20) == 8)
    assert(StreamQueries.streamPartitionsFor("q_stream_topk", 2L << 20) == 8)
    // ×1000 volume (~196 MB, the measured winning point): dedup → 32.
    assert(StreamQueries.streamPartitionsFor("q_stream_dedup", 196L << 20) == 32)
    assert(StreamQueries.streamPartitionsFor("q_stream_dedup", big) == 32)
    // topk measured a cold/warm split at ×1000 — stays on the default.
    assert(StreamQueries.streamPartitionsFor("q_stream_topk", 196L << 20) == 8)
    // Light entries stay on 8 at ANY volume — they lose at 32 even at
    // ×1000 (state is O(types×hours) / O(users), no shard bottleneck).
    assert(StreamQueries.streamPartitionsFor("q_stream_windowed", 196L << 20) == 8)
    assert(StreamQueries.streamPartitionsFor("q_stream_user_totals", 1L << 40) == 8)
  }

  test("the real bench corpus routes every entry to the 8-partition child") {
    // The driver's sf dirs sit far below the boundary; a silent
    // boundary change that re-routes the bench would invalidate the
    // promoted record's comparability.
    for (name <- Seq("q_stream_dedup", "q_stream_topk", "q_stream_windowed"))
      assert(StreamQueries.streamPartitions(name, "/root/testdata/sf0.1") == 8,
        s"$name no longer rides the recorded 8-partition child at bench volume")
  }
}
