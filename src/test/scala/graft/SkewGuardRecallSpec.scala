package graft

import graft.operators.TextDedup
import org.scalatest.funsuite.AnyFunSuite

/** Quantifies the oversized-bucket skew guard's documented blind spot
  * (r18 verdict "What's wrong" #3; TextDedup.minhashNearDups): in a
  * MIXED oversized bucket, a member near-dup to another member but not
  * to the bucket-min hub yields no candidate pair — if the family is
  * shadowed into foreign buckets in EVERY band, its non-min members
  * wrongly survive keep-min dedup.
  *
  * The fixture constructs exactly that adversary: a 96-doc boilerplate
  * mass (mutual J ≈ 0.935, low ids → the mass owns every hub) plus 48
  * six-member near-dup families (within-family J ≈ 0.947) that share a
  * 30-word prefix with the mass, tuning member↔mass J to ≈ 0.72 — below
  * the 0.8 threshold (hub pairs fail the exact verify) but high enough
  * that at LOW band counts a family often lands in the mass's bucket in
  * every band (per-hash shadow probability = J ≈ 0.72). Ground truth is
  * brute-force all-pairs shingle Jaccard computed in plain Scala.
  *
  * Measured geometry (the COVERAGE.md table is generated from this
  * spec's printout):
  *   - toy banding (numHashes=4, bands=2): the blind spot is REAL —
  *     the hub guard wrongly keeps dozens of shadowed family members
  *     that the unguarded ceiling dedups. No variant that pairs more
  *     of an oversized bucket closes that gap (COVERAGE.md r19/r20).
  *   - shipped banding (numHashes=64, bands=16): the blind spot
  *     VANISHES — shadowing a foreign bucket in all 16 bands needs all
  *     64 minhashes to agree with the mass (P = J^64 ≈ 6e-10 at
  *     J = 0.72), so some band always isolates the family into a small
  *     pure bucket where the full in-bucket join pairs it. At low band
  *     counts only more bands close the gap.
  */
class SkewGuardRecallSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  // ---- adversarial fixture -------------------------------------------
  private val massN = 96
  private val famN = 48
  private val famSize = 6

  private lazy val docs: Seq[(Long, String)] = {
    val massCommon = (0 until 31).map(i => s"m$i")
    val mass = (0 until massN).map { i =>
      (i.toLong, (massCommon :+ s"mt$i").mkString(" "))
    }
    val fams = for {
      f <- 0 until famN
      j <- 0 until famSize
    } yield {
      val words = (0 until 30).map(i => s"m$i") ++
        (0 until 8).map(g => s"g${f}_$g") :+ s"t${f}_$j"
      ((1000 + f * 100 + j).toLong, words.mkString(" "))
    }
    mass ++ fams
  }

  private def shingles(text: String): Set[String] = {
    val w = text.split("\\s+")
    (0 to w.length - 3).map(i => w.slice(i, i + 3).mkString(" ")).toSet
  }

  /** Brute-force qualifying pairs (a < b, J >= t). */
  private lazy val truthPairs: Set[(Long, Long)] = {
    val sh = docs.map { case (id, t) => (id, shingles(t)) }
    (for {
      i <- sh.indices.iterator
      j <- (i + 1) until sh.size
      (ia, sa) = sh(i)
      (ib, sb) = sh(j)
      inter = (sa & sb).size.toDouble
      if inter / (sa.size + sb.size - inter) >= 0.8
    } yield (math.min(ia, ib), math.max(ia, ib))).toSet
  }

  /** Keep-min survivors under a pair relation: drop b iff some (a, b)
    * pair exists with a < b — the q_dedup_minhash entry's rule.
    */
  private def survivors(pairs: Set[(Long, Long)]): Set[Long] =
    docs.map(_._1).toSet -- pairs.map(_._2)

  private def enginePairs(numHashes: Int, bands: Int,
      maxBucket: Int): Set[(Long, Long)] = {
    import spark.implicits._
    val df = docs.toDF("doc_id", "text").repartition(4)
    TextDedup.minhashNearDups(df, "doc_id", "text", threshold = 0.8,
        numHashes = numHashes, bands = bands, maxBucket = maxBucket)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("fixture geometry: truth = mass + family pairs, 49 survivors") {
    // Every mass pair and every within-family pair qualifies; nothing
    // crosses. Survivors = mass min + one per family.
    assert(truthPairs.size ==
      massN * (massN - 1) / 2 + famN * famSize * (famSize - 1) / 2)
    assert(survivors(truthPairs).size == 1 + famN)
    // The blind spot's precondition: family members are NOT near-dups
    // of the hub (mass min), so hub pairs cannot rescue them.
    assert(!truthPairs.exists { case (a, b) => a < massN && b >= 1000 })
  }

  test("toy banding (4 hashes / 2 bands): hub-only blind spot measured") {
    val truth = survivors(truthPairs)
    val ceiling = survivors(enginePairs(4, 2, 1 << 30))
    val hub = survivors(enginePairs(4, 2, 16))
    // Excess = wrongly-kept docs vs the unguarded ceiling at the SAME
    // banding (isolates the guard's loss from generic LSH recall).
    val excessHub = (hub -- ceiling).size
    info(s"truth=${truth.size} ceiling=${ceiling.size} " +
      s"hub=${hub.size} (excess $excessHub)")
    // The fixture must actually exercise the blind spot.
    assert(excessHub > 10,
      s"fixture no longer shadows families: hub excess = $excessHub")
    // The guard never ADDS pairs the ceiling lacks (verify rejects
    // false positives), so survivors only shrink toward the ceiling.
    assert(ceiling.subsetOf(hub) || (ceiling -- hub).isEmpty)
  }

  test("shipped banding (64 hashes / 16 bands): blind spot vanishes, hub-only is exact") {
    val hub = survivors(enginePairs(64, 16, 16))
    assert(hub == survivors(truthPairs),
      s"hub guard at shipped banding missed ${(hub -- survivors(truthPairs)).size} " +
        "excess survivors — the 16-band shadow-probability argument broke")
  }
}
