package graft

import graft.job.JobCorpus
import org.scalatest.funsuite.AnyFunSuite

/** Pins the volume gate on the JOB corpus interactive-trim profile
  * (r18 verdict #6). SCALE.md r18 facet 1 measured the dial FLIPPING at
  * scale: the trim (AQE/codegen/constraint off) wins the
  * planning-bound regime (×10: 48 s → ~25 s; p50 1.5 s vs 1.9–2.3 s at
  * ×100) but LOSES the data-dominated tail — at ×100, queries `18c`,
  * `25a`, `25b`, `25c` complete ONLY with AQE re-planning on, and trim
  * cap-outs (25 cold / 28 warm) exceed the default profile's (23/24).
  * The chooser must therefore flip to the untouched default conf past
  * the last multiplier the trim was measured winning (×20, the
  * `scaleFor` cap the bench entries run under).
  */
class ProfileChooserSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("chooser flips to the default profile above the measured x20 boundary") {
    assert(JobCorpus.useInteractiveProfile(1))
    assert(JobCorpus.useInteractiveProfile(10))
    assert(JobCorpus.useInteractiveProfile(20),
      "x20 is inside the measured trim-wins regime (scaleFor cap)")
    assert(!JobCorpus.useInteractiveProfile(21))
    assert(!JobCorpus.useInteractiveProfile(100),
      "x100 measured LOSING under the trim (SCALE.md r18 facet 1: " +
        "18c/25a/25b/25c complete only with AQE on) — must take defaults")
  }

  test("the two profiles genuinely differ: trim has AQE off, default child keeps it on") {
    val exec = JobCorpus.executionSession(spark, 1)
    // Inside the regime the execution session IS the trimmed child.
    assert(exec eq JobCorpus.session(spark, trim = true, 1))
    assert(exec.conf.get("spark.sql.adaptive.enabled") == "false")
    assert(exec.conf.get("spark.sql.codegen.wholeStage") == "false")
    // Past the boundary the chooser takes the default-profile child:
    // Spark's own conf, AQE on (the only profile that completes the x100
    // tail). Read at x1 from the same registry; no x100 data is built.
    val dflt = JobCorpus.session(spark, trim = false, 1)
    assert(dflt ne exec)
    assert(dflt.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(dflt.conf.get("spark.sql.codegen.wholeStage") == "true")
  }
}
