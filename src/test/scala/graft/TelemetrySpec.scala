package graft

import org.scalatest.funsuite.AnyFunSuite

/** The per-lap telemetry scope Bench opens around each timed lap: a
  * capture sees exactly the records made inside it, and nothing else.
  */
class TelemetrySpec extends AnyFunSuite {
  private def latency(q: String, ms: Long): Unit =
    Telemetry.record(r => r.copy(corpusLatencies = r.corpusLatencies + (q -> ms)))

  test("a capture returns its body's result and exactly the records made inside it") {
    val (out, rec) = Telemetry.capture { latency("1a", 5); latency("2b", 7); 42 }
    assert(out.get == 42)
    assert(rec == Telemetry.Record(corpusLatencies = Map("1a" -> 5L, "2b" -> 7L)))
  }

  test("two captures in sequence share nothing") {
    val (_, first) = Telemetry.capture(latency("1a", 5))
    val (_, second) = Telemetry.capture(latency("2b", 7))
    assert(first.corpusLatencies == Map("1a" -> 5L))
    assert(second.corpusLatencies == Map("2b" -> 7L))
  }

  test("a record made outside any capture is dropped") {
    latency("stray", 1)
    val (_, rec) = Telemetry.capture(())
    assert(rec == Telemetry.Record())
    latency("stray", 1)
    val (_, next) = Telemetry.capture(latency("1a", 5))
    assert(next.corpusLatencies == Map("1a" -> 5L))
  }

  test("a failed body keeps what it recorded before failing") {
    val (out, rec) = Telemetry.capture[Int] { latency("1a", 5); sys.error("boom") }
    assert(out.isFailure)
    assert(rec.corpusLatencies == Map("1a" -> 5L))
  }

  test("a nested capture keeps its records from the outer one") {
    val (inner, outer) = Telemetry.capture {
      latency("outer", 1)
      val (_, in) = Telemetry.capture(latency("inner", 2))
      latency("outer2", 3)
      in
    }
    assert(inner.get.corpusLatencies == Map("inner" -> 2L))
    assert(outer.corpusLatencies == Map("outer" -> 1L, "outer2" -> 3L))
  }

  test("a record on another thread does not reach this thread's capture") {
    val (_, rec) = Telemetry.capture {
      val t = new Thread(() => latency("other", 1))
      t.start(); t.join()
    }
    assert(rec == Telemetry.Record())
  }
}
