package graft

import org.scalatest.funsuite.AnyFunSuite

import scala.util.Try

/** The lap telemetry of one [[Work]] scope, the scope Bench opens around
  * every lap: a scope sees exactly the records made while it is open,
  * from any thread, and times its body.
  */
class TelemetrySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def latency(q: String, ms: Long): Unit =
    Work.record(r => r.copy(corpusLatencies = r.corpusLatencies + (q -> ms)))

  test("a capture returns its body's result and exactly the records made inside it") {
    val (out, c) = Work.measure(spark) { latency("1a", 5); latency("2b", 7); 42 }
    assert(out == 42)
    assert(c.records == Work.Record(corpusLatencies = Map("1a" -> 5L, "2b" -> 7L)))
  }

  test("two captures in sequence share nothing") {
    val (_, first) = Work.measure(spark)(latency("1a", 5))
    val (_, second) = Work.measure(spark)(latency("2b", 7))
    assert(first.records.corpusLatencies == Map("1a" -> 5L))
    assert(second.records.corpusLatencies == Map("2b" -> 7L))
  }

  test("a record made outside any capture is dropped") {
    latency("stray", 1)
    val (_, c) = Work.measure(spark)(())
    assert(c.records == Work.Record())
    latency("stray", 1)
    val (_, next) = Work.measure(spark)(latency("1a", 5))
    assert(next.records.corpusLatencies == Map("1a" -> 5L))
  }

  test("a failed body keeps what it recorded before failing") {
    val (out, c) = Work.measure(spark)(Try[Int] { latency("1a", 5); sys.error("boom") })
    assert(out.isFailure)
    assert(c.records.corpusLatencies == Map("1a" -> 5L))
  }

  test("a record made on another thread lands in the open scope") {
    val (_, c) = Work.measure(spark) {
      val t = new Thread(() => latency("other", 1))
      t.start(); t.join()
    }
    assert(c.records == Work.Record(corpusLatencies = Map("other" -> 1L)))
  }

  test("a scope times its body: wall covers a 50 ms sleep, GC and JIT are not negative") {
    val (_, c) = Work.measure(spark)(Thread.sleep(50))
    assert(c.wallNs >= 50L * 1000000, s"wall ${c.wallNs} ns")
    assert(c.gcMs >= 0 && c.jitMs >= 0, s"gc ${c.gcMs} ms, jit ${c.jitMs} ms")
  }
}
