package graft

import graft.streaming.EventStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.sql.Timestamp

/** Structured Streaming semantics driven through MemoryStream: windowed
  * aggregation with watermark-bounded state, equivalence with the batch
  * definition, and JSON ingest parsing (the Kafka-shaped path).
  */
class EventStreamSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def ts(h: Int, m: Int = 0) =
    Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")

  test("windowed streaming agg matches the batch definition of the same data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val events = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val query = EventStream.windowedStats(events)
      .writeStream.format("memory").queryName("win_out")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, ts(1, 10), 10L, "click", 1.0), (2L, ts(1, 40), 11L, "click", 2.0),
        (3L, ts(1, 20), 10L, "view", 5.0), (4L, ts(2, 5), 12L, "click", 3.0))
      query.processAllAvailable()
      // advance watermark far enough to close the 01:00 and 02:00 windows
      input.addData((5L, ts(23), 13L, "view", 1.0))
      query.processAllAvailable()
      val streamed = spark.table("win_out")
        .select("window_start", "event_type", "n", "sv")
        .collect().map(_.toSeq).toSet
      val batch = EventStream.windowedStatsBatch(
        Seq((1L, ts(1, 10), 10L, "click", 1.0), (2L, ts(1, 40), 11L, "click", 2.0),
          (3L, ts(1, 20), 10L, "view", 5.0), (4L, ts(2, 5), 12L, "click", 3.0))
          .toDF("event_id", "ts", "user_id", "event_type", "value"))
        .collect().map(_.toSeq).toSet
      assert(batch.subsetOf(streamed), s"batch=$batch streamed=$streamed")
    } finally query.stop()
  }

  test("late data beyond the watermark is dropped (bounded state)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val events = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val query = EventStream.windowedStats(events, watermark = "1 hour")
      .writeStream.format("memory").queryName("late_out")
      .outputMode("append").start()
    try {
      input.addData((1L, ts(1), 1L, "click", 1.0))
      query.processAllAvailable()
      input.addData((2L, ts(10), 1L, "click", 1.0)) // watermark → 09:00
      query.processAllAvailable()
      input.addData((3L, ts(1, 30), 1L, "click", 99.0)) // hours late
      query.processAllAvailable()
      input.addData((4L, ts(23), 1L, "view", 1.0)) // close everything
      query.processAllAvailable()
      val rows = spark.table("late_out")
        .filter(col("window_start") === ts(1)).collect()
      assert(rows.length == 1 && rows.head.getAs[Long]("n") == 1L,
        s"late row must not re-open the closed window: ${rows.mkString}")
    } finally query.stop()
  }

  test("windowed key counts accumulate across micro-batches per (window, key)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val events = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val query = EventStream.windowedKeyCounts(events, "user_id")
      .writeStream.format("memory").queryName("keycounts_out")
      .outputMode("complete").start()
    try {
      input.addData(
        (1L, ts(1, 10), 10L, "click", 1.0), (2L, ts(1, 40), 10L, "click", 2.0),
        (3L, ts(1, 20), 11L, "view", 5.0), (4L, ts(2, 5), 10L, "click", 3.0))
      query.processAllAvailable()
      // Second micro-batch adds to an ALREADY-SEEN (window, key) pair —
      // the stateful accumulation the entry's top-k ranking depends on.
      input.addData((5L, ts(1, 50), 10L, "view", 1.0))
      query.processAllAvailable()
      val out = spark.table("keycounts_out")
        .collect().map(r => (r.getTimestamp(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(out == Map(
        (ts(1), 10L) -> 3L, (ts(1), 11L) -> 1L, (ts(2), 10L) -> 1L),
        s"cross-batch keyed counts mismatch: $out")
    } finally query.stop()
  }

  test("streaming near-dup dedup: planted near-dups across micro-batches drop, fresh docs survive") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val docs = input.toDF().toDF("doc_id", "ts", "text")
    val base = "the quick brown fox jumps over the lazy dog while seventeen " +
      "green turtles watch from a mossy stone bridge near the old mill pond " +
      "every single morning without fail in the cold mountain air"
    val nearDup = base.replace("morning", "evening") // shingle jaccard ≈ 0.9
    val fresh2 = "completely different content about distributed query engines " +
      "and columnar storage formats with vectorized execution pipelines and " +
      "adaptive partitioning strategies for modern analytics workloads at scale"
    val fresh3 = "a genuinely novel third document describing watermark " +
      "semantics for stateful stream processing operators running in append " +
      "mode across many micro batches of arriving training data"
    val query = EventStream.dedupNearStream(docs, "doc_id", "text")
      .writeStream.format("memory").queryName("neardup_out")
      .outputMode("append").start()
    try {
      input.addData((1L, ts(1, 5), base), (2L, ts(1, 10), fresh2))
      query.processAllAvailable()
      // Micro-batch 2: an exact redelivery under a NEW id, a near-dup of
      // doc 1, and a fresh document — the cross-batch cases.
      input.addData((3L, ts(1, 20), base), (4L, ts(1, 25), nearDup),
        (5L, ts(1, 30), fresh3))
      query.processAllAvailable()
      input.addData((99L, ts(23), "flush flush flush")) // close the window
      query.processAllAvailable()
      val kept = spark.table("neardup_out")
        .filter(col("window_start") === ts(1))
        .collect().map(_.getLong(1)).toSet
      assert(Set(1L, 2L, 5L).subsetOf(kept), s"fresh docs must survive: $kept")
      assert(!kept.contains(3L), s"exact duplicate under a new id must drop: $kept")
      assert(!kept.contains(4L), s"near-duplicate (changed one token) must drop: $kept")
    } finally query.stop()
  }

  test("streaming chunk dedup: repeated chunks drop across batches, survivors keep positions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val docs = input.toDF().toDF("doc_id", "ts", "text")
    val query = EventStream.dedupChunkStream(docs, "doc_id", "text", chunkTokens = 2)
      .writeStream.format("memory").queryName("chunkdedup_out")
      .outputMode("append").start()
    try {
      input.addData((1L, ts(1, 5), "a b c d")) // chunks: "a b", "c d"
      query.processAllAvailable()
      // Batch 2: doc 2 repeats doc 1's first chunk (cross-batch drop)
      // and adds a fresh one; doc 3 repeats a chunk within itself.
      input.addData((2L, ts(1, 10), "a b x y"), (3L, ts(1, 15), "p q p q"))
      query.processAllAvailable()
      val out = spark.table("chunkdedup_out")
        .collect().map(r => (r.getLong(1), r.getInt(2), r.getString(3))).toSet
      assert(out == Set((1L, 0, "a b"), (1L, 1, "c d"),
        (2L, 1, "x y"), (3L, 0, "p q")),
        s"survivor stream mismatch: $out")
    } finally query.stop()
  }

  test("streaming funnel: cross-batch chain converts once; order and window enforced") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStream.FunnelEvent]
    val query = EventStream.funnelStream(input.toDS(),
        Seq("view", "click", "purchase"), withinSec = 600L)
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode("append").start()
    try {
      // Batch 1: user 1 views+clicks; user 2 purchases FIRST (no anchor
      // progress beyond its view); user 3 views.
      input.addData(
        EventStream.FunnelEvent(1L, ts(1, 0), "view"),
        EventStream.FunnelEvent(1L, ts(1, 2), "click"),
        EventStream.FunnelEvent(2L, ts(1, 0), "purchase"),
        EventStream.FunnelEvent(2L, ts(1, 1), "view"),
        EventStream.FunnelEvent(3L, ts(1, 0), "view"))
      query.processAllAvailable()
      // Batch 2: user 1 completes IN window; user 3 completes OUT of
      // window (view@0 -> purchase@55 > 600 s); user 2 clicks (still no
      // purchase AFTER the click).
      input.addData(
        EventStream.FunnelEvent(1L, ts(1, 5), "purchase"),
        EventStream.FunnelEvent(3L, ts(1, 20), "click"),
        EventStream.FunnelEvent(3L, ts(1, 55), "purchase"),
        EventStream.FunnelEvent(2L, ts(1, 30), "click"))
      query.processAllAvailable()
      val out = spark.table("funnel_out").collect()
        .map(r => (r.getLong(0), r.getLong(3)))
      assert(out.toSeq == Seq((1L, 300L)),
        s"only user 1 converts (user 3 outside window, user 2 incomplete): ${out.toSeq}")
      // A second purchase must NOT re-emit (done chains stay done).
      input.addData(EventStream.FunnelEvent(1L, ts(1, 7), "purchase"))
      query.processAllAvailable()
      assert(spark.table("funnel_out").count() == 1)
    } finally query.stop()
  }

  test("streaming curation gate: PII scrubbed, junk dropped, batch-identical") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val docs = input.toDF().toDF("doc_id", "ts", "text")
    val good = "the quick brown fox jumps over the lazy dog near a mossy " +
      "bridge every morning for fun and reach me at jane@corp.example.com today"
    val junk = "!!! ??? ### $$$ %%% &&& *** ((( ))) @@@ ^^^ ~~~ ||| +++ ==="
    val query = EventStream.curateStream(docs, "text")
      .select("doc_id", "redacted", "quality")
      .writeStream.format("memory").queryName("curate_out")
      .outputMode("append").start()
    try {
      input.addData((1L, ts(1, 5), good), (2L, ts(1, 10), junk))
      query.processAllAvailable()
      val rows = spark.table("curate_out").collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
      assert(rows.keySet == Set(1L), s"junk doc must be gated out: $rows")
      assert(rows(1L)._1.contains("<EMAIL>") && !rows(1L)._1.contains("@corp"),
        s"streamed text must be redacted: ${rows(1L)._1}")
      // Batch equivalence: the SAME operator call on a batch frame.
      val batch = EventStream.curateStream(
          Seq((1L, ts(1, 5), good), (2L, ts(1, 10), junk))
            .toDF("doc_id", "ts", "text"), "text")
        .select("doc_id", "redacted", "quality").collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
      assert(batch == rows, "stream and batch curation must agree")
    } finally query.stop()
  }

  test("streaming dedup: redelivered ids emit once; state is watermark-bounded") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val events = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val query = EventStream.dedupStream(events, watermark = "2 hours")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      // In-batch duplicate (id 2) and a clean id 1.
      input.addData((1L, ts(1, 10), 10L, "click", 1.0),
        (2L, ts(1, 20), 11L, "view", 2.0), (2L, ts(1, 20), 11L, "view", 2.0))
      query.processAllAvailable()
      // Cross-batch redelivery of ids 1 and 2 within the watermark + new 3.
      input.addData((1L, ts(1, 10), 10L, "click", 1.0),
        (2L, ts(1, 20), 11L, "view", 2.0), (3L, ts(1, 50), 12L, "click", 3.0))
      query.processAllAvailable()
      val ids = spark.table("dedup_out").select("event_id")
        .collect().map(_.getLong(0)).toSeq.sorted
      assert(ids == Seq(1L, 2L, 3L), s"duplicates leaked: $ids")
      // Advance event time far past the watermark: fingerprints for the
      // 01:xx ids are dropped from state (THE bound), so a very late
      // redelivery of id 1 emits again — the documented trade of bounded
      // state, proving expiry actually happens.
      input.addData((4L, ts(23), 13L, "view", 1.0))
      query.processAllAvailable()
      input.addData((1L, ts(23, 10), 10L, "click", 1.0))
      query.processAllAvailable()
      val n1 = spark.table("dedup_out").filter(col("event_id") === 1L).count()
      assert(n1 == 2L, s"expired fingerprint should re-admit id 1, saw $n1 rows")
    } finally query.stop()
  }

  test("kafka-shaped JSON ingest parses into the events schema") {
    import spark.implicits._
    val raw = Seq(
      """{"event_id":1,"ts":"2024-01-01T05:00:00Z","user_id":7,"event_type":"click","value":2.5}""")
      .toDF("value")
    val parsed = EventStream.parseEvents(raw).collect().head
    assert(parsed.getAs[Long]("event_id") == 1L)
    assert(parsed.getAs[Long]("user_id") == 7L)
    assert(parsed.getAs[String]("event_type") == "click")
    assert(parsed.getAs[Double]("value") == 2.5)
  }

  test("socket transport drives the JSON ingest pipeline (broker analogue)") {
    // No Kafka broker exists in this environment; a TCP socket source is
    // the closest real NETWORK transport — the stream arrives over a wire,
    // not from an in-process queue, exercising the same readStream →
    // parseEvents → sink path production points at format("kafka").
    val server = new java.net.ServerSocket(0, 1,
      java.net.InetAddress.getLoopbackAddress)
    val lines = Seq(
      """{"event_id":1,"ts":"2024-01-01T01:10:00Z","user_id":10,"event_type":"click","value":1.5}""",
      """{"event_id":2,"ts":"2024-01-01T01:20:00Z","user_id":11,"event_type":"view","value":2.0}""",
      """{"event_id":3,"ts":"2024-01-01T02:05:00Z","user_id":10,"event_type":"click","value":0.5}""")
    @volatile var sock: java.net.Socket = null
    val writer = new Thread(() => {
      sock = server.accept()
      val out = new java.io.PrintWriter(sock.getOutputStream, true)
      lines.foreach(out.println)
      out.flush()
    })
    writer.setDaemon(true)
    writer.start()
    // Use the exact bound address: "localhost" may resolve to a different
    // loopback family (::1 vs 127.0.0.1) than getLoopbackAddress bound.
    val raw = spark.readStream.format("socket")
      .option("host", server.getInetAddress.getHostAddress)
      .option("port", server.getLocalPort)
      .load()
    val query = EventStream.parseEvents(raw)
      .writeStream.format("memory").queryName("socket_out")
      .outputMode("append").start()
    try {
      // The socket reader buffers asynchronously — poll to the row count.
      val deadline = System.currentTimeMillis() + 30000
      var n = 0L
      while (n < lines.size && System.currentTimeMillis() < deadline) {
        query.processAllAvailable()
        n = spark.table("socket_out").count()
        if (n < lines.size) Thread.sleep(100)
      }
      val got = spark.table("socket_out")
        .collect().map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("user_id"),
          r.getAs[String]("event_type"), r.getAs[Double]("value"))).toSet
      assert(got == Set((1L, 10L, "click", 1.5), (2L, 11L, "view", 2.0),
        (3L, 10L, "click", 0.5)), s"socket ingest mismatch: $got")
    } finally {
      query.stop()
      if (sock != null) sock.close()
      server.close()
    }
  }

  test("sessionization: gap closes sessions, stats accumulate, state times out") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.EventStream.SessionEvent
    val input = MemoryStream[SessionEvent]
    val query = EventStream.sessionize(input.toDS(), gapSec = 600)
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      // user 1: two events 5 min apart (one session), then 40 min gap →
      // a second session; user 2: single event.
      input.addData(
        SessionEvent(1L, ts(1, 0), 2.0), SessionEvent(1L, ts(1, 5), 3.0),
        SessionEvent(2L, ts(1, 0), 7.0))
      query.processAllAvailable()
      input.addData(SessionEvent(1L, ts(1, 45), 1.0))
      query.processAllAvailable()
      input.addData(SessionEvent(3L, ts(9, 0), 1.0)) // advance watermark, time out all
      query.processAllAvailable()
      input.addData(SessionEvent(3L, ts(23, 0), 1.0)) // flush timeouts
      query.processAllAvailable()
      val out = spark.table("sess_out")
        .select("user_id", "n_events", "total_value", "duration_sec")
        .collect().map(_.toSeq).toSet
      assert(out.contains(Seq(1L, 2, 5.0, 300L)), s"first session of user 1: $out")
      assert(out.contains(Seq(1L, 1, 1.0, 0L)), s"second session of user 1: $out")
      assert(out.contains(Seq(2L, 1, 7.0, 0L)), s"user 2 session: $out")
    } finally query.stop()
  }

  test("sessionization: late within-watermark event extends a session backward, not its window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.EventStream.SessionEvent
    val input = MemoryStream[SessionEvent]
    val query = EventStream.sessionize(input.toDS(), gapSec = 600)
      .writeStream.format("memory").queryName("sess_late_out")
      .outputMode("append").start()
    try {
      input.addData(SessionEvent(1L, ts(1, 10), 2.0))
      query.processAllAvailable()
      // Batch 2 delivers an EARLIER (late, within the 2h watermark) event
      // within the gap: lastSeen must stay at 01:10 (not move back to
      // 01:05, which would re-arm the timeout before the real last
      // activity) and start must move to 01:05 — duration 300s, never
      // negative.
      input.addData(SessionEvent(1L, ts(1, 5), 3.0))
      query.processAllAvailable()
      input.addData(SessionEvent(9L, ts(9, 0), 1.0)) // advance watermark
      query.processAllAvailable()
      input.addData(SessionEvent(9L, ts(23, 0), 1.0)) // flush timeouts
      query.processAllAvailable()
      val out = spark.table("sess_late_out")
        .filter(col("user_id") === 1L)
        .select("n_events", "total_value", "duration_sec")
        .collect().map(_.toSeq).toSet
      assert(out == Set(Seq(2, 5.0, 300L)),
        s"late-event session wrong (negative duration = backward window): $out")
    } finally query.stop()
  }

  test("a real continuous source (rate) drives the full ingest pipeline") {
    // No Kafka broker in this environment; the rate source is a genuine
    // continuous streaming source (micro-batched, offset-tracked like
    // Kafka). Shape its rows into the Kafka wire format (a JSON `value`
    // column) and run the SAME parse → window pipeline.
    val raw = spark.readStream.format("rate")
      .option("rowsPerSecond", "500").load()
      .select(to_json(struct(
        col("value").as("event_id"),
        col("timestamp").as("ts"),
        (col("value") % 7).as("user_id"),
        concat(lit("type"), (col("value") % 3)).as("event_type"),
        (col("value") % 100).cast("double").as("value"))).as("value"))
    val parsed = EventStream.parseEvents(raw)
    val query = parsed.groupBy("event_type")
      .agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("rate_out")
      .outputMode("complete").start()
    try {
      val deadline = System.currentTimeMillis() + 30000
      var rows = 0L
      while (rows == 0 && System.currentTimeMillis() < deadline) {
        query.processAllAvailable()
        rows = spark.table("rate_out").agg(sum("n")).collect()
          .headOption.flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Long])).getOrElse(0L)
        if (rows == 0) Thread.sleep(500)
      }
      assert(rows > 0, "rate-source pipeline produced no rows within 30s")
      val types = spark.table("rate_out").select("event_type")
        .collect().map(_.getString(0)).toSet
      assert(types.subsetOf(Set("type0", "type1", "type2")))
    } finally query.stop()
  }

  test("streaming ingest appends to a managed table (the StreamInsert analogue)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // readStream → parse → writeStream.toTable: the reference's Kafka
    // StreamInsert appends rows to a catalog table which queries then
    // scan (mapd-core/Import/Importer.h:757-791).
    TempDirs.withTempDir("graft_stream_t") { tmp =>
      val loc = tmp.toString
      spark.sql("DROP TABLE IF EXISTS graft_stream_events")
      val input = MemoryStream[String]
      val parsed = EventStream.parseEvents(input.toDF().toDF("value"))
      TempDirs.withTempDir("graft_stream_ck") { ckDir =>
        val ckpt = ckDir.toString
        val query = parsed.writeStream
          .option("checkpointLocation", ckpt)
          .option("path", s"$loc/t")
          .toTable("graft_stream_events")
        try {
          def json(id: Long, h: Int, typ: String) =
            s"""{"event_id":$id,"ts":"2024-01-01 0$h:00:00","user_id":${id % 5},"event_type":"$typ","value":1.5}"""
          input.addData(json(1, 1, "click"), json(2, 2, "view"))
          query.processAllAvailable()
          assert(spark.table("graft_stream_events").count() == 2)
          input.addData(json(3, 3, "click"))
          query.processAllAvailable()
          // appends accumulate; the table is queryable by the batch engine
          val n = spark.sql(
            "SELECT count(*) FROM graft_stream_events WHERE event_type = 'click'")
            .head().getLong(0)
          assert(n == 2)
        } finally query.stop()
      }
    }
  }

  test("stream-static join: streaming events enrich against a broadcast dimension") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // The standard enrichment shape: an unbounded stream joined to a
    // small static dimension — Spark broadcasts the static side, no
    // stream state needed.
    val dim = Seq((10L, "gold"), (11L, "silver")).toDF("user_id", "tier")
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val events = input.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val joined = events.join(dim, Seq("user_id"), "left")
      .groupBy("tier").agg(count(lit(1)).as("n"))
    val query = joined.writeStream.format("memory").queryName("enrich_out")
      .outputMode("complete").start()
    try {
      input.addData(
        (1L, ts(1), 10L, "click", 1.0), (2L, ts(2), 11L, "view", 2.0),
        (3L, ts(3), 10L, "click", 3.0), (4L, ts(4), 99L, "view", 4.0))
      query.processAllAvailable()
      val out = spark.table("enrich_out").collect()
        .map(r => Option(r.getString(0)).getOrElse("none") -> r.getLong(1)).toMap
      assert(out == Map("gold" -> 2L, "silver" -> 1L, "none" -> 1L))
    } finally query.stop()
  }

  test("stream-stream attribution join matches within-window pairs, drops the rest") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val impIn = MemoryStream[(Long, Timestamp, Long)]
    val clkIn = MemoryStream[(Long, Timestamp, Long)]
    val out = EventStream.attributionJoin(
      impIn.toDF().toDF("user_id", "imp_ts", "imp_id"),
      clkIn.toDF().toDF("user_id", "click_ts", "click_id"),
      attributionSec = 1800)
    val query = out.select("imp_id", "click_id")
      .writeStream.format("memory").queryName("attr_out")
      .outputMode("append").start()
    try {
      impIn.addData(
        (10L, ts(1, 0), 100L),  // clicked 20 min later → attributed
        (10L, ts(2, 0), 101L),  // clicked 40 min later → outside 30-min window
        (11L, ts(1, 0), 102L))  // other user's click must not match
      clkIn.addData(
        (10L, ts(1, 20), 200L),
        (10L, ts(2, 40), 201L),
        (12L, ts(1, 10), 202L)) // user with no impressions
      query.processAllAvailable()
      // Advance both watermarks so all joinable state resolves.
      impIn.addData((99L, ts(23), 900L))
      clkIn.addData((99L, ts(23, 30), 901L))
      query.processAllAvailable()
      val got = spark.table("attr_out")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((100L, 200L), (900L, 901L)),
        s"attribution pairs wrong: $got")
    } finally query.stop()
  }

  test("streaming user totals agree with batch on the static events table") {
    val events = Tables.load(spark, "/root/testdata/sf0.001", "events")
    val batch = EventStream.userTotals(events)
      .orderBy("user_id").collect().map(_.toSeq)
    assert(batch.nonEmpty)
    // sum of per-user counts must equal total events (sanity of grouping)
    assert(batch.map(_(1).asInstanceOf[Long]).sum == events.count())
  }

  test("restart from checkpoint is exactly-once (stop mid-stream, resume, no dup/loss)") {
    import spark.implicits._
    // The production failure drill: a stateful windowed aggregation with
    // a file sink is STOPPED between micro-batches and a NEW query is
    // started from the same checkpoint over the same file source. The
    // sink must end up with exactly the batch answer over all input —
    // no window duplicated (sink idempotence via the commit log), none
    // lost (state recovered from the checkpoint, source offsets resume).
    TempDirs.withTempDir("graft_restart") { tmp =>
      val base = tmp.toString
      val (in, sink, ckpt) = (s"$base/in", s"$base/sink", s"$base/ckpt")
      def rows(ids: Range, h0: Int): Seq[(Long, Timestamp, Long, String, Double)] =
        ids.map(i => (i.toLong, ts(h0 + (i % 3)), i.toLong % 5, "click", 1.0))
      def writeIn(ids: Range, h0: Int): Unit =
        rows(ids, h0).toDF("event_id", "ts", "user_id", "event_type", "value")
          .coalesce(1).write.mode("append").parquet(in)
      writeIn(0 until 30, 1)
      val schema = spark.read.parquet(in).schema
      def startQuery() = EventStream
        .windowedStats(spark.readStream.schema(schema).parquet(in))
        .writeStream.outputMode("append").format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt).start()
      val q1 = startQuery()
      try q1.processAllAvailable() finally q1.stop()
      // second tranche, plus a far-future sentinel that pushes the
      // watermark past every real window so append mode emits them all
      writeIn(30 until 60, 4)
      writeIn(9990 until 9991, 20)
      val q2 = startQuery()
      try q2.processAllAvailable() finally q2.stop()
      val got = spark.read.parquet(sink)
        .filter(col("window_start") < ts(20))
        .orderBy("window_start", "event_type")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
      val want = EventStream.windowedStatsBatch(
          (rows(0 until 30, 1) ++ rows(30 until 60, 4))
            .toDF("event_id", "ts", "user_id", "event_type", "value"))
        .orderBy("window_start", "event_type")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
      assert(got.toSeq === want.toSeq,
        s"restart broke exactly-once: got=${got.toSeq} want=${want.toSeq}")
    }
  }

  test("applyCdcStream: stale later-batch changes never override newer state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Queries.tempDir("graft-cdc-spec")
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val changes = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = EventStream.applyCdcStream(
        changes, "user_id", Seq("ts", "event_id"), s"$dir/state")
      .option("checkpointLocation", s"$dir/chk")
      .start()
    def state(): Map[Long, (Long, String)] =
      EventStream.currentCdcState(spark, s"$dir/state").get
        .select("user_id", "event_id", "event_type")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    try {
      input.addData((1L, ts(10), 1L, "a", 1.0), (2L, ts(5), 2L, "b", 1.0))
      q.processAllAvailable()
      assert(state() == Map(1L -> (1L, "a"), 2L -> (2L, "b")))
      // Batch 2: a STALE change for user 1 (earlier ts — must NOT win),
      // a newer change for user 2, a same-ts higher-id tie for user 1
      // (the event_id tiebreaker must win), and a brand-new user 3.
      input.addData(
        (3L, ts(8), 1L, "stale", 1.0), (4L, ts(9), 2L, "newer", 1.0),
        (5L, ts(10), 1L, "tie", 1.0), (6L, ts(1), 3L, "fresh", 1.0))
      q.processAllAvailable()
      assert(state() == Map(
        1L -> (5L, "tie"), 2L -> (4L, "newer"), 3L -> (6L, "fresh")))
    } finally q.stop()
    // Exactly one committed version remains (superseded ones retired).
    val versions = Option(new java.io.File(s"$dir/state").listFiles()).toSeq
      .flatten.filter(_.getName.startsWith("v="))
    assert(versions.size == 1, s"stale versions not retired: $versions")
  }
}
