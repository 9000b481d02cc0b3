package graft

import graft.streaming.EventStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import Queries.{Entry, dfq}

/** Differential entries for the Structured Streaming surface: each runs a
  * REAL streaming query (file source over the driver's parquet →
  * [[EventStream]] transform → sink, drained with processAllAvailable)
  * and returns a result whose semantics equal a batch computation DuckDB
  * can re-derive — the streaming analogue of the reference's
  * engine-vs-oracle comparison (mapd-core/Tests/ExecuteTest.cpp:132-168;
  * its streaming surface is Kafka ingest into ordinary tables,
  * Import/Importer.h:568-620, so "stream in → same answers as batch" IS
  * the reference contract).
  *
  * Sink choice is deliberate per entry: the stateless gate writes a real
  * parquet FILE sink with a checkpoint (the production append path,
  * executor-side, any scale); the aggregation/dedup entries use the
  * memory sink as the CHECK surface — their outputs are
  * contractually small-to-moderate here, while production would point
  * the same lambdas at a file/kafka sink. Bounded state throughout:
  * complete-mode windows are O(types × hours-of-data) and the dedup
  * state is watermark-evicted.
  */
object StreamQueries {

  /** Child session tuned for THIS entry scale's stream volume, one
    * registry child (`graft.engine.LocalSession.child`) per partition
    * count. A streaming query's state-store instance count is fixed
    * by `spark.sql.shuffle.partitions` at first start — every stateful
    * operator runs one store per partition (a stream-stream join runs
    * FOUR), each paying per-batch provider setup + a checkpoint-delta
    * file commit. At the bench's 32 partitions the heavy entries spent
    * most of their 1-3.8 s/batch on that fan-out, not on data (r16
    * verdict #3); 8 partitions carry the same micro-batches with a
    * quarter of the store commits and identical results — partitioning
    * is internal to the operator, and every watermark/timeout semantic
    * is unchanged. At 100 TB the SAME dial goes the other way: size
    * partitions to throughput (state shards then spread across
    * executors), exactly like the JOB corpus's interactive profile is
    * gated on volume. Transforms, sinks, and the static join sides all
    * ride the child (entries are wrapped below), so no frame ever mixes
    * sessions.
    */
  private def streamSession(s: SparkSession, partitions: Int): SparkSession =
    graft.engine.LocalSession.child(s, ("stream", partitions)) {
      _.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    }

  /** The measured state-store dial, now CODE (SCALE.md r18 measured it;
    * r19 re-measured in clean isolated JVMs and encodes it the way
    * `JobCorpus.useInteractiveProfile` encodes the JOB profile dial).
    * Only the entry that WINS at 32 on both cold and warm laps flips:
    * q_stream_dedup (per-event dedup state, the largest store) measured
    * 41.6/59.9 s at 8 partitions vs 34.1/53.5 at 32 on the ×1000 corpus.
    * q_stream_topk is a measured WASH at ×1000 (26.7/37.2 at 8 vs
    * 23.5/41.6 at 32 — cold −12%, warm +12%) and stays on the default
    * per the negative-result discipline; light fixed-state entries LOSE
    * at 32 at every measured volume (per-store commit fan-out with no
    * state bottleneck to spread). The chooser requires BOTH signals:
    * a winning-heavy entry AND volume at the measured boundary.
    */
  private[graft] val HeavyStateEntries = Set("q_stream_dedup")

  /** Entries that MEASURE linear-state (state rows scale with input —
    * the dedup-shaped class; see StreamStateClassSpec) but whose dial
    * decision is stay-on-default, each with a recorded two-sided lap:
    *   - q_stream_topk: cold/warm WASH at ×1000 (26.7/37.2 s at 8 vs
    *     23.5/41.6 at 32, r19) — negative result recorded rather than a
    *     split verdict shipped.
    *   - q_stream_chunk_dedup: 8 WINS both laps on the ×1000 corpus
    *     (57 MB documents — its source table, not events): 8.37/6.37 s
    *     at 8 vs 9.19/7.06 at 32 (r20, clean per-entry JVMs). Per-chunk
    *     state (~7 rows/doc) is linear but the store is small relative
    *     to the per-batch commit fan-out at this volume.
    * Placeholder membership is NOT allowed: every name needs a measured
    * two-sided lap in SCALE.md before it is added.
    */
  private[graft] val LinearStateDecided: Set[String] =
    Set("q_stream_topk", "q_stream_chunk_dedup")

  /** Flip boundary on the events source size. Measured endpoints: 8
    * wins heavy entries at the bench volume (~2 MB events); 32 wins at
    * ×1000 (~196 MB). The boundary sits just under the measured winning
    * point rather than extrapolated toward the unmeasured middle.
    */
  private[graft] val HeavyStateVolumeBytes: Long = 128L << 20

  /** Pure chooser, spec-pinned by StreamDialSpec. */
  private[graft] def streamPartitionsFor(name: String, eventsBytes: Long): Int =
    if (HeavyStateEntries(name) && eventsBytes >= HeavyStateVolumeBytes) 32 else 8

  private def eventsBytes(dir: String): Long = {
    // Recursive walk: ScaleGen corpora are directories of part files,
    // and a future partitioned layout nests them one level deeper — a
    // top-level-only sum would silently report 0 and route heavy-state
    // entries to 8 partitions at ANY volume (a silent chooser bypass).
    def walk(f: java.io.File): Long =
      if (f.isFile) f.length
      else Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
    val f = new java.io.File(s"$dir/events.parquet")
    val n = walk(f)
    if (n == 0L && new java.io.File(dir).exists())
      System.err.println(s"[stream] WARNING: events volume computed as 0 " +
        s"for existing corpus dir $dir — partition chooser will take the " +
        s"8-partition default for every entry")
    n
  }

  private[graft] def streamPartitions(name: String, dir: String): Int =
    streamPartitionsFor(name, eventsBytes(dir))

  /** Untimed per-JVM/per-SESSION streaming machinery warmup for Bench:
    * one micro-stream (2 rows, watermark + windowed agg + memory sink)
    * on the SAME tuned child session the timed entries run on — since
    * r17 the entries live on `streamSession(s)`, so warming the parent
    * would leave the child's session-scoped init (SessionState,
    * StreamingQueryManager, conf resolution) inside the first timed
    * entry's cold lap.
    */
  def warmMachinery(s: SparkSession, dir: String): Unit = {
    // Warm EVERY child the entries will actually route to on THIS
    // corpus (the routing is volume-gated: past HeavyStateVolumeBytes
    // q_stream_dedup rides a 32-partition child — warming only the
    // 8-partition child would leave that child's session init inside
    // exactly the cold lap the dial encodes).
    val parts = rawEntries.map(e => streamPartitions(e.name, dir)).distinct.sorted
    parts.foreach { p =>
      val c = streamSession(s, p)
      val d = Queries.tempDir(s"graft-stream-warm-$p")
      c.range(2).selectExpr("timestamp_seconds(id) AS ts", "id AS v")
        .write.mode("overwrite").parquet(s"$d/in")
      val schema = c.read.parquet(s"$d/in").schema
      val q = c.readStream.schema(schema).parquet(s"$d/in")
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"))
        .count()
        .writeStream.outputMode("complete").format("memory")
        .queryName("graft_stream_warmup").trigger(availableNow).start()
      // Same loud bound as drainTracked: a warmup stream that misses
      // AvailableNow self-termination is a defect in the SAME machinery
      // the timed entries rely on — masking it here would surface later
      // as an unexplained timed-entry hang.
      try require(q.awaitTermination(600000L),
        "warmup stream did not terminate within 10 min under AvailableNow")
      finally q.stop()
    }
  }

  /** Streaming file source over one driver table, with the SAME schema
    * normalization as the batch loader. The on-disk schema comes from one
    * batch footer read (file sources require a user-supplied schema).
    */
  private def fileStream(s: SparkSession, dir: String, table: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/$table.parquet"
    val schema = s.read.parquet(path).schema
    // The file SOURCE requires a directory. Driver tables are single
    // FILES, so stream the parent dir with a glob pinned to the one
    // file; a table that is a real directory streams directly.
    val f = new java.io.File(path)
    val raw =
      if (f.isDirectory) s.readStream.schema(schema).parquet(path)
      else s.readStream.schema(schema)
        .option("pathGlobFilter", f.getName).parquet(f.getParent)
    if (table == "events") Tables.normalizeEvents(raw) else raw
  }

  /** Final state-store footprint of a drained stream: total state rows
    * and bytes at the last progress, plus total input rows (summed over
    * recentProgress — bounded at ~100 progresses, plenty for an
    * AvailableNow drain). This is what makes HeavyStateEntries a
    * MEASURED class rather than a name set (r19 verdict #2): an entry
    * whose state rows scale linearly with input is dial-relevant; one
    * whose state is O(windows)/O(keys) is not. StreamStateClassSpec
    * gates membership on these numbers.
    */
  final case class StateFootprint(stateRows: Long, stateBytes: Long,
      inputRows: Long) {
    def linearState: Boolean =
      inputRows > 0 && stateRows.toDouble / inputRows >= LinearStateRatio
  }

  /** Boundary between linear-state (one state row per input event —
    * dedup-shaped; measured ratio 1.0 for q_stream_dedup) and
    * bounded-state entries (windows/users/types: measured ratios at
    * sf0.001 all < 0.12). 0.5 sits an order of magnitude above the
    * bounded cluster and safely under the linear one.
    */
  private[graft] val LinearStateRatio = 0.5

  /** Drain a started streaming query, recording its per-batch
    * `triggerExecution` durations and its [[StateFootprint]] under `key`
    * into the open [[Telemetry]] scope, and always stop it. Bench emits
    * count/median/max of the durations, so a contended driver number is
    * decomposable into "every batch slowed" vs "one batch stalled" from
    * the bench file alone (r12: streaming entries ran ~2x under driver
    * load with no per-batch signal). Every entry starts its query with
    * `Trigger.AvailableNow` (r17 verdict #7): the stream processes all
    * input present at start — INCLUDING the final watermark-advancing
    * no-data batch, so event-time timeouts (sessionize) and eviction
    * emissions (outer attribution, append windows) still fire — then
    * terminates itself. That replaces `processAllAvailable`'s
    * offset-polling handshake (await commit → re-check sources → extra
    * empty trigger cycles) with the engine's own termination, which is
    * the cheaper end-of-input protocol at bench scale and the CORRECT
    * production shape for file-backed ingest (incremental catch-up runs
    * of an at-rest corpus). Timing semantics the entries rely on are
    * event-time only, so no multi-batch wall-clock behavior is lost.
    */
  private def drainTracked(
      q: org.apache.spark.sql.streaming.StreamingQuery, key: String): Unit =
    try {
      // AvailableNow self-terminates; the bound is a hang backstop, not
      // a pacing device. A stream that misses it is a defect, loudly.
      require(q.awaitTermination(600000L),
        s"stream $key did not terminate within 10 min under AvailableNow")
      val progresses = q.recentProgress.toSeq
      val durs = progresses.flatMap(p =>
        Option(p.durationMs.get("triggerExecution")).map(_.toLong))
      val foot = StateFootprint(
        stateRows = progresses.lastOption
          .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L),
        stateBytes = progresses.lastOption
          .map(_.stateOperators.map(_.memoryUsedBytes).sum).getOrElse(0L),
        inputRows = progresses.map(_.numInputRows).sum)
      Telemetry.record(r => r.copy(
        batchDurations = r.batchDurations + (key -> durs),
        stateFootprints = r.stateFootprints + (key -> foot)))
    } finally q.stop()

  private def availableNow =
    org.apache.spark.sql.streaming.Trigger.AvailableNow()

  /** Run `df` into a sink to completion, return the drained rows.
    * Fixed query names are safe across repeated entry runs — active-query
    * name uniqueness only applies to RUNNING queries, and the sink view
    * is re-registered per start.
    *
    * Default sink: MEMORY — every output row ships to the driver as task
    * results, which is the O(n) harness artifact the ×100/×1000 driver-
    * ingress audits flagged (q_stream_dedup ~1.0 GB of task results and
    * a 42 GB heap high-water at ×1000). `GRAFT_STREAM_SINK=file` (r22,
    * r20 verdict #2) reroutes APPEND-mode drains to a real parquet FILE
    * sink — executors write, the driver sees only commit metadata — and
    * reads the committed files back, so the entry's returned relation is
    * IDENTICAL row-for-row and the declared results never change.
    * COMPLETE-mode drains (global aggregations: windowed/topk/enrich/
    * user_totals/psi) stay on the memory sink under the knob: Spark's
    * file sink is append-only BY DESIGN (complete mode would have to
    * rewrite history per batch); a production deployment drains those
    * via foreachBatch into an overwritable/merge table. That structural
    * split — not a missing measurement — is the reason the file-sink
    * numbers below cover the append entries only.
    */
  private def drainToMemory(df: DataFrame, name: String, mode: String): DataFrame = {
    val useFile = mode == "append" &&
      sys.env.get("GRAFT_STREAM_SINK").contains("file")
    if (useFile) {
      val root = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir", "/tmp"), "graft_stream_sink")
      sweepDeadSinks(root)
      // Keyed by pid too: two JVMs draining the same entry never delete
      // each other's live sink.
      val base = root.resolve(s"$name-${ProcessHandle.current.pid}")
      // Fresh dir per drain: the file sink's _spark_metadata log would
      // otherwise re-serve earlier laps' batches to the read-back.
      deleteTree(base)
      val data = base.resolve("data")
      val q = df.writeStream.outputMode(mode).format("parquet")
        .option("path", data.toString)
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .queryName(name).trigger(availableNow).start()
      drainTracked(q, name)
      // Explicit schema: an all-filtered stream commits zero files and
      // inference would fail; with the schema pinned the read-back of an
      // empty sink is the empty relation, exactly like the memory table.
      java.nio.file.Files.createDirectories(data): Unit
      df.sparkSession.read.schema(df.schema).parquet(data.toString)
    } else {
      val q = df.writeStream.outputMode(mode).format("memory")
        .queryName(name).trigger(availableNow).start()
      drainTracked(q, name)
      df.sparkSession.table(name)
    }
  }

  private def deleteTree(root: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(root))
      scala.util.Using.resource(java.nio.file.Files.walk(root)) { paths =>
        import scala.jdk.CollectionConverters._
        paths.iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p): Unit)
      }

  /** Delete the `<name>-<pid>` sink dirs under `root` whose JVM has exited;
    * a failed delete (another JVM sweeping the same dir) is skipped.
    */
  private[graft] def sweepDeadSinks(root: java.nio.file.Path): Unit =
    if (java.nio.file.Files.isDirectory(root)) {
      import scala.jdk.CollectionConverters._
      val dirs = scala.util.Using.resource(java.nio.file.Files.list(root))(
        _.iterator().asScala.toList)
      dirs.foreach { d =>
        val n = d.getFileName.toString
        val pid = Some(n.lastIndexOf('-')).filter(_ > 0)
          .flatMap(i => n.substring(i + 1).toLongOption)
        if (pid.exists(ProcessHandle.of(_).isEmpty))
          try deleteTree(d) catch { case scala.util.control.NonFatal(_) => () }
      }
    }

  // Every streaming entry runs end-to-end on the tuned child session —
  // the (s, dir) lambdas below are written against plain `s` and wrapped
  // here, so source, transforms, static join sides, and sink all share
  // one session.
  val entries: Seq[Entry] = rawEntries.map(e =>
    e.copy(run = (s, dir) =>
      e.run(streamSession(s, streamPartitions(e.name, dir)), dir)))

  private def rawEntries: Seq[Entry] = Seq(
    // Watermarked tumbling-window stats over the event stream — the
    // windowedStats transform end-to-end. Complete output mode so every
    // window is emitted at drain time (append mode holds windows the
    // final watermark never closes); the result then equals the batch
    // hourly aggregation, which is exactly q_events_window's relation —
    // proving stream and batch agree on the same input.
    dfq("q_stream_windowed",
      "SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h, event_type, " +
        "count(*) AS n, round(sum(value), 2) AS sv FROM events GROUP BY 1, 2 ORDER BY 1, 2") {
      (s, dir) =>
        val agg = EventStream.windowedStats(fileStream(s, dir, "events"))
        drainToMemory(agg, "graft_stream_windowed", "complete")
          .select(col("window_start").cast("long").as("h"), col("event_type"),
            col("n"), col("sv"))
          .orderBy("h", "event_type")
    },

    // Streaming windowed TOP-K (heavy-hitters face): per-hour per-user
    // counts maintained by the windowed stream aggregate (state O(windows
    // × active users), watermark-evicted), ranked top-3 per window at the
    // drain — the standard responsibility split (the stream maintains
    // keyed counts; the sink ranks). Deterministic tie-break on user_id;
    // the batch oracle re-derives the identical ranking.
    dfq("q_stream_topk",
      "WITH c AS (SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h, user_id, " +
        "    count(*) AS n FROM events GROUP BY 1, 2), " +
        "r AS (SELECT h, user_id, n, row_number() OVER (PARTITION BY h ORDER BY n DESC, user_id) AS rk FROM c) " +
        "SELECT h, CAST(rk AS INT) AS rk, user_id, CAST(n AS BIGINT) AS n " +
        "FROM r WHERE rk <= 3 ORDER BY h, rk") { (s, dir) =>
      val counts = EventStream.windowedKeyCounts(
        fileStream(s, dir, "events"), "user_id")
      import org.apache.spark.sql.expressions.Window
      drainToMemory(counts, "graft_stream_topk", "complete")
        .select(col("window_start").cast("long").as("h"), col("user_id"), col("n"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("h")).orderBy(col("n").desc, col("user_id"))))
        .filter(col("rk") <= 3)
        .select(col("h"), col("rk"), col("user_id"), col("n"))
        .orderBy("h", "rk")
    },

    // Streaming exact dedup under redelivery: the same events file read
    // by TWO independent sources unioned (every row delivered twice —
    // the at-least-once transport shape), deduped by event_id within the
    // watermark. Output must be exactly the original table, which DuckDB
    // asserts directly.
    dfq("q_stream_dedup",
      // value passes through untouched on BOTH sides: same parquet bits,
      // no arithmetic, so no cross-engine rounding hazard.
      "SELECT event_id, event_type, value FROM events ORDER BY event_id") {
      (s, dir) =>
        val doubled = fileStream(s, dir, "events")
          .union(fileStream(s, dir, "events"))
        val deduped = EventStream.dedupStream(doubled, "event_id", "30 days")
        drainToMemory(deduped, "graft_stream_dedup", "append")
          .select(col("event_id"), col("event_type"), col("value"))
          .orderBy("event_id")
    },

    // Streaming sessionization (flatMapGroupsWithState, event-time
    // timeout) — the EMISSION RULE is part of the contract and the oracle
    // re-derives it: a session is emitted iff (a) a later event of the
    // same user closed it (any non-final session), or (b) the event-time
    // timeout collected it — final sessions whose lastSeen + gap fell
    // strictly behind the end-of-stream watermark (max event-time ms,
    // µs-truncated, minus the 2 h delay; Spark fires timeouts on
    // timeoutTimestamp < watermark). Gap arithmetic is at MILLISECOND
    // granularity on both sides (java.sql.Timestamp.getTime ↔ epoch_ms).
    dfq("q_stream_sessionize",
      "WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS t, value FROM events), " +
        "marked AS (SELECT user_id, event_id, t, value, " +
        "  CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > 1800000 THEN 1 ELSE 0 END AS new_s " +
        "  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)), " +
        "sess AS (SELECT user_id, t, value, sum(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id " +
        "  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM marked), " +
        "agg AS (SELECT user_id, sid, min(t) AS t0, max(t) AS t1, " +
        "    count(*) AS n_events, round(sum(value), 2) AS total_value FROM sess GROUP BY 1, 2), " +
        "wm AS (SELECT max(t) - 7200000 AS w FROM e) " +
        "SELECT user_id, t0 // 1000 AS start_s, CAST(n_events AS BIGINT) AS n_events, " +
        "  total_value, (t1 - t0) // 1000 AS duration_sec " +
        "FROM agg, wm " +
        "WHERE sid < (SELECT max(sid) FROM agg a2 WHERE a2.user_id = agg.user_id) " +
        "   OR t1 + 1800000 < wm.w " +
        "ORDER BY user_id, start_s") { (s, dir) =>
      import s.implicits._
      val ev = fileStream(s, dir, "events")
        .select(col("user_id"), col("ts"), col("value"))
        .as[EventStream.SessionEvent]
      val sessions = EventStream.sessionize(ev, gapSec = 1800)
      drainToMemory(sessions.toDF(), "graft_stream_sessionize", "append")
        .select(col("user_id"),
          unix_timestamp(col("session_start")).as("start_s"),
          col("n_events").cast("long").as("n_events"),
          round(col("total_value"), 2).as("total_value"),
          col("duration_sec"))
        .orderBy("user_id", "start_s")
    },

    // Streaming funnel conversions (flatMapGroupsWithState): the greedy
    // view→click→purchase chain per user, emitting ONLY completed
    // in-window conversions — emission happens on the completing EVENT
    // (never a timeout), so end-of-stream holds nothing back. The oracle
    // is the batch funnel's chained min-joins (exactly q_event_funnel's
    // relation) filtered to converted chains.
    dfq("q_stream_funnel",
      "WITH e AS (SELECT user_id, event_type, ts FROM events), " +
        "s1 AS (SELECT user_id, min(ts) AS t1 FROM e WHERE event_type='view' GROUP BY user_id), " +
        "s2 AS (SELECT s1.user_id AS u2, s1.t1, min(e.ts) AS t2 FROM s1 " +
        "  JOIN e ON e.user_id=s1.user_id AND e.event_type='click' AND e.ts > s1.t1 " +
        "  GROUP BY s1.user_id, s1.t1), " +
        "s3 AS (SELECT s2.u2 AS u3, s2.t1, min(e.ts) AS t3 FROM s2 " +
        "  JOIN e ON e.user_id=s2.u2 AND e.event_type='purchase' AND e.ts > s2.t2 " +
        "  GROUP BY s2.u2, s2.t1) " +
        "SELECT u3 AS user_id, CAST(floor(epoch(t1)) AS BIGINT) AS first_s, " +
        "  CAST(floor(epoch(t3)) AS BIGINT) AS last_s, " +
        "  CAST(floor(epoch(t3)) AS BIGINT) - CAST(floor(epoch(t1)) AS BIGINT) AS duration_sec " +
        "FROM s3 WHERE CAST(floor(epoch(t3)) AS BIGINT) - CAST(floor(epoch(t1)) AS BIGINT) <= 300000 " +
        "ORDER BY user_id") { (s, dir) =>
      import s.implicits._
      val ev = fileStream(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_type"))
        .as[EventStream.FunnelEvent]
      val conv = EventStream.funnelStream(
        ev, Seq("view", "click", "purchase"), withinSec = 300000L)
      drainToMemory(conv.toDF(), "graft_stream_funnel", "append")
        .select(col("user_id"),
          unix_timestamp(col("t_first")).as("first_s"),
          unix_timestamp(col("t_last")).as("last_s"),
          col("duration_sec"))
        .orderBy("user_id")
    },

    // Tight-window streaming funnel: withinSec = 1 day means most
    // completed chains fail the window (14 of 150 convert at sf0.01) —
    // the emission rule's REJECTION branch (durSec > withinSec on the
    // completing event ⇒ no row) is exercised against the oracle, which
    // the wide entry above cannot do alone. Same single-micro-batch
    // file-source arrival, so greedy anchoring matches the batch oracle.
    dfq("q_stream_funnel_tight",
      "WITH e AS (SELECT user_id, event_type, ts FROM events), " +
        "s1 AS (SELECT user_id, min(ts) AS t1 FROM e WHERE event_type='view' GROUP BY user_id), " +
        "s2 AS (SELECT s1.user_id AS u2, s1.t1, min(e.ts) AS t2 FROM s1 " +
        "  JOIN e ON e.user_id=s1.user_id AND e.event_type='click' AND e.ts > s1.t1 " +
        "  GROUP BY s1.user_id, s1.t1), " +
        "s3 AS (SELECT s2.u2 AS u3, s2.t1, min(e.ts) AS t3 FROM s2 " +
        "  JOIN e ON e.user_id=s2.u2 AND e.event_type='purchase' AND e.ts > s2.t2 " +
        "  GROUP BY s2.u2, s2.t1) " +
        "SELECT u3 AS user_id, CAST(floor(epoch(t1)) AS BIGINT) AS first_s, " +
        "  CAST(floor(epoch(t3)) AS BIGINT) AS last_s, " +
        "  CAST(floor(epoch(t3)) AS BIGINT) - CAST(floor(epoch(t1)) AS BIGINT) AS duration_sec " +
        "FROM s3 WHERE CAST(floor(epoch(t3)) AS BIGINT) - CAST(floor(epoch(t1)) AS BIGINT) <= 86400 " +
        "ORDER BY user_id") { (s, dir) =>
      import s.implicits._
      val ev = fileStream(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_type"))
        .as[EventStream.FunnelEvent]
      val conv = EventStream.funnelStream(
        ev, Seq("view", "click", "purchase"), withinSec = 86400L)
      drainToMemory(conv.toDF(), "graft_stream_funnel_tight", "append")
        .select(col("user_id"),
          unix_timestamp(col("t_first")).as("first_s"),
          unix_timestamp(col("t_last")).as("last_s"),
          col("duration_sec"))
        .orderBy("user_id")
    },

    // Streaming chunk-level dedup: every chunk of the document stream
    // claims its digest; exactly the FIRST claimant survives. WHICH
    // occurrence survives is partition-timing-dependent (not part of the
    // contract), so the entry compares the SET semantics, which are
    // exact: outer-joining the batch-derived corpus chunk set against
    // the survivor counts yields (chunk, 1) for every distinct corpus
    // chunk — a missed chunk shows 0, a double emission shows 2, either
    // hash-mismatches. DuckDB re-derives the corpus chunk set from
    // first principles (the q_chunk_dedup chunking twin).
    dfq("q_stream_chunk_dedup",
      "WITH toks AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t " +
        "  FROM documents), " +
        "ch AS (SELECT doc_id, i AS chunk_idx, " +
        "    array_to_string(t[CAST(i*8+1 AS INT):CAST((i+1)*8 AS INT)], ' ') AS chunk " +
        "  FROM toks, unnest(range(0, CAST(ceil(len(t)/8.0) AS INT))) AS r(i)) " +
        "SELECT chunk, CAST(1 AS BIGINT) AS n_emitted " +
        "FROM (SELECT DISTINCT chunk FROM ch) ORDER BY chunk") { (s, dir) =>
      val stream = fileStream(s, dir, "documents")
        // Synthetic event time (the driver's documents table is not
        // timestamped): deterministic per doc. Offset well past epoch 0 —
        // doc 0 at exactly epoch 0 ties the INITIAL watermark and its
        // rows are dropped as late (reproduced: its 4 chunks vanished).
        .withColumn("ts", timestamp_seconds(col("doc_id") + lit(1000000000L)))
      val survivors = EventStream.dedupChunkStream(
        stream, "doc_id", "text", "ts", chunkTokens = 8)
      val emitted = drainToMemory(survivors, "graft_stream_chunk_dedup", "append")
        .groupBy("chunk").agg(count(lit(1)).as("n"))
      val corpus = Tables.load(s, dir, "documents")
        .select(explode(graft.operators.TextDedup.chunkStrings(
          split(lower(col("text")), "\\s+"), 8)).as("chunk"))
        .distinct()
      corpus.join(emitted, Seq("chunk"), "left")
        .select(col("chunk"), coalesce(col("n"), lit(0L)).as("n_emitted"))
        .orderBy("chunk")
    },

    // Stream-static enrichment: the event stream joins the STATIC
    // customer dimension (broadcast — the 100 TB shape: the dim is read
    // once per micro-batch, never shuffled) and aggregates per segment.
    // Complete mode: segment cardinality is tiny and fixed, so the state
    // is O(segments) forever. DuckDB runs the same join relationally.
    dfq("q_stream_enrich",
      "SELECT c.c_mktsegment, count(*) AS n, round(sum(e.value), 2) AS sv " +
        "FROM events e JOIN customer c ON e.user_id = c.c_custkey " +
        "GROUP BY 1 ORDER BY 1") { (s, dir) =>
      val dim = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val enriched = fileStream(s, dir, "events")
        .join(broadcast(dim), col("user_id") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sv"))
      drainToMemory(enriched, "graft_stream_enrich", "complete")
        .orderBy("c_mktsegment")
    },

    // STREAM-STREAM attribution join: view events (impressions) from one
    // file source, purchase events (clicks) from another, joined on user
    // within the 1 h attribution window — Spark's watermark-bounded
    // stream-stream inner join end-to-end (impressions held
    // attributionSec past their watermark, clicks not at all). DuckDB
    // runs the same inequality join relationally; bounds are inclusive
    // on both engines at µs precision.
    dfq("q_stream_attribution",
      "SELECT i.event_id AS imp_id, c.event_id AS click_id " +
        "FROM events i JOIN events c ON i.event_type = 'view' " +
        "  AND c.event_type = 'purchase' AND i.user_id = c.user_id " +
        "  AND c.ts >= i.ts AND c.ts <= i.ts + INTERVAL 1 HOUR " +
        "ORDER BY imp_id, click_id") { (s, dir) =>
      val impressions = fileStream(s, dir, "events")
        .filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("imp_ts"), col("event_id").as("imp_id"))
      val clicks = fileStream(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("click_ts"),
          col("event_id").as("click_id"))
      val pairs = EventStream.attributionJoin(
        impressions, clicks, attributionSec = 3600L)
      drainToMemory(pairs.select(col("imp_id"), col("click_id")),
          "graft_stream_attribution", "append")
        .orderBy("imp_id", "click_id")
    },

    // Running per-user totals (userTotals) — the update-mode keyed-sink
    // ingest shape. Complete mode serves as the CHECK surface (state is
    // O(users), the same bound production's update-mode sink carries);
    // at drain the running aggregate must equal the batch group-by,
    // which DuckDB re-derives directly. Closes the last EventStream
    // transform without its own oracle entry.
    dfq("q_stream_user_totals",
      "SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS total_value " +
        "FROM events GROUP BY 1 ORDER BY 1") { (s, dir) =>
      val totals = EventStream.userTotals(fileStream(s, dir, "events"))
      drainToMemory(totals, "graft_stream_user_totals", "complete")
        .orderBy("user_id")
    },

    // LEFT-OUTER stream-stream attribution: same join, plus one null-click
    // row per UNATTRIBUTED impression — emitted when the watermark passes
    // imp_ts + window (state eviction; no future click can match). The
    // emission rule is part of the oracle, sessionize-style: a null row
    // appears iff no in-window click exists AND the impression's window
    // closed strictly before the end-of-stream watermark (min of both
    // sides' max event time, ms-truncated, minus the 2 h delay); nulls
    // ride as -1 so the compare never leans on engine null encodings.
    dfq("q_stream_attribution_outer",
      "WITH i AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'view'), " +
        "c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'), " +
        "wm AS (SELECT least((SELECT max(epoch_ms(ts)) FROM i), " +
        "                    (SELECT max(epoch_ms(ts)) FROM c)) - 7200000 AS w), " +
        "pairs AS (SELECT i.event_id AS imp_id, c.event_id AS click_id FROM i " +
        "  JOIN c ON i.user_id = c.user_id AND c.ts >= i.ts AND c.ts <= i.ts + INTERVAL 1 HOUR), " +
        "unmatched AS (SELECT i.event_id AS imp_id, CAST(-1 AS BIGINT) AS click_id FROM i, wm " +
        "  WHERE NOT EXISTS (SELECT 1 FROM c WHERE c.user_id = i.user_id " +
        "    AND c.ts >= i.ts AND c.ts <= i.ts + INTERVAL 1 HOUR) " +
        "  AND epoch_ms(i.ts) + 3600000 < wm.w) " +
        "SELECT imp_id, click_id FROM pairs UNION ALL SELECT imp_id, click_id FROM unmatched " +
        "ORDER BY imp_id, click_id") { (s, dir) =>
      val impressions = fileStream(s, dir, "events")
        .filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("imp_ts"), col("event_id").as("imp_id"))
      val clicks = fileStream(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("click_ts"),
          col("event_id").as("click_id"))
      val pairs = EventStream.attributionJoin(
        impressions, clicks, attributionSec = 3600L, joinType = "left_outer")
      drainToMemory(pairs.select(col("imp_id"),
          coalesce(col("click_id"), lit(-1L)).as("click_id")),
          "graft_stream_attribution_outer", "append")
        .orderBy("imp_id", "click_id")
    },

    // Streaming NEAR-duplicate dedup (dedupNearStream): every document's
    // 16 LSH band hashes claim their buckets through
    // dropDuplicatesWithinWatermark; a document survives iff it claimed
    // all 16. WHICH of two colliding documents survives is
    // partition-timing-dependent (not part of the contract), so — like
    // q_stream_chunk_dedup — the entry checks the DETERMINISTIC
    // invariants, which fully classify every document:
    //   dropped  ⇒ it shares ≥1 (band, hash) bucket with another corpus
    //              document (no false drops — an isolated document MUST
    //              survive), and
    //   survived ⇒ no OTHER survivor shares any of its buckets (claim
    //              exclusivity: two colliding docs can never both win).
    // The collision relation comes from the SAME public banding kernels
    // run in batch (bandHashes — bit-identical arithmetic); DuckDB
    // contributes the document universe, so a document the stream
    // swallowed entirely still surfaces via the outer join. The 30-day
    // watermark makes claim state corpus-global (no eviction inside the
    // test span — eviction would re-open buckets and void exclusivity);
    // a far-future sentinel doc advances the final watermark so every
    // real window actually emits (append-mode windows never close
    // otherwise), and is excluded from the checked universe.
    dfq("q_stream_neardup",
      "SELECT doc_id, CAST(1 AS BIGINT) AS ok FROM documents ORDER BY doc_id") {
      (s, dir) =>
        val docs = Tables.load(s, dir, "documents")
        val sentinelOut = Queries.tempDir("graft-neardup-sentinel")
        docs.limit(1)
          .withColumn("doc_id", lit(-1L))
          .withColumn("text", lit("graft stream neardup watermark sentinel xqzv"))
          .write.mode("overwrite").parquet(s"$sentinelOut/documents.parquet")
        val stream = fileStream(s, dir, "documents")
          .union(fileStream(s, sentinelOut, "documents"))
          .withColumn("ts", timestamp_seconds(
            when(col("doc_id") === -1L, lit(1020000000L))
              .otherwise(col("doc_id") + lit(1000000000L))))
        val survivors = EventStream.dedupNearStream(
          stream, "doc_id", "text", "ts",
          numHashes = 64, bands = 16, shingleK = 3,
          windowLen = "1 hour", watermark = "30 days")
        val out = drainToMemory(survivors, "graft_stream_neardup", "append")
          .select(col("doc_id")).withColumn("survived", lit(1L))
        val banded = docs.select(col("doc_id"),
            posexplode(graft.operators.TextDedup.bandHashes(col("text"), 64, 16, 3)))
          .withColumnsRenamed(Map("pos" -> "band", "col" -> "bh"))
        def bucketPeers(rel: DataFrame): DataFrame = rel.as("a")
          .join(rel.as("b"),
            col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
              col("a.doc_id") =!= col("b.doc_id"))
          .select(col("a.doc_id")).distinct()
        val colliders = bucketPeers(banded).withColumn("has_coll", lit(1L))
        val survCollide = bucketPeers(banded.join(out, "doc_id")
            .select("doc_id", "band", "bh"))
          .withColumn("surv_coll", lit(1L))
        docs.select("doc_id")
          .join(out, Seq("doc_id"), "left")
          .join(colliders, Seq("doc_id"), "left")
          .join(survCollide, Seq("doc_id"), "left")
          .select(col("doc_id"),
            when(col("survived").isNotNull,
              when(col("surv_coll").isNull, lit(1L)).otherwise(lit(0L)))
            .otherwise(
              when(col("has_coll").isNotNull, lit(1L)).otherwise(lit(0L)))
            .as("ok"))
          .orderBy("doc_id")
    },

    // Stateless curation gate on the document stream — PII-scrub then
    // quality-score then threshold, through a REAL parquet file sink +
    // checkpoint (the production append path; state zero, any scale).
    // DuckDB re-derives redaction and the full quality formula from the
    // raw table and must select the same documents with the same scores.
    dfq("q_stream_curate",
      "WITH red AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(text, " +
        "    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), " +
        "    '\\b\\d{1,3}(\\.\\d{1,3}){3}\\b', '<IP>', 'g'), " +
        "    '\\+\\d{1,3}[- ]\\d{3}-\\d{4}', '<PHONE>', 'g') AS rt FROM documents), " +
        "toks AS (SELECT doc_id, rt, string_split_regex(lower(rt), '\\s+') AS t FROM red), " +
        "qual AS (SELECT doc_id, round(" +
        "    (CASE WHEN length(rt) BETWEEN 20 AND 20000 THEN 1.0 ELSE 0.3 END)" +
        "    * (1.0 - least(CAST(length(rt) - length(regexp_replace(rt, '[[:punct:]]', '', 'g')) AS DOUBLE) / greatest(length(rt), 1) * 3, 1.0))" +
        "    * (1.0 - least(CAST(length(rt) - length(regexp_replace(rt, '\\p{N}', '', 'g')) AS DOUBLE) / greatest(length(rt), 1) * 3, 1.0))" +
        "    * least(CAST(len(list_intersect(list_distinct(t), ['the','a','of','and','to','in','is','that','it','for'])) AS DOUBLE) / greatest(len(t), 1) * 5 + 0.5, 1.0)" +
        "    * least(CAST(len(list_distinct(t)) AS DOUBLE) / greatest(len(t), 1) * 2, 1.0), 6) AS quality " +
        "  FROM toks) " +
        "SELECT doc_id, quality FROM qual WHERE quality >= 0.3 ORDER BY doc_id") {
      (s, dir) =>
        val out = Queries.tempDir("graft-stream-curate")
        val gated = EventStream.curateStream(
          fileStream(s, dir, "documents"), "text")
        val q = gated
          .select(col("doc_id"), col("quality"))
          .writeStream.outputMode("append").format("parquet")
          .option("path", s"$out/data")
          .option("checkpointLocation", s"$out/chk")
          .trigger(availableNow)
          .start()
        drainTracked(q, "graft_stream_curate")
        s.read.parquet(s"$out/data").orderBy("doc_id")
    },

    // Deterministic sampling ON the stream: the md5-gate selection rule is
    // a pure stateless projection, so the identical operator runs on a
    // live stream and must select EXACTLY the rows the batch rule selects
    // — the property that keeps a training-corpus sample reproducible
    // when the corpus arrives incrementally (a seeded per-partition RNG
    // sample would drift with micro-batch boundaries). Zero state, any
    // scale; DuckDB replays the gate relationally.
    dfq("q_stream_sample",
      "SELECT event_id, user_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents " +
        "FROM events " +
        "WHERE substr(md5(CAST(event_id AS VARCHAR) || '|s12'), 1, 4) < '0ccc' " +
        "ORDER BY event_id") { (s, dir) =>
      val sampled = graft.operators.Sampling.deterministicSample(
        fileStream(s, dir, "events"), "event_id", 0.05, "s12")
      drainToMemory(
        sampled.select(col("event_id"), col("user_id"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents")),
        "graft_stream_sample", "append").orderBy("event_id")
    },

    // Streaming DRIFT MONITOR — the live face of q_psi_drift: the stream
    // maintains the serving-window value-distribution bins (stateless
    // bin projection + complete-mode groupBy, so state is O(bins) = 8
    // rows however much data flows), the batch side supplies the
    // training-window baseline, and an 8-row broadcast join computes
    // per-bin PSI terms at read time. DuckDB replays the whole monitor
    // relationally — stream ≡ batch on the same input.
    dfq("q_stream_psi",
      "WITH b AS (SELECT least(CAST(floor(value / 50) AS INT), 7) AS bin, " +
        "    CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END AS isbase FROM events), " +
        "cnt AS (SELECT bin, CAST(sum(isbase) AS BIGINT) AS nb, CAST(sum(1 - isbase) AS BIGINT) AS nl " +
        "  FROM b GROUP BY bin), " +
        "tot AS (SELECT CAST(sum(nb) AS DOUBLE) AS tb, CAST(sum(nl) AS DOUBLE) AS tl FROM cnt) " +
        "SELECT CAST(bin AS INT) AS bin, nb, nl, " +
        "  round(greatest(nb / tot.tb, 0.000001), 6) AS p, " +
        "  round(greatest(nl / tot.tl, 0.000001), 6) AS q, " +
        "  round((greatest(nb / tot.tb, 0.000001) - greatest(nl / tot.tl, 0.000001)) * " +
        "        ln(greatest(nb / tot.tb, 0.000001) / greatest(nl / tot.tl, 0.000001)), 6) AS psi_term " +
        "FROM cnt CROSS JOIN tot ORDER BY bin") { (s, dir) =>
      val cut = lit("2024-01-16 00:00:00").cast("timestamp")
      val live = fileStream(s, dir, "events")
        .filter(col("ts") >= cut)
        .select(least(floor(col("value") / 50).cast("int"), lit(7)).as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("nl"))
      val liveCounts = drainToMemory(live, "graft_stream_psi", "complete")
      val baseCounts = Tables.load(s, dir, "events")
        .filter(col("ts") < cut)
        .select(least(floor(col("value") / 50).cast("int"), lit(7)).as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("nb"))
      val cnt = baseCounts.join(liveCounts, Seq("bin"), "full_outer")
        .select(col("bin"),
          coalesce(col("nb"), lit(0L)).cast("long").as("nb"),
          coalesce(col("nl"), lit(0L)).cast("long").as("nl"))
      val tot = cnt.agg(sum(col("nb")).cast("double").as("tb"),
        sum(col("nl")).cast("double").as("tl"))
      val eps = lit(0.000001)
      val p = greatest(col("nb") / col("tb"), eps)
      val q = greatest(col("nl") / col("tl"), eps)
      cnt.crossJoin(broadcast(tot))
        .select(col("bin"), col("nb"), col("nl"),
          round(p, 6).as("p"), round(q, 6).as("q"),
          round((p - q) * log(p / q), 6).as("psi_term"))
        .orderBy("bin")
    },

    // Streaming CDC APPLY (foreachBatch upsert sink): the change stream
    // maintains a per-user latest-state parquet table
    // (EventStream.applyCdcStream — versioned dirs, associative
    // latest-by-(ts, event_id) merge, so the final state is independent
    // of micro-batch boundaries). The entry then runs a SECOND stream
    // over the same input into the SAME state dir (fresh checkpoint):
    // its batches take the merge-with-existing-state path, and because
    // the merge rule is idempotent the state must be unchanged — both
    // the cold-start and steady-state code paths feed the one oracle,
    // DuckDB's keep-latest row per user. Cross-batch ordering (a stale
    // change arriving in a later batch) is pinned by EventStreamSpec.
    dfq("q_stream_cdc_upsert",
      "SELECT user_id, event_id, event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents " +
        "FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn " +
        "      FROM events) t " +
        "WHERE rn = 1 ORDER BY user_id") { (s, dir) =>
      val out = Queries.tempDir("graft-stream-cdc")
      def applyOnce(chk: String): Unit = {
        val q = EventStream.applyCdcStream(
            fileStream(s, dir, "events"), "user_id", Seq("ts", "event_id"),
            s"$out/state")
          .option("checkpointLocation", s"$out/$chk")
          .trigger(availableNow)
          .start()
        drainTracked(q, s"graft_stream_cdc_$chk")
      }
      applyOnce("chk1") // cold start: no prior state
      applyOnce("chk2") // steady state: merges with the committed version
      EventStream.currentCdcState(s, s"$out/state")
        .getOrElse(sys.error("no committed CDC state"))
        .select(col("user_id"), col("event_id"), col("event_type"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        .orderBy("user_id")
    },
  )
}
