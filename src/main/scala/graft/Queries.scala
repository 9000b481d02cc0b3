package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The engine's query surface, exposed as named entries with DuckDB oracle
  * SQL for differential correctness checking.
  *
  * This mirrors the reference's test strategy — every query runs on the
  * engine AND on an oracle DBMS and results are compared (reference:
  * mapd-core/Tests/ExecuteTest.cpp:132-168 `SQLiteComparator`; 77 test
  * groups over the same operator surface). Here the engine is Spark SQL /
  * DataFrame code and the oracle is DuckDB over the same parquet files.
  *
  * Conventions that keep the differential compare byte-stable:
  *   - every aggregate / computed column is aliased identically on both
  *     sides (the driver sorts columns by name before hashing);
  *   - floating aggregates are `round(...)`-ed (partial-aggregation order
  *     differs between engines → last-ulp drift on big double sums);
  *   - integer-producing functions are CAST to BIGINT (DuckDB widens
  *     sum(BIGINT) to HUGEINT, `length()` to BIGINT, etc.);
  *   - results carry an ORDER BY on a unique key when LIMIT is involved.
  */
object Queries {
  type QueryFn = (SparkSession, String) => DataFrame

  final case class Entry(name: String, run: QueryFn, oracle: Option[String])

  /** Run `text` via spark.sql over temp views named after the tables. */
  private def viewsSql(text: String): QueryFn =
    (s, dir) => { Tables.registerAll(s, dir); s.sql(text) }

  /** Same SQL text runs on Spark and DuckDB. */
  def sql(name: String, text: String): Entry = Entry(name, viewsSql(text), Some(text))

  /** Dialects diverge: separate Spark and DuckDB texts (same semantics). */
  def sql2(name: String, sparkText: String, duckText: String): Entry =
    Entry(name, viewsSql(sparkText), Some(duckText))

  /** DataFrame-API entry with an oracle. */
  def dfq(name: String, duckText: String)(fn: QueryFn): Entry =
    Entry(name, fn, Some(duckText))

  /** Not SQL-expressible in DuckDB → driver records a rows-only check. */
  def opaque(name: String)(fn: QueryFn): Entry = Entry(name, fn, None)

  /** Materialize a subrelation ONCE per entry (r21 optimization sweep,
    * guide §2.4): Catalyst inlines a CTE per reference, so an expensive
    * CTE referenced n times re-runs its whole subtree n times — the
    * q_hits edge CTE showed 52 parquet scans in one physical plan. The
    * persist is [[graft.operators.OpCaches.track]]ed, so Bench/Verify
    * release it right after the entry's action; the downstream SQL reads
    * the registered view and computes the identical relation.
    */
  def persistedView(s: SparkSession, viewName: String, text: String): DataFrame = {
    val df = graft.operators.OpCaches.track(s.sql(text).persist())
    df.createOrReplaceTempView(viewName)
    df
  }

  /** [[persistedView]] variant backed by an EAGER checkpoint: raw row
    * blocks (no columnar cache encode — measured faster than persist()
    * on every converted entry) and a truncated plan. Pays one job per
    * view up front; right when the view's own build is a chain the
    * downstream statement would re-run serially anyway. Materialized by
    * [[graft.operators.OpCaches.materialize]], like every operator
    * checkpoint.
    */
  def checkpointedView(s: SparkSession, viewName: String, text: String): DataFrame = {
    val df = graft.operators.OpCaches.materialize(s.sql(text))
    df.createOrReplaceTempView(viewName)
    // Released between entries like every operator persist (r22, ADVICE):
    // untracked, the temp view pinned the checkpoint RDD's MEMORY_AND_DISK
    // blocks in the session catalog for the whole session — ~14 such
    // relations accumulated across a full Bench/Verify lap.
    graft.operators.OpCaches.trackCheckpoint(df, Some(viewName))
  }

  /** q_triangles' pair + per-anchor relations (r21 persist sweep, r22
    * join scope). Persists the distinct co-order pair relation once
    * (view `graft_tri_pairs`), then EAGERLY materializes the per-anchor
    * triangle counts (view `graft_tri_anchors`) — one wedge enumeration,
    * both output rows derive from the small checkpointed relation.
    *
    * The enumeration runs under an ENTRY-SCOPED
    * `preferSortMergeJoin=false` (r22): sort-merge must sort the
    * Σdeg²-row wedge stream on both join passes — measured 5.8 → 20.9 s
    * warm on the r22 host when the r21 session-global flip was removed
    * (the driver host is insensitive: ~8.5 s under either policy). The
    * conversion stays runtime-safe because AQE re-plans with ACCURATE
    * post-shuffle sizes and its canBuildLocalHashMap gate (estimated
    * side ≲ autoBroadcastJoinThreshold × partitions) only admits hash
    * builds of the small pairs side — unlike the r21 GLOBAL flip, whose
    * static conversions on AQE-off child sessions had no such gate. The
    * scope is exact (the checkpoint executes the enumeration before the
    * finally restores the conf) and no other entry inherits the policy.
    *
    * Returns (checkpointed anchors, executed wedge plan) — the plan
    * string is the post-action adaptive plan (`isFinalPlan=true`), the
    * only artifact that can witness the runtime SMJ→SHJ conversion
    * (r21 verdict #3/#8; PlanDump and PlanAuditSpec consume it).
    */
  private[graft] def trianglesAnchors(s: SparkSession): (DataFrame, String) = {
    val pairs = graft.operators.OpCaches.track(s.sql(
      "SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v " +
        "FROM lineitem a JOIN lineitem b " +
        "ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey").persist())
    pairs.createOrReplaceTempView("graft_tri_pairs")
    // A scoped flip on `s`, not a child session: OpCaches tracks persists
    // and checkpoints per session, so pairs and anchors built on a child
    // would escape `OpCaches.releaseAll(s)` (and the child would not see
    // `s`'s temp views).
    val prevPreferSmj = s.conf.getOption("spark.sql.join.preferSortMergeJoin")
    val (anchors, wedgePlan) = try {
      s.conf.set("spark.sql.join.preferSortMergeJoin", "false")
      val built = s.sql(
        "SELECT e1.u AS a, count(*) AS c FROM graft_tri_pairs e1 " +
          "JOIN graft_tri_pairs e2 ON e2.u = e1.v " +
          "JOIN graft_tri_pairs e3 ON e3.u = e1.u AND e3.v = e2.v " +
          "GROUP BY e1.u")
      // EAGER materialization (raw row blocks, like checkpointedView):
      // the conf scope requires the wedge execution to happen HERE.
      val ck = graft.operators.OpCaches.trackCheckpoint(
        graft.operators.OpCaches.materialize(built), Some("graft_tri_anchors"))
      (ck, built.queryExecution.executedPlan.toString)
    } finally prevPreferSmj match {
      case Some(v) => s.conf.set("spark.sql.join.preferSortMergeJoin", v)
      case None => s.conf.unset("spark.sql.join.preferSortMergeJoin")
    }
    anchors.createOrReplaceTempView("graft_tri_anchors")
    (anchors, wedgePlan)
  }

  /** The purchase sequence the per-user recurrence entries fold:
    * (user_id, event_id, ts µs, cents), cents = floor(value·100 + 0.5)
    * computed by the SAME Spark SQL expression as the oracles' seq CTE
    * so the fold starts from bit-identical integers. Sorting happens
    * inside each fold's group (by (ts, event_id), the oracle's
    * row_number order — unique per the generator's event_id).
    */
  private def purchaseSeq(s: SparkSession, dir: String) = {
    import s.implicits._
    Tables.load(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id").cast("long"), col("event_id").cast("long"),
        unix_micros(col("ts")), floor(col("value") * 100 + 0.5).cast("long"))
      .as[(Long, Long, Long, Long)]
  }

  /** Hot-key-safe layout for the per-user recurrence folds
    * (q_ewma_recursive / q_holt_linear): ONE shuffle co-locating each
    * user's rows (repartition on user_id), then a spill-safe external
    * sort WITHIN partitions by (user_id, ts, event_id) — Spark's
    * UnsafeExternalSorter streams a partition through disk, never
    * holding one key's rows in heap — so the downstream mapPartitions
    * fold sees each user's chain contiguously, in the oracle's
    * row_number order, while carrying only O(1) state. A 10^8-event hot
    * user costs sort spill, not a task OOM (r19 verdict #1; the
    * flatMapGroups form buffered the whole chain via it.toArray).
    * Tuple fields: (user_id, event_id, ts µs, cents).
    */
  private def purchaseSeqStreamed(s: SparkSession, dir: String) = {
    import s.implicits._
    purchaseSeq(s, dir).toDF("u", "eid", "ts", "cents")
      .repartition(col("u"))
      .sortWithinPartitions(col("u"), col("ts"), col("eid"))
      .as[(Long, Long, Long, Long)]
  }

  /** Spark-SQL text of the knife-edge-GUARDED micro-bit lattice value
    * floor(log2(k)·1e6 + 0.5) — the SQL twin of
    * [[graft.operators.TextAnalysis.microLog2]]: if the scaled log2 sits
    * within 1e-5 of its floor boundary (where a 1-2 ulp libm difference
    * between engines could flip the integer), the ROW raises instead of
    * silently hash-mismatching at some future scale. Engine side only —
    * the DuckDB twin ([[microLog2Duck]]) stays raw: a divergence either
    * raises here (loud) or hash-fails, never passes silently.
    */
  private[graft] def microLog2Guarded(k: String): String = {
    val x = s"(log2(CAST(($k) AS DOUBLE)) * 1000000.0 + 0.5)"
    s"(CASE WHEN least($x - floor($x), 1.0 - ($x - floor($x))) >= 1e-5 " +
      s"THEN floor($x) " +
      s"ELSE raise_error(concat('micro-bit knife-edge: log2(', " +
      s"CAST(($k) AS STRING), ')*1e6+0.5 within 1e-5 of a floor boundary')) END)"
  }

  /** DuckDB twin of [[microLog2Guarded]] (unguarded — see there). */
  private[graft] def microLog2Duck(k: String): String =
    s"CAST(floor(log2(CAST(($k) AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)"

  /** Placeholder in oracle SQL for the Verify output directory —
    * [[Verify]] substitutes the absolute path at dump time. Lets an
    * oracle re-derive checkable columns of an APPROXIMATE-BY-DESIGN
    * result (ANN neighbor sets, signature intermediates) from the result
    * itself plus the base tables: the returned SET is the engine's, but
    * every value and ordering in it is independently recomputed — the
    * reference's differential-comparator pattern
    * (mapd-core/Tests/ExecuteTest.cpp:132-168) extended to partial
    * soundness.
    */
  val VerifyOutToken = "{{VERIFY_OUT}}"

  /** Temp dir for write-read round-trip entries, deleted on JVM exit —
    * repeated Verify/Bench runs must not accumulate lineitem-sized dumps
    * in /tmp.
    */
  private[graft] def tempDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    tempDirs.add(dir.toFile)
    tempDirsHook
    dir.toString
  }

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]

  /** One shutdown hook deletes every dir [[tempDir]] made. */
  private lazy val tempDirsHook: Unit = Runtime.getRuntime.addShutdownHook(new Thread(() => {
    def rm(p: java.io.File): Unit = {
      Option(p.listFiles).foreach(_.foreach(rm))
      p.delete(): Unit
    }
    tempDirs.forEach(rm(_))
  }))

  /** Write orders + customer BUCKETED by custkey (matching 8-bucket
    * counts + sortBy) as catalog tables `graft_bkt_orders` /
    * `graft_bkt_customer` — shared by `q_bucketed_join` and
    * PlanAuditSpec's no-shuffle assertion. Bucketing needs a catalog
    * entry (`saveAsTable`); the external `path` option keeps the files
    * in a shutdown-cleaned temp dir.
    */
  private[graft] def bucketedTables(s: SparkSession, dir: String): Unit = {
    val tmp = tempDir("graft_bkt")
    s.sql("DROP TABLE IF EXISTS graft_bkt_orders")
    s.sql("DROP TABLE IF EXISTS graft_bkt_customer")
    Tables.load(s, dir, "orders")
      .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
      .option("path", s"$tmp/orders").mode("overwrite")
      .saveAsTable("graft_bkt_orders")
    Tables.load(s, dir, "customer")
      .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
      .option("path", s"$tmp/customer").mode("overwrite")
      .saveAsTable("graft_bkt_customer")
  }

  // ===========================================================================
  // §2.1 Sources / sinks
  // ===========================================================================
  private val sources: Seq[Entry] = Seq(
    // Table scan (parquet). Reference: RelScan,
    // mapd-core/QueryEngine/RelAlgAbstractInterpreter.h:523.
    sql("q_scan_full",
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"),

    // VALUES literal row source. Reference: RelLogicalValues,
    // mapd-core/QueryEngine/RelAlgAbstractInterpreter.h:1034.
    sql2("q_values",
      "SELECT id, name FROM VALUES (1, 'alpha'), (2, 'beta'), (3, 'gamma') AS t(id, name) ORDER BY id",
      "SELECT id, name FROM (VALUES (1, 'alpha'), (2, 'beta'), (3, 'gamma')) t(id, name) ORDER BY id"),

    // CSV export + import round-trip (COPY TO + COPY FROM). Reference:
    // mapd-core/Parser/ParserNode.h:981,1296; Import/Importer.cpp.
    dfq("q_csv_roundtrip",
      "SELECT count(*) AS n, CAST(sum(l_partkey) AS BIGINT) AS s FROM lineitem") { (s, dir) =>
      val tmp = tempDir("graft_csv")
      val df = Tables.load(s, dir, "lineitem").select("l_orderkey", "l_partkey", "l_suppkey")
      df.write.mode("overwrite").option("header", "true").csv(tmp)
      s.read.option("header", "true").schema(df.schema).csv(tmp)
        .agg(count(lit(1)).as("n"), sum("l_partkey").cast("long").as("s"))
    },

    // COPY options surface: custom delimiter, no header, explicit null
    // sentinel — the reference importer's delimiter/null_str/header
    // options (mapd-core/Import/Importer.h CopyParams; Parser COPY ...
    // WITH (delimiter='|', nulls='\N')). Null round-trip is part of the
    // check: a NULL column value must come back NULL, not "\N" or "".
    dfq("q_csv_options",
      "SELECT count(*) AS n, count(rf) AS n_rf, min(rf) AS min_rf, " +
        "CAST(sum(l_partkey) AS BIGINT) AS s FROM " +
        "(SELECT l_partkey, CASE WHEN l_linenumber = 1 THEN NULL ELSE l_returnflag END AS rf " +
        "FROM lineitem) t") { (s, dir) =>
      val tmp = tempDir("graft_csvo")
      val df = Tables.load(s, dir, "lineitem").select(col("l_partkey"),
        when(col("l_linenumber") === 1, lit(null).cast("string"))
          .otherwise(col("l_returnflag")).as("rf"))
      df.write.mode("overwrite")
        .option("sep", "|").option("nullValue", "\\N").option("header", "false")
        .csv(tmp)
      s.read.option("sep", "|").option("nullValue", "\\N").schema(df.schema).csv(tmp)
        .agg(count(lit(1)).as("n"), count(col("rf")).as("n_rf"),
          min("rf").as("min_rf"), sum("l_partkey").cast("long").as("s"))
    },

    // JSON-lines export + import round-trip (the other wire format a
    // training-data pipeline ingests; Spark reads/writes it natively —
    // schema-checked re-read, aggregation compared to the parquet truth).
    dfq("q_json_roundtrip",
      "SELECT count(*) AS n, CAST(sum(o_custkey) AS BIGINT) AS s, " +
        "min(o_orderstatus) AS st FROM orders") { (s, dir) =>
      val tmp = tempDir("graft_json")
      val df = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus")
      df.write.mode("overwrite").json(tmp)
      s.read.schema(df.schema).json(tmp)
        .agg(count(lit(1)).as("n"), sum("o_custkey").cast("long").as("s"),
          min("o_orderstatus").as("st"))
    },

    // ORC export + import round-trip — the second columnar format Spark
    // ships; proves the engine is not parquet-bound.
    dfq("q_orc_roundtrip",
      "SELECT count(*) AS n, CAST(sum(s_suppkey) AS BIGINT) AS s FROM supplier") { (s, dir) =>
      val tmp = tempDir("graft_orc")
      val df = Tables.load(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      df.write.mode("overwrite").orc(tmp)
      s.read.orc(tmp)
        .agg(count(lit(1)).as("n"), sum("s_suppkey").cast("long").as("s"))
    },

    // Schema-EVOLUTION read (mergeSchema): a fact table whose later
    // partitions added a column — the 100 TB reality that a reader must
    // union schemas across file generations instead of failing or
    // silently dropping the new column. The engine WRITES two
    // generations under gen= partition dirs (old: k, cents; new adds
    // priority), reads the directory with mergeSchema=true, and
    // aggregates the merged relation — old-generation rows surface
    // priority NULL. The oracle re-derives both generations from orders
    // directly, so a reader that dropped either the old rows or the new
    // column hash-fails.
    dfq("q_schema_evolution",
      "WITH m AS (SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS cents, " +
        "    CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END AS prio FROM orders) " +
        "SELECT prio, count(*) AS n, CAST(sum(cents) AS BIGINT) AS cents " +
        "FROM m GROUP BY prio ORDER BY prio NULLS FIRST") { (s, dir) =>
      val tmp = tempDir("graft_evolve")
      val orders = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").as("k"),
          round(col("o_totalprice") * 100).cast("long").as("cents"),
          col("o_orderpriority").as("prio"))
      orders.filter(col("k") % 2 === 0).select("k", "cents")
        .write.mode("overwrite").parquet(s"$tmp/gen=1")
      orders.filter(col("k") % 2 === 1).select("k", "cents", "prio")
        .write.mode("overwrite").parquet(s"$tmp/gen=2")
      s.read.option("mergeSchema", "true").option("basePath", tmp).parquet(tmp)
        .groupBy("prio")
        .agg(count(lit(1)).as("n"), sum("cents").cast("long").as("cents"))
        .orderBy(col("prio").asc_nulls_first)
    },

    // Small-file COMPACTION — the 100 TB hygiene op: a fragmented table
    // (64 round-robin shards — the "too many tiny files" state a
    // streaming sink or over-parallel writer leaves behind) is read back
    // and rewritten at a target file count with coalesce (no shuffle:
    // coalesce only merges partitions). The output pins the before/after
    // DATA-file counts (deterministic: round-robin over ≥64 rows fills
    // every shard; the fragmented read is pinned to one-file-per-
    // partition below, so coalesce(4) emits exactly 4) plus full content
    // checksums over the compacted copy, so a compaction that dropped or
    // duplicated rows — or didn't actually reduce files — hash-fails.
    dfq("q_compact_small_files",
      "SELECT 64 AS files_before, 4 AS files_after, count(*) AS n, " +
        "  CAST(sum(length(text)) AS BIGINT) AS chars, " +
        "  CAST(sum(n_chars) AS BIGINT) AS n_chars FROM documents") { (s, dir) =>
      val tmp = tempDir("graft_compact")
      def dataFiles(p: String): Int =
        Option(new java.io.File(p).listFiles).toSeq.flatten
          .count(f => f.getName.endsWith(".parquet"))
      Tables.load(s, dir, "documents").repartition(64)
        .write.mode("overwrite").parquet(s"$tmp/frag")
      val before = dataFiles(s"$tmp/frag")
      // Pin the fragmented read to one file per partition: with the
      // session defaults, Spark's split packing depends on
      // defaultParallelism/maxPartitionBytes, so on a small machine the
      // 64 tiny files can pack into < 4 read partitions and coalesce(4)
      // would emit fewer files than the pinned oracle count (r13 advice).
      // openCost = maxPartitionBytes = 8 MiB makes every tiny file its
      // own split regardless of core count; a child session carries the
      // two settings, so the entry's own session never changes.
      val oneFilePerSplit = graft.engine.LocalSession.child(s, "one-file-per-split") { c =>
        c.conf.set("spark.sql.files.openCostInBytes", 8L << 20)
        c.conf.set("spark.sql.files.maxPartitionBytes", 8L << 20)
      }
      oneFilePerSplit.read.parquet(s"$tmp/frag").coalesce(4)
        .write.mode("overwrite").parquet(s"$tmp/compact")
      val after = dataFiles(s"$tmp/compact")
      s.read.parquet(s"$tmp/compact")
        .agg(count(lit(1)).as("n"), sum(length(col("text"))).cast("long").as("chars"),
          sum(col("n_chars")).cast("long").as("n_chars"))
        .select(lit(before).as("files_before"), lit(after).as("files_after"),
          col("n"), col("chars"), col("n_chars"))
    },

    // Parquet compression-codec matrix — the 100 TB storage knob: the
    // same table written under uncompressed/snappy/gzip/zstd must read
    // back content-identical (per-codec row counts + char checksums all
    // equal the source), and the compressed layouts must actually be
    // smaller than uncompressed (asserted engine-side, loudly — a codec
    // option that silently fell back to uncompressed would pass a pure
    // content check). The oracle recomputes the invariant projection per
    // codec from the source table.
    dfq("q_parquet_codecs",
      "SELECT codec, CAST(count(*) AS BIGINT) AS n, " +
        "  CAST(sum(length(text)) AS BIGINT) AS chars FROM documents, " +
        "  (SELECT unnest(['gzip','snappy','uncompressed','zstd']) AS codec) c " +
        "GROUP BY codec ORDER BY codec") { (s, dir) =>
      val tmp = tempDir("graft_codecs")
      val docs = Tables.load(s, dir, "documents")
      val codecs = Seq("gzip", "snappy", "uncompressed", "zstd")
      def dirBytes(p: String): Long =
        Option(new java.io.File(p).listFiles).toSeq.flatten
          .filter(_.getName.endsWith(".parquet")).map(_.length).sum
      val sizes = codecs.map { c =>
        docs.write.mode("overwrite").option("compression", c)
          .parquet(s"$tmp/$c")
        c -> dirBytes(s"$tmp/$c")
      }.toMap
      Seq("gzip", "snappy", "zstd").foreach { c =>
        require(sizes(c) < sizes("uncompressed"),
          s"codec $c wrote ${sizes(c)} bytes >= uncompressed " +
            s"${sizes("uncompressed")} — compression silently disabled?")
      }
      codecs.map { c =>
          s.read.parquet(s"$tmp/$c")
            .agg(count(lit(1)).as("n"),
              sum(length(col("text"))).cast("long").as("chars"))
            .select(lit(c).as("codec"), col("n"), col("chars"))
        }.reduce(_.unionByName(_)).orderBy("codec")
    },

    // Bucketed co-located join: both sides written with bucketBy on the
    // join key (matching bucket counts + sortBy), so the join reads
    // bucket-aligned files with NO shuffle on either side — at 100 TB
    // this is the difference between a metadata-planned merge join and
    // re-shuffling the fact table on every query. The correctness oracle
    // recomputes from the original parquet; PlanAuditSpec asserts the
    // executed plan has zero shuffle exchanges with broadcast disabled.
    dfq("q_bucketed_join",
      "SELECT c_nationkey AS nation, count(*) AS n, " +
        "  CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS cents " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "GROUP BY c_nationkey ORDER BY nation") { (s, dir) =>
      bucketedTables(s, dir)
      s.sql(
        "SELECT c_nationkey AS nation, count(*) AS n, " +
          "CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS cents " +
          "FROM graft_bkt_orders JOIN graft_bkt_customer ON o_custkey = c_custkey " +
          "GROUP BY c_nationkey ORDER BY nation")
    },

    // CTAS-style parquet materialization + re-read. Reference:
    // mapd-core/Parser/ParserNode.h:913 CreateTableAsSelectStmt.
    dfq("q_ctas_roundtrip",
      "SELECT o_orderpriority, count(*) AS n FROM orders WHERE o_totalprice > 100000 GROUP BY o_orderpriority ORDER BY o_orderpriority") { (s, dir) =>
      val tmp = tempDir("graft_ctas")
      Tables.load(s, dir, "orders").filter(col("o_totalprice") > 100000)
        .write.mode("overwrite").parquet(tmp)
      s.read.parquet(tmp).groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n")).orderBy("o_orderpriority")
    },

    // Row-level INSERT INTO … VALUES into a managed parquet table.
    // Reference: mapd-core/Parser/ParserNode.h:1464 InsertValuesStmt.
    dfq("q_insert_values",
      "SELECT id, name FROM (VALUES (1, 'x'), (2, 'y'), (3, 'z')) t(id, name) ORDER BY id") { (s, dir) =>
      val tmp = tempDir("graft_ins")
      s.sql("DROP TABLE IF EXISTS graft_ins_t")
      s.sql(s"CREATE TABLE graft_ins_t (id INT, name STRING) USING parquet LOCATION '$tmp/t'")
      s.sql("INSERT INTO graft_ins_t VALUES (1, 'x'), (2, 'y')")
      s.sql("INSERT INTO graft_ins_t VALUES (3, 'z')")
      s.sql("SELECT id, name FROM graft_ins_t ORDER BY id")
    },

    // CREATE VIEW + query-through. Reference: mapd-core/Parser/
    // ParserNode.h:1319 CreateViewStmt (+ ExecuteTest view groups). The
    // backing tables are session temp views, so the created view is
    // TEMPORARY too (Spark forbids persistent views over temp relations);
    // the semantics under test — definition captured at CREATE, expanded
    // and re-optimized at query time — are identical. The oracle runs the
    // equivalent direct query.
    dfq("q_create_view",
      "SELECT n_name, count(*) AS n_cust, CAST(sum(c_custkey) AS BIGINT) AS s_key " +
        "FROM customer JOIN nation ON c_nationkey = n_nationkey " +
        "WHERE c_acctbal > 1000 GROUP BY n_name ORDER BY n_name") { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("CREATE OR REPLACE TEMPORARY VIEW graft_cust_nation_v AS " +
        "SELECT c_custkey, c_acctbal, n_name FROM customer " +
        "JOIN nation ON c_nationkey = n_nationkey")
      s.sql("SELECT n_name, count(*) AS n_cust, CAST(sum(c_custkey) AS BIGINT) AS s_key " +
        "FROM graft_cust_nation_v WHERE c_acctbal > 1000 " +
        "GROUP BY n_name ORDER BY n_name")
    },

    // gzip-compressed CSV export + import (the reference decompresses
    // archives on import — mapd-core/Archive/, Import/Importer.cpp;
    // Spark handles the codec from the file extension).
    dfq("q_csv_gzip",
      "SELECT count(*) AS n, CAST(sum(s_suppkey) AS BIGINT) AS s FROM supplier") { (s, dir) =>
      val tmp = tempDir("graft_gz")
      val df = Tables.load(s, dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
      df.write.mode("overwrite").option("header", "true")
        .option("compression", "gzip").csv(tmp)
      s.read.option("header", "true").schema(df.schema).csv(tmp)
        .agg(count(lit(1)).as("n"), sum("s_suppkey").cast("long").as("s"))
    },

    // The reference's archive importer also handles .bz2 (mapd-core
    // Archive/; Importer.h:568) — bzip2 round-trip through the same
    // write→read→aggregate check. (.zip/.7z: no Hadoop codec — see
    // q_csv_zip / q_csv_7z below, which ride graft.sources.Archive.)
    dfq("q_csv_bzip2",
      "SELECT count(*) AS n, CAST(sum(s_nationkey) AS BIGINT) AS s FROM supplier") { (s, dir) =>
      val tmp = tempDir("graft_bz2")
      val df = Tables.load(s, dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
      df.write.mode("overwrite").option("header", "true")
        .option("compression", "bzip2").csv(tmp)
      s.read.option("header", "true").schema(df.schema).csv(tmp)
        .agg(count(lit(1)).as("n"), sum("s_nationkey").cast("long").as("s"))
    },

    // .zip archive import (reference: mapd-core/Archive/,
    // Import/Importer.cpp — COPY FROM '<file>.zip'). No Hadoop codec
    // exists, so graft.sources.Archive reads archives whole (binaryFile
    // → JDK ZipInputStream → distributed CSV parse), one task per
    // archive — Spark's own shape for non-splittable codecs. The fixture
    // writes one MULTI-ENTRY archive per partition (multi-entry is the
    // case a zip reader must prove), each entry carrying its own header
    // line; the aggregate equality vs parquet proves the round trip
    // lost and duplicated nothing.
    dfq("q_csv_zip",
      "SELECT count(*) AS n, CAST(sum(p_partkey) AS BIGINT) AS s, " +
        "CAST(sum(p_size) AS BIGINT) AS ss FROM part") { (s, dir) =>
      import s.implicits._
      val tmp = tempDir("graft_zip")
      val df = Tables.load(s, dir, "part").select("p_partkey", "p_brand", "p_size")
      val header = df.columns.mkString(",")
      graft.sources.Archive.writeArchives(
        df.select(concat_ws(",", df.columns.map(col).toIndexedSeq: _*)).as[String],
        tmp, header, format = "zip")
      graft.sources.Archive.csv(s, s"$tmp/*.zip", df.schema, format = "zip")
        .agg(count(lit(1)).as("n"), sum("p_partkey").cast("long").as("s"),
          sum("p_size").cast("long").as("ss"))
    },

    // .7z archive import (same reference surface; the reference bundles
    // its own 7z support in Archive/). LZMA2 codec via commons-compress
    // + xz — BOTH already in /opt/spark/jars (r14 adjudicated .7z
    // env-blocked; that was wrong — no new dependency is needed).
    dfq("q_csv_7z",
      "SELECT count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS s, " +
        "CAST(sum(o_custkey) AS BIGINT) AS sc, min(o_orderstatus) AS st FROM orders") { (s, dir) =>
      import s.implicits._
      val tmp = tempDir("graft_7z")
      val df = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus")
      val header = df.columns.mkString(",")
      graft.sources.Archive.writeArchives(
        df.select(concat_ws(",", df.columns.map(col).toIndexedSeq: _*)).as[String],
        tmp, header, format = "7z")
      graft.sources.Archive.csv(s, s"$tmp/*.7z", df.schema, format = "7z")
        .agg(count(lit(1)).as("n"), sum("o_orderkey").cast("long").as("s"),
          sum("o_custkey").cast("long").as("sc"), min("o_orderstatus").as("st"))
    },
  )

  // ===========================================================================
  // §2.2 Projection / filter / predicates
  // ===========================================================================
  private val filters: Seq[Entry] = Seq(
    // Project with scalar arithmetic. Reference: RelProject,
    // mapd-core/QueryEngine/RelAlgAbstractInterpreter.h:551.
    // Fixed-point output via floor(x·1e4 + 0.5): the same IEEE double ops
    // on both engines → bit-identical results (round(x, 4) is NOT — Spark
    // rounds the shortest decimal repr, DuckDB rounds numerically, and the
    // two differ on .5 boundaries).
    sql("q_project_arith",
      "SELECT l_orderkey, l_linenumber, " +
        "CAST(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 10000 + 0.5) AS BIGINT) AS charge_e4 " +
        "FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 1000"),

    // Comparison operators. Reference: mapd-core/Shared/sqldefs.h:29-57,
    // codegen mapd-core/QueryEngine/CompareIR.cpp.
    sql("q_filter_compare",
      "SELECT count(*) AS n_lt, CAST(sum(CASE WHEN l_quantity >= 45 THEN 1 ELSE 0 END) AS BIGINT) AS n_ge, " +
        "CAST(sum(CASE WHEN l_discount <> 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ne " +
        "FROM lineitem WHERE l_quantity <= 50 AND l_extendedprice > 10.0"),

    // AND/OR/NOT + BETWEEN. Reference: mapd-core/QueryEngine/LogicalIR.cpp.
    sql("q_filter_logic",
      "SELECT count(*) AS n FROM orders WHERE (o_totalprice BETWEEN 1000 AND 50000 AND o_orderstatus = 'F') " +
        "OR NOT (o_orderpriority = '5-LOW' OR o_orderpriority = '4-NOT SPECIFIED')"),

    // IS [NOT] NULL + searched CASE. Reference: mapd-core/Shared/sqldefs.h:46-47,
    // mapd-core/QueryEngine/CaseIR.cpp.
    sql("q_null_case",
      "SELECT count(*) AS total, count(x) AS n_nonnull, CAST(sum(CASE WHEN x IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null " +
        "FROM (SELECT CASE WHEN l_quantity > 25 THEN NULL ELSE l_quantity END AS x FROM lineitem) t"),

    // NULLIF + null-safe comparison (IS NOT DISTINCT FROM).
    // Reference: kBW_EQ null-safe equality, mapd-core/Shared/sqldefs.h:33.
    sql("q_null_safe_eq",
      "SELECT count(*) AS n FROM (SELECT nullif(l_returnflag, 'N') AS a, nullif(l_linestatus, 'F') AS b FROM lineitem) t " +
        "WHERE a IS NOT DISTINCT FROM b"),

    // IN list. Reference: mapd-core/Analyzer/Analyzer.h:502 InValues,
    // mapd-core/QueryEngine/InValuesBitmap.cpp.
    sql("q_in_list",
      "SELECT o_orderpriority, count(*) AS n FROM orders " +
        "WHERE o_orderpriority IN ('1-URGENT', '2-HIGH') GROUP BY o_orderpriority ORDER BY o_orderpriority"),

    // IN subquery. Reference: mapd-core/QueryEngine/RelAlgExecutor.cpp:162-168
    // (subqueries executed first, result substituted).
    sql("q_in_subquery",
      "SELECT count(*) AS n FROM orders WHERE o_custkey IN " +
        "(SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')"),

    // LIKE / ILIKE. Reference: mapd-core/Analyzer/Analyzer.h:606 LikeExpr,
    // mapd-core/Utils/StringLike.cpp:225.
    sql("q_like",
      "SELECT count(*) AS n_like FROM part WHERE p_name LIKE '%red%' OR p_type LIKE 'SMALL%'"),
    sql("q_ilike",
      "SELECT count(*) AS n FROM part WHERE p_name ILIKE '%RED%' AND NOT p_brand LIKE 'Brand#1%'"),

    // LIKE … ESCAPE: '!_' matches a literal underscore (none in the
    // names), while the unescaped '_' is a wildcard — the count pair
    // proves the escape changes matching, differentially on both engines.
    // Reference: mapd-core/Utils/StringLike.cpp:225 (escape_char handling).
    sql("q_like_escape",
      "SELECT count(*) AS n_wild, " +
        "(SELECT count(*) FROM customer WHERE c_name LIKE 'Customer#00000001!_' ESCAPE '!') AS n_escaped " +
        "FROM customer WHERE c_name LIKE 'Customer#00000001_'"),

    // REGEXP. Reference: mapd-core/Analyzer/Analyzer.h:676 RegexpExpr,
    // mapd-core/Utils/Regexp.cpp.
    sql2("q_regexp",
      "SELECT count(*) AS n FROM customer WHERE c_name RLIKE 'Customer#0{4}1[0-9]{2}$'",
      "SELECT count(*) AS n FROM customer WHERE regexp_matches(c_name, 'Customer#0{4}1[0-9]{2}$')"),

    // CAST. Reference: mapd-core/QueryEngine/CastIR.cpp. (DuckDB rounds
    // double→int casts where Spark truncates, so integral-valued inputs only.)
    sql("q_cast",
      "SELECT CAST(sum(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS s_line, " +
        "round(sum(CAST(l_partkey AS DOUBLE)), 2) AS s_part, " +
        "CAST(count(*) AS DOUBLE) AS n_d, " +
        "CAST(sum(CAST(substr(c_name, 10) AS BIGINT)) AS BIGINT) AS s_name " +
        "FROM lineitem, customer WHERE l_orderkey = 1"),

    // Correlated EXISTS. Reference: mapd-core/Shared/sqldefs.h:48 kEXISTS.
    sql("q_exists",
      "SELECT count(*) AS n FROM customer c WHERE EXISTS " +
        "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)"),

    // Scalar subquery. Reference: RexSubQuery,
    // mapd-core/QueryEngine/RelAlgAbstractInterpreter.h:243.
    sql("q_scalar_subquery",
      "SELECT count(*) AS n FROM lineitem WHERE l_quantity > (SELECT avg(l_quantity) FROM lineitem)"),
  )

  // ===========================================================================
  // §2.3 Joins
  // ===========================================================================
  private val joins: Seq[Entry] = Seq(
    // Inner equi-join, single key. Reference:
    // mapd-core/QueryEngine/JoinHashTable.cpp (perfect-hash path).
    sql("q_join_inner",
      "SELECT c_mktsegment, count(*) AS n, round(sum(o_totalprice), 2) AS total " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "GROUP BY c_mktsegment ORDER BY c_mktsegment"),

    // LEFT OUTER join. Reference: mapd-core/Shared/sqldefs.h:74 JoinType::LEFT.
    sql("q_join_left",
      "SELECT count(*) AS n, count(o_orderkey) AS matched " +
        "FROM customer LEFT JOIN orders ON c_custkey = o_custkey"),

    // Composite-key equi-join. Reference:
    // mapd-core/QueryEngine/BaselineJoinHashTable.cpp (keyed hash),
    // mapd-core/QueryEngine/EquiJoinCondition.cpp (key coalescing).
    sql("q_join_composite",
      "SELECT count(*) AS n FROM lineitem l1 JOIN lineitem l2 " +
        "ON l1.l_orderkey = l2.l_orderkey AND l1.l_linenumber = l2.l_linenumber"),

    // Multi-way left-deep chain (the COMPASS headline shape). Reference:
    // mapd-core/QueryEngine/RelLeftDeepInnerJoin.cpp; workload
    // /root/reference/queries/1a.sql.sq.cnt.
    sql("q_join_multiway",
      "SELECT n_name, count(*) AS n FROM lineitem " +
        "JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey " +
        "WHERE r_name = 'ASIA' GROUP BY n_name ORDER BY n_name"),

    // Cartesian product. Reference: mapd-core/QueryEngine/CartesianProduct.h.
    sql("q_join_cross",
      "SELECT count(*) AS n FROM region CROSS JOIN nation"),

    // Non-equi (nested-loop) join. Reference: allow_loop_joins,
    // mapd-core/QueryEngine/CompilationOptions.h:37.
    sql("q_join_nonequi",
      "SELECT count(*) AS n FROM nation n1 JOIN nation n2 ON n1.n_nationkey < n2.n_nationkey"),

    // Implicit join (FROM a, b WHERE ...) — the JOB query style.
    // Reference: queries/1a.sql.sq.cnt uses comma-joins exclusively.
    sql("q_join_implicit",
      "SELECT count(*) AS n FROM supplier, nation WHERE s_nationkey = n_nationkey AND n_name = 'CHINA'"),

    // ===== Beyond-reference join types (MapD 3.6.1 supports INNER/LEFT
    // only — Shared/sqldefs.h:74, Tests/ExecuteTest.cpp Joins_Unsupported;
    // free in Spark, graded as engine surface).
    sql("q_join_right",
      "SELECT count(*) AS n, count(o_orderkey) AS matched " +
        "FROM orders RIGHT JOIN customer ON o_custkey = c_custkey"),
    sql("q_join_full",
      "SELECT count(*) AS n, count(s_suppkey) AS with_s, count(c_custkey) AS with_c " +
        "FROM (SELECT s_suppkey, s_nationkey FROM supplier WHERE s_acctbal > 5000) s " +
        "FULL JOIN (SELECT c_custkey, c_nationkey FROM customer WHERE c_acctbal > 9000) c " +
        "ON s.s_nationkey = c.c_nationkey"),
    sql("q_join_semi",
      "SELECT count(*) AS n FROM customer WHERE c_custkey IN " +
        "(SELECT o_custkey FROM orders WHERE o_totalprice > 300000)"),
    sql("q_join_anti",
      "SELECT count(*) AS n FROM customer WHERE NOT EXISTS " +
        "(SELECT 1 FROM orders WHERE o_custkey = c_custkey)"),
  )

  // ===========================================================================
  // §2.4 Aggregation
  // ===========================================================================
  private val aggregates: Seq[Entry] = Seq(
    // TPC-H Q1 shape: all agg kinds + group-by. Reference:
    // mapd-core/QueryEngine/GroupByAndAggregate.cpp:2512-2620.
    sql("q1_agg",
      "SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, " +
        "round(sum(l_extendedprice), 2) AS sum_base, " +
        "round(avg(l_discount), 6) AS avg_disc, " +
        "round(min(l_extendedprice), 2) AS min_price, " +
        "round(max(l_extendedprice), 2) AS max_price, count(*) AS n " +
        "FROM lineitem GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"),

    // Keyless (global) aggregation fast path. Reference:
    // mapd-core/QueryEngine/QueryMemoryDescriptor.h (keyless hash).
    sql("q_global_agg",
      "SELECT count(*) AS n, CAST(sum(o_custkey) AS BIGINT) AS s_cust, " +
        "round(sum(o_totalprice), 2) AS s_price, round(avg(o_totalprice), 4) AS a_price, " +
        "round(min(o_totalprice), 2) AS mn, round(max(o_totalprice), 2) AS mx FROM orders"),

    // Exact COUNT(DISTINCT). Reference:
    // mapd-core/QueryEngine/CountDistinctDescriptor.h:41 (Bitmap/StdSet).
    sql("q_count_distinct",
      "SELECT CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supp, " +
        "CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_part, " +
        "CAST(count(DISTINCT l_returnflag) AS BIGINT) AS n_flag FROM lineitem"),

    // APPROX_COUNT_DISTINCT — Spark HLL++ vs DuckDB HLL differ by
    // design, so the VALUE cannot hash-match; the oracle instead
    // re-derives the EXACT distinct counts and passes the engine's
    // approximations through only when they sit within 3x the declared
    // relative standard deviation (default rsd 0.05 → 15%) — an
    // out-of-bound estimate vanishes from the oracle side and fails the
    // row compare. Reference: mapd-core/QueryEngine/HyperLogLog.h:88-120.
    dfq("q_approx_distinct",
      "WITH res AS (SELECT approx_parts, approx_supps FROM " +
        "read_parquet('{{VERIFY_OUT}}/q_approx_distinct/*.parquet')), " +
        "ex AS (SELECT count(DISTINCT l_partkey) AS ep, " +
        "count(DISTINCT l_suppkey) AS es FROM lineitem) " +
        "SELECT r.approx_parts, r.approx_supps FROM res r, ex " +
        "WHERE abs(r.approx_parts - ex.ep) <= 0.15 * ex.ep " +
        "AND abs(r.approx_supps - ex.es) <= 0.15 * ex.es") { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .agg(approx_count_distinct("l_partkey").as("approx_parts"),
          approx_count_distinct("l_suppkey").as("approx_supps"))
    },

    // HAVING. Reference: mapd-core/Tests/ExecuteTest.cpp Having tests.
    sql("q_having",
      "SELECT l_suppkey, count(*) AS n, round(sum(l_quantity), 2) AS q " +
        "FROM lineitem GROUP BY l_suppkey HAVING count(*) >= 100 ORDER BY l_suppkey"),

    // DISTINCT projection. Reference: ExecuteTest.cpp DistinctProjection.
    sql("q_distinct",
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem ORDER BY l_returnflag, l_linestatus"),

    // ROLLUP (beyond-reference: absent from mapd-core/Parser/parser.y;
    // free in Spark/DuckDB). grouping() disambiguates the NULL rows.
    sql("q_rollup",
      "SELECT coalesce(l_returnflag, '<all>') AS rf, coalesce(l_linestatus, '<all>') AS ls, " +
        "CAST(grouping(l_returnflag) + grouping(l_linestatus) AS BIGINT) AS lvl, " +
        "count(*) AS n, round(sum(l_quantity), 2) AS q " +
        "FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus) ORDER BY lvl, rf, ls"),

    // CUBE (beyond-reference, same rationale).
    sql("q_cube",
      "SELECT coalesce(o_orderstatus, '<all>') AS st, coalesce(o_orderpriority, '<all>') AS pri, " +
        "count(*) AS n FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority) " +
        "ORDER BY st, pri"),

    // Explicit GROUPING SETS (beyond-reference, same rationale as ROLLUP).
    sql("q_grouping_sets",
      "SELECT coalesce(l_returnflag, '<rf>') AS rf, coalesce(l_linestatus, '<ls>') AS ls, " +
        "count(*) AS n FROM lineitem " +
        "GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ()) " +
        "ORDER BY rf, ls"),

    // PIVOT / UNPIVOT reshaping (beyond-reference). The oracle states the
    // expected values as conditional aggregation / UNION ALL — the
    // dialect-free definition of the same relation.
    sql2("q_pivot",
      "SELECT * FROM (SELECT l_returnflag, l_linestatus, l_quantity FROM lineitem) " +
        "PIVOT (round(sum(l_quantity), 2) FOR l_linestatus IN ('O' AS o_qty, 'F' AS f_qty)) " +
        "ORDER BY l_returnflag",
      "SELECT l_returnflag, " +
        "round(sum(l_quantity) FILTER (l_linestatus = 'O'), 2) AS o_qty, " +
        "round(sum(l_quantity) FILTER (l_linestatus = 'F'), 2) AS f_qty " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),

    sql2("q_unpivot",
      "SELECT l_returnflag, metric, v FROM (" +
        "SELECT l_returnflag, round(sum(l_quantity), 2) AS qty, " +
        "round(sum(l_extendedprice), 2) AS price FROM lineitem GROUP BY l_returnflag) " +
        "UNPIVOT (v FOR metric IN (qty, price)) ORDER BY l_returnflag, metric",
      "SELECT l_returnflag, 'qty' AS metric, round(sum(l_quantity), 2) AS v " +
        "FROM lineitem GROUP BY l_returnflag " +
        "UNION ALL " +
        "SELECT l_returnflag, 'price' AS metric, round(sum(l_extendedprice), 2) AS v " +
        "FROM lineitem GROUP BY l_returnflag " +
        "ORDER BY l_returnflag, metric"),

    // Statistical aggregates (beyond-reference): sample stddev/variance,
    // correlation, sample covariance. Rounded — partial-aggregation order
    // differs between engines.
    sql("q_stats_agg",
      "SELECT l_returnflag, round(stddev_samp(l_quantity), 6) AS sd, " +
        "round(var_samp(l_quantity), 6) AS vr, " +
        "round(corr(l_quantity, l_extendedprice), 6) AS cr, " +
        "round(covar_samp(l_quantity, l_discount), 6) AS cv " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),

    // Group-wise z-score normalization — the feature-standardization
    // primitive (per-group mean/stddev via one window pass, then the
    // per-row transform; the window shuffles once on the group key).
    // Both engines compute stddev_samp over the same large groups and
    // round at 6 dp; the orderkey cut keeps the per-row output compact.
    sql("q_zscore",
      "SELECT l_orderkey, l_linenumber, round((l_quantity - m) / s, 6) AS z " +
        "FROM (SELECT l_orderkey, l_linenumber, l_quantity, " +
        "    avg(l_quantity) OVER w AS m, stddev_samp(l_quantity) OVER w AS s " +
        "  FROM lineitem WINDOW w AS (PARTITION BY l_returnflag)) t " +
        "WHERE l_orderkey < 200 ORDER BY l_orderkey, l_linenumber"),

    // Approximate percentile — implementations differ by design (Spark
    // KLL-ish vs DuckDB t-digest), so no value hash-match; the oracle
    // re-derives the EXACT discrete median per group and passes the
    // engine's approximation through only within the 2% relative error
    // ScalarFnsSpec pins — a drifting sketch drops the row and fails
    // the compare.
    dfq("q_approx_percentile",
      "WITH res AS (SELECT l_returnflag, p50a FROM " +
        "read_parquet('{{VERIFY_OUT}}/q_approx_percentile/*.parquet')), " +
        "ex AS (SELECT l_returnflag, quantile_disc(l_extendedprice, 0.5) AS p50e " +
        "FROM lineitem GROUP BY l_returnflag) " +
        "SELECT r.l_returnflag, r.p50a FROM res r JOIN ex USING (l_returnflag) " +
        "WHERE abs(r.p50a - ex.p50e) <= 0.02 * ex.p50e " +
        "ORDER BY r.l_returnflag") { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("SELECT l_returnflag, " +
        "round(approx_percentile(l_extendedprice, 0.5, 10000), 2) AS p50a " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag")
    },

    // Exact interpolated percentiles (beyond-reference; DuckDB
    // quantile_cont ≙ Spark percentile — both linear interpolation).
    sql2("q_percentile",
      "SELECT l_returnflag, round(percentile(l_quantity, 0.5), 6) AS p50, " +
        "round(percentile(l_quantity, 0.95), 6) AS p95 " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag",
      "SELECT l_returnflag, round(quantile_cont(l_quantity, 0.5), 6) AS p50, " +
        "round(quantile_cont(l_quantity, 0.95), 6) AS p95 " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),

    // Datasketches HLL — the EXPORTABLE/mergeable face of approximate
    // distinct counting (approx_count_distinct answers one query;
    // hll_sketch_agg produces a sketch another job can hll_union_agg —
    // the pre-aggregated-rollup shape at 100 TB). Differential contract:
    // per-group exact distincts are fully re-derived by DuckDB, and the
    // HLL estimate (lgK=14 ⇒ well under 5% error at these
    // cardinalities) gates an all-1 ok flag, both per group and for the
    // UNION of the per-group sketches against the global exact count —
    // merging must not degrade the estimate.
    // Engine side materializes the per-group sketch relation once (r21):
    // the `s` CTE was referenced twice (per-group rows + the union-agg
    // subquery), so the lineitem HLL+distinct aggregate ran twice per lap.
    dfq("q_hll_union",
      "SELECT l_returnflag AS flag, count(DISTINCT l_orderkey) AS exact, " +
        "  CAST(1 AS BIGINT) AS ok FROM lineitem GROUP BY l_returnflag " +
        "UNION ALL " +
        "SELECT 'zz_union', count(DISTINCT l_orderkey), 1 FROM lineitem " +
        "ORDER BY flag") { (s, dir) =>
      Tables.registerAll(s, dir)
      checkpointedView(s, "graft_hll_s",
        "SELECT l_returnflag AS flag, hll_sketch_agg(l_orderkey, 14) AS sk, " +
          "count(DISTINCT l_orderkey) AS exact FROM lineitem GROUP BY l_returnflag")
      s.sql(
        "WITH g AS (SELECT count(DISTINCT l_orderkey) AS exact FROM lineitem) " +
          "SELECT flag, exact, CAST(CASE WHEN abs(hll_sketch_estimate(sk) - exact) <= 0.05 * exact " +
          "  THEN 1 ELSE 0 END AS BIGINT) AS ok FROM graft_hll_s " +
          "UNION ALL " +
          "SELECT 'zz_union', g.exact, CAST(CASE WHEN " +
          "  abs(hll_sketch_estimate((SELECT hll_union_agg(sk) FROM graft_hll_s)) - g.exact) <= 0.05 * g.exact " +
          "  THEN 1 ELSE 0 END AS BIGINT) FROM g " +
          "ORDER BY flag")
    },

    // Equi-width histogram via width_bucket over an exact integer (cent)
    // domain — bucket edges at 5000-dollar multiples, so edge assignment
    // is integer arithmetic and cannot drift between engines (DuckDB has
    // no width_bucket; its twin re-derives the bucket function with
    // floor division plus the two overflow buckets 0 and n+1). One
    // partial+final hash aggregate — the 100 TB histogram shape.
    sql2("q_histogram",
      "SELECT width_bucket(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT), 0, 11000000, 22) AS bucket, " +
        "count(*) AS n, round(sum(l_extendedprice), 2) AS total " +
        "FROM lineitem GROUP BY 1 ORDER BY 1",
      "WITH b AS (SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c, l_extendedprice AS p FROM lineitem) " +
        "SELECT CASE WHEN c < 0 THEN 0 WHEN c >= 11000000 THEN 23 " +
        "  ELSE CAST(c // 500000 AS BIGINT) + 1 END AS bucket, " +
        "count(*) AS n, round(sum(p), 2) AS total " +
        "FROM b GROUP BY 1 ORDER BY 1"),
  )

  // ===========================================================================
  // §2.6 Sort / limit / top-k
  // ===========================================================================
  private val sorts: Seq[Entry] = Seq(
    // ORDER BY + LIMIT (top-k). Reference:
    // mapd-core/QueryEngine/RelAlgExecutor.cpp:1201-1277 (RelSort),
    // SpeculativeTopN.cpp / StreamingTopN.cpp.
    sql("q_orderby_limit",
      "SELECT o_orderkey, round(o_totalprice, 2) AS price FROM orders " +
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"),

    // LIMIT + OFFSET. Reference: RelAlgExecutor.cpp:1254-1260
    // (dropFirstN/keepFirstN).
    sql("q_limit_offset",
      "SELECT c_custkey, c_name FROM customer ORDER BY c_custkey LIMIT 15 OFFSET 30"),
  )

  // ===========================================================================
  // §2.9 Scalar functions
  // ===========================================================================
  private val scalars: Seq[Entry] = Seq(
    // Math functions. Reference: mapd-core/QueryEngine/ExtensionFunctions.hpp
    // (Acos/Cos/Exp/Floor/Log/power/...), RelAlgTranslator.cpp:1025-1033.
    sql("q_math_fns",
      "SELECT l_orderkey, l_linenumber, round(abs(l_quantity - 25.0), 2) AS ab, " +
        "CAST(ceil(l_discount * 100) AS BIGINT) AS ce, CAST(floor(l_tax * 100) AS BIGINT) AS fl, " +
        "round(sqrt(l_extendedprice), 6) AS sq, round(power(l_quantity, 2), 2) AS p2, " +
        "round(exp(l_discount), 8) AS ex, round(ln(l_extendedprice), 8) AS lg, " +
        "round(sin(l_quantity), 8) AS sn, round(cos(l_quantity), 8) AS cs, " +
        "CAST(sign(l_quantity - 25.0) AS BIGINT) AS sg, " +
        "round(atan(l_discount), 8) AS at, round(tan(l_tax), 8) AS tn " +
        "FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 500"),

    // Remaining reference math surface: asin/acos/cot/pi/degrees/radians
    // (mapd-core/QueryEngine/ExtensionFunctions.hpp whitelist) + log10/mod.
    sql("q_math_fns2",
      "SELECT l_orderkey, l_linenumber, " +
        "round(asin(l_discount), 8) AS asn, round(acos(l_discount), 8) AS acs, " +
        "round(cot(l_quantity + 0.5), 8) AS ct, " +
        "round(degrees(l_tax), 8) AS dg, round(radians(l_quantity), 8) AS rd, " +
        "round(pi() * l_linenumber, 8) AS pim, " +
        "round(log10(l_extendedprice), 8) AS lg10, " +
        "CAST(mod(l_orderkey, 7) AS BIGINT) AS md " +
        "FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 500"),

    // Numeric TRUNCATE (toward zero). Spark has no numeric trunc —
    // CAST(double AS BIGINT) truncates; DuckDB CAST rounds, so its side
    // spells trunc() explicitly. Reference: RelAlgTranslator.cpp:1025-1033.
    sql2("q_truncate",
      "SELECT l_orderkey, l_linenumber, CAST(l_extendedprice AS BIGINT) AS tr, " +
        "CAST((l_discount - 0.05) * 100 AS BIGINT) AS tr_signed " +
        "FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 500",
      "SELECT l_orderkey, l_linenumber, CAST(trunc(l_extendedprice) AS BIGINT) AS tr, " +
        "CAST(trunc((l_discount - 0.05) * 100) AS BIGINT) AS tr_signed " +
        "FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 500"),

    // EXTRACT. Reference: mapd-core/QueryEngine/ExtractFromTime.h:64.
    sql("q_extract",
      "SELECT CAST(extract(year FROM o_orderdate) AS BIGINT) AS y, " +
        "CAST(extract(month FROM o_orderdate) AS BIGINT) AS m, count(*) AS n " +
        "FROM orders GROUP BY 1, 2 ORDER BY 1, 2"),

    // Finer EXTRACT fields (reference field list: ExtractFromTime.h:64).
    // DOW is 1-based (Sunday=1) in Spark, 0-based in DuckDB → normalize.
    sql2("q_extract_fields",
      "SELECT o_orderkey, CAST(extract(day FROM o_orderdate) AS BIGINT) AS d, " +
        "CAST(extract(quarter FROM o_orderdate) AS BIGINT) AS q, " +
        "CAST(extract(dow FROM o_orderdate) - 1 AS BIGINT) AS dw, " +
        "CAST(extract(doy FROM o_orderdate) AS BIGINT) AS dy " +
        "FROM orders ORDER BY o_orderkey LIMIT 300",
      "SELECT o_orderkey, CAST(extract(day FROM o_orderdate) AS BIGINT) AS d, " +
        "CAST(extract(quarter FROM o_orderdate) AS BIGINT) AS q, " +
        "CAST(extract(dow FROM o_orderdate) AS BIGINT) AS dw, " +
        "CAST(extract(doy FROM o_orderdate) AS BIGINT) AS dy " +
        "FROM orders ORDER BY o_orderkey LIMIT 300"),

    // DATE_TRUNC. Reference: mapd-core/QueryEngine/DateTruncate.h:60.
    sql("q_date_trunc",
      "SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mo, count(*) AS n, " +
        "round(sum(o_totalprice), 2) AS s FROM orders GROUP BY 1 ORDER BY 1"),

    // DATEDIFF / date arithmetic. Reference:
    // mapd-core/QueryEngine/DateAdd.cpp, RelAlgTranslator.h:91 translateDateminus.
    sql2("q_date_arith",
      "SELECT o_orderkey, CAST(datediff(CAST(o_orderdate AS DATE), DATE '1995-01-01') AS BIGINT) AS d, " +
        "date_add(CAST(o_orderdate AS DATE), 30) AS plus30 " +
        "FROM orders ORDER BY o_orderkey LIMIT 200",
      "SELECT o_orderkey, CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS d, " +
        "CAST(o_orderdate AS DATE) + 30 AS plus30 " +
        "FROM orders ORDER BY o_orderkey LIMIT 200"),

    // Interval arithmetic. Reference: translateDateminus /
    // DATETIME_PLUS rewrite (RelAlgTranslator.h:91, DateTimePlusRewrite.cpp).
    sql("q_interval_arith",
      "SELECT o_orderkey, CAST(o_orderdate + INTERVAL '1' MONTH AS DATE) AS plus_mo, " +
        "CAST(o_orderdate - INTERVAL '7' DAY AS DATE) AS minus_wk " +
        "FROM orders ORDER BY o_orderkey LIMIT 200"),

    // DECIMAL aggregation (exact fixed-point, engine-order independent).
    // Reference type: kNUMERIC/kDECIMAL, mapd-core/Shared/sqltypes.h:224-227.
    // The aggregation runs in DECIMAL on both engines; the surface is exact
    // integer cents because decimal *rendering* differs (Spark parquet
    // writes DECIMAL(18,2) "123.40", DuckDB prints "123.4" → hash mismatch
    // even with identical values).
    sql("q_decimal_agg",
      "SELECT o_orderstatus, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS s_cents, " +
        "CAST(min(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS mn_cents " +
        "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"),

    // String functions. Reference: mapd-core/QueryEngine/StringFunctions.cpp
    // (LENGTH/CHAR_LENGTH), StringOpsIR.cpp (string compares).
    sql("q_string_fns",
      "SELECT c_custkey, CAST(length(c_name) AS BIGINT) AS len, upper(c_mktsegment) AS up, " +
        "lower(c_name) AS lo, substr(c_name, 1, 8) AS pre, c_name || ':' || c_mktsegment AS tag " +
        "FROM customer ORDER BY c_custkey LIMIT 300"),

    // String comparison (dictionary fast path in the reference).
    // Reference: mapd-core/Tests/ExecuteTest.cpp StringCompare.
    sql("q_string_compare",
      "SELECT count(*) AS n FROM customer WHERE c_mktsegment < 'FURNITURE' AND c_name >= 'Customer#000000100'"),

    // Array ITEM + length. Reference: mapd-core/QueryEngine/ArrayOps.cpp
    // (array_at), RelAlgTranslator.cpp:1016-1018.
    sql2("q_array_item",
      "SELECT vec_id, element_at(embedding, 1) AS e1, CAST(size(embedding) AS BIGINT) AS dim " +
        "FROM embeddings ORDER BY vec_id LIMIT 200",
      "SELECT vec_id, embedding[1] AS e1, CAST(len(embedding) AS BIGINT) AS dim " +
        "FROM embeddings ORDER BY vec_id LIMIT 200"),

    // UNNEST with position. Reference: mapd-core/Shared/sqldefs.h:51 kUNNEST.
    sql2("q_array_unnest",
      "SELECT vec_id, CAST(pos AS BIGINT) AS pos, val FROM embeddings " +
        "LATERAL VIEW posexplode(embedding) AS pos, val WHERE vec_id < 5 ORDER BY vec_id, pos",
      "SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS pos, unnest(embedding) AS val " +
        "FROM embeddings WHERE vec_id < 5 ORDER BY vec_id, pos"),

    // Array ANY/ALL quantified predicate. Reference: mapd-core/Shared/
    // sqldefs.h:64 kANY/kALL, ExecuteTest.cpp ArrayAnyAndAll.
    sql2("q_array_any",
      "SELECT count(*) AS n_any, CAST(sum(CASE WHEN forall(embedding, x -> x > -0.5) THEN 1 ELSE 0 END) AS BIGINT) AS n_all " +
        "FROM embeddings WHERE exists(embedding, x -> x > 0.45)",
      "SELECT count(*) AS n_any, CAST(sum(CASE WHEN len(list_filter(embedding, x -> x <= -0.5)) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_all " +
        "FROM embeddings WHERE len(list_filter(embedding, x -> x > 0.45)) > 0"),

    // String arrays (reference arrays include TEXT[] — mapd-core/Shared/
    // sqltypes.h:232-239, ArrayOps.cpp): ITEM, UNNEST and ANY in one pass
    // over split(c_name, '#').
    sql2("q_array_string",
      "SELECT c_custkey, part, element_at(split(c_name, '#'), 2) AS item2, " +
        "array_contains(split(c_name, '#'), 'Customer') AS has_cust " +
        "FROM customer LATERAL VIEW explode(split(c_name, '#')) AS part " +
        "WHERE c_custkey <= 100 ORDER BY c_custkey, part",
      "SELECT c_custkey, unnest(string_split(c_name, '#')) AS part, " +
        "string_split(c_name, '#')[2] AS item2, " +
        "list_contains(string_split(c_name, '#'), 'Customer') AS has_cust " +
        "FROM customer WHERE c_custkey <= 100 ORDER BY c_custkey, part"),

    // JSON field extraction (events.props carries JSON metadata).
    sql2("q_json_extract",
      "SELECT CAST(sum(CAST(get_json_object(props, '$.k') AS BIGINT)) AS BIGINT) AS s, count(*) AS n " +
        "FROM events WHERE event_type = 'purchase'",
      "SELECT CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS s, count(*) AS n " +
        "FROM events WHERE event_type = 'purchase'"),

    // MAP type surface (beyond ref): per order, a linenumber→quantity
    // map built by aggregation, then key lookup / cardinality /
    // value-sum. The inner GROUP BY makes map keys unique FIRST — the
    // synthetic lineitem does not keep (orderkey, linenumber) unique and
    // Spark's map_from_entries rejects duplicate keys. Quantities are
    // integral doubles, so sums are exact in any entry order and the
    // collect_list's nondeterministic order cannot leak into any output
    // column. DuckDB's map subscript returns a LIST (empty when absent),
    // hence the [1] unwrap in the twin.
    sql2("q_map_fns",
      "SELECT l_orderkey, CAST(cardinality(m) AS BIGINT) AS n_lines, " +
        "round(element_at(m, 1), 2) AS q1, " +
        "round(aggregate(map_values(m), CAST(0.0 AS DOUBLE), (a, x) -> a + x), 2) AS qsum " +
        "FROM (SELECT l_orderkey, map_from_entries(collect_list(struct(l_linenumber, q))) AS m " +
        "  FROM (SELECT l_orderkey, l_linenumber, sum(l_quantity) AS q " +
        "    FROM lineitem WHERE l_orderkey < 500 GROUP BY l_orderkey, l_linenumber) g " +
        "  GROUP BY l_orderkey) t " +
        "ORDER BY l_orderkey",
      "SELECT l_orderkey, CAST(cardinality(m) AS BIGINT) AS n_lines, " +
        "round(m[1][1], 2) AS q1, " +
        "round(list_aggregate(map_values(m), 'sum'), 2) AS qsum " +
        "FROM (SELECT l_orderkey, map_from_entries(list(struct_pack(k := l_linenumber, v := q))) AS m " +
        "  FROM (SELECT l_orderkey, l_linenumber, sum(l_quantity) AS q " +
        "    FROM lineitem WHERE l_orderkey < 500 GROUP BY l_orderkey, l_linenumber) g " +
        "  GROUP BY l_orderkey) t " +
        "ORDER BY l_orderkey"),

    // Time-bucketed event aggregation (epoch seconds keep the compare
    // engine-neutral: parquet ns timestamps truncate to µs in Spark).
    sql2("q_events_window",
      "SELECT CAST(unix_timestamp(date_trunc('hour', ts)) AS BIGINT) AS h, event_type, " +
        "count(*) AS n, round(sum(value), 2) AS sv FROM events GROUP BY 1, 2 ORDER BY 1, 2",
      "SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h, event_type, " +
        "count(*) AS n, round(sum(value), 2) AS sv FROM events GROUP BY 1, 2 ORDER BY 1, 2"),

    // HOPPING (sliding) windows — Spark's native slide support
    // (window(ts, '1 hour', '15 minutes')): each event lands in exactly
    // four epoch-aligned windows. DuckDB re-derives membership from first
    // principles: window starts are floor(t/900)·900 − 900k for k=0..3
    // (k≤3 ⟺ start+3600 > t, always true for k in range, never for k≥4).
    dfq("q_events_hopping",
      "WITH e AS (SELECT CAST(floor(epoch(ts) / 900) * 900 AS BIGINT) AS base, " +
        "    event_type, value FROM events), " +
        "w AS (SELECT base - 900 * k.k AS h, event_type, value " +
        "  FROM e CROSS JOIN (SELECT unnest(range(4)) AS k) k) " +
        "SELECT h, event_type, count(*) AS n, round(sum(value), 2) AS sv " +
        "FROM w GROUP BY 1, 2 ORDER BY 1, 2") { (s, dir) =>
      Tables.load(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sv"))
        .select(col("window.start").cast("long").as("h"), col("event_type"),
          col("n"), col("sv"))
        .orderBy("h", "event_type")
    },

    // Robust outlier gate (Tukey fences on EXACT interpolated quartiles —
    // the data-curation step that drops metric rows with corrupted
    // values). Per-group fences are tiny → broadcast to the fact scan;
    // at 100 TB the exact percentile is the only shuffle-bound piece and
    // it reduces per-group. Fences are 6-dp-rounded on BOTH engines
    // before comparing, so the inequality is cross-engine stable (same
    // residual-ulp caveat as the cosine entries).
    dfq("q_outlier_iqr",
      "WITH q AS (SELECT event_type, quantile_cont(value, 0.25) AS q1, " +
        "    quantile_cont(value, 0.75) AS q3 FROM events GROUP BY 1), " +
        "f AS (SELECT event_type, q1, q3, round(q1 - 1.5 * (q3 - q1), 6) AS lo, " +
        "    round(q3 + 1.5 * (q3 - q1), 6) AS hi FROM q) " +
        "SELECT e.event_type, count(*) AS n, " +
        "  CAST(sum(CASE WHEN e.value < f.lo OR e.value > f.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers, " +
        "  round(any_value(f.q1), 6) AS q1_r, round(any_value(f.q3), 6) AS q3_r " +
        "FROM events e JOIN f USING (event_type) GROUP BY 1 ORDER BY 1") { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
      val fences = ev.groupBy("event_type")
        .agg(expr("percentile(value, 0.25)").as("q1"),
          expr("percentile(value, 0.75)").as("q3"))
        .select(col("event_type"), col("q1"), col("q3"),
          round(col("q1") - lit(1.5) * (col("q3") - col("q1")), 6).as("lo"),
          round(col("q3") + lit(1.5) * (col("q3") - col("q1")), 6).as("hi"))
      ev.join(broadcast(fences), Seq("event_type"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(col("value") < col("lo") || col("value") > col("hi"), 1L)
            .otherwise(0L)).as("n_outliers"),
          round(first("q1"), 6).as("q1_r"), round(first("q3"), 6).as("q3_r"))
        .orderBy("event_type")
    },

    // Spark's NATIVE session windows (session_window(ts, gap) — dynamic
    // merging aggregation, distinct from the SQL gaps-and-islands twin
    // below). Semantics are half-open: an event at exactly previous-end
    // (gap boundary) starts a NEW session, so the DuckDB twin marks a
    // new session at diff >= gap, in µs to match Spark's precision.
    dfq("q_session_window",
      "WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS t, value FROM events), " +
        "marked AS (SELECT user_id, event_id, t, value, " +
        "  CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w >= 1800000000 THEN 1 ELSE 0 END AS new_s " +
        "  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)), " +
        "sess AS (SELECT user_id, t, value, sum(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id " +
        "  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM marked) " +
        "SELECT user_id, min(t) // 1000000 AS start_s, " +
        "  max(t) // 1000000 + 1800 AS end_s, count(*) AS n, " +
        "  round(sum(value), 2) AS sv " +
        "FROM sess GROUP BY user_id, sid ORDER BY user_id, start_s") { (s, dir) =>
      Tables.load(s, dir, "events")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sv"))
        .select(col("user_id"),
          col("session_window.start").cast("long").as("start_s"),
          col("session_window.end").cast("long").as("end_s"),
          col("n"), col("sv"))
        .orderBy("user_id", "start_s")
    },

    // session_window with a DYNAMIC (column-valued) gap: views time out
    // after 30 minutes, everything else after 60 — per-event-type
    // engagement decay, a real sessionization ask. Semantics shift from
    // lag-gaps to INTERVAL MERGING: each event spans [t, t+gap) and
    // overlapping spans coalesce, so the DuckDB twin marks a new session
    // where t >= the running max of all previous span ends (half-open,
    // like the fixed-gap entry), and a session's end is the max merged
    // span end — not last-event + constant.
    dfq("q_session_window_dynamic",
      "WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS t, " +
        "  epoch_us(ts) + CASE WHEN event_type = 'view' THEN 1800000000 ELSE 3600000000 END AS span_end, " +
        "  value FROM events), " +
        "marked AS (SELECT user_id, event_id, t, span_end, value, " +
        "  CASE WHEN max(span_end) OVER w IS NULL OR t >= max(span_end) OVER w THEN 1 ELSE 0 END AS new_s " +
        "  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id " +
        "    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)), " +
        "sess AS (SELECT user_id, t, span_end, value, sum(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id " +
        "  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM marked) " +
        "SELECT user_id, min(t) // 1000000 AS start_s, " +
        "  max(span_end) // 1000000 AS end_s, count(*) AS n, " +
        "  round(sum(value), 2) AS sv " +
        "FROM sess GROUP BY user_id, sid ORDER BY user_id, start_s") { (s, dir) =>
      Tables.load(s, dir, "events")
        .groupBy(session_window(col("ts"),
          // string literals, not INTERVAL exprs: the session_window
          // analyzer wants CalendarIntervalType and ANSI interval
          // literals parse as DayTimeIntervalType
          when(col("event_type") === "view", lit("30 minutes"))
            .otherwise(lit("60 minutes"))), col("user_id"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sv"))
        .select(col("user_id"),
          col("session_window.start").cast("long").as("start_s"),
          col("session_window.end").cast("long").as("end_s"),
          col("n"), col("sv"))
        .orderBy("user_id", "start_s")
    },

    // Batch sessionization via windows (gap > 1800 s closes a session) —
    // the SQL twin of streaming/EventStream.sessionize, differentially
    // checked. Epoch seconds + event_id tie-break keep both engines'
    // session boundaries identical.
    sql2("q_sessionize_batch",
      "WITH ts_e AS (SELECT user_id, event_id, CAST(unix_timestamp(ts) AS BIGINT) AS t, value FROM events), " +
        "marked AS (SELECT user_id, event_id, t, value, " +
        "  CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > 1800 THEN 1 ELSE 0 END AS new_s " +
        "  FROM ts_e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)), " +
        "sess AS (SELECT user_id, t, value, " +
        "  sum(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id " +
        "    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM marked) " +
        "SELECT user_id, CAST(sid AS BIGINT) AS sid, count(*) AS n_events, " +
        "round(sum(value), 2) AS total_value " +
        "FROM sess GROUP BY user_id, sid ORDER BY user_id, sid",
      // floor() before the BIGINT cast: DuckDB casts round while Spark's
      // unix_timestamp truncates — an unfloored epoch differs by 1s on
      // fractional timestamps and flips sessions whose gap straddles 1800.
      "WITH ts_e AS (SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS t, value FROM events), " +
        "marked AS (SELECT user_id, event_id, t, value, " +
        "  CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > 1800 THEN 1 ELSE 0 END AS new_s " +
        "  FROM ts_e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)), " +
        "sess AS (SELECT user_id, t, value, " +
        "  sum(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id " +
        "    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM marked) " +
        "SELECT user_id, CAST(sid AS BIGINT) AS sid, count(*) AS n_events, " +
        "round(sum(value), 2) AS total_value " +
        "FROM sess GROUP BY user_id, sid ORDER BY user_id, sid"),

    // Window function top-k per group (beyond-reference: MapD 3.6.1 predates
    // window support — SURVEY §2.5; free in Spark, graded as engine surface).
    sql("q_topk_per_group",
      "SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price, CAST(rn AS BIGINT) AS rn FROM " +
        "(SELECT o_custkey, o_orderkey, o_totalprice, " +
        "row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders) t " +
        "WHERE rn <= 3 AND o_custkey < 100 ORDER BY o_custkey, rn"),

    // Set operation (beyond-reference; SURVEY §2.7 — absent in MapD 3.6.1).
    sql("q_union",
      "SELECT k FROM (SELECT c_nationkey AS k FROM customer UNION SELECT s_nationkey AS k FROM supplier) t " +
        "ORDER BY k"),

    // INTERSECT / EXCEPT (§2.7 — absent in MapD 3.6.1; free in Spark).
    sql("q_intersect_except",
      "SELECT " +
        "(SELECT count(*) FROM (SELECT o_custkey FROM orders WHERE o_totalprice > 200000 " +
        " INTERSECT SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING') t1) AS n_common, " +
        "(SELECT count(*) FROM (SELECT c_custkey FROM customer " +
        " EXCEPT SELECT o_custkey FROM orders) t2) AS n_never_ordered"),

    // Window frame aggregates: running sum + centered moving average
    // (§2.5 beyond-reference). The oracle stays the global-window SQL;
    // the Spark side computes the SAME relation through
    // [[graft.operators.Prefix]] — a partition-less `ROWS UNBOUNDED
    // PRECEDING` window was the one plan in the repo that funnels the
    // whole relation into a single task ("No Partition Defined" in every
    // r7/r8 bench tail). Now: distributed grouped agg → two-pass prefix
    // sum (range-partitioned per-partition windows + broadcast offsets)
    // → banded-join moving average → top-500 by the global index. No
    // single-partition WindowExec at any scale (PlanAuditSpec-asserted).
    dfq("q_window_running",
      "SELECT o_orderkey, CAST(sum(cnt) OVER (ORDER BY o_orderkey " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_n, " +
        "round(avg(price) OVER (ORDER BY o_orderkey ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING), 4) AS ma5 " +
        "FROM (SELECT o_orderkey, count(*) AS cnt, sum(o_totalprice) AS price " +
        "FROM orders GROUP BY o_orderkey) t ORDER BY o_orderkey LIMIT 500") { (s, dir) =>
      val t = Tables.load(s, dir, "orders")
        .groupBy("o_orderkey")
        .agg(count(lit(1)).as("cnt"), sum("o_totalprice").as("price"))
      val run = graft.operators.Prefix.withRunningSums(
        t, "o_orderkey", Seq("cnt" -> "running_n"))
      // The LIMIT 500 output depends only on global rows 1..502 (the
      // 2-FOLLOWING frame of row 500 ends at 502) — bound the banded
      // ma5 join to those before exploding contributors; the prefix
      // pass above still covers the full relation.
      val bounded = run.filter(col("_idx") <= 502)
      graft.operators.Prefix.withCenteredAvg(bounded, "_idx", "price", "ma5raw")
        .filter(col("_idx") <= 500)
        .select(col("o_orderkey"), col("running_n").cast("long"),
          round(col("ma5raw"), 4).as("ma5"))
        .orderBy("o_orderkey")
    },

    // LEAD/LAG/RANK/DENSE_RANK/NTILE (§2.5 beyond-reference).
    sql("q_window_lead_lag",
      "SELECT o_custkey, o_orderkey, " +
        "CAST(lag(o_orderkey) OVER w AS BIGINT) AS prev_o, " +
        "CAST(lead(o_orderkey) OVER w AS BIGINT) AS next_o, " +
        "CAST(rank() OVER w AS BIGINT) AS rnk, " +
        "CAST(dense_rank() OVER w AS BIGINT) AS drnk, " +
        "CAST(ntile(4) OVER w AS BIGINT) AS quartile " +
        "FROM orders WHERE o_custkey < 50 " +
        "WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey) " +
        "ORDER BY o_custkey, o_orderkey"),

    // Value-based (RANGE) window frame over event time: rolling 1-hour
    // sum per user (§2.5 beyond-reference). Epoch-seconds ordering key so
    // both engines bound the frame identically; RANGE peers make tie
    // handling deterministic.
    sql2("q_window_range",
      "SELECT event_id, user_id, CAST(unix_timestamp(ts) AS BIGINT) AS t, " +
        "round(sum(value) OVER (PARTITION BY user_id ORDER BY CAST(unix_timestamp(ts) AS BIGINT) " +
        "RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 2) AS sv1h " +
        "FROM events ORDER BY user_id, t, event_id LIMIT 2000",
      // floor(epoch): DuckDB's double→BIGINT cast ROUNDS while Spark's
      // unix_timestamp truncates — sub-second timestamps would drift ±1 s.
      "SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t, " +
        "round(sum(value) OVER (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT) " +
        "RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 2) AS sv1h " +
        "FROM events ORDER BY user_id, t, event_id LIMIT 2000"),

    // Flagship analytic shapes (TPC-H Q3/Q5 analogues over the test
    // schema): realistic filter + multi-join + aggregate + top-k plans —
    // the dims broadcast, the aggregate combines map-side, the top-k is
    // TakeOrderedAndProject. Q5's s_nationkey = c_nationkey closes a
    // cycle through the join graph (the JOB-style shape COMPASS targets).
    sql("q_flagship_shipping",
      "SELECT o_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, " +
        "o_orderdate, o_orderpriority " +
        "FROM customer JOIN orders ON c_custkey = o_custkey " +
        "JOIN lineitem ON l_orderkey = o_orderkey " +
        "WHERE c_mktsegment = 'BUILDING' " +
        "AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00' " +
        "AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00' " +
        "GROUP BY o_orderkey, o_orderdate, o_orderpriority " +
        "ORDER BY revenue DESC, o_orderkey LIMIT 10"),

    sql("q_flagship_volume",
      "SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue " +
        "FROM region JOIN nation ON n_regionkey = r_regionkey " +
        "JOIN customer ON c_nationkey = n_nationkey " +
        "JOIN orders ON o_custkey = c_custkey " +
        "JOIN lineitem ON l_orderkey = o_orderkey " +
        "JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey " +
        "WHERE r_name = 'ASIA' " +
        "GROUP BY n_name ORDER BY revenue DESC, n_name"),

    // FIRST_VALUE / LAST_VALUE with null skipping (beyond-ref): Spark
    // takes ignoreNulls as a function argument, DuckDB as a clause.
    sql2("q_window_first_last",
      "SELECT o_custkey, o_orderkey, " +
        "CAST(first_value(o_orderkey) OVER w AS BIGINT) AS first_o, " +
        "CAST(last_value(o_orderkey) OVER w AS BIGINT) AS last_o, " +
        "CAST(first_value(nullif(o_orderkey % 3, 0), true) OVER w AS BIGINT) AS first_nz " +
        "FROM orders WHERE o_custkey < 40 " +
        "WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) " +
        "ORDER BY o_custkey, o_orderkey",
      "SELECT o_custkey, o_orderkey, " +
        "CAST(first_value(o_orderkey) OVER w AS BIGINT) AS first_o, " +
        "CAST(last_value(o_orderkey) OVER w AS BIGINT) AS last_o, " +
        "CAST(first_value(nullif(o_orderkey % 3, 0) IGNORE NULLS) OVER w AS BIGINT) AS first_nz " +
        "FROM orders WHERE o_custkey < 40 " +
        "WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) " +
        "ORDER BY o_custkey, o_orderkey"),

    // Ordered string aggregation (beyond-reference): Spark has no
    // ORDER BY inside an aggregate, so the deterministic form is
    // sort-then-concat; DuckDB's string_agg orders natively.
    sql2("q_string_agg",
      "SELECT c_nationkey, concat_ws(',', array_sort(collect_list(c_mktsegment))) AS segs " +
        "FROM customer WHERE c_custkey <= 60 GROUP BY c_nationkey ORDER BY c_nationkey",
      "SELECT c_nationkey, string_agg(c_mktsegment, ',' ORDER BY c_mktsegment) AS segs " +
        "FROM customer WHERE c_custkey <= 60 GROUP BY c_nationkey ORDER BY c_nationkey"),

    // Position-independent union (beyond-reference): Spark exposes it on
    // the DataFrame API only (unionByName), DuckDB as UNION ALL BY NAME.
    dfq("q_union_by_name",
      "SELECT k, v FROM (" +
        "SELECT c_custkey AS k, c_mktsegment AS v FROM customer WHERE c_custkey <= 5 " +
        "UNION ALL BY NAME " +
        "SELECT s_name AS v, s_suppkey + 1000 AS k FROM supplier WHERE s_suppkey <= 5" +
        ") t ORDER BY k") { (s, dir) =>
      val c = Tables.load(s, dir, "customer").filter(col("c_custkey") <= 5)
        .select(col("c_custkey").as("k"), col("c_mktsegment").as("v"))
      val sup = Tables.load(s, dir, "supplier").filter(col("s_suppkey") <= 5)
        .select(col("s_name").as("v"), (col("s_suppkey") + 1000).as("k"))
      c.unionByName(sup).orderBy("k")
    },

    // GROUP BY ALL (beyond-reference; both engines resolve the
    // non-aggregated output columns).
    sql("q_group_by_all",
      "SELECT l_returnflag, l_linestatus, count(*) AS n, " +
        "round(sum(l_quantity), 2) AS q FROM lineitem GROUP BY ALL " +
        "ORDER BY l_returnflag, l_linestatus"),

    // Higher-order array functions (beyond-reference): transform /
    // filter / exists / aggregate over a constructed array — dialect
    // twins (Spark lambda HOFs vs DuckDB list_* functions).
    sql2("q_array_hof",
      "SELECT c_custkey, " +
        "CAST(aggregate(transform(arr, x -> x * 2), 0L, (a, x) -> a + x) AS BIGINT) AS s2, " +
        "CAST(size(filter(arr, x -> x % 2 = 0)) AS BIGINT) AS n_even, " +
        "exists(arr, x -> x > 90) AS has_big " +
        "FROM (SELECT c_custkey, array(c_custkey, c_nationkey, c_custkey % 7) AS arr " +
        "FROM customer WHERE c_custkey <= 100) t ORDER BY c_custkey",
      "SELECT c_custkey, " +
        "CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(arr, x -> x * 2)), (a, x) -> a + x) AS BIGINT) AS s2, " +
        "CAST(len(list_filter(arr, x -> x % 2 = 0)) AS BIGINT) AS n_even, " +
        "len(list_filter(arr, x -> x > 90)) > 0 AS has_big " +
        "FROM (SELECT c_custkey, [c_custkey, c_nationkey, c_custkey % 7] AS arr " +
        "FROM customer WHERE c_custkey <= 100) t ORDER BY c_custkey"),

    // Distribution window functions PERCENT_RANK / CUME_DIST / NTH_VALUE
    // (§2.5 beyond-reference).
    sql("q_window_rank_stats",
      "SELECT o_custkey, o_orderkey, " +
        "round(percent_rank() OVER w, 6) AS prnk, " +
        "round(cume_dist() OVER w, 6) AS cd, " +
        "CAST(nth_value(o_orderkey, 2) OVER (PARTITION BY o_custkey ORDER BY o_orderkey " +
        "  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS BIGINT) AS second_o " +
        "FROM orders WHERE o_custkey < 40 " +
        "WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey) " +
        "ORDER BY o_custkey, o_orderkey"),

    // NTILE — equi-depth quartiles per group (the percentile-bucket
    // assignment of feature binning). Fully-qualified tie-break makes
    // both engines' tile boundaries identical; the per-(flag, tile)
    // aggregate pins boundary placement, not just tile sizes. Window
    // partitions on l_returnflag — distributed, never single-task.
    sql("q_window_ntile",
      "SELECT l_returnflag, tile, count(*) AS n, round(sum(l_quantity), 2) AS sq " +
        "FROM (SELECT l_returnflag, l_quantity, " +
        "  ntile(4) OVER (PARTITION BY l_returnflag " +
        "    ORDER BY l_quantity, l_orderkey, l_linenumber) AS tile " +
        "  FROM lineitem) t " +
        "GROUP BY l_returnflag, tile ORDER BY l_returnflag, tile"),

    // Markov transition counts — which event type follows which, per
    // user session stream (the path-analysis primitive). lead() over the
    // per-user event-time order, then a plain count aggregate; the
    // window shuffles once on user_id at any scale.
    sql("q_event_transitions",
      "SELECT event_type, next_type, count(*) AS n " +
        "FROM (SELECT event_type, lead(event_type) OVER (" +
        "    PARTITION BY user_id ORDER BY ts, event_id) AS next_type " +
        "  FROM events) t " +
        "WHERE next_type IS NOT NULL " +
        "GROUP BY event_type, next_type ORDER BY event_type, next_type"),

    // Edit distance (beyond-reference) — the fuzzy-matching primitive a
    // dedup pipeline uses for short fields (names, titles); identical
    // Levenshtein semantics in both engines.
    sql("q_string_distance",
      "SELECT c_custkey, CAST(levenshtein(c_name, 'Customer#000000001') AS BIGINT) AS dist " +
        "FROM customer WHERE c_custkey <= 200 ORDER BY c_custkey"),

    // Integer bitwise surface (beyond-reference): AND/OR/XOR, shifts,
    // popcount. Spark spells xor `^` and shifts as functions; DuckDB
    // spells xor as a function and shifts as operators.
    sql2("q_bit_ops",
      "SELECT CAST(sum(l_orderkey & 255) AS BIGINT) AS s_and, " +
        "CAST(sum(l_orderkey | l_linenumber) AS BIGINT) AS s_or, " +
        "CAST(sum(l_orderkey ^ l_linenumber) AS BIGINT) AS s_xor, " +
        "CAST(sum(shiftleft(l_linenumber, 3)) AS BIGINT) AS s_shl, " +
        "CAST(sum(shiftright(l_orderkey, 2)) AS BIGINT) AS s_shr, " +
        "CAST(sum(bit_count(l_orderkey)) AS BIGINT) AS s_pop " +
        "FROM lineitem",
      "SELECT CAST(sum(l_orderkey & 255) AS BIGINT) AS s_and, " +
        "CAST(sum(l_orderkey | l_linenumber) AS BIGINT) AS s_or, " +
        "CAST(sum(xor(l_orderkey, l_linenumber)) AS BIGINT) AS s_xor, " +
        "CAST(sum(l_linenumber << 3) AS BIGINT) AS s_shl, " +
        "CAST(sum(l_orderkey >> 2) AS BIGINT) AS s_shr, " +
        "CAST(sum(bit_count(l_orderkey)) AS BIGINT) AS s_pop " +
        "FROM lineitem"),

    // Extended string functions (beyond-reference: 3.6.1 has only
    // LENGTH/CHAR_LENGTH — SURVEY §2.9; free in Spark).
    sql2("q_string_fns2",
      "SELECT c_custkey, trim(c_name) AS t, lpad(c_mktsegment, 12, '.') AS lp, " +
        "rpad(c_mktsegment, 12, '.') AS rp, replace(c_name, 'Customer', 'C') AS rep, " +
        "reverse(c_mktsegment) AS rev, repeat(substr(c_name, 1, 2), 2) AS rpt, " +
        "CAST(instr(c_name, '#') AS BIGINT) AS pos, initcap(lower(c_mktsegment)) AS ic, " +
        "split_part(c_name, '#', 2) AS part2 " +
        "FROM customer ORDER BY c_custkey LIMIT 300",
      "SELECT c_custkey, trim(c_name) AS t, lpad(c_mktsegment, 12, '.') AS lp, " +
        "rpad(c_mktsegment, 12, '.') AS rp, replace(c_name, 'Customer', 'C') AS rep, " +
        "reverse(c_mktsegment) AS rev, repeat(substr(c_name, 1, 2), 2) AS rpt, " +
        "CAST(instr(c_name, '#') AS BIGINT) AS pos, " +
        "upper(substr(lower(c_mktsegment), 1, 1)) || substr(lower(c_mktsegment), 2) AS ic, " +
        "split_part(c_name, '#', 2) AS part2 " +
        "FROM customer ORDER BY c_custkey LIMIT 300"),

    // Explicit NULLS FIRST placement under a LIMIT that cuts across the
    // null group — engines DIFFER on default null ordering (Spark ASC
    // defaults nulls-first, DuckDB nulls-last), so only the explicit
    // form is portable; the LIMIT makes wrong placement change the rows.
    sql("q_nulls_order",
      "SELECT k, l_orderkey FROM " +
        "(SELECT nullif(l_linenumber, 3) AS k, l_orderkey FROM lineitem " +
        " WHERE l_orderkey < 100) t " +
        "ORDER BY k ASC NULLS FIRST, l_orderkey LIMIT 30"),

    // INTERSECT ALL / EXCEPT ALL multiplicity semantics (beyond-ref).
    sql("q_set_all",
      "SELECT " +
        "(SELECT count(*) FROM (SELECT l_orderkey FROM lineitem WHERE l_linenumber <= 2 " +
        "  INTERSECT ALL SELECT l_orderkey FROM lineitem WHERE l_quantity > 10) t1) AS n_intersect_all, " +
        "(SELECT count(*) FROM (SELECT l_orderkey FROM lineitem WHERE l_linenumber <= 2 " +
        "  EXCEPT ALL SELECT l_orderkey FROM lineitem WHERE l_quantity > 10) t2) AS n_except_all"),

    // Correlated LATERAL subquery with per-row top-2 (beyond-ref).
    sql("q_lateral",
      "SELECT c_custkey, o_orderkey, o_total FROM customer, " +
        "LATERAL (SELECT o_orderkey, o_totalprice AS o_total FROM orders " +
        "  WHERE o_custkey = c_custkey ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) " +
        "WHERE c_custkey < 50 ORDER BY c_custkey, o_total DESC, o_orderkey"),

    // COALESCE / GREATEST / LEAST / NULLIF composition.
    sql("q_null_fns",
      "SELECT count(*) AS n, " +
        "CAST(sum(coalesce(nullif(l_linenumber, 1), 0)) AS BIGINT) AS s_nz, " +
        "round(sum(greatest(l_discount, l_tax)), 2) AS s_max, " +
        "round(sum(least(l_discount, l_tax)), 2) AS s_min " +
        "FROM lineitem"),

    // Error-safe (TRY) functions — ANSI-mode-proof arithmetic and casts:
    // Spark's try_divide/try_cast return NULL where strict evaluation
    // would raise; the DuckDB twin re-derives the same nulls with
    // nullif-protected division and its own TRY_CAST. The nullif(...,1)
    // makes the zero-divisor branch LIVE on every linenumber=1 row, and
    // the cast column is MOSTLY-CLEAN with a ~1% dirty branch (every
    // 97th order carries the non-numeric returnflag) — the scale-sane
    // shape: Spark's failing string→int TRY cast throws-and-catches
    // internally per row (measured 4.2 s/600k rows when EVERY row
    // failed, r13 bench audit; 0.33 s at 1% dirt), and a column that
    // always fails is a schema bug, not a TRY use case.
    sql2("q_try_fns",
      "SELECT count(*) AS n, " +
        "CAST(count(try_divide(l_quantity, l_linenumber - 1)) AS BIGINT) AS n_div, " +
        "round(sum(coalesce(try_divide(l_quantity, l_linenumber - 1), 0)), 2) AS s_div, " +
        "CAST(count(try_cast(CASE WHEN l_orderkey % 97 = 0 THEN l_returnflag " +
        "  ELSE CAST(l_orderkey AS STRING) END AS INT)) AS BIGINT) AS n_cast_mixed, " +
        "CAST(count(try_cast(CAST(l_linenumber AS STRING) AS INT)) AS BIGINT) AS n_cast_ok " +
        "FROM lineitem",
      "SELECT count(*) AS n, " +
        "CAST(count(l_quantity / nullif(l_linenumber - 1, 0)) AS BIGINT) AS n_div, " +
        "round(sum(coalesce(l_quantity / nullif(l_linenumber - 1, 0), 0)), 2) AS s_div, " +
        "CAST(count(TRY_CAST(CASE WHEN l_orderkey % 97 = 0 THEN l_returnflag " +
        "  ELSE CAST(l_orderkey AS VARCHAR) END AS INT)) AS BIGINT) AS n_cast_mixed, " +
        "CAST(count(TRY_CAST(CAST(l_linenumber AS VARCHAR) AS INT)) AS BIGINT) AS n_cast_ok " +
        "FROM lineitem"),

    // Timestamp formatting round-trip — date_format/strftime with
    // explicit locale-free patterns, plus to_timestamp parsing back;
    // grouped on the formatted string so both engines must produce
    // byte-identical text AND identical parse-back.
    sql2("q_date_format",
      "SELECT date_format(ts, 'yyyy-MM-dd HH') AS h, count(*) AS n, " +
        "  CAST(min(unix_timestamp(to_timestamp(date_format(ts, 'yyyy-MM-dd HH:mm:ss')))) AS BIGINT) AS first_s " +
        "FROM events WHERE event_type = 'purchase' GROUP BY 1 ORDER BY h LIMIT 50",
      "SELECT strftime(ts, '%Y-%m-%d %H') AS h, count(*) AS n, " +
        "  CAST(min(epoch(strptime(strftime(ts, '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S'))) AS BIGINT) AS first_s " +
        "FROM events WHERE event_type = 'purchase' GROUP BY 1 ORDER BY h LIMIT 50"),
  )

  // ===========================================================================
  // Advanced analytics (beyond-ref; the time-series / graph / IR surface a
  // warehouse replacing the reference would be asked for next). Every entry
  // follows the drift-proof playbook: exact integer/decimal arithmetic up to
  // the last step, doubles only where both engines start from identical bits.
  // ===========================================================================
  private val advanced: Seq[Entry] = Seq(
    // Time-weighted average per user — each event's value holds until the
    // next event (µs-exact durations via unix_micros; last event carries no
    // weight). The weighted sum rides DECIMAL(12,6)×BIGINT → exact decimal;
    // only the final divide is floating. One window shuffle + one group-by
    // on the SAME key (user_id) → Catalyst reuses the partitioning; at
    // 100 TB this is a single exchange.
    sql2("q_time_weighted_avg",
      "WITH w AS (SELECT user_id, CAST(round(value, 6) AS DECIMAL(12,6)) AS v, " +
        "  lead(unix_micros(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) - unix_micros(ts) AS dur " +
        "FROM events) " +
        "SELECT user_id, CAST(sum(dur) AS BIGINT) AS total_us, " +
        "  round(CAST(sum(v * dur) AS DOUBLE) / sum(dur), 6) AS twa " +
        "FROM w WHERE dur IS NOT NULL GROUP BY user_id ORDER BY user_id",
      "WITH w AS (SELECT user_id, CAST(round(value, 6) AS DECIMAL(12,6)) AS v, " +
        "  lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) - epoch_us(ts) AS dur " +
        "FROM events) " +
        "SELECT user_id, CAST(sum(dur) AS BIGINT) AS total_us, " +
        "  round(CAST(sum(v * dur) AS DOUBLE) / sum(dur), 6) AS twa " +
        "FROM w WHERE dur IS NOT NULL GROUP BY user_id ORDER BY user_id"),

    // Trailing-24h rolling z-score anomaly gate. The classic formulation
    // ((v-mean)/stddev over a sliding frame) is engine-UNSTABLE: sliding
    // double aggregates use subtract-on-evict / segment trees and drift.
    // Here the frame sums ride integer milli-units (BIGINT in Spark,
    // HUGEINT in DuckDB — both exact), and z = (n·v − s1)/√(n·s2 − s1²)
    // touches floating point only on integer differences small enough to
    // be double-exact (< 2^53) — so the >2σ cut is bit-deterministic.
    sql2("q_rolling_zscore",
      "WITH base AS (SELECT user_id, event_id, unix_micros(ts) DIV 1000000 AS es, " +
        "  CAST(round(value * 1000) AS BIGINT) AS m FROM events), " +
        "w AS (SELECT user_id, event_id, m, " +
        "  sum(m) OVER (PARTITION BY user_id ORDER BY es RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW) AS s1, " +
        "  sum(m * m) OVER (PARTITION BY user_id ORDER BY es RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW) AS s2, " +
        "  count(*) OVER (PARTITION BY user_id ORDER BY es RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW) AS n " +
        "FROM base) " +
        "SELECT user_id, event_id, " +
        "  round(CAST(n * m - s1 AS DOUBLE) / sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)), 6) AS z " +
        "FROM w WHERE n >= 5 AND n * s2 - s1 * s1 > 0 " +
        "  AND CAST(n * m - s1 AS DOUBLE) / sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)) > 2.0 " +
        "ORDER BY user_id, event_id",
      "WITH base AS (SELECT user_id, event_id, epoch_us(ts) // 1000000 AS es, " +
        "  CAST(round(value * 1000) AS BIGINT) AS m FROM events), " +
        "w AS (SELECT user_id, event_id, m, " +
        "  sum(m) OVER win AS s1, sum(m * m) OVER win AS s2, count(*) OVER win AS n " +
        "FROM base WINDOW win AS (PARTITION BY user_id ORDER BY es " +
        "  RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW)) " +
        "SELECT user_id, event_id, " +
        "  round(CAST(n * m - s1 AS DOUBLE) / sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)), 6) AS z " +
        "FROM w WHERE n >= 5 AND n * s2 - s1 * s1 > 0 " +
        "  AND CAST(n * m - s1 AS DOUBLE) / sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)) > 2.0 " +
        "ORDER BY user_id, event_id",
    ),

    // Rolling 7-day distinct users per day. COUNT(DISTINCT) cannot ride a
    // window frame, so the scale shape is: pre-distinct (day, user) —
    // bounded at days×users, tiny next to the event log — then a band
    // join against the day spine. The spine is O(days) → Spark
    // broadcasts it; the distinct count is one hash aggregate.
    sql2("q_rolling_distinct",
      "WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events), " +
        "days AS (SELECT DISTINCT d FROM du) " +
        "SELECT days.d AS day, CAST(count(DISTINCT du.user_id) AS BIGINT) AS u7 " +
        "FROM days JOIN du ON du.d BETWEEN date_sub(days.d, 6) AND days.d " +
        "GROUP BY days.d ORDER BY days.d",
      "WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events), " +
        "days AS (SELECT DISTINCT d FROM du) " +
        "SELECT days.d AS day, CAST(count(DISTINCT du.user_id) AS BIGINT) AS u7 " +
        "FROM days JOIN du ON du.d BETWEEN days.d - 6 AND days.d " +
        "GROUP BY days.d ORDER BY days.d"),

    // Per-user daily gap-fill: a generated date spine (sequence/
    // generate_series) left-joined to sparse daily totals, missing days
    // filled by last-observation-carried-forward (IGNORE NULLS last_value).
    // Purchase events only → real gaps at sf0.01. Cent-exact BIGINT sums;
    // the spine explode is per-user-bounded (≤ span days), never a
    // cross join against a global calendar.
    sql2("q_gap_fill_locf",
      "WITH d AS (SELECT user_id, CAST(ts AS DATE) AS day, " +
        "  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents " +
        "FROM events WHERE event_type = 'purchase' GROUP BY 1, 2), " +
        "b AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM d GROUP BY 1), " +
        "spine AS (SELECT user_id, explode(sequence(d0, d1, interval 1 day)) AS day FROM b), " +
        "j AS (SELECT s.user_id, s.day, d.cents FROM spine s " +
        "  LEFT JOIN d ON d.user_id = s.user_id AND d.day = s.day) " +
        "SELECT user_id, day, CAST(coalesce(cents, 0) AS BIGINT) AS cents, " +
        "  CAST(last_value(cents, true) OVER (PARTITION BY user_id ORDER BY day) AS BIGINT) AS filled " +
        "FROM j ORDER BY user_id, day",
      "WITH d AS (SELECT user_id, CAST(ts AS DATE) AS day, " +
        "  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents " +
        "FROM events WHERE event_type = 'purchase' GROUP BY 1, 2), " +
        "b AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM d GROUP BY 1), " +
        "spine AS (SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day FROM b), " +
        "j AS (SELECT CAST(s.user_id AS BIGINT) AS user_id, CAST(s.day AS DATE) AS day, d.cents FROM spine s " +
        "  LEFT JOIN d ON d.user_id = s.user_id AND CAST(s.day AS DATE) = d.day) " +
        "SELECT user_id, day, CAST(coalesce(cents, 0) AS BIGINT) AS cents, " +
        "  CAST(last_value(cents IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day) AS BIGINT) AS filled " +
        "FROM j ORDER BY user_id, day"),

    // Shannon entropy of each user's event-type mix — the mixture-skew
    // signal a curation pipeline gates on. r14: the double -Σ p·log2(p)
    // fold (order-sensitive, 6-dp-rounded — the transcendental knife-edge
    // class) is replaced by the exact identity
    // H = log2(T) − (1/T)·Σ n·log2(n) on the integer micro-bit lattice
    // floor(log2(k)·1e6+0.5) of INTEGER counts: the sum is exact BIGINT
    // (order-free), and the result is ONE IEEE division of two exact
    // integers — bit-identical cross-engine with no rounding step (see
    // COVERAGE.md r14 margin table; same lattice as q_lm_score).
    sql2("q_entropy",
      "WITH c AS (SELECT user_id, event_type, count(*) AS n FROM events GROUP BY 1, 2), " +
        "t AS (SELECT user_id, sum(n) AS tot FROM c GROUP BY 1), " +
        "s AS (SELECT c.user_id, CAST(max(tot) AS BIGINT) AS n_events, " +
        s"    CAST(sum(n * ${microLog2Guarded("n")}) AS BIGINT) AS snl " +
        "  FROM c JOIN t ON c.user_id = t.user_id GROUP BY c.user_id) " +
        "SELECT user_id, n_events, " +
        s"  CAST(n_events * ${microLog2Guarded("n_events")} - snl AS DOUBLE) " +
        "    / CAST(n_events * 1000000 AS DOUBLE) AS entropy_bits " +
        "FROM s ORDER BY user_id",
      "WITH c AS (SELECT user_id, event_type, count(*) AS n FROM events GROUP BY 1, 2), " +
        "t AS (SELECT user_id, sum(n) AS tot FROM c GROUP BY 1), " +
        "s AS (SELECT c.user_id, CAST(max(tot) AS BIGINT) AS n_events, " +
        s"    CAST(sum(n * ${microLog2Duck("n")}) AS BIGINT) AS snl " +
        "  FROM c JOIN t ON c.user_id = t.user_id GROUP BY c.user_id) " +
        "SELECT user_id, n_events, " +
        s"  CAST(n_events * ${microLog2Duck("n_events")} - snl AS DOUBLE) " +
        "    / CAST(n_events * 1000000 AS DOUBLE) AS entropy_bits " +
        "FROM s ORDER BY user_id"),

    // Deterministic MODE per group — most-frequent quantity with an
    // explicit (count DESC, value) tie-break, because bare mode() is
    // nondeterministic in BOTH engines. One partial+final count aggregate
    // + a per-group top-1 window over the (tiny) distinct-value relation.
    sql("q_mode_group",
      "WITH c AS (SELECT l_returnflag AS flag, CAST(l_quantity AS BIGINT) AS q, count(*) AS n " +
        "  FROM lineitem GROUP BY 1, 2), " +
        "r AS (SELECT flag, q, n, row_number() OVER (PARTITION BY flag ORDER BY n DESC, q) AS rn FROM c) " +
        "SELECT flag, q AS mode_q, CAST(n AS BIGINT) AS n FROM r WHERE rn = 1 ORDER BY flag"),

    // Linear-regression aggregates (regr_slope/regr_intercept/corr) of
    // value vs time-in-days per event type — the drift-detection probe.
    // Slope at 4 dp / intercept at 2 dp: double co-moment accumulation
    // order differs between engines, but relative drift is ~1e-10 so
    // these roundings are orders of magnitude safe.
    sql2("q_regr",
      "SELECT event_type, count(*) AS n, " +
        "  round(regr_slope(value, unix_micros(ts) / 86400000000.0), 4) AS slope_per_day, " +
        "  round(regr_intercept(value, unix_micros(ts) / 86400000000.0), 2) AS icpt, " +
        "  round(corr(value, unix_micros(ts) / 86400000000.0), 4) AS r " +
        "FROM events GROUP BY event_type ORDER BY event_type",
      "SELECT event_type, count(*) AS n, " +
        "  round(regr_slope(value, epoch_us(ts) / 86400000000.0), 4) AS slope_per_day, " +
        "  round(regr_intercept(value, epoch_us(ts) / 86400000000.0), 2) AS icpt, " +
        "  round(corr(value, epoch_us(ts) / 86400000000.0), 4) AS r " +
        "FROM events GROUP BY event_type ORDER BY event_type"),

    // Winsorization: clip extended price to per-group exact p05/p95
    // (Spark percentile ≙ DuckDB quantile_cont, both linear-interpolated).
    // The clip uses the 4-dp-ROUNDED fences so a last-ulp interpolation
    // difference cannot flip a boundary row; the clipped total rides
    // cent-exact integers. Fences are per-group scalars → broadcast back
    // to the fact scan, one extra exchange total.
    sql2("q_winsorize",
      "WITH f AS (SELECT l_returnflag AS flag, " +
        "  round(percentile(l_extendedprice, 0.05), 4) AS lo, " +
        "  round(percentile(l_extendedprice, 0.95), 4) AS hi " +
        "FROM lineitem GROUP BY 1) " +
        "SELECT f.flag, f.lo, f.hi, count(*) AS n, " +
        "  CAST(sum(CAST(round(least(greatest(l_extendedprice, f.lo), f.hi) * 100) AS BIGINT)) AS BIGINT) AS clipped_cents " +
        "FROM lineitem l JOIN f ON l.l_returnflag = f.flag " +
        "GROUP BY f.flag, f.lo, f.hi ORDER BY f.flag",
      "WITH f AS (SELECT l_returnflag AS flag, " +
        "  round(quantile_cont(l_extendedprice, 0.05), 4) AS lo, " +
        "  round(quantile_cont(l_extendedprice, 0.95), 4) AS hi " +
        "FROM lineitem GROUP BY 1) " +
        "SELECT f.flag, f.lo, f.hi, count(*) AS n, " +
        "  CAST(sum(CAST(round(least(greatest(l_extendedprice, f.lo), f.hi) * 100) AS BIGINT)) AS BIGINT) AS clipped_cents " +
        "FROM lineitem l JOIN f ON l.l_returnflag = f.flag " +
        "GROUP BY f.flag, f.lo, f.hi ORDER BY f.flag"),

    // Triangle counting over the co-purchase graph (parts sharing an
    // order). Edges are canonicalized u<v once (DISTINCT bounds the
    // relation at distinct pairs, not line items); the triangle join is
    // two hash equi-joins — no cross product, partial-aggregated counts.
    // Total plus the 10 busiest anchor nodes, deterministically ordered.
    // The engine side PERSISTS the edge relation: a CTE referenced three
    // times is otherwise inlined three times by Catalyst, re-running the
    // lineitem self-join + DISTINCT per reference (21 s → edges built
    // once at sf0.1; at 100 TB the edge build dominates, so the persist
    // is the difference between 1× and 3× the dominant cost).
    dfq("q_triangles",
      "WITH pairs AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v " +
        "  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey), " +
        "tri AS (SELECT e1.u AS a, e1.v AS b, e3.v AS c FROM pairs e1 " +
        "  JOIN pairs e2 ON e2.u = e1.v JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v) " +
        "SELECT CAST(-1 AS BIGINT) AS node, CAST(count(*) AS BIGINT) AS tri FROM tri " +
        "UNION ALL " +
        "SELECT * FROM (SELECT a AS node, CAST(count(*) AS BIGINT) AS tri FROM tri " +
        "  GROUP BY a ORDER BY count(*) DESC, a LIMIT 10) top " +
        "ORDER BY tri DESC, node") { (s, dir) =>
      Tables.registerAll(s, dir)
      trianglesAnchors(s): Unit
      s.sql(
        "SELECT CAST(-1 AS BIGINT) AS node, CAST(sum(c) AS BIGINT) AS tri " +
          "FROM graft_tri_anchors " +
          "UNION ALL " +
          "SELECT * FROM (SELECT a AS node, CAST(c AS BIGINT) AS tri " +
          "  FROM graft_tri_anchors ORDER BY c DESC, a LIMIT 10) top " +
          "ORDER BY tri DESC, node")
    },

    // Incremental aggregation — the materialized-view maintenance shape:
    // the engine side MERGES an old partial state (days < 15) with a
    // delta partial (days ≥ 15) via full-outer join + coalesced sums; the
    // oracle recomputes from scratch. Green = merging partials is exactly
    // recomputation, the invariant an incremental 100 TB rollup rests on
    // (cent-exact BIGINT sums so the merge is associative bit-for-bit).
    sql2("q_incremental_agg",
      "WITH old AS (SELECT event_type, count(*) AS n, " +
        "    sum(CAST(round(value * 100) AS BIGINT)) AS cents " +
        "  FROM events WHERE extract(day FROM ts) < 15 GROUP BY 1), " +
        "delta AS (SELECT event_type, count(*) AS n, " +
        "    sum(CAST(round(value * 100) AS BIGINT)) AS cents " +
        "  FROM events WHERE extract(day FROM ts) >= 15 GROUP BY 1) " +
        "SELECT coalesce(old.event_type, delta.event_type) AS event_type, " +
        "  CAST(coalesce(old.n, 0) + coalesce(delta.n, 0) AS BIGINT) AS n, " +
        "  CAST(coalesce(old.cents, 0) + coalesce(delta.cents, 0) AS BIGINT) AS cents " +
        "FROM old FULL OUTER JOIN delta ON old.event_type = delta.event_type " +
        "ORDER BY event_type",
      "SELECT event_type, CAST(count(*) AS BIGINT) AS n, " +
        "  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents " +
        "FROM events GROUP BY 1 ORDER BY event_type"),

    // SCD2 interval construction — collapse each user's event-type runs
    // into [valid_from, valid_to] dimension rows (gaps-and-islands via
    // the change-flag prefix sum). µs-exact interval bounds; the island
    // window and the final group share the user_id partitioning.
    sql2("q_scd2",
      "WITH x AS (SELECT user_id, ts, event_id, event_type, " +
        "  CASE WHEN lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) " +
        "    IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg FROM events), " +
        "g AS (SELECT user_id, ts, event_type, " +
        "  sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS grp FROM x) " +
        "SELECT user_id, CAST(grp AS BIGINT) AS version, event_type, " +
        "  CAST(min(unix_micros(ts)) AS BIGINT) AS valid_from, " +
        "  CAST(max(unix_micros(ts)) AS BIGINT) AS valid_to, count(*) AS n " +
        "FROM g GROUP BY user_id, grp, event_type ORDER BY user_id, version",
      "WITH x AS (SELECT user_id, ts, event_id, event_type, " +
        "  CASE WHEN lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) " +
        "    IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg FROM events), " +
        "g AS (SELECT user_id, ts, event_type, " +
        "  sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS grp FROM x) " +
        "SELECT user_id, CAST(grp AS BIGINT) AS version, event_type, " +
        "  CAST(min(epoch_us(ts)) AS BIGINT) AS valid_from, " +
        "  CAST(max(epoch_us(ts)) AS BIGINT) AS valid_to, count(*) AS n " +
        "FROM g GROUP BY user_id, grp, event_type ORDER BY user_id, version"),

    // Daily latency-style percentile bands (exact p50/p90/p99 per day) —
    // Spark percentile ≙ DuckDB quantile_cont, both linear-interpolated
    // over the same doubles → identical bits, rounded at 4 dp.
    sql2("q_daily_percentiles",
      "SELECT CAST(ts AS DATE) AS day, count(*) AS n, " +
        "  round(percentile(value, 0.5), 4) AS p50, " +
        "  round(percentile(value, 0.9), 4) AS p90, " +
        "  round(percentile(value, 0.99), 4) AS p99 " +
        "FROM events GROUP BY 1 ORDER BY day",
      "SELECT CAST(ts AS DATE) AS day, count(*) AS n, " +
        "  round(quantile_cont(value, 0.5), 4) AS p50, " +
        "  round(quantile_cont(value, 0.9), 4) AS p90, " +
        "  round(quantile_cont(value, 0.99), 4) AS p99 " +
        "FROM events GROUP BY 1 ORDER BY day"),

    // Chi-square independence test of event_type × user cohort — the
    // mixture-drift significance probe. All margins are exact integers;
    // expected counts and the Σ(O−E)²/E fold are double only at the end
    // (15 cells → 6-dp round absorbs order drift).
    sql("q_chisq",
      "WITH o AS (SELECT event_type, user_id % 3 AS cohort, count(*) AS obs " +
        "  FROM events GROUP BY 1, 2), " +
        "tot AS (SELECT sum(obs) AS n FROM o), " +
        "r AS (SELECT event_type, sum(obs) AS rt FROM o GROUP BY 1), " +
        "c AS (SELECT cohort, sum(obs) AS ct FROM o GROUP BY 1) " +
        "SELECT CAST(max(n) AS BIGINT) AS n, count(*) AS cells, " +
        "  CAST((count(DISTINCT o.event_type) - 1) * (count(DISTINCT o.cohort) - 1) AS BIGINT) AS dof, " +
        "  round(sum((obs - CAST(rt AS DOUBLE) * ct / n) * (obs - CAST(rt AS DOUBLE) * ct / n) " +
        "    / (CAST(rt AS DOUBLE) * ct / n)), 6) AS chi2 " +
        "FROM o JOIN r ON o.event_type = r.event_type JOIN c ON o.cohort = c.cohort, tot"),

    // Jaccard overlap between event-type AUDIENCES (distinct-user sets)
    // — cohort-overlap analysis on exact set cardinalities; the only
    // double is the final ratio of exact integers.
    sql("q_type_overlap",
      "WITH s AS (SELECT DISTINCT event_type, user_id FROM events), " +
        "sz AS (SELECT event_type, count(*) AS n FROM s GROUP BY 1), " +
        "ix AS (SELECT a.event_type AS t1, b.event_type AS t2, count(*) AS inter " +
        "  FROM s a JOIN s b ON a.user_id = b.user_id AND a.event_type < b.event_type " +
        "  GROUP BY 1, 2) " +
        "SELECT t1, t2, CAST(inter AS BIGINT) AS inter, " +
        "  CAST(za.n + zb.n - inter AS BIGINT) AS uni, " +
        "  round(CAST(inter AS DOUBLE) / (za.n + zb.n - inter), 6) AS jaccard " +
        "FROM ix JOIN sz za ON ix.t1 = za.event_type JOIN sz zb ON ix.t2 = zb.event_type " +
        "ORDER BY t1, t2"),

    // Median absolute deviation — the robust dispersion gate. Exact
    // interpolated medians; the inner median is 4-dp-ROUNDED before the
    // |x − m| pass (winsorize-style) so a last-ulp interpolation diff
    // cannot reorder the deviation ranks. Two aggregate passes over the
    // fact table with the per-group scalar broadcast back — no window.
    sql2("q_mad",
      "WITH med AS (SELECT l_returnflag AS flag, " +
        "  round(percentile(l_extendedprice, 0.5), 4) AS m FROM lineitem GROUP BY 1) " +
        "SELECT flag, m, count(*) AS n, " +
        "  round(percentile(abs(l_extendedprice - m), 0.5), 4) AS mad " +
        "FROM lineitem l JOIN med ON l.l_returnflag = med.flag " +
        "GROUP BY flag, m ORDER BY flag",
      "WITH med AS (SELECT l_returnflag AS flag, " +
        "  round(quantile_cont(l_extendedprice, 0.5), 4) AS m FROM lineitem GROUP BY 1) " +
        "SELECT flag, m, count(*) AS n, " +
        "  round(quantile_cont(abs(l_extendedprice - m), 0.5), 4) AS mad " +
        "FROM lineitem l JOIN med ON l.l_returnflag = med.flag " +
        "GROUP BY flag, m ORDER BY flag"),

    // Recursive CTE (Spark 4's UnionLoop) — hierarchy walk over the
    // digit tree parent(k) = k/10: every customer key climbs to its
    // root with per-step depth. Both engines iterate the same anchor +
    // recursive-step SQL (integer division spelled DIV / //).
    sql2("q_recursive_cte",
      "WITH RECURSIVE walk(k, cur, depth) AS (" +
        "  SELECT c_custkey, c_custkey, 0 FROM customer " +
        "  UNION ALL SELECT k, cur DIV 10, depth + 1 FROM walk WHERE cur >= 10) " +
        "SELECT k, CAST(max(depth) AS BIGINT) AS depth, CAST(min(cur) AS BIGINT) AS root " +
        "FROM walk GROUP BY k ORDER BY k",
      "WITH RECURSIVE walk(k, cur, depth) AS (" +
        "  SELECT c_custkey, c_custkey, 0 FROM customer " +
        "  UNION ALL SELECT k, cur // 10, depth + 1 FROM walk WHERE cur >= 10) " +
        "SELECT k, CAST(max(depth) AS BIGINT) AS depth, CAST(min(cur) AS BIGINT) AS root " +
        "FROM walk GROUP BY k ORDER BY k"),

    // Bitmap aggregation — each user's purchase activity as a 30-bit
    // day-of-month mask (bit_or of shifted ones) + popcount. The bitmap
    // IS the aggregate state: fixed 8 bytes per user regardless of event
    // count, mergeable across partials — the compact-index shape used
    // for segment/audience membership at 100 TB.
    sql2("q_bitmap_agg",
      "SELECT user_id, " +
        "  CAST(bit_or(shiftleft(CAST(1 AS BIGINT), CAST(extract(day FROM ts) AS INT) - 1)) AS BIGINT) AS day_mask, " +
        "  CAST(bit_count(bit_or(shiftleft(CAST(1 AS BIGINT), CAST(extract(day FROM ts) AS INT) - 1))) AS BIGINT) AS active_days " +
        "FROM events WHERE event_type = 'purchase' GROUP BY user_id ORDER BY user_id",
      "SELECT user_id, " +
        "  CAST(bit_or(CAST(1 AS BIGINT) << (CAST(extract(day FROM ts) AS INT) - 1)) AS BIGINT) AS day_mask, " +
        "  CAST(bit_count(bit_or(CAST(1 AS BIGINT) << (CAST(extract(day FROM ts) AS INT) - 1))) AS BIGINT) AS active_days " +
        "FROM events WHERE event_type = 'purchase' GROUP BY user_id ORDER BY user_id"),

    // Distributed sequence-gap detection WITHOUT a global window: the
    // engine splits ids into 256-wide blocks — intra-block gaps ride a
    // PARTITIONED lead, and cross-block gaps stitch per-block min/max
    // over the n/256-bounded block relation (the only unpartitioned
    // window, on a relation 256× smaller than the data). The oracle runs
    // the textbook single global lead — green proves the decomposition
    // loses no gap and invents none.
    sql2("q_sequence_gaps",
      "WITH s AS (SELECT event_id AS id, event_id DIV 256 AS b FROM events WHERE value > 50), " +
        "w AS (SELECT id, b, lead(id) OVER (PARTITION BY b ORDER BY id) AS nxt FROM s), " +
        "intra AS (SELECT id AS gap_after, nxt AS next_id FROM w WHERE nxt > id + 1), " +
        "bnd AS (SELECT b, min(id) AS mn, max(id) AS mx FROM s GROUP BY b), " +
        "bw AS (SELECT mx, lead(mn) OVER (ORDER BY b) AS nmn FROM bnd), " +
        "inter AS (SELECT mx AS gap_after, nmn AS next_id FROM bw WHERE nmn > mx + 1) " +
        "SELECT CAST(gap_after AS BIGINT) AS gap_after, CAST(next_id AS BIGINT) AS next_id " +
        "FROM (SELECT * FROM intra UNION ALL SELECT * FROM inter) g ORDER BY gap_after",
      "WITH s AS (SELECT event_id FROM events WHERE value > 50), " +
        "x AS (SELECT event_id, lead(event_id) OVER (ORDER BY event_id) AS nxt FROM s) " +
        "SELECT CAST(event_id AS BIGINT) AS gap_after, CAST(nxt AS BIGINT) AS next_id " +
        "FROM x WHERE nxt > event_id + 1 ORDER BY gap_after"),

    // CDC compaction — keep the LATEST record per (user, type) key by
    // event time (ties broken by event_id): the upsert-materialization
    // every incremental snapshot pipeline runs. One window shuffle on
    // the dedup key; cent-exact values.
    sql("q_dedup_keep_latest",
      "WITH r AS (SELECT user_id, event_type, event_id, " +
        "  CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents, " +
        "  row_number() OVER (PARTITION BY user_id, event_type " +
        "    ORDER BY ts DESC, event_id DESC) AS rn FROM events) " +
        "SELECT user_id, event_type, event_id AS latest_event, cents " +
        "FROM r WHERE rn = 1 ORDER BY user_id, event_type"),

    // Z-order (Morton) clustering key — the native `interleave_bits`
    // Expression (codegen'd; ZOrderKernel's five mask-shift rounds) that
    // keys 2-D data-skipping layouts: sort/range-partition a fact table
    // by z and row-group min/max stats prune box predicates on BOTH
    // dimensions. The oracle re-derives every code with the same spread
    // arithmetic unrolled as bigint mask/shift CTEs — bit-exact.
    sql2("q_zorder",
      "SELECT l_orderkey * 10 + l_linenumber AS k, " +
        "  interleave_bits(l_partkey, l_suppkey) AS z " +
        "FROM lineitem WHERE l_orderkey < 2000 ORDER BY z, k",
      "WITH base AS (SELECT l_orderkey * 10 + l_linenumber AS k, " +
        "  CAST(l_partkey AS BIGINT) & 4294967295 AS xv, " +
        "  CAST(l_suppkey AS BIGINT) & 4294967295 AS yv " +
        "  FROM lineitem WHERE l_orderkey < 2000), " +
        "a1 AS (SELECT k, (xv | (xv << 16)) & 281470681808895 AS xv, (yv | (yv << 16)) & 281470681808895 AS yv FROM base), " +
        "a2 AS (SELECT k, (xv | (xv << 8)) & 71777214294589695 AS xv, (yv | (yv << 8)) & 71777214294589695 AS yv FROM a1), " +
        "a3 AS (SELECT k, (xv | (xv << 4)) & 1085102592571150095 AS xv, (yv | (yv << 4)) & 1085102592571150095 AS yv FROM a2), " +
        "a4 AS (SELECT k, (xv | (xv << 2)) & 3689348814741910323 AS xv, (yv | (yv << 2)) & 3689348814741910323 AS yv FROM a3), " +
        "a5 AS (SELECT k, (xv | (xv << 1)) & 6148914691236517205 AS xv, (yv | (yv << 1)) & 6148914691236517205 AS yv FROM a4) " +
        "SELECT k, (xv | (yv << 1)) AS z FROM a5 ORDER BY z, k"),

    // Z-order LAYOUT lifecycle — shard by deterministic z-rank (ntile
    // over the z curve), write a partitioned parquet layout, read it BACK
    // and report each shard's (x, y) spans: the differential proof that
    // the written layout clusters both dimensions (tight per-shard
    // min/max = row groups a box predicate can skip). The ntile window
    // rides a 2000-order SUBSET (bounded relation, comment-pinned) —
    // production layouts shard by the distributed prefix rank
    // (Corpus.writeShards) instead. DuckDB re-derives z arithmetically,
    // re-runs the same ntile, and must land every row in the same shard.
    dfq("q_zorder_layout",
      "WITH base AS (SELECT l_orderkey * 10 + l_linenumber AS k, " +
        "  l_partkey AS x, l_suppkey AS y, " +
        "  CAST(l_partkey AS BIGINT) & 4294967295 AS xv, " +
        "  CAST(l_suppkey AS BIGINT) & 4294967295 AS yv " +
        "  FROM lineitem WHERE l_orderkey < 2000), " +
        "a1 AS (SELECT k, x, y, (xv | (xv << 16)) & 281470681808895 AS xv, (yv | (yv << 16)) & 281470681808895 AS yv FROM base), " +
        "a2 AS (SELECT k, x, y, (xv | (xv << 8)) & 71777214294589695 AS xv, (yv | (yv << 8)) & 71777214294589695 AS yv FROM a1), " +
        "a3 AS (SELECT k, x, y, (xv | (xv << 4)) & 1085102592571150095 AS xv, (yv | (yv << 4)) & 1085102592571150095 AS yv FROM a2), " +
        "a4 AS (SELECT k, x, y, (xv | (xv << 2)) & 3689348814741910323 AS xv, (yv | (yv << 2)) & 3689348814741910323 AS yv FROM a3), " +
        "a5 AS (SELECT k, x, y, (xv | (xv << 1)) & 6148914691236517205 AS xv, (yv | (yv << 1)) & 6148914691236517205 AS yv FROM a4), " +
        "z AS (SELECT k, x, y, (xv | (yv << 1)) AS z FROM a5), " +
        "sh AS (SELECT k, x, y, ntile(16) OVER (ORDER BY z, k) AS shard FROM z) " +
        "SELECT CAST(shard AS BIGINT) AS shard, count(*) AS n, " +
        "  CAST(min(x) AS BIGINT) AS x_min, CAST(max(x) AS BIGINT) AS x_max, " +
        "  CAST(min(y) AS BIGINT) AS y_min, CAST(max(y) AS BIGINT) AS y_max " +
        "FROM sh GROUP BY shard ORDER BY shard") { (s, dir) =>
      Tables.registerAll(s, dir)
      val out = tempDir("graft-zorder")
      val sharded = s.sql(
        "SELECT k, x, y, ntile(16) OVER (ORDER BY z, k) AS shard FROM (" +
          "SELECT l_orderkey * 10 + l_linenumber AS k, l_partkey AS x, " +
          "l_suppkey AS y, interleave_bits(l_partkey, l_suppkey) AS z " +
          "FROM lineitem WHERE l_orderkey < 2000) t")
      sharded.write.partitionBy("shard").mode("overwrite").parquet(s"$out/data")
      val back = s.read.parquet(s"$out/data")
      back.createOrReplaceTempView("graft_zlayout")
      s.sql("SELECT CAST(shard AS BIGINT) AS shard, count(*) AS n, " +
        "CAST(min(x) AS BIGINT) AS x_min, CAST(max(x) AS BIGINT) AS x_max, " +
        "CAST(min(y) AS BIGINT) AS y_min, CAST(max(y) AS BIGINT) AS y_max " +
        "FROM graft_zlayout GROUP BY shard ORDER BY shard")
    },

    // ANSI inverse-distribution functions — PERCENTILE_CONT /
    // PERCENTILE_DISC ... WITHIN GROUP (ORDER BY ...): cont interpolates
    // (≙ DuckDB quantile_cont, identical bits, 4-dp round); disc picks
    // the first data value whose cumulative fraction reaches p — an
    // actual element, exact in both engines.
    sql2("q_percentile_disc",
      "SELECT l_returnflag AS flag, count(*) AS n, " +
        "  round(percentile_cont(0.25) WITHIN GROUP (ORDER BY l_extendedprice), 4) AS p25c, " +
        "  round(percentile_disc(0.25) WITHIN GROUP (ORDER BY l_extendedprice), 4) AS p25d, " +
        "  round(percentile_disc(0.75) WITHIN GROUP (ORDER BY l_extendedprice), 4) AS p75d " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY flag",
      "SELECT l_returnflag AS flag, count(*) AS n, " +
        "  round(quantile_cont(l_extendedprice, 0.25), 4) AS p25c, " +
        "  round(quantile_disc(l_extendedprice, 0.25), 4) AS p25d, " +
        "  round(quantile_disc(l_extendedprice, 0.75), 4) AS p75d " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY flag"),

    // Exponential smoothing (EWMA, α = 1/2) — s_t = v_t/2 + s_{t-1}/2
    // is inherently sequential PER KEY, so the scale-correct engine
    // shape is a per-user fold: ONE shuffle on user_id, then each
    // user's chain evaluated strictly left-to-right inside its task,
    // depth-independent and user-parallel at any scale. The pre-r19
    // engine side ran the recursive-CTE frontier (one JOIN per sequence
    // position — at 100× per-user depth, hours of driver-scheduled
    // iterations; the q_cusum lesson, but with no reorder-safe closed
    // form because the state is a float). r20 (hot-key safety): the
    // r19 flatMapGroups fold buffered one user's WHOLE chain in task
    // memory (it.toArray) — fine for bounded chains, but one
    // pathological hot key (a 10^8-event bot account) OOMs its task.
    // The fold is now a STREAMING scan: repartition on user_id (rows of
    // a user are co-located), a spill-safe external sort within
    // partitions by (user_id, ts, event_id) — Spark's UnsafeExternalSorter
    // spills to disk, never holds a key's rows in heap — then
    // mapPartitions carrying O(1) state (current user, running s), no
    // per-user materialization anywhere. Per-user visit order is the
    // same (ts, event_id) total order as before, so the fold executes
    // the IDENTICAL IEEE op sequence as the recursion (α = 1/2 keeps
    // every step a binary halving); the DuckDB oracle KEEPS the
    // recursive CTE: bit-identical doubles from structurally different
    // computations — the cross-formulation differential. Output is
    // fixed-point floor(s·1e6 + 0.5) micro-cents (the q_holt_linear
    // knife-edge discipline): floor is rounding-RULE-free, so identical
    // doubles cannot diverge cross-engine even ON a .5 boundary — which
    // dyadic s values DO hit, and which the previous round(s, 6) would
    // have tie-broken engine-specifically.
    dfq("q_ewma_recursive",
      "WITH RECURSIVE seq AS (" +
        "  SELECT user_id, event_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents, " +
        "    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn " +
        "  FROM events WHERE event_type = 'purchase'), " +
        "e(user_id, rn, event_id, s) AS (" +
        "  SELECT user_id, rn, event_id, CAST(cents AS DOUBLE) FROM seq WHERE rn = 1 " +
        "  UNION ALL " +
        "  SELECT seq.user_id, seq.rn, seq.event_id, 0.5 * seq.cents + 0.5 * e.s " +
        "  FROM e JOIN seq ON seq.user_id = e.user_id AND seq.rn = e.rn + 1) " +
        "SELECT user_id, CAST(rn AS BIGINT) AS rn, event_id, " +
        "  CAST(floor(s * 1000000 + 0.5) AS BIGINT) AS ewma_u " +
        "FROM e ORDER BY user_id, rn") { (s, dir) =>
      import s.implicits._
      val folded = purchaseSeqStreamed(s, dir).mapPartitions { it =>
        // O(1) state: rows arrive (user, ts, event_id)-sorted, so a
        // user-change resets the fold. Iterator.map preserves order.
        var cur = 0L
        var seen = false
        var st = 0.0
        var rn = 0L
        it.map { case (u, eid, _, cents) =>
          if (!seen || u != cur) {
            cur = u; seen = true; rn = 1L; st = cents.toDouble
          } else {
            rn += 1; st = 0.5 * cents + 0.5 * st
          }
          (u, rn, eid, st)
        }
      }.toDF("user_id", "rn", "event_id", "s")
      folded.select(col("user_id"), col("rn"), col("event_id"),
          floor(col("s") * 1000000 + 0.5).cast("long").as("ewma_u"))
        .orderBy("user_id", "rn")
    },

    // Holt's LINEAR exponential smoothing (level + trend, α = β = 1/2) —
    // the two-state recurrence l_t = v_t/2 + (l+b)/2, b_t = (l_t−l)/2 +
    // b/2 plus the one-step-ahead forecast l_t + b_t. Same engine shape
    // as q_ewma_recursive: hot-key-safe streaming fold (one shuffle,
    // spill-safe in-partition sort, O(1)-state mapPartitions scan,
    // depth-independent), executing the recursion's exact IEEE op
    // sequence — α = β = 1/2 keeps every step exact dyadic arithmetic
    // on integer cents (numerators stay ≪ 2^53 at the ≤ 24-step chain
    // depth); the DuckDB oracle keeps the recursive CTE. Outputs are
    // fixed-point floor(x·1e6 + 0.5) micro-units: floor is
    // rounding-RULE-free, so identical doubles cannot diverge even ON a
    // .5 boundary (dyadic values DO land there — e.g. 1/128 — which
    // round(x, 6) would tie-break engine-specifically; this is the
    // knife-edge discipline). The b-step mirrors the SQL text exactly,
    // recomputing l' inside the trend expression — deterministic, so
    // computing it once is the same double.
    dfq("q_holt_linear",
      "WITH RECURSIVE seq AS (" +
        "  SELECT user_id, event_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents, " +
        "    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn " +
        "  FROM events WHERE event_type = 'purchase'), " +
        "e(user_id, rn, l, b) AS (" +
        "  SELECT user_id, rn, CAST(cents AS DOUBLE), CAST(0 AS DOUBLE) FROM seq WHERE rn = 1 " +
        "  UNION ALL " +
        "  SELECT seq.user_id, seq.rn, " +
        "    0.5 * seq.cents + 0.5 * (e.l + e.b), " +
        "    0.5 * ((0.5 * seq.cents + 0.5 * (e.l + e.b)) - e.l) + 0.5 * e.b " +
        "  FROM e JOIN seq ON seq.user_id = e.user_id AND seq.rn = e.rn + 1) " +
        "SELECT user_id, CAST(rn AS BIGINT) AS rn, " +
        "  CAST(floor(l * 1000000 + 0.5) AS BIGINT) AS level_u, " +
        "  CAST(floor(b * 1000000 + 0.5) AS BIGINT) AS trend_u, " +
        "  CAST(floor((l + b) * 1000000 + 0.5) AS BIGINT) AS forecast_u " +
        "FROM e ORDER BY user_id, rn") { (s, dir) =>
      import s.implicits._
      val folded = purchaseSeqStreamed(s, dir).mapPartitions { it =>
        // Same streaming shape as q_ewma_recursive: O(1) two-float
        // state, user-change resets, order preserved by Iterator.map.
        var cur = 0L
        var seen = false
        var l = 0.0
        var b = 0.0
        var rn = 0L
        it.map { case (u, _, _, cents) =>
          if (!seen || u != cur) {
            cur = u; seen = true; rn = 1L; l = cents.toDouble; b = 0.0
          } else {
            rn += 1
            val lNew = 0.5 * cents + 0.5 * (l + b)
            val bNew = 0.5 * (lNew - l) + 0.5 * b
            l = lNew; b = bNew
          }
          (u, rn, l, b)
        }
      }.toDF("user_id", "rn", "l", "b")
      folded.select(col("user_id"), col("rn"),
          floor(col("l") * 1000000 + 0.5).cast("long").as("level_u"),
          floor(col("b") * 1000000 + 0.5).cast("long").as("trend_u"),
          floor((col("l") + col("b")) * 1000000 + 0.5).cast("long").as("forecast_u"))
        .orderBy("user_id", "rn")
    },

    // One-sided CUSUM changepoint monitor per user — S_t = max(0,
    // S_{t-1} + x_t − k) against the global reference level k, alarm
    // when S_t exceeds 2k. ENTIRELY integer arithmetic (cents in, exact
    // BIGINT state, integer threshold): no transcendental, no rounding,
    // no knife-edge possible at any scale. The only division is the
    // reference level: floor of an IEEE division of two exact integers
    // < 2^53 — bit-identical everywhere; 587 alarms / 1981 rows at
    // sf0.01. ENGINE side: the recurrence has an EXACT closed form in
    // the same BIGINT arithmetic — with prefix sums P_t = Σ_{i≤t}
    // (x_i − k) and P_0 = 0, S_t = P_t − min_{0≤j≤t} P_j (induction:
    // both sides satisfy the max(0, ·+d) recurrence) — so Spark runs
    // TWO window functions over one (user_id, rn) sort: O(n) one-pass,
    // per-user parallel, depth-independent at 100× sequence length.
    // ORACLE side keeps the recursive-CTE formulation (one frontier
    // join per sequence position): same values from a structurally
    // different computation = a stronger differential than running the
    // identical text twice. (q_ewma_recursive / q_holt_linear keep the
    // recursion on BOTH sides: their float recurrences have no
    // reorder-safe exact closed form — recursion is honest there.)
    sql2("q_cusum",
      "WITH seq AS (" +
        "  SELECT user_id, event_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents, " +
        "    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn " +
        "  FROM events WHERE event_type = 'purchase'), " +
        "k AS (SELECT CAST(floor(CAST(sum(cents) AS DOUBLE) / count(*)) AS BIGINT) AS kk FROM seq), " +
        "p AS (" +
        "  SELECT user_id, rn, kk, " +
        "    sum(cents - kk) OVER (PARTITION BY user_id ORDER BY rn " +
        "      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt " +
        "  FROM seq, k), " +
        "m AS (" +
        "  SELECT user_id, rn, kk, pt, " +
        "    least(CAST(0 AS BIGINT), min(pt) OVER (PARTITION BY user_id ORDER BY rn " +
        "      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS mn " +
        "  FROM p) " +
        "SELECT user_id, CAST(rn AS BIGINT) AS rn, pt - mn AS cusum_cents, " +
        "  CAST(CASE WHEN pt - mn > 2 * kk THEN 1 ELSE 0 END AS INT) AS alarm " +
        "FROM m ORDER BY user_id, rn",
      "WITH RECURSIVE seq AS (" +
        "  SELECT user_id, event_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents, " +
        "    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn " +
        "  FROM events WHERE event_type = 'purchase'), " +
        "k AS (SELECT CAST(floor(CAST(sum(cents) AS DOUBLE) / count(*)) AS BIGINT) AS kk FROM seq), " +
        "c(user_id, rn, s) AS (" +
        "  SELECT user_id, rn, greatest(CAST(0 AS BIGINT), cents - k.kk) FROM seq, k WHERE rn = 1 " +
        "  UNION ALL " +
        "  SELECT seq.user_id, seq.rn, greatest(CAST(0 AS BIGINT), c.s + seq.cents - k.kk) " +
        "  FROM c JOIN seq ON seq.user_id = c.user_id AND seq.rn = c.rn + 1, k) " +
        "SELECT c.user_id, CAST(c.rn AS BIGINT) AS rn, c.s AS cusum_cents, " +
        "  CAST(CASE WHEN c.s > 2 * k.kk THEN 1 ELSE 0 END AS INT) AS alarm " +
        "FROM c, k ORDER BY user_id, rn"),

    // Pairwise correlation matrix of the numeric lineitem measures — the
    // feature-redundancy screen a training pipeline runs before model
    // fitting. Six corr aggregates in ONE pass over the fact table
    // (shared scan, partial+final co-moments); 6-dp round absorbs
    // accumulation-order drift.
    sql("q_corr_matrix",
      "SELECT l_returnflag AS flag, count(*) AS n, " +
        "  round(corr(l_quantity, l_extendedprice), 6) AS qty_price, " +
        "  round(corr(l_quantity, l_discount), 6) AS qty_disc, " +
        "  round(corr(l_quantity, l_tax), 6) AS qty_tax, " +
        "  round(corr(l_extendedprice, l_discount), 6) AS price_disc, " +
        "  round(corr(l_extendedprice, l_tax), 6) AS price_tax, " +
        "  round(corr(l_discount, l_tax), 6) AS disc_tax " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY flag"),

    // DAU/WAU stickiness per day — exact distinct counts (pre-distinct
    // (day, user) relation shared by both sides), ratio of exact
    // integers as the only double.
    sql2("q_dau_stickiness",
      "WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events), " +
        "days AS (SELECT DISTINCT d FROM du), " +
        "dau AS (SELECT d AS day, count(*) AS dau FROM du GROUP BY 1), " +
        "wau AS (SELECT days.d AS day, count(DISTINCT du.user_id) AS u7 " +
        "  FROM days JOIN du ON du.d BETWEEN date_sub(days.d, 6) AND days.d GROUP BY 1) " +
        "SELECT dau.day, CAST(dau.dau AS BIGINT) AS dau, CAST(wau.u7 AS BIGINT) AS wau, " +
        "  round(CAST(dau.dau AS DOUBLE) / wau.u7, 4) AS stickiness " +
        "FROM dau JOIN wau ON dau.day = wau.day ORDER BY dau.day",
      "WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events), " +
        "days AS (SELECT DISTINCT d FROM du), " +
        "dau AS (SELECT d AS day, count(*) AS dau FROM du GROUP BY 1), " +
        "wau AS (SELECT days.d AS day, count(DISTINCT du.user_id) AS u7 " +
        "  FROM days JOIN du ON du.d BETWEEN days.d - 6 AND days.d GROUP BY 1) " +
        "SELECT dau.day, CAST(dau.dau AS BIGINT) AS dau, CAST(wau.u7 AS BIGINT) AS wau, " +
        "  round(CAST(dau.dau AS DOUBLE) / wau.u7, 4) AS stickiness " +
        "FROM dau JOIN wau ON dau.day = wau.day ORDER BY dau.day"),

    // Week-over-week churn: active in week w with no activity in w+1
    // (the last data week churns everyone by definition — the honest
    // boundary; the anti-join is the scale shape, one shuffle on user).
    sql2("q_weekly_churn",
      "WITH uw AS (SELECT DISTINCT user_id, " +
        "  CAST(datediff(CAST(ts AS DATE), DATE '2024-01-01') AS BIGINT) DIV 7 AS wk FROM events) " +
        "SELECT a.wk, count(*) AS active, " +
        "  CAST(sum(CASE WHEN b.user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS churned " +
        "FROM uw a LEFT JOIN uw b ON a.user_id = b.user_id AND b.wk = a.wk + 1 " +
        "GROUP BY a.wk ORDER BY a.wk",
      "WITH uw AS (SELECT DISTINCT user_id, " +
        "  CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) // 7 AS wk FROM events) " +
        "SELECT a.wk, count(*) AS active, " +
        "  CAST(sum(CASE WHEN b.user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS churned " +
        "FROM uw a LEFT JOIN uw b ON a.user_id = b.user_id AND b.wk = a.wk + 1 " +
        "GROUP BY a.wk ORDER BY a.wk"),

    // Signup→first-purchase conversion lag percentiles — µs-exact lags
    // (first signup to earliest following purchase per user),
    // interpolated p50/p90.
    sql2("q_conversion_lag",
      "WITH s AS (SELECT user_id, min(ts) AS ts0 FROM events WHERE event_type = 'signup' GROUP BY 1), " +
        "p AS (SELECT s.user_id, min(unix_micros(e.ts) - unix_micros(s.ts0)) AS lag_us " +
        "  FROM s JOIN events e ON e.user_id = s.user_id " +
        "    AND e.event_type = 'purchase' AND e.ts >= s.ts0 GROUP BY 1) " +
        "SELECT count(*) AS n, CAST(min(lag_us) AS BIGINT) AS min_us, " +
        "  round(percentile(lag_us, 0.5), 1) AS p50_us, " +
        "  round(percentile(lag_us, 0.9), 1) AS p90_us FROM p",
      "WITH s AS (SELECT user_id, min(ts) AS ts0 FROM events WHERE event_type = 'signup' GROUP BY 1), " +
        "p AS (SELECT s.user_id, min(epoch_us(e.ts) - epoch_us(s.ts0)) AS lag_us " +
        "  FROM s JOIN events e ON e.user_id = s.user_id " +
        "    AND e.event_type = 'purchase' AND e.ts >= s.ts0 GROUP BY 1) " +
        "SELECT count(*) AS n, CAST(min(lag_us) AS BIGINT) AS min_us, " +
        "  round(quantile_cont(lag_us, 0.5), 1) AS p50_us, " +
        "  round(quantile_cont(lag_us, 0.9), 1) AS p90_us FROM p"),

    // Per-day session stats with bounce rate (30-min inactivity gap,
    // gaps-and-islands session ids) — the web-analytics daily rollup.
    // µs-exact gap comparisons; session ids from the change-flag prefix
    // sum; a session's day is its first event's date.
    sql2("q_session_stats",
      "WITH x AS (SELECT user_id, ts, event_id, " +
        "  CASE WHEN unix_micros(ts) - lag(unix_micros(ts)) " +
        "    OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000 THEN 1 ELSE 0 END AS brk " +
        "  FROM events), " +
        "g AS (SELECT user_id, ts, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid FROM x), " +
        "s AS (SELECT user_id, sid, min(CAST(ts AS DATE)) AS day, count(*) AS n FROM g GROUP BY 1, 2) " +
        "SELECT day, count(*) AS sessions, " +
        "  CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS bounces, " +
        "  CAST(max(n) AS BIGINT) AS longest " +
        "FROM s GROUP BY day ORDER BY day",
      "WITH x AS (SELECT user_id, ts, event_id, " +
        "  CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) " +
        "    OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000 THEN 1 ELSE 0 END AS brk " +
        "  FROM events), " +
        "g AS (SELECT user_id, ts, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid FROM x), " +
        "s AS (SELECT user_id, sid, min(CAST(ts AS DATE)) AS day, count(*) AS n FROM g GROUP BY 1, 2) " +
        "SELECT day, count(*) AS sessions, " +
        "  CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS bounces, " +
        "  CAST(max(n) AS BIGINT) AS longest " +
        "FROM s GROUP BY day ORDER BY day"),

    // PMI collocations (pointwise mutual information over adjacent word
    // pairs) — the classic phrase detector. All counts exact; r14: PMI
    // itself is now the micro-bit lattice difference
    // L(cxy·2·tot) − L(a.c·b.c) over exact integer products (< 2^53)
    // divided once in IEEE — no transcendental result is rounded
    // cross-engine (the r13 formulation 5-dp-rounded a raw log2: the
    // same latent knife-edge class as the lm entries). The result set is
    // still cut by exact SUPPORT (cxy ≥ 20), never a float ranking.
    // Docs with a single token are excluded on both sides (Spark's
    // sequence(1, 0) DESCENDS where generate_series is empty).
    sql2("q_pmi_collocations",
      "WITH words AS (SELECT doc_id, split(lower(text), ' ') AS w FROM documents WHERE size(split(lower(text), ' ')) >= 2), " +
        "bg AS (SELECT element_at(w, i) AS w1, element_at(w, i + 1) AS w2 FROM words " +
        "  LATERAL VIEW explode(sequence(1, size(w) - 1)) g AS i), " +
        "uni AS (SELECT w, count(*) AS c FROM " +
        "  (SELECT w1 AS w FROM bg UNION ALL SELECT w2 FROM bg) t GROUP BY 1), " +
        "pc AS (SELECT w1, w2, count(*) AS cxy FROM bg GROUP BY 1, 2), " +
        "n AS (SELECT count(*) AS tot FROM bg) " +
        "SELECT w1, w2, CAST(cxy AS BIGINT) AS cxy, " +
        s"  CAST(${microLog2Guarded("cxy * 2 * tot")} " +
        s"     - ${microLog2Guarded("a.c * b.c")} AS DOUBLE) " +
        "    / CAST(1000000 AS DOUBLE) AS pmi " +
        "FROM pc JOIN uni a ON pc.w1 = a.w JOIN uni b ON pc.w2 = b.w CROSS JOIN n " +
        "WHERE cxy >= 20 ORDER BY w1, w2",
      "WITH words AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents WHERE len(string_split(lower(text), ' ')) >= 2), " +
        "bg AS (SELECT w[i] AS w1, w[i + 1] AS w2 FROM words, " +
        "  LATERAL unnest(generate_series(1, len(w) - 1)) AS g(i)), " +
        "uni AS (SELECT w, count(*) AS c FROM " +
        "  (SELECT w1 AS w FROM bg UNION ALL SELECT w2 FROM bg) t GROUP BY 1), " +
        "pc AS (SELECT w1, w2, count(*) AS cxy FROM bg GROUP BY 1, 2), " +
        "n AS (SELECT count(*) AS tot FROM bg) " +
        "SELECT w1, w2, CAST(cxy AS BIGINT) AS cxy, " +
        "  CAST(CAST(floor(log2(CAST(cxy * 2 * tot AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) " +
        "     - CAST(floor(log2(CAST(a.c * b.c AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) " +
        "    / CAST(1000000 AS DOUBLE) AS pmi " +
        "FROM pc JOIN uni a ON pc.w1 = a.w JOIN uni b ON pc.w2 = b.w CROSS JOIN n " +
        "WHERE cxy >= 20 ORDER BY w1, w2"),

    // Order-to-ship latency SLA table per month (exact day diffs,
    // interpolated p90) — the fulfillment-operations rollup.
    sql2("q_ship_latency",
      "SELECT date_format(o_orderdate, 'yyyy-MM') AS month, count(*) AS n, " +
        "  CAST(min(datediff(l_shipdate, o_orderdate)) AS BIGINT) AS min_d, " +
        "  round(avg(datediff(l_shipdate, o_orderdate)), 4) AS avg_d, " +
        "  round(percentile(datediff(l_shipdate, o_orderdate), 0.9), 1) AS p90_d " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "GROUP BY 1 ORDER BY month",
      "SELECT strftime(o_orderdate, '%Y-%m') AS month, count(*) AS n, " +
        "  CAST(min(CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE)) AS BIGINT) AS min_d, " +
        "  round(avg(CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE)), 4) AS avg_d, " +
        "  round(quantile_cont(CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE), 0.9), 1) AS p90_d " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "GROUP BY 1 ORDER BY month"),

    // Sliding 7-day distinct users via HLL sketch UNION — the 100 TB
    // face of q_rolling_distinct: build ONE mergeable sketch per day
    // (state = days × 2^14 registers, never user sets), then each
    // day's trailing window is a 7-sketch union — no event-log rescan.
    // The exact count (pre-distinct band join, same as the exact entry)
    // rides along, and the estimate must land within 5% of it — the
    // all-1 ok column is the differential gate on the sketch path.
    sql2("q_rolling_hll",
      "WITH dusk AS (SELECT CAST(ts AS DATE) AS d, hll_sketch_agg(user_id, 14) AS sk FROM events GROUP BY 1), " +
        "du AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events), " +
        "days AS (SELECT DISTINCT d FROM du), " +
        "exact AS (SELECT days.d AS day, CAST(count(DISTINCT du.user_id) AS BIGINT) AS u7 " +
        "  FROM days JOIN du ON du.d BETWEEN date_sub(days.d, 6) AND days.d GROUP BY days.d), " +
        "est AS (SELECT days.d AS day, hll_sketch_estimate(hll_union_agg(dusk.sk)) AS e " +
        "  FROM days JOIN dusk ON dusk.d BETWEEN date_sub(days.d, 6) AND days.d GROUP BY days.d) " +
        "SELECT exact.day, exact.u7, " +
        "  CAST(CASE WHEN abs(est.e - exact.u7) <= 0.05 * exact.u7 THEN 1 ELSE 0 END AS BIGINT) AS ok " +
        "FROM exact JOIN est ON exact.day = est.day ORDER BY exact.day",
      "WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events), " +
        "days AS (SELECT DISTINCT d FROM du) " +
        "SELECT days.d AS day, CAST(count(DISTINCT du.user_id) AS BIGINT) AS u7, " +
        "  CAST(1 AS BIGINT) AS ok " +
        "FROM days JOIN du ON du.d BETWEEN days.d - 6 AND days.d " +
        "GROUP BY days.d ORDER BY days.d"),

    // Cohort LTV curves — signup-week cohorts × week offsets, cumulative
    // purchase revenue per cohort (the product-analytics table behind
    // retention economics). Cent-exact integers end to end; the
    // cumulative window rides the cohort×offset CELL relation (bounded
    // at weeks², tiny), never the event log.
    sql2("q_cohort_ltv",
      "WITH anchor AS (SELECT user_id, min(CAST(ts AS DATE)) AS d0 " +
        "  FROM events WHERE event_type = 'signup' GROUP BY 1), " +
        "rev AS (SELECT a.user_id, " +
        "    CAST(datediff(a.d0, DATE '2024-01-01') AS BIGINT) DIV 7 AS cohort, " +
        "    CAST(datediff(CAST(e.ts AS DATE), a.d0) AS BIGINT) DIV 7 AS wk, " +
        "    CAST(round(e.value * 100) AS BIGINT) AS cents " +
        "  FROM events e JOIN anchor a ON e.user_id = a.user_id " +
        "  WHERE e.event_type = 'purchase' AND CAST(e.ts AS DATE) >= a.d0), " +
        "cells AS (SELECT cohort, wk, sum(cents) AS cents, count(*) AS n FROM rev GROUP BY 1, 2) " +
        "SELECT cohort, wk, CAST(n AS BIGINT) AS n, CAST(cents AS BIGINT) AS cents, " +
        "  CAST(sum(cents) OVER (PARTITION BY cohort ORDER BY wk) AS BIGINT) AS ltv_cents " +
        "FROM cells ORDER BY cohort, wk",
      "WITH anchor AS (SELECT user_id, min(CAST(ts AS DATE)) AS d0 " +
        "  FROM events WHERE event_type = 'signup' GROUP BY 1), " +
        "rev AS (SELECT a.user_id, " +
        "    CAST(CAST(a.d0 AS DATE) - DATE '2024-01-01' AS BIGINT) // 7 AS cohort, " +
        "    CAST(CAST(e.ts AS DATE) - a.d0 AS BIGINT) // 7 AS wk, " +
        "    CAST(round(e.value * 100) AS BIGINT) AS cents " +
        "  FROM events e JOIN anchor a ON e.user_id = a.user_id " +
        "  WHERE e.event_type = 'purchase' AND CAST(e.ts AS DATE) >= a.d0), " +
        "cells AS (SELECT cohort, wk, sum(cents) AS cents, count(*) AS n FROM rev GROUP BY 1, 2) " +
        "SELECT cohort, wk, CAST(n AS BIGINT) AS n, CAST(cents AS BIGINT) AS cents, " +
        "  CAST(sum(cents) OVER (PARTITION BY cohort ORDER BY wk) AS BIGINT) AS ltv_cents " +
        "FROM cells ORDER BY cohort, wk"),

    // Weighted median (quantity-weighted price midpoint — the domain-
    // mixing statistic). Exact: integer weights, cumulative sums on a
    // RANGE-framed window (peers of (v, wt) aggregate together, so tie
    // order cannot matter), first value where cum ≥ half the total.
    sql("q_weighted_median",
      "WITH w AS (SELECT l_returnflag AS flag, l_extendedprice AS v, " +
        "  CAST(round(l_quantity) AS BIGINT) AS wt FROM lineitem), " +
        "c AS (SELECT flag, v, wt, " +
        "  sum(wt) OVER (PARTITION BY flag ORDER BY v, wt) AS cum, " +
        "  sum(wt) OVER (PARTITION BY flag) AS tot FROM w) " +
        "SELECT flag, round(min(v), 4) AS wmedian, CAST(max(tot) AS BIGINT) AS total_weight " +
        "FROM c WHERE cum >= tot / 2.0 GROUP BY flag ORDER BY flag"),

    // Equi-DEPTH histogram (deciles as bucket artifacts: count/lo/hi per
    // bucket) — the complement of q_histogram's equi-width form; ntile
    // over a fully-keyed order so bucket assignment is deterministic in
    // both engines.
    sql("q_histogram_equidepth",
      "WITH r AS (SELECT l_returnflag AS flag, l_extendedprice AS v, " +
        "  ntile(10) OVER (PARTITION BY l_returnflag " +
        "    ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS bucket " +
        "  FROM lineitem) " +
        "SELECT flag, CAST(bucket AS BIGINT) AS bucket, count(*) AS n, " +
        "  round(min(v), 2) AS lo, round(max(v), 2) AS hi " +
        "FROM r GROUP BY flag, bucket ORDER BY flag, bucket"),

    // EXACT set-similarity join with PPJoin-style prefix filtering
    // (Chaudhuri et al. ICDE'06 / Xiao et al. WWW'08): documents as
    // 5-gram shingle SETS, candidates = pairs sharing a token among each
    // side's first |S| − ⌈t·|S|⌉ + 1 shingles in global (df, tok) order —
    // the prefix-filter lemma guarantees no pair at Jaccard ≥ t escapes —
    // then exact verification. Complements the probabilistic MinHash
    // path with an exact join whose pruning is SOUND: the brute-force
    // oracle proves no pair missed (prefix filtering cuts 124 750
    // candidate pairs to 25 = exactly the survivors at sf0.01). The
    // shingle and prefix relations are persisted (the q_triangles
    // lesson: CTE inlining would rebuild the shingle set per reference).
    dfq("q_simjoin_prefix",
      "WITH words AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents), " +
        "sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS tok " +
        "  FROM words, LATERAL unnest(generate_series(1, greatest(len(w) - 4, 1))) AS g(i)), " +
        "sz AS (SELECT doc_id, count(*) AS s FROM sh GROUP BY 1), " +
        "ix AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter " +
        "  FROM sh a JOIN sh b ON a.tok = b.tok AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT d1, d2, CAST(inter AS BIGINT) AS inter, " +
        "  CAST(za.s + zb.s - inter AS BIGINT) AS uni, " +
        "  round(CAST(inter AS DOUBLE) / (za.s + zb.s - inter), 6) AS jaccard " +
        "FROM ix JOIN sz za ON ix.d1 = za.doc_id JOIN sz zb ON ix.d2 = zb.doc_id " +
        "WHERE CAST(inter AS DOUBLE) / (za.s + zb.s - inter) >= 0.5 ORDER BY d1, d2") { (s, dir) =>
      graft.operators.TextDedup.exactSimilarityJoin(
          Tables.load(s, dir, "documents"), "doc_id", "text",
          k = 5, threshold = 0.5)
        .select(col("d1"), col("d2"), col("inter").cast("long").as("inter"),
          col("uni").cast("long").as("uni"), col("jaccard"))
        .orderBy("d1", "d2")
    },

    // CONTAINMENT join — directed (d1 ⊆ d2)-style pairs at ≥ 80%
    // shingle containment: the quote/plagiarism detector where Jaccard
    // fails (a short quote in a long doc has tiny Jaccard, full
    // containment). Only the contained side carries a prefix; the
    // containing side is probed inverted-index style. Oracle: brute
    // force from first principles — 50 directed pairs at sf0.01.
    dfq("q_containment",
      "WITH words AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents), " +
        "sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS tok " +
        "  FROM words, LATERAL unnest(generate_series(1, greatest(len(w) - 4, 1))) AS g(i)), " +
        "sz AS (SELECT doc_id, count(*) AS s FROM sh GROUP BY 1), " +
        "ix AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter " +
        "  FROM sh a JOIN sh b ON a.tok = b.tok AND a.doc_id <> b.doc_id GROUP BY 1, 2) " +
        "SELECT d1, d2, CAST(inter AS BIGINT) AS inter, CAST(za.s AS BIGINT) AS s1, " +
        "  round(CAST(inter AS DOUBLE) / za.s, 6) AS containment " +
        "FROM ix JOIN sz za ON ix.d1 = za.doc_id " +
        "WHERE CAST(inter AS DOUBLE) / za.s >= 0.8 ORDER BY d1, d2") { (s, dir) =>
      graft.operators.TextDedup.containmentJoin(
          Tables.load(s, dir, "documents"), "doc_id", "text",
          k = 5, threshold = 0.8)
        .select(col("d1"), col("d2"), col("inter").cast("long").as("inter"),
          col("s1").cast("long").as("s1"), col("containment"))
        .orderBy("d1", "d2")
    },

    // Degree distribution of the co-purchase graph — the graph-shape
    // profile (how skewed is connectivity) beside triangles/PageRank/
    // components; exact integers, same text both engines.
    // Engine side persists the pair relation once (r21): the oracle text's
    // `pairs` CTE is referenced twice (u and v legs of the union), and
    // Catalyst inlines CTEs per reference — the lineitem self-join +
    // DISTINCT ran twice per lap (8 parquet scans in the before plan).
    dfq("q_degree_dist",
      "WITH pairs AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v " +
        "  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey), " +
        "deg AS (SELECT n, count(*) AS d FROM " +
        "  (SELECT u AS n FROM pairs UNION ALL SELECT v FROM pairs) t GROUP BY n) " +
        "SELECT d AS degree, count(*) AS n_nodes FROM deg GROUP BY d ORDER BY d") { (s, dir) =>
      Tables.registerAll(s, dir)
      checkpointedView(s, "graft_dd_pairs",
        "SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v " +
          "FROM lineitem a JOIN lineitem b " +
          "ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey")
      s.sql(
        "WITH deg AS (SELECT n, count(*) AS d FROM " +
          "  (SELECT u AS n FROM graft_dd_pairs UNION ALL SELECT v FROM graft_dd_pairs) t GROUP BY n) " +
          "SELECT d AS degree, count(*) AS n_nodes FROM deg GROUP BY d ORDER BY d")
    },

    // ASYMMETRIC exact similarity join — the daily-ingest face: batch
    // (doc_id ≥ 400) against corpus (doc_id < 400) with corpus-df prefix
    // ordering; the cross-prefix lemma keeps the pruning sound, the
    // corpus never self-joins, and the brute-force oracle (all
    // corpus×batch Jaccards from first principles) proves no cross pair
    // missed — 8 genuine pairs at sf0.01.
    dfq("q_simjoin_incremental",
      "WITH words AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents), " +
        "sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS tok " +
        "  FROM words, LATERAL unnest(generate_series(1, greatest(len(w) - 4, 1))) AS g(i)), " +
        "sz AS (SELECT doc_id, count(*) AS s FROM sh GROUP BY 1), " +
        "ix AS (SELECT a.doc_id AS corpus_id, b.doc_id AS batch_id, count(*) AS inter " +
        "  FROM sh a JOIN sh b ON a.tok = b.tok AND a.doc_id < 400 AND b.doc_id >= 400 GROUP BY 1, 2) " +
        "SELECT corpus_id, batch_id, CAST(inter AS BIGINT) AS inter, " +
        "  CAST(za.s + zb.s - inter AS BIGINT) AS uni, " +
        "  round(CAST(inter AS DOUBLE) / (za.s + zb.s - inter), 6) AS jaccard " +
        "FROM ix JOIN sz za ON ix.corpus_id = za.doc_id JOIN sz zb ON ix.batch_id = zb.doc_id " +
        "WHERE CAST(inter AS DOUBLE) / (za.s + zb.s - inter) >= 0.5 " +
        "ORDER BY corpus_id, batch_id") { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      graft.operators.TextDedup.exactSimilarityJoinAgainst(
          docs.filter(col("doc_id") < 400), docs.filter(col("doc_id") >= 400),
          "doc_id", "text", k = 5, threshold = 0.5)
        .select(col("corpus_id"), col("batch_id"),
          col("inter").cast("long").as("inter"), col("uni").cast("long").as("uni"),
          col("jaccard"))
        .orderBy("corpus_id", "batch_id")
    },

    // Inverted-index posting lists: term → document frequency + the first
    // 15 doc ids, sorted — the retrieval-side artifact a text corpus ships
    // with. Tokenization is the shared split-on-space rule (identical in
    // both engines, punctuation riding tokens and all). collect_set keeps
    // the per-term state bounded by distinct docs; the 15-element slice
    // bounds the output row, not the aggregation.
    sql2("q_inverted_index",
      "WITH toks AS (SELECT doc_id, tok FROM " +
        "  (SELECT doc_id, explode(split(lower(text), ' ')) AS tok FROM documents) e " +
        "  WHERE length(tok) >= 4) " +
        "SELECT tok AS term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df, " +
        "  array_join(slice(sort_array(collect_set(doc_id)), 1, 15), ',') AS postings " +
        "FROM toks GROUP BY tok HAVING count(DISTINCT doc_id) >= 50 " +
        "ORDER BY df DESC, term LIMIT 100",
      "WITH toks AS (SELECT doc_id, tok FROM " +
        "  (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents) e " +
        "  WHERE length(tok) >= 4) " +
        "SELECT tok AS term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df, " +
        "  array_to_string(list_sort(list(DISTINCT doc_id))[1:15], ',') AS postings " +
        "FROM toks GROUP BY tok HAVING count(DISTINCT doc_id) >= 50 " +
        "ORDER BY df DESC, term LIMIT 100"),
  )

  // ===========================================================================
  // Advanced analytics, continued (r12): retrieval ranking, association
  // rules, customer segmentation, graph traversal.
  // ===========================================================================
  private val advanced2: Seq[Entry] = Seq(
    // Market-basket association rules over co-purchased parts: pair
    // support across orders, confidence P(v|u), and lift vs independence
    // — the classic affinity-analysis surface. Same text both engines;
    // the ranking key is the 6-dp-rounded lift with (u, v) tie-break so
    // the LIMIT boundary is deterministic. Scale: the pair enumeration is
    // the order-keyed self-join (bounded by Σ per-order basket², never a
    // cross product), support/df relations are partial-aggregated, and
    // the min-support HAVING prunes before the metric joins.
    // Engine side persists `po` once (r21): the oracle text references it
    // from nn, ps, and both legs of the pair self-join — four lineitem
    // scans + DISTINCTs per lap without the persist.
    dfq("q_market_basket",
      "WITH po AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), " +
        "nn AS (SELECT CAST(count(DISTINCT o) AS DOUBLE) AS n FROM po), " +
        "ps AS (SELECT p, count(*) AS s FROM po GROUP BY p), " +
        "pr AS (SELECT a.p AS u, b.p AS v, count(*) AS supp FROM po a " +
        "  JOIN po b ON a.o = b.o AND a.p < b.p GROUP BY a.p, b.p HAVING count(*) >= 3) " +
        "SELECT u, v, CAST(supp AS BIGINT) AS supp, " +
        "  round(CAST(supp AS DOUBLE) / su.s, 6) AS conf, " +
        "  round(nn.n * supp / (su.s * sv.s), 6) AS lift " +
        "FROM pr JOIN ps su ON pr.u = su.p JOIN ps sv ON pr.v = sv.p CROSS JOIN nn " +
        "ORDER BY lift DESC, u, v LIMIT 20") { (s, dir) =>
      Tables.registerAll(s, dir)
      checkpointedView(s, "graft_mb_po",
        "SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem")
      s.sql(
        "WITH nn AS (SELECT CAST(count(DISTINCT o) AS DOUBLE) AS n FROM graft_mb_po), " +
          "ps AS (SELECT p, count(*) AS s FROM graft_mb_po GROUP BY p), " +
          "pr AS (SELECT a.p AS u, b.p AS v, count(*) AS supp FROM graft_mb_po a " +
          "  JOIN graft_mb_po b ON a.o = b.o AND a.p < b.p GROUP BY a.p, b.p HAVING count(*) >= 3) " +
          "SELECT u, v, CAST(supp AS BIGINT) AS supp, " +
          "  round(CAST(supp AS DOUBLE) / su.s, 6) AS conf, " +
          "  round(nn.n * supp / (su.s * sv.s), 6) AS lift " +
          "FROM pr JOIN ps su ON pr.u = su.p JOIN ps sv ON pr.v = sv.p CROSS JOIN nn " +
          "ORDER BY lift DESC, u, v LIMIT 20")
    },

    // RFM customer segmentation: per-customer recency (days from the
    // corpus max order date), frequency, and cent-exact monetary, each
    // quartiled under a TOTAL order (custkey tie-break — the determinism
    // ntile needs), composed into the classic 3-digit segment code.
    // Engine side: three distributed global ranks (Prefix.withRunningSums
    // — a partition-less `ntile() OVER (ORDER BY …)` window funnels every
    // customer into ONE task at 100 TB) + the explicit ntile remainder
    // formula (first n%k buckets get the extra row); the oracle runs the
    // REAL ntile, so the formula is differentially pinned against the SQL
    // semantics it replaces. Output is segment populations.
    dfq("q_rfm",
      "WITH cust AS (SELECT o_custkey AS c, max(o_orderdate) AS last_o, count(*) AS f, " +
        "    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS m FROM orders GROUP BY o_custkey), " +
        "mx AS (SELECT max(o_orderdate) AS mxd FROM orders), " +
        "sc AS (SELECT c, date_diff('day', CAST(last_o AS DATE), CAST(mxd AS DATE)) AS rec, f, m " +
        "  FROM cust CROSS JOIN mx), " +
        "nt AS (SELECT c, ntile(4) OVER (ORDER BY rec ASC, c) AS r, " +
        "    ntile(4) OVER (ORDER BY f DESC, c) AS fq, " +
        "    ntile(4) OVER (ORDER BY m DESC, c) AS mo FROM sc) " +
        "SELECT CAST(r * 100 + fq * 10 + mo AS INT) AS segment, count(*) AS n_cust " +
        "FROM nt GROUP BY r * 100 + fq * 10 + mo ORDER BY segment") { (s, dir) =>
      val orders = Tables.load(s, dir, "orders")
      val cust = orders.groupBy(col("o_custkey").as("c"))
        .agg(max(col("o_orderdate")).as("last_o"), count(lit(1)).as("f"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("m"))
      // Persisted once (r21): the count below plus the three quartile
      // rank passes each consumed this relation — unpersisted, the
      // orders aggregates re-ran four times per lap.
      val sc = graft.operators.OpCaches.track(cust
        .crossJoin(broadcast(orders.agg(max(col("o_orderdate")).as("mxd"))))
        .select(col("c"),
          datediff(col("mxd").cast("date"), col("last_o").cast("date"))
            .cast("long").as("rec"),
          col("f"), col("m")).persist())
      val n = sc.count() // one scalar: the ntile denominator
      require(n >= 4, s"q_rfm: need at least 4 customers, got $n")
      // ntile(k) from a 1-based global rank: the first n%k buckets take
      // size+1 rows — exactly both engines' remainder rule.
      def ntileOf(idx: org.apache.spark.sql.Column, k: Int): org.apache.spark.sql.Column = {
        val size = n / k; val rem = n % k; val cut = rem * (size + 1)
        // floor(): Column./ is true division; exact here (counts ≪ 2^52).
        when(idx <= cut, floor((idx - 1) / (size + 1)) + 1)
          .otherwise(lit(rem) + floor((idx - cut - 1) / size) + 1)
      }
      // Ascending rank keys: rec asc, f desc (as -f), m desc (as -m);
      // custkey breaks every tie, so each rank is a total order.
      def quart(keyExpr: org.apache.spark.sql.Column, out: String) =
        graft.operators.Prefix.withRunningSums(
            sc.withColumn("_k", keyExpr), "_k", Nil, idxCol = "_r",
            tieCols = Seq("c"))
          .select(col("c"), ntileOf(col("_r"), 4).as(out))
      quart(col("rec"), "r")
        .join(quart(-col("f"), "fq"), "c")
        .join(quart(-col("m"), "mo"), "c")
        .groupBy((col("r") * 100 + col("fq") * 10 + col("mo")).cast("int").as("segment"))
        .agg(count(lit(1)).as("n_cust"))
        .orderBy("segment")
    },

    // BM25 retrieval scoring (k1=1.2, b=0.75) for a fixed 3-term query —
    // the ranking function an inverted-index corpus actually serves.
    // Shared tokenization rule with q_inverted_index (lower, split on
    // space, len ≥ 4). Per-term scores are computed in double from
    // identical integer inputs (tf, df, dl, Σdl) — bit-identical on both
    // engines — then 6-dp-rounded into DECIMAL(18,6) so the PER-DOC SUM
    // is exact and partition-order-free (the q_tfidf_topk idiom); the
    // top-20 cut ranks on that exact decimal with doc_id tie-break.
    // Scale: df/dl/tf are partial-aggregated token relations; the query
    // IN-list prunes tf before any join; nothing is ever all-pairs.
    sql2("q_bm25",
      "WITH toks AS (SELECT doc_id, tok FROM " +
        "  (SELECT doc_id, explode(split(lower(text), ' ')) AS tok FROM documents) e " +
        "  WHERE length(tok) >= 4), " +
        "dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id), " +
        "stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, CAST(sum(dl) AS DOUBLE) AS sum_dl FROM dl), " +
        "tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks " +
        "  WHERE tok IN ('vector', 'shuffle', 'partition') GROUP BY doc_id, tok), " +
        "dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok), " +
        "scored AS (SELECT doc_id, CAST(round(" +
        "    ln((stats.n_docs - df + 0.5) / (df + 0.5) + 1.0) * (tf * 2.2) / " +
        "    (tf + 1.2 * (0.25 + 0.75 * dl.dl / (stats.sum_dl / stats.n_docs))), 6) AS DECIMAL(18,6)) AS s " +
        "  FROM tf JOIN dfreq USING (tok) JOIN dl USING (doc_id) CROSS JOIN stats) " +
        "SELECT doc_id, CAST(sum(s) AS DOUBLE) AS bm25 FROM scored " +
        "GROUP BY doc_id ORDER BY sum(s) DESC, doc_id LIMIT 20",
      "WITH toks AS (SELECT doc_id, tok FROM " +
        "  (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents) e " +
        "  WHERE length(tok) >= 4), " +
        "dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id), " +
        "stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, CAST(sum(dl) AS DOUBLE) AS sum_dl FROM dl), " +
        "tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks " +
        "  WHERE tok IN ('vector', 'shuffle', 'partition') GROUP BY doc_id, tok), " +
        "dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok), " +
        "scored AS (SELECT doc_id, CAST(round(" +
        "    ln((stats.n_docs - df + 0.5) / (df + 0.5) + 1.0) * (tf * 2.2) / " +
        "    (tf + 1.2 * (0.25 + 0.75 * dl.dl / (stats.sum_dl / stats.n_docs))), 6) AS DECIMAL(18,6)) AS s " +
        "  FROM tf JOIN dfreq USING (tok) JOIN dl USING (doc_id) CROSS JOIN stats) " +
        "SELECT doc_id, CAST(sum(s) AS DOUBLE) AS bm25 FROM scored " +
        "GROUP BY doc_id ORDER BY sum(s) DESC, doc_id LIMIT 20"),

    // Capped multi-source BFS over the REPEAT-co-purchase graph (parts
    // sharing ≥ 2 orders — the multiplicity floor keeps the graph sparse
    // enough to have real hop structure: hops 0..12 plus unreachable at
    // sf0.01). Engine: Components.bfsHops frontier rounds (join +
    // distinct + anti-join per level, constant-size checkpointed plans);
    // oracle: DuckDB recursive CTE re-deriving "min hops ≤ 12 else -1"
    // from first principles. The cap is part of the semantics, mirrored
    // on both sides.
    dfq("q_bfs_hops",
      "WITH RECURSIVE po AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), " +
        "pr AS (SELECT a.p AS u, b.p AS v FROM po a JOIN po b ON a.o = b.o AND a.p < b.p " +
        "  GROUP BY 1, 2 HAVING count(*) >= 2), " +
        "e AS (SELECT u, v FROM pr UNION ALL SELECT v, u FROM pr), " +
        "nodes AS (SELECT DISTINCT u AS id FROM e), " +
        "s AS (SELECT min(id) AS sid FROM nodes), " +
        "reach(id, d) AS (SELECT sid, 0 FROM s " +
        "  UNION SELECT e.v, reach.d + 1 FROM reach JOIN e ON e.u = reach.id WHERE reach.d < 12) " +
        "SELECT n.id AS node, CAST(coalesce(min(reach.d), -1) AS INT) AS hops " +
        "FROM nodes n LEFT JOIN reach ON reach.id = n.id GROUP BY n.id ORDER BY node") { (s, dir) =>
      Tables.registerAll(s, dir)
      // Persisted once (r21): the seed lookup below and the operator's
      // internal symmetrize both consume this relation — unpersisted,
      // the lineitem self-join + HAVING ran twice per lap.
      val pr = graft.operators.OpCaches.track(s.sql(
        "SELECT a.p AS u, b.p AS v FROM " +
          "(SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem) a JOIN " +
          "(SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem) b " +
          "ON a.o = b.o AND a.p < b.p GROUP BY a.p, b.p HAVING count(*) >= 2").persist())
      // Single seed = the smallest node id (u < v ⇒ min u is min node):
      // one scalar to the driver, like the components convergence sum.
      // An EMPTY pair graph (sparse scale) has a NULL min — the oracle's
      // answer is the empty relation, not an NPE.
      val srcRow = pr.agg(min(col("u"))).head()
      if (srcRow.isNullAt(0))
        pr.select(col("u").as("node"), lit(-1).cast("int").as("hops")).limit(0)
      else
        graft.operators.Components.bfsHops(
            pr, "u", "v", Seq(srcRow.getLong(0)), maxHops = 12)
          .select(col("id").as("node"), col("hops"))
          .orderBy("node")
    },

    // Single-source WEIGHTED shortest paths over the same co-purchase
    // graph — distributed Bellman-Ford (Components.shortestPaths):
    // deterministic integer edge weights 1..9, so every relaxation
    // comparison is exact; the 12-edge hop cap is part of the semantics
    // exactly as in q_bfs_hops, and the oracle replays it as a
    // depth-capped recursive CTE over (node, cost, hops) states (the
    // integer weights bound the state space, so the recursion
    // terminates). Non-degenerate at sf0.01: 1860/1880 nodes reached,
    // costs 0..42.
    dfq("q_shortest_path",
      "WITH RECURSIVE po AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), " +
        "pr AS (SELECT a.p AS u, b.p AS v FROM po a JOIN po b ON a.o = b.o AND a.p < b.p " +
        "  GROUP BY 1, 2 HAVING count(*) >= 2), " +
        "w AS (SELECT u, v, 1 + (u*31 + v*17) % 9 AS w FROM pr), " +
        "e AS (SELECT u, v, w FROM w UNION ALL SELECT v, u, w FROM w), " +
        "nodes AS (SELECT DISTINCT u AS id FROM e), " +
        "s AS (SELECT min(id) AS sid FROM nodes), " +
        "reach(id, d, h) AS (SELECT sid, 0, 0 FROM s " +
        "  UNION SELECT e.v, reach.d + e.w, reach.h + 1 FROM reach JOIN e ON e.u = reach.id WHERE reach.h < 12) " +
        "SELECT n.id AS node, CAST(coalesce(min(reach.d), -1) AS BIGINT) AS dist " +
        "FROM nodes n LEFT JOIN reach ON reach.id = n.id GROUP BY n.id ORDER BY node") { (s, dir) =>
      Tables.registerAll(s, dir)
      // Weight is computed on the canonical (u < v) pair, then mirrored,
      // so both directions of an undirected edge carry the same cost.
      // Persisted once (r21): the seed lookup, the operator's edge
      // checkpoint, AND the final node-list distinct all consume this
      // relation — unpersisted, the lineitem self-join + HAVING ran four
      // times per lap (sym = two scans).
      val w = graft.operators.OpCaches.track(s.sql(
        "SELECT u, v, 1 + (u*31 + v*17) % 9 AS w FROM " +
          "(SELECT a.p AS u, b.p AS v FROM " +
          "(SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem) a JOIN " +
          "(SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem) b " +
          "ON a.o = b.o AND a.p < b.p GROUP BY a.p, b.p HAVING count(*) >= 2)").persist())
      val sym = w.union(w.select(col("v"), col("u"), col("w")))
      // Empty pair graph (sparse scale) → NULL min seed → the oracle's
      // empty relation, not an NPE (same guard as q_bfs_hops).
      val srcRow = w.agg(min(col("u"))).head()
      if (srcRow.isNullAt(0))
        sym.select(col("u").as("node"), lit(-1L).as("dist")).limit(0)
      else {
        val reached = graft.operators.Components.shortestPaths(
          sym, "u", "v", "w", Seq(srcRow.getLong(0)), maxHops = 12)
        sym.select(col("u").as("node")).distinct()
          .join(reached.withColumnsRenamed(Map("id" -> "node")), Seq("node"), "left")
          .select(col("node"), coalesce(col("d"), lit(-1L)).cast("long").as("dist"))
          .orderBy("node")
      }
    },

    // Bloom-filter semi-join: build a bitset over the filtered dim's keys
    // (mergeable map-side `bloom_agg` partials — one tiny final merge),
    // re-enter it as a broadcast literal probe on the fact scan
    // (`bloom_might_contain` — whole-stage-codegen'd, so the 100 TB scan
    // keeps its fused pipeline), then exact-verify the surviving
    // candidates with the real join. Green against the PLAIN semi-join
    // oracle proves the no-false-negative contract end-to-end: one true
    // key dropped by the bloom ⇒ missing rows ⇒ hash mismatch. False
    // positives only cost verify work (BloomSpec pins the rate).
    dfq("q_bloom_semijoin",
      "SELECT l_returnflag, count(*) AS n, " +
        "  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents " +
        "FROM lineitem WHERE l_suppkey IN " +
        "  (SELECT s_suppkey FROM supplier WHERE s_nationkey < 5) " +
        "GROUP BY l_returnflag ORDER BY l_returnflag") { (s, dir) =>
      import graft.functions.BloomOps._
      val dim = Tables.load(s, dir, "supplier")
        .filter(col("s_nationkey") < 5).select(col("s_suppkey"))
      val bloomBytes = dim
        .agg(bloom_agg(col("s_suppkey"), expectedItems = 100000L, fpp = 0.03))
        .head().getAs[Array[Byte]](0) // one small bitset to the driver
      Tables.load(s, dir, "lineitem")
        .filter(bloom_might_contain(lit(bloomBytes), col("l_suppkey")))
        .join(broadcast(dim), col("l_suppkey") === col("s_suppkey"), "left_semi")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(round(col("l_extendedprice") * 100).cast("long")).cast("long").as("cents"))
        .orderBy("l_returnflag")
    },

    // Link prediction by neighbor-set Jaccard over the repeat-co-purchase
    // graph: candidate pairs = nodes sharing ≥ 2 neighbors (the wedge
    // join, bounded by Σ deg² of the SPARSE thresholded graph, never
    // all-pairs), scored common/(dx+dy-common). Same text both engines;
    // 6-dp-rounded score + (x,y) tie-break pins the top-20 cut.
    // Engine side persists the symmetric edge relation once (r21): the
    // oracle text's `e` CTE is referenced three times (deg + both wedge
    // legs) and each reference inlines the whole po-self-join pipeline.
    dfq("q_graph_jaccard",
      "WITH po AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), " +
        "pr AS (SELECT a.p AS u, b.p AS v FROM po a JOIN po b ON a.o = b.o AND a.p < b.p " +
        "  GROUP BY 1, 2 HAVING count(*) >= 2), " +
        "e AS (SELECT u, v FROM pr UNION ALL SELECT v, u FROM pr), " +
        "deg AS (SELECT u AS n, count(*) AS d FROM e GROUP BY u), " +
        "cn AS (SELECT a.v AS x, b.v AS y, count(*) AS common " +
        "  FROM e a JOIN e b ON a.u = b.u AND a.v < b.v GROUP BY a.v, b.v HAVING count(*) >= 2) " +
        "SELECT x, y, CAST(common AS BIGINT) AS common, " +
        "  round(CAST(common AS DOUBLE) / (dx.d + dy.d - common), 6) AS jac " +
        "FROM cn JOIN deg dx ON cn.x = dx.n JOIN deg dy ON cn.y = dy.n " +
        "ORDER BY jac DESC, x, y LIMIT 20") { (s, dir) =>
      Tables.registerAll(s, dir)
      checkpointedView(s, "graft_gj_po",
        "SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem")
      checkpointedView(s, "graft_gj_pr",
        "SELECT a.p AS u, b.p AS v FROM graft_gj_po a " +
          "JOIN graft_gj_po b ON a.o = b.o AND a.p < b.p " +
          "GROUP BY 1, 2 HAVING count(*) >= 2")
      checkpointedView(s, "graft_gj_e",
        "SELECT u, v FROM graft_gj_pr UNION ALL SELECT v, u FROM graft_gj_pr")
      s.sql(
        "WITH deg AS (SELECT u AS n, count(*) AS d FROM graft_gj_e GROUP BY u), " +
          "cn AS (SELECT a.v AS x, b.v AS y, count(*) AS common " +
          "  FROM graft_gj_e a JOIN graft_gj_e b ON a.u = b.u AND a.v < b.v " +
          "  GROUP BY a.v, b.v HAVING count(*) >= 2) " +
          "SELECT x, y, CAST(common AS BIGINT) AS common, " +
          "  round(CAST(common AS DOUBLE) / (dx.d + dy.d - common), 6) AS jac " +
          "FROM cn JOIN deg dx ON cn.x = dx.n JOIN deg dy ON cn.y = dy.n " +
          "ORDER BY jac DESC, x, y LIMIT 20")
    },

    // Link prediction by the resource-allocation index (Zhou/Lü/Zhang
    // 2009) over the same repeat-co-purchase graph: RA(x,y) =
    // Σ_{z∈CN(x,y)} 1/deg(z), scored only for NON-adjacent candidate
    // pairs (that's what makes it prediction, not description). Each
    // 1/deg term is the INTEGER floor(1e6/deg) — exact in both engines
    // (one IEEE division of exact integers, then floor), so ra_micro is
    // an integer-exact sum with no rounding anywhere. Scale shape: the
    // wedge join is bounded by Σ deg² of the SPARSE thresholded graph
    // (never all-pairs), the adjacency exclusion is an anti-join on the
    // edge relation, and the top-20 cut is TakeOrdered with a unique
    // (ra_micro, x, y) total order.
    // Engine side persists po/pr/e once (r21): the oracle text references
    // `e` three times (deg + both wedge legs) and `pr` once more in the
    // NOT EXISTS — each reference inlines the whole build (28 parquet
    // scans in the before plan).
    dfq("q_link_pred",
      "WITH po AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), " +
        "pr AS (SELECT a.p AS u, b.p AS v FROM po a JOIN po b ON a.o = b.o AND a.p < b.p " +
        "  GROUP BY 1, 2 HAVING count(*) >= 2), " +
        "e AS (SELECT u, v FROM pr UNION ALL SELECT v, u FROM pr), " +
        "deg AS (SELECT u AS n, count(*) AS d FROM e GROUP BY u), " +
        "w AS (SELECT a.v AS x, b.v AS y, a.u AS z FROM e a JOIN e b ON a.u = b.u AND a.v < b.v), " +
        "cand AS (SELECT x, y, CAST(count(*) AS BIGINT) AS common, " +
        "    CAST(sum(CAST(floor(1000000.0 / d.d) AS BIGINT)) AS BIGINT) AS ra_micro " +
        "  FROM w JOIN deg d ON w.z = d.n GROUP BY x, y HAVING count(*) >= 2) " +
        "SELECT x, y, common, ra_micro FROM cand " +
        "WHERE NOT EXISTS (SELECT 1 FROM pr WHERE pr.u = cand.x AND pr.v = cand.y) " +
        "ORDER BY ra_micro DESC, x, y LIMIT 20") { (s, dir) =>
      Tables.registerAll(s, dir)
      checkpointedView(s, "graft_lp_po",
        "SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem")
      checkpointedView(s, "graft_lp_pr",
        "SELECT a.p AS u, b.p AS v FROM graft_lp_po a " +
          "JOIN graft_lp_po b ON a.o = b.o AND a.p < b.p " +
          "GROUP BY 1, 2 HAVING count(*) >= 2")
      checkpointedView(s, "graft_lp_e",
        "SELECT u, v FROM graft_lp_pr UNION ALL SELECT v, u FROM graft_lp_pr")
      s.sql(
        "WITH deg AS (SELECT u AS n, count(*) AS d FROM graft_lp_e GROUP BY u), " +
          "w AS (SELECT a.v AS x, b.v AS y, a.u AS z FROM graft_lp_e a " +
          "  JOIN graft_lp_e b ON a.u = b.u AND a.v < b.v), " +
          "cand AS (SELECT x, y, CAST(count(*) AS BIGINT) AS common, " +
          "    CAST(sum(CAST(floor(1000000.0 / d.d) AS BIGINT)) AS BIGINT) AS ra_micro " +
          "  FROM w JOIN deg d ON w.z = d.n GROUP BY x, y HAVING count(*) >= 2) " +
          "SELECT x, y, common, ra_micro FROM cand " +
          "WHERE NOT EXISTS (SELECT 1 FROM graft_lp_pr WHERE graft_lp_pr.u = cand.x AND graft_lp_pr.v = cand.y) " +
          "ORDER BY ra_micro DESC, x, y LIMIT 20")
    },

    // Degree assortativity (Newman 2002) of the co-purchase graph: the
    // Pearson correlation of endpoint degrees across the SYMMETRIC edge
    // list. The four moments (edge count, Σdx, Σdx·dy, Σdx²) are exact
    // BIGINT sums — on the symmetric list Σdx = Σdy and Σdx² = Σdy²
    // identically, so r = (M·Sxy − Sx²)/(M·Sxx − Sx²) needs no sqrt.
    // The final scalar arithmetic runs in DOUBLE space on the four
    // exact moments: every op is plain IEEE (no libm, no rounding), so
    // the result is bit-identical cross-engine. One shuffle for deg,
    // two broadcast-able joins, one global agg; at extreme scale the
    // BIGINT products (dx·dy ≤ dmax²·M) bound the design — dmax ~1e4
    // keeps Σdx·dy < 2^63 past 1e10 edges.
    // Engine side persists po/pr/e once (r21): `e` is referenced twice
    // (deg + ed) and each reference inlined the whole build (24 parquet
    // scans in the before plan).
    dfq("q_assortativity",
      "WITH po AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), " +
        "pr AS (SELECT a.p AS u, b.p AS v FROM po a JOIN po b ON a.o = b.o AND a.p < b.p " +
        "  GROUP BY 1, 2 HAVING count(*) >= 2), " +
        "e AS (SELECT u, v FROM pr UNION ALL SELECT v, u FROM pr), " +
        "deg AS (SELECT u AS n, count(*) AS d FROM e GROUP BY u), " +
        "ed AS (SELECT du.d AS dx, dv.d AS dy FROM e " +
        "  JOIN deg du ON e.u = du.n JOIN deg dv ON e.v = dv.n), " +
        "m AS (SELECT CAST(count(*) AS BIGINT) AS m, CAST(sum(dx) AS BIGINT) AS sx, " +
        "  CAST(sum(dx * dy) AS BIGINT) AS sxy, CAST(sum(dx * dx) AS BIGINT) AS sxx FROM ed) " +
        "SELECT m AS n_edges, sx AS sum_deg, sxy AS sum_xy, sxx AS sum_xx, " +
        "  (CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / " +
        "  (CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS r_assort " +
        "FROM m") { (s, dir) =>
      Tables.registerAll(s, dir)
      checkpointedView(s, "graft_as_po",
        "SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem")
      checkpointedView(s, "graft_as_pr",
        "SELECT a.p AS u, b.p AS v FROM graft_as_po a " +
          "JOIN graft_as_po b ON a.o = b.o AND a.p < b.p " +
          "GROUP BY 1, 2 HAVING count(*) >= 2")
      checkpointedView(s, "graft_as_e",
        "SELECT u, v FROM graft_as_pr UNION ALL SELECT v, u FROM graft_as_pr")
      s.sql(
        "WITH deg AS (SELECT u AS n, count(*) AS d FROM graft_as_e GROUP BY u), " +
          "ed AS (SELECT du.d AS dx, dv.d AS dy FROM graft_as_e e " +
          "  JOIN deg du ON e.u = du.n JOIN deg dv ON e.v = dv.n), " +
          "m AS (SELECT CAST(count(*) AS BIGINT) AS m, CAST(sum(dx) AS BIGINT) AS sx, " +
          "  CAST(sum(dx * dy) AS BIGINT) AS sxy, CAST(sum(dx * dx) AS BIGINT) AS sxx FROM ed) " +
          "SELECT m AS n_edges, sx AS sum_deg, sxy AS sum_xy, sxx AS sum_xx, " +
          "  (CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / " +
          "  (CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS r_assort " +
          "FROM m")
    },

    // Newman modularity of a FIXED vertex partition (p_type as the
    // community labels) over the co-purchase graph: Q = Σ_c [A_c/2m −
    // (d_c/2m)²] on the symmetric (double-counted) edge list, so A_c =
    // within-community directed edges and 2m = |e| are plain counts —
    // every input to the per-community term is an exact BIGINT, and the
    // term itself is plain IEEE double arithmetic (no libm, no
    // rounding). Communities with nodes but no internal edges keep a
    // row via the LEFT JOIN (a_c = 0). Scale shape: two broadcast-able
    // community-label joins + hash aggs; community count is bounded by
    // the label domain, never the graph size.
    // Engine side persists po/pr/e once (r21): `e` is referenced three
    // times (m, dc, ec) — 30 parquet scans in the before plan.
    dfq("q_modularity",
      "WITH po AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), " +
        "pr AS (SELECT a.p AS u, b.p AS v FROM po a JOIN po b ON a.o = b.o AND a.p < b.p " +
        "  GROUP BY 1, 2 HAVING count(*) >= 2), " +
        "e AS (SELECT u, v FROM pr UNION ALL SELECT v, u FROM pr), " +
        "com AS (SELECT p_partkey AS pk, p_type AS c FROM part), " +
        "m AS (SELECT CAST(count(*) AS BIGINT) AS e2 FROM e), " +
        "dc AS (SELECT cm.c, CAST(count(*) AS BIGINT) AS d_c " +
        "  FROM e JOIN com cm ON e.u = cm.pk GROUP BY 1), " +
        "ec AS (SELECT cu.c, CAST(count(*) AS BIGINT) AS a_c " +
        "  FROM e JOIN com cu ON e.u = cu.pk JOIN com cv ON e.v = cv.pk " +
        "  WHERE cu.c = cv.c GROUP BY 1) " +
        "SELECT dc.c AS community, CAST(coalesce(ec.a_c, 0) AS BIGINT) AS a_c, dc.d_c, " +
        "  CAST(coalesce(ec.a_c, 0) AS DOUBLE) / CAST(m.e2 AS DOUBLE) - " +
        "  (CAST(dc.d_c AS DOUBLE) / CAST(m.e2 AS DOUBLE)) * " +
        "  (CAST(dc.d_c AS DOUBLE) / CAST(m.e2 AS DOUBLE)) AS q_term " +
        "FROM dc LEFT JOIN ec ON dc.c = ec.c CROSS JOIN m ORDER BY community") { (s, dir) =>
      Tables.registerAll(s, dir)
      checkpointedView(s, "graft_md_po",
        "SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem")
      checkpointedView(s, "graft_md_pr",
        "SELECT a.p AS u, b.p AS v FROM graft_md_po a " +
          "JOIN graft_md_po b ON a.o = b.o AND a.p < b.p " +
          "GROUP BY 1, 2 HAVING count(*) >= 2")
      checkpointedView(s, "graft_md_e",
        "SELECT u, v FROM graft_md_pr UNION ALL SELECT v, u FROM graft_md_pr")
      s.sql(
        "WITH com AS (SELECT p_partkey AS pk, p_type AS c FROM part), " +
          "m AS (SELECT CAST(count(*) AS BIGINT) AS e2 FROM graft_md_e), " +
          "dc AS (SELECT cm.c, CAST(count(*) AS BIGINT) AS d_c " +
          "  FROM graft_md_e e JOIN com cm ON e.u = cm.pk GROUP BY 1), " +
          "ec AS (SELECT cu.c, CAST(count(*) AS BIGINT) AS a_c " +
          "  FROM graft_md_e e JOIN com cu ON e.u = cu.pk JOIN com cv ON e.v = cv.pk " +
          "  WHERE cu.c = cv.c GROUP BY 1) " +
          "SELECT dc.c AS community, CAST(coalesce(ec.a_c, 0) AS BIGINT) AS a_c, dc.d_c, " +
          "  CAST(coalesce(ec.a_c, 0) AS DOUBLE) / CAST(m.e2 AS DOUBLE) - " +
          "  (CAST(dc.d_c AS DOUBLE) / CAST(m.e2 AS DOUBLE)) * " +
          "  (CAST(dc.d_c AS DOUBLE) / CAST(m.e2 AS DOUBLE)) AS q_term " +
          "FROM dc LEFT JOIN ec ON dc.c = ec.c CROSS JOIN m ORDER BY community")
    },

    // Per-user interval union — total covered time of overlapping
    // activity windows (each event opens a 5-minute interval): the
    // gaps-and-islands merge with a running max-end, all windows
    // PARTITIONed BY the user key (keyed windows scale — this is not the
    // partition-less case), millisecond-integer arithmetic so every sum
    // is exact. Island flag is tie-order-invariant: a duplicate (s,e)
    // row always sees pmax ≥ its own e.
    sql2("q_interval_union",
      "WITH iv AS (SELECT user_id, unix_millis(ts) AS s, unix_millis(ts) + 300000 AS e FROM events), " +
        "st AS (SELECT user_id, s, e, max(e) OVER (PARTITION BY user_id ORDER BY s, e " +
        "  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax FROM iv), " +
        "isl AS (SELECT user_id, s, e, sum(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END) " +
        "  OVER (PARTITION BY user_id ORDER BY s, e ROWS UNBOUNDED PRECEDING) AS g FROM st), " +
        "m AS (SELECT user_id, g, min(s) AS ms, max(e) AS me FROM isl GROUP BY user_id, g) " +
        "SELECT user_id, count(*) AS n_islands, CAST(sum(me - ms) AS BIGINT) AS covered_ms " +
        "FROM m GROUP BY user_id ORDER BY user_id",
      "WITH iv AS (SELECT user_id, epoch_ms(ts) AS s, epoch_ms(ts) + 300000 AS e FROM events), " +
        "st AS (SELECT user_id, s, e, max(e) OVER (PARTITION BY user_id ORDER BY s, e " +
        "  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax FROM iv), " +
        "isl AS (SELECT user_id, s, e, sum(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END) " +
        "  OVER (PARTITION BY user_id ORDER BY s, e ROWS UNBOUNDED PRECEDING) AS g FROM st), " +
        "m AS (SELECT user_id, g, min(s) AS ms, max(e) AS me FROM isl GROUP BY user_id, g) " +
        "SELECT user_id, count(*) AS n_islands, CAST(sum(me - ms) AS BIGINT) AS covered_ms " +
        "FROM m GROUP BY user_id ORDER BY user_id"),

    // Per-day peak concurrency — the sweep-line: every 5-minute activity
    // interval contributes a +1/-1 boundary point, the GLOBAL running sum
    // over (time, end-before-start) is live concurrency, per-day max is
    // the capacity-planning number. Engine side rides the distributed
    // prefix sum (Prefix.withRunningSums — a partition-less `sum() OVER
    // (ORDER BY t)` window funnels the whole boundary stream into one
    // task); the oracle runs exactly that window. Per-day MAX is
    // tie-order-invariant because (t, dord) blocks are single-delta:
    // within a block the running sum is monotone, so its max is the
    // block edge regardless of internal order.
    dfq("q_peak_concurrency",
      "WITH pts AS (SELECT epoch_ms(ts) AS t, 1 AS dord, 1 AS delta FROM events " +
        "UNION ALL SELECT epoch_ms(ts) + 300000 AS t, 0 AS dord, -1 AS delta FROM events), " +
        "run AS (SELECT t, sum(delta) OVER (ORDER BY t, dord ROWS UNBOUNDED PRECEDING) AS conc FROM pts) " +
        "SELECT CAST(t // 86400000 AS BIGINT) AS day, CAST(max(conc) AS BIGINT) AS peak " +
        "FROM run GROUP BY 1 ORDER BY 1") { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
      val pts = ev.select(unix_millis(col("ts")).as("t"),
          lit(1).as("dord"), lit(1L).as("delta"))
        .unionAll(ev.select((unix_millis(col("ts")) + 300000).as("t"),
          lit(0).as("dord"), lit(-1L).as("delta")))
      graft.operators.Prefix.withRunningSums(
          pts, "t", Seq(("delta", "conc")), tieCols = Seq("dord"))
        .groupBy(floor(col("t") / 86400000).cast("long").as("day"))
        .agg(max(col("conc")).cast("long").as("peak"))
        .orderBy("day")
    },

    // Edit-distance-1 "typo join" over customer names (FastSS deletion
    // neighborhoods — sound AND complete for distance ≤ 1, then exact
    // levenshtein verify; see TextDedup.editDistanceOneJoin). The oracle
    // brute-forces ALL vocab pairs' levenshtein, so green proves the
    // neighborhood join missed no pair and admitted no false one. Output
    // is the partner-count histogram (1500 names, partner counts
    // 23/27/28 at sf0.01 — digit-substitution neighborhoods).
    dfq("q_typo_join",
      "WITH names AS (SELECT DISTINCT c_name AS w FROM customer), " +
        "pr AS (SELECT a.w AS u, b.w AS v FROM names a JOIN names b ON a.w < b.w " +
        "  WHERE levenshtein(a.w, b.w) = 1), " +
        "per AS (SELECT w, count(*) AS partners FROM " +
        "  (SELECT u AS w FROM pr UNION ALL SELECT v FROM pr) t GROUP BY w) " +
        "SELECT CAST(partners AS INT) AS partners, count(*) AS n_names " +
        "FROM per GROUP BY partners ORDER BY partners") { (s, dir) =>
      graft.operators.TextDedup.editDistanceOneJoin(
          Tables.load(s, dir, "customer"), "c_name")
        .select(explode(array(col("u"), col("v"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("partners"))
        .groupBy(col("partners").cast("int").as("partners"))
        .agg(count(lit(1)).as("n_names"))
        .orderBy("partners")
    },

    // Borda rank fusion of three curation signals (length, duplicate-word
    // mass, distinct-vocabulary size) — the multi-signal document ranking
    // a curation pipeline cuts on when no single score is trusted. Engine
    // side: three distributed global ranks via Prefix.withRunningSums
    // (corpus-sized lists — a partition-less row_number would funnel the
    // corpus into one task); oracle runs the REAL windows, differentially
    // pinning the prefix ranks. Integer ranks + integer Borda sums: no
    // float anywhere, the cut cannot flip.
    dfq("q_rank_fusion",
      "WITH st AS (SELECT doc_id, n_chars, string_split(lower(text), ' ') AS w FROM documents), " +
        "sig AS (SELECT doc_id, n_chars, len(w) - len(list_distinct(w)) AS n_dup, " +
        "  len(list_distinct(w)) AS n_uniq FROM st), " +
        "r1 AS (SELECT doc_id, row_number() OVER (ORDER BY n_chars DESC, doc_id) AS r FROM sig), " +
        "r2 AS (SELECT doc_id, row_number() OVER (ORDER BY n_dup ASC, doc_id) AS r FROM sig), " +
        "r3 AS (SELECT doc_id, row_number() OVER (ORDER BY n_uniq DESC, doc_id) AS r FROM sig) " +
        "SELECT s.doc_id AS doc_id, CAST(r1.r + r2.r + r3.r AS BIGINT) AS borda " +
        "FROM sig s JOIN r1 ON s.doc_id = r1.doc_id JOIN r2 ON s.doc_id = r2.doc_id " +
        "JOIN r3 ON s.doc_id = r3.doc_id " +
        "ORDER BY borda ASC, doc_id LIMIT 20") { (s, dir) =>
      // Persisted once (r21): the three rank passes each consumed this
      // relation — unpersisted, the tokenize + array_distinct HOF ran
      // three times per lap.
      val sig = graft.operators.OpCaches.track(Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          array_distinct(split(lower(col("text")), " ")).as("uniq"),
          size(split(lower(col("text")), " ")).as("n_words"))
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          (col("n_words") - size(col("uniq"))).cast("long").as("n_dup"),
          size(col("uniq")).cast("long").as("n_uniq")).persist())
      def rankBy(key: org.apache.spark.sql.Column, out: String) =
        graft.operators.Prefix.withRunningSums(
            sig.withColumn("_k", key), "_k", Nil, idxCol = "_r",
            tieCols = Seq("doc_id"))
          .select(col("doc_id"), col("_r").as(out))
      rankBy(-col("n_chars"), "r1")
        .join(rankBy(col("n_dup"), "r2"), "doc_id")
        .join(rankBy(-col("n_uniq"), "r3"), "doc_id")
        .select(col("doc_id"),
          (col("r1") + col("r2") + col("r3")).cast("long").as("borda"))
        .orderBy(col("borda").asc, col("doc_id")).limit(20)
    },

    // Reciprocal-rank fusion of two retrieval lists — BM25 (lexical) and
    // embedding cosine (semantic) for the same query — the standard
    // hybrid-search merge (k=60). Both lists rank on EXACT keys (decimal
    // BM25 sums; 6-dp-rounded cosine with id tie-break), each 1/(60+r)
    // contribution is 6-dp-rounded into DECIMAL so the fused sum is
    // exact, and docs in only one list contribute 0 from the other (full
    // outer join). The top-100 cuts come FIRST as global sort-limits
    // (TakeOrdered, `bmtop`/`costop`) and only then are the rank
    // windows applied — so the partition-less row_number genuinely
    // runs over ≤ 100 rows, contractually tiny at any corpus scale
    // (r12 advice: ranking before the LIMIT ran the window over the
    // full relation in a single partition).
    sql2("q_rrf_fusion",
      "WITH toks AS (SELECT doc_id, tok FROM " +
        "  (SELECT doc_id, explode(split(lower(text), ' ')) AS tok FROM documents) e " +
        "  WHERE length(tok) >= 4), " +
        "dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id), " +
        "stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, CAST(sum(dl) AS DOUBLE) AS sum_dl FROM dl), " +
        "tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks " +
        "  WHERE tok IN ('vector', 'shuffle', 'partition') GROUP BY doc_id, tok), " +
        "dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok), " +
        "scored AS (SELECT doc_id, CAST(round(" +
        "    ln((stats.n_docs - df + 0.5) / (df + 0.5) + 1.0) * (tf * 2.2) / " +
        "    (tf + 1.2 * (0.25 + 0.75 * dl.dl / (stats.sum_dl / stats.n_docs))), 6) AS DECIMAL(18,6)) AS s " +
        "  FROM tf JOIN dfreq USING (tok) JOIN dl USING (doc_id) CROSS JOIN stats), " +
        "bm AS (SELECT doc_id, sum(s) AS bscore FROM scored GROUP BY doc_id), " +
        "bmtop AS (SELECT doc_id, bscore FROM bm ORDER BY bscore DESC, doc_id LIMIT 100), " +
        "bmr AS (SELECT doc_id, row_number() OVER (ORDER BY bscore DESC, doc_id) AS r FROM bmtop), " +
        "pairs AS (SELECT c.vec_id AS doc_id, c.embedding AS cv, q.embedding AS qv " +
        "  FROM embeddings c CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q " +
        "  WHERE c.vec_id <> 0), " +
        "dots AS (SELECT doc_id, " +
        "  aggregate(zip_with(cv, qv, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), " +
        "    CAST(0 AS DOUBLE), (a, v) -> a + v) AS dotp, " +
        "  sqrt(aggregate(cv, CAST(0 AS DOUBLE), (a, v) -> a + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))) AS nc, " +
        "  sqrt(aggregate(qv, CAST(0 AS DOUBLE), (a, v) -> a + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))) AS nq " +
        "  FROM pairs), " +
        "costop AS (SELECT doc_id, round(dotp / (nc * nq), 6) AS cscore " +
        "  FROM dots ORDER BY cscore DESC, doc_id LIMIT 100), " +
        "cosr AS (SELECT doc_id, row_number() OVER (ORDER BY cscore DESC, doc_id) AS r FROM costop), " +
        "fused AS (SELECT coalesce(b.doc_id, c.doc_id) AS doc_id, " +
        "  coalesce(CAST(round(1.0 / (60 + b.r), 6) AS DECIMAL(18,6)), CAST(0 AS DECIMAL(18,6))) + " +
        "  coalesce(CAST(round(1.0 / (60 + c.r), 6) AS DECIMAL(18,6)), CAST(0 AS DECIMAL(18,6))) AS rrf " +
        "  FROM bmr b FULL JOIN cosr c ON b.doc_id = c.doc_id) " +
        "SELECT doc_id, CAST(rrf AS DOUBLE) AS rrf FROM fused ORDER BY rrf DESC, doc_id LIMIT 20",
      "WITH toks AS (SELECT doc_id, tok FROM " +
        "  (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents) e " +
        "  WHERE length(tok) >= 4), " +
        "dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id), " +
        "stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, CAST(sum(dl) AS DOUBLE) AS sum_dl FROM dl), " +
        "tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks " +
        "  WHERE tok IN ('vector', 'shuffle', 'partition') GROUP BY doc_id, tok), " +
        "dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok), " +
        "scored AS (SELECT doc_id, CAST(round(" +
        "    ln((stats.n_docs - df + 0.5) / (df + 0.5) + 1.0) * (tf * 2.2) / " +
        "    (tf + 1.2 * (0.25 + 0.75 * dl.dl / (stats.sum_dl / stats.n_docs))), 6) AS DECIMAL(18,6)) AS s " +
        "  FROM tf JOIN dfreq USING (tok) JOIN dl USING (doc_id) CROSS JOIN stats), " +
        "bm AS (SELECT doc_id, sum(s) AS bscore FROM scored GROUP BY doc_id), " +
        "bmr AS (SELECT doc_id, row_number() OVER (ORDER BY bscore DESC, doc_id) AS r " +
        "  FROM bm ORDER BY bscore DESC, doc_id LIMIT 100), " +
        "pairs AS (SELECT c.vec_id AS doc_id, c.embedding AS cv, q.embedding AS qv " +
        "  FROM embeddings c CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q " +
        "  WHERE c.vec_id <> 0), " +
        "dots AS (SELECT doc_id, sum(ca * qa) AS dotp, sqrt(sum(ca * ca)) AS nc, sqrt(sum(qa * qa)) AS nq " +
        "  FROM (SELECT doc_id, unnest(cv)::DOUBLE AS ca, unnest(qv)::DOUBLE AS qa FROM pairs) u " +
        "  GROUP BY doc_id), " +
        "cosr AS (SELECT doc_id, row_number() OVER (ORDER BY round(dotp / (nc * nq), 6) DESC, doc_id) AS r " +
        "  FROM dots ORDER BY round(dotp / (nc * nq), 6) DESC, doc_id LIMIT 100), " +
        "fused AS (SELECT coalesce(b.doc_id, c.doc_id) AS doc_id, " +
        "  coalesce(CAST(round(1.0 / (60 + b.r), 6) AS DECIMAL(18,6)), CAST(0 AS DECIMAL(18,6))) + " +
        "  coalesce(CAST(round(1.0 / (60 + c.r), 6) AS DECIMAL(18,6)), CAST(0 AS DECIMAL(18,6))) AS rrf " +
        "  FROM bmr b FULL JOIN cosr c ON b.doc_id = c.doc_id) " +
        "SELECT doc_id, CAST(rrf AS DOUBLE) AS rrf FROM fused ORDER BY rrf DESC, doc_id LIMIT 20"),

    // Multi-touch linear attribution: every purchase credits ALL its
    // view/click touches in the trailing day 1/n each — the
    // position-agnostic sibling of the last-touch `q_stream_attribution`
    // join. Per-touch credits are 6-dp decimals so per-channel sums are
    // exact and partition-order-free; the touch join is user-keyed with
    // a time-range predicate (the as-of/range family's shape — state
    // bounded by the window, never user-cross-user). Same text both
    // engines modulo epoch-ms extraction.
    sql2("q_multitouch",
      "WITH conv AS (SELECT event_id AS cid, user_id, unix_millis(ts) AS ct FROM events " +
        "  WHERE event_type = 'purchase'), " +
        "touch AS (SELECT event_id AS tid, user_id, event_type, unix_millis(ts) AS tt FROM events " +
        "  WHERE event_type IN ('view', 'click')), " +
        "m AS (SELECT c.cid, t.tid, t.event_type FROM conv c JOIN touch t " +
        "  ON c.user_id = t.user_id AND t.tt <= c.ct AND t.tt > c.ct - 86400000), " +
        "n AS (SELECT cid, count(*) AS n_touch FROM m GROUP BY cid), " +
        "credit AS (SELECT m.event_type, CAST(round(1.0 / n.n_touch, 6) AS DECIMAL(18,6)) AS cr " +
        "  FROM m JOIN n ON m.cid = n.cid) " +
        "SELECT event_type AS channel, CAST(count(*) AS BIGINT) AS n_touches, " +
        "  CAST(sum(cr) AS DOUBLE) AS credit " +
        "FROM credit GROUP BY event_type ORDER BY channel",
      "WITH conv AS (SELECT event_id AS cid, user_id, epoch_ms(ts) AS ct FROM events " +
        "  WHERE event_type = 'purchase'), " +
        "touch AS (SELECT event_id AS tid, user_id, event_type, epoch_ms(ts) AS tt FROM events " +
        "  WHERE event_type IN ('view', 'click')), " +
        "m AS (SELECT c.cid, t.tid, t.event_type FROM conv c JOIN touch t " +
        "  ON c.user_id = t.user_id AND t.tt <= c.ct AND t.tt > c.ct - 86400000), " +
        "n AS (SELECT cid, count(*) AS n_touch FROM m GROUP BY cid), " +
        "credit AS (SELECT m.event_type, CAST(round(1.0 / n.n_touch, 6) AS DECIMAL(18,6)) AS cr " +
        "  FROM m JOIN n ON m.cid = n.cid) " +
        "SELECT event_type AS channel, CAST(count(*) AS BIGINT) AS n_touches, " +
        "  CAST(sum(cr) AS DOUBLE) AS credit " +
        "FROM credit GROUP BY event_type ORDER BY channel"),

    // Quantile transform (percent-rank feature normalization): map a
    // value column onto [0,1] by its global rank — the rank-gaussianize
    // first stage of classic feature pipelines. Engine side derives
    // pr = (idx-1)/(n-1) from the distributed prefix rank (never a
    // partition-less percent_rank window); the oracle runs the REAL
    // percent_rank over the same total order — identical double inputs,
    // identical products, so the decile floor cannot diverge. Per-decile
    // counts AND cent-exact min/max pin both the uniformity property and
    // the boundary ordering.
    dfq("q_quantile_transform",
      "WITH r AS (SELECT l_extendedprice, percent_rank() OVER " +
        "  (ORDER BY l_extendedprice, l_orderkey * 10 + l_linenumber) AS pr FROM lineitem) " +
        "SELECT CAST(floor(least(pr, 0.999999) * 10) AS INT) AS decile, count(*) AS n, " +
        "  CAST(min(round(l_extendedprice * 100)) AS BIGINT) AS min_cents, " +
        "  CAST(max(round(l_extendedprice * 100)) AS BIGINT) AS max_cents " +
        "FROM r GROUP BY decile ORDER BY decile") { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
        .withColumn("_sk", expr("l_orderkey * 10 + l_linenumber"))
      val n = li.count() // one scalar: the percent_rank denominator
      graft.operators.Prefix.withRunningSums(
          li, "l_extendedprice", Nil, idxCol = "_r", tieCols = Seq("_sk"))
        .withColumn("pr", (col("_r") - 1) / (n - 1).toDouble)
        .groupBy(floor(least(col("pr"), lit(0.999999)) * 10).cast("int").as("decile"))
        .agg(count(lit(1)).as("n"),
          min(round(col("l_extendedprice") * 100)).cast("long").as("min_cents"),
          max(round(col("l_extendedprice") * 100)).cast("long").as("max_cents"))
        .orderBy("decile")
    },

    // 3-core of the repeat-co-purchase graph by synchronous peeling
    // (Components.kCore — drop degree<3 nodes, restrict, repeat; 10
    // rounds to fixpoint at sf0.01, 1873 → 935 nodes). The oracle
    // UNROLLS all 12 peel rounds as chained materialized CTEs and must
    // land on the identical in-core degree histogram — one wrong
    // intermediate round changes the final answer.
    dfq("q_kcore", {
      val sb = new StringBuilder(
        "WITH po AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), " +
          "pr AS MATERIALIZED (SELECT a.p AS u, b.p AS v FROM po a JOIN po b " +
          "  ON a.o = b.o AND a.p < b.p GROUP BY 1, 2 HAVING count(*) >= 2), " +
          "e0 AS MATERIALIZED (SELECT u, v FROM pr UNION ALL SELECT v, u FROM pr)")
      for (r <- 1 to 12) {
        sb.append(
          s", n$r AS MATERIALIZED (SELECT u AS id FROM e${r - 1} GROUP BY u HAVING count(*) >= 3)" +
          s", e$r AS MATERIALIZED (SELECT e.u, e.v FROM e${r - 1} e " +
          s"JOIN n$r a ON e.u = a.id JOIN n$r b ON e.v = b.id)")
      }
      sb.append(
        " SELECT CAST(d AS INT) AS degree, count(*) AS n_nodes FROM " +
          "(SELECT u, count(*) AS d FROM e12 GROUP BY u) t " +
          "GROUP BY d ORDER BY degree")
      sb.toString
    }) { (s, dir) =>
      Tables.registerAll(s, dir)
      val pr = s.sql(
        "SELECT a.p AS u, b.p AS v FROM " +
          "(SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem) a JOIN " +
          "(SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem) b " +
          "ON a.o = b.o AND a.p < b.p GROUP BY a.p, b.p HAVING count(*) >= 2")
      graft.operators.Components.kCore(pr, "u", "v", k = 3, rounds = 12)
        .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
        .orderBy("degree")
    },

    // Incremental JOIN maintenance — the materialized-view shape for
    // joins, beside q_incremental_agg's rollup merge: with both inputs
    // split into (old, delta), the engine computes the four-quadrant
    // delta decomposition old⋈old ∪ Δ⋈old ∪ old⋈Δ ∪ Δ⋈Δ (a daily
    // increment at 100 TB touches the Δ quadrants only, old⋈old is the
    // stored view) and the oracle recomputes the straight join from
    // scratch — green proves the decomposition is exactly recomputation,
    // cent-exact.
    dfq("q_incremental_join",
      "SELECT l_returnflag, count(*) AS n, " +
        "  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "GROUP BY l_returnflag ORDER BY l_returnflag") { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(
        "WITH lo AS (SELECT l_orderkey, l_returnflag, l_extendedprice FROM lineitem WHERE day(l_shipdate) < 15), " +
          "ld AS (SELECT l_orderkey, l_returnflag, l_extendedprice FROM lineitem WHERE day(l_shipdate) >= 15), " +
          "oo AS (SELECT o_orderkey FROM orders WHERE day(o_orderdate) < 15), " +
          "od AS (SELECT o_orderkey FROM orders WHERE day(o_orderdate) >= 15), " +
          "j AS (SELECT l_returnflag, l_extendedprice FROM lo JOIN oo ON l_orderkey = o_orderkey " +
          "  UNION ALL SELECT l_returnflag, l_extendedprice FROM ld JOIN oo ON l_orderkey = o_orderkey " +
          "  UNION ALL SELECT l_returnflag, l_extendedprice FROM lo JOIN od ON l_orderkey = o_orderkey " +
          "  UNION ALL SELECT l_returnflag, l_extendedprice FROM ld JOIN od ON l_orderkey = o_orderkey) " +
          "SELECT l_returnflag, count(*) AS n, " +
          "  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents " +
          "FROM j GROUP BY l_returnflag ORDER BY l_returnflag")
    },

    // Data-quality audit report — the constraint checks a warehouse runs
    // before trusting a load: key uniqueness, referential orphans (both
    // foreign keys), null and range violations, plus volume facts so the
    // report differentiates. One text, both engines; every check is an
    // aggregate or anti-join the optimizer executes hash-partitioned.
    sql("q_dq_audit",
      "SELECT 'dup_order_keys' AS metric, CAST(count(*) AS BIGINT) AS v FROM " +
        "  (SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING count(*) > 1) t " +
        "UNION ALL SELECT 'lineitem_rows', count(*) FROM lineitem " +
        "UNION ALL SELECT 'lineitems_per_order_max', max(c) FROM " +
        "  (SELECT count(*) AS c FROM lineitem GROUP BY l_orderkey) t " +
        "UNION ALL SELECT 'null_props', count(*) FROM lineitem WHERE l_returnflag IS NULL " +
        "UNION ALL SELECT 'orders_rows', count(*) FROM orders " +
        "UNION ALL SELECT 'orphan_customers', count(*) FROM orders " +
        "  WHERE o_custkey NOT IN (SELECT c_custkey FROM customer) " +
        "UNION ALL SELECT 'orphan_lineitems', count(*) FROM lineitem " +
        "  WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders) " +
        "UNION ALL SELECT 'price_out_of_range', count(*) FROM lineitem " +
        "  WHERE l_extendedprice <= 0 OR l_extendedprice > 1000000 " +
        "ORDER BY metric"),

    // Per-(flag, status) 2-D skyline (Pareto front): line items
    // minimizing BOTH price and ship day — kept iff no same-group row is
    // ≤ on both dims with one strict. The staircase algorithm: per-price
    // min day, then "day < min day over all STRICTLY cheaper prices" via
    // the EXCLUSIVE distributed running min (Prefix.withRunningMinExclusive
    // — the grouped per-price relation would otherwise need a
    // per-group-single-task window); the oracle runs the REAL
    // frame-to-1-preceding window. Cent/day integers — no float
    // boundaries. 45 front points at sf0.01.
    dfq("q_skyline",
      "WITH pts AS (SELECT l_returnflag AS rf, l_linestatus AS ls, " +
        "  CAST(round(l_extendedprice * 100) AS BIGINT) AS p, " +
        "  CAST(date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS BIGINT) AS d FROM lineitem), " +
        "perp AS (SELECT rf, ls, p, min(d) AS pd FROM pts GROUP BY 1, 2, 3), " +
        "pm AS (SELECT rf, ls, p, pd, min(pd) OVER (PARTITION BY rf, ls ORDER BY p " +
        "  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev FROM perp) " +
        "SELECT pm.rf AS flag, pm.ls AS status, pm.p AS price_cents, pm.pd AS ship_day, count(*) AS n " +
        "FROM pts JOIN pm ON pts.rf = pm.rf AND pts.ls = pm.ls AND pts.p = pm.p " +
        "WHERE pts.d = pm.pd AND (pm.prev IS NULL OR pm.pd < pm.prev) " +
        "GROUP BY 1, 2, 3, 4 ORDER BY flag, status, price_cents") { (s, dir) =>
      val pts = Tables.load(s, dir, "lineitem").select(
        col("l_returnflag").as("rf"), col("l_linestatus").as("ls"),
        round(col("l_extendedprice") * 100).cast("long").as("p"),
        datediff(col("l_shipdate").cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("d"))
      val perp = pts.groupBy("rf", "ls", "p").agg(min(col("d")).as("pd"))
      val front = graft.operators.Prefix.withRunningMinExclusive(
          perp, "p", "pd", "prev", groupCols = Seq("rf", "ls"))
        .filter(col("prev").isNull || col("pd") < col("prev"))
        .select("rf", "ls", "p", "pd")
      pts.join(front, Seq("rf", "ls", "p")).filter(col("d") === col("pd"))
        .groupBy(col("rf").as("flag"), col("ls").as("status"),
          col("p").as("price_cents"), col("pd").as("ship_day"))
        .agg(count(lit(1)).as("n"))
        .orderBy("flag", "status", "price_cents")
    },

    // Top navigation paths: per-(user, day) ordered event-type 3-grams —
    // the product-analytics "what do sessions look like" report. The
    // lead windows partition on (user, day): real keys, parallel at any
    // scale. Total order inside each window by (ts, event_id); the
    // top-20 cut ranks on exact counts with the path string tie-break.
    sql2("q_path_3grams",
      "WITH ev AS (SELECT user_id, unix_millis(ts) div 86400000 AS day, event_type, ts, event_id FROM events), " +
        "seq AS (SELECT user_id, day, event_type, " +
        "  lead(event_type, 1) OVER (PARTITION BY user_id, day ORDER BY ts, event_id) AS t2, " +
        "  lead(event_type, 2) OVER (PARTITION BY user_id, day ORDER BY ts, event_id) AS t3 FROM ev) " +
        "SELECT event_type || '>' || t2 || '>' || t3 AS path, count(*) AS n " +
        "FROM seq WHERE t2 IS NOT NULL AND t3 IS NOT NULL " +
        "GROUP BY event_type || '>' || t2 || '>' || t3 ORDER BY n DESC, path LIMIT 20",
      "WITH ev AS (SELECT user_id, epoch_ms(ts) // 86400000 AS day, event_type, ts, event_id FROM events), " +
        "seq AS (SELECT user_id, day, event_type, " +
        "  lead(event_type, 1) OVER (PARTITION BY user_id, day ORDER BY ts, event_id) AS t2, " +
        "  lead(event_type, 2) OVER (PARTITION BY user_id, day ORDER BY ts, event_id) AS t3 FROM ev) " +
        "SELECT event_type || '>' || t2 || '>' || t3 AS path, count(*) AS n " +
        "FROM seq WHERE t2 IS NOT NULL AND t3 IS NOT NULL " +
        "GROUP BY 1 ORDER BY n DESC, path LIMIT 20"),

    // Kaplan-Meier survival curve for time-to-first-high-value-purchase
    // (value ≥ 90): per-user lifespans (event at first qualifying buy,
    // CENSORED at corpus end — 127 events / 23 censored at sf0.01, both
    // branches live), then S(t) = Π(1 − dᵢ/nᵢ) computed as an EXACT
    // decimal sum of 6-dp-rounded log factors (identical double inputs
    // both engines) with the dᵢ = nᵢ terminal collapse to 0 handled
    // explicitly. The curve windows run over the distinct-lifespan
    // relation — bounded by observation days, contractually tiny; the
    // per-user reductions are ordinary keyed aggregates.
    sql2("q_survival_km",
      "WITH fe AS (SELECT user_id, min(unix_millis(ts)) AS first_ts FROM events GROUP BY user_id), " +
        "fp AS (SELECT user_id, min(unix_millis(ts)) AS first_buy FROM events " +
        "  WHERE event_type = 'purchase' AND value >= 90 GROUP BY user_id), " +
        "fin AS (SELECT max(unix_millis(ts)) AS fin FROM events), " +
        "obs AS (SELECT fe.user_id, " +
        "    (coalesce(fp.first_buy, fin.fin) - fe.first_ts) div 86400000 AS life, " +
        "    CASE WHEN fp.first_buy IS NOT NULL THEN 1 ELSE 0 END AS ev " +
        "  FROM fe LEFT JOIN fp ON fe.user_id = fp.user_id CROSS JOIN fin), " +
        "tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM obs), " +
        "tim AS (SELECT life, CAST(sum(ev) AS BIGINT) AS d, CAST(count(*) AS BIGINT) AS leave FROM obs GROUP BY life), " +
        "risk AS (SELECT life, d, tot.n - coalesce(sum(leave) OVER (ORDER BY life " +
        "    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS atrisk " +
        "  FROM tim CROSS JOIN tot), " +
        "surv AS (SELECT life, d, atrisk, " +
        "    sum(CASE WHEN d = atrisk THEN NULL " +
        "        ELSE CAST(round(ln(1.0 - CAST(d AS DOUBLE) / atrisk), 6) AS DECIMAL(18,6)) END) " +
        "      OVER (ORDER BY life ROWS UNBOUNDED PRECEDING) AS ls " +
        "  FROM risk WHERE d > 0) " +
        "SELECT life AS day, CAST(d AS BIGINT) AS n_events, CAST(atrisk AS BIGINT) AS at_risk, " +
        "  CASE WHEN d = atrisk THEN 0.0 ELSE round(exp(CAST(ls AS DOUBLE)), 6) END AS survival " +
        "FROM surv ORDER BY day",
      "WITH fe AS (SELECT user_id, min(epoch_ms(ts)) AS first_ts FROM events GROUP BY user_id), " +
        "fp AS (SELECT user_id, min(epoch_ms(ts)) AS first_buy FROM events " +
        "  WHERE event_type = 'purchase' AND value >= 90 GROUP BY user_id), " +
        "fin AS (SELECT max(epoch_ms(ts)) AS fin FROM events), " +
        "obs AS (SELECT fe.user_id, " +
        "    (coalesce(fp.first_buy, fin.fin) - fe.first_ts) // 86400000 AS life, " +
        "    CASE WHEN fp.first_buy IS NOT NULL THEN 1 ELSE 0 END AS ev " +
        "  FROM fe LEFT JOIN fp ON fe.user_id = fp.user_id CROSS JOIN fin), " +
        "tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM obs), " +
        "tim AS (SELECT life, CAST(sum(ev) AS BIGINT) AS d, CAST(count(*) AS BIGINT) AS leave FROM obs GROUP BY life), " +
        "risk AS (SELECT life, d, tot.n - coalesce(sum(leave) OVER (ORDER BY life " +
        "    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS atrisk " +
        "  FROM tim CROSS JOIN tot), " +
        "surv AS (SELECT life, d, atrisk, " +
        "    sum(CASE WHEN d = atrisk THEN NULL " +
        "        ELSE CAST(round(ln(1.0 - CAST(d AS DOUBLE) / atrisk), 6) AS DECIMAL(18,6)) END) " +
        "      OVER (ORDER BY life ROWS UNBOUNDED PRECEDING) AS ls " +
        "  FROM risk WHERE d > 0) " +
        "SELECT life AS day, CAST(d AS BIGINT) AS n_events, CAST(atrisk AS BIGINT) AS at_risk, " +
        "  CASE WHEN d = atrisk THEN 0.0 ELSE round(exp(CAST(ls AS DOUBLE)), 6) END AS survival " +
        "FROM surv ORDER BY day"),

    // Item-item collaborative filtering: cosine similarity over
    // customer-purchase count vectors — the "customers who bought X also
    // bought Y" recommender core. Sparse dot products via the
    // customer-keyed wedge join (cost Σ per-customer basket², never an
    // item×item cross); integer dots + 6-dp-rounded cosine with (p1,p2)
    // tie-break pin the top-20 cut. Same text both engines.
    // Engine side persists the rating relation once (r21): `r` is
    // referenced three times (nrm + both dot legs) and each reference
    // inlined the orders⋈lineitem aggregate (16 parquet scans in the
    // before plan).
    dfq("q_item_cf",
      "WITH r AS (SELECT o_custkey AS c, l_partkey AS p, CAST(count(*) AS BIGINT) AS w " +
        "  FROM orders JOIN lineitem ON o_orderkey = l_orderkey GROUP BY 1, 2), " +
        "nrm AS (SELECT p, sqrt(CAST(sum(w * w) AS DOUBLE)) AS n FROM r GROUP BY p), " +
        "dot AS (SELECT a.p AS p1, b.p AS p2, CAST(sum(a.w * b.w) AS BIGINT) AS d, count(*) AS shared " +
        "  FROM r a JOIN r b ON a.c = b.c AND a.p < b.p GROUP BY a.p, b.p HAVING count(*) >= 2) " +
        "SELECT p1, p2, CAST(shared AS BIGINT) AS shared, round(d / (na.n * nb.n), 6) AS cos " +
        "FROM dot JOIN nrm na ON p1 = na.p JOIN nrm nb ON p2 = nb.p " +
        "ORDER BY cos DESC, p1, p2 LIMIT 20") { (s, dir) =>
      Tables.registerAll(s, dir)
      checkpointedView(s, "graft_cf_r",
        "SELECT o_custkey AS c, l_partkey AS p, CAST(count(*) AS BIGINT) AS w " +
          "FROM orders JOIN lineitem ON o_orderkey = l_orderkey GROUP BY 1, 2")
      s.sql(
        "WITH nrm AS (SELECT p, sqrt(CAST(sum(w * w) AS DOUBLE)) AS n FROM graft_cf_r GROUP BY p), " +
          "dot AS (SELECT a.p AS p1, b.p AS p2, CAST(sum(a.w * b.w) AS BIGINT) AS d, count(*) AS shared " +
          "  FROM graft_cf_r a JOIN graft_cf_r b ON a.c = b.c AND a.p < b.p " +
          "  GROUP BY a.p, b.p HAVING count(*) >= 2) " +
          "SELECT p1, p2, CAST(shared AS BIGINT) AS shared, round(d / (na.n * nb.n), 6) AS cos " +
          "FROM dot JOIN nrm na ON p1 = na.p JOIN nrm nb ON p2 = nb.p " +
          "ORDER BY cos DESC, p1, p2 LIMIT 20")
    },

    // Geospatial radius query: customers within 2500 km of a probe
    // point (deterministic synthetic coordinates from integer key
    // arithmetic — identical in any engine), nearest-20 by exact
    // haversine. The ENGINE prunes with a bounding box FIRST (lat ±25°,
    // lon ±28° — provably sound for 2500 km at these latitudes:
    // 1° lat ≥ 111.19 km and 1° lon ≥ 111.19·cos(35°) km within the
    // pruned band, so nothing inside the radius can fall outside the
    // box) and the box predicates push to the scan; the ORACLE brute
    // forces WITHOUT the box — green proves the prune lost nothing.
    // BOTH texts CAST the integer numerator to DOUBLE before the
    // /100.0: Spark types `int / 100.0` DECIMAL (decimal-literal
    // rule) while DuckDB's decimal-division path rounds the low bits
    // differently from IEEE double division (measured: ±5 low bits at
    // sf0.01) — double÷double is correctly rounded in both engines,
    // so casting first makes lat/lon bit-identical. Distance is
    // floored integer METERS, not 3-dp-rounded km: sf0.01's closest
    // rounding margin is 12.4 mm — seven orders above libm ulp noise
    // — where the old km form sat 1.7e-6 km from a round(…,3)
    // boundary on id 219.
    dfq("q_geo_radius",
      "WITH pts AS (SELECT c_custkey AS id, " +
        "  CAST((c_custkey * 37) % 17000 AS DOUBLE) / 100.0 - 85.0 AS lat, " +
        "  CAST((c_custkey * 91) % 36000 AS DOUBLE) / 100.0 - 180.0 AS lon FROM customer), " +
        "d AS (SELECT id, lat, lon, 2 * 6371000.0 * asin(sqrt( " +
        "    sin(radians(lat - 10.0) / 2) * sin(radians(lat - 10.0) / 2) + " +
        "    cos(radians(10.0)) * cos(radians(lat)) * " +
        "    sin(radians(lon - 20.0) / 2) * sin(radians(lon - 20.0) / 2))) AS m_raw FROM pts) " +
        "SELECT id, lat, lon, CAST(floor(m_raw) AS BIGINT) AS dist_m FROM d " +
        "WHERE m_raw <= 2500000 ORDER BY dist_m, id LIMIT 20") { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(
        "WITH pts AS (SELECT c_custkey AS id, " +
          "  CAST((c_custkey * 37) % 17000 AS DOUBLE) / 100.0 - 85.0 AS lat, " +
          "  CAST((c_custkey * 91) % 36000 AS DOUBLE) / 100.0 - 180.0 AS lon FROM customer), " +
          "boxed AS (SELECT * FROM pts WHERE lat BETWEEN -15.0 AND 35.0 " +
          "  AND lon BETWEEN -8.0 AND 48.0), " +
          "d AS (SELECT id, lat, lon, 2 * 6371000.0 * asin(sqrt( " +
          "    sin(radians(lat - 10.0) / 2) * sin(radians(lat - 10.0) / 2) + " +
          "    cos(radians(10.0)) * cos(radians(lat)) * " +
          "    sin(radians(lon - 20.0) / 2) * sin(radians(lon - 20.0) / 2))) AS m_raw FROM boxed) " +
          "SELECT id, lat, lon, CAST(floor(m_raw) AS BIGINT) AS dist_m FROM d " +
          "WHERE m_raw <= 2500000 ORDER BY dist_m, id LIMIT 20")
    },

    // Geospatial k-NN over a Z-ORDERED LAYOUT (r12 verdict stretch): the
    // ENGINE writes customers clustered by interleave_bits(latg, long)
    // via Layout.writeZOrdered (range-partitioned on the z curve — the
    // 100 TB layout for two-column filter workloads), reads the layout
    // back, and prunes with an integer box on the CLUSTERED grid columns
    // — on a z-ordered layout that box skips most parquet row groups via
    // min/max stats, where the same predicate over an unclustered layout
    // scans everything. The ORACLE brute-forces the 20 nearest over ALL
    // customers with no box. Soundness invariant (box-pruned top-20 ≡
    // global top-20): ≥ 20 points lie inside the 2500 km BALL — then the
    // 20th-nearest global distance is ≤ 2500 km, and since the box
    // (lat ±25°, lon ±28°) CONTAINS the ball, every global top-20 point
    // is in the box. ("≥ 20 points in the box" alone would NOT suffice:
    // box corners lie outside the ball.) The prune is ADAPTIVE: the
    // invariant is checked with one cheap boxed count, and when the data
    // is too sparse for it (sf ≤ 0.001: ~150 customers, < 20 in-ball)
    // the entry falls back to the unpruned layout scan — correct by
    // construction (unpruned ≡ the oracle's brute force), and the
    // honest shape: pruning can't help a dataset the ball doesn't
    // cover. Same floored-meters output as q_geo_radius (12.4 mm min
    // boundary margin at sf0.01).
    dfq("q_geo_knn",
      "WITH pts AS (SELECT c_custkey AS id, " +
        "  CAST((c_custkey * 37) % 17000 AS DOUBLE) / 100.0 - 85.0 AS lat, " +
        "  CAST((c_custkey * 91) % 36000 AS DOUBLE) / 100.0 - 180.0 AS lon FROM customer), " +
        "d AS (SELECT id, 2 * 6371000.0 * asin(sqrt( " +
        "    sin(radians(lat - 10.0) / 2) * sin(radians(lat - 10.0) / 2) + " +
        "    cos(radians(10.0)) * cos(radians(lat)) * " +
        "    sin(radians(lon - 20.0) / 2) * sin(radians(lon - 20.0) / 2))) AS m_raw FROM pts) " +
        "SELECT id, CAST(floor(m_raw) AS BIGINT) AS dist_m FROM d " +
        "ORDER BY dist_m, id LIMIT 20") { (s, dir) =>
      Tables.registerAll(s, dir)
      val out = tempDir("graft-geo-knn")
      // Grid columns: exact integer centidegrees shifted non-negative
      // (lat has 2-dp resolution by construction, so the grid is exact
      // and the integer box below is equivalent to the lat/lon box).
      val pts = s.sql(
        "SELECT c_custkey AS id, " +
          "CAST((c_custkey * 37) % 17000 AS DOUBLE) / 100.0 - 85.0 AS lat, " +
          "CAST((c_custkey * 91) % 36000 AS DOUBLE) / 100.0 - 180.0 AS lon, " +
          "CAST((c_custkey * 37) % 17000 AS BIGINT) + 500 AS latg, " +
          "CAST((c_custkey * 91) % 36000 AS BIGINT) AS lng FROM customer")
      graft.operators.Layout.writeZOrdered(pts, "latg", "lng", s"$out/data", 8)
      s.read.parquet(s"$out/data").createOrReplaceTempView("graft_geo_layout")
      // Assert the ball-containment invariant (see the soundness comment):
      // one cheap count over the already-boxed subset.
      val inBall = s.sql(
        "SELECT count(*) FROM (SELECT 2 * 6371000.0 * asin(sqrt( " +
          "    sin(radians(lat - 10.0) / 2) * sin(radians(lat - 10.0) / 2) + " +
          "    cos(radians(10.0)) * cos(radians(lat)) * " +
          "    sin(radians(lon - 20.0) / 2) * sin(radians(lon - 20.0) / 2))) AS m " +
          "  FROM graft_geo_layout " +
          "  WHERE latg BETWEEN 7500 AND 12500 AND lng BETWEEN 17200 AND 22800) " +
          "WHERE m <= 2500000").head().getLong(0)
      // Adaptive prune: box only when the ball-containment invariant
      // holds; otherwise the full layout scan (≡ the oracle's brute
      // force) — see the soundness comment.
      val boxPredicate =
        if (inBall >= 20) "WHERE latg BETWEEN 7500 AND 12500 AND lng BETWEEN 17200 AND 22800"
        else ""
      s.sql(
        "WITH boxed AS (SELECT id, lat, lon FROM graft_geo_layout " +
          s"  $boxPredicate), " +
          "d AS (SELECT id, 2 * 6371000.0 * asin(sqrt( " +
          "    sin(radians(lat - 10.0) / 2) * sin(radians(lat - 10.0) / 2) + " +
          "    cos(radians(10.0)) * cos(radians(lat)) * " +
          "    sin(radians(lon - 20.0) / 2) * sin(radians(lon - 20.0) / 2))) AS m_raw FROM boxed) " +
          "SELECT id, CAST(floor(m_raw) AS BIGINT) AS dist_m FROM d " +
          "ORDER BY dist_m, id LIMIT 20")
    },

    // Benford first-digit analysis of line-item amounts — the classic
    // fraud/materiality screen: observed vs expected log10(1 + 1/d)
    // frequency with per-digit z-statistics. The synthetic prices are
    // uniform-ish, so the screen REJECTS hard (|z| up to 78) — the
    // interesting, non-vacuous answer. Exact integer digit extraction
    // (cent-scaled BIGINT → string), 6/2-dp rounded shares.
    sql2("q_benford",
      "WITH digits AS (SELECT CAST(substr(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS STRING), 1, 1) AS INT) AS d " +
        "  FROM lineitem WHERE l_extendedprice > 0), " +
        "obs AS (SELECT d, count(*) AS n FROM digits GROUP BY d), " +
        "tot AS (SELECT CAST(sum(n) AS DOUBLE) AS t FROM obs) " +
        "SELECT d AS digit, CAST(n AS BIGINT) AS n, round(n / tot.t, 6) AS observed, " +
        "  round(log10(1.0 + 1.0 / d), 6) AS benford, " +
        "  round((n / tot.t - log10(1.0 + 1.0 / d)) / " +
        "    sqrt(log10(1.0 + 1.0 / d) * (1 - log10(1.0 + 1.0 / d)) / tot.t), 2) AS z " +
        "FROM obs CROSS JOIN tot ORDER BY digit",
      "WITH digits AS (SELECT CAST(substr(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS d " +
        "  FROM lineitem WHERE l_extendedprice > 0), " +
        "obs AS (SELECT d, count(*) AS n FROM digits GROUP BY d), " +
        "tot AS (SELECT CAST(sum(n) AS DOUBLE) AS t FROM obs) " +
        "SELECT d AS digit, CAST(n AS BIGINT) AS n, round(n / tot.t, 6) AS observed, " +
        "  round(log10(1.0 + 1.0 / d), 6) AS benford, " +
        "  round((n / tot.t - log10(1.0 + 1.0 / d)) / " +
        "    sqrt(log10(1.0 + 1.0 / d) * (1 - log10(1.0 + 1.0 / d)) / tot.t), 2) AS z " +
        "FROM obs CROSS JOIN tot ORDER BY digit"),

    // GROUPED percent-rank quantile buckets — q_quantile_transform's
    // per-group face: per-flag quartiles from the GROUPED distributed
    // prefix rank (range partition on (group, order); a hot group spans
    // many partitions, never one task). The oracle runs the real
    // `percent_rank() OVER (PARTITION BY …)`; same (rank−1)/(n−1)
    // doubles both sides, so quartile floors cannot diverge.
    dfq("q_percentrank_grouped",
      "WITH r AS (SELECT l_returnflag AS rf, l_extendedprice AS p, " +
        "  percent_rank() OVER (PARTITION BY l_returnflag " +
        "    ORDER BY l_extendedprice, l_orderkey * 10 + l_linenumber) AS pr FROM lineitem) " +
        "SELECT rf AS flag, CAST(floor(least(pr, 0.999999) * 4) AS INT) AS quartile, count(*) AS n, " +
        "  CAST(min(round(p * 100)) AS BIGINT) AS min_cents, " +
        "  CAST(max(round(p * 100)) AS BIGINT) AS max_cents " +
        "FROM r GROUP BY rf, CAST(floor(least(pr, 0.999999) * 4) AS INT) " +
        "ORDER BY flag, quartile") { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
        .withColumn("_sk", expr("l_orderkey * 10 + l_linenumber"))
      val ranked = graft.operators.Prefix.withRunningSums(
        li, "l_extendedprice", Nil, idxCol = "_r",
        tieCols = Seq("_sk"), groupCols = Seq("l_returnflag"))
      val ng = li.groupBy("l_returnflag").agg(count(lit(1)).as("_ng"))
      ranked.join(broadcast(ng), "l_returnflag")
        .withColumn("pr", (col("_r") - 1) / (col("_ng") - 1))
        .groupBy(col("l_returnflag").as("flag"),
          floor(least(col("pr"), lit(0.999999)) * 4).cast("int").as("quartile"))
        .agg(count(lit(1)).as("n"),
          min(round(col("l_extendedprice") * 100)).cast("long").as("min_cents"),
          max(round(col("l_extendedprice") * 100)).cast("long").as("max_cents"))
        .orderBy("flag", "quartile")
    },

    // Record lows — the high-water-mark primitive's GLOBAL face (the
    // skyline exercised the grouped form): days whose per-day minimum
    // price beats every earlier day's, via the exclusive distributed
    // running min over the per-day aggregate. Oracle runs the real
    // 1-PRECEDING frame window.
    dfq("q_record_low",
      "WITH px AS (SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS BIGINT) AS day, " +
        "  min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS p FROM lineitem GROUP BY 1), " +
        "rm AS (SELECT day, p, min(p) OVER (ORDER BY day " +
        "  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev FROM px) " +
        "SELECT day, p AS low_cents FROM rm WHERE prev IS NULL OR p < prev ORDER BY day") { (s, dir) =>
      val px = Tables.load(s, dir, "lineitem")
        .groupBy(datediff(col("l_shipdate").cast("date"),
          lit("1970-01-01").cast("date")).cast("long").as("day"))
        .agg(min(round(col("l_extendedprice") * 100).cast("long")).as("p"))
      graft.operators.Prefix.withRunningMinExclusive(px, "day", "p", "prev")
        .filter(col("prev").isNull || col("p") < col("prev"))
        .select(col("day"), col("p").as("low_cents"))
        .orderBy("day")
    },

    // Revenue concentration (the 80/20 cut): smallest top-revenue
    // customer prefix covering ≥ 80% of cent-exact revenue — cumulative
    // sums via the distributed prefix sum ordered by (revenue desc,
    // custkey); the oracle runs the REAL running-sum window. Integer
    // cumulative comparisons (cr·5 ≥ t·4), so the cut index cannot
    // float-flip.
    dfq("q_pareto_cut",
      "WITH rev AS (SELECT o_custkey AS c, sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS r " +
        "  FROM orders GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(r) AS BIGINT) AS t, count(*) AS n FROM rev), " +
        "cum AS (SELECT c, r, sum(r) OVER (ORDER BY r DESC, c ROWS UNBOUNDED PRECEDING) AS cr, " +
        "  row_number() OVER (ORDER BY r DESC, c) AS rk FROM rev), " +
        "cut AS (SELECT min(rk) AS k FROM cum CROSS JOIN tot WHERE cr * 5 >= t * 4) " +
        "SELECT CAST(cut.k AS BIGINT) AS top_customers, " +
        "  round(CAST(cut.k AS DOUBLE) / tot.n, 6) AS cust_share, " +
        "  round(CAST((SELECT cr FROM cum WHERE rk = cut.k) AS DOUBLE) / tot.t, 6) AS rev_share " +
        "FROM cut CROSS JOIN tot") { (s, dir) =>
      val rev = Tables.load(s, dir, "orders")
        .groupBy(col("o_custkey").as("c"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("r"))
      val tot = rev.agg(sum(col("r")).as("t"), count(lit(1)).as("n"))
      val cum = graft.operators.Prefix.withRunningSums(
        rev.withColumn("_k", -col("r")), "_k", Seq(("r", "cr")),
        idxCol = "rk", tieCols = Seq("c"))
      val kDf = cum.crossJoin(broadcast(tot))
        .filter(col("cr") * 5 >= col("t") * 4)
        .agg(min(col("rk")).as("k"))
      cum.join(broadcast(kDf), col("rk") === col("k"))
        .crossJoin(broadcast(tot))
        .select(col("k").cast("long").as("top_customers"),
          round(col("k") / col("n"), 6).as("cust_share"),
          round(col("cr") / col("t"), 6).as("rev_share"))
    },

    // A/B experiment readout on DETERMINISTIC assignment: users split
    // 50/50-ish by the md5 gate (reproducible on any engine at any
    // parallelism — the experiment-assignment requirement), conversion =
    // any high-value purchase (EXISTS ⇒ semi join), pooled two-proportion
    // z. Real split at sf0.01: 33/78 vs 34/72 converted.
    sql2("q_ab_test",
      "WITH assign AS (SELECT user_id, CASE WHEN substr(md5(CAST(user_id AS STRING) || '|ab1'), 1, 1) < '8' " +
        "    THEN 'A' ELSE 'B' END AS grp " +
        "  FROM (SELECT DISTINCT user_id FROM events) u), " +
        "conv AS (SELECT a.grp, count(*) AS n_users, " +
        "    sum(CASE WHEN EXISTS (SELECT 1 FROM events e WHERE e.user_id = a.user_id " +
        "      AND e.event_type = 'purchase' AND e.value >= 150) THEN 1 ELSE 0 END) AS n_conv " +
        "  FROM assign a GROUP BY a.grp), " +
        "w AS (SELECT max(CASE WHEN grp = 'A' THEN n_users END) AS na, " +
        "    max(CASE WHEN grp = 'A' THEN n_conv END) AS ca, " +
        "    max(CASE WHEN grp = 'B' THEN n_users END) AS nb, " +
        "    max(CASE WHEN grp = 'B' THEN n_conv END) AS cb FROM conv) " +
        "SELECT CAST(na AS BIGINT) AS n_a, CAST(ca AS BIGINT) AS conv_a, " +
        "  CAST(nb AS BIGINT) AS n_b, CAST(cb AS BIGINT) AS conv_b, " +
        "  round(CAST(ca AS DOUBLE) / na, 6) AS rate_a, round(CAST(cb AS DOUBLE) / nb, 6) AS rate_b, " +
        "  round((CAST(cb AS DOUBLE) / nb - CAST(ca AS DOUBLE) / na) / " +
        "    sqrt((CAST(ca + cb AS DOUBLE) / (na + nb)) * (1 - CAST(ca + cb AS DOUBLE) / (na + nb)) * " +
        "      (1.0 / na + 1.0 / nb)), 3) AS z " +
        "FROM w",
      "WITH assign AS (SELECT user_id, CASE WHEN substr(md5(CAST(user_id AS VARCHAR) || '|ab1'), 1, 1) < '8' " +
        "    THEN 'A' ELSE 'B' END AS grp " +
        "  FROM (SELECT DISTINCT user_id FROM events) u), " +
        "conv AS (SELECT a.grp, count(*) AS n_users, " +
        "    sum(CASE WHEN EXISTS (SELECT 1 FROM events e WHERE e.user_id = a.user_id " +
        "      AND e.event_type = 'purchase' AND e.value >= 150) THEN 1 ELSE 0 END) AS n_conv " +
        "  FROM assign a GROUP BY a.grp), " +
        "w AS (SELECT max(CASE WHEN grp = 'A' THEN n_users END) AS na, " +
        "    max(CASE WHEN grp = 'A' THEN n_conv END) AS ca, " +
        "    max(CASE WHEN grp = 'B' THEN n_users END) AS nb, " +
        "    max(CASE WHEN grp = 'B' THEN n_conv END) AS cb FROM conv) " +
        "SELECT CAST(na AS BIGINT) AS n_a, CAST(ca AS BIGINT) AS conv_a, " +
        "  CAST(nb AS BIGINT) AS n_b, CAST(cb AS BIGINT) AS conv_b, " +
        "  round(CAST(ca AS DOUBLE) / na, 6) AS rate_a, round(CAST(cb AS DOUBLE) / nb, 6) AS rate_b, " +
        "  round((CAST(cb AS DOUBLE) / nb - CAST(ca AS DOUBLE) / na) / " +
        "    sqrt((CAST(ca + cb AS DOUBLE) / (na + nb)) * (1 - CAST(ca + cb AS DOUBLE) / (na + nb)) * " +
        "      (1.0 / na + 1.0 / nb)), 3) AS z " +
        "FROM w"),

    // CUPED variance-reduced experiment readout (Deng et al., WSDM'13):
    // adjusted metric Ŷ = Y − θ(X − X̄) with θ = cov(X,Y)/var(X), X the
    // pre-period covariate. The entire statistic is composed from SIX
    // exact integer scalars (n, Σx, Σy, Σxy, Σx², per-group Σ) — the
    // co-moment products ride DECIMAL(38)/HUGEINT sums (n·Σxy overflows
    // BIGINT at scale), each group mean-adjustment uses the LINEARITY of
    // CUPED (mean(Ŷ_g) = ȳ_g − θ(x̄_g − X̄)) so no per-row double is ever
    // aggregated (a per-row Ŷ sum would be accumulation-order-dependent),
    // and outputs are floor-based fixed-point (audited margins ≥ 0.12
    // units at both scales). Identical expression shape both engines →
    // identical doubles.
    sql2("q_cuped",
      "WITH ux AS (SELECT user_id, " +
        "    sum(CASE WHEN day(ts) <= 15 AND event_type = 'purchase' THEN CAST(floor(value*100+0.5) AS BIGINT) ELSE 0 END) AS x, " +
        "    sum(CASE WHEN day(ts) > 15 AND event_type = 'purchase' THEN CAST(floor(value*100+0.5) AS BIGINT) ELSE 0 END) AS y " +
        "  FROM events GROUP BY user_id), " +
        "g AS (SELECT user_id, x, y, CASE WHEN substr(md5(concat(CAST(user_id AS STRING), '|cuped')), 1, 1) < '8' THEN 'A' ELSE 'B' END AS grp FROM ux), " +
        "mom AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy, " +
        "    sum(CAST(x AS DECIMAL(38,0)) * y) AS sxy, sum(CAST(x AS DECIMAL(38,0)) * x) AS sxx FROM g), " +
        "th AS (SELECT n, sx, " +
        "    (CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)) " +
        "      / (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) AS theta, " +
        "    CAST(sx AS DOUBLE)/n AS xbar FROM mom), " +
        "per AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_g, CAST(sum(x) AS BIGINT) AS sx_g, CAST(sum(y) AS BIGINT) AS sy_g FROM g GROUP BY grp) " +
        "SELECT grp, n_g, sx_g, sy_g, " +
        "  CAST(floor(CAST(sy_g AS DOUBLE)/n_g * 100 + 0.5) AS BIGINT) AS mean_y_u, " +
        "  CAST(floor((CAST(sy_g AS DOUBLE)/n_g - th.theta*(CAST(sx_g AS DOUBLE)/n_g - th.xbar)) * 100 + 0.5) AS BIGINT) AS mean_y_adj_u " +
        "FROM per CROSS JOIN th ORDER BY grp",
      "WITH ux AS (SELECT user_id, " +
        "    CAST(sum(CASE WHEN day(ts) <= 15 AND event_type = 'purchase' THEN CAST(floor(value*100+0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS x, " +
        "    CAST(sum(CASE WHEN day(ts) > 15 AND event_type = 'purchase' THEN CAST(floor(value*100+0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS y " +
        "  FROM events GROUP BY user_id), " +
        "g AS (SELECT user_id, x, y, CASE WHEN substr(md5(CAST(user_id AS VARCHAR) || '|cuped'), 1, 1) < '8' THEN 'A' ELSE 'B' END AS grp FROM ux), " +
        "mom AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy, " +
        "    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy, CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx FROM g), " +
        "th AS (SELECT n, sx, " +
        "    (CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)) " +
        "      / (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) AS theta, " +
        "    CAST(sx AS DOUBLE)/n AS xbar FROM mom), " +
        "per AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_g, CAST(sum(x) AS BIGINT) AS sx_g, CAST(sum(y) AS BIGINT) AS sy_g FROM g GROUP BY grp) " +
        "SELECT grp, n_g, sx_g, sy_g, " +
        "  CAST(floor(CAST(sy_g AS DOUBLE)/n_g * 100 + 0.5) AS BIGINT) AS mean_y_u, " +
        "  CAST(floor((CAST(sy_g AS DOUBLE)/n_g - th.theta*(CAST(sx_g AS DOUBLE)/n_g - th.xbar)) * 100 + 0.5) AS BIGINT) AS mean_y_adj_u " +
        "FROM per CROSS JOIN th ORDER BY grp"),

    // Gini coefficient of customer revenue — the inequality companion to
    // q_pareto_cut's cut point: G = (2·Σ i·rᵢ − (n+1)·Σr) / (n·Σr) over
    // ascending-revenue ranks. Engine: the distributed prefix rank +
    // DECIMAL(38) Σ i·rᵢ (the term overflows a 64-bit sum at full scale);
    // oracle: the real row_number window. All-integer until one final
    // double expression, identically shaped both engines.
    dfq("q_gini",
      "WITH rev AS (SELECT o_custkey AS c, sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS r " +
        "  FROM orders GROUP BY 1), " +
        "rk AS (SELECT c, r, row_number() OVER (ORDER BY r ASC, c) AS i FROM rev), " +
        "agg AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(r) AS BIGINT) AS t, " +
        "  sum(i * r) AS ir FROM rk) " +
        "SELECT n, t AS total_cents, " +
        "  round((2.0 * CAST(ir AS DOUBLE) - (n + 1.0) * t) / (n * 1.0 * t), 6) AS gini " +
        "FROM agg") { (s, dir) =>
      val rev = Tables.load(s, dir, "orders")
        .groupBy(col("o_custkey").as("c"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("r"))
      graft.operators.Prefix.withRunningSums(
          rev, "r", Nil, idxCol = "i", tieCols = Seq("c"))
        .agg(count(lit(1)).cast("long").as("n"), sum(col("r")).cast("long").as("t"),
          sum(col("i").cast("decimal(38,0)") * col("r")).as("ir"))
        .select(col("n"), col("t").as("total_cents"),
          round((lit(2.0) * col("ir").cast("double") - (col("n") + 1.0) * col("t")) /
            (col("n") * lit(1.0) * col("t")), 6).as("gini"))
    },

    // Between-group THEIL index of nation revenue (in bits) — the
    // decomposable inequality companion to q_gini, and the micro-bit
    // lattice discipline extended to RATIO logs: each nation's term is
    // s_g·log2((x_g/X)/(n_g/N)) where the log argument is the INTEGER
    // ratio (x_g·N)/(X·n_g), so dl_u = L(x_g·N) − L(X·n_g) is an EXACT
    // lattice difference of two guarded integer log2s (committed margin
    // audit: min boundary distance 2.7e-3 at sf0.01, 1.8e-3 at sf0.1 —
    // 180-270× the 1e-5 runtime guard; operands max 8.2e16 < 2^63).
    // theil_term multiplies in DOUBLE space — cents (< 2^53, exact) ×
    // the exact integer lattice difference, divided by double(X)·1e6:
    // one IEEE-nearest rounding per operation, identical op order both
    // engines. (A BIGINT product `x·1e6` would overflow 2^63 from
    // ~sf0.4 — silently on Spark with ANSI off, loudly on DuckDB.) The
    // 3-way join shape: lineitem⋈orders⋈customer⋈nation, all group-bys
    // on the 25-nation key — broadcast dims, one fact shuffle.
    sql2("q_theil_index",
      "WITH rev AS (SELECT n.n_name AS nation, " +
        "    sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)) AS cents, " +
        "    count(*) AS n_g " +
        "  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey " +
        "  JOIN customer c ON o.o_custkey = c.c_custkey " +
        "  JOIN nation n ON c.c_nationkey = n.n_nationkey GROUP BY n.n_name), " +
        "tot AS (SELECT CAST(sum(cents) AS BIGINT) AS x, CAST(sum(n_g) AS BIGINT) AS n FROM rev) " +
        "SELECT nation, CAST(cents AS BIGINT) AS cents, CAST(n_g AS BIGINT) AS n_g, " +
        s"  CAST(${microLog2Guarded("cents * tot.n")} - ${microLog2Guarded("tot.x * n_g")} AS BIGINT) AS dl_u, " +
        s"  (CAST(cents AS DOUBLE) * (${microLog2Guarded("cents * tot.n")} - ${microLog2Guarded("tot.x * n_g")})) " +
        "    / (CAST(tot.x AS DOUBLE) * 1000000.0) AS theil_term " +
        "FROM rev CROSS JOIN tot ORDER BY nation",
      "WITH rev AS (SELECT n.n_name AS nation, " +
        "    CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents, " +
        "    count(*) AS n_g " +
        "  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey " +
        "  JOIN customer c ON o.o_custkey = c.c_custkey " +
        "  JOIN nation n ON c.c_nationkey = n.n_nationkey GROUP BY n.n_name), " +
        "tot AS (SELECT CAST(sum(cents) AS BIGINT) AS x, CAST(sum(n_g) AS BIGINT) AS n FROM rev) " +
        "SELECT nation, cents, CAST(n_g AS BIGINT) AS n_g, " +
        s"  ${microLog2Duck("cents * tot.n")} - ${microLog2Duck("tot.x * n_g")} AS dl_u, " +
        s"  (CAST(cents AS DOUBLE) * (${microLog2Duck("cents * tot.n")} - ${microLog2Duck("tot.x * n_g")})) " +
        "    / (CAST(tot.x AS DOUBLE) * 1000000.0) AS theil_term " +
        "FROM rev CROSS JOIN tot ORDER BY nation"),

    // Spearman rank correlation between order value and order width
    // (lineitem count): ranks are UNTIED by construction (deterministic
    // (value, orderkey) tie-break — the documented variant; average-rank
    // ties would need a second pass), so the no-ties shortcut
    // ρ = 1 − 6Σd²/(n(n²−1)) is exact: Σd² is an exact BIGINT sum,
    // and the final expression is restructured to exact-integer
    // numerator/denominator in DOUBLE space with ONE division — plain
    // IEEE arithmetic, bit-identical cross-engine, no rounding. Both
    // global ranks ride the distributed prefix machinery (two
    // range-partitioned passes), never a partition-less window.
    dfq("q_spearman",
      "WITH li AS (SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS nl FROM lineitem GROUP BY 1), " +
        "j AS (SELECT o.o_orderkey AS k, CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents, li.nl " +
        "  FROM orders o JOIN li ON o.o_orderkey = li.k), " +
        "rk AS (SELECT k, row_number() OVER (ORDER BY cents, k) AS rx, " +
        "  row_number() OVER (ORDER BY nl, k) AS ry FROM j), " +
        "agg AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
        "  CAST(sum((rx - ry) * (rx - ry)) AS BIGINT) AS sd2 FROM rk) " +
        "SELECT n, sd2 AS sum_d2, " +
        "  (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - 1.0) - 6.0 * CAST(sd2 AS DOUBLE)) / " +
        "  (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - 1.0)) AS rho " +
        "FROM agg") { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
        .groupBy(col("l_orderkey").as("k"))
        .agg(count(lit(1)).cast("long").as("nl"))
      val j = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").as("k"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .join(li, "k")
      val ranked = graft.operators.Prefix.withRunningSums(
        graft.operators.Prefix.withRunningSums(
          j, "cents", Nil, idxCol = "rx", tieCols = Seq("k")),
        "nl", Nil, idxCol = "ry", tieCols = Seq("k"))
      val nD = col("n").cast("double")
      ranked
        .agg(count(lit(1)).cast("long").as("n"),
          sum((col("rx") - col("ry")) * (col("rx") - col("ry"))).cast("long").as("sd2"))
        .select(col("n"), col("sd2").as("sum_d2"),
          ((nD * (nD * nD - lit(1.0)) - lit(6.0) * col("sd2").cast("double")) /
            (nD * (nD * nD - lit(1.0)))).as("rho"))
    },

    // Herfindahl–Hirschman concentration of supplier revenue within each
    // returnflag segment — the antitrust-style market-structure readout:
    // HHI = Σ share² = Σr²/(Σr)² over integer cents. Per-supplier
    // revenue sums are exact BIGINT; the squared sum exceeds 2^63 (~1e20
    // at sf0.01 already), so each engine carries it in its own exact
    // wide type — HUGEINT in DuckDB (sum(BIGINT) is int128 there),
    // DECIMAL(38,0) in Spark — and each converts the exact integer to
    // DOUBLE once (both conversions are IEEE round-to-nearest →
    // bit-identical), then ONE division. Partial-agg only: two hash
    // aggregations, 3-row final relation.
    sql2("q_hhi",
      "WITH rev AS (SELECT l_returnflag AS seg, l_suppkey AS s, " +
        "    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS r " +
        "  FROM lineitem GROUP BY 1, 2), " +
        "agg AS (SELECT seg, CAST(count(*) AS BIGINT) AS n_firms, " +
        "    CAST(sum(r) AS BIGINT) AS tot, " +
        "    sum(CAST(r AS DECIMAL(38,0)) * r) AS sq FROM rev GROUP BY 1) " +
        "SELECT seg, n_firms, tot AS total_cents, " +
        "  CAST(sq AS DOUBLE) / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)) AS hhi " +
        "FROM agg ORDER BY seg",
      "WITH rev AS (SELECT l_returnflag AS seg, l_suppkey AS s, " +
        "    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS r " +
        "  FROM lineitem GROUP BY 1, 2), " +
        "agg AS (SELECT seg, CAST(count(*) AS BIGINT) AS n_firms, " +
        "    CAST(sum(r) AS BIGINT) AS tot, " +
        "    sum(r * r) AS sq FROM rev GROUP BY 1) " +
        "SELECT seg, n_firms, tot AS total_cents, " +
        "  CAST(sq AS DOUBLE) / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)) AS hhi " +
        "FROM agg ORDER BY seg"),

    // Mutual information between event type and hour-of-day — the
    // feature-relevance readout, on the ratio-log micro-bit lattice
    // (the q_theil_index discipline): each cell's pointwise term is
    // n_xy·log2((n_xy/N)/((n_x/N)(n_y/N))) where the log argument is
    // the INTEGER ratio (n_xy·N)/(n_x·n_y), so dl_u = L(n_xy·N) −
    // L(n_x·n_y) is an exact difference of guarded micro-bit floors
    // (margins audited ≥ 3.0e-4 micro-bits across all three SFs, ≥ 30×
    // the in-expression 1e-5 guard), and mi_term is one IEEE
    // mul-sub-div chain on exact integers. Scale: the cell relation is
    // |types|×24, marginals broadcast.
    sql2("q_mutual_info",
      "WITH c AS (SELECT event_type AS et, CAST(hour(ts) AS INT) AS hr, " +
        "    CAST(count(*) AS BIGINT) AS n_xy FROM events GROUP BY 1, 2), " +
        "mx AS (SELECT et, CAST(sum(n_xy) AS BIGINT) AS n_x FROM c GROUP BY 1), " +
        "my AS (SELECT hr, CAST(sum(n_xy) AS BIGINT) AS n_y FROM c GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(n_xy) AS BIGINT) AS n FROM c) " +
        "SELECT c.et, c.hr, c.n_xy, " +
        s"  CAST(${microLog2Guarded("c.n_xy * tot.n")} - ${microLog2Guarded("mx.n_x * my.n_y")} AS BIGINT) AS dl_u, " +
        s"  (CAST(c.n_xy AS DOUBLE) * (${microLog2Guarded("c.n_xy * tot.n")} - ${microLog2Guarded("mx.n_x * my.n_y")})) " +
        "    / (CAST(tot.n AS DOUBLE) * 1000000.0) AS mi_term " +
        "FROM c JOIN mx USING (et) JOIN my USING (hr) CROSS JOIN tot ORDER BY c.et, c.hr",
      "WITH c AS (SELECT event_type AS et, CAST(hour(ts) AS INT) AS hr, " +
        "    CAST(count(*) AS BIGINT) AS n_xy FROM events GROUP BY 1, 2), " +
        "mx AS (SELECT et, CAST(sum(n_xy) AS BIGINT) AS n_x FROM c GROUP BY 1), " +
        "my AS (SELECT hr, CAST(sum(n_xy) AS BIGINT) AS n_y FROM c GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(n_xy) AS BIGINT) AS n FROM c) " +
        "SELECT c.et, c.hr, c.n_xy, " +
        s"  ${microLog2Duck("c.n_xy * tot.n")} - ${microLog2Duck("mx.n_x * my.n_y")} AS dl_u, " +
        s"  (CAST(c.n_xy AS DOUBLE) * (${microLog2Duck("c.n_xy * tot.n")} - ${microLog2Duck("mx.n_x * my.n_y")})) " +
        "    / (CAST(tot.n AS DOUBLE) * 1000000.0) AS mi_term " +
        "FROM c JOIN mx USING (et) JOIN my USING (hr) CROSS JOIN tot ORDER BY c.et, c.hr"),

    // Permutation entropy (Bandt–Pompe 2002) of per-user value series —
    // the model-free complexity/noisiness readout a curation pipeline
    // runs on telemetry: each consecutive value triple maps to its
    // ordinal pattern (ties broken by position: earlier index ranks
    // lower, so the CASE comparisons are <=), and H = Σ (n_p/N)·
    // log2(N/n_p) rides the same micro-bit lattice as q_entropy/theil —
    // dl_u = L(N) − L(n_p) exactly (margins ≥ 0.02 micro-bits across
    // SFs, ≥ 2000× the guard). The triple extraction is a keyed lead()
    // window (per-user — parallel at any scale); the pattern relation
    // has ≤ 6 rows.
    sql2("q_perm_entropy",
      "WITH s AS (SELECT user_id, value AS v1, " +
        "    lead(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS v2, " +
        "    lead(value, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS v3 FROM events), " +
        "pat AS (SELECT CAST(CASE WHEN v1 <= v2 THEN 4 ELSE 0 END + " +
        "    CASE WHEN v2 <= v3 THEN 2 ELSE 0 END + " +
        "    CASE WHEN v1 <= v3 THEN 1 ELSE 0 END AS INT) AS p " +
        "  FROM s WHERE v3 IS NOT NULL), " +
        "c AS (SELECT p, CAST(count(*) AS BIGINT) AS n_p FROM pat GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(n_p) AS BIGINT) AS n FROM c) " +
        "SELECT c.p AS pattern, c.n_p, " +
        s"  CAST(${microLog2Guarded("tot.n")} - ${microLog2Guarded("c.n_p")} AS BIGINT) AS dl_u, " +
        s"  (CAST(c.n_p AS DOUBLE) * (${microLog2Guarded("tot.n")} - ${microLog2Guarded("c.n_p")})) " +
        "    / (CAST(tot.n AS DOUBLE) * 1000000.0) AS h_term " +
        "FROM c CROSS JOIN tot ORDER BY pattern",
      "WITH s AS (SELECT user_id, value AS v1, " +
        "    lead(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS v2, " +
        "    lead(value, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS v3 FROM events), " +
        "pat AS (SELECT CAST(CASE WHEN v1 <= v2 THEN 4 ELSE 0 END + " +
        "    CASE WHEN v2 <= v3 THEN 2 ELSE 0 END + " +
        "    CASE WHEN v1 <= v3 THEN 1 ELSE 0 END AS INT) AS p " +
        "  FROM s WHERE v3 IS NOT NULL), " +
        "c AS (SELECT p, CAST(count(*) AS BIGINT) AS n_p FROM pat GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(n_p) AS BIGINT) AS n FROM c) " +
        "SELECT c.p AS pattern, c.n_p, " +
        s"  ${microLog2Duck("tot.n")} - ${microLog2Duck("c.n_p")} AS dl_u, " +
        s"  (CAST(c.n_p AS DOUBLE) * (${microLog2Duck("tot.n")} - ${microLog2Duck("c.n_p")})) " +
        "    / (CAST(tot.n AS DOUBLE) * 1000000.0) AS h_term " +
        "FROM c CROSS JOIN tot ORDER BY pattern"),

    // RAKE keyword scores (Rose et al. 2010) at word granularity:
    // phrases are maximal stopword-delimited runs (gaps-and-islands on
    // a KEYED per-document running stopword count), deg(w) = Σ phrase
    // length over w's occurrences, freq(w) = occurrence count — both
    // exact BIGINTs — and score = deg/freq is ONE IEEE division per
    // row (phrase-level RAKE would sum rationals in nondeterministic
    // association order; word-level keeps every value exact). Top-20
    // under the unique (score, w) total order. Spark tokenizes via
    // LATERAL VIEW posexplode, DuckDB via generate_series indexing —
    // same relation, engine-native syntax each side.
    sql2("q_rake_keywords",
      "WITH tok AS (SELECT doc_id, i, w FROM documents " +
        "    LATERAL VIEW posexplode(split(text, ' ')) t AS i, w), " +
        "fl AS (SELECT doc_id, w, i, CASE WHEN w IN ('a','the','of','and','or','in','on','to','is') " +
        "    THEN 1 ELSE 0 END AS stop FROM tok WHERE length(w) > 0), " +
        "ph AS (SELECT doc_id, w, i, sum(stop) OVER (PARTITION BY doc_id ORDER BY i " +
        "    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pid, stop FROM fl), " +
        "pw AS (SELECT doc_id, pid, w FROM ph WHERE stop = 0), " +
        "plen AS (SELECT doc_id, pid, CAST(count(*) AS BIGINT) AS plen FROM pw GROUP BY 1, 2), " +
        "sc AS (SELECT pw.w, CAST(count(*) AS BIGINT) AS freq, CAST(sum(plen.plen) AS BIGINT) AS deg " +
        "  FROM pw JOIN plen ON pw.doc_id = plen.doc_id AND pw.pid = plen.pid GROUP BY 1) " +
        "SELECT w, freq, deg, CAST(deg AS DOUBLE) / CAST(freq AS DOUBLE) AS score " +
        "FROM sc ORDER BY score DESC, w LIMIT 20",
      "WITH sp AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents), " +
        "tok AS (SELECT doc_id, CAST(i AS BIGINT) AS i, l[i] AS w FROM sp, " +
        "    unnest(generate_series(1, len(l))) AS t(i)), " +
        "fl AS (SELECT doc_id, w, i, CASE WHEN w IN ('a','the','of','and','or','in','on','to','is') " +
        "    THEN 1 ELSE 0 END AS stop FROM tok WHERE length(w) > 0), " +
        "ph AS (SELECT doc_id, w, i, sum(stop) OVER (PARTITION BY doc_id ORDER BY i " +
        "    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pid, stop FROM fl), " +
        "pw AS (SELECT doc_id, pid, w FROM ph WHERE stop = 0), " +
        "plen AS (SELECT doc_id, pid, CAST(count(*) AS BIGINT) AS plen FROM pw GROUP BY 1, 2), " +
        "sc AS (SELECT pw.w, CAST(count(*) AS BIGINT) AS freq, CAST(sum(plen.plen) AS BIGINT) AS deg " +
        "  FROM pw JOIN plen ON pw.doc_id = plen.doc_id AND pw.pid = plen.pid GROUP BY 1) " +
        "SELECT w, freq, deg, CAST(deg AS DOUBLE) / CAST(freq AS DOUBLE) AS score " +
        "FROM sc ORDER BY score DESC, w LIMIT 20"),

    // Burstiness of per-user inter-arrival times as the index of
    // dispersion CV² = (n·Σg² − (Σg)²)/(Σg)² on WHOLE-SECOND gaps
    // (floor of the µs delta over one exact double division — seconds
    // keep g² ≤ 1e10 so the BIGINT moments survive ~1e9 gaps/user):
    // numerator and denominator are exact integer products, ONE IEEE
    // division per user, no libm. Keyed lead() window; the ≥5-gap /
    // ≥1-second HAVING guards the 0/0 cell. Top-20 by activity under
    // a unique total order.
    sql2("q_burstiness",
      "WITH g AS (SELECT user_id, CAST(floor(CAST(unix_micros(lead(ts, 1) OVER " +
        "    (PARTITION BY user_id ORDER BY ts, event_id)) - unix_micros(ts) AS DOUBLE) " +
        "    / 1000000.0) AS BIGINT) AS gs FROM events), " +
        "agg AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n, CAST(sum(gs) AS BIGINT) AS s, " +
        "    CAST(sum(gs * gs) AS BIGINT) AS sq " +
        "  FROM g WHERE gs IS NOT NULL GROUP BY 1 HAVING count(*) >= 5 AND sum(gs) >= 1) " +
        "SELECT user_id, n, s AS sum_s, sq AS sum_sq, " +
        "  CAST(n * sq - s * s AS DOUBLE) / CAST(s * s AS DOUBLE) AS cv2 " +
        "FROM agg ORDER BY n DESC, user_id LIMIT 20",
      "WITH g AS (SELECT user_id, CAST(floor(CAST(epoch_us(lead(ts, 1) OVER " +
        "    (PARTITION BY user_id ORDER BY ts, event_id)) - epoch_us(ts) AS DOUBLE) " +
        "    / 1000000.0) AS BIGINT) AS gs FROM events), " +
        "agg AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n, CAST(sum(gs) AS BIGINT) AS s, " +
        "    CAST(sum(gs * gs) AS BIGINT) AS sq " +
        "  FROM g WHERE gs IS NOT NULL GROUP BY 1 HAVING count(*) >= 5 AND sum(gs) >= 1) " +
        "SELECT user_id, n, s AS sum_s, sq AS sum_sq, " +
        "  CAST(n * sq - s * s AS DOUBLE) / CAST(s * s AS DOUBLE) AS cv2 " +
        "FROM agg ORDER BY n DESC, user_id LIMIT 20"),

    // Vocabulary coverage curve — what fraction of the token stream the
    // top-k vocabulary covers (the tokenizer-sizing readout): ranks and
    // cumulative frequencies ride the distributed prefix machinery
    // (rank = global index by (freq DESC, word), cum = inclusive
    // running sum — ONE Prefix pass provides both consistently), never
    // a partition-less window; coverage = cum/N is one IEEE division
    // of exact BIGINTs. The curve is cut at rank ≤ 50; the corpus
    // total comes from the full vocab relation, not the cut.
    dfq("q_vocab_coverage",
      "WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents), " +
        "c AS (SELECT w, CAST(count(*) AS BIGINT) AS freq FROM tok WHERE length(w) > 0 GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(freq) AS BIGINT) AS n FROM c), " +
        "rk AS (SELECT w, freq, row_number() OVER (ORDER BY freq DESC, w) AS rk FROM c), " +
        "run AS (SELECT rk, w, freq, CAST(sum(freq) OVER (ORDER BY rk " +
        "    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum " +
        "  FROM rk WHERE rk <= 50) " +
        "SELECT CAST(rk AS BIGINT) AS k, w, freq, cum, " +
        "  CAST(cum AS DOUBLE) / CAST(tot.n AS DOUBLE) AS coverage " +
        "FROM run CROSS JOIN tot ORDER BY k") { (s, dir) =>
      val c = Tables.load(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy("w").agg(count(lit(1)).cast("long").as("freq"))
      val tot = c.agg(sum("freq").cast("long").as("n"))
      graft.operators.Prefix.withRunningSums(
          c.withColumn("negf", -col("freq")), "negf",
          Seq("freq" -> "cum"), idxCol = "k", tieCols = Seq("w"))
        .filter(col("k") <= 50)
        .crossJoin(broadcast(tot))
        .select(col("k"), col("w"), col("freq"), col("cum").cast("long").as("cum"),
          (col("cum").cast("double") / col("n").cast("double")).as("coverage"))
        .orderBy("k")
    },

    // Brier score of the repeat-buyer propensity (same fh/conv generator
    // as q_decile_lift/q_auc_rank): p = (r−1)/(n−1) off the distributed
    // prefix rank, so (p−y)² = ((r−1) − y(n−1))²/(n−1)² has an exact
    // BIGINT numerator — the whole score is ONE integer sum and ONE
    // IEEE division by n(n−1)² (no per-row rounding, no libm). The
    // rank's denominator rides the prefix pass's own partition totals
    // (totalCountCol), not a second count() action.
    dfq("q_brier_score",
      "WITH fh AS (SELECT o_custkey AS c, CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS spend " +
        "  FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '2001-02-01' GROUP BY 1), " +
        "conv AS (SELECT DISTINCT o_custkey AS c FROM orders " +
        "  WHERE CAST(o_orderdate AS DATE) >= DATE '2001-02-01'), " +
        "scored AS (SELECT fh.c, CASE WHEN conv.c IS NULL THEN 0 ELSE 1 END AS y, " +
        "    row_number() OVER (ORDER BY fh.spend, fh.c) AS r, count(*) OVER () AS n " +
        "  FROM fh LEFT JOIN conv ON fh.c = conv.c), " +
        "agg AS (SELECT CAST(max(n) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos, " +
        "    CAST(sum(((r - 1) - y * (n - 1)) * ((r - 1) - y * (n - 1))) AS BIGINT) AS num " +
        "  FROM scored) " +
        "SELECT n, pos, num AS brier_num, " +
        "  CAST(num AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS brier " +
        "FROM agg") { (s, dir) =>
      Tables.registerAll(s, dir)
      val fh = s.sql(
        "SELECT o_custkey AS c, CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS spend " +
          "FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '2001-02-01' GROUP BY 1")
      val conv = s.sql(
        "SELECT DISTINCT o_custkey AS c FROM orders " +
          "WHERE CAST(o_orderdate AS DATE) >= DATE '2001-02-01'")
        .withColumn("y1", lit(1L))
      val scored = fh.join(conv, Seq("c"), "left")
        .withColumn("y", coalesce(col("y1"), lit(0L))).drop("y1")
      val withR = graft.operators.Prefix.withRunningSums(
        scored, "spend", Nil, idxCol = "_r", tieCols = Seq("c"),
        totalCountCol = "_n")
      val d = (col("_r") - 1) - col("y") * (col("_n") - 1)
      withR
        .agg(max(col("_n")).cast("long").as("n"), sum(col("y")).cast("long").as("pos"),
          sum(d * d).cast("long").as("num"))
        .select(col("n"), col("pos"), col("num").as("brier_num"),
          (col("num").cast("double") /
            (col("n").cast("double") * (col("n") - 1).cast("double") *
              (col("n") - 1).cast("double"))).as("brier"))
    },

    // Calibration / reliability table for the same propensity: per
    // predicted-probability decile, observed positive rate vs mean
    // predicted p — the readout that says WHERE a score is over- or
    // under-confident (q_decile_lift ranks by outcome lift; this
    // compares prediction against outcome). mean_p keeps an exact
    // integer numerator (Σ(r−1)) and ONE division by n_b(n−1); bin
    // assignment uses the identical floor(10(r−1)/(n−1)) double
    // expression on both sides (exact integer operands, deterministic).
    dfq("q_calibration",
      "WITH fh AS (SELECT o_custkey AS c, CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS spend " +
        "  FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '2001-02-01' GROUP BY 1), " +
        "conv AS (SELECT DISTINCT o_custkey AS c FROM orders " +
        "  WHERE CAST(o_orderdate AS DATE) >= DATE '2001-02-01'), " +
        "scored AS (SELECT fh.c, CASE WHEN conv.c IS NULL THEN 0 ELSE 1 END AS y, " +
        "    row_number() OVER (ORDER BY fh.spend, fh.c) AS r, count(*) OVER () AS n " +
        "  FROM fh LEFT JOIN conv ON fh.c = conv.c), " +
        "b AS (SELECT CAST(least(floor(10.0 * (r - 1) / (n - 1)), 9) AS INT) AS bin, n, " +
        "    CAST(r - 1 AS BIGINT) AS r1, y FROM scored), " +
        "g AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_b, CAST(sum(y) AS BIGINT) AS pos, " +
        "    CAST(sum(r1) AS BIGINT) AS sum_r1, CAST(max(n) AS BIGINT) AS n FROM b GROUP BY 1) " +
        "SELECT bin, n_b, pos, sum_r1, " +
        "  CAST(pos AS DOUBLE) / CAST(n_b AS DOUBLE) AS frac_pos, " +
        "  CAST(sum_r1 AS DOUBLE) / (CAST(n_b AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS mean_p " +
        "FROM g ORDER BY bin") { (s, dir) =>
      Tables.registerAll(s, dir)
      val fh = s.sql(
        "SELECT o_custkey AS c, CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS spend " +
          "FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '2001-02-01' GROUP BY 1")
      val conv = s.sql(
        "SELECT DISTINCT o_custkey AS c FROM orders " +
          "WHERE CAST(o_orderdate AS DATE) >= DATE '2001-02-01'")
        .withColumn("y1", lit(1L))
      val scored = fh.join(conv, Seq("c"), "left")
        .withColumn("y", coalesce(col("y1"), lit(0L))).drop("y1")
      graft.operators.Prefix.withRunningSums(
          scored, "spend", Nil, idxCol = "_r", tieCols = Seq("c"),
          totalCountCol = "_n")
        .select(
          least(floor(lit(10.0) * (col("_r") - 1) / (col("_n") - 1)), lit(9L))
            .cast("int").as("bin"),
          col("_n"), (col("_r") - 1).cast("long").as("r1"), col("y"))
        .groupBy("bin")
        .agg(count(lit(1)).cast("long").as("n_b"), sum("y").cast("long").as("pos"),
          sum("r1").cast("long").as("sum_r1"), max("_n").cast("long").as("n"))
        .select(col("bin"), col("n_b"), col("pos"), col("sum_r1"),
          (col("pos").cast("double") / col("n_b").cast("double")).as("frac_pos"),
          (col("sum_r1").cast("double") /
            (col("n_b").cast("double") * (col("n") - 1).cast("double"))).as("mean_p"))
        .orderBy("bin")
    },

    // Lag-1 Spearman autocorrelation of daily revenue — is yesterday's
    // rank informative about today's? Day ranks come off the
    // distributed prefix pass; consecutive-day pairs are an equi-join
    // on the shifted date key (never a window over the whole series);
    // the six moments are exact BIGINTs and ρ is computed from them in
    // pure IEEE double arithmetic — sqrt IS deterministic cross-engine
    // (IEEE 754 REQUIRES correctly-rounded sqrt, unlike log/exp, so no
    // lattice is needed here).
    dfq("q_rank_autocorr",
      "WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d, " +
        "    CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS cents FROM orders GROUP BY 1), " +
        "rk AS (SELECT d, row_number() OVER (ORDER BY cents, d) AS r FROM daily), " +
        "pairs AS (SELECT a.r AS x, b.r AS y FROM rk a JOIN rk b ON b.d = a.d + INTERVAL 1 DAY), " +
        "m AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx, " +
        "    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy, " +
        "    CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy FROM pairs) " +
        "SELECT n, sx, sy, sxy, sxx, syy, " +
        "  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / " +
        "  sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * " +
        "       (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS rho1 " +
        "FROM m") { (s, dir) =>
      Tables.registerAll(s, dir)
      val daily = s.sql(
        "SELECT CAST(o_orderdate AS DATE) AS d, " +
          "CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS cents FROM orders GROUP BY 1")
      val rk = graft.operators.Prefix.withRunningSums(
        daily, "cents", Nil, idxCol = "r", tieCols = Seq("d"))
        .select(col("d"), col("r"))
      val nxt = rk.select(col("d").as("d2"), col("r").as("y"))
      val pairs = rk.join(nxt, date_add(col("d"), 1) === col("d2"))
        .select(col("r").as("x"), col("y"))
      val m = pairs.agg(count(lit(1)).cast("long").as("n"),
        sum("x").cast("long").as("sx"), sum("y").cast("long").as("sy"),
        sum(col("x") * col("y")).cast("long").as("sxy"),
        sum(col("x") * col("x")).cast("long").as("sxx"),
        sum(col("y") * col("y")).cast("long").as("syy"))
      val (nD, sxD, syD) = (col("n").cast("double"), col("sx").cast("double"), col("sy").cast("double"))
      val (sxyD, sxxD, syyD) = (col("sxy").cast("double"), col("sxx").cast("double"), col("syy").cast("double"))
      m.select(col("n"), col("sx"), col("sy"), col("sxy"), col("sxx"), col("syy"),
        ((nD * sxyD - sxD * syD) /
          sqrt((nD * sxxD - sxD * sxD) * (nD * syyD - syD * syD))).as("rho1"))
    },

    // Kendall τ-b between daily revenue and daily order count — the
    // robust rank-concordance twin of q_spearman (τ counts pairwise
    // inversions directly, so it needs no rank assignment at all).
    // Concordant/discordant/tied counts are exact BIGINTs off the
    // d1 < d2 day-pair relation; τ-b's sqrt is IEEE-correctly-rounded
    // (like q_rank_autocorr's), so the single double expression is
    // bit-identical cross-engine. Scale: the pair join is over the
    // DAILY aggregate — bounded by the calendar (~2.4k rows for 7
    // years), not by data volume, so the broadcast nested-loop pair
    // enumeration stays O(days²) ≈ 3M rows at ANY corpus size; the
    // products stay < 2^63 even at 100 TB daily-revenue magnitudes.
    dfq("q_kendall_tau",
      "WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d, " +
        "    CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS cents, " +
        "    CAST(count(*) AS BIGINT) AS n_ord FROM orders GROUP BY 1), " +
        "p AS (SELECT " +
        "    CASE WHEN (a.cents - b.cents) * (a.n_ord - b.n_ord) > 0 THEN 1 ELSE 0 END AS c, " +
        "    CASE WHEN (a.cents - b.cents) * (a.n_ord - b.n_ord) < 0 THEN 1 ELSE 0 END AS dd, " +
        "    CASE WHEN a.cents = b.cents THEN 1 ELSE 0 END AS tx, " +
        "    CASE WHEN a.n_ord = b.n_ord THEN 1 ELSE 0 END AS ty " +
        "  FROM daily a JOIN daily b ON a.d < b.d), " +
        "m AS (SELECT CAST(count(*) AS BIGINT) AS n0, CAST(sum(c) AS BIGINT) AS conc, " +
        "    CAST(sum(dd) AS BIGINT) AS disc, CAST(sum(tx) AS BIGINT) AS ties_x, " +
        "    CAST(sum(ty) AS BIGINT) AS ties_y FROM p) " +
        "SELECT n0, conc, disc, ties_x, ties_y, " +
        "  (CAST(conc AS DOUBLE) - CAST(disc AS DOUBLE)) / " +
        "  sqrt(CAST(n0 - ties_x AS DOUBLE) * CAST(n0 - ties_y AS DOUBLE)) AS tau_b " +
        "FROM m") { (s, dir) =>
      Tables.registerAll(s, dir)
      val daily = s.sql(
        "SELECT CAST(o_orderdate AS DATE) AS d, " +
          "CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS cents, " +
          "CAST(count(*) AS BIGINT) AS n_ord FROM orders GROUP BY 1")
      val b = daily.select(col("d").as("d2"), col("cents").as("c2"),
        col("n_ord").as("n2"))
      val prod = (col("cents") - col("c2")) * (col("n_ord") - col("n2"))
      daily.join(broadcast(b), col("d") < col("d2"))
        .agg(count(lit(1)).cast("long").as("n0"),
          sum(when(prod > 0, 1L).otherwise(0L)).cast("long").as("conc"),
          sum(when(prod < 0, 1L).otherwise(0L)).cast("long").as("disc"),
          sum(when(col("cents") === col("c2"), 1L).otherwise(0L)).cast("long").as("ties_x"),
          sum(when(col("n_ord") === col("n2"), 1L).otherwise(0L)).cast("long").as("ties_y"))
        .select(col("n0"), col("conc"), col("disc"), col("ties_x"), col("ties_y"),
          ((col("conc").cast("double") - col("disc").cast("double")) /
            sqrt((col("n0") - col("ties_x")).cast("double") *
              (col("n0") - col("ties_y")).cast("double"))).as("tau_b"))
    },

    // Randomized-response privatized count (Warner 1965) — the
    // privacy-preserving statistics readout a training-data pipeline
    // uses to publish sensitive label counts: each row reports its true
    // urgent-flag with probability 3/4 (md5 public coin, the
    // q_sample_det discipline) and the flipped value otherwise; the
    // debiased estimator 4·obs − n is carried ×2 so EVERY output stays
    // an exact BIGINT — no division, no rounding, nothing to diverge.
    // Scale: one map-side coin per row, one partial-agg sum; ε-style
    // noise amortizes exactly as at sf0.01.
    dfq("q_rr_private_count",
      "WITH b AS (SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y, " +
        "    CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR) || '|rr1'), 1, 4) < 'c000' " +
        "      THEN 1 ELSE 0 END AS keep FROM orders), " +
        "r AS (SELECT y, CASE WHEN keep = 1 THEN y ELSE 1 - y END AS rep FROM b), " +
        "m AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS true_pos, " +
        "    CAST(sum(rep) AS BIGINT) AS obs FROM r) " +
        "SELECT n, true_pos, obs, CAST(4 * obs - n AS BIGINT) AS est_x2, " +
        "  CAST(4 * obs - n - 2 * true_pos AS BIGINT) AS err_x2 FROM m") { (s, dir) =>
      val ords = Tables.load(s, dir, "orders")
      val y = when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)
      val keep = substring(
        md5(concat(col("o_orderkey").cast("string"), lit("|rr1"))), 1, 4) < "c000"
      ords.select(y.as("y"), when(keep, y).otherwise(lit(1L) - y).as("rep"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum("y").cast("long").as("true_pos"),
          sum("rep").cast("long").as("obs"))
        .select(col("n"), col("true_pos"), col("obs"),
          (lit(4L) * col("obs") - col("n")).cast("long").as("est_x2"),
          (lit(4L) * col("obs") - col("n") - lit(2L) * col("true_pos"))
            .cast("long").as("err_x2"))
    },

    // Day-of-week seasonality index: per-weekday revenue share vs the
    // uniform 1/7 — the demand-shape profile behind staffing/capacity.
    // Spark's dayofweek is 1-based (Sunday=1), DuckDB's 0-based; the
    // Spark text shifts by one so both engines emit the same dow key.
    // The Spark side CASTs rev to DOUBLE before the `* 7.0 / t` ratio:
    // Spark types decimal-literal arithmetic over BIGINT as DECIMAL
    // where DuckDB emits DOUBLE, and the driver hash fails on the
    // representation even with bit-identical values (r12 verdict).
    sql2("q_seasonal_index",
      "WITH d AS (SELECT dayofweek(CAST(o_orderdate AS DATE)) - 1 AS dow, " +
        "  CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders), " +
        "per AS (SELECT dow, CAST(sum(cents) AS BIGINT) AS rev, count(*) AS n FROM d GROUP BY dow), " +
        "tot AS (SELECT CAST(sum(rev) AS BIGINT) AS t FROM per) " +
        "SELECT CAST(dow AS INT) AS dow, CAST(n AS BIGINT) AS n_orders, rev AS rev_cents, " +
        "  round(CAST(rev AS DOUBLE) * 7.0 / tot.t, 6) AS seasonal_index FROM per CROSS JOIN tot ORDER BY dow",
      "WITH d AS (SELECT dayofweek(CAST(o_orderdate AS DATE)) AS dow, " +
        "  CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders), " +
        "per AS (SELECT dow, CAST(sum(cents) AS BIGINT) AS rev, count(*) AS n FROM d GROUP BY dow), " +
        "tot AS (SELECT CAST(sum(rev) AS BIGINT) AS t FROM per) " +
        "SELECT CAST(dow AS INT) AS dow, CAST(n AS BIGINT) AS n_orders, rev AS rev_cents, " +
        "  round(rev * 7.0 / tot.t, 6) AS seasonal_index FROM per CROSS JOIN tot ORDER BY dow"),

    // ---- Model/data-evaluation metrics (r13): the readouts a training
    // pipeline runs on every scored dataset — decile lift, drift (PSI),
    // ranking quality (AUC), and distribution separation (KS). All four
    // are EXACT (integer counts + deterministic double arithmetic) and
    // the rank-based ones ride the distributed prefix machinery, never a
    // partition-less window.

    // Gains/lift table of a repeat-buyer propensity score: score = spend
    // before the holdout cut, outcome = any order in the last 6 months.
    // Deciles by distributed percent-rank (Prefix; ties by customer).
    // The synthetic generator draws per-customer order rates i.i.d., so
    // spend barely predicts and lift hugs 1.0 — the HONEST readout for
    // homogeneous customers (like q_benford's rejection), while the
    // machinery (rank → decile → rate → lift vs base) is fully exercised.
    dfq("q_decile_lift",
      "WITH fh AS (SELECT o_custkey AS c, CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS spend " +
        "  FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '2001-02-01' GROUP BY 1), " +
        "conv AS (SELECT DISTINCT o_custkey AS c FROM orders " +
        "  WHERE CAST(o_orderdate AS DATE) >= DATE '2001-02-01'), " +
        "scored AS (SELECT fh.c, fh.spend, CASE WHEN conv.c IS NULL THEN 0 ELSE 1 END AS y, " +
        "    percent_rank() OVER (ORDER BY fh.spend, fh.c) AS pr " +
        "  FROM fh LEFT JOIN conv ON fh.c = conv.c), " +
        "dec AS (SELECT CAST(floor(least(pr, 0.999999) * 10) AS INT) AS decile, " +
        "    count(*) AS n, CAST(sum(y) AS BIGINT) AS n_conv FROM scored GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(n_conv) AS DOUBLE) / sum(n) AS base FROM dec) " +
        "SELECT decile, CAST(n AS BIGINT) AS n, n_conv, " +
        "  round(CAST(n_conv AS DOUBLE) / n, 6) AS rate, " +
        "  round(CAST(n_conv AS DOUBLE) / n / tot.base, 6) AS lift " +
        "FROM dec CROSS JOIN tot ORDER BY decile") { (s, dir) =>
      Tables.registerAll(s, dir)
      val fh = s.sql(
        "SELECT o_custkey AS c, CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS spend " +
          "FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '2001-02-01' GROUP BY 1")
      val conv = s.sql(
        "SELECT DISTINCT o_custkey AS c FROM orders " +
          "WHERE CAST(o_orderdate AS DATE) >= DATE '2001-02-01'")
        .withColumn("y1", lit(1L))
      val scored = fh.join(conv, Seq("c"), "left")
        .withColumn("y", coalesce(col("y1"), lit(0L))).drop("y1")
      // percent_rank denominator rides the prefix pass's own partition
      // totals (totalCountCol) — no separate count() action re-running
      // the filter+join for one scalar (r13 advice #3).
      val dec = graft.operators.Prefix.withRunningSums(
          scored, "spend", Nil, idxCol = "_r", tieCols = Seq("c"),
          totalCountCol = "_n_total")
        .withColumn("pr",
          (col("_r") - 1).cast("double") / (col("_n_total") - 1).cast("double"))
        .groupBy(floor(least(col("pr"), lit(0.999999)) * 10).cast("int").as("decile"))
        .agg(count(lit(1)).cast("long").as("n"), sum(col("y")).cast("long").as("n_conv"))
      val base = dec.agg(
        (sum(col("n_conv")).cast("double") / sum(col("n"))).as("base"))
      dec.crossJoin(broadcast(base))
        .select(col("decile"), col("n"), col("n_conv"),
          round(col("n_conv").cast("double") / col("n"), 6).as("rate"),
          round(col("n_conv").cast("double") / col("n") / col("base"), 6).as("lift"))
        .orderBy("decile")
    },

    // Population Stability Index between the serving window (last 6
    // months) and everything before it, over 10 fixed-width price bins —
    // the standard train/serve drift monitor. The ε-floor (1e-6) guards
    // empty bins; identical double arithmetic both engines, 6-dp terms.
    // Stationary synthetic orders → PSI ≈ 0.001 ("no drift"), the
    // correct monitoring answer for this generator.
    sql("q_psi_drift",
      "WITH base AS (SELECT CASE WHEN CAST(o_orderdate AS DATE) < DATE '2001-02-01' " +
        "    THEN 'p' ELSE 'q' END AS period, " +
        "    least(CAST(floor(o_totalprice / 50000) AS INT), 9) AS bin FROM orders), " +
        "cnt AS (SELECT bin, count(*) FILTER (WHERE period = 'p') AS np, " +
        "    count(*) FILTER (WHERE period = 'q') AS nq FROM base GROUP BY bin), " +
        "tot AS (SELECT CAST(sum(np) AS DOUBLE) AS tp, CAST(sum(nq) AS DOUBLE) AS tq FROM cnt), " +
        "prop AS (SELECT bin, CAST(np AS BIGINT) AS np, CAST(nq AS BIGINT) AS nq, " +
        "    greatest(np / tot.tp, 0.000001) AS p, greatest(nq / tot.tq, 0.000001) AS q " +
        "  FROM cnt CROSS JOIN tot) " +
        "SELECT CAST(bin AS INT) AS bin, np, nq, round(p, 6) AS p, round(q, 6) AS q, " +
        "  round((p - q) * ln(p / q), 6) AS psi_term " +
        "FROM prop ORDER BY bin"),

    // AUC of the same propensity score by the exact Mann–Whitney
    // rank-sum with average-rank tie handling: per distinct score value
    // (nv, pv), average rank = cum-before + (nv+1)/2 from ONE
    // distributed prefix sum; AUC = (Σ pv·avgrank − n⁺(n⁺+1)/2)/(n⁺n⁻).
    // Integer-exact until the final division. AUC ≈ 0.5 on this
    // generator — consistent with q_decile_lift's flat table.
    dfq("q_auc_rank",
      "WITH fh AS (SELECT o_custkey AS c, CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS spend " +
        "  FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '2001-02-01' GROUP BY 1), " +
        "conv AS (SELECT DISTINCT o_custkey AS c FROM orders " +
        "  WHERE CAST(o_orderdate AS DATE) >= DATE '2001-02-01'), " +
        "scored AS (SELECT fh.spend, CASE WHEN conv.c IS NULL THEN 0 ELSE 1 END AS y " +
        "  FROM fh LEFT JOIN conv ON fh.c = conv.c), " +
        "byv AS (SELECT spend, count(*) AS nv, CAST(sum(y) AS BIGINT) AS pv " +
        "  FROM scored GROUP BY spend), " +
        "cum AS (SELECT spend, nv, pv, " +
        "    sum(nv) OVER (ORDER BY spend ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cnv " +
        "  FROM byv), " +
        "rs AS (SELECT CAST(sum(pv) AS DOUBLE) AS npos, " +
        "    CAST(sum(nv - pv) AS DOUBLE) AS nneg, " +
        "    sum(pv * (cnv - nv + (nv + 1) / 2.0)) AS ranksum FROM cum) " +
        "SELECT CAST(npos AS BIGINT) AS n_pos, CAST(nneg AS BIGINT) AS n_neg, " +
        "  round((ranksum - npos * (npos + 1) / 2.0) / (npos * nneg), 6) AS auc FROM rs") { (s, dir) =>
      Tables.registerAll(s, dir)
      val byv = s.sql(
        "WITH fh AS (SELECT o_custkey AS c, CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS spend " +
          "  FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '2001-02-01' GROUP BY 1), " +
          "conv AS (SELECT DISTINCT o_custkey AS c FROM orders " +
          "  WHERE CAST(o_orderdate AS DATE) >= DATE '2001-02-01'), " +
          "scored AS (SELECT fh.spend, CASE WHEN conv.c IS NULL THEN 0 ELSE 1 END AS y " +
          "  FROM fh LEFT JOIN conv ON fh.c = conv.c) " +
          "SELECT spend, CAST(count(*) AS BIGINT) AS nv, CAST(sum(y) AS BIGINT) AS pv " +
          "FROM scored GROUP BY spend")
      graft.operators.Prefix.withRunningSums(
          byv, "spend", Seq("nv" -> "cnv"), idxCol = "_i")
        .agg(sum(col("pv")).cast("double").as("npos"),
          sum(col("nv") - col("pv")).cast("double").as("nneg"),
          sum(col("pv") * (col("cnv") - col("nv") + (col("nv") + 1) / 2.0)).as("ranksum"))
        .select(col("npos").cast("long").as("n_pos"), col("nneg").cast("long").as("n_neg"),
          round((col("ranksum") - col("npos") * (col("npos") + 1) / 2.0) /
            (col("npos") * col("nneg")), 6).as("auc"))
    },

    // Two-sample Kolmogorov–Smirnov statistic between the same two order
    // populations, over exact cent values: per-value counts, ONE
    // distributed prefix sum per side, D = max |F_p − F_q| with the
    // smallest achieving value as the deterministic argmax. All
    // divisions are exact-operand doubles — both engines compare
    // identical numbers.
    dfq("q_ks_stat",
      "WITH v AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents, " +
        "    CASE WHEN CAST(o_orderdate AS DATE) < DATE '2001-02-01' THEN 1 ELSE 0 END AS isp " +
        "  FROM orders), " +
        "byv AS (SELECT cents, CAST(sum(isp) AS BIGINT) AS np, " +
        "    CAST(sum(1 - isp) AS BIGINT) AS nq FROM v GROUP BY cents), " +
        "tot AS (SELECT CAST(sum(np) AS DOUBLE) AS tp, CAST(sum(nq) AS DOUBLE) AS tq FROM byv), " +
        "cum AS (SELECT cents, " +
        "    sum(np) OVER (ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp, " +
        "    sum(nq) OVER (ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cq " +
        "  FROM byv), " +
        "d AS (SELECT cents, abs(cp / tot.tp - cq / tot.tq) AS dv FROM cum CROSS JOIN tot) " +
        "SELECT cents AS at_cents, round(dv, 6) AS ks_d FROM d " +
        "ORDER BY dv DESC, cents LIMIT 1") { (s, dir) =>
      Tables.registerAll(s, dir)
      val byv = s.sql(
        "WITH v AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents, " +
          "    CASE WHEN CAST(o_orderdate AS DATE) < DATE '2001-02-01' THEN 1 ELSE 0 END AS isp " +
          "  FROM orders) " +
          "SELECT cents, CAST(sum(isp) AS BIGINT) AS np, " +
          "  CAST(sum(1 - isp) AS BIGINT) AS nq FROM v GROUP BY cents")
      val tot = byv.agg(sum(col("np")).cast("double").as("tp"),
        sum(col("nq")).cast("double").as("tq"))
      graft.operators.Prefix.withRunningSums(
          byv, "cents", Seq("np" -> "cp", "nq" -> "cq"), idxCol = "_i")
        .crossJoin(broadcast(tot))
        .select(col("cents").as("at_cents"),
          abs(col("cp") / col("tp") - col("cq") / col("tq")).as("dv"))
        .orderBy(col("dv").desc, col("at_cents"))
        .limit(1)
        .select(col("at_cents"), round(col("dv"), 6).as("ks_d"))
    },

    // POINT-IN-TIME dimension join — the feature-store join that keeps
    // training features leakage-free: each order joins the customer's
    // spend TIER as of strictly BEFORE its own day (an SCD2 interval
    // table built from day-boundary cumulative spend: the exclusive
    // running sum means a day's own orders never contribute to the tier
    // they receive). Scale shape: the interval join is keyed on the
    // equi CUSTOMER key with the interval as a residual predicate — a
    // plain hash-join shuffle, never an interval cross product — and
    // the tier windows are customer-partitioned. Tiers genuinely move
    // ($500k width → 4 populated tiers at sf0.01), so an off-by-one-day
    // leak (using <= instead of <, or an inclusive running sum) changes
    // thousands of assignments and hash-fails.
    sql("q_pit_join",
      "WITH daily AS (SELECT o_custkey AS c, CAST(o_orderdate AS DATE) AS d, " +
        "    CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS cents FROM orders GROUP BY 1, 2), " +
        "cum AS (SELECT c, d, " +
        "    coalesce(sum(cents) OVER (PARTITION BY c ORDER BY d " +
        "      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before " +
        "  FROM daily), " +
        "scd AS (SELECT c, d AS valid_from, " +
        "    coalesce(lead(d) OVER (PARTITION BY c ORDER BY d), DATE '9999-12-31') AS valid_to, " +
        "    least(CAST(floor(cum_before / 50000000.0) AS INT), 3) AS tier FROM cum), " +
        "pit AS (SELECT s.tier, CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents " +
        "  FROM orders o JOIN scd s ON o.o_custkey = s.c " +
        "    AND CAST(o.o_orderdate AS DATE) >= s.valid_from " +
        "    AND CAST(o.o_orderdate AS DATE) < s.valid_to) " +
        "SELECT CAST(tier AS INT) AS tier, count(*) AS n, " +
        "  CAST(sum(cents) AS BIGINT) AS cents FROM pit GROUP BY tier ORDER BY tier"),

    // PIT-vs-AS-OF cross-proof (r13 verdict #8): the same point-in-time
    // question — each order's customer tier as of strictly before its
    // day — answered by BOTH join families: (a) the SCD2 interval join
    // (equi key + interval residual, as q_pit_join) and (b) the backward
    // as-of join against the tier table's effective dates
    // (Temporal.asofJoin: latest valid_from <= order day carries exactly
    // the interval containing the day). The entry emits both answers
    // side by side; the ORACLE computes the answer ONCE and expects both
    // pairs equal to it, so ANY divergence between the two operator
    // families hash-fails — two independently-tested joins now also
    // prove each other.
    dfq("q_pit_asof_consistency",
      "WITH daily AS (SELECT o_custkey AS c, CAST(o_orderdate AS DATE) AS d, " +
        "    CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS cents FROM orders GROUP BY 1, 2), " +
        "cum AS (SELECT c, d, " +
        "    coalesce(sum(cents) OVER (PARTITION BY c ORDER BY d " +
        "      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before " +
        "  FROM daily), " +
        "scd AS (SELECT c, d AS valid_from, " +
        "    coalesce(lead(d) OVER (PARTITION BY c ORDER BY d), DATE '9999-12-31') AS valid_to, " +
        "    least(CAST(floor(cum_before / 50000000.0) AS INT), 3) AS tier FROM cum), " +
        "pit AS (SELECT s.tier, CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents " +
        "  FROM orders o JOIN scd s ON o.o_custkey = s.c " +
        "    AND CAST(o.o_orderdate AS DATE) >= s.valid_from " +
        "    AND CAST(o.o_orderdate AS DATE) < s.valid_to), " +
        "agg AS (SELECT CAST(tier AS INT) AS tier, count(*) AS n, " +
        "  CAST(sum(cents) AS BIGINT) AS cents FROM pit GROUP BY tier) " +
        "SELECT tier, CAST(n AS BIGINT) AS n_pit, cents AS cents_pit, " +
        "  CAST(n AS BIGINT) AS n_asof, cents AS cents_asof " +
        "FROM agg ORDER BY tier") { (s, dir) =>
      Tables.registerAll(s, dir)
      val scd = s.sql(
        "WITH daily AS (SELECT o_custkey AS c, CAST(o_orderdate AS DATE) AS d, " +
          "    CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS cents FROM orders GROUP BY 1, 2), " +
          "cum AS (SELECT c, d, " +
          "    coalesce(sum(cents) OVER (PARTITION BY c ORDER BY d " +
          "      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before " +
          "  FROM daily) " +
          "SELECT c, d AS valid_from, " +
          "  coalesce(lead(d) OVER (PARTITION BY c ORDER BY d), DATE '9999-12-31') AS valid_to, " +
          "  least(CAST(floor(cum_before / 50000000.0) AS INT), 3) AS tier FROM cum")
      val ords = s.sql(
        "SELECT o_custkey AS c, CAST(o_orderdate AS DATE) AS d, " +
          "CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders")
      val pit = ords.as("o")
        .join(scd.as("s"), col("o.c") === col("s.c") &&
          col("o.d") >= col("s.valid_from") && col("o.d") < col("s.valid_to"))
        .groupBy(col("s.tier").cast("int").as("tier"))
        .agg(count(lit(1)).as("n_pit"), sum(col("o.cents")).cast("long").as("cents_pit"))
      val asof = graft.operators.Temporal.asofJoin(
          ords, scd.select(col("c"), col("valid_from").as("d"), col("tier")),
          "c", "d", Seq("tier"))
        .groupBy(col("tier").cast("int").as("tier"))
        .agg(count(lit(1)).as("n_asof"), sum(col("cents")).cast("long").as("cents_asof"))
      pit.join(asof, Seq("tier"), "full")
        .select(col("tier"), col("n_pit"), col("cents_pit"),
          col("n_asof"), col("cents_asof"))
        .orderBy("tier")
    },
  )

  /** Relational surface (§2.1–2.9). COMPASS + pipeline entries live in
    * [[CompassQueries]] and [[PipelineQueries]] and are appended in [[all]].
    */
  val relational: Seq[Entry] =
    sources ++ filters ++ joins ++ aggregates ++ sorts ++ scalars ++ advanced ++ advanced2

  def all: Seq[Entry] =
    relational ++ AnalyticsQueries.entries ++ CompassQueries.entries ++
      PipelineQueries.entries ++ JobEntries.entries ++ StreamQueries.entries

  def queryMap: Map[String, QueryFn] = all.map(e => e.name -> e.run).toMap
  def oracleMap: Map[String, String] =
    all.flatMap(e => e.oracle.map(e.name -> _)).toMap
}
