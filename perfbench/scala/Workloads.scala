package perfbench

import graft.engine.GraftSession
import graft.job.JobCorpus
import graft.planner.{CompassSession, SketchTemplateCache}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Every per-layer metric the benchmark reports, in one place, so each
  * workload prints the full set (0 where it does not reach the layer).
  */
object Layers {
  val CurationSteps: Seq[String] = Seq("curatedDocuments", "dedupGroups",
    "similarityJoinExact", "repeatedSpans", "surprisalScores", "semDedup", "topK", "quantizedTopK", "learnBpeMerges",
    "retention", "writeShards")

  private val listenerNames = Seq("jobs", "tasks", "executor_cpu_s", "gc_s",
    "input_records", "input_mb", "shuffle_write_mb", "spill_mb")

  def zeros: mutable.LinkedHashMap[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    Seq("catalyst.analyze_ms", "planner.optimize_ms", "planner.compass_ratio",
      "sketch.build_ms", "enumerate.ms", "sketch.template_hit_ratio",
      "sketch.filtered_builds", "spark.plan_ms", "spark.exec_ms",
      "spark.join_rows", "client.other_ms", "trace.accounted_ratio")
      .foreach(m(_) = 0.0)
    listenerNames.foreach(n => m(s"spark.$n") = 0.0)
    listenerNames.foreach(n => m(s"sketch.$n") = 0.0)
    CurationSteps.foreach { s => m(s"operators.${s}_ms") = 0.0; m(s"operators.${s}_shuffle_mb") = 0.0 }
    m
  }

  /** Listener sums for one layer, per traced pass. */
  def listener(m: mutable.Map[String, Double], prefix: String,
      s: Option[Counters#Sums], passes: Int): Unit = s.foreach { s =>
    m(s"$prefix.jobs") = s.jobs.toDouble / passes
    m(s"$prefix.tasks") = s.tasks.toDouble / passes
    m(s"$prefix.executor_cpu_s") = s.cpuNs / 1e9 / passes
    m(s"$prefix.gc_s") = s.gcMs / 1e3 / passes
    m(s"$prefix.input_records") = s.inRecords.toDouble / passes
    m(s"$prefix.input_mb") = s.inBytes / 1048576.0 / passes
    m(s"$prefix.shuffle_write_mb") = s.shuffleWrite / 1048576.0 / passes
    m(s"$prefix.spill_mb") = s.spill / 1048576.0 / passes
  }

  /** Maps a job's start time to the layer of the span open at that moment. */
  def windowKey(spans: Seq[Span], layerOf: Span => Option[String]): Long => Option[String] = {
    val ws = spans.flatMap(s => layerOf(s).map(k => (s.startMs, s.endMs, k))).sortBy(_._1).toArray
    val starts = ws.map(_._1)
    t => {
      var i = java.util.Arrays.binarySearch(starts, t)
      if (i < 0) i = -i - 2
      // Leaf windows of one client thread do not overlap; on a shared
      // millisecond boundary the later window wins.
      while (i + 1 < ws.length && ws(i + 1)._1 <= t) i += 1
      if (i >= 0 && t <= ws(i)._2) Some(ws(i)._3) else None
    }
  }
}

/** The JOB corpus through COMPASS (optionally with a cold template cache)
  * or through plain `spark.sql`.
  */
final class Job(spark: SparkSession, a: Main.Args, compass: Boolean,
    cold: Boolean) extends Workload {
  private var dataDir: String = _
  private var cacheDir: Path = _
  private val text: Map[String, String] = JobCorpus.queries.toMap
  // One query per JOB family (the repository's representative subset),
  // every fourth family left out to keep a run near one minute.
  private val names: Seq[String] = JobCorpus.compassSubset
    .filter(_.takeWhile(_.isDigit).toInt % 4 != 0)

  private var cs: CompassSession = _
  private var cache: SketchTemplateCache = _
  private var req = 0
  // Traced-pass accumulators.
  private var attempted = 0L
  private var viaCompass = 0L
  private var templateHits = 0L
  private var templateMisses = 0L
  private var filteredBuilds = 0L
  private var joinRows = 0L

  def prepare(dir: Path): Map[String, Double] = {
    dataDir = dir.resolve("imdb").toString
    cacheDir = dir.resolve("sketch-cache")
    val steps = mutable.LinkedHashMap.empty[String, Double]
    // The synthetic IMDb at x1 from the repository's generator, one parquet
    // file per table: the layout `JobCorpus.duckOracleSqlFor` reads.
    timed(steps, "generate_s") {
      JobCorpus.generators(spark, 1).foreach { case (name, df) =>
        df.coalesce(1).write.mode("overwrite").parquet(s"$dataDir/$name.parquet")
      }
    }
    timed(steps, "register_s") {
      JobCorpus.tableNames.foreach { t =>
        spark.read.parquet(s"$dataDir/$t.parquet").createOrReplaceTempView(t)
      }
    }
    // The reference's PRE_PROCESSING step: build every unfiltered template
    // before the workload. The cold workload skips it; its passes build
    // templates online.
    if (compass && !cold) timed(steps, "templates_s") {
      val warm = new CompassSession(spark, templateCache = Some(new SketchTemplateCache(cacheDir)))
      warm.warmTemplates(names.map(n => spark.sql(text(n))))
      warm.close()
    }
    steps.toMap
  }

  /** A fresh COMPASS session per pass: empty filtered-sketch memo and disk
    * tier, and for the cold workload an empty template directory too.
    */
  private def freshCompass(): Unit = {
    if (cs != null) cs.close()
    if (cold) Workload.deleteTree(cacheDir)
    else if (Files.exists(cacheDir)) {
      val s = Files.list(cacheDir)
      try s.iterator.asScala.filter(_.getFileName.toString.startsWith("filtered-"))
        .foreach(Files.delete(_))
      finally s.close()
    }
    cache = new SketchTemplateCache(cacheDir)
    cs = new CompassSession(spark, templateCache = Some(cache))
  }

  def pass(i: Int, t: Tracer): Seq[Main.Outcome] = {
    if (compass) freshCompass()
    val order = new scala.util.Random(a.seed * 1000003L + i).shuffle(names)
    val (h0, m0) = if (compass) (cache.hits, cache.misses) else (0L, 0L)
    val out = order.map(n => one(i, n, t))
    if (t.on && compass) {
      templateHits += cache.hits - h0
      templateMisses += cache.misses - m0
      val s = Files.list(cacheDir)
      try filteredBuilds += s.iterator.asScala.count(_.getFileName.toString.startsWith("filtered-"))
      finally s.close()
    }
    out
  }

  private def one(pass: Int, name: String, t: Tracer): Main.Outcome = {
    req += 1
    val r = req
    val session = cs
    val scope = if (compass) session.newScope() else null
    var took = false
    val t0 = System.nanoTime()
    val result: Either[String, Any] = try {
      t.span(r, "query") {
        val df = t.span(r, "analyze")(spark.sql(text(name)))
        val run = if (compass) {
          val o = t.span(r, "optimize")(scope.optimize(df))
          scope.lastPlan.foreach { p =>
            took = true
            if (t.on) {
              val os = t.last
              t.published(os, "enumerate", p.enumerateMillis,
                t.published(os, "sketch", p.sketchBuildMillis, 0L))
            }
          }
          o
        } else df
        t.span(r, "plan")(run.queryExecution.executedPlan)
        val rows = t.span(r, "exec")(run.collect())
        t.instrument { joinRows += Main.joinRows(run.queryExecution.executedPlan) }
        Right(rows.head.getLong(0))
      }
    } catch { case NonFatal(e) => Left(e.toString) }
    finally if (compass) session.dropScope(scope)
    val lat = System.nanoTime() - t0
    if (t.on) { attempted += 1; if (took) viaCompass += 1 }
    Main.Outcome(pass, name, lat, result, took)
  }

  def reference: Map[String, Any] = Map(
    "job_oracle_sql" -> JobCorpus.duckOracleSqlFor(names, dataDir))

  def layerMetrics(t: Tracer, c: Counters, passes: Int): Map[String, Double] = {
    val m = Layers.zeros
    val self = t.selfNs.withDefaultValue(0L)
    def ms(n: String) = self(n) / 1e6 / passes
    m("catalyst.analyze_ms") = ms("analyze")
    m("planner.optimize_ms") = ms("optimize")
    m("sketch.build_ms") = ms("sketch")
    m("enumerate.ms") = ms("enumerate")
    m("spark.plan_ms") = ms("plan")
    m("spark.exec_ms") = ms("exec")
    m("client.other_ms") = ms("query")
    val layerSelf = Seq("analyze", "optimize", "sketch", "enumerate", "plan", "exec").map(self).sum
    val queryWall = t.spans.filter(_.name == "query").map(_.durNs).sum
    m("trace.accounted_ratio") = if (queryWall > 0) layerSelf.toDouble / queryWall else 0.0
    m("planner.compass_ratio") = if (attempted > 0) viaCompass.toDouble / attempted else 0.0
    m("sketch.template_hit_ratio") =
      if (templateHits + templateMisses > 0) templateHits.toDouble / (templateHits + templateMisses) else 0.0
    m("sketch.filtered_builds") = filteredBuilds.toDouble / passes
    m("spark.join_rows") = joinRows.toDouble / passes
    // Sketch jobs are the only jobs that start inside optimize().
    val sums = c.attribute(Layers.windowKey(t.spans.toSeq, s => s.name match {
      case "optimize" => Some("sketch")
      case "analyze" | "plan" | "exec" => Some("spark")
      case _ => None
    }))
    Layers.listener(m, "spark", sums.get("spark"), passes)
    Layers.listener(m, "sketch", sums.get("sketch"), passes)
    m.toMap
  }
}

/** A fixed chain of `GraftSession` pipeline calls, each collected, on the
  * repository's sf0.01 test data (500 documents, 500 embeddings, 10,000
  * events), a copy of which the benchmark carries under `data/`.
  */
final class Curation(spark: SparkSession, a: Main.Args) extends Workload {
  private val dataDir = sys.props("perfbench.data")
  private var shardDir: Path = _
  private var queryIds: Seq[Long] = _
  private var gs: GraftSession = _
  private var req = 0

  private def steps(pass: Int): Seq[(String, () => DataFrame)] = Seq(
    "curatedDocuments" -> (() => gs.curatedDocuments()),
    "dedupGroups" -> (() => gs.dedupGroups()),
    "similarityJoinExact" -> (() => gs.similarityJoinExact()),
    "repeatedSpans" -> (() => gs.repeatedSpans()),
    "surprisalScores" -> (() => gs.surprisalScores()),
    // The threshold of the repository's semDedup oracle, at which this
    // corpus has real drops.
    "semDedup" -> (() => gs.semDedup(threshold = 0.45)),
    "topK" -> (() => gs.topK(queryIds)),
    "quantizedTopK" -> (() => gs.quantizedTopK(queryIds)),
    "learnBpeMerges" -> (() => gs.learnBpeMerges(rounds = 3)),
    "retention" -> (() => gs.retention()),
    "writeShards" -> (() => gs.writeShards(shardDir.resolve(s"pass$pass").toString, 1000L)))

  /** Steps checked against one of the repository's DuckDB oracles, with the
    * oracle entry and the columns compared. The parameters of each step
    * above are the oracle entry's.
    */
  private val oracles: Map[String, (String, Seq[String])] = Map(
    "dedupGroups" -> ("q_dedup_components", Seq("doc_id", "keep_id")),
    "similarityJoinExact" -> ("q_simjoin_prefix", Seq("d1", "d2", "inter", "uni")),
    "repeatedSpans" -> ("q_span_repeated", Seq("span", "n_docs", "n_occ")),
    "surprisalScores" -> ("q_lm_score", Seq("doc_id", "n_tokens", "sum_microbits")),
    "semDedup" -> ("q_semdedup", Seq("vec_id", "centroid_id", "kept")),
    "topK" -> ("q_ann_exact", Seq("query_id", "cos")),
    "learnBpeMerges" -> ("q_bpe_merges", Seq("round", "left", "right", "n")),
    "retention" -> ("q_event_retention", Seq("cohort_week", "week_offset", "n_users")),
    "writeShards" -> ("q_write_shards", Seq("shard", "n_docs", "n_tokens")))

  def prepare(dir: Path): Map[String, Double] = {
    shardDir = dir.resolve("shards")
    val steps = mutable.LinkedHashMap.empty[String, Double]
    timed(steps, "register_s") { gs = new GraftSession(spark, dataDir) }
    val ids = gs.table("embeddings").select("vec_id").collect().map(_.getLong(0)).sorted
    queryIds = new scala.util.Random(a.seed).shuffle(ids.toSeq).take(5).sorted
    steps.toMap
  }

  def pass(i: Int, t: Tracer): Seq[Main.Outcome] = {
    // Every pass starts without the operator caches the previous one left.
    gs.releaseCaches()
    steps(i).map { case (name, call) => one(i, name, call, t) }
  }

  private def one(i: Int, name: String, call: () => DataFrame, t: Tracer): Main.Outcome = {
    req += 1
    val r = req
    val t0 = System.nanoTime()
    val result: Either[String, Any] = try {
      t.span(r, name) {
        val df = t.span(r, "build")(call())
        val rows = t.span(r, "exec")(df.collect())
        Right(summary(name, rows))
      }
    } catch { case NonFatal(e) => Left(e.toString) }
    Main.Outcome(i, name, System.nanoTime() - t0, result, compass = false)
  }

  /** Row count and an order-independent content hash, plus the compared
    * columns of every row for the steps with a DuckDB oracle.
    */
  private def summary(name: String, rows: Array[Row]): Map[String, Any] = {
    def str(v: Any): String = v match {
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case s: scala.collection.Seq[_] => s.map(str).mkString("[", ",", "]")
      case r: Row => r.toSeq.map(str).mkString("(", ",", ")")
      case other => String.valueOf(other)
    }
    val hash = rows.map(r => scala.util.hashing.MurmurHash3.stringHash(str(r)) & 0xffffffffL).sum
    val base = Map[String, Any]("rows" -> rows.length, "hash" -> hash.toString)
    oracles.get(name).fold(base) { case (_, cols) =>
      base + ("cells" -> rows.map(r => cols.map(r.getAs[Any])).toSeq)
    }
  }

  def reference: Map[String, Any] = Map(
    "curation_dir" -> dataDir, "query_ids" -> queryIds,
    "oracles" -> oracles.map { case (step, (entry, cols)) =>
      val sql = graft.SparkEntry.oracleSql(entry)
      step -> Map("entry" -> entry, "columns" -> cols,
        "sql" -> (if (step == "topK") topKSql(sql) else sql))
    })

  /** The exact top-k oracle, for this run's query ids instead of ids 0-9. */
  private def topKSql(sql: String): String = {
    val fixed = "q.vec_id < 10"
    require(sql.contains(fixed), s"q_ann_exact no longer selects its queries by '$fixed'")
    sql.replace(fixed, s"q.vec_id IN (${queryIds.mkString(", ")})")
  }

  def layerMetrics(t: Tracer, c: Counters, passes: Int): Map[String, Double] = {
    val m = Layers.zeros
    val stepOf = Layers.CurationSteps.toSet
    Layers.CurationSteps.foreach { s =>
      m(s"operators.${s}_ms") = t.spans.filter(_.name == s).map(_.durNs).sum / 1e6 / passes
    }
    m("spark.exec_ms") = t.selfNs.getOrElse("exec", 0L) / 1e6 / passes
    val sums = c.attribute(Layers.windowKey(t.spans.toSeq,
      s => if (stepOf(s.name)) Some(s.name) else None))
    Layers.CurationSteps.foreach { s =>
      m(s"operators.${s}_shuffle_mb") = sums.get(s).map(_.shuffleWrite / 1048576.0 / passes).getOrElse(0.0)
    }
    val all = new c.Sums
    sums.values.foreach { s =>
      all.jobs += s.jobs; all.tasks += s.tasks; all.cpuNs += s.cpuNs; all.gcMs += s.gcMs
      all.inRecords += s.inRecords; all.inBytes += s.inBytes
      all.shuffleWrite += s.shuffleWrite; all.spill += s.spill
    }
    Layers.listener(m, "spark", Some(all), passes)
    val stepWall = t.spans.filter(s => stepOf(s.name)).map(_.durNs).sum
    val layerSelf = Seq("build", "exec").map(t.selfNs.getOrElse(_, 0L)).sum
    m("trace.accounted_ratio") = if (stepWall > 0) layerSelf.toDouble / stepWall else 0.0
    m.toMap
  }
}
