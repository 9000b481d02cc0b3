package graft.planner

import graft.Work
import graft.enumerate.{Enumerator, GraphNode}
import graft.plans.{ExtractedJoinGraph, JoinGraphExtractor}
import graft.sketch.{ColumnSeeds, SeedRegistry, SketchGroup, Xi}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Chosen join order plus the per-step size estimates, for EXPLAIN-style
  * introspection (mirrors the reference's stdout traces,
  * mapd-core/QueryEngine/RelAlgExecutor.cpp:2573-2600).
  */
final case class CompassPlan(
    order: Seq[String],
    intermediateEstimates: Seq[Double],
    sketchCounts: Map[String, Long],
    sketchBuildMillis: Long = 0,
    enumerateMillis: Long = 0,
    keptRows: Map[String, Long] = Map.empty,
    reusedRows: Set[String] = Set.empty) {

  /** Human-readable trace mirroring the reference's stdout ("optimal
    * plan: ... intermediate join size estimation of: ..."). Kept rows an
    * earlier query of the run built are marked "(reused)".
    */
  def explainString: String = {
    val steps = order.indices.drop(1).dropRight(1).map { k =>
      val prefix = order.take(k + 1).mkString(" <> ")
      val est = intermediateEstimates.lift(k - 1).getOrElse(Double.NaN)
      f"  intermediate estimate of $prefix = $est%.1f"
    }
    (s"COMPASS plan: ${order.mkString(" -> ")}" +:
      s"  surviving rows: ${order.map(t => s"$t=${sketchCounts.getOrElse(t, -1L)}").mkString(", ")}" +:
      s"  planning: sketch build ${sketchBuildMillis}ms, enumeration ${enumerateMillis}ms" +:
      s"  served from kept rows: ${if (keptRows.isEmpty) "none" else
        order.filter(keptRows.contains).map(t =>
          s"$t=${keptRows(t)}${if (reusedRows(t)) " (reused)" else ""}").mkString(", ")}" +:
      steps).mkString("\n")
  }
}

/** COMPASS for Spark: sketch-based join-order optimization as a driver-side
  * pre-planning phase.
  *
  * The reference executes per-table filters DURING optimization and builds
  * Fast-AGMS sketches on the survivors, then enumerates join orders by
  * sketch-estimated intermediate sizes (reference:
  * mapd-core/QueryEngine/FilterPushDownSketch.cpp:1376-1577). Catalyst
  * rules must stay pure, so the same idea lives here as a wrapper that runs
  * BEFORE optimization (SURVEY §4 "key architectural consequence"):
  *
  *  1. analyze the query → extract join graph + per-instance filters
  *     ([[JoinGraphExtractor]]);
  *  2. launch one small Spark job per instance ([[CompassSession.buildSketch]]):
  *     the filtered scan, projected to the attributes the plan needs,
  *     returns its surviving rows (a partition over its share of
  *     [[CompassSession.BroadcastRowLimit]] returns its sketch instead),
  *     and the driver sketches them — one job, no exchange. A filtered
  *     instance's survivors are also kept for the rest of the run: a
  *     later query whose instance the sketch store serves reuses them
  *     instead of scanning again;
  *  3. enumerate join orders driver-locally over the sketch planes
  *     ([[Enumerator]] — microseconds);
  *  4. splice a reordered left-deep Inner-join tree into the analyzed plan
  *     — an instance whose rows came back, or were kept by an earlier
  *     query, is a [[KeptRows]] leaf over those rows, the reference's
  *     push-down result kept as the hash-join build side; a broadcast of
  *     it runs no Spark job ([[KeptRowsStrategy]]) — and hand it to
  *     vanilla Spark execution (Catalyst still does pushdown/pruning/
  *     codegen; AQE still handles skew).
  *
  * Scale note: at 100 TB the sketch jobs are the only extra cost — each is
  * a projection-pruned scan whose driver ingress is at most
  * `BroadcastRowLimit` rows or one ~600 KB/column sketch per partition,
  * and the template cache ([[SketchTemplateCache]]) serves unfiltered
  * tables without any scan at all. Joins the optimizer cannot improve
  * (non-inner, no equi-edges, <3 tables) fall through untouched.
  *
  * Sketch dimensions and size thresholds are fixed, as the reference
  * fixes them in one init file — see the constants on the companion.
  *
  * Concurrency contract: interleaved queries on one session share two
  * mutable stores, both safe for concurrent use: the sketch store, which
  * builds each key once, and the kept survivors, which the session holds
  * until [[releaseKeptRows]] or [[close]] (within `spark.driver.maxResultSize`
  * bytes in all). A frame keeps the rows its plan reads, so a release or a
  * later optimize() leaves it runnable. Each in-flight query
  * stream takes its own [[QueryScope]] (`newScope()`) only to read its own
  * `lastPlan`; the session's own optimize()/sql() and `lastPlan` use a
  * default scope (the one-query-at-a-time convenience surface). The sketch
  * jobs inside a single optimize() are themselves parallel.
  */
final class CompassSession private[graft] (
    val spark: SparkSession,
    templateCache: Option[SketchTemplateCache],
    keptBound: Long) {
  import CompassSession.{BroadcastRowLimit, MinTableSize, SketchBuckets, SketchRows}

  /** Kept survivors are bounded by the driver-ingress bound Spark already
    * enforces, `spark.driver.maxResultSize` (0: unbounded).
    */
  def this(spark: SparkSession, templateCache: Option[SketchTemplateCache] = None) =
    this(spark, templateCache, spark.sparkContext.getConf
      .getSizeAsBytes("spark.driver.maxResultSize", "1g"))

  // Config contract: Catalyst must not re-reorder the spliced spine.
  // Two logical rules could override the enumerator's choice —
  // CostBasedJoinReorder (spark.sql.cbo.joinReorder.enabled) and the
  // star-schema heuristic inside ReorderJoin
  // (spark.sql.cbo.starSchemaDetection). Both default to false;
  // pinning them here makes the contract hold even on a session where a
  // user enabled them. Plain ReorderJoin preserves a spine whose every
  // join carries a condition (it only pulls conditioned joins ahead of
  // condition-less ones), and AQE's re-optimizer rule list contains no
  // join reordering — both facts are executed-plan-asserted by
  // CompassOrderGuardSpec, including the deliberate-Cross disconnected
  // shape.
  spark.conf.set("spark.sql.cbo.joinReorder.enabled", "false")
  spark.conf.set("spark.sql.cbo.starSchemaDetection", "false")
  // A kept-rows leaf plans only through this strategy.
  KeptRowsStrategy.setup(spark)

  /** Every sketch this session reuses: the caller's store, or a
    * memory-only one (same lookup, no disk I/O).
    */
  private val store = templateCache.getOrElse(SketchTemplateCache.inMemory())

  /** Filtered instances' kept survivors, keyed by [[InstanceSketch.keptKey]],
    * and their total `UnsafeRow` bytes: a set is admitted only while the
    * total stays within `keptBound`.
    */
  private val keptMemo = scala.collection.mutable.HashMap.empty[String, KeptRowSet]
  private var keptBytes = 0L

  private def admit(key: String, rows: KeptRowSet): Unit = keptMemo.synchronized {
    if (!keptMemo.contains(key) && (keptBound <= 0 || keptBytes + rows.bytes <= keptBound)) {
      keptMemo(key) = rows
      keptBytes += rows.bytes
    }
  }

  private def keptRowsFor(key: String): Option[KeptRowSet] =
    keptMemo.synchronized(keptMemo.get(key))

  /** Forget the kept survivors; frames already returned keep theirs. */
  def releaseKeptRows(): Unit = keptMemo.synchronized { keptMemo.clear(); keptBytes = 0L }

  /** `\fpd`-style toggle (reference: mapd-core/SQLFrontend/mapdql.cpp:1313). */
  @volatile var fpdEnabled: Boolean = true

  /** One in-flight query stream's handle: it holds that stream's own
    * `lastPlan`. A scope pins nothing — kept survivors belong to the
    * session and to the frames that read them, not to the scope.
    */
  final class QueryScope private[CompassSession] () {
    /** This scope's own last COMPASS plan — safe to read under
      * concurrent scopes (each in-flight query stream sees exactly its
      * own trace).
      */
    @volatile var lastPlan: Option[CompassPlan] = None

    def optimize(df: DataFrame): DataFrame =
      CompassSession.this.optimizeIn(this, df)

    def sql(text: String): DataFrame = optimize(spark.sql(text))
  }

  /** A fresh scope — one per concurrently in-flight query stream. */
  def newScope(): QueryScope = new QueryScope

  /** End a scope: forget its trace. Scopes hold no other state. */
  def dropScope(s: QueryScope): Unit = s.lastPlan = None

  private val defaultScope = newScope()

  /** The default scope's last COMPASS plan: what the session's own
    * optimize()/sql() produced. Read it right after that call; streams
    * running in their own scopes read `scope.lastPlan`.
    */
  def lastPlan: Option[CompassPlan] = defaultScope.lastPlan

  /** Drop the kept survivors and the store's memory memo; its disk tier
    * stays warm.
    */
  def close(): Unit = { releaseKeptRows(); store.release() }

  def sql(text: String): DataFrame = optimize(spark.sql(text))

  /** Reorder the query's inner-join region by sketch estimates; returns the
    * input unchanged when the shape is not optimizable. Runs in the
    * session's default scope — interleaved callers use [[newScope]].
    */
  def optimize(df: DataFrame): DataFrame = optimizeIn(defaultScope, df)

  /** A/B introspection support (r13 verdict #5): extract the query's
    * join graph and build ONE sketch set for it, returning the raw
    * (graph, nodes, edges) so a harness can construct Enumerators under
    * several estimator modes over the SAME nodes — isolating the
    * estimator as the only variable. The sketch groups are driver-local
    * arrays, independent of any query.
    */
  private[graft] def sketchGraph(df: DataFrame): (ExtractedJoinGraph,
      IndexedSeq[GraphNode], Seq[((Int, String), (Int, String))]) = {
    val analyzed = df.queryExecution.analyzed
    val (g, _) = JoinGraphExtractor.extract(analyzed)
      .getOrElse(sys.error("sketchGraph: not an optimizable join region"))
    (g, buildSketches(g, AttributeSet.empty, 0L).map(_._1), enumeratorEdges(g))
  }

  private def optimizeIn(scope: QueryScope, df: DataFrame): DataFrame = {
    // Clear first: with fpd off, the previous query's plan must not
    // stand in for this one's.
    scope.lastPlan = None
    if (!fpdEnabled) return df
    try {
      val analyzed = df.queryExecution.analyzed
      JoinGraphExtractor.extract(analyzed) match {
        case Some((g, rebuild)) if g.instances.size >= 3 =>
          // Timing mirrors the reference's per-phase instrumentation
          // (FilterPushDownSketch.cpp:1564-1569, RelAlgExecutor.cpp:2628).
          val t0 = System.nanoTime()
          // What each kept instance must carry: its join columns, and what
          // the residual conjuncts and the plan around the region read.
          val needed = CompassSession.readAround(g, rebuild) ++
            AttributeSet(g.residual.flatMap(_.references))
          val built = buildSketches(g, needed, BroadcastRowLimit)
          val nodes = built.map(_._1)
          val kept = built.flatMap { case (n, k) => k.map(n.id -> _.leaf) }.toMap
          val reused = built.collect { case (n, Some(k)) if k.reused => n.id }.toSet
          val t1 = System.nanoTime()
          val en = new Enumerator(nodes, enumeratorEdges(g))
          val (order, _) = en.optimalOrder()
          val t2 = System.nanoTime()
          // Splice FIRST, then publish lastPlan: if the splice throws, the
          // catch below returns the vanilla plan, and a pre-assigned
          // lastPlan would advertise a COMPASS plan that never ran
          // (OptimizerQuality.compare trusts lastPlan to mean "took the
          // COMPASS path").
          val spliced = Bridge.ofRows(spark, rebuild(rebuildRegion(g, order, nodes, kept)))
          // Estimates here are introspection only — a failure (e.g. a
          // multi-way prefix with a fully disconnected member under the
          // fallback order) must not knock the query off the COMPASS path.
          val published = CompassPlan(
            order.map(i => g.instances(i).name),
            order.indices.drop(1).dropRight(1).map(k =>
              scala.util.Try(en.estimate(order.take(k + 1))).getOrElse(Double.NaN)),
            nodes.map(n => g.instances(n.id).name -> n.sketch.count).toMap,
            sketchBuildMillis = (t1 - t0) / 1000000,
            enumerateMillis = (t2 - t1) / 1000000,
            // A kept instance's rows are exactly the ones its sketch counted.
            keptRows = nodes.filter(n => kept.contains(n.id))
              .map(n => g.instances(n.id).name -> n.sketch.count).toMap,
            reusedRows = reused.map(g.instances(_).name))
          scope.lastPlan = Some(published)
          spliced
        case _ => df
      }
    } catch {
      // An optimizer must never break a runnable query: any failure in
      // extraction, sketch jobs, or splicing falls back to the vanilla
      // plan (the reference likewise guards the push-down pass and
      // reverts on failure, FilterPushDownSketch.cpp:273-284).
      // The fallback is recorded into the open Work scope (none: dropped).
      case scala.util.control.NonFatal(e) =>
        val reason = Option(e.getMessage).flatMap(_.linesIterator.nextOption()).getOrElse("")
        Work.record(r => r.copy(compassFallbacks =
          r.compassFallbacks :+ CompassSession.Fallback(e.getClass.getName, reason.take(200))))
        df
    }
  }

  /** PRE_PROCESSING analogue (reference: `PRE_PROCESSING`,
    * Catalog/COMPASS_init_variables.txt:6 — pre-build ALL unfiltered
    * (table × join-column-set) sketch templates before the workload runs):
    * extract each representative query's join graph and build and store the
    * template for every unfiltered instance, so the first live query pays
    * zero template builds (`templateCache.misses == 0`, spec-asserted).
    *
    * Passing workload QUERIES (not (table, columns) tuples) guarantees the
    * cache keys — resolved data identity, join-column order, seed classes —
    * are constructed by exactly the machinery the live path uses. Filtered
    * instances are skipped: templates only ever serve unfiltered scans.
    * The workload's distinct templates are built as one concurrent batch.
    * Returns the number of distinct templates now warm.
    */
  def warmTemplates(workload: Seq[DataFrame]): Int = {
    val templates = workload.flatMap { df =>
      JoinGraphExtractor.extract(df.queryExecution.analyzed).toSeq.flatMap { case (g, _) =>
        resolve(g, AttributeSet.empty).filterNot(_.hasFilter).flatMap(i => i.templateKey.map(_ -> i))
      }
    }.distinctBy(_._1.file)
    CompassSession.awaitAll(templates.toIndexedSeq.map { case (k, i) =>
      () => store.getOrBuild(k)(i.build(0L).sketch) }).size
  }

  /** Column label: plain name — unique within a base-table instance, and
    * STABLE across queries (no exprIds), so seed equivalence classes and
    * template-cache keys agree between any two queries joining the same
    * columns. This mirrors the reference's workload-global seed template
    * files (sketch_templates_seeds.txt): same column pair → same
    * seeds, always.
    *
    * A DERIVED leaf (e.g. a pinned outer join kept opaque) can output two
    * join attributes with the SAME name; plain names would collapse them —
    * SketchGroup.columnIndex would return one plane for both and their
    * seed classes would wrongly unify. Colliding names get an exprId
    * disambiguator; such instances are never template-cached (templateId
    * is None for derived leaves), so key stability is unaffected.
    */
  private def label(g: ExtractedJoinGraph, idx: Int, a: Attribute): String = {
    val siblings = g.joinAttrs(idx)
    if (siblings.count(_.name == a.name) > 1) s"${a.name}#${a.exprId.id}"
    else a.name
  }

  /** Seed-registry key: (instance NAME, column label) — name-based so the
    * class representative (hence seeds and cache keys) is query-shape
    * independent (label falls back to exprId only for intra-instance
    * name collisions on derived leaves).
    */
  private def seedKey(g: ExtractedJoinGraph, idx: Int, a: Attribute): (String, String) =
    (g.instances(idx).name, label(g, idx, a))

  private def enumeratorEdges(g: ExtractedJoinGraph): Seq[((Int, String), (Int, String))] =
    g.edges.map { case ((ia, a), (ib, b)) =>
      ((ia, label(g, ia, a)), (ib, label(g, ib, b)))
    }

  /** Instance subtree with its own filter conjuncts applied (the "pushed
    * down selection" — reference FilterPushDownSketch.cpp:199-231 splices
    * RelFilter+RelCompound; here a Filter node Catalyst will push into the
    * scan). Shared implementation lives on the companion.
    */
  private def filteredPlan(g: ExtractedJoinGraph, i: Int): LogicalPlan =
    CompassSession.filteredPlan(g, i)

  /** One instance's sketch inputs, resolved by [[resolve]]. `keep` is the
    * part of its output its kept survivors carry.
    */
  private final class InstanceSketch(g: ExtractedJoinGraph, val idx: Int,
      val keep: Seq[Attribute], attrs: Seq[Attribute], colNames: Seq[String],
      seeds: Seq[ColumnSeeds], classKeys: Seq[String]) {
    val hasFilter: Boolean = g.instanceFilters.get(idx).exists(_.nonEmpty)

    // Keys use the RESOLVED base relation (data location + mtime
    // snapshot), never the instance alias: two different relations aliased
    // identically must not share a slot, and the same table name over
    // different directories/scale factors must not serve a stale sketch.
    // Derived/local relations have no data identity, so no key: they build.
    // lazy: templateId stats the data location, so for an unfiltered
    // instance the stat runs inside its parallel sketch job.
    private lazy val dataId: Option[String] = JoinGraphExtractor.templateId(g.instances(idx).plan)

    /** The unfiltered table's template. */
    def templateKey: Option[SketchTemplateCache.Key] = dataId.map(
      SketchTemplateCache.templateKey(_, colNames, classKeys, SketchRows, SketchBuckets))

    /** This filtered instance's sketch. Canonicalized filtered plan:
      * exprIds normalize to output ordinals, so the same predicate set over
      * the same relation keys identically from any query; a conservative
      * mismatch just rebuilds (never serves a wrong sketch).
      */
    lazy val filteredKey: Option[SketchTemplateCache.Key] = dataId.map(id =>
      SketchTemplateCache.filteredKey(Seq(id,
        filteredPlan(g, idx).canonicalized.toString,
        colNames.mkString(","), classKeys.mkString(","),
        SketchRows.toString, SketchBuckets.toString).mkString("|")))

    /** This filtered instance's kept survivors: its sketch's key and the
      * ordered names and types of `keep`, the layout of the rows. The
      * key's join columns are the ones whose NULLs the rows dropped.
      */
    def keptKey: Option[String] = filteredKey.map(k => (k.file +: keep.map(a =>
      s"${a.name}:${a.dataType.catalogString}")).mkString("|"))

    def build(rowLimit: Long): CompassSession.Built = CompassSession.buildSketch(
      spark, filteredPlan(g, idx), keep, attrs, SketchRows, SketchBuckets, colNames, seeds,
      rowLimit)

    /** The kept survivors as a [[KeptRows]] leaf, or an empty
      * `LocalRelation`, which Catalyst prunes with its joins. Their join
      * columns hold no NULL and say so: Catalyst then infers no
      * `isnotnull` filter over the rows.
      */
    def relation(survivors: KeptRowSet): LogicalPlan = {
      val output = keep.map(a => if (attrs.contains(a)) a.withNullability(false) else a)
      if (survivors.rows.isEmpty) LocalRelation(output)
      else KeptRows(output, survivors)
    }
  }

  /** Every instance's seeds, column labels, seed classes and data identity,
    * and the output it keeps: its join columns plus whatever of `needed`
    * it produces. The live pre-pass and [[warmTemplates]] both resolve
    * here, so warm keys and live keys cannot drift. Sequential —
    * SeedRegistry mutates.
    */
  private def resolve(g: ExtractedJoinGraph, needed: AttributeSet): IndexedSeq[InstanceSketch] = {
    val reg = new SeedRegistry(SketchRows)
    g.edges.foreach { case ((ia, a), (ib, b)) =>
      reg.addPredicate(seedKey(g, ia, a), seedKey(g, ib, b))
    }
    g.instances.map { inst =>
      val attrs = g.joinAttrs(inst.idx)
      val keys = attrs.map(seedKey(g, inst.idx, _))
      val keep = inst.plan.output.filter(a => needed.contains(a) || attrs.contains(a))
      new InstanceSketch(g, inst.idx, keep, attrs, keys.map(_._2), keys.map(reg.seedsFor),
        keys.map(reg.classKey))
    }.toIndexedSeq
  }

  /** One sketch job per instance: filtered scan → [[CompassSession.buildSketch]]
    * over its join columns (reference: executeFilterAndEvaluate,
    * FilterPushDownSketch.cpp:871-891). Every sketch goes through the
    * session's [[SketchTemplateCache]]: unfiltered instances by template
    * (reference: findSketchTemplateAndCopy, FilterPushDownSketch.cpp:315-382),
    * filtered ones by their canonical filtered plan. A build that ran —
    * a store miss — under `rowLimit` also yields its survivors as a leaf
    * of the instance's kept output, and a filtered instance's are kept
    * for the run. A store hit on a filtered instance reuses the rows an
    * earlier build kept, if the session still holds them; any other hit,
    * the tiny-table shortcut and an over-cap build carry none.
    *
    * The per-instance jobs are INDEPENDENT Spark jobs, so they launch
    * concurrently (the reference builds sequentially; on a cluster the
    * projection-pruned scans overlap across executors, and locally the
    * per-job scheduling overhead stops being × nInstances).
    */
  private def buildSketches(g: ExtractedJoinGraph, needed: AttributeSet, rowLimit: Long)
      : IndexedSeq[(GraphNode, Option[CompassSession.Kept])] = {
    val jobs = resolve(g, needed).map { i =>
      // Tiny-table shortcut: if the store already knows this table
      // (template count == table cardinality) and it is below
      // PUSH_DOWN_MIN_TABLE_SIZE_SK, skip the filtered sketch job and use
      // the template — the filter can't meaningfully shrink a table that
      // small (reference: FilterPushDownSketch.cpp:154-198).
      val tiny =
        if (i.hasFilter) i.templateKey.flatMap(store.peek).filter(_.count < MinTableSize)
        else None
      val keptKey = if (i.hasFilter && tiny.isEmpty) i.keptKey else None
      () => {
        var built: Option[KeptRowSet] = None
        def build(): SketchGroup = {
          val b = i.build(rowLimit)
          built = b.survivors.map(new KeptRowSet(_))
          // Before the store publishes the sketch, so a concurrent
          // request for the same key finds the rows too.
          for (k <- keptKey; rows <- built) admit(k, rows)
          b.sketch
        }
        val sketch = tiny.getOrElse(
          (if (i.hasFilter) i.filteredKey else i.templateKey) match {
            case Some(k) => store.getOrBuild(k)(build())
            case None => build()
          })
        val kept = built.map(rows => CompassSession.Kept(i.relation(rows), reused = false))
          .orElse(keptKey.flatMap(keptRowsFor)
            .map(rows => CompassSession.Kept(i.relation(rows), reused = true)))
        (GraphNode(i.idx, sketch), kept)
      }
    }
    CompassSession.awaitAll(jobs)
  }

  /** Left-deep Inner join tree in the enumerated order. Each appended
    * instance joins the prefix on ALL applicable equi-edges; residual
    * conjuncts land in a top Filter. An instance whose survivors the
    * pre-pass kept is a leaf over those rows — the reference's
    * materialized push-down result (FilterPushDownSketch.cpp:1376-1577),
    * not a second scan; the others re-read their filtered scan. Instances
    * whose surviving count is small get a broadcast hint (sketch counts
    * double as runtime stats), making them the hash-join build side.
    */
  private def rebuildRegion(g: ExtractedJoinGraph, order: Seq[Int],
      nodes: IndexedSeq[GraphNode], kept: Map[Int, LogicalPlan]): LogicalPlan = {
    val countOf: Map[Int, Long] = nodes.map(n => n.id -> n.sketch.count).toMap

    def base(i: Int, withHint: Boolean): LogicalPlan = {
      val p = kept.getOrElse(i, filteredPlan(g, i))
      if (withHint && countOf.get(i).exists(c => c > 0 && c <= BroadcastRowLimit))
        ResolvedHint(p, HintInfo(strategy = Some(BROADCAST)))
      else p
    }

    val (tree, remaining) = CompassSession.spliceLeftDeep(g, order, base)
    // Edges between nodes both already placed before either existed can't
    // occur (connected order), but keep any stragglers as filters.
    val leftovers = remaining.map { case ((_, a), (_, b)) => EqualTo(a, b): Expression }
    val post = g.residual ++ leftovers
    if (post.nonEmpty) Filter(post.reduce(And), tree) else tree
  }
}

object CompassSession {
  // Fixed as the reference fixes them (Catalog/COMPASS_init_variables.txt):
  // sketch rows × buckets per plane (lines 1-2), and
  // PUSH_DOWN_MIN_TABLE_SIZE_SK (line 3) — a filtered instance whose table
  // template counts fewer rows reuses the template, no sketch job.
  val SketchRows = 73
  val SketchBuckets = 1021
  val MinTableSize = 200L

  /** graft's analogue of PUSH_DOWN_MAX_SIZE (init file line 5): at most
    * this many surviving rows earn a broadcast hint. Rows, not bytes (bytes
    * are unknown before projection); 100k rows of pruned join columns sit
    * well under executor broadcast budgets.
    */
  val BroadcastRowLimit = 100000L

  /** Sketch key expression: integral → long (equality-preserving fold);
    * anything else — DATE (Spark refuses date→bigint at analysis, so the
    * r2 date branch silently disabled COMPASS for date keys), TIMESTAMP
    * (casting to long truncates to SECONDS — sub-second-distinct keys
    * would collapse to one sketch key and inflate estimates), strings,
    * decimals → xxhash64 (the reference joins on dictionary-encoded
    * integer ids — mapd-core/StringDictionary/ — a 64-bit hash preserves
    * equality semantics the same way, with negligible collision mass).
    * NULL in, NULL out: `xxhash64(NULL)` is its seed, so a bare hash would
    * sketch every NULL key into one bucket instead of skipping it.
    */
  private[graft] def keyExpr(a: Attribute): Expression = a.dataType match {
    case LongType => a
    case IntegerType | ShortType | ByteType => Cast(a, LongType)
    case _ => If(IsNull(a), Literal(null, LongType), new XxHash64(Seq(a)))
  }

  /** An instance's leaf over kept survivors; `reused` if an earlier
    * query's build kept them.
    */
  private final case class Kept(leaf: LogicalPlan, reused: Boolean)

  /** A fallback to the vanilla plan: the exception's class and the first
    * line of its message.
    */
  final case class Fallback(exception: String, reason: String)

  /** A build's result: the sketch, and the survivors themselves (rows of
    * the build's `keep`) when every partition fitted under its cap.
    */
  private[graft] final case class Built(sketch: SketchGroup,
      survivors: Option[IndexedSeq[InternalRow]])

  /** Sketch `plan`'s rows over `attrs` in one Spark job (reference:
    * executeFilterAndEvaluate, FilterPushDownSketch.cpp:871-891, whose
    * per-block GPU sketches are reduced on the host,
    * cuda_mapd_rt.cu:730-804). The job runs `Project(keep, plan)` —
    * Catalyst prunes the scan to `keep`, which must hold `attrs` — and
    * each task returns its partition's rows with no NULL key (the rows
    * the sketch counts; no other row can pass an inner equi-join on
    * `attrs`), packed as Spark packs a collect, while they number at
    * most ⌈`rowLimit` / partitions⌉. A larger partition folds its rows
    * into a sketch in place and returns that instead, so driver ingress
    * stays within `rowLimit` rows plus one ~600 KB/column sketch per
    * partition. Sketches merge as they arrive and rows are sketched
    * after the job, both on the calling thread — never on the
    * scheduler's event thread — so the driver holds the rows and one
    * merged sketch, not every partial. Keys are [[keyExpr]] bound to
    * `keep`'s ordinals. Counters are exact integer sums, so the group is
    * bit-identical whichever side sketched each row, and to the SQL
    * `fagms_sketch` aggregate over the same keys (spec-pinned).
    */
  private[graft] def buildSketch(
      spark: SparkSession, plan: LogicalPlan, keep: Seq[Attribute], attrs: Seq[Attribute],
      rows: Int, buckets: Int, colNames: Seq[String], seeds: Seq[ColumnSeeds],
      rowLimit: Long): Built = {
    val rdd = Bridge.ofRows(spark, Project(keep, plan)).queryExecution.toRdd
    val parts = rdd.getNumPartitions
    val task = new SurvivorPartition(
      if (parts == 0) 0L else (rowLimit + parts - 1) / parts, rows, buckets,
      colNames.toArray, seeds.toArray,
      attrs.map(a => BindReferences.bindReference(keyExpr(a), keep)).toArray)
    val group = task.emptyGroup()
    val survivors = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    var allFit = true
    // A filter Catalyst folds to an empty relation leaves no partitions.
    if (parts > 0) {
      val arrived = new java.util.concurrent.LinkedBlockingQueue[Partial]()
      val job = spark.sparkContext.submitJob(rdd, task, 0 until parts,
        (_: Int, p: Partial) => arrived.put(p), ())
      try {
        var left = parts
        while (left > 0) {
          val p = arrived.poll(20, java.util.concurrent.TimeUnit.MILLISECONDS)
          if (p != null) {
            if (p.rows != null) survivors ++= Bridge.unpackRows(p.rows, keep.size)
            else { group.merge(p.sketch); allFit = false }
            left -= 1
          } else if (job.isCompleted) job.value.get.get // rethrows a failed job
        }
      } catch { case e: Throwable => job.cancel(); throw e }
    }
    task.sketchAll(group, survivors.iterator)
    Built(group,
      if (allFit) Some(scala.collection.immutable.ArraySeq.unsafeWrapArray(survivors.toArray))
      else None)
  }

  /** One partition's answer: its rows ([[Bridge.packRows]]), or (over
    * the cap) its sketch.
    */
  private final class Partial(val rows: Array[Byte], val sketch: SketchGroup)
      extends Serializable

  /** One partition's `keep` rows → a [[Partial]]. A row with a NULL key
    * never joins, so it is neither kept nor counted — the SQL
    * `fagms_sketch` aggregate's rule. A named class, not a lambda, so
    * Spark's closure cleaner has nothing to re-inspect per build.
    */
  private final class SurvivorPartition(cap: Long, rows: Int, buckets: Int,
      names: Array[String], seeds: Array[ColumnSeeds], keys: Array[Expression])
      extends (Iterator[InternalRow] => Partial) with Serializable {
    def emptyGroup(): SketchGroup = new SketchGroup(rows, buckets, names, seeds)

    /** `row`'s folded keys into `out`; false if a key is NULL. */
    def fold(row: InternalRow, out: Array[Int]): Boolean = {
      var i = 0
      while (i < keys.length) {
        val k = keys(i).eval(row)
        if (k == null) return false
        out(i) = Xi.fold64(k.asInstanceOf[Long]); i += 1
      }
      true
    }

    def sketchAll(g: SketchGroup, it: Iterator[InternalRow]): Unit = {
      val folded = new Array[Int](keys.length)
      it.foreach(row => if (fold(row, folded)) g.update(folded))
    }

    def apply(it: Iterator[InternalRow]): Partial = {
      val folded = new Array[Int](keys.length)
      val buffered = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
      var g: SketchGroup = null
      it.foreach { row =>
        if (fold(row, folded)) {
          if (g != null) g.update(folded)
          else if (buffered.size < cap) buffered += row.copy()
          else {
            g = emptyGroup()
            sketchAll(g, buffered.iterator)
            g.update(folded)
          }
        }
      }
      if (g == null) new Partial(Bridge.packRows(buffered.iterator), null)
      else new Partial(null, g)
    }
  }

  /** The left-deep splice core, shared by rebuildRegion and
    * OptimizerQuality's prefix measurement so the quality harness always
    * measures exactly the plan shape COMPASS executes: each appended
    * instance joins the prefix on ALL applicable equi-edges (Cross when
    * none). Returns the tree and the edges not yet consumed.
    * `base(i, withHint)` supplies each instance's subtree (withHint=false
    * only for the very first instance).
    */
  private[planner] def spliceLeftDeep(
      g: ExtractedJoinGraph, order: Seq[Int],
      base: (Int, Boolean) => LogicalPlan)
      : (LogicalPlan, Seq[((Int, Attribute), (Int, Attribute))]) = {
    var remaining = g.edges
    var placed = Set(order.head)
    var tree = base(order.head, false)
    order.tail.foreach { i =>
      val (applicable, rest) = remaining.partition {
        case ((ia, _), (ib, _)) =>
          (ia == i && placed.contains(ib)) || (ib == i && placed.contains(ia))
      }
      remaining = rest
      val cond = applicable
        .map { case ((_, a), (_, b)) => EqualTo(a, b): Expression }
        .reduceOption(And)
      tree = Join(tree, base(i, true),
        if (cond.isEmpty) Cross else Inner, cond, JoinHint.NONE)
      placed += i
    }
    (tree, remaining)
  }

  /** Instance subtree with its single-instance filter conjuncts applied —
    * shared with OptimizerQuality for the same no-drift reason.
    */
  private[planner] def filteredPlan(g: ExtractedJoinGraph, i: Int): LogicalPlan =
    g.instanceFilters.get(i).filter(_.nonEmpty) match {
      case Some(fs) => Filter(fs.reduce(And), g.instances(i).plan)
      case None => g.instances(i).plan
    }

  /** The region output the plan around the region reads, given the
    * extractor's `rebuild`: walking down from the root (whose output is
    * read by the caller), each operator adds what its expressions
    * reference — subquery outer references included — and passes on what
    * is read of its output. An operator outside the known pass-through set
    * (DISTINCT, EXPAND, ...) may read whole rows, so it passes on its
    * child's entire output.
    */
  private[planner] def readAround(
      g: ExtractedJoinGraph, rebuild: LogicalPlan => LogicalPlan): AttributeSet = {
    val hole = LocalRelation(g.instances.flatMap(_.plan.output))
    def walk(p: LogicalPlan, read: AttributeSet): Option[AttributeSet] =
      if (p eq hole) Some(read)
      else p.children.iterator.flatMap { c =>
        val passed = p match {
          case _: Project | _: Aggregate | _: Filter | _: Sort | _: GlobalLimit |
              _: LocalLimit | _: Join | _: SubqueryAlias | _: Window => read
          case _ => c.outputSet
        }
        walk(c, p.references ++ passed.filter(c.outputSet.contains))
      }.nextOption()
    val around = rebuild(hole)
    walk(around, around.outputSet).getOrElse(hole.outputSet)
  }

  // Shared pool for concurrent sketch jobs. Spark job submission is
  // thread-safe; 8 in-flight jobs is plenty (a query rarely has more
  // instances) without starving the main query's own scheduling.
  private lazy val sketchPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(
      8,
      (r: Runnable) => {
        val t = new Thread(r, "compass-sketch")
        t.setDaemon(true)
        t
      })

  /** Run independent sketch-job thunks concurrently, preserving order; the
    * first failure propagates (optimize() then falls back to the vanilla
    * plan).
    */
  private[planner] def awaitAll[A](jobs: IndexedSeq[() => A]): IndexedSeq[A] = {
    if (jobs.lengthCompare(1) <= 0) return jobs.map(_.apply())
    val futures = jobs.map(j =>
      sketchPool.submit(new java.util.concurrent.Callable[A] {
        override def call(): A = j()
      }))
    try futures.map(_.get())
    catch {
      case e: java.util.concurrent.ExecutionException =>
        futures.foreach(_.cancel(true))
        throw Option(e.getCause).getOrElse(e)
    }
  }
}
