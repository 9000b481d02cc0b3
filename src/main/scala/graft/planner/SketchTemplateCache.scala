package graft.planner

import graft.sketch.SketchGroup

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.security.MessageDigest
import java.util.concurrent.{CompletableFuture, ConcurrentHashMap, ExecutionException}
import java.util.concurrent.atomic.AtomicLong
import scala.util.control.NonFatal

/** The sketch store: every sketch the COMPASS pre-pass reuses — table
  * templates and filtered-instance sketches — is served by one routine,
  * [[lookup]]: memory memo, then disk read, then build, then atomic write.
  *
  * The reference pre-builds sketches for tables without filters and serves
  * them from side-files instead of rescanning (reference:
  * mapd-core/Catalog/Catalog.h:457-760 load/upload/saveSketches; file
  * format documented in sketch-templates/README.md; consumed by
  * findSketchTemplateAndCopy, FilterPushDownSketch.cpp:315-382).
  *
  * Here: one binary file per key under `dir`, written with the same codec
  * the aggregation buffer uses. Two tiers share the directory:
  *  - templates (`sketch-*.bin`), keyed by (table, join-column set, seed
  *    classes, dims). The seed-class component matters — a template built
  *    under one join equivalence class is NOT valid for a query that seeds
  *    the column differently. At 100 TB this is the difference between a
  *    metadata read and a full table scan per unfiltered dimension table,
  *    per query.
  *  - filtered sketches (`filtered-*.bin`), keyed by the canonical filtered
  *    instance (data identity + canonicalized filtered plan + join columns
  *    + seed classes + dims). A workload filters the same table with the
  *    same predicate set many times, and a cold session with a warm
  *    directory pays a file read instead of a sketch job (r12 measured the
  *    cold filtered path at ~50% of per-query time on the JOB subset).
  *    The population is workload-shaped and unbounded, so the tier is
  *    capped at [[SketchTemplateCache.FilteredCap]] files.
  *
  * Same key ⇒ byte-identical sketch, so sharing is lossless; staleness is
  * impossible because every key's data-identity component snapshots data
  * location + mtime (a rewritten table simply misses). The disk tier is a
  * rebuildable cache: a missing, torn or corrupt file is a miss, and a
  * failed write keeps the built sketch in memory only.
  */
final class SketchTemplateCache private (dir: Option[Path]) {
  def this(dir: Path) = this(Some(dir))

  dir.foreach(Files.createDirectories(_))

  import SketchTemplateCache.{FilteredCap, FilteredPrefix, Key, MemoCap}

  // Template tier only: a hit is a sketch served without a build, a miss
  // is a build. Atomic — sketch jobs update these concurrently.
  private val hitCount = new AtomicLong(0)
  private val missCount = new AtomicLong(0)
  def hits: Long = hitCount.get()
  def misses: Long = missCount.get()

  /** In-flight-deduplicated: concurrent requests for one key build once,
    * the rest await the same future. A failed build is removed, so later
    * requests retry rather than inherit the failure. Holds `None` only
    * while a [[peek]] is reading the disk.
    */
  private val memo = new ConcurrentHashMap[String, CompletableFuture[Option[SketchGroup]]]()

  /** The sketch stored under `key`; `build` runs only on a miss. */
  def getOrBuild(key: Key)(build: => SketchGroup): SketchGroup =
    lookup(key, Some(() => build)).get

  /** The stored sketch, if any — never builds, never counts. Used to learn
    * a table's cardinality without a scan (the `count` of an unfiltered
    * template IS the table row count).
    */
  def peek(key: Key): Option[SketchGroup] = lookup(key, None)

  /** Forget the memory memo; the disk tier stays. */
  private[planner] def release(): Unit = memo.clear()

  private def lookup(key: Key, build: Option[() => SketchGroup]): Option[SketchGroup] = {
    val counted = key.isTemplate && build.isDefined
    while (true) {
      // Bound driver memory for long-lived sessions over many distinct
      // keys (each group is O(rows·buckets·cols) doubles): coarse full
      // clear at the cap — waiters on evicted in-flight futures still
      // complete (they hold their own reference); later requests re-read.
      if (memo.size >= MemoCap) memo.clear()
      val mine = new CompletableFuture[Option[SketchGroup]]()
      val existing = memo.putIfAbsent(key.file, mine)
      if (existing == null) {
        try {
          val g = read(key.file) match {
            case found @ Some(_) =>
              if (counted) hitCount.incrementAndGet()
              found
            case None => build.map { b =>
              if (counted) missCount.incrementAndGet()
              val built = b()
              write(key.file, built)
              built
            }
          }
          if (g.isEmpty) memo.remove(key.file, mine)
          mine.complete(g)
          return g
        } catch { case e: Throwable =>
          memo.remove(key.file, mine)
          mine.completeExceptionally(e)
          throw e
        }
      } else {
        // A waiter whose builder fails must not inherit that unrelated
        // request's exception: the owner removed the failed entry, so loop
        // and build (or await the next builder) fresh. A peek that found
        // nothing also removed its entry; a request with a build loops.
        try existing.get() match {
          case found @ Some(_) =>
            if (counted) hitCount.incrementAndGet()
            return found
          case None if build.isEmpty => return None
          case None =>
        } catch { case _: ExecutionException => memo.remove(key.file, existing): Unit }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def read(file: String): Option[SketchGroup] = dir.flatMap { d =>
    val f = d.resolve(file)
    // A torn or corrupt file (pruned mid-read, disk fault) is a miss: the
    // caller rebuilds and overwrites it, and the query never fails on it.
    if (Files.exists(f))
      try Some(SketchGroup.deserialize(Files.readAllBytes(f)))
      catch { case NonFatal(_) => None }
    else None
  }

  /** Write-temp + atomic move: sketch jobs run concurrently, so a torn read
    * of a half-written file must be impossible. Best-effort — a failed
    * write (disk full, read-only dir) must not discard the built sketch.
    */
  private def write(file: String, g: SketchGroup): Unit = dir.foreach { d =>
    try {
      val f = d.resolve(file)
      // The temp name carries neither tier prefix, so a concurrent prune
      // never counts or deletes an in-flight write.
      val tmp = Files.createTempFile(d, "write-", ".tmp")
      try {
        Files.write(tmp, g.serialize())
        try Files.move(tmp, f, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
        catch {
          case _: java.nio.file.AtomicMoveNotSupportedException =>
            Files.move(tmp, f, StandardCopyOption.REPLACE_EXISTING)
        }
      } finally
        // A failed write/move must not strand ~600KB .tmp orphans in the
        // cache dir on every retry.
        Files.deleteIfExists(tmp): Unit
      if (file.startsWith(FilteredPrefix)) pruneFiltered(FilteredCap)
    } catch { case NonFatal(_) => }
  }

  /** Bound the filtered tier: delete its oldest-by-mtime files beyond
    * `cap`; table templates share the directory and are never touched.
    * Best-effort — concurrent stores may race the listing; a missed prune
    * is caught by the next store, a double delete is a no-op.
    */
  private[graft] def pruneFiltered(cap: Int): Unit = dir.foreach { d =>
    try {
      val s = Files.list(d)
      val files =
        try s.filter(p => p.getFileName.toString.startsWith(FilteredPrefix))
          .toArray(new Array[Path](_)).toSeq
        finally s.close()
      if (files.size > cap)
        files.sortBy(p =>
            try Files.getLastModifiedTime(p).toMillis catch { case _: Throwable => 0L })
          .dropRight(cap)
          .foreach(p => try Files.deleteIfExists(p): Unit catch { case _: Throwable => () })
    } catch { case NonFatal(_) => () }
  }
}

object SketchTemplateCache {
  /** Most sketches held in memory before the memo is cleared. */
  private val MemoCap = 512

  /** Most filtered-tier files kept on disk (~600 KB each). */
  private[graft] val FilteredCap = 512

  private val TemplatePrefix = "sketch-"
  private val FilteredPrefix = "filtered-"

  /** A store key: the sketch's file name, `<tier prefix><hash>.bin`. The
    * names are part of the on-disk format — existing directories hit only
    * while they stay byte-identical.
    */
  final class Key private[SketchTemplateCache] (val file: String) {
    private[SketchTemplateCache] def isTemplate: Boolean = file.startsWith(TemplatePrefix)
    override def toString: String = file
  }

  /** The template of an unfiltered table, by resolved data identity. */
  def templateKey(table: String, columns: Seq[String], seedClasses: Seq[String],
      rows: Int, buckets: Int): Key =
    keyOf(TemplatePrefix,
      s"$table|${columns.mkString(",")}|${seedClasses.mkString(",")}|$rows|$buckets")

  /** A filtered instance's sketch, by its canonical key. */
  def filteredKey(canonical: String): Key = keyOf(FilteredPrefix, canonical)

  private def keyOf(prefix: String, raw: String): Key = {
    val h = MessageDigest.getInstance("SHA-256").digest(raw.getBytes("UTF-8"))
      .take(16).map("%02x".format(_)).mkString
    new Key(s"$prefix$h.bin")
  }

  /** A store with no disk tier: the same lookup, memory only. */
  private[planner] def inMemory(): SketchTemplateCache = new SketchTemplateCache(None)

  /** Default on-disk location (rebuildable — delete to force PRE_PROCESSING
    * behavior, reference COMPASS_init_variables.txt:6).
    */
  def default(): SketchTemplateCache =
    new SketchTemplateCache(Paths.get(
      sys.env.getOrElse("GRAFT_SKETCH_CACHE_DIR",
        sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-sketch-templates")))
}
