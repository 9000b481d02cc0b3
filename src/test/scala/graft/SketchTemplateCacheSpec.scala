package graft

import graft.planner.SketchTemplateCache
import graft.sketch.{ColumnSeeds, SketchGroup}
import org.scalatest.funsuite.AnyFunSuite

/** The filtered-instance disk tier (r13): round-trip fidelity, corrupt-file
  * degradation, cap pruning, and concurrent store/load safety — the three
  * failure modes a shared cache directory actually sees (torn files from a
  * crashed writer, unbounded growth, racing sessions).
  */
class SketchTemplateCacheSpec extends AnyFunSuite {

  private def group(seed: Long, n: Int = 50): SketchGroup = {
    val g = new SketchGroup(5, 17, Array("c"), Array(ColumnSeeds.deterministic(5, seed)))
    (0 until n).foreach(i => g.update(Array(i)))
    g
  }

  private def newCache(): SketchTemplateCache =
    new SketchTemplateCache(java.nio.file.Files.createTempDirectory("graft-ftier"))

  test("filtered tier round-trips the exact sketch bytes") {
    val cache = newCache()
    val g = group(1L)
    cache.storeFiltered("k1", g)
    val back = cache.loadFiltered("k1").getOrElse(fail("stored sketch not found"))
    assert(back.count == g.count)
    assert(back.planes(0).toSeq == g.planes(0).toSeq,
      "persisted plane must be bit-identical — estimates may not drift across sessions")
    assert(cache.loadFiltered("other-key").isEmpty)
  }

  test("a corrupt filtered file degrades to a rebuild, never an error") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ftier-corrupt")
    val cache = new SketchTemplateCache(dir)
    cache.storeFiltered("k1", group(2L))
    // Truncate the single filtered file to garbage.
    val s = java.nio.file.Files.list(dir)
    val f = try s.filter(_.getFileName.toString.startsWith("filtered-"))
      .findFirst().get() finally s.close()
    java.nio.file.Files.write(f, Array[Byte](1, 2, 3))
    assert(cache.loadFiltered("k1").isEmpty,
      "torn file must read as a miss (rebuild), not throw")
  }

  test("the cap prunes oldest filtered entries; table templates are untouched") {
    // 20 stores stay under FilteredCap, so nothing is pruned here; the
    // small-cap case below drives the prune itself. This one proves that
    // storeFiltered never deletes NON-filtered files (the table-template
    // tier shares the directory).
    val dir = java.nio.file.Files.createTempDirectory("graft-ftier-cap")
    val cache = new SketchTemplateCache(dir)
    cache.getOrBuild("tbl", Seq("c"), Seq("cls"), 5, 17)(group(3L))
    (1 to 20).foreach(i => cache.storeFiltered(s"k$i", group(100L + i)))
    val names = listNames(dir)
    assert(names.exists(_.startsWith("sketch-")),
      "table template must survive filtered stores")
    assert(names.count(_.startsWith("filtered-")) == 20)
  }

  test("pruning to a small cap keeps the newest filtered files and every table template") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ftier-prune")
    val cache = new SketchTemplateCache(dir)
    cache.getOrBuild("tbl", Seq("c"), Seq("cls"), 5, 17)(group(3L))
    // Distinct, increasing mtimes (k10 newest), independent of clock
    // granularity; the table template is older than every one of them.
    val t0 = System.currentTimeMillis() - 100000L
    def setMtime(name: String, ms: Long): Unit = java.nio.file.Files
      .setLastModifiedTime(dir.resolve(name), java.nio.file.attribute.FileTime.fromMillis(ms))
    listNames(dir).foreach(setMtime(_, t0))
    (1 to 10).foreach { i =>
      val before = listNames(dir).toSet
      cache.storeFiltered(s"k$i", group(100L + i))
      val added = listNames(dir).filterNot(before)
      assert(added.size == 1 && added.head.startsWith("filtered-"))
      setMtime(added.head, t0 + i * 1000L)
    }
    cache.pruneFiltered(3)
    val names = listNames(dir)
    assert(names.count(_.startsWith("filtered-")) == 3)
    (8 to 10).foreach(i => assert(cache.loadFiltered(s"k$i").isDefined, s"newest k$i pruned"))
    (1 to 7).foreach(i => assert(cache.loadFiltered(s"k$i").isEmpty, s"old k$i kept"))
    assert(names.count(_.startsWith("sketch-")) == 1,
      "a table template must never be pruned")
  }

  private def listNames(dir: java.nio.file.Path): Seq[String] = {
    val s = java.nio.file.Files.list(dir)
    try {
      val b = Seq.newBuilder[String]
      s.forEach(p => b += p.getFileName.toString)
      b.result()
    } finally s.close()
  }

  test("concurrent store/load across 8 threads: every load is None or a valid group") {
    val cache = newCache()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val futures = (1 to 64).map { i =>
      scala.concurrent.Future {
        val key = s"k${i % 7}"
        cache.storeFiltered(key, group(i.toLong))
        cache.loadFiltered(key).foreach { g =>
          assert(g.rows == 5 && g.buckets == 17 && g.count == 50)
        }
      }
    }
    try scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures),
      scala.concurrent.duration.Duration(60, "s"))
    finally pool.shutdown()
    // After the dust settles every key reads back as a complete group.
    (0 until 7).foreach { k =>
      val g = cache.loadFiltered(s"k$k").getOrElse(fail(s"k$k missing"))
      assert(g.count == 50)
    }
  }
}
