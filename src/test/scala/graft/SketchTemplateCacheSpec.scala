package graft

import graft.planner.SketchTemplateCache
import graft.planner.SketchTemplateCache.{filteredKey, templateKey}
import graft.sketch.{ColumnSeeds, SketchGroup}
import org.scalatest.funsuite.AnyFunSuite

/** The sketch store's one lookup path over both disk tiers: round-trip
  * fidelity, corrupt-file degradation, cap pruning, concurrent safety and
  * stable file names — the failure modes a shared cache directory actually
  * sees (torn files from a crashed writer, unbounded growth, racing
  * sessions, directories warmed by an earlier build).
  */
class SketchTemplateCacheSpec extends AnyFunSuite {

  private def group(seed: Long, n: Int = 50): SketchGroup = {
    val g = new SketchGroup(5, 17, Array("c"), Array(ColumnSeeds.deterministic(5, seed)))
    (0 until n).foreach(i => g.update(Array(i)))
    g
  }

  private def unbuilt: SketchGroup = fail("the sketch is stored; build must not run")

  test("filtered tier round-trips the exact sketch bytes") {
    TempDirs.withTempDir("graft-ftier") { dir =>
      val g = group(1L)
      new SketchTemplateCache(dir).getOrBuild(filteredKey("k1"))(g)
      // A second store over the directory reads the file, not a memo.
      val disk = new SketchTemplateCache(dir)
      val back = disk.peek(filteredKey("k1")).getOrElse(fail("stored sketch not found"))
      assert(back.count == g.count)
      assert(back.planes(0).toSeq == g.planes(0).toSeq,
        "persisted plane must be bit-identical — estimates may not drift across sessions")
      assert(disk.peek(filteredKey("other-key")).isEmpty)
      assert(disk.getOrBuild(filteredKey("k1"))(unbuilt).count == g.count)
    }
  }

  test("a corrupt filtered file degrades to a rebuild, never an error") {
    TempDirs.withTempDir("graft-ftier") { dir =>
      new SketchTemplateCache(dir).getOrBuild(filteredKey("k1"))(group(2L))
      val s = java.nio.file.Files.list(dir)
      val f = try s.filter(_.getFileName.toString.startsWith("filtered-"))
        .findFirst().get() finally s.close()
      // A truncated file, and a header that claims 2^31 - 1 columns: both
      // must read as a miss before any array is sized from them.
      val hugeHeader = java.nio.ByteBuffer.allocate(20)
        .putInt(73).putInt(1021).putInt(Int.MaxValue).putLong(0L).array()
      Seq(Array[Byte](1, 2, 3), hugeHeader).foreach { garbage =>
        java.nio.file.Files.write(f, garbage)
        val cache = new SketchTemplateCache(dir)
        assert(cache.peek(filteredKey("k1")).isEmpty,
          "torn file must read as a miss (rebuild), not throw")
        assert(cache.getOrBuild(filteredKey("k1"))(group(2L)).count == 50)
        // The rebuild overwrote the corrupt file.
        assert(new SketchTemplateCache(dir).getOrBuild(filteredKey("k1"))(unbuilt).count == 50)
      }
    }
  }

  test("file names are the on-disk format: fixed keys hash to fixed names") {
    TempDirs.withTempDir("graft-ftier") { dir =>
      val cache = new SketchTemplateCache(dir)
      cache.getOrBuild(templateKey("tbl", Seq("c"), Seq("cls"), 5, 17))(group(3L))
      cache.getOrBuild(filteredKey("k1"))(group(4L))
      assert(listNames(dir).toSet == Set(
        "sketch-b917dfce40ce94384eef849e406a1ae5.bin",
        "filtered-6ab9f1eb8f7d3388f4f9d586f66e99fd.bin"))
    }
  }

  test("the cap prunes oldest filtered entries; table templates are untouched") {
    // 20 stores stay under FilteredCap, so nothing is pruned here; the
    // small-cap case below drives the prune itself. This one proves that
    // filtered writes never delete NON-filtered files (the table-template
    // tier shares the directory).
    TempDirs.withTempDir("graft-ftier") { dir =>
      val cache = new SketchTemplateCache(dir)
      cache.getOrBuild(templateKey("tbl", Seq("c"), Seq("cls"), 5, 17))(group(3L))
      (1 to 20).foreach(i => cache.getOrBuild(filteredKey(s"k$i"))(group(100L + i)))
      val names = listNames(dir)
      assert(names.exists(_.startsWith("sketch-")),
        "table template must survive filtered stores")
      assert(names.count(_.startsWith("filtered-")) == 20)
    }
  }

  test("pruning to a small cap keeps the newest filtered files and every table template") {
    TempDirs.withTempDir("graft-ftier") { dir =>
      val cache = new SketchTemplateCache(dir)
      cache.getOrBuild(templateKey("tbl", Seq("c"), Seq("cls"), 5, 17))(group(3L))
      // Distinct, increasing mtimes (k10 newest), independent of clock
      // granularity; the table template is older than every one of them.
      val t0 = System.currentTimeMillis() - 100000L
      def setMtime(name: String, ms: Long): Unit = java.nio.file.Files
        .setLastModifiedTime(dir.resolve(name), java.nio.file.attribute.FileTime.fromMillis(ms))
      listNames(dir).foreach(setMtime(_, t0))
      (1 to 10).foreach { i =>
        val before = listNames(dir).toSet
        cache.getOrBuild(filteredKey(s"k$i"))(group(100L + i))
        val added = listNames(dir).filterNot(before)
        assert(added.size == 1 && added.head.startsWith("filtered-"))
        setMtime(added.head, t0 + i * 1000L)
      }
      cache.pruneFiltered(3)
      val names = listNames(dir)
      assert(names.count(_.startsWith("filtered-")) == 3)
      val disk = new SketchTemplateCache(dir)
      (8 to 10).foreach(i => assert(disk.peek(filteredKey(s"k$i")).isDefined, s"newest k$i pruned"))
      (1 to 7).foreach(i => assert(disk.peek(filteredKey(s"k$i")).isEmpty, s"old k$i kept"))
      assert(names.count(_.startsWith("sketch-")) == 1,
        "a table template must never be pruned")
    }
  }

  private def listNames(dir: java.nio.file.Path): Seq[String] = {
    val s = java.nio.file.Files.list(dir)
    try {
      val b = Seq.newBuilder[String]
      s.forEach(p => b += p.getFileName.toString)
      b.result()
    } finally s.close()
  }

  private def onThreads[A](n: Int)(body: Int => A): Seq[A] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try scala.concurrent.Await.result(
      scala.concurrent.Future.sequence((1 to n).map(i => scala.concurrent.Future(body(i)))),
      scala.concurrent.duration.Duration(60, "s"))
    finally pool.shutdown()
  }

  test("concurrent store/load across 8 threads: every load is None or a valid group") {
    TempDirs.withTempDir("graft-ftier") { dir =>
      // Each request is its own store over the shared directory — racing
      // sessions writing and reading the same files.
      onThreads(64) { i =>
        val key = filteredKey(s"k${i % 7}")
        new SketchTemplateCache(dir).getOrBuild(key)(group(i.toLong))
        new SketchTemplateCache(dir).peek(key).foreach { g =>
          assert(g.rows == 5 && g.buckets == 17 && g.count == 50)
        }
      }
      // After the dust settles every key reads back as a complete group.
      val disk = new SketchTemplateCache(dir)
      (0 until 7).foreach { k =>
        val g = disk.peek(filteredKey(s"k$k")).getOrElse(fail(s"k$k missing"))
        assert(g.count == 50)
      }
    }
  }

  test("concurrent requests for one template build it once") {
    TempDirs.withTempDir("graft-ftier") { tmp =>
      val cache = new SketchTemplateCache(tmp)
      val builds = new java.util.concurrent.atomic.AtomicInteger(0)
      val start = new java.util.concurrent.CountDownLatch(8)
      val key = templateKey("tbl", Seq("c"), Seq("cls"), 5, 17)
      val counts = onThreads(8) { _ =>
        start.countDown(); start.await()
        cache.getOrBuild(key) {
          builds.incrementAndGet()
          Thread.sleep(200) // hold the build open while the others arrive
          group(3L)
        }.count
      }
      assert(counts.forall(_ == 50))
      assert(builds.get == 1, s"built ${builds.get} times")
      assert(cache.misses == 1 && cache.hits == 7)
    }
  }
}
