package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Hot-key stress probe for the per-user recurrence folds (r19 verdict
  * #1's final deliverable): plant ONE user with a million-event purchase
  * chain on top of a ScaleGen corpus and prove `q_ewma_recursive` /
  * `q_holt_linear` still pass — the r19 `flatMapGroups` fold buffered a
  * user's whole chain in task heap (`it.toArray`), so this exact layout
  * was its OOM shape; the r20 streaming fold (repartition + external
  * in-partition sort + O(1)-state scan) must stream it through sort
  * spill instead.
  *
  * The correctness oracle at this depth is the strictly sequential
  * driver-side fold (identical IEEE op order) — the DuckDB recursive
  * CTE the sf-scale differential uses is intractable at 10^6 recursion
  * depth, and bit-identity against the sequential reference is the
  * STRONGER check anyway (it pins op order, not just values).
  *
  * Usage: runMain graft.HotUserProbe <baseCorpusDir> <workDir> [hotN]
  * (events are rewritten into workDir; other tables are symlinked).
  */
object HotUserProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: HotUserProbe <baseCorpusDir> <workDir> [hotN]")
    val base = args(0)
    val work = args(1)
    val hotN = if (args.length > 2) args(2).toInt else 1000000
    val spark = graft.engine.LocalSession("graft-hotuser")
    try run(spark, base, work, hotN)
    finally spark.stop()
  }

  /** Deterministic hot-user event stream: ids/timestamps disjoint from
    * any ScaleGen replica (user id 9e15 sits above every offset
    * domain), values on the same floor(v*100+0.5) cent lattice the
    * entries read.
    */
  private val HotUid = 9000000000000000L

  def run(spark: SparkSession, base: String, work: String, hotN: Int): Unit = {
    import spark.implicits._
    val workDir = new java.io.File(work)
    if (workDir.exists()) {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(workDir)
    }
    java.nio.file.Files.createDirectories(workDir.toPath)
    for (t <- Tables.all if t != "events") {
      // Absolute-normalized (r21, ADVICE): a relative `base` would make
      // the links resolve relative to workDir and read the wrong files.
      val src = java.nio.file.Paths.get(base, s"$t.parquet")
        .toAbsolutePath.normalize()
      if (java.nio.file.Files.exists(src))
        java.nio.file.Files.createSymbolicLink(
          workDir.toPath.resolve(s"$t.parquet"), src): Unit
    }
    // Hot chain: distributed generation (a 10^6-row driver Seq would
    // itself be the anti-pattern), same schema as the base events.
    val hot = spark.range(hotN)
      .select(
        (lit(HotUid) + col("id")).as("event_id"),
        timestamp_micros(lit(1500000000000000L) + col("id") * 1000L).as("ts"),
        lit(HotUid).as("user_id"),
        lit("purchase").as("event_type"),
        (pmod(col("id") * 7919L, lit(100000L)).cast("double") / 100.0).as("value"),
        lit("{}").as("props"))
    Tables.load(spark, base, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("props"))
      .unionByName(hot)
      .write.mode("overwrite").parquet(s"$work/events.parquet")

    // Sequential reference chains, folded on the driver in the same
    // IEEE op order the entries claim to execute.
    val cents = Array.tabulate(hotN)(i => (i.toLong * 7919L) % 100000L)
    val ewmaRef = new Array[Long](hotN)
    var st = 0.0
    for (i <- 0 until hotN) {
      val c = (cents(i).toDouble / 100.0) * 100 + 0.5 // same floor(v*100+0.5) path
      val cent = math.floor(c).toLong
      st = if (i == 0) cent.toDouble else 0.5 * cent + 0.5 * st
      ewmaRef(i) = math.floor(st * 1000000 + 0.5).toLong
    }
    val holtRef = new Array[(Long, Long, Long)](hotN)
    var l = 0.0
    var b = 0.0
    for (i <- 0 until hotN) {
      val cent = math.floor((cents(i).toDouble / 100.0) * 100 + 0.5).toLong
      if (i == 0) { l = cent.toDouble; b = 0.0 }
      else {
        val lNew = 0.5 * cent + 0.5 * (l + b)
        val bNew = 0.5 * (lNew - l) + 0.5 * b
        l = lNew; b = bNew
      }
      holtRef(i) = (math.floor(l * 1000000 + 0.5).toLong,
        math.floor(b * 1000000 + 0.5).toLong,
        math.floor((l + b) * 1000000 + 0.5).toLong)
    }

    def lap(name: String)(check: => Unit): Unit = {
      val t0 = System.nanoTime()
      check
      println(f"[hotuser] $name PASS in ${(System.nanoTime() - t0) / 1e9}%.1f s " +
        s"(hot chain $hotN events)")
    }

    lap("q_ewma_recursive") {
      val got = Queries.queryMap("q_ewma_recursive")(spark, work)
        .filter(col("user_id") === HotUid)
        .select("rn", "ewma_u").as[(Long, Long)].collect().sortBy(_._1)
      require(got.length == hotN, s"hot chain truncated: ${got.length} of $hotN")
      var i = 0
      while (i < hotN) {
        require(got(i)._1 == i + 1 && got(i)._2 == ewmaRef(i),
          s"ewma diverged at rn ${i + 1}: got ${got(i)._2}, want ${ewmaRef(i)}")
        i += 1
      }
    }

    lap("q_holt_linear") {
      val got = Queries.queryMap("q_holt_linear")(spark, work)
        .filter(col("user_id") === HotUid)
        .select("rn", "level_u", "trend_u", "forecast_u")
        .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
      require(got.length == hotN, s"hot chain truncated: ${got.length} of $hotN")
      var i = 0
      while (i < hotN) {
        val (wl, wb, wf) = holtRef(i)
        require(got(i)._1 == i + 1 && got(i)._2 == wl && got(i)._3 == wb &&
          got(i)._4 == wf,
          s"holt diverged at rn ${i + 1}: got ${got(i)}, want ($wl,$wb,$wf)")
        i += 1
      }
    }
  }
}
