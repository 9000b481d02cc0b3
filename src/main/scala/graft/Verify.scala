package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [entry...]")
    val (sfDir, outDir) = (args(0), args(1))
    // Optional entry-name subset for fast local iteration; the driver
    // always calls with two args → full run.
    val subset = args.drop(2).toSet
    // The same session policy as Bench: the gate checks the plans the
    // bench times.
    val spark = graft.engine.LocalSession("graft-verify")
    run(spark, sfDir, outDir, subset)
    spark.stop()
  }

  /** Session-injected body so a spec can drive the harness (e.g. against
    * a deliberately corrupted table dir) without stopping the shared
    * test session.
    */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          subset: Set[String] = Set.empty): Unit = {
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => subset.isEmpty || subset(name) }
      .foreach { case (name, fn) =>
      // One Work scope per entry, so its COMPASS fallbacks are reported.
      val (_, work) = Work.measure(spark) {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          // Surface the failure in the round record: r10 showed that an
          // entry that writes nothing is indistinguishable from one never
          // declared (111 entries silently vanished). A sibling marker file
          // makes every broken entry a visible err row downstream.
          try Files.writeString(Paths.get(s"$outDir/${name}._error.txt"),
            Option(e.getMessage).getOrElse(e.getClass.getName))
          catch { case _: Throwable => () }
        }
      }
      work.records.compassFallbacks.foreach(f => System.err.println(
        s"[compass] $name fell back to its vanilla plan: ${f.exception}: ${f.reason}"))
      // Bound memory across the run: operator-internal persists and
      // COMPASS's kept survivors are only useful within one entry.
      graft.operators.OpCaches.releaseAll(spark)
      CompassQueries.releaseKeptRows()
    }
    // Partial-soundness oracles (ANN / signature entries) re-derive the
    // checkable columns of the SPARK RESULT: the SQL reads this run's
    // dump via read_parquet, so the output dir is substituted here, at
    // dump time, as an absolute path (DuckDB runs from an unknown cwd).
    val absOut = Paths.get(outDir).toAbsolutePath.toString
    // Scale-matched JOB data dir: the corpus entry executes the sf-scaled
    // IMDb, so its oracle's table reads must point at the SAME scale
    // (x1-vs-x1 at the driver's sf0.01; x10-vs-x10 under an sf0.1 audit).
    val jobDir = graft.job.JobCorpus.dataPathFor(
      graft.job.JobCorpus.scaleFor(sfDir))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleJson(SparkEntry.oracleSql, absOut, jobDir)): Unit
  }

  /** `oracle_sql.json`: each entry's DuckDB SQL with this run's output and
    * JOB data dirs substituted for their tokens.
    */
  def oracleJson(sql: Map[String, String], absOut: String, jobDir: String): String =
    Records.write(sql.map { case (k, v) =>
      k -> v.replace(Queries.VerifyOutToken, absOut)
        .replace(graft.job.JobCorpus.JobDataToken, jobDir)
    })
}
