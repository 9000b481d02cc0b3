package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table catalog over the driver's parquet test data (TESTDATA.md).
  *
  * Mirrors the reference's fixed-schema catalog
  * (reference: mapd-core/Catalog/Catalog.cpp) but Spark-native: a table is
  * a parquet directory; schemas come from parquet footers; chunk min/max
  * fragment skipping (reference: mapd-core/QueryEngine/Execute.cpp
  * `skipFragment`) maps to Parquet row-group stats, which Spark applies
  * automatically when filters are pushed down.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Tables small enough to broadcast at any scale factor (dimension-like).
    * At 100 TB, region/nation stay tiny (fixed cardinality); broadcasting
    * them removes a shuffle per join.
    */
  val broadcastable: Set[String] = Set("region", "nation")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = readRaw(spark, sfDir, name)
    if (name == "events") normalizeEvents(df) else df
  }

  /** One driver table as stored, before [[normalizeEvents]]; the batch
    * loader and the streaming file source ([[StreamQueries]]) both read
    * through it. events.ts has shipped in two on-disk layouts across
    * test-data generations: TIMESTAMP(NANOS) (which Spark's vectorized
    * reader rejects, so it is read as raw int64 nanos) and a true
    * TIMESTAMP(MICROS) (read natively, surfaced as NTZ under Spark's
    * default inferTimestampNTZ). This is the one place graft sets
    * `nanosAsLong`; it stays set on `spark`, so a stream planned from
    * this schema reads the files the same way.
    */
  def readRaw(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$sfDir/$name.parquet")
  }

  /** Normalize whatever on-disk `ts` layout this events frame carries to
    * µs-precision TimestampType — the same values DuckDB sees, under the
    * UTC session timezone every entrypoint sets. Shared by the batch
    * loader and the streaming file source ([[StreamQueries]]) so the two
    * paths cannot drift.
    */
  def normalizeEvents(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampType => df
      case _ => // TIMESTAMP_NTZ: reinterpret as UTC instant
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }

  // One registration per session while the dir is unchanged: repeated
  // per-query registerAll calls would re-read every parquet footer
  // (10 tables × N queries). Tracking the CURRENT dir (not a seen-set)
  // means switching dirs re-registers — a seen-set would silently leave
  // the views pointing at the previous dir.
  // Keyed on the session itself, weakly: values are plain Strings (no
  // back-reference to the key, unlike the OpCaches/CompassQueries values),
  // so dead sessions' entries really are collectable — an identityHashCode
  // key would neither be unique (hash collisions silently skip
  // registration for a NEW session) nor ever retire.
  private val currentDir = new java.util.WeakHashMap[SparkSession, String]()

  /** Register all tables as temp views named after the table, so
    * `spark.sql` text matches the DuckDB oracle SQL.
    */
  def registerAll(spark: SparkSession, sfDir: String): Unit = synchronized {
    if (currentDir.get(spark) != sfDir) {
      // Invalidate BEFORE re-registering: if a load below throws (corrupt
      // or drifted table file), some views now point at the new dir while
      // currentDir still claims the old one — the next call must rebuild
      // from scratch rather than skip as "already registered".
      currentDir.remove(spark)
      all.foreach { t => load(spark, sfDir, t).createOrReplaceTempView(t) }
      // The engine's SQL surface includes its functions and optimizer
      // rules — any session that gets the catalog gets the full engine.
      graft.functions.GraftExtensions.register(spark)
      currentDir.put(spark, sfDir)
    }
  }
}
