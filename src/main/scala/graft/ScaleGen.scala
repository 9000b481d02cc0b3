package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-variant generator for the driver's TPC-H-ish test dirs (r17
  * verdict #1: every 100 TB claim was argued but only ever EXECUTED at
  * x10 = 17 MB of parquet). Replicates a source sf dir k-fold with
  * FK-consistent key remapping — replica i offsets every key by
  * i·(domain max + 1), and FK columns use their referenced domain's
  * offset, so join cardinalities scale linearly (each replica joins only
  * within itself, like TPC-H's own scaling) rather than combinatorially.
  * Dimensions (region, nation) stay fixed: at 100 TB, nations don't
  * grow, so dim-join fan-in concentration is part of what scale-up must
  * survive.
  *
  * Replica 0 is byte-identical to the source. For rep > 0:
  *   - documents.text gets a per-replica suffix token (n_chars
  *     recomputed) — replicas stay NEAR-duplicates of each other (the
  *     web-crawl shape: scale-up grows dup-family size, which is
  *     exactly the stressor the LSH/verify paths must survive) while
  *     exact-hash dedup sees distinct texts;
  *   - embeddings get a deterministic epsilon on dimension 0 —
  *     distinct vectors, no knife-edge distance ties at the top-k
  *     boundary between replicas.
  *
  * The output dir has the driver layout (`<table>.parquet`), so the
  * ENTIRE existing harness — Verify, check_oracle.py, Bench — runs on
  * it unchanged: the DuckDB oracle re-derives from the same generated
  * files, keeping scale runs differentially checked, not just timed.
  *
  * Usage: runMain graft.ScaleGen <srcSfDir> <destDir> <k>
  */
object ScaleGen {

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: ScaleGen <srcSfDir> <destDir> <k>")
    val Array(src, dest, kStr) = args.take(3)
    val spark = graft.engine.LocalSession("graft-scalegen")
    generate(spark, src, dest, kStr.toInt)
    spark.stop()
  }

  /** Key domains: (table, key column) → domain name. FKs share the
    * domain of the key they reference.
    */
  private val domains: Map[String, Seq[(String, String)]] = Map(
    "customer" -> Seq("c_custkey" -> "cust"),
    "supplier" -> Seq("s_suppkey" -> "supp"),
    "part" -> Seq("p_partkey" -> "part"),
    "orders" -> Seq("o_orderkey" -> "ord", "o_custkey" -> "cust"),
    "lineitem" -> Seq("l_orderkey" -> "ord", "l_partkey" -> "part",
      "l_suppkey" -> "supp"),
    "events" -> Seq("event_id" -> "event", "user_id" -> "user"),
    "documents" -> Seq("doc_id" -> "doc"),
    "embeddings" -> Seq("vec_id" -> "vec"))

  /** Domain → source column that defines its max (one tiny agg each). */
  private val domainSource: Map[String, (String, String)] = Map(
    "cust" -> ("customer", "c_custkey"),
    "supp" -> ("supplier", "s_suppkey"),
    "part" -> ("part", "p_partkey"),
    "ord" -> ("orders", "o_orderkey"),
    "event" -> ("events", "event_id"),
    "user" -> ("events", "user_id"),
    "doc" -> ("documents", "doc_id"),
    "vec" -> ("embeddings", "vec_id"))

  def generate(spark: SparkSession, src: String, dest: String, k: Int): Unit = {
    require(k >= 1, s"k must be >= 1, got $k")
    val ready = new java.io.File(s"$dest/_SCALE_READY_x$k")
    if (ready.exists()) { println(s"[scalegen] $dest already built (x$k)"); return }
    new java.io.File(dest).mkdirs()

    def load(t: String): DataFrame = Tables.load(spark, src, t)

    // Per-domain stride = max key + 1 (bounded driver reads: one max each).
    val stride: Map[String, Long] = domainSource.map { case (dom, (t, c)) =>
      dom -> (load(t).agg(max(col(c)).cast("long")).head().getLong(0) + 1L)
    }

    // Dimensions copy through unscaled.
    Seq("region", "nation").foreach { t =>
      load(t).write.mode("overwrite").parquet(s"$dest/$t.parquet")
      println(s"[scalegen] $t: copied")
    }

    domains.keys.toSeq.sorted.foreach { t =>
      val base = load(t)
      val keyCols = domains(t).toMap
      val rep = explode(sequence(lit(0), lit(k - 1))).as("rep")
      val exploded = base.withColumn("rep", rep)
      val remapped = base.columns.foldLeft(exploded) { (df, c) =>
        keyCols.get(c) match {
          case Some(dom) =>
            df.withColumn(c,
              (col(c).cast("long") + col("rep").cast("long") * stride(dom))
                .cast(base.schema(c).dataType))
          case None => df
        }
      }
      val perturbed = t match {
        case "documents" =>
          remapped
            .withColumn("text",
              when(col("rep") === 0, col("text"))
                .otherwise(concat(col("text"), lit(" r"),
                  col("rep").cast("string"))))
            .withColumn("n_chars", length(col("text")).cast("long"))
        case "embeddings" =>
          remapped.withColumn("embedding",
            when(col("rep") === 0, col("embedding"))
              .otherwise(transform(col("embedding"), (x, i) =>
                when(i === 0, x + col("rep").cast("float") * lit(1e-4f))
                  .otherwise(x))))
        case _ => remapped
      }
      val out = perturbed.drop("rep")
      // Parallel files sized for downstream 32-thread scans; small tables
      // keep fewer.
      val parts = math.min(32, math.max(4, k))
      out.repartition(parts).write.mode("overwrite").parquet(s"$dest/$t.parquet")
      println(s"[scalegen] $t: x$k written")
    }
    java.nio.file.Files.write(ready.toPath, Array.emptyByteArray)
    println(s"[scalegen] done → $dest")
  }
}
