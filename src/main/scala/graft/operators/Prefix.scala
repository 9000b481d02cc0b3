package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import org.apache.spark.sql.DataFrame

/** Distributed global running aggregates — the scale-safe replacement for
  * `sum(x) OVER (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
  * ROW)`. A partition-less window moves the ENTIRE relation to one task
  * (Spark logs "No Partition Defined ... moving all data to a single
  * partition"); correct at any size, but the one plan shape that cannot
  * survive a 100× scale-up — it was the single `weak` plan left in the
  * r7/r8 audits.
  *
  * Two-pass prefix-sum shape instead (the textbook parallel scan):
  *
  *  1. range-partition by the order key, so partition i holds a
  *     contiguous key range and every partition computes its LOCAL
  *     running sums independently (`Window.partitionBy(_pid)` — a real
  *     partition key, parallel, no warning);
  *  2. per-partition totals — O(#partitions) rows, contractually tiny
  *     like the IVF centroid collect — come to the driver, which
  *     prefix-sums them into per-partition OFFSETS broadcast back;
  *     global running value = local running value + partition offset,
  *     global row index = local row number + partition row offset.
  *
  * Total cost: two balanced full-data shuffles (range + pid-hash) and a
  * broadcast join — no single-task stage anywhere, at any scale.
  *
  * `numPartitions` fixes the range shuffle's partition count; the
  * default (0) leaves it to AQE, which sizes it from the data the
  * shuffle carries. AQE coalesces only ADJACENT range partitions, so
  * every partition still holds one contiguous key range. The locally
  * summed relation is [[OpCaches.materialize]]d, so the partition ids
  * it carries are the ones the offsets are computed from.
  */
object Prefix {

  /** Range partitioning at a fixed count, or at the count AQE picks. */
  private def rangePartitioned(df: DataFrame, numPartitions: Int,
      cols: Seq[org.apache.spark.sql.Column]): DataFrame =
    if (numPartitions > 0) df.repartitionByRange(numPartitions, cols: _*)
    else df.repartitionByRange(cols: _*)

  /** Adds a global 1-based row index (`idxCol`) ordered by `orderCol`,
    * plus one global running-sum column per `(valueCol, outCol)` pair —
    * ROWS-frame semantics: each row's sum covers exactly the rows at or
    * before its index, so (idx, running-sum) pairs are always mutually
    * consistent, including under ties. Value columns must be LONG or
    * DOUBLE (cast first otherwise). Ties on `orderCol` are broken by
    * `tieCols` in order; with no tiebreak, tied rows are ordered
    * arbitrarily-but-consistently (idx and sums still agree — both
    * functions share one window sort; callers needing a REPRODUCIBLE
    * tie order across runs pass a unique `tieCols`). Null values are
    * skipped like SQL `sum`: the running sum stays NULL until the first
    * non-null value, then nulls contribute nothing.
    *
    * `groupCols` generalizes to PER-GROUP running sums — the scale-safe
    * replacement for `sum(x) OVER (PARTITION BY g ORDER BY k ROWS …)`
    * when groups are few but huge (languages, sources, domains): the
    * window form funnels each group into ONE task, so five languages at
    * 100 TB become five straggler tasks. Here the range partitioner
    * splits on (group, order) — a hot group simply spans many
    * partitions — and the driver prefix runs per group over
    * O(#partitions + #groups) total rows (each partition holds whole
    * groups except at its two edges, so the totals relation stays
    * contractually tiny for low-cardinality groups). `idxCol` and the
    * running sums restart at every group boundary.
    */
  def withRunningSums(
      df: DataFrame, orderCol: String,
      sums: Seq[(String, String)], idxCol: String = "_idx",
      numPartitions: Int = 0, tieCols: Seq[String] = Nil,
      groupCols: Seq[String] = Nil, totalCountCol: String = ""): DataFrame = {
    val spark = df.sparkSession
    sums.foreach { case (v, _) =>
      val t = df.schema(v).dataType
      require(t == LongType || t == DoubleType,
        s"withRunningSums: $v must be LONG or DOUBLE, got $t")
    }
    require(totalCountCol.isEmpty || groupCols.isEmpty,
      "withRunningSums: totalCountCol is not supported with groupCols")
    if (groupCols.nonEmpty)
      return withGroupedRunningSums(df, orderCol, sums, idxCol, numPartitions,
        tieCols, groupCols)
    val orderCols = col(orderCol) +: tieCols.map(col)
    val wBase = Window.partitionBy("_pid").orderBy(orderCols: _*)
    // Explicit ROWS frame: the default for an ordered window is RANGE
    // UNBOUNDED PRECEDING..CURRENT ROW, which hands every peer of a tie
    // group the full tie-group sum while row_number keeps counting —
    // diverging from the documented ROWS semantics this operator
    // replaces.
    val wRows = wBase.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = sums.foldLeft(
      rangePartitioned(df, numPartitions, orderCols)
        .withColumn("_pid", spark_partition_id())
        .withColumn("_lidx", row_number().over(wBase).cast("long"))) {
      case (acc, (v, out)) =>
        acc.withColumn(s"_loc_$out", sum(col(v)).over(wRows))
    }
    // Read twice (totals + result join): materialize once. Lazy: the
    // totals collect is the first read and computes every partition.
    val localP = OpCaches.materialize(local, eager = false)
    val aggs = count(lit(1)).as("_n") +:
      sums.map { case (v, out) => sum(col(v)).as(s"_tot_$out") }
    val totals = localP.groupBy("_pid").agg(aggs.head, aggs.tail: _*)
      .orderBy("_pid").collect()
    // Driver-side EXCLUSIVE prefix over the per-partition totals.
    var rowOff = 0L
    val sumOff = Array.fill[Any](sums.size)(null)
    val offsetRows = totals.map { r =>
      val pid = r.getInt(0)
      val vals = sums.indices.map { i =>
        val cur = sumOff(i)
        val tot = r.get(i + 2)
        sumOff(i) = (cur, tot) match {
          case (null, t) => t
          case (c, null) => c
          case (c: Long, t: Long) => c + t
          case (c: Double, t: Double) => c + t
        }
        cur
      }
      val out = org.apache.spark.sql.Row.fromSeq(pid +: rowOff +: vals)
      rowOff += r.getLong(1)
      out
    }.toSeq
    val offSchema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("_pid", org.apache.spark.sql.types.IntegerType) +:
      org.apache.spark.sql.types.StructField("_idx_off", LongType) +:
      sums.map { case (v, out) =>
        org.apache.spark.sql.types.StructField(s"_off_$out", df.schema(v).dataType)
      })
    val offsets = spark.createDataFrame(
      spark.sparkContext.parallelize(offsetRows, 1), offSchema)
    val joined0 = localP.join(broadcast(offsets), "_pid")
      .withColumn(idxCol, col("_lidx") + col("_idx_off"))
    // The per-partition totals are already on the driver, so the global
    // row count is free here — exposing it saves callers that need a
    // denominator (percent_rank-style) a second full pass (r13 advice:
    // q_decile_lift ran an extra count() action for one scalar).
    val joined =
      if (totalCountCol.isEmpty) joined0
      else joined0.withColumn(totalCountCol, lit(rowOff))
    sums.foldLeft(joined) { case (acc, (v, out)) =>
      // Exact SQL running-sum null semantics: NULL while BOTH the local
      // prefix and every earlier partition's total are all-null (no
      // non-null value seen yet globally); otherwise nulls on either
      // side contribute zero. A plain `+` would null out rows whose
      // partition hasn't seen a value even when earlier partitions have.
      val loc = col(s"_loc_$out"); val off = col(s"_off_$out")
      val zero = lit(0).cast(df.schema(v).dataType)
      acc.withColumn(out,
        when(loc.isNull && off.isNull, loc)
          .otherwise(coalesce(loc, zero) + coalesce(off, zero)))
    }.drop(("_pid" +: "_lidx" +: "_idx_off" +:
      sums.flatMap { case (_, out) => Seq(s"_loc_$out", s"_off_$out") }): _*)
  }

  /** The grouped form of [[withRunningSums]] (dispatched via its
    * `groupCols` parameter). Same two-pass shape; the differences:
    *
    *  - the range partitioner keys on (group…, order, tie…), so rows of
    *    one group occupy a contiguous RUN of partitions and a partition
    *    boundary cuts at most one group — the per-(partition, group)
    *    totals relation has ≤ #partitions + #groups − 1 rows;
    *  - local windows partition by (_pid, group…): real partition keys,
    *    parallel, no single-task group stage ever;
    *  - the driver prefix threads per-group accumulators through the
    *    pid-ascending total rows (range contiguity makes pid order =
    *    within-group order), and offsets join back null-safely on
    *    (_pid, group…).
    */
  private def withGroupedRunningSums(
      df: DataFrame, orderCol: String, sums: Seq[(String, String)],
      idxCol: String, numPartitions: Int, tieCols: Seq[String],
      groupCols: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    val orderCols = col(orderCol) +: tieCols.map(col)
    val wBase = Window.partitionBy(("_pid" +: groupCols).map(col): _*)
      .orderBy(orderCols: _*)
    val wRows = wBase.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = sums.foldLeft(
      rangePartitioned(df, numPartitions, groupCols.map(col) ++ orderCols)
        .withColumn("_pid", spark_partition_id())
        .withColumn("_lidx", row_number().over(wBase).cast("long"))) {
      case (acc, (v, out)) =>
        acc.withColumn(s"_loc_$out", sum(col(v)).over(wRows))
    }
    val localP = OpCaches.materialize(local, eager = false)
    val aggs = count(lit(1)).as("_n") +:
      sums.map { case (v, out) => sum(col(v)).as(s"_tot_$out") }
    val totals = localP.groupBy(("_pid" +: groupCols).map(col): _*)
      .agg(aggs.head, aggs.tail: _*).orderBy("_pid").collect()
    val g = groupCols.size
    // Per-group exclusive prefix, threaded through pid-ascending rows.
    final class GState {
      var rowOff = 0L
      val sumOff = Array.fill[Any](sums.size)(null)
    }
    val state = scala.collection.mutable.Map.empty[Seq[Any], GState]
    val offsetRows = totals.map { r =>
      val key: Seq[Any] = (1 to g).map(i => r.get(i))
      val st = state.getOrElseUpdate(key, new GState)
      val vals = sums.indices.map { i =>
        val cur = st.sumOff(i)
        val tot = r.get(g + 2 + i)
        st.sumOff(i) = (cur, tot) match {
          case (null, t) => t
          case (c, null) => c
          case (c: Long, t: Long) => c + t
          case (c: Double, t: Double) => c + t
        }
        cur
      }
      val out = org.apache.spark.sql.Row.fromSeq(
        (r.getInt(0) +: key) ++ (st.rowOff +: vals))
      st.rowOff += r.getLong(g + 1)
      out
    }.toSeq
    val offSchema = org.apache.spark.sql.types.StructType(
      (org.apache.spark.sql.types.StructField("_pid", org.apache.spark.sql.types.IntegerType) +:
        groupCols.map(gc => org.apache.spark.sql.types.StructField(
          s"_g_$gc", df.schema(gc).dataType))) ++
      (org.apache.spark.sql.types.StructField("_idx_off", LongType) +:
        sums.map { case (v, out) => org.apache.spark.sql.types.StructField(
          s"_off_$out", df.schema(v).dataType) }))
    val offsets = spark.createDataFrame(
      spark.sparkContext.parallelize(offsetRows, 1), offSchema)
    // Null-safe equi-join: a null group key is a legitimate group for
    // groupBy, so the offsets must come back to it too.
    val cond = groupCols.foldLeft(localP("_pid") === offsets("_pid")) {
      (c, gc) => c && (localP(gc) <=> offsets(s"_g_$gc"))
    }
    val joined = localP.join(broadcast(offsets), cond)
      .drop(offsets("_pid"))
      .withColumn(idxCol, col("_lidx") + col("_idx_off"))
    sums.foldLeft(joined) { case (acc, (v, out)) =>
      // Same null semantics as the ungrouped path, per group.
      val loc = col(s"_loc_$out"); val off = col(s"_off_$out")
      val zero = lit(0).cast(df.schema(v).dataType)
      acc.withColumn(out,
        when(loc.isNull && off.isNull, loc)
          .otherwise(coalesce(loc, zero) + coalesce(off, zero)))
    }.drop(("_pid" +: "_lidx" +: "_idx_off" +: (groupCols.map(gc => s"_g_$gc") ++
      sums.flatMap { case (_, out) => Seq(s"_loc_$out", s"_off_$out") })): _*)
  }

  /** EXCLUSIVE running minimum — the scale-safe
    * `min(v) OVER ([PARTITION BY g…] ORDER BY k ROWS BETWEEN UNBOUNDED
    * PRECEDING AND 1 PRECEDING)`: each row gets the minimum of `valueCol`
    * over all rows STRICTLY before it in the (group, order, tie…) total
    * order, NULL when none precede (within its group). The dominance /
    * staircase primitive: Pareto fronts ("is any cheaper point also
    * earlier?"), record-so-far flags, high-water marks.
    *
    * Same two-pass shape as [[withRunningSums]]: range partition on
    * (group…, order, tie…), per-(partition, group) local exclusive
    * window (real partition keys — parallel), one tiny per-partition
    * totals collect, driver per-group exclusive prefix-min, broadcast
    * offsets joined back null-safely. `least` merges local and carried
    * minima (it skips NULLs, so a row with no local predecessor still
    * sees earlier partitions' minimum).
    */
  def withRunningMinExclusive(
      df: DataFrame, orderCol: String, valueCol: String, outCol: String,
      numPartitions: Int = 0, tieCols: Seq[String] = Nil,
      groupCols: Seq[String] = Nil): DataFrame = {
    val spark = df.sparkSession
    val t = df.schema(valueCol).dataType
    require(t == LongType || t == DoubleType,
      s"withRunningMinExclusive: $valueCol must be LONG or DOUBLE, got $t")
    val orderCols = col(orderCol) +: tieCols.map(col)
    val wBase = Window.partitionBy(("_pid" +: groupCols).map(col): _*)
      .orderBy(orderCols: _*)
    val wExcl = wBase.rowsBetween(Window.unboundedPreceding, -1)
    val localP = OpCaches.materialize(
      rangePartitioned(df, numPartitions, groupCols.map(col) ++ orderCols)
        .withColumn("_pid", spark_partition_id())
        .withColumn("_lmin", min(col(valueCol)).over(wExcl)),
      eager = false)
    val totals = localP.groupBy(("_pid" +: groupCols).map(col): _*)
      .agg(min(col(valueCol)).as("_tot")).orderBy("_pid").collect()
    val g = groupCols.size
    // Per-group exclusive prefix-min threaded through pid-ascending rows
    // (range contiguity ⇒ pid order = within-group order).
    val state = scala.collection.mutable.Map.empty[Seq[Any], Any]
    val offsetRows = totals.map { r =>
      val key: Seq[Any] = (1 to g).map(i => r.get(i))
      val cur = state.getOrElse(key, null)
      val tot = r.get(g + 1)
      state(key) = (cur, tot) match {
        case (null, x) => x
        case (x, null) => x
        case (a: Long, b: Long) => math.min(a, b)
        case (a: Double, b: Double) => math.min(a, b)
      }
      org.apache.spark.sql.Row.fromSeq((r.getInt(0) +: key) :+ cur)
    }.toSeq
    val offSchema = org.apache.spark.sql.types.StructType(
      (org.apache.spark.sql.types.StructField("_pid", org.apache.spark.sql.types.IntegerType) +:
        groupCols.map(gc => org.apache.spark.sql.types.StructField(
          s"_g_$gc", df.schema(gc).dataType))) :+
      org.apache.spark.sql.types.StructField("_off", t))
    val offsets = spark.createDataFrame(
      spark.sparkContext.parallelize(offsetRows, 1), offSchema)
    val cond = groupCols.foldLeft(localP("_pid") === offsets("_pid")) {
      (c, gc) => c && (localP(gc) <=> offsets(s"_g_$gc"))
    }
    localP.join(broadcast(offsets), cond)
      .drop(offsets("_pid"))
      // least() skips NULLs: NULL out only when neither side has a value.
      .withColumn(outCol, least(col("_lmin"), col("_off")))
      .drop(("_pid" +: "_lmin" +: "_off" +:
        groupCols.map(gc => s"_g_$gc")): _*)
  }

  /** Centered moving aggregate over a global row index — the scale-safe
    * `avg(x) OVER (ORDER BY k ROWS BETWEEN b PRECEDING AND b FOLLOWING)`:
    * each row's value is exploded to the 2b+1 indices whose frame it
    * belongs to and re-aggregated by target index (one shuffle on a LONG
    * key, never a global window). Frames clip at the edges exactly like
    * the window form — absent neighbors simply contribute nothing.
    * Expects `idxCol` from [[withRunningSums]] (gap-free 1..N).
    */
  def withCenteredAvg(
      df: DataFrame, idxCol: String, valueCol: String, outCol: String,
      before: Int = 2, after: Int = 2): DataFrame = {
    val targets = (-after to before).map(d => col(idxCol) + d)
    val contrib = df.select(col(idxCol), col(valueCol))
      .withColumn("_tgt", explode(array(targets: _*)))
      .groupBy("_tgt").agg(avg(valueCol).as(outCol))
    df.join(contrib, df(idxCol) === contrib("_tgt")).drop("_tgt")
  }
}
