package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Spark 4 hides Column↔Expression and LogicalPlan↔DataFrame conversion
  * behind `private[sql]` (org.apache.spark.sql.classic.*). This bridge lives
  * in the org.apache.spark.sql namespace to expose exactly those
  * conversions to graft's planner — no Spark internals are modified.
  * The COMPASS splice's leaf over kept rows needs no hidden API, so it is
  * not here: it is [[graft.planner.KeptRows]], planned by its own strategy.
  */
object Bridge {
  def expr(c: Column): Expression = ExpressionUtils.expression(c)
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** DataFrame over an arbitrary (resolved) logical plan. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Rows packed the way Spark ships a collect to the driver
    * (`SparkPlan.getByteArrayRdd`, whose codec lookup is `private[spark]`):
    * size-prefixed `UnsafeRow` bytes through the configured compression
    * codec — a fraction of the bytes, and of the serialization work, of
    * an array of row objects.
    */
  def packRows(rows: Iterator[InternalRow]): Array[Byte] = {
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(org.apache.spark.io.CompressionCodec
      .createCodec(org.apache.spark.SparkEnv.get.conf).compressedOutputStream(bytes))
    val buffer = new Array[Byte](4096)
    rows.foreach { r =>
      val row = r.asInstanceOf[UnsafeRow]
      out.writeInt(row.getSizeInBytes)
      row.writeToStream(out, buffer)
    }
    out.writeInt(-1)
    out.close()
    bytes.toByteArray
  }

  /** The rows [[packRows]] packed, each with `fields` columns. */
  def unpackRows(packed: Array[Byte], fields: Int): Iterator[InternalRow] = {
    val in = new java.io.DataInputStream(org.apache.spark.io.CompressionCodec
      .createCodec(org.apache.spark.SparkEnv.get.conf)
      .compressedInputStream(new java.io.ByteArrayInputStream(packed)))
    val rows = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    var size = in.readInt()
    while (size >= 0) {
      val b = new Array[Byte](size)
      in.readFully(b)
      val row = new UnsafeRow(fields)
      row.pointTo(b, size)
      rows += row
      size = in.readInt()
    }
    in.close()
    rows.iterator
  }

  /** Per-join `numOutputRows` metrics of an EXECUTED physical plan, in
    * pre-order (root-most join first), descending through AQE wrappers and
    * query stages. On a left-deep join spine this is every prefix's true
    * cardinality from one execution — the measurement
    * [[graft.planner.OptimizerQuality]] reads instead of re-executing
    * O(n) prefix plans. Lives here because the adaptive-plan accessors
    * are `private[sql]`.
    */
  def joinOutputRows(plan: org.apache.spark.sql.execution.SparkPlan): Seq[Long] = plan match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      joinOutputRows(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      joinOutputRows(q.plan)
    case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
      j.metrics.get("numOutputRows").map(_.value).toSeq ++
        j.children.flatMap(joinOutputRows)
    case other => other.children.flatMap(joinOutputRows)
  }

  /** Leaf data-source output attribute sets of an EXECUTED physical plan
    * in left-to-right traversal order, descending through AQE wrappers,
    * query stages, and exchange reuse. On a left-deep join spine this
    * sequence IS the executed join order's leaf sequence — the guard
    * CompassOrderGuardSpec compares against the enumerator's choice.
    * Lives here with [[joinOutputRows]] for the same `private[sql]`
    * accessor reason.
    */
  def leafOutputs(plan: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.catalyst.expressions.AttributeSet] = plan match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      leafOutputs(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      leafOutputs(q.plan)
    // A reused exchange replaces a whole subtree; its `output` carries
    // the exprIds expected at THIS position, which is exactly the
    // identity the order comparison needs.
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
      Seq(org.apache.spark.sql.catalyst.expressions.AttributeSet(r.output))
    case l if l.children.isEmpty =>
      Seq(org.apache.spark.sql.catalyst.expressions.AttributeSet(l.output))
    case other => other.children.flatMap(leafOutputs)
  }

  /** The pre-CBO rule list an extensions instance would install — lets
    * specs assert WHERE a rule was injected without building a whole
    * session around the extensions class (`buildPreCBORules` is
    * `private[sql]`).
    */
  def preCBORules(ext: org.apache.spark.sql.SparkSessionExtensions,
      spark: SparkSession): Seq[org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan]] =
    ext.buildPreCBORules(spark)

  /** Block until every event posted so far has reached the registered
    * listeners (the bus is `private[spark]`), so a count read afterwards
    * is exact. Gives up with a `TimeoutException` after 60 s.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
