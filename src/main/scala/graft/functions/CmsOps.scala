package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.CountMinSketch

/** Point-frequency queries against a serialized Count-Min sketch — the
  * read side of Spark's native `count_min_sketch` aggregate (the second
  * sketch family beside FAGMS: CMS answers per-key frequency with the
  * ε·N / δ guarantee, FAGMS answers join sizes). The aggregate is
  * mergeable map-side partials like every sketch here; this expression
  * lets the ESTIMATE stay inside the plan instead of a driver-side loop
  * over probe keys.
  *
  * The intended sketch operand is a `lit(bytes)` — the aggregate's
  * one-row output re-entering the plan as a broadcast literal, exactly
  * how k-means centroids travel. When the (post-analysis) operand is
  * foldable, deserialization happens once per task via the lazy cache;
  * a genuinely row-varying sketch column still evaluates correctly but
  * deserializes per row. (Foldability cannot be checked at construction:
  * a `lit()` arrives as a lazily-converted ColumnNodeExpression that
  * reports non-foldable until the plan is analyzed.)
  *
  * CodegenFallback is fine here: probes are key-cardinality rows (the
  * grouped side of a frequency check), never the corpus-sized hot path.
  */
final case class CmsEstimate(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def prettyName: String = "cms_estimate"

  private def deserialize(v: Any): CountMinSketch =
    CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(v.asInstanceOf[Array[Byte]]))

  @transient private lazy val cachedCms: CountMinSketch =
    deserialize(left.eval())

  override def nullSafeEval(sketchBytes: Any, key: Any): Any = {
    val item: Any = key match {
      // Spark's CMS hashes JVM Integer/Long/String; unwrap UTF8String.
      case s: UTF8String => s.toString
      case other => other
    }
    val cms = if (left.foldable) cachedCms else deserialize(sketchBytes)
    cms.estimateCount(item)
  }

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = right.dataType match {
      case IntegerType | LongType | StringType => true
      case _ => false
    }
    if (!ok)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"cms_estimate key must be int/bigint/string, got ${right.dataType}")
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CmsEstimate =
    copy(left = newLeft, right = newRight)
}

object CmsOps {
  def cms_estimate(sketch: Column, key: Column): Column =
    Bridge.column(CmsEstimate(Bridge.expr(sketch), Bridge.expr(key)))
}
