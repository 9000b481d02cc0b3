package graft.functions

import graft.sketch.{ColumnSeeds, SketchGroup, Xi}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{BinaryType, ByteType, DataType, IntegerType, LongType, ShortType}

/** `fagms_sketch(col1, …, colN)` — Spark aggregate that streams every input
  * row's join-column values into a Fast-AGMS [[SketchGroup]] (one plane per
  * column) and counts rows in the same pass.
  *
  * This is the Spark-native replacement for the reference's `kFAGMS_SKETCH`
  * SQLAgg kind (reference: mapd-core/Shared/sqldefs.h:66; CPU runtime
  * mapd-core/QueryEngine/RuntimeFunctions.cpp:304-340
  * `agg_count_and_update_sketch`; GPU per-block sketches reduced on the host
  * mapd-core/QueryEngine/cuda_mapd_rt.cu:730-804). Spark's partial/final
  * aggregation replaces the hand-rolled block reduction: `update` runs
  * map-side on each partition, `merge` adds partial sketches element-wise
  * (sketches are linear). The final merge sits behind a single-partition
  * exchange, so under AQE a build is two jobs plus a shuffle of the
  * partials. COMPASS therefore builds through
  * [[graft.planner.CompassSession.buildSketch]] (one job, no exchange),
  * which is bit-identical to this aggregate over the same keys.
  *
  * Inputs must be LongType (the planner folds/casts/hashes other types);
  * NULL keys are skipped for that column but still counted via plane 0
  * semantics of the reference (a NULL never joins — we skip the whole row,
  * matching an inner-join pre-filter).
  */
case class FagmsSketchAgg(
    keys: Seq[Expression],
    rows: Int,
    buckets: Int,
    columnNames: Seq[String],
    seeds: Seq[ColumnSeeds],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[SketchGroup] {

  override def children: Seq[Expression] = keys
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): TypeCheckResult = {
    val bad = keys.filterNot(k =>
      k.dataType == LongType || k.dataType == IntegerType ||
        k.dataType == ShortType || k.dataType == ByteType)
    if (bad.isEmpty) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"fagms_sketch requires integral key columns, got: ${bad.map(_.dataType.simpleString).mkString(", ")}")
  }

  override def createAggregationBuffer(): SketchGroup =
    new SketchGroup(rows, buckets, columnNames.toArray, seeds.toArray)

  override def update(buffer: SketchGroup, input: InternalRow): SketchGroup = {
    val n = keys.length
    val folded = new Array[Int](n)
    var i = 0
    while (i < n) {
      val v = keys(i).eval(input)
      if (v == null) return buffer // NULL key never joins; skip row
      folded(i) = v match {
        case l: java.lang.Long => Xi.fold64(l)
        case n: java.lang.Number => Xi.fold64(n.longValue())
        case other => throw new IllegalStateException(
          s"fagms_sketch: non-integral key value $other (${other.getClass})")
      }
      i += 1
    }
    buffer.update(folded)
    buffer
  }

  override def merge(b1: SketchGroup, b2: SketchGroup): SketchGroup = {
    b1.merge(b2); b1
  }

  override def eval(buffer: SketchGroup): Any = buffer.serialize()

  override def serialize(buffer: SketchGroup): Array[Byte] = buffer.serialize()
  override def deserialize(bytes: Array[Byte]): SketchGroup = SketchGroup.deserialize(bytes)

  override def withNewMutableAggBufferOffset(o: Int): FagmsSketchAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): FagmsSketchAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): FagmsSketchAgg =
    copy(keys = c)

  override def prettyName: String = "fagms_sketch"
}

object SketchFunctions {
  /** Column API: `df.agg(fagms_sketch(73, 1021, names, seeds, $"k1".cast("long"), …))`
    * → one BinaryType cell containing the serialized SketchGroup.
    */
  def fagms_sketch(
      rows: Int,
      buckets: Int,
      columnNames: Seq[String],
      seeds: Seq[ColumnSeeds],
      cols: Column*): Column = {
    val agg = FagmsSketchAgg(cols.map(Bridge.expr), rows, buckets, columnNames, seeds)
    Bridge.column(agg.toAggregateExpression())
  }
}
