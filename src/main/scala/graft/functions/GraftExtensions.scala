package graft.functions

import graft.sketch.{ColumnSeeds, Estimator, SketchGroup}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** SQL-facing registration of the sketch machinery
  * (SparkSessionExtensions — SURVEY §7.3 "registered via
  * SparkSessionExtensions"; ≙ the reference registering `kFAGMS_SKETCH`
  * as a new SQLAgg kind, mapd-core/Shared/sqldefs.h:66):
  *
  * {{{
  *   spark.sql.extensions=graft.functions.GraftExtensions   // or
  *   GraftExtensions.register(spark)                        // existing session
  *
  *   SELECT fagms_pairwise(
  *     (SELECT fagms_sketch('orders_class', l_orderkey) FROM lineitem),
  *     (SELECT fagms_sketch('orders_class', o_orderkey) FROM orders))
  * }}}
  *
  * `fagms_sketch(seedClass, keys...)`: the first argument is a literal
  * seed-class name; any two calls with the SAME class get the SAME seeds
  * (positionally), which is the cross-table seed-sharing contract the
  * estimates require (reference: FilterPushDownSketch.cpp:1280-1373).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    // Pre-CBO, NOT injectOptimizerRule: the latter joins the operator-
    // optimization FIXED-POINT batch, while DeferProjectPastTopK's
    // stability argument (see its doc) assumes the fixed point has already
    // settled. Pre-CBO rules run exactly once after that batch — the same
    // post-settlement semantics as the `register()` path's
    // extraOptimizations, just earlier in the final batches.
    ext.injectPreCBORule(_ => graft.plans.DeferProjectPastTopK)
  }
}

object GraftExtensions {
  import graft.planner.CompassSession.{SketchBuckets, SketchRows}

  /** Deterministic per-(class, position) seeds — equal classes → equal
    * seeds, the SQL-level analogue of SeedRegistry classes.
    */
  private def seedsFor(seedClass: String, i: Int): ColumnSeeds = {
    val h = (seedClass + ":" + i).hashCode.toLong & 0xFFFFFFFFL
    ColumnSeeds.deterministic(SketchRows, 0x5EEDC0DEL ^ (h * 0x9E3779B97F4A7C15L))
  }

  private def sketchBuilder(children: Seq[Expression]): Expression = {
    require(children.size >= 2,
      "fagms_sketch(seedClass, key1, ...) needs a seed class and at least one key")
    val seedClass = children.head match {
      case Literal(s, StringType) => s.toString
      case other => throw new IllegalArgumentException(
        s"fagms_sketch: seedClass must be a string literal, got $other")
    }
    val keys = children.tail
    FagmsSketchAgg(
      keys, SketchRows, SketchBuckets,
      keys.indices.map(i => s"k$i"),
      keys.indices.map(i => seedsFor(seedClass, i))
    ).toAggregateExpression()
  }

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("fagms_sketch"),
      new ExpressionInfo(classOf[FagmsSketchAgg].getName, "fagms_sketch"),
      sketchBuilder _),
    (FunctionIdentifier("fagms_pairwise"),
      new ExpressionInfo(classOf[FagmsPairwise].getName, "fagms_pairwise"),
      (c: Seq[Expression]) => { require(c.size == 2); FagmsPairwise(c(0), c(1)) }),
    (FunctionIdentifier("fagms_count"),
      new ExpressionInfo(classOf[FagmsCount].getName, "fagms_count"),
      (c: Seq[Expression]) => { require(c.size == 1); FagmsCount(c.head) }),
    (FunctionIdentifier("fagms_selfjoin"),
      new ExpressionInfo(classOf[FagmsSelfJoin].getName, "fagms_selfjoin"),
      (c: Seq[Expression]) => { require(c.size == 1); FagmsSelfJoin(c.head) }),
    (FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VectorDot].getName, "vec_dot"),
      (c: Seq[Expression]) => { require(c.size == 2); VectorDot(c(0), c(1)) }),
    // Text-dedup kernels, SQL-facing: the same compiled Expressions the
    // DataFrame operators use (TextDedup/TextAnalysis), so a pure-SQL user
    // gets shingling, MinHash, SimHash and n-gram hashing first-class:
    //   SELECT doc_id, minhash_sig(shingle_hashes(text, 3), 64) FROM docs
    (FunctionIdentifier("shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashesExpr].getName, "shingle_hashes"),
      (c: Seq[Expression]) => {
        require(c.size == 2, "shingle_hashes(text, k)")
        ShingleHashesExpr(c(0), litInt(c(1), "shingle_hashes: k"))
      }),
    (FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinhashSigExpr].getName, "minhash_sig"),
      (c: Seq[Expression]) => {
        require(c.size == 2 || c.size == 3, "minhash_sig(shingles, numHashes[, seed])")
        val n = litInt(c(1), "minhash_sig: numHashes")
        val seed = if (c.size == 3) litLong(c(2), "minhash_sig: seed") else 0x317EL
        MinhashSigExpr(c(0),
          graft.operators.TextDedup.minhashParams(n, seed).toIndexedSeq)
      }),
    (FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[Simhash64Expr].getName, "simhash64"),
      (c: Seq[Expression]) => { require(c.size == 1, "simhash64(text)"); Simhash64Expr(c.head) }),
    (FunctionIdentifier("ngram_hashes"),
      new ExpressionInfo(classOf[NgramHashesExpr].getName, "ngram_hashes"),
      (c: Seq[Expression]) => {
        require(c.size == 2, "ngram_hashes(text, n)")
        NgramHashesExpr(c(0), litInt(c(1), "ngram_hashes: n"))
      }),
    // vec_avg(embedding) → array<double> element-wise mean (mean pooling
    // / centroids; see VecAvgAgg).
    (FunctionIdentifier("vec_avg"),
      new ExpressionInfo(classOf[VecAvgAgg].getName, "vec_avg"),
      (c: Seq[Expression]) => {
        require(c.size == 1, "vec_avg(vec)")
        VecAvgAgg(c.head).toAggregateExpression()
      }),
    // misra_gries(key, k) → array<struct<key,cnt>> heavy-hitter candidate
    // summary (mergeable; see MisraGriesAgg / HeavyHitters.topK).
    (FunctionIdentifier("misra_gries"),
      new ExpressionInfo(classOf[MisraGriesAgg].getName, "misra_gries"),
      (c: Seq[Expression]) => {
        require(c.size == 2, "misra_gries(key, k)")
        MisraGriesAgg(c(0), litInt(c(1), "misra_gries: k")).toAggregateExpression()
      }),
    // lsh_sigs(vec, bits, tables, dim[, seed]) → array<long> of per-table
    // bucket ids — the same deterministic hyperplanes the Similarity
    // operators use, so SQL-side bucketing joins against operator-side
    // bucketing.
    // interleave_bits(x, y) → BIGINT Morton code (z-order clustering key;
    // see ZOrderKernel — sort/range-partition by it for 2-D data skipping).
    (FunctionIdentifier("interleave_bits"),
      new ExpressionInfo(classOf[InterleaveBits].getName, "interleave_bits"),
      (c: Seq[Expression]) => {
        require(c.size == 2, "interleave_bits(x, y)")
        InterleaveBits(c(0), c(1))
      }),
    (FunctionIdentifier("lsh_sigs"),
      new ExpressionInfo(classOf[LshSigsExpr].getName, "lsh_sigs"),
      (c: Seq[Expression]) => {
        require(c.size == 4 || c.size == 5, "lsh_sigs(vec, bits, tables, dim[, seed])")
        val bits = litInt(c(1), "lsh_sigs: bits")
        val tables = litInt(c(2), "lsh_sigs: tables")
        val dim = litInt(c(3), "lsh_sigs: dim")
        val seed = if (c.size == 5) litLong(c(4), "lsh_sigs: seed") else 0xA5CE11L
        val planes = graft.operators.Similarity
          .hyperplanes(dim, bits, tables, seed).flatten.flatten
        LshSigsExpr(c(0), planes.toIndexedSeq, tables, bits, dim)
      }),
    // bloom_agg(key, expectedItems[, fpp]) → binary bitset;
    // bloom_might_contain(sketch, key) → boolean probe (see BloomOps —
    // the semi-join pre-filter sketch family).
    (FunctionIdentifier("bloom_agg"),
      new ExpressionInfo(classOf[BloomFilterAgg].getName, "bloom_agg"),
      (c: Seq[Expression]) => {
        require(c.size == 2 || c.size == 3, "bloom_agg(key, expectedItems[, fpp])")
        val items = litLong(c(1), "bloom_agg: expectedItems")
        val fpp = if (c.size == 3) litDouble(c(2), "bloom_agg: fpp") else 0.03
        BloomFilterAgg(c(0), items, fpp).toAggregateExpression()
      }),
    (FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(classOf[BloomMightContain].getName, "bloom_might_contain"),
      (c: Seq[Expression]) => {
        require(c.size == 2, "bloom_might_contain(sketch, key)")
        BloomMightContain(c(0), c(1))
      }))

  private def litInt(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def litLong(e: Expression, what: String): Long = e match {
    case Literal(v: Int, IntegerType) => v.toLong
    case Literal(v: Long, LongType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def litDouble(e: Expression, what: String): Double = e match {
    case Literal(v: Double, DoubleType) => v
    case Literal(v: java.math.BigDecimal, _: DecimalType) => v.doubleValue()
    case Literal(v: org.apache.spark.sql.types.Decimal, _: DecimalType) => v.toDouble
    case other => throw new IllegalArgumentException(
      s"$what must be a numeric literal, got $other")
  }

  /** Register into an already-built session (tests, notebooks). The
    * optimizer rule goes into the post-optimizer `extraOptimizations`
    * batch — the only rule-injection point that exists after session
    * build, with the same post-fixed-point semantics as the extensions
    * class's pre-CBO injection: the main operator-optimization fixed
    * point (column pruning, `PushProjectionThroughLimitAndOffset`) has
    * fully settled before the rule runs. A session BUILT with the
    * extensions class already carries the rule pre-CBO, so `register()`
    * on such a session skips the second injection (the rule's output
    * shape does not re-match it, so a double application would be a
    * no-op anyway — this just keeps it out of the plan-rule list twice).
    */
  def register(spark: SparkSession): Unit = {
    functions.foreach {
      case (ident, info, builder) =>
        spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }
    val viaExtensions = spark.conf
      .getOption("spark.sql.extensions").getOrElse("")
      .contains(classOf[GraftExtensions].getName)
    val em = spark.experimental
    if (!viaExtensions && !em.extraOptimizations.contains(graft.plans.DeferProjectPastTopK))
      em.extraOptimizations = em.extraOptimizations :+ graft.plans.DeferProjectPastTopK
  }
}

/** Pairwise join-size estimate over two serialized sketches (plane 0 of
  * each group). Driver math is microseconds; the expression only touches
  * two ~600 KB binaries.
  */
case class FagmsPairwise(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("fagms_pairwise expects two binary sketches")
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val ga = SketchGroup.deserialize(a.asInstanceOf[Array[Byte]])
    val gb = SketchGroup.deserialize(b.asInstanceOf[Array[Byte]])
    require(ga.rows == gb.rows && ga.buckets == gb.buckets,
      "sketch dimensions differ")
    Estimator.pairwise(ga.planes(0), gb.planes(0), ga.rows, ga.buckets)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): FagmsPairwise =
    copy(left = l, right = r)
  override def prettyName: String = "fagms_pairwise"
}

/** Self-join size estimate over one serialized sketch (plane 0):
  * median over rows of Σ_b s[r][b]² — the reference's Size_Of_Join for a
  * relation with itself (mapd-core/QueryEngine/Sketch/Sketches.h:206-219).
  */
case class FagmsSelfJoin(child: Expression)
  extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("fagms_selfjoin expects a binary sketch")
  override protected def nullSafeEval(v: Any): Any = {
    val g = SketchGroup.deserialize(v.asInstanceOf[Array[Byte]])
    Estimator.selfJoin(g.planes(0), g.rows, g.buckets)
  }
  override protected def withNewChildInternal(c: Expression): FagmsSelfJoin =
    copy(child = c)
  override def prettyName: String = "fagms_selfjoin"
}

/** Surviving-row count carried by a serialized sketch. */
case class FagmsCount(child: Expression)
  extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("fagms_count expects a binary sketch")
  override protected def nullSafeEval(v: Any): Any =
    SketchGroup.deserialize(v.asInstanceOf[Array[Byte]]).count
  override protected def withNewChildInternal(c: Expression): FagmsCount =
    copy(child = c)
  override def prettyName: String = "fagms_count"
}
