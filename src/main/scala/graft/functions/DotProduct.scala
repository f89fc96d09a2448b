package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.PlanBridge.{column, expression}
import org.apache.spark.sql.types._

/** Native Catalyst expression: dot product of two ArrayType(DoubleType)
  * columns with whole-stage-codegen support.
  *
  * Why custom (SURVEY §4.3): the higher-order-function spelling
  * `aggregate(zip_with(a, b, _*_), 0d, _+_)` materializes the zipped array
  * and interprets two lambdas per row — measured ~5× slower on the n² pair
  * space of sim_search_topk. This expression generates a single fused loop
  * over the two ArrayData buffers (no allocation, no virtual calls), keeping
  * the similarity join inside WholeStageCodegen.
  *
  * Determinism: strictly left-to-right accumulation — bit-identical to the
  * sequential HOF fold it replaces, on every partitioning.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot requires two array<double> arguments, got ${left.dataType} / ${right.dataType}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    DotProduct.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      (a, b) => s"${ev.value} = graft.functions.DotProduct.dot($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** Shared by interpreted and generated code. Mismatched lengths raise
    * rather than silently truncating — a ragged embedding is a data-quality
    * defect that must not flow into similarity rankings unnoticed. */
  def dot(x: ArrayData, y: ArrayData): Double = {
    val n = x.numElements()
    if (y.numElements() != n)
      throw new IllegalArgumentException(
        s"graft_dot: vector length mismatch ($n vs ${y.numElements()})")
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }
}

/** The SQL table and the Column entry points for graft's native expressions. */
object GraftFunctions {

  /** Resolve a parameter that must be a foldable integer (e.g. numPerm) —
    * a clear error beats a ClassCastException from a blind eval cast when a
    * SQL user passes a column or a BIGINT literal. */
  private def intParam(e: Expression, fn: String): Int = {
    if (!e.foldable)
      throw new IllegalArgumentException(s"$fn: parameter must be a literal integer, got ${e.sql}")
    e.eval() match {
      case i: Int => i
      case l: Long if l.isValidInt => l.toInt
      case s: Short => s.toInt
      case b: Byte => b.toInt
      case other =>
        throw new IllegalArgumentException(s"$fn: parameter must be an integer literal, got $other")
    }
  }

  /** One SQL function: `build` gets the call's arguments and `int(i)`, the
    * i-th argument checked by [[intParam]]. */
  private def fn(name: String, cls: Class[_ <: Expression])(
      build: (Seq[Expression], Int => Int) => Expression)
      : (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
      (args: Seq[Expression]) => build(args, i => intParam(args(i), name)))

  /** Every `graft_*` SQL function, defined once: [[graft.GraftExtensions]]
    * injects this table into new sessions and [[register]] installs it into
    * an existing one. */
  val table: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    fn("graft_dot", classOf[DotProduct])((a, _) => DotProduct(a(0), a(1))),
    fn("graft_minhash_sig", classOf[MinHashSig])((a, int) => MinHashSig(a(0), int(1))),
    fn("graft_simhash64", classOf[SimHash64])((a, _) => SimHash64(a(0))),
    fn("graft_winnow_mins", classOf[WinnowMins])((a, int) => WinnowMins(a(0), int(1))),
    fn("graft_heavy_hitters", classOf[SpaceSavingTopK])(
      (a, int) => SpaceSavingTopK(a(0), int(1))),
    fn("graft_bloom_might_contain", classOf[BloomMightContain])(
      (a, _) => BloomMightContain(a(0), a(1))),
    fn("graft_hyperplane_buckets", classOf[HyperplaneBuckets])(
      (a, int) => HyperplaneBuckets(a(0), int(1), int(2))),
    fn("graft_theta_sketch", classOf[ThetaSketchAgg])((a, int) => ThetaSketchAgg(a(0), int(1))),
    fn("graft_theta_estimate", classOf[ThetaEstimate])((a, _) => ThetaEstimate(a(0))),
    fn("graft_theta_union", classOf[ThetaUnionOp])(
      (a, int) => ThetaUnionOp(a(0), a(1), int(2))),
    fn("graft_theta_intersect", classOf[ThetaIntersectOp])(
      (a, _) => ThetaIntersectOp(a(0), a(1))),
    fn("graft_theta_anotb", classOf[ThetaAnotBOp])((a, _) => ThetaAnotBOp(a(0), a(1))))

  /** Makes the `graft_*` names callable from SQL on a session built without
    * [[graft.GraftExtensions]]. Idempotent: a name the session already has
    * is left as it is. The Column helpers below never need this. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    registry.synchronized {
      for ((id, info, builder) <- table if !registry.functionExists(id))
        registry.registerFunction(id, info, builder)
    }
  }

  def dot(a: Column, b: Column): Column = column(DotProduct(expression(a), expression(b)))

  def minhashSig(elementHashes: Column, numPerm: Int): Column =
    column(MinHashSig(expression(elementHashes), numPerm))

  def simhash64(elementHashes: Column): Column = column(SimHash64(expression(elementHashes)))

  def winnowMins(elementHashes: Column, window: Int): Column =
    column(WinnowMins(expression(elementHashes), window))

  def heavyHitters(item: Column, capacity: Int): Column =
    column(SpaceSavingTopK(expression(item), capacity).toAggregateExpression())

  def hyperplaneBuckets(vec: Column, numTables: Int, numBits: Int): Column =
    column(HyperplaneBuckets(expression(vec), numTables, numBits))

  /** `filterBytes` is the `spark.util.sketch.BloomFilter` wire format
    * (`writeTo`). */
  def bloomMightContain(key: Column, filterBytes: Array[Byte]): Column =
    column(BloomMightContain(expression(key), Literal(filterBytes)))

  /** Theta sketch family (distinct-set algebra). */
  def thetaSketch(item: Column, lgK: Int): Column =
    column(ThetaSketchAgg(expression(item), lgK).toAggregateExpression())
  def thetaEstimate(sk: Column): Column = column(ThetaEstimate(expression(sk)))
  def thetaUnion(a: Column, b: Column, lgK: Int): Column =
    column(ThetaUnionOp(expression(a), expression(b), lgK))
  def thetaIntersect(a: Column, b: Column): Column =
    column(ThetaIntersectOp(expression(a), expression(b)))
  def thetaAnotB(a: Column, b: Column): Column =
    column(ThetaAnotBOp(expression(a), expression(b)))
}
