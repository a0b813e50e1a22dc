package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression for float32 cosine similarity over two
  * `array<float>` columns — the fused form of
  * `SimilarityOps.cosineF32` (SURVEY.md §7 "custom (b)": a scalar the
  * built-ins can only express via zip_with + three aggregate folds, each
  * materializing an intermediate array per row).
  *
  * One loop ([[CosineF32.cosine]], which the generated code calls),
  * three float accumulators, zero allocations.
  * Arithmetic is bit-identical to the HOF version (and to engines that
  * keep FLOAT[] kernels in single precision): float multiply-accumulate
  * in element order, float sqrt (double sqrt of a float rounds exactly
  * to the float sqrt), float divide, widened to double at the end.
  */
case class CosineF32(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"cosine_f32 expects two array<float> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true // ragged pair → null

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    // length mismatch → null, exactly like the HOF kernel (zip_with
    // pads the shorter side with nulls, nulling the whole fold) — a
    // truncated prefix similarity would be a silent wrong answer
    if (x.numElements() != y.numElements()) null
    else CosineF32.cosine(x, y)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
        if ($a.numElements() != $b.numElements()) {
          ${ev.isNull} = true;
        } else {
          ${ev.value} = ${classOf[CosineF32].getName}.cosine($a, $b);
        }
      """)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineF32 =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "cosine_f32"
}

object CosineF32 {
  /** The float32 cosine of two equal-length float arrays: the one loop
    * behind the expression (interpreted and generated code) and the
    * driver-side callers that must agree with it bit for bit
    * (`SimilarityOps.semanticDedup`'s driver path). A zero-norm side
    * gives NaN. */
  def cosine(x: ArrayData, y: ArrayData): Double = {
    val n = x.numElements()
    var dot = 0.0f; var na = 0.0f; var nb = 0.0f
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i); val yi = y.getFloat(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    (dot / (math.sqrt(na.toDouble).toFloat *
      math.sqrt(nb.toDouble).toFloat)).toDouble
  }

  /** Column-API form. */
  def cosineF32Native(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(CosineF32(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** SQL registration: `SELECT cosine_f32(a, b)`. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_f32", exprs => CosineF32(exprs(0), exprs(1)), "scala_udf")
}
