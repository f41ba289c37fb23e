package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** Exact scaled-integer dot product of two float-array columns.
  *
  * Each term x*y is an EXACT double (24-bit × 24-bit mantissas fit in 53),
  * scaled by 2^40 and floored to a long; the long sum is exact integer
  * arithmetic. Result: bit-deterministic under any partitioning or
  * evaluation order, and reproducible in any engine as
  * `SUM(CAST(FLOOR(x*y * 2^40) AS BIGINT))` — unlike a double fold, whose
  * value depends on summation order. Precision: 2^-40 per term (~1e-12),
  * far below any similarity threshold.
  *
  * A native Catalyst expression with codegen (a tight Java loop inside
  * whole-stage codegen) rather than a UDF or a higher-order `aggregate`
  * fold: the fold is interpreted per element (~2 ms per 64-dim dot);
  * this runs at memory speed.
  */
case class DotScaled(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def dataType: DataType = LongType

  // analysis-time type check: without it, array<double> inputs pass
  // analysis and codegen reads 4-byte float slots out of 8-byte double
  // storage — plausible-looking but wrong products, silently
  // (return type inferred: AbstractDataType is not public in Spark 4)
  override def inputTypes = Seq(ArrayType(FloatType), ArrayType(FloatType))

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      val p = a.getFloat(i).toDouble * b.getFloat(i).toDouble
      s += math.floor(p * DotScaled.Scale).toLong
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // freshName, not fixed names: two graft_dot calls compiled into one
      // whole-stage-codegen method would otherwise declare the same Java
      // locals twice and Janino would reject the stage (falling back to
      // the interpreted path this expression exists to avoid)
      val n = ctx.freshName("dotN")
      val s = ctx.freshName("dotS")
      val i = ctx.freshName("dotI")
      val p = ctx.freshName("dotP")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $p = ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |  $s += (long) java.lang.Math.floor($p * ${DotScaled.Scale}D);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DotScaled {
  /** 2^40 — scale factor for the fixed-point terms. */
  val Scale: Double = 1099511627776.0

  /** [[Scale]] as the literal text SQL expressions embed: "1099511627776.0",
    * a DECIMAL literal; append `D` for a DOUBLE literal. */
  val ScaleSql: String = s"${Scale.toLong}.0"

  /** Arity-checked constructor shared by both registration paths, so a
    * wrong argument count fails with the signature in the message
    * instead of a raw IndexOutOfBoundsException. */
  def fromArgs(exprs: Seq[Expression]): DotScaled = {
    require(exprs.length == 2,
      s"graft_dot(array<float>, array<float>) takes exactly 2 arguments, got ${exprs.length}")
    DotScaled(exprs(0), exprs(1))
  }

  /** Register `graft_dot(arr, arr) -> bigint` in the session's function
    * registry so it is usable from `expr(...)` and SQL. Idempotent. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("graft_dot")))
      reg.createOrReplaceTempFunction(
        "graft_dot", exprs => fromArgs(exprs), "built-in")
  }
}
