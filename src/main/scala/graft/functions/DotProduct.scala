package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst dot-product over two array<double> columns — the
  * SURVEY §4.3 stretch goal: a codegen'd `Expression` replacing the
  * interpreted `aggregate(zip_with(...))` higher-order chain in the
  * vector queries (same left-fold-in-index-order double arithmetic,
  * so results — and oracle parity — are bit-identical; only the
  * execution is compiled instead of interpreted).
  */
case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression {

  // operands are array<double> by construction at every call site
  // (cast before the call); Spark's private[sql] AbstractDataType keeps
  // ExpectsInputTypes out of reach for third-party expressions
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    DotProduct.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      s"""
         |int ${ev.value}_n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double ${ev.value}_acc = 0.0;
         |for (int ${ev.value}_i = 0; ${ev.value}_i < ${ev.value}_n; ${ev.value}_i++) {
         |  ${ev.value}_acc += $x.getDouble(${ev.value}_i) * $y.getDouble(${ev.value}_i);
         |}
         |${ev.value} = ${ev.value}_acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** The dot of `x` and `y` over their shorter length, summed in index
    * order: the interpreted path, and the score [[NearestCells]] ranks
    * by. The generated code above is the same loop. */
  def dot(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }
}

object GraftFunctions {
  /** Column API for [[DotProduct]]. */
  def dot(a: Column, b: Column): Column =
    Bridge.column(DotProduct(Bridge.expression(a), Bridge.expression(b)))

  /** Runtime SQL registration: makes `graft_dot(a, b)` callable from
    * `spark.sql` in this session. Idempotent. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_dot", (exprs: Seq[Expression]) => DotProduct(exprs.head, exprs(1)),
      "built-in")
}
