package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StructField, StructType}

/** The `n` nearest IVF cells of vector `v`: the one cell-ranking kernel
  * under assignment, training and search. `cents` is an
  * array<struct<cell bigint, cv array<double>>>, read by field position
  * (the broadcast centroid-array scalar and ivfTrain's literal model
  * both fit). Returns the ids of the min(n, |cents|) best cells, best
  * first, as array<bigint>.
  *
  * Ranking: dot(v, cv) highest first ([[DotProduct.dot]], so the score
  * is bit-identical to `graft_dot`), ties to the smaller cell id,
  * -0.0 equal to 0.0, and a NaN dot (or NULL cv) last. Elements that
  * are NULL or carry a NULL cell id are skipped. The result is NULL
  * for a NULL vector, a NULL model or a model with no cell left, so
  * its element 0 is NULL rather than an out-of-bounds index.
  */
case class NearestCells(left: Expression, right: Expression, n: Int)
  extends BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _), ArrayType(StructType(Array(
        StructField(_, LongType, _, _), StructField(_, ArrayType(DoubleType, _), _, _))), _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure("graft_nearest_cells requires ARRAY<DOUBLE> " +
      s"and ARRAY<STRUCT<BIGINT, ARRAY<DOUBLE>>>, got ${l.sql} and ${r.sql}")
  }
  override def prettyName: String = "graft_nearest_cells"

  override protected def nullSafeEval(v: Any, cents: Any): Any =
    NearestCells.top(v.asInstanceOf[ArrayData], cents.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, cents) =>
      s"""${ev.value} = graft.functions.NearestCells.top($v, $cents, $n);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object NearestCells {
  /** Shared kernel of the interpreted and generated paths. */
  def top(v: ArrayData, cents: ArrayData, n: Int): ArrayData = {
    val scored = (0 until cents.numElements()).iterator
      .filterNot(cents.isNullAt).map(cents.getStruct(_, 2)).filterNot(_.isNullAt(0))
      .map(c => (if (c.isNullAt(1)) Double.NaN else DotProduct.dot(v, c.getArray(1)), c.getLong(0)))
      .toArray
    if (scored.isEmpty) null
    else UnsafeArrayData.fromPrimitiveArray(scored.sortWith(ranksBefore).take(n).map(_._2))
  }

  /** (dot, cell) pairs: higher dot first, equal dots (-0.0 == 0.0) to
    * the smaller cell, NaN after every number. */
  private def ranksBefore(a: (Double, Long), b: (Double, Long)): Boolean =
    if (a._1 == b._1 || (a._1.isNaN && b._1.isNaN)) a._2 < b._2
    else b._1.isNaN || a._1 > b._1

  /** Column API: the `n` nearest cells of `v` among `cents`. */
  def cells(v: Column, cents: Column, n: Int): Column =
    Bridge.column(NearestCells(Bridge.expression(v), Bridge.expression(cents), n))
}
