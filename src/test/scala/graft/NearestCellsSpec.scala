package graft

import graft.functions.NearestCells
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Native NearestCells expression: the ranking against a plain-Scala
  * reference sort, the interpreted and generated paths against each
  * other, and its place inside a whole-stage codegen stage. */
class NearestCellsSpec extends SparkSpecBase {
  import spark.implicits._

  private val centsType = ArrayType(StructType(Seq(
    StructField("cell", LongType), StructField("cv", ArrayType(DoubleType)))))

  /** A model element: NULL, or a cell id with a NULL or present cv. */
  private type Cent = Option[(Long, Option[Seq[Double]])]

  /** (−dot, cell) ascending with -0.0 equal to 0.0, NaN dots (and
    * NULL cv) after every number, NULL elements skipped. */
  private def reference(v: Seq[Double], cents: Seq[Cent], n: Int): Option[Seq[Long]] = {
    val scored = cents.flatten.map { case (cell, cv) =>
      (cv.map(c => v.zip(c).foldLeft(0.0) { case (acc, (a, b)) => acc + a * b })
         .getOrElse(Double.NaN), cell)
    }
    val (nan, num) = scored.partition(_._1.isNaN)
    val ranked = num.sortBy { case (d, cell) => (-(d + 0.0), cell) }(
      Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)) ++ nan.sortBy(_._2)
    if (ranked.isEmpty) None else Some(ranked.take(n).map(_._2))
  }

  test("ranks like the reference sort, interpreted and generated alike") {
    // few distinct values: exact sums, so dot ties (and duplicate
    // centroids) are common; ±0.0 and NaN components included
    val x = Gen.frequency(9 -> Gen.oneOf(-1.0, -0.5, -0.0, 0.0, 0.5, 1.0, 2.0), 1 -> Gen.const(Double.NaN))
    val vec = Gen.choose(0, 3).flatMap(Gen.listOfN(_, x))
    val pool = Gen.listOfN(3, vec)
    val model = for {
      cvs <- pool
      k <- Gen.choose(0, 6)
      cells <- Gen.pick(k, 0L to 40L)
      cents <- Gen.sequence[List[Cent], Cent](cells.toList.map(c => Gen.frequency(
        8 -> Gen.oneOf(cvs).map(cv => Some((c, Some(cv)))),
        1 -> Gen.const(Some((c, None))),
        1 -> Gen.const(None))))
    } yield cents
    val prop = Prop.forAll(Gen.option(vec), model, Gen.choose(1, 8)) { (v, cents, n) =>
      val expr = NearestCells(BoundReference(0, ArrayType(DoubleType), nullable = true),
                              BoundReference(1, centsType, nullable = true), n)
      val row = new GenericInternalRow(Array[Any](
        v.map(xs => new GenericArrayData(xs.toArray[Any])).orNull,
        new GenericArrayData(cents.map(_.map { case (cell, cv) =>
          InternalRow(cell, cv.map(c => new GenericArrayData(c.toArray[Any])).orNull)
        }.orNull).toArray[Any])))
      def longs(a: Any) = Option(a).map(_.asInstanceOf[ArrayData].toLongArray().toSeq)
      val interpreted = longs(expr.eval(row))
      val out = GenerateUnsafeProjection.generate(Seq(expr)).apply(row)
      val generated = if (out.isNullAt(0)) None else longs(out.getArray(0))
      val expect = v.flatMap(reference(_, cents, n))
      interpreted == expect && generated == expect
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500), prop)
    assert(res.passed, res.status.toString)
  }

  test("ivfAssign ranks inside a whole-stage codegen stage") {
    val e = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val model = e.filter($"vec_id" < 4).select($"vec_id".as("cell"), $"v".as("cv"))
    val assigned = Graft.ivfAssign(model, e, $"v").filter($"vec_id" < 4).select("vec_id", "cell")
    // each model vector is its own nearest cell
    val own = assigned.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(own.length == 4 && own.forall { case (id, cell) => id == cell })
    // the final adaptive plan of that run; "*(n)" prefixes mark
    // operators inside a WholeStageCodegen stage
    val plan = assigned.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Generate [^\n]*graft_nearest_cells""".r.findFirstIn(plan).isDefined,
           s"graft_nearest_cells not inside a codegen stage:\n$plan")
  }
}
