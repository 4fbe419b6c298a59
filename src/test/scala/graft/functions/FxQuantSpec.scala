package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

/** Pins [[FxQuant]] (the r21 codegen fixed-point quantizer) bit-identical
  * to the transform-lambda formulation it replaced — the ×10⁴ contract
  * shared by ss06/ss07/ss09 and mirrored in their oracles:
  * `transform(embedding, x -> cast(floor(cast(x as double) * 10000) as
  * bigint))` — over the REAL embeddings plus the sign/fraction/null
  * edges floor semantics create.
  */
class FxQuantSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def sqlForm(c: String) = expr(
    s"transform($c, x -> cast(floor(cast(x as double) * 10000) as bigint))")

  test("kernel == transform lambda over the real embeddings") {
    val e = Tables(spark, TestSpark.sf0001, "embeddings")
      .select(col("embedding"))
    val mismatches = e.select(
      GraftFunctions.fx_quant(col("embedding")).as("k"),
      sqlForm("embedding").as("s"))
      .filter(not(col("k") <=> col("s")))
      .count()
    assert(mismatches == 0L, "kernel diverged from the transform lambda")
  }

  test("kernel edges: negatives floor toward -inf, null elements, null array, empty") {
    import spark.implicits._
    val df = Seq(
      Seq[java.lang.Double](1.00005, -1.00005, 0.0, -0.00001),
      Seq[java.lang.Double](0.12345, null, 2.5),
      Seq.empty[java.lang.Double],
      null.asInstanceOf[Seq[java.lang.Double]]).toDF("v")
    val rows = df.select(
      GraftFunctions.fx_quant(col("v")).as("k"), sqlForm("v").as("s"))
      .collect()
    rows.foreach { r =>
      if (r.isNullAt(1)) assert(r.isNullAt(0))
      else assert(r.getSeq[Any](0) == r.getSeq[Any](1), r.toString)
    }
    // the exact floor contract, stated once directly
    assert(rows(0).getSeq[Long](0) == Seq(10000L, -10001L, 0L, -1L))
  }

  test("non-finite and out-of-range elements throw in eval and codegen") {
    val bad = Seq(Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, 1e300, -1e300, 9.3e14)
    val cases = bad.map(x => Literal.create(Seq(x), ArrayType(DoubleType))) ++
      Seq(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity)
        .map(x => Literal.create(Seq(x), ArrayType(FloatType)))
    cases.foreach { lit =>
      val e = FxQuant(lit)
      intercept[ArithmeticException](e.eval())
      val compiled = GenerateUnsafeProjection.generate(Seq(e))
      intercept[ArithmeticException](compiled(InternalRow.empty))
    }
    // the last representable quanta still convert, in both paths
    val edge =
      FxQuant(Literal.create(Seq(9.2e14, -9.2e14), ArrayType(DoubleType)))
    val want = Seq(9200000000000000000L, -9200000000000000000L)
    assert(edge.eval().asInstanceOf[ArrayData].toLongArray().toSeq == want)
    assert(GenerateUnsafeProjection.generate(Seq(edge))(InternalRow.empty)
      .getArray(0).toLongArray().toSeq == want)
    // and the SQL surface fails instead of returning a saturated value
    import spark.implicits._
    val err = intercept[Exception](Seq(Seq(1.0, Double.NaN)).toDF("v")
      .select(GraftFunctions.fx_quant(col("v"))).collect())
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[ArithmeticException]), err.toString)
  }

  test("eval keeps a NULL element NULL even when containsNull claims none") {
    val e = FxQuant(BoundReference(0,
      ArrayType(DoubleType, containsNull = false), nullable = true))
    val out = e.eval(InternalRow(new GenericArrayData(Array[Any](1.5, null))))
      .asInstanceOf[ArrayData]
    assert(out.getLong(0) == 15000L)
    assert(out.isNullAt(1), "a NULL slot must not quantize to 0")
  }
}
