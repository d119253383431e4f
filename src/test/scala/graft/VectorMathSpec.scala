package graft

import graft.functions.{ArrayDot, ArraySqDist, ArraySqNorm}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** The native vector kernels must be BIT-identical to the interpreted
  * `aggregate(zip_with/transform(...))` folds they replaced, on the
  * codegen AND interpreted paths — every ANN oracle replays
  * `list_sum(list_transform(...))` in the same element order, so a
  * reassociated sum would drift rounded cosines across engines. */
class VectorMathSpec extends SparkSpecBase {
  import spark.implicits._

  private val rnd = new scala.util.Random(11)
  private def vec(n: Int): Seq[Double] = Seq.fill(n)(rnd.nextGaussian() * 10)

  // Mixed-magnitude pairs: reassociation would visibly drift these.
  private val pairs: Seq[(Seq[Double], Seq[Double])] =
    Seq((Seq.empty[Double], Seq.empty[Double]),
        (Seq(1e16, 1.0, -1e16), Seq(1.0, 1.0, 1.0))) ++
      (1 to 20).map(_ => (vec(64), vec(64)))

  private def foldDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
  private def foldSqDist(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (s, x) => s + x)
  private def foldSqNorm(v: org.apache.spark.sql.Column) =
    aggregate(transform(v, x => x * x), lit(0.0), (a, x) => a + x)

  test("kernels equal the folds bit-for-bit (codegen path)") {
    val rows = pairs.toDF("a", "b").select(
        ColumnBridge.column(ArrayDot(ColumnBridge.expression(col("a")),
          ColumnBridge.expression(col("b")))).as("nd"),
        foldDot(col("a"), col("b")).as("fd"),
        ColumnBridge.column(ArraySqDist(ColumnBridge.expression(col("a")),
          ColumnBridge.expression(col("b")))).as("ns"),
        foldSqDist(col("a"), col("b")).as("fs"),
        ColumnBridge.column(
          ArraySqNorm(ColumnBridge.expression(col("a")))).as("nn"),
        foldSqNorm(col("a")).as("fn"))
      .as[(Double, Double, Double, Double, Double, Double)].collect()
    rows.foreach { case (nd, fd, ns, fs, nn, fn) =>
      // == on the raw bits: bit-identity is the contract, not epsilon.
      assert(java.lang.Double.doubleToRawLongBits(nd) == java.lang.Double.doubleToRawLongBits(fd))
      assert(java.lang.Double.doubleToRawLongBits(ns) == java.lang.Double.doubleToRawLongBits(fs))
      assert(java.lang.Double.doubleToRawLongBits(nn) == java.lang.Double.doubleToRawLongBits(fn))
    }
  }

  test("kernels equal the folds (interpreted eval)") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    pairs.foreach { case (a, b) =>
      val la = Literal(new GenericArrayData(a.toArray), ArrayType(DoubleType))
      val lb = Literal(new GenericArrayData(b.toArray), ArrayType(DoubleType))
      val expDot = a.zip(b).foldLeft(0.0)((acc, p) => acc + p._1 * p._2)
      val expSq = a.zip(b).foldLeft(0.0)((acc, p) => acc + (p._1 - p._2) * (p._1 - p._2))
      val expNrm = a.foldLeft(0.0)((acc, x) => acc + x * x)
      assert(ArrayDot(la, lb).eval(null) == expDot)
      assert(ArraySqDist(la, lb).eval(null) == expSq)
      assert(ArraySqNorm(la).eval(null) == expNrm)
    }
  }

  test("null semantics follow the folds: length mismatch / null element / null array") {
    val rows = Seq(
        (Some(Seq(Some(1.0), Some(2.0))), Some(Seq(Some(3.0)))),        // length mismatch
        (Some(Seq(Some(1.0), None)), Some(Seq(Some(3.0), Some(4.0)))),  // null element
        (None, Some(Seq(Some(1.0)))),                                   // null array
        (Some(Seq(Some(1.0), Some(2.0))), Some(Seq(Some(3.0), Some(4.0))))) // control
      .toDF("a", "b").select(
        ColumnBridge.column(ArrayDot(ColumnBridge.expression(col("a")),
          ColumnBridge.expression(col("b")))).as("nd"),
        foldDot(col("a"), col("b")).as("fd"),
        ColumnBridge.column(ArraySqDist(ColumnBridge.expression(col("a")),
          ColumnBridge.expression(col("b")))).as("ns"),
        foldSqDist(col("a"), col("b")).as("fs"),
        ColumnBridge.column(
          ArraySqNorm(ColumnBridge.expression(col("b")))).as("nn"),
        foldSqNorm(col("b")).as("fn"))
      .as[(Option[Double], Option[Double], Option[Double], Option[Double],
           Option[Double], Option[Double])].collect()
    rows.foreach { case (nd, fd, ns, fs, nn, fn) =>
      assert(nd == fd); assert(ns == fs); assert(nn == fn)
    }
    assert(rows.take(3).forall(r => r._1.isEmpty && r._3.isEmpty))
    assert(rows.last._1.contains(11.0)) // the control row took the happy path
  }

  test("interpreted null semantics match") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val two = Literal(new GenericArrayData(Array(1.0, 2.0)), ArrayType(DoubleType))
    val one = Literal(new GenericArrayData(Array(3.0)), ArrayType(DoubleType))
    val withNull = Literal(
      new GenericArrayData(Array[Any](1.0, null)), ArrayType(DoubleType, containsNull = true))
    assert(ArrayDot(two, one).eval(null) == null)
    assert(ArraySqDist(two, one).eval(null) == null)
    assert(ArrayDot(two, withNull).eval(null) == null)
    assert(ArraySqNorm(withNull).eval(null) == null)
    assert(ArraySqNorm(two).eval(null) == 5.0)
  }
}
