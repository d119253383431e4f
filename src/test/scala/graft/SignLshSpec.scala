package graft

import graft.functions.SignLshSignature
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** The native codegen'd sign-LSH expression must equal the 64-fold
  * `when(dot > 0, bit)` formulation it replaced, on codegen AND
  * interpreted paths — the DuckDB oracle replays the same planes, so
  * any float-summation divergence would flip boundary bits. */
class SignLshSpec extends SparkSpecBase {
  import spark.implicits._

  private val DIM = operators.Similarity.DIM
  private val PLANES = operators.Similarity.PLANES
  private val FLAT = PLANES.flatten

  /** The original HOF formulation, kept as the semantic spec. */
  private def foldForm = {
    def dot(a: org.apache.spark.sql.Column, p: Array[Double]) =
      aggregate(zip_with(a, typedlit(p), (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    PLANES.indices.map { p =>
      when(dot(col("v"), PLANES(p)) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  private val rnd = new scala.util.Random(7)
  private val cases: Seq[Seq[Double]] =
    Seq(Seq.fill(DIM)(0.0)) ++                       // all-zero: no bit set (> 0 strict)
      (1 to 20).map(_ => Seq.fill(DIM)(rnd.nextGaussian()))

  test("native expression equals the fold (codegen path)") {
    val rows = cases.toDF("v").select(
        ColumnBridge.column(SignLshSignature(
          ColumnBridge.expression(col("v")), FLAT.toSeq, DIM)).as("native"),
        foldForm.as("fold"))
      .as[(Long, Long)].collect()
    rows.foreach { case (n, f) => assert(n == f) }
  }

  test("native expression equals the fold (interpreted eval)") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    cases.foreach { v =>
      val lit = Literal(new GenericArrayData(v.toArray), ArrayType(DoubleType))
      val got = SignLshSignature(lit, FLAT.toSeq, DIM).eval(null).asInstanceOf[Long]
      val expect = PLANES.indices.foldLeft(0L) { (sig, p) =>
        val d = (0 until DIM).foldLeft(0.0)((acc, i) => acc + v(i) * PLANES(p)(i))
        if (d > 0) sig | (1L << p) else sig
      }
      assert(got == expect, s"input ${v.take(4)}...")
    }
  }

  test("malformed vectors follow the fold: length mismatch / null element → no bits") {
    // zip_with null-pads a mismatched length and propagates null
    // elements, so every plane dot is null and the fold sets no bit —
    // the native expression must agree, not truncate/zero-fill.
    val malformed: Seq[Seq[Option[Double]]] = Seq(
      Seq.fill(DIM - 3)(Some(1.0)),                          // too short
      Seq.fill(DIM + 5)(Some(1.0)),                          // too long
      Seq.tabulate(DIM)(i => if (i == 7) None else Some(1.0)), // null element
      Seq.fill(DIM)(Some(0.5))                               // control: well-formed
    )
    val rows = malformed.toDF("v").select(
        ColumnBridge.column(SignLshSignature(
          ColumnBridge.expression(col("v")), FLAT.toSeq, DIM)).as("native"),
        foldForm.as("fold"))
      .as[(Long, Long)].collect()
    rows.zip(malformed).foreach { case ((n, f), in) =>
      assert(n == f, s"input length ${in.length}")
    }
    assert(rows.take(3).forall(_._1 == 0L))
    assert(rows.last._1 != 0L) // the control row exercises the null-scan's happy path
  }

  test("malformed vectors (interpreted eval) → 0") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val short = Literal(new GenericArrayData(Array.fill(DIM - 1)(1.0)), ArrayType(DoubleType))
    val withNull = Literal(
      new GenericArrayData(Array.tabulate[Any](DIM)(i => if (i == 0) null else 1.0)),
      ArrayType(DoubleType, containsNull = true))
    assert(SignLshSignature(short, FLAT.toSeq, DIM).eval(null) == 0L)
    assert(SignLshSignature(withNull, FLAT.toSeq, DIM).eval(null) == 0L)
  }

  test("content-identical instances canonicalize equal (CSE-safe)") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val lit = Literal(new GenericArrayData(Array.fill(DIM)(1.0)), ArrayType(DoubleType))
    val a = SignLshSignature(lit, FLAT.toVector, DIM)
    val b = SignLshSignature(lit, FLAT.toSeq, DIM)
    assert(a.canonicalized == b.canonicalized)
  }
}
