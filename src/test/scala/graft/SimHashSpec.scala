package graft

import graft.functions.SimHashSignature
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** The native codegen'd SimHash expression must equal the original
  * HOF-fold formulation (kept here as the semantic spec) on codegen
  * and interpreted paths. */
class SimHashSpec extends SparkSpecBase {
  import spark.implicits._

  private val BITS = 56
  private val POWERS = (0 until BITS).map(1L << _).toArray

  /** The original aggregate+zip_with formulation. */
  private def foldForm = {
    val counts = aggregate(col("hs"), typedlit(Array.fill(BITS)(0L)),
      (acc, h) => zip_with(acc, typedlit(POWERS), (c, p) =>
        c + when(h.bitwiseAND(p) =!= 0, 1L).otherwise(-1L)))
    aggregate(
      zip_with(counts, typedlit(POWERS), (c, p) => when(c > 0, p).otherwise(0L)),
      lit(0L), (acc, x) => acc + x)
  }

  private val cases: Seq[Seq[Long]] = Seq(
    Seq.empty,
    Seq(0L),
    Seq((1L << 56) - 1),
    Seq(0x00ffL, 0x0ff0L, 0x0f0fL),
    (1L to 200L).map(_ * 982451653L % (1L << 56)))

  test("native expression equals the fold (codegen path)") {
    val rows = cases.toDF("hs")
      .select(ColumnBridge.column(SimHashSignature(
          ColumnBridge.expression(col("hs")), BITS)).as("native"),
        foldForm.as("fold"))
      .as[(Long, Long)].collect()
    rows.foreach { case (n, f) => assert(n == f) }
  }

  test("native expression equals a direct bit-majority computation (interpreted)") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType}
    cases.foreach { hs =>
      val lit = Literal(new GenericArrayData(hs.toArray), ArrayType(LongType))
      val got = SimHashSignature(lit, BITS).eval(null).asInstanceOf[Long]
      val expect = (0 until BITS).map { j =>
        val set = hs.count(h => ((h >>> j) & 1L) != 0L)
        if (2 * set > hs.length) 1L << j else 0L
      }.sum
      assert(got == expect, s"input $hs")
    }
  }
}
