package graft

import graft.functions.MinHashSignature
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** The native codegen'd MinHash expression must equal the
  * aggregate+zip_with fold it replaced, on codegen AND interpreted
  * paths. */
class MinHashSpec extends SparkSpecBase {
  import spark.implicits._

  private val A = Array(3L, 5L, 7L, 11L)
  private val B = Array(1L, 2L, 3L, 4L)
  private val P = 2147483647L

  /** The original HOF formulation, kept as the semantic spec. */
  private def foldForm = {
    val ab = typedlit(A.zip(B))
    aggregate(col("hs"), typedlit(Array.fill(A.length)(P)),
      (acc, x) => zip_with(acc, ab, (m, p) =>
        least(m, (p.getField("_1") * (x % P) + p.getField("_2")) % P)))
  }

  private val cases: Seq[Seq[Long]] = Seq(
    Seq.empty,
    Seq(0L),
    Seq(42L),
    Seq(Long.MaxValue / 3, 17L, 123456789012345L),
    (1L to 100L).map(_ * 982451653L))

  test("native expression equals the fold (codegen path)") {
    val df = cases.toDF("hs")
    val rows = df.select(
        ColumnBridge.column(MinHashSignature(
          ColumnBridge.expression(col("hs")), A.toSeq, B.toSeq, P)).as("native"),
        foldForm.as("fold"))
      .as[(Seq[Long], Seq[Long])].collect()
    rows.foreach { case (n, f) => assert(n == f) }
  }

  test("native expression equals the fold (interpreted eval)") {
    // Force the interpreted path by evaluating the expression directly.
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType}
    cases.foreach { hs =>
      val lit = Literal(new GenericArrayData(hs.toArray), ArrayType(LongType))
      val e = graft.functions.MinHashSignature(lit, A, B, P)
      val got = e.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toLongArray().toSeq
      val expect = A.indices.map { j =>
        if (hs.isEmpty) P
        else hs.map(x => (A(j) * (x % P) + B(j)) % P).min
      }
      assert(got == expect, s"input $hs")
    }
  }

  test("near_dedup output unchanged by the native expression (fixture)") {
    val rows = operators.Dedup.nearDedup(spark, sfDir)
      .as[(Long, Long, Double)].collect()
    rows.foreach { case (a, b, j) =>
      assert(a < b && j >= operators.Dedup.JACCARD_THRESHOLD)
    }
  }
}
