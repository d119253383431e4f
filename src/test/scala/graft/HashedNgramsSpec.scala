package graft

import graft.functions.{HashedNgrams, TextFns}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** The native n-gram fingerprint expression must equal the interpreted
  * column-fold forms it replaced — the trigram `zip_with` shingle
  * pipeline and the per-token `transform(tokens, hash56)` — on codegen
  * AND interpreted paths: the DuckDB oracles rebuild the same n-grams
  * with md5 in SQL, so any divergence in join order, null handling, or
  * the hex→long parse reddens every dedup gate. */
class HashedNgramsSpec extends SparkSpecBase {
  import spark.implicits._

  /** The replaced trigram fold, kept as the semantic spec. */
  private def foldShingles(toks: org.apache.spark.sql.Column) = {
    val n = greatest(size(toks) - 2, lit(0))
    zip_with(
      zip_with(slice(toks, lit(1), n), slice(toks, lit(2), n),
        (a, b) => concat(a, lit(" "), b)),
      slice(toks, lit(3), n),
      (ab, c) => TextFns.hash56(concat(ab, lit(" "), c)))
  }

  private val rnd = new scala.util.Random(13)
  private val vocab = Vector("alpha", "beta", "gamma", "δüñ", "x9", "longertoken")
  private val cases: Seq[Seq[String]] =
    Seq(Seq.empty, Seq("one"), Seq("one", "two"), Seq("a", "b", "c")) ++
      (1 to 15).map(_ => Seq.fill(3 + rnd.nextInt(40))(vocab(rnd.nextInt(vocab.size))))

  test("trigram form equals the zip_with fold (codegen path)") {
    val rows = cases.toDF("toks").select(
        ColumnBridge.column(
          HashedNgrams(ColumnBridge.expression(col("toks")), 3)).as("native"),
        foldShingles(col("toks")).as("fold"))
      .as[(Seq[Long], Seq[Long])].collect()
    rows.foreach { case (n, f) => assert(n == f) }
  }

  test("per-token form equals transform(tokens, hash56) (codegen path)") {
    val rows = cases.toDF("toks").select(
        ColumnBridge.column(
          HashedNgrams(ColumnBridge.expression(col("toks")), 1)).as("native"),
        transform(col("toks"), t => TextFns.hash56(t)).as("fold"))
      .as[(Seq[Long], Seq[Long])].collect()
    rows.foreach { case (n, f) => assert(n == f) }
  }

  test("interpreted eval matches hash56Local per window") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.sql.types.{ArrayType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    cases.foreach { toks =>
      val lit = Literal(
        new GenericArrayData(toks.map(UTF8String.fromString).toArray),
        ArrayType(StringType))
      val got = HashedNgrams(lit, 3).eval(null).asInstanceOf[ArrayData]
        .toLongArray().toSeq
      val expect = toks.sliding(3).filter(_.size == 3)
        .map(w => TextFns.hash56Local(w.mkString(" "))).toSeq
      assert(got == expect, s"tokens $toks")
      val got1 = HashedNgrams(lit, 1).eval(null).asInstanceOf[ArrayData]
        .toLongArray().toSeq
      assert(got1 == toks.map(TextFns.hash56Local))
    }
  }

  test("null tokens null exactly the windows containing them, like the fold") {
    val data: Seq[Seq[Option[String]]] = Seq(
      Seq(Some("a"), None, Some("c"), Some("d"), Some("e")),
      Seq(None, None, None),
      Seq(Some("a"), Some("b"), Some("c")))
    val rows = data.toDF("toks").select(
        ColumnBridge.column(
          HashedNgrams(ColumnBridge.expression(col("toks")), 3)).as("native"),
        foldShingles(col("toks")).as("fold"))
      .as[(Seq[Option[Long]], Seq[Option[Long]])].collect()
    rows.foreach { case (n, f) => assert(n == f) }
    // First case: windows 0..2 contain the null at index 1, window 2 does not.
    assert(rows(0)._1 == Seq(None, None, Some(TextFns.hash56Local("c d e"))))
  }
}
