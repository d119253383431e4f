package graft

import graft.functions.{HashedNgrams, NgramPack}
import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.ColumnBridge

/** The SparkSessionExtensions injection point: the context is built
  * with `spark.sql.extensions=graft.GraftExtensions`, so the native
  * expressions must be callable from PLAIN SQL and must agree with the
  * arguments the operators construct them with. Queries run through a
  * FRESH `newSession()`, whose function registry holds exactly the
  * built-ins plus the extension's names; the operators themselves must
  * leave that catalog as they found it. */
class ExtensionsSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val fresh = spark.newSession()

  test("graft_minhash is injected and uses the engine coefficients") {
    val sig = fresh.sql("SELECT graft_minhash(array(CAST(42 AS BIGINT))) AS s")
      .as[Seq[Long]].collect().head
    assert(sig.length == Dedup.MINHASH_K)
    val x = 42L % Dedup.MH_P
    val expected = Dedup.MH_A.zip(Dedup.MH_B).map { case (a, b) =>
      (a * x + b) % Dedup.MH_P
    }.toSeq
    assert(sig == expected)
  }

  test("graft_simhash is injected with the engine bit width") {
    // one element: every bit of the element's low SIMHASH_BITS wins the
    // majority vote, so the signature is the element masked to 56 bits.
    val sig = fresh.sql("SELECT graft_simhash(array(CAST(12345 AS BIGINT))) AS s")
      .as[Long].collect().head
    assert(sig == (12345L & ((1L << Dedup.SIMHASH_BITS) - 1)))
  }

  test("the extension descriptions build evaluable expressions") {
    assert(GraftExtensions.functions.map(_._1.funcName).sorted ==
      Seq("graft_minhash", "graft_nfc", "graft_nfkc_cf",
        "graft_ngrampack", "graft_shingle56", "graft_signlsh",
        "graft_simhash", "graft_tokhash56",
        "graft_url_normalize", "graft_vdot", "graft_vsqdist",
        "graft_vsqnorm"))
  }

  test("the vector kernels are injected: dot/sqdist/sqnorm from plain SQL") {
    val (d, s, n) = fresh.sql(
        """SELECT graft_vdot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
          |       graft_vsqdist(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS s,
          |       graft_vsqnorm(array(3.0D, 4.0D)) AS n""".stripMargin)
      .as[(Double, Double, Double)].collect().head
    assert(d == 11.0 && s == 8.0 && n == 25.0)
  }

  test("wrong-arity vector-kernel calls fail as analysis errors, not internal ones") {
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      fresh.sql("SELECT graft_vdot(array(1.0D))").collect()
    }
    assert(e.getMessage.contains("graft_vdot"))
  }

  test("graft_nfkc_cf is injected: compat forms collapse and case folds") {
    // fi ligature U+FB01 -> "fi"; fullwidth G U+FF27 -> "g" after the
    // fold; the ASCII tail lowercases.
    val out = fresh.sql("SELECT graft_nfkc_cf('ﬁle ＧO') AS s")
      .as[String].collect().head
    assert(out == "file go")
  }

  test("graft_url_normalize is injected with the full canonicalization") {
    val out = fresh.sql(
        "SELECT graft_url_normalize('HTTP://User@WWW.Ex.COM:80/A%7eb/?q=Z#f') AS s")
      .as[String].collect().head
    assert(out == "http://User@www.ex.com/A~b?q=Z")
  }

  test("graft_nfc is injected and composes decomposed accents") {
    // 'e' + U+0301 combining acute must compose to U+00E9 under NFC.
    // (Spark's SQL `chr` wraps at 256, unlike DuckDB's -- build the
    // decomposed input with an explicit escape.)
    val out = fresh.sql("SELECT graft_nfc('cafe\u0301') AS s")
      .as[String].collect().head
    assert(out == "caf\u00e9")
    assert(out.length == 4)
  }

  test("graft_signlsh is injected with the engine plane matrix") {
    import graft.operators.Similarity
    // e1 basis vector: bit p set iff plane_p's first coefficient > 0.
    val v = Array.tabulate(Similarity.DIM)(i => if (i == 0) "1.0D" else "0.0D")
    val sig = fresh.sql(
        s"SELECT graft_signlsh(array(${v.mkString(",")})) AS s")
      .as[Long].collect().head
    val expected = Similarity.PLANES.indices.foldLeft(0L) { (s, p) =>
      if (Similarity.PLANES(p)(0) > 0) s | (1L << p) else s
    }
    assert(sig == expected)
  }

  test("ngrampack/shingle56/tokhash56 by name equal the operators' direct construction") {
    val texts = fresh.createDataFrame(Seq("", "abc", "abcd", "the quick brown fox",
      "caf\u00e9 \ud83d\ude00 x").map(Tuple1(_))).toDF("x")
    val toks = fresh.createDataFrame(Seq(Seq.empty[String], Seq("one"), Seq("a", "b", "c"),
      Seq("alpha", "beta", "gamma", "delta", "\u03b4\u00fc")).map(Tuple1(_))).toDF("x")
    def direct(df: DataFrame, build: Expression => Expression) =
      df.select(ColumnBridge.column(build(ColumnBridge.expression(col("x")))))
        .as[Seq[Long]].collect().toSeq
    def byName(df: DataFrame, fn: String) =
      df.selectExpr(s"$fn(x)").as[Seq[Long]].collect().toSeq
    val ng = direct(texts, NgramPack(_, Dedup.NGRAM_N, Dedup.GRAM_BITS))
    assert(ng.exists(_.nonEmpty))
    assert(byName(texts, NgramPack.FUNC_NAME) == ng)
    val sh = direct(toks, HashedNgrams(_, 3))
    assert(sh.exists(_.nonEmpty))
    assert(byName(toks, HashedNgrams.SHINGLE_NAME) == sh)
    val th = direct(toks, HashedNgrams(_, 1))
    assert(th.exists(_.nonEmpty))
    assert(byName(toks, HashedNgrams.TOKHASH_NAME) == th)
  }

  test("kernel operators leave the session catalog as they found it") {
    val s = spark.newSession()
    def functions = s.sessionState.functionRegistry.listFunction().map(_.funcName).toSet
    def views = s.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
    val (fns0, views0) = (functions, views)
    Seq("decontaminate_bloom", "embedding_dedup_auto", "near_dedup", "simhash",
        "ngram_jaccard", "text_normalize", "url_normalize").foreach { q =>
      SparkEntry.queries(q)(s, sfDir).collect()
    }
    val (fns1, views1) = (functions, views)
    // (added, removed) per catalog, so a failure names the leaked entries.
    assert((fns1 -- fns0, fns0 -- fns1) == ((Set.empty, Set.empty)))
    assert((views1 -- views0, views0 -- views1) == ((Set.empty, Set.empty)))
  }
}
