package graft

import graft.functions.{UrlNormalize, UrlNormalizeUtil}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.unsafe.types.UTF8String

/** Pins the native URL canonicalizer on generic shapes beyond the
  * gate's planted fixture (the gate oracle replays expected images of
  * the PLANTED shapes only — this spec owns the rest of the contract)
  * plus the domain_filter premises. */
class UrlNormalizeSpec extends SparkSpecBase {
  import spark.implicits._

  private def norm(s: String): String =
    UrlNormalizeUtil.normalize(UTF8String.fromString(s)).toString

  test("RFC 3986 syntax normalization, case by case") {
    // Scheme + host lowercase; path case preserved.
    assert(norm("HTTP://WWW.Ex.COM/KeepCase") == "http://www.ex.com/KeepCase")
    // Default ports drop; non-default ports survive.
    assert(norm("http://ex.com:80/a") == "http://ex.com/a")
    assert(norm("https://ex.com:443/a") == "https://ex.com/a")
    assert(norm("http://ex.com:8080/a") == "http://ex.com:8080/a")
    assert(norm("https://ex.com:80/a") == "https://ex.com:80/a")
    // Fragment strips, query survives verbatim (order preserved).
    assert(norm("http://ex.com/a?b=2&a=1#frag") == "http://ex.com/a?b=2&a=1")
    assert(norm("http://ex.com#frag") == "http://ex.com/")
    // Empty path -> '/', non-root trailing slash drops.
    assert(norm("http://ex.com") == "http://ex.com/")
    assert(norm("http://ex.com/") == "http://ex.com/")
    assert(norm("http://ex.com/a/b/") == "http://ex.com/a/b")
    // Trailing-slash RUNS strip to a fixed point (round-14 advice:
    // '/a//' previously normalized to '/a/', breaking idempotence).
    assert(norm("http://ex.com/a//") == "http://ex.com/a")
    assert(norm("http://ex.com/a///?q=1") == "http://ex.com/a?q=1")
    assert(norm("http://ex.com//") == "http://ex.com/")
    // Mid-path empty segments are NOT collapsed (semantically
    // significant per RFC 3986 — only trailing runs strip).
    assert(norm("http://ex.com/a//b") == "http://ex.com/a//b")
    // Dot-segments (§6.2.2.3): ./ and ../ collapse; '..' cannot climb
    // above the root; dot-LIKE segments are untouched.
    assert(norm("http://ex.com/a/./b") == "http://ex.com/a/b")
    assert(norm("http://ex.com/a/x/../b") == "http://ex.com/a/b")
    assert(norm("http://ex.com/../a") == "http://ex.com/a")
    assert(norm("http://ex.com/a/..") == "http://ex.com/")
    assert(norm("http://ex.com/a/../..") == "http://ex.com/")
    assert(norm("http://ex.com/.") == "http://ex.com/")
    assert(norm("http://ex.com/..foo/.hidden") == "http://ex.com/..foo/.hidden")
    assert(norm("http://ex.com/a/./x/../b?../c") == "http://ex.com/a/b?../c")
    // %2E is unreserved: it decodes FIRST, then the dot-segment pass
    // sees the spelled-out '..' (escape-hiding cannot defeat it).
    assert(norm("http://ex.com/deep/%2E%2E/b") == "http://ex.com/b")
    assert(norm("http://ex.com/a/%2E/b") == "http://ex.com/a/b")
    // A '..' popping an EMPTY segment (from '//') pops just that.
    assert(norm("http://ex.com/a//../b") == "http://ex.com/a/b")
    // Unreserved escapes decode; reserved ones uppercase their hex.
    assert(norm("http://ex.com/%7euser/%41%2fB") == "http://ex.com/~user/A%2FB")
    assert(norm("http://ex.com/ok?x=%7e%2f") == "http://ex.com/ok?x=~%2F")
    // Malformed escapes pass through verbatim.
    assert(norm("http://ex.com/a%2") == "http://ex.com/a%2")
    assert(norm("http://ex.com/a%zz") == "http://ex.com/a%zz")
    // Userinfo is preserved case-sensitively; host still folds.
    assert(norm("http://User:Pw@Ex.COM/a") == "http://User:Pw@ex.com/a")
    // Query-only URL gets the root path inserted.
    assert(norm("http://Ex.com?q=1") == "http://ex.com/?q=1")
    // Fragment containing '/' and '?' still strips entirely.
    assert(norm("http://ex.com/a#f/r?ag") == "http://ex.com/a")
  }

  test("non-http(s) and non-URL input passes through unchanged") {
    for (s <- Seq("ftp://EX.com/A", "mailto:a@b.c", "not a url",
        "://missing", "", "relative/path?x=1"))
      assert(norm(s) == s, s)
  }

  test("idempotence: normalizing a normalized URL is a no-op") {
    val urls = Seq(
      "HTTP://WWW.Ex.COM:80/A%7eb/?q=Z#f", "https://ex.com:443/",
      "http://ex.com/%41%2f?x=%7e", "http://U@EX.com:8080/a/b/",
      "http://ex.com/a//", "http://ex.com/a///b//",
      "http://ex.com/a/./x/../b/%2E%2E/", "http://ex.com/../..")
    urls.foreach { u => assert(norm(norm(u)) == norm(u), u) }
  }

  test("expression null handling and codegen path") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.StringType
    assert(UrlNormalize(Literal(null, StringType)).eval(null) == null)
    val got = Seq("HTTP://A.B:80/c/", "x").toDF("u")
      .select(ColumnBridge.column(UrlNormalize(ColumnBridge.expression(col("u")))))
      .as[String].collect().toSeq
    assert(got == Seq("http://a.b/c", "x"))
  }

  test("url gate fixture: every planted shape fires on some doc") {
    val out = operators.Pipeline.urlNormalize(spark, sfDir).collect()
    assert(out.nonEmpty)
    // All planted raws carry at least scheme-case or a default-less
    // form; changed must be true whenever ANY normalizing rule fires.
    // Residues that guarantee a rewrite: %2=0 (scheme case), %3 in
    // {0 (host case), 2 (fragment)}, %5=0 (default port), %6=3
    // (escape decode), %4=1 (trailing slash).
    out.foreach { r =>
      val id = r.getLong(0)
      val mustChange = id % 2 == 0 || id % 3 == 0 || id % 3 == 2 ||
        id % 5 == 0 || id % 6 == 3 || id % 4 == 1
      if (mustChange) assert(r.getBoolean(2), s"doc $id should change")
      assert(r.getString(1).startsWith("http"), s"doc $id norm form")
    }
  }

  test("domain_filter: blocked domains absent, survivors carry domains") {
    val kept = operators.Pipeline.domainFilter(spark, sfDir)
      .as[(Long, String)].collect()
    assert(kept.nonEmpty)
    val domains = kept.map(_._2).toSet
    operators.Pipeline.DOMAIN_BLOCKLIST.foreach(d =>
      assert(!domains.contains(d), s"blocked $d leaked"))
    // The blocklist actually BIT: sources src3/src7/src12 exist in the
    // fixture, so some docs must have been dropped.
    val total = Tables.documents(spark, sfDir).count()
    assert(kept.length < total, "blocklist filtered nothing")
    // Every surviving domain has the derived srcN.example.com shape.
    assert(domains.forall(_.endsWith(".example.com")))
  }
}
