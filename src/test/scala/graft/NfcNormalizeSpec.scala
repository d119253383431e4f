package graft

import graft.functions.{NfcNormalize, NfcNormalizeUtil, NfkcCasefold, NfkcCasefoldUtil}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.unsafe.types.UTF8String

/** Pins the native NFC expression on both eval paths against
  * `java.text.Normalizer` directly, the allocation-free fast paths
  * (ASCII, already-normalized), and the `text_normalize` gate's
  * planted-evidence premises. */
class NfcNormalizeSpec extends SparkSpecBase {
  import spark.implicits._

  // All non-ASCII content is written as unicode ESCAPES: raw source
  // bytes would be at the mercy of editor/tool normalization -- the
  // exact ambiguity this expression exists to remove.
  private val DEC = "cafe\u0301"      // decomposed e + combining acute
  private val COMP = "caf\u00e9"      // composed
  private val cases: Seq[String] = Seq(
    "",
    "plain ascii stays",
    DEC,
    COMP,
    "A\u030aring",                  // A + combining ring -> \u00c5
    s"mixed $DEC and $COMP twice $DEC",
    "\u0301leading combining mark", // combining mark with no base
    "angstrom \u212b sign")          // U+212B -> U+00C5 under NFC

  test("codegen path equals java.text.Normalizer on every case") {
    val rows = cases.toDF("s")
      .select(col("s"),
        ColumnBridge.column(NfcNormalize(ColumnBridge.expression(col("s")))))
      .as[(String, String)].collect()
    rows.foreach { case (in, got) =>
      val want = java.text.Normalizer.normalize(
        in, java.text.Normalizer.Form.NFC)
      assert(got === want, s"input codepoints ${in.map(_.toInt)}")
    }
  }

  test("interpreted path and fast paths: ASCII and normalized inputs " +
    "return the SAME UTF8String instance") {
    val ascii = UTF8String.fromString("no accents here 123")
    assert(NfcNormalizeUtil.nfc(ascii) eq ascii)
    val composed = UTF8String.fromString(COMP)
    assert(NfcNormalizeUtil.nfc(composed) eq composed)
    val decomposed = UTF8String.fromString(DEC)
    val out = NfcNormalizeUtil.nfc(decomposed)
    assert(out.toString === COMP)
    assert(!(out eq decomposed))
    // Null propagates through the expression wrapper (nullSafeEval).
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.StringType
    assert(NfcNormalize(Literal(null, StringType)).eval(null) == null)
  }

  test("text_normalize planted evidence: every rule fires and is " +
    "idempotent") {
    val out = operators.Pipeline.textNormalize(spark, sfDir)
    val rows = out.collect()
    val n = rows.length
    assert(n > 0)
    // Rows hit by any planting rule must report changed; untouched
    // rows must not (fixture text is already clean ASCII).
    rows.foreach { r =>
      val id = r.getLong(0)
      val hit = id % 5 == 1 || id % 6 == 2 || id % 4 == 3
      assert(r.getBoolean(1) === hit, s"doc $id changed=${r.getBoolean(1)}")
    }
    assert(rows.count(_.getBoolean(1)) > 0, "no planted row fired")
    // Idempotence: normalizing the oracle-side cleaned text again is a
    // no-op -- NFC, control strip, and collapse are all fixpoints.
    val probe = Seq(s"$COMP a b", "x y z").toDF("text")
      .select(trim(regexp_replace(regexp_replace(
        ColumnBridge.column(NfcNormalize(ColumnBridge.expression(col("text")))),
        lit("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]"), lit("")),
        lit("[ \\t\\n\\r]+"), lit(" "))).as("t2"), col("text"))
      .as[(String, String)].collect()
    probe.foreach { case (t2, t) => assert(t2 === t) }
  }

  // --- NFKC + casefold sibling ------------------------------------------

  private val nfkcCases: Seq[String] = Seq(
    "",
    "plain ascii stays",
    "MiXeD Ascii CASE",
    DEC, COMP,
    "\ufb01le",                      // fi ligature -> "file"
    "\uff27\uff2f fullwidth",       // fullwidth G,O -> "go fullwidth"
    "x\u00b2 super",                 // superscript two -> "x2 super"
    "E\u0301clair",                  // decomposed E+acute -> "\u00e9clair"
    "stra\u00dfe",                   // sharp s FULL-folds -> "strasse"
    "STRA\u1e9eE",                   // capital eszett -> \u00df -> "ss"
    "\u039b\u039f\u0393\u039f\u03a3",  // final \u03a3 -> \u03c2 -> \u03c3
    "\u03c2\u03c3 mixed sigmas")    // bare final sigma folds to \u03c3

  test("nfkc_cf codegen path equals NFKC+lower+NFKC ground truth") {
    val rows = nfkcCases.toDF("s")
      .select(col("s"),
        ColumnBridge.column(NfkcCasefold(ColumnBridge.expression(col("s")))))
      .as[(String, String)].collect()
    rows.foreach { case (in, got) =>
      val form = java.text.Normalizer.Form.NFKC
      // Ground truth = NFKC . full-fold . NFKC, where full-fold is the
      // JDK simple lowercase plus the two documented full-fold deltas
      // (\u00df -> "ss", \u03c2 -> \u03c3) the kernel patches in.
      val want = java.text.Normalizer.normalize(
        java.text.Normalizer.normalize(in, form)
          .toLowerCase(java.util.Locale.ROOT)
          .replace("\u00df", "ss").replace('\u03c2', '\u03c3'), form)
      assert(got === want, s"input codepoints ${in.map(_.toInt)}")
    }
  }

  test("nfkc_cf fast paths and fold semantics") {
    // Lowercase ASCII: the SAME instance back, no allocation.
    val ascii = UTF8String.fromString("already folded 123")
    assert(NfkcCasefoldUtil.nfkcCf(ascii) eq ascii)
    // Uppercase ASCII folds without a UTF-16 decode.
    assert(NfkcCasefoldUtil.nfkcCf(
      UTF8String.fromString("MiXeD 42")).toString === "mixed 42")
    // Compat forms collapse and the result is casefolded + NFKC.
    assert(NfkcCasefoldUtil.nfkcCf(
      UTF8String.fromString("\ufb01LE \uff27\uff2f x\u00b2")).toString
      === "file go x2")
    // Decomposed accent: composes under NFKC then folds.
    assert(NfkcCasefoldUtil.nfkcCf(
      UTF8String.fromString("E\u0301clair")).toString === "\u00e9clair")
    // FULL-fold deltas the simple lowercase misses: both eszetts land
    // as "ss" (so Stra\u00dfe/STRASSE near-dups hash together), and a
    // final sigma comes out \u03c3 — never the contextual \u03c2 the
    // JDK lowercase emits — so mid-word and word-final spellings of
    // the same stem agree.
    assert(NfkcCasefoldUtil.nfkcCf(
      UTF8String.fromString("Stra\u00dfe STRA\u1e9eE")).toString
      === "strasse strasse")
    assert(NfkcCasefoldUtil.nfkcCf(
      UTF8String.fromString("\u039b\u039f\u0393\u039f\u03a3")).toString
      === "\u03bb\u03bf\u03b3\u03bf\u03c3")
    // Idempotence on every case.
    nfkcCases.foreach { c =>
      val once = NfkcCasefoldUtil.nfkcCf(UTF8String.fromString(c))
      assert(NfkcCasefoldUtil.nfkcCf(once).toString === once.toString, c)
    }
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.StringType
    assert(NfkcCasefold(Literal(null, StringType)).eval(null) == null)
  }

  test("text_normalize_nfkc planted evidence: every rule fires") {
    val rows = operators.Pipeline.textNormalizeNfkc(spark, sfDir).collect()
    assert(rows.nonEmpty)
    var fired = 0
    rows.foreach { r =>
      val id = r.getLong(0)
      val hit = id % 5 == 1 || id % 6 == 2 || id % 7 == 3 || id % 9 == 5
      // A clean row may still legitimately change if its ASCII body
      // carries capitals; a PLANTED row must always change.
      if (hit) { assert(r.getBoolean(1), s"doc $id planted but unchanged"); fired += 1 }
    }
    assert(fired > 0, "no planted row fired")
  }
}
