package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Shared normalization kernel, callable from interpreted eval AND
  * from generated Java (scalac emits a static forwarder, so codegen
  * references `graft.functions.NfcNormalizeUtil.nfc(...)` directly).
  *
  * Fast paths, in order: a pure-ASCII string is NFC by definition —
  * detected with one byte scan over the UTF8String, no UTF-16
  * decode, no allocation (the overwhelmingly common case in a web
  * corpus, so the hot path stays allocation-free); an already-
  * normalized non-ASCII string returns the INPUT UTF8String after the
  * `isNormalized` check (one decode, no re-encode). Only genuinely
  * denormalized text pays the full normalize + re-encode. */
object NfcNormalizeUtil {
  def nfc(s: UTF8String): UTF8String = {
    val n = s.numBytes
    var i = 0
    while (i < n && s.getByte(i) >= 0) i += 1
    if (i == n) return s
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}

/** Native Catalyst expression for Unicode NFC normalization — the
  * first cleanup step of every web-corpus text pipeline (crawl text
  * arrives in mixed composed/decomposed forms; dedup fingerprints and
  * tokenizers must see ONE canonical byte sequence or the same
  * visible text hashes two ways). Spark ships no normalization
  * function, so this is the preference-ladder rung (b) case: a
  * UnaryExpression whose `doGenCode` stays inside whole-stage codegen
  * (one static call, no UDF serialization boundary, null handling
  * from `nullSafeCodeGen`). Oracle parity: DuckDB's `nfc_normalize`
  * implements the same Unicode normalization form; `text_normalize`
  * gates the agreement end-to-end on planted decomposed text.
  */
final case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"nfc_normalize needs STRING, got $other")
    }

  override def nullSafeEval(input: Any): Any =
    NfcNormalizeUtil.nfc(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.NfcNormalizeUtil.nfc($c);")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

/** NFKC + casefold kernel — the compatibility-normalization the dedup
  * literature applies before fingerprinting (ligatures, fullwidth
  * forms, superscripts collapse to their plain compatibles, then case
  * differences vanish), sibling of [[NfcNormalizeUtil.nfc]].
  *
  * Casefold here is `String.toLowerCase(Locale.ROOT)` — the JDK's
  * locale-independent SIMPLE lowercase (the JDK ships no public full
  * fold) — PLUS the two real-world cases where Unicode full case
  * folding differs from it: ß → "ss" (so German near-dups differing
  * only in ẞ/ss hash together; ẞ lowercases to ß and is covered) and
  * final sigma ς → σ. The remaining simple-vs-full delta after NFKC
  * is historic/liturgical material this fold does not claim
  * (NfcNormalizeSpec pins the contract). The result is re-checked
  * NFKC after the fold because lowercasing can denormalize (e.g.
  * İ → i + combining dot above).
  *
  * Fast paths mirror [[NfcNormalizeUtil.nfc]]: pure-ASCII input takes
  * one byte scan plus (only if any A–Z present) UTF8String's own
  * ASCII lowercase — no UTF-16 decode; non-ASCII already-normalized
  * lowercase input pays one decode, no re-encode. */
object NfkcCasefoldUtil {
  def nfkcCf(s: UTF8String): UTF8String = {
    val n = s.numBytes
    var i = 0
    var hasUpper = false
    while (i < n && s.getByte(i) >= 0) {
      val b = s.getByte(i)
      if (b >= 'A' && b <= 'Z') hasUpper = true
      i += 1
    }
    if (i == n) return if (hasUpper) s.toLowerCase else s
    val str = s.toString
    val form = java.text.Normalizer.Form.NFKC
    val nk =
      if (java.text.Normalizer.isNormalized(str, form)) str
      else java.text.Normalizer.normalize(str, form)
    val lc = nk.toLowerCase(java.util.Locale.ROOT)
    // Locale-ROOT lowercase is SIMPLE case mapping; patch the two
    // BMP cases where Unicode FULL case folding (the literature's
    // pre-fingerprint fold) differs on real-world text: ß → "ss"
    // (covers ẞ too — it lowercases to ß first) and final sigma
    // ς → σ. The NFKC pass already handles the one-to-many
    // compatibility cases (ligatures, ﬅ, …); everything else in the
    // simple-vs-full delta is historic/liturgical scripts this fold
    // does not claim. The replacement runs AFTER lowercase so it is
    // idempotent ("ss"/σ are fixed points).
    val cf =
      if (lc.indexOf('ß') < 0 && lc.indexOf('ς') < 0) lc
      else {
        val sb = new java.lang.StringBuilder(lc.length + 8)
        var j = 0
        while (j < lc.length) {
          val c = lc.charAt(j)
          if (c == 'ß') sb.append("ss")
          else if (c == 'ς') sb.append('σ')
          else sb.append(c)
          j += 1
        }
        sb.toString
      }
    val out =
      if (java.text.Normalizer.isNormalized(cf, form)) cf
      else java.text.Normalizer.normalize(cf, form)
    if (out == str) s else UTF8String.fromString(out)
  }
}

/** Native Catalyst expression for NFKC + casefold — [[NfcNormalize]]'s
  * compatibility sibling, the pre-fingerprint normalization near-dup
  * pipelines want (NFC preserves visual distinctions like ﬁ vs fi and
  * Ａ vs A that a dedup key must NOT preserve). Same codegen shape.
  * DuckDB has no `nfkc_normalize`, so the `text_normalize_nfkc` gate
  * plants evidence whose NFKC+fold image is constructible with
  * `chr()` arithmetic and the oracle replays the EXPECTED output
  * directly; NfcNormalizeSpec pins the kernel against
  * `java.text.Normalizer` ground truth on generic shapes. */
final case class NfkcCasefold(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "nfkc_casefold"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"nfkc_casefold needs STRING, got $other")
    }

  override def nullSafeEval(input: Any): Any =
    NfkcCasefoldUtil.nfkcCf(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.NfkcCasefoldUtil.nfkcCf($c);")

  override protected def withNewChildInternal(newChild: Expression): NfkcCasefold =
    copy(child = newChild)
}

object NfkcCasefold {
  val FUNC_NAME = "graft_nfkc_cf"
}

object NfcNormalize {
  val FUNC_NAME = "graft_nfc"
}
