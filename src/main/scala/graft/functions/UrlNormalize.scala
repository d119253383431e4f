package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Shared URL-canonicalization kernel, callable from interpreted eval
  * AND from generated Java (static forwarder, the [[NfcNormalizeUtil]]
  * shape). RFC 3986 §6 syntax-based normalization for http(s):
  *
  *   - scheme and host lowercase (case-insensitive components; §6.2.2.1)
  *   - default port dropped (`:80` for http, `:443` for https; §6.2.3)
  *   - fragment stripped (never sent to the server — two URLs differing
  *     only in fragment fetch the same resource)
  *   - percent-encoded UNRESERVED octets decoded (`%7E` → `~`; §6.2.2.2)
  *     and every surviving escape's hex uppercased (`%2f` → `%2F`;
  *     §6.2.2.1) in path and query
  *   - dot-segments removed (`/a/./b`, `/a/x/../b` → `/a/b`;
  *     §6.2.2.3), after escape decoding so `%2E`-spelled dots count
  *   - empty path → `/` (§6.2.3); ALL non-root trailing slashes are
  *     dropped, to a fixed point (crawl-frontier convention: directory
  *     and resource forms collapse to one key, and re-normalizing a
  *     stored key is a no-op)
  *   - path/query CASE and query parameter ORDER are preserved — both
  *     are semantically significant, reordering is not a safe
  *     canonicalization
  *   - userinfo (anything before `@` in the authority) is preserved
  *     case-sensitively; only the host[:port] after it lowercases
  *
  * Anything that is not an absolute http(s) URL returns UNCHANGED —
  * the curation posture: a weird record flows through to downstream
  * filters rather than killing a 100 TB job. */
object UrlNormalizeUtil {

  private def isUnreserved(c: Char): Boolean =
    (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
      (c >= '0' && c <= '9') || c == '-' || c == '.' || c == '_' || c == '~'

  private def hexVal(c: Char): Int =
    if (c >= '0' && c <= '9') c - '0'
    else if (c >= 'a' && c <= 'f') c - 'a' + 10
    else if (c >= 'A' && c <= 'F') c - 'A' + 10
    else -1

  /** Decode unreserved escapes, uppercase the hex of surviving ones.
    * A malformed escape (`%` not followed by two hex digits) passes
    * through verbatim. */
  private def canonEscapes(s: String): String = {
    if (s.indexOf('%') < 0) return s
    val out = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length &&
          hexVal(s.charAt(i + 1)) >= 0 && hexVal(s.charAt(i + 2)) >= 0) {
        val v = hexVal(s.charAt(i + 1)) * 16 + hexVal(s.charAt(i + 2))
        if (v < 128 && isUnreserved(v.toChar)) out.append(v.toChar)
        else out.append('%')
          .append(Character.toUpperCase(s.charAt(i + 1)))
          .append(Character.toUpperCase(s.charAt(i + 2)))
        i += 3
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  /** RFC 3986 §6.2.2.3 / §5.2.4 remove_dot_segments, for absolute
    * paths: `/a/./b` → `/a/b`, `/a/x/../b` → `/a/b`, a leading `..`
    * that would climb above the root is dropped. Runs AFTER escape
    * canonicalization so a `%2E`-spelled dot (unreserved, so decoded)
    * participates — the RFC's own ordering. Empty segments (`//`) are
    * preserved as segments (and popped by a following `..` exactly as
    * the RFC's textual algorithm does); a trailing `.`/`..` leaves a
    * trailing slash, which the caller's fixed-point strip then drops
    * like any other. */
  private def removeDotSegments(path: String): String = {
    if (path.indexOf('.') < 0 || path.charAt(0) != '/') return path
    val segs = path.substring(1).split("/", -1)
    val out = new scala.collection.mutable.ArrayBuffer[String](segs.length)
    var trailingSlash = false
    var i = 0
    while (i < segs.length) {
      val seg = segs(i)
      if (seg == ".") trailingSlash = true
      else if (seg == "..") {
        if (out.nonEmpty) out.remove(out.length - 1)
        trailingSlash = true
      } else {
        out += seg
        trailingSlash = false
      }
      i += 1
    }
    "/" + out.mkString("/") + (if (trailingSlash && out.nonEmpty) "/" else "")
  }

  def normalize(u: UTF8String): UTF8String = {
    val url = u.toString
    val si = url.indexOf("://")
    if (si <= 0) return u
    val scheme = url.substring(0, si).toLowerCase(java.util.Locale.ROOT)
    if (scheme != "http" && scheme != "https") return u
    val afterScheme = url.substring(si + 3)
    // Fragment is stripped first — it may contain '/' or '?'.
    val hashIdx = afterScheme.indexOf('#')
    val rest =
      if (hashIdx >= 0) afterScheme.substring(0, hashIdx) else afterScheme
    // Authority ends at the first '/' or '?' (whichever comes first).
    val slashIdx = rest.indexOf('/')
    val qMark = rest.indexOf('?')
    val authEnd =
      if (slashIdx >= 0 && (qMark < 0 || slashIdx < qMark)) slashIdx
      else if (qMark >= 0) qMark
      else rest.length
    val authority = rest.substring(0, authEnd)
    val atIdx = authority.lastIndexOf('@')
    val userinfo = if (atIdx >= 0) authority.substring(0, atIdx + 1) else ""
    var hostPort = authority.substring(atIdx + 1)
      .toLowerCase(java.util.Locale.ROOT)
    val defPort = if (scheme == "http") ":80" else ":443"
    if (hostPort.endsWith(defPort))
      hostPort = hostPort.substring(0, hostPort.length - defPort.length)
    val tail = rest.substring(authEnd)
    val tq = tail.indexOf('?')
    var path = if (tq >= 0) tail.substring(0, tq) else tail
    val query = if (tq >= 0) canonEscapes(tail.substring(tq)) else ""
    path = canonEscapes(path)
    if (path.isEmpty) path = "/"
    else {
      path = removeDotSegments(path)
      // Strip trailing slashes to a FIXED POINT (not just one):
      // '/a//' must collapse to '/a', or re-normalizing a stored
      // canonical key would shift it ('/a//' → '/a/' → '/a') and
      // idempotence — the property frontier keys rest on — breaks.
      var end = path.length
      while (end > 1 && path.charAt(end - 1) == '/') end -= 1
      if (end < path.length) path = path.substring(0, end)
    }
    UTF8String.fromString(
      scheme + "://" + userinfo + hostPort + path + query)
  }
}

/** Native Catalyst expression for URL canonicalization — the first
  * gate of every production crawl pipeline (frontier dedup, domain
  * filters, and per-URL bookkeeping all key on a canonical URL; the
  * same page otherwise enters the corpus once per cosmetic variant).
  * Spark ships `parse_url` (component EXTRACTION) but no normalizer,
  * so this is the preference-ladder rung (b) case again: a
  * `UnaryExpression` whose `doGenCode` stays inside whole-stage
  * codegen (one static call, null handling from `nullSafeCodeGen`).
  * Oracle posture: the planted gate fixture derives raw URLs from
  * doc_id arithmetic, so DuckDB replays the EXPECTED canonical form
  * directly from the same arithmetic — a wrong rewrite of any planted
  * shape breaks the hash compare ([[graft.operators.Pipeline]]
  * `url_normalize`); generic shapes beyond the fixture are pinned by
  * UrlNormalizeSpec. */
final case class UrlNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "url_normalize"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"url_normalize needs STRING, got $other")
    }

  override def nullSafeEval(input: Any): Any =
    UrlNormalizeUtil.normalize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.UrlNormalizeUtil.normalize($c);")

  override protected def withNewChildInternal(newChild: Expression): UrlNormalize =
    copy(child = newChild)
}

object UrlNormalize {
  val FUNC_NAME = "graft_url_normalize"
}
