package graft.operators

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Single-pass URL scalars as custom Catalyst expressions — the codegen'd
 * replacements for [[UrlOps]]' regex-chain Column formulations.
 *
 * Why they exist (measured, sf0.1): a Column tree that references its own
 * intermediates several times (`when(h === "", …).otherwise(h)`, the
 * port/userinfo conditionals) is EXPANDED at every reference, and a
 * downstream filter on the result (`where(canon_url.isNotNull)`) copies
 * the whole tree into the predicate. CaseWhen branches are excluded from
 * codegen subexpression elimination, so every copy re-runs its regexes —
 * the q79 edge filter paid ~7x the projection's cost this way. One opaque
 * expression evaluates the scan exactly once per reference, and a
 * duplicated reference costs one function call, not a regex cascade.
 *
 * Semantics are the regex chains' EXACTLY — each helper mirrors one regex
 * (including `#.*$`'s Java line-terminator quirks) — and the old Column
 * formulations stay in [[UrlOps]] as `*Ref` references that the specs
 * fuzz-pin these rewrites against.
 */
object UrlScan {

  @inline private def isTerm(c: Char): Boolean =
    c == '\n' || c == '\r' || c == '\u0085' || c == '\u2028' || c == '\u2029'

  /** Where Java's `$` (no MULTILINE) matches before the end of input:
    * the start of a final \n / \r\n / \r / NEL / LS / PS, else the
    * length. A pattern ending in `$` whose last char cannot be a line
    * terminator can only match up to this boundary. */
  private def dollarEnd(s: String): Int = {
    val n = s.length
    if (n >= 2 && s.charAt(n - 2) == '\r' && s.charAt(n - 1) == '\n') n - 2
    else if (n >= 1 && isTerm(s.charAt(n - 1))) n - 1
    else n
  }

  /** Exact `regexp_replace(s, "#.*$", "")` (Java semantics): drop from
    * the first '#' that can reach `$` — i.e. the first '#' after the
    * last line terminator that precedes the [[dollarEnd]] boundary. */
  def stripFragment(s: String): String = {
    val e = dollarEnd(s)
    var t = -1
    var i = 0
    while (i < e) { if (isTerm(s.charAt(i))) t = i; i += 1 }
    var p = t + 1
    while (p < e && s.charAt(p) != '#') p += 1
    if (p >= e) s else s.substring(0, p) + s.substring(e)
  }

  @inline private def isSchemeStart(c: Char): Boolean =
    (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')

  @inline private def isSchemeChar(c: Char): Boolean =
    isSchemeStart(c) || (c >= '0' && c <= '9') || c == '+' || c == '.' || c == '-'

  /** Index just past `scheme` for `^[A-Za-z][A-Za-z0-9+.-]*://` (i.e. of
    * the ':'), or -1 when the anchor regex would not match. The scheme
    * class excludes ':' and '/', so backtracking cannot rescue a prefix
    * whose first non-scheme char is not the "://" — the greedy scan is
    * exact. */
  def schemeEnd(s: String): Int = {
    val n = s.length
    if (n == 0 || !isSchemeStart(s.charAt(0))) return -1
    var i = 1
    while (i < n && isSchemeChar(s.charAt(i))) i += 1
    if (i <= n - 3 && s.charAt(i) == ':' && s.charAt(i + 1) == '/' &&
        s.charAt(i + 2) == '/') i
    else -1
  }

  /** First index ≥ from of any char in `stops`, or `s.length`. */
  @inline private def upTo(s: String, from: Int, stops: String): Int = {
    var i = from
    val n = s.length
    while (i < n && stops.indexOf(s.charAt(i)) < 0) i += 1
    i
  }

  /** Spark `lower()` ≡ UTF8String.toLowerCase — applied via UTF8String so
    * full-Unicode mappings match the builtin bit-for-bit. */
  @inline private def sparkLower(s: String): String =
    UTF8String.fromString(s).toLowerCase.toString

  /** `regexp_replace(h, ":[0-9]+$", "")`: strip the ':' and digits that
    * end at the [[dollarEnd]] boundary iff there is at least one digit;
    * a final line terminator stays. */
  def stripAnyPort(h: String): String = {
    val e = dollarEnd(h)
    var i = e - 1
    while (i >= 0 && h.charAt(i) >= '0' && h.charAt(i) <= '9') i -= 1
    if (i < e - 1 && i >= 0 && h.charAt(i) == ':') h.substring(0, i) + h.substring(e)
    else h
  }

  /** `regexp_replace(h, suffix + "$", "")` for a literal `suffix` that
    * contains no line terminator. */
  private def stripSuffixAtEnd(h: String, suffix: String): String = {
    val e = dollarEnd(h)
    val b = e - suffix.length
    if (b >= 0 && h.startsWith(suffix, b)) h.substring(0, b) + h.substring(e) else h
  }

  /** Query params sorted bytewise (split '&', drop empties, UTF8-binary
    * sort, join '&') — `array_join(array_sort(filter(split(q, "&"), …)))`. */
  def sortParams(q: String): String = {
    if (q.isEmpty) return ""
    val parts = new java.util.ArrayList[UTF8String]()
    var st = 0
    var i = 0
    val n = q.length
    while (i <= n) {
      if (i == n || q.charAt(i) == '&') {
        if (i > st) parts.add(UTF8String.fromString(q.substring(st, i)))
        st = i + 1
      }
      i += 1
    }
    if (parts.isEmpty) return ""
    java.util.Collections.sort(parts)
    val sb = new java.lang.StringBuilder()
    var k = 0
    while (k < parts.size()) {
      if (k > 0) sb.append('&')
      sb.append(parts.get(k).toString)
      k += 1
    }
    sb.toString
  }

  /** [[UrlOps.canonicalizeUrl]]'s exact value, or null. */
  def canon(u0: UTF8String): UTF8String = {
    val u = stripFragment(u0.toString)
    val se = schemeEnd(u)
    if (se < 0) return null
    val scheme = sparkLower(u.substring(0, se))
    val authEnd = upTo(u, se + 3, "/?#")
    val rawHost = sparkLower(u.substring(se + 3, authEnd))
    if (rawHost.isEmpty) return null
    val host =
      if (scheme == "http") stripSuffixAtEnd(rawHost, ":80")
      else if (scheme == "https") stripSuffixAtEnd(rawHost, ":443")
      else rawHost
    val pathEnd = upTo(u, authEnd, "?#")
    val path = if (pathEnd == authEnd) "/" else u.substring(authEnd, pathEnd)
    val qi = u.indexOf('?')
    val q0 = if (qi < 0) "" else u.substring(qi + 1, upTo(u, qi + 1, "#"))
    val qs = sortParams(q0)
    val query = if (qs.isEmpty) "" else "?" + qs
    UTF8String.fromString(scheme + "://" + host + path + query)
  }

  /** [[UrlOps.surtKey]]'s exact value, or null. */
  def surt(u0: UTF8String): UTF8String = {
    val u = stripFragment(u0.toString)
    val se = schemeEnd(u)
    if (se < 0) return null
    val authEnd = upTo(u, se + 3, "/?#")
    val rawHost = sparkLower(u.substring(se + 3, authEnd))
    if (rawHost.isEmpty) return null
    val noPort = stripAnyPort(rawHost)
    val host = if (noPort.startsWith("www.")) noPort.substring(4) else noPort
    // split on '.' KEEPING empty tokens (Spark's split keeps trailing
    // empties; java's String.split drops them), reverse, join ','
    val sb = new java.lang.StringBuilder()
    var end = host.length
    var i = host.length - 1
    var first = true
    while (i >= -1) {
      if (i == -1 || host.charAt(i) == '.') {
        if (!first) sb.append(',')
        sb.append(host, i + 1, end)
        first = false
        end = if (i >= 0) i else 0
      }
      i -= 1
    }
    val revHost = sb.toString
    val pathEnd = upTo(u, authEnd, "?#")
    val path = if (pathEnd == authEnd) "/" else u.substring(authEnd, pathEnd)
    val qi = u.indexOf('?')
    val q0 = if (qi < 0) "" else u.substring(qi + 1, upTo(u, qi + 1, "#"))
    val qs = sortParams(q0)
    val query = if (qs.isEmpty) "" else "?" + qs
    UTF8String.fromString(revHost + ")" + path + query)
  }

  /** [[LinkGraph.hostOf]]'s exact value, or null: NO fragment strip,
    * authority lowercased, userinfo (through the first '@') and a
    * trailing `:[0-9]+` port stripped. */
  def host(u0: UTF8String): UTF8String = {
    val u = u0.toString
    val se = schemeEnd(u)
    if (se < 0) return null
    val authEnd = upTo(u, se + 3, "/?#")
    val auth = sparkLower(u.substring(se + 3, authEnd))
    val at = auth.indexOf('@')
    val noUser = if (at < 0) auth else auth.substring(at + 1)
    val h = stripAnyPort(noUser)
    if (h.isEmpty) null else UTF8String.fromString(h)
  }
}

abstract class UrlScanExpression extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires string, got $other")
    }
  /** Static method on [[UrlScan]] backing this expression. */
  protected def method: String
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.operators.UrlScan.$method($c);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })
}

case class CanonUrl(child: Expression) extends UrlScanExpression {
  override def prettyName: String = "canon_url"
  override protected def method: String = "canon"
  override def nullSafeEval(input: Any): Any =
    UrlScan.canon(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): CanonUrl =
    copy(child = newChild)
}

case class SurtKey(child: Expression) extends UrlScanExpression {
  override def prettyName: String = "surt_key"
  override protected def method: String = "surt"
  override def nullSafeEval(input: Any): Any =
    UrlScan.surt(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): SurtKey =
    copy(child = newChild)
}

case class HostOfUrl(child: Expression) extends UrlScanExpression {
  override def prettyName: String = "host_of"
  override protected def method: String = "host"
  override def nullSafeEval(input: Any): Any =
    UrlScan.host(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): HostOfUrl =
    copy(child = newChild)
}
