package graft.canon

import java.net.IDN

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.functions.xxhash64
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Domain canonicalization: trim → lowercase → strip one trailing dot →
  * IDNA/punycode (`java.net.IDN.toASCII`).
  *
  * Semantics match the reference crawler's handling of user-supplied domain
  * names: whitespace-trimmed lines (reference `single.py:48`), names passed
  * to the resolver without the trailing root dot (reference
  * `dns_utils.py:262-264` appends its own absolute dot), and hosts
  * IDNA-encoded before use (reference `web_utils.py:45-56`).
  *
  * Exposed three ways, most-preferred first:
  *   - [[CanonicalizeDomain]]: a codegen'd Catalyst `UnaryExpression`
  *     (whole-stage-codegen friendly; no UDF serialization overhead);
  *   - `Canon.canonicalizeDomainCol`: the `Column` wrapper;
  *   - `Canon.canonicalize`: the plain Scala function for probe leaves.
  *
  * The frontier seen-set key is `xxhash64(canonicalize_domain(col))` —
  * `xxhash64` is a Spark built-in codegen'd expression, so the whole
  * canonicalize→punycode→hash pipeline stays inside WholeStageCodegen.
  */
object Canon {

  /** Pure canonicalizer. Null-safe at the expression layer, not here.
    * Invalid IDNA input falls back to the lowercased form rather than
    * failing the row (a crawler must never die on one bad seed).
    *
    * Only a name with a non-ASCII character reaches IDN: `IDN.toASCII`
    * returns an all-ASCII name unchanged (its labels skip nameprep and
    * punycode; an empty or over-63-character label throws, which falls
    * back to the same string), so the fast path is exact.
    */
  def canonicalize(raw: String): String = {
    var s = raw.trim.toLowerCase(java.util.Locale.ROOT)
    if (s.endsWith(".") && s.length > 1) s = s.substring(0, s.length - 1)
    if (isAscii(s)) s else idnToAscii(s)
  }

  /** The IDNA step of [[canonicalize]], for names with a non-ASCII character. */
  private[graft] def idnToAscii(s: String): String =
    try IDN.toASCII(s, IDN.ALLOW_UNASSIGNED)
    catch { case _: IllegalArgumentException => s }

  private def isAscii(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) >= 0x80) return false
      i += 1
    }
    true
  }

  /** UTF8String bridge used from generated code (static call target). */
  def canonicalizeUtf8(raw: UTF8String): UTF8String =
    UTF8String.fromString(canonicalize(raw.toString))

  def canonicalizeDomainCol(c: Column): Column =
    GraftSqlBridge.toCol(CanonicalizeDomain(GraftSqlBridge.toExpr(c)))

  /** Frontier key: canonicalize → punycode → xxHash64 (built-in). */
  def domainKey(c: Column): Column = xxhash64(canonicalizeDomainCol(c))

  /** URL canonicalization for the URL-seen frontier — the RFC 3986 §6
    * normalization subset that collapses crawl-equivalent URLs to one
    * seen-set key without changing what the fetcher would retrieve:
    *
    *   - scheme and host lowercase; host additionally IDNA/punycode'd and
    *     root-dot-stripped via [[canonicalizeDomainCol]];
    *   - default ports dropped (`:80` for http, `:443` for https);
    *   - fragment dropped FIRST (a `?` inside a fragment is not a query —
    *     the ordering discipline of `TextOps.htmlToText`);
    *   - empty path → `/` (RFC 3986 §6.2.3);
    *   - query parameters sorted bytewise and empty params dropped
    *     (duplicate params kept — order-insensitive but multiplicity-
    *     preserving, so `?a=1&a=1` stays distinct from `?a=1`).
    *
    * Out of scope, documented: dot-segment removal and percent-encoding
    * normalization (both change bytes the origin may be sensitive to);
    * userinfo (crawl frontiers don't carry credentials). Input without a
    * `scheme://` is not a URL and maps to NULL rather than a junk key —
    * the frontier's null-skip filter drops it.
    *
    * Pure Column tree (regexp + array ops) — scan-local inside
    * whole-stage codegen except the one [[CanonicalizeDomain]] host hop;
    * oracle-replayable for ASCII hosts (DuckDB regexp/list functions).
    */
  def canonicalizeUrlCol(u: Column): Column = {
    import org.apache.spark.sql.functions._
    val base = regexp_replace(trim(u), "#.*$", "")
    val scheme = lower(regexp_extract(base, "^([A-Za-z][A-Za-z0-9+.\\-]*)://", 1))
    val auth = regexp_extract(base, "^[^:]+://([^/?#]*)", 1)
    val host = canonicalizeDomainCol(regexp_extract(auth, "^([^:]*)", 1))
    val port = regexp_extract(auth, ":([0-9]+)$", 1)
    val path = regexp_extract(base, "^[^:]+://[^/?#]*([^?#]*)", 1)
    val query = regexp_extract(base, "\\?(.*)$", 1)
    val defaultPort = port === "" ||
      (scheme === "http" && port === "80") ||
      (scheme === "https" && port === "443")
    val qSorted = array_join(
      array_sort(filter(split(query, "&"), p => length(p) > lit(0))), "&")
    when(scheme === "", lit(null).cast("string"))
      .otherwise(concat(
        scheme, lit("://"), host,
        when(defaultPort, lit("")).otherwise(concat(lit(":"), port)),
        when(path === "", lit("/")).otherwise(path),
        when(qSorted === "", lit("")).otherwise(concat(lit("?"), qSorted))))
  }

  /** URL-seen frontier key: canonicalize → punycode host → xxHash64. */
  def urlKey(c: Column): Column = xxhash64(canonicalizeUrlCol(c))
}

/** Codegen'd canonicalize(trim, lowercase, strip-root-dot, IDNA) expression. */
case class CanonicalizeDomain(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "canonicalize_domain"

  override protected def nullSafeEval(input: Any): Any =
    Canon.canonicalizeUtf8(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.canon.Canon.canonicalizeUtf8($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
