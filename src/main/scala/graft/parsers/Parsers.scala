package graft.parsers

import graft.model.Model._

/** Pure scalar parsers — the reference's record/header grammar, re-expressed
  * as Scala functions used both inside probe leaves and (where useful) as
  * column expressions. Each cites its semantic source in the reference.
  */
object Parsers {

  /** IANA DNSSEC algorithm mnemonics (reference `dns_utils.py:130-141`
    * uses dnspython's table; this is the same public IANA registry).
    */
  val DnssecAlgorithms: Map[Int, String] = Map(
    1 -> "RSAMD5", 3 -> "DSA", 5 -> "RSASHA1", 6 -> "DSANSEC3SHA1",
    7 -> "RSASHA1NSEC3SHA1", 8 -> "RSASHA256", 10 -> "RSASHA512",
    12 -> "ECCGOST", 13 -> "ECDSAP256SHA256", 14 -> "ECDSAP384SHA384",
    15 -> "ED25519", 16 -> "ED448")

  /** Annotate a DS/DNSKEY record's algorithm field: token index 1 for DS,
    * 2 for DNSKEY (reference `dns_utils.py:130-141`, called from
    * `crawl.py:58-59`).
    */
  def annotateAlgorithm(rdata: String, tokenIndex: Int): Option[String] = {
    val toks = rdata.trim.split("\\s+")
    if (toks.length <= tokenIndex) None
    else toks(tokenIndex).toIntOption.flatMap(a =>
      Some(DnssecAlgorithms.getOrElse(a, a.toString)))
  }

  /** Parse TLSA rdata "usage selector matchingtype data" (reference
    * `dns_utils.py:186-203`); unparseable → None; empty input handled by
    * the caller's null-collapse (`dns_utils.py:201-202`).
    */
  def parseTlsa(rdata: String): Option[Tlsa] = {
    val t = rdata.trim.stripPrefix("\"").stripSuffix("\"").split("\\s+")
    if (t.length < 4) None
    else for {
      u <- t(0).toIntOption
      s <- t(1).toIntOption
      m <- t(2).toIntOption
    } yield Tlsa(u, s, m, t.drop(3).mkString(""))
  }

  private def noneIfEmpty(xs: Seq[String]): Option[Seq[String]] =
    if (xs.isEmpty) None else Some(xs)

  /** SPF parse — RFC 7208 subset as surfaced by the reference's checkdmarc
    * call (`dns_utils.py:161-183`): mechanism qualifier buckets, derived
    * pass-ip4/ip6 lists (`get_spf_pass_ips`, `dns_utils.py:161-163`), and
    * all/redirect/exp modifiers. Not v=spf1 → error (mirrors checkdmarc's
    * validation error surface).
    */
  def parseSpf(record: String): SpfParsed = {
    val r = record.trim.stripPrefix("\"").stripSuffix("\"")
    if (!r.toLowerCase.startsWith("v=spf1"))
      return SpfParsed(record, None, None, None, None, None, None, None,
        None, None, None, Some("Not a valid SPF record"))
    var pass, fail, soft, neutral, include = Vector.empty[String]
    var all, redirect, exp: Option[String] = None
    r.split("\\s+").drop(1).foreach { term =>
      val (qual, body) = term.headOption match {
        case Some('+') => ("pass", term.tail)
        case Some('-') => ("fail", term.tail)
        case Some('~') => ("softfail", term.tail)
        case Some('?') => ("neutral", term.tail)
        case _ => ("pass", term)
      }
      val lower = body.toLowerCase
      if (lower == "all") all = Some(qual)
      else if (lower.startsWith("redirect=")) redirect = Some(body.substring(9))
      else if (lower.startsWith("exp=")) exp = Some(body.substring(4))
      else if (lower.startsWith("include:")) include :+= body.substring(8)
      else qual match {
        case "pass" => pass :+= body
        case "fail" => fail :+= body
        case "softfail" => soft :+= body
        case "neutral" => neutral :+= body
      }
    }
    val ip4 = pass.filter(_.toLowerCase.startsWith("ip4:")).map(_.substring(4))
    val ip6 = pass.filter(_.toLowerCase.startsWith("ip6:")).map(_.substring(4))
    SpfParsed(record, noneIfEmpty(pass), noneIfEmpty(fail), noneIfEmpty(soft),
      noneIfEmpty(neutral), noneIfEmpty(include), noneIfEmpty(ip4),
      noneIfEmpty(ip6), all, redirect, exp, None)
  }

  // JSON string escape for [[renderSpfNested]] — the same rules as the
  // JSON sink (ensure_ascii=False: mandatory escapes only, UTF-8 through)
  private def jsonEsc(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 8)
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  /** Compact JSON of a nested SPF parse — the `parsed` member of a
    * resolved redirect object. checkdmarc's inner shape: qualifier
    * buckets as `{value, mechanism}` objects, include as bare domain
    * strings (`result-schema.json:82-86`), redirect recursively resolved
    * (already rendered inside [[graft.model.Model.SpfRef]] — spliced
    * raw), exp/all; no ip4/ip6 (the reference injects those at the TOP
    * level only, `dns_utils.py:173-175`).
    */
  def renderSpfNested(s: SpfParsed): String = {
    val sb = new java.lang.StringBuilder(128)
    s.error match {
      case Some(e) =>
        sb.append("{\"error\":\"").append(jsonEsc(e)).append("\"}")
      case None =>
        def bucket(name: String, xs: Option[Seq[String]]): Unit = {
          sb.append('"').append(name).append("\":[")
          var first = true
          xs.getOrElse(Seq.empty).foreach { body =>
            if (!first) sb.append(',')
            first = false
            val i = body.indexOf(':')
            val (mech, v) =
              if (i > 0) (body.substring(0, i), body.substring(i + 1))
              else (body, body)
            sb.append("{\"value\":\"").append(jsonEsc(v))
              .append("\",\"mechanism\":\"").append(jsonEsc(mech.toLowerCase))
              .append("\"}")
          }
          sb.append(']')
        }
        def strOrNull(name: String, v: Option[String]): Unit = {
          sb.append(",\"").append(name).append("\":")
          v match {
            case Some(x) => sb.append('"').append(jsonEsc(x)).append('"')
            case None => sb.append("null")
          }
        }
        sb.append('{')
        bucket("pass", s.pass); sb.append(',')
        bucket("neutral", s.neutral); sb.append(',')
        bucket("softfail", s.softfail); sb.append(',')
        bucket("fail", s.fail)
        sb.append(",\"include\":[")
        var first = true
        s.include.getOrElse(Seq.empty).foreach { d =>
          if (!first) sb.append(',')
          first = false
          sb.append('"').append(jsonEsc(d)).append('"')
        }
        sb.append(']')
        sb.append(",\"redirect\":").append(renderSpfRef(s))
        strOrNull("exp", s.exp)
        strOrNull("all", s.all)
        sb.append('}')
    }
    sb.toString
  }

  /** The redirect member: resolved `{domain, record?, parsed?}` object
    * (`result-schema.json:91-93` — null or object), `{domain}` alone when
    * the target had no SPF record or a loop was cut, raw-string fallback
    * when resolution never ran (pure-parse callers), null when absent.
    */
  def renderSpfRef(s: SpfParsed): String = s.redirect_resolved match {
    case Some(ref) =>
      val sb = new java.lang.StringBuilder(64)
      sb.append("{\"domain\":\"").append(jsonEsc(ref.domain)).append('"')
      ref.record.foreach(r => sb.append(",\"record\":\"").append(jsonEsc(r)).append('"'))
      ref.parsed.foreach(p => sb.append(",\"parsed\":").append(p))
      sb.append('}').toString
    case None => s.redirect match {
      case Some(raw) => "\"" + jsonEsc(raw) + "\""
      case None => "null"
    }
  }

  /** DMARC tag-map parse (reference `dns_utils.py:144-158`,
    * `result-schema.json:101-143`): `k=v` pairs split on `;`.
    */
  def parseDmarc(record: String): DmarcParsed = {
    val r = record.trim.stripPrefix("\"").stripSuffix("\"")
    if (!r.toLowerCase.startsWith("v=dmarc1"))
      return DmarcParsed(record, None, None, None, None, None, None, None,
        None, None, None, None, Some("Not a valid DMARC record"))
    val tags = r.split(";").iterator.map(_.trim).filter(_.contains("="))
      .map { kv => val Array(k, v) = kv.split("=", 2); (k.trim.toLowerCase, v.trim) }
      .toMap
    DmarcParsed(record, tags.get("v"), tags.get("p"), tags.get("sp"),
      tags.get("adkim"), tags.get("aspf"), tags.get("pct"), tags.get("fo"),
      tags.get("ri"), tags.get("rua"), tags.get("ruf"), tags.get("rf"), None)
  }

  /** checkdmarc per-tag object view (`checkdmarc.parse_dmarc_record`,
    * `result-example.json` TXT_DMARC): each tag becomes `{value, explicit}`
    * with RFC 7489 defaults filled for absent tags — sp ← p's value,
    * adkim/aspf "r", pct 100, fo ["0"], ri 86400, rf ["afrf"] — and typed
    * values: pct/ri ints, fo split on ':', rf split on ',', rua/ruf
    * parsed to `{scheme, address, size_limit}` URI objects (`!limit`
    * suffix). rua/ruf have no default and are omitted when absent; tag
    * order matches the reference output. Error entries have no tag view.
    */
  def dmarcTags(d: DmarcParsed): Seq[(String, DmarcTag)] = {
    if (d.error.isDefined) return Seq.empty
    def str(raw: Option[String], default: Option[String]): Option[DmarcTag] =
      raw match {
        case Some(v) => Some(DmarcTag(strValue = Some(v), explicit = true))
        case None => default.map(v => DmarcTag(strValue = Some(v), explicit = false))
      }
    def int(raw: Option[String], default: Long): DmarcTag = raw match {
      case Some(v) => v.trim.toLongOption match {
        case Some(n) => DmarcTag(intValue = Some(n), explicit = true)
        case None => DmarcTag(strValue = Some(v), explicit = true) // junk kept raw
      }
      case None => DmarcTag(intValue = Some(default), explicit = false)
    }
    def list(raw: Option[String], sep: Char, default: Seq[String]): DmarcTag =
      raw match {
        case Some(v) => DmarcTag(
          listValue = Some(v.split(sep).toSeq.map(_.trim).filter(_.nonEmpty)),
          explicit = true)
        case None => DmarcTag(listValue = Some(default), explicit = false)
      }
    def uris(raw: String): Seq[DmarcUri] =
      raw.split(',').toSeq.map(_.trim).filter(_.nonEmpty).map { u =>
        val (body, limit) = u.indexOf('!') match {
          case -1 => (u, None)
          case i => (u.substring(0, i), Some(u.substring(i + 1)))
        }
        val (scheme, addr) = body.indexOf(':') match {
          case -1 => ("", body)
          case i => (body.substring(0, i), body.substring(i + 1))
        }
        DmarcUri(scheme, addr, limit)
      }
    def uriTag(raw: Option[String]): Option[DmarcTag] =
      raw.map(v => DmarcTag(uriValue = Some(uris(v)), explicit = true))
    // v's value is the bare version token ("DMARC1"), like checkdmarc
    val vTag = DmarcTag(strValue = Some(d.v.getOrElse("DMARC1")), explicit = true)
    Seq("v" -> Some(vTag),
      "p" -> str(d.p, None),
      "sp" -> str(d.sp, d.p), // default: mirror p (RFC 7489 §6.3)
      "adkim" -> str(d.adkim, Some("r")),
      "pct" -> Some(int(d.pct, 100L)),
      "fo" -> Some(list(d.fo, ':', Seq("0"))),
      "ri" -> Some(int(d.ri, 86400L)),
      "rua" -> uriTag(d.rua),
      "ruf" -> uriTag(d.ruf),
      "aspf" -> str(d.aspf, Some("r")),
      "rf" -> Some(list(d.rf, ',', Seq("afrf"))))
      .collect { case (k, Some(t)) => k -> t }
  }

  /** Parse strict-transport-security header (reference `web_utils.py:75-86`). */
  def parseHstsHeader(raw: String): HstsHeader = {
    // single pass, case-insensitive region compares — this runs per
    // hsts-bearing web step, the split→trim→lowercase chain was churn
    var maxAge: Option[Long] = None
    var maxAgeSeen = false // first max-age segment decides, like collectFirst
    var includeSub = false
    var preload = false
    val len = raw.length
    var segStart = 0
    while (segStart <= len) {
      var segEnd = raw.indexOf(';', segStart)
      if (segEnd < 0) segEnd = len
      var a = segStart; var b = segEnd
      while (a < b && raw.charAt(a) <= ' ') a += 1
      while (b > a && raw.charAt(b - 1) <= ' ') b -= 1
      val n = b - a
      if (n >= 8 && raw.regionMatches(true, a, "max-age=", 0, 8)) {
        if (!maxAgeSeen) {
          maxAgeSeen = true
          var v = 0L; var i = a + 8; var any = false
          while (i < b && raw.charAt(i).isDigit) { v = v * 10 + (raw.charAt(i) - '0'); i += 1; any = true }
          if (any) maxAge = Some(v) // no digits → None, like toLongOption("")
        }
      } else if (n == 17 && raw.regionMatches(true, a, "includesubdomains", 0, 17))
        includeSub = true
      else if (n == 7 && raw.regionMatches(true, a, "preload", 0, 7))
        preload = true
      segStart = segEnd + 1
    }
    HstsHeader(maxAge,
      if (includeSub) Some(true) else None,
      if (preload) Some(true) else None,
      raw)
  }

  /** alt-svc header → protocol → authority map (reference
    * `web_utils.py:67-72`): `h3=":443"; ma=86400, h2=":443"`.
    */
  def parseAltSvc(raw: String): Map[String, String] =
    raw.split(",").iterator.flatMap { entry =>
      // limit=2 keeps ≥1 element even for all-empty fields (";".split(";")
      // with no limit is the EMPTY array — trailing empties are dropped)
      val kv = entry.split(";", 2)(0).trim
      val eq = kv.indexOf('=')
      if (eq <= 0) None
      else Some(kv.substring(0, eq).trim ->
        kv.substring(eq + 1).trim.stripPrefix("\"").stripSuffix("\""))
    }.toMap

  private val StdCookieAttrs =
    Set("domain", "path", "secure", "httponly", "expires", "max-age", "samesite")

  /** set-cookie header → cookie struct (reference `web_utils.py:243-252`):
    * name/value + standard attrs, nonstandard attrs passed through.
    */
  def parseSetCookie(raw: String): Option[Cookie] = {
    // single pass over ';'-separated segments with trimmed-bound
    // substrings — this runs per cookie-bearing web step, and the old
    // split→trim→filter→lowercase chain allocated ~10 intermediates
    val len = raw.length
    var name: String = null
    var value: String = null
    var domain, path, expires: Option[String] = None
    var secure, httponly: Option[Boolean] = None
    var nonstd: scala.collection.mutable.LinkedHashMap[String, String] = null
    var segStart = 0
    var first = true
    while (segStart <= len) {
      var segEnd = raw.indexOf(';', segStart)
      if (segEnd < 0) segEnd = len
      var a = segStart; var b = segEnd
      while (a < b && raw.charAt(a) <= ' ') a += 1
      while (b > a && raw.charAt(b - 1) <= ' ') b -= 1
      if (b > a) {
        var eq = raw.indexOf('=', a)
        if (eq >= b) eq = -1
        if (first) {
          if (eq <= a) return None // first segment must be name=value
          name = raw.substring(a, eq)
          value = raw.substring(eq + 1, b)
          first = false
        } else {
          val k =
            if (eq < 0) raw.substring(a, b).toLowerCase
            else raw.substring(a, eq).toLowerCase
          val v = if (eq < 0) "" else raw.substring(eq + 1, b)
          k match {
            case "domain" => domain = Some(v)
            case "path" => path = Some(v)
            case "expires" => expires = Some(v)
            case "secure" => secure = Some(true)
            case "httponly" => httponly = Some(true)
            case _ if !StdCookieAttrs.contains(k) =>
              if (nonstd == null)
                nonstd = scala.collection.mutable.LinkedHashMap.empty[String, String]
              nonstd(k) = v
            case _ => ()
          }
        }
      }
      segStart = segEnd + 1
    }
    if (first) None // only empty segments
    else Some(Cookie(name, value, domain, path, secure, httponly, expires,
      if (nonstd == null) Map.empty else nonstd.toMap))
  }

  private def charsetFromContentType(contentType: Option[String]): Option[String] =
    contentType.flatMap { ct =>
      val i = ct.toLowerCase.indexOf("charset=")
      if (i < 0) None
      else Some(ct.substring(i + 8).split(";")(0).trim.toLowerCase)
    }

  private def tryDecode(data: Array[Byte], cs: String): Option[String] =
    try {
      val dec = java.nio.charset.Charset.forName(cs).newDecoder()
        .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
        .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
      Some(dec.decode(java.nio.ByteBuffer.wrap(data)).toString)
    } catch { case _: Exception => None }

  /** Deterministic byte-histogram charset detector — the pure-Scala analog
    * of the reference's primary ICU path (`icu.CharsetDetector`,
    * `web_utils.py:134`), tuned for the crawler's home turf: Czech legacy
    * pages in windows-1250 / iso-8859-2 vs western windows-1252.
    *
    * Decision tree:
    *  1. pure ASCII → "ascii"; strictly-valid UTF-8 → "utf-8".
    *  2. otherwise a single-byte encoding. cp1250, latin2 and cp1252 agree
    *     on most Latin-1 letter positions (á é í ó ú ä ö ü …), so only the
    *     *discriminative* bytes decide: Czech-leaning positions — 0x9D ť,
    *     0xEC ě (ì west), 0xF8 ř (ø west), 0xE8 č (è west), 0xF9 ů (ù
    *     west), plus latin2's š/ž at 0xB9/0xBE — against western-leaning
    *     0xE0 à and 0xE7 ç. Czech wins ties (nic.cz's crawl population).
    *  3. Czech family: any 0x80–0x9F byte (letters š/ž/ť in the windows
    *     codepage, control range in ISO) → "windows-1250"; else 0xB9/0xBE
    *     present → "iso-8859-2"; else "windows-1250" (the two agree on
    *     every byte such a text contains, and cp1250 is the reference's
    *     `fallback_encodings[0]`).
    */
  def detectCharset(data: Array[Byte]): String = {
    if (data.forall(_ >= 0)) return "ascii"
    if (isValidUtf8(data)) return "utf-8"
    var czech = 0; var western = 0
    var winRange = false; var latin2Marker = false
    var i = 0
    while (i < data.length) {
      val b = data(i) & 0xff
      if (b >= 0x80) {
        if (b <= 0x9f) winRange = true
        b match {
          case 0x9d | 0xec | 0xf8 | 0xe8 | 0xf9 => czech += 1
          case 0xb9 | 0xbe => czech += 1; latin2Marker = true
          case 0xe0 | 0xe7 => western += 1
          case _ =>
        }
      }
      i += 1
    }
    if (czech >= western && czech > 0) {
      if (winRange) "windows-1250"
      else if (latin2Marker) "iso-8859-2"
      else "windows-1250"
    } else "windows-1252"
  }

  private def isValidUtf8(data: Array[Byte]): Boolean = {
    var i = 0
    while (i < data.length) {
      val b = data(i) & 0xff
      val len =
        if (b < 0x80) 1
        else if ((b & 0xe0) == 0xc0 && b >= 0xc2) 2
        else if ((b & 0xf0) == 0xe0) 3
        else if ((b & 0xf8) == 0xf0 && b <= 0xf4) 4
        else return false
      if (i + len > data.length) return false
      var j = 1
      while (j < len) {
        if ((data(i + j) & 0xc0) != 0x80) return false
        j += 1
      }
      i += len
    }
    true
  }

  /** Encoding auto-detection with the reference's exact fallback structure
    * (`web_utils.py:130-152`): detector guess first ([[detectCharset]] —
    * the ICU analog); on decode failure the content-type charset is tried
    * once, then the fallback chain iso-8859-2 → windows-1252 (the
    * reference's first non-forced fallback is `fallback_encodings[1]`,
    * skipping windows-1250 unless the header names it), then (None, None).
    * Returns (decoded content, encoding).
    */
  def autodetectEncoding(data: Array[Byte], contentType: Option[String])
      : (Option[String], Option[String]) = {
    val detected = detectCharset(data)
    tryDecode(data, detected) match {
      case Some(s) => (Some(s), Some(detected))
      case None =>
        val chain = charsetFromContentType(contentType).toSeq ++
          Seq("iso-8859-2", "windows-1252")
        chain.iterator
          .map(cs => (tryDecode(data, cs), cs))
          .collectFirst { case (Some(s), cs) => (Option(s), Option(cs.toLowerCase)) }
          .getOrElse((None, None))
    }
  }

  /** String-input convenience used by the synthetic probe path (bodies are
    * already-decoded synthetic strings; bytes are their UTF-8 form).
    */
  def detectEncoding(contentType: Option[String], content: String): String =
    autodetectEncoding(content.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      contentType)._2.getOrElse("utf-8")

  /** Leading digits of content-length → long (reference `web_utils.py:89-97`). */
  def parseContentLength(raw: String): Option[Long] =
    raw.trim.takeWhile(_.isDigit) match {
      case "" => None
      case d => d.toLongOption
    }

  /** Binary-content predicate over content-type (reference
    * `web_utils.py:107-119`): application types except json/xml/javascript,
    * audio/video, image minus svg, font.
    */
  def isBinaryContentType(contentType: String): Boolean = {
    val ct = contentType.toLowerCase.split(";")(0).trim
    if (ct.startsWith("application/"))
      !(ct.contains("json") || ct.contains("xml") || ct.contains("javascript"))
    else if (ct.startsWith("image/")) !ct.contains("svg")
    else ct.startsWith("audio/") || ct.startsWith("video/") || ct.startsWith("font/")
  }

  /** MX rdata "pref host" → bare host token, skipping null and root "."
    * (reference `mail_utils.py:95-103`).
    */
  def mxHost(rdata: String): Option[String] = {
    val toks = rdata.trim.split("\\s+")
    val host = toks.last.stripSuffix(".")
    if (host.isEmpty || host == ".") None else Some(host)
  }

  /** Exception → normalized message, timeouts collapsed to "timeout"
    * (reference `web_utils.py:122-127`).
    */
  def emsg(e: Throwable): String = {
    val m = Option(e.getMessage).getOrElse(e.getClass.getSimpleName)
    if (m.toLowerCase.contains("timed out") || m.toLowerCase.contains("timeout")) "timeout"
    else m
  }
}
