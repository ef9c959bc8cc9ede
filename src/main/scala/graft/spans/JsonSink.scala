package graft.spans

import graft.model.Model._
import graft.probes.CrawlConfig

/** Reference-format JSON-lines emitter (K1): one compact JSON document per
  * crawled domain, matching the reference's output contract
  * (`crawl.py:186-187`: `json.dumps(..., ensure_ascii=False,
  * separators=(",", ":"))` over the `process_domain` dict).
  *
  * Faithfulness rules (each cites its source):
  *   - compact separators, no spaces, UTF-8 passthrough (no \\u escapes for
  *     non-ASCII) — `get_json_result`, `crawl.py:186-187`;
  *   - key INSERTION ORDER matches the reference's dict build order
  *     (`crawl.py:39-69,165-182`, `web_utils.py:225-320`);
  *   - conditionally-added keys are ABSENT (not null) when their gate is
  *     off: `WEB4_www`/`TXT_SPF` (`crawl.py:45-56`), web combos
  *     (`crawl.py:109-133`), `ipv4`/`ipv6` in DNS_AUTH (`crawl.py:100-104`),
  *     `banners` (`mail_utils.py:61`), `WEB_paths`/`worker_hostname`
  *     (`crawl.py:158-181`), content keys (`web_utils.py:283-320`);
  *   - probe-answered-nothing stays an explicit `null`
  *     (`dns_utils.py:303-306`);
  *   - cert objects drop null fields (`certificate.py:102`,
  *     `utils.py:20-21`);
  *   - parsed headers replace raw values inside the `headers` map
  *     (`web_utils.py:100-104,253-260`): strict-transport-security,
  *     alt-svc, content-length, set-cookie;
  *   - `flatten_output` (config.yml:45, documented but unimplemented in
  *     the reference code): a lone surviving web combo is saved directly
  *     into `WEB`, and a lone per-ip result object replaces its 1-element
  *     list.
  *
  * Documented deviations (typed-model simplifications, see COVERAGE.md):
  * the diagnostic `record` field is omitted on emit at the TOP level
  * (resolved redirect objects keep theirs, like checkdmarc). DMARC tags
  * emit checkdmarc `{value, explicit}` objects; SPF qualifier buckets
  * emit checkdmarc `{value, mechanism}` objects, include entries are bare
  * domain strings and `redirect` is null or the DNS-resolved object —
  * the reference's own output contract (`result-schema.json:32-100`,
  * additionalProperties:false); headers emit in network arrival order.
  */
object JsonSink {

  // ------------------------------------------------------------- renderer

  sealed private trait J
  private case object JNull extends J
  private final case class JB(b: Boolean) extends J
  private final case class JL(n: Long) extends J
  private final case class JS(s: String) extends J
  private final case class JArr(items: Seq[J]) extends J
  private final case class JObj(fields: Seq[(String, J)]) extends J
  /** Pre-rendered JSON spliced verbatim (resolved-SPF nesting — the model
    * carries it as a rendered string, see [[graft.model.Model.SpfRef]]).
    */
  private final case class JRaw(json: String) extends J

  /** JSON string escape, ensure_ascii=False: only the mandatory escapes;
    * non-ASCII passes through as UTF-8.
    */
  private def esc(s: String): String = {
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

  private def render(j: J, sb: java.lang.StringBuilder): Unit = j match {
    case JRaw(json) => sb.append(json)
    case JNull => sb.append("null")
    case JB(b) => sb.append(if (b) "true" else "false")
    case JL(n) => sb.append(n)
    case JS(s) => sb.append('"').append(esc(s)).append('"')
    case JArr(items) =>
      sb.append('[')
      var first = true
      items.foreach { it =>
        if (!first) sb.append(',')
        first = false
        render(it, sb)
      }
      sb.append(']')
    case JObj(fields) =>
      sb.append('{')
      var first = true
      fields.foreach { case (k, v) =>
        if (!first) sb.append(',')
        first = false
        sb.append('"').append(esc(k)).append("\":")
        render(v, sb)
      }
      sb.append('}')
  }

  private def opt(v: Option[String]): J = v.fold[J](JNull)(JS)

  // --------------------------------------------------------- DNS shapes

  private def geoObj(g: GeoIp): J = JObj(
    g.country.map("country" -> JS(_)).toSeq ++
      g.org.map("org" -> JS(_)).toSeq ++
      g.asn.map(a => "asn" -> JL(a.toLong)).toSeq)

  /** Record list in the reference's get_record shape
    * (`dns_utils.py:289-306`): a CNAME answer is its own
    * `{"cname":…,"value":null}` entry, resolved records carry
    * `from_cname`; `algorithm`/`geoip` appended when present.
    */
  private def recordsJ(rs: Option[Seq[DnsRecord]]): J = rs match {
    case None => JNull
    case Some(list) =>
      val cnameEntry = list.headOption.flatMap(_.cname).map(c =>
        JObj(Seq("cname" -> JS(c), "value" -> JNull))).toSeq
      JArr(cnameEntry ++ list.map { r =>
        JObj(Seq("value" -> JS(r.value)) ++
          r.from_cname.map("from_cname" -> JS(_)).toSeq ++
          r.algorithm.map("algorithm" -> JS(_)).toSeq ++
          r.geoip.map("geoip" -> geoObj(_)).toSeq)
      })
  }

  private def tlsaJ(ts: Option[Seq[Tlsa]]): J = ts match {
    case None => JNull
    case Some(list) => JArr(list.map(t => JObj(Seq(
      "usage" -> JL(t.usage.toLong), "selector" -> JL(t.selector.toLong),
      "matchingtype" -> JL(t.matchingtype.toLong), "data" -> JS(t.data)))))
  }

  /** checkdmarc pass-mechanism objects (`result-schema.json` spf pass:
    * `{value, mechanism}`): mechanism = token before ':'.
    */
  private def spfPassJ(xs: Option[Seq[String]]): J = xs match {
    case None => JNull
    case Some(list) => JArr(list.map { body =>
      val i = body.indexOf(':')
      val (mech, v) = if (i > 0) (body.substring(0, i), body.substring(i + 1)) else (body, body)
      JObj(Seq("value" -> JS(v), "mechanism" -> JS(mech.toLowerCase)))
    })
  }

  // checkdmarc emits EMPTY ARRAYS for qualifier buckets with no terms
  // (result-example.json: "neutral": [], "fail": [] …), not nulls
  private def emptyArr(v: Option[Seq[String]]): J =
    JArr(v.getOrElse(Seq.empty).map(JS.apply))

  // checkdmarc's parsed buckets are uniform {value, mechanism} objects
  // for EVERY qualifier (parse_spf_record appends the same OrderedDict to
  // pass/neutral/softfail/fail alike); empty buckets stay [] like the
  // golden result-example.json. Model stores the raw term (mech:value),
  // so the object view is computed at emit like spfPassJ.
  private def spfBucketJ(xs: Option[Seq[String]]): J =
    if (xs.isEmpty) JArr(Seq.empty) else spfPassJ(xs)

  private def spfJ(s: SpfParsed): J = s.error match {
    case Some(e) => JObj(Seq("error" -> JS(e)))
    case None => JObj(Seq(
      "pass" -> spfBucketJ(s.pass),
      "neutral" -> spfBucketJ(s.neutral),
      "softfail" -> spfBucketJ(s.softfail),
      "fail" -> spfBucketJ(s.fail),
      // include: bare domain strings (result-schema.json:82-86 — array of
      // strings, additionalProperties:false; the mech prefix is stripped
      // at parse)
      "include" -> JArr(s.include.getOrElse(Seq.empty).map(JS.apply)),
      // redirect: null or the checkdmarc-resolved object
      // (result-schema.json:91-93); raw-string fallback only when
      // resolution never ran (pure-parse callers)
      "redirect" -> JRaw(graft.parsers.Parsers.renderSpfRef(s)),
      "exp" -> opt(s.exp),
      "all" -> opt(s.all),
      "ip4" -> emptyArr(s.ip4),
      "ip6" -> emptyArr(s.ip6)))
  }

  private def dmarcTagJ(t: graft.model.Model.DmarcTag): J = {
    val value: J =
      t.intValue.map(JL.apply)
        .orElse(t.strValue.map(JS.apply))
        .orElse(t.listValue.map(l => JArr(l.map(JS.apply))))
        .orElse(t.uriValue.map(us => JArr(us.map(u => JObj(Seq(
          "scheme" -> JS(u.scheme), "address" -> JS(u.address),
          "size_limit" -> u.size_limit.fold[J](JNull)(JS.apply)))))))
        .getOrElse(JNull)
    JObj(Seq("value" -> value, "explicit" -> JB(t.explicit)))
  }

  /** checkdmarc per-tag objects (`result-example.json` TXT_DMARC): each
    * tag is `{value, explicit}`, defaults filled — the computed view from
    * [[graft.parsers.Parsers.dmarcTags]], reference tag order.
    */
  private def dmarcJ(d: DmarcParsed): J = d.error match {
    case Some(e) => JObj(Seq("error" -> JS(e)))
    case None => JObj(graft.parsers.Parsers.dmarcTags(d)
      .map { case (k, t) => k -> dmarcTagJ(t) })
  }

  private def dnssecJ(d: Dnssec): J = JObj(
    Seq("valid" -> d.valid.fold[J](JNull)(JB)) ++
      d.rrsig.map(r => "rrsig" -> JArr(r.map(JS))).toSeq ++
      d.message.map("message" -> JS(_)).toSeq ++
      d.error.map("error" -> JS(_)).toSeq)

  private def dnsLocalJ(dl: DnsLocal, cfg: CrawlConfig): J = {
    val f = Seq.newBuilder[(String, J)]
    f += "NS_AUTH" -> recordsJ(dl.NS_AUTH)
    f += "MAIL" -> recordsJ(dl.MAIL)
    f += "WEB4" -> recordsJ(dl.WEB4)
    if (cfg.checkWww) f += "WEB4_www" -> recordsJ(dl.WEB4_www)
    f += "WEB6" -> recordsJ(dl.WEB6)
    if (cfg.checkWww) f += "WEB6_www" -> recordsJ(dl.WEB6_www)
    f += "WEB_TLSA" -> tlsaJ(dl.WEB_TLSA)
    if (cfg.checkWww) f += "WEB_TLSA_www" -> tlsaJ(dl.WEB_TLSA_www)
    f += "TXT" -> recordsJ(dl.TXT)
    // TXT_SPF key only when TXT answered (crawl.py:55-56)
    if (dl.TXT.isDefined)
      f += "TXT_SPF" -> dl.TXT_SPF.fold[J](JNull)(l => JArr(l.map(spfJ)))
    f += "TXT_DMARC" -> dl.TXT_DMARC.fold[J](JNull)(l => JArr(l.map(dmarcJ)))
    f += "TXT_openid" -> recordsJ(dl.TXT_openid)
    f += "DS" -> recordsJ(dl.DS)
    f += "DNSKEY" -> recordsJ(dl.DNSKEY)
    f += "DNSSEC" -> dnssecJ(dl.DNSSEC)
    // additional records appended after the fixed keys (crawl.py:61-69)
    cfg.additionalRrtypes.foreach { rt =>
      val vals = dl.additional.flatMap(_.get(rt))
      f += rt -> vals.fold[J](JNull)(vs => JArr(vs.map(v => JObj(Seq("value" -> JS(v))))))
    }
    JObj(f.result())
  }

  // --------------------------------------------------------- auth / mail

  private def chaosJ(c: ChaosTxt): J = JObj(
    Seq("value" -> c.value.fold[J](JNull)(vs => JArr(vs.map(JS)))) ++
      c.error.map("error" -> JS(_)).toSeq)

  private def nsIpJ(ni: NsIp): J = JObj(
    Seq("ip" -> JS(ni.ip), "geoip" -> ni.geoip.fold[J](JNull)(geoObj)) ++
      ni.chaos.map(ce => ce.key -> chaosJ(ce.txt)))

  private def dnsAuthJ(a: Option[Seq[NsAuth]]): J = a match {
    case None => JNull
    case Some(list) => JArr(list.map { na =>
      JObj(Seq("ns" -> JS(na.ns)) ++
        na.ipv4.map(v4 => "ipv4" -> JArr(v4.map(nsIpJ))).toSeq ++
        na.ipv6.map(v6 => "ipv6" -> JArr(v6.map(nsIpJ))).toSeq)
    })
  }

  private def mailJ(m: Option[Seq[MailHost]], cfg: CrawlConfig): J = m match {
    case None => JNull
    case Some(list) => JArr(list.map { mh =>
      val banners = mh.banners.map { bs =>
        JArr(bs.map { ib =>
          JObj(Seq("ip" -> JS(ib.ip),
            "banners" -> JObj(cfg.mailPorts.map { p =>
              p.toString -> ib.banners.get(p).fold[J](JNull) { ban =>
                ban.banner.map(x => JObj(Seq("banner" -> JS(x))))
                  .orElse(ban.error.map(x => JObj(Seq("error" -> JS(x)))))
                  .getOrElse(JObj(Seq.empty))
              }
            })) ++ ib.geoip.map("geoip" -> geoObj(_)).toSeq)
        })
      }
      JObj(Seq("host" -> JS(mh.host),
        "TLSA" -> JObj(cfg.mailPorts.map(p =>
          p.toString -> tlsaJ(mh.tlsa.getOrElse(p, None))))) ++
        // banners key only when get_banners (mail_utils.py:61); on but
        // empty → null (mail_utils.py:86-87)
        (if (cfg.getBanners) Seq("banners" -> banners.getOrElse(JNull)) else Seq.empty))
    })
  }

  // ---------------------------------------------------------------- web

  private def hstsJ(h: HstsHeader): J = JObj(
    Seq("raw" -> JS(h.raw),
      "includeSubdomains" -> JB(h.includeSubdomains.getOrElse(false)),
      "preload" -> JB(h.preload.getOrElse(false))) ++
      h.max_age.map(a => "max-age" -> JL(a)).toSeq) // parse_hsts, web_utils.py:75-86

  private def contentLengthJ(raw: String, parsed: Option[Long]): J = JObj(
    Seq("raw" -> JS(raw)) ++ parsed.map("value" -> JL(_)).toSeq) // web_utils.py:89-97

  private def cookieJ(c: Cookie): J = JObj(
    Seq("domain" -> c.domain.fold[J](JNull)(JS),
      "name" -> JS(c.name), "value" -> JS(c.value),
      "secure" -> JB(c.secure.getOrElse(false)),
      "expires" -> c.expires.fold[J](JNull)(JS)) ++
      (if (c.httponly.contains(true)) Seq("HttpOnly" -> JNull) else Seq.empty) ++
      c.nonstandard_attrs.toSeq.sortBy(_._1).map { case (k, v) => k -> JS(v) })

  private def headersJ(s: WebStep): J = JObj(
    // headers carry network ARRIVAL order (reference byte order)
    s.headers.map {
      case ("strict-transport-security", _) =>
        "strict-transport-security" -> s.hsts_header.fold[J](JNull)(hstsJ)
      case ("alt-svc", raw) =>
        "alt-svc" -> s.alt_svc.fold[J](JS(raw))(m =>
          JObj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> JS(v) }))
      case ("content-length", raw) =>
        "content-length" -> contentLengthJ(raw, s.content_length)
      case ("set-cookie", raw) =>
        "set-cookie" -> s.cookies.fold[J](JS(raw))(cs => JArr(cs.map(cookieJ)))
      case (k, v) => k -> JS(v)
    })

  private def certJ(c: Certificate): J = JObj(
    Seq("not_before" -> JS(c.not_before),
      "not_after" -> JS(c.not_after),
      "expired" -> JB(c.expired)) ++
      c.expired_for.map(d => "expired_for" -> JL(d.toLong)).toSeq ++
      Seq("validity_period" -> JL(c.validity_period.toLong),
        "subject" -> JObj(c.subject.toSeq.sortBy(_._1).map { case (k, v) => k -> JS(v) }),
        "issuer" -> JObj(c.issuer.toSeq.sortBy(_._1).map { case (k, v) => k -> JS(v) }),
        "version" -> JL(c.version.toLong),
        "serial" -> JS(c.serial),
        "fingerprint" -> JObj(Seq(
          "cert" -> JObj(Seq("sha256" -> JS(c.fingerprint_cert.sha256),
            "sha512" -> JS(c.fingerprint_cert.sha512))),
          "pubkey" -> JObj(Seq("sha256" -> JS(c.fingerprint_pubkey.sha256),
            "sha512" -> JS(c.fingerprint_pubkey.sha512))))),
        "algorithm" -> JS(c.algorithm)) ++
      (if (c.alt_names.nonEmpty) Seq("alt_names" -> JArr(c.alt_names.map(JS))) else Seq.empty))

  private def stepJ(s: WebStep, isFirst: Boolean, cfg: CrawlConfig): J = {
    if (s.status.isEmpty) // failed redirect-follow step (web_utils.py:231-236)
      return JObj(Seq("url" -> JS(s.url)) ++ s.error.map("error" -> JS(_)).toSeq)
    val f = Seq.newBuilder[(String, J)]
    f += "url" -> JS(s.url)
    f += "status" -> JL(s.status.get.toLong)
    f += "is_redirect" -> JB(s.is_redirect.getOrElse(false))
    f += "headers" -> headersJ(s)
    if (isFirst) s.ip.foreach(ip => f += "ip" -> JS(ip)) // web_utils.py:262-263
    s.tls_version.foreach { v =>
      f += "tls" -> JObj(Seq("version" -> JS(v),
        "cipher_name" -> JS(s.tls_cipher.getOrElse(""))))
    }
    s.cert.foreach(chain => f += "cert" -> JArr(chain.map(certJ)))
    if (cfg.saveContent) { // content keys only under save_content
      f += "content" -> s.content.fold[J](JNull)(JS)
      if (s.content_is_binary.contains(true)) f += "content_is_binary" -> JB(true)
      s.detected_encoding.foreach(e => f += "detected_encoding" -> JS(e))
    }
    JObj(f.result())
  }

  private def webResultJ(r: WebResult, cfg: CrawlConfig): J = {
    // connection-failure shape: {ip, error} (web_utils.py:195-200)
    val failedOnly = r.steps.toSeq.flatten ++ r.final_step.toSeq
    if (failedOnly.length == 1 && failedOnly.head.status.isEmpty && r.redirect_count == 0)
      return JObj(Seq("ip" -> JS(r.ip)) ++
        failedOnly.head.error.map("error" -> JS(_)).toSeq)
    val f = Seq.newBuilder[(String, J)]
    f += "ip" -> JS(r.ip)
    f += "redirect_count" -> JL(r.redirect_count.toLong)
    r.steps.foreach { ss =>
      f += "steps" -> JArr(ss.zipWithIndex.map { case (s, i) => stepJ(s, i == 0, cfg) })
    }
    if (r.steps.isEmpty)
      f += "final_step" -> r.final_step.fold[J](JNull)(s =>
        stepJ(s, isFirst = r.redirect_count == 0, cfg))
    JObj(f.result())
  }

  /** Per-ip list, with the flatten_output single-element collapse. */
  private def webResultsJ(rs: Option[Seq[WebResult]], cfg: CrawlConfig): J = rs match {
    case None => JNull
    case Some(list) if cfg.flattenOutput && list.length == 1 => webResultJ(list.head, cfg)
    case Some(list) => JArr(list.map(webResultJ(_, cfg)))
  }

  private def webFields(w: WebObj, cfg: CrawlConfig, hasV4: Boolean, hasV6: Boolean)
      : Seq[(String, J)] = {
    val v4 = cfg.checkIpv4 && hasV4
    val v6 = cfg.checkIpv6 && hasV6
    val f = Seq.newBuilder[(String, J)]
    // get_web_status insertion order (crawl.py:109-133)
    if (v4 && cfg.checkHttp) f += "WEB4_80" -> webResultsJ(w.WEB4_80, cfg)
    if (v4 && cfg.checkHttp && cfg.checkWww) f += "WEB4_80_www" -> webResultsJ(w.WEB4_80_www, cfg)
    if (v4 && cfg.checkHttps) f += "WEB4_443" -> webResultsJ(w.WEB4_443, cfg)
    if (v4 && cfg.checkHttps && cfg.checkWww) f += "WEB4_443_www" -> webResultsJ(w.WEB4_443_www, cfg)
    if (v6 && cfg.checkHttp) f += "WEB6_80" -> webResultsJ(w.WEB6_80, cfg)
    if (v6 && cfg.checkHttp && cfg.checkWww) f += "WEB6_80_www" -> webResultsJ(w.WEB6_80_www, cfg)
    if (v6 && cfg.checkHttps) f += "WEB6_443" -> webResultsJ(w.WEB6_443, cfg)
    if (v6 && cfg.checkHttps && cfg.checkWww) f += "WEB6_443_www" -> webResultsJ(w.WEB6_443_www, cfg)
    f.result()
  }

  private def webJ(w: WebObj, cfg: CrawlConfig, hasV4: Boolean, hasV6: Boolean): J = {
    val fields = webFields(w, cfg, hasV4, hasV6)
    // flatten_output: a lone surviving combo saves directly into WEB
    fields match {
      case Seq((_, only)) if cfg.flattenOutput => only
      case _ => JObj(fields)
    }
  }

  // ---------------------------------------------------------------- doc

  /** One result document → one compact JSON line. `hasV4`/`hasV6` are the
    * source-address probe outcomes (they decide which combo keys exist,
    * like the reference's `source_ipv4`/`source_ipv6`).
    */
  def toJson(r: DomainResult, cfg: CrawlConfig = CrawlConfig(),
      hasV4: Boolean = true, hasV6: Boolean = true): String = {
    val results = Seq.newBuilder[(String, J)]
    results += "DNS_LOCAL" -> dnsLocalJ(r.DNS_LOCAL, cfg)
    results += "DNS_AUTH" -> dnsAuthJ(r.DNS_AUTH)
    results += "MAIL" -> mailJ(r.MAIL, cfg)
    results += "WEB" -> webJ(r.WEB, cfg, hasV4, hasV6)
    results += "HSTS" -> JB(r.HSTS)
    r.WEB_paths.foreach { pws =>
      results += "WEB_paths" -> JObj(pws.map(pw =>
        pw.path -> JObj(webFields(pw.web, cfg, hasV4, hasV6))))
    }
    val top = Seq("domain" -> JS(r.domain), "timestamp" -> JS(r.timestamp),
      "results" -> JObj(results.result())) ++
      r.worker_hostname.map("worker_hostname" -> JS(_)).toSeq
    val sb = new java.lang.StringBuilder(1024)
    render(JObj(top), sb)
    sb.toString
  }

  /** The JSON-lines sink over a result Dataset — the distributed twin of
    * the reference's per-job `get_json_result` writes.
    */
  def jsonLines(ds: org.apache.spark.sql.Dataset[DomainResult], cfg: CrawlConfig)
      : org.apache.spark.sql.Dataset[String] = {
    import ds.sparkSession.implicits._
    val u = cfg // stable reference for the closure
    ds.map(r => toJson(r, u))
  }
}
