package graft.probes

import graft.model.Model._
import graft.parsers.Parsers

/** Probe leaves: the "fetch" functions of the crawl, each the semantic twin
  * of a reference network leaf, backed by a pluggable [[ProbeService]]
  * (the deterministic [[graft.universe.Universe]] in-repo; real
  * resolver/HTTP/SMTP clients in production). Branch logic (CNAME
  * flattening, DNSSEC classification, redirect loops, null short-circuits)
  * is reproduced from the cited reference lines; only the socket I/O is
  * behind the service seam.
  *
  * The per-domain job deadline (T3, `config.yml:19` job_timeout) is
  * enforced here: when `cfg.jobTimeoutSeconds > 0` the service is wrapped
  * in a [[DeadlineProbeService]] and [[processDomain]] arms the budget per
  * domain; leaves called after expiry return their timeout shapes. Set
  * `hardLeafTimeouts = true` (production, real sockets) to also bound a
  * single hanging leaf by interrupt.
  */
class Probes(
    rawService: ProbeService,
    val cfg: CrawlConfig,
    clock: ProbeClock = ProbeClock.system,
    hardLeafTimeouts: Boolean = false) extends Serializable {

  private val deadline: Option[DeadlineProbeService] =
    Option.when(cfg.jobTimeoutSeconds > 0)(new DeadlineProbeService(
      rawService, cfg.jobTimeoutSeconds * 1000000000L, clock,
      // hard mode reaches engine-built Probes through the config (the
      // engine constructs its own Probes per partition)
      hardLeafTimeouts || cfg.hardLeafTimeouts))

  /** The leaf service all probe code calls — deadline-guarded when T3 is on. */
  val u: ProbeService = deadline.getOrElse(rawService)

  /** Source-address probe (S8, reference `ip_utils.py:44-75` +
    * `get_source_addresses`): resolved once per Probes (≈ per worker, like
    * the reference's Redis-cached `sourceips-<hostname>`); None gates the
    * whole v4/v6 side of the plan (`crawl.py:88-96,113-133`,
    * `mail_utils.py:63-70`).
    */
  @transient lazy val sourceIpv4: Option[String] = u.sourceAddress(4, cfg.connectivityIpv4)
  @transient lazy val sourceIpv6: Option[String] = u.sourceAddress(6, cfg.connectivityIpv6)

  // per-Probes (≈ per-partition) cert cache: one TLS handshake's worth of
  // work per distinct host, like a real connection pool would amortize
  @transient private lazy val certCache =
    scala.collection.mutable.HashMap.empty[String, Option[Seq[Certificate]]]

  private def certOf(host: String): Option[Seq[Certificate]] =
    certCache.getOrElseUpdate(host,
      Some(if (cfg.saveCertChain) u.certChainFor(host) else Seq(u.certFor(host))))

  // robots.txt policy per (host, port), fetched through the probe service
  // and cached per Probes instance (≈ per partition, like certCache);
  // only consulted under cfg.respectRobots
  @transient private lazy val robotsCache =
    scala.collection.mutable.HashMap.empty[(String, Int), graft.frontier.Robots.Policy]

  private def robotsFor(host: String, ip: String, port: Int): graft.frontier.Robots.Policy =
    robotsCache.getOrElseUpdate((host, port), {
      val (status, _, _, body, isBin) =
        u.webStep(host, ip, port, 0, "/robots.txt", wantBody = true)
      if (status == 200 && !isBin) body.map(graft.frontier.Robots.parse)
        .getOrElse(graft.frontier.Robots.allowAll)
      else graft.frontier.Robots.allowAll // 4xx/5xx/unreachable → permissive
    })

  /** Result shape for a robots-disallowed combo: one error step, like the
    * reference's timeout/error steps — observable, not silently absent.
    */
  private def robotsBlocked(host: String, ip: String, port: Int, path: String): WebResult = {
    val url = s"${if (port == 443) "https" else "http"}://$host$path"
    val step = WebStep(url, None, None, Seq.empty, None, None, None, None,
      Some(ip), None, None, None, None, None, None,
      Some("blocked by robots.txt"))
    if (cfg.saveIntermediateSteps) WebResult(ip, 0, Some(Vector(step)), None)
    else WebResult(ip, 0, None, Some(step))
  }

  // interned Option wrappers for per-step fields with tiny value spaces
  // (status codes, booleans): a fresh Some per step per field is pure
  // churn at ~45 web steps/domain
  private val someTrue = Some(true)
  private val someFalse = Some(false)
  @transient private lazy val someStatus = new Array[Some[Int]](1024)
  private def statusSome(s: Int): Some[Int] =
    if (s >= 0 && s < 1024) {
      var v = someStatus(s)
      if (v == null) { v = Some(s); someStatus(s) = v }
      v
    } else Some(s)

  /** Resolve name/rrtype with CNAME-chain flattening (reference
    * `dns_utils.py:260-306`): follow CNAMEs (bounded), attach `cname` on
    * the first record and `from_cname` on records resolved through the
    * chain; None when nothing resolves (NXDOMAIN/timeout analog).
    */
  def resolve(name: String, rrtype: String): Option[Seq[DnsRecord]] =
    resolveImpl(name, rrtype, geo = false)

  /** Address-record resolve with GeoIP set at record construction (only
    * for global IPs, reference CHANGELOG.md:160-164) — fused so the
    * annotate pass doesn't rebuild every record via copy.
    */
  private def resolveGeo(name: String, rrtype: String): Option[Seq[DnsRecord]] =
    resolveImpl(name, rrtype, geo = true)

  private def resolveImpl(name: String, rrtype: String, geo: Boolean)
      : Option[Seq[DnsRecord]] = {
    val ttl = Some(u.ttlFor(name))
    def leaf(n: String): Seq[String] = rrtype match {
      case "A" => u.aFor(n)
      case "AAAA" => u.aaaaFor(n)
      case "NS" => u.nsFor(n)
      case "MX" => u.mxFor(n)
      case "TXT" => u.txtFor(n)
      case "DS" => u.dsFor(n)
      case "DNSKEY" => u.dnskeyFor(n)
      case "TLSA" => u.tlsaFor(n)
      case _ => Seq.empty
    }
    def rec(v: String, cname: Option[String], from: Option[String]): DnsRecord =
      DnsRecord(v, cname = cname, from_cname = from, ttl = ttl,
        geoip = if (geo && graft.canon.IpPredicates.isGlobalIp(v))
          Some(u.geo(v)) else None)
    u.cnameFor(name) match {
      case Some(target) if rrtype == "A" || rrtype == "AAAA" =>
        // bounded chain walk (reference caps at answer flattening);
        // single resolve per hop — cnameFor builds its answer per call
        var cur = target
        var hops = 0
        var nxt = u.cnameFor(cur)
        while (hops < 8 && nxt.isDefined) { cur = nxt.get; nxt = u.cnameFor(cur); hops += 1 }
        val vals = leaf(cur)
        if (vals.isEmpty) None
        else {
          val someTarget = Some(target)
          val someCur = Some(cur)
          Some(vals.map(v => rec(v, someTarget, someCur)))
        }
      case _ =>
        val vals = leaf(name)
        if (vals.isEmpty) None else Some(vals.map(v => rec(v, None, None)))
    }
  }

  /** DNSSEC classifier (reference `dns_utils.py:73-127`): signed → valid
    * with rrsig; bogus → valid=false (SERVFAIL rcode 2 branch); unsigned →
    * valid=null with "Missing DS/DNSKEY" message (1-answer branch).
    */
  def checkDnssec(domain: String): Dnssec = u.dnssecState(domain) match {
    case "signed" => Dnssec(Some(true), Some(u.rrsigFor(domain)), None, None)
    case "bogus" => Dnssec(Some(false), None, None,
      Some("SERVFAIL — validation failed"))
    case "timeout" => Dnssec(None, None, Some("timeout"), None) // T3-expired leaf
    case _ => Dnssec(None, None, Some("Missing DS or DNSKEY records"), None)
  }

  /** SPF parse with checkdmarc-style `redirect=` resolution (F3 closure;
    * reference `dns_utils.py:166-183` → `checkdmarc.parse_spf_record`):
    * the redirect target's TXT is fetched through the probe service, its
    * SPF record parsed recursively — bounded by a seen-set loop guard
    * (checkdmarc's SPFRedirectLoop analog) and RFC 7208 §4.6.4's
    * 10-lookup limit — and attached as the resolved `{domain, record,
    * parsed}` object (`result-schema.json:91-93`: redirect is null or an
    * object). A target with no SPF record resolves to `{domain}` alone
    * (documented deviation: checkdmarc raises and the whole parse becomes
    * `{"error"}`; keeping the partial parse means one dead redirect does
    * not erase an otherwise-valid record).
    */
  def parseSpfResolved(record: String, seen: Set[String]): SpfParsed = {
    val base = Parsers.parseSpf(record)
    base.redirect match {
      case Some(target) if base.error.isEmpty =>
        val t = target.toLowerCase
        val ref =
          if (seen.contains(t) || seen.size >= 10) SpfRef(target, None, None)
          else u.txtFor(t).map(_.trim.stripPrefix("\"").stripSuffix("\""))
            .find(_.toLowerCase.startsWith("v=spf1")) match {
            case Some(rec) =>
              val nested = parseSpfResolved(rec, seen + t)
              SpfRef(target, Some(rec), Some(Parsers.renderSpfNested(nested)))
            case None => SpfRef(target, None, None)
          }
        base.copy(redirect_resolved = Some(ref))
      case _ => base
    }
  }

  private def annotate(recs: Option[Seq[DnsRecord]], tokenIndex: Int) =
    recs.map(_.map(r => r.copy(algorithm = Parsers.annotateAlgorithm(r.value, tokenIndex))))

  /** DNS_LOCAL assembly (reference `crawl.py:39-69`): the 10 required keys
    * + optional www/TLSA/SPF extras, geoip on address records, algorithm
    * on DS/DNSKEY, SPF/DMARC parsed with empty→null collapse.
    */
  def getDnsLocal(domain: String): DnsLocal = {
    val txt = resolve(domain, "TXT")
    // one parse PER spf-matching record (crawl.py:55-56 get_txt regex +
    // parse_spf list, dns_utils.py:166-183); no matches → None; redirect
    // modifiers resolved over DNS like checkdmarc (seen seeded with the
    // queried domain, dns_utils.py via parse_spf_record's loop guard)
    val spf = txt.map(_.filter(r => Probes.SpfPattern.matcher(r.value).matches())
        .map(r => parseSpfResolved(r.value, Set(domain.toLowerCase))))
      .filter(_.nonEmpty)
    // one parse PER record at _dmarc.<domain>, junk records kept as
    // per-record error entries (dns_utils.py:144-158)
    val dmarc = resolve(s"_dmarc.$domain", "TXT")
      .map(_.map(r => Parsers.parseDmarc(r.value)))
    val openid = resolve(s"_openid.$domain", "TXT") // crawl.py:57
    val tlsa = resolve(s"_443._tcp.$domain", "TLSA")
      .map(_.flatMap(r => Parsers.parseTlsa(r.value))).filter(_.nonEmpty)
    val tlsaWww = if (cfg.checkWww)
      resolve(s"_443._tcp.www.$domain", "TLSA")
        .map(_.flatMap(r => Parsers.parseTlsa(r.value))).filter(_.nonEmpty)
    else None
    val additional =
      if (cfg.additionalRrtypes.isEmpty) None
      else {
        val m = cfg.additionalRrtypes.flatMap { rt =>
          val vals = u.additionalFor(domain, rt).map(AdditionalParsers(rt, _))
          if (vals.isEmpty) None else Some(rt -> vals)
        }.toMap
        if (m.isEmpty) None else Some(m)
      }
    DnsLocal(
      additional = additional,
      NS_AUTH = resolve(domain, "NS"),
      MAIL = resolve(domain, "MX"),
      WEB4 = resolveGeo(domain, "A"),
      WEB6 = resolveGeo(domain, "AAAA"),
      WEB4_www = if (cfg.checkWww) resolveGeo(s"www.$domain", "A") else None,
      WEB6_www = if (cfg.checkWww) resolveGeo(s"www.$domain", "AAAA") else None,
      WEB_TLSA = tlsa,
      WEB_TLSA_www = tlsaWww,
      TXT = txt,
      TXT_SPF = spf,
      TXT_DMARC = dmarc,
      TXT_openid = openid,
      DS = annotate(resolve(domain, "DS"), 1),
      DNSKEY = annotate(resolve(domain, "DNSKEY"), 2),
      DNSSEC = checkDnssec(domain))
  }

  private def geoIfGlobal(ip: String): Option[GeoIp] =
    if (graft.canon.IpPredicates.isGlobalIp(ip)) Some(u.geo(ip)) else None

  // per-Probes (≈ per-partition) NS-IP probe cache: the reference's
  // Redis-cached leaf (dns_utils.py:235-253). Same-provider domains share
  // nameserver IPs, and the engine's probe layout co-locates them.
  @transient private lazy val nsIpCache = scala.collection.mutable.HashMap.empty[String, NsIp]

  /** Per-nameserver-IP probe (reference `dns_utils.py:235-253`), memoized
    * per Probes instance. A probe that returned a timeout (a tripped T3
    * deadline, a hard-mode leaf cut, a saturated leaf pool) is not cached:
    * it belongs to the domain whose budget ran out, and a later domain
    * probes the IP again inside its own budget.
    */
  def probeNsIp(ip: String): NsIp = nsIpCache.get(ip) match {
    case Some(hit) => hit
    case None =>
      val r = NsIp(ip, geoIfGlobal(ip),
        chaos = cfg.authChaosTxt.map(rec =>
          ChaosEntry(rec.replace(".", ""), u.chaosTxt(ip, rec))))
      if (!r.chaos.exists(_.txt.error.contains("timeout"))) nsIpCache(ip) = r
      r
  }

  /** DNS_AUTH (reference `crawl.py:72-106`): NS fan-out → per-NS A/AAAA →
    * per-IP probes; no NS → None; empty-value NS skipped; each address
    * family gated by the source-address probe (`crawl.py:88-96`) and its
    * key omitted when empty (`crawl.py:100-104`).
    */
  def getDnsAuth(domain: String): Option[Seq[NsAuth]] = {
    val ns = u.nsFor(domain)
    if (ns.isEmpty) None
    else Some(ns.filter(_.nonEmpty).map { n =>
      val v4 = if (sourceIpv4.isDefined) u.nsIps4(n).map(probeNsIp) else Seq.empty
      val v6 = if (sourceIpv6.isDefined) u.nsIps6(n).map(probeNsIp) else Seq.empty
      NsAuth(n, Option.when(v4.nonEmpty)(v4), Option.when(v6.nonEmpty)(v6))
    })
  }

  /** Mail probes (reference `mail_utils.py:48-107`): one entry per MX
    * record (no host dedup — `get_mx_info` loops records; the Redis cache
    * only dedups the WORK, `mail_utils.py:50-55`), fallback to apex when no
    * MX but A/AAAA exists (`crawl.py:145-154`), per-host TLSA on configured
    * ports, per-IP banners gated by `mail.get_banners` and the source-
    * address families (`mail_utils.py:61-70`); max_ips_per_host bound.
    */
  def getMail(domain: String, dnsLocal: DnsLocal): Option[Seq[MailHost]] = {
    val mxHosts = dnsLocal.MAIL.map(_.flatMap(r => Parsers.mxHost(r.value)))
      .getOrElse(Seq.empty)
    val hosts =
      if (mxHosts.nonEmpty) mxHosts
      else if (dnsLocal.WEB4.isDefined || dnsLocal.WEB6.isDefined) Seq(domain)
      else return None
    Some(hosts.map { host =>
      val tlsa = cfg.mailPorts.map { port =>
        val recs = u.tlsaFor(s"_$port._tcp.$host").flatMap(Parsers.parseTlsa)
        port -> (if (recs.isEmpty) None else Some(recs))
      }.toMap
      val banners =
        if (!cfg.getBanners) None
        else {
          val ips = ((if (sourceIpv4.isDefined) u.aFor(host) else Seq.empty) ++
            (if (sourceIpv6.isDefined) u.aaaaFor(host) else Seq.empty))
            .take(cfg.maxIpsPerMailHost)
          val bs = ips.map { ip =>
            MailIpBanners(ip,
              cfg.mailPorts.map(p => p -> u.mailBanner(ip, p)).toMap,
              geoIfGlobal(ip))
          }
          Option.when(bs.nonEmpty)(bs) // mail_utils.py:86-87 empty → null
        }
      MailHost(host, tlsa, banners)
    })
  }

  /** HTTP(S) redirect-chain fetch for one (host, ip, port, path) (reference
    * `web_utils.py:202-223,225-320`): bounded by max_redirects, steps in
    * fetch order, final_step-only when save_intermediate_steps is off,
    * content truncation, binary sniff, parsed hsts/alt-svc/content-length/
    * set-cookie headers, cert on TLS steps, encoding detection.
    */
  def fetchWeb(host: String, ip: String, port: Int, startPath: String = "/"): WebResult = {
    var steps = Vector.empty[WebStep]
    var hop = 0
    var done = false
    var url = s"${if (port == 443) "https" else "http"}://$host${if (port == 80 || port == 443) "" else s":$port"}$startPath"
    var path = startPath
    // the scheme decides the connection: an http→https redirect reconnects
    // on 443 (the reference's requests session does the same), so later
    // hops' TLS metadata matches the transport actually used
    var curPort = port
    // cross-host redirects follow Location to OTHER hosts
    // (web_utils.py:202-223: the session just GETs the joined URL) — the
    // current host drives the fetch, its TLS handshake, and its cert
    var curHost = host
    // body strings are only materialized when something will read them:
    // save_content drives content/encoding; a real client with
    // save_content off streams the response away without string-ifying it
    val wantBody = cfg.saveContent
    val someIp = Some(ip) // one wrapper for every step of this fetch
    while (!done && hop <= cfg.maxRedirects) {
      val (status, loc, headers, body, isBin) =
        u.webStep(curHost, ip, curPort, hop, path, wantBody)
      // allocation-free linear lookup over the arrival-ordered pairs
      // (null-based: no Some per probe; Options are built only for the
      // output fields that need them)
      def hdr(name: String): String = {
        var i = 0
        while (i < headers.length) {
          if (headers(i)._1 == name) return headers(i)._2
          i += 1
        }
        null
      }
      if (status == 0) {
        steps :+= WebStep(url, None, None, Seq.empty, None, None, None, None,
          someIp, None, None, None, None, None, None, Probes.someTimeout)
        done = true
      } else {
        val isRedirect = loc.isDefined && status >= 300 && status < 400
        val https = url.startsWith("https")
        val (tlsV, tlsC) = if (https) {
          val t = u.tlsInfo(curHost, ip); (Some(t._1), Some(t._2))
        } else (None, None)
        // content block (reference web_utils.py:283-320): everything only
        // under save_content; binary → base64 data-uri when save_binary
        // else dropped (flag still set); content_is_binary key only when
        // true; detected_encoding only for saved text
        val (content, isBinFlag, detEnc) =
          if (!cfg.saveContent) (None, None, None)
          else {
            val truncated = body.map(b =>
              if (b.length > cfg.contentSizeLimit) b.substring(0, cfg.contentSizeLimit) else b)
            if (isBin) {
              val c =
                if (cfg.saveBinary) truncated.map { b =>
                  val ct0 = hdr("content-type")
                  val ct = if (ct0 == null) "application/octet-stream" else ct0
                  val b64 = java.util.Base64.getEncoder.encodeToString(
                    b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
                  s"data:$ct;base64,$b64"
                }
                else None
              (c, Some(true), None)
            } else {
              val c = truncated.filter(_.nonEmpty) // "" → null (web_utils.py:307-308)
              (c, None, c.map(b => Parsers.detectEncoding(Option(hdr("content-type")), b)))
            }
          }
        val sts = hdr("strict-transport-security")
        val altSvc = hdr("alt-svc")
        val setCookie = hdr("set-cookie")
        val clen = hdr("content-length")
        steps :+= WebStep(
          url = url, status = statusSome(status),
          is_redirect = if (isRedirect) someTrue else someFalse,
          headers = headers, // arrival order, the wire truth
          hsts_header = if (sts == null) None else Some(Parsers.parseHstsHeader(sts)),
          alt_svc = if (altSvc == null) None else Some(Parsers.parseAltSvc(altSvc)),
          cookies = if (setCookie == null) None
            else { val cs = Parsers.parseSetCookie(setCookie).toSeq
              if (cs.isEmpty) None else Some(cs) },
          content_length = if (clen == null) None else Parsers.parseContentLength(clen),
          ip = someIp, tls_version = tlsV, tls_cipher = tlsC,
          cert = if (https) certOf(curHost) else None,
          content = content,
          content_is_binary = isBinFlag,
          detected_encoding = detEnc,
          error = None)
        if (isRedirect && hop < cfg.maxRedirects) {
          val l = loc.get
          // urljoin (web_utils.py:205); absolute locations skip URI parsing
          url = if (l.startsWith("http://") || l.startsWith("https://")) l
                else java.net.URI.create(url).resolve(l).toString
          val schemeEnd = url.indexOf("//") + 2
          val slash = url.indexOf('/', schemeEnd)
          path = if (slash < 0) "/" else url.substring(slash)
          val hostPort = if (slash < 0) url.substring(schemeEnd)
                         else url.substring(schemeEnd, slash)
          // cross-host follow; indexOf instead of split (per-redirect path)
          curHost = hostPort.indexOf(':') match {
            case -1 => hostPort
            case i => hostPort.substring(0, i)
          }
          curPort = if (url.startsWith("https://")) 443 else 80
          hop += 1
        } else done = true
      }
    }
    // hops actually followed (reference web_utils.py:202-223: the counter
    // increments per follow, so a capped chain reports max_redirects)
    val redirectCount = steps.length - 1
    if (cfg.saveIntermediateSteps)
      WebResult(ip, redirectCount, Some(steps), None)
    else
      WebResult(ip, redirectCount, None, steps.lastOption)
  }

  /** WEB section at one path: the 8 combos `WEB{4,6}_{80,443}[_www]`
    * (reference `get_web_status`, `crawl.py:109-133`), each gated by the
    * plan flags — `check_ipv4`/`check_ipv6` × source-address availability,
    * `check_http`/`check_https`, `check_www` — so a gated combo is absent
    * (None), exactly like the reference's conditional dict keys. IPs
    * bounded by max_ips_per_domain (null = unlimited, `config.yml:39`);
    * no ips → None (`web_utils.py:156-157`).
    */
  def getWeb(domain: String, dl: DnsLocal, path: String = "/"): WebObj = {
    // ip lists computed once per record SOURCE (4, not 8 — the http and
    // https combos of a source share the list)
    def ips(recs: Option[Seq[DnsRecord]]): Seq[String] =
      recs.map { rs =>
        val vals = rs.map(_.value)
        cfg.maxIpsPerDomain.fold(vals)(vals.take)
      }.getOrElse(Seq.empty)
    def combo(host: String, ipList: Seq[String], port: Int): Option[Seq[WebResult]] =
      if (ipList.isEmpty) None
      else Some(ipList.map { ip =>
        if (cfg.respectRobots &&
            !robotsFor(host, ip, port).allows(cfg.robotsAgent, path))
          robotsBlocked(host, ip, port, path)
        else fetchWeb(host, ip, port, path)
      })
    val www = s"www.$domain"
    val v4 = cfg.checkIpv4 && sourceIpv4.isDefined
    val v6 = cfg.checkIpv6 && sourceIpv6.isDefined
    val ip4 = if (v4) ips(dl.WEB4) else Seq.empty
    val ip6 = if (v6) ips(dl.WEB6) else Seq.empty
    val ip4w = if (v4 && cfg.checkWww) ips(dl.WEB4_www) else Seq.empty
    val ip6w = if (v6 && cfg.checkWww) ips(dl.WEB6_www) else Seq.empty
    WebObj(
      WEB4_80 = if (v4 && cfg.checkHttp) combo(domain, ip4, 80) else None,
      WEB4_443 = if (v4 && cfg.checkHttps) combo(domain, ip4, 443) else None,
      WEB6_80 = if (v6 && cfg.checkHttp) combo(domain, ip6, 80) else None,
      WEB6_443 = if (v6 && cfg.checkHttps) combo(domain, ip6, 443) else None,
      WEB4_80_www = if (v4 && cfg.checkHttp && cfg.checkWww) combo(www, ip4w, 80) else None,
      WEB4_443_www = if (v4 && cfg.checkHttps && cfg.checkWww) combo(www, ip4w, 443) else None,
      WEB6_80_www = if (v6 && cfg.checkHttp && cfg.checkWww) combo(www, ip6w, 80) else None,
      WEB6_443_www = if (v6 && cfg.checkHttps && cfg.checkWww) combo(www, ip6w, 443) else None)
  }

  /** WEB_paths: the FULL get_web_status (all 8 gated combos) per configured
    * path (reference `crawl.py:158-163` calls `get_web_status(..., path=
    * path)` — not just apex-v4-443).
    */
  def getWebPaths(domain: String, dl: DnsLocal): Option[Seq[PathWeb]] = {
    if (cfg.webPaths.isEmpty) return None
    Some(cfg.webPaths.map(p => PathWeb(p, getWeb(domain, dl, p))))
  }

  /** Full per-domain pipeline (reference `process_domain`,
    * `crawl.py:136-183`) with an injected clock for determinism. Arms the
    * per-domain T3 budget (reference kills the RQ job at job_timeout,
    * `controller.py:60`); leaves probed after expiry return timeout shapes.
    */
  def processDomain(domain: String, timestamp: String): DomainResult = {
    deadline.foreach(_.startJob())
    val dl = getDnsLocal(domain)
    DomainResult(
      domain = domain,
      timestamp = timestamp,
      DNS_LOCAL = dl,
      DNS_AUTH = getDnsAuth(domain),
      MAIL = getMail(domain, dl),
      WEB = getWeb(domain, dl),
      WEB_paths = getWebPaths(domain, dl),
      HSTS = u.hstsPreload(domain),
      worker_hostname = Option.when(cfg.saveWorkerHostname)(cfg.workerHostname))
  }
}

object Probes {
  private val someTimeout = Some("timeout")
  // precompiled: String.matches would compile a fresh Pattern per TXT
  // record (crawl.py:55-56 get_txt spf regex)
  private val SpfPattern = java.util.regex.Pattern.compile("^\"?v=spf.*")
}

/** U1 — the additional-RR plugin registry (reference `crawl.py:61-68`,
  * `dns_utils.py:309-319`): config lists extra rrtypes to fetch; a parser
  * registry normalizes known types, unknown types pass through raw.
  * Only SPF is registered, exactly like the reference.
  */
object AdditionalParsers {
  val registry: Map[String, String => String] = Map(
    "SPF" -> (raw => raw.trim.stripPrefix("\"").stripSuffix("\"")))

  def apply(rrtype: String, raw: String): String =
    registry.get(rrtype).map(_(raw)).getOrElse(raw)
}

/** Crawl configuration (reference `config.yml` defaults via
  * `config_loader.py:31-81`): plain case class — Spark broadcasts it with
  * the closure; no Redis-shared config needed.
  */
case class CrawlConfig(
    checkWww: Boolean = true,
    saveContent: Boolean = false,     // config_loader.py:62 (library default)
    saveBinary: Boolean = true,       // config_loader.py:63
    saveIntermediateSteps: Boolean = true, // config_loader.py:74
    saveCertChain: Boolean = false,   // config.yml:44
    flattenOutput: Boolean = false,   // config.yml:45 (JSON-sink shaping)
    checkHttp: Boolean = true,        // config.yml:40
    checkHttps: Boolean = true,       // config.yml:41
    checkIpv4: Boolean = true,        // config.yml:42
    checkIpv6: Boolean = true,        // config.yml:43
    maxRedirects: Int = 6,            // config.yml:34
    contentSizeLimit: Int = 5120000,  // config.yml:37
    maxIpsPerDomain: Option[Int] = None, // config.yml:39 — null = UNLIMITED
    maxIpsPerMailHost: Int = 4,       // config.yml:30
    getBanners: Boolean = true,       // config.yml:26 (config_loader default is false)
    mailPorts: Seq[Int] = Seq(25, 465, 587),
    cacheTtlSeconds: Int = 3600,      // config.yml:23
    jobTimeoutSeconds: Int = 80,      // config.yml:19
    /** Hard T3 enforcement (production mode for real socket leaves): each
      * probe leaf runs under a timed interrupt capped at the remaining
      * per-domain budget, so even a black-holed connect cannot exceed it.
      * Off by default — the deterministic universe never blocks, and the
      * cooperative check costs one clock read instead of a thread hop.
      */
    hardLeafTimeouts: Boolean = false,
    /** Per-leaf network timeouts (config.yml timeouts.dns/http/http_read/
      * mail) — consumed by real socket-backed [[ProbeService]]s; the
      * deterministic universe never blocks, and the enforced per-domain
      * bound is [[jobTimeoutSeconds]] (T3).
      */
    dnsTimeoutSeconds: Double = 2,    // config.yml:20
    httpTimeoutSeconds: Double = 2,   // config.yml:21
    httpReadTimeoutSeconds: Double = 5, // config.yml:22
    mailTimeoutSeconds: Double = 2,   // config_loader.py defaults
    webPaths: Seq[String] = Seq.empty,          // config.yml:46
    additionalRrtypes: Seq[String] = Seq.empty, // config.yml dns.additional
    /** CHAOS records per NS IP (config.yml:12-14 default; `authors.bind`,
      * `fortune` or any record configurable, `dns_utils.py:249-250`).
      */
    authChaosTxt: Seq[String] = Seq("hostname.bind", "version.bind"),
    /** Connectivity-check targets (config.yml:46-49); None disables the
      * family, "unreachable" simulates a worker without it (S8).
      */
    connectivityIpv4: Option[String] = Some("193.17.47.1"),
    connectivityIpv6: Option[String] = Some("2001:148f:ffff::1"),
    /** User-Agent header (reference config.yml web.user_agent). */
    userAgent: String = "Mozilla/5.0 AppleWebKit/537.36 (KHTML, like Gecko) Chrome/74.0.3729.131 Safari/537.36",
    /** Honor robots.txt for web fetches (our extension — the reference
      * fetches without checking; the north rule's frontier calls for the
      * capability). Off by default for reference output parity. When on,
      * /robots.txt is fetched once per (host, port) through the probe
      * service, cached per partition, and disallowed (agent, path) combos
      * yield a `blocked by robots.txt` error result instead of a fetch.
      */
    respectRobots: Boolean = false,
    /** Product token used for robots.txt group matching. */
    robotsAgent: String = "graft-crawler",
    saveWorkerHostname: Boolean = false, // config_loader.py:80
    workerHostname: String = "graft-worker-0",
    /** mmdb paths (config.yml geoip section; `geoip_utils.py:27-54`
      * precedence: isp beats asn). None = synthetic geo dimension.
      */
    geoipCountry: Option[String] = None,
    geoipIsp: Option[String] = None,
    geoipAsn: Option[String] = None,
    /** Newline HSTS preload list (`hsts_preload` config key — our analog
      * of the reference's packaged Chromium list, `hsts_utils.py:23-24`);
      * None = the synthetic universe's preload set. See
      * [[graft.universe.HstsPreload]] for the file format.
      */
    hstsPreloadFile: Option[String] = None)
