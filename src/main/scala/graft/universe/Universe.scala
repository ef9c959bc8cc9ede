package graft.universe

import graft.model.Model._
import graft.ops.TextOps.mix64

/** Deterministic synthetic probe universe — the stand-in for the network.
  *
  * Every leaf the reference crawler fetches over the wire (DNS answers
  * `dns_utils.py:260-306`, CHAOS TXT `dns_utils.py:218-232`, HTTP steps
  * `web_utils.py:173-320`, SMTP banners `mail_utils.py:28-45`, GeoIP
  * `geoip_utils.py:57-79`) is here a pure function of `(seed, key)` via
  * splitmix64 — identical on every executor, every partitioning, every
  * rerun, which is what makes crawl ordering / seen-set / resume testable.
  *
  * The universe deliberately produces the reference's *shape* diversity:
  * CNAME chains, NXDOMAIN, missing NS, no-MX fallback, signed/bogus/
  * unsigned DNSSEC states, redirect chains up to the max, binary content,
  * chaos-TXT refusals — plus a skewed nameserver-provider distribution
  * (hot `.cz` providers) so the frontier's salting has real skew to break.
  *
  * `nic.cz` is special-cased to the golden values the reference e2e test
  * asserts (`test/nic.cz.test.py:28-45`, `result-example.json`).
  */
object Universe {
  private[universe] val countries = Array("CZ", "DE", "US", "SK", "FR", "NL", "AT", "PL")
  private[universe] val dsAlgs = Array(8, 13, 14, 15)
  private val hexDigits = "0123456789abcdef".toCharArray

  // MessageDigest.getInstance synchronizes on the JCA provider registry —
  // a lock convoy at 32 probe threads. One instance per thread instead.
  private val md256 = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("SHA-256"))
  private val md512 = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("SHA-512"))

  private[universe] def sha256(payload: Array[Byte]): Array[Byte] = {
    val md = md256.get(); md.reset(); md.digest(payload)
  }
  private[universe] def sha512(payload: Array[Byte]): Array[Byte] = {
    val md = md512.get(); md.reset(); md.digest(payload)
  }

  private[universe] def hex(bytes: Array[Byte]): String = {
    val out = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      out(i * 2) = hexDigits(b >>> 4)
      out(i * 2 + 1) = hexDigits(b & 0xf)
      i += 1
    }
    new String(out)
  }
}

class Universe(val seed: Long) extends graft.probes.ProbeService {

  // Fixed-arity mix chains (identical values to the old varargs foldLeft,
  // without the per-call Seq + closure allocation — these run millions of
  // times per second inside the probe stage, where allocation rate is the
  // multi-core scaling ceiling).
  private def tok(p: String): Long = graft.ops.TextOps.hashToken(p)
  private def h(a: String): Long = mix64(seed ^ tok(a))
  private def h(a: String, b: String): Long = mix64(h(a) ^ tok(b))
  private def h(a: String, b: String, c: String): Long = mix64(h(a, b) ^ tok(c))
  private def h(a: String, b: String, c: String, d: String): Long =
    mix64(h(a, b, c) ^ tok(d))
  private def h(a: String, b: String, c: String, d: String, e: String): Long =
    mix64(h(a, b, c, d) ^ tok(e))
  private def h(a: String, b: String, c: String, d: String, e: String, f: String): Long =
    mix64(h(a, b, c, d, e) ^ tok(f))

  private def pct(x: Long): Int = Math.floorMod(x, 100L).toInt

  // interned small-int strings: ports/hops stringify on every probe call
  private val smallIntStr: Array[String] = Array.tabulate(1024)(_.toString)
  private def intStr(i: Int): String =
    if (i >= 0 && i < 1024) smallIntStr(i) else i.toString

  // ------------------------------------------------------------- DNS

  /** Nameserver provider distribution: provider 0 is hot (~30% of the
    * zone, the ".cz big-hoster" skew the north rule calls out), the rest
    * spread over 39 providers.
    */
  def nsProvider(domain: String): Int = {
    val x = h("nsprov", domain)
    if (pct(x) < 30) 0 else 1 + Math.floorMod(x >>> 8, 39L).toInt
  }

  def nsFor(domain: String): Seq[String] = {
    if (domain == "nic.cz") return Seq("a.ns.nic.cz", "b.ns.nic.cz", "d.ns.nic.cz")
    val x = h("ns", domain)
    if (pct(x) < 5) Seq.empty // no NS → DNS_AUTH null (reference crawl.py:77-78)
    else {
      val prov = nsProvider(domain)
      val n = 1 + Math.floorMod(x >>> 16, 3L).toInt
      (0 until n).map(i => s"ns$i.hoster$prov.cz")
    }
  }

  /** TTL for the apex record set — the frontier's TTL-derived priority. */
  def ttlFor(domain: String): Int = {
    if (domain == "nic.cz") return 1800
    300 + Math.floorMod(h("ttl", domain), 3600L).toInt
  }

  def cnameFor(name: String): Option[String] = {
    if (name.startsWith("www.") && pct(h("cname", name)) < 15) {
      val hop = Math.floorMod(h("cnhop", name), 40L)
      Some(s"edge$hop.cdn${Math.floorMod(hop, 7L)}.example.net")
    } else if (name.startsWith("edge") && pct(h("cname", name)) < 30) {
      Some(s"origin${Math.floorMod(h("cnorig", name), 9L)}.example.net")
    } else None
  }

  private def mkIp4(x: Long): String = {
    // manual digits: one String alloc per call instead of interpolation's
    // builder + boxed-long churn (runs per generated address record)
    val sb = new java.lang.StringBuilder(15)
    sb.append(10 + Math.floorMod(x, 200L).toInt).append('.')
      .append(Math.floorMod(x >>> 8, 250L).toInt).append('.')
      .append(Math.floorMod(x >>> 16, 250L).toInt).append('.')
      .append(1 + Math.floorMod(x >>> 24, 250L).toInt)
    sb.toString
  }

  private def mkIp6(x: Long): String = {
    val sb = new java.lang.StringBuilder(24)
    sb.append("2001:db8:")
      .append(java.lang.Long.toHexString(Math.floorMod(x, 0xffffL))).append(':')
      .append(java.lang.Long.toHexString(Math.floorMod(x >>> 16, 0xffffL))).append("::")
      .append(java.lang.Long.toHexString(1 + Math.floorMod(x >>> 32, 0xfffL)))
    sb.toString
  }

  // fixed-count leaf answers as pre-sized arrays (no Range + builder churn
  // per resolve on the crawl hot path)
  private def genIps(x: Long, n: Int, v6: Boolean): Seq[String] = {
    val out = new Array[String](n)
    var i = 0
    while (i < n) {
      out(i) = if (v6) mkIp6(mix64(x + i)) else mkIp4(mix64(x + i))
      i += 1
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
  }

  def aFor(name: String): Seq[String] = {
    if (name == "nic.cz" || name == "www.nic.cz") return Seq("217.31.205.50")
    val x = h("a", name)
    if (pct(x) < 12) Seq.empty // NXDOMAIN / no A
    else genIps(x, 1 + Math.floorMod(x >>> 8, 3L).toInt, v6 = false)
  }

  def aaaaFor(name: String): Seq[String] = {
    if (name == "nic.cz" || name == "www.nic.cz") return Seq("2001:1488:0:3::2")
    val x = h("aaaa", name)
    if (pct(x) < 35) Seq.empty
    else genIps(x, 1 + Math.floorMod(x >>> 8, 2L).toInt, v6 = true)
  }

  def nsIps4(ns: String): Seq[String] = {
    if (ns.endsWith(".ns.nic.cz")) return Seq(mkIp4(h("nsip4", ns)))
    val x = h("nsip4", ns)
    genIps(x, 1 + Math.floorMod(x, 2L).toInt, v6 = false)
  }

  def nsIps6(ns: String): Seq[String] = {
    val x = h("nsip6", ns)
    if (pct(x) < 40) Seq.empty else Seq(mkIp6(x))
  }

  def mxFor(domain: String): Seq[String] = {
    if (domain == "nic.cz")
      return Seq("10 mail.nic.cz.", "15 mx.nic.cz.", "20 bh.nic.cz.")
    val x = h("mx", domain)
    if (pct(x) < 30) Seq.empty // no MX → fallback to apex (crawl.py:149-152)
    else {
      val n = 1 + Math.floorMod(x >>> 8, 3L).toInt
      (0 until n).map { i =>
        val host =
          if (pct(mix64(x + i)) < 40) s"mx${i}.mailhoster${Math.floorMod(x >>> 20, 12L)}.cz."
          else s"mail$i.$domain."
        s"${(i + 1) * 10} $host"
      }
    }
  }

  def txtFor(domain: String): Seq[String] = {
    // subdomain-scoped TXT namespaces the reference queries explicitly
    // (crawl.py:56-57): _dmarc.<domain> and _openid.<domain> answer their
    // own record sets, never the apex TXT salad
    if (domain.startsWith("_dmarc.")) {
      val base = domain.stripPrefix("_dmarc.")
      val x = h("dmarcx", base)
      // occasional junk record alongside DMARC to exercise the reference's
      // per-record parse-error entries (dns_utils.py:152-155)
      return dmarcFor(base).toSeq ++
        (if (pct(x) < 6) Seq(s"verify=${java.lang.Long.toHexString(mix64(x))}") else Seq.empty)
    }
    if (domain.startsWith("_openid.")) {
      val base = domain.stripPrefix("_openid.")
      val x = h("openid", base)
      return if (pct(x) < 12) Seq(s"https://id.$base/xrds") else Seq.empty
    }
    if (domain == "nic.cz") // golden: the real zone carries an SPF TXT
      return Seq("v=spf1 ip4:217.31.205.50/32 ip6:2001:1488:0:3::2/128 -all")
    // hoster SPF-policy zones (the include/redirect targets the generated
    // records point at): a terminal record, so redirect chains resolve
    if (domain.startsWith("_spf.hoster"))
      return Seq(s"v=spf1 ip4:${mkIp4(h("spfzone", domain))}/28 -all")
    // a 2-hop redirect: _spf2 redirects onward to the terminal _spf zone
    if (domain.startsWith("_spf2.hoster"))
      return Seq(s"v=spf1 redirect=${domain.replace("_spf2.", "_spf.")}")
    // redirect LOOP fixture pair (checkdmarc SPFRedirectLoop analog)
    if (domain == "_spfloop-a.cz") return Seq("v=spf1 redirect=_spfloop-b.cz")
    if (domain == "_spfloop-b.cz") return Seq("v=spf1 redirect=_spfloop-a.cz")
    val x = h("txt", domain)
    val base = scala.collection.mutable.ArrayBuffer[String]()
    if (pct(x) < 60)
      base += s"v=spf1 ip4=${mkIp4(x)}/24 include:_spf.hoster${nsProvider(domain)}.cz ~all"
        .replace("ip4=", "ip4:")
    if (pct(x >>> 8) < 25) base += s"google-site-verification=${java.lang.Long.toHexString(mix64(x))}"
    if (pct(x >>> 16) < 15) base += s"MS=ms${Math.floorMod(x, 100000L)}"
    // a second spf record on a few domains: parse_spf returns one parse
    // PER matching record (dns_utils.py:166-183) — exercise the list shape
    if (pct(x >>> 24) < 4) base += "v=spf1 include:backup.example.cz -all"
    // a redirect-modifier record on a slice of the zone (checkdmarc
    // resolves these over DNS — dns_utils.py:166-183; 2-hop via _spf2)
    if (pct(x >>> 32) < 8)
      base += s"v=spf1 redirect=_spf2.hoster${nsProvider(domain)}.cz"
    base.toSeq
  }

  def dmarcFor(domain: String): Option[String] = {
    val x = h("dmarc", domain)
    if (pct(x) < 50) {
      val p = Seq("none", "quarantine", "reject")(Math.floorMod(x >>> 8, 3L).toInt)
      Some(s"v=DMARC1; p=$p; rua=mailto:dmarc@$domain; pct=100")
    } else None
  }

  /** DNSSEC state: signed (valid), bogus (valid=false), or unsigned. */
  def dnssecState(domain: String): String = {
    if (domain == "nic.cz") return "signed"
    val x = h("dnssec", domain)
    if (pct(x) < 40) "signed" else if (pct(x) < 45) "bogus" else "unsigned"
  }

  /** DS rdata: "keytag algorithm digesttype digest" (alg 13 for nic.cz per
    * the reference golden: ECDSAP256SHA256).
    */
  def dsFor(domain: String): Seq[String] = dnssecState(domain) match {
    case "unsigned" => Seq.empty
    case _ =>
      val x = h("ds", domain)
      val alg = if (domain == "nic.cz") 13 else Universe.dsAlgs(Math.floorMod(x, 4L).toInt)
      Seq(s"${Math.floorMod(x, 65536L)} $alg 2 ${java.lang.Long.toHexString(mix64(x))}${java.lang.Long.toHexString(mix64(x + 1))}")
  }

  def dnskeyFor(domain: String): Seq[String] = dnssecState(domain) match {
    case "unsigned" => Seq.empty
    case _ =>
      val x = h("dnskey", domain)
      val alg = if (domain == "nic.cz") 13 else Universe.dsAlgs(Math.floorMod(x, 4L).toInt)
      Seq(s"257 3 $alg ${java.lang.Long.toHexString(mix64(x))}==",
        s"256 3 $alg ${java.lang.Long.toHexString(mix64(x + 7))}==")
  }

  def rrsigFor(domain: String): Seq[String] = {
    val x = h("rrsig", domain)
    Seq(s"A 13 2 1800 ${java.lang.Long.toHexString(mix64(x))}")
  }

  def tlsaFor(name: String): Seq[String] = {
    val x = h("tlsa", name)
    if (pct(x) < 20 || name.startsWith("_25.") && pct(x >>> 8) < 50)
      Seq(s"3 1 1 ${java.lang.Long.toHexString(mix64(x))}${java.lang.Long.toHexString(mix64(x + 3))}")
    else Seq.empty
  }

  // ----------------------------------------------------------- GeoIP

  def geo(ip: String): GeoIp = {
    if (ip == "217.31.205.50" || ip == "2001:1488:0:3::2")
      return GeoIp(Some("CZ"), Some("CZ.NIC, z.s.p.o."), Some(25192))
    val x = h("geo", ip)
    val c = Universe.countries(Math.floorMod(x, Universe.countries.length.toLong).toInt)
    val asn = 1000 + Math.floorMod(x >>> 16, 64000L).toInt
    GeoIp(Some(c), Some(s"AS$asn Provider ${Math.floorMod(x >>> 8, 500L)}"), Some(asn))
  }

  // ------------------------------------------------------ CHAOS TXT

  private val fortunes = Array(
    "He who hesitates is lost.",
    "A journey of a thousand miles begins with a single step.",
    "Fortune favors the bold.",
    "Measure twice, cut once.")

  /** CHAOS TXT per (ip, record): any record name the config lists
    * (reference `auth_chaos_txt`, `config.yml:12-14` — incl. `fortune`,
    * `dns_utils.py:218-232` just queries whatever name it's given).
    */
  // interned CHAOS answers: 19×12 version variants, 40 hostname variants,
  // the fixed authors/fortune/refused/timeout shapes — chaosTxt runs per
  // (ns-ip, record) and every distinct value is enumerable up front
  private val chaosRefused = ChaosTxt(None, Some("refused"))
  private val chaosTimeout = ChaosTxt(None, Some("timeout"))
  private val chaosAuthors = ChaosTxt(Some(Seq("The BIND Authors")), None)
  private val chaosVersions: Array[ChaosTxt] =
    Array.tabulate(19 * 12)(i => ChaosTxt(Some(Seq(s"9.${i % 19}.${i / 19}")), None))
  private val chaosHostnames: Array[ChaosTxt] =
    Array.tabulate(40)(i => ChaosTxt(Some(Seq(s"node$i.anycast.example")), None))
  private lazy val chaosFortunes: Array[ChaosTxt] =
    fortunes.map(f => ChaosTxt(Some(Seq(f)), None))

  def chaosTxt(ip: String, qname: String): ChaosTxt = {
    val x = h("chaos", ip, qname)
    if (pct(x) < 25) chaosRefused
    else qname match {
      case "version.bind" => chaosVersions(
        Math.floorMod(x, 19L).toInt + 19 * Math.floorMod(x >>> 8, 12L).toInt)
      case "hostname.bind" => chaosHostnames(Math.floorMod(x, 40L).toInt)
      case "authors.bind" => chaosAuthors
      case "fortune" => chaosFortunes(Math.floorMod(x >>> 16, fortunes.length.toLong).toInt)
      case _ => chaosTimeout
    }
  }

  // ------------------------------------------ source-address probe (S8)

  /** Connectivity check / source-address discovery (reference
    * `ip_utils.py:44-75`: a UDP connect to `connectivity_check_ips` and
    * `getsockname`). None target = family disabled (config `null`);
    * target "unreachable" simulates a worker without that family —
    * the v4/v6 plan branches then stay null end-to-end.
    */
  def sourceAddress(fam: Int, target: Option[String]): Option[String] =
    target.flatMap { t =>
      if (t.isEmpty || t == "unreachable") None
      else if (fam == 4) Some(mkIp4(h("src4", t)))
      else Some(mkIp6(h("src6", t)))
    }

  // ------------------------------------------------------------- web

  /** One HTTP(S) fetch step at `(hostVariant, ip, port, path, hop)`.
    * Returns (status, locationOrNull, headers in ARRIVAL order,
    * bodyOrNull, isBinary). Header order mirrors a realistic wire order
    * (server first, then entity headers, security/cookie/alt-svc last) and
    * is deliberately NOT alphabetical — the JSON emitter must reproduce
    * arrival order like the reference does.
    */
  def webStep(host: String, ip: String, port: Int, hop: Int, path: String,
      wantBody: Boolean = true)
      : (Int, Option[String], Seq[(String, String)], Option[String], Boolean) = {
    if (host.endsWith("nic.cz")) {
      // golden: first step 301 http→https, final 200 with server nginx
      if (port == 80 && hop == 0)
        return (301, Some(s"https://$host/"),
          Vector("server" -> "nginx", "location" -> s"https://$host/"), None, false)
      return (200, None,
        Vector("server" -> "nginx", "content-type" -> "text/html; charset=utf-8"),
        if (wantBody) Some(s"<html><title>CZ.NIC</title></html>") else None, false)
    }
    val x = h("web", host, ip, intStr(port), intStr(hop), path)
    val redirChainLen = Math.floorMod(h("weblen", host, intStr(port)), 9L).toInt // up to 8 > max_redirects 6
    if (pct(x) < 8) return (0, None, Vector.empty, None, false) // connection error sentinel
    if (hop < redirChainLen && port == 80) {
      val loc = s"https://$host$path"
      (301, Some(loc), hdrSeq(2) { a => a(0) = srvPair(x); a(1) = ("location", loc); 2 },
        None, false)
    } else if (hop < redirChainLen && pct(x >>> 56) < 10 && !host.startsWith("alt-")) {
      // cross-host redirect (reference follows Location to other hosts,
      // web_utils.py:202-223): the alt host serves its own chain and cert
      val loc = s"https://alt-$host$path"
      (302, Some(loc), hdrSeq(2) { a => a(0) = srvPair(x); a(1) = ("location", loc); 2 },
        None, false)
    } else if (hop < redirChainLen) {
      val loc = s"https://$host/r$hop$path"
      (302, Some(loc), hdrSeq(2) { a => a(0) = srvPair(x); a(1) = ("location", loc); 2 },
        None, false)
    } else if (pct(x >>> 8) < 10)
      (404, None, hdrSeq(2) { a => a(0) = srvPair(x); a(1) = ctPlainHtmlPair; 2 },
        if (wantBody) Some("<html>404</html>") else None, false)
    else if (pct(x >>> 16) < 7)
      (200, None, hdrSeq(3) { a =>
        a(0) = srvPair(x); a(1) = ctBinPair
        a(2) = clenPair(Math.floorMod(x, 2048L).toInt); 3
      }, if (wantBody) Some(f"bin:${mix64(x)}%016x") else None, true)
    else {
      val hdrs = hdrSeq(6) { a =>
        a(0) = srvPair(x); a(1) = ctHtmlPair
        a(2) = clenPair(Math.floorMod(x, 2048L).toInt)
        var m = 3
        if (port == 443 && pct(x >>> 24) < 40) {
          a(m) = hstsPair(Math.floorMod(x, 365L).toInt); m += 1
        }
        if (pct(x >>> 40) < 25) {
          a(m) = ("set-cookie",
            s"sid=${java.lang.Long.toHexString(mix64(x))}; Path=/; HttpOnly${if (port == 443) "; Secure" else ""}; tracker=${Math.floorMod(x, 97L)}")
          m += 1
        }
        if (pct(x >>> 48) < 15) { a(m) = altSvcPair; m += 1 }
        m
      }
      // a slice of pages carries non-ASCII UTF-8 (háčky) so encoding
      // detection exercises the utf-8 branch, not just ascii
      val body = if (!wantBody) None else {
        val diacritics = if (pct(x >>> 56) < 20) " čeština příliš žluťoučký" else ""
        Some(s"<html><body>page ${java.lang.Long.toHexString(x)}$diacritics</body></html>")
      }
      (200, None, hdrs, body, false)
    }
  }

  // interned hsts header values (365 variants, built on demand once each)
  private val hstsValues = new Array[String](365)
  private def hstsValue(days: Int): String = {
    var v = hstsValues(days)
    if (v == null) {
      v = s"max-age=${86400 * (1 + days)}; includeSubDomains"
      hstsValues(days) = v
    }
    v
  }

  // interned content-length values: 2048 realistic magnitudes (217 … ~108k)
  // built once each — a fresh Long.toString per 200-response was pure churn
  private val clenValues = new Array[String](2048)
  private def clenValue(slot: Int): String = {
    var v = clenValues(slot)
    if (v == null) { v = (slot * 53 + 217).toString; clenValues(slot) = v }
    v
  }

  // interned header PAIRS for every bounded-cardinality header: the
  // (name, value) tuples repeat across millions of steps, so a fresh
  // Tuple2 per step per header was ~100 B/step of churn
  private lazy val serverPairs: Array[(String, String)] =
    servers.map(s => ("server", s)) // lazy: `servers` declares later in the class
  private val ctHtmlPair = ("content-type", "text/html; charset=utf-8")
  private val ctPlainHtmlPair = ("content-type", "text/html")
  private val ctBinPair = ("content-type", "application/octet-stream")
  private val altSvcPair = ("alt-svc", "h3=\":443\"; ma=86400, h2=\":443\"")
  private val clenPairs = new Array[(String, String)](2048)
  private def clenPair(slot: Int): (String, String) = {
    var p = clenPairs(slot)
    if (p == null) { p = ("content-length", clenValue(slot)); clenPairs(slot) = p }
    p
  }
  private val hstsPairs = new Array[(String, String)](365)
  private def hstsPair(days: Int): (String, String) = {
    var p = hstsPairs(days)
    if (p == null) { p = ("strict-transport-security", hstsValue(days)); hstsPairs(days) = p }
    p
  }
  private def srvPair(x: Long): (String, String) =
    serverPairs(Math.floorMod(x >>> 32, 5L).toInt)

  /** Pre-sized header row (headers are ≤ 6; one array + wrapper alloc). */
  private def hdrSeq(n: Int)(fill: Array[(String, String)] => Int): Seq[(String, String)] = {
    val a = new Array[(String, String)](n)
    val m = fill(a)
    scala.collection.immutable.ArraySeq.unsafeWrapArray(
      if (m == n) a else java.util.Arrays.copyOf(a, m))
  }

  private val servers = Array("nginx", "apache", "nginx/1.24.0", "caddy", "Microsoft-IIS/10.0")

  private val tlsVersions = Array("TLSv1.2", "TLSv1.3")
  private val tlsCiphers = Array("TLS_AES_128_GCM_SHA256", "TLS_AES_256_GCM_SHA384",
    "ECDHE-RSA-AES128-GCM-SHA256")
  // all 6 (version, cipher) pairs pre-built: tlsInfo runs once per https
  // hop, a fresh tuple each call was pure allocation churn
  private val tlsPairs: Array[(String, String)] =
    Array.tabulate(6)(i => (tlsVersions(i % 2), tlsCiphers(i / 2)))
  def tlsInfo(host: String, ip: String): (String, String) = {
    val x = h("tls", host, ip)
    tlsPairs(Math.floorMod(x, 2L).toInt + 2 * Math.floorMod(x >>> 8, 3L).toInt)
  }

  /** Deterministic certificate projection per host (fields the reference
    * extracts in `certificate.py:73-102`; golden nic.cz values match the
    * e2e assertions `test/nic.cz.test.py:38-40`: CN=nic.cz, version 3,
    * sha256 signature).
    */
  def certFor(host: String): Certificate = {
    val x = h("cert", host)
    val clockDay = java.time.LocalDate.of(2026, 1, 1)
    val issuedDaysAgo = 10 + Math.floorMod(x, 300L).toInt
    val validDays = if (host.endsWith("nic.cz")) 90 else Seq(90, 365, 398)(Math.floorMod(x >>> 8, 3L).toInt)
    val expired = !host.endsWith("nic.cz") && pct(x >>> 16) < 8
    val lifetimeUsed = if (expired) validDays + 5 + Math.floorMod(x >>> 24, 60L).toInt else issuedDaysAgo
    val notBefore = clockDay.minusDays(lifetimeUsed.toLong)
    val notAfter = notBefore.plusDays(validDays.toLong)
    def fmt(d: java.time.LocalDate) = d.toString + " 00:00:00" // certificate.py:51-52 format
    val serial = f"${mix64(x) & Long.MaxValue}%016x" // certificate.py serial %016x
    def digestPair(tag: String): CertFingerprint = {
      val payload = s"$tag:$host:$serial".getBytes("UTF-8")
      CertFingerprint(Universe.hex(Universe.sha256(payload)),
        Universe.hex(Universe.sha512(payload)))
    }
    val cn = if (host.startsWith("www.")) host.substring(4) else host
    val issuerCn = if (host.endsWith("nic.cz")) "R3" else s"CA${Math.floorMod(x >>> 32, 5L)}"
    Certificate(
      not_before = fmt(notBefore),
      not_after = fmt(notAfter),
      expired = expired,
      expired_for = if (expired) Some(lifetimeUsed - validDays) else None,
      validity_period = validDays,
      subject = Map("commonName" -> cn),
      issuer = Map("commonName" -> issuerCn, "organizationName" ->
        (if (host.endsWith("nic.cz")) "Let's Encrypt" else s"Example Trust $issuerCn")),
      version = 3,
      serial = serial,
      fingerprint_cert = digestPair("cert"),
      fingerprint_pubkey = digestPair("spki"),
      algorithm = "sha256",
      alt_names = Seq(cn, s"www.$cn").distinct)
  }

  /** Issuing-CA certificate for a leaf (deterministic per issuer CN) —
    * the extra chain element `save_cert_chain` exposes
    * (`web_utils.py:274-279`: full `peer_cert_chain` vs leaf-only).
    */
  def caCertFor(issuerCn: String, issuerOrg: String): Certificate = {
    val x = h("cacert", issuerCn)
    val notBefore = java.time.LocalDate.of(2020, 9, 4)
    val serial = f"${mix64(x) & Long.MaxValue}%016x"
    def digestPair(tag: String): CertFingerprint = {
      val payload = s"$tag:ca:$issuerCn:$serial".getBytes("UTF-8")
      CertFingerprint(Universe.hex(Universe.sha256(payload)),
        Universe.hex(Universe.sha512(payload)))
    }
    Certificate(
      not_before = notBefore.toString + " 00:00:00",
      not_after = notBefore.plusDays(1825L).toString + " 00:00:00",
      expired = false,
      expired_for = None,
      validity_period = 1825,
      subject = Map("commonName" -> issuerCn, "organizationName" -> issuerOrg),
      issuer = Map("commonName" -> s"$issuerCn Root", "organizationName" -> issuerOrg),
      version = 3,
      serial = serial,
      fingerprint_cert = digestPair("cert"),
      fingerprint_pubkey = digestPair("spki"),
      algorithm = "sha256",
      alt_names = Seq.empty)
  }

  /** Full served chain for a host: leaf + issuing CA. */
  def certChainFor(host: String): Seq[Certificate] = {
    val leaf = certFor(host)
    Seq(leaf, caCertFor(leaf.issuer("commonName"),
      leaf.issuer.getOrElse("organizationName", "Example Trust")))
  }

  /** Config-driven additional RR types (U1 registry backend): raw record
    * strings per (domain, rrtype) — reference `dns_utils.py:309-319`.
    */
  def additionalFor(domain: String, rrtype: String): Seq[String] = rrtype match {
    case "CAA" =>
      val x = h("caa", domain)
      if (pct(x) < 35) Seq(s"""0 issue "${if (pct(x >>> 8) < 60) "letsencrypt.org" else s"ca${Math.floorMod(x, 5L)}.example"}"""")
      else Seq.empty
    case "SPF" => // legacy type 99 mirror of the TXT spf
      txtFor(domain).filter(_.startsWith("v=spf1"))
    case _ => Seq.empty
  }

  // ------------------------------------------------------------ mail

  // 50 banner variants + the timeout shape, interned: a fresh
  // MailBanner(Some(String)) per (ip, port) was ~100 B × n_ips × 3 ports
  // per domain of pure churn for 51 distinct values
  private val bannerTimeout = MailBanner(None, Some("timeout"))
  private val banners: Array[MailBanner] = Array.tabulate(50)(i =>
    MailBanner(Some(s"220 smtp$i.example ESMTP Postfix"), None))
  def mailBanner(ip: String, port: Int): MailBanner = {
    val x = h("banner", ip, intStr(port))
    if (pct(x) < 15) bannerTimeout
    else banners(Math.floorMod(x, 50L).toInt)
  }

  // ------------------------------------------------------------ HSTS

  def hstsPreload(domain: String): Boolean =
    domain == "nic.cz" || pct(h("hstspre", domain)) < 3

  // ------------------------------------- politeness / zone policy

  /** Zone/robots policy per nameserver bucket: per-round token budget
    * (the robots.txt / zone-transfer-policy cache of the north star).
    */
  def policyBudget(nsBucket: Int): Int =
    if (nsBucket == 0) 512 else 64 + Math.floorMod(h("policy", nsBucket.toString), 64L).toInt

  /** Deterministic seed-list generator: `d{i}.cz` style domains plus IDN
    * and mixed-case variants to exercise canonicalization, plus planted
    * duplicates for the seen-set.
    */
  def seedDomain(i: Long): String = {
    val x = mix64(seed ^ i)
    Math.floorMod(x, 20L) match {
      case 0 => s"D${i}.CZ" // case variant
      case 1 => s"d$i.cz."  // trailing dot
      case 2 => s"háčky-$i.cz" // IDN → punycode
      case 3 => s"d${Math.max(0L, i - Math.floorMod(x >>> 8, 50L))}.cz" // duplicate of earlier
      case _ => s"d$i.cz"
    }
  }
}
