package graft.spans

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.model.Model._

/** Canonical span-sequence encoding of a [[DomainResult]] — the per-row
  * correctness invariant (`BASELINE.json.input_hint`): one result document
  * → one `Doc(doc_id = domain, spans)` where spans enumerate every leaf in
  * a fixed depth-first field order (the reference's insertion order,
  * `crawl.py:165-182`: DNS_LOCAL → DNS_AUTH → MAIL → WEB → HSTS) and
  * equality is per-row on `(kind, text, media_ref, order)`.
  *
  *   - kind      = dotted path label, list indices elided (order carries
  *                 position), e.g. `DNS_LOCAL.NS_AUTH.value`
  *   - text      = leaf as canonical JSON-scalar text (`null` for None)
  *   - media_ref = data refs (binary web content) — null for plain scalars
  *   - offset    = global 0-based enumeration position
  */
object SpanCodec {

  private final class B {
    val buf = mutable.ArrayBuffer.empty[Span]
    def add(kind: String, text: String, media: String = null): Unit =
      buf += Span(kind, text, media, buf.length)
    def scalar(kind: String, v: Option[Any]): Unit =
      add(kind, v.map(_.toString).getOrElse("null"))
  }

  private def geo(b: B, p: String, g: Option[GeoIp]): Unit = g match {
    case None => b.add(s"$p.geoip", "null")
    case Some(gg) =>
      b.scalar(s"$p.geoip.country", gg.country)
      b.scalar(s"$p.geoip.org", gg.org)
      b.scalar(s"$p.geoip.asn", gg.asn)
  }

  private def records(b: B, p: String, rs: Option[Seq[DnsRecord]]): Unit = rs match {
    case None => b.add(p, "null")
    case Some(list) => list.foreach { r =>
      b.add(s"$p.value", r.value)
      r.cname.foreach(c => b.add(s"$p.cname", c))
      r.from_cname.foreach(c => b.add(s"$p.from_cname", c))
      r.algorithm.foreach(a => b.add(s"$p.algorithm", a))
      if (r.geoip.isDefined) geo(b, p, r.geoip)
    }
  }

  private def tlsa(b: B, p: String, ts: Option[Seq[Tlsa]]): Unit = ts match {
    case None => b.add(p, "null")
    case Some(list) => list.foreach { t =>
      b.add(s"$p.usage", t.usage.toString)
      b.add(s"$p.selector", t.selector.toString)
      b.add(s"$p.matchingtype", t.matchingtype.toString)
      b.add(s"$p.data", t.data)
    }
  }

  private def chaos(b: B, p: String, c: ChaosTxt): Unit = {
    c.value match {
      case None => b.add(s"$p.value", "null")
      case Some(vs) => vs.foreach(v => b.add(s"$p.value", v))
    }
    c.error.foreach(e => b.add(s"$p.error", e))
  }

  private def step(b: B, p: String, s: WebStep): Unit = {
    b.add(s"$p.url", s.url)
    b.scalar(s"$p.status", s.status)
    b.scalar(s"$p.is_redirect", s.is_redirect)
    s.headers.foreach { case (k, v) => // arrival order, like the JSON sink
      b.add(s"$p.headers.$k", v)
    }
    s.hsts_header.foreach { h =>
      b.scalar(s"$p.hsts.max_age", h.max_age)
      b.scalar(s"$p.hsts.includeSubdomains", h.includeSubdomains)
      b.scalar(s"$p.hsts.preload", h.preload)
    }
    s.alt_svc.foreach(_.toSeq.sortBy(_._1).foreach { case (k, v) =>
      b.add(s"$p.alt_svc.$k", v)
    })
    s.cookies.foreach(_.foreach { c =>
      b.add(s"$p.cookies.name", c.name)
      b.add(s"$p.cookies.value", c.value)
      c.domain.foreach(v => b.add(s"$p.cookies.domain", v))
      c.path.foreach(v => b.add(s"$p.cookies.path", v))
      c.secure.foreach(v => b.add(s"$p.cookies.secure", v.toString))
      c.httponly.foreach(v => b.add(s"$p.cookies.httponly", v.toString))
      c.expires.foreach(v => b.add(s"$p.cookies.expires", v))
      c.nonstandard_attrs.toSeq.sortBy(_._1).foreach { case (k, v) =>
        b.add(s"$p.cookies.nonstandard.$k", v)
      }
    })
    s.content_length.foreach(cl => b.add(s"$p.content_length", cl.toString))
    s.ip.foreach(ip => b.add(s"$p.ip", ip))
    s.tls_version.foreach(v => b.add(s"$p.tls.version", v))
    s.tls_cipher.foreach(v => b.add(s"$p.tls.cipher", v))
    s.cert.foreach(_.foreach { c =>
      b.add(s"$p.cert.not_before", c.not_before)
      b.add(s"$p.cert.not_after", c.not_after)
      b.add(s"$p.cert.expired", c.expired.toString)
      c.expired_for.foreach(v => b.add(s"$p.cert.expired_for", v.toString))
      b.add(s"$p.cert.validity_period", c.validity_period.toString)
      c.subject.toSeq.sortBy(_._1).foreach { case (k, v) => b.add(s"$p.cert.subject.$k", v) }
      c.issuer.toSeq.sortBy(_._1).foreach { case (k, v) => b.add(s"$p.cert.issuer.$k", v) }
      b.add(s"$p.cert.version", c.version.toString)
      b.add(s"$p.cert.serial", c.serial)
      b.add(s"$p.cert.fingerprint.cert.sha256", null, c.fingerprint_cert.sha256)
      b.add(s"$p.cert.fingerprint.cert.sha512", null, c.fingerprint_cert.sha512)
      b.add(s"$p.cert.fingerprint.pubkey.sha256", null, c.fingerprint_pubkey.sha256)
      b.add(s"$p.cert.fingerprint.pubkey.sha512", null, c.fingerprint_pubkey.sha512)
      b.add(s"$p.cert.algorithm", c.algorithm)
      c.alt_names.foreach(n => b.add(s"$p.cert.alt_names", n))
    })
    if (s.content_is_binary.contains(true))
      s.content.foreach(c => b.add(s"$p.content", null, s"data:application/octet-stream,$c"))
    else
      s.content.foreach(c => b.add(s"$p.content", c))
    s.content_is_binary.foreach(v => b.add(s"$p.content_is_binary", v.toString))
    s.error.foreach(e => b.add(s"$p.error", e))
  }

  private def webResults(b: B, p: String, rs: Option[Seq[WebResult]]): Unit = rs match {
    case None => b.add(p, "null")
    case Some(list) => list.foreach { r =>
      b.add(s"$p.ip", r.ip)
      b.add(s"$p.redirect_count", r.redirect_count.toString)
      r.steps.foreach(_.foreach(s => step(b, s"$p.steps", s)))
      r.final_step.foreach(s => step(b, s"$p.final_step", s))
    }
  }

  def encode(r: DomainResult): Doc = {
    val b = new B
    b.add("domain", r.domain)
    b.add("timestamp", r.timestamp)
    val dl = r.DNS_LOCAL
    records(b, "DNS_LOCAL.NS_AUTH", dl.NS_AUTH)
    records(b, "DNS_LOCAL.MAIL", dl.MAIL)
    records(b, "DNS_LOCAL.WEB4", dl.WEB4)
    records(b, "DNS_LOCAL.WEB6", dl.WEB6)
    records(b, "DNS_LOCAL.WEB4_www", dl.WEB4_www)
    records(b, "DNS_LOCAL.WEB6_www", dl.WEB6_www)
    tlsa(b, "DNS_LOCAL.WEB_TLSA", dl.WEB_TLSA)
    tlsa(b, "DNS_LOCAL.WEB_TLSA_www", dl.WEB_TLSA_www)
    records(b, "DNS_LOCAL.TXT", dl.TXT)
    dl.TXT_SPF match {
      case None => b.add("DNS_LOCAL.TXT_SPF", "null")
      case Some(list) => list.foreach { s =>
        b.add("DNS_LOCAL.TXT_SPF.record", s.record)
        def arr(k: String, v: Option[Seq[String]]): Unit = v match {
          case None => b.add(s"DNS_LOCAL.TXT_SPF.$k", "null")
          case Some(xs) => xs.foreach(x => b.add(s"DNS_LOCAL.TXT_SPF.$k", x))
        }
        arr("pass", s.pass); arr("fail", s.fail); arr("softfail", s.softfail)
        arr("neutral", s.neutral); arr("include", s.include)
        arr("ip4", s.ip4); arr("ip6", s.ip6)
        b.scalar("DNS_LOCAL.TXT_SPF.all", s.all)
        b.scalar("DNS_LOCAL.TXT_SPF.redirect", s.redirect)
        b.scalar("DNS_LOCAL.TXT_SPF.exp", s.exp)
        s.error.foreach(e => b.add("DNS_LOCAL.TXT_SPF.error", e))
      }
    }
    dl.TXT_DMARC match {
      case None => b.add("DNS_LOCAL.TXT_DMARC", "null")
      case Some(list) => list.foreach { d =>
        b.add("DNS_LOCAL.TXT_DMARC.record", d.record)
        Seq("v" -> d.v, "p" -> d.p, "sp" -> d.sp, "adkim" -> d.adkim,
          "aspf" -> d.aspf, "pct" -> d.pct, "fo" -> d.fo, "ri" -> d.ri,
          "rua" -> d.rua, "ruf" -> d.ruf, "rf" -> d.rf).foreach {
          case (k, Some(v)) => b.add(s"DNS_LOCAL.TXT_DMARC.$k", v)
          case _ => ()
        }
        d.error.foreach(e => b.add("DNS_LOCAL.TXT_DMARC.error", e))
      }
    }
    records(b, "DNS_LOCAL.TXT_openid", dl.TXT_openid)
    records(b, "DNS_LOCAL.DS", dl.DS)
    records(b, "DNS_LOCAL.DNSKEY", dl.DNSKEY)
    b.scalar("DNS_LOCAL.DNSSEC.valid", dl.DNSSEC.valid)
    dl.DNSSEC.rrsig.foreach(_.foreach(s => b.add("DNS_LOCAL.DNSSEC.rrsig", s)))
    dl.DNSSEC.message.foreach(m => b.add("DNS_LOCAL.DNSSEC.message", m))
    dl.DNSSEC.error.foreach(e => b.add("DNS_LOCAL.DNSSEC.error", e))
    r.DNS_AUTH match {
      case None => b.add("DNS_AUTH", "null")
      case Some(list) => list.foreach { na =>
        b.add("DNS_AUTH.ns", na.ns)
        def nsips(k: String, xs: Option[Seq[NsIp]]): Unit =
          xs.foreach(_.foreach { ni =>
            b.add(s"DNS_AUTH.$k.ip", ni.ip)
            geo(b, s"DNS_AUTH.$k", ni.geoip)
            ni.chaos.foreach(ce => chaos(b, s"DNS_AUTH.$k.${ce.key}", ce.txt))
          })
        nsips("ipv4", na.ipv4); nsips("ipv6", na.ipv6)
      }
    }
    r.MAIL match {
      case None => b.add("MAIL", "null")
      case Some(list) => list.foreach { mh =>
        b.add("MAIL.host", mh.host)
        mh.tlsa.toSeq.sortBy(_._1).foreach { case (port, recs) =>
          tlsa(b, s"MAIL.TLSA.$port", recs)
        }
        mh.banners.foreach(_.foreach { ib =>
          b.add("MAIL.banners.ip", ib.ip)
          ib.banners.toSeq.sortBy(_._1).foreach { case (port, ban) =>
            ban.banner.foreach(x => b.add(s"MAIL.banners.$port.banner", x))
            ban.error.foreach(x => b.add(s"MAIL.banners.$port.error", x))
          }
          geo(b, "MAIL.banners", ib.geoip)
        })
      }
    }
    val w = r.WEB
    webResults(b, "WEB.WEB4_80", w.WEB4_80)
    webResults(b, "WEB.WEB4_443", w.WEB4_443)
    webResults(b, "WEB.WEB6_80", w.WEB6_80)
    webResults(b, "WEB.WEB6_443", w.WEB6_443)
    webResults(b, "WEB.WEB4_80_www", w.WEB4_80_www)
    webResults(b, "WEB.WEB4_443_www", w.WEB4_443_www)
    webResults(b, "WEB.WEB6_80_www", w.WEB6_80_www)
    webResults(b, "WEB.WEB6_443_www", w.WEB6_443_www)
    b.add("HSTS", r.HSTS.toString)
    // WEB_paths after HSTS (crawl.py:158-163 adds it to results last)
    r.WEB_paths.foreach(_.foreach { pw =>
      val p = s"WEB_paths.${pw.path}"
      webResults(b, s"$p.WEB4_80", pw.web.WEB4_80)
      webResults(b, s"$p.WEB4_443", pw.web.WEB4_443)
      webResults(b, s"$p.WEB6_80", pw.web.WEB6_80)
      webResults(b, s"$p.WEB6_443", pw.web.WEB6_443)
      webResults(b, s"$p.WEB4_80_www", pw.web.WEB4_80_www)
      webResults(b, s"$p.WEB4_443_www", pw.web.WEB4_443_www)
      webResults(b, s"$p.WEB6_80_www", pw.web.WEB6_80_www)
      webResults(b, s"$p.WEB6_443_www", pw.web.WEB6_443_www)
    })
    r.worker_hostname.foreach(h => b.add("worker_hostname", h))
    Doc(r.domain, b.buf.toSeq)
  }

  /** The span table as a view of a results table: one `Doc` per row,
    * [[encode]] of its `result` column (`doc_id` = the result's domain,
    * the results table's MERGE key). Both results layouts carry `result`
    * ([[graft.engine.Engine.ResultRow]] and `StreamResultRow`).
    */
  def view(results: DataFrame): DataFrame = {
    import results.sparkSession.implicits._
    results.select("result.*").as[DomainResult].map(encode).toDF()
  }
}
