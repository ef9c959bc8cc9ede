package graft.universe

import java.math.BigInteger
import java.nio.charset.StandardCharsets
import java.security.{KeyFactory, KeyPair, MessageDigest, PrivateKey, PublicKey, Signature}
import java.security.interfaces.RSAPublicKey
import java.security.spec.{RSAPrivateCrtKeySpec, RSAPublicKeySpec, X509EncodedKeySpec}
import java.time.format.DateTimeFormatter
import java.time.{LocalDateTime, ZoneOffset}
import java.util.Base64

/** Real-cryptography DNSSEC path behind the ProbeService seam (F7 closure:
  * the reference's `dns.dnssec.validate` call, `dns_utils.py:42-70`,
  * performs actual signature verification; the `check_dnssec` classifier,
  * `dns_utils.py:73-127`, branches on the outcome). Two decorators compose
  * over any inner service:
  *
  *  - [[SigningDnssecService]] — for domains whose zone the inner service
  *    reports signed/bogus, replaces the DNSKEY/RRSIG leaves with a REAL
  *    RSA-2048 public key (RFC 4034 algorithm 8, RSASHA256) and a REAL
  *    SHA256withRSA signature. RSA signatures are deterministic (PKCS#1
  *    v1.5), so repeated crawls produce identical documents; "bogus" zones
  *    sign corrupted bytes, so their signature is present but
  *    cryptographically invalid — exactly the reference's
  *    SERVFAIL-on-validation-failure shape.
  *  - [[VerifyingDnssecService]] — replaces the inner `dnssecState`
  *    attribute with the verdict of `java.security.Signature` verify:
  *    DNSKEY + RRSIG fetched through the seam, verified, mapped to the
  *    reference's states (verifies → "signed"; present but invalid →
  *    "bogus"; no records → "unsigned"). [[graft.probes.Probes.checkDnssec]]
  *    — the classifier — runs UNCHANGED on top, so the valid/rrsig/
  *    message/error JSON shape is untouched.
  *
  * Wire-format fidelity (RFC 4034): the DNSKEY public key rides RFC 3110
  * encoding (exponent length ‖ exponent ‖ modulus) in base64, the RRSIG
  * key tag is computed per RFC 4034 Appendix B over the DNSKEY RDATA, and
  * the signed bytes are the §3.1.8.1 construction — RRSIG RDATA with the
  * signature field elided, followed by the rrset in §6 canonical form
  * (lowercase length-prefixed wire owner names, RRs sorted by RDATA byte
  * order, original TTL). A conforming validator fed these records would
  * perform the identical computation (dnspython does exactly this in the
  * reference's `dns.dnssec.validate`).
  */
object DnssecCrypto {

  /** Deterministic RSA-2048 keypair built from seed-derived FIXED key
    * material — primes found by a deterministic search over a SHA-256
    * counter stream and assembled via `RSAPrivateCrtKeySpec`, not by
    * provider keygen (whose prime search is JDK-implementation/version
    * dependent). Heterogeneous-JDK clusters therefore derive identical
    * DNSKEY/RRSIG leaves on every executor, so the result digests do not
    * depend on where a domain was probed. One derivation per (JVM, seed), cached.
    */
  private val kpCache = new java.util.concurrent.ConcurrentHashMap[Long, KeyPair]()
  def keyPair(seed: Long): KeyPair = kpCache.computeIfAbsent(seed, s => {
    val e = BigInteger.valueOf(65537L)
    val p = derivePrime(s, tag = 1, e)
    val q = derivePrime(s, tag = 2, e)
    val n = p.multiply(q)
    val phi = p.subtract(BigInteger.ONE).multiply(q.subtract(BigInteger.ONE))
    val d = e.modInverse(phi)
    val kf = KeyFactory.getInstance("RSA")
    val priv = kf.generatePrivate(new RSAPrivateCrtKeySpec(
      n, e, d, p, q,
      d.mod(p.subtract(BigInteger.ONE)), d.mod(q.subtract(BigInteger.ONE)),
      q.modInverse(p)))
    val pub = kf.generatePublic(new RSAPublicKeySpec(n, e))
    new KeyPair(pub, priv)
  })

  private val smallPrimes: Array[Int] =
    Array(3, 5, 7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43, 47, 53, 59, 61,
      67, 71, 73, 79, 83, 89, 97, 101, 103, 107, 109, 113, 127, 131, 137,
      139, 149, 151, 157, 163, 167, 173, 179, 181, 191, 193, 197, 199)

  /** 1024-bit prime from a deterministic candidate stream: candidate k is
    * SHA-256(seed‖tag‖k‖block) for 4 blocks, top two bits and low bit
    * forced (product is exactly 2048 bits; candidate odd). A composite
    * passing isProbablePrime(128) has probability ≤ 2⁻¹²⁸ — the stream,
    * and hence the key, is deterministic for every practical purpose.
    */
  private def derivePrime(seed: Long, tag: Int, e: BigInteger): BigInteger = {
    var k = 0
    while (true) {
      val bytes = new Array[Byte](128)
      var blk = 0
      while (blk < 4) {
        val md = MessageDigest.getInstance("SHA-256")
        md.update(java.nio.ByteBuffer.allocate(16)
          .putLong(seed).putInt(tag).putInt(k).array())
        md.update(blk.toByte)
        System.arraycopy(md.digest(), 0, bytes, blk * 32, 32)
        blk += 1
      }
      var cand = new BigInteger(1, bytes).setBit(1023).setBit(1022).setBit(0)
      val smallOk = smallPrimes.forall(sp =>
        cand.mod(BigInteger.valueOf(sp.toLong)).signum() != 0)
      if (smallOk && cand.isProbablePrime(128) &&
          cand.subtract(BigInteger.ONE).gcd(e).equals(BigInteger.ONE))
        return cand
      k += 1
    }
    throw new IllegalStateException("unreachable")
  }

  // ---- RFC 4034 wire encodings ------------------------------------------

  /** §6.2 canonical owner name: lowercase, length-prefixed labels, root
    * terminator.
    */
  def wireName(name: String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    name.toLowerCase.split("\\.").filter(_.nonEmpty).foreach { label =>
      val b = label.getBytes(StandardCharsets.US_ASCII)
      out.write(b.length)
      out.write(b, 0, b.length)
    }
    out.write(0)
    out.toByteArray
  }

  /** RFC 3110 RSA key material: exponent length (1 byte for < 256) ‖
    * exponent ‖ modulus, both unsigned big-endian with no leading zero.
    */
  def rfc3110KeyBytes(pub: RSAPublicKey): Array[Byte] = {
    val exp = unsignedBytes(pub.getPublicExponent)
    val mod = unsignedBytes(pub.getModulus)
    val out = new java.io.ByteArrayOutputStream()
    if (exp.length < 256) out.write(exp.length)
    else { out.write(0); out.write(exp.length >> 8); out.write(exp.length & 0xff) }
    out.write(exp, 0, exp.length)
    out.write(mod, 0, mod.length)
    out.toByteArray
  }

  private def unsignedBytes(v: BigInteger): Array[Byte] = {
    val raw = v.toByteArray
    if (raw.length > 1 && raw(0) == 0) raw.drop(1) else raw
  }

  /** DNSKEY RDATA (§2.1): flags(2) ‖ protocol(1) ‖ algorithm(1) ‖ key. */
  def dnskeyRdata(flags: Int, protocol: Int, alg: Int,
      keyBytes: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(flags >> 8); out.write(flags & 0xff)
    out.write(protocol); out.write(alg)
    out.write(keyBytes, 0, keyBytes.length)
    out.toByteArray
  }

  /** Key tag, RFC 4034 Appendix B (algorithms other than 1). */
  def keyTag(dnskeyRdata: Array[Byte]): Int = {
    var ac = 0L
    var i = 0
    while (i < dnskeyRdata.length) {
      val b = dnskeyRdata(i) & 0xff
      ac += (if ((i & 1) == 0) b.toLong << 8 else b.toLong)
      i += 1
    }
    ac += (ac >> 16) & 0xffff
    (ac & 0xffff).toInt
  }

  /** §6.3 canonical A rrset: each RR as owner ‖ type=1 ‖ class=IN ‖ TTL ‖
    * RDLENGTH ‖ 4-byte address, RRs sorted by RDATA byte order.
    */
  def canonicalARrsetWire(owner: String, ttl: Long, rdatas: Seq[String]): Array[Byte] = {
    val ownerW = wireName(owner)
    val addrs = rdatas.map { ip =>
      ip.split("\\.").map(p => (p.toInt & 0xff).toByte)
    }.filter(_.length == 4)
      .sortWith((a, b) => compareBytes(a, b) < 0)
    val out = new java.io.ByteArrayOutputStream()
    addrs.foreach { a =>
      out.write(ownerW, 0, ownerW.length)
      out.write(0); out.write(1) // TYPE A
      out.write(0); out.write(1) // CLASS IN
      out.write(((ttl >> 24) & 0xff).toInt); out.write(((ttl >> 16) & 0xff).toInt)
      out.write(((ttl >> 8) & 0xff).toInt); out.write((ttl & 0xff).toInt)
      out.write(0); out.write(4) // RDLENGTH
      out.write(a, 0, 4)
    }
    out.toByteArray
  }

  private def compareBytes(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    a.length - b.length
  }

  /** RRSIG RDATA with the signature field elided (§3.1.8.1 first half):
    * type covered(2) ‖ alg(1) ‖ labels(1) ‖ original TTL(4) ‖
    * expiration(4) ‖ inception(4) ‖ key tag(2) ‖ signer wire name.
    */
  def rrsigPreSig(typeCovered: Int, alg: Int, labels: Int, origTtl: Long,
      expiration: Long, inception: Long, keyTag: Int, signer: String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(typeCovered >> 8); out.write(typeCovered & 0xff)
    out.write(alg); out.write(labels)
    def w32(v: Long): Unit = {
      out.write(((v >> 24) & 0xff).toInt); out.write(((v >> 16) & 0xff).toInt)
      out.write(((v >> 8) & 0xff).toInt); out.write((v & 0xff).toInt)
    }
    w32(origTtl); w32(expiration); w32(inception)
    out.write(keyTag >> 8); out.write(keyTag & 0xff)
    val s = wireName(signer)
    out.write(s, 0, s.length)
    out.toByteArray
  }

  private val tsFmt = DateTimeFormatter.ofPattern("yyyyMMddHHmmss")

  /** RRSIG presentation timestamp (YYYYMMDDHHmmSS, UTC) → epoch seconds. */
  def sigTimeToEpoch(ts: String): Long =
    LocalDateTime.parse(ts, tsFmt).toEpochSecond(ZoneOffset.UTC)

  /** The §3.1.8.1 signed data for an A rrset. */
  def signedData(domain: String, rdatas: Seq[String], origTtl: Long,
      expiration: Long, inception: Long, keyTag: Int): Array[Byte] = {
    val labels = domain.split("\\.").count(_.nonEmpty)
    rrsigPreSig(1, 8, labels, origTtl, expiration, inception, keyTag, domain) ++
      canonicalARrsetWire(domain, origTtl, rdatas)
  }

  def sign(data: Array[Byte], priv: PrivateKey): Array[Byte] = {
    val s = Signature.getInstance("SHA256withRSA")
    s.initSign(priv)
    s.update(data)
    s.sign()
  }

  def verify(data: Array[Byte], sig: Array[Byte], pub: PublicKey): Boolean =
    try {
      val s = Signature.getInstance("SHA256withRSA")
      s.initVerify(pub)
      s.update(data)
      s.verify(sig)
    } catch { case _: Exception => false } // malformed sig = invalid, not a crash

  /** Decode a DNSKEY public key: RFC 3110 wire material first (the format
    * [[SigningDnssecService]] emits), X.509 SPKI as a fallback so
    * externally-supplied fixtures in either encoding verify.
    */
  def decodePublic(b64: String): Option[PublicKey] = {
    val raw = try Base64.getDecoder.decode(b64) catch { case _: Exception => return None }
    decodeRfc3110(raw).orElse(
      try Some(KeyFactory.getInstance("RSA")
        .generatePublic(new X509EncodedKeySpec(raw)))
      catch { case _: Exception => None })
  }

  private def decodeRfc3110(raw: Array[Byte]): Option[PublicKey] =
    try {
      if (raw.length < 4) return None
      val (expLen, off) =
        if ((raw(0) & 0xff) != 0) (raw(0) & 0xff, 1)
        else (((raw(1) & 0xff) << 8) | (raw(2) & 0xff), 3)
      if (off + expLen >= raw.length) return None
      val e = new BigInteger(1, java.util.Arrays.copyOfRange(raw, off, off + expLen))
      val n = new BigInteger(1, java.util.Arrays.copyOfRange(raw, off + expLen, raw.length))
      // sanity: an SPKI blob mis-parsed as 3110 yields a tiny/absurd modulus
      if (n.bitLength < 512 || e.signum <= 0) None
      else Some(KeyFactory.getInstance("RSA").generatePublic(new RSAPublicKeySpec(n, e)))
    } catch { case _: Exception => None }
}

/** Serves a real zone key + real signature for signed zones (invalid
  * signature for bogus zones). See [[DnssecCrypto]].
  */
class SigningDnssecService(inner: graft.probes.ProbeService, seed: Long = 42L)
    extends graft.probes.ForwardingProbeService(inner) {
  import DnssecCrypto._

  @transient private lazy val kp = keyPair(seed)
  @transient private lazy val keyRdata = dnskeyRdata(257, 3, 8,
    rfc3110KeyBytes(kp.getPublic.asInstanceOf[RSAPublicKey]))
  @transient private lazy val tag = keyTag(keyRdata)
  @transient private lazy val pubB64 = Base64.getEncoder.encodeToString(
    rfc3110KeyBytes(kp.getPublic.asInstanceOf[RSAPublicKey]))

  private val expStr = "20270101000000"
  private val incStr = "20260101000000"

  override def dnskeyFor(domain: String): Seq[String] =
    inner.dnssecState(domain) match {
      case "unsigned" => Seq.empty
      // KSK flags 257, protocol 3, algorithm 8 = RSASHA256 (IANA);
      // key material in RFC 3110 encoding, so `tag` is the REAL key tag
      case _ => Seq(s"257 3 8 $pubB64")
    }

  override def rrsigFor(domain: String): Seq[String] =
    inner.dnssecState(domain) match {
      case "unsigned" => Seq.empty
      case state =>
        val labels = domain.split("\\.").count(_.nonEmpty)
        val data = signedData(domain, inner.aFor(domain), 3600L,
          sigTimeToEpoch(expStr), sigTimeToEpoch(incStr), tag)
        // bogus zones: signature exists but covers corrupted bytes
        if (state == "bogus" && data.nonEmpty) data(0) = (data(0) ^ 0x5a).toByte
        val sig = Base64.getEncoder.encodeToString(sign(data, kp.getPrivate))
        // presentation: type alg labels ttl expiry inception keytag signer sig
        Seq(s"A 8 $labels 3600 $expStr $incStr $tag $domain. $sig")
    }
}

/** Replaces the synthetic validity attribute with real verification —
  * `dnssecState` becomes a cryptographic verdict computed from the RRSIG
  * record's OWN fields (type/alg/labels/TTL/times/key tag/signer parsed
  * from the presentation, signed data rebuilt per RFC 4034 §3.1.8.1).
  * See [[DnssecCrypto]].
  */
class VerifyingDnssecService(inner: graft.probes.ProbeService)
    extends graft.probes.ForwardingProbeService(inner) {
  import DnssecCrypto._

  override def dnssecState(domain: String): String = {
    val keys = inner.dnskeyFor(domain)
    val sigs = inner.rrsigFor(domain)
    if (keys.isEmpty || sigs.isEmpty) return "unsigned"
    val verdicts = for {
      key <- keys.iterator
      keyB64 = key.trim.split("\\s+").drop(3).mkString("")
      pub <- decodePublic(keyB64).iterator
      sig <- sigs.iterator
      parts = sig.trim.split("\\s+")
      if parts.length >= 9
      // presentation fields: 0=type 1=alg 2=labels 3=origTtl 4=expiration
      // 5=inception 6=keytag 7=signer 8=signature
      raw <- (try Some(Base64.getDecoder.decode(parts(8))) catch {
        case _: Exception => None
      }).iterator
      data <- (try Some(signedData(
        parts(7).stripSuffix("."), inner.aFor(domain), parts(3).toLong,
        sigTimeToEpoch(parts(4)), sigTimeToEpoch(parts(5)), parts(6).toInt))
      catch { case _: Exception => None }).iterator
    } yield verify(data, raw, pub)
    if (verdicts.exists(identity)) "signed" else "bogus"
  }
}
