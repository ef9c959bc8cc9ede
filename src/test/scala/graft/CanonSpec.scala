package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.canon.Canon

class CanonSpec extends AnyFunSuite {

  test("trim, lowercase, strip one trailing dot") {
    assert(Canon.canonicalize("  Example.CZ  ") == "example.cz")
    assert(Canon.canonicalize("example.cz.") == "example.cz")
    assert(Canon.canonicalize("EXAMPLE.CZ.") == "example.cz")
    // only one trailing dot stripped; root stays root
    assert(Canon.canonicalize(".") == ".")
  }

  test("IDN names are punycode-encoded (reference web_utils.py:45-56)") {
    assert(Canon.canonicalize("háčkyčárky.cz") == "xn--hkyrky-ptac70bc.cz")
    assert(Canon.canonicalize("HÁČKYČÁRKY.CZ.") == "xn--hkyrky-ptac70bc.cz")
    // already-punycode passes through unchanged
    assert(Canon.canonicalize("xn--hkyrky-ptac70bc.cz") == "xn--hkyrky-ptac70bc.cz")
  }

  test("ascii domains are idempotent; garbage does not throw") {
    assert(Canon.canonicalize("nic.cz") == "nic.cz")
    assert(Canon.canonicalize("a b c") == Canon.canonicalize("a b c")) // stable
  }

  /** `raw` trimmed, lowercased and stripped of one trailing dot: the input
    * of the IDN step.
    */
  private def prepared(raw: String): String = {
    val s = raw.trim.toLowerCase(java.util.Locale.ROOT)
    if (s.endsWith(".") && s.length > 1) s.dropRight(1) else s
  }

  private def check(prop: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(2000), prop)
    assert(res.passed, res.status.toString)
  }

  private def name(label: Gen[String]): Gen[String] = for {
    labels <- Gen.choose(1, 4).flatMap(Gen.listOfN(_, label))
    dot <- Gen.oneOf("", ".", "..")
    pad <- Gen.oneOf("", " ", "\t")
  } yield pad + labels.mkString(".") + dot + pad

  private val asciiLabel: Gen[String] = Gen.frequency(
    4 -> Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf('-', '_', 'A', 'Z'))).map(_.mkString),
    1 -> Gen.const(""), // empty label
    1 -> Gen.choose(64, 90).flatMap(Gen.listOfN(_, Gen.alphaLowerChar)).map(_.mkString),
    1 -> Gen.alphaNumStr.map("xn--" + _),
    1 -> Gen.listOf(Gen.choose('\u0000', '\u007f')).map(_.mkString)) // control chars too

  test("property: on ASCII names the fast path equals the IDN path") {
    check(Prop.forAll(name(asciiLabel)) { raw =>
      val p = prepared(raw)
      Canon.canonicalize(raw) == p && Canon.idnToAscii(p) == p
    })
  }

  test("property: names with a non-ASCII character still go through IDN") {
    val label = Gen.listOf(Gen.oneOf(Gen.alphaLowerChar, Gen.oneOf('á', 'Č', 'ß', 'ž', '\u3002',
      '\u0130', '\u212a'))).map(_.mkString)
    check(Prop.forAll(name(label).suchThat(_.exists(_ >= '\u0080'))) { raw =>
      Canon.canonicalize(raw) == Canon.idnToAscii(prepared(raw))
    })
    // the IDN step is not a no-op on such names
    assert(Canon.canonicalize("Háčky.CZ").startsWith("xn--"))
  }

  test("is_global_ip predicate matches Python ipaddress.is_global (ip_utils.py:24-41)") {
    import graft.canon.IpPredicates.isGlobalIp
    // global
    assert(isGlobalIp("217.31.205.50"))
    assert(isGlobalIp("8.8.8.8"))
    assert(isGlobalIp("2001:1488:0:3::2"))
    // private / reserved / invalid
    assert(!isGlobalIp("10.1.2.3"))
    assert(!isGlobalIp("192.168.1.1"))
    assert(!isGlobalIp("172.20.0.1"))
    assert(!isGlobalIp("127.0.0.1"))
    assert(!isGlobalIp("169.254.10.10"))
    assert(!isGlobalIp("100.64.0.1"))
    assert(!isGlobalIp("198.51.100.7"))
    assert(!isGlobalIp("224.0.0.1"))
    assert(!isGlobalIp("256.1.1.1"))
    assert(!isGlobalIp("not-an-ip"))
    assert(!isGlobalIp("::1"))
    assert(!isGlobalIp("fe80::1"))
    assert(!isGlobalIp("fd12::3"))
    assert(!isGlobalIp("2001:db8:1:2::3")) // documentation range
    assert(!isGlobalIp(""))
  }

  test("is_global_ip works as a codegen'd column predicate") {
    val spark = SparkSessionFixture.spark
    import spark.implicits._
    val df = Seq("8.8.8.8", "10.0.0.1", "2001:db8::1", "217.31.205.50")
      .toDF("ip")
      .where(graft.canon.IpPredicates.isGlobalIpCol(
        org.apache.spark.sql.functions.col("ip")))
    assert(df.as[String].collect().sorted.toSeq == Seq("217.31.205.50", "8.8.8.8"))
  }

  test("expression works in a plan and keys duplicate variants together") {
    val spark = SparkSessionFixture.spark
    import spark.implicits._
    val df = Seq("NIC.cz", "nic.cz.", "  nic.cz ", "háčkyčárky.cz", "HÁČKYČÁRKY.CZ")
      .toDF("d")
      .select(Canon.canonicalizeDomainCol(org.apache.spark.sql.functions.col("d")).as("c"),
        Canon.domainKey(org.apache.spark.sql.functions.col("d")).as("k"))
    val rows = df.collect()
    assert(rows.take(3).map(_.getString(0)).toSet == Set("nic.cz"))
    assert(rows.takeRight(2).map(_.getString(0)).toSet == Set("xn--hkyrky-ptac70bc.cz"))
    // same canonical → same xxhash64 key
    assert(rows.take(3).map(_.getLong(1)).toSet.size == 1)
    assert(df.select("c").distinct().count() == 2)
  }

  test("canonicalizeUrl: RFC 3986 normalization subset, crawl-equivalents collapse") {
    val spark = SparkSessionFixture.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def canon(urls: String*): Seq[Option[String]] =
      urls.toDF("u").select(Canon.canonicalizeUrlCol(col("u")).as("c"))
        .collect().map(r => Option(r.getString(0))).toSeq

    // scheme/host case, default port, fragment, param sort — all collapse
    assert(canon(
      "HTTP://Example.CZ:80/a/b?b=2&a=1#frag",
      "http://example.cz/a/b?a=1&b=2",
      "http://example.cz./a/b#x?not-a-query",
      "https://example.cz:443/",
      "https://EXAMPLE.cz",
      "http://example.cz:8080/a",       // NON-default port survives
      "http://example.cz/a?a=1&a=1&b=&" // dup params kept, empties dropped
    ) == Seq(
      Some("http://example.cz/a/b?a=1&b=2"),
      Some("http://example.cz/a/b?a=1&b=2"),
      Some("http://example.cz/a/b"),    // '?' inside fragment is NOT a query
      Some("https://example.cz/"),
      Some("https://example.cz/"),      // empty path → "/"
      Some("http://example.cz:8080/a"),
      Some("http://example.cz/a?a=1&a=1&b=")))

    // IDN host rides the punycode expression
    assert(canon("http://HÁČKYČÁRKY.cz/x")
      == Seq(Some("http://xn--hkyrky-ptac70bc.cz/x")))
    // non-URLs are NULL, not junk keys
    assert(canon("not a url", "", "  ") == Seq(None, None, None))
    // path stays case-sensitive and dot-segments are NOT rewritten
    assert(canon("http://example.cz/A/../B")
      == Seq(Some("http://example.cz/A/../B")))

    // idempotent: canon(canon(u)) == canon(u)
    val once = "http://example.cz/a/b?a=1&b=2"
    assert(canon(once) == Seq(Some(once)))

    // urlKey: crawl-equivalent variants share one xxhash64 seen-key
    val keys = Seq("HTTP://Example.CZ:80/a?b=2&a=1#f", "http://example.cz/a?a=1&b=2")
      .toDF("u").select(Canon.urlKey(col("u")).as("k"))
      .collect().map(_.getLong(0)).toSet
    assert(keys.size == 1)
  }
}
