package graft

import java.nio.file.Files

import org.apache.spark.sql.Dataset
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Engine
import graft.model.Model._
import graft.ops.LinkOps
import graft.probes.ForwardingProbeService
import graft.universe.Universe

/** Decorator that plants absolute links into every served HTML body —
  * exercises the fromLinks discovery source through the pluggable probe
  * seam (the stock universe serves link-free pages).
  */
class LinkPlantingService(u: Universe) extends ForwardingProbeService(u) {
  override def webStep(host: String, ip: String, port: Int, hop: Int,
      path: String, wantBody: Boolean)
      : (Int, Option[String], Seq[(String, String)], Option[String], Boolean) = {
    val (st, loc, hdrs, body, bin) = super.webStep(host, ip, port, hop, path, wantBody)
    val planted = body.map(b =>
      b + s"""<a href="https://planted-link.cz/from/$host">partner</a>""")
    (st, loc, hdrs, planted, bin)
  }
}

class DiscoverySpec extends AnyFunSuite {

  private val spark = SparkSessionFixture.spark
  import spark.implicits._

  private val u = new Universe(42L)

  /** fromLinks needs materialized bodies (save_content; see
    * DiscoveryConfig scaladoc) — the reference library default is off.
    */
  private val contentCfg = graft.probes.CrawlConfig(saveContent = true)

  private def seedDocs(nDomains: Int): Dataset[Doc] = {
    val docs = (0 until nDomains).grouped(5).zipWithIndex.map {
      case (idxs, d) =>
        val spans = idxs.zipWithIndex.map { case (i, off) =>
          Span("text", u.seedDomain(i.toLong), null, off)
        }
        Doc(f"doc-$d%06d", spans)
    }
    spark.createDataset(docs.toSeq)
  }

  private def webOf(step: WebStep): WebObj =
    WebObj(Some(Seq(WebResult("192.0.2.1", 0, None, Some(step)))),
      None, None, None, None, None, None, None)

  private def step(url: String, content: Option[String] = None): WebStep =
    WebStep(url, Some(200), Some(false), Seq.empty, None, None, None, None,
      None, None, None, None, content, None, None, None)

  private def result(domain: String, mx: Seq[String] = Seq.empty,
      ns: Seq[String] = Seq.empty, web: WebObj): DomainResult = {
    val dl = DnsLocal(
      NS_AUTH = Option.when(ns.nonEmpty)(ns.map(DnsRecord(_))),
      MAIL = Option.when(mx.nonEmpty)(mx.map(DnsRecord(_))),
      WEB4 = None, WEB6 = None, WEB4_www = None, WEB6_www = None,
      WEB_TLSA = None, WEB_TLSA_www = None, TXT = None, TXT_SPF = None,
      TXT_DMARC = None, TXT_openid = None, DS = None, DNSKEY = None,
      DNSSEC = Dnssec(None, None, None, None))
    DomainResult(domain, "t", dl, None, None, web, None, HSTS = false)
  }

  // ------------------------------------------------- pure extraction

  test("discoveredHosts: redirect targets, MX hosts, content links; self and www-self excluded; cap and gates honored") {
    val r = result("shop.cz",
      mx = Seq("10 mail.shop.cz.", "20 mx0.mailhoster3.cz."),
      ns = Seq("ns1.bighoster.cz."),
      web = webOf(step("https://alt-shop.cz/x",
        Some("""<p><a href="https://partner.example.cz/a">x</a> http://www.shop.cz/self https://shop.cz/self</p>"""))))

    val cfg = Engine.DiscoveryConfig.on
    val hosts = Engine.discoveredHosts(r, "shop.cz", cfg)
    assert(hosts == Seq("mail.shop.cz", "mx0.mailhoster3.cz",
      "alt-shop.cz", "partner.example.cz"),
      s"got $hosts")

    // NS source is off by default; switching it on adds the nameserver
    val withNs = Engine.discoveredHosts(r, "shop.cz", cfg.copy(fromNs = true))
    assert(withNs.contains("ns1.bighoster.cz"))

    // gates: each source can be disabled independently
    assert(Engine.discoveredHosts(r, "shop.cz",
      cfg.copy(fromMx = false, fromLinks = false)) == Seq("alt-shop.cz"))
    assert(!Engine.discoveredHosts(r, "shop.cz",
      cfg.copy(fromRedirects = false)).contains("alt-shop.cz"))

    // cap
    assert(Engine.discoveredHosts(r, "shop.cz", cfg.copy(maxPerDomain = 2))
      == Seq("mail.shop.cz", "mx0.mailhoster3.cz"))
  }

  test("LinkOps twins agree: Column path and Scala path extract the same hosts") {
    val texts = Seq(
      "see https://wabc12.example.cz/a and HTTP://Mdef34.CZ:8080/p?x=1 dup https://wabc12.example.cz./b plain example.net",
      "x https://a.cz. y http://b-c.de/z",
      "no links at all",
      "")
    val fromCol = spark.createDataset(texts).toDF("t")
      .select(org.apache.spark.sql.functions.coalesce(
        LinkOps.extractedHosts(org.apache.spark.sql.functions.col("t")),
        org.apache.spark.sql.functions.typedlit(Seq.empty[String])))
      .as[Seq[String]].collect().toSeq
    assert(fromCol == texts.map(LinkOps.extractHosts))
    assert(fromCol.head == Seq("wabc12.example.cz", "mdef34.cz"))
  }

  // ---------------------------------------------------- end-to-end

  test("discovery crawl: found hosts enter later rounds exactly once, depth-capped, seen-set deduped") {
    val dir = graft.TmpDirs.create("disc-e2e").toString
    val svc = new LinkPlantingService(u)
    val eng = new Engine(spark, u, cfg = contentCfg, workDir = dir,
      frontierPartitions = 8, probeService = svc,
      discovery = Engine.DiscoveryConfig.on.copy(maxDepth = 1))
    val stats = eng.run(seedDocs(40))
    assert(stats.exists(_.discovered > 0), s"no discoveries in $stats")

    val domains = eng.resultsTable.read().get.select("domain")
      .as[String].collect().toSeq
    // exactly-once: the seen-set must dedup re-discoveries across rounds
    assert(domains.distinct.size == domains.size)
    // the planted link host is crawled (depth 1)
    assert(domains.contains("planted-link.cz"))
    // every domain beyond the seed set is a genuine discovery, and with
    // maxDepth=1 every discovery's parent is a seed
    val seeds = (0 until 40).map(i => graft.canon.Canon.canonicalize(u.seedDomain(i.toLong))).toSet
    val found = domains.filterNot(seeds)
    assert(found.nonEmpty)

    // depth cap: rerunning with maxDepth=2 in a fresh dir discovers a
    // superset (the depth-1 crawls themselves discover hosts)
    val dir2 = graft.TmpDirs.create("disc-e2e2").toString
    val eng2 = new Engine(spark, u, cfg = contentCfg, workDir = dir2,
      frontierPartitions = 8, probeService = svc,
      discovery = Engine.DiscoveryConfig.on.copy(maxDepth = 2))
    eng2.run(seedDocs(40))
    val domains2 = eng2.resultsTable.read().get.select("domain")
      .as[String].collect().toSeq
    assert(domains2.distinct.size == domains2.size)
    assert(domains.toSet.subsetOf(domains2.toSet))
    assert(domains2.size > domains.size,
      s"depth 2 should discover beyond depth 1 (${domains.size} vs ${domains2.size})")
  }

  // Seed chunks of 20 make round 2 admit fresh seeds, so a run resumed after
  // round 1 reads round 1's committed filter snapshots: as written
  // ("current"), or rewritten into the headerless dense layout of work dirs
  // written before snapshots were sized by occupancy ("legacy"). With
  // "legacy-results" the snapshots stay as written and round 1's results
  // delta is rewritten without the `depth` and `discovered` columns, as
  // work dirs written before results stored discovered hosts hold it.
  private def resumeRun(dir: String, resumeLayout: Option[String]): Seq[(String, Int, Long)] = {
    val svc = new LinkPlantingService(u)
    val mk = () => new Engine(spark, u, cfg = contentCfg, workDir = dir,
      frontierPartitions = 8, seedChunkSize = 20, probeService = svc,
      discovery = Engine.DiscoveryConfig.on.copy(maxDepth = 1))
    resumeLayout.foreach { layout =>
      mk().run(seedDocs(40), maxRounds = 1)
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(java.nio.file.Paths.get(dir, "filters"))
      val parts = try walk.iterator().asScala
        .filter(_.getFileName.toString.matches("part\\d+\\.bin")).toVector
        finally walk.close()
      assert(parts.nonEmpty, "round 1 wrote no filter snapshots")
      if (layout == "legacy") parts.foreach { f =>
        val filter = graft.frontier.CuckooFilter.deserialize(Files.readAllBytes(f))
        Files.write(f, graft.frontier.CuckooSnapshots.legacyBytes(filter))
      }
      if (layout == "legacy-results") {
        val v1 = java.nio.file.Paths.get(dir, "results", "data", "v1")
        val rewritten = java.nio.file.Paths.get(dir, "results-v1-without-hosts")
        spark.read.parquet(v1.toString).drop("depth", "discovered")
          .write.parquet(rewritten.toString)
        Files.move(v1, java.nio.file.Paths.get(dir, "results-v1-as-written"))
        Files.move(rewritten, v1)
        assert(!spark.read.parquet(v1.toString).columns.contains("discovered"))
      }
    }
    mk().run(seedDocs(40))
    new Engine(spark, u, workDir = dir, frontierPartitions = 8)
      .resultsTable.read().get.select("domain", "pop_round", "pop_rank")
      .as[(String, Int, Long)].collect().sortBy(r => (r._2, r._3)).toSeq
  }

  private lazy val fullDir = graft.TmpDirs.create("disc-full").toString
  private lazy val uninterrupted = resumeRun(fullDir, None)

  /** The span view over the results table under `dir`, one JSON document
    * per row, sorted.
    */
  private def spanDocs(dir: String): Seq[String] =
    graft.spans.SpanCodec.view(new Engine(spark, u, workDir = dir, frontierPartitions = 8)
      .resultsTable.read().get)
      .select(org.apache.spark.sql.functions.to_json(
        org.apache.spark.sql.functions.struct(org.apache.spark.sql.functions.col("*"))))
      .as[String].collect().sorted.toSeq

  test("discovery resume: stop after round 1, resume in a new engine — bit-identical to an uninterrupted run") {
    assert(uninterrupted.map(_._1).contains("planted-link.cz"))
    val resumed = resumeRun(graft.TmpDirs.create("disc-res").toString, Some("current"))
    assert(resumed == uninterrupted)
  }

  test("discovery resume from legacy-layout filter snapshots matches an uninterrupted run") {
    val resumed = resumeRun(graft.TmpDirs.create("disc-legacy-res").toString, Some("legacy"))
    assert(resumed == uninterrupted)
  }

  test("discovery resume over a results delta written without discovered hosts matches an uninterrupted run") {
    val dir = graft.TmpDirs.create("disc-oldresults-res").toString
    // resumeRun reads the whole results table back: the old delta unions
    // with the new ones
    assert(resumeRun(dir, Some("legacy-results")) == uninterrupted)
    assert(spanDocs(dir) == spanDocs(fullDir))
  }

  test("crash-mid-round resume: stale uncommitted filter snapshots are dropped, discovered hosts are not lost") {
    // The window: a crash AFTER the discovery pass materializes its
    // filter snapshots (filters/r{N}d) but BEFORE the round's backlog/
    // checkpoint commits. On resume, those stale snapshots would mark the
    // re-discovered hosts as already-seen even though they were never
    // committed to the backlog — permanently dropping them. Reproduced
    // exactly: run round 1 clean, then plant the control run's round-2
    // snapshot dirs (bit-identical to what the crashed attempt wrote,
    // since the pipeline is deterministic) without any round-2 commits.
    val svc = new LinkPlantingService(u)
    def mk(dir: String) = new Engine(spark, u, cfg = contentCfg, workDir = dir,
      frontierPartitions = 8, probeService = svc,
      discovery = Engine.DiscoveryConfig.on.copy(maxDepth = 2))
    def rows(dir: String): Seq[(String, Int, Long)] =
      new Engine(spark, u, workDir = dir, frontierPartitions = 8)
        .resultsTable.read().get.select("domain", "pop_round", "pop_rank")
        .as[(String, Int, Long)].collect().sortBy(r => (r._2, r._3)).toSeq

    val ctrl = graft.TmpDirs.create("crash-ctrl").toString
    mk(ctrl).run(seedDocs(40))
    val ctrlRows = rows(ctrl)
    // the control must have gone past round 2 with round-2 discoveries,
    // or the planted state wouldn't bite
    val r2d = java.nio.file.Paths.get(s"$ctrl/filters/r2d")
    assert(Files.isDirectory(r2d), "control run produced no round-2 discovery snapshots")
    assert(ctrlRows.exists(_._2 >= 3), "control run never crawled a round-3 (depth-2) host")

    val crashed = graft.TmpDirs.create("crash-res").toString
    mk(crashed).run(seedDocs(40), maxRounds = 1)
    // plant the crashed round-2 attempt's snapshot state
    for (name <- Seq("r2", "r2d")) {
      val src = java.nio.file.Paths.get(s"$ctrl/filters/$name")
      if (Files.isDirectory(src)) {
        val dst = java.nio.file.Paths.get(s"$crashed/filters/$name")
        Files.createDirectories(dst)
        val listing = Files.list(src)
        try {
          listing.forEach(f =>
            Files.copy(f, dst.resolve(f.getFileName.toString)))
        } finally listing.close()
      }
    }
    mk(crashed).run(seedDocs(40))
    assert(rows(crashed) == ctrlRows)
  }

  test("discovery off by default: stats report zero discoveries and only seeds are crawled") {
    val dir = graft.TmpDirs.create("disc-off").toString
    val eng = new Engine(spark, u, workDir = dir, frontierPartitions = 8,
      probeService = new LinkPlantingService(u))
    val stats = eng.run(seedDocs(30))
    assert(stats.forall(_.discovered == 0))
    val domains = eng.resultsTable.read().get.select("domain").as[String].collect().toSet
    val seeds = (0 until 30).map(i => graft.canon.Canon.canonicalize(u.seedDomain(i.toLong))).toSet
    assert(domains == seeds)
  }
}
