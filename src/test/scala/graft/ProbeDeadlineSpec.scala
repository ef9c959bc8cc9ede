package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.model.Model._
import graft.probes._
import graft.spans.JsonSink
import graft.universe.Universe

/** T3 — the per-domain job deadline (reference `config.yml:19`
  * `job_timeout: 80`; `controller.py:60` kills over-budget jobs), enforced
  * at the [[ProbeService]] leaf boundary by [[DeadlineProbeService]].
  */
class ProbeDeadlineSpec extends AnyFunSuite {

  private val u = new Universe(7L)

  /** Deterministic fake time, advanced by the slow-leaf fakes. */
  private final class FakeClock(var t: Long = 0L) extends ProbeClock {
    def nanos(): Long = t
    def advanceSeconds(s: Long): Unit = t += s * 1000000000L
  }

  test("instant leaves: enabled deadline changes nothing (default path)") {
    val d = "nic.cz"
    val on = new Probes(u, CrawlConfig()) // jobTimeoutSeconds = 80
    val off = new Probes(u, CrawlConfig(jobTimeoutSeconds = 0))
    assert(JsonSink.toJson(on.processDomain(d, "t"), on.cfg) ==
      JsonSink.toJson(off.processDomain(d, "t"), off.cfg))
  }

  test("cooperative: a slow DNS leaf trips the budget; later leaves return " +
      "timeout shapes; run is deterministic") {
    val clock = new FakeClock()
    // every TXT lookup "takes" 50 fake seconds — the second one crosses an
    // 80 s budget, so everything after it must carry the timeout shape
    val slow = new ForwardingProbeService(u) {
      override def txtFor(domain: String): Seq[String] = {
        clock.advanceSeconds(50); inner.txtFor(domain)
      }
    }
    def run(): DomainResult =
      new Probes(slow, CrawlConfig(), clock).processDomain("nic.cz", "t")
    val r = run()
    // getDnsLocal resolves TXT first (50 s in), then _dmarc TXT — which
    // starts inside budget and *returns* at 100 s, past it (cooperative
    // semantics: the crossing leaf completes; everything after sees the
    // tripped guard and gets the timeout shape)
    assert(r.DNS_LOCAL.TXT.isDefined)       // before expiry: real answer
    assert(r.DNS_LOCAL.TXT_openid.isEmpty)  // first leaf after the crossing
    assert(r.DNS_LOCAL.DS.isEmpty)
    assert(r.DNS_LOCAL.DNSSEC == Dnssec(None, None, Some("timeout"), None))
    assert(r.DNS_AUTH.isEmpty)             // NS resolve after expiry → None
    assert(r.WEB.WEB4_80.isEmpty)          // A-records gone → no web combos
    // deterministic: identical fake time-line → identical document
    val clock2 = new FakeClock()
    val slow2 = new ForwardingProbeService(u) {
      override def txtFor(domain: String): Seq[String] = {
        clock2.advanceSeconds(50); inner.txtFor(domain)
      }
    }
    val r2 = new Probes(slow2, CrawlConfig(), clock2).processDomain("nic.cz", "t")
    assert(JsonSink.toJson(r, CrawlConfig()) == JsonSink.toJson(r2, CrawlConfig()))
  }

  test("cooperative: budget re-arms per domain") {
    val clock = new FakeClock()
    val slow = new ForwardingProbeService(u) {
      override def txtFor(domain: String): Seq[String] = {
        clock.advanceSeconds(50); inner.txtFor(domain)
      }
    }
    val p = new Probes(slow, CrawlConfig(), clock)
    assert(p.processDomain("nic.cz", "t").DNS_AUTH.isEmpty) // expired mid-domain
    // next domain starts a fresh 80 s budget: without the re-arm, the guard
    // (tripped 100 fake-seconds into domain 1) would blank even the first
    // TXT of domain 2; with it, the first TXT lands inside the new budget
    // (nic.cz again — a domain test 2 already shows has real TXT records)
    val r2 = p.processDomain("nic.cz", "t")
    assert(r2.DNS_LOCAL.TXT.isDefined)
  }

  test("cooperative: a timeout of a domain whose budget ran out is not " +
      "served from the NS-IP cache to a later domain") {
    // two domains on the same nameservers, which have an IPv4 address
    def nsIps(auth: Option[Seq[NsAuth]]): Seq[NsIp] =
      auth.toSeq.flatten.flatMap(a => a.ipv4.toSeq.flatten ++ a.ipv6.toSeq.flatten)
    val (a, b) = (0L until 500L).map(i => graft.canon.Canon.canonicalize(u.seedDomain(i)))
      .distinct.filter(d => u.nsFor(d).flatMap(u.nsIps4).nonEmpty)
      .groupBy(d => u.nsFor(d).sorted).values.find(_.size >= 2)
      .map(ds => (ds(0), ds(1))).getOrElse(fail("no two domains share nameservers"))
    val clock = new FakeClock()
    // while domain A is probed, every CHAOS query "takes" the whole 80 s
    // budget: A's first NS IP answers its first record in budget and
    // times out on the second
    var slowChaos = true
    val svc = new ForwardingProbeService(u) {
      override def chaosTxt(ip: String, qname: String): ChaosTxt = {
        if (slowChaos) clock.advanceSeconds(80)
        inner.chaosTxt(ip, qname)
      }
    }
    val p = new Probes(svc, CrawlConfig(), clock)
    val timedOut = nsIps(p.processDomain(a, "t").DNS_AUTH)
      .filter(_.chaos.exists(_.txt.error.contains("timeout"))).map(_.ip)
    assert(timedOut.nonEmpty, s"$a never tripped its budget on an NS IP")
    slowChaos = false
    val rb = p.processDomain(b, "t")
    assert(nsIps(rb.DNS_AUTH).map(_.ip).exists(timedOut.contains),
      s"$b shares no timed-out NS IP with $a")
    assert(rb == new Probes(svc, CrawlConfig(), clock).processDomain(b, "t"))
  }

  test("hard mode: a leaf that hangs past the budget is interrupted and the " +
      "web step carries the reference timeout error, within wall budget") {
    val hang = new ForwardingProbeService(u) {
      override def webStep(host: String, ip: String, port: Int, hop: Int,
          path: String, wantBody: Boolean) = {
        Thread.sleep(30000) // would blow way past the 1 s budget
        inner.webStep(host, ip, port, hop, path, wantBody)
      }
    }
    val p = new Probes(hang, CrawlConfig(jobTimeoutSeconds = 1),
      ProbeClock.system, hardLeafTimeouts = true)
    val t0 = System.nanoTime()
    val r = p.processDomain("nic.cz", "t")
    val elapsedSec = (System.nanoTime() - t0) / 1e9
    // one hanging leaf is cut at the remaining budget; everything after
    // short-circuits, so the whole domain lands well under the hang time
    assert(elapsedSec < 10.0, s"took $elapsedSec s")
    val steps = r.WEB.WEB4_80.get.head.steps.get
    assert(steps.head.error.contains("timeout")) // web_utils.py:122-127 shape
    assert(steps.head.status.isEmpty)
  }

  test("hard mode: a saturated (poisoned) leaf pool degrades to immediate " +
      "timeout shapes and recovers when the hung leaves unstick") {
    val gate = new java.util.concurrent.CountDownLatch(1)
    // a leaf stuck in native code: ignores its interrupt and stays on the
    // pool thread until the (external) condition clears
    val hang = new ForwardingProbeService(u) {
      override def aFor(name: String): Seq[String] = {
        while (gate.getCount > 0) {
          try gate.await()
          catch { case _: InterruptedException => () }
        }
        inner.aFor(name)
      }
    }
    val pool = DeadlineProbeService.boundedLeafPool(2)
    try {
      val svc = new DeadlineProbeService(hang, 500L * 1000000L,
        ProbeClock.system, hardLeafTimeouts = true, Some(pool))
      // poison both threads: each call burns its budget, is interrupted,
      // and leaves an interrupt-ignoring thread occupying a pool slot
      svc.startJob(); assert(svc.aFor("a.example") == Seq.empty)
      svc.startJob(); assert(svc.aFor("b.example") == Seq.empty)
      // the pool is at its bound: the next leaf is REJECTED at submit and
      // maps to the timeout shape immediately — it must not wait out the
      // budget queued behind dead sockets
      svc.startJob()
      val t0 = System.nanoTime()
      assert(svc.aFor("c.example") == Seq.empty)
      assert((System.nanoTime() - t0) / 1e6 < 250.0,
        "rejected leaf must return its timeout shape without burning budget")
      // unstick the native calls: occupied threads finish, the pool frees,
      // and real answers flow again
      gate.countDown()
      val deadline = System.nanoTime() + 5000L * 1000000L
      var got: Seq[String] = Seq.empty
      while (got.isEmpty && System.nanoTime() < deadline) {
        svc.startJob()
        got = svc.aFor("nic.cz")
        if (got.isEmpty) Thread.sleep(20)
      }
      assert(got.nonEmpty, "pool must recover once hung leaves finish")
    } finally {
      gate.countDown()
      pool.shutdownNow()
    }
  }

  test("jobTimeoutSeconds = 0 disables the wrapper entirely") {
    val p = new Probes(u, CrawlConfig(jobTimeoutSeconds = 0))
    assert(p.u eq u) // no DeadlineProbeService in the path
  }

  test("engine scope: hard-mode deadlines bound a full Engine.run against a fault-injected leaf; the non-timed-out subset is bit-identical to a clean run") {
    val spark = SparkSessionFixture.spark
    import spark.implicits._
    import graft.model.Model.{Doc, Span}
    val uE = new Universe(42L)
    val seeds = (0 until 40).map(i => uE.seedDomain(i.toLong))
    val canonical = seeds.map(graft.canon.Canon.canonicalize).distinct
    // seeded fault plan: 3 domains get a black-holed first web connect
    // (sleeps far past the budget); every other host gets a small seeded
    // jitter (≤ 2 ms — never trips the 1 s budget across a domain's ~45
    // web steps) so the run exercises real wall-clock variance
    val hung = canonical.filter(d => uE.aFor(d).nonEmpty) // must have a web combo to hang
      .sortBy(d => graft.ops.TextOps.hashToken(d) ^ 0xfa1L)
      .take(3).toSet
    class FaultService extends ForwardingProbeService(uE) {
      override def webStep(host: String, ip: String, port: Int, hop: Int,
          path: String, wantBody: Boolean)
          : (Int, Option[String], Seq[(String, String)], Option[String], Boolean) = {
        if (hung.contains(host) && hop == 0 && port == 80)
          Thread.sleep(120000) // hangs until the hard interrupt fires
        else
          Thread.sleep(Math.floorMod(graft.ops.TextOps.hashToken(host + port), 3L))
        super.webStep(host, ip, port, hop, path, wantBody)
      }
    }
    val docs: org.apache.spark.sql.Dataset[Doc] = spark.createDataset(
      seeds.zipWithIndex.map { case (d, i) =>
        Doc(f"doc-$i%04d", Seq(Span("text", d, null, 0)))
      })
    val cfg = CrawlConfig(jobTimeoutSeconds = 1, hardLeafTimeouts = true)
    def jsonByDomain(workDir: String, svc: graft.probes.ProbeService)
        : (Map[String, String], Seq[graft.engine.Engine.RoundStats]) = {
      val eng = new graft.engine.Engine(spark, uE, cfg = cfg,
        workDir = workDir, frontierPartitions = 8, probeService = svc)
      val stats = eng.run(docs)
      val rows = eng.resultsTable.read().get.select("result.*")
        .as[graft.model.Model.DomainResult].collect()
        .map(r => r.domain -> JsonSink.toJson(r, cfg)).toMap
      (rows, stats)
    }
    val t0 = System.nanoTime()
    val (faulted, stats) = jsonByDomain(
      graft.TmpDirs.create("dl-fault").toString, new FaultService)
    val wallSec = (System.nanoTime() - t0) / 1e9
    // bounded: 3 hung domains × 1 s budget in parallel + normal crawl —
    // nowhere near the 360 s an unbounded run would sleep. The ceilings
    // are deliberately loose (the discriminator is O(seconds) vs the
    // 360+ s unbounded case): under full-suite CPU contention a round's
    // wall time can stretch severalfold, and a tight bound flakes.
    assert(stats.forall(_.seconds < 150), s"round over budget: $stats")
    assert(wallSec < 300, s"wall $wallSec s — hard deadline did not bound the hang")
    // every selected domain still completes with a document
    assert(faulted.keySet == canonical.toSet)
    // hung domains carry the reference's timeout step shape
    hung.foreach { d =>
      assert(faulted(d).contains("\"error\":\"timeout\""), s"$d missing timeout shape")
    }
    // determinism of the non-timed-out subset: identical to a clean run
    // (jitter changes timing, never values; the fixed clock stamps)
    val (clean, _) = jsonByDomain(
      graft.TmpDirs.create("dl-clean").toString, uE)
    (canonical.toSet -- hung).foreach { d =>
      assert(faulted(d) == clean(d), s"non-timed-out $d diverged")
    }
  }
}
