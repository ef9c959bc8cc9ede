package graft.probes

import java.util.concurrent.{Callable, ExecutorService, RejectedExecutionException, SynchronousQueue, ThreadPoolExecutor, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.AtomicLong

import graft.model.Model._

/** The pluggable network boundary of the crawl (T3/S-leaf seam).
  *
  * Everything above this trait — branch logic, gating, assembly, the JSON
  * shape — is deterministic [[Probes]] code; everything below it is what a
  * production deployment swaps for real sockets: a DNS resolver
  * (reference `dns_utils.py`), an HTTP session (`web_utils.py`), an SMTP
  * client (`mail_utils.py`). [[graft.universe.Universe]] is the
  * deterministic in-repo implementation.
  *
  * Contract notes for implementors:
  *  - DNS leaves return `Seq.empty` for NXDOMAIN/timeout (the reference's
  *    resolver returns no answer; [[Probes.resolve]] collapses to None).
  *  - `webStep` returns status 0 for a connect/read timeout —
  *    [[Probes.fetchWeb]] maps that to the reference's
  *    `{"error": "timeout"}` step (`web_utils.py:122-127`).
  *  - `geo`, `sourceAddress` and `hstsPreload` are *local* lookups (mmdb,
  *    getsockname, preload list) — they are not guarded by the job
  *    deadline wrapper.
  *  - Leaves need not be pure: the engine probes each selected domain
  *    once per round and stores what later stages need (the discovered
  *    hosts) with the result, so a socket-backed service is called once
  *    per domain per round, in the batch loop and in the committing streams.
  */
trait ProbeService extends Serializable {
  // ---- DNS leaves (dns_utils.py)
  def ttlFor(domain: String): Int
  def cnameFor(name: String): Option[String]
  def aFor(name: String): Seq[String]
  def aaaaFor(name: String): Seq[String]
  def nsFor(domain: String): Seq[String]
  def mxFor(domain: String): Seq[String]
  def txtFor(domain: String): Seq[String]
  def dsFor(domain: String): Seq[String]
  def dnskeyFor(domain: String): Seq[String]
  def tlsaFor(name: String): Seq[String]
  def dnssecState(domain: String): String
  def rrsigFor(domain: String): Seq[String]
  def additionalFor(domain: String, rrtype: String): Seq[String]
  def nsIps4(ns: String): Seq[String]
  def nsIps6(ns: String): Seq[String]
  def chaosTxt(ip: String, qname: String): ChaosTxt
  // ---- local annotate / worker-scope probes (ip_utils.py, geoip_utils.py)
  def geo(ip: String): GeoIp
  def sourceAddress(fam: Int, target: Option[String]): Option[String]
  def hstsPreload(domain: String): Boolean
  // ---- web leaves (web_utils.py, certificate.py)
  /** One fetch hop: (status, location, headers in ARRIVAL order, body,
    * isBinary). Headers are a seq, not a map — the reference preserves
    * network arrival order in its JSON output, and requests' dict merge
    * keeps names unique, so (name, value) pairs in order carry the wire
    * truth. `wantBody = false` (save_content off) tells the leaf the body
    * string will never be read: a real client streams the response away
    * without materializing it, the synthetic universe skips building it —
    * the binary sniff flag must still be returned either way.
    */
  def webStep(host: String, ip: String, port: Int, hop: Int, path: String,
      wantBody: Boolean = true)
      : (Int, Option[String], Seq[(String, String)], Option[String], Boolean)
  def tlsInfo(host: String, ip: String): (String, String)
  def certFor(host: String): Certificate
  def certChainFor(host: String): Seq[Certificate]
  // ---- mail leaves (mail_utils.py)
  def mailBanner(ip: String, port: Int): MailBanner
}

/** Delegating base for [[ProbeService]] decorators (rate limiters,
  * metrics, fault injection, the spec's slow-leaf fakes): override only
  * the leaves you change.
  */
class ForwardingProbeService(protected val inner: ProbeService) extends ProbeService {
  def ttlFor(domain: String): Int = inner.ttlFor(domain)
  def cnameFor(name: String): Option[String] = inner.cnameFor(name)
  def aFor(name: String): Seq[String] = inner.aFor(name)
  def aaaaFor(name: String): Seq[String] = inner.aaaaFor(name)
  def nsFor(domain: String): Seq[String] = inner.nsFor(domain)
  def mxFor(domain: String): Seq[String] = inner.mxFor(domain)
  def txtFor(domain: String): Seq[String] = inner.txtFor(domain)
  def dsFor(domain: String): Seq[String] = inner.dsFor(domain)
  def dnskeyFor(domain: String): Seq[String] = inner.dnskeyFor(domain)
  def tlsaFor(name: String): Seq[String] = inner.tlsaFor(name)
  def dnssecState(domain: String): String = inner.dnssecState(domain)
  def rrsigFor(domain: String): Seq[String] = inner.rrsigFor(domain)
  def additionalFor(domain: String, rrtype: String): Seq[String] =
    inner.additionalFor(domain, rrtype)
  def nsIps4(ns: String): Seq[String] = inner.nsIps4(ns)
  def nsIps6(ns: String): Seq[String] = inner.nsIps6(ns)
  def chaosTxt(ip: String, qname: String): ChaosTxt = inner.chaosTxt(ip, qname)
  def geo(ip: String): GeoIp = inner.geo(ip)
  def sourceAddress(fam: Int, target: Option[String]): Option[String] =
    inner.sourceAddress(fam, target)
  def hstsPreload(domain: String): Boolean = inner.hstsPreload(domain)
  override def webStep(host: String, ip: String, port: Int, hop: Int,
      path: String, wantBody: Boolean)
      : (Int, Option[String], Seq[(String, String)], Option[String], Boolean) =
    inner.webStep(host, ip, port, hop, path, wantBody)
  def tlsInfo(host: String, ip: String): (String, String) = inner.tlsInfo(host, ip)
  def certFor(host: String): Certificate = inner.certFor(host)
  def certChainFor(host: String): Seq[Certificate] = inner.certChainFor(host)
  def mailBanner(ip: String, port: Int): MailBanner = inner.mailBanner(ip, port)
}

/** Injectable monotonic clock so the deadline is testable without sleeping
  * 80 s of wall time.
  */
trait ProbeClock extends Serializable { def nanos(): Long }
object ProbeClock {
  val system: ProbeClock = new ProbeClock {
    def nanos(): Long = System.nanoTime()
  }
}

/** Enforces the per-domain job deadline (T3, reference `config.yml:19`
  * `job_timeout: 80`; the controller kills an over-budget RQ job,
  * `controller.py:60`) at the probe-leaf boundary.
  *
  * Semantics: [[Probes.processDomain]] calls [[startJob]] once per domain;
  * every *network* leaf first checks the budget. Once expired, each leaf
  * returns its timeout shape — empty DNS answers, `webStep` status 0
  * (→ the reference's `{"error": "timeout"}` step), `mailBanner`/`chaosTxt`
  * error `"timeout"`, `dnssecState` `"timeout"` — so the domain completes
  * with the same partial-result-with-timeout-errors document a killed
  * reference worker's last write would show, instead of running without
  * bound. Local lookups (`geo`, `sourceAddress`, `hstsPreload`) pass
  * through unguarded, as do `tlsInfo`/`certFor` (connection-attached
  * metadata of an already-completed `webStep` in a real client).
  *
  * Two enforcement modes:
  *  - cooperative (default): the budget is checked *before* each leaf call
  *    at the cost of one clock read (~20 ns); a leaf that returns late
  *    trips the guard for all later leaves, bounding the domain at
  *    budget + one leaf. Deterministic whenever leaves are instant (the
  *    in-repo Universe), which keeps every oracle/spec result identical.
  *  - hard (`hardLeafTimeouts = true`): each leaf runs on a daemon worker
  *    thread with a timed wait capped at the remaining budget; on timeout
  *    the leaf is interrupted and the timeout shape returned, so even a
  *    leaf that hangs forever (a dead resolver, a black-holed TCP connect)
  *    cannot exceed the budget. This is the production mode for real
  *    socket-backed [[ProbeService]]s; it costs a thread hop per leaf, so
  *    it is off for the deterministic in-memory universe.
  */
final class DeadlineProbeService(
    inner: ProbeService,
    budgetNanos: Long,
    clock: ProbeClock = ProbeClock.system,
    hardLeafTimeouts: Boolean = false,
    leafPool: Option[ExecutorService] = None) extends ProbeService {
  require(budgetNanos > 0, "DeadlineProbeService: budget must be positive")

  @volatile private[this] var jobStart: Long = clock.nanos()

  /** Reset the budget — called once per domain by [[Probes.processDomain]]. */
  def startJob(): Unit = jobStart = clock.nanos()

  def expired: Boolean = clock.nanos() - jobStart >= budgetNanos
  def remainingNanos: Long =
    math.max(0L, budgetNanos - (clock.nanos() - jobStart))

  // Hard-mode leaves run on the JVM-shared BOUNDED daemon pool
  // (companion): a per-instance single-thread executor would leak one
  // never-shutdown thread per Probes instance per task in a long-lived
  // executor JVM. The bound matters for poisoned threads — a leaf that
  // ignores its interrupt (a socket read stuck in native code) is
  // abandoned and its thread stays occupied; an UNbounded cached pool
  // would grow one thread per such leaf without limit. Idle (healthy)
  // threads retire after 60 s. Tests can inject their own pool.
  private def leafExec: ExecutorService =
    leafPool.getOrElse(DeadlineProbeService.sharedLeafExec)

  /** Hard-mode leaf execution with a timed interrupt. Only reached when
    * `hardLeafTimeouts` — the cooperative fast path below branches without
    * allocating (a by-name `guard(shape)(leaf)` helper would box two
    * thunks per leaf call, ~100+ calls/domain of pure churn on the probe
    * stage's allocation ceiling).
    *
    * Pool saturation (every thread occupied — only possible when ≥bound
    * leaves have ignored their interrupts) is treated as an immediate
    * leaf timeout: by then the JVM is already degraded by that many hung
    * native calls, and returning the timeout shape keeps the probe stage
    * moving (domains complete with timeout-error fields, the reference's
    * killed-worker shape) instead of queuing unboundedly behind dead
    * sockets.
    */
  private def hardCall[A](timeoutShape: A, leaf: Callable[A]): A = {
    val fut =
      try leafExec.submit(leaf)
      catch { case _: RejectedExecutionException => return timeoutShape }
    try fut.get(remainingNanos, TimeUnit.NANOSECONDS)
    catch {
      case _: TimeoutException => fut.cancel(true); timeoutShape
      case e: java.util.concurrent.ExecutionException => throw e.getCause
    }
  }

  @inline private def soft: Boolean = !hardLeafTimeouts

  // DNS: timeout → no answer (Probes.resolve collapses empty → None)
  def ttlFor(domain: String): Int =
    if (expired) 0 else if (soft) inner.ttlFor(domain)
    else hardCall(0, () => inner.ttlFor(domain))
  def cnameFor(name: String): Option[String] =
    if (expired) None else if (soft) inner.cnameFor(name)
    else hardCall(Option.empty[String], () => inner.cnameFor(name))
  def aFor(name: String): Seq[String] =
    if (expired) Seq.empty else if (soft) inner.aFor(name)
    else hardCall(Seq.empty[String], () => inner.aFor(name))
  def aaaaFor(name: String): Seq[String] =
    if (expired) Seq.empty else if (soft) inner.aaaaFor(name)
    else hardCall(Seq.empty[String], () => inner.aaaaFor(name))
  def nsFor(domain: String): Seq[String] =
    if (expired) Seq.empty else if (soft) inner.nsFor(domain)
    else hardCall(Seq.empty[String], () => inner.nsFor(domain))
  def mxFor(domain: String): Seq[String] =
    if (expired) Seq.empty else if (soft) inner.mxFor(domain)
    else hardCall(Seq.empty[String], () => inner.mxFor(domain))
  def txtFor(domain: String): Seq[String] =
    if (expired) Seq.empty else if (soft) inner.txtFor(domain)
    else hardCall(Seq.empty[String], () => inner.txtFor(domain))
  def dsFor(domain: String): Seq[String] =
    if (expired) Seq.empty else if (soft) inner.dsFor(domain)
    else hardCall(Seq.empty[String], () => inner.dsFor(domain))
  def dnskeyFor(domain: String): Seq[String] =
    if (expired) Seq.empty else if (soft) inner.dnskeyFor(domain)
    else hardCall(Seq.empty[String], () => inner.dnskeyFor(domain))
  def tlsaFor(name: String): Seq[String] =
    if (expired) Seq.empty else if (soft) inner.tlsaFor(name)
    else hardCall(Seq.empty[String], () => inner.tlsaFor(name))
  def dnssecState(domain: String): String =
    if (expired) "timeout" else if (soft) inner.dnssecState(domain)
    else hardCall("timeout", () => inner.dnssecState(domain))
  def rrsigFor(domain: String): Seq[String] =
    if (expired) Seq.empty else if (soft) inner.rrsigFor(domain)
    else hardCall(Seq.empty[String], () => inner.rrsigFor(domain))
  def additionalFor(domain: String, rrtype: String): Seq[String] =
    if (expired) Seq.empty else if (soft) inner.additionalFor(domain, rrtype)
    else hardCall(Seq.empty[String], () => inner.additionalFor(domain, rrtype))
  def nsIps4(ns: String): Seq[String] =
    if (expired) Seq.empty else if (soft) inner.nsIps4(ns)
    else hardCall(Seq.empty[String], () => inner.nsIps4(ns))
  def nsIps6(ns: String): Seq[String] =
    if (expired) Seq.empty else if (soft) inner.nsIps6(ns)
    else hardCall(Seq.empty[String], () => inner.nsIps6(ns))
  def chaosTxt(ip: String, qname: String): ChaosTxt =
    if (expired) DeadlineProbeService.chaosTimeout
    else if (soft) inner.chaosTxt(ip, qname)
    else hardCall(DeadlineProbeService.chaosTimeout, () => inner.chaosTxt(ip, qname))

  // local lookups: unguarded
  def geo(ip: String): GeoIp = inner.geo(ip)
  def sourceAddress(fam: Int, target: Option[String]): Option[String] =
    inner.sourceAddress(fam, target)
  def hstsPreload(domain: String): Boolean = inner.hstsPreload(domain)

  // web: status 0 is the fetch-timeout sentinel Probes.fetchWeb maps to
  // the reference's {"error": "timeout"} step
  override def webStep(host: String, ip: String, port: Int, hop: Int,
      path: String, wantBody: Boolean)
      : (Int, Option[String], Seq[(String, String)], Option[String], Boolean) =
    if (expired) DeadlineProbeService.webTimeout
    else if (soft) inner.webStep(host, ip, port, hop, path, wantBody)
    else hardCall(DeadlineProbeService.webTimeout,
      () => inner.webStep(host, ip, port, hop, path, wantBody))
  def tlsInfo(host: String, ip: String): (String, String) = inner.tlsInfo(host, ip)
  def certFor(host: String): Certificate = inner.certFor(host)
  def certChainFor(host: String): Seq[Certificate] = inner.certChainFor(host)

  def mailBanner(ip: String, port: Int): MailBanner =
    if (expired) DeadlineProbeService.bannerTimeout
    else if (soft) inner.mailBanner(ip, port)
    else hardCall(DeadlineProbeService.bannerTimeout, () => inner.mailBanner(ip, port))
}

object DeadlineProbeService {
  // interned timeout shapes — one instance ever, not one per expired leaf
  private val chaosTimeout = ChaosTxt(None, Some("timeout"))
  private val bannerTimeout = MailBanner(None, Some("timeout"))
  private val webTimeout: (Int, Option[String], Seq[(String, String)], Option[String], Boolean) =
    (0, None, Seq.empty, None, false)

  // JVM-shared daemon pool for hard-mode leaves (see leafExec above).
  // Bounded so interrupt-ignoring (poisoned) leaves cannot grow threads
  // without limit: 4 threads per core floors at 64 — enough for every
  // Spark task slot to have concurrent in-flight leaves, small enough
  // that a poisoned-thread pile-up degrades to fast leaf timeouts long
  // before the JVM exhausts native threads.
  private lazy val sharedLeafExec: ExecutorService =
    boundedLeafPool(math.max(64, Runtime.getRuntime.availableProcessors * 4))

  /** Bounded leaf pool: 0 core threads, `maxThreads` cap, direct handoff
    * (no queue — a leaf either gets a thread now or is rejected, which
    * [[DeadlineProbeService.hardCall]] maps to the leaf's timeout shape).
    * Queuing would be wrong here: a queued leaf's deadline keeps running
    * while it waits, so it would burn budget doing nothing.
    */
  private[graft] def boundedLeafPool(maxThreads: Int): ExecutorService = {
    val seq = new AtomicLong
    new ThreadPoolExecutor(0, maxThreads, 60L, TimeUnit.SECONDS,
      new SynchronousQueue[Runnable](), { (r: Runnable) =>
        val t = new Thread(r, s"graft-probe-leaf-${seq.getAndIncrement()}")
        t.setDaemon(true)
        t
      })
  }
}
