package graft.engine

import java.nio.file.{Files, Paths}

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.canon.Canon
import graft.frontier.{CuckooFilter, FrontierHeap, PolicyCache}
import graft.model.Model._
import graft.ops.LinkOps
import graft.probes.{CrawlConfig, ProbeService, Probes}
import graft.spans.SpanCodec
import graft.tables.SnapTable
import graft.universe.Universe

/** The Spark-native crawl engine (north rule): typed Dataset pipeline over
  * Iceberg-shaped tables of interleaved docs, with
  *
  *   - canonicalize → punycode → xxHash64 admission (Catalyst expressions:
  *     [[graft.canon.CanonicalizeDomain]] + built-in `xxhash64`),
  *   - a partitioned [[CuckooFilter]] domain-seen set co-partitioned with
  *     the frontier (`pmod(key, P)`), checked and updated distributed —
  *     never collected as raw keys,
  *   - per-nameserver-bucket politeness budgets (token budget per round
  *     from the zone-policy cache) with deterministic pop order
  *     `(round, nsBucket, ttlPriority, seq)` — a pure function of the seed
  *     list + budgets, independent of partition count (the N vs 4N
  *     ordering-equality criterion),
  *   - salted repartitioning of the probe stage to break hot-provider skew
  *     (reference has no skew handling — its Redis queue hashes by domain;
  *     here hot buckets are split `saltsForHotBucket` ways and probes of
  *     one provider spread over executors),
  *   - dedup-probe-join for shared nameserver IPs (the Redis probe cache
  *     of `dns_utils.py:235-253` as `dropDuplicates` → probe once → join
  *     back),
  *   - MERGE-committed results / span / checkpoint tables with
  *     per-partition lineage (partition id, offset watermark, seen-filter
  *     snapshot ref, fetch counters) enabling bit-identical resume.
  *
  * Where the reference runs Redis/RQ + forked workers
  * (`controller.py` / `workers.py`), this engine is one declarative plan
  * per round; Spark's shuffle replaces the queue, Tungsten replaces pickle.
  */
object Engine {
  /** One row of the results table. */
  case class ResultRow(domain: String, pop_round: Int, pop_rank: Long, result: DomainResult)
  /** One row of the streaming crawl's results table (no pop order). */
  case class StreamResultRow(domain: String, result: DomainResult)
  case class BacklogRow(domain: String, canonical: String, key: Long,
      nsBucket: Int, priority: Int, seq: Long, depth: Int, active: Boolean)
  case class NsIpRef(domain: String, nsIdx: Int, ns: String,
      fam: Int, ipIdx: Int, ip: String)
  case class RoundStats(round: Int, admitted: Long, crawled: Long,
      deferred: Long, seconds: Double, discovered: Long = 0L,
      /** Wall seconds per loop phase (seed/admit/filter_refs/budgets/
        * select/crawl_plan/commit_results/commit_spans/discover/
        * commit_backlog/commit_count/commit_ckpt/compact) — frontier
        * rounds are latency-bound on fixed per-round costs at
        * politeness-bounded sizes, so the breakdown is first-class
        * observability, not debug output. `crawl_plan` builds the probe
        * stage (salt counts, range bounds, the layout shuffle); the probes
        * themselves land inside the commit phases (each commit is a
        * separate pass over them).
        */
      phases: Map[String, Double] = Map.empty)

  /** Frontier discovery: hosts found while crawling re-enter the frontier
    * through the same canonicalize → punycode → xxhash64 → cuckoo-seen-set
    * admission as seeds (north rule: a URL-frontier, not a fixed list —
    * the reference crawler never grows its list, this engine optionally
    * does). Off by default so reference output stays byte-comparable.
    *
    * `maxDepth` is the termination guarantee: the universe (like the web)
    * contains unbounded host chains (mail0.mail0.…), so discovery without
    * a depth cap never drains. `maxPerDomain` bounds per-result frontier
    * growth the way `max_ips_per_domain` bounds probe fan-out.
    */
  case class DiscoveryConfig(
      enabled: Boolean = false,
      fromRedirects: Boolean = true,
      fromMx: Boolean = true,
      fromNs: Boolean = false,
      /** Links require a materialized body: discovery reads the assembled
        * result rows, so with `save_content` off (the reference library
        * default) the leaves never build the body string and there is
        * nothing to extract — enable `saveContent` (or a future inline
        * extract-at-fetch leaf) to use this source.
        */
      fromLinks: Boolean = true,
      maxPerDomain: Int = 16,
      maxDepth: Int = 2)
  object DiscoveryConfig {
    val off: DiscoveryConfig = DiscoveryConfig()
    val on: DiscoveryConfig = DiscoveryConfig(enabled = true)
  }

  /** Engine timestamp source (F18). The reference stamps wall-clock UTC
    * per domain (`timestamp.py:22-23`, `crawl.py:167`); determinism —
    * resume bit-equality, the N-vs-4N ordering digests, the oracle
    * scoreboard — needs a fixed stamp, so [[Clock.fixed]] is the default
    * and wall time is opt-in (library: `clock = Engine.Clock.utcWall`;
    * CLI: `--real-timestamps`). A non-deterministic clock, exactly like a
    * non-deterministic [[graft.probes.ProbeService]], disables the
    * multi-pass probe consumption: each round's results persist once so
    * every commit pass carries identical stamps.
    */
  trait Clock extends Serializable {
    /** Same contract as `ProbeService.deterministic`: `true` promises
      * `now()` is a constant for the lifetime of a run.
      */
    def deterministic: Boolean
    def now(): String
  }
  object Clock {
    val fixedStamp = "2026-01-01 00:00:00"
    private val UtcFmt =
      java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    object fixed extends Clock {
      val deterministic = true
      def now(): String = fixedStamp
    }
    /** Real wall clock in the reference's format: `%Y-%m-%d %H:%M:%S`
      * UTC (`timestamp.py:22-23`), evaluated once per domain like
      * `process_domain` (`crawl.py:167`).
      */
    object utcWall extends Clock {
      val deterministic = false
      def now(): String =
        java.time.LocalDateTime.now(java.time.ZoneOffset.UTC).format(UtcFmt)
    }
  }

  /** Catalyst rows for a type that carries the 1,628-leaf [[DomainResult]]
    * tree, built without a per-query serializer.
    *
    * A Dataset of such a type puts the whole serializer expression tree
    * into every plan that produces it, and Spark re-derives, re-analyses
    * and re-renders that tree for each query, then recompiles its
    * generated classes: the session's codegen cache (100 entries, a static
    * conf) is evicted by the ~170 classes a crawl round compiles, so
    * nothing survives from one round to the next. Here the encoder is
    * derived once per JVM, its compiled serializers are pooled JVM-wide
    * (one is borrowed per task and returned when the task completes;
    * a serializer reuses its output row, so it is never shared between
    * running tasks), and [[frame]] hands the encoded rows to Spark as a
    * bare RDD scan.
    *
    * Instances are Scala `object`s: a task closure that captures one
    * deserializes to the executor JVM's own instance and pool.
    */
  abstract class WideRows[T: TypeTag] extends Serializable {
    @transient private lazy val encoder: ExpressionEncoder[T] = ExpressionEncoder[T]()
    @transient private lazy val pool =
      new java.util.concurrent.ConcurrentLinkedQueue[ExpressionEncoder.Serializer[T]]()

    /** One task's rows, encoded by a pooled serializer. Each returned row
      * is overwritten by the next: a consumer that keeps rows must copy.
      */
    private def encode(rows: Iterator[T]): Iterator[InternalRow] = {
      val ser = Option(pool.poll()).getOrElse(encoder.createSerializer())
      Option(TaskContext.get()).foreach(
        _.addTaskCompletionListener[Unit](_ => pool.offer(ser)))
      rows.map(ser)
    }

    /** `rows` as a DataFrame of `T`'s encoder schema whose plan is an
      * RDD scan.
      */
    def frame(spark: SparkSession, rows: RDD[T]): DataFrame =
      GraftSqlBridge.internalCreateDataFrame(spark, rows.mapPartitions(encode), encoder.schema)
  }
  object ResultRows extends WideRows[ResultRow]
  object StreamResultRows extends WideRows[StreamResultRow]

  /** A partition's probe function: one [[Probes]] and one nameserver-IP
    * probe cache, shared by every entry the function is applied to — the
    * reference's Redis probe cache (`dns_utils.py:235-253`) per partition.
    */
  private[engine] def prober(svc: ProbeService, conf: CrawlConfig,
      ck: Clock): FrontierEntry => DomainResult = {
    val p = new Probes(svc, conf)
    val nsIpCache = scala.collection.mutable.HashMap.empty[String, NsIp]
    val (hasV4, hasV6) = (p.sourceIpv4.isDefined, p.sourceIpv6.isDefined)
    e => {
      p.armDeadline() // per-domain T3 budget, like processDomain
      val dl = p.getDnsLocal(e.canonical)
      val ns = p.u.nsFor(e.canonical)
      val auth =
        if (ns.isEmpty) None
        else Some(ns.filter(_.nonEmpty).map { n =>
          val v4 = if (hasV4) p.u.nsIps4(n).map(ip =>
            nsIpCache.getOrElseUpdate(ip, p.probeNsIp(ip))) else Seq.empty
          val v6 = if (hasV6) p.u.nsIps6(n).map(ip =>
            nsIpCache.getOrElseUpdate(ip, p.probeNsIp(ip))) else Seq.empty
          NsAuth(n, Option.when(v4.nonEmpty)(v4), Option.when(v6.nonEmpty)(v6))
        })
      // stamped per domain, like process_domain (crawl.py:167)
      DomainResult(e.canonical, ck.now(), dl, auth,
        p.getMail(e.canonical, dl), p.getWeb(e.canonical, dl),
        p.getWebPaths(e.canonical, dl), p.u.hstsPreload(e.canonical),
        Option.when(conf.saveWorkerHostname)(conf.workerHostname))
    }
  }

  private val HostShape = "[a-z0-9](?:[a-z0-9.-]*[a-z0-9])?\\.[a-z]{2,}".r

  /** Candidate hosts discovered in one crawl result, first-occurrence
    * order, self (and its www twin) excluded, capped at `maxPerDomain`.
    * Pure and allocation-light — runs once per result row inside the
    * crawl stage's partitions, never on the driver.
    *
    * Sources (each gated by config):
    *   - redirect targets: every step URL whose host differs from the
    *     probed host (the reference follows these in-fetch,
    *     `web_utils.py:202-223`; discovery also admits them as frontier
    *     entries so their own full probe runs);
    *   - MX hosts (`DNS_LOCAL.MAIL` — "10 mail.example.cz." → mail.example.cz);
    *   - authoritative NS hosts (`DNS_LOCAL.NS_AUTH`), off by default:
    *     crawling every nameserver of every domain mostly re-finds a few
    *     big providers — cheap, but rarely what a corpus crawl wants;
    *   - absolute http(s) links in fetched content ([[graft.ops.LinkOps]]).
    */
  def discoveredHosts(r: DomainResult, self: String,
      cfg: DiscoveryConfig): Seq[String] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    val selfWww = "www." + self

    def add(raw: String): Unit =
      if (out.size < cfg.maxPerDomain && raw != null && raw.nonEmpty) {
        var h = raw.toLowerCase
        if (h.nonEmpty && h.charAt(h.length - 1) == '.') h = h.substring(0, h.length - 1)
        if (h != self && h != selfWww && HostShape.matches(h)) out += h
      }

    def steps(w: WebResult): Seq[WebStep] =
      w.steps.getOrElse(w.final_step.toSeq)

    def fromWeb(combo: Option[Seq[WebResult]]): Unit =
      combo.foreach(_.foreach(steps(_).foreach { st =>
        if (cfg.fromRedirects)
          LinkOps.extractHosts(st.url).foreach(add)
        if (cfg.fromLinks)
          st.content.foreach(c => LinkOps.extractHosts(c).foreach(add))
      }))

    if (cfg.fromMx)
      r.DNS_LOCAL.MAIL.foreach(_.foreach { rec =>
        val parts = rec.value.trim.split("\\s+")
        if (parts.nonEmpty) add(parts.last)
      })
    if (cfg.fromNs)
      r.DNS_LOCAL.NS_AUTH.foreach(_.foreach(rec => add(rec.value)))
    val w = r.WEB
    Seq(w.WEB4_80, w.WEB4_443, w.WEB6_80, w.WEB6_443,
      w.WEB4_80_www, w.WEB4_443_www, w.WEB6_80_www, w.WEB6_443_www)
      .foreach(fromWeb)
    r.WEB_paths.foreach(_.foreach { pw =>
      val p = pw.web
      Seq(p.WEB4_80, p.WEB4_443, p.WEB6_80, p.WEB6_443,
        p.WEB4_80_www, p.WEB4_443_www, p.WEB6_80_www, p.WEB6_443_www)
        .foreach(fromWeb)
    })
    out.toSeq
  }
}

class Engine(
    spark: SparkSession,
    universe: Universe,
    cfg: CrawlConfig = CrawlConfig(),
    workDir: String,
    frontierPartitions: Int = 32,
    seedChunkSize: Int = 10000,
    filterCapacityPerPartition: Long = 1L << 20,
    /** Probe-leaf service for the crawl stages; null (default) = the
      * universe itself. Pass a decorator (e.g. [[graft.universe.GeoMmdbService]]
      * for real mmdb GeoIP) to swap leaves without touching scheduling —
      * the frontier attributes (nsBucket, TTL priority, politeness
      * budgets) always come from `universe`.
      */
    probeService: graft.probes.ProbeService = null,
    /** Guards for the per-round driver-side selection materialization: the
      * driver path collects the distinct nameserver buckets and the
      * politeness-bounded selected set (≤ Σ budgets rows) once per round —
      * the cheapest shape in Spark jobs at reference-zone scale (thousands
      * of providers). When bucket cardinality exceeds `maxDriverBuckets`
      * OR the Σ-budgets bound exceeds `maxDriverSelectRows`, the round
      * switches to the distributed fallback ([[selectDistributed]]):
      * budgets/salts ride a broadcast join, ranking stays in windows, and
      * pop_rank derives from per-bucket offsets — bit-identical output
      * (SelectPathSpec), flat driver memory at 100× provider cardinality.
      *
      * Defaults are MEASURED, not guessed (SelectScaleBench, BENCH.md):
      * the driver path's `typedlit` budget/salt maps are plan literals,
      * and at 10^5 buckets the literal-map plan already costs 130 s vs
      * the fallback's 6.5 s (905 s and +742 MB driver heap at 10^6) —
      * so the bucket guard sits at 8192, far below where the literal
      * cost bites, while reference-zone cardinality (~40 providers,
      * thousands at 100×) stays comfortably on the cheaper driver path.
      */
    maxDriverBuckets: Int = 8192,
    maxDriverSelectRows: Long = 2000000L,
    /** Timestamp source for result documents — fixed by default for
      * determinism, [[Engine.Clock.utcWall]] for reference-faithful wall
      * time (see [[Engine.Clock]]).
      */
    clock: Engine.Clock = Engine.Clock.fixed,
    /** Frontier discovery (off by default): hosts found in crawl results —
      * redirect targets, MX hosts, in-content links — are canonicalized,
      * checked against the same cuckoo seen-set, and admitted into later
      * rounds as depth+1 entries. See [[Engine.DiscoveryConfig]].
      */
    discovery: Engine.DiscoveryConfig = Engine.DiscoveryConfig.off) {

  import Engine._
  import spark.implicits._

  private val svc: graft.probes.ProbeService =
    Option(probeService).getOrElse(universe)


  private val resultsT = new SnapTable(spark, s"$workDir/results", Seq("domain"))
  private val spansT = new SnapTable(spark, s"$workDir/result_spans", Seq("doc_id"))
  private val checkpointT = new SnapTable(spark, s"$workDir/checkpoint", Seq("partition_id"))
  private val backlogT = new SnapTable(spark, s"$workDir/backlog", Seq("canonical"))

  // ------------------------------------------------------------ seeds

  /** Interleaved-docs → candidate domains with a stable global seq derived
    * from (doc key, span offset) — no global zipWithIndex, so the seq is
    * identical at any parallelism. Doc key: the doc_id's digit run when it
    * has one of sane width (input corpora carry their index digits, and
    * FIFO order = doc order); otherwise a hash key in a disjoint upper
    * range (deterministic, ANSI-safe — no cast of "" or 100-digit runs).
    * Offsets clamp at 2^22-1; residual seq ties are broken downstream by
    * the canonical domain, so ordering stays total.
    *
    * Range discipline: digit docKeys < 10^12, hash docKeys ∈ [10^12, 2^40),
    * so EVERY seed seq < 2^40·2^22 = 2^62 — strictly below the discovery
    * seq base ([[toFrontierDiscovered]] uses [2^62, 2^62+2^40)), which
    * keeps "discovered hosts order after same-priority seeds" true for
    * hash-keyed corpora too, not just digit-keyed ones.
    */
  def extractSeeds(docs: Dataset[Doc]): Dataset[(String, Long)] = {
    val digits = regexp_extract(col("doc_id"), "(\\d+)", 1)
    val docKey = when(length(digits).between(1, 12), digits.cast("long"))
      .otherwise(pmod(xxhash64(col("doc_id")), lit((1L << 40) - 1000000000000L))
        + lit(1000000000000L))
    docs.select(col("doc_id"), explode(col("spans")).as("s"))
      .where(col("s.kind") === "text")
      .select(col("s.text").as("domain"),
        (docKey * lit(1L << 22) + least(col("s.offset"), lit((1L << 22) - 1))).as("seq"))
      .where(col("domain").rlike("^[\\p{L}0-9.-]+\\.[\\p{L}]{2,}\\.?\\s*$"))
      .as[(String, Long)]
  }

  /** Canonicalize → punycode → xxHash64 → first-enqueue dedup (D1: RQ
    * job_id = domain; first occurrence wins) → scheduling attributes.
    */
  def toFrontier(seeds: Dataset[(String, Long)]): Dataset[FrontierEntry] = {
    val u = universe
    // first-enqueue-wins dedup as a hash aggregate with map-side partial
    // combine (cheaper than a sort-window; same semantics: min seq wins)
    seeds.toDF("domain", "seq")
      .withColumn("canonical", Canon.canonicalizeDomainCol(col("domain")))
      .groupBy(col("canonical"))
      .agg(min_by(col("domain"), struct(col("seq"), col("domain"))).as("domain"),
        min(col("seq")).as("seq"))
      .withColumn("key", xxhash64(col("canonical")))
      .select("domain", "seq", "canonical", "key")
      .as[(String, Long, String, Long)]
      .map { case (domain, seq, canonical, key) =>
        FrontierEntry(domain, canonical, key,
          nsBucket = u.nsProvider(canonical),
          priority = u.ttlFor(canonical), // TTL-derived priority
          seq = seq)
      }
  }

  /** Discovered (host, depth) pairs → frontier entries. Twin of
    * [[toFrontier]] with two differences: the dedup keeps the MIN depth
    * (two parents at different depths → the shallower wins, so the depth
    * cap is never pessimistic), and seq lives in [2^62, 2^62+2^40) —
    * derived from the canonical host's hash, disjoint from every
    * doc-derived seed seq (docKey < 2^40 ⇒ seed seq < 2^62, see
    * [[extractSeeds]]) — deterministic at any parallelism, and discovered
    * hosts order after same-priority seeds instead of racing them.
    */
  private def toFrontierDiscovered(hosts: Dataset[(String, Int)])
      : Dataset[FrontierEntry] = {
    val u = universe
    hosts.toDF("domain", "depth")
      .withColumn("canonical", Canon.canonicalizeDomainCol(col("domain")))
      .groupBy(col("canonical"))
      .agg(min(col("domain")).as("domain"), min(col("depth")).as("depth"))
      .withColumn("key", xxhash64(col("canonical")))
      .withColumn("seq",
        lit(1L << 62) + pmod(xxhash64(lit("disc"), col("canonical")), lit(1L << 40)))
      .select("domain", "seq", "canonical", "key", "depth")
      .as[(String, Long, String, Long, Int)]
      .map { case (domain, seq, canonical, key, depth) =>
        FrontierEntry(domain, canonical, key,
          nsBucket = u.nsProvider(canonical),
          priority = u.ttlFor(canonical),
          seq = seq, depth = depth)
      }
  }

  // -------------------------------------------------- seen-set filters

  private def filterDir(round: Int) = s"$workDir/filters/r$round"

  /** The committed checkpoint's snapshot refs (partitions that have one). */
  private def loadFilterRefs(): Map[Int, String] =
    checkpointT.read() match {
      case None => Map.empty
      case Some(df) => df.select("partition_id", "seen_filter_snapshot_ref")
        .as[(Int, String)].collect().toMap.filter(_._2.nonEmpty)
    }

  /** Distributed seen-check + filter update. Entries are co-partitioned
    * with their filter (`pmod(key, P)`); each partition's filter is read,
    * probed, updated with the admitted keys, and re-snapshotted — the raw
    * key set never moves to the driver.
    */
  private[graft] def admitUnseen(entries: Dataset[FrontierEntry], round: Int)
      : Dataset[FrontierEntry] =
    admitUnseenInto(entries, loadFilterRefs(), filterDir(round))

  /** Core of [[admitUnseen]] with explicit filter refs and snapshot dir —
    * the discovery pass re-admits against THIS round's seed snapshots
    * (not the last committed checkpoint) and writes to a sibling dir so
    * the two admissions of one round never clobber each other's files.
    */
  private def admitUnseenInto(entries: Dataset[FrontierEntry],
      refs: Map[Int, String], outDir: String): Dataset[FrontierEntry] = {
    val refsB = spark.sparkContext.broadcast(refs)
    val p = frontierPartitions
    val cap = filterCapacityPerPartition
    Files.createDirectories(Paths.get(outDir))
    entries
      .groupByKey(e => Math.floorMod(e.key, p.toLong).toInt)
      .flatMapGroups { (idx, it) =>
        val seen = refsB.value.get(idx) match {
          case Some(ref) => CuckooFilter.deserialize(Files.readAllBytes(Paths.get(ref)))
          case None => CuckooFilter.create(cap)
        }
        // streamed probe+insert: never materializes the partition's fresh
        // entries (a Vector here would be the first OOM at 10^10-entry
        // design scale); the snapshot is written once the iterator drains
        val fresh = it.filter { e =>
          if (seen.contains(e.key)) false
          else {
            if (!seen.insert(e.key))
              throw new IllegalStateException(
                s"seen-filter $idx saturated — size for the frontier")
            true
          }
        }
        val ref = s"$outDir/part$idx.bin"
        // Snapshot discipline: write to a per-attempt temp file, then an
        // atomic rename — a speculative or retried task racing a sibling
        // can never leave a torn part$idx.bin (each attempt publishes a
        // complete file; last rename wins). The write fires on full drain
        // AND on task completion (backstop), so a consumer that stops
        // early (limit/take, AQE early-out) still records the keys it
        // actually admitted; a failed attempt's write is harmless because
        // this round's refs are only committed after the round succeeds.
        val ctx = org.apache.spark.TaskContext.get()
        var snapped = false
        // function value, not a nested def: a def would compile to an
        // Engine method and pull `this` into the task closure
        val snapshot: () => Unit = () => if (!snapped) {
          snapped = true
          val attempt = if (ctx != null) ctx.taskAttemptId() else System.nanoTime()
          val tmp = Paths.get(s"$ref.a$attempt.tmp")
          Files.write(tmp, seen.serialize())
          Files.move(tmp, Paths.get(ref),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
        if (ctx != null) ctx.addTaskCompletionListener[Unit](_ => snapshot())
        new Iterator[FrontierEntry] {
          def hasNext: Boolean = {
            val h = fresh.hasNext
            if (!h) snapshot() // full drain: publish without waiting for task end
            h
          }
          def next(): FrontierEntry = fresh.next()
        }
      }
  }

  /** Crash-mid-round hygiene: delete filter snapshot dirs of every round
    * PAST the committed checkpoint before re-executing. A crash between a
    * pass's snapshot writes and its round's checkpoint commit leaves
    * uncommitted `filters/r{N}[d]/part*.bin` files; on resume,
    * [[currentFilterRefs]] would give those stale snapshots precedence, so
    * re-discovered hosts of the retried round are rejected as already-seen
    * without ever having been committed to the backlog — permanently
    * dropped, and the poisoned refs would then be checkpointed. The
    * committed refs themselves live in the checkpoint table, never in
    * these directories, so dropping every dir with round > committed is
    * always safe.
    */
  private def dropUncommittedFilterDirs(committedRound: Int): Unit = {
    val base = Paths.get(s"$workDir/filters")
    if (!Files.isDirectory(base)) return
    val listing = Files.list(base)
    val stale = try {
      import scala.jdk.CollectionConverters._
      listing.iterator().asScala.filter { d =>
        "^r(\\d+)d?$".r.findFirstMatchIn(d.getFileName.toString)
          .exists(_.group(1).toInt > committedRound)
      }.toVector
    } finally listing.close()
    stale.foreach { dir =>
      val walk = Files.walk(dir)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.toVector.reverseIterator // files before dirs
          .foreach(Files.deleteIfExists(_))
      } finally walk.close()
    }
  }

  /** Refs after a round: partitions touched this round point at the new
    * snapshot files; untouched partitions keep their `committed` ref.
    */
  private def currentFilterRefs(committed: Map[Int, String], round: Int)
      : Map[Int, String] = {
    def scan(d: String): Map[Int, String] = {
      val dir = Paths.get(d)
      if (!Files.isDirectory(dir)) Map.empty[Int, String]
      else {
        val listing = Files.list(dir)
        try {
          import scala.jdk.CollectionConverters._
          listing.iterator().asScala.flatMap { f =>
            val name = f.getFileName.toString
            "part(\\d+)\\.bin".r.findFirstMatchIn(name)
              .map(m => m.group(1).toInt -> f.toString)
          }.toMap
        } finally listing.close()
      }
    }
    // precedence: discovery-pass snapshots (superset of the seed pass on
    // the partitions both touched) > this round's seed pass > committed
    committed ++ scan(filterDir(round)) ++ scan(filterDir(round) + "d")
  }

  // ------------------------------------------------------- politeness

  /** Deterministic per-round admission under per-bucket budgets: the
    * relational twin of [[FrontierHeap.popRound]] — top-budget(bucket) rows
    * by (priority, seq, canonical) per bucket. Identical at any parallelism
    * because every input is deterministic.
    *
    * Two-phase rank so a hot bucket never sorts its whole frontier on one
    * reducer: phase 1 ranks within (bucket, salt) cells — an entry past the
    * budget inside ANY subset containing it is past the budget globally, so
    * pruning to the per-cell top-budget is lossless — leaving ≤ salt×budget
    * survivors per bucket for the exact phase-2 re-rank. Budgets ship as a
    * literal map (codegen'd element_at), and the additional
    * `_r1 <= maxBudget` literal conjunct lets Spark's WindowGroupLimit
    * prune inside the phase-1 sort.
    */
  private[graft] def selectUnderBudget(frontier: Dataset[FrontierEntry],
      budgets: Map[Int, Int], defaultBudget: Int)
      : (Dataset[FrontierEntry], Dataset[FrontierEntry]) = {
    val maxBudget = (budgets.values ++ Seq(defaultBudget)).max
    def budgetOf = coalesce(element_at(typedlit(budgets), col("nsBucket")),
      lit(defaultBudget))
    val salts = saltCounts(frontier)
    val saltOf = coalesce(element_at(typedlit(salts), col("nsBucket")), lit(1))
    val w1 = Window.partitionBy(col("nsBucket"), pmod(col("key"), saltOf))
      .orderBy(col("priority"), col("seq"), col("canonical"))
    val survivors = frontier
      .withColumn("_r1", row_number().over(w1))
      .where(col("_r1") <= lit(maxBudget) && col("_r1") <= budgetOf)
      .drop("_r1")
    val w2 = Window.partitionBy(col("nsBucket"))
      .orderBy(col("priority"), col("seq"), col("canonical"))
    val sel = survivors
      .withColumn("_rank", row_number().over(w2))
      .where(col("_rank") <= budgetOf)
      .drop("_rank").as[FrontierEntry]
    val deferred = frontier
      .join(sel.select(col("canonical").as("_selc")),
        col("canonical") === col("_selc"), "left_anti")
      .as[FrontierEntry]
    (sel, deferred)
  }

  /** One round's selection outcome, path-independent: the crawl/commit
    * code downstream never knows whether the driver path or the
    * distributed fallback produced it.
    */
  private[graft] case class RoundSelection(
      selected: Dataset[FrontierEntry],
      /** `selected`'s columns plus its global `pop_rank`: the probe
        * stage's input. The rank rides on the narrow entry rows, so no
        * pass joins it onto the wide result rows.
        */
      ranked: DataFrame,
      deferred: Dataset[FrontierEntry],
      nSelected: Long,
      /** frontier-partition id → selected count (≤ frontierPartitions rows). */
      perPartition: Map[Int, Long],
      release: () => Unit)

  /** Distributed twin of the driver-path selection (the guarded fallback,
    * forced by `maxDriverBuckets`/`maxDriverSelectRows`): budgets and salt
    * counts ride a broadcast-joined DataFrame instead of plan-literal
    * maps, the two-phase rank stays in windows, and pop_rank derives from
    * per-bucket rank + cumulative bucket offsets — the same composition
    * the driver path's global (nsBucket, priority, seq, canonical) sort
    * produces, so both paths are bit-identical (SelectPathSpec). No driver
    * structure scales with bucket cardinality or Σ budgets; the only
    * driver-sized results are scalar aggregates and the
    * ≤`frontierPartitions`-row throughput counters.
    *
    * Budgets are evaluated executor-side via `universe.policyBudget`
    * directly: the driver path's [[PolicyCache]] is a TTL memo over the
    * same deterministic fetch, so both always agree.
    */
  private[graft] def selectDistributed(frontier: Dataset[FrontierEntry])
      : RoundSelection = {
    val u = universe
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val counts = frontier.groupBy(col("nsBucket")).count().cache()
    val total = counts.agg(sum(col("count"))).as[Option[Long]].head()
      .getOrElse(0L).max(1L)
    val target = math.max(1L, total / parts)
    val meta = counts.as[(Int, Long)].map { case (b, c) =>
      (b, u.policyBudget(b), math.max(1, math.ceil(c.toDouble / target).toInt))
    }.toDF("mb", "budget", "salt")
    val maxBudget = meta.agg(max(col("budget"))).head().getInt(0)
    val fm = frontier.join(broadcast(meta), col("nsBucket") === col("mb"))
    val w1 = Window.partitionBy(col("nsBucket"), pmod(col("key"), col("salt")))
      .orderBy(col("priority"), col("seq"), col("canonical"))
    val survivors = fm
      .withColumn("_r1", row_number().over(w1))
      .where(col("_r1") <= lit(maxBudget) && col("_r1") <= col("budget"))
      .drop("_r1")
    val w2 = Window.partitionBy(col("nsBucket"))
      .orderBy(col("priority"), col("seq"), col("canonical"))
    val ranked = survivors
      .withColumn("_rank", row_number().over(w2))
      .where(col("_rank") <= col("budget"))
      .drop("mb", "budget", "salt")
      .cache()
    val selected = ranked.drop("_rank").as[FrontierEntry]
    // The offsets window runs unpartitioned over ≤ #buckets rows — one
    // executor task, never the driver.
    val offs = ranked.groupBy(col("nsBucket")).count()
      .withColumn("_off", coalesce(sum(col("count")).over(
        Window.orderBy(col("nsBucket"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("nsBucket").as("ob"), col("_off"))
    val withRank = ranked
      .join(broadcast(offs), col("nsBucket") === col("ob"))
      .withColumn("pop_rank", col("_off") + col("_rank"))
      .drop("ob", "_off", "_rank")
    val deferred = frontier
      .join(ranked.select(col("canonical").as("_selc")),
        col("canonical") === col("_selc"), "left_anti")
      .as[FrontierEntry]
    val nSelected = selected.count()
    val fp = frontierPartitions
    val perPartition = selected
      .groupBy(pmod(col("key"), lit(fp.toLong)).cast("int").as("pid"))
      .count().as[(Int, Long)].collect().toMap
    RoundSelection(selected, withRank, deferred, nSelected, perPartition,
      release = () => { ranked.unpersist(); counts.unpersist(); () })
  }

  // ------------------------------------------------------------ crawl

  /** Frequency-proportional salt counts (SURVEY O11: salt count ∝ observed
    * key frequency): each nameserver bucket is split into enough salt
    * cells that no cell exceeds ~one reducer's share. A fixed per-hot-
    * bucket salt constant caps speedup as parallelism grows; this adapts.
    *
    * With a known total (`totalHint` — the frontier loop always passes
    * its politeness-bounded selected count), only buckets ABOVE the
    * per-reducer target are collected: at most `total / target` = one
    * per shuffle partition can exceed it, so the driver map is bounded
    * by the core count regardless of bucket cardinality — every other
    * bucket's salt is the implicit 1 the lookups default to. Without a
    * hint (ad-hoc `crawlDomains` / bench callers) the full map collects,
    * as before.
    */
  private def saltCounts(entries: Dataset[_],
      totalHint: Option[Long] = None): Map[Int, Int] = {
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    totalHint match {
      case Some(total) =>
        val target = math.max(1L, total.max(1L) / parts)
        entries.groupBy(col("nsBucket")).count()
          .where(col("count") > target) // ≤ parts survivors by pigeonhole
          .as[(Int, Long)].collect()
          .map { case (b, c) => b -> math.ceil(c.toDouble / target).toInt }
          .toMap
      case None =>
        val counts = entries.groupBy(col("nsBucket")).count()
          .as[(Int, Long)].collect().toMap
        val total = counts.values.sum.max(1L)
        val target = math.max(1L, total / parts)
        counts.map { case (b, c) =>
          b -> math.max(1, math.ceil(c.toDouble / target).toInt)
        }
    }
  }

  /** Crawl one admitted set.
    *
    * Partitioning: range-partitioned on `(nsBucket, salt, key)` with
    * frequency-proportional salting — same-provider domains co-locate (the
    * per-partition probe cache then hits like the reference's Redis cache,
    * `dns_utils.py:235-253`), hot providers are split across reducers, and
    * range partitioning avoids hash-collision imbalance at high core
    * counts.
    *
    * NS-IP probe dedup runs two ways with identical results:
    * per-partition cache (default — zero extra shuffles; duplicate probes
    * only across salt splits, bounded by salt count) or a global
    * `dropDuplicates → probe → join` (`dedupAcrossPartitions = true`,
    * exact-once probes at the cost of 3 shuffles — the right trade when
    * probes are expensive network calls rather than compute).
    */
  def crawlEntries(entries: Dataset[FrontierEntry],
      dedupAcrossPartitions: Boolean = false,
      sizeHint: Option[Long] = None): Dataset[DomainResult] = {
    val u = svc // probe leaves go through the pluggable service
    val conf = cfg
    val ck = clock
    // cache only if the caller hasn't (re-caching would log "already
    // cached" and double-register storage)
    val needCache = entries.storageLevel == StorageLevel.NONE
    val input = if (needCache) entries.cache() else entries
    val salted = probeLayout(input.toDF(), sizeHint).as[FrontierEntry]

    val result = if (!dedupAcrossPartitions) {
      // single narrow pass: per-partition NS-probe cache + full assembly
      salted.mapPartitions(it => it.map(Engine.prober(u, conf, ck)))
    } else {
      // --- dedup-probe-join for nameserver IPs (cross-domain cache, J4/D3)
      // source-address gates are deterministic (same on driver/executor)
      val gateProbe = new Probes(u, conf)
      val (hasV4, hasV6) = (gateProbe.sourceIpv4.isDefined, gateProbe.sourceIpv6.isDefined)
      val nsRefs = salted.flatMap { e =>
        u.nsFor(e.canonical).zipWithIndex.flatMap { case (ns, i) =>
          val refs =
            (if (hasV4) u.nsIps4(ns).zipWithIndex.map { case (ip, j) => NsIpRef(e.canonical, i, ns, 4, j, ip) } else Seq.empty) ++
              (if (hasV6) u.nsIps6(ns).zipWithIndex.map { case (ip, j) => NsIpRef(e.canonical, i, ns, 6, j, ip) } else Seq.empty)
          // sentinel for IP-less nameservers so both probe paths agree:
          // the NS still appears in DNS_AUTH with empty address lists
          if (refs.isEmpty) Seq(NsIpRef(e.canonical, i, ns, 0, 0, "")) else refs
        }
      }
      val probedIps = nsRefs.where(col("fam") =!= 0).select("ip").distinct().as[String]
        .mapPartitions { ips =>
          val p = new Probes(u, conf)
          ips.map(ip => (ip, p.probeNsIp(ip)))
        }.toDF("p_ip", "info")
      val auth = nsRefs.toDF()
        .join(probedIps, col("ip") === col("p_ip"), "left_outer")
        .select(col("domain"), col("nsIdx"), col("ns"), col("fam"), col("ipIdx"), col("info"))
        .as[(String, Int, String, Int, Int, Option[NsIp])]
        .groupByKey(_._1)
        .mapGroups { (domain, it) =>
          val rows = it.toVector.sortBy(r => (r._2, r._4, r._5))
          val nsAuth = rows.groupBy(r => (r._2, r._3)).toVector.sortBy(_._1._1).map {
            case ((_, ns), rs) =>
              val v4 = rs.filter(_._4 == 4).sortBy(_._5).flatMap(_._6)
              val v6 = rs.filter(_._4 == 6).sortBy(_._5).flatMap(_._6)
              NsAuth(ns, Option.when(v4.nonEmpty)(v4), Option.when(v6.nonEmpty)(v6))
          }
          (domain, nsAuth)
        }.toDF("a_domain", "auth")

      val base = salted.mapPartitions { it =>
        val p = new Probes(u, conf)
        it.map { e =>
          val dl = p.getDnsLocal(e.canonical)
          val r = DomainResult(e.canonical, ck.now(), dl, None,
            p.getMail(e.canonical, dl), p.getWeb(e.canonical, dl),
            p.getWebPaths(e.canonical, dl), p.u.hstsPreload(e.canonical),
            Option.when(conf.saveWorkerHostname)(conf.workerHostname))
          (e.canonical, r)
        }
      }.toDF("b_domain", "result")

      base.join(auth, col("b_domain") === col("a_domain"), "left_outer")
        .select(col("result"), col("auth"))
        .as[(DomainResult, Option[Seq[NsAuth]])]
        .map { case (r, a) => r.copy(DNS_AUTH = a.filter(_.nonEmpty)) }
    }
    // release input's storage once the crawl plan itself has run (the
    // saltCounts collect above must not trigger it — hence the result
    // plan, not input, is the listener trigger)
    if (needCache) graft.ops.DedupOps.unpersistAfter(result, input)
    result
  }

  /** The probe stage's input layout: range-partitioned on `(nsBucket,
    * salt, key)` with frequency-proportional salting (see [[crawlEntries]]),
    * over any frame that carries the [[FrontierEntry]] columns.
    */
  private def probeLayout(input: DataFrame, sizeHint: Option[Long]): DataFrame = {
    val salts = saltCounts(input, sizeHint) // hinted: driver map ≤ cores
    val saltOf = udf((b: Int) => salts.getOrElse(b, 1))
    // Explicit partition count: the probe stage is compute-bound on tiny
    // rows, so AQE's byte-based coalescing would collapse it onto a few
    // cores (40 MB of FrontierEntry rows ≈ hours of probe CPU at real
    // scale). 8× cores measured best at both 8 and 32 cores (500k-domain
    // legs: ×4 → 6.4/5.2 s, ×8 → 6.1/3.8 s, ×16 → 7.6/3.5 s at 8/32
    // cores) — probe cost varies per domain (NS fan-out, redirect
    // chains), so finer tasks amortize the last wave's stragglers;
    // tunable via graft.probeParts.mult, and user partition counts are
    // preserved by AQE.
    val shuffleParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val maxParts = shuffleParts *
      spark.conf.getOption("graft.probeParts.mult").map(_.toInt).getOrElse(8)
    // With a known input size (the frontier loop passes its politeness-
    // bounded selected count), clamp task count so small rounds don't pay
    // maxParts × per-task fixed costs (service init, one parquet writer
    // and its 1,628-leaf-column footer per task) for a few dozen rows
    // each. Floor at one wave (shuffleParts = the session's core count)
    // so every core still works; the 8× ceiling remains the straggler-
    // amortization default for big inputs. 2000 rows/task ≈ 6 MB data
    // files for the wide result schema; smaller files pay
    // disproportionate per-file costs (a 1628-leaf-column footer with
    // per-column stats is ~hundreds of KB regardless of row count)
    val targetRows =
      spark.conf.getOption("graft.probeParts.targetRows").map(_.toLong).getOrElse(2000L)
    val probeParts = sizeHint match {
      case Some(n) =>
        math.max(shuffleParts.toLong, math.min(maxParts.toLong,
          n / targetRows + 1L)).toInt
      case None => maxParts
    }
    input
      .withColumn("_salt", pmod(col("key"), saltOf(col("nsBucket"))))
      .repartitionByRange(probeParts, col("nsBucket"), col("_salt"), col("key"))
      .drop("_salt")
  }

  /** One round's probe output: each selected entry with its pop rank and
    * result document, produced by the same per-partition probe function
    * as [[crawlEntries]] over the same layout. An RDD, so the passes that
    * consume it plan no [[DomainResult]] serializer; with AQE on, building
    * it runs the layout's shuffle once, and every pass reads that shuffle
    * output.
    */
  private def probeRanked(ranked: DataFrame, nSelected: Long)
      : RDD[(FrontierEntry, Long, DomainResult)] = {
    val (u, conf, ck) = (svc, cfg, clock)
    val entry = struct(Encoders.product[FrontierEntry].schema.fieldNames.toSeq.map(col): _*)
    probeLayout(ranked, Some(nSelected))
      .select(entry.as("_1"), col("pop_rank").as("_2"))
      .as[(FrontierEntry, Long)].rdd
      .mapPartitions { it =>
        val probe = Engine.prober(u, conf, ck)
        it.map { case (e, rank) => (e, rank, probe(e)) }
      }
  }

  // ------------------------------------------------------------- run

  /** Batch-iterative frontier loop with MERGE checkpoints. Safe to stop
    * after any round and re-invoke: resumes from the committed snapshot.
    */
  def run(docs: Dataset[Doc], maxRounds: Int = Int.MaxValue): Seq[RoundStats] = {
    val u = universe
    val policy = new PolicyCache(ttlRounds = 16)
    val seeds = extractSeeds(docs).cache()
    val stats = scala.collection.mutable.ArrayBuffer.empty[RoundStats]

    var round = checkpointT.read()
      .map(df => df.agg(max(element_at(col("fetch_counters"), "round"))).as[Long].head().toInt)
      .getOrElse(0)
    var watermark: Long = checkpointT.read()
      .map(df => df.agg(max(col("offset_watermark"))).as[Long].head())
      .getOrElse(-1L)
    // resume hygiene: a prior attempt may have died between snapshot
    // writes and its checkpoint commit — those dirs are uncommitted state
    dropUncommittedFilterDirs(round)

    var done = false
    while (!done && round < maxRounds) {
      val t0 = System.nanoTime()
      round += 1
      val phaseT = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      def timed[A](name: String)(a: => A): A = {
        val s = System.nanoTime(); val r = a
        phaseT(name) = phaseT.getOrElse(name, 0.0) + (System.nanoTime() - s) / 1e9
        r
      }

      // 1. next seed chunk past the watermark (controller.py:107-116
      // chunking). The chunk boundary is a seq VALUE, not a row limit:
      // with seq ties at the Nth row, a row-limit chunk would admit one
      // twin and advance the watermark past the other, silently dropping
      // it. Taking every row with seq <= the Nth-smallest seq is safe
      // (chunk may exceed the nominal size by the tie width).
      val boundary = timed("seed")(seeds.where(col("seq") > watermark)
        .orderBy(col("seq")).limit(seedChunkSize)
        .agg(max(col("seq"))).as[Option[Long]].head())
      val newWatermark = boundary.getOrElse(watermark)
      val chunk = seeds.where(col("seq") > watermark && col("seq") <= newWatermark).cache()

      // 2. canonical dedup + seen-filter admission against the committed
      // snapshots (read once: the checkpoint only changes at round end);
      // the count materializes this round's snapshots
      val committedRefs = timed("filter_refs")(loadFilterRefs())
      val fresh = toFrontier(chunk)
      val (admitted, nAdmitted) = timed("admit") {
        val a = admitUnseenInto(fresh, committedRefs, filterDir(round)).cache()
        (a, a.count())
      }
      val filterRefs = timed("filter_refs")(currentFilterRefs(committedRefs, round))

      // 3. frontier = fresh admissions + deferred backlog
      val backlog = backlogT.read()
        .map(_.as[BacklogRow].where(col("active")).drop("active").as[FrontierEntry])
        .getOrElse(spark.emptyDataset[FrontierEntry])
      val frontier = admitted.unionByName(backlog).cache()

      // 4. politeness: budgets from the TTL'd zone-policy cache. Guarded
      // two-path selection (see the maxDriverBuckets constructor doc):
      // the driver path collects the ≤ Σ-budgets selected set once per
      // round (fewest Spark jobs — the loop is job-count-bound at
      // politeness-bounded sizes); past the guards, the distributed
      // fallback keeps driver memory flat. Bit-identical outputs
      // (SelectPathSpec).
      val bucketSample = timed("budgets")(frontier.select("nsBucket").distinct()
        .limit(maxDriverBuckets + 1).as[Int].collect())
      val driverBudgets =
        if (bucketSample.length > maxDriverBuckets) None
        else {
          val m = bucketSample.iterator
            .map(b => b -> policy.get(b, round, u.policyBudget)).toMap
          Option.when(m.valuesIterator.map(_.toLong).sum <= maxDriverSelectRows)(m)
        }
      val sel = timed("select")(driverBudgets match {
        case Some(budgets) =>
          val (selected0, deferred0) = selectUnderBudget(frontier, budgets, 64)
          val selected = selected0.cache()
          // ONE driver-side materialization of the bounded selected set
          // (≤ Σ budgets rows — checked against maxDriverSelectRows
          // above): the selected count, global pop order and
          // per-partition throughput counters all derive from these rows.
          val selRows = selected
            .map(e => (e.canonical, e.nsBucket, e.priority, e.seq, e.key))
            .collect()
          // deterministic pop order: (nsBucket, priority, seq, canonical)
          // ascending — one local sort over the bounded rows, attached to
          // the narrow entry rows by a broadcast join (the side is
          // bounded by Σ budgets).
          val ordered = selRows.sortBy { case (c, b, p, s, _) => (b, p, s, c) }
          val popOrder = broadcast(spark.createDataset(
            ordered.iterator.zipWithIndex
              .map { case ((c, _, _, _, _), i) => (c, i + 1L) }.toSeq)
            .toDF("o_domain", "pop_rank"))
          val ranked = selected.join(popOrder, col("canonical") === col("o_domain"))
            .drop("o_domain")
          val fp = frontierPartitions
          val perPartition = selRows
            .groupBy(r => Math.floorMod(r._5, fp.toLong).toInt)
            .map { case (pid, rs) => (pid, rs.length.toLong) }
          RoundSelection(selected, ranked, deferred0, selRows.length.toLong,
            perPartition, release = () => { selected.unpersist(); () })
        case None => selectDistributed(frontier)
      })
      val selected = sel.selected
      val deferred = sel.deferred // consumed once (backlog commit) — no cache
      val nSelected = sel.nSelected

      if (nSelected == 0 && newWatermark == watermark) {
        done = true
      } else {
        // 5. crawl. Task count sized to the politeness-bounded round;
        // partitioning is deterministic, so re-executing the probes always
        // reproduces the same per-partition probe caches and results.
        //
        // Results, spans, and discovery each consume the probe output as
        // a SEPARATE action, and the probes re-run per pass (they cost
        // ~0.5 ms-core/domain, perfbench `probes.cpu_ms_per_domain`). The
        // passes share one RDD, not a Dataset: a Dataset of DomainResult
        // puts the 1,628-leaf serializer tree in every pass's plan, which
        // Spark re-derives, re-analyses and re-renders per query, and whose
        // generated classes it recompiles every round (the 100-entry
        // codegen cache is evicted between rounds) — the larger part of a
        // politeness-sized round (BENCH.md "Loop phase anatomy"). Over the
        // RDD, the results pass encodes through [[Engine.ResultRows]]'
        // pooled serializers, the spans pass serializes only (doc_id,
        // spans), and discovery only (host, depth).
        //
        // Re-running the probes is only sound under the ProbeService
        // determinism contract. A non-deterministic (real-socket) service
        // would let the passes observe DIFFERENT responses — results and
        // spans could diverge for the same domain, and every domain would
        // be fetched up to 3× per round, defeating the politeness budget —
        // so the round's probe output is persisted once instead.
        val probed0 = timed("crawl_plan")(probeRanked(sel.ranked, nSelected))
        val multiPassUnsafe = !svc.deterministic || !clock.deterministic
        val probed =
          if (multiPassUnsafe) probed0.persist(StorageLevel.MEMORY_AND_DISK)
          else probed0
        val dcfg = discovery
        val popRound = round

        // Pass 1 — results table, pop order attached in the encoding pass.
        timed("commit_results")(resultsT.mergeCommit(ResultRows.frame(spark,
          probed.map { case (_, rank, r) => ResultRow(r.domain, popRound, rank, r) })))
        // nCrawled ≡ nSelected by construction (the crawl stage is a 1:1
        // map over the selected set). Derived, not accumulated:
        // accumulators are exactly-once only for actions, so a
        // retried/speculative task would double-count.
        val nCrawled = nSelected

        // Pass 2 — span re-encoding (the interleaved-docs table). The
        // result tree is walked once while JVM-resident and never
        // Tungsten-encoded here.
        timed("commit_spans")(spansT.mergeCommit(
          spark.createDataset(probed.map(t => SpanCodec.encode(t._3))).toDF()))

        // Pass 3 (5b) — discovery: hosts found in this round's results
        // re-enter the frontier as depth+1 entries (the parent depth is
        // the probed entry's own), deduped against everything ever
        // admitted via THIS round's filter snapshots (so a host that is
        // both a seed and a discovery is crawled exactly once), written to
        // a sibling snapshot dir (r${round}d).
        var nDiscovered = 0L
        var discBacklog: Option[Dataset[BacklogRow]] = None
        var discCached: Option[Dataset[FrontierEntry]] = None
        if (discovery.enabled) {
          val found = spark.createDataset(probed.flatMap { case (e, _, r) =>
            if (e.depth >= dcfg.maxDepth) Iterator.empty
            else Engine.discoveredHosts(r, r.domain, dcfg)
              .iterator.map(h => (h, e.depth + 1))
          })
          val discRefs = timed("filter_refs")(currentFilterRefs(committedRefs, round))
          val discAdmitted = admitUnseenInto(toFrontierDiscovered(found),
            discRefs, filterDir(round) + "d").cache()
          nDiscovered = timed("discover")(discAdmitted.count()) // materializes filter snapshots
          if (nDiscovered > 0) {
            discCached = Some(discAdmitted)
            discBacklog = Some(discAdmitted.map(e => BacklogRow(e.domain,
              e.canonical, e.key, e.nsBucket, e.priority, e.seq, e.depth,
              active = true)))
          } else discAdmitted.unpersist()
        }

        // 6. Remaining MERGE commits: backlog + checkpoint (results and
        // spans committed by their passes above — commit_results pays the
        // probe + wide encode + write; commit_spans probe + spans only).
        // Backlog rows are narrow; coalesce caps the per-round file count
        // (the 32-core loop once ran SLOWER than 8-core purely on
        // near-empty commit files — 73 vs 47 s/round).
        val writeParts = math.max(1L, math.min(frontierPartitions.toLong,
          nCrawled / 4000L + 1L)).toInt
        val backlogUpdates =
          deferred.map(e => BacklogRow(e.domain, e.canonical, e.key,
            e.nsBucket, e.priority, e.seq, e.depth, active = true)).toDF()
            .unionByName(selected.map(e => BacklogRow(e.domain, e.canonical,
              e.key, e.nsBucket, e.priority, e.seq, e.depth, active = false)).toDF())
        val backlogV = timed("commit_backlog")(backlogT.mergeCommit((discBacklog match {
          case Some(d) => backlogUpdates.unionByName(d.toDF())
          case None => backlogUpdates
        }).coalesce(writeParts)))
        // deferred count derived from the committed delta (its rows are
        // exactly deferred(active) + selected(inactive) + discoveries):
        // exact under task retries, unlike a map-side accumulator, and
        // the footer-count of the fresh narrow delta is one tiny job
        val nDeferred =
          timed("commit_count")(backlogT.commitRowCount(backlogV)) - nSelected - nDiscovered
        discCached.foreach(_.unpersist())
        if (multiPassUnsafe) probed.unpersist()
        // per-partition throughput: crawled count per frontier partition
        // (pmod(key, P) — the same key the seen-filter shards on)
        val perPartition = sel.perPartition
        val roundSecs = (System.nanoTime() - t0) / 1e9
        // discovery wrote additional snapshots after `filterRefs` was
        // taken — re-list so resume sees the d-pass state
        val finalRefs =
          if (nDiscovered > 0) timed("filter_refs")(currentFilterRefs(committedRefs, round))
          else filterRefs
        val lineage = (0 until frontierPartitions).map { pid =>
          PartitionLineage(pid, newWatermark,
            finalRefs.getOrElse(pid, ""),
            Map("round" -> round.toLong, "admitted" -> nAdmitted,
              "crawled" -> nCrawled, "deferred" -> nDeferred,
              "discovered" -> nDiscovered,
              "partition_crawled" -> perPartition.getOrElse(pid, 0L),
              "partition_per_sec" ->
                (perPartition.getOrElse(pid, 0L) / math.max(roundSecs, 1e-9)).toLong))
        }
        timed("commit_ckpt")(checkpointT.mergeCommit(
          spark.createDataset(lineage).toDF().coalesce(1)))
        // bound the merge-on-read delta chains: backlog and checkpoint are
        // re-read EVERY round (frontier build, filter refs), so their
        // per-round read cost otherwise grows linearly with round count —
        // the same reason Iceberg schedules its rewrite (compaction)
        // action on hot tables. Results/spans are only read after the run;
        // they stay append-only.
        if (round % 8 == 0)
          timed("compact") { backlogT.compact(); checkpointT.compact() }

        watermark = newWatermark
        stats += RoundStats(round, nAdmitted, nCrawled, nDeferred,
          (System.nanoTime() - t0) / 1e9, nDiscovered, phaseT.toMap)
      }
      chunk.unpersist(); admitted.unpersist(); frontier.unpersist()
      sel.release()
    }
    seeds.unpersist()
    stats.toSeq
  }

  /** Library one-shot API (reference `process_domain` import surface,
    * README.md:166-191): crawl a plain domain dataset, no frontier state.
    * seq is content-keyed (xxhash64 of the raw string) so first-enqueue-
    * wins dedup among case/dot variants picks the same raw variant at any
    * parallelism — `monotonically_increasing_id` would depend on partition
    * layout and break the N-vs-4N determinism contract on this path.
    */
  def crawlDomains(domains: Dataset[String]): Dataset[DomainResult] = {
    val withSeq = domains.toDF("domain")
      .withColumn("seq", xxhash64(col("domain")))
      .as[(String, Long)]
    crawlEntries(toFrontier(withSeq))
  }

  def resultsTable: SnapTable = resultsT
  def spansTable: SnapTable = spansT
  def checkpointTable: SnapTable = checkpointT
}
