package graft.engine

import java.nio.file.{Files, Paths}

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.canon.Canon
import graft.frontier.CuckooFilter
import graft.model.Model._
import graft.ops.LinkOps
import graft.probes.{CrawlConfig, Probes}
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
  *   - per-nameserver-bucket politeness budgets (entries per round from
  *     the zone policy, `Universe.policyBudget`) with deterministic pop order
  *     `(round, nsBucket, ttlPriority, seq)` — a pure function of the seed
  *     list + budgets, independent of partition count (the N vs 4N
  *     ordering-equality criterion),
  *   - salted repartitioning of the probe stage to break hot-provider skew
  *     (reference has no skew handling — its Redis queue hashes by domain;
  *     here hot buckets are split in proportion to their share of the
  *     round, and probes of one provider spread over executors),
  *   - a per-partition nameserver-IP probe cache ([[Probes.probeNsIp]],
  *     the Redis probe cache of `dns_utils.py:235-253`), which hits because
  *     the probe layout co-locates same-provider domains,
  *   - MERGE-committed results / backlog / checkpoint tables with
  *     per-partition lineage (partition id, offset watermark, seen-filter
  *     snapshot ref, fetch counters) enabling bit-identical resume; the
  *     span table is a read-time view of the results table
  *     ([[SpanCodec.view]]), not a stored copy.
  *
  * Where the reference runs Redis/RQ + forked workers
  * (`controller.py` / `workers.py`), this engine is one declarative plan
  * per round; Spark's shuffle replaces the queue, Tungsten replaces pickle.
  */
object Engine {
  /** One row of the results table. `depth` is the probed entry's frontier
    * depth and `discovered` the hosts its result yields for the frontier
    * ([[DiscoveryConfig.hostsOf]]), stored with the result so discovery
    * reads them back instead of probing again.
    */
  case class ResultRow(domain: String, pop_round: Int, pop_rank: Long, depth: Int,
      discovered: Seq[String], result: DomainResult)
  /** One row of the streaming crawl's results table (no pop order). */
  case class StreamResultRow(domain: String, depth: Int, discovered: Seq[String],
      result: DomainResult)
  case class BacklogRow(domain: String, canonical: String, key: Long,
      nsBucket: Int, priority: Int, seq: Long, depth: Int, active: Boolean)
  case class RoundStats(round: Int, admitted: Long, crawled: Long,
      deferred: Long, seconds: Double, discovered: Long = 0L,
      /** Wall seconds per loop phase (seed/admit/filter_refs/select/
        * crawl_plan/commit_results/discover/commit_backlog/commit_ckpt/
        * compact) — frontier rounds are latency-bound on fixed per-round
        * costs at politeness-bounded sizes, so the breakdown is
        * first-class observability, not debug output. `crawl_plan` builds
        * the probe stage (range bounds, the layout shuffle); the probes
        * themselves, one pass, land inside `commit_results`. `discover`
        * reads the hosts back from the committed delta and admits them.
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
      maxDepth: Int = 2) {
    /** The hosts a result at frontier `depth` contributes: none when
      * discovery is off or the depth cap is reached.
      */
    def hostsOf(r: DomainResult, depth: Int): Seq[String] =
      if (enabled && depth < maxDepth) discoveredHosts(r, r.domain, this) else Seq.empty
  }
  object DiscoveryConfig {
    val off: DiscoveryConfig = DiscoveryConfig()
    val on: DiscoveryConfig = DiscoveryConfig(enabled = true)
  }

  /** Engine timestamp source (F18). The reference stamps wall-clock UTC
    * per domain (`timestamp.py:22-23`, `crawl.py:167`); determinism —
    * resume bit-equality, the N-vs-4N ordering digests, the oracle
    * scoreboard — needs a fixed stamp, so [[Clock.fixed]] is the default
    * and wall time is opt-in (library: `clock = Engine.Clock.utcWall`;
    * CLI: `--real-timestamps`). A round stamps each domain once: its one
    * probe pass calls `now()` once per domain.
    */
  trait Clock extends Serializable {
    def now(): String
  }
  object Clock {
    val fixedStamp = "2026-01-01 00:00:00"
    private val UtcFmt =
      java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    object fixed extends Clock {
      def now(): String = fixedStamp
    }
    /** Real wall clock in the reference's format: `%Y-%m-%d %H:%M:%S`
      * UTC (`timestamp.py:22-23`), evaluated once per domain like
      * `process_domain` (`crawl.py:167`).
      */
    object utcWall extends Clock {
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
      GraftSqlBridge.internalCreateDataFrame(spark, rows.mapPartitions(encode), schema)

    /** `T`'s encoder schema: the stored schema of the rows [[frame]] commits. */
    def schema: StructType = encoder.schema
  }
  object ResultRows extends WideRows[ResultRow]
  object StreamResultRows extends WideRows[StreamResultRow]

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
    * seq base ([[discoverySeq]] uses [2^62, 2^62+2^40)), which
    * keeps "discovered hosts order after same-priority seeds" true for
    * hash-keyed corpora too, not just digit-keyed ones. The batch loop and
    * the streaming crawl ([[graft.streaming.StreamingCrawl.seedEntries]])
    * both take their seeds from here.
    */
  def extractSeeds(docs: Dataset[Doc]): Dataset[(String, Long)] = {
    import docs.sparkSession.implicits._
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

  /** Seq of a discovered host: in [2^62, 2^62+2^40), from the canonical
    * host's hash — disjoint from every seed seq ([[extractSeeds]]), so
    * discovered hosts order after same-priority seeds, and deterministic
    * at any parallelism. The batch loop and the discovering stream share it.
    */
  def discoverySeq(canonical: Column): Column =
    lit(1L << 62) + pmod(xxhash64(lit("disc"), canonical), lit(1L << 40))

  /** Frontier entries from rows with `domain`, `canonical`, `key`, `seq`
    * and `depth` columns; the scheduling attributes (nameserver bucket,
    * TTL priority) come from `u`. Seeds and discovered hosts, batch and
    * stream, all enter the frontier through here.
    */
  def frontierEntries(u: Universe, rows: DataFrame): Dataset[FrontierEntry] = {
    import rows.sparkSession.implicits._
    rows.select("domain", "canonical", "key", "seq", "depth").as[FrontierRow]
      .map(entryOf(u, _))
  }

  /** A frontier candidate before its scheduling attributes. */
  case class FrontierRow(domain: String, canonical: String, key: Long, seq: Long, depth: Int)

  /** The one entry builder: `r` with its nameserver bucket and TTL
    * priority from `u`.
    */
  private def entryOf(u: Universe, r: FrontierRow): FrontierEntry =
    FrontierEntry(r.domain, r.canonical, r.key,
      nsBucket = u.nsProvider(r.canonical),
      priority = u.ttlFor(r.canonical), // TTL-derived priority
      seq = r.seq, depth = r.depth)

  /** One frontier row per canonical, first enqueue winning (D1): the min
    * `(seq, domain)` row, `domain` in UTF-8 byte order (Spark's string
    * order), with the min depth over all of the canonical's rows. Null
    * canonicals are one group. Holds the distinct canonicals of `rows`,
    * so callers feed it one filter partition at a time.
    */
  private def firstEnqueued(rows: Iterator[FrontierRow]): Iterator[FrontierRow] = {
    val best = new java.util.HashMap[String, FrontierRow]()
    rows.foreach { r =>
      val w = best.get(r.canonical)
      if (w == null) best.put(r.canonical, r)
      else {
        val first = r.seq < w.seq || (r.seq == w.seq && utf8Order(r.domain, w.domain) < 0)
        if (first || r.depth < w.depth)
          best.put(r.canonical, if (first) r.copy(depth = math.min(r.depth, w.depth))
            else w.copy(depth = r.depth))
      }
    }
    import scala.jdk.CollectionConverters._
    best.values.iterator.asScala
  }

  /** `String` comparison in code-point order, which is UTF-8 byte order;
    * `compareTo` orders by UTF-16 unit and so puts a surrogate pair below
    * a BMP character in U+E000..U+FFFF. Null sorts first, as in Spark.
    */
  private[graft] def utf8Order(a: String, b: String): Int =
    if (a == null || b == null) (if (a == null) 0 else 1) - (if (b == null) 0 else 1)
    else {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n && a.charAt(i) == b.charAt(i)) i += 1
      if (i == n) a.length - b.length
      else {
        val (x, y) = (a.charAt(i), b.charAt(i))
        // surrogates (U+D800..U+DFFF) move above U+E000..U+FFFF
        def rank(c: Char): Int =
          if (c < 0xd800) c else if (c < 0xe000) c + 0x2000 else c - 0x800
        rank(x) - rank(y)
      }
    }

  /** One filter partition's seen-set state within a task: the partition's
    * filter (its committed snapshot, or empty) checks and updates each key
    * ([[CuckooFilter.admit]]), and the updated filter is published to
    * `ref` once, then dropped.
    *
    * Snapshot discipline: write to a per-attempt temp file, then an atomic
    * rename — a speculative or retried task racing a sibling can never
    * leave a torn file (each attempt publishes a complete file; last
    * rename wins). A failed attempt's write is harmless because a round's
    * refs are only committed after the round succeeds.
    */
  private final class SeenShard(idx: Int, committed: Option[String], capacity: Long,
      ref: String) {
    private var filter = committed match {
      case Some(f) => CuckooFilter.deserialize(Files.readAllBytes(Paths.get(f)))
      case None => CuckooFilter.create(capacity)
    }

    def admit(key: Long): Boolean = filter.admit(key, idx)

    def publish(): Unit = if (filter != null) {
      val ctx = TaskContext.get()
      val attempt = if (ctx != null) ctx.taskAttemptId() else System.nanoTime()
      val tmp = Paths.get(s"$ref.a$attempt.tmp")
      Files.write(tmp, filter.serialize())
      filter = null
      Files.move(tmp, Paths.get(ref),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** The entries of one task that no filter has seen, streamed. The task's
    * entries arrive as runs, one per filter partition (`floorMod(key, p)`):
    * when the id changes, the previous [[SeenShard]] is published and the
    * next opened from `refs`, so the task holds one filter at a time and a
    * partition with no entries loads and publishes nothing. The last shard
    * publishes on full drain; an open shard also publishes at task end, so
    * a consumer that stops early (limit/take, AQE early-out) still records
    * the keys it actually admitted.
    */
  private def admitRuns(entries: Iterator[FrontierEntry], p: Int, refs: Map[Int, String],
      capacity: Long, outDir: String): Iterator[FrontierEntry] = {
    var idx = -1
    var shard: SeenShard = null
    val ctx = TaskContext.get()
    if (ctx != null) ctx.addTaskCompletionListener[Unit](_ => if (shard != null) shard.publish())
    val fresh = entries.filter { e =>
      val i = Math.floorMod(e.key, p.toLong).toInt
      if (i != idx) {
        if (shard != null) shard.publish()
        idx = i
        shard = new SeenShard(i, refs.get(i), capacity, s"$outDir/part$i.bin")
      }
      shard.admit(e.key)
    }
    new Iterator[FrontierEntry] {
      def hasNext: Boolean = {
        val h = fresh.hasNext
        if (!h && shard != null) shard.publish() // full drain: publish without waiting for task end
        h
      }
      def next(): FrontierEntry = fresh.next()
    }
  }

  /** Mark on the logical plan of a `dedupFrontier` result, holding the
    * engine's filter partition count: each of its Spark partitions is whole
    * filter partitions, each one contiguous run.
    */
  private val FilterAligned = TreeNodeTag[Int]("graft.filterAligned")

  /** `(host, depth)` frontier candidates of committed result rows: each
    * row's stored `discovered` hosts, one level below the row's depth.
    * Reads two narrow columns, never the result document.
    */
  def discoveredRows(results: DataFrame): DataFrame =
    results.select(explode(col("discovered")).as("host"), (col("depth") + 1).as("depth"))

  /** Column of a bucket's probe salt on the probe stage's input. */
  private val ProbeSalt = "probe_salt"

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
  private val checkpointT = new SnapTable(spark, s"$workDir/checkpoint", Seq("partition_id"))
  private val backlogT = new SnapTable(spark, s"$workDir/backlog", Seq("canonical"))

  // ------------------------------------------------------------ seeds

  /** Canonicalize → punycode → xxHash64 → first-enqueue dedup (D1: RQ
    * job_id = domain; the min-seq variant wins) → scheduling attributes.
    */
  def toFrontier(seeds: Dataset[(String, Long)]): Dataset[FrontierEntry] =
    dedupFrontier(seeds.toDF("domain", "seq")
      .withColumn("canonical", Canon.canonicalizeDomainCol(col("domain")))
      .withColumn("depth", lit(0)))

  /** Discovered `(host, depth)` rows → frontier entries, by the same dedup
    * as [[toFrontier]]: every row of a canonical has its seq
    * ([[Engine.discoverySeq]]), so the min domain wins, and the min depth
    * (two parents at different depths → the shallower wins, so the depth
    * cap is never pessimistic).
    */
  private[graft] def toFrontierDiscovered(hosts: DataFrame): Dataset[FrontierEntry] =
    dedupFrontier(hosts.toDF("domain", "depth")
      .withColumn("canonical", Canon.canonicalizeDomainCol(col("domain")))
      .withColumn("seq", discoverySeq(col("canonical"))))

  /** Rows with `domain`, `canonical`, `seq` and `depth` → one entry per
    * canonical ([[Engine.firstEnqueued]]), with no sort: the rows shuffle
    * straight to their filter partition (`pmod(key, P)`) and each is
    * deduped by a hash map. The coalesce keeps the session's task count
    * for whatever reads the entries; a task runs its filter partitions one
    * after another, each as one contiguous run, so it holds one
    * partition's distinct canonicals at a time. The result is marked
    * [[Engine.FilterAligned]]: admission runs in this stage, with no
    * exchange of its own. The entry builder runs after the coalesce so that
    * the frame does not end in one: Catalyst drops a coalesce that sits
    * directly under a repartition (CollapseRepartition), which would leave
    * the dedup stage with P tasks under a consumer that repartitions.
    */
  private def dedupFrontier(rows: DataFrame): Dataset[FrontierEntry] = {
    val u = universe
    val entries = byFilterPartition(rows.withColumn("key", xxhash64(col("canonical"))))
      .select("domain", "canonical", "key", "seq", "depth").as[FrontierRow]
      .mapPartitions(firstEnqueued)
      .coalesce(sessionTasks)
      .map(entryOf(u, _))
    entries.queryExecution.logical.setTagValue(FilterAligned, frontierPartitions)
    entries
  }

  /** `rows` shuffled so that Spark partition `i` is filter partition `i`:
    * the rows whose `pmod(key, P)` is `i`.
    */
  private def byFilterPartition(rows: DataFrame): DataFrame =
    rows.repartitionById(frontierPartitions,
      pmod(col("key"), lit(frontierPartitions.toLong)).cast("int"))

  /** The session's shuffle partition count: the task count that the
    * admission front end coalesces to, and the unit of the salt and probe
    * layout sizes.
    */
  private def sessionTasks: Int = spark.conf.get("spark.sql.shuffle.partitions").toInt

  // -------------------------------------------------- seen-set filters

  private def filterDir(round: Int) = s"$workDir/filters/r$round"

  /** The committed checkpoint's round, seed watermark and snapshot refs
    * (partitions that have one), from one collect; `(0, -1, {})` before
    * the first commit.
    */
  private def committedState(): (Int, Long, Map[Int, String]) = {
    val rows = checkpointT.read().toSeq.flatMap(_.select(col("partition_id"),
        col("seen_filter_snapshot_ref"), element_at(col("fetch_counters"), "round"),
        col("offset_watermark"))
      .as[(Int, String, Long, Long)].collect())
    if (rows.isEmpty) (0, -1L, Map.empty)
    else (rows.map(_._3).max.toInt, rows.map(_._4).max,
      rows.collect { case (pid, ref, _, _) if ref.nonEmpty => pid -> ref }.toMap)
  }

  /** The committed checkpoint's snapshot refs (partitions that have one). */
  private def loadFilterRefs(): Map[Int, String] = committedState()._3

  /** Distributed seen-check + filter update of [[toFrontier]] (or
    * discovered-row) entries, in the dedup's stage: each filter partition's
    * filter is read, probed, updated with the admitted keys, and
    * re-snapshotted — the raw key set never moves to the driver.
    */
  private[graft] def admitUnseen(entries: Dataset[FrontierEntry], round: Int)
      : Dataset[FrontierEntry] =
    admitUnseenInto(entries, loadFilterRefs(), filterDir(round))

  /** Core of [[admitUnseen]] with explicit filter refs and snapshot dir —
    * the discovery pass re-admits against THIS round's seed snapshots
    * (not the last committed checkpoint) and writes to a sibling dir so
    * the two admissions of one round never clobber each other's files.
    *
    * `entries` must be this engine's [[dedupFrontier]] output, as returned
    * or cached: a task's rows are then whole filter partitions, each one
    * run ([[Engine.admitRuns]]), so admission plans no exchange and no
    * coalesce. Any other input throws `IllegalArgumentException`.
    */
  private def admitUnseenInto(entries: Dataset[FrontierEntry],
      refs: Map[Int, String], outDir: String): Dataset[FrontierEntry] = {
    require(entries.queryExecution.logical.getTagValue(FilterAligned).contains(frontierPartitions),
      "admission takes toFrontier or toFrontierDiscovered output of this engine, as returned or cached")
    val refsB = spark.sparkContext.broadcast(refs)
    val p = frontierPartitions
    val cap = filterCapacityPerPartition
    Files.createDirectories(Paths.get(outDir))
    entries.mapPartitions(admitRuns(_, p, refsB.value, cap, outDir))
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

  /** Frequency-proportional salt count (SURVEY O11): a nameserver bucket
    * holding `n` of `total` rows is split into enough cells that none
    * exceeds ~one reducer's share (`total / shuffle partitions`). A fixed
    * per-hot-bucket salt constant caps speedup as parallelism grows; this
    * adapts.
    */
  private def saltOf(n: Column, total: Column): Column = {
    greatest(lit(1L), ceil(n / greatest(lit(1L), floor(total / lit(sessionTasks.toLong)))))
      .cast("int")
  }

  /** One round's selection: the entries popped this round, each with its
    * global pop rank, and the entries deferred to later rounds.
    */
  private[graft] case class RoundSelection(
      selected: Dataset[FrontierEntry],
      /** `selected`'s columns plus its global `pop_rank` and its bucket's
        * probe salt: the probe stage's input. Both ride on the narrow
        * entry rows, so no pass joins them onto the wide result rows.
        */
      ranked: DataFrame,
      deferred: Dataset[FrontierEntry],
      nSelected: Long,
      /** `deferred`'s row count: each bucket defers `count − min(count,
        * budget)` rows (the frontier holds each canonical once). Comes
        * from an action result, so task retries cannot inflate it.
        */
      nDeferred: Long,
      /** frontier-partition id → selected count (≤ frontierPartitions rows). */
      perPartition: Map[Int, Long],
      release: () => Unit)

  /** Deterministic per-round admission under per-bucket budgets: the
    * first `budget(bucket)` entries of each nameserver bucket by
    * `(priority, seq, canonical)`, ranked globally by `(nsBucket,
    * priority, seq, canonical)`. Identical at any parallelism because
    * every input is deterministic.
    *
    * A bucket contributes exactly `min(count, budget)` rows, so one pass
    * over the per-bucket frontier counts (one row per bucket, budgets
    * evaluated on executors) yields everything the rank needs before it
    * runs: the selected and deferred totals (the loop's drain check and
    * counter), the largest budget, each bucket's rank salt and probe salt
    * ([[saltOf]] over its frontier and its selected count), and each
    * bucket's `pop_rank` offset (the rows all lower buckets contribute).
    * That frame rides a broadcast join, so `pop_rank` = offset + in-bucket
    * rank needs no second pass over the selected rows, and no driver
    * structure grows with the bucket count.
    *
    * Two-phase rank so a hot bucket never sorts its whole frontier on one
    * reducer: phase 1 ranks within (bucket, salt) cells — an entry past the
    * budget inside ANY subset containing it is past the budget globally, so
    * pruning to the per-cell top-budget is lossless — leaving ≤ salt×budget
    * survivors per bucket for the exact phase-2 re-rank. The literal
    * `_r1 <= maxBudget` conjunct lets Spark's WindowGroupLimit prune inside
    * the phase-1 sort.
    */
  private[graft] def selectRound(frontier: Dataset[FrontierEntry]): RoundSelection = {
    val u = universe
    val byBucket = Window.orderBy(col("mb"))
    val all = byBucket.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val buckets = frontier.groupBy(col("nsBucket")).count().as[(Int, Long)]
      .map { case (b, c) =>
        val budget = u.policyBudget(b)
        (b, c, budget, math.max(0L, math.min(c, budget.toLong))) // rows it contributes
      }
      .toDF("mb", "count", "budget", "take")
      .select(col("mb"), col("budget"),
        saltOf(col("count"), sum(col("count")).over(all)).as("salt"),
        saltOf(col("take"), sum(col("take")).over(all)).as(ProbeSalt),
        coalesce(sum(col("take")).over(
          byBucket.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("offset"),
        max(col("budget")).over(all).as("maxBudget"),
        sum(col("take")).over(all).as("nSelected"),
        sum(col("count")).over(all).as("nFrontier"))
      .cache()
    // an empty frontier has no buckets: nothing selected
    val (maxBudget, nSelected, nFrontier) =
      buckets.select(col("maxBudget"), col("nSelected"), col("nFrontier"))
        .as[(Int, Long, Long)].head(1).headOption.getOrElse((0, 0L, 0L))
    val rankOrder = Seq(col("priority"), col("seq"), col("canonical"))
    val w1 = Window.partitionBy(col("nsBucket"), pmod(col("key"), col("salt")))
      .orderBy(rankOrder: _*)
    val w2 = Window.partitionBy(col("nsBucket")).orderBy(rankOrder: _*)
    val ranked = frontier
      .join(broadcast(buckets.select("mb", "budget", "salt", "offset", ProbeSalt)),
        col("nsBucket") === col("mb"))
      .withColumn("_r1", row_number().over(w1))
      .where(col("_r1") <= lit(maxBudget) && col("_r1") <= col("budget"))
      .withColumn("_rank", row_number().over(w2))
      .where(col("_rank") <= col("budget"))
      .withColumn("pop_rank", col("offset") + col("_rank"))
      .drop("mb", "budget", "salt", "offset", "_r1", "_rank")
      .cache()
    val selected = ranked.drop("pop_rank", ProbeSalt).as[FrontierEntry]
    val deferred = frontier
      .join(ranked.select(col("canonical").as("_selc")),
        col("canonical") === col("_selc"), "left_anti")
      .as[FrontierEntry]
    // an RDD count: one Spark job, where a DataFrame groupBy adds an
    // AQE shuffle job
    val fp = frontierPartitions.toLong
    val perPartition =
      if (nSelected == 0) Map.empty[Int, Long]
      else ranked.select(pmod(col("key"), lit(fp)).cast("int")).as[Int].rdd
        .countByValue().toMap
    RoundSelection(selected, ranked, deferred, nSelected, nFrontier - nSelected, perPartition,
      release = () => { ranked.unpersist(); buckets.unpersist(); () })
  }

  // ------------------------------------------------------------ crawl

  /** Crawl one admitted set: each entry's [[Probes.processDomain]]
    * document, stamped by the engine's clock.
    *
    * Partitioning: [[probeLayout]], with each bucket's salt from its share
    * of `entries` ([[saltOf]], the formula the round loop applies to
    * its selected counts). `sizeHint` only sizes the task count.
    */
  def crawlEntries(entries: Dataset[FrontierEntry],
      sizeHint: Option[Long] = None): Dataset[DomainResult] = {
    val (u, conf, ck) = (svc, cfg, clock)
    // cache only if the caller hasn't (re-caching would log "already
    // cached" and double-register storage): the bucket counts and the
    // probes both read it
    val needCache = entries.storageLevel == StorageLevel.NONE
    val input = if (needCache) entries.cache() else entries
    // one row per bucket, collected: the salts then plan as a local
    // relation, with no window stage or broadcast job of their own
    val counts = input.groupBy(col("nsBucket")).count().as[(Int, Long)].collect().toSeq
    val salts = counts.toDF("mb", "count")
      .select(col("mb"), saltOf(col("count"), lit(counts.map(_._2).sum)).as(ProbeSalt))
    val result = probeLayout(input.join(broadcast(salts), col("nsBucket") === col("mb"))
        .drop("mb"), sizeHint)
      .as[FrontierEntry]
      .mapPartitions { it =>
        val p = new Probes(u, conf)
        it.map(e => p.processDomain(e.canonical, ck.now()))
      }
    // release input's storage once the crawl plan itself has run (the
    // result plan, not input, is the listener trigger)
    if (needCache) graft.ops.DedupOps.unpersistAfter(result, input)
    result
  }

  /** The probe stage's input layout: range-partitioned on `(nsBucket,
    * salt, key)`, over any frame that carries the [[FrontierEntry]] columns
    * and a `probe_salt` column. Same-provider domains co-locate,
    * so each partition's [[Probes]] NS-IP cache hits like the reference's
    * Redis cache (`dns_utils.py:235-253`); hot providers are split across
    * reducers (duplicate NS-IP probes only across salt splits, bounded by
    * the salt count); range partitioning avoids hash-collision imbalance
    * at high core counts.
    */
  private def probeLayout(input: DataFrame, sizeHint: Option[Long]): DataFrame = {
    // Explicit partition count: the probe stage is compute-bound on tiny
    // rows, so AQE's byte-based coalescing would collapse it onto a few
    // cores (40 MB of FrontierEntry rows ≈ hours of probe CPU at real
    // scale). 8× cores measured best at both 8 and 32 cores (500k-domain
    // legs: ×4 → 6.4/5.2 s, ×8 → 6.1/3.8 s, ×16 → 7.6/3.5 s at 8/32
    // cores) — probe cost varies per domain (NS fan-out, redirect
    // chains), so finer tasks amortize the last wave's stragglers; user
    // partition counts are preserved by AQE.
    val tasksPerCore = 8
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
    val rowsPerTask = 2000L
    val shuffleParts = sessionTasks
    val maxParts = shuffleParts * tasksPerCore
    val probeParts = sizeHint match {
      case Some(n) =>
        math.max(shuffleParts.toLong, math.min(maxParts.toLong,
          n / rowsPerTask + 1L)).toInt
      case None => maxParts
    }
    input
      .withColumn("_salt", pmod(col("key"), col(ProbeSalt)))
      .repartitionByRange(probeParts, col("nsBucket"), col("_salt"), col("key"))
      .drop("_salt", ProbeSalt)
  }

  /** One round's result rows: each selected entry probed once, by the
    * same per-partition [[Probes]] and layout as [[crawlEntries]], with its
    * pop order, its depth and the hosts its result yields for discovery.
    * An RDD, so the results commit plans no [[DomainResult]] serializer:
    * it encodes through [[Engine.ResultRows]]' pooled serializers.
    */
  private def probeRanked(ranked: DataFrame, nSelected: Long, round: Int): RDD[ResultRow] = {
    val (u, conf, ck, dcfg) = (svc, cfg, clock, discovery)
    val entry = struct(Encoders.product[FrontierEntry].schema.fieldNames.toSeq.map(col): _*)
    probeLayout(ranked, Some(nSelected))
      .select(entry.as("_1"), col("pop_rank").as("_2"))
      .as[(FrontierEntry, Long)].rdd
      .mapPartitions { it =>
        val p = new Probes(u, conf)
        it.map { case (e, rank) =>
          val r = p.processDomain(e.canonical, ck.now())
          ResultRow(r.domain, round, rank, e.depth, dcfg.hostsOf(r, e.depth), r)
        }
      }
  }

  // ------------------------------------------------------------- run

  /** Batch-iterative frontier loop with MERGE checkpoints. Safe to stop
    * after any round and re-invoke: resumes from the committed snapshot.
    */
  def run(docs: Dataset[Doc], maxRounds: Int = Int.MaxValue): Seq[RoundStats] = {
    val seeds = extractSeeds(docs).cache()
    val stats = scala.collection.mutable.ArrayBuffer.empty[RoundStats]

    // the checkpoint is read once per run: each later round starts from
    // the refs the round before it committed
    var (round, watermark, committedRefs) = committedState()
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
      // snapshots; the count materializes this round's snapshots
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

      // 4. politeness: this round's entries under per-bucket budgets
      val sel = timed("select")(selectRound(frontier))
      val selected = sel.selected
      val deferred = sel.deferred // consumed once (backlog commit) — no cache
      val nSelected = sel.nSelected

      if (nSelected == 0 && newWatermark == watermark) {
        done = true
      } else {
        // 5. crawl + results commit: one probe pass. Task count sized to
        // the politeness-bounded round. Each row carries its pop order, its
        // depth and the hosts its result yields for discovery, so nothing
        // after this commit reads a result document or re-runs a probe.
        val probed = timed("crawl_plan")(probeRanked(sel.ranked, nSelected, round))
        val resultsV = timed("commit_results")(resultsT.mergeCommit(ResultRows.frame(spark, probed)))
        // nCrawled ≡ nSelected by construction (the crawl stage is a 1:1
        // map over the selected set). Derived, not accumulated:
        // accumulators are exactly-once only for actions, so a
        // retried/speculative task would double-count.
        val nCrawled = nSelected

        // 5b. discovery: the hosts stored with this round's results (two
        // narrow columns of the delta just committed) re-enter the frontier
        // as depth+1 entries, deduped against everything ever admitted via
        // THIS round's filter snapshots (so a host that is both a seed and
        // a discovery is crawled exactly once), written to a sibling
        // snapshot dir (r${round}d).
        var nDiscovered = 0L
        var discBacklog: Option[Dataset[BacklogRow]] = None
        var discCached: Option[Dataset[FrontierEntry]] = None
        if (discovery.enabled) {
          val found = discoveredRows(resultsT.delta(resultsV, ResultRows.schema))
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

        // 6. Remaining MERGE commits: backlog + checkpoint (results
        // committed above — commit_results pays the probe + wide encode +
        // write).
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
        timed("commit_backlog")(backlogT.mergeCommit((discBacklog match {
          case Some(d) => backlogUpdates.unionByName(d.toDF())
          case None => backlogUpdates
        }).coalesce(writeParts)))
        discCached.foreach(_.unpersist())
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
              "crawled" -> nCrawled, "deferred" -> sel.nDeferred,
              "discovered" -> nDiscovered,
              "partition_crawled" -> perPartition.getOrElse(pid, 0L),
              "partition_per_sec" ->
                (perPartition.getOrElse(pid, 0L) / math.max(roundSecs, 1e-9)).toLong))
        }
        timed("commit_ckpt")(checkpointT.mergeCommit(
          spark.createDataset(lineage).toDF().coalesce(1)))
        // bound the merge-on-read delta chains: the backlog is re-read
        // every round (frontier build) and the checkpoint at every run's
        // start, so their read cost otherwise grows linearly with rounds —
        // the same reason Iceberg schedules its rewrite (compaction)
        // action on hot tables. Results are only read after the run; they
        // stay append-only.
        if (round % 8 == 0)
          timed("compact") { backlogT.compact(); checkpointT.compact() }

        watermark = newWatermark
        committedRefs = finalRefs
        stats += RoundStats(round, nAdmitted, nCrawled, sel.nDeferred,
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
  /** The span table: a read-time view of the results table
    * ([[SpanCodec.view]]), one span document per result row.
    */
  object spansTable {
    def read(): Option[DataFrame] = resultsT.read().map(SpanCodec.view)
  }
  def checkpointTable: SnapTable = checkpointT
}
