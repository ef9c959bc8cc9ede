package graft

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{DeserializeToObject, LogicalPlan, SerializeFromObject}
import org.apache.spark.sql.execution.{AppendColumnsExec, AppendColumnsWithObjectExec, CoalesceExec,
  QueryExecution, SortExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.SortAggregateExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, ObjectType}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.canon.Canon
import graft.engine.Engine
import graft.frontier.CuckooFilter
import graft.model.Model.{Doc, DomainResult, FrontierEntry, Span}
import graft.spans.SpanCodec
import graft.universe.Universe

/** Tight per-round budgets so the politeness/backlog path is exercised at
  * test scale (top-level class: test closures must stay serializable).
  */
class TightBudgetUniverse(seed: Long) extends Universe(seed) {
  override def policyBudget(nsBucket: Int): Int = if (nsBucket == 0) 12 else 25
}

/** [[TightBudgetUniverse]] whose scheduling attributes are defined for a
  * null canonical, so null seeds reach the entry builder.
  */
class NullSafeUniverse(seed: Long) extends TightBudgetUniverse(seed) {
  override def nsProvider(domain: String): Int = if (domain == null) -1 else super.nsProvider(domain)
  override def ttlFor(domain: String): Int = if (domain == null) -1 else super.ttlFor(domain)
}

/** The admission front end in its earlier formulation, kept as the
  * reference for the sort-free one: first-enqueue dedup as a `groupBy`
  * aggregate (`min_by` over `(seq, domain)`; `min` domain and depth for
  * discovered hosts) and admission as `groupByKey` → `flatMapGroups`
  * over fresh filters.
  */
object AdmissionReference {
  def toFrontier(u: Universe, seeds: Dataset[(String, Long)]): Dataset[FrontierEntry] =
    Engine.frontierEntries(u, seeds.toDF("domain", "seq")
      .withColumn("canonical", Canon.canonicalizeDomainCol(col("domain")))
      .groupBy(col("canonical"))
      .agg(min_by(col("domain"), struct(col("seq"), col("domain"))).as("domain"),
        min(col("seq")).as("seq"))
      .withColumn("key", xxhash64(col("canonical")))
      .withColumn("depth", lit(0)))

  def toFrontierDiscovered(u: Universe, hosts: DataFrame): Dataset[FrontierEntry] =
    Engine.frontierEntries(u, hosts.toDF("domain", "depth")
      .withColumn("canonical", Canon.canonicalizeDomainCol(col("domain")))
      .groupBy(col("canonical"))
      .agg(min(col("domain")).as("domain"), min(col("depth")).as("depth"))
      .withColumn("key", xxhash64(col("canonical")))
      .withColumn("seq", Engine.discoverySeq(col("canonical"))))

  def admit(entries: Dataset[FrontierEntry], partitions: Int, capacity: Long)
      : Dataset[FrontierEntry] = {
    import entries.sparkSession.implicits._
    entries
      .groupByKey(e => Math.floorMod(e.key, partitions.toLong).toInt)
      .flatMapGroups { (idx, it) =>
        val seen = CuckooFilter.create(capacity)
        it.filter(e => seen.admit(e.key, idx))
      }
  }
}

class EngineSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  private val spark = SparkSessionFixture.spark
  import spark.implicits._

  private val u = new TightBudgetUniverse(42L)

  /** Spark jobs one round selection runs (`Engine.selectRound`): the
    * per-bucket plan with its scalars, the broadcast of that plan, the
    * two rank windows and the per-partition counters.
    */
  private val SelectJobs = 9

  /** Spark jobs of one resumed `Engine.run` round with discovery on
    * ("a resumed round runs a pinned number of Spark jobs").
    */
  private val RoundJobs = 32

  /** Seed corpus: interleaved docs whose text spans carry domains (with
    * planted case/trailing-dot/IDN/duplicate variants via
    * `Universe.seedDomain`) and media spans whose refs must ride through.
    */
  private def seedDocs(nDomains: Int, spansPerDoc: Int = 5): Dataset[Doc] = {
    val docs = (0 until nDomains).grouped(spansPerDoc).zipWithIndex.map {
      case (idxs, d) =>
        val spans = idxs.zipWithIndex.flatMap { case (i, off) =>
          val media =
            if (i % 7 == 0) Seq(Span("media", null, s"blob://img/$i", off * 2 + 1))
            else Seq.empty
          Seq(Span("text", u.seedDomain(i.toLong), null, off * 2)) ++ media
        }
        Doc(f"doc-$d%06d", spans)
    }
    spark.createDataset(docs.toSeq)
  }

  private def newEngine(dir: String, chunk: Int = 60) =
    new Engine(spark, u, workDir = dir, frontierPartitions = 8,
      seedChunkSize = chunk)

  /** `body`'s result and the Spark jobs it ran on this thread, counted by
    * a listener filtered to a job group of its own.
    */
  private def countJobs[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = "count-jobs-" + System.nanoTime()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted")
    val out =
      try body
      finally {
        sc.clearJobGroup()
        org.apache.spark.ListenerDrain(sc)
        sc.removeSparkListener(listener)
      }
    (out, jobs.get)
  }

  private def resultKeys(e: Engine): Seq[(String, Int, Long)] =
    e.resultsTable.read().get
      .select("domain", "pop_round", "pop_rank")
      .as[(String, Int, Long)].collect().sortBy(r => (r._2, r._3)).toSeq

  test("end-to-end: dedup via canonicalize + seen-set, politeness deferral, all crawled") {
    val dir = graft.TmpDirs.create("engine-e2e").toString
    val docs = seedDocs(150)
    val eng = newEngine(dir)
    val stats = eng.run(docs)
    assert(stats.nonEmpty)
    // politeness budget (12/25 per round) forces deferrals across rounds
    assert(stats.exists(_.deferred > 0), s"expected deferrals, got $stats")
    // the phase timers account for the round: nothing large runs untimed
    stats.foreach { s =>
      assert(s.phases.values.sum >= 0.8 * s.seconds,
        f"round ${s.round}: phases sum to ${s.phases.values.sum}%.2f of ${s.seconds}%.2f s: ${s.phases}")
    }

    val results = eng.resultsTable.read().get
    val domains = results.select("domain").as[String].collect()
    assert(domains.length == domains.distinct.length, "seen-set let a duplicate through")

    // every canonical seed is crawled exactly once
    val expected = (0 until 150).map(i => graft.canon.Canon.canonicalize(u.seedDomain(i.toLong))).distinct
    assert(domains.sorted.toSeq == expected.sorted)

    // planted case-variant duplicates collapsed (D1: controller.py:59)
    assert(domains.count(_ == "d0.cz") <= 1)

    // results carry the full nested document
    val one = results.where($"domain" === domains.head).select("result.DNS_LOCAL.DNSSEC.valid")
    assert(one.count() == 1)

    // each round's deferred counter is the backlog's active rows after
    // it: backlog and checkpoint commit once per round and compact
    // together, so version v of each holds the same round's state
    val ckpt = eng.checkpointTable
    val backlog = new graft.tables.SnapTable(spark, s"$dir/backlog", Seq("canonical"))
    assert(backlog.currentVersion == ckpt.currentVersion)
    val perVersion = (1 to ckpt.currentVersion.get).map { v =>
      val counters = ckpt.read(Some(v)).get
        .select(element_at($"fetch_counters", "round"), element_at($"fetch_counters", "deferred"))
        .as[(Long, Long)].distinct().collect()
      assert(counters.length == 1, s"checkpoint v$v mixes rounds: ${counters.toSeq}")
      val active = backlog.read(Some(v)).get.where($"active").count()
      assert(counters.head._2 == active,
        s"round ${counters.head._1}: deferred ${counters.head._2}, backlog holds $active active rows")
      counters.head
    }
    assert(perVersion.distinct == stats.map(s => (s.round.toLong, s.deferred)))
  }

  test("rounds after the first plan no DomainResult serializer or deserializer") {
    // a session of its own (docs included: derived Datasets report to the
    // session of their input), so its listener sees only this run's queries
    val session = spark.newSession()
    val dir = graft.TmpDirs.create("engine-plans").toString
    val docs = session.createDataset(seedDocs(150).collect().toSeq)(Encoders.product[Doc])
    def eng = new Engine(session, u, workDir = dir, frontierPartitions = 8,
      seedChunkSize = 60, discovery = Engine.DiscoveryConfig.on.copy(maxDepth = 1))
    assert(eng.run(docs, maxRounds = 1).map(_.round) == Seq(1))
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe.analyzed)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = plans.add(qe.analyzed)
    }
    session.listenerManager.register(listener)
    val stats =
      try eng.run(docs, maxRounds = 3)
      finally {
        org.apache.spark.ListenerDrain(spark.sparkContext)
        session.listenerManager.unregister(listener)
      }
    assert(stats.map(_.round) == Seq(2, 3))
    val wide = ObjectType(classOf[DomainResult])
    def carriesResult(e: Expression): Boolean = e.exists(_.dataType == wide)
    import scala.jdk.CollectionConverters._
    val offending = plans.asScala.toSeq.flatMap(_.collect {
      case s: SerializeFromObject if s.serializer.exists(carriesResult) => s.nodeName
      case d: DeserializeToObject if carriesResult(d.deserializer) => d.nodeName
    })
    val writes = plans.asScala.toSeq.collect {
      case w: InsertIntoHadoopFsRelationCommand => w.outputPath.toString
    }
    assert(writes.count(_.contains("/results/data/")) == 2, s"writes seen: $writes")
    assert(offending.isEmpty, s"${offending.size} wide object plans: $offending")
  }

  test("the committed results schema is the ResultRow encoder's, nested nullability included") {
    val dir = graft.TmpDirs.create("engine-schema").toString
    val eng = newEngine(dir)
    eng.run(seedDocs(40), maxRounds = 1)
    val file = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "results", "data", "v1"))
      .filter(_.toString.endsWith(".parquet")).findFirst().get
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.toString), spark.sparkContext.hadoopConfiguration))
    val stored = try reader.getFooter.getFileMetaData.getKeyValueMetaData
      .get("org.apache.spark.sql.parquet.row.metadata") finally reader.close()
    assert(DataType.fromJson(stored) == Encoders.product[Engine.ResultRow].schema)
  }

  test("pop order is deterministic and independent of shuffle parallelism") {
    val docs = seedDocs(120)
    val dirA = graft.TmpDirs.create("engine-pA").toString
    val dirB = graft.TmpDirs.create("engine-pB").toString
    val old = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "3")
      newEngine(dirA).run(docs)
      spark.conf.set("spark.sql.shuffle.partitions", "13")
      newEngine(dirB).run(docs)
    } finally spark.conf.set("spark.sql.shuffle.partitions", old)
    val a = resultKeys(newEngine(dirA))
    val b = resultKeys(newEngine(dirB))
    assert(a == b, "crawl order changed with parallelism")
  }

  test("resume from checkpoint reproduces the uninterrupted run bit-for-bit") {
    val docs = seedDocs(100)
    val dirFull = graft.TmpDirs.create("engine-full").toString
    val dirResume = graft.TmpDirs.create("engine-resume").toString

    newEngine(dirFull).run(docs) // uninterrupted

    val interrupted = newEngine(dirResume)
    val partial = interrupted.run(docs, maxRounds = 2) // "crash" after 2 rounds
    assert(partial.size <= 2)
    val resumed = newEngine(dirResume) // fresh engine, same checkpoint dir
    resumed.run(docs)

    assert(resultKeys(newEngine(dirFull)) == resultKeys(newEngine(dirResume)))

    // span-sequence equality: per-row (kind, text, media_ref, order) of
    // the span view over each side's results table
    def spanRows(dir: String) = SpanCodec.view(newEngine(dir).resultsTable.read().get)
      .selectExpr("doc_id", "explode(spans) AS s")
      .selectExpr("doc_id", "s.kind", "coalesce(s.text, '∅') AS t",
        "coalesce(s.media_ref, '∅') AS m", "s.offset")
      .as[(String, String, String, String, Int)].collect().sorted.toSeq
    assert(spanRows(dirFull) == spanRows(dirResume))
    // the spans are a view: no span table is stored
    assert(!Files.exists(java.nio.file.Paths.get(dirResume, "result_spans")))
  }

  test("resume across a compaction boundary reproduces the uninterrupted run") {
    // the loop compacts backlog/checkpoint every 8 rounds; force >8 rounds
    // with a tiny seed chunk and crash just after the compaction fires, so
    // resume must rebuild its frontier and watermark from a compacted
    // (single-delta) snapshot plus post-compaction commits
    val docs = seedDocs(120)
    val dirFull = graft.TmpDirs.create("engine-compact-full").toString
    val dirResume = graft.TmpDirs.create("engine-compact-resume").toString

    val full = newEngine(dirFull, chunk = 12).run(docs)
    assert(full.size > 9, s"need >9 rounds to cross the compaction, got ${full.size}")

    val interrupted = newEngine(dirResume, chunk = 12)
    interrupted.run(docs, maxRounds = 9) // "crash" right after round-8 compact
    newEngine(dirResume, chunk = 12).run(docs)

    assert(resultKeys(newEngine(dirFull)) == resultKeys(newEngine(dirResume)))
  }

  test("the round selection runs a pinned number of Spark jobs") {
    val eng = newEngine(graft.TmpDirs.create("engine-seljobs").toString)
    val frontier = eng.toFrontier(spark.createDataset(
      (0 until 300).map(i => (u.seedDomain(i.toLong), i.toLong)))).cache()
    frontier.count()
    val (sel, jobs) = countJobs(eng.selectRound(frontier))
    try {
      // budgets 12/25 defer part of the frontier
      assert(sel.nSelected > 0 && sel.nSelected < frontier.count())
      assert(jobs == SelectJobs, s"selection ran $jobs jobs")
    } finally { sel.release(); frontier.unpersist() }
  }

  test("a resumed round runs a pinned number of Spark jobs") {
    val dir = graft.TmpDirs.create("engine-roundjobs").toString
    val docs = seedDocs(150)
    def eng = new Engine(spark, u, workDir = dir, frontierPartitions = 8,
      seedChunkSize = 60, discovery = Engine.DiscoveryConfig.on.copy(maxDepth = 1))
    assert(eng.run(docs, maxRounds = 1).map(_.round) == Seq(1))
    val (stats, jobs) = countJobs(eng.run(docs, maxRounds = 2))
    // the round takes seeds, defers and discovers: every pass runs
    assert(stats.map(_.round) == Seq(2))
    assert(stats.head.admitted > 0 && stats.head.deferred > 0 && stats.head.discovered > 0,
      s"round 2 skipped a pass: ${stats.head}")
    assert(jobs == RoundJobs, s"round 2 ran $jobs jobs")
  }

  test("crawlEntries task count: size hint clamps between one wave and the 8x ceiling") {
    val eng = newEngine(graft.TmpDirs.create("engine-parts").toString)
    val seeds = spark.createDataset((0L until 64L).map(u.seedDomain))
    val entries = eng.toFrontier(
      seeds.toDF("domain").withColumn("seq",
        org.apache.spark.sql.functions.xxhash64($"domain")).as[(String, Long)]).cache()
    entries.count()
    val shuffleParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // tiny hinted round: floor at one wave of cores, not 8x
    val hinted = eng.crawlEntries(entries, sizeHint = Some(60L))
    assert(hinted.rdd.getNumPartitions == shuffleParts,
      s"tiny hinted round should run one wave ($shuffleParts), got ${hinted.rdd.getNumPartitions}")
    // huge hint: capped at the 8x straggler-amortization ceiling
    val big = eng.crawlEntries(entries, sizeHint = Some(10L * 1000 * 1000))
    assert(big.rdd.getNumPartitions == shuffleParts * 8)
    // no hint (one-shot path): unchanged 8x default
    val none = eng.crawlEntries(entries)
    assert(none.rdd.getNumPartitions == shuffleParts * 8)
    entries.unpersist()
  }

  test("one-shot library API crawls a plain domain dataset") {
    val ds = spark.createDataset(Seq("nic.cz", "d1.cz", "D1.CZ", "d2.cz."))
    val eng = newEngine(graft.TmpDirs.create("engine-lib").toString)
    val out = eng.crawlDomains(ds).collect()
    assert(out.map(_.domain).sorted.toSeq == Seq("d1.cz", "d2.cz", "nic.cz"))
    val nic = out.find(_.domain == "nic.cz").get
    assert(nic.DNS_LOCAL.DNSSEC.valid.contains(true))
    assert(nic.DNS_AUTH.get.map(_.ns).sorted ==
      Seq("a.ns.nic.cz", "b.ns.nic.cz", "d.ns.nic.cz"))
  }

  test("extractSeeds survives digit-less and digit-colliding doc ids (ANSI-safe)") {
    val eng = newEngine(graft.TmpDirs.create("engine-ids").toString)
    val docs = spark.createDataset(Seq(
      Doc("intro", Seq(Span("text", "alpha.cz", null, 0))), // no digits
      Doc("a-7", Seq(Span("text", "beta.cz", null, 0))),    // same digit run...
      Doc("b-7", Seq(Span("text", "gamma.cz", null, 0))),   // ...as this one
      Doc("x" + "9" * 40, Seq(Span("text", "delta.cz", null, 0))) // absurd digit run
    ))
    val seeds = Engine.extractSeeds(docs).collect()
    assert(seeds.map(_._1).sorted.toSeq == Seq("alpha.cz", "beta.cz", "delta.cz", "gamma.cz"))
    // colliding doc keys still crawl BOTH domains (tie broken by canonical)
    val stats = eng.run(docs)
    assert(stats.nonEmpty)
    val out = eng.resultsTable.read().get.select("domain").as[String].collect()
    assert(out.sorted.toSeq == Seq("alpha.cz", "beta.cz", "delta.cz", "gamma.cz"))
  }

  test("crawlEntries equals a fresh Probes.processDomain per domain") {
    val eng = newEngine(graft.TmpDirs.create("engine-probes").toString)
    val seeds = spark.createDataset((0L until 80L).map(u.seedDomain))
    val entries = eng.toFrontier(
      seeds.toDF("domain").withColumn("seq",
        org.apache.spark.sql.functions.monotonically_increasing_id())
        .as[(String, Long)])
    val crawled = eng.crawlEntries(entries).collect().sortBy(_.domain).toSeq
    // domains share nameserver IPs, so a partition's NS-IP cache is hit
    val domainsPerNsIp = crawled
      .flatMap(r => r.DNS_AUTH.toSeq.flatten
        .flatMap(a => a.ipv4.toSeq.flatten ++ a.ipv6.toSeq.flatten)
        .map(_.ip -> r.domain))
      .distinct.groupBy(_._1).values.map(_.size)
    assert(domainsPerNsIp.exists(_ >= 2), "no NS IP is shared by two domains")
    val fresh = crawled.map(r => new graft.probes.Probes(u, graft.probes.CrawlConfig())
      .processDomain(r.domain, Engine.Clock.fixedStamp))
    assert(crawled == fresh)
  }

  test("media spans in the input corpus are preserved verbatim on read-back") {
    val docs = seedDocs(30)
    val refs = docs.selectExpr("explode(spans) AS s").where($"s.kind" === "media")
      .select("s.media_ref").as[String].collect()
    assert(refs.nonEmpty && refs.forall(_.startsWith("blob://img/")))
  }

  test("seen-filter snapshots are complete, atomically-published files even " +
      "when the consumer stops early") {
    import java.nio.file.{Files => F, Paths}
    val dir = graft.TmpDirs.create("engine-snap").toString
    val eng = newEngine(dir)
    val seeds = spark.createDataset(
      (0 until 200).map(i => (u.seedDomain(i.toLong), i.toLong)))
    val entries = eng.toFrontier(seeds)
    // early-out consumer (the round-1 failure mode the drain-only snapshot
    // had): limit stops tasks before the iterator drains. The stage is
    // coalesced, so a task runs several filter partitions in turn
    val early = eng.admitUnseen(entries, round = 0).limit(3)
    val coalesced = collect(early.queryExecution.executedPlan) { case c: CoalesceExec => c.numPartitions }
    assert(coalesced.nonEmpty && coalesced.forall(_ < 8), s"coalesced to $coalesced")
    early.collect()
    val fdir = Paths.get(s"$dir/filters/r0")
    // task-completion backstop publishes what each started task admitted;
    // poll briefly — cancelled tasks finish just after collect returns
    import scala.jdk.CollectionConverters._
    def bins = {
      val s = F.list(fdir); try s.iterator().asScala.map(_.toString).toVector finally s.close()
    }
    // generous window: cancelled-task completion can lag under full-suite
    // CPU contention; the loop exits as soon as the first file lands
    val deadline = System.nanoTime() + 30000000000L
    while (bins.count(_.endsWith(".bin")) == 0 && System.nanoTime() < deadline)
      Thread.sleep(50)
    val published = bins
    assert(published.exists(_.endsWith(".bin")), s"no snapshot published: $published")
    // atomic rename: every published file is a complete, parseable filter
    published.filter(_.endsWith(".bin")).foreach { f =>
      graft.frontier.CuckooFilter.deserialize(F.readAllBytes(Paths.get(f)))
    }
    // a full drain on a later round leaves no temp files behind
    eng.admitUnseen(entries, round = 1).count()
    val fdir1 = Paths.get(s"$dir/filters/r1")
    val s1 = F.list(fdir1)
    val all1 = try s1.iterator().asScala.map(_.getFileName.toString).toVector finally s1.close()
    assert(all1.nonEmpty && all1.forall(_.endsWith(".bin")), s"leftovers: $all1")
  }

  test("seen-set admission plans no sort") {
    val eng = newEngine(graft.TmpDirs.create("engine-nosort").toString)
    val seeds = spark.createDataset((0 until 200).map(i => (u.seedDomain(i.toLong), i.toLong)))
    def sortNodes(ds: Dataset[FrontierEntry]): Set[String] = {
      ds.collect() // the final adaptive plan
      collect(ds.queryExecution.executedPlan) {
        case p @ (_: SortExec | _: SortAggregateExec | _: AppendColumnsExec |
            _: AppendColumnsWithObjectExec) => p.nodeName
      }.toSet
    }
    val admitted = eng.admitUnseen(eng.toFrontier(seeds), round = 0)
    assert(sortNodes(admitted).isEmpty)
    // the check sees all three in the earlier formulation
    assert(sortNodes(AdmissionReference.admit(AdmissionReference.toFrontier(u, seeds), 8, 1L << 20))
      == Set("Sort", "SortAggregate", "AppendColumnsWithObject"))
    // admission runs in the dedup's stage: the dedup's is the one exchange
    val exchanges = collect(admitted.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }.size
    assert(exchanges == 1, s"admission planned $exchanges exchanges")
  }

  test("seen-set admission rejects entries that are not the dedup's output") {
    val eng = newEngine(graft.TmpDirs.create("engine-unaligned").toString)
    val seeds = spark.createDataset((0 until 50).map(i => (u.seedDomain(i.toLong), i.toLong)))
    val entries = eng.toFrontier(seeds)
    // derived from the dedup's output: a new plan, no longer marked aligned
    intercept[IllegalArgumentException](eng.admitUnseen(entries.filter(_ => true), round = 0))
    intercept[IllegalArgumentException](
      eng.admitUnseen(spark.createDataset(entries.collect().toSeq), round = 0))
    // the dedup's output itself, cached or not, is accepted
    val cached = entries.cache()
    try assert(eng.admitUnseen(cached, round = 0).count() == cached.count())
    finally cached.unpersist()
  }

  test("a seed tie keeps the domain first in UTF-8 byte order") {
    // MATHEMATICAL BOLD SMALL A (non-BMP) and FULLWIDTH SMALL A both map
    // to "a" in IDNA: String.compareTo puts the first before the second,
    // UTF-8 byte order (Spark's) the second before the first
    val (bold, wide) = ("x\uD835\uDC1A.cz", "x\uFF41.cz")
    assert(Canon.canonicalize(bold) == "xa.cz" && Canon.canonicalize(wide) == "xa.cz")
    assert(bold.compareTo(wide) < 0 && Engine.utf8Order(bold, wide) > 0)
    val eng = newEngine(graft.TmpDirs.create("engine-tie").toString)
    val out = eng.toFrontier(spark.createDataset(Seq((bold, 7L), (wide, 7L)))).collect()
    assert(out.map(e => (e.domain, e.canonical, e.seq)).toSeq == Seq((wide, "xa.cz", 7L)))
  }

  test("property: toFrontier and discovered-row admission equal the groupBy/groupByKey " +
      "formulation at 1 and 4 shuffle partitions") {
    val nu = new NullSafeUniverse(42L)
    def variant(d: String, v: Int): String = v match {
      case 0 => d
      case 1 => d.toUpperCase(java.util.Locale.ROOT)
      case 2 => d + "."
      case 3 => s" $d\t"
      case _ => d.capitalize + "."
    }
    // few canonicals, many raw variants of each
    val genDomain: Gen[String] = Gen.frequency(
      8 -> (for (i <- Gen.choose(0, 5); v <- Gen.choose(0, 4)) yield variant(s"d$i.cz", v)),
      2 -> (for (i <- Gen.choose(0, 2); v <- Gen.choose(0, 2)) yield variant(s"háčky-$i.cz", v)),
      2 -> Gen.oneOf("x\uD835\uDC1A.cz", "x\uFF41.cz", "xa.cz", "XA.CZ."),
      1 -> Gen.const(null))
    val genSeeds = Gen.listOf(Gen.zip(genDomain, Gen.choose(0L, 4L))) // seq ties
    val genHosts = Gen.listOf(Gen.zip(genDomain, Gen.choose(1, 3)))
    def sorted(ds: Dataset[FrontierEntry]): Seq[FrontierEntry] =
      ds.collect().toSeq.sortBy(_.toString)
    val prop = Prop.forAll(genSeeds, genHosts) { (seedRows, hostRows) =>
      val dir = graft.TmpDirs.create("engine-prop").toString
      val eng = new Engine(spark, nu, workDir = dir, frontierPartitions = 8)
      val seeds = spark.createDataset(seedRows)
      val hosts = hostRows.toDF("host", "depth")
      val seedsOk = sorted(eng.toFrontier(seeds)) == sorted(AdmissionReference.toFrontier(nu, seeds))
      val admitted = sorted(eng.admitUnseen(eng.toFrontierDiscovered(hosts), round = 0))
      val hostsOk = admitted ==
        sorted(AdmissionReference.admit(AdmissionReference.toFrontierDiscovered(nu, hosts),
          8, 1L << 20))
      // a task runs several filter partitions: each one's snapshot holds
      // exactly its admitted keys, and a partition with none writes nothing
      val snapshotsOk = (0 until 8).forall { i =>
        val keys = admitted.map(_.key).filter(k => Math.floorMod(k, 8L) == i)
        val f = java.nio.file.Paths.get(s"$dir/filters/r0/part$i.bin")
        if (keys.isEmpty) !Files.exists(f)
        else {
          val filter = CuckooFilter.deserialize(Files.readAllBytes(f))
          filter.size == keys.size && keys.forall(filter.contains)
        }
      }
      Prop(seedsOk) :| "seeds" && Prop(hostsOk) :| "discovered hosts" &&
        Prop(snapshotsOk) :| "published snapshots"
    }
    val old = spark.conf.get("spark.sql.shuffle.partitions")
    try Seq("1", "4").foreach { parts =>
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
      assert(res.passed, s"at $parts shuffle partitions: ${res.status}")
    } finally spark.conf.set("spark.sql.shuffle.partitions", old)
  }
}
