package graft

import java.nio.file.Files

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{DeserializeToObject, LogicalPlan, SerializeFromObject}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.types.{DataType, ObjectType}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Engine
import graft.model.Model.{Doc, DomainResult, Span}
import graft.universe.Universe

/** Tight per-round budgets so the politeness/backlog path is exercised at
  * test scale (top-level class: test closures must stay serializable).
  */
class TightBudgetUniverse(seed: Long) extends Universe(seed) {
  override def policyBudget(nsBucket: Int): Int = if (nsBucket == 0) 12 else 25
}

class EngineSpec extends AnyFunSuite {

  private val spark = SparkSessionFixture.spark
  import spark.implicits._

  private val u = new TightBudgetUniverse(42L)

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

    // span-sequence table equality: per-row (kind, text, media_ref, order)
    def spanRows(dir: String) = newEngine(dir).spansTable.read().get
      .selectExpr("doc_id", "explode(spans) AS s")
      .selectExpr("doc_id", "s.kind", "coalesce(s.text, '∅') AS t",
        "coalesce(s.media_ref, '∅') AS m", "s.offset")
      .as[(String, String, String, String, Int)].collect().sorted.toSeq
    assert(spanRows(dirFull) == spanRows(dirResume))
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
    val seeds = eng.extractSeeds(docs).collect()
    assert(seeds.map(_._1).sorted.toSeq == Seq("alpha.cz", "beta.cz", "delta.cz", "gamma.cz"))
    // colliding doc keys still crawl BOTH domains (tie broken by canonical)
    val stats = eng.run(docs)
    assert(stats.nonEmpty)
    val out = eng.resultsTable.read().get.select("domain").as[String].collect()
    assert(out.sorted.toSeq == Seq("alpha.cz", "beta.cz", "delta.cz", "gamma.cz"))
  }

  test("per-partition probe cache and global dedup-probe-join agree") {
    val eng = newEngine(graft.TmpDirs.create("engine-dedup").toString)
    val seeds = spark.createDataset((0L until 80L).map(u.seedDomain))
    val entries = eng.toFrontier(
      seeds.toDF("domain").withColumn("seq",
        org.apache.spark.sql.functions.monotonically_increasing_id())
        .as[(String, Long)])
    val fast = eng.crawlEntries(entries, dedupAcrossPartitions = false)
      .collect().sortBy(_.domain)
    val exact = eng.crawlEntries(entries, dedupAcrossPartitions = true)
      .collect().sortBy(_.domain)
    assert(fast.toSeq == exact.toSeq)
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
    // had): limit stops tasks before the iterator drains
    eng.admitUnseen(entries, round = 0).limit(3).collect()
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
}
