package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.{col, to_json, xxhash64}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Engine
import graft.frontier.FrontierHeap
import graft.model.Model._
import graft.probes.ForwardingProbeService
import graft.universe.Universe

/** Per-probe call counter through the ProbeService seam. `dnssecState` is
  * called exactly once per `getDnsLocal`, i.e. once per crawled domain per
  * pipeline pass — the cleanest observable for how many times the engine
  * runs the probe pipeline. Local-mode executors share the JVM, so
  * a companion-object map sees every task's calls.
  */
class CountingProbeService(u: Universe, id: String) extends ForwardingProbeService(u) {
  override def dnssecState(domain: String): String = {
    CountingProbeService.bump(id, domain)
    super.dnssecState(domain)
  }
}

object CountingProbeService {
  val calls = new ConcurrentHashMap[(String, String), AtomicLong]()
  def bump(id: String, domain: String): Unit =
    calls.computeIfAbsent((id, domain), _ => new AtomicLong()).incrementAndGet()
  def countsFor(id: String): Map[String, Long] = {
    val b = Map.newBuilder[String, Long]
    calls.forEach { (k, v) => if (k._1 == id) b += k._2 -> v.get() }
    b.result()
  }
}

/** Budgets from a table; buckets it does not name get 0. */
class TableBudgetUniverse(budgets: Map[Int, Int]) extends Universe(42L) {
  override def policyBudget(nsBucket: Int): Int = budgets.getOrElse(nsBucket, 0)
}

class SelectPathSpec extends AnyFunSuite {

  private val spark = SparkSessionFixture.spark
  import spark.implicits._

  private val u = new Universe(42L)
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

  /** Full results-table digest: identity, pop order, and a hash of the
    * entire nested result tree.
    */
  private def digest(eng: Engine): Seq[(String, Int, Long, Long)] =
    eng.resultsTable.read().get
      .select(col("domain"), col("pop_round"), col("pop_rank"),
        xxhash64(to_json(col("result"))).as("h"))
      .as[(String, Int, Long, Long)].collect().sortBy(r => (r._2, r._3)).toSeq

  /** A frontier with hot buckets, (priority, seq) ties and keys of both
    * signs, plus a budget per bucket drawn both below and above its
    * count (0 included).
    */
  private val genCase: Gen[(Seq[FrontierEntry], Map[Int, Int])] = for {
    nBuckets <- Gen.choose(1, 6)
    n <- Gen.frequency(1 -> Gen.const(0), 6 -> Gen.choose(1, 240))
    entries <- Gen.listOfN(n, for {
      b <- Gen.frequency(8 -> Gen.const(0), 2 -> Gen.choose(0, nBuckets - 1))
      prio <- Gen.choose(0, 3)
      seq <- Gen.choose(0L, 12L)
      key <- Gen.long
    } yield (b, prio, seq, key))
    budgets <- Gen.listOfN(nBuckets, Gen.frequency(
      1 -> Gen.const(0), 4 -> Gen.choose(1, 20), 2 -> Gen.choose(20, 300)))
  } yield {
    // canonical names unique, in an order unrelated to (priority, seq)
    val es = entries.zipWithIndex.map { case ((b, prio, seq, key), i) =>
      val d = s"d${(i * 7919) % 1000}x$i.cz"
      FrontierEntry(d, d, key, b, prio, seq)
    }
    (es, budgets.zipWithIndex.map { case (v, b) => b -> v }.toMap)
  }

  /** The one selection against the reference heap: the selected set, each
    * entry's pop_rank as its position in `popRound` order, the deferred
    * set, and the counters the loop reads.
    */
  private def matchesHeap(es: Seq[FrontierEntry], budgets: Map[Int, Int]): Boolean = {
    val eng = new Engine(spark, new TableBudgetUniverse(budgets),
      workDir = graft.TmpDirs.create("selprop").toString, frontierPartitions = 8)
    val heap = new FrontierHeap
    heap.pushAll(es)
    val popped = heap.popRound(b => budgets.getOrElse(b, 0))
    val sel = eng.selectRound(spark.createDataset(es))
    try {
      val ranked = sel.ranked.select("canonical", "pop_rank").as[(String, Long)]
        .collect().sortBy(_._2).toSeq
      ranked == popped.map(_.canonical).zipWithIndex.map { case (c, i) => (c, i + 1L) } &&
        sel.selected.collect().toSet == popped.toSet &&
        sel.deferred.collect().toSet == heap.queued.toSet &&
        sel.nSelected == popped.size &&
        sel.perPartition == popped.groupBy(e => Math.floorMod(e.key, 8L).toInt)
          .map { case (p, g) => p -> g.size.toLong }
    } finally sel.release()
  }

  test("round selection equals the reference heap's popRound on generated frontiers") {
    val prop = Prop.forAll(genCase) { case (es, budgets) => matchesHeap(es, budgets) }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(res.passed, res.status.toString)
  }

  test("selecting from an empty frontier returns 0 rows") {
    val eng = new Engine(spark, u, workDir = graft.TmpDirs.create("selempty").toString,
      frontierPartitions = 8)
    val sel = eng.selectRound(spark.emptyDataset[FrontierEntry])
    try {
      assert(sel.nSelected == 0L)
      assert(sel.ranked.count() == 0L)
      assert(sel.deferred.count() == 0L)
      assert(sel.perPartition.isEmpty)
    } finally sel.release()
  }

  test("resume after round 1 reproduces the uninterrupted result tree, discovery on") {
    val svc = new LinkPlantingService(u)
    def mk(dir: String) = new Engine(spark, u, cfg = contentCfg, workDir = dir,
      frontierPartitions = 8, probeService = svc,
      discovery = Engine.DiscoveryConfig.on.copy(maxDepth = 1))
    val dirFull = graft.TmpDirs.create("selpath-full").toString
    val engFull = mk(dirFull)
    engFull.run(seedDocs(40))
    val dirRes = graft.TmpDirs.create("selpath-res").toString
    mk(dirRes).run(seedDocs(40), maxRounds = 1)
    val engRes = mk(dirRes)
    engRes.run(seedDocs(40))
    assert(digest(engRes) == digest(engFull))
  }

  // runs a 40-domain crawl against a counting service and checks that
  // every crawled domain was probed exactly once
  private def assertOneProbePerDomain(disc: Boolean): Unit = {
    val id = s"probes-$disc-" + System.nanoTime()
    val svc = new CountingProbeService(u, id)
    val eng = new Engine(spark, u, cfg = contentCfg,
      workDir = graft.TmpDirs.create("selpath-probes").toString,
      frontierPartitions = 8, probeService = svc,
      discovery = if (disc) Engine.DiscoveryConfig.on.copy(maxDepth = 1)
        else Engine.DiscoveryConfig.off)
    val stats = eng.run(seedDocs(40))
    if (disc) assert(stats.exists(_.discovered > 0), s"no discoveries in $stats")
    val counts = CountingProbeService.countsFor(id)
    val crawled = eng.resultsTable.read().get.select("domain").as[String].collect().toSet
    assert(counts.keySet == crawled, s"discovery=$disc")
    val off = counts.filter(_._2 != 1L)
    assert(off.isEmpty, s"discovery=$disc: expected 1 probe per domain; " +
      s"${off.size} domains got ${off.values.toSet.mkString("/")}")
  }

  test("each selected domain is probed exactly once per round, discovery on") {
    assertOneProbePerDomain(disc = true)
  }

  test("each selected domain is probed exactly once per round, discovery off") {
    assertOneProbePerDomain(disc = false)
  }
}
