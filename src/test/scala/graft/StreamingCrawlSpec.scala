package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Model.{Doc, DomainResult, Span}
import graft.probes.{CrawlConfig, Probes}
import graft.spans.SpanCodec
import graft.streaming.StreamingCrawl
import graft.tables.SnapTable
import graft.universe.Universe

/** One nameserver bucket so the per-batch token budget is observable. */
class OneBucketUniverse(seed: Long) extends Universe(seed) {
  override def nsProvider(domain: String): Int = 0
}

/** [[OneBucketUniverse]] that counts its `hstsPreload` calls per domain.
  * [[Probes.processDomain]] makes exactly one per domain, and the universe
  * never calls it itself (it does call `dnssecState`, from `dsFor` and
  * `dnskeyFor`), so the count is how many times a domain was probed.
  */
class CountingUniverse(id: String) extends OneBucketUniverse(42L) {
  override def hstsPreload(domain: String): Boolean = {
    CountingProbeService.bump(id, domain)
    super.hstsPreload(domain)
  }
}

class StreamingCrawlSpec extends AnyFunSuite {

  private val spark = SparkSessionFixture.spark
  import spark.implicits._

  private val u = new OneBucketUniverse(42L)

  private def doc(id: String, domains: String*): Doc =
    Doc(id, domains.zipWithIndex.map { case (d, i) => Span("text", d, null, i) })

  /** Per-row (doc_id, kind, text, media_ref, offset) of the span view
    * over the results table under `dir`.
    */
  private def spanRows(dir: String): Seq[(String, String, String, String, Int)] =
    SpanCodec.view(new SnapTable(spark, s"$dir/results", Seq("domain")).read().get)
      .selectExpr("doc_id", "explode(spans) AS s")
      .selectExpr("doc_id", "s.kind", "coalesce(s.text, '\\0') AS text",
        "coalesce(s.media_ref, '\\0') AS media_ref", "s.offset")
      .as[(String, String, String, String, Int)].collect().sorted.toSeq

  test("token-bucket politeness: per-micro-batch budget, deferred entries drain via timer") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Doc]
    val out = StreamingCrawl.frontierStream(input.toDS(), u,
      partitions = 4, budgetPerBatch = _ => 2)
    val q = out.writeStream.format("memory").queryName("polite_out")
      .outputMode("append").trigger(Trigger.ProcessingTime("200 milliseconds")).start()
    // NOTE: no processAllAvailable here — with pending processing-time
    // timers the engine legitimately always has another batch scheduled,
    // so the test polls the sink instead
    def drainedTo(n: Long, timeoutSec: Int = 60): Long = {
      val deadline = System.nanoTime() + timeoutSec * 1000L * 1000 * 1000
      var c = spark.table("polite_out").count()
      while (c < n && System.nanoTime() < deadline) {
        Thread.sleep(200)
        c = spark.table("polite_out").count()
      }
      c
    }
    try {
      // 5 admitted entries at budget 2/trigger: they drain over ≥3 batches
      // via the state timer, with NO further input
      input.addData(doc("doc-1", "a1.cz", "a2.cz", "a3.cz", "a4.cz", "a5.cz"))
      assert(drainedTo(5) == 5, "initial batch did not fully drain")
      // second wave: one new domain + one cross-batch duplicate
      input.addData(doc("doc-2", "a6.cz", "a1.cz"))
      assert(drainedTo(6) == 6, "second wave did not drain")
      val all = spark.table("polite_out")
        .select("canonical").as[String].collect().toSeq
      assert(all.distinct.size == 6) // dedup across batches held
      assert(all.toSet == Set("a1.cz", "a2.cz", "a3.cz", "a4.cz", "a5.cz", "a6.cz"))
      // the politeness bound: NO micro-batch ever emitted more than the
      // per-bucket budget (one bucket here), and at least one batch hit it
      val perBatch = q.recentProgress.toSeq.map(_.sink.numOutputRows).filter(_ > 0)
      assert(perBatch.nonEmpty && perBatch.forall(_ <= 2),
        s"budget 2/batch violated: $perBatch")
      assert(perBatch.max == 2)
    } finally q.stop()
  }

  test("streaming crawl results equal the batch probe path for the same domains") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Doc]
    val cfg = CrawlConfig()
    val results = StreamingCrawl.crawlStream(input.toDS(), u, cfg,
      partitions = 4, budgetPerBatch = _ => 100)
    val q = results.writeStream.format("memory").queryName("crawl_out")
      .outputMode("append").trigger(Trigger.ProcessingTime("200 milliseconds")).start()
    try {
      input.addData(doc("doc-1", "d1.cz", "d2.cz", "nic.cz"))
      // poll, don't processAllAvailable: with processing-time timers in the
      // polite stage the engine always has another batch scheduled (see the
      // politeness test above), so processAllAvailable can block forever
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (spark.table("crawl_out").count() < 3 && System.nanoTime() < deadline) {
        q.exception.foreach(throw _)
        Thread.sleep(200)
      }
      assert(spark.table("crawl_out").count() == 3,
        s"stream did not drain 3 results in 120s; progress=${q.recentProgress.length}")
      val out = spark.table("crawl_out").as[DomainResult].collect()
        .map(r => r.domain -> r).toMap
      assert(out.keySet == Set("d1.cz", "d2.cz", "nic.cz"))
      val p = new Probes(u, cfg)
      out.foreach { case (d, r) =>
        assert(r == p.processDomain(d, "2026-01-01 00:00:00"),
          s"streaming result for $d diverges from the batch probe path")
      }
    } finally q.stop()
  }

  test("the stream's seed seq equals the batch engine's for the same corpus") {
    implicit val sqlCtx = spark.sqlContext
    // no raw variants of one domain: both engines then admit the same
    // rows, and only the seq formula can differ
    val docs = Seq(
      doc("doc-1", "q1.cz", "q2.cz", "nic.cz"),
      doc("doc-7", "q3.cz"),
      doc("intro", "q4.cz", "q5.cz")) // digit-less id: hash-keyed seq
    val batchDir = graft.TmpDirs.create("seq-batch").toString
    new graft.engine.Engine(spark, u, workDir = batchDir, frontierPartitions = 4)
      .run(spark.createDataset(docs))
    val batch = new SnapTable(spark, s"$batchDir/backlog", Seq("canonical")).read().get
      .select("canonical", "seq").as[(String, Long)].collect().sorted.toSeq

    val input = MemoryStream[Doc]
    val q = StreamingCrawl.frontierStream(input.toDS(), u, partitions = 4,
        budgetPerBatch = _ => 100)
      .select("canonical", "seq")
      .writeStream.format("memory").queryName("seq_out")
      .outputMode("append").trigger(Trigger.ProcessingTime("200 milliseconds")).start()
    try {
      input.addData(docs: _*)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (spark.table("seq_out").count() < 6 && System.nanoTime() < deadline) {
        q.exception.foreach(throw _)
        Thread.sleep(200)
      }
      val stream = spark.table("seq_out").as[(String, Long)].collect().sorted.toSeq
      assert(batch.length == 6)
      assert(stream == batch, "stream and batch seed seqs differ")
    } finally q.stop()
  }

  test("MERGE-committed streaming span table is bit-identical to the batch " +
      "engine's for the same seed corpus") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      doc("doc-0", "s1.cz", "s2.cz", "nic.cz"),
      doc("doc-1", "s3.cz", "S1.CZ"), // cross-doc duplicate (case variant)
      doc("doc-2", "s4.cz", "s5.cz"))

    // batch reference: the full frontier loop with MERGE commits
    val batchDir = graft.TmpDirs.create("parity-batch").toString
    val eng = new graft.engine.Engine(spark, u, workDir = batchDir,
      frontierPartitions = 4)
    eng.run(spark.createDataset(docs))
    val batchSpans = spanRows(batchDir)

    // streaming: same docs through frontierStream + commitStream
    val streamDir = graft.TmpDirs.create("parity-stream").toString
    val ckpt = graft.TmpDirs.create("parity-ckpt").toString
    val input = MemoryStream[Doc]
    val entries = StreamingCrawl.frontierStream(input.toDS(), u,
      partitions = 4, budgetPerBatch = _ => 100)
    val q = StreamingCrawl.commitStream(entries, u, CrawlConfig(), streamDir, ckpt)
    try {
      input.addData(docs: _*)
      val resultsT = new SnapTable(spark, s"$streamDir/results", Seq("domain"))
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      def committed: Long =
        resultsT.read().map(_.select("domain").distinct().count()).getOrElse(0L)
      while (committed < 6 && System.nanoTime() < deadline) {
        q.exception.foreach(throw _)
        Thread.sleep(300)
      }
      assert(committed == 6, s"streaming commits incomplete: $committed/6")
      assert(spanRows(streamDir) == batchSpans,
        "streaming span view diverges from the batch engine's")
      // and the results table round-trips to the same document set
      val streamDomains = resultsT.read().get.select("domain").as[String]
        .collect().toSet
      assert(streamDomains ==
        Set("s1.cz", "s2.cz", "s3.cz", "s4.cz", "s5.cz", "nic.cz"))
      // the spans are a view: neither engine stores a span table
      assert(!Files.exists(Paths.get(batchDir, "result_spans")) &&
        !Files.exists(Paths.get(streamDir, "result_spans")))
    } finally q.stop()
  }

  test("self-feeding discovering stream equals the batch discovering engine " +
      "(maxDepth 1): same crawled set, same span rows") {
    implicit val sqlCtx = spark.sqlContext
    // seed hosts that discover (MX/redirect/link targets in the universe)
    val docs = (0 until 12).map(i => doc(f"doc-$i%03d", s"shop$i.cz"))
    val dcfg = graft.engine.Engine.DiscoveryConfig.on.copy(maxDepth = 1)

    // batch reference: Engine.run with discovery on
    val batchDir = graft.TmpDirs.create("disc-parity-batch").toString
    val eng = new graft.engine.Engine(spark, u, workDir = batchDir,
      frontierPartitions = 4, discovery = dcfg)
    eng.run(spark.createDataset(docs))
    val batchDomains = eng.resultsTable.read().get
      .select("domain").as[String].collect().toSet
    assert(batchDomains.size > 12, "expected discoveries beyond the 12 seeds")
    val batchSpans = spanRows(batchDir)

    // streaming: same docs through the self-feeding discovering stream
    val streamDir = graft.TmpDirs.create("disc-parity-stream").toString
    val discDir = graft.TmpDirs.create("disc-parity-hosts").toString + "/d"
    val ckpt = graft.TmpDirs.create("disc-parity-ckpt").toString
    val input = MemoryStream[Doc]
    val q = StreamingCrawl.discoveringCrawlIntoTables(input.toDS(), u,
      CrawlConfig(), dcfg, streamDir, discDir, ckpt,
      partitions = 4, budgetPerBatch = _ => 100)
    try {
      input.addData(docs: _*)
      val resultsT = new SnapTable(spark, s"$streamDir/results", Seq("domain"))
      def streamed: Set[String] = resultsT.read()
        .map(_.select("domain").as[String].collect().toSet).getOrElse(Set.empty)
      val deadline = System.nanoTime() + 180L * 1000 * 1000 * 1000
      while (streamed != batchDomains && System.nanoTime() < deadline) {
        q.exception.foreach(throw _)
        Thread.sleep(400)
      }
      assert(streamed == batchDomains,
        s"streaming crawled set diverges: missing=${batchDomains -- streamed} " +
          s"extra=${streamed -- batchDomains}")
      assert(spanRows(streamDir) == batchSpans,
        "streaming discovering span view diverges from the batch engine's")
    } finally q.stop()
  }

  test("every streamed domain is probed exactly once, committing and discovering streams") {
    implicit val sqlCtx = spark.sqlContext
    val docs = (0 until 12).map(i => doc(f"doc-$i%03d", s"shop$i.cz"))
    val dcfg = graft.engine.Engine.DiscoveryConfig.on.copy(maxDepth = 1)
    // the discovering stream crawls the batch engine's set (parity case above)
    val eng = new graft.engine.Engine(spark, u,
      workDir = graft.TmpDirs.create("once-batch").toString,
      frontierPartitions = 4, discovery = dcfg)
    eng.run(spark.createDataset(docs))
    val discovered = eng.resultsTable.read().get.select("domain").as[String].collect().toSet
    assert(discovered.size > docs.size, "expected discoveries beyond the seeds")

    def probedOnce(name: String, expected: Set[String])(
        start: (Dataset[Doc], Universe, String, String) => StreamingQuery): Unit = {
      val id = s"stream-once-$name-" + System.nanoTime()
      val dir = graft.TmpDirs.create(s"once-$name").toString
      val input = MemoryStream[Doc]
      val q = start(input.toDS(), new CountingUniverse(id), dir,
        graft.TmpDirs.create(s"once-$name-ckpt").toString)
      try {
        input.addData(docs: _*)
        val resultsT = new SnapTable(spark, s"$dir/results", Seq("domain"))
        def committed: Set[String] = resultsT.read()
          .map(_.select("domain").as[String].collect().toSet).getOrElse(Set.empty)
        val deadline = System.nanoTime() + 180L * 1000 * 1000 * 1000
        while (committed != expected && System.nanoTime() < deadline) {
          q.exception.foreach(throw _)
          Thread.sleep(300)
        }
        assert(committed == expected, s"$name: committed set diverges")
      } finally q.stop()
      val counts = CountingProbeService.countsFor(id)
      assert(counts.keySet == expected, s"$name: probed set diverges")
      val off = counts.filter(_._2 != 1L)
      assert(off.isEmpty, s"$name: expected 1 probe per domain; ${off.size} domains " +
        s"got ${off.values.toSet.mkString("/")}")
    }

    probedOnce("commit", docs.flatMap(_.spans.map(_.text)).toSet) { (ds, cu, dir, ckpt) =>
      StreamingCrawl.commitStream(StreamingCrawl.frontierStream(ds, cu, partitions = 4,
        budgetPerBatch = _ => 100), cu, CrawlConfig(), dir, ckpt)
    }
    probedOnce("discover", discovered) { (ds, cu, dir, ckpt) =>
      StreamingCrawl.discoveringCrawlIntoTables(ds, cu, CrawlConfig(), dcfg, dir,
        dir + "/disc", ckpt, partitions = 4, budgetPerBatch = _ => 100)
    }
  }

  test("the committing stream runs each micro-batch's stateful stages once") {
    implicit val sqlCtx = spark.sqlContext
    val dir = graft.TmpDirs.create("state-once").toString
    val id = "state-once-" + System.nanoTime()
    // the politeness stage calls the budget once per bucket per run; budget
    // 2 keeps deferred entries in the bucket's state over 4 micro-batches
    val budget: Int => Int = { _ => CountingProbeService.bump(id, "budget"); 2 }
    val input = MemoryStream[Doc]
    val q = StreamingCrawl.commitStream(StreamingCrawl.frontierStream(input.toDS(), u,
        partitions = 4, budgetPerBatch = budget), u, CrawlConfig(), dir,
      graft.TmpDirs.create("state-once-ckpt").toString)
    // stateOperators lists the plan's state operators top down, politeness
    // first; its row counts are one run's: each run of the one bucket
    // updates its state row, or removes it once the bucket drains
    def polite = q.recentProgress.toSeq.filter(_.stateOperators.nonEmpty)
      .distinctBy(_.batchId).map(_.stateOperators(0))
    val domains = (1 to 7).map(i => s"t$i.cz").toSet
    try {
      input.addData(doc("doc-1", domains.toSeq.sorted: _*))
      val resultsT = new SnapTable(spark, s"$dir/results", Seq("domain"))
      def committed: Set[String] = resultsT.read()
        .map(_.select("domain").as[String].collect().toSet).getOrElse(Set.empty)
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while ((committed != domains || !polite.exists(_.numRowsRemoved > 0)) &&
          System.nanoTime() < deadline) {
        q.exception.foreach(throw _)
        Thread.sleep(300)
      }
      assert(committed == domains, "stream did not commit every domain")
    } finally q.stop()
    val runs = polite.map(o => o.numRowsUpdated + o.numRowsRemoved).sum
    assert(runs == 4, s"politeness progress: $polite")
    assert(CountingProbeService.countsFor(id) == Map("budget" -> runs),
      "the politeness stage ran more often than its progress reports")
  }
}
