package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.canon.Canon
import graft.engine.Engine
import graft.model.Model._
import graft.probes.{CrawlConfig, Probes}
import graft.tables.SnapTable
import graft.universe.Universe

/** End-to-end Structured-Streaming crawl (north star: "readStream →
  * transforms → writeStream; watermarks + windowed aggs;
  * mapGroupsWithState for custom state"):
  *
  *   interleaved-doc stream → seed extraction (Catalyst expressions) →
  *   canonicalize→punycode→xxhash64 → [[StreamingFrontier.admitStream]]
  *   (cuckoo seen-set in GroupState) → [[politeStream]] (token-bucket
  *   politeness per nameserver bucket in GroupState — over-budget entries
  *   WAIT IN STATE and drain in later micro-batches, the streaming twin of
  *   the batch engine's deferred backlog) → probe fan-out → nested
  *   [[DomainResult]] rows for any sink.
  *
  * Semantics match the batch engine: same seed seq
  * ([[graft.engine.Engine.extractSeeds]]), same canonicalization, same
  * per-bucket budget ordering (priority, seq, canonical), same probe
  * leaves. One difference: among raw variants of one canonical domain
  * (`S1.CZ` / `s1.cz`), the stream keeps the first variant admitted,
  * where the batch engine keeps the min-seq one.
  */
object StreamingCrawl {

  /** Deferred-entry buffer per nameserver bucket. */
  case class PoliteState(buffered: Seq[FrontierEntry])

  /** Token-bucket politeness as keyed state: each micro-batch a bucket may
    * emit `budgetPerBatch(bucket)` entries, chosen in the deterministic
    * (priority, seq, canonical) order over buffered ∪ incoming; the rest
    * wait in state. `maxBuffer` is the loud-failure backpressure bound —
    * the batch engine's backlog table plays this role durably; in
    * streaming, unbounded silent buffering would hide a mis-sized budget.
    */
  def politeStream(entries: Dataset[FrontierEntry],
      budgetPerBatch: Int => Int,
      maxBuffer: Int = 1 << 20,
      drainInterval: String = "100 milliseconds"): Dataset[FrontierEntry] = {
    import entries.sparkSession.implicits._
    entries
      .groupByKey(_.nsBucket)
      // ProcessingTimeTimeout: a bucket whose buffer is non-empty re-arms a
      // timer, so deferred entries DRAIN even when no new input arrives for
      // that bucket (flatMapGroupsWithState only fires per-key on input or
      // timeout — without the timer a starved bucket would hold its backlog
      // forever)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        (bucket: Int, it: Iterator[FrontierEntry], state: GroupState[PoliteState]) =>
          val pending = state.getOption.map(_.buffered).getOrElse(Seq.empty) ++ it
          val ordered = pending.sortBy(e => (e.priority, e.seq, e.canonical))
          val (emit, defer) = ordered.splitAt(math.max(0, budgetPerBatch(bucket)))
          if (defer.length > maxBuffer)
            throw new IllegalStateException(
              s"politeness buffer for bucket $bucket exceeds $maxBuffer — raise budgets")
          if (defer.isEmpty) state.remove()
          else {
            state.update(PoliteState(defer))
            state.setTimeoutDuration(drainInterval)
          }
          emit.iterator
      }
  }

  /** Doc stream → seed frontier entries (depth 0), pre-admission. */
  def seedEntries(docs: Dataset[Doc], u: Universe): Dataset[FrontierEntry] =
    Engine.frontierEntries(u, Engine.extractSeeds(docs).toDF("domain", "seq")
      .withColumn("canonical", Canon.canonicalizeDomainCol(col("domain")))
      .withColumn("key", xxhash64(col("canonical")))
      .withColumn("depth", lit(0)))

  /** Doc stream → admitted, politeness-bounded frontier entries. */
  def frontierStream(docs: Dataset[Doc], u: Universe, partitions: Int,
      budgetPerBatch: Int => Int,
      filterCapacity: Long = 1L << 18): Dataset[FrontierEntry] = {
    politeStream(
      StreamingFrontier.admitStream(seedEntries(docs, u), partitions, filterCapacity),
      budgetPerBatch)
  }

  /** Full pipeline: doc stream in, nested result documents out — attach
    * any `writeStream` sink (or `JsonSink.jsonLines` for the reference's
    * JSON-lines format).
    */
  def crawlStream(docs: Dataset[Doc], u: Universe, cfg: CrawlConfig,
      partitions: Int, budgetPerBatch: Int => Int,
      clock: String = "2026-01-01 00:00:00"): Dataset[DomainResult] = {
    import docs.sparkSession.implicits._
    frontierStream(docs, u, partitions, budgetPerBatch)
      .mapPartitions { it =>
        val p = new Probes(u, cfg)
        it.map(e => p.processDomain(e.canonical, clock))
      }
  }

  /** Self-feeding DISCOVERING crawl stream with MERGE-committed tables —
    * the streaming twin of `Engine.run(discovery = on)`: hosts found in
    * each micro-batch's results (redirect targets, MX hosts, in-content
    * links — the same [[graft.engine.Engine.discoveredHosts]] extraction)
    * are stored with the results, read back from the micro-batch's
    * committed delta and appended as parquet to `discDir`, which is ALSO
    * one of the stream's sources — so discoveries feed back into the SAME
    * cuckoo seen-set (`admitStream`) and politeness gate as the seeds, and
    * the query keeps producing micro-batches until the frontier is
    * exhausted.
    *
    * Depth rides the frontier entry: seeds enter at 0, a batch extracts
    * hosts only from results whose entry depth `< dcfg.maxDepth`, and
    * re-discovered or already-seeded hosts collapse in the seen-set
    * (first admission wins, exactly once — the batch engine's D1).
    *
    * At `maxDepth = 1` the crawled-domain SET provably equals the batch
    * engine's for the same seed corpus (seeds always admit before any
    * discovery exists, and depth-1 hosts never extract children); at
    * deeper caps the set can legitimately differ between any two
    * schedulers because a host's first-admission depth depends on batch
    * boundaries (documented, same caveat as distributed crawlers
    * generally).
    */
  def discoveringCrawlIntoTables(docs: Dataset[Doc], u: Universe,
      cfg: CrawlConfig, dcfg: Engine.DiscoveryConfig,
      workDir: String, discDir: String, checkpointDir: String,
      partitions: Int, budgetPerBatch: Int => Int,
      filterCapacity: Long = 1L << 18,
      clock: String = "2026-01-01 00:00:00",
      trigger: Trigger = Trigger.ProcessingTime("200 milliseconds")): StreamingQuery = {
    val spark = docs.sparkSession
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(discDir))
    val discSchema = StructType(Seq(
      StructField("host", StringType), StructField("depth", IntegerType)))
    // discovered-host stream: same canonicalize→punycode→xxhash64 pipeline
    // and the batch engine's discovery seq range (disjoint from seed seqs)
    val discEntries = Engine.frontierEntries(u,
      spark.readStream.schema(discSchema).parquet(discDir)
        .withColumnRenamed("host", "domain")
        .withColumn("canonical", Canon.canonicalizeDomainCol(col("domain")))
        .withColumn("key", xxhash64(col("canonical")))
        .withColumn("seq", Engine.discoverySeq(col("canonical"))))
    val admitted = StreamingFrontier.admitStream(
      seedEntries(docs, u).unionByName(discEntries), partitions, filterCapacity)
    commitEach(politeStream(admitted, budgetPerBatch), u, cfg, dcfg, clock,
      workDir, Some(discDir), checkpointDir, trigger)
  }

  /** MERGE-commit a streaming crawl into the batch engine's results
    * table: every micro-batch of `entries` (a politeness-bounded frontier
    * stream, e.g. [[frontierStream]]) is probed and its results upserted
    * (keyed by domain) through the same idempotent
    * [[graft.tables.SnapTable.mergeCommit]] the batch loop uses, under a
    * Structured-Streaming checkpoint. The combination gives an
    * effectively-once table: the stream replays an uncommitted
    * micro-batch after a crash (at-least-once), and the keyed MERGE
    * absorbs the replay — exactly the batch loop's T8 story. The span view
    * over it ([[graft.spans.SpanCodec.view]]) is bit-identical to
    * `Engine.run`'s for the same seed corpus (StreamingCrawlSpec), so
    * downstream consumers cannot tell which engine produced it.
    */
  def commitStream(entries: Dataset[FrontierEntry], u: Universe, cfg: CrawlConfig,
      workDir: String, checkpointDir: String,
      clock: String = "2026-01-01 00:00:00",
      trigger: Trigger = Trigger.ProcessingTime("200 milliseconds")): StreamingQuery =
    commitEach(entries, u, cfg, Engine.DiscoveryConfig.off, clock, workDir, None,
      checkpointDir, trigger)

  /** The committing streams' micro-batch: probe each entry once, MERGE-
    * commit the results (with each entry's depth and discovered hosts)
    * through the batch engine's pooled wide-row serializers
    * ([[graft.engine.Engine.WideRows]]), then, with a `discDir`, append the
    * hosts read back from the committed delta. Emptiness is tested on the
    * narrow entries, before any probe runs.
    *
    * The entries are cached: the emptiness test and the probe pass are two
    * jobs over the micro-batch, and without the cache the second would run
    * the stateful stage that emits the entries (politeness, loading and
    * committing its state store) a second time. The discovered hosts are
    * cached too, so their emptiness test and their write read the
    * committed delta once.
    */
  private def commitEach(entries: Dataset[FrontierEntry], u: Universe, cfg: CrawlConfig,
      dcfg: Engine.DiscoveryConfig, clock: String, workDir: String,
      discDir: Option[String], checkpointDir: String, trigger: Trigger): StreamingQuery =
    entries.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[FrontierEntry], _: Long) =>
        val rows = batch.rdd.persist(StorageLevel.MEMORY_AND_DISK)
        var hosts: Option[DataFrame] = None
        try if (!rows.isEmpty()) {
          val spark = batch.sparkSession
          val results = new SnapTable(spark, s"$workDir/results", Seq("domain"))
          val v = results.mergeCommit(Engine.StreamResultRows.frame(spark,
            rows.mapPartitions { it =>
              val p = new Probes(u, cfg)
              it.map { e =>
                val r = p.processDomain(e.canonical, clock)
                Engine.StreamResultRow(r.domain, e.depth, dcfg.hostsOf(r, e.depth), r)
              }
            }))
          discDir.foreach { dir =>
            val found = Engine.discoveredRows(results.delta(v, Engine.StreamResultRows.schema))
              .persist(StorageLevel.MEMORY_AND_DISK)
            hosts = Some(found)
            // no empty files: each new file in discDir starts a micro-batch
            if (!found.isEmpty) found.coalesce(1).write.mode("append").parquet(dir)
          }
        } finally { rows.unpersist(blocking = false); hosts.foreach(_.unpersist(blocking = false)) }
        ()
      }
      .start()
}
