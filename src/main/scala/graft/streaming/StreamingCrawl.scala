package graft.streaming

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.storage.StorageLevel

import graft.canon.Canon
import graft.engine.Engine
import graft.model.Model._
import graft.probes.{CrawlConfig, Probes}
import graft.spans.SpanCodec
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
  * Semantics match the batch engine: same canonicalization, same
  * first-enqueue dedup, same per-bucket budget ordering
  * (priority, seq, canonical), same probe leaves.
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
  def seedEntries(docs: Dataset[Doc], u: Universe): Dataset[FrontierEntry] = {
    import docs.sparkSession.implicits._
    docs
      .select(col("doc_id"), explode(col("spans")).as("s"))
      .where(col("s.kind") === "text")
      .select(col("s.text").as("domain"),
        (xxhash64(col("doc_id")) .bitwiseAND(lit(0xffffffffL)) * lit(1L << 22)
          + least(col("s.offset"), lit((1L << 22) - 1))).as("seq"))
      .where(col("domain").rlike("^[\\p{L}0-9.-]+\\.[\\p{L}]{2,}\\.?\\s*$"))
      .withColumn("canonical", Canon.canonicalizeDomainCol(col("domain")))
      .withColumn("key", xxhash64(col("canonical")))
      .as[(String, Long, String, Long)]
      .map { case (domain, seq, canonical, key) =>
        FrontierEntry(domain, canonical, key,
          nsBucket = u.nsProvider(canonical),
          priority = u.ttlFor(canonical),
          seq = seq)
      }
  }

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

  /** MERGE-commit a streaming crawl into the batch engine's table layout:
    * every micro-batch upserts the raw results (keyed by domain) and the
    * span re-encoding (keyed by doc_id) through the same idempotent
    * [[graft.tables.SnapTable.mergeCommit]] the batch loop uses, under a
    * Structured-Streaming checkpoint. The combination gives effectively-
    * once tables: the stream replays an uncommitted micro-batch after a
    * crash (at-least-once), and the keyed MERGE absorbs the replay —
    * exactly the batch loop's T8 story. The resulting span table is
    * bit-identical to `Engine.run`'s for the same seed corpus
    * (StreamingCrawlSpec), so downstream consumers cannot tell which
    * engine produced it.
    */
  /** Self-feeding DISCOVERING crawl stream with MERGE-committed tables —
    * the streaming twin of `Engine.run(discovery = on)`: hosts found in
    * each micro-batch's results (redirect targets, MX hosts, in-content
    * links — the same [[graft.engine.Engine.discoveredHosts]] extraction)
    * are written as parquet into `discDir`, which is ALSO one of the
    * stream's sources — so discoveries feed back into the SAME cuckoo
    * seen-set (`admitStream`) and politeness gate as the seeds, and the
    * query keeps producing micro-batches until the frontier is exhausted.
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
      cfg: CrawlConfig, dcfg: graft.engine.Engine.DiscoveryConfig,
      workDir: String, discDir: String, checkpointDir: String,
      partitions: Int, budgetPerBatch: Int => Int,
      filterCapacity: Long = 1L << 18,
      clock: String = "2026-01-01 00:00:00",
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime("200 milliseconds"))
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = docs.sparkSession
    import spark.implicits._
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(discDir))
    val discSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("host",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("depth",
        org.apache.spark.sql.types.IntegerType)))
    // discovered-host stream: same canonicalize→punycode→xxhash64 pipeline
    // and the batch engine's discovery seq range (disjoint from seed seqs)
    val discEntries = spark.readStream.schema(discSchema).parquet(discDir)
      .withColumn("canonical", Canon.canonicalizeDomainCol(col("host")))
      .withColumn("key", xxhash64(col("canonical")))
      .withColumn("seq",
        lit(1L << 62) + pmod(xxhash64(lit("disc"), col("canonical")), lit(1L << 40)))
      .select(col("host").as("domain"), col("seq"), col("canonical"),
        col("key"), col("depth"))
      .as[(String, Long, String, Long, Int)]
      .map { case (domain, seq, canonical, key, depth) =>
        FrontierEntry(domain, canonical, key,
          nsBucket = u.nsProvider(canonical),
          priority = u.ttlFor(canonical),
          seq = seq, depth = depth)
      }
    val admitted = StreamingFrontier.admitStream(
      seedEntries(docs, u).unionByName(discEntries), partitions, filterCapacity)
    val results = politeStream(admitted, budgetPerBatch)
      .mapPartitions { it =>
        val p = new Probes(u, cfg)
        it.map(e => (e.depth, p.processDomain(e.canonical, clock)))
      }
    results.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[(Int, DomainResult)], _: Long) =>
        val sp = batch.sparkSession
        import sp.implicits._
        if (!batch.isEmpty) {
          val b = batch.rdd.persist(StorageLevel.MEMORY_AND_DISK)
          try {
            commitBatch(sp, workDir, b.map(_._2))
            val hosts = b.flatMap { case (depth, r) =>
              if (depth >= dcfg.maxDepth) Iterator.empty
              else Engine.discoveredHosts(r, r.domain, dcfg)
                .iterator.map(h => (h, depth + 1))
            }
            val hs = hosts.collect() // bounded by budget × maxPerDomain
            if (hs.nonEmpty)
              sp.createDataset(hs.toSeq).toDF("host", "depth")
                .coalesce(1).write.mode("append").parquet(discDir)
          } finally b.unpersist()
        }
        ()
      }
      .start()
  }

  def commitStream(results: Dataset[DomainResult], workDir: String,
      checkpointDir: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime("200 milliseconds"))
      : org.apache.spark.sql.streaming.StreamingQuery = {
    results.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[DomainResult], _: Long) =>
        if (!batch.isEmpty) {
          // persisted: the two commits must observe the SAME probe
          // responses even under a non-deterministic (real-socket)
          // ProbeService upstream, and no domain may be fetched twice per
          // micro-batch (politeness). Batches are politeness-bounded, so
          // the materialization is small by construction.
          val b = batch.rdd.persist(StorageLevel.MEMORY_AND_DISK)
          try commitBatch(batch.sparkSession, workDir, b)
          finally b.unpersist()
        }
        ()
      }
      .start()
  }

  /** One micro-batch's MERGE commits: the span re-encoding, then the
    * results through the batch engine's pooled wide-row serializers
    * ([[graft.engine.Engine.WideRows]]).
    */
  private def commitBatch(spark: SparkSession, workDir: String,
      results: RDD[DomainResult]): Unit = {
    import spark.implicits._
    new SnapTable(spark, s"$workDir/result_spans", Seq("doc_id"))
      .mergeCommit(spark.createDataset(results.map(SpanCodec.encode)).toDF())
    new SnapTable(spark, s"$workDir/results", Seq("domain"))
      .mergeCommit(Engine.StreamResultRows.frame(spark,
        results.map(r => Engine.StreamResultRow(r.domain, r))))
  }
}
