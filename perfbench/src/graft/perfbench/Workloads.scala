package graft.perfbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Engine
import graft.model.Model.{Doc, DomainResult, Span}
import graft.spans.{JsonSink, SpanCodec}
import graft.tables.SnapTable
import graft.universe.Universe

/** Stock universe with every politeness budget multiplied by `k`: rounds
  * become data-bound instead of budget-bound.
  */
final class WideBudgetUniverse(seed: Long, k: Int) extends Universe(seed) {
  override def policyBudget(nsBucket: Int): Int = super.policyBudget(nsBucket) * k
}

/** A correctness check. `recorded` values are also compared by the launcher
  * against the values recorded per seed in `expected.json`.
  */
final case class Gate(name: String, ok: Boolean, detail: String)

final case class Outcome(
    e2e: Map[String, Double],
    layer: Map[String, Double],
    attempted: Long,
    gates: Seq[Gate],
    recorded: Map[String, Any],
    timedS: Double)

/** What a workload run can reach: the live session (replaced when a
  * workload switches core counts), its work dir, and the trace tools.
  */
final class Ctx(val seed: Long, val seconds: Int, val cores: Int,
    val work: Path, val tracer: Tracer, var spark: SparkSession,
    var collector: Option[Collector], newSession: Int => SparkSession) {
  def traced: Boolean = collector.isDefined

  /** Replaces the session with one on `n` cores, listeners re-registered. */
  def restart(n: Int): Unit = {
    collector.foreach(Collector.unregister(spark, _))
    spark.stop()
    spark = newSession(n)
    collector = collector.map(_ => Collector.register(spark))
  }

  /** Blocks until the listeners have seen every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfBenchBridge.drain(spark.sparkContext)

  /** Listener totals over a benchmark call that ran in `[from, to]`. */
  def window(from: Long, to: Long): Window = {
    drain()
    collector.map(_.window(from, to))
      .getOrElse(Window(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0))
  }
}

trait Workload {
  /** Set-ups per run; setup_s is their median. */
  def setups: Int

  /** Runs the warm-up pass of one set-up on a seed disjoint from the run's. */
  def warmUp(spark: SparkSession, seed: Long, dir: Path): Unit
  def run(ctx: Ctx): Outcome
}

object Workload {
  val all: Map[String, Workload] = Map(
    "polite-loop" -> LoopWorkload.polite,
    "bulk-loop" -> LoopWorkload.bulk,
    "admit-scale" -> AdmitScale)

  /** Seeds for warm-up passes live far from any run seed. */
  def disjoint(seed: Long): Long = seed ^ 0x5eed0000000L

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  /** Per-layer metrics a workload does not run, reported as 0. */
  def notRun(names: String*): Map[String, Double] = names.map(_ -> 0.0).toMap

  def md5(lines: Iterator[String]): String = {
    val md = MessageDigest.getInstance("MD5")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def mb(bytes: Long): Double = bytes / (1024.0 * 1024.0)

  def timed[A](body: => A): (A, Double, Long, Long) = {
    val from = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9, from, System.currentTimeMillis())
  }
}

/** The frontier loop (`Engine.run`) over generated interleaved docs.
  *
  * The engine runs with the settings of the crawl CLI (`CrawlMain`): the
  * Engine defaults of 32 frontier partitions and 1<<20 filter slots per
  * partition. Round 1 runs untimed on the run's own engine; the timed call
  * resumes from its checkpoint, so every measured round reads a backlog,
  * merges it into the frontier, deserializes the previous round's filter
  * snapshots and commits MERGE deltas on top of earlier ones.
  *
  * @param seedsPerRound seed rows each round takes from the docs (the
  *   engine's seed chunk); the docs hold exactly one chunk per round
  * @param budgetScale politeness budgets × this (1 = stock universe)
  * @param discovery depth-1 host discovery on/off
  * @param wallClock `Engine.Clock.utcWall` instead of the fixed stamp; a
  *   non-deterministic clock makes the engine persist each round's
  *   results once instead of re-running the probes per commit pass
  * @param speedupLeg the traced run also times a round's crawl + commit at local[1]
  */
final class LoopWorkload(val name: String, seedsPerRound: Int,
    budgetScale: Int, discovery: Boolean, wallClock: Boolean,
    speedupLeg: Boolean) extends Workload {
  import Workload._

  private val spansPerDoc = 10
  private val warmSeeds = 96

  // a set-up warms the probe and canonicalization path only; the wide
  // result commit's first-use cost lands in the untimed round 1
  val setups = 3

  /** Timed rounds per run; each follows the untimed round 1. */
  def rounds(seconds: Int): Int = math.max(1, seconds / 25)

  private def universe(seed: Long): Universe =
    if (budgetScale == 1) new Universe(seed) else new WideBudgetUniverse(seed, budgetScale)

  private def engine(spark: SparkSession, u: Universe, dir: Path): Engine =
    new Engine(spark, u, workDir = dir.toString, seedChunkSize = seedsPerRound,
      clock = if (wallClock) Engine.Clock.utcWall else Engine.Clock.fixed,
      discovery = if (discovery) Engine.DiscoveryConfig.on.copy(maxDepth = 1)
        else Engine.DiscoveryConfig.off)

  /** Interleaved docs: each doc alternates text spans (seed domains) and
    * media spans, `spansPerDoc` domains per doc.
    */
  private def docs(spark: SparkSession, u: Universe, nSeeds: Int): Dataset[Doc] = {
    import spark.implicits._
    val per = spansPerDoc
    spark.range(nSeeds.toLong / per).map { d =>
      Doc(f"doc-$d%010d", (0 until per).flatMap { j =>
        Seq(Span("text", u.seedDomain(d * per + j), null, 2 * j),
          Span("media", null, s"media/$d/$j.jpg", 2 * j + 1))
      })
    }
  }

  def warmUp(spark: SparkSession, seed: Long, dir: Path): Unit = {
    import spark.implicits._
    val u = universe(seed)
    val eng = engine(spark, u, dir.resolve("engine"))
    val seeds = spark.range(warmSeeds).map(i => (u.seedDomain(i), i.longValue))
    eng.crawlEntries(eng.toFrontier(seeds), sizeHint = Some(warmSeeds.toLong)).count()
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val nRounds = rounds(ctx.seconds)
    val nSeeds = seedsPerRound * nRounds
    val u = universe(ctx.seed)
    val dir = ctx.work.resolve("engine")
    val eng = engine(spark, u, dir)
    val input = docs(spark, u, seedsPerRound + nSeeds)

    val (warm, warmS, _, _) = timed(ctx.tracer("Engine.run/round1")(eng.run(input, maxRounds = 1)))
    Main.log(f"untimed round 1: ${warm.map(_.crawled).sum} domains in $warmS%.1f s")
    Jvm.resetHeapPeak()
    System.gc() // every run starts its timed phase on a collected heap
    val cpu0 = Jvm.cpuSeconds()
    val (stats, wall, from, to) = timed(ctx.tracer("Engine.run",
      Map("rounds" -> nRounds, "seeds" -> nSeeds))(eng.run(input, maxRounds = 1 + nRounds)))
    val cpu = Jvm.cpuSeconds() - cpu0
    val heapPeak = Jvm.oldGenPeakMb()
    val heap = Jvm.liveHeapMb()
    val crawled = stats.map(_.crawled).sum
    val allCrawled = crawled + warm.map(_.crawled).sum
    Main.log(f"Engine.run: ${stats.length} timed rounds, $crawled domains in $wall%.1f s " +
      stats.map(s => f"${s.seconds}%.1f").mkString("(", ", ", ")"))

    // ---- correctness gates
    val tGates = System.nanoTime()
    // one pass over the committed results: pop order, plus the md5 of each
    // document's JSON-lines rendering (fixed clock only: wall-clock stamps differ)
    val json = !wallClock
    val rows = eng.resultsTable.read().get
      .select("domain", "pop_round", "pop_rank", "result")
      .as[(String, Int, Long, DomainResult)]
      .map { case (d, r, k, res) => (d, r, k, if (json) md5(Iterator(JsonSink.toJson(res))) else "") }
      .collect().sortBy(r => (r._2, r._3))
    val digest = md5(rows.iterator.map { case (d, r, k, _) => s"$d|$r|$k" })
    val spanRows = eng.spansTable.read().get.count()

    val gates = Seq.newBuilder[Gate]
    gates += Gate("rounds", warm.length == 1 && stats.map(_.round) == (2 to 1 + nRounds),
      s"rounds ${(warm ++ stats).map(_.round).mkString(",")} ran of 1 untimed + $nRounds timed")
    gates += Gate("results_rows", rows.length.toLong == allCrawled,
      s"${rows.length} result rows for $allCrawled crawled")
    gates += Gate("spans_rows", spanRows == allCrawled,
      s"$spanRows span rows for $allCrawled crawled")
    gates += Gate("pop_rank_unique", rows.map(r => (r._2, r._3)).distinct.length == rows.length,
      "every (pop_round, pop_rank) is used once")
    val recorded = Map.newBuilder[String, Any]
    recorded += "input" -> s"seeds=${seedsPerRound}x${1 + nRounds}"
    recorded += "order_md5" -> digest
    recorded += "crawled" -> allCrawled
    if (json) recorded += "json_md5" -> md5(rows.map(_._4).sorted.iterator)

    Main.log(f"gates: ${(System.nanoTime() - tGates) / 1e9}%.1f s")
    val roundS = stats.map(_.seconds)
    val e2e = Map(
      "domains_per_s" -> crawled / wall,
      "round_s_p50" -> median(roundS),
      "keys_per_s" -> nSeeds / wall,
      "cpu_s" -> cpu,
      "live_heap_mb" -> heap,
      "stored_mb" -> mb(Dirs.bytes(dir)))

    val layer =
      if (!ctx.traced) Map.empty[String, Double]
      else traceLayers(ctx, eng, dir, stats, from, to, crawled, allCrawled) +
        ("jvm.old_gen_peak_mb" -> heapPeak)

    Outcome(e2e, layer, attempted = crawled, gates.result(), recorded.result(), wall)
  }

  /** Per-layer numbers of a traced run: listener counts attributed to each
    * timed round from the outside, the engine's own phase timers, and the
    * encode-layer split on the last timed round's selected set.
    */
  private def traceLayers(ctx: Ctx, eng: Engine, dir: Path,
      stats: Seq[Engine.RoundStats], from: Long, to: Long, crawled: Long,
      allCrawled: Long): Map[String, Double] = {
    val spark = ctx.spark
    import spark.implicits._
    val n = stats.length.max(1)
    val totalRounds = stats.last.round
    // a round ends at its checkpoint commit: the first checkpoint version
    // whose delta carries that round in fetch_counters (compaction adds
    // versions that repeat the round)
    val ckpt = dir.resolve("checkpoint")
    val roundOfVersion = (1 to eng.checkpointTable.currentVersion.get).map { v =>
      spark.read.parquet(ckpt.resolve(s"data/v$v").toString)
        .agg(max(element_at(col("fetch_counters"), "round"))).as[Long].head() -> v
    }
    val commitVersion = roundOfVersion.reverse.toMap
    val ends = stats.map { s =>
      Files.getLastModifiedTime(ckpt.resolve(s"snapshots/v${commitVersion(s.round.toLong)}.json"))
        .toMillis
    }
    val windows = stats.indices.map { i =>
      val start = if (i == 0) from else ends(i - 1) + 1
      val w = ctx.window(start, ends(i))
      val s = stats(i)
      ctx.tracer.record(s"round${s.round}", "Engine.run", start, ends(i), Map(
        "crawled" -> s.crawled, "deferred" -> s.deferred, "admitted" -> s.admitted,
        "discovered" -> s.discovered, "seconds" -> s.seconds, "phases" -> s.phases,
        "jobs" -> w.jobs, "stages" -> w.stages, "tasks" -> w.tasks))
      w
    }
    val all = ctx.window(from, to)
    val phaseNames = Seq("seed", "admit", "budgets", "select", "commit_results",
      "commit_spans", "discover", "commit_backlog", "commit_ckpt", "compact")
    val phases = phaseNames.map { p =>
      s"engine.phase.${p}_s" -> stats.map(_.phases.getOrElse(p, 0.0)).sum / n
    }
    val untimed = stats.map(s => s.seconds - s.phases.values.sum).sum / n
    val deferred = stats.map(_.deferred).sum
    val tables = Seq("results", "result_spans", "checkpoint", "backlog").map(dir.resolve(_))
    val files = tables.map(Dirs.count(_, _.toString.endsWith(".parquet"))).sum

    // discovery: admitted hosts over candidate mentions of the timed
    // rounds' depth-0 results
    val discAdmitted = stats.map(_.discovered).sum
    val discoverRatio =
      if (!discovery) 0.0
      else {
        val depth0 = new SnapTable(spark, dir.resolve("backlog").toString, Seq("canonical"))
          .read().get.where(col("depth") === 0).select(col("canonical"))
        val cfg = Engine.DiscoveryConfig.on.copy(maxDepth = 1)
        val candidates = eng.resultsTable.read().get
          .where(col("pop_round") >= stats.head.round).select("domain", "result")
          .join(depth0, col("domain") === col("canonical"))
          .select("result.*").as[DomainResult]
          .map(r => Engine.discoveredHosts(r, r.domain, cfg).length.toLong)
          .reduce(_ + _)
        discAdmitted.toDouble / math.max(1L, candidates)
      }

    val split = encodeSplit(ctx, eng, dir, stats.last.round)
    val speed = if (speedupLeg) speedup(ctx, dir, stats.last.round) else 0.0
    val sumWin = (f: Window => Double) => windows.map(f).sum / n
    Map(
      "engine.rounds" -> stats.length.toDouble,
      "engine.jobs_per_round" -> sumWin(_.jobs.toDouble),
      "engine.stages_per_round" -> sumWin(_.stages.toDouble),
      "engine.tasks_per_round" -> sumWin(_.tasks.toDouble),
      "engine.exchanges_per_round" -> sumWin(_.exchanges.toDouble),
      "engine.untimed_s_per_round" -> untimed,
      "engine.deferred_ratio" -> deferred.toDouble / math.max(1L, deferred + crawled),
      "engine.shuffle_bytes_per_domain" -> all.shuffleWriteMb * 1024 * 1024 / crawled.max(1L),
      "engine.written_bytes_per_domain" -> all.outputMb * 1024 * 1024 / crawled.max(1L),
      "engine.speedup_1to4" -> speed,
      "tables.bytes_per_domain" ->
        Dirs.bytes(dir.resolve("results")).toDouble / allCrawled.max(1L),
      "tables.files_per_round" -> files.toDouble / totalRounds,
      "frontier.admit_s" -> stats.map(_.phases.getOrElse("admit", 0.0)).sum / n,
      "frontier.discover_admit_ratio" -> discoverRatio,
      "frontier.snapshot_mb" -> mb(Dirs.bytes(dir.resolve("filters"))),
      "canon.dedup_ratio" -> stats.map(_.admitted).sum.toDouble / (seedsPerRound * n),
      "spark.shuffle_mb" -> all.shuffleWriteMb,
      "spark.spill_mb" -> all.spillMb,
      "spark.gc_s" -> all.gcS,
      "spark.task_skew" -> all.skew,
      "spark.task_cpu_s" -> all.cpuS,
      "spark.plan_s" -> all.planS,
      "spark.jobs" -> all.jobs.toDouble) ++ phases ++ split ++
      notRun("canon.to_frontier_s", "frontier.admit_ratio", "frontier.fp_drops",
        "frontier.exchanges", "frontier.sorts", "frontier.shuffle_mb", "ops.q39_admit_plan_s",
        "ops.q39_admit_plan.jobs", "ops.q39_admit_plan.shuffle_mb", "ops.q39_admit_plan.rows")
  }

  /** The crawl stage's cost layers on one round's selected set, each a
    * separate call from the benchmark: probes only, probes + span codec,
    * probes + JSON rendering, probes + Tungsten encode + parquet commit.
    * Per-domain costs are task-CPU differences against the probe-only call.
    */
  private def encodeSplit(ctx: Ctx, eng: Engine, dir: Path, round: Int): Map[String, Double] = {
    val spark = ctx.spark
    import spark.implicits._
    val sel = eng.toFrontier(eng.resultsTable.read().get.where(col("pop_round") === round)
      .select(col("domain"), col("pop_rank")).as[(String, Long)]).cache()
    val n = sel.count()
    def leg[A](name: String)(body: => A): (Double, Double) = {
      val (_, wall, from, to) = timed(ctx.tracer(name, Map("domains" -> n))(body))
      (wall, ctx.window(from, to).cpuS)
    }
    val crawl = () => eng.crawlEntries(sel, sizeHint = Some(n))
    val (probeWall, probeCpu) = leg("crawlEntries")(crawl().count())
    val (_, codecCpu) = leg("SpanCodec.encode")(
      crawl().map(r => SpanCodec.encode(r).spans.length.toLong).reduce(_ + _))
    val (_, jsonCpu) = leg("JsonSink.toJson")(
      crawl().map(r => JsonSink.toJson(r).length.toLong).reduce(_ + _))
    val (_, writeCpu) = leg("SnapTable.mergeCommit")(
      new SnapTable(spark, dir.resolveSibling("split-results").toString, Seq("domain"))
        .mergeCommit(crawl().map(r => (r.domain, r)).toDF("domain", "result")))
    sel.unpersist()
    val perDomain = (cpu: Double) => math.max(0.0, cpu - probeCpu) * 1000 / n.max(1L)
    Map(
      "probes.s" -> probeWall,
      "probes.cpu_ms_per_domain" -> probeCpu * 1000 / n.max(1L),
      "spans.codec_ms_per_domain" -> perDomain(codecCpu),
      "spans.json_ms_per_domain" -> perDomain(jsonCpu),
      "tables.encode_write_ms_per_domain" -> perDomain(writeCpu))
  }

  /** The data-bound part of a round, timed at local[cores] and again at
    * local[1]: crawl, wide encode and results commit of the last timed
    * round's selected set (the same leg as the encode split's
    * `SnapTable.mergeCommit`). Returns the local[1] wall over the
    * local[cores] wall.
    */
  private def speedup(ctx: Ctx, dir: Path, round: Int): Double = {
    def leg(cores: Int): Double = {
      if (cores != ctx.spark.sparkContext.defaultParallelism) ctx.restart(cores)
      val spark = ctx.spark
      import spark.implicits._
      val eng = engine(spark, universe(ctx.seed), dir)
      val sel = eng.toFrontier(eng.resultsTable.read().get.where(col("pop_round") === round)
        .select(col("domain"), col("pop_rank")).as[(String, Long)]).cache()
      val n = sel.count()
      val (_, wall, _, _) = timed(ctx.tracer(s"SnapTable.mergeCommit@local[$cores]",
        Map("domains" -> n))(new SnapTable(spark, dir.resolveSibling(s"speedup-$cores").toString,
        Seq("domain")).mergeCommit(eng.crawlEntries(sel, sizeHint = Some(n))
        .map(r => (r.domain, r)).toDF("domain", "result"))))
      sel.unpersist()
      wall
    }
    val wallN = leg(ctx.cores)
    leg(1) / wallN
  }
}

object LoopWorkload {
  val polite = new LoopWorkload("polite-loop", seedsPerRound = 250, budgetScale = 1,
    discovery = true, wallClock = false, speedupLeg = false)
  val bulk = new LoopWorkload("bulk-loop", seedsPerRound = 1500, budgetScale = 16,
    discovery = false, wallClock = true, speedupLeg = true)
}

/** Seen-set admission at scale: `toFrontier` + `admitUnseen` over generated
  * seeds (~4.4% duplicates), no probing. Each leg uses a fresh engine, so
  * every leg admits the same keys. The engine has the crawl CLI's settings
  * (`CrawlMain`: Engine defaults, 32 frontier partitions and 1<<20 filter
  * slots per partition, the floor `FrontierScaleBench` sizes to as well).
  */
object AdmitScale extends Workload {
  import Workload._

  val setups = 3
  private val keysPerLeg = 1000000L

  def legs(seconds: Int): Int = math.max(3, seconds / 5)

  private def engine(spark: SparkSession, u: Universe, dir: Path): Engine =
    new Engine(spark, u, workDir = dir.toString)

  private def seeds(spark: SparkSession, u: Universe, n: Long): Dataset[(String, Long)] = {
    import spark.implicits._
    spark.range(n).map(i => (u.seedDomain(i), i.longValue))
  }

  def warmUp(spark: SparkSession, seed: Long, dir: Path): Unit = {
    val u = new Universe(seed)
    val eng = engine(spark, u, dir)
    eng.admitUnseen(eng.toFrontier(seeds(spark, u, 100000L)), round = 0).count()
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val u = new Universe(ctx.seed)
    val n = legs(ctx.seconds)
    val cpu0 = Jvm.cpuSeconds()
    val runs = (1 to n).map { i =>
      val dir = ctx.work.resolve(s"leg$i")
      val eng = engine(spark, u, dir)
      System.gc() // every leg starts on a collected heap
      val (admitted, wall, from, to) = timed(ctx.tracer("admit-leg", Map("keys" -> keysPerLeg))(
        eng.admitUnseen(eng.toFrontier(seeds(spark, u, keysPerLeg)), round = 0).count()))
      if (i > 1) Dirs.delete(ctx.work.resolve(s"leg${i - 1}"))
      (admitted, wall, from, to)
    }
    val cpu = Jvm.cpuSeconds() - cpu0
    val heapPeak = Jvm.oldGenPeakMb()
    val heap = Jvm.liveHeapMb()
    val lastDir = ctx.work.resolve(s"leg$n")
    val timedS = runs.map(_._2).sum

    // ---- correctness gates: exact distinct count by the same canonicalization
    val probe = engine(spark, u, ctx.work.resolve("distinct"))
    val distinct = probe.toFrontier(seeds(spark, u, keysPerLeg)).count()
    val admitted = runs.head._1
    val fp = distinct - admitted
    val gates = Seq(
      Gate("legs_agree", runs.forall(_._1 == admitted),
        s"admitted per leg: ${runs.map(_._1).mkString(",")}"),
      Gate("admitted_le_distinct", admitted <= distinct, s"admitted $admitted, distinct $distinct"))

    val e2e = Map(
      "domains_per_s" -> runs.map(_._1).sum / timedS,
      "round_s_p50" -> median(runs.map(_._2)),
      "keys_per_s" -> keysPerLeg * n / timedS,
      "cpu_s" -> cpu,
      "live_heap_mb" -> heap,
      "stored_mb" -> mb(Dirs.bytes(lastDir)))

    val (layer, traceGates) =
      if (!ctx.traced) (Map.empty[String, Double], Nil)
      else {
        val (_, _, from, to) = runs.last
        val leg = ctx.window(from, to)
        val (split, q39Gate) = layers(ctx, u, distinct, admitted)
        (Map(
          "frontier.fp_drops" -> fp.toDouble,
          "frontier.snapshot_mb" -> mb(Dirs.bytes(lastDir.resolve("filters"))),
          "frontier.exchanges" -> leg.exchanges.toDouble,
          "frontier.sorts" -> leg.sorts.toDouble,
          "frontier.shuffle_mb" -> leg.shuffleWriteMb,
          "spark.shuffle_mb" -> leg.shuffleWriteMb,
          "spark.spill_mb" -> leg.spillMb,
          "spark.gc_s" -> leg.gcS,
          "spark.task_skew" -> leg.skew,
          "spark.task_cpu_s" -> leg.cpuS,
          "spark.plan_s" -> leg.planS,
          "spark.jobs" -> leg.jobs.toDouble,
          "jvm.old_gen_peak_mb" -> heapPeak) ++ split ++
          notRun("engine.rounds", "engine.jobs_per_round", "engine.stages_per_round",
            "engine.tasks_per_round", "engine.exchanges_per_round", "engine.untimed_s_per_round",
            "engine.phase.seed_s", "engine.phase.admit_s", "engine.phase.budgets_s",
            "engine.phase.select_s", "engine.phase.commit_results_s",
            "engine.phase.commit_spans_s", "engine.phase.discover_s",
            "engine.phase.commit_backlog_s", "engine.phase.commit_ckpt_s",
            "engine.phase.compact_s", "engine.deferred_ratio", "engine.shuffle_bytes_per_domain",
            "engine.written_bytes_per_domain", "engine.speedup_1to4",
            "tables.encode_write_ms_per_domain", "tables.bytes_per_domain",
            "tables.files_per_round", "probes.cpu_ms_per_domain", "probes.s",
            "spans.codec_ms_per_domain", "spans.json_ms_per_domain",
            "frontier.discover_admit_ratio"), Seq(q39Gate))
      }
    Outcome(e2e, layer, attempted = keysPerLeg * n, gates ++ traceGates,
      Map("input" -> s"keys=$keysPerLeg", "admitted" -> admitted, "distinct" -> distinct,
        "fp_drops" -> fp), timedS)
  }

  /** Canonicalization and admission as two separate calls, plus the SQL
    * user of the admission operator (`q39_admit_plan`) on documents whose
    * sources are this universe's seeds.
    */
  private def layers(ctx: Ctx, u: Universe, distinct: Long, admitted: Long)
      : (Map[String, Double], Gate) = {
    val spark = ctx.spark
    import spark.implicits._
    val eng = engine(spark, u, ctx.work.resolve("split"))
    val fr = eng.toFrontier(seeds(spark, u, keysPerLeg)).cache()
    val (_, canonS, _, _) = timed(ctx.tracer("toFrontier")(fr.count()))
    val (_, admitS, _, _) = timed(ctx.tracer("admitUnseen")(eng.admitUnseen(fr, round = 0).count()))
    fr.unpersist()

    val docsDir = ctx.work.resolve("q39")
    spark.range(keysPerLeg / 10)
      .map(i => (i.longValue, "", "en", u.seedDomain(i), 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(docsDir.resolve("documents.parquet").toString)
    val q39 = graft.SparkEntry.queries("q39_admit_plan")
    val (rows, q39S, from, to) = timed(ctx.tracer("SparkEntry.queries/q39_admit_plan")(
      q39(spark, docsDir.toString).count()))
    val w = ctx.window(from, to)
    // q39 keeps the first row per key: exactly the distinct canonical set
    val want = spark.read.parquet(docsDir.resolve("documents.parquet").toString)
      .select(graft.canon.Canon.canonicalizeDomainCol(concat(col("source"), lit(".Example.CZ"))))
      .distinct().count()
    val gate = Gate("q39_distinct", rows == want, s"q39 rows $rows, distinct canonical $want")
    (Map(
      "canon.to_frontier_s" -> canonS,
      "canon.dedup_ratio" -> distinct.toDouble / keysPerLeg,
      "frontier.admit_s" -> admitS,
      "frontier.admit_ratio" -> admitted.toDouble / distinct,
      "ops.q39_admit_plan_s" -> q39S,
      "ops.q39_admit_plan.jobs" -> w.jobs.toDouble,
      "ops.q39_admit_plan.shuffle_mb" -> w.shuffleWriteMb,
      "ops.q39_admit_plan.rows" -> rows.toDouble), gate)
  }
}
