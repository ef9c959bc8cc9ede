package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.commons.io.FileUtils
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.engine.Engine
import graft.probes.{CrawlConfig, Probes}
import graft.universe.Universe

/** The hand-run diagnostics, one JSON line per result on stdout:
  *
  *   runMain graft.Diag query [reps] <q…|BENCH>       # noop-sink timing + counters
  *   runMain graft.Diag plans <outDir> <tag> <q…|BENCH|ALL>
  *   runMain graft.Diag alloc [nDomains]               # probe-path ns and bytes/domain
  *   runMain graft.Diag admit [nKeys] [partitions]     # admission at 10^7–10^8 keys
  *
  * The Spark commands run on `local[$SPARK_GRAFT_CPUS]` (shuffle partitions
  * = cpus, AQE on, as `graft.Bench`) over `SPARK_GRAFT_SF_DIR`. If a session
  * is already running it is used and left running.
  */
object Diag {
  def main(args: Array[String]): Unit =
    run(args.toList, sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))

  /** One command; `sfDir` is where the query commands read their tables. */
  private[graft] def run(args: List[String], sfDir: String): Unit = args match {
    case "query" :: r :: qs if r.forall(_.isDigit) => withSession(query(_, sfDir, r.toInt, qs))
    case "query" :: qs => withSession(query(_, sfDir, 3, qs))
    case "plans" :: outDir :: tag :: qs => withSession(plans(_, sfDir, outDir, tag, qs))
    case "alloc" :: n => alloc(n.headOption.fold(200000)(_.toInt))
    case "admit" :: a => withSession(admit(_, a.headOption.fold(20000000L)(_.toLong),
      a.lift(1).fold(64)(_.toInt)))
    case _ => throw new IllegalArgumentException("usage: Diag query [reps] <q…|BENCH> | " +
      "plans <outDir> <tag> <q…|BENCH|ALL> | alloc [n] | admit [nKeys] [partitions]")
  }

  private def withSession(body: SparkSession => Unit): Unit = {
    val running = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    val spark = running.getOrElse {
      val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
      val s = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
    try body(spark) finally if (running.isEmpty) spark.stop()
  }

  private def names(qs: Seq[String]): Seq[String] = qs match {
    case Seq("BENCH") => Bench.headline
    case Seq("ALL") => SparkEntry.queries.keys.toSeq.sortBy(_.drop(1).takeWhile(_.isDigit).toInt)
    case _ => qs
  }

  /** One query run's counters (jobs, stages, tasks, task CPU ns, shuffle write
    * B, spill B, GC ms), its stage lines (≥ 20 ms) and the executed plans of
    * the executions it ran (an iterative query runs several). */
  private final class Meter extends SparkListener with QueryExecutionListener {
    val totals = new Array[Long](7)
    val stageLines = mutable.ArrayBuffer.empty[String]
    private val taskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
    val plans = mutable.ArrayBuffer.empty[SparkPlan]

    def reset(): Unit = synchronized {
      java.util.Arrays.fill(totals, 0L); stageLines.clear(); taskMs.clear(); plans.clear()
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { totals(0) += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val (s, m) = (e.stageInfo, e.stageInfo.taskMetrics)
      val ms = taskMs.remove(s.stageId).getOrElse(mutable.ArrayBuffer.empty[Long])
      Seq(1L, ms.size, m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.jvmGCTime).zipWithIndex
        .foreach { case (x, i) => totals(i + 1) += x }
      val wall = (for { a <- s.completionTime; b <- s.submissionTime } yield a - b).getOrElse(-1L)
      if (wall >= 20) stageLines += s"[stage] id=${s.stageId} tasks=${ms.size} wall=${wall}ms " +
        s"sumTask=${ms.sum}ms maxTask=${ms.maxOption.getOrElse(0L)}ms " +
        s"rdds=[${s.rddInfos.map(r => s"${r.id}:${r.name}").mkString(",").take(500)}]"
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      synchronized { plans += qe.executedPlan }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Every whole-stage-codegen span of `p` with its `pipelineTime` (ms)
    * and operator stack, looking through adaptive and cache wrappers.
    */
  private def codegenSpans(p: SparkPlan): Seq[(Long, String)] = (p match {
    case w: WholeStageCodegenExec =>
      Seq(w.metrics.get("pipelineTime").map(_.value).getOrElse(-1L) ->
        w.collect { case n => n.nodeName }.take(8).mkString(" <- "))
    case a: AdaptiveSparkPlanExec => codegenSpans(a.executedPlan)
    case q: QueryStageExec => codegenSpans(q.plan)
    case i: InMemoryTableScanExec => codegenSpans(i.relation.cachedPlan)
    case _ => Seq.empty
  }) ++ p.children.flatMap(codegenSpans)

  /** Box-wide (steal, total) jiffies from `/proc/stat`, if readable. */
  private def cpuJiffies(): Option[(Long, Long)] = scala.util.Try {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    (f(7), f.take(8).sum)
  }.toOption

  /** Each query `reps` times through the noop sink, which computes every
    * column of every row and discards it. Wall times cover all reps, steal
    * the whole window; the counters are the last (warm) rep's, whose stage
    * lines and codegen spans (≥ 100 ms) also go to stderr.
    */
  private def query(spark: SparkSession, sfDir: String, reps: Int, qs: Seq[String]): Unit = {
    val m = new Meter
    spark.sparkContext.addSparkListener(m); spark.listenerManager.register(m)
    try names(qs).foreach { name =>
      val j0 = cpuJiffies()
      val times = (1 to reps).map { i =>
        m.reset()
        spark.sparkContext.setJobDescription(s"$name noop rep $i")
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        ListenerDrain(spark.sparkContext)
        spark.catalog.clearCache()
        dt
      }
      spark.sparkContext.setJobDescription(null)
      val steal = for { (s0, t0) <- j0; (s1, t1) <- cpuJiffies() if t1 > t0 }
        yield f"${100.0 * (s1 - s0) / (t1 - t0)}%.2f"
      m.stageLines.foreach(Console.err.println)
      m.plans.flatMap(codegenSpans).filter(_._1 >= 100)
        .foreach { case (ms, ops) => Console.err.println(s"[wscg] ${ms}ms $ops") }
      val (sorted, t, mb) = (times.sorted, m.totals, 1024.0 * 1024.0)
      println(f"""{"query":"$name","reps":$reps,"times":[${times.map(x => f"$x%.3f").mkString(",")}],""" +
        f""""min":${sorted.head}%.3f,"median":${sorted(reps / 2)}%.3f,"jobs":${t(0)},"stages":${t(1)},""" +
        f""""tasks":${t(2)},"task_cpu_s":${t(3) / 1e9}%.3f,"shuffle_mb":${t(4) / mb}%.3f,""" +
        f""""spill_mb":${t(5) / mb}%.3f,"gc_s":${t(6) / 1e3}%.3f,"steal_pct":${steal.getOrElse("null")},"sf":"$sfDir",""" +
        f""""cpus":${spark.sparkContext.defaultParallelism}}""")
    } finally { spark.sparkContext.removeSparkListener(m); spark.listenerManager.unregister(m) }
  }

  /** Each query's formatted plan to `<outDir>/<q>_<tag>.txt`, and its
    * red flags: a CartesianProduct, a BroadcastNestedLoopJoin, or a global
    * (no partition key) Window. PLANS.md says which flags are by design.
    */
  private def plans(spark: SparkSession, sfDir: String, outDir: String, tag: String, qs: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    names(qs).foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(FormattedMode)
      val file = Files.write(Paths.get(outDir, s"${name}_$tag.txt"), plan.getBytes("UTF-8"))
      // a global window prints empty partition keys: "Arguments: [...], [], ["
      val globalWindow = plan.split("\n\n").exists(b =>
        b.contains(") Window") && b.contains("Arguments:") && b.contains("], [], ["))
      println(s"""{"query":"$name","file":"$file","cartesian_product":${plan.contains("CartesianProduct")},""" +
        s""""broadcast_nested_loop_join":${plan.contains("BroadcastNestedLoopJoin")},"global_window":$globalWindow}""")
    }
  }

  /** Single-thread `Probes.processDomain` cost: ns and allocated bytes per
    * domain over two warm-up and two steady legs, then per probe phase
    * (each phase includes its own `getDnsLocal` unless marked cached).
    */
  private def alloc(n: Int): Unit = {
    val u = new Universe(42L)
    val p = new Probes(u, CrawlConfig())
    val tmx = java.lang.management.ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread().getId
    def measure(label: String, count: Int)(f: String => Int): Unit = {
      val a0 = tmx.getThreadAllocatedBytes(tid)
      val t0 = System.nanoTime()
      var i = 0
      var sink = 0
      while (i < count) { sink ^= f(u.seedDomain(i.toLong % 1000000)); i += 1 }
      val dt = System.nanoTime() - t0
      val da = tmx.getThreadAllocatedBytes(tid) - a0
      println(f"""{"alloc":"$label","n":$count,"ns_per_domain":${dt.toDouble / count}%.0f,""" +
        f""""bytes_per_domain":${da.toDouble / count}%.0f,"sink":$sink}""")
    }
    Seq("warmup-1", "warmup-2", "steady-1", "steady-2") // C2 warm-up first
      .foreach(measure(_, n)(d => p.processDomain(d, "2026-01-01 00:00:00").domain.length))
    // at most 10^6 distinct seed domains, so the cache stays bounded
    val dlCache = new java.util.HashMap[String, graft.model.Model.DnsLocal]()
    val load: java.util.function.Function[String, graft.model.Model.DnsLocal] = p.getDnsLocal(_)
    def dl(d: String) = dlCache.computeIfAbsent(d, load)
    val m = n / 2
    measure("dns_local", m)(d => { p.getDnsLocal(d); 0 })
    measure("dns_auth", m)(d => { p.getDnsAuth(d); 0 })
    measure("warm-dl", m)(d => { dl(d); 0 })
    measure("mail(+dl cached)", m)(d => { p.getMail(d, dl(d)); 0 })
    measure("web(+dl cached)", m)(d => { p.getWeb(d, dl(d)); 0 })
    measure("web_paths(+dl cached)", m)(d => { p.getWebPaths(d, dl(d)); 0 })
  }

  /** `Engine.toFrontier` + `Engine.admitUnseen` (executor-side filter
    * snapshot writes included) over `n` generated seeds in `p` filter
    * partitions: a warm-up leg, then the measured leg, whose admitted count
    * and filter bytes per key back BENCH.md's 10^10-entry design math.
    */
  private def admit(spark: SparkSession, n: Long, p: Int): Unit = {
    import spark.implicits._
    val u = new Universe(42L)
    val dir = TmpDirs.create("frontier-scale").toString
    // capacity sized to the key count (95% cuckoo load bound)
    val eng = new Engine(spark, u, workDir = dir, frontierPartitions = p,
      filterCapacityPerPartition = math.max(1L << 20, (n / p) * 2))
    def leg(): (Double, Long) = {
      val seeds = spark.range(n).map(i => (u.seedDomain(i), i.longValue))
      val t0 = System.nanoTime()
      val admitted = eng.admitUnseen(eng.toFrontier(seeds), round = 0).count()
      ((System.nanoTime() - t0) / 1e9, admitted)
    }
    leg() // warm-up (C2 + shuffle services)
    val (dt, admitted) = leg()
    // the warm-up leg commits no snapshot, so the measured leg re-admits
    // every key; 0 would mean a contaminated seen-set (and Infinity below)
    require(admitted > 0, s"measured leg admitted 0 of $n keys: warm-up leg contaminated the seen-set")
    val filterBytes = FileUtils.sizeOfDirectory(new java.io.File(s"$dir/filters"))
    println(f"""{"metric":"frontier_admission","keys":$n,"admitted":$admitted,"sec":$dt%.2f,"keys_per_sec":${n / dt}%.0f,"partitions":$p,"filter_bytes_total":$filterBytes,"filter_bytes_per_partition":${filterBytes / p},"bytes_per_admitted_key":${filterBytes.toDouble / admitted}%.2f,"cores":${spark.sparkContext.defaultParallelism}}""")
  }
}
