package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark process: one Spark application driven closed-loop by this
  * thread (each call waits for the previous one).
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <dir> --result <file> [--spans <file>] [--cores <n>]
  *      [--launch-ms <epoch ms the process was launched>]
  * }}}
  *
  * Writes one JSON object to `--result`: metrics, correctness gates and the
  * values recorded per seed. Exits 3 when a gate fails.
  */
object Main {
  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = args("workload")
    val workload = Workload.all.getOrElse(name,
      throw new IllegalArgumentException(
        s"unknown workload $name (known: ${Workload.all.keys.toSeq.sorted.mkString(", ")})"))
    val seed = args("seed").toLong
    val seconds = args("seconds").toInt
    val traced = args("trace") == "1"
    val cores = args.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())
    val work = Paths.get(args("work")).toAbsolutePath
    val launchMs = args.get("launch-ms").map(_.toLong)
      .getOrElse(java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)

    def session(n: Int): SparkSession = {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val s = SparkSession.builder()
        .master(s"local[$n]")
        .appName(s"perfbench-$name")
        .config("spark.sql.shuffle.partitions", n.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }

    // set-up, several times: the first counts from process launch, the
    // others stop and rebuild the session; each ends after a warm-up pass
    // on a seed disjoint from the run's. setup_s is their median.
    var spark: SparkSession = null
    val setupS = (1 to workload.setups).map { i =>
      val t0 = if (i == 1) launchMs else System.currentTimeMillis()
      if (spark != null) spark.stop()
      spark = session(cores)
      val dir = work.resolve(s"warmup$i")
      workload.warmUp(spark, Workload.disjoint(seed), dir)
      Dirs.delete(dir)
      val s = (System.currentTimeMillis() - t0) / 1000.0
      log(f"set-up $i: $s%.2f s")
      s
    }

    val tracer = new Tracer(traced)
    val collector = if (traced) Some(Collector.register(spark)) else None
    val ctx = new Ctx(seed, seconds, cores, work.resolve("run"), tracer, spark, collector, session)
    Jvm.resetHeapPeak()
    val t0 = System.nanoTime()
    val out = tracer(name)(workload.run(ctx))
    log(f"workload done in ${(System.nanoTime() - t0) / 1e9}%.1f s (timed ${out.timedS}%.1f s)")
    val ok = out.gates.forall(_.ok)

    val result = Map(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "cores" -> cores,
      "correct" -> ok, "attempted" -> out.attempted, "failed" -> 0,
      "timed_s" -> out.timedS,
      "setup_runs_s" -> setupS,
      "e2e" -> (out.e2e + ("setup_s" -> Workload.median(setupS))),
      "layer" -> (out.layer + ("trace.spans" -> tracer.size.toDouble)),
      "gates" -> out.gates.map(g => Map("name" -> g.name, "ok" -> g.ok, "detail" -> g.detail)),
      "recorded" -> out.recorded)
    args.get("spans").filter(_ => traced).foreach(p => tracer.write(Paths.get(p)))
    val resultPath = Paths.get(args("result"))
    Files.createDirectories(resultPath.getParent)
    Files.write(resultPath, Json.render(result).getBytes("UTF-8"))
    ctx.spark.stop()
    if (!ok) {
      out.gates.filterNot(_.ok).foreach(g => System.err.println(s"GATE FAILED ${g.name}: ${g.detail}"))
      sys.exit(3)
    }
  }
}
