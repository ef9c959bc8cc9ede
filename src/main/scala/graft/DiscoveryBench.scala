package graft

import org.apache.spark.sql.SparkSession

import graft.engine.Engine
import graft.model.Model.{Doc, Span}
import graft.universe.Universe

/** Discovery-mode scaling + determinism evidence: the FULL frontier loop
  * (`Engine.run` — seed chunks, politeness budgets, MERGE checkpoints,
  * and a growing frontier via host discovery) at `local[N]` vs
  * `local[4N]` on identical input.
  *
  * Complements [[ScalingBench]] (one-shot probe path) and
  * [[OrderingCheck]] (seed-only loop): here the frontier GROWS while the
  * run executes — discovered hosts admitted through the seen-set round
  * over round — and the check asserts the two parallelism levels produce
  * the bit-identical result set AND pop order (md5 digest over sorted
  * `(domain, pop_round, pop_rank)`), plus wall-clock scaling efficiency.
  *
  * `budgetScale` multiplies the universe's per-bucket politeness budgets.
  * At scale 1 a 20k-seed run drains over ~36 politeness-bounded rounds of
  * ~1.6k domains — pure fixed-round-latency territory where extra cores
  * cannot help (the 10^10-frontier analog is the opposite: rounds of
  * millions of rows). Scaling the budgets makes each round data-bound,
  * which is the regime the N-vs-4N throughput criterion speaks to; the
  * digest equality holds at any scale because both legs share it.
  *
  * Usage: `sbt "runMain graft.DiscoveryBench [N] [domains] [maxDepth]
  * [budgetScale] [single]"` (defaults 8, 20000, 1, 16).
  */
object DiscoveryBench {

  /** Politeness budgets × k: the sandbox universe's Σ budgets ≈ 4.2k/round
    * models a small nameserver population; real 10^10 frontiers spread
    * over millions of zones, so per-round selected sets are huge. Same
    * instance on both legs ⇒ digests stay comparable.
    */
  final class WideBudgetUniverse(seed: Long, k: Int) extends Universe(seed) {
    override def policyBudget(nsBucket: Int): Int = super.policyBudget(nsBucket) * k
  }

  case class Leg(wallSec: Double, crawled: Long, discovered: Long,
      rounds: Int, digest: String, phases: Map[String, Double])

  private def runAt(cores: Int, nDomains: Int, maxDepth: Int,
      budgetScale: Int): Leg = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-discovery-$cores")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val u: Universe =
      if (budgetScale == 1) new Universe(42L)
      else new WideBudgetUniverse(42L, budgetScale)
    val dir = graft.TmpDirs.create("graft-discbench").toString
    val eng = new Engine(spark, u, workDir = dir, frontierPartitions = 32,
      seedChunkSize = nDomains,
      // seen-filter capacity sized to the run's keys (~3× seeds with
      // depth-1 discovery) at the BENCH.md 2× headroom rule. Snapshot
      // bytes follow occupancy, so the library default would store no
      // more; the capacity stays because the filter geometry (and with
      // it every fingerprint collision) feeds the recorded digests
      filterCapacityPerPartition =
        math.max(1L << 14, java.lang.Long.highestOneBit(nDomains.toLong * 6 / 32) * 2),
      discovery = Engine.DiscoveryConfig.on.copy(maxDepth = maxDepth))
    // distributed doc generation; doc_id digit runs give the stable seq
    val docs = spark.range(nDomains.toLong)
      .map(i => Doc(f"doc-$i%010d", Seq(Span("text", u.seedDomain(i), null, 0))))
    val t0 = System.nanoTime()
    val stats = eng.run(docs)
    val dt = (System.nanoTime() - t0) / 1e9
    // digest over the full pop order: bit-identical across parallelism
    // levels = the north rule's ordering/seen-set equality, WITH discovery
    val rows = eng.resultsTable.read().get
      .select("domain", "pop_round", "pop_rank")
      .as[(String, Int, Long)].collect().sortBy(r => (r._2, r._3))
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach { case (d, r, k) => md.update(s"$d|$r|$k\n".getBytes("UTF-8")) }
    val digest = md.digest().map("%02x".format(_)).mkString
    spark.catalog.clearCache()
    spark.stop()
    val phases = stats.flatMap(_.phases).groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).sum }
    Leg(dt, rows.length.toLong, stats.map(_.discovered).sum, stats.length,
      digest, phases)
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(8)
    val domains = args.lift(1).map(_.toInt).getOrElse(20000)
    val maxDepth = args.lift(2).map(_.toInt).getOrElse(1)
    val budgetScale = args.lift(3).map(_.toInt).getOrElse(16)
    val a = runAt(n, domains, maxDepth, budgetScale)
    if (args.lift(4).contains("single")) {
      val ph = a.phases.toSeq.sortBy(-_._2)
        .map { case (k, v) => f""""$k":$v%.1f""" }.mkString("{", ",", "}")
      println(f"""{"metric":"discovery_single","cores":$n,"domains":$domains,"crawled":${a.crawled},"discovered":${a.discovered},"rounds":${a.rounds},"sec":${a.wallSec}%.2f,"digest":"${a.digest}","phases":$ph}""")
      return
    }
    val b = runAt(n * 4, domains, maxDepth, budgetScale)
    require(a.digest == b.digest,
      s"result set/order diverged between local[$n] and local[${n * 4}]: " +
        s"${a.digest} vs ${b.digest}")
    val thA = a.crawled / a.wallSec
    val thB = b.crawled / b.wallSec
    val eff = (thB / thA) / 4.0
    def phaseJson(l: Leg): String = l.phases.toSeq.sortBy(-_._2)
      .map { case (k, v) => f""""$k":$v%.1f""" }.mkString("{", ",", "}")
    println(f"""{"metric":"discovery_scaling","cores_n":$n,"cores_4n":${n * 4},"domains":$domains,"max_depth":$maxDepth,"budget_scale":$budgetScale,"crawled":${a.crawled},"discovered":${a.discovered},"rounds":${a.rounds},"sec_n":${a.wallSec}%.2f,"sec_4n":${b.wallSec}%.2f,"domains_per_sec_n":$thA%.1f,"domains_per_sec_4n":$thB%.1f,"scaling_efficiency":$eff%.3f,"digest":"${a.digest}","order_equal":true,"phases_n":${phaseJson(a)},"phases_4n":${phaseJson(b)}}""")
  }
}
