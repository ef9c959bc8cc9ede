package graft

import java.io.ByteArrayOutputStream

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** Each `graft.Diag` command on tiny inputs, in-process on the shared
  * session: every stdout line is JSON, and the session survives (Diag
  * stops only a session it created).
  */
class DiagSpec extends AnyFunSuite {
  private val spark = SparkSessionFixture.spark
  private val mapper = new ObjectMapper()
  private val sf = "/root/testdata/sf0.001"

  /** Stdout lines of one Diag command parsed as JSON (stderr discarded). */
  private def run(args: String*): Seq[JsonNode] = {
    val out = new ByteArrayOutputStream()
    Console.withOut(out)(Console.withErr(new ByteArrayOutputStream())(Diag.run(args.toList, sf)))
    val lines = out.toString("UTF-8").linesIterator.filter(_.nonEmpty).toSeq
    assert(lines.nonEmpty, s"Diag ${args.mkString(" ")} printed nothing")
    lines.map(mapper.readTree)
  }

  private def sessionUsable(): Unit = {
    assert(!spark.sparkContext.isStopped)
    assert(spark.range(10).count() == 10)
  }

  test("query: one JSON line per query with wall times and counters") {
    val Seq(q) = run("query", "1", "q01_scan_filter")
    assert(q.get("query").asText == "q01_scan_filter")
    for (k <- Seq("min", "median", "jobs", "stages", "tasks", "task_cpu_s", "shuffle_mb",
        "spill_mb", "gc_s", "steal_pct"))
      assert(q.has(k), s"no $k in $q")
    assert(q.get("times").size == 1)
    assert(q.get("jobs").asLong >= 1 && q.get("stages").asLong >= 1)
    sessionUsable()
  }

  test("plans: writes the formatted plan and prints its red flags") {
    val dir = TmpDirs.create("diag-plans")
    val Seq(p) = run("plans", dir.toString, "t", "q20_cosine_topk")
    val file = dir.resolve("q20_cosine_topk_t.txt")
    assert(p.get("file").asText == file.toString)
    assert(java.nio.file.Files.readString(file).contains("Physical Plan"))
    // the brute-force scorer's broadcast nested-loop join (PLANS.md: by design)
    assert(p.get("broadcast_nested_loop_join").asBoolean)
    assert(!p.get("cartesian_product").asBoolean)
    sessionUsable()
  }

  test("alloc: legs and phases, each with ns and bytes per domain") {
    val lines = run("alloc", "2000")
    assert(lines.map(_.get("alloc").asText) == Seq("warmup-1", "warmup-2", "steady-1",
      "steady-2", "dns_local", "dns_auth", "warm-dl", "mail(+dl cached)", "web(+dl cached)",
      "web_paths(+dl cached)"))
    assert(lines.forall(l => l.get("bytes_per_domain").asLong > 0 && l.has("ns_per_domain")))
  }

  test("admit: every distinct key admitted once, filter bytes reported") {
    val Seq(a) = run("admit", "20000", "4")
    assert(a.fieldNames.asScala.toSeq == Seq("metric", "keys", "admitted", "sec", "keys_per_sec",
      "partitions", "filter_bytes_total", "filter_bytes_per_partition",
      "bytes_per_admitted_key", "cores"))
    assert(a.get("keys").asLong == 20000 && a.get("partitions").asInt == 4)
    // the distinct canonical domains among the first 20,000 generated seeds
    assert(a.get("admitted").asLong == 19142)
    assert(a.get("filter_bytes_total").asLong > 0)
    sessionUsable()
  }
}
