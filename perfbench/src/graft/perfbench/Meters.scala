package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** One executed stage as the listener saw it (times are epoch ms). */
final case class StageRec(submitted: Long, tasks: Int, cpuNs: Long, gcMs: Long,
    shuffleWrite: Long, spill: Long, output: Long, taskMs: Array[Long])

/** One successful query execution: its start (epoch ms) and plan shape. */
final case class PlanRec(time: Long, exchanges: Int, sorts: Int, planMs: Long)

/** Totals over a time window. */
final case class Window(jobs: Int, stages: Int, tasks: Long, cpuS: Double,
    gcS: Double, shuffleWriteMb: Double, spillMb: Double, outputMb: Double, exchanges: Int, sorts: Int,
    planS: Double, skew: Double)

/** Counts jobs, stages, tasks and task metrics from the outside of the
  * program: a `SparkListener` plus a `QueryExecutionListener` registered on
  * the benchmark's session. Everything is kept with timestamps, so a time
  * window (one benchmark call, or one engine round) can be summed later.
  */
final class Collector extends SparkListener with QueryExecutionListener {
  private val jobTimes = mutable.ArrayBuffer.empty[Long]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val plans = mutable.ArrayBuffer.empty[PlanRec]
  private val taskMs = mutable.HashMap.empty[Int, mutable.ArrayBuilder.ofLong]
  private val agg = mutable.HashMap.empty[Int, Array[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobTimes += e.time
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = agg.getOrElseUpdate(e.stageId, new Array[Long](6))
      a(0) += 1
      a(1) += m.executorCpuTime
      a(2) += m.jvmGCTime
      a(3) += m.shuffleWriteMetrics.bytesWritten
      a(4) += m.memoryBytesSpilled + m.diskBytesSpilled
      a(5) += m.outputMetrics.bytesWritten
      taskMs.getOrElseUpdate(e.stageId, new mutable.ArrayBuilder.ofLong) +=
        e.taskInfo.duration
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    val a = agg.remove(s.stageId).getOrElse(new Array[Long](6))
    val ms = taskMs.remove(s.stageId).map(_.result()).getOrElse(Array.empty[Long])
    stages += StageRec(s.submissionTime.getOrElse(0L), a(0).toInt, a(1), a(2), a(3), a(4),
      a(5), ms)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val nodes = Collector.planNodes(qe.executedPlan)
    // driver-side analysis, optimization and planning of this query
    val planMs = qe.tracker.phases.values.map(_.durationMs).sum
    // the callback runs on the listener bus, after the action: date the
    // record by the action's start so time windows attribute it correctly
    val rec = PlanRec(System.currentTimeMillis() - durationNs / 1000000,
      nodes.count(_.isInstanceOf[ShuffleExchangeLike]), nodes.count(_.isInstanceOf[SortExec]), planMs)
    synchronized { plans += rec }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Sums everything that started in `[from, to]` (epoch ms). */
  def window(from: Long, to: Long): Window = synchronized {
    val ss = stages.filter(s => s.submitted >= from && s.submitted <= to)
    val ps = plans.filter(p => p.time >= from && p.time <= to)
    val mb = 1024.0 * 1024.0
    Window(
      jobs = jobTimes.count(t => t >= from && t <= to),
      stages = ss.length,
      tasks = ss.map(_.tasks.toLong).sum,
      cpuS = ss.map(_.cpuNs).sum / 1e9,
      gcS = ss.map(_.gcMs).sum / 1e3,
      shuffleWriteMb = ss.map(_.shuffleWrite).sum / mb,
      spillMb = ss.map(_.spill).sum / mb,
      outputMb = ss.map(_.output).sum / mb,
      exchanges = ps.map(_.exchanges).sum,
      sorts = ps.map(_.sorts).sum,
      planS = ps.map(_.planMs).sum / 1e3,
      skew = Collector.skew(ss.toSeq))
  }
}

object Collector {
  /** Every node of an executed plan, looking through adaptive wrappers and
    * query stages so the final (post-AQE) plan is what gets counted.
    */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case other =>
      other +: (other.children.flatMap(planNodes) ++ other.subqueries.flatMap(planNodes))
  }

  /** Max over median task time in the stage with the most task time. */
  def skew(ss: Seq[StageRec]): Double =
    ss.filter(_.taskMs.nonEmpty).maxByOption(_.taskMs.sum) match {
      case None => 0.0
      case Some(s) =>
        val sorted = s.taskMs.sorted
        val med = math.max(1L, sorted(sorted.length / 2))
        sorted.last.toDouble / med
    }

  def register(spark: SparkSession): Collector = {
    val c = new Collector
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
    c
  }

  def unregister(spark: SparkSession, c: Collector): Unit = {
    spark.sparkContext.removeSparkListener(c)
    spark.listenerManager.unregister(c)
  }
}

/** Spans kept in memory and written out once at the end of a traced run:
  * one span per benchmark call into a layer (name, start, end, parent).
  */
final class Tracer(enabled: Boolean) {
  final case class Span(id: Int, parent: Int, name: String, start: Long,
      end: Long, attrs: Map[String, Any])
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 1

  def apply[A](name: String, attrs: => Map[String, Any] = Map.empty)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val start = System.currentTimeMillis()
      try body
      finally {
        stack = stack.tail
        done += Span(id, parent, name, start, System.currentTimeMillis(), attrs)
      }
    }

  /** A span whose times were observed after the fact (an engine round),
    * as a child of the last finished span named `parent`.
    */
  def record(name: String, parent: String, start: Long, end: Long,
      attrs: Map[String, Any]): Unit =
    if (enabled) {
      val p = done.findLast(_.name == parent).map(_.id).getOrElse(stack.headOption.getOrElse(0))
      done += Span(nextId, p, name, start, end, attrs)
      nextId += 1
    }

  def size: Int = done.length

  def write(path: Path): Unit = {
    val rows = done.sortBy(_.start).map(s => Map("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end, "attrs" -> s.attrs))
    Files.createDirectories(path.getParent)
    Files.write(path, Json.render(Map("spans" -> rows.toSeq)).getBytes("UTF-8"))
  }
}

/** Process CPU and old-generation occupancy, read through JMX. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuSeconds(): Double = os.getProcessCpuTime / 1e9

  private def oldPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))

  @volatile private var peakAfterMajor = 0L

  // old-gen occupancy after every major collection, via GC notifications
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          if (info.getGcAction.contains("major")) {
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
              case (k, u) if k.contains("Old Gen") || k.contains("Tenured") => u.getUsed
            }.sum
            if (used > peakAfterMajor) peakAfterMajor = used
          }
        }
      }, null, null)
    case _ =>
  }

  def resetHeapPeak(): Unit = peakAfterMajor = 0L

  /** Peak old-gen occupancy after a major GC since the last reset (MB). It
    * depends on when the collector happens to run, so it is a per-layer
    * number; [[liveHeapMb]] is the repeatable one.
    */
  def oldGenPeakMb(): Double = peakAfterMajor / (1024.0 * 1024.0)

  /** Old-gen occupancy after a forced full collection now: the live set the
    * work left behind (MB).
    */
  def liveHeapMb(): Double = {
    System.gc()
    oldPools.map(_.getCollectionUsage).filter(_ != null).map(_.getUsed).sum / (1024.0 * 1024.0)
  }
}

object Dirs {
  def bytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally w.close()
    }

  def count(p: Path, pred: Path => Boolean): Int =
    if (!Files.exists(p)) 0
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.count(f => Files.isRegularFile(f) && pred(f))
      finally w.close()
    }

  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.iterator().asScala.toVector.reverseIterator.foreach(Files.deleteIfExists(_))
      finally w.close()
    }
}

/** JSON rendering for the result and spans files. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def render(v: Any): String = mapper.writeValueAsString(v)
}
