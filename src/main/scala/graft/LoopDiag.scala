package graft

import org.apache.spark.sql.SparkSession

import graft.engine.Engine
import graft.model.Model.{Doc, Span}
import graft.universe.Universe

/** Stage-level diagnostics for the full frontier loop (dev tool): runs the
  * discovering loop like [[DiscoveryBench]] but prints every Spark stage
  * over 300 ms wall so per-round phase costs can be attributed to concrete
  * plan stages.
  */
object LoopDiag {
  def main(args: Array[String]): Unit = {
    val cores = args.headOption.getOrElse("8")
    val n = args.lift(1).map(_.toInt).getOrElse(5000)
    val maxRounds = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")

    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      private val taskSum = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
      private val taskCnt = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        taskSum.merge(te.stageId, te.taskInfo.duration, _ + _)
        taskCnt.merge(te.stageId, 1, _ + _)
      }
      override def onStageCompleted(sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val s = sc.stageInfo
        val wall = (for { a <- s.completionTime; b <- s.submissionTime } yield a - b).getOrElse(-1L)
        if (wall > 300)
          println(f"[stage] id=${s.stageId} tasks=${taskCnt.getOrDefault(s.stageId, 0)} " +
            f"wall=${wall}ms sumTask=${taskSum.getOrDefault(s.stageId, 0L)}ms " +
            f"name=${s.name.takeWhile(_ != '\n').take(80)}")
      }
    })

    val u = new Universe(42L)
    val dir = graft.TmpDirs.create("graft-loopdiag").toString
    val eng = new Engine(spark, u, workDir = dir, frontierPartitions = 32,
      seedChunkSize = n,
      filterCapacityPerPartition = 1L << 14,
      discovery = Engine.DiscoveryConfig.on.copy(maxDepth = 1))
    val docs = spark.range(n.toLong)
      .map(i => Doc(f"doc-$i%010d", Seq(Span("text", u.seedDomain(i), null, 0))))
    val t0 = System.nanoTime()
    val stats = eng.run(docs, maxRounds)
    println(f"[total] ${(System.nanoTime() - t0) / 1e9}%.1f s")
    stats.foreach { s =>
      val ph = s.phases.toSeq.sortBy(-_._2)
        .map { case (k, v) => f"$k=$v%.1f" }.mkString(" ")
      println(f"[round ${s.round}] crawled=${s.crawled} discovered=${s.discovered} " +
        f"sec=${s.seconds}%.1f  $ph")
    }
    spark.stop()
  }
}
