package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler._
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** Per-run job/stage/GC breakdown for spread adjudication: runs one
  * SparkEntry query N times and prints, per run, wall time, GC delta,
  * JIT-compilation-time delta, code-cache occupancy, the LoopStats
  * counters the run recorded (loop rounds and their `_wms` / `_tms`
  * cost split), job count, and the top-5 slowest jobs (wall and
  * summed task time). Slow runs then
  * read as "job 37 went from 0.2 to 9 s with flat task time" (driver/
  * JVM stall) vs "task time ballooned" (executor-side work or GC).
  */
object BenchProbe {
  private class JobClock extends SparkListener {
    case class J(id: Int, var t0: Long = 0L, var t1: Long = 0L,
      var taskNs: Long = 0L, var tasks: Int = 0, var desc: String = "")
    val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, J]
    val stageToJob = scala.collection.mutable.HashMap.empty[Int, Int]
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val j = J(e.jobId, t0 = e.time)
      j.desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .orElse(Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))))
        .getOrElse("")
      jobs(e.jobId) = j
      e.stageIds.foreach(s => stageToJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.t1 = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (jid <- stageToJob.get(e.stageId); j <- jobs.get(jid);
           m <- Option(e.taskMetrics)) {
        j.taskNs += m.executorRunTime * 1000000L
        j.tasks += 1
      }
    }
    case class St(id: Int, name: String, var taskMs: Long = 0L,
      var tasks: Int = 0)
    val stages = scala.collection.mutable.LinkedHashMap.empty[Int, St]
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val si = e.stageInfo
        val st = stages.getOrElseUpdate(si.stageId,
          St(si.stageId, si.name.take(90)))
        Option(si.taskMetrics).foreach(m => st.taskMs += m.executorRunTime)
        st.tasks += si.numTasks
      }
    def stageReport(): String = synchronized {
      stages.values.toSeq.sortBy(-_.taskMs).take(6).map(s =>
        f"s${s.id} ${s.taskMs / 1e3}%.1fs/${s.tasks} ${s.name}").mkString(" || ")
    }
    def reset(): Unit = synchronized {
      jobs.clear(); stageToJob.clear(); stages.clear()
    }
    def report(): String = synchronized {
      val done = jobs.values.filter(_.t1 > 0).toSeq
      val top = done.sortBy(j => -(j.t1 - j.t0)).take(5).map { j =>
        f"job${j.id}%d wall=${(j.t1 - j.t0) / 1e3}%.2fs task=${j.taskNs / 1e9}%.1fs n=${j.tasks}%d ${j.desc.take(60)}"
      }
      f"jobs=${done.size}%d wallSum=${done.map(j => j.t1 - j.t0).sum / 1e3}%.1fs | " +
        top.mkString(" || ")
    }
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
  private def jitMs(): Long =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def ccacheMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.startsWith("CodeHeap"))
      .map(_.getUsage.getUsed / 1048576.0).sum
  private def classes(): Long =
    ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_CODEGEN_CACHE", "4096"))
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val clock = new JobClock
    spark.sparkContext.addSparkListener(clock)
    spark.range(1000000).selectExpr("sum(id)").collect()
    val n = if (args.length > 2) args(2).toInt else 3
    (1 to n).foreach { i =>
      clock.reset()
      LoopStats.drain()
      val gc0 = gcMs(); val jit0 = jitMs(); val cl0 = classes()
      val t0 = System.nanoTime()
      val c = SparkEntry.queries(args(1))(spark, args(0)).count()
      val dt = (System.nanoTime() - t0) / 1e9
      val loops = LoopStats.drain().toSeq.sorted
        .map { case (k, v) => s" $k=$v" }.mkString
      println(f"[probe] ${args(1)} run$i: $dt%.2f s rows=$c gc+${gcMs() - gc0}ms jit+${jitMs() - jit0}ms ccache=${ccacheMb()}%.0fmb classes+${classes() - cl0}%d$loops")
      println(s"[probe]   ${clock.report()}")
      println(s"[probe]   stages: ${clock.stageReport()}")
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}
