package graft

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

/** The one telemetry collector: a single SparkListener per
  * SparkContext that answers "where did the time go?" for a job group
  * (a bench query, a spec's counted window, a ScaleProbe leg) and for
  * each loop round — Drizzle's split of coordination cost (jobs,
  * stages, wall) against compute (task time).
  *
  * It aggregates at stage and job completion only, with no per-task
  * handler, and records only the jobs of a group opened by [[run]] or
  * of a round opened by [[round]]. Spark posts a job's stage and job
  * completion events before its action returns, and every read posts a
  * marker on the listener bus and waits until the listener received it,
  * so reads are exact and never quiet-poll.
  */
object Profile {
  // tags a loop round's jobs; never the job group, which harnesses and
  // specs count by: a loop inside a counted query keeps its jobs there
  private val RoundKey = "graft.loop.round"
  // rounds of loops that never record (fixed-round unrolls) are
  // evicted oldest first past this many
  private val MaxRounds = 1 << 16
  // a marker the bus dropped (a full queue) must not hang the reader
  private val MarkerWaitMs = 10000L

  private final case class Marker(id: Long) extends SparkListenerEvent

  final case class Counters(jobs: Long = 0L, stages: Long = 0L,
      tasks: Long = 0L, taskRunMs: Long = 0L, taskCpuNs: Long = 0L,
      shuffleReadBytes: Long = 0L, shuffleWriteBytes: Long = 0L,
      shuffleRecords: Long = 0L) {
    def +(o: Counters): Counters = Counters(jobs + o.jobs,
      stages + o.stages, tasks + o.tasks, taskRunMs + o.taskRunMs,
      taskCpuNs + o.taskCpuNs, shuffleReadBytes + o.shuffleReadBytes,
      shuffleWriteBytes + o.shuffleWriteBytes,
      shuffleRecords + o.shuffleRecords)
  }

  /** One finished job: its call site, wall and its stages' counters. */
  final case class Job(id: Int, callSite: String, wallMs: Long,
      counters: Counters)

  /** A job group's or a loop round's totals and jobs in completion
    * order; a round also carries the driver wall of its body. */
  final case class Group(counters: Counters, jobs: Seq[Job], wallNs: Long)

  private def ofStage(si: StageInfo): Counters = Option(si.taskMetrics)
    .fold(Counters(stages = 1L, tasks = si.numTasks.toLong)) { m =>
      val r = m.shuffleReadMetrics
      Counters(stages = 1L, tasks = si.numTasks.toLong,
        taskRunMs = m.executorRunTime, taskCpuNs = m.executorCpuTime,
        shuffleReadBytes = r.remoteBytesRead + r.localBytesRead,
        shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
        shuffleRecords = r.recordsRead)
    }

  private final class Collector(val sc: SparkContext) extends SparkListener {
    // one per open group or round; `owner` is the thread that ran a round
    private final class Acc(val owner: Long) {
      var c = Counters()
      var wallNs = 0L
      val jobs = mutable.ArrayBuffer.empty[Job]
      def result = Group(c, jobs.toSeq, wallNs)
    }
    private final class Open(val accs: Seq[Acc], val site: String,
        val startMs: Long, val stageIds: Seq[Int]) {
      var c = Counters(jobs = 1L)
    }
    private val groups = mutable.HashMap.empty[String, Acc]
    private val rounds = mutable.LinkedHashMap.empty[String, Acc]
    private val open = mutable.HashMap.empty[Int, Open]
    private val stageJob = mutable.HashMap.empty[Int, Int]
    private val markers = new AtomicLong()
    private var delivered = 0L

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).foreach(p => synchronized {
        val accs = Option(p.getProperty("spark.jobGroup.id")).flatMap(groups.get).toSeq ++
          Option(p.getProperty(RoundKey)).flatMap(rounds.get)
        if (accs.nonEmpty) {
          // the result stage is created last; its name is the job's call site
          val site = e.stageInfos.maxByOption(_.stageId).fold("")(_.name)
          open(e.jobId) = new Open(accs, site, e.time, e.stageIds)
          e.stageIds.foreach(stageJob(_) = e.jobId)
        }
      })

    // every attempt of a stage counts; the mapping goes at job end
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        for (id <- stageJob.get(e.stageInfo.stageId); j <- open.get(id))
          j.c += ofStage(e.stageInfo)
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      open.remove(e.jobId).foreach { j =>
        j.stageIds.foreach(s => if (stageJob.get(s).contains(e.jobId)) stageJob.remove(s))
        val job = Job(e.jobId, j.site, e.time - j.startMs, j.c)
        j.accs.foreach { a => a.c += job.counters; a.jobs += job }
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case Marker(id) => synchronized { delivered = math.max(delivered, id); notifyAll() }
      case _ =>
    }

    /** Wait until this listener received every event posted before
      * the call: the bus delivers one queue's events in order. */
    def drained(): this.type = {
      val id = markers.incrementAndGet()
      Bridge.post(sc, Marker(id))
      val deadline = System.currentTimeMillis() + MarkerWaitMs
      synchronized {
        while (delivered < id && !sc.isStopped && System.currentTimeMillis() < deadline)
          wait(100L)
      }
      this
    }

    def openGroup(g: String): Unit = synchronized { groups(g) = new Acc(0L) }

    def takeGroup(g: String): Group =
      synchronized(groups.remove(g).fold(Group(Counters(), Nil, 0L))(_.result))

    def openRound(tag: String): Unit = synchronized {
      rounds(tag) = new Acc(Thread.currentThread().getId)
      if (rounds.size > MaxRounds) rounds.remove(rounds.head._1)
    }

    def closeRound(tag: String, wallNs: Long): Unit =
      synchronized(rounds.get(tag).foreach(_.wallNs = wallNs))

    def takeRounds(): Seq[Group] = synchronized {
      val mine = rounds.filter(_._2.owner == Thread.currentThread().getId).toSeq
      mine.foreach(r => rounds.remove(r._1))
      mine.map(_._2.result)
    }
  }

  private val roundIds = new AtomicLong()
  // the live context's collector: Spark runs one SparkContext per JVM,
  // and a context started after a stop gets a fresh collector
  private var live: Option[Collector] = None

  private def collector(sc: SparkContext): Collector = synchronized {
    if (!live.exists(_.sc eq sc)) {
      live = Some(new Collector(sc))
      sc.addSparkListener(live.get)
    }
    live.get
  }

  /** Run `body` under the job group `group` and return its value with
    * the group's profile: every job `body` starts, on this thread or on
    * a thread that inherits its local properties (broadcast and
    * subquery threads do). The job group is cleared after.
    */
  def run[T](spark: SparkSession, group: String)(body: => T): (T, Group) = {
    val sc = spark.sparkContext
    val c = collector(sc)
    c.openGroup(group)
    sc.setJobGroup(group, group)
    val out =
      try body
      catch { case t: Throwable => c.takeGroup(group); throw t }
      finally sc.clearJobGroup()
    (out, c.drained().takeGroup(group))
  }

  /** Run `body` as one loop round: its jobs carry a fresh round tag
    * (the previous tag is restored after) and its driver wall is
    * recorded. [[takeRounds]] on the same thread reads the round. */
  def round[T](spark: SparkSession)(body: => T): T = {
    val sc = spark.sparkContext
    val c = collector(sc)
    val tag = roundIds.incrementAndGet().toString
    c.openRound(tag)
    val prev = sc.getLocalProperty(RoundKey)
    sc.setLocalProperty(RoundKey, tag)
    val t0 = System.nanoTime()
    try body
    finally {
      sc.setLocalProperty(RoundKey, prev)
      c.closeRound(tag, System.nanoTime() - t0)
    }
  }

  /** The calling thread's rounds since its previous take, in order. */
  def takeRounds(): Seq[Group] = synchronized(live).toSeq.flatMap(_.drained().takeRounds())

  /** Wait until every listener on the shared bus queue (this
    * collector, a session's QueryExecutionListeners) received the
    * events posted before the call. */
  def drain(spark: SparkSession): Unit = collector(spark.sparkContext).drained()
}
