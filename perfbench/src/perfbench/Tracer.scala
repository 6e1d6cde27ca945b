package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Traced runs only. Listens from outside the program through Spark's public
  * listener APIs and keeps spans in memory until [[write]]:
  *  - an `op` span per timed query run (batch workloads) or per micro-batch
  *    (stream workloads);
  *  - `job` spans under their op, found through the job's local properties
  *    (`perfbench.op` set by the batch driver thread, `streaming.sql.batchId`
  *    set by the micro-batch engine);
  *  - `stage` spans under their job.
  * Counters sum only events that finish inside the measured window.
  */
final class Tracer(o: Opts) {
  import Tracer._

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new AtomicLong(1L)
  private val jobOp = new ConcurrentHashMap[Int, (Long, Long, Long)]() // job -> (span id, op, start)
  private val stageJob = new ConcurrentHashMap[Int, Long]() // stage -> job span id
  private val batchOp = new ConcurrentHashMap[Long, Long]() // stream batch id -> op span id
  @volatile private var w0 = Long.MaxValue
  @volatile private var w1 = Long.MaxValue
  private var codegen0 = 0L
  private var codegenNs = 0L
  private val c = new ConcurrentHashMap[String, AtomicLong]()
  private val opJobs = new ConcurrentHashMap[Long, AtomicLong]()

  private def add(k: String, v: Long): Unit = c.computeIfAbsent(k, _ => new AtomicLong()).addAndGet(v)
  def count(k: String): Long = Option(c.get(k)).map(_.get).getOrElse(0L)
  private def inWindow(t: Long): Boolean = t >= w0 && t <= w1
  def newId(): Long = nextId.getAndIncrement()

  def span(s: Span): Unit = spans.add(s)

  /** Stream batches get their op span id up front so jobs can point at it. */
  private def opForBatch(batch: Long): Long = batchOp.computeIfAbsent(batch, _ => newId())

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        val op = props.flatMap(p => Option(p.getProperty(OpKey))).map(_.toLong)
          .orElse(props.flatMap(p => Option(p.getProperty(BatchKey))).map(b => opForBatch(b.toLong)))
          .getOrElse(0L)
        val id = newId()
        jobOp.put(e.jobId, (id, op, e.time))
        e.stageIds.foreach(s => stageJob.put(s, id))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobOp.remove(e.jobId)).foreach { case (id, op, start) =>
          span(Span(id, op, "job", s"job ${e.jobId}", start, e.time, Map.empty))
          if (inWindow(e.time)) { add("jobs", 1); add("job_wall_ms", e.time - start) }
          if (op != 0L) opJobs.computeIfAbsent(op, _ => new AtomicLong()).incrementAndGet()
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val end = si.completionTime.getOrElse(System.currentTimeMillis())
        val parent = Option(stageJob.remove(si.stageId)).map(_.longValue).getOrElse(0L)
        span(Span(newId(), parent, "stage", s"stage ${si.stageId}.${si.attemptNumber()}",
          si.submissionTime.getOrElse(end), end, Map("tasks" -> si.numTasks.toDouble)))
        if (inWindow(end)) { add("stages", 1); add("tasks", si.numTasks) }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null && inWindow(e.taskInfo.finishTime)) {
          add("task_run_ms", m.executorRunTime)
          add("task_cpu_ns", m.executorCpuTime)
          add("shuffle_read_bytes", m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
          add("shuffle_records", m.shuffleReadMetrics.recordsRead)
          add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
          add("spill_bytes", m.diskBytesSpilled)
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (inWindow(System.currentTimeMillis())) {
          val ph = qe.tracker.phases
          add("analysis_ms", ph.get("analysis").map(_.durationMs).getOrElse(0L))
          add("optimization_ms", ph.get("optimization").map(_.durationMs).getOrElse(0L))
          add("planning_ms", ph.get("planning").map(_.durationMs).getOrElse(0L))
        }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        val dur = p.durationMs.asScala.get("triggerExecution").map(_.longValue).getOrElse(0L)
        val attrs = p.durationMs.asScala.map { case (k, v) => s"$k.ms" -> v.doubleValue }.toMap +
          ("input_rows" -> p.numInputRows.toDouble)
        span(Span(opForBatch(p.batchId), 0L, "op", s"batch ${p.batchId}", start, start + dur, attrs))
      }
    })
  }

  def windowStart(t: Long): Unit = { w0 = t; w1 = Long.MaxValue; codegen0 = CodeGenerator.compileTime }

  def windowEnd(t: Long): Unit = {
    codegenNs = CodeGenerator.compileTime - codegen0
    w1 = t
    Thread.sleep(1000) // let the asynchronous listener bus deliver the window's events
  }

  /** Jobs that ran under an op span (a timed query run). */
  def jobsOf(op: Long): Long = Option(opJobs.get(op)).map(_.get).getOrElse(0L)

  /** Metrics of the layers every workload passes through, per unit of work
    * (a micro-batch, or a pass over the query list). */
  def commonLayers(units: Double): Map[String, Double] = {
    val u = math.max(units, 1.0)
    val taskMs = count("task_run_ms").toDouble
    val wallMs = count("job_wall_ms").toDouble
    Map(
      "plan.analysis_ms" -> count("analysis_ms") / u,
      "plan.optimization_ms" -> count("optimization_ms") / u,
      "plan.physical_ms" -> count("planning_ms") / u,
      "codegen.compile_ms" -> codegenNs / 1e6 / u,
      "sched.jobs" -> count("jobs") / u,
      "sched.stages" -> count("stages") / u,
      "sched.tasks" -> count("tasks") / u,
      "sched.job_wall_ms" -> wallMs / u,
      "sched.idle_ratio" -> (if (wallMs > 0) 1.0 - taskMs / (wallMs * o.cpus) else 0.0),
      "exec.task_run_ms" -> taskMs / u,
      "exec.task_cpu_ms" -> count("task_cpu_ns") / 1e6 / u,
      "shuffle.read_bytes" -> count("shuffle_read_bytes") / u,
      "shuffle.write_bytes" -> count("shuffle_write_bytes") / u,
      "shuffle.records" -> count("shuffle_records") / u,
      "spill.bytes" -> count("spill_bytes") / u)
  }

  def streamLayers(win: Seq[Stream.BatchInfo], v: Oracle.Verdict,
      codec: (Double, Double)): Map[String, Double] = {
    def med(f: Stream.BatchInfo => Double) = Stats.median(win.map(f))
    def d(b: Stream.BatchInfo, k: String) = b.durations.getOrElse(k, 0L).toDouble
    val last = win.lastOption
    Zero ++ commonLayers(win.length) ++ Map(
      "streaming.batches" -> win.length.toDouble,
      "streaming.plan_ms" -> med(d(_, "queryPlanning")),
      "streaming.offset_ms" -> med(b => d(b, "latestOffset") + d(b, "getBatch")),
      "streaming.wal_ms" -> med(b => d(b, "walCommit") + d(b, "commitOffsets")),
      "streaming.add_batch_ms" -> med(d(_, "addBatch")),
      "streaming.batch_ms_p50" -> med(_.durMs.toDouble),
      "streaming.batch_ms_p99" -> Stats.pct(win.map(_.durMs.toDouble), 0.99),
      "streaming.rows_per_batch_p50" -> med(_.rows.toDouble),
      "streaming.backlog_rows_max" -> v.backlogMax.toDouble,
      "streaming.input_lag_ms_p99" -> v.lagP99,
      "streaming.control_latency_p50_ms" -> v.ctlP50,
      "streaming.control_latency_p99_ms" -> v.ctlP99,
      "state.commit_ms" -> med(_.stateCommitMs.toDouble),
      "state.update_ms" -> med(_.stateUpdateMs.toDouble),
      "state.rows_total" -> last.map(_.stateRows.toDouble).getOrElse(0.0),
      "state.memory_mb" -> last.map(_.stateBytes / 1048576.0).getOrElse(0.0),
      "state.bytes_per_key" -> last.filter(_.stateRows > 0)
        .map(b => b.stateBytes.toDouble / b.stateRows).getOrElse(0.0),
      "wire.decode_ns_per_msg" -> codec._1,
      "wire.encode_ns_per_msg" -> codec._2,
      "model.replay_events_per_s" -> v.replayEventsPerS)
  }

  def write(path: String): Unit = {
    val all = spans.asScala.toSeq.sortBy(s => (s.startMs, s.id))
    val children = all.groupBy(_.parent)
    def selfMs(s: Span): Long = {
      val iv = children.getOrElse(s.id, Nil).map(k => (math.max(k.startMs, s.startMs),
        math.min(k.endMs, s.endMs))).filter(x => x._2 > x._1).sortBy(_._1)
      var covered = 0L
      var end = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a >= end) { covered += b - a; end = b }
        else if (b > end) { covered += b - end; end = b }
      }
      s.endMs - s.startMs - covered
    }
    val w = new PrintWriter(new File(path), "UTF-8")
    try {
      w.write("{\"workload\":" + Json.str(o.workload) + ",\"seed\":" + o.seed +
        ",\"window_ms\":[" + w0 + "," + w1 + "],\"spans\":[\n")
      w.write(all.map { s =>
        Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString, "kind" -> Json.str(s.kind),
          "name" -> Json.str(s.name), "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
          "self_ms" -> selfMs(s).toString, "attrs" -> Json.nums(s.attrs)))
      }.mkString(",\n"))
      w.write("\n]}\n")
    } finally w.close()
  }
}

object Tracer {
  val OpKey = "perfbench.op"
  val BatchKey = "streaming.sql.batchId"

  final case class Span(id: Long, parent: Long, kind: String, name: String, startMs: Long,
      endMs: Long, attrs: Map[String, Double])

  /** Every per-layer metric, at 0 where a workload does not reach the layer. */
  val Zero: Map[String, Double] = Seq(
    "streaming.plan_ms", "streaming.offset_ms", "streaming.wal_ms", "streaming.add_batch_ms",
    "streaming.batches", "streaming.batch_ms_p50", "streaming.batch_ms_p99",
    "streaming.rows_per_batch_p50", "streaming.backlog_rows_max", "streaming.input_lag_ms_p99",
    "streaming.control_latency_p50_ms", "streaming.control_latency_p99_ms",
    "state.commit_ms", "state.update_ms", "state.bytes_per_key", "state.rows_total",
    "state.memory_mb", "wire.decode_ns_per_msg", "wire.encode_ns_per_msg",
    "model.replay_events_per_s", "loop.rounds", "loop.ms_per_round", "loop.jobs_per_round"
  ).map(_ -> 0.0).toMap
}
