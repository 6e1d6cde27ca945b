package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command line of the benchmark JVM: `key=value` pairs (see run.py). */
final case class Opts(kv: Map[String, String]) {
  def str(k: String): String = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
  def long(k: String): Long = str(k).toLong
  def workload: String = str("workload")
  def seed: Long = str("seed").toLong
  def seconds: Int = str("seconds").toInt
  def trace: Boolean = str("trace") == "1"
  def cpus: Int = str("cpus").toInt
  def work: String = str("work")
}

final case class Result(correct: Boolean, attempted: Long, failed: Long,
    e2e: Map[String, Double], layers: Map[String, Double], notes: Map[String, String])

object Session {
  /** Set-up is repeated this many times per run; setup_s is their median. */
  val SetupCycles = 3

  def processStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Cost of one set-up cycle as (application CPU s, wall s); the first
    * cycle counts from JVM start. `setup_s` is the median CPU figure, for
    * the same reason as the other end-to-end metrics (see [[AppCpu]]). */
  def setupCost[T](cycle: Int)(body: => T): (T, Double, Double) = {
    val cpu0 = if (cycle == 1) Map.empty[Long, Long] else AppCpu.snapshot()
    val wall0 = if (cycle == 1) processStartMs else System.currentTimeMillis()
    val r = body
    (r, AppCpu.ns(cpu0, AppCpu.snapshot()) / 1e9, (System.currentTimeMillis() - wall0) / 1000.0)
  }

  def start(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${o.work}/local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Linear-interpolated percentile; 0 for no samples. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.length)
}

/** CPU time of the application's Java threads. JIT compiler and GC threads
  * are not Java threads, so their background work stays out, and so does
  * time the hypervisor steals from the VM, which the guest kernel does not
  * charge to a thread. On a shared host this is far steadier than wall time. */
object AppCpu {
  private val tmx = ManagementFactory.getThreadMXBean

  def snapshot(): Map[Long, Long] =
    tmx.getAllThreadIds.iterator.map(id => id -> tmx.getThreadCpuTime(id)).filter(_._2 >= 0).toMap

  /** CPU ns spent between two snapshots by threads alive at the second. */
  def ns(from: Map[Long, Long], to: Map[Long, Long]): Long =
    to.iterator.map { case (id, t) => t - from.getOrElse(id, 0L) }.sum
}

/** How far the JIT compilers have got. A short run of Spark never reaches a
  * steady state: each pass over the same work triggers more compilations,
  * and the CPU time of a pass falls for many passes. How far it has fallen
  * by a given pass depends on how fast the compiler threads ran, which on a
  * shared host moves with the load of other tenants (on the batch list it
  * took about two passes on a quiet host and eight under heavy steal).
  * Waiting for the compilers to go idle between passes, outside the timing,
  * makes the code a pass runs depend on the number of passes before it. */
object Jit {
  private val cmx = ManagementFactory.getCompilationMXBean

  /** Waits until the JIT compilers have been idle for `quietMs` (at most
    * `maxMs`); returns the ms waited. */
  def awaitIdle(quietMs: Long = 500L, maxMs: Long = 5000L): Long = {
    val t0 = System.currentTimeMillis()
    var last = cmx.getTotalCompilationTime
    var since = t0
    while (System.currentTimeMillis() - since < quietMs && System.currentTimeMillis() - t0 < maxMs) {
      Thread.sleep(100)
      val c = cmx.getTotalCompilationTime
      if (c != last) { last = c; since = System.currentTimeMillis() }
    }
    System.currentTimeMillis() - t0
  }
}

/** Host and JVM counters over a window: GC, JIT, heap peak, hypervisor steal. */
final class HostProbe {
  private def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def jitMs = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  heapPools.foreach(_.resetPeakUsage())
  private val gc0 = gcMs
  private val jit0 = jitMs
  private val steal0 = HostProbe.stealS

  final case class Window(gcMs: Long, jitMs: Long, heapPeakMb: Double, stealS: Double) {
    def layers: Map[String, Double] = Map(
      "jvm.gc_ms" -> gcMs.toDouble,
      "jvm.jit_ms" -> jitMs.toDouble,
      "jvm.heap_peak_mb" -> heapPeakMb,
      "host.steal_s" -> stealS)
  }

  def stop(): Window = Window(gcMs - gc0, jitMs - jit0,
    heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0, HostProbe.stealS - steal0)
}

object HostProbe {
  /** Machine-wide steal seconds so far (/proc/stat, USER_HZ = 100). */
  def stealS: Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+")
        if (f.length > 8) f(8).toDouble / 100.0 else 0.0
      } finally src.close()
    } catch { case _: Exception => 0.0 }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def nums(m: Map[String, Double]): String = obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) })
  def strs(m: Map[String, String]): String = obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> str(v) })
}

/** Runs one workload and writes its result record to `out=`. The record is
  * read by run.py, which prints the result line. */
object Main {
  def main(args: Array[String]): Unit = {
    val o = Opts(args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap)
    val tracer = if (o.trace) Some(new Tracer(o)) else None
    val r = o.workload match {
      case "thermostat_rate" => Stream.run(o, tracer)
      case "batch_queries" => Batch.run(o, tracer)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    tracer.foreach(_.write(o.str("spans")))
    val env = Map(
      "spark" -> org.apache.spark.SPARK_VERSION,
      "jvm" -> System.getProperty("java.version"),
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "master" -> s"local[${o.cpus}]")
    val w = new PrintWriter(new File(o.str("out")), "UTF-8")
    try w.write(Json.obj(Seq(
      "correct" -> r.correct.toString,
      "attempted" -> r.attempted.toString,
      "failed" -> r.failed.toString,
      "e2e" -> Json.nums(r.e2e),
      "layers" -> Json.nums(r.layers),
      "notes" -> Json.strs(r.notes),
      "env" -> Json.strs(env))))
    finally w.close()
    System.exit(0) // Spark's shutdown hook stops the context
  }
}
