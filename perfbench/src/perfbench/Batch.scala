package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{LoopStats, SparkEntry}

/** The batch workload: a fixed list of `SparkEntry.queries` over the
  * vendored tables, run serially from the driver thread (a closed loop with
  * one client). One untimed pass warms the JVM and the codegen cache; then
  * whole passes repeat until the run's seconds are used and at least
  * `TimedPasses` ran. After every pass the run waits, untimed, for the JIT
  * compilers to go idle (see [[Jit]]).
  *
  * A query's CPU time is its mean over the timed passes. The CPU time of a
  * pass still falls pass after pass as the JIT compiles more, so every run
  * must time the same passes: three timed passes of 4-5 s each always fill
  * the 10 s window, so every run times exactly three. Over ten runs the mean
  * of the three spread less than the last (minimum) pass or a later window.
  */
object Batch {

  val TimedPasses = 3

  /** The timed action: an order-independent aggregate over every output
    * column. `.count()` would let column pruning drop every projected
    * expression that no filter, join or aggregate consumes, so a query's
    * custom expressions could go unevaluated. Here each row's non-float
    * columns are hashed together (a sum of hashes does not depend on row
    * order), and each float column is summed on its own, which tolerates the
    * rounding differences of a different summation order. */
  final case class Fingerprint(rows: Long, exact: Long, floats: Seq[Double]) {
    def matches(o: Fingerprint): Boolean =
      rows == o.rows && exact == o.exact && floats.length == o.floats.length &&
        floats.zip(o.floats).grouped(2).forall {
          case Seq((s1, s2), (a1, a2)) =>
            (s1.isNaN && s2.isNaN) || math.abs(s1 - s2) <= 1e-6 * math.max(1.0, math.max(a1, a2))
          case _ => false
        }
    def render: String = s"$rows\t$exact\t${floats.map(java.lang.Double.toString).mkString(",")}"
  }

  object Fingerprint {
    def parse(s: String): Fingerprint = s.split("\t", -1) match {
      case Array(r, e, f) =>
        Fingerprint(r.toLong, e.toLong, if (f.isEmpty) Nil else f.split(",").map(_.toDouble).toSeq)
      case _ => throw new IllegalArgumentException(s"bad expectation line: $s")
    }
  }

  private val Prime = 2305843009213693951L // 2^61 - 1

  /** Splits a column into parts hashed exactly and double-valued parts summed. */
  private def parts(c: Column, t: DataType): (Seq[Column], Seq[Column]) = t match {
    case FloatType | DoubleType => (Nil, Seq(c.cast(DoubleType)))
    case ArrayType(FloatType | DoubleType, _) =>
      (Seq(size(c)), Seq(aggregate(c, lit(0.0), (a, x) => a + coalesce(x.cast(DoubleType), lit(0.0)))))
    case _ if hasFloat(t) => throw new IllegalArgumentException(s"no fingerprint for column type $t")
    case _ => (Seq(c), Nil)
  }

  private def hasFloat(t: DataType): Boolean = t match {
    case FloatType | DoubleType => true
    case ArrayType(e, _) => hasFloat(e)
    case MapType(k, v, _) => hasFloat(k) || hasFloat(v)
    case st: StructType => st.fields.exists(f => hasFloat(f.dataType))
    case _ => false
  }

  def fingerprint(df: DataFrame): Fingerprint = {
    val ps = df.schema.fields.map(f => parts(col(s"`${f.name}`"), f.dataType))
    val exact = ps.flatMap(_._1).toSeq
    val floats = ps.flatMap(_._2).toSeq
    val rowHash = if (exact.isEmpty) lit(0L) else pmod(xxhash64(exact: _*), lit(Prime))
    val aggs = Seq(count(lit(1)), coalesce(sum(rowHash.cast(DecimalType(38, 0))), lit(0)).cast(StringType)) ++
      floats.flatMap(f => Seq(coalesce(sum(f), lit(0.0)), coalesce(sum(abs(f)), lit(0.0))))
    val r: Row = df.agg(aggs.head, aggs.tail: _*).head()
    val exactSum = BigInt(r.getString(1)).mod(BigInt(Prime)).toLong
    Fingerprint(r.getLong(0), exactSum, floats.indices.flatMap(i => Seq(r.getDouble(2 + 2 * i), r.getDouble(3 + 2 * i))))
  }

  /** Input set-up of one set-up cycle: open every vendored table (its
    * footer and schema); the untimed warm pass does the rest. */
  private def open(spark: SparkSession, data: String): Unit =
    new File(data).listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .foreach(f => spark.read.parquet(f.getPath).schema)

  private def clean(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** Loop rounds the program recorded for the last query (its public round
    * counter): entries written by `LoopStats.recordLoop` carry a `_wms` twin. */
  private def rounds(stats: Map[String, Long]): Long =
    stats.collect { case (k, v) if stats.contains(s"${k}_wms") => v }.sum

  final case class Run(name: String, pass: Int, seconds: Double, cpuMs: Double, ok: Boolean,
      rounds: Long, op: Long)

  def run(o: Opts, tracer: Option[Tracer]): Result = {
    // name@table-dir pairs: each query reads the scale its layer needs
    val dirs = o.str("queries").split(",").toSeq.map { q => val i = q.indexOf('@'); q.take(i) -> q.drop(i + 1) }
    val names = dirs.map(_._1)
    val dataOf = dirs.toMap
    val record = o.kv.get("record")
    val expected: Map[String, Fingerprint] =
      if (record.isDefined) Map.empty
      else {
        val src = scala.io.Source.fromFile(o.str("expected"), "UTF-8")
        try src.getLines().filter(_.nonEmpty).map { l =>
          val i = l.indexOf('\t'); l.take(i) -> Fingerprint.parse(l.drop(i + 1))
        }.toMap finally src.close()
      }
    val queries = SparkEntry.queries
    val missing = names.filterNot(queries.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    val runs = ArrayBuffer.empty[Run]
    val got = scala.collection.mutable.LinkedHashMap.empty[String, Fingerprint]
    var spark: SparkSession = null

    def once(name: String, pass: Int): Unit = {
      val op = tracer.map(_.newId()).getOrElse(0L)
      spark.sparkContext.setLocalProperty(Tracer.OpKey, if (op == 0L) null else op.toString)
      LoopStats.drain()
      val start = System.currentTimeMillis()
      val cpu0 = AppCpu.snapshot()
      val t = System.nanoTime()
      val fp = try Some(fingerprint(queries(name)(spark, dataOf(name)))) catch {
        case e: Exception =>
          System.err.println(s"[perfbench] $name failed: $e")
          None
      }
      val dt = (System.nanoTime() - t) / 1e9
      val cpuMs = AppCpu.ns(cpu0, AppCpu.snapshot()) / 1e6
      val r = rounds(LoopStats.drain())
      spark.sparkContext.setLocalProperty(Tracer.OpKey, null)
      tracer.foreach(_.span(Tracer.Span(op, 0L, "op", s"$name#$pass", start, start + (dt * 1000).toLong,
        Map("loop.rounds" -> r.toDouble))))
      clean(spark)
      fp.foreach(f => got.getOrElseUpdate(name, f))
      val ok = fp.exists(f => record.isDefined || expected.get(name).exists(_.matches(f)))
      if (!ok && fp.isDefined)
        System.err.println(s"[perfbench] $name: result ${fp.get.render} does not match ${expected.get(name).map(_.render)}")
      runs += Run(name, pass, dt, cpuMs, ok, r, op)
    }

    // one set-up cycle: session start and every table opened
    val setups = ArrayBuffer.empty[(Double, Double)]
    for (cycle <- 1 to Session.SetupCycles) {
      if (spark != null) Session.stop(spark)
      val (_, cpuS, wallS) = Session.setupCost(cycle) {
        spark = Session.start(o)
        dirs.map(_._2).distinct.foreach(open(spark, _))
      }
      setups += ((cpuS, wallS))
    }
    tracer.foreach(_.attach(spark))
    var pass = 0
    names.foreach(once(_, pass)) // untimed warm pass, still checked
    var jitWaitMs = Jit.awaitIdle()
    val coldStartS = (System.currentTimeMillis() - Session.processStartMs) / 1000.0
    val w0 = System.currentTimeMillis()
    tracer.foreach(_.windowStart(w0))
    val probe = new HostProbe
    while (pass < TimedPasses || System.currentTimeMillis() - w0 < o.seconds * 1000L) {
      pass += 1
      names.foreach(once(_, pass))
      jitWaitMs += Jit.awaitIdle()
    }
    val host = probe.stop()
    tracer.foreach(_.windowEnd(System.currentTimeMillis()))
    record.foreach { path =>
      val w = new PrintWriter(new File(path), "UTF-8")
      try got.foreach { case (n, f) => w.write(s"$n\t${f.render}\n") } finally w.close()
    }

    val timed = runs.filter(_.pass > 0)
    val perQuery = names.map(n => n -> Stats.median(timed.filter(_.name == n).map(_.seconds).toSeq))
    val cpuPerQuery = names.map { n => val c = timed.filter(_.name == n).map(_.cpuMs); c.sum / c.length }
    val ms = perQuery.map(_._2 * 1000.0)
    val suiteS = perQuery.map(_._2).sum
    val layers = tracer.map { t =>
      val loopRuns = timed.filter(_.rounds > 0)
      val rounds = loopRuns.map(_.rounds).sum.toDouble
      Tracer.Zero ++ t.commonLayers(pass) ++ Map(
        "loop.rounds" -> rounds / pass,
        "loop.ms_per_round" -> (if (rounds > 0) loopRuns.map(_.seconds).sum * 1000.0 / rounds else 0.0),
        "loop.jobs_per_round" -> (if (rounds > 0) loopRuns.map(r => t.jobsOf(r.op)).sum / rounds else 0.0))
    }.getOrElse(Map.empty)
    Result(
      correct = runs.forall(_.ok),
      attempted = runs.length.toLong,
      failed = runs.count(!_.ok).toLong,
      e2e = Map(
        "setup_s" -> Stats.median(setups.map(_._1).toSeq),
        "cpu_ms_per_op" -> cpuPerQuery.sum / names.length,
        "cpu_ms_per_op_geomean" -> Stats.geomean(cpuPerQuery)),
      layers = layers ++ host.layers ++ Map(
        "wall.setup_s" -> Stats.median(setups.map(_._2).toSeq),
        "wall.latency_p50_ms" -> Stats.median(ms),
        "wall.latency_p99_ms" -> Stats.pct(ms, 0.99),
        "wall.latency_geomean_ms" -> Stats.geomean(ms),
        "wall.throughput_per_s" -> names.length / suiteS,
        "wall.cold_start_s" -> coldStartS),
      notes = Map(
        "timed_passes" -> pass.toString,
        "jit_wait_ms" -> jitWaitMs.toString,
        "query_cpu_ms" -> names.map(n => n.take(4) + ":" + runs.filter(_.name == n).map(r => f"${r.cpuMs}%.0f").mkString("/")).mkString(" "),
        "suite_s" -> suiteS.toString,
        "setup_cycles_cpu_wall_s" -> setups.mkString(","),
        "pass_cpu_ms" -> (0 to pass).map(p => f"${runs.filter(_.pass == p).map(_.cpuMs).sum}%.0f").mkString(","),
        "pass_s" -> (0 to pass).map(p => f"${runs.filter(_.pass == p).map(_.seconds).sum}%.3f").mkString(","),
        "per_query_s" -> perQuery.map { case (n, s) => f"$n=$s%.3f" }.mkString(" ")))
  }
}
