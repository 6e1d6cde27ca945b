package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.{count, lit, max, min}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.model.Hysteresis
import graft.streaming.{ProtoCodec, ThermostatStream}

/** The thermostat workload. It feeds `ThermostatStream.pipeline` from proto3
  * bytes generated inside executor tasks by Spark's built-in `rate` source at
  * a fixed rows/s behind a 1 s processing-time trigger (open loop), and
  * collects the proto3 `HeaterControl` bytes it emits in a `foreachBatch`
  * sink that stamps each batch's arrival time. A row's timestamp is its due
  * time.
  */
object Stream {

  /** The workload's constants, all from workloads.json. */
  final case class Shape(rowsPerSecond: Long, sensors: Long, warmupMs: Long, anchorPhaseMs: Long)

  def shape(o: Opts): Shape = Shape(
    rowsPerSecond = o.long("rows_per_second"),
    sensors = o.long("sensors"),
    warmupMs = o.long("warmup_ms"),
    anchorPhaseMs = o.long("anchor_phase_ms"))

  /** Sink records: (batch id, arrival wall ms, HeaterControl bytes). */
  final class Sink {
    val batches = new ConcurrentLinkedQueue[(Long, Long, Array[Array[Byte]])]()
  }

  final class Running(val spark: SparkSession, val query: StreamingQuery, val sink: Sink)

  private def source(spark: SparkSession, sh: Shape, cpus: Int): DataFrame =
    spark.readStream.format("rate")
      .option("rowsPerSecond", sh.rowsPerSecond)
      .option("numPartitions", cpus).load()

  /** Source rows -> proto3 bytes -> the program's pipeline -> proto3 bytes. */
  def wire(spark: SparkSession, gen: Gen, src: DataFrame): Dataset[Array[Byte]] = {
    import spark.implicits._
    val g = gen
    // The observed row range pins down which rows a committed batch covered
    // and the stream's start time (row v is due at start + v * 1000 /
    // rowsPerSecond). It rides on the sensor branch only: one observation
    // name may appear once in a plan.
    val observed = src.observe("src", min($"value").as("v0"), max($"value").as("v1"),
      count(lit(1)).as("n"), min($"timestamp").as("t0"), max($"timestamp").as("t1"))
    val sensorBytes = observed.select($"value").as[Long]
      .map(v => (2 * v + 1, ProtoCodec.encodeSensor(g.reading(v))))
    val controlBytes = src.select($"value").as[Long]
      .filter(v => g.hasControl(v))
      .map(v => (2 * v, ProtoCodec.encodeControl(g.control(v))))
    ThermostatStream.toWireProto(
      ThermostatStream.pipeline(ThermostatStream.fromWireProto(sensorBytes, controlBytes)))
  }

  def start(spark: SparkSession, o: Opts, sh: Shape, gen: Gen, ckpt: String): Running = {
    val sink = new Sink
    val out = wire(spark, gen, source(spark, sh, o.cpus))
    val fn: (Dataset[Array[Byte]], Long) => Unit = { (ds, id) =>
      val rows = ds.collect()
      sink.batches.add((id, System.currentTimeMillis(), rows))
    }
    val q = out.writeStream
      .queryName(s"perfbench_${o.workload}")
      .outputMode("update")
      .trigger(Trigger.ProcessingTime("1 second"))
      .option("checkpointLocation", ckpt)
      .foreachBatch(fn)
      .start()
    new Running(spark, q, sink)
  }

  def dataProgress(q: StreamingQuery): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.filter(p => p.numInputRows > 0 && p.observedMetrics.containsKey("src"))

  def awaitUntil(q: StreamingQuery, deadlineMs: Long)(done: => Boolean): Unit = {
    while (!done) {
      q.exception.foreach(e => throw e)
      if (!q.isActive) throw new IllegalStateException("stream stopped early")
      if (System.currentTimeMillis() > deadlineMs)
        throw new IllegalStateException("stream did not reach its target in time")
      Thread.sleep(20)
    }
  }

  /** Wall clock to wait for so the next tick lands on `phaseMs` within the second. */
  def alignPhase(phaseMs: Long): Unit = {
    val now = System.currentTimeMillis()
    val wait = java.lang.Math.floorMod(phaseMs - now, 1000L)
    if (wait > 0) Thread.sleep(wait)
  }

  final case class BatchInfo(id: Long, startMs: Long, durMs: Long, v0: Long, v1: Long,
      rows: Long, durations: Map[String, Long], stateCommitMs: Long, stateUpdateMs: Long,
      stateRows: Long, stateBytes: Long, t0: Long)

  def batchInfo(p: StreamingQueryProgress): BatchInfo = {
    val r: Row = p.observedMetrics.get("src")
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val st = p.stateOperators.headOption
    BatchInfo(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
      d.getOrElse("triggerExecution", 0L), r.getLong(0), r.getLong(1), r.getLong(2), d,
      st.map(_.commitTimeMs).getOrElse(0L), st.map(_.allUpdatesTimeMs).getOrElse(0L),
      st.map(_.numRowsTotal).getOrElse(0L), st.map(_.memoryUsedBytes).getOrElse(0L),
      r.getTimestamp(3).getTime)
  }

  def stop(r: Running): Unit = {
    r.query.stop()
    r.query.awaitTermination(30000L)
  }

  /** One set-up cycle: session, stream start, first data batch committed. */
  def setup(o: Opts, sh: Shape, gen: Gen, cycle: Int, startPhaseMs: Long): (Running, Double, Double) = {
    alignPhase(startPhaseMs)
    Session.setupCost(cycle) {
      val spark = Session.start(o)
      val run = start(spark, o, sh, gen, s"${o.work}/ckpt-$cycle")
      awaitUntil(run.query, System.currentTimeMillis() + 60000L)(dataProgress(run.query).nonEmpty)
      run
    }
  }

  /** Rate source: row v is due at anchor + v * 1000 / rowsPerSecond. */
  private def anchorOf(sh: Shape, first: BatchInfo): Long =
    first.t0 - Math.round(first.v0 * 1000.0 / sh.rowsPerSecond)

  private def phaseError(sh: Shape, r: Running): Long = {
    val phase = java.lang.Math.floorMod(anchorOf(sh, batchInfo(dataProgress(r.query).head)), 1000L)
    java.lang.Math.floorMod(sh.anchorPhaseMs - phase + 500L, 1000L) - 500L
  }

  def run(o: Opts, tracer: Option[Tracer]): Result = {
    val sh = shape(o)
    val gen = Gen(o.seed, sh.sensors)
    val setups = ArrayBuffer.empty[(Double, Double)]
    var running: Running = null
    // The rate source releases a second of rows at anchor + k s, and the 1 s
    // trigger fires on whole wall-clock seconds, so the anchor's phase within
    // the second adds up to 1 s to every command's latency. Each cycle starts
    // its stream at a wall-clock phase corrected by the previous cycle's
    // error, and set-up repeats (at most one extra cycle) until the measured
    // stream's anchor lands within 150 ms of `anchor_phase_ms`.
    var startPhase = 0L
    var cycle = 0
    var err = Long.MaxValue
    while (cycle < Session.SetupCycles ||
        (math.abs(err) > 150 && cycle < Session.SetupCycles + 1)) {
      cycle += 1
      if (running != null) { stop(running); Session.stop(running.spark) }
      val (r, cpuS, wallS) = setup(o, sh, gen, cycle, startPhase)
      running = r
      setups += ((cpuS, wallS))
      err = phaseError(sh, r)
      startPhase = java.lang.Math.floorMod(startPhase + err, 1000L)
    }
    val spark = running.spark
    val q = running.query
    tracer.foreach(_.attach(spark))
    val first = batchInfo(dataProgress(q).head)
    // the stream's own clock (row 0's due time) anchors the window
    val anchorMs = anchorOf(sh, first)
    val w0 = anchorMs + sh.warmupMs
    val w1 = w0 + o.seconds * 1000L
    val lead = w0 - System.currentTimeMillis()
    if (lead > 0) Thread.sleep(lead)
    val probe = new HostProbe
    tracer.foreach(_.windowStart(w0))
    // application CPU at the first poll after each batch commits; a batch's
    // CPU is the difference to the previous batch's mark
    val cpuAt = scala.collection.mutable.Map.empty[Long, Map[Long, Long]]
    def mark(): Unit = Option(q.lastProgress).foreach { p =>
      if (!cpuAt.contains(p.batchId)) cpuAt(p.batchId) = AppCpu.snapshot()
    }
    // every row due before w1 must be in a committed batch
    val lastRow = Math.ceil((w1 - anchorMs) * sh.rowsPerSecond / 1000.0).toLong
    awaitUntil(q, w1 + 60000L) {
      mark(); dataProgress(q).lastOption.exists(p => batchInfo(p).v1 >= lastRow)
    }
    val host = probe.stop()
    val progress = dataProgress(q).map(batchInfo)
    val inWin = progress.filter(b => b.startMs >= w0 && b.startMs + b.durMs <= w1)
    // (ms of CPU, events) per window batch
    val cpu = inWin.flatMap { b =>
      for (a <- cpuAt.get(b.id - 1); z <- cpuAt.get(b.id))
        yield (AppCpu.ns(a, z) / 1e6, Oracle.events(gen, b).toDouble)
    }
    tracer.foreach(_.windowEnd(w1))
    stop(running)
    val lastId = progress.last.id
    val records = running.sink.batches.asScala.toSeq.filter(_._1 <= lastId).sortBy(_._1)
    val verdict = Oracle.check(gen, sh, progress, records, anchorMs, w0, w1)
    val layers = tracer.map { t =>
      t.streamLayers(inWin, verdict, Oracle.codecTimes(gen, progress.last.v1 + 1, records))
    }.getOrElse(Map.empty)
    Result(
      correct = verdict.failed == 0,
      attempted = verdict.attempted,
      failed = verdict.failed,
      e2e = Map(
        "setup_s" -> Stats.median(setups.map(_._1).toSeq),
        "cpu_ms_per_op" -> cpu.map(_._1).sum / (cpu.map(_._2).sum / 1000.0),
        "cpu_ms_per_op_geomean" -> Stats.geomean(cpu.map { case (ms, ev) => ms / (ev / 1000.0) })),
      layers = layers ++ host.layers ++ Map(
        "wall.setup_s" -> Stats.median(setups.map(_._2).toSeq),
        "wall.latency_p50_ms" -> verdict.latP50,
        "wall.latency_p99_ms" -> verdict.latP99,
        "wall.latency_geomean_ms" -> verdict.latGeomean,
        "wall.throughput_per_s" -> verdict.eventsPerS,
        "wall.cold_start_s" -> setups.head._2),
      notes = verdict.notes ++ Map("setup_cycles_cpu_wall_s" -> setups.mkString(","),
        "anchor_phase_error_ms" -> err.toString,
        "cpu_batches" -> cpu.length.toString))
  }
}

/** The stream oracle. It replays the generated events of every row the
  * committed batches covered through `Hysteresis.replay`, per sensor in seq
  * order, and requires the sink's commands to equal that sequence per sensor.
  * `HeaterControl` carries no seq, so the i-th command a sensor emitted is
  * attributed to the i-th command the replay predicts for that sensor.
  */
object Oracle {

  final case class Verdict(attempted: Long, failed: Long, latP50: Double, latP99: Double,
      latGeomean: Double, ctlP50: Double, ctlP99: Double, eventsPerS: Double,
      replayEventsPerS: Double, backlogMax: Long, lagP99: Double, notes: Map[String, String])

  def check(gen: Gen, sh: Stream.Shape, progress: Seq[Stream.BatchInfo],
      records: Seq[(Long, Long, Array[Array[Byte]])], anchorMs: Long, w0: Long,
      w1: Long): Verdict = {
    val n = progress.last.v1 + 1
    val s = gen.sensors
    require(progress.head.v0 == 0L && progress.map(_.rows).sum == n,
      "committed batches must cover rows 0..n-1 exactly once")
    // observed commands, grouped per sensor in arrival order (counting sort)
    val total = records.map(_._3.length).sum
    val obsSensor = new Array[Int](total)
    val obsAction = new Array[Byte](total)
    val obsArrival = new Array[Long](total)
    var i = 0
    var undecodable = 0L
    for ((_, at, rows) <- records; b <- rows) {
      ProtoCodec.decodeHeater(b) match {
        case Some(h) if h.sensorID >= 0 && h.sensorID < s =>
          obsSensor(i) = h.sensorID; obsAction(i) = h.action.toByte; obsArrival(i) = at
          i += 1
        case _ => undecodable += 1
      }
    }
    val kept = i
    val start = new Array[Int](s.toInt + 1)
    var j = 0
    while (j < kept) { start(obsSensor(j) + 1) += 1; j += 1 }
    j = 0
    while (j < s) { start(j + 1) += start(j); j += 1 }
    val fill = start.clone()
    val order = new Array[Int](kept)
    j = 0
    while (j < kept) { val k = obsSensor(j); order(fill(k)) = j; fill(k) += 1; j += 1 }

    // the generated events, per sensor in seq order, then the timed replay
    val events = Array.tabulate(Math.min(s, n).toInt) { si =>
      val rows = Iterator.iterate(si.toLong)(_ + s).takeWhile(_ < n)
      rows.flatMap(gen.events).toArray
    }
    val eventCount = events.iterator.map(_.length.toLong).sum
    val t0 = System.nanoTime()
    val predicted = events.map(evs => Hysteresis.replay(evs.iterator).toArray)
    val replayNs = System.nanoTime() - t0

    val due = (v: Long) => anchorMs + Math.round(v * 1000.0 / sh.rowsPerSecond)
    val lat = ArrayBuffer.empty[Double]
    val ctlLat = ArrayBuffer.empty[Double]
    var attempted = 0L
    var failed = undecodable
    var ctlInWindow = 0L
    var si = 0
    while (si < predicted.length) {
      val p = predicted(si)
      val o0 = start(si)
      val olen = start(si + 1) - o0
      attempted += math.max(p.length, olen)
      failed += math.abs(p.length - olen)
      var k = 0
      while (k < math.min(p.length, olen)) {
        val (seq, action) = p(k)
        val oi = order(o0 + k)
        if (obsAction(oi) != action) failed += 1
        else {
          val v = (seq - 1) / 2
          val d = due(v)
          if (d >= w0 && d < w1) {
            val l = (obsArrival(oi) - d).toDouble
            lat += l
            if (gen.hasControl(v)) ctlLat += l
          }
        }
        k += 1
      }
      si += 1
    }
    // every control in the window must have produced its paired command
    var v = Math.ceil((w0 - anchorMs) * sh.rowsPerSecond / 1000.0).toLong
    while (v < n && due(v) < w1) { if (gen.hasControl(v)) ctlInWindow += 1; v += 1 }

    // whole batches inside the window
    val inWin = progress.filter(b => b.startMs >= w0 && b.startMs + b.durMs <= w1)
    // events per second of batch time: the rate the engine processes at while busy
    val winEvents = inWin.map(Oracle.events(gen, _)).sum
    val busyMs = inWin.map(_.durMs).sum
    val eventsPerS = if (busyMs > 0) winEvents * 1000.0 / busyMs else 0.0

    // how late batches picked rows up, and the unprocessed backlog at each
    // batch's end; a backlog that grows through the window's second half
    // means the stream is not sustaining the rate — a failed run
    val rps = sh.rowsPerSecond
    val backlog = inWin.map { b =>
      val end = b.startMs + b.durMs
      val avail = ((end - anchorMs) / 1000L) * rps
      math.max(0L, avail - (b.v1 + 1))
    }
    val lagP99 = Stats.pct(inWin.map(b => (b.startMs - due(b.v0)).toDouble), 0.99)
    val half = backlog.drop(backlog.length / 2)
    val third = math.max(1, half.length / 3)
    val sustained = !(half.length >= 3 &&
      half.takeRight(third).sum.toDouble / third > half.take(third).sum.toDouble / third + rps)
    val backlogMax = if (backlog.isEmpty) 0L else backlog.max
    val ctlMissing = math.max(0L, ctlInWindow - ctlLat.length)
    failed += ctlMissing
    attempted += 1 // the sustained-rate check
    if (!sustained) failed += 1
    val latSrc = lat.toSeq
    Verdict(
      attempted = attempted,
      failed = failed,
      latP50 = Stats.pct(latSrc, 0.5),
      latP99 = Stats.pct(latSrc, 0.99),
      latGeomean = Stats.geomean(latSrc),
      ctlP50 = Stats.pct(ctlLat.toSeq, 0.5),
      ctlP99 = Stats.pct(ctlLat.toSeq, 0.99),
      eventsPerS = eventsPerS,
      replayEventsPerS = if (replayNs > 0) eventCount * 1e9 / replayNs else 0.0,
      backlogMax = backlogMax,
      lagP99 = lagP99,
      notes = Map(
        "rows" -> n.toString,
        "commands" -> kept.toString,
        "latency_samples" -> latSrc.length.toString,
        "control_samples" -> ctlLat.length.toString,
        "window_batches" -> inWin.length.toString,
        "sustained" -> sustained.toString,
        "controls_without_effect" -> ctlMissing.toString))
  }

  /** Events a batch carried: one reading per row plus the controls. */
  def events(gen: Gen, b: Stream.BatchInfo): Long = {
    var c = b.rows
    var v = b.v0
    while (v <= b.v1) { if (gen.hasControl(v)) c += 1; v += 1 }
    c
  }

  /** Times the codec directly on the workload's own messages: decode of the
    * generated sensor and control bytes, encode of the emitted commands. */
  def codecTimes(gen: Gen, n: Long, records: Seq[(Long, Long, Array[Array[Byte]])]): (Double, Double) = {
    val m = math.min(n, 200000L)
    val sensors = ArrayBuffer.empty[Array[Byte]]
    val controls = ArrayBuffer.empty[Array[Byte]]
    var v = 0L
    while (v < m) {
      sensors += ProtoCodec.encodeSensor(gen.reading(v))
      if (gen.hasControl(v)) controls += ProtoCodec.encodeControl(gen.control(v))
      v += 1
    }
    val heaters = records.iterator.flatMap(_._3.iterator).take(m.toInt)
      .flatMap(b => ProtoCodec.decodeHeater(b)).toArray
    var sink = 0L
    def decodeOnce(): Unit = {
      var i = 0
      while (i < sensors.length) {
        sink += ProtoCodec.decodeSensor(sensors(i)).map(_.sensorID).getOrElse(0); i += 1
      }
      i = 0
      while (i < controls.length) {
        sink += ProtoCodec.decodeControl(controls(i)).map(_.sensorID).getOrElse(0); i += 1
      }
    }
    def encodeOnce(): Unit = {
      var i = 0
      while (i < heaters.length) { sink += ProtoCodec.encodeHeater(heaters(i)).length; i += 1 }
    }
    def best(reps: Int, count: Int)(f: => Unit): Double =
      if (count == 0) 0.0
      else (1 to reps).map { _ => val t = System.nanoTime(); f; (System.nanoTime() - t).toDouble / count }.min
    val dec = best(5, sensors.length + controls.length)(decodeOnce())
    val enc = best(5, heaters.length)(encodeOnce())
    if (sink == 42L) println("") // keep the loops observable to the JIT
    (dec, enc)
  }
}
