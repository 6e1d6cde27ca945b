package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream


import graft.model.{ControlEvent, Hysteresis, SensorData, TemperatureControl}
import graft.streaming.{HeaterCommand, HeaterSim, ThermostatStream}

/** End-to-end streaming semantics (SURVEY.md §5.2-3): MemoryStream →
  * flatMapGroupsWithState pipeline → memory sink, checked against the
  * pure batch fold (the golden semantics all four reference engines
  * share).
  */
class ThermostatStreamSpec extends SparkSpec {

  private val StoreKey = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDb = Some(
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  /** Runs the pipeline over MemoryStream micro-batches; `provider`
    * swaps Spark's state store for this query only.
    */
  private def runStream(
      batches: Seq[Seq[ControlEvent]],
      provider: Option[String] = None): Seq[HeaterCommand] = {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    provider.foreach(s.conf.set(StoreKey, _))
    try {
      val ms = MemoryStream[ControlEvent]
      val sink = s"thermo_${System.nanoTime()}"
      val q = ThermostatStream.pipeline(ms.toDS())
        .writeStream.format("memory").queryName(sink).outputMode("update")
        .option("checkpointLocation", Files.createTempDirectory("chk").toString)
        .start()
      try {
        batches.foreach { b => ms.addData(b); q.processAllAvailable() }
        // the swap took effect: only the RocksDB store reports rocksdb* metrics
        val metrics = q.recentProgress.flatMap(_.stateOperators)
          .flatMap(_.customMetrics.keySet.asScala).toSet
        assert(metrics.exists(_.startsWith("rocksdb")) == provider.isDefined, metrics)
      } finally q.stop()
      s.table(sink).as[HeaterCommand].collect().toSeq
        .sortBy(c => (c.sensorID, c.seq))
    } finally if (provider.isDefined) s.conf.unset(StoreKey)
  }

  private def goldenFold(events: Seq[ControlEvent]): Seq[HeaterCommand] =
    events.groupBy(_.sensorID).toSeq.flatMap { case (k, evs) =>
      Hysteresis.replay(evs.sortBy(_.seq).iterator)
        .map { case (seq, a) => HeaterCommand(k, seq, a) }
    }.sortBy(c => (c.sensorID, c.seq))

  test("streaming output equals the pure fold, state persists across batches") {
    val evs = HeaterSim.eventsOf(HeaterSim.closedLoop(40))
    // split into 5 micro-batches at arbitrary points
    val batches = evs.grouped(9).toSeq
    assert(runStream(batches) == goldenFold(evs))
  }

  test("multi-key streams keep independent state") {
    val k1 = HeaterSim.eventsOf(HeaterSim.closedLoop(25))
    val k2 = HeaterSim.eventsOf(HeaterSim.closedLoop(25, desired = 50.0,
      startTemp = 55.0)).map(e => e.copy(sensorID = 2L))
    val interleaved = (k1 ++ k2).sortBy(_.seq)
    assert(runStream(Seq(interleaved)) == goldenFold(k1 ++ k2))
  }

  test("no emission for keys that never receive a control") {
    val data = (1 to 10).map(i =>
      ControlEvent(9L, i.toLong, "data", 100.0 + i, 0.0, 0.0, 0.0))
    assert(runStream(Seq(data)).isEmpty)
  }

  test("closed loop: temperature oscillates inside the hysteresis band") {
    val steps = HeaterSim.closedLoop(200)
    // after convergence (first Off emission) temp stays within the band
    // extended by one integration step on each side
    val afterFirstOff = steps.dropWhile(_.emitted.isEmpty).drop(1)
    assert(afterFirstOff.nonEmpty)
    assert(afterFirstOff.forall(s => s.temp > 45.0 - 1.0 - 0.4 - 1e-9 &&
      s.temp < 45.0 + 1.0 + 0.8 + 1e-9))
    // actions strictly alternate (transition dedup end-to-end)
    val acts = steps.flatMap(_.emitted)
    assert(acts.nonEmpty)
    acts.sliding(2).foreach {
      case Seq(a, b) => assert(a != b)
      case _ =>
    }
  }

  test("unify merges typed data and control streams by seq") {
    val s = spark
    import s.implicits._
    val data = s.createDataset(Seq((SensorData(1, 50.0), 2L), (SensorData(1, 40.0), 4L)))
    val ctl = s.createDataset(Seq((TemperatureControl(1, 45.0, 1.0, 1.0), 1L)))
    val unified = ThermostatStream.unify(data, ctl)
    val out = ThermostatStream.pipeline(unified).collect().sortBy(_.seq)
    assert(out.toSeq == Seq(HeaterCommand(1L, 2L, 1), HeaterCommand(1L, 4L, 0)))
  }

  test("pipeline runs over a plain union of typed branches") {
    val s = spark
    import s.implicits._
    // a typed map feeding a typed flatMap in each branch, unioned and
    // grouped directly: pushing the key projection into the branches
    // leaves an object-typed Project Spark cannot execute
    val evs = HeaterSim.eventsOf(HeaterSim.closedLoop(30))
    val rows = s.range(evs.length.toLong).as[Long]
    def branch(kind: String) = rows.map(i => (i, i)).flatMap { case (i, _) =>
      Some(evs(i.toInt)).filter(_.kind == kind)
    }
    val out = ThermostatStream.pipeline(branch("data").unionByName(branch("control")))
      .collect().toSeq.sortBy(_.seq)
    assert(out.nonEmpty && out == goldenFold(evs))
  }

  test("a control and data event sharing a seq apply control-first, deterministically") {
    val s = spark
    import s.implicits._
    // per-topic offsets can collide across topics; bare-seq sorting
    // would break the tie by shuffle-arrival order (run-dependent
    // emissions). The defined rule is control-before-data: the reading
    // at seq 2 must be evaluated against the setting that shares its
    // seq — emitting Off — not dropped for lack of a setting.
    val evs = Seq(
      ControlEvent(1L, 2L, "data", 50.0, 0.0, 0.0, 0.0),
      ControlEvent(1L, 2L, "control", 0.0, 45.0, 1.0, 1.0))
    val out = ThermostatStream.pipeline(s.createDataset(evs)).collect().toSeq
    assert(out == Seq(HeaterCommand(1L, 2L, 1)))
  }

  test("setpoint random walk: control upserts land mid-stream, both stateful APIs") {
    // the reference's core "dynamically controlled" claim: the Heater
    // re-randomizes the desired temperature while the stream runs
    // (Heater.scala:72-86), so state.update must apply a NEW control
    // to a key that already has state — across micro-batch boundaries
    val evs = HeaterSim.closedLoopWalk(60, controlEvery = 13, seed = 42L)
    val controls = evs.filter(_.kind == "control")
    assert(controls.size >= 4, "walk must re-configure repeatedly")
    assert(controls.map(_.desired).distinct.size >= 3, "setpoint must move")
    val golden = goldenFold(evs)
    // emissions continue AFTER a re-configuration (non-vacuous)
    assert(golden.exists(_.seq > controls(1).seq),
      "no transitions after the first control change")
    val batches = evs.grouped(7).toSeq // controls land in several batches
    // the same pipeline on both state stores: the default and RocksDB
    assert(runStream(batches) == golden)
    assert(runStream(batches, RocksDb) == golden)
  }

  test("per-key state isolation: three sensors interleaved in one stream") {
    // the Akka variant spawns one actor per sensor
    // (ControllerManagerBehavior.scala:22-28); the GroupState analog
    // must keep the same isolation with all keys in one stream
    val walks = Seq((1L, 42L), (2L, 43L), (3L, 44L)).map { case (id, seed) =>
      HeaterSim.closedLoopWalk(40, controlEvery = 11, seed = seed,
        sensorID = id, startTemp = 38.0 + 2 * id)
    }
    val len = walks.head.size
    assert(walks.forall(_.size == len))
    val interleaved = (0 until len).flatMap(i => walks.map(_(i)))
    val golden = goldenFold(walks.flatten)
    // every sensor produced transitions (non-vacuous isolation check)
    assert(golden.map(_.sensorID).distinct.sorted == Seq(1L, 2L, 3L))
    assert(runStream(interleaved.grouped(10).toSeq) == golden)
    assert(runStream(interleaved.grouped(10).toSeq, RocksDb) == golden)
  }
}
