package graft.streaming

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.model.{ControlEvent, ControlState, Hysteresis, SensorData, TemperatureControl}

/** Emitted heater command (reference: messages.proto:12-15 —
  * HeaterControl{sensorID, command}; `seq` added so emissions are
  * attributable and testable).
  */
final case class HeaterCommand(sensorID: Long, seq: Long, action: Int)

/** The dynamically-controlled-stream pipeline, Spark-native: the
  * capability all four reference engines implement (reference:
  * sparkcontroller/.../SparkStructuredController.scala:42-118) —
  * two keyed streams (high-rate sensor data, low-rate control), the
  * latest control upserted into per-key state, data evaluated against
  * it with hysteresis + transition dedup.
  *
  * Differences from the reference, by design:
  *  - one `flatMapGroupsWithState` (Update, NoTimeout) instead of
  *    mapGroupsWithState + explode (reference:
  *    SparkStructuredController.scala:74-76) — no Seq materialization,
  *    no Generate node;
  *  - within a micro-batch, each key's events apply in `seq` order
  *    (controls and data interleaved by seq), replacing the
  *    reference's fragile union-ordering assumption (reference:
  *    SparkStructuredController.scala:69-71 comment) with a defined
  *    rule;
  *  - per-key lastAction lives inside the keyed state (the reference's
  *    Flink variant keeps it operator-local and loses it on rescale,
  *    flinkcontroller/.../TemperatureControlProcessor.scala:18);
  *  - events group by the `sensorID` column, not by a key lambda, so
  *    no event is deserialized just to compute its key (the alias
  *    keeps the state key schema `value: bigint`);
  *  - a key's state is written only when a step changed it: a key that
  *    never saw a control has no state row at all;
  *  - each topic decodes straight into the tagged event, and the
  *    events enter the grouping shuffle from one map task per core
  *    rather than one per source partition per topic (the control
  *    topic's tasks are almost empty).
  *
  * Scale: state is O(1) per key; throughput scales with shuffle
  * partitions; the state store partitions by the same key hash, so no
  * extra exchange beyond the grouping shuffle. The state store is
  * Spark's choice, not the pipeline's: setting
  * `spark.sql.streaming.stateStore.providerClass` to
  * `org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider`
  * trades CPU per batch for a smaller state footprint, with the same
  * output (ThermostatStreamSpec runs both stores). On the benchmark's
  * `thermostat_rate` workload (local[4], 10k rows/s, 3 alternating
  * pairs) RocksDB with changelog checkpointing raised application CPU
  * by about a fifth: 12.2 → 14.9 ms per 1,000 events.
  *
  * Kafka wiring (shape mirrors the reference,
  * SparkStructuredController.scala:42-86; KafkaIntegrationSpec runs
  * exactly this against a live broker when the spark-sql-kafka
  * connector is on the classpath):
  *
  * {{{
  * def topic(name: String, startingOffsets: String) =
  *   spark.readStream.format("kafka")
  *     .option("kafka.bootstrap.servers", servers)
  *     .option("subscribe", name)
  *     .option("startingOffsets", startingOffsets)
  *     .option("failOnDataLoss", "false")
  *     .load()
  *     .select(col("offset").as("_1"), col("value").as("_2")) // seq := offset
  *     .as[(Long, Array[Byte])]
  * // data skips stale readings, controls replay (they are state)
  * val events = fromWireProto(topic("sensor", "latest"), topic("tempset", "earliest"))
  * toWireProto(pipeline(events))       // proto3 HeaterControl bytes
  *   .toDF("value").writeStream.format("kafka")
  *   .option("kafka.bootstrap.servers", servers)
  *   .option("topic", "heatercontrol")
  *   .outputMode("update").trigger(Trigger.ProcessingTime("1 second"))
  *   .start()
  * }}}
  */
object ThermostatStream {

  /** The order a key's events apply in within one micro-batch.
    *
    * Tie rule: seq values come from PER-TOPIC offsets at the wire
    * boundary, so a control and a data event can legitimately share a
    * seq. Sorting by bare seq would break such ties by shuffle-arrival
    * order — nondeterministic emissions run to run. The defined order
    * is (seq, control-before-data): the documented resolution of the
    * reference's unordered-union ambiguity (SURVEY.md §7.5 — its own
    * Spark variant just assumes controls arrive first,
    * SparkStructuredController.scala:69-71).
    */
  private val SeqOrder: Ordering[ControlEvent] = new Ordering[ControlEvent] {
    def compare(a: ControlEvent, b: ControlEvent): Int = {
      val c = java.lang.Long.compare(a.seq, b.seq)
      if (c != 0) c
      else java.lang.Boolean.compare(b.kind == "control", a.kind == "control")
    }
  }

  /** Per-key state transition for one micro-batch: buffer the batch's
    * events, apply them in [[SeqOrder]], emit deduped transitions.
    * The state is written only when some step replaced it
    * (`Hysteresis.step` returns its input state when nothing changed),
    * so a batch of readings that change nothing, or readings for a key
    * that never saw a control, leave the store untouched.
    */
  def stateFunc(
      sensorID: Long,
      events: Iterator[ControlEvent],
      state: GroupState[ControlState]): Iterator[HeaterCommand] = {
    val evs = events.toArray
    java.util.Arrays.sort(evs, SeqOrder) // stable: equal keys keep arrival order
    val start = state.getOption.getOrElse(ControlState.empty)
    var st = start
    val out = ArrayBuffer.empty[HeaterCommand]
    evs.foreach { ev =>
      val (st2, emitted) = Hysteresis.step(st, ev)
      st = st2
      emitted.foreach(a => out += HeaterCommand(sensorID, ev.seq, a))
    }
    if (st ne start) state.update(st)
    out.iterator
  }

  /** The unified-stream pipeline: works identically on a streaming or
    * batch Dataset (Spark's incrementalization takes care of the
    * difference — same code, same semantics).
    */
  def pipeline(events: Dataset[ControlEvent]): Dataset[HeaterCommand] = {
    val spark = events.sparkSession
    import spark.implicits._
    // One map task per core, not one per source partition of each
    // topic (the control topic's are almost empty). The coalesce also
    // stops the key projection from being pushed into a union's
    // branches, where Spark 4.1.2 plans an object-typed Project it
    // cannot execute (ThermostatStreamSpec). A column key, not a
    // lambda: no event is deserialized just to compute its key, and
    // the alias keeps the state key schema `value: bigint`.
    events
      .coalesce(spark.sparkContext.defaultParallelism)
      .groupBy(col("sensorID").as("value")).as[Long, ControlEvent]
      .flatMapGroupsWithState[ControlState, HeaterCommand](
        OutputMode.Update, GroupStateTimeout.NoTimeout)(stateFunc)
  }

  /** Merge the two typed input streams into the tagged union the
    * state machine consumes (the Spark-4 shape of the reference's
    * null-tagged UnifiedDataModel,
    * sparkcontroller/.../DataModelTransform.scala:7-25).
    */
  def unify(
      data: Dataset[(SensorData, Long)],
      control: Dataset[(TemperatureControl, Long)]): Dataset[ControlEvent] = {
    val spark = data.sparkSession
    import spark.implicits._
    data.map { case (sd, seq) => dataEvent(sd, seq) }
      .unionByName(control.map { case (tc, seq) => controlEvent(tc, seq) })
  }

  private def dataEvent(sd: SensorData, seq: Long): ControlEvent =
    ControlEvent(sd.sensorID.toLong, seq, "data", sd.temperature, 0.0, 0.0, 0.0)

  private def controlEvent(tc: TemperatureControl, seq: Long): ControlEvent =
    ControlEvent(tc.sensorID.toLong, seq, "control", 0.0, tc.desired, tc.upDelta, tc.downDelta)

  /** The inbound wire boundary Kafka would carry (reference A3:
    * SparkStructuredController.scala:38-39): (offset, value-bytes)
    * records per topic, each value a proto3 message in the bytes
    * ScalaPB writes in the reference's Heater
    * (heater/.../Heater.scala:58-61,76-79) → decode with [[ProtoCodec]]
    * (malformed payloads dropped, mirroring the reference's bad-data
    * handler) → tagged union. The offset doubles as the per-key
    * ordering seq, as in the Kafka wiring above. Works on streaming and
    * batch Datasets alike.
    */
  def fromWireProto(
      sensorBytes: Dataset[(Long, Array[Byte])],
      controlBytes: Dataset[(Long, Array[Byte])]): Dataset[ControlEvent] = {
    val spark = sensorBytes.sparkSession
    import spark.implicits._
    // decode straight into the event: one typed pass per topic
    sensorBytes.flatMap { case (seq, b) => ProtoCodec.decodeSensor(b).map(dataEvent(_, seq)) }
      .unionByName(controlBytes.flatMap { case (seq, b) =>
        ProtoCodec.decodeControl(b).map(controlEvent(_, seq))
      })
  }

  /** The outbound wire boundary (reference A11:
    * SparkStructuredController.scala:78): commands → the reference's
    * output message, proto3 HeaterControl(sensorID, command)
    * (messages.proto:12-15). The wire message carries NO seq, exactly
    * like the reference's InternalHeaterControl → HeaterControl
    * serialization
    * (sparkcontroller/.../DataModelTransform.scala:34-36).
    */
  def toWireProto(cmds: Dataset[HeaterCommand]): Dataset[Array[Byte]] = {
    val spark = cmds.sparkSession
    import spark.implicits._
    cmds.map { c =>
      // the wire message's sensorID is proto int32 (messages.proto:13)
      // while the internal command carries a Long key — a silent
      // .toInt would wire-encode a WRONG sensor id for keys past
      // 2^31-1; fail the query loudly instead
      if (c.sensorID < Int.MinValue || c.sensorID > Int.MaxValue) {
        throw new IllegalArgumentException(
          s"sensorID ${c.sensorID} does not fit the proto3 int32 wire field")
      }
      ProtoCodec.encodeHeater(
        graft.model.HeaterControl(c.sensorID.toInt, c.action))
    }
  }
}
