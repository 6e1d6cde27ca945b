package graft.sources

import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}

/** The deterministic sensor stream the DataSource V2 source
  * ([[PushdownSensorProvider]]) generates, with the reference heater
  * physics (reference:
  * heater/src/main/scala/com/lightbend/streams/heater/Heater.scala:
  * 49-66 — linear integrator, always-heating here since no controller
  * closes the loop inside the source). One input partition per
  * sensor shard: generation is embarrassingly parallel and
  * deterministic, so the source is replayable — the property Kafka
  * offsets give the reference's pipeline.
  */
object SensorSource {
  val schema: StructType = StructType(Seq(
    StructField("sensorID", IntegerType, nullable = false),
    StructField("seq", LongType, nullable = false),
    StructField("temperature", DoubleType, nullable = false)))

  val StartTemp = 42.0 // Heater.scala:49
  val HeatStep = 0.8
}
