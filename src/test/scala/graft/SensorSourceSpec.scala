package graft

import org.apache.spark.sql.functions._

import graft.model.ControlEvent
import graft.streaming.{HeaterCommand, ThermostatStream}

/** The DataSource V2 sensor source with nothing pushed: schema,
  * partitioning, deterministic replay, and feeding the thermostat
  * pipeline.
  */
class SensorSourceSpec extends SparkSpec {

  private def source(sensors: Int, readings: Int) =
    spark.read.format("graft.sources.PushdownSensorProvider")
      .option("sensors", sensors.toString)
      .option("readings", readings.toString)
      .load()

  test("generates sensors x readings deterministic rows, one partition per sensor") {
    val df = source(4, 50)
    assert(df.count() == 200)
    assert(df.rdd.getNumPartitions == 4)
    assert(df.schema.fieldNames.toSeq == Seq("sensorID", "seq", "temperature"))
    // replayable: two reads agree exactly
    assert(df.collect().toSet == source(4, 50).collect().toSet)
    // physics: strictly rising by the heat step per sensor
    val s0 = df.filter(col("sensorID") === 0).orderBy("seq")
      .select("temperature").collect().map(_.getDouble(0))
    assert(s0.head == 42.8)
    s0.sliding(2).foreach { case Array(a, b) => assert(math.abs(b - a - 0.8) < 1e-9) }
  }

  test("source rows drive the thermostat pipeline end to end") {
    val s = spark
    import s.implicits._
    val events = source(2, 40).select(
        col("sensorID").cast("long").as("sensorID"),
        col("seq"), lit("data").as("kind"),
        col("temperature"), lit(0.0).as("desired"),
        lit(0.0).as("upDelta"), lit(0.0).as("downDelta"))
      .as[ControlEvent]
    val controls = Seq(
      ControlEvent(0L, 0L, "control", 0.0, 45.0, 1.0, 1.0),
      ControlEvent(1L, 0L, "control", 0.0, 45.0, 1.0, 1.0)).toDS()
    val out = ThermostatStream.pipeline(events.unionByName(controls))
      .collect().sortBy(c => (c.sensorID, c.seq))
    // both sensors start below the band (On), then heat past 46 (Off):
    // sensor 0: 42.8@1 < 44 -> On; 46.8@6 > 46 -> Off
    // sensor 1: 43.8@1 < 44 -> On; 46.2@4 > 46 -> Off
    assert(out.toSeq == Seq(
      HeaterCommand(0L, 1L, 0), HeaterCommand(0L, 6L, 1),
      HeaterCommand(1L, 1L, 0), HeaterCommand(1L, 4L, 1)))
  }
}
