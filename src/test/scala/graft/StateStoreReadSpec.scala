package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.model.ControlEvent
import graft.streaming.{HeaterSim, ThermostatStream}

/** Operability: the streaming pipeline's keyed state is inspectable
  * offline through the state data source — per-key ControlState read
  * straight out of the checkpoint (no reference engine offers this;
  * Spark's checkpoint IS the queryable state).
  */
class StateStoreReadSpec extends SparkSpec {

  test("checkpointed per-key state is readable via the state data source") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val chk = Files.createTempDirectory("chk_state").toString
    val ms = MemoryStream[ControlEvent]
    val sink = s"state_${System.nanoTime()}"
    val q = ThermostatStream.pipeline(ms.toDS())
      .writeStream.format("memory").queryName(sink).outputMode("update")
      .option("checkpointLocation", chk)
      .start()
    try {
      val k1 = HeaterSim.eventsOf(HeaterSim.closedLoop(20))
      val k2 = k1.map(e => e.copy(sensorID = 7L, desired = 50.0))
      // a key that only ever sees readings: nothing to remember, no state row
      val k3 = k1.filter(_.kind == "data").map(_.copy(sensorID = 9L))
      ms.addData(k1 ++ k2 ++ k3)
      q.processAllAvailable()
    } finally q.stop()

    val state = s.read.format("statestore").load(chk)
    val keys = state.select(col("key.value").cast("long")).as[Long]
      .collect().toSet
    assert(keys == Set(1L, 7L)) // no row for the readings-only key 9
    // the stored ControlState carries the latest setting per key
    val settings = state.select(col("key.value").cast("long"),
        col("value.groupState.hasSetting"), col("value.groupState.desired"))
      .as[(Long, Boolean, Double)].collect()
      .map { case (k, h, d) => k -> ((h, d)) }.toMap
    assert(settings(1L)._1 && settings(1L)._2 == 45.0)
    assert(settings(7L)._1 && settings(7L)._2 == 50.0)
  }
}
