package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Runnable demo of the streaming thermostat pipeline: feeds the
  * closed-loop simulator through MemoryStream micro-batches and prints
  * the emitted transitions (the offline analog of the reference's
  * Kafka round trip, heater -> controller -> heater).
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val spark: SparkSession = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext

    val ms = MemoryStream[graft.model.ControlEvent]
    val q = ThermostatStream.pipeline(ms.toDS())
      .writeStream.format("memory").queryName("demo").outputMode("update")
      .option("checkpointLocation", Files.createTempDirectory("chk").toString)
      .start()
    val events = HeaterSim.eventsOf(HeaterSim.closedLoop(60))
    events.grouped(10).foreach { b => ms.addData(b); q.processAllAvailable() }
    q.stop()
    val out = spark.table("demo").as[HeaterCommand].collect().sortBy(_.seq)
    out.foreach(c => println(s"[demo] sensor=${c.sensorID} seq=${c.seq} " +
      s"action=${if (c.action == 0) "On" else "Off"}"))
    println(s"[demo] ${out.length} transitions emitted")

    // multi-query lifecycle (reference A13,
    // SparkStructuredController.scala:89): two concurrent queries on
    // independent streams; the driver parks on awaitAnyTermination and
    // wakes when the first query terminates, while the second keeps
    // running.
    spark.streams.resetTerminated() // forget the stopped demos above
    val msA = MemoryStream[graft.model.ControlEvent]
    val msB = MemoryStream[graft.model.ControlEvent]
    val qA = ThermostatStream.pipeline(msA.toDS())
      .writeStream.format("memory").queryName("demo_a").outputMode("update")
      .option("checkpointLocation", Files.createTempDirectory("chk").toString)
      .start()
    val qB = ThermostatStream.pipeline(msB.toDS())
      .writeStream.format("memory").queryName("demo_b").outputMode("update")
      .option("checkpointLocation", Files.createTempDirectory("chk").toString)
      .start()
    msA.addData(events)
    msB.addData(events)
    val stopper = new Thread(() => {
      qA.processAllAvailable(); qB.processAllAvailable(); qA.stop()
    })
    stopper.start()
    spark.streams.awaitAnyTermination()
    stopper.join()
    val bStillActive = qB.isActive
    println(s"[demo] awaitAnyTermination woke on demo_a; demo_b active = $bStillActive")
    qB.stop()
    spark.stop()
    if (!bStillActive) sys.exit(1)
    if (out.isEmpty) sys.exit(1)
  }
}
