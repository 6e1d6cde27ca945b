package graft

import java.nio.file.Files

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{MapState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig}

/** The third transformWithState state shape: MAP state — a per-key
  * live categorical histogram (category -> count) updated in place,
  * emitting the changed cells per micro-batch. With ValueState
  * (DedupStream), ListState (AnomalyMonitor) and timers
  * (TwsTimerSpec) this completes the stateful-API surface; the final
  * counts are pinned against the batch groupBy of the same events.
  */
final case class Cell(user: Long, category: String, n: Long)

object MapStateSpec {
  class HistogramProcessor
      extends StatefulProcessor[Long, (Long, String), Cell] {
    @transient private var hist: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      hist = getHandle.getMapState[String, Long](
        "hist", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(
        key: Long,
        rows: Iterator[(Long, String)],
        timerValues: TimerValues): Iterator[Cell] = {
      val touched = scala.collection.mutable.LinkedHashSet.empty[String]
      rows.foreach { case (_, cat) =>
        val cur = if (hist.containsKey(cat)) hist.getValue(cat) else 0L
        hist.updateValue(cat, cur + 1)
        touched += cat
      }
      touched.iterator.map(c => Cell(key, c, hist.getValue(c)))
    }
  }
}

class MapStateSpec extends SparkSpec {

  test("MapState histogram matches the batch groupBy") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext

    val rnd = new scala.util.Random(9)
    val cats = Vector("view", "click", "purchase")
    val evs = (1 to 90).map(i => (1L + i % 3, cats(rnd.nextInt(cats.size))))

    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[(Long, String)]
      val out: Dataset[Cell] = in.toDS().groupByKey(_._1)
        .transformWithState(new MapStateSpec.HistogramProcessor,
          TimeMode.None(), OutputMode.Update())
      val sink = s"ms_${System.nanoTime()}"
      val q = out.writeStream.format("memory").queryName(sink)
        .outputMode("update")
        .option("checkpointLocation", Files.createTempDirectory("chk").toString)
        .start()
      try {
        in.addData(evs.take(50))
        q.processAllAvailable()
        in.addData(evs.drop(50)) // counts must continue, not restart
        q.processAllAvailable()
        // update-mode sink: the LAST row per (user, category) is the
        // final count
        val streamed = s.table(sink)
          .groupBy($"user", $"category")
          .agg(org.apache.spark.sql.functions.max($"n").as("n"))
          .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
          .toSet
        val batch = evs.groupBy(identity).map { case ((u, c), g) =>
          (u, c, g.size.toLong)
        }.toSet
        assert(streamed === batch)
      } finally q.stop()
    } finally s.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }
}
