package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** One raw metric observation on the stream. */
final case class RawObservation(key: Long, seq: Long, value: Double)

/** The scored observation: integer cents plus the anomaly verdict. */
final case class ScoredObservation(key: Long, seq: Long, cents: Long,
    is_anomaly: Boolean)

/** STREAMING twin of the batch z-score monitor (q112 /
  * `api.ops.zscoreAnomalies`): each observation is scored against the
  * mean/stddev of the `lookback` observations before it, per key, with
  * the same pure-int64 z² test — and the trailing window lives in
  * transformWithState LIST STATE, bounded at `lookback` entries per
  * key (the third state shape the repo exercises, after ValueState in
  * DedupStream/TwsTimerSpec and timer state in TimeoutSession).
  * AnomalyMonitorSpec pins stream/batch equivalence on the same input.
  *
  * ORDERING CONTRACT: scoring is defined over the per-key seq order.
  * Within a micro-batch, rows arrive in shuffle order and are sorted
  * by seq before scoring. ACROSS micro-batches the monitor assumes
  * per-key seq-monotone arrival (the batch twin total-orders by seq
  * globally); a row whose seq is at or below the last scored seq for
  * its key — i.e. late across a batch boundary — is DROPPED
  * explicitly (lastSeq ValueState guard) rather than scored against
  * a history it was never part of, so the stream can under-report
  * late observations but never silently diverges from the batch twin
  * on the rows it does score.
  *
  * At scale: state is O(lookback) longs per key regardless of stream
  * length, checkpointed in RocksDB; a restart resumes scoring
  * mid-history with no re-read of the past. Int64 envelope as for
  * `ops.zscoreAnomalies`: |value| under ~2.2e6 at the default
  * lookback/z — rescale larger metrics before monitoring.
  */
object AnomalyMonitor {

  class ZScoreProcessor(lookback: Int, z: Long, minHistory: Int)
      extends StatefulProcessor[Long, RawObservation, ScoredObservation] {
    @transient private var hist: ListState[Long] = _
    @transient private var lastSeq: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      hist = getHandle.getListState[Long](
        "hist", Encoders.scalaLong, TTLConfig.NONE)
      lastSeq = getHandle.getValueState[Long](
        "lastSeq", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(
        key: Long,
        rows: Iterator[RawObservation],
        timerValues: TimerValues): Iterator[ScoredObservation] = {
      // oldest..newest trailing window for this key
      var h: Vector[Long] = if (hist.exists()) hist.get().toVector
        else Vector.empty
      // a micro-batch delivers a key's rows in shuffle order; scoring
      // is defined over the seq order, so sort within the batch (the
      // same total order the batch twin's window uses). Rows late
      // ACROSS a batch boundary (seq <= last scored seq) are dropped
      // — see the ordering contract in the object scaladoc.
      val floorSeq = if (lastSeq.exists()) lastSeq.get() else Long.MinValue
      val out = rows.toSeq.filter(_.seq > floorSeq).sortBy(_.seq).map { o =>
        val x = math.floor(o.value * 100).toLong
        val n = h.length.toLong
        val flagged = if (n >= minHistory) {
          val sx = h.sum
          val sxx = h.map(v => v * v).sum
          val lhs = n * x - sx
          lhs * lhs > z * z * (n * sxx - sx * sx)
        } else false
        h = (h :+ x).takeRight(lookback)
        ScoredObservation(key, o.seq, x, flagged)
      }
      hist.put(h.toArray)
      if (out.nonEmpty) lastSeq.update(out.last.seq) // sorted: max seq
      out.iterator
    }
  }

  /** The monitor as a stream transform (RocksDB state store required,
    * as for every transformWithState pipeline).
    */
  def monitor(obs: Dataset[RawObservation], lookback: Int = 20,
      z: Long = 3, minHistory: Int = 10): Dataset[ScoredObservation] = {
    val spark = obs.sparkSession
    import spark.implicits._
    obs.groupByKey(_.key)
      .transformWithState(new ZScoreProcessor(lookback, z, minHistory),
        TimeMode.None(), OutputMode.Update())
  }
}
