package perfbench

import graft.model.{ControlEvent, SensorData, TemperatureControl}

/** Deterministic thermostat input, computed from a source row number.
  *
  * Row `v` of the stream is one reading of sensor `v mod sensors`, so every
  * sensor reports once per `sensors` rows (10 s at the `thermostat_rate`
  * cadence). Each sensor starts at its own point of a 60-reading control
  * cycle, so setpoint changes are spread evenly over time. A control is
  * scheduled just before the reading of the same row:
  *  - before the sensor's first reading in the stream (the initial setting);
  *  - before every reading whose index is a multiple of 60 (the reference's
  *    one control per 10 min, with its +-5 setpoint walk).
  *
  * Temperatures are drawn so that the reading paired with a control always
  * emits a command: the reading before a cycle boundary is out of band on one
  * side, and the paired reading is out of band on the other. That command is
  * the effect the control latency measures. Other readings are out of band
  * two times in three, on a random side, so the transition dedup suppresses
  * some of them.
  *
  * Everything is a pure function of (seed, sensors, row), so executor tasks
  * generate rows and the driver-side oracle regenerates the same events.
  */
final case class Gen(seed: Long, sensors: Long) {
  import Gen._

  def sensor(v: Long): Long = v % sensors

  /** Index of row `v`'s reading in its sensor's control cycle timeline. */
  def readingIndex(v: Long): Long =
    v / sensors + java.lang.Math.floorMod(hash(seed, sensor(v), 0L, 1L), Cycle.toLong)

  private def setpoint(s: Long, cycle: Long): Double = {
    var d = 45.0
    var i = 1L
    while (i <= cycle) {
      d += (java.lang.Math.floorMod(hash(seed, s, i, 2L), 10L) - 5L).toDouble
      i += 1
    }
    d
  }

  /** True when a control precedes row `v`'s reading. */
  def hasControl(v: Long): Boolean = v < sensors || readingIndex(v) % Cycle == 0

  def control(v: Long): TemperatureControl = {
    val s = sensor(v)
    TemperatureControl(s.toInt, setpoint(s, readingIndex(v) / Cycle), Band, Band)
  }

  /** 1 = too hot, 0 = too cold, 2 = inside the dead band. */
  private def side(v: Long): Int = {
    val s = sensor(v)
    val k = readingIndex(v)
    val r = hash(seed, s, k, 3L)
    if (v < sensors || k % Cycle == Cycle - 1) (r & 1L).toInt
    else if (k % Cycle == 0) 1 - (hash(seed, s, k - 1, 3L) & 1L).toInt
    else if (java.lang.Long.remainderUnsigned(r >>> 1, 3L) == 0L) 2
    else (r & 1L).toInt
  }

  def reading(v: Long): SensorData = {
    val s = sensor(v)
    val d = setpoint(s, readingIndex(v) / Cycle)
    val u = ((hash(seed, s, readingIndex(v), 4L) >>> 11) & 0xffffL) / 65536.0
    val t = side(v) match {
      case 1 => d + Band + 0.25 + 3.0 * u
      case 0 => d - Band - 0.25 - 3.0 * u
      case _ => d - 0.75 * Band + 1.5 * Band * u
    }
    SensorData(s.toInt, t)
  }

  /** The events row `v` contributes, in the order the pipeline applies them:
    * the control's seq is `2v` and the reading's is `2v + 1`. */
  def events(v: Long): Iterator[ControlEvent] = {
    val r = reading(v)
    val data = ControlEvent(r.sensorID.toLong, 2 * v + 1, "data", r.temperature, 0.0, 0.0, 0.0)
    if (hasControl(v)) {
      val c = control(v)
      Iterator(ControlEvent(c.sensorID.toLong, 2 * v, "control", 0.0, c.desired,
        c.upDelta, c.downDelta), data)
    } else Iterator(data)
  }
}

object Gen {
  val Cycle = 60
  val Band = 1.0

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def hash(seed: Long, s: Long, k: Long, salt: Long): Long =
    mix(mix(mix(seed ^ salt * 0x632be59bd9b4e019L) + s) + k)
}
