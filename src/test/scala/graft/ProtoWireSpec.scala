package graft

import java.nio.file.Files
import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.model.{ControlEvent, ControlState, HeaterControl, Hysteresis, SensorData, TemperatureControl}
import graft.streaming.{HeaterCommand, HeaterSim, ProtoCodec, ThermostatStream}

/** The REAL proto3 wire boundary (reference:
  * protobufs/src/main/protobuf/messages.proto:1-29): byte-level golden
  * checks of the hand-rolled codec against the proto3 spec, proto3
  * reader conformance (unknown-field skip, last-wins, default
  * omission), and the full bytes→decode→pipeline→encode→bytes
  * streaming loop carrying actual protobuf payloads, golden-checked
  * per micro-batch against the pure fold under the reference Heater's
  * setpoint random walk.
  */
class ProtoWireSpec extends SparkSpec {

  private def le64(d: Double): Array[Byte] =
    ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putDouble(d).array()

  test("proto3 byte-level golden: TemperatureControl(1, 45.0, 1.0, 1.0)") {
    // 0x08 tag = field 1 varint; 0x11/0x19/0x21 = fields 2/3/4 fixed64
    val expected = Array[Byte](0x08, 0x01) ++
      (Array[Byte](0x11) ++ le64(45.0)) ++
      (Array[Byte](0x19) ++ le64(1.0)) ++
      (Array[Byte](0x21) ++ le64(1.0))
    val got = ProtoCodec.encodeControl(TemperatureControl(1, 45.0, 1.0, 1.0))
    assert(got.toSeq == expected.toSeq)
  }

  test("proto3 byte-level golden: SensorData and the flattened-enum HeaterControl") {
    val sd = ProtoCodec.encodeSensor(SensorData(300, 42.5))
    // 300 = 0xAC 0x02 varint
    assert(sd.toSeq == (Array[Byte](0x08, 0xac.toByte, 0x02, 0x11) ++ le64(42.5)).toSeq)
    // enum command=Off(1) on the wire is a plain varint field 2
    // (the Scala side keeps the flattened action Int — the reference's
    // ScalaPB-enums-not-Spark-encodable lesson)
    assert(ProtoCodec.encodeHeater(HeaterControl(3, 1)).toSeq ==
      Seq[Byte](0x08, 0x03, 0x10, 0x01))
    // proto3 default omission: On=0 command and sensorID=0 vanish
    assert(ProtoCodec.encodeHeater(HeaterControl(0, 0)).isEmpty)
    assert(ProtoCodec.encodeSensor(SensorData(0, 0.0)).isEmpty)
  }

  test("round trips, including negative int32 (10-byte varint) and -0.0") {
    val cases = Seq(SensorData(0, 0.0), SensorData(-7, 36.6),
      SensorData(Int.MaxValue, -273.15), SensorData(Int.MinValue, -0.0))
    cases.foreach { sd =>
      assert(ProtoCodec.decodeSensor(ProtoCodec.encodeSensor(sd)).contains(sd))
    }
    val tc = TemperatureControl(42, 45.0, 1.0, 1.5)
    assert(ProtoCodec.decodeControl(ProtoCodec.encodeControl(tc)).contains(tc))
    val hc = HeaterControl(9, 1)
    assert(ProtoCodec.decodeHeater(ProtoCodec.encodeHeater(hc)).contains(hc))
  }

  // ---- reference encoding, assembled independently of the codec ----

  /** Base-128 groups, low first, the continuation bit on all but the
    * last. */
  private def refVarint(v: Long): Seq[Byte] = {
    val groups = Iterator.iterate(v)(_ >>> 7).takeWhile(_ != 0L).map(g => (g & 0x7f).toInt).toSeq
    val gs = if (groups.isEmpty) Seq(0) else groups
    gs.init.map(g => (g | 0x80).toByte) :+ gs.last.toByte
  }

  /** proto3 omits a scalar field that holds its default: 0 for an
    * int32 or enum, all-zero bits for a double (so -0.0 is written).
    * A negative int32 is sign-extended to 64 bits before encoding. */
  private def refInt32(field: Int, v: Int): Seq[Byte] =
    if (v == 0) Nil else (field << 3).toByte +: refVarint(v.toLong)

  private def refDouble(field: Int, v: Double): Seq[Byte] =
    if (java.lang.Double.doubleToRawLongBits(v) == 0L) Nil
    else ((field << 3) | 1).toByte +: le64(v).toSeq

  /** Bit equality, so -0.0 differs from 0.0 and NaN equals NaN. */
  private def same(a: Double, b: Double): Boolean =
    java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b)

  private val edgeInts = Seq(0, 1, -1, 127, 128, 16384, Int.MinValue, Int.MaxValue)
  private val edgeDoubles = Seq(0.0, -0.0, 1.0, -1.0, Double.NaN,
    Double.MinPositiveValue, -Double.MinPositiveValue, java.lang.Double.MIN_NORMAL / 3,
    Double.MaxValue, Double.PositiveInfinity, Double.NegativeInfinity)
  private val anyInt = Gen.frequency(1 -> Gen.oneOf(edgeInts), 1 -> Gen.choose(Int.MinValue, Int.MaxValue))
  private val anyDouble = Gen.frequency(1 -> Gen.oneOf(edgeDoubles),
    1 -> Gen.choose(-1e6, 1e6), 1 -> Gen.choose(Long.MinValue, Long.MaxValue).map(java.lang.Double.longBitsToDouble))

  /** 500 seeded samples of `g` (the raw-scalacheck loop; the
    * scalatestplus bridge is not in the offline cache). */
  private def forAllSamples[A](g: Gen[A])(check: A => Unit): Unit =
    (0 until 500).foreach(i => g.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(check))

  test("every encoder's bytes equal the reference encoding, and decode returns the message") {
    def sensor(m: SensorData): Unit = {
      val got = ProtoCodec.encodeSensor(m)
      assert(got.toSeq == refInt32(1, m.sensorID) ++ refDouble(2, m.temperature), m)
      val back = ProtoCodec.decodeSensor(got).get
      assert(back.sensorID == m.sensorID && same(back.temperature, m.temperature), m)
    }
    def control(m: TemperatureControl): Unit = {
      val got = ProtoCodec.encodeControl(m)
      assert(got.toSeq == refInt32(1, m.sensorID) ++ refDouble(2, m.desired) ++
        refDouble(3, m.upDelta) ++ refDouble(4, m.downDelta), m)
      val back = ProtoCodec.decodeControl(got).get
      assert(back.sensorID == m.sensorID && same(back.desired, m.desired) &&
        same(back.upDelta, m.upDelta) && same(back.downDelta, m.downDelta), m)
    }
    def heater(m: HeaterControl): Unit = {
      val got = ProtoCodec.encodeHeater(m)
      assert(got.toSeq == refInt32(1, m.sensorID) ++ refInt32(2, m.action), m)
      assert(ProtoCodec.decodeHeater(got).contains(m))
    }
    for (i <- edgeInts; d <- edgeDoubles) sensor(SensorData(i, d))
    for (i <- edgeInts; a <- edgeInts) heater(HeaterControl(i, a))
    forAllSamples(for (i <- anyInt; d <- anyDouble) yield SensorData(i, d))(sensor)
    forAllSamples(for (i <- anyInt; d <- anyDouble; u <- anyDouble; w <- anyDouble)
      yield TemperatureControl(i, d, u, w))(control)
    forAllSamples(for (i <- anyInt; a <- anyInt) yield HeaterControl(i, a))(heater)
    // the reference itself: Int.MinValue is a 10-byte varint, 300 two bytes
    assert(refVarint(Int.MinValue.toLong).length == 10)
    assert(refVarint(300L) == Seq[Byte](0xac.toByte, 0x02))
  }

  test("conforming reader: unknown fields skipped, last value wins, defaults on absence") {
    val base = ProtoCodec.encodeSensor(SensorData(5, 20.0))
    // append unknown fields of every proto3 wire type:
    // field 9 varint, field 10 fixed64, field 11 length-delimited, field 12 fixed32
    val unknown = Array[Byte](0x48, 0x7f) ++
      (Array[Byte](0x51) ++ le64(1.25)) ++
      Array[Byte](0x5a, 0x03, 1, 2, 3) ++
      Array[Byte](0x65, 1, 2, 3, 4)
    assert(ProtoCodec.decodeSensor(base ++ unknown).contains(SensorData(5, 20.0)))
    // an embedded proto2-style GROUP is skipped (protobuf-java
    // conformance), including one nested varint field: field 9
    // START_GROUP (0x4b), field 9 varint (0x48 0x01), END_GROUP (0x4c)
    val group = Array[Byte](0x4b, 0x48, 0x01, 0x4c)
    assert(ProtoCodec.decodeSensor(base ++ group).contains(SensorData(5, 20.0)))
    // duplicate field: last one wins (proto3 merge rule for scalars)
    val dup = base ++ Array[Byte](0x08, 0x09)
    assert(ProtoCodec.decodeSensor(dup).contains(SensorData(9, 20.0)))
    // empty message = all defaults
    assert(ProtoCodec.decodeSensor(Array.empty[Byte]).contains(SensorData(0, 0.0)))
    assert(ProtoCodec.decodeControl(Array.empty[Byte])
      .contains(TemperatureControl(0, 0.0, 0.0, 0.0)))
  }

  test("malformed payloads decode to None, never throw") {
    // truncated fixed64
    assert(ProtoCodec.decodeSensor(Array[Byte](0x11, 1, 2)).isEmpty)
    // truncated varint (continuation bit set at end of buffer)
    assert(ProtoCodec.decodeSensor(Array[Byte](0x08, 0x80.toByte)).isEmpty)
    // over-long varint (11 continuation bytes)
    assert(ProtoCodec.decodeSensor(
      Array[Byte](0x08) ++ Array.fill(11)(0x80.toByte)).isEmpty)
    // field number 0 is an invalid tag for conforming parsers
    assert(ProtoCodec.decodeSensor(Array[Byte](0x00, 0x01)).isEmpty)
    // a bare END_GROUP (wire 4) outside any group is malformed
    assert(ProtoCodec.decodeSensor(Array[Byte](0x0c)).isEmpty)
    // length-delimited length past end of buffer
    assert(ProtoCodec.decodeSensor(Array[Byte](0x5a, 0x7f, 1)).isEmpty)
    assert(ProtoCodec.decodeSensor(null).isEmpty)
  }

  test("toWireProto fails the query for a sensorID outside int32") {
    val s = spark
    import s.implicits._
    // messages.proto:13 types sensorID int32; the boundary keys encode
    val edges = Seq(HeaterCommand(Int.MaxValue.toLong, 1L, 1),
      HeaterCommand(Int.MinValue.toLong, 2L, 1))
    val wire = ThermostatStream.toWireProto(edges.toDS()).collect()
      .map(b => ProtoCodec.decodeHeater(b).get).toSeq
    assert(wire == Seq(HeaterControl(Int.MaxValue, 1), HeaterControl(Int.MinValue, 1)))
    // one past either edge must fail, not wrap to another sensor's id
    Seq(Int.MaxValue.toLong + 1, Int.MinValue.toLong - 1).foreach { id =>
      val e = intercept[Exception] {
        ThermostatStream.toWireProto(Seq(HeaterCommand(id, 3L, 1)).toDS()).collect()
      }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => c.isInstanceOf[IllegalArgumentException] &&
          c.getMessage.contains(s"sensorID $id does not fit")), e)
    }
  }

  test("proto bytes -> decode -> pipeline -> encode -> proto bytes, golden per micro-batch") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext

    // the reference Heater's setpoint random walk: control upserts
    // land mid-stream (Heater.scala:72-86), so the wire loop exercises
    // re-configuration, not just one fixed setting
    val evs = HeaterSim.closedLoopWalk(60, controlEvery = 13, seed = 7L)
    assert(evs.count(_.kind == "control") >= 4) // non-vacuous walk
    val batches = evs.grouped(9).toVector

    val sensorMs = MemoryStream[(Long, Array[Byte])]
    val controlMs = MemoryStream[(Long, Array[Byte])]
    val out = ThermostatStream.toWireProto(
      ThermostatStream.pipeline(
        ThermostatStream.fromWireProto(sensorMs.toDS(), controlMs.toDS())))
    val sink = s"proto_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(sink)
      .outputMode("update")
      .option("checkpointLocation", Files.createTempDirectory("chk").toString)
      .start()
    try {
      // incremental golden fold, checked batch by batch: the proto
      // HeaterControl wire message carries no seq (messages.proto:12-15),
      // so ordering comes from the micro-batch boundary itself
      var st = Map.empty[Long, ControlState].withDefaultValue(ControlState.empty)
      var seen = 0
      val junk = Seq((9000L, Array[Byte](0x0b, 1, 2)), (9001L, Array[Byte](0x08, 0x80.toByte)))
      batches.foreach { batch =>
        val ctl = batch.filter(_.kind == "control").map(e => (e.seq,
          ProtoCodec.encodeControl(
            TemperatureControl(e.sensorID.toInt, e.desired, e.upDelta, e.downDelta))))
        val dat = batch.filter(_.kind == "data").map(e => (e.seq,
          ProtoCodec.encodeSensor(SensorData(e.sensorID.toInt, e.temperature))))
        if (ctl.nonEmpty) controlMs.addData(ctl ++ junk)
        if (dat.nonEmpty) sensorMs.addData(dat ++ junk)
        q.processAllAvailable()

        val expected = batch.sortBy(_.seq).flatMap { ev =>
          val (st2, emitted) = Hysteresis.step(st(ev.sensorID), ev)
          st = st.updated(ev.sensorID, st2)
          emitted.map(a => (ev.sensorID.toInt, a))
        }
        val rows = s.table(sink).collect().map(_.getAs[Array[Byte]](0))
        val got = rows.drop(seen).toSeq
          .map(b => ProtoCodec.decodeHeater(b).get)
          .map(h => (h.sensorID, h.action))
        seen = rows.length
        assert(got.sorted == expected.sorted,
          s"batch outputs $got != golden $expected")
      }
      assert(seen > 0) // the loop emitted transitions end to end
    } finally q.stop()
  }
}
