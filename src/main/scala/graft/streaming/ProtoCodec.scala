package graft.streaming

import graft.model.{HeaterControl, SensorData, TemperatureControl}

/** Hand-rolled proto3 wire codec for the reference's three messages
  * (reference: protobufs/src/main/protobuf/messages.proto:1-29) —
  * varint-tagged fields, little-endian fixed64 doubles, proto3
  * default-value omission — so the wire round trip carries actual
  * protobuf bytes even though neither ScalaPB nor the spark-protobuf
  * connector exists in this offline environment. With the connector
  * present, `from_protobuf`/`to_protobuf` against messages.proto
  * replace this object 1:1 (same bytes).
  *
  * Wire shapes (field → tag byte):
  *   SensorData          1: int32 sensorID (0x08), 2: double temperature (0x11)
  *   TemperatureControl  1: int32 sensorID (0x08), 2: double desired (0x11),
  *                       3: double upDelta (0x19), 4: double downDelta (0x21)
  *   HeaterControl       1: int32 sensorID (0x08), 2: enum command (0x10)
  *
  * The enum is FLATTENED to `action: Int` on the Scala side — the
  * reference's own lesson that ScalaPB enums are not Spark-encodable
  * (reference: sparkcontroller/.../DataModelTransform.scala:41-44);
  * On=0, Off=1 (messages.proto:6-9).
  *
  * Decode is a conforming proto3 reader for these flat messages:
  * unknown fields are skipped by wire type, last value wins on
  * duplicates, missing fields decode to proto3 defaults (0 / 0.0),
  * and any structural error (truncation, over-long varint, unknown
  * wire type) returns None — dropped upstream like every malformed
  * payload (reference: flinkcontroller/.../BadDataHandler.scala:13-19).
  */
object ProtoCodec {

  // ---- primitives ----------------------------------------------

  /** Writes one message into an array sized to it exactly up front:
    * no growable buffer, no trailing copy, no lock per byte. Every
    * field number here is below 16, so each tag is one byte. */
  private final class Writer(size: Int) {
    private val buf = new Array[Byte](size)
    private var pos = 0

    private def varint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0L) {
        buf(pos) = ((v & 0x7f) | 0x80).toByte; pos += 1
        v = v >>> 7
      }
      buf(pos) = v.toByte; pos += 1
    }

    /** proto3 int32 (also the enum's wire form): omitted when 0. */
    def int32(field: Int, v: Int): Writer = {
      if (v != 0) { buf(pos) = (field << 3).toByte; pos += 1; varint(v.toLong) }
      this
    }

    /** proto3 double: fixed64, little-endian; omitted when its raw
      * bits are 0. */
    def double(field: Int, v: Double): Writer = {
      val bits = java.lang.Double.doubleToRawLongBits(v)
      if (bits != 0L) {
        buf(pos) = ((field << 3) | 1).toByte; pos += 1
        var b = bits
        var i = 0
        while (i < 8) { buf(pos) = b.toByte; b = b >>> 8; pos += 1; i += 1 }
      }
      this
    }

    def bytes: Array[Byte] = {
      if (pos != size) throw new IllegalStateException(s"sized $size bytes, wrote $pos")
      buf
    }
  }

  private def varintSize(v: Long): Int = {
    var n = 1
    var rest = v >>> 7
    while (rest != 0L) { n += 1; rest = rest >>> 7 }
    n
  }

  /** Bytes of an int32 field: negative values sign-extend to 64 bits
    * (a 10-byte varint); 0 is omitted. */
  private def int32Size(v: Int): Int = if (v == 0) 0 else 1 + varintSize(v.toLong)

  /** Bytes of a double field: omitted iff raw bits are 0 (matches
    * protobuf-java: -0.0 IS serialized). */
  private def doubleSize(v: Double): Int =
    if (java.lang.Double.doubleToRawLongBits(v) == 0L) 0 else 9

  /** Mutable cursor over the payload; structural errors throw Malformed
    * and surface as None from the message decoders. */
  private final class Malformed extends RuntimeException(null, null, false, false)
  private val malformed = new Malformed

  private final class Reader(buf: Array[Byte]) {
    private var pos = 0
    def hasMore: Boolean = pos < buf.length
    def readVarint(): Long = {
      var shift = 0
      var acc = 0L
      while (shift < 64) {
        if (pos >= buf.length) throw malformed
        val b = buf(pos); pos += 1
        acc |= (b & 0x7fL) << shift
        if ((b & 0x80) == 0) return acc
        shift += 7
      }
      throw malformed // > 10 bytes
    }
    def readFixed64(): Long = {
      if (pos + 8 > buf.length) throw malformed
      var acc = 0L
      var i = 0
      while (i < 8) { acc |= (buf(pos + i).toLong & 0xff) << (8 * i); i += 1 }
      pos += 8
      acc
    }
    def skip(wire: Int): Unit = wire match {
      case 0 => readVarint(); ()
      case 1 => if (pos + 8 > buf.length) throw malformed else pos += 8
      case 2 =>
        val len = readVarint()
        // overflow-safe bound: `pos + len` wraps negative for a crafted
        // 10-byte varint near Long.MaxValue and would pass a naive check
        if (len < 0 || len > (buf.length - pos).toLong) throw malformed
        pos += len.toInt
      case 5 => if (pos + 4 > buf.length) throw malformed else pos += 4
      // groups are proto2 wire relics, but conforming parsers
      // (protobuf-java) still SKIP an embedded group rather than
      // reject the message: consume nested fields until the matching
      // END_GROUP tag. A bare END_GROUP here is malformed.
      case 3 =>
        var open = 1
        while (open > 0) {
          val tag = readVarint()
          val (f, w) = ((tag >>> 3).toInt, (tag & 7).toInt)
          if (f == 0) throw malformed
          w match {
            case 3 => open += 1
            case 4 => open -= 1
            case other => skip(other)
          }
        }
      case _ => throw malformed // wire 4 outside a group, or 6/7
    }
  }

  /** Wraps a full-message decode loop: runs `loop` over a fresh
    * [[Reader]] on the payload and maps any structural error
    * ([[Malformed]]) to None. Each per-message decoder owns its own
    * tag-dispatch loop and MUST end its match with a
    * `case _ => r.skip(wire)` arm — that catch-all, not this wrapper,
    * is what skips unknown fields. */
  private def decodeWith[T](b: Array[Byte])(loop: Reader => T): Option[T] =
    if (b == null) None
    else
      try {
        val r = new Reader(b)
        Some(loop(r))
      } catch { case _: Malformed => None }

  // ---- SensorData ----------------------------------------------

  def encodeSensor(s: SensorData): Array[Byte] = {
    new Writer(int32Size(s.sensorID) + doubleSize(s.temperature))
      .int32(1, s.sensorID).double(2, s.temperature).bytes
  }

  def decodeSensor(b: Array[Byte]): Option[SensorData] = decodeWith(b) { r =>
    var id = 0
    var temp = 0.0
    while (r.hasMore) {
      val tag = r.readVarint()
      val (field, wire) = ((tag >>> 3).toInt, (tag & 7).toInt)
      if (field == 0) throw malformed // conforming parsers reject tag 0
      (field, wire) match {
        case (1, 0) => id = r.readVarint().toInt
        case (2, 1) => temp = java.lang.Double.longBitsToDouble(r.readFixed64())
        case _      => r.skip(wire)
      }
    }
    SensorData(id, temp)
  }

  // ---- TemperatureControl --------------------------------------

  def encodeControl(c: TemperatureControl): Array[Byte] = {
    new Writer(int32Size(c.sensorID) + doubleSize(c.desired) + doubleSize(c.upDelta) +
        doubleSize(c.downDelta))
      .int32(1, c.sensorID).double(2, c.desired).double(3, c.upDelta)
      .double(4, c.downDelta).bytes
  }

  def decodeControl(b: Array[Byte]): Option[TemperatureControl] = decodeWith(b) { r =>
    var id = 0
    var desired = 0.0
    var up = 0.0
    var down = 0.0
    while (r.hasMore) {
      val tag = r.readVarint()
      val (field, wire) = ((tag >>> 3).toInt, (tag & 7).toInt)
      if (field == 0) throw malformed // conforming parsers reject tag 0
      (field, wire) match {
        case (1, 0) => id = r.readVarint().toInt
        case (2, 1) => desired = java.lang.Double.longBitsToDouble(r.readFixed64())
        case (3, 1) => up = java.lang.Double.longBitsToDouble(r.readFixed64())
        case (4, 1) => down = java.lang.Double.longBitsToDouble(r.readFixed64())
        case _      => r.skip(wire)
      }
    }
    TemperatureControl(id, desired, up, down)
  }

  // ---- HeaterControl (flattened enum) --------------------------

  def encodeHeater(h: HeaterControl): Array[Byte] = {
    // enum on the wire is a plain varint, written as an int32; On=0 is
    // the proto3 default and is omitted, exactly like protobuf-java would
    new Writer(int32Size(h.sensorID) + int32Size(h.action))
      .int32(1, h.sensorID).int32(2, h.action).bytes
  }

  def decodeHeater(b: Array[Byte]): Option[HeaterControl] = decodeWith(b) { r =>
    var id = 0
    var action = 0
    while (r.hasMore) {
      val tag = r.readVarint()
      val (field, wire) = ((tag >>> 3).toInt, (tag & 7).toInt)
      if (field == 0) throw malformed // conforming parsers reject tag 0
      (field, wire) match {
        case (1, 0) => id = r.readVarint().toInt
        case (2, 0) => action = r.readVarint().toInt
        case _      => r.skip(wire)
      }
    }
    HeaterControl(id, action)
  }
}
