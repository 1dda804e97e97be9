package graft.ingest

import java.io.ByteArrayOutputStream

/** Minimal protobuf wire-format reader/writer (public encoding:
  * varint / fixed64 / length-delimited), enough for the Prometheus
  * remote-storage protos the reference speaks
  * (reference: codec.go:28-78 uses generated prompb marshal/unmarshal;
  * we hand-roll the same wire messages to stay dependency-free —
  * prompb field numbers are part of the public remote-storage spec).
  */
object ProtoWire {

  /** Thrown on truncated/corrupt input — the analogue of the
    * generated prompb Unmarshal failing cleanly on bad bytes. */
  final class WireFormatException(msg: String) extends IllegalArgumentException(msg)

  final class Reader(val buf: Array[Byte], var pos: Int, val end: Int) {
    def hasMore: Boolean = pos < end

    /** Every read validates against `end`, so a malformed length in an
      * untrusted body can never walk a sub-reader past its message
      * boundary into sibling bytes or off the buffer. `n > end - pos`
      * (not `pos + n > end`) so lengths near Int.MaxValue cannot
      * overflow the check into passing. */
    private def require(n: Int): Unit =
      if (n < 0 || n > end - pos)
        throw new WireFormatException(
          s"truncated message: need $n bytes at $pos, end $end")

    /** Length-delimited field length: the full 64-bit varint is
      * validated against the remaining bytes BEFORE narrowing to Int,
      * so a 64-bit length like 0x1_0000_0005 fails cleanly instead of
      * silently truncating to 5 and misreading the body. */
    private def readLen(): Int = {
      val len64 = readVarint()
      if (len64 < 0L || len64 > (end - pos).toLong)
        throw new WireFormatException(
          s"bad field length $len64 at $pos, end $end")
      len64.toInt
    }

    def readVarint(): Long = {
      var shift = 0
      var res = 0L
      while (shift < 64) {
        if (pos >= end) throw new WireFormatException(s"truncated varint at $pos, end $end")
        val b = buf(pos); pos += 1
        res |= (b & 0x7fL) << shift
        if ((b & 0x80) == 0) return res
        shift += 7
      }
      throw new WireFormatException("malformed varint")
    }

    /** Returns (fieldNumber, wireType). */
    def readTag(): (Int, Int) = {
      val t = readVarint().toInt
      (t >>> 3, t & 7)
    }

    def readFixed64(): Long = {
      require(8)
      var r = 0L
      var i = 0
      while (i < 8) { r |= (buf(pos + i) & 0xffL) << (8 * i); i += 1 }
      pos += 8
      r
    }

    def readDouble(): Double = java.lang.Double.longBitsToDouble(readFixed64())

    /** Sub-reader over a length-delimited field. */
    def readMessage(): Reader = {
      val len = readLen()
      val r = new Reader(buf, pos, pos + len)
      pos += len
      r
    }

    def readString(): String = {
      val len = readLen()
      val s = new String(buf, pos, len, "UTF-8")
      pos += len
      s
    }

    def readBytes(): Array[Byte] = {
      val len = readLen()
      val out = java.util.Arrays.copyOfRange(buf, pos, pos + len)
      pos += len
      out
    }

    def skip(wireType: Int): Unit = wireType match {
      case 0 => readVarint()
      case 1 => require(8); pos += 8
      case 2 =>
        // NOT `pos += readLen()`: Scala reads the left operand of +=
        // BEFORE evaluating the right, and readLen() itself advances
        // pos past the length varint — the compound form lands the
        // cursor short by the varint's width and misparses every
        // field after the skipped one
        val n = readLen(); pos += n
      case 5 => require(4); pos += 4
      case w => throw new WireFormatException(s"unsupported wire type $w")
    }
  }

  def reader(bytes: Array[Byte]): Reader = new Reader(bytes, 0, bytes.length)

  final class Writer {
    private val out = new ByteArrayOutputStream()

    def writeVarint(v: Long): Unit = {
      var x = v
      while ((x & ~0x7fL) != 0) {
        out.write(((x & 0x7f) | 0x80).toInt)
        x >>>= 7
      }
      out.write(x.toInt)
    }

    def writeTag(field: Int, wireType: Int): Unit = writeVarint((field << 3) | wireType)

    def writeVarintField(field: Int, v: Long): Unit = { writeTag(field, 0); writeVarint(v) }

    /** RAW bits, not doubleToLongBits: protobuf serializes the exact
      * 64-bit payload (Java protobuf's CodedOutputStream does the
      * same), and Prometheus's staleness marker IS a NaN payload
      * (0x7ff0000000000002) — canonicalizing NaNs here would turn a
      * stale marker into an ordinary NaN on the wire. */
    def writeDoubleField(field: Int, v: Double): Unit =
      writeFixed64Field(field, java.lang.Double.doubleToRawLongBits(v))

    /** Raw little-endian double, NO tag — the packed-repeated
      * element form (proto3 packed doubles are back-to-back fixed64
      * payloads inside one length-delimited field). */
    def writeDouble(v: Double): Unit = {
      var bits = java.lang.Double.doubleToRawLongBits(v)
      var i = 0
      while (i < 8) { out.write((bits & 0xff).toInt); bits >>>= 8; i += 1 }
    }

    def writeFixed64Field(field: Int, v: Long): Unit = {
      writeTag(field, 1)
      var bits = v
      var i = 0
      while (i < 8) { out.write((bits & 0xff).toInt); bits >>>= 8; i += 1 }
    }

    def writeBytesField(field: Int, bytes: Array[Byte]): Unit = {
      writeTag(field, 2)
      writeVarint(bytes.length.toLong)
      out.write(bytes, 0, bytes.length)
    }

    def writeStringField(field: Int, s: String): Unit =
      writeBytesField(field, s.getBytes("UTF-8"))

    def writeMessageField(field: Int, m: Writer): Unit = writeBytesField(field, m.toBytes)

    def toBytes: Array[Byte] = out.toByteArray
  }
}
