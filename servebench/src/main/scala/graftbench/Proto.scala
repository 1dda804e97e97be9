package graftbench

import java.io.ByteArrayOutputStream

import org.xerial.snappy.Snappy

/** The client side of the Prometheus remote protocols, written apart
  * from graft's own codec so that a codec bug cannot hide itself:
  * bodies are encoded here, and every response is decoded here.
  *
  * Messages (prompb):
  *   WriteRequest {1: TimeSeries*}
  *   TimeSeries   {1: Label*, 2: Sample*}
  *   Label        {1: name, 2: value}
  *   Sample       {1: double value, 2: int64 timestamp_ms}
  *   ReadRequest  {1: Query*, 2: accepted_response_types (packed)}
  *   Query        {1: start_ms, 2: end_ms, 3: LabelMatcher*}
  *   LabelMatcher {1: type (0 EQ, 2 RE), 2: name, 3: value}
  *   ReadResponse {1: QueryResult {1: TimeSeries*}*}
  *   ChunkedReadResponse {1: ChunkedSeries {1: Label*, 2: Chunk*}*, 2: query_index}
  *   Chunk        {1: min_ms, 2: max_ms, 3: encoding, 4: data}
  */
object Proto {

  final case class Series(labels: Map[String, String], samples: Vector[(Long, Double)])

  // ---- writing ------------------------------------------------------

  final class Writer {
    private val out = new ByteArrayOutputStream()
    def varint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0L) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      out.write(v.toInt)
    }
    def tag(field: Int, wire: Int): Unit = varint((field.toLong << 3) | wire)
    def varintField(field: Int, v: Long): Unit = { tag(field, 0); varint(v) }
    def doubleField(field: Int, d: Double): Unit = {
      tag(field, 1)
      val b = java.lang.Double.doubleToRawLongBits(d)
      var i = 0
      while (i < 8) { out.write(((b >>> (8 * i)) & 0xff).toInt); i += 1 }
    }
    def bytesField(field: Int, b: Array[Byte]): Unit = {
      tag(field, 2); varint(b.length.toLong); out.write(b, 0, b.length)
    }
    def stringField(field: Int, s: String): Unit =
      bytesField(field, s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    def bytes: Array[Byte] = out.toByteArray
  }

  private def labelsMsg(w: Writer, field: Int, labels: Seq[(String, String)]): Unit =
    labels.sortBy(_._1).foreach { case (k, v) =>
      val lw = new Writer; lw.stringField(1, k); lw.stringField(2, v)
      w.bytesField(field, lw.bytes)
    }

  /** Snappy-compressed PRW 1.0 WriteRequest. */
  def writeRequest(series: Seq[Series]): Array[Byte] = {
    val w = new Writer
    series.foreach { s =>
      val tw = new Writer
      labelsMsg(tw, 1, s.labels.toSeq)
      s.samples.foreach { case (ms, v) =>
        val sw = new Writer; sw.doubleField(1, v); sw.varintField(2, ms)
        tw.bytesField(2, sw.bytes)
      }
      w.bytesField(1, tw.bytes)
    }
    Snappy.compress(w.bytes)
  }

  /** Snappy-compressed ReadRequest with one query of equality
    * matchers; `chunked` asks for STREAMED_XOR_CHUNKS only. */
  def readRequest(startMs: Long, endMs: Long, eq: Seq[(String, String)],
                  chunked: Boolean): Array[Byte] = {
    val q = new Writer
    q.varintField(1, startMs); q.varintField(2, endMs)
    eq.foreach { case (k, v) =>
      val m = new Writer; m.varintField(1, 0); m.stringField(2, k); m.stringField(3, v)
      q.bytesField(3, m.bytes)
    }
    val w = new Writer
    w.bytesField(1, q.bytes)
    val types = new Writer; types.varint(if (chunked) 1 else 0)
    w.bytesField(2, types.bytes)
    Snappy.compress(w.bytes)
  }

  // ---- reading ------------------------------------------------------

  final class Reader(buf: Array[Byte], private var pos: Int, end: Int) {
    def this(buf: Array[Byte]) = this(buf, 0, buf.length)
    def hasMore: Boolean = pos < end
    def varint(): Long = {
      var shift = 0; var r = 0L; var b = 0
      while ({ b = buf(pos) & 0xff; pos += 1; r |= (b & 0x7fL) << shift; shift += 7; (b & 0x80) != 0 }) ()
      r
    }
    def tag(): (Int, Int) = { val t = varint(); ((t >>> 3).toInt, (t & 7).toInt) }
    def fixed64(): Long = {
      var r = 0L; var i = 0
      while (i < 8) { r |= (buf(pos + i) & 0xffL) << (8 * i); i += 1 }
      pos += 8; r
    }
    def message(): Reader = { val n = varint().toInt; val r = new Reader(buf, pos, pos + n); pos += n; r }
    def bytes(): Array[Byte] = { val n = varint().toInt; val b = java.util.Arrays.copyOfRange(buf, pos, pos + n); pos += n; b }
    def string(): String = new String(bytes(), java.nio.charset.StandardCharsets.UTF_8)
    def skip(wire: Int): Unit = wire match {
      case 0 => varint(); ()
      case 1 => pos += 8
      case 2 => pos += varint().toInt
      case 5 => pos += 4
      case w => throw new IllegalStateException(s"unsupported wire type $w")
    }
  }

  private def label(r: Reader): (String, String) = {
    var k = ""; var v = ""
    while (r.hasMore) r.tag() match {
      case (1, 2) => k = r.string()
      case (2, 2) => v = r.string()
      case (_, w) => r.skip(w)
    }
    (k, v)
  }

  /** ReadResponse → series of the FIRST query result. */
  def readResponse(snappyBody: Array[Byte]): Vector[Series] = {
    val r = new Reader(Snappy.uncompress(snappyBody))
    val results = Vector.newBuilder[Vector[Series]]
    while (r.hasMore) r.tag() match {
      case (1, 2) =>
        val qr = r.message(); val ss = Vector.newBuilder[Series]
        while (qr.hasMore) qr.tag() match {
          case (1, 2) =>
            val t = qr.message(); val ls = Map.newBuilder[String, String]
            val smp = Vector.newBuilder[(Long, Double)]
            while (t.hasMore) t.tag() match {
              case (1, 2) => ls += label(t.message())
              case (2, 2) =>
                val s = t.message(); var v = 0.0; var ms = 0L
                while (s.hasMore) s.tag() match {
                  case (1, 1) => v = java.lang.Double.longBitsToDouble(s.fixed64())
                  case (2, 0) => ms = s.varint()
                  case (_, w) => s.skip(w)
                }
                smp += ((ms, v))
              case (_, w) => t.skip(w)
            }
            ss += Series(ls.result(), smp.result())
          case (_, w) => qr.skip(w)
        }
        results += ss.result()
      case (_, w) => r.skip(w)
    }
    results.result().headOption.getOrElse(Vector.empty)
  }

  /** Streamed ChunkedReadResponse frames (uvarint length, CRC32C,
    * message) → series, chunks decoded and merged per label set. */
  def chunkedResponse(body: Array[Byte]): Vector[Series] = {
    val merged = scala.collection.mutable.LinkedHashMap.empty[Map[String, String], Vector[(Long, Double)]]
    var pos = 0
    while (pos < body.length) {
      val hdr = new Reader(body, pos, body.length)
      val len = hdr.varint().toInt
      val lenBytes = { var n = 1; var x = len.toLong >>> 7; while (x != 0) { n += 1; x >>>= 7 }; n }
      val msgStart = pos + lenBytes + 4
      val crc = new java.util.zip.CRC32C
      crc.update(body, msgStart, len)
      val want = ((body(pos + lenBytes) & 0xffL) << 24) | ((body(pos + lenBytes + 1) & 0xffL) << 16) |
        ((body(pos + lenBytes + 2) & 0xffL) << 8) | (body(pos + lenBytes + 3) & 0xffL)
      if (crc.getValue != want) throw new IllegalStateException("chunked frame CRC mismatch")
      val r = new Reader(body, msgStart, msgStart + len)
      while (r.hasMore) r.tag() match {
        case (1, 2) =>
          val s = r.message(); val ls = Map.newBuilder[String, String]
          val smp = Vector.newBuilder[(Long, Double)]
          while (s.hasMore) s.tag() match {
            case (1, 2) => ls += label(s.message())
            case (2, 2) =>
              val c = s.message(); var enc = 0L; var data = Array.emptyByteArray
              while (c.hasMore) c.tag() match {
                case (3, 0) => enc = c.varint()
                case (4, 2) => data = c.bytes()
                case (_, w) => c.skip(w)
              }
              if (enc != 1) throw new IllegalStateException(s"unexpected chunk encoding $enc")
              smp ++= xorDecode(data)
            case (_, w) => s.skip(w)
          }
          val key = ls.result()
          merged.update(key, merged.getOrElse(key, Vector.empty) ++ smp.result())
        case (_, w) => r.skip(w)
      }
      pos = msgStart + len
    }
    merged.iterator.map { case (k, v) => Series(k, v) }.toVector
  }

  /** Prometheus chunkenc XOR chunk: 16-bit sample count, first
    * (zigzag varint ms, raw 64-bit value), then delta-of-delta
    * timestamps and XOR-compressed values, bit-packed MSB first. */
  def xorDecode(data: Array[Byte]): Vector[(Long, Double)] = {
    var bit = 16L
    def readBit(): Int = {
      val b = (data((bit >>> 3).toInt) >>> (7 - (bit & 7).toInt)) & 1
      bit += 1; b
    }
    def readBits(n: Int): Long = { var r = 0L; var i = 0; while (i < n) { r = (r << 1) | readBit(); i += 1 }; r }
    def readByte(): Int = readBits(8).toInt
    def uvarint(): Long = {
      var shift = 0; var r = 0L; var b = 0
      while ({ b = readByte(); r |= (b & 0x7fL) << shift; shift += 7; (b & 0x80) != 0 }) ()
      r
    }
    def signed(bits: Long, n: Int): Long = if (bits > (1L << (n - 1))) bits - (1L << n) else bits
    val count = ((data(0) & 0xff) << 8) | (data(1) & 0xff)
    val out = Vector.newBuilder[(Long, Double)]
    var t = 0L; var delta = 0L; var v = 0L; var leading = 0; var trailing = 0
    var i = 0
    while (i < count) {
      if (i == 0) {
        val z = uvarint(); t = (z >>> 1) ^ -(z & 1)
        v = readBits(64)
      } else {
        if (i == 1) delta = uvarint()
        else {
          var ones = 0
          while (ones < 4 && readBit() == 1) ones += 1
          delta += (ones match {
            case 0 => 0L
            case 1 => signed(readBits(14), 14)
            case 2 => signed(readBits(17), 17)
            case 3 => signed(readBits(20), 20)
            case _ => readBits(64)
          })
        }
        t += delta
        if (readBit() == 1) {
          if (readBit() == 1) {
            leading = readBits(5).toInt
            val sig = readBits(6).toInt match { case 0 => 64; case n => n }
            trailing = 64 - leading - sig
          }
          v ^= readBits(64 - leading - trailing) << trailing
        }
      }
      out += ((t, java.lang.Double.longBitsToDouble(v)))
      i += 1
    }
    out.result()
  }
}
