package graft

import graft.ingest.NativeHistogram.Hist
import graft.serve.{Gorilla, HistChunks}

/** chunkenc histogram chunk codec (varbit layout): primitive
  * round-trips across every bit bucket, format byte pins, and
  * GorillaSpec-style fuzz over both forms including layout changes,
  * counter resets, and NaN sums. */
class HistChunksSpec extends org.scalatest.funsuite.AnyFunSuite {

  // ---- varbit primitives ----

  private def rtInt(v: Long): Long = {
    val w = new Gorilla.BitWriter
    HistChunks.putVarbitInt(w, v)
    HistChunks.readVarbitInt(new Gorilla.BitReader(w.toBytes))
  }

  private def rtUint(v: Long): Long = {
    val w = new Gorilla.BitWriter
    HistChunks.putVarbitUint(w, v)
    HistChunks.readVarbitUint(new Gorilla.BitReader(w.toBytes))
  }

  test("varbit int round-trips every bucket boundary and beyond") {
    // the 9 buckets' edges: 0; ±3/4; ±31/32; ±255/256; ±2047/2048;
    // ±131071/131072; ±16777215/16777216; ±(2^55−1)/2^55; full 64
    val edges = Seq(0L, 1L, -1L, 3L, -3L, 4L, 5L, -4L,
      31L, -31L, 32L, 33L, -32L,
      255L, -255L, 256L, 257L, -256L,
      2047L, -2047L, 2048L, 2049L, -2048L,
      131071L, -131071L, 131072L, 131073L, -131072L,
      16777215L, -16777215L, 16777216L, 16777217L, -16777216L,
      (1L << 55) - 1, -((1L << 55) - 1), 1L << 55, (1L << 55) + 1,
      -(1L << 55), Long.MaxValue, Long.MinValue, 1704412800000L)
    edges.foreach(v => assert(rtInt(v) === v, s"varbit int $v"))
    val rnd = new scala.util.Random(7)
    (0 until 2000).foreach { _ =>
      val v = rnd.nextLong() >> rnd.nextInt(64)
      assert(rtInt(v) === v, s"varbit int fuzz $v")
    }
  }

  test("varbit uint round-trips every bucket boundary") {
    val edges = Seq(0L, 1L, 7L, 8L, 63L, 64L, 511L, 512L, 4095L, 4096L,
      262143L, 262144L, 33554431L, 33554432L,
      (1L << 56) - 1, 1L << 56, Long.MaxValue)
    edges.foreach(v => assert(rtUint(v) === v, s"varbit uint $v"))
  }

  test("varbit bit pins match chunkenc's bucketing") {
    // 0 is a single 0 bit; 4 is '10'+3 bits; -3 is '10'+0b101;
    // 5 spills to '110'+6 bits — the asymmetric signed windows
    def bits(f: Gorilla.BitWriter => Unit): String = {
      val w = new Gorilla.BitWriter
      f(w)
      w.writeBits(0x1L, 1) // terminator so trailing zeros are visible
      val b = w.toBytes
      val all = b.flatMap(x => (7 to 0 by -1).map(i => (x >> i) & 1)).mkString
      all.take(all.lastIndexOf('1'))
    }
    assert(bits(HistChunks.putVarbitInt(_, 0L)) === "0")
    assert(bits(HistChunks.putVarbitInt(_, 4L)) === "10" + "100")
    assert(bits(HistChunks.putVarbitInt(_, -3L)) === "10" + "101")
    assert(bits(HistChunks.putVarbitInt(_, 5L)) === "110" + "000101")
    assert(bits(HistChunks.putVarbitInt(_, -31L)) === "110" + "100001")
    assert(bits(HistChunks.putVarbitUint(_, 7L)) === "10" + "111")
    assert(bits(HistChunks.putVarbitUint(_, 8L)) === "110" + "001000")
  }

  test("zero threshold encodes 0 and powers of two in one byte") {
    def enc(th: Double): Array[Byte] = {
      val w = new Gorilla.BitWriter
      HistChunks.putZeroThreshold(w, th)
      w.toBytes
    }
    def dec(b: Array[Byte]): Double =
      HistChunks.readZeroThreshold(new Gorilla.BitReader(b))
    assert(enc(0.0).toSeq === Seq(0.toByte))
    // 2^-128 = 0.5·2^-127 → byte -127+243 = 116
    assert(enc(math.pow(2, -128)).toSeq === Seq(116.toByte))
    // 2^10 = 0.5·2^11 → byte 254; 2^-243 → byte 1
    assert(enc(1024.0).toSeq === Seq((-2).toByte)) // 254 as signed byte
    assert(enc(Math.scalb(1.0, -243)).toSeq === Seq(1.toByte))
    // non-power-of-two takes the 255 + raw-64 escape, 9 bytes
    assert(enc(0.001).length === 9 && (enc(0.001)(0) & 0xff) === 255)
    // 2^11 is out of the one-byte window → escape too
    assert((enc(2048.0)(0) & 0xff) === 255)
    for (th <- Seq(0.0, 0.001, 1024.0, 2048.0, math.pow(2, -128),
                   Math.scalb(1.0, -243), 1e-300, 3.5))
      assert(dec(enc(th)) === th, s"zero threshold $th")
  }

  // ---- chunk round-trips ----

  private def roundTrip(hists: Seq[Hist]): Seq[graft.ingest.PromRemoteCodec.PromChunk] = {
    val chunks = HistChunks.encodeChunks(hists)
    val back = chunks.flatMap(c => HistChunks.decodeChunk(c.data, c.ctype))
    assert(back.size === hists.size)
    back.zip(hists).foreach { case (b, h) =>
      // sums compare on raw bits so NaN payloads count; reset hints
      // reconstruct from the chunk HEADER (chunkenc's rule), not the
      // per-sample field — compared separately in the hint tests
      assert(java.lang.Double.doubleToRawLongBits(b.sum) ===
        java.lang.Double.doubleToRawLongBits(h.sum), s"sum of $h")
      assert(b.copy(sum = 0, resetHint = 0) === h.copy(sum = 0, resetHint = 0),
        s"round-trip of $h")
    }
    chunks.zip(chunks.drop(1)).foreach { case (a, b) =>
      assert(a.maxTimeMs <= b.minTimeMs, "chunks must stay time-ordered")
    }
    chunks
  }

  test("pins the all-zero one-sample chunk's exact bytes") {
    // count=1, header=Unknown, then zeroTh byte 0 + five 1-bit zeros
    // (schema, span counts, t, count, zeroCount) + 64 sum bits = 13
    // bytes total, only the count byte set
    val h = Hist(0L, 0.0, 0.0, 0, 0.0, 0.0, Nil, Nil, Nil, Nil, Nil, Nil)
    val c = HistChunks.encodeChunks(Seq(h)).head
    assert(c.ctype === HistChunks.TypeHistogram)
    assert(c.data.length === 13)
    assert(c.data.toSeq === (Seq(0, 1) ++ Seq.fill(11)(0)).map(_.toByte))
    assert(HistChunks.decodeChunk(c.data, c.ctype) === Seq(h))
  }

  test("integer-form fuzz: spans, deltas, dods, and window reuse") {
    val rnd = new scala.util.Random(42)
    (0 until 30).foreach { _ =>
      val nSpans = 1 + rnd.nextInt(3)
      val spans = (0 until nSpans).map(i =>
        (if (i == 0) rnd.nextInt(10) - 5 else 1 + rnd.nextInt(4),
         1 + rnd.nextInt(4)))
      val nBuckets = spans.map(_._2).sum
      val schema = rnd.nextInt(13) - 4
      val zeroTh = Seq(0.0, 0.001, math.pow(2, -128))(rnd.nextInt(3))
      var t = 1704412800000L
      var counts = Array.fill(nBuckets)(rnd.nextInt(100).toLong)
      val hists = (0 until (2 + rnd.nextInt(60))).map { _ =>
        t += 5000L + rnd.nextInt(20000)
        counts = counts.map(c => c + rnd.nextInt(50))
        // intra-sample delta form, like prompb's positive_deltas
        val deltas = counts.head +:
          (1 until nBuckets).map(i => counts(i) - counts(i - 1))
        val total = counts.sum + rnd.nextInt(10)
        Hist(t, total.toDouble, rnd.nextDouble() * 1000, schema, zeroTh,
          (total - counts.sum).toDouble, spans, deltas.toSeq, Nil,
          Nil, Nil, Nil)
      }
      roundTrip(hists)
    }
  }

  test("float-form fuzz: per-bucket XOR states round-trip") {
    val rnd = new scala.util.Random(43)
    (0 until 30).foreach { _ =>
      val spans = Seq((rnd.nextInt(5) - 2, 1 + rnd.nextInt(5)))
      val nBuckets = spans.map(_._2).sum
      var t = 1704412800000L
      var counts = Array.fill(nBuckets)(rnd.nextDouble() * 10)
      val hists = (0 until (2 + rnd.nextInt(60))).map { _ =>
        t += 15000L
        counts = counts.map(c => c + rnd.nextDouble() * 5)
        val total = counts.sum
        Hist(t, total, rnd.nextGaussian() * 100, 3, 0.0, 0.0,
          spans, Nil, counts.toSeq, Nil, Nil, Nil, floatForm = true)
      }
      roundTrip(hists)
    }
  }

  test("NaN sums, negative buckets, and specials round-trip on raw bits") {
    val spans = Seq((0, 2))
    val nan = java.lang.Double.longBitsToDouble(0x7ff8000000000099L)
    val hists = Seq(
      Hist(1000L, 5.0, nan, 2, 0.001, 0.0, spans, Seq(3L, 2L), Nil,
        Seq((1, 1)), Seq(4L), Nil),
      Hist(2000L, 7.0, Double.PositiveInfinity, 2, 0.001, 0.0, spans,
        Seq(4L, 3L), Nil, Seq((1, 1)), Seq(5L), Nil),
      Hist(3000L, 9.0, -0.0, 2, 0.001, 0.0, spans, Seq(5L, 4L), Nil,
        Seq((1, 1)), Seq(6L), Nil))
    roundTrip(hists)
  }

  test("counter reset cuts a chunk and stamps the header") {
    val spans = Seq((0, 1))
    def h(t: Long, cnt: Long) =
      Hist(t, cnt.toDouble, cnt * 1.5, 0, 0.0, 0.0, spans, Seq(cnt), Nil,
        Nil, Nil, Nil)
    val hists = Seq(h(1000, 5), h(2000, 9), h(3000, 2), h(4000, 4))
    val chunks = roundTrip(hists)
    assert(chunks.size === 2, "the count drop must cut a chunk")
    assert(HistChunks.counterResetHeader(chunks(0).data) ===
      HistChunks.UnknownCounterReset)
    assert(HistChunks.counterResetHeader(chunks(1).data) ===
      HistChunks.CounterReset)
  }

  test("layout changes (schema, threshold, spans) cut chunks") {
    def h(t: Long, schema: Int, zeroTh: Double, spans: Seq[(Int, Int)]) =
      Hist(t, t.toDouble, 1.0, schema, zeroTh, 0.0, spans,
        spans.map(_._2.toLong), Nil, Nil, Nil, Nil)
    // four samples, three layout changes → four chunks
    val hists = Seq(
      h(1000, 0, 0.0, Seq((0, 1))),
      h(2000, 1, 0.0, Seq((0, 1))),       // schema change
      h(3000, 1, 0.001, Seq((0, 1))),     // threshold change
      h(4000, 1, 0.001, Seq((0, 2)) ).copy(posDeltas = Seq(1L, 1L))) // spans
    val chunks = roundTrip(hists)
    assert(chunks.size === 4)
    chunks.foreach(c => assert(HistChunks.counterResetHeader(c.data) ===
      HistChunks.UnknownCounterReset))
  }

  test("mixed-form long series: splits at 120 and at form flips") {
    val rnd = new scala.util.Random(44)
    val spans = Seq((0, 3))
    var t = 0L
    val hists = (0 until 400).map { i =>
      t += 1000L
      val flt = (i / 150) % 2 == 1 // long runs so the 120 cap also hits
      if (flt)
        Hist(t, i + 3.0, i * 0.5, 1, 0.0, 0.0, spans, Nil,
          Seq(1.0 + i, 2.0, rnd.nextDouble()), Nil, Nil, Nil, floatForm = true)
      else
        Hist(t, i + 3.0, i * 0.5, 1, 0.0, 0.0, spans,
          Seq(1L + i, 1L, 1L), Nil, Nil, Nil, Nil)
    }
    val chunks = roundTrip(hists)
    assert(chunks.size >= 5)
    assert(chunks.forall(c => c.ctype == HistChunks.TypeHistogram ||
      c.ctype == HistChunks.TypeFloatHistogram))
    // every chunk respects the 120 cap
    chunks.foreach(c =>
      assert(HistChunks.decodeChunk(c.data, c.ctype).size <= 120))
  }

  test("gauge histograms: GaugeType header, no cut on count drops, hints restore") {
    val spans = Seq((0, 1))
    def g(t: Long, cnt: Long) =
      Hist(t, cnt.toDouble, cnt * 0.5, 0, 0.0, 0.0, spans, Seq(cnt), Nil,
        Nil, Nil, Nil, resetHint = 3)
    // gauge values go up AND down in one chunk — a count drop must
    // NOT cut (that's the whole point of the GAUGE hint)
    val hists = Seq(g(1000, 5), g(2000, 9), g(3000, 2), g(4000, 4))
    val chunks = HistChunks.encodeChunks(hists)
    assert(chunks.size === 1, "gauge count drops must not cut")
    assert(HistChunks.counterResetHeader(chunks.head.data) ===
      HistChunks.GaugeType)
    val back = HistChunks.decodeChunk(chunks.head.data, chunks.head.ctype)
    assert(back === hists, "gauge hints restore from the header on every sample")
    // gauge-ness is part of the layout: a counter sample cuts
    val mixed = HistChunks.encodeChunks(hists :+
      g(5000, 6).copy(resetHint = 0))
    assert(mixed.size === 2)
    assert(HistChunks.counterResetHeader(mixed(0).data) === HistChunks.GaugeType)
    assert(HistChunks.counterResetHeader(mixed(1).data) ===
      HistChunks.UnknownCounterReset)
  }

  test("an explicit reset_hint=YES cuts a CounterReset chunk; headers map to hints") {
    val spans = Seq((0, 1))
    def h(t: Long, cnt: Long, hint: Int = 0) =
      Hist(t, cnt.toDouble, 1.0, 0, 0.0, 0.0, spans, Seq(cnt), Nil,
        Nil, Nil, Nil, resetHint = hint)
    // the count RISES but the sender flagged a reset — the hint wins
    val hists = Seq(h(1000, 5), h(2000, 9), h(3000, 11, hint = 1), h(4000, 12))
    val chunks = HistChunks.encodeChunks(hists)
    assert(chunks.size === 2, "an explicit YES hint must cut")
    assert(HistChunks.counterResetHeader(chunks(1).data) ===
      HistChunks.CounterReset)
    // decode restores hints chunkenc-style: first sample carries the
    // header's verdict, later samples are NO by construction
    val back0 = HistChunks.decodeChunk(chunks(0).data, chunks(0).ctype)
    assert(back0.map(_.resetHint) === Seq(0, 2))
    val back1 = HistChunks.decodeChunk(chunks(1).data, chunks(1).ctype)
    assert(back1.map(_.resetHint) === Seq(1, 2))
    // the prompb wire itself round-trips the hint byte-faithfully
    val rt = graft.ingest.NativeHistogram.decode(graft.ingest.ProtoWire.reader(
      graft.ingest.NativeHistogram.encode(h(3000, 11, hint = 1))))
    assert(rt === h(3000, 11, hint = 1))
    val rtG = graft.ingest.NativeHistogram.decode(graft.ingest.ProtoWire.reader(
      graft.ingest.NativeHistogram.encode(h(1000, 5, hint = 3))))
    assert(rtG.resetHint === 3)
  }

  test("the 2nd sample's time delta is varbit UINT on the wire (chunkenc layout)") {
    // dt = 3000 sits in (2^11, 2^12-1]: uint uses the 12-bit branch,
    // signed would spill to 18 bits — pin the wire form by reading
    // the bitstream manually up to the 2nd sample's delta
    val spans = Seq((1, 1))
    def h(t: Long) = Hist(t, 1.0, 0.0, 0, 0.0, 0.0, spans, Seq(1L), Nil,
      Nil, Nil, Nil)
    val c = HistChunks.encodeChunks(Seq(h(0L), h(3000L))).head
    val r = new Gorilla.BitReader(c.data)
    r.readBits(24)                       // count + header byte
    HistChunks.readZeroThreshold(r)      // layout: zero threshold
    HistChunks.readVarbitInt(r)          // schema
    // pos spans: count=1, span (len 1, off 1); neg spans: count=0
    assert(HistChunks.readVarbitUint(r) === 1L)
    assert(HistChunks.readVarbitUint(r) === 1L)
    assert(HistChunks.readVarbitInt(r) === 1L)
    assert(HistChunks.readVarbitUint(r) === 0L)
    // sample 1: t, count, zeroCount, sum, one bucket delta
    assert(HistChunks.readVarbitInt(r) === 0L)
    assert(HistChunks.readVarbitUint(r) === 1L)
    assert(HistChunks.readVarbitUint(r) === 0L)
    r.readBits(64)
    assert(HistChunks.readVarbitInt(r) === 1L)
    // sample 2's time delta decodes as UNSIGNED varbit
    assert(HistChunks.readVarbitUint(r) === 3000L)
    // and the full decode agrees
    assert(HistChunks.decodeChunk(c.data, c.ctype).map(_.timestampMs) ===
      Seq(0L, 3000L))
  }

  test("a bucket dropping cuts a CounterReset chunk even when the total rises") {
    val spans = Seq((0, 2))
    // buckets [10,5] (count 15) → [16,0] (count 16): total rose but
    // bucket 2 lost mass — chunkenc's appendable() calls it a reset
    def h(t: Long, b1: Long, b2: Long) =
      Hist(t, (b1 + b2).toDouble, 1.0, 0, 0.0, 0.0, spans,
        Seq(b1, b2 - b1), Nil, Nil, Nil, Nil)
    val chunks = HistChunks.encodeChunks(Seq(h(1000, 10, 5), h(2000, 16, 0)))
    assert(chunks.size === 2, "the bucket drop must cut")
    assert(HistChunks.counterResetHeader(chunks(1).data) ===
      HistChunks.CounterReset)
    // a gauge pair with the same shape does NOT cut
    val gauges = Seq(h(1000, 10, 5).copy(resetHint = 3),
      h(2000, 16, 0).copy(resetHint = 3))
    assert(HistChunks.encodeChunks(gauges).size === 1)
  }

  test("a malformed stored histogram is skipped, never a read-path failure") {
    val good = Hist(1000L, 3.0, 1.0, 0, 0.0, 0.0, Seq((0, 1)), Seq(3L), Nil,
      Nil, Nil, Nil)
    // span length 2 but ONE bucket value — the sender's malformed
    // message; ingest gates it (spansConsistent) and a legacy stored
    // row must not poison the series' chunks
    val bad = Hist(2000L, 3.0, 1.0, 0, 0.0, 0.0, Seq((0, 2)), Seq(3L), Nil,
      Nil, Nil, Nil)
    assert(!graft.ingest.NativeHistogram.spansConsistent(bad))
    assert(graft.ingest.NativeHistogram.spansConsistent(good))
    val chunks = HistChunks.encodeChunks(Seq(good, bad, good.copy(timestampMs = 3000L)))
    assert(chunks.flatMap(c => HistChunks.decodeChunk(c.data, c.ctype))
      .map(_.timestampMs) === Seq(1000L, 3000L))
    // and the header accessor rejects a truncated body with the
    // codec's typed error, like decodeChunk
    intercept[graft.ingest.ProtoWire.WireFormatException] {
      HistChunks.counterResetHeader(Array[Byte](0, 1))
    }
  }

  test("schema 127 writes an empty custom-values section that decodes") {
    val h = Hist(1000L, 2.0, 3.0, 127, 0.0, 0.0, Seq((0, 1)), Seq(2L), Nil,
      Nil, Nil, Nil)
    val c = HistChunks.encodeChunks(Seq(h)).head
    assert(HistChunks.decodeChunk(c.data, c.ctype) === Seq(h))
  }

  test("NHCB custom bounds round-trip through the chunk's custom-values section") {
    // half-integer bounds ride the compact varbit form; the awkward
    // one (0.3 — not a half-integer) falls to raw float bits
    val cv = Seq(0.25, 0.3, 1.0, 2.5, 10.0, 33554432.5)
    val h0 = Hist(1000L, 6.0, 9.0, 127, 0.0, 0.0, Seq((0, 3)),
      Seq(1L, 2L, 0L), Nil, Nil, Nil, Nil, customValues = cv)
    val h1 = h0.copy(timestampMs = 2000L, count = 9.0, sum = 14.0,
      posDeltas = Seq(2L, 2L, 1L))
    val chunks = HistChunks.encodeChunks(Seq(h0, h1))
    assert(chunks.size === 1, "same bounds, same layout: one chunk")
    assert(HistChunks.decodeChunk(chunks.head.data, chunks.head.ctype)
      === Seq(h0, h1.copy(resetHint = 2)))
    // float form too (rate-derived NHCB histograms are float)
    val f0 = Hist(1000L, 3.0, 4.5, 127, 0.0, 0.0, Seq((0, 2)), Nil,
      Seq(1.0, 2.0), Nil, Nil, Nil, floatForm = true, customValues = cv)
    val fc = HistChunks.encodeChunks(Seq(f0)).head
    assert(HistChunks.decodeChunk(fc.data, fc.ctype) === Seq(f0))
    // CHANGED bounds are a layout change: the chunk cuts
    val h2 = h1.copy(timestampMs = 3000L,
      customValues = cv.updated(1, 0.4))
    assert(HistChunks.encodeChunks(Seq(h0, h2)).size === 2)
  }
}
