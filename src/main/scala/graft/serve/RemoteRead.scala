package graft.serve

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.OpsMetrics
import graft.ingest.{PromRemoteCodec, RollupStore}
import graft.ingest.PromRemoteCodec.{PromLabel, PromSample, PromTimeSeries}
import graft.operators.SeriesRead

/** The end-to-end remote-read serving loop — the reference's whole
  * `/read` contract in one function, [[serveWith]], behind both
  * response types (reference: main.go:55-74 +
  * main.go:145-155, internal/clickhouse/read.go:15-103): ReadRequest
  * blob in → matcher compile → distributed query → ReadResponse blob
  * out, one QueryResult per request query, in request order.
  *
  * Execution is fully distributed (SeriesRead's single-shuffle
  * select+assemble, computed EXACTLY ONCE per query); the assembled
  * series stream to the driver partition-by-partition via
  * toLocalIterator, with the response-size guard enforced DURING the
  * stream — driver memory is bounded by maxSamples plus one partition,
  * and an over-limit query aborts without ever materializing the full
  * result anywhere (the reference's handler is implicitly bounded by
  * streaming one ClickHouse resultset; at 100 TB an unbounded collect
  * or a cluster-wide cache of a match-everything query is the failure
  * mode this shape avoids). The request side is bounded by the 32 MiB
  * decode limit (PromRemoteCodec.DecodeReadLimit).
  */
object RemoteRead {

  /** Default cap on post-aggregation samples a single read query may
    * return. Bounds the RESPONSE: without it, a match-everything query
    * would stream the whole store's assembled series into driver
    * memory before encoding. 10M samples ≈ a few hundred MB encoded,
    * comfortably under driver heap. */
  val DefaultMaxReadSamples: Long = 10000000L

  /** Backoff between transient-miss retries — the retry re-resolves
    * the store's latest snapshot, so one short sleep normally lets a
    * concurrent commit settle. */
  val TransientBackoffMs: Long = 150L

  /** Thrown when a query would return more than maxSamples — the HTTP
    * shim maps it to the reference's 500 path. */
  final class ResponseTooLargeException(msg: String) extends RuntimeException(msg)

  /** The split-routing plan: the keyed select for a query the rollup
    * ladder can serve, or None to route the whole query raw. Routing
    * is per query and gated twice: the SHAPE gate (the effective
    * downsample interval is a multiple of the level's, so complete
    * query buckets are exact unions of full rollup buckets) and the
    * FRESHNESS gate ([[graft.ingest.RollupStore.Ladder.servableLevels]]
    * — every overlapping source day's digest is current, so a write
    * that hasn't been rolled up yet routes the query back to raw
    * samples; staleness is impossible by construction, not by
    * timing). The coarsest servable level serves.
    *
    * Time bounds need NOT be bucket-aligned: the real dashboard
    * window ("last 7 days", now-anchored) almost never is, and
    * requiring alignment made the rollup useless for exactly the
    * long-range queries it exists for. An unaligned query splits at
    * its first/last interior query-bucket boundary — the interior
    * (complete buckets) serves from rollup rows, the two partial
    * edge buckets compute from raw samples, and the union is exactly
    * the raw answer (a recording rule's interior + raw-edge shape).
    * The edges scan at most one query interval of raw data each, so
    * the raw cost is bounded by the window's EDGE, not its length. */
  private[graft] def rollupSelect(r: RollupStore.Ladder,
                                  q: graft.operators.ReadQuery,
                                  samples: DataFrame,
                                  ignoreLabel: Option[String] = Some("remote=clickhouse"),
                                  ignoreHints: Boolean = false): Option[DataFrame] = {
    import graft.operators.Downsample
    val qI = Downsample.hintIntervalSec(q.stepMs, q.rangeMs, ignoreHints)
    val startSec = q.startMs / 1000
    // end is inclusive ms on the wire; endExcl is the first second
    // PAST the window (None = unbounded)
    val endExcl = if (q.endMs > 0) Some(q.endMs / 1000 + 1) else None
    if (qI <= 0) return None
    val lo = (startSec + qI - 1) / qI * qI     // first complete-bucket start
    val hi = endExcl.map(_ / qI * qI)          // first second past the last complete bucket
    if (!hi.forall(_ > lo)) return None        // no complete bucket inside
    val hiSec = hi.map(_ - 1).getOrElse(0L)
    r.servableLevels(samples.sparkSession, lo, hiSec)(qI % _.intervalSec == 0)
      .nextOption().map { route =>
        val interiorQ = q.copy(startMs = lo * 1000L,
          endMs = hi.map(_ * 1000L - 1).getOrElse(0L))
        var sel = RollupStore.selectKeyed(
          RollupStore.read(samples.sparkSession, route.rollupPath), interiorQ,
          qI, route.intervalSec, ignoreLabel)
        // leading partial bucket [start, lo) and trailing [hi, end] —
        // raw scans bounded by one query interval each, bucketed by
        // the same qI so their t_sec values are exactly the partial
        // buckets the interior cannot produce
        if (startSec < lo)
          sel = sel.unionByName(SeriesRead.selectKeyed(
            samples, q.copy(endMs = lo * 1000L - 1), ignoreLabel, ignoreHints))
        for (h <- hi if endExcl.get > h)
          sel = sel.unionByName(SeriesRead.selectKeyed(
            samples, q.copy(startMs = h * 1000L), ignoreLabel, ignoreHints))
        sel
      }
  }

  /** True when the failure (anywhere in the cause chain) is a missing
    * path/file — the signature of scanning a snapshot whose superseded
    * files were reclaimed between planning and scan (GC by another
    * process, which this JVM's visibility lock cannot exclude). */
  private[graft] def isTransientMiss(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8).exists { c =>
      c.isInstanceOf[java.io.FileNotFoundException] ||
        Option(c.getMessage).exists(m =>
          m.contains("does not exist") || m.contains("PATH_NOT_FOUND"))
    }

  /** A remote-read response type's encoder: each request query's
    * gathered series, in request order, become the response body. */
  private[serve] type Encoder = Iterator[Seq[PromTimeSeries]] => Array[Byte]

  /** ReadRequest blob → snappy ReadResponse blob (the SAMPLES response
    * type, remote-read's protocol default) over the canonical samples
    * DataFrame: one QueryResult per request query, each series carrying
    * its float samples (stale markers merged in) and its native
    * histograms (prompb TimeSeries field 4). ignoreLabel/ignoreHints
    * mirror the reference's -read.ignore-label / -read.ignore-hints
    * flags. An over-limit query errors like the reference's HTTP-500
    * path and increments read_errors.
    *
    * `samples` is by-name and re-evaluated on each retry: a transient
    * miss (per `transientClassifier`: a planned file GC'd mid-scan)
    * retries up to `transientRetries` times with a fresh store
    * resolution — the first attempt's DataFrame plans a stale
    * snapshot's files, so re-running it could never succeed. Counters
    * fire once per request regardless of attempts (read_requests on
    * the first resolution, read_errors only when the request
    * ultimately fails). */
  def serve(samples: => DataFrame, readRequestBlob: Array[Byte],
            ignoreLabel: Option[String] = Some("remote=clickhouse"),
            ignoreHints: Boolean = false,
            maxSamples: Long = DefaultMaxReadSamples,
            transientRetries: Int = 0,
            transientClassifier: Throwable => Boolean = isTransientMiss,
            rollupRoute: Option[RollupStore.Ladder] = None,
            histStore: Option[DataFrame] = None,
            staleStore: Option[DataFrame] = None): Array[Byte] =
    serveWith(samplesEncoder)(samples, readRequestBlob, ignoreLabel,
      ignoreHints, maxSamples, transientRetries, transientClassifier,
      rollupRoute, histStore, staleStore)

  /** Prometheus's streamed remote read caps each frame at ~1 MiB
    * (storage/remote maxBytesInFrame) — a year-long series must
    * never materialize one giant message; consecutive frames repeat
    * the series labels and the client merges them. */
  val DefaultMaxFrameBytes: Int = 1 << 20

  /** STREAMED_XOR_CHUNKS serving (remote-read response type 1): the
    * SAME query loop, budget and retry as [[serve]], answered as
    * framed ChunkedReadResponse messages — one frame per series (split
    * at `maxFrameBytes`), so a huge range read streams in bounded
    * pieces instead of one whole-response allocation (the protocol's
    * purpose; Prometheus itself requests this type when the server
    * advertises it), with each series' samples Gorilla-XOR-compressed
    * (~1.37 bytes/sample typical vs 16 raw). Returns the concatenated
    * frames; the HTTP shim sends them under
    * `application/x-streamed-protobuf; proto=prometheus.ChunkedReadResponse`,
    * NOT snappy-wrapped (the framing replaces body compression).
    *
    * Native-histogram series from the `_hist` sibling (`histStore`)
    * stream as HISTOGRAM / FLOAT_HISTOGRAM chunks (HistChunks documents
    * the body layout and its remaining deviations), while their classic
    * `_bucket`/`_sum`/`_count` expansion in the MAIN store keeps serving
    * the float surface under its own names. Series stream in one
    * (metric, labels)-sorted order per query, and a series carrying both
    * encodings interleaves its XOR and histogram chunks by start time
    * under one label set — the sorted, contiguous, time-ordered stream
    * Prometheus's client merge expects. */
  def serveChunked(samples: => DataFrame, readRequestBlob: Array[Byte],
                   ignoreLabel: Option[String] = Some("remote=clickhouse"),
                   ignoreHints: Boolean = false,
                   maxSamples: Long = DefaultMaxReadSamples,
                   transientRetries: Int = 0,
                   transientClassifier: Throwable => Boolean = isTransientMiss,
                   rollupRoute: Option[RollupStore.Ladder] = None,
                   histStore: Option[DataFrame] = None,
                   staleStore: Option[DataFrame] = None,
                   maxFrameBytes: Int = DefaultMaxFrameBytes): Array[Byte] =
    serveWith(chunksEncoder(maxFrameBytes))(samples, readRequestBlob,
      ignoreLabel, ignoreHints, maxSamples, transientRetries,
      transientClassifier, rollupRoute, histStore, staleStore)

  /** The one remote-read loop behind both response types: decode the
    * request, [[gather]] each query, and hand the results to `encode`
    * — retried whole on a transient miss, counted once per request. */
  private[serve] def serveWith(encode: Encoder)(
      samples: => DataFrame, readRequestBlob: Array[Byte],
      ignoreLabel: Option[String], ignoreHints: Boolean, maxSamples: Long,
      transientRetries: Int, transientClassifier: Throwable => Boolean,
      rollupRoute: Option[RollupStore.Ladder], histStore: Option[DataFrame],
      staleStore: Option[DataFrame]): Array[Byte] = {
    var m: OpsMetrics = null
    var queries: Seq[graft.operators.ReadQuery] = null
    def attempt(): Array[Byte] = {
      val df = samples // re-resolves the store's snapshot each try
      if (m == null) { m = OpsMetrics(df.sparkSession); m.readRequests.add(1) }
      if (queries == null) queries = PromRemoteCodec.decodeReadRequest(readRequestBlob)
      encode(queries.iterator.map(q => gather(df, q, ignoreLabel, ignoreHints,
        maxSamples, rollupRoute, histStore, staleStore)))
    }
    try {
      var left = transientRetries + 1
      var out: Array[Byte] = null
      while (out == null) {
        try out = attempt()
        catch {
          case e: Throwable if left > 1 && transientClassifier(e) =>
            left -= 1
            Thread.sleep(TransientBackoffMs)
        }
      }
      out
    } catch {
      case e: Throwable => if (m != null) m.readErrors.add(1); throw e
    }
  }

  /** The SAMPLES response type: one snappy ReadResponse. */
  private[serve] val samplesEncoder: Encoder =
    results => PromRemoteCodec.encodeReadResponseResults(results.toSeq)

  /** The STREAMED_XOR_CHUNKS response type: per series, its float
    * samples as Gorilla-XOR chunks and its histograms as histogram
    * chunks, interleaved by start time (stable: XOR before histogram
    * on an exact tie), split into ≤maxFrameBytes frames that each
    * repeat the series labels (Prometheus's own streamer) — split
    * frames stay contiguous, so sortedness survives. Each query's
    * frames are written before the next query is gathered. */
  private[serve] def chunksEncoder(maxFrameBytes: Int): Encoder = { results =>
    val out = new java.io.ByteArrayOutputStream()
    results.zipWithIndex.foreach { case (series, qi) =>
      series.foreach { ts =>
        val labels = ts.labels
        val xor = Gorilla.encodeChunks(ts.samples.map(_.timestampMs).toArray,
          ts.samples.map(_.value).toArray).map { case (mn, mx, d) =>
          PromRemoteCodec.PromChunk(mn, mx, d)
        }
        val chunks =
          if (ts.histograms.isEmpty) xor
          else (xor ++ HistChunks.encodeChunks(ts.histograms)).sortBy(_.minTimeMs)
        // EVERY frame re-encodes the series label set, so the budget
        // starts from the labels' encoded size — a series with a large
        // label set must not overshoot the target by exactly that
        // many bytes per frame
        val labelBytes = labels.map { l =>
          // tag+len for the Label message, tag+len per string
          l.name.getBytes(java.nio.charset.StandardCharsets.UTF_8).length +
            l.value.getBytes(java.nio.charset.StandardCharsets.UTF_8).length + 8
        }.sum + 16
        var batch = Vector.empty[PromRemoteCodec.PromChunk]
        var batchBytes = labelBytes
        def emit(): Unit = if (batch.nonEmpty) {
          val msg = PromRemoteCodec.encodeChunkedReadResponse(
            Seq(PromRemoteCodec.PromChunkedSeries(labels, batch)), qi.toLong)
          val frame = PromRemoteCodec.chunkedFrame(msg)
          out.write(frame, 0, frame.length)
          batch = Vector.empty
          batchBytes = labelBytes
        }
        chunks.foreach { c =>
          // ~24 B of per-chunk framing (bounds, type, tags)
          val sz = c.data.length + 24
          if (batch.nonEmpty && batchBytes + sz > maxFrameBytes) emit()
          batch :+= c
          batchBytes += sz
        }
        emit()
      }
    }
    out.toByteArray
  }

  /** One query's answer, shared by both response types: every matched
    * series in the reference's ORDER BY (metric_name, labels), with its
    * float samples, its staleness markers and its native histograms.
    * The three legs share ONE maxSamples budget — the stale and
    * histogram legs spend what the legs before them left — so the
    * limit bounds the WHOLE response, not a per-leg allowance that
    * could compound to ~3x the nominal limit.
    *
    * Staleness markers pass through VERBATIM (the querier-side
    * contract: the receiving engine interprets them): each becomes a
    * sample with the EXACT StaleNaN payload at its second, in time
    * order, and a second already carrying a float sample keeps the
    * sample (the read model is one value per series-second); a
    * marker-only series answers as its own series. Gorilla is
    * bit-level, so the payload rides an XOR chunk like any other
    * value. A series carrying both float samples and native
    * histograms folds into ONE series, Prometheus's own response
    * shape. */
  private def gather(samples: DataFrame, q: graft.operators.ReadQuery,
                     ignoreLabel: Option[String], ignoreHints: Boolean,
                     maxSamples: Long, rollupRoute: Option[RollupStore.Ladder],
                     histStore: Option[DataFrame],
                     staleStore: Option[DataFrame]): Seq[PromTimeSeries] = {
    val series = scala.collection.mutable.HashMap
      .empty[(String, Seq[String]), PromTimeSeries]
    def at(key: (String, Seq[String])) =
      series.getOrElse(key, PromTimeSeries(promLabelsOf(key._1, key._2), Nil))
    def left = maxSamples - series.valuesIterator.map(_.samples.size.toLong).sum
    series ++= runQuery(samples, q, ignoreLabel, ignoreHints, maxSamples, rollupRoute)
    staleStore.foreach { ss =>
      val staleV = PromRemoteCodec.staleNaN
      runStaleQuery(ss, q, ignoreLabel, left).foreach { case (key, secs) =>
        val cur = at(key)
        val occupied = cur.samples.map(_.timestampMs / 1000L).toSet
        val marks = secs.filterNot(occupied).map(s => PromSample(staleV, s * 1000L))
        if (marks.nonEmpty)
          series.update(key, cur.copy(samples = (cur.samples ++ marks).sortBy(_.timestampMs)))
      }
    }
    histStore.foreach { hs =>
      runHistQuery(hs, q, ignoreLabel, left).foreach { case (key, hists) =>
        series.update(key, at(key).copy(histograms = hists))
      }
    }
    series.toSeq.sortBy(_._1)(SeriesKeyOrdering).map(_._2)
  }

  /** Split a stored "k=v" label list into prompb labels with the
    * metric name first — the shape every response leg emits. */
  private def promLabelsOf(metric: String,
                           labels: Seq[String]): Seq[PromLabel] =
    PromLabel("__name__", metric) +: labels.map { l =>
      val c = l.indexOf('=')
      PromLabel(l.take(c), l.drop(c + 1))
    }

  /** One query against the stale-marker sibling: the remote-read
    * matcher surface (Matchers.compile) + pushed time bounds, per-
    * second-distinct marker stamps per series — tiny by nature (one
    * row per series death) but NOT unbounded: a flapping fleet
    * accumulates one marker per series death, so the driver stream
    * rides the same maxSamples guard as the float and histogram
    * legs. */
  private def runStaleQuery(staleStore: DataFrame,
                            q: graft.operators.ReadQuery,
                            ignoreLabel: Option[String],
                            maxSamples: Long)
      : Seq[((String, Seq[String]), Seq[Long])] = {
    val bounded = graft.operators.SeriesRead.timeBound(
      staleStore, q.startMs, q.endMs)
      .filter(graft.operators.Matchers.compile(q.matchers, ignoreLabel))
      .select(col("metric"), col("labels"),
        org.apache.spark.sql.functions.expr("ts_us DIV 1000000").as("t_sec"))
      .distinct()
    val it = bounded.toLocalIterator().asScala
    val buf = Vector.newBuilder[((String, Seq[String]), Long)]
    var points = 0L
    while (it.hasNext) {
      val r = it.next()
      points += 1
      if (points > maxSamples)
        throw new ResponseTooLargeException(
          s"query matches more than $maxSamples stale markers, exceeds response limit")
      buf += (((r.getString(0), r.getSeq[String](1).toSeq), r.getLong(2)))
    }
    buf.result().groupBy(_._1).toSeq
      .map { case (key, ts) => (key, ts.map(_._2).sorted) }
  }

  /** One query against the native-histogram sibling: matcher filter
    * (the remote-read compiler — the two-surface contract keeps this
    * surface on Matchers.compile) + pushed/pruned time bounds, then
    * per-series assembly in time order. The per-second max-dedup of
    * the float path has no histogram analogue — every stored sample
    * streams; a duplicate (series, ts) re-send collapses to ONE row
    * by a DETERMINISTIC tiebreak (lexicographically greatest source
    * file wins, later row within a file wins): parquet scan order
    * varies run to run (Spark packs file splits by size), so "last
    * decoded wins" would serve either copy nondeterministically.
    * Bounded by the same maxSamples guard. */
  private def runHistQuery(histStore: DataFrame, q: graft.operators.ReadQuery,
                           ignoreLabel: Option[String], maxSamples: Long)
      : Seq[((String, Seq[String]), Seq[graft.ingest.NativeHistogram.Hist])] = {
    val bounded = graft.operators.SeriesRead.timeBound(
      histStore, q.startMs, q.endMs)
      .filter(graft.operators.Matchers.compile(q.matchers, ignoreLabel))
      .select(col("metric"), col("labels"), col("ts_us"), col("hist"),
        org.apache.spark.sql.functions.input_file_name().as("_file"))
    val it = bounded.toLocalIterator().asScala
    val bySeries = scala.collection.mutable.HashMap
      .empty[(String, Seq[String]), scala.collection.mutable.TreeMap[Long, (String, Array[Byte])]]
    var points = 0L
    while (it.hasNext) {
      val r = it.next()
      points += 1
      if (points > maxSamples)
        throw new ResponseTooLargeException(
          s"query matches more than $maxSamples samples, exceeds response limit")
      val key = (r.getString(0), r.getSeq[String](1).toSeq)
      val file = r.getString(4)
      val perTs = bySeries.getOrElseUpdate(key,
        scala.collection.mutable.TreeMap.empty[Long, (String, Array[Byte])])
      val ts = r.getLong(2)
      // >= : within one file row order is append order, so the later
      // in-file duplicate wins; across files the greatest name wins
      if (perTs.get(ts).forall { case (f, _) => file >= f })
        perTs.update(ts, (file, r.getAs[Array[Byte]](3)))
    }
    bySeries.toSeq.map { case (key, perTs) =>
      (key, perTs.values.toSeq.map { case (_, b) =>
        graft.ingest.NativeHistogram.decode(graft.ingest.ProtoWire.reader(b))
      })
    }
  }

  /** One query's float leg: distributed select+assemble computed once,
    * streamed to the driver with the size guard applied as rows
    * arrive; second buckets go back to wire milliseconds. */
  private def runQuery(samples: DataFrame, q: graft.operators.ReadQuery,
                       ignoreLabel: Option[String], ignoreHints: Boolean,
                       maxSamples: Long, rollupRoute: Option[RollupStore.Ladder])
      : Seq[((String, Seq[String]), PromTimeSeries)] = {
    val sel = rollupRoute
      .flatMap(rollupSelect(_, q, samples, ignoreLabel, ignoreHints)) match {
      case Some(routed) =>
        OpsMetrics(samples.sparkSession).readsFromRollup.add(1)
        routed
      case None => SeriesRead.selectKeyed(samples, q, ignoreLabel, ignoreHints)
    }
    val it = SeriesRead.assemble(sel).toLocalIterator().asScala
    val out = Vector.newBuilder[((String, Seq[String]), PromTimeSeries)]
    var points = 0L
    while (it.hasNext) {
      val row = it.next()
      val pts = row.getSeq[Row](2)
      points += pts.size
      if (points > maxSamples)
        throw new ResponseTooLargeException(
          s"query matches more than $maxSamples samples, exceeds response limit")
      val (metric, labels) = (row.getString(0), row.getSeq[String](1).toSeq)
      out += (((metric, labels), PromTimeSeries(promLabelsOf(metric, labels),
        pts.map(p => PromSample(p.getDouble(1), p.getLong(0) * 1000L)))))
    }
    out.result()
  }

  /** (metric, labels) ordering over UTF-8 bytes — identical to the
    * binary string order a `ORDER BY metric_name, labels` yields in
    * the engine (Java String compareTo is UTF-16 code-unit order,
    * which diverges above the BMP). */
  private val Utf8Ordering: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      val n = math.min(x.length, y.length)
      var r = 0
      while (r == 0 && i < n) { r = (x(i) & 0xff) - (y(i) & 0xff); i += 1 }
      if (r != 0) r else x.length - y.length
    }
  }

  private val SeriesKeyOrdering: Ordering[(String, Seq[String])] =
    new Ordering[(String, Seq[String])] {
      private val labelsOrd = Ordering.Implicits.seqOrdering[Seq, String](Utf8Ordering)
      def compare(a: (String, Seq[String]), b: (String, Seq[String])): Int = {
        val c = Utf8Ordering.compare(a._1, b._1)
        if (c != 0) c else labelsOrd.compare(a._2, b._2)
      }
    }
}
