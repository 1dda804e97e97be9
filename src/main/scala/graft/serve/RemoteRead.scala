package graft.serve

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.OpsMetrics
import graft.ingest.{PromRemoteCodec, RollupStore}
import graft.ingest.PromRemoteCodec.{PromLabel, PromSample, PromTimeSeries}
import graft.operators.SeriesRead

/** The end-to-end remote-read serving loop — the reference's whole
  * `/read` contract in one function (reference: main.go:55-74 +
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

  /** ReadRequest blob → ReadResponse blob over the canonical samples
    * DataFrame. ignoreLabel/ignoreHints mirror the reference's
    * -read.ignore-label / -read.ignore-hints flags. An over-limit
    * query errors like the reference's HTTP-500 path and increments
    * read_errors.
    *
    * `samples` is by-name and re-evaluated on each retry: a transient
    * miss (per `transientClassifier`: a planned file GC'd mid-scan) retries
    * up to `transientRetries` times with a fresh store resolution —
    * the first attempt's DataFrame plans a stale snapshot's files, so
    * re-running it could never succeed. Counters fire once per request
    * regardless of attempts (read_requests on the first resolution,
    * read_errors only when the request ultimately fails). */
  def serve(samples: => DataFrame, readRequestBlob: Array[Byte],
            ignoreLabel: Option[String] = Some("remote=clickhouse"),
            ignoreHints: Boolean = false,
            maxSamples: Long = DefaultMaxReadSamples,
            transientRetries: Int = 0,
            transientClassifier: Throwable => Boolean = isTransientMiss,
            rollupRoute: Option[RollupStore.Ladder] = None,
            histStore: Option[DataFrame] = None,
            staleStore: Option[DataFrame] = None): Array[Byte] = {
    var m: OpsMetrics = null
    var queries: Seq[graft.operators.ReadQuery] = null
    def attempt(): Array[Byte] = {
      val df = samples // re-resolves the store's snapshot each try
      if (m == null) { m = OpsMetrics(df.sparkSession); m.readRequests.add(1) }
      if (queries == null) queries = PromRemoteCodec.decodeReadRequest(readRequestBlob)
      PromRemoteCodec.encodeReadResponseResults(
        queries.map { q =>
          val floats0 = runQuery(df, q, ignoreLabel, ignoreHints, maxSamples,
            rollupRoute)
          // SHARED budget: the stale and histogram legs spend what
          // the float leg left, so maxSamples bounds the WHOLE
          // response — not a per-leg allowance that could compound
          // to ~3x the nominal limit
          val afterFloats =
            maxSamples - floats0.iterator.map(_.samples.size.toLong).sum
          // staleness markers pass through VERBATIM (querier-side
          // contract: the receiving engine interprets them) — merged
          // into each matched series' sample stream in time order,
          // re-materialized with the exact StaleNaN payload
          val floats = staleStore match {
            case None => floats0
            case Some(ss) =>
              mergeStaleSamples(floats0,
                runStaleQuery(ss, q, ignoreLabel, afterFloats))
          }
          histStore match {
            case None => floats
            case Some(hs) =>
              // native-histogram series answer on the SAMPLES response
              // type too (prompb TimeSeries field 4), merged into the
              // result's (metric, labels) order; a series carrying
              // both float samples and histograms folds into ONE
              // TimeSeries, Prometheus's own response shape
              val afterStale =
                maxSamples - floats.iterator.map(_.samples.size.toLong).sum
              val hists = runHistQuery(hs, q, ignoreLabel, afterStale)
              if (hists.isEmpty) floats
              else {
                val byKey = scala.collection.mutable.LinkedHashMap
                  .empty[Seq[PromRemoteCodec.PromLabel], PromTimeSeries]
                floats.foreach(ts => byKey.update(ts.labels, ts))
                hists.foreach { case (labels, hs0) =>
                  byKey.get(labels) match {
                    case Some(ts) =>
                      byKey.update(labels, ts.copy(histograms = hs0))
                    case None =>
                      byKey.update(labels,
                        PromTimeSeries(labels, Nil, histograms = hs0))
                  }
                }
                byKey.values.toSeq
                  .sortBy { ts =>
                    val metric = ts.labels.find(_.name == "__name__")
                      .map(_.value).getOrElse("")
                    val rest = ts.labels.filter(_.name != "__name__")
                      .map(l => s"${l.name}=${l.value}")
                    (metric, rest)
                  }(SeriesKeyOrdering)
              }
          }
        })
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

  /** STREAMED_XOR_CHUNKS serving (remote-read response type 1): the
    * SAME distributed query loop as [[serve]], answered as framed
    * ChunkedReadResponse messages — one frame per series, so a huge
    * range read streams in bounded pieces instead of one
    * whole-response allocation (the protocol's purpose; Prometheus
    * itself requests this type when the server advertises it), with
    * each series' samples Gorilla-XOR-compressed (~1.37 bytes/sample
    * typical vs 16 raw). Returns the concatenated frames; the HTTP
    * shim streams them under
    * `application/x-streamed-protobuf; proto=prometheus.ChunkedReadResponse`,
    * NOT snappy-wrapped (the framing replaces body compression).
    *
    * Native-histogram series stream as HISTOGRAM / FLOAT_HISTOGRAM
    * chunks when the store keeps its `_hist` sibling (`histStore`):
    * the classic `_bucket`/`_sum`/`_count` expansion in the MAIN
    * store keeps serving the whole float surface (it answers under
    * its own expanded names), while a selector matching the native
    * series' OWN name answers from the sibling's raw prompb bytes,
    * re-framed as histogram chunks (HistChunks documents the body
    * layout and its remaining deviations). ONE globally
    * (metric, labels)-sorted emission per query: native series merge
    * into the float series' order (a series carrying both
    * interleaves its XOR and histogram chunks by start time under
    * one label set) — the sorted, contiguous stream Prometheus's
    * client merge expects. Callers without a sibling store
    * (histStore = None) keep the float-only behavior. */
  /** Prometheus's streamed remote read caps each frame at ~1 MiB
    * (storage/remote maxBytesInFrame) — a year-long series must
    * never materialize one giant message; consecutive frames repeat
    * the series labels and the client merges them. */
  val DefaultMaxFrameBytes: Int = 1 << 20

  def serveChunked(samples: DataFrame, readRequestBlob: Array[Byte],
                   ignoreLabel: Option[String] = Some("remote=clickhouse"),
                   ignoreHints: Boolean = false,
                   maxSamples: Long = DefaultMaxReadSamples,
                   rollupRoute: Option[RollupStore.Ladder] = None,
                   histStore: Option[DataFrame] = None,
                   maxFrameBytes: Int = DefaultMaxFrameBytes,
                   staleStore: Option[DataFrame] = None): Array[Byte] = {
    val m = OpsMetrics(samples.sparkSession)
    m.readRequests.add(1)
    try {
      val queries = PromRemoteCodec.decodeReadRequest(readRequestBlob)
      val out = new java.io.ByteArrayOutputStream()
      queries.zipWithIndex.foreach { case (q, qi) =>
        // ONE globally (metric, labels)-sorted emission per query:
        // Prometheus's streaming remote-read client merges frames
        // expecting sorted, CONTIGUOUS series — appending all
        // histogram frames after all float frames would hand it a
        // native series whose labels sort before a float series out
        // of order. A series carrying both float samples and native
        // histograms interleaves its XOR and histogram chunks by
        // minTimeMs — one globally time-ordered chunk stream per
        // series, the monotone order a streamed client's merge
        // assumes.
        val floats0 = runQuery(samples, q, ignoreLabel, ignoreHints,
          maxSamples, rollupRoute)
        // SHARED budget across the three legs (see serve): maxSamples
        // bounds the whole response, not each leg independently
        val afterFloats =
          maxSamples - floats0.iterator.map(_.samples.size.toLong).sum
        // stale markers join the float stream BEFORE XOR encoding —
        // Gorilla is bit-level, so the exact StaleNaN payload rides
        // a chunk like any other value
        val floats = staleStore match {
          case None => floats0
          case Some(ss) =>
            mergeStaleSamples(floats0,
              runStaleQuery(ss, q, ignoreLabel, afterFloats))
        }
        val floatSeries = floats.map { ts =>
          val t = ts.samples.map(_.timestampMs).toArray
          val v = ts.samples.map(_.value).toArray
          val chunks = Gorilla.encodeChunks(t, v).map { case (mn, mx, d) =>
            PromRemoteCodec.PromChunk(mn, mx, d)
          }
          (ts.labels, chunks)
        }
        val histSeries = histStore.toSeq.flatMap { hs =>
          val afterStale =
            maxSamples - floats.iterator.map(_.samples.size.toLong).sum
          runHistQuery(hs, q, ignoreLabel, afterStale).map {
            case (labels, hists) => (labels, HistChunks.encodeChunks(hists))
          }
        }
        val byKey = scala.collection.mutable.LinkedHashMap
          .empty[Seq[PromRemoteCodec.PromLabel], Seq[PromRemoteCodec.PromChunk]]
        floatSeries.foreach { case (ls, cs) => byKey.update(ls, cs) }
        histSeries.foreach { case (ls, cs) =>
          // interleave by chunk start time (stable: XOR before
          // histogram on an exact tie) — chunks within one series
          // must be globally time-ordered, not per-encoding
          byKey.update(ls,
            (byKey.getOrElse(ls, Nil) ++ cs).sortBy(_.minTimeMs))
        }
        byKey.toSeq
          .sortBy { case (ls, _) =>
            val metric = ls.find(_.name == "__name__").map(_.value).getOrElse("")
            val rest = ls.filter(_.name != "__name__")
              .map(l => s"${l.name}=${l.value}")
            (metric, rest)
          }(SeriesKeyOrdering)
          .foreach { case (labels, chunks) =>
            // split a long series into ≤maxFrameBytes frames (label
            // repetition per frame, like Prometheus's own streamer);
            // sortedness is preserved — split frames stay contiguous.
            // EVERY frame re-encodes the series label set, so the
            // budget starts from the labels' encoded size — a series
            // with a large label set must not overshoot the target
            // by exactly that many bytes per frame.
            val labelBytes = labels.map { l =>
              // tag+len for the Label message, tag+len per string
              l.name.getBytes(java.nio.charset.StandardCharsets.UTF_8).length +
                l.value.getBytes(java.nio.charset.StandardCharsets.UTF_8).length + 8
            }.sum + 16
            var batch = Vector.empty[PromRemoteCodec.PromChunk]
            var batchBytes = labelBytes
            def emit(): Unit = if (batch.nonEmpty) {
              val msg = PromRemoteCodec.encodeChunkedReadResponse(
                Seq(PromRemoteCodec.PromChunkedSeries(labels, batch)),
                qi.toLong)
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
    } catch {
      case e: Throwable => m.readErrors.add(1); throw e
    }
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
      : Seq[(Seq[PromLabel], Seq[Long])] = {
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
    buf.result()
      .groupBy(_._1).toSeq
      .map { case ((metric, labels), ts) =>
        (promLabelsOf(metric, labels), ts.map(_._2).sorted)
      }
  }

  /** Insert stale markers into the float series stream: each marker
    * becomes a sample with the EXACT StaleNaN payload at its second,
    * in time order; a second already carrying a float sample keeps
    * the sample (the read model is one value per series-second).
    * Marker-only series (the query window covers only the death)
    * emit as their own series. Output re-sorted in the response's
    * series order. */
  private def mergeStaleSamples(floats: Seq[PromTimeSeries],
                                marks: Seq[(Seq[PromLabel], Seq[Long])])
      : Seq[PromTimeSeries] = {
    if (marks.isEmpty) return floats
    val staleV = PromRemoteCodec.staleNaN
    val byKey = scala.collection.mutable.LinkedHashMap
      .empty[Seq[PromLabel], PromTimeSeries]
    floats.foreach(ts => byKey.update(ts.labels, ts))
    marks.foreach { case (labels, tsSecs) =>
      val cur = byKey.getOrElse(labels, PromTimeSeries(labels, Nil))
      val occupied = cur.samples.map(_.timestampMs / 1000L).toSet
      val markerSamples = tsSecs.filterNot(occupied)
        .map(s => PromSample(staleV, s * 1000L))
      if (markerSamples.nonEmpty)
        byKey.update(labels, cur.copy(samples =
          (cur.samples ++ markerSamples).sortBy(_.timestampMs)))
    }
    byKey.values.toSeq.sortBy { ts =>
      val metric = ts.labels.find(_.name == "__name__").map(_.value).getOrElse("")
      val rest = ts.labels.filter(_.name != "__name__")
        .map(l => s"${l.name}=${l.value}")
      (metric, rest)
    }(SeriesKeyOrdering)
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
      : Seq[(Seq[PromRemoteCodec.PromLabel], Seq[graft.ingest.NativeHistogram.Hist])] = {
    val bounded = graft.operators.SeriesRead.timeBound(
      histStore, q.startMs, q.endMs)
      .filter(graft.operators.Matchers.compile(q.matchers, ignoreLabel))
      .select(col("metric"), col("labels"), col("ts_us"), col("hist"),
        org.apache.spark.sql.functions.input_file_name().as("_file"))
    val it = bounded.toLocalIterator().asScala
    val bySeries = scala.collection.mutable.LinkedHashMap
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
    bySeries.toSeq
      .sortBy { case ((metric, labels), _) => (metric, labels) }(SeriesKeyOrdering)
      .map { case ((metric, labels), samples0) =>
        val promLabels = promLabelsOf(metric, labels)
        (promLabels, samples0.values.toSeq.map { case (_, b) =>
          graft.ingest.NativeHistogram.decode(graft.ingest.ProtoWire.reader(b))
        })
      }
  }

  /** One query: distributed select+assemble computed once, streamed to
    * the driver with the size guard applied as rows arrive. Series are
    * sorted on the driver (bounded by the guard) in the reference's
    * ORDER BY (metric_name, labels) — byte-wise UTF-8, matching the
    * engine's binary string ordering. */
  private def runQuery(samples: DataFrame, q: graft.operators.ReadQuery,
                       ignoreLabel: Option[String], ignoreHints: Boolean,
                       maxSamples: Long,
                       rollupRoute: Option[RollupStore.Ladder]): Seq[PromTimeSeries] = {
    val sel = rollupRoute
      .flatMap(rollupSelect(_, q, samples, ignoreLabel, ignoreHints)) match {
      case Some(routed) =>
        OpsMetrics(samples.sparkSession).readsFromRollup.add(1)
        routed
      case None => SeriesRead.selectKeyed(samples, q, ignoreLabel, ignoreHints)
    }
    val it = SeriesRead.assemble(sel).toLocalIterator().asScala
    val out = Vector.newBuilder[(String, Seq[String], PromTimeSeries)]
    var points = 0L
    while (it.hasNext) {
      val row = it.next()
      points += row.getSeq[Row](2).size
      if (points > maxSamples)
        throw new ResponseTooLargeException(
          s"query matches more than $maxSamples samples, exceeds response limit")
      out += ((row.getString(0), row.getSeq[String](1), rowToSeries(row)))
    }
    out.result()
      .sortBy { case (metric, labels, _) => (metric, labels) }(SeriesKeyOrdering)
      .map(_._3)
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

  /** One assembled (metric, labels, points) row → prompb.TimeSeries:
    * __name__ rejoins the sorted "k=v" labels, second buckets go back
    * to wire milliseconds. */
  private def rowToSeries(row: Row): PromTimeSeries = {
    val metric = row.getString(0)
    val labels = row.getSeq[String](1)
    val points = row.getSeq[Row](2)
    val promLabels = PromLabel("__name__", metric) +: labels.map { kv =>
      val i = kv.indexOf('=')
      PromLabel(kv.substring(0, i), kv.substring(i + 1))
    }
    PromTimeSeries(promLabels,
      points.map(p => PromSample(p.getDouble(1), p.getLong(0) * 1000L)))
  }
}
