package graft.serve

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ExecutorService, Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.SparkSession
import org.slf4j.LoggerFactory

import graft.OpsMetrics
import graft.ingest.{PromRemoteCodec, RollupStore, SamplesStore}

/** The reference's HTTP surface bound over the serving twins
  * (reference: main.go:116-166): `POST /write` → [[RemoteWrite.serve]]
  * appending to the day-partitioned store, `POST /read` →
  * [[RemoteRead.serve]] over the store, `GET /metrics` →
  * [[OpsMetrics.render]], anything else → 404 with the reference's
  * root body. Handler errors map to plain-text 500 responses exactly
  * like the reference's `http.Error(w, err.Error(), 500)`; the read
  * response carries the reference's `Content-Type:
  * application/x-protobuf` + `Content-Encoding: snappy` headers
  * (main.go:66-67).
  *
  * This is the driver-side front door: Spark executes every query
  * distributed, the listener only frames blobs — the same division
  * of labor as the reference's one Go process in front of a
  * ClickHouse cluster. Request bodies are read through the same
  * 32 MiB bound the codec enforces
  * ([[PromRemoteCodec.DecodeReadLimit]], io.LimitReader in
  * codec.go:49) so an oversized body can't buffer unbounded heap
  * before the decode limit would catch it.
  */
final class GraftHttpServer private[serve] (server: HttpServer, pool: ExecutorService) {
  def port: Int = server.getAddress.getPort
  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(5, TimeUnit.SECONDS)
  }
  /** Spec-only escape hatch: lets ServeSpec register a latch-blocked
    * context to prove handlers run concurrently. */
  private[graft] def underlying: HttpServer = server
}

object HttpServe {

  private val log = LoggerFactory.getLogger(getClass)

  /** Alerting rules /api/v1/alerts evaluates on demand (empty =
    * disabled). Configured via `-rule.alert` flags. */
  @volatile var alertRules: Seq[Alerting.AlertRule] = Nil

  /** Handler pool size. The reference's net/http spawns one goroutine
    * per connection (main.go:162); a JDK HttpServer with NO executor
    * dispatches every exchange on its single dispatcher thread, so one
    * slow /read head-of-line blocks every concurrent /write and
    * /metrics scrape — and a hung handler wedges the whole server. A
    * bounded pool gives the same concurrency with a resource cap
    * (goroutines are cheap; platform threads each pin a Spark driver
    * action, so unbounded would let a request flood exhaust the
    * driver). */
  val HandlerThreads = 16

  /** Cap on `/api/v1/labels` and `/api/v1/label/<k>/values` response
    * entries — a runaway-cardinality label (user ids…) must bound the
    * driver collect, like `maxReadSamples` bounds `/read`. */
  val MetaValuesLimit = 10000

  /** Cap on /federate output series. Unlike the metadata endpoints,
    * federation must NEVER silently truncate — a partial scrape
    * poisons the downstream Prometheus worse than a failed one (real
    * federation has no cap at all) — so crossing this limit FAILS
    * the scrape with 500 instead of dropping the tail. Configurable
    * for deployments federating wide stores. */
  @volatile var federateSeriesLimit: Int = 10000

  /** Start serving `storePath` on `port` (0 = ephemeral, for specs).
    * ignoreLabel/ignoreHints mirror the reference's -read.* flags. */
  def start(spark: SparkSession, storePath: String, port: Int = 0,
            ignoreLabel: Option[String] = Some("remote=clickhouse"),
            ignoreHints: Boolean = false,
            maxReadSamples: Long = RemoteRead.DefaultMaxReadSamples): GraftHttpServer = {
    val server = HttpServer.create(new InetSocketAddress(port), 0)
    val pool = {
      val n = new AtomicInteger()
      Executors.newFixedThreadPool(HandlerThreads, new ThreadFactory {
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-http-${n.incrementAndGet()}")
          t.setDaemon(true)
          t
        }
      })
    }
    server.setExecutor(pool)

    def respond(ex: HttpExchange, status: Int, body: Array[Byte],
                headers: Seq[(String, String)]): Unit = {
      headers.foreach { case (k, v) => ex.getResponseHeaders.set(k, v) }
      // sendResponseHeaders uses 0 for "unknown length" — an empty
      // body must pass -1 to mean "no body".
      ex.sendResponseHeaders(status, if (body.isEmpty) -1L else body.length.toLong)
      if (body.nonEmpty) ex.getResponseBody.write(body)
      ex.close()
    }

    def body(ex: HttpExchange): Array[Byte] = {
      val b = ex.getRequestBody.readNBytes(PromRemoteCodec.DecodeReadLimit + 1)
      if (b.length > PromRemoteCodec.DecodeReadLimit)
        throw new ProtoTooLargeException(
          s"request body exceeds ${PromRemoteCodec.DecodeReadLimit} bytes")
      b
    }

    def text(ex: HttpExchange, status: Int, body: String): Unit =
      respond(ex, status, body.getBytes(UTF_8),
        Seq("Content-Type" -> "text/plain; charset=utf-8"))

    def json(ex: HttpExchange, body: String, status: Int = 200): Unit =
      respond(ex, status, body.getBytes(UTF_8),
        Seq("Content-Type" -> "application/json"))

    def urlDecode(s: String): String = java.net.URLDecoder.decode(s, "UTF-8")

    // THE request-parameter parser: URL query + (on POST) form-body
    // parameters, body values after URL values — Prometheus accepts
    // its HTTP APIs both ways and Grafana switches to form-POST once
    // selectors get long. `.toMap` lets the body win a collision, like
    // Go's Request.Form.
    def reqParams(ex: HttpExchange): Seq[(String, String)] = {
      def parse(raw: String): Seq[(String, String)] =
        raw.split("&").iterator.filter(_.nonEmpty)
          .map(_.split("=", 2)).map {
            case Array(k, v) => urlDecode(k) -> urlDecode(v)
            case a => urlDecode(a(0)) -> ""
          }.toSeq
      val url = parse(Option(ex.getRequestURI.getRawQuery).getOrElse(""))
      val ct = Option(ex.getRequestHeaders.getFirst("Content-Type")).getOrElse("")
      val form =
        if (ex.getRequestMethod == "POST" &&
            ct.startsWith("application/x-www-form-urlencoded"))
          parse(new String(body(ex), UTF_8))
        else Nil
      url ++ form
    }

    // Every malformed client input throws this; `guarded` answers it
    // with Prometheus's 400 bad_data JSON, built only there.
    final class BadParam(msg: String) extends RuntimeException(msg)

    // Prometheus 2.50+ `limit=` on the metadata endpoints: caps the
    // response below the server's own MetaValuesLimit ceiling.
    // 0/absent = no user cap (Prometheus's convention); a limit the
    // server CANNOT PARSE (or a negative one) is the client's error
    // — 400 bad_data like Prometheus, never a silent full result
    def effLimit(params: Seq[(String, String)]): Int = {
      val user = params.collectFirst { case ("limit", v) => v }
      user.foreach { v =>
        if (v.toIntOption.forall(_ < 0))
          throw new BadParam(s"limit must be a non-negative integer: $v")
      }
      user.flatMap(_.toIntOption).filter(_ > 0)
        .fold(MetaValuesLimit)(math.min(_, MetaValuesLimit))
    }

    def guarded(ex: HttpExchange)(f: => Unit): Unit =
      try f catch {
        case e: BadParam =>
          json(ex, s"""{"status":"error","errorType":"bad_data","error":"${esc(e.getMessage)}"}""",
            400)
        case e: Throwable if isClientDisconnect(e) =>
          // the CLIENT went away mid-request or mid-response (a
          // dashboard refresh aborting its previous query) — the
          // reference's handler skips its error counter on exactly
          // this case (main.go:150, context.Canceled) so disconnects
          // don't inflate the error rate. Not a server error: no 500
          // (undeliverable anyway), no warn, just close the exchange.
          log.info(s"${ex.getRequestMethod} ${ex.getRequestURI} client disconnected: " +
            Option(e.getMessage).getOrElse(e.getClass.getSimpleName))
          ex.close()
        case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getSimpleName)
          // the reference logs every handler failure (main.go:130/136/149
          // via zap) — without this line a 3 am 500 is invisible
          log.warn(s"${ex.getRequestMethod} ${ex.getRequestURI} -> 500: $msg")
          text(ex, 500, msg + "\n")
      }

    // main.go:116-120 — unknown paths 404 with the service name body.
    server.createContext("/", (ex: HttpExchange) => guarded(ex) {
      text(ex, 404, "graft")
    })

    server.createContext("/write", (ex: HttpExchange) => guarded(ex) {
      // PRW 2.0 content negotiation: proto= in Content-Type selects
      // the wire format; an unknown value is 415 (the spec's answer
      // for a format this receiver doesn't speak), not a 500
      val ct = Option(ex.getRequestHeaders.getFirst("Content-Type"))
      val proto = graft.ingest.PromRemoteCodec.protoParam(ct)
      if (proto.exists(p => p != graft.ingest.PromRemoteCodec.ProtoV1 &&
            p != graft.ingest.PromRemoteCodec.ProtoV2)) {
        text(ex, 415, s"unsupported remote-write proto: ${proto.get}\n")
      } else {
        val out = RemoteWrite.serveCounted(spark, storePath, body(ex), ct)
        // 2.0 receivers confirm written counts in response headers —
        // in the SENDER's units (a native histogram counts once,
        // however many classic rows its conversion lands)
        val hdrs =
          if (proto.contains(graft.ingest.PromRemoteCodec.ProtoV2))
            Seq("X-Prometheus-Remote-Write-Samples-Written" -> out.samples.toString,
              "X-Prometheus-Remote-Write-Histograms-Written" -> out.histograms.toString,
              "X-Prometheus-Remote-Write-Exemplars-Written" -> out.exemplars.toString)
          else Seq.empty
        respond(ex, 200, Array.emptyByteArray, hdrs)
      }
    })

    // OTLP metrics ingest (Prometheus 3.x parity): raw protobuf
    // ExportMetricsServiceRequest. `Content-Encoding: gzip` inflates
    // (OTLP/HTTP's one standard compression — most SDK exporters
    // default to it) behind a decompression-bomb bound; anything
    // else is 415, the OTLP HTTP spec's answer for an unsupported
    // content-encoding.
    server.createContext("/api/v1/otlp/v1/metrics",
      (ex: HttpExchange) => guarded(ex) {
        val enc = Option(ex.getRequestHeaders.getFirst("Content-Encoding"))
          .map(_.trim.toLowerCase).filter(e => e.nonEmpty && e != "identity")
        if (enc.exists(_ != "gzip")) {
          text(ex, 415, s"unsupported Content-Encoding: ${enc.get}\n")
        } else {
          // a malformed body — including the delta-temporality
          // rejection (OtlpCodec header) — is the SENDER's error:
          // 400, mirroring Prometheus's OTLP receiver, not a 500
          try {
            val raw = body(ex)
            val payload =
              if (enc.isEmpty) raw
              else {
                // inflate with the same bound the remote-read codec
                // applies pre-inflate: a tiny gzip body must not
                // expand into an unbounded allocation
                val in = new java.util.zip.GZIPInputStream(
                  new java.io.ByteArrayInputStream(raw))
                val out = new java.io.ByteArrayOutputStream()
                val buf = new Array[Byte](64 * 1024)
                var n = in.read(buf)
                while (n >= 0) {
                  out.write(buf, 0, n)
                  if (out.size > PromRemoteCodec.DecodeReadLimit)
                    throw new graft.ingest.ProtoWire.WireFormatException(
                      s"gzip body inflates past ${PromRemoteCodec.DecodeReadLimit} bytes")
                  n = in.read(buf)
                }
                out.toByteArray
              }
            RemoteWrite.serveOtlp(spark, storePath, payload)
            // an empty ExportMetricsServiceResponse IS zero proto bytes
            respond(ex, 200, Array.emptyByteArray,
              Seq("Content-Type" -> "application/x-protobuf"))
          } catch {
            case e: graft.ingest.ProtoWire.WireFormatException =>
              text(ex, 400, e.getMessage + "\n")
            // ZipException = corrupt stream; EOFException = truncated
            // stream (GZIPInputStream.read throws it mid-body). Both
            // are the CLIENT's malformed bytes, not a server fault.
            case _: java.util.zip.ZipException | _: java.io.EOFException =>
              text(ex, 400, "malformed gzip body\n")
          }
        }
      })

    server.createContext("/read", (ex: HttpExchange) => guarded(ex) {
      // Every store this read plans — the main store and its stale and
      // hist siblings — stays under its own visibility read lock for
      // the whole execution, so this JVM's GC can't reclaim a planned
      // file while it runs CONCURRENTLY with every append and
      // compaction. The retry remains for OUT-of-process mutators
      // (another JVM expiring the same store), whose GC the lock can't
      // see; a store that simply doesn't exist yet (fresh server before
      // the first /write) fails fast instead — that miss is permanent.
      val reqBody = body(ex)
      val rollupRoute = RollupStore.ladder(storePath,
        RemoteWrite.rollupIntervalSec, RemoteWrite.rollupLadderIntervalSec)
      // response-type negotiation: accepted_response_types is listed
      // in the CLIENT's preference order, so the first type this
      // server supports wins — a client sending [SAMPLES, CHUNKS]
      // gets the snappy SAMPLES body even though it could also take
      // chunks; one sending [CHUNKS, ...] (Prometheus itself) gets
      // Gorilla-chunked frames. An empty or all-unknown list falls
      // back to the protocol-default SAMPLES.
      val wantsChunks =
        try PromRemoteCodec.decodeAcceptedResponseTypes(reqBody)
          .find(t => t == 0 || t == 1).contains(1)
        catch { case _: Throwable => false }
      val (encode, headers) =
        if (wantsChunks)
          (RemoteRead.chunksEncoder(RemoteRead.DefaultMaxFrameBytes), Seq(
            "Content-Type" ->
              "application/x-streamed-protobuf; proto=prometheus.ChunkedReadResponse"))
        else
          (RemoteRead.samplesEncoder, Seq(
            "Content-Type" -> "application/x-protobuf",
            "Content-Encoding" -> "snappy"))
      val resp = SamplesStore.readLocked(storePath,
          RemoteWrite.histPath(storePath), RemoteWrite.stalePath(storePath)) {
        RemoteRead.serveWith(encode)(SamplesStore.read(spark, storePath),
          reqBody, ignoreLabel, ignoreHints, maxReadSamples,
          transientRetries = 2,
          // a missing planned file is worth a retry only when the
          // store exists (another process's GC reclaimed it
          // mid-scan); a never-written store is a permanent miss
          transientClassifier = e =>
            RemoteRead.isTransientMiss(e) && SamplesStore.exists(spark, storePath),
          // coarse, shape-exact queries serve from the rollup twin
          // when background rollup maintenance keeps one (and only
          // while its manifest is provably fresh for the window)
          rollupRoute = rollupRoute,
          // the native-histogram sibling (when any native write
          // landed one) answers on BOTH response types; staleness
          // markers pass through VERBATIM with the exact StaleNaN
          // payload (the querier-side contract)
          histStore = RemoteWrite.histStoreDf(spark, storePath),
          staleStore = RemoteWrite.staleStoreDf(spark, storePath))
      }
      respond(ex, 200, resp, headers)
    })

    server.createContext("/metrics", (ex: HttpExchange) => guarded(ex) {
      respond(ex, 200, OpsMetrics(spark).render.getBytes(UTF_8),
        Seq("Content-Type" -> "text/plain; version=0.0.4; charset=utf-8"))
    })

    // ---- Prometheus metadata API over the store ---------------------
    // The reference delegates these to Prometheus itself; serving them
    // here lets a Grafana variables query hit the store directly. A
    // store that doesn't exist yet answers success+empty (the
    // Prometheus behavior for no data), not 500. Value domains are
    // capped — a runaway-cardinality label must not OOM the driver.

    def esc(s: String): String = s.flatMap {
      case '"'           => "\\\""
      case '\\'          => "\\\\"
      case c if c < ' '  => f"\\u${c.toInt}%04x"
      case c             => c.toString
    }

    def jsonList(values: Seq[String]): String =
      values.map(v => s""""${esc(v)}"""").mkString(
        """{"status":"success","data":[""", ",", "]}")

    // THE label-set renderer: a stored "k=v" list (plus the metric
    // name as __name__, when given) as one JSON object
    def labelsJson(metric: Option[String], labels: Seq[String]): String =
      (metric.map("__name__" -> _).toSeq ++ labels.map { l =>
        val c = l.indexOf('=')
        if (c < 0) (l, "") else (l.substring(0, c), l.substring(c + 1))
      }).map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }
        .mkString("{", ",", "}")

    // Selector sets OR-compiled into ONE predicate, so the store scans
    // once for their union (None when there is no set).
    def anyOf(sets: Seq[Seq[graft.operators.LabelMatcher]])
        : Option[org.apache.spark.sql.Column] =
      sets.map(graft.operators.Matchers.compilePromQL(_, ignoreLabel))
        .reduceOption(_ || _)

    // Every match[] selector, compiled by `anyOf`. A malformed one —
    // or none at all where the endpoint requires one — is the
    // client's 400 (the Prometheus behavior), never a silent empty or
    // unfiltered set.
    def matchParam(params: Seq[(String, String)], required: Boolean)
        : Option[org.apache.spark.sql.Column] = {
      val parsed = params.collect { case ("match[]", v) =>
        graft.operators.Matchers.parseSelector(v) }
      if (parsed.exists(_.isEmpty) || (required && parsed.isEmpty))
        throw new BadParam(
          if (required) "match[] missing or malformed" else "match[] malformed")
      anyOf(parsed.flatten)
    }

    // The required `query=` expression (its first value), parsed; an
    // absent or unparsable one is the client's 400.
    def queryParam(params: Seq[(String, String)]): PromQL.Expr = {
      val q = params.collectFirst { case ("query", v) => v }
        .getOrElse(throw new BadParam("query parameter is required"))
      PromQL.parse(q).fold(err => throw new BadParam(err), identity)
    }

    def storeSamples(): Option[org.apache.spark.sql.DataFrame] =
      if (SamplesStore.exists(spark, storePath)) Some(SamplesStore.read(spark, storePath))
      else None

    server.createContext("/api/v1/labels", (ex: HttpExchange) => guarded(ex) {
      // optional match[] selectors narrow the domain (Prometheus
      // semantics: label names of the MATCHING series only)
      val params = reqParams(ex)
      val pred = matchParam(params, required = false)
      val limit = effLimit(params)
      val names = SamplesStore.readLocked(storePath) {
        storeSamples().map(timeBoundedParams(_, params))
          .map(df => pred.fold(df)(df.filter)).map { df =>
          // __name__ exists iff the bounded window holds any series at
          // all (a labels-empty series still has a metric name). That
          // probe rides the SAME collect as the key list: a NUL-string
          // marker row — unioned from limit(1) of the window, sorting
          // before any legal label name — so a labels request costs
          // exactly one Spark action on every path, empty included
          import org.apache.spark.sql.functions.lit
          val marker = df.limit(1).select(lit("\u0000").as("label_name"))
          val rows = graft.operators.Meta.labelNames(df)
            .select("label_name").union(marker)
            .orderBy("label_name").limit(limit + 1)
            .collect().map(_.getString(0)).toSeq
          val keys = rows.filterNot(_ == "\u0000")
          // limit caps the FINAL list, __name__ included
          if (rows.size > keys.size)
            ("__name__" +: keys).take(limit)
          else Seq.empty
        }.getOrElse(Seq.empty)
      }
      json(ex, jsonList(names))
    })

    server.createContext("/api/v1/label/", (ex: HttpExchange) => guarded(ex) {
      // /api/v1/label/<key>/values
      val parts = ex.getRequestURI.getPath.split("/").toSeq
      if (parts.length != 6 || parts(5) != "values") text(ex, 404, "graft")
      else {
        val key = urlDecode(parts(4))
        // optional match[] narrows the value domain to the matching
        // series (Prometheus semantics)
        val params = reqParams(ex)
        val pred = matchParam(params, required = false)
        val limit = effLimit(params)
        val values = SamplesStore.readLocked(storePath) {
          storeSamples().map(timeBoundedParams(_, params))
            .map(df => pred.fold(df)(df.filter)).map { df =>
            val domain = if (key == "__name__")
              df.select(org.apache.spark.sql.functions.col("metric").as("v")).distinct()
            else graft.operators.Meta.labelValues(df, key)
              .select(org.apache.spark.sql.functions.col("label_value").as("v"))
            // limit INSIDE the plan (ordered for determinism) — the
            // cap must bound the collect, not trim after it
            domain.orderBy("v").limit(limit)
              .collect().map(_.getString(0)).toSeq
          }.getOrElse(Seq.empty)
        }
        json(ex, jsonList(values))
      }
    })

    // /api/v1/series?match[]=<selector>&start=&end= — the third leg
    // of the metadata API (the reference delegates it to Prometheus).
    // Multiple match[] params union on one scan; the response is
    // capped in-plan like the label domains.
    server.createContext("/api/v1/series", (ex: HttpExchange) => guarded(ex) {
      val params = reqParams(ex)
      val pred = matchParam(params, required = true).get
      val limit = effLimit(params)
      val series = SamplesStore.readLocked(storePath) {
        storeSamples().map(timeBoundedParams(_, params)).map { df =>
          df.filter(pred)
            .select(org.apache.spark.sql.functions.col("metric"),
                    org.apache.spark.sql.functions.col("labels"))
            .distinct()
            .orderBy("metric", "labels")
            .limit(limit)
            .collect()
            .map(r => (r.getString(0), r.getSeq[String](1).toSeq)).toSeq
        }.getOrElse(Seq.empty)
      }
      json(ex, series.map { case (metric, labels) => labelsJson(Some(metric), labels) }
        .mkString("""{"status":"success","data":[""", ",", "]}"))
    })

    // /federate?match[]=<selector>[&match[]=…][&time=<sec>] — the
    // Prometheus federation endpoint: each matching series' CURRENT
    // value in text exposition format, so a downstream Prometheus can
    // scrape graft as an ordinary federation source. Selectors union
    // as ONE OR-predicate on a single scan (the /api/v1/series shape);
    // per series the latest sample in the (t-5m, t] instant lookback
    // answers, stamped in milliseconds. `time` is a graft extension
    // (Prometheus federates at wall-now only) so scrapes are
    // reproducible against a historical store; absent, the scrape
    // time is wall-clock now.
    server.createContext("/federate", (ex: HttpExchange) => guarded(ex) {
      import org.apache.spark.sql.functions.{col, expr, max}
      val params = reqParams(ex)
      val pred = matchParam(params, required = true).get
      // absent `time` → wall clock; PRESENT but unparsable `time` →
      // 400 (a typo'd historical scrape must not silently become a
      // live one — same validation rigor as match[])
      val t = params.collectFirst { case ("time", v) =>
        parseTimeParam(v).getOrElse(throw new BadParam("time parameter malformed"))
      }.getOrElse(System.currentTimeMillis() / 1000L)
      val lookback = 300L
      val rows = SamplesStore.readLocked(storePath) {
        storeSamples().map { df =>
          df.filter(pred)
            // (t-L, t] in pushable ts_us bounds + day pruning
            .filter(col("ts_us") > (t - lookback) * 1000000L &&
                    col("ts_us") <= t * 1000000L)
            .filter(col("date") >= (t - lookback) / 86400L * 86400L &&
                    col("date") <= t)
            .groupBy(col("metric"), col("labels"))
            // latest sample; same-µs ties take the max value (the
            // read path's dedup convention)
            .agg(max(col("ts_us")).as("ts_us"),
              expr("max_by(value, struct(ts_us, value))").as("value"))
            .orderBy("metric", "labels")
            // limit+1 detects overflow without an unbounded collect
            .limit(federateSeriesLimit + 1)
            .collect()
            .map(r => (r.getString(0), r.getSeq[String](1).toSeq,
              r.getLong(2), r.getDouble(3)))
            .toSeq
        }.getOrElse(Seq.empty)
      }
      if (rows.size > federateSeriesLimit) {
        json(ex, s"""{"status":"error","errorType":"internal","error":""" +
          s""""federation result exceeds $federateSeriesLimit series; """ +
          s"""raise HttpServe.federateSeriesLimit or narrow match[]"}""", 500)
      } else {
        val sb = new StringBuilder
        rows.foreach { case (metric, labels, tsUs, value) =>
          // renderHead quotes UTF-8 metric/label names per the
          // Prometheus 3.x text syntax — a dotted name emitted
          // bare would be unscrapeable by the downstream
          val vtxt = PromQL.formatE6(math.floor(value * 1e6 + 0.5).toLong)
          sb.append(graft.ingest.Exposition.renderHead(metric, labels))
            .append(' ').append(vtxt)
            .append(' ').append(tsUs / 1000L).append('\n')
        }
        respond(ex, 200, sb.toString.getBytes(UTF_8),
          Seq("Content-Type" -> "text/plain; version=0.0.4; charset=utf-8"))
      }
    })

    // ---- PromQL query API ------------------------------------------
    // The layer the reference lacks entirely: it serves remote-read
    // and needs a Prometheus in front to evaluate anything. graft
    // owns the operators, so /api/v1/query_range evaluates a
    // whitelisted PromQL subset directly over the store (PromQL.scala
    // documents grammar + semantics) — Grafana can point at graft as
    // a Prometheus datasource with nothing in between.

    // Prometheus duration ("5m") or plain (float) seconds.
    def parseStep(v: String): Option[Long] =
      scala.util.Try(v.toDouble).toOption.map(d => math.max(1L, d.toLong))
        .orElse(PromQL.parse(s"rate(x[$v])").toOption.collect {
          case PromQL.RangeCall(_, _, d, _) => d
        })

    def servePromQuery(ex: HttpExchange, rangeMode: Boolean): Unit = {
      val params = reqParams(ex).toMap
      val exprE = params.get("query").toRight("missing query parameter")
        .flatMap(PromQL.parse)
      // Prometheus 3.x `limit=` on the query APIs: cap the returned
      // SERIES count, 0/absent disabled; truncation is flagged in
      // the response's warnings, never silent
      val limitE: Either[String, Int] = params.get("limit") match {
        case None => Right(0)
        case Some(v) => v.toIntOption.filter(_ >= 0)
          .toRight(s"limit must be a non-negative integer: $v")
      }
      // `timeout=` parses and validates like Prometheus (a malformed
      // duration is the client's 400) but is not enforced yet:
      // evaluation is one Spark job bounded by the in-plan cell cap
      // (README's query-API paragraph says so)
      val timeoutE: Either[String, Unit] = params.get("timeout") match {
        case None => Right(())
        case Some(v) if parseStep(v).isDefined => Right(())
        case Some(v) => Left(s"invalid timeout: $v")
      }
      val boundsE: Either[String, (Long, Long, Long)] =
        if (rangeMode) for {
          s <- params.get("start").flatMap(parseTimeParam)
            .toRight("missing or unparsable start")
          e <- params.get("end").flatMap(parseTimeParam)
            .toRight("missing or unparsable end")
          st <- params.get("step").flatMap(parseStep)
            .toRight("missing or unparsable step")
          _ <- Either.cond(e >= s, (), "end must be >= start")
          _ <- Either.cond((e - s) / st + 1 <= MaxQuerySteps, (),
            s"exceeded maximum resolution of $MaxQuerySteps points per series")
        } yield (s, e, st)
        else params.get("time") match {
          // absent → wall clock; present but unparsable → 400, as on
          // /federate: a typo'd historical query must not answer live
          case None =>
            val t = System.currentTimeMillis() / 1000L
            Right((t, t, 1L))
          case Some(v) => parseTimeParam(v).map(t => (t, t, 1L))
            .toRight("time parameter malformed")
        }
      (for { e <- exprE; b <- boundsE; l <- limitE; _ <- timeoutE }
        yield (e, b, l)) match {
        case Left(err) => throw new BadParam(err)
        case Right((PromQL.ScalarLit(v), (startSec, endSec, stepSec), _)) =>
          // Prometheus's scalar forms: Grafana health-probes the
          // datasource with `1+1` and expects resultType "scalar";
          // query_range promotes a scalar to a constant {} series
          val sv = PromQL.formatE6(math.floor(v * 1e6 + 0.5).toLong)
          val body =
            if (rangeMode) {
              val vals = (startSec to endSec by stepSec)
                .map(t => s"""[$t,"$sv"]""").mkString("[", ",", "]")
              s"""{"status":"success","data":{"resultType":"matrix","result":[""" +
                s"""{"metric":{},"values":$vals}]}}"""
            } else
              s"""{"status":"success","data":{"resultType":"scalar","result":[$startSec,"$sv"]}}"""
          json(ex, body)
        case Right((expr, (startSec, endSec, stepSec), limit)) =>
          // releasing: the shared subtrees eval persists are dropped
          // from Spark's cache once this request's collect ran
          val (rows, histRows) = SamplesStore.readLocked(storePath,
              RemoteWrite.histPath(storePath), RemoteWrite.stalePath(storePath))(PromQL.releasing {
            // ONE sibling existence probe feeds both legs
            val staleDf = RemoteWrite.staleStoreDf(spark, storePath)
            // the 3.x histogram-valued leg: an expression whose
            // top-level value is a native histogram (selector, rate,
            // sum-of-rate) ALSO evaluates over the hist sibling; its
            // series merge into the same result as histogram-valued
            // entries — the mixed-vector convention — with histogram
            // winning a (name, labels) collision (the native sample
            // is the richer form of the same series)
            val hl =
              if (RemoteWrite.nativeHistogramQuantile &&
                  PromQL.histogramValued(expr))
                RemoteWrite.histStoreDf(spark, storePath)
                  .flatMap(hs => PromQL.evalHistVec(hs, expr, startSec,
                    endSec, stepSec, ignoreLabel, staleDf))
                  .map(_.limit(MaxQueryCells + 1).collect())
                  .getOrElse(Array.empty[org.apache.spark.sql.Row])
              else Array.empty[org.apache.spark.sql.Row]
            val fl = storeSamples().map { df =>
              PromQL.eval(df, expr, startSec, endSec, stepSec,
                  ignoreLabel = ignoreLabel,
                  rollup = RollupStore.ladder(storePath,
                    RemoteWrite.rollupIntervalSec,
                    RemoteWrite.rollupLadderIntervalSec),
                  // opt-in native estimator over the hist sibling —
                  // opened only when the expression actually carries
                  // a histogram_quantile/fraction node, so `up` or
                  // rate() queries never pay the sibling's existence
                  // probe + manifest read
                  nativeHist =
                    if (RemoteWrite.nativeHistogramQuantile &&
                        PromQL.usesNativeEstimators(expr))
                      RemoteWrite.histStoreDf(spark, storePath)
                    else None,
                  // staleness markers END series at the instant
                  // lookback (one exists() probe per query; the
                  // sibling only exists once a marker ever landed)
                  stale = staleDf)
                // bound the collect IN-PLAN, like the metadata caps
                .limit(MaxQueryCells + 1)
                .collect()
            }.getOrElse(Array.empty[org.apache.spark.sql.Row])
            (fl, hl)
          })
          if (rows.length + histRows.length > MaxQueryCells) {
            json(ex, s"""{"status":"error","errorType":"execution",""" +
              s""""error":"query would return more than $MaxQueryCells samples"}""", 422)
          } else {
            // sort()/sort_desc()/sort_by_label() roots: the plan
            // already materialized the presentation ORDER BY (and
            // collect() preserved it) — keep series in first-
            // appearance order instead of re-sorting by identity,
            // or the one user-visible surface would discard the
            // very ordering the Sort node exists to produce
            val rootSorted = expr.isInstanceOf[PromQL.Sort] ||
              expr.isInstanceOf[PromQL.SortByLabel]
            val grouped = rows
              .map(r => ((Option(r.getString(0)), r.getSeq[String](1).toSeq),
                (r.getLong(2), r.getLong(3))))
              .groupBy(_._1).toSeq
            val bySeries =
              if (rootSorted) {
                val firstIdx = scala.collection.mutable.HashMap
                  .empty[(Option[String], Seq[String]), Int]
                rows.zipWithIndex.foreach { case (r, i) =>
                  firstIdx.getOrElseUpdate(
                    (Option(r.getString(0)), r.getSeq[String](1).toSeq), i)
                }
                grouped.sortBy { case (k, _) => firstIdx(k) }
              } else grouped
                .sortBy { case ((m, ls), _) => (m.getOrElse(""), ls.mkString(",")) }
            // histogram-leg series: decode each (series, step)'s
            // prompb bytes to the 3.x {"count","sum","buckets"} JSON
            // (driver-side, bounded by the cell cap above); an
            // uncarryable schema falls out silently like /read's
            // skip ledger
            val histSeries: Seq[((Option[String], Seq[String]), Seq[(Long, String)])] =
              histRows.toSeq.flatMap { r =>
                val h = graft.ingest.NativeHistogram.decode(
                  graft.ingest.ProtoWire.reader(r.getAs[Array[Byte]](3)))
                graft.ingest.NativeHistogram.toJson(h).map(j =>
                  ((Option(r.getString(0)), r.getSeq[String](1).toSeq),
                    (r.getLong(2), j)))
              }.groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._1))
                .toSeq
            val histByKey = histSeries.toMap
            val floatKeys = bySeries.map(_._1).toSet
            // mixed vector: float and histogram series side by side
            // in ONE identity order. A series present in BOTH arms
            // (a target migrated between classic float and native
            // histogram mid-window) keeps both on the RANGE surface:
            // the matrix entry carries "values" AND "histograms"
            // (Prometheus 3.x's own shape for mixed series). The
            // instant surface answers the HISTOGRAM arm on a
            // collision — both legs emit at the same grid step, so
            // there is no per-arm recency to compare without a
            // unified store walk; a float-after-histogram rollback
            // is shadowed for at most one lookback window (documented
            // divergence from Prometheus's single-stream
            // newest-sample rule). Sort roots can't be
            // histogram-valued, so the rootSorted order is always
            // float-only.
            val merged: Seq[((Option[String], Seq[String]),
                (Option[Seq[(Long, Long)]], Option[Seq[(Long, String)]]))] =
              bySeries.map { case (k, pts) =>
                (k, (Some(pts.map(_._2).toSeq), histByKey.get(k))) } ++
              histSeries.filterNot { case (k, _) => floatKeys.contains(k) }
                .map { case (k, hps) => (k, (None, Some(hps))) }
            val ordered =
              if (rootSorted || histSeries.isEmpty) merged
              else merged.sortBy { case ((m, ls), _) =>
                (m.getOrElse(""), ls.mkString(",")) }
            // 3.x limit=: series-count cap with a warning on
            // truncation (applied AFTER ordering, so the kept
            // prefix is deterministic)
            val truncated = limit > 0 && ordered.size > limit
            val shown = if (limit > 0) ordered.take(limit) else ordered
            val warn =
              if (truncated)
                ""","warnings":["results truncated due to limit"]"""
              else ""
            def valuesJson(pts: Seq[(Long, Long)]): String =
              pts.sortBy(_._1)
                .map { case (t, v) => s"""[$t,"${PromQL.formatE6(v)}"]""" }
                .mkString("[", ",", "]")
            def histsJson(hps: Seq[(Long, String)]): String =
              hps.map { case (t, j) => s"""[$t,$j]""" }
                .mkString("[", ",", "]")
            val body =
              if (rangeMode) shown.map { case ((m, ls), (fOpt, hOpt)) =>
                val parts =
                  fOpt.map(p => s""""values":${valuesJson(p)}""").toSeq ++
                  hOpt.map(h => s""""histograms":${histsJson(h)}""")
                s"""{"metric":${labelsJson(m, ls)},${parts.mkString(",")}}"""
              }.mkString(
                s"""{"status":"success"$warn,"data":{"resultType":"matrix","result":[""",
                ",", "]}}")
              else shown.map { case ((m, ls), (fOpt, hOpt)) =>
                val arm = (fOpt, hOpt) match {
                  case (_, Some(hps)) =>
                    val (ht, hj) = hps.maxBy(_._1)
                    s""""histogram":[$ht,$hj]"""
                  case (Some(pts), _) =>
                    val (ft, fv) = pts.maxBy(_._1)
                    s""""value":[$ft,"${PromQL.formatE6(fv)}"]"""
                  case (None, None) => "" // unreachable: a key has an arm
                }
                s"""{"metric":${labelsJson(m, ls)},$arm}"""
              }.mkString(
                s"""{"status":"success"$warn,"data":{"resultType":"vector","result":[""",
                ",", "]}}")
            json(ex, body)
          }
      }
    }

    // Grafana feature-detects its Prometheus datasource via
    // buildinfo; answering a modern version unlocks the standard
    // query editor against graft's query API
    server.createContext("/api/v1/status/buildinfo", (ex: HttpExchange) => guarded(ex) {
      json(ex, """{"status":"success","data":{"version":"2.45.0","application":"graft"}}""")
    })

    // liveness/readiness (Prometheus's /-/healthy and /-/ready —
    // what k8s probes and load balancers hit). The server being able
    // to run the handler IS the health signal, like Prometheus's.
    server.createContext("/-/healthy", (ex: HttpExchange) => guarded(ex) {
      text(ex, 200, "graft is Healthy.\n")
    })
    server.createContext("/-/ready", (ex: HttpExchange) => guarded(ex) {
      text(ex, 200, "graft is Ready.\n")
    })

    // /api/v1/metadata: metric TYPE/HELP/UNIT off the sibling
    // metadata store (PRW 2.0 TimeSeries field 5 and OTLP
    // description/unit land there on write). Distinct entries per
    // metric, newest first — different targets may ship different
    // help text, and Prometheus serves them all; `metric=` filters,
    // `limit` caps metrics, `limit_per_metric` caps entries. A store
    // that never saw metadata answers the truthful empty set —
    // success, never 404, or Grafana's metadata probe errors on
    // every dashboard load.
    server.createContext("/api/v1/metadata", (ex: HttpExchange) => guarded(ex) {
      val params = reqParams(ex)
      val pmap = params.toMap
      val metricFilter = pmap.get("metric").filter(_.nonEmpty)
      // limit/limit_per_metric validate like the query APIs' limit=:
      // a non-numeric or negative value is the client's 400 bad_data
      // (Prometheus rejects an unparsable limit), never a silent
      // "unlimited" coercion or an empty 200. 0 stays a truthful
      // truncate-to-zero (Prometheus caps at the parsed value).
      def capParam(name: String): Int =
        pmap.get(name) match {
          case None => Int.MaxValue
          case Some(v) => v.toIntOption.filter(_ >= 0).getOrElse(
            throw new BadParam(s"$name must be a non-negative integer: $v"))
        }
      val limit = capParam("limit")
      val limitPer = capParam("limit_per_metric")
      val mdPath = RemoteWrite.metadataPath(storePath)
      val entries: Seq[(String, String, String, String)] =
        if (limit <= 0 || limitPer <= 0) Nil
        else SamplesStore.readLocked(mdPath) {
          if (!SamplesStore.exists(spark, mdPath)) Nil
          else {
            import org.apache.spark.sql.functions.{col, max => fmax}
            var df = SamplesStore.read(spark, mdPath)
            metricFilter.foreach(m0 => df = df.filter(col("metric") === m0))
            // distinct (metric, entry) with the newest stamp — the
            // aggregation runs distributed; only the distinct metadata
            // set (small by construction) ever reaches the driver
            df.groupBy(col("metric"), col("labels"))
              .agg(fmax(col("ts_us")).as("ts_us"))
              .limit(MetaValuesLimit)
              .collect().toSeq
              .map { r =>
                val ls = r.getSeq[String](r.fieldIndex("labels"))
                def part(p: String) =
                  ls.find(_.startsWith(p)).map(_.stripPrefix(p)).getOrElse("")
                (r.getAs[String]("metric"), part("__type="), part("__help="),
                  part("__unit="), r.getAs[Long]("ts_us"))
              }
              .sortBy { case (m, t, h, u, ts) => (m, -ts, t, h, u) }
              .map { case (m, t, h, u, _) => (m, t, h, u) }
          }
        }
      val byMetric = entries.distinct.groupBy(_._1).toSeq.sortBy(_._1)
        .take(limit)
      val body = byMetric.map { case (m, es) =>
        val items = es.take(limitPer).map { case (_, t, h, u) =>
          s"""{"type":"${esc(t)}","help":"${esc(h)}","unit":"${esc(u)}"}"""
        }.mkString(",")
        s""""${esc(m)}":[$items]"""
      }.mkString("""{"status":"success","data":{""", ",", "}}")
      json(ex, body)
    })

    // /api/v1/format_query: parse + pretty-print (Grafana's "format
    // query" button; the canonical form round-trips through the parser
    // by construction, spec-fuzzed). /api/v1/parse_query (Prometheus
    // 3.x experimental): parse + AST-as-JSON — Prometheus's
    // translateAST shapes for the shared node kinds (PromQL.astJson
    // documents the deviations).
    Seq[(String, PromQL.Expr => String)](
      "/api/v1/format_query" -> (e => s""""${esc(PromQL.format(e))}""""),
      "/api/v1/parse_query" -> PromQL.astJson
    ).foreach { case (path, render) =>
      server.createContext(path, (ex: HttpExchange) => guarded(ex) {
        json(ex, s"""{"status":"success","data":${render(queryParam(reqParams(ex)))}}""")
      })
    }

    // The remaining Grafana-datasource probes, answered truthfully
    // empty (success shapes, never 404): graft has no scrape loop →
    // no targets; no alertmanager ring; no exemplar storage (prompb
    // v1 drops exemplars on ingest).
    server.createContext("/api/v1/targets", (ex: HttpExchange) => guarded(ex) {
      json(ex, """{"status":"success","data":{"activeTargets":[],"droppedTargets":[]}}""")
    })
    // /api/v1/status/runtimeinfo: process facts Grafana's datasource
    // settings page probes — truthful values, Prometheus's field names
    val startedAt = java.time.Instant.now().toString
    server.createContext("/api/v1/status/runtimeinfo", (ex: HttpExchange) => guarded(ex) {
      val body = s"""{"status":"success","data":{""" +
        s""""startTime":"$startedAt",""" +
        s""""CWD":"${esc(System.getProperty("user.dir", "/"))}",""" +
        s""""reloadConfigSuccess":true,"lastConfigTime":"$startedAt",""" +
        s""""storageRetention":"${RemoteWrite.retentionDays}d",""" +
        s""""goroutineCount":${Thread.activeCount()},""" +
        s""""GOMAXPROCS":${Runtime.getRuntime.availableProcessors()}}}"""
      json(ex, body)
    })

    // /api/v1/status/config: the effective configuration rendered as
    // YAML-ish text (graft is flag-configured; the yaml field carries
    // the same map /status/flags serves, so the two never disagree)
    server.createContext("/api/v1/status/config", (ex: HttpExchange) => guarded(ex) {
      val yaml = Seq(
        s"store.path: $storePath",
        s"read.ignore-label: ${ignoreLabel.getOrElse("")}",
        s"read.ignore-hints: $ignoreHints",
        s"read.max-samples: $maxReadSamples",
        s"store.rollup-interval: ${RemoteWrite.rollupIntervalSec}",
        s"store.rollup-ladder-interval: ${RemoteWrite.rollupLadderIntervalSec}",
        s"store.retention-days: ${RemoteWrite.retentionDays}").mkString("\n")
      json(ex, (s"""{"status":"success","data":{"yaml":"${esc(yaml)}"}}"""))
    })

    // /api/v1/notifications (Prometheus 3.x): active server
    // notifications — none, truthfully
    server.createContext("/api/v1/notifications", (ex: HttpExchange) => guarded(ex) {
      json(ex, """{"status":"success","data":[]}""")
    })

    // /api/v1/targets/metadata: per-TARGET metric metadata. graft
    // has no scrape targets (a remote-storage server, like the
    // reference), so the truthful answer is the empty set — success,
    // never 404 (Grafana's metadata probes fall back to
    // /api/v1/metadata, which this store serves for real). Must
    // register BEFORE /api/v1/targets: com.sun.net.httpserver routes
    // by longest context prefix either way, but keep the pair
    // adjacent so the contract is visible.
    server.createContext("/api/v1/targets/metadata", (ex: HttpExchange) => guarded(ex) {
      json(ex, """{"status":"success","data":[]}""")
    })

    server.createContext("/api/v1/alertmanagers", (ex: HttpExchange) => guarded(ex) {
      json(ex, """{"status":"success","data":{"activeAlertmanagers":[],"droppedAlertmanagers":[]}}""")
    })
    // /api/v1/status/tsdb: Prometheus's head-cardinality stats — the
    // first endpoint anyone opens in a cardinality incident. ONE
    // capped scan: distinct series counted per metric (the metric
    // domain is tiny next to samples); numSeries derives from the
    // same rows.
    server.createContext("/api/v1/status/tsdb", (ex: HttpExchange) => guarded(ex) {
      // one rollup(metric) aggregate: the null-metric row is the
      // EXACT grand total (sorts first, so the cap can't drop it) —
      // see Meta.seriesStats
      val rows = SamplesStore.readLocked(storePath) {
        storeSamples().map { df =>
          graft.operators.Meta.seriesStats(df)
            .limit(MetaValuesLimit)
            .collect()
            .map(r => (Option(r.getString(0)), r.getLong(1))).toSeq
        }.getOrElse(Seq.empty)
      }
      val total = rows.collectFirst { case (None, n) => n }.getOrElse(0L)
      val items = rows.collect { case (Some(m), n) => (m, n) }
        .take(10).map { case (m, n) =>
          s"""{"name":"${esc(m)}","value":$n}"""
        }.mkString(",")
      json(ex, s"""{"status":"success","data":{"headStats":{"numSeries":$total},""" +
        s""""seriesCountByMetricName":[$items]}}""")
    })

    // /api/v1/query_exemplars: exemplars decoded off remote-write
    // (v1 field 3 / v2 field 4) live in the SIBLING exemplar store;
    // serve them back filtered by the expression's selectors and the
    // time range — Prometheus's semantics (it extracts the selectors
    // from an arbitrary expression the same way). A store that never
    // saw an exemplar answers the truthful empty set, never 404
    // (Grafana probes this when exemplar display is on).
    server.createContext("/api/v1/query_exemplars", (ex: HttpExchange) => guarded(ex) {
      val params = reqParams(ex)
      val sets = PromQL.selectorMatcherSets(queryParam(params))
      val exPath = RemoteWrite.exemplarPath(storePath)
      val rows = SamplesStore.readLocked(exPath) {
        anyOf(sets).filter(_ => SamplesStore.exists(spark, exPath)).map { pred =>
          import org.apache.spark.sql.functions.col
          val m = params.toMap
          def sec(k: String): Option[Long] = m.get(k).flatMap(parseTimeParam)
          var df = timeBoundedParams(SamplesStore.read(spark, exPath), params)
          sec("start").foreach(t0 => df = df.filter(col("ts_us") >= t0 * 1000000L))
          sec("end").foreach(t1 => df = df.filter(col("ts_us") <= t1 * 1000000L + 999999L))
          // union of the expression's selectors on ONE scan, like
          // /api/v1/series; bounded collect like every metadata
          // endpoint
          df.filter(pred).limit(MetaValuesLimit).collect()
        }.getOrElse(Array.empty[org.apache.spark.sql.Row])
      }
      // group by the SERIES labels (the "__x_" entries are the
      // exemplar's own labels; split the two spaces back apart)
      val bySeries = rows.toSeq
        .map { r =>
          val all = r.getSeq[String](r.fieldIndex("labels")).toSeq
          val (exLs, serLs) = all.partition(_.startsWith("__x_"))
          ((r.getAs[String]("metric"), serLs),
            (exLs.map(_.stripPrefix("__x_")),
              r.getAs[Long]("ts_us"), r.getAs[Double]("value")))
        }
        .groupBy(_._1).toSeq
        .sortBy { case ((mtr, ls), _) => (mtr, ls.mkString(",")) }
      val body = bySeries.map { case ((mtr, serLs), exs) =>
        val items = exs.sortBy(_._2._2).map { case (_, (exLs, tsUs, v)) =>
          val tsTxt = "%d.%03d".formatLocal(java.util.Locale.ROOT,
            tsUs / 1000000L, tsUs % 1000000L / 1000L)
          s"""{"labels":${labelsJson(None, exLs)},"value":"${
            PromQL.formatE6(math.floor(v * 1e6 + 0.5).toLong)
          }","timestamp":$tsTxt}"""
        }.mkString(",")
        s"""{"seriesLabels":${labelsJson(Some(mtr), serLs)},"exemplars":[$items]}"""
      }.mkString("""{"status":"success","data":[""", ",", "]}")
      json(ex, body)
    })

    // /api/v1/status/flags: the effective serving configuration, in
    // Prometheus's flag-map shape (string values)
    server.createContext("/api/v1/status/flags", (ex: HttpExchange) => guarded(ex) {
      val flags = Seq(
        "store.path" -> storePath,
        "read.ignore-label" -> ignoreLabel.getOrElse(""),
        "read.ignore-hints" -> ignoreHints.toString,
        "read.max-samples" -> maxReadSamples.toString,
        "store.rollup-interval" -> RemoteWrite.rollupIntervalSec.toString,
        "store.rollup-ladder-interval" ->
          RemoteWrite.rollupLadderIntervalSec.toString,
        "write.otlp-delta-to-cumulative" ->
          RemoteWrite.otlpConvertDelta.toString,
        "write.otlp-translation-suffixes" ->
          RemoteWrite.otlpTranslationSuffixes.toString,
        "promql.native-histogram-quantile" ->
          RemoteWrite.nativeHistogramQuantile.toString,
        "write.ct-zero-ingestion" ->
          RemoteWrite.ctZeroIngestion.toString,
        "write.otlp-promote-scope" ->
          RemoteWrite.otlpPromoteScope.toString,
        "rule.record-count" -> RemoteWrite.recordingRules.size.toString,
        "rule.alert-count" -> HttpServe.alertRules.size.toString,
        // wire-format drop ledger (see OpsMetrics): Prometheus 3.x
        // native histograms and OTLP histogram/summary points have no
        // float64-store shape — dropped counts surface here so the
        // limitation is diagnosable from the status surface alone
        "write.dropped-histogram-samples" ->
          graft.OpsMetrics(spark).droppedHistograms.value.toString,
        "write.converted-histograms" ->
          graft.OpsMetrics(spark).convertedHistograms.value.toString,
        "write.otlp-dropped-points" ->
          graft.OpsMetrics(spark).otlpDroppedPoints.value.toString)
        .map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }
        .mkString(",")
      json(ex, s"""{"status":"success","data":{$flags}}""")
    })

    // the configured recording + alerting rules, in Prometheus's
    // /api/v1/rules shape — what Grafana's rules UI lists
    server.createContext("/api/v1/rules", (ex: HttpExchange) => guarded(ex) {
      val recording = RemoteWrite.recordingRules.map { r =>
        s"""{"name":"${esc(r.recordName)}","query":"${esc(r.expr)}",""" +
          s""""duration":0,"labels":{},"health":"ok","type":"recording"}"""
      }
      val alerting = HttpServe.alertRules.map { r =>
        s"""{"name":"${esc(r.alertname)}","query":"${esc(r.expr)}",""" +
          s""""duration":${r.forSec},"labels":{},"health":"ok","type":"alerting"}"""
      }
      val rules = (recording ++ alerting).mkString(",")
      val body =
        if (rules.isEmpty) """{"status":"success","data":{"groups":[]}}"""
        else
          s"""{"status":"success","data":{"groups":[{"name":"graft",""" +
            s""""file":"","interval":${RemoteWrite.compactCheckIntervalMs / 1000},""" +
            s""""rules":[$rules]}]}}"""
      json(ex, body)
    })

    // the current alert set, evaluated on demand at the data edge
    server.createContext("/api/v1/alerts", (ex: HttpExchange) => guarded(ex) {
      val alerts = SamplesStore.readLocked(storePath, RemoteWrite.stalePath(storePath)) {
        if (!SamplesStore.exists(spark, storePath)) Nil
        else Alerting.currentAlerts(spark, storePath, HttpServe.alertRules)
      }
      val items = alerts.map { case (ls, state, t) =>
        val at = java.time.Instant.ofEpochSecond(t).toString
        s"""{"labels":${labelsJson(None, ls)},"annotations":{},""" +
          s""""state":"$state","activeAt":"$at","value":"1"}"""
      }
      json(ex, s"""{"status":"success","data":{"alerts":[${items.mkString(",")}]}}""")
    })

    server.createContext("/api/v1/query_range", (ex: HttpExchange) => guarded(ex) {
      servePromQuery(ex, rangeMode = true)
    })
    server.createContext("/api/v1/query", (ex: HttpExchange) => guarded(ex) {
      // JDK context matching is longest-prefix: query_range binds its
      // own context above; anything else under this prefix that is
      // not exactly /api/v1/query is an unknown path.
      if (ex.getRequestURI.getPath != "/api/v1/query")
        text(ex, 404, "graft")
      else servePromQuery(ex, rangeMode = false)
    })

    server.start()
    new GraftHttpServer(server, pool)
  }

  /** Prometheus's query_range resolution cap (11k points/series). */
  val MaxQuerySteps = 11000L

  /** Cap on (series × steps) result cells one query may collect to
    * the driver — the query API's analogue of maxReadSamples. */
  val MaxQueryCells = 1000000

  /** True when the failure (anywhere in the cause chain) is the
    * transport telling us the CLIENT abandoned the connection — the
    * JDK server surfaces an aborted peer as an IOException from the
    * exchange's streams with one of these kernel/stream messages.
    * The analogue of the reference's `context.Canceled` check
    * (main.go:150): a canceled request is the client's choice, not a
    * server error, and must not count toward error rates. */
  private[graft] def isClientDisconnect(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8).exists {
      case io: java.io.IOException =>
        val m = Option(io.getMessage).getOrElse("").toLowerCase
        m.contains("broken pipe") || m.contains("connection reset") ||
        m.contains("stream is closed") || m.contains("stream closed") ||
        m.contains("connection closed") || m.contains("insufficient bytes written")
      case _ => false
    }

  /** One metadata-API time bound: unix seconds (float allowed, the
    * Prometheus HTTP convention) with RFC3339 as the fallback — which
    * is what Grafana actually sends by default, so without it the
    * most common client silently lost the bound and the label scan
    * read ALL of history. An unparsable value yields None: the bound
    * drops and the answer is a capped superset — the lenient choice a
    * variables query prefers over a 400. */
  private[graft] def parseTimeParam(v: String): Option[Long] =
    scala.util.Try(v.toDouble.toLong).toOption
      .orElse(scala.util.Try(
        java.time.OffsetDateTime.parse(v).toInstant.getEpochSecond).toOption)

  /** Prometheus metadata queries carry optional start/end; bounding
    * them prunes the scan to the queried DAY PARTITIONS — on a
    * multi-year store an unbounded label scan reads all of history
    * for no reason. The bounds are deliberately asymmetric: `date` is
    * each partition's day START, so `start` FLOORS to its own
    * day-start (a bound anywhere inside a day must keep that whole
    * partition) while `end` compares raw (`date <= end` already keeps
    * exactly the days that begin inside the bound) — together the
    * kept partitions are precisely those overlapping [start, end].
    * `params` are the request's decoded parameters. */
  private[graft] def timeBoundedParams(df: org.apache.spark.sql.DataFrame,
      params: Seq[(String, String)]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val m = params.toMap
    def sec(k: String): Option[Long] = m.get(k).flatMap(parseTimeParam)
    val lo = sec("start").map(s => df.filter(col("date") >= s / 86400 * 86400))
      .getOrElse(df)
    sec("end").map(e => lo.filter(col("date") <= e)).getOrElse(lo)
  }

  final class ProtoTooLargeException(msg: String) extends RuntimeException(msg)
}
