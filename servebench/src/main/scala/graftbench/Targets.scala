package graftbench

import java.net.URI
import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Duration

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.ingest.{PromRemoteCodec, SamplesStore}
import graft.serve.{HttpServe, PromQL, RemoteRead, RemoteWrite}

/** A query_range answer: labels → (epoch s, value) per step. */
object Answer { type Matrix = Map[Map[String, String], Vector[(Long, Double)]] }
import Answer.Matrix

/** What the load clients call: the HTTP server, or the handlers'
  * public functions called directly (the traced run). Each call
  * returns a decoder for its answer, so that the client's own
  * decoding stays outside the timed request. */
trait Target {
  def write(body: Array[Byte]): Unit
  def queryRange(expr: String, start: Long, end: Long, step: Long): () => Matrix
  def read(body: Array[Byte], chunked: Boolean): () => Vector[Proto.Series]
  def series(selector: String, start: Long, end: Long): () => Set[Map[String, String]]
}

final class RequestFailed(msg: String) extends RuntimeException(msg)

/** JDK HttpClient against graft's HttpServe on loopback. The client's
  * own async work runs on a two-thread pool; the load threads call
  * the blocking `send`. */
final class HttpTarget(port: Int) extends Target {
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(2, (r: Runnable) => {
    val t = new Thread(r, "bench-http-client"); t.setDaemon(true); t
  })
  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).executor(pool).build()
  private val base = s"http://127.0.0.1:$port"
  private val json = new ObjectMapper()

  def close(): Unit = { pool.shutdownNow(); () }

  private def send(req: HttpRequest): HttpResponse[Array[Byte]] = {
    val resp = client.send(req, HttpResponse.BodyHandlers.ofByteArray())
    if (resp.statusCode / 100 != 2)
      throw new RequestFailed(s"HTTP ${resp.statusCode}: " +
        new String(resp.body, UTF_8).take(200).replace('\n', ' '))
    resp
  }
  private def get(path: String): Array[Byte] =
    send(HttpRequest.newBuilder(URI.create(base + path)).timeout(Duration.ofSeconds(60)).GET().build()).body
  private def data(body: Array[Byte]): JsonNode = {
    val n = json.readTree(body)
    if (n.path("status").asText != "success") throw new RequestFailed(s"status ${n.path("status")}")
    n.path("data")
  }
  private def enc(s: String) = URLEncoder.encode(s, UTF_8)

  def write(body: Array[Byte]): Unit = {
    send(HttpRequest.newBuilder(URI.create(base + "/write")).timeout(Duration.ofSeconds(60))
      .header("Content-Type", "application/x-protobuf").header("Content-Encoding", "snappy")
      .header("X-Prometheus-Remote-Write-Version", "0.1.0")
      .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build())
    ()
  }

  def queryRange(expr: String, start: Long, end: Long, step: Long): () => Matrix = {
    val body = get(s"/api/v1/query_range?query=${enc(expr)}&start=$start&end=$end&step=$step")
    () => {
    val d = data(body)
    if (d.path("resultType").asText != "matrix") throw new RequestFailed("resultType is not matrix")
    d.path("result").elements.asScala.map { s =>
      val ls = s.path("metric").properties.asScala.iterator.map(e => e.getKey -> e.getValue.asText).toMap
      ls -> s.path("values").elements.asScala.map(p => (p.get(0).asLong, p.get(1).asText.toDouble)).toVector
    }.toMap
    }
  }

  def read(body: Array[Byte], chunked: Boolean): () => Vector[Proto.Series] = {
    val resp = send(HttpRequest.newBuilder(URI.create(base + "/read")).timeout(Duration.ofSeconds(60))
      .header("Content-Type", "application/x-protobuf").header("Content-Encoding", "snappy")
      .header("X-Prometheus-Remote-Read-Version", "0.1.0")
      .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build())
    val streamed = resp.headers.firstValue("Content-Type").orElse("")
      .startsWith("application/x-streamed-protobuf")
    if (streamed != chunked) throw new RequestFailed(s"unexpected response type (streamed=$streamed)")
    () => if (chunked) Proto.chunkedResponse(resp.body) else Proto.readResponse(resp.body)
  }

  def series(selector: String, start: Long, end: Long): () => Set[Map[String, String]] = {
    val body = get(s"/api/v1/series?match[]=${enc(selector)}&start=$start&end=$end")
    () => data(body).elements.asScala.map { s =>
      s.properties.asScala.iterator.map(e => e.getKey -> e.getValue.asText).toMap
    }.toSet
  }
}

/** The same requests without HTTP: each call does what the matching
  * HttpServe handler does with the store, through graft's public
  * functions. With `spans`, every call into a layer is a span and the
  * per-layer side measurements are recorded; without, the calls run
  * bare (the tracing-overhead baseline). */
final class DirectTarget(spark: SparkSession, store: String, spans: Option[Spans]) extends Target {
  private val ignoreLabel = Some("remote=clickhouse")
  private def span[T](name: String)(f: => T): T = spans.fold(f)(_(name)(f))
  private def request[T](kind: String)(f: => T): T = spans.fold(f)(_.request(kind)(f))

  /** Side measurements of the traced run, by name. */
  val side = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.ConcurrentLinkedQueue[Double]]()
  private def note(name: String, v: Double): Unit =
    if (spans.isDefined) side.computeIfAbsent(name, _ => new java.util.concurrent.ConcurrentLinkedQueue[Double]()).add(v)
  private def timedMs[T](f: => T): (T, Double) = { val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e6) }
  /** The store's `k=v` label strings as a map. */
  private def labelMap(ls: Seq[String]): Map[String, String] =
    ls.map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap

  def write(body: Array[Byte]): Unit = {
    if (spans.isDefined) {
      // the codec's share, timed apart from the handler on the same body
      note("codec.write_decode_ms", timedMs(PromRemoteCodec.decodeNegotiated(None, body))._2)
      note("codec.write_body_bytes", body.length.toDouble)
    }
    request("write")(span("remote_write.serve")(RemoteWrite.serveCounted(spark, store, body, None)))
    ()
  }

  def queryRange(expr: String, start: Long, end: Long, step: Long): () => Matrix = {
    val rows = request("query_range") {
      val e = span("promql.parse")(PromQL.parse(expr)).fold(err => throw new RequestFailed(err), identity)
      SamplesStore.readLocked(store) {
        val stale = RemoteWrite.staleStoreDf(spark, store)
        val df = span("store.open")(SamplesStore.read(spark, store))
        val plan = span("promql.build")(PromQL.eval(df, e, start, end, step,
          ignoreLabel = ignoreLabel, stale = stale).limit(HttpServe.MaxQueryCells + 1))
        span("promql.plan")(plan.queryExecution.executedPlan)
        val out = span("promql.exec")(plan.collect())
        if (spans.isDefined) {
          plan.queryExecution.tracker.phases.foreach { case (p, s) => note(s"promql.${p}_ms", s.durationMs.toDouble) }
          note("promql.rows_out", out.length.toDouble)
        }
        out
      }
    }
    () => rows.toVector.map { r: Row =>
      val ls = labelMap(r.getSeq[String](1))
      (Option(r.getString(0)).fold(ls)(m => ls + ("__name__" -> m)), (r.getLong(2), r.getLong(3) / 1e6))
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sortBy(_._1) }
  }

  def read(body: Array[Byte], chunked: Boolean): () => Vector[Proto.Series] = {
    val (resp, ms) = timedMs(request("read") {
      SamplesStore.readLocked(store) {
        val hist = RemoteWrite.histStoreDf(spark, store)
        val stale = RemoteWrite.staleStoreDf(spark, store)
        val df = span("store.open")(SamplesStore.read(spark, store))
        if (chunked) span("remote_read.chunked")(RemoteRead.serveChunked(df, body, ignoreLabel,
          histStore = hist, staleStore = stale))
        else span("remote_read.serve")(RemoteRead.serve(df, body, ignoreLabel, transientRetries = 2,
          histStore = hist, staleStore = stale))
      }
    })
    if (spans.isDefined && !chunked) {
      val decoded = PromRemoteCodec.decodeReadResponsePerQuery(resp)
      note("codec.read_encode_ms", timedMs(PromRemoteCodec.encodeReadResponseResults(decoded))._2)
      note("codec.read_response_bytes", resp.length.toDouble)
      val n = decoded.iterator.flatten.map(_.samples.size).sum
      note("remote_read.samples_out", n.toDouble)
      if (n > 0) note("remote_read.ns_per_sample_out", ms * 1e6 / n)
    }
    () => if (chunked) Proto.chunkedResponse(resp) else Proto.readResponse(resp)
  }

  def series(selector: String, start: Long, end: Long): () => Set[Map[String, String]] = {
    val ms = graft.operators.Matchers.parseSelector(selector)
      .getOrElse(throw new RequestFailed(s"bad selector $selector"))
    val rows = request("series") {
      SamplesStore.readLocked(store) {
        val df = span("store.open")(SamplesStore.read(spark, store))
        span("series.exec")(df.filter(col("date") >= start / 86400 * 86400 && col("date") <= end)
          .filter(graft.operators.Matchers.compilePromQL(ms, ignoreLabel))
          .select(col("metric"), col("labels")).distinct().orderBy("metric", "labels")
          .limit(HttpServe.MetaValuesLimit).collect())
      }
    }
    () => rows.map(r => labelMap(r.getSeq[String](1)) + ("__name__" -> r.getString(0))).toSet
  }
}

/** The traced run's target: requests rotate over HTTP, bare direct
  * calls and traced direct calls, so all three are measured in one
  * window under the same load. Each request shape (a panel's
  * expression, a /read response type) rotates on its own, so no
  * route gets more of the costly shapes. Records the service time of
  * the untraced routes; the traced route's are its spans. */
final class MixTarget(http: Target, bare: Target, traced: Target) extends Target {
  private val turn = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
  private val times = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Double)]()

  private def route[T](kind: String, shape: String)(f: Target => T): T = {
    val (name, t) = turn.computeIfAbsent(shape, _ => new java.util.concurrent.atomic.AtomicLong())
      .getAndIncrement() % 3 match {
      case 0 => ("http", http)
      case 1 => ("bare", bare)
      case _ => ("traced", traced)
    }
    val t0 = System.nanoTime()
    val r = f(t)
    if (name != "traced") times.add((name, kind, (System.nanoTime() - t0) / 1e6))
    r
  }

  /** Median service time of `kind` requests sent by `routeName`. */
  def p50(routeName: String, kind: String): Option[Double] = {
    val xs = times.asScala.collect { case (r, k, ms) if r == routeName && k == kind => ms }.toSeq
    if (xs.isEmpty) None else Some(Bench.median(xs))
  }
  def counts: Map[String, Int] =
    times.asScala.toSeq.groupBy { case (r, k, _) => s"$r.$k" }.map { case (k, v) => k -> v.size }

  def write(body: Array[Byte]): Unit = route("write", "write")(_.write(body))
  def queryRange(expr: String, start: Long, end: Long, step: Long): () => Matrix =
    route("query_range", expr)(_.queryRange(expr, start, end, step))
  def read(body: Array[Byte], chunked: Boolean): () => Vector[Proto.Series] =
    route("read", s"read-$chunked")(_.read(body, chunked))
  def series(selector: String, start: Long, end: Long): () => Set[Map[String, String]] =
    route("series", "series")(_.series(selector, start, end))
}
