package graft

import java.net.{HttpURLConnection, URL}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import com.sun.net.httpserver.HttpExchange

import org.apache.spark.sql.functions._

import graft.ingest.PromRemoteCodec
import graft.ingest.PromRemoteCodec.{PromLabel, PromSample, PromTimeSeries, PromWriteRequest}
import graft.operators.{Matchers, ReadQuery}
import graft.serve.{HistChunks, HttpServe, RemoteRead, RemoteWrite}
import graft.sources.Tables

/** The serving twins and the HTTP front door: write blob → store →
  * read blob, response-size bound, and the reference's status/header
  * contract (404 root, 500 on malformed, snappy+protobuf read reply). */
class ServeSpec extends SparkSpecBase {

  private def tmpStore(name: String): String = {
    val p = s"/tmp/graft_test/servespec_$name"
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(p), true)
    // the sibling exemplar/metadata/histogram stores must reset with
    // their primary
    fs.delete(new org.apache.hadoop.fs.Path(
      RemoteWrite.exemplarPath(p)), true)
    fs.delete(new org.apache.hadoop.fs.Path(
      RemoteWrite.metadataPath(p)), true)
    fs.delete(new org.apache.hadoop.fs.Path(
      RemoteWrite.histPath(p)), true)
    fs.delete(new org.apache.hadoop.fs.Path(
      RemoteWrite.stalePath(p)), true)
    p
  }

  /** Wait (up to a minute) until no background maintenance pass runs
    * or waits, so a count taken next sees no straggler. */
  private def awaitMaintenanceIdle(): Unit = {
    val deadline = System.currentTimeMillis() + 60000L
    while (!RemoteWrite.maintenanceIdle && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    assert(RemoteWrite.maintenanceIdle, "a maintenance pass outlived a minute")
  }

  private def writeBlob(metric: String, n: Int): Array[Byte] = {
    val series = (0 until n).map { i =>
      PromTimeSeries(
        Seq(PromLabel("__name__", metric), PromLabel("k", s"v$i")),
        Seq(PromSample(i.toDouble, 1704412800000L + i * 1000L)))
    }
    PromRemoteCodec.encodeWriteRequest(PromWriteRequest(series))
  }

  test("RemoteWrite.serve appends decoded samples to the store") {
    val store = tmpStore("write")
    val written = RemoteWrite.serve(spark, store, writeBlob("req_total", 7))
    assert(written === 7)
    val back = graft.ingest.SamplesStore.read(spark, store)
    assert(back.count() === 7)
    assert(back.select(col("metric")).distinct().collect().map(_.getString(0)).toSeq === Seq("req_total"))
    // second request appends, never overwrites
    RemoteWrite.serve(spark, store, writeBlob("req_total", 3))
    assert(graft.ingest.SamplesStore.read(spark, store).count() === 10)
  }

  test("serveAll lands N blobs as N serve calls do, one generation per store") {
    import graft.ingest.{NativeHistogram, SamplesStore}
    import PromRemoteCodec.{PromExemplar, PromMetadata}
    val v2 = Some("application/x-protobuf;proto=" + PromRemoteCodec.ProtoV2)
    // between them the blobs carry samples, an exemplar, metadata, a
    // native histogram, a stale marker and a created timestamp
    def blobsAt(t0: Long, name: String): Seq[Array[Byte]] = {
      val key = Seq(PromLabel("__name__", s"${name}_total"), PromLabel("k", "a"))
      Seq(
        PromTimeSeries(key, Seq(PromSample(1.0, t0), PromSample(2.0, t0 + 15000L)),
          exemplars = Seq(PromExemplar(Seq(PromLabel("trace_id", "t1")), 2.0, t0 + 15000L)),
          metadata = Some(PromMetadata(1, "Requests.", "")),
          createdTimestampMs = t0 - 60000L),
        PromTimeSeries(Seq(PromLabel("__name__", s"${name}_hist"), PromLabel("k", "a")), Nil,
          histograms = Seq(NativeHistogram.Hist(t0 + 30000L, 6.0, 4.5, 0, 0.001, 1.0,
            Seq((0, 2)), Seq(2L, 1L), Nil, Nil, Nil, Nil))),
        PromTimeSeries(key, Seq(PromSample(3.0, t0 + 30000L),
          PromSample(PromRemoteCodec.staleNaN, t0 + 45000L)))
      ).map(ts => PromRemoteCodec.encodeWriteRequestV2(PromWriteRequest(Seq(ts))))
    }
    val blobs = blobsAt(1704412800000L, "sa")
    val (batched, single) = (tmpStore("serveall_batched"), tmpStore("serveall_single"))
    def stores(p: String) = Seq(p, RemoteWrite.exemplarPath(p),
      RemoteWrite.metadataPath(p), RemoteWrite.histPath(p), RemoteWrite.stalePath(p))
    def gen(p: String): Long = {
      val root = new org.apache.hadoop.fs.Path(p)
      SamplesStore.latestSnapshot(
        root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
        .fold(0L)(_.gen)
    }
    def rows(p: String): Seq[String] = {
      val df = SamplesStore.read(spark, p)
      (if (df.columns.contains("hist")) df.withColumn("hist", hex(col("hist"))) else df)
        .collect().map(_.toString).sorted.toSeq
    }
    // the /metrics body's counters, less the store_* ones: one append
    // per store is the point of the batched form
    def counters(): Map[String, Long] = {
      awaitMaintenanceIdle()
      graft.OpsMetrics(spark).render.linesIterator.map(_.split(' ')).collect {
        case Array(n, v) if n.endsWith("_total") && !n.startsWith("store_") => n -> v.toLong
      }.toMap
    }
    def delta(write: => Unit): Map[String, Long] = {
      val before = counters()
      write
      counters().map { case (n, v) => n -> (v - before(n)) }
    }
    RemoteWrite.ctZeroIngestion = true
    try {
      // a fresh store's first append commits its gen-1 checkpoint;
      // seed both so the measured write is an ordinary delta
      Seq(batched, single).foreach(
        RemoteWrite.serveAll(spark, _, blobsAt(1704326400000L, "sa_seed"), v2))
      val (gens0, main0) = (stores(batched).map(gen), rows(batched).size)
      var written = 0L
      val batchedDelta = delta { written = RemoteWrite.serveAll(spark, batched, blobs, v2) }
      assert(stores(batched).map(gen) === gens0.map(_ + 1),
        "serveAll must commit each store exactly once")
      assert(written === rows(batched).size - main0, "serveAll returns the main store's new rows")
      val singleDelta = delta(blobs.foreach(RemoteWrite.serveCounted(spark, single, _, v2)))
      assert(batchedDelta === singleDelta)
      assert(batchedDelta("write_requests_total") === 3)
      assert(batchedDelta("write_exemplars_total") === 1)
      assert(batchedDelta("write_converted_histograms_total") === 1)
      stores(batched).zip(stores(single)).foreach { case (b, s) =>
        assert(rows(b).nonEmpty, b)
        assert(rows(b) === rows(s), b)
      }
    } finally RemoteWrite.ctZeroIngestion = false
  }

  test("serveAll with a malformed blob lands nothing and claims no CT zero") {
    val v2 = Some("application/x-protobuf;proto=" + PromRemoteCodec.ProtoV2)
    val ct = 1704412800000L
    val blob = PromRemoteCodec.encodeWriteRequestV2(PromWriteRequest(Seq(PromTimeSeries(
      Seq(PromLabel("__name__", "ctbatch_total")), Seq(PromSample(5.0, ct + 100000L)),
      createdTimestampMs = ct))))
    val store = tmpStore("serveall_malformed")
    RemoteWrite.ctZeroIngestion = true
    try {
      intercept[Throwable](RemoteWrite.serveAll(spark, store, Seq(blob, Array[Byte](1, 2, 3)), v2))
      assert(!graft.ingest.SamplesStore.exists(spark, store))
      // the valid blob's zero was never written, so a retry must land it
      RemoteWrite.serve(spark, store, blob, v2)
    } finally RemoteWrite.ctZeroIngestion = false
    assert(graft.ingest.SamplesStore.read(spark, store)
      .filter(col("value") === 0.0).count() === 1)
  }

  test("/write negotiates remote-write 2.0 by Content-Type proto=") {
    val store = tmpStore("writev2")
    val srv = HttpServe.start(spark, store)
    try {
      val base = s"http://localhost:${srv.port}"
      // v2 body under the v2 Content-Type: decoded, stored, and the
      // 2.0 written-count response headers confirm it
      val v2blob = PromRemoteCodec.encodeWriteRequestV2(
        PromRemoteCodec.decodeWriteRequest(writeBlob("v2_total", 4)))
      val (c1, _, h1) = post(s"$base/write", v2blob,
        Some("application/x-protobuf;proto=" + PromRemoteCodec.ProtoV2),
        respHeaders = Seq("X-Prometheus-Remote-Write-Samples-Written"))
      assert(c1 === 200)
      assert(h1.get("X-Prometheus-Remote-Write-Samples-Written") ===
        Some("4"))
      assert(graft.ingest.SamplesStore.read(spark, store).count() === 4)
      // a v1 body with no Content-Type still lands (1.x senders)
      assert(post(s"$base/write", writeBlob("v2_total", 2))._1 === 200)
      assert(graft.ingest.SamplesStore.read(spark, store).count() === 6)
      // an explicit v1 proto= is honored too
      assert(post(s"$base/write", writeBlob("v2_total", 1),
        Some("application/x-protobuf; proto=" + PromRemoteCodec.ProtoV1))
        ._1 === 200)
      // a proto this receiver doesn't speak is 415, not 500
      val (c415, b415, _) = post(s"$base/write", v2blob,
        Some("application/x-protobuf;proto=io.prometheus.write.v9.Request"))
      assert(c415 === 415, new String(b415, "UTF-8"))
    } finally srv.stop()
  }

  test("/api/v1/otlp/v1/metrics converts summary points to classic series") {
    import graft.ingest.OtlpCodec
    val store = tmpStore("otlpsummary")
    val srv = HttpServe.start(spark, store)
    try {
      val base = s"http://localhost:${srv.port}"
      val body = OtlpCodec.encodeExportSummaries(Seq(
        OtlpCodec.SummaryPoint("rpc.latency", 1704412800000000L, 20L, 30.0,
          Seq(0.5 -> 1.0, 0.9 -> 2.5))), Some("api"))
      assert(post(s"$base/api/v1/otlp/v1/metrics", body)._1 === 200)
      val back = graft.ingest.SamplesStore.read(spark, store)
        .collect()
        .map(r => (r.getAs[String]("metric"),
          r.getAs[scala.collection.Seq[String]]("labels").mkString(","),
          r.getAs[Double]("value"))).toSet
      assert(back === Set(
        ("rpc_latency", "job=api,quantile=0.5", 1.0),
        ("rpc_latency", "job=api,quantile=0.9", 2.5),
        ("rpc_latency_sum", "job=api", 30.0),
        ("rpc_latency_count", "job=api", 20.0)))
    } finally srv.stop()
  }

  test("/api/v1/otlp/v1/metrics ingests OTLP gauges and sums") {
    import graft.ingest.{OtlpCodec, ProtoWire}
    val store = tmpStore("otlp")
    val srv = HttpServe.start(spark, store)
    try {
      val base = s"http://localhost:${srv.port}"
      // hand-build a request: resource {service.name=api,
      // service.instance.id=i1, other=dropped}, one SUM metric with
      // an int point + a bool attribute
      def kvStr(k: String, v: String) = {
        val w = new ProtoWire.Writer
        w.writeStringField(1, k)
        val any = new ProtoWire.Writer
        any.writeStringField(1, v)
        w.writeMessageField(2, any)
        w
      }
      val resource = new ProtoWire.Writer
      Seq("service.name" -> "api", "service.instance.id" -> "i1",
        "cloud.region" -> "dropped").foreach { case (k, v) =>
        resource.writeMessageField(1, kvStr(k, v))
      }
      val point = new ProtoWire.Writer
      point.writeFixed64Field(3, 1704412800000000000L) // ns
      point.writeFixed64Field(6, 41L)                  // as_int
      val battr = new ProtoWire.Writer
      battr.writeStringField(1, "up")
      val bval = new ProtoWire.Writer
      bval.writeVarintField(2, 1L) // bool_value true
      battr.writeMessageField(2, bval)
      point.writeMessageField(7, battr)
      val sum = new ProtoWire.Writer
      sum.writeMessageField(1, point)
      sum.writeVarintField(2, 2L) // aggregation_temporality CUMULATIVE
      sum.writeVarintField(3, 1L) // is_monotonic
      val metric = new ProtoWire.Writer
      metric.writeStringField(1, "otlp_total")
      metric.writeMessageField(7, sum) // sum, not gauge
      val scope = new ProtoWire.Writer
      scope.writeMessageField(2, metric)
      val rm = new ProtoWire.Writer
      rm.writeMessageField(1, resource)
      rm.writeMessageField(2, scope)
      val req = new ProtoWire.Writer
      req.writeMessageField(1, rm)
      assert(post(s"$base/api/v1/otlp/v1/metrics", req.toBytes)._1 === 200)
      val back = graft.ingest.SamplesStore.read(spark, store).collect()
      assert(back.length === 2)
      val r = back.find(_.getAs[String]("metric") == "otlp_total").get
      assert(r.getAs[Seq[String]]("labels") ===
        Seq("instance=i1", "job=api", "up=true"))
      assert(r.getAs[Long]("ts_us") === 1704412800000000L)
      assert(r.getAs[Double]("value") === 41.0)
      // the non-identifying resource attribute lands a target_info
      // series (the shape info() joins), stamped with the resource's
      // latest point timestamp
      val ti = back.find(_.getAs[String]("metric") == "target_info").get
      assert(ti.getAs[Seq[String]]("labels") ===
        Seq("cloud_region=dropped", "instance=i1", "job=api"))
      assert(ti.getAs[Long]("ts_us") === 1704412800000000L)
      assert(ti.getAs[Double]("value") === 1.0)
      // end-to-end: info() through the query endpoint adopts the
      // target_info data labels onto the OTLP-ingested series
      val (ic, ib) = get(s"$base/api/v1/query?query=" +
        java.net.URLEncoder.encode("info(otlp_total)", "UTF-8") +
        "&time=1704412800")
      assert(ic === 200, ib)
      assert(ib.contains(""""cloud_region":"dropped""""), ib)
      assert(ib.contains(""""value":[1704412800,"41"]"""), ib)
      // gzip bodies INFLATE (OTLP/HTTP's standard compression — SDK
      // exporters default to it); other encodings stay 415, and a
      // body that only CLAIMS gzip is the client's 400
      def postEnc(encoding: String, bytes: Array[Byte]): (Int, String) = {
        val c = new URL(s"$base/api/v1/otlp/v1/metrics").openConnection()
          .asInstanceOf[HttpURLConnection]
        c.setRequestMethod("POST"); c.setDoOutput(true)
        c.setRequestProperty("Content-Encoding", encoding)
        c.getOutputStream.write(bytes); c.getOutputStream.close()
        val code = c.getResponseCode
        val is = if (code >= 400) c.getErrorStream else c.getInputStream
        (code, if (is == null) "" else new String(is.readAllBytes(), "UTF-8"))
      }
      val gzBody = {
        val bos = new java.io.ByteArrayOutputStream()
        val gz = new java.util.zip.GZIPOutputStream(bos)
        val extra = graft.ingest.OtlpCodec.encodeExportMetrics(
          Seq(PromRemoteCodec.IngestedSample(
            1704412800000000L, "gz_metric", Seq("k=v"), 7.5)))
        gz.write(extra); gz.close()
        bos.toByteArray
      }
      assert(postEnc("gzip", gzBody)._1 === 200)
      assert(graft.ingest.SamplesStore.read(spark, store)
        .filter(col("metric") === "gz_metric").count() === 1,
        "the gzip-inflated write must land")
      assert(postEnc("br", req.toBytes)._1 === 415)
      assert(postEnc("gzip", "not gzip at all".getBytes("UTF-8"))._1 === 400)
      // a TRUNCATED gzip stream (valid header, cut mid-body) throws
      // EOFException, not ZipException — still the client's 400
      assert(postEnc("gzip", gzBody.take(gzBody.length - 5))._1 === 400)
      // the codec round-trips its own encoder output
      val rt = OtlpCodec.decodeExportMetrics(OtlpCodec.encodeExportMetrics(
        Seq(PromRemoteCodec.IngestedSample(5000000L, "m", Seq("a=1"), 2.5))))
      assert(rt === Seq(
        PromRemoteCodec.IngestedSample(5000000L, "m", Seq("a=1"), 2.5)))
    } finally srv.stop()
  }

  test("OTLP scope promotion: otel_scope labels + info series behind the flag") {
    import graft.ingest.{OtlpCodec, PromRemoteCodec => C}
    val t0 = 1704412800000000L
    val blob = OtlpCodec.encodeExportMetrics(
      Seq(C.IngestedSample(t0, "m_scope", Seq("k=v"), 2.0),
        C.IngestedSample(t0 + 60000000L, "m_scope", Seq("k=v"), 3.0)),
      scope = Some(("my.lib", "0.3", Seq("sdk.lang" -> "go"))))
    // flag OFF (the default): scope is invisible, no info series
    val off = OtlpCodec.decodeExportMetricsCounted(blob)
    assert(off.samples.map(_.metric).toSet === Set("m_scope"))
    assert(off.samples.forall(!_.labels.exists(_.startsWith("otel_scope_"))))
    // flag ON: every point gains the name/version labels; the
    // attribute lands ONE otel_scope_info sample at the scope's
    // latest point timestamp, key normalized (sdk.lang → sdk_lang)
    val on = OtlpCodec.decodeExportMetricsCounted(blob, promoteScope = true)
    val pts = on.samples.filter(_.metric == "m_scope")
    assert(pts.size === 2)
    assert(pts.forall(s => s.labels.contains("otel_scope_name=my.lib") &&
      s.labels.contains("otel_scope_version=0.3")))
    val info = on.samples.filter(_.metric == "otel_scope_info")
    assert(info.size === 1)
    assert(info.head.ts_us === t0 + 60000000L)
    assert(info.head.value === 1.0)
    assert(info.head.labels === Seq("otel_scope_name=my.lib",
      "otel_scope_sdk_lang=go", "otel_scope_version=0.3"))
    // a scope WITHOUT attributes labels its metrics but lands no
    // info series (nothing to carry)
    val bare = OtlpCodec.decodeExportMetricsCounted(
      OtlpCodec.encodeExportMetrics(
        Seq(C.IngestedSample(t0, "m_scope", Seq("k=v"), 2.0)),
        scope = Some(("my.lib", "", Nil))), promoteScope = true)
    assert(bare.samples.map(_.metric).toSet === Set("m_scope"))
    assert(bare.samples.head.labels.contains("otel_scope_name=my.lib"))
    assert(!bare.samples.head.labels.exists(_.startsWith("otel_scope_version")))
    // end to end through the serving flag: /api/v1/otlp/v1/metrics
    val store = tmpStore("otlpscope")
    RemoteWrite.otlpPromoteScope = true
    try RemoteWrite.serveOtlp(spark, store, blob)
    finally RemoteWrite.otlpPromoteScope = false
    val back = graft.ingest.SamplesStore.read(spark, store)
    assert(back.filter(col("metric") === "otel_scope_info").count() === 1)
    assert(back.filter(col("metric") === "m_scope")
      .filter(expr("exists(labels, l -> l = 'otel_scope_name=my.lib')"))
      .count() === 2)
  }

  test("OTLP guard: delta sums 400, dotted names normalize, drops count") {
    import graft.ingest.ProtoWire
    val store = tmpStore("otlpguard")
    val srv = HttpServe.start(spark, store)
    try {
      val base = s"http://localhost:${srv.port}"
      def kv(k: String, v: String) = {
        val w = new ProtoWire.Writer
        w.writeStringField(1, k)
        val any = new ProtoWire.Writer
        any.writeStringField(1, v)
        w.writeMessageField(2, any)
        w
      }
      def point(tNs: Long, v: Double, attrs: (String, String)*) = {
        val p = new ProtoWire.Writer
        p.writeFixed64Field(3, tNs)
        p.writeDoubleField(4, v)
        attrs.foreach { case (k, a) => p.writeMessageField(7, kv(k, a)) }
        p
      }
      def wrap(metrics: ProtoWire.Writer*) = {
        val scope = new ProtoWire.Writer
        metrics.foreach(scope.writeMessageField(2, _))
        val rm = new ProtoWire.Writer
        rm.writeMessageField(2, scope)
        val req = new ProtoWire.Writer
        req.writeMessageField(1, rm)
        req.toBytes
      }
      // 1. a DELTA-temporality sum is a client error, never stored —
      //    stored as-if-cumulative it would corrupt every rate()
      val deltaSum = new ProtoWire.Writer
      deltaSum.writeMessageField(1, point(1704412800000000000L, 5.0))
      deltaSum.writeVarintField(2, 1L) // AGGREGATION_TEMPORALITY_DELTA
      val dm = new ProtoWire.Writer
      dm.writeStringField(1, "delta_total")
      dm.writeMessageField(7, deltaSum)
      val (dc, db, _) = post(s"$base/api/v1/otlp/v1/metrics", wrap(dm))
      assert(dc === 400, new String(db, "UTF-8"))
      assert(new String(db, "UTF-8").contains("non-cumulative"))
      assert(!new java.io.File(store).exists() ||
        graft.ingest.SamplesStore.read(spark, store).count() === 0)
      // 2. dotted OTel names normalize to PromQL-reachable idents
      val gm = new ProtoWire.Writer
      gm.writeStringField(1, "http.server.duration")
      val gauge = new ProtoWire.Writer
      gauge.writeMessageField(1,
        point(1704412800000000000L, 0.25, "http.method" -> "GET"))
      gm.writeMessageField(5, gauge)
      // 3. MALFORMED summary points (NO_RECORDED_VALUE flag — the
      //    staleness marker this store cannot hold) skip WHOLE and
      //    COUNT (2 points); well-formed summaries convert, covered
      //    by the dedicated summary endpoint test
      val hm = new ProtoWire.Writer
      hm.writeStringField(1, "latency.hist")
      val hist = new ProtoWire.Writer
      val staleP = new ProtoWire.Writer
      staleP.writeVarintField(8, 1L) // flags: NO_RECORDED_VALUE
      val staleP2 = new ProtoWire.Writer
      staleP2.writeVarintField(8, 1L)
      hist.writeMessageField(1, staleP)
      hist.writeMessageField(1, staleP2)
      hm.writeMessageField(11, hist)
      // 3b. an EXPONENTIAL histogram converts through the shared
      //     geometry: scale 0 (base 2), zero_count 1, positive
      //     buckets offset 0 counts [2, 3] → OTLP buckets (1,2] and
      //     (2,4] (prompb indices 1 and 2)
      val xm = new ProtoWire.Writer
      xm.writeStringField(1, "exp.lat")
      val xhist = new ProtoWire.Writer
      val xp = new ProtoWire.Writer
      xp.writeFixed64Field(3, 1704412800000000000L)
      xp.writeFixed64Field(4, 6L)   // count
      xp.writeDoubleField(5, 7.5)   // sum
      xp.writeVarintField(6, 0L)    // scale 0 (zigzag)
      xp.writeFixed64Field(7, 1L)   // zero_count
      val xb = new ProtoWire.Writer
      xb.writeVarintField(1, 0L)    // offset 0 (zigzag)
      xb.writeVarintField(2, 2L)    // bucket_counts unpacked
      xb.writeVarintField(2, 3L)
      xp.writeMessageField(8, xb)   // positive
      xp.writeDoubleField(14, 0.001) // zero_threshold
      xhist.writeMessageField(1, xp)
      xhist.writeVarintField(2, 2L) // CUMULATIVE
      xm.writeMessageField(10, xhist)
      // 4. an EXPLICIT-BOUNDS histogram converts to classic series:
      //    bounds [0.1, 1] with bucket_counts [1, 2, 3] and count 6
      val em = new ProtoWire.Writer
      em.writeStringField(1, "req.duration")
      val ehist = new ProtoWire.Writer
      val ep = new ProtoWire.Writer
      ep.writeFixed64Field(3, 1704412800000000000L)
      ep.writeFixed64Field(4, 6L)                 // count
      ep.writeDoubleField(5, 2.5)                 // sum
      // bucket_counts as unpacked fixed64 entries (wire 1 — as
      // legal as the packed form, and what the decoder's (6,1) arm
      // covers)
      Seq(1L, 2L, 3L).foreach(v => ep.writeFixed64Field(6, v))
      Seq(0.1d, 1.0d).foreach(v => ep.writeDoubleField(7, v))
      ehist.writeMessageField(1, ep)
      ehist.writeVarintField(2, 2L)               // CUMULATIVE
      em.writeMessageField(9, ehist)
      val before = graft.OpsMetrics(spark).otlpDroppedPoints.value
      assert(post(s"$base/api/v1/otlp/v1/metrics", wrap(gm, hm, em, xm))._1 === 200)
      val back = graft.ingest.SamplesStore.read(spark, store).collect()
        .map(r => (r.getAs[String]("metric"),
          r.getAs[Seq[String]]("labels").mkString(","),
          r.getAs[Double]("value"))).toSet
      assert(back === Set(
        ("http_server_duration", "http_method=GET", 0.25),
        ("req_duration_bucket", "le=0.1", 1.0),
        ("req_duration_bucket", "le=1", 3.0),
        ("req_duration_bucket", "le=+Inf", 6.0),
        ("req_duration_sum", "", 2.5),
        ("req_duration_count", "", 6.0),
        ("exp_lat_bucket", "le=0.001", 1.0),
        ("exp_lat_bucket", "le=2", 3.0),
        ("exp_lat_bucket", "le=4", 6.0),
        ("exp_lat_bucket", "le=+Inf", 6.0),
        ("exp_lat_sum", "", 7.5),
        ("exp_lat_count", "", 6.0)), back.toString)
      assert(graft.OpsMetrics(spark).otlpDroppedPoints.value === before + 2)
      // the exponential point ALSO landed its NATIVE form in the
      // hist sibling (like a PRW native write): a chunked /read on
      // its own name answers a HISTOGRAM chunk whose sample carries
      // the OTLP point's exact geometry (integer deltas, zero
      // threshold, schema 0)
      val xq = Seq(graft.operators.ReadQuery(1704412800000L,
        1704412800000L + 60000L,
        Seq(graft.operators.Matchers.eq("__name__", "exp_lat"))))
      val (xc, xbody, _) = post(s"$base/read",
        PromRemoteCodec.encodeReadRequestWithTypes(xq, Seq(1, 0)))
      assert(xc === 200)
      val xchunks = for {
        (_, ss) <- PromRemoteCodec.decodeChunkedFrames(xbody)
        cs <- ss; c <- cs.chunks
      } yield c
      assert(xchunks.map(_.ctype) === Seq(HistChunks.TypeHistogram))
      assert(HistChunks.decodeChunk(xchunks.head.data, xchunks.head.ctype) ===
        Seq(graft.ingest.NativeHistogram.Hist(
          1704412800000L, 6.0, 7.5, 0, 0.001, 1.0,
          Seq((1, 2)), Seq(2L, 1L), Nil, Nil, Nil, Nil)))
      // a DELTA-temporality histogram rejects like a delta sum
      val dm2 = new ProtoWire.Writer
      dm2.writeStringField(1, "dh")
      val dhist = new ProtoWire.Writer
      dhist.writeMessageField(1, new ProtoWire.Writer)
      dhist.writeVarintField(2, 1L) // DELTA
      dm2.writeMessageField(9, dhist)
      val (dhc, dhb, _) = post(s"$base/api/v1/otlp/v1/metrics", wrap(dm2))
      assert(dhc === 400 && new String(dhb, "UTF-8").contains("non-cumulative"))
      // the drop is observable on BOTH ops surfaces
      val (_, metricsBody) = get(s"$base/metrics")
      assert(metricsBody.contains("otlp_dropped_points_total"))
      val (_, flagsBody) = get(s"$base/api/v1/status/flags")
      assert(flagsBody.contains(
        s""""write.otlp-dropped-points":"${before + 2}""""))
    } finally srv.stop()
  }

  test("native histograms ingest by conversion to classic series") {
    import graft.ingest.ProtoWire
    import org.xerial.snappy.Snappy
    val store = tmpStore("rwhist")
    val srv = HttpServe.start(spark, store)
    try {
      val base = s"http://localhost:${srv.port}"
      // v2 request: one series with a float sample, a REAL native
      // histogram (schema 0 → base 2), and an unsupported-schema one
      val w = new ProtoWire.Writer
      Seq("", "__name__", "hm", "k", "v").foreach(w.writeStringField(4, _))
      val ts = new ProtoWire.Writer
      val pr = new ProtoWire.Writer
      Seq(1L, 2L, 3L, 4L).foreach(pr.writeVarint)
      ts.writeBytesField(1, pr.toBytes)
      val sm = new ProtoWire.Writer
      sm.writeDoubleField(1, 1.5)
      sm.writeVarintField(2, 1704412800000L)
      ts.writeMessageField(2, sm)
      // histogram: count=6, sum=4.5, schema=0, zero bucket
      // (threshold 0.001, count 1), positive span offset 0 len 2
      // with deltas [2, 1] → buckets (0.5,1]:2 and (1,2]:3
      val h = new ProtoWire.Writer
      h.writeVarintField(1, 6L)                       // count_int
      h.writeDoubleField(3, 4.5)                      // sum
      h.writeVarintField(4, 0L)                       // schema 0 (zigzag 0)
      h.writeDoubleField(5, 0.001)                    // zero_threshold
      h.writeVarintField(6, 1L)                       // zero_count_int
      val span = new ProtoWire.Writer
      span.writeVarintField(1, 0L)                    // offset 0 (zigzag)
      span.writeVarintField(2, 2L)                    // length 2
      h.writeMessageField(11, span)                   // positive_spans
      val deltas = new ProtoWire.Writer
      deltas.writeVarint(4L)                          // zigzag(2)
      deltas.writeVarint(2L)                          // zigzag(1)
      h.writeBytesField(12, deltas.toBytes)           // positive_deltas
      h.writeVarintField(15, 1704412800000L)          // timestamp ms
      ts.writeMessageField(3, h)
      // an unsupported schema (100): SKIPPED, counted — never silent
      val bad = new ProtoWire.Writer
      bad.writeVarintField(4, 200L)                   // zigzag(100)
      ts.writeMessageField(3, bad)
      w.writeMessageField(5, ts)
      val dropBefore = graft.OpsMetrics(spark).droppedHistograms.value
      val convBefore = graft.OpsMetrics(spark).convertedHistograms.value
      val (c, _, hd) = post(s"$base/write", Snappy.compress(w.toBytes),
        Some("application/x-protobuf;proto=" + PromRemoteCodec.ProtoV2),
        respHeaders = Seq("X-Prometheus-Remote-Write-Samples-Written",
          "X-Prometheus-Remote-Write-Histograms-Written"))
      assert(c === 200)
      // headers confirm in the SENDER's units: 1 float sample, 1
      // histogram accepted (the unsupported one is not "written")
      assert(hd.get("X-Prometheus-Remote-Write-Samples-Written") === Some("1"))
      assert(hd.get("X-Prometheus-Remote-Write-Histograms-Written") === Some("1"))
      assert(graft.OpsMetrics(spark).droppedHistograms.value === dropBefore + 1)
      assert(graft.OpsMetrics(spark).convertedHistograms.value === convBefore + 1)
      // the classic expansion: 4 buckets + sum + count + the float
      // sample = 7 rows, cumulative counts ascending over
      // zero-bucket → (0.5,1] → (1,2] → +Inf
      val back = graft.ingest.SamplesStore.read(spark, store).collect()
        .map(r => (r.getAs[String]("metric"),
          r.getAs[Seq[String]]("labels").mkString(","),
          r.getAs[Double]("value"))).toSet
      assert(back === Set(
        ("hm", "k=v", 1.5),
        ("hm_bucket", "k=v,le=0.001", 1.0),
        ("hm_bucket", "k=v,le=1", 3.0),
        ("hm_bucket", "k=v,le=2", 6.0),
        ("hm_bucket", "k=v,le=+Inf", 6.0),
        ("hm_sum", "k=v", 4.5),
        ("hm_count", "k=v", 6.0)))
      // end to end: histogram_quantile serves the converted series
      // (rank φ·6 = 3 lands exactly at le=1's cumulative 3 → 1)
      val (qc, qb) = get(s"$base/api/v1/query?query=" +
        java.net.URLEncoder.encode("histogram_quantile(0.5, hm_bucket)", "UTF-8") +
        "&time=1704412800")
      assert(qc === 200, qb)
      assert(qb.contains(""""value":[1704412800,"1"]"""), qb)
      // NATIVE-form quantile behind the flag: the same instant on the
      // native series NAME evaluates the exponential estimator over
      // the hist sibling — rank 4.5 lands mid-(1,2] → 2^0.5, where
      // the classic path would interpolate linearly
      RemoteWrite.nativeHistogramQuantile = true
      try {
        val (nc, nb) = get(s"$base/api/v1/query?query=" +
          java.net.URLEncoder.encode("histogram_quantile(0.75, hm)", "UTF-8") +
          "&time=1704412800")
        assert(nc === 200, nb)
        assert(nb.contains(""""value":[1704412800,"1.414214"]"""), nb)
        val (fc2, fb2) = get(s"$base/api/v1/status/flags")
        assert(fc2 === 200)
        assert(fb2.contains(""""promql.native-histogram-quantile":"true""""))
      } finally RemoteWrite.nativeHistogramQuantile = false
      // both ledgers visible on the ops surfaces
      val (_, metricsBody) = get(s"$base/metrics")
      assert(metricsBody.contains("write_converted_histograms_total"))
      val (_, flagsBody) = get(s"$base/api/v1/status/flags")
      assert(flagsBody.contains(
        s""""write.converted-histograms":"${convBefore + 1}""""))
      // the CLASSIC expansion still streams as ordinary XOR float
      // chunks under its own expanded names — the float query
      // surface is unchanged by the native-histogram sibling
      val cq = Seq(ReadQuery(1704412800000L, 1704412800000L + 60000L,
        Seq(Matchers.re("__name__", "hm_(bucket|sum|count)"))))
      val (cc, cbody, chd) = post(s"$base/read",
        PromRemoteCodec.encodeReadRequestWithTypes(cq, Seq(1, 0)))
      assert(cc === 200)
      assert(chd.get("Content-Type").exists(_.startsWith(
        "application/x-streamed-protobuf")))
      val chunked = (for {
        (_, ss) <- PromRemoteCodec.decodeChunkedFrames(cbody)
        cs <- ss
        c <- cs.chunks
        (t, v) = graft.serve.Gorilla.decode(c.data)
        i <- t.indices
      } yield (cs.labels.filter(_.name != "__name__")
          .map(l => s"${l.name}=${l.value}").mkString(","),
        cs.labels.find(_.name == "__name__").map(_.value).getOrElse(""),
        t(i), v(i))).toSet
      assert(chunked === Set(
        ("k=v,le=0.001", "hm_bucket", 1704412800000L, 1.0),
        ("k=v,le=1", "hm_bucket", 1704412800000L, 3.0),
        ("k=v,le=2", "hm_bucket", 1704412800000L, 6.0),
        ("k=v,le=+Inf", "hm_bucket", 1704412800000L, 6.0),
        ("k=v", "hm_sum", 1704412800000L, 4.5),
        ("k=v", "hm_count", 1704412800000L, 6.0)))
      // and the native series ITSELF federates as a HISTOGRAM chunk
      // off the sibling store: a chunked read on __name__="hm"
      // answers the float sample as an XOR chunk AND the native
      // histogram as a Chunk.Encoding=2 frame whose body decodes to
      // the ingested sample bit-for-bit
      val nq = Seq(ReadQuery(1704412800000L, 1704412800000L + 60000L,
        Seq(Matchers.eq("__name__", "hm"))))
      val (nc, nbody, _) = post(s"$base/read",
        PromRemoteCodec.encodeReadRequestWithTypes(nq, Seq(1, 0)))
      assert(nc === 200)
      val frames = PromRemoteCodec.decodeChunkedFrames(nbody)
      val allChunks = for { (_, ss) <- frames; cs <- ss; c <- cs.chunks }
        yield (cs.labels, c)
      val xor = allChunks.filter(_._2.ctype == 1)
      val histChunks = allChunks.filter(_._2.ctype == HistChunks.TypeHistogram)
      assert(xor.size === 1 && histChunks.size === 1, allChunks.map(_._2.ctype))
      val (xt, xv) = graft.serve.Gorilla.decode(xor.head._2.data)
      assert(xt.toSeq === Seq(1704412800000L) && xv.toSeq === Seq(1.5))
      val hs = HistChunks.decodeChunk(histChunks.head._2.data,
        histChunks.head._2.ctype)
      assert(histChunks.head._1.map(l => (l.name, l.value)) ===
        Seq("__name__" -> "hm", "k" -> "v"))
      assert(hs === Seq(graft.ingest.NativeHistogram.Hist(
        1704412800000L, 6.0, 4.5, 0, 0.001, 1.0,
        Seq((0, 2)), Seq(2L, 1L), Nil, Nil, Nil, Nil)))
      assert(histChunks.head._2.minTimeMs === 1704412800000L)
      assert(histChunks.head._2.maxTimeMs === 1704412800000L)
      // a series with BOTH float and native samples is ONE frame —
      // its chunks interleaved by start time under the same labels
      assert(frames.flatMap(_._2).size === 1, "hm must merge to one frame")
      // frames stream globally sorted by (metric, labels): "hm"
      // (hist-bearing) sorts BEFORE its classic hm_* expansions, so
      // the merged emission must interleave, never hist-after-float
      val mq = Seq(ReadQuery(1704412800000L, 1704412800000L + 60000L,
        Seq(Matchers.re("__name__", "hm.*"))))
      val (mc2, mbody, _) = post(s"$base/read",
        PromRemoteCodec.encodeReadRequestWithTypes(mq, Seq(1, 0)))
      assert(mc2 === 200)
      val mNames = for {
        (_, ss) <- PromRemoteCodec.decodeChunkedFrames(mbody)
        cs <- ss
      } yield cs.labels.find(_.name == "__name__").map(_.value).getOrElse("")
      assert(mNames.head === "hm", mNames)
      assert(mNames === mNames.sorted, s"frames must stream sorted: $mNames")
      // the SAMPLES response type carries the native series too:
      // prompb TimeSeries field 4 next to the float sample, ONE
      // series for both (Prometheus's own response shape)
      val (sc, sbody, shd) = post(s"$base/read",
        PromRemoteCodec.encodeReadRequest(nq))
      assert(sc === 200)
      assert(shd.get("Content-Encoding") === Some("snappy"))
      val sSeries = PromRemoteCodec.decodeReadResponse(sbody)
      assert(sSeries.size === 1, sSeries)
      assert(sSeries.head.labels.map(l => (l.name, l.value)) ===
        Seq("__name__" -> "hm", "k" -> "v"))
      assert(sSeries.head.samples === Seq(
        PromRemoteCodec.PromSample(1.5, 1704412800000L)))
      assert(sSeries.head.histograms === Seq(
        graft.ingest.NativeHistogram.Hist(
          1704412800000L, 6.0, 4.5, 0, 0.001, 1.0,
          Seq((0, 2)), Seq(2L, 1L), Nil, Nil, Nil, Nil)))
    } finally srv.stop()
  }

  test("query APIs serve native-histogram-valued JSON under the flag") {
    import graft.ingest.NativeHistogram
    val store = tmpStore("histjson")
    val t0 = 1704412800000L
    // native series nh{k=v}: two exponential samples (schema 0);
    // growth 6→10 count, buckets (0.5,1]: 2→4, (1,2]: 3→5, zero
    // bucket (th 0.001) 1→1
    val h1 = NativeHistogram.Hist(t0, 6.0, 4.5, 0, 0.001, 1.0,
      Seq((0, 2)), Seq(2L, 1L), Nil, Nil, Nil, Nil)
    val h2 = NativeHistogram.Hist(t0 + 60000L, 10.0, 8.5, 0, 0.001, 1.0,
      Seq((0, 2)), Seq(4L, 1L), Nil, Nil, Nil, Nil)
    // NHCB series nhc{k=v}: bounds [0.1, 0.5], per-bucket 2/3 +
    // overflow 2
    val hc = NativeHistogram.Hist(t0, 7.0, 2.0, 127, 0.0, 0.0,
      Seq((0, 3)), Seq(2L, 1L, -1L), Nil, Nil, Nil, Nil,
      customValues = Seq(0.1, 0.5))
    // float twin UNDER THE SAME NAME, different labels — the mixed
    // float/histogram vector of the 3.x convention — AND a float
    // sample on the k=v series ITSELF (the float→native migration
    // shape): the range surface must carry both arms
    RemoteWrite.serve(spark, store, PromRemoteCodec.encodeWriteRequest(
      PromRemoteCodec.PromWriteRequest(Seq(
        PromTimeSeries(Seq(PromLabel("__name__", "nh"), PromLabel("k", "v")),
          Seq(PromSample(0.5, t0 - 30000L)), histograms = Seq(h1, h2)),
        PromTimeSeries(Seq(PromLabel("__name__", "nhc"), PromLabel("k", "v")),
          Nil, histograms = Seq(hc)),
        PromTimeSeries(Seq(PromLabel("__name__", "nh"), PromLabel("k", "w")),
          Seq(PromSample(1.0, t0), PromSample(2.0, t0 + 60000L)))))))
    val srv = HttpServe.start(spark, store)
    try {
      val base = s"http://localhost:${srv.port}"
      def q(expr: String, extra: String): String = {
        val (c, b) = get(s"$base/api/v1/query" +
          (if (extra.startsWith("start")) "_range" else "") +
          "?query=" + java.net.URLEncoder.encode(expr, "UTF-8") + "&" + extra)
        assert(c === 200, b)
        b
      }
      // flag OFF (default): the float surface alone — no histogram
      // arm, float twin answers normally
      val off = q("nh", s"time=${t0 / 1000 + 60}")
      assert(!off.contains("\"histogram\""), off)
      assert(off.contains(""""value":[1704412860,"2"]"""), off)

      RemoteWrite.nativeHistogramQuantile = true
      try {
        // instant: MIXED vector — the native series answers a
        // histogram-valued entry, the float twin a float one, one
        // identity order across both arms
        val v = q("nh", s"time=${t0 / 1000 + 60}")
        assert(v.contains(""""resultType":"vector""""), v)
        assert(v.contains(
          """{"metric":{"__name__":"nh","k":"v"},"histogram":[1704412860,""" +
            """{"count":"10","sum":"8.5","buckets":[[3,"-0.001","0.001","1"],""" +
            """[0,"0.5","1","4"],[0,"1","2","5"]]}]}"""), v)
        assert(v.contains(
          """{"metric":{"__name__":"nh","k":"w"},"value":[1704412860,"2"]}"""), v)
        // the histogram entry sorts in the same (name, labels) order
        assert(v.indexOf("\"k\":\"v\"") < v.indexOf("\"k\":\"w\""), v)

        // range: per-step effective histograms in time order, AND the
        // migration shape — the k=v entry carries BOTH arms ("values"
        // from the pre-migration float, "histograms" from the native
        // samples) in one matrix entry, Prometheus 3.x's mixed-series
        // shape
        val m = q("nh{k=\"v\"}",
          s"start=${t0 / 1000}&end=${t0 / 1000 + 60}&step=60")
        assert(m.contains(""""resultType":"matrix""""), m)
        assert(m.contains(
          """"values":[[1704412800,"0.5"],[1704412860,"0.5"]]"""), m)
        assert(m.contains(
          """"histograms":[[1704412800,{"count":"6","sum":"4.5","buckets":""" +
            """[[3,"-0.001","0.001","1"],[0,"0.5","1","2"],[0,"1","2","3"]]}],""" +
            """[1704412860,{"count":"10","sum":"8.5","buckets":""" +
            """[[3,"-0.001","0.001","1"],[0,"0.5","1","4"],[0,"1","2","5"]]}]]"""),
          m)
        // both arms inside ONE entry (not two series objects)
        assert("\"metric\":\\{\"__name__\":\"nh\",\"k\":\"v\"\\}".r
          .findAllIn(m).size === 1, m)

        // NHCB: custom bounds render as le-style buckets (rule 0),
        // first lower 0, overflow to +Inf
        val nc = q("nhc", s"time=${t0 / 1000}")
        assert(nc.contains(
          """"histogram":[1704412800,{"count":"7","sum":"2","buckets":""" +
            """[[0,"0","0.1","2"],[0,"0.1","0.5","3"],[0,"0.5","+Inf","2"]]}]"""),
          nc)

        // rate(): histogram-valued, metric NAME DROPPED like the
        // float arm's value-transforming functions
        val r = q("rate(nh{k=\"v\"}[2m])", s"time=${t0 / 1000 + 120}")
        assert(r.contains(""""metric":{"k":"v"},"histogram":["""), r)
        assert(r.contains(""""count":"0.06666666666666667""""), r)
        assert(!r.contains("__name__"), r)

        // sum of rate — the dashboard idiom — still histogram-valued
        val sr = q("sum by (k) (rate(nh{k=\"v\"}[2m]))",
          s"time=${t0 / 1000 + 120}")
        assert(sr.contains(""""metric":{"k":"v"},"histogram":["""), sr)

        // estimator root stays a FLOAT surface (unchanged contract)
        val qv = q("histogram_quantile(0.75, nh{k=\"v\"})",
          s"time=${t0 / 1000 + 60}")
        assert(qv.contains(""""value":["""), qv)
        assert(!qv.contains("\"histogram\""), qv)

        // instant collision rule: the k=v series holds both arms in
        // the lookback — the HISTOGRAM answers (documented rule; the
        // float arm is not lost, see the range shape above)
        val cv = q("nh{k=\"v\"}", s"time=${t0 / 1000 + 60}")
        assert(cv.contains("\"histogram\":["), cv)
        assert(!cv.contains("\"value\":["), cv)

        // a staleness marker ENDS the histogram series on the JSON
        // surface too (histVec rides the same _stale sibling): marker
        // at t0+120 kills BOTH of k=v's arms (float and histogram
        // lookbacks ride the same sibling) while the unmarked float
        // twin still answers
        RemoteWrite.serve(spark, store, PromRemoteCodec.encodeWriteRequest(
          PromRemoteCodec.PromWriteRequest(Seq(PromTimeSeries(
            Seq(PromLabel("__name__", "nh"), PromLabel("k", "v")),
            Seq(PromSample(PromRemoteCodec.staleNaN, t0 + 120000L)))))))
        val sv = q("nh", s"time=${t0 / 1000 + 150}")
        assert(!sv.contains("\"histogram\""), sv)
        assert(!sv.contains("\"k\":\"v\""), sv)
        assert(sv.contains(""""metric":{"__name__":"nh","k":"w"}"""), sv)

        // ...and a float sample NEWER than the marker revives the
        // series on the float arm: the instant entry answers the
        // float (the histogram leg stays ended)
        RemoteWrite.serve(spark, store, PromRemoteCodec.encodeWriteRequest(
          PromRemoteCodec.PromWriteRequest(Seq(PromTimeSeries(
            Seq(PromLabel("__name__", "nh"), PromLabel("k", "v")),
            Seq(PromSample(0.7, t0 + 180000L)))))))
        val rv = q("nh{k=\"v\"}", s"time=${t0 / 1000 + 200}")
        assert(rv.contains(""""value":[1704413000,"0.7"]"""), rv)
        assert(!rv.contains("\"histogram\""), rv)
      } finally RemoteWrite.nativeHistogramQuantile = false
    } finally srv.stop()
  }

  test("a mixed series' chunks interleave by start time, not per encoding") {
    import graft.ingest.NativeHistogram
    val store = tmpStore("ilv")
    val t0 = 1704412800000L
    // native histogram at t0, float sample LATER at t0+60s: the
    // chunk stream must lead with the HISTOGRAM chunk — a client
    // merging streamed chunks assumes monotone start times per
    // series (the r18 ADVICE finding: all-XOR-then-all-hist broke
    // that whenever the histogram preceded the float samples)
    val h = NativeHistogram.Hist(t0, 3.0, 2.0, 0, 0.0, 0.0,
      Seq((0, 1)), Seq(3L), Nil, Nil, Nil, Nil)
    RemoteWrite.serve(spark, store, PromRemoteCodec.encodeWriteRequest(
      PromRemoteCodec.PromWriteRequest(Seq(
        PromTimeSeries(Seq(PromLabel("__name__", "mix"), PromLabel("k", "v")),
          Seq(PromSample(1.0, t0 + 60000L)), histograms = Seq(h))))))
    val blob = PromRemoteCodec.encodeReadRequestWithTypes(
      Seq(ReadQuery(t0, t0 + 120000L, Seq(Matchers.eq("__name__", "mix")))),
      Seq(1))
    val resp = RemoteRead.serveChunked(
      graft.ingest.SamplesStore.read(spark, store), blob,
      histStore = RemoteWrite.histStoreDf(spark, store))
    val chunks = for {
      (_, ss) <- PromRemoteCodec.decodeChunkedFrames(resp)
      cs <- ss; c <- cs.chunks
    } yield (c.ctype, c.minTimeMs)
    assert(chunks.map(_._2) === chunks.map(_._2).sorted,
      s"chunks must be globally time-ordered within the series: $chunks")
    assert(chunks.head._1 === HistChunks.TypeHistogram,
      s"the earlier histogram chunk must stream first: $chunks")
    assert(chunks.map(_._1).toSet === Set(1, HistChunks.TypeHistogram))
  }

  test("PRW 2.0 created_timestamp decodes; flagged zero injection lands at CT") {
    val ct = 1704412800000L
    val ts = PromTimeSeries(
      Seq(PromLabel("__name__", "ct_total"), PromLabel("k", "v")),
      Seq(PromSample(5.0, ct + 100000L), PromSample(7.0, ct + 160000L)),
      createdTimestampMs = ct)
    val blob = PromRemoteCodec.encodeWriteRequestV2(
      PromRemoteCodec.PromWriteRequest(Seq(ts)))
    val v2 = Some("application/x-protobuf;proto=" + PromRemoteCodec.ProtoV2)
    // the field round-trips the v2 codec
    assert(PromRemoteCodec.decodeWriteRequestV2(blob)
      .timeseries.head.createdTimestampMs === ct)

    // default (flag off, upstream's default): CT is metadata only
    val store = tmpStore("ctzoff")
    RemoteWrite.serve(spark, store, blob, v2)
    assert(graft.ingest.SamplesStore.read(spark, store).count() === 2)

    // flag on: a synthetic 0 lands AT the created timestamp, before
    // the batch's earliest sample — rate sees the counter's birth
    val store2 = tmpStore("ctzon")
    RemoteWrite.ctZeroIngestion = true
    try RemoteWrite.serve(spark, store2, blob, v2)
    finally RemoteWrite.ctZeroIngestion = false
    val got = graft.ingest.SamplesStore.read(spark, store2)
      .select(expr("ts_us DIV 1000000"), col("value"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(got === Seq((ct / 1000, 0.0), (ct / 1000 + 100, 5.0),
      (ct / 1000 + 160, 7.0)))

    // a steady 2.0 sender repeats the CT on every request: the serve
    // path injects the zero ONCE (process-lifetime memo — the TSDB
    // dedup analogue), not once per request
    RemoteWrite.ctZeroIngestion = true
    try RemoteWrite.serve(spark, store2, blob, v2)
    finally RemoteWrite.ctZeroIngestion = false
    val again = graft.ingest.SamplesStore.read(spark, store2)
      .filter(col("value") === 0.0).count()
    assert(again === 1L, "repeat CT write must not re-inject the zero")

    // a CT at/after the earliest sample injects nothing (the counter
    // predates the batch; upstream only zero-fills younger counters)
    val old = ts.copy(createdTimestampMs = ct + 100000L)
    assert(PromRemoteCodec.toSamples(
      PromRemoteCodec.PromWriteRequest(Seq(old)), ctZero = true).size === 2)

    // the flag surfaces on /api/v1/status/flags
    val srv = HttpServe.start(spark, store)
    try {
      val (fc, fbody) = get(s"http://localhost:${srv.port}/api/v1/status/flags")
      assert(fc === 200)
      assert(fbody.contains(""""write.ct-zero-ingestion":"false""""))
    } finally srv.stop()
  }

  test("histogram add degrades on a custom-bounds conflict instead of failing") {
    import graft.ingest.NativeHistogram
    import graft.ingest.NativeHistogram.{CustomBucketsSchema, Sparse}
    val a = Sparse(CustomBucketsSchema, 0.0, 0.0, 3.0, 6.0,
      Map(1 -> 3.0), Map.empty, Seq(1.0, 2.0))
    val b = a.copy(customValues = Seq(1.0, 5.0))
    // addOrDrop — the distributed sum leg's fold — poisons the whole
    // group's point on a conflict (Prometheus's add error → warn +
    // DROPPED point, never a partial sum)
    assert(NativeHistogram.addOrDrop(Some(a), b) === None)
    // an NHCB next to an exponential layout drops the same way
    val e = Sparse(3, 1e-128, 0.0, 2.0, 4.0, Map(1 -> 2.0), Map.empty)
    assert(NativeHistogram.addOrDrop(Some(a), e) === None)
    // once poisoned, the fold stays dropped for later operands too
    assert(NativeHistogram.addOrDrop(None, a) === None)
    // compatible layouts still add
    assert(NativeHistogram.addOrDrop(Some(a), a).map(_.count) === Some(6.0))
    // the strict in-series contract keeps throwing for direct add()
    intercept[IllegalArgumentException](NativeHistogram.add(a, b))
  }

  test("custom-bounds histograms (NHCB, schema 127) carry end to end") {
    import graft.ingest.NativeHistogram
    val store = tmpStore("nhcb")
    val cv = Seq(0.1, 0.5, 2.5)
    // buckets: (≤0.1]:2, (0.1,0.5]:3, (0.5,2.5]:4, overflow(+Inf):6
    val h = NativeHistogram.Hist(1704412800000L, 15.0, 7.5, 127, 0.0, 0.0,
      Seq((0, 4)), Seq(2L, 1L, 1L, 2L), Nil, Nil, Nil, Nil,
      customValues = cv)
    val convBefore = graft.OpsMetrics(spark).convertedHistograms.value
    val dropBefore = graft.OpsMetrics(spark).droppedHistograms.value
    RemoteWrite.serve(spark, store, PromRemoteCodec.encodeWriteRequest(
      PromRemoteCodec.PromWriteRequest(Seq(PromTimeSeries(
        Seq(PromLabel("__name__", "hm2"), PromLabel("k", "v")),
        Nil, histograms = Seq(h))))))
    // CONVERTED (the custom bounds ARE le-buckets), not dropped —
    // this closes the r18 "NHCB dropped at ingest" gap
    assert(graft.OpsMetrics(spark).convertedHistograms.value === convBefore + 1)
    assert(graft.OpsMetrics(spark).droppedHistograms.value === dropBefore)
    val main = graft.ingest.SamplesStore.read(spark, store)
    val buckets = main.filter(col("metric") === "hm2_bucket")
      .select(expr("filter(labels, l -> startswith(l, 'le='))[0]"),
        col("value"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(buckets === Map("le=0.1" -> 2.0, "le=0.5" -> 5.0,
      "le=2.5" -> 9.0, "le=+Inf" -> 15.0))
    assert(main.filter(col("metric") === "hm2_sum").select(col("value"))
      .head().getDouble(0) === 7.5)
    assert(main.filter(col("metric") === "hm2_count").select(col("value"))
      .head().getDouble(0) === 15.0)
    // the hist sibling keeps the bounds byte-faithfully
    val sib = RemoteWrite.histStoreDf(spark, store).get
    val back = NativeHistogram.decode(graft.ingest.ProtoWire.reader(
      sib.select(col("hist")).head().getAs[Array[Byte]](0)))
    assert(back === h)
    // the native estimator walks custom bounds LINEARLY (classic
    // semantics): rank 7.5 lands in (0.5, 2.5] → 0.5 + 2·0.625
    val q = graft.serve.PromQL.eval(main,
        graft.serve.PromQL.parse("histogram_quantile(0.5, hm2)").toOption.get,
        1704412800L, 1704412800L, 1L, nativeHist = Some(sib))
      .select(col("v_e6")).collect().map(_.getLong(0)).toSeq
    assert(q === Seq(1750000L))
    // a quantile in the overflow bucket clamps to the top bound
    assert(NativeHistogram.quantile(0.99, h) === 2.5)
    // fraction is linear inside custom bounds: (0.1, 0.5] holds 3/15
    assert(NativeHistogram.fraction(0.1, 0.5, h) === 0.2)
  }

  test("exemplars ingest into the sibling store and serve on query_exemplars") {
    import graft.ingest.ProtoWire
    import org.xerial.snappy.Snappy
    val store = tmpStore("exemplars")
    val srv = HttpServe.start(spark, store)
    try {
      val base = s"http://localhost:${srv.port}"
      def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
      val w = new ProtoWire.Writer
      def series(k: String, traceId: String, v: Double, tsMs: Long): Unit = {
        val ts = new ProtoWire.Writer
        def label(wr: ProtoWire.Writer, n: String, vv: String): Unit = {
          val l = new ProtoWire.Writer
          l.writeStringField(1, n); l.writeStringField(2, vv)
          wr.writeMessageField(1, l)
        }
        label(ts, "__name__", "lat_bucket"); label(ts, "k", k)
        val sm = new ProtoWire.Writer
        sm.writeDoubleField(1, v); sm.writeVarintField(2, tsMs)
        ts.writeMessageField(2, sm)
        val exm = new ProtoWire.Writer // prompb Exemplar (field 3)
        label(exm, "trace_id", traceId)
        exm.writeDoubleField(2, v + 0.25)
        exm.writeVarintField(3, tsMs)
        ts.writeMessageField(3, exm)
        w.writeMessageField(1, ts)
      }
      series("a", "t1", 1.5, 1704412800000L)
      series("b", "t2", 2.5, 1704412860000L)
      val before = graft.OpsMetrics(spark).exemplarsWritten.value
      assert(post(s"$base/write", Snappy.compress(w.toBytes))._1 === 200)
      assert(graft.OpsMetrics(spark).exemplarsWritten.value === before + 2)
      // the float samples land in the MAIN store untouched
      assert(graft.ingest.SamplesStore.read(spark, store).count() === 2)
      // selector narrowing: only series k=a, with the exemplar's own
      // trace_id labels split back out and ms-precision timestamps
      val (qc, qb) = get(s"$base/api/v1/query_exemplars?query=" +
        enc("""lat_bucket{k="a"}""") + "&start=1704412800&end=1704412900")
      assert(qc === 200, qb)
      assert(qb === """{"status":"success","data":[""" +
        """{"seriesLabels":{"__name__":"lat_bucket","k":"a"},""" +
        """"exemplars":[{"labels":{"trace_id":"t1"},"value":"1.75",""" +
        """"timestamp":1704412800.000}]}]}""", qb)
      // an arbitrary expression narrows by its INNER selectors, like
      // Prometheus — both series return, series-sorted
      val (q2c, q2b) = get(s"$base/api/v1/query_exemplars?query=" +
        enc("sum(rate(lat_bucket[5m]))"))
      assert(q2c === 200)
      assert(q2b.contains(""""trace_id":"t1"""") &&
        q2b.contains(""""trace_id":"t2""""), q2b)
      assert(q2b.indexOf(""""k":"a"""") < q2b.indexOf(""""k":"b""""))
      // the time range excludes out-of-window exemplars
      val (q3c, q3b) = get(s"$base/api/v1/query_exemplars?query=" +
        enc("lat_bucket") + "&start=1704412850&end=1704412900")
      assert(q3c === 200)
      assert(!q3b.contains("t1") && q3b.contains("t2"), q3b)
      // the write counter rides /metrics
      assert(get(s"$base/metrics")._2.contains("write_exemplars_total"))
    } finally srv.stop()
  }

  test("the serving write path folds fragmentation in the background") {
    val store = tmpStore("bgcompact")
    val (interval, threshold, grace) =
      (RemoteWrite.compactCheckIntervalMs, RemoteWrite.autoCompactFilesPerDay,
       RemoteWrite.gcGraceMs)
    RemoteWrite.compactCheckIntervalMs = 0L
    RemoteWrite.autoCompactFilesPerDay = 2
    // grace 0: the background pass also GCs superseded files eagerly,
    // so the PHYSICAL footprint below proves the whole maintenance
    // loop (fold + expiry), not just the manifest fold
    RemoteWrite.gcGraceMs = 0L
    try {
      // every request lands one file in the single day partition; the
      // probe fires per request (interval 0) and merges OFF this thread
      for (i <- 0 until 6) RemoteWrite.serve(spark, store, writeBlob(s"bg_$i", 5))
      def dayFiles: Int = {
        // polled concurrently with the background merge and GC: a day
        // dir can vanish between listings, making listFiles() null
        val day = Option(new java.io.File(store).listFiles()).getOrElse(Array.empty)
          .filter(f => f.isDirectory && f.getName.startsWith("date="))
        if (day.isEmpty) Int.MaxValue
        else day.map(d => Option(d.listFiles()).getOrElse(Array.empty)
          .count(_.getName.endsWith(".parquet"))).max
      }
      // background merge: poll until the day folds under the threshold
      val deadline = System.currentTimeMillis() + 60000
      var last = dayFiles
      while (last > 3 && System.currentTimeMillis() < deadline) {
        Thread.sleep(200); last = dayFiles
      }
      assert(last <= 3, s"background compaction never folded the day (still $last files)")
      // merges must be result-invariant: all 30 samples, 6 metrics
      val back = graft.ingest.SamplesStore.read(spark, store)
      assert(back.count() === 30)
      assert(back.select(col("metric")).distinct().count() === 6)
    } finally {
      RemoteWrite.compactCheckIntervalMs = interval
      RemoteWrite.autoCompactFilesPerDay = threshold
      RemoteWrite.gcGraceMs = grace
    }
  }

  /** The job tags of every Spark job that starts, on any thread,
    * while `f` runs — drained by a marker job. */
  private def jobTagsDuring(f: => Unit): Seq[Set[String]] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val marker = s"spec-${java.util.UUID.randomUUID()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Set[String]]
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.exists(_.getProperty("graft.spec.marker") == marker)) drained.countDown()
        else seen.add(props.flatMap(p => Option(p.getProperty("spark.job.tags")))
          .fold(Set.empty[String])(_.split(',').toSet))
        ()
      }
    }
    sc.addSparkListener(listener)
    try {
      f
      sc.setLocalProperty("graft.spec.marker", marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.spec.marker", null)
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus drained")
    } finally sc.removeSparkListener(listener)
    seen.toArray(Array.empty[Set[String]]).toSeq
  }

  test("every job of a maintenance pass carries the maintenance job tag; a /write's none") {
    val store = tmpStore("jobtags")
    val saved = (RemoteWrite.compactCheckIntervalMs, RemoteWrite.autoCompactFilesPerDay)
    try {
      // a store's first write always probes; later ones wait out the
      // (here: unreachable) check interval
      RemoteWrite.compactCheckIntervalMs = Long.MaxValue / 4
      RemoteWrite.autoCompactFilesPerDay = 2
      RemoteWrite.serve(spark, store, writeBlob("tag_0", 5))
      awaitMaintenanceIdle()
      val writeJobs = jobTagsDuring(RemoteWrite.serve(spark, store, writeBlob("tag_1", 5)))
      assert(writeJobs.nonEmpty && writeJobs.forall(!_.contains(RemoteWrite.MaintenanceJobTag)),
        s"a /write ran maintenance-tagged jobs: $writeJobs")
      RemoteWrite.serve(spark, store, writeBlob("tag_2", 5))
      // three files in the day, past the threshold: a forced pass folds
      RemoteWrite.compactCheckIntervalMs = 0L
      val folds = OpsMetrics(spark).compactions.value
      val passJobs = jobTagsDuring {
        RemoteWrite.maybeCompactRateLimited(spark, store)
        awaitMaintenanceIdle()
      }
      assert(OpsMetrics(spark).compactions.value > folds, "the forced pass did not fold")
      assert(passJobs.nonEmpty && passJobs.forall(_.contains(RemoteWrite.MaintenanceJobTag)),
        s"a maintenance job ran untagged: $passJobs")
    } finally {
      RemoteWrite.compactCheckIntervalMs = saved._1
      RemoteWrite.autoCompactFilesPerDay = saved._2
    }
  }

  test("sibling exemplar/metadata stores fold and age with the maintenance pass") {
    val store = tmpStore("sibmaint")
    val saved = (RemoteWrite.autoCompactFilesPerDay, RemoteWrite.gcGraceMs,
      RemoteWrite.retentionDays)
    RemoteWrite.autoCompactFilesPerDay = 2
    RemoteWrite.gcGraceMs = 0L
    RemoteWrite.retentionDays = 30
    try {
      // six requests, each carrying metadata AND an exemplar → six
      // small files per sibling day; plus one exemplar far past the
      // retention horizon
      val nowMs = System.currentTimeMillis()
      for (i <- 0 until 6) {
        val req = PromRemoteCodec.PromWriteRequest(Seq(PromTimeSeries(
          Seq(PromLabel("__name__", "sib"), PromLabel("k", s"v$i")),
          // each request also carries a stale marker: the `_stale`
          // sibling fragments and maintains exactly like the others
          Seq(PromSample(i.toDouble, nowMs),
            PromSample(PromRemoteCodec.staleNaN, nowMs + 1000L)),
          exemplars = Seq(PromRemoteCodec.PromExemplar(
            Seq(PromLabel("trace_id", s"t$i")), i.toDouble, nowMs)),
          metadata = Some(PromRemoteCodec.PromMetadata(2, s"Help $i.", "")))))
        RemoteWrite.serveCounted(spark, store,
          PromRemoteCodec.encodeWriteRequestV2(req),
          Some("application/x-protobuf;proto=" + PromRemoteCodec.ProtoV2))
      }
      val oldEx = PromRemoteCodec.PromWriteRequest(Seq(PromTimeSeries(
        Seq(PromLabel("__name__", "sib_old")),
        Seq(PromSample(1.0, 1704412800000L),
          PromSample(PromRemoteCodec.staleNaN, 1704412860000L)),
        exemplars = Seq(PromRemoteCodec.PromExemplar(
          Seq(PromLabel("trace_id", "old")), 1.0, 1704412800000L)))))
      RemoteWrite.serveCounted(spark, store,
        PromRemoteCodec.encodeWriteRequestV2(oldEx),
        Some("application/x-protobuf;proto=" + PromRemoteCodec.ProtoV2))
      def dayFiles(path: String): Int =
        Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
          .filter(f => f.isDirectory && f.getName.startsWith("date="))
          .map(d => Option(d.listFiles()).getOrElse(Array.empty)
            .count(_.getName.endsWith(".parquet"))).maxOption.getOrElse(0)
      // the seven serves fragmented each sibling (one small file set
      // per request); no pre-fold file-count assert — the FIRST serve
      // legitimately triggers an async background pass that may fold
      // some of it early, and racing that scaffolding made the test
      // flaky. The contract is the POST-state below.
      RemoteWrite.maintainSiblings(spark, store)
      // folded under the threshold, content invariant
      assert(dayFiles(RemoteWrite.exemplarPath(store)) <= 3)
      assert(dayFiles(RemoteWrite.metadataPath(store)) <= 3)
      assert(dayFiles(RemoteWrite.stalePath(store)) <= 3)
      val ex = graft.ingest.SamplesStore.read(spark,
        RemoteWrite.exemplarPath(store))
      // the horizon-expired exemplar day dropped with the fold; the
      // six current exemplars survive
      assert(ex.count() === 6)
      assert(ex.filter(col("metric") === "sib_old").count() === 0)
      val md = graft.ingest.SamplesStore.read(spark,
        RemoteWrite.metadataPath(store))
      assert(md.count() === 6, "metadata never retention-drops")
      // stale markers age out with the samples whose series they end
      val st = graft.ingest.SamplesStore.read(spark,
        RemoteWrite.stalePath(store))
      assert(st.count() === 6)
      assert(st.filter(col("metric") === "sib_old").count() === 0,
        "a marker past the horizon suppresses nothing and must drop")
    } finally {
      RemoteWrite.autoCompactFilesPerDay = saved._1
      RemoteWrite.gcGraceMs = saved._2
      RemoteWrite.retentionDays = saved._3
    }
  }

  test("retention expires whole old days in the background, sparing the horizon") {
    val store = tmpStore("retention")
    val saved = (RemoteWrite.compactCheckIntervalMs, RemoteWrite.retentionDays)
    RemoteWrite.compactCheckIntervalMs = 0L
    RemoteWrite.retentionDays = 30
    try {
      // one series far past the horizon (2024) and one written now
      val nowMs = System.currentTimeMillis()
      val series = Seq(
        PromTimeSeries(Seq(PromLabel("__name__", "ret_old")),
          Seq(PromSample(1.0, 1704412800000L))),
        PromTimeSeries(Seq(PromLabel("__name__", "ret_new")),
          Seq(PromSample(2.0, nowMs))))
      RemoteWrite.serve(spark, store,
        PromRemoteCodec.encodeWriteRequest(PromWriteRequest(series)))
      // the background maintenance pass drops the 2024 day directory
      val deadline = System.currentTimeMillis() + 60000
      def metrics: Set[String] =
        graft.ingest.SamplesStore.read(spark, store)
          .select(col("metric")).distinct().collect().map(_.getString(0)).toSet
      var m = metrics
      while (m.contains("ret_old") && System.currentTimeMillis() < deadline) {
        Thread.sleep(200); m = metrics
      }
      assert(m === Set("ret_new"),
        s"retention must drop only the expired day, saw $m")
    } finally {
      RemoteWrite.compactCheckIntervalMs = saved._1
      RemoteWrite.retentionDays = saved._2
    }
  }

  test("RemoteWrite.serve rejects a malformed blob and counts the error") {
    val store = tmpStore("badwrite")
    val m = OpsMetrics(spark)
    val before = m.writeErrors.value
    intercept[Throwable](RemoteWrite.serve(spark, store, Array[Byte](1, 2, 3)))
    assert(m.writeErrors.value === before + 1)
  }

  test("RemoteRead.serve rejects an over-limit response and counts the error") {
    val samples = Tables.samples(spark, Sf)
    val blob = PromRemoteCodec.encodeReadRequest(Seq(
      ReadQuery(0L, 0L, Seq(Matchers.eq("__name__", "view")))))
    val m = OpsMetrics(spark)
    val before = m.readErrors.value
    intercept[RemoteRead.ResponseTooLargeException](
      RemoteRead.serve(samples, blob, maxSamples = 10L))
    assert(m.readErrors.value === before + 1)
    // the same query under the default limit still serves
    assert(PromRemoteCodec.decodeReadResponse(RemoteRead.serve(samples, blob)).nonEmpty)
  }

  test("the stale-marker leg rides the same maxSamples guard as floats") {
    import spark.implicits._
    // one float sample (under the limit) + three marker seconds for
    // the SAME matcher (over it): the stale query must throw rather
    // than collect unbounded marker rows — a flapping fleet makes
    // them numerous
    val store = tmpStore("stalelimit")
    val base = 1704412800L
    graft.ingest.SamplesStore.append(
      Seq((base * 1000000L, "flap", Seq("k=v"), 1.0))
        .toDF("ts_us", "metric", "labels", "value"), store)
    graft.ingest.SamplesStore.append(
      (1 to 3).map(i => ((base + i * 60) * 1000000L, "flap", Seq("k=v"), 1.0))
        .toDF("ts_us", "metric", "labels", "value"),
      RemoteWrite.stalePath(store))
    val blob = PromRemoteCodec.encodeReadRequest(Seq(
      ReadQuery(0L, (base + 86400) * 1000L,
        Seq(Matchers.eq("__name__", "flap")))))
    intercept[RemoteRead.ResponseTooLargeException](
      RemoteRead.serve(graft.ingest.SamplesStore.read(spark, store), blob,
        maxSamples = 2L,
        staleStore = Some(graft.ingest.SamplesStore.read(
          spark, RemoteWrite.stalePath(store)))))
  }

  // ---- HTTP front door --------------------------------------------

  private def post(url: String, body: Array[Byte],
                   contentType: Option[String] = None,
                   respHeaders: Seq[String] = Nil): (Int, Array[Byte], Map[String, String]) = {
    val c = new URL(url).openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod("POST"); c.setDoOutput(true)
    contentType.foreach(ct => c.setRequestProperty("Content-Type", ct))
    c.getOutputStream.write(body); c.getOutputStream.close()
    val code = c.getResponseCode
    val is = if (code >= 400) c.getErrorStream else c.getInputStream
    val bytes = if (is == null) Array.emptyByteArray else is.readAllBytes()
    val headers = (Seq("Content-Type", "Content-Encoding") ++ respHeaders)
      .flatMap(h => Option(c.getHeaderField(h)).map(h -> _)).toMap
    (code, bytes, headers)
  }

  private def get(url: String): (Int, String) = {
    val c = new URL(url).openConnection().asInstanceOf[HttpURLConnection]
    val code = c.getResponseCode
    val is = if (code >= 400) c.getErrorStream else c.getInputStream
    (code, if (is == null) "" else new String(is.readAllBytes(), "UTF-8"))
  }

  test("ServeConfig validates the flag surface like the reference adapter") {
    import graft.serve.Main.parseArgs
    val c = parseArgs(Seq("-http", "0.0.0.0:9131", "-store", "/tmp/s",
      "-read.ignore-hints", "-read.max-samples", "5"))
    assert(c.port === 9131 && c.storePath === "/tmp/s" &&
      c.readIgnoreHints && c.maxReadSamples === 5L)
    assert(parseArgs(Seq("-store", "/tmp/s")).port === 9131) // bare-port default
    intercept[IllegalArgumentException](parseArgs(Seq.empty)) // empty store path
    intercept[IllegalArgumentException](
      parseArgs(Seq("-store", "/tmp/has space")))
    intercept[IllegalArgumentException](
      parseArgs(Seq("-store", "/tmp/s", "-read.ignore-label", "noequals")))
    intercept[IllegalArgumentException](
      parseArgs(Seq("-store", "/tmp/s", "-http", "notaport")))
    intercept[IllegalArgumentException](
      parseArgs(Seq("-store", "/tmp/s", "-bogus", "x")))
    // background-merge knobs parse and validate
    val k = parseArgs(Seq("-store", "/tmp/s",
      "-store.compact-interval-ms", "500", "-store.compact-files-per-day", "16"))
    assert(k.compactIntervalMs === 500L && k.compactFilesPerDay === 16)
    intercept[IllegalArgumentException](
      parseArgs(Seq("-store", "/tmp/s", "-store.compact-files-per-day", "0")))
    intercept[IllegalArgumentException](
      parseArgs(Seq("-store", "/tmp/s", "-store.compact-interval-ms", "-1")))
    assert(parseArgs(Seq("-store", "/tmp/s", "-store.retention-days", "90")).retentionDays === 90)
    intercept[IllegalArgumentException](
      parseArgs(Seq("-store", "/tmp/s", "-store.retention-days", "-1")))
    // the LADDER knob: needs the fine interval set, a proper
    // multiple of it, and a day divisor
    assert(parseArgs(Seq("-store", "/tmp/s",
      "-store.rollup-interval-sec", "900",
      "-store.rollup-ladder-interval-sec", "3600"))
      .rollupLadderIntervalSec === 3600L)
    for (bad <- Seq(
      Seq("-store.rollup-ladder-interval-sec", "3600"), // no fine twin
      Seq("-store.rollup-interval-sec", "900",
        "-store.rollup-ladder-interval-sec", "900"),    // not proper
      Seq("-store.rollup-interval-sec", "900",
        "-store.rollup-ladder-interval-sec", "1000"),   // not multiple
      Seq("-store.rollup-interval-sec", "900",
        "-store.rollup-ladder-interval-sec", "-1")))
      intercept[IllegalArgumentException](
        parseArgs(Seq("-store", "/tmp/s") ++ bad))
    // -debug (main.go:89 parity): a bare switch, default off
    assert(parseArgs(Seq("-store", "/tmp/s", "-debug")).debug)
    assert(!parseArgs(Seq("-store", "/tmp/s")).debug)
  }

  test("HTTP shim round-trips write → read with the reference's contract") {
    val store = tmpStore("http")
    val srv = HttpServe.start(spark, store)
    try {
      val base = s"http://localhost:${srv.port}"

      // unknown path → 404 (main.go:116-120)
      assert(get(s"$base/nope")._1 === 404)

      // POST /write with a real snappy+proto body → 200, lands in store
      val (wc, _, _) = post(s"$base/write", writeBlob("http_metric", 5))
      assert(wc === 200)

      // POST /read with a real ReadRequest → snappy ReadResponse with
      // the reference's headers (main.go:66-67)
      val readBlob = PromRemoteCodec.encodeReadRequest(Seq(
        ReadQuery(1704412800000L, 1704412900000L,
          Seq(Matchers.eq("__name__", "http_metric")))))
      val (rc, rbody, rheaders) = post(s"$base/read", readBlob)
      assert(rc === 200)
      assert(rheaders.get("Content-Type").contains("application/x-protobuf"))
      assert(rheaders.get("Content-Encoding").contains("snappy"))
      val series = PromRemoteCodec.decodeReadResponse(rbody)
      assert(series.map(_.samples.size).sum === 5)
      assert(series.forall(_.labels.exists(l =>
        l.name == "__name__" && l.value == "http_metric")))

      // malformed write body → 500 (the reference's http.Error path)
      assert(post(s"$base/write", Array[Byte](9, 9, 9))._1 === 500)

      // GET /metrics → text exposition with the five counters
      val (mc, mbody) = get(s"$base/metrics")
      assert(mc === 200)
      assert(mbody.contains("samples_written_total"))
      assert(mbody.contains("write_errors_total"))
    } finally srv.stop()
  }

  test("/metrics counts codegen compilations; a refreshed panel adds none") {
    val store = tmpStore("codegen")
    val srv = HttpServe.start(spark, store)
    try {
      val base = s"http://localhost:${srv.port}"
      val t0 = 1704412800L
      val counter = PromTimeSeries(
        Seq(PromLabel("__name__", "cg_total"), PromLabel("k", "x")),
        (0 until 240).map(i => PromSample(i * 2.0, (t0 + i * 15L) * 1000L)))
      assert(post(s"$base/write",
        PromRemoteCodec.encodeWriteRequest(PromWriteRequest(Seq(counter))))._1 === 200)
      def compilations(): Long = {
        awaitMaintenanceIdle()
        val (code, body) = get(s"$base/metrics")
        assert(code === 200)
        val lines = body.linesIterator.toSeq
        assert(lines.contains("# TYPE codegen_compilations_total counter"))
        val n = lines.collect { case l if l.startsWith("codegen_compilations_total ") =>
          l.stripPrefix("codegen_compilations_total ") }
        assert(n.size === 1 && n.head.matches("[0-9]+"), s"malformed line: $n")
        n.head.toLong
      }
      // one 20-minute panel, refreshed five times, one step later each
      // time (all inside one hour, so the pushdown literals agree)
      def panel(k: Int): Unit = {
        val start = t0 + 1200L + k * 60L
        val (code, body) = get(s"$base/api/v1/query_range?query=" +
          java.net.URLEncoder.encode("sum(rate(cg_total[5m]))", "UTF-8") +
          s"&start=$start&end=${start + 1200L}&step=60")
        assert(code === 200 && body.contains("\"values\""), body)
      }
      panel(0)
      val before = compilations()
      (1 to 5).foreach(panel)
      assert(compilations() - before === 0L, "a shifted window compiled new classes")
    } finally srv.stop()
  }

  test("/read negotiates STREAMED_XOR_CHUNKS and the frames decode to the samples") {
    val store = tmpStore("chunked")
    val srv = HttpServe.start(spark, store)
    try {
      val base = s"http://localhost:${srv.port}"
      // ONE series with 130 samples — must split 120+10 across chunks
      val many = PromTimeSeries(
        Seq(PromLabel("__name__", "chunk_metric"), PromLabel("k", "x")),
        (0 until 130).map(i =>
          PromSample(i.toDouble, 1704412800000L + i * 1000L)))
      val wblob = PromRemoteCodec.encodeWriteRequest(PromWriteRequest(Seq(many)))
      assert(post(s"$base/write", wblob)._1 === 200)
      val queries = Seq(ReadQuery(1704412800000L, 1704412800000L + 86400000L,
        Seq(Matchers.eq("__name__", "chunk_metric"))))
      // a client PREFERRING response type 1 gets gorilla frames …
      val blob = PromRemoteCodec.encodeReadRequestWithTypes(queries, Seq(1, 0))
      val (rc, rbody, rheaders) = post(s"$base/read", blob)
      assert(rc === 200)
      assert(rheaders.get("Content-Type").exists(_.startsWith(
        "application/x-streamed-protobuf")))
      assert(rheaders.get("Content-Encoding").isEmpty, "frames are not snappy-wrapped")
      val frames = PromRemoteCodec.decodeChunkedFrames(rbody)
      assert(frames.nonEmpty && frames.forall(_._1 === 0L))
      val decoded = for {
        (_, ss) <- frames
        s <- ss
        c <- s.chunks
        (t, v) = graft.serve.Gorilla.decode(c.data)
        i <- t.indices
      } yield (t(i), v(i))
      // … that decode to exactly what the SAMPLES path answers
      val plain = PromRemoteCodec.decodeReadResponse(
        post(s"$base/read", PromRemoteCodec.encodeReadRequest(queries))._2)
      val want = plain.flatMap(_.samples).map(s => (s.timestampMs, s.value))
      assert(decoded.sorted === want.sorted)
      assert(want.size === 130, "130 samples must split across two chunks")
      assert(frames.flatMap(_._2).flatMap(_.chunks).size === 2)
      // chunk bounds cover the samples
      val ch = frames.flatMap(_._2).flatMap(_.chunks)
      assert(ch.map(_.minTimeMs).min === want.map(_._1).min)
      assert(ch.map(_.maxTimeMs).max === want.map(_._1).max)
      // … while a plain request still answers the protocol default
      val (pc, _, ph) = post(s"$base/read", PromRemoteCodec.encodeReadRequest(queries))
      assert(pc === 200 && ph.get("Content-Encoding").contains("snappy"))
      // … and preference ORDER is honored: a client listing SAMPLES
      // first gets the snappy SAMPLES body even though it also
      // accepts chunks (the spec's "in the order of preference")
      val samplesFirst =
        PromRemoteCodec.encodeReadRequestWithTypes(queries, Seq(0, 1))
      val (sc2, sbody2, sh2) = post(s"$base/read", samplesFirst)
      assert(sc2 === 200 && sh2.get("Content-Encoding").contains("snappy"))
      val plain2 = PromRemoteCodec.decodeReadResponse(sbody2)
      assert(plain2.flatMap(_.samples).map(s => (s.timestampMs, s.value)).sorted
        === want.sorted)
    } finally srv.stop()
  }

  test("staleness markers: sibling ingest, query suppression, verbatim /read pass-through") {
    val store = tmpStore("stale")
    val t0 = 1704412800000L
    val stale = PromRemoteCodec.staleNaN
    // the JVM bit round-trip the whole feature rests on: a value
    // built from the marker bits reads back as the marker bits
    assert(java.lang.Double.doubleToRawLongBits(stale) ===
      PromRemoteCodec.StaleNaNBits)
    assert(PromRemoteCodec.isStaleMarker(stale))
    assert(!PromRemoteCodec.isStaleMarker(Double.NaN), "ordinary NaN is NOT a marker")
    val series = Seq(
      PromTimeSeries(Seq(PromLabel("__name__", "up_stale"), PromLabel("k", "a")),
        Seq(PromSample(1.0, t0), PromSample(2.0, t0 + 30000L),
          PromSample(stale, t0 + 60000L))),
      PromTimeSeries(Seq(PromLabel("__name__", "up_stale"), PromLabel("k", "b")),
        Seq(PromSample(5.0, t0))))
    val written = RemoteWrite.serve(spark, store,
      PromRemoteCodec.encodeWriteRequest(PromWriteRequest(series)))
    assert(written === 4, "markers count as samples in the sender's units")

    // the marker never lands in the MAIN store (range selection must
    // not see it, and a double column couldn't keep its payload)
    val main = graft.ingest.SamplesStore.read(spark, store)
    assert(main.count() === 3)
    assert(main.filter(isnan(col("value"))).count() === 0)
    val sib = RemoteWrite.staleStoreDf(spark, store)
    assert(sib.isDefined)
    assert(sib.get.count() === 1)

    // the instant lookback ENDS series a at the marker; b lingers
    val got = graft.serve.PromQL.eval(main,
        graft.serve.PromQL.parse("up_stale").toOption.get,
        t0 / 1000 + 90, t0 / 1000 + 90, 1L, stale = sib)
      .select(array_join(col("labels"), ","), col("v_e6")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got === Set(("k=b", 5000000L)))

    // /read (SAMPLES): the marker rides the series in time order
    // with the EXACT StaleNaN payload — the querier-side pass-through
    val queries = Seq(ReadQuery(t0, t0 + 120000L,
      Seq(Matchers.eq("__name__", "up_stale"))))
    val back = PromRemoteCodec.decodeReadResponse(RemoteRead.serve(
      graft.ingest.SamplesStore.read(spark, store),
      PromRemoteCodec.encodeReadRequest(queries), staleStore = sib))
    val aS = back.find(_.labels.exists(l => l.name == "k" && l.value == "a"))
      .get.samples
    assert(aS.map(_.timestampMs) === Seq(t0, t0 + 30000L, t0 + 60000L))
    assert(java.lang.Double.doubleToRawLongBits(aS.last.value) ===
      PromRemoteCodec.StaleNaNBits)
    assert(aS.take(2).map(_.value) === Seq(1.0, 2.0))

    // … and the CHUNKED path: Gorilla XOR is bit-level, so the
    // payload survives the chunk encode/decode round-trip too
    val cframes = PromRemoteCodec.decodeChunkedFrames(RemoteRead.serveChunked(
      graft.ingest.SamplesStore.read(spark, store),
      PromRemoteCodec.encodeReadRequestWithTypes(queries, Seq(1)),
      staleStore = sib))
    val aChunks = (for {
      (_, ss) <- cframes
      s <- ss if s.labels.exists(l => l.name == "k" && l.value == "a")
      c <- s.chunks
      (t, v) = graft.serve.Gorilla.decode(c.data)
      i <- t.indices
    } yield (t(i), v(i))).sortBy(_._1)
    assert(aChunks.map(_._1) === Seq(t0, t0 + 30000L, t0 + 60000L))
    assert(java.lang.Double.doubleToRawLongBits(aChunks.last._2) ===
      PromRemoteCodec.StaleNaNBits)
  }

  test("metadata API serves label names and values as Prometheus JSON") {
    val store = tmpStore("metaapi")
    val srv = HttpServe.start(spark, store)
    try {
      val base = s"http://localhost:${srv.port}"
      // fresh server, no store yet: success + empty, never a 500 —
      // a Grafana variables query must not error on an empty TSDB
      assert(get(s"$base/api/v1/labels") ===
        ((200, """{"status":"success","data":[]}""")))
      assert(post(s"$base/write", writeBlob("meta_metric", 3))._1 === 200)
      // one Spark action per labels request — the __name__ existence
      // probe must ride the key-list collect (a marker row in the
      // same plan), not fire a second job on the serving path
      val execs = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        def onSuccess(funcName: String,
                      qe: org.apache.spark.sql.execution.QueryExecution,
                      durationNs: Long): Unit = { execs.incrementAndGet(); () }
        def onFailure(funcName: String,
                      qe: org.apache.spark.sql.execution.QueryExecution,
                      exception: Exception): Unit = ()
      }
      def actionsFor(body: => Unit): Int = {
        spark.listenerManager.register(listener)
        try {
          execs.set(0)
          body
          // the listener fires via the async bus; wait for it to drain
          val deadline = System.nanoTime() + 3000000000L
          while (execs.get() < 1 && System.nanoTime() < deadline) Thread.sleep(20)
          Thread.sleep(200) // catch any SECOND action trailing in
          execs.get()
        } finally spark.listenerManager.unregister(listener)
      }
      var lc = 0; var lbody = ""
      assert(actionsFor { val r = get(s"$base/api/v1/labels"); lc = r._1; lbody = r._2 } === 1,
        "a labels request must cost exactly one Spark action")
      assert(lc === 200)
      assert(lbody === """{"status":"success","data":["__name__","k"]}""")
      val (vc, vbody) = get(s"$base/api/v1/label/k/values")
      assert(vc === 200)
      assert(vbody === """{"status":"success","data":["v0","v1","v2"]}""")
      // __name__ resolves to the metric domain
      assert(get(s"$base/api/v1/label/__name__/values")._2
        === """{"status":"success","data":["meta_metric"]}""")
      // unknown label: success + empty; malformed path: the 404 body
      assert(get(s"$base/api/v1/label/nope/values")._2
        === """{"status":"success","data":[]}""")
      assert(get(s"$base/api/v1/label/k")._1 === 404)
      // start/end bound the scan to the queried day partitions: a
      // window ending before the data's day sees nothing, a window
      // covering it sees everything
      assert(get(s"$base/api/v1/label/__name__/values?start=100&end=8640000")._2
        === """{"status":"success","data":[]}""")
      assert(get(s"$base/api/v1/label/__name__/values?start=1704412800&end=1704499199")._2
        === """{"status":"success","data":["meta_metric"]}""")
      assert(get(s"$base/api/v1/labels?end=8640000")._2
        === """{"status":"success","data":[]}""")
      // RFC3339 bounds — what Grafana sends by default — must bound
      // exactly like their numeric equivalents
      assert(get(s"$base/api/v1/label/__name__/values?start=1970-01-01T00:00:00Z&end=1970-04-11T00:00:00Z")._2
        === """{"status":"success","data":[]}""")
      assert(get(s"$base/api/v1/label/__name__/values?start=2024-01-05T00:00:00Z&end=2024-01-05T23:59:59Z")._2
        === """{"status":"success","data":["meta_metric"]}""")
      // match[] narrows the domains to the matching series
      val m = java.net.URLEncoder.encode("match[]", "UTF-8")
      val sel = java.net.URLEncoder.encode("""meta_metric{k="v1"}""", "UTF-8")
      assert(get(s"$base/api/v1/label/k/values?$m=$sel")._2
        === """{"status":"success","data":["v1"]}""")
      assert(get(s"$base/api/v1/labels?$m=$sel")._2
        === """{"status":"success","data":["__name__","k"]}""")
      val none = java.net.URLEncoder.encode("nope_metric", "UTF-8")
      assert(get(s"$base/api/v1/labels?$m=$none")._2
        === """{"status":"success","data":[]}""")
      assert(get(s"$base/api/v1/labels?$m=%7Bbad")._1 === 400)
      // form-POST parity: Grafana switches to POST for long selectors
      val (pc, pb, _) = post(s"$base/api/v1/label/k/values",
        s"$m=$sel".getBytes("UTF-8"),
        Some("application/x-www-form-urlencoded"))
      assert(pc === 200 &&
        new String(pb, "UTF-8") === """{"status":"success","data":["v1"]}""")
      val (sc2, sb2, _) = post(s"$base/api/v1/series",
        s"$m=$sel".getBytes("UTF-8"),
        Some("application/x-www-form-urlencoded"))
      assert(sc2 === 200 && new String(sb2, "UTF-8").contains(""""k":"v1""""),
        new String(sb2, "UTF-8"))
      // the 2.50+ limit= parameter caps each metadata response
      assert(get(s"$base/api/v1/label/k/values?limit=2")._2
        === """{"status":"success","data":["v0","v1"]}""")
      assert(get(s"$base/api/v1/labels?limit=1")._2
        === """{"status":"success","data":["__name__"]}""")
      val allM = java.net.URLEncoder.encode("meta_metric", "UTF-8")
      val sLim = get(s"$base/api/v1/series?$m=$allM&limit=1")._2
      assert(sLim.count(_ == '{') === 2, sLim) // envelope + exactly 1 series
      // limit=0 = uncapped, like Prometheus
      assert(get(s"$base/api/v1/label/k/values?limit=0")._2
        === """{"status":"success","data":["v0","v1","v2"]}""")
      // …but a limit the server cannot parse (or a negative one) is
      // the CLIENT's error — 400 bad_data, never a silent full set
      val (badLc, badLb) = get(s"$base/api/v1/label/k/values?limit=abc")
      assert(badLc === 400 && badLb.contains("bad_data"), badLb)
      assert(get(s"$base/api/v1/labels?limit=-1")._1 === 400)
    } finally srv.stop()
  }

  test("sort()/sort_desc() ordering survives to the /api/v1/query JSON") {
    val store = tmpStore("sortorder")
    val srv = HttpServe.start(spark, store)
    try {
      val base = s"http://localhost:${srv.port}"
      val t0 = 1704412800L
      def series(k: String, v: Double) =
        PromTimeSeries(Seq(PromLabel("__name__", "s_total"), PromLabel("k", k)),
          Seq(PromSample(v, t0 * 1000L)))
      val blob = PromRemoteCodec.encodeWriteRequest(PromWriteRequest(Seq(
        series("a", 2.0), series("b", 9.0), series("c", 5.0))))
      assert(post(s"$base/write", blob)._1 === 200)
      def values(q: String): Seq[String] = {
        val (c, b) = get(s"$base/api/v1/query?query=" +
          java.net.URLEncoder.encode(q, "UTF-8") + s"&time=$t0")
        assert(c === 200, b)
        """"value":\[\d+,"([0-9.]+)"\]""".r.findAllMatchIn(b)
          .map(_.group(1)).toSeq
      }
      // the plan's ORDER BY reaches the user: 9,5,2 — the identity
      // re-sort would have answered label order a,b,c = 2,9,5
      assert(values("sort_desc(s_total)") === Seq("9", "5", "2"))
      assert(values("sort(s_total)") === Seq("2", "5", "9"))
      // sort_by_label orders by the label VALUES
      assert(values("""sort_by_label_desc(s_total, "k")""") ===
        Seq("5", "9", "2"))
      // a plain selector keeps the deterministic identity order
      assert(values("s_total") === Seq("2", "9", "5"))
    } finally srv.stop()
  }

  test("every malformed serving input answers the exact 400 bad_data body") {
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    def bad(msg: String) =
      s"""{"status":"error","errorType":"bad_data","error":"$msg"}"""
    // a parse error's message is the parser's own text, JSON-escaped
    def parseErr(q: String) = bad(graft.serve.PromQL.parse(q).swap.toOption.get
      .flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      })
    val m = enc("match[]")
    val badQ = enc("sum(rate(")
    val store = tmpStore("errsurface")
    val srv = HttpServe.start(spark, store)
    try {
      val base = s"http://localhost:${srv.port}"
      // a fresh server with no store yet validates limit= all the same
      val fresh = Seq(
        "/api/v1/labels?limit=x" -> bad("limit must be a non-negative integer: x"),
        "/api/v1/label/k/values?limit=x" -> bad("limit must be a non-negative integer: x"),
        s"/api/v1/series?$m=err_m&limit=-1" -> bad("limit must be a non-negative integer: -1"))
      fresh.foreach { case (path, want) =>
        assert(get(base + path) === ((400, want)), s"fresh server: $path")
      }
      assert(post(s"$base/write", writeBlob("err_m", 1))._1 === 200)
      val cases = Seq(
        s"/api/v1/labels?$m=" + enc("{bad") -> bad("match[] malformed"),
        s"/api/v1/label/k/values?$m=" + enc("{bad") -> bad("match[] malformed"),
        "/api/v1/series" -> bad("match[] missing or malformed"),
        s"/api/v1/series?$m=" + enc("{bad") -> bad("match[] missing or malformed"),
        "/federate" -> bad("match[] missing or malformed"),
        s"/federate?$m=" + enc("{bad") -> bad("match[] missing or malformed"),
        s"/federate?$m=err_m&time=yesterday" -> bad("time parameter malformed"),
        "/api/v1/format_query" -> bad("query parameter is required"),
        s"/api/v1/format_query?query=$badQ" -> parseErr("sum(rate("),
        "/api/v1/parse_query" -> bad("query parameter is required"),
        s"/api/v1/parse_query?query=$badQ" -> parseErr("sum(rate("),
        "/api/v1/query_exemplars" -> bad("query parameter is required"),
        s"/api/v1/query_exemplars?query=$badQ" -> parseErr("sum(rate("),
        "/api/v1/query" -> bad("missing query parameter"),
        s"/api/v1/query?query=$badQ" -> parseErr("sum(rate("),
        "/api/v1/query?query=err_m&time=yesterday" -> bad("time parameter malformed"),
        "/api/v1/query_range?start=0&end=60&step=15" -> bad("missing query parameter"),
        s"/api/v1/query_range?query=$badQ&start=0&end=60&step=15" -> parseErr("sum(rate("),
        s"/api/v1/query_range?query=${enc("time() > 5")}&start=0&end=60&step=15" ->
          bad("comparisons between scalars must use the bool modifier"),
        "/api/v1/labels?limit=x" -> bad("limit must be a non-negative integer: x"),
        "/api/v1/labels?limit=-1" -> bad("limit must be a non-negative integer: -1"),
        "/api/v1/metadata?limit=x" -> bad("limit must be a non-negative integer: x"),
        "/api/v1/metadata?limit_per_metric=-2" ->
          bad("limit_per_metric must be a non-negative integer: -2"))
      cases.foreach { case (path, want) =>
        assert(get(base + path) === ((400, want)), path)
      }
    } finally srv.stop()
  }

  test("/api/v1/series unions match[] selectors with the read path's matcher semantics") {
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    val m = enc("match[]")
    val store = tmpStore("metaseries")
    val srv = HttpServe.start(spark, store)
    try {
      val base = s"http://localhost:${srv.port}"
      // no match[] or a malformed selector → 400 bad_data, Prometheus-style
      assert(get(s"$base/api/v1/series")._1 === 400)
      assert(get(s"$base/api/v1/series?$m=" + enc("{bad"))._1 === 400)
      assert(post(s"$base/write", writeBlob("series_a", 2))._1 === 200)
      assert(post(s"$base/write", writeBlob("series_b", 1))._1 === 200)
      // bare-name selector: every series of that metric, full label sets
      assert(get(s"$base/api/v1/series?$m=series_a") ===
        ((200, """{"status":"success","data":[""" +
          """{"__name__":"series_a","k":"v0"},{"__name__":"series_a","k":"v1"}]}""")))
      // two selectors union on ONE scan, label matcher + anchored regex
      val (c2, b2) = get(
        s"$base/api/v1/series?$m=" + enc("""series_a{k="v0"}""") +
        s"&$m=" + enc("""{__name__=~"series_b"}"""))
      assert(c2 === 200)
      assert(b2 === """{"status":"success","data":[""" +
        """{"__name__":"series_a","k":"v0"},{"__name__":"series_b","k":"v0"}]}""")
      // time bounds prune like the other metadata endpoints
      assert(get(s"$base/api/v1/series?$m=series_a&end=8640000")._2
        === """{"status":"success","data":[]}""")
      // the Prometheus 3.x quoted UTF-8 selector form works on the
      // HTTP surface too (the shared parseSelector): quoted metric
      // name + quoted label name answer the same series
      assert(get(s"$base/api/v1/series?$m=" +
        enc("""{"series_a", "k"="v0"}"""))._2 ===
        """{"status":"success","data":[{"__name__":"series_a","k":"v0"}]}""")
    } finally srv.stop()
  }

  test("metadata time bounds accept RFC3339 and prune to the queried day partitions") {
    import spark.implicits._
    val store = tmpStore("metarfc")
    val day0 = 1704412800L // 2024-01-05
    val day1 = 1705276800L // 2024-01-15
    val rows = Seq(day0, day1).flatMap(d => (0 until 10).map(i =>
      (d * 1000000L + i * 1000000L, s"m_$d", Seq("k=v"), i.toDouble)))
      .toDF("ts_us", "metric", "labels", "value")
    graft.ingest.SamplesStore.write(rows, store)
    def scannedPartitions(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.selectedPartitions.partitionCount
      }.sum
    val df = graft.ingest.SamplesStore.read(spark, store)
    assert(scannedPartitions(df) === 2)
    // an RFC3339-bounded query must PRUNE the scan, not just filter —
    // the pre-fix behavior silently dropped the bound and read all of
    // history for Grafana's default time format
    val bounded = HttpServe.timeBoundedParams(df,
      Seq("start" -> "2024-01-05T00:00:00Z", "end" -> "2024-01-05T23:59:59Z"))
    assert(scannedPartitions(bounded) === 1,
      "RFC3339 bounds must prune the scan to the queried day partition")
    assert(bounded.select("metric").distinct().collect().map(_.getString(0)).toSeq
      === Seq(s"m_$day0"))
    // numeric and RFC3339 spellings of the same bound agree
    val numeric = HttpServe.timeBoundedParams(df,
      Seq("start" -> day0.toString, "end" -> (day0 + 86399).toString))
    assert(numeric.collect().toSeq === bounded.collect().toSeq)
    // the parser itself: floats, zone offsets, garbage
    assert(HttpServe.parseTimeParam("1704412800.5") === Some(1704412800L))
    assert(HttpServe.parseTimeParam("2024-01-05T00:00:00Z") === Some(1704412800L))
    assert(HttpServe.parseTimeParam("2024-01-05T02:00:00+02:00") === Some(1704412800L))
    assert(HttpServe.parseTimeParam("bogus") === None)
  }

  test("background rollup passes keep the store's rollup twin fresh") {
    import graft.ingest.RollupStore
    val store = tmpStore("rollpass")
    val rpath = RollupStore.rollupPathFor(store)
    // disabled (interval 0) and missing-store cases: clean no-ops
    assert(RemoteWrite.rollupPass(spark, store, 0L) === 0)
    assert(RemoteWrite.rollupPass(spark, store, 3600L) === 0)
    // a served write then a pass: the rollup twin materializes
    RemoteWrite.serve(spark, store, writeBlob("roll_metric", 3))
    assert(RemoteWrite.rollupPass(spark, store, 3600L) === 1,
      "one day written -> one day rolled")
    val rolled = RollupStore.read(spark, rpath)
    // writeBlob: 3 series (k=v0..v2), one sample each, same hour
    assert(rolled.count() === 3)
    assert(rolled.select("metric").distinct().first().getString(0) === "roll_metric")
    assert(rolled.agg(sum("n_points")).first().getLong(0) === 3)
    assert(RemoteWrite.rollupPass(spark, store, 3600L) === 0,
      "steady state is a metadata no-op")
    // with the LADDER knob set, the same pass also refreshes the
    // coarse twin FROM the fine one, and the freshness chain gates
    val prevLadder = RemoteWrite.rollupLadderIntervalSec
    try {
      RemoteWrite.rollupLadderIntervalSec = 7200L
      val lpath = RollupStore.ladderPathFor(store)
      new org.apache.hadoop.fs.Path(lpath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(lpath), true)
      RemoteWrite.rollupPass(spark, store, 3600L)
      val coarse = RollupStore.read(spark, lpath)
      assert(coarse.count() === 3)
      assert(coarse.select((col("bucket") % 7200L).as("m")).distinct()
        .collect().map(_.getLong(0)).toSet === Set(0L))
      assert(RollupStore.freshLadder(spark, rpath, lpath, 7200L, 0L, 0L))
      // a new write makes the ladder stale until the next pass
      RemoteWrite.serve(spark, store, writeBlob("roll_metric2", 1))
      RollupStore.rollup(spark, store, rpath, 3600L)
      assert(!RollupStore.freshLadder(spark, rpath, lpath, 7200L, 0L, 0L))
      RemoteWrite.rollupPass(spark, store, 3600L)
      assert(RollupStore.freshLadder(spark, rpath, lpath, 7200L, 0L, 0L))
    } finally RemoteWrite.rollupLadderIntervalSec = prevLadder
  }

  test("background recording passes advance rules to the data's edge, idempotently") {
    import graft.serve.Recording
    val store = tmpStore("recpass")
    val prevRules = RemoteWrite.recordingRules
    try {
      // disabled / missing-store / empty cases are clean no-ops
      RemoteWrite.recordingRules = Nil
      assert(RemoteWrite.recordingPass(spark, store) === 0L)
      RemoteWrite.recordingRules = Seq(
        Recording.Rule("rec:minutely:sum", "sum(rec_m)", 60L))
      assert(RemoteWrite.recordingPass(spark, store) === 0L)
      // samples at t0 = 1704412800, t0+1, t0+2 (writeBlob's spacing):
      // the data edge t0+2 caps the grid at floor((t0+2)/60)·60 = t0,
      // and the instant sum at t0 sees the t0 sample in its lookback
      RemoteWrite.serve(spark, store, writeBlob("rec_m", 3))
      assert(RemoteWrite.recordingPass(spark, store) > 0L)
      // the serve() above also triggers the BACKGROUND maintenance
      // pass, which may record concurrently — duplicate appends are
      // the design (read-time dedup collapses them), so assert on
      // the DEDUPED series
      def recDistinct: Set[(Long, Double)] =
        graft.ingest.SamplesStore.read(spark, store)
          .filter(col("metric") === "rec:minutely:sum")
          .select("ts_us", "value").distinct()
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      val d1 = recDistinct
      assert(d1.nonEmpty, "the rule's series must have landed in the store")
      // re-running without new data is a watermark no-op
      assert(RemoteWrite.recordingPass(spark, store) === 0L)
      assert(recDistinct === d1)
    } finally RemoteWrite.recordingRules = prevRules
  }

  test("/api/v1/rules lists the configured recording rules as Prometheus JSON") {
    import graft.serve.Recording
    val store = tmpStore("rulesapi")
    val prev = RemoteWrite.recordingRules
    val srv = HttpServe.start(spark, store)
    try {
      val base = s"http://localhost:${srv.port}"
      RemoteWrite.recordingRules = Nil
      assert(get(s"$base/api/v1/rules") ===
        ((200, """{"status":"success","data":{"groups":[]}}""")))
      RemoteWrite.recordingRules = Seq(
        Recording.Rule("rec:sum", """sum(m{k="v"})""", 60L))
      val (c, b) = get(s"$base/api/v1/rules")
      assert(c === 200)
      assert(b.contains(""""name":"rec:sum""""), b)
      assert(b.contains(""""query":"sum(m{k=\"v\"})""""), b) // escaped
      assert(b.contains(""""type":"recording""""), b)
    } finally { RemoteWrite.recordingRules = prev; srv.stop() }
  }

  test("/api/v1/alerts evaluates the configured alert rules at the data edge") {
    import graft.serve.Alerting
    val store = tmpStore("alertsapi")
    val prev = HttpServe.alertRules
    val srv = HttpServe.start(spark, store)
    try {
      val base = s"http://localhost:${srv.port}"
      // no rules / no store: success + empty, never a 500
      assert(get(s"$base/api/v1/alerts") ===
        ((200, """{"status":"success","data":{"alerts":[]}}""")))
      // writeBlob series carry values 0,1,2 at t0..t0+2; with step 1
      // the data edge lands on t0+2, whose lookback sees all three —
      // only series k=v2 (value 2) clears the > 1 threshold
      HttpServe.alertRules = Seq(Alerting.AlertRule("hot_series",
        "sum by (k) (al_m) > 1", forSec = 0L, stepSec = 1L))
      assert(post(s"$base/write", writeBlob("al_m", 3))._1 === 200)
      val (c, b) = get(s"$base/api/v1/alerts")
      assert(c === 200)
      assert(b.contains(""""alertname":"hot_series""""), b)
      assert(b.contains(""""k":"v2""""), b)
      assert(b.contains(""""state":"firing""""), b)
      assert(!b.contains(""""k":"v0""""), b) // value 0 is under threshold
      // the store probe opens no snapshot: a request opens only what
      // the rule evaluation reads (the store, once for the data edge
      // and once for the rule; no stale sibling here)
      awaitMaintenanceIdle()
      val opens0 = OpsMetrics(spark).storeOpens.value
      assert(get(s"$base/api/v1/alerts") === ((c, b)))
      assert(OpsMetrics(spark).storeOpens.value - opens0 === 2L)
      // the rules listing includes the alerting rule with its for
      val (rc, rb) = get(s"$base/api/v1/rules")
      assert(rc === 200 && rb.contains(""""type":"alerting""""), rb)
    } finally { HttpServe.alertRules = prev; srv.stop() }
  }

  test("ServeConfig parses and validates -rule.record flags eagerly") {
    val cfg = graft.serve.Main.parseArgs(Seq("-store", "/tmp/x", "-rule.record",
      "60|rec:sum|sum by (k) (sum_over_time(m[60s]))"))
    assert(cfg.parsedRules === Seq(graft.serve.Recording.Rule(
      "rec:sum", "sum by (k) (sum_over_time(m[60s]))", 60L)))
    // malformed step, shape, or EXPRESSION all fail at startup
    for (bad <- Seq("x|rec|m", "60|rec", "60|rec|rate(m)")) {
      assertThrows[IllegalArgumentException](
        graft.serve.Main.parseArgs(Seq("-store", "/tmp/x", "-rule.record", bad)))
    }
  }

  test("remote-read ladder routes to the coarsest fresh level, falling back per level") {
    import graft.ingest.{RollupStore, SamplesStore}
    val path = "/tmp/graft_test/read_ladder"
    val fine = path + "_fine"
    val coarse = path + "_coarse"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (p <- Seq(path, fine, coarse))
      fs.delete(new org.apache.hadoop.fs.Path(p), true)
    SamplesStore.write(Tables.samples(spark, Sf), path)
    RollupStore.rollup(spark, path, fine, 900L)
    RollupStore.rollupLadder(spark, fine, coarse, 3600L)
    val day0 = 1704412800L
    val route = RollupStore.Ladder(path, fine, 900L,
      Some(RollupStore.Ladder(fine, coarse, 3600L)))
    val q = ReadQuery(day0 * 1000L, (day0 + 10 * 86400) * 1000L,
      Seq(Matchers.eq("__name__", "click")), stepMs = 7200000L)
    val stored = SamplesStore.read(spark, path)
    // hint interval 3600 divides the coarse level → it serves
    val sel = RemoteRead.rollupSelect(route, q, stored)
    assert(sel.isDefined, "the ladder route must take the query")
    val plan = sel.get.queryExecution.executedPlan.toString
    assert(plan.contains("_coarse") && !plan.contains("_fine"),
      s"the coarsest fresh level must serve:\n$plan")
    // identical rows to the raw path at the hinted interval
    def keyed(df: org.apache.spark.sql.DataFrame) = df
      .select(col("metric"), array_join(col("labels"), ",").as("ls"),
        col("t_sec"), col("max_value")).collect().map(_.toSeq).toSet
    val raw = graft.operators.SeriesRead.selectKeyed(stored, q)
    assert(keyed(sel.get) == keyed(raw), "ladder-served must equal raw")
    // stale the coarse level only → the FINE level serves
    import spark.implicits._
    SamplesStore.append(Seq((day0 * 1000000L, "click", Seq("k=1", "user=9"), 1.0))
      .toDF("ts_us", "metric", "labels", "value"), path)
    RollupStore.rollup(spark, path, fine, 900L)
    val stored2 = SamplesStore.read(spark, path)
    val sel2 = RemoteRead.rollupSelect(route, q, stored2)
    assert(sel2.isDefined)
    val plan2 = sel2.get.queryExecution.executedPlan.toString
    assert(plan2.contains("_fine") && !plan2.contains("_coarse"),
      s"a stale coarse level must fall back to the fine one:\n$plan2")
    assert(keyed(sel2.get) ==
      keyed(graft.operators.SeriesRead.selectKeyed(stored2, q)))
  }

  test("coarse reads serve from a fresh rollup and fall back to raw the moment it is stale") {
    import graft.ingest.{PromRemoteCodec, SamplesStore}
    val store = tmpStore("rollroute")
    val day0 = 1704412800L
    def write(v: Double, atSec: Long): Unit =
      RemoteWrite.serve(spark, store, PromRemoteCodec.encodeWriteRequest(PromWriteRequest(Seq(
        PromTimeSeries(Seq(PromLabel("__name__", "route_metric"), PromLabel("k", "a")),
          Seq(PromSample(v, atSec * 1000L)))))))
    write(1.0, day0)
    write(5.0, day0 + 3600)
    RemoteWrite.rollupPass(spark, store, 3600L)
    val route = Some(graft.ingest.RollupStore.Ladder(store,
      graft.ingest.RollupStore.rollupPathFor(store), 3600L))
    // stepMs 7200s → effective interval 3600; aligned start and end
    val q = ReadQuery(day0 * 1000L, (day0 + 7199) * 1000L,
      Seq(Matchers.eq("__name__", "route_metric")), stepMs = 7200000L)
    val blob = PromRemoteCodec.encodeReadRequest(Seq(q))
    def served(): Seq[(Long, Double)] =
      PromRemoteCodec.decodeReadResponse(
        RemoteRead.serve(SamplesStore.read(spark, store), blob, rollupRoute = route))
        .flatMap(_.samples).map(s => (s.timestampMs, s.value)).sorted
    val m = OpsMetrics(spark)
    val base = m.readsFromRollup.value
    val fromRollup = served()
    assert(m.readsFromRollup.value === base + 1, "fresh + shape-exact must route to the rollup")
    assert(fromRollup === Seq((day0 * 1000L, 1.0), ((day0 + 3600) * 1000L, 5.0)))
    // a write the rollup has NOT absorbed: the freshness gate must
    // route back to raw so the new sample is immediately visible
    write(9.0, day0 + 10)
    val fromRaw = served()
    assert(m.readsFromRollup.value === base + 1, "a stale rollup must never serve")
    assert(fromRaw.map(_._2).contains(9.0), "raw fallback must see the unrolled write")
    // after the maintenance pass the route resumes, answers identical
    RemoteWrite.rollupPass(spark, store, 3600L)
    val again = served()
    assert(m.readsFromRollup.value === base + 2)
    assert(again === fromRaw, "rollup-served and raw answers must be identical")
    // an UNALIGNED window routes too — the now-anchored dashboard
    // shape: the interior complete bucket serves from the rollup, the
    // leading partial bucket reads raw, and the union is exactly the
    // raw answer. start=day0+1s excludes the day0 sample but keeps
    // day0+10 (the raced 9.0 write) in the partial lead bucket.
    val qUnaligned = ReadQuery(day0 * 1000L + 1000L, (day0 + 7199) * 1000L,
      Seq(Matchers.eq("__name__", "route_metric")), stepMs = 7200000L)
    val ublob = PromRemoteCodec.encodeReadRequest(Seq(qUnaligned))
    def servedU(r: Option[graft.ingest.RollupStore.Ladder]): Seq[(Long, Double)] =
      PromRemoteCodec.decodeReadResponse(
        RemoteRead.serve(SamplesStore.read(spark, store), ublob, rollupRoute = r))
        .flatMap(_.samples).map(s => (s.timestampMs, s.value)).sorted
    val viaSplit = servedU(route)
    assert(m.readsFromRollup.value === base + 3,
      "an unaligned window with a complete interior bucket must route")
    assert(viaSplit === servedU(None),
      "interior-from-rollup + raw edges must equal the all-raw answer")
    assert(viaSplit === Seq((day0 * 1000L, 9.0), ((day0 + 3600) * 1000L, 5.0)))
    // a window too small to hold one complete bucket stays raw
    val qNoInterior = ReadQuery(day0 * 1000L + 1000L, (day0 + 3598) * 1000L,
      Seq(Matchers.eq("__name__", "route_metric")), stepMs = 7200000L)
    RemoteRead.serve(SamplesStore.read(spark, store),
      PromRemoteCodec.encodeReadRequest(Seq(qNoInterior)), rollupRoute = route)
    assert(m.readsFromRollup.value === base + 3,
      "no complete interior bucket -> nothing the rollup can serve exactly")
  }

  test("retention passes are no-ops when no day is past the horizon") {
    val store = tmpStore("retnoop")
    // a store that does not exist yet: nothing to do, no failure
    assert(!RemoteWrite.retentionPass(spark, store, 30))
    // only current-day data: the pass must consult the listing and
    // SKIP the deleteRange (at scale the unconditional delete walked
    // every day's boundary logic under the store lock each interval)
    val nowMs = System.currentTimeMillis()
    RemoteWrite.serve(spark, store, PromRemoteCodec.encodeWriteRequest(PromWriteRequest(Seq(
      PromTimeSeries(Seq(PromLabel("__name__", "ret_fresh")), Seq(PromSample(1.0, nowMs)))))))
    assert(!RemoteWrite.retentionPass(spark, store, 30),
      "no deleteRange may be issued when the oldest day is inside the horizon")
    assert(graft.ingest.SamplesStore.read(spark, store).count() === 1)
    // an expired day present: the pass fires and drops exactly it
    RemoteWrite.serve(spark, store, PromRemoteCodec.encodeWriteRequest(PromWriteRequest(Seq(
      PromTimeSeries(Seq(PromLabel("__name__", "ret_old")),
        Seq(PromSample(2.0, 1704412800000L)))))))
    assert(RemoteWrite.retentionPass(spark, store, 30))
    val metrics = graft.ingest.SamplesStore.read(spark, store)
      .select(col("metric")).distinct().collect().map(_.getString(0)).toSet
    assert(metrics === Set("ret_fresh"))
    // and the store is immediately back to steady-state no-ops
    assert(!RemoteWrite.retentionPass(spark, store, 30))
  }

  test("a client disconnect mid-read is not counted as a read error") {
    val store = tmpStore("disconnect")
    RemoteWrite.serve(spark, store, writeBlob("dc_metric", 5))
    val srv = HttpServe.start(spark, store)
    try {
      val m = OpsMetrics(spark)
      val (reqBefore, errsBefore) = (m.readRequests.value, m.readErrors.value)
      val readBlob = PromRemoteCodec.encodeReadRequest(Seq(
        ReadQuery(1704412800000L, 1704412900000L,
          Seq(Matchers.eq("__name__", "dc_metric")))))
      // raw socket: send the full request, then abort the connection
      // (SO_LINGER 0 → RST) before reading the response — the
      // handler's response write hits a dead peer, the reference's
      // context.Canceled analogue
      val sock = new java.net.Socket("localhost", srv.port)
      sock.setSoLinger(true, 0)
      val out = sock.getOutputStream
      out.write((s"POST /read HTTP/1.1\r\nHost: localhost\r\n" +
        s"Content-Length: ${readBlob.length}\r\n\r\n").getBytes("UTF-8"))
      out.write(readBlob); out.flush()
      sock.close()
      // wait until the handler has served the aborted exchange
      val deadline = System.currentTimeMillis() + 30000
      while (m.readRequests.value === reqBefore && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      Thread.sleep(500) // let the handler unwind through guarded
      assert(m.readRequests.value === reqBefore + 1, "the aborted read must have run")
      assert(m.readErrors.value === errsBefore,
        "a client disconnect must not inflate read_errors (main.go:150)")
      // the server keeps serving normally afterwards
      val (rc, rbody, _) = post(s"http://localhost:${srv.port}/read", readBlob)
      assert(rc === 200)
      assert(PromRemoteCodec.decodeReadResponse(rbody).map(_.samples.size).sum === 5)
    } finally srv.stop()
  }

  test("isClientDisconnect classifies peer aborts, never server faults") {
    assert(HttpServe.isClientDisconnect(new java.io.IOException("Broken pipe")))
    assert(HttpServe.isClientDisconnect(
      new RuntimeException("wrapped", new java.io.IOException("Connection reset by peer"))))
    assert(HttpServe.isClientDisconnect(new java.io.IOException("stream is closed")))
    assert(!HttpServe.isClientDisconnect(new java.io.IOException("No space left on device")))
    // the message alone is not enough — it must be an IOException
    assert(!HttpServe.isClientDisconnect(new RuntimeException("Broken pipe")))
  }

  test("HTTP handlers run concurrently — a parked handler does not wedge the server") {
    val store = tmpStore("conc")
    RemoteWrite.serve(spark, store, writeBlob("conc_metric", 3))
    val srv = HttpServe.start(spark, store)
    try {
      val base = s"http://localhost:${srv.port}"
      val gate = new CountDownLatch(1)
      val entered = new CountDownLatch(1)
      // a deliberately hung handler stands in for a slow /read: with
      // the pre-executor single-dispatcher server, EVERY request below
      // would block behind it
      srv.underlying.createContext("/slow", (ex: HttpExchange) => {
        entered.countDown()
        gate.await(30, TimeUnit.SECONDS)
        ex.sendResponseHeaders(204, -1L)
        ex.close()
      })
      val slow = Future(get(s"$base/slow"))
      assert(entered.await(10, TimeUnit.SECONDS), "slow handler never entered")
      // while /slow is parked, a scrape and a write must still serve
      val (mc, mbody) = get(s"$base/metrics")
      assert(mc === 200 && mbody.contains("read_requests_total"))
      assert(post(s"$base/write", writeBlob("conc_metric", 2))._1 === 200)
      assert(entered.getCount === 0 && gate.getCount === 1, "slow handler must still be parked")
      gate.countDown()
      assert(Await.result(slow, 30.seconds)._1 === 204)
    } finally srv.stop()
  }

  test("/read stays correct while writes trigger background merges") {
    val store = tmpStore("readmerge")
    val (interval, threshold) =
      (RemoteWrite.compactCheckIntervalMs, RemoteWrite.autoCompactFilesPerDay)
    RemoteWrite.compactCheckIntervalMs = 0L
    RemoteWrite.autoCompactFilesPerDay = 2
    val srv = HttpServe.start(spark, store)
    try {
      val base = s"http://localhost:${srv.port}"
      assert(post(s"$base/write", writeBlob("rm_0", 4))._1 === 200)
      val readBlob = PromRemoteCodec.encodeReadRequest(Seq(
        ReadQuery(1704412800000L, 1704413000000L,
          Seq(Matchers.re("__name__", "rm_.*")))))
      // writer: 6 more requests, each tripping the async merge probe
      val writer = Future {
        (1 to 6).map(i => post(s"$base/write", writeBlob(s"rm_$i", 4))._1)
      }
      // reader: poll /read throughout — every response must decode and
      // the visible sample count must never regress (background merges
      // and their manifest commits stay invisible to the HTTP client)
      var lastSeen = 0
      var observations = 0
      var done = false
      while (!done || observations == 0) {
        done = writer.isCompleted
        val (rc, rbody, _) = post(s"$base/read", readBlob)
        assert(rc === 200, s"/read failed mid-merge: ${new String(rbody, "UTF-8")}")
        val n = PromRemoteCodec.decodeReadResponse(rbody).map(_.samples.size).sum
        assert(n >= lastSeen, s"visible samples regressed $lastSeen -> $n")
        lastSeen = n; observations += 1
      }
      assert(Await.result(writer, 120.seconds).forall(_ == 200))
      // settle: final read sees all 28 samples exactly once
      val (fc, fbody, _) = post(s"$base/read", readBlob)
      assert(fc === 200)
      assert(PromRemoteCodec.decodeReadResponse(fbody).map(_.samples.size).sum === 28)
      assert(observations > 0)
    } finally {
      srv.stop()
      RemoteWrite.compactCheckIntervalMs = interval
      RemoteWrite.autoCompactFilesPerDay = threshold
    }
  }

  test("concurrent /write requests all land — store mutations serialize safely") {
    val store = tmpStore("concwrite")
    val srv = HttpServe.start(spark, store)
    try {
      val base = s"http://localhost:${srv.port}"
      def counter(name: String): Long = {
        val (code, body) = get(s"$base/metrics")
        assert(code === 200)
        body.linesIterator.collectFirst {
          case l if l.startsWith(name + " ") => l.stripPrefix(name + " ").trim.toLong
        }.getOrElse(fail(s"/metrics lacks $name"))
      }
      val (appends0, commits0) =
        (counter("store_appends_total"), counter("store_append_commits_total"))
      // 4 overlapping writes, distinct metrics: with concurrent handler
      // threads, unsynchronized appends would race their
      // FileOutputCommitter _temporary staging and lose files
      val posts = (0 until 4).map { i =>
        Future(post(s"$base/write", writeBlob(s"cw_metric_$i", 5)))
      }
      posts.foreach(p => assert(Await.result(p, 60.seconds)._1 === 200))
      val back = graft.ingest.SamplesStore.read(spark, store)
      assert(back.count() === 20, "every concurrent write's rows must land")
      assert(back.select(col("metric")).distinct().count() === 4)
      // the coalescing factor is observable: each write counted one
      // append; overlapping ones may have shared a commit
      val appends = counter("store_appends_total") - appends0
      val commits = counter("store_append_commits_total") - commits0
      assert(appends >= 4, s"appends counted: $appends")
      assert(commits >= 1 && commits <= appends, s"$commits commits for $appends appends")
      // and so is the time those commits held the store lock
      assert(counter("store_append_commit_ms_total") > 0)
    } finally srv.stop()
  }

  test("a failed metadata append is written by the next identical request") {
    val store = tmpStore("mdretry")
    val blob = PromRemoteCodec.encodeWriteRequest(PromWriteRequest(Nil,
      familyMetadata = Seq("md_retry" -> PromRemoteCodec.PromMetadata(1, "Retried help.", ""))))
    // fail this thread's next store append (the metadata-only request
    // runs its one append inline), once
    val me = Thread.currentThread()
    val failOnce = new java.util.concurrent.atomic.AtomicBoolean(true)
    graft.ingest.SamplesStore.onAppendSnapshotResolved = () =>
      if ((Thread.currentThread() eq me) && failOnce.getAndSet(false))
        throw new java.io.IOException("injected metadata append failure")
    try intercept[java.io.IOException] { RemoteWrite.serve(spark, store, blob) }
    finally graft.ingest.SamplesStore.onAppendSnapshotResolved = () => ()
    assert(!failOnce.get, "the injected failure must have fired")
    // the failure must not leave the entry claimed as already written
    RemoteWrite.serve(spark, store, blob)
    val md = graft.ingest.SamplesStore.read(spark, RemoteWrite.metadataPath(store))
    assert(md.filter(col("metric") === "md_retry").count() === 1,
      "the retried request must write the metadata the failed one lost")
  }

  test("one /read request carrying several queries answers each in order") {
    val samples = Tables.samples(spark, Sf)
    val blob = PromRemoteCodec.encodeReadRequest(Seq(
      ReadQuery(0L, 0L, Seq(Matchers.eq("__name__", "view"))),
      ReadQuery(0L, 0L, Seq(Matchers.eq("__name__", "click")))))
    val raw = RemoteRead.serve(samples, blob)
    val perQuery = PromRemoteCodec.decodeReadResponsePerQuery(raw)
    assert(perQuery.size === 2, "one QueryResult per request query")
    def metrics(ts: Seq[PromRemoteCodec.PromTimeSeries]): Set[String] =
      ts.flatMap(_.labels.collect { case l if l.name == "__name__" => l.value }).toSet
    assert(metrics(perQuery(0)) === Set("view"))
    assert(metrics(perQuery(1)) === Set("click"))
  }

  test("RemoteRead.serve runs the selection once per query (guard + assembly share one pass)") {
    import spark.implicits._
    val acc = spark.sparkContext.longAccumulator("readscan_rows")
    val touch = udf { (v: Double) => acc.add(1); v }
    val n = 1000
    val samples = (0 until n)
      .map(i => (1704412800000000L + i * 1000000L, "m", Seq("k=v"), i.toDouble))
      .toDF("ts_us", "metric", "labels", "value")
      .withColumn("value", touch(col("value")))
    val blob = PromRemoteCodec.encodeReadRequest(Seq(
      ReadQuery(1704412800000L, 1704412800000L + n * 1000L,
        Seq(Matchers.eq("__name__", "m")))))
    val series = PromRemoteCodec.decodeReadResponse(RemoteRead.serve(samples, blob))
    assert(series.map(_.samples.size).sum === n)
    // the size-guard count and the assembly collect must share ONE
    // evaluation of the selection — 2n here means the guard re-ran the
    // whole scan (the pre-persist behavior)
    assert(acc.value === n, s"expected one pass ($n row evals), got ${acc.value}")
  }

  test("/read's retry absorbs transient file misses, nothing else") {
    // transient-miss classifier walks the cause chain
    val sparkWrapped = new RuntimeException("job aborted",
      new java.io.FileNotFoundException("/store/date=0/part-0.parquet"))
    assert(RemoteRead.isTransientMiss(sparkWrapped))
    assert(RemoteRead.isTransientMiss(new RuntimeException("Path does not exist: /store")))
    assert(!RemoteRead.isTransientMiss(new RuntimeException("bad matcher")))

    val real = Tables.samples(spark, Sf)
    val blob = PromRemoteCodec.encodeReadRequest(Seq(
      ReadQuery(0L, 0L, Seq(Matchers.eq("__name__", "view")))))
    val m = OpsMetrics(spark)

    // a store resolution that misses a file twice (another
    // process's GC reclaimed it mid-scan), then resolves:
    // serve must re-evaluate the by-name samples each attempt (the
    // stale first DataFrame could never succeed) and count ONE
    // request, ZERO errors for the ultimately-successful read
    var calls = 0
    def flaky = { calls += 1; if (calls < 3) throw new java.io.FileNotFoundException("reclaimed"); real }
    val (reqs0, errs0) = (m.readRequests.value, m.readErrors.value)
    val resp = RemoteRead.serve(flaky, blob, transientRetries = 3)
    assert(PromRemoteCodec.decodeReadResponse(resp).nonEmpty && calls === 3)
    assert(m.readRequests.value === reqs0 + 1, "retries must not double-count requests")
    assert(m.readErrors.value === errs0, "a recovered read must not count as an error")

    // a persistent miss exhausts the budget and propagates
    var always = 0
    intercept[java.io.FileNotFoundException](
      RemoteRead.serve({ always += 1; throw new java.io.FileNotFoundException("gone") },
        blob, transientRetries = 2))
    assert(always === 3)

    // non-transient failures never retry
    var once = 0
    intercept[RuntimeException](
      RemoteRead.serve({ once += 1; throw new RuntimeException("bad matcher") },
        blob, transientRetries = 3))
    assert(once === 1)

    // the STREAMED_XOR_CHUNKS response type shares the one retry: the
    // same flaky resolution recovers, counted once, and answers the
    // same series the direct chunked read does
    val cblob = PromRemoteCodec.encodeReadRequestWithTypes(Seq(
      ReadQuery(0L, 0L, Seq(Matchers.eq("__name__", "view")))), Seq(1))
    calls = 0
    val (creqs0, cerrs0) = (m.readRequests.value, m.readErrors.value)
    val cresp = RemoteRead.serveChunked(flaky, cblob, transientRetries = 3)
    assert(calls === 3 && cresp.nonEmpty)
    assert(cresp.sameElements(RemoteRead.serveChunked(real, cblob)),
      "a recovered chunked read answers the same frames")
    assert(m.readRequests.value === creqs0 + 2 && m.readErrors.value === cerrs0)
    // … exhausts its budget on a persistent miss …
    always = 0
    intercept[java.io.FileNotFoundException](
      RemoteRead.serveChunked({ always += 1; throw new java.io.FileNotFoundException("gone") },
        cblob, transientRetries = 2))
    assert(always === 3)
    // … and never retries any other failure
    once = 0
    intercept[RuntimeException](
      RemoteRead.serveChunked({ once += 1; throw new RuntimeException("bad matcher") },
        cblob, transientRetries = 3))
    assert(once === 1)

    // fresh-server fast-fail: a store that was never written is absent
    assert(!graft.ingest.SamplesStore.exists(spark, "/tmp/graft_test/never_written_store"))
  }

  test("soak: rollup-routed serving stays exact under concurrent writes and maintenance") {
    import graft.ingest.{PromRemoteCodec, SamplesStore}
    val store = tmpStore("rollsoak")
    val (pi, pc) = (RemoteWrite.rollupIntervalSec, RemoteWrite.compactCheckIntervalMs)
    RemoteWrite.rollupIntervalSec = 3600L
    RemoteWrite.compactCheckIntervalMs = 0L // every write may trigger maintenance
    val srv = HttpServe.start(spark, store)
    try {
      val base = s"http://localhost:${srv.port}"
      val day0 = 1704412800L
      val m = OpsMetrics(spark)

      // writes land monotone-increasing values scattered over 48 hour
      // buckets × 3 series — so every (series, bucket) max can only
      // grow, which is what makes exactness checkable mid-churn
      def writeOnce(i: Int): Unit = {
        val blob = PromRemoteCodec.encodeWriteRequest(PromWriteRequest(Seq(
          PromTimeSeries(
            Seq(PromLabel("__name__", "soak_metric"), PromLabel("k", s"v${i % 3}")),
            Seq(PromSample(i.toDouble, (day0 + (i % 48) * 3600L + (i % 53) * 7) * 1000L))))))
        assert(post(s"$base/write", blob)._1 === 200)
      }

      // two coarse windows over the corpus: bucket-aligned, and the
      // now-anchored unaligned shape (interior + raw edges)
      val matchers = Seq(Matchers.eq("__name__", "soak_metric"))
      val qAligned = ReadQuery(day0 * 1000L, (day0 + 48 * 3600L) * 1000L - 1000L,
        matchers, stepMs = 7200000L)
      val qUnaligned = ReadQuery((day0 + 900) * 1000L, (day0 + 48 * 3600L - 901) * 1000L,
        matchers, stepMs = 7200000L)

      def decode(blob: Array[Byte]): Map[(String, Long), Double] =
        PromRemoteCodec.decodeReadResponse(blob).flatMap { ts =>
          val key = ts.labels.sortBy(_.name).map(l => s"${l.name}=${l.value}").mkString(",")
          ts.samples.map(s => (key, s.timestampMs) -> s.value)
        }.toMap
      def servedHttp(q: ReadQuery): Map[(String, Long), Double] = {
        val (code, body, _) = post(s"$base/read",
          PromRemoteCodec.encodeReadRequest(Seq(q)))
        assert(code === 200)
        decode(body)
      }
      def rawDirect(q: ReadQuery): Map[(String, Long), Double] =
        decode(RemoteRead.serve(SamplesStore.read(spark, store),
          PromRemoteCodec.encodeReadRequest(Seq(q)), rollupRoute = None))

      writeOnce(0)
      val writerDone = new java.util.concurrent.atomic.AtomicBoolean(false)
      val writer = new Thread(() => {
        try for (i <- 1 until 36) { writeOnce(i); Thread.sleep(15) }
        finally writerDone.set(true)
      }, "soak-writer")
      writer.start()

      // mid-churn exactness: values are monotone per (series, bucket),
      // so every served answer must sit BETWEEN a raw answer computed
      // before it and one computed after it — series can only appear,
      // buckets can only grow. This holds whether the route picked the
      // rollup (fresh) or fell back to raw (stale), across compaction
      // and expiry running in the background pool.
      var checks = 0
      while (!writerDone.get()) {
        for (q <- Seq(qAligned, qUnaligned)) {
          val before = rawDirect(q)
          val served = servedHttp(q)
          val after = rawDirect(q)
          assert(before.keySet.subsetOf(served.keySet) &&
                 served.keySet.subsetOf(after.keySet),
            s"served keys must sit between the before/after raw snapshots")
          served.foreach { case (k, v) =>
            assert(before.get(k).forall(_ <= v) && v <= after(k),
              s"bucket $k served $v outside [${before.get(k)}, ${after(k)}]")
          }
          checks += 1
        }
      }
      writer.join(60000)
      assert(checks >= 2, "the soak must have checked reads mid-churn")

      // quiesce: drain maintenance, then a final explicit pass — both
      // windows must now ROUTE to the rollup and EQUAL the raw path
      Thread.sleep(500)
      RemoteWrite.rollupPass(spark, store, 3600L)
      val routedBefore = m.readsFromRollup.value
      for (q <- Seq(qAligned, qUnaligned)) {
        val served = servedHttp(q)
        assert(served === rawDirect(q),
          "a quiesced rollup-routed answer must equal the raw answer exactly")
        assert(served.nonEmpty && served.values.max === 35.0,
          "the last write must be visible after quiesce")
      }
      assert(m.readsFromRollup.value === routedBefore + 2,
        "both quiesced coarse windows must serve from the fresh rollup")
    } finally {
      srv.stop()
      RemoteWrite.rollupIntervalSec = pi
      RemoteWrite.compactCheckIntervalMs = pc
    }
  }

  test("health, metadata, and flags endpoints answer the Prometheus shapes") {
    val store = tmpStore("statusapi")
    val srv = HttpServe.start(spark, store)
    try {
      val base = s"http://localhost:${srv.port}"
      assert(get(s"$base/-/healthy") === ((200, "graft is Healthy.\n")))
      assert(get(s"$base/-/ready") === ((200, "graft is Ready.\n")))
      assert(get(s"$base/api/v1/metadata") ===
        ((200, """{"status":"success","data":{}}""")))
      // malformed limit/limit_per_metric are the client's 400
      // bad_data (Prometheus rejects an unparsable or negative
      // limit) — never a silent unlimited or an empty 200
      for (bad <- Seq("limit=abc", "limit=-1", "limit_per_metric=x",
                      "limit_per_metric=-2")) {
        val (mc, mb) = get(s"$base/api/v1/metadata?$bad")
        assert(mc === 400, s"$bad -> $mb")
        assert(mb.contains(""""errorType":"bad_data""""), mb)
      }
      val (fc, fbody) = get(s"$base/api/v1/status/flags")
      assert(fc === 200)
      assert(fbody.contains(""""status":"success""""))
      assert(fbody.contains(s""""store.path":"${store.replace("\\", "\\\\")}""""))
      assert(fbody.contains(""""read.ignore-label":"remote=clickhouse""""))
      assert(fbody.contains(""""write.otlp-translation-suffixes":"false""""))
      assert(fbody.contains(""""promql.native-histogram-quantile":"false""""))
      // exemplars: a store that never saw one answers the truthful
      // empty set; a missing query parameter is the client's error
      assert(get(s"$base/api/v1/query_exemplars?query=up") ===
        ((200, """{"status":"success","data":[]}""")))
      assert(get(s"$base/api/v1/query_exemplars")._1 === 400)
      val (xc, xb) = get(s"$base/api/v1/query_exemplars?query=sum(")
      assert(xc === 400 && xb.contains(""""errorType":"bad_data""""), xb)
      // scrape targets / alertmanager ring: none, success shapes
      assert(get(s"$base/api/v1/targets") === ((200,
        """{"status":"success","data":{"activeTargets":[],"droppedTargets":[]}}""")))
      assert(get(s"$base/api/v1/targets/metadata") ===
        ((200, """{"status":"success","data":[]}""")))
      // the 3.x status trio Grafana's settings page probes
      val (ric, rib) = get(s"$base/api/v1/status/runtimeinfo")
      assert(ric === 200 && rib.contains(""""reloadConfigSuccess":true""") &&
        rib.contains(""""startTime":""") && rib.contains(""""CWD":"""), rib)
      val (cc0, cb0) = get(s"$base/api/v1/status/config")
      assert(cc0 === 200 && cb0.contains(""""yaml":"store.path: """) &&
        cb0.contains("\\u000aread.ignore-label: "), cb0)
      assert(get(s"$base/api/v1/notifications") ===
        ((200, """{"status":"success","data":[]}""")))
      assert(get(s"$base/api/v1/alertmanagers") === ((200,
        """{"status":"success","data":{"activeAlertmanagers":[],"droppedAlertmanagers":[]}}""")))
      // format_query: canonical pretty-print, 400 on parse errors
      val fq = java.net.URLEncoder.encode("sum by(k) (rate(x[5m]))", "UTF-8")
      assert(get(s"$base/api/v1/format_query?query=$fq") === ((200,
        """{"status":"success","data":"sum by (k) (rate(x[300s]))"}""")))
      assert(get(s"$base/api/v1/format_query?query=%7Bbad")._1 === 400)
      assert(get(s"$base/api/v1/format_query")._1 === 400)
      // parse_query (3.x experimental): Prometheus translateAST
      // shapes — aggregation over a call over a matrixSelector, ms
      // ranges, matcher triples; 400 on parse errors
      val (pqc, pqb) = get(s"$base/api/v1/parse_query?query=$fq")
      assert(pqc === 200, pqb)
      assert(pqb === """{"status":"success","data":{"type":"aggregation",""" +
        """"op":"sum","expr":{"type":"call","func":{"name":"rate"},""" +
        """"args":[{"type":"matrixSelector","name":"x","matchers":""" +
        """[{"name":"__name__","type":"=","value":"x"}],"range":300000,""" +
        """"offset":0,"timestamp":null,"startOrEnd":null}]},""" +
        """"param":null,"grouping":["k"],"without":false}}""", pqb)
      val bq = java.net.URLEncoder.encode("""m{a="1"} ^ 2.5 > bool 3""", "UTF-8")
      val (pq2c, pq2b) = get(s"$base/api/v1/parse_query?query=$bq")
      assert(pq2c === 200)
      assert(pq2b.contains(""""op":"^"""") && pq2b.contains(""""bool":true""") &&
        pq2b.contains(""""val":"2.5""""), pq2b)
      assert(get(s"$base/api/v1/parse_query?query=%7Bbad")._1 === 400)
      assert(get(s"$base/api/v1/parse_query")._1 === 400)
      // tsdb head stats: empty store answers zeros; after a write the
      // per-metric series counts and the total line up
      assert(get(s"$base/api/v1/status/tsdb")._2 ===
        """{"status":"success","data":{"headStats":{"numSeries":0},"seriesCountByMetricName":[]}}""")
      assert(post(s"$base/write", writeBlob("tsdb_metric", 3))._1 === 200)
      assert(get(s"$base/api/v1/status/tsdb")._2 ===
        """{"status":"success","data":{"headStats":{"numSeries":3},""" +
        """"seriesCountByMetricName":[{"name":"tsdb_metric","value":3}]}}""")
    } finally srv.stop()
  }

  test("metric metadata ingests off PRW 2.0 and OTLP and serves on /api/v1/metadata") {
    val store = tmpStore("mdapi")
    val srv = HttpServe.start(spark, store)
    try {
      val base = s"http://localhost:${srv.port}"
      // PRW 2.0 write carrying per-series metadata (field 5)
      val req = PromRemoteCodec.decodeWriteRequest(writeBlob("http_total", 2))
      val withMd = req.copy(timeseries = req.timeseries.map(_.copy(
        metadata = Some(PromRemoteCodec.PromMetadata(
          1, "Total requests.", "")))))
      assert(post(s"$base/write",
        PromRemoteCodec.encodeWriteRequestV2(withMd),
        Some("application/x-protobuf;proto=" + PromRemoteCodec.ProtoV2))
        ._1 === 200)
      assert(get(s"$base/api/v1/metadata") === ((200,
        """{"status":"success","data":{"http_total":""" +
        """[{"type":"counter","help":"Total requests.","unit":""}]}}""")))
      // OTLP write: description/unit + the data arm's type land too
      val otlp = graft.ingest.OtlpCodec.encodeExportSums(
        Seq(PromRemoteCodec.IngestedSample(1704412800000000L, "rpc.count",
          Seq("k=v"), 3.0)),
        temporality = 2L, serviceName = Some("svc"),
        description = "RPC count.", unit = "1")
      assert(post(s"$base/api/v1/otlp/v1/metrics", otlp)._1 === 200)
      assert(get(s"$base/api/v1/metadata?metric=rpc_count") === ((200,
        """{"status":"success","data":{"rpc_count":""" +
        """[{"type":"counter","help":"RPC count.","unit":"1"}]}}""")))
      // a second DIFFERENT metadata for the same metric: both serve,
      // newest first; limit_per_metric=1 keeps only the newest
      val req2 = PromRemoteCodec.PromWriteRequest(Seq(PromTimeSeries(
        Seq(PromLabel("__name__", "http_total"), PromLabel("k", "v9")),
        Seq(PromSample(9.0, 1704412900000L)),
        metadata = Some(PromRemoteCodec.PromMetadata(
          2, "Renamed help.", "seconds")))))
      assert(post(s"$base/write", PromRemoteCodec.encodeWriteRequestV2(req2),
        Some("application/x-protobuf;proto=" + PromRemoteCodec.ProtoV2))
        ._1 === 200)
      assert(get(s"$base/api/v1/metadata?metric=http_total") === ((200,
        """{"status":"success","data":{"http_total":""" +
        """[{"type":"gauge","help":"Renamed help.","unit":"seconds"},""" +
        """{"type":"counter","help":"Total requests.","unit":""}]}}""")))
      assert(get(s"$base/api/v1/metadata?metric=http_total&limit_per_metric=1")
        === ((200, """{"status":"success","data":{"http_total":""" +
        """[{"type":"gauge","help":"Renamed help.","unit":"seconds"}]}}""")))
      // limit caps the METRIC count; an unknown metric answers empty
      assert(get(s"$base/api/v1/metadata?limit=1") === ((200,
        """{"status":"success","data":{"http_total":""" +
        """[{"type":"gauge","help":"Renamed help.","unit":"seconds"},""" +
        """{"type":"counter","help":"Total requests.","unit":""}]}}""")))
      assert(get(s"$base/api/v1/metadata?metric=nope") ===
        ((200, """{"status":"success","data":{}}""")))
      // PRW 1.0 family-level MetricMetadata (WriteRequest field 3)
      // feeds the same store: a plain v1 write carrying metadata
      // serves it back like the 2.0 per-series form
      val v1 = PromRemoteCodec.PromWriteRequest(
        PromRemoteCodec.decodeWriteRequest(writeBlob("v1_fam", 1)).timeseries,
        familyMetadata = Seq("v1_fam" ->
          PromRemoteCodec.PromMetadata(5, "A summary family.", "ms")))
      assert(post(s"$base/write",
        PromRemoteCodec.encodeWriteRequest(v1))._1 === 200)
      assert(get(s"$base/api/v1/metadata?metric=v1_fam") === ((200,
        """{"status":"success","data":{"v1_fam":""" +
        """[{"type":"summary","help":"A summary family.","unit":"ms"}]}}""")))
    } finally srv.stop()
  }

  test("OTLP translation-suffix flag suffixes served names and shows on flags") {
    val store = tmpStore("otlpsfx")
    val srv = HttpServe.start(spark, store)
    val prev = RemoteWrite.otlpTranslationSuffixes
    try {
      RemoteWrite.otlpTranslationSuffixes = true
      val base = s"http://localhost:${srv.port}"
      assert(get(s"$base/api/v1/status/flags")._2
        .contains(""""write.otlp-translation-suffixes":"true""""))
      val body = graft.ingest.OtlpCodec.encodeExportSums(
        Seq(graft.ingest.PromRemoteCodec.IngestedSample(
          1704412800000000L, "rpc.duration", Seq("k=v"), 3.0)),
        temporality = 2L, serviceName = Some("svc"),
        description = "RPC time.", unit = "s")
      assert(post(s"$base/api/v1/otlp/v1/metrics", body)._1 === 200)
      assert(graft.ingest.SamplesStore.read(spark, store)
        .select(col("metric")).collect().map(_.getString(0)).toSeq ===
        Seq("rpc_duration_seconds_total"))
      assert(get(s"$base/api/v1/metadata?metric=rpc_duration_seconds_total")
        ._2.contains(""""type":"counter","help":"RPC time.","unit":"s""""))
    } finally {
      RemoteWrite.otlpTranslationSuffixes = prev
      srv.stop()
    }
  }

  test("/federate serves latest values in text exposition format") {
    val store = tmpStore("federate")
    val srv = HttpServe.start(spark, store)
    try {
      val base = s"http://localhost:${srv.port}"
      def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
      val m = enc("match[]")
      // no match[] → 400 bad_data, like the series endpoint
      assert(get(s"$base/federate")._1 === 400)
      assert(post(s"$base/write", writeBlob("fed_metric", 3))._1 === 200)
      // t inside the 5m lookback of every sample: selector narrows
      // to two of the three series, sorted output, ms timestamps
      val sel = enc("""fed_metric{k=~"v[01]"}""")
      val (c1, b1) = get(s"$base/federate?$m=$sel&time=1704412900")
      assert(c1 === 200)
      assert(b1 ===
        "fed_metric{k=\"v0\"} 0 1704412800000\n" +
        "fed_metric{k=\"v1\"} 1 1704412801000\n")
      // multiple match[] union on one scan
      val s0 = enc("""fed_metric{k="v0"}""")
      val s2 = enc("""fed_metric{k="v2"}""")
      assert(get(s"$base/federate?$m=$s0&$m=$s2&time=1704412900")._2 ===
        "fed_metric{k=\"v0\"} 0 1704412800000\n" +
        "fed_metric{k=\"v2\"} 2 1704412802000\n")
      // a newer sample for v0 wins (instant semantics, not history)
      val blob = PromRemoteCodec.encodeWriteRequest(
        PromWriteRequest(Seq(PromTimeSeries(
          Seq(PromLabel("__name__", "fed_metric"), PromLabel("k", "v0")),
          Seq(PromSample(9.5, 1704412860000L))))))
      assert(post(s"$base/write", blob)._1 === 200)
      assert(get(s"$base/federate?$m=$s0&time=1704412900")._2 ===
        "fed_metric{k=\"v0\"} 9.5 1704412860000\n")
      // form-POST parameters work too (the one request-parameter
      // parser every API endpoint shares)
      val (pc, pb, _) = post(s"$base/federate",
        s"$m=$s0&time=1704412900".getBytes("UTF-8"),
        Some("application/x-www-form-urlencoded"))
      assert((pc, new String(pb, "UTF-8")) ===
        ((200, "fed_metric{k=\"v0\"} 9.5 1704412860000\n")))
      // a scrape time past the lookback sees nothing — 200, empty
      assert(get(s"$base/federate?$m=$s0&time=1704413200") ===
        ((200, "")))
      // exposition escaping: a newline in a label value must emit \n
      // (the only escapes the format knows are \\ \" \n — a JSON
      // \u00XX would break the downstream scraper)
      val nlBlob = PromRemoteCodec.encodeWriteRequest(
        PromWriteRequest(Seq(PromTimeSeries(
          Seq(PromLabel("__name__", "fed_esc"), PromLabel("k", "a\nb\"c\\d")),
          Seq(PromSample(1.0, 1704412800000L))))))
      assert(post(s"$base/write", nlBlob)._1 === 200)
      val escSel = enc("fed_esc")
      assert(get(s"$base/federate?$m=$escSel&time=1704412900")._2 ===
        "fed_esc{k=\"a\\nb\\\"c\\\\d\"} 1 1704412800000\n")
      // the federation loop closes: /federate output parses back
      // through the Exposition codec, escapes and all
      val body = get(s"$base/federate?$m=${enc("""{__name__=~".+"}""")}" +
        "&time=1704412900")._2
      val parsed = body.linesIterator.map(
        graft.ingest.Exposition.parseLine).toSeq
      assert(parsed.nonEmpty)
      assert(parsed.exists(p => p._2 == "fed_esc" &&
        p._3 == Seq("k=a\nb\"c\\d") && p._4 == 1.0))
      assert(parsed.exists(p => p._2 == "fed_metric" &&
        p._3 == Seq("k=v0") && p._4 == 9.5 && p._1 == 1704412860000000L))
      // UTF-8 names federate in the Prometheus 3.x QUOTED syntax —
      // a dotted name emitted bare would be unscrapeable — and the
      // output still round-trips through the Exposition codec
      val utfBlob = PromRemoteCodec.encodeWriteRequest(
        PromWriteRequest(Seq(PromTimeSeries(
          Seq(PromLabel("__name__", "fed.dotted"), PromLabel("a.b", "x")),
          Seq(PromSample(3.0, 1704412800000L))))))
      assert(post(s"$base/write", utfBlob)._1 === 200)
      val utfBody = get(s"$base/federate?$m=${enc("""{"fed.dotted"}""")}" +
        "&time=1704412900")._2
      assert(utfBody ===
        "{\"fed.dotted\",\"a.b\"=\"x\"} 3 1704412800000\n")
      assert(utfBody.linesIterator.map(
        graft.ingest.Exposition.parseLine).toSeq ===
        Seq((1704412800000000L, "fed.dotted", Seq("a.b=x"), 3.0)))
      // a PRESENT but malformed time is 400 bad_data — it must not
      // silently fall back to wall-clock (a typo'd historical scrape
      // becoming a live one is the worst failure mode)
      assert(get(s"$base/federate?$m=$s0&time=abc")._1 === 400)
      // over-limit federation FAILS the scrape (500) instead of
      // silently dropping the tail — a partial scrape poisons the
      // downstream Prometheus; a failed one just retries
      val prevLimit = HttpServe.federateSeriesLimit
      try {
        HttpServe.federateSeriesLimit = 1
        val (oc, ob) = get(s"$base/federate?$m=${enc("fed_metric")}" +
          "&time=1704412900")
        assert(oc === 500 && ob.contains("exceeds 1 series"), s"$oc $ob")
      } finally HttpServe.federateSeriesLimit = prevLimit
      // at the restored limit the same scrape succeeds again
      assert(get(s"$base/federate?$m=${enc("fed_metric")}" +
        "&time=1704412900")._1 === 200)
    } finally srv.stop()
  }

  test("/api/v1/query_range evaluates PromQL over HTTP with Prometheus JSON") {
    val store = tmpStore("queryrange")
    val srv = HttpServe.start(spark, store)
    try {
      val base = s"http://localhost:${srv.port}"
      val t0 = 1704412800L
      // one series: 1.0@t0, 2.5@t0+30, 4.0@t0+60
      val blob = PromRemoteCodec.encodeWriteRequest(PromWriteRequest(Seq(
        PromTimeSeries(Seq(PromLabel("__name__", "qr_total"), PromLabel("k", "v")),
          Seq(PromSample(1.0, t0 * 1000L), PromSample(2.5, (t0 + 30) * 1000L),
              PromSample(4.0, (t0 + 60) * 1000L))))))
      assert(post(s"$base/write", blob)._1 === 200)

      // sum_over_time on tiling [t-60, t) windows (the name drops)
      val (c1, b1) = get(s"$base/api/v1/query_range?query=" +
        java.net.URLEncoder.encode("sum_over_time(qr_total[60s])", "UTF-8") +
        s"&start=${t0 + 60}&end=${t0 + 120}&step=60")
      assert(c1 === 200)
      assert(b1 === s"""{"status":"success","data":{"resultType":"matrix","result":[""" +
        s"""{"metric":{"k":"v"},""" +
        s""""values":[[${t0 + 60},"3.5"],[${t0 + 120},"4"]]}]}}""")

      // rate over the same window: (2.5-1.0)/30s = 0.05
      val (c2, b2) = get(s"$base/api/v1/query_range?query=" +
        java.net.URLEncoder.encode("rate(qr_total[1m])", "UTF-8") +
        s"&start=${t0 + 60}&end=${t0 + 60}&step=60")
      assert(c2 === 200)
      assert(b2.contains(s""""values":[[${t0 + 60},"0.05"]]"""), b2)

      // instant /query: latest sample in the 5m lookback at t0+90
      val (c3, b3) = get(s"$base/api/v1/query?query=qr_total&time=${t0 + 90}")
      assert(c3 === 200)
      assert(b3 === s"""{"status":"success","data":{"resultType":"vector","result":[""" +
        s"""{"metric":{"__name__":"qr_total","k":"v"},"value":[${t0 + 90},"4"]}]}}""")


      // POST with a form-encoded body (what Grafana sends once the
      // expression gets long) answers exactly like the GET
      val form = ("query=" +
        java.net.URLEncoder.encode("sum_over_time(qr_total[60s])", "UTF-8") +
        s"&start=${t0 + 60}&end=${t0 + 120}&step=60").getBytes("UTF-8")
      val (pc, pb, _) = post(s"$base/api/v1/query_range", form)
      assert(pc === 200 && new String(pb, "UTF-8") === b1)

      // aggregation drops __name__ from the JSON label set
      val (c4, b4) = get(s"$base/api/v1/query_range?query=" +
        java.net.URLEncoder.encode("sum(sum_over_time(qr_total[60s]))", "UTF-8") +
        s"&start=${t0 + 60}&end=${t0 + 60}&step=60")
      assert(c4 === 200)
      assert(b4.contains(""""metric":{}"""), b4)

      // the 400 surface: missing params, off-whitelist grammar,
      // resolution overrun — bad_data like Prometheus, never a 500
      for (url <- Seq(
        s"$base/api/v1/query_range?query=qr_total&start=1&end=2", // no step
        s"$base/api/v1/query_range?query=" +
          java.net.URLEncoder.encode("log1p(x)", "UTF-8") + // off-whitelist fn
          "&start=1&end=2&step=1",
        s"$base/api/v1/query_range?query=" +
          java.net.URLEncoder.encode("irate(x[1h:5m])", "UTF-8") + // no irate subqueries
          "&start=1&end=2&step=1",
        s"$base/api/v1/query_range?query=qr_total&start=0&end=999999&step=1",
        s"$base/api/v1/query_range?query=qr_total&start=9&end=2&step=1")) {
        val (code, body) = get(url)
        assert(code === 400 && body.contains("\"bad_data\""), s"$url -> $code $body")
      }

      // the round-13 grammar over HTTP: a comparison filter keeps the
      // passing row with its labels...
      val (fc, fb) = get(s"$base/api/v1/query_range?query=" +
        java.net.URLEncoder.encode("sum_over_time(qr_total[60s]) > 3.6", "UTF-8") +
        s"&start=${t0 + 60}&end=${t0 + 120}&step=60")
      assert(fc === 200)
      assert(fb === s"""{"status":"success","data":{"resultType":"matrix","result":[""" +
        s"""{"metric":{"k":"v"},""" +
        s""""values":[[${t0 + 120},"4"]]}]}}""", fb)
      // ...and a subquery windows the inner evaluation: max of the
      // two tiling sums over [t-120, t)
      val (sc2, sb2) = get(s"$base/api/v1/query_range?query=" +
        java.net.URLEncoder.encode(
          "max_over_time(sum_over_time(qr_total[60s])[120s:60s])", "UTF-8") +
        s"&start=${t0 + 120}&end=${t0 + 120}&step=120")
      assert(sc2 === 200)
      assert(sb2.contains(s""""values":[[${t0 + 120},"3.5"]]"""), sb2)
      // Grafana's datasource health probe: a scalar expression
      // answers resultType "scalar" (instant) / a constant {} series
      // (range) — without this, adding graft as a datasource fails
      val (hc, hb) = get(s"$base/api/v1/query?query=${java.net.URLEncoder
        .encode("1+1", "UTF-8")}&time=${t0 + 60}")
      assert(hc === 200)
      assert(hb === s"""{"status":"success","data":{"resultType":"scalar","result":[${t0 + 60},"2"]}}""")
      val (hc2, hb2) = get(s"$base/api/v1/query_range?query=7&start=${t0}&end=${t0 + 120}&step=60")
      assert(hc2 === 200)
      assert(hb2 === s"""{"status":"success","data":{"resultType":"matrix","result":[""" +
        s"""{"metric":{},"values":[[$t0,"7"],[${t0 + 60},"7"],[${t0 + 120},"7"]]}]}}""")

      // buildinfo: the Grafana feature-detection probe
      val (bc, bb) = get(s"$base/api/v1/status/buildinfo")
      assert(bc === 200 && bb.contains("\"version\""), bb)

      // unknown path under the query prefix stays a 404
      assert(get(s"$base/api/v1/queryfoo")._1 === 404)
      // a fresh store-less server answers success+empty, not 500
      val empty = tmpStore("queryrange_empty")
      val srv2 = HttpServe.start(spark, empty)
      try assert(get(s"http://localhost:${srv2.port}/api/v1/query_range" +
        s"?query=x&start=$t0&end=$t0&step=60") ===
        ((200, """{"status":"success","data":{"resultType":"matrix","result":[]}}""")))
      finally srv2.stop()

      // 3.x limit=: a second series lands LAST so the earlier
      // single-series assertions stay untouched; limit=1 keeps the
      // first series in identity order AND flags the truncation in
      // warnings; limit=0 is disabled; a negative limit is 400
      val blob2 = PromRemoteCodec.encodeWriteRequest(PromWriteRequest(Seq(
        PromTimeSeries(Seq(PromLabel("__name__", "qr_total"), PromLabel("k", "w")),
          Seq(PromSample(7.0, (t0 + 60) * 1000L))))))
      assert(post(s"$base/write", blob2)._1 === 200)
      val (lc, lb) = get(s"$base/api/v1/query?query=qr_total&time=${t0 + 90}&limit=1")
      assert(lc === 200)
      assert(lb === s"""{"status":"success","warnings":["results truncated due to limit"],""" +
        s""""data":{"resultType":"vector","result":[""" +
        s"""{"metric":{"__name__":"qr_total","k":"v"},"value":[${t0 + 90},"4"]}]}}""", lb)
      val (l0c, l0b) = get(s"$base/api/v1/query?query=qr_total&time=${t0 + 90}&limit=0")
      assert(l0c === 200 && l0b.contains(""""k":"w"""") && !l0b.contains("warnings"))
      val (l2c, l2b) = get(s"$base/api/v1/query?query=qr_total&time=${t0 + 90}&limit=2")
      assert(l2c === 200 && !l2b.contains("warnings"), l2b)
      assert(get(s"$base/api/v1/query?query=qr_total&time=${t0 + 90}&limit=-1")._1 === 400)
      // timeout= validates like Prometheus (no behavior beyond the
      // in-plan cell cap — documented); malformed is the client's 400
      assert(get(s"$base/api/v1/query?query=qr_total&time=${t0 + 90}&timeout=30s")._1 === 200)
      assert(get(s"$base/api/v1/query?query=qr_total&time=${t0 + 90}&timeout=bogus")._1 === 400)
    } finally srv.stop()
  }

  test("/api/v1/query_range routes aligned tiling windows through the rollup twin") {
    val store = tmpStore("queryrange_rollup")
    val prevIv = RemoteWrite.rollupIntervalSec
    RemoteWrite.rollupIntervalSec = 3600L
    val srv = HttpServe.start(spark, store)
    try {
      val base = s"http://localhost:${srv.port}"
      val t0 = 1704412800L
      val blob = PromRemoteCodec.encodeWriteRequest(PromWriteRequest(Seq(
        PromTimeSeries(Seq(PromLabel("__name__", "qr_roll")),
          (0 until 8).map(i => PromSample(i.toDouble, (t0 + i * 1800L) * 1000L))))))
      assert(post(s"$base/write", blob)._1 === 200)
      // build the twin the background pass would maintain
      RemoteWrite.rollupPass(spark, store, 3600L)
      val m = OpsMetrics(spark)
      val before = m.readsFromRollup.value
      val url = s"$base/api/v1/query_range?query=" +
        java.net.URLEncoder.encode("sum_over_time(qr_roll[1h])", "UTF-8") +
        s"&start=${t0 + 3600}&end=${t0 + 14400}&step=3600"
      val (code, body) = get(url)
      assert(code === 200)
      assert(m.readsFromRollup.value === before + 1,
        "an aligned fresh tiling query over HTTP must serve from the rollup")
      // values: each [t-1h, t) window sums two half-hour samples
      assert(body.contains(s"""[[${t0 + 3600},"1"],[${t0 + 7200},"5"],""" +
        s"""[${t0 + 10800},"9"],[${t0 + 14400},"13"]]"""), body)
    } finally {
      srv.stop()
      RemoteWrite.rollupIntervalSec = prevIv
    }
  }

  test("/metrics exposes parseable process gauges next to the counters") {
    val body = OpsMetrics(spark).render
    for (g <- Seq("process_uptime_seconds", "jvm_memory_heap_used_bytes",
                  "jvm_memory_heap_max_bytes", "jvm_threads_current"))
      assert(body.contains(s"# TYPE $g gauge") && body.contains(g + " "), s"missing gauge $g")
    // every exposition line is a comment or `name value` with numeric value
    body.linesIterator.filter(_.nonEmpty).foreach { line =>
      assert(line.startsWith("#") || {
        val parts = line.split(" ")
        parts.length == 2 && parts(1).toDoubleOption.isDefined
      }, s"unparseable exposition line: $line")
    }
  }

  test("query_range opens a fixed generation with no schema inference, warm or cold") {
    import graft.ingest.SamplesStore
    import spark.implicits._
    val store = tmpStore("opens")
    val t0 = 1704412800L
    SamplesStore.append(Seq((t0 * 1000000L, "op_total", Seq("k=v"), 1.0),
      ((t0 + 30) * 1000000L, "op_total", Seq("k=v"), 2.5))
      .toDF("ts_us", "metric", "labels", "value"), store)
    val srv = HttpServe.start(spark, store)
    try {
      val base = s"http://localhost:${srv.port}"
      def counters(): (Long, Long) = {
        val (c, b) = get(s"$base/metrics")
        assert(c === 200)
        def v(n: String) = b.linesIterator.collectFirst {
          case l if l.startsWith(n + " ") => l.stripPrefix(n + " ").toLong }.get
        (v("store_opens_total"), v("store_schema_inferences_total"))
      }
      def query(): Unit = {
        val (c, b) = get(s"$base/api/v1/query_range?query=" +
          java.net.URLEncoder.encode("rate(op_total[1m])", "UTF-8") +
          s"&start=${t0 + 60}&end=${t0 + 60}&step=60")
        assert(c === 200 && b.contains(s""""values":[[${t0 + 60},"0.05"]]"""), b)
      }
      // no straggling background pass of an earlier test in the window
      awaitMaintenanceIdle()
      val (o0, i0) = counters()
      (1 to 3).foreach(_ => query())
      val (o1, i1) = counters()
      assert((o1 - o0, i1 - i0) === ((3L, 0L)), "one open per request, none inferring")
      SamplesStore.invalidateSnapshotCache(store)
      (1 to 3).foreach(_ => query())
      val (o2, i2) = counters()
      assert((o2 - o1, i2 - i1) === ((3L, 0L)), "a cold generation opens with its manifest's schema")
    } finally srv.stop()
  }

  test("shared PromQL subtrees leave nothing in Spark's cache after the request") {
    import graft.ingest.SamplesStore
    import graft.serve.{Alerting, Recording}
    import spark.implicits._
    val store = tmpStore("cacheleak")
    val t0 = 1704412800L
    SamplesStore.append(Seq((t0 * 1000000L, "cl", Seq("k=v"), 2.0),
      ((t0 + 30) * 1000000L, "cl", Seq("k=v"), 4.0))
      .toDF("ts_us", "metric", "labels", "value"), store)
    val cache = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    val srv = HttpServe.start(spark, store)
    try {
      // `cl` occurs three times: eval persists it once for all of them
      val (c, b) = get(s"http://localhost:${srv.port}/api/v1/query_range?query=" +
        java.net.URLEncoder.encode("cl / (cl + cl)", "UTF-8") +
        s"&start=${t0 + 60}&end=${t0 + 60}&step=60")
      assert(c === 200 && b.contains(s""""values":[[${t0 + 60},"0.5"]]"""), b)
      assert(cache.isEmpty, "query_range left a persisted subtree behind")
      Recording.record(spark, store, Recording.Rule("cl:ratio", "cl / (cl + cl)", 60L),
        t0 + 60, t0 + 60)
      assert(cache.isEmpty, "a recording rule left a persisted subtree behind")
      assert(SamplesStore.read(spark, store).filter(col("metric") === "cl:ratio").count() === 1)
      val alerts = Alerting.currentAlerts(spark, store,
        Seq(Alerting.AlertRule("cl_half", "cl / (cl + cl) > 0.4", forSec = 0L, stepSec = 1L)))
      assert(alerts.map(_._2) === Seq("firing"))
      assert(cache.isEmpty, "an alert evaluation left a persisted subtree behind")
    } finally srv.stop()
  }
}
