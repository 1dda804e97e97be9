package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.OpsMetrics
import graft.ingest.SamplesStore
import graft.serve.{GraftHttpServer, HttpServe, RemoteWrite}

/** One benchmark process: set-up, the measured window, the end-of-run
  * checks and the metrics. Untraced, every request goes over HTTP and
  * the end-to-end metrics are reported. Traced, requests rotate over
  * HTTP, bare direct calls and traced direct calls, and the per-layer
  * metrics are reported. */
final class Run(spark: SparkSession, a: Bench.Args, dir: File, sparkReadyS: Double) {
  import Bench._
  import Run.Before

  private val shape = if (a.tiny) Shape.tiny else Shape.full
  private val gen = new Gen(a.seed)
  private val expect = new Expect(gen)
  private val failures = Vector.newBuilder[String]
  private var attempted = 0L
  private var failed = 0L
  private var storeSeq = 0
  private val preloaded = a.workload != "ingest"

  private def freshStore(): String = {
    storeSeq += 1
    new File(dir, s"store$storeSeq").getAbsolutePath
  }

  /** Count a client set's requests into the totals, listing every failure. */
  private def tally(d: Clients, phase: String): Unit = {
    val recs = d.all
    attempted += recs.size
    recs.filterNot(_.ok).foreach { r => failed += 1; failures += s"$phase ${r.kind}: ${r.cause.get}" }
  }

  private def preload(store: String): Unit = {
    val blobs = for {
      shard <- 0 until 4
      b <- 0 until shape.preloadScrapes / shape.ingestScrapes
    } yield gen.body(shard, 4, b.toLong * shape.ingestScrapes, shape.ingestScrapes)
    RemoteWrite.serveAll(spark, store, blobs)
    SamplesStore.compact(spark, store)
  }

  /** Warm-up traffic from the workload's clients: one write per
    * writer, and each query shape once; checked like measured
    * requests. */
  private def warmUp(target: Target): Clients = {
    val d = new Clients(gen, shape, target, expect)
    val ts = d.closed(4, Long.MaxValue, "warm") { (c, i) =>
      a.workload match {
        case "ingest" if i == 0 => Some(d.ingestReq(c, i))
        case "dashboard" if c + 4 * i < 6 => Some(d.dashboardReq(c, c + 4 * i))
        case "mixed" if i == 0 => Some(if (c < 2) d.mixedWriteReq(c, i) else d.mixedQuery(c))
        case _ => None
      }
    }
    ts.foreach(_.join())
    tally(d, "warm-up")
    d
  }

  private val preloadS = Vector.newBuilder[Double]

  /** One set-up round: fresh store (preloaded for dashboard and
    * mixed), server start, warm-up. */
  private def setUp(): (GraftHttpServer, String, Double, Clients) = {
    val t0 = System.nanoTime()
    val store = freshStore()
    if (preloaded) preload(store)
    preloadS += (System.nanoTime() - t0) / 1e9
    val server = HttpServe.start(spark, store, 0)
    val target = new HttpTarget(server.port)
    val warm = try warmUp(target) finally target.close()
    (server, store, (System.nanoTime() - t0) / 1e9, warm)
  }

  /** The workload's load on `target` for `seconds`; writers continue
    * the timeline from `bases`. Returns the clients and the elapsed
    * seconds up to the last completion. */
  private def load(target: Target, seconds: Double, bases: Seq[Int]): (Clients, Double) = {
    val d = new Clients(gen, shape, target, expect, bases)
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    val ts = a.workload match {
      case "ingest" => d.closed(4, deadline, "ingest")((c, i) => Some(d.ingestReq(c, i)))
      case "dashboard" => d.closed(4, deadline, "dash")((c, i) => Some(d.dashboardReq(c, i)))
      case _ =>
        d.closed(2, deadline, "writer")((w, i) => Some(d.mixedWriteReq(w, i))) ++
          d.open(shape.mixedQps, 2, start, deadline)(d.mixedQuery)
    }
    ts.foreach(_.join())
    val last = d.all.map(_.endNs).maxOption.getOrElse(deadline)
    (d, (last - start) / 1e9)
  }

  private def scrapesOf(shards: Int): (Long, Int) =
    if (shards == 4) (0L, shape.ingestScrapes) else (shape.preloadScrapes.toLong, shape.mixedScrapes)

  private def ackedSamples(d: Clients): Long =
    d.acked.asScala.iterator.map { case ((_, shards), set) =>
      set.size.toLong * (Gen.Series / shards) * scrapesOf(shards)._2
    }.sum

  /** After the window: every acknowledged sample must read back over
    * HTTP /read, one request per metric over the whole timeline. */
  private def verifyAcked(target: Target, sets: Seq[Clients]): Unit = {
    val scrapes: Int => Seq[Long] = i => {
      val base = if (preloaded) (0L until shape.preloadScrapes) else Nil
      base ++ sets.flatMap(_.acked.asScala.toSeq).flatMap { case ((shard, shards), set) =>
        if (i % shards != shard) Nil
        else set.asScala.toSeq.flatMap { b =>
          val (first, n) = scrapesOf(shards)
          (first + b * n) until (first + b * n + n)
        }
      }
    }
    val landedMaybe = sets.exists(!_.unacked.isEmpty)
    val maxScrape = (0 until Gen.Series).flatMap(scrapes).maxOption.getOrElse(0L)
    Seq(Gen.CounterName, Gen.GaugeName).foreach { metric =>
      attempted += 1
      val is = (0 until Gen.Series).filter(i => Gen.labels(i)("__name__") == metric)
      val body = Proto.readRequest(gen.t0 * 1000, (gen.t0 + maxScrape * Gen.Step) * 1000,
        Seq("__name__" -> metric), chunked = false)
      val cause =
        try {
          val got = target.read(body, chunked = false)()
          val want = expect.raw(is, scrapes)
          if (landedMaybe) { // a failed write may still have landed: require a superset
            val g = got.map(s => s.labels -> s.samples.toSet).toMap
            want.collectFirst { case (k, w) if !w.forall(g.getOrElse(k, Set.empty).contains) =>
              s"acknowledged samples of $k missing" }
          } else expect.checkRaw(s"acknowledged $metric", want, got)
        } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      cause.foreach { c => failed += 1; failures += s"verify: $c" }
    }
  }

  /** Parquet bytes on disk under the store and its sibling stores. */
  private def storeBytes(store: String): Long = {
    val root = new File(store)
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
      else if (f.getName.endsWith(".parquet")) f.length else 0L
    Option(root.getParentFile.listFiles).toSeq.flatten
      .filter(f => f.getName == root.getName || f.getName.startsWith(root.getName + "_"))
      .map(walk).sum
  }

  /** Runs `f`, sampling the old generation's occupancy after its
    * latest collection every 50 ms. Returns f's result, that peak, and
    * the live heap after one forced full collection at the end (MB). */
  private def withHeap[T](f: => T): (T, Double, Double) = {
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
      .filter(p => p.isCollectionUsageThresholdSupported && p.getName.matches(".*(Old|Tenured).*"))
    def now = pools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    @volatile var peak = 0L
    @volatile var running = true
    val t = new Thread(() => while (running) { peak = math.max(peak, now); Thread.sleep(50) }, "bench-heap")
    t.setDaemon(true); t.start()
    val r = try f finally { running = false; t.join() }
    System.gc()
    val mb = 1024.0 * 1024.0
    (r, math.max(peak, now) / mb, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / mb)
  }

  private def okMs(recs: Seq[Rec], kind: String): Seq[Double] = recs.filter(r => r.kind == kind && r.ok).map(_.ms)

  type Metrics = ListMap[String, (Double, String)]

  def execute(): (String, String, Boolean) = {
    val rounds = (1 to a.setups).map { k =>
      val r = setUp()
      if (k < a.setups) { r._1.stop(); deleteTree(new File(r._2)) }
      r
    }
    val setupS = sparkReadyS + median(rounds.map(_._3))
    val (server0, store0, _, warm) = rounds.last
    // ingest measures an empty store: a fresh server over a fresh path
    val (server, store) =
      if (preloaded) (server0, store0)
      else { server0.stop(); val s = freshStore(); (HttpServe.start(spark, s, 0), s) }
    val http = new HttpTarget(server.port)
    val sc = spark.sparkContext
    val spans = new Spans(sc)
    val log = new JobLog(spans)
    val traced = new DirectTarget(spark, store, Some(spans))
    val mix = new MixTarget(http, new DirectTarget(spark, store, None), traced)
    val ops = OpsMetrics(spark)
    val before = Before(ops.compactions.value, ops.daysRewritten.value,
      SamplesStore.currentGen(spark, store).getOrElse(0L))
    var metrics: Metrics = ListMap.empty
    var details: ListMap[String, Any] = ListMap.empty
    try {
      val bases = if (a.workload == "mixed") warm.nextBodies.take(2) else Seq.fill(4)(0)
      if (a.trace) sc.addSparkListener(log)
      val ((d, elapsed), heapPeakMb, heapLiveMb) =
        try withHeap(load(if (a.trace) mix else http, a.seconds.toDouble, bases))
        finally if (a.trace) { log.settle(); sc.removeSparkListener(log) }
      tally(d, "measured")
      if (a.workload != "dashboard") verifyAcked(http, if (preloaded) Seq(warm, d) else Seq(d))
      val recs = d.all
      val kinds = recs.map(_.kind).distinct.sorted
      def pct(k: String, q: Double) = quantile(okMs(recs, k), q)
      val samples = ackedSamples(d)
      val stored = (if (preloaded) shape.preloadScrapes.toLong * Gen.Series else 0L) +
        (if (a.workload == "mixed") ackedSamples(warm) else 0L) + samples
      val bytes = storeBytes(store)
      metrics = ListMap(
        "setup_s" -> (setupS, "s"),
        "requests_per_s" -> (recs.count(_.ok) / elapsed, "req/s"),
        "latency_p50_ms" -> (geomean(kinds.map(pct(_, 0.5))), "ms"),
        "latency_p75_ms" -> (quantile(recs.filter(_.ok).map(_.ms), 0.75), "ms"),
        "store_bytes_per_sample" -> (bytes.toDouble / math.max(1L, stored), "B/sample"),
        "heap_live_mb" -> (heapLiveMb, "MB"))
      val named = Seq("write" -> "write", "query_range" -> "query_range", "remote_read" -> "read", "series" -> "series")
      details = ListMap.from(named.filter(n => kinds.contains(n._2)).flatMap { case (name, k) =>
        Seq(s"${name}_p50_ms" -> ListMap("value" -> pct(k, 0.5), "unit" -> "ms", "n" -> okMs(recs, k).size),
          s"${name}_p90_ms" -> ListMap("value" -> pct(k, 0.9), "unit" -> "ms", "n" -> okMs(recs, k).size))
      }) ++ ListMap(
        "latency_p90_ms" -> ListMap("value" -> quantile(recs.filter(_.ok).map(_.ms), 0.9), "unit" -> "ms",
          "n" -> recs.count(_.ok)),
        "write_samples_per_s" -> ListMap("value" -> samples / elapsed, "unit" -> "samples/s"),
        "failed_ratio" -> ListMap("value" -> recs.count(!_.ok).toDouble / math.max(1, recs.size), "unit" -> "ratio",
          "n" -> recs.size),
        "heap_peak_mb" -> ListMap("value" -> heapPeakMb, "unit" -> "MB"),
        "store_bytes_on_disk" -> ListMap("value" -> bytes, "unit" -> "B", "samples" -> stored),
        "measured_s" -> ListMap("value" -> elapsed, "unit" -> "s"),
        "spark_start_s" -> ListMap("value" -> sparkReadyS, "unit" -> "s"),
        "setup_rounds_s" -> ListMap("value" -> rounds.map(_._3), "unit" -> "s"),
        "preload_s" -> ListMap("value" -> preloadS.result(), "unit" -> "s"))
      if (a.trace) {
        // in a traced run the numbers above describe the mixed-route
        // window; the untraced run of the same seed is the baseline
        val (layerMetrics, counts) = layers(store, d, mix, traced, spans, log, before)
        metrics = layerMetrics
        details = details ++ ListMap("trace_counts" -> counts)
      }
    } finally { http.close(); server.stop() }

    val ctx = ListMap(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "nproc" -> a.cores, "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "jdk" -> System.getProperty("java.version"), "spark" -> spark.version, "commit" -> a.commit,
      "shape" -> shape.toString, "setup_rounds" -> a.setups,
      "clients" -> (if (a.workload == "mixed") s"2 writers + open-loop query_range at ${shape.mixedQps}/s"
                    else "4 closed loops"))
    val fl = failures.result()
    val m = ListMap.from(metrics.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) })
    val report = json(ListMap("context" -> ctx, "metrics" -> m, "details" -> details,
      "failure_count" -> fl.size, "failures" -> fl.take(100)))
    val result = json(ListMap("correct" -> (failed == 0L), "attempted" -> math.max(1L, attempted),
      "failed" -> failed, "metrics" -> m))
    System.err.println(s"== ${a.workload} seed=${a.seed} trace=${a.trace} attempted=$attempted failed=$failed")
    metrics.foreach { case (k, (v, u)) => System.err.println(f"  $k%-40s $v%14.4f $u") }
    details.foreach { case (k, v) => System.err.println(f"  $k%-40s ${json(v)}") }
    fl.take(20).foreach(f => System.err.println("  FAIL " + f))
    (report, result, failed == 0L)
  }

  /** Per-layer metrics of a traced window. A layer the workload does
    * not exercise reads 0. */
  private def layers(store: String, d: Clients, mix: MixTarget, traced: DirectTarget, spans: Spans,
                     log: JobLog, before: Before): (Metrics, ListMap[String, Int]) = {
    val ops = OpsMetrics(spark)
    val writes = d.all.count(r => r.kind == "write" && r.ok)
    val gens = SamplesStore.currentGen(spark, store).getOrElse(0L) - before.gen
    val filesLive = SamplesStore.read(spark, store).inputFiles.length

    val all = spans.all
    val byId = all.map(s => s.id -> s).toMap
    val named = all.groupBy(_.name)
    val roots = all.filter(s => s.id == s.root).groupBy(_.name)
    def p50(name: String): Double = named.get(name).map(ss => median(ss.map(_.ms))).getOrElse(0.0)
    def rootP50(kind: String): Option[Double] = roots.get(kind).map(ss => median(ss.map(_.ms)))
    def side(name: String): Double =
      Option(traced.side.get(name)).map(q => median(q.asScala.toSeq)).getOrElse(0.0)
    val jobs = log.all
    def jobSpan(j: JobLog#Job) = j.span.flatMap(byId.get)
    def jobsIn(name: String) = jobs.filter(j => jobSpan(j).exists(_.name == name))
    def jobsOf(kind: String) = jobs.filter(j => jobSpan(j).flatMap(s => byId.get(s.root)).exists(_.name == kind))
    def per(n: Double, d: Int) = if (d == 0) 0.0 else n / d
    val tracedWrites = roots.get("write").map(_.size).getOrElse(0)
    val maintenance = jobs.filter(_.maintenance)
    val kinds = Seq("write", "query_range", "read", "series")

    val m = Vector.newBuilder[(String, (Double, String))]
    kinds.foreach { k =>
      val front = for { h <- mix.p50("http", k); t <- rootP50(k) } yield h - t
      m += s"http.$k.front_ms" -> (front.getOrElse(0.0), "ms")
    }
    m ++= Seq(
      "codec.write_decode_ms" -> (side("codec.write_decode_ms"), "ms"),
      "codec.write_body_bytes" -> (side("codec.write_body_bytes"), "B"),
      "codec.read_encode_ms" -> (side("codec.read_encode_ms"), "ms"),
      "codec.read_response_bytes" -> (side("codec.read_response_bytes"), "B"),
      "remote_write.serve_ms" -> (p50("remote_write.serve"), "ms"))
    val appendJobs = jobsIn("remote_write.serve")
    val acked = ackedSamples(d)
    m ++= Seq(
      "store.append_jobs" -> (per(appendJobs.size, tracedWrites), "count"),
      "store.append_tasks" -> (per(appendJobs.map(_.tasks.get).sum.toDouble, tracedWrites), "count"),
      "store.append_cpu_ms" -> (per(appendJobs.map(_.cpuNs.get).sum / 1e6, tracedWrites), "ms"),
      "store.commits_per_write" -> (per(gens.toDouble, writes), "count"),
      "store.fs_bytes_written_per_sample" ->
        (if (acked == 0) 0.0 else jobs.map(_.bytesWritten.get).sum.toDouble / acked, "B/sample"),
      "store.compactions" -> ((ops.compactions.value - before.compactions).toDouble, "count"),
      "store.compact_ms" -> (maintenance.map(j => math.max(0L, j.endNs - j.startNs)).sum / 1e6, "ms"),
      "store.compact_days_rewritten" -> ((ops.daysRewritten.value - before.daysRewritten).toDouble, "count"))
    val opens = named.getOrElse("store.open", Vector.empty)
    val openJobs = jobsIn("store.open")
    m ++= Seq(
      "store.open_ms" -> (p50("store.open"), "ms"),
      "store.open_jobs" -> (per(openJobs.size, opens.size), "count"),
      "store.open_tasks" -> (per(openJobs.map(_.tasks.get).sum.toDouble, opens.size), "count"),
      "store.files_live" -> (filesLive.toDouble, "count"))
    val rowsOut = Option(traced.side.get("promql.rows_out")).map(_.asScala.sum).getOrElse(0.0)
    m ++= Seq(
      "promql.parse_ms" -> (p50("promql.parse"), "ms"),
      "promql.build_ms" -> (p50("promql.build"), "ms"),
      "promql.analysis_ms" -> (side("promql.analysis_ms"), "ms"),
      "promql.optimization_ms" -> (side("promql.optimization_ms"), "ms"),
      "promql.planning_ms" -> (side("promql.planning_ms"), "ms"),
      "promql.exec_ms" -> (p50("promql.exec"), "ms"),
      "promql.rows_read_per_row_out" ->
        (if (rowsOut == 0) 0.0 else jobsOf("query_range").map(_.recordsRead.get).sum / rowsOut, "ratio"),
      "remote_read.serve_ms" -> (p50("remote_read.serve"), "ms"),
      "remote_read.chunked_ms" -> (p50("remote_read.chunked"), "ms"),
      "remote_read.samples_out" -> (side("remote_read.samples_out"), "count"),
      "remote_read.ns_per_sample_out" -> (side("remote_read.ns_per_sample_out"), "ns/sample"))
    Seq("query_range", "read", "write").foreach { k =>
      val js = jobsOf(k)
      val n = roots.get(k).map(_.size).getOrElse(0)
      val wallMs = js.map(j => math.max(0L, j.endNs - j.startNs)).sum / 1e6
      val runMs = js.map(_.runMs.get).sum.toDouble
      m ++= Seq(
        s"spark.$k.jobs" -> (per(js.size, n), "count"),
        s"spark.$k.tasks" -> (per(js.map(_.tasks.get).sum.toDouble, n), "count"),
        s"spark.$k.run_ms" -> (per(runMs, n), "ms"),
        s"spark.$k.cpu_ms" -> (per(js.map(_.cpuNs.get).sum / 1e6, n), "ms"),
        s"spark.$k.shuffle_bytes" -> (per(js.map(_.shuffleBytes.get).sum.toDouble, n), "B"),
        s"spark.$k.spill_bytes" -> (per(js.map(_.spillBytes.get).sum.toDouble, n), "B"),
        s"spark.$k.gc_ms" -> (per(js.map(_.gcMs.get).sum.toDouble, n), "ms"),
        s"spark.$k.core_util" -> (if (wallMs == 0) 0.0 else runMs / (wallMs * a.cores), "ratio"))
    }
    val late = d.all.filter(r => r.kind == "query_range" && r.dueNs != r.startNs).map(r => (r.startNs - r.dueNs) / 1e6)
    m += "loadgen.late_p90_ms" -> (if (a.workload == "mixed") quantile(late, 0.9) else 0.0, "ms")
    kinds.foreach { k =>
      val o = for { t <- rootP50(k); b <- mix.p50("bare", k) } yield t - b
      m += s"trace.$k.overhead_ms" -> (o.getOrElse(0.0), "ms")
    }
    val counts = ListMap.from(named.map { case (k, v) => s"spans.$k" -> v.size }.toSeq.sortBy(_._1)) ++
      ListMap.from(mix.counts.toSeq.sorted) ++
      ListMap("jobs" -> jobs.size, "maintenance_jobs" -> maintenance.size)
    (ListMap.from(m.result()), counts)
  }
}

object Run {
  /** Store counters read before the window. */
  final case class Before(compactions: Long, daysRewritten: Long, gen: Long)
}
