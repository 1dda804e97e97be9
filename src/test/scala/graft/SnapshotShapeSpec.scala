package graft

import java.net.{HttpURLConnection, URL, URLEncoder}
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.ingest.{PromRemoteCodec, SamplesStore}
import graft.operators.{Matchers, ReadQuery, SeriesRead}
import graft.serve.{HttpServe, PromQL}

/** The two plan shapes of a read. A snapshot that fits one query task
  * (`Width.of` at Width.QueryTarget is 1) plans the whole request as
  * one partition: no exchange, one Spark job. A larger one plans the
  * exchanges it always did. Both shapes answer every read surface —
  * PromQL aggregates, topk, a matcher, a group_left join, /read as
  * SAMPLES and as chunks, /api/v1/series — byte for byte alike. */
class SnapshotShapeSpec extends SparkSpecBase {

  private val T0 = 1704412800L // 2024-01-05T00:00:00Z
  private val Start = T0 + 600L
  private val End = T0 + 3600L

  /** An hour of 15 s scrapes: 8 counters and 8 gauges over two jobs,
    * one `build_info` per instance, and a sub-second duplicate on
    * every counter's first scrape (the dedup kernel keeps the max). */
  private def rows: DataFrame = {
    val s = spark
    import s.implicits._
    val series = for (j <- Seq("api", "web"); i <- 0 until 4) yield (j, s"i$j$i")
    val scrapes = (0 until 240).map(k => T0 + k * 15L)
    val counters = for (((j, inst), n) <- series.zipWithIndex; (t, k) <- scrapes.zipWithIndex)
      yield (t * 1000000L, "http_requests_total", Seq(s"instance=$inst", s"job=$j"),
        (k * (n + 1)).toDouble)
    val dups = for (((j, inst), n) <- series.zipWithIndex)
      yield (T0 * 1000000L + 300000L, "http_requests_total",
        Seq(s"instance=$inst", s"job=$j"), n + 0.5)
    val gauges = for (((j, inst), n) <- series.zipWithIndex; (t, k) <- scrapes.zipWithIndex)
      yield (t * 1000000L, "memory_bytes", Seq(s"instance=$inst", s"job=$j"),
        (n * 10000 + k % 23).toDouble)
    val info = for (((_, inst), n) <- series.zipWithIndex; t <- scrapes)
      yield (t * 1000000L, "build_info", Seq(s"instance=$inst", s"version=v${n % 3}"), 1.0)
    (counters ++ dups ++ gauges ++ info).toDF("ts_us", "metric", "labels", "value")
  }

  private def store(name: String, df: DataFrame): String = {
    val p = s"/tmp/graft_test/snapshot_shape_$name"
    val fs = new org.apache.hadoop.fs.Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(p), true)
    SamplesStore.write(df, p)
    p
  }

  private lazy val small = store("small", rows)
  private lazy val big = store("padded", padded(rows, T0))

  private def width(path: String): Int = {
    val snap = SamplesStore.committedSnapshot(
      new org.apache.hadoop.fs.Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration),
      new org.apache.hadoop.fs.Path(path)).get
    Width.of(Some(snap.bytes), Width.QueryTarget, 1, spark.sessionState.conf.numShufflePartitions)
  }

  private def initialPlan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.initialPlan
    case other => other
  }

  private def shuffles(df: DataFrame): Seq[ShuffleExchangeExec] =
    initialPlan(df).collect { case e: ShuffleExchangeExec => e }

  /** (jobs, shuffle bytes written) of every Spark job started while `f`
    * runs, on any thread — the HTTP handler's included. Nothing else
    * runs jobs meanwhile: the stores are written beforehand and no
    * /write wakes the maintenance pass. Marker jobs before and after
    * bracket the window on the ordered listener bus. */
  private def jobsAndShuffle(f: => Unit): (Int, Long) = {
    val sc = spark.sparkContext
    val tag = s"spec-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val shuffled = new AtomicLong
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val opened, drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("graft.spec.tag")).orNull match {
          case t if t == tag + "-open" => opened.countDown()
          case t if t == tag + "-close" => drained.countDown()
          case _ if opened.getCount == 0 && drained.getCount == 1 =>
            jobs.incrementAndGet(); e.stageIds.foreach(stages.add)
          case _ => ()
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null) {
          shuffled.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten); ()
        }
    }
    def marker(t: String): Unit = {
      sc.setLocalProperty("graft.spec.tag", t)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("graft.spec.tag", null)
      ()
    }
    sc.addSparkListener(listener)
    try {
      marker(tag + "-open")
      f
      marker(tag + "-close")
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus drained")
    } finally sc.removeSparkListener(listener)
    (jobs.get, shuffled.get)
  }

  private def request(url: String, body: Option[Array[Byte]]): (Int, Seq[Byte]) = {
    val c = new URL(url).openConnection().asInstanceOf[HttpURLConnection]
    body.foreach { b =>
      c.setRequestMethod("POST"); c.setDoOutput(true)
      c.getOutputStream.write(b); c.getOutputStream.close()
    }
    val code = c.getResponseCode
    val is = if (code >= 400) c.getErrorStream else c.getInputStream
    (code, if (is == null) Seq.empty else is.readAllBytes().toSeq)
  }

  private val exprs = Seq(
    "sum by (job) (rate(http_requests_total[5m]))",
    "topk(3, memory_bytes)",
    """avg_over_time(memory_bytes{job="api"}[5m])""",
    "http_requests_total * on(instance) group_left(version) build_info")

  /** name → (path, optional POST body) of every read surface checked. */
  private def surfaces: Seq[(String, (String, Option[Array[Byte]]))] = {
    def enc(s: String) = URLEncoder.encode(s, "UTF-8")
    val q = Seq(ReadQuery(Start * 1000L, End * 1000L,
      Seq(Matchers.eq("__name__", "http_requests_total"), Matchers.re("job", "api|web"))))
    exprs.map(e => e -> (s"/api/v1/query_range?query=${enc(e)}&start=$Start&end=$End&step=60", None)) ++
      Seq(
        "/read SAMPLES" -> ("/read", Some(PromRemoteCodec.encodeReadRequest(q))),
        "/read chunked" -> ("/read", Some(PromRemoteCodec.encodeReadRequestWithTypes(q, Seq(1, 0)))),
        "/api/v1/series" -> (s"/api/v1/series?${enc("match[]")}=http_requests_total" +
          s"&${enc("match[]")}=build_info&start=$Start&end=$End", None))
  }

  /** Each surface's (status, body, jobs, shuffle bytes) on `path`. */
  private def serveAll(path: String): Map[String, (Int, Seq[Byte], Int, Long)] = {
    val srv = HttpServe.start(spark, path)
    try surfaces.map { case (name, (url, body)) =>
      var answer: (Int, Seq[Byte]) = null
      val (jobs, bytes) = jobsAndShuffle { answer = request(s"http://localhost:${srv.port}$url", body) }
      name -> ((answer._1, answer._2, jobs, bytes))
    }.toMap
    finally srv.stop()
  }

  test("a snapshot below QueryTarget serves every read surface in one job with no exchange") {
    assert(width(small) === 1)
    assert(width(big) > 1)
    val opens = OpsMetrics(spark).storeOnePartitionOpens.value
    val one = serveAll(small)
    assert(OpsMetrics(spark).storeOnePartitionOpens.value > opens)
    val many = serveAll(big)
    surfaces.map(_._1).foreach { name =>
      val (code, body, jobs, shuffled) = one(name)
      assert(code === 200, s"$name: ${new String(body.toArray, "UTF-8")}")
      assert(body.nonEmpty, name)
      assert(body === many(name)._2, s"$name: the two plan shapes disagree")
      assert((jobs, shuffled) === ((1, 0L)), s"$name on the small store")
      assert(many(name)._1 === 200, name)
      assert(many(name)._3 > 1 && many(name)._4 > 0L, s"$name on the padded store")
    }
  }

  test("PromQL plans 0 exchanges on a one-task snapshot, today's exchanges above it") {
    exprs.foreach { e =>
      val expr = PromQL.parse(e).getOrElse(sys.error(s"must parse: $e"))
      def eval(path: String) = PromQL.eval(SamplesStore.read(spark, path), expr, Start, End, 60L)
      PromQL.releasing {
        val below = eval(small)
        assert(shuffles(below).isEmpty, s"$e below the target:\n${initialPlan(below)}")
        val above = eval(big)
        assert(shuffles(above).nonEmpty, s"$e above the target:\n${initialPlan(above)}")
        assert(below.collect().toSet === above.collect().toSet, e)
      }
    }
  }

  test("a Union of two small opens keeps the series exchange and deduplicates across them") {
    val s = spark
    import s.implicits._
    val labels = Seq("k=v")
    val a = store("union_a", Seq((T0 * 1000000L, "dup", labels, 1.0),
      ((T0 + 1) * 1000000L, "dup", labels, 2.0)).toDF("ts_us", "metric", "labels", "value"))
    val b = store("union_b", Seq((T0 * 1000000L + 400000L, "dup", labels, 5.0))
      .toDF("ts_us", "metric", "labels", "value"))
    val (ra, rb) = (SamplesStore.read(spark, a), SamplesStore.read(spark, b))
    assert(SeriesRead.onePartition(ra) && SeriesRead.onePartition(rb))
    val union = ra.unionByName(rb)
    assert(!SeriesRead.onePartition(union), "a Union is many partitions")
    val deduped = SeriesRead.seriesMax(
      union.withColumn("t_sec", col("ts_us").divide(1000000L).cast("long")), "v")
    val keys = shuffles(deduped).map(_.outputPartitioning).collect {
      case h: HashPartitioning => h.expressions.map(_.sql)
    }
    assert(keys === Seq(Seq("metric", "labels")), initialPlan(deduped).toString)
    assert(deduped.orderBy("t_sec").collect().map(r => (r.getLong(2), r.getDouble(3))).toSeq ===
      Seq((T0, 5.0), (T0 + 1, 2.0)))
  }
}
