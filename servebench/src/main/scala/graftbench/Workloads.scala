package graftbench

import java.util.concurrent.{ConcurrentLinkedQueue, LinkedBlockingQueue, TimeUnit}

import scala.jdk.CollectionConverters._

import Answer.Matrix

/** One request a load client sends. */
sealed trait Req { def kind: String }
final case class WriteReq(shard: Int, shards: Int, body: Long, firstScrape: Long, scrapes: Int) extends Req {
  def kind = "write"
}
final case class RangeReq(panel: Int, job: Int, start: Long, end: Long, step: Long) extends Req {
  def kind = "query_range"
  def expr: String = panel match {
    case 0 => s"sum by (job) (rate(${Gen.CounterName}[5m]))"
    case 1 => s"topk(3, ${Gen.GaugeName})"
    case _ => s"""max by (instance) (avg_over_time(${Gen.GaugeName}{job="job$job"}[5m]))"""
  }
}
final case class ReadReq(chunked: Boolean, job: Int, startMs: Long, endMs: Long) extends Req {
  def kind = "read"
  def metric: String = if (chunked) Gen.GaugeName else Gen.CounterName
}
final case class SeriesReq(job: Int, start: Long, end: Long) extends Req { def kind = "series" }

/** One finished request: latency runs from `dueNs` (the send time for
  * closed loops, the scheduled time for the open loop). */
final case class Rec(kind: String, dueNs: Long, startNs: Long, endNs: Long, cause: Option[String]) {
  def ms: Double = (endNs - dueNs) / 1e6
  def ok: Boolean = cause.isEmpty
}

/** Sizes. `full` is what the benchmark measures; `tiny` is the
  * harness self-check. */
final case class Shape(preloadScrapes: Int, windowSec: Long, stepSec: Long, shifts: Int,
                       readSec: Long, ingestScrapes: Int, mixedScrapes: Int, mixedQps: Double)
object Shape {
  /** 1.5 h of 400 series preloaded; 1 h panels at a 60 s step over 20
    * shifted windows; 10 min /read windows; 2,000-sample write bodies.
    * The mixed open-loop rate is about half the query_range rate the
    * dashboard workload sustains on a 4-core host. */
  val full = Shape(360, 3600, 60, 20, 600, 20, 10, 1.0)
  val tiny = Shape(100, 600, 60, 5, 300, 20, 10, 0.5)
}

/** Closed-form expectations and response checks. */
final class Expect(gen: Gen) {
  import Gen._
  private def close(a: Double, b: Double) = math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b))

  def range(r: RangeReq): Matrix = {
    val steps = (r.start to r.end by r.step).toVector
    r.panel match {
      case 0 => gen.rateSumByJob.map { case (k, v) => k -> steps.map(t => (t, v)) }
      case 1 => gen.topGauges(3).map(i => labels(i) -> steps.map(t => (t, gen.value(i, t)))).toMap
      case _ => (Counters until Series).filter(jobOf(_) == r.job)
        .map(i => Map("instance" -> labels(i)("instance")) -> steps.map(t => (t, gen.avgOverTime(i, t)))).toMap
    }
  }

  def checkRange(r: RangeReq, got: Matrix): Option[String] = {
    val want = range(r)
    if (got.keySet != want.keySet)
      Some(s"${r.expr}: series ${got.size} != expected ${want.size} " +
        s"(e.g. unexpected ${(got.keySet -- want.keySet).headOption.getOrElse("-")})")
    else want.collectFirst {
      case (k, w) if got(k).size != w.size || got(k).zip(w).exists { case ((ta, va), (tb, vb)) => ta != tb || !close(va, vb) } =>
        val bad = got(k).zip(w).find { case ((ta, va), (tb, vb)) => ta != tb || !close(va, vb) }
        s"${r.expr} @ ${r.start}..${r.end}: $k got ${got(k).size} points, first mismatch $bad"
    }
  }

  /** Expected raw samples of series `is` at the scrapes in [startMs, endMs]. */
  def raw(is: Seq[Int], scrapes: Int => Seq[Long]): Map[Map[String, String], Vector[(Long, Double)]] =
    is.map { i =>
      labels(i) -> scrapes(i).map { j => val t = gen.t0 + j * Step; (t * 1000, gen.value(i, t)) }.toVector
    }.toMap

  def readScrapes(r: ReadReq): Int => Seq[Long] = _ => {
    val lo = math.ceil((r.startMs / 1000.0 - gen.t0) / Step).toLong
    val hi = math.floor((r.endMs / 1000.0 - gen.t0) / Step).toLong
    lo to hi
  }

  def readSeries(r: ReadReq): Seq[Int] =
    (0 until Series).filter(i => labels(i)("__name__") == r.metric && jobOf(i) == r.job)

  def checkRaw(what: String, want: Map[Map[String, String], Vector[(Long, Double)]],
               got: Vector[Proto.Series]): Option[String] = {
    val g = got.groupBy(_.labels).map { case (k, v) => k -> v.flatMap(_.samples).sortBy(_._1) }
    if (g.keySet != want.keySet) Some(s"$what: series ${g.size} != expected ${want.size}")
    else want.collectFirst {
      case (k, w) if g(k) != w =>
        s"$what: $k got ${g(k).size} samples, expected ${w.size}, first mismatch " +
          g(k).zipAll(w, (0L, 0.0), (0L, 0.0)).find(p => p._1 != p._2)
    }
  }

  def checkSeries(r: SeriesReq, got: Set[Map[String, String]]): Option[String] = {
    val want = (0 until Counters).filter(jobOf(_) == r.job).map(labels).toSet
    if (got != want) Some(s"series job${r.job}: ${got.size} label sets != expected ${want.size}") else None
  }
}

/** Drives one workload against a target for a fixed time and records
  * every request. Clients are closed loops except the mixed
  * workload's query_range stream, which is open loop. */
final class Clients(gen: Gen, shape: Shape, target: Target, expect: Expect,
                   writeBase: Seq[Int] = Seq.fill(4)(0)) {
  val recs = new ConcurrentLinkedQueue[Rec]()
  /** Acknowledged write bodies, by shard. */
  val acked = new java.util.concurrent.ConcurrentHashMap[(Int, Int), java.util.concurrent.ConcurrentSkipListSet[Long]]()
  /** Writes whose fate is unknown (failed, may have landed). */
  val unacked = new ConcurrentLinkedQueue[WriteReq]()
  /** Highest body sent, by shard. */
  private val sent = new java.util.concurrent.ConcurrentHashMap[Int, Long]()

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"

  def exec(req: Req, dueNs: Long): Rec = {
    val body: Array[Byte] = req match {
      case w: WriteReq =>
        sent.merge(w.shard, w.body, (x, y) => math.max(x, y))
        gen.body(w.shard, w.shards, w.firstScrape, w.scrapes)
      case r: ReadReq => Proto.readRequest(r.startMs, r.endMs,
        Seq("__name__" -> r.metric, "job" -> s"job${r.job}"), r.chunked)
      case _ => null
    }
    val start = System.nanoTime()
    val due = if (dueNs > 0) dueNs else start
    val result: Either[String, () => Any] =
      try Right(req match {
        case _: WriteReq => target.write(body); () => ()
        case r: RangeReq => target.queryRange(r.expr, r.start, r.end, r.step)
        case r: ReadReq => target.read(body, r.chunked)
        case r: SeriesReq => target.series(s"""${Gen.CounterName}{job="job${r.job}"}""", r.start, r.end)
      }) catch { case e: Throwable => Left(describe(e)) }
    val end = System.nanoTime()
    val cause = result.fold(Some(_), decode => try (req, decode()) match {
      case (w: WriteReq, _) =>
        acked.computeIfAbsent((w.shard, w.shards), _ => new java.util.concurrent.ConcurrentSkipListSet[Long]()).add(w.body)
        None
      case (r: RangeReq, m: Map[_, _]) => expect.checkRange(r, m.asInstanceOf[Matrix])
      case (r: ReadReq, s: Vector[_]) =>
        expect.checkRaw(s"read ${r.metric}{job${r.job}}", expect.raw(expect.readSeries(r), expect.readScrapes(r)),
          s.asInstanceOf[Vector[Proto.Series]])
      case (r: SeriesReq, s: Set[_]) => expect.checkSeries(r, s.asInstanceOf[Set[Map[String, String]]])
      case _ => Some("unexpected result type")
    } catch { case e: Throwable => Some("check: " + describe(e)) })
    if (cause.isDefined) req match { case w: WriteReq => unacked.add(w); case _ => () }
    val rec = Rec(req.kind, due, start, end, cause)
    recs.add(rec)
    rec
  }

  private def threads(n: Int, name: String)(f: Int => Unit): Seq[Thread] =
    (0 until n).map { i =>
      val t = new Thread(() => f(i), s"bench-$name-$i"); t.setDaemon(true); t.start(); t
    }

  /** Newest scrape every writer of `shards` has acknowledged without
    * gaps, counting the preloaded scrapes and the bodies before
    * `writeBase` (written during warm-up) as acknowledged. */
  def horizon(shards: Int, firstScrape: Long, scrapes: Int): Long =
    (0 until shards).map { s =>
      val set = acked.getOrDefault((s, shards), new java.util.concurrent.ConcurrentSkipListSet[Long]())
      var n = writeBase(s).toLong
      while (set.contains(n)) n += 1
      firstScrape + n * scrapes - 1
    }.min

  /** Per writer, one past the highest body it sent: where the
    * measured window continues the warm-up's timeline. */
  def nextBodies: Seq[Int] = writeBase.indices.map(s => math.max(writeBase(s), sent.getOrDefault(s, -1L).toInt + 1))

  private val dashWindows = { // window end of refresh r, on the 15 s grid
    val last = (shape.preloadScrapes - 1) * Gen.Step
    (r: Int) => gen.t0 + last - (shape.shifts - 1 - r % shape.shifts) * shape.stepSec
  }

  /** Request `i` of dashboard client `c`: three query_range panels,
    * two /read (SAMPLES, then STREAMED_XOR_CHUNKS) and one
    * /api/v1/series variable query per refresh. */
  def dashboardReq(c: Int, i: Int): Req = {
    val r = i / 6
    val end = dashWindows(r + c * 5)
    val job = (c + r) % Gen.Jobs
    i % 6 match {
      case 0 => RangeReq(0, job, end - shape.windowSec, end, shape.stepSec)
      case 1 => ReadReq(chunked = false, job, (end - shape.readSec) * 1000, end * 1000)
      case 2 => RangeReq(1, job, end - shape.windowSec, end, shape.stepSec)
      case 3 => SeriesReq(job, end - shape.windowSec, end)
      case 4 => RangeReq(2, job, end - shape.windowSec, end, shape.stepSec)
      case _ => ReadReq(chunked = true, job, (end - shape.readSec) * 1000, end * 1000)
    }
  }

  def ingestReq(c: Int, i: Int): Req =
    WriteReq(c, 4, i, i.toLong * shape.ingestScrapes, shape.ingestScrapes)

  def mixedWriteReq(w: Int, i: Int): Req =
    WriteReq(w, 2, writeBase(w) + i, shape.preloadScrapes + (writeBase(w) + i).toLong * shape.mixedScrapes,
      shape.mixedScrapes)

  /** Query `k` of the mixed open loop: a 1 h panel ending at the newest
    * fully acknowledged scrape. */
  def mixedQuery(k: Int): Req = {
    val h = horizon(2, shape.preloadScrapes, shape.mixedScrapes)
    val end = gen.t0 + h * Gen.Step
    RangeReq(k % 3, k / 3 % Gen.Jobs, end - shape.windowSec, end, shape.stepSec)
  }

  /** Closed loops: `clients` threads each sending `next(client, i)`
    * until `deadlineNs` or until `next` has no more requests. */
  def closed(clients: Int, deadlineNs: Long, name: String)(next: (Int, Int) => Option[Req]): Seq[Thread] =
    threads(clients, name) { c =>
      var i = 0
      var req = next(c, 0)
      while (req.isDefined && System.nanoTime() < deadlineNs) { exec(req.get, 0L); i += 1; req = next(c, i) }
    }

  /** Open loop: requests due every 1/qps s from `startNs` until
    * `deadlineNs`, sent by `workers` threads, each timed from its due
    * time. Returns the threads (the scheduler last). */
  def open(qps: Double, workers: Int, startNs: Long, deadlineNs: Long)(next: Int => Req): Seq[Thread] = {
    val queue = new LinkedBlockingQueue[(Long, Int)]()
    val stop = (-1L, -1)
    val ws = threads(workers, "open") { _ =>
      var item = queue.take()
      while (item != stop) { exec(next(item._2), item._1); item = queue.take() }
      queue.put(stop)
    }
    val sched = threads(1, "sched") { _ =>
      val gap = (1e9 / qps).toLong
      var k = 0
      var due = startNs
      while (due < deadlineNs) {
        val wait = due - System.nanoTime()
        if (wait > 0) TimeUnit.NANOSECONDS.sleep(wait)
        queue.put((due, k)); k += 1; due = startNs + k * gap
      }
      queue.put(stop)
    }
    ws ++ sched
  }

  def all: Vector[Rec] = recs.asScala.toVector
}
