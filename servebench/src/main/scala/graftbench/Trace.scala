package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory span recorder for the traced run. A span has an id, its
  * request's root id, a name, and start/end in nanoseconds. While a
  * span is open its id rides the calling thread's Spark local
  * property, so the [[JobLog]] listener can attribute each Spark job
  * to the span whose thread submitted it. */
final class Spans(sc: SparkContext) {
  import Spans._
  private val ids = new AtomicLong()
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val endNs = new ConcurrentHashMap[Long, java.lang.Long]()
  private val current = new ThreadLocal[Option[(Long, Long)]] { override def initialValue() = None }

  /** Root span of one request of `kind`. */
  def request[T](kind: String)(f: => T): T = open(kind, root = true)(f)
  /** Child span of the current request. */
  def apply[T](name: String)(f: => T): T = open(name, root = false)(f)

  private def open[T](name: String, root: Boolean)(f: => T): T = {
    val id = ids.incrementAndGet()
    val parent = current.get()
    val rootId = if (root) id else parent.map(_._2).getOrElse(id)
    current.set(Some((id, rootId)))
    val prevProp = sc.getLocalProperty(Property)
    sc.setLocalProperty(Property, id.toString)
    val t0 = System.nanoTime()
    try f finally {
      val t1 = System.nanoTime()
      endNs.put(id, t1)
      done.add(Span(id, rootId, name, t0, t1))
      sc.setLocalProperty(Property, prevProp)
      current.set(parent)
    }
  }

  /** End time of span `id`, if it has ended. */
  def endedAt(id: Long): Option[Long] = Option(endNs.get(id)).map(_.longValue)
  def all: Vector[Span] = done.asScala.toVector
}

object Spans {
  val Property = "graftbench.span"
  final case class Span(id: Long, root: Long, name: String, startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }
}

/** One SparkListener for the traced run: per job, the span that
  * submitted it, whether it is store maintenance, its wall time and
  * its tasks' summed metrics. A job has no span when it is untagged
  * (HTTP handler threads, bare calls), when its tag names a span that
  * had already ended (pools created inside a tagged call inherit the
  * tag), or when it is maintenance. Maintenance is recognised by
  * RemoteWrite's background pass on the job's call stack. */
final class JobLog(spans: Spans) extends SparkListener {
  final class Job(val id: Int, val span: Option[Long], val maintenance: Boolean, val startNs: Long) {
    @volatile var endNs: Long = 0L
    val tasks = new AtomicLong(); val runMs = new AtomicLong(); val cpuNs = new AtomicLong()
    val gcMs = new AtomicLong(); val shuffleBytes = new AtomicLong(); val spillBytes = new AtomicLong()
    val recordsRead = new AtomicLong(); val bytesWritten = new AtomicLong()
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val lastEvent = new AtomicLong(System.nanoTime())

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val now = System.nanoTime()
    val maintenance = e.stageInfos.exists(_.details.contains("maybeCompactRateLimited"))
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Spans.Property)))
      .flatMap(_.toLongOption)
      .filter(id => !maintenance && spans.endedAt(id).forall(_ >= now - 1000000L))
    jobs.put(e.jobId, new Job(e.jobId, tag, maintenance, now))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    lastEvent.set(now)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.endNs = System.nanoTime())
    lastEvent.set(System.nanoTime())
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    lastEvent.set(System.nanoTime())
    for { j <- Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id))); m <- Option(e.taskMetrics) } {
      j.tasks.incrementAndGet()
      j.runMs.addAndGet(m.executorRunTime)
      j.cpuNs.addAndGet(m.executorCpuTime)
      j.gcMs.addAndGet(m.jvmGCTime)
      j.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      j.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      j.recordsRead.addAndGet(m.inputMetrics.recordsRead)
      j.bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  /** Wait for the asynchronous listener bus: every started job ended
    * and no event for 300 ms (bounded by 10 s). */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (System.nanoTime() < deadline &&
        (jobs.values.asScala.exists(_.endNs == 0L) || System.nanoTime() - lastEvent.get < 300000000L))
      Thread.sleep(50)
  }

  def all: Vector[Job] = jobs.values.asScala.toVector
}
