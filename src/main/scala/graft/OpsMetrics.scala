package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.{AccumulatorV2, LongAccumulator}

/** Operational counters — the twin of the reference's `/metrics`
  * endpoint (reference: main.go:19-53 counter definitions,
  * main.go:125-160 increment sites). Spark `LongAccumulator`s are the
  * cluster-native analogue of process-local prometheus counters:
  * executor-side increments flow back to the driver with task
  * completion, and [[render]] emits the Prometheus text exposition
  * format the reference serves.
  *
  * Same best-effort contract as the reference's counters: an
  * accumulator incremented inside a transformation is at-least-once
  * (a retried task reports its increments again), which is the
  * accepted semantics for throughput/error counters.
  */
final class OpsMetrics private (sc: SparkContext) {
  private def counter(name: String): LongAccumulator = {
    val c = new DriverCounter
    sc.register(c, name)
    c
  }

  val samplesWritten: LongAccumulator = counter("samples_written_total")
  val writeRequests: LongAccumulator  = counter("write_requests_total")
  val writeErrors: LongAccumulator    = counter("write_errors_total")
  val readRequests: LongAccumulator   = counter("read_requests_total")
  val readErrors: LongAccumulator     = counter("read_errors_total")
  // store-maintenance counters — the ClickHouse system.merges
  // analogue, incremented by SamplesStore's compaction paths so a
  // dashboard can see whether the background merge is keeping up
  val compactions: LongAccumulator    = counter("store_compactions_total")
  val daysRewritten: LongAccumulator  = counter("store_compacted_days_total")
  // store appends and the manifest commits that landed them — plain
  // appends group-commit under the store lock, so appends/commits is
  // the coalescing factor behind /write latency
  val storeAppends: LongAccumulator   = counter("store_appends_total")
  val storeAppendCommits: LongAccumulator =
    counter("store_append_commits_total")
  // milliseconds those commits held the store mutation lock: divided
  // by the commit count, the mean cost of landing one append commit
  val storeAppendCommitMs: LongAccumulator =
    counter("store_append_commit_ms_total")
  // snapshot opens and the schema inferences among them — an open
  // whose snapshot schema is known runs no Spark job, so inferences
  // stay near zero on a warm server
  val storeOpens: LongAccumulator     = counter("store_opens_total")
  val storeSchemaInferences: LongAccumulator =
    counter("store_schema_inferences_total")
  // opens small enough to plan as one partition (SamplesStore.open)
  val storeOnePartitionOpens: LongAccumulator =
    counter("store_one_partition_opens_total")
  // reads answered from the materialized rollup instead of raw
  // samples (only ever when shape-exact AND manifest-fresh) — the
  // dashboard signal that the recording-rule path is actually used
  val readsFromRollup: LongAccumulator = counter("reads_from_rollup_total")
  // wire-format drops the float64 store cannot avoid: Prometheus 3.x
  // native-histogram samples on remote-write (v1 field 4 / v2 field
  // 3) and OTLP histogram/summary points. Skipped field-safe at the
  // codec — these counters make the drop OBSERVABLE instead of
  // silent (a sender can alert on them; the flags endpoint mirrors
  // the totals)
  val droppedHistograms: LongAccumulator =
    counter("write_dropped_histogram_samples_total")
  val otlpDroppedPoints: LongAccumulator =
    counter("otlp_dropped_points_total")
  // native-histogram samples accepted by CONVERSION to classic
  // _bucket/_sum/_count series (NativeHistogram) — the parity signal
  // that Prometheus 3.x histogram traffic is being represented
  val convertedHistograms: LongAccumulator =
    counter("write_converted_histograms_total")
  // exemplars decoded off remote-write into the sibling exemplar
  // store (served back on /api/v1/query_exemplars)
  val exemplarsWritten: LongAccumulator =
    counter("write_exemplars_total")
  // intervals Joins.range's sanity filters removed (inverted bounds
  // or runaway length) — bad upstream data surfaced, never silent
  val rangeDroppedIntervals: LongAccumulator =
    counter("range_join_dropped_intervals_total")

  private def all: Seq[(String, String, LongAccumulator)] = Seq(
    ("samples_written_total", "number of samples written into the store", samplesWritten),
    ("write_requests_total", "number of hits to write endpoint", writeRequests),
    ("write_errors_total", "number of errors generated by write endpoint", writeErrors),
    ("read_requests_total", "number of hits to read endpoint", readRequests),
    ("read_errors_total", "number of errors generated by read endpoint", readErrors),
    ("store_compactions_total", "number of store compaction jobs run", compactions),
    ("store_compacted_days_total", "number of day partitions rewritten by compaction", daysRewritten),
    ("store_appends_total", "number of store append calls", storeAppends),
    ("store_append_commits_total",
      "number of manifest commits that landed store appends (concurrent appends share one)",
      storeAppendCommits),
    ("store_append_commit_ms_total",
      "milliseconds store append commits held the store mutation lock",
      storeAppendCommitMs),
    ("store_opens_total", "number of store snapshots opened for reading", storeOpens),
    ("store_schema_inferences_total",
      "store opens that ran a parquet schema-inference job (snapshot schema unknown)",
      storeSchemaInferences),
    ("store_one_partition_opens_total",
      "store opens small enough to plan the request as one partition with no exchange",
      storeOnePartitionOpens),
    ("reads_from_rollup_total", "read queries served from the materialized rollup", readsFromRollup),
    ("write_dropped_histogram_samples_total",
      "remote-write native-histogram samples dropped (float64 store holds no histograms)",
      droppedHistograms),
    ("otlp_dropped_points_total",
      "OTLP summary points (and non-standard-scale histograms) dropped",
      otlpDroppedPoints),
    ("write_converted_histograms_total",
      "native-histogram samples converted to classic _bucket/_sum/_count series",
      convertedHistograms),
    ("write_exemplars_total",
      "exemplars written into the sibling exemplar store",
      exemplarsWritten),
    ("range_join_dropped_intervals_total",
      "intervals dropped by the range join's inverted/runaway sanity filters",
      rangeDroppedIntervals))

  /** Prometheus text exposition (the reference's `/metrics` body).
    * Counters first, then process/runtime gauges — the reference's
    * promhttp handler (main.go:122) serves go_* and process_* gauges next
    * to its counters, and dashboards ported from it expect live
    * process panels, so the JVM analogues ride along. */
  def render: String = {
    // Spark's own codegen compile count (JVM-wide) rides with the
    // counters: request windows bind as parameters, so a steady
    // dashboard adds none, and a climbing count is compile churn
    val counters = (all.map { case (name, help, acc) => (name, help, acc.value.longValue) } :+
      (("codegen_compilations_total", "Spark generated-code compilations in this JVM",
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount))).map { case (name, help, v) =>
      s"# HELP $name $help\n# TYPE $name counter\n$name $v\n"
    }.mkString
    import java.lang.management.ManagementFactory
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    val gauges = Seq[(String, String, Double)](
      ("process_uptime_seconds", "seconds since JVM start",
        ManagementFactory.getRuntimeMXBean.getUptime / 1000.0),
      ("jvm_memory_heap_used_bytes", "used JVM heap", heap.getUsed.toDouble),
      ("jvm_memory_heap_max_bytes", "max JVM heap", heap.getMax.toDouble),
      ("jvm_threads_current", "live JVM threads",
        ManagementFactory.getThreadMXBean.getThreadCount.toDouble))
    counters + gauges.map { case (name, help, v) =>
      s"# HELP $name $help\n# TYPE $name gauge\n$name $v\n"
    }.mkString
  }
}

/** A LongAccumulator whose `add` and `merge` are atomic. Spark's are
  * plain read-modify-writes, and request threads add to the same
  * counter concurrently (and the scheduler merges task updates
  * meanwhile), so a plain one loses increments. Copies (what a task
  * deserializes) are DriverCounters too, so a closure that captures
  * one by its own type still deserializes. */
private[graft] final class DriverCounter extends LongAccumulator {
  override def add(v: Long): Unit = synchronized(super.add(v))
  override def add(v: java.lang.Long): Unit = synchronized(super.add(v))
  override def merge(other: AccumulatorV2[java.lang.Long, java.lang.Long]): Unit =
    synchronized(super.merge(other))
  override def copyAndReset(): DriverCounter = new DriverCounter
  override def copy(): DriverCounter = {
    val c = new DriverCounter
    c.merge(this)
    c
  }
}

object OpsMetrics {
  private val registry = TrieMap.empty[String, OpsMetrics]

  /** The counter set for this session's SparkContext (one per app,
    * like the reference's one process-wide registry). */
  def apply(spark: SparkSession): OpsMetrics = {
    val sc = spark.sparkContext
    registry.getOrElseUpdate(sc.applicationId, new OpsMetrics(sc))
  }
}
