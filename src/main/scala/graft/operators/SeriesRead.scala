package graft.operators

import scala.annotation.tailrec

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, RebalancePartitions,
  Repartition, RepartitionOperation, UnaryNode}
import org.apache.spark.sql.functions._

import graft.functions.Param

/** A Prometheus remote-read query against the samples store —
  * mirrors prompb.Query (start/end ms, matchers, step/range hints). */
final case class ReadQuery(
    startMs: Long,
    endMs: Long,
    matchers: Seq[LabelMatcher],
    stepMs: Long = 0L,
    rangeMs: Long = 0L)

/** The remote-read pipeline, Spark-first — the twin of the
  * reference's single read SQL + driver-side series reassembly
  * (reference: internal/clickhouse/read.go:15-103):
  *
  *   SELECT metric_name, arraySort(labels), <t> AS t, max(value)
  *   FROM samples WHERE <time> AND <matchers>
  *   GROUP BY metric_name, labels, t ORDER BY metric_name, labels, t
  *
  * Here the WHERE is a scan-level Catalyst predicate (time bounds and
  * metric equality reach parquet as pushed filters), the GROUP BY is
  * one hash-aggregate with map-side partial aggregation, and series
  * assembly is a distributed `collect_list` over the SAME grouping
  * keys — Catalyst reuses the exchange, so select → assemble is a
  * single shuffle end-to-end and no per-row work ever lands on the
  * driver (the reference streams all rows through one goroutine;
  * at 100 TB that loop is the bottleneck, a shuffle is not).
  *
  * Grouping runs on the labels ARRAY itself, exactly like the
  * reference's GROUP BY on the ClickHouse array column — a label
  * value containing ',' can never conflate two distinct series. The
  * ","-joined `labels_str` is derived only at output, for scalar
  * oracle-safe columns.
  */
object SeriesRead {

  /** Time bounds as PUSHABLE scan predicates. The reference divides
    * ms→s with truncation and compares at second resolution
    * (read.go:24-28 `q.StartTimestampMs/1000`); for the store's
    * non-negative epoch-µs axis `ts_us DIV 1e6 >= s` is exactly
    * `ts_us >= s*1e6` and `DIV <= e` is exactly `ts_us < (e+1)*1e6` —
    * and the direct comparisons reach the parquet scan as
    * PushedFilters (row-group min/max pruning, which the files' ts
    * sort order makes surgical), where the DIV form only evaluated
    * AFTER every row was read. On the day-partitioned store the
    * redundant `date` bounds additionally prune whole day partitions
    * at planning time — a 1-hour query over a multi-year store must
    * list one day, not all of history. (`date` is each partition's
    * day START, so the start bound floors to its own day and the end
    * bound compares raw — the kept days are exactly those overlapping
    * the window.)
    *
    * The exact `ts_us` bounds are request values, so they reach the
    * plan as [[Param]]s: a refresh of the same panel then reuses the
    * generated code. Each keeps a literal twin rounded outward to the
    * hour, which is what parquet pushdown prunes on (a Param is not a
    * data-source filter value); it changes at most once an hour. The
    * `date` bounds stay literals: they prune partitions at planning
    * and never reach generated code. */
  private[graft] def timeBound(samples: DataFrame, startMs: Long,
                               endMs: Long): DataFrame = {
    val spark = samples.sparkSession
    val startSec = startMs / 1000
    var df = samples.filter(
      Param.atLeast(spark, col("ts_us"), startSec * 1000000L, Param.HourUs))
    if (endMs > 0)
      df = df.filter(
        Param.below(spark, col("ts_us"), (endMs / 1000 + 1) * 1000000L, Param.HourUs))
    if (samples.columns.contains("date")) {
      df = df.filter(col("date") >= startSec / 86400 * 86400)
      if (endMs > 0) df = df.filter(col("date") <= endMs / 1000)
    }
    df
  }

  /** Filter + bucket + per-(series, t) max, keyed on the labels
    * array. Output: metric, labels ARRAY<STRING>, t_sec BIGINT,
    * max_value DOUBLE.
    *
    * Time bounds apply at second resolution against the
    * DateTime-equivalent axis via [[timeBound]] (pushed + partition
    * -pruned). Grouping always happens at least at 1s resolution —
    * ClickHouse DateTime is seconds, so the reference's GROUP BY t
    * dedups sub-second samples even without hints. */
  def selectKeyed(samples: DataFrame, q: ReadQuery,
                  ignoreLabel: Option[String] = Some("remote=clickhouse"),
                  ignoreHints: Boolean = false): DataFrame = {
    var df = timeBound(samples, q.startMs, q.endMs)
    df = df.filter(Matchers.compile(q.matchers, ignoreLabel))
    val interval = math.max(Downsample.hintIntervalSec(q.stepMs, q.rangeMs, ignoreHints), 1L)
    // the [[assemble]]/[[assembleChunked]] per-series collects and
    // the serve paths' per-series windows reuse the kernel's series
    // partitioning, so a select → assemble → encode read pipeline
    // plans ONE exchange. Regrouping is result-invariant: the
    // aggregate is max, and the assembly sort_array orders points
    // explicitly.
    seriesMax(df.withColumn("t_sec", Downsample.bucketSec("ts_us", interval)), "max_value")
  }

  /** The series-keyed dedup kernel shared by every read shape
    * (/read's [[selectKeyed]], the ts_* family's
    * RangeOps.dedupPerSecond and PromQL's windowed evaluation): one
    * per-(series, t_sec) max of `value` named `out`, over raw rows
    * hash-partitioned BY SERIES. The caller derives `t_sec`. Every
    * downstream consumer keys on a superset of (metric, labels), so
    * the whole pipeline plans this ONE exchange.
    *
    * When the input is provably one partition ([[onePartition]]: a
    * small snapshot's open, reached through unary operators only) the
    * exchange is dropped — one partition already holds every series
    * whole, so the kernel and every consumer above it plan none.
    *
    * The raw-row exchange trades away the map-side partial aggregate:
    * measured at 16M rows with one series carrying 50% of rows AND 4×
    * sub-second duplication (the HA-pair/retry-heavy adversarial
    * shape), this form runs ~1.4× SLOWER than dedup-then-repartition
    * (the hot series' raw rows fold in one task), while at the
    * duplication factor ≤2 of a normal remote-write corpus it is the
    * faster shape (one exchange of ~the same bytes instead of two). */
  def seriesMax(keyed: DataFrame, out: String): DataFrame =
    (if (onePartition(keyed)) keyed else keyed.repartition(col("metric"), col("labels")))
      .groupBy(col("metric"), col("labels"), col("t_sec"))
      .agg(max(col("value")).as(out))

  /** True when `df` is provably ONE partition: its logical plan,
    * walked down through unary operators that are not repartitions,
    * reaches a one-partition coalesce (`Repartition(1, shuffle =
    * false)`, what SamplesStore.open returns for a small snapshot).
    * Any other repartition, any leaf, and any multi-child node — a
    * Union (RemoteRead's rollup interior plus raw edges is three
    * partitions however small each store is), a Join — counts as many
    * partitions. A unary operator above a one-partition child stays
    * one partition: its required distribution is already satisfied,
    * so Spark inserts no exchange there. */
  private[graft] def onePartition(df: DataFrame): Boolean = {
    @tailrec def walk(p: LogicalPlan): Boolean = p match {
      case Repartition(1, false, _) => true
      case _: RepartitionOperation | _: RebalancePartitions => false
      case u: UnaryNode => walk(u.child)
      case _ => false
    }
    walk(df.queryExecution.analyzed)
  }

  /** selectKeyed with the series key flattened to scalar labels_str —
    * the oracle-facing row shape of the reference's read SQL. */
  def select(samples: DataFrame, q: ReadQuery,
             ignoreLabel: Option[String] = Some("remote=clickhouse"),
             ignoreHints: Boolean = false): DataFrame =
    selectKeyed(samples, q, ignoreLabel, ignoreHints)
      .select(col("metric"), array_join(col("labels"), ",").as("labels_str"),
              col("t_sec"), col("max_value"))

  /** Keyed rows → one row per series with its time-ordered samples —
    * the distributed twin of read.go:62-97's run-length reassembly
    * into prompb.TimeSeries. Output:
    * metric, labels, points ARRAY<STRUCT<t_sec, max_value>>. */
  def assemble(selectedKeyed: DataFrame): DataFrame =
    selectedKeyed
      .groupBy(col("metric"), col("labels"))
      .agg(sort_array(collect_list(struct(col("t_sec"), col("max_value")))).as("points"))

  /** assemble, chunked by time window: one row per (series, chunkSec
    * bucket), so a hot series never materializes unbounded points in
    * one row — the encode paths frame each chunk as its own
    * prompb.TimeSeries, which the remote protocols explicitly allow.
    * Same single-shuffle shape as assemble (the chunk key is derived
    * from t_sec). */
  def assembleChunked(selectedKeyed: DataFrame, chunkSec: Long): DataFrame =
    selectedKeyed
      .groupBy(col("metric"), col("labels"), expr(s"t_sec DIV $chunkSec").as("chunk"))
      .agg(sort_array(collect_list(struct(col("t_sec"), col("max_value")))).as("points"))
      .drop("chunk")

  /** Scalar per-series summary of an assembled read — oracle-friendly
    * (no nested arrays): series key, sample count, time span, and a
    * deterministic "t:centivalue" digest of the ordered points. The
    * value digest is floor(v*100 + 0.5) — pure double arithmetic, so
    * any IEEE-754 engine computes the identical integer (unlike
    * %.2f, whose tie-rounding differs between Java and C). */
  def assembleSummary(selectedKeyed: DataFrame): DataFrame =
    assemble(selectedKeyed).select(
      col("metric"),
      array_join(col("labels"), ",").as("labels_str"),
      size(col("points")).as("n_points"),
      col("points")(0)("t_sec").as("first_t"),
      element_at(col("points"), -1)("t_sec").as("last_t"),
      array_join(
        transform(col("points"),
          p => concat(p("t_sec").cast("string"), lit(":"),
                      floor(p("max_value") * lit(100.0) + lit(0.5)).cast("long").cast("string"))),
        ";").as("points_str"))
}
