package graft.serve

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ingest.{RollupStore, SamplesStore}

/** Prometheus recording rules over the store: evaluate a PromQL
  * expression on a grid and append the result as FIRST-CLASS samples
  * under a new metric name — queryable afterwards via /read, the
  * metadata API, and the PromQL endpoints like any ingested series.
  * The reference can't do this at all (it stores what a Prometheus in
  * front evaluates); graft owns both the evaluator and the store, so
  * the rule loop closes inside the engine.
  *
  * Semantics:
  *  - The recorded sample at grid time t is the rule's value at t,
  *    timestamped t (Prometheus's recording convention).
  *  - Result labels pass through; the rule's name replaces the metric
  *    (`sum by (user)` output thus records as name + user label).
  *  - Values round-trip exactly: v_e6 → double micro-units → re-read
  *    floor(v·1e6 + .5) = v_e6 for |v_e6| < 2^52.
  *  - RE-RECORDING an overlapping window is idempotent at read time:
  *    evaluation is deterministic, so overlapping appends duplicate
  *    byte-identical samples and the read path's per-second dedup
  *    (max per (series, second)) collapses them.
  *
  * Scale shape: one evaluator plan (all the leaf pushdown/pruning
  * properties apply) + one [[SamplesStore.append]] — an atomic
  * manifest commit, O(touched day partitions). A scheduled caller
  * (e.g. the serving background pool, like RemoteWrite.rollupPass)
  * passes a trailing window; the append cost is flat in store size.
  */
object Recording {

  /** One rule: record `expr` under `recordName` every `stepSec`. */
  final case class Rule(recordName: String, expr: String, stepSec: Long) {
    require(stepSec > 0, "rule step must be positive")
    require(recordName.nonEmpty &&
      (recordName.head.isLetter || recordName.head == '_' ||
        recordName.head == ':') &&
      recordName.forall(c => c.isLetterOrDigit || c == '_' || c == ':'),
      s"invalid record name: $recordName")
    /** Parse eagerly so a bad rule fails at construction, not at the
      * scheduled evaluation. */
    val parsed: PromQL.Expr = PromQL.parse(expr).fold(
      e => throw new IllegalArgumentException(s"rule $recordName: $e"),
      identity)
  }

  /** The newest sample second in the store — the "data edge" the
    * background rules advance to (store time, not wall time, so a
    * replayed backlog records correctly). Reads the max partition day
    * from the partition values, then max(ts) inside that ONE pruned
    * day — never a full scan. None when the store is empty. */
  private[serve] def dataEdgeSec(spark: SparkSession,
                                 storePath: String): Option[Long] = {
    import org.apache.spark.sql.functions.{col, expr, max}
    val df = SamplesStore.read(spark, storePath)
    val maxDayRow = df.agg(max(col("date").cast("long"))).first()
    if (maxDayRow.isNullAt(0)) None
    else Some(df.filter(col("date").cast("long") === maxDayRow.getLong(0))
      .agg(max(expr("ts_us DIV 1000000"))).first().getLong(0))
  }

  /** Evaluate the rule on t = startSec + k·stepSec ≤ endSec over the
    * store at `storePath` and append the result under its name. */
  def record(spark: SparkSession, storePath: String, rule: Rule,
             startSec: Long, endSec: Long,
             lookbackSec: Long = PromQL.DefaultLookbackSec,
             rollup: Option[RollupStore.Ladder] = None): Unit = PromQL.releasing {
    val out = PromQL.eval(SamplesStore.read(spark, storePath), rule.parsed,
        startSec, endSec, rule.stepSec, lookbackSec, rollup,
        stale = RemoteWrite.staleStoreDf(spark, storePath))
      .select((col("t") * 1000000L).as("ts_us"),
        lit(rule.recordName).as("metric"), col("labels"),
        (col("v_e6").cast("double") / 1000000.0D).as("value"))
    SamplesStore.append(out, storePath)
  }
}
