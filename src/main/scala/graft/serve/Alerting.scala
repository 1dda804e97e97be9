package graft.serve

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ingest.{RollupStore, SamplesStore}

/** Prometheus alerting rules over the evaluator: a rule's expression
  * (typically a comparison filter — `expr > threshold` emits rows
  * only where the predicate holds) evaluates on the grid, and each
  * matching series becomes an ALERTS-shaped series labeled
  * alertname + alertstate:
  *  - `pending` while the series has matched for less than `forSec`;
  *  - `firing` once it has matched at EVERY grid step of the trailing
  *    `for` window — Prometheus's continuous-presence rule, read here
  *    off the evaluation grid exactly as Prometheus reads it off its
  *    evaluation interval.
  *
  * The state needs no stored bookkeeping: presence is counted with
  * one trailing RANGE window per series over the evaluated rows (the
  * grid is start-extended by `forSec` so the window is warm at the
  * first reported step). Steps where the expression has no row for a
  * series produce no alert row — resolution is the row's absence,
  * like Prometheus's ALERTS series going stale.
  *
  * Scale shape: one evaluator plan + one per-series window over rows
  * already reduced to (series, step) — the window partition carries
  * at most grid-length rows per series. */
object Alerting {

  /** One rule: alert `alertname` when `expr` holds for `forSec`
    * (a multiple of the evaluation step; 0 = fire immediately). */
  final case class AlertRule(alertname: String, expr: String,
                             forSec: Long, stepSec: Long) {
    require(stepSec > 0, "alert step must be positive")
    require(forSec >= 0 && forSec % stepSec == 0,
      "for-duration must be a non-negative multiple of the step")
    require(alertname.nonEmpty &&
      (alertname.head.isLetter || alertname.head == '_') &&
      alertname.forall(c => c.isLetterOrDigit || c == '_'),
      s"invalid alert name: $alertname")
    val parsed: PromQL.Expr = PromQL.parse(expr).fold(
      e => throw new IllegalArgumentException(s"alert $alertname: $e"),
      identity)
  }

  /** Evaluate the rule on t = startSec + k·stepSec ≤ endSec: one row
    * per (matching series, step) with labels
    * [alertname=…, alertstate=pending|firing, …series labels], value
    * 1 — the ALERTS vector. */
  def alerts(samples: DataFrame, rule: AlertRule, startSec: Long,
             endSec: Long,
             lookbackSec: Long = PromQL.DefaultLookbackSec,
             rollup: Option[RollupStore.Ladder] = None,
             stale: Option[DataFrame] = None): DataFrame = {
    val need = rule.forSec / rule.stepSec + 1
    val ev = PromQL.eval(samples, rule.parsed, startSec - rule.forSec,
      endSec, rule.stepSec, lookbackSec, rollup, stale = stale)
    val w = Window
      .partitionBy(coalesce(col("metric"), lit("")), col("labels"))
      .orderBy(col("t"))
      .rangeBetween(-rule.forSec, 0)
    ev.withColumn("present_n", count(lit(1)).over(w))
      .filter(col("t") >= startSec)
      .withColumn("alertstate",
        when(col("present_n") >= need, "firing").otherwise("pending"))
      .select(lit(null).cast("string").as("metric"),
        array_sort(concat(col("labels"),
          array(concat(lit(s"alertname=${rule.alertname}")),
            concat(lit("alertstate="), col("alertstate"))))).as("labels"),
        col("t"), lit(1000000L).as("v_e6"))
  }

  /** The current alert set at the DATA edge (store time, like the
    * recording watermark): each rule evaluated at its latest complete
    * grid point, answering (alert labels, state) rows — what
    * /api/v1/alerts serves. The per-rule plans UNION into one
    * DataFrame and collect ONCE — a /alerts request costs one Spark
    * job regardless of rule count, not one job per rule (the store
    * scan is shared across the unioned branches). Cardinality is
    * alerting series, so the collect is boundary-bounded like the
    * metadata endpoints. */
  def currentAlerts(spark: SparkSession, storePath: String,
                    rules: Seq[AlertRule]): Seq[(Seq[String], String, Long)] = {
    if (rules.isEmpty) return Nil
    val df = SamplesStore.read(spark, storePath)
    val staleDf = RemoteWrite.staleStoreDf(spark, storePath)
    val maxTs = Recording.dataEdgeSec(spark, storePath).getOrElse(return Nil)
    val rows = PromQL.releasing {
      rules.map { rule =>
        val edge = maxTs / rule.stepSec * rule.stepSec
        alerts(df, rule, edge, edge, stale = staleDf)
          .select(col("labels"), col("t"))
      }.reduce(_.unionByName(_)).collect()
    }
    rows.toSeq.map { r =>
      val ls = r.getSeq[String](0)
      val state = ls.find(_.startsWith("alertstate="))
        .map(_.stripPrefix("alertstate=")).getOrElse("pending")
      (ls.filterNot(_.startsWith("alertstate=")), state, r.getLong(1))
    }
  }
}
