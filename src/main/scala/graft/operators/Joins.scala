package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Time-series join operators Spark lacks as primitives, re-expressed
  * Spark-first. The reference's engine family (ClickHouse) ships
  * ASOF JOIN natively; here it compiles to a plan with NO JOIN AT
  * ALL — a union + one per-key ordered window — which is the shape
  * that survives 100 TB (an equi-join on (key, nearest-ts) cannot be
  * expressed without an inequality, and a theta join is quadratic).
  */
object Joins {

  /** As-of join: each left row picks up the right side's payload
    * with the greatest `ts_us` ≤ the left row's `ts_us`, per `key` —
    * "the metric's value as of the moment the event happened"
    * (ClickHouse `ASOF JOIN ... ON l.k = r.k AND l.ts >= r.ts`,
    * kdb's aj). Left rows with no prior right row keep NULLs, like
    * ASOF LEFT JOIN.
    *
    * Plan: tag the sides, UNION them (right sorts before left on
    * timestamp ties, so same-µs rows match the ≤ contract), and let
    * one per-key window carry the latest right payload forward with
    * last_value(ignoreNulls). The payload travels as ONE struct per
    * right row, so multi-column payloads stay row-atomic — a NULL
    * inside the as-of row's payload is answered as that NULL, never
    * backfilled from an older right row (per-column carries would
    * tear columns across different right rows). ONE exchange — the
    * per-key hash partition both sides share — zero join operators,
    * zero buildable hash tables; the window state is one row. Skew
    * rides the key distribution like every per-key window (the
    * sessionization caveat).
    *
    * `rightCols` are the payload columns to carry (must exist on the
    * right side); left columns pass through unchanged. */
  def asof(left: DataFrame, right: DataFrame, key: String,
           rightCols: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    require(!leftCols.exists(rightCols.contains),
      s"right payload columns ${rightCols.mkString(",")} collide with the left side")
    val payloadT = org.apache.spark.sql.types.StructType(
      rightCols.map(c => right.schema(c).copy(name = c)))
    val l = left
      .withColumn("_side", lit(1))
      .select(Seq(col(key), col("ts_us"), col("_side")) ++
        leftCols.filter(c => c != key && c != "ts_us").map(col) :+
        lit(null).cast(payloadT).as("_pay"): _*)
    val r = right
      .withColumn("_side", lit(0))
      .select(Seq(col(key), col("ts_us"), col("_side")) ++
        leftCols.filter(c => c != key && c != "ts_us")
          .map(c => lit(null).cast(left.schema(c).dataType).as(c)) :+
        struct(rightCols.map(col): _*).as("_pay"): _*)
    // _pay as the final sort key makes duplicate right (key, ts_us)
    // rows deterministic: last() then always answers the GREATEST
    // payload struct (field-wise struct ordering) instead of
    // whichever row the partition happened to order last. Payload
    // columns must therefore be orderable types (maps aren't) —
    // true of every store column. Left rows (_pay NULL) sort first
    // within a tie, irrelevant because _side already splits sides.
    val w = Window.partitionBy(col(key))
      .orderBy(col("ts_us").asc, col("_side").asc, col("_pay").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r)
      .withColumn("_pay", last(col("_pay"), ignoreNulls = true).over(w))
      .filter(col("_side") === 1)
      .select(leftCols.map(col) ++
        rightCols.map(c => col(s"_pay.$c").as(c)): _*)
  }

  /** Range (interval) join: left POINT rows (`ts_us`) to right
    * INTERVAL rows (`start_us` inclusive, `end_us` exclusive) on
    * `key` equality + containment. A raw inequality join is a
    * per-key cartesian; bucketing turns it into an EQUI-join — each
    * interval explodes onto every `bucketSec` bucket it overlaps,
    * points land in their own bucket, and the exact containment
    * predicate filters the equi-matches. Amplification is
    * interval-length / bucketSec per interval (pick bucketSec near
    * the median interval — the gridExplode trade), and the join
    * shuffles on (key, bucket), so a long interval spreads over many
    * buckets instead of serializing one key's comparisons. Inner
    * semantics: unmatched points drop. */
  /** One listener per session logs + counts the intervals
    * [[range]]'s sanity filters remove. The filters protect the job
    * (an inverted or runaway interval would explode or detonate
    * sequence()), but a silent drop turns bad upstream data or a
    * mis-tuned bucketSec into silently-missing join results — the
    * observe() metric makes every drop diagnosable from the log and
    * the `/metrics` counter without a second scan. */
  private val dropListenerOn = new java.util.concurrent.atomic.AtomicBoolean(false)
  private val obsSeq = new java.util.concurrent.atomic.AtomicLong(0L)
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)
  private def ensureDropListener(spark: SparkSession): Unit =
    if (dropListenerOn.compareAndSet(false, true))
      spark.listenerManager.register(new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution,
                               durationNs: Long): Unit =
          qe.observedMetrics.foreach { case (name, row) =>
            if (name.startsWith("range_join_drops_")) {
              val n = row.getAs[Long]("dropped_intervals")
              if (n > 0) {
                log.warn(s"Joins.range: $n interval(s) dropped " +
                  "(inverted bounds or spanning >= maxBucketsPerInterval " +
                  "buckets) — check upstream interval data or raise " +
                  "bucketSec/maxBucketsPerInterval")
                graft.OpsMetrics(spark).rangeDroppedIntervals.add(n)
              }
            }
          }
        override def onFailure(funcName: String, qe: QueryExecution,
                               exception: Exception): Unit = ()
      })

  def range(left: DataFrame, right: DataFrame, key: String,
            bucketSec: Long, maxBucketsPerInterval: Long = 65536L): DataFrame = {
    val bUs = bucketSec * 1000000L
    ensureDropListener(right.sparkSession)
    val pts = left.withColumn("_b", expr(s"ts_us DIV $bUs"))
    val ivs = right
      // observe() rides the action for free (a CollectMetrics
      // passthrough, no extra scan); unique name per call — Spark
      // rejects duplicate observation names in one plan
      .observe(s"range_join_drops_${obsSeq.incrementAndGet()}",
        sum(when(col("end_us") <= col("start_us") ||
          expr(s"(end_us - 1) DIV $bUs - start_us DIV $bUs" +
            s" >= ${maxBucketsPerInterval}L"), 1L).otherwise(0L))
          .as("dropped_intervals"))
      // an inverted interval (bad upstream data) can never contain a
      // point, but sequence(hi, lo) would DESCEND and explode
      // garbage rows (or error on wild bounds) — drop it first
      .filter(col("end_us") > col("start_us"))
      // …and an absurdly LONG one (end_us in the far future) would
      // sequence() toward 2^31 elements and fail the whole job — the
      // same bad-upstream-data class. A legit interval near the
      // bucketSec sizing rule spans ~1-2 buckets; anything past the
      // cap drops rather than detonating (tune the cap up for
      // deliberately coarse buckets over long intervals)
      .filter(expr(s"(end_us - 1) DIV $bUs - start_us DIV $bUs" +
        s" < ${maxBucketsPerInterval}L"))
      .withColumn("_b",
        explode(expr(s"sequence(start_us DIV $bUs, (end_us - 1) DIV $bUs)")))
    pts.join(ivs, Seq(key, "_b"))
      .filter(col("ts_us") >= col("start_us") && col("ts_us") < col("end_us"))
      .drop("_b")
  }
}
