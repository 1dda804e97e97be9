package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Param

/** PromQL-style range/instant analytics over the canonical samples
  * schema — the query surface a reference user reaches through
  * Prometheus/Grafana on top of the adapter (reference: README.md:89-140
  * shows the Grafana forms: `runningDifference(max_0)/runningDifference(t)`
  * per-second rates, bucketed `max(value)` per series, and
  * `arrayFilter` label projections).
  *
  * Scale design: every op shuffles on the series key (metric, labels)
  * — cardinality of SERIES, never of samples. Window functions
  * partition by series; bucketed aggs do one partial-agg shuffle.
  * All expressions are native `functions._` (codegen'd, no UDFs).
  *
  * The series key is the labels ARRAY itself (like the reference's
  * GROUP BY on the ClickHouse array column) — a ',' inside a label
  * value can never conflate two series. `labels_str` is derived only
  * in each op's final output projection.
  */
object RangeOps {

  private val seriesKey: Seq[Column] = Seq(col("metric"), col("labels"))

  private val labelsStr: Column = array_join(col("labels"), ",").as("labels_str")

  /** Collapse sub-second duplicates exactly like the reference's
    * GROUP BY (metric, labels, t[DateTime seconds]) → max(value)
    * (read.go:58). Output: metric, labels ARRAY, t_sec, value.
    *
    * Partitioned BY SERIES up front: (metric, labels) is a subset of
    * every downstream key set in this file — the dedup's own
    * (…, t_sec) groupBy, every lag/lead window over (metric, labels),
    * and every (…, bucket) over-time aggregate — so the whole ts_*
    * family plans exactly ONE series-keyed exchange where the
    * previous shape re-shuffled between the dedup grain and the
    * window/bucket grain. Cross-series shapes (aggAcrossSeries,
    * count_values) still add their own exchange, as before. The
    * regrouping cannot change results: downstream aggregates are
    * max/min/count/arg-max or sums of 2-decimal values rounded
    * orders-of-magnitude away from any half-up midpoint. See
    * [[SeriesRead.seriesMax]] for the dedup kernel and its
    * measured trade against a partial-aggregate-first form. */
  def dedupPerSecond(samples: DataFrame): DataFrame =
    SeriesRead.seriesMax(
      samples.withColumn("t_sec", Downsample.bucketSec("ts_us", 1L)), "value")

  /** [[dedupPerSecond]] WITHOUT the series pre-partitioning — for
    * consumers whose first downstream key set is NOT series-subsumed
    * (aggAcrossSeries / countValues / quantileOverTime / absent /
    * binaryOpByLabel group across series), where the series
    * repartition is a wasted raw-row exchange: they re-shuffle on
    * their own cross-series keys immediately, so the plain partial-
    * aggregated dedup exchange is strictly cheaper (measured +0.25 s
    * per query at sf0.1 when they rode the series-keyed form). */
  def dedupPerSecondAcross(samples: DataFrame): DataFrame =
    samples
      .withColumn("t_sec", Downsample.bucketSec("ts_us", 1L))
      .groupBy(col("metric"), col("labels"), col("t_sec"))
      .agg(max(col("value")).as("value"))

  /** Per-series per-second rate between consecutive points —
    * `runningDifference(max_0) / runningDifference(t)` with the
    * negative-difference guard (README.md:127: counter reset → nan;
    * we emit NULL, which survives parquet/oracle comparison).
    * Input must be per-second deduped. Output adds `rate`. */
  def ratePerSecond(deduped: DataFrame): DataFrame = {
    val w = Window.partitionBy(seriesKey: _*).orderBy(col("t_sec"))
    deduped
      .withColumn("dv", col("value") - lag(col("value"), 1).over(w))
      .withColumn("dt", col("t_sec") - lag(col("t_sec"), 1).over(w))
      .filter(col("dt").isNotNull && col("dt") > 0)
      .withColumn("rate_e6",
        // floor-scaled integer of a double both engines compute from
        // the identical lag-diff formula — round(x,6) disagrees across
        // engines on exact 6dp midpoints (dv=0.01 over a 20000s gap)
        when(col("dv") < 0, lit(null).cast("bigint"))
          .otherwise(expr("CAST(floor(dv / CAST(dt AS DOUBLE) * 1000000 + 0.5) AS BIGINT)")))
      .select(col("metric"), labelsStr, col("t_sec"), col("value"), col("rate_e6"))
  }

  /** Bucketed per-series aggregates keyed on the labels array.
    * One shuffle on (metric, labels, bucket); map-side partials.
    * Output: metric, labels ARRAY, bucket, <aggs>. */
  def overTimeKeyed(deduped: DataFrame, intervalSec: Long, aggs: Seq[Column]): DataFrame =
    deduped
      .withColumn("bucket", expr(s"t_sec DIV $intervalSec * $intervalSec"))
      .groupBy(col("metric"), col("labels"), col("bucket"))
      .agg(aggs.head, aggs.tail: _*)

  /** overTimeKeyed with the series key flattened to labels_str (the
    * *_over_time family's oracle-facing shape). */
  def overTime(deduped: DataFrame, intervalSec: Long, aggs: Seq[Column]): DataFrame = {
    val keyed = overTimeKeyed(deduped, intervalSec, aggs)
    val rest = keyed.columns.filterNot(c => c == "metric" || c == "labels").map(col)
    keyed.select(col("metric") +: labelsStr +: rest.toSeq: _*)
  }

  /** Counter increase per bucket: last-first, clamped at 0 (PromQL
    * increase ignores decreases absent resets); delta is the raw
    * last-first for gauges. Deterministic because input is per-second
    * deduped (unique t_sec per series). */
  def increaseDelta(deduped: DataFrame, intervalSec: Long): DataFrame =
    overTime(deduped, intervalSec, Seq(
      round(greatest(max_by(col("value"), col("t_sec")) - min_by(col("value"), col("t_sec")), lit(0.0)), 6).as("increase"),
      round(max_by(col("value"), col("t_sec")) - min_by(col("value"), col("t_sec")), 6).as("delta"),
      count(lit(1)).as("n_points")))

  /** Gauge delta per bucket: raw last-first over the window (PromQL
    * `delta`), with the bucket's observed time span for context. */
  def delta(deduped: DataFrame, intervalSec: Long): DataFrame =
    overTime(deduped, intervalSec, Seq(
      round(max_by(col("value"), col("t_sec")) - min_by(col("value"), col("t_sec")), 6).as("delta"),
      (max(col("t_sec")) - min(col("t_sec"))).as("span_sec"),
      count(lit(1)).as("n_points")))

  /** Counter resets per bucket: consecutive-point decreases, counted
    * into the bucket of the LATER point. The lag spans the whole
    * series (not bucket-partitioned), so a bucket's first point is
    * compared against the previous bucket's last point — a decrease
    * across a bucket boundary counts as a reset in the later bucket.
    * The DuckDB oracle shares these semantics exactly. */
  def resets(deduped: DataFrame, intervalSec: Long): DataFrame = {
    val w = Window.partitionBy(seriesKey: _*).orderBy(col("t_sec"))
    deduped
      .withColumn("is_reset",
        when(col("value") < lag(col("value"), 1).over(w), 1L).otherwise(0L))
      .withColumn("bucket", expr(s"t_sec DIV $intervalSec * $intervalSec"))
      .groupBy(col("metric"), col("labels"), col("bucket"))
      .agg(sum(col("is_reset")).as("n_resets"), count(lit(1)).as("n_points"))
      .select(col("metric"), labelsStr, col("bucket"), col("n_resets"), col("n_points"))
  }

  /** Per-series least-squares slope per bucket (PromQL `deriv`), and
    * the `predict_linear` extrapolation `horizonSec` past the bucket's
    * last sample. x is centered on the bucket start so x² sums stay
    * well-conditioned in double (epoch-squared would not); the slope
    * formula is the explicit closed form — identical arithmetic in
    * any engine, no regr_* implementation variance. */
  def derivPredict(deduped: DataFrame, intervalSec: Long, horizonSec: Long): DataFrame =
    overTimeKeyed(
      deduped.withColumn("bucket", expr(s"t_sec DIV $intervalSec * $intervalSec"))
             .withColumn("x", (col("t_sec") - col("bucket")).cast("double")),
      intervalSec,
      Seq(count(lit(1)).cast("double").as("n"),
          sum(col("x")).as("sx"), sum(col("value")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("value")).as("sxy"),
          max(col("x")).as("x_last")))
      .withColumn("den", col("n") * col("sxx") - col("sx") * col("sx"))
      .withColumn("slope",
        when(col("den") =!= 0.0, (col("n") * col("sxy") - col("sx") * col("sy")) / col("den")))
      .withColumn("intercept",
        when(col("den") =!= 0.0, (col("sy") - col("slope") * col("sx")) / col("n")))
      .select(col("metric"), labelsStr, col("bucket"),
        // floor-scaled — the slope is a ratio of small integers, so
        // exact 6dp midpoints occur; both engines share the formula
        expr("CAST(floor(slope * 1000000 + 0.5) AS BIGINT)").as("deriv_e6"),
        expr(s"CAST(floor((slope * (x_last + ${horizonSec.toDouble}) + intercept) " +
          "* 1000000 + 0.5) AS BIGINT)").as("predicted_e6"),
        col("n").cast("long").as("n_points"))

  /** Population stddev per bucket (stddev_over_time), from explicit
    * Σv/Σv² so both engines share the formula; clamped at 0 before
    * the sqrt against tiny negative round-off. */
  def stddevOverTime(deduped: DataFrame, intervalSec: Long): DataFrame =
    overTime(deduped, intervalSec, Seq(
      sum(col("value")).as("sy"),
      sum(col("value") * col("value")).as("syy"),
      count(lit(1)).cast("double").as("n")))
      .withColumn("stddev_e6",
        expr("CAST(floor(sqrt(greatest(syy / n - (sy / n) * (sy / n), 0.0D)) " +
          "* 1000000 + 0.5) AS BIGINT)"))
      .select(col("metric"), col("labels_str"), col("bucket"),
        col("stddev_e6"), col("n").cast("long").as("n_points"))

  /** Cross-series aggregation (PromQL `sum by (metric)` /
    * `avg by (metric)` over an instant bucket): collapses the label
    * dimension entirely — the second-stage shuffle is only
    * |metrics| × |buckets| keys. */
  def aggAcrossSeries(deduped: DataFrame, intervalSec: Long): DataFrame =
    deduped
      .withColumn("bucket", expr(s"t_sec DIV $intervalSec * $intervalSec"))
      .groupBy(col("metric"), col("bucket"))
      .agg(round(sum(col("value")), 6).as("sum_value"),
           // integer-exact mean in 1e-5 units: the input values carry
           // exactly two decimals, so sum*100 snaps to an integer
           // (floor(+0.5) absorbs the ~1e-12 float error) and the
           // division is integer — engine-portable where round(avg,6)
           // is not: a power-of-2 count makes avg an exact decimal
           // MIDPOINT (961.49/32 = 30.0465625), which Spark's HALF_UP
           // and a C-style double round resolve differently
           expr("CAST(floor(sum(value) * 100 + 0.5) AS BIGINT) * 1000 DIV count(1)")
             .as("avg_value_e5"),
           count(lit(1)).as("n_points"),
           countDistinct(col("labels")).as("n_series"))

  /** Time-shifted self-comparison — PromQL's `x offset 1d` pattern
    * (the day-over-day / week-over-week dashboard query): each
    * series' bucketed value next to its own value exactly offsetSec
    * earlier, plus the delta. A RANGE window frame pinned at
    * [-offset, -offset] fetches the shifted point in the SAME pass
    * as the bucketing — no self-join, no second scan. Buckets with
    * no point exactly offset back get NULL (PromQL drops the sample;
    * NULL keeps the row countable and survives the oracle compare).
    * Values are the integer-exact 1e-5 bucket means (see
    * avg_value_e5 above).
    *
    * Scale shape: one aggregate with map-side partials + one window,
    * both keyed on the series — two exchanges, each carrying one row
    * per (series, bucket), never raw samples. */
  def offsetCompare(deduped: DataFrame, intervalSec: Long, offsetSec: Long): DataFrame = {
    val bucketed = deduped
      .withColumn("bucket", expr(s"t_sec DIV $intervalSec * $intervalSec"))
      .groupBy(col("metric"), col("labels"), col("bucket"))
      .agg(expr("CAST(floor(sum(value) * 100 + 0.5) AS BIGINT) * 1000 DIV count(1)")
        .as("avg_value_e5"))
    val w = Window.partitionBy(col("metric"), col("labels")).orderBy(col("bucket"))
      .rangeBetween(-offsetSec, -offsetSec)
    bucketed
      .withColumn("prev_value_e5", max(col("avg_value_e5")).over(w))
      .select(col("metric"), labelsStr, col("bucket"), col("avg_value_e5"),
        col("prev_value_e5"),
        (col("avg_value_e5") - col("prev_value_e5")).as("delta_e5"))
  }

  /** PromQL-style binary operation with on(<labelKey>) vector
    * matching: `sum by (key) (metricA) <op> sum by (key) (metricB)`
    * per intervalSec bucket — the "error ratio = errors / requests"
    * dashboard query. Both side sums are integer-exact 1e-2 units
    * (input values carry two decimals; floor(+0.5) absorbs float
    * noise, see avg_value_e5 above), and the ratio is the
    * floor-scaled 1e-6 integer of the exact integer quotient — NULL
    * when the denominator bucket sums to zero (PromQL emits +Inf;
    * NULL survives the parquet/oracle comparison).
    *
    * Scale shape: one aggregation per side keyed on (label, bucket)
    * with map-side partials, then a join on the same keys — each side
    * shuffles once, and AQE broadcasts the smaller side when a
    * selective metric makes it small. No pairwise series matching
    * ever materializes: matching is the equi-join. */
  def binaryOpByLabel(deduped: DataFrame, metricA: String, metricB: String,
                      labelKey: String, intervalSec: Long): DataFrame = {
    def side(m: String, out: String): DataFrame = deduped
      .filter(col("metric") === m)
      .withColumn("lbl", expr(s"get(filter(labels, l -> l LIKE '$labelKey=%'), 0)"))
      .withColumn("bucket", expr(s"t_sec DIV $intervalSec * $intervalSec"))
      .groupBy(col("lbl"), col("bucket"))
      .agg(expr("CAST(floor(sum(value) * 100 + 0.5) AS BIGINT)").as(out))
    side(metricA, "a_sum_e2").join(side(metricB, "b_sum_e2"), Seq("lbl", "bucket"))
      .select(col("lbl"), col("bucket"), col("a_sum_e2"), col("b_sum_e2"),
        when(col("b_sum_e2") === 0, lit(null).cast("bigint"))
          .otherwise(expr(
            "CAST(floor(CAST(a_sum_e2 AS DOUBLE) / CAST(b_sum_e2 AS DOUBLE) * 1000000 + 0.5) AS BIGINT)"))
          .as("ratio_e6"))
  }

  /** Top-k series per (metric, bucket) by rounded sum(value).
    * Rounding before ranking keeps the order stable across engines;
    * exact ties break on the joined labels string ascending. */
  def topK(deduped: DataFrame, intervalSec: Long, k: Int): DataFrame = {
    val bucketed = overTime(deduped, intervalSec,
      Seq(round(sum(col("value")), 6).as("sum_value")))
    val w = Window.partitionBy(col("metric"), col("bucket"))
      .orderBy(col("sum_value").desc, col("labels_str").asc)
    bucketed
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
  }

  /** Latest point per series (instant vector). Input deduped. */
  def lastPoint(deduped: DataFrame): DataFrame =
    deduped
      .groupBy(col("metric"), col("labels"))
      .agg(max(col("t_sec")).as("last_t"),
           max_by(col("value"), col("t_sec")).as("last_value"))
      .select(col("metric"), labelsStr, col("last_t"), col("last_value"))

  /** Dense per-series time grid with previous-value carry-forward
    * (staleness fill). Grid = every `intervalSec` bucket between each
    * series' first and last sample. The grid explode is linear in
    * output size and the carry is a per-series window — both scale
    * with series-count × buckets, independent of raw sample count. */
  def gapFill(deduped: DataFrame, intervalSec: Long): DataFrame = {
    // integer-exact bucket mean (1e-5 units, see aggAcrossSeries) —
    // the carried fill value must hash identically across engines
    val bucketed = overTimeKeyed(deduped, intervalSec,
      Seq(expr("CAST(floor(sum(value) * 100 + 0.5) AS BIGINT) * 1000 DIV count(1)")
        .as("avg_value")))
    val grid = bucketed
      .groupBy(col("metric"), col("labels"))
      .agg(min(col("bucket")).as("b0"), max(col("bucket")).as("b1"))
      .select(col("metric"), col("labels"),
        explode(sequence(col("b0"), col("b1"), lit(intervalSec))).as("bucket"))
    val w = Window.partitionBy(seriesKey: _*).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(bucketed, Seq("metric", "labels", "bucket"), "left")
      .withColumn("filled_value", last(col("avg_value"), ignoreNulls = true).over(w))
      .withColumn("is_gap", col("avg_value").isNull)
      .select(col("metric"), labelsStr, col("bucket"), col("filled_value"), col("is_gap"))
  }

  /** Grafana label projection (README.md:100-104):
    * `arrayFilter(x -> x LIKE 'name=%', labels)` + value scaling. */
  def labelProject(samples: DataFrame, labelPrefix: String, scale: Double): DataFrame =
    samples.select(
      col("ts_us"),
      col("metric"),
      array_join(filter(col("labels"), _.startsWith(labelPrefix)), ",").as("labels_str"),
      round(col("value") * scale, 6).as("scaled_value"))

  /** PromQL `label_replace(v, dst, "$1", src, regex)`: when `regex`
    * matches the FULL value of label `src`, (re)write label `dst`
    * from the first capture group; otherwise the series passes
    * unchanged — including when `src` is absent (PromQL matches the
    * empty string then; an absent label here leaves the row as-is,
    * the lenient reading for "k=v" label sets). A narrow per-row
    * projection: no shuffle, scales with the scan. */
  def labelReplace(samples: DataFrame, dst: String, src: String,
                   regex: String): DataFrame = {
    val anchored = "^" + regex + "$"
    // startswith over an escaped literal, not LIKE: a quote in `src`
    // must not terminate the SQL string, and LIKE's %/_ wildcards
    // must not widen the match. Offset math stays on the RAW length.
    val srcLit = src.replace("\\", "\\\\").replace("'", "\\'")
    samples
      .withColumn("src_val",
        expr(s"substring(get(filter(labels, l -> startswith(l, '$srcLit=')), 0), ${src.length + 2})"))
      .withColumn("labels2",
        when(col("src_val").isNotNull && col("src_val").rlike(anchored),
          array_sort(concat(
            filter(col("labels"), l => !l.startsWith(dst + "=")),
            array(concat(lit(dst + "="),
              regexp_extract(col("src_val"), anchored, 1))))))
          .otherwise(col("labels")))
      .select(col("ts_us"), col("metric"),
        array_join(col("labels2"), ",").as("labels_str"), col("value"))
  }

  /** PromQL `count_values`: the distribution of sample values per
    * metric — how many deduped points and distinct series carry each
    * value. Values land as exact 1e-2 integers (the inputs carry two
    * decimals). One aggregate whose cardinality is the value domain;
    * map-side partials carry the long tail. */
  def countValues(deduped: DataFrame): DataFrame =
    deduped
      .groupBy(col("metric"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("value_e2"))
      .agg(count(lit(1)).as("n_points"),
           countDistinct(col("labels")).as("n_series"))

  /** Exact bucketed quantile per metric (quantile_over_time shape,
    * aggregated across a metric's series). Exact `percentile` with
    * linear interpolation — matches DuckDB quantile_cont. */
  def quantileOverTime(deduped: DataFrame, intervalSec: Long, q: Double): DataFrame =
    deduped
      .withColumn("bucket", expr(s"t_sec DIV $intervalSec * $intervalSec"))
      .groupBy(col("metric"), col("bucket"))
      .agg(round(percentile(col("value"), lit(q)), 6).as("q_value"),
           count(lit(1)).as("n_points"))

  /** Default cumulative-bucket bounds for [[histogramQuantile]]
    * (chosen for the testdata's 0–500 value range; a real deployment
    * takes them from the histogram metric's `le` labels). */
  val DefaultLes: Seq[Double] = Seq(10.0, 25.0, 50.0, 100.0, 200.0)

  /** The piecewise-linear interpolation CASE — Prometheus's
    * histogram_quantile over cumulative bucket counts c_0..c_{n-1}
    * and a target rank `rk`: the first bucket whose cumulative count
    * reaches rk interpolates between its bounds; above the last
    * finite bucket the result clamps to its upper bound (the +Inf
    * bucket's lower edge, as Prometheus does). Plain CASE/arithmetic
    * only, so the SAME generated text runs in Spark and DuckDB —
    * bit-identical double math on both sides. */
  def hqCaseSql(les: Seq[Double]): String = {
    val arms = les.zipWithIndex.map { case (hi, i) =>
      val lo = if (i == 0) 0.0 else les(i - 1)
      val prev = if (i == 0) "0.0" else s"c_${i - 1}"
      s"WHEN c_$i >= rk THEN $lo + ($hi - $lo) * (rk - $prev) / (c_$i - $prev)"
    }
    arms.mkString("CASE ", " ", s" ELSE ${les.last} END")
  }

  /** PromQL `histogram_quantile(q, rate(..._bucket[w]))` shape over
    * the raw samples: per (metric, bucketSec window), cumulative
    * counts for the `le` bounds (one map-side-combined conditional
    * aggregate — the 100 TB shuffle carries n_les+1 doubles per
    * group), then the piecewise-linear estimate. */
  def histogramQuantile(samples: DataFrame, bucketSec: Long, q: Double,
                        les: Seq[Double] = DefaultLes): DataFrame = {
    val cnts = les.zipWithIndex.map { case (le, i) =>
      sum(when(col("value") <= le, 1).otherwise(0)).cast("double").as(s"c_$i")
    } :+ count(lit(1)).cast("double").as("total")
    samples
      .withColumn("t_sec", expr(s"ts_us DIV 1000000 DIV $bucketSec * $bucketSec"))
      .groupBy(col("metric"), col("t_sec"))
      .agg(cnts.head, cnts.tail: _*)
      .withColumn("rk", expr(s"$q * total"))
      .select(col("metric"), col("t_sec"),
        // floor-scaled integer, not round(x,6): the interpolation can
        // land on exact 6dp midpoints (width 0.25 over a 32-count
        // bucket -> 0.2578125) where the engines' round() disagree;
        // floor(x*1e6+0.5) is pure IEEE arithmetic on a double both
        // engines computed identically from this same CASE text
        expr(s"CAST(floor((${hqCaseSql(les)}) * 1000000 + 0.5) AS BIGINT)").as("q_est_e6"),
        col("total").cast("long").as("n_points"))
  }

  /** PromQL `irate`: the per-second rate between each bucket's LAST
    * TWO points — the spiky-counter instant rate, vs [[ratePerSecond]]'s
    * every-consecutive-pair form. A counter reset (last < prev) takes
    * the post-reset value as the delta, exactly Prometheus's reset
    * handling; single-point buckets emit NULL (no pair to rate).
    *
    * Scale shape: one window (row_number per series-bucket, keyed on
    * the same columns the following aggregate groups by, so the sort
    * and the agg share one exchange) + one map-side-combined
    * aggregate. The tail filter drops all but 2 rows per group before
    * the agg, so the second stage carries series × buckets rows. */
  def irate(deduped: DataFrame, intervalSec: Long): DataFrame = {
    val w = Window.partitionBy(col("metric"), col("labels"), col("bucket"))
      .orderBy(col("t_sec").desc)
    deduped
      .withColumn("bucket", expr(s"t_sec DIV $intervalSec * $intervalSec"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .groupBy(col("metric"), col("labels"), col("bucket"))
      .agg(max(col("t_sec")).as("t_last"),
           max_by(col("value"), col("t_sec")).as("v_last"),
           min(col("t_sec")).as("t_prev"),
           min_by(col("value"), col("t_sec")).as("v_prev"),
           count(lit(1)).as("n_tail_points"))
      .withColumn("irate_e6",
        when(col("n_tail_points") < 2, lit(null).cast("bigint"))
          .otherwise(expr(
            // floor-scaled like ratePerSecond: identical lag-diff
            // arithmetic in both engines, no round() midpoint hazard
            "CAST(floor((CASE WHEN v_last >= v_prev THEN v_last - v_prev ELSE v_last END) " +
            "/ CAST(t_last - t_prev AS DOUBLE) * 1000000 + 0.5) AS BIGINT)")))
      .select(col("metric"), labelsStr, col("bucket"), col("irate_e6"),
        col("n_tail_points"))
  }

  /** PromQL `changes`: how many times a series' value differed from
    * its previous point, counted into the LATER point's bucket (the
    * same cross-boundary convention as [[resets]] — a change across a
    * bucket edge belongs to the bucket that observed it). A series'
    * first point has no predecessor and counts zero. */
  def changes(deduped: DataFrame, intervalSec: Long): DataFrame = {
    val w = Window.partitionBy(seriesKey: _*).orderBy(col("t_sec"))
    deduped
      .withColumn("prev", lag(col("value"), 1).over(w))
      .withColumn("is_change",
        when(col("prev").isNotNull && col("value") =!= col("prev"), 1L).otherwise(0L))
      .withColumn("bucket", expr(s"t_sec DIV $intervalSec * $intervalSec"))
      .groupBy(col("metric"), col("labels"), col("bucket"))
      .agg(sum(col("is_change")).as("n_changes"), count(lit(1)).as("n_points"))
      .select(col("metric"), labelsStr, col("bucket"), col("n_changes"), col("n_points"))
  }

  /** PromQL `clamp` / `clamp_min` / `clamp_max` in one narrow per-row
    * projection — no shuffle, scales with the scan. The outputs are
    * either the stored double or the literal bound, so they hash
    * identically across engines with no rounding convention. */
  def clamp(deduped: DataFrame, lo: Double, hi: Double): DataFrame =
    deduped.select(col("metric"), labelsStr, col("t_sec"), col("value"),
      least(greatest(col("value"), lit(lo)), lit(hi)).as("clamped"),
      greatest(col("value"), lit(lo)).as("clamped_min"),
      least(col("value"), lit(hi)).as("clamped_max"))

  /** Bottom-k series per (metric, bucket) by rounded sum(value) —
    * [[topK]]'s mirror (PromQL `bottomk`). Same determinism contract:
    * round-before-rank, ties break on the joined labels string
    * ascending. */
  def bottomK(deduped: DataFrame, intervalSec: Long, k: Int): DataFrame = {
    val bucketed = overTime(deduped, intervalSec,
      Seq(round(sum(col("value")), 6).as("sum_value")))
    val w = Window.partitionBy(col("metric"), col("bucket"))
      .orderBy(col("sum_value").asc, col("labels_str").asc)
    bucketed
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
  }

  /** PromQL `absent_over_time` materialized over the query grid: one
    * row per (metric, bucket) for every `intervalSec` bucket covering
    * [startSec, endSec), with `absent` = true when the metric has no
    * samples there — the alerting primitive ("did this target stop
    * reporting?") a raw sample scan can't express because missing
    * data has no rows.
    *
    * Scale shape: the grid is |metrics| × |buckets| rows — built from
    * a DISTINCT over pre-aggregated metric names, independent of
    * sample count — and the present side is one map-side-combined
    * aggregate whose output is the same small cardinality, so the
    * final left join broadcasts at any raw-data scale. */
  def absentOverTime(deduped: DataFrame, intervalSec: Long,
                     startSec: Long, endSec: Long): DataFrame = {
    val b0 = startSec / intervalSec * intervalSec
    val b1 = (endSec - 1) / intervalSec * intervalSec
    // the window is a request value: bound as Params, so shifted
    // windows share generated code (see SeriesRead.timeBound)
    val spark = deduped.sparkSession
    def p(v: Long): Column = Param.column(spark, v)
    val grid = deduped.select(col("metric")).distinct()
      .select(col("metric"),
        explode(sequence(p(b0), p(b1), lit(intervalSec))).as("bucket"))
    val present = deduped
      .filter(col("t_sec") >= p(b0) && col("t_sec") < p(endSec))
      .withColumn("bucket", expr(s"t_sec DIV $intervalSec * $intervalSec"))
      .groupBy(col("metric"), col("bucket"))
      .agg(count(lit(1)).as("n_points"))
    grid.join(present, Seq("metric", "bucket"), "left")
      .select(col("metric"), col("bucket"),
        col("n_points").isNull.as("absent"),
        coalesce(col("n_points"), lit(0L)).as("n_points"))
  }
}
