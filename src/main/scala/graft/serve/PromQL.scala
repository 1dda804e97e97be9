package graft.serve

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

import graft.OpsMetrics
import graft.functions.Param
import graft.ingest.RollupStore
import graft.operators.{LabelMatcher, Matchers, MatcherType, SeriesRead}

/** A small PromQL evaluator over the samples store — the layer the
  * reference never had: it serves remote-read and leaves all query
  * evaluation to the Prometheus in front of it (reference:
  * main.go:55-74 only decodes prompb), so a user needs a whole
  * Prometheus server just to chart. graft already owns the
  * oracle-proven range operators (graft.operators.RangeOps) and the
  * selector parser (Matchers.parseSelector); this module wires a
  * whitelisted expression grammar over the same primitives so Grafana
  * can talk to graft directly via `/api/v1/query_range`.
  *
  * Grammar (whitelist — anything else answers 400). Operator
  * precedence is Prometheus's, loosest first:
  *   expr     := andExpr {"or" [matching] andExpr}
  *   andExpr  := cmpExpr {("and"|"unless") [matching] cmpExpr}
  *   cmpExpr  := addExpr {("=="|"!="|"<="|"<"|">="|">") ["bool"]
  *               [matching] addExpr}
  *   addExpr  := mulExpr {("+"|"-") [matching] mulExpr}
  *   mulExpr  := powExpr {("*"|"/"|"%"|"atan2") [matching] powExpr}
  *   powExpr  := term ["^" powExpr]   (right-assoc; literal scalar
  *               exponent — [0,8] integers chain multiplies (PowInt),
  *               everything else rides exp(y·ln x) (PowFrac))
  *   matching := ("on"|"ignoring") "(" names ")"
  *               [("group_left"|"group_right") ["(" names ")"]]
  *               (group_* on arithmetic/comparisons only)
  *   term     := agg | countv | rank | rangecall | subquery | histq
  *             | predict | holt | absent | tstamp | mathfn | labelfn
  *             | "time" "()" | "vector" "(" num ")"
  *             | "scalar" "(" expr ")" | selector | number
  *             | "(" expr ")"
  *   agg      := op [grouping] "(" [φ ","] expr ")" [grouping]
  *               op ∈ sum avg min max count group quantile(φ)
  *                    stddev stdvar (population, clamped moments)
  *   countv   := "count_values" [grouping] "(" str "," expr ")" [grouping]
  *   grouping := ("by"|"without") "(" names ")"
  *   rank     := ("topk"|"bottomk") [grouping] "(" int "," expr ")"
  *               [grouping]    (grouping scopes the ranking)
  *   limit    := "limitk" [grouping] "(" int "," expr ")" [grouping]
  *             | "limit_ratio" "(" r "," expr ")"   r ∈ [-1, 1]
  *               (deterministic: identity order / identity hash —
  *                see LimitK/LimitRatio)
  *   quantile := "quantile_over_time" "(" φ "," selector "[" dur "]" [offset] ")"
  *   rangecall:= fn "(" selector "[" dur "]" [mods] ")"
  *               fn ∈ rate irate increase delta idelta deriv changes
  *                    resets avg_over_time min_over_time max_over_time
  *                    sum_over_time count_over_time last_over_time
  *                    stddev_over_time stdvar_over_time
  *                    present_over_time mad_over_time
  *   subquery := fn "(" expr "[" dur ":" dur "]" [mods] ")"
  *               fn ∈ sum/avg/min/max/count/last_over_time
  *                    rate increase delta  (inner first/last points)
  *   histq    := "histogram_quantile" "(" φ "," expr ")"
  *             | "histogram_fraction" "(" lo "," hi "," expr ")"
  *             | ("histogram_count"|"histogram_sum"|"histogram_avg")
  *               "(" expr ")"   (desugars onto _count/_sum series)
  *             | ("histogram_stddev"|"histogram_stdvar") "(" expr ")"
  *               (geometric-midpoint estimator over the classic
  *                buckets — see HistStd)
  *   predict  := "predict_linear" "(" selector "[" dur "]" [offset] "," num ")"
  *   holt     := ("holt_winters"|"double_exponential_smoothing")
  *               "(" selector "[" dur "]" [offset] "," sf "," tf ")"
  *   absent   := "absent_over_time" "(" selector "[" dur "]" [offset] ")"
  *             | "absent" "(" selector [offset] ")"
  *   tstamp   := "timestamp" "(" selector [offset] ")"
  *   mathfn   := fn "(" expr ["," num]* ")"
  *               fn ∈ abs ceil floor sgn sqrt round(v[,n])
  *                    clamp(v,lo,hi) clamp_min(v,lo) clamp_max(v,hi)
  *                    ln log2 log10 exp  (digit-extraction portable —
  *                      see mathProject)
  *                    sin cos tan asin acos atan  (CORDIC — see
  *                      trigProject) sinh cosh tanh asinh acosh atanh
  *                      (exp/ln-fold identities) deg rad
  *                    hour minute day_of_week day_of_month day_of_year
  *                    month year days_in_month  (empty arg = time())
  *             | "pi" "(" ")"   (scalar constant)
  *   sortfn   := ("sort"|"sort_desc") "(" expr ")"   (values pass
  *               through; materializes a per-step deterministic
  *               ORDER BY value with identity tiebreak — see Sort)
  *             | ("sort_by_label"|"sort_by_label_desc")
  *               "(" expr {"," str}+ ")"   (ORDER BY label values,
  *               natural order — see SortByLabel)
  *   labelfn  := "label_replace" "(" expr "," str "," str "," str "," str ")"
  *             | "label_join" "(" expr "," str "," str {"," str} ")"
  *   infofn   := "info" "(" expr ["," "{" matchers "}"] ")"
  *               (adopt target_info data labels by instance/job
  *               identity — see Info)
  *   selector := PromQL instant-vector selector (Matchers.parseSelector)
  *               [mods]
  *               matchers evaluate with Prometheus ENGINE semantics
  *               (Matchers.compilePromQL): =~/!~ anchor ^(?:re)$ on
  *               the label VALUE; matchers accepting "" match series
  *               lacking the label
  *   mods     := [offset] [@ (num|"start()"|"end()")]  (either order)
  *   offset   := "offset" ["-"] dur  (back by dur; a negative offset
  *                                    shifts FORWARD — Prometheus 3.x
  *                                    default-on behavior)
  *   dur      := (\d+ [smhdw])+ | \d+   (seconds resolution)
  *
  * Transcendentals (ln/log2/log10/exp) do NOT call libm — libm is
  * not correctly-rounded, so two engines can disagree in the last
  * ulp. Instead they run a digit-extraction algorithm built ONLY
  * from operations IEEE 754 specifies exactly (multiply, divide by
  * a power of two, sqrt, compare), so Spark and any oracle engine
  * compute bit-identical results by construction — see mathProject.
  * `^` accepts any literal exponent: [0,8] integers as a
  * rounded-multiply chain, the rest as exp(y·ln x) over the
  * deterministic digit folds (negative base + fractional exponent
  * drops — the documented NaN deviation).
  * `%` is the exact truncated (dividend-sign) remainder on the
  * micro-unit integers — Go math.Mod's convention on values both
  * engines hold exactly.
  *
  * Binary operators: + - * / % ^(int) and the atan2 keyword
  * operator (Go quadrant conventions over the CORDIC vectoring
  * fold — bit-portable like the rest of the trig surface).
  * Binary arithmetic: vector∘scalar is a per-row projection;
  * vector∘vector matches series on their FULL label sets (the
  * Prometheus default, __name__ excluded) via an equi-join on
  * (labels, step) — series missing on either side drop, a zero
  * divisor drops its row (Prometheus emits +Inf; a dropped sample
  * survives the exact integer value model, an Inf cannot). Selectors
  * spanning several metrics should pre-aggregate (`sum by (...)`)
  * first — unaggregated cross-metric matches multiply through the
  * join where Prometheus would error on many-to-many. Scalar∘scalar
  * folds at parse time, and a scalar-only query answers as Prometheus
  * does: resultType "scalar" on /api/v1/query (Grafana's `1+1`
  * datasource health probe), a constant {}-labeled series on
  * query_range.
  *
  * Comparison operators (== != < <= > >=) are Prometheus filters:
  * vector∘scalar keeps the rows (and the metric name) where the
  * predicate holds; vector∘vector matches on the full label set and
  * keeps the LEFT side's passing rows. With `bool` the value becomes
  * 1/0 per (matched) element and the metric name drops, like every
  * value-transforming op. Scalar∘scalar comparisons require `bool`
  * (Prometheus's rule) and fold at parse time.
  *
  * Set operators match on the full label set per step (__name__
  * excluded): `and` keeps left rows with a match on the right
  * (semi join), `unless` keeps left rows without one (anti join),
  * `or` is left plus the right rows whose label set is absent from
  * the left at that step — all three preserve each side's values
  * and metric names, as Prometheus does.
  *
  * Evaluation semantics (documented deviations from Prometheus, all
  * chosen so the distributed plan is exact and engine-portable):
  *  - The grid is t = start + k·step, 0 ≤ k, t ≤ end — Prometheus's.
  *  - Range windows are LEFT-CLOSED [t-d, t), not (t-d, t]: aligned
  *    windows then tile exactly onto the store's bucket convention
  *    (`t DIV interval`), which is what lets a coarse
  *    `sum_over_time` query serve from the ROLLUP twin byte-exactly
  *    (see [[rangeFromRollup]]). Instant-selector lookback keeps the
  *    Prometheus form (t-L, t] — "the latest sample at or before t".
  *  - `rate` is the observed-span rate (Δv / (t_last - t_first), ≥2
  *    points), the engine's runningDifference semantics
  *    (README.md:124-140) — no Prometheus boundary extrapolation. A
  *    window whose Δv is negative (counter reset) yields no sample,
  *    like the read path's negative-difference guard.
  *  - Values are exact integer MICRO-units end-to-end (`v_e6`
  *    BIGINT): inputs carry two decimals, so sums snap to 1e-2
  *    integers (floor(x·100+0.5) absorbs float noise) and every
  *    ratio is rounded half-up in pure integer arithmetic
  *    ([[halfUpSql]]) — bit-identical in any engine, no float-sum
  *    order dependence anywhere in the tree. The HTTP layer formats
  *    v_e6 back to decimal text; µ precision is far inside any
  *    dashboard's needs.
  *
  * Scale shape: no joins anywhere. Each leaf is one pushed-down scan
  * (time bounds + metric equality reach parquet via
  * SeriesRead.timeBound), a per-second dedup, then an explode of each
  * sample onto the ≤ d/step grid steps whose window holds it — the
  * overlap amplification Prometheus pays per-step, paid once as rows
  * that partial-aggregate map-side before the single (series, t)
  * shuffle. Aggregation/rank nodes reuse the same keys. A coarse
  * aligned *_over_time goes to the rollup instead: O(rollup rows)
  * with the same output.
  *
  * Request values are parameters: `start`, `end`, and every bound
  * and grid origin derived from them reach the plan as
  * [[graft.functions.Param]]s, never as literals, so a dashboard
  * refresh (the same expression on a shifted window) generates
  * byte-identical code and Spark's codegen cache serves it with no
  * compile. Values that come from the expression text — range,
  * offset, lookback and the step constants — stay literals (an `@`
  * timestamp pins its child's window, which then binds like any).
  * The sites: [[SeriesRead.timeBound]] (every selector's scan, which
  * keeps an hour-rounded literal twin for parquet pushdown),
  * [[onGrid]], [[stepGrid]] and [[rangeFromRollup]].
  */
object PromQL {

  /** Prometheus's instant-vector staleness lookback: a selector at t
    * answers the latest sample in (t-L, t]. */
  val DefaultLookbackSec = 300L

  // ---- AST --------------------------------------------------------

  sealed trait Expr extends Product
  /** Bare selector: instant vector at each grid step (shifted back
    * `offsetSec` — PromQL's `offset` modifier). */
  final case class Instant(matchers: Seq[LabelMatcher],
                           offsetSec: Long = 0L) extends Expr
  /** fn(selector[d] [offset o]) over window [t-o-d, t-o) at each
    * grid step. */
  final case class RangeCall(fn: String, matchers: Seq[LabelMatcher],
                             rangeSec: Long, offsetSec: Long = 0L) extends Expr
  /** op by (keys) (child); empty keys + without=false = aggregate
    * everything; without=true drops `keys` (and __name__) instead of
    * keeping them. `param` carries quantile's φ. */
  final case class Agg(op: String, by: Seq[String], child: Expr,
                       without: Boolean = false,
                       param: Option[Double] = None) extends Expr
  /** topk/bottomk(k, child) per grid step. */
  final case class Rank(bottom: Boolean, k: Int, child: Expr,
                        by: Seq[String] = Nil,
                        without: Boolean = false) extends Expr
  /** left op right — vector∘vector (full-label-set matching by
    * default, or per `matching`) or vector∘scalar when either side
    * is [[ScalarLit]]. */
  final case class Binary(op: Char, left: Expr, right: Expr,
                          matching: Option[Matching] = None) extends Expr
  /** Vector-matching modifier on a binary/comparison/set operator:
    * `on (keys)` joins on exactly those labels, `ignoring (keys)` on
    * all labels minus them. card 0 = one-to-one (output carries the
    * matching labels only), 1 = group_left, 2 = group_right (the
    * "many" side's full labels survive, plus any `include` labels
    * copied over from the "one" side). */
  final case class Matching(on: Boolean, keys: Seq[String],
                            card: Int = 0, include: Seq[String] = Nil)
  /** Comparison filter (== != < <= > >=); `bool` → 1/0 values. */
  final case class Cmp(op: String, bool: Boolean,
                       left: Expr, right: Expr,
                       matching: Option[Matching] = None) extends Expr
  /** and | or | unless on full label sets per step. */
  final case class SetOp(op: String, left: Expr, right: Expr,
                         matching: Option[Matching] = None) extends Expr
  /** Per-row math over any vector: abs ceil floor sgn round clamp
    * clamp_min clamp_max; `args` holds the trailing scalar
    * arguments (round's to_nearest, clamp's bounds). */
  final case class MathFn(fn: String, child: Expr,
                          args: Seq[Double] = Nil) extends Expr
  /** predict_linear(sel[d] [offset], horizonSec): least-squares
    * extrapolation of each window to t + horizon. */
  final case class Predict(matchers: Seq[LabelMatcher], rangeSec: Long,
                           horizonSec: Long, offsetSec: Long = 0L) extends Expr
  /** absent_over_time(sel[d] [offset]): 1 at grid steps whose window
    * holds no sample, labeled from the selector's = matchers. */
  final case class Absent(matchers: Seq[LabelMatcher], rangeSec: Long,
                          offsetSec: Long = 0L) extends Expr
  /** absent(sel [offset]): the instant-vector form — 1 at grid steps
    * where the lookback finds no sample. */
  final case class AbsentI(matchers: Seq[LabelMatcher],
                           offsetSec: Long = 0L) extends Expr
  /** label_join(child, dst, sep, srcs…): dst = the source labels'
    * values joined by sep (missing = ""); an empty result removes
    * dst. */
  final case class LabelJoin(child: Expr, dst: String, sep: String,
                             srcs: Seq[String]) extends Expr
  /** histogram_quantile(φ, child): piecewise-linear quantile estimate
    * over the child's cumulative `le`-labeled bucket series. */
  final case class HistQ(q: Double, child: Expr) extends Expr
  /** histogram_fraction(lo, hi, child) — graft extension over the
    * same CLASSIC cumulative buckets (Prometheus ships it for native
    * histograms only): the estimated fraction of observations in
    * (lo, hi], by the piecewise-linear model [[HistQ]] inverts. */
  final case class HistFrac(lo: Double, hi: Double, child: Expr) extends Expr
  /** histogram_stddev/stdvar (Prometheus 3.x native accessors),
    * served over the converted classic cumulative buckets: per
    * bucket the geometric-midpoint value Prometheus's native
    * estimator uses (sqrt(lower·upper), 0 when the bucket spans
    * zero, sign from a negative upper bound; the FIRST finite
    * bucket's lower bound is 0, the +Inf bucket collapses to the top
    * finite bound — both documented conventions of the classic
    * form), mean = _sum/_count, variance = Σ cnt·(val−mean)²/count
    * as a le-SORTED fold (no Kahan — the deterministic spec). The
    * _bucket/_sum/_count legs desugar from `child` at eval time
    * (selector-name rewrites like histogram_count/sum, validated at
    * parse), so CSE shares them with sibling terms and format stays
    * a fixpoint on the sugar. */
  final case class HistStd(dev: Boolean, child: Expr) extends Expr
  /** fn(child[d:res] [offset]): a subquery — the child evaluated on
    * the absolute res-aligned grid, then fn aggregated over each
    * outer window [t-d, t). */
  final case class Subquery(fn: String, child: Expr, rangeSec: Long,
                            resSec: Long, offsetSec: Long = 0L) extends Expr
  /** label_replace(child, dst, replacement, src, regex): where regex
    * matches src's ENTIRE value, dst becomes the replacement (with
    * capture groups); an empty result removes dst; unmatched rows
    * pass through untouched. */
  final case class LabelReplace(child: Expr, dst: String, replacement: String,
                                src: String, regex: String) extends Expr
  /** quantile_over_time(φ, selector[d] [offset o]): the exact
    * interpolated per-window quantile. */
  final case class Quantile(q: Double, matchers: Seq[LabelMatcher],
                            rangeSec: Long, offsetSec: Long = 0L) extends Expr
  /** A number literal — only legal as one side of a [[Binary]]. */
  final case class ScalarLit(v: Double) extends Expr
  /** time(): the evaluation timestamp — a per-step scalar. In binary
    * arithmetic it projects onto the other side per row; standalone
    * it answers the {}-labeled grid series (t, t). */
  case object TimeFn extends Expr
  /** vector(s): the constant scalar as a {}-labeled instant vector on
    * every grid step — the `sum(x) or vector(0)` fallback idiom. */
  final case class VectorLit(v: Double) extends Expr
  /** timestamp(sel [offset]): each series' latest-sample TIME (epoch
    * seconds) as the value, per step — `time() - timestamp(sel)` is
    * the true staleness age. */
  final case class TimestampOf(matchers: Seq[LabelMatcher],
                               offsetSec: Long = 0L) extends Expr
  /** holt_winters(sel[d], sf, tf) (v3: double_exponential_smoothing):
    * per-window double exponential smoothing — level sf, trend tf. */
  final case class HoltWinters(matchers: Seq[LabelMatcher], rangeSec: Long,
                               sf: Double, tf: Double,
                               offsetSec: Long = 0L) extends Expr
  /** child @ tsSec: the child evaluated once at the fixed timestamp,
    * replicated across every grid step (Prometheus's `@` modifier —
    * the fixed-baseline comparison idiom). */
  final case class At(tsSec: Long, child: Expr) extends Expr
  /** child @ start() / @ end(): [[At]] with the query range's own
    * edge as the pinned instant, resolved at evaluation time. */
  final case class AtEdge(atStart: Boolean, child: Expr) extends Expr
  /** count_values [by/without] ("dst", child): count the series
    * sharing each exact value per group and step; the value's decimal
    * text (the formatE6 form) becomes the `dst` label. */
  final case class CountValues(dst: String, child: Expr, by: Seq[String],
                               without: Boolean) extends Expr
  /** scalar(child): the child's single series as a per-step scalar;
    * steps where the child has ≠ 1 series emit nothing (Prometheus
    * answers NaN there — a dropped step is the exact-integer model's
    * NaN). In binary arithmetic it projects per step onto the other
    * side's rows regardless of labels. */
  final case class ScalarOf(child: Expr) extends Expr
  /** child ^ n (literal integer exponent 0..8): x^n as a per-row
    * chain of the `*` operator's rounded double multiplies — each
    * step re-snaps to the micro-unit lattice, so the chain is
    * bit-identical in any IEEE engine. Fractional exponents are
    * rejected at parse time (libm pow is not correctly rounded). */
  final case class PowInt(child: Expr, n: Int) extends Expr
  /** child ^ y for a literal exponent OUTSIDE PowInt's fast path
    * (fractional, negative, or > 8): x^y = exp(y·ln x) composed from
    * the deterministic digit folds — bit-portable like ln/exp
    * themselves. Negative bases keep their sign by parity when y is
    * an integer; a negative base with a fractional exponent DROPS
    * (Prometheus answers NaN — the sqrt-convention deviation). */
  final case class PowFrac(child: Expr, y: Double) extends Expr
  /** limitk(k, expr): at most k series per step. DETERMINISTIC
    * deviation from Prometheus (which samples randomly): the k first
    * series by (metric, joined-labels) order — stable across runs,
    * engines, and partitionings, which random sampling can never be
    * in a distributed exact-compare setting. */
  final case class LimitK(k: Int, child: Expr,
                          by: Seq[String] = Nil,
                          without: Boolean = false) extends Expr
  /** limit_ratio(r, expr): a deterministic ~|r| fraction of series,
    * chosen by a portable series-identity hash so a series is
    * consistently in or out across every step. r ≥ 0 keeps the
    * bucket band [0, r); r < 0 keeps [1+r, 1) — so limit_ratio(0.7)
    * and limit_ratio(-0.3) partition the series set exactly,
    * Prometheus's pairing convention. */
  final case class LimitRatio(r: Double, child: Expr) extends Expr
  /** sort(expr) / sort_desc(expr): values and labels pass through
    * untouched; the result plan materializes a per-step ORDER BY
    * value (asc/desc) with the limitk-style identity tiebreak
    * (metric, joined labels) so the serving layer's collect returns
    * a deterministic presentation order — Prometheus's table-panel
    * contract. Prometheus applies sort only to instant queries and
    * re-sorts range results by series; here the ordering is
    * (t, value, identity), which agrees on instant queries and is
    * harmless on ranges. One bounded exchange at the serving
    * boundary (result cardinality, not sample cardinality). */
  final case class Sort(desc: Boolean, child: Expr) extends Expr
  /** sort_by_label(expr, "lbl", ...) / sort_by_label_desc:
    * Prometheus's (experimental-flag) table ordering by label VALUES
    * — values/labels pass through, the plan materializes ORDER BY
    * the listed labels' values (missing label sorts as ""), then the
    * full identity tiebreak. Same presentation contract as [[Sort]].
    * Ordering is NATURAL (Prometheus natsort parity): digit runs
    * compare numerically ("a2" before "a10"), via a portable
    * pad-digit-runs sort key — values whose digit runs tie
    * numerically but differ textually ("07" vs "7") fall to the
    * identity tiebreak; digit runs past 19 chars truncate. */
  final case class SortByLabel(desc: Boolean, child: Expr,
                               labels: Seq[String]) extends Expr
  /** info(v[, {data-label-selector}]) — Prometheus 3.x's
    * (experimental) info function: each series of v adopts the data
    * labels of the `target_info` series sharing its identifying
    * labels (instance, job) at that step, through the normal
    * staleness lookback. A selector filters which info series match
    * AND restricts the adopted labels to the keys it names. Series
    * with no matching info series pass through unchanged; a data
    * label whose key v already carries is skipped (v wins); if two
    * info series share an identity at a step, the lexicographically
    * greatest data-label set wins (deterministic where Prometheus
    * errors — documented deviation). */
  final case class Info(child: Expr, sel: Seq[LabelMatcher]) extends Expr

  val RangeFns: Set[String] = Set("rate", "increase", "delta",
    "avg_over_time", "min_over_time", "max_over_time", "sum_over_time",
    "count_over_time", "last_over_time", "stddev_over_time",
    "stdvar_over_time", "present_over_time", "mad_over_time",
    "irate", "idelta", "deriv", "changes", "resets",
    // Prometheus 3.x experimental: the window's earliest sample and
    // the timestamps (as values, in seconds) of the first / last /
    // greatest / least samples — value ties resolve to the LATEST
    // sample, Prometheus's `>=`/`<=` scan order
    // (promql/functions.go funcTsOfMaxOverTime)
    "first_over_time", "ts_of_first_over_time",
    "ts_of_last_over_time", "ts_of_max_over_time", "ts_of_min_over_time")
  /** The RangeFns subset needing each point's PREDECESSOR (a
    * per-series lag), not just decomposable window partials. */
  val PairFns: Set[String] = Set("irate", "idelta", "changes", "resets")
  val AggOps: Set[String] = Set("sum", "avg", "min", "max", "count",
    "group", "quantile", "stddev", "stdvar")
  /** The RangeFns subset valid over a subquery — the ones whose
    * aggregation is exact on the inner vector's integer values
    * (rate/increase/delta read the inner first/last points — exact
    * µ-integers; like the raw path, no extrapolation). */
  val SubFns: Set[String] = Set("sum_over_time", "avg_over_time",
    "min_over_time", "max_over_time", "count_over_time", "last_over_time",
    "rate", "increase", "delta",
    // first/ts_of_*: selections / argmax over the inner vector's
    // exact µ-integers — pure comparisons, no arithmetic, so exact
    "first_over_time", "ts_of_first_over_time",
    "ts_of_last_over_time", "ts_of_max_over_time", "ts_of_min_over_time")
  val MathFns: Set[String] = Set("abs", "ceil", "floor", "sgn", "round",
    "clamp", "clamp_min", "clamp_max", "sqrt",
    "ln", "log2", "log10", "exp",
    "sin", "cos", "tan", "asin", "acos", "atan",
    "sinh", "cosh", "tanh", "asinh", "acosh", "atanh", "deg", "rad",
    "hour", "minute", "day_of_week", "day_of_month", "day_of_year",
    "month", "year", "days_in_month")
  /** The MathFns subset reading the value as an epoch timestamp,
    * with an empty argument list defaulting to time(). */
  val CalendarFns: Set[String] = Set("hour", "minute", "day_of_week",
    "day_of_month", "day_of_year", "month", "year", "days_in_month")
  /** The range-fn subset a fresh aligned rollup can answer: the
    * decomposable *_over_time family from the (sum, min, max, n)
    * partials, plus rate/increase/delta/last_over_time from the
    * schema-v2 bucket EDGE points (window first = earliest bucket's
    * first sample, last = latest bucket's last — the raw path's very
    * samples, so the re-aggregation is exact, not approximate), plus
    * irate/idelta from the schema-v3 PENULTIMATE points: a window's
    * final two samples are always among the union of each bucket's
    * last two (latest = latest bucket's last; runner-up = that
    * bucket's penultimate, or the previous non-empty bucket's last),
    * so the exact pair reassembles from rollup rows. */
  private val RollupServable: Set[String] = Set("sum_over_time",
    "min_over_time", "max_over_time", "count_over_time", "avg_over_time",
    "last_over_time", "rate", "increase", "delta", "irate", "idelta",
    "stddev_over_time", "stdvar_over_time", "present_over_time",
    // first/ts_of_first ride the same v2 edge points as rate (window
    // first = earliest bucket's first sample); schema-v5 argmax
    // timestamps: a window's ts_of_max is the argmax over buckets of
    // (bucket max, its timestamp) — pure comparisons on the very
    // same deduped values the raw path compares, so exact
    "first_over_time", "ts_of_first_over_time",
    "ts_of_last_over_time", "ts_of_max_over_time", "ts_of_min_over_time")

  // ---- Parser -----------------------------------------------------

  /** Parse a whitelisted PromQL expression; Left(message) → HTTP 400.
    * A scalar-only input parses to [[ScalarLit]] (folded): the HTTP
    * layer answers it directly ([[eval]] rejects it — a scalar is not
    * a vector plan). */
  def parse(input: String): Either[String, Expr] = {
    val p = new Parser(input)
    p.expr().flatMap { e =>
      p.ws()
      if (!p.atEnd) Left(s"unexpected trailing input at '${p.rest.take(20)}'")
      else Right(e)
    }
  }

  private final class Parser(s: String) {
    private var i = 0
    def atEnd: Boolean = i >= s.length
    def rest: String = s.substring(math.min(i, s.length))
    def ws(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1

    private def isIdentStart(c: Char) = c.isLetter || c == '_' || c == ':'
    private def isIdentChar(c: Char) = c.isLetterOrDigit || c == '_' || c == ':'

    private def peekIdent(): Option[String] = {
      ws()
      if (i < s.length && isIdentStart(s.charAt(i))) {
        var j = i + 1
        while (j < s.length && isIdentChar(s.charAt(j))) j += 1
        Some(s.substring(i, j))
      } else None
    }
    private def takeIdent(): Option[String] =
      peekIdent().map { id => i += id.length; id }

    private def eat(c: Char): Either[String, Unit] = {
      ws()
      if (i < s.length && s.charAt(i) == c) { i += 1; Right(()) }
      else Left(s"expected '$c' at '${rest.take(20)}'")
    }

    private def peekChar: Option[Char] = { ws(); if (atEnd) None else Some(s.charAt(i)) }

    /** Prometheus's precedence ladder, loosest first: or < and/unless
      * < comparisons < +- < * /. Each level is a left-associative
      * chain over the next. Scalar∘scalar arithmetic folds at parse
      * time (Grafana's `1+1` health probe arrives here); a
      * scalar-only RESULT is legal — the endpoints answer it as
      * Prometheus's scalar/constant-series forms. */
    def expr(): Either[String, Expr] = orExpr()

    private def peekKeyword(kws: Set[String]): Option[String] = {
      val save = i
      ws()
      val k = peekIdent().filter(kws)
      if (k.isEmpty) i = save
      k
    }

    private def orExpr(): Either[String, Expr] =
      chainKw(andExpr, Set("or")) { (op, m, l, r) =>
        (l, r) match {
          case (ScalarLit(_), _) | (_, ScalarLit(_)) =>
            Left(s"set operator '$op' requires two vectors")
          case _ => Right(SetOp(op, l, r, m))
        }
      }

    private def andExpr(): Either[String, Expr] =
      chainKw(cmpExpr, Set("and", "unless")) { (op, m, l, r) =>
        (l, r) match {
          case (ScalarLit(_), _) | (_, ScalarLit(_)) =>
            Left(s"set operator '$op' requires two vectors")
          case _ => Right(SetOp(op, l, r, m))
        }
      }

    private def chainKw(next: () => Either[String, Expr], kws: Set[String])(
        mk: (String, Option[Matching], Expr, Expr) => Either[String, Expr])
        : Either[String, Expr] = {
      def loop(left: Expr): Either[String, Expr] =
        peekKeyword(kws) match {
          case Some(op) =>
            i += op.length
            for {
              m <- matchingClause(allowGroup = false)
              r <- next()
              e <- mk(op, m, left, r)
              out <- loop(e)
            } yield out
          case None => Right(left)
        }
      next().flatMap(loop)
    }

    /** Optional `on (keys)` / `ignoring (keys)`, then (where legal)
      * `group_left` / `group_right` with an optional include list. */
    private def matchingClause(allowGroup: Boolean)
        : Either[String, Option[Matching]] =
      peekKeyword(Set("on", "ignoring")) match {
        case None => Right(None)
        case Some(kw) =>
          i += kw.length
          for {
            _ <- eat('(')
            keys <- identList()
            _ <- eat(')')
            m <- peekKeyword(Set("group_left", "group_right")) match {
              case None => Right(Matching(kw == "on", keys))
              case Some(g) if !allowGroup =>
                Left(s"$g is not allowed on set operators")
              case Some(g) =>
                i += g.length
                val card = if (g == "group_left") 1 else 2
                val save2 = i
                ws()
                if (peekChar.contains('(')) {
                  i += 1
                  for { inc <- identList(); _ <- eat(')') }
                    yield Matching(kw == "on", keys, card, inc)
                } else { i = save2; Right(Matching(kw == "on", keys, card)) }
            }
          } yield Some(m)
      }

    private val CmpOps = Seq("==", "!=", "<=", ">=", "<", ">")

    /** Whether `e` is scalar-typed in Prometheus's type system: a
      * literal, `time()`, `scalar(x)`, or arithmetic or a `bool`
      * comparison over those. */
    private def scalarTyped(e: Expr): Boolean = e match {
      case ScalarLit(_) | TimeFn | ScalarOf(_) => true
      case Binary(_, l, r, _) => scalarTyped(l) && scalarTyped(r)
      case Cmp(_, true, l, r, None) => scalarTyped(l) && scalarTyped(r)
      case PowInt(c, _) => scalarTyped(c)
      case PowFrac(c, _) => scalarTyped(c)
      case _ => false
    }

    private def cmpExpr(): Either[String, Expr] = {
      def peekCmp(): Option[String] = {
        ws()
        CmpOps.find(op => s.startsWith(op, i))
      }
      def loop(left: Expr): Either[String, Expr] =
        peekCmp() match {
          case Some(op) =>
            i += op.length
            val bool = peekKeyword(Set("bool")).exists { k => i += k.length; true }
            matchingClause(allowGroup = true).flatMap { m =>
              addExpr().flatMap { right =>
                (left, right, m) match {
                  case _ if !bool && scalarTyped(left) && scalarTyped(right) =>
                    Left("comparisons between scalars must use the bool modifier")
                  case (ScalarLit(a), ScalarLit(b), None) =>
                    val ok = op match {
                      case "==" => a == b case "!=" => a != b
                      case "<" => a < b case "<=" => a <= b
                      case ">" => a > b case ">=" => a >= b
                    }
                    loop(ScalarLit(if (ok) 1.0 else 0.0))
                  case (ScalarLit(_), _, Some(_)) | (_, ScalarLit(_), Some(_)) =>
                    Left("vector matching requires two vectors")
                  case _ => loop(Cmp(op, bool, left, right, m))
                }
              }
            }
          case None => Right(left)
        }
      addExpr().flatMap(loop)
    }

    private def addExpr(): Either[String, Expr] = arith(mulExpr, "+-")
    private def mulExpr(): Either[String, Expr] =
      arith(powExpr, "*/%", Seq("atan2" -> 'A'))

    /** `^` binds tighter than * / % and associates RIGHT, like
      * Prometheus. Literal integer exponents in [0, 8] evaluate as a
      * chain of correctly-rounded double multiplies ([[PowInt]]);
      * every other literal exponent — fractional, negative, > 8 —
      * compiles to exp(y·ln x) over the deterministic digit folds
      * ([[PowFrac]]), never libm pow (not correctly rounded —
      * engines disagree in the last ulp). */
    private def powExpr(): Either[String, Expr] =
      term().flatMap { base =>
        ws()
        if (!atEnd && s.charAt(i) == '^') {
          i += 1
          powExpr().flatMap {
            case ScalarLit(n) if n == math.floor(n) && n >= 0 && n <= 8 =>
              base match {
                case ScalarLit(a) => Right(ScalarLit(math.pow(a, n)))
                case _            => Right(PowInt(base, n.toInt))
              }
            case ScalarLit(y) =>
              base match {
                case ScalarLit(a) =>
                  // folded ONCE on the driver through the SAME digit
                  // folds the column path runs — no libm shortcut
                  powScalarFold(a, y).map(v => ScalarLit(v)).toRight(
                    "scalar ^ outside the portable domain " +
                      "(non-positive base or overflow)")
                case _ => Right(PowFrac(base, y))
              }
            case _ => Left("^ needs a literal scalar exponent")
          }
        } else Right(base)
      }

    private def arith(next: () => Either[String, Expr],
                      ops: String,
                      kwOps: Seq[(String, Char)] = Nil): Either[String, Expr] = {
      def loop(left: Expr): Either[String, Expr] = {
        ws()
        val kwHit =
          if (atEnd) None
          else kwOps.collectFirst {
            case (kw, c) if peekIdent().contains(kw) => (kw, c)
          }
        if (kwHit.isDefined) {
          val (kw, op) = kwHit.get; i += kw.length
          matchingClause(allowGroup = true).flatMap { m =>
            next().flatMap { right =>
              (left, right, m) match {
                case (ScalarLit(a), ScalarLit(b), None) =>
                  // folded ONCE on the driver THROUGH THE SAME CORDIC
                  // vectoring fold the column path runs — identical
                  // in every bit to the vector-shaped evaluation, not
                  // just to the last µ-rounding (libm math.atan2 can
                  // differ from the fold one pre-rounding ulp)
                  loop(ScalarLit(atan2Fold(a, b)))
                case (ScalarLit(_), _, Some(_)) | (_, ScalarLit(_), Some(_)) =>
                  Left("vector matching requires two vectors")
                case _ => loop(Binary(op, left, right, m))
              }
            }
          }
        } else if (!atEnd && ops.contains(s.charAt(i))) {
          val op = s.charAt(i); i += 1
          matchingClause(allowGroup = true).flatMap { m =>
            next().flatMap { right =>
              (left, right, m) match {
                case (ScalarLit(a), ScalarLit(b), None) =>
                  if ((op == '/' || op == '%') && b == 0.0)
                    Left(s"$op by zero")
                  else loop(ScalarLit(op match {
                    case '+' => a + b
                    case '-' => a - b
                    case '*' => a * b
                    case '/' => a / b
                    case '%' => a % b // truncated, dividend sign = Go math.Mod
                  }))
                case (ScalarLit(_), _, Some(_)) | (_, ScalarLit(_), Some(_)) =>
                  Left("vector matching requires two vectors")
                case _ => loop(Binary(op, left, right, m))
              }
            }
          }
        } else Right(left)
      }
      next().flatMap(loop)
    }

    private def number(): Option[Double] = {
      ws()
      var j = i
      if (j < s.length && s.charAt(j) == '-') j += 1
      val d0 = j
      while (j < s.length && (s.charAt(j).isDigit || s.charAt(j) == '.')) j += 1
      if (j == d0) None
      else s.substring(i, j).toDoubleOption.map { v => i = j; v }
    }

    private def term(): Either[String, Expr] = {
      ws()
      val save = i
      if (peekChar.contains('(')) {
        i += 1
        for { e <- expr(); _ <- eat(')') } yield e
      } else if (peekChar.exists(c => c.isDigit || c == '-')) {
        number().map(v => Right(ScalarLit(v)))
          .getOrElse {
            // unary minus on a non-literal: Prometheus's `-expr`,
            // desugared to 0 - expr (same label/name semantics).
            // The operand is a powExpr so -m ^ 2 = -(m^2), matching
            // Prometheus's precedence (unary binds looser than ^).
            if (peekChar.contains('-')) {
              i += 1
              powExpr().map {
                case ScalarLit(v) => ScalarLit(-v) // --5 folds
                case e => Binary('-', ScalarLit(0.0), e, None)
              }
            } else Left(s"expected number at '${rest.take(20)}'")
          }
      } else peekIdent() match {
        case Some(id) if id == "topk" || id == "bottomk" =>
          i += id.length
          rank(bottom = id == "bottomk")
        case Some(id) if id == "limitk" =>
          i += id.length
          for {
            pre <- grouping()
            _ <- eat('(')
            k <- int()
            _ <- eat(',')
            child <- expr()
            _ <- eat(')')
            post <- grouping()
            g <- if (pre.nonEmpty && post.nonEmpty)
                   Left("duplicate grouping clause") else Right(pre.orElse(post))
            _ <- if (k > 0) Right(()) else Left("limitk k must be positive")
          } yield {
            val (without, names) = g.getOrElse((false, Seq.empty))
            LimitK(k, child, names, without)
          }
        case Some(id) if id == "limit_ratio" =>
          i += id.length
          for {
            _ <- eat('(')
            r <- number().toRight("limit_ratio needs a number")
            _ <- if (r >= -1.0 && r <= 1.0) Right(())
                 else Left("limit_ratio needs r in [-1, 1]")
            _ <- eat(',')
            child <- expr()
            _ <- eat(')')
          } yield LimitRatio(r, child)
        case Some(id) if id == "quantile_over_time" =>
          i += id.length
          for {
            _ <- eat('(')
            q <- number().filter(v => v >= 0.0 && v <= 1.0)
              .toRight("quantile_over_time needs φ in [0, 1]")
            _ <- eat(',')
            sel <- selectorMatchers()
            _ <- eat('[')
            d <- duration()
            _ <- eat(']')
            off <- offsetClause()
            _ <- eat(')')
          } yield Quantile(q, sel, d, off)
        case Some(id) if id == "time" =>
          i += id.length
          val after = { val s2 = i; ws(); val c = peekChar; i = s2; c }
          if (!after.contains('(')) { i = save; selector() }
          else for { _ <- eat('('); _ <- eat(')') } yield TimeFn
        case Some(id) if id == "vector" =>
          i += id.length
          val after = { val s2 = i; ws(); val c = peekChar; i = s2; c }
          if (!after.contains('(')) { i = save; selector() }
          else for {
            _ <- eat('(')
            v <- number().toRight("vector() needs a number")
            _ <- eat(')')
          } yield VectorLit(v)
        case Some(id) if id == "scalar" =>
          i += id.length
          val after = { val s2 = i; ws(); val c = peekChar; i = s2; c }
          if (!after.contains('(')) { i = save; selector() }
          else for {
            _ <- eat('(')
            child <- expr()
            _ <- eat(')')
            _ <- child match {
              case ScalarLit(_) => Left("scalar() requires a vector")
              case _ => Right(())
            }
          } yield ScalarOf(child)
        case Some(id) if id == "count_values" =>
          i += id.length
          countValuesCall()
        case Some(id) if id == "label_replace" =>
          i += id.length
          for {
            _ <- eat('(')
            child <- expr()
            _ <- eat(',')
            dst <- stringLit()
            _ <- eat(',')
            rep <- stringLit()
            _ <- eat(',')
            src <- stringLit()
            _ <- eat(',')
            re <- stringLit()
            _ <- eat(')')
            _ <- child match {
              case ScalarLit(_) => Left("label_replace requires a vector")
              case _ => Right(())
            }
            _ <- if (Seq(dst, src).forall(n =>
                   n.nonEmpty && !n.contains('=') && n != "__name__"))
                 Right(())
                 else Left("label_replace: dst and src must be label names")
            _ <- try { java.util.regex.Pattern.compile(re); Right(()) }
                 catch { case _: Exception => Left(s"invalid regex: $re") }
          } yield LabelReplace(child, dst, rep, src, re)
        case Some(id) if id == "histogram_quantile" =>
          i += id.length
          for {
            _ <- eat('(')
            q <- number().filter(v => v > 0.0 && v <= 1.0)
              .toRight("histogram_quantile needs φ in (0, 1]")
            _ <- eat(',')
            child <- expr()
            _ <- eat(')')
            _ <- child match {
              case ScalarLit(_) =>
                Left("histogram_quantile requires a vector argument")
              case _ => Right(())
            }
          } yield HistQ(q, child)
        case Some(id) if id == "histogram_count" || id == "histogram_sum" ||
                         id == "histogram_avg" =>
          // native-histogram accessors, desugared at parse time onto
          // the classic series the native ingest converts to:
          // count → name_count, sum → name_sum, avg → sum/count
          // (full-label-matched division; zero counts drop the row)
          i += id.length
          for {
            _ <- eat('(')
            child <- expr()
            _ <- eat(')')
            out <- id match {
              case "histogram_count" => suffixSelectorNames(child, "_count")
              case "histogram_sum"   => suffixSelectorNames(child, "_sum")
              case _ =>
                for {
                  su <- suffixSelectorNames(child, "_sum")
                  ct <- suffixSelectorNames(child, "_count")
                } yield Binary('/', su, ct)
            }
          } yield out
        case Some(id) if id == "histogram_stddev" ||
                         id == "histogram_stdvar" =>
          i += id.length
          for {
            _ <- eat('(')
            child <- expr()
            _ <- eat(')')
            _ <- child match {
              case ScalarLit(_) =>
                Left(s"$id requires a vector argument")
              case _ => Right(())
            }
            _ <- suffixSelectorNames(child, "_bucket") // validate only
          } yield HistStd(id == "histogram_stddev", child)
        case Some(id) if id == "histogram_fraction" =>
          i += id.length
          for {
            _ <- eat('(')
            lo <- number().toRight("histogram_fraction needs a scalar lower bound")
            _ <- eat(',')
            hi <- number().toRight("histogram_fraction needs a scalar upper bound")
            _ <- eat(',')
            child <- expr()
            _ <- eat(')')
            _ <- child match {
              case ScalarLit(_) =>
                Left("histogram_fraction requires a vector argument")
              case _ => Right(())
            }
          } yield HistFrac(lo, hi, child)
        case Some(id) if id == "holt_winters" ||
                         id == "double_exponential_smoothing" =>
          i += id.length
          for {
            _ <- eat('(')
            sel <- selectorMatchers()
            _ <- eat('[')
            d <- duration()
            _ <- eat(']')
            off <- offsetClause()
            _ <- eat(',')
            sf <- number().filter(v => v > 0.0 && v < 1.0)
              .toRight("holt_winters: smoothing factor must be in (0, 1)")
            _ <- eat(',')
            tf <- number().filter(v => v > 0.0 && v < 1.0)
              .toRight("holt_winters: trend factor must be in (0, 1)")
            _ <- eat(')')
          } yield HoltWinters(sel, d, sf, tf, off)
        case Some(id) if id == "predict_linear" =>
          i += id.length
          for {
            _ <- eat('(')
            sel <- selectorMatchers()
            _ <- eat('[')
            d <- duration()
            _ <- eat(']')
            off <- offsetClause()
            _ <- eat(',')
            h <- number().toRight("predict_linear needs a horizon in seconds")
            _ <- eat(')')
          } yield Predict(sel, d, h.toLong, off)
        case Some(id) if id == "absent_over_time" =>
          i += id.length
          for {
            _ <- eat('(')
            sel <- selectorMatchers()
            _ <- eat('[')
            d <- duration()
            _ <- eat(']')
            off <- offsetClause()
            _ <- eat(')')
          } yield Absent(sel, d, off)
        case Some(id) if id == "absent" =>
          i += id.length
          val after = { val s2 = i; ws(); val c = peekChar; i = s2; c }
          if (!after.contains('(')) { i = save; selector() }
          else for {
            _ <- eat('(')
            sel <- selectorMatchers()
            off <- offsetClause()
            _ <- eat(')')
          } yield AbsentI(sel, off)
        case Some(id) if id == "info" =>
          i += id.length
          val after = { val s2 = i; ws(); val c = peekChar; i = s2; c }
          if (!after.contains('(')) { i = save; selector() }
          else for {
            _ <- eat('(')
            child <- expr()
            sel <- peekChar match {
              case Some(',') =>
                for {
                  _ <- eat(',')
                  ms <- selectorMatchers()
                  _ <- if (ms.exists(_.name == Matchers.NameLabel))
                         Left("info: the data-label selector cannot name __name__")
                       else Right(())
                } yield ms
              case _ => Right(Seq.empty[LabelMatcher])
            }
            _ <- eat(')')
            _ <- child match {
              case ScalarLit(_) => Left("info requires a vector argument")
              case _ => Right(())
            }
          } yield Info(child, sel)
        case Some(id) if id == "timestamp" =>
          i += id.length
          val after = { val s2 = i; ws(); val c = peekChar; i = s2; c }
          if (!after.contains('(')) { i = save; selector() }
          else for {
            _ <- eat('(')
            sel <- selectorMatchers()
            off <- offsetClause()
            _ <- eat(')')
          } yield TimestampOf(sel, off)
        case Some(id) if id == "label_join" =>
          i += id.length
          for {
            _ <- eat('(')
            child <- expr()
            _ <- eat(',')
            dst <- stringLit()
            _ <- eat(',')
            sep <- stringLit()
            srcs <- {
              val b = Seq.newBuilder[String]
              var err: Option[String] = None
              while (err.isEmpty && peekChar.contains(',')) {
                i += 1
                stringLit() match {
                  case Right(v) => b += v
                  case Left(e) => err = Some(e)
                }
              }
              err.toLeft(b.result())
            }
            _ <- eat(')')
            _ <- child match {
              case ScalarLit(_) => Left("label_join requires a vector")
              case _ => Right(())
            }
            _ <- if ((dst +: srcs).forall(n => n.nonEmpty &&
                   !n.contains('=') && n != "__name__"))
                 Right(())
                 else Left("label_join: labels must be label names")
          } yield LabelJoin(child, dst, sep, srcs)
        case Some(id) if MathFns(id) =>
          i += id.length
          val after = { val s2 = i; ws(); val c = peekChar; i = s2; c }
          if (after.contains('(')) mathCall(id) else { i = save; selector() }
        case Some("pi") =>
          // pi() — a scalar constant (Prometheus's only 0-ary math
          // fn); a metric literally named pi stays a selector
          i += 2
          val after = { val s2 = i; ws(); val c = peekChar; i = s2; c }
          if (!after.contains('(')) { i = save; selector() }
          else for {
            _ <- eat('(')
            _ <- eat(')')
          } yield ScalarLit(3.141592653589793): Expr
        case Some(id) if id == "sort" || id == "sort_desc" =>
          i += id.length
          val after = { val s2 = i; ws(); val c = peekChar; i = s2; c }
          if (!after.contains('(')) { i = save; selector() }
          else for {
            _ <- eat('(')
            child <- expr()
            _ <- eat(')')
            _ <- child match {
              case ScalarLit(_) => Left(s"$id requires a vector argument")
              case _ => Right(())
            }
          } yield Sort(id == "sort_desc", child)
        case Some(id) if id == "sort_by_label" || id == "sort_by_label_desc" =>
          i += id.length
          val after = { val s2 = i; ws(); val c = peekChar; i = s2; c }
          if (!after.contains('(')) { i = save; selector() }
          else for {
            _ <- eat('(')
            child <- expr()
            lbls <- {
              val b = Seq.newBuilder[String]
              var err: Option[String] = None
              var n = 0
              while (err.isEmpty && peekChar.contains(',')) {
                i += 1
                stringLit() match {
                  // UTF-8 names allowed; '=' cannot round-trip the
                  // canonical "k=v" label form
                  case Right(l) if l.nonEmpty && !l.contains('=') =>
                    b += l; n += 1
                  case Right(l) => err = Some(s"$id: bad label name '$l'")
                  case Left(e)  => err = Some(e)
                }
              }
              if (err.isEmpty && n == 0)
                err = Some(s"$id needs at least one label argument")
              err.toLeft(b.result())
            }
            _ <- eat(')')
            _ <- child match {
              case ScalarLit(_) => Left(s"$id requires a vector argument")
              case _ => Right(())
            }
          } yield SortByLabel(id == "sort_by_label_desc", child, lbls)
        case Some(id) if AggOps(id) =>
          i += id.length
          val after = { val s2 = i; ws(); val c = peekChar; i = s2; c }
          val kw = { val s2 = i; ws(); val k = peekIdent(); i = s2; k }
          if (after.contains('(') || kw.contains("by") || kw.contains("without"))
            agg(id)
          else { i = save; selector() }
        case Some(id) if RangeFns(id) =>
          i += id.length
          rangeCall(id)
        case _ => selector()
      }
    }

    /** A double-quoted string literal with \" \\ escapes. */
    private def stringLit(): Either[String, String] = {
      ws()
      if (atEnd || s.charAt(i) != '"')
        return Left(s"expected string literal at '${rest.take(20)}'")
      i += 1
      val sb = new StringBuilder
      while (i < s.length && s.charAt(i) != '"') {
        if (s.charAt(i) == '\\' && i + 1 < s.length) {
          sb += s.charAt(i + 1); i += 2
        } else { sb += s.charAt(i); i += 1 }
      }
      if (i >= s.length) Left("unterminated string literal")
      else { i += 1; Right(sb.toString) }
    }

    /** mathfn(expr [, num]*) with per-function arity/validity rules.
      * The calendar functions allow an empty argument list, which
      * defaults to the evaluation timestamp (hour() ≙
      * hour(vector(time())), Prometheus's convention). */
    private def mathCall(fn: String): Either[String, Expr] =
      for {
        _ <- eat('(')
        child <- if (peekChar.contains(')') && CalendarFns(fn))
                   Right(TimeFn: Expr)
                 else expr()
        args <- {
          val b = Seq.newBuilder[Double]
          var err: Option[String] = None
          while (err.isEmpty && peekChar.contains(',')) {
            i += 1
            number() match {
              case Some(v) => b += v
              case None => err = Some(s"$fn: expected numeric argument")
            }
          }
          err.toLeft(b.result())
        }
        _ <- eat(')')
        _ <- (fn, args) match {
          case (f, Seq()) if f == "abs" || f == "ceil" || f == "floor" ||
               f == "sgn" || f == "sqrt" || f == "ln" || f == "log2" ||
               f == "log10" || f == "exp" || f == "deg" || f == "rad" ||
               TrigFns(f) || CalendarFns(f) => Right(())
          case ("round", Seq()) | ("round", Seq(_)) =>
            // the bound is on the e6-converted integer: 1e-7 would
            // truncate to a zero divisor
            if (args.forall(v => math.floor(v * 1e6 + 0.5) >= 1.0))
              Right(())
            else Left("round: to_nearest must be at least 1e-6")
          case ("clamp", Seq(lo, hi)) =>
            if (lo <= hi) Right(()) else Left("clamp: min must be <= max")
          case ("clamp_min", Seq(_)) | ("clamp_max", Seq(_)) => Right(())
          case _ => Left(s"$fn: wrong number of arguments")
        }
        _ <- child match {
          case ScalarLit(_) => Left(s"$fn requires a vector argument")
          case _ => Right(())
        }
      } yield MathFn(fn, child, args)

    /** `topk [grouping] (k, expr) [grouping]` — the grouping scopes
      * the RANKING (top k per group per step), Prometheus's
      * aggregation-parameter form; series labels pass through. */
    private def rank(bottom: Boolean): Either[String, Expr] =
      for {
        pre <- grouping()
        _ <- eat('(')
        k <- int()
        _ <- eat(',')
        child <- expr()
        _ <- eat(')')
        post <- grouping()
        g <- if (pre.nonEmpty && post.nonEmpty)
               Left("duplicate grouping clause") else Right(pre.orElse(post))
        _ <- if (k > 0) Right(()) else Left("topk/bottomk k must be positive")
      } yield {
        val (without, names) = g.getOrElse((false, Seq.empty))
        Rank(bottom, k, child, names, without)
      }

    private def int(): Either[String, Int] = {
      ws()
      var j = i
      while (j < s.length && s.charAt(j).isDigit) j += 1
      if (j == i) Left(s"expected integer at '${rest.take(20)}'")
      else {
        val v = s.substring(i, j); i = j
        v.toIntOption.toRight(s"integer out of range: $v")
      }
    }

    /** `by (names)` or `without (names)`, if present. */
    private def grouping(): Either[String, Option[(Boolean, Seq[String])]] = {
      val kw = { val s2 = i; ws(); val k = peekIdent(); i = s2; k }
      kw match {
        case Some(k @ ("by" | "without")) =>
          ws(); i += k.length
          for {
            _ <- eat('(')
            names <- identList()
            _ <- eat(')')
          } yield Some((k == "without", names))
        case _ => Right(None)
      }
    }

    /** count_values [grouping] ("dst", expr) [grouping]. */
    private def countValuesCall(): Either[String, Expr] =
      for {
        pre <- grouping()
        _ <- eat('(')
        dst <- stringLit()
        _ <- if (dst.nonEmpty && !dst.contains('=') &&
                 dst != "__name__") Right(())
             else Left("count_values: dst must be a label name")
        _ <- eat(',')
        child <- expr()
        _ <- eat(')')
        post <- grouping()
        g <- if (pre.nonEmpty && post.nonEmpty)
               Left("duplicate grouping clause") else Right(pre.orElse(post))
        _ <- child match {
          case ScalarLit(_) => Left("count_values requires a vector argument")
          case _ => Right(())
        }
      } yield {
        val (without, names) = g.getOrElse((false, Seq.empty))
        CountValues(dst, child, names, without)
      }

    private def agg(op: String): Either[String, Expr] = {
      for {
        pre <- grouping()
        _ <- eat('(')
        param <- if (op != "quantile") Right(None)
          else for {
            q <- number().filter(v => v >= 0.0 && v <= 1.0)
              .toRight("quantile needs φ in [0, 1]")
            _ <- eat(',')
          } yield Some(q)
        child <- expr()
        _ <- eat(')')
        post <- grouping()
        g <- if (pre.nonEmpty && post.nonEmpty)
               Left("duplicate grouping clause") else Right(pre.orElse(post))
        _ <- child match {
          case ScalarLit(_) => Left(s"$op requires a vector argument")
          case _ => Right(())
        }
      } yield {
        val (without, names) = g.getOrElse((false, Seq.empty))
        Agg(op, names, child, without, param)
      }
    }

    private def identList(): Either[String, Seq[String]] = {
      val names = Seq.newBuilder[String]
      var done = false
      var err: Option[String] = None
      var first = true
      while (!done && err.isEmpty) {
        ws()
        if (peekChar.contains(')') && first) done = true // by ()
        else {
          // a grouping name is a bare ident or (Prometheus 3.x
          // UTF-8) a quoted string — '=' cannot round-trip the
          // store's canonical "k=v" label form, so it rejects
          val tok: Either[String, String] = takeIdent() match {
            case Some(n) => Right(n)
            case None if peekChar.contains('"') =>
              stringLit().flatMap { n =>
                if (n.nonEmpty && !n.contains('=')) Right(n)
                else Left(s"bad quoted label name '$n'")
              }
            case None =>
              Left(s"expected label name at '${rest.take(20)}'")
          }
          tok match {
            case Right(n) =>
              names += n
              first = false
              ws()
              if (peekChar.contains(',')) i += 1 else done = true
            case Left(e) => err = Some(e)
          }
        }
      }
      err.toLeft(names.result())
    }

    /** fn(selector[d]) — or, when a ':' follows the duration, the
      * subquery form fn(expr[d:res]) over any inner expression. */
    private def rangeCall(fn: String): Either[String, Expr] =
      for {
        _ <- eat('(')
        child <- expr()
        _ <- eat('[')
        d <- duration()
        sub <- if (peekChar.contains(':')) { i += 1; duration().map(Some(_)) }
               else Right(None)
        _ <- eat(']')
        mods <- modifiers()
        _ <- eat(')')
        result <- (sub, child) match {
          case (None, Instant(ms, 0L)) =>
            Right(withAt(mods._2, RangeCall(fn, ms, d, mods._1)))
          case (None, _) =>
            Left(s"$fn over a compound expression needs a subquery [d:res]")
          case (Some(_), ScalarLit(_)) =>
            Left(s"$fn requires a vector argument")
          case (Some(res), c) =>
            if (!SubFns(fn)) Left(s"$fn does not support subqueries")
            else Right(withAt(mods._2, Subquery(fn, c, d, res, mods._1)))
        }
      } yield result

    /** Optional ` offset [-]<dur>` modifier. A negative offset
      * (default-enabled in Prometheus 3.x) shifts windows FORWARD —
      * the eval's unshift arithmetic handles either sign. */
    private def offsetClause(): Either[String, Long] = {
      val kw = { val s2 = i; ws(); val k = peekIdent(); i = s2; k }
      if (!kw.contains("offset")) Right(0L)
      else {
        ws(); i += "offset".length; ws()
        val neg = !atEnd && s.charAt(i) == '-'
        if (neg) i += 1
        duration().map(d => if (neg) -d else d)
      }
    }

    /** Optional ` @ <unix-seconds>` modifier. */
    private def atClause(): Either[String, Option[Either[Boolean, Long]]] = {
      ws()
      if (atEnd || s.charAt(i) != '@') Right(None)
      else {
        i += 1
        ws()
        peekIdent() match {
          case Some(k) if k == "start" || k == "end" =>
            // @ start() / @ end(): the query range's own edges,
            // resolved at evaluation time (Prometheus v2.25+)
            i += k.length
            for { _ <- eat('('); _ <- eat(')') } yield Some(Left(k == "start"))
          case _ =>
            number().filter(_ >= 0)
              .map(v => Some(Right(v.toLong)))
              .toRight("@ needs a unix timestamp in seconds, start(), or end()")
        }
      }
    }

    /** `[offset d] [@ t]`, in either order. */
    private def modifiers(): Either[String, (Long, Option[Either[Boolean, Long]])] =
      for {
        off1 <- offsetClause()
        at <- atClause()
        off2 <- if (off1 == 0L) offsetClause() else Right(0L)
      } yield (off1 + off2, at)

    private def withAt(at: Option[Either[Boolean, Long]], e: Expr): Expr =
      at.fold(e) {
        case Right(t)      => At(t, e)
        case Left(isStart) => AtEdge(isStart, e)
      }

    private def duration(): Either[String, Long] = {
      ws()
      var total = 0L
      var any = false
      var err: Option[String] = None
      var more = true
      while (more && err.isEmpty) {
        var j = i
        while (j < s.length && s.charAt(j).isDigit) j += 1
        if (j == i) more = false
        else {
          val n = s.substring(i, j).toLongOption.getOrElse(-1L)
          if (n < 0) err = Some("duration out of range")
          else {
            i = j
            val unit = if (i < s.length) s.charAt(i) else ']'
            val mult = unit match {
              case 's' => 1L case 'm' => 60L case 'h' => 3600L
              case 'd' => 86400L case 'w' => 604800L
              case ']' | ':' => -1L // bare seconds, unit omitted
              case _ => -2L
            }
            mult match {
              case -2L => err = Some(s"unsupported duration unit '$unit'")
              case -1L => total += n; any = true; more = false
              case m => i += 1; total += n * m; any = true
            }
          }
        }
      }
      err match {
        case Some(e) => Left(e)
        case None if !any || total <= 0 => Left("expected positive duration")
        case None => Right(total)
      }
    }

    private def selector(): Either[String, Expr] =
      for { ms <- selectorMatchers(); m <- modifiers() }
        yield withAt(m._2, Instant(ms, m._1))

    /** Scan one selector slice (name, optional balanced quote-aware
      * braces) and delegate to the shared parser the `/api/v1/series`
      * endpoint already uses. */
    private def selectorMatchers(): Either[String, Seq[LabelMatcher]] = {
      ws()
      val start = i
      while (i < s.length && isIdentChar(s.charAt(i))) i += 1
      val afterName = i
      ws()
      if (i < s.length && s.charAt(i) == '{') {
        i += 1
        var inStr = false
        while (i < s.length && (inStr || s.charAt(i) != '}')) {
          val c = s.charAt(i)
          if (inStr && c == '\\') i += 1
          else if (c == '"') inStr = !inStr
          i += 1
        }
        if (i >= s.length) return Left("unterminated '{' in selector")
        i += 1
      } else i = afterName
      val slice = s.substring(start, i).trim
      if (slice.isEmpty) Left(s"expected selector at '${rest.take(20)}'")
      else Matchers.parseSelector(slice)
        .toRight(s"malformed selector '$slice'")
    }
  }

  // ---- Evaluator --------------------------------------------------

  /** A label name rendered into a Spark SQL single-quoted literal —
    * quoted-UTF-8 selector/grouping names can hold ANY character, so
    * every interpolation site must escape (an apostrophe in a label
    * name must not terminate the SQL string). */
  private def sqlKey(k: String): String =
    k.replace("\\", "\\\\").replace("'", "\\'")

  /** Engine-portable half-up rounding of the integer ratio a/b
    * (b > 0): floor((2a+b)/(2b)) in double arithmetic. 2a+b and 2b
    * are exact doubles for |a| < 2^52; when the true ratio is an
    * integer both engines hit it exactly, and otherwise it sits ≥
    * 1/(2b) from one — far beyond double rounding error. No engine's
    * round() midpoint convention is ever consulted. */
  private def halfUpSql(a: String, b: String): String =
    s"CAST(FLOOR((2.0D * ($a) + ($b)) / (2.0D * ($b))) AS BIGINT)"

  /** Evaluate `expr` on the grid t = startSec + k·stepSec ≤ endSec.
    * Output: metric STRING (NULL above an aggregation), labels
    * ARRAY<STRING>, t BIGINT, v_e6 BIGINT (micro-units). */
  def eval(samples: DataFrame, expr0: Expr, startSec: Long, endSec: Long,
           stepSec: Long, lookbackSec: Long = DefaultLookbackSec,
           rollup: Option[RollupStore.Ladder] = None,
           ignoreLabel: Option[String] = Some("remote=clickhouse"),
           nativeHist: Option[DataFrame] = None,
           stale: Option[DataFrame] = None): DataFrame = {
    require(stepSec > 0, "step must be positive")
    require(endSec >= startSec, "end must be >= start")
    // Common-subexpression reuse: a dashboard expression routinely
    // references the same selector or aggregate several times
    // (`a / a offset 1d`, `x / (x + y)`); without structural
    // memoization each occurrence re-plans a full store scan — the
    // dominant repeated cost at fleet scale. The Expr ADT is a plain
    // case-class tree, so structural equality is `==`; the memo key
    // adds the evaluation window because `@` pins children to other
    // instants. Multiply-referenced results are persisted
    // (MEMORY_AND_DISK — safe on block loss, LRU-evicted) so one
    // action computes the shared subtree once and every other
    // occurrence reads cached blocks. Spark's CacheManager holds each
    // persisted plan until it is unpersisted, so a caller inside
    // [[releasing]] has them unpersisted once its action ran; outside
    // one they stay cached. Freshness is structural: the store scan
    // plans an EXPLICIT manifest file list (SamplesStore.read), so
    // any append/compaction changes the plan and a later query can
    // never falsely hit a stale cache entry — a hit implies the
    // identical file set, hence identical data.
    val shared = sharedSubtrees(expr0)
    val memo = mutable.HashMap.empty[(Expr, Long, Long), DataFrame]
    def rec(e: Expr, s: Long, en: Long): DataFrame =
      memo.getOrElseUpdate((e, s, en), {
        val df = evalNode(samples, e, s, en, stepSec, lookbackSec, rollup,
          ignoreLabel, rec, nativeHist, stale)
        if (shared(e)) {
          Option(persistedInScope.get).foreach(_ += df)
          df.persist(StorageLevel.MEMORY_AND_DISK)
        } else df
      })
    rec(expr0, startSec, endSec)
  }

  /** The shared subtrees [[eval]] persisted on this thread inside the
    * innermost [[releasing]] scope. */
  private val persistedInScope = new ThreadLocal[mutable.ArrayBuffer[DataFrame]]

  /** Run `f` — one request's [[eval]] calls and the action that
    * consumes their result — then unpersist every shared subtree
    * those evals persisted. The CacheManager would otherwise keep each
    * entry for the life of the server, and every later query's cache
    * lookup scans all of them. Scopes nest; each releases its own. A
    * concurrent request whose plan shares an entry released here stays
    * correct: Spark recomputes unpersisted blocks from lineage. */
  def releasing[T](f: => T): T = {
    val outer = persistedInScope.get
    val mine = mutable.ArrayBuffer.empty[DataFrame]
    persistedInScope.set(mine)
    try f
    finally {
      persistedInScope.set(outer)
      mine.foreach(_.unpersist(blocking = false))
    }
  }

  /** Structural children of an AST node — generic over the
    * case-class tree (any Expr-typed field, directly or through
    * Option/Seq), so new node types participate automatically. */
  private def exprChildren(e: Expr): Seq[Expr] =
    e.productIterator.flatMap {
      case c: Expr => Seq(c)
      case Some(c: Expr) => Seq(c)
      case s: Seq[_] => s.collect { case c: Expr => c }
      case _ => Nil
    }.toSeq

  /** Every selector's matcher set inside the expression — what
    * /api/v1/query_exemplars narrows by (Prometheus extracts the
    * selectors from an arbitrary expression the same way). Rides the
    * same generic product walk as [[exprChildren]], so new
    * matcher-carrying node kinds participate automatically. */
  def selectorMatcherSets(e: Expr): Seq[Seq[LabelMatcher]] = {
    val own = e.productIterator.collect {
      case ms: Seq[_] if ms.nonEmpty && ms.forall(_.isInstanceOf[LabelMatcher]) =>
        ms.asInstanceOf[Seq[LabelMatcher]]
    }.toSeq
    own ++ exprChildren(e).flatMap(selectorMatcherSets)
  }

  /** Whether the expression contains a node the native-estimator
    * flag can serve (histogram_quantile / histogram_fraction) — lets
    * the HTTP layer skip opening the hist sibling for every other
    * query. */
  def usesNativeEstimators(e: Expr): Boolean = e match {
    case HistQ(_, _) | HistFrac(_, _, _) => true
    case _ => exprChildren(e).exists(usesNativeEstimators)
  }

  /** Whether the expression's TOP-LEVEL value is (potentially) a
    * native histogram — the shapes [[histVec]] evaluates: a bare
    * selector, `rate(sel[d])`, and `sum by/without (…)` over either.
    * The JSON query surface asks this before opening the hist
    * sibling, so every float-only query skips the probe. */
  def histogramValued(e: Expr): Boolean = e match {
    case Instant(_, _) => true
    case RangeCall("rate", _, _, _) => true
    case Agg("sum", _, child, _, None) => histogramValued(child)
    case _ => false
  }

  /** The histogram-vector leg for the Prometheus 3.x JSON surface:
    * evaluate `e` over the hist sibling to (metric, labels, t, hb)
    * rows — `hb` the prompb bytes of each (series, step)'s effective
    * histogram (instant lookback / bucket-wise rate / sparse sum,
    * see [[histVec]]). None when the shape is outside the native
    * algebra or the selector misses the sibling — the caller then
    * answers floats alone, producing the 3.x MIXED vector when both
    * legs hold series. */
  def evalHistVec(hs: DataFrame, e: Expr, startSec: Long, endSec: Long,
                  stepSec: Long, ignoreLabel: Option[String],
                  stale: Option[DataFrame],
                  lookbackSec: Long = DefaultLookbackSec): Option[DataFrame] =
    histVec(hs, e, startSec, endSec, stepSec, lookbackSec, ignoreLabel, stale)
      .map { v =>
        e match {
          // value-transforming roots drop the metric name on the
          // user surface (rate/sum), exactly like the float arm;
          // histVec keeps it internally for estimator composition
          case Instant(_, _) => v
          case _ => v.select(lit(null).cast("string").as("metric"),
            col("labels"), col("t"), col("hb"))
        }
      }

  /** Rebuild the expression with every selector's `__name__`
    * equality matcher suffixed — the desugaring behind
    * histogram_count/sum/avg (graft accepts the Prometheus 3.x
    * native-histogram accessors against the CLASSIC series its
    * native ingest converts to, so `histogram_count(rate(m[5m]))`
    * means `rate(m_count[5m])`). Generic over the case-class tree
    * via the public constructor — any node kind carrying matchers
    * participates; a selector without an equality name matcher
    * rejects (a regex name cannot be suffixed faithfully). */
  private def suffixSelectorNames(e: Expr, suffix: String): Either[String, Expr] = {
    def fixMs(ms: Seq[LabelMatcher]): Either[String, Seq[LabelMatcher]] =
      ms.collectFirst {
        case LabelMatcher(MatcherType.Eq, "__name__", v) => v
      } match {
        case None => Left(
          "histogram_count/sum/avg need an equality __name__ matcher")
        case Some(v) => Right(ms.map {
          case LabelMatcher(MatcherType.Eq, "__name__", _) =>
            LabelMatcher(MatcherType.Eq, "__name__", v + suffix)
          case other => other
        })
      }
    if (e.productArity == 0) return Right(e)
    // Info's SECOND matcher seq is the data-label selector, which the
    // parser forbids from carrying __name__ — only the child (a real
    // series selector tree) gets suffixed, so
    // histogram_count(info(v, {...})) parses and means rate on the
    // suffixed v, enriched by the same info labels
    e match {
      case Info(child, sel) =>
        return suffixSelectorNames(child, suffix).map(Info(_, sel))
      case _ =>
    }
    val rebuilt = e.productIterator.map {
      case ms: Seq[_] if ms.nonEmpty && ms.forall(_.isInstanceOf[LabelMatcher]) =>
        fixMs(ms.asInstanceOf[Seq[LabelMatcher]]) match {
          case Right(x) => x
          case Left(err) => return Left(err)
        }
      case c: Expr => suffixSelectorNames(c, suffix) match {
        case Right(x) => x
        case Left(err) => return Left(err)
      }
      case Some(c: Expr) => suffixSelectorNames(c, suffix) match {
        case Right(x) => Some(x)
        case Left(err) => return Left(err)
      }
      case other => other
    }.map(_.asInstanceOf[AnyRef]).toArray
    Right(e.getClass.getConstructors
      .find(_.getParameterCount == e.productArity)
      .getOrElse(throw new IllegalStateException(
        s"no arity-${e.productArity} constructor on ${e.getClass}"))
      .newInstance(rebuilt: _*).asInstanceOf[Expr])
  }

  /** A range-vector function's result as Prometheus answers it:
    * every one drops `__name__` except `last_over_time` and
    * `first_over_time`, which answer one of the window's own samples
    * unchanged (the engine's `dropName` exemption). */
  private def rangeName(fn: String, df: DataFrame): DataFrame =
    if (fn == "last_over_time" || fn == "first_over_time") df
    else df.withColumn("metric", lit(null).cast("string"))

  /** The evaluation grid t = start + k·step, 0 ≤ k ≤ (end − start)/step,
    * one row per step. */
  private def stepGrid(spark: SparkSession, start: Long, end: Long,
                       step: Long): DataFrame = {
    val kTop = (end - start) / step
    spark.range(0, kTop + 1).select((Param.column(spark, start) + col("id") * step).as("t"))
  }

  /** `scalar(x)`: x's value `sv` at each step where x holds exactly
    * one series; every other step drops. */
  private def scalarSteps(x: DataFrame): DataFrame =
    x.groupBy(col("t"))
      .agg(count(lit(1)).as("n"), max(col("v_e6")).as("sv"))
      .filter(col("n") === 1).select(col("t"), col("sv"))

  /** A value on the micro-unit lattice, half-up. */
  private def snapE6(v: Double): Long = math.floor(v * 1e6 + 0.5).toLong

  /** Subtrees occurring more than once in `root` (structural
    * equality) — the set worth persisting. Descent stops at a
    * repeated subtree: its children are computed once inside the
    * memoized parent, so persisting them too would only burn cache.
    * Literals and generated grids are excluded — rebuilding a
    * `range()` projection is cheaper than a cache round-trip. */
  private def sharedSubtrees(root: Expr): Set[Expr] = {
    val counts = mutable.HashMap.empty[Expr, Int]
    def walk(e: Expr): Unit = {
      val n = counts.getOrElse(e, 0) + 1
      counts(e) = n
      if (n == 1) exprChildren(e).foreach(walk)
    }
    walk(root)
    def cacheWorthy(e: Expr): Boolean = e match {
      case ScalarLit(_) | VectorLit(_) | TimeFn => false
      case _ => true
    }
    counts.iterator.collect {
      case (e, n) if n > 1 && cacheWorthy(e) => e
    }.toSet
  }

  private def evalNode(samples: DataFrame, expr0: Expr, startSec: Long,
                       endSec: Long, stepSec: Long, lookbackSec: Long,
                       rollup: Option[RollupStore.Ladder],
                       ignoreLabel: Option[String],
                       rec: (Expr, Long, Long) => DataFrame,
                       nativeHist: Option[DataFrame],
                       stale: Option[DataFrame]): DataFrame = {
    // `offset o` shifts every window back by o: evaluate the
    // unshifted form on the grid translated to (start-o, end-o), then
    // put the grid timestamps back — exact, and every downstream
    // shape (pushdown, rollup route) applies to the shifted window
    // unchanged.
    def shifted(off: Long)(f: (Long, Long) => DataFrame): DataFrame = {
      val df = f(startSec - off, endSec - off)
      if (off == 0) df else df.withColumn("t", col("t") + off)
    }
    // every range-vector function answers through the one name rule
    def ranged(fn: String, off: Long)(f: (Long, Long) => DataFrame): DataFrame =
      rangeName(fn, shifted(off)(f))
    // the scalar side of a binary node, its vector side's frame, and
    // whether the scalar sits on the left
    def scalarSide(l: Expr, r: Expr, cmp: Boolean): Option[(Operand, DataFrame, Boolean)] =
      operandOnLeft(l, r, cmp).map { left =>
        val (o, v) = if (left) (l, r) else (r, l)
        val operand = o match {
          case ScalarLit(k) => Operand(lit(snapE6(k)), lit(k), literal = Some(k))
          case TimeFn => Operand(col("t") * 1000000L, col("t").cast("double"))
          case ScalarOf(c) => Operand(col("sv"), col("sv").cast("double") / lit(1000000.0),
            steps = Some(scalarSteps(rec(c, startSec, endSec))))
          case other => throw new IllegalStateException(s"not a scalar operand: $other")
        }
        (operand, rec(v, startSec, endSec), left)
      }
    // a scalar-valued node on the grid: no metric, no labels
    def unlabeled(df: DataFrame, v: Column): DataFrame =
      df.select(lit(null).cast("string").as("metric"),
        expr("CAST(array() AS ARRAY<STRING>)").as("labels"), col("t"), v.as("v_e6"))
    def grid: DataFrame = stepGrid(samples.sparkSession, startSec, endSec, stepSec)
    expr0 match {
      case Instant(ms, off) => shifted(off)((s, e) =>
        instant(samples, ms, s, e, stepSec, lookbackSec, ignoreLabel, stale = stale))
      case TimestampOf(ms, off) => shifted(off)((s, e) =>
        instant(samples, ms, s, e, stepSec, lookbackSec, ignoreLabel,
          valueIsTime = true, stale = stale))
      case RangeCall(fn, ms, d, off) => ranged(fn, off) { (s, e) =>
        // the rollup answers the functions that decompose into bucket
        // partials (RollupServable); the rest always read raw samples
        rollup.flatMap(rangeFromRollup(samples.sparkSession, _, fn, ms, s, e,
            stepSec, d, ignoreLabel))
          .getOrElse(fn match {
            case _ if PairFns(fn) => pairRange(samples, fn, ms, s, e, stepSec, d, ignoreLabel)
            case "deriv" => regressionRange(samples, ms, s, e, stepSec, d, ignoreLabel,
              horizonSec = None)
            case "mad_over_time" => madRange(samples, ms, s, e, stepSec, d, ignoreLabel)
            case _ => rangeRaw(samples, fn, ms, s, e, stepSec, d, ignoreLabel)
          })
      }
      case Predict(ms, d, h, off) => ranged("predict_linear", off)((s, e) =>
        regressionRange(samples, ms, s, e, stepSec, d, ignoreLabel, horizonSec = Some(h)))
      case HoltWinters(ms, d, sf, tf, off) => ranged("holt_winters", off)((s, e) =>
        holtWintersRange(samples, ms, s, e, stepSec, d, sf, tf, ignoreLabel))
      case Absent(ms, d, off) => ranged("absent_over_time", off)((s, e) =>
        absentRange(samples, ms, s, e, stepSec, d, ignoreLabel))
      case Quantile(q, ms, d, off) => ranged("quantile_over_time", off)((s, e) =>
        quantileRange(samples, q, ms, s, e, stepSec, d, ignoreLabel))
      case Subquery(fn, child, d, res, off) => ranged(fn, off)((s, e) =>
        subqueryRange(samples, fn, child, s, e, stepSec, d, res, lookbackSec, rollup,
          ignoreLabel, stale))
      case AbsentI(ms, off) => shifted(off) { (s, e) =>
        val present = instant(samples, ms, s, e, stepSec, lookbackSec,
          ignoreLabel, stale = stale).select(col("t")).distinct()
        absentGrid(samples.sparkSession, ms, s, e, stepSec, present)
      }
      case LabelJoin(child, dst, sep, srcs) =>
        labelJoinProject(rec(child, startSec, endSec), dst, sep, srcs)
      case Agg(op, by, child, without, param) =>
        aggregate(rec(child, startSec, endSec), op, by, without, param)
      case CountValues(dst, child, by, without) =>
        countValues(rec(child, startSec, endSec), dst, by, without)
      case AtEdge(atStart, child) =>
        rec(At(if (atStart) startSec else endSec, child), startSec,
          endSec)
      case At(ts, child) =>
        // one evaluation at the pinned instant, replicated onto the
        // grid — the single-point side is tiny, so the cross join
        // broadcasts
        rec(child, ts, ts).drop("t").crossJoin(grid)
          .select(col("metric"), col("labels"), col("t"), col("v_e6"))
      case MathFn(fn, child, args) =>
        mathProject(rec(child, startSec, endSec), fn, args)
      case HistQ(q, child) =>
        nativeHistQ(q, child, startSec, endSec, stepSec, lookbackSec,
          ignoreLabel, nativeHist, stale)
          .getOrElse(histQuantile(rec(child, startSec, endSec), q))
      case HistFrac(lo, hi, child) =>
        nativeHistFrac(lo, hi, child, startSec, endSec, stepSec,
          lookbackSec, ignoreLabel, nativeHist, stale)
          .getOrElse(histFraction(rec(child, startSec, endSec), lo, hi))
      case HistStd(dev, child) =>
        // desugar the three legs here (validated at parse) so each
        // rides rec() and CSE-shares with sibling accessor terms
        def leg(sfx: String): Expr = suffixSelectorNames(child, sfx)
          .fold(e => throw new IllegalStateException(e), identity)
        histStdDev(rec(leg("_bucket"), startSec, endSec),
          rec(leg("_sum"), startSec, endSec),
          rec(leg("_count"), startSec, endSec), dev)
      case Info(child, sel) =>
        // the info side rides the ordinary Instant path (store scan
        // pruned to target_info + the data-label selector, staleness
        // lookback, memoized like any selector leaf)
        infoJoin(rec(child, startSec, endSec),
          rec(Instant(LabelMatcher(MatcherType.Eq, Matchers.NameLabel,
            "target_info") +: sel), startSec, endSec), sel)
      case LabelReplace(child, dst, rep, src, re) =>
        labelReplaceProject(rec(child, startSec, endSec), dst, rep, src, re)
      case Cmp(op, bool, l, r, m) => scalarSide(l, r, cmp = true) match {
        case Some((o, v, left)) => operandCmp(v, op, bool, o, left)
        case None => vectorCmp(rec(l, startSec, endSec), rec(r, startSec, endSec), op, bool, m)
      }
      case SetOp(op, left, right, m) =>
        setOp(
          rec(left, startSec, endSec),
          rec(right, startSec, endSec), op, m)
      case Rank(bottom, k, child, by, without) =>
        rank(rec(child, startSec, endSec), bottom, k, by, without)
      case PowInt(child, n) =>
        powInt(rec(child, startSec, endSec), n)
      case PowFrac(child, y) =>
        powFrac(rec(child, startSec, endSec), y)
      case LimitK(k, child, by, without) =>
        limitK(rec(child, startSec, endSec), k, by, without)
      case LimitRatio(r, child) =>
        limitRatio(rec(child, startSec, endSec), r)
      case Sort(desc, child) =>
        val c = rec(child, startSec, endSec)
        val byValue = if (desc) col("v_e6").desc else col("v_e6").asc
        c.orderBy(col("t").asc, byValue,
          coalesce(col("metric"), lit("")).asc,
          array_join(col("labels"), ",").asc)
      case SortByLabel(desc, child, lbls) =>
        val c = rec(child, startSec, endSec)
        val keys = lbls.map { l =>
          val vSql = s"coalesce(substring(get(filter(labels, " +
            s"x -> startswith(x, '${sqlKey(l)}=')), 0), ${l.length + 2}), '')"
          // NATURAL sort key (Prometheus natsort parity): split the
          // value into digit/non-digit runs and left-pad every digit
          // run to 19, so lexicographic order of the key equals
          // run-wise natural order — "a2" < "a10", leading-zero
          // numeric ties ("07" vs "7") collapse onto the identity
          // tiebreak. Pure engine-portable string ops; digit runs
          // past 19 chars truncate (documented bound, far beyond
          // any real label value)
          val v = expr(s"concat_ws('', transform(" +
            s"regexp_extract_all($vSql, '[0-9]+|[^0-9]+', 0), " +
            s"p -> CASE WHEN substring(p, 1, 1) BETWEEN '0' AND '9' " +
            s"THEN lpad(p, 19, '0') ELSE p END))")
          if (desc) v.desc else v.asc
        }
        c.orderBy(col("t").asc +: keys :+
          coalesce(col("metric"), lit("")).asc :+
          array_join(col("labels"), ",").asc: _*)
      case Binary(op, l, r, m) => scalarSide(l, r, cmp = false) match {
        case Some((o, v, left)) => operandArith(v, op, o, left)
        case None => vectorArith(rec(l, startSec, endSec), rec(r, startSec, endSec), op, m)
      }
      case TimeFn => unlabeled(grid, col("t") * 1000000L)
      case VectorLit(v) => unlabeled(grid, lit(snapE6(v)))
      case ScalarOf(child) => unlabeled(scalarSteps(rec(child, startSec, endSec)), col("sv"))
      case ScalarLit(_) =>
        throw new IllegalArgumentException("scalar-only expressions are not queries")
    }
  }

  /** The join-key labels under a matching modifier: `on` keeps
    * exactly the listed labels, `ignoring` drops them; no modifier =
    * the full label set (the Prometheus default, __name__ always
    * excluded since `labels` never carries it). */
  private def matchKey(m: Option[Matching]): Column = m match {
    case Some(Matching(true, keys, _, _)) =>
      if (keys.isEmpty) expr("CAST(array() AS ARRAY<STRING>)")
      else expr(s"filter(labels, l -> ${
        keys.map(k => s"startswith(l, '${sqlKey(k)}=')").mkString(" OR ")})")
    case Some(Matching(false, keys, _, _)) if keys.nonEmpty =>
      expr(s"filter(labels, l -> NOT (${
        keys.map(k => s"startswith(l, '${sqlKey(k)}=')").mkString(" OR ")}))")
    case _ => col("labels")
  }

  /** Result labels of a matched arithmetic pair: one-to-one carries
    * the MATCHING labels; group_left/right carries the "many" side's
    * full labels, plus any include labels copied (overwriting) from
    * the "one" side — Prometheus's rules. */
  private def outLabels(m: Option[Matching]): Column = m match {
    case Some(Matching(_, _, card, inc)) if card != 0 =>
      val many = if (card == 1) "l_labels" else "r_labels"
      val one = if (card == 1) "r_labels" else "l_labels"
      if (inc.isEmpty) col(many)
      else {
        val anyInc = inc.map(k => s"startswith(l, '${sqlKey(k)}=')").mkString(" OR ")
        expr(s"array_sort(concat(filter($many, l -> NOT ($anyInc)), " +
          s"filter($one, l -> $anyInc)))")
      }
    case _ => col("jk")
  }

  /** Both sides keyed for a matched join on (jk, t). */
  private def matchedPair(l: DataFrame, r: DataFrame,
                          m: Option[Matching]): DataFrame = {
    val lj = l.withColumn("jk", matchKey(m))
      .select(col("metric").as("l_metric"), col("jk"), col("t"),
        col("v_e6").as("lv"), col("labels").as("l_labels"))
    val rj = r.withColumn("jk", matchKey(m))
      .select(col("jk"), col("t"), col("v_e6").as("rv"),
        col("labels").as("r_labels"))
    lj.join(hashBuild(lj, rj), Seq("jk", "t"))
  }

  /** `r` hinted as a shuffled hash join's build side when both join
    * inputs are one partition ([[SeriesRead.onePartition]]: a small
    * snapshot's open): the join then runs inside that one task with
    * no exchange. Left to its size rule, Spark broadcasts the small
    * side, and a broadcast is a Spark job of its own per request. */
  private def hashBuild(l: DataFrame, r: DataFrame): DataFrame =
    if (SeriesRead.onePartition(l) && SeriesRead.onePartition(r)) r.hint("shuffle_hash")
    else r

  /** vector∘vector: inner equi-join on the matched label set + step
    * (full set by default — the result drops the metric name like
    * every Prometheus binary op). All arithmetic runs on the two
    * sides' exact micro-unit integers, so the IEEE double steps are
    * bit-identical in any engine. A zero divisor drops its row.
    * Scale shape: one equi-join on rows that are already
    * one-per-(series, step); AQE broadcasts a selective side. */
  private def vectorArith(l: DataFrame, r: DataFrame, op: Char,
                          m: Option[Matching]): DataFrame = {
    val j = matchedPair(l, r, m)
    val v = op match {
      case '+' => expr("lv + rv")
      case '-' => expr("lv - rv")
      case '*' => expr(
        "CAST(floor(CAST(lv AS DOUBLE) * CAST(rv AS DOUBLE) / 1000000.0D + 0.5) AS BIGINT)")
      case '/' => expr(
        "CAST(floor(CAST(lv AS DOUBLE) / CAST(rv AS DOUBLE) * 1000000.0D + 0.5) AS BIGINT)")
      // (a/1e6) mod (b/1e6) = (a mod b)/1e6 exactly for the
      // truncated (dividend-sign) remainder both engines' integer
      // `%` computes — Go math.Mod's convention, no rounding at all
      case '%' => expr("lv % rv")
      // 'A' = the atan2 keyword operator (CORDIC, quadrant-correct)
      case 'A' => atan2E6(col("lv"), col("rv"))
      case o   => unsupportedArith(o)
    }
    // a zero divisor/modulus drops its row (Prometheus emits
    // +Inf/NaN; neither survives the exact integer value model)
    val filtered =
      if (op == '/' || op == '%') j.filter(col("rv") =!= 0L) else j
    filtered.select(lit(null).cast("string").as("metric"),
      outLabels(m).as("labels"), col("t"), v.as("v_e6"))
  }

  /** The parser builds [[Binary]] only for `+ - * / %` and atan2
    * (`A`) — `^` becomes [[PowInt]]/[[PowFrac]], comparisons [[Cmp]] —
    * so any other operator reaches eval only from a hand-built tree. */
  private def unsupportedArith(op: Char): Nothing =
    throw new IllegalArgumentException(s"unsupported binary arithmetic operator '$op'")

  /** The scalar side of a binary operator — a literal, `time()` or
    * `scalar(x)` — as one value per step. `e6` is its micro-unit
    * integer (kE6, t·1e6 or sv); `real` the double the `*` and `/`
    * formulas read (the literal k, t or sv/1e6); `steps` the per-step
    * (t, sv) frame a `scalar(x)` joins on t; `literal` the literal's
    * value, whose zero rejects the query instead of dropping rows. */
  private final case class Operand(e6: Column, real: Column,
                                   steps: Option[DataFrame] = None,
                                   literal: Option[Double] = None)

  /** Which side of `l ∘ r` is the scalar operand (true = left), if
    * either is one: a literal first, left before right. Between
    * `time()` and `scalar(x)`, arithmetic takes `scalar(x)` and
    * prefers the left side; a comparison takes `time()` and prefers
    * the right side, so a filter keeps the other side's value. */
  private def operandOnLeft(l: Expr, r: Expr, cmp: Boolean): Option[Boolean] = {
    def rank(e: Expr): Int = e match {
      case ScalarLit(_) => 0
      case TimeFn => if (cmp) 1 else 2
      case ScalarOf(_) => if (cmp) 2 else 1
      case _ => 3
    }
    val (rl, rr) = (rank(l), rank(r))
    if (rl == 3 && rr == 3) None else Some(if (rl != rr) rl < rr else !cmp)
  }

  /** vector∘scalar arithmetic, the operand on either side: a per-row
    * projection on the micro-unit integers (deterministic IEEE
    * arithmetic on values both engines share exactly). A `scalar(x)`
    * operand joins the vector on t alone (labels ignored — Prometheus's
    * scalar semantics; ≤ |grid| rows, so the join broadcasts). A zero
    * divisor or modulus drops its row, like [[vectorArith]]; a literal
    * one rejects the query. Like every Prometheus binary op,
    * arithmetic drops __name__. */
  private def operandArith(child: DataFrame, op: Char, o: Operand,
                           onLeft: Boolean): DataFrame = {
    val x = col("v_e6")
    def halfUp(d: Column): Column = floor(d + lit(0.5)).cast("long")
    val v = (op, onLeft) match {
      case ('+', _)     => x + o.e6
      case ('-', false) => x - o.e6
      case ('-', true)  => o.e6 - x
      case ('*', _)     => halfUp(x.cast("double") * o.real)
      case ('/', false) => halfUp(x.cast("double") / o.real)
      case ('/', true)  => halfUp(o.real * lit(1.0e12) / x.cast("double"))
      case ('%', false) => x % o.e6
      case ('%', true)  => o.e6 % x
      case ('A', false) => atan2E6(x, o.e6)
      case ('A', true)  => atan2E6(o.e6, x)
      case (other, _)   => unsupportedArith(other)
    }
    val j = o.steps.fold(child)(child.join(_, Seq("t")))
    val kept =
      if (op != '/' && op != '%') j
      else if (onLeft) j.filter(x =!= 0L)
      else o.literal match {
        case Some(k) if op == '/' && k == 0.0 =>
          throw new IllegalArgumentException("/ by literal zero")
        // % runs on the SNAPPED kE6 — a literal under half a µ snaps
        // to 0 and would evaluate v_e6 % 0, so the guard tests the
        // value the expression actually uses
        case Some(k) if op == '%' && snapE6(k) == 0L =>
          throw new IllegalArgumentException("% by (effectively) zero literal")
        case Some(_) => j
        case None => j.filter(o.e6 =!= 0L)
      }
    kept.select(lit(null).cast("string").as("metric"), col("labels"),
      col("t"), v.as("v_e6"))
  }

  /** x^n for a literal integer exponent: a per-row chain of the `*`
    * operator's formula — multiply in double, divide by 1e6, round
    * half-up back onto the micro-unit lattice at every step. Each
    * double op is correctly rounded IEEE, so the chain is
    * bit-identical in any engine (the reason fractional exponents,
    * which would need libm pow, are rejected at parse time). Like
    * every value-transforming op, the metric name drops. */
  private def powInt(child: DataFrame, n: Int): DataFrame = {
    val v =
      if (n == 0) lit(1000000L)
      else {
        var e = "CAST(v_e6 AS DOUBLE)"
        for (_ <- 2 to n)
          e = s"floor($e * CAST(v_e6 AS DOUBLE) / 1000000.0D + 0.5)"
        expr(s"CAST($e AS BIGINT)")
      }
    child.select(lit(null).cast("string").as("metric"), col("labels"),
      col("t"), v.as("v_e6"))
  }

  /** x^y for a literal exponent outside the [0,8]-integer fast path:
    * exp(y·ln|x|) composed from [[lnDSql]]/[[expDSql]] — the same
    * deterministic digit folds ln/exp themselves use, so the result
    * is bit-portable by construction. Domain conventions (each a
    * documented deviation in the sqrt/ln style — Prometheus answers
    * NaN/Inf where the integer model drops):
    *   x < 0, y fractional  → row drops (NaN);
    *   x = 0                → 0 for y > 0, drops for y < 0 (+Inf);
    *   y·ln|x| > 29.85      → drops (µ-unit BIGINT overflow, exp's
    *                          own bound);
    *   y·ln|x| ≤ -14.6      → 0 (true result rounds to 0 µ-units);
    *   x < 0, y integer     → sign by parity (odd → negative).
    * Scale shape: a narrow per-row projection like every math fn —
    * no exchange, no UDF. */
  private def powFrac(child: DataFrame, y: Double): DataFrame = {
    val isIntY = y == math.floor(y) && !y.isInfinity
    val negOdd = isIntY && math.abs(y % 2.0d) == 1.0d
    val yLit = s"CAST('${java.lang.Double.toString(y)}' AS DOUBLE)"
    val u = s"($yLit * ${lnDSql("(abs(CAST(v_e6 AS DOUBLE)) / 1000000.0D)")})"
    val base = child
      .filter(col("v_e6") =!= 0L || lit(y > 0))
      .filter(col("v_e6") >= 0L || lit(isIntY))
      .withColumn("_u", when(col("v_e6") === 0L, lit(0.0d)).otherwise(expr(u)))
      .filter(col("_u") <= lit(29.85d))
    val mag = when(col("v_e6") === 0L, lit(0L))
      .when(col("_u") <= lit(-14.6d), lit(0L))
      .otherwise(expr(
        s"CAST(floor(${expDSql("_u")} * 1000000.0D + 0.5D) AS BIGINT)"))
    val signed =
      if (negOdd) when(col("v_e6") < 0L, -mag).otherwise(mag) else mag
    base.select(lit(null).cast("string").as("metric"), col("labels"),
      col("t"), signed.as("v_e6"))
  }

  // ---- driver-side fold replicas -----------------------------------
  // The SAME algorithms as the SQL folds, step for step in Scala
  // doubles (each op correctly rounded IEEE, exactly like the SQL
  // spec) — used to constant-fold scalar literals so a folded
  // literal is bit-identical to what the column fold would compute.
  // Without these, literal operands would take a libm shortcut
  // (math.atan2 / math.pow) that can differ from the fold in the
  // last pre-rounding ulp and flip a µ-boundary depending on which
  // operand happened to be a constant.

  /** Driver twin of [[lnDSql]]. */
  private[graft] def lnDFold(w: Double): Double = {
    var m = w; var e = 0L; var b = 0L
    var i = 1
    while (i <= 88) {
      if (i <= 64) {
        if (m >= 2.0d) { m /= 2.0d; e += 1 }
        else if (m < 1.0d) { m *= 2.0d; e -= 1 }
      } else {
        val mm = m * m
        if (mm >= 2.0d) { m = mm / 2.0d; b = b * 2 + 1 }
        else { m = mm; b = b * 2 }
      }
      i += 1
    }
    (e * 16777216L + b).toDouble / 16777216.0d * 0.6931471805599453d
  }

  /** Driver twin of [[expDSql]] (2^i via exact exponent-field
    * construction — the same value SHIFTLEFT-cast-to-double is). */
  private[graft] def expDFold(u: Double): Double = {
    val t = u * 1.4426950408889634d
    val i = math.floor(t).toLong
    var g = t - math.floor(t)
    var acc = 1.0d; var r = 2.0d
    var j = 0
    while (j < 48) {
      r = math.sqrt(r)
      if (g + g >= 1.0d) { acc *= r; g = g + g - 1.0d }
      else g = g + g
      j += 1
    }
    if (i >= 0) acc * java.lang.Double.longBitsToDouble((1023L + i) << 52)
    else acc / java.lang.Double.longBitsToDouble((1023L - i) << 52)
  }

  /** Driver twin of the CORDIC vectoring fold (cordicAtanCol). */
  private[graft] def cordicAtanFold(u: Double): Double = {
    var x = 1.0d; var y = u; var z = 0.0d
    var i = 0
    while (i < 40) {
      val p = java.lang.Double.parseDouble(CordicPow2(i))
      val a = java.lang.Double.parseDouble(CordicAtan(i))
      if (y > 0.0d) {
        val nx = x + y * p; val ny = y - x * p
        x = nx; y = ny; z += a
      } else {
        val nx = x - y * p; val ny = y + x * p
        x = nx; y = ny; z -= a
      }
      i += 1
    }
    z
  }

  /** Driver twin of [[atan2Col]] — Go quadrant conventions over the
    * vectoring fold, for scalar-literal constant folding. */
  private[graft] def atan2Fold(y: Double, x: Double): Double =
    if (x > 0.0d) cordicAtanFold(y / x)
    else if (x < 0.0d && y >= 0.0d) cordicAtanFold(y / x) + 3.141592653589793d
    else if (x < 0.0d && y < 0.0d) cordicAtanFold(y / x) - 3.141592653589793d
    else if (x == 0.0d && y > 0.0d) HalfPiD.toDouble
    else if (x == 0.0d && y < 0.0d) -HalfPiD.toDouble
    else 0.0d

  /** Scalar x^y through the folds, mirroring [[powFrac]]'s domain —
    * None where the column path would drop the row (the parser
    * rejects those constants instead of inventing a value). */
  private[graft] def powScalarFold(a: Double, y: Double): Option[Double] = {
    val isIntY = y == math.floor(y) && !y.isInfinity
    val negOdd = isIntY && math.abs(y % 2.0d) == 1.0d
    val aE6 = snapE6(a) // µ-snap like a vector row
    if (aE6 == 0L) { if (y > 0) Some(0.0d) else None }
    else if (aE6 < 0L && !isIntY) None
    else {
      val u = y * lnDFold(math.abs(aE6.toDouble) / 1000000.0d)
      if (u > 29.85d) None
      else {
        val magE6 =
          if (u <= -14.6d) 0L
          else math.floor(expDFold(u) * 1000000.0d + 0.5d).toLong
        Some((if (negOdd && aE6 < 0L) -magE6 else magE6).toDouble / 1000000.0d)
      }
    }
  }

  private def cmpCol(op: String, l: Column, r: Column): Column = op match {
    case "==" => l === r
    case "!=" => l =!= r
    case "<"  => l < r
    case "<=" => l <= r
    case ">"  => l > r
    case ">=" => l >= r
  }

  /** vector∘scalar comparison, the operand on either side (a
    * `scalar(x)` operand joins on t, like [[operandArith]]).
    * Prometheus filter semantics: without `bool` the passing rows
    * survive untouched (metric name kept); with `bool` every row
    * becomes 1/0 and the name drops. Exact on the micro-unit
    * integers — no float compare anywhere. */
  private def operandCmp(child: DataFrame, op: String, bool: Boolean,
                         o: Operand, onLeft: Boolean): DataFrame = {
    val j = o.steps.fold(child)(child.join(_, Seq("t")))
    val pred = if (onLeft) cmpCol(op, o.e6, col("v_e6"))
               else cmpCol(op, col("v_e6"), o.e6)
    if (!bool)
      j.filter(pred).select(col("metric"), col("labels"), col("t"), col("v_e6"))
    else
      j.select(lit(null).cast("string").as("metric"), col("labels"),
        col("t"), when(pred, 1000000L).otherwise(0L).as("v_e6"))
  }

  /** vector∘vector comparison: matched equi-join (same keying as
    * [[vectorArith]]), then filter keeping the LEFT side's rows with
    * their full labels and metric name — or, under `bool`, 1/0 per
    * matched pair with the ARITHMETIC label rules (name dropped,
    * matching labels for one-to-one, the many side's under
    * group_left/right). */
  private def vectorCmp(l: DataFrame, r: DataFrame, op: String,
                        bool: Boolean, m: Option[Matching]): DataFrame = {
    val j = matchedPair(l, r, m)
    val pred = cmpCol(op, col("lv"), col("rv"))
    if (!bool)
      j.filter(pred).select(col("l_metric").as("metric"),
        col("l_labels").as("labels"), col("t"), col("lv").as("v_e6"))
    else
      j.select(lit(null).cast("string").as("metric"),
        outLabels(m).as("labels"), col("t"),
        when(pred, 1000000L).otherwise(0L).as("v_e6"))
  }

  /** and | or | unless on the matched label set per step (full set by
    * default, __name__ excluded like binary matching). Values, full
    * labels, and metric names pass through from whichever side a row
    * came from. Scale shape: the probe side reduces to DISTINCT
    * (key, t) before the semi/anti join, so AQE can broadcast a
    * selective right side. */
  private def setOp(l: DataFrame, r: DataFrame, op: String,
                    m: Option[Matching]): DataFrame = {
    val cols = Seq(col("metric"), col("labels"), col("t"), col("v_e6"))
    val lk = l.withColumn("jk", matchKey(m))
    val rk = r.withColumn("jk", matchKey(m)).select("jk", "t").distinct()
    op match {
      case "and" =>
        lk.join(hashBuild(lk, rk), Seq("jk", "t"), "left_semi").select(cols: _*)
      case "unless" =>
        lk.join(hashBuild(lk, rk), Seq("jk", "t"), "left_anti").select(cols: _*)
      case "or" =>
        val lkeys = lk.select("jk", "t").distinct()
        l.select(cols: _*).unionByName(
          r.withColumn("jk", matchKey(m))
            .join(lkeys, Seq("jk", "t"), "left_anti").select(cols: _*))
    }
  }

  /** Per-row math (abs ceil floor sgn round clamp clamp_min
    * clamp_max) on the micro-unit integers — a narrow projection, no
    * shuffle. ceil/floor/round go through a double only to divide by
    * the unit (exact for |v_e6| < 2^52) and the same expression text
    * runs in any engine; everything else is pure integer CASE /
    * least / greatest. The metric name drops, as for every
    * Prometheus value-transforming function. */
  /** Fixed-point log2 of v_e6/1e6 as e·2^24 + 24 fraction bits —
    * a SQL fold whose every arithmetic step is exactly specified by
    * IEEE 754 (×/÷2 exact, squaring correctly rounded), so the
    * resulting BIGINT is identical in Spark and any conforming
    * oracle engine. 64 normalize steps cover e ∈ [-20, 44] (the
    * whole positive µ-unit range); 24 digit steps give 2^-24
    * fractional resolution. Per-row O(88) flops — a narrow
    * projection, no shuffle, codegen-friendly. */
  private val Log2Fold: String =
    "aggregate(sequence(1, 88), " +
      "named_struct('m', CAST(v_e6 AS DOUBLE) / 1000000.0D, 'e', 0L, 'b', 0L), " +
      "(s, i) -> CASE WHEN i <= 64 THEN " +
      "CASE WHEN s.m >= 2.0D THEN named_struct('m', s.m / 2.0D, 'e', s.e + 1L, 'b', s.b) " +
      "WHEN s.m < 1.0D THEN named_struct('m', s.m * 2.0D, 'e', s.e - 1L, 'b', s.b) " +
      "ELSE s END " +
      "ELSE CASE WHEN s.m * s.m >= 2.0D " +
      "THEN named_struct('m', s.m * s.m / 2.0D, 'e', s.e, 'b', s.b * 2L + 1L) " +
      "ELSE named_struct('m', s.m * s.m, 'e', s.e, 'b', s.b * 2L) END END, " +
      "s -> s.e * 16777216L + s.b)"

  /** exp's exponent t = x · log2(e): v_e6→double cast and the two
    * multiplies are correctly rounded — deterministic. */
  private val ExpT: String =
    "CAST(v_e6 AS DOUBLE) / 1000000.0D * 1.4426950408889634D"

  // ---- CORDIC (trigonometry without libm) --------------------------
  // The rotation/vectoring folds below compute sin/cos/atan from
  // ONLY exactly-specified IEEE ops: multiplies by powers of two
  // (exact), additions (correctly rounded), comparisons, and the 40
  // table constants — double literals both engines parse to the
  // identical bit pattern. Like the log/exp folds, the CONSTANTS AND
  // THE LOOP ARE THE SPEC: any conforming engine reproduces the
  // result bit-for-bit. 40 iterations ≈ 2e-12 absolute error — five
  // orders below the µ-unit grain.

  /** 2^-i, i = 0..39 — exact double literals. */
  private[graft] val CordicPow2: Seq[String] = (0 until 40).map(i =>
    java.lang.Double.toString(math.pow(2.0, -i)))
  /** atan(2^-i), i = 0..39 — the rotation-angle table. */
  private[graft] val CordicAtan: Seq[String] = (0 until 40).map(i =>
    java.lang.Double.toString(math.atan(math.pow(2.0, -i))))
  /** K = Π cos(atan 2^-i): starting x at K makes the rotation fold
    * land directly on (cos r, sin r) — no post-scaling multiply. */
  private[graft] val CordicK: String = java.lang.Double.toString(
    (0 until 40).foldLeft(1.0)((a, i) => a / math.sqrt(1.0 + math.pow(2.0, -2 * i))))
  private[graft] val HalfPiD: String = "1.5707963267948966"

  // The tables ride as single ArrayType LITERALS (one Catalyst node
  // each), not 40-element array(CAST(...)) constructors: the CORDIC
  // folds reference them six times per instance, and the inlined
  // form made the trig queries' plan-compile time their dominant
  // cost. The Literal doubles are the very values the string
  // constants print (Double.toString is shortest-round-trip), so
  // the arithmetic is unchanged bit-for-bit.
  private lazy val Pow2Lit =
    typedLit[Seq[Double]]((0 until 40).map(i => math.pow(2.0, -i)))
  private lazy val AtanLit =
    typedLit[Seq[Double]]((0 until 40).map(i => math.atan(math.pow(2.0, -i))))

  /** Rotation mode: (x, y) starts at (K, 0) and rotates by r — the
    * fold answers a struct(x ≈ cos r, y ≈ sin r), |r| ≤ π/4 after
    * quadrant reduction. */
  private def cordicRotateCol(r: Column): Column =
    org.apache.spark.sql.functions.aggregate(sequence(lit(0), lit(39)),
      struct(lit(CordicK.toDouble).as("x"), lit(0.0d).as("y"), r.as("z")),
      (s, i) => {
        val p = element_at(Pow2Lit, i + 1)
        val a = element_at(AtanLit, i + 1)
        when(s.getField("z") >= 0.0d, struct(
          (s.getField("x") - s.getField("y") * p).as("x"),
          (s.getField("y") + s.getField("x") * p).as("y"),
          (s.getField("z") - a).as("z")))
        .otherwise(struct(
          (s.getField("x") + s.getField("y") * p).as("x"),
          (s.getField("y") - s.getField("x") * p).as("y"),
          (s.getField("z") + a).as("z")))
      },
      s => struct(s.getField("x").as("x"), s.getField("y").as("y")))

  /** Vectoring mode: drives y → 0 accumulating z ≈ atan(u) (x0 = 1,
    * so any finite u converges: |atan u| < π/2 < Σ atan 2^-i). */
  private def cordicAtanCol(u: Column): Column =
    org.apache.spark.sql.functions.aggregate(sequence(lit(0), lit(39)),
      struct(lit(1.0d).as("x"), u.as("y"), lit(0.0d).as("z")),
      (s, i) => {
        val p = element_at(Pow2Lit, i + 1)
        val a = element_at(AtanLit, i + 1)
        when(s.getField("y") > 0.0d, struct(
          (s.getField("x") + s.getField("y") * p).as("x"),
          (s.getField("y") - s.getField("x") * p).as("y"),
          (s.getField("z") + a).as("z")))
        .otherwise(struct(
          (s.getField("x") - s.getField("y") * p).as("x"),
          (s.getField("y") + s.getField("x") * p).as("y"),
          (s.getField("z") - a).as("z")))
      },
      s => s.getField("z"))

  /** atan2(y, x) on doubles — Go math.Atan2's quadrant conventions
    * (what Prometheus computes) over the CORDIC vectoring fold: the
    * y/x divide is correctly rounded, the quadrant corrections add
    * exact-parse ±π, so the whole thing stays bit-portable.
    * atan2(0, 0) = 0 and atan2(0, x<0) = π, like Go. */
  private def atan2Col(y: Column, x: Column): Column = {
    val pi = lit(3.141592653589793d)
    // ONE copy of the vectoring fold (it used to appear in three
    // quadrant branches, tripling the expression tree Catalyst
    // re-walks per run): the quadrant correction is added to the
    // shared fold instead. The x > 0 branch adds +0.0 — on doubles
    // that is the identity except for −0.0 (→ +0.0), and the only
    // consumer ([[atan2E6]]) floors (v·1e6 + 0.5), which maps ±0.0
    // to the same 0 µ-value, so results are bit-identical. Inputs
    // are µ-integer-derived and never NaN (the old NaN→0 branch was
    // unreachable for the same reason).
    when(x === 0.0d,
        when(y > 0.0d, lit(HalfPiD.toDouble))
          .when(y < 0.0d, -lit(HalfPiD.toDouble))
          .otherwise(lit(0.0d)))
      .otherwise(cordicAtanCol(y / x) +
        when(x > 0.0d, lit(0.0d))
          .when(y >= 0.0d, pi)
          .otherwise(-pi))
  }

  /** µ-rounded atan2 on two micro-unit columns. */
  private def atan2E6(yE6: Column, xE6: Column): Column =
    floor(atan2Col(yE6.cast("double") / 1000000.0d,
      xE6.cast("double") / 1000000.0d) * 1000000.0d + 0.5d).cast("long")

  /** The exp fold generalized to a DOUBLE argument expression, result
    * still a DOUBLE (no µ-rounding) — the building block hyperbolics
    * compose (same deterministic digit algorithm as the µ-int exp;
    * callers bound |u| so the power-of-two shift stays in range). */
  private def expDSql(uExpr: String): String = {
    val tE = s"(($uExpr) * 1.4426950408889634D)"
    val fold =
      s"aggregate(sequence(1, 48), " +
        s"named_struct('g', $tE - floor($tE), 'acc', 1.0D, 'r', 2.0D), " +
        "(s, j) -> CASE WHEN s.g + s.g >= 1.0D " +
        "THEN named_struct('g', s.g + s.g - 1.0D, 'acc', s.acc * sqrt(s.r), 'r', sqrt(s.r)) " +
        "ELSE named_struct('g', s.g + s.g, 'acc', s.acc, 'r', sqrt(s.r)) END, " +
        "s -> s.acc)"
    s"(CASE WHEN CAST(floor($tE) AS INT) >= 0 " +
      s"THEN $fold * CAST(SHIFTLEFT(1L, CAST(floor($tE) AS INT)) AS DOUBLE) " +
      s"ELSE $fold / CAST(SHIFTLEFT(1L, -CAST(floor($tE) AS INT)) AS DOUBLE) END)"
  }

  /** The log fold generalized to a positive DOUBLE argument, result
    * ln(w) as a DOUBLE (fixed-point log2 scaled by ln 2). */
  private def lnDSql(wExpr: String): String = {
    val fold =
      s"aggregate(sequence(1, 88), " +
        s"named_struct('m', ($wExpr), 'e', 0L, 'b', 0L), " +
        "(s, i) -> CASE WHEN i <= 64 THEN " +
        "CASE WHEN s.m >= 2.0D THEN named_struct('m', s.m / 2.0D, 'e', s.e + 1L, 'b', s.b) " +
        "WHEN s.m < 1.0D THEN named_struct('m', s.m * 2.0D, 'e', s.e - 1L, 'b', s.b) " +
        "ELSE s END " +
        "ELSE CASE WHEN s.m * s.m >= 2.0D " +
        "THEN named_struct('m', s.m * s.m / 2.0D, 'e', s.e, 'b', s.b * 2L + 1L) " +
        "ELSE named_struct('m', s.m * s.m, 'e', s.e, 'b', s.b * 2L) END END, " +
        "s -> s.e * 16777216L + s.b)"
    s"(CAST($fold AS DOUBLE) / 16777216.0D * 0.6931471805599453D)"
  }

  /** 2^frac(t) by binary-digit extraction: g doubles exactly
    * (g2 - 1 exact by Sterbenz on [1,2)); each set bit multiplies in
    * sqrt^j(2), itself a chain of correctly-rounded sqrts. 48 bits
    * capture every fraction bit t can carry. */
  private val ExpFold: String =
    "aggregate(sequence(1, 48), " +
      s"named_struct('g', $ExpT - floor($ExpT), 'acc', 1.0D, 'r', 2.0D), " +
      "(s, j) -> CASE WHEN s.g + s.g >= 1.0D " +
      "THEN named_struct('g', s.g + s.g - 1.0D, 'acc', s.acc * sqrt(s.r), 'r', sqrt(s.r)) " +
      "ELSE named_struct('g', s.g + s.g, 'acc', s.acc, 'r', sqrt(s.r)) END, " +
      "s -> s.acc)"

  /** The trig/hyperbolic family — computed through intermediate
    * columns (the folds appear once each, not once per CASE branch).
    * All deterministic-by-construction: CORDIC for sin/cos/atan,
    * exp/ln-fold compositions for the hyperbolics, documented
    * identities for the rest. Domain rows outside each function's
    * range DROP (the sqrt/ln convention); values are defined by the
    * algorithm, accurate to ~2e-12 absolute — five orders below the
    * µ grain. */
  private val TrigFns: Set[String] = Set("sin", "cos", "tan", "asin",
    "acos", "atan", "sinh", "cosh", "tanh", "asinh", "acosh", "atanh")

  private def micro(e: String): String =
    s"CAST(floor(($e) * 1000000.0D + 0.5D) AS BIGINT)"

  private def trigProject(child: DataFrame, fn: String): DataFrame = {
    val base0 = fn match {
      // sinh/cosh overflow the µ-unit BIGINT past |x| ≈ 29.85 —
      // same bound (and same row-drop deviation) as exp
      case "sinh" | "cosh" => child.filter(abs(col("v_e6")) <= 29850000L)
      case "asin" | "acos" => child.filter(abs(col("v_e6")) <= 1000000L)
      case "acosh"         => child.filter(col("v_e6") >= 1000000L)
      case "atanh"         => child.filter(abs(col("v_e6")) < 1000000L)
      case _               => child
    }
    val t = base0.withColumn("_t", expr("CAST(v_e6 AS DOUBLE) / 1000000.0D"))
    val hp = lit(HalfPiD.toDouble)
    def microC(c: Column): Column = floor(c * 1000000.0d + 0.5d).cast("long")
    val out: DataFrame = fn match {
      case "sin" | "cos" | "tan" =>
        // quadrant reduction: r = t - k·(π/2) ∈ [-π/4, π/4] — the
        // k·HALF_PI multiply and subtract are correctly rounded, so
        // the (deterministic) reduction loses accuracy only at huge
        // |t|, exactly as float sin does everywhere
        val df = t
          .withColumn("_k", floor(col("_t") / hp + lit(0.5d)).cast("long"))
          .withColumn("_r", col("_t") - col("_k").cast("double") * hp)
          .withColumn("_q", expr("((_k % 4) + 4) % 4"))
          .withColumn("_c", cordicRotateCol(col("_r")))
          .withColumn("_sin", expr(
            "CASE _q WHEN 0 THEN _c.y WHEN 1 THEN _c.x WHEN 2 THEN -_c.y ELSE -_c.x END"))
          .withColumn("_cos", expr(
            "CASE _q WHEN 0 THEN _c.x WHEN 1 THEN -_c.y WHEN 2 THEN -_c.x ELSE _c.y END"))
        fn match {
          case "sin" => df.withColumn("_v", expr(micro("_sin")))
          case "cos" => df.withColumn("_v", expr(micro("_cos")))
          case "tan" =>
            // a pole (cos → 0) or µ-BIGINT overflow drops the row
            df.withColumn("_v", expr(
              "CASE WHEN _cos = 0.0D OR abs(_sin / _cos) > 9.0e12D THEN NULL " +
                s"ELSE ${micro("_sin / _cos")} END"))
        }
      case "atan" =>
        t.withColumn("_v", microC(cordicAtanCol(col("_t"))))
      case "asin" | "acos" =>
        // asin x = atan(x / √(1-x²)); the ±1 endpoints short-circuit
        // (the quotient would be ∞); acos = π/2 − asin at the double
        // level, rounded once
        val as0 = when(col("_t") === 1.0d, hp)
          .when(col("_t") === -1.0d, -hp)
          .otherwise(cordicAtanCol(expr("_t / sqrt(1.0D - _t * _t)")))
        val df = t.withColumn("_as", as0)
        if (fn == "asin") df.withColumn("_v", microC(col("_as")))
        else df.withColumn("_v", microC(hp - col("_as")))
      case "sinh" | "cosh" | "tanh" =>
        val df = t
          .withColumn("_ep", expr(expDSql("_t")))
          .withColumn("_en", expr(expDSql("-_t")))
        fn match {
          case "sinh" => df.withColumn("_v", expr(micro("(_ep - _en) / 2.0D")))
          case "cosh" => df.withColumn("_v", expr(micro("(_ep + _en) / 2.0D")))
          case "tanh" =>
            // |x| > 20: tanh is 1 to within 1e-17 — short-circuit
            // keeps the expD shift in range for any input
            df.withColumn("_v", expr(
              "CASE WHEN v_e6 > 20000000L THEN 1000000L " +
                "WHEN v_e6 < -20000000L THEN -1000000L " +
                s"ELSE ${micro("(_ep - _en) / (_ep + _en)")} END"))
        }
      case "asinh" =>
        // asinh x = sign(x)·ln(|x| + √(x²+1)) — the |x| form avoids
        // the catastrophic cancellation of the negative branch
        t.withColumn("_l", expr(lnDSql("abs(_t) + sqrt(_t * _t + 1.0D)")))
          .withColumn("_v", expr(
            s"CASE WHEN v_e6 >= 0L THEN ${micro("_l")} " +
              s"ELSE -${micro("_l")} END"))
      case "acosh" =>
        t.withColumn("_v",
          expr(micro(lnDSql("_t + sqrt(_t * _t - 1.0D)"))))
      case "atanh" =>
        // atanh x = ln((1+x)/(1-x)) · 0.5 (exact halving)
        t.withColumn("_v",
          expr(micro(s"${lnDSql("(1.0D + _t) / (1.0D - _t)")} * 0.5D")))
    }
    // The null-drop rides INSIDE the generator (array_compact of a
    // 1-element array) instead of a .filter(isNotNull): a filter on
    // the derived column is pushed below the projection, which
    // DUPLICATES the whole CORDIC/exp fold into the filter predicate
    // — doubling the expression tree Catalyst re-walks and codegen
    // re-prints on every run (the dominant cost of these queries at
    // bench scale; the fold itself is 40 interpreted steps over a
    // handful of rows). The generator references _v exactly once, so
    // the fold appears exactly once in the physical plan; emitted
    // rows are identical (non-null _v, one row each).
    out.select(lit(null).cast("string").as("metric"), col("labels"),
        col("t"),
        explode(expr("array_compact(array(CAST(_v AS BIGINT)))")).as("v_e6"))
  }

  private def mathProject(child: DataFrame, fn: String,
                          args: Seq[Double]): DataFrame = {
    if (TrigFns(fn)) return trigProject(child, fn)
    val asDate =
      "date_add(DATE'1970-01-01', CAST((v_e6 DIV 1000000) DIV 86400 AS INT))"
    val v: Column = fn match {
      case "abs" => expr("abs(v_e6)")
      case "floor" =>
        expr("CAST(floor(CAST(v_e6 AS DOUBLE) / 1000000.0D) AS BIGINT) * 1000000")
      case "ceil" =>
        expr("-(CAST(floor(CAST(-v_e6 AS DOUBLE) / 1000000.0D) AS BIGINT) * 1000000)")
      case "sgn" =>
        expr("CASE WHEN v_e6 > 0 THEN 1000000L WHEN v_e6 < 0 THEN -1000000L ELSE 0L END")
      case "round" =>
        // Prometheus rounds half UP (toward +Inf) to the nearest
        // multiple of to_nearest (default 1)
        val n = snapE6(args.headOption.getOrElse(1.0))
        expr(s"CAST(floor(CAST(v_e6 AS DOUBLE) / ${n}D + 0.5D) AS BIGINT) * ${n}L")
      case "clamp" =>
        expr(s"least(greatest(v_e6, ${snapE6(args(0))}L), ${snapE6(args(1))}L)")
      case "clamp_min" => expr(s"greatest(v_e6, ${snapE6(args(0))}L)")
      case "clamp_max" => expr(s"least(v_e6, ${snapE6(args(0))}L)")
      // sqrt is IEEE correctly-rounded — the one transcendental-ish
      // function every engine computes bit-identically
      case "sqrt" =>
        expr("CAST(floor(sqrt(CAST(v_e6 AS DOUBLE) / 1000000.0D) " +
          "* 1000000 + 0.5) AS BIGINT)")
      // ln/log2/log10: NO libm call (libm log is not correctly
      // rounded — engines disagree in the last ulp). Digit
      // extraction instead, from exactly-specified IEEE ops only:
      // normalize x = m·2^e by exact ×/÷2 (≤64 steps), then 24
      // squaring steps pull the binary digits of log2(m) — squaring
      // is correctly rounded and ÷2 exact, so every engine computes
      // the IDENTICAL fixed-point log2_fx = e·2^24 + bits. The three
      // variants scale log2_fx by exact-parse double constants
      // (ln 2·1e6 / log10 2·1e6) with one correctly-rounded multiply.
      // Accuracy ≈ 2^-24/ln2 ≈ 0.09 µ-unit — far inside the grain;
      // the contract is bit-portability, which is by construction.
      case "ln" | "log2" | "log10" =>
        val scale = fn match {
          case "log2"  => "1000000.0D"
          case "ln"    => "693147.1805599453D"    // ln(2)  · 1e6
          case "log10" => "301029.99566398119D"   // log10(2) · 1e6
        }
        expr("CAST(floor(CAST(" + Log2Fold + " AS DOUBLE) / 16777216.0D" +
          s" * $scale + 0.5D) AS BIGINT)")
      // exp(x) = 2^(x·log2 e) = 2^i · 2^g: i by exact floor, the
      // bits of g ∈ [0,1) by exact doubling, each set bit multiplying
      // in sqrt^j(2) — sqrt correctly rounded, multiply correctly
      // rounded, so again bit-identical across engines. 2^i is an
      // exact shifted-integer multiply/divide (never libm pow).
      // Domain: x > ~29.85 would overflow the µ-unit BIGINT — the
      // row DROPS (Prometheus would answer a huge float/Inf — the
      // sqrt-style deviation); x ≤ -14.6 short-circuits to 0 (true
      // exp rounds to 0 µ-units there) keeping the shift in range.
      case "exp" =>
        expr(
          s"""CASE WHEN v_e6 <= -14600000L THEN 0L ELSE
             |CAST(floor(
             |  CASE WHEN CAST(floor($ExpT) AS INT) >= 0
             |       THEN $ExpFold * CAST(SHIFTLEFT(1L, CAST(floor($ExpT) AS INT)) AS DOUBLE)
             |       ELSE $ExpFold / CAST(SHIFTLEFT(1L, -CAST(floor($ExpT) AS INT)) AS DOUBLE)
             |  END * 1000000.0D + 0.5D) AS BIGINT) END""".stripMargin)
      // one correctly-rounded multiply by an exact-parse constant —
      // portable like the scalar `*` operator
      case "deg" =>
        expr("CAST(floor(CAST(v_e6 AS DOUBLE) " +
          "* CAST('57.29577951308232' AS DOUBLE) + 0.5D) AS BIGINT)")
      case "rad" =>
        expr("CAST(floor(CAST(v_e6 AS DOUBLE) " +
          "* CAST('0.017453292519943295' AS DOUBLE) + 0.5D) AS BIGINT)")
      // calendar functions read the value as epoch SECONDS (UTC) —
      // pure integer arithmetic; epoch day 0 was a Thursday
      case "hour" =>
        expr("(v_e6 DIV 1000000) % 86400 DIV 3600 * 1000000")
      case "minute" =>
        expr("(v_e6 DIV 1000000) % 3600 DIV 60 * 1000000")
      case "day_of_week" =>
        expr("((v_e6 DIV 1000000) DIV 86400 + 4) % 7 * 1000000")
      // the remaining calendar reads go through a DATE (tz-free
      // proleptic Gregorian — exact integers in any engine)
      case "day_of_month" => expr(s"dayofmonth($asDate) * 1000000L")
      case "day_of_year"  => expr(s"dayofyear($asDate) * 1000000L")
      case "month"        => expr(s"month($asDate) * 1000000L")
      case "year"         => expr(s"year($asDate) * 1000000L")
      case "days_in_month" =>
        expr(s"dayofmonth(last_day($asDate)) * 1000000L")
    }
    // Prometheus answers NaN for sqrt of a negative (and -Inf/NaN
    // for log of a non-positive, +Inf past exp's overflow); the
    // exact integer model drops those rows instead (the
    // idelta-style deviation)
    val base = fn match {
      case "sqrt"                  => child.filter(col("v_e6") >= 0L)
      case "ln" | "log2" | "log10" => child.filter(col("v_e6") > 0L)
      case "exp"                   => child.filter(col("v_e6") <= 29850000L)
      case _                       => child
    }
    base.select(lit(null).cast("string").as("metric"), col("labels"),
      col("t"), v.cast("long").as("v_e6"))
  }

  /** label_replace: where `regex` matches the ENTIRE value of `src`
    * (missing label = ""), set `dst` to the replacement with capture
    * groups expanded; an empty result removes dst, a non-match leaves
    * the row untouched — Prometheus's rules, metric name and value
    * kept. A narrow per-row projection, no shuffle. The label names
    * may be ANY quoted-UTF-8 string (Prometheus 3.x), so every splice
    * into SQL text goes through [[sqlKey]]; the regex and replacement
    * ride in as `lit` columns, never spliced into SQL text. The
    * substring offset uses the RAW src length — escaping changes the
    * literal's spelling, not the runtime string. */
  private def labelReplaceProject(child: DataFrame, dst: String, rep: String,
                                  src: String, re: String): DataFrame = {
    val srcVal = coalesce(
      expr(s"substring(get(filter(labels, l -> startswith(l, '${sqlKey(src)}=')), 0), " +
        s"${src.length + 2})"),
      lit(""))
    val anchored = "^(?:" + re + ")$"
    val matched = regexp_like(srcVal, lit(anchored))
    val newVal = regexp_replace(srcVal, lit(anchored), lit(rep))
    val without = expr(s"filter(labels, l -> NOT (startswith(l, '${sqlKey(dst)}=')))")
    val rebuilt = when(!matched, col("labels"))
      .when(newVal === "", without)
      .otherwise(array_sort(concat(without,
        array(concat(lit(dst + "="), newVal)))))
    child.select(col("metric"), rebuilt.as("labels"), col("t"), col("v_e6"))
  }

  /** histogram_quantile(φ, child): Prometheus's piecewise-linear
    * estimate over cumulative `le`-labeled buckets, with DYNAMIC
    * bucket bounds read from the data (unlike
    * RangeOps.histogramQuantile's fixed `les`). Series group on their
    * label set minus `le` (and metric, kept in the key so distinct
    * metrics never mix); within a group at each step the first bucket
    * whose count reaches rank = φ·total (total = the le="+Inf"
    * series) interpolates between its bounds — lower bound 0 for the
    * first bucket — and a rank landing in the +Inf bucket clamps to
    * the highest finite bound, both RangeOps.hqCaseSql's conventions.
    * Groups without a +Inf series drop (no total to rank against).
    *
    * Determinism: counts come off the child's exact v_e6 integers and
    * the interpolation is one fixed-text IEEE expression, identical
    * in any engine. φ > 0 guarantees the crossing bucket strictly
    * exceeds its predecessor, so the division is well-defined.
    *
    * Scale shape: rows in are one per (series, step) — already
    * aggregated, never raw samples — and the lag + group pair runs on
    * one (glabels…, t) exchange; skew ceiling is buckets per
    * histogram, a config constant. */
  private def histQuantile(child: DataFrame, q: Double): DataFrame = {
    // ONE pass over the child: the +Inf total is a same-group window
    // aggregate instead of a join against a second derivation of the
    // child — the old finite⋈totals self-join re-evaluated the whole
    // bucket-vector subtree (instant eval incl. its scans) once per
    // leg and paid the join's exchanges; both windows and the final
    // aggregate now share one (metric, glabels, t)-keyed exchange.
    // Only the canonical 'le=+Inf' spelling is the +Inf TOTAL: a
    // non-canonical infinite label (le=Infinity casts to +∞ too)
    // competes as a +Inf bucket via the window max rather than the
    // pre-r21 finite-bucket treatment — Prometheus itself only emits
    // the canonical spelling (same convention in histFraction /
    // histStdDev below).
    // The +Inf row sorts after every finite bound, so the finite
    // rows' lag() chain is unchanged; groups without a +Inf series
    // still drop (total is null there), and malformed finite bounds
    // still drop before the window (TRY_CAST null).
    val tagged = child
      .withColumn("le_str",
        expr("get(filter(labels, l -> startswith(l, 'le=')), 0)"))
      .filter(col("le_str").isNotNull)
      .withColumn("glabels", expr("filter(labels, l -> NOT (startswith(l, 'le=')))"))
      .withColumn("c", expr("CAST(v_e6 AS DOUBLE) / 1000000.0D"))
      .withColumn("le", expr("CASE WHEN le_str = 'le=+Inf' " +
        "THEN CAST('Infinity' AS DOUBLE) " +
        "ELSE TRY_CAST(substring(le_str, 4) AS DOUBLE) END"))
      .filter(col("le").isNotNull)
    val grp = Window.partitionBy(col("metric"), col("glabels"), col("t"))
    val w = grp.orderBy(col("le"))
    val cand = tagged
      .withColumn("total",
        max(when(col("le") === lit(Double.PositiveInfinity), col("c"))).over(grp))
      .withColumn("prev_c", coalesce(lag(col("c"), 1).over(w), lit(0.0)))
      .withColumn("prev_le", coalesce(lag(col("le"), 1).over(w), lit(0.0)))
      .filter(col("le") =!= lit(Double.PositiveInfinity))
      // an idle histogram (total 0) has no quantile: rk would be 0 and
      // the first bucket's 0/0 interpolation is NaN — drop the group
      // (the exact-integer stand-in for Prometheus's NaN)
      .filter(col("total").isNotNull && col("total") > 0.0)
      .withColumn("rk", lit(q) * col("total"))
    cand
      .groupBy(col("metric"), col("glabels"), col("t"))
      .agg(
        min(when(col("c") >= col("rk"),
          struct(col("le"), col("prev_le"), col("prev_c"), col("c"),
            col("rk")))).as("arm"),
        max(col("le")).as("le_max"))
      .select(lit(null).cast("string").as("metric"),
        col("glabels").as("labels"), col("t"),
        expr("CAST(floor(coalesce(" +
          "arm.prev_le + (arm.le - arm.prev_le) * (arm.rk - arm.prev_c) " +
          "/ (arm.c - arm.prev_c), le_max) * 1000000 + 0.5) AS BIGINT)")
          .as("v_e6"))
  }

  /** Opt-in NATIVE histogram_quantile: when the caller hands the
    * sibling hist store (PromQL.eval's nativeHist — the flag; None
    * keeps today's classic path) AND the argument is a plain instant
    * selector naming a metric that actually holds native samples in
    * the window, evaluate Prometheus 3.x's native estimator
    * (NativeHistogram.quantile, exponential-bucket interpolation)
    * instead of desugaring onto the classic `_bucket` expansion.
    * The prompb decode + per-sample estimate run in ONE
    * mapPartitions pass (a wire-codec leg, like the ingest side);
    * instant-vector alignment then rides the standard [[instant]]
    * helper, and the metric name drops like the classic path's.
    * NaN estimates (empty histograms) drop — the same stand-in
    * [[histQuantile]] uses for Prometheus's NaN. */
  private def nativeHistQ(q: Double, child: Expr, startSec: Long,
                          endSec: Long, stepSec: Long, lookbackSec: Long,
                          ignoreLabel: Option[String],
                          nativeHist: Option[DataFrame],
                          stale: Option[DataFrame]): Option[DataFrame] =
    nativeHistEval(child, graft.ingest.NativeHistogram.quantile(q, _),
      startSec, endSec, stepSec, lookbackSec, ignoreLabel, nativeHist, stale)

  /** histogram_fraction over native samples — upstream this function
    * is native-ONLY; graft's classic le-bucket version stays the
    * default surface and this estimator (exponential interpolation,
    * NativeHistogram.fraction) serves behind the same flag. */
  private def nativeHistFrac(lo: Double, hi: Double, child: Expr,
                             startSec: Long, endSec: Long, stepSec: Long,
                             lookbackSec: Long, ignoreLabel: Option[String],
                             nativeHist: Option[DataFrame],
                             stale: Option[DataFrame]): Option[DataFrame] =
    nativeHistEval(child, graft.ingest.NativeHistogram.fraction(lo, hi, _),
      startSec, endSec, stepSec, lookbackSec, ignoreLabel, nativeHist, stale)

  /** Shared native-sample evaluation: per-sample scalar estimate
    * (prompb decode + `est`, one wire-codec mapPartitions pass),
    * then the standard instant-vector alignment; the metric name
    * drops like the classic estimators'. */
  private def nativeHistEval(child: Expr,
                             est: graft.ingest.NativeHistogram.Hist => Double,
                             startSec: Long, endSec: Long, stepSec: Long,
                             lookbackSec: Long, ignoreLabel: Option[String],
                             nativeHist: Option[DataFrame],
                             stale: Option[DataFrame]): Option[DataFrame] =
    nativeHist.flatMap { hs =>
      histVec(hs, child, startSec, endSec, stepSec, lookbackSec,
        ignoreLabel, stale).map { vec =>
        val sp = hs.sparkSession
        import sp.implicits._
        vec.select(col("labels"), col("t"), col("hb"))
          .as[(Seq[String], Long, Array[Byte])]
          .mapPartitions(_.map { case (ls, t, b) =>
            (ls, t, est(graft.ingest.NativeHistogram.decode(
              graft.ingest.ProtoWire.reader(b))))
          })
          .toDF("labels", "t", "value")
          .filter(!isnan(col("value")))
          .select(lit(null).cast("string").as("metric"), col("labels"),
            col("t"),
            expr("CAST(floor(value * 1000000 + 0.5) AS BIGINT)").as("v_e6"))
      }
    }

  /** The native scan for one selector: pushed name probe (metric
    * equality rides row-group stats, so proving ABSENCE — what every
    * classic-histogram query pays under the flag — never evaluates
    * label matchers), then the full matcher prune with an emptiness
    * probe: a selector whose matchers hit only classic-only twin
    * series falls back to the classic `_bucket` evaluation instead
    * of answering empty (Prometheus evaluates mixed vectors). */
  private def histSel(hs: DataFrame, ms: Seq[LabelMatcher], loMs: Long,
                      hiMs: Long, ignoreLabel: Option[String])
      : Option[DataFrame] = {
    val name = ms.collectFirst {
      case m if m.mtype == MatcherType.Eq &&
        m.name == Matchers.NameLabel => m.value
    }.getOrElse(return None)
    val bounded = SeriesRead.timeBound(hs, loMs, hiMs)
    if (bounded.filter(col("metric") === name).limit(1).isEmpty) return None
    val pruned = bounded.filter(Matchers.compilePromQL(ms, ignoreLabel))
    if (pruned.limit(1).isEmpty) None else Some(pruned)
  }

  /** A native-histogram VECTOR at grid steps — columns (metric,
    * labels, t, hb) with `hb` the prompb Histogram bytes of the
    * (series, step)'s effective histogram:
    *
    *  - `sel` / `sel offset o`: the latest sample in the (t-L, t]
    *    lookback, stale markers ending the series like [[instant]];
    *  - `rate(sel[d])`: bucket-wise observed-span rate — first/last
    *    sample in [t-d, t) on common geometry (NativeHistogram
    *    .align), subtracted (any bucket going DOWN is a counter
    *    reset → the window drops, the exact-integer rate model's
    *    convention), scaled by 1/observed-span;
    *  - `sum by (…) (child)` / `sum without (…)`: sparse bucket
    *    addition across the group (NativeHistogram.add), composing
    *    over either shape above — `histogram_quantile(0.9,
    *    sum by (job) (rate(m[5m])))`, THE dashboard idiom.
    *
    * Same-second duplicates collapse to the lexicographically
    * greatest bytes (deterministic where scan order isn't). The sum
    * leg's per-(group, step) collect is bounded by the group's
    * series count — the cardinality any aggregation carries. */
  private def histVec(hs: DataFrame, e: Expr, startSec: Long, endSec: Long,
                      stepSec: Long, lookbackSec: Long,
                      ignoreLabel: Option[String],
                      stale: Option[DataFrame]): Option[DataFrame] = {
    import graft.ingest.{NativeHistogram => NH, ProtoWire}
    val sp = hs.sparkSession
    import sp.implicits._
    def dedupSec(df: DataFrame): DataFrame =
      df.select(col("metric"), col("labels"),
          expr("ts_us DIV 1000000").as("t_sec"), col("hist").as("hb"))
        .groupBy(col("metric"), col("labels"), col("t_sec"))
        .agg(max(col("hb")).as("hb"))
    e match {
      case Instant(ms, off) =>
        val s = startSec - off; val en = endSec - off
        val lo = s - lookbackSec + 1
        histSel(hs, ms, lo * 1000L, en * 1000L, ignoreLabel).map { pruned =>
          val marks = stale.map(st =>
            SeriesRead.timeBound(st, lo * 1000L, en * 1000L)
              .filter(Matchers.compilePromQL(ms, ignoreLabel))
              .select(col("metric"), col("labels"),
                expr("ts_us DIV 1000000").as("t_sec"),
                lit(null).cast("binary").as("hb"))
              .distinct())
          latestLive(dedupSec(pruned), marks, "hb", s, en, stepSec, lookbackSec)
            .select(col("metric"), col("labels"), (col("t") + off).as("t"),
              col("v").as("hb"))
        }
      case RangeCall("rate", ms, d, off) =>
        val s = startSec - off; val en = endSec - off
        histSel(hs, ms, (s - d) * 1000L, (en - 1) * 1000L, ignoreLabel)
          .map { pruned =>
            val paired = onGrid(dedupSec(pruned), "t_sec", s, en, stepSec, 1, d)
              .groupBy(col("metric"), col("labels"), col("t"))
              .agg(min_by(col("hb"), col("t_sec")).as("hb0"),
                max_by(col("hb"), col("t_sec")).as("hb1"),
                min(col("t_sec")).as("tf"), max(col("t_sec")).as("tl"),
                count(lit(1)).as("n"))
              .filter(col("n") >= 2)
            paired.select(col("metric"), col("labels"), col("t"),
                col("hb0"), col("hb1"), (col("tl") - col("tf")).as("span"))
              .as[(String, Seq[String], Long, Array[Byte], Array[Byte], Long)]
              .mapPartitions(_.flatMap { case (m, ls, t, b0, b1, span) =>
                val first = NH.toSparse(NH.decode(ProtoWire.reader(b0)))
                val last = NH.toSparse(NH.decode(ProtoWire.reader(b1)))
                NH.subtract(last, first).map { diff =>
                  (m, ls, t, NH.encode(NH.fromSparse(t * 1000L,
                    NH.scale(diff, 1.0d / span.toDouble))))
                }
              })
              .toDF("metric", "labels", "t", "hb")
              .withColumn("t", col("t") + off)
          }
      case Agg("sum", by, child, without, None) =>
        histVec(hs, child, startSec, endSec, stepSec, lookbackSec,
            ignoreLabel, stale).map { v =>
          v.groupBy(keptLabels(by, without).as("labels"), col("t"))
            // sort_array: a deterministic fold order — double
            // addition is order-sensitive at the ulp level
            .agg(sort_array(collect_list(col("hb"))).as("hbs"))
            .as[(Seq[String], Long, Seq[Array[Byte]])]
            .mapPartitions(_.flatMap { case (ls, t, bs) =>
              // addOrDrop: a custom-bounds layout conflict inside the
              // group poisons the fold and the WHOLE step's point is
              // dropped (Prometheus's add error → warn + dropped
              // point), never a partial sum, never a failed task
              val it = bs.iterator
                .map(b => NH.toSparse(NH.decode(ProtoWire.reader(b))))
              val head = it.next() // bind BEFORE the fold iterates
              val sum = it.foldLeft(Option(head))(NH.addOrDrop)
              sum.map(s => (ls, t, NH.encode(NH.fromSparse(t * 1000L, s))))
            })
            .toDF("labels", "t", "hb")
            .select(lit(null).cast("string").as("metric"), col("labels"),
              col("t"), col("hb"))
        }
      case _ => None
    }
  }

  /** histogram_fraction(lo, hi, child): the estimated fraction of
    * observations in (lo, hi], over the same dynamic cumulative
    * le-buckets [[histQuantile]] reads — its INVERSE direction (a
    * graft extension: Prometheus ships the function for native
    * histograms only; here the classic piecewise-linear model
    * answers it). F(x) — the cumulative estimate at x — is the MAX
    * over buckets of: the bucket's own count where its bound is at
    * or below x, the linear share where x falls inside the bucket,
    * else 0 (the max is F because cumulative counts are monotone and
    * exactly one bucket holds x). Conventions mirror the quantile's:
    * the first bucket's lower bound is 0, x past the last finite
    * bound reads that bound's count (the clamp's inverse), idle
    * histograms and groups without +Inf drop. fraction =
    * clamp((F(hi) − F(lo)) / total, 0, 1) — hi below lo answers 0.
    * Same scale shape as the quantile: one (glabels, t) exchange,
    * skew bounded by buckets per histogram. */
  private def histFraction(child: DataFrame, lo: Double,
                           hi: Double): DataFrame = {
    // same one-pass shape as [[histQuantile]]: the +Inf total rides a
    // group window instead of a self-join of a re-evaluated child
    val tagged = child
      .withColumn("le_str",
        expr("get(filter(labels, l -> startswith(l, 'le=')), 0)"))
      .filter(col("le_str").isNotNull)
      .withColumn("glabels", expr("filter(labels, l -> NOT (startswith(l, 'le=')))"))
      .withColumn("c", expr("CAST(v_e6 AS DOUBLE) / 1000000.0D"))
      .withColumn("le", expr("CASE WHEN le_str = 'le=+Inf' " +
        "THEN CAST('Infinity' AS DOUBLE) " +
        "ELSE TRY_CAST(substring(le_str, 4) AS DOUBLE) END"))
      .filter(col("le").isNotNull)
    val grp = Window.partitionBy(col("metric"), col("glabels"), col("t"))
    val w = grp.orderBy(col("le"))
    def fAt(x: Double): Column = {
      val xTxt = s"CAST('${java.lang.Double.toString(x)}' AS DOUBLE)"
      max(when(col("le") <= expr(xTxt), col("c"))
        .when(col("prev_le") < expr(xTxt), expr(
          s"prev_c + (c - prev_c) * ($xTxt - prev_le) / (le - prev_le)"))
        .otherwise(lit(0.0d)))
    }
    tagged
      .withColumn("total",
        max(when(col("le") === lit(Double.PositiveInfinity), col("c"))).over(grp))
      .withColumn("prev_c", coalesce(lag(col("c"), 1).over(w), lit(0.0)))
      .withColumn("prev_le", coalesce(lag(col("le"), 1).over(w), lit(0.0)))
      .filter(col("le") =!= lit(Double.PositiveInfinity))
      .filter(col("total").isNotNull && col("total") > 0.0)
      .groupBy(col("metric"), col("glabels"), col("t"))
      .agg(fAt(lo).as("flo"), fAt(hi).as("fhi"), max(col("total")).as("tot"))
      .select(lit(null).cast("string").as("metric"),
        col("glabels").as("labels"), col("t"),
        expr("CAST(floor(least(greatest((fhi - flo) / tot, 0.0D), 1.0D)" +
          " * 1000000 + 0.5) AS BIGINT)").as("v_e6"))
  }

  /** histogram_stddev/stdvar over classic cumulative buckets — see
    * [[HistStd]] for the estimator conventions. The three legs are
    * already instant vectors; everything below is per-(series, step)
    * window + fold work on bucket-cardinality rows. */
  private def histStdDev(buckets: DataFrame, sums: DataFrame,
                         counts: DataFrame, dev: Boolean): DataFrame = {
    // a multi-metric child (m1 or m2) must fold each metric's buckets
    // separately and join each to ITS OWN _sum/_count legs — the
    // cross-leg join key is the BASE metric (suffix stripped; a
    // null metric, e.g. under an aggregation child, stays null and
    // matches null via the coalesce'd keys below)
    def baseMetric(sfx: String): Column =
      when(col("metric").endsWith(sfx),
        expr(s"substring(metric, 1, length(metric) - ${sfx.length})"))
        .otherwise(col("metric"))
    // one pass over the buckets leg: the +Inf total is a group-window
    // aggregate (the [[histQuantile]] shape) instead of a join
    // against a second derivation of the same child — the _sum/_count
    // joins remain (genuinely different selector legs)
    val tagged = buckets
      .withColumn("gm", baseMetric("_bucket"))
      .withColumn("le_str",
        expr("get(filter(labels, l -> startswith(l, 'le=')), 0)"))
      .filter(col("le_str").isNotNull)
      .withColumn("glabels",
        expr("filter(labels, l -> NOT (startswith(l, 'le=')))"))
      .withColumn("c", expr("CAST(v_e6 AS DOUBLE) / 1000000.0D"))
      .withColumn("le", expr("CASE WHEN le_str = 'le=+Inf' " +
        "THEN CAST('Infinity' AS DOUBLE) " +
        "ELSE TRY_CAST(substring(le_str, 4) AS DOUBLE) END"))
      .filter(col("le").isNotNull)
    val grp = Window.partitionBy(col("gm"), col("glabels"), col("t"))
    val w = grp.orderBy(col("le"))
    // per-bucket count + geometric-midpoint value, le-sorted per series
    val per = tagged
      .withColumn("total",
        max(when(col("le") === lit(Double.PositiveInfinity), col("c"))).over(grp))
      .withColumn("prev_c", coalesce(lag(col("c"), 1).over(w), lit(0.0)))
      .withColumn("prev_le", coalesce(lag(col("le"), 1).over(w), lit(0.0)))
      .filter(col("le") =!= lit(Double.PositiveInfinity))
      .filter(col("total").isNotNull)
      .withColumn("cnt", expr("c - prev_c"))
      .withColumn("bval", expr(
        "CASE WHEN prev_le <= 0.0D AND 0.0D <= le THEN 0.0D " +
        "WHEN le < 0.0D THEN 0.0D - sqrt(prev_le * le) " +
        "ELSE sqrt(prev_le * le) END"))
      .groupBy(col("gm"), col("glabels"), col("t"))
      .agg(sort_array(collect_list(struct(col("le"), col("cnt"),
        col("bval")))).as("bs"),
        max(col("c")).as("finC"), max(col("le")).as("finLe"),
        max(col("total")).as("total"))
    val su = sums.select(baseMetric("_sum").as("sm"),
      col("labels").as("sg"), col("t").as("st"),
      expr("CAST(v_e6 AS DOUBLE) / 1000000.0D").as("hsum"))
    val ct = counts.select(baseMetric("_count").as("cm"),
      col("labels").as("cg"), col("t").as("ctt"),
      expr("CAST(v_e6 AS DOUBLE) / 1000000.0D").as("hcount"))
    def gmEq(other: Column): Column =
      coalesce(col("gm"), lit("")) === coalesce(other, lit(""))
    per
      .join(su, gmEq(col("sm")) &&
        col("glabels") === col("sg") && col("t") === col("st"))
      .join(ct, gmEq(col("cm")) &&
        col("glabels") === col("cg") && col("t") === col("ctt"))
      .filter(col("hcount") > 0.0)
      .withColumn("mean", expr("hsum / hcount"))
      // le-sorted fold, then the +Inf bucket's term (collapsed to the
      // top finite bound), then the normalization — one fixed order
      // the greatest(…, 0) floor: an inconsistent bucket/sum corpus
      // (per-second dedup can decouple the legs) must answer 0, not NaN
      .withColumn("variance", expr(
        "greatest((aggregate(bs, CAST(0.0 AS DOUBLE), " +
        "(a, x) -> a + x.cnt * (x.bval - mean) * (x.bval - mean)) + " +
        "greatest(total - finC, 0.0D) * (finLe - mean) * (finLe - mean))" +
        " / hcount, 0.0D)"))
      .select(lit(null).cast("string").as("metric"),
        col("glabels").as("labels"), col("t"),
        expr(s"CAST(floor(${if (dev) "sqrt(variance)" else "variance"}" +
          " * 1000000 + 0.5) AS BIGINT)").as("v_e6"))
  }

  /** Matcher-filtered window samples deduped to the per-second max,
    * partitioned BY SERIES: the ONE exchange every evaluation shape
    * downstream needs. Hash-partitioning on (metric, labels) is a
    * subset of every later key set — the per-second dedup groupBy
    * (metric, labels, t_sec), [[pairRange]]'s lag window
    * (metric, labels), and the per-step grid aggregates
    * (metric, labels, t) — so none of them exchanges again. In
    * particular the GRID-EXPLODED rows (one copy per containing
    * window, up to d/step× the sample count — the widest row set in
    * the evaluator) never cross the network; they are generated and
    * reduced inside the partition that already holds their series.
    * The trade is scan-tail parallelism on a single-series query
    * over a long range (that series' post-scan fold runs in one
    * task — the same per-series locality [[pairRange]]'s lag window
    * always required); multi-series queries, the fleet-scale shape,
    * spread by series exactly as before. Results are unchanged
    * under the regrouping: every downstream aggregate is
    * exact-integer, min/max or arg-max — and the one double sum
    * (sum_e2) rounds a 2-decimal total whose float error is orders
    * below the half-up midpoint, so summation order cannot flip it. */
  private def dedupedWindow(samples: DataFrame, matchers: Seq[LabelMatcher],
                            loSec: Long, hiSec: Long,
                            ignoreLabel: Option[String]): DataFrame =
    SeriesRead.seriesMax(SeriesRead.timeBound(samples, loSec * 1000L, hiSec * 1000L)
      .filter(Matchers.compilePromQL(matchers, ignoreLabel))
      .withColumn("t_sec", expr("ts_us DIV 1000000")), "value")

  /** The step-window kernel: which grid steps see a sample. Keeps
    * the rows whose `ts` second some step t = start + k·step
    * (0 ≤ k ≤ (end − start)/step) holds in the window
    * lo ≤ t − ts ≤ hi, i.e. ts ∈ [start − hi, end − lo], and explodes
    * each onto every such step as `t` (with its index `k`). A range
    * window [t−d, t) is (lo, hi) = (1, d); the instant lookback
    * (t−L, t] is (0, L−1). k runs from ceil((ts + lo − start)/step)
    * to floor((ts + hi − start)/step); the `off·step` term keeps each
    * DIV numerator non-negative, so integer DIV floors alike in every
    * engine. */
  private[graft] def onGrid(df: DataFrame, ts: String, start: Long, end: Long,
                            step: Long, lo: Long, hi: Long): DataFrame = {
    val off = hi / step + 2
    val spark = df.sparkSession
    def p(v: Long): Column = Param.column(spark, v)
    val origin = Param.sql(spark, start)
    df.filter(col(ts) >= p(start - hi) && col(ts) <= p(end - lo))
      .withColumn("kmin", greatest(lit(0L),
        expr(s"($ts - $origin + ${off * step + lo - 1}) DIV $step - $off + 1")))
      .withColumn("kmax", least(p((end - start) / step),
        expr(s"($ts + $hi - $origin) DIV $step")))
      .filter(col("kmax") >= col("kmin"))
      .withColumn("k", explode(expr("sequence(kmin, kmax)")))
      .withColumn("t", expr(s"$origin + k * $step"))
  }

  /** Deduped samples on the grid steps whose [t-d, t) window holds
    * them: one row per (sample, containing step), ready for a
    * (series, t) aggregate. */
  private def gridExplode(samples: DataFrame, matchers: Seq[LabelMatcher],
                          start: Long, end: Long, step: Long, d: Long,
                          ignoreLabel: Option[String]): DataFrame =
    onGrid(dedupedWindow(samples, matchers, start - d, end, ignoreLabel),
      "t_sec", start, end, step, 1, d)

  private def rangeRaw(samples: DataFrame, fn: String,
                       matchers: Seq[LabelMatcher], start: Long, end: Long,
                       step: Long, d: Long,
                       ignoreLabel: Option[String]): DataFrame = {
    val stats = gridExplode(samples, matchers, start, end, step, d, ignoreLabel)
      .groupBy(col("metric"), col("labels"), col("t"))
      .agg(count(lit(1)).as("n"),
        expr("CAST(floor(sum(value) * 100 + 0.5) AS BIGINT)").as("sum_e2"),
        // INTEGER moments: each sample snaps to e2 BEFORE summing
        // (lossless on the 2-decimal store), so Σv/Σv² are exact
        // associative integer sums — identical under ANY grouping,
        // which is what lets the rollup path re-aggregate them
        // byte-exactly. Each SQUARE fits BIGINT (|v|≤1e7 → v_e2²≤
        // 1e18 < 2^63) but their SUM would wrap after ~9 extreme
        // samples, so the sum runs in DECIMAL(38,0): still exact
        // integer arithmetic (86400·1e18 ≈ 8.6e22 ≪ 1e38), still
        // associative, and DuckDB's HUGEINT sum matches it exactly
        sum(expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")).as("sy_e2"),
        sum(expr("CAST(CAST(floor(value * 100 + 0.5) AS BIGINT) * " +
          "CAST(floor(value * 100 + 0.5) AS BIGINT) AS DECIMAL(38,0))"))
          .as("syy_e4"),
        min(col("value")).as("vmin"), max(col("value")).as("vmax"),
        min(col("t_sec")).as("t_first"), max(col("t_sec")).as("t_last"),
        min_by(col("value"), col("t_sec")).as("v_first"),
        max_by(col("value"), col("t_sec")).as("v_last"),
        // argmax/argmin timestamps, value ties → LATEST sample
        // (Prometheus's >=/<= scan order): lexicographic max over
        // (value, t) / (-value, t) struct pairs
        expr("max_by(t_sec, struct(value, t_sec))").as("t_vmax"),
        expr("max_by(t_sec, struct(-value, t_sec))").as("t_vmin"))
    project(stats, fn)
  }

  /** Per-window stats → v_e6 for one range function (shared by the
    * raw and rollup paths where applicable). */
  private def project(stats: DataFrame, fn: String): DataFrame = {
    val base = Seq(col("metric"), col("labels"), col("t"))
    fn match {
      case "sum_over_time" =>
        stats.select(base :+ expr("sum_e2 * 10000").as("v_e6"): _*)
      case "count_over_time" =>
        stats.select(base :+ expr("n * 1000000").as("v_e6"): _*)
      case "avg_over_time" =>
        stats.select(base :+ expr(halfUpSql("sum_e2 * 10000", "n")).as("v_e6"): _*)
      case "min_over_time" =>
        stats.select(base :+
          expr("CAST(floor(vmin * 1000000 + 0.5) AS BIGINT)").as("v_e6"): _*)
      case "max_over_time" =>
        stats.select(base :+
          expr("CAST(floor(vmax * 1000000 + 0.5) AS BIGINT)").as("v_e6"): _*)
      case "last_over_time" =>
        stats.select(base :+
          expr("CAST(floor(v_last * 1000000 + 0.5) AS BIGINT)").as("v_e6"): _*)
      case "first_over_time" =>
        stats.select(base :+
          expr("CAST(floor(v_first * 1000000 + 0.5) AS BIGINT)").as("v_e6"): _*)
      case "ts_of_first_over_time" =>
        stats.select(base :+ expr("t_first * 1000000").as("v_e6"): _*)
      case "stddev_over_time" =>
        // clamped population moments over the EXACT integer sums —
        // the double chain starts from integers both paths (raw,
        // rollup re-aggregation) reproduce identically
        stats.select(base :+ expr(
          "CAST(floor(sqrt(greatest(" +
          "CAST(syy_e4 AS DOUBLE) / (CAST(n AS DOUBLE) * 10000.0D) - " +
          "(CAST(sy_e2 AS DOUBLE) / (CAST(n AS DOUBLE) * 100.0D)) * " +
          "(CAST(sy_e2 AS DOUBLE) / (CAST(n AS DOUBLE) * 100.0D)), 0.0D)) " +
          "* 1000000 + 0.5) AS BIGINT)").as("v_e6"): _*)
      case "stdvar_over_time" =>
        // the same clamped moment formula without the sqrt
        stats.select(base :+ expr(
          "CAST(floor(greatest(" +
          "CAST(syy_e4 AS DOUBLE) / (CAST(n AS DOUBLE) * 10000.0D) - " +
          "(CAST(sy_e2 AS DOUBLE) / (CAST(n AS DOUBLE) * 100.0D)) * " +
          "(CAST(sy_e2 AS DOUBLE) / (CAST(n AS DOUBLE) * 100.0D)), 0.0D) " +
          "* 1000000 + 0.5) AS BIGINT)").as("v_e6"): _*)
      case "present_over_time" =>
        // any sample in the window answers 1 (the window having a
        // stats row IS presence)
        stats.select(base :+ lit(1000000L).as("v_e6"): _*)
      case "ts_of_last_over_time" =>
        stats.select(base :+ expr("t_last * 1000000").as("v_e6"): _*)
      case "ts_of_max_over_time" =>
        stats.select(base :+ expr("t_vmax * 1000000").as("v_e6"): _*)
      case "ts_of_min_over_time" =>
        stats.select(base :+ expr("t_vmin * 1000000").as("v_e6"): _*)
      case "rate" =>
        stats
          .withColumn("dv_e2",
            expr("CAST(floor((v_last - v_first) * 100 + 0.5) AS BIGINT)"))
          .filter(col("n") >= 2 && col("t_last") > col("t_first") &&
            col("dv_e2") >= 0)
          .select(base :+
            expr(halfUpSql("dv_e2 * 10000", "t_last - t_first")).as("v_e6"): _*)
      case "increase" =>
        stats
          .filter(col("n") >= 2)
          .select(base :+ expr(
            "greatest(CAST(floor((v_last - v_first) * 100 + 0.5) AS BIGINT), 0L) * 10000")
            .as("v_e6"): _*)
      case "delta" =>
        stats
          .filter(col("n") >= 2)
          .select(base :+ expr(
            "CAST(floor((v_last - v_first) * 100 + 0.5) AS BIGINT) * 10000")
            .as("v_e6"): _*)
      case other =>
        throw new IllegalArgumentException(s"unsupported range function: $other")
    }
  }

  /** quantile_over_time: the exact interpolated per-window quantile
    * (Spark `percentile` ≡ DuckDB quantile_cont — the pairing
    * ts_quantile_over_time's oracle established). Unlike the partial
    * stats the other range functions reduce to, the quantile needs
    * each window's value multiset, so this is the one function whose
    * shuffle carries the exploded rows themselves — still one row per
    * (sample, containing window), bounded by the d/step amplification
    * like every other range call, and never servable from the rollup
    * (a quantile does not decompose into bucket partials). */
  private def quantileRange(samples: DataFrame, q: Double,
                            matchers: Seq[LabelMatcher], start: Long,
                            end: Long, step: Long, d: Long,
                            ignoreLabel: Option[String]): DataFrame =
    gridExplode(samples, matchers, start, end, step, d, ignoreLabel)
      .groupBy(col("metric"), col("labels"), col("t"))
      .agg(percentile(col("value"), lit(q)).as("qv"))
      .select(col("metric"), col("labels"), col("t"),
        expr("CAST(floor(qv * 1000000 + 0.5) AS BIGINT)").as("v_e6"))

  /** mad_over_time(sel[d]): per-window median absolute deviation —
    * median(|v - median(v)|) with Prometheus's interpolated median
    * (for even n the midpoint average), computed ENTIRELY in exact
    * integer arithmetic: values snap to e2 ints, the median scales
    * ×10 so the even-n midpoint stays integral (e3), deviations live
    * in e3, the second median scales ×10 again (e4), and ×100 lands
    * on the micro-unit lattice. No doubles anywhere — bit-identical
    * in any engine by construction.
    *
    * Scale shape: the one aggregate collects each window's values
    * into a sorted array, so the per-group memory is points-per-
    * window (d / scrape interval — the same bound the holt_winters
    * fold documents), never raw-corpus-sized; everything before it
    * is the shared pushed-down scan + explode. */
  private def madRange(samples: DataFrame, matchers: Seq[LabelMatcher],
                       start: Long, end: Long, step: Long, d: Long,
                       ignoreLabel: Option[String]): DataFrame =
    gridExplode(samples, matchers, start, end, step, d, ignoreLabel)
      .groupBy(col("metric"), col("labels"), col("t"))
      .agg(sort_array(collect_list(
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"))).as("vs"))
      .withColumn("n", size(col("vs")).cast("long"))
      .withColumn("med_e3", expr(
        "CASE WHEN n % 2 = 1 THEN element_at(vs, CAST((n + 1) DIV 2 AS INT)) * 10 " +
        "ELSE (element_at(vs, CAST(n DIV 2 AS INT)) + " +
        "element_at(vs, CAST(n DIV 2 + 1 AS INT))) * 5 END"))
      .withColumn("devs",
        array_sort(expr("transform(vs, x -> abs(x * 10 - med_e3))")))
      .withColumn("mad_e4", expr(
        "CASE WHEN n % 2 = 1 THEN element_at(devs, CAST((n + 1) DIV 2 AS INT)) * 10 " +
        "ELSE (element_at(devs, CAST(n DIV 2 AS INT)) + " +
        "element_at(devs, CAST(n DIV 2 + 1 AS INT))) * 5 END"))
      .select(col("metric"), col("labels"), col("t"),
        (col("mad_e4") * 100L).as("v_e6"))

  /** irate / idelta / changes / resets: the range functions that need
    * each sample's PREDECESSOR, not a decomposable window partial.
    * One per-series lag over the deduped scan attaches (prev_t,
    * prev_v) to every sample; the usual grid explode then carries the
    * pair into each window holding the sample, and a pair "counts"
    * for a window [t-d, t) iff the predecessor is inside too
    * (prev_t ≥ t-d) — exactly Prometheus's within-the-window pairing
    * (a change across the window edge belongs to no window that
    * can't see both points). The lag's sort shares its
    * (metric, labels) exchange shape with the per-second dedup that
    * feeds it; everything after is the same explode + one
    * map-side-combined aggregate as every other range call.
    *
    *  - changes: pairs with value ≠ prev value (a series' first
    *    point has no predecessor and counts zero — a window with
    *    samples but no in-window pair answers 0, like Prometheus);
    *  - resets: pairs with value < prev value;
    *  - irate: the LAST in-window pair's per-second rate,
    *    reset-aware (post-reset value as the delta — the
    *    ts_irate/RangeOps.irate convention, read.go-compatible);
    *  - idelta: the last pair's raw difference (gauges — may be
    *    negative). irate/idelta need ≥2 in-window points, which is
    *    precisely "some pair is fully in-window". */
  private def pairRange(samples: DataFrame, fn: String,
                        matchers: Seq[LabelMatcher], start: Long, end: Long,
                        step: Long, d: Long,
                        ignoreLabel: Option[String]): DataFrame = {
    val w = Window.partitionBy(col("metric"), col("labels"))
      .orderBy(col("t_sec"))
    val lagged = dedupedWindow(samples, matchers, start - d, end, ignoreLabel)
      .withColumn("prev_t", lag(col("t_sec"), 1).over(w))
      .withColumn("prev_v", lag(col("value"), 1).over(w))
    val paired = onGrid(lagged, "t_sec", start, end, step, 1, d)
      .withColumn("pair_ok",
        col("prev_t").isNotNull && col("prev_t") >= col("t") - d)
    val base = Seq(col("metric"), col("labels"), col("t"))
    fn match {
      case "changes" | "resets" =>
        val hit = if (fn == "changes") col("value") =!= col("prev_v")
                  else col("value") < col("prev_v")
        paired
          .groupBy(base: _*)
          .agg(sum(when(col("pair_ok") && hit, 1L).otherwise(0L)).as("c"))
          .select(base :+ expr("c * 1000000").as("v_e6"): _*)
      case "irate" | "idelta" =>
        val last = paired.filter(col("pair_ok"))
          .groupBy(base: _*)
          .agg(max(col("t_sec")).as("lt"),
            max_by(col("value"), col("t_sec")).as("lv"),
            max_by(col("prev_v"), col("t_sec")).as("pv"),
            max_by(col("prev_t"), col("t_sec")).as("pt"))
        val v = if (fn == "irate")
          // the RangeOps.irate floor-scaled text: identical IEEE
          // arithmetic in both engines, no round() midpoint hazard
          expr("CAST(floor((CASE WHEN lv >= pv THEN lv - pv ELSE lv END) " +
            "/ CAST(lt - pt AS DOUBLE) * 1000000 + 0.5) AS BIGINT)")
        else expr("CAST(floor((lv - pv) * 1000000 + 0.5) AS BIGINT)")
        last.select(base :+ v.as("v_e6"): _*)
    }
  }

  /** deriv / predict_linear: per-window simple least squares, from
    * exact integer partials. Each exploded sample contributes
    * t' = t_sec - (t-d) ∈ [0, d) (window-relative, so the sums stay
    * far from 2^63) and v_e2 = floor(value·100 + .5); the per-window
    * aggregate reduces to (n, Σt', Σv, Σt'², Σt'v) — all exact
    * BIGINTs — and numer = n·Σt'v − Σt'·Σv, denom = n·Σt'² − (Σt')².
    * slope = numer/denom [e2-units/s] and the prediction at horizon h
    * is ȳ + slope·((d+h) − t̄') — evaluated as ONE double expression
    * whose text both engines run on the same exact integers, so the
    * result is bit-identical (the promql_ratio determinism argument).
    * Windows need ≥2 distinct timestamps (denom > 0). Bounds: with
    * d ≤ 1w and ≤10⁵ points/window the largest partial product stays
    * under ~2^62. */
  private def regressionRange(samples: DataFrame, matchers: Seq[LabelMatcher],
                              start: Long, end: Long, step: Long, d: Long,
                              ignoreLabel: Option[String],
                              horizonSec: Option[Long]): DataFrame = {
    val base = Seq(col("metric"), col("labels"), col("t"))
    val g = gridExplode(samples, matchers, start, end, step, d, ignoreLabel)
      .withColumn("tp", col("t_sec") - (col("t") - d))
      .withColumn("v_e2", expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"))
      .groupBy(base: _*)
      .agg(count(lit(1)).as("n"), sum(col("tp")).as("st"),
        sum(col("v_e2")).as("sv"), sum(col("tp") * col("tp")).as("stt"),
        sum(col("tp") * col("v_e2")).as("stv"))
      .withColumn("numer", expr("n * stv - st * sv"))
      .withColumn("denom", expr("n * stt - st * st"))
      .filter(col("n") >= 2 && col("denom") > 0)
    val v = horizonSec match {
      case None =>
        expr("CAST(floor(CAST(numer AS DOUBLE) / CAST(denom AS DOUBLE) " +
          "* 10000 + 0.5) AS BIGINT)")
      case Some(h) =>
        val tpred = d + h // the prediction instant in t' coordinates
        expr(s"CAST(floor((CAST(sv AS DOUBLE) / n + CAST(numer AS DOUBLE) " +
          s"/ CAST(denom AS DOUBLE) * (${tpred}D - CAST(st AS DOUBLE) / n)) " +
          "* 10000 + 0.5) AS BIGINT)")
    }
    g.select(base :+ v.as("v_e6"): _*)
  }

  /** Subquery fn(child[d:res]): evaluate the child on the ABSOLUTE
    * res-aligned grid (every point a multiple of res, Prometheus's
    * subquery alignment — results don't depend on the outer query's
    * start), then aggregate each outer window [t-d, t) over the inner
    * points it holds. The aggregation runs on the inner vector's
    * exact v_e6 integers, so sum/min/max/count/last are exact and avg
    * is the engine-portable integer half-up — which is why SubFns is
    * the whitelist (a stddev over v_e6² could overflow int64).
    *
    * Scale shape: the inner eval is one distributed plan; its output
    * is one row per (series, inner step) — already aggregated. The
    * explode amplifies by ≤ d/res (the window/resolution ratio, a
    * query constant) before a map-side-combined (series, t)
    * aggregate, exactly the gridExplode physics one level up. */
  private def subqueryRange(samples: DataFrame, fn: String, child: Expr,
                            start: Long, end: Long, step: Long, d: Long,
                            res: Long, lookbackSec: Long,
                            rollup: Option[RollupStore.Ladder],
                            ignoreLabel: Option[String],
                            stale: Option[DataFrame]): DataFrame = {
    val innerStart = (start - d + res - 1) / res * res
    val inner = eval(samples, child, innerStart, end, res, lookbackSec,
      rollup, ignoreLabel, stale = stale)
    val g = onGrid(inner.withColumnRenamed("t", "tv"), "tv", start, end, step, 1, d)
      .groupBy(col("metric"), col("labels"), col("t"))
      .agg(sum(col("v_e6")).as("s"), count(lit(1)).as("n"),
        min(col("v_e6")).as("mn"), max(col("v_e6")).as("mx"),
        max_by(col("v_e6"), col("tv")).as("lastv"),
        min_by(col("v_e6"), col("tv")).as("firstv"),
        min(col("tv")).as("tf"), max(col("tv")).as("tl"),
        // ts_of_*: integer argmax/argmin, value ties → latest step
        expr("max_by(tv, struct(v_e6, tv))").as("t_vmax"),
        expr("max_by(tv, struct(-v_e6, tv))").as("t_vmin"))
    // rate/increase/delta read the inner vector's first/last points —
    // all exact µ-integers, so the formulas are the raw-path ones
    // minus the e2 snap (inner values are already snapped); like the
    // raw rate, no extrapolation and resets only via the dv ≥ 0 gate
    fn match {
      case "rate" =>
        g.filter(col("n") >= 2 && col("tl") > col("tf") &&
            col("lastv") >= col("firstv"))
          .select(col("metric"), col("labels"), col("t"),
            expr(halfUpSql("lastv - firstv", "tl - tf")).cast("long").as("v_e6"))
      case "increase" =>
        g.filter(col("n") >= 2)
          .select(col("metric"), col("labels"), col("t"),
            greatest(col("lastv") - col("firstv"), lit(0L)).as("v_e6"))
      case "delta" =>
        g.filter(col("n") >= 2)
          .select(col("metric"), col("labels"), col("t"),
            (col("lastv") - col("firstv")).as("v_e6"))
      case _ =>
        val v = fn match {
          case "sum_over_time"   => expr("s")
          case "count_over_time" => expr("n * 1000000")
          case "avg_over_time"   => expr(halfUpSql("s", "n"))
          case "min_over_time"   => expr("mn")
          case "max_over_time"   => expr("mx")
          case "last_over_time"  => expr("lastv")
          case "first_over_time" => expr("firstv")
          case "ts_of_first_over_time" => expr("tf * 1000000")
          case "ts_of_last_over_time" => expr("tl * 1000000")
          case "ts_of_max_over_time"  => expr("t_vmax * 1000000")
          case "ts_of_min_over_time"  => expr("t_vmin * 1000000")
        }
        g.select(col("metric"), col("labels"), col("t"),
          v.cast("long").as("v_e6"))
    }
  }

  /** holt_winters (double exponential smoothing): per window, the
    * time-ordered values fold through Prometheus's recurrence —
    * s₀ = v₀, b₀ = v₁−v₀, then for each later x:
    * s' = sf·x + (1−sf)(s+b), b' = tf·(s'−s) + (1−tf)·b — answering
    * the final level s. The fold is a SEQUENTIAL left fold over an
    * [s, b] array accumulator (Spark `aggregate`), so the double
    * arithmetic has one fixed order and any engine folding the same
    * sorted list reproduces it bit-for-bit (the left-fold portability
    * the MinHash oracle established). Windows need ≥ 2 points.
    *
    * Scale shape: like quantile_over_time, the one range function
    * whose shuffle carries each window's value multiset (a smoothing
    * recurrence doesn't decompose into partials) — rows stay bounded
    * by the d/step explode amplification, and the fold itself is a
    * per-row codegen'd higher-order function. */
  private def holtWintersRange(samples: DataFrame,
                               matchers: Seq[LabelMatcher], start: Long,
                               end: Long, step: Long, d: Long, sf: Double,
                               tf: Double,
                               ignoreLabel: Option[String]): DataFrame = {
    val sfD = s"${sf}D"
    val tfD = s"${tf}D"
    val sNext = s"$sfD * x + (1.0D - $sfD) * (acc[0] + acc[1])"
    gridExplode(samples, matchers, start, end, step, d, ignoreLabel)
      .groupBy(col("metric"), col("labels"), col("t"))
      .agg(expr("transform(array_sort(collect_list(struct(t_sec, value)))," +
        " p -> CAST(p.value AS DOUBLE))").as("vs"))
      .filter(size(col("vs")) >= 2)
      .select(col("metric"), col("labels"), col("t"),
        expr(
          s"""CAST(floor(aggregate(
             |  slice(vs, 2, size(vs) - 1),
             |  array(CAST(vs[0] AS DOUBLE), CAST(vs[1] - vs[0] AS DOUBLE)),
             |  (acc, x) -> array($sNext,
             |    $tfD * (($sNext) - acc[0]) + (1.0D - $tfD) * acc[1]),
             |  acc -> acc[0]) * 1000000 + 0.5) AS BIGINT)""".stripMargin
        ).as("v_e6"))
  }

  /** absent_over_time: 1 at every grid step whose window [t-d, t)
    * holds NO sample of the selector, labeled from the selector's
    * equality matchers (__name__ excluded) — Prometheus's label
    * derivation. The present-step set reduces to DISTINCT t (at most
    * grid-size rows) before an anti-join against the generated grid,
    * so the join broadcasts at any raw-data scale. */
  private def absentRange(samples: DataFrame, matchers: Seq[LabelMatcher],
                          start: Long, end: Long, step: Long, d: Long,
                          ignoreLabel: Option[String]): DataFrame = {
    val present = gridExplode(samples, matchers, start, end, step, d,
      ignoreLabel).select(col("t")).distinct()
    absentGrid(samples.sparkSession, matchers, start, end, step, present)
  }

  /** The shared absent tail: generated grid anti-joined against the
    * present steps, labeled from the equality matchers. */
  private def absentGrid(spark: SparkSession, matchers: Seq[LabelMatcher],
                         start: Long, end: Long, step: Long,
                         present: DataFrame): DataFrame = {
    val lbls = matchers
      .filter(m => m.mtype == graft.operators.MatcherType.Eq &&
        m.name != Matchers.NameLabel)
      .map(m => s"${m.name}=${m.value}").sorted
    stepGrid(spark, start, end, step)
      .join(present, Seq("t"), "left_anti")
      .select(lit(null).cast("string").as("metric"),
        typedLit(lbls).as("labels"), col("t"), lit(1000000L).as("v_e6"))
  }

  /** label_join: dst = the source labels' values joined by sep
    * (missing = ""), empty removes dst — a per-row projection like
    * [[labelReplaceProject]]. */
  private def labelJoinProject(child: DataFrame, dst: String, sep: String,
                               srcs: Seq[String]): DataFrame = {
    val vals = srcs.map { s0 =>
      coalesce(
        expr(s"substring(get(filter(labels, l -> startswith(l, '${sqlKey(s0)}=')), 0), " +
          s"${s0.length + 2})"),
        lit(""))
    }
    val newVal =
      if (vals.isEmpty) lit("")
      else vals.reduce((a, b) => concat(a, lit(sep), b))
    val without = expr(s"filter(labels, l -> NOT (startswith(l, '${sqlKey(dst)}=')))")
    val rebuilt = when(newVal === "", without)
      .otherwise(array_sort(concat(without,
        array(concat(lit(dst + "="), newVal)))))
    child.select(col("metric"), rebuilt.as("labels"), col("t"), col("v_e6"))
  }

  /** Serve an aligned tiling *_over_time from the rollup twin:
    * requires step == range (windows tile), range a multiple of the
    * rollup interval, a bucket-aligned grid (start ≡ 0 mod interval),
    * and a FRESH rollup over [start-d, end] — then every window
    * [t-d, t) is an exact union of complete rollup buckets, and
    * partial re-aggregation of the rollup's (sum, min, max, n)
    * equals the raw answer bit-for-bit (the 1e-2 snap absorbs the
    * partial-sum float noise exactly as it does the raw sum's).
    * O(rollup rows) instead of O(raw samples) — the recording-rule
    * payoff inside the evaluator. */
  private def rangeFromRollup(spark: SparkSession, r: RollupStore.Ladder,
                              fn: String, matchers: Seq[LabelMatcher],
                              start: Long, end: Long, step: Long, d: Long,
                              ignoreLabel: Option[String]): Option[DataFrame] = {
    if (!(RollupServable(fn) && step == d)) return None
    val lo = start - d
    // LADDER routing: the coarsest servable level serves — the answer
    // is identical at any level (every field re-aggregates exactly),
    // the row count is 1/ratio
    r.servableLevels(spark, lo, end)(g => g.intervalSec > 0 &&
        d % g.intervalSec == 0 && start % g.intervalSec == 0)
      .nextOption().map { g =>
        OpsMetrics(spark).readsFromRollup.add(1)
        val rows = RollupStore.read(spark, g.rollupPath)
          .filter(Param.atLeast(spark, col("bucket"), lo, RollupStore.BoundGrainSec) &&
            Param.below(spark, col("bucket"), end, RollupStore.BoundGrainSec) &&
            col("date") >= lo / 86400 * 86400 && col("date") <= end)
          .filter(Matchers.compilePromQL(matchers, ignoreLabel))
          // the unique tiling window [t-d, t) containing bucket b
          .withColumn("t", expr(s"(bucket - ${Param.sql(spark, lo)}) DIV $d * $d + " +
            Param.sql(spark, start)))
          .filter(col("t") <= Param.column(spark, end))
        if (fn == "irate" || fn == "idelta") pairFromRollup(rows, fn)
        else {
          val stats = rows
            .groupBy(col("metric"), col("labels"), col("t"))
            .agg(sum(col("n_points")).as("n"),
              expr("CAST(floor(sum(sum_value) * 100 + 0.5) AS BIGINT)").as("sum_e2"),
              // v4 integer moments re-aggregate EXACTLY (associative
              // integer sums — the raw path's very values)
              sum(col("sy_e2")).as("sy_e2"),
              sum(col("syy_e4")).as("syy_e4"),
              min(col("min_value")).as("vmin"), max(col("max_value")).as("vmax"),
              min(col("t_first")).as("t_first"), max(col("t_last")).as("t_last"),
              expr("min_by(v_first, t_first)").as("v_first"),
              expr("max_by(v_last, t_last)").as("v_last"),
              // v5 argmax timestamps: window argmax = argmax over
              // buckets of (bucket extremum, its timestamp) — same
              // tie-to-latest lexicographic rule as the raw path,
              // comparing the very same deduped doubles, so exact
              expr("max_by(t_vmax, struct(max_value, t_vmax))").as("t_vmax"),
              expr("max_by(t_vmin, struct(-min_value, t_vmin))").as("t_vmin"))
          project(stats, fn)
        }
      }
  }

  /** irate/idelta from rollup v3 rows: per window, the final two
    * samples are the top-2 by timestamp of the union of each
    * bucket's (last, penultimate) points — collect the ≤ 2(d/interval)
    * candidate structs per (series, window), sort, take two, and run
    * the EXACT raw-path formula text on them (values are the deduped
    * per-second maxima the raw pair path sees, so the doubles are the
    * very same — bit-identical results). Windows with fewer than two
    * samples drop, the raw path's single-point convention. */
  private def pairFromRollup(rows: DataFrame, fn: String): DataFrame = {
    val base = Seq(col("metric"), col("labels"), col("t"))
    val top2 = rows
      .withColumn("_c", expr(
        "filter(array(named_struct('ct', t_last, 'cv', v_last), " +
          "named_struct('ct', t_penult, 'cv', v_penult)), " +
          "x -> x.ct IS NOT NULL)"))
      .groupBy(base: _*)
      .agg(expr(
        "slice(array_sort(flatten(collect_list(_c)), " +
          "(a, b) -> CASE WHEN a.ct > b.ct THEN -1 " +
          "WHEN a.ct < b.ct THEN 1 ELSE 0 END), 1, 2)").as("p"))
      .filter(size(col("p")) === 2)
      .withColumn("lt", expr("p[0].ct")).withColumn("lv", expr("p[0].cv"))
      .withColumn("pt", expr("p[1].ct")).withColumn("pv", expr("p[1].cv"))
    val v = if (fn == "irate")
      // identical expression text to pairRange's — same IEEE chain
      expr("CAST(floor((CASE WHEN lv >= pv THEN lv - pv ELSE lv END) " +
        "/ CAST(lt - pt AS DOUBLE) * 1000000 + 0.5) AS BIGINT)")
    else expr("CAST(floor((lv - pv) * 1000000 + 0.5) AS BIGINT)")
    top2.select(base :+ v.as("v_e6"): _*)
  }

  /** Instant vector: the latest sample in (t-L, t] per series per
    * grid step ([[latestLive]]).
    *
    * `stale` is the store's `_stale` sibling (explicit staleness
    * markers, PromRemoteCodec.StaleNaNBits): a marker participates
    * in the lookback like a sample, and when it WINS (it is the
    * series' latest event in the window) the step produces no point
    * — the series ENDS there, exactly prometheus/tsdb's behavior —
    * while a newer real sample revives the series. */
  private def instant(samples: DataFrame, matchers: Seq[LabelMatcher],
                      start: Long, end: Long, step: Long, lookback: Long,
                      ignoreLabel: Option[String],
                      valueIsTime: Boolean = false,
                      stale: Option[DataFrame]): DataFrame = {
    val lo = start - lookback + 1
    // markers ride the SAME matcher filter + per-second dedup as
    // samples (a regex selector must only end the series it selects);
    // value is presence-only
    latestLive(dedupedWindow(samples, matchers, lo, end, ignoreLabel),
        stale.map(dedupedWindow(_, matchers, lo, end, ignoreLabel)), "value",
        start, end, step, lookback)
      .select(
        // timestamp() is a value-transforming function: the metric
        // name drops, like abs() or every arithmetic op
        (if (valueIsTime) lit(null).cast("string") else col("metric"))
          .as("metric"),
        col("labels"), col("t"),
        (if (valueIsTime) expr("ts * 1000000")
         else expr("CAST(floor(v * 1000000 + 0.5) AS BIGINT)")).as("v_e6"))
  }

  /** Instant selection: per (series, step) the latest event in the
    * (t-L, t] lookback — its `value` column as `v`, its second as
    * `ts`. With `marks` (staleness markers, same columns) a winning
    * marker drops the step, and a sample beats a same-second marker:
    * a real value at that second proves the series alive, and the
    * /read pass-through keeps the sample on the same tie, so the two
    * surfaces agree. Without marks the plan is a plain
    * max_by(value, t_sec). */
  private def latestLive(live: DataFrame, marks: Option[DataFrame],
                         value: String, start: Long, end: Long, step: Long,
                         lookback: Long): DataFrame = {
    val events = marks.fold(live)(m =>
      live.withColumn("dead", lit(0)).unionByName(m.withColumn("dead", lit(1))))
    val steps = onGrid(events, "t_sec", start, end, step, 0, lookback - 1)
      .groupBy(col("metric"), col("labels"), col("t"))
    if (marks.isEmpty)
      steps.agg(max_by(col(value), col("t_sec")).as("v"), max(col("t_sec")).as("ts"))
    else
      steps.agg(
          expr(s"max_by(named_struct('v', $value, 'dead', dead), " +
            "named_struct('t_sec', t_sec, 'alive', 1 - dead))").as("w"),
          max(col("t_sec")).as("ts"))
        .filter(col("w.dead") === 0)
        .select(col("metric"), col("labels"), col("t"), col("w.v").as("v"), col("ts"))
  }

  /** info(): v's rows left-join the target_info instant vector on
    * the (instance, job) identity projection + step, adopting the
    * info side's data labels. Scale shape: the info side is one row
    * per (target, step) — result cardinality, tiny next to sample
    * cardinality — so AQE broadcasts it and v never shuffles.
    * Dup info series at one (identity, step) resolve to the
    * greatest data-label set (deterministic where Prometheus
    * errors); a data key v already carries is skipped (v wins);
    * unmatched v rows pass through unchanged. With a data-label
    * selector, only the keys it names are adopted (the matchers
    * themselves filtered the info series inside the Instant eval). */
  private def infoJoin(v: DataFrame, ti: DataFrame,
                       sel: Seq[LabelMatcher]): DataFrame = {
    val ident = "startswith(l, 'instance=') OR startswith(l, 'job=')"
    val restrict =
      if (sel.isEmpty) "true"
      else sel.map(m => s"startswith(l, '${sqlKey(m.name)}=')").mkString(" OR ")
    val tiK = ti
      .withColumn("ik", expr(s"filter(labels, l -> $ident)"))
      .withColumn("data",
        expr(s"filter(labels, l -> NOT ($ident) AND ($restrict))"))
      .groupBy(col("ik"), col("t"))
      .agg(max(col("data")).as("data"))
    v.withColumn("ik", expr(s"filter(labels, l -> $ident)"))
      .join(tiK, Seq("ik", "t"), "left")
      .select(col("metric"),
        expr("array_sort(concat(labels, coalesce(filter(data, d -> " +
          "NOT exists(labels, x -> substring_index(x, '=', 1) = " +
          "substring_index(d, '=', 1))), " +
          "CAST(array() AS ARRAY<STRING>))))").as("labels"),
        col("t"), col("v_e6"))
  }

  /** sum/avg/min/max/count/group/quantile, grouped `by (keys)` (keep
    * exactly those) or `without (keys)` (drop those): Prometheus
    * drops the metric name either way. The kept "k=v" entries are a
    * filter over the sorted labels array, so the grouped key stays
    * sorted; cross-metric series with equal kept labels merge, as in
    * Prometheus. quantile(φ) buffers each group's values (Spark
    * `percentile` — the exact interpolated form ≡ DuckDB
    * quantile_cont); the group size is the series count sharing the
    * kept labels, never raw samples. */
  /** The labels an aggregation keeps: `by` keeps exactly the listed
    * ones, `without` drops them (metric always drops separately). */
  private def keptLabels(by: Seq[String], without: Boolean): Column = {
    val anyListed = by.map(k => s"startswith(l, '${sqlKey(k)}=')").mkString(" OR ")
    if (without) {
      if (by.isEmpty) col("labels")
      else expr(s"filter(labels, l -> NOT ($anyListed))")
    } else if (by.isEmpty) expr("CAST(array() AS ARRAY<STRING>)")
    else expr(s"filter(labels, l -> $anyListed)")
  }

  /** count_values: how many series share each exact value, per group
    * and step — the `dst` label carries the value's decimal text
    * (identical to [[formatE6]]: sign, integer part, fraction with
    * trailing zeros trimmed — pure integer/string ops, so any engine
    * renders the same text). One map-side-combined aggregate over
    * rows already reduced to one per (series, step). */
  private def countValues(child: DataFrame, dst: String, by: Seq[String],
                          without: Boolean): DataFrame = {
    val a = abs(col("v_e6"))
    // a is non-negative and < 2^52, so the double floor-div is exact
    val whole = floor(a.cast("double") / 1000000.0).cast("long")
    val frac = (a % 1000000L).cast("long")
    val fracStr = when(frac === 0L, lit("")).otherwise(
      concat(lit("."),
        regexp_replace(lpad(frac.cast("string"), 6, "0"), "0+$", "")))
    val vstr = concat(when(col("v_e6") < 0L, lit("-")).otherwise(lit("")),
      whole.cast("string"), fracStr)
    // any kept label named dst is OVERWRITTEN by the value text,
    // Prometheus's rule — never a duplicate key in the label set
    val keptMinusDst =
      filter(keptLabels(by, without), l => !l.startsWith(dst + "="))
    child
      .withColumn("labels", array_sort(concat(keptMinusDst,
        array(concat(lit(dst + "="), vstr)))))
      .groupBy(col("labels"), col("t"))
      .agg(count(lit(1)).as("n"))
      .select(lit(null).cast("string").as("metric"), col("labels"),
        col("t"), (col("n") * 1000000L).as("v_e6"))
  }

  private def aggregate(child: DataFrame, op: String, by: Seq[String],
                        without: Boolean, param: Option[Double]): DataFrame = {
    val kept = keptLabels(by, without)
    val aggs = Seq(sum(col("v_e6")).as("s"), count(lit(1)).as("n"),
      min(col("v_e6")).as("mn"), max(col("v_e6")).as("mx")) ++
      (if (op == "quantile")
         Seq(percentile(col("v_e6"), lit(param.getOrElse(0.5))).as("qv"))
       else Nil) ++
      (if (op == "stddev" || op == "stdvar")
         // double moments of the real value (v_e6² would overflow
         // int64) — the same clamped population formula the
         // *_over_time twins proved engine-portable: float-sum order
         // noise sits far below the final micro-unit rounding
         Seq(sum(col("v_e6").cast("double") / 1000000.0d).as("sy"),
           sum((col("v_e6").cast("double") / 1000000.0d) *
             (col("v_e6").cast("double") / 1000000.0d)).as("syy"))
       else Nil)
    val g = child
      .withColumn("labels", kept)
      .groupBy(col("labels"), col("t"))
      .agg(aggs.head, aggs.tail: _*)
    val v = op match {
      case "sum"   => expr("s")
      case "min"   => expr("mn")
      case "max"   => expr("mx")
      case "count" => expr("n * 1000000")
      case "avg"   => expr(halfUpSql("s", "n"))
      case "group" => expr("1000000")
      // qv interpolates between two exact BIGINTs — identical
      // arithmetic in DuckDB's quantile_cont, half-up to the unit
      case "quantile" => expr("CAST(floor(qv + 0.5D) AS BIGINT)")
      case "stddev" => expr(
        "CAST(floor(sqrt(greatest(syy / n - (sy / n) * (sy / n), 0.0D)) " +
        "* 1000000 + 0.5) AS BIGINT)")
      case "stdvar" => expr(
        "CAST(floor(greatest(syy / n - (sy / n) * (sy / n), 0.0D) " +
        "* 1000000 + 0.5) AS BIGINT)")
    }
    g.select(lit(null).cast("string").as("metric"), col("labels"), col("t"),
      v.cast("long").as("v_e6"))
  }

  /** topk/bottomk per grid step, optionally per `by`/`without`
    * group — the grouping scopes the RANKING ("top k pods per
    * node"); series labels pass through untouched, Prometheus's
    * aggregation-parameter semantics. Deterministic: ties break on
    * the (metric, joined-labels) strings ascending. The per-(t,
    * group) rank partition holds one row per SERIES (never raw
    * samples), so the window's skew ceiling is series cardinality
    * per step — and a grouped rank only SHRINKS partitions. */
  private def rank(child: DataFrame, bottom: Boolean, k: Int,
                   by: Seq[String],
                   without: Boolean): DataFrame =
    rankWindow(child,
      Seq(if (bottom) col("v_e6").asc else col("v_e6").desc), k, by, without)

  /** limitk: the k first series per step (per group with
    * `by`/`without`) by (metric, joined-labels) order — [[rank]]'s
    * window without the value ordering. Series identity and values
    * pass through unchanged (a filter, not a transform), so the
    * metric name survives, like topk. */
  private def limitK(child: DataFrame, k: Int,
                     by: Seq[String],
                     without: Boolean): DataFrame =
    rankWindow(child, Nil, k, by, without)

  /** The ONE place the deterministic rank convention lives: partition
    * (t, grouped-key), order by the caller's value columns then the
    * (metric, joined-labels) identity tie-break ascending, keep k. */
  private def rankWindow(child: DataFrame, valueOrder: Seq[Column], k: Int,
                         by: Seq[String], without: Boolean): DataFrame = {
    val w = Window.partitionBy(col("t"), col("gk"))
      .orderBy(valueOrder ++ Seq(
        coalesce(col("metric"), lit("")).asc, col("ls").asc): _*)
    child
      .withColumn("ls", array_join(col("labels"), ","))
      .withColumn("gk", array_join(keptLabels(by, without), ","))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("metric"), col("labels"), col("t"), col("v_e6"))
  }

  /** limit_ratio: series whose portable identity-hash bucket lands
    * in [0, r·10⁶) (r ≥ 0) or [(1+r)·10⁶, 10⁶) (r < 0). A pure
    * per-row filter — no shuffle at all — and the same md5-derived
    * hash the sampling operators use, so the DuckDB oracle computes
    * the identical buckets. */
  private def limitRatio(child: DataFrame, r: Double): DataFrame = {
    val bucket = expr(
      s"(${graft.llm.Portable.hash60SqlSpark(
        "concat(coalesce(metric, ''), '|', array_join(labels, ','))")}) % 1000000")
    val thr = snapE6(math.abs(r))
    val keep =
      if (r >= 0) bucket < lit(thr)
      else bucket >= lit(1000000L - thr)
    child.filter(keep)
      .select(col("metric"), col("labels"), col("t"), col("v_e6"))
  }

  // ---- Formatting (/api/v1/format_query) ---------------------------

  /** Render an AST back to canonical whitelisted-grammar text. The
    * contract is ROUND-TRIP STABILITY — parse(format(parse(q))) ==
    * parse(q) for every accepted q (spec-fuzzed) — not Prometheus's
    * minimal-parens prettification: binary operands always
    * parenthesize (precedence-proof), durations render as plain
    * seconds, scalars as plain decimal (the grammar has no exponent
    * literals). */
  def format(e: Expr): String = e match {
    case Instant(ms, off) => selTxt(ms) + offTxt(off)
    case RangeCall(fn, ms, d, off) => s"$fn(${selTxt(ms)}[${d}s]${offTxt(off)})"
    case Agg(op, by, child, without, param) =>
      val p = param.map(v => s"${numTxt(v)}, ").getOrElse("")
      s"$op${grpTxt(by, without)}($p${format(child)})"
    case Rank(bottom, k, child, by, without) =>
      s"${if (bottom) "bottomk" else "topk"}${grpTxt(by, without)}($k, ${format(child)})"
    case LimitK(k, child, by, without) =>
      s"limitk${grpTxt(by, without)}($k, ${format(child)})"
    case LimitRatio(r, child) => s"limit_ratio(${numTxt(r)}, ${format(child)})"
    case Binary(op, l, r, m) =>
      val o = if (op == 'A') "atan2" else op.toString
      s"(${format(l)}) $o ${mTxt(m)}(${format(r)})"
    case Cmp(op, bool, l, r, m) =>
      s"(${format(l)}) $op ${if (bool) "bool " else ""}${mTxt(m)}(${format(r)})"
    case SetOp(op, l, r, m) =>
      s"(${format(l)}) $op ${mTxt(m)}(${format(r)})"
    case MathFn(fn, TimeFn, Nil) if CalendarFns(fn) => s"$fn()"
    case MathFn(fn, child, args) =>
      s"$fn(${format(child)}${args.map(a => s", ${numTxt(a)}").mkString})"
    case Sort(desc, child) =>
      s"sort${if (desc) "_desc" else ""}(${format(child)})"
    case SortByLabel(desc, child, lbls) =>
      s"sort_by_label${if (desc) "_desc" else ""}(${format(child)}" +
        lbls.map(l => s""", "$l"""").mkString + ")"
    case Predict(ms, d, h, off) =>
      s"predict_linear(${selTxt(ms)}[${d}s]${offTxt(off)}, ${h})"
    case HoltWinters(ms, d, sf, tf, off) =>
      s"holt_winters(${selTxt(ms)}[${d}s]${offTxt(off)}, ${numTxt(sf)}, ${numTxt(tf)})"
    case Absent(ms, d, off) =>
      s"absent_over_time(${selTxt(ms)}[${d}s]${offTxt(off)})"
    case AbsentI(ms, off) => s"absent(${selTxt(ms)}${offTxt(off)})"
    case TimestampOf(ms, off) => s"timestamp(${selTxt(ms)}${offTxt(off)})"
    case LabelJoin(child, dst, sep, srcs) =>
      s"""label_join(${format(child)}, "${strEsc(dst)}", "${strEsc(sep)}"""" +
        srcs.map(x => s""", "${strEsc(x)}"""").mkString + ")"
    case LabelReplace(child, dst, rep, src, re) =>
      s"""label_replace(${format(child)}, "${strEsc(dst)}", "${strEsc(rep)}", "${strEsc(src)}", "${strEsc(re)}")"""
    case HistQ(q, child) => s"histogram_quantile(${numTxt(q)}, ${format(child)})"
    case HistFrac(lo, hi, child) =>
      s"histogram_fraction(${numTxt(lo)}, ${numTxt(hi)}, ${format(child)})"
    case Info(child, sel) =>
      s"info(${format(child)}${
        if (sel.isEmpty) "" else ", " + selTxt(sel)})"
    case HistStd(dev, child) =>
      s"histogram_std${if (dev) "dev" else "var"}(${format(child)})"
    case Subquery(fn, child, d, res, off) =>
      s"$fn(${format(child)}[${d}s:${res}s]${offTxt(off)})"
    case Quantile(q, ms, d, off) =>
      s"quantile_over_time(${numTxt(q)}, ${selTxt(ms)}[${d}s]${offTxt(off)})"
    case CountValues(dst, child, by, without) =>
      s"""count_values${grpTxt(by, without)}("${strEsc(dst)}", ${format(child)})"""
    case ScalarOf(child) => s"scalar(${format(child)})"
    case PowInt(child, n) => s"(${format(child)}) ^ $n"
    case PowFrac(child, y) =>
      s"(${format(child)}) ^ ${java.lang.Double.toString(y)}"
    // @ attaches INSIDE the call parens for range/subquery forms
    // (the grammar's mods position), postfix for instant selectors
    case At(ts, RangeCall(fn, ms, d, off)) =>
      s"$fn(${selTxt(ms)}[${d}s]${offTxt(off)} @ $ts)"
    case At(ts, Subquery(fn, child, d, res, off)) =>
      s"$fn(${format(child)}[${d}s:${res}s]${offTxt(off)} @ $ts)"
    case At(ts, child) => s"${format(child)} @ $ts"
    case AtEdge(atStart, child) =>
      val edge = if (atStart) "start()" else "end()"
      child match {
        case RangeCall(fn, ms, d, off) =>
          s"$fn(${selTxt(ms)}[${d}s]${offTxt(off)} @ $edge)"
        case Subquery(fn, c, d, res, off) =>
          s"$fn(${format(c)}[${d}s:${res}s]${offTxt(off)} @ $edge)"
        case _ => s"${format(child)} @ $edge"
      }
    case ScalarLit(v) => numTxt(v)
    case TimeFn => "time()"
    case VectorLit(v) => s"vector(${numTxt(v)})"
  }

  /** AST as JSON — the `/api/v1/parse_query` body (Prometheus 3.x's
    * experimental endpoint). Shapes follow Prometheus's translateAST
    * for the shared node kinds — vectorSelector / matrixSelector /
    * call / aggregation / binaryExpr / subquery / numberLiteral /
    * stringLiteral, offsets and ranges in MILLISECONDS, matcher type
    * strings = != =~ !~ — with documented deviations: `func` carries
    * only the name (no argTypes/returnType table), the whitelisted
    * grammar means several Prometheus node kinds can never appear,
    * and the `@` modifier answers a stepInvariantExpr wrapper
    * carrying the pinned timestamp (graft's `@` wraps whole
    * expressions, where Prometheus pins individual selectors). */
  def astJson(e: Expr): String = {
    def js(x: String): String = "\"" + x.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def num(v: Double) = s"""{"type":"numberLiteral","val":${js(numTxt(v))}}"""
    def str(v: String) = s"""{"type":"stringLiteral","val":${js(v)}}"""
    def matcher(m: LabelMatcher): String = {
      val t = m.mtype match {
        case MatcherType.Eq => "="; case MatcherType.Neq => "!="
        case MatcherType.Re => "=~"; case MatcherType.Nre => "!~"
      }
      s"""{"name":${js(m.name)},"type":${js(t)},"value":${js(m.value)}}"""
    }
    def selName(ms: Seq[LabelMatcher]): String = ms.collectFirst {
      case LabelMatcher(MatcherType.Eq, "__name__", v) => v
    }.getOrElse("")
    def vecSel(ms: Seq[LabelMatcher], off: Long): String =
      s"""{"type":"vectorSelector","name":${js(selName(ms))},""" +
        s""""matchers":[${ms.map(matcher).mkString(",")}],""" +
        s""""offset":${off * 1000},"timestamp":null,"startOrEnd":null}"""
    def matSel(ms: Seq[LabelMatcher], d: Long, off: Long): String =
      s"""{"type":"matrixSelector","name":${js(selName(ms))},""" +
        s""""matchers":[${ms.map(matcher).mkString(",")}],""" +
        s""""range":${d * 1000},"offset":${off * 1000},""" +
        s""""timestamp":null,"startOrEnd":null}"""
    def call(fn: String, args: Seq[String]): String =
      s"""{"type":"call","func":{"name":${js(fn)}},""" +
        s""""args":[${args.mkString(",")}]}"""
    def aggregation(op: String, child: Expr, by: Seq[String],
                    without: Boolean, param: Option[String]): String =
      s"""{"type":"aggregation","op":${js(op)},"expr":${astJson(child)},""" +
        s""""param":${param.getOrElse("null")},""" +
        s""""grouping":[${by.map(js).mkString(",")}],"without":$without}"""
    def matching(m: Option[Matching]): String = m match {
      case None => "null"
      case Some(Matching(on, keys, card, inc)) =>
        val c = card match {
          case 1 => "many-to-one"; case 2 => "one-to-many"
          case _ => "one-to-one"
        }
        s"""{"card":${js(c)},"labels":[${keys.map(js).mkString(",")}],""" +
          s""""on":$on,"include":[${inc.map(js).mkString(",")}]}"""
    }
    def binary(op: String, l: Expr, r: Expr, m: Option[Matching],
               bool: Boolean): String =
      s"""{"type":"binaryExpr","op":${js(op)},"lhs":${astJson(l)},""" +
        s""""rhs":${astJson(r)},"matching":${matching(m)},"bool":$bool}"""
    def binNum(op: String, l: Expr, y: Double): String =
      s"""{"type":"binaryExpr","op":${js(op)},"lhs":${astJson(l)},""" +
        s""""rhs":${num(y)},"matching":null,"bool":false}"""
    e match {
      case Instant(ms, off) => vecSel(ms, off)
      case TimestampOf(ms, off) => call("timestamp", Seq(vecSel(ms, off)))
      case RangeCall(fn, ms, d, off) => call(fn, Seq(matSel(ms, d, off)))
      case Quantile(q, ms, d, off) =>
        call("quantile_over_time", Seq(num(q), matSel(ms, d, off)))
      case Predict(ms, d, h, off) =>
        call("predict_linear", Seq(matSel(ms, d, off), num(h.toDouble)))
      case HoltWinters(ms, d, sf, tf, off) =>
        call("holt_winters", Seq(matSel(ms, d, off), num(sf), num(tf)))
      case Absent(ms, d, off) =>
        call("absent_over_time", Seq(matSel(ms, d, off)))
      case AbsentI(ms, off) => call("absent", Seq(vecSel(ms, off)))
      case Agg(op, by, child, without, param) =>
        aggregation(op, child, by, without, param.map(num))
      case CountValues(dst, child, by, without) =>
        aggregation("count_values", child, by, without, Some(str(dst)))
      case Rank(bottom, k, child, by, without) =>
        aggregation(if (bottom) "bottomk" else "topk", child, by, without,
          Some(num(k.toDouble)))
      case LimitK(k, child, by, without) =>
        aggregation("limitk", child, by, without, Some(num(k.toDouble)))
      case LimitRatio(r, child) =>
        aggregation("limit_ratio", child, Nil, without = false, Some(num(r)))
      case Binary(op, l, r, m) =>
        binary(if (op == 'A') "atan2" else op.toString, l, r, m, bool = false)
      case Cmp(op, bool, l, r, m) => binary(op, l, r, m, bool)
      case SetOp(op, l, r, m) => binary(op, l, r, m, bool = false)
      case PowInt(child, n) => binNum("^", child, n.toDouble)
      case PowFrac(child, y) => binNum("^", child, y)
      case MathFn(fn, TimeFn, Nil) if CalendarFns(fn) => call(fn, Nil)
      case MathFn(fn, child, args) =>
        call(fn, astJson(child) +: args.map(num))
      case Sort(desc, child) =>
        call(if (desc) "sort_desc" else "sort", Seq(astJson(child)))
      case SortByLabel(desc, child, lbls) =>
        call(if (desc) "sort_by_label_desc" else "sort_by_label",
          astJson(child) +: lbls.map(str))
      case HistQ(q, child) =>
        call("histogram_quantile", Seq(num(q), astJson(child)))
      case HistFrac(lo, hi, child) =>
        call("histogram_fraction", Seq(num(lo), num(hi), astJson(child)))
      case Info(child, sel) =>
        call("info", astJson(child) +:
          (if (sel.isEmpty) Nil else Seq(vecSel(sel, 0))))
      case HistStd(dev, child) =>
        call(s"histogram_std${if (dev) "dev" else "var"}",
          Seq(astJson(child)))
      case LabelJoin(child, dst, sep, srcs) =>
        call("label_join", Seq(astJson(child), str(dst), str(sep)) ++
          srcs.map(str))
      case LabelReplace(child, dst, rep, src, re) =>
        call("label_replace", Seq(astJson(child), str(dst), str(rep),
          str(src), str(re)))
      case Subquery(fn, child, d, res, off) =>
        call(fn, Seq(
          s"""{"type":"subquery","expr":${astJson(child)},""" +
            s""""range":${d * 1000},"step":${res * 1000},""" +
            s""""offset":${off * 1000},"timestamp":null,"startOrEnd":null}"""))
      case At(ts, child) =>
        s"""{"type":"stepInvariantExpr","timestamp":${ts * 1000},""" +
          s""""expr":${astJson(child)}}"""
      case AtEdge(atStart, child) =>
        s"""{"type":"stepInvariantExpr","startOrEnd":${
          js(if (atStart) "start" else "end")},"expr":${astJson(child)}}"""
      case ScalarOf(child) => call("scalar", Seq(astJson(child)))
      case VectorLit(v) => call("vector", Seq(num(v)))
      case TimeFn => call("time", Nil)
      case ScalarLit(v) => num(v)
    }
  }

  private def numTxt(v: Double): String =
    // the grammar has no exponent form — render plain (shortest when
    // exact, BigDecimal plain otherwise); negatives parse as the
    // number()-level sign
    if (v == v.toLong.toDouble && math.abs(v) < 1e15) v.toLong.toString
    else new java.math.BigDecimal(v).toPlainString

  private def strEsc(s0: String): String =
    s0.replace("\\", "\\\\").replace("\"", "\\\"")

  private def offTxt(off: Long): String =
    if (off == 0L) "" else s" offset ${off}s"

  private def grpTxt(by: Seq[String], without: Boolean): String =
    if (without) s" without (${by.map(keyTxt).mkString(", ")}) "
    else if (by.nonEmpty) s" by (${by.map(keyTxt).mkString(", ")}) "
    else " "

  private def mTxt(m: Option[Matching]): String = m match {
    case None => ""
    case Some(Matching(on, keys, card, inc)) =>
      val base = s"${if (on) "on" else "ignoring"} (${keys.map(keyTxt).mkString(", ")}) "
      val grp =
        if (card == 0) ""
        else s"${if (card == 1) "group_left" else "group_right"}" +
          (if (inc.nonEmpty) s" (${inc.map(keyTxt).mkString(", ")}) " else " ")
      base + grp
  }

  /** A label name in canonical query text: bare when it fits the
    * classic ident grammar, quoted (3.x UTF-8 form) otherwise. */
  private def keyTxt(k: String): String =
    if (k.nonEmpty && (k.head.isLetter && k.head <= 'z' || k.head == '_') &&
        k.forall(c => c.isLetterOrDigit && c <= 'z' || c == '_')) k
    else s""""${strEsc(k)}""""

  private def selTxt(ms: Seq[LabelMatcher]): String = {
    def bareMetric(s: String) =
      s.nonEmpty && (s.head.isLetter || s.head == '_' || s.head == ':') &&
        s.forall(c => c.isLetterOrDigit && c <= 'z' || c == '_' || c == ':')
    def bareLabel(s: String) =
      s.nonEmpty && (s.head.isLetter && s.head <= 'z' || s.head == '_') &&
        s.forall(c => c.isLetterOrDigit && c <= 'z' || c == '_')
    val (name, rest) = ms.partition(m =>
      m.name == "__name__" && m.mtype == MatcherType.Eq)
    // a metric name outside the classic ident grammar renders as the
    // Prometheus 3.x quoted form inside the braces
    val (prefix, quotedName) = name.headOption.map(_.value) match {
      case Some(v) if bareMetric(v) => (v, Seq.empty[String])
      case Some(v) => ("", Seq(s""""${strEsc(v)}""""))
      case None => ("", Seq.empty[String])
    }
    val inner = quotedName ++ (name.drop(1) ++ rest).map { m =>
      val op = m.mtype match {
        case MatcherType.Eq  => "="
        case MatcherType.Neq => "!="
        case MatcherType.Re  => "=~"
        case MatcherType.Nre => "!~"
      }
      val key =
        if (bareLabel(m.name)) m.name else s""""${strEsc(m.name)}""""
      s"""$key$op"${strEsc(m.value)}""""
    }
    if (inner.isEmpty) prefix else s"$prefix{${inner.mkString(",")}}"
  }

  // ---- Result encoding -------------------------------------------

  /** v_e6 → Prometheus's decimal sample-value text, by pure integer
    * formatting (never through a double). */
  def formatE6(v: Long): String = {
    if (v < 0) "-" + formatE6(-v)
    else {
      val whole = v / 1000000L
      val frac = (v % 1000000L).toInt
      if (frac == 0) whole.toString
      else {
        val f = f"$frac%06d".reverse.dropWhile(_ == '0').reverse
        s"$whole.$f"
      }
    }
  }
}
