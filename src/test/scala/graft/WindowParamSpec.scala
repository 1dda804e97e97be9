package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.functions._

import graft.functions.Param
import graft.ingest.{RollupStore, SamplesStore}
import graft.operators.{Matchers, ReadQuery, SeriesRead}
import graft.serve.PromQL

/** Request windows reach Spark as runtime parameters
  * ([[graft.functions.Param]]): the same expression on a window
  * shifted by one step generates byte-identical code, compiles
  * nothing, and still answers its own window. */
class WindowParamSpec extends SparkSpecBase {

  private val T0 = 1704499200L // a day start
  private val Step = 60L
  // a 30-minute panel inside the store's second hour: the window and
  // its one-step shift round to the same hours, so even the
  // hour-grained pushdown literals agree
  private val W = (T0 + 3660L, T0 + 5460L)

  private lazy val store: (String, DataFrame, DataFrame, RollupStore.Ladder) = {
    import spark.implicits._
    val path = "/tmp/graft_test/window_param"
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(path, path + "_stale", path + "_roll").foreach(p => fs.delete(new Path(p), true))
    // 4 h of 15 s scrapes: 8 counters, 8 gauges, classic histogram
    // buckets for two jobs, a metric that stops after the first hour,
    // and one whose last sample (at T0 + 4500) a staleness marker ends
    val rows = (0 until 960).flatMap { k =>
      val ts = (T0 + k * 15L) * 1000000L
      val inst = (0 until 8).flatMap { n =>
        val ls = Seq(s"instance=i$n", s"job=j${n % 2}")
        Seq((ts, "req_total", ls, (n + 1) * k * 0.5),
          (ts, "mem", ls, 1000.0 * n + k % 23))
      }
      val buckets = for (j <- 0 until 2; (le, f) <- Seq("0.1" -> 1, "1" -> 3, "+Inf" -> 4))
        yield (ts, "lat_bucket", Seq(s"job=j$j", s"le=$le"), (j + 1.0) * f * k)
      val sparse = if (k < 240) Seq((ts, "sparse", Seq("job=j0"), 1.0)) else Nil
      val gone = if (k <= 300) Seq((ts, "gone", Seq("job=j0"), 2.0)) else Nil
      inst ++ buckets ++ sparse ++ gone
    }.toDF("ts_us", "metric", "labels", "value")
    SamplesStore.write(rows, path)
    SamplesStore.write(Seq(((T0 + 4501L) * 1000000L, "gone", Seq("job=j0"), 0.0))
      .toDF("ts_us", "metric", "labels", "value"),
      path + "_stale")
    RollupStore.rollup(spark, path, path + "_roll", 3600L)
    (path, SamplesStore.read(spark, path), SamplesStore.read(spark, path + "_stale"),
      RollupStore.Ladder(path, path + "_roll", 3600L))
  }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Run `df` and return its rows and the code of its whole-stage
    * codegen subtrees (AQE's final plan). */
  private def run(df: DataFrame): (Seq[String], Seq[String]) = {
    val rows = df.collect().map(_.toSeq.map {
      case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("|")).toSeq.sorted
    (rows, codegenStringSeq(df.queryExecution.executedPlan).map(_._2).sorted)
  }

  /** Evaluate `q` on (start, end) = W and on W shifted by `step`: the
    * shift must generate the same code, add no compilation, and answer
    * exactly the rows a wider window [start, end + step] answers for
    * the shifted grid (`t` of each row is column `tCol`). */
  private def windowInvariant(q: (Long, Long) => DataFrame, step: Long = Step,
                              w: (Long, Long) = W, tCol: String = "t"): Unit = {
    val (s, e) = w
    val (_, codeA) = run(q(s, e))
    val before = compiles
    val shifted = q(s + step, e + step)
    val (rowsB, codeB) = run(shifted)
    assert(compiles - before == 0, "a shifted window compiled new classes")
    assert(codeA.nonEmpty && codeA == codeB, "a shifted window generated different code")
    val wide = q(s, e + step)
    val (want, _) = run(wide.filter(col(tCol) >= s + step))
    assert(rowsB.nonEmpty, "the shifted window answered nothing")
    assert(rowsB == want, "the shifted window must answer its own window")
  }

  private def promql(text: String, withStale: Boolean = false,
                     withRollup: Boolean = false): (Long, Long) => DataFrame = {
    val (_, samples, stale, ladder) = store
    val e = PromQL.parse(text).fold(err => sys.error(err), identity)
    (s, en) => PromQL.eval(samples, e, s, en, Step,
      rollup = if (withRollup) Some(ladder) else None,
      stale = if (withStale) Some(stale) else None)
  }

  /** The servebench dashboard's three panels and the evaluator's
    * window-bearing shapes. */
  Seq(
    "sum by (job) (rate(req_total[5m]))",
    "topk(3, mem)",
    """max by (instance) (avg_over_time(mem{job="j1"}[5m]))""",
    "irate(req_total[5m])",
    "quantile_over_time(0.9, mem[5m])",
    "max_over_time(rate(req_total[5m])[10m:1m])",
    "rate(req_total[5m] offset 10m)",
    s"rate(req_total[5m] @ ${T0 + 3000})",
    "histogram_quantile(0.9, sum by (le) (rate(lat_bucket[5m])))",
    "absent_over_time(sparse[5m])"
  ).foreach { text =>
    test(s"a shifted window reuses the generated code: $text") {
      windowInvariant(promql(text))
    }
  }

  test("a shifted window reuses the generated code: an instant selector with a _stale sibling") {
    val q = promql("gone", withStale = true)
    windowInvariant(q)
    // the marker ends the series inside the lookback of its last sample
    val (s, e) = W
    def lastStep(df: DataFrame): Long = df.agg(max(col("t"))).head().getLong(0)
    assert(lastStep(q(s, e)) == T0 + 4500L)
    assert(lastStep(promql("gone")(s, e)) == T0 + 4740L)
  }

  test("a shifted window reuses the generated code: a rollup-routed sum_over_time") {
    val m = OpsMetrics(spark)
    val before = m.readsFromRollup.value
    // tiling windows on an hour-aligned grid, inside one day
    windowInvariant({ (s, e) =>
      val (_, samples, _, ladder) = store
      PromQL.eval(samples, PromQL.parse("sum_over_time(req_total[1h])").toOption.get,
        s, e, 3600L, rollup = Some(ladder))
    }, step = 3600L, w = (T0 + 7200L, T0 + 10800L))
    assert(m.readsFromRollup.value > before, "the aligned tiling query must route to the rollup")
  }

  /** /read's float leg: selectKeyed → assemble, flattened to points. */
  private def readLeg(metric: String)(s: Long, e: Long): DataFrame =
    SeriesRead.assemble(SeriesRead.selectKeyed(store._2,
        ReadQuery(s * 1000L, e * 1000L, Seq(Matchers.eq("__name__", metric)))))
      .select(col("metric"), col("labels"), explode(col("points")).as("p"))
      .select(col("metric"), col("labels"), col("p.t_sec").as("t_sec"),
        col("p.max_value").as("v"))

  test("a shifted window reuses the generated code: /read samples (selectKeyed → assemble)") {
    windowInvariant(readLeg("req_total"), tCol = "t_sec")
  }

  test("a shifted window reuses the generated code: chunked /read") {
    // STREAMED_XOR_CHUNKS frames the very same assembled rows
    windowInvariant(readLeg("mem"), tCol = "t_sec")
  }

  test("parameters never cross windows in Spark's cache") {
    val (_, samples, _, _) = store
    val e = PromQL.parse("sum by (job) (rate(req_total[5m])) / " +
      "(sum by (job) (rate(req_total[5m])) + sum by (job) (rate(req_total[5m])))")
      .fold(err => sys.error(err), identity)
    def at(s: Long): Seq[String] = run(PromQL.eval(samples, e, s, s + 600L, Step))._1
    val a = T0 + 3600L
    val b = T0 + 7200L
    def steps(rows: Seq[String]): Set[Long] = rows.map(_.split('|')(2).toLong).toSet
    val (atA, atB) = PromQL.releasing {
      val first = at(a)
      // window A's shared subtree is still persisted here
      assert(!spark.sharedState.cacheManager.isEmpty)
      (first, at(b))
    }
    assert(steps(atA) == (a to a + 600L by Step).toSet)
    assert(steps(atB) == (b to b + 600L by Step).toSet, "window B answered another window's steps")
    assert(atA == at(a) && atB == at(b), "an evaluation read another window's cached rows")
    // two plans that differ only in a parameter value are different
    // results to the CacheManager, exchange reuse and subquery reuse
    def plan(v: Long) = spark.range(10).filter(col("id") >= Param.column(spark, v))
      .queryExecution.optimizedPlan
    assert(!plan(3L).sameResult(plan(4L)))
    assert(plan(3L).sameResult(plan(3L)))
  }

  test("a Param is not folded into a literal and binds its own value") {
    val df = spark.range(10).select((col("id") + Param.column(spark, 100L)).as("x"))
      .filter(expr(s"x < ${Param.sql(spark, 105L)}"))
    val opt = df.queryExecution.optimizedPlan
    assert(opt.expressions.exists(_.exists(_.isInstanceOf[Param])),
      s"the parameter was folded away:\n$opt")
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(100L, 101L, 102L, 103L, 104L))
    // the SQL parser's INT literal binds as a BIGINT parameter
    assert(spark.range(1).select(expr(s"${Param.sql(spark, 7L)}")).schema.head.dataType ==
      org.apache.spark.sql.types.LongType)
  }
}
