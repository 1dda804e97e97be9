package graft

import org.apache.spark.sql.functions._

import graft.ingest.{RollupStore, SamplesStore}
import graft.operators.{LabelMatcher, MatcherType}
import graft.serve.PromQL
import graft.serve.PromQL._

/** PromQL parser + evaluator semantics (serve/PromQL.scala): grammar
  * whitelist, the left-closed [t-d, t) range-window convention, the
  * (t-L, t] instant lookback, integer micro-unit values, and the
  * aligned-tiling rollup route. */
class PromQLSpec extends SparkSpecBase {

  // ---- parser -----------------------------------------------------

  test("parser accepts the whitelisted grammar") {
    assert(PromQL.parse("rate(click[5m])") ===
      Right(RangeCall("rate", Seq(graft.operators.Matchers.eq("__name__", "click")), 300L)))
    assert(PromQL.parse("""sum by (user) (sum_over_time(m{k="v"}[1h]))""") match {
      case Right(Agg("sum", Seq("user"), RangeCall("sum_over_time", ms, 3600L, 0L), false, None)) =>
        ms.exists(m => m.name == "k" && m.value == "v")
      case _ => false
    })
    assert(PromQL.parse("topk(3, sum by (a) (rate(x[5m])))") match {
      case Right(Rank(false, 3, Agg("sum", Seq("a"), RangeCall("rate", _, 300L, _), _, _), Nil, false)) => true
      case _ => false
    })
    // suffix by-clause, bottomk, compound + bare-second durations
    assert(PromQL.parse("avg(rate(x[1h30m])) by (user)") match {
      case Right(Agg("avg", Seq("user"), RangeCall("rate", _, 5400L, _), _, _)) => true
      case _ => false
    })
    assert(PromQL.parse("bottomk(2, x)") ===
      Right(Rank(bottom = true, 2,
        Instant(Seq(graft.operators.Matchers.eq("__name__", "x")), 0L))))
    assert(PromQL.parse("max_over_time(x[90])") ===
      Right(RangeCall("max_over_time", Seq(graft.operators.Matchers.eq("__name__", "x")), 90L)))
    // the offset modifier shifts windows back, on range calls and
    // bare selectors alike; last/stddev_over_time are in the grammar
    assert(PromQL.parse("rate(x[5m] offset 1h)") match {
      case Right(RangeCall("rate", _, 300L, 3600L)) => true
      case _ => false
    })
    assert(PromQL.parse("m offset 30s") match {
      case Right(Instant(_, 30L)) => true
      case _ => false
    })
    assert(PromQL.parse("last_over_time(x[1d])") match {
      case Right(RangeCall("last_over_time", _, 86400L, 0L)) => true
      case _ => false
    })
    assert(PromQL.parse("stddev_over_time(x[1h])").isRight)
    assert(PromQL.parse("m offset").isLeft) // offset needs a duration
    // binary arithmetic: vector∘scalar, vector∘vector, grouping
    assert(PromQL.parse("rate(x[5m]) * 100") match {
      case Right(Binary('*', RangeCall("rate", _, 300L, _), ScalarLit(100.0), _)) => true
      case _ => false
    })
    assert(PromQL.parse("(sum by (a) (x)) / sum by (a) (y)") match {
      case Right(Binary('/', Agg("sum", _, _, _, _), Agg("sum", _, _, _, _), _)) => true
      case _ => false
    })
    assert(PromQL.parse("100 - m") match {
      case Right(Binary('-', ScalarLit(100.0), Instant(_, _), _)) => true
      case _ => false
    })
    // scalar-only expressions fold at parse time (the Grafana health
    // probe); the evaluator still refuses them as vector plans
    assert(PromQL.parse("1+1") === Right(ScalarLit(2.0)))
    assert(PromQL.parse("(2 * 3) - 1") === Right(ScalarLit(5.0)))
    assertThrows[IllegalArgumentException] {
      PromQL.eval(tinySamples, ScalarLit(2.0), T0, T0, 1L)
    }
    // a metric that merely SPELLS like an operator stays a selector
    assert(PromQL.parse("""sum{job="a"}""") match {
      case Right(Instant(ms, 0L)) => ms.exists(m => m.name == "__name__" && m.value == "sum")
      case _ => false
    })
  }

  test("parser rejects everything off the whitelist with a message") {
    val bad = Seq(
      "rate(x)",                  // range fn needs [d]
      "x[5m]",                    // bare range selector
      "topk(0, x)",               // k must be positive
      "rate(x[0s])",              // zero duration
      "rate(x[5q])",              // unknown unit
      "sum by (a) by (b) (x)",    // malformed
      """m{k="v"""",              // unterminated braces
      "",                         // empty
      "1 / 0",                    // scalar division by zero
      "rate(x[5m]) %")            // unknown operator → trailing input
    bad.foreach { q =>
      assert(PromQL.parse(q).isLeft, s"should reject: $q")
    }
  }

  test("parser: precedence ladder, comparisons, set ops, grouping modifiers, math fns") {
    // * binds over +, + over >, > over and, and over or
    assert(PromQL.parse("a + b * 2 > 5 and c or d") match {
      case Right(SetOp("or",
        SetOp("and",
          Cmp(">", false,
            Binary('+', Instant(_, _), Binary('*', Instant(_, _), ScalarLit(2.0), _), _),
            ScalarLit(5.0), _),
          Instant(_, _), _),
        Instant(_, _), _)) => true
      case _ => false
    })
    assert(PromQL.parse("x > bool 5") match {
      case Right(Cmp(">", true, Instant(_, _), ScalarLit(5.0), None)) => true
      case _ => false
    })
    assert(PromQL.parse("1 < bool 2") === Right(ScalarLit(1.0)))
    assert(PromQL.parse("x unless y{a=\"b\"}") match {
      case Right(SetOp("unless", Instant(_, _), Instant(_, _), _)) => true
      case _ => false
    })
    assert(PromQL.parse("sum without (user) (x)") match {
      case Right(Agg("sum", Seq("user"), Instant(_, _), true, None)) => true
      case _ => false
    })
    assert(PromQL.parse("quantile(0.9, x)") match {
      case Right(Agg("quantile", Seq(), Instant(_, _), false, Some(0.9))) => true
      case _ => false
    })
    assert(PromQL.parse("group by (host) (x)") match {
      case Right(Agg("group", Seq("host"), Instant(_, _), false, None)) => true
      case _ => false
    })
    assert(PromQL.parse("irate(x[5m])") match {
      case Right(RangeCall("irate", _, 300L, 0L)) => true
      case _ => false
    })
    Seq("idelta", "changes", "resets", "deriv").foreach { fn =>
      assert(PromQL.parse(s"$fn(x[1h])") match {
        case Right(RangeCall(`fn`, _, 3600L, 0L)) => true
        case _ => false
      }, fn)
    }
    assert(PromQL.parse("predict_linear(x[1h], 3600)") match {
      case Right(Predict(_, 3600L, 3600L, 0L)) => true
      case _ => false
    })
    assert(PromQL.parse("absent_over_time(x{job=\"a\"}[1h] offset 1d)") match {
      case Right(Absent(_, 3600L, 86400L)) => true
      case _ => false
    })
    assert(PromQL.parse("clamp(x, 1, 5)") match {
      case Right(MathFn("clamp", Instant(_, _), Seq(1.0, 5.0))) => true
      case _ => false
    })
    assert(PromQL.parse("round(sum_over_time(x[1h]), 10)") match {
      case Right(MathFn("round", RangeCall("sum_over_time", _, _, _), Seq(10.0))) => true
      case _ => false
    })
    // a metric merely SPELLING like a function stays a selector
    assert(PromQL.parse("clamp{job=\"a\"}") match {
      case Right(Instant(ms, 0L)) =>
        ms.exists(m => m.name == "__name__" && m.value == "clamp")
      case _ => false
    })
    assert(PromQL.parse("group") match {
      case Right(Instant(ms, 0L)) =>
        ms.exists(m => m.name == "__name__" && m.value == "group")
      case _ => false
    })
    // new rejects
    Seq(
      "clamp(x, 5, 1)",           // min > max
      "clamp(x)",                 // wrong arity
      "round(x, 0)",              // to_nearest must be positive
      "quantile(1.5, x)",         // φ out of range
      "1 < 2",                    // scalar comparison needs bool
      "x and 1",                  // set op needs two vectors
      "abs(5)",                   // math fn needs a vector
      "sum without (a) by (b) (x)", // duplicate grouping
      "predict_linear(x[1h])"     // missing horizon
    ).foreach { q => assert(PromQL.parse(q).isLeft, s"should reject: $q") }
  }

  test("every scalar-scalar comparison needs bool; the bool form answers 1/0") {
    Seq("time() > 5", "5 < time()", "scalar(a) > time()", "time() == scalar(a)",
      "scalar(a) != 1", "time() * 2 >= 3", "(time()) <= scalar(b)",
      "(time() > bool 5) == 1")
      .foreach { q =>
        assert(PromQL.parse(q) === Left("comparisons between scalars must use the bool modifier"),
          s"should reject: $q")
      }
    // a vector side keeps the filter form
    assert(PromQL.parse("vector(1) > time()").isRight)
    assert(PromQL.parse("a > scalar(b)").isRight)
    assert(PromQL.parse("time() > bool 5") ===
      Right(Cmp(">", true, TimeFn, ScalarLit(5.0), None)))
    val t = 1704412800L
    val out = PromQL.eval(spark.emptyDataFrame, PromQL.parse(s"time() > bool ${t + 30}").toOption.get,
      t, t + 60, 30L).select("t", "v_e6").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out === Set((t, 0L), (t + 30, 0L), (t + 60, 1000000L)))
  }

  test("formatE6 prints exact micro-unit decimals") {
    assert(PromQL.formatE6(1500000L) === "1.5")
    assert(PromQL.formatE6(1000000L) === "1")
    assert(PromQL.formatE6(123L) === "0.000123")
    assert(PromQL.formatE6(-1500000L) === "-1.5")
    assert(PromQL.formatE6(0L) === "0")
    assert(PromQL.formatE6(50000L) === "0.05")
  }

  // ---- evaluator --------------------------------------------------

  private val T0 = 1704412800L // aligned to every interval used below

  /** One tiny two-series corpus: s1 = counter-ish on metric m,
    * s2 = a second series on metric m with its own label set. */
  private def tinySamples = {
    import spark.implicits._
    Seq(
      (T0 * 1000000L,          "m", Seq("host=a", "user=1"), 1.0),
      ((T0 + 30) * 1000000L,   "m", Seq("host=a", "user=1"), 2.5),
      ((T0 + 60) * 1000000L,   "m", Seq("host=a", "user=1"), 4.0),
      ((T0 + 95) * 1000000L,   "m", Seq("host=a", "user=1"), 1.0), // reset
      (T0 * 1000000L,          "m", Seq("host=b", "user=2"), 10.0),
      ((T0 + 45) * 1000000L,   "m", Seq("host=b", "user=2"), 10.25)
    ).toDF("ts_us", "metric", "labels", "value")
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(String, String, Long, Long)] =
    df.select(coalesce(col("metric"), lit("")), array_join(col("labels"), ","),
        col("t"), col("v_e6"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet

  test("range windows are left-closed [t-d, t): a sample AT t belongs to the next window") {
    val out = rows(PromQL.eval(tinySamples,
      parse("sum_over_time(m[60s])").toOption.get, T0 + 60, T0 + 120, 60L))
    // window ending t0+60 = [t0, t0+60): 1.0 + 2.5 (the 4.0 AT t0+60 is
    // out); sum_over_time drops the metric name
    assert(out.contains(("", "host=a,user=1", T0 + 60, 3500000L)))
    // window ending t0+120 = [t0+60, t0+120): 4.0 + 1.0
    assert(out.contains(("", "host=a,user=1", T0 + 120, 5000000L)))
    assert(out.contains(("", "host=b,user=2", T0 + 60, 20250000L))) // 10.0 + 10.25
    // series b has nothing in [t0+60, t0+120) — no row, not a zero
    assert(!out.exists(r => r._2 == "host=b,user=2" && r._3 == T0 + 120))
  }

  // Prometheus drops __name__ from every *_over_time result except
  // last_over_time and first_over_time, which answer one of the
  // window's own samples unchanged — bare and over a subquery alike
  private val overTimeNames = Seq(
    "sum_over_time" -> false, "count_over_time" -> false, "avg_over_time" -> false,
    "min_over_time" -> false, "max_over_time" -> false, "stddev_over_time" -> false,
    "stdvar_over_time" -> false, "present_over_time" -> false, "mad_over_time" -> false,
    "ts_of_first_over_time" -> false, "ts_of_last_over_time" -> false,
    "ts_of_max_over_time" -> false, "ts_of_min_over_time" -> false,
    "last_over_time" -> true, "first_over_time" -> true)
  for ((fn, keeps) <- overTimeNames)
    test(s"bare $fn ${if (keeps) "keeps" else "drops"} __name__") {
      val out = rows(PromQL.eval(tinySamples, parse(s"$fn(m[60s])").toOption.get,
        T0 + 60, T0 + 120, 60L))
      assert(out.nonEmpty && out.forall(_._1 == (if (keeps) "m" else "")), out)
    }
  // ... and so does every other range-vector function, bare and over
  // a subquery
  for (q <- Seq("rate(m[60s])", "increase(m[60s])", "delta(m[60s])",
      "irate(m[60s])", "idelta(m[60s])", "deriv(m[60s])", "changes(m[60s])",
      "resets(m[60s])", "predict_linear(m[60s], 60)",
      "holt_winters(m[60s], 0.5, 0.5)", "rate(m[120s:30s])",
      "increase(m[120s:30s])", "delta(m[120s:30s])"))
    test(s"$q drops __name__") {
      val out = rows(PromQL.eval(tinySamples, parse(q).toOption.get,
        T0 + 60, T0 + 120, 60L))
      assert(out.nonEmpty && out.forall(_._1 == ""), out)
    }
  test("bare quantile_over_time drops __name__") {
    val out = rows(PromQL.eval(tinySamples,
      parse("quantile_over_time(0.5, m[60s])").toOption.get, T0 + 60, T0 + 120, 60L))
    assert(out.nonEmpty && out.forall(_._1 == ""), out)
  }
  test("a *_over_time subquery follows the same __name__ rule") {
    def names(q: String) = rows(PromQL.eval(tinySamples, parse(q).toOption.get,
      T0 + 120, T0 + 120, 60L)).map(_._1)
    assert(names("max_over_time(m[120s:30s])") === Set(""))
    assert(names("last_over_time(m[120s:30s])") === Set("m"))
  }

  test("onGrid assigns each sample exactly the grid steps whose window holds it") {
    import org.scalacheck.{Gen, Prop, Test}
    import org.scalacheck.rng.Seed
    import spark.implicits._
    // random grids (negative starts included — where `offset` puts
    // them), windows shorter and longer than the step and not a
    // multiple of it, samples on and next to every window edge
    val cases = for {
      step <- Gen.choose(1L, 120L)
      w <- Gen.choose(1L, 400L)
      start <- Gen.choose(-2000L, 2000L)
      k <- Gen.choose(0L, 12L)
      extra <- Gen.choose(0L, step - 1)
      lookback <- Gen.oneOf(false, true)
      noise <- Gen.listOfN(20, Gen.choose(start - w - 50, start + k * step + extra + 50))
    } yield (step, w, start, start + k * step + extra, lookback, noise)
    val prop = Prop.forAllNoShrink(cases) { case (step, w, start, end, lookback, noise) =>
      // a range window [t-w, t) is (lo, hi) = (1, w); the instant
      // lookback (t-w, t] is (0, w-1)
      val (lo, hi) = if (lookback) (0L, w - 1) else (1L, w)
      val grid = start to end by step
      val tss = (noise ++ grid.flatMap(t => Seq(t - w - 1, t - w, t - 1, t, t + 1))).distinct
      val got = PromQL.onGrid(tss.toDF("ts"), "ts", start, end, step, lo, hi)
        .select("ts", "t").as[(Long, Long)].collect().toSet
      val want = for {
        ts <- tss.toSet[Long]
        t <- grid
        if (if (lookback) t - w < ts && ts <= t else t - w <= ts && ts < t)
      } yield (ts, t)
      got == want
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(80)
      .withInitialSeed(Seed(20261020L)), prop)
    assert(res.passed, res.status)
  }

  test("time() as a zero divisor drops its step instead of failing the query") {
    def q(e: String) = rows(PromQL.eval(tinySamples, parse(e).toOption.get, -60L, 60L, 60L))
    assert(q("vector(1) / time()") === Set(("", "", -60L, -16667L), ("", "", 60L, 16667L)))
    assert(q("vector(1) % time()") === Set(("", "", -60L, 1000000L), ("", "", 60L, 1000000L)))
  }

  test("instant lookback is (t-L, t]: the latest sample at or before t") {
    val out = rows(PromQL.eval(tinySamples, parse("m").toOption.get,
      T0 + 60, T0 + 60, 1L, lookbackSec = 50L))
    // at t0+60: series a's latest in (t0+10, t0+60] is 4.0 (inclusive
    // right edge); series b's latest is 10.25 at t0+45
    assert(out === Set(
      ("m", "host=a,user=1", T0 + 60, 4000000L),
      ("m", "host=b,user=2", T0 + 60, 10250000L)))
  }

  // ---- staleness markers (the `_stale` sibling through eval) ------

  /** One marker ending series a at T0+70 — between its T0+60 and
    * T0+95 samples. */
  private def staleMarksA = {
    import spark.implicits._
    Seq(((T0 + 70) * 1000000L, "m", Seq("host=a", "user=1"), 1.0))
      .toDF("ts_us", "metric", "labels", "value")
  }

  test("a stale marker ENDS the series at the instant lookback; a newer sample revives it") {
    val out = rows(PromQL.eval(tinySamples, parse("m").toOption.get,
      T0, T0 + 120, 30L, stale = Some(staleMarksA)))
    // before the marker: the ordinary lookback
    assert(out.contains(("m", "host=a,user=1", T0, 1000000L)))
    assert(out.contains(("m", "host=a,user=1", T0 + 60, 4000000L)))
    // at T0+90 the marker (T0+70) is series a's latest event: the
    // step produces NO point — without markers the 4.0 would linger
    // for the full lookback
    assert(!out.exists(r => r._2 == "host=a,user=1" && r._3 == T0 + 90))
    // the T0+95 sample is newer than the marker: series revives
    assert(out.contains(("m", "host=a,user=1", T0 + 120, 1000000L)))
    // the unmarked series never notices
    assert(out.contains(("m", "host=b,user=2", T0 + 90, 10250000L)))
    assert(out.contains(("m", "host=b,user=2", T0 + 120, 10250000L)))
  }

  test("markers ride the selector's matchers and flow through aggregation") {
    // sum(m): at T0+90 only series b contributes (a is staled)
    val out = rows(PromQL.eval(tinySamples, parse("sum(m)").toOption.get,
      T0 + 90, T0 + 90, 1L, stale = Some(staleMarksA)))
    assert(out === Set(("", "", T0 + 90, 10250000L)))
    // a selector NOT matching the dead series is untouched by it
    val b = rows(PromQL.eval(tinySamples,
      parse("""m{host="b"}""").toOption.get,
      T0 + 90, T0 + 90, 1L, stale = Some(staleMarksA)))
    assert(b === Set(("m", "host=b,user=2", T0 + 90, 10250000L)))
  }

  test("absent() sees a fully-staled vector as absent") {
    import spark.implicits._
    val both = Seq(
      ((T0 + 70) * 1000000L, "m", Seq("host=a", "user=1"), 1.0),
      ((T0 + 70) * 1000000L, "m", Seq("host=b", "user=2"), 1.0))
      .toDF("ts_us", "metric", "labels", "value")
    val out = rows(PromQL.eval(tinySamples, parse("absent(m)").toOption.get,
      T0 + 90, T0 + 90, 1L, stale = Some(both)))
    assert(out === Set(("", "", T0 + 90, 1000000L)))
    // without markers the vector is present → no absent row
    val no = rows(PromQL.eval(tinySamples, parse("absent(m)").toOption.get,
      T0 + 90, T0 + 90, 1L))
    assert(no.isEmpty)
  }

  test("timestamp() suppresses with its series") {
    val out = rows(PromQL.eval(tinySamples,
      parse("timestamp(m)").toOption.get,
      T0 + 90, T0 + 90, 1L, stale = Some(staleMarksA)))
    assert(out === Set(("", "host=b,user=2", T0 + 90, (T0 + 45) * 1000000L)))
  }

  test("range windows never see markers: rate over a marked window is unchanged") {
    val expr = parse("rate(m[60s])").toOption.get
    val withM = rows(PromQL.eval(tinySamples, expr, T0 + 60, T0 + 120, 60L,
      stale = Some(staleMarksA)))
    val without = rows(PromQL.eval(tinySamples, expr, T0 + 60, T0 + 120, 60L))
    assert(withM === without)
  }

  test("a marker at the same second as a sample breaks to the SAMPLE — the /read tie rule") {
    import spark.implicits._
    // tinySamples has a real sample for host=a at T0+95; a marker at
    // the same second must NOT end the series (a real value at that
    // second proves it alive, and the /read pass-through keeps the
    // sample on the same tie — one rule on both surfaces). A marker
    // one second LATER does end it.
    val tie = Seq(((T0 + 95) * 1000000L, "m", Seq("host=a", "user=1"), 1.0))
      .toDF("ts_us", "metric", "labels", "value")
    val out = rows(PromQL.eval(tinySamples, parse("m").toOption.get,
      T0 + 120, T0 + 120, 1L, stale = Some(tie)))
    assert(out.exists(_._2 == "host=a,user=1"))
    assert(out.contains(("m", "host=b,user=2", T0 + 120, 10250000L)))
    val later = Seq(((T0 + 96) * 1000000L, "m", Seq("host=a", "user=1"), 1.0))
      .toDF("ts_us", "metric", "labels", "value")
    val out2 = rows(PromQL.eval(tinySamples, parse("m").toOption.get,
      T0 + 120, T0 + 120, 1L, stale = Some(later)))
    assert(!out2.exists(_._2 == "host=a,user=1"))
  }

  test("rate is the observed-span Δv/Δt, half-up in micro-units; resets drop the window") {
    val out = rows(PromQL.eval(tinySamples, parse("rate(m[60s])").toOption.get,
      T0 + 60, T0 + 120, 60L))
    // [t0, t0+60): points 1.0@t0, 2.5@t0+30 → 1.5/30 = 0.05; like
    // every range function but last/first_over_time, rate drops the name
    assert(out.contains(("", "host=a,user=1", T0 + 60, 50000L)))
    // [t0+60, t0+120): 4.0@t0+60 → 1.0@t0+95 is a reset → dropped
    assert(!out.exists(r => r._2 == "host=a,user=1" && r._3 == T0 + 120))
    // series b: 0.25 over 45s = 0.005555... → half-up 5556 µ
    assert(out.contains(("", "host=b,user=2", T0 + 60, 5556L)))
  }

  test("offset shifts every window back; last_over_time takes the window's newest point") {
    // last_over_time on [t-60, t): at t0+120 the window [t0+60, t0+120)
    // holds 4.0@t0+60 and 1.0@t0+95 → last = 1.0
    val last = rows(PromQL.eval(tinySamples,
      parse("last_over_time(m[60s])").toOption.get, T0 + 120, T0 + 120, 60L))
    assert(last.contains(("m", "host=a,user=1", T0 + 120, 1000000L)))
    // the same call `offset 60s` at t0+180 answers the t0+120 window
    val off = rows(PromQL.eval(tinySamples,
      parse("last_over_time(m[60s] offset 60s)").toOption.get,
      T0 + 180, T0 + 180, 60L))
    assert(off === last.map { case (m, l, t, v) => (m, l, t + 60, v) })
    // an offset bare selector equals the unshifted selector evaluated
    // at the shifted time, re-stamped onto the query grid
    val shifted = rows(PromQL.eval(tinySamples,
      parse("m offset 60s").toOption.get, T0 + 120, T0 + 120, 1L,
      lookbackSec = 50L))
    val direct = rows(PromQL.eval(tinySamples, parse("m").toOption.get,
      T0 + 60, T0 + 60, 1L, lookbackSec = 50L))
    assert(shifted === direct.map { case (m, l, t, v) => (m, l, t + 60, v) })
  }

  test("sum by (label) merges series, drops the metric name, keeps sorted kept-labels") {
    val out = PromQL.eval(tinySamples,
      parse("sum by (host) (sum_over_time(m[60s]))").toOption.get,
      T0 + 60, T0 + 60, 60L)
    assert(out.filter(col("metric").isNotNull).count() === 0)
    assert(rows(out) === Set(
      ("", "host=a", T0 + 60, 3500000L),
      ("", "host=b", T0 + 60, 20250000L)))
    // count + avg over the same group shape
    val cnt = rows(PromQL.eval(tinySamples,
      parse("count(sum_over_time(m[60s]))").toOption.get, T0 + 60, T0 + 60, 60L))
    assert(cnt === Set(("", "", T0 + 60, 2000000L)))
  }

  test("binary arithmetic: scalar projections and full-label-set vector matching") {
    // vector * scalar scales every row
    val scaled = rows(PromQL.eval(tinySamples,
      parse("sum_over_time(m[60s]) * 100").toOption.get, T0 + 60, T0 + 60, 60L))
    assert(scaled === Set(
      ("", "host=a,user=1", T0 + 60, 350000000L),
      ("", "host=b,user=2", T0 + 60, 2025000000L)))
    // scalar-on-left subtraction
    val inv = rows(PromQL.eval(tinySamples,
      parse("100 - sum_over_time(m[60s])").toOption.get, T0 + 60, T0 + 60, 60L))
    assert(inv.contains(("", "host=a,user=1", T0 + 60, 96500000L)))
    // vector / vector on matching label sets: the self-ratio is 1
    val self = rows(PromQL.eval(tinySamples,
      parse("sum_over_time(m[60s]) / sum_over_time(m[60s])").toOption.get,
      T0 + 60, T0 + 60, 60L))
    assert(self === Set(
      ("", "host=a,user=1", T0 + 60, 1000000L),
      ("", "host=b,user=2", T0 + 60, 1000000L)))
    // series present on only one side drop (inner matching): b has no
    // points in [t0+60, t0+120), so only a survives the self-ratio
    val partial = rows(PromQL.eval(tinySamples,
      parse("sum_over_time(m[60s]) / sum_over_time(m[60s])").toOption.get,
      T0 + 120, T0 + 120, 60L))
    assert(partial.map(_._2) === Set("host=a,user=1"))
  }

  test("quantile_over_time interpolates exactly per window") {
    assert(PromQL.parse("quantile_over_time(0.9, x[5m])") match {
      case Right(Quantile(0.9, _, 300L, 0L)) => true
      case _ => false
    })
    assert(PromQL.parse("quantile_over_time(1.5, x[5m])").isLeft)
    // [t0, t0+60) for series a holds {1.0, 2.5}: the median
    // interpolates to 1.75, φ=1 is the max
    val med = rows(PromQL.eval(tinySamples,
      parse("quantile_over_time(0.5, m[60s])").toOption.get,
      T0 + 60, T0 + 60, 60L))
    assert(med.contains(("", "host=a,user=1", T0 + 60, 1750000L)))
    val max = rows(PromQL.eval(tinySamples,
      parse("quantile_over_time(1, m[60s])").toOption.get,
      T0 + 60, T0 + 60, 60L))
    assert(max.contains(("", "host=a,user=1", T0 + 60, 2500000L)))
  }

  test("topk/bottomk rank per step with deterministic tie-breaks") {
    val top = rows(PromQL.eval(tinySamples,
      parse("topk(1, sum by (host) (sum_over_time(m[60s])))").toOption.get,
      T0 + 60, T0 + 60, 60L))
    assert(top === Set(("", "host=b", T0 + 60, 20250000L)))
    val bot = rows(PromQL.eval(tinySamples,
      parse("bottomk(1, sum by (host) (sum_over_time(m[60s])))").toOption.get,
      T0 + 60, T0 + 60, 60L))
    assert(bot === Set(("", "host=a", T0 + 60, 3500000L)))
  }

  test("comparisons filter (keeping the metric name) or answer 1/0 under bool") {
    // [t0, t0+60): a = 3.5, b = 20.25
    val filt = rows(PromQL.eval(tinySamples,
      parse("sum_over_time(m[60s]) * 1 > 5").toOption.get, T0 + 60, T0 + 60, 60L))
    assert(filt === Set(("", "host=b,user=2", T0 + 60, 20250000L)))
    // without an arithmetic wrapper the metric name survives a filter
    // (last_over_time keeps it: a = 2.5, b = 10.25)
    val keep = rows(PromQL.eval(tinySamples,
      parse("last_over_time(m[60s]) <= 5").toOption.get, T0 + 60, T0 + 60, 60L))
    assert(keep === Set(("m", "host=a,user=1", T0 + 60, 2500000L)))
    val bool = rows(PromQL.eval(tinySamples,
      parse("sum_over_time(m[60s]) > bool 5").toOption.get, T0 + 60, T0 + 60, 60L))
    assert(bool === Set(
      ("", "host=a,user=1", T0 + 60, 0L),
      ("", "host=b,user=2", T0 + 60, 1000000L)))
    // vector∘vector: self-comparison >= keeps every matched row
    val vv = rows(PromQL.eval(tinySamples,
      parse("sum_over_time(m[60s]) >= sum_over_time(m[60s])").toOption.get,
      T0 + 60, T0 + 60, 60L))
    assert(vv.map(_._4) === Set(3500000L, 20250000L))
  }

  test("and/unless/or match on the full label set per step") {
    val and = rows(PromQL.eval(tinySamples,
      parse("m and m{host=\"a\"}").toOption.get, T0 + 60, T0 + 60, 60L))
    assert(and.map(_._2) === Set("host=a,user=1"))
    assert(and.forall(_._1 == "m")) // set ops keep the metric name
    val unless = rows(PromQL.eval(tinySamples,
      parse("m unless m{host=\"a\"}").toOption.get, T0 + 60, T0 + 60, 60L))
    assert(unless.map(_._2) === Set("host=b,user=2"))
    // or: left rows win; right fills only label sets the left lacks
    val or = rows(PromQL.eval(tinySamples,
      parse("sum_over_time(m{host=\"a\"}[60s]) or sum_over_time(m[60s])")
        .toOption.get, T0 + 60, T0 + 60, 60L))
    assert(or === Set(
      ("", "host=a,user=1", T0 + 60, 3500000L),
      ("", "host=b,user=2", T0 + 60, 20250000L)))
  }

  test("math functions project per row on exact micro-units") {
    def one(q: String): Set[(String, String, Long, Long)] =
      rows(PromQL.eval(tinySamples, parse(q).toOption.get, T0 + 60, T0 + 60, 60L))
    // a = 3.5, b = 20.25 over [t0, t0+60)
    assert(one("ceil(sum_over_time(m[60s]))").map(_._4) === Set(4000000L, 21000000L))
    assert(one("floor(sum_over_time(m[60s]))").map(_._4) === Set(3000000L, 20000000L))
    assert(one("round(sum_over_time(m[60s]))").map(_._4) === Set(4000000L, 20000000L))
    assert(one("round(sum_over_time(m[60s]), 10)").map(_._4) === Set(0L, 20000000L))
    assert(one("abs(0 - sum_over_time(m[60s]))").map(_._4) === Set(3500000L, 20250000L))
    assert(one("sgn(0 - sum_over_time(m[60s]))").map(_._4) === Set(-1000000L))
    assert(one("clamp(sum_over_time(m[60s]), 5, 10)").map(_._4) === Set(5000000L, 10000000L))
    assert(one("clamp_min(sum_over_time(m[60s]), 5)").map(_._4) === Set(5000000L, 20250000L))
    assert(one("clamp_max(sum_over_time(m[60s]), 5)").map(_._4) === Set(3500000L, 5000000L))
    assert(one("ceil(sum_over_time(m[60s]))").forall(_._1 == "")) // name drops
  }

  test("changes/resets count in-window pairs; irate/idelta use the last pair") {
    def one(q: String): Set[(String, String, Long, Long)] =
      rows(PromQL.eval(tinySamples, parse(q).toOption.get, T0 + 120, T0 + 120, 120L))
    // window [t0, t0+120): a = 1.0, 2.5, 4.0, 1.0 (3 changes, 1 reset);
    // b = 10.0, 10.25 (1 change, 0 resets); each drops the name
    assert(one("changes(m[120s])") === Set(
      ("", "host=a,user=1", T0 + 120, 3000000L),
      ("", "host=b,user=2", T0 + 120, 1000000L)))
    assert(one("resets(m[120s])") === Set(
      ("", "host=a,user=1", T0 + 120, 1000000L),
      ("", "host=b,user=2", T0 + 120, 0L)))
    // irate: a's last pair 4.0@+60 → 1.0@+95 is a reset → post-reset
    // value over 35 s = 1/35; b: 0.25/45
    assert(one("irate(m[120s])") === Set(
      ("", "host=a,user=1", T0 + 120, 28571L),
      ("", "host=b,user=2", T0 + 120, 5556L)))
    assert(one("idelta(m[120s])") === Set(
      ("", "host=a,user=1", T0 + 120, -3000000L),
      ("", "host=b,user=2", T0 + 120, 250000L)))
    // a window whose only pair straddles the edge answers 0 changes:
    // [t0+90, t0+120) holds just 1.0@+95 (predecessor at +60 outside)
    val edge = rows(PromQL.eval(tinySamples,
      parse("changes(m[30s])").toOption.get, T0 + 120, T0 + 120, 30L))
    assert(edge.contains(("", "host=a,user=1", T0 + 120, 0L)))
    // and irate has no in-window pair there → no row at all
    val ir = rows(PromQL.eval(tinySamples,
      parse("irate(m[30s])").toOption.get, T0 + 120, T0 + 120, 30L))
    assert(!ir.exists(_._3 == T0 + 120))
  }

  test("deriv is the window's least-squares slope; predict_linear extrapolates it") {
    // series b over [t0, t0+120): (0 s, 10.0), (45 s, 10.25) — the
    // fitted line IS the two points: slope 0.25/45 /s, at +60 s past
    // the window end (t' = 180) the line reads exactly 11.0
    val d = rows(PromQL.eval(tinySamples,
      parse("deriv(m[120s])").toOption.get, T0 + 120, T0 + 120, 120L))
    assert(d.contains(("", "host=b,user=2", T0 + 120, 5556L)))
    val p = rows(PromQL.eval(tinySamples,
      parse("predict_linear(m[120s], 60)").toOption.get, T0 + 120, T0 + 120, 120L))
    assert(p.contains(("", "host=b,user=2", T0 + 120, 11000000L)))
    // single-point windows emit nothing (no slope from one point)
    val single = rows(PromQL.eval(tinySamples,
      parse("deriv(m[30s])").toOption.get, T0 + 120, T0 + 120, 30L))
    assert(!single.exists(r => r._2 == "host=a,user=1" && r._3 == T0 + 120))
  }

  test("absent_over_time emits 1 on empty windows, labeled from the = matchers") {
    val out = rows(PromQL.eval(tinySamples,
      parse("absent_over_time(m{host=\"a\"}[60s])").toOption.get,
      T0 + 60, T0 + 240, 60L))
    // host=a has samples in [t0, t0+60) and [t0+60, t0+120); nothing after
    assert(out === Set(
      ("", "host=a", T0 + 180, 1000000L),
      ("", "host=a", T0 + 240, 1000000L)))
  }

  test("without drops listed labels; group answers 1; quantile interpolates across series") {
    val wo = rows(PromQL.eval(tinySamples,
      parse("sum without (user) (sum_over_time(m[60s]))").toOption.get,
      T0 + 60, T0 + 60, 60L))
    assert(wo === Set(
      ("", "host=a", T0 + 60, 3500000L),
      ("", "host=b", T0 + 60, 20250000L)))
    val grp = rows(PromQL.eval(tinySamples,
      parse("group(sum_over_time(m[60s]))").toOption.get, T0 + 60, T0 + 60, 60L))
    assert(grp === Set(("", "", T0 + 60, 1000000L)))
    // median of {3.5, 20.25} interpolates to 11.875
    val q = rows(PromQL.eval(tinySamples,
      parse("quantile(0.5, sum_over_time(m[60s]))").toOption.get,
      T0 + 60, T0 + 60, 60L))
    assert(q === Set(("", "", T0 + 60, 11875000L)))
  }

  test("histogram_quantile interpolates cumulative le buckets and clamps at +Inf") {
    import spark.implicits._
    // one histogram at t0+30: counts 2 ≤1, 5 ≤2, 9 ≤4, 10 total
    val buckets = Seq(
      ((T0 + 30) * 1000000L, "mb", Seq("host=x", "le=1"), 2.0),
      ((T0 + 30) * 1000000L, "mb", Seq("host=x", "le=2"), 5.0),
      ((T0 + 30) * 1000000L, "mb", Seq("host=x", "le=4"), 9.0),
      ((T0 + 30) * 1000000L, "mb", Seq("host=x", "le=+Inf"), 10.0)
    ).toDF("ts_us", "metric", "labels", "value")
    assert(PromQL.parse("histogram_quantile(0.9, rate(x[5m]))") match {
      case Right(HistQ(0.9, RangeCall("rate", _, 300L, 0L))) => true
      case _ => false
    })
    assert(PromQL.parse("histogram_quantile(0, x)").isLeft)
    // rank 0.5·10 = 5 crosses at le=2: 1 + (2-1)·(5-2)/(5-2) = 2;
    // the le label drops from the output group
    val med = rows(PromQL.eval(buckets,
      parse("histogram_quantile(0.5, mb)").toOption.get, T0 + 60, T0 + 60, 60L))
    assert(med === Set(("", "host=x", T0 + 60, 2000000L)))
    // rank 9.5 > the last finite count 9 → clamp to its bound 4
    val p95 = rows(PromQL.eval(buckets,
      parse("histogram_quantile(0.95, mb)").toOption.get, T0 + 60, T0 + 60, 60L))
    assert(p95 === Set(("", "host=x", T0 + 60, 4000000L)))
    // a rank inside the FIRST bucket interpolates from lower bound 0:
    // rank 1 → 0 + (1-0)·(1-0)/(2-0) = 0.5
    val p10 = rows(PromQL.eval(buckets,
      parse("histogram_quantile(0.1, mb)").toOption.get, T0 + 60, T0 + 60, 60L))
    assert(p10 === Set(("", "host=x", T0 + 60, 500000L)))
    // groups without a +Inf series drop entirely
    val noInf = rows(PromQL.eval(
      buckets.filter(!array_contains(col("labels"), "le=+Inf")),
      parse("histogram_quantile(0.5, mb)").toOption.get, T0 + 60, T0 + 60, 60L))
    assert(noInf === Set.empty)

    // histogram_fraction — the inverse direction over the same
    // buckets. F(1.5) = 2 + (5-2)·(1.5-1)/(2-1) = 3.5, F(3) =
    // 5 + (9-5)·(3-2)/(4-2) = 7 → fraction (7-3.5)/10 = 0.35
    val fr = rows(PromQL.eval(buckets,
      parse("histogram_fraction(1.5, 3, mb)").toOption.get,
      T0 + 60, T0 + 60, 60L))
    assert(fr === Set(("", "host=x", T0 + 60, 350000L)))
    // bounds past the data clamp: F(99) = last finite count 9,
    // F(-1) = 0 → 0.9; inverted bounds answer 0
    val frClamp = rows(PromQL.eval(buckets,
      parse("histogram_fraction(-1, 99, mb)").toOption.get,
      T0 + 60, T0 + 60, 60L))
    assert(frClamp === Set(("", "host=x", T0 + 60, 900000L)))
    val frInv = rows(PromQL.eval(buckets,
      parse("histogram_fraction(3, 1.5, mb)").toOption.get,
      T0 + 60, T0 + 60, 60L))
    assert(frInv === Set(("", "host=x", T0 + 60, 0L)))
    // scalar-only child rejects, like the quantile
    assert(PromQL.parse("histogram_fraction(1, 2, 3)").isLeft)

    // the native-histogram accessors desugar onto the classic
    // series: every selector's __name__ equality suffixes, through
    // arbitrary wrappers, offsets and windows
    assert(PromQL.parse("histogram_count(rate(m{host=\"a\"}[5m] offset 60s))") match {
      case Right(RangeCall("rate", ms, 300L, 60L)) =>
        ms.contains(LabelMatcher(MatcherType.Eq, "__name__", "m_count"))
      case _ => false
    })
    assert(PromQL.parse("histogram_sum(sum by (host) (m))") match {
      case Right(Agg("sum", Seq("host"), Instant(ms, 0L), false, None)) =>
        ms.contains(LabelMatcher(MatcherType.Eq, "__name__", "m_sum"))
      case _ => false
    })
    assert(PromQL.parse("histogram_avg(m)") match {
      case Right(Binary('/', Instant(l, _), Instant(r, _), None)) =>
        l.exists(_.value == "m_sum") && r.exists(_.value == "m_count")
      case _ => false
    })
    // a regex name matcher cannot be suffixed faithfully — reject
    assert(PromQL.parse("histogram_count({__name__=~\"m.*\"})").isLeft)
    // the desugared form round-trips through the canonical printer
    val hc = PromQL.parse("histogram_avg(m)").toOption.get
    assert(PromQL.parse(PromQL.format(hc)) === Right(hc))
  }

  test("on/ignoring match label subsets; group_left joins many-to-one") {
    assert(PromQL.parse("a / on(user) b") match {
      case Right(Binary('/', _, _, Some(Matching(true, Seq("user"), 0, Seq())))) => true
      case _ => false
    })
    assert(PromQL.parse("a * ignoring(k) group_left(extra) b") match {
      case Right(Binary('*', _, _,
        Some(Matching(false, Seq("k"), 1, Seq("extra"))))) => true
      case _ => false
    })
    assert(PromQL.parse("a > on(user) b") match {
      case Right(Cmp(">", false, _, _, Some(Matching(true, Seq("user"), 0, _)))) => true
      case _ => false
    })
    assert(PromQL.parse("a and on(user) b") match {
      case Right(SetOp("and", _, _, Some(Matching(true, Seq("user"), 0, _)))) => true
      case _ => false
    })
    assert(PromQL.parse("a and on(user) group_left b").isLeft) // no group on set ops
    assert(PromQL.parse("a + on(user) 5").isLeft) // matching needs two vectors
    // tinySamples series differ on BOTH host and user; full-label
    // matching of a vs its host-stripped twin finds nothing, but
    // on(user) pairs them: self-ratio 1 per series
    val ratio = rows(PromQL.eval(tinySamples,
      parse("sum by (host, user) (sum_over_time(m[60s]))" +
        " / on(user) sum by (user) (sum_over_time(m[60s]))").toOption.get,
      T0 + 60, T0 + 60, 60L))
    // one-to-one on(user): output carries ONLY the matching label
    assert(ratio === Set(
      ("", "user=1", T0 + 60, 1000000L),
      ("", "user=2", T0 + 60, 1000000L)))
    // group_left keeps the many side's full labels
    val gl = rows(PromQL.eval(tinySamples,
      parse("sum by (host, user) (sum_over_time(m[60s]))" +
        " / on(user) group_left sum by (user) (sum_over_time(m[60s]))").toOption.get,
      T0 + 60, T0 + 60, 60L))
    assert(gl === Set(
      ("", "host=a,user=1", T0 + 60, 1000000L),
      ("", "host=b,user=2", T0 + 60, 1000000L)))
    // ignoring(host) is the same pairing spelled as a complement
    val ig = rows(PromQL.eval(tinySamples,
      parse("sum by (host, user) (sum_over_time(m[60s]))" +
        " / ignoring(host) sum by (user) (sum_over_time(m[60s]))").toOption.get,
      T0 + 60, T0 + 60, 60L))
    assert(ig.map(_._4) === Set(1000000L) && ig.size === 2)
    // group_right mirrors group_left: the many side is on the RIGHT
    // and its full labels survive
    val gr = rows(PromQL.eval(tinySamples,
      parse("sum by (user) (sum_over_time(m[60s]))" +
        " / on(user) group_right sum by (host, user) (sum_over_time(m[60s]))")
        .toOption.get, T0 + 60, T0 + 60, 60L))
    assert(gr === Set(
      ("", "host=a,user=1", T0 + 60, 1000000L),
      ("", "host=b,user=2", T0 + 60, 1000000L)))
    // set op with on(): and matched on user only still keeps full rows
    val and = rows(PromQL.eval(tinySamples,
      parse("m and on(user) m{host=\"a\"}").toOption.get, T0 + 60, T0 + 60, 60L))
    assert(and.map(_._2) === Set("host=a,user=1"))
    // comparison with group_left-free on(): left rows keep full labels
    val cmp = rows(PromQL.eval(tinySamples,
      parse("sum by (host, user) (sum_over_time(m[60s]))" +
        " >= on(user) sum by (user) (sum_over_time(m[60s]))").toOption.get,
      T0 + 60, T0 + 60, 60L))
    assert(cmp.map(_._2) === Set("host=a,user=1", "host=b,user=2"))
  }

  test("label_replace rewrites a label from a full-match regex, per row") {
    assert(PromQL.parse(
      """label_replace(x, "dst", "$1", "src", "(.*)")""") match {
      case Right(LabelReplace(Instant(_, _), "dst", "$1", "src", "(.*)")) => true
      case _ => false
    })
    // UTF-8 names (3.x): "d-st" is now a VALID dst; '=' still rejects
    assert(PromQL.parse("""label_replace(x, "d-st", "r", "src", ".*")""").isRight)
    assert(PromQL.parse("""label_replace(x, "d=st", "r", "src", ".*")""").isLeft)
    assert(PromQL.parse("""label_replace(x, "dst", "r", "src", "(")""").isLeft)
    // host=a → tier=ha (capture group), metric name kept
    val out = rows(PromQL.eval(tinySamples,
      parse("""label_replace(last_over_time(m[60s]), "tier", "h$1", "host", "([a-z])")""")
        .toOption.get, T0 + 60, T0 + 60, 60L))
    assert(out === Set(
      ("m", "host=a,tier=ha,user=1", T0 + 60, 2500000L),
      ("m", "host=b,tier=hb,user=2", T0 + 60, 10250000L)))
    // a non-matching regex leaves every row untouched
    val none = rows(PromQL.eval(tinySamples,
      parse("""label_replace(sum_over_time(m[60s]), "tier", "x", "host", "[0-9]+")""")
        .toOption.get, T0 + 60, T0 + 60, 60L))
    assert(none.map(_._2) === Set("host=a,user=1", "host=b,user=2"))
    // an empty replacement REMOVES the destination label
    val rm = rows(PromQL.eval(tinySamples,
      parse("""label_replace(sum_over_time(m[60s]), "user", "", "host", "[a-z]")""")
        .toOption.get, T0 + 60, T0 + 60, 60L))
    assert(rm.map(_._2) === Set("host=a", "host=b"))
  }

  test("time() is the per-step timestamp, standalone and in arithmetic") {
    assert(PromQL.parse("time()") === Right(TimeFn))
    // a metric actually NAMED time stays a selector
    assert(PromQL.parse("""time{k="v"}""") match {
      case Right(Instant(_, _)) => true
      case _ => false
    })
    val grid = rows(PromQL.eval(tinySamples, TimeFn, T0, T0 + 120, 60L))
    assert(grid === Set(
      ("", "", T0, T0 * 1000000L),
      ("", "", T0 + 60, (T0 + 60) * 1000000L),
      ("", "", T0 + 120, (T0 + 120) * 1000000L)))
    // the staleness idiom: seconds since each series' last sample
    val age = rows(PromQL.eval(tinySamples,
      parse("time() - last_over_time(m[120s])").toOption.get,
      T0 + 120, T0 + 120, 120L))
    // subtracting the VALUE, not the sample time: last values are
    // a = 1.0, b = 10.25 → t-1, t-10.25 in micro-units
    assert(age === Set(
      ("", "host=a,user=1", T0 + 120, (T0 + 120) * 1000000L - 1000000L),
      ("", "host=b,user=2", T0 + 120, (T0 + 120) * 1000000L - 10250000L)))
    // time() on the scalar side folds through scalar arithmetic
    val half = rows(PromQL.eval(tinySamples,
      parse("time() / 2").toOption.get, T0, T0, 60L))
    assert(half === Set(("", "", T0, T0 * 1000000L / 2)))
  }

  test("vector() fills gaps via or; scalar() projects a single series per step") {
    assert(PromQL.parse("vector(0)") === Right(VectorLit(0.0)))
    assert(PromQL.parse("scalar(x)") match {
      case Right(ScalarOf(Instant(_, _))) => true
      case _ => false
    })
    assert(PromQL.parse("scalar(5)").isLeft)
    // metrics named vector/scalar stay selectors
    assert(PromQL.parse("vector offset 30s") match {
      case Right(Instant(_, 30L)) => true
      case _ => false
    })
    // the alerting fallback: sum(...) or vector(0) answers 0 on
    // steps where the sum has no rows
    val fb = rows(PromQL.eval(tinySamples,
      parse("sum(sum_over_time(m[60s])) or vector(0)").toOption.get,
      T0 + 120, T0 + 240, 60L))
    // t0+120 window has a's 5.0; t0+180 and t0+240 are empty → 0
    assert(fb === Set(
      ("", "", T0 + 120, 5000000L),
      ("", "", T0 + 180, 0L),
      ("", "", T0 + 240, 0L)))
    // normalize-by-total: each host's share of the step's sum
    val share = rows(PromQL.eval(tinySamples,
      parse("sum by (host) (sum_over_time(m[60s]))" +
        " / scalar(sum(sum_over_time(m[60s])))").toOption.get,
      T0 + 60, T0 + 60, 60L))
    // 3.5 / 23.75 and 20.25 / 23.75
    assert(share === Set(
      ("", "host=a", T0 + 60, 147368L),
      ("", "host=b", T0 + 60, 852632L)))
    // scalar() of a multi-series vector drops the step
    val multi = rows(PromQL.eval(tinySamples,
      parse("sum by (host) (sum_over_time(m[60s]))" +
        " / scalar(sum by (host) (sum_over_time(m[60s])))").toOption.get,
      T0 + 60, T0 + 60, 60L))
    assert(multi === Set.empty)
  }

  test("stdvar_over_time is stddev squared; present_over_time answers 1") {
    // [t0, t0+60) for series a holds {1.0, 2.5}: variance 0.5625
    val sv = rows(PromQL.eval(tinySamples,
      parse("stdvar_over_time(m[60s])").toOption.get, T0 + 60, T0 + 60, 60L))
    assert(sv.contains(("", "host=a,user=1", T0 + 60, 562500L)))
    val pr = rows(PromQL.eval(tinySamples,
      parse("present_over_time(m[60s])").toOption.get, T0 + 60, T0 + 240, 60L))
    // present only where windows hold samples: both series at t0+60,
    // a at t0+120, nothing after
    assert(pr === Set(
      ("", "host=a,user=1", T0 + 60, 1000000L),
      ("", "host=b,user=2", T0 + 60, 1000000L),
      ("", "host=a,user=1", T0 + 120, 1000000L)))
  }

  test("Prometheus 3.x quoted UTF-8 selectors parse, match, and round-trip") {
    import spark.implicits._
    val corpus = Seq(
      (T0 * 1000000L, "http.req.total", Seq("a.b=x", "host=a"), 2.0),
      (T0 * 1000000L, "http.req.total", Seq("a.b=y", "host=b"), 3.0),
      (T0 * 1000000L, "plain", Seq("host=a"), 5.0)
    ).toDF("ts_us", "metric", "labels", "value")
    def one(q: String) = rows(PromQL.eval(corpus, parse(q).toOption.get,
      T0, T0, 60L))
    // quoted metric name + quoted label name
    assert(one("""{"http.req.total", "a.b"="x"}""") ===
      Set(("http.req.total", "a.b=x,host=a", T0, 2000000L)))
    // quoted name composes with classic ident pairs
    assert(one("""{"http.req.total", host="b"}""") ===
      Set(("http.req.total", "a.b=y,host=b", T0, 3000000L)))
    // regex over a quoted label name; `plain` lacks a.b (the ""
    // convention) so x|y excludes it
    assert(one("""{"a.b"=~"x|y"}""") === Set(
      ("http.req.total", "a.b=x,host=a", T0, 2000000L),
      ("http.req.total", "a.b=y,host=b", T0, 3000000L)))
    // range calls take the quoted form too ([t-d, t) window: the T0
    // sample lands in the step ending T0+60)
    assert(rows(PromQL.eval(corpus,
      parse("""sum_over_time({"http.req.total", "a.b"!="y"}[60s])""")
        .toOption.get, T0 + 60, T0 + 60, 60L))
      === Set(("", "a.b=x,host=a", T0 + 60, 2000000L)))
    // the canonical formatter quotes non-ident names and round-trips
    val e = parse("""sum_over_time({"http.req.total", "a.b"!="y"}[60s])""")
      .toOption.get
    assert(parse(PromQL.format(e)).toOption.contains(e), PromQL.format(e))
    // rejects: prefix ident + quoted name, two quoted names, '=' or
    // "" in a quoted label name (the store's canonical "k=v" bound)
    assert(PromQL.parse("""foo{"bar"}""").isLeft)
    assert(PromQL.parse("""{"a", "b"}""").isLeft)
    assert(PromQL.parse("""{"a=b"="c"}""").isLeft)
    assert(PromQL.parse("""{""="c"}""").isLeft)
    // quoted names reach grouping clauses, sort_by_label, and the
    // label functions; an apostrophe in a name must not escape the
    // SQL literal it lands in (the sqlKey contract)
    assert(one("""sum by ("a.b") ({"http.req.total"})""") === Set(
      ("", "a.b=x", T0, 2000000L), ("", "a.b=y", T0, 3000000L)))
    assert(one("""sum without ("a.b", host) ({"http.req.total"})""") ===
      Set(("", "", T0, 5000000L)))
    val sorted = PromQL.eval(corpus,
      parse("""sort_by_label({"http.req.total"}, "a.b")""").toOption.get,
      T0, T0, 60L).select(array_join(col("labels"), ","))
      .collect().map(_.getString(0)).toSeq
    assert(sorted === Seq("a.b=x,host=a", "a.b=y,host=b"))
    assert(one("""label_replace({"http.req.total"}, "x.y", "$1", "a.b", "(x)")""")
      .exists(_._2 == "a.b=x,host=a,x.y=x"))
    val odd = Seq((T0 * 1000000L, "m", Seq("it's=1"), 7.0))
      .toDF("ts_us", "metric", "labels", "value")
    assert(rows(PromQL.eval(odd,
      parse("""sum by ("it's") (m)""").toOption.get, T0, T0, 60L)) ===
      Set(("", "it's=1", T0, 7000000L)))
    // an apostrophe (or backslash) in the SRC name of label_replace /
    // label_join must ride through sqlKey too — these were the two
    // unescaped splice sites (remotely reachable via the query API)
    assert(rows(PromQL.eval(odd,
      parse("""label_replace(m, "d", "$1", "it's", "(1)")""").toOption.get,
      T0, T0, 60L)) === Set(("m", "d=1,it's=1", T0, 7000000L)))
    assert(rows(PromQL.eval(odd,
      parse("""label_join(m, "j", "-", "it's")""").toOption.get,
      T0, T0, 60L)) === Set(("m", "it's=1,j=1", T0, 7000000L)))
    val bslash = Seq((T0 * 1000000L, "m", Seq("a\\b=2"), 5.0))
      .toDF("ts_us", "metric", "labels", "value")
    assert(rows(PromQL.eval(bslash,
      parse("label_replace(m, \"d\", \"$1\", \"a\\\\b\", \"(2)\")").toOption.get,
      T0, T0, 60L)) === Set(("m", "a\\b=2,d=2", T0, 5000000L)))
    // grouping round-trips through the canonical formatter
    val g = parse("""sum by ("a.b") (m)""").toOption.get
    assert(parse(PromQL.format(g)).toOption.contains(g), PromQL.format(g))
  }

  test("stdvar/stddev moments survive the store's extreme magnitudes (no int64 wrap)") {
    import spark.implicits._
    // 12 samples at the |v|≤1e7 store bound: each e2-snapped square
    // is ~1e18 (fits int64) but their SUM is ~1.2e19 — a BIGINT
    // accumulator wraps after ~9 such samples. The DECIMAL(38,0)
    // sum must answer the true population variance: values alternate
    // 9999999.00 / 9999990.00 → mean 9999994.5, deviation ±4.5,
    // variance 20.25, stddev 4.5.
    val big = (0 until 12).map { i =>
      ((T0 + i * 5) * 1000000L, "big", Seq("host=x"),
        if (i % 2 == 0) 9999999.00 else 9999990.00)
    }.toDF("ts_us", "metric", "labels", "value")
    val sv = rows(PromQL.eval(big,
      parse("stdvar_over_time(big[60s])").toOption.get, T0 + 60, T0 + 60, 60L))
    assert(sv === Set(("", "host=x", T0 + 60, 20250000L)))
    val sd = rows(PromQL.eval(big,
      parse("stddev_over_time(big[60s])").toOption.get, T0 + 60, T0 + 60, 60L))
    assert(sd === Set(("", "host=x", T0 + 60, 4500000L)))
  }

  test("negative offset shifts windows forward (Prometheus 3.x default-on)") {
    // offset -60s at grid t reads the window [t, t+60): the T0 step
    // answers [T0, T0+60) — a = 1.0 + 2.5, b = 10.0 + 10.25
    val fwd = rows(PromQL.eval(tinySamples,
      parse("sum_over_time(m[60s] offset -60s)").toOption.get, T0, T0, 60L))
    assert(fwd === Set(
      ("", "host=a,user=1", T0, 3500000L),
      ("", "host=b,user=2", T0, 20250000L)))
    // the canonical formatter round-trips the sign
    val e = parse("sum_over_time(m[60s] offset -60s)").toOption.get
    assert(parse(PromQL.format(e)).toOption.contains(e))
  }

  test("selector regexes anchor ^(?:…)$ on the VALUE; empty-accepting matchers hit missing labels") {
    import spark.implicits._
    // a third m-series that LACKS the user label entirely
    val world = tinySamples.unionByName(Seq(
      (T0 * 1000000L, "m", Seq("host=c"), 7.0)
    ).toDF("ts_us", "metric", "labels", "value"))
    def q(sel: String) = rows(PromQL.eval(world,
      parse(s"sum_over_time(m$sel[60s])").toOption.get, T0 + 60, T0 + 60, 60L))
    val a = ("", "host=a,user=1", T0 + 60, 3500000L)
    val b = ("", "host=b,user=2", T0 + 60, 20250000L)
    val c = ("", "host=c", T0 + 60, 7000000L)
    // alternation stays inside the anchors: "1|b" is user∈{1,b} —
    // it may NOT match series b via a loose `b$` on its host label
    assert(q("""{user=~"1|b"}""") === Set(a))
    // a regex accepting "" matches series WITHOUT the label…
    assert(q("""{user=~".*"}""") === Set(a, b, c))
    // …and ".+" requires the label to exist
    assert(q("""{user=~".+"}""") === Set(a, b))
    // Prometheus's `k=""` ≙ label absent; `k!~"re"` on missing = ""
    assert(q("""{user=""}""") === Set(c))
    assert(q("""{user!~"1"}""") === Set(b, c))
  }

  test("ts_of_max/min/last_over_time answer timestamps; value ties pick the latest sample") {
    def one(fn: String) = rows(PromQL.eval(tinySamples,
      parse(s"$fn(m[120s])").toOption.get, T0 + 120, T0 + 120, 120L))
    val mx = one("ts_of_max_over_time")
    // series a's max 4.0 sits at T0+60; b's max 10.25 at T0+45
    assert(mx === Set(
      ("", "host=a,user=1", T0 + 120, (T0 + 60) * 1000000L),
      ("", "host=b,user=2", T0 + 120, (T0 + 45) * 1000000L)))
    // series a holds 1.0 at BOTH T0 and T0+95 — the value tie must
    // answer the LATEST sample (Prometheus's <= scan order)
    val mn = one("ts_of_min_over_time")
    assert(mn === Set(
      ("", "host=a,user=1", T0 + 120, (T0 + 95) * 1000000L),
      ("", "host=b,user=2", T0 + 120, T0 * 1000000L)))
    val lt = one("ts_of_last_over_time")
    assert(lt === Set(
      ("", "host=a,user=1", T0 + 120, (T0 + 95) * 1000000L),
      ("", "host=b,user=2", T0 + 120, (T0 + 45) * 1000000L)))
  }

  test("count_values labels each exact value's decimal text with its count") {
    assert(PromQL.parse("""count_values("v", x)""") match {
      case Right(CountValues("v", Instant(_, _), Seq(), false)) => true
      case _ => false
    })
    assert(PromQL.parse("""count_values by (host) ("v", x)""") match {
      case Right(CountValues("v", Instant(_, _), Seq("host"), false)) => true
      case _ => false
    })
    assert(PromQL.parse("""count_values("__name__", x)""").isLeft)
    // sums over [t0, t0+60): a = 3.5, b = 20.25 — distinct values,
    // each counted once, labeled with formatE6 text
    val out = rows(PromQL.eval(tinySamples,
      parse("""count_values("s", sum_over_time(m[60s]))""").toOption.get,
      T0 + 60, T0 + 60, 60L))
    assert(out === Set(
      ("", "s=3.5", T0 + 60, 1000000L),
      ("", "s=20.25", T0 + 60, 1000000L)))
    // equal values merge into one counted row
    val eq = rows(PromQL.eval(tinySamples,
      parse("""count_values("c", count_over_time(m[60s]))""").toOption.get,
      T0 + 60, T0 + 60, 60L))
    assert(eq === Set(("", "c=2", T0 + 60, 2000000L)))
  }

  test("@ pins evaluation to a fixed instant, replicated across the grid") {
    assert(PromQL.parse("m @ 1704412800") match {
      case Right(At(1704412800L, Instant(_, 0L))) => true
      case _ => false
    })
    assert(PromQL.parse("sum_over_time(m[60s] @ 1704412800 offset 30s)") match {
      case Right(At(1704412800L, RangeCall("sum_over_time", _, 60L, 30L))) => true
      case _ => false
    })
    assert(PromQL.parse("m @ -5").isLeft)
    // the pinned window [t0, t0+60) answers 3.5/20.25 at EVERY step
    val out = rows(PromQL.eval(tinySamples,
      parse(s"sum_over_time(m[60s] @ ${T0 + 60})").toOption.get,
      T0 + 120, T0 + 240, 60L))
    assert(out.size === 6)
    assert(out.map(r => (r._2, r._4)) === Set(
      ("host=a,user=1", 3500000L), ("host=b,user=2", 20250000L)))
    assert(out.map(_._3) === Set(T0 + 120, T0 + 180, T0 + 240))
    // baseline-comparison idiom: current sum minus the pinned one
    val dlt = rows(PromQL.eval(tinySamples,
      parse(s"sum_over_time(m[60s]) - sum_over_time(m[60s] @ ${T0 + 60})")
        .toOption.get, T0 + 120, T0 + 120, 60L))
    // a: 5.0 - 3.5 = 1.5; b absent now → drops
    assert(dlt === Set(("", "host=a,user=1", T0 + 120, 1500000L)))
  }

  test("sqrt and the calendar functions project per row") {
    // sum over [t0, t0+60) for b = 20.25 → sqrt = 4.5
    val sq = rows(PromQL.eval(tinySamples,
      parse("sqrt(sum_over_time(m[60s]))").toOption.get, T0 + 60, T0 + 60, 60L))
    assert(sq.contains(("", "host=b,user=2", T0 + 60, 4500000L)))
    // a negative value drops (the exact-integer stand-in for NaN)
    val neg = rows(PromQL.eval(tinySamples,
      parse("sqrt(0 - sum_over_time(m[60s]))").toOption.get,
      T0 + 60, T0 + 60, 60L))
    assert(neg === Set.empty)
    // T0 = 2024-01-05 00:00 UTC, a Friday: hour()/minute() read the
    // grid timestamp via the implicit time() argument
    val hr = rows(PromQL.eval(tinySamples,
      parse("hour()").toOption.get, T0 + 3600 * 7 + 120, T0 + 3600 * 7 + 120, 60L))
    assert(hr === Set(("", "", T0 + 3600 * 7 + 120, 7000000L)))
    val mn = rows(PromQL.eval(tinySamples,
      parse("minute()").toOption.get, T0 + 120, T0 + 120, 60L))
    assert(mn === Set(("", "", T0 + 120, 2000000L)))
    val dw = rows(PromQL.eval(tinySamples,
      parse("day_of_week()").toOption.get, T0, T0, 60L))
    assert(dw === Set(("", "", T0, 5000000L))) // Friday = 5
  }

  test("ln/log2/log10/exp: digit-extraction transcendentals") {
    // window sums: a = 3.5, b = 20.25; expected values are the
    // digit-extraction algorithm's outputs (here = true value
    // rounded half-up to µ-units — verified against math.log/exp)
    def evalFn(q: String) = rows(PromQL.eval(tinySamples,
      parse(q).toOption.get, T0 + 60, T0 + 60, 60L))
    assert(evalFn("ln(sum_over_time(m[60s]))") === Set(
      ("", "host=a,user=1", T0 + 60, 1252763L),
      ("", "host=b,user=2", T0 + 60, 3008155L)))
    assert(evalFn("log2(sum_over_time(m[60s]))") === Set(
      ("", "host=a,user=1", T0 + 60, 1807355L),
      ("", "host=b,user=2", T0 + 60, 4339850L)))
    assert(evalFn("log10(sum_over_time(m[60s]))") === Set(
      ("", "host=a,user=1", T0 + 60, 544068L),
      ("", "host=b,user=2", T0 + 60, 1306425L)))
    assert(evalFn("exp(ln(sum_over_time(m[60s])))") === Set(
      ("", "host=a,user=1", T0 + 60, 3500000L),
      ("", "host=b,user=2", T0 + 60, 20250004L))) // ln's µ-rounding ×20.25
    // non-positive input drops (the sqrt-style NaN stand-in)
    assert(evalFn("ln(0 - sum_over_time(m[60s]))") === Set.empty)
    // exp of a large value drops (µ-unit BIGINT overflow guard);
    // exp of a very negative value answers 0
    assert(evalFn("exp(sum_over_time(m[60s]) * 10)") === Set.empty)
    assert(evalFn("exp(0 - sum_over_time(m[60s]) * 10)") === Set(
      ("", "host=a,user=1", T0 + 60, 0L),
      ("", "host=b,user=2", T0 + 60, 0L)))
    // exp(3.5) through a scalar route: identical digits
    assert(evalFn("exp(vector(3.5))") ===
      Set(("", "", T0 + 60, 33115452L)))
  }

  test("CORDIC trig and fold-composed hyperbolics: portable values") {
    // window sums: a = 3.5, b = 20.25; expected values are the
    // CORDIC/fold algorithms' outputs (verified = libm rounded on
    // these inputs)
    def evalFn(q: String) = rows(PromQL.eval(tinySamples,
      parse(q).toOption.get, T0 + 60, T0 + 60, 60L))
    val A = "host=a,user=1"; val B = "host=b,user=2"
    def two(q: String, va: Long, vb: Long): Unit =
      assert(evalFn(q) === Set(("", A, T0 + 60, va), ("", B, T0 + 60, vb)), q)
    val S = "sum_over_time(m[60s])"
    two(s"sin($S)", -350783L, 985525L)
    two(s"cos($S)", -936457L, 169530L)
    two(s"tan($S)", 374586L, 5813295L)
    two(s"atan($S)", 1292497L, 1521454L)
    two(s"sinh($S)", 16542627L, 311482221099222L)
    two(s"cosh($S)", 16572825L, 311482221099222L)
    two(s"tanh($S)", 998178L, 1000000L) // tanh(20.25) rounds to 1
    two(s"asinh($S)", 1965720L, 3701911L)
    two(s"acosh($S)", 1924847L, 3700692L)
    two(s"deg($S)", 200535228L, 1160239535L)
    two(s"rad($S)", 61087L, 353429L)
    // asin/acos need |x| ≤ 1: 20.25/40.5 = 0.5 exactly and
    // 3.5/40.5 → 0.086420 (µ-snapped) stays in range
    two(s"asin($S / 40.5)", 86528L, 523599L)
    two(s"acos($S / 40.5)", 1484268L, 1047198L)
    two(s"atanh($S / 40.5)", 86636L, 549306L)
    // domain drops: |x| > 1 for asin, x < 1 for acosh
    assert(evalFn(s"asin($S)") === Set.empty)
    assert(evalFn(s"acosh($S / 40.5)") === Set.empty)
    // sin of an exact zero answers exactly zero (CORDIC noise stays
    // under the µ rounding)
    two(s"sin($S * 0)", 0L, 0L)
    assert(PromQL.parse("pi()").toOption.get ===
      ScalarLit(3.141592653589793))
    assert(PromQL.parse("pi offset 30s") match { // metric named pi
      case Right(Instant(_, 30L)) => true
      case _ => false
    })
  }

  test("format round-trips: parse(format(parse(q))) == parse(q)") {
    val corpus = Seq(
      "m", """m{host="a",user!~"1|2"}""", "m offset 30s",
      "rate(m[5m])", "sum_over_time(m[60s] offset 30s)",
      s"sum_over_time(m[60s] @ ${T0 + 60})",
      "sum by (host) (m)", "stdvar without (user) (m)",
      "quantile(0.9, m)", "topk(2, m)", "bottomk without (user) (3, m)",
      "limitk(2, m)", "limit_ratio(-0.5, m)",
      "(m) + on (host) group_left (user) (m)",
      "m > bool 1.5", "(m) unless ignoring (user) (m)",
      "sqrt(abs(m))", "ln(m)", "exp(m / 40)", "sin(m)", "atanh(m)",
      "clamp(m, 0.5, 2.5)", "round(m, 0.25)", "hour()", "month()",
      "sort_desc(m)", """sort_by_label(m, "host", "user")""",
      "m atan2 -2", "(m) atan2 (m)",
      "predict_linear(m[2m] offset 60s, 120)",
      "holt_winters(m[2m], 0.5, 0.25)",
      "absent(m{host=\"a\"})", "absent_over_time(m[90s])",
      "timestamp(m offset 30s)",
      """label_replace(m, "x", "$1", "host", "(a.*)")""",
      """label_join(m, "id", "-", "host", "user")""",
      "histogram_quantile(0.9, m)",
      "histogram_fraction(0.5, 2, m)",
      "max_over_time(sum by (host) (m)[120s:60s])",
      "rate(sum by (host) (m)[120s:60s] offset 60s)",
      "quantile_over_time(0.5, m[2m])",
      """count_values by (host) ("v", m)""",
      "scalar(m) * (m)", "time() - timestamp(m)", "vector(1.25) + (m)",
      "(m) ^ 3", "-(m)", "mad_over_time(m[90s])",
      "irate(m[2m])", "changes(m[2m])", "deriv(m[2m])",
      s"sum_over_time(m[60s] @ start())", "m @ end()",
      "info(m)", """info(sum by (job) (m), {os="linux",dc=~"d.*"})""",
      "histogram_stddev(m)", "histogram_stdvar(sum_over_time(m[60s]))")
    corpus.foreach { q =>
      val e1 = PromQL.parse(q).fold(
        err => sys.error(s"corpus must parse: $q → $err"), identity)
      val txt = PromQL.format(e1)
      val e2 = PromQL.parse(txt).fold(
        err => sys.error(s"format must re-parse: $q → '$txt' → $err"),
        identity)
      assert(e2 === e1, s"round-trip drift: $q → '$txt'")
    }
  }

  test("histogram_stddev/stdvar: geometric-midpoint estimator, hand-checked") {
    import spark.implicits._
    // buckets (0,1] cnt 2, (1,2] cnt 1, +Inf cnt 1; sum 6, count 4
    // mean = 1.5; variance = (2·1.5² + (√2−1.5)² + (2−1.5)²) / 4
    //          = (4.5 + 0.007359312880714923 + 0.25) / 4
    //          = 1.1893398282201788 → stdvar_e6 1189340
    // stddev = √1.1893398282201788 = 1.0905685…  → stddev_e6 1090569
    val corpus = Seq(
      (T0 * 1000000L, "m_bucket", Seq("host=a", "le=1"), 2.0),
      (T0 * 1000000L, "m_bucket", Seq("host=a", "le=2"), 3.0),
      (T0 * 1000000L, "m_bucket", Seq("host=a", "le=+Inf"), 4.0),
      (T0 * 1000000L, "m_sum", Seq("host=a"), 6.0),
      (T0 * 1000000L, "m_count", Seq("host=a"), 4.0)
    ).toDF("ts_us", "metric", "labels", "value")
    def one(q: String) = rows(PromQL.eval(corpus, parse(q).toOption.get,
      T0, T0, 60L))
    assert(one("histogram_stdvar(m)") ===
      Set(("", "host=a", T0, 1189340L)))
    assert(one("histogram_stddev(m)") ===
      Set(("", "host=a", T0, 1090569L)))
    // a scalar argument has no selectors to desugar — parse rejects
    assert(PromQL.parse("histogram_stddev(1)").isLeft)
  }

  test("histogram_stddev folds each metric's buckets separately (no cross-metric mix)") {
    import spark.implicits._
    // two histograms share glabels host=a: m1 as in the hand-checked
    // case; m2's buckets survive `or` (distinct le label sets) but
    // its _sum/_count legs collapse into m1's under `or`'s
    // ignore-__name__ matching — so m2 must produce NO row, and m1's
    // answer must be exactly its single-metric value (the old
    // (glabels, t)-only fold mixed m2's le=5 bucket into m1's chain
    // and cross-joined the duplicated +Inf legs)
    val corpus = Seq(
      (T0 * 1000000L, "m1_bucket", Seq("host=a", "le=1"), 2.0),
      (T0 * 1000000L, "m1_bucket", Seq("host=a", "le=2"), 3.0),
      (T0 * 1000000L, "m1_bucket", Seq("host=a", "le=+Inf"), 4.0),
      (T0 * 1000000L, "m1_sum", Seq("host=a"), 6.0),
      (T0 * 1000000L, "m1_count", Seq("host=a"), 4.0),
      (T0 * 1000000L, "m2_bucket", Seq("host=a", "le=5"), 4.0),
      (T0 * 1000000L, "m2_bucket", Seq("host=a", "le=+Inf"), 4.0),
      (T0 * 1000000L, "m2_sum", Seq("host=a"), 2.0),
      (T0 * 1000000L, "m2_count", Seq("host=a"), 4.0)
    ).toDF("ts_us", "metric", "labels", "value")
    val sv = rows(PromQL.eval(corpus,
      parse("histogram_stdvar(m1 or m2)").toOption.get, T0, T0, 60L))
    assert(sv === Set(("", "host=a", T0, 1189340L)))
  }

  test("histogram accessors accept an info() child (data selector is not suffixed)") {
    import spark.implicits._
    val corpus = Seq(
      (T0 * 1000000L, "m_count", Seq("instance=i1", "job=svc"), 4.0),
      (T0 * 1000000L, "target_info",
        Seq("instance=i1", "job=svc", "os=linux"), 1.0)
    ).toDF("ts_us", "metric", "labels", "value")
    // previously rejected at parse: the generic suffixing walked into
    // info's data-label selector, which forbids __name__
    assert(PromQL.parse("""histogram_count(info(m, {os="linux"}))""").isRight)
    def one(q: String) = rows(PromQL.eval(corpus, parse(q).toOption.get,
      T0, T0, 60L))
    // the desugar contract: only the child's series selector suffixes
    assert(one("""histogram_count(info(m, {os="linux"}))""") ===
      one("""info(m_count, {os="linux"})"""))
    assert(one("""histogram_count(info(m, {os="linux"}))""").nonEmpty)
  }

  test("info() adopts target_info data labels by (instance, job) identity") {
    import spark.implicits._
    val corpus = Seq(
      // two app series on distinct targets; the second carries its
      // OWN dc label (collision with target_info's dc)
      (T0 * 1000000L, "m", Seq("instance=i1", "job=svc"), 1.0),
      (T0 * 1000000L, "m", Seq("dc=keep", "instance=i2", "job=svc"), 2.0),
      // a third target with NO target_info series — pass-through
      (T0 * 1000000L, "m", Seq("instance=i3", "job=other"), 3.0),
      // target_info for i1 (two data labels) and i2 (one)
      (T0 * 1000000L, "target_info",
        Seq("dc=d1", "instance=i1", "job=svc", "os=linux"), 1.0),
      (T0 * 1000000L, "target_info",
        Seq("dc=d2", "instance=i2", "job=svc", "os=darwin"), 1.0),
      // a DUPLICATE info series for i1 differing in data labels:
      // the greatest data-label set wins deterministically
      (T0 * 1000000L, "target_info",
        Seq("dc=d0", "instance=i1", "job=svc", "os=aix"), 1.0)
    ).toDF("ts_us", "metric", "labels", "value")
    def one(q: String) = rows(PromQL.eval(corpus, parse(q).toOption.get,
      T0, T0, 60L))
    assert(one("info(m)") === Set(
      // i1: dup resolution picks ["dc=d1","os=linux"] > ["dc=d0","os=aix"]
      ("m", "dc=d1,instance=i1,job=svc,os=linux", T0, 1000000L),
      // i2: dc=keep wins over target_info's dc=d2 (v's label wins),
      // os adopts
      ("m", "dc=keep,instance=i2,job=svc,os=darwin", T0, 2000000L),
      // i3: no info series — unchanged
      ("m", "instance=i3,job=other", T0, 3000000L)))
    // selector form: only os adopted, and only linux targets match —
    // i2's darwin info series is filtered out, so i2 passes through
    assert(one("""info(m, {os="linux"})""") === Set(
      ("m", "instance=i1,job=svc,os=linux", T0, 1000000L),
      ("m", "dc=keep,instance=i2,job=svc", T0, 2000000L),
      ("m", "instance=i3,job=other", T0, 3000000L)))
    // aggregated child keeps working: identity labels must survive
    // the aggregation for the join to land — and since `by` dropped
    // i2's own dc label, target_info's dc now adopts freely
    assert(one("info(sum by (instance, job) (m))") === Set(
      ("", "dc=d1,instance=i1,job=svc,os=linux", T0, 1000000L),
      ("", "dc=d2,instance=i2,job=svc,os=darwin", T0, 2000000L),
      ("", "instance=i3,job=other", T0, 3000000L)))
    // a bare `info` ident is still a selector, not a call
    assert(PromQL.parse("info").isRight)
    // scalar argument and __name__ in the data selector reject
    assert(PromQL.parse("info(1)").isLeft)
    assert(PromQL.parse("""info(m, {__name__="x"})""").isLeft)
  }

  test("atan2 binary operator: quadrant-correct CORDIC, scalar and vector forms") {
    def one(q: String) = rows(PromQL.eval(tinySamples,
      parse(q).toOption.get, T0 + 60, T0 + 60, 60L))
    // vector atan2 vector on the full label match: atan2(x, x) = π/4
    assert(one("sum_over_time(m[60s]) atan2 sum_over_time(m[60s])") === Set(
      ("", "host=a,user=1", T0 + 60, 785398L),
      ("", "host=b,user=2", T0 + 60, 785398L)))
    // vector atan2 scalar, second quadrant (x < 0)
    assert(one("sum_over_time(m[60s]) atan2 -1") === Set(
      ("", "host=a,user=1", T0 + 60, 1849096L),
      ("", "host=b,user=2", T0 + 60, 1620139L)))
    // Go conventions: atan2(0, x<0) = π, atan2(0, 0) = 0
    assert(one("(sum_over_time(m[60s]) * 0) atan2 -1").map(_._4) ===
      Set(3141593L))
    assert(one("(sum_over_time(m[60s]) * 0) atan2 0").map(_._4) === Set(0L))
    // scalar-only form folds on the driver — through the SAME CORDIC
    // fold the column path runs (~1e-13 from libm, inside the grain)
    assert(PromQL.parse("1 atan2 1") ===
      Right(ScalarLit(PromQL.atan2Fold(1, 1))))
    assert(math.abs(PromQL.atan2Fold(1, 1) - math.atan2(1, 1)) < 1e-11)
    // a metric named atan2 stays a selector in term position
    assert(PromQL.parse("atan2{host=\"a\"}").isRight)
  }

  test("binary arithmetic: the parser builds only + - * / % atan2, eval rejects any other operator") {
    Seq("+" -> '+', "-" -> '-', "*" -> '*', "/" -> '/', "%" -> '%', "atan2" -> 'A')
      .foreach { case (src, op) =>
        assert(parse(s"m $src n") match {
          case Right(Binary(`op`, _, _, _)) => true
          case _                            => false
        }, src)
      }
    // `^` and comparisons never build a Binary
    assert(parse("m ^ n").isLeft)
    assert(parse("m ^ 2") match { case Right(PowInt(_, 2)) => true; case _ => false })
    assert(parse("m > n") match { case Right(_: Cmp) => true; case _ => false })
    // a hand-built tree with any other operator fails with a clear
    // error on every evaluation path: vector∘literal, vector∘scalar(),
    // vector∘time() and vector∘vector
    val m = Instant(Seq(graft.operators.Matchers.eq("__name__", "m")), 0L)
    Seq(Binary('^', m, ScalarLit(2.0)), Binary('^', ScalarOf(m), m),
        Binary('^', m, TimeFn), Binary('^', m, m)).foreach { e =>
      val err = intercept[IllegalArgumentException](
        PromQL.eval(tinySamples, e, T0 + 60, T0 + 60, 60L))
      assert(err.getMessage.contains("'^'"), err.getMessage)
    }
  }

  test("sort/sort_desc pass values through and order the collect") {
    def ordered(q: String): Seq[(Long, Long)] =
      PromQL.eval(tinySamples, parse(q).toOption.get, T0 + 60, T0 + 120, 60L)
        .select(col("t"), col("v_e6")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val asc = ordered("sort(sum_over_time(m[60s]))")
    val desc = ordered("sort_desc(sum_over_time(m[60s]))")
    // values untouched, ordering materialized: rows arrive t-major,
    // and within each step asc is ascending / desc descending
    assert(asc.nonEmpty && asc.toSet === desc.toSet)
    assert(asc.map(_._1) === asc.map(_._1).sorted)
    def stepRuns(s: Seq[(Long, Long)]) =
      s.groupBy(_._1).values.map(_.map(_._2))
    assert(stepRuns(asc).forall(g => g.sorted == g))
    assert(stepRuns(desc).forall(g => g.sorted.reverse == g))
    // a metric literally named sort still parses as a selector
    assert(PromQL.parse("sort offset 30s") match {
      case Right(Instant(_, 30L)) => true
      case _ => false
    })
    assert(PromQL.parse("sort(1)").isLeft)
    // sort_by_label orders by the label's VALUE, desc flips it
    def byLabel(q: String): Seq[String] =
      PromQL.eval(tinySamples, parse(q).toOption.get, T0 + 60, T0 + 60, 60L)
        .select(array_join(col("labels"), ",")).collect()
        .map(_.getString(0)).toSeq
    assert(byLabel("""sort_by_label(sum_over_time(m[60s]), "host")""") ===
      Seq("host=a,user=1", "host=b,user=2"))
    assert(byLabel("""sort_by_label_desc(sum_over_time(m[60s]), "host")""") ===
      Seq("host=b,user=2", "host=a,user=1"))
    assert(PromQL.parse("""sort_by_label(m)""").isLeft) // needs a label
    // UTF-8 names (3.x): a space is a valid quoted name; '=' rejects
    assert(PromQL.parse("""sort_by_label(m, "bad name")""").isRight)
    assert(PromQL.parse("""sort_by_label(m, "bad=name")""").isLeft)
    // NATURAL order (Prometheus natsort): digit runs compare
    // numerically — n2 before n10; plain lexicographic would put
    // "n10" first. Leading-zero numeric ties fall to the identity
    // tiebreak (n07 < n7 lexicographically on the full label set).
    import spark.implicits._
    val nat = Seq(
      (T0 * 1000000L, "m", Seq("idx=n10"), 1.0),
      (T0 * 1000000L, "m", Seq("idx=n2"), 2.0),
      (T0 * 1000000L, "m", Seq("idx=n07"), 3.0),
      (T0 * 1000000L, "m", Seq("idx=n7"), 4.0),
      (T0 * 1000000L, "m", Seq("idx=alpha"), 5.0)
    ).toDF("ts_us", "metric", "labels", "value")
    val natOrder = PromQL.eval(nat,
      parse("""sort_by_label(m, "idx")""").toOption.get, T0, T0, 60L)
      .select(array_join(col("labels"), ",")).collect().map(_.getString(0)).toSeq
    assert(natOrder ===
      Seq("idx=alpha", "idx=n2", "idx=n07", "idx=n7", "idx=n10"))
  }

  test("absent() instant form; label_join; date-based calendar functions") {
    // absent: series exist within lookback at t0+60, none at t0+600
    val ab = rows(PromQL.eval(tinySamples,
      parse("absent(m{host=\"a\"})").toOption.get,
      T0 + 60, T0 + 600, 540L, lookbackSec = 300L))
    assert(ab === Set(("", "host=a", T0 + 600, 1000000L)))
    // a metric named absent stays a selector
    assert(PromQL.parse("absent offset 30s") match {
      case Right(Instant(_, 30L)) => true
      case _ => false
    })
    // label_join: id = host + "-" + user
    val lj = rows(PromQL.eval(tinySamples,
      parse("""label_join(sum_over_time(m[60s]), "id", "-", "host", "user")""")
        .toOption.get, T0 + 60, T0 + 60, 60L))
    assert(lj.map(_._2) === Set(
      "host=a,id=a-1,user=1", "host=b,id=b-2,user=2"))
    // T0 = 2024-01-05: month 1, year 2024, day 5, doy 5, Jan has 31
    def cal(q: String): Long =
      rows(PromQL.eval(tinySamples, parse(q).toOption.get, T0, T0, 60L))
        .head._4
    assert(cal("month()") === 1000000L)
    assert(cal("year()") === 2024000000L)
    assert(cal("day_of_month()") === 5000000L)
    assert(cal("day_of_year()") === 5000000L)
    assert(cal("days_in_month()") === 31000000L)
  }

  test("rate/increase/delta over subqueries read the inner first/last points") {
    // inner sum_over_time(m[60s]) on the 60s grid for host=a:
    // T0+60 → 3.5, T0+120 → 5.0, T0+180 → absent; the outer
    // [120s:60s] window at T0+180 holds both inner points:
    // rate = (5.0-3.5)/60 = 0.025/s; host=b has one point → drops
    def sub(fn: String) = rows(PromQL.eval(tinySamples,
      parse(s"$fn(sum_over_time(m[60s])[120s:60s])").toOption.get,
      T0 + 180, T0 + 180, 60L))
    assert(sub("rate") === Set(("", "host=a,user=1", T0 + 180, 25000L)))
    assert(sub("increase") === Set(("", "host=a,user=1", T0 + 180, 1500000L)))
    assert(sub("delta") === Set(("", "host=a,user=1", T0 + 180, 1500000L)))
    // a decreasing inner pair drops from rate (the counter gate)
    // but answers its signed change through delta, name dropped
    val dec = rows(PromQL.eval(tinySamples,
      parse("delta(last_over_time(m[60s])[120s:60s])").toOption.get,
      T0 + 180, T0 + 180, 60L))
    assert(dec === Set(("", "host=a,user=1", T0 + 180, -1500000L)))
    val rdec = rows(PromQL.eval(tinySamples,
      parse("rate(last_over_time(m[60s])[120s:60s])").toOption.get,
      T0 + 180, T0 + 180, 60L))
    assert(rdec === Set.empty)
    // irate over a subquery stays off-grammar
    assert(PromQL.parse("irate(sum_over_time(m[60s])[120s:60s])").isLeft)
  }

  test("holt_winters folds the window's sorted values through the recurrence") {
    assert(PromQL.parse("holt_winters(x[1h], 0.5, 0.5)") match {
      case Right(HoltWinters(_, 3600L, 0.5, 0.5, 0L)) => true
      case _ => false
    })
    assert(PromQL.parse("double_exponential_smoothing(x[1h], 0.3, 0.2)").isRight)
    assert(PromQL.parse("holt_winters(x[1h], 0, 0.5)").isLeft)
    assert(PromQL.parse("holt_winters(x[1h], 0.5, 1)").isLeft)
    // series a over [t0, t0+120): v = 1.0, 2.5, 4.0, 1.0 with
    // sf=tf=0.5: s=1, b=1.5 → (2.5, 1.5) → (4.0, 1.5) →
    // s=0.5·1+0.5·5.5=3.25, the final level
    val hw = rows(PromQL.eval(tinySamples,
      parse("holt_winters(m[120s], 0.5, 0.5)").toOption.get,
      T0 + 120, T0 + 120, 120L))
    assert(hw.contains(("", "host=a,user=1", T0 + 120, 3250000L)))
    // two-point windows answer the second value (the recurrence's
    // first step lands exactly on it)
    assert(hw.contains(("", "host=b,user=2", T0 + 120, 10250000L)))
    // single-point windows drop
    val single = rows(PromQL.eval(tinySamples,
      parse("holt_winters(m[30s], 0.5, 0.5)").toOption.get,
      T0 + 120, T0 + 120, 30L))
    assert(!single.exists(r => r._2 == "host=a,user=1" && r._3 == T0 + 120))
  }

  test("timestamp() answers each series' latest-sample time; staleness composes") {
    assert(PromQL.parse("timestamp(m)") match {
      case Right(TimestampOf(_, 0L)) => true
      case _ => false
    })
    // at t0+120 with a 2 m lookback: a's latest sample is @ t0+95,
    // b's @ t0+45
    val ts = rows(PromQL.eval(tinySamples,
      parse("timestamp(m)").toOption.get, T0 + 120, T0 + 120, 60L,
      lookbackSec = 120L))
    assert(ts === Set(
      ("", "host=a,user=1", T0 + 120, (T0 + 95) * 1000000L),
      ("", "host=b,user=2", T0 + 120, (T0 + 45) * 1000000L)))
    // the true staleness age in seconds
    val age = rows(PromQL.eval(tinySamples,
      parse("time() - timestamp(m)").toOption.get, T0 + 120, T0 + 120, 60L,
      lookbackSec = 120L))
    assert(age === Set(
      ("", "host=a,user=1", T0 + 120, 25000000L),
      ("", "host=b,user=2", T0 + 120, 75000000L)))
  }

  test("subqueries evaluate the inner expr on the res grid, then window it") {
    assert(PromQL.parse("max_over_time(rate(x[5m])[1h:5m])") match {
      case Right(Subquery("max_over_time", RangeCall("rate", _, 300L, 0L),
        3600L, 300L, 0L)) => true
      case _ => false
    })
    assert(PromQL.parse("sum_over_time(sum by (a) (x)[120:60])") match {
      case Right(Subquery("sum_over_time", Agg("sum", Seq("a"), _, _, _),
        120L, 60L, 0L)) => true
      case _ => false
    })
    assert(PromQL.parse("rate(x[1h:5m])").isRight)    // rate subqueries (r14)
    assert(PromQL.parse("irate(x[1h:5m])").isLeft)    // irate: no subqueries
    assert(PromQL.parse("max_over_time(sum(x)[1h])").isLeft) // compound needs :res
    // inner sum_over_time(m[60s]) on the absolute 60 s grid has
    // points at t0+60 (a=3.5, b=20.25) and t0+120 (a=5.0); the outer
    // [120s] window at t0+120 sees only t0+60 (right-open)
    val mx = rows(PromQL.eval(tinySamples,
      parse("max_over_time(sum_over_time(m[60s])[120s:60s])").toOption.get,
      T0 + 120, T0 + 120, 120L))
    assert(mx === Set(
      ("", "host=a,user=1", T0 + 120, 3500000L),
      ("", "host=b,user=2", T0 + 120, 20250000L)))
    // at t0+180 the window [t0+60, t0+180) holds t0+60 and t0+120:
    // a's max is max(3.5, 5.0), b's is its single point
    val mx2 = rows(PromQL.eval(tinySamples,
      parse("max_over_time(sum_over_time(m[60s])[120s:60s])").toOption.get,
      T0 + 180, T0 + 180, 120L))
    assert(mx2 === Set(
      ("", "host=a,user=1", T0 + 180, 5000000L),
      ("", "host=b,user=2", T0 + 180, 20250000L)))
    // count/avg over the same inner points
    val cnt = rows(PromQL.eval(tinySamples,
      parse("count_over_time(sum_over_time(m[60s])[120s:60s])").toOption.get,
      T0 + 180, T0 + 180, 120L))
    assert(cnt.contains(("", "host=a,user=1", T0 + 180, 2000000L)))
    val avg = rows(PromQL.eval(tinySamples,
      parse("avg_over_time(sum_over_time(m[60s])[120s:60s])").toOption.get,
      T0 + 180, T0 + 180, 120L))
    assert(avg.contains(("", "host=a,user=1", T0 + 180, 4250000L)))
  }

  test("recording rules append evaluator output as queryable first-class series") {
    import graft.serve.Recording
    val path = "/tmp/graft_test/promql_record"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    SamplesStore.write(tinySamples, path)
    assertThrows[IllegalArgumentException](
      Recording.Rule("bad name", "m", 60L))
    assertThrows[IllegalArgumentException](
      Recording.Rule("r", "rate(m)", 60L)) // bad expr fails eagerly
    val rule = Recording.Rule("m:sum1m:by_host",
      "sum by (host) (sum_over_time(m[60s]))", 60L)
    Recording.record(spark, path, rule, T0 + 60, T0 + 120)
    // the recorded series is a first-class instant vector now
    val back = rows(PromQL.eval(SamplesStore.read(spark, path),
      parse("m:sum1m:by_host").toOption.get, T0 + 60, T0 + 120, 60L,
      lookbackSec = 1L))
    assert(back === Set(
      ("m:sum1m:by_host", "host=a", T0 + 60, 3500000L),
      ("m:sum1m:by_host", "host=b", T0 + 60, 20250000L),
      ("m:sum1m:by_host", "host=a", T0 + 120, 5000000L)))
    // re-recording an overlapping window is idempotent at read time
    Recording.record(spark, path, rule, T0 + 60, T0 + 120)
    val again = rows(PromQL.eval(SamplesStore.read(spark, path),
      parse("m:sum1m:by_host").toOption.get, T0 + 60, T0 + 120, 60L,
      lookbackSec = 1L))
    assert(again === back)
    // and the original series are untouched
    assert(rows(PromQL.eval(SamplesStore.read(spark, path),
      parse("sum by (host) (sum_over_time(m[60s]))").toOption.get,
      T0 + 60, T0 + 60, 60L)).map(_._4) === Set(3500000L, 20250000L))
  }

  test("alert rules go pending then firing after the for-duration holds") {
    import graft.serve.Alerting
    assertThrows[IllegalArgumentException](
      Alerting.AlertRule("a", "m", forSec = 90L, stepSec = 60L)) // not a multiple
    // series a's 1m sums: [t0,t0+60)=3.5, [t0+60,t0+120)=5.0, then
    // nothing; alert on > 3 with for=1m (need 2 consecutive steps)
    val rule = Alerting.AlertRule("hot_m",
      "sum by (host) (sum_over_time(m[60s])) > 3", forSec = 60L, stepSec = 60L)
    val out = rows(Alerting.alerts(tinySamples, rule, T0 + 60, T0 + 240))
    // t0+60: first match → pending; t0+120: two consecutive → firing
    assert(out.contains(
      ("", "alertname=hot_m,alertstate=pending,host=a", T0 + 60, 1000000L)))
    assert(out.contains(
      ("", "alertname=hot_m,alertstate=firing,host=a", T0 + 120, 1000000L)))
    // the series stops matching after t0+120 → no rows (resolved)
    assert(!out.exists(r => r._3 > T0 + 120 && r._2.contains("host=a")))
    // host=b matches only at t0+60 (20.25 > 3), never again → one
    // pending row, never firing
    assert(out.contains(
      ("", "alertname=hot_m,alertstate=pending,host=b", T0 + 60, 1000000L)))
    assert(!out.exists(r => r._2.contains("host=b") && r._2.contains("firing")))
    // for = 0 fires immediately
    val now = Alerting.AlertRule("hot_now",
      "sum by (host) (sum_over_time(m[60s])) > 3", forSec = 0L, stepSec = 60L)
    val o2 = rows(Alerting.alerts(tinySamples, now, T0 + 60, T0 + 60))
    assert(o2.forall(_._2.contains("alertstate=firing")))
  }

  test("currentAlerts runs ONE Spark job for any number of rules") {
    import graft.serve.Alerting
    val path = "/tmp/graft_test/promql_alerts_batch"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    SamplesStore.write(tinySamples, path)
    val rules = Seq(
      Alerting.AlertRule("r1",
        "sum by (host) (sum_over_time(m[60s])) > 3", 0L, 60L),
      Alerting.AlertRule("r2",
        "sum by (host) (sum_over_time(m[60s])) > 10", 0L, 60L),
      Alerting.AlertRule("r3",
        "sum by (user) (sum_over_time(m[60s])) > 1", 0L, 60L))
    // count ACTIONS (QueryExecutionListener fires once per action,
    // stable under AQE's many-jobs-per-action), not scheduler jobs
    val actions = new java.util.concurrent.atomic.AtomicInteger(0)
    val ql = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = actions.incrementAndGet()
      override def onFailure(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          ex: Exception): Unit = ()
    }
    spark.listenerManager.register(ql)
    try {
      def countActions(rs: Seq[Alerting.AlertRule]): (Int, Int) = {
        actions.set(0)
        val out = Alerting.currentAlerts(spark, path, rs)
        Thread.sleep(500) // listener bus settle
        (actions.get(), out.size)
      }
      // the per-rule plans union into ONE collect: the action count
      // must not grow with the rule count (the fixed overhead is the
      // data-edge lookup)
      val (aOne, nOne) = countActions(rules.take(1))
      val (aAll, nAll) = countActions(rules)
      assert(nOne > 0 && nAll > nOne)
      assert(aAll === aOne,
        s"3 rules took $aAll actions vs $aOne for 1 rule — " +
          "evaluation is running per-rule actions again")
    } finally spark.listenerManager.unregister(ql)
  }

  test("review fixes: scalar()/time() comparisons, idle histograms, label-key precision") {
    import spark.implicits._
    // comparison against scalar(): series above the cross-series mean
    val aboveMean = rows(PromQL.eval(tinySamples,
      parse("sum by (host) (sum_over_time(m[60s]))" +
        " > scalar(avg(sum_over_time(m[60s])))").toOption.get,
      T0 + 60, T0 + 60, 60L))
    // mean of {3.5, 20.25} = 11.875: only host=b clears it
    assert(aboveMean === Set(("", "host=b", T0 + 60, 20250000L)))
    // comparison against time(): values are far below the timestamp
    val belowTime = rows(PromQL.eval(tinySamples,
      parse("sum_over_time(m[60s]) < time()").toOption.get,
      T0 + 60, T0 + 60, 60L))
    assert(belowTime.size === 2) // both series pass the filter
    // an idle histogram (all counts 0, including +Inf) drops instead
    // of crashing on the 0/0 interpolation
    val idle = Seq(
      ((T0 + 30) * 1000000L, "mb", Seq("le=1"), 0.0),
      ((T0 + 30) * 1000000L, "mb", Seq("le=+Inf"), 0.0)
    ).toDF("ts_us", "metric", "labels", "value")
    assert(rows(PromQL.eval(idle,
      parse("histogram_quantile(0.5, mb)").toOption.get,
      T0 + 60, T0 + 60, 60L)) === Set.empty)
    // label keys match exactly, never as LIKE patterns: host_id's
    // underscore must not swallow hostXid
    val tricky = Seq(
      (T0 * 1000000L, "m2", Seq("host_id=1", "hostXid=9"), 4.0),
      (T0 * 1000000L, "m2", Seq("host_id=2", "hostXid=9"), 6.0)
    ).toDF("ts_us", "metric", "labels", "value")
    val byExact = rows(PromQL.eval(tricky,
      parse("sum by (host_id) (sum_over_time(m2[60s]))").toOption.get,
      T0 + 60, T0 + 60, 60L))
    assert(byExact === Set(
      ("", "host_id=1", T0 + 60, 4000000L),
      ("", "host_id=2", T0 + 60, 6000000L)))
    // round's to_nearest must survive the micro-unit conversion
    assert(PromQL.parse("round(x, 0.0000001)").isLeft)
    // count_values overwrites an existing dst label, never duplicates
    val cv = rows(PromQL.eval(tinySamples,
      parse("""count_values by (host) ("host", count_over_time(m[60s]))""")
        .toOption.get, T0 + 60, T0 + 60, 60L))
    assert(cv === Set(("", "host=2", T0 + 60, 2000000L)))
  }

  test("fuzz: every generated whitelisted expression evaluates without throwing") {
    val rnd = new scala.util.Random(2026)
    val fns = Seq("rate", "irate", "increase", "idelta", "deriv", "changes",
      "resets", "sum_over_time", "avg_over_time", "max_over_time",
      "stddev_over_time", "stdvar_over_time", "present_over_time",
      "mad_over_time", "ts_of_last_over_time", "ts_of_max_over_time",
      "ts_of_min_over_time")
    val aggs = Seq("sum", "avg", "min", "max", "count", "group",
      "stddev", "stdvar")
    val maths = Seq("abs", "ceil", "floor", "sgn", "sqrt", "hour", "month",
      "ln", "log2", "log10", "exp", "sort", "sort_desc",
      "sin", "cos", "tan", "asin", "acos", "atan",
      "sinh", "cosh", "tanh", "asinh", "acosh", "atanh", "deg", "rad")
    def gen(depth: Int): String = {
      if (depth <= 0) "m"
      else rnd.nextInt(16) match {
        case 0 => s"${fns(rnd.nextInt(fns.length))}(m[${30 + rnd.nextInt(90)}s])"
        case 1 => s"${aggs(rnd.nextInt(aggs.length))} by (host) (${gen(depth - 1)})"
        case 2 => s"${aggs(rnd.nextInt(aggs.length))} without (user) (${gen(depth - 1)})"
        case 3 => s"topk(${1 + rnd.nextInt(3)}, ${gen(depth - 1)})"
        case 4 => s"${maths(rnd.nextInt(maths.length))}(${gen(depth - 1)})"
        case 5 => s"(${gen(depth - 1)}) ${"+-*/%".charAt(rnd.nextInt(5))} (${gen(depth - 1)})"
        case 6 => s"${gen(depth - 1)} ${Seq(">", "<", ">=")(rnd.nextInt(3))} ${rnd.nextInt(30)}"
        case 7 => s"(${gen(depth - 1)}) ${Seq("and", "or", "unless")(rnd.nextInt(3))} (${gen(depth - 1)})"
        case 8 => s"max_over_time((${gen(depth - 1)})[120s:60s])"
        case 9 => s"quantile(0.${1 + rnd.nextInt(8)}, ${gen(depth - 1)})"
        case 10 => s"histogram_quantile(0.9, ${gen(depth - 1)})"
        case 11 => s"""label_replace(${gen(depth - 1)}, "x", "y", "host", "a.*")"""
        case 12 => s"(${gen(depth - 1)}) ^ ${rnd.nextInt(4)}"
        case 13 => s"limitk(${1 + rnd.nextInt(3)}, ${gen(depth - 1)})"
        case 14 => s"limit_ratio(${Seq("0.5", "-0.5", "1.0")(rnd.nextInt(3))}, ${gen(depth - 1)})"
        case 15 => s"-(${gen(depth - 1)})"
      }
    }
    (0 until 60).foreach { _ =>
      val q = gen(1 + rnd.nextInt(3))
      val parsed = PromQL.parse(q)
      assert(parsed.isRight, s"should parse: $q")
      // plan construction AND execution must both be total
      val n = PromQL.eval(tinySamples, parsed.toOption.get,
        T0 + 60, T0 + 120, 60L).count()
      assert(n >= 0, s"eval must not throw for: $q")
    }
  }

  test("an aligned tiling sum_over_time routes to the rollup and equals the raw answer") {
    val path = "/tmp/graft_test/promql_rollup"
    val rpath = path + "_roll"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    fs.delete(new org.apache.hadoop.fs.Path(rpath), true)
    SamplesStore.write(graft.sources.Tables.samples(spark, Sf), path)
    RollupStore.rollup(spark, path, rpath, 3600L)
    val stored = SamplesStore.read(spark, path)
    val e = parse("sum_over_time(click[2h])").toOption.get
    val (start, end, step) = (T0 + 7200, T0 + 86400, 7200L)
    val m = graft.OpsMetrics(spark)
    val before = m.readsFromRollup.value
    val routed = rows(PromQL.eval(stored, e, start, end, step,
      rollup = Some(RollupStore.Ladder(path, rpath, 3600L))))
    assert(m.readsFromRollup.value === before + 1,
      "an aligned fresh tiling query must route to the rollup")
    val raw = rows(PromQL.eval(stored, e, start, end, step))
    assert(routed === raw, "rollup-served answer must equal the raw answer")
    assert(routed.nonEmpty)

    // every rollup-servable function re-aggregates exactly: the
    // (sum, min, max, n) partials must reproduce the raw answer for
    // min/max/count/avg, the schema-v2 EDGE points must make
    // last_over_time/rate/increase/delta byte-exact, and the
    // schema-v3 PENULTIMATE points the same for irate/idelta (the
    // window's final two samples reassemble from per-bucket pairs)
    // stddev/stdvar ride the schema-v4 exact integer moments — the
    // associative sums are what makes the re-aggregation byte-exact
    for (fn <- Seq("min_over_time", "max_over_time", "count_over_time",
                   "avg_over_time", "last_over_time", "rate", "increase",
                   "delta", "irate", "idelta",
                   "stddev_over_time", "stdvar_over_time",
                   "present_over_time", "ts_of_last_over_time",
                   "ts_of_max_over_time", "ts_of_min_over_time",
                   "first_over_time", "ts_of_first_over_time")) {
      val eF = parse(s"$fn(click[2h])").toOption.get
      val bF = m.readsFromRollup.value
      val routedF = rows(PromQL.eval(stored, eF, start, end, step,
        rollup = Some(RollupStore.Ladder(path, rpath, 3600L))))
      assert(m.readsFromRollup.value === bF + 1, s"$fn must route to the rollup")
      assert(routedF === rows(PromQL.eval(stored, eF, start, end, step)),
        s"$fn rollup answer must equal the raw answer")
      // guard against a vacuous empty==empty pass on the fns whose
      // answer is guaranteed nonempty (any window with ≥1 point)
      if (fn == "last_over_time" || fn == "count_over_time")
        assert(routedF.nonEmpty, s"$fn result must be non-trivial")
    }

    // irate needs ≥2 samples per window — at this SF each series
    // carries at most one click sample per DAY, so only the 15-day
    // window makes the check non-vacuous (the final pair then spans
    // two different buckets: penultimate = previous bucket's last)
    for (fn <- Seq("irate", "idelta")) {
      val eD = parse(s"$fn(click[1296000])").toOption.get
      val bD = m.readsFromRollup.value
      val routedD = rows(PromQL.eval(stored, eD, T0 + 1296000,
        T0 + 1296000, 1296000L,
        rollup = Some(RollupStore.Ladder(path, rpath, 3600L))))
      assert(m.readsFromRollup.value === bD + 1,
        s"$fn whole-range windows must route to the rollup")
      assert(routedD === rows(PromQL.eval(stored, eD, T0 + 1296000,
        T0 + 1296000, 1296000L)), s"$fn rollup answer must equal raw")
      assert(routedD.nonEmpty, s"$fn result must be non-trivial")
    }

    // breaking any gate routes raw: unaligned start, step≠range, or a
    // stale rollup (a write the rollup hasn't digested)
    val b2 = m.readsFromRollup.value
    PromQL.eval(stored, e, start + 60, end, step,
      rollup = Some(RollupStore.Ladder(path, rpath, 3600L))).count()
    PromQL.eval(stored, e, start, end, 3600L,
      rollup = Some(RollupStore.Ladder(path, rpath, 3600L))).count()
    import spark.implicits._
    SamplesStore.append(Seq((start * 1000000L, "click", Seq("k=1", "user=9"), 1.0))
      .toDF("ts_us", "metric", "labels", "value"), path)
    PromQL.eval(SamplesStore.read(spark, path), e, start, end, step,
      rollup = Some(RollupStore.Ladder(path, rpath, 3600L))).count()
    assert(m.readsFromRollup.value === b2,
      "unaligned, non-tiling, or stale queries must not route to the rollup")
  }

  test("the ladder routes to the coarsest fresh grid and falls back level by level") {
    val path = "/tmp/graft_test/promql_ladder"
    val fine = path + "_fine"
    val coarse = path + "_coarse"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (p <- Seq(path, fine, coarse))
      fs.delete(new org.apache.hadoop.fs.Path(p), true)
    SamplesStore.write(graft.sources.Tables.samples(spark, Sf), path)
    RollupStore.rollup(spark, path, fine, 900L)
    RollupStore.rollupLadder(spark, fine, coarse, 3600L)
    val stored = SamplesStore.read(spark, path)
    val e = parse("sum_over_time(click[2h])").toOption.get
    val (start, end, step) = (T0 + 7200, T0 + 86400, 7200L)
    val grid = RollupStore.Ladder(path, fine, 900L,
      Some(RollupStore.Ladder(fine, coarse, 3600L)))
    val raw = rows(PromQL.eval(stored, e, start, end, step))
    // both levels fresh → the COARSE one serves (asserted via its
    // scan: only the coarse path's files appear in the plan; cached
    // relations would hide paths, so clear first)
    spark.catalog.clearCache()
    val routedDf = PromQL.eval(stored, e, start, end, step,
      rollup = Some(grid))
    val plan = routedDf.queryExecution.executedPlan.toString
    assert(plan.contains("_coarse"),
      s"fresh ladder must serve from the coarse level:\n$plan")
    assert(!plan.contains("_fine"),
      s"the fine level must not be scanned when coarse serves:\n$plan")
    assert(rows(routedDf) === raw && raw.nonEmpty)
    // stale the COARSE level only (a fine rebuild the ladder hasn't
    // folded): routing falls back to the FINE level, still rollup-served
    import spark.implicits._
    SamplesStore.append(Seq((start * 1000000L, "click", Seq("k=1", "user=9"), 1.0))
      .toDF("ts_us", "metric", "labels", "value"), path)
    RollupStore.rollup(spark, path, fine, 900L) // fine fresh, ladder stale
    val stored2 = SamplesStore.read(spark, path)
    val raw2 = rows(PromQL.eval(stored2, e, start, end, step))
    spark.catalog.clearCache()
    val fallbackDf = PromQL.eval(stored2, e, start, end, step,
      rollup = Some(grid))
    val plan2 = fallbackDf.queryExecution.executedPlan.toString
    assert(plan2.contains("_fine") && !plan2.contains("_coarse"),
      s"a stale coarse level must fall back to the fine one:\n$plan2")
    assert(rows(fallbackDf) === raw2)
    // fold the ladder → the coarse level serves again
    RollupStore.rollupLadder(spark, fine, coarse, 3600L)
    spark.catalog.clearCache()
    val plan3 = PromQL.eval(stored2, e, start, end, step,
      rollup = Some(grid)).queryExecution.executedPlan.toString
    assert(plan3.contains("_coarse"))
  }

  test("a 3-level ladder (5m/1h/1d) routes coarsest-fresh with per-level fallback") {
    val path = "/tmp/graft_test/promql_ladder3"
    val fine = path + "_fine"
    val mid = path + "_mid"
    val day = path + "_day"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (p <- Seq(path, fine, mid, day))
      fs.delete(new org.apache.hadoop.fs.Path(p), true)
    SamplesStore.write(graft.sources.Tables.samples(spark, Sf), path)
    RollupStore.rollup(spark, path, fine, 300L)
    RollupStore.rollupLadder(spark, fine, mid, 3600L)
    RollupStore.rollupLadder(spark, mid, day, 86400L)
    val grid = RollupStore.Ladder(path, fine, 300L,
      Some(RollupStore.Ladder(fine, mid, 3600L,
        Some(RollupStore.Ladder(mid, day, 86400L)))))
    val stored = SamplesStore.read(spark, path)
    // a [1d]-tiling query at 1d steps serves from the DAY level; the
    // same data window at 1h steps can only use the MID level (1d
    // buckets don't divide a 1h window) — level choice composes with
    // window servability
    val eDay = parse("sum_over_time(click[1d])").toOption.get
    val eHour = parse("sum_over_time(click[1h])").toOption.get
    val (dStart, dEnd) = (T0 + 86400, T0 + 4 * 86400)
    val rawDay = rows(PromQL.eval(stored, eDay, dStart, dEnd, 86400L))
    spark.catalog.clearCache()
    val dayDf = PromQL.eval(stored, eDay, dStart, dEnd, 86400L,
      rollup = Some(grid))
    val dayPlan = dayDf.queryExecution.executedPlan.toString
    assert(dayPlan.contains("_day") && !dayPlan.contains("_mid") &&
      !dayPlan.contains("_fine"),
      s"the 1d tiling must serve from the day level:\n$dayPlan")
    assert(rows(dayDf) === rawDay && rawDay.nonEmpty)
    spark.catalog.clearCache()
    val hourPlan = PromQL.eval(stored, eHour, T0 + 3600, T0 + 86400, 3600L,
      rollup = Some(grid)).queryExecution.executedPlan.toString
    assert(hourPlan.contains("_mid") && !hourPlan.contains("_day"),
      s"a 1h tiling must pick the mid level (1d can't divide it):\n$hourPlan")
    // stale ONLY the day level (refresh fine+mid after an append):
    // the 1d query falls back one level to MID, still rollup-served
    import spark.implicits._
    SamplesStore.append(Seq(
      ((T0 + 90000) * 1000000L, "click", Seq("k=1", "user=9"), 1.0))
      .toDF("ts_us", "metric", "labels", "value"), path)
    RollupStore.rollup(spark, path, fine, 300L)
    RollupStore.rollupLadder(spark, fine, mid, 3600L)
    val stored2 = SamplesStore.read(spark, path)
    val rawDay2 = rows(PromQL.eval(stored2, eDay, dStart, dEnd, 86400L))
    spark.catalog.clearCache()
    val fbDf = PromQL.eval(stored2, eDay, dStart, dEnd, 86400L,
      rollup = Some(grid))
    val fbPlan = fbDf.queryExecution.executedPlan.toString
    assert(fbPlan.contains("_mid") && !fbPlan.contains("_day"),
      s"a stale day level must fall back to mid:\n$fbPlan")
    assert(rows(fbDf) === rawDay2)
    // stale mid AND day (fine refreshed only): falls to FINE
    SamplesStore.append(Seq(
      ((T0 + 90060) * 1000000L, "click", Seq("k=1", "user=9"), 1.0))
      .toDF("ts_us", "metric", "labels", "value"), path)
    RollupStore.rollup(spark, path, fine, 300L)
    val stored3 = SamplesStore.read(spark, path)
    spark.catalog.clearCache()
    val f3Df = PromQL.eval(stored3, eDay, dStart, dEnd, 86400L,
      rollup = Some(grid))
    val f3Plan = f3Df.queryExecution.executedPlan.toString
    assert(f3Plan.contains("_fine") && !f3Plan.contains("_mid") &&
      !f3Plan.contains("_day"),
      s"stale mid+day must fall back to fine:\n$f3Plan")
    assert(rows(f3Df) === rows(PromQL.eval(stored3, eDay, dStart, dEnd, 86400L)))
    // fold the whole chain → the day level serves again
    RollupStore.rollupLadder(spark, fine, mid, 3600L)
    RollupStore.rollupLadder(spark, mid, day, 86400L)
    spark.catalog.clearCache()
    val backPlan = PromQL.eval(stored3, eDay, dStart, dEnd, 86400L,
      rollup = Some(grid)).queryExecution.executedPlan.toString
    assert(backPlan.contains("_day"), s"the folded chain serves coarse:\n$backPlan")
  }

  test("native histogram_quantile: exponential estimator behind the flag, classic default") {
    import spark.implicits._
    import graft.ingest.NativeHistogram
    // schema 0 (base 2): zero bucket [-0.5, 0.5] count 1, (0.5,1]
    // count 2, (1,2] count 3 — total 6
    val h = NativeHistogram.Hist(0L, 6.0, 10.0, 0, 0.5, 1.0,
      Seq((0, 2)), Seq(2L, 1L), Nil, Nil, Nil, Nil)
    // ESTIMATOR pins: q=0.75 → rank 4.5 lands mid-(1,2]; native
    // splits the LOG bounds (2^0.5), classic linear says 1.5 — the
    // exact native-vs-classic difference a real Prometheus shows
    assert(NativeHistogram.quantile(0.75, h) === math.pow(2.0, 0.5))
    // rank at a bucket edge agrees with linear (fraction 1)
    assert(NativeHistogram.quantile(0.5, h) === 1.0)
    // rank inside the zero bucket stays LINEAR (log degenerates),
    // and the one-sided histogram (no negatives) tightens the zero
    // bucket's lower bound to 0: rank 0.5 of count 1 → 0.25
    assert(NativeHistogram.quantile(1.0 / 12, h) === 0.25)
    assert(NativeHistogram.quantile(-0.1, h).isNegInfinity)
    assert(NativeHistogram.quantile(1.5, h).isPosInfinity)
    assert(NativeHistogram.quantile(0.5,
      h.copy(count = 0.0)).isNaN)
    // negative-bucket mirror: all mass in (-2,-1] — q=0.5 lands
    // mid-bucket, mirrored exponential
    val hn = NativeHistogram.Hist(0L, 2.0, -3.0, 0, 0.0, 0.0,
      Nil, Nil, Nil, Seq((1, 1)), Seq(2L), Nil)
    assert(NativeHistogram.quantile(0.5, hn) ===
      -math.pow(2.0, 0.0 + (1.0 - 0.0) * (1 - 0.5)))
    // END TO END: the native store serves 2^0.5 where the classic
    // _bucket expansion of the SAME histogram serves 1.5
    val tsMs = (T0 + 60) * 1000L
    val h2 = h.copy(timestampMs = tsMs)
    val histDf = Seq((tsMs * 1000L, "hm", Seq("k=v"),
      NativeHistogram.encode(h2))).toDF("ts_us", "metric", "labels", "hist")
    val classic = NativeHistogram.toClassicSamples("hm", Seq("k=v"), h2).get
      .map(s => (s.ts_us, s.metric, s.labels, s.value))
      .toDF("ts_us", "metric", "labels", "value")
    val eNative = parse("histogram_quantile(0.75, hm)").toOption.get
    val eClassic = parse("histogram_quantile(0.75, hm_bucket)").toOption.get
    val native = rows(PromQL.eval(classic, eNative, T0 + 60, T0 + 60, 60L,
      nativeHist = Some(histDf)))
    assert(native === Set(("", "k=v", T0 + 60, 1414214L)),
      s"native estimator must serve 2^0.5: $native")
    val classicRes = rows(PromQL.eval(classic, eClassic, T0 + 60, T0 + 60, 60L))
    assert(classicRes === Set(("", "k=v", T0 + 60, 1500000L)),
      s"classic linear must serve 1.5: $classicRes")
    // flag off (no store handed): the native-syntax query over the
    // classic store finds no le-labeled series — today's default
    assert(rows(PromQL.eval(classic, eNative, T0 + 60, T0 + 60, 60L)).isEmpty)
    // store handed but metric absent from it: falls back to classic
    val otherDf = Seq(((T0 + 60) * 1000000L, "other", Seq("k=v"),
      NativeHistogram.encode(h2))).toDF("ts_us", "metric", "labels", "hist")
    assert(rows(PromQL.eval(classic, eClassic, T0 + 60, T0 + 60, 60L,
      nativeHist = Some(otherDf))) === classicRes)

    // histogram_fraction, the NATIVE-ONLY upstream function, rides
    // the same flag: estimator pins on the constructed histogram
    assert(NativeHistogram.fraction(0.0, 1.0, h) === 0.5)
    assert(NativeHistogram.fraction(1.0, 2.0, h) === 0.5)
    // interior upper bound: native splits (1,2] on the LOG scale —
    // F(1.5) = 3 + 3·log2(1.5); classic linear says 3 + 3·0.5
    val nativeF =
      ((3.0 + 3.0 * (math.log(1.5) / math.log(2.0))) - 3.0) / 6.0
    assert(NativeHistogram.fraction(1.0, 1.5, h) === nativeF)
    assert(NativeHistogram.fraction(2.0, 1.0, h) === 0.0)
    assert(NativeHistogram.fraction(0.0, 1.0, h.copy(count = 0.0)).isNaN)
    // the inverse relationship with the quantile
    assert(math.abs(NativeHistogram.fraction(Double.NegativeInfinity,
      NativeHistogram.quantile(0.75, h), h) - 0.75) < 1e-9)
    // e2e: native exponential vs classic linear on the same bounds
    val eFracN = parse("histogram_fraction(1, 1.5, hm)").toOption.get
    val eFracC = parse("histogram_fraction(1, 1.5, hm_bucket)").toOption.get
    val fN = rows(PromQL.eval(classic, eFracN, T0 + 60, T0 + 60, 60L,
      nativeHist = Some(histDf)))
    assert(fN === Set(("", "k=v", T0 + 60,
      math.floor(nativeF * 1e6 + 0.5).toLong)), s"native fraction: $fN")
    val fC = rows(PromQL.eval(classic, eFracC, T0 + 60, T0 + 60, 60L))
    assert(fC === Set(("", "k=v", T0 + 60, 250000L)),
      s"classic fraction must stay linear: $fC")
  }

  test("native estimators over composed arguments: rate, sum by, and the matcher fallback") {
    import spark.implicits._
    import graft.ingest.NativeHistogram
    // counter histogram growing over 60s: schema 0 buckets
    // (0.5,1],(1,2] go (1,2) → (7,14); bucket-wise rate = (0.1, 0.2)
    val h0 = NativeHistogram.Hist(T0 * 1000L, 3.0, 5.0, 0, 0.0, 0.0,
      Seq((0, 2)), Seq(1L, 1L), Nil, Nil, Nil, Nil)
    val h1 = h0.copy(timestampMs = (T0 + 60) * 1000L, count = 21.0,
      sum = 50.0, posDeltas = Seq(7L, 7L))
    // a second series on the same grid, different mass
    val g0 = h0.copy(count = 5.0, posDeltas = Seq(2L, 1L)) // counts (2, 3)
    val g1 = h0.copy(timestampMs = (T0 + 60) * 1000L, count = 10.0,
      sum = 20.0, posDeltas = Seq(3L, 4L))                 // counts (3, 7)
    val histDf = Seq(
      (T0 * 1000000L, "hm", Seq("k=a", "src=s"), NativeHistogram.encode(h0)),
      ((T0 + 60) * 1000000L, "hm", Seq("k=a", "src=s"), NativeHistogram.encode(h1)),
      (T0 * 1000000L, "hm", Seq("k=b", "src=s"), NativeHistogram.encode(g0)),
      ((T0 + 60) * 1000000L, "hm", Seq("k=b", "src=s"), NativeHistogram.encode(g1))
    ).toDF("ts_us", "metric", "labels", "hist")
    val empty = Seq.empty[(Long, String, Seq[String], Double)]
      .toDF("ts_us", "metric", "labels", "value")

    // rate: expected value through the SAME sparse arithmetic the
    // engine uses — the e2e asserts the window pairing + plumbing
    def rateOf(a: NativeHistogram.Hist, b: NativeHistogram.Hist, span: Double) =
      NativeHistogram.fromSparse(0L, NativeHistogram.scale(
        NativeHistogram.subtract(NativeHistogram.toSparse(b),
          NativeHistogram.toSparse(a)).get, 1.0 / span))
    val expRateA = NativeHistogram.quantile(0.5, rateOf(h0, h1, 60.0))
    val expRateB = NativeHistogram.quantile(0.5, rateOf(g0, g1, 60.0))
    val eRate = parse("histogram_quantile(0.5, rate(hm[90s]))").toOption.get
    val gotRate = rows(PromQL.eval(empty, eRate, T0 + 90, T0 + 90, 1L,
      nativeHist = Some(histDf)))
    assert(gotRate === Set(
      ("", "k=a,src=s", T0 + 90, math.floor(expRateA * 1e6 + 0.5).toLong),
      ("", "k=b,src=s", T0 + 90, math.floor(expRateB * 1e6 + 0.5).toLong)))

    // sum by (src) over the instant vector: sparse addition across
    // the two series, then the walk; labels collapse to src
    val expSum = NativeHistogram.quantile(0.6,
      NativeHistogram.fromSparse(0L, NativeHistogram.add(
        NativeHistogram.toSparse(h1), NativeHistogram.toSparse(g1))))
    val eSum = parse("histogram_quantile(0.6, sum by (src) (hm))").toOption.get
    val gotSum = rows(PromQL.eval(empty, eSum, T0 + 60, T0 + 60, 1L,
      nativeHist = Some(histDf)))
    assert(gotSum === Set(
      ("", "src=s", T0 + 60, math.floor(expSum * 1e6 + 0.5).toLong)))

    // THE dashboard idiom end to end: sum by of the rates
    val expSumRate = NativeHistogram.quantile(0.5,
      NativeHistogram.fromSparse(0L, NativeHistogram.add(
        NativeHistogram.toSparse(rateOf(h0, h1, 60.0)),
        NativeHistogram.toSparse(rateOf(g0, g1, 60.0)))))
    val eSR = parse("histogram_quantile(0.5, sum by (src) (rate(hm[90s])))")
      .toOption.get
    val gotSR = rows(PromQL.eval(empty, eSR, T0 + 90, T0 + 90, 1L,
      nativeHist = Some(histDf)))
    assert(gotSR === Set(
      ("", "src=s", T0 + 90, math.floor(expSumRate * 1e6 + 0.5).toLong)))

    // a counter RESET inside the window drops it (bucket went down)
    val hReset = h0.copy(timestampMs = (T0 + 60) * 1000L, count = 1.0,
      posDeltas = Seq(1L), posSpans = Seq((0, 1)))
    val resetDf = Seq(
      (T0 * 1000000L, "hm", Seq("k=a"), NativeHistogram.encode(h0)),
      ((T0 + 60) * 1000000L, "hm", Seq("k=a"), NativeHistogram.encode(hReset))
    ).toDF("ts_us", "metric", "labels", "hist")
    assert(rows(PromQL.eval(empty, parse("histogram_quantile(0.5, rate(hm[90s]))")
      .toOption.get, T0 + 90, T0 + 90, 1L, nativeHist = Some(resetDf))).isEmpty)

    // ADVICE fix: matchers hitting only CLASSIC-only twins fall back
    // to the classic evaluation instead of answering empty — k=w
    // exists only as le-labeled float series under the SAME name
    // (the mixed native+classic vector Prometheus evaluates)
    val classicTwin = Seq(
      ((T0 + 60) * 1000000L, "hm", Seq("k=w", "le=1"), 3.0),
      ((T0 + 60) * 1000000L, "hm", Seq("k=w", "le=2"), 6.0),
      ((T0 + 60) * 1000000L, "hm", Seq("k=w", "le=+Inf"), 6.0))
      .toDF("ts_us", "metric", "labels", "value")
    val eW = parse("""histogram_quantile(0.75, hm{k="w"})""").toOption.get
    val gotW = rows(PromQL.eval(classicTwin, eW, T0 + 60, T0 + 60, 60L,
      nativeHist = Some(histDf)))
    assert(gotW === Set(("", "k=w", T0 + 60, 1500000L)),
      s"classic-only twin must serve the classic linear estimate: $gotW")
  }

  test("sparse histogram arithmetic: downscale, align, subtract, add") {
    import graft.ingest.NativeHistogram._
    // schema 1 buckets at indexes -1..2 merge pairwise into schema 0
    // via j = ceil(i/2): (-1,0) → 0, (1,2) → 1
    val s1 = Sparse(1, 0.0, 0.0, 10.0, 5.0,
      Map(-1 -> 1.0, 0 -> 2.0, 1 -> 3.0, 2 -> 4.0), Map.empty)
    val d = downscale(s1, 0)
    assert(d.pos === Map(0 -> 3.0, 1 -> 7.0))
    // align widens the zero threshold and folds covered buckets
    val a = Sparse(0, 1.0, 5.0, 10.0, 0.0, Map(1 -> 3.0), Map.empty)
    val b = Sparse(0, 0.0, 0.0, 3.0, 0.0, Map(0 -> 3.0), Map.empty)
    val (a2, b2) = align(a, b)
    assert(a2.zeroTh === 1.0 && b2.zeroTh === 1.0)
    assert(b2.zeroCount === 3.0 && b2.pos.isEmpty,
      "the (0.5,1] bucket folds into the widened zero bucket")
    assert(a2.pos === Map(1 -> 3.0))
    // subtract detects per-bucket resets
    val x = Sparse(0, 0.0, 0.0, 5.0, 9.0, Map(0 -> 2.0, 1 -> 3.0), Map.empty)
    val y = Sparse(0, 0.0, 0.0, 4.0, 7.0, Map(0 -> 1.0, 1 -> 3.0), Map.empty)
    assert(subtract(x, y) ===
      Some(Sparse(0, 0.0, 0.0, 1.0, 2.0, Map(0 -> 1.0), Map.empty)))
    assert(subtract(y, x) === None, "a bucket going down is a reset")
    // fromSparse rebuilds gapped spans; the estimator walks them
    val gap = Sparse(0, 0.0, 0.0, 7.0, 0.0,
      Map(-2 -> 1.0, 0 -> 2.0, 3 -> 4.0), Map.empty)
    val h = fromSparse(0L, gap)
    assert(h.posSpans === Seq((-2, 1), (1, 1), (2, 1)))
    assert(h.posCounts === Seq(1.0, 2.0, 4.0))
    assert(toSparse(h).pos === gap.pos)
  }

  test("native quantile estimator fuzz: monotone in q, bounded by the bucket range") {
    import graft.ingest.NativeHistogram
    val rnd = new scala.util.Random(11)
    (0 until 300).foreach { trial =>
      val schema = rnd.nextInt(13) - 4
      val base = math.pow(2.0, math.pow(2.0, -schema))
      // indices ≥ 1 keep every exponential bound at or above 1 (and
      // at or below −1 on the mirror), clear of the zero bucket —
      // the shape real senders produce (zeroTh below the smallest
      // populated bound); overlapping geometries are sender bugs
      def side(): (Seq[(Int, Int)], Seq[Long]) = {
        if (rnd.nextInt(3) == 0) (Nil, Nil)
        else {
          val spans = (0 until 1 + rnd.nextInt(2)).map(i =>
            (if (i == 0) 1 + rnd.nextInt(3) else 1 + rnd.nextInt(3),
              1 + rnd.nextInt(3)))
          val n = spans.map(_._2).sum
          val counts = Seq.fill(n)(rnd.nextInt(20).toLong + (if (rnd.nextBoolean()) 1L else 0L))
          val deltas = counts.head +: (1 until n).map(i => counts(i) - counts(i - 1))
          (spans, deltas)
        }
      }
      val (posSpans, posDeltas) = side()
      val (negSpans, negDeltas) = side()
      val zeroCount = if (rnd.nextBoolean()) rnd.nextInt(10).toLong else 0L
      val zeroTh = if (zeroCount > 0) 0.5 else 0.0
      def absSum(sp: Seq[(Int, Int)], d: Seq[Long]): Long =
        if (sp.isEmpty) 0L
        else d.scanLeft(0L)(_ + _).drop(1).sum
      val total = absSum(posSpans, posDeltas) + absSum(negSpans, negDeltas) + zeroCount
      if (total > 0 && absSum(posSpans, posDeltas) >= 0 && absSum(negSpans, negDeltas) >= 0) {
        val h = NativeHistogram.Hist(0L, total.toDouble, 1.0, schema, zeroTh,
          zeroCount.toDouble, posSpans, posDeltas, Nil, negSpans, negDeltas, Nil)
        val qs = Seq(0.0, 0.05, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0)
        val vs = qs.map(NativeHistogram.quantile(_, h))
        vs.zip(vs.tail).foreach { case (a, b) =>
          assert(a <= b + math.max(math.abs(a), math.abs(b)) * 1e-9 + 1e-12,
            s"trial $trial: not monotone: $qs -> $vs on $h")
        }
        def idx(sp: Seq[(Int, Int)]): Seq[Int] = {
          var i = 0; sp.flatMap { case (off, len) => i += off; val r = (i until i + len); i += len; r }
        }
        val maxUpper =
          if (posSpans.nonEmpty) math.pow(base, idx(posSpans).max)
          else if (zeroCount > 0) zeroTh
          else -math.pow(base, idx(negSpans).min - 1)
        val minLower =
          if (negSpans.nonEmpty) -math.pow(base, idx(negSpans).max)
          else if (zeroCount > 0) -zeroTh
          else math.pow(base, idx(posSpans).min - 1)
        // the exp2(log2(x)) round-trip at fraction 0/1 wobbles a few
        // ulps — bound checks carry a symmetric relative epsilon
        assert(vs.last <= maxUpper + math.abs(maxUpper) * 1e-9 + 1e-12,
          s"trial $trial: q=1 ${vs.last} above max bound $maxUpper on $h")
        assert(vs.head >= minLower - math.abs(minLower) * 1e-9 - 1e-12,
          s"trial $trial: q=0 ${vs.head} below min bound $minLower on $h")
        // fraction is quantile's inverse: F(-∞, Q(q)) = q (continuous
        // across bucket seams — a Q value rounding an ulp past a
        // bound interpolates ~0 into the neighbor)
        for (q <- Seq(0.137, 0.379, 0.613, 0.871)) {
          val v = NativeHistogram.quantile(q, h)
          if (!v.isNaN && !v.isInfinite) {
            val back = NativeHistogram.fraction(Double.NegativeInfinity, v, h)
            assert(math.abs(back - q) <= 1e-6,
              s"trial $trial: fraction(quantile($q)) = $back on $h")
          }
        }
      }
    }
  }

  test("% is the exact truncated remainder; zero modulus drops/rejects") {
    // vector % scalar on the micro-unit integers: 3.5 % 2 = 1.5,
    // 20.25 % 2 = 0.25 — no rounding anywhere
    val v = rows(PromQL.eval(tinySamples,
      parse("sum_over_time(m[60s]) % 2").toOption.get, T0 + 60, T0 + 60, 60L))
    assert(v === Set(
      ("", "host=a,user=1", T0 + 60, 1500000L),
      ("", "host=b,user=2", T0 + 60, 250000L)))
    // scalar % vector: 7 % 3.5 = 0, 7 % 20.25 = 7
    val sv = rows(PromQL.eval(tinySamples,
      parse("7 % sum_over_time(m[60s])").toOption.get, T0 + 60, T0 + 60, 60L))
    assert(sv === Set(
      ("", "host=a,user=1", T0 + 60, 0L),
      ("", "host=b,user=2", T0 + 60, 7000000L)))
    // vector % vector: x % x = 0 on every matched row
    val vv = rows(PromQL.eval(tinySamples,
      parse("sum_over_time(m[60s]) % sum_over_time(m[60s])").toOption.get,
      T0 + 60, T0 + 60, 60L))
    assert(vv.map(_._4) === Set(0L) && vv.size === 2)
    // scalar folding keeps Go math.Mod's dividend sign
    assert(parse("-7 % 2") === Right(ScalarLit(-1.0)))
    assert(parse("7 % -2") === Right(ScalarLit(1.0)))
    // literal zero modulus is a parse error (like division)
    assert(parse("1 % 0").isLeft)
    assertThrows[IllegalArgumentException] {
      PromQL.eval(tinySamples, parse("m % 0.0").toOption.get, T0, T0, 1L)
    }
    // a scalar under half a µ SNAPS to 0 in the e6 model — the guard
    // must fire on the snapped value, not the raw literal
    assertThrows[IllegalArgumentException] {
      PromQL.eval(tinySamples, parse("m % 0.0000004").toOption.get, T0, T0, 1L)
    }
  }

  test("^ with a literal integer exponent is a rounded-multiply chain") {
    // 3.5^2 = 12.25, 20.25^2 = 410.0625 — exact through the chain
    val sq = rows(PromQL.eval(tinySamples,
      parse("sum_over_time(m[60s]) ^ 2").toOption.get, T0 + 60, T0 + 60, 60L))
    assert(sq === Set(
      ("", "host=a,user=1", T0 + 60, 12250000L),
      ("", "host=b,user=2", T0 + 60, 410062500L)))
    // ^3: 3.5³ = 42.875
    val cu = rows(PromQL.eval(tinySamples,
      parse("sum_over_time(m[60s]) ^ 3").toOption.get, T0 + 60, T0 + 60, 60L))
    assert(cu.contains(("", "host=a,user=1", T0 + 60, 42875000L)))
    // ^0 = 1 with the metric name dropped
    val one = rows(PromQL.eval(tinySamples,
      parse("m ^ 0").toOption.get, T0 + 60, T0 + 60, 1L, lookbackSec = 86400L))
    assert(one.forall(r => r._1 == "" && r._4 == 1000000L) && one.size === 2)
    // right-associative: m ^ 2 ^ 2 = m ^ 4; scalars fold
    assert(parse("m ^ 2 ^ 2") match {
      case Right(PowInt(Instant(_, _), 4)) => true
      case _ => false
    })
    assert(parse("2 ^ 3") === Right(ScalarLit(8.0)))
    // ^ binds tighter than *: 2 * m ^ 2 parses as 2 * (m ^ 2)
    assert(parse("2 * m ^ 2") match {
      case Right(Binary('*', ScalarLit(2.0), PowInt(_, 2), _)) => true
      case _ => false
    })
    // only VECTOR exponents reject; fractional/negative/oversized
    // literals route to the exp∘ln composition (PowFrac)
    assert(parse("m ^ 2.5") match {
      case Right(PowFrac(Instant(_, _), 2.5)) => true; case _ => false
    })
    assert(parse("m ^ -1") match {
      case Right(PowFrac(Instant(_, _), -1.0)) => true; case _ => false
    })
    assert(parse("m ^ 9") match {
      case Right(PowFrac(Instant(_, _), 9.0)) => true; case _ => false
    })
    assert(parse("m ^ m").isLeft)
  }

  test("fractional/negative ^ rides the exp∘ln folds, sign by parity") {
    def powRef(vE6: Long, y: Double): Long = {
      val u = y * PromQL.lnDFold(math.abs(vE6.toDouble) / 1000000.0d)
      math.floor(PromQL.expDFold(u) * 1000000.0d + 0.5d).toLong
    }
    // window sums: host=a 3.5, host=b 20.25 (the PowInt test's data)
    val half = rows(PromQL.eval(tinySamples,
      parse("sum_over_time(m[60s]) ^ 0.5").toOption.get, T0 + 60, T0 + 60, 60L))
    assert(half === Set(
      ("", "host=a,user=1", T0 + 60, powRef(3500000L, 0.5)),
      ("", "host=b,user=2", T0 + 60, powRef(20250000L, 0.5))))
    // ^0.5 through the folds agrees with correctly-rounded sqrt at
    // the µ grain (the folds' ~2e-12 error is far below it)
    assert(powRef(3500000L, 0.5) === 1870829L) // √3.5
    // negative literal exponent: x^-1 = 1/x through the same folds
    val inv = rows(PromQL.eval(tinySamples,
      parse("sum_over_time(m[60s]) ^ -1").toOption.get, T0 + 60, T0 + 60, 60L))
    assert(inv.contains(("", "host=a,user=1", T0 + 60, powRef(3500000L, -1.0))))
    assert(powRef(3500000L, -1.0) === 285714L) // 1/3.5
    // negative BASE: integer exponent keeps sign by parity...
    val negOdd = rows(PromQL.eval(tinySamples,
      parse("(0 - sum_over_time(m[60s])) ^ 9").toOption.get,
      T0 + 60, T0 + 60, 60L))
    assert(negOdd.contains(("", "host=a,user=1", T0 + 60, -powRef(3500000L, 9.0))))
    // ...and a fractional exponent DROPS the row (Prometheus: NaN)
    val negFrac = rows(PromQL.eval(tinySamples,
      parse("(0 - sum_over_time(m[60s])) ^ 0.5").toOption.get,
      T0 + 60, T0 + 60, 60L))
    assert(negFrac.isEmpty)
    // scalar literals fold through the SAME folds (never libm pow)
    assert(parse("2 ^ 0.5") === Right(ScalarLit(
      PromQL.powScalarFold(2.0, 0.5).get)))
    assert(math.abs(PromQL.powScalarFold(2.0, 0.5).get - math.sqrt(2.0)) < 1e-6)
    // the canonical pretty-printer round-trips the new node
    assert(PromQL.parse(PromQL.format(parse("m ^ 2.5").toOption.get)) ===
      parse("m ^ 2.5"))
  }

  test("atan2 literal folding matches the CORDIC column path exactly") {
    // vector(3) atan2 2: the engine snaps 3 and 2 onto the µ lattice
    // and runs the CORDIC vectoring fold per row; the driver-side
    // literal fold must land on the IDENTICAL µ value (the old
    // math.atan2 shortcut could differ one pre-rounding ulp)
    val engine = rows(PromQL.eval(tinySamples,
      parse("vector(3) atan2 2").toOption.get, T0 + 60, T0 + 60, 60L))
    val folded = math.floor(PromQL.atan2Fold(3.0, 2.0) * 1e6 + 0.5d).toLong
    assert(engine.map(_._4) === Set(folded))
    // quadrants follow Go's conventions on both paths (the x<0
    // branch runs the fold on -0.0 before the +π correction, so it
    // sits ~4e-13 inside π — identical to the column path)
    assert(math.abs(PromQL.atan2Fold(0.0, -1.0) - math.Pi) < 1e-11)
    assert(PromQL.atan2Fold(0.0, 0.0) === 0.0d)
    assert(math.abs(PromQL.atan2Fold(-1.0, -1.0) - (-3.0d * math.Pi / 4)) < 1e-11)
  }

  test("mad_over_time is the interpolated median absolute deviation, exact integers") {
    // series a window [T0, T0+120): values 1.0, 2.5, 4.0, 1.0 →
    // median (1.0+2.5)/2 = 1.75, deviations {0.75, 0.75, 0.75, 2.25}
    // → MAD (0.75+0.75)/2 = 0.75; series b: 10.0, 10.25 → MAD 0.125
    val even = rows(PromQL.eval(tinySamples,
      parse("mad_over_time(m[120s])").toOption.get, T0 + 120, T0 + 120, 120L))
    assert(even === Set(
      ("", "host=a,user=1", T0 + 120, 750000L),
      ("", "host=b,user=2", T0 + 120, 125000L)))
    // odd n: series a window [T0, T0+90) holds 1.0, 2.5, 4.0 →
    // median 2.5, deviations {1.5, 0, 1.5} → MAD 1.5
    val odd = rows(PromQL.eval(tinySamples,
      parse("mad_over_time(m[90s])").toOption.get, T0 + 90, T0 + 90, 90L))
    assert(odd.contains(("", "host=a,user=1", T0 + 90, 1500000L)))
    // a single-point window has zero MAD: [T0+30, T0+45) holds only
    // the 2.5 sample
    val one = rows(PromQL.eval(tinySamples,
      parse("mad_over_time(m[15s])").toOption.get, T0 + 45, T0 + 45, 15L))
    assert(one === Set(("", "host=a,user=1", T0 + 45, 0L)))
  }

  test("unary minus negates vectors with Prometheus precedence") {
    val neg = rows(PromQL.eval(tinySamples,
      parse("-sum_over_time(m[60s])").toOption.get, T0 + 60, T0 + 60, 60L))
    assert(neg === Set(
      ("", "host=a,user=1", T0 + 60, -3500000L),
      ("", "host=b,user=2", T0 + 60, -20250000L)))
    // -m ^ 2 = -(m^2), not (-m)^2: unary binds looser than ^
    assert(parse("-m ^ 2") match {
      case Right(Binary('-', ScalarLit(0.0), PowInt(_, 2), _)) => true
      case _ => false
    })
    // scalar folds still work, including the double negative
    assert(parse("--5") === Right(ScalarLit(5.0)))
    assert(parse("5 - -3") === Right(ScalarLit(8.0)))
  }

  test("@ start() and @ end() pin to the query range's own edges") {
    // @ end() at every step equals the plain evaluation at the last
    // step, replicated across the grid
    val atEnd = rows(PromQL.eval(tinySamples,
      parse("sum_over_time(m[60s] @ end())").toOption.get,
      T0 + 60, T0 + 120, 60L))
    val plainLast = rows(PromQL.eval(tinySamples,
      parse("sum_over_time(m[60s])").toOption.get, T0 + 120, T0 + 120, 60L))
    assert(atEnd.filter(_._3 == T0 + 120) === plainLast)
    assert(atEnd.size === 2 * plainLast.size) // two grid steps
    // @ start() mirrors with the first step's answer
    val atStart = rows(PromQL.eval(tinySamples,
      parse("sum_over_time(m[60s] @ start())").toOption.get,
      T0 + 60, T0 + 120, 60L))
    val plainFirst = rows(PromQL.eval(tinySamples,
      parse("sum_over_time(m[60s])").toOption.get, T0 + 60, T0 + 60, 60L))
    assert(atStart.filter(_._3 == T0 + 60) === plainFirst)
    // malformed forms reject
    assert(parse("m @ start").isLeft)
    assert(parse("m @ begin()").isLeft)
  }

  test("grouped topk ranks within each by-group, labels pass through") {
    // topk(1, …) by (host): each host group keeps its own winner —
    // with one series per host both survive, where the ungrouped
    // topk(1, …) keeps only the global max
    val grouped = rows(PromQL.eval(tinySamples,
      parse("topk by (host) (1, sum_over_time(m[60s]))").toOption.get,
      T0 + 60, T0 + 60, 60L))
    assert(grouped === Set(
      ("", "host=a,user=1", T0 + 60, 3500000L),
      ("", "host=b,user=2", T0 + 60, 20250000L)))
    val global = rows(PromQL.eval(tinySamples,
      parse("topk(1, sum_over_time(m[60s]))").toOption.get,
      T0 + 60, T0 + 60, 60L))
    assert(global === Set(("", "host=b,user=2", T0 + 60, 20250000L)))
    // suffix grouping parses too; limitk accepts grouping the same way
    assert(parse("bottomk(1, m) by (host)").isRight)
    assert(parse("limitk by (host) (1, m)").isRight)
    assert(parse("topk by (a) (1, m) by (b)").isLeft) // duplicate clause
    val lkg = rows(PromQL.eval(tinySamples,
      parse("limitk by (host) (1, sum_over_time(m[60s]))").toOption.get,
      T0 + 60, T0 + 60, 60L))
    assert(lkg.size === 2, "one kept series per host group")
  }

  test("limitk caps series deterministically; limit_ratio bands partition") {
    // limitk(1, m): the first series by (metric, labels) order —
    // host=a,user=1 sorts before host=b,user=2 — with the metric
    // name preserved (a filter, not a transform)
    val k1 = rows(PromQL.eval(tinySamples,
      parse("limitk(1, last_over_time(m[60s]))").toOption.get,
      T0 + 60, T0 + 60, 60L))
    assert(k1 === Set(("m", "host=a,user=1", T0 + 60, 2500000L)))
    // k ≥ series count passes everything through
    val k9 = rows(PromQL.eval(tinySamples,
      parse("limitk(9, sum_over_time(m[60s]))").toOption.get,
      T0 + 60, T0 + 60, 60L))
    assert(k9.size === 2)
    // limit_ratio(1.0) keeps all; r and -(1-r) partition the set
    val all = rows(PromQL.eval(tinySamples,
      parse("limit_ratio(1.0, sum_over_time(m[60s]))").toOption.get,
      T0 + 60, T0 + 60, 60L))
    assert(all.size === 2)
    val lo = rows(PromQL.eval(tinySamples,
      parse("limit_ratio(0.5, sum_over_time(m[60s]))").toOption.get,
      T0 + 60, T0 + 60, 60L))
    val hi = rows(PromQL.eval(tinySamples,
      parse("limit_ratio(-0.5, sum_over_time(m[60s]))").toOption.get,
      T0 + 60, T0 + 60, 60L))
    assert((lo ++ hi) === all && lo.intersect(hi).isEmpty)
    // parse guards
    assert(parse("limitk(0, m)").isLeft)
    assert(parse("limit_ratio(1.5, m)").isLeft)
  }

  test("stddev/stdvar aggregate across series with the clamped population formula") {
    // values 3.5 and 20.25: mean 11.875, deviations ±8.375
    // → stdvar 70.140625, stddev 8.375 (both exact in micro-units)
    val sd = rows(PromQL.eval(tinySamples,
      parse("stddev(sum_over_time(m[60s]))").toOption.get, T0 + 60, T0 + 60, 60L))
    assert(sd === Set(("", "", T0 + 60, 8375000L)))
    val sv = rows(PromQL.eval(tinySamples,
      parse("stdvar(sum_over_time(m[60s]))").toOption.get, T0 + 60, T0 + 60, 60L))
    assert(sv === Set(("", "", T0 + 60, 70140625L)))
    // single-element groups have zero spread
    val by = rows(PromQL.eval(tinySamples,
      parse("stddev by (host) (sum_over_time(m[60s]))").toOption.get,
      T0 + 60, T0 + 60, 60L))
    assert(by === Set(("", "host=a", T0 + 60, 0L), ("", "host=b", T0 + 60, 0L)))
  }
}
