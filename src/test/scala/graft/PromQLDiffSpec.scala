package graft

import org.apache.spark.sql.functions._

import graft.operators.{LabelMatcher, MatcherType}
import graft.serve.PromQL
import graft.serve.PromQL._

/** Differential fuzzing of the distributed PromQL evaluator against
  * an INDEPENDENT driver-side reference interpreter.
  *
  * The existing fuzz spec proves totality (nothing throws); this one
  * proves VALUES: a second, single-threaded implementation of the
  * evaluator's documented semantics — windows [t-d, t), per-second
  * dedup max, the micro-unit integer value model, every rounding
  * formula replicated from the scaladoc contracts — evaluates each
  * generated expression over plain Scala collections, and the two
  * answers must agree row-for-row.
  *
  * Exactness discipline: sample values are multiples of 0.25 with
  * small magnitude, so every double sum/square the two sides compute
  * is EXACT regardless of accumulation order — the one place a
  * distributed reduction could legally diverge from a sequential one
  * is removed by construction, and any remaining disagreement is a
  * real bug in one of the implementations. The per-formula double
  * chains (halfUp ratios, stddev moments, the digit-extraction
  * transcendentals) are replicated operation-for-operation.
  */
class PromQLDiffSpec extends SparkSpecBase {

  private val T0 = 1704412800L

  // ---- the reference world ----------------------------------------

  /** (metric, sorted "k=v" labels, t_sec, value). */
  private case class S(metric: String, labels: List[String], t: Long, v: Double)

  /** Result row: (metric or "" for NULL, labels joined, t, v_e6). */
  private type R = (String, String, Long, Long)

  private val world: List[S] = {
    val rnd = new scala.util.Random(77)
    val out = List.newBuilder[S]
    for {
      metric <- Seq("m", "w")
      host <- Seq("a", "b", "c")
      user <- Seq("1", "2")
    } {
      // irregular timestamps, some colliding on the same second
      // (exercising the per-second dedup), values k·0.25 ∈ [-2, 18]
      var t = T0 - 120 + rnd.nextInt(40)
      while (t < T0 + 400) {
        val reps = 1 + (if (rnd.nextInt(5) == 0) 1 else 0)
        for (_ <- 0 until reps)
          out += S(metric, List(s"host=$host", s"instance=i$host",
            s"user=$user"), t, (rnd.nextInt(81) - 8) * 0.25)
        t += 15 + rnd.nextInt(70)
      }
    }
    // classic histogram h: cumulative _bucket/_sum/_count triplets on
    // a 60s grid, deterministic from (host, k) — the corpus the
    // histogram accessor productions read
    for (host <- Seq("a", "b"); k <- 0 until 10) {
      val t = T0 - 120 + k * 60
      val hi = if (host == "a") 1 else 2
      val c1 = (k + hi) % 4
      val c2 = c1 + (k % 3)
      val c3 = c2 + 1 + hi
      val cInf = c3 + (k % 2)
      val base = List(s"host=$host", s"instance=i$host")
      out += S("h_bucket", (base :+ "le=1").sorted, t, c1.toDouble)
      out += S("h_bucket", (base :+ "le=2").sorted, t, c2.toDouble)
      out += S("h_bucket", (base :+ "le=4").sorted, t, c3.toDouble)
      out += S("h_bucket", (base :+ "le=+Inf").sorted, t, cInf.toDouble)
      out += S("h_sum", base, t, cInf * 1.5 + c1 * 0.25)
      out += S("h_count", base, t, cInf.toDouble)
    }
    // a Prometheus 3.x quoted-UTF-8 world: metric "my.metric" with a
    // dotted label "a.b" — reachable ONLY through quoted selectors /
    // quoted grouping lists (the round-16 syntax), exercised by
    // production 19. Deterministic k·0.25 values on a 60s grid.
    for (host <- Seq("a", "b"); k <- 0 until 10) {
      val t = T0 - 120 + k * 60
      out += S("my.metric",
        List(s"a.b=${if (host == "a") "x" else "y"}",
          s"host=$host", s"instance=i$host").sorted,
        t, ((k + (if (host == "a") 1 else 5)) % 9) * 0.25)
    }
    // target_info for hosts a and b (c has none — pass-through), plus
    // a DUPLICATE info series for ia differing in data labels, so the
    // greatest-data-label-set resolution is exercised
    for (host <- Seq("a", "b"); k <- 0 until 5) {
      val t = T0 - 100 + k * 120
      out += S("target_info",
        List(s"dc=d$host", s"instance=i$host", "os=linux"), t, 1.0)
    }
    for (k <- 0 until 5)
      out += S("target_info",
        List("dc=d0", "instance=ia", "os=aix"), T0 - 100 + k * 120, 1.0)
    out.result()
  }

  private def e6(v: Double): Long = math.floor(v * 1e6 + 0.5).toLong

  private def halfUp(a: Long, b: Long): Long =
    math.floor((2.0d * a + b) / (2.0d * b)).toLong

  private def matches(ms: Seq[LabelMatcher], s: S): Boolean = ms.forall { m =>
    val actual =
      if (m.name == "__name__") s.metric
      else s.labels.collectFirst {
        case l if l.startsWith(m.name + "=") => l.drop(m.name.length + 1)
      }.getOrElse("")
    m.mtype match {
      case MatcherType.Eq  => actual == m.value
      case MatcherType.Neq => actual != m.value
      case MatcherType.Re  => java.util.regex.Pattern.matches(m.value, actual)
      case MatcherType.Nre => !java.util.regex.Pattern.matches(m.value, actual)
    }
  }

  /** Per-second dedup max per series, time-ordered — the read path's
    * GROUP BY the evaluator builds everything on. */
  private def dedup(ms: Seq[LabelMatcher], lo: Long, hi: Long)
      : Map[(String, List[String]), List[(Long, Double)]] =
    world.filter(s => s.t >= lo && s.t <= hi && matches(ms, s))
      .groupBy(s => (s.metric, s.labels))
      .map { case (k, ss) =>
        k -> ss.groupBy(_.t).map { case (t, g) => (t, g.map(_.v).max) }
          .toList.sortBy(_._1)
      }

  // ---- staleness markers (differential twin of the _stale sibling) --

  /** One marker per `m` series just after its median sample (the
    * series "dies" mid-window and revives at its next sample), plus
    * ONE marker exactly ON a sample second for the tie pin (the
    * SAMPLE wins ties — the /read pass-through rule, one rule on
    * both surfaces). */
  private val staleMarkers: List[S] = world.filter(_.metric == "m")
    .groupBy(s => (s.metric, s.labels)).toList
    .sortBy(_._1.toString)
    .flatMap { case ((m, ls), ss) =>
      val ts = ss.map(_.t).distinct.sorted
      val mid = ts(ts.size / 2)
      S(m, ls, mid + 1, 1.0) ::
        (if (ls.contains("host=a") && ls.contains("user=1"))
          // the tie pin must land INSIDE the eval window (ts.last is
          // past End and would never be exercised): the last sample
          // second <= End collides with a marker, and the sample
          // must win at every step it is the latest event for
          List(S(m, ls, ts.filter(_ <= T0 + 240).last, 1.0))
        else Nil)
    }

  /** Flipped by the staleness differential test: [[instantRef]]
    * consults it so EVERY instant leaf in a composed expression sees
    * the marked world, exactly like eval's threaded sibling. */
  private var staleActive = false

  /** Sequential digit-extraction log2 fixed point — the scaladoc
    * algorithm, op for op (general double form in [[log2fxD]]). */
  private def log2fx(vE6: Long): Long = log2fxD(vE6.toDouble / 1000000.0d)

  // CORDIC replicas — op-for-op ports of the scaladoc algorithms
  private val P2 = (0 until 40).map(i => math.pow(2.0, -i))
  private val AT = (0 until 40).map(i => math.atan(math.pow(2.0, -i)))
  private val KC = (0 until 40).foldLeft(1.0)((a, i) =>
    a / math.sqrt(1.0 + math.pow(2.0, -2 * i)))
  private val HP = 1.5707963267948966d

  private def rotate(r: Double): (Double, Double) = {
    var x = KC; var y = 0.0d; var z = r
    var i = 0
    while (i < 40) {
      if (z >= 0.0d) {
        val nx = x - y * P2(i); val ny = y + x * P2(i)
        x = nx; y = ny; z -= AT(i)
      } else {
        val nx = x + y * P2(i); val ny = y - x * P2(i)
        x = nx; y = ny; z += AT(i)
      }
      i += 1
    }
    (x, y)
  }

  private def vectAtan(u: Double): Double = {
    var x = 1.0d; var y = u; var z = 0.0d
    var i = 0
    while (i < 40) {
      if (y > 0.0d) {
        val nx = x + y * P2(i); val ny = y - x * P2(i)
        x = nx; y = ny; z += AT(i)
      } else {
        val nx = x - y * P2(i); val ny = y + x * P2(i)
        x = nx; y = ny; z -= AT(i)
      }
      i += 1
    }
    z
  }

  private def refSinCos(vE6: Long): (Double, Double) = {
    val t = vE6.toDouble / 1000000.0d
    val k = math.floor(t / HP + 0.5d).toLong
    val r = t - k.toDouble * HP
    val q = (((k % 4) + 4) % 4).toInt
    val (x, y) = rotate(r)
    val s = q match { case 0 => y; case 1 => x; case 2 => -y; case _ => -x }
    val c = q match { case 0 => x; case 1 => -y; case 2 => -x; case _ => y }
    (s, c)
  }

  private def refExpD(u: Double): Double = {
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

  private def refLnD(w: Double): Double =
    log2fxD(w).toDouble / 16777216.0d * 0.6931471805599453d

  private def log2fxD(w: Double): Long = {
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
    e * 16777216L + b
  }

  /** x^y outside the PowInt fast path — exp(y·ln|x|) with powFrac's
    * domain: negative-base-fractional and overflow drop, deep
    * underflow answers 0, parity keeps the sign for integer y. */
  private def refPowFrac(vE6: Long, y: Double): Option[Long] = {
    val isIntY = y == math.floor(y) && !y.isInfinity
    val negOdd = isIntY && math.abs(y % 2.0d) == 1.0d
    if (vE6 == 0L) return if (y > 0) Some(0L) else None
    if (vE6 < 0L && !isIntY) return None
    val u = y * refLnD(math.abs(vE6.toDouble) / 1000000.0d)
    if (u > 29.85d) return None
    val mag =
      if (u <= -14.6d) 0L
      else math.floor(refExpD(u) * 1000000.0d + 0.5d).toLong
    Some(if (negOdd && vE6 < 0L) -mag else mag)
  }

  /** Outer subquery aggregation over one window's inner points
    * (tv-sorted) — the engine's subqueryRange formulas: exact
    * integer sum/min/max/count/last, half-up avg, and the
    * no-extrapolation first/last rate family. */
  private def subRef(fn: String, pts: Seq[(Long, Long)]): Option[Long] = {
    if (pts.isEmpty) return None
    val vs = pts.map(_._2)
    fn match {
      case "sum_over_time"   => Some(vs.sum)
      case "count_over_time" => Some(vs.size * 1000000L)
      case "avg_over_time"   => Some(halfUp(vs.sum, vs.size))
      case "min_over_time"   => Some(vs.min)
      case "max_over_time"   => Some(vs.max)
      case "last_over_time"  => Some(pts.last._2)
      case "first_over_time" => Some(pts.head._2)
      case "ts_of_first_over_time" => Some(pts.head._1 * 1000000L)
      case "ts_of_last_over_time" => Some(pts.last._1 * 1000000L)
      case "ts_of_max_over_time" =>
        Some(pts.maxBy(p => (p._2, p._1))._1 * 1000000L)
      case "ts_of_min_over_time" =>
        Some(pts.maxBy(p => (-p._2, p._1))._1 * 1000000L)
      case "rate" =>
        if (pts.size >= 2 && pts.last._1 > pts.head._1 &&
            pts.last._2 >= pts.head._2)
          Some(halfUp(pts.last._2 - pts.head._2, pts.last._1 - pts.head._1))
        else None
      case "increase" =>
        if (pts.size >= 2) Some(math.max(pts.last._2 - pts.head._2, 0L))
        else None
      case "delta" =>
        if (pts.size >= 2) Some(pts.last._2 - pts.head._2) else None
    }
  }

  private def refExp(vE6: Long): Option[Long] = {
    if (vE6 > 29850000L) return None // overflow guard drops the row
    if (vE6 <= -14600000L) return Some(0L)
    val t = vE6.toDouble / 1000000.0d * 1.4426950408889634d
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
    val res =
      if (i >= 0) acc * java.lang.Double.longBitsToDouble((1023L + i) << 52)
      else acc / java.lang.Double.longBitsToDouble((1023L - i) << 52)
    Some(math.floor(res * 1000000.0d + 0.5d).toLong)
  }

  // ---- the interpreter --------------------------------------------

  private val Start = T0 + 60
  private val End = T0 + 240
  private val Step = 60L
  private val Lookback = 300L

  private def grid(start: Long, end: Long, step: Long): Seq[Long] =
    (start to end by step)

  /** null-metric is encoded "" — the same collapse `rows` performs on
    * the Spark side. */
  private def refEval(e: Expr, start: Long = Start, end: Long = End,
                      step: Long = Step): Set[R] = e match {
    case Instant(ms, off) =>
      shift(instantRef(ms, start - off, end - off, step), off)

    case RangeCall(fn, ms, d, off) if PairFns(fn) =>
      unnamed(fn, shift(pairRef(fn, ms, start - off, end - off, step, d), off))

    case RangeCall(fn, ms, d, off) =>
      unnamed(fn, shift(rangeRef(fn, ms, start - off, end - off, step, d), off))

    case MathFn(fn, child, args) =>
      refEval(child, start, end, step).flatMap { case (_, ls, t, v) =>
        mathRef(fn, v, args).map(nv => ("", ls, t, nv))
      }

    case PowInt(child, n) =>
      refEval(child, start, end, step).map { case (_, ls, t, v) =>
        val nv =
          if (n == 0) 1000000L
          else {
            var acc = v.toDouble
            for (_ <- 2 to n) acc = math.floor(acc * v.toDouble / 1000000.0d + 0.5d)
            acc.toLong
          }
        ("", ls, t, nv)
      }

    case PowFrac(child, y) =>
      refEval(child, start, end, step).flatMap { case (_, ls, t, v) =>
        refPowFrac(v, y).map(nv => ("", ls, t, nv))
      }

    case Subquery(fn, child, d, res, off) =>
      val (s0, e0) = (start - off, end - off)
      val innerStart = (s0 - d + res - 1) / res * res
      val inner = refEval(child, innerStart, e0, res).toSeq
      val out = for {
        ((m, ls), pts0) <- inner.groupBy(r => (r._1, r._2)).toSeq
        t <- grid(s0, e0, step)
        pts = pts0.filter(p => p._3 >= t - d && p._3 < t && p._3 <= e0 - 1)
          .sortBy(_._3)
        v <- subRef(fn, pts.map(p => (p._3, p._4)))
      } yield (m, ls, t, v)
      unnamed(fn, shift(out.toSet, off))

    case Sort(_, child) => refEval(child, start, end, step)
    case SortByLabel(_, child, _) => refEval(child, start, end, step)

    case VectorLit(v) =>
      grid(start, end, step).map(t => ("", "", t, e6(v))).toSet

    case TimeFn =>
      grid(start, end, step).map(t => ("", "", t, t * 1000000L)).toSet

    case Agg(op, by, child, without, param) =>
      val rows = refEval(child, start, end, step)
      rows.groupBy { case (_, ls, t, _) => (kept(ls, by, without), t) }
        .map { case ((ls, t), g) =>
          val vs = g.toList.map(_._4)
          val n = vs.size.toLong
          val v: Long = op match {
            case "sum"   => vs.sum
            case "min"   => vs.min
            case "max"   => vs.max
            case "count" => n * 1000000L
            case "avg"   => halfUp(vs.sum, n)
            case "group" => 1000000L
            case "stddev" | "stdvar" =>
              val sy = vs.map(_.toDouble / 1000000.0d).sum
              val syy = vs.map(x => (x.toDouble / 1000000.0d) *
                (x.toDouble / 1000000.0d)).sum
              val mom = math.max(syy / n - (sy / n) * (sy / n), 0.0d)
              if (op == "stddev")
                math.floor(math.sqrt(mom) * 1000000 + 0.5).toLong
              else math.floor(mom * 1000000 + 0.5).toLong
            case other => sys.error(s"ref: agg $other unsupported")
          }
          ("", ls, t, v)
        }.toSet

    case Rank(bottom, k, child, by, without) =>
      val rows = refEval(child, start, end, step)
      rows.groupBy { case (_, ls, t, _) => (kept(ls, by, without), t) }
        .values.flatMap { g =>
          g.toList.sortBy { case (m0, ls, _, v) =>
            (if (bottom) v else -v, m0, ls)
          }.take(k)
        }.toSet

    case LimitK(k, child, by, without) =>
      val rows = refEval(child, start, end, step)
      rows.groupBy { case (_, ls, t, _) => (kept(ls, by, without), t) }
        .values.flatMap { g =>
          g.toList.sortBy { case (m0, ls, _, _) => (m0, ls) }.take(k)
        }.toSet

    case Binary(op, ScalarLit(k), right, _) =>
      refEval(right, start, end, step).flatMap { case (_, ls, t, v) =>
        scalarOp(op, k, v, scalarOnLeft = true).map(nv => ("", ls, t, nv))
      }
    case Binary(op, left, ScalarLit(k), _) =>
      refEval(left, start, end, step).flatMap { case (_, ls, t, v) =>
        scalarOp(op, k, v, scalarOnLeft = false).map(nv => ("", ls, t, nv))
      }
    case Binary(op, left, right, None) =>
      val l = refEval(left, start, end, step)
      val r = refEval(right, start, end, step)
        .groupBy { case (_, ls, t, _) => (ls, t) }
      l.flatMap { case (_, ls, t, lv) =>
        r.getOrElse((ls, t), Set.empty).flatMap { case (_, _, _, rv) =>
          vecOp(op, lv, rv).map(nv => ("", ls, t, nv))
        }
      }

    case Cmp(op, bool, left, ScalarLit(k), _) =>
      val kE6 = e6(k)
      refEval(left, start, end, step).flatMap { case (m0, ls, t, v) =>
        val pass = cmpRef(op, v, kE6)
        if (!bool) { if (pass) Some((m0, ls, t, v)) else None }
        else Some(("", ls, t, if (pass) 1000000L else 0L))
      }
    case Cmp(op, bool, ScalarLit(k), right, _) =>
      val kE6 = e6(k)
      refEval(right, start, end, step).flatMap { case (m0, ls, t, v) =>
        val pass = cmpRef(op, kE6, v)
        if (!bool) { if (pass) Some((m0, ls, t, v)) else None }
        else Some(("", ls, t, if (pass) 1000000L else 0L))
      }
    case Cmp(op, bool, left, right, None) =>
      val l = refEval(left, start, end, step)
      val r = refEval(right, start, end, step)
        .groupBy { case (_, ls, t, _) => (ls, t) }
      l.flatMap { case (m0, ls, t, lv) =>
        r.getOrElse((ls, t), Set.empty).flatMap { case (_, _, _, rv) =>
          val pass = cmpRef(op, lv, rv)
          if (!bool) { if (pass) Some((m0, ls, t, lv)) else None }
          else Some(("", ls, t, if (pass) 1000000L else 0L))
        }
      }

    case SetOp(op, left, right, None) =>
      val l = refEval(left, start, end, step)
      val r = refEval(right, start, end, step)
      val lk = l.map { case (_, ls, t, _) => (ls, t) }
      val rk = r.map { case (_, ls, t, _) => (ls, t) }
      op match {
        case "and"    => l.filter { case (_, ls, t, _) => rk((ls, t)) }
        case "unless" => l.filter { case (_, ls, t, _) => !rk((ls, t)) }
        case "or" =>
          l ++ r.filter { case (_, ls, t, _) => !lk((ls, t)) }
      }

    case Info(child, sel) =>
      // mirror of the engine's infoJoin: identity key = the
      // instance=/job= labels; data labels = the rest, restricted to
      // sel's NAMES; duplicate info series per (ik, t) resolve to the
      // GREATEST data array (Spark array ordering = elementwise, then
      // shorter-is-less — seqOrdering); v's own label wins collisions
      import scala.math.Ordering.Implicits.seqOrdering
      def isIdent(l: String) = l.startsWith("instance=") || l.startsWith("job=")
      def lkey(l: String) = l.takeWhile(_ != '=')
      val v = refEval(child, start, end, step)
      val ti = refEval(Instant(LabelMatcher(MatcherType.Eq, "__name__",
        "target_info") +: sel), start, end, step)
      val tiK = ti.toSeq.map { case (_, ls0, t, _) =>
        val ls = if (ls0.isEmpty) Nil else ls0.split(",").toList
        ((ls.filter(isIdent), t),
          ls.filterNot(isIdent).filter(l =>
            sel.isEmpty || sel.exists(m => l.startsWith(m.name + "="))))
      }.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
      v.map { case (m0, ls0, t, vv) =>
        val ls = if (ls0.isEmpty) Nil else ls0.split(",").toList
        val data = tiK.getOrElse((ls.filter(isIdent), t), Nil)
        val merged =
          (ls ++ data.filterNot(d => ls.exists(x => lkey(x) == lkey(d)))).sorted
        (m0, merged.mkString(","), t, vv)
      }

    case HistStd(dev, child) =>
      // mirror of the engine's histStdDev over a SELECTOR child (the
      // only shape the generator draws): geometric-midpoint
      // estimator over the le-ascending fold, +Inf term collapsed to
      // the top finite bound, clamped at 0
      def sfx(s: String): Expr = child match {
        case Instant(ms, off) => Instant(ms.map(m =>
          if (m.name == "__name__" && m.mtype == MatcherType.Eq)
            LabelMatcher(MatcherType.Eq, "__name__", m.value + s)
          else m), off)
        case other => sys.error(s"ref HistStd: selector child only: $other")
      }
      def keyed(rows: Set[R]): Map[(String, Long), Long] =
        rows.map { case (_, ls, t, v) => ((ls, t), v) }.toMap
      val sums = keyed(refEval(sfx("_sum"), start, end, step))
      val counts = keyed(refEval(sfx("_count"), start, end, step))
      refEval(sfx("_bucket"), start, end, step).toSeq
        .flatMap { case (_, ls0, t, v) =>
          val ls = if (ls0.isEmpty) Nil else ls0.split(",").toList
          ls.find(_.startsWith("le=")).map(le =>
            ((ls.filterNot(_.startsWith("le=")).mkString(","), t),
              (le.drop(3), v.toDouble / 1000000.0d)))
        }
        .groupBy(_._1).flatMap { case ((g, t), rows0) =>
          val rows = rows0.map(_._2)
          val fin = rows.filter(_._1 != "+Inf")
            .map { case (le, c) => (le.toDouble, c) }.sortBy(_._1)
          for {
            total <- rows.find(_._1 == "+Inf").map(_._2)
            if fin.nonEmpty
            hsum <- sums.get((g, t)).map(_.toDouble / 1000000.0d)
            hcount <- counts.get((g, t)).map(_.toDouble / 1000000.0d)
            if hcount > 0.0d
          } yield {
            val mean = hsum / hcount
            var prevC = 0.0d; var prevLe = 0.0d; var fold = 0.0d
            for ((le, c) <- fin) {
              val cnt = c - prevC
              val bval =
                if (prevLe <= 0.0d && 0.0d <= le) 0.0d
                else if (le < 0.0d) 0.0d - math.sqrt(prevLe * le)
                else math.sqrt(prevLe * le)
              fold += cnt * (bval - mean) * (bval - mean)
              prevC = c; prevLe = le
            }
            val finC = fin.map(_._2).max
            val finLe = fin.map(_._1).max
            val variance = math.max((fold +
              math.max(total - finC, 0.0d) * (finLe - mean) * (finLe - mean))
              / hcount, 0.0d)
            ("", g, t, math.floor(
              (if (dev) math.sqrt(variance) else variance) * 1000000 + 0.5).toLong)
          }
        }.toSet

    case other => sys.error(s"ref: unsupported node $other")
  }

  private def shift(rows: Set[R], off: Long): Set[R] =
    if (off == 0) rows
    else rows.map { case (m0, ls, t, v) => (m0, ls, t + off, v) }

  private def kept(joined: String, by: Seq[String], without: Boolean): String = {
    val ls = if (joined.isEmpty) Nil else joined.split(",").toList
    val out =
      if (without) {
        if (by.isEmpty) ls
        else ls.filterNot(l => by.exists(k => l.startsWith(k + "=")))
      }
      else if (by.isEmpty) Nil
      else ls.filter(l => by.exists(k => l.startsWith(k + "=")))
    out.mkString(",")
  }

  private def instantRef(ms: Seq[LabelMatcher], start: Long, end: Long,
                         step: Long): Set[R] = {
    val byS = dedup(ms, start - Lookback + 1, end)
    val mk: Map[(String, List[String]), List[Long]] =
      if (!staleActive) Map.empty
      else staleMarkers
        .filter(s => s.t >= start - Lookback + 1 && s.t <= end &&
          matches(ms, s))
        .groupBy(s => (s.metric, s.labels))
        .map { case (k, ss) => k -> ss.map(_.t).distinct }
    (for {
      t <- grid(start, end, step)
      ((metric, ls), pts) <- byS
      last <- pts.filter(p => p._1 > t - Lookback && p._1 <= t)
        .sortBy(_._1).lastOption
      // the series' latest EVENT decides: a marker strictly AFTER
      // the last sample's second ends the series at this step (a
      // same-second tie breaks to the SAMPLE — the /read rule)
      if !mk.getOrElse((metric, ls), Nil)
        .exists(x => x > t - Lookback && x <= t && x > last._1)
    } yield (metric, ls.mkString(","), t, e6(last._2))).toSet
  }

  /** Prometheus drops `__name__` from every range-vector function's
    * result but last_over_time's and first_over_time's (they answer a
    * sample of the window unchanged). */
  private def unnamed(fn: String, rows: Set[R]): Set[R] =
    if (fn != "last_over_time" && fn != "first_over_time")
      rows.map { case (_, ls, t, v) => ("", ls, t, v) }
    else rows

  private def rangeRef(fn: String, ms: Seq[LabelMatcher], start: Long,
                       end: Long, step: Long, d: Long): Set[R] = {
    val byS = dedup(ms, start - d, end - 1)
    (for {
      t <- grid(start, end, step)
      ((metric, ls), pts) <- byS
      w = pts.filter(p => p._1 >= t - d && p._1 < t)
      if w.nonEmpty
      v <- rangeValue(fn, w)
    } yield (metric, ls.mkString(","), t, v)).toSet
  }

  private def rangeValue(fn: String, w: List[(Long, Double)]): Option[Long] = {
    val vs = w.map(_._2)
    val n = w.size.toLong
    val sumE2 = math.floor(vs.sum * 100 + 0.5).toLong
    fn match {
      case "sum_over_time"   => Some(sumE2 * 10000L)
      case "count_over_time" => Some(n * 1000000L)
      case "avg_over_time"   => Some(halfUp(sumE2 * 10000L, n))
      case "min_over_time"   => Some(e6(vs.min))
      case "max_over_time"   => Some(e6(vs.max))
      case "last_over_time"  => Some(e6(w.maxBy(_._1)._2))
      case "first_over_time" => Some(e6(w.minBy(_._1)._2))
      case "ts_of_first_over_time" => Some(w.minBy(_._1)._1 * 1000000L)
      case "present_over_time" => Some(1000000L)
      // ts_of_*: value ties → latest sample (Prometheus >=/<= scan)
      case "ts_of_last_over_time" => Some(w.maxBy(_._1)._1 * 1000000L)
      case "ts_of_max_over_time" =>
        Some(w.maxBy(p => (p._2, p._1))._1 * 1000000L)
      case "ts_of_min_over_time" =>
        Some(w.maxBy(p => (-p._2, p._1))._1 * 1000000L)
      case "stddev_over_time" | "stdvar_over_time" =>
        // exact integer moments (per-sample e2 snap, associative
        // sums) — the engine's rollup-servable formula
        val e2 = vs.map(x => math.floor(x * 100 + 0.5).toLong)
        val sy = e2.sum
        // BigInt sum: each square fits a Long but the SUM can wrap —
        // mirrors the engine's DECIMAL(38,0) / DuckDB's HUGEINT sum
        val syy = e2.map(x => BigInt(x) * BigInt(x)).sum
        val mom = math.max(
          syy.toDouble / (n * 10000.0d) -
            (sy.toDouble / (n * 100.0d)) * (sy.toDouble / (n * 100.0d)), 0.0d)
        if (fn == "stddev_over_time")
          Some(math.floor(math.sqrt(mom) * 1000000 + 0.5).toLong)
        else Some(math.floor(mom * 1000000 + 0.5).toLong)
      case "rate" =>
        val (tf, vf) = w.minBy(_._1); val (tl, vl) = w.maxBy(_._1)
        val dvE2 = math.floor((vl - vf) * 100 + 0.5).toLong
        if (n >= 2 && tl > tf && dvE2 >= 0)
          Some(halfUp(dvE2 * 10000L, tl - tf))
        else None
      case "increase" =>
        if (n < 2) None
        else {
          val vf = w.minBy(_._1)._2; val vl = w.maxBy(_._1)._2
          Some(math.max(math.floor((vl - vf) * 100 + 0.5).toLong, 0L) * 10000L)
        }
      case "delta" =>
        if (n < 2) None
        else {
          val vf = w.minBy(_._1)._2; val vl = w.maxBy(_._1)._2
          Some(math.floor((vl - vf) * 100 + 0.5).toLong * 10000L)
        }
      case other => sys.error(s"ref: range fn $other unsupported")
    }
  }

  /** changes/resets/irate/idelta: each sample paired with its GLOBAL
    * per-series predecessor, pairs counted/picked per window when the
    * predecessor is itself in-window — pairRange's documented
    * semantics. */
  private def pairRef(fn: String, ms: Seq[LabelMatcher], start: Long,
                      end: Long, step: Long, d: Long): Set[R] = {
    val byS = dedup(ms, Long.MinValue, end - 1) // global lag needs history
    val out = Set.newBuilder[R]
    for {
      t <- grid(start, end, step)
      ((metric, ls), pts) <- byS
    } {
      val paired = pts.zip(None +: pts.map(Some(_)))
        .filter { case ((ts, _), _) => ts >= t - d && ts < t }
      val ok = paired.collect {
        case ((ts, v), Some((pt, pv))) if pt >= t - d => (ts, v, pt, pv)
      }
      fn match {
        case "changes" =>
          if (paired.nonEmpty)
            out += ((metric, ls.mkString(","), t,
              ok.count { case (_, v, _, pv) => v != pv } * 1000000L))
        case "resets" =>
          if (paired.nonEmpty)
            out += ((metric, ls.mkString(","), t,
              ok.count { case (_, v, _, pv) => v < pv } * 1000000L))
        case "irate" | "idelta" =>
          if (ok.nonEmpty) {
            val (lt, lv, pt, pv) = ok.maxBy(_._1)
            val v =
              if (fn == "irate")
                math.floor((if (lv >= pv) lv - pv else lv) /
                  (lt - pt).toDouble * 1000000 + 0.5).toLong
              else math.floor((lv - pv) * 1000000 + 0.5).toLong
            out += ((metric, ls.mkString(","), t, v))
          }
      }
    }
    out.result()
  }

  private def mathRef(fn: String, v: Long, args: Seq[Double]): Option[Long] = fn match {
    case "abs"   => Some(math.abs(v))
    case "floor" => Some(math.floor(v.toDouble / 1000000.0d).toLong * 1000000L)
    case "ceil"  => Some(-(math.floor(-v.toDouble / 1000000.0d).toLong * 1000000L))
    case "sgn"   => Some(if (v > 0) 1000000L else if (v < 0) -1000000L else 0L)
    case "round" =>
      val nn = e6(args.headOption.getOrElse(1.0))
      Some(math.floor(v.toDouble / nn + 0.5d).toLong * nn)
    case "clamp" =>
      Some(math.min(math.max(v, e6(args(0))), e6(args(1))))
    case "clamp_min" => Some(math.max(v, e6(args(0))))
    case "clamp_max" => Some(math.min(v, e6(args(0))))
    case "sqrt" =>
      if (v < 0) None
      else Some(math.floor(math.sqrt(v.toDouble / 1000000.0d) * 1000000 + 0.5).toLong)
    case "ln" | "log2" | "log10" =>
      if (v <= 0) None
      else {
        val scale = fn match {
          case "log2"  => 1000000.0d
          case "ln"    => 693147.1805599453d
          case "log10" => 301029.99566398119d
        }
        Some(math.floor(log2fx(v).toDouble / 16777216.0d * scale + 0.5d).toLong)
      }
    case "exp" => refExp(v)
    case "sin" => Some(math.floor(refSinCos(v)._1 * 1000000 + 0.5).toLong)
    case "cos" => Some(math.floor(refSinCos(v)._2 * 1000000 + 0.5).toLong)
    case "tan" =>
      val (s, c) = refSinCos(v)
      if (c == 0.0d || math.abs(s / c) > 9.0e12d) None
      else Some(math.floor(s / c * 1000000 + 0.5).toLong)
    case "atan" =>
      Some(math.floor(vectAtan(v.toDouble / 1000000.0d) * 1000000 + 0.5).toLong)
    case "asin" | "acos" =>
      if (math.abs(v) > 1000000L) None
      else {
        val t0 = v.toDouble / 1000000.0d
        val as =
          if (t0 == 1.0d) HP
          else if (t0 == -1.0d) -HP
          else vectAtan(t0 / math.sqrt(1.0d - t0 * t0))
        val d = if (fn == "asin") as else HP - as
        Some(math.floor(d * 1000000 + 0.5).toLong)
      }
    case "sinh" | "cosh" =>
      if (math.abs(v) > 29850000L) None
      else {
        val t0 = v.toDouble / 1000000.0d
        val d =
          if (fn == "sinh") (refExpD(t0) - refExpD(-t0)) / 2.0d
          else (refExpD(t0) + refExpD(-t0)) / 2.0d
        Some(math.floor(d * 1000000 + 0.5).toLong)
      }
    case "tanh" =>
      if (v > 20000000L) Some(1000000L)
      else if (v < -20000000L) Some(-1000000L)
      else {
        val t0 = v.toDouble / 1000000.0d
        val ep = refExpD(t0); val en = refExpD(-t0)
        Some(math.floor((ep - en) / (ep + en) * 1000000 + 0.5).toLong)
      }
    case "asinh" =>
      val t0 = v.toDouble / 1000000.0d
      val l = math.floor(
        refLnD(math.abs(t0) + math.sqrt(t0 * t0 + 1.0d)) * 1000000 + 0.5).toLong
      Some(if (v >= 0L) l else -l)
    case "acosh" =>
      if (v < 1000000L) None
      else {
        val t0 = v.toDouble / 1000000.0d
        Some(math.floor(
          refLnD(t0 + math.sqrt(t0 * t0 - 1.0d)) * 1000000 + 0.5).toLong)
      }
    case "atanh" =>
      if (math.abs(v) >= 1000000L) None
      else {
        val t0 = v.toDouble / 1000000.0d
        Some(math.floor(
          refLnD((1.0d + t0) / (1.0d - t0)) * 0.5d * 1000000 + 0.5).toLong)
      }
    case "deg" =>
      Some(math.floor(v.toDouble * 57.29577951308232d + 0.5).toLong)
    case "rad" =>
      Some(math.floor(v.toDouble * 0.017453292519943295d + 0.5).toLong)
    case "hour"   => Some((v / 1000000) % 86400 / 3600 * 1000000L)
    case "minute" => Some((v / 1000000) % 3600 / 60 * 1000000L)
    case "month" =>
      val day = (v / 1000000) / 86400
      Some(java.time.LocalDate.ofEpochDay(day).getMonthValue * 1000000L)
    case other => sys.error(s"ref: math fn $other unsupported")
  }

  private def scalarOp(op: Char, k: Double, v: Long,
                       scalarOnLeft: Boolean): Option[Long] = {
    val kE6 = e6(k)
    (op, scalarOnLeft) match {
      case ('+', _)     => Some(v + kE6)
      case ('-', false) => Some(v - kE6)
      case ('-', true)  => Some(kE6 - v)
      case ('*', _)     => Some(math.floor(v.toDouble * k + 0.5).toLong)
      case ('/', false) => Some(math.floor(v.toDouble / k + 0.5).toLong)
      case ('/', true) =>
        if (v == 0L) None
        else Some(math.floor(k * 1.0e12d / v.toDouble + 0.5).toLong)
      case ('%', false) => Some(v % kE6)
      case ('%', true)  => if (v == 0L) None else Some(kE6 % v)
      case ('A', false) => Some(refAtan2(v, kE6))
      case ('A', true)  => Some(refAtan2(kE6, v))
      case (other, _)   => sys.error(s"ref: scalar op $other unsupported")
    }
  }

  private def refAtan2(yE6: Long, xE6: Long): Long = {
    val y = yE6.toDouble / 1000000.0d; val x = xE6.toDouble / 1000000.0d
    val pi = 3.141592653589793d
    val v =
      if (x > 0.0d) vectAtan(y / x)
      else if (x < 0.0d && y >= 0.0d) vectAtan(y / x) + pi
      else if (x < 0.0d && y < 0.0d) vectAtan(y / x) - pi
      else if (x == 0.0d && y > 0.0d) HP
      else if (x == 0.0d && y < 0.0d) -HP
      else 0.0d
    math.floor(v * 1000000 + 0.5).toLong
  }

  private def vecOp(op: Char, lv: Long, rv: Long): Option[Long] = op match {
    case '+' => Some(lv + rv)
    case '-' => Some(lv - rv)
    case '*' =>
      Some(math.floor(lv.toDouble * rv.toDouble / 1000000.0d + 0.5d).toLong)
    case '/' =>
      if (rv == 0L) None
      else Some(math.floor(lv.toDouble / rv.toDouble * 1000000.0d + 0.5d).toLong)
    case '%' => if (rv == 0L) None else Some(lv % rv)
    case 'A' => Some(refAtan2(lv, rv))
  }

  private def cmpRef(op: String, l: Long, r: Long): Boolean = op match {
    case "==" => l == r
    case "!=" => l != r
    case "<"  => l < r
    case "<=" => l <= r
    case ">"  => l > r
    case ">=" => l >= r
  }

  // ---- the harness ------------------------------------------------

  private lazy val sparkWorld = {
    import spark.implicits._
    world.map(s => (s.t * 1000000L, s.metric, s.labels, s.v))
      .toDF("ts_us", "metric", "labels", "value")
      .cache()
  }

  private lazy val sparkMarkers = {
    import spark.implicits._
    staleMarkers.map(s => (s.t * 1000000L, s.metric, s.labels, s.v))
      .toDF("ts_us", "metric", "labels", "value")
      .cache()
  }

  private def sparkEval(e: Expr, stale: Option[org.apache.spark.sql.DataFrame]): Set[R] =
    PromQL.eval(sparkWorld, e, Start, End, Step, stale = stale)
      .select(coalesce(col("metric"), lit("")),
        array_join(col("labels"), ","), col("t"), col("v_e6"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet

  private def check(q: String): Unit = {
    val e = PromQL.parse(q).fold(
      err => sys.error(s"must parse: $q → $err"), identity)
    val expected = refEval(e)
    val got = sparkEval(e,
      if (staleActive) Some(sparkMarkers) else None)
    assert(got === expected,
      s"DIVERGENCE on: $q\n  spark-only: ${(got -- expected).take(5)}\n" +
        s"  ref-only: ${(expected -- got).take(5)}")
  }

  test("hand-picked expressions agree with the reference interpreter") {
    Seq(
      "m",
      "m offset 60s",
      "sum_over_time(m[120s])",
      "avg_over_time(m[90s] offset 30s)",
      "stddev_over_time(m[120s])",
      "rate(w[180s])",
      "irate(m[120s])",
      "changes(m[180s])",
      "sum by (host) (sum_over_time(m[120s]))",
      "stdvar without (user) (last_over_time(m[60s]))",
      "topk(2, sum by (host) (sum_over_time(m[120s])))",
      "limitk(3, m)",
      "ln(clamp_min(sum by (user) (sum_over_time(m[120s])), 0.25))",
      "exp(m / 40)",
      "sqrt(abs(m))",
      "(m) + (m)",
      "(m) atan2 (w)",
      "m atan2 -2",
      "sum by (host) (m) atan2 sum by (host) (sum_over_time(m[90s]))",
      "sum by (host) (m) / sum by (host) (w)",
      "m > 1.5",
      "m >= bool 2",
      "(m) or (w)",
      "(m) unless (m > 0)",
      "sort_desc(sum by (host) (m))",
      "sin(m) + cos(m)",
      "tan(sum by (host) (sum_over_time(m[120s])))",
      "atan(m) - asin(sin(m))",
      "sinh(atan(w)) + tanh(m)",
      "asinh(sum_over_time(m[90s])) * 2",
      "deg(rad(m))",
      "(sum by (host) (m)) ^ 3",
      "max_over_time(rate(m[90s])[300s:60s])",
      "sum_over_time((m + w)[120s:30s])",
      "rate((sum by (host) (sum_over_time(m[60s])))[240s:60s])",
      "avg_over_time(m[180s:45s] offset 60s)",
      "(sum by (host) (sum_over_time(m[120s]))) ^ 2.5",
      "clamp_min(m, 0.25) ^ -0.5",
      "(0 - clamp_min(m, 1)) ^ 9",
      "round(m, 0.5)",
      "minute(m)",
      "ts_of_max_over_time(m[120s])",
      "ts_of_min_over_time(w[180s] offset 30s)",
      "sum_over_time(m[120s] offset -30s)",
      "m offset -60s",
      "ts_of_last_over_time(m[90s]) - ts_of_min_over_time(m[90s])",
      "max_over_time(rate(m[90s])[300s:60s])",
      "ts_of_max_over_time((m + w)[120s:30s])",
      "histogram_count(h)",
      """histogram_sum(h{host="a"})""",
      "histogram_avg(h)",
      "histogram_stddev(h)",
      """histogram_stdvar(h{host="b"})""",
      "histogram_stddev(h) * 2 + histogram_avg(h)",
      "info(m)",
      """info(w, {os="linux"})""",
      """info(sum by (host, instance) (sum_over_time(m[120s])))""",
      "sum by (dc) (info(m))",
      "rate(w[180s] offset -30s)",
      "sum_over_time(info(m)[180s:60s])"
    ).foreach(check)
  }

  test("staleness differential: composed expressions agree over a marked world") {
    // sanity: the marked world actually suppresses something — the
    // differential would be vacuous if no step ever lost a point
    staleActive = false
    val plain = refEval(PromQL.parse("m").toOption.get)
    staleActive = true
    try {
      val marked = refEval(PromQL.parse("m").toOption.get)
      assert(marked.size < plain.size,
        s"markers must suppress steps: ${plain.size} -> ${marked.size}")
      // every instant LEAF in a composition sees the marked world —
      // suppression flows through aggregation, arithmetic, set ops,
      // ranking, math, and subqueries on both sides
      Seq(
        "m",
        "m offset 60s",
        """m{host!="b"}""",
        "sum by (host) (m)",
        "stdvar without (user) (m)",
        "count(m)",
        "(m) + (w)",
        "(w) - (m)",
        "(m) or (w)",
        "(w) unless (m)",
        "m > -5",
        "abs(m) * 2",
        "topk(2, m)",
        "sort_desc(sum by (host) (m))",
        "ln(clamp_min(m, 0.25))",
        "sum_over_time(m[120s])", // range windows never see markers
        "rate(m[180s])",
        "sum_over_time(m[180s:60s])", // subquery: inner instants DO
        "max_over_time((sum by (host) (m))[240s:60s])",
        "limitk(3, m)"
      ).foreach(check)
    } finally staleActive = false
  }

  test("fuzz: 80 generated expressions agree with the reference interpreter") {
    val rnd = new scala.util.Random(20260814)
    val rangeFns = Seq("sum_over_time", "avg_over_time", "min_over_time",
      "max_over_time", "count_over_time", "last_over_time",
      "present_over_time", "stddev_over_time", "stdvar_over_time",
      "rate", "increase", "delta", "irate", "idelta", "changes", "resets",
      "ts_of_last_over_time", "ts_of_max_over_time", "ts_of_min_over_time",
      "first_over_time", "ts_of_first_over_time")
    val aggs = Seq("sum", "min", "max", "count", "avg", "group",
      "stddev", "stdvar")
    val maths = Seq("abs", "ceil", "floor", "sgn", "sqrt", "ln", "log2",
      "log10", "hour", "minute", "sin", "cos", "tan", "atan", "asin",
      "acos", "tanh", "asinh", "acosh", "atanh", "deg", "rad")
    def sel(): String = Seq("m", "w",
      """m{host="a"}""", """w{user=~"1|2"}""",
      // value-anchored alternation: "1|b" may NOT cross-match the
      // host=b label (^(?:…)$ around the VALUE, like Prometheus —
      // the interpreter's Pattern.matches is full-match by contract)
      """m{user=~"1|b"}""", """w{host=~"a|2"}""",
      """m{host!~"b|1"}""")(rnd.nextInt(7))
    def dur(): String = Seq("45s", "90s", "120s", "180s")(rnd.nextInt(4))
    // per-expression production trace: merged into `covered` only
    // when the expression parses and CHECKS, so the coverage
    // assertion counts verified productions, not mere generation
    var trace = scala.collection.mutable.Set.empty[Int]
    val covered = scala.collection.mutable.Set.empty[Int]
    def gen(depth: Int): String =
      if (depth <= 0) sel()
      else { val c = rnd.nextInt(20); trace += c; c } match {
        case 0 => s"${rangeFns(rnd.nextInt(rangeFns.length))}(${sel()}[${dur()}])"
        case 1 => s"${rangeFns(rnd.nextInt(rangeFns.length))}(${sel()}[${dur()}] offset 60s)"
        case 2 => s"${aggs(rnd.nextInt(aggs.length))} by (host) (${gen(depth - 1)})"
        case 3 => s"${aggs(rnd.nextInt(aggs.length))} without (user) (${gen(depth - 1)})"
        case 4 => s"${maths(rnd.nextInt(maths.length))}(${gen(depth - 1)})"
        case 5 => s"exp((${gen(depth - 1)}) / 25)" // keep exp in range
        case 6 => s"(${gen(depth - 1)}) ${"+-*/%".charAt(rnd.nextInt(5))} ${0.25 * (1 + rnd.nextInt(12))}"
        case 7 => s"${0.25 * (1 + rnd.nextInt(12))} ${"+-*".charAt(rnd.nextInt(3))} (${gen(depth - 1)})"
        case 8 =>
          val op = Seq("+", "-", "atan2")(rnd.nextInt(3))
          s"(${gen(depth - 1)}) $op (${gen(depth - 1)})"
        case 9 => s"${gen(depth - 1)} ${Seq(">", "<", ">=", "<=")(rnd.nextInt(4))} ${rnd.nextInt(4)}"
        case 10 => s"${gen(depth - 1)} ${Seq(">", "<")(rnd.nextInt(2))} bool ${rnd.nextInt(4)}"
        case 11 => s"(${gen(depth - 1)}) ${Seq("and", "or", "unless")(rnd.nextInt(3))} (${gen(depth - 1)})"
        case 12 => s"topk(${1 + rnd.nextInt(3)}, ${gen(depth - 1)})"
        case 13 =>
          // integer fast path AND the round-15 PowFrac productions
          // (fractional, negative, oversized exponents)
          val e = Seq("0", "1", "2", "3", "0.5", "2.5", "-1", "-0.5", "9")(
            rnd.nextInt(9))
          s"(${gen(depth - 1)}) ^ $e"
        case 14 =>
          Seq(s"sort(${gen(depth - 1)})", s"sort_desc(${gen(depth - 1)})",
            s"sort_by_label(${gen(depth - 1)}, \"host\")",
            s"sort_by_label_desc(${gen(depth - 1)}, \"user\")")(rnd.nextInt(4))
        case 15 =>
          val fn = Seq("sum_over_time", "max_over_time", "avg_over_time",
            "last_over_time", "first_over_time", "ts_of_first_over_time",
            "rate", "increase", "delta")(rnd.nextInt(9))
          s"$fn((${gen(depth - 1)})[${Seq("180s", "240s")(rnd.nextInt(2))}:60s])"
        case 16 => // negative offset (Prometheus 3.x default-on)
          s"${rangeFns(rnd.nextInt(rangeFns.length))}(${sel()}[${dur()}] offset -30s)"
        case 17 => // histogram accessors over the classic h triplets
          val fn = Seq("histogram_count", "histogram_sum", "histogram_avg",
            "histogram_stddev", "histogram_stdvar")(rnd.nextInt(5))
          s"$fn(${Seq("h", """h{host="a"}""")(rnd.nextInt(2))})"
        case 18 => // info(): data-label adoption by instance identity
          if (rnd.nextBoolean()) s"info(${sel()})"
          else s"""info(${sel()}, {os="linux"})"""
        case 19 => // quoted UTF-8 selectors + quoted grouping lists
          // (Prometheus 3.x): the dotted world is reachable ONLY
          // through this syntax, so a passing check proves the
          // quoted forms parse AND evaluate identically end to end
          Seq(
            s"""{"my.metric", "a.b"!="y"}""",
            s"""{"my.metric", "a.b"=~"x|y"}""",
            s"""${rangeFns(rnd.nextInt(rangeFns.length))}({"my.metric"}[${dur()}])""",
            s"""sum by ("a.b") ({"my.metric"})""",
            s"""avg without ("a.b", "instance") ({"my.metric"})""",
            s"""max by ("host") (sum_over_time({"my.metric", "a.b"="x"}[${dur()}]))""",
            s"""sort_by_label({"my.metric"}, "a.b")""",
            s"""sort_by_label_desc({"my.metric", "host"!~"c|d"}, "a.b")""")(
            rnd.nextInt(8))
      }
    var checked = 0
    // 80 expressions minimum, then keep drawing (bounded) until every
    // production has been exercised through a full differential check
    while (checked < 80 || (covered.size < 20 && checked < 400)) {
      trace = scala.collection.mutable.Set.empty[Int]
      val q = gen(1 + rnd.nextInt(3))
      if (PromQL.parse(q).isRight) {
        check(q); checked += 1; covered ++= trace
      }
    }
    assert(covered.size == 20,
      s"fuzzer verified only productions ${covered.toSeq.sorted} of 0..19")
  }

  test("hist instant vector fuzz: lookback + stale ties vs a sequential reference") {
    import graft.ingest.{NativeHistogram => NH}
    import spark.implicits._
    // the histogram-vector leg under /api/v1/query's JSON surface:
    // the distributed grid-explode lookback (same-second dup → max
    // unsigned-lex bytes; marker loses a same-second tie to a
    // sample; a winning marker ends the series) against a sequential
    // per-step scan of the same world
    val rnd = new scala.util.Random(424242L)
    val start = T0
    val end = T0 + 300
    val step = 30L
    val lookback = 60L
    def mkHist(tSec: Long): Array[Byte] = {
      val a = 1L + rnd.nextInt(5)
      val b = 1L + rnd.nextInt(5)
      NH.encode(NH.Hist(tSec * 1000L, (a + b).toDouble, rnd.nextInt(8) * 0.5,
        0, 0.0, 0.0, Seq((0, 2)), Seq(a, b - a), Nil, Nil, Nil, Nil))
    }
    val hists = Seq.newBuilder[(Long, String, Seq[String], Array[Byte])]
    val marks = Seq.newBuilder[(Long, String, Seq[String], Double)]
    val sampleTimes = scala.collection.mutable.Map
      .empty[Seq[String], Vector[Long]]
    for (host <- Seq("a", "b", "c")) {
      val labels = Seq(s"host=$host")
      var t = start - lookback - 10 + rnd.nextInt(30)
      while (t < end + 20) {
        val reps = 1 + (if (rnd.nextInt(4) == 0) 1 else 0)
        for (_ <- 0 until reps)
          hists += ((t * 1000000L, "hm", labels, mkHist(t)))
        sampleTimes(labels) = sampleTimes.getOrElse(labels, Vector()) :+ t
        t += 10 + rnd.nextInt(45)
      }
      // markers: two exactly ON sample seconds (sample must win the
      // tie), two strictly between samples (series must END there
      // until the next sample revives it)
      val ts = sampleTimes(labels)
      for (_ <- 0 until 2)
        marks += ((ts(rnd.nextInt(ts.size)) * 1000000L, "hm", labels,
          graft.ingest.PromRemoteCodec.staleNaN))
      for (_ <- 0 until 2) {
        val i = rnd.nextInt(ts.size - 1)
        val mid = ts(i) + 1 + rnd.nextInt(math.max(1, (ts(i + 1) - ts(i) - 1).toInt))
        marks += ((mid * 1000000L, "hm", labels,
          graft.ingest.PromRemoteCodec.staleNaN))
      }
    }
    val histRows = hists.result()
    val markRows = marks.result()
    val hs = histRows.toDF("ts_us", "metric", "labels", "hist")
    val st = markRows.toDF("ts_us", "metric", "labels", "value")
    val e = PromQL.parse("hm").toOption.get
    val got = PromQL.evalHistVec(hs, e, start, end, step, None, Some(st),
        lookbackSec = lookback).get
      .collect()
      .map(r => (r.getSeq[String](1).mkString(","), r.getLong(2),
        r.getAs[Array[Byte]](3).toSeq))
      .toSet
    // sequential reference: per (series, step) scan the raw world
    def lexGt(a: Array[Byte], b: Array[Byte]): Boolean = {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n) {
        val d = (a(i) & 0xff) - (b(i) & 0xff)
        if (d != 0) return d > 0
        i += 1
      }
      a.length > b.length
    }
    val byLabels = histRows.groupBy(_._3)
    val marksBy = markRows.groupBy(_._3)
      .map { case (k, v) => k -> v.map(_._1 / 1000000L).toSet }
    val want = (for {
      (labels, rows) <- byLabels.toSeq
      // same-second dedup: max unsigned-lexicographic bytes (Spark
      // BinaryType's own ordering)
      bySec = rows.groupBy(_._1 / 1000000L).map { case (s, vs) =>
        s -> vs.map(_._4).reduceLeft((x, y) => if (lexGt(x, y)) x else y)
      }
      mk = marksBy.getOrElse(labels, Set.empty)
      t <- start to end by step
      window = (t - lookback + 1) to t
      lastSample = bySec.keys.filter(window.contains).reduceOption(_ max _)
      lastMark = mk.filter(window.contains).reduceOption(_ max _)
      // sample wins a same-second tie; a strictly newer marker ends
      // the series
      if lastSample.isDefined && !lastMark.exists(_ > lastSample.get)
    } yield (labels.mkString(","), t, bySec(lastSample.get).toSeq)).toSet
    assert(got === want,
      s"hist instant mismatch: extra=${got -- want}, missing=${want -- got}")
  }
}
