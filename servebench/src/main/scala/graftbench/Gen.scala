package graftbench

/** Seeded generator of Prometheus-shaped series whose query answers
  * have closed forms.
  *
  * 200 counters `bench_http_requests_total{job,instance,code}` grow by
  * a constant per-series slope (whole units per second), so every
  * rate() over a window the data covers is exactly that slope. 200
  * gauges `bench_memory_bytes{job,instance}` follow a sawtooth
  * `a + b * (scrape index mod 23)` with levels spaced far enough apart
  * that topk never ties. Scrapes land every 15 s from `t0`. All sample
  * values are whole numbers, so sums are exact in doubles.
  */
final class Gen(seed: Long) {
  import Gen._

  private val rnd = new java.util.SplittableRandom(seed)

  /** First scrape (epoch seconds): a seeded 15 s-aligned instant in
    * one day, at least six hours before its midnight. */
  val t0: Long = BaseDay + rnd.nextInt(0, 18 * 240) * Step

  val counterSlope: Array[Long] = Array.fill(Counters)(rnd.nextInt(1, 9).toLong)
  val counterBase: Array[Long] = Array.fill(Counters)(rnd.nextInt(1000, 100000).toLong)
  /** Distinct gauge levels: a seeded permutation of 0..199 spaced by 10^4. */
  val gaugeLevel: Array[Long] = {
    val p = (0 until Gauges).toArray
    var i = p.length - 1
    while (i > 0) { val j = rnd.nextInt(i + 1); val t = p(i); p(i) = p(j); p(j) = t; i -= 1 }
    p.map(k => 1000000L + k * 10000L)
  }
  val gaugeAmp: Array[Long] = Array.fill(Gauges)(rnd.nextInt(1, 101).toLong)

  /** Value of series `i` at scrape time `t` (epoch s). */
  def value(i: Int, t: Long): Double = {
    val k = (t - t0) / Step
    if (i < Counters) (counterBase(i) + counterSlope(i) * (t - t0)).toDouble
    else {
      val g = i - Counters
      (gaugeLevel(g) + gaugeAmp(g) * Math.floorMod(k, SawPeriod.toLong)).toDouble
    }
  }

  /** Body `b` of shard `shard` (of `shards`), starting at scrape
    * `firstScrape`: every series the shard owns, at `scrapes` scrapes. */
  def body(shard: Int, shards: Int, firstScrape: Long, scrapes: Int): Array[Byte] =
    Proto.writeRequest(ownedBy(shard, shards).map { i =>
      Proto.Series(labels(i), (0 until scrapes).toVector.map { j =>
        val t = t0 + (firstScrape + j) * Step
        (t * 1000L, value(i, t))
      })
    })

  def ownedBy(shard: Int, shards: Int): Vector[Int] =
    (0 until Series).filter(_ % shards == shard).toVector

  // ---- closed-form answers -------------------------------------------

  /** `sum by (job) (rate(bench_http_requests_total[5m]))`: the sum of
    * the job's counter slopes at every step (graft's rate is the
    * observed-span slope, exact for a linear counter). */
  def rateSumByJob: Map[Map[String, String], Double] =
    (0 until Counters).groupBy(jobOf).map { case (j, is) =>
      Map("job" -> s"job$j") -> is.map(counterSlope(_)).sum.toDouble
    }

  /** `topk(3, bench_memory_bytes)`: the three highest gauge levels. */
  def topGauges(k: Int): Vector[Int] =
    (0 until Gauges).sortBy(g => -gaugeLevel(g)).take(k).map(_ + Counters).toVector

  /** `avg_over_time(bench_memory_bytes{...}[5m])` of gauge series `i`
    * at `t`: the mean of the 20 scrapes in graft's window [t - 5m, t)
    * (documented in graft.serve.PromQL: range windows are left-closed). */
  def avgOverTime(i: Int, t: Long): Double = {
    val ts = (1 to 20).map(j => t - j * Step)
    ts.map(value(i, _)).sum / ts.size
  }
}

object Gen {
  val Step = 15L
  val Counters = 200
  val Gauges = 200
  val Series: Int = Counters + Gauges
  val Jobs = 4
  val SawPeriod = 23
  /** 2023-11-14 00:00:00 UTC. */
  val BaseDay = 1699920000L

  val CounterName = "bench_http_requests_total"
  val GaugeName = "bench_memory_bytes"

  def jobOf(i: Int): Int = i % Jobs

  def labels(i: Int): Map[String, String] =
    if (i < Counters) Map("__name__" -> CounterName, "job" -> s"job${jobOf(i)}",
      "instance" -> s"inst${i / 8}", "code" -> (if ((i / 4) % 2 == 0) "200" else "500"))
    else Map("__name__" -> GaugeName, "job" -> s"job${jobOf(i)}",
      "instance" -> s"inst${(i - Counters) / 4}")
}
