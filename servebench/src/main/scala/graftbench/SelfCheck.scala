package graftbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.ingest.PromRemoteCodec
import graft.operators.{LabelMatcher, MatcherType, ReadQuery}

/** Tiny-size check of the harness itself (`run.py --selfcheck`):
  *  1. the client codec agrees with graft's codec in both directions;
  *  2. the closed forms agree with brute force over the generator;
  *  3. every workload, untraced and traced, runs at tiny size with no
  *     failure and prints exactly the metrics BENCHMARK.json lists.
  * Exits non-zero on the first broken check. */
object SelfCheck {
  private var checks = 0
  private final class Failed(msg: String) extends RuntimeException(msg)
  private def check(ok: Boolean, what: => String): Unit = {
    checks += 1
    if (!ok) throw new Failed(what)
  }

  def codec(gen: Gen): Unit = {
    val body = gen.body(1, 4, 7, 3)
    val req = PromRemoteCodec.decodeWriteRequest(body)
    val want = gen.ownedBy(1, 4).flatMap(i => (7 until 10).map { j =>
      val t = gen.t0 + j * Gen.Step; (Gen.labels(i), t * 1000, gen.value(i, t)) })
    val got = req.timeseries.flatMap(ts => ts.samples.map(s =>
      (ts.labels.map(l => l.name -> l.value).toMap, s.timestampMs, s.value)))
    check(got.toSet == want.toSet && got.size == want.size, "write body decodes to the generated samples")

    val rr = PromRemoteCodec.decodeReadRequest(Proto.readRequest(1000, 2000, Seq("job" -> "job2"), chunked = true))
    check(rr == Seq(ReadQuery(1000, 2000, Seq(LabelMatcher(MatcherType.Eq, "job", "job2")))),
      s"read request decodes: $rr")
    check(PromRemoteCodec.decodeAcceptedResponseTypes(Proto.readRequest(0, 1, Nil, chunked = true)) == Seq(1),
      "read request asks for streamed chunks")

    val series = Seq(PromRemoteCodec.PromTimeSeries(
      Seq(PromRemoteCodec.PromLabel("__name__", "m"), PromRemoteCodec.PromLabel("a", "b")),
      Seq(PromRemoteCodec.PromSample(1.5, 10), PromRemoteCodec.PromSample(-2.0, 25))))
    val back = Proto.readResponse(PromRemoteCodec.encodeReadResponse(series))
    check(back == Vector(Proto.Series(Map("__name__" -> "m", "a" -> "b"), Vector((10L, 1.5), (25L, -2.0)))),
      s"read response decodes: $back")

    val rnd = new java.util.SplittableRandom(7)
    (1 to 50).foreach { n =>
      var t = rnd.nextLong(1L << 40)
      val ts = Array.fill(n) { t += rnd.nextLong(1, 100000); t }
      val vs = Array.fill(n)(if (rnd.nextBoolean()) rnd.nextInt(1000).toDouble else rnd.nextDouble() * 1e9)
      check(Proto.xorDecode(graft.serve.Gorilla.encode(ts, vs)) == ts.toVector.zip(vs.toVector),
        s"XOR chunk of $n samples decodes")
    }
  }

  def closedForms(gen: Gen): Unit = {
    val t = gen.t0 + 200 * Gen.Step
    val window = (1 to 20).map(j => t - j * Gen.Step) // graft's [t - 5m, t)
    val brute = (0 until Gen.Counters).groupBy(Gen.jobOf).map { case (j, is) =>
      Map("job" -> s"job$j") -> is.map { i =>
        (gen.value(i, window.head) - gen.value(i, window.last)) / (window.head - window.last)
      }.sum
    }
    check(brute == gen.rateSumByJob, "rate closed form")
    (Gen.Counters until Gen.Series).foreach { i =>
      check(gen.avgOverTime(i, t) == window.map(gen.value(i, _)).sum / 20, s"avg_over_time of series $i")
    }
    (0 until 50).foreach { k =>
      val tk = t + k * Gen.Step
      val top = (Gen.Counters until Gen.Series).sortBy(i => -gen.value(i, tk)).take(3)
      check(top.toSet == gen.topGauges(3).toSet, s"topk at step $k")
    }
    check((0 until Gen.Series).map(Gen.labels).toSet.size == Gen.Series, "label sets are distinct")
  }

  def main(argv: Array[String]): Unit =
    try { run(Bench.parse(argv.toList)); println(s"selfcheck: $checks checks passed") }
    catch { case e: Failed => System.err.println(s"SELFCHECK FAILED: ${e.getMessage}"); sys.exit(1) }

  private def run(a: Bench.Args): Unit = {
    val gen = new Gen(42)
    codec(gen)
    closedForms(gen)
    val spec = new ObjectMapper().readTree(new File("BENCHMARK.json"))
    def names(key: String) = spec.path(key).elements.asScala.map(_.path("name").asText).toSet
    val dir = new File(a.workDir, s"selfcheck-${ProcessHandle.current.pid}")
    Bench.deleteTree(dir); dir.mkdirs()
    val spark = Bench.session(a, dir)
    try {
      for (w <- Bench.Workloads; trace <- Seq(false, true)) {
        val args = a.copy(workload = w, seconds = 3, trace = trace, tiny = true, setups = 1)
        val runDir = new File(dir, s"$w-$trace"); runDir.mkdirs()
        val (report, result, ok) = new Run(spark, args, runDir, 1.0).execute()
        val r = new ObjectMapper().readTree(result)
        check(ok && r.path("correct").asBoolean && r.path("failed").asLong == 0 && r.path("attempted").asLong > 0,
          s"$w trace=$trace runs without failure: $report")
        val got = r.path("metrics").fieldNames.asScala.toSet
        val want = names(if (trace) "per_layer" else "end_to_end")
        check(got == want, s"$w trace=$trace metrics ${got.diff(want)} / ${want.diff(got)}")
        if (!trace) check(r.path("metrics").elements.asScala.forall(_.path("value").asDouble > 0),
          s"$w end-to-end metrics are all positive: $result")
      }
    } finally { spark.stop(); Bench.deleteTree(dir) }
  }
}
