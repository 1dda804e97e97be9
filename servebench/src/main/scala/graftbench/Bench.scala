package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** Serving-path benchmark: graft's HttpServe on loopback in this JVM,
  * loaded by JDK HttpClient threads, every response checked against
  * the generator's closed forms.
  *
  *   --workload ingest|dashboard|mixed --seed N --seconds S --trace 0|1
  *   --workdir DIR [--commit SHA]
  *
  * The last stdout line is the result JSON; the line before it
  * (`REPORT {...}`) carries every metric with its unit and sample
  * count, the run's context and each failure with its cause. */
object Bench {
  final case class Args(workload: String = "", seed: Long = 1L, seconds: Int = 10, trace: Boolean = false,
                        workDir: String = ".bench_build/work", cores: Int = Runtime.getRuntime.availableProcessors,
                        tiny: Boolean = false, commit: String = "unknown", setups: Int = 3)

  def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case "--workload" :: v :: t => parse(t, a.copy(workload = v))
    case "--seed" :: v :: t => parse(t, a.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, a.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, a.copy(trace = v == "1"))
    case "--workdir" :: v :: t => parse(t, a.copy(workDir = v))
    case "--commit" :: v :: t => parse(t, a.copy(commit = v))
    case Nil => a
    case x :: _ => throw new IllegalArgumentException(s"unknown argument $x")
  }

  val Workloads = Seq("ingest", "dashboard", "mixed")

  def session(a: Args, dir: File): SparkSession = {
    val s = SparkSession.builder().master(s"local[${a.cores}]").appName("graft-servebench")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.maxFields", "200")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(dir, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(dir, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    require(Workloads.contains(a.workload), s"--workload must be one of ${Workloads.mkString(", ")}")
    val dir = new File(a.workDir, s"${a.workload}-${a.seed}-${ProcessHandle.current.pid}")
    deleteTree(dir); dir.mkdirs()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(a, dir)
    val sparkReadyS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val (report, result, ok) =
      try new Run(spark, a, dir, sparkReadyS).execute()
      finally { spark.stop(); deleteTree(dir) }
    println("REPORT " + report)
    println(result)
    System.out.flush()
    sys.exit(if (ok) 0 else 1)
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete(); ()
  }

  // ---- small statistics ------------------------------------------------

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted.toArray
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  def json(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else BigDecimal(d).bigDecimal.toPlainString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(json).mkString("[", ",", "]")
    case None => "null"
    case Some(x) => json(x)
    case x => json(x.toString)
  }
}

