package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** Soft per-query warm budgets (sec, sf0.1) for the queries that
    * have regressed before — a best-warm over budget lands in the
    * JSON's "slow" array so the driver's next bench flags a
    * re-regression. */
  val Budgets: Map[String, Double] = Map(
    "dedup_ngram_jaccard" -> 8.0,
    "dedup_minhash_lsh" -> 6.0,
    "dedup_simhash" -> 6.0,
    "dedup_embedding" -> 4.0,
    // the two honestly-IO-heavy queries, budgeted at ~2× their healthy
    // r8 warm times so a silent regression (e.g. a lost batching or a
    // double store rewrite) flags instead of hiding in the total
    "write_request_e2e" -> 5.0,
    "store_compact" -> 4.0,
    // the remaining top-cost queries (r10 warm ranking): the store
    // maintenance rewrite and the streaming trio are the paths most
    // likely to regress silently from a locking or checkpoint change,
    // budgeted at ~2× their healthy r10 warm times
    "store_compact_days" -> 4.0,
    "ingest_streaming_store" -> 3.0,
    "ingest_streaming_window" -> 2.5,
    "ingest_streaming" -> 2.5,
    "ingest_streaming_dedup" -> 2.5,
    "ingest_delete_range" -> 3.0,
    // write + append + compact + pinned-generation read-back; tracks
    // store_compact_days' cost shape plus one extra store write
    "store_time_travel" -> 5.0,
    // store write + rollup build (+ append + incremental re-roll)
    "store_rollup" -> 5.0,
    "store_rollup_incremental" -> 6.0,
    // the serve family reads a PAY-ONCE shared fixture now — healthy
    // warm times are the serving read alone (~0.3-0.7 s); a budget
    // breach means either the serve plan regressed or the fixture
    // cache broke and every run re-pays the build
    "store_rollup_serve" -> 2.0,
    "store_rollup_serve_unaligned" -> 2.0,
    "store_rollup_serve_sum" -> 2.0,
    "store_rollup_serve_stdvar" -> 2.0,
    "store_rollup_serve_rate" -> 2.0,
    "store_rollup_serve_irate" -> 2.0,
    // trained-merge-table reuse: vocab/count no longer re-train
    "tokenizer_train_bpe" -> 4.0,
    "tokenizer_vocab_bpe" -> 8.0,
    "tokenize_bpe_count" -> 3.0,
    // round-13 additions worth watching: the recording rule pays a
    // full store write + evaluation + append per entry; the histogram
    // estimator pays a 4-way bucket expansion + window + join.
    // Budgeted at ~2x their healthy warm times.
    "rule_record" -> 4.0,
    "promql_histogram" -> 2.5)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus.toInt)
    // Neutral warm-up: plain counts over the raw inputs touch the JVM,
    // codegen, and parquet footers without favoring any query's plan.
    try {
      Seq("events", "documents", "embeddings", "lineitem", "orders")
        .foreach(t => spark.read.parquet(s"$sfDir/$t.parquet").count())
    } catch { case _: Throwable => () }
    // Each query runs 1 cold + 3 warm; the headline is the MINIMUM of
    // the warm runs ("methodology":"min3warmIlv"). Why min, not
    // median: r5/r6 driver-side benches showed 4-10× slowdowns on
    // CONTIGUOUS ALPHABETICAL BLOCKS of queries (a different block
    // each round) that no isolated rerun of the same binary could
    // reproduce — bursty external load on the bench box, not code.
    // Why INTERLEAVED warm passes (3 full passes over all queries,
    // not 3 back-to-back repeats per query): r7's burst outlasted the
    // 3 consecutive repeats of a whole block (rel_q1_agg 7.0 s,
    // text_fingerprint 9.3 s min-of-3 for single-scan queries that
    // run in <0.6 s in isolation), so even the min was contaminated.
    // With passes, a burst hits each query at most once per pass, and
    // the min survives any burst shorter than one full pass (~60 s).
    // The median-of-3 total and the cold total are still emitted
    // ("total_median3"/"total_cold") so every previous round's number
    // stays comparable. The SQL cache is cleared before every run so
    // operator-internal persists (dedup's shared signature pass) are
    // paid inside each timed run, never carried across runs. A failed
    // run reports in "errors" instead of masquerading as fast.
    def time(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Boolean) = {
      spark.sqlContext.clearCache()
      // localCheckpoint blocks (kmeans/components/BPE iterative
      // loops, stream-dedup fixtures) are INVISIBLE to clearCache —
      // they are raw persisted RDDs, reclaimed only when a JVM GC
      // lets ContextCleaner notice the dropped references. On this
      // heap a full GC is rare, so blocks piled up across the
      // ~200-query suite and the resulting eviction/spill pressure
      // landed on whichever queries ran late in a pass — the r17
      // "bimodal" band on untouched paths. Drop them
      // deterministically before every timed run instead.
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true } catch { case _: Throwable => false }
      ((System.nanoTime() - t0) / 1e9, ok)
    }
    // Local-iteration filter: SPARK_GRAFT_ONLY=q1,q2 runs a subset.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // a full GC at pass boundaries drains soft references and lets
    // codegen classloaders unload — between passes, never inside a
    // timed run, so collection work is not attributed to a random
    // query mid-pass
    val colds = selected.map { case (name, fn) => name -> time(fn) }.toMap
    val warmPasses = Seq.fill(3) {
      System.gc()
      selected.map { case (name, fn) => name -> time(fn) }.toMap
    }
    val results = selected.map { case (name, _) =>
      val (cold, okCold) = colds(name)
      val warms = warmPasses.map(_(name))
      val ws = warms.map(_._1).sorted
      (name, ws(1), ws.head, cold, okCold && warms.forall(_._2))
    }
    def ms(v: Double): String = (math.rint(v * 1000) / 1000).toString
    // Per-query COLD and median-warm times go to stderr only: keeping
    // the stdout JSON line short (one map, 3-decimal values) is what
    // lets the driver's bounded tail buffer capture the whole line
    // (r3's two-map line overflowed it and lost the headline number).
    System.err.println(results.map { case (k, med, _, c, _) => s"$k=$c/med=${ms(med)}" }
      .mkString("[bench cold/medwarm] ", " ", ""))
    val qs = results.map { case (k, _, mn, _, _) => s"\"$k\":${ms(mn)}" }.mkString("{", ",", "}")
    val errs = results.collect { case (k, _, _, _, false) => s"\"$k\"" }.mkString("[", ",", "]")
    val slow = results.collect {
      case (k, _, mn, _, _) if Budgets.get(k).exists(mn > _) => s"\"$k\""
    }.mkString("[", ",", "]")
    // Bimodality flag: a median far above the min means 2 of 3 warm
    // passes were slow — either a genuine sometimes-slow plan (GC /
    // spill) or a long contention burst; either way worth eyes.
    val bimodal = results.collect {
      case (k, med, mn, _, _) if med > math.max(2 * mn, mn + 1.0) => s"\"$k\""
    }.mkString("[", ",", "]")
    val total = math.rint(results.map(_._3).sum * 1000) / 1000
    val totalMed = math.rint(results.map(_._2).sum * 1000) / 1000
    val totalCold = math.rint(results.map(_._4).sum * 1000) / 1000
    val json = s"""{"metric":"total","value":$total,"unit":"sec","methodology":"min3warmIlv","cpus":$cpus,"queries":$qs,"total_median3":$totalMed,"total_cold":$totalCold,"slow":$slow,"bimodal":$bimodal,"errors":$errs,"sf":"$sfDir"}"""
    println(json)
    // The driver captures stdout through a BOUNDED tail buffer: with
    // 160+ queries the one-line JSON overflows it and the first ~90
    // query timings are lost to round-over-round comparison. Persist
    // the complete JSON beside the build too (cwd = repo root under
    // sbt runMain), where it ships whole with the round commit —
    // but ONLY on unfiltered sf0.1 runs (the per-round reference
    // shape): a SPARK_GRAFT_ONLY iteration or a smaller-SF smoke
    // must never clobber the committed full-suite numbers, and a
    // non-32-core scaling run (the driver re-runs the bench at
    // SPARK_GRAFT_CPUS=8) lands in its own suffixed file so the
    // 32-core reference survives in the working tree (r21 lost its
    // committed reference to exactly that clobber).
    if (sys.env.get("SPARK_GRAFT_ONLY").isEmpty &&
        new java.io.File(sfDir).getName == "sf0.1") {
      val out = if (cpus == "32") "BENCH_FULL.json" else s"BENCH_FULL_c$cpus.json"
      try {
        val w = new java.io.PrintWriter(out, "UTF-8")
        try w.println(json) finally w.close()
      } catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $out: $e") }
    }
    spark.stop()
  }
}
