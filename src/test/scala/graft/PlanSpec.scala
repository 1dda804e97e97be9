package graft

import org.apache.spark.sql.functions._

import graft.ingest.SamplesStore
import graft.operators.{Matchers, ReadQuery, SeriesRead}
import graft.sources.Tables

/** Physical-plan assertions (SURVEY §5.8): predicates reach the
  * parquet scan, day partitions prune, no plan degenerates into a
  * cartesian product, and the ANN joins broadcast their small side.
  * These are the properties that decide whether the same plans
  * survive a 100 TB input, so they gate `sbt test` like any
  * correctness spec. */
class PlanSpec extends SparkSpecBase {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("store reads push metric/time filters and prune day partitions") {
    val path = "/tmp/graft_test/plan_store"
    SamplesStore.write(Tables.samples(spark, Sf), path)
    val read = SamplesStore.read(spark, path)
      .filter(col("metric") === "view" &&
              col("ts_us") >= 1704412800000000L &&
              col("date") === 1704412800L)
    val p = plan(read)
    assert(p.contains("PushedFilters:"), p)
    assert(p.contains("EqualTo(metric,view)"), s"metric filter not pushed:\n$p")
    assert(p.contains("GreaterThanOrEqual(ts_us,"), s"time filter not pushed:\n$p")
    assert(p.contains("PartitionFilters:") && p.contains("(date"),
      s"day partition not pruned:\n$p")
    // the store's pruned read returns exactly the filtered rows
    val expected = Tables.samples(spark, Sf)
      .filter(col("metric") === "view" &&
              col("ts_us") >= 1704412800000000L &&
              expr("ts_us DIV 1000000 DIV 86400 * 86400") === 1704412800L)
      .count()
    assert(read.count() == expected)
  }

  test("rollup-served reads prune day partitions and push bucket bounds") {
    import graft.ingest.RollupStore
    val path = "/tmp/graft_test/plan_rollup_src"
    val rpath = "/tmp/graft_test/plan_rollup"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    fs.delete(new org.apache.hadoop.fs.Path(rpath), true)
    SamplesStore.write(Tables.samples(spark, Sf), path)
    RollupStore.rollup(spark, path, rpath)
    val q = graft.operators.ReadQuery(1704499200000L, 1704585599000L,
      Seq(graft.operators.Matchers.eq("__name__", "click")), stepMs = 7200000L)
    val p = plan(RollupStore.selectKeyed(RollupStore.read(spark, rpath), q, 3600L))
    assert(p.contains("PartitionFilters:") && p.contains("(date"),
      s"rollup read does not prune day partitions:\n$p")
    assert(p.contains("GreaterThanOrEqual(bucket,"), s"bucket bound not pushed:\n$p")
    // the scan's PushedFilters list truncates in toString; the
    // compiled matcher is visible in the data filter either way
    assert(p.contains("= click)"), s"metric matcher not compiled into the scan filter:\n$p")
  }

  test("the SERVING read path pushes its time bounds and prunes day partitions") {
    val path = "/tmp/graft_test/plan_serve_read"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    SamplesStore.write(Tables.samples(spark, Sf), path)
    // the exact shape /read executes: SeriesRead over the store, one
    // day's window. At 100 TB this is the difference between listing
    // one day partition and opening every file of a multi-year store.
    val q = ReadQuery(1704499200000L, 1704585599000L,
      Seq(Matchers.eq("__name__", "click")))
    val p = plan(SeriesRead.selectKeyed(SamplesStore.read(spark, path), q))
    assert(p.contains("GreaterThanOrEqual(ts_us,1704499200000000)"),
      s"start bound not pushed to the scan:\n$p")
    assert(p.contains("LessThan(ts_us,"), s"end bound not pushed to the scan:\n$p")
    assert(p.contains("PartitionFilters:") && p.contains("(date"),
      s"time bounds must prune day partitions:\n$p")
    // and the bounds are EXACTLY the reference's second-resolution
    // semantics: same rows as the DIV-form filter
    val expected = SamplesStore.read(spark, path)
      .filter(expr("ts_us DIV 1000000") >= 1704499200L &&
              expr("ts_us DIV 1000000") <= 1704585599L &&
              col("metric") === "click").count()
    assert(SeriesRead.selectKeyed(SamplesStore.read(spark, path), q)
      .agg(sum("max_value")).count() >= 0) // force analysis
    assert(SeriesRead.timeBound(SamplesStore.read(spark, path),
      1704499200000L, 1704585599000L).filter(col("metric") === "click")
      .count() == expected)
  }

  test("the unaligned rollup split plans a pruned rollup interior plus bounded raw edges") {
    import graft.ingest.RollupStore
    import graft.serve.RemoteRead
    val path = "/tmp/graft_test/plan_split_src"
    val rpath = "/tmp/graft_test/plan_split_roll"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    fs.delete(new org.apache.hadoop.fs.Path(rpath), true)
    SamplesStore.write(Tables.samples(spark, Sf), path)
    RollupStore.rollup(spark, path, rpath)
    val q = ReadQuery(1704499200000L + 900000L, 1704585599000L - 900000L,
      Seq(Matchers.eq("__name__", "click")), stepMs = 7200000L)
    val sel = RemoteRead.rollupSelect(
      RollupStore.Ladder(path, rpath, 3600L), q,
      SamplesStore.read(spark, path))
      .getOrElse(fail("the unaligned window must route"))
    val p = plan(sel)
    assert(p.contains("Union"), s"expected interior+edges union:\n$p")
    // every scan in the union prunes its day partitions — the rollup
    // interior AND both raw edges
    val scanLines = p.linesIterator.filter(_.contains("Scan parquet")).toSeq
    assert(scanLines.size == 3, s"expected rollup + two edge scans:\n$p")
    scanLines.foreach { l =>
      assert(l.contains("PartitionFilters: [") && !l.contains("PartitionFilters: []"),
        s"a split scan does not prune day partitions:\n$l")
    }
  }

  test("PromQL evaluation pushes time bounds to the scan and prunes day partitions") {
    val path = "/tmp/graft_test/plan_promql"
    SamplesStore.write(Tables.samples(spark, Sf), path)
    val e = graft.serve.PromQL.parse("rate(click[30m])")
      .getOrElse(sys.error("must parse"))
    val df = graft.serve.PromQL.eval(SamplesStore.read(spark, path), e,
      1704499200L, 1704585600L, 900L)
    val p = plan(df)
    assert(p.contains("PushedFilters:"), p)
    assert(p.contains("GreaterThanOrEqual(ts_us,"), s"time bound not pushed:\n$p")
    assert(p.contains("PartitionFilters:") && p.contains("(date"),
      s"PromQL query does not prune day partitions:\n$p")
    // the selector's metric equality reaches the scan (pushed or as a
    // codegen'd scan filter — never a post-shuffle filter)
    assert(p.contains("EqualTo(metric,click)") || p.contains("= click)"),
      s"metric matcher not at the scan:\n$p")
    // one scan, no joins anywhere in the evaluator tree
    assert(!p.contains("Join"), s"PromQL plan must be join-free:\n$p")
  }

  /** The sf0.001 samples written as a store at `path`, with padding
    * that pushes the snapshot above Width.QueryTarget when `pad`. */
  private def dedupStore(path: String, pad: Boolean): String = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val rows = Tables.samples(spark, Sf)
    SamplesStore.write(if (pad) padded(rows, 1704499200L) else rows, path)
    path
  }

  private def executed(df: org.apache.spark.sql.DataFrame) = df.queryExecution.executedPlan match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
    case other => other
  }

  private val dedupQuery =
    ReadQuery(1704499200000L, 1704585599000L, Seq(Matchers.eq("__name__", "click")))
  private def rateClick(samples: org.apache.spark.sql.DataFrame) = graft.serve.PromQL.eval(
    samples, graft.serve.PromQL.parse("rate(click[5m])").getOrElse(sys.error("must parse")),
    1704499200L, 1704585600L, 900L)

  test("series-keyed dedup: /read and rate() plan ONE (metric, labels) exchange below the dedup aggregate") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.catalog.clearCache()
    // above Width.QueryTarget: a one-partition open would plan none
    val path = dedupStore("/tmp/graft_test/plan_dedup_kernel", pad = true)
    def exchangeKeys(df: org.apache.spark.sql.DataFrame, what: String): Seq[Seq[String]] = {
      val p = executed(df)
      // the per-(series, t_sec) max — the dedup kernel's aggregate
      val dedup = p.collect {
        case a: HashAggregateExec
            if a.groupingExpressions.map(_.name) == Seq("metric", "labels", "t_sec") &&
               a.aggregateExpressions.exists(_.aggregateFunction.prettyName == "max") => a
      }
      assert(dedup.nonEmpty, s"$what: no dedup aggregate in\n$p")
      dedup.head.collect { case e: ShuffleExchangeExec => e.outputPartitioning }.map {
        case h: HashPartitioning => h.expressions.map(_.sql)
        case other => Seq(other.toString)
      }
    }
    val read = SeriesRead.assemble(SeriesRead.selectKeyed(SamplesStore.read(spark, path), dedupQuery))
    assert(exchangeKeys(read, "/read") == Seq(Seq("metric", "labels")))
    assert(exchangeKeys(rateClick(SamplesStore.read(spark, path)), "rate(click[5m])") ==
      Seq(Seq("metric", "labels")))
  }

  test("one-partition read: below QueryTarget /read and rate() plan no exchange at all") {
    import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.catalog.clearCache()
    val path = dedupStore("/tmp/graft_test/plan_dedup_small", pad = false)
    val samples = SamplesStore.read(spark, path)
    assert(SeriesRead.onePartition(samples))
    for ((what, df) <- Seq(
        "/read" -> SeriesRead.assemble(SeriesRead.selectKeyed(samples, dedupQuery)),
        "rate(click[5m])" -> rateClick(samples))) {
      val p = executed(df)
      assert(p.collect { case e: ShuffleExchangeExec => e }.isEmpty, s"$what:\n$p")
      assert(p.collect { case c: CoalesceExec if c.numPartitions == 1 => c }.size == 1,
        s"$what: one scan coalesced to one partition\n$p")
      // the metric filter and day pruning still reach the scan
      val scans = p.collect { case f: FileSourceScanExec => f }
      assert(scans.size == 1 && scans.head.dataFilters.exists(_.sql.contains("'click'")) &&
        scans.head.partitionFilters.nonEmpty, s"$what:\n$p")
    }
  }

  test("read path scans only the columns it needs") {
    // other suites cache the samples view; drop caches so the
    // assertions see the parquet scan, not an InMemoryTableScan
    spark.catalog.clearCache()
    val q = SeriesRead.select(Tables.samples(spark, Sf),
      ReadQuery(1704412800000L, 1705708800000L, Seq(Matchers.eq("__name__", "view"))))
    val p = plan(q)
    // the events scan must not read event_id (pruned by the projection)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("event_id"), s"column not pruned:\n$readSchema")
    // metric equality pushes down through the event_type alias
    assert(p.contains("EqualTo(event_type,view)"), s"metric filter not pushed:\n$p")
  }

  test("LSH band self-joins shuffle ids only — no signature arrays ride the join") {
    spark.catalog.clearCache()
    for (df <- Seq(graft.llm.Dedup.minhashLsh(Tables.documents(spark, Sf)),
                   graft.llm.Dedup.ngramJaccard(Tables.documents(spark, Sf), 0.8),
                   graft.llm.Similarity.nearDupPairs(Tables.embeddings(spark, Sf), 4, 6, 0.4))) {
      val bandJoins = df.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
            if j.condition.exists(_.references.exists(_.name == "band")) => j
      }
      assert(bandJoins.nonEmpty, "expected a band self-join in the plan")
      bandJoins.foreach { j =>
        val outs = (j.left.output ++ j.right.output).map(_.name)
        assert(!outs.exists(n => n == "sig" || n == "shs" || n == "vec" || n == "nrm"),
          s"band join input carries per-doc arrays: $outs")
      }
    }
  }

  test("bucketed fact-fact join plans no exchange on the join keys") {
    val df = graft.operators.Relational.returnedByPriorityBucketed(
      spark, Sf, "/tmp/graft_test/bucketed_wh")
    val p = plan(df)
    assert(p.contains("SortMergeJoin"), s"expected a sort-merge join:\n$p")
    assert(!p.contains("hashpartitioning(o_orderkey") &&
           !p.contains("hashpartitioning(l_orderkey"),
      s"bucketed join still shuffles on the join key:\n$p")
    // the layout must not change the result
    val plain = graft.operators.Relational.returnedByPriority(spark, Sf)
    assert(df.exceptAll(plain).count() == 0 && plain.exceptAll(df).count() == 0)
  }

  test("deterministic sampling ops plan zero exchanges") {
    spark.catalog.clearCache()
    val docs = Tables.documents(spark, Sf)
    for ((name, df) <- Seq(
        "withSplit" -> graft.llm.Sampling.withSplit(docs, "doc_id"),
        "sampleByKey" -> graft.llm.Sampling.sampleByKey(docs, "doc_id", "s1", 100),
        "sampleMixture" -> graft.llm.Sampling.sampleMixture(docs, "source",
          "doc_id", "mix", Map("src0" -> 1000, "src1" -> 500), 100),
        "quantizeInt8" -> graft.llm.Similarity.quantizeInt8(
          Tables.embeddings(spark, Sf)))) {
      val p = plan(df)
      assert(!p.contains("Exchange"),
        s"$name must be a narrow per-row plan, found a shuffle:\n$p")
    }
  }

  test("url dedup: one per-row expression, one exchange, no text shuffled") {
    spark.catalog.clearCache()
    val docs = Tables.documents(spark, Sf)
      .select(col("doc_id"),
        concat(lit("https://h"), (col("doc_id") % 10).cast("string"),
          lit(".com/p?a=1&utm_source=x")).as("url"))
    val p = plan(graft.llm.Dedup.urlDedup(docs))
    // the canonicalization is pure per-row codegen over the scan;
    // the ONLY exchange is the canonical-key hash aggregate (AQE
    // wraps it, so count the Exchange nodes, not plan shape)
    assert("Exchange".r.findAllIn(p).size === 1,
      s"urlDedup must cost exactly one exchange:\n$p")
    assert(!p.contains("ScalaUDF") && !p.contains("CartesianProduct"), p)
  }

  test("span scrub: the corpus side broadcasts its joins in the Zipf-head regime") {
    spark.catalog.clearCache()
    val df = graft.llm.Dedup.scrubRepeatedSpans(Tables.documents(spark, Sf))
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    // with a small frequent set (every real corpus's Zipf head) both
    // membership joins broadcast, so the chunked corpus rows — the
    // only side carrying text — never shuffle: the plan's exchanges
    // are the hash-count and the (tiny) removed-position aggregate
    assert(!p.contains("SortMergeJoin"),
      s"membership joins must broadcast at this scale, not sort-merge:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$p")
  }

  test("corpus-prep pipeline composes on one scan with exactly one shuffle") {
    spark.catalog.clearCache()
    val df = graft.llm.CorpusPrep.prepare(Tables.documents(spark, Sf))
    val p = plan(df)
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"pipeline must read the corpus once, found $scans scans:\n$p")
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 1,
      s"pipeline must shuffle exactly once (the dedup window), found $exchanges:\n$p")
    // and that shuffle carries the gated rows into the dedup window
    assert(p.contains("Window"), s"expected the dedup window:\n$p")
  }

  test("web-prep pipeline: skew-safe url stage — ids-only aggregate, no url-keyed window") {
    spark.catalog.clearCache()
    val docs = Tables.documents(spark, Sf).withColumn("url",
      concat(lit("https://h"), (col("doc_id") % 7).cast("string"),
        lit(".com/p?a=1")))
    val df = graft.llm.CorpusPrep.webPrep(docs)
    val p = plan(df)
    // the url keep decision is an ids-only aggregate re-attached by a
    // doc_id-keyed semi join: no canonical_url-partitioned window may
    // appear (a hot alias class would land its full-text copies in
    // ONE window task), and the only Window left is the text dedup's
    assert(!p.contains("windowspecdefinition(canonical_url"),
      s"url stage must not window by canonical_url (skew hazard):\n$p")
    val windows = p.linesIterator.count(_.contains("Window [min"))
    assert(windows == 1, s"expected only the text-dedup window, found $windows:\n$p")
    assert(p.contains("LeftSemi"), s"expected the keep-id semi join:\n$p")
    // the keep-id leg re-derives (url, doc_id) from its own pruned
    // scan — two corpus scans total, and the aggregate's exchange
    // carries skinny rows, never text
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans <= 2, s"web prep must read the corpus at most twice, found $scans:\n$p")
    assert(!p.contains("ScalaUDF") && !p.contains("CartesianProduct"), p)
  }

  test("full multilingual pipeline: gates run once into a narrow checkpoint, rates broadcast") {
    spark.catalog.clearCache()
    val df = graft.llm.CorpusPrep.prepareFull(Tables.documents(spark, Sf))
    val p = plan(df)
    // the gate+dedup pipeline materializes ONCE into a narrow
    // (doc_id, pred_lang, quality_score_e6) checkpoint; both the
    // mixture's counts leg and the output leg read that — the final
    // plan re-reads NO corpus scan and re-runs no gate regex
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 0,
      s"expected the gated pipeline to serve both legs from its checkpoint, found $scans scans:\n$p")
    assert(p.contains("Scan ExistingRDD"), s"expected the checkpoint scan:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"mixture rates not broadcast:\n$p")
    assert(!p.contains("hashpartitioning(doc_id"),
      s"corpus shuffles by doc_id:\n$p")
    assert(!p.contains("ScalaUDF"), s"pipeline plans a UDF:\n$p")
  }

  test("streaming-dedup state probe broadcasts the batch, never shuffles the state") {
    import spark.implicits._
    val stateDir = "/tmp/graft_test/plan_streamstate"
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(stateDir), true)
    Seq((11L, 0), (22L, 1), (33L, 2)).toDF("band_sig", "band")
      .write.mode("overwrite").parquet(stateDir)
    val banded = Seq((7L, 0, 11L), (7L, 1, 99L))
      .toDF("doc_id", "band", "band_sig")
    val p = plan(graft.llm.Dedup.probeState(spark, stateDir, banded))
    // batch keys broadcast; the accumulated state must reach the join
    // straight off its scan — a hash exchange on the join keys would
    // re-shuffle the whole state every micro-batch (the growth term).
    // (The state is a FLAT table since round 17: every batch carries
    // all 16 band values, so a band-partitioned layout never pruned —
    // it only paid small files and dynamic-partition commits.)
    assert(p.contains("BroadcastHashJoin"),
      s"probe must broadcast the batch keys:\n$p")
    assert(!p.contains("hashpartitioning(band"),
      s"probe must not shuffle the state on the join keys:\n$p")
  }

  test("token-budget prefix sum broadcasts shard offsets, never sorts globally") {
    val p = plan(graft.llm.Sampling.tokenBudget(
      Tables.documents(spark, Sf), "doc_id", "order", 5000L))
    // the shard-offset join must broadcast (a `shards`-row side)
    assert(p.contains("Broadcast"),
      s"shard offsets must broadcast, not shuffle the corpus:\n$p")
    // exchanges: the per-shard hash partition (+ the tiny totals
    // single-partition window); a GLOBAL range sort would plan a
    // rangepartitioning exchange over the corpus — forbidden
    assert(!p.contains("Exchange rangepartitioning"),
      s"token budget must not global-sort the corpus:\n$p")
    // the one UNPARTITIONED window in this plan — WindowExec's "No
    // Partition Defined" WARN in the test log — is the shard-offsets
    // prefix sum, whose frame is the SHARD-TOTALS table: at most
    // `shards` rows by construction (one per _shard = _h DIV slab),
    // never the corpus. Assert the bound so the warning is provably
    // benign, not an unexamined single-partition sort of real data.
    val slab = graft.llm.Portable.P / 64 + 1
    val shardRows = Tables.documents(spark, Sf)
      .select(expr(graft.llm.Portable.hash60SqlSpark(
        "concat('order:', CAST(doc_id AS STRING))")).as("_h"))
      .select(expr(s"_h DIV ${slab}L").as("_shard"))
      .distinct().count()
    assert(shardRows <= 64,
      s"shard-totals window frame must stay ≤ shards rows: $shardRows")
  }

  test("trig/transcendental math fns stay narrow: no exchange, no UDF") {
    import graft.serve.PromQL
    val s = Tables.samples(spark, Sf)
    for (q <- Seq("sin(m)", "ln(clamp_min(m, 1))", "exp(m / 40)", "atanh(m)",
                  "clamp_min(m, 1) ^ 2.5", "clamp_min(m, 1) ^ -0.5")) {
      val df = PromQL.eval(s, PromQL.parse(q).toOption.get,
        1704412800L + 60, 1704412800L + 120, 60L)
      val p = plan(df)
      assert(!p.contains("ScalaUDF"), s"$q plans a UDF:\n$p")
      // the math itself adds NO exchange beyond the instant
      // lookback's own aggregate (compare: the bare selector)
      val base = plan(PromQL.eval(s, PromQL.parse("m").toOption.get,
        1704412800L + 60, 1704412800L + 120, 60L))
      def exchanges(x: String) = x.linesIterator.count(_.contains("Exchange"))
      assert(exchanges(p) == exchanges(base),
        s"$q adds exchanges over the bare selector:\n$p")
    }
  }

  test("PromQL CSE: a twice-referenced subtree plans ONE cached store scan") {
    import graft.serve.PromQL
    spark.catalog.clearCache()
    val s = Tables.samples(spark, Sf)
    // the promql_trig_inverse benchmark shape: the same aggregate
    // subtree referenced on both sides of a binary operator
    val q = "sum by (user) (sum_over_time(click[1d]))"
    val df = PromQL.eval(s, PromQL.parse(s"$q / $q").toOption.get,
      1704499200L, 1704585600L, 7200L)
    val rels = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }
    // both operand occurrences resolve to the SAME cache entry — the
    // store scan + window aggregate runs once, not per occurrence
    assert(rels.size == 2, s"expected both operands cached, got ${rels.size}")
    assert(rels.map(_.cacheBuilder).distinct.size == 1,
      "operands resolve to different cache entries — subtree not shared")
    // no raw store scan survives OUTSIDE the shared cache fragment
    val rawScans = df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
    }
    assert(rawScans.isEmpty,
      s"a selector occurrence still plans its own store scan: $rawScans")
    // and x/x is identically 1 wherever the series exists
    val vs = df.select("v_e6").distinct().collect().map(_.getLong(0))
    assert(vs.nonEmpty && vs.forall(_ == 1000000L), vs.mkString(","))
  }

  test("substring-span discovery shuffles only skinny rows — no text crosses an exchange") {
    val df = graft.llm.Dedup.repeatedSubstringSpans(Tables.documents(spark, Sf))
    val exchanges = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }
    assert(exchanges.nonEmpty)
    // the frequency gate and the join back never carry text or the
    // token array — only (h, doc_id, pos) triples shuffle
    exchanges.foreach { op =>
      val ins = op.children.flatMap(_.output).map(_.name)
      assert(!ins.contains("text") && !ins.contains("toks"),
        s"substring-span exchange input carries text columns: $ins")
    }
  }

  test("gopher rule gate plans zero exchanges and no UDF") {
    val df = graft.llm.TextAnalysis.gopherRules(Tables.documents(spark, Sf))
    val p = plan(df)
    assert(!p.contains("Exchange"), s"gopher rules shuffle:\n$p")
    assert(!p.contains("ScalaUDF"), s"gopher rules plan a UDF:\n$p")
  }

  test("temperature mixing broadcasts its rate table — the corpus never shuffles") {
    val df = graft.llm.Sampling.temperatureMixture(
      Tables.documents(spark, Sf), "lang", "doc_id", "t", 2, 500)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"rates not broadcast:\n$p")
    // the only exchanges allowed are on the TINY per-group count
    // side (group cardinality) and the broadcasts themselves — no
    // hash exchange keyed by doc_id ever appears
    assert(!p.contains("hashpartitioning(doc_id"),
      s"corpus shuffles by doc_id:\n$p")
  }

  test("line dedup: boilerplate broadcasts, exactly two corpus scans") {
    val df = graft.llm.Dedup.lineDedup(Tables.documents(spark, Sf))
    val p = plan(df)
    // the df-filtered boilerplate set rides a broadcast into the
    // flagged probe — the corpus-sized line stream never shuffles for
    // the keep decision
    assert(p.contains("Broadcast"), s"boilerplate not broadcast:\n$p")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans <= 2, s"expected <= 2 corpus scans, got $scans:\n$p")
  }

  test("dsir weights: the <=64-row model broadcasts, exactly two corpus scans") {
    val df = graft.llm.Sampling.dsirWeights(Tables.documents(spark, Sf))
    val p = plan(df)
    // the per-(doc, bucket) count legitimately exchanges on its own
    // keys; the MODEL side must not — it rides broadcasts end to end
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"model not broadcast:\n$p")
    // doc counts + bucket counts; the nr/nt totals are a window over
    // the <=64-row model table, never a third corpus pass
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans <= 2, s"expected <= 2 corpus scans, got $scans:\n$p")
  }

  test("no SparkEntry plan contains a cartesian product; ann joins broadcast") {
    val sideEffecting = Set(
      "ingest_samples_sink", "ingest_delete_range", "ingest_streaming",
      "ingest_streaming_window", "ingest_bulk_tsv", "read_request_e2e",
      "write_request_e2e")
    SparkEntry.queries.foreach { case (name, fn) =>
      if (!sideEffecting(name)) {
        val p = plan(fn(spark, Sf))
        assert(!p.contains("CartesianProduct"), s"$name plans a cartesian product:\n$p")
        // no operator smuggles a Scala UDF into its plan — everything
        // is native functions, HOFs, or custom codegen expressions
        assert(!p.contains("ScalaUDF"), s"$name plans a Scala UDF:\n$p")
        // small-side-broadcast operators: ANN query sides, the
        // decontamination benchmark gram set, the cluster centroids
        if (name.startsWith("ann_") || name == "cluster_assign" || name == "dedup_decontaminate")
          assert(p.contains("Broadcast"), s"$name does not broadcast its small side:\n$p")
      }
    }
  }
}
