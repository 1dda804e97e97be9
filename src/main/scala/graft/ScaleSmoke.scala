package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.llm.{Dedup, Multimodal, Sampling}
import graft.sources.Tables

/** Scale-behavior smoke (not driver-run): the dedup family on 1×/2×/4×
  * unions of the sf0.1 documents corpus (ids shifted per copy — every
  * doc gains m−1 exact duplicates, the dup-heavy shape real crawl
  * corpora have), the similarity family on scaled embeddings, and the
  * read pipeline (select → assemble → serve) on a scaled samples
  * corpus (labels suffixed per copy — series COUNT scales, the axis
  * that grows at 100 TB). Measures how each stage scales; numbers
  * land in SCALE.md. `SPARK_GRAFT_SCALE_ONLY=
  * read|promql|dedup|components|ann|curate|prep|events|scrub|rollup|
  * rolldense|ladder|compact|bpe|bpek|bpedeep|bpe4k|streamstate|strat|qc|
  * stars|manifest|listing|semdedup` runs one section. */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
    def sectionEnabled(name: String): Boolean = only.forall(_ == name)
    val spark = GraftSession.local(32)
    val docs0 = Tables.documents(spark, "/root/testdata/sf0.1")

    def scaled(m: Int): DataFrame =
      (0 until m).map(i => docs0.withColumn("doc_id", col("doc_id") + lit(i * 1000000L)))
        .reduce(_ unionAll _)

    def time(name: String)(f: => Long): Unit = {
      spark.sqlContext.clearCache()
      val t0 = System.nanoTime()
      val n = f
      println(f"SCALE $name%-40s ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$n")
    }

    for (m <- Seq(1, 2, 4) if sectionEnabled("dedup")) {
      val d = scaled(m)
      time(s"minhashLsh      m=$m cap=inert")(Dedup.minhashLsh(d).count())
      time(s"ngramJaccard    m=$m cap=inert")(Dedup.ngramJaccard(d, 0.8).count())
      time(s"simhashPairs    m=$m cap=inert")(Dedup.simhashPairs(d, 8).count())
      time(s"minhashLsh      m=$m cap=2000")(Dedup.minhashLsh(d, maxBucket = 2000).count())
      time(s"simhashPairs    m=$m cap=2000")(Dedup.simhashPairs(d, 8, maxBucket = 2000).count())
    }

    val emb0 = Tables.embeddings(spark, "/root/testdata/sf0.1")
    def scaledEmb(m: Int): org.apache.spark.sql.DataFrame =
      (0 until m).map(i => emb0.withColumn("vec_id", col("vec_id") + lit(i * 1000000L)))
        .reduce(_ unionAll _)
    import graft.llm.Similarity
    for (m <- Seq(1, 2, 4) if sectionEnabled("ann")) {
      val e = scaledEmb(m)
      time(s"annBruteForce   m=$m")(Similarity.bruteForceTopK(e, 10, 10).count())
      time(s"annLsh          m=$m")(Similarity.lshTopK(e, 10, 6, 10).count())
      time(s"annIvf          m=$m")(Similarity.ivfTopK(e, 10, 16, 4, 10).count())
      time(s"annIvfPq        m=$m")(Similarity.ivfPqTopK(e, 10, 16, 4, 10).count())
      time(s"annIvfTrained   m=$m")(
        Similarity.ivfTrainedTopK(e, 10, 16, 2, 4, 10).count())
      time(s"embNearDup      m=$m")(Similarity.nearDupPairs(e, 4, 6, 0.4).count())
    }

    // ---- read pipeline: select → assemble → full /read serve -------
    // Series count scales with m (each copy's labels get a distinct
    // suffix, preserving the array's sort order), sample count scales
    // with it — the growth axis of a real TSDB.
    import graft.ingest.PromRemoteCodec
    import graft.operators.{Matchers, ReadQuery, SeriesRead}
    import graft.serve.RemoteRead
    val samples0 = graft.sources.Tables.samples(spark, "/root/testdata/sf0.1")
    def scaledSamples(m: Int): DataFrame =
      (0 until m).map { i =>
        if (i == 0) samples0
        else samples0.withColumn("labels",
          expr(s"transform(labels, l -> concat(l, '_c$i'))"))
      }.reduce(_ unionAll _)
    // the driver's read window over a hot metric (SparkEntry's flagship
    // window: 2024-01-05 .. 2024-01-20)
    val rq = ReadQuery(1704412800000L, 1705708800000L,
      Seq(Matchers.eq("__name__", "click")))
    for (m <- Seq(1, 2, 4) if sectionEnabled("components")) {
      val d = scaled(m)
      // the m× union plants m-sized exact-dup clusters per doc — the
      // chain-merging shape union-find exists for; rounds stay
      // logarithmic in cluster diameter via the pointer jump
      time(s"components      m=$m")(Dedup.minhashComponents(d).count())
      time(s"incrementalKeep m=$m")(
        Dedup.incrementalKeep(d, col("doc_id") >= 1000000L).count())
      time(s"tokenBudget     m=$m")(graft.llm.Sampling.tokenBudget(
        d, "doc_id", "order", 1000000L * m).count())
    }

    // stratified-sampling window skew: ~90% of the corpus forced
    // into ONE group — the hash-threshold pre-thin bounds the rank
    // window partition at ~64×quota rows regardless of skew
    for (m <- Seq(1, 2, 4) if sectionEnabled("strat")) {
      val d = scaled(m).withColumn("lang",
        expr("CASE WHEN doc_id % 10 != 0 THEN 'en' ELSE lang END"))
      time(s"stratified thin m=$m")(graft.llm.Sampling.stratifiedSample(
        d, "lang", "doc_id", "strat", 50).count())
      time(s"stratified raw  m=$m")(graft.llm.Sampling.stratifiedSample(
        d, "lang", "doc_id", "strat", 50, skewThin = false).count())
    }

    // BPE training: the corpus scan (word counts) should scale with
    // m while the k merge rounds stay FLAT — copies don't grow the
    // distinct-word vocab, which is the Zipf lever the trainer rides
    for (m <- Seq(1, 2, 4) if sectionEnabled("bpe")) {
      val d = scaled(m)
      time(s"bpeTrain k=8    m=$m")(graft.llm.Tokenizer.trainBpe(d, 8).count())
      time(s"bpeCount k=8    m=$m")(graft.llm.Tokenizer.tokenCountsBpe(d, 8).count())
    }
    // streaming-dedup state probe: the per-batch probe is a map-side
    // broadcast join of the batch's band keys against the
    // band-partitioned state scan (no state shuffle, no state
    // distinct) — its cost must stay ~flat as the state grows 4×
    // (a 2-int-column pruned columnar scan, not a sort/exchange)
    if (sectionEnabled("streamstate")) {
      import graft.llm.Dedup
      val stateDir = "/tmp/graft_scale/streamstate"
      def rmrf(p: java.io.File): Unit = {
        if (p.isDirectory) p.listFiles().foreach(rmrf)
        p.delete(); ()
      }
      rmrf(new java.io.File(stateDir))
      val banded = Dedup.minhashSignatures(docs0)
        .select(col("doc_id"),
          posexplode(col("bands")).as(Seq("band", "band_sig")))
        .localCheckpoint()
      def stateFileCount(): Int = {
        val fl = new java.io.File(stateDir).listFiles()
        if (fl == null) 0
        else fl.count(f => f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith("."))
      }
      var copies = 0
      // 64 batches — 16× past the old 4× ceiling: each batch appends
      // a disjoint key set (sig-shifted, the way a long stream's
      // crawls accumulate mostly-new keys) and folds like
      // streamIncrementalKeep's per-batch compactState call. The
      // claims: probe wall-time FLAT as state grows 64×, and the
      // state file count BOUNDED (≤ threshold+fold output) instead
      // of O(batches) — the r16 growth term
      for (m <- Seq(1, 4, 16, 64)) {
        while (copies < m) {
          banded.select(
            (col("band_sig") + lit(copies * 1000003L)).as("band_sig"),
            col("band"))
            .write.mode("append").parquet(stateDir)
          graft.llm.Dedup.compactState(spark, stateDir)
          copies += 1
        }
        time(f"streamProbe state=${m}%-2dx files=${stateFileCount()}%-2d") {
          spark.read.parquet(stateDir)
            .join(broadcast(banded), Seq("band", "band_sig"))
            .select(col("doc_id")).distinct().count()
        }
      }
    }

    // Line-df state for the STREAMING line dedup: 64 simulated
    // crawls each append the corpus's per-crawl line df (same lines,
    // new crawl — the way every crawl re-observes the same
    // boilerplate), folding with the max-idempotent compaction like
    // streamLineDedup's per-batch call. Claims: the probe (state
    // scan ⋈ broadcast batch lines → max per (line, crawl) → sum)
    // stays near-flat as the state grows 64 crawls deep, and the
    // file count stays bounded instead of O(batches).
    if (sectionEnabled("streamlines")) {
      import graft.llm.Dedup
      val stateDir = "/tmp/graft_scale/streamlines"
      def rmrf(p: java.io.File): Unit = {
        if (p.isDirectory) p.listFiles().foreach(rmrf)
        p.delete(); ()
      }
      rmrf(new java.io.File(stateDir))
      val lines0 = docs0.select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(split(text, ' ')) - 1, 8)," +
          " s -> concat_ws(' ', slice(split(text, ' '), s + 1, 8)))"))
        .as("line")).localCheckpoint()
      val crawlDf = lines0.groupBy(col("line"))
        .agg(countDistinct(col("doc_id")).cast("long").as("dfk"))
        .localCheckpoint()
      val batchKeys = crawlDf.select("line").localCheckpoint()
      def stateFileCount(): Int = {
        val fl = new java.io.File(stateDir).listFiles()
        if (fl == null) 0
        else fl.count(f => f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith("."))
      }
      var crawls = 0
      for (m <- Seq(1, 4, 16, 64)) {
        while (crawls < m) {
          crawlDf.select(col("line"), lit(crawls.toLong).as("batch"),
            col("dfk"))
            .write.mode("append").parquet(stateDir)
          Dedup.compactState(spark, stateDir, Dedup.lineDfFold)
          crawls += 1
        }
        time(f"lineDfProbe crawls=${m}%-2d files=${stateFileCount()}%-2d") {
          Dedup.lineDfFold(spark.read.parquet(stateDir)
              .join(broadcast(batchKeys), Seq("line")))
            .groupBy(col("line")).agg(sum(col("dfk")).as("df_prev"))
            .count()
        }
      }
    }

    // vocabulary-depth scaling: per-merge cost must stay FLAT as k
    // grows 8→64→256 (batched selection amortizes aggregate rounds;
    // the grouped encode + periodic checkpoints keep the merge-chain
    // plannable) — the path to a real 32k vocabulary. Trained once
    // per k; encode reuses the trained table (no silent re-train).
    for (k <- Seq(8, 64, 256) if sectionEnabled("bpek")) {
      val d = docs0
      var trained: org.apache.spark.sql.DataFrame = null
      time(f"bpeTrain k=$k%-4d m=1")({
        trained = graft.llm.Tokenizer.trainBpe(d, k).localCheckpoint(true)
        trained.count()
      })
      time(f"bpeEncode k=$k%-3d m=1")(
        graft.llm.Tokenizer.tokenCountsBpe(d, trained).count())
      time(f"bpeVocab k=$k%-4d m=1")(
        graft.llm.Tokenizer.bpeVocab(d, trained).count())
    }
    // encode-depth scaling past what the corpus can TRAIN (it
    // exhausts at ~89 merges): a SYNTHETIC merge table with
    // realistic chaining (each merge joins two symbols from the
    // evolving pool, like a real trainer's output) drives the
    // grouped+checkpointed encode at k=256 and k=1024 — the claim is
    // cost linear in fold passes with a BOUNDED plan (localCheckpoint
    // every 16 passes), i.e. a real 32k table is a longer run, not a
    // Catalyst blow-up
    if (sectionEnabled("bpedeep")) {
      import spark.implicits._
      val rnd = new scala.util.Random(42)
      var pool = ('a' to 'z').map(_.toString).toVector
      val synth = (0 until 1024).map { r =>
        val l = pool(rnd.nextInt(pool.size))
        val rr = pool(rnd.nextInt(pool.size))
        pool = pool :+ (l + rr)
        (r.toLong, l, rr, 2L)
      }
      for (k <- Seq(256, 1024)) {
        val trained = synth.take(k).toDF("rank", "l", "r", "cnt")
        val groups = graft.llm.Tokenizer.disjointGroups(
          synth.take(k).map(t => (t._2, t._3)))
        time(f"bpeEncDeep k=$k%-4d passes=${groups.size}%-4d")(
          graft.llm.Tokenizer.tokenCountsBpe(docs0, trained).count())
      }
    }
    // a REAL 4096-merge train + encode — the measurement behind the
    // 32k claim (bpedeep only extrapolated from a synthetic merge
    // TABLE; this drives trainBpe's batch loop itself). The corpus
    // is root-composed so it cannot exhaust early — 1500 random
    // 5-char roots, every word 3 roots — and the roots draw from a
    // ZIPF law, the natural-language shape the batched trainer's
    // strict-dominance trim rides: near-uniform counts (every root
    // equally likely) are the adversarial case that degrades every
    // batch to 1 merge (measured — the trim is CORRECT, just
    // sequential there), while Zipfian counts keep batches in the
    // tens, which is the whole 32k-trainability claim.
    if (sectionEnabled("bpe4k")) {
      import spark.implicits._
      val rnd = new scala.util.Random(7)
      val roots = Iterator.continually(
        (0 until 5).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString)
        .distinct.take(1500).toVector
      // Zipf sampler over root ranks: inverse-CDF on H(n) partial
      // sums, classic s=1 law
      val harmonic = roots.indices.map(i => 1.0 / (i + 1)).toArray
      val cdf = harmonic.scanLeft(0.0)(_ + _).drop(1)
      val total = cdf.last
      def zipfRoot(): String = {
        val u = rnd.nextDouble() * total
        var lo = 0; var hi = cdf.length - 1
        while (lo < hi) {
          val mid = (lo + hi) / 2
          if (cdf(mid) < u) lo = mid + 1 else hi = mid
        }
        roots(lo)
      }
      val words = (0 until 60000).map(_ => zipfRoot() + zipfRoot() + zipfRoot())
      val docs = (words ++ words).grouped(50).map(_.mkString(" ")).toSeq
      val corpus = docs.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        .localCheckpoint(true)
      var trained: DataFrame = null
      time("bpeTrain k=4096 roots") {
        trained = graft.llm.Tokenizer.trainBpe(corpus, 4096)
          .localCheckpoint(true)
        trained.count()
      }
      val merges = trained.orderBy(col("rank")).select(col("l"), col("r"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      val passes = graft.llm.Tokenizer.disjointGroups(merges).size
      time(f"bpeEncode k=4096 passes=$passes%-4d")(
        graft.llm.Tokenizer.tokenCountsBpe(corpus, trained).count())
    }

    // SemDeDup under adversarial cluster skew: ~90% of the corpus
    // lands in ONE k-means cluster (a single family direction; the
    // other 10% spread over the 7 remaining centroids), and the
    // perturbations keep most pairs BELOW the ε threshold — so the
    // c² pairing is the cost and can't be filter-pruned. The claim:
    // the salted sub-block join spreads the runaway cluster's pair
    // work over ⌈c/target⌉ keys where the unsalted join serializes
    // it in one shuffle partition — same keep/drop counts.
    if (sectionEnabled("semdedup")) {
      val n = 10000L
      val skewed = spark.range(0, n).selectExpr(
        "id AS vec_id",
        """transform(sequence(0, 63), d -> CAST(
             CASE
               WHEN id = 0 AND d = 0 THEN 1.0
               WHEN id BETWEEN 1 AND 7 AND d = 10 + id THEN 1.0
               WHEN id >= 8 AND id % 10 < 9 AND d = 0 THEN 1.0
               WHEN id >= 8 AND id % 10 < 9 AND d = 1 + id % 7
                 THEN 0.3 + (id % 97) / 97.0
               WHEN id >= 8 AND id % 10 = 9 AND d = 11 + id % 7 THEN 1.0
               ELSE 0.0 END AS FLOAT)) AS embedding""")
        .localCheckpoint(true)
      time("semdedup kmeans-only            ")(
        Similarity.kmeans(skewed, 8, 2).count())
      var salted = -1L; var single = -1L
      time("semdedup salted   c~9000 blk=256")({
        salted = Similarity.semanticKeep(skewed, 8, 2, 990000L,
          saltTarget = 256).filter(col("kept") === 0).count(); salted
      })
      time("semdedup 1-block  c~9000        ")({
        single = Similarity.semanticKeep(skewed, 8, 2, 990000L,
          saltTarget = 1 << 30).filter(col("kept") === 0).count(); single
      })
      assert(salted == single, s"salting changed drops: $salted vs $single")
    }

    // the adversarial union-find shape: one pure CHAIN (diameter =
    // node count) — min-label propagation's worst case vs the
    // large-star/small-star alternation's provable O(log n) rounds
    for (n <- Seq(1 << 12, 1 << 14, 1 << 16) if sectionEnabled("stars")) {
      val chain = spark.range(0, n - 1)
        .select(col("id").as("doc_a"), (col("id") + 1L).as("doc_b"))
        .localCheckpoint(true)
      var r1 = 0; var r2 = 0
      time(s"minlabel chain  n=$n")(
        Dedup.components(chain, maxIters = 60, onRounds = r1 = _).count())
      time(s"stars    chain  n=$n")(
        Dedup.componentsStars(chain, onRounds = r2 = _).count())
      println(s"SCALE stars rounds n=$n: minlabel=$r1 stars=$r2")
    }

    for (m <- Seq(1, 2, 4) if sectionEnabled("read")) {
      val smp = scaledSamples(m)
      time(s"readSelect      m=$m")(SeriesRead.selectKeyed(smp, rq).count())
      time(s"readAssemble    m=$m")(
        SeriesRead.assemble(SeriesRead.selectKeyed(smp, rq)).count())
      time(s"readServeE2E    m=$m") {
        val blob = PromRemoteCodec.encodeReadRequest(Seq(rq))
        RemoteRead.serve(smp, blob).length.toLong
      }
    }

    // PromQL evaluator physics: (a) runtime tracks the series count
    // linearly (m× label-forked corpora); (b) the d/step explode
    // amplification is the knob — the SAME scan with a 7d window at
    // 1d steps costs ~7× the exploded rows of the tiling form, never
    // more; (c) a pinned @ evaluation is O(one step) regardless of
    // grid length.
    for (m <- Seq(1, 2, 4) if sectionEnabled("promql")) {
      val smp = scaledSamples(m)
      val (w0, w1) = (1704412800L, 1705708800L)
      def run(q: String, step: Long = 86400L): Long =
        graft.serve.PromQL.eval(smp,
          graft.serve.PromQL.parse(q).toOption.get, w0, w1, step).count()
      time(s"pqlRate7d       m=$m")(run("rate(click[7d])"))
      time(s"pqlSumTile1d    m=$m")(run("sum_over_time(click[1d])"))
      time(s"pqlTopkAgg      m=$m")(
        run("topk(3, sum by (user) (sum_over_time(click[1d])))"))
      time(s"pqlRatioMatch   m=$m")(
        run("sum by (user) (sum_over_time(click[1d]))" +
          " / on(user) sum by (user) (sum_over_time(view[1d]))"))
      time(s"pqlSubquery     m=$m")(
        run("max_over_time(sum by (user) (sum_over_time(click[1d]))[7d:1d])"))
      time(s"pqlAtPinned     m=$m")(
        run(s"sum by (user) (sum_over_time(click[1d] @ ${w0 + 86400}))"))
      time(s"pqlMad1d        m=$m")(run("mad_over_time(click[1d])"))
      time(s"pqlStddevAgg    m=$m")(
        run("stddev by (user) (sum_over_time(click[1d]))"))
    }

    // Curation operators: decontamination (training side scales m×,
    // benchmark stays FIXED at the unshifted copy — the real shape:
    // eval suites don't grow with the crawl), n-gram frequency,
    // cluster assignment (vectors scale, centroids fixed), binary op
    // (series count scales). All must track input size linearly.
    // ---- quality classifier: steps × two linear aggregates ---------
    // Cost must scale ~linearly in corpus size (the feature table is
    // O(docs × ≤64) rows; each gradient step is one broadcast join +
    // one doc-keyed + one bucket-keyed aggregate; the driver holds
    // only the 65 weights).
    for (m <- Seq(1, 2, 4) if sectionEnabled("qc")) {
      val d = scaled(m)
      time(s"qualityClf s=3  m=$m")(
        Sampling.qualityClassifier(d).count())
      time(s"qualityClf s=1  m=$m")(
        Sampling.qualityClassifier(d, steps = 1).count())
      time(s"urlDedup        m=$m")(
        Dedup.urlDedup(d.select(col("doc_id"),
          concat(lit("https://H"), (col("doc_id") % 5000).cast("string"),
            lit(".com/p/"), (col("doc_id") % 97).cast("string"),
            lit("?b=2&utm_source=x&a=1")).as("url"))).count())
    }

    for (m <- Seq(1, 2, 4) if sectionEnabled("curate")) {
      val d = scaled(m)
      time(s"decontaminate   m=$m")(
        graft.llm.Dedup.decontaminate(d,
          col("doc_id") % 50 === 0 && col("doc_id") < 1000000L).count())
      time(s"ngramFreq       m=$m")(graft.llm.TextAnalysis.ngramFreq(d).count())
      val e = scaledEmb(m)
      time(s"clusterAssign   m=$m")(Similarity.clusterAssign(e, 16).count())
      time(s"kmeans i=3      m=$m")(Similarity.kmeans(e, 16, 3).count())
      val smp = scaledSamples(m)
      time(s"binaryOp        m=$m")(
        graft.operators.RangeOps.binaryOpByLabel(
          graft.operators.RangeOps.dedupPerSecond(smp),
          "click", "view", "user", 3600L).count())
    }

    // Corpus-prep pipeline: quality gate → lang gate → exact dedup →
    // split, one scan + one shuffle. Runtime must track corpus size
    // linearly (the only shuffle carries gated rows).
    for (m <- Seq(1, 2, 4) if sectionEnabled("prep")) {
      val d = scaled(m)
      time(s"corpusPrep      m=$m")(graft.llm.CorpusPrep.prepare(d).count())
    }

    // Event analytics: users scale m× (id-offset copies — the axis
    // that grows with traffic). Sessionization/funnel/retention are
    // per-user windows on one exchange; asof/range joins add the
    // interval side. All must track user count linearly — per-user
    // work is constant.
    for (m <- Seq(1, 2, 4) if sectionEnabled("events")) {
      import graft.operators.{Joins, Sessions}
      val ev0 = graft.sources.Tables.eventsNorm(spark, "/root/testdata/sf0.1")
      val ev = (0 until m).map(i => ev0
          .withColumn("user_id", col("user_id") + lit(i * 1000000L))
          .withColumn("event_id", col("event_id") + lit(i * 100000000L)))
        .reduce(_ unionAll _)
      time(s"sessionStats    m=$m")(Sessions.stats(ev).count())
      time(s"funnel          m=$m")(
        Sessions.funnel(ev, Seq("view", "click", "purchase"), 86400L).count())
      time(s"retention       m=$m")(Sessions.retention(ev).count())
      val sess = Sessions.stats(ev).select(col("user_id"), col("session_seq"),
        col("start_us"), (col("end_us") + 1L).as("end_us"))
      time(s"rangeJoin       m=$m")(
        Joins.range(ev.select(col("event_id"), col("ts_us"), col("user_id")),
          sess, "user_id", 3600L).count())
      time(s"asofJoin        m=$m")(
        Joins.asof(ev.select(col("event_id"), col("ts_us"), col("user_id")),
          ev.filter(col("event_type") === "click")
            .groupBy(col("user_id"), col("ts_us"))
            .agg(max(col("value")).as("av")),
          "user_id", Seq("av")).count())
    }

    // Span scrub: per-row chunking + ONE hash-count exchange +
    // broadcast blocklist. An m× corpus replicates every doc, so each
    // chunk's count scales m× and the m=2/4 blocklists grow with the
    // duplicated-chunk head — runtime must stay linear in rows, and
    // scrubbed-row counts prove the blocklist actually fires at scale.
    for (m <- Seq(1, 2, 4) if sectionEnabled("scrub")) {
      val d = scaled(m)
      time(s"spanScrub       m=$m")(
        Dedup.scrubRepeatedSpans(d)
          .filter(col("n_removed") > 0L).count())
      // stride-1 window discovery: ×window rows vs the chunk grid,
      // still hash-only shuffles — the measured cost of any-alignment
      time(s"substringSpans  m=$m")(
        Dedup.repeatedSubstringSpans(d).count())
    }

    // Line-level dedup: the injected shape (banner on half the docs,
    // footer on a fifth) plus the adversarial one — a UNIVERSAL line
    // in 100% of docs, which the salted df count must absorb without
    // a hot final-count task; DSIR scoring and the multimodal phash
    // pair join ride the same corpus for their m× scaling rows.
    for (m <- Seq(1, 2, 4) if sectionEnabled("linededup")) {
      val inj = scaled(m).withColumn("text", concat_ws("\n",
        when(col("doc_id") % 2 === 0,
          lit("cookie notice accept all cookies to continue")),
        col("text"),
        when(col("doc_id") % 5 === 0,
          lit("subscribe to our newsletter for updates"))))
      time(s"lineDedup       m=$m inject")(Dedup.lineDedup(inj).count())
      val uni = scaled(m).withColumn("text",
        concat_ws("\n", lit("universal banner on every document"), col("text")))
      time(s"lineDedup       m=$m universal")(Dedup.lineDedup(uni).count())
      time(s"dsirWeights     m=$m")(Sampling.dsirWeights(scaled(m)).count())
      time(s"phashDedup      m=$m")(
        Multimodal.phashDedup(Multimodal.packFromDocuments(scaled(m))).count())
    }

    // Rollup maintenance: history length grows m× (like compact);
    // the initial build pays O(all days) once, then an append to the
    // FIRST day must re-aggregate O(1 day) — flat in history — and
    // an idle pass must be a metadata no-op.
    if (sectionEnabled("rollup")) {
      import graft.ingest.{RollupStore, SamplesStore}
      import org.apache.hadoop.fs.Path
      val samples0 = graft.sources.Tables.samples(spark, "/root/testdata/sf0.1")
      val spanDays = 30L
      val hot = samples0.filter(col("ts_us") < lit(1704499200000000L)).limit(2000).cache()
      hot.count()
      for (m <- Seq(1, 2, 4)) {
        val path = s"/tmp/graft_scale/rollup_m$m"
        val rpath = path + "_roll"
        val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.delete(new Path(path), true); fs.delete(new Path(rpath), true)
        SamplesStore.write(
          (0 until m).map(i => samples0.withColumn("ts_us",
            col("ts_us") + lit(i * spanDays * 86400L * 1000000L))).reduce(_ unionAll _),
          path)
        time(s"rollupInit      m=$m")(RollupStore.rollup(spark, path, rpath).toLong)
        SamplesStore.append(hot, path)
        time(s"rollupIncr      m=$m")(RollupStore.rollup(spark, path, rpath).toLong)
        time(s"rollupNoop      m=$m")(RollupStore.rollup(spark, path, rpath).toLong)
        // the read win: the same coarse whole-history query answered
        // from raw samples vs from the rollup — the gap is what a
        // long-range dashboard pays without the recording-rule path
        val q = graft.operators.ReadQuery(
          1704412800000L, (1704412800L + m * spanDays * 86400L) * 1000L,
          Seq(graft.operators.Matchers.eq("__name__", "click")), stepMs = 7200000L)
        time(s"coarseReadRaw   m=$m")(
          graft.operators.SeriesRead.selectKeyed(
            SamplesStore.read(spark, path), q).count())
        time(s"coarseReadRoll  m=$m")(
          RollupStore.selectKeyed(RollupStore.read(spark, rpath), q, 3600L).count())
      }
    }

    // Dense-corpus rollup read win: the sf corpora are too sparse for
    // hourly buckets to compress (SCALE.md), so synthesize a
    // production-density store — a 15 s scrape interval, 240 points
    // per series-hour — and measure the same coarse query from both
    // paths. THIS is the regime the read-path rollup route exists for.
    if (sectionEnabled("rolldense")) {
      import graft.ingest.{RollupStore, SamplesStore}
      import org.apache.hadoop.fs.Path
      val path = "/tmp/graft_scale/rolldense"
      val rpath = path + "_roll"
      val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new Path(path), true); fs.delete(new Path(rpath), true)
      val day0 = 1704412800L
      val dense = spark.range(0, 3L * 86400 / 15) // 3 days of 15s ticks
        .crossJoin(spark.range(0, 50).selectExpr("id AS s")) // 50 series
        .selectExpr(
          s"(${day0}L + id * 15) * 1000000 AS ts_us",
          "'dense_metric' AS metric",
          "array(concat('s=', CAST(s AS STRING))) AS labels",
          "CAST((id * 7 + s) % 100 AS DOUBLE) AS value")
      SamplesStore.write(dense, path)
      RollupStore.rollup(spark, path, rpath)
      val q = graft.operators.ReadQuery(day0 * 1000L, (day0 + 3 * 86400L) * 1000L - 1000L,
        Seq(graft.operators.Matchers.eq("__name__", "dense_metric")), stepMs = 7200000L)
      time("denseReadRaw    864k samples")(
        graft.operators.SeriesRead.selectKeyed(SamplesStore.read(spark, path), q).count())
      time("denseReadRoll   864k samples")(
        RollupStore.selectKeyed(RollupStore.read(spark, rpath), q, 3600L).count())
    }

    // The downsampling LADDER's cost lever: building the 1 h rollup
    // FROM the 15 m one must beat re-aggregating it from raw, and
    // the gap must WIDEN with sample density (the ladder reads
    // bucket rows — fixed per series·hour — while the raw rebuild
    // reads every sample). 3 days × 100 series at 5 s ticks =
    // 5.2M samples vs 28.8k fine-bucket rows (180:1).
    if (sectionEnabled("ladder")) {
      import graft.ingest.{RollupStore, SamplesStore}
      import org.apache.hadoop.fs.Path
      val path = "/tmp/graft_scale/ladder"
      val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
      for (p <- Seq(path, path + "_fine", path + "_coarse", path + "_direct",
                    path + "_day", path + "_dayd"))
        fs.delete(new Path(p), true)
      val day0 = 1704412800L
      val dense = spark.range(0, 3L * 86400 / 5)
        .crossJoin(spark.range(0, 100).selectExpr("id AS s"))
        .selectExpr(
          s"(${day0}L + id * 5) * 1000000 AS ts_us",
          "'dense_metric' AS metric",
          "array(concat('s=', CAST(s AS STRING))) AS labels",
          "CAST((id * 7 + s) % 100 AS DOUBLE) AS value")
      SamplesStore.write(dense, path)
      time("ladderFine  900s from raw  ")(
        RollupStore.rollup(spark, path, path + "_fine", 900L).toLong)
      time("ladderCoarse 3600s from fine")(
        RollupStore.rollupLadder(spark, path + "_fine", path + "_coarse",
          3600L).toLong)
      time("directCoarse 3600s from raw ")(
        RollupStore.rollup(spark, path, path + "_direct", 3600L).toLong)
      // depth 3: the 1d level reads the 1h one (another 24:1 input
      // drop) — each added resolution costs a rollup-sized job, and
      // the gap vs a raw rebuild COMPOUNDS with the ratio chain
      time("ladderDay   86400s from 1h  ")(
        RollupStore.rollupLadder(spark, path + "_coarse", path + "_day",
          86400L).toLong)
      time("directDay   86400s from raw ")(
        RollupStore.rollup(spark, path, path + "_dayd", 86400L).toLong)
    }

    // The ladder's QUERY-side payoff (the build ratios above are the
    // cost side): ONE 30-day `sum_over_time(m[1d])` query_range
    // served at each level of a depth-3 ladder — raw / 5m / 1h / 1d
    // — on a corpus whose levels differ ~20/12/24× in row count
    // (3.46M raw rows → 173k 5m buckets → 14.4k 1h → 600 1d). The
    // dashboard latency must COMPOUND down the ladder the way the
    // builds do: each level reads its own row count, nothing else.
    if (sectionEnabled("ladderread")) {
      import graft.ingest.{RollupStore, SamplesStore}
      import org.apache.hadoop.fs.Path
      val path = "/tmp/graft_scale/ladderread"
      val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
      for (p <- Seq(path, path + "_5m", path + "_1h", path + "_1d"))
        fs.delete(new Path(p), true)
      val day0 = 1704412800L
      val dense = spark.range(0, 30L * 86400 / 15)
        .crossJoin(spark.range(0, 20).selectExpr("id AS s"))
        .selectExpr(
          s"(${day0}L + id * 15) * 1000000 AS ts_us",
          "'dense_metric' AS metric",
          "array(concat('s=', CAST(s AS STRING))) AS labels",
          "CAST((id * 7 + s) % 100 AS DOUBLE) AS value")
      SamplesStore.write(dense, path)
      RollupStore.rollup(spark, path, path + "_5m", 300L)
      RollupStore.rollupLadder(spark, path + "_5m", path + "_1h", 3600L)
      RollupStore.rollupLadder(spark, path + "_1h", path + "_1d", 86400L)
      val e = graft.serve.PromQL.parse("sum_over_time(dense_metric[1d])")
        .fold(err => sys.error(err), identity)
      val g5m = RollupStore.Ladder(path, path + "_5m", 300L)
      val g1h = g5m.copy(coarser = Some(
        RollupStore.Ladder(path + "_5m", path + "_1h", 3600L)))
      val g1d = g1h.copy(coarser = Some(g1h.coarser.get.copy(coarser = Some(
        RollupStore.Ladder(path + "_1h", path + "_1d", 86400L)))))
      val levels: Seq[(String, Option[RollupStore.Ladder])] =
        Seq(("raw", None), ("5m ", Some(g5m)),
          ("1h ", Some(g1h)), ("1d ", Some(g1d)))
      for ((name, grid) <- levels)
        time(s"ladderRead 30d sum_over_time @$name")(
          graft.serve.PromQL.eval(SamplesStore.read(spark, path), e,
            day0 + 86400L, day0 + 30L * 86400, 86400L, rollup = grid)
            .count())
    }

    // Append metadata cost vs store size: land the SAME small append
    // in stores holding m× history. With delta commits the manifest
    // bytes a /write pays must be FLAT in m (pre-delta they were the
    // full live-file list — linear in store size); append wall time
    // tracks the data staged, not the history held.
    if (sectionEnabled("manifest")) {
      import graft.ingest.SamplesStore
      import org.apache.hadoop.fs.Path
      val samples0 = graft.sources.Tables.samples(spark, "/root/testdata/sf0.1")
      val spanDays = 30L
      val hot = samples0.filter(col("ts_us") < lit(1704499200000000L)).limit(2000).cache()
      hot.count()
      for (m <- Seq(1, 2, 4)) {
        val path = s"/tmp/graft_scale/manifest_m$m"
        val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.delete(new Path(path), true)
        SamplesStore.write(
          (0 until m).map(i => samples0.withColumn("ts_us",
            col("ts_us") + lit(i * spanDays * 86400L * 1000000L))).reduce(_ unionAll _),
          path)
        val mdir = new Path(path, "_manifests")
        def newestManifestBytes: Long = fs.listStatus(mdir)
          .filter(_.getPath.getName.startsWith("m-"))
          .maxBy(_.getPath.getName).getLen
        val checkpointBytes = newestManifestBytes // the bulk write's full list
        time(s"appendToStore   m=$m ckptB=$checkpointBytes")(
          { SamplesStore.append(hot, path); newestManifestBytes })
      }
    }

    // latestSnapshot lists `_manifests` on every uncached read — the
    // serving path's per-request metadata cost. Measure snapshot
    // resolution against a RETAINED generation count far above what
    // expiry ever leaves (the documented worst case: a high write
    // rate inside the 10-min grace) to decide whether a max-gen hint
    // file is warranted. Cold = cache evicted (a fresh process);
    // warm = the serving steady state (cache hit, one listing).
    if (sectionEnabled("listing")) {
      import graft.ingest.SamplesStore
      import org.apache.hadoop.fs.Path
      import spark.implicits._
      val day0 = 1704412800L
      def tiny(i: Int) = Seq((day0 * 1000000L + i * 1000000L, "m", Seq("k=v"), 1.0))
        .toDF("ts_us", "metric", "labels", "value")
      var gens = 0
      val path = "/tmp/graft_scale/listing"
      val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new Path(path), true)
      for (target <- Seq(100, 500, 2000)) {
        while (gens < target) { SamplesStore.append(tiny(gens), path); gens += 1 }
        def timeMs(f: => Unit): Double = {
          val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
        }
        SamplesStore.invalidateSnapshotCache(path)
        val cold = timeMs(SamplesStore.currentGen(spark, path))
        val warm = (0 until 20).map(_ => timeMs(SamplesStore.currentGen(spark, path))).min
        println(f"SCALE listing gens=$target%-5d cold=${cold}%8.2f ms  warm=${warm}%8.3f ms")
      }
    }

    // Compaction: history length (m× days of store, ts shifted per
    // copy) grows; fragmentation stays constant (8 small appends into
    // the FIRST day only — the hot write frontier). Full compact pays
    // O(history); the day-selective path must stay flat.
    if (sectionEnabled("compact")) {
      import graft.ingest.SamplesStore
      import org.apache.hadoop.fs.Path
      val samples0 = graft.sources.Tables.samples(spark, "/root/testdata/sf0.1")
      val spanDays = 30L // the corpus spans 30 days; shift per copy
      val hot = samples0.filter(col("ts_us") < lit(1704499200000000L)).limit(2000).cache()
      hot.count()
      for (m <- Seq(1, 2, 4)) {
        val path = s"/tmp/graft_scale/compact_m$m"
        val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
        def nDays = fs.listStatus(new Path(path))
          .count(s => s.isDirectory && s.getPath.getName.startsWith("date="))
        def fragment(): Unit =
          for (_ <- 0 until 8) SamplesStore.append(hot, path)
        fs.delete(new Path(path), true)
        SamplesStore.write(
          (0 until m).map(i => samples0.withColumn("ts_us",
            col("ts_us") + lit(i * spanDays * 86400L * 1000000L))).reduce(_ unionAll _),
          path)
        fragment()
        time(s"compactDays     m=$m days=$nDays")(
          SamplesStore.compactFragmentedDays(spark, path, maxFilesPerDay = 4).toLong)
        fragment()
        time(s"compactFull     m=$m days=$nDays")(
          { SamplesStore.compact(spark, path); nDays.toLong })
      }
    }
    spark.stop()
  }
}
