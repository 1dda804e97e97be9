package graft

import org.apache.spark.sql.functions._
import graft.llm.{Dedup, Multimodal, Sampling, Similarity, TextAnalysis}
import graft.sources.Tables

class LlmSpec extends SparkSpecBase {

  private lazy val docs = Tables.documents(spark, Sf).cache()
  private lazy val embs = Tables.embeddings(spark, Sf).cache()

  test("exact dedup keeps one row per distinct text") {
    val d = Dedup.exact(docs)
    assert(d.count() == docs.select("text").distinct().count())
    assert(d.agg(sum("n_copies")).first().getLong(0) == docs.count())
  }

  test("minhash LSH finds the planted near-duplicates") {
    val pairs = Dedup.ngramJaccard(docs, 0.8)
    assert(pairs.count() > 0, "expected planted near-dups at jaccard >= 0.8")
    // estimates correlate: every >=0.9-jaccard pair must be an LSH candidate
    val strong = pairs.filter(col("jaccard_e6") >= 950000).count()
    val est = Dedup.minhashLsh(docs).filter(col("est_sim_e6") >= 750000).count()
    assert(est >= strong, s"minhash est ($est) should cover strong pairs ($strong)")
  }

  test("minhashLsh leaves no cached relations behind (long-lived session safety)") {
    docs.count() // materialize the suite's own cache first
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Dedup.minhashLsh(docs).count()
    Dedup.minhashLsh(docs).count()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
    assert(leaked.isEmpty,
      s"repeated operator calls must not accumulate cached relations, leaked ids: $leaked")
  }

  test("simhash of identical texts is identical") {
    val sigs = Dedup.simhashSignatures(docs)
    val selfJoin = docs.select(col("doc_id"), col("text"))
      .join(docs.select(col("doc_id").as("doc_id2"), col("text")), "text")
      .filter(col("doc_id") < col("doc_id2"))
    val withSig = selfJoin
      .join(sigs, "doc_id")
      .join(sigs.select(col("doc_id").as("doc_id2"), col("simhash").as("simhash2")), "doc_id2")
    assert(withSig.filter(col("simhash") =!= col("simhash2")).count() == 0)
  }

  test("brute-force top-k is a superset of LSH top-k hits") {
    val bf = Similarity.bruteForceTopK(embs, 10, 500).select("query_id", "vec_id", "cos_sim_e6")
    val lsh = Similarity.lshTopK(embs, 10, 6, 10).select("query_id", "vec_id", "cos_sim_e6")
    // every LSH result must appear in the exhaustive scoring with the same score
    assert(lsh.exceptAll(bf).count() == 0)
  }

  test("greedy minhash keep is linear-output and consistent with LSH candidates") {
    val keep = Dedup.minhashKeep(docs).cache()
    // one row per shingled doc, keepers are their own representative
    val shingled = docs.filter(size(split(col("text"), " ")) >= 3).count()
    assert(keep.count() == shingled)
    assert(keep.filter(col("kept") === 1 && col("keep_id") =!= col("doc_id")).count() == 0)
    assert(keep.filter(col("keep_id") > col("doc_id")).count() == 0,
      "a representative must never have a larger id")
    // every dropped doc shares a band bucket with some smaller doc —
    // i.e. appears as doc_b in the LSH candidate pairs
    val dropped = keep.filter(col("kept") === 0).select(col("doc_id").as("doc_b"))
    val cands = Dedup.minhashLsh(docs).select("doc_b").distinct()
    assert(dropped.exceptAll(cands).count() == 0)
  }

  test("connected components follow duplicate chains to one representative") {
    import spark.implicits._
    // hand graph: a 1-2-3 chain and a separate 5-6 pair
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L))
      .toDF("doc_a", "doc_b")
    val comp = Dedup.components(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
    // a longer chain converges too (diameter > 2 exercises the loop)
    val chain = (1L to 8L).sliding(2).map(s => (s(0), s(1))).toSeq
      .toDF("doc_a", "doc_b")
    val c2 = Dedup.components(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c2 === (1L to 8L).map(_ -> 1L).toMap)
    // on the corpus: components refine minhashKeep — every doc kept
    // by components is kept by the greedy pass too (components only
    // MERGES further), and every component representative is the
    // cluster minimum
    val mc = Dedup.minhashComponents(docs).cache()
    assert(mc.count() === docs.count())
    assert(mc.filter(col("component") > col("doc_id")).count() === 0)
    val greedy = Dedup.minhashKeep(docs)
      .select(col("doc_id"), col("kept").as("gkept"))
    val joined = mc.join(greedy, "doc_id")
    assert(joined.filter(col("kept") === 1 && col("gkept") === 0).count() === 0,
      "components keep-set must be a subset of the greedy keep-set")
    mc.unpersist()
  }

  test("large-star/small-star equals min-label propagation on random graphs") {
    import spark.implicits._
    // property check over seeded random graphs: the two algorithms
    // must produce the IDENTICAL (doc_id, component) labeling —
    // both label every node with its component's minimum id
    val rnd = new scala.util.Random(20260815)
    for (trial <- 1 to 4) {
      val n = 30 + rnd.nextInt(60)
      val nEdges = n / 2 + rnd.nextInt(2 * n)
      val es = Seq.fill(nEdges)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val pairs = es.toDF("doc_a", "doc_b")
      val a = Dedup.components(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val b = Dedup.componentsStars(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(a === b, s"trial $trial (n=$n, edges=$nEdges) diverged")
    }
    // the adversarial shape: a pure chain (maximum diameter). Both
    // converge to all-1 labels; the star alternation does it in
    // O(log n) rounds by construction
    val chain = (1L to 64L).sliding(2).map(s => (s(0), s(1))).toSeq
      .toDF("doc_a", "doc_b")
    var starRounds = 0
    val sc2 = Dedup.componentsStars(chain, onRounds = starRounds = _)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sc2 === (1L to 64L).map(_ -> 1L).toMap)
    assert(starRounds <= 8, s"chain-64 took $starRounds star rounds")
    // singleton-free contract: a doc in no pair never appears; a
    // self-loop-only doc labels itself
    val selfish = Seq((9L, 9L)).toDF("doc_a", "doc_b")
    assert(Dedup.componentsStars(selfish).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap === Map(9L -> 9L))
  }

  test("token-budget slices nest, cover exactly, and ignore partitioning") {
    import graft.llm.Sampling
    def slice(budget: Long, shards: Int = 64) =
      Sampling.tokenBudget(docs, "doc_id", "order", budget, shards)
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    val small = slice(5000L)
    val big = slice(20000L)
    assert(small.nonEmpty && big.size > small.size)
    // a bigger budget keeps a strict SUPERSET with identical offsets
    assert(small.subsetOf(big))
    // the shard count never changes the answer (global-order contract)
    assert(slice(5000L, shards = 3) === small)
    // offsets tile the stream exactly: sorted by start, each doc
    // starts where the previous ended, from zero
    val ordered = big.toSeq.sortBy(_._2)
    assert(ordered.head._2 === 0L)
    assert(ordered.sliding(2).forall {
      case Seq((_, _, e1), (_, s2, _)) => e1 == s2
      case _ => true
    })
    // only the boundary doc may END past the budget
    assert(big.count(_._3 > 20000L) <= 1)
  }

  test("incremental dedup drops new docs sharing a bucket with the old corpus") {
    import spark.implicits._
    val inc = Dedup.incrementalKeep(docs, col("doc_id") % 3 === 0).cache()
    // one row per NEW doc, never an old one
    assert(inc.filter(col("doc_id") % 3 =!= 0).count() === 0)
    assert(inc.count() === docs.filter(col("doc_id") % 3 === 0).count())
    // planted: a new doc that copies an old doc's text must drop
    val oldText = docs.filter(col("doc_id") % 3 =!= 0)
      .orderBy(col("doc_id")).select(col("text")).head().getString(0)
    val planted = docs.select(col("doc_id"), col("text"))
      .unionByName(Seq((999999L, oldText)).toDF("doc_id", "text"))
    val out = Dedup.incrementalKeep(planted, col("doc_id") % 3 === 0)
      .filter(col("doc_id") === 999999L).collect()
    assert(out.length === 1 && out(0).getInt(1) === 0,
      "a copy of an old document must not be kept")
    inc.unpersist()
  }

  test("greedy embedding keep mirrors the near-dup candidate structure") {
    val keep = Similarity.embeddingKeep(embs, 4, 6).cache()
    assert(keep.count() == embs.count())
    assert(keep.filter(col("kept") === 1 && col("keep_id") =!= col("vec_id")).count() == 0)
    assert(keep.filter(col("keep_id") > col("vec_id")).count() == 0)
    // every dropped vector shares a band bucket with a smaller id —
    // i.e. appears as vec_b among the UNFILTERED banded candidates
    val dropped = keep.filter(col("kept") === 0).select(col("vec_id").as("vec_b"))
    val cands = Similarity.nearDupPairs(embs, 4, 6, threshold = -1.0)
      .select("vec_b").distinct()
    assert(dropped.exceptAll(cands).count() == 0)
  }

  test("IVF with a full probe set reproduces brute-force exactly") {
    // probing every inverted list == scanning every candidate, so the
    // IVF result must equal the exhaustive top-k bit-for-bit
    val ivf = Similarity.ivfTopK(embs, nQueries = 10, nCentroids = 16, nProbe = 16, k = 10)
    val bf = Similarity.bruteForceTopK(embs, nQueries = 10, k = 10)
    assert(ivf.exceptAll(bf).count() == 0 && bf.exceptAll(ivf).count() == 0)
  }

  test("IVF partial probe is a subset of exhaustive scoring with correct ranks") {
    val ivf = Similarity.ivfTopK(embs, nQueries = 10, nCentroids = 16, nProbe = 4, k = 10)
    val bfAll = Similarity.bruteForceTopK(embs, 10, 1000000)
      .select("query_id", "vec_id", "cos_sim_e6")
    assert(ivf.select("query_id", "vec_id", "cos_sim_e6").exceptAll(bfAll).count() == 0)
    val perQuery = ivf.groupBy("query_id").agg(count(lit(1)).as("n"), max("rank").as("mx"))
    assert(perQuery.filter(col("n") =!= col("mx")).count() == 0)
  }

  test("IVF-PQ is exact on a self-coded corpus; ranks dense on the real table") {
    import spark.implicits._
    // Integer-valued vectors make every dot/norm exact in double, so
    // fold grouping (8 segment dots vs one 64-lane fold) cannot
    // differ; candidates are COPIES of the codeword-source vectors
    // (ids 6..9), so PQ encodes each segment at d2 = 0 and the
    // reconstruction is the vector itself → full-probe IVF-PQ must
    // equal exhaustive brute force bit-for-bit, ties and all.
    def pat(i: Int): Seq[Float] =
      (0 until 64).map(j => ((j * (i + 1)) % 3 + 1).toFloat)
    val rows =
      (0 to 1).map(q => (q.toLong, s"q$q", pat(q + 7))) ++    // queries
      (2 to 15).map(v => (v.toLong, s"c$v", pat(v % 4)))      // candidates
    val corpus = rows.toDF("vec_id", "label", "embedding")
    val pq = Similarity.ivfPqTopK(corpus, nQueries = 2, nCentroids = 4,
      nProbe = 4, k = 5, m = 8, nCodes = 4)
    val bf = Similarity.bruteForceTopK(corpus, nQueries = 2, k = 5)
      .withColumnRenamed("cos_sim_e6", "adc_e6")
    assert(pq.exceptAll(bf).count() == 0 && bf.exceptAll(pq).count() == 0)
    // real table: dense ranks per query, deterministic across runs
    val a = Similarity.ivfPqTopK(embs, nQueries = 10, nCentroids = 16,
      nProbe = 4, k = 10)
    val perQuery = a.groupBy("query_id")
      .agg(count(lit(1)).as("n"), max("rank").as("mx"))
    assert(perQuery.filter(col("n") =!= col("mx")).count() == 0)
    val b = Similarity.ivfPqTopK(embs, nQueries = 10, nCentroids = 16,
      nProbe = 4, k = 10)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("top-k ranks are dense per query") {
    val bf = Similarity.bruteForceTopK(embs, 5, 10)
    val perQuery = bf.groupBy("query_id").agg(count(lit(1)).as("n"), max("rank").as("mx"))
    assert(perQuery.filter(col("n") =!= col("mx")).count() == 0)
  }

  test("decontamination flags copies of benchmark docs and covers every training doc") {
    import spark.implicits._
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),  // benchmark (id % 5 == 0)
      (1L, "alpha beta gamma delta epsilon zeta"),  // exact copy → contaminated
      (2L, "one two three four five six seven"),    // clean
      (3L, "x y alpha beta gamma delta z"),         // shares one 4-gram
      (4L, "tiny doc")                              // shorter than n → clean
    ).toDF("doc_id", "text")
    val out = Dedup.decontaminate(corpus, col("doc_id") % 5 === 0, n = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L), "one row per training doc, bench excluded")
    // doc 1 shares all 3 distinct 4-grams of the 6-word bench doc
    assert(out(1L) == (3L, 1))
    assert(out(2L) == (0L, 0))
    assert(out(3L) == (1L, 1))
    assert(out(4L) == (0L, 0))
  }

  test("ngram frequency counts every occurrence and respects the top-k bound") {
    import spark.implicits._
    val corpus = Seq(
      (0L, "a b a b c"),   // "a b"×2, "b a"×1, "b c"×1
      (1L, "a b")          // "a b"×1
    ).toDF("doc_id", "text")
    val out = TextAnalysis.ngramFreq(corpus, n = 2, k = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSet
    assert(out == Set("a b" -> 3L, "b a" -> 1L),
      "count-desc gram-asc: 'a b' 3×, then 'b a' before 'b c' at the k boundary")
  }

  test("cluster assignment covers every vector; centroids self-assign at cos=1") {
    val nCents = 16
    val assigned = Similarity.clusterAssign(embs, nCents).cache()
    assert(assigned.count() == embs.count(), "one row per vector")
    assert(assigned.filter(col("cent_id") >= nCents || col("cent_id") < 0).count() == 0)
    val selfs = assigned.filter(col("vec_id") < nCents)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(selfs.forall(s => s._1 == s._2 && s._3 == 1000000L),
      s"centroids must self-assign at cos_sim_e6=1000000, got ${selfs.mkString(",")}")
    assigned.unpersist()
  }

  test("k-means iterates deterministically and improves on the one-shot quantizer") {
    val k = 16
    val trained = Similarity.kmeans(embs, k, iters = 3).cache()
    assert(trained.count() == embs.count(), "one row per vector")
    assert(trained.filter(col("cent_id") >= k || col("cent_id") < 0).count() == 0)
    // determinism: a second run is row-identical (the exactness
    // discipline — integer centroid updates — makes the whole loop
    // reproducible, not just approximately repeatable)
    val again = Similarity.kmeans(embs, k, iters = 3)
    assert(trained.exceptAll(again).count() == 0 &&
      again.exceptAll(trained).count() == 0)
    // Lloyd improves (or at least never worsens) the clustering
    // objective vs the untrained one-shot quantizer: mean assigned
    // cosine must not decrease
    val oneShot = Similarity.clusterAssign(embs, k)
    def meanCos(df: org.apache.spark.sql.DataFrame): Double =
      df.agg(avg(col("cos_sim_e6"))).first().getDouble(0)
    assert(meanCos(trained) >= meanCos(oneShot),
      "training must not worsen the mean assigned cosine")
    // zero iterations IS the one-shot quantizer's assignment shape
    val zero = Similarity.kmeans(embs, k, iters = 0)
    assert(zero.select("vec_id", "cent_id").exceptAll(
      oneShot.select("vec_id", "cent_id")).count() == 0)
    trained.unpersist()
  }

  test("SemDeDup keeps the lowest id per semantic duplicate group, cluster-scoped") {
    import spark.implicits._
    // a synthetic corpus with a KNOWN semantic structure: vecs 0-2
    // near-identical (tiny perturbations of one direction), vec 3
    // its exact negation (same cluster by |cos|? no — cosine -1 →
    // different cluster/keeps), vecs 4-5 an unrelated near-dup pair
    def unit(dir: Int, eps: Double): Seq[Float] =
      (0 until 64).map(i =>
        (if (i == dir) 1.0 else 0.0) + (if (i == (dir + 1) % 64) eps else 0.0))
        .map(_.toFloat)
    val embs = Seq(
      (0L, unit(0, 0.0)), (1L, unit(0, 0.01)), (2L, unit(0, 0.02)),
      (3L, unit(0, 0.0).map(-_)),
      (4L, unit(7, 0.0)), (5L, unit(7, 0.015))
    ).toDF("vec_id", "embedding")
    // k=2: Lloyd pulls cluster 0 toward the dir-7 pair + the
    // negation (cos ties at 0 break to the lower cent), cluster 1
    // collects the dir-0 family — so the ε-ball drops are 1, 2
    // (dups of 0) and 5 (dup of 4); the negation keeps (cos −1)
    val out = Similarity.semanticKeep(embs, k = 2, iters = 2, tauE6 = 990000L)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(out === Map(0L -> 1, 1L -> 0, 2L -> 0, 3L -> 1, 4L -> 1, 5L -> 0),
      s"lowest id per ε-ball keeps; negation and group heads keep: $out")
  }

  test("trained IVF: Lloyd centroids recall the family top-1 at nProbe=1") {
    import spark.implicits._
    def unit(dir: Int, eps: Double): Seq[Float] =
      (0 until 64).map(i =>
        (if (i == dir) 1.0 else 0.0) + (if (i == (dir + 1) % 64) eps else 0.0))
        .map(_.toFloat)
    // two query vectors (one per family direction), candidates
    // interleaved by parity so the k=2 init (lowest candidate ids
    // 2 and 3) starts one centroid in each family
    val embs = (Seq((0L, unit(0, 0.005)), (1L, unit(7, 0.005))) ++
      (2 until 62).map(i => (i.toLong,
        unit(if (i % 2 == 0) 0 else 7, 0.01 * ((i / 2) % 5)))))
      .toDF("vec_id", "embedding")
      .withColumn("label", lit("x")) // prepared()'s carried column
    val out = Similarity.ivfTrainedTopK(embs, nQueries = 2, k = 2,
      iters = 2, nProbe = 1, topK = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    // nProbe=1 under the trained quantizer: each query's results all
    // come from ITS family's inverted list
    val q0 = out.filter(_._1 == 0L).map(_._2)
    val q1 = out.filter(_._1 == 1L).map(_._2)
    assert(q0.nonEmpty && q0.forall(id => id >= 2 && id % 2 == 0), s"q0: ${q0.toSeq}")
    assert(q1.nonEmpty && q1.forall(id => id >= 2 && id % 2 == 1), s"q1: ${q1.toSeq}")
    // the recall claim: trained-IVF top-1 at nProbe=1 equals the
    // exhaustive answer on this clusterable geometry
    val bf = Similarity.bruteForceTopK(embs, 2, 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val t1 = out.filter(_._3 == 1).map(t => (t._1, t._2)).toMap
    assert(t1 === bf, s"trained IVF top-1 must match brute force: $t1 vs $bf")
  }

  test("SemDeDup salts a pathological cluster: bounded blocks, same keep/drop") {
    import spark.implicits._
    def unit(dir: Int, eps: Double): Seq[Float] =
      (0 until 64).map(i =>
        (if (i == dir) 1.0 else 0.0) + (if (i == (dir + 1) % 64) eps else 0.0))
        .map(_.toFloat)
    // ONE runaway cluster (k=1 forces every vector into it): ids
    // 0-29 are near-dups of 0, ids 30-59 near-dups of 30 (dir 0 ⊥
    // dir 7, cosine 0 — the two families never cross-drop)
    val embs = ((0 until 30).map(i => (i.toLong, unit(0, 0.0001 * i))) ++
      (30 until 60).map(i => (i.toLong, unit(7, 0.0001 * (i - 30)))))
      .toDF("vec_id", "embedding")
    def run(saltTarget: Int) =
      Similarity.semanticKeep(embs, k = 1, iters = 1, tauE6 = 990000L,
        saltTarget = saltTarget)
    // saltTarget 7 forces ⌈60/7⌉ = 9 sub-blocks; a huge target is
    // the unsalted baseline — keep/drop must be bit-identical
    val salted = run(7).collect()
      .map(r => (r.getLong(0), r.getInt(2))).sortBy(_._1).toSeq
    val unsalted = run(1000000).collect()
      .map(r => (r.getLong(0), r.getInt(2))).sortBy(_._1).toSeq
    assert(salted === unsalted, "salting must not change keep/drop")
    assert(salted.filter(_._2 == 1).map(_._1) === Seq(0L, 30L),
      s"each family keeps its lowest id: $salted")
    // the salted plan is active (id-mod salt in the join keys), and
    // the deterministic id-mod spread bounds every sub-block — and
    // with it the per-partition pair count — at c·saltTarget not c²
    assert(run(7).queryExecution.optimizedPlan.toString.contains("pmod"),
      "the sub-block salt must reach the plan")
    val nSalt = math.ceil(60.0 / 7).toLong
    val blockSizes = (0L until 60L).groupBy(_ % nSalt).values.map(_.size)
    assert(blockSizes.max <= 7, s"id-mod must spread the cluster: $blockSizes")
  }

  test("langid scores and quality features are sane") {
    val lang = TextAnalysis.langId(docs)
    assert(lang.filter(col("pred_lang").isin("en", "es", "de", "fr", "und")).count() == docs.count())
    val q = TextAnalysis.quality(docs)
    assert(q.filter(col("quality_score_e6") < 0 || col("quality_score_e6") > 1000000).count() == 0)
  }

  test("pii scrub counts and redacts emails, IPs, digit runs; clean docs untouched") {
    import spark.implicits._
    val d = Seq(
      (1L, "reach me at bob.smith+x@mail-svc.co.uk or 192.168.0.1 ref 12345678 end"),
      (2L, "nothing sensitive here at all"),
      (3L, "a@b.io a@c.io")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.piiScrub(d).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getInt(3))).toMap
    assert(out(1L) == ((1, 1, 1)))
    assert(out(2L) == ((0, 0, 0)))
    assert(out(3L) == ((2, 0, 0)))
    // clean doc's scrubbed md5 equals the md5 of the original text
    val clean = TextAnalysis.piiScrub(d).filter(col("doc_id") === 2L)
      .select(col("scrubbed_md5")).first().getString(0)
    val direct = d.filter(col("doc_id") === 2L)
      .select(md5(col("text"))).first().getString(0)
    assert(clean == direct)
  }

  test("repetition features: hand-checked ratios on a degenerate doc") {
    import spark.implicits._
    val d = Seq(
      (1L, "spam spam spam spam"),          // 4 words, 1 distinct, 3 grams all equal
      (2L, "all words here are different")  // 5 words, 5 distinct, 4 distinct grams
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetition(d).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getInt(6), r.getLong(7))).toMap
    //           n_words n_distinct ratio_e6  top  top_frac  n_grams dup_frac
    assert(out(1L) == ((4, 1, 250000L, 4L, 1000000L, 3, 666666L)))
    assert(out(2L) == ((5, 5, 1000000L, 1L, 200000L, 4, 0L)))
  }

  test("fingerprint is deterministic and order-sensitive") {
    val fp1 = TextAnalysis.fingerprint(docs).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val fp2 = TextAnalysis.fingerprint(docs).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(fp1 == fp2)
  }

  test("repeated-span scrub removes frequent chunks, keeps order, counts exactly") {
    import spark.implicits._
    // window=2: "a b" appears in docs 1, 2, 3 (3 occurrences → scrub
    // at minCount=3); "x y" only twice (survives)
    val corpus = Seq(
      (1L, "a b x y"),
      (2L, "p q a b x y"),
      (3L, "a b"),
      (4L, "solo words only here")
    ).toDF("doc_id", "text")
    val out = Dedup.scrubRepeatedSpans(corpus, window = 2, minCount = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) === (("x y", 2L, 1L)))
    assert(out(2L) === (("p q x y", 3L, 1L))) // order preserved
    assert(out(3L) === (("", 1L, 1L)))        // fully scrubbed → empty
    assert(out(4L) === (("solo words only here", 2L, 0L)))
    // with nothing frequent the scrub is the identity
    val noop = Dedup.scrubRepeatedSpans(corpus, window = 2, minCount = 9)
      .join(corpus, Seq("doc_id"))
    assert(noop.filter(col("n_removed") =!= 0L).count() === 0L)
    assert(noop.filter(col("text_clean") =!= col("text")).count() === 0L)
    // the corpus-level invariant on the real table: clean text never
    // grows, and removed + kept chunk counts reconcile
    val real = Dedup.scrubRepeatedSpans(docs)
    assert(real.filter(length(col("text_clean")) > lit(0)).count() > 0)
    assert(real.filter(col("n_removed") < 0L || col("n_removed") > col("n_chunks")).count() === 0L)
  }

  test("full multilingual pipeline: gates hold, one tempered rate per language") {
    import graft.llm.CorpusPrep
    val out = CorpusPrep.prepareFull(docs).cache()
    assert(out.count() > 0)
    // the quality floor survives composition
    assert(out.filter(col("quality_score_e6") < 500000L).count() === 0)
    // exactly one keep rate per language, and dedup kept min ids only
    val perLang = out.groupBy("pred_lang")
      .agg(countDistinct(col("keep_rate")).as("nr"))
    assert(perLang.filter(col("nr") =!= 1L).count() === 0)
    assert(out.filter(!col("split").isin("train", "val", "test")).count() === 0)
    // deterministic end to end
    val again = CorpusPrep.prepareFull(docs)
    assert(out.exceptAll(again).count() === 0 &&
      again.exceptAll(out).count() === 0)
    out.unpersist()
  }

  test("temperature mixing flattens head domains; α=1 at full budget keeps all") {
    import spark.implicits._
    // 400 head + 100 tail docs: raw shares 80/20; at α=1/2 the
    // tempered shares are √400:√100 = 2:1, so with budget 500‰
    // (250 target docs) head rate = 250·(2/3)/400 = 416‰ and tail
    // rate = 250·(1/3)/100 = 833‰ — the tail keeps proportionally
    // MORE of itself
    val corpus = ((1 to 400).map(i => (i.toLong, "head")) ++
      (401 to 500).map(i => (i.toLong, "tail"))).toDF("doc_id", "grp")
    val out = Sampling.temperatureMixture(corpus, "grp", "doc_id", "t",
      alphaQuarters = 2, budgetPermille = 500)
    val rates = out.select("grp", "keep_rate").distinct()
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(rates("head") === 416 && rates("tail") === 833, rates)
    // kept sets follow the hash exactly — deterministic across runs
    val again = Sampling.temperatureMixture(corpus, "grp", "doc_id", "t",
      alphaQuarters = 2, budgetPermille = 500)
    assert(out.exceptAll(again).count() === 0)
    // α = 1 with a full budget is the identity mixture
    val all = Sampling.temperatureMixture(corpus, "grp", "doc_id", "t",
      alphaQuarters = 4, budgetPermille = 1000)
    assert(all.count() === 500)
    // α = 1/4 flattens harder than α = 1/2
    val harder = Sampling.temperatureMixture(corpus, "grp", "doc_id", "t",
      alphaQuarters = 1, budgetPermille = 500)
      .select("grp", "keep_rate").distinct()
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(harder("tail") > rates("tail") && harder("head") < rates("head"),
      harder)
  }

  test("gopher rule gate: each rule trips on its own violation, pass is the conjunction") {
    import spark.implicits._
    val en = TextAnalysis.StopWords.head._2
    val fill = Seq.fill(50)("word").mkString(" ")
    val corpus = Seq(
      (1L, s"the a $fill"),                                   // all pass
      (2L, "the a word word word"),                           // too short
      (3L, "the a " + Seq.fill(50)("tremendousness").mkString(" ")), // mean len > 10
      (4L, "the a " + Seq.fill(10)("#tag").mkString(" ") + " " +
        Seq.fill(42)("word").mkString(" ")),                  // symbol ratio > 0.1
      (5L, fill),                                             // < 2 stopwords
      (6L, "the a " + Seq.fill(15)("123").mkString(" ") + " " +
        Seq.fill(35)("word").mkString(" "))                   // alpha words < 80%
    ).toDF("doc_id", "text")
    val out = TextAnalysis.gopherRules(corpus, minWords = 20, stops = en)
      .collect().map(r => r.getLong(0) -> ((r.getInt(2), r.getInt(3),
        r.getInt(4), r.getInt(5), r.getInt(6), r.getInt(7)))).toMap
    // (word_count, mean_word_len, alpha_words, symbol_ratio, stopwords, pass)
    assert(out(1L) === ((1, 1, 1, 1, 1, 1)))
    assert(out(2L) === ((0, 1, 1, 1, 1, 0)))
    assert(out(3L)._2 === 0); assert(out(3L)._6 === 0)
    assert(out(4L)._4 === 0); assert(out(4L)._6 === 0)
    assert(out(5L)._5 === 0); assert(out(5L)._6 === 0)
    assert(out(6L)._3 === 0); assert(out(6L)._6 === 0)
  }

  test("repeated-substring spans: any-alignment discovery, maximal merge, distinct-doc gate") {
    import spark.implicits._
    // window=3, minDocs=2. Docs 1/2 share "b c d e" at DIFFERENT
    // alignments (doc 2 shifts by one) — the chunk grid would miss
    // it, stride-1 windows catch it: shared 3-grams "b c d", "c d e".
    val corpus = Seq(
      (1L, "a b c d e x"),
      (2L, "z b c d e"),
      // doc 3 repeats a 3-gram only WITHIN itself — not boilerplate
      (3L, "m n o m n o"),
      (4L, "totally unique words here")
    ).toDF("doc_id", "text")
    val out = Dedup.repeatedSubstringSpans(corpus, window = 3, minDocs = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    // doc 1: windows at pos 1 ("b c d") and 2 ("c d e") merge into
    // one maximal span [1, 5); doc 2: pos 1, 2 → [1, 5)
    assert(out === Set((1L, 1L, 5L, 2L), (2L, 1L, 5L, 2L)))
    // raising minDocs above any sharing leaves nothing
    assert(Dedup.repeatedSubstringSpans(corpus, window = 3, minDocs = 3)
      .count() === 0L)
    // real-table invariants: spans are well-formed and ≥ window wide
    val real = Dedup.repeatedSubstringSpans(docs)
    assert(real.filter(col("span_end") - col("span_start") < 8L).count() === 0L)
    assert(real.filter(col("span_start") < 0L).count() === 0L)
  }

  test("hot-bucket cap bounds candidate pairs on a degenerate corpus") {
    import spark.implicits._
    // 200 identical documents: every LSH band bucket is one hot bucket
    // of 200 rows → uncapped candidate generation is 200·199/2 pairs.
    val text = "the same boilerplate text repeated across the corpus forever"
    val skewed = (0L until 200L).map(i => (i, text)).toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
    val uncapped = Dedup.minhashLsh(skewed)
    assert(uncapped.count() == 200L * 199L / 2)
    // cap below the bucket size → ALL hot buckets drop; no pairs leak.
    assert(Dedup.minhashLsh(skewed, maxBucket = 100).count() == 0)
    assert(Dedup.simhashPairs(skewed, 8, maxBucket = 100).count() == 0)
    assert(Dedup.ngramJaccard(skewed, 0.0, maxBucket = 100).count() == 0)
    // a mixed corpus: hot bucket drops, distinct docs still pair up
    // when they share a non-hot bucket (identical pair 1000/1001).
    val mixed = skewed.unionByName(
      Seq((1000L, "a genuinely unique document about spark physical plans"),
          (1001L, "a genuinely unique document about spark physical plans"))
        .toDF("doc_id", "text").withColumn("n_chars", length(col("text"))))
    val guarded = Dedup.minhashLsh(mixed, maxBucket = 100)
    assert(guarded.count() == 1)
    assert(guarded.select("doc_a", "doc_b").as[(Long, Long)].first() == ((1000L, 1001L)))
  }

  test("embedding near-dup bucket cap bounds a degenerate bucket") {
    import spark.implicits._
    // identical embeddings → identical signatures → one hot bucket/band
    val vec = (0 until 64).map(i => (i % 7).toFloat / 7f)
    val skewed = (0L until 100L).map(i => (i, "x", vec)).toDF("vec_id", "label", "embedding")
    assert(Similarity.nearDupPairs(skewed, 4, 6, 0.0).count() == 100L * 99L / 2)
    assert(Similarity.nearDupPairs(skewed, 4, 6, 0.0, maxBucket = 50).count() == 0)
  }

  test("frame sampling emits every k-th fixed-size slice, content-hashed") {
    val frames = Multimodal.frameSample(Multimodal.packFromDocuments(docs),
      frameBytes = 64, everyK = 2).cache()
    assert(frames.filter(expr("frame_idx % 2 != 0")).count() == 0)
    assert(frames.filter(col("frame_len") > 64 || col("frame_len") <= 0).count() == 0)
    // frame count per doc matches ceil(len/64) decimated by 2
    val expected = docs.select(col("doc_id"),
      expr("CAST(ceil(length(text) / 64.0) AS BIGINT)").as("nf"))
      .select(sum(expr("(nf + 1) DIV 2"))).first().getLong(0)
    assert(frames.count() == expected)
    // hashes are the portable scheme (re-derivable from the text)
    val one = frames.filter(col("frame_idx") === 0)
      .join(docs.filter(length(col("text")) >= 64), "doc_id")
      .select(col("frame_h"), col("text")).limit(1).first()
    assert(one.getLong(0) == graft.llm.Portable.hash60(one.getString(1).substring(0, 64)))
  }

  test("frame hashing is byte-exact on non-UTF8 binary payloads") {
    import spark.implicits._
    // two distinct invalid-UTF-8 payloads that a String round-trip
    // would both collapse to U+FFFD — byte hashing must distinguish
    val a = Array[Byte](-1, -2, 0x41)
    val b = Array[Byte](-3, -4, 0x41)
    assert(new String(a, java.nio.charset.StandardCharsets.UTF_8) ==
           new String(b, java.nio.charset.StandardCharsets.UTF_8))
    val media = Seq((1L, a), (2L, b)).toDF("doc_id", "payload")
    val hs = Multimodal.frameSample(media, frameBytes = 256, everyK = 1)
      .select("frame_h").as[Long].collect().toSet
    assert(hs.size == 2, "distinct binary frames must hash distinctly")
    assert(hs.contains(graft.llm.Portable.hash60Bytes(a)))
  }

  test("multimodal stub decode is deterministic with real binary plumbing") {
    val media = Multimodal.packFromDocuments(docs)
    assert(media.schema("payload").dataType.typeName == "binary")
    val f1 = Multimodal.extractFeatures(media).orderBy("doc_id").collect()
    val f2 = Multimodal.extractFeatures(media).orderBy("doc_id").collect()
    assert(f1.sameElements(f2))
    assert(f1.length == docs.count())
  }

  test("deterministic splits are stable, partition-invariant, and exhaustive") {
    import graft.llm.Sampling
    val n = docs.count()
    def splits(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, String)] =
      Sampling.withSplit(df, "doc_id").select("doc_id", "bucket", "split")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    val s1 = splits(docs)
    // identical under a different partitioning — Dataset.sample fails this
    assert(s1 == splits(docs.repartition(17)))
    assert(s1.size == n, "every row gets exactly one split")
    val byS = s1.values.groupBy(_._2).view.mapValues(_.size).toMap
    // 80/10/10 permille targets; the corpus is small, allow slack
    assert(byS("train") > byS("val") && byS("train") > byS("test"))
    assert(Set("train", "val", "test").subsetOf(byS.keySet))
    assert(s1.values.forall { case (b, sp) =>
      (b < 800) == (sp == "train") && (b >= 900) == (sp == "test") })
  }

  test("keyed samples are reproducible, salt-independent, and composable") {
    import graft.llm.Sampling
    def ids(salt: String, permille: Int): Set[Long] =
      Sampling.sampleByKey(docs, "doc_id", salt, permille)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val a = ids("s1", 100)
    assert(a == ids("s1", 100), "same salt+rate must reproduce exactly")
    assert(ids("s1", 50).subsetOf(a), "lower rate under the same salt nests")
    assert(a != ids("s2", 100), "a different salt draws an independent sample")
    assert(a.nonEmpty && a.size < docs.count(), "a 10% sample is a strict non-empty subset")
  }

  test("domain mixture keeps per-source rates, nests, and composes with keyed samples") {
    import graft.llm.Sampling
    def mix(rates: Map[String, Int], dflt: Int): Set[Long] =
      Sampling.sampleMixture(docs, "source", "doc_id", "mix", rates, dflt)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    // rate 1000 keeps a source entirely; rate 0 default drops the rest
    val only0 = mix(Map("src0" -> 1000), 0)
    val src0All = docs.filter(col("source") === "src0")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(only0 === src0All)
    // a source's lower rate nests inside its higher rate (same salt)
    val hi = mix(Map("src1" -> 600), 0)
    val lo = mix(Map("src1" -> 300), 0)
    assert(lo.subsetOf(hi) && lo.size < hi.size)
    // the mixture's kept set under salt s is exactly the per-source
    // union of sampleByKey keeps — mixtures COMPOSE with splits
    val viaMixture = mix(Map("src2" -> 400), 0)
    val viaSample = Sampling.sampleByKey(
        docs.filter(col("source") === "src2"), "doc_id", "mix", 400)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaMixture === viaSample)
    // keep_rate is emitted per row and matches the mixture table
    val rates = Sampling.sampleMixture(docs, "source", "doc_id", "mix",
        Map("src3" -> 1000), 200)
      .select("source", "keep_rate").distinct().collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(rates("src3") === 1000)
    assert(rates.filter(_._1 != "src3").values.toSet === Set(200))
  }

  test("int8 quantization: exact scale, saturated max element, bounded error") {
    import graft.llm.Similarity
    val q = Similarity.quantizeInt8(embs)
    val rows = q.collect()
    assert(rows.length == embs.count())
    rows.foreach { r =>
      val qv = r.getSeq[Int](2)
      assert(qv.forall(v => v >= -127 && v <= 127), "int8 range")
      assert(qv.exists(v => math.abs(v) == 127),
        "the max-|x| element must saturate to ±127")
    }
    // dequantization error ≤ scale/2 per element, against the source
    import spark.implicits._
    val joined = q.join(embs, Seq("vec_id"))
      .select(col("vec_id"), col("scale_e6"), col("qvec"),
        col("embedding").cast("array<double>").as("vec"))
      .as[(Long, Long, Seq[Int], Seq[Double])].collect()
    joined.foreach { case (_, scaleE6, qv, vec) =>
      val mx = vec.map(math.abs).max
      val scale = mx / 127.0
      qv.zip(vec).foreach { case (qi, xi) =>
        assert(math.abs(qi * scale - xi) <= scale / 2 + 1e-9,
          s"dequant error: q=$qi x=$xi scale=$scale")
      }
      assert(scaleE6 === math.floor(scale * 1e6 + 0.5).toLong)
    }
    // an all-zero vector quantizes to zeros with scale 0
    val z = Similarity.quantizeInt8(
      Seq((99L, Array.fill(8)(0.0f), 0)).toDF("vec_id", "embedding", "label"))
      .collect().head
    assert(z.getLong(1) === 0L && z.getSeq[Int](2).forall(_ == 0))
  }

  test("stratified sample enforces the per-group quota, deterministically and group-locally") {
    import graft.llm.Sampling
    def pick(df: org.apache.spark.sql.DataFrame): Map[String, Seq[Long]] =
      Sampling.stratifiedSample(df, "lang", "doc_id", "strat", 10)
        .select("lang", "doc_id").collect()
        .groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(1)).toSeq.sorted).toMap
    val base = pick(docs)
    val groupSizes = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    base.foreach { case (lang, ids) =>
      assert(ids.size == math.min(10L, groupSizes(lang)),
        s"$lang quota: got ${ids.size}, group size ${groupSizes(lang)}")
    }
    assert(base == pick(docs.repartition(7)), "picks are partitioning-invariant")
    // dropping one group leaves every other group's picks unchanged
    val without = pick(docs.filter(col("lang") =!= base.keys.head))
    assert(without == base - base.keys.head, "group picks are independent")
  }

  test("stratified skew thinning never changes the pick set") {
    import spark.implicits._
    import graft.llm.Sampling
    // a 90%-one-group corpus: 9000 rows in 'en', a few hundred spread
    // over the tail — the window-straggler shape the hash-threshold
    // pre-thin exists for (perGroup=3 → trigger at 384, so 'en' and
    // ONLY 'en' thins: expected survivors 192 of 9000)
    val skewed = (0L until 9000L).map(i => (i, "en")) ++
      (9000L until 9300L).map(i => (i, Seq("de", "fr", "ja")(((i % 3)).toInt)))
    val df = skewed.toDF("doc_id", "lang")
    def picks(thin: Boolean): Set[(String, Long, Int)] =
      Sampling.stratifiedSample(df, "lang", "doc_id", "skewsalt", 3,
          skewThin = thin)
        .select("lang", "doc_id", "srank").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    val thinned = picks(true)
    val full = picks(false)
    // identical rows AND identical ranks — the threshold keeps a
    // superset of every pick in the same hash order
    assert(thinned === full)
    assert(thinned.count(_._1 == "en") === 3)
    // quota larger than a small group: thinning must not starve it
    val tiny = Sampling.stratifiedSample(df, "lang", "doc_id", "skewsalt",
        200, skewThin = true)
      .filter(col("lang") === "de").count()
    assert(tiny === df.filter(col("lang") === "de").count())
  }

  test("chunk windows: stride coverage, boundaries, md5 identity") {
    import spark.implicits._
    import graft.llm.TextAnalysis
    val words100 = (0 until 100).map(i => s"w$i").mkString(" ")
    val tiny = Seq((1L, words100, "en", "s", 0L), (2L, "solo", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextAnalysis.chunkWindows(tiny).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4))).sortBy(t => (t._1, t._2))
    // doc 1: starts 0/48/96, the tail window simply shorter
    assert(got.map(t => (t._1, t._2, t._3, t._4)).toSeq === Seq(
      (1L, 0L, 0L, 64L), (1L, 1L, 48L, 52L), (1L, 2L, 96L, 4L),
      (2L, 0L, 0L, 1L)))
    // every word is covered by some chunk (stride < window)
    assert(got.filter(_._1 == 1L).map(t => (t._3, t._3 + t._4))
      .foldLeft(0L) { case (cov, (s, e)) =>
        assert(s <= cov, "no gap"); math.max(cov, e)
      } === 100L)
    // the md5 is the chunk text's identity, recomputable from bounds
    def m(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got.head._5 === m((0 until 64).map(i => s"w$i").mkString(" ")))
    assert(got.last._5 === m("solo"))
  }

  test("perplexity: corpus bigram LM cross-entropy and the CCNet buckets") {
    import spark.implicits._
    import graft.llm.TextAnalysis
    // bigrams: (a,b)×3 across docs 1+2, (b,a)×1, (z,q)×1;
    // prev counts a=3, b=1, z=1; vocabulary {a,b,z,q} → V=4, α=0.5
    val tiny = Seq(
      (1L, "a b a b", "en", "s", 7L),
      (2L, "a b", "en", "s", 3L),
      (3L, "z q", "en", "s", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    def lp(cb: Long, cp: Long): Double =
      math.log((cb + 0.5) / (cp + 0.5 * 4)) / math.log(2.0)
    def snap(h: Double): Double =
      BigDecimal(h).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val hAB = lp(3, 3)  // P(b|a) = 3.5/5
    val hBA = lp(1, 1)  // P(a|b) = 1.5/3 = 0.5 → exactly −1
    val hZQ = lp(1, 1)
    val expected = Map(
      1L -> (3L, snap(-(hAB + hBA + hAB) / 3)),
      2L -> (1L, snap(-hAB)),
      3L -> (1L, snap(-hZQ)))
    val got = TextAnalysis.perplexity(tiny).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got === expected)
    assert(got(3L)._2 === 1.0, "P=0.5 per bigram is exactly 1 bit")
    // CCNet terciles within the language: the fluent doc heads, the
    // out-of-distribution one tails
    val buckets = TextAnalysis.perplexityBuckets(tiny).collect()
      .map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(buckets === Map(1L -> "middle", 2L -> "head", 3L -> "tail"))
    // on the real corpus: every doc scored, terciles near-balanced
    // per language (ties on snapped scores can lean a bucket)
    val real = TextAnalysis.perplexityBuckets(docs)
    assert(real.count() === docs.filter(
      expr("size(split(coalesce(text, ''), ' ')) >= 2")).count())
    val byBucket = real.groupBy(col("lang"), col("bucket")).count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val langs = byBucket.keys.map(_._1).toSet
    langs.foreach { l =>
      val h = byBucket.getOrElse((l, "head"), 0L)
      val t = byBucket.getOrElse((l, "tail"), 0L)
      val m = byBucket.getOrElse((l, "middle"), 0L)
      val n = h + m + t
      assert(h > 0 && m > 0 && t > 0, s"$l: $h/$m/$t")
      assert(h <= n / 2 && t <= n / 2, s"terciles, not halves: $l $h/$m/$t")
    }
  }

  test("tfidf keywords rank rare terms above common ones, exactly k per doc") {
    import graft.llm.TextAnalysis
    import spark.implicits._
    // "rare" appears once in one doc; "common" in every doc
    val corpus = Seq(
      (1L, "common rare common"),
      (2L, "common a b c d"),
      (3L, "common e f g h")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfKeywords(corpus, k = 2)
      .select("doc_id", "word", "score_e6", "rk").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.count(_._1 == 1L) === 2)
    // doc 1: rare (tf 1/3, df 1, N 3) → 333333·3 = 999999 beats
    // common (tf 2/3, df 3) → 666666·3/3 = 666666
    assert(out.contains((1L, "rare", 999999L, 1L)))
    assert(out.contains((1L, "common", 666666L, 2L)))
    // full-corpus shape: exactly 5 per doc at the default k
    val full = TextAnalysis.tfidfKeywords(docs)
    val perDoc = full.groupBy("doc_id").count().select("count").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(perDoc.forall(_ <= 5) && perDoc.contains(5L))
  }

  test("sequence packing is a per-shard running chunking, gapless and exact") {
    import graft.llm.Sampling
    val out = Sampling.packSequences(docs, capacityTokens = 64, shards = 4)
    val rows = out.collect()
    assert(rows.length === docs.count())
    // offsets within each shard are gapless: sorted by doc_id, each
    // start equals the previous end
    rows.groupBy(_.getLong(1)).foreach { case (shard, rs) =>
      val sorted = rs.sortBy(_.getLong(0))
      sorted.foldLeft(0L) { (expectStart, r) =>
        assert(r.getLong(3) === expectStart,
          s"shard $shard doc ${r.getLong(0)} offset gap")
        expectStart + r.getLong(2)
      }
    }
    // chunk span matches the offsets arithmetic
    rows.foreach { r =>
      val (n, start, first, last, nchunks) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      assert(first === start / 64 && last === (start + n - 1) / 64 &&
        nchunks === last - first + 1)
    }
    // a straddling doc spans > 1 chunk somewhere in a 64-token stream
    assert(rows.exists(_.getLong(6) > 1L))
  }

  test("line dedup: df threshold, order-preserving reassembly, all-boiler doc") {
    import spark.implicits._
    import graft.llm.Dedup
    def m(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // "banner" in 3 docs (>= minDf=3, scrubbed), "footer" in 2 (kept);
    // doc 4 is banner-only; duplicate lines WITHIN doc 1 count once
    // toward df (countDistinct) but both copies are scrubbed
    val tiny = Seq(
      (1L, "banner\nalpha one\nbanner\nfooter", "en", "s", 0L),
      (2L, "banner\nbeta two\nfooter", "en", "s", 0L),
      (3L, "gamma three\nbanner", "en", "s", 0L),
      (4L, "banner", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = Dedup.lineDedup(tiny, minDf = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) null else r.getString(4)))
      .sortBy(_._1)
    assert(got.map(t => (t._1, t._2, t._3, t._4)).toSeq === Seq(
      (1L, 4L, 2L, 500000L), (2L, 3L, 2L, 666666L),
      (3L, 2L, 1L, 500000L), (4L, 1L, 0L, 0L)))
    // survivors keep original order (alpha one BEFORE footer)
    assert(got(0)._5 === m("alpha one\nfooter"))
    assert(got(1)._5 === m("beta two\nfooter"))
    assert(got(2)._5 === m("gamma three"))
    assert(got(3)._5 === null) // nothing survived
    // below-threshold corpus: nothing scrubbed, md5 is the full text
    val none = Dedup.lineDedup(tiny, minDf = 5).collect()
    assert(none.forall(r => r.getLong(1) === r.getLong(2)))
  }

  test("zipf fit: exact power law recovers slope -1, corpus slope negative") {
    import spark.implicits._
    import graft.llm.TextAnalysis
    // counts 12/6/4/3 at ranks 1..4: c·r = 12 exactly, so
    // ln c = ln 12 − ln r — OLS must recover slope −1, intercept ln 12
    val text = (Seq.fill(12)("w1") ++ Seq.fill(6)("w2") ++
      Seq.fill(4)("w3") ++ Seq.fill(3)("w4")).mkString(" ")
    val tiny = Seq((1L, text, "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextAnalysis.zipfFit(tiny).collect().head
    assert(r.getLong(0) === 4L)
    assert(r.getDouble(1) === -1.0)
    assert(r.getDouble(2) === BigDecimal(math.log(12.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // the synthetic corpus is word salad over a small vocab — still
    // rank-decreasing, so the fitted slope is negative
    val c = TextAnalysis.zipfFit(docs).collect().head
    assert(c.getLong(0) > 0L && c.getDouble(1) < 0.0)
  }

  test("ann recall eval: hand-built overlap, self-recall is exactly 1") {
    import spark.implicits._
    import graft.llm.Similarity
    val exact = Seq((0L, 10L), (0L, 11L), (0L, 12L),
      (1L, 20L), (1L, 21L), (1L, 22L)).toDF("query_id", "vec_id")
    // approx finds 2 of 3 for q0, none for q1
    val approx = Seq((0L, 10L), (0L, 11L), (0L, 99L),
      (1L, 98L), (1L, 97L), (1L, 96L)).toDF("query_id", "vec_id")
    val got = Similarity.annRecall(exact, approx).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(got.toSeq === Seq((0L, 2L, 666666L), (1L, 0L, 0L)))
    // the real legs: brute force against itself recalls exactly 1
    val bf = Similarity.bruteForceTopK(embs, nQueries = 10, k = 10)
    val self = Similarity.annRecall(bf, bf).collect()
    assert(self.length === 10 && self.forall(_.getLong(2) === 1000000L))
  }

  test("resize pool: exact bucket means on crafted, ramp, empty payloads") {
    import spark.implicits._
    import graft.llm.Multimodal
    val loudQuiet = Array.fill(16)(0xff.toByte) ++ Array.fill(16)(0x01.toByte)
    val ramp = Array.tabulate(64)(_.toByte) // bucket i = {4i..4i+3} → mean 4i+1
    val media = Seq((1L, loudQuiet), (2L, ramp), (3L, Array.emptyByteArray))
      .toDF("doc_id", "payload")
    val got = Multimodal.resizePool(media).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(got(1L) === ((32L,
      (Seq.fill(8)(255L) ++ Seq.fill(8)(1L)).mkString(","))))
    assert(got(2L) === ((64L, (0 until 16).map(i => 4 * i + 1).mkString(","))))
    assert(got(3L) === ((0L, Seq.fill(16)(0L).mkString(","))))
  }

  test("phash dedup: aHash stub bits, exact twin, brute-force parity") {
    import spark.implicits._
    import graft.llm.Multimodal
    // crafted payload: a loud 16-byte block then a quiet one →
    // bit0 = 1 (above mean), bit1 = 0, nothing else set
    val loudQuiet = Array.fill(16)(0xff.toByte) ++ Array.fill(16)(0x01.toByte)
    val h0 = Multimodal.phashStub(loudQuiet)
    assert((h0 & 1L) === 1L && ((h0 >> 1) & 1L) === 0L && (h0 >> 2) === 0L)
    assert(Multimodal.phashStub(Array.emptyByteArray) === 0L)
    // uniform payload: no block beats the mean → all zero
    assert(Multimodal.phashStub(Array.fill(64)(0x41.toByte)) === 0L)

    val base = ("the quick brown fox jumps over the lazy dog " * 8).trim
    val texts = Map(
      1L -> base, 2L -> base,                      // exact dup
      3L -> ("T" + base.substring(1)),             // re-encode twin
      4L -> ("a" * 16 + "z" * 16) * 10)            // alternating stranger
    val media = texts.toSeq.toDF("doc_id", "text")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    val got = Multimodal.phashDedup(media, maxHamming = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // brute-force reference: every pair that shares a band AND is
    // within hamming 2 of the locally-computed stub hashes
    val hs = texts.view.mapValues(t =>
      Multimodal.phashStub(t.getBytes("UTF-8"))).toMap
    val want = (for {
      a <- texts.keys.toSeq; b <- texts.keys.toSeq if a < b
      d = java.lang.Long.bitCount(hs(a) ^ hs(b)) if d <= 2
      if (0 until 4).exists(k =>
        ((hs(a) >> (k * 15)) & 32767L) == ((hs(b) >> (k * 15)) & 32767L))
    } yield (a, b, d)).toSet
    assert(got === want)
    assert(got.contains((1L, 2L, 0)))              // the exact dup pairs at 0
    // the one-byte case flip drifts the hash, not scrambles it
    assert(java.lang.Long.bitCount(hs(1L) ^ hs(3L)) <= 6)
  }

  test("line dedup fuzz: random corpora match a local reference") {
    import spark.implicits._
    import graft.llm.Dedup
    def m(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val rnd = new scala.util.Random(20260816L)
    val pool = (0 until 12).map(i => s"line $i ${('a' + i % 5).toChar}")
    (0 until 3).foreach { round =>
      val docs = (0 until 40).map { id =>
        val n = 1 + rnd.nextInt(5)
        (id.toLong, Seq.fill(n)(pool(rnd.nextInt(pool.size))).mkString("\n"))
      }
      val minDf = 2 + rnd.nextInt(3)
      val got = Dedup.lineDedup(docs.toDF("doc_id", "text"), minDf)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) null else r.getString(4))).toSet
      val lineRows = docs.flatMap { case (id, t) =>
        t.split("\n", -1).map(l => (id, l))
      }
      val boiler = lineRows.groupBy(_._2).view
        .mapValues(_.map(_._1).distinct.size).toMap
        .filter(_._2 >= minDf).keySet
      val expected = docs.map { case (id, t) =>
        val ls = t.split("\n", -1)
        val kept = ls.filterNot(boiler)
        (id, ls.length.toLong, kept.length.toLong,
          kept.length.toLong * 1000000L / ls.length,
          if (kept.isEmpty) null else m(kept.mkString("\n")))
      }.toSet
      assert(got === expected, s"fuzz round $round (minDf=$minDf)")
    }
  }

  test("dsir weights: likelihood-ratio sign, hand-computed model, determinism") {
    import spark.implicits._
    import graft.llm.{Portable, Sampling}
    // target slice speaks "tgt" (30× per doc — counts must dominate
    // the add-1 smoothing for the sign to be meaningful), background
    // speaks "bg"; "aux" is shared
    val tgtText = (Seq.fill(30)("tgt") :+ "aux").mkString(" ")
    val bgText = (Seq.fill(30)("bg") :+ "aux").mkString(" ")
    val tiny = Seq(
      (1L, tgtText, "en", "src0", 0L),
      (2L, tgtText, "en", "src1", 0L),
      (3L, bgText, "en", "src9", 0L),
      (4L, "tgt bg", "en", "src9", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = Sampling.dsirWeights(tiny).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getLong(4))).sortBy(_._1)
    assert(got.map(_._3).toSeq === Seq(31L, 31L, 31L, 2L))
    // replay the model: bucket counts over all 95 word occurrences,
    // target = docs 1+2 (62 occurrences)
    val words = Seq.fill(2)(tgtText).flatMap(_.split(" ")) ++
      bgText.split(" ") ++ Seq("tgt", "bg")
    val tgtWords = words.take(62)
    val b = (w: String) => Portable.hash60(w) % 64
    val cr = words.groupBy(b).view.mapValues(_.size.toLong).toMap
    val ct = tgtWords.groupBy(b).view.mapValues(_.size.toLong).toMap
    def lr(bk: Long): Double =
      math.log((ct.getOrElse(bk, 0L) + 1.0) / (62 + 64.0)) -
        math.log((cr(bk) + 1.0) / (95 + 64.0))
    def w6(ws: Seq[String]): Double = {
      val s = ws.groupBy(b).toSeq.sortBy(_._1)
        .foldLeft(0.0) { case (a, (bk, occ)) => a + occ.size * lr(bk) }
      BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(got(0)._4 === w6(tgtText.split(" ").toSeq))
    assert(got(2)._4 === w6(bgText.split(" ").toSeq))
    // sign: the target-dialect doc scores positive, background negative
    assert(got(0)._4 > 0.0 && got(0)._5 === 1L)
    assert(got(2)._4 < 0.0 && got(2)._5 === 0L)
    // docs 1 and 2 are textual twins in different sources: same weight
    assert(got(0)._4 === got(1)._4)
    // bit-determinism across runs (the sorted-fold contract)
    val again = Sampling.dsirWeights(tiny).collect()
      .map(r => (r.getLong(0), r.getDouble(3))).sortBy(_._1)
    assert(again.map(_._2).toSeq === got.map(_._4).toSeq)
  }

  test("quality classifier: separability, determinism, gradient progress") {
    import graft.llm.Sampling
    import spark.implicits._
    // two clearly-separated dialects: target sources speak one
    // vocabulary, background another; twins across sources probe
    // feature (not label) dependence of the score
    val tgtText = "the quick brown fox jumps over the lazy dog again"
    val bgText = "lorem ipsum dolor sit amet consectetur adipiscing elit sed"
    val docs = ((0 until 8).map(i => (i.toLong, tgtText, "src0")) ++
      (8 until 16).map(i => (i.toLong, bgText, "src9")))
      .toDF("doc_id", "text", "source")
    val out = Sampling.qualityClassifier(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    // separability: every target doc scores above every background
    // doc, and the 0.5 decision splits them after 3 steps
    val (tgt, bg) = out.partition(_._2 == "src0")
    assert(tgt.map(_._3).min > bg.map(_._3).max,
      s"target scores must dominate: $out")
    assert(tgt.forall(_._4 == 1L) && bg.forall(_._4 == 0L), out.toSeq)
    // identical text ⇒ identical score regardless of doc_id
    assert(tgt.map(_._3).distinct.length === 1)
    assert(bg.map(_._3).distinct.length === 1)
    // bit-determinism across runs (the exact-integer contract)
    val again = Sampling.qualityClassifier(docs).collect()
      .map(r => (r.getLong(0), r.getLong(3))).sortBy(_._1)
    assert(again.map(_._2).toSeq === out.map(_._3).toSeq)
    // gradient progress: more steps separate at least as hard
    val s1 = Sampling.qualityClassifier(docs, steps = 1).collect()
      .map(r => (r.getString(1), r.getLong(3)))
    val gap1 = s1.filter(_._1 == "src0").map(_._2).min -
      s1.filter(_._1 == "src9").map(_._2).max
    assert(tgt.map(_._3).min - bg.map(_._3).max >= gap1,
      s"3-step margin must not shrink vs 1-step ($gap1)")
  }

  test("url canonicalization fuzz: random messy URLs match a local reference") {
    import spark.implicits._
    // independent imperative reference of the documented contract
    // (indexOf parsing, no regexes — a regex bug in the operator
    // can't hide in a mirrored regex here)
    val fixedKeys =
      Set("fbclid", "gclid", "msclkid", "mc_eid", "igshid", "ref", "ref_src")
    def refCanon(u: String): String = {
      val m = "^([A-Za-z][A-Za-z0-9+.-]*)://".r.findFirstMatchIn(u)
      val scheme = m.map(_.group(1).toLowerCase).getOrElse("")
      val rest = m.map(mm => u.substring(mm.end)).getOrElse(u)
      val authEnd = rest.indexWhere(c => c == '/' || c == '?' || c == '#')
      val auth =
        (if (authEnd < 0) rest else rest.take(authEnd)).toLowerCase
      val host =
        if (scheme == "http" && auth.endsWith(":80")) auth.dropRight(3)
        else if (scheme == "https" && auth.endsWith(":443")) auth.dropRight(4)
        else auth
      val pathq = if (authEnd < 0) "" else rest.substring(authEnd)
      val noFrag =
        if (pathq.indexOf('#') < 0) pathq else pathq.take(pathq.indexOf('#'))
      val qi = noFrag.indexOf('?')
      val path0 = if (qi < 0) noFrag else noFrag.take(qi)
      val path = path0.reverse.dropWhile(_ == '/').reverse
      val query = if (qi < 0) "" else noFrag.substring(qi + 1)
      def tracking(p: String): Boolean = {
        val k = p.indexOf('=') match { case -1 => p; case i => p.take(i) }
        k.startsWith("utm_") || fixedKeys(k)
      }
      val kept = query.split("&", -1).filter(p => p.nonEmpty && !tracking(p))
        .sorted.mkString("&")
      scheme + "://" + host + path + (if (kept.isEmpty) "" else "?" + kept)
    }
    val rnd = new scala.util.Random(20240816L)
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.length))
    val urls = (0 until 400).map { _ =>
      val scheme = pick(Seq("http://", "https://", "HTTPS://", "HtTp://",
        "ftp://", ""))
      val host = pick(Seq("Example.COM", "example.com", "a.b.c.de",
        "X--Y.org", "localhost"))
      val port = pick(Seq("", ":80", ":443", ":8080"))
      val path = pick(Seq("", "/", "/A/b", "/a/b/c/", "/p//", "/%20x"))
      val params = (0 until rnd.nextInt(5)).map(_ => pick(Seq(
        "a=1", "b=2", "z=9", "utm_source=f", "utm_campaign", "fbclid=x",
        "ref=rss", "refresh=1", "gclid", "", "k=v=w", "=bare")))
      val query = if (params.isEmpty) "" else "?" + params.mkString("&")
      val frag = pick(Seq("", "#top", "#a?b=2", "#"))
      s"$scheme$host$port$path$query$frag"
    }
    val got = urls.zipWithIndex.map { case (u, i) => (i.toLong, u) }
      .toDF("doc_id", "url")
      .select(col("doc_id"), Dedup.canonicalUrl(col("url")).as("c"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    urls.zipWithIndex.foreach { case (u, i) =>
      assert(got(i)._2 === refCanon(u), s"mismatch on: $u")
    }
  }

  test("url canonicalization: case, ports, slashes, params, fragments") {
    import spark.implicits._
    def canon(url: String): String =
      Seq(url).toDF("u").select(Dedup.canonicalUrl(col("u")))
        .first().getString(0)
    // scheme + host case-fold; path case KEPT
    assert(canon("HTTPS://WWW.Example.COM/About") ===
      "https://www.example.com/About")
    // default ports stripped, scheme-matched; explicit ports kept
    assert(canon("https://x.com:443/a") === "https://x.com/a")
    assert(canon("http://x.com:80/a") === "http://x.com/a")
    assert(canon("http://x.com:8080/a") === "http://x.com:8080/a")
    assert(canon("https://x.com:80/a") === "https://x.com:80/a")
    // trailing slashes trimmed (root folds to bare authority)
    assert(canon("https://x.com/a/b/") === "https://x.com/a/b")
    assert(canon("https://x.com/") === "https://x.com")
    // param order insensitive; tracking params + fragments dropped
    assert(canon("https://x.com/p?b=2&a=1") === canon("https://x.com/p?a=1&b=2"))
    assert(canon("https://x.com/p?utm_source=f&a=1&fbclid=z&gclid=q#top") ===
      "https://x.com/p?a=1")
    // an all-tracking query drops the '?' entirely
    assert(canon("https://x.com/p?utm_campaign=c&ref=rss") === "https://x.com/p")
    // empty-fragment params ('a=1&&b=2') collapse
    assert(canon("https://x.com/p?a=1&&b=2") === "https://x.com/p?a=1&b=2")
    // a key merely PREFIXED by a tracking key survives (refresh != ref)
    assert(canon("https://x.com/p?refresh=1") === "https://x.com/p?refresh=1")

    // urlDedup: aliases of one page collapse to the min doc_id
    val aliases = Seq(
      (1L, "https://x.com/p?a=1&b=2"),
      (2L, "HTTPS://X.COM:443/p/?b=2&a=1&utm_source=n#frag"),
      (3L, "https://x.com/p?a=1&b=2&fbclid=zz"),
      (4L, "https://x.com/q?a=1")).toDF("doc_id", "url")
    val d = Dedup.urlDedup(aliases).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(d.toSeq === Seq(("https://x.com/p?a=1&b=2", 1L, 3L),
      ("https://x.com/q?a=1", 4L, 1L)))
    val h = Dedup.urlHostStats(aliases).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(h.toSeq === Seq(("x.com", 4L, 2L, 500000L)))
  }
}
