package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * All dot products / norms are left-fold double arithmetic:
  * deterministic and bit-reproducible in any engine that folds
  * sequentially, which is what makes the cosine scores
  * oracle-checkable as floor-scaled 1e-6-unit integers (round(x,6) is
  * not engine-portable on exact decimal midpoints; both engines
  * compute the identical fold double, so the floor is too). The folds run through the native
  * codegen'd kernels in [[graft.functions.VectorExpressions]] — the
  * equivalent `aggregate(zip_with(...))` HOF forms evaluate their
  * lambdas interpreted, which made cosine verification the hot path.
  *
  * Scale shape: the brute-force path broadcasts the (small) query
  * side and scans candidates once — at 100 TB of vectors that is the
  * exact top-k baseline. The LSH path buckets by random-hyperplane
  * signatures so the join shuffles (bucket, vec) pairs instead of
  * computing the full cross product; hyperplanes are derived from a
  * deterministic LCG so every engine agrees on the buckets.
  */
object Similarity {

  /** [[semanticKeep]]'s sub-block size: clusters above this member
    * count salt their pairwise self-join into ⌈c/target⌉ blocks.
    * Inert on the test corpora; at 100 TB it bounds the worst
    * partition's pair count at c·target instead of c² (a 1e6-member
    * runaway cluster: 6.5e10 pairs per key instead of 1e12, spread
    * over 16 keys that AQE can also split further). */
  val DefaultSemDedupSaltTarget: Int = 65536

  /** Sequential-fold double dot product of two array<double> columns
    * (codegen'd kernel). */
  private def dotExpr(a: String, b: String): String =
    s"graft_dot($a, $b)"

  private def normExpr(a: String): String =
    s"sqrt(${dotExpr(a, a)})"

  /** vec_id + embedding cast to double + precomputed norm. */
  def prepared(embeddings: DataFrame): DataFrame = {
    graft.functions.VectorFunctions.register(embeddings.sparkSession)
    embeddings
      .withColumn("vec", col("embedding").cast("array<double>"))
      .withColumn("nrm", expr(normExpr("vec")))
      .select(col("vec_id"), col("label"), col("vec"), col("nrm"))
  }

  /** Symmetric int8 quantization per vector — the storage/serving
    * compression step every large ANN index applies before sharding
    * (4× smaller than float32, 8× than float64): scale = max|x|/127,
    * q_i = halfUp(x_i / max|x| · 127) ∈ [-127, 127] (an all-zero
    * vector quantizes to zeros with scale 0). Emits (vec_id,
    * scale_e6, qvec) — dequantization is q_i · scale.
    *
    * Exactness: float32 inputs are exactly representable in double,
    * and the one division + multiply + half-up floor per element is
    * deterministic IEEE — bit-identical in any engine. Scale shape:
    * a pure per-row projection, zero exchanges; at 100 TB this is a
    * map over the vector scan that SHRINKS the bytes downstream
    * shuffles carry by 4×. */
  def quantizeInt8(embeddings: DataFrame): DataFrame =
    embeddings
      .withColumn("vec", col("embedding").cast("array<double>"))
      .withColumn("mx", expr("array_max(transform(vec, x -> abs(x)))"))
      .select(col("vec_id"),
        expr("CAST(floor(mx / 127.0D * 1000000.0D + 0.5) AS BIGINT)")
          .as("scale_e6"),
        expr("CASE WHEN mx = 0.0D THEN transform(vec, x -> 0) " +
          "ELSE transform(vec, x -> CAST(floor(x / mx * 127.0D + 0.5) AS INT)) END")
          .as("qvec"))

  /** Index-quality eval: per-query recall@k of an approximate ANN
    * result against the exact top-k — the measurement that decides
    * whether an IVF/PQ build is shippable before it serves traffic.
    * Inputs are the (query_id, vec_id, …) outputs of any two search
    * ops here; both are nQueries·k rows, so the join is broadcast
    * noise — the cost is the searches themselves. */
  def annRecall(exact: DataFrame, approx: DataFrame): DataFrame =
    exact.select(col("query_id"), col("vec_id"))
      .join(approx.select(col("query_id").as("aq"), col("vec_id").as("av")),
        col("query_id") === col("aq") && col("vec_id") === col("av"), "left")
      .groupBy(col("query_id"))
      .agg(count(col("av")).as("n_hit"), count(lit(1)).as("n_k"))
      .select(col("query_id"), col("n_hit"),
        expr("CAST(n_hit * 1000000 DIV n_k AS BIGINT)").as("recall_e6"))

  /** Exact cosine top-k: queries = vec_id < nQueries (broadcast),
    * candidates = everything else. Output query_id, vec_id, cos_sim,
    * rank — ranked by rounded score with vec_id tiebreak so the
    * ordering is engine-stable. */
  def bruteForceTopK(embeddings: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val prep = prepared(embeddings)
    val queries = prep.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"), col("nrm").as("qnrm"))
    val cands = prep.filter(col("vec_id") >= nQueries)
    val scored = cands.join(broadcast(queries))
      .withColumn("cos_sim_e6", expr(
        s"CAST(floor(${dotExpr("qvec", "vec")} / (qnrm * nrm) * 1000000 + 0.5) AS BIGINT)"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim_e6").desc, col("vec_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("cos_sim_e6"), col("rank"))
  }

  /** Signature bits [0, nBits): bit j = sign of <vec, r_j>, with
    * r(j, d) the LCG((j·dim + d)) hyperplane component mapped into
    * [-0.5, 0.5) — the codegen'd kernel; dim is taken from the vector
    * itself. */
  def signatureExpr(vecCol: String, nBits: Int): String =
    s"graft_hyperplane_sig($vecCol, $nBits)"

  /** LSH-bucketed ANN top-k: join queries to candidates within the
    * same nBits-signature bucket, exact cosine inside the bucket. */
  def lshTopK(embeddings: DataFrame, nQueries: Int, nBits: Int, k: Int): DataFrame = {
    val prep = prepared(embeddings)
      .withColumn("bucket", expr(signatureExpr("vec", nBits)))
    val queries = prep.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"),
              col("nrm").as("qnrm"), col("bucket"))
    val cands = prep.filter(col("vec_id") >= nQueries)
    val scored = cands.join(broadcast(queries), Seq("bucket"))
      .withColumn("cos_sim_e6", expr(
        s"CAST(floor(${dotExpr("qvec", "vec")} / (qnrm * nrm) * 1000000 + 0.5) AS BIGINT)"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim_e6").desc, col("vec_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("cos_sim_e6"), col("rank"))
  }

  /** Embedding near-dup pairs via banded hyperplane LSH
    * (nBands bands × bitsPerBand bits) + exact cosine ≥ threshold.
    *
    * The hash partitioning on (band, band_val) has only
    * nBands × 2^bitsPerBand distinct keys — at 100 TB run wider
    * bands (e.g. 8 × 16 bits = 512 Ki keys); both are parameters.
    * maxBucket caps degenerate buckets (all-zero embeddings land in
    * one band value) before any pair is generated.
    *
    * Ids-only band join: the self-join shuffles (vec_id, band,
    * band_val) rows — never the 64-double vectors — and the exact
    * cosine is computed once per DISTINCT candidate pair after the
    * vectors join back per side (≈ nBands× less fold work and ~70×
    * less candidate-shuffle volume than vec-carrying band rows). The
    * vector join-back branch never evaluates the (interpreted,
    * expensive) hyperplane signature — column pruning drops it, so
    * signatures are computed exactly once, in the band branch. */
  def nearDupPairs(embeddings: DataFrame, nBands: Int, bitsPerBand: Int,
                   threshold: Double,
                   maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame = {
    val nBits = nBands * bitsPerBand
    val prep = prepared(embeddings)
      .withColumn("sigbits", expr(signatureExpr("vec", nBits)))
      .withColumn("bands", expr(
        s"transform(sequence(0, ${nBands - 1}), b -> (sigbits >> (b * $bitsPerBand)) & ${(1 << bitsPerBand) - 1})"))
    val banded = Dedup.capBuckets(
      prep.select(col("vec_id"),
        posexplode(col("bands")).as(Seq("band", "band_val"))),
      Seq("band", "band_val"), maxBucket)
    val pairs = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
        col("a.band_val") === col("b.band_val") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    val vecs = prepared(embeddings)
    pairs
      .join(vecs.select(col("vec_id").as("vec_a"), col("vec").as("va"), col("nrm").as("na")), "vec_a")
      .join(vecs.select(col("vec_id").as("vec_b"), col("vec").as("vb"), col("nrm").as("nb")), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        expr(s"CAST(floor(${dotExpr("va", "vb")} / (na * nb) * 1000000 + 0.5) AS BIGINT)")
          .as("cos_sim_e6"))
      .filter(col("cos_sim_e6") >= math.round(threshold * 1e6))
  }

  /** [[graft.llm.Dedup.components]] over the thresholded embedding
    * near-dup pair graph, widened to every vector — semantic-dedup's
    * cluster-policy output: ONE representative per connected
    * near-duplicate cluster (the greedy bucket-min under-merges
    * chains A~B~C whose ends share no bucket). Same iterative
    * min-label propagation scale story as the text-side twin. */
  def embeddingComponents(embeddings: DataFrame, nBands: Int,
                          bitsPerBand: Int, threshold: Double,
                          maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame = {
    val comp = Dedup.components(
      nearDupPairs(embeddings, nBands, bitsPerBand, threshold,
        maxBucket = maxBucket).select(col("vec_a"), col("vec_b")),
      aCol = "vec_a", bCol = "vec_b")
    embeddings.select(col("vec_id"))
      .join(comp.withColumnRenamed("doc_id", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("component"), col("vec_id")).as("component"))
      .withColumn("kept", (col("component") === col("vec_id")).cast("int"))
  }

  /** Greedy linear-output embedding dedup — the keep/drop contract
    * for vectors (see SCALE.md and [[Dedup.minhashKeep]]): every
    * (band, band_val) bucket keeps its minimum vec_id, and a vector
    * is dropped when ANY of its buckets holds a smaller id. One
    * (vec_id, kept, keep_id) row per vector — no pair join, output
    * linear in corpus size regardless of duplicate-cluster shape.
    * Bucket-min rides the band explode's own hash partitioning. */
  def embeddingKeep(embeddings: DataFrame, nBands: Int, bitsPerBand: Int,
                    maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame = {
    val nBits = nBands * bitsPerBand
    val banded = Dedup.capBuckets(
      prepared(embeddings)
        .withColumn("sigbits", expr(signatureExpr("vec", nBits)))
        .select(col("vec_id"), posexplode(expr(
          s"transform(sequence(0, ${nBands - 1}), b -> (sigbits >> (b * $bitsPerBand)) & ${(1 << bitsPerBand) - 1})"))
          .as(Seq("band", "band_val"))),
      Seq("band", "band_val"), maxBucket)
    val w = Window.partitionBy(col("band"), col("band_val"))
    banded
      .withColumn("bucket_min", min(col("vec_id")).over(w))
      .groupBy(col("vec_id"))
      .agg(min(col("bucket_min")).as("keep_id"))
      .select(col("vec_id"),
        (col("keep_id") === col("vec_id")).cast("int").as("kept"), col("keep_id"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication SCOPED TO k-means clusters — cluster the
    * embeddings ([[kmeans]], the paper's step 1), then within each
    * cluster drop every vector whose cosine to a LOWER-ID cluster
    * member exceeds `tauE6` (µ-units); the lowest id of each
    * semantic duplicate group survives (the paper keeps one
    * representative per ε-ball; lowest-id is the deterministic
    * stand-in for its random choice). Output one row per vector:
    * (vec_id, cent_id, kept).
    *
    * Scale shape — the whole reason the paper clusters first: the
    * pairwise cosine is confined to CLUSTER-LOCAL self-joins, so
    * the corpus-sized O(n²) becomes Σ clusterᵢ² with k the lever
    * (the paper runs k in the tens of thousands at web scale). The
    * join shuffles on cent_id; the e6-integer exactness discipline
    * of [[kmeans]] carries through, so the whole operator is
    * oracle-reproducible.
    *
    * SKEW guard: keying the self-join on cent_id alone would put
    * each cluster's full c² pairing in ONE shuffle partition — a
    * runaway cluster is a straggler at 100 TB. Clusters larger than
    * `saltTarget` members are SUB-BLOCKED: the probe side carries a
    * deterministic salt (id mod ⌈c/saltTarget⌉), the build side
    * replicates across all salts, and the join keys on
    * (cent_id, salt) — every (a, b) pair still meets EXACTLY once
    * (b has one salt; a is present at all of them), so keep/drop
    * semantics are bit-identical at every size, but the per-key
    * pair count is bounded by c·saltTarget instead of c². The
    * decision is driver-side over the k-row cluster-size table
    * (k-bounded collect, like the rollup freshness gates): when
    * every cluster fits the target the UNSALTED single-key plan
    * runs unchanged — zero overhead on the default path. The salt
    * is id-arithmetic (no engine hash), so the oracle replay stays
    * engine-portable. */
  def semanticKeep(embeddings: DataFrame, k: Int, iters: Int,
                   tauE6: Long,
                   saltTarget: Int = DefaultSemDedupSaltTarget): DataFrame = {
    val assigned = kmeans(embeddings, k, iters)
    val pts = embeddings.select(col("vec_id"),
      expr("transform(embedding, x -> " +
        "CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))").as("v"))
      .withColumn("nrm",
        expr("sqrt(graft_dot(CAST(v AS ARRAY<DOUBLE>), CAST(v AS ARRAY<DOUBLE>)))"))
    // k tiny rows — resolve the skew decision DRIVER-SIDE (like the
    // rollup freshness gates): when every cluster fits the target,
    // the unsalted single-key plan runs with ZERO added overhead
    // (no size broadcast, no probe replication); results are
    // identical either way, only the partitioning differs
    // ONE materialization of (assignment ⋈ vectors): the size probe
    // and BOTH self-join sides read these checkpoint blocks instead
    // of re-running the assignment pass per consumer (the self-join
    // alone would evaluate the subtree twice) — linear state, the
    // same budget kmeans' own per-round checkpoints already spend
    val m0 = assigned.select(col("vec_id"), col("cent_id")).join(pts, "vec_id")
      .localCheckpoint(true)
    val sizeRows = m0.groupBy(col("cent_id"))
      .agg(count(lit(1)).as("c_n")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val needSalt = sizeRows.exists(_._2 > saltTarget)
    val (a, b, joinKeys) =
      if (!needSalt)
        (m0.select(col("cent_id"), col("vec_id").as("id_a"),
           col("v").as("va"), col("nrm").as("na")),
         m0.select(col("cent_id"), col("vec_id").as("id_b"),
           col("v").as("vb"), col("nrm").as("nb")),
         Seq("cent_id"))
      else {
        import embeddings.sparkSession.implicits._
        val sizes = sizeRows.toSeq.map { case (cid, n) =>
          (cid, math.max(1L, (n + saltTarget - 1) / saltTarget))
        }.toDF("cent_id", "n_salt")
        val m = m0.join(broadcast(sizes), "cent_id")
        (m.select(col("cent_id"), col("vec_id").as("id_a"),
           col("v").as("va"), col("nrm").as("na"),
           explode(expr("sequence(0, n_salt - 1)")).as("salt")),
         m.select(col("cent_id"), col("vec_id").as("id_b"),
           col("v").as("vb"), col("nrm").as("nb"),
           pmod(col("vec_id"), col("n_salt")).as("salt")),
         Seq("cent_id", "salt"))
      }
    // a vector drops when ANY lower-id cluster member sits within
    // the ε-ball; the floor-snapped integer cosine is the comparison
    // both engines make identically
    val dropped = a.join(b, joinKeys)
      .filter(col("id_a") < col("id_b"))
      .filter(expr("CAST(floor(" +
        "graft_dot(CAST(va AS ARRAY<DOUBLE>), CAST(vb AS ARRAY<DOUBLE>)) / (na * nb)" +
        s" * 1000000 + 0.5) AS BIGINT) >= $tauE6"))
      .select(col("id_b").as("vec_id")).distinct()
      .withColumn("_drop", lit(1))
    assigned.select(col("vec_id"), col("cent_id"))
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cent_id"),
        col("_drop").isNull.cast("int").as("kept"))
  }

  /** Embedding-space cluster assignment — the curation primitive
    * behind semantic dedup (dedupe within a cluster, not across the
    * corpus) and cluster-balanced sampling: every vector goes to its
    * nearest-by-cosine centroid. The quantizer is the same
    * training-free deterministic one as [[ivfTopK]]'s — the
    * nCentroids lowest-id vectors ARE the centroids, so the whole
    * assignment is oracle-reproducible (a production build k-means a
    * sample instead; identical plan shape). Output one row per
    * vector: (vec_id, cent_id, cos_sim_e6). Ties break to the lower
    * cent_id on the raw fold double — engine-stable.
    *
    * Scale shape: the centroid set is small and BROADCAST; the
    * assignment is one broadcast join + per-vec_id argmax window over
    * exactly nCentroids rows — linear in corpus size with no skew
    * (the window keys on vec_id, which is unique). */
  def clusterAssign(embeddings: DataFrame, nCentroids: Int): DataFrame = {
    val prep = prepared(embeddings)
    val cents = prep.filter(col("vec_id") < nCentroids)
      .select(col("vec_id").as("cent_id"), col("vec").as("cvec"), col("nrm").as("cnrm"))
    val aw = Window.partitionBy(col("vec_id"))
      .orderBy(col("cc").desc, col("cent_id").asc)
    prep.join(broadcast(cents))
      .withColumn("cc", expr(s"${dotExpr("cvec", "vec")} / (cnrm * nrm)"))
      .withColumn("arank", row_number().over(aw))
      .filter(col("arank") === 1)
      .select(col("vec_id"), col("cent_id"),
        expr("CAST(floor(cc * 1000000 + 0.5) AS BIGINT)").as("cos_sim_e6"))
  }

  /** Distributed spherical k-means (Lloyd's iterations) — the
    * TRAINED clustering behind semantic dedup and domain-balanced
    * sampling, where [[clusterAssign]] is the one-shot quantizer.
    * Deterministic init (the k lowest-id vectors), assignment by
    * max cosine (ties to the lower cent_id), `iters` full rounds.
    *
    * EXACTNESS discipline (what makes an iterative float algorithm
    * oracle-checkable): components snap to e6 INTEGERS up front, so
    * every centroid update is an exact integer per-dimension sum
    * plus one portable half-up division — no order-dependent float
    * accumulation anywhere in the loop. The cosine itself is the
    * usual sequential fold over integer-valued doubles (products
    * ≤ 1e12, sums ≤ 6.4e13 — exact in double), identical in any
    * engine folding in order.
    *
    * Scale shape: the centroid set is tiny and BROADCAST; each
    * round is ONE corpus scan (assignment = broadcast join +
    * per-vec argmax window over exactly k rows) plus a
    * (cent, dim)-keyed aggregation — posexploded, so a popular
    * cluster never materializes in one row. Every round ends in an
    * eager localCheckpoint (the iterative-loop plan-growth rule).
    * Empty clusters keep their previous centroid, Lloyd's
    * convention. Output: (vec_id, cent_id, cos_sim_e6) — the final
    * assignment under the trained centroids. */
  def kmeans(embeddings: DataFrame, k: Int, iters: Int): DataFrame = {
    graft.functions.VectorFunctions.register(embeddings.sparkSession)
    val pts = snappedPoints(embeddings)
      .localCheckpoint(true) // scanned every round; read the source once
    assignToCentroids(pts, trainCentroids(pts, k, iters))
      .select(col("vec_id"), col("cent_id"),
        expr("CAST(floor(cc * 1000000 + 0.5) AS BIGINT)").as("cos_sim_e6"))
  }

  /** e6-snapped integer components + norm — the exactness basis
    * every trained-clustering operator shares. */
  private def snappedPoints(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"),
      expr("transform(embedding, x -> " +
        "CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))").as("v"))
      .withColumn("nrm",
        expr("sqrt(graft_dot(CAST(v AS ARRAY<DOUBLE>), CAST(v AS ARRAY<DOUBLE>)))"))

  /** Nearest trained centroid per point (broadcast + argmax window);
    * keeps the assignment columns + `cc` (the raw fold cosine). */
  private def assignToCentroids(pts: DataFrame, cents: DataFrame): DataFrame = {
    // one fold per (vec, centroid) pair: both norms precomputed
    val cos = s"graft_dot(CAST(cv AS ARRAY<DOUBLE>), CAST(v AS ARRAY<DOUBLE>)) / " +
      s"(cnrm * nrm)"
    val aw = Window.partitionBy(col("vec_id"))
      .orderBy(col("cc").desc, col("cent_id").asc)
    pts.join(broadcast(cents.withColumn("cnrm",
        expr("sqrt(graft_dot(CAST(cv AS ARRAY<DOUBLE>), CAST(cv AS ARRAY<DOUBLE>)))"))))
      .withColumn("cc", expr(cos))
      .withColumn("arank", row_number().over(aw))
      .filter(col("arank") === 1)
  }

  /** [[kmeans]]'s Lloyd loop without the final assignment: the
    * trained centroid table (cent_id, cv) with cv the exact
    * e6-integer means. Init = the k LOWEST-ID input vectors
    * (orderBy/limit, so any id range trains — the trained-IVF path
    * trains on candidates whose ids start past the queries'). */
  private def trainCentroids(pts: DataFrame, k: Int, iters: Int): DataFrame = {
    var cents = pts.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
      .localCheckpoint(true)
    for (_ <- 1 to iters) {
      val means = assignToCentroids(pts, cents)
        .select(col("cent_id"), posexplode(col("v")).as(Seq("d", "x")))
        .groupBy(col("cent_id"), col("d"))
        .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
        // portable half-up integer mean (the halfUpSql formula —
        // exact doubles throughout: |s| ≤ members·1e6)
        .withColumn("m",
          expr("CAST(FLOOR((2.0D * s + n) / (2.0D * n)) AS BIGINT)"))
        .groupBy(col("cent_id"))
        .agg(expr("transform(array_sort(collect_list(struct(d, m))), p -> p.m)")
          .as("next"))
      cents = cents
        .join(means, Seq("cent_id"), "left")
        .select(col("cent_id"),
          coalesce(col("next"), col("cv")).as("cv"))
        .localCheckpoint(true) // flat lineage per round
    }
    cents
  }

  /** The trained coarse quantizer's centroids — what a production
    * IVF build persists next to the inverted lists. */
  def kmeansCentroids(embeddings: DataFrame, k: Int, iters: Int): DataFrame = {
    graft.functions.VectorFunctions.register(embeddings.sparkSession)
    trainCentroids(snappedPoints(embeddings).localCheckpoint(true), k, iters)
  }

  /** IVF with a TRAINED coarse quantizer — [[ivfTopK]]'s production
    * form: the centroids come from [[kmeansCentroids]] over the
    * CANDIDATE set (Lloyd on the corpus itself, the FAISS build
    * shape) instead of the training-free lowest-id pick, so the
    * inverted lists follow the data's own density and nProbe recalls
    * more at the same cost. Same plan shape as [[ivfTopK]]: tiny
    * broadcast centroid table, one broadcast-join + argmax corpus
    * pass for the lists, probes pruned per query — linear and
    * shuffle-light at 100 TB (the lists are what you'd bucket by
    * cent_id so probes prune at the scan). The e6-integer exactness
    * discipline of [[kmeans]] carries through, so the whole index —
    * training loop included — is oracle-reproducible. */
  def ivfTrainedTopK(embeddings: DataFrame, nQueries: Int, k: Int,
                     iters: Int, nProbe: Int, topK: Int): DataFrame = {
    graft.functions.VectorFunctions.register(embeddings.sparkSession)
    val pts = snappedPoints(embeddings).localCheckpoint(true)
    val cands = pts.filter(col("vec_id") >= nQueries)
    val cents = trainCentroids(cands, k, iters).withColumn("cnrm",
      expr("sqrt(graft_dot(CAST(cv AS ARRAY<DOUBLE>), CAST(cv AS ARRAY<DOUBLE>)))"))
    // inverted lists under the trained quantizer
    val lists = assignToCentroids(cands, cents.select(col("cent_id"), col("cv")))
      .select(col("cent_id"), col("vec_id"), col("v"), col("nrm"))
    // probe set: nProbe nearest trained centroids per query
    val queries = pts.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm"))
    val pw = Window.partitionBy(col("query_id"))
      .orderBy(col("qc").desc, col("cent_id").asc)
    val probes = queries.join(broadcast(cents))
      .withColumn("qc",
        expr("graft_dot(CAST(cv AS ARRAY<DOUBLE>), CAST(qv AS ARRAY<DOUBLE>)) / " +
          "(cnrm * qnrm)"))
      .withColumn("prank", row_number().over(pw))
      .filter(col("prank") <= nProbe)
      .select(col("query_id"), col("qv"), col("qnrm"), col("cent_id"))
    // exact cosine only inside the probed lists
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim_e6").desc, col("vec_id").asc)
    lists.join(broadcast(probes), Seq("cent_id"))
      .withColumn("cos_sim_e6", expr(
        "CAST(floor(graft_dot(CAST(qv AS ARRAY<DOUBLE>), CAST(v AS ARRAY<DOUBLE>)) / " +
          "(qnrm * nrm) * 1000000 + 0.5) AS BIGINT)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("vec_id"), col("cos_sim_e6"), col("rank"))
  }

  /** IVF (inverted-file) ANN top-k — the scale path past LSH
    * bucketing: a coarse quantizer assigns every candidate vector to
    * its nearest centroid ONCE (the inverted lists), and each query
    * probes only the nProbe nearest lists, so query cost is
    * O(candidates/nCentroids × nProbe) instead of a full scan.
    *
    * The quantizer here is training-free and deterministic — the
    * nCentroids lowest-id candidate vectors ARE the centroids — so
    * the whole index is oracle-reproducible; a production build would
    * k-means a sample instead (same plan shape: the centroid set is
    * small and broadcast, the assignment is one broadcast-join +
    * per-key argmax over the corpus, linear and shuffle-light at
    * 100 TB; the inverted lists are what you'd persist/bucket by
    * cent_id so probes prune at the scan).
    *
    * Assignment ties (equal cosine) break to the lower cent_id, ranks
    * break to the lower vec_id — both engine-stable. */
  def ivfTopK(embeddings: DataFrame, nQueries: Int, nCentroids: Int,
              nProbe: Int, k: Int): DataFrame = {
    val prep = prepared(embeddings)
    val cents = prep
      .filter(col("vec_id") >= nQueries && col("vec_id") < nQueries + nCentroids)
      .select(col("vec_id").as("cent_id"), col("vec").as("cvec"), col("nrm").as("cnrm"))
    val cands = prep.filter(col("vec_id") >= nQueries)
    // inverted lists: nearest centroid per candidate (broadcast cross
    // of the small centroid set; argmax = per-key window over exactly
    // nCentroids rows — keyed by vec_id, so no skew)
    val aw = Window.partitionBy(col("vec_id"))
      .orderBy(col("cc").desc, col("cent_id").asc)
    val assign = cands.join(broadcast(cents))
      .withColumn("cc", expr(s"${dotExpr("cvec", "vec")} / (cnrm * nrm)"))
      .withColumn("arank", row_number().over(aw))
      .filter(col("arank") === 1)
      .select(col("cent_id"), col("vec_id"), col("vec"), col("nrm"))
    // probe set: nProbe nearest centroids per query
    val queries = prep.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"), col("nrm").as("qnrm"))
    val pw = Window.partitionBy(col("query_id"))
      .orderBy(col("qc").desc, col("cent_id").asc)
    val probes = queries.join(broadcast(cents))
      .withColumn("qc", expr(s"${dotExpr("cvec", "qvec")} / (cnrm * qnrm)"))
      .withColumn("prank", row_number().over(pw))
      .filter(col("prank") <= nProbe)
      .select(col("query_id"), col("qvec"), col("qnrm"), col("cent_id"))
    // exact cosine only inside the probed lists
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim_e6").desc, col("vec_id").asc)
    assign.join(broadcast(probes), Seq("cent_id"))
      .withColumn("cos_sim_e6", expr(
        s"CAST(floor(${dotExpr("qvec", "vec")} / (qnrm * nrm) * 1000000 + 0.5) AS BIGINT)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("cos_sim_e6"), col("rank"))
  }

  /** IVF-PQ ANN top-k — [[ivfTopK]]'s coarse inverted lists plus
    * PRODUCT QUANTIZATION of the residual scan (Jégou et al., PAMI
    * 2011): each vector splits into `m` contiguous segments, every
    * segment encodes as its L2-nearest codeword id from that
    * subspace's `nCodes`-entry codebook, and queries score
    * candidates by ADC — a per-query lookup table of
    * (segment × codeword) dot products summed over the code, never
    * touching the original vectors. This is the 100 TB memory lever:
    * the corpus scan carries m bytes of codes per vector instead of
    * dim floats (64-dim float32 → 8 bytes = 32×), and the inverted
    * lists prune which codes are scored at all.
    *
    * Like [[ivfTopK]], training is replaced by a deterministic
    * oracle-reproducible choice: coarse centroids are the
    * nCentroids lowest candidate ids, PQ codebooks the `nCodes` ids
    * after them (segment j of codeword c = segment j of that
    * vector; a production build k-means each subspace — the plan
    * shape is identical, codebooks stay broadcast-small).
    *
    * Determinism: every multi-term double sum (ADC over segments,
    * reconstructed norms) is a SORTED left fold, not a shuffle-order
    * `sum()`, so scores are bit-identical in any engine. Encode ties
    * break to the lower codeword id, ranks to the lower vec_id.
    *
    * Approximation contract: scores are cosine against the PQ
    * RECONSTRUCTION (ADC dot / (‖q‖·‖reconstruction‖)) — recall vs
    * exact brute force is the quality metric, asserted in spec. */
  def ivfPqTopK(embeddings: DataFrame, nQueries: Int, nCentroids: Int,
                nProbe: Int, k: Int, m: Int = 8, nCodes: Int = 16,
                dim: Int = 64): DataFrame = {
    require(dim % m == 0, s"dim=$dim must split into m=$m segments")
    val sub = dim / m
    val prep = prepared(embeddings)
    def segsOf(vecCol: String) = expr(
      s"transform(sequence(0, ${m - 1}), j -> slice($vecCol, j * $sub + 1, $sub))")
    val cents = prep
      .filter(col("vec_id") >= nQueries && col("vec_id") < nQueries + nCentroids)
      .select(col("vec_id").as("cent_id"), col("vec").as("cvec"),
        col("nrm").as("cnrm"))
    val cwBase = nQueries + nCentroids
    // per-subspace codebooks: (segment j, codeword c) → 8-dim cw,
    // with its squared norm for the L2 expansion and recon norms
    val codebook = prep
      .filter(col("vec_id") >= cwBase && col("vec_id") < cwBase + nCodes)
      .select((col("vec_id") - cwBase).cast("int").as("c"),
        posexplode(segsOf("vec")).as(Seq("seg", "cw")))
      .withColumn("cw2", expr(dotExpr("cw", "cw")))
    val cands = prep.filter(col("vec_id") >= nQueries)
    // PQ encode: the L2-argmin codeword per (candidate, segment) —
    // ‖s−c‖² = s·s − 2 s·c + c·c, broadcast codebook, map-side-
    // combined min_by; only (vec_id, seg, c, cw2) rows shuffle
    val enc = cands
      .select(col("vec_id"), posexplode(segsOf("vec")).as(Seq("seg", "sv")))
      .join(broadcast(codebook), Seq("seg"))
      .withColumn("d2", expr(
        s"${dotExpr("sv", "sv")} - 2 * ${dotExpr("sv", "cw")} + cw2"))
      .groupBy(col("vec_id"), col("seg"))
      .agg(min_by(struct(col("c"), col("cw2")),
        struct(col("d2"), col("c"))).as("best"))
      .select(col("vec_id"), col("seg"),
        col("best.c").as("c"), col("best.cw2").as("cw2"))
    // reconstructed norm: segments are orthogonal blocks, so
    // ‖recon‖² = Σ_seg ‖cw‖² — summed as a seg-SORTED fold
    val recn = enc.groupBy(col("vec_id"))
      .agg(sort_array(collect_list(struct(col("seg"), col("cw2"))))
        .as("parts"))
      .withColumn("rnrm", expr(
        "sqrt(aggregate(parts, CAST(0.0 AS DOUBLE), (a, x) -> a + x.cw2))"))
      .select(col("vec_id"), col("rnrm"))
    // coarse assignment + probe sets: the ivfTopK machinery verbatim
    val aw = Window.partitionBy(col("vec_id"))
      .orderBy(col("cc").desc, col("cent_id").asc)
    val assign = cands.join(broadcast(cents))
      .withColumn("cc", expr(s"${dotExpr("cvec", "vec")} / (cnrm * nrm)"))
      .withColumn("arank", row_number().over(aw))
      .filter(col("arank") === 1)
      .select(col("cent_id"), col("vec_id"))
    val queries = prep.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"),
        col("nrm").as("qnrm"))
    val pw = Window.partitionBy(col("query_id"))
      .orderBy(col("qc").desc, col("cent_id").asc)
    val probes = queries.join(broadcast(cents))
      .withColumn("qc", expr(s"${dotExpr("cvec", "qvec")} / (cnrm * qnrm)"))
      .withColumn("prank", row_number().over(pw))
      .filter(col("prank") <= nProbe)
      .select(col("query_id"), col("qnrm"), col("cent_id"))
    // ADC lookup tables: (query, segment, codeword) → q_seg · cw —
    // nQueries × m × nCodes rows, broadcast-small by construction
    val lut = queries
      .select(col("query_id"), posexplode(segsOf("qvec")).as(Seq("seg", "qs")))
      .join(broadcast(codebook), Seq("seg"))
      .withColumn("qdot", expr(dotExpr("qs", "cw")))
      .select(col("query_id"), col("seg"), col("c"), col("qdot"))
    // score = seg-sorted fold of the code's LUT entries, normalized
    // by ‖q‖·‖recon‖ — the quantized-candidate cosine
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_e6").desc, col("vec_id").asc)
    assign.join(broadcast(probes), Seq("cent_id"))
      .join(enc, Seq("vec_id"))
      .join(broadcast(lut), Seq("query_id", "seg", "c"))
      .groupBy(col("query_id"), col("vec_id"), col("qnrm"))
      .agg(sort_array(collect_list(struct(col("seg"), col("qdot"))))
        .as("parts"))
      .join(recn, Seq("vec_id"))
      .withColumn("adc_e6", expr(
        "CAST(floor(aggregate(parts, CAST(0.0 AS DOUBLE), " +
        "(a, x) -> a + x.qdot) / (qnrm * rnrm) * 1000000 + 0.5) AS BIGINT)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("adc_e6"), col("rank"))
  }
}
