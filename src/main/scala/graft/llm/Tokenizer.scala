package graft.llm

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.functions._

/** Distributed BPE tokenizer training and encoding over a document
  * corpus — the operator a training-data pipeline runs before it can
  * even COUNT tokens honestly. No reference-repo analogue (the
  * reference delegates nothing like this); semantics follow the
  * classic byte-pair-encoding algorithm (Sennrich et al. 2016, and
  * the GPT-2 practice of never merging across word boundaries).
  *
  * Scale design — the whole point at 100 TB:
  *
  *  - **Corpus-sized work happens exactly once**: the word-frequency
  *    count (one shuffle of (word, 1) pairs, map-side combined).
  *    Everything after runs on the DISTINCT-WORD table, which Zipf
  *    collapses to a vanishing fraction of the corpus (billions of
  *    running words → millions of types). This is the same
  *    reduction SentencePiece/HF trainers exploit in one process —
  *    here it is what makes each merge round a small Spark job
  *    instead of a corpus scan.
  *  - **One training round selects a BATCH of merges, not one**:
  *    adjacent pairs explode from each type's symbol array weighted
  *    by type frequency, groupBy(pair).sum — a shuffle of pair keys
  *    only — and the top rows come to the driver, where the longest
  *    PROVABLY-SEQUENTIAL-EQUIVALENT prefix is selected (see
  *    [[trainBpe]]): a real 32k-merge vocabulary costs ~k/batch
  *    aggregation rounds instead of k. The whole batch applies as
  *    ONE combined left-to-right fold (codegen'd higher-order
  *    `aggregate`, no UDF) and the vocab is `localCheckpoint`ed
  *    every round, so lineage stays flat (the exponential-plan
  *    lesson from Dedup.components).
  *  - **Encoding never touches the corpus per merge**: distinct
  *    words encode once through the ranked merge list — consecutive
  *    pairwise-disjoint merges collapse into shared fold passes, and
  *    the chain checkpoints periodically so a 32k-merge list stays
  *    plannable — then a broadcast join maps each corpus word to its
  *    token count. The corpus is read once.
  *  - **Train once, reuse everywhere**: [[bpeVocab]] and
  *    [[tokenCountsBpe]] take the TRAINED merge table — training is
  *    the expensive artifact and must not silently re-run per
  *    downstream query (the k-arg overloads remain for one-shot
  *    convenience).
  *
  * Determinism contract (both engines reproduce it exactly): ties on
  * pair count break by (left, right) lexicographic order — where
  * HF's trainer breaks ties by insertion order, this engine defines
  * the order so any implementation (and the DuckDB oracle) agrees.
  * Merge application replaces occurrences LEFT-TO-RIGHT without
  * overlap, the standard scan. Batched selection is NOT a semantics
  * change: a batch is accepted only when it provably equals what
  * the one-merge-at-a-time algorithm would pick, counts included.
  */
object Tokenizer {

  /** Lowercased alphabetic word extraction — deliberately the
    * simplest cross-engine-identical pre-tokenization (Java and RE2
    * agree on `[a-z]+`); BPE merges never cross these boundaries. */
  private val WordRe = "[a-z]+"

  /** (word, freq) types of the corpus — the ONE corpus-sized job. */
  def wordFreqs(documents: DataFrame): DataFrame =
    documents
      .select(explode(expr(
        s"regexp_extract_all(lower(text), '$WordRe', 0)")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Initial symbol array: the named word column's characters. */
  private def charSyms(name: String): Column =
    expr(s"transform(sequence(1, length($name)), i -> substring($name, i, 1))")

  /** One left-to-right scan applying a batch of PAIRWISE-DISJOINT
    * merges (a,b)→ab to a symbol array — a fold: append x, unless
    * the running tail is some batch pair's `a` and x is its `b`, in
    * which case the tail becomes `ab`. Disjointness (no pair's
    * symbol equals another's symbol OR merged string — enforced by
    * the batch selectors below) is what makes ONE combined scan
    * equal to applying the merges as separate sequential passes: no
    * rule can consume another rule's output, and at most one rule
    * can fire at any position. (After a merge the tail is `ab`,
    * which is no rule's left symbol, so the fold cannot overlap
    * replacements — exactly the standard scan.) One pass per batch
    * instead of one per merge also saves batch-size× array
    * rebuilds — the dominant per-round cost. */
  private[graft] def applyMerges(syms: Column,
                               pairs: Seq[(String, String)]): Column =
    F.aggregate(
      syms,
      lit(Array.empty[String]),
      (acc, x) => {
        val tail = element_at(acc, -1)
        val mergedTail = (a: String, b: String) =>
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b)))
        pairs.foldRight(concat(acc, array(x))) { case ((a, b), els) =>
          when(size(acc) > 0 && tail === lit(a) && x === lit(b),
            mergedTail(a, b)).otherwise(els)
        }
      })

  /** Greedily split a RANKED merge list into maximal runs of
    * pairwise-disjoint merges — each run can apply as one combined
    * [[applyMerges]] scan with sequential semantics. A merge starts
    * a new run when its left/right symbol or its merged string
    * touches any symbol or merged string already in the run (a later
    * merge whose left IS an earlier merge's output, e.g.
    * (a,b)→ab then (ab,c), must see that output — same-pass
    * application would miss it). */
  private[graft] def disjointGroups(
      ms: Seq[(String, String)]): Seq[Seq[(String, String)]] = {
    val out = Vector.newBuilder[Vector[(String, String)]]
    var cur = Vector.empty[(String, String)]
    var used = Set.empty[String]
    for ((l, r) <- ms) {
      if (cur.nonEmpty && (used(l) || used(r) || used(l + r))) {
        out += cur; cur = Vector.empty; used = Set.empty
      }
      cur :+= ((l, r))
      used = used + l + r + (l + r)
    }
    if (cur.nonEmpty) out += cur
    out.result()
  }

  /** Run a (…, syms) table through the ranked merges: disjoint runs
    * share a fold pass, and the chain eagerly `localCheckpoint`s
    * every `checkpointEvery` passes so a 32k-merge encode stays a
    * sequence of small plans instead of one k-deep expression tree
    * Catalyst cannot analyze. */
  private def encodeThrough(df0: DataFrame, ms: Seq[(String, String)],
                            checkpointEvery: Int = 16): DataFrame = {
    var df = df0
    var passes = 0
    for (g <- disjointGroups(ms)) {
      df = df.withColumn("syms", applyMerges(col("syms"), g))
      passes += 1
      if (passes % checkpointEvery == 0) df = df.localCheckpoint(true)
    }
    df
  }

  /** The ranked (l, r) merge pairs of a trained table, in rank
    * order — tiny (k rows), collected once. */
  def mergesOf(trained: DataFrame): Seq[(String, String)] =
    trained.select("rank", "l", "r").orderBy("rank").collect()
      .map(row => (row.getString(1), row.getString(2))).toSeq

  /** Train `k` BPE merges over the corpus; answers the ranked merge
    * table (rank, l, r, cnt) — cnt is the weighted pair count at
    * selection time, the trainer's own audit trail. Stops early when
    * no pair occurs at least `minFreq` times.
    *
    * Each round selects up to `maxBatch` merges from ONE pair-count
    * aggregate, using a rule that provably reproduces the sequential
    * algorithm (so the output table — counts included — is
    * bit-identical to one-merge-per-round training, which the DuckDB
    * oracle and the differential spec mirror):
    *
    *  1. Fetch the top `maxBatch+1` pairs by (cnt DESC, l, r).
    *  2. Accept the longest PREFIX whose pairs are pairwise disjoint
    *     (no symbol of one equals a symbol OR merged string of
    *     another — a disjoint pair's count is INVARIANT under the
    *     others' application, so each accepted count is exactly what
    *     the sequential round would have measured).
    *  3. Let T = the count of the first non-accepted fetched pair
    *     (every pair outside the batch, fetched or not, counts ≤ T —
    *     the fetch is sorted). Applying a merge can only CREATE pairs
    *     adjacent to its output symbol, and each new-pair INSTANCE
    *     consumes an original adjacency overlapping the merge — so a
    *     brand-new pair's count is bounded by the ORIGINAL count of
    *     an overlapping pair, which is outside the batch, hence ≤ T.
    *     Drop accepted pairs from the tail while their count ≤ T:
    *     what remains strictly beats everything the earlier merges
    *     could create or leave behind, so the sequential argmax at
    *     each step is exactly the next batch member (equal counts
    *     WITHIN the batch keep the fetch's lexicographic order, which
    *     is the sequential tie-break). The head pair is always safe —
    *     it is the true argmax.
    *  4. Output-collision guard: if an accepted pair's merged string
    *     ALREADY exists as a symbol (its `l+r` equals an earlier
    *     round's output — single chars can never collide with a
    *     2+-char concatenation), an EXISTING pair involving that
    *     symbol gains the new instances on top of its original count,
    *     and the ≤ T bound above no longer caps it. Such a pair is
    *     accepted (it is still the exact argmax at its own turn) but
    *     TERMINATES the batch — later picks re-aggregate next round.
    *
    * Zipf makes top counts mostly distinct, so real corpora batch
    * tens of merges per round — k merges cost ~k/batch aggregation
    * rounds, the lever that makes a 32k vocabulary trainable. */
  def trainBpe(documents: DataFrame, k: Int, minFreq: Long = 2L,
               maxBatch: Int = 64): DataFrame = {
    val spark = documents.sparkSession
    var vocab = wordFreqs(documents)
      .select(col("word"), col("freq"), charSyms("word").as("syms"))
      .localCheckpoint(true)
    val merges = Vector.newBuilder[(Int, String, String, Long)]
    // every symbol a past merge created — the output-collision guard
    // (doc step 4); initial symbols are single chars, which a 2+-char
    // concatenation can never equal
    var mergedSyms = Set.empty[String]
    var rank = 0
    var done = false
    while (rank < k && !done) {
      val want = math.min(maxBatch, k - rank)
      val fetched = vocab
        .select(col("freq"), explode(arrays_zip(
          slice(col("syms"), lit(1), size(col("syms")) - 1).as("l"),
          slice(col("syms"), lit(2), size(col("syms")) - 1).as("r"))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(desc("cnt"), asc("l"), asc("r"))
        .limit(want + 1).collect()
        .map(row => (row.getString(0), row.getString(1), row.getLong(2)))
      if (fetched.isEmpty || fetched(0)._3 < minFreq) done = true
      else {
        // longest disjoint prefix at or above the frequency floor
        var used = Set.empty[String]
        var m = 0
        var stop = false
        while (!stop && m < math.min(want, fetched.length) &&
               fetched(m)._3 >= minFreq) {
          val (l, r, _) = fetched(m)
          if (m > 0 && (used(l) || used(r) || used(l + r))) stop = true
          else {
            used = used + l + r + (l + r)
            m += 1
            // output collision (doc step 4): this pick is exact but
            // uncaps counts of existing (x, l+r) pairs — close the
            // batch here
            if (mergedSyms(l + r)) stop = true
          }
        }
        // strict-dominance trim: the batch must strictly beat the
        // best pair left outside it (see step 3 above)
        val bound = if (m < fetched.length) fetched(m)._3 else Long.MinValue
        while (m > 1 && fetched(m - 1)._3 <= bound) m -= 1
        val batch = fetched.take(m)
        batch.foreach { case (l, r, cnt) =>
          merges += ((rank, l, r, cnt)); rank += 1
          mergedSyms = mergedSyms + (l + r)
        }
        vocab = vocab
          .withColumn("syms",
            applyMerges(col("syms"), batch.toSeq.map(t => (t._1, t._2))))
          .localCheckpoint(true) // flat lineage, one plan per round
      }
    }
    import spark.implicits._
    merges.result().toDF("rank", "l", "r", "cnt")
      .select(col("rank").cast("long").as("rank"), col("l"), col("r"),
        col("cnt"))
  }

  /** The trained vocabulary: every surviving symbol with its
    * weighted corpus occurrence count — the artifact a tokenizer
    * ships. Takes the TRAINED merge table (training never silently
    * re-runs); same distinct-word shape as training, the corpus
    * never re-scans. */
  def bpeVocab(documents: DataFrame, trained: DataFrame): DataFrame = {
    // the encoded word-type table materializes BEFORE the explode:
    // a generator whose input embeds the whole nested merge-fold
    // chain costs seconds of per-run expression/codegen work even on
    // a tiny table — exploding a plain materialized column is
    // milliseconds (measured 4.6 s → 0.2 s at sf0.1)
    val enc = encodeThrough(
      wordFreqs(documents)
        .select(col("word"), col("freq"), charSyms("word").as("syms")),
      mergesOf(trained))
      .localCheckpoint(true)
    enc.select(explode(col("syms")).as("token"), col("freq"))
      .groupBy("token").agg(sum(col("freq")).as("n_occurrences"))
  }

  /** One-shot convenience: train `k` merges, then [[bpeVocab]]. */
  def bpeVocab(documents: DataFrame, k: Int): DataFrame =
    bpeVocab(documents, trainBpe(documents, k))

  /** Encode the corpus with a trained merge table and answer per-doc
    * token counts (doc_id, n_tokens). Distinct words encode ONCE
    * (grouped folds over the word-type table); the corpus then joins
    * the tiny word→count table — broadcast at any corpus scale. */
  def tokenCountsBpe(documents: DataFrame, trained: DataFrame): DataFrame = {
    val words = documents
      .select(col("doc_id"),
        explode(expr(s"regexp_extract_all(lower(text), '$WordRe', 0)"))
          .as("word"))
    val enc = encodeThrough(
      words.select(col("word")).distinct()
        .select(col("word"), charSyms("word").as("syms")),
      mergesOf(trained))
    val counts = enc.select(col("word").as("w"),
      size(col("syms")).cast("long").as("n_word_tokens"))
    words.join(broadcast(counts), words("word") === counts("w"))
      .groupBy("doc_id")
      .agg(sum(col("n_word_tokens")).as("n_tokens"))
  }

  /** One-shot convenience: train `k` merges, then [[tokenCountsBpe]]. */
  def tokenCountsBpe(documents: DataFrame, k: Int): DataFrame =
    tokenCountsBpe(documents, trainBpe(documents, k))

  // ---- standard-artifact export (GPT-2 vocab.json / merges.txt) ----

  /** merges.txt in the GPT-2 layout: the `#version: 0.2` header,
    * then one `l r` line per merge in rank order — consumable by any
    * BPE loader that reads HF/GPT-2 merge files. */
  def exportMergesTxt(trained: DataFrame): String =
    ("#version: 0.2" +: mergesOf(trained).map { case (l, r) => s"$l $r" })
      .mkString("", "\n", "\n")

  /** vocab.json in the GPT-2 layout: token → contiguous id, base
    * alphabet first then one entry per merge OUTPUT in rank order —
    * the id assignment GPT-2's trainer produces. The base alphabet
    * here is the pre-tokenizer's own ([a-z], see [[WordRe]]), so
    * tokens never need JSON escaping; merge outputs are unique by
    * the trainer's output-collision guard. */
  def exportVocabJson(trained: DataFrame): String = {
    val tokens = ('a' to 'z').map(_.toString) ++
      mergesOf(trained).map { case (l, r) => l + r }
    tokens.zipWithIndex
      .map { case (t, i) => s""""$t":$i""" }
      .mkString("{", ",", "}")
  }

  /** Write the trained tokenizer to `dir/vocab.json` +
    * `dir/merges.txt` — the artifact layout tooling outside graft
    * (HF tokenizers, GPT-2 loaders) consumes directly. */
  def exportTokenizer(trained: DataFrame, dir: String): Unit = {
    val spark = trained.sparkSession
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(root)
    def write(name: String, text: String): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(root, name), true)
      try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    write("merges.txt", exportMergesTxt(trained))
    write("vocab.json", exportVocabJson(trained))
  }

  /** Parse a GPT-2 merges.txt back to the ranked merge table (rank,
    * l, r) — [[exportMergesTxt]]'s inverse; the re-imported table
    * drives [[tokenCountsBpe]]/[[bpeVocab]] to identical encodes.
    * Blank lines and `#` comments skip, like the HF loader. */
  def parseMergesTxt(spark: org.apache.spark.sql.SparkSession,
                     text: String): DataFrame = {
    import spark.implicits._
    text.linesIterator
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      .zipWithIndex
      .map { case (line, i) =>
        val sp = line.indexOf(' ')
        require(sp > 0 && line.indexOf(' ', sp + 1) < 0,
          s"malformed merges.txt line: '$line'")
        (i.toLong, line.take(sp), line.drop(sp + 1))
      }
      .toSeq.toDF("rank", "l", "r")
  }
}
