package graft

import graft.llm.Tokenizer

/** BPE trainer/encoder vs an independent in-memory reference
  * implementation — merges, tie-breaks, and per-doc token counts
  * must agree exactly. */
class TokenizerSpec extends SparkSpecBase {

  // ---- reference BPE (sequential, obviously-correct) --------------

  private def applyRef(syms: Vector[String], a: String,
                       b: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < syms.size) {
      if (i + 1 < syms.size && syms(i) == a && syms(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** (merges, final word→symbols) for a word-frequency multiset —
    * count-desc, then (l, r)-lexicographic tie-break, the engine's
    * documented determinism contract. */
  private def refBpe(wordFreq: Map[String, Long], k: Int, minFreq: Long = 2L)
      : (Vector[(String, String, Long)], Map[String, Vector[String]]) = {
    var vocab: Map[String, (Vector[String], Long)] =
      wordFreq.map { case (w, f) => w -> (w.map(_.toString).toVector, f) }
    val merges = Vector.newBuilder[(String, String, Long)]
    var i = 0
    var done = false
    while (i < k && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((_, (syms, f)) <- vocab; j <- 0 until syms.size - 1) {
        val p = (syms(j), syms(j + 1))
        counts(p) = counts.getOrElse(p, 0L) + f
      }
      val best = counts.toSeq.sortBy { case ((l, r), c) => (-c, l, r) }.headOption
      best match {
        case Some(((l, r), c)) if c >= minFreq =>
          merges += ((l, r, c))
          vocab = vocab.map { case (w, (s, f)) => w -> (applyRef(s, l, r), f) }
          i += 1
        case _ => done = true
      }
    }
    (merges.result(), vocab.map { case (w, (s, _)) => w -> s })
  }

  private def refWordFreq(texts: Seq[String]): Map[String, Long] =
    texts.flatMap("[a-z]+".r.findAllIn(_).toSeq.map(_.toLowerCase))
      .groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }

  private def docsDf(texts: Seq[String]) = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
  }

  // ---- tests ------------------------------------------------------

  test("trained merges equal the reference on a random corpus") {
    val rnd = new scala.util.Random(20260815)
    val texts = Seq.fill(40) {
      Seq.fill(1 + rnd.nextInt(12)) {
        Seq.fill(1 + rnd.nextInt(6))("abc".charAt(rnd.nextInt(3))).mkString
      }.mkString(" ")
    }
    val (refMerges, _) = refBpe(refWordFreq(texts), 10)
    val got = Tokenizer.trainBpe(docsDf(texts), 10)
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3))).toVector
    assert(got === refMerges)
    assert(refMerges.nonEmpty, "corpus must actually exercise merges")
  }

  test("batched training equals the sequential reference deep into a merge list") {
    // a 2-letter alphabet maximizes pair-count ties, overlapping
    // candidates, and output-symbol collisions ((a,b)→"ab" while
    // "ab" already exists) — every guard in the batch selector gets
    // exercised; k=40 runs well past the single-char merges
    val rnd = new scala.util.Random(99)
    val texts = Seq.fill(60) {
      Seq.fill(2 + rnd.nextInt(10)) {
        Seq.fill(1 + rnd.nextInt(8))("ab".charAt(rnd.nextInt(2))).mkString
      }.mkString(" ")
    }
    val (refMerges, _) = refBpe(refWordFreq(texts), 40)
    val got = Tokenizer.trainBpe(docsDf(texts), 40)
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3))).toVector
    assert(got === refMerges)
    assert(refMerges.size >= 10, "corpus must exercise a deep merge list")
  }

  test("training is invariant to the batch size") {
    val rnd = new scala.util.Random(4242)
    val texts = Seq.fill(30) {
      Seq.fill(2 + rnd.nextInt(8)) {
        Seq.fill(1 + rnd.nextInt(6))("abc".charAt(rnd.nextInt(3))).mkString
      }.mkString(" ")
    }
    def merges(maxBatch: Int) =
      Tokenizer.trainBpe(docsDf(texts), 16, maxBatch = maxBatch)
        .orderBy("rank").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getLong(3))).toVector
    val seq1 = merges(1) // one merge per round — the textbook loop
    assert(merges(8) === seq1)
    assert(merges(64) === seq1)
  }

  test("disjointGroups preserves order and splits where merges interact") {
    val ms = Seq(("a", "b"), ("c", "d"), // disjoint — one group
      ("ab", "c"),                       // consumes (a,b)'s output → split
      ("e", "f"),                        // disjoint with (ab,c)? shares nothing → same group
      ("x", "ab"))                       // touches "ab" (= group 2's left) → split
    val gs = Tokenizer.disjointGroups(ms)
    assert(gs.flatten === ms, "grouping must preserve rank order")
    assert(gs === Seq(
      Seq(("a", "b"), ("c", "d")),
      Seq(("ab", "c"), ("e", "f")),
      Seq(("x", "ab"))))
    // every group is internally disjoint: no symbol or output of one
    // member equals a symbol of another
    for (g <- gs; i <- g.indices; j <- g.indices if i < j) {
      val (al, ar) = g(i); val (bl, br) = g(j)
      val aTouch = Set(al, ar, al + ar)
      assert(!aTouch(bl) && !aTouch(br) && !aTouch(bl + br))
    }
  }

  test("count ties break lexicographically by (l, r)") {
    // 'ba' and 'ab' pair counts tie at 3; (a,b) < (b,a) must win
    val texts = Seq("ab ab ab ba ba ba")
    val got = Tokenizer.trainBpe(docsDf(texts), 1).collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got === Seq(("a", "b", 3L)))
  }

  test("repeated-symbol words merge left-to-right without overlap") {
    // "aaaa" ×2: round 1 pair (a,a) has count 2·3=6 → merge → each
    // word becomes [aa, aa]; round 2 merges (aa, aa) with count 2
    val texts = Seq("aaaa", "aaaa")
    val got = Tokenizer.trainBpe(docsDf(texts), 3).collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got === Seq(("a", "a", 6L), ("aa", "aa", 2L)))
  }

  test("per-doc BPE token counts equal the reference encoding") {
    val rnd = new scala.util.Random(7)
    val texts = Seq.fill(25) {
      Seq.fill(2 + rnd.nextInt(10)) {
        Seq.fill(1 + rnd.nextInt(5))("abcd".charAt(rnd.nextInt(4))).mkString
      }.mkString(" ")
    }
    val (_, encoded) = refBpe(refWordFreq(texts), 8)
    val want = texts.zipWithIndex.map { case (t, i) =>
      (i.toLong,
        "[a-z]+".r.findAllIn(t).map(w => encoded(w).size.toLong).sum)
    }.toMap
    val got = Tokenizer.tokenCountsBpe(docsDf(texts), 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
  }

  test("final vocabulary equals the reference's weighted token counts") {
    val texts = Seq("abab abab cd", "abab cd cd ab", "ab ab cd")
    val wf = refWordFreq(texts)
    val (_, encoded) = refBpe(wf, 4)
    val want = wf.toSeq
      .flatMap { case (w, f) => encoded(w).map(_ -> f) }
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).sum }
    val got = Tokenizer.bpeVocab(docsDf(texts), 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === want)
  }

  test("the encode join broadcasts the word→count side") {
    val texts = Seq("aa ab ba bb aa", "ab aa bb")
    val plan = Tokenizer.tokenCountsBpe(docsDf(texts), 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"corpus-side join must broadcast the tiny vocab:\n$plan")
  }

  test("trains on the documents table end-to-end") {
    val docs = graft.sources.Tables.documents(spark, Sf)
    val merges = Tokenizer.trainBpe(docs, 6).collect()
    assert(merges.length == 6)
    // ranks are dense and counts non-increasing is NOT guaranteed by
    // BPE in general, but every selected count meets the floor
    assert(merges.map(_.getLong(3)).forall(_ >= 2L))
  }

  test("exported vocab.json/merges.txt round-trip to an identical encode") {
    val docs = graft.sources.Tables.documents(spark, Sf)
    val trained = Tokenizer.trainBpe(docs, 12).localCheckpoint(true)
    val dir = "/tmp/graft_test/tok_export"
    Tokenizer.exportTokenizer(trained, dir)
    // the artifact layout: GPT-2 merges.txt (version header + "l r"
    // lines in rank order) and vocab.json (alphabet then one id per
    // merge output, contiguous)
    def slurp(name: String): String =
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, name)), "UTF-8")
    val mergesTxt = slurp("merges.txt")
    assert(mergesTxt.startsWith("#version: 0.2\n"))
    val lines = mergesTxt.linesIterator.drop(1).toSeq
    assert(lines.size === 12 && lines.forall(_.matches("[a-z]+ [a-z]+")))
    val vocabJson = slurp("vocab.json")
    val entries = vocabJson.stripPrefix("{").stripSuffix("}").split(',')
      .map { e =>
        val Array(k, v) = e.split(':')
        (k.stripPrefix("\"").stripSuffix("\""), v.toInt)
      }.toSeq
    assert(entries.map(_._2) === entries.indices)
    assert(entries.take(26).map(_._1) === ('a' to 'z').map(_.toString))
    assert(entries.drop(26).map(_._1) ===
      Tokenizer.mergesOf(trained).map { case (l, r) => l + r })
    // parse → identical encode: the re-imported table drives the
    // encoder to the same per-doc token counts, row for row
    val reimported = Tokenizer.parseMergesTxt(spark, mergesTxt)
    assert(Tokenizer.mergesOf(reimported) === Tokenizer.mergesOf(trained))
    val a = Tokenizer.tokenCountsBpe(docs, trained).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val b = Tokenizer.tokenCountsBpe(docs, reimported).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(a === b && a.nonEmpty)
  }
}
