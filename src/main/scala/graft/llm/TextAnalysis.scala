package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cross-engine-deterministic primitives shared by the LLM-pipeline
  * operators. Everything is integer arithmetic (or left-fold double
  * arithmetic) expressible identically in Spark and an ANSI-ish SQL
  * oracle, so even MinHash signatures hash-match DuckDB bit-for-bit.
  */
object Portable {
  /** Modulus for all rolling/permutation hashes (fits products in i64). */
  val P = 1000000007L

  /** Portable 60-bit string hash: first 15 hex digits of md5, mod P.
    * Spark: conv(substr(md5(s),1,15),16,10); DuckDB:
    * ('0x'||substr(md5(s),1,15))::BIGINT. */
  def hash60SqlSpark(s: String): String =
    s"CAST(conv(substring(md5($s), 1, 15), 16, 10) AS BIGINT) % ${P}L"

  /** Same, as a DuckDB SQL fragment. */
  def hash60SqlDuck(s: String): String =
    s"(('0x' || substr(md5($s), 1, 15))::BIGINT % $P)"

  /** Same, as a JVM function (for executor-side Scala code paths —
    * identical to the SQL forms bit-for-bit). */
  def hash60(s: String): Long =
    hash60Bytes(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** The byte-level primitive: md5 over raw bytes, first 15 hex
    * digits, mod P. For binary payloads this is the ONLY correct
    * form — round-tripping bytes through a String collapses invalid
    * UTF-8 sequences to U+FFFD, so distinct non-UTF-8 payloads would
    * hash identically. For UTF-8 text it equals [[hash60]] exactly. */
  def hash60Bytes(b: Array[Byte]): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(b)
    val hex = d.map(x => f"$x%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16) % P
  }
}

/** Text-analysis operators over the `documents` table: language ID,
  * quality scoring, token counting, fingerprinting. All run as native
  * codegen'd expressions (split/filter/aggregate higher-order
  * functions) — per-row work, no shuffle, scales linearly with
  * input splits at 100 TB.
  */
object TextAnalysis {
  import Portable._

  /** Stopword lists for the n-gram/stopword language-ID heuristic. */
  val StopWords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "es" -> Seq("el", "la", "de", "y", "en", "es", "un"),
    "de" -> Seq("der", "die", "das", "und", "zu", "ist"),
    "fr" -> Seq("le", "la", "de", "et", "en", "est", "un"))

  private def tokensCol: Column = split(col("text"), " ")

  private def withToks(df: DataFrame): DataFrame =
    if (df.columns.contains("toks")) df else df.withColumn("toks", tokensCol)

  /** Append `pred_lang` + per-language stopword scores as columns —
    * the composable form: still a narrow per-row transform, so a
    * pipeline can stack it with [[withQualityScore]] on ONE scan
    * instead of joining two derived frames. Deterministic argmax with
    * fixed priority en>es>de>fr; zero evidence → 'und'. */
  def withLangPred(documents: DataFrame): DataFrame = {
    val withScores = StopWords.foldLeft(withToks(documents)) {
      case (df, (lang, words)) =>
        df.withColumn(s"score_$lang",
          size(filter(col("toks"), t => t.isin(words: _*))))
    }
    withScores.withColumn("pred_lang",
      expr(
        """CASE
          |  WHEN score_en = 0 AND score_es = 0 AND score_de = 0 AND score_fr = 0 THEN 'und'
          |  WHEN score_en >= score_es AND score_en >= score_de AND score_en >= score_fr THEN 'en'
          |  WHEN score_es >= score_de AND score_es >= score_fr THEN 'es'
          |  WHEN score_de >= score_fr THEN 'de'
          |  ELSE 'fr'
          |END""".stripMargin))
  }

  /** doc_id, predicted lang + per-language stopword scores. */
  def langId(documents: DataFrame): DataFrame =
    withLangPred(documents).select(
      col("doc_id"), col("pred_lang"),
      col("score_en"), col("score_es"), col("score_de"), col("score_fr"))

  /** Append the quality features + composite `quality_score` (round 6)
    * as columns — the composable per-row form. */
  def withQualityScore(documents: DataFrame): DataFrame =
    withToks(documents)
      .withColumn("n_words", size(col("toks")))
      .withColumn("n_chars_raw", length(col("text")))
      .withColumn("n_alpha", length(regexp_replace(col("text"), " ", "")))
      .withColumn("n_stop",
        size(filter(col("toks"), t => t.isin(StopWords.head._2: _*))))
      // integer-exact 1e-6-unit ratios (SURVEY §6): round(int/int, 6)
      // hits exact decimal midpoints the engines round differently
      // (denominators like 640 = 2^7·5); integer DIV is portable at
      // any scale and both engines truncate identically
      .withColumn("avg_word_len_e6",
        expr("CAST(n_alpha AS BIGINT) * 1000000 DIV n_words"))
      .withColumn("stop_ratio_e6",
        expr("CAST(n_stop AS BIGINT) * 1000000 DIV n_words"))
      .withColumn("quality_score_e6", expr(
        "least(CAST(n_words AS BIGINT) * 5000, 500000L) + " +
        "least(CAST(n_stop AS BIGINT) * 1500000 DIV n_words, 300000L) + " +
        "CASE WHEN n_alpha >= 3 * n_words AND n_alpha <= 8 * n_words " +
        "THEN 200000L ELSE 0L END"))

  /** doc_id + quality features + composite score (1e-6 units). */
  def quality(documents: DataFrame): DataFrame =
    withQualityScore(documents).select(
      col("doc_id"), col("n_words"), col("n_chars_raw"),
      col("avg_word_len_e6"), col("stop_ratio_e6"), col("quality_score_e6"))

  /** The Gopher rule set's required stopwords (arXiv:2112.11446
    * §A1.1: a doc must contain ≥2 of them). */
  val GopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style composite quality RULES (arXiv:2112.11446 §A1.1)
    * — the boolean-gate companion to the graded [[quality]] score:
    * each rule answers 0/1 per doc, `pass` is their conjunction, and
    * the per-rule columns say WHY a doc dropped (the auditability
    * production filters need). Bounds are integer-exact
    * cross-multiplications (mean word length in [min,max] ⇔
    * min·n_words ≤ n_alpha ≤ max·n_words), so both engines decide
    * identically — no ratio rounding anywhere. Line/sentence rules
    * from the paper (bullet-start, ellipsis-end line ratios) are
    * re-expressed over the word-stream corpus shape as the
    * symbol-token ratio rule (documented deviation: the testdata
    * carries no line structure). Per-row codegen'd higher-order
    * functions on the scan — no shuffle, linear at 100 TB. */
  def gopherRules(documents: DataFrame,
                  minWords: Int = 50, maxWords: Int = 100000,
                  minMeanLen: Int = 3, maxMeanLen: Int = 10,
                  stops: Seq[String] = GopherStops): DataFrame =
    withGopherRules(documents, minWords, maxWords, minMeanLen,
        maxMeanLen, stops)
      .select(col("doc_id"), col("n_words"), col("rule_word_count"),
        col("rule_mean_word_len"), col("rule_alpha_words"),
        col("rule_symbol_ratio"), col("rule_stopwords"), col("pass"))

  /** The composable form of [[gopherRules]]: APPENDS the rule
    * columns on the same scan, reusing toks/n_words/n_alpha when an
    * upstream stage (e.g. [[withQualityScore]]) already computed
    * them — pipelines stack gates without re-scanning. */
  def withGopherRules(documents: DataFrame,
                      minWords: Int = 50, maxWords: Int = 100000,
                      minMeanLen: Int = 3, maxMeanLen: Int = 10,
                      stops: Seq[String] = GopherStops): DataFrame = {
    val base0 = withToks(documents)
    val base1 =
      if (base0.columns.contains("n_words")) base0
      else base0.withColumn("n_words", size(col("toks")))
    val base =
      if (base1.columns.contains("n_alpha")) base1
      else base1.withColumn("n_alpha",
        length(regexp_replace(col("text"), " ", "")))
    base
      .withColumn("n_alpha_words",
        size(filter(col("toks"), t => t.rlike("[a-zA-Z]"))))
      .withColumn("n_symbol_words", size(filter(col("toks"),
        t => t.startsWith("#") || t.contains("..."))))
      .withColumn("n_stops_present", expr(
        s"size(filter(array${stops.map(w => s"'$w'")
          .mkString("(", ", ", ")")}, w -> array_contains(toks, w)))"))
      .withColumn("rule_word_count",
        expr(s"CAST(n_words >= $minWords AND n_words <= $maxWords AS INT)"))
      .withColumn("rule_mean_word_len",
        expr(s"CAST(n_alpha >= $minMeanLen * n_words AND " +
          s"n_alpha <= $maxMeanLen * n_words AS INT)"))
      // ≥80% of words carry an alphabetic char (×5 cross-multiply)
      .withColumn("rule_alpha_words",
        expr("CAST(n_alpha_words * 5 >= n_words * 4 AS INT)"))
      // symbol-to-word ratio ≤ 0.1 (×10 cross-multiply)
      .withColumn("rule_symbol_ratio",
        expr("CAST(n_symbol_words * 10 <= n_words AS INT)"))
      .withColumn("rule_stopwords",
        expr("CAST(n_stops_present >= 2 AS INT)"))
      .withColumn("pass", expr(
        "CAST(rule_word_count = 1 AND rule_mean_word_len = 1 AND " +
        "rule_alpha_words = 1 AND rule_symbol_ratio = 1 AND " +
        "rule_stopwords = 1 AS INT)"))
  }

  /** doc_id, whitespace token count, BPE-ish regex token count
    * (`[a-z0-9]+` runs plus isolated symbols), metadata check. */
  def tokenCounts(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      size(tokensCol).as("n_ws_tokens"),
      regexp_count(col("text"), lit("[a-z0-9]+|[^a-z0-9\\s]")).as("n_re_tokens"),
      col("n_chars").as("n_chars_meta"),
      length(col("text")).as("n_chars_actual"))

  /** Tokenizer fertility per language — the standard tokenizer-eval
    * metric (chars per token; a tokenizer "spends" more tokens on
    * languages it undertrained on): per lang, Σchars·10⁶ half-up
    * over Σwhitespace-tokens, plus the doc count and both raw sums
    * so downstream re-weighting needs no second scan. The ratio uses
    * the evaluator's half-up DOUBLE formula (floor((2a+b)/2b)) — the
    * all-integer form would overflow int64 once Σchars·2e6 passes
    * 2⁶³ (~5e12 chars, i.e. a few TB of text in ONE language), and
    * the double ops are correctly-rounded IEEE, identical in any
    * engine.
    *
    * Scale shape: one narrow scan (per-row char/token counts) into
    * one map-side-combined aggregate keyed on the language domain
    * (tiny); no explode, no token rows ever shuffle. */
  def fertility(documents: DataFrame): DataFrame =
    documents
      .select(col("lang"),
        length(coalesce(col("text"), lit(""))).cast("long").as("chars"),
        size(split(coalesce(col("text"), lit("")), " ")).cast("long").as("toks"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("chars")).as("sum_chars"),
        sum(col("toks")).as("sum_tokens"))
      .withColumn("fertility_e6", expr(
        "CAST(floor((2.0D * sum_chars * 1000000.0D + sum_tokens) " +
        "/ (2.0D * sum_tokens)) AS BIGINT)"))

  /** Top-k keywords per document by an integer-exact TF-IDF ratio:
    * tf_e6 = occurrences·1e6 DIV doc length, score_e6 = tf_e6 ·
    * n_docs DIV document frequency. Deliberately log-free — the
    * classic ln(N/df) weighting hangs per-corpus ranks on libm's
    * last ulp, while this ratio is pure integer arithmetic, identical
    * in any engine, and induces a per-document keyword RANKING that
    * still rewards rare terms (score is monotone decreasing in df for
    * fixed tf). Ties break on the word ascending.
    *
    * Scale shape: one token explode → a map-side-combined (doc, word)
    * count; document frequency reduces that to vocabulary cardinality
    * (AQE broadcasts it back when small); corpus size joins in as a
    * broadcast 1-row literal — never a driver-side collect; the final
    * per-doc rank partitions on doc_id with ≤ distinct-words rows per
    * partition. */
  def tfidfKeywords(documents: DataFrame, k: Int = 5): DataFrame = {
    val toks = split(coalesce(col("text"), lit("")), " ")
    val words = documents.select(col("doc_id"), explode(toks).as("w"))
    val tf = words.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
    val docLen = words.groupBy(col("doc_id")).agg(count(lit(1)).as("n_words"))
    val dfreq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val nDocs = documents.select(countDistinct(col("doc_id")).as("n_docs"))
    val wnd = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_e6").desc, col("w").asc)
    tf.join(docLen, "doc_id").join(dfreq, "w")
      .crossJoin(broadcast(nDocs))
      .withColumn("tf_e6", expr("c * 1000000 DIV n_words"))
      .withColumn("score_e6", expr("tf_e6 * n_docs DIV df"))
      .withColumn("rk", row_number().over(wnd))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("w").as("word"),
        col("c").as("n_occurrences"), col("df").as("doc_freq"),
        col("score_e6"), col("rk").cast("long").as("rk"))
  }

  /** CCNet-style perplexity quality score (arXiv:1911.00359 §4.3):
    * a bigram language model with add-α smoothing trained ON the
    * corpus itself (distributed counts), then every document scored
    * by its cross-entropy under that model — the perplexity-filter
    * leg of the CCNet pipeline. CCNet proper scores against a
    * pretrained KenLM; the corpus-trained bigram form keeps the
    * engine self-contained while preserving the operator's shape
    * (train counts → join model back → per-doc score) and its use
    * (rank documents by how "expected" their text is; boilerplate
    * and garbage score high cross-entropy).
    *
    *   P(w | prev) = (c(prev w) + α) / (c(prev) + α·V)
    *   cross_entropy_bits = −(1/N) Σ log2 P     (ppl = 2^H)
    *
    * Scale shape: two map-side-combined hash aggregates over the
    * exploded bigrams build the model (its cardinality is the
    * corpus' DISTINCT bigrams — Zipf-bounded, orders of magnitude
    * under the token count); the document bigrams join the model on
    * its keys (shuffle joins, both sides keyed, linear); V rides a
    * broadcast 1-row aggregate; one per-doc aggregate finishes. The
    * log2 sum is float — reassociation noise ~1e-13 relative, so
    * the 6-decimal snap is engine-stable. */
  def perplexity(documents: DataFrame, alpha: Double = 0.5): DataFrame = {
    val toks = split(coalesce(col("text"), lit("")), " ")
    val bi = documents.select(col("doc_id"), toks.as("words"))
      .filter(size(col("words")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(words)-2), " +
          "i -> struct(words[i] AS p, words[i+1] AS w))")).as("b"))
      .select(col("doc_id"), col("b.p").as("p"), col("b.w").as("w"))
      // three consumers (model counts ×2 + the scoring join) — one
      // materialization so the token explode runs once, not thrice
      .localCheckpoint()
    val biCnt = bi.groupBy(col("p"), col("w")).agg(count(lit(1)).as("cb"))
    val pvCnt = bi.groupBy(col("p")).agg(count(lit(1)).as("cp"))
    val vocab = documents.select(explode(toks).as("t0"))
      .agg(countDistinct(col("t0")).as("v"))
    bi.join(biCnt, Seq("p", "w")).join(pvCnt, Seq("p"))
      .crossJoin(broadcast(vocab))
      // ${alpha}D: a bare 0.5 parses as DECIMAL in Spark SQL and the
      // decimal division would diverge from DuckDB's — both engines
      // must walk the identical double arithmetic
      .withColumn("lp", expr(
        s"ln((cb + ${alpha}D) / (cp + ${alpha}D * v)) / ln(2.0D)"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(-avg(col("lp")), 6).as("cross_entropy_bits"))
  }

  /** CCNet's head/middle/tail corpus split: per LANGUAGE, documents
    * bucket by cross-entropy terciles — `head` is the most-fluent
    * third a high-quality pretraining mix keeps, `tail` the
    * filter-out candidate. Thresholds are exact interpolated
    * percentiles over the 6-decimal-snapped scores (Spark
    * `percentile` ≡ DuckDB quantile_cont), computed per language
    * (the `lang` column — CCNet buckets within each language so one
    * language's intrinsic entropy doesn't shadow another's quality
    * signal). The threshold table is |languages| rows — broadcast
    * back; nothing beyond [[perplexity]]'s joins shuffles. */
  def perplexityBuckets(documents: DataFrame, alpha: Double = 0.5): DataFrame = {
    val ce = perplexity(documents, alpha)
      .join(documents.select(col("doc_id"), col("lang")), "doc_id")
    val th = ce.groupBy(col("lang")).agg(
      expr("percentile(cross_entropy_bits, CAST(1 AS DOUBLE)/3)").as("t1"),
      expr("percentile(cross_entropy_bits, CAST(2 AS DOUBLE)/3)").as("t2"))
    ce.join(broadcast(th), "lang")
      .withColumn("bucket", expr(
        "CASE WHEN cross_entropy_bits <= t1 THEN 'head' " +
          "WHEN cross_entropy_bits <= t2 THEN 'middle' ELSE 'tail' END"))
      .select(col("doc_id"), col("lang"), col("n_bigrams"),
        col("cross_entropy_bits"), col("bucket"))
  }

  /** RAG/embedding-pipeline document chunking: overlapping word
    * windows of `window` tokens at `stride` steps — the canonical
    * step between raw documents and an embedding model (chunk →
    * embed → ANN-index; the ann_* operators consume the result's
    * shape). Output is one row per (doc, chunk) carrying the
    * boundaries and the chunk text's md5 — the identity a
    * chunk-level dedup or an index join needs — never the text
    * itself (at 100 TB re-shipping the corpus through the exchange
    * is the mistake this column layout forbids; the chunk text is
    * re-sliceable from the source row by (start_word, n_words)).
    *
    * Chunks start at 0, stride, 2·stride, … while inside the
    * document; the last window is simply shorter (no tail merge —
    * deterministic and replayable in one expression). A pure per-row
    * transform + explode: scan-linear, zero shuffles. */
  def chunkWindows(documents: DataFrame, window: Int = 64,
                   stride: Int = 48): DataFrame = {
    require(window > 0 && stride > 0, "window and stride must be positive")
    documents
      .withColumn("words", split(coalesce(col("text"), lit("")), " "))
      .filter(size(col("words")) >= 1)
      .select(col("doc_id"), col("words"),
        explode(expr(
          s"sequence(0, size(words) - 1, $stride)")).as("start_word"))
      .select(col("doc_id"),
        (col("start_word") / stride).cast("long").as("chunk_idx"),
        col("start_word").cast("long").as("start_word"),
        expr(s"least($window, size(words) - start_word)").cast("long")
          .as("n_words"),
        expr(s"md5(concat_ws(' ', slice(words, start_word + 1, " +
          s"least($window, size(words) - start_word))))").as("chunk_md5"))
  }

  /** Corpus-wide n-gram frequency: the k most frequent word n-grams
    * with occurrence counts — the vocabulary statistics a tokenizer
    * training or corpus-QA pass starts from. Every occurrence counts
    * (no per-doc distinct). Ties rank gram-ascending, so the top-k
    * SET is engine-deterministic.
    *
    * Scale shape: explode → hash-aggregate with map-side partial
    * counts (the exchange carries one (gram, partial) row per
    * distinct gram per partition, not per occurrence) →
    * TakeOrderedAndProject for the top-k: no global sort, no
    * full-aggregate collect. */
  def ngramFreq(documents: DataFrame, n: Int = 2, k: Int = 100): DataFrame = {
    val terms = (0 until n).map(j => s"words[i+$j]").mkString(", ")
    documents
      .withColumn("words", tokensCol)
      .filter(size(col("words")) >= n)
      .select(explode(expr(
        s"transform(sequence(0, size(words)-$n), i -> concat_ws(' ', $terms))")).as("gram"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("gram").asc)
      .limit(k)
  }

  /** Zipf-law fit over the corpus vocabulary: OLS of ln(freq) on
    * ln(rank) across the top-k unigrams — the one-row corpus-QA
    * statistic that flags a degenerate crawl (slope far from ≈ −1
    * means boilerplate flooding or vocabulary collapse) and sizes
    * tokenizer-training expectations. Scale shape: the count is the
    * ngramFreq hash-aggregate (map-side partials, exchange carries
    * distinct words only) + TakeOrdered for the top-k; the fit folds
    * over a rank-sorted k-row array, so the doubles are
    * bit-deterministic regardless of partitioning and the only
    * global step is k rows on one task. */
  def zipfFit(documents: DataFrame, k: Int = 100): DataFrame = {
    val ranked = ngramFreq(documents, n = 1, k = k)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("n_occurrences").desc, col("gram").asc)))
    val slope = "(n_terms * sxy - sx * sy) / (n_terms * sxx - sx * sx)"
    // k = 1 makes the OLS denominator exactly 0.0 (ln 1 = 0 is the
    // only x) — a single-word vocabulary has no fittable slope, so
    // both stats go NULL rather than NaN (and match the oracle's
    // CASE on the same exact-zero test)
    val fit = "n_terms * sxx - sx * sx = CAST(0.0 AS DOUBLE)"
    ranked
      .agg(sort_array(collect_list(struct(col("rk"),
        expr("ln(CAST(rk AS DOUBLE))").as("x"),
        expr("ln(CAST(n_occurrences AS DOUBLE))").as("y")))).as("xs"))
      .select(
        expr("CAST(size(xs) AS BIGINT)").as("n_terms"),
        expr("aggregate(xs, CAST(0.0 AS DOUBLE), (a, t) -> a + t.x)").as("sx"),
        expr("aggregate(xs, CAST(0.0 AS DOUBLE), (a, t) -> a + t.y)").as("sy"),
        expr("aggregate(xs, CAST(0.0 AS DOUBLE), (a, t) -> a + t.x * t.y)").as("sxy"),
        expr("aggregate(xs, CAST(0.0 AS DOUBLE), (a, t) -> a + t.x * t.x)").as("sxx"))
      .select(col("n_terms"),
        expr(s"CASE WHEN $fit THEN NULL ELSE round($slope, 6) END")
          .as("zipf_slope"),
        expr(s"CASE WHEN $fit THEN NULL" +
          s" ELSE round((sy - ($slope) * sx) / n_terms, 6) END")
          .as("zipf_intercept"))
  }

  /** PII patterns shared by the scrub and its oracle. Kept to syntax
    * with identical semantics in Java regex and RE2 (no backrefs, no
    * lookaround, no alternation whose leftmost-first vs
    * leftmost-longest resolution could differ). */
  val EmailRe    = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re     = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
  val DigitRunRe = "[0-9]{7,}"

  /** PII scrub: per-doc counts of email / IPv4 / long-digit-run
    * matches, plus the md5 and length of the text with all three
    * redacted to typed placeholders. Redaction order matters and is
    * fixed (emails first — they contain dots and digits an IP or
    * digit-run pattern would partially claim; then IPs; digit runs
    * last see only digits neither earlier pattern consumed). Counts
    * are over the ORIGINAL text: an IPv4 octet is ≤3 digits, so no
    * digit-run can hide inside a counted IP, and the synthetic corpus
    * carries no IP-in-email corner.
    *
    * A narrow per-row projection — three regex passes per row, no
    * shuffle; at 100 TB it scales with the scan like any filter. */
  def piiScrub(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      regexp_count(col("text"), lit(EmailRe)).as("n_emails"),
      regexp_count(col("text"), lit(Ipv4Re)).as("n_ipv4"),
      regexp_count(col("text"), lit(DigitRunRe)).as("n_digit_runs"),
      md5(regexp_replace(regexp_replace(regexp_replace(col("text"),
        EmailRe, "<EMAIL>"), Ipv4Re, "<IP>"), DigitRunRe, "<NUM>"))
        .as("scrubbed_md5"),
      length(regexp_replace(regexp_replace(regexp_replace(col("text"),
        EmailRe, "<EMAIL>"), Ipv4Re, "<IP>"), DigitRunRe, "<NUM>"))
        .as("n_chars_scrubbed"))

  /** Gopher-style repetition signals per doc: distinct-word ratio,
    * most-frequent-word share, duplicate-2-gram fraction — the
    * filters that catch boilerplate and degenerate generations where
    * stopword/length heuristics ([[quality]]) pass.
    *
    * Scale shape: the array features (distinct counts, gram counts)
    * are per-row codegen'd higher-order functions on the scan; only
    * the top-word count shuffles, and it shuffles (doc_id, word)
    * partial counts with map-side combine — never full texts — then
    * reduces to one row per doc for an equi-join back on doc_id that
    * AQE handles. The O(distinct²) alternative (count each distinct
    * word with a nested filter, zero shuffle) loses on real corpora
    * where docs run to 10k+ words. */
  def repetition(documents: DataFrame): DataFrame = {
    // NULL text tokenizes as empty text: split(NULL) is NULL, explode
    // of NULL emits nothing, and the doc would silently vanish from
    // the inner join below while an engine that keeps NULL-feature
    // rows would not — coalesce pins one convention on both sides
    val toks = split(coalesce(col("text"), lit("")), " ")
    val feats = documents
      .select(col("doc_id"), toks.as("words"))
      .withColumn("n_words", size(col("words")))
      .withColumn("n_distinct_words", size(array_distinct(col("words"))))
      .withColumn("grams",
        when(size(col("words")) >= 2, expr(
          "transform(sequence(0, size(words)-2), i -> concat(words[i], ' ', words[i+1]))"))
          .otherwise(expr("CAST(array() AS ARRAY<STRING>)")))
      .withColumn("n_grams", size(col("grams")))
      .withColumn("n_distinct_grams", size(array_distinct(col("grams"))))
    val topWord = documents
      .select(col("doc_id"), explode(toks).as("w"))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("top_word_count"))
    feats.join(topWord, Seq("doc_id"))
      .select(col("doc_id"), col("n_words"), col("n_distinct_words"),
        // integer-exact 1e-6 ratios, like the quality features
        expr("CAST(n_distinct_words AS BIGINT) * 1000000 DIV n_words")
          .as("distinct_ratio_e6"),
        col("top_word_count"),
        expr("top_word_count * 1000000 DIV n_words").as("top_word_frac_e6"),
        col("n_grams"),
        expr("CASE WHEN n_grams = 0 THEN NULL ELSE " +
          "CAST(n_grams - n_distinct_grams AS BIGINT) * 1000000 DIV n_grams END")
          .as("dup_gram_frac_e6"))
  }

  /** doc_id + polynomial rolling-hash fingerprint over token hashes:
    * acc = (acc*131 + h60(token)) % P, left fold from 0 in token
    * order. Tokens explode once through a codegen'd hash projection;
    * the fold runs over the small pre-hashed array per doc. */
  def fingerprint(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), posexplode(tokensCol).as(Seq("pos", "t")))
      .select(col("doc_id"), col("pos"), expr(hash60SqlSpark("t")).as("h"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("pos"), col("h")))).as("ph"),
           count(lit(1)).as("n_tokens"))
      .select(
        col("doc_id"),
        expr(s"aggregate(ph, CAST(0 AS BIGINT), (acc, x) -> (acc * 131 + x.h) % ${P}L)")
          .as("fingerprint"),
        col("n_tokens"))
}
