package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.{Exposition, Ingest, PromRemoteCodec, RollupStore, SamplesStore, StreamIngest, TsvBulk}
import graft.ingest.PromRemoteCodec.{PromLabel, PromSample, PromTimeSeries}
import graft.llm.{Dedup, Multimodal, Sampling, Similarity, TextAnalysis, Tokenizer}
import graft.operators._
import graft.serve.PromQL
import graft.sources.Tables

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  *
  * Conventions shared by every query and its DuckDB oracle:
  *  - time is exact integer epoch arithmetic (ts_us BIGINT, second
  *    buckets via DIV) — no engine-dependent timestamp semantics;
  *  - label arrays leave the engine as `labels_str` (","-joined,
  *    already sorted) — scalar columns hash identically everywhere;
  *  - order-dependent float aggregates are round(x, 6);
  *  - column names are aliased identically on both sides.
  */
object SparkEntry {

  // events span 2024-01-01..2024-01-30 UTC at every SF.
  private val WinStartMs = 1704412800000L // 2024-01-05T00:00:00Z
  private val WinEndMs   = 1705708800000L // 2024-01-20T00:00:00Z

  private def samples(s: SparkSession, dir: String): DataFrame = Tables.samples(s, dir)

  /** Clone session whose shuffle width derives from the source
    * table's bytes ([[Width]], 512 KiB per task, floor min(cap, 4))
    * instead of the session constant. The pure PromQL evaluation
    * entries run multi-exchange aggregate/join pipelines over the
    * samples table; at small per-query input the session-wide width
    * is pure task-scheduling tax that AQE's parallelism-first
    * coalescing deliberately keeps (measured: promql_group_left
    * 1.30 s at width 32 vs 0.51 s at width 4 on the identical plan;
    * estimator/read/ts shapes flat, never worse). Cap = the session's
    * own width, so a cluster-scale source — or one whose size cannot
    * be listed — keeps exactly today's width.
    *
    * Serves only this object's bench and oracle entries; the serving
    * path never calls it. That is why the memo is unbounded: it holds
    * one clone per (session, dir, table) a bench pass touches. Each
    * clone shares the SparkContext and the cache manager
    * (sqlContext.clearCache() on any session clears it). */
  private val querySessions =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), SparkSession]
  private def querySession(s: SparkSession, dir: String,
                           table: String = "events.parquet"): SparkSession =
    querySessions.computeIfAbsent((s, dir, table), _ => {
      val cap = s.sessionState.conf.numShufflePartitions
      val bytes = Width.dataBytes(s.sparkContext.hadoopConfiguration,
        Seq(new org.apache.hadoop.fs.Path(dir, table)))
      val ss = s.newSession()
      ss.conf.set("spark.sql.shuffle.partitions",
        Width.of(bytes, Width.QueryTarget, 4, cap).toString)
      ss
    })

  /** [[samples]] on the query-scaled clone session — for the PURE
    * evaluation entries (no store writes, no fixtures riding the
    * outer session's DataFrames). */
  private def qsamples(s: SparkSession, dir: String): DataFrame =
    Tables.samples(querySession(s, dir), dir)

  /** documents/embeddings on their query-scaled clone sessions — for
    * the pure ITERATIVE entries (connected components, Lloyd rounds,
    * logistic training steps): each round runs several tiny
    * aggregates/joins whose session-width fan-out is pure scheduling
    * tax, measured −10-17% at the byte-derived width. Single-pass
    * CPU kernels (minhash/simhash/shingle scans) deliberately stay on
    * the session width — the same A/B showed dedup_substring_spans
    * +25% when narrowed. */
  private def qdocuments(s: SparkSession, dir: String): DataFrame =
    Tables.documents(querySession(s, dir, "documents.parquet"), dir)
  private def qembeddings(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(querySession(s, dir, "embeddings.parquet"), dir)

  /** samples twin whose series carry (instance, job) identities,
    * plus one `target_info` series per instance — the info-metric
    * shape `info()` joins. Identities derive from events
    * (instance=u<user_id>, job=events); target_info's data labels
    * (dc, os) derive deterministically from user_id so both engines
    * build the identical corpus. */
  private def samplesWithTargetInfo(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.eventsNorm(s, dir)
    val uid = col("user_id").cast("string")
    val base = ev.select(
      col("ts_us"), timestamp_micros(col("ts_us")).as("ts"),
      col("event_type").as("metric"),
      array_sort(array(concat(lit("instance=u"), uid),
        lit("job=events"))).as("labels"),
      col("value"))
    val ti = ev.select(
      col("ts_us"), timestamp_micros(col("ts_us")).as("ts"),
      lit("target_info").as("metric"),
      array_sort(array(
        concat(lit("instance=u"), uid), lit("job=events"),
        concat(lit("dc=dc"), pmod(col("user_id"), lit(3)).cast("string")),
        concat(lit("os="), when(pmod(col("user_id"), lit(2)) === 0, "linux")
          .otherwise("darwin")))).as("labels"),
      lit(1.0).as("value"))
    base.unionByName(ti)
  }

  /** labels ARRAY<STRING> → labels_str for oracle-safe output. */
  private def strLabels(df: DataFrame): DataFrame =
    df.withColumn("labels_str", array_join(col("labels"), ",")).drop("labels")

  /** v1 WriteRequest blob whose series carry NATIVE HISTOGRAMS — the
    * write_request_hist_e2e fixture encoder (the DECODE leg is the
    * production path under test). Per (metric, day, n): schema 0
    * (base 2), positive span offset 0 length 3 → buckets (0.5,1],
    * (1,2], (2,4] with counts (n%7, n%5+1, n%3) carried as zigzag
    * deltas, count = their sum, sum = n/2 (exact in double). */
  private def histBlob(rows: Seq[(String, Long, Long)]): Array[Byte] = {
    import graft.ingest.ProtoWire
    def zz(v: Long): Long = (v << 1) ^ (v >> 63)
    val w = new ProtoWire.Writer
    rows.foreach { case (metric, day, n) =>
      val ts = new ProtoWire.Writer
      def label(k: String, v: String): Unit = {
        val l = new ProtoWire.Writer
        l.writeStringField(1, k); l.writeStringField(2, v)
        ts.writeMessageField(1, l)
      }
      label("__name__", metric); label("src", "hist")
      val a = n % 7; val b = n % 5 + 1; val c = n % 3
      val h = new ProtoWire.Writer
      h.writeVarintField(1, a + b + c)     // count_int
      h.writeDoubleField(3, n * 0.5)       // sum
      h.writeVarintField(4, 0L)            // schema 0
      val span = new ProtoWire.Writer
      span.writeVarintField(1, 0L); span.writeVarintField(2, 3L)
      h.writeMessageField(11, span)        // positive_spans
      val deltas = new ProtoWire.Writer
      Seq(a, b - a, c - b).foreach(d => deltas.writeVarint(zz(d)))
      h.writeBytesField(12, deltas.toBytes) // packed positive_deltas
      h.writeVarintField(15, day * 1000L)   // timestamp ms
      ts.writeMessageField(4, h)
      w.writeMessageField(1, ts)
    }
    org.xerial.snappy.Snappy.compress(w.toBytes)
  }

  /** Flagship: full remote-read pipeline on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    queries("read_full_pipeline")(spark, "/root/testdata/sf0.001")

  /** Scratch dir for queries that exercise store/sink round-trips. */
  private def workDir(name: String, dir: String): String =
    s"/tmp/graft_work/${name}_${new java.io.File(dir).getName}"

  /** Fingerprint of a source parquet file (size + mtime) — embedded
    * in pay-once markers so regenerated testdata under the same path
    * invalidates the cached copy instead of silently serving stale
    * data across processes (/tmp/graft_work outlives the JVM).
    * Resolved through the same Hadoop FileSystem payOnce uses: a
    * java.io.File on a non-local URI silently reports 0:0, which
    * would pin the marker to a constant and serve stale data. */
  private def srcFingerprint(s: SparkSession, dir: String, table: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir, s"$table.parquet")
    val st = p.getFileSystem(s.sparkContext.hadoopConfiguration).getFileStatus(p)
    s"${st.getLen}:${st.getModificationTime}"
  }

  /** The shared hourly-rollup fixture for the rollup-SERVE queries:
    * ONE samples store + ONE 3600s rollup, built pay-once behind a
    * fingerprinted marker (source fingerprint + rollup schema
    * version, so regenerated testdata or a schema bump rebuilds).
    * The serve queries measure the SERVING read — the store/rollup
    * build is deployment scaffolding (a real deployment maintains
    * its rollup incrementally; store_rollup/_incremental/
    * ingest_streaming_rollup stay live builds and bench that work).
    * Returns (storePath, rollupPath). */
  private def rollupServeFixture(s: SparkSession, dir: String): (String, String) = {
    val path = workDir("rollupserve_shared", dir)
    val rpath = workDir("rollupserve_shared_roll", dir)
    val want = srcFingerprint(s, dir, "events") +
      s":v${graft.ingest.RollupStore.SchemaVersion}:3600"
    payOnce(s, workDir("rollupserve_shared_marker", dir), want) {
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      fs.delete(new org.apache.hadoop.fs.Path(rpath), true)
      SamplesStore.write(samples(s, dir), path)
      RollupStore.rollup(s, path, rpath, 3600L)
    }
    (path, rpath)
  }

  /** Raw store + 900 s fine rollup + 3600 s LADDER rollup (coarse
    * built FROM fine, never from raw), shared pay-once. */
  private def ladderFixture(s: SparkSession, dir: String): (String, String, String) = {
    val path = workDir("ladder_store", dir)
    val fine = workDir("ladder_fine", dir)
    val coarse = workDir("ladder_coarse", dir)
    val want = srcFingerprint(s, dir, "events") +
      s":v${graft.ingest.RollupStore.SchemaVersion}:900:3600"
    payOnce(s, workDir("ladder_marker", dir), want) {
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      Seq(path, fine, coarse).foreach(p =>
        fs.delete(new org.apache.hadoop.fs.Path(p), true))
      SamplesStore.write(samples(s, dir), path)
      RollupStore.rollup(s, path, fine, 900L)
      RollupStore.rollupLadder(s, fine, coarse, 3600L)
    }
    (path, fine, coarse)
  }

  /** The trained BPE merge table for this corpus, built ONCE behind
    * a fingerprinted marker — training is the expensive artifact;
    * the encode/vocab queries consume it instead of re-training
    * (tokenizer_train_bpe still trains live: it IS the training
    * benchmark). Deterministic, so the cached table is bit-identical
    * to what a fresh train would answer. */
  private def trainedBpe(s: SparkSession, dir: String, k: Int):
      org.apache.spark.sql.DataFrame = {
    val path = workDir(s"bpe_merges_$k", dir)
    payOnce(s, path, srcFingerprint(s, dir, "documents")) {
      Tokenizer.trainBpe(Tables.documents(s, dir), k)
        .coalesce(1).write.mode("overwrite").parquet(path + "/table")
    }
    s.read.parquet(path + "/table")
  }

  /** Build `path` once behind a `_READY` marker whose CONTENT is the
    * source fingerprint: absent marker (partial build) or mismatched
    * content (regenerated testdata) both force a rebuild; the marker
    * is written only after `build` completes. */
  private def payOnce(s: SparkSession, path: String, want: String)(build: => Unit): Unit = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(path, "_READY")
    val have =
      if (!fs.exists(marker)) None
      else {
        val in = fs.open(marker)
        try Some(new String(org.apache.commons.io.IOUtils.toByteArray(in), utf8))
        finally in.close()
      }
    if (!have.contains(want)) {
      build
      val out = fs.create(marker, true)
      try out.write(want.getBytes(utf8))
      finally out.close()
    }
  }

  /** Plant one crawl file for a streaming fixture: write the frame
    * as a single parquet part, move it to `src/crawl<k>.parquet`,
    * and stamp the mtime that gives the file source its batch order
    * — the move-and-stamp dance both stream_* fixtures share. */
  private def plantCrawl(df: DataFrame, src: String, k: Int,
                         mtime: Long): Unit = {
    val tmp = src + s"_tmp$k"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val dst = new java.io.File(src, s"crawl$k.parquet")
    dst.getParentFile.mkdirs()
    java.nio.file.Files.move(part.toPath, dst.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    dst.setLastModified(mtime)
    new java.io.File(tmp).listFiles().foreach(_.delete())
    new java.io.File(tmp).delete()
    ()
  }

  /** Client-request blobs are fixture SCAFFOLDING — built pay-once
    * behind a fingerprinted ready marker (one length-prefixed file),
    * so repeat runs measure the production decode+append path, not
    * the fixture's own encode (the ingest_otlp pattern, shared). */
  private def payOnceBlobs(s: SparkSession, dir: String, name: String,
                           fingerprint: String)
                          (build: => Seq[Array[Byte]]): Seq[Array[Byte]] = {
    val bdir = workDir(name, dir)
    val file = new org.apache.hadoop.fs.Path(bdir, "blobs.bin")
    val fs = file.getFileSystem(s.sparkContext.hadoopConfiguration)
    payOnce(s, bdir, fingerprint) {
      val out = new java.io.DataOutputStream(fs.create(file, true))
      try {
        val bs = build
        out.writeInt(bs.size)
        bs.foreach { b => out.writeInt(b.length); out.write(b) }
      } finally out.close()
    }
    val in = new java.io.DataInputStream(fs.open(file))
    try {
      (0 until in.readInt()).map { _ =>
        val b = new Array[Byte](in.readInt())
        in.readFully(b)
        b
      }
    } finally in.close()
  }

  /** Shared native-histogram SERVING fixture: the deterministic
    * histBlob request served once (pay-once behind a fingerprinted
    * marker) into a store whose `_hist` sibling then backs the
    * native-estimator queries. Returns the sibling store and click's
    * day grid bounds (seconds). */
  private def nativeHistFixture(s: SparkSession, dir: String)
      : (DataFrame, Long, Long) = {
    val path = workDir("wservehq", dir)
    payOnce(s, path, s"${srcFingerprint(s, dir, "events")}:hq1") {
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      fs.delete(new org.apache.hadoop.fs.Path(
        graft.serve.RemoteWrite.histPath(path)), true)
      val agg = samples(s, dir)
        .groupBy(col("metric"),
          expr("ts_us DIV 1000000 DIV 86400 * 86400").as("day"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
        .sortBy(t => (t._1, t._2))
      graft.serve.RemoteWrite.serveAll(s, path, Seq(histBlob(agg)))
      ()
    }
    val days = samples(s, dir).filter(col("metric") === "click")
      .agg(min(expr("ts_us DIV 1000000 DIV 86400 * 86400")),
        max(expr("ts_us DIV 1000000 DIV 86400 * 86400"))).first()
    (SamplesStore.read(s, graft.serve.RemoteWrite.histPath(path)),
      days.getLong(0), days.getLong(1))
  }

  /** Two-shard CUMULATIVE native-histogram fixture for the COMPOSED
    * native estimators (`rate`, `sum by`): per (day, shard) the
    * day's bucket increments are shard 0: (a, b, c) =
    * (n%7, n%5+1, n%3) and shard 1 the rotation (b, c, a) — n the
    * day's click count — on the same schema-0 buckets as
    * [[histBlob]]; the WIRE samples carry CUMULATIVE counts (a
    * counter histogram), so bucket-wise rate recovers exactly the
    * increments. Returns (hist sibling DF, first day, last day). */
  private def nativeHistRateFixture(s: SparkSession, dir: String)
      : (DataFrame, Long, Long) = {
    import graft.ingest.ProtoWire
    val path = workDir("wservehqr", dir)
    payOnce(s, path, s"${srcFingerprint(s, dir, "events")}:hqr1") {
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      fs.delete(new org.apache.hadoop.fs.Path(
        graft.serve.RemoteWrite.histPath(path)), true)
      val days = samples(s, dir).filter(col("metric") === "click")
        .groupBy(expr("ts_us DIV 1000000 DIV 86400 * 86400").as("day"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)
      def zz(v: Long): Long = (v << 1) ^ (v >> 63)
      val w = new ProtoWire.Writer
      Seq(0, 1).foreach { shard =>
        var cum = Array(0L, 0L, 0L); var cumSum = 0.0d
        days.foreach { case (day, n) =>
          val inc0 = Seq(n % 7, n % 5 + 1, n % 3)
          val inc = if (shard == 0) inc0 else Seq(inc0(1), inc0(2), inc0(0))
          cum = Array(cum(0) + inc(0), cum(1) + inc(1), cum(2) + inc(2))
          cumSum += n * 0.5
          val ts = new ProtoWire.Writer
          def label(k: String, v: String): Unit = {
            val l = new ProtoWire.Writer
            l.writeStringField(1, k); l.writeStringField(2, v)
            ts.writeMessageField(1, l)
          }
          label("__name__", "click"); label("shard", shard.toString)
          label("src", "hist")
          val h = new ProtoWire.Writer
          h.writeVarintField(1, cum.sum)      // count_int (cumulative)
          h.writeDoubleField(3, cumSum)       // sum (cumulative)
          h.writeVarintField(4, 0L)           // schema 0
          val span = new ProtoWire.Writer
          span.writeVarintField(1, 0L); span.writeVarintField(2, 3L)
          h.writeMessageField(11, span)
          val deltas = new ProtoWire.Writer
          Seq(cum(0), cum(1) - cum(0), cum(2) - cum(1))
            .foreach(d => deltas.writeVarint(zz(d)))
          h.writeBytesField(12, deltas.toBytes)
          h.writeVarintField(15, day * 1000L)
          ts.writeMessageField(4, h)
          w.writeMessageField(1, ts)
        }
      }
      graft.serve.RemoteWrite.serveAll(s, path,
        Seq(org.xerial.snappy.Snappy.compress(w.toBytes)))
      ()
    }
    val days = samples(s, dir).filter(col("metric") === "click")
      .agg(min(expr("ts_us DIV 1000000 DIV 86400 * 86400")),
        max(expr("ts_us DIV 1000000 DIV 86400 * 86400"))).first()
    (SamplesStore.read(s, graft.serve.RemoteWrite.histPath(path)),
      days.getLong(0), days.getLong(1))
  }

  /** Deterministic events-source dir for the streaming queries,
    * built once (`copies` concatenated copies of events) behind a
    * fingerprinted ready-marker — the source is test scaffolding, not
    * the work the query measures, so repeat runs must not re-pay it,
    * but a regenerated events.parquet forces a rebuild. */
  private def ensureEventsSrc(s: SparkSession, dir: String,
                              name: String, copies: Int = 1): String = {
    val src = workDir(name, dir)
    payOnce(s, src, s"${srcFingerprint(s, dir, "events")}:copies=$copies:ts_us") {
      Tables.eventsNorm(s, dir).write.mode("overwrite").parquet(src)
      (1 until copies).foreach(_ =>
        Tables.eventsNorm(s, dir).write.mode("append").parquet(src))
    }
    src
  }

  /** Deterministic messy-URL synthesis for the dedup_url rows: one
    * URL per document carrying every alias class the canonicalizer
    * scrubs (scheme/host case, default :443 port, trailing slash,
    * tracking params, param order, fragment). Canonical identity
    * collapses to (doc_id % 50, doc_id % 20) ⇒ doc_id % 100 — 5
    * copies per canonical URL at sf0.01. Mirrored verbatim by the
    * oracle's synth CTE. */
  private def synthUrlCol: Column = concat(
    when(col("doc_id") % 2 === 0, lit("HTTPS://WWW.EXAMPLE"))
      .otherwise(lit("https://www.example")),
    (col("doc_id") % 50).cast("string"),
    when(col("doc_id") % 2 === 0, lit(".COM")).otherwise(lit(".com")),
    when(col("doc_id") % 3 === 0, lit(":443")).otherwise(lit("")),
    lit("/Articles/"), (col("doc_id") % 20).cast("string"),
    when(col("doc_id") % 4 === 0, lit("/")).otherwise(lit("")),
    when(col("doc_id") % 2 === 0, lit("?b=2&utm_source=feed&a=1"))
      .otherwise(lit("?a=1&b=2")),
    when(col("doc_id") % 5 === 0, lit("&fbclid=xyz")).otherwise(lit("")),
    when(col("doc_id") % 7 === 0, lit("#section-2")).otherwise(lit("")))

  private def synthUrls(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"), synthUrlCol.as("url"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- §2.1 ingestion / data model -------------------------------
    "ingest_remote_write" -> ((s, dir) =>
      strLabels(Ingest.decodeWriteRequestBlobs(Ingest.toWriteRequestBlobs(samples(s, dir))))
        .select(expr("ts_us DIV 1000").as("ts_ms"), col("metric"), col("labels_str"), col("value"))),

    "ingest_label_normalize" -> ((s, dir) =>
      strLabels(Ingest.roundTripUnsorted(samples(s, dir)))
        .select(expr("ts_us DIV 1000").as("ts_ms"), col("metric"), col("labels_str"), col("value"))),

    "ingest_samples_sink" -> ((s, dir) => {
      val path = workDir("sink", dir)
      SamplesStore.write(samples(s, dir), path)
      SamplesStore.read(s, path)
        .groupBy(col("metric"), col("date").cast("long").as("date"))
        .agg(count(lit(1)).as("n_samples"), round(sum(col("value")), 6).as("sum_value"))
    }),

    "ingest_bulk_tsv" -> ((s, dir) => {
      val path = workDir("tsv", dir)
      TsvBulk.export(samples(s, dir), path)
      strLabels(TsvBulk.importTsv(s, path))
        .groupBy(col("metric"), col("labels_str"))
        .agg(count(lit(1)).as("n_samples"), round(sum(col("value")), 6).as("sum_value"),
             min(expr("ts_us DIV 1000000")).as("first_t"), max(expr("ts_us DIV 1000000")).as("last_t"))
    }),

    // Prometheus text-exposition round-trip: export (the /federate
    // format) → distributed parse → aggregate; the oracle computes
    // the same aggregate straight from the parquet, so the codec
    // must be lossless at the format's ms resolution
    "ingest_exposition" -> ((s, dir) => {
      val path = workDir("expo", dir)
      Exposition.export(samples(s, dir), path)
      strLabels(Exposition.importText(s, path))
        .groupBy(col("metric"), col("labels_str"))
        .agg(count(lit(1)).as("n_samples"), round(sum(col("value")), 6).as("sum_value"),
             min(expr("ts_us DIV 1000000")).as("first_t"), max(expr("ts_us DIV 1000000")).as("last_t"))
    }),

    "ingest_streaming" -> ((s, dir) => {
      val src = ensureEventsSrc(s, dir, "stream_src")
      StreamIngest.runToMemory(s, src, s"stream_${new java.io.File(dir).getName.replace(".", "_")}")
    }),

    // online sessionization: per-user GroupState, closed sessions
    // emitted in append mode — the Sessions operator's streaming twin
    "ingest_streaming_sessionize" -> ((s, dir) => {
      val src = ensureEventsSrc(s, dir, "stream_src")
      StreamIngest.runSessionizeToMemory(s, src,
        s"stream_sess_${new java.io.File(dir).getName.replace(".", "_")}")
    }),

    "ingest_delete_range" -> ((s, dir) => {
      val path = workDir("delstore", dir)
      SamplesStore.write(samples(s, dir), path)
      // delete [2024-01-10T12:00Z, 2024-01-14T06:00Z): partial day,
      // three whole days, partial day
      SamplesStore.deleteRange(s, path, 1704888000000000L, 1705212000000000L)
      SamplesStore.read(s, path)
        .groupBy(col("metric"))
        .agg(count(lit(1)).as("n_samples"), round(sum(col("value")), 6).as("sum_value"))
    }),

    // Fragmented store (every append lands small files per day — the
    // serving write path's real shape) → compact → read back: the
    // ClickHouse background-merge analogue, results invariant.
    // Materialized hourly rollup over the store: build, roll, read
    // back the aggregate rows — must answer exactly the dedup'd
    // per-second GROUP BY the raw read path computes.
    "store_rollup" -> ((s, dir) => {
      val path = workDir("rollupstore", dir)
      val rpath = workDir("rollupstore_roll", dir)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      fs.delete(new org.apache.hadoop.fs.Path(rpath), true)
      SamplesStore.write(samples(s, dir), path)
      RollupStore.rollup(s, path, rpath, 3600L)
      RollupStore.read(s, rpath).select(
        col("metric"), array_join(col("labels"), ",").as("labels_str"), col("bucket"),
        round(col("min_value"), 6).as("min_value"),
        round(col("max_value"), 6).as("max_value"),
        expr("CAST(floor(sum_value * 100 + 0.5) AS BIGINT)").as("sum_e2"),
        col("n_points"))
    }),

    // The incremental contract end-to-end: roll half the corpus,
    // append the other half, roll AGAIN (only the touched days
    // re-aggregate) — the final rollup must equal a full recompute
    // of everything, which is exactly what the oracle computes.
    "store_rollup_incremental" -> ((s, dir) => {
      val path = workDir("rollupinc", dir)
      val rpath = workDir("rollupinc_roll", dir)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      fs.delete(new org.apache.hadoop.fs.Path(rpath), true)
      val all = samples(s, dir)
      SamplesStore.write(all.filter(expr("ts_us % 2 = 0")), path)
      RollupStore.rollup(s, path, rpath, 3600L)
      SamplesStore.append(all.filter(expr("ts_us % 2 = 1")), path)
      RollupStore.rollup(s, path, rpath, 3600L)
      RollupStore.read(s, rpath).select(
        col("metric"), array_join(col("labels"), ",").as("labels_str"), col("bucket"),
        expr("CAST(floor(sum_value * 100 + 0.5) AS BIGINT)").as("sum_e2"),
        col("n_points"))
    }),

    // The rollup-served read path: a coarse aligned window query
    // answered from rollup rows must equal the raw read path's
    // per-second-dedup + bucketed max — which is what the oracle
    // computes from the raw samples.
    "store_rollup_serve" -> ((s, dir) => {
      val (path, rpath) = rollupServeFixture(s, dir)
      val q = ReadQuery(WinStartMs, WinEndMs - 1000L,
        Seq(Matchers.eq("__name__", "click")), stepMs = 7200000L)
      RollupStore.selectKeyed(RollupStore.read(querySession(s, dir), rpath), q, 3600L)
        .select(col("metric"), array_join(col("labels"), ",").as("labels_str"),
          col("t_sec"), round(col("max_value"), 6).as("max_value"))
    }),

    // The UNALIGNED rollup-served read — the now-anchored dashboard
    // window: start/end land 900s inside their buckets, so the serve
    // path splits at the first/last complete-bucket boundary, answers
    // the interior from rollup rows and the two partial edge buckets
    // from raw samples. The union must equal the raw read path over
    // the same window — which is what the oracle computes.
    "store_rollup_serve_unaligned" -> ((s, dir) => {
      val (path, rpath) = rollupServeFixture(s, dir)
      val q = ReadQuery(WinStartMs + 900000L, WinEndMs - 901000L,
        Seq(Matchers.eq("__name__", "click")), stepMs = 7200000L)
      val sel = graft.serve.RemoteRead.rollupSelect(
        RollupStore.Ladder(path, rpath, 3600L), q,
        SamplesStore.read(querySession(s, dir), path))
        .getOrElse(throw new IllegalStateException(
          "an unaligned window with interior buckets must route to the rollup"))
      sel.select(col("metric"), array_join(col("labels"), ",").as("labels_str"),
        col("t_sec"), round(col("max_value"), 6).as("max_value"))
    }),

    // the rollup's payoff inside the PromQL evaluator: an aligned
    // tiling sum_over_time serves from rollup rows (sum of per-bucket
    // sums), and the answer equals the raw-samples computation the
    // oracle performs — the recording-rule contract for the query API
    "store_rollup_serve_sum" -> ((s, dir) => {
      val (path, rpath) = rollupServeFixture(s, dir)
      promqlStr(PromQL.eval(SamplesStore.read(querySession(s, dir), path),
        parsePromQL("sum_over_time(click[2h])"),
        WinStartSec + 7200, WinEndSec, 7200L,
        rollup = Some(RollupStore.Ladder(path, rpath, 3600L))))
    }),

    // LADDER ROUTING: the evaluator chains fine (15 m) → coarse (1 h)
    // grids and serves the COARSEST fresh one — identical answer,
    // 1/4 the rows read; the oracle is the raw recompute
    "store_rollup_serve_ladder_route" -> ((s, dir) => {
      val (path, fine, coarse) = ladderFixture(s, dir)
      promqlStr(PromQL.eval(SamplesStore.read(querySession(s, dir), path),
        parsePromQL("sum_over_time(click[2h])"),
        WinStartSec + 7200, WinEndSec, 7200L,
        rollup = Some(RollupStore.Ladder(path, fine, 900L,
          Some(RollupStore.Ladder(fine, coarse, 3600L))))))
    }),

    // schema-v4 exact integer moments: stdvar over coarse aligned
    // windows re-aggregates from rollup rows byte-exactly
    "store_rollup_serve_stdvar" -> ((s, dir) => {
      val (path, rpath) = rollupServeFixture(s, dir)
      promqlStr(PromQL.eval(SamplesStore.read(querySession(s, dir), path),
        parsePromQL("stdvar_over_time(click[2h])"),
        WinStartSec + 7200, WinEndSec, 7200L,
        rollup = Some(RollupStore.Ladder(path, rpath, 3600L))))
    }),

    // schema-v2 edge points: the DASHBOARD query (rate over coarse
    // aligned windows) serves from rollup rows, byte-exact
    "store_rollup_serve_rate" -> ((s, dir) => {
      val (path, rpath) = rollupServeFixture(s, dir)
      promqlStr(PromQL.eval(SamplesStore.read(querySession(s, dir), path),
        parsePromQL("delta(click[1296000])"), // one 15-day window
        WinEndSec, WinEndSec, 1296000L,
        rollup = Some(RollupStore.Ladder(path, rpath, 3600L))))
    }),

    // schema-v3 penultimate points: irate (the window's final two
    // samples) serves from rollup rows, byte-exact — the pair
    // reassembles from each bucket's (last, penultimate) candidates
    "store_rollup_serve_irate" -> ((s, dir) => {
      val (path, rpath) = rollupServeFixture(s, dir)
      promqlStr(PromQL.eval(SamplesStore.read(querySession(s, dir), path),
        parsePromQL("irate(click[1296000])"), // one 15-day window
        WinEndSec, WinEndSec, 1296000L,
        rollup = Some(RollupStore.Ladder(path, rpath, 3600L))))
    }),

    // The multi-resolution LADDER: the hour rollup builds FROM the
    // 15-minute one (1/4 the input of a raw re-aggregation — the
    // downsampling bill at 100 TB), and every v6 field re-aggregates
    // EXACTLY — the oracle recomputes the full field set (edges,
    // penultimate point, integer moments, argmax timestamps)
    // straight from the raw samples
    "store_rollup_ladder" -> ((s, dir) => {
      val (_, _, coarse) = ladderFixture(s, dir)
      RollupStore.read(s, coarse).select(
        col("metric"), array_join(col("labels"), ",").as("labels_str"),
        col("bucket"),
        round(col("min_value"), 6).as("min_value"),
        round(col("max_value"), 6).as("max_value"),
        expr("CAST(floor(sum_value * 100 + 0.5) AS BIGINT)").as("sum_e2"),
        col("n_points"), col("t_first"), col("t_last"),
        round(col("v_first"), 6).as("v_first"),
        round(col("v_last"), 6).as("v_last"),
        col("t_penult"), round(col("v_penult"), 6).as("v_penult"),
        col("sy_e2"),
        col("syy_e4").cast("string").as("syy_s"),
        col("t_vmax"), col("t_vmin"))
    }),

    // the LADDER-served read: a coarse aligned window answered from
    // ladder-built rows equals the raw dedup + bucketed max (the
    // freshness gate composes: freshFor(raw→fine) && freshLadder)
    "store_rollup_serve_ladder" -> ((s, dir) => {
      val (path, fine, coarse) = ladderFixture(s, dir)
      require(RollupStore.freshFor(s, path, fine, 900L,
        WinStartSec, WinEndSec), "fine rollup must gate fresh")
      require(RollupStore.freshLadder(s, fine, coarse, 3600L,
        WinStartSec, WinEndSec), "ladder must gate fresh")
      val q = ReadQuery(WinStartMs, WinEndMs - 1000L,
        Seq(Matchers.eq("__name__", "click")), stepMs = 7200000L)
      RollupStore.selectKeyed(RollupStore.read(querySession(s, dir), coarse), q, 7200L)
        .select(col("metric"), array_join(col("labels"), ",").as("labels_str"),
          col("t_sec"), round(col("max_value"), 6).as("max_value"))
    }),

    "store_compact" -> ((s, dir) => {
      val path = workDir("compactstore", dir)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      val all = samples(s, dir)
      SamplesStore.append(all.filter(expr("ts_us % 2 = 0")), path)
      SamplesStore.append(all.filter(expr("ts_us % 2 = 1")), path)
      SamplesStore.compact(s, path)
      SamplesStore.read(s, path)
        .groupBy(col("metric"), col("date").cast("long").as("date"))
        .agg(count(lit(1)).as("n_samples"), round(sum(col("value")), 6).as("sum_value"))
    }),

    // Day-selective compaction — the serving store's actual merge
    // path (compactFragmentedDays): only day partitions over the file-count
    // threshold rewrite, published by one atomic manifest commit;
    // results invariant. At 100 TB this is O(fragmented days), never the
    // whole-store rewrite above.
    "store_compact_days" -> ((s, dir) => {
      val path = workDir("compactdays", dir)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      val all = samples(s, dir)
      SamplesStore.append(all.filter(expr("ts_us % 2 = 0")), path)
      SamplesStore.append(all.filter(expr("ts_us % 2 = 1")), path)
      SamplesStore.compactFragmentedDays(s, path, maxFilesPerDay = 1)
      SamplesStore.read(s, path)
        .groupBy(col("metric"), col("date").cast("long").as("date"))
        .agg(count(lit(1)).as("n_samples"), round(sum(col("value")), 6).as("sum_value"))
    }),

    // Snapshot time travel: pin the store's generation, keep
    // ingesting AND compacting (which rewrites the pinned files into
    // new ones), then read back exactly the pinned corpus — the
    // reproducible-training-set contract the manifest protocol buys.
    // Superseded files are grace-retained, so the pinned plan stays
    // scannable while the live store moves on.
    "store_time_travel" -> ((s, dir) => {
      val path = workDir("timetravel", dir)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      val all = samples(s, dir)
      SamplesStore.write(all.filter(expr("ts_us % 2 = 0")), path)
      val pinned = SamplesStore.currentGen(s, path).get
      SamplesStore.append(all.filter(expr("ts_us % 2 = 1")), path)
      SamplesStore.compactFragmentedDays(s, path, maxFilesPerDay = 1)
      SamplesStore.readAt(s, path, pinned)
        .groupBy(col("metric"))
        .agg(count(lit(1)).as("n_samples"), round(sum(col("value")), 6).as("sum_value"))
    }),

    // The continuous write path: file-source stream → foreachBatch
    // append into the day-partitioned store → read back. Fresh store
    // + checkpoint per run (the stream must re-ingest, not resume).
    "ingest_streaming_store" -> ((s, dir) => {
      val src = ensureEventsSrc(s, dir, "stream_store_src")
      // store + checkpoint must be fresh per run (re-ingest, not resume)
      val base = workDir("stream_store", dir)
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      StreamIngest.runToStore(s, src, s"$base/store", s"$base/ckpt")
        .groupBy(col("metric"), col("date").cast("long").as("date"))
        .agg(count(lit(1)).as("n_samples"), round(sum(col("value")), 6).as("sum_value"))
    }),

    // Streaming ingest → INCREMENTAL rollup maintenance, end to end:
    // the stream lands in the store via the exactly-once batch
    // ledger, then one rollup() call re-aggregates ONLY the days the
    // stream touched (per-day source digests) — the maintenance loop
    // a 100 TB deployment runs after every micro-batch. The answer
    // reads rollup rows alone; sums ride the exact integer sy_e2
    // moments so re-aggregation order can't move a bit.
    "ingest_streaming_rollup" -> ((s, dir) => {
      val src = ensureEventsSrc(s, dir, "stream_rollup_src")
      val base = workDir("stream_rollup", dir)
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      StreamIngest.runToStore(s, src, s"$base/store", s"$base/ckpt")
      RollupStore.rollup(s, s"$base/store", s"$base/roll", 3600L)
      RollupStore.read(s, s"$base/roll")
        .groupBy(col("metric"))
        .agg(countDistinct(col("bucket")).as("n_buckets"),
          sum(col("n_points")).as("n_samples"),
          sum(col("sy_e2")).as("sum_e2"))
    }),

    // Replayed ingestion (same events delivered twice = client retry
    // under at-least-once) → stateful streaming dedup keeps exactly
    // the first occurrence of each event_id.
    "ingest_streaming_dedup" -> ((s, dir) => {
      val src = ensureEventsSrc(s, dir, "stream_dedup_src", copies = 2)
      StreamIngest.runDedupToMemory(s, src,
        s"streamdd_${new java.io.File(dir).getName.replace(".", "_")}")
    }),

    "read_response_encode" -> ((s, dir) => {
      import s.implicits._
      // day-chunked assembly: one blob per (series, day), so a hot
      // series encodes as many bounded frames instead of one huge one
      val asm = SeriesRead.assembleChunked(SeriesRead.selectKeyed(samples(s, dir),
        ReadQuery(WinStartMs, WinEndMs, Seq(Matchers.eq("__name__", "view")))), 86400L)
      asm.select(col("metric").as("_1"), col("labels").as("_2"),
          col("points").as("_3").cast("array<struct<_1:bigint,_2:double>>"))
        .as[(String, Seq[String], Seq[(Long, Double)])]
        .map { case (m, ls, pts) =>
          val promLabels = PromLabel("__name__", m) +: ls.map { kv =>
            val i = kv.indexOf('='); PromLabel(kv.substring(0, i), kv.substring(i + 1))
          }
          PromRemoteCodec.encodeReadResponse(Seq(
            PromTimeSeries(promLabels, pts.map(p => PromSample(p._2, p._1 * 1000L)))))
        }
        .flatMap { blob =>
          PromRemoteCodec.decodeReadResponse(blob).flatMap { ts =>
            val metric = ts.labels.find(_.name == "__name__").map(_.value).getOrElse("")
            val rest = ts.labels.filter(_.name != "__name__")
              .map(l => s"${l.name}=${l.value}").sorted.mkString(",")
            ts.samples.map(sm => (metric, rest, sm.timestampMs, sm.value))
          }
        }
        .toDF("metric", "labels_str", "t_ms", "max_value")
    }),

    // The reference's whole /write contract end-to-end: remote-write
    // blobs (one per series/day, as a real client batches) served
    // through RemoteWrite into a fresh day-partitioned store, then the
    // store read back and aggregated — blob → decode → append → scan.
    "write_request_e2e" -> ((s, dir) => {
      val path = workDir("wserve", dir)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true) // serve appends; reruns must start empty
      val blobs = payOnceBlobs(s, dir, "wserve_blobs",
        s"${srcFingerprint(s, dir, "events")}:v1") {
        Ingest.toWriteRequestBlobs(samples(s, dir))
          .collect().map(_.getAs[Array[Byte]](0)).toSeq
      }
      graft.serve.RemoteWrite.serveAll(s, path, blobs)
      SamplesStore.read(s, path)
        .groupBy(col("metric"), col("date").cast("long").as("date"))
        .agg(count(lit(1)).as("n_samples"), round(sum(col("value")), 6).as("sum_value"))
    }),

    // OTLP ingest: the samples re-encoded as an OpenTelemetry
    // ExportMetricsServiceRequest (one Gauge per metric, labels as
    // data-point attributes) must decode to the identical store
    "ingest_otlp" -> ((s, dir) => {
      val path = workDir("otlpserve", dir)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      // the CLIENT's request blob is fixture scaffolding — built
      // pay-once; the measured work is the production decode+append
      val blobDir = workDir("otlpserve_blob", dir)
      val blobFile = new org.apache.hadoop.fs.Path(blobDir, "req.bin")
      payOnce(s, blobDir, srcFingerprint(s, dir, "events")) {
        val rows = samples(s, dir)
          .select(col("ts_us"), col("metric"), col("labels"), col("value"))
          .collect().map(r => PromRemoteCodec.IngestedSample(r.getLong(0),
            r.getString(1), r.getSeq[String](2).toSeq, r.getDouble(3)))
        val out = fs.create(blobFile, true)
        try out.write(graft.ingest.OtlpCodec.encodeExportMetrics(rows.toSeq))
        finally out.close()
      }
      val in = fs.open(blobFile)
      val blob =
        try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
      graft.serve.RemoteWrite.serveOtlp(s, path, blob)
      SamplesStore.read(s, path)
        .groupBy(col("metric"), col("date").cast("long").as("date"))
        .agg(count(lit(1)).as("n_samples"), round(sum(col("value")), 6).as("sum_value"))
    }),

    // OTLP scope-metadata promotion (the Prometheus receiver's
    // otel_scope_* mapping, behind -write.otlp-promote-scope): every
    // metric of the scope gains otel_scope_name/version labels, and
    // the scope's ATTRIBUTES land one otel_scope_info series — the
    // target_info shape one level down
    "ingest_otlp_scope" -> ((s, dir) => {
      val path = workDir("otlpscope", dir)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      val blobDir = workDir("otlpscope_blob", dir)
      val blobFile = new org.apache.hadoop.fs.Path(blobDir, "req.bin")
      payOnce(s, blobDir, s"${srcFingerprint(s, dir, "events")}:scope1") {
        val rows = samples(s, dir)
          .select(col("ts_us"), col("metric"), col("labels"), col("value"))
          .collect().map(r => PromRemoteCodec.IngestedSample(r.getLong(0),
            r.getString(1), r.getSeq[String](2).toSeq, r.getDouble(3)))
        val out = fs.create(blobFile, true)
        try out.write(graft.ingest.OtlpCodec.encodeExportMetrics(rows.toSeq,
          scope = Some(("otelsdk", "1.9", Seq("sdk.lang" -> "go")))))
        finally out.close()
      }
      val in = fs.open(blobFile)
      val blob =
        try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
      val saved = graft.serve.RemoteWrite.otlpPromoteScope
      graft.serve.RemoteWrite.otlpPromoteScope = true
      try graft.serve.RemoteWrite.serveOtlp(s, path, blob)
      finally graft.serve.RemoteWrite.otlpPromoteScope = saved
      val scopeStr =
        "array_join(filter(labels, l -> startswith(l, 'otel_scope_')), ',')"
      SamplesStore.read(s, path)
        .groupBy(col("metric"))
        .agg(count(lit(1)).as("n_samples"),
          round(sum(col("value")), 6).as("sum_value"),
          min(expr(scopeStr)).as("scope_lo"),
          max(expr(scopeStr)).as("scope_hi"))
    }),

    // opt-in OTLP delta→cumulative: a delta Sum stream (one delta
    // per (metric, day), batched per series in one request) ingests
    // as monotone cumulative levels under RemoteWrite.otlpConvertDelta
    // — per-series prefix sums in timestamp order, the Prometheus
    // otlp-deltatocumulative contract
    "ingest_otlp_delta" -> ((s, dir) => {
      val path = workDir("otlpdelta", dir)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      val agg = samples(s, dir)
        .groupBy(col("metric"),
          expr("ts_us DIV 1000000 DIV 86400 * 86400").as("day"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
        .sortBy(t => (t._1, t._2))
      val pts = agg.map { case (m, day, n) =>
        PromRemoteCodec.IngestedSample(day * 1000000L, m + "_delta_total",
          Seq("env=prod"), n.toDouble)
      }
      val blob = graft.ingest.OtlpCodec.encodeExportSums(pts,
        temporality = 1L, Some("svc"))
      val prev = graft.serve.RemoteWrite.otlpConvertDelta
      graft.serve.RemoteWrite.otlpConvertDelta = true
      try graft.serve.RemoteWrite.serveOtlp(s, path, blob)
      finally graft.serve.RemoteWrite.otlpConvertDelta = prev
      SamplesStore.read(s, path).select(col("metric"),
        array_join(col("labels"), ",").as("labels_str"),
        expr("ts_us DIV 1000000").as("t_sec"),
        round(col("value"), 6).as("value"))
    }),

    // the histogram leg of delta→cumulative: per-(metric, day) DELTA
    // explicit-bounds histogram points (bucket counts carved from the
    // exact day sample counts) accumulate element-wise per bucket in
    // day order under the same flag — cumulative le levels, _sum and
    // _count running totals, the deltatocumulative histogram contract
    "ingest_otlp_delta_hist" -> ((s, dir) => {
      val path = workDir("otlpdeltah", dir)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      val agg = samples(s, dir)
        .groupBy(col("metric"),
          expr("ts_us DIV 1000000 DIV 86400 * 86400").as("day"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
        .sortBy(t => (t._1, t._2))
      val pts = agg.map { case (m, day, n) =>
        graft.ingest.OtlpCodec.HistogramFixturePoint(
          m + "_delta_hist", day * 1000000L,
          count = n % 3 + n % 5 + n % 7, sum = n.toDouble / 2.0,
          bounds = Seq(1.0, 5.0), counts = Seq(n % 3, n % 5),
          attrs = Seq("env" -> "prod"))
      }
      val blob = graft.ingest.OtlpCodec.encodeExportHistograms(pts,
        temporality = 1L, Some("svc"))
      val prev = graft.serve.RemoteWrite.otlpConvertDelta
      graft.serve.RemoteWrite.otlpConvertDelta = true
      try graft.serve.RemoteWrite.serveOtlp(s, path, blob)
      finally graft.serve.RemoteWrite.otlpConvertDelta = prev
      SamplesStore.read(s, path).select(col("metric"),
        array_join(col("labels"), ",").as("labels_str"),
        expr("ts_us DIV 1000000").as("t_sec"),
        round(col("value"), 6).as("value"))
    }),

    // opt-in OTLP unit/type suffixing (the 3.x default translation
    // strategy's suffix half): dotted sender names escape AND gain
    // the unit + _total suffixes — "<m>.duration" with unit "s" on a
    // monotonic cumulative Sum lands "<m>_duration_seconds_total"
    "ingest_otlp_suffixes" -> ((s, dir) => {
      val path = workDir("otlpsfxq", dir)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      val agg = samples(s, dir)
        .groupBy(col("metric"),
          expr("ts_us DIV 1000000 DIV 86400 * 86400").as("day"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
        .sortBy(t => (t._1, t._2))
      val pts = agg.map { case (m, day, n) =>
        PromRemoteCodec.IngestedSample(day * 1000000L, m + ".duration",
          Seq("env=prod"), n.toDouble)
      }
      val blob = graft.ingest.OtlpCodec.encodeExportSums(pts,
        temporality = 2L, Some("svc"),
        description = "Cumulative time.", unit = "s")
      val prev = graft.serve.RemoteWrite.otlpTranslationSuffixes
      graft.serve.RemoteWrite.otlpTranslationSuffixes = true
      try graft.serve.RemoteWrite.serveOtlp(s, path, blob)
      finally graft.serve.RemoteWrite.otlpTranslationSuffixes = prev
      SamplesStore.read(s, path).select(col("metric"),
        array_join(col("labels"), ",").as("labels_str"),
        expr("ts_us DIV 1000000").as("t_sec"),
        round(col("value"), 6).as("value"))
    }),

    // OTLP Summary points convert to CLASSIC series (the Prometheus
    // receiver's mapping): quantile-labeled samples on the base name
    // plus _sum/_count — the fixture derives deterministic summaries
    // from each (metric, day)'s sample count, encodes a real OTLP
    // body, and serves it through the production decode+append path
    "ingest_otlp_summary" -> ((s, dir) => {
      val path = workDir("otlpsummary", dir)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      val agg = samples(s, dir)
        .groupBy(col("metric"),
          expr("ts_us DIV 1000000 DIV 86400 * 86400").as("day"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
        .sortBy(t => (t._1, t._2))
      val pts = agg.map { case (m, day, n) =>
        graft.ingest.OtlpCodec.SummaryPoint(m + "_latency",
          day * 1000000L, n, n * 1.5,
          Seq(0.5 -> n * 0.5, 0.9 -> n * 0.9, 0.99 -> n * 0.99))
      }
      val blob = graft.ingest.OtlpCodec.encodeExportSummaries(pts, Some("svc"))
      graft.serve.RemoteWrite.serveOtlp(s, path, blob)
      SamplesStore.read(s, path).select(col("metric"),
        array_join(col("labels"), ",").as("labels_str"),
        expr("ts_us DIV 1000000").as("t_sec"),
        round(col("value"), 6).as("value"))
    }),

    // native histograms over the wire land as CLASSIC series: the
    // fixture derives deterministic bucket counts from each
    // (metric, day)'s sample count, encodes REAL prompb Histogram
    // messages (zigzag schema, spans, packed deltas), serves them
    // through the production decode+convert+append path, and the
    // store must hold the classic _bucket/_sum/_count expansion row
    // for row (geometry: NativeHistogram.scala)
    "write_request_hist_e2e" -> ((s, dir) => {
      val path = workDir("wservehist", dir)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      // the hist SIBLING appends per serve (native bytes for chunked
      // federation) — reruns must start it empty like the primary
      fs.delete(new org.apache.hadoop.fs.Path(
        graft.serve.RemoteWrite.histPath(path)), true)
      val blobs = payOnceBlobs(s, dir, "wservehist_blobs",
        s"${srcFingerprint(s, dir, "events")}:h1") {
        val agg = samples(s, dir)
          .groupBy(col("metric"),
            expr("ts_us DIV 1000000 DIV 86400 * 86400").as("day"))
          .agg(count(lit(1)).as("n"))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
          .sortBy(t => (t._1, t._2))
        Seq(histBlob(agg))
      }
      graft.serve.RemoteWrite.serveAll(s, path, blobs)
      SamplesStore.read(s, path).select(col("metric"),
        array_join(col("labels"), ",").as("labels_str"),
        expr("ts_us DIV 1000000").as("t_sec"), col("value"))
    }),

    // the same contract over remote-write 2.0: the v1 blobs re-encode
    // through the v2 symbol-table codec (each label string interned
    // once) and the negotiated decode must land the identical store
    "write_request_v2_e2e" -> ((s, dir) => {
      val path = workDir("wservev2", dir)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      val blobs = payOnceBlobs(s, dir, "wservev2_blobs",
        s"${srcFingerprint(s, dir, "events")}:v2") {
        Ingest.toWriteRequestBlobs(samples(s, dir))
          .collect().map(_.getAs[Array[Byte]](0)).toSeq
          .map(b => PromRemoteCodec.encodeWriteRequestV2(
            PromRemoteCodec.decodeWriteRequest(b)))
      }
      graft.serve.RemoteWrite.serveAll(s, path, blobs,
        Some("application/x-protobuf;proto=" + PromRemoteCodec.ProtoV2))
      SamplesStore.read(s, path)
        .groupBy(col("metric"), col("date").cast("long").as("date"))
        .agg(count(lit(1)).as("n_samples"), round(sum(col("value")), 6).as("sum_value"))
    }),

    // PRW 2.0 metric metadata end-to-end: TimeSeries field 5
    // (type/help_ref/unit_ref through the symbol table) decodes on
    // write and lands the sibling metadata store that backs
    // /api/v1/metadata; the fixture derives deterministic metadata
    // from each metric name, so the oracle recomputes the expected
    // store straight from the samples
    "write_request_metadata" -> ((s, dir) => {
      val path = workDir("wservemeta", dir)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      fs.delete(new org.apache.hadoop.fs.Path(
        graft.serve.RemoteWrite.metadataPath(path)), true)
      val blobs = payOnceBlobs(s, dir, "wservemeta_blobs",
        s"${srcFingerprint(s, dir, "events")}:md1") {
        Ingest.toWriteRequestBlobs(samples(s, dir))
          .collect().map(_.getAs[Array[Byte]](0)).toSeq
          .map { b =>
            val req = PromRemoteCodec.decodeWriteRequest(b)
            val withMd = req.copy(timeseries = req.timeseries.map { ts =>
              val m = ts.labels.find(_.name == "__name__")
                .map(_.value).getOrElse("")
              ts.copy(metadata = Some(PromRemoteCodec.PromMetadata(
                if (m.length % 2 == 0) 1 else 2, s"Help for $m.", "seconds")))
            })
            PromRemoteCodec.encodeWriteRequestV2(withMd)
          }
      }
      graft.serve.RemoteWrite.serveAll(s, path, blobs,
        Some("application/x-protobuf;proto=" + PromRemoteCodec.ProtoV2))
      SamplesStore.read(s, graft.serve.RemoteWrite.metadataPath(path))
        .groupBy(col("metric"),
          array_join(col("labels"), ",").as("md"))
        .agg(max(expr("ts_us DIV 1000000")).as("last_t"))
    }),

    // exemplars end-to-end (the /api/v1/query_exemplars read): the
    // fixture derives one deterministic exemplar per (metric, day)
    // from the samples aggregate, encodes it on prompb TimeSeries
    // field 3, serves it through the production write path into the
    // SIBLING exemplar store, then reads back with the endpoint's
    // own selector semantics (compilePromQL) and splits the two
    // label spaces ("__x_" = the exemplar's own labels) like the
    // endpoint's grouping does
    "read_exemplars" -> ((s, dir) => {
      val path = workDir("wserveex", dir)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      fs.delete(new org.apache.hadoop.fs.Path(
        graft.serve.RemoteWrite.exemplarPath(path)), true)
      val blobs = payOnceBlobs(s, dir, "wserveex_blobs",
        s"${srcFingerprint(s, dir, "events")}:x1") {
        val agg = samples(s, dir)
          .groupBy(col("metric"),
            expr("ts_us DIV 1000000 DIV 86400 * 86400").as("day"))
          .agg(count(lit(1)).as("n"))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
          .sortBy(t => (t._1, t._2))
        val series = agg.map { case (m, day, n) =>
          PromRemoteCodec.PromTimeSeries(
            Seq(PromRemoteCodec.PromLabel("__name__", m),
              PromRemoteCodec.PromLabel("src", "ex")),
            Nil,
            exemplars = Seq(PromRemoteCodec.PromExemplar(
              Seq(PromRemoteCodec.PromLabel("trace_id", s"t${n % 100}")),
              n * 0.25, day * 1000L + (n % 60) * 1000L)))
        }
        Seq(PromRemoteCodec.encodeWriteRequest(
          PromRemoteCodec.PromWriteRequest(series)))
      }
      graft.serve.RemoteWrite.serveAll(s, path, blobs)
      SamplesStore.read(s, graft.serve.RemoteWrite.exemplarPath(path))
        .filter(Matchers.compilePromQL(Seq(
          Matchers.eq("src", "ex"),
          Matchers.re("__name__", "(click|view|purchase)")), None))
        .select(col("metric"),
          expr("array_join(filter(labels, l -> NOT startswith(l, '__x_')), ',')")
            .as("series_str"),
          expr("array_join(transform(filter(labels, l -> startswith(l, '__x_')), " +
            "l -> substring(l, 5)), ',')").as("ex_str"),
          expr("ts_us DIV 1000000").as("t_sec"),
          col("value"))
    }),

    // NATIVE-estimator serving (the opt-in flag path): the same
    // deterministic native-histogram fixture as write_request_hist_e2e
    // lands raw prompb bytes in the hist sibling; histogram_quantile /
    // histogram_fraction evaluate Prometheus 3.x's exponential
    // estimators over those native samples (NativeHistogram.quantile/
    // fraction through PromQL.eval's nativeHist), and the oracle
    // replays the bucket walk + log2/exp2 interpolation in SQL from
    // the fixture's derivation — the e6 snap absorbs libm ulps
    "read_native_quantile" -> ((s, dir) => {
      val (hist, d0, d1) = nativeHistFixture(s, dir)
      val e = graft.serve.PromQL.parse("histogram_quantile(0.7, click)")
        .toOption.get
      graft.serve.PromQL.eval(samples(s, dir), e, d0, d1, 86400L,
          nativeHist = Some(hist))
        .select(array_join(col("labels"), ",").as("labels_str"),
          col("t").as("t_sec"), col("v_e6").as("q_e6"))
    }),

    "read_native_fraction" -> ((s, dir) => {
      val (hist, d0, d1) = nativeHistFixture(s, dir)
      val e = graft.serve.PromQL.parse("histogram_fraction(1, 3, click)")
        .toOption.get
      graft.serve.PromQL.eval(samples(s, dir), e, d0, d1, 86400L,
          nativeHist = Some(hist))
        .select(array_join(col("labels"), ",").as("labels_str"),
          col("t").as("t_sec"), col("v_e6").as("f_e6"))
    }),

    // THE native-histogram dashboard idiom, end to end on the flag
    // path: histogram_quantile(φ, sum by (…) (rate(native[d]))) —
    // bucket-wise observed-span rate over the decoded sparse buckets
    // (a bucket going down = counter reset = window drops; the
    // cumulative fixture never resets), sparse-map ADDITION across
    // the group's shards, then the exponential-interpolation walk.
    // The oracle replays the scaled walk in SQL: per-bucket rate is
    // inc * (1/86400) — multiply by the reciprocal, the engine's own
    // operation order — summed across the shard rotation.
    "read_native_quantile_rate" -> ((s, dir) => {
      val (hist, d0, d1) = nativeHistRateFixture(s, dir)
      val e = graft.serve.PromQL.parse(
        "histogram_quantile(0.7, sum by (src) (rate(click[2d])))")
        .toOption.get
      graft.serve.PromQL.eval(samples(s, dir), e, d0 + 2 * 86400L,
          d1 + 86400L, 86400L, nativeHist = Some(hist))
        .select(array_join(col("labels"), ",").as("labels_str"),
          col("t").as("t_sec"), col("v_e6").as("q_e6"))
    }),

    // the 3.x histogram-valued JSON surface's oracle-checkable arm:
    // evalHistVec (the same histogram-vector leg /api/v1/query
    // renders as "histograms" JSON) over the native fixture, each
    // (series, step)'s effective histogram exploded to its populated
    // (lower, upper, count) buckets — geometry the oracle replays
    // from the fixture's (a, b, c) derivation; the JSON envelope
    // itself is spec-pinned (ServeSpec), like 17d
    "read_native_json" -> ((s, dir) => {
      import s.implicits._
      val (hist, d0, d1) = nativeHistFixture(s, dir)
      val e = graft.serve.PromQL.parse("click").toOption.get
      graft.serve.PromQL.evalHistVec(hist, e, d0, d1, 86400L, None, None)
        .get
        .select(array_join(col("labels"), ",").as("labels_str"),
          col("t"), col("hb"))
        .as[(String, Long, Array[Byte])]
        .mapPartitions(_.flatMap { case (ls, t, b) =>
          val h = graft.ingest.NativeHistogram.decode(
            graft.ingest.ProtoWire.reader(b))
          graft.ingest.NativeHistogram.jsonBuckets(h).toSeq.flatten
            .map { case (lo, hi, c) =>
              (ls, t, math.floor(lo * 1e6 + 0.5).toLong,
                math.floor(hi * 1e6 + 0.5).toLong,
                math.floor(c * 1e6 + 0.5).toLong)
            }
        })
        .toDF("labels_str", "t_sec", "lo_e6", "hi_e6", "cnt_e6")
    }),

    // sum() over INSTANT native vectors: the two shards' cumulative
    // histograms add bucket-wise per step, then the quantile walk —
    // the "whole-service histogram" idiom without rate
    "read_native_sum_quantile" -> ((s, dir) => {
      val (hist, d0, d1) = nativeHistRateFixture(s, dir)
      val e = graft.serve.PromQL.parse(
        "histogram_quantile(0.7, sum(click))").toOption.get
      graft.serve.PromQL.eval(samples(s, dir), e, d0, d1, 86400L,
          nativeHist = Some(hist))
        .select(array_join(col("labels"), ",").as("labels_str"),
          col("t").as("t_sec"), col("v_e6").as("q_e6"))
    }),

    // ---- §2.2 remote-read path -------------------------------------
    // The reference's whole /read contract end-to-end: build a
    // ReadRequest blob (with an ignored remote=clickhouse matcher,
    // exercising the -read.ignore-label drop), serve it through the
    // distributed pipeline, decode the ReadResponse blob back to rows.
    "read_request_e2e" -> ((s, dir) => {
      import s.implicits._
      val blob = PromRemoteCodec.encodeReadRequest(Seq(
        ReadQuery(WinStartMs, WinEndMs,
          Seq(Matchers.eq("__name__", "signup"), Matchers.eq("remote", "clickhouse")))))
      val resp = graft.serve.RemoteRead.serve(samples(s, dir), blob)
      val rows = PromRemoteCodec.decodeReadResponse(resp).flatMap { ts =>
        val metric = ts.labels.find(_.name == "__name__").map(_.value).getOrElse("")
        val rest = ts.labels.filter(_.name != "__name__")
          .map(l => s"${l.name}=${l.value}").mkString(",")
        ts.samples.map(sm => (metric, rest, sm.timestampMs / 1000L, sm.value))
      }
      s.createDataset(rows).toDF("metric", "labels_str", "t_sec", "max_value")
    }),

    // STREAMED_XOR_CHUNKS end to end (remote-read response type 1):
    // request advertising the type → gorilla-XOR chunk frames →
    // CRC-checked frame decode → bit-exact chunk decode — must
    // reproduce exactly the samples the plain SAMPLES path serves
    "read_chunked_e2e" -> ((s, dir) => {
      import s.implicits._
      val blob = PromRemoteCodec.encodeReadRequestWithTypes(Seq(
        ReadQuery(WinStartMs, WinEndMs,
          Seq(Matchers.eq("__name__", "signup"),
            Matchers.eq("remote", "clickhouse")))), Seq(1, 0))
      val resp = graft.serve.RemoteRead.serveChunked(samples(s, dir), blob)
      val rows = PromRemoteCodec.decodeChunkedFrames(resp).flatMap {
        case (_, ss) => ss.flatMap { cs =>
          val metric =
            cs.labels.find(_.name == "__name__").map(_.value).getOrElse("")
          val rest = cs.labels.filter(_.name != "__name__")
            .map(l => s"${l.name}=${l.value}").mkString(",")
          cs.chunks.flatMap { c =>
            val (t, v) = graft.serve.Gorilla.decode(c.data)
            t.indices.map(i => (metric, rest, t(i) / 1000L, v(i)))
          }
        }
      }
      s.createDataset(rows).toDF("metric", "labels_str", "t_sec", "max_value")
    }),

    // the same read pipeline with the day-partitioned STORE as its
    // input — the reference's actual read path (ClickHouse table ≙
    // store): time bounds prune day partitions, metric equality rides
    // row-group stats (PlanSpec asserts both). The store is built
    // once behind a fingerprinted marker — pay-once layout that
    // rebuilds if the source testdata is regenerated.
    "read_store_pruned" -> ((s, dir) => {
      val path = workDir("readstore", dir)
      payOnce(s, path, srcFingerprint(s, dir, "events")) {
        SamplesStore.write(samples(s, dir), path)
      }
      SeriesRead.select(SamplesStore.read(s, path),
        ReadQuery(WinStartMs, WinEndMs, Seq(Matchers.eq("__name__", "click"))))
    }),

    "read_time_range" -> ((s, dir) => (
      SeriesRead.select(samples(s, dir),
        ReadQuery(WinStartMs, WinEndMs, Nil)))),

    "read_name_eq" -> ((s, dir) => (
      SeriesRead.select(samples(s, dir),
        ReadQuery(WinStartMs, WinEndMs,
          Seq(Matchers.eq("__name__", "purchase"), Matchers.neq("__name__", "error")))))),

    "read_name_regex" -> ((s, dir) => (
      SeriesRead.select(samples(s, dir),
        ReadQuery(WinStartMs, WinEndMs,
          Seq(Matchers.re("__name__", "p[a-z]+chase|view"), Matchers.nre("__name__", "vi.w")))))),

    "read_label_eq" -> ((s, dir) => (
      SeriesRead.select(samples(s, dir),
        ReadQuery(WinStartMs, WinEndMs,
          Seq(Matchers.eq("user", "3"), Matchers.neq("k", "7")))))),

    "read_label_regex" -> ((s, dir) => (
      SeriesRead.select(samples(s, dir),
        ReadQuery(WinStartMs, WinEndMs,
          Seq(Matchers.re("user", "1[0-2]"), Matchers.nre("k", "4.*")))))),

    "read_ignore_label" -> ((s, dir) => (
      SeriesRead.select(samples(s, dir),
        ReadQuery(WinStartMs, WinEndMs,
          Seq(Matchers.eq("remote", "clickhouse"), Matchers.eq("user", "5")))))),

    "read_downsample_hint" -> ((s, dir) => (
      SeriesRead.select(samples(s, dir),
        ReadQuery(WinStartMs, WinEndMs,
          Seq(Matchers.eq("__name__", "click")), stepMs = 120000L)))),

    "read_series_agg" -> ((s, dir) => (
      SeriesRead.select(samples(s, dir), ReadQuery(0L, 0L, Nil)))),

    "read_series_assembly" -> ((s, dir) =>
      SeriesRead.assembleSummary(
        SeriesRead.selectKeyed(samples(s, dir),
          ReadQuery(WinStartMs, WinEndMs, Seq(Matchers.eq("__name__", "signup")))))),

    "read_full_pipeline" -> ((s, dir) =>
      SeriesRead.assembleSummary(
        SeriesRead.selectKeyed(samples(s, dir),
          ReadQuery(WinStartMs, WinEndMs,
            Seq(Matchers.re("__name__", "p[a-z]+chase|click"),
                Matchers.eq("user", "7")),
            stepMs = 600000L)))),

    // ---- §2.3 TSDB analytics ---------------------------------------
    "ts_rate_per_second" -> ((s, dir) => (
      RangeOps.ratePerSecond(RangeOps.dedupPerSecond(qsamples(s, dir))))),

    "ts_increase" -> ((s, dir) => (
      RangeOps.increaseDelta(RangeOps.dedupPerSecond(qsamples(s, dir)), 3600L))),

    "ts_avg_over_time" -> ((s, dir) => (
      // integer-exact mean (1e-5 units) — see RangeOps.aggAcrossSeries:
      // round(avg,6) lands on exact decimal midpoints for power-of-2
      // bucket counts, which the two engines round differently
      RangeOps.overTime(RangeOps.dedupPerSecond(qsamples(s, dir)), 3600L,
        Seq(expr("CAST(floor(sum(value) * 100 + 0.5) AS BIGINT) * 1000 DIV count(1)")
          .as("avg_value_e5"))))),

    "ts_minmax_over_time" -> ((s, dir) => (
      RangeOps.overTime(RangeOps.dedupPerSecond(qsamples(s, dir)), 3600L,
        Seq(min(col("value")).as("min_value"), max(col("value")).as("max_value"))))),

    "ts_sum_count_over_time" -> ((s, dir) => (
      RangeOps.overTime(RangeOps.dedupPerSecond(qsamples(s, dir)), 3600L,
        Seq(round(sum(col("value")), 6).as("sum_value"), count(lit(1)).as("n_points"))))),

    "ts_topk" -> ((s, dir) => (
      RangeOps.topK(RangeOps.dedupPerSecond(qsamples(s, dir)), 86400L, 3))),

    "ts_quantile_over_time" -> ((s, dir) =>
      RangeOps.quantileOverTime(RangeOps.dedupPerSecondAcross(qsamples(s, dir)), 86400L, 0.5)),

    "ts_histogram_quantile" -> ((s, dir) =>
      RangeOps.histogramQuantile(qsamples(s, dir), 86400L, 0.9)),

    "ts_label_project" -> ((s, dir) =>
      RangeOps.labelProject(qsamples(s, dir), "user=", 8.0)),

    // PromQL label_replace: shard = first digit of the user id
    "ts_label_replace" -> ((s, dir) =>
      RangeOps.labelReplace(qsamples(s, dir), "shard", "user", "([0-9])[0-9]*")),

    // PromQL count_values: the value distribution per metric
    "ts_count_values" -> ((s, dir) =>
      RangeOps.countValues(RangeOps.dedupPerSecondAcross(qsamples(s, dir)))),

    "ts_last_point" -> ((s, dir) => (
      RangeOps.lastPoint(RangeOps.dedupPerSecond(qsamples(s, dir))))),

    "ts_gap_fill" -> ((s, dir) => (
      RangeOps.gapFill(RangeOps.dedupPerSecond(qsamples(s, dir)), 3600L))),

    "ts_delta" -> ((s, dir) => (
      RangeOps.delta(RangeOps.dedupPerSecond(qsamples(s, dir)), 21600L))),

    "ts_resets" -> ((s, dir) => (
      RangeOps.resets(RangeOps.dedupPerSecond(qsamples(s, dir)), 86400L))),

    "ts_deriv_predict" -> ((s, dir) => (
      RangeOps.derivPredict(RangeOps.dedupPerSecond(qsamples(s, dir)), 86400L, 3600L))),

    "ts_stddev_over_time" -> ((s, dir) => (
      RangeOps.stddevOverTime(RangeOps.dedupPerSecond(qsamples(s, dir)), 21600L))),

    "ts_agg_across_series" -> ((s, dir) => (
      RangeOps.aggAcrossSeries(RangeOps.dedupPerSecondAcross(qsamples(s, dir)), 3600L))),

    // PromQL-style binary op with on(user) matching: hourly
    // sum-by-user of one metric over another — the "ratio of two
    // series selections" query the read path can't express as a
    // single-metric aggregate.
    "ts_binary_op" -> ((s, dir) => (
      RangeOps.binaryOpByLabel(
        RangeOps.dedupPerSecondAcross(qsamples(s, dir)), "click", "view", "user", 3600L))),

    // PromQL `offset` comparison: each series' hourly mean next to
    // its own value exactly one day earlier (day-over-day delta).
    "ts_offset_compare" -> ((s, dir) => (
      RangeOps.offsetCompare(
        RangeOps.dedupPerSecond(qsamples(s, dir)), 3600L, 86400L))),

    // PromQL irate: rate between each hourly bucket's last two points
    "ts_irate" -> ((s, dir) => (
      RangeOps.irate(RangeOps.dedupPerSecond(qsamples(s, dir)), 3600L))),

    // PromQL changes: value-change count per 6h bucket
    "ts_changes" -> ((s, dir) => (
      RangeOps.changes(RangeOps.dedupPerSecond(qsamples(s, dir)), 21600L))),

    // PromQL clamp/clamp_min/clamp_max over the value range
    "ts_clamp" -> ((s, dir) => (
      RangeOps.clamp(RangeOps.dedupPerSecond(qsamples(s, dir)), 50.0, 300.0))),

    // PromQL bottomk: the 3 quietest series per metric-day
    "ts_bottomk" -> ((s, dir) => (
      RangeOps.bottomK(RangeOps.dedupPerSecond(qsamples(s, dir)), 86400L, 3))),

    // PromQL absent_over_time over the flagship window's day grid
    "ts_absent" -> ((s, dir) => (
      RangeOps.absentOverTime(RangeOps.dedupPerSecondAcross(qsamples(s, dir)),
        86400L, WinStartMs / 1000, WinEndMs / 1000))),

    "ingest_streaming_window" -> ((s, dir) => {
      val src = ensureEventsSrc(s, dir, "stream_win_src")
      StreamIngest.runWindowedToMemory(s, src,
        s"streamwin_${new java.io.File(dir).getName.replace(".", "_")}")
    }),

    // ---- §2.4 dedup ------------------------------------------------
    "dedup_exact" -> ((s, dir) => Dedup.exact(Tables.documents(s, dir))),

    // URL canonicalization + exact URL dedup (the step a crawl
    // pipeline runs BEFORE content dedup): the corpus has no url
    // column, so the wrapper plants every alias class the
    // canonicalizer exists for — case, default port, trailing slash,
    // tracking params, param order, fragments — with collisions at
    // the (doc_id % 100) grain.
    "dedup_url" -> ((s, dir) => Dedup.urlDedup(synthUrls(s, dir))),

    "dedup_url_hosts" -> ((s, dir) => Dedup.urlHostStats(synthUrls(s, dir))),

    // RefinedWeb/CCNet line-level boilerplate removal: the corpus has
    // no natural newlines, so the wrapper plants the crawl shape the
    // operator exists for — a cookie banner on every even doc and a
    // newsletter footer on every fifth — and line df >= 3 scrubs
    // exactly those while the content line survives in order.
    "dedup_lines" -> ((s, dir) =>
      Dedup.lineDedup(Tables.documents(s, dir).withColumn("text",
        concat_ws("\n",
          when(col("doc_id") % 2 === 0,
            lit("cookie notice accept all cookies to continue")),
          col("text"),
          when(col("doc_id") % 5 === 0,
            lit("subscribe to our newsletter for updates")))))),

    "dedup_minhash_lsh" -> ((s, dir) => Dedup.minhashLsh(Tables.documents(s, dir))),

    "dedup_minhash_keep" -> ((s, dir) => Dedup.minhashKeep(Tables.documents(s, dir))),

    // cross-source duplication matrix: which sources copy from which
    // (mirror/scrape accounting before source mixing) — LSH pairs at
    // est ≥ 0.3 bucketed per ordered source pair
    "dedup_source_matrix" -> ((s, dir) =>
      Dedup.sourceDupMatrix(Tables.documents(s, dir), tauE6 = 300000L)),

    // union-find over the LSH pair graph: one representative per
    // duplicate CLUSTER (greedy bucket-min under-merges chains)
    "dedup_components" -> ((s, dir) =>
      Dedup.minhashComponents(qdocuments(s, dir))),

    // the same cluster labeling via large-star/small-star contraction
    // — the provable-O(log²n)-rounds union-find for adversarial pair
    // graphs (equality with min-label also spec-proven on random
    // graphs in LlmSpec)
    "dedup_components_stars" -> ((s, dir) =>
      Dedup.minhashComponentsStars(qdocuments(s, dir))),

    // incremental crawl dedup: every 3rd doc plays the NEW snapshot,
    // dropped when it shares a band bucket with any OLD doc
    "dedup_incremental" -> ((s, dir) =>
      Dedup.incrementalKeep(Tables.documents(s, dir),
        col("doc_id") % 3 === 0)),

    // STREAMING crawl-by-crawl dedup: three crawl files (doc_id mod
    // 3) with ascending mtimes so the file source replays them in
    // crawl order; each micro-batch probes the persisted band-key
    // state of the crawls before it
    "stream_dedup_minhash" -> ((s, dir) => {
      val src = workDir("stream_docs_src", dir)
      payOnce(s, src, s"${srcFingerprint(s, dir, "documents")}:crawls=3:v1") {
        val base = System.currentTimeMillis()
        (0 until 3).foreach { k =>
          plantCrawl(Tables.documents(s, dir)
            .filter(pmod(col("doc_id"), lit(3)) === k)
            .select(col("doc_id"), col("text"), lit(k).cast("int").as("crawl")),
            src, k, base + k * 60000L)
        }
      }
      Dedup.streamIncrementalKeep(s, src, workDir("stream_docs_dd", dir))
    }),

    // STREAMING line-level dedup: three crawls with planted
    // boilerplate; the banner/footer cross minDf inside the first
    // crawl that carries them, while the rare promo line crosses it
    // only at crawl 1 — the doc that brought it in crawl 0 keeps it
    // (already shipped), later carriers lose it. State is the
    // (line, crawl, df) statistic, max-idempotent under compaction.
    "stream_line_dedup" -> ((s, dir) => {
      val src = workDir("stream_lines_src", dir)
      payOnce(s, src, s"${srcFingerprint(s, dir, "documents")}:linecrawls=3:v1") {
        val base = System.currentTimeMillis()
        (0 until 3).foreach { k =>
          plantCrawl(Tables.documents(s, dir)
            .filter(pmod(col("doc_id"), lit(3)) === k)
            .select(col("doc_id"),
              concat_ws("\n",
                when(col("doc_id") % 2 === 0,
                  lit("cookie notice accept all cookies to continue")),
                col("text"),
                when(col("doc_id") % 100 === 1,
                  lit("limited time promo act now")),
                when(col("doc_id") % 5 === 0,
                  lit("subscribe to our newsletter for updates"))).as("text"),
              lit(k).cast("int").as("crawl")),
            src, k, base + k * 60000L)
        }
      }
      Dedup.streamLineDedup(s, src, workDir("stream_lines_dd", dir))
    }),

    "dedup_ngram_jaccard" -> ((s, dir) => Dedup.ngramJaccard(Tables.documents(s, dir), 0.8)),

    "dedup_simhash" -> ((s, dir) => Dedup.simhashPairs(Tables.documents(s, dir), 8)),

    // Benchmark decontamination: every 50th doc plays the held-out
    // eval set; training docs sharing any word 4-gram with it flag.
    "dedup_decontaminate" -> ((s, dir) =>
      Dedup.decontaminate(Tables.documents(s, dir), col("doc_id") % 50 === 0)),

    // C4-style boilerplate removal: non-overlapping 8-word chunks
    // occurring ≥3 times corpus-wide are scrubbed from every doc
    "dedup_span_scrub" -> ((s, dir) =>
      Dedup.scrubRepeatedSpans(Tables.documents(s, dir))),

    // Lee-et-al repeated-substring discovery: overlapping 8-word
    // windows shared by ≥2 distinct docs, merged to maximal spans
    "dedup_substring_spans" -> ((s, dir) =>
      Dedup.repeatedSubstringSpans(Tables.documents(s, dir))),

    "dedup_embedding" -> ((s, dir) =>
      Similarity.nearDupPairs(Tables.embeddings(s, dir), nBands = 4, bitsPerBand = 6, threshold = 0.4)),

    "dedup_embedding_keep" -> ((s, dir) =>
      Similarity.embeddingKeep(Tables.embeddings(s, dir), nBands = 4, bitsPerBand = 6)),

    // union-find over the thresholded embedding pair graph — one
    // representative per semantic near-duplicate CLUSTER
    "dedup_embedding_components" -> ((s, dir) =>
      Similarity.embeddingComponents(qembeddings(s, dir),
        nBands = 4, bitsPerBand = 6, threshold = 0.4)),

    // ---- §2.5 similarity search ------------------------------------
    "ann_bruteforce_topk" -> ((s, dir) =>
      Similarity.bruteForceTopK(Tables.embeddings(s, dir), nQueries = 10, k = 10)),

    "ann_lsh_topk" -> ((s, dir) =>
      Similarity.lshTopK(Tables.embeddings(s, dir), nQueries = 10, nBits = 6, k = 10)),

    "ann_ivf_topk" -> ((s, dir) =>
      Similarity.ivfTopK(Tables.embeddings(s, dir),
        nQueries = 10, nCentroids = 16, nProbe = 4, k = 10)),

    // IVF-PQ: product-quantized ADC scoring inside the probed lists
    // — the codes-only (32×-compressed) corpus scan at 100 TB
    "ann_ivfpq_topk" -> ((s, dir) =>
      Similarity.ivfPqTopK(Tables.embeddings(s, dir),
        nQueries = 10, nCentroids = 16, nProbe = 4, k = 10)),

    // index-quality gate: recall@10 of the IVF-PQ search against the
    // exact brute-force top-10, per query — the number that decides
    // whether a compressed index is shippable
    "ann_recall_ivfpq" -> ((s, dir) => {
      val embs = Tables.embeddings(s, dir)
      Similarity.annRecall(
        Similarity.bruteForceTopK(embs, nQueries = 10, k = 10),
        Similarity.ivfPqTopK(embs,
          nQueries = 10, nCentroids = 16, nProbe = 4, k = 10))
    }),

    // IVF with a TRAINED coarse quantizer (the FAISS build shape):
    // Lloyd centroids over the candidate set replace the
    // training-free lowest-id pick; the e6-integer kmeans discipline
    // makes the whole index — training loop included —
    // oracle-reproducible (the oracle replays the rounds then the
    // probe/search)
    "ann_ivf_trained_topk" -> ((s, dir) =>
      Similarity.ivfTrainedTopK(Tables.embeddings(s, dir),
        nQueries = 10, k = 8, iters = 2, nProbe = 3, topK = 10)),

    // Embedding-space clustering (SemDeDup-style curation): nearest
    // deterministic centroid per vector, broadcast + argmax window.
    "cluster_assign" -> ((s, dir) =>
      Similarity.clusterAssign(Tables.embeddings(s, dir), nCentroids = 16)),

    // TRAINED clustering: 3 Lloyd rounds of spherical k-means —
    // e6-integer components make every centroid update an exact
    // integer mean, so the iterative float algorithm is
    // oracle-checkable; the oracle replays the same 3 rounds in SQL
    "cluster_kmeans" -> ((s, dir) =>
      Similarity.kmeans(qembeddings(s, dir), k = 16, iters = 3)),

    // SemDeDup (arXiv:2303.09540): cluster-scoped semantic dedup —
    // kmeans then the cluster-local ε-ball drop (cos ≥ 0.4, lowest
    // id keeps); the pairwise cosine never leaves a cluster, the
    // paper's own O(n²)→Σ clusterᵢ² lever
    "dedup_semantic" -> ((s, dir) =>
      Similarity.semanticKeep(qembeddings(s, dir),
        k = 16, iters = 3, tauE6 = 400000L)),

    // ---- §2.6 text analysis ----------------------------------------
    "text_langid" -> ((s, dir) => TextAnalysis.langId(Tables.documents(s, dir))),

    "text_quality" -> ((s, dir) => TextAnalysis.quality(Tables.documents(s, dir))),

    // Gopher-rule boolean gate (word-count / mean-word-length /
    // alpha-word / symbol-ratio / stopword rules + conjunction),
    // with the en stop list so the rule discriminates on this corpus
    "text_quality_gopher" -> ((s, dir) =>
      TextAnalysis.gopherRules(Tables.documents(s, dir),
        stops = TextAnalysis.StopWords.head._2)),

    "text_tokens" -> ((s, dir) => TextAnalysis.tokenCounts(Tables.documents(s, dir))),

    // distributed BPE tokenizer TRAINING: merges learn over the
    // distinct-word table (the corpus is scanned once, for word
    // frequencies); count ties break (l, r)-lexicographic — the
    // documented cross-engine determinism contract
    "tokenizer_train_bpe" -> ((s, dir) =>
      Tokenizer.trainBpe(Tables.documents(s, dir), 8)),

    // encode with the learned merges: distinct words encode once
    // through the ranked merge list, the corpus broadcast-joins the
    // word→token-count table — per-doc BPE token counts. Training
    // is the pay-once artifact (trainedBpe), not re-run per query.
    "tokenize_bpe_count" -> ((s, dir) =>
      Tokenizer.tokenCountsBpe(Tables.documents(s, dir),
        trainedBpe(s, dir, 8))),

    // the shipped artifact: every surviving token with its weighted
    // corpus occurrence count (distinct-word shape, no corpus rescan,
    // no re-training — the cached merge table drives the encode)
    "tokenizer_vocab_bpe" -> ((s, dir) =>
      Tokenizer.bpeVocab(Tables.documents(s, dir),
        trainedBpe(s, dir, 8))),

    "text_fingerprint" -> ((s, dir) => TextAnalysis.fingerprint(Tables.documents(s, dir))),

    "text_ngram_freq" -> ((s, dir) => TextAnalysis.ngramFreq(Tables.documents(s, dir))),

    // corpus-QA one-liner: Zipf OLS over the top-100 unigrams —
    // slope far from ≈ −1 flags boilerplate flooding or vocab collapse
    "text_zipf" -> ((s, dir) => TextAnalysis.zipfFit(Tables.documents(s, dir))),

    "text_tfidf" -> ((s, dir) => TextAnalysis.tfidfKeywords(Tables.documents(s, dir))),

    // CCNet-style quality filtering: a corpus-trained bigram LM with
    // add-0.5 smoothing scores each document's cross-entropy (low =
    // fluent = keep), and the bucket variant splits head/middle/tail
    // by per-language terciles — the CCNet corpus partition
    "text_perplexity" -> ((s, dir) =>
      TextAnalysis.perplexity(Tables.documents(s, dir))),

    "text_perplexity_buckets" -> ((s, dir) =>
      TextAnalysis.perplexityBuckets(Tables.documents(s, dir))),

    // the discriminative quality leg (CCNet/GPT-3 pairing): logistic
    // regression over the DSIR hashed-bucket features, 3 exact-
    // integer full-batch gradient steps, scoring target-like
    // probability per doc; the oracle replays the unrolled training
    // as CTEs bit-for-bit
    "text_quality_classifier" -> ((s, dir) =>
      Sampling.qualityClassifier(qdocuments(s, dir))),

    // CCNet's downstream policy: sample by quality bucket — the
    // fluent third in full, the middle at half, a tail trickle —
    // over the deterministic (salt, doc_id) hash
    "sample_quality_mixture" -> ((s, dir) =>
      graft.llm.CorpusPrep.qualityMixture(Tables.documents(s, dir))
        .select(col("doc_id"), col("lang"), col("bucket"),
          col("keep_rate"), col("cross_entropy_bits"))),

    // RAG-style chunking: overlapping 64-word windows at stride 48,
    // boundaries + chunk md5 out (never the text — re-sliceable from
    // the source row), the embed-index pipeline's first step
    "text_chunks" -> ((s, dir) =>
      TextAnalysis.chunkWindows(Tables.documents(s, dir))),

    "sample_pack" -> ((s, dir) => Sampling.packSequences(Tables.documents(s, dir))),

    // the full front-of-training composition: corpus prep's train
    // split semi-joined back and packed into token-stream chunks
    "pipeline_pack_prep" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val trainIds = graft.llm.CorpusPrep.prepare(docs)
        .filter(col("split") === "train").select("doc_id")
      Sampling.packSequences(docs.join(trainIds, Seq("doc_id"), "left_semi"))
    }),

    // PII scrub over documents with deterministic synthetic PII
    // injected into every third doc (the corpus itself is clean, so
    // the injection is what proves the patterns fire); the oracle
    // applies the identical injection expression.
    "text_pii_scrub" -> ((s, dir) =>
      TextAnalysis.piiScrub(Tables.documents(s, dir).withColumn("text",
        when(col("doc_id") % 3 === 0, concat(
          col("text"),
          lit(" contact u"), col("doc_id").cast("string"),
          lit("@ex"), (col("doc_id") % 7).cast("string"),
          lit(".com via 10."), (col("doc_id") % 256).cast("string"),
          lit(".0."), (col("doc_id") % 100).cast("string"),
          lit(" tel 555"), (col("doc_id") * 9973).cast("string")))
          .otherwise(col("text"))))),

    // Gopher-style repetition filters: distinct-word ratio, top-word
    // share, duplicate-bigram fraction.
    "text_repetition" -> ((s, dir) =>
      TextAnalysis.repetition(Tables.documents(s, dir))),

    // Deterministic split assignment: membership is a pure function
    // of (salt, doc_id) — stable across runs, partitionings, and
    // cluster sizes, unlike Dataset.sample. Narrow per-row math.
    "sample_split" -> ((s, dir) =>
      Sampling.withSplit(Tables.documents(s, dir), "doc_id")
        .select(col("doc_id"), col("bucket"), col("split"))),

    // Reproducible 10% sample by key hash under a named salt.
    "sample_deterministic" -> ((s, dir) =>
      Sampling.sampleByKey(Tables.documents(s, dir), "doc_id", "s1", 100)
        .select(col("doc_id"), col("lang"), col("n_chars"))),

    // Language-balanced quota: at most 50 docs per lang, picked by
    // deterministic hash rank — stable across runs and partitionings.
    "sample_stratified" -> ((s, dir) =>
      Sampling.stratifiedSample(Tables.documents(s, dir), "lang", "doc_id", "strat", 50)
        .select(col("doc_id"), col("lang"), col("srank"))),

    // Per-DOMAIN cap (the Gopher/CCNet crawl-balance rule: no host
    // dominates the corpus): at most k docs per canonical host,
    // picked by deterministic hash rank — canonicalHost composed
    // with the skew-thinned stratified sampler, so a mega-host's
    // window partition is pre-thinned to ~64k rows before ranking
    "sample_domain_cap" -> ((s, dir) =>
      Sampling.stratifiedSample(
        synthUrls(s, dir).withColumn("host", Dedup.canonicalHost(col("url"))),
        "host", "doc_id", "domcap", 6)
        .select(col("doc_id"), col("host"), col("srank"))),

    // Cardinality debugging: per-day series births/deaths and the
    // top metrics by series count (the /api/v1/status/tsdb view)
    "meta_series_churn" -> ((s, dir) =>
      graft.operators.Meta.seriesChurn(samples(s, dir))),
    "meta_series_count" -> ((s, dir) =>
      graft.operators.Meta.seriesCountByMetric(samples(s, dir))),

    // Gap-based sessionization over the raw event stream: one row
    // per (user, session) with extent, volume, and exact value sum.
    "events_sessionize" -> ((s, dir) =>
      graft.operators.Sessions.stats(Tables.eventsNorm(s, dir))),

    // As-of join: each event enriched with the user's latest 'click'
    // sample value at-or-before the event's own timestamp. The right
    // side pre-dedups to one row per (user, µs) — max value, the
    // store's dedup convention — so the pick is deterministic; the
    // oracle runs DuckDB's NATIVE ASOF LEFT JOIN against our
    // zero-join window plan (a true differential test).
    "events_asof_enrich" -> ((s, dir) => {
      val ev = Tables.eventsNorm(s, dir)
        .select(col("event_id"), col("ts_us"), col("user_id"))
      val right = samples(s, dir).filter(col("metric") === "click")
        .select(expr("CAST(regexp_extract(array_join(" +
          "filter(labels, l -> l LIKE 'user=%'), ''), 'user=([0-9]+)', 1) " +
          "AS BIGINT)").as("user_id"),
          col("ts_us"), col("value"))
        .groupBy(col("user_id"), col("ts_us"))
        .agg(max(col("value")).as("asof_value"))
      graft.operators.Joins.asof(ev, right, "user_id", Seq("asof_value"))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("asof_value"))
    }),

    // Range join: every event mapped into its containing session
    // interval (the Sessions operator's intervals become the right
    // side) via the bucketed equi-join — exact containment, no
    // per-key cartesian. Oracle: DuckDB's plain inequality join.
    "events_range_join" -> ((s, dir) => {
      val ev = Tables.eventsNorm(s, dir)
        .select(col("event_id"), col("ts_us"), col("user_id"))
      val sess = graft.operators.Sessions.stats(Tables.eventsNorm(s, dir))
        .select(col("user_id"), col("session_seq"),
          col("start_us"), (col("end_us") + 1L).as("end_us"))
      graft.operators.Joins.range(ev, sess, "user_id", 3600L)
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("session_seq"))
    }),

    // Earliest-anchor conversion funnel: view → click → purchase
    // within a day of first exposure
    "events_funnel" -> ((s, dir) =>
      graft.operators.Sessions.funnel(Tables.eventsNorm(s, dir),
        Seq("view", "click", "purchase"), 86400L)),

    // Daily cohort retention curve
    "events_retention" -> ((s, dir) =>
      graft.operators.Sessions.retention(Tables.eventsNorm(s, dir))),

    // Tokenizer fertility (chars/token) per language — exact ratio
    "text_fertility" -> ((s, dir) =>
      TextAnalysis.fertility(Tables.documents(s, dir))),

    // Deterministic token-budget slice: the first 20k tokens of the
    // hash-shuffled corpus via the distributed exclusive prefix sum
    "sample_token_budget" -> ((s, dir) =>
      Sampling.tokenBudget(Tables.documents(s, dir), "doc_id", "order",
        budgetTokens = 20000L)),

    // Deterministic domain mixing: per-source keep rates, the corpus
    // mixture primitive (keep all of src0/src1, half of src2/src3,
    // a quarter of src4, 10% of the long tail).
    "sample_mixture" -> ((s, dir) =>
      Sampling.sampleMixture(Tables.documents(s, dir), "source", "doc_id",
          "mix", Map("src0" -> 1000, "src1" -> 1000, "src2" -> 500,
            "src3" -> 500, "src4" -> 250), defaultPermille = 100)
        .select(col("doc_id"), col("source"), col("keep_rate"))),

    // DSIR importance weighting: score every doc by hashed-unigram
    // likelihood ratio against the src0/src1 target slice — the
    // data-selection key for targeted resampling
    "sample_dsir" -> ((s, dir) =>
      Sampling.dsirWeights(Tables.documents(s, dir))),

    // α-tempered language mixing (α = 1/2, 60% corpus budget): the
    // skewed-lang corpus flattens toward the tail — head langs
    // down-sample, tail langs keep more of themselves
    "sample_temperature" -> ((s, dir) =>
      Sampling.temperatureMixture(Tables.documents(s, dir), "lang",
          "doc_id", "temp", alphaQuarters = 2, budgetPermille = 600)
        .select(col("doc_id"), col("lang"), col("keep_rate"))),

    // Symmetric int8 embedding quantization (per-vector scale).
    // The array-valued qvec is flattened to a ','-joined string for
    // the oracle comparator (SURVEY §6 convention — array columns
    // are unsortable in the driver's pandas gate); in-engine
    // consumers use Similarity.quantizeInt8's array API directly.
    "embedding_quantize" -> ((s, dir) =>
      Similarity.quantizeInt8(Tables.embeddings(s, dir))
        .select(col("vec_id"), col("scale_e6"),
          concat_ws(",", col("qvec").cast("array<string>")).as("qvec_str"))),

    // The whole corpus-prep pipeline in one pass: quality gate →
    // language gate → exact dedup → split assignment. One scan, one
    // shuffle (the dedup window) — plan-asserted in PlanSpec.
    "pipeline_corpus_prep" -> ((s, dir) =>
      graft.llm.CorpusPrep.prepare(Tables.documents(s, dir))),

    // the multilingual curation capstone: quality + langid + gopher
    // gates on ONE scan, exact dedup's single window shuffle, then
    // α-tempered language mixing and split assignment
    "pipeline_corpus_prep_full" -> ((s, dir) =>
      graft.llm.CorpusPrep.prepareFull(Tables.documents(s, dir))),

    // the web-crawl front: URL-canonical dedup FIRST (the fetch-alias
    // class dies before any text op runs), quality gate on the same
    // scan, exact text dedup over the thinned set, split — two
    // key-window shuffles total
    "pipeline_web_prep" -> ((s, dir) =>
      graft.llm.CorpusPrep.webPrep(
        Tables.documents(s, dir).withColumn("url", synthUrlCol))),

    // ---- §2.7 multimodal -------------------------------------------
    "mm_binary_pipeline" -> ((s, dir) =>
      Multimodal.extractFeatures(Multimodal.packFromDocuments(Tables.documents(s, dir)))),

    "mm_frame_sample" -> ((s, dir) =>
      Multimodal.frameSample(Multimodal.packFromDocuments(Tables.documents(s, dir)))),

    // the resize/downsample leg of the image pipeline: fixed
    // 16-bucket average-pool over each payload (stub for pixel
    // resampling — the pooling bounds and batch shape are real)
    "mm_resize" -> ((s, dir) =>
      Multimodal.resizePool(
        Multimodal.packFromDocuments(Tables.documents(s, dir)))),

    // multimodal near-dup: every 7th doc gets a "re-encoded" twin
    // (first byte case-flipped — same length, tiny byte drift, the
    // shape a lossy re-encode leaves), then perceptual-hash + banded
    // hamming LSH finds the twin pairs at signature weight
    "mm_phash_dedup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val twins = docs.unionByName(docs.filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + lit(1000000L))
        .withColumn("text",
          concat(upper(substring(col("text"), 1, 1)),
            expr("substring(text, 2)"))))
      Multimodal.phashDedup(Multimodal.packFromDocuments(twins))
    }),

    // ---- §2.8 relational spine -------------------------------------
    "rel_q1_agg" -> ((s, dir) => Relational.q1(s, dir)),
    "rel_join_broadcast" -> ((s, dir) => Relational.revenueByRegion(s, dir)),
    "rel_join_shuffle" -> ((s, dir) => Relational.returnedByPriority(s, dir)),

    // TPC-H Q3 shape: broadcast segment gate + date-filtered
    // fact-fact join + top-10 by integer-exact revenue
    "rel_q3_topk" -> ((s, dir) => Relational.q3Shipping(s, dir)),
    "rel_join_bucketed" -> ((s, dir) =>
      Relational.returnedByPriorityBucketed(s, dir, workDir("bucketed", dir))),

    // ---- series metadata -------------------------------------------
    "meta_label_values" -> ((s, dir) => Meta.labelValues(samples(s, dir), "user")),
    "meta_label_names" -> ((s, dir) => Meta.labelNames(samples(s, dir))),

    // /api/v1/series: distinct series matching a parsed PromQL
    // selector inside the flagship window, with per-series footprint
    "meta_series" -> ((s, dir) =>
      Meta.series(samples(s, dir),
        ReadQuery(WinStartMs, WinEndMs,
          Matchers.parseSelector("""{__name__=~"click|view",user=~"1[0-9]"}""")
            .getOrElse(sys.error("selector must parse"))))),

    // ---- PromQL query endpoint (the evaluator behind
    // /api/v1/query_range — grammar/semantics in serve/PromQL.scala).
    // Each entry goes through the REAL parser, so the string → AST →
    // plan path is what the oracle checks end-to-end.

    // per-series observed-span rate on the step grid (overlapping
    // [t-7d, t) windows, step 1d)
    "promql_rate_range" -> ((s, dir) =>
      promqlStr(PromQL.eval(qsamples(s, dir), parsePromQL("rate(click[7d])"),
        WinStartSec, WinEndSec, 86400L))),

    // full pipeline: range fn → sum by (user) → topk, one expression
    "promql_agg_topk" -> ((s, dir) =>
      promqlStr(PromQL.eval(qsamples(s, dir),
        parsePromQL("topk(3, sum by (user) (sum_over_time(click[1d])))"),
        WinStartSec, WinEndSec, 86400L))),

    // instant vector on a 6h grid with a 1d staleness lookback
    "promql_instant" -> ((s, dir) =>
      promqlStr(PromQL.eval(qsamples(s, dir), parsePromQL("click"),
        WinStartSec, WinEndSec, 21600L, lookbackSec = 86400L))),

    // explicit staleness markers (Prometheus's StaleNaN,
    // 0x7ff0000000000002): a marker ENDS the series at the instant
    // lookback — the grid steps between a series' death and its next
    // real sample produce NO point instead of serving the dead
    // value for the full lookback. Fixture: one marker per click
    // series one second after its last sample in the window's first
    // week (a restarting-fleet shape); series revive at their next
    // sample, exactly prometheus/tsdb's lookback semantics. The
    // oracle replays the (t_sec, dead)-ranked winner walk in SQL.
    "promql_stale" -> ((s, dir) => {
      val midSec = WinStartSec + 7 * 86400
      val marks = qsamples(s, dir)
        .filter(col("metric") === "click" &&
          expr("ts_us DIV 1000000") <= midSec)
        .groupBy(col("metric"), col("labels"))
        .agg(max(expr("ts_us DIV 1000000")).as("mts"))
        .select(expr("(mts + 1) * 1000000").as("ts_us"), col("metric"),
          col("labels"), lit(1.0).as("value"))
      promqlStr(PromQL.eval(qsamples(s, dir), parsePromQL("click"),
        WinStartSec, WinEndSec, 21600L, lookbackSec = 86400L,
        stale = Some(marks)))
    }),

    // Prometheus-anchored selector regexes: =~ / !~ anchor
    // ^(?:…)$ around the label VALUE, so alternation cannot escape
    // the anchors — user=~"1|2" is exactly user 1 or 2, never a
    // suffix cross-match on the k label (the remote-read rows keep
    // the reference's bare-concat anchoring, read.go:105-141)
    "promql_selector_regex" -> ((s, dir) =>
      promqlStr(PromQL.eval(qsamples(s, dir),
        parsePromQL("""sum_over_time(click{user=~"1|2",k!~"4.*"}[1d])"""),
        WinStartSec, WinEndSec, 86400L))),

    // info(): each click series adopts its target's target_info data
    // labels by (instance, job) identity at every step — Prometheus
    // 3.x's experimental info function over the OTLP-shaped store
    "promql_info" -> ((s, dir) =>
      promqlStr(PromQL.eval(samplesWithTargetInfo(querySession(s, dir), dir),
        parsePromQL("info(click)"),
        WinStartSec, WinEndSec, 21600L, lookbackSec = 86400L))),

    // the data-label-selector form: info series filtered to
    // os="linux" targets, and only the os key adopted — non-matching
    // targets' series pass through unchanged
    "promql_info_selector" -> ((s, dir) =>
      promqlStr(PromQL.eval(samplesWithTargetInfo(querySession(s, dir), dir),
        parsePromQL("""info(click, {os="linux"})"""),
        WinStartSec, WinEndSec, 21600L, lookbackSec = 86400L))),

    // the offset modifier (day-over-day dashboards) composed with
    // last_over_time: each step answers the window one day back
    "promql_offset_last" -> ((s, dir) =>
      promqlStr(PromQL.eval(qsamples(s, dir),
        parsePromQL("last_over_time(click[1d] offset 1d)"),
        WinStartSec + 172800, WinEndSec, 86400L))),

    // negative offset (Prometheus 3.x, default-enabled): offset -1d
    // shifts each [t-1d, t) window FORWARD to [t, t+1d) — "next
    // period's value on this period's grid point"
    "promql_neg_offset" -> ((s, dir) =>
      promqlStr(PromQL.eval(qsamples(s, dir),
        parsePromQL("last_over_time(click[1d] offset -1d)"),
        WinStartSec, WinEndSec - 86400, 86400L))),

    // binary vector arithmetic with full-label-set matching — the
    // error-ratio dashboard idiom, pre-aggregated per side
    "promql_ratio" -> ((s, dir) =>
      promqlStr(PromQL.eval(qsamples(s, dir),
        parsePromQL("sum by (user) (sum_over_time(click[1d]))" +
          " / sum by (user) (sum_over_time(view[1d]))"),
        WinStartSec, WinEndSec, 86400L))),

    // exact interpolated per-window quantile (the latency-p90 idiom)
    "promql_quantile" -> ((s, dir) =>
      promqlStr(PromQL.eval(qsamples(s, dir),
        parsePromQL("quantile_over_time(0.9, click[1d])"),
        WinStartSec, WinEndSec, 86400L))),

    // irate: the last in-window pair's per-second rate, reset-aware
    "promql_irate" -> ((s, dir) =>
      promqlStr(PromQL.eval(qsamples(s, dir), parsePromQL("irate(click[7d])"),
        WinStartSec, WinEndSec, 86400L))),

    // idelta: the last in-window pair's raw difference (gauges)
    "promql_idelta" -> ((s, dir) =>
      promqlStr(PromQL.eval(qsamples(s, dir), parsePromQL("idelta(click[7d])"),
        WinStartSec, WinEndSec, 86400L))),

    // changes: in-window adjacent pairs whose value differed
    "promql_changes" -> ((s, dir) =>
      promqlStr(PromQL.eval(qsamples(s, dir), parsePromQL("changes(click[7d])"),
        WinStartSec, WinEndSec, 86400L))),

    // resets: in-window adjacent pairs that went DOWN (counter resets)
    "promql_resets" -> ((s, dir) =>
      promqlStr(PromQL.eval(qsamples(s, dir), parsePromQL("resets(click[7d])"),
        WinStartSec, WinEndSec, 86400L))),

    // deriv: per-window least-squares slope from exact integer partials
    "promql_deriv" -> ((s, dir) =>
      promqlStr(PromQL.eval(qsamples(s, dir), parsePromQL("deriv(click[7d])"),
        WinStartSec, WinEndSec, 86400L))),

    // predict_linear: the fitted line read 1d past each window's end
    "promql_predict" -> ((s, dir) =>
      promqlStr(PromQL.eval(qsamples(s, dir),
        parsePromQL("predict_linear(click[7d], 86400)"),
        WinStartSec, WinEndSec, 86400L))),

    // math-fn chain through the parser: round to the unit, then clamp
    "promql_clamp_round" -> ((s, dir) =>
      promqlStr(PromQL.eval(qsamples(s, dir),
        parsePromQL("clamp(round(sum_over_time(click[1d])), 10, 40)"),
        WinStartSec, WinEndSec, 86400L))),

    // comparison as a Prometheus filter over an aggregation
    "promql_filter" -> ((s, dir) =>
      promqlStr(PromQL.eval(qsamples(s, dir),
        parsePromQL("sum by (user) (sum_over_time(click[1d])) > 30"),
        WinStartSec, WinEndSec, 86400L))),

    // set op: click-sums per user, minus users whose view-sum ran hot
    "promql_setop" -> ((s, dir) =>
      promqlStr(PromQL.eval(qsamples(s, dir),
        parsePromQL("sum by (user) (sum_over_time(click[1d]))" +
          " unless (sum by (user) (sum_over_time(view[1d])) > 35)"),
        WinStartSec, WinEndSec, 86400L))),

    // absent_over_time: 1 on the days user 7 clicked nothing
    "promql_absent" -> ((s, dir) =>
      promqlStr(PromQL.eval(qsamples(s, dir),
        parsePromQL("""absent_over_time(click{user="7"}[1d])"""),
        WinStartSec, WinEndSec, 86400L))),

    // present_over_time: absent's complement on the same sparse
    // selector; stdvar rides the same stats in the evaluator
    "promql_present" -> ((s, dir) =>
      promqlStr(PromQL.eval(qsamples(s, dir),
        parsePromQL("""present_over_time(click{user="7"}[1d])"""),
        WinStartSec, WinEndSec, 86400L))),

    // ts_of_max/min/last_over_time (Prometheus 3.x experimental):
    // the timestamp of the window's extremal / last sample as the
    // value, in seconds; value ties resolve to the LATEST sample
    // (Prometheus's >=/<= scan order) — one union, tagged per fn
    "promql_ts_of" -> ((s, dir) => {
      val sm = qsamples(s, dir)
      def ev(fn: String, tag: String) =
        promqlStr(PromQL.eval(sm, parsePromQL(fn + "(click[1d])"),
          WinStartSec, WinEndSec, 86400L)).withColumn("fn", lit(tag))
      ev("ts_of_max_over_time", "max")
        .unionByName(ev("ts_of_min_over_time", "min"))
        .unionByName(ev("ts_of_last_over_time", "last"))
    }),

    // Prometheus 3.x UTF-8 selector syntax: quoted metric name +
    // quoted label names inside the braces — same plan and answer as
    // the classic ident form (the store's canonical "k=v" labels
    // already carry any name; only the grammar was classic-only)
    "promql_selector_quoted" -> ((s, dir) =>
      promqlStr(PromQL.eval(qsamples(s, dir),
        parsePromQL("""sum_over_time({"click", "user"="1"}[1d])"""),
        WinStartSec, WinEndSec, 86400L))),

    // Prometheus 3.x experimental first_over_time family: the
    // window's earliest sample and its timestamp — selections off
    // the same one-pass window stats every *_over_time shares
    "promql_first_over_time" -> ((s, dir) => {
      val sm = qsamples(s, dir)
      def ev(fn: String, tag: String) =
        promqlStr(PromQL.eval(sm, parsePromQL(fn + "(click[1d])"),
          WinStartSec, WinEndSec, 86400L)).withColumn("fn", lit(tag))
      ev("first_over_time", "first")
        .unionByName(ev("ts_of_first_over_time", "tsfirst"))
    }),

    // cross-series quantile aggregation per step
    "promql_quantile_agg" -> ((s, dir) =>
      promqlStr(PromQL.eval(qsamples(s, dir),
        parsePromQL("quantile(0.9, sum_over_time(click[1d]))"),
        WinStartSec, WinEndSec, 86400L))),

    // % — exact truncated remainder on the micro-unit integers
    // (the `timestamp % 86400`-style bucketing idiom)
    "promql_mod" -> ((s, dir) =>
      promqlStr(PromQL.eval(qsamples(s, dir),
        parsePromQL("sum by (user) (sum_over_time(click[1d])) % 3"),
        WinStartSec, WinEndSec, 86400L))),

    // ^ with a literal integer exponent: the rounded-multiply chain
    "promql_pow" -> ((s, dir) =>
      promqlStr(PromQL.eval(qsamples(s, dir),
        parsePromQL("sum by (user) (sum_over_time(click[1d])) ^ 2"),
        WinStartSec, WinEndSec, 86400L))),

    // cross-series population stddev per user group and step
    "promql_stddev_agg" -> ((s, dir) =>
      promqlStr(PromQL.eval(qsamples(s, dir),
        parsePromQL("stddev by (user) (sum_over_time(click[1d]))"),
        WinStartSec, WinEndSec, 86400L))),

    // mad_over_time: interpolated median absolute deviation per
    // window, exact integer arithmetic end-to-end
    "promql_mad" -> ((s, dir) =>
      promqlStr(PromQL.eval(qsamples(s, dir),
        parsePromQL("mad_over_time(click[1d])"),
        WinStartSec, WinEndSec, 86400L))),

    // grouped ranking: top-2 series per k-label group per step
    "promql_topk_by" -> ((s, dir) =>
      promqlStr(PromQL.eval(qsamples(s, dir),
        parsePromQL("topk by (k) (2, sum_over_time(click[1d]))"),
        WinStartSec, WinEndSec, 86400L))),

    // limitk: deterministic k-series cap (identity order, not value
    // order — the "show me a few" dashboard idiom)
    "promql_limitk" -> ((s, dir) =>
      promqlStr(PromQL.eval(qsamples(s, dir),
        parsePromQL("limitk(5, sum_over_time(click[1d]))"),
        WinStartSec, WinEndSec, 86400L))),

    // limit_ratio: deterministic hash-banded series sample
    "promql_limit_ratio" -> ((s, dir) =>
      promqlStr(PromQL.eval(qsamples(s, dir),
        parsePromQL("limit_ratio(0.5, sum_over_time(click[1d]))"),
        WinStartSec, WinEndSec, 86400L))),

    // unary minus (0 - expr desugar) through the real parser
    "promql_neg" -> ((s, dir) =>
      promqlStr(PromQL.eval(qsamples(s, dir),
        parsePromQL("-sum by (user) (sum_over_time(click[1d]))"),
        WinStartSec, WinEndSec, 86400L))),

    // without: drop the k label, merging each user's series
    "promql_without" -> ((s, dir) =>
      promqlStr(PromQL.eval(qsamples(s, dir),
        parsePromQL("avg without (k) (sum_over_time(click[1d]))"),
        WinStartSec, WinEndSec, 86400L))),

    // recording rule: evaluate a per-user daily-sum rule over the
    // store, append under a new metric name, read the recorded series
    // back RAW — proving it landed as first-class samples
    "rule_record" -> ((s, dir) => {
      val path = workDir("rulerecord", dir)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      SamplesStore.write(samples(s, dir), path)
      graft.serve.Recording.record(s, path,
        graft.serve.Recording.Rule("click:daily:by_user",
          "sum by (user) (sum_over_time(click[1d]))", 86400L),
        WinStartSec, WinEndSec)
      SamplesStore.read(s, path)
        .filter(col("metric") === "click:daily:by_user")
        .select(col("metric"), array_join(col("labels"), ",").as("labels_str"),
          expr("ts_us DIV 1000000").as("t"),
          expr("CAST(floor(value * 1000000 + 0.5) AS BIGINT)").as("v_e6"))
    }),

    // alert rule: per-user daily click-sums over 30 go pending, and
    // firing once the breach holds for 2 consecutive days
    "rule_alert" -> ((s, dir) =>
      graft.serve.Alerting.alerts(samples(s, dir),
        graft.serve.Alerting.AlertRule("click_hot",
          "sum by (user) (sum_over_time(click[1d])) > 30",
          forSec = 172800L, stepSec = 86400L),
        WinStartSec, WinEndSec)
        .select(col("metric"), array_join(col("labels"), ",").as("labels_str"),
          col("t"), col("v_e6"))),

    // timestamp(): the true staleness age — seconds since each
    // series' latest sample, on a 6h grid with a 1d lookback
    "promql_timestamp" -> ((s, dir) =>
      promqlStr(PromQL.eval(qsamples(s, dir),
        parsePromQL("time() - timestamp(click)"),
        WinStartSec, WinEndSec, 21600L, lookbackSec = 86400L))),

    // holt_winters: per-window double exponential smoothing (the
    // trend-aware level estimate), sequential left fold
    "promql_holt" -> ((s, dir) =>
      promqlStr(PromQL.eval(qsamples(s, dir),
        parsePromQL("holt_winters(click[7d], 0.5, 0.5)"),
        WinStartSec, WinEndSec, 86400L))),

    // label_join: a composite id label from k and user, per series
    "promql_label_join" -> ((s, dir) =>
      promqlStr(PromQL.eval(qsamples(s, dir),
        parsePromQL("""label_join(sum_over_time(click[1d]), "id", "-", "k", "user")"""),
        WinStartSec, WinEndSec, 86400L))),

    // calendar read of the evaluation timestamp on the grid
    "promql_calendar" -> ((s, dir) =>
      promqlStr(PromQL.eval(qsamples(s, dir),
        parsePromQL("day_of_week() + month() * 100"),
        WinStartSec, WinEndSec, 86400L))),

    // sqrt over an aggregation (IEEE correctly-rounded → portable)
    "promql_sqrt" -> ((s, dir) =>
      promqlStr(PromQL.eval(qsamples(s, dir),
        parsePromQL("sqrt(sum by (user) (sum_over_time(click[1d])))"),
        WinStartSec, WinEndSec, 86400L))),

    // the three log variants summed — all derive from ONE
    // digit-extraction fixed-point log2 (exactly-specified IEEE ops
    // only, so Spark and DuckDB produce identical bits; the oracle
    // replicates the fold verbatim)
    "promql_log" -> ((s, dir) =>
      promqlStr(PromQL.eval(qsamples(s, dir),
        parsePromQL("ln(sum by (user) (sum_over_time(click[1d])))" +
          " + log2(sum by (user) (sum_over_time(click[1d])))" +
          " + log10(sum by (user) (sum_over_time(click[1d])))"),
        WinStartSec, WinEndSec, 86400L))),

    // cube root via exp(ln(x)/3) — composes both transcendental
    // directions plus scalar division through the integer model
    "promql_exp" -> ((s, dir) =>
      promqlStr(PromQL.eval(qsamples(s, dir),
        parsePromQL("exp(ln(sum by (user) (sum_over_time(click[1d]))) / 3)"),
        WinStartSec, WinEndSec, 86400L))),

    // fractional ^ — exp(2.5·ln x) composed from the SAME digit
    // folds ln/exp ship (never libm pow); the oracle replicates the
    // composition fold for fold
    "promql_pow_frac" -> ((s, dir) =>
      promqlStr(PromQL.eval(qsamples(s, dir),
        parsePromQL("sum by (user) (sum_over_time(click[1d])) ^ 2.5"),
        WinStartSec, WinEndSec, 86400L))),

    // sort_desc: values/labels pass through untouched (the ordering
    // is presentation-layer, exercised in PromQLSpec/ServeSpec —
    // the oracle checks the value contract)
    "promql_sort" -> ((s, dir) =>
      promqlStr(PromQL.eval(qsamples(s, dir),
        parsePromQL("sort_desc(sum by (user) (sum_over_time(click[1d])))"),
        WinStartSec, WinEndSec, 86400L))),

    // sort_by_label: same pass-through value contract as sort (the
    // label ordering itself is spec-asserted)
    "promql_sort_by_label" -> ((s, dir) =>
      promqlStr(PromQL.eval(qsamples(s, dir),
        parsePromQL("sort_by_label(sum by (user) (sum_over_time(click[1d]))," +
          " \"user\")"),
        WinStartSec, WinEndSec, 86400L))),

    // CORDIC trigonometry — sin/cos/tan from 40 rotation steps of
    // exactly-specified IEEE ops; the oracle replicates the fold
    // (tan's pole/overflow drop mirrored in its WHERE)
    "promql_trig" -> ((s, dir) =>
      promqlStr(PromQL.eval(qsamples(s, dir),
        parsePromQL("sin(sum by (user) (sum_over_time(click[1d])))" +
          " + cos(sum by (user) (sum_over_time(click[1d])))" +
          " + tan(sum by (user) (sum_over_time(click[1d])))"),
        WinStartSec, WinEndSec, 86400L))),

    // the inverse family round-trips: asin∘sin, acos∘cos, deg∘rad
    "promql_trig_inverse" -> ((s, dir) =>
      promqlStr(PromQL.eval(qsamples(s, dir),
        parsePromQL("asin(sin(sum by (user) (sum_over_time(click[1d]))))" +
          " + acos(cos(sum by (user) (sum_over_time(click[1d]))))" +
          " + deg(rad(sum by (user) (sum_over_time(click[1d]))))"),
        WinStartSec, WinEndSec, 86400L))),

    // the atan2 KEYWORD OPERATOR (full-label vector matching):
    // click vs view per-user daily sums — quadrant-correct CORDIC
    "promql_atan2" -> ((s, dir) =>
      promqlStr(PromQL.eval(qsamples(s, dir),
        parsePromQL("sum by (user) (sum_over_time(click[1d]))" +
          " atan2 sum by (user) (sum_over_time(view[1d]))"),
        WinStartSec, WinEndSec, 86400L))),

    // hyperbolics composed from the exp/ln folds — arguments routed
    // through atan/clamp so every term's domain is total
    "promql_hyp" -> ((s, dir) =>
      promqlStr(PromQL.eval(qsamples(s, dir),
        parsePromQL("sinh(atan(sum by (user) (sum_over_time(click[1d]))))" +
          " + tanh(sum by (user) (sum_over_time(click[1d])) / 20)" +
          " + asinh(sum by (user) (sum_over_time(click[1d])))" +
          " + acosh(clamp_min(sum by (user) (sum_over_time(click[1d])), 1))"),
        WinStartSec, WinEndSec, 86400L))),

    // @: each user's daily sum minus their day-1 baseline — the
    // pinned evaluation replicated across the grid through binary
    // arithmetic
    "promql_at_baseline" -> ((s, dir) =>
      promqlStr(PromQL.eval(qsamples(s, dir),
        parsePromQL("sum by (user) (sum_over_time(click[1d]))" +
          s" - sum by (user) (sum_over_time(click[1d] @ ${WinStartSec + 86400}))"),
        WinStartSec, WinEndSec, 86400L))),

    // count_values: how many series share each exact daily sum, the
    // value's decimal text as a label
    "promql_count_values" -> ((s, dir) =>
      promqlStr(PromQL.eval(qsamples(s, dir),
        parsePromQL("""count_values("s", sum_over_time(click[1d]))"""),
        WinStartSec, WinEndSec, 86400L))),

    // scalar(): each user's share of the day's total clicks — the
    // scalar side joins on the step alone, labels ignored
    "promql_scalar_share" -> ((s, dir) =>
      promqlStr(PromQL.eval(qsamples(s, dir),
        parsePromQL("sum by (user) (sum_over_time(click[1d]))" +
          " / scalar(sum(sum_over_time(click[1d])))"),
        WinStartSec, WinEndSec, 86400L))),

    // time() in arithmetic: the per-step timestamp minus each
    // series' last value in the window
    "promql_time_arith" -> ((s, dir) =>
      promqlStr(PromQL.eval(qsamples(s, dir),
        parsePromQL("time() - last_over_time(click[1d])"),
        WinStartSec, WinEndSec, 86400L))),

    // label_replace: derive a tier label from the user id's first
    // digit, per row over an aggregation
    "promql_label_replace" -> ((s, dir) =>
      promqlStr(PromQL.eval(qsamples(s, dir),
        parsePromQL("""label_replace(sum by (user) (sum_over_time(click[1d])),""" +
          """ "tier", "t$1", "user", "([0-9]).*")"""),
        WinStartSec, WinEndSec, 86400L))),

    // many-to-one matching: each (k, user) series' share of its
    // user's daily click total — on(user) pairs the k-split sums
    // with the per-user totals, group_left keeps the k label
    "promql_group_left" -> ((s, dir) =>
      promqlStr(PromQL.eval(qsamples(s, dir),
        parsePromQL("sum by (k, user) (sum_over_time(click[1d]))" +
          " / on(user) group_left sum by (user) (sum_over_time(click[1d]))"),
        WinStartSec, WinEndSec, 86400L))),

    // subquery: each user's max DAILY click-sum over the trailing
    // 7 days — the inner aggregation evaluated on the absolute 1d
    // grid, then max'd per outer window
    "promql_subquery" -> ((s, dir) =>
      promqlStr(PromQL.eval(qsamples(s, dir),
        parsePromQL(
          "max_over_time(sum by (user) (sum_over_time(click[1d]))[7d:1d])"),
        WinStartSec, WinEndSec, 86400L))),

    // rate over a subquery: the inner vector's first/last µ-integer
    // points, the Grafana `rate(recorded_expr[1h:5m])` idiom
    "promql_subquery_rate" -> ((s, dir) =>
      promqlStr(PromQL.eval(qsamples(s, dir),
        parsePromQL(
          "rate(sum by (user) (sum_over_time(click[1d]))[7d:1d])"),
        WinStartSec, WinEndSec, 86400L))),

    // histogram_quantile over data-driven cumulative le buckets: each
    // click sample expands to 0/1 observations per bucket (the
    // _bucket counter-series ingest shape), sum_over_time accumulates
    // each window's cumulative histogram, and the estimator
    // interpolates rank φ·total per (k, user) group
    "promql_histogram" -> ((s, dir) => {
      val clicks = qsamples(s, dir).filter(col("metric") === "click")
      // one scan + le-explode builds the identical cumulative-bucket
      // rows the old 4-way self-union produced from 4 scans: per
      // (sample, le) one click_bucket row valued by the <=le
      // indicator (1.0 for +Inf)
      val parts = clicks
        .select(col("ts_us"), col("labels"), col("value"),
          explode(array(lit("2"), lit("5"), lit("10"), lit("+Inf"))).as("le"))
        .select(col("ts_us"), lit("click_bucket").as("metric"),
          array_sort(concat(col("labels"),
            array(concat(lit("le="), col("le"))))).as("labels"),
          when(col("le") === "+Inf", 1.0)
            .when(col("value") <= col("le").cast("double"), 1.0)
            .otherwise(0.0).as("value"))
      promqlStr(PromQL.eval(parts,
        parsePromQL("histogram_quantile(0.9, sum_over_time(click_bucket[1d]))"),
        WinStartSec, WinEndSec, 86400L))
    }),

    // the INVERSE direction over the same buckets: estimated fraction
    // of observations in (3, 8] — both bounds interpolate inside a
    // bucket ((2,5] and (5,10]), exercising the linear model end to
    // end
    "promql_hist_fraction" -> ((s, dir) => {
      val clicks = qsamples(s, dir).filter(col("metric") === "click")
      // same one-scan le-explode as promql_histogram (identical rows
      // to the old 4-way self-union)
      val parts = clicks
        .select(col("ts_us"), col("labels"), col("value"),
          explode(array(lit("2"), lit("5"), lit("10"), lit("+Inf"))).as("le"))
        .select(col("ts_us"), lit("click_bucket").as("metric"),
          array_sort(concat(col("labels"),
            array(concat(lit("le="), col("le"))))).as("labels"),
          when(col("le") === "+Inf", 1.0)
            .when(col("value") <= col("le").cast("double"), 1.0)
            .otherwise(0.0).as("value"))
      promqlStr(PromQL.eval(parts,
        parsePromQL("histogram_fraction(3, 8, sum_over_time(click_bucket[1d]))"),
        WinStartSec, WinEndSec, 86400L))
    }),

    // the native-histogram accessors against the converted classic
    // series: histogram_avg desugars to _sum / _count (full-label
    // division, CSE-shared _count subtree with the histogram_count
    // term), histogram_count to the _count selector
    "promql_hist_count_sum" -> ((s, dir) => {
      val clicks = qsamples(s, dir).filter(col("metric") === "click")
      // one scan + role-explode builds the identical _sum/_count pair
      // the old 2-way self-union produced from 2 scans
      val parts = clicks
        .select(col("ts_us"), col("labels"), col("value"),
          explode(array(lit("lat_sum"), lit("lat_count"))).as("m"))
        .select(col("ts_us"), col("m").as("metric"), col("labels"),
          when(col("m") === "lat_count", 1.0)
            .otherwise(col("value")).as("value"))
      promqlStr(PromQL.eval(parts,
        parsePromQL("histogram_avg(sum_over_time(lat[1d]))" +
          " + histogram_count(sum_over_time(lat[1d]))"),
        WinStartSec, WinEndSec, 86400L))
    }),

    // histogram_stdvar over a full classic triplet (_bucket/_sum/
    // _count built from the same click events): geometric-midpoint
    // estimator, le-sorted fold, +Inf collapsed to the top bound
    "promql_hist_stdvar" -> ((s, dir) => {
      val clicks = qsamples(s, dir).filter(col("metric") === "click")
      // the full classic triplet from ONE scan: a 6-way role explode
      // (4 cumulative les + _sum + _count) replaces the 6-way
      // self-union — identical rows by construction
      val parts = clicks
        .select(col("ts_us"), col("labels"), col("value"),
          explode(array(lit("2"), lit("5"), lit("10"), lit("+Inf"),
            lit("_sum"), lit("_count"))).as("role"))
        .select(col("ts_us"),
          when(col("role") === "_sum", "lat_sum")
            .when(col("role") === "_count", "lat_count")
            .otherwise("lat_bucket").as("metric"),
          when(col("role").isin("_sum", "_count"), col("labels"))
            .otherwise(array_sort(concat(col("labels"),
              array(concat(lit("le="), col("role")))))).as("labels"),
          when(col("role") === "_sum", col("value"))
            .when(col("role").isin("_count", "+Inf"), lit(1.0))
            .when(col("value") <= col("role").cast("double"), 1.0)
            .otherwise(0.0).as("value"))
      promqlStr(PromQL.eval(parts,
        parsePromQL("histogram_stdvar(sum_over_time(lat[1d]))"),
        WinStartSec, WinEndSec, 86400L))
    }),
  )

  /** PromQL evaluator output → oracle-safe scalar columns. */
  private def promqlStr(df: DataFrame): DataFrame =
    df.select(col("metric"), array_join(col("labels"), ",").as("labels_str"),
      col("t"), col("v_e6"))

  private def parsePromQL(q: String): PromQL.Expr =
    PromQL.parse(q).fold(e => sys.error(s"promql must parse: $e"), identity)

  // ---- DuckDB oracles ----------------------------------------------

  private val S = Tables.samplesCte
  private val WinStartSec = WinStartMs / 1000
  private val WinEndSec   = WinEndMs / 1000

  /** SELECT of the reference read SQL shape over a WHERE clause. */
  private def readAgg(where: String, interval: Long = 1L): String =
    s"""$S
       |SELECT metric, array_to_string(labels, ',') AS labels_str,
       |       ts_us // 1000000 // $interval * $interval AS t_sec,
       |       max(value) AS max_value
       |FROM samples
       |WHERE $where
       |GROUP BY 1, 2, 3""".stripMargin

  private val inWin =
    s"ts_us // 1000000 >= $WinStartSec AND ts_us // 1000000 <= $WinEndSec"

  private val dedupCte =
    s"""$S, deduped AS (
       |  SELECT metric, labels, ts_us // 1000000 AS t_sec, max(value) AS value
       |  FROM samples GROUP BY 1, 2, 3
       |)""".stripMargin

  /** The [[samplesWithTargetInfo]] corpus + dedup, DuckDB-side. */
  private val infoDedupCte =
    """WITH samples AS (
      |  SELECT epoch_us(ts) AS ts_us, event_type AS metric,
      |         list_sort(['instance=u' || user_id, 'job=events']) AS labels,
      |         value
      |  FROM events
      |  UNION ALL
      |  SELECT epoch_us(ts) AS ts_us, 'target_info' AS metric,
      |         list_sort(['instance=u' || user_id, 'job=events',
      |                    'dc=dc' || (user_id % 3),
      |                    'os=' || CASE WHEN user_id % 2 = 0
      |                             THEN 'linux' ELSE 'darwin' END]) AS labels,
      |         1.0 AS value
      |  FROM events
      |), deduped AS (
      |  SELECT metric, labels, ts_us // 1000000 AS t_sec, max(value) AS value
      |  FROM samples GROUP BY 1, 2, 3
      |)""".stripMargin

  /** info() oracle body: instant-eval both metrics on the 6h grid,
    * then left-join v to target_info's data labels on the identity
    * projection. `tiWhere`/`dataLike` carry the data-label-selector
    * variant (series filter + adopted-key restriction). */
  private def infoOracle(tiWhere: String, dataLike: String): String =
    s"""$infoDedupCte, grid AS (SELECT unnest(range(0, 61)) AS k),
       |inst AS (
       |  SELECT s.metric, s.labels, $WinStartSec + g.k * 21600 AS t,
       |         arg_max(s.value, s.t_sec) AS v
       |  FROM deduped s JOIN grid g
       |    ON s.t_sec <= $WinStartSec + g.k * 21600
       |   AND s.t_sec >  $WinStartSec + g.k * 21600 - 86400
       |  WHERE s.t_sec >= ${WinStartSec - 86400 + 1} AND s.t_sec <= $WinEndSec
       |  GROUP BY 1, 2, 3
       |), v AS (SELECT * FROM inst WHERE metric = 'click'),
       |ti AS (
       |  SELECT list_filter(labels, l -> l LIKE 'instance=%' OR l LIKE 'job=%') AS ik,
       |         t,
       |         max(list_filter(labels, l ->
       |           NOT (l LIKE 'instance=%' OR l LIKE 'job=%')
       |           AND ($dataLike))) AS data
       |  FROM inst WHERE metric = 'target_info'$tiWhere
       |  GROUP BY 1, 2
       |)
       |SELECT v.metric,
       |       array_to_string(list_sort(list_concat(v.labels,
       |         coalesce(ti.data, CAST([] AS VARCHAR[])))), ',') AS labels_str,
       |       v.t AS t,
       |       CAST(floor(v.v * 1000000 + 0.5) AS BIGINT) AS v_e6
       |FROM v LEFT JOIN ti
       |  ON ti.ik = list_filter(v.labels, l -> l LIKE 'instance=%' OR l LIKE 'job=%')
       | AND ti.t = v.t""".stripMargin

  /** DuckDB mirror of Tokenizer.trainBpe: the word-frequency table,
    * then `k` unrolled rounds of pair-count → deterministic argmax
    * (cnt DESC, l, r) → merge-by-replace on '<sym>' marker strings.
    * Defines CTEs v0..v`k` (the evolving vocab encodings) and
    * b0..b`k-1` (each round's chosen merge). */
  private def bpeCtes(k: Int): String = {
    val b = new StringBuilder
    b ++= """WITH w AS (
            |  SELECT word, count(*) AS freq FROM (
            |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
            |    FROM documents)
            |  GROUP BY 1
            |), v0 AS (
            |  SELECT word, freq,
            |         list_aggregate(list_transform(str_split_regex(word, ''),
            |           s -> '<' || s || '>'), 'string_agg', '') AS enc
            |  FROM w
            |)""".stripMargin
    for (i <- 0 until k) {
      b ++= s"""
               |, pc$i AS (
               |  SELECT s.syms[t.i] AS l, s.syms[t.i + 1] AS r,
               |         CAST(sum(s.freq) AS BIGINT) AS cnt
               |  FROM (SELECT freq,
               |          regexp_extract_all(enc, '<([a-z]+)>', 1) AS syms
               |        FROM v$i) s,
               |       UNNEST(range(1, len(s.syms))) AS t(i)
               |  GROUP BY 1, 2
               |), b$i AS (
               |  SELECT l, r, cnt FROM pc$i ORDER BY cnt DESC, l, r LIMIT 1
               |), v${i + 1} AS (
               |  SELECT v.word, v.freq,
               |         replace(v.enc, '<' || b.l || '><' || b.r || '>',
               |                 '<' || b.l || b.r || '>') AS enc
               |  FROM v$i v, b$i b
               |)""".stripMargin
    }
    b.result()
  }

  /** DuckDB mirror of CorpusPrep.prepare up to the `kept` CTE
    * (quality gate -> language gate -> exact-dedup keep ids). */
  private lazy val corpusPrepCte: String = {
    def score(words: Seq[String]) =
      s"len(list_filter(toks, t -> t IN (${words.map(w => s"'$w'").mkString(", ")})))"
    val Seq(en, es, de, fr) = TextAnalysis.StopWords.map(_._2)
    s"""WITH t AS (
       |  SELECT doc_id, text, string_split(text, ' ') AS toks,
       |         length(replace(text, ' ', '')) AS n_alpha
       |  FROM documents
       |), f AS (
       |  SELECT doc_id, text, len(toks) AS n_words, n_alpha,
       |         ${score(en)} AS score_en, ${score(es)} AS score_es,
       |         ${score(de)} AS score_de, ${score(fr)} AS score_fr
       |  FROM t
       |), g AS (
       |  SELECT doc_id, text,
       |    least(n_words::BIGINT * 5000, 500000) +
       |    least(score_en::BIGINT * 1500000 // n_words, 300000) +
       |    CASE WHEN n_alpha >= 3 * n_words AND n_alpha <= 8 * n_words
       |         THEN 200000 ELSE 0 END AS quality_score_e6,
       |    CASE
       |      WHEN score_en = 0 AND score_es = 0 AND score_de = 0 AND score_fr = 0 THEN 'und'
       |      WHEN score_en >= score_es AND score_en >= score_de AND score_en >= score_fr THEN 'en'
       |      WHEN score_es >= score_de AND score_es >= score_fr THEN 'es'
       |      WHEN score_de >= score_fr THEN 'de'
       |      ELSE 'fr'
       |    END AS pred_lang
       |  FROM f
       |), kept AS (
       |  SELECT doc_id, quality_score_e6, text,
       |         min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
       |  FROM g WHERE quality_score_e6 >= 500000 AND pred_lang = 'en'
       |)""".stripMargin
  }

  /** PromQL pair-function oracle prefix (irate/idelta/changes/resets):
    * per-series lag over the bounded scan, then each sample joined
    * onto the 1d-step grid windows [t-d, t) that hold it — the
    * PromQL.pairRange shape. */
  private def promqlPairCte(metric: String, d: Long): String =
    s"""$dedupCte, sel AS (
       |  SELECT * FROM deduped
       |  WHERE metric = '$metric'
       |    AND t_sec >= ${WinStartSec - d} AND t_sec <= ${WinEndSec - 1}
       |), lagged AS (
       |  SELECT metric, labels, t_sec, value,
       |         lag(t_sec) OVER w AS prev_t, lag(value) OVER w AS prev_v
       |  FROM sel WINDOW w AS (PARTITION BY metric, labels ORDER BY t_sec)
       |), grid AS (SELECT unnest(range(0, 16)) AS k),
       |j AS (
       |  SELECT l.*, $WinStartSec + g.k * 86400 AS t
       |  FROM lagged l JOIN grid g
       |    ON l.t_sec >= $WinStartSec + g.k * 86400 - $d
       |   AND l.t_sec <  $WinStartSec + g.k * 86400
       |)""".stripMargin

  /** PromQL regression oracle prefix (deriv/predict_linear): exact
    * integer least-squares partials per [t-d, t) window with
    * window-relative t' — the PromQL.regressionRange shape. */
  private def promqlRegCte(metric: String, d: Long): String =
    s"""$dedupCte, grid AS (SELECT unnest(range(0, 16)) AS k),
       |j AS (
       |  SELECT s.metric, s.labels, $WinStartSec + g.k * 86400 AS t,
       |         s.t_sec - ($WinStartSec + g.k * 86400 - $d) AS tp,
       |         CAST(floor(s.value * 100 + 0.5) AS BIGINT) AS v_e2
       |  FROM deduped s JOIN grid g
       |    ON s.t_sec >= $WinStartSec + g.k * 86400 - $d
       |   AND s.t_sec <  $WinStartSec + g.k * 86400
       |  WHERE s.metric = '$metric'
       |    AND s.t_sec >= ${WinStartSec - d} AND s.t_sec <= ${WinEndSec - 1}
       |), reg AS (
       |  SELECT metric, labels, t, count(*) AS n,
       |         CAST(sum(tp) AS BIGINT) AS s_t,
       |         CAST(sum(v_e2) AS BIGINT) AS s_v,
       |         CAST(sum(tp * tp) AS BIGINT) AS s_tt,
       |         CAST(sum(tp * v_e2) AS BIGINT) AS s_tv
       |  FROM j GROUP BY 1, 2, 3
       |), fin AS (
       |  SELECT *, n * s_tv - s_t * s_v AS numer,
       |         n * s_tt - s_t * s_t AS denom
       |  FROM reg WHERE n >= 2
       |)""".stripMargin

  /** PromQL per-series sum_over_time(metric[1d]) on the 1d grid →
    * (labels, t, v_e6) — the shared prefix of the aggregation-shaped
    * promql oracles. */
  private def promqlSotCte(metric: String): String =
    s"""$dedupCte, grid AS (SELECT unnest(range(0, 16)) AS k),
       |j AS (
       |  SELECT s.metric, s.labels, $WinStartSec + g.k * 86400 AS t, s.value
       |  FROM deduped s JOIN grid g
       |    ON s.t_sec >= $WinStartSec + g.k * 86400 - 86400
       |   AND s.t_sec <  $WinStartSec + g.k * 86400
       |  WHERE s.metric = '$metric'
       |    AND s.t_sec >= ${WinStartSec - 86400} AND s.t_sec <= ${WinEndSec - 1}
       |), sot AS (
       |  SELECT metric, labels, t,
       |         CAST(floor(sum(value) * 100 + 0.5) AS BIGINT) * 10000 AS v_e6
       |  FROM j GROUP BY 1, 2, 3
       |)""".stripMargin

  /** exp's exponent t = x · log2(e), DuckDB side. */
  private def duckExpT(vCol: String): String =
    s"CAST($vCol AS DOUBLE) / CAST(1000000 AS DOUBLE) * CAST(1.4426950408889634 AS DOUBLE)"

  /** One-row CTE holding the CORDIC tables (2^-i and atan 2^-i as
    * DOUBLE casts) — CROSS JOINed so the fold lambdas index them
    * once instead of inlining 40-element literals per branch. */
  private val duckCordicConsts: String = {
    def arr(vals: Seq[String]) =
      vals.map(v => s"CAST('$v' AS DOUBLE)").mkString("[", ", ", "]")
    s"consts AS (SELECT ${arr(graft.serve.PromQL.CordicPow2)} AS pw, " +
      s"${arr(graft.serve.PromQL.CordicAtan)} AS ar)"
  }

  private val duckHalfPi = "CAST('1.5707963267948966' AS DOUBLE)"
  private val duckD0 = "CAST(0 AS DOUBLE)"

  /** DuckDB twin of PromQL.cordicRotateSql — requires `pw`, `ar` in
    * scope (CROSS JOIN consts). State is a DOUBLE[3] LIST
    * [x, y, z], NOT a struct: DuckDB 1.0's list_reduce evaluates a
    * struct step's later fields against ALREADY-UPDATED earlier
    * fields in some consumption contexts (and against the old values
    * in others) — a mutual x↔y recurrence silently diverges. List
    * construction always sees the old state, so the fold is the
    * deterministic spec regardless of how the result is consumed.
    * (The log/exp folds keep struct state safely: their only
    * cross-field read, acc ← r, references a LATER field.)
    * Returns [x ≈ cos r, y ≈ sin r, z]; the dummy elements' first
    * slot carries the iteration index. */
  private def duckCordicRotate(rExpr: String): String =
    s"""list_reduce(
       |  list_prepend([CAST('${graft.serve.PromQL.CordicK}' AS DOUBLE), $duckD0, ($rExpr)],
       |    list_transform(range(0, 40), i -> [CAST(i AS DOUBLE), $duckD0, $duckD0])),
       |  (s, el) -> CASE WHEN s[3] >= $duckD0
       |    THEN [s[1] - s[2] * pw[CAST(el[1] AS INT) + 1],
       |          s[2] + s[1] * pw[CAST(el[1] AS INT) + 1],
       |          s[3] - ar[CAST(el[1] AS INT) + 1]]
       |    ELSE [s[1] + s[2] * pw[CAST(el[1] AS INT) + 1],
       |          s[2] - s[1] * pw[CAST(el[1] AS INT) + 1],
       |          s[3] + ar[CAST(el[1] AS INT) + 1]] END)""".stripMargin.replace("\n", " ")

  /** DuckDB twin of PromQL.cordicAtanSql (vectoring mode): the
    * result list's third slot ≈ atan(u). List state for the same
    * aliasing-safety reason as [[duckCordicRotate]]. */
  private def duckCordicAtan(uExpr: String): String =
    s"""list_reduce(
       |  list_prepend([CAST(1 AS DOUBLE), ($uExpr), $duckD0],
       |    list_transform(range(0, 40), i -> [CAST(i AS DOUBLE), $duckD0, $duckD0])),
       |  (s, el) -> CASE WHEN s[2] > $duckD0
       |    THEN [s[1] + s[2] * pw[CAST(el[1] AS INT) + 1],
       |          s[2] - s[1] * pw[CAST(el[1] AS INT) + 1],
       |          s[3] + ar[CAST(el[1] AS INT) + 1]]
       |    ELSE [s[1] - s[2] * pw[CAST(el[1] AS INT) + 1],
       |          s[2] + s[1] * pw[CAST(el[1] AS INT) + 1],
       |          s[3] - ar[CAST(el[1] AS INT) + 1]] END)[3]""".stripMargin.replace("\n", " ")

  private def duckMicro(e: String): String =
    s"CAST(floor(($e) * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"

  private def summarySql(where: String, interval: Long): String =
    s"""$S, sel AS (
       |  SELECT metric, labels,
       |         ts_us // 1000000 // $interval * $interval AS t_sec,
       |         max(value) AS max_value
       |  FROM samples WHERE $where GROUP BY 1, 2, 3
       |)
       |SELECT metric, array_to_string(labels, ',') AS labels_str,
       |       count(*) AS n_points,
       |       min(t_sec) AS first_t, max(t_sec) AS last_t,
       |       string_agg(t_sec || ':' || CAST(floor(max_value * 100 + 0.5) AS BIGINT), ';' ORDER BY t_sec) AS points_str
       |FROM sel GROUP BY 1, 2""".stripMargin

  // DuckDB mirrors of the portable-hash LLM pipelines (SURVEY §6):
  // all integer arithmetic, or left-fold double arithmetic, identical
  // to the Spark expressions.
  private val H = "1000000007"
  private def duckHash(s: String): String =
    s"(('0x' || substr(md5($s), 1, 15))::BIGINT % $H)"

  /** The dedup_url synthesis + RFC-3986 canonicalization, replayed
    * in DuckDB SQL — the regexes, the tracking-param scrub list, and
    * the byte-wise param sort are identical to Dedup.canonicalUrl. */
  private val urlCanonCte =
    """WITH synth AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.EXAMPLE'
      |         ELSE 'https://www.example' END ||
      |    CAST(doc_id % 50 AS VARCHAR) ||
      |    CASE WHEN doc_id % 2 = 0 THEN '.COM' ELSE '.com' END ||
      |    CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END ||
      |    '/Articles/' || CAST(doc_id % 20 AS VARCHAR) ||
      |    CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END ||
      |    CASE WHEN doc_id % 2 = 0 THEN '?b=2&utm_source=feed&a=1'
      |         ELSE '?a=1&b=2' END ||
      |    CASE WHEN doc_id % 5 = 0 THEN '&fbclid=xyz' ELSE '' END ||
      |    CASE WHEN doc_id % 7 = 0 THEN '#section-2' ELSE '' END AS url
      |  FROM documents
      |), parts AS (
      |  SELECT doc_id,
      |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
      |    regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
      |  FROM synth
      |), auths AS (
      |  SELECT doc_id, scheme,
      |    lower(regexp_extract(rest, '^([^/?#]*)', 1)) AS auth,
      |    regexp_replace(rest, '^[^/?#]*', '') AS pathq
      |  FROM parts
      |), pieces AS (
      |  SELECT doc_id, scheme,
      |    CASE WHEN scheme = 'http' THEN regexp_replace(auth, ':80$', '')
      |         WHEN scheme = 'https' THEN regexp_replace(auth, ':443$', '')
      |         ELSE auth END AS host,
      |    regexp_replace(regexp_extract(
      |      regexp_extract(pathq, '^([^#]*)', 1), '^([^?]*)', 1),
      |      '/+$', '') AS path,
      |    regexp_extract(regexp_extract(pathq, '^([^#]*)', 1),
      |      '\?(.*)', 1) AS query
      |  FROM auths
      |), canon AS (
      |  SELECT doc_id, host, scheme || '://' || host || path ||
      |    CASE WHEN kept = '' THEN '' ELSE '?' || kept END AS canonical_url
      |  FROM (
      |    SELECT *, array_to_string(list_sort(list_filter(
      |      string_split(query, '&'),
      |      p -> p <> '' AND NOT regexp_matches(p,
      |        '^(utm_[^=]*|fbclid|gclid|msclkid|mc_eid|igshid|ref|ref_src)(=|$)'))), '&') AS kept
      |    FROM pieces)
      |)""".stripMargin

  /** The text_quality_classifier oracle: the UNROLLED 3-step exact-
    * integer logistic training as CTEs — w0 = 0 everywhere, each
    * step scores snum (BIGINT, associative), snaps p to e6, sums
    * integer gradients (HUGEINT ≡ Spark's DECIMAL(38,0)), and
    * updates e9 weights by the truncating division both engines
    * share; generated by a loop so a `steps` change can't desync the
    * replay from Sampling.qualityClassifier. */
  private def qcOracle: String = {
    val base =
      s"""WITH w AS (
         |  SELECT doc_id, source,
         |         unnest(string_split(coalesce(text, ''), ' ')) AS w
         |  FROM documents
         |), wb AS (
         |  SELECT doc_id, source, ${duckHash("w")} % 64 AS b FROM w
         |), f0 AS (
         |  SELECT doc_id, source, b, count(*) AS c FROM wb GROUP BY 1, 2, 3
         |), nw AS (
         |  SELECT doc_id, sum(c)::BIGINT AS n_words FROM f0 GROUP BY 1
         |), feats AS (
         |  SELECT f0.doc_id, f0.source,
         |         CAST(CASE WHEN f0.source IN ('src0', 'src1')
         |              THEN 1 ELSE 0 END AS BIGINT) AS y,
         |         f0.b, f0.c * 1000000 // nw.n_words AS x_e6, nw.n_words
         |  FROM f0 JOIN nw USING (doc_id)
         |), nn AS (SELECT count(DISTINCT doc_id)::BIGINT AS n FROM feats),
         |w0 AS (SELECT range AS b, CAST(0 AS BIGINT) AS w_e9 FROM range(64)),
         |b0 AS (SELECT CAST(0 AS BIGINT) AS bias_e9)""".stripMargin
    def score(i: String, p: String) =
      s""", s$i AS (
         |  SELECT f.doc_id, f.y,
         |         (SELECT bias_e9 FROM b$p) * 1000000
         |           + sum(w.w_e9 * f.x_e6) AS snum
         |  FROM feats f JOIN w$p w USING (b) GROUP BY 1, 2
         |), p$i AS (
         |  SELECT doc_id, y,
         |         CAST(floor(1000000.0 / (1.0 + exp(
         |           -(CAST(snum AS DOUBLE) / 1e15))) + 0.5) AS BIGINT) AS p_e6
         |  FROM s$i
         |)""".stripMargin
    def step(i: Int): String = {
      val p = (i - 1).toString
      score(i.toString, p) +
        s""", r$i AS (
           |  SELECT doc_id, p_e6 - y * 1000000 AS r_e6 FROM p$i
           |), g$i AS (
           |  SELECT f.b, sum(CAST(r.r_e6 * f.x_e6 AS HUGEINT)) AS g
           |  FROM feats f JOIN r$i r USING (doc_id) GROUP BY 1
           |), w$i AS (
           |  SELECT w$p.b, w$p.w_e9 - CAST(coalesce(g$i.g, 0)
           |    // ((SELECT n FROM nn) * 1000) AS BIGINT) AS w_e9
           |  FROM w$p LEFT JOIN g$i USING (b)
           |), b$i AS (
           |  SELECT (SELECT bias_e9 FROM b$p)
           |    - CAST((SELECT sum(CAST(r_e6 AS HUGEINT)) * 1000000 FROM r$i)
           |      // ((SELECT n FROM nn) * 1000) AS BIGINT) AS bias_e9
           |)""".stripMargin
    }
    base + (1 to 3).map(step).mkString + score("f", "3") +
      s"""
         |SELECT d.doc_id, d.source, d.n_words, pf.p_e6 AS score_e6,
         |       CAST(CASE WHEN pf.p_e6 > 500000 THEN 1 ELSE 0 END AS BIGINT)
         |         AS predicted_target
         |FROM (SELECT DISTINCT doc_id, source, n_words FROM feats) d
         |JOIN pf USING (doc_id)""".stripMargin
  }

  /** docs → 3-gram shingle hashes → 128-perm MinHash sigs → 16 band
    * keys (8 rows/band; band_sig is the coefficient-weighted fold the
    * Spark side computes with aggregate()). */
  private val minhashCte =
    s"""WITH sh AS (
       |  SELECT doc_id,
       |         list_distinct([words[i] || ' ' || words[i+1] || ' ' || words[i+2]
       |                        for i in range(1, len(words)-1)]) AS shingles
       |  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
       |  WHERE len(words) >= 3
       |), hs AS (
       |  SELECT doc_id, list_transform(shingles, s -> ${duckHash("s")}) AS hs FROM sh
       |), sig AS (
       |  SELECT doc_id, hs,
       |         [list_min(list_transform(hs, h ->
       |            ((j*2654435761+1) % $H * h + (j*40503+7) % $H) % $H))
       |          for j in range(0, 128)] AS sig
       |  FROM hs
       |), banded AS (
       |  SELECT doc_id, hs, sig, t.b AS band,
       |         list_reduce(list_prepend(0::BIGINT,
       |           [sig[t.b*8+i+1] * (t.b*8+i+1) for i in range(0, 8)]),
       |           (acc, x) -> acc + x) % $H AS band_sig
       |  FROM sig, range(0, 16) t(b)
       |)""".stripMargin

  /** embeddings → double vecs + norms (left-fold) + LCG hyperplane
    * signature bits. */
  private def embCte(nBits: Int): String =
    s"""WITH prep AS (
       |  SELECT vec_id, label, vec,
       |         sqrt(list_reduce(list_prepend(0.0::DOUBLE, [vec[i]*vec[i] for i in range(1, 65)]),
       |                          (a, x) -> a + x)) AS nrm,
       |         list_reduce(list_prepend(0::BIGINT, [
       |           CASE WHEN list_reduce(list_prepend(0.0::DOUBLE, [
       |                  vec[i] * (((1103515245*(j*64+(i-1))+12345) % 2147483648)::DOUBLE / 2147483648 - 0.5)
       |                  for i in range(1, 65)]), (a, x) -> a + x) > 0
       |                THEN (1::BIGINT << j) ELSE 0::BIGINT END
       |           for j in range(0, $nBits)]), (a, x) -> a + x) AS sigbits
       |  FROM (SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS vec
       |        FROM embeddings)
       |)""".stripMargin

  private def duckDot(a: String, b: String): String = duckDotN(a, b, 64)

  /** The k-means oracle: 3 Lloyd rounds unrolled as CTE chains —
    * assignment (argmax cosine over the broadcast-shaped cross), the
    * exact integer per-dimension half-up mean, empty clusters keep
    * their previous centroid. Norms precompute per CTE so every
    * cosine is ONE standalone fold (the proven cluster_assign shape,
    * never fold-in-fold). */
  private def kmeansOracle(k: Int, iters: Int): String = {
    def cosExpr = s"${duckDot("c.cv", "p.v")} / (c.cnrm * p.nrm)"
    val sb = new StringBuilder
    sb ++= s"""WITH pts AS (
       |  SELECT vec_id,
       |         list_transform(embedding,
       |           x -> CAST(floor(x::DOUBLE * 1000000 + 0.5) AS BIGINT)) AS v
       |  FROM embeddings
       |), ptsn AS (
       |  SELECT vec_id, v, sqrt(${duckDot("v", "v")}) AS nrm FROM pts
       |), c0 AS (
       |  SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm
       |  FROM ptsn WHERE vec_id < $k
       |)""".stripMargin
    for (i <- 1 to iters) {
      sb ++= s""", a$i AS (
         |  SELECT vec_id, cent_id, v FROM (
         |    SELECT p.vec_id, c.cent_id, p.v,
         |           row_number() OVER (PARTITION BY p.vec_id
         |             ORDER BY $cosExpr DESC, c.cent_id ASC) AS rk
         |    FROM ptsn p, c${i - 1} c) t
         |  WHERE rk = 1
         |), m$i AS (
         |  SELECT cent_id, d,
         |         CAST(FLOOR((2.0 * SUM(x) + COUNT(*)) /
         |                    (2.0 * COUNT(*))) AS BIGINT) AS m
         |  FROM (SELECT cent_id, r.i AS d, v[r.i + 1] AS x
         |        FROM a$i CROSS JOIN (SELECT unnest(range(64)) AS i) r) u
         |  GROUP BY 1, 2
         |), cn$i AS (
         |  SELECT p.cent_id, coalesce(nx.cv, p.cv) AS cv
         |  FROM c${i - 1} p LEFT JOIN (
         |    SELECT cent_id, list(m ORDER BY d) AS cv FROM m$i GROUP BY 1) nx
         |  ON p.cent_id = nx.cent_id
         |), c$i AS (
         |  SELECT cent_id, cv, sqrt(${duckDot("cv", "cv")}) AS cnrm FROM cn$i
         |)""".stripMargin
    }
    sb ++= s"""
       |SELECT vec_id, cent_id,
       |       CAST(floor(cc * 1000000 + 0.5) AS BIGINT) AS cos_sim_e6
       |FROM (
       |  SELECT p.vec_id, c.cent_id, $cosExpr AS cc,
       |         row_number() OVER (PARTITION BY p.vec_id
       |           ORDER BY $cosExpr DESC, c.cent_id ASC) AS rk
       |  FROM ptsn p, c$iters c) t
       |WHERE rk = 1""".stripMargin
    sb.toString
  }

  /** Trained-IVF oracle: the kmeans CTE chain trained on the
    * CANDIDATE set (vec_id ≥ nQ; init = its k lowest ids), then the
    * inverted lists, per-query probes, and the ranked exact cosine
    * inside the probed lists — every vector e6-snapped like the
    * Spark operator. */
  private def ivfTrainedOracle(nQ: Int, k: Int, iters: Int,
                               nProbe: Int, topK: Int): String = {
    def cosExpr = s"${duckDot("c.cv", "p.v")} / (c.cnrm * p.nrm)"
    val sb = new StringBuilder
    sb ++= s"""WITH pts AS (
       |  SELECT vec_id,
       |         list_transform(embedding,
       |           x -> CAST(floor(x::DOUBLE * 1000000 + 0.5) AS BIGINT)) AS v
       |  FROM embeddings
       |), ptsn AS (
       |  SELECT vec_id, v, sqrt(${duckDot("v", "v")}) AS nrm FROM pts
       |), cand AS (
       |  SELECT * FROM ptsn WHERE vec_id >= $nQ
       |), c0 AS (
       |  SELECT cent_id, cv, sqrt(${duckDot("cv", "cv")}) AS cnrm FROM (
       |    SELECT vec_id AS cent_id, v AS cv
       |    FROM cand ORDER BY vec_id LIMIT $k)
       |)""".stripMargin
    for (i <- 1 to iters) {
      sb ++= s""", a$i AS (
         |  SELECT vec_id, cent_id, v FROM (
         |    SELECT p.vec_id, c.cent_id, p.v,
         |           row_number() OVER (PARTITION BY p.vec_id
         |             ORDER BY $cosExpr DESC, c.cent_id ASC) AS rk
         |    FROM cand p, c${i - 1} c) t
         |  WHERE rk = 1
         |), m$i AS (
         |  SELECT cent_id, d,
         |         CAST(FLOOR((2.0 * SUM(x) + COUNT(*)) /
         |                    (2.0 * COUNT(*))) AS BIGINT) AS m
         |  FROM (SELECT cent_id, r.i AS d, v[r.i + 1] AS x
         |        FROM a$i CROSS JOIN (SELECT unnest(range(64)) AS i) r) u
         |  GROUP BY 1, 2
         |), cn$i AS (
         |  SELECT p.cent_id, coalesce(nx.cv, p.cv) AS cv
         |  FROM c${i - 1} p LEFT JOIN (
         |    SELECT cent_id, list(m ORDER BY d) AS cv FROM m$i GROUP BY 1) nx
         |  ON p.cent_id = nx.cent_id
         |), c$i AS (
         |  SELECT cent_id, cv, sqrt(${duckDot("cv", "cv")}) AS cnrm FROM cn$i
         |)""".stripMargin
    }
    sb ++= s""", lists AS (
       |  SELECT cent_id, vec_id, v, nrm FROM (
       |    SELECT c.cent_id, p.vec_id, p.v, p.nrm,
       |           row_number() OVER (PARTITION BY p.vec_id
       |             ORDER BY $cosExpr DESC, c.cent_id ASC) AS rk
       |    FROM cand p, c$iters c) t
       |  WHERE rk = 1
       |), probes AS (
       |  SELECT query_id, qv, qnrm, cent_id FROM (
       |    SELECT p.vec_id AS query_id, p.v AS qv, p.nrm AS qnrm, c.cent_id,
       |           row_number() OVER (PARTITION BY p.vec_id
       |             ORDER BY $cosExpr DESC, c.cent_id ASC) AS prank
       |    FROM ptsn p, c$iters c WHERE p.vec_id < $nQ) t
       |  WHERE prank <= $nProbe
       |), scored AS (
       |  SELECT p.query_id, a.vec_id,
       |         CAST(floor(${duckDot("p.qv", "a.v")} / (p.qnrm * a.nrm)
       |           * 1000000 + 0.5) AS BIGINT) AS cos_sim_e6
       |  FROM probes p JOIN lists a USING (cent_id)
       |)
       |SELECT query_id, vec_id, cos_sim_e6, rank FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cos_sim_e6 DESC, vec_id ASC) AS rank
       |  FROM scored)
       |WHERE rank <= $topK""".stripMargin
    sb.toString
  }

  /** SemDeDup oracle: the [[kmeansOracle]] CTE chain re-emitted up
    * to the final assignment, then the cluster-local pairwise
    * ε-ball drop (floor-snapped integer cosine, lowest-id keeps). */
  private def semdedupOracle(k: Int, iters: Int, tauE6: Long): String = {
    val km = kmeansOracle(k, iters)
    // the kmeans oracle ends in its final SELECT; wrap it as a CTE
    val (ctes, finalSel) = {
      val idx = km.lastIndexOf("SELECT vec_id, cent_id,")
      (km.take(idx), km.drop(idx))
    }
    s"""${ctes.trim}, asg AS (
       |  $finalSel
       |), mem AS (
       |  SELECT a.vec_id, a.cent_id, p.v, p.nrm
       |  FROM asg a JOIN ptsn p ON a.vec_id = p.vec_id
       |), dropped AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM mem a JOIN mem b
       |    ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
       |  WHERE CAST(floor(${duckDot("a.v", "b.v")} / (a.nrm * b.nrm)
       |               * 1000000 + 0.5) AS BIGINT) >= $tauE6
       |)
       |SELECT m.vec_id, m.cent_id,
       |       CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS kept
       |FROM mem m LEFT JOIN dropped d ON m.vec_id = d.vec_id""".stripMargin
  }

  /** n-dim sequential-fold dot — the [[duckDot]] body with the lane
    * count free (PQ segment dots are 8-dim). Standalone fold consumed
    * as a plain column: the SAFE list_reduce shape (SURVEY §6 / the
    * round-15 fold-composition hazard notes). */
  private def duckDotN(a: String, b: String, n: Int): String =
    s"list_reduce(list_prepend(0.0::DOUBLE, [$a[i] * $b[i] for i in range(1, ${n + 1})]), (acc, x) -> acc + x)"

  private val sampleMs =
    s"""$S
       |SELECT ts_us // 1000 AS ts_ms, metric,
       |       array_to_string(labels, ',') AS labels_str, value
       |FROM samples""".stripMargin

  /** Brute-force exact cosine top-k replayed in SQL — shared by its
    * own oracle row and the recall eval's `exact` leg. */
  private lazy val annBruteforceSql: String =
    s"""${embCte(1)}, scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
       |         CAST(floor(${duckDot("q.vec", "c.vec")} / (q.nrm * c.nrm) * 1000000 + 0.5) AS BIGINT) AS cos_sim_e6
       |  FROM prep q JOIN prep c ON q.vec_id < 10 AND c.vec_id >= 10
       |), ranked AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cos_sim_e6 DESC, vec_id ASC) AS rank
       |  FROM scored
       |)
       |SELECT query_id, vec_id, cos_sim_e6, rank FROM ranked WHERE rank <= 10""".stripMargin

  /** IVF-PQ search replayed in SQL — shared by its own oracle row
    * and the recall eval's `approx` leg. */
  private lazy val annIvfpqSql: String =
    s"""WITH prepn AS (
         |  SELECT vec_id, vec, sqrt(${duckDot("vec", "vec")}) AS nrm
         |  FROM (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vec
         |        FROM embeddings)
         |), segs AS (
         |  SELECT vec_id, CAST(u.j AS INT) AS seg,
         |         vec[(u.j * 8 + 1):(u.j * 8 + 8)] AS sv
         |  FROM prepn, LATERAL (SELECT unnest(range(0, 8)) AS j) u
         |), cb AS (
         |  SELECT CAST(vec_id - 26 AS INT) AS c, seg, sv AS cw,
         |         ${duckDotN("sv", "sv", 8)} AS cw2
         |  FROM segs WHERE vec_id >= 26 AND vec_id < 42
         |), enc AS (
         |  SELECT vec_id, seg, c, cw2 FROM (
         |    SELECT s.vec_id, s.seg, b.c, b.cw2,
         |           row_number() OVER (PARTITION BY s.vec_id, s.seg
         |             ORDER BY ${duckDotN("s.sv", "s.sv", 8)}
         |                      - 2 * ${duckDotN("s.sv", "b.cw", 8)} + b.cw2 ASC,
         |                      b.c ASC) AS rk
         |    FROM segs s JOIN cb b USING (seg) WHERE s.vec_id >= 10)
         |  WHERE rk = 1
         |), recn AS (
         |  SELECT vec_id, sqrt(list_reduce(list_prepend(0.0::DOUBLE,
         |           list(cw2 ORDER BY seg)), (a, x) -> a + x)) AS rnrm
         |  FROM enc GROUP BY vec_id
         |), cents AS (
         |  SELECT vec_id AS cent_id, vec AS cvec, nrm AS cnrm
         |  FROM prepn WHERE vec_id >= 10 AND vec_id < 26
         |), assign AS (
         |  SELECT cent_id, vec_id FROM (
         |    SELECT c.cent_id, v.vec_id,
         |           row_number() OVER (PARTITION BY v.vec_id
         |             ORDER BY ${duckDot("c.cvec", "v.vec")} / (c.cnrm * v.nrm) DESC,
         |                      c.cent_id ASC) AS arank
         |    FROM prepn v, cents c WHERE v.vec_id >= 10)
         |  WHERE arank = 1
         |), probes AS (
         |  SELECT query_id, qnrm, cent_id FROM (
         |    SELECT q.vec_id AS query_id, q.nrm AS qnrm, c.cent_id,
         |           row_number() OVER (PARTITION BY q.vec_id
         |             ORDER BY ${duckDot("c.cvec", "q.vec")} / (c.cnrm * q.nrm) DESC,
         |                      c.cent_id ASC) AS prank
         |    FROM prepn q, cents c WHERE q.vec_id < 10)
         |  WHERE prank <= 4
         |), lut AS (
         |  SELECT s.vec_id AS query_id, s.seg, b.c,
         |         ${duckDotN("s.sv", "b.cw", 8)} AS qdot
         |  FROM segs s JOIN cb b USING (seg) WHERE s.vec_id < 10
         |), scored AS (
         |  SELECT p.query_id, e.vec_id, p.qnrm,
         |         list_reduce(list_prepend(0.0::DOUBLE,
         |           list(l.qdot ORDER BY e.seg)), (a, x) -> a + x) AS adc
         |  FROM probes p JOIN assign a USING (cent_id)
         |       JOIN enc e ON e.vec_id = a.vec_id
         |       JOIN lut l ON l.query_id = p.query_id
         |                 AND l.seg = e.seg AND l.c = e.c
         |  GROUP BY p.query_id, e.vec_id, p.qnrm
         |), ranked AS (
         |  SELECT s.query_id, s.vec_id,
         |         CAST(floor(s.adc / (s.qnrm * r.rnrm) * 1000000 + 0.5) AS BIGINT)
         |           AS adc_e6
         |  FROM scored s JOIN recn r USING (vec_id)
         |)
         |SELECT query_id, vec_id, adc_e6, rank FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY adc_e6 DESC, vec_id ASC) AS rank
         |  FROM ranked)
         |WHERE rank <= 10""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "ingest_remote_write" -> sampleMs,

    "ingest_label_normalize" -> sampleMs,

    "ingest_samples_sink" ->
      s"""$S
         |SELECT metric, ts_us // 1000000 // 86400 * 86400 AS date,
         |       count(*) AS n_samples, round(sum(value), 6) AS sum_value
         |FROM samples GROUP BY 1, 2""".stripMargin,

    // the rollup answers the dedup'd per-second GROUP BY, bucketed
    "store_rollup" ->
      s"""$dedupCte
         |SELECT metric, array_to_string(labels, ',') AS labels_str,
         |       t_sec // 3600 * 3600 AS bucket,
         |       round(min(value), 6) AS min_value,
         |       round(max(value), 6) AS max_value,
         |       CAST(floor(sum(value) * 100 + 0.5) AS BIGINT) AS sum_e2,
         |       count(*) AS n_points
         |FROM deduped GROUP BY 1, 2, 3""".stripMargin,

    // incremental maintenance must equal a full recompute
    "store_rollup_incremental" ->
      s"""$dedupCte
         |SELECT metric, array_to_string(labels, ',') AS labels_str,
         |       t_sec // 3600 * 3600 AS bucket,
         |       CAST(floor(sum(value) * 100 + 0.5) AS BIGINT) AS sum_e2,
         |       count(*) AS n_points
         |FROM deduped GROUP BY 1, 2, 3""".stripMargin,

    // the LADDER rollup (hour FROM 15-minute) equals a direct
    // recompute of every v6 field from the raw samples — edges,
    // penultimate point, exact integer moments, argmax timestamps
    "store_rollup_ladder" ->
      s"""$dedupCte, bucketed AS (
         |  SELECT metric, array_to_string(labels, ',') AS labels_str,
         |         t_sec, value, t_sec // 3600 * 3600 AS bucket
         |  FROM deduped
         |), mx AS (
         |  SELECT metric, labels_str, bucket,
         |         max(value) AS vmax, min(value) AS vmin
         |  FROM bucketed GROUP BY 1, 2, 3
         |), ranked AS (
         |  SELECT b.*, row_number() OVER (
         |    PARTITION BY metric, labels_str, bucket
         |    ORDER BY t_sec DESC) AS rk
         |  FROM bucketed b
         |)
         |SELECT r.metric, r.labels_str, r.bucket,
         |       round(min(r.value), 6) AS min_value,
         |       round(max(r.value), 6) AS max_value,
         |       CAST(floor(sum(r.value) * 100 + 0.5) AS BIGINT) AS sum_e2,
         |       count(*) AS n_points,
         |       min(r.t_sec) AS t_first, max(r.t_sec) AS t_last,
         |       round(arg_min(r.value, r.t_sec), 6) AS v_first,
         |       round(arg_max(r.value, r.t_sec), 6) AS v_last,
         |       max(CASE WHEN r.rk = 2 THEN r.t_sec END) AS t_penult,
         |       round(max(CASE WHEN r.rk = 2 THEN r.value END), 6) AS v_penult,
         |       CAST(SUM(CAST(floor(r.value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sy_e2,
         |       CAST(SUM(CAST(floor(r.value * 100 + 0.5) AS BIGINT) *
         |                CAST(floor(r.value * 100 + 0.5) AS BIGINT)) AS VARCHAR) AS syy_s,
         |       max(CASE WHEN r.value = m.vmax THEN r.t_sec END) AS t_vmax,
         |       max(CASE WHEN r.value = m.vmin THEN r.t_sec END) AS t_vmin
         |FROM ranked r
         |JOIN mx m ON r.metric = m.metric AND r.labels_str = m.labels_str
         |         AND r.bucket = m.bucket
         |GROUP BY 1, 2, 3""".stripMargin,

    // a coarse aligned window served from the LADDER equals the raw
    // dedup + bucketed max
    "store_rollup_serve_ladder" ->
      s"""$dedupCte
         |SELECT metric, array_to_string(labels, ',') AS labels_str,
         |       t_sec // 7200 * 7200 AS t_sec,
         |       round(max(value), 6) AS max_value
         |FROM deduped
         |WHERE metric = 'click'
         |  AND t_sec >= $WinStartSec AND t_sec <= ${WinEndSec - 1}
         |GROUP BY 1, 2, 3""".stripMargin,

    // the rollup-SERVED read equals the raw dedup + bucketed max
    "store_rollup_serve" ->
      s"""$dedupCte
         |SELECT metric, array_to_string(labels, ',') AS labels_str,
         |       t_sec // 3600 * 3600 AS t_sec,
         |       round(max(value), 6) AS max_value
         |FROM deduped
         |WHERE metric = 'click'
         |  AND t_sec >= $WinStartSec AND t_sec <= ${WinEndSec - 1}
         |GROUP BY 1, 2, 3""".stripMargin,

    // the split route (rollup interior + raw partial edges) equals
    // the raw dedup + bucketed max over the unaligned window
    "store_rollup_serve_unaligned" ->
      s"""$dedupCte
         |SELECT metric, array_to_string(labels, ',') AS labels_str,
         |       t_sec // 3600 * 3600 AS t_sec,
         |       round(max(value), 6) AS max_value
         |FROM deduped
         |WHERE metric = 'click'
         |  AND t_sec >= ${WinStartSec + 900} AND t_sec <= ${WinEndSec - 901}
         |GROUP BY 1, 2, 3""".stripMargin,

    // the rollup-served tiling sum_over_time equals the raw sum per
    // window [t-7200, t) — samples at t_sec land in the window ending
    // at the NEXT 7200 boundary (grid origin is 7200-aligned)
    "store_rollup_serve_sum" ->
      s"""$dedupCte
         |SELECT CAST(NULL AS VARCHAR) AS metric, array_to_string(labels, ',') AS labels_str,
         |       t_sec // 7200 * 7200 + 7200 AS t,
         |       CAST(floor(sum(value) * 100 + 0.5) AS BIGINT) * 10000 AS v_e6
         |FROM deduped
         |WHERE metric = 'click'
         |  AND t_sec >= $WinStartSec AND t_sec < $WinEndSec
         |GROUP BY 1, 2, 3""".stripMargin,

    // the ladder-ROUTED eval answers the same raw recompute
    "store_rollup_serve_ladder_route" ->
      s"""$dedupCte
         |SELECT CAST(NULL AS VARCHAR) AS metric, array_to_string(labels, ',') AS labels_str,
         |       t_sec // 7200 * 7200 + 7200 AS t,
         |       CAST(floor(sum(value) * 100 + 0.5) AS BIGINT) * 10000 AS v_e6
         |FROM deduped
         |WHERE metric = 'click'
         |  AND t_sec >= $WinStartSec AND t_sec < $WinEndSec
         |GROUP BY 1, 2, 3""".stripMargin,

    // raw integer-moment stdvar per 2h tile — the rollup v4 moments
    // must re-aggregate to the identical exact sums
    "store_rollup_serve_stdvar" ->
      s"""$dedupCte, st AS (
         |  SELECT metric, labels, t_sec // 7200 * 7200 + 7200 AS t,
         |         count(*) AS n,
         |         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
         |              AS BIGINT) AS sy_e2,
         |         sum(CAST(floor(value * 100 + 0.5) AS BIGINT) *
         |             CAST(floor(value * 100 + 0.5) AS BIGINT)) AS syy_e4
         |  FROM deduped
         |  WHERE metric = 'click'
         |    AND t_sec >= $WinStartSec AND t_sec < $WinEndSec
         |  GROUP BY 1, 2, 3
         |)
         |SELECT CAST(NULL AS VARCHAR) AS metric, array_to_string(labels, ',') AS labels_str, t,
         |       CAST(floor(greatest(
         |         CAST(syy_e4 AS DOUBLE) / (CAST(n AS DOUBLE) * 10000.0) -
         |         (CAST(sy_e2 AS DOUBLE) / (CAST(n AS DOUBLE) * 100.0)) *
         |         (CAST(sy_e2 AS DOUBLE) / (CAST(n AS DOUBLE) * 100.0)), 0.0)
         |         * 1000000 + 0.5) AS BIGINT) AS v_e6
         |FROM st""".stripMargin,

    // raw whole-window delta — the rollup edge points must reproduce
    // the first/last samples exactly across all 15 days of buckets
    "store_rollup_serve_rate" ->
      s"""$dedupCte, st AS (
         |  SELECT metric, labels, count(*) AS n,
         |         arg_min(value, t_sec) AS vf, arg_max(value, t_sec) AS vl
         |  FROM deduped
         |  WHERE metric = 'click'
         |    AND t_sec >= $WinStartSec AND t_sec < $WinEndSec
         |  GROUP BY 1, 2
         |)
         |SELECT CAST(NULL AS VARCHAR) AS metric, array_to_string(labels, ',') AS labels_str,
         |       CAST($WinEndSec AS BIGINT) AS t,
         |       CAST(floor((vl - vf) * 100 + 0.5) AS BIGINT) * 10000 AS v_e6
         |FROM st WHERE n >= 2""".stripMargin,

    // raw last-two-samples irate — the rollup v3 penultimate points
    // must reassemble the exact final pair of the 15-day window
    "store_rollup_serve_irate" ->
      s"""$dedupCte, rk AS (
         |  SELECT metric, labels, t_sec, value,
         |         row_number() OVER (PARTITION BY metric, labels
         |                            ORDER BY t_sec DESC) AS rn
         |  FROM deduped
         |  WHERE metric = 'click'
         |    AND t_sec >= $WinStartSec AND t_sec < $WinEndSec
         |), pair AS (
         |  SELECT metric, labels,
         |         max(CASE WHEN rn = 1 THEN t_sec END) AS lt,
         |         max(CASE WHEN rn = 1 THEN value END) AS lv,
         |         max(CASE WHEN rn = 2 THEN t_sec END) AS pt,
         |         max(CASE WHEN rn = 2 THEN value END) AS pv
         |  FROM rk WHERE rn <= 2 GROUP BY 1, 2
         |)
         |SELECT CAST(NULL AS VARCHAR) AS metric, array_to_string(labels, ',') AS labels_str,
         |       CAST($WinEndSec AS BIGINT) AS t,
         |       CAST(floor((CASE WHEN lv >= pv THEN lv - pv ELSE lv END)
         |            / CAST(lt - pt AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS v_e6
         |FROM pair WHERE pt IS NOT NULL""".stripMargin,

    // selective compaction must be result-invariant too
    "store_compact_days" ->
      s"""$S
         |SELECT metric, ts_us // 1000000 // 86400 * 86400 AS date,
         |       count(*) AS n_samples, round(sum(value), 6) AS sum_value
         |FROM samples GROUP BY 1, 2""".stripMargin,

    // the pinned generation holds exactly the pre-append half of the
    // corpus, regardless of the append+compaction that followed
    "store_time_travel" ->
      s"""$S
         |SELECT metric, count(*) AS n_samples, round(sum(value), 6) AS sum_value
         |FROM samples WHERE ts_us % 2 = 0 GROUP BY 1""".stripMargin,

    // compaction must be result-invariant: same oracle as the sink
    "store_compact" ->
      s"""$S
         |SELECT metric, ts_us // 1000000 // 86400 * 86400 AS date,
         |       count(*) AS n_samples, round(sum(value), 6) AS sum_value
         |FROM samples GROUP BY 1, 2""".stripMargin,

    // streamed store ingestion lands the same day/metric footprint
    "ingest_streaming_store" ->
      s"""$S
         |SELECT metric, ts_us // 1000000 // 86400 * 86400 AS date,
         |       count(*) AS n_samples, round(sum(value), 6) AS sum_value
         |FROM samples GROUP BY 1, 2""".stripMargin,

    // rollup rows re-aggregate to the per-second-deduped raw truth
    "ingest_streaming_rollup" ->
      s"""$dedupCte
         |SELECT metric,
         |       CAST(count(DISTINCT t_sec // 3600) AS BIGINT) AS n_buckets,
         |       CAST(count(*) AS BIGINT) AS n_samples,
         |       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         |         AS sum_e2
         |FROM deduped GROUP BY 1""".stripMargin,

    // dedup of the doubled replay == one copy of events
    "ingest_streaming_dedup" ->
      """SELECT event_type AS metric, count(*) AS n_samples,
        |       round(sum(value), 6) AS sum_value
        |FROM events GROUP BY 1""".stripMargin,

    "ingest_bulk_tsv" ->
      s"""$S
         |SELECT metric, array_to_string(labels, ',') AS labels_str,
         |       count(*) AS n_samples, round(sum(value), 6) AS sum_value,
         |       min(ts_us // 1000000) AS first_t, max(ts_us // 1000000) AS last_t
         |FROM samples GROUP BY 1, 2""".stripMargin,

    // the exposition round-trip must reproduce the same aggregate
    // (ms truncation never moves a second boundary)
    "ingest_exposition" ->
      s"""$S
         |SELECT metric, array_to_string(labels, ',') AS labels_str,
         |       count(*) AS n_samples, round(sum(value), 6) AS sum_value,
         |       min(ts_us // 1000000) AS first_t, max(ts_us // 1000000) AS last_t
         |FROM samples GROUP BY 1, 2""".stripMargin,

    "ingest_streaming" ->
      s"""$S
         |SELECT metric, count(*) AS n_samples, round(sum(value), 6) AS sum_value
         |FROM samples GROUP BY 1""".stripMargin,

    "ingest_delete_range" ->
      s"""$S
         |SELECT metric, count(*) AS n_samples, round(sum(value), 6) AS sum_value
         |FROM samples
         |WHERE ts_us < 1704888000000000 OR ts_us >= 1705212000000000
         |GROUP BY 1""".stripMargin,

    "read_response_encode" ->
      s"""$S
         |SELECT metric, array_to_string(labels, ',') AS labels_str,
         |       ts_us // 1000000 * 1000 AS t_ms, max(value) AS max_value
         |FROM samples
         |WHERE $inWin AND metric = 'view'
         |GROUP BY 1, 2, 3""".stripMargin,

    "read_request_e2e" -> readAgg(s"$inWin AND metric = 'signup'"),

    // gorilla chunks round-trip raw float bits: the chunked path
    // answers the very same rows as the SAMPLES path
    "read_chunked_e2e" -> readAgg(s"$inWin AND metric = 'signup'"),

    "write_request_e2e" ->
      s"""$S
         |SELECT metric, ts_us // 1000000 // 86400 * 86400 AS date,
         |       count(*) AS n_samples, round(sum(value), 6) AS sum_value
         |FROM samples GROUP BY 1, 2""".stripMargin,

    // OTLP round-trip is lossless: identical store
    "ingest_otlp" ->
      s"""$S
         |SELECT metric, ts_us // 1000000 // 86400 * 86400 AS date,
         |       count(*) AS n_samples, round(sum(value), 6) AS sum_value
         |FROM samples GROUP BY 1, 2""".stripMargin,

    // scope promotion: every data metric carries exactly the
    // name/version pair (min = max pins uniformity); the scope's
    // attribute lands ONE otel_scope_info row with the normalized
    // otel_scope_sdk_lang label
    "ingest_otlp_scope" ->
      s"""$S
         |SELECT metric, count(*) AS n_samples,
         |       round(sum(value), 6) AS sum_value,
         |       'otel_scope_name=otelsdk,otel_scope_version=1.9' AS scope_lo,
         |       'otel_scope_name=otelsdk,otel_scope_version=1.9' AS scope_hi
         |FROM samples GROUP BY 1
         |UNION ALL
         |SELECT 'otel_scope_info' AS metric, 1 AS n_samples,
         |       1.0 AS sum_value,
         |       'otel_scope_name=otelsdk,otel_scope_sdk_lang=go,otel_scope_version=1.9' AS scope_lo,
         |       'otel_scope_name=otelsdk,otel_scope_sdk_lang=go,otel_scope_version=1.9' AS scope_hi""".stripMargin,

    // delta→cumulative under the flag: per-series running sums over
    // the day-ordered deltas (exact — integer counts in doubles)
    "ingest_otlp_delta" ->
      s"""$S, agg AS (
         |  SELECT metric, ts_us // 1000000 // 86400 * 86400 AS day,
         |         count(*) AS n
         |  FROM samples GROUP BY 1, 2
         |)
         |SELECT metric || '_delta_total' AS metric,
         |       'env=prod,job=svc' AS labels_str, day AS t_sec,
         |       round(CAST(sum(n) OVER (
         |         PARTITION BY metric ORDER BY day) AS DOUBLE), 6) AS value
         |FROM agg""".stripMargin,

    // the histogram delta leg: element-wise running bucket sums in
    // day order become cumulative le levels; _sum/_count accumulate
    // alongside (exact — integer counts, .5-exact sums)
    "ingest_otlp_delta_hist" ->
      s"""$S, agg AS (
         |  SELECT metric, ts_us // 1000000 // 86400 * 86400 AS day,
         |         count(*) AS n
         |  FROM samples GROUP BY 1, 2
         |), cum AS (
         |  SELECT metric, day,
         |         sum(n % 3) OVER w AS c1,
         |         sum(n % 3 + n % 5) OVER w AS c5,
         |         sum(n % 3 + n % 5 + n % 7) OVER w AS cn,
         |         sum(n / 2.0) OVER w AS cs
         |  FROM agg
         |  WINDOW w AS (PARTITION BY metric ORDER BY day
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |)
         |SELECT metric || '_delta_hist_bucket' AS metric,
         |       'env=prod,job=svc,le=1' AS labels_str, day AS t_sec,
         |       round(CAST(c1 AS DOUBLE), 6) AS value FROM cum
         |UNION ALL
         |SELECT metric || '_delta_hist_bucket', 'env=prod,job=svc,le=5',
         |       day, round(CAST(c5 AS DOUBLE), 6) FROM cum
         |UNION ALL
         |SELECT metric || '_delta_hist_bucket', 'env=prod,job=svc,le=+Inf',
         |       day, round(CAST(cn AS DOUBLE), 6) FROM cum
         |UNION ALL
         |SELECT metric || '_delta_hist_count', 'env=prod,job=svc',
         |       day, round(CAST(cn AS DOUBLE), 6) FROM cum
         |UNION ALL
         |SELECT metric || '_delta_hist_sum', 'env=prod,job=svc',
         |       day, round(CAST(cs AS DOUBLE), 6) FROM cum""".stripMargin,

    // suffixing: escaping + unit + type suffixes compose on the
    // sender's dotted name; values are the exact per-(metric, day)
    // counts (cumulative levels pass through unchanged)
    "ingest_otlp_suffixes" ->
      s"""$S, agg AS (
         |  SELECT metric, ts_us // 1000000 // 86400 * 86400 AS day,
         |         count(*) AS n
         |  FROM samples GROUP BY 1, 2
         |)
         |SELECT metric || '_duration_seconds_total' AS metric,
         |       'env=prod,job=svc' AS labels_str,
         |       day AS t_sec, round(CAST(n AS DOUBLE), 6) AS value
         |FROM agg""".stripMargin,

    // summary→classic: quantile-labeled rows + _sum/_count, job from
    // the resource's service.name, values derived from the exact
    // per-(metric, day) counts both engines compute identically
    "ingest_otlp_summary" ->
      s"""$S, agg AS (
         |  SELECT metric, ts_us // 1000000 // 86400 * 86400 AS day,
         |         count(*) AS n
         |  FROM samples GROUP BY 1, 2
         |)
         |SELECT metric || '_latency' AS metric,
         |       'job=svc,quantile=0.5' AS labels_str,
         |       day AS t_sec, round(n * 0.5, 6) AS value FROM agg
         |UNION ALL
         |SELECT metric || '_latency', 'job=svc,quantile=0.9', day,
         |       round(n * 0.9, 6) FROM agg
         |UNION ALL
         |SELECT metric || '_latency', 'job=svc,quantile=0.99', day,
         |       round(n * 0.99, 6) FROM agg
         |UNION ALL
         |SELECT metric || '_latency_sum', 'job=svc', day,
         |       round(n * 1.5, 6) FROM agg
         |UNION ALL
         |SELECT metric || '_latency_count', 'job=svc', day,
         |       CAST(n AS DOUBLE) FROM agg""".stripMargin,

    // native→classic: replicate the fixture's bucket arithmetic and
    // the conversion's row shapes (le labels sort into the label
    // array; zero-count buckets emit no row; +Inf = the count field)
    "write_request_hist_e2e" ->
      s"""$S, agg AS (
         |  SELECT metric, ts_us // 1000000 // 86400 * 86400 AS day,
         |         count(*) AS n
         |  FROM samples GROUP BY 1, 2
         |), b AS (
         |  SELECT metric, day, n, n % 7 AS a, n % 5 + 1 AS b2, n % 3 AS c
         |  FROM agg
         |)
         |SELECT metric || '_bucket' AS metric, 'le=1,src=hist' AS labels_str,
         |       day AS t_sec, CAST(a AS DOUBLE) AS value
         |FROM b WHERE a > 0
         |UNION ALL
         |SELECT metric || '_bucket', 'le=2,src=hist', day,
         |       CAST(a + b2 AS DOUBLE)
         |FROM b WHERE b2 > 0
         |UNION ALL
         |SELECT metric || '_bucket', 'le=4,src=hist', day,
         |       CAST(a + b2 + c AS DOUBLE)
         |FROM b WHERE c > 0
         |UNION ALL
         |SELECT metric || '_bucket', 'le=+Inf,src=hist', day,
         |       CAST(a + b2 + c AS DOUBLE)
         |FROM b
         |UNION ALL
         |SELECT metric || '_sum', 'src=hist', day, CAST(n AS DOUBLE) / 2
         |FROM b
         |UNION ALL
         |SELECT metric || '_count', 'src=hist', day,
         |       CAST(a + b2 + c AS DOUBLE)
         |FROM b""".stripMargin,

    // v2's symbol-table interning must be lossless: identical store
    "write_request_v2_e2e" ->
      s"""$S
         |SELECT metric, ts_us // 1000000 // 86400 * 86400 AS date,
         |       count(*) AS n_samples, round(sum(value), 6) AS sum_value
         |FROM samples GROUP BY 1, 2""".stripMargin,

    // metadata store contents derive deterministically from each
    // metric name (the fixture's rule) stamped with the metric's
    // newest sample (ms-truncated on the wire, second-floored here)
    "write_request_metadata" ->
      s"""$S
         |SELECT metric,
         |       '__help=Help for ' || metric || '.,__type=' ||
         |       CASE WHEN length(metric) % 2 = 0
         |            THEN 'counter' ELSE 'gauge' END ||
         |       ',__unit=seconds' AS md,
         |       max(ts_us // 1000000) AS last_t
         |FROM samples GROUP BY 1, 2""".stripMargin,

    // exemplar store contents derive deterministically from each
    // (metric, day)'s sample count (the fixture's rule); the read
    // filters with the endpoint's anchored selector semantics
    "read_exemplars" ->
      s"""$S, agg AS (
         |  SELECT metric, ts_us // 1000000 // 86400 * 86400 AS day,
         |         count(*) AS n
         |  FROM samples GROUP BY 1, 2
         |)
         |SELECT metric, 'src=ex' AS series_str,
         |       'trace_id=t' || CAST(n % 100 AS VARCHAR) AS ex_str,
         |       day + n % 60 AS t_sec,
         |       CAST(n AS DOUBLE) * 0.25 AS value
         |FROM agg
         |WHERE regexp_matches(metric, '^(?:click|view|purchase)$$')""".stripMargin,

    // the native estimators replayed in SQL: same populated-bucket
    // walk, same log2/exp2 interpolation with the estimator's own
    // operation order (logs as ln(x)/ln(2), the Java computation) —
    // the e6 snap absorbs cross-libm ulps
    "read_native_quantile" ->
      s"""$S, agg AS (
         |  SELECT ts_us // 1000000 // 86400 * 86400 AS day, count(*) AS n
         |  FROM samples WHERE metric = 'click' GROUP BY 1
         |), b AS (
         |  SELECT day, CAST(n % 7 AS DOUBLE) AS a,
         |         CAST(n % 5 + 1 AS DOUBLE) AS b2, CAST(n % 3 AS DOUBLE) AS c
         |  FROM agg
         |), r AS (
         |  SELECT day, a, b2, c, 0.7 * (a + b2 + c) AS rk FROM b
         |)
         |SELECT 'src=hist' AS labels_str, day AS t_sec,
         |       CAST(floor(CASE
         |         WHEN a > 0 AND a >= rk
         |           THEN pow(2, (ln(0.5)/ln(2)) + ((ln(1)/ln(2)) - (ln(0.5)/ln(2))) * (rk / a))
         |         WHEN a + b2 >= rk
         |           THEN pow(2, (ln(1)/ln(2)) + ((ln(2)/ln(2)) - (ln(1)/ln(2))) * ((rk - a) / b2))
         |         ELSE pow(2, (ln(2)/ln(2)) + ((ln(4)/ln(2)) - (ln(2)/ln(2))) * ((rk - (a + b2)) / c))
         |       END * 1000000 + 0.5) AS BIGINT) AS q_e6
         |FROM r""".stripMargin,

    // the composed-estimator walk: per-bucket rate = inc * (1/86400)
    // (multiply by the reciprocal — the engine's own operation
    // order), summed across the shard rotation, then the same
    // exponential-interpolation CASE as read_native_quantile. A
    // window needs BOTH days (first/last pair), so t ranges over
    // days whose predecessor exists.
    "read_native_quantile_rate" ->
      s"""$S, agg AS (
         |  SELECT ts_us // 1000000 // 86400 * 86400 AS day, count(*) AS n
         |  FROM samples WHERE metric = 'click' GROUP BY 1
         |), inc AS (
         |  SELECT day, CAST(n % 7 AS DOUBLE) AS a,
         |         CAST(n % 5 + 1 AS DOUBLE) AS b, CAST(n % 3 AS DOUBLE) AS c
         |  FROM agg
         |), w AS (
         |  SELECT cur.day + 86400 AS t,
         |         cur.a * (1.0 / 86400.0) + cur.b * (1.0 / 86400.0) AS u,
         |         cur.b * (1.0 / 86400.0) + cur.c * (1.0 / 86400.0) AS v,
         |         cur.c * (1.0 / 86400.0) + cur.a * (1.0 / 86400.0) AS w2,
         |         0.7 * ((cur.a + cur.b + cur.c) * (1.0 / 86400.0) +
         |                (cur.a + cur.b + cur.c) * (1.0 / 86400.0)) AS rk
         |  FROM inc cur JOIN inc prev ON prev.day = cur.day - 86400
         |)
         |SELECT 'src=hist' AS labels_str, t AS t_sec,
         |       CAST(floor(CASE
         |         WHEN u > 0 AND u >= rk
         |           THEN pow(2, (ln(0.5)/ln(2)) + ((ln(1)/ln(2)) - (ln(0.5)/ln(2))) * (rk / u))
         |         WHEN u + v >= rk
         |           THEN pow(2, (ln(1)/ln(2)) + ((ln(2)/ln(2)) - (ln(1)/ln(2))) * ((rk - u) / v))
         |         ELSE pow(2, (ln(2)/ln(2)) + ((ln(4)/ln(2)) - (ln(2)/ln(2))) * ((rk - (u + v)) / w2))
         |       END * 1000000 + 0.5) AS BIGINT) AS q_e6
         |FROM w""".stripMargin,

    // the JSON surface's bucket geometry: populated (lower, upper,
    // count) triples per (series, day) from the fixture's (a, b, c)
    // bucket derivation — bounds are the schema-0 powers of two
    "read_native_json" ->
      s"""$S, agg AS (
         |  SELECT ts_us // 1000000 // 86400 * 86400 AS day, count(*) AS n
         |  FROM samples WHERE metric = 'click' GROUP BY 1
         |), b AS (
         |  SELECT day, n % 7 AS a, n % 5 + 1 AS b2, n % 3 AS c FROM agg
         |)
         |SELECT 'src=hist' AS labels_str, day AS t_sec,
         |       CAST(500000 AS BIGINT) AS lo_e6,
         |       CAST(1000000 AS BIGINT) AS hi_e6,
         |       a * 1000000 AS cnt_e6
         |FROM b WHERE a > 0
         |UNION ALL
         |SELECT 'src=hist', day, 1000000, 2000000, b2 * 1000000
         |FROM b WHERE b2 > 0
         |UNION ALL
         |SELECT 'src=hist', day, 2000000, 4000000, c * 1000000
         |FROM b WHERE c > 0""".stripMargin,

    // sum() over instant native vectors: the shards' CUMULATIVE
    // buckets add bucket-wise per step (exact integer doubles), then
    // the same walk; sum() drops all labels
    "read_native_sum_quantile" ->
      s"""$S, agg AS (
         |  SELECT ts_us // 1000000 // 86400 * 86400 AS day, count(*) AS n
         |  FROM samples WHERE metric = 'click' GROUP BY 1
         |), cum AS (
         |  SELECT day,
         |         CAST(sum(n % 7) OVER o AS DOUBLE) AS ca,
         |         CAST(sum(n % 5 + 1) OVER o AS DOUBLE) AS cb,
         |         CAST(sum(n % 3) OVER o AS DOUBLE) AS cc
         |  FROM agg WINDOW o AS (ORDER BY day ROWS UNBOUNDED PRECEDING)
         |), w AS (
         |  SELECT day AS t, ca + cb AS u, cb + cc AS v, cc + ca AS w2,
         |         0.7 * ((ca + cb + cc) + (cb + cc + ca)) AS rk
         |  FROM cum
         |)
         |SELECT '' AS labels_str, t AS t_sec,
         |       CAST(floor(CASE
         |         WHEN u > 0 AND u >= rk
         |           THEN pow(2, (ln(0.5)/ln(2)) + ((ln(1)/ln(2)) - (ln(0.5)/ln(2))) * (rk / u))
         |         WHEN u + v >= rk
         |           THEN pow(2, (ln(1)/ln(2)) + ((ln(2)/ln(2)) - (ln(1)/ln(2))) * ((rk - u) / v))
         |         ELSE pow(2, (ln(2)/ln(2)) + ((ln(4)/ln(2)) - (ln(2)/ln(2))) * ((rk - (u + v)) / w2))
         |       END * 1000000 + 0.5) AS BIGINT) AS q_e6
         |FROM w""".stripMargin,

    "read_native_fraction" ->
      s"""$S, agg AS (
         |  SELECT ts_us // 1000000 // 86400 * 86400 AS day, count(*) AS n
         |  FROM samples WHERE metric = 'click' GROUP BY 1
         |), b AS (
         |  SELECT day, CAST(n % 7 AS DOUBLE) AS a,
         |         CAST(n % 5 + 1 AS DOUBLE) AS b2, CAST(n % 3 AS DOUBLE) AS c
         |  FROM agg
         |)
         |SELECT 'src=hist' AS labels_str, day AS t_sec,
         |       CAST(floor((((a + b2 + c * (((ln(3)/ln(2)) - (ln(2)/ln(2)))
         |         / ((ln(4)/ln(2)) - (ln(2)/ln(2))))) - a)
         |         / CAST(a + b2 + c AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
         |         AS f_e6
         |FROM b""".stripMargin,

    "read_time_range" -> readAgg(inWin),

    "read_name_eq" -> readAgg(s"$inWin AND metric = 'purchase' AND metric != 'error'"),

    // same rows whether served from the view or the store layout
    "read_store_pruned" -> readAgg(s"$inWin AND metric = 'click'"),

    "read_name_regex" -> readAgg(
      s"$inWin AND regexp_matches(metric, '^p[a-z]+chase|view$$') AND NOT regexp_matches(metric, '^vi.w$$')"),

    "read_label_eq" -> readAgg(
      s"$inWin AND list_contains(labels, 'user=3') AND NOT list_contains(labels, 'k=7')"),

    "read_label_regex" -> readAgg(
      s"$inWin AND len(list_filter(labels, x -> regexp_matches(x, '^user=1[0-2]$$'))) > 0" +
      s" AND NOT len(list_filter(labels, x -> regexp_matches(x, '^k=4.*$$'))) > 0"),

    "read_ignore_label" -> readAgg(s"$inWin AND list_contains(labels, 'user=5')"),

    "read_downsample_hint" -> readAgg(s"$inWin AND metric = 'click'", interval = 60L),

    "read_series_agg" -> readAgg("ts_us // 1000000 >= 0"),

    "read_series_assembly" -> summarySql(s"$inWin AND metric = 'signup'", 1L),

    "read_full_pipeline" -> summarySql(
      s"$inWin AND regexp_matches(metric, '^p[a-z]+chase|click$$') AND list_contains(labels, 'user=7')",
      300L),

    "ts_rate_per_second" ->
      s"""$dedupCte, diffed AS (
         |  SELECT metric, labels, t_sec, value,
         |         value - lag(value) OVER w AS dv,
         |         t_sec - lag(t_sec) OVER w AS dt
         |  FROM deduped
         |  WINDOW w AS (PARTITION BY metric, labels ORDER BY t_sec)
         |)
         |SELECT metric, array_to_string(labels, ',') AS labels_str, t_sec, value,
         |       CASE WHEN dv < 0 THEN NULL
         |            ELSE CAST(floor(dv / dt::DOUBLE * 1000000 + 0.5) AS BIGINT) END AS rate_e6
         |FROM diffed WHERE dt IS NOT NULL AND dt > 0""".stripMargin,

    "ts_increase" ->
      s"""$dedupCte
         |SELECT metric, array_to_string(labels, ',') AS labels_str,
         |       t_sec // 3600 * 3600 AS bucket,
         |       round(greatest(arg_max(value, t_sec) - arg_min(value, t_sec), 0.0), 6) AS increase,
         |       round(arg_max(value, t_sec) - arg_min(value, t_sec), 6) AS delta,
         |       count(*) AS n_points
         |FROM deduped GROUP BY 1, 2, 3""".stripMargin,

    "ts_avg_over_time" ->
      s"""$dedupCte
         |SELECT metric, array_to_string(labels, ',') AS labels_str,
         |       t_sec // 3600 * 3600 AS bucket,
         |       CAST(floor(sum(value) * 100 + 0.5) AS BIGINT) * 1000 // count(*) AS avg_value_e5
         |FROM deduped GROUP BY 1, 2, 3""".stripMargin,

    "ts_minmax_over_time" ->
      s"""$dedupCte
         |SELECT metric, array_to_string(labels, ',') AS labels_str,
         |       t_sec // 3600 * 3600 AS bucket,
         |       min(value) AS min_value, max(value) AS max_value
         |FROM deduped GROUP BY 1, 2, 3""".stripMargin,

    "ts_sum_count_over_time" ->
      s"""$dedupCte
         |SELECT metric, array_to_string(labels, ',') AS labels_str,
         |       t_sec // 3600 * 3600 AS bucket,
         |       round(sum(value), 6) AS sum_value, count(*) AS n_points
         |FROM deduped GROUP BY 1, 2, 3""".stripMargin,

    "ts_topk" ->
      s"""$dedupCte, bucketed AS (
         |  SELECT metric, labels, t_sec // 86400 * 86400 AS bucket,
         |         round(sum(value), 6) AS sum_value
         |  FROM deduped GROUP BY 1, 2, 3
         |), ranked AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY metric, bucket
         |    ORDER BY sum_value DESC, array_to_string(labels, ',') ASC) AS rk
         |  FROM bucketed
         |)
         |SELECT metric, array_to_string(labels, ',') AS labels_str, bucket, sum_value, rk
         |FROM ranked WHERE rk <= 3""".stripMargin,

    "ts_quantile_over_time" ->
      s"""$dedupCte
         |SELECT metric, t_sec // 86400 * 86400 AS bucket,
         |       round(quantile_cont(value, 0.5), 6) AS q_value,
         |       count(*) AS n_points
         |FROM deduped GROUP BY 1, 2""".stripMargin,

    // cumulative le-bucket counts + the SAME generated interpolation
    // CASE the Spark side evaluates (RangeOps.hqCaseSql) — identical
    // double arithmetic text in both engines
    "ts_histogram_quantile" -> {
      val cnts = RangeOps.DefaultLes.zipWithIndex.map { case (le, i) =>
        s"CAST(sum(CASE WHEN value <= $le THEN 1 ELSE 0 END) AS DOUBLE) AS c_$i"
      }.mkString(",\n         ")
      s"""$S, h AS (
         |  SELECT metric, ts_us // 1000000 // 86400 * 86400 AS t_sec,
         |         $cnts,
         |         CAST(count(*) AS DOUBLE) AS total
         |  FROM samples GROUP BY 1, 2
         |), r AS (SELECT *, 0.9 * total AS rk FROM h)
         |SELECT metric, t_sec,
         |       CAST(floor((${RangeOps.hqCaseSql(RangeOps.DefaultLes)}) * 1000000 + 0.5) AS BIGINT) AS q_est_e6,
         |       CAST(total AS BIGINT) AS n_points
         |FROM r""".stripMargin
    },

    "ts_label_project" ->
      s"""$S
         |SELECT ts_us, metric,
         |       array_to_string(list_filter(labels, x -> starts_with(x, 'user=')), ',') AS labels_str,
         |       round(value * 8.0, 6) AS scaled_value
         |FROM samples""".stripMargin,

    // label_replace: full-match gate on the src value, capture group
    // 1 becomes the dst label, existing dst dropped, labels re-sorted
    "ts_label_replace" ->
      s"""$S
         |SELECT ts_us, metric,
         |       array_to_string(
         |         CASE WHEN src_val IS NOT NULL
         |                   AND regexp_matches(src_val, '^([0-9])[0-9]*$$')
         |              THEN list_sort(
         |                [l for l in labels if NOT starts_with(l, 'shard=')] ||
         |                ['shard=' || regexp_extract(src_val, '^([0-9])[0-9]*$$', 1)])
         |              ELSE labels END, ',') AS labels_str,
         |       value
         |FROM (SELECT ts_us, metric, labels, value,
         |             substr([l for l in labels if l LIKE 'user=%'][1], 6) AS src_val
         |      FROM samples)""".stripMargin,

    "ts_count_values" ->
      s"""$dedupCte
         |SELECT metric, CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_e2,
         |       count(*) AS n_points, count(DISTINCT labels) AS n_series
         |FROM deduped GROUP BY 1, 2""".stripMargin,

    "ts_last_point" ->
      s"""$dedupCte
         |SELECT metric, array_to_string(labels, ',') AS labels_str,
         |       max(t_sec) AS last_t, arg_max(value, t_sec) AS last_value
         |FROM deduped GROUP BY 1, 2""".stripMargin,

    "ts_delta" ->
      s"""$dedupCte
         |SELECT metric, array_to_string(labels, ',') AS labels_str,
         |       t_sec // 21600 * 21600 AS bucket,
         |       round(arg_max(value, t_sec) - arg_min(value, t_sec), 6) AS delta,
         |       max(t_sec) - min(t_sec) AS span_sec,
         |       count(*) AS n_points
         |FROM deduped GROUP BY 1, 2, 3""".stripMargin,

    "ts_resets" ->
      s"""$dedupCte, flagged AS (
         |  SELECT metric, labels, t_sec,
         |         CASE WHEN value < lag(value) OVER (
         |           PARTITION BY metric, labels ORDER BY t_sec) THEN 1 ELSE 0 END AS is_reset
         |  FROM deduped
         |)
         |SELECT metric, array_to_string(labels, ',') AS labels_str,
         |       t_sec // 86400 * 86400 AS bucket,
         |       CAST(sum(is_reset) AS BIGINT) AS n_resets, count(*) AS n_points
         |FROM flagged GROUP BY 1, 2, 3""".stripMargin,

    "ts_deriv_predict" ->
      s"""$dedupCte, xs AS (
         |  SELECT metric, labels, t_sec // 86400 * 86400 AS bucket,
         |         (t_sec - t_sec // 86400 * 86400)::DOUBLE AS x, value AS y
         |  FROM deduped
         |), sums AS (
         |  SELECT metric, labels, bucket,
         |         count(*)::DOUBLE AS n, sum(x) AS sx, sum(y) AS sy,
         |         sum(x*x) AS sxx, sum(x*y) AS sxy, max(x) AS x_last
         |  FROM xs GROUP BY 1, 2, 3
         |), fit AS (
         |  SELECT *, CASE WHEN n*sxx - sx*sx = 0 THEN NULL
         |                 ELSE (n*sxy - sx*sy) / (n*sxx - sx*sx) END AS slope
         |  FROM sums
         |)
         |SELECT metric, array_to_string(labels, ',') AS labels_str, bucket,
         |       CAST(floor(slope * 1000000 + 0.5) AS BIGINT) AS deriv_e6,
         |       CAST(floor((slope * (x_last + 3600.0) + (sy - slope * sx) / n) * 1000000 + 0.5) AS BIGINT) AS predicted_e6,
         |       n::BIGINT AS n_points
         |FROM fit""".stripMargin,

    "ts_stddev_over_time" ->
      s"""$dedupCte, sums AS (
         |  SELECT metric, labels, t_sec // 21600 * 21600 AS bucket,
         |         sum(value) AS sy, sum(value*value) AS syy, count(*)::DOUBLE AS n
         |  FROM deduped GROUP BY 1, 2, 3
         |)
         |SELECT metric, array_to_string(labels, ',') AS labels_str, bucket,
         |       CAST(floor(sqrt(greatest(syy/n - (sy/n)*(sy/n), 0)) * 1000000 + 0.5) AS BIGINT) AS stddev_e6,
         |       n::BIGINT AS n_points
         |FROM sums""".stripMargin,

    "ts_agg_across_series" ->
      s"""$dedupCte
         |SELECT metric, t_sec // 3600 * 3600 AS bucket,
         |       round(sum(value), 6) AS sum_value,
         |       CAST(floor(sum(value) * 100 + 0.5) AS BIGINT) * 1000 // count(*) AS avg_value_e5,
         |       count(*) AS n_points,
         |       count(DISTINCT labels) AS n_series
         |FROM deduped GROUP BY 1, 2""".stripMargin,

    // hourly sum-by-user click/view with the integer-exact 1e-2 sum
    // convention; ratio is floor-scaled on the exact integer quotient
    "ts_binary_op" ->
      s"""$dedupCte, a AS (
         |  SELECT [l for l in labels if l LIKE 'user=%'][1] AS lbl,
         |         t_sec // 3600 * 3600 AS bucket,
         |         CAST(floor(sum(value) * 100 + 0.5) AS BIGINT) AS a_sum_e2
         |  FROM deduped WHERE metric = 'click' GROUP BY 1, 2
         |), b AS (
         |  SELECT [l for l in labels if l LIKE 'user=%'][1] AS lbl,
         |         t_sec // 3600 * 3600 AS bucket,
         |         CAST(floor(sum(value) * 100 + 0.5) AS BIGINT) AS b_sum_e2
         |  FROM deduped WHERE metric = 'view' GROUP BY 1, 2
         |)
         |SELECT lbl, bucket, a_sum_e2, b_sum_e2,
         |       CASE WHEN b_sum_e2 = 0 THEN NULL
         |            ELSE CAST(floor(a_sum_e2::DOUBLE / b_sum_e2::DOUBLE * 1000000 + 0.5) AS BIGINT)
         |       END AS ratio_e6
         |FROM a JOIN b USING (lbl, bucket)""".stripMargin,

    // day-over-day: the shifted point comes from a RANGE frame pinned
    // exactly 86400 s back; absent → NULL prev/delta
    "ts_offset_compare" ->
      s"""$dedupCte, bucketed AS (
         |  SELECT metric, labels, t_sec // 3600 * 3600 AS bucket,
         |         CAST(floor(sum(value) * 100 + 0.5) AS BIGINT) * 1000 // count(*) AS avg_value_e5
         |  FROM deduped GROUP BY 1, 2, 3
         |)
         |SELECT metric, array_to_string(labels, ',') AS labels_str, bucket, avg_value_e5,
         |       max(avg_value_e5) OVER (PARTITION BY metric, labels ORDER BY bucket
         |         RANGE BETWEEN 86400 PRECEDING AND 86400 PRECEDING) AS prev_value_e5,
         |       avg_value_e5 - max(avg_value_e5) OVER (PARTITION BY metric, labels ORDER BY bucket
         |         RANGE BETWEEN 86400 PRECEDING AND 86400 PRECEDING) AS delta_e5
         |FROM bucketed""".stripMargin,

    // last-two-points instant rate; reset (last < prev) takes the
    // post-reset value as the delta; single-point buckets → NULL
    "ts_irate" ->
      s"""$dedupCte, ranked AS (
         |  SELECT metric, labels, t_sec // 3600 * 3600 AS bucket, t_sec, value,
         |         row_number() OVER (PARTITION BY metric, labels, t_sec // 3600 * 3600
         |                            ORDER BY t_sec DESC) AS rn
         |  FROM deduped
         |), tail2 AS (
         |  SELECT metric, labels, bucket,
         |         max(t_sec) AS t_last, arg_max(value, t_sec) AS v_last,
         |         min(t_sec) AS t_prev, arg_min(value, t_sec) AS v_prev,
         |         count(*) AS n_tail_points
         |  FROM ranked WHERE rn <= 2 GROUP BY 1, 2, 3
         |)
         |SELECT metric, array_to_string(labels, ',') AS labels_str, bucket,
         |       CASE WHEN n_tail_points < 2 THEN NULL
         |            ELSE CAST(floor((CASE WHEN v_last >= v_prev THEN v_last - v_prev ELSE v_last END)
         |                 / (t_last - t_prev)::DOUBLE * 1000000 + 0.5) AS BIGINT)
         |       END AS irate_e6,
         |       n_tail_points
         |FROM tail2""".stripMargin,

    "ts_changes" ->
      s"""$dedupCte, flagged AS (
         |  SELECT metric, labels, t_sec, value,
         |         lag(value) OVER (PARTITION BY metric, labels ORDER BY t_sec) AS prev
         |  FROM deduped
         |)
         |SELECT metric, array_to_string(labels, ',') AS labels_str,
         |       t_sec // 21600 * 21600 AS bucket,
         |       CAST(sum(CASE WHEN prev IS NOT NULL AND value <> prev THEN 1 ELSE 0 END) AS BIGINT) AS n_changes,
         |       count(*) AS n_points
         |FROM flagged GROUP BY 1, 2, 3""".stripMargin,

    "ts_clamp" ->
      s"""$dedupCte
         |SELECT metric, array_to_string(labels, ',') AS labels_str, t_sec, value,
         |       least(greatest(value, 50.0), 300.0) AS clamped,
         |       greatest(value, 50.0) AS clamped_min,
         |       least(value, 300.0) AS clamped_max
         |FROM deduped""".stripMargin,

    "ts_bottomk" ->
      s"""$dedupCte, bucketed AS (
         |  SELECT metric, labels, t_sec // 86400 * 86400 AS bucket,
         |         round(sum(value), 6) AS sum_value
         |  FROM deduped GROUP BY 1, 2, 3
         |), ranked AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY metric, bucket
         |    ORDER BY sum_value ASC, array_to_string(labels, ',') ASC) AS rk
         |  FROM bucketed
         |)
         |SELECT metric, array_to_string(labels, ',') AS labels_str, bucket, sum_value, rk
         |FROM ranked WHERE rk <= 3""".stripMargin,

    // dense metric × day grid over the flagship window; absent where
    // the metric reported no samples that day
    "ts_absent" ->
      s"""$dedupCte, grid AS (
         |  SELECT m.metric, g.bucket
         |  FROM (SELECT DISTINCT metric FROM deduped) m,
         |       range($WinStartSec // 86400 * 86400,
         |             ($WinEndSec - 1) // 86400 * 86400 + 86400, 86400) g(bucket)
         |), present AS (
         |  SELECT metric, t_sec // 86400 * 86400 AS bucket, count(*) AS n_points
         |  FROM deduped
         |  WHERE t_sec >= $WinStartSec // 86400 * 86400 AND t_sec < $WinEndSec
         |  GROUP BY 1, 2
         |)
         |SELECT grid.metric, grid.bucket,
         |       present.n_points IS NULL AS absent,
         |       coalesce(present.n_points, 0) AS n_points
         |FROM grid LEFT JOIN present USING (metric, bucket)""".stripMargin,

    "ingest_streaming_window" ->
      s"""$S
         |SELECT metric, ts_us // 1000000 // 3600 * 3600 AS bucket,
         |       count(*) AS n_samples, round(sum(value), 6) AS sum_value
         |FROM samples GROUP BY 1, 2""".stripMargin,

    "ts_gap_fill" ->
      s"""$dedupCte, bucketed AS (
         |  SELECT metric, labels, t_sec // 3600 * 3600 AS bucket,
         |         CAST(floor(sum(value) * 100 + 0.5) AS BIGINT) * 1000 // count(*) AS avg_value
         |  FROM deduped GROUP BY 1, 2, 3
         |), grid AS (
         |  SELECT metric, labels, unnest(generate_series(min(bucket), max(bucket), 3600)) AS bucket
         |  FROM bucketed GROUP BY metric, labels
         |)
         |SELECT g.metric, array_to_string(g.labels, ',') AS labels_str, g.bucket,
         |       last_value(b.avg_value IGNORE NULLS) OVER (
         |         PARTITION BY g.metric, g.labels ORDER BY g.bucket
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
         |       b.avg_value IS NULL AS is_gap
         |FROM grid g LEFT JOIN bucketed b
         |  ON g.metric = b.metric AND g.labels = b.labels AND g.bucket = b.bucket""".stripMargin,

    "dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies,
        |       max(length(text)) AS n_chars
        |FROM documents GROUP BY md5(text)""".stripMargin,

    "dedup_url" ->
      s"""$urlCanonCte
         |SELECT canonical_url, min(doc_id) AS keep_id,
         |       count(*) AS n_copies
         |FROM canon GROUP BY 1""".stripMargin,

    "dedup_url_hosts" ->
      s"""$urlCanonCte
         |SELECT host, count(*) AS n_fetches,
         |       count(DISTINCT canonical_url) AS n_pages,
         |       (count(*) - count(DISTINCT canonical_url)) * 1000000
         |         // count(*) AS dup_ratio_e6
         |FROM canon GROUP BY 1""".stripMargin,

    // the identical boilerplate injection, then line-df scrub +
    // in-order reassembly
    "dedup_lines" ->
      """WITH injected AS (
        |  SELECT doc_id, concat_ws(chr(10),
        |      CASE WHEN doc_id % 2 = 0
        |           THEN 'cookie notice accept all cookies to continue' END,
        |      text,
        |      CASE WHEN doc_id % 5 = 0
        |           THEN 'subscribe to our newsletter for updates' END) AS text
        |  FROM documents
        |), ls AS (
        |  SELECT doc_id, string_split(coalesce(text, ''), chr(10)) AS lns
        |  FROM injected
        |), ln AS (
        |  SELECT doc_id, unnest(lns) AS line,
        |         generate_subscripts(lns, 1) AS ord
        |  FROM ls
        |), boiler AS (
        |  SELECT line FROM ln GROUP BY 1 HAVING count(DISTINCT doc_id) >= 3
        |), kept AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |         md5(string_agg(line, chr(10) ORDER BY ord)) AS clean_md5
        |  FROM ln WHERE line NOT IN (SELECT line FROM boiler)
        |  GROUP BY 1
        |), tot AS (SELECT doc_id, count(*) AS n_lines FROM ln GROUP BY 1)
        |SELECT t.doc_id, t.n_lines, coalesce(k.n_kept, 0) AS n_kept,
        |       coalesce(k.n_kept, 0) * 1000000 // t.n_lines AS kept_ratio_e6,
        |       k.clean_md5
        |FROM tot t LEFT JOIN kept k USING (doc_id)""".stripMargin,

    "dedup_minhash_lsh" ->
      s"""$minhashCte
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       len(list_filter(range(1, 129), i -> a.sig[i] = b.sig[i]))::BIGINT * 1000000 // 128 AS est_sim_e6
         |FROM banded a JOIN banded b
         |  ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id""".stripMargin,

    // the pair list re-keyed to each side's source, per ordered cell
    "dedup_source_matrix" ->
      s"""$minhashCte, prs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         len(list_filter(range(1, 129), i -> a.sig[i] = b.sig[i]))::BIGINT * 1000000 // 128 AS est
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
         |)
         |SELECT least(sa.source, sb.source) AS source_a,
         |       greatest(sa.source, sb.source) AS source_b,
         |       count(*) AS n_dup_pairs
         |FROM prs
         |JOIN documents sa ON prs.doc_a = sa.doc_id
         |JOIN documents sb ON prs.doc_b = sb.doc_id
         |WHERE est >= 300000
         |GROUP BY 1, 2""".stripMargin,

    // asymmetric bucket probe: a new doc drops on any bucket shared
    // with the old corpus
    "dedup_incremental" ->
      s"""$minhashCte, flags AS (
         |  SELECT doc_id, (doc_id % 3 = 0) AS isnew FROM documents
         |), oldb AS (
         |  SELECT DISTINCT band, band_sig
         |  FROM banded JOIN flags USING (doc_id) WHERE NOT isnew
         |), hit AS (
         |  SELECT DISTINCT b.doc_id
         |  FROM banded b JOIN flags f USING (doc_id)
         |  JOIN oldb o ON b.band = o.band AND b.band_sig = o.band_sig
         |  WHERE f.isnew
         |)
         |SELECT f.doc_id, CAST(h.doc_id IS NULL AS INT) AS kept
         |FROM flags f LEFT JOIN hit h USING (doc_id)
         |WHERE f.isnew""".stripMargin,

    // streaming crawl order = doc_id mod 3; a doc drops iff it
    // shares a band bucket with ANY doc from an earlier crawl
    // (kept or dropped — all arriving band keys enter the state)
    // the stream replayed at rest: per-crawl line df, CUMULATIVE df
    // at each crawl (crawls <= current, own crawl included), scrub +
    // in-order reassembly per doc
    "stream_line_dedup" ->
      """WITH injected AS (
        |  SELECT doc_id, CAST(doc_id % 3 AS INT) AS crawl,
        |         concat_ws(chr(10),
        |      CASE WHEN doc_id % 2 = 0
        |           THEN 'cookie notice accept all cookies to continue' END,
        |      text,
        |      CASE WHEN doc_id % 100 = 1
        |           THEN 'limited time promo act now' END,
        |      CASE WHEN doc_id % 5 = 0
        |           THEN 'subscribe to our newsletter for updates' END) AS text
        |  FROM documents
        |), ls AS (
        |  SELECT doc_id, crawl, string_split(coalesce(text, ''), chr(10)) AS lns
        |  FROM injected
        |), ln AS (
        |  SELECT doc_id, crawl, unnest(lns) AS line,
        |         generate_subscripts(lns, 1) AS ord
        |  FROM ls
        |), dfc AS (
        |  SELECT crawl, line, count(DISTINCT doc_id) AS dfk
        |  FROM ln GROUP BY 1, 2
        |), cum AS (
        |  SELECT a.crawl, a.line, sum(b.dfk) AS df_at
        |  FROM dfc a JOIN dfc b ON b.line = a.line AND b.crawl <= a.crawl
        |  GROUP BY 1, 2
        |), boiler AS (SELECT crawl, line FROM cum WHERE df_at >= 3),
        |kept AS (
        |  SELECT l.doc_id, count(*) AS n_kept,
        |         md5(string_agg(l.line, chr(10) ORDER BY l.ord)) AS clean_md5
        |  FROM ln l LEFT JOIN boiler b
        |    ON b.crawl = l.crawl AND b.line = l.line
        |  WHERE b.line IS NULL GROUP BY 1
        |), tot AS (
        |  SELECT doc_id, crawl, count(*) AS n_lines FROM ln GROUP BY 1, 2
        |)
        |SELECT t.doc_id, t.crawl, t.n_lines, coalesce(k.n_kept, 0) AS n_kept,
        |       coalesce(k.n_kept, 0) * 1000000 // t.n_lines AS kept_ratio_e6,
        |       k.clean_md5
        |FROM tot t LEFT JOIN kept k USING (doc_id)""".stripMargin,

    "stream_dedup_minhash" ->
      s"""$minhashCte, flags AS (
         |  SELECT doc_id, CAST(doc_id % 3 AS INT) AS crawl FROM documents
         |), hit AS (
         |  SELECT DISTINCT b.doc_id
         |  FROM banded b JOIN flags f USING (doc_id)
         |  JOIN banded b2 ON b.band = b2.band AND b.band_sig = b2.band_sig
         |  JOIN flags f2 ON b2.doc_id = f2.doc_id
         |  WHERE f2.crawl < f.crawl
         |)
         |SELECT f.doc_id, f.crawl, CAST(h.doc_id IS NULL AS INT) AS kept
         |FROM flags f LEFT JOIN hit h USING (doc_id)""".stripMargin,

    // the global running sum over the hash order, one window
    "sample_token_budget" ->
      s"""WITH tb AS (
         |  SELECT doc_id,
         |         len(string_split(coalesce(text, ''), ' '))::BIGINT AS n_tokens,
         |         ${duckHash("'order:' || CAST(doc_id AS VARCHAR)")} AS h
         |  FROM documents
         |), o AS (
         |  SELECT doc_id, n_tokens,
         |         CAST(sum(n_tokens) OVER (ORDER BY h, doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |           AS end_offset
         |  FROM tb
         |)
         |SELECT doc_id, n_tokens,
         |       end_offset - n_tokens AS start_offset, end_offset
         |FROM o WHERE end_offset - n_tokens < 20000""".stripMargin,

    // transitive closure over the pair graph → min reachable id per
    // doc — the recursive-CTE twin of the min-label propagation loop
    "dedup_components" ->
      s"""$minhashCte, prs AS (
         |  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
         |), edges AS (
         |  SELECT a, b FROM prs UNION SELECT b, a FROM prs
         |), reach AS (
         |  WITH RECURSIVE rr(a, b) AS (
         |    SELECT a, b FROM edges
         |    UNION
         |    SELECT rr.a, e.b FROM rr JOIN edges e ON rr.b = e.a
         |  ) SELECT a, b FROM rr
         |)
         |SELECT d.doc_id,
         |       least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS component,
         |       CAST(least(d.doc_id, coalesce(min(r.b), d.doc_id)) = d.doc_id
         |            AS INT) AS kept
         |FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
         |GROUP BY d.doc_id""".stripMargin,

    // transitive closure over the pair graph → min reachable id per
    // doc — the same contract serves the star-contraction variant
    "dedup_components_stars" ->
      s"""$minhashCte, prs AS (
         |  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
         |), edges AS (
         |  SELECT a, b FROM prs UNION SELECT b, a FROM prs
         |), reach AS (
         |  WITH RECURSIVE rr(a, b) AS (
         |    SELECT a, b FROM edges
         |    UNION
         |    SELECT rr.a, e.b FROM rr JOIN edges e ON rr.b = e.a
         |  ) SELECT a, b FROM rr
         |)
         |SELECT d.doc_id,
         |       least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS component,
         |       CAST(least(d.doc_id, coalesce(min(r.b), d.doc_id)) = d.doc_id
         |            AS INT) AS kept
         |FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
         |GROUP BY d.doc_id""".stripMargin,

    // greedy bucket-min dedup: keep_id = min doc_id over the doc's
    // band buckets; kept iff the doc is its own representative
    "dedup_minhash_keep" ->
      s"""$minhashCte, bmin AS (
         |  SELECT doc_id, min(doc_id) OVER (PARTITION BY band, band_sig) AS bucket_min
         |  FROM banded
         |)
         |SELECT doc_id, CAST(keep_id = doc_id AS INT) AS kept, keep_id
         |FROM (SELECT doc_id, min(bucket_min) AS keep_id FROM bmin GROUP BY 1)""".stripMargin,

    "dedup_ngram_jaccard" ->
      s"""$minhashCte, pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
         |), hsets AS (
         |  SELECT doc_id, list_distinct(hs) AS h FROM hs
         |)
         |SELECT doc_a, doc_b,
         |       len(list_intersect(ha.h, hb.h))::BIGINT * 1000000 // len(list_distinct(ha.h || hb.h)) AS jaccard_e6
         |FROM pairs JOIN hsets ha ON doc_a = ha.doc_id JOIN hsets hb ON doc_b = hb.doc_id
         |WHERE len(list_intersect(ha.h, hb.h))::BIGINT * 1000000 // len(list_distinct(ha.h || hb.h)) >= 800000""".stripMargin,

    "dedup_simhash" ->
      s"""WITH hs AS (
         |  SELECT doc_id, list_transform(string_split(text, ' '), t -> ${duckHash("t")}) AS hs
         |  FROM documents
         |), simh AS (
         |  SELECT doc_id,
         |         list_reduce(list_prepend(0::BIGINT, [
         |           CASE WHEN list_sum(list_transform(hs, h -> ((h >> i) & 1)*2 - 1)) > 0
         |                THEN (1::BIGINT << i) ELSE 0::BIGINT END
         |           for i in range(0, 60)]), (a, x) -> a + x) AS simhash
         |  FROM hs
         |), banded AS (
         |  SELECT doc_id, simhash, t.b AS band,
         |         (simhash >> (t.b * 15)) & 32767 AS band_val
         |  FROM simh, range(0, 4) t(b)
         |), pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         a.simhash AS sa, b.simhash AS sb
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
         |)
         |SELECT doc_a, doc_b, bit_count(xor(sa, sb)) AS hamming
         |FROM pairs WHERE bit_count(xor(sa, sb)) <= 8""".stripMargin,

    // benchmark = every 50th doc; a training doc's hit count is its
    // distinct word 4-grams (hashed with the portable scheme, so any
    // collisions are identical in both engines) that appear anywhere
    // in the benchmark set
    "dedup_decontaminate" ->
      s"""WITH g AS (
         |  SELECT doc_id, doc_id % 50 = 0 AS is_bench,
         |         list_transform(
         |           list_distinct([array_to_string(words[i:i+3], ' ')
         |                          for i in range(1, len(words)-2)]),
         |           s -> ${duckHash("s")}) AS ghs
         |  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
         |  WHERE len(words) >= 4
         |), bg AS (SELECT DISTINCT unnest(ghs) AS h FROM g WHERE is_bench),
         |tg AS (SELECT doc_id, unnest(ghs) AS h FROM g WHERE NOT is_bench),
         |hits AS (SELECT doc_id, count(*) AS n_hit_grams FROM tg JOIN bg USING (h) GROUP BY 1)
         |SELECT d.doc_id, coalesce(h.n_hit_grams, 0)::BIGINT AS n_hit_grams,
         |       (coalesce(h.n_hit_grams, 0) > 0)::INT AS contaminated
         |FROM documents d LEFT JOIN hits h USING (doc_id)
         |WHERE d.doc_id % 50 <> 0""".stripMargin,

    // same chunking, same md5-60bit hashes, same blocklist filter
    "dedup_span_scrub" ->
      s"""WITH d AS (
         |  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS toks
         |  FROM documents
         |), c AS (
         |  SELECT doc_id, list_transform(range(((len(toks) - 1) // 8) + 1),
         |    i -> array_to_string(toks[(i * 8 + 1):(i * 8 + 8)], ' ')) AS chunks
         |  FROM d
         |), f AS (SELECT unnest(chunks) AS ch FROM c),
         |freq AS (
         |  SELECT ${duckHash("ch")} AS h
         |  FROM f GROUP BY 1 HAVING count(*) >= 3
         |), bad AS (SELECT coalesce(list(h), []) AS bl FROM freq)
         |SELECT doc_id,
         |  array_to_string(list_filter(chunks, ch ->
         |    NOT list_contains(bl, ${duckHash("ch")})), ' ') AS text_clean,
         |  len(chunks)::BIGINT AS n_chunks,
         |  (len(chunks) - len(list_filter(chunks, ch ->
         |    NOT list_contains(bl, ${duckHash("ch")}))))::BIGINT AS n_removed
         |FROM c, bad""".stripMargin,

    "dedup_substring_spans" ->
      s"""WITH d AS (
         |  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS toks
         |  FROM documents
         |), w AS (
         |  SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
         |         ${duckHash("array_to_string(toks[(u.i + 1):(u.i + 8)], ' ')")} AS h
         |  FROM d, LATERAL (SELECT unnest(range(0,
         |    greatest(len(toks) - 8 + 1, 0))) AS i) u
         |), f AS (
         |  SELECT h FROM w GROUP BY h HAVING count(DISTINCT doc_id) >= 2
         |), r AS (
         |  SELECT w.doc_id, w.pos FROM w JOIN f USING (h)
         |), g AS (
         |  SELECT doc_id, pos,
         |         CASE WHEN lag(pos) OVER d2 IS NULL
         |                OR pos > lag(pos) OVER d2 + 8
         |              THEN 1 ELSE 0 END AS brk
         |  FROM r WINDOW d2 AS (PARTITION BY doc_id ORDER BY pos)
         |), s AS (
         |  SELECT doc_id, pos,
         |         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |  FROM g
         |)
         |SELECT doc_id, min(pos) AS span_start,
         |       max(pos) + 8 AS span_end,
         |       count(*) AS n_windows
         |FROM s GROUP BY doc_id, grp""".stripMargin,

    "dedup_embedding" ->
      s"""${embCte(24)}, banded AS (
         |  SELECT vec_id, vec, nrm, t.b AS band,
         |         (sigbits >> (t.b * 6)) & 63 AS band_val
         |  FROM prep, range(0, 4) t(b)
         |), pairs AS (
         |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |         a.vec AS va, a.nrm AS na, b.vec AS vb, b.nrm AS nb
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.band_val = b.band_val AND a.vec_id < b.vec_id
         |)
         |SELECT vec_a, vec_b, CAST(floor(${duckDot("va", "vb")} / (na * nb) * 1000000 + 0.5) AS BIGINT) AS cos_sim_e6
         |FROM pairs
         |WHERE CAST(floor(${duckDot("va", "vb")} / (na * nb) * 1000000 + 0.5) AS BIGINT) >= 400000""".stripMargin,

    // transitive closure over the thresholded embedding pairs — the
    // recursive-CTE twin of the min-label propagation loop
    "dedup_embedding_components" ->
      s"""${embCte(24)}, banded AS (
         |  SELECT vec_id, vec, nrm, t.b AS band,
         |         (sigbits >> (t.b * 6)) & 63 AS band_val
         |  FROM prep, range(0, 4) t(b)
         |), prs AS (
         |  SELECT DISTINCT a.vec_id AS a, b.vec_id AS b
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.band_val = b.band_val AND a.vec_id < b.vec_id
         |  WHERE CAST(floor(${duckDot("a.vec", "b.vec")} / (a.nrm * b.nrm) * 1000000 + 0.5) AS BIGINT) >= 400000
         |), edges AS (
         |  SELECT a, b FROM prs UNION SELECT b, a FROM prs
         |), reach AS (
         |  WITH RECURSIVE rr(a, b) AS (
         |    SELECT a, b FROM edges
         |    UNION
         |    SELECT rr.a, e.b FROM rr JOIN edges e ON rr.b = e.a
         |  ) SELECT a, b FROM rr
         |)
         |SELECT d.vec_id,
         |       least(d.vec_id, coalesce(min(r.b), d.vec_id)) AS component,
         |       CAST(least(d.vec_id, coalesce(min(r.b), d.vec_id)) = d.vec_id
         |            AS INT) AS kept
         |FROM embeddings d LEFT JOIN reach r ON r.a = d.vec_id
         |GROUP BY d.vec_id""".stripMargin,

    // greedy bucket-min dedup over the same hyperplane bands
    "dedup_embedding_keep" ->
      s"""${embCte(24)}, banded AS (
         |  SELECT vec_id, t.b AS band,
         |         (sigbits >> (t.b * 6)) & 63 AS band_val
         |  FROM prep, range(0, 4) t(b)
         |), bmin AS (
         |  SELECT vec_id, min(vec_id) OVER (PARTITION BY band, band_val) AS bucket_min
         |  FROM banded
         |)
         |SELECT vec_id, CAST(keep_id = vec_id AS INT) AS kept, keep_id
         |FROM (SELECT vec_id, min(bucket_min) AS keep_id FROM bmin GROUP BY 1)""".stripMargin,

    "ann_bruteforce_topk" -> annBruteforceSql,

    // recall@10 of IVF-PQ vs brute force: both searches replayed as
    // parenthesized sub-CTEs, intersected per query
    "ann_recall_ivfpq" ->
      s"""WITH exact AS ($annBruteforceSql),
         |approx AS ($annIvfpqSql)
         |SELECT e.query_id, count(a.vec_id) AS n_hit,
         |       count(a.vec_id) * 1000000 // count(*) AS recall_e6
         |FROM exact e LEFT JOIN approx a
         |  ON e.query_id = a.query_id AND e.vec_id = a.vec_id
         |GROUP BY 1""".stripMargin,

    "ann_lsh_topk" ->
      s"""${embCte(6)}, scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         |         CAST(floor(${duckDot("q.vec", "c.vec")} / (q.nrm * c.nrm) * 1000000 + 0.5) AS BIGINT) AS cos_sim_e6
         |  FROM prep q JOIN prep c
         |    ON q.sigbits = c.sigbits AND q.vec_id < 10 AND c.vec_id >= 10
         |), ranked AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cos_sim_e6 DESC, vec_id ASC) AS rank
         |  FROM scored
         |)
         |SELECT query_id, vec_id, cos_sim_e6, rank FROM ranked WHERE rank <= 10""".stripMargin,

    // IVF: centroids = vec_id in [10, 26); every candidate joins its
    // nearest centroid's inverted list; queries probe the 4 nearest
    // lists; exact cosine + rank inside the probed lists only.
    "ann_ivf_topk" ->
      s"""WITH prepn AS (
         |  SELECT vec_id, vec, sqrt(${duckDot("vec", "vec")}) AS nrm
         |  FROM (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vec
         |        FROM embeddings)
         |), cents AS (
         |  SELECT vec_id AS cent_id, vec AS cvec, nrm AS cnrm
         |  FROM prepn WHERE vec_id >= 10 AND vec_id < 26
         |), assign AS (
         |  SELECT cent_id, vec_id, vec, nrm FROM (
         |    SELECT c.cent_id, v.vec_id, v.vec, v.nrm,
         |           row_number() OVER (PARTITION BY v.vec_id
         |             ORDER BY ${duckDot("c.cvec", "v.vec")} / (c.cnrm * v.nrm) DESC,
         |                      c.cent_id ASC) AS arank
         |    FROM prepn v, cents c WHERE v.vec_id >= 10)
         |  WHERE arank = 1
         |), probes AS (
         |  SELECT query_id, qvec, qnrm, cent_id FROM (
         |    SELECT q.vec_id AS query_id, q.vec AS qvec, q.nrm AS qnrm, c.cent_id,
         |           row_number() OVER (PARTITION BY q.vec_id
         |             ORDER BY ${duckDot("c.cvec", "q.vec")} / (c.cnrm * q.nrm) DESC,
         |                      c.cent_id ASC) AS prank
         |    FROM prepn q, cents c WHERE q.vec_id < 10)
         |  WHERE prank <= 4
         |), scored AS (
         |  SELECT p.query_id, a.vec_id,
         |         CAST(floor(${duckDot("p.qvec", "a.vec")} / (p.qnrm * a.nrm) * 1000000 + 0.5) AS BIGINT) AS cos_sim_e6
         |  FROM probes p JOIN assign a USING (cent_id)
         |), ranked AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cos_sim_e6 DESC, vec_id ASC) AS rank
         |  FROM scored
         |)
         |SELECT query_id, vec_id, cos_sim_e6, rank FROM ranked WHERE rank <= 10""".stripMargin,

    // IVF-PQ: segments via 1-based list slices; every multi-term sum
    // is a seg-ORDERED fold (list(x ORDER BY seg) then one standalone
    // list_reduce — never fold-in-fold, the round-15 hazard shape)
    "ann_ivfpq_topk" -> annIvfpqSql,

    // nearest deterministic centroid per vector (centroids = 16
    // lowest-id vecs); argmax on the raw fold double, cent_id tiebreak
    // 3 Lloyd rounds replayed in SQL — integer-exact centroid means
    "cluster_kmeans" -> kmeansOracle(16, 3),

    "ann_ivf_trained_topk" -> ivfTrainedOracle(10, 8, 2, 3, 10),

    // SemDeDup: the kmeans rounds + the cluster-local ε-ball drop
    "dedup_semantic" -> semdedupOracle(16, 3, 400000L),

    "cluster_assign" ->
      s"""WITH prepn AS (
         |  SELECT vec_id, vec, sqrt(${duckDot("vec", "vec")}) AS nrm
         |  FROM (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vec
         |        FROM embeddings)
         |), cents AS (
         |  SELECT vec_id AS cent_id, vec AS cvec, nrm AS cnrm
         |  FROM prepn WHERE vec_id < 16
         |)
         |SELECT vec_id, cent_id, CAST(floor(cc * 1000000 + 0.5) AS BIGINT) AS cos_sim_e6
         |FROM (
         |  SELECT v.vec_id, c.cent_id,
         |         ${duckDot("c.cvec", "v.vec")} / (c.cnrm * v.nrm) AS cc,
         |         row_number() OVER (PARTITION BY v.vec_id
         |           ORDER BY ${duckDot("c.cvec", "v.vec")} / (c.cnrm * v.nrm) DESC,
         |                    c.cent_id ASC) AS arank
         |  FROM prepn v, cents c)
         |WHERE arank = 1""".stripMargin,

    "text_langid" -> {
      def score(words: Seq[String]) =
        s"len(list_filter(toks, t -> t IN (${words.map(w => s"'$w'").mkString(", ")})))"
      val Seq(en, es, de, fr) = TextAnalysis.StopWords.map(_._2)
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |s AS (SELECT doc_id, ${score(en)} AS score_en, ${score(es)} AS score_es,
         |             ${score(de)} AS score_de, ${score(fr)} AS score_fr FROM t)
         |SELECT doc_id,
         |  CASE
         |    WHEN score_en = 0 AND score_es = 0 AND score_de = 0 AND score_fr = 0 THEN 'und'
         |    WHEN score_en >= score_es AND score_en >= score_de AND score_en >= score_fr THEN 'en'
         |    WHEN score_es >= score_de AND score_es >= score_fr THEN 'es'
         |    WHEN score_de >= score_fr THEN 'de'
         |    ELSE 'fr'
         |  END AS pred_lang,
         |  score_en, score_es, score_de, score_fr
         |FROM s""".stripMargin
    },

    "text_quality" -> {
      val en = TextAnalysis.StopWords.head._2.map(w => s"'$w'").mkString(", ")
      s"""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks,
         |         length(text) AS n_chars_raw,
         |         length(replace(text, ' ', '')) AS n_alpha
         |  FROM documents
         |), f AS (
         |  SELECT doc_id, len(toks) AS n_words, n_chars_raw, n_alpha,
         |         len(list_filter(toks, t -> t IN ($en))) AS n_stop
         |  FROM t
         |)
         |SELECT doc_id, n_words, n_chars_raw,
         |       n_alpha::BIGINT * 1000000 // n_words AS avg_word_len_e6,
         |       n_stop::BIGINT * 1000000 // n_words AS stop_ratio_e6,
         |       least(n_words::BIGINT * 5000, 500000) +
         |       least(n_stop::BIGINT * 1500000 // n_words, 300000) +
         |       CASE WHEN n_alpha >= 3 * n_words AND n_alpha <= 8 * n_words
         |            THEN 200000 ELSE 0 END AS quality_score_e6
         |FROM f""".stripMargin
    },

    "text_quality_gopher" -> {
      val en = TextAnalysis.StopWords.head._2.map(w => s"'$w'").mkString(", ")
      s"""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks,
         |         length(replace(text, ' ', '')) AS n_alpha
         |  FROM documents
         |), f AS (
         |  SELECT doc_id, len(toks) AS n_words, n_alpha,
         |         len(list_filter(toks, t -> regexp_matches(t, '[a-zA-Z]')))
         |           AS n_alpha_words,
         |         len(list_filter(toks, t ->
         |           t LIKE '#%' OR t LIKE '%...%')) AS n_symbol_words,
         |         len(list_filter([$en], w -> list_contains(toks, w)))
         |           AS n_stops_present
         |  FROM t
         |), r AS (
         |  SELECT doc_id, n_words,
         |    CAST(n_words >= 50 AND n_words <= 100000 AS INT)
         |      AS rule_word_count,
         |    CAST(n_alpha >= 3 * n_words AND n_alpha <= 10 * n_words AS INT)
         |      AS rule_mean_word_len,
         |    CAST(n_alpha_words * 5 >= n_words * 4 AS INT) AS rule_alpha_words,
         |    CAST(n_symbol_words * 10 <= n_words AS INT) AS rule_symbol_ratio,
         |    CAST(n_stops_present >= 2 AS INT) AS rule_stopwords
         |  FROM f
         |)
         |SELECT *,
         |  CAST(rule_word_count = 1 AND rule_mean_word_len = 1 AND
         |       rule_alpha_words = 1 AND rule_symbol_ratio = 1 AND
         |       rule_stopwords = 1 AS INT) AS pass
         |FROM r""".stripMargin
    },

    "text_tokens" ->
      """SELECT doc_id,
        |       len(string_split(text, ' ')) AS n_ws_tokens,
        |       len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9\s]')) AS n_re_tokens,
        |       n_chars AS n_chars_meta,
        |       length(text) AS n_chars_actual
        |FROM documents""".stripMargin,

    // BPE trainer: k unrolled (pair-count → argmax → merge) rounds.
    // Words encode as '<sym>' marker strings, so `replace()` — the
    // leftmost-non-overlapping scan in both engines — IS the merge
    // application; markers can't collide with [a-z]+ symbols.
    "tokenizer_train_bpe" -> {
      val k = 8
      s"""${bpeCtes(k)}
         |${(0 until k).map(i =>
              s"SELECT CAST($i AS BIGINT) AS rank, l, r, cnt FROM b$i")
             .mkString("\nUNION ALL\n")}""".stripMargin
    },

    "tokenize_bpe_count" -> {
      val k = 8
      s"""${bpeCtes(k)}, dw AS (
         |  SELECT doc_id,
         |         unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
         |  FROM documents
         |)
         |SELECT d.doc_id,
         |       CAST(sum(len(regexp_extract_all(v.enc, '<([a-z]+)>', 1)))
         |            AS BIGINT) AS n_tokens
         |FROM dw d JOIN v$k v ON d.word = v.word
         |GROUP BY 1""".stripMargin
    },

    "tokenizer_vocab_bpe" -> {
      val k = 8
      s"""${bpeCtes(k)}
         |SELECT u.token, CAST(sum(v.freq) AS BIGINT) AS n_occurrences
         |FROM v$k v,
         |     UNNEST(regexp_extract_all(v.enc, '<([a-z]+)>', 1)) AS u(token)
         |GROUP BY 1""".stripMargin
    },

    "text_fingerprint" ->
      s"""WITH hs AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks,
         |         list_transform(string_split(text, ' '), t -> ${duckHash("t")}) AS hs
         |  FROM documents
         |)
         |SELECT doc_id,
         |       list_reduce(list_prepend(0::BIGINT, hs), (acc, h) -> (acc * 131 + h) % $H) AS fingerprint,
         |       len(toks) AS n_tokens
         |FROM hs""".stripMargin,

    // identical injection expression, then the same three ordered
    // regex passes with the 'g' flag (DuckDB defaults to first-match;
    // Spark replaces all)
    "text_pii_scrub" -> {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val ipv4 = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
      val run = "[0-9]{7,}"
      s"""WITH injected AS (
         |  SELECT doc_id,
         |         CASE WHEN doc_id % 3 = 0 THEN text
         |                || ' contact u' || CAST(doc_id AS VARCHAR)
         |                || '@ex' || CAST(doc_id % 7 AS VARCHAR)
         |                || '.com via 10.' || CAST(doc_id % 256 AS VARCHAR)
         |                || '.0.' || CAST(doc_id % 100 AS VARCHAR)
         |                || ' tel 555' || CAST(doc_id * 9973 AS VARCHAR)
         |              ELSE text END AS text
         |  FROM documents
         |)
         |SELECT doc_id,
         |       len(regexp_extract_all(text, '$email')) AS n_emails,
         |       len(regexp_extract_all(text, '$ipv4')) AS n_ipv4,
         |       len(regexp_extract_all(text, '$run')) AS n_digit_runs,
         |       md5(regexp_replace(regexp_replace(regexp_replace(text,
         |         '$email', '<EMAIL>', 'g'), '$ipv4', '<IP>', 'g'), '$run', '<NUM>', 'g'))
         |         AS scrubbed_md5,
         |       length(regexp_replace(regexp_replace(regexp_replace(text,
         |         '$email', '<EMAIL>', 'g'), '$ipv4', '<IP>', 'g'), '$run', '<NUM>', 'g'))
         |         AS n_chars_scrubbed
         |FROM injected""".stripMargin
    },

    "text_repetition" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS words FROM documents
        |), feat AS (
        |  SELECT doc_id, len(words) AS n_words,
        |         len(list_distinct(words)) AS n_distinct_words,
        |         CASE WHEN len(words) >= 2
        |              THEN [words[i] || ' ' || words[i+1] for i in range(1, len(words))]
        |              ELSE [] END AS grams,
        |         list_max(list_transform(list_distinct(words),
        |           x -> len(list_filter(words, y -> y = x)))) AS top_word_count
        |  FROM w
        |)
        |SELECT doc_id, n_words, n_distinct_words,
        |       n_distinct_words::BIGINT * 1000000 // n_words AS distinct_ratio_e6,
        |       top_word_count,
        |       top_word_count * 1000000 // n_words AS top_word_frac_e6,
        |       len(grams) AS n_grams,
        |       CASE WHEN len(grams) = 0 THEN NULL
        |            ELSE (len(grams) - len(list_distinct(grams)))::BIGINT * 1000000 // len(grams)
        |       END AS dup_gram_frac_e6
        |FROM feat""".stripMargin,

    // top-100 corpus bigrams, every occurrence counted; count-desc
    // gram-asc makes the LIMIT boundary engine-deterministic
    "text_ngram_freq" ->
      """WITH w AS (SELECT string_split(text, ' ') AS words FROM documents),
        |g AS (SELECT unnest([array_to_string(words[i:i+1], ' ')
        |                     for i in range(1, len(words))]) AS gram
        |      FROM w WHERE len(words) >= 2)
        |SELECT gram, count(*) AS n_occurrences FROM g GROUP BY 1
        |ORDER BY n_occurrences DESC, gram ASC LIMIT 100""".stripMargin,

    // Zipf OLS replayed: identical rank-sorted folds for the four
    // sums, identical slope/intercept arithmetic, 6-decimal snap;
    // NULL texts dropped (Spark's size-filter twin) and the k=1
    // degenerate fit NULLs on the same exact-zero denominator test
    "text_zipf" ->
      """WITH w AS (
        |  SELECT unnest(string_split(text, ' ')) AS gram
        |  FROM documents WHERE text IS NOT NULL
        |), c AS (SELECT gram, count(*) AS n_occ FROM w GROUP BY 1),
        |top AS (
        |  SELECT gram, n_occ,
        |         row_number() OVER (ORDER BY n_occ DESC, gram ASC) AS rk
        |  FROM c ORDER BY n_occ DESC, gram ASC LIMIT 100
        |), xs AS (
        |  SELECT list(struct_pack(rk := rk,
        |           x := ln(rk::DOUBLE), y := ln(n_occ::DOUBLE))
        |           ORDER BY rk) AS l
        |  FROM top
        |), s AS (
        |  SELECT len(l)::BIGINT AS n_terms,
        |    list_reduce(list_prepend(0.0::DOUBLE,
        |      list_transform(l, t -> t.x)), (a, b) -> a + b) AS sx,
        |    list_reduce(list_prepend(0.0::DOUBLE,
        |      list_transform(l, t -> t.y)), (a, b) -> a + b) AS sy,
        |    list_reduce(list_prepend(0.0::DOUBLE,
        |      list_transform(l, t -> t.x * t.y)), (a, b) -> a + b) AS sxy,
        |    list_reduce(list_prepend(0.0::DOUBLE,
        |      list_transform(l, t -> t.x * t.x)), (a, b) -> a + b) AS sxx
        |  FROM xs
        |)
        |SELECT n_terms,
        |  CASE WHEN n_terms * sxx - sx * sx = 0.0::DOUBLE THEN NULL
        |       ELSE round((n_terms * sxy - sx * sy)
        |                  / (n_terms * sxx - sx * sx), 6) END AS zipf_slope,
        |  CASE WHEN n_terms * sxx - sx * sx = 0.0::DOUBLE THEN NULL
        |       ELSE round((sy - (n_terms * sxy - sx * sy)
        |                   / (n_terms * sxx - sx * sx) * sx)
        |                  / n_terms, 6) END AS zipf_intercept
        |FROM s""".stripMargin,

    // integer-exact log-free TF-IDF: tf_e6 = c·1e6 // n_words,
    // score = tf_e6 · n_docs // df; top-5 per doc, word-asc ties
    "text_tfidf" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(coalesce(text, ''), ' ')) AS w
        |  FROM documents
        |), tf AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY 1, 2),
        |dl AS (SELECT doc_id, count(*) AS n_words FROM w GROUP BY 1),
        |dfq AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
        |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |sc AS (
        |  SELECT t.doc_id, t.w, t.c, f.df,
        |         (t.c * 1000000 // l.n_words) * nd.n_docs // f.df AS score_e6
        |  FROM tf t JOIN dl l USING (doc_id) JOIN dfq f USING (w) CROSS JOIN nd
        |), rk AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY score_e6 DESC, w ASC) AS rk
        |  FROM sc
        |)
        |SELECT doc_id, w AS word, c AS n_occurrences, df AS doc_freq,
        |       score_e6, rk
        |FROM rk WHERE rk <= 5""".stripMargin,

    "sample_quality_mixture" ->
      s"""WITH docs AS (
        |  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS words
        |  FROM documents
        |), bi AS (
        |  SELECT doc_id, words[x] AS p, words[x + 1] AS w
        |  FROM (SELECT doc_id, words, unnest(range(1, len(words))) AS x
        |        FROM docs WHERE len(words) >= 2)
        |), bic AS (SELECT p, w, count(*) AS cb FROM bi GROUP BY 1, 2),
        |pc AS (SELECT p, count(*) AS cp FROM bi GROUP BY 1),
        |vc AS (SELECT count(DISTINCT t0) AS v FROM (
        |  SELECT unnest(string_split(coalesce(text, ''), ' ')) AS t0
        |  FROM documents)),
        |ce AS (
        |  SELECT doc_id, count(*) AS n_bigrams,
        |         round(-avg(ln((cb + 0.5::DOUBLE) / (cp + 0.5::DOUBLE * v))
        |           / ln(2.0::DOUBLE)), 6) AS cross_entropy_bits
        |  FROM bi JOIN bic USING (p, w) JOIN pc USING (p) CROSS JOIN vc
        |  GROUP BY 1
        |), wl AS (
        |  SELECT ce.*, d.lang FROM ce JOIN documents d USING (doc_id)
        |), th AS (
        |  SELECT lang,
        |         quantile_cont(cross_entropy_bits, (1.0::DOUBLE)/3) AS t1,
        |         quantile_cont(cross_entropy_bits, (2.0::DOUBLE)/3) AS t2
        |  FROM wl GROUP BY 1
        |), bk AS (
        |  SELECT doc_id, lang, cross_entropy_bits,
        |         CASE WHEN cross_entropy_bits <= t1 THEN 'head'
        |              WHEN cross_entropy_bits <= t2 THEN 'middle'
        |              ELSE 'tail' END AS bucket
        |  FROM wl JOIN th USING (lang)
        |), r AS (
        |  SELECT doc_id, lang, bucket, cross_entropy_bits,
        |         CASE bucket WHEN 'head' THEN 1000 WHEN 'middle' THEN 500
        |              ELSE 100 END AS keep_rate
        |  FROM bk
        |)
        |SELECT doc_id, lang, bucket, keep_rate, cross_entropy_bits FROM r
        |WHERE ${duckHash("'qmix:' || CAST(doc_id AS VARCHAR)")} % 1000 < keep_rate""".stripMargin,

    "text_chunks" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS words
        |  FROM documents
        |), st AS (
        |  SELECT doc_id, words, unnest(range(0, len(words), 48)) AS s
        |  FROM docs WHERE len(words) >= 1
        |)
        |SELECT doc_id, s // 48 AS chunk_idx, s AS start_word,
        |       least(64, len(words) - s) AS n_words,
        |       md5(array_to_string(
        |         words[s + 1 : s + least(64, len(words) - s)], ' ')) AS chunk_md5
        |FROM st""".stripMargin,

    // the corpus-trained bigram LM replayed verbatim: the engine's
    // own double walk — (cb + 0.5)/(cp + 0.5·V) through ln/ln(2) —
    // with the 6-decimal snap absorbing reassociation noise
    "text_perplexity" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS words
        |  FROM documents
        |), bi AS (
        |  SELECT doc_id, words[x] AS p, words[x + 1] AS w
        |  FROM (SELECT doc_id, words, unnest(range(1, len(words))) AS x
        |        FROM docs WHERE len(words) >= 2)
        |), bic AS (SELECT p, w, count(*) AS cb FROM bi GROUP BY 1, 2),
        |pc AS (SELECT p, count(*) AS cp FROM bi GROUP BY 1),
        |vc AS (SELECT count(DISTINCT t0) AS v FROM (
        |  SELECT unnest(string_split(coalesce(text, ''), ' ')) AS t0
        |  FROM documents))
        |SELECT doc_id, count(*) AS n_bigrams,
        |       round(-avg(ln((cb + 0.5::DOUBLE) / (cp + 0.5::DOUBLE * v))
        |         / ln(2.0::DOUBLE)), 6) AS cross_entropy_bits
        |FROM bi JOIN bic USING (p, w) JOIN pc USING (p) CROSS JOIN vc
        |GROUP BY 1""".stripMargin,

    "text_perplexity_buckets" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS words
        |  FROM documents
        |), bi AS (
        |  SELECT doc_id, words[x] AS p, words[x + 1] AS w
        |  FROM (SELECT doc_id, words, unnest(range(1, len(words))) AS x
        |        FROM docs WHERE len(words) >= 2)
        |), bic AS (SELECT p, w, count(*) AS cb FROM bi GROUP BY 1, 2),
        |pc AS (SELECT p, count(*) AS cp FROM bi GROUP BY 1),
        |vc AS (SELECT count(DISTINCT t0) AS v FROM (
        |  SELECT unnest(string_split(coalesce(text, ''), ' ')) AS t0
        |  FROM documents)),
        |ce AS (
        |  SELECT doc_id, count(*) AS n_bigrams,
        |         round(-avg(ln((cb + 0.5::DOUBLE) / (cp + 0.5::DOUBLE * v))
        |           / ln(2.0::DOUBLE)), 6) AS cross_entropy_bits
        |  FROM bi JOIN bic USING (p, w) JOIN pc USING (p) CROSS JOIN vc
        |  GROUP BY 1
        |), wl AS (
        |  SELECT ce.*, d.lang FROM ce JOIN documents d USING (doc_id)
        |), th AS (
        |  SELECT lang,
        |         quantile_cont(cross_entropy_bits, (1.0::DOUBLE)/3) AS t1,
        |         quantile_cont(cross_entropy_bits, (2.0::DOUBLE)/3) AS t2
        |  FROM wl GROUP BY 1
        |)
        |SELECT doc_id, lang, n_bigrams, cross_entropy_bits,
        |       CASE WHEN cross_entropy_bits <= t1 THEN 'head'
        |            WHEN cross_entropy_bits <= t2 THEN 'middle'
        |            ELSE 'tail' END AS bucket
        |FROM wl JOIN th USING (lang)""".stripMargin,

    // concat-then-chunk packing: running token offsets per shard
    // (doc_id mod 8) sliced into 2048-token chunks
    "sample_pack" ->
      """WITH base AS (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |         len(string_split(coalesce(text, ''), ' ')) AS n_tokens
        |  FROM documents
        |), run AS (
        |  SELECT *, sum(n_tokens) OVER (
        |    PARTITION BY shard ORDER BY doc_id
        |    ROWS UNBOUNDED PRECEDING) AS end_offset
        |  FROM base
        |)
        |SELECT doc_id, shard, n_tokens,
        |       CAST(end_offset - n_tokens AS BIGINT) AS start_offset,
        |       CAST((end_offset - n_tokens) // 2048 AS BIGINT) AS first_chunk,
        |       CAST((end_offset - 1) // 2048 AS BIGINT) AS last_chunk,
        |       CAST((end_offset - 1) // 2048
        |            - (end_offset - n_tokens) // 2048 + 1 AS BIGINT) AS n_chunks
        |FROM run""".stripMargin,

    "sample_split" ->
      s"""SELECT doc_id,
         |       ${duckHash("'split:' || CAST(doc_id AS VARCHAR)")} % 1000 AS bucket,
         |       CASE WHEN ${duckHash("'split:' || CAST(doc_id AS VARCHAR)")} % 1000 < 800 THEN 'train'
         |            WHEN ${duckHash("'split:' || CAST(doc_id AS VARCHAR)")} % 1000 < 900 THEN 'val'
         |            ELSE 'test' END AS split
         |FROM documents""".stripMargin,

    "sample_deterministic" ->
      s"""SELECT doc_id, lang, n_chars FROM documents
         |WHERE ${duckHash("'s1:' || CAST(doc_id AS VARCHAR)")} % 1000 < 100""".stripMargin,

    // at most 50 docs per lang by (salt, doc_id) hash rank, doc_id
    // tiebreak — the same portable hash as sample_deterministic
    "sample_stratified" ->
      s"""WITH r AS (
         |  SELECT doc_id, lang,
         |         row_number() OVER (PARTITION BY lang
         |           ORDER BY ${duckHash("'strat:' || CAST(doc_id AS VARCHAR)")} ASC,
         |                    doc_id ASC) AS srank
         |  FROM documents
         |)
         |SELECT doc_id, lang, srank FROM r WHERE srank <= 50""".stripMargin,

    // per-domain cap: the same hash-rank window, partitioned by the
    // canonical host the synth CTE derives
    "sample_domain_cap" ->
      s"""$urlCanonCte, r AS (
         |  SELECT doc_id, host,
         |         row_number() OVER (PARTITION BY host
         |           ORDER BY ${duckHash("'domcap:' || CAST(doc_id AS VARCHAR)")} ASC,
         |                    doc_id ASC) AS srank
         |  FROM canon
         |)
         |SELECT doc_id, host, srank FROM r WHERE srank <= 6""".stripMargin,

    // the batch sessionization minus each user's OPEN tail session
    // (only closed sessions stream out); per-event e2 value snap
    "ingest_streaming_sessionize" ->
      s"""WITH e AS (
         |  SELECT event_id, epoch_us(ts) AS ts_us, user_id, value FROM events
         |), l AS (
         |  SELECT *, lag(ts_us) OVER (
         |    PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_ts
         |  FROM e
         |), n AS (
         |  SELECT *, CASE WHEN prev_ts IS NULL OR ts_us - prev_ts > 1800000000
         |                 THEN 1 ELSE 0 END AS is_new
         |  FROM l
         |), s AS (
         |  SELECT *, CAST(sum(is_new) OVER (
         |    PARTITION BY user_id ORDER BY ts_us, event_id
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
         |  FROM n
         |), agg AS (
         |  SELECT user_id, session_seq, count(*) AS n_events,
         |         min(ts_us) AS start_us, max(ts_us) AS end_us,
         |         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         |           AS sum_value_e2,
         |         max(session_seq) OVER (PARTITION BY user_id) AS last_seq
         |  FROM s GROUP BY 1, 2
         |)
         |SELECT user_id, session_seq, n_events, start_us, end_us, sum_value_e2
         |FROM agg WHERE session_seq < last_seq""".stripMargin,

    // identical lag → gap flag → running-sum windows, µs integers
    "events_sessionize" ->
      s"""WITH e AS (
         |  SELECT event_id, epoch_us(ts) AS ts_us, user_id, value FROM events
         |), l AS (
         |  SELECT *, lag(ts_us) OVER (
         |    PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_ts
         |  FROM e
         |), n AS (
         |  SELECT *, CASE WHEN prev_ts IS NULL OR ts_us - prev_ts > 1800000000
         |                 THEN 1 ELSE 0 END AS is_new
         |  FROM l
         |), s AS (
         |  SELECT *, CAST(sum(is_new) OVER (
         |    PARTITION BY user_id ORDER BY ts_us, event_id
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
         |  FROM n
         |)
         |SELECT user_id, session_seq, count(*) AS n_events,
         |       min(ts_us) AS start_us, max(ts_us) AS end_us,
         |       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         |         AS sum_value_e2,
         |       (max(ts_us) - min(ts_us)) // 1000000 AS duration_sec
         |FROM s GROUP BY 1, 2""".stripMargin,

    // same integer half-up ratio over the same sums
    "text_fertility" ->
      s"""WITH f AS (
         |  SELECT lang, length(coalesce(text, '')) AS chars,
         |         len(string_split(coalesce(text, ''), ' ')) AS toks
         |  FROM documents
         |), a AS (
         |  SELECT lang, count(*) AS n_docs,
         |         CAST(sum(chars) AS BIGINT) AS sum_chars,
         |         CAST(sum(toks) AS BIGINT) AS sum_tokens
         |  FROM f GROUP BY 1
         |)
         |SELECT lang, n_docs, sum_chars, sum_tokens,
         |       CAST(floor((2.0 * sum_chars * 1000000.0 + sum_tokens)
         |            / (2.0 * sum_tokens)) AS BIGINT) AS fertility_e6
         |FROM a""".stripMargin,

    // same lifetime collapse + day counts
    "meta_series_churn" ->
      s"""$S, lifetimes AS (
         |  SELECT metric, labels,
         |         min(ts_us // 1000000 // 86400 * 86400) AS first_day,
         |         max(ts_us // 1000000 // 86400 * 86400) AS last_day
         |  FROM samples GROUP BY 1, 2
         |), b AS (SELECT first_day AS day, count(*) AS n_born FROM lifetimes GROUP BY 1),
         |d AS (SELECT last_day AS day, count(*) AS n_died FROM lifetimes GROUP BY 1)
         |SELECT coalesce(b.day, d.day) AS day,
         |       coalesce(n_born, 0) AS n_born,
         |       coalesce(n_died, 0) AS n_died
         |FROM b FULL OUTER JOIN d ON b.day = d.day""".stripMargin,

    "meta_series_count" ->
      s"""$S
         |SELECT metric, count(*) AS n_series
         |FROM (SELECT DISTINCT metric, labels FROM samples)
         |GROUP BY 1 ORDER BY n_series DESC, metric ASC LIMIT 10""".stripMargin,

    // a plain inequality join in DuckDB vs graft's bucketed
    // equi-join — different plans, identical containment
    "events_range_join" ->
      s"""WITH e AS (
         |  SELECT event_id, epoch_us(ts) AS ts_us, user_id FROM events
         |), l AS (
         |  SELECT *, lag(ts_us) OVER (
         |    PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_ts
         |  FROM e
         |), n AS (
         |  SELECT *, CASE WHEN prev_ts IS NULL OR ts_us - prev_ts > 1800000000
         |                 THEN 1 ELSE 0 END AS is_new
         |  FROM l
         |), s AS (
         |  SELECT *, CAST(sum(is_new) OVER (
         |    PARTITION BY user_id ORDER BY ts_us, event_id
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
         |  FROM n
         |), agg AS (
         |  SELECT user_id, session_seq, min(ts_us) AS start_us,
         |         max(ts_us) + 1 AS end_us
         |  FROM s GROUP BY 1, 2
         |)
         |SELECT e2.event_id, e2.user_id, e2.ts_us, a.session_seq
         |FROM e e2 JOIN agg a ON e2.user_id = a.user_id
         |  AND e2.ts_us >= a.start_us AND e2.ts_us < a.end_us""".stripMargin,

    // DuckDB's native ASOF LEFT JOIN vs graft's window plan — two
    // different algorithms must agree row-for-row
    "events_asof_enrich" ->
      s"""WITH ev AS (
         |  SELECT event_id, epoch_us(ts) AS ts_us, user_id FROM events
         |), r AS (
         |  SELECT user_id, epoch_us(ts) AS ts_us, max(value) AS asof_value
         |  FROM events WHERE event_type = 'click'
         |  GROUP BY 1, 2
         |)
         |SELECT e.event_id, e.user_id, e.ts_us, s.asof_value
         |FROM ev e ASOF LEFT JOIN r s
         |  ON e.user_id = s.user_id AND e.ts_us >= s.ts_us""".stripMargin,

    // identical chained min-windows; the level CASE checks deepest
    // first (chain timestamps increase, so in-window implies all
    // intermediates are)
    "events_funnel" ->
      s"""WITH e AS (
         |  SELECT user_id, epoch_us(ts) AS ts_us, event_type FROM events
         |), w0 AS (
         |  SELECT *, min(CASE WHEN event_type = 'view' THEN ts_us END)
         |    OVER (PARTITION BY user_id) AS t0 FROM e
         |), w1 AS (
         |  SELECT *, min(CASE WHEN event_type = 'click' AND t0 IS NOT NULL
         |                          AND ts_us > t0 THEN ts_us END)
         |    OVER (PARTITION BY user_id) AS t1 FROM w0
         |), w2 AS (
         |  SELECT *, min(CASE WHEN event_type = 'purchase' AND t1 IS NOT NULL
         |                          AND ts_us > t1 THEN ts_us END)
         |    OVER (PARTITION BY user_id) AS t2 FROM w1
         |)
         |SELECT DISTINCT user_id, t0, t1, t2,
         |  CAST(CASE WHEN t2 IS NOT NULL AND t2 - t0 <= 86400000000 THEN 3
         |            WHEN t1 IS NOT NULL AND t1 - t0 <= 86400000000 THEN 2
         |            WHEN t0 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS level
         |FROM w2""".stripMargin,

    "events_retention" ->
      s"""WITH d AS (
         |  SELECT DISTINCT user_id, epoch_us(ts) // 1000000 // 86400 AS day
         |  FROM events
         |), c AS (
         |  SELECT user_id, day,
         |         min(day) OVER (PARTITION BY user_id) AS cohort_day
         |  FROM d
         |)
         |SELECT cohort_day, day - cohort_day AS day_offset,
         |       count(DISTINCT user_id) AS n_users
         |FROM c GROUP BY 1, 2""".stripMargin,

    // the same literal rate CASE + the same portable hash bucket
    "sample_mixture" ->
      s"""WITH r AS (
         |  SELECT doc_id, source,
         |         CASE source WHEN 'src0' THEN 1000 WHEN 'src1' THEN 1000
         |              WHEN 'src2' THEN 500 WHEN 'src3' THEN 500
         |              WHEN 'src4' THEN 250 ELSE 100 END AS keep_rate
         |  FROM documents
         |)
         |SELECT doc_id, source, keep_rate FROM r
         |WHERE ${duckHash("'mix:' || CAST(doc_id AS VARCHAR)")} % 1000 < keep_rate""".stripMargin,

    // DSIR replayed verbatim: hashed-unigram counts, add-1 smoothed
    // log ratio per bucket, per-doc b-SORTED fold (the 6-decimal
    // snap absorbs libm-ln ulps, same as text_perplexity)
    "sample_dsir" ->
      s"""WITH w AS (
         |  SELECT doc_id, source,
         |         unnest(string_split(coalesce(text, ''), ' ')) AS w
         |  FROM documents
         |), wb AS (
         |  SELECT doc_id, source, ${duckHash("w")} % 64 AS b FROM w
         |), dc AS (
         |  SELECT doc_id, source, b, count(*) AS c FROM wb GROUP BY 1, 2, 3
         |), rc AS (SELECT b, count(*) AS cr FROM wb GROUP BY 1),
         |tc AS (
         |  SELECT b, count(*) AS ct FROM wb
         |  WHERE source IN ('src0', 'src1') GROUP BY 1
         |), tot AS (
         |  SELECT count(*)::BIGINT AS nr,
         |         sum(CASE WHEN source IN ('src0', 'src1')
         |             THEN 1 ELSE 0 END)::BIGINT AS nt
         |  FROM wb
         |), model AS (
         |  SELECT rc.b,
         |         ln((coalesce(ct, 0) + 1.0::DOUBLE) / (nt + 64.0::DOUBLE))
         |       - ln((cr + 1.0::DOUBLE) / (nr + 64.0::DOUBLE)) AS log_ratio
         |  FROM rc LEFT JOIN tc USING (b) CROSS JOIN tot
         |), g AS (
         |  SELECT doc_id, source,
         |         list_reduce(list_prepend(0::BIGINT,
         |           list(c ORDER BY b)), (a, x) -> a + x) AS n_words,
         |         round(list_reduce(list_prepend(0.0::DOUBLE,
         |           list(CAST(c AS DOUBLE) * log_ratio ORDER BY b)),
         |           (a, x) -> a + x), 6) AS log_weight
         |  FROM dc JOIN model USING (b) GROUP BY 1, 2
         |)
         |SELECT doc_id, source, n_words, log_weight,
         |       CAST(CASE WHEN log_weight > 0.0 THEN 1 ELSE 0 END AS BIGINT)
         |         AS is_target_like
         |FROM g""".stripMargin,

    "text_quality_classifier" -> qcOracle,

    // α = 1/2 via sqrt (correctly-rounded IEEE — no libm pow);
    // Σw/ΣN as lang-SORTED folds, mirroring the Spark plan exactly
    "sample_temperature" ->
      s"""WITH c AS (
         |  SELECT lang, count(*) AS n_g, sqrt(CAST(count(*) AS DOUBLE)) AS w
         |  FROM documents GROUP BY lang
         |), tot AS (
         |  SELECT list_reduce(list_prepend(0.0::DOUBLE,
         |           list(w ORDER BY lang)), (a, x) -> a + x) AS w_tot,
         |         list_reduce(list_prepend(0::BIGINT,
         |           list(n_g ORDER BY lang)), (a, x) -> a + x) AS n_tot
         |  FROM c
         |), r AS (
         |  SELECT c.lang,
         |         CAST(least(1000.0, floor(600 * CAST(t.n_tot AS DOUBLE) * c.w
         |           / (t.w_tot * CAST(c.n_g AS DOUBLE)))) AS INT) AS keep_rate
         |  FROM c, tot t
         |)
         |SELECT d.doc_id, d.lang, r.keep_rate
         |FROM documents d JOIN r ON d.lang = r.lang
         |WHERE ${duckHash("'temp:' || CAST(doc_id AS VARCHAR)")} % 1000 < keep_rate""".stripMargin,

    // scale = max|x|/127, q = halfUp(x/max|x|·127) — float32 inputs
    // are exact in double, so the per-element IEEE ops match
    "embedding_quantize" ->
      s"""WITH p AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
         |), m AS (
         |  SELECT vec_id, vec,
         |         list_max(list_transform(vec, x -> abs(x))) AS mx
         |  FROM p
         |)
         |SELECT vec_id,
         |  CAST(floor(mx / 127.0 * 1000000.0 + 0.5) AS BIGINT) AS scale_e6,
         |  array_to_string(
         |    CASE WHEN mx = 0.0 THEN list_transform(vec, x -> 0)
         |         ELSE list_transform(vec, x -> CAST(floor(x / mx * 127.0 + 0.5) AS INT))
         |    END, ',') AS qvec_str
         |FROM m""".stripMargin,

    "pipeline_corpus_prep" ->
      s"""$corpusPrepCte
         |SELECT doc_id, quality_score_e6,
         |  CASE WHEN ${duckHash("'split:' || CAST(doc_id AS VARCHAR)")} % 1000 < 800 THEN 'train'
         |       WHEN ${duckHash("'split:' || CAST(doc_id AS VARCHAR)")} % 1000 < 900 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM kept WHERE doc_id = keep_id""".stripMargin,

    "pipeline_corpus_prep_full" -> {
      def score(words: Seq[String]) =
        s"len(list_filter(toks, t -> t IN (${words.map(w => s"'$w'").mkString(", ")})))"
      val Seq(en, es, de, fr) = TextAnalysis.StopWords.map(_._2)
      val allStops = TextAnalysis.StopWords.flatMap(_._2).distinct
        .map(w => s"'$w'").mkString(", ")
      s"""WITH t AS (
         |  SELECT doc_id, text, string_split(text, ' ') AS toks,
         |         length(replace(text, ' ', '')) AS n_alpha
         |  FROM documents
         |), f AS (
         |  SELECT doc_id, text, toks, n_alpha, len(toks) AS n_words,
         |         ${score(en)} AS score_en, ${score(es)} AS score_es,
         |         ${score(de)} AS score_de, ${score(fr)} AS score_fr
         |  FROM t
         |), g AS (
         |  SELECT doc_id, text, toks, n_alpha, n_words,
         |    least(n_words::BIGINT * 5000, 500000) +
         |    least(score_en::BIGINT * 1500000 // n_words, 300000) +
         |    CASE WHEN n_alpha >= 3 * n_words AND n_alpha <= 8 * n_words
         |         THEN 200000 ELSE 0 END AS quality_score_e6,
         |    CASE
         |      WHEN score_en = 0 AND score_es = 0 AND score_de = 0 AND score_fr = 0 THEN 'und'
         |      WHEN score_en >= score_es AND score_en >= score_de AND score_en >= score_fr THEN 'en'
         |      WHEN score_es >= score_de AND score_es >= score_fr THEN 'es'
         |      WHEN score_de >= score_fr THEN 'de'
         |      ELSE 'fr'
         |    END AS pred_lang
         |  FROM f
         |), gated AS (
         |  SELECT doc_id, text, pred_lang, quality_score_e6 FROM g
         |  WHERE quality_score_e6 >= 500000
         |    AND n_words >= 20 AND n_words <= 100000
         |    AND n_alpha >= 3 * n_words AND n_alpha <= 10 * n_words
         |    AND len(list_filter(toks, t -> regexp_matches(t, '[a-zA-Z]'))) * 5
         |          >= n_words * 4
         |    AND len(list_filter(toks, t -> t LIKE '#%' OR t LIKE '%...%')) * 10
         |          <= n_words
         |    AND len(list_filter([$allStops], w -> list_contains(toks, w))) >= 2
         |), dd AS (
         |  SELECT doc_id, pred_lang, quality_score_e6 FROM (
         |    SELECT *, min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
         |    FROM gated)
         |  WHERE doc_id = keep_id
         |), c AS (
         |  SELECT pred_lang, count(*) AS n_g,
         |         sqrt(CAST(count(*) AS DOUBLE)) AS w
         |  FROM dd GROUP BY pred_lang
         |), tot AS (
         |  SELECT list_reduce(list_prepend(0.0::DOUBLE,
         |           list(w ORDER BY pred_lang)), (a, x) -> a + x) AS w_tot,
         |         list_reduce(list_prepend(0::BIGINT,
         |           list(n_g ORDER BY pred_lang)), (a, x) -> a + x) AS n_tot
         |  FROM c
         |), r AS (
         |  SELECT c.pred_lang,
         |         CAST(least(1000.0, floor(800 * CAST(t2.n_tot AS DOUBLE) * c.w
         |           / (t2.w_tot * CAST(c.n_g AS DOUBLE)))) AS INT) AS keep_rate
         |  FROM c, tot t2
         |)
         |SELECT d.doc_id, d.pred_lang, d.quality_score_e6, r.keep_rate,
         |  CASE WHEN ${duckHash("'split:' || CAST(doc_id AS VARCHAR)")} % 1000 < 800 THEN 'train'
         |       WHEN ${duckHash("'split:' || CAST(doc_id AS VARCHAR)")} % 1000 < 900 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM dd d JOIN r ON d.pred_lang = r.pred_lang
         |WHERE ${duckHash("'cprep:' || CAST(doc_id AS VARCHAR)")} % 1000 < r.keep_rate""".stripMargin
    },

    // web front: the url-canonical keep-min window over the synth
    // CTE, then the quality gate + text-dedup window + split over
    // the thinned survivors — the same stage algebra as the Spark
    // composition
    "pipeline_web_prep" -> {
      val en = TextAnalysis.StopWords.head._2
      val score =
        s"len(list_filter(toks, t -> t IN (${en.map(w => s"'$w'").mkString(", ")})))"
      s"""$urlCanonCte, urlkept AS (
         |  SELECT d.doc_id, c.canonical_url, d.text
         |  FROM documents d JOIN (
         |    SELECT doc_id, canonical_url,
         |           min(doc_id) OVER (PARTITION BY canonical_url) AS ukeep
         |    FROM canon) c ON d.doc_id = c.doc_id
         |  WHERE c.doc_id = c.ukeep
         |), t2 AS (
         |  SELECT doc_id, canonical_url, text,
         |         string_split(text, ' ') AS toks,
         |         length(replace(text, ' ', '')) AS n_alpha
         |  FROM urlkept
         |), f2 AS (
         |  SELECT doc_id, canonical_url, text, len(toks) AS n_words,
         |         n_alpha, $score AS n_stop
         |  FROM t2
         |), g2 AS (
         |  SELECT doc_id, canonical_url, text,
         |    least(n_words::BIGINT * 5000, 500000) +
         |    least(n_stop::BIGINT * 1500000 // n_words, 300000) +
         |    CASE WHEN n_alpha >= 3 * n_words AND n_alpha <= 8 * n_words
         |         THEN 200000 ELSE 0 END AS quality_score_e6
         |  FROM f2
         |), kept2 AS (
         |  SELECT doc_id, canonical_url, quality_score_e6,
         |         min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
         |  FROM g2 WHERE quality_score_e6 >= 500000
         |)
         |SELECT doc_id, canonical_url, quality_score_e6,
         |  CASE WHEN ${duckHash("'split:' || CAST(doc_id AS VARCHAR)")} % 1000 < 800 THEN 'train'
         |       WHEN ${duckHash("'split:' || CAST(doc_id AS VARCHAR)")} % 1000 < 900 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM kept2 WHERE doc_id = keep_id""".stripMargin
    },

    // the prepared train split fed straight into sequence packing —
    // the full front-of-training composition
    "pipeline_pack_prep" ->
      s"""$corpusPrepCte, train AS (
         |  SELECT doc_id FROM kept
         |  WHERE doc_id = keep_id
         |    AND ${duckHash("'split:' || CAST(doc_id AS VARCHAR)")} % 1000 < 800
         |), base AS (
         |  SELECT d.doc_id, d.doc_id % 8 AS shard,
         |         len(string_split(coalesce(d.text, ''), ' ')) AS n_tokens
         |  FROM documents d JOIN train ON d.doc_id = train.doc_id
         |), run AS (
         |  SELECT *, sum(n_tokens) OVER (
         |    PARTITION BY shard ORDER BY doc_id
         |    ROWS UNBOUNDED PRECEDING) AS end_offset
         |  FROM base
         |)
         |SELECT doc_id, shard, n_tokens,
         |       CAST(end_offset - n_tokens AS BIGINT) AS start_offset,
         |       CAST((end_offset - n_tokens) // 2048 AS BIGINT) AS first_chunk,
         |       CAST((end_offset - 1) // 2048 AS BIGINT) AS last_chunk,
         |       CAST((end_offset - 1) // 2048
         |            - (end_offset - n_tokens) // 2048 + 1 AS BIGINT) AS n_chunks
         |FROM run""".stripMargin,

    "mm_binary_pipeline" ->
      """WITH b AS (
        |  SELECT doc_id, text, length(text) AS n_bytes,
        |         coalesce(list_sum(list_transform(string_split(text, ''), c -> ascii(c)))::BIGINT, 0) AS bsum
        |  FROM documents
        |)
        |SELECT doc_id, n_bytes, bsum % 997 AS checksum,
        |       ascii(substr(text, 1, 1)) % 64 + 1 AS width,
        |       ascii(substr(text, 2, 1)) % 64 + 1 AS height,
        |       CASE WHEN n_bytes = 0 THEN CAST(0 AS BIGINT)
        |            ELSE CAST(floor(bsum::DOUBLE / n_bytes * 1000000 + 0.5) AS BIGINT) END AS mean_intensity_e6
        |FROM b""".stripMargin,

    // every 3rd 256-byte frame; the corpus is ASCII so byte slices
    // equal substr char slices
    "mm_frame_sample" ->
      s"""WITH f AS (
         |  SELECT doc_id, text,
         |         unnest([i for i in range(0, (length(text) + 255) // 256) if i % 3 = 0]) AS i
         |  FROM documents
         |)
         |SELECT doc_id, i AS frame_idx,
         |       length(substr(text, (i*256 + 1)::INT, 256)) AS frame_len,
         |       ${duckHash("substr(text, (i*256 + 1)::INT, 256)")} AS frame_h
         |FROM f""".stripMargin,

    // the average-pool replayed on ascii codes (ASCII corpus —
    // byte ≡ char): identical floor-division bucket bounds and means
    "mm_resize" ->
      """WITH codes AS (
        |  SELECT doc_id,
        |         list_transform(str_split_regex(coalesce(text, ''), ''),
        |           c -> ascii(c)::BIGINT) AS cs
        |  FROM documents
        |)
        |SELECT doc_id, len(cs)::BIGINT AS n_bytes,
        |  array_to_string(list_transform(range(0, 16), i ->
        |    CASE WHEN ((i+1) * len(cs)) // 16 <= (i * len(cs)) // 16 THEN 0
        |         ELSE list_aggregate(
        |                cs[(i * len(cs)) // 16 + 1 : ((i+1) * len(cs)) // 16],
        |                'sum')
        |              // (((i+1) * len(cs)) // 16 - (i * len(cs)) // 16)
        |    END), ',') AS resized
        |FROM codes""".stripMargin,

    // the aHash stub replayed: ascii codes (ASCII corpus — byte ≡
    // char), 16-byte block sums vs the global mean by integer
    // cross-multiply, 4×15-bit band join, hamming via bit_count(xor)
    "mm_phash_dedup" ->
      """WITH twins AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |         upper(substr(text, 1, 1)) || substr(text, 2)
        |  FROM documents WHERE doc_id % 7 = 0
        |), codes AS (
        |  SELECT doc_id,
        |         list_transform(str_split_regex(coalesce(text, ''), ''),
        |           c -> ascii(c)::BIGINT) AS cs
        |  FROM twins
        |), ph AS (
        |  SELECT doc_id,
        |    CAST(list_reduce(list_prepend(0::BIGINT,
        |      list_transform(range(0, 60), b ->
        |        CASE WHEN b * 16 < len(cs) AND
        |          list_aggregate(cs[b*16 + 1 : least(b*16 + 16, len(cs))], 'sum')
        |            * len(cs)
        |          > list_aggregate(cs, 'sum')
        |            * (least(b*16 + 16, len(cs)) - b*16)
        |        THEN (1::BIGINT << b) ELSE 0::BIGINT END)),
        |      (a, x) -> a + x) AS BIGINT) AS phash
        |  FROM codes
        |), banded AS (
        |  SELECT doc_id, phash, t.b AS band,
        |         (phash >> (t.b * 15)) & 32767 AS band_val
        |  FROM ph, range(0, 4) t(b)
        |), pairs AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         a.phash AS pa, b.phash AS pb
        |  FROM banded a JOIN banded b
        |    ON a.band = b.band AND a.band_val = b.band_val
        |       AND a.doc_id < b.doc_id
        |)
        |SELECT doc_a, doc_b, bit_count(xor(pa, pb)) AS hamming
        |FROM pairs WHERE bit_count(xor(pa, pb)) <= 2""".stripMargin,

    "rel_q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       round(sum(l_extendedprice), 2) AS sum_base_price,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |       CAST(floor(sum(l_quantity) + 0.5) AS BIGINT) * 10000 // count(*) AS avg_qty_e4,
        |       CAST(floor(sum(l_discount) * 100 + 0.5) AS BIGINT) * 100 // count(*) AS avg_disc_e4,
        |       count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY 1, 2""".stripMargin,

    "rel_join_broadcast" ->
      """SELECT r_name, count(*) AS n_orders,
        |       round(sum(o_totalprice), 2) AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1""".stripMargin,

    "rel_join_shuffle" ->
      """SELECT o_orderpriority,
        |       count(DISTINCT o_orderkey) AS n_orders,
        |       count(*) AS n_lineitems,
        |       round(sum(l_extendedprice), 2) AS returned_value
        |FROM orders
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_returnflag = 'R'
        |GROUP BY 1""".stripMargin,

    "rel_q3_topk" ->
      """SELECT o_orderkey, CAST(o_orderdate AS DATE)::VARCHAR AS o_orderdate,
        |       o_orderpriority,
        |       CAST(floor(sum(l_extendedprice * (1 - l_discount)) * 10000 + 0.5) AS BIGINT) AS revenue_e4
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-01'
        |  AND l_shipdate > TIMESTAMP '1998-06-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue_e4 DESC, o_orderkey ASC LIMIT 10""".stripMargin,

    // the bucketed layout must not change the join's result
    "rel_join_bucketed" ->
      """SELECT o_orderpriority,
        |       count(DISTINCT o_orderkey) AS n_orders,
        |       count(*) AS n_lineitems,
        |       round(sum(l_extendedprice), 2) AS returned_value
        |FROM orders
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_returnflag = 'R'
        |GROUP BY 1""".stripMargin,

    "meta_label_values" ->
      s"""$S
         |SELECT substr(l, 6) AS label_value,
         |       count(DISTINCT metric) AS n_metrics,
         |       count(*) AS n_samples
         |FROM (SELECT metric, unnest(labels) AS l FROM samples)
         |WHERE l LIKE 'user=%'
         |GROUP BY 1""".stripMargin,

    "meta_label_names" ->
      s"""$S
         |SELECT split_part(l, '=', 1) AS label_name,
         |       count(DISTINCT metric) AS n_metrics,
         |       count(*) AS n_samples
         |FROM (SELECT metric, unnest(labels) AS l FROM samples)
         |GROUP BY 1""".stripMargin,

    // the parsed selector {__name__=~"click|view",user=~"1[0-9]"}
    // compiles to the same anchored-regex + whole-"k=v" matcher
    // semantics as the read path ('^click|view$' alternation quirk
    // included; the label regex anchors over the full "user=..." pair)
    "meta_series" ->
      s"""$S
         |SELECT metric, array_to_string(labels, ',') AS labels_str,
         |       count(*) AS n_samples,
         |       min(ts_us // 1000000) AS first_t,
         |       max(ts_us // 1000000) AS last_t
         |FROM samples
         |WHERE $inWin
         |  AND regexp_full_match(metric, '(?:click|view)')
         |  AND len([l for l in labels if regexp_full_match(l, 'user=(?:1[0-9])')]) > 0
         |GROUP BY metric, labels""".stripMargin,

    // ---- PromQL evaluator (serve/PromQL.scala semantics: windows
    // [t-d, t) on the grid t = start + k*step; exact integer
    // micro-units; rate = observed-span Δv/Δt, half-up rounded) ----

    "promql_rate_range" ->
      s"""$dedupCte, sel AS (
         |  SELECT * FROM deduped
         |  WHERE metric = 'click'
         |    AND t_sec >= ${WinStartSec - 604800} AND t_sec <= ${WinEndSec - 1}
         |), grid AS (SELECT unnest(range(0, 16)) AS k),
         |j AS (
         |  SELECT s.metric, s.labels, $WinStartSec + g.k * 86400 AS t,
         |         s.t_sec, s.value
         |  FROM sel s JOIN grid g
         |    ON s.t_sec >= $WinStartSec + g.k * 86400 - 604800
         |   AND s.t_sec <  $WinStartSec + g.k * 86400
         |), st AS (
         |  SELECT metric, labels, t, count(*) AS n,
         |         min(t_sec) AS tf, max(t_sec) AS tl,
         |         arg_min(value, t_sec) AS vf, arg_max(value, t_sec) AS vl
         |  FROM j GROUP BY 1, 2, 3
         |)
         |SELECT CAST(NULL AS VARCHAR) AS metric, array_to_string(labels, ',') AS labels_str, t,
         |       CAST(floor((2.0 * (CAST(floor((vl - vf) * 100 + 0.5) AS BIGINT) * 10000)
         |            + (tl - tf)) / (2.0 * (tl - tf))) AS BIGINT) AS v_e6
         |FROM st
         |WHERE n >= 2 AND tl > tf
         |  AND CAST(floor((vl - vf) * 100 + 0.5) AS BIGINT) >= 0""".stripMargin,

    "promql_agg_topk" ->
      s"""$dedupCte, sel AS (
         |  SELECT * FROM deduped
         |  WHERE metric = 'click'
         |    AND t_sec >= ${WinStartSec - 86400} AND t_sec <= ${WinEndSec - 1}
         |), grid AS (SELECT unnest(range(0, 16)) AS k),
         |j AS (
         |  SELECT s.labels, $WinStartSec + g.k * 86400 AS t, s.value
         |  FROM sel s JOIN grid g
         |    ON s.t_sec >= $WinStartSec + g.k * 86400 - 86400
         |   AND s.t_sec <  $WinStartSec + g.k * 86400
         |), sot AS (
         |  SELECT labels, t,
         |         CAST(floor(sum(value) * 100 + 0.5) AS BIGINT) * 10000 AS v_e6
         |  FROM j GROUP BY 1, 2
         |), agg AS (
         |  SELECT list_filter(labels, l -> l LIKE 'user=%') AS labels, t,
         |         CAST(sum(v_e6) AS BIGINT) AS v_e6
         |  FROM sot GROUP BY 1, 2
         |), rk AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY t
         |    ORDER BY v_e6 DESC, array_to_string(labels, ',') ASC) AS rk
         |  FROM agg
         |)
         |SELECT CAST(NULL AS VARCHAR) AS metric,
         |       array_to_string(labels, ',') AS labels_str, t, v_e6
         |FROM rk WHERE rk <= 3""".stripMargin,

    "promql_instant" ->
      s"""$dedupCte, sel AS (
         |  SELECT * FROM deduped
         |  WHERE metric = 'click'
         |    AND t_sec >= ${WinStartSec - 86400 + 1} AND t_sec <= $WinEndSec
         |), grid AS (SELECT unnest(range(0, 61)) AS k),
         |j AS (
         |  SELECT s.metric, s.labels, $WinStartSec + g.k * 21600 AS t,
         |         s.t_sec, s.value
         |  FROM sel s JOIN grid g
         |    ON s.t_sec <= $WinStartSec + g.k * 21600
         |   AND s.t_sec >  $WinStartSec + g.k * 21600 - 86400
         |), st AS (
         |  SELECT metric, labels, t, arg_max(value, t_sec) AS v
         |  FROM j GROUP BY 1, 2, 3
         |)
         |SELECT metric, array_to_string(labels, ',') AS labels_str, t,
         |       CAST(floor(v * 1000000 + 0.5) AS BIGINT) AS v_e6
         |FROM st""".stripMargin,

    // staleness markers: one per click series at (last sample in the
    // window's first week) + 1s; the latest EVENT per (series, step)
    // wins — a SAMPLE beats a same-second marker (the /read
    // pass-through tie rule, kept consistent) — and a winning
    // marker drops the step
    "promql_stale" ->
      s"""$dedupCte, sel AS (
         |  SELECT * FROM deduped
         |  WHERE metric = 'click'
         |    AND t_sec >= ${WinStartSec - 86400 + 1} AND t_sec <= $WinEndSec
         |), mk AS (
         |  SELECT metric, labels, max(t_sec) + 1 AS t_sec,
         |         CAST(NULL AS DOUBLE) AS value, 1 AS dead
         |  FROM deduped
         |  WHERE metric = 'click' AND t_sec <= ${WinStartSec + 7 * 86400}
         |  GROUP BY 1, 2
         |), ev AS (
         |  SELECT metric, labels, t_sec, value, 0 AS dead FROM sel
         |  UNION ALL
         |  SELECT metric, labels, t_sec, value, dead FROM mk
         |  WHERE t_sec >= ${WinStartSec - 86400 + 1} AND t_sec <= $WinEndSec
         |), grid AS (SELECT unnest(range(0, 61)) AS k),
         |j AS (
         |  SELECT e.metric, e.labels, $WinStartSec + g.k * 21600 AS t,
         |         e.t_sec, e.value, e.dead
         |  FROM ev e JOIN grid g
         |    ON e.t_sec <= $WinStartSec + g.k * 21600
         |   AND e.t_sec >  $WinStartSec + g.k * 21600 - 86400
         |), rk AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY metric, labels, t
         |    ORDER BY t_sec DESC, dead ASC) AS rn
         |  FROM j
         |)
         |SELECT metric, array_to_string(labels, ',') AS labels_str, t,
         |       CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v_e6
         |FROM rk WHERE rn = 1 AND dead = 0""".stripMargin,

    // value-anchored ^(?:…)$ regex matchers: full-match on the
    // label's value (mirrors Prometheus FastRegexMatcher), NOT the
    // reference's loose bare-anchor concat used by the read_* rows
    "promql_selector_regex" ->
      s"""$dedupCte, sel AS (
         |  SELECT * FROM deduped
         |  WHERE metric = 'click'
         |    AND len(list_filter(labels, x -> regexp_full_match(x, 'user=(?:1|2)'))) > 0
         |    AND len(list_filter(labels, x -> regexp_full_match(x, 'k=(?:4.*)'))) = 0
         |    AND t_sec >= ${WinStartSec - 86400} AND t_sec <= ${WinEndSec - 1}
         |), grid AS (SELECT unnest(range(0, 16)) AS k),
         |j AS (
         |  SELECT s.metric, s.labels, $WinStartSec + g.k * 86400 AS t, s.value
         |  FROM sel s JOIN grid g
         |    ON s.t_sec >= $WinStartSec + g.k * 86400 - 86400
         |   AND s.t_sec <  $WinStartSec + g.k * 86400
         |)
         |SELECT CAST(NULL AS VARCHAR) AS metric, array_to_string(labels, ',') AS labels_str, t,
         |       CAST(floor(sum(value) * 100 + 0.5) AS BIGINT) * 10000 AS v_e6
         |FROM j GROUP BY 1, 2, 3""".stripMargin,

    "promql_info" -> infoOracle("", "true"),

    "promql_info_selector" ->
      infoOracle(" AND list_contains(labels, 'os=linux')", "l LIKE 'os=%'"),

    // offset 1d shifts each [t-1d, t) window back one day: the data
    // window for grid point t is [t-2d, t-1d)
    "promql_offset_last" ->
      s"""$dedupCte, sel AS (
         |  SELECT * FROM deduped
         |  WHERE metric = 'click'
         |    AND t_sec >= $WinStartSec AND t_sec <= ${WinEndSec - 86400 - 1}
         |), grid AS (SELECT unnest(range(0, 14)) AS k),
         |j AS (
         |  SELECT s.metric, s.labels, ${WinStartSec + 172800} + g.k * 86400 AS t,
         |         s.t_sec, s.value
         |  FROM sel s JOIN grid g
         |    ON s.t_sec >= ${WinStartSec + 172800} + g.k * 86400 - 172800
         |   AND s.t_sec <  ${WinStartSec + 172800} + g.k * 86400 - 86400
         |), st AS (
         |  SELECT metric, labels, t, arg_max(value, t_sec) AS v
         |  FROM j GROUP BY 1, 2, 3
         |)
         |SELECT metric, array_to_string(labels, ',') AS labels_str, t,
         |       CAST(floor(v * 1000000 + 0.5) AS BIGINT) AS v_e6
         |FROM st""".stripMargin,

    // offset -1d: the data window for grid point t is [t, t+1d)
    "promql_neg_offset" ->
      s"""$dedupCte, sel AS (
         |  SELECT * FROM deduped
         |  WHERE metric = 'click'
         |    AND t_sec >= $WinStartSec AND t_sec <= ${WinEndSec - 1}
         |), grid AS (SELECT unnest(range(0, 15)) AS k),
         |j AS (
         |  SELECT s.metric, s.labels, $WinStartSec + g.k * 86400 AS t,
         |         s.t_sec, s.value
         |  FROM sel s JOIN grid g
         |    ON s.t_sec >= $WinStartSec + g.k * 86400
         |   AND s.t_sec <  $WinStartSec + g.k * 86400 + 86400
         |), st AS (
         |  SELECT metric, labels, t, arg_max(value, t_sec) AS v
         |  FROM j GROUP BY 1, 2, 3
         |)
         |SELECT metric, array_to_string(labels, ',') AS labels_str, t,
         |       CAST(floor(v * 1000000 + 0.5) AS BIGINT) AS v_e6
         |FROM st""".stripMargin,

    // both sides aggregate to (user, t) integers; the ratio is IEEE
    // division of the SAME two integers in either engine
    "promql_ratio" ->
      s"""$dedupCte, grid AS (SELECT unnest(range(0, 16)) AS k),
         |j AS (
         |  SELECT s.metric, s.labels, $WinStartSec + g.k * 86400 AS t, s.value
         |  FROM deduped s JOIN grid g
         |    ON s.t_sec >= $WinStartSec + g.k * 86400 - 86400
         |   AND s.t_sec <  $WinStartSec + g.k * 86400
         |  WHERE s.metric IN ('click', 'view')
         |    AND s.t_sec >= ${WinStartSec - 86400} AND s.t_sec <= ${WinEndSec - 1}
         |), sot AS (
         |  SELECT metric, labels, t,
         |         CAST(floor(sum(value) * 100 + 0.5) AS BIGINT) * 10000 AS v_e6
         |  FROM j GROUP BY 1, 2, 3
         |), agg AS (
         |  SELECT metric, list_filter(labels, l -> l LIKE 'user=%') AS labels, t,
         |         CAST(sum(v_e6) AS BIGINT) AS v_e6
         |  FROM sot GROUP BY 1, 2, 3
         |)
         |SELECT CAST(NULL AS VARCHAR) AS metric,
         |       array_to_string(a.labels, ',') AS labels_str, a.t,
         |       CAST(floor(CAST(a.v_e6 AS DOUBLE) / CAST(b.v_e6 AS DOUBLE)
         |            * 1000000 + 0.5) AS BIGINT) AS v_e6
         |FROM agg a JOIN agg b ON a.labels = b.labels AND a.t = b.t
         |WHERE a.metric = 'click' AND b.metric = 'view' AND b.v_e6 != 0""".stripMargin,

    // quantile_cont ≡ Spark percentile (the ts_quantile_over_time
    // pairing), per [t-1d, t) window per series
    "promql_quantile" ->
      s"""$dedupCte, grid AS (SELECT unnest(range(0, 16)) AS k),
         |j AS (
         |  SELECT s.metric, s.labels, $WinStartSec + g.k * 86400 AS t, s.value
         |  FROM deduped s JOIN grid g
         |    ON s.t_sec >= $WinStartSec + g.k * 86400 - 86400
         |   AND s.t_sec <  $WinStartSec + g.k * 86400
         |  WHERE s.metric = 'click'
         |    AND s.t_sec >= ${WinStartSec - 86400} AND s.t_sec <= ${WinEndSec - 1}
         |)
         |SELECT CAST(NULL AS VARCHAR) AS metric, array_to_string(labels, ',') AS labels_str, t,
         |       CAST(floor(quantile_cont(value, 0.9) * 1000000 + 0.5) AS BIGINT) AS v_e6
         |FROM j GROUP BY 1, 2, 3""".stripMargin,

    // the last in-window pair per series; reset-aware delta
    "promql_irate" ->
      s"""${promqlPairCte("click", 604800L)}, last AS (
         |  SELECT metric, labels, t, max(t_sec) AS lt,
         |         arg_max(value, t_sec) AS lv, arg_max(prev_v, t_sec) AS pv,
         |         arg_max(prev_t, t_sec) AS pt
         |  FROM j WHERE prev_t IS NOT NULL AND prev_t >= t - 604800
         |  GROUP BY 1, 2, 3
         |)
         |SELECT CAST(NULL AS VARCHAR) AS metric, array_to_string(labels, ',') AS labels_str, t,
         |       CAST(floor((CASE WHEN lv >= pv THEN lv - pv ELSE lv END)
         |            / CAST(lt - pt AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS v_e6
         |FROM last""".stripMargin,

    "promql_idelta" ->
      s"""${promqlPairCte("click", 604800L)}, last AS (
         |  SELECT metric, labels, t,
         |         arg_max(value, t_sec) AS lv, arg_max(prev_v, t_sec) AS pv
         |  FROM j WHERE prev_t IS NOT NULL AND prev_t >= t - 604800
         |  GROUP BY 1, 2, 3
         |)
         |SELECT CAST(NULL AS VARCHAR) AS metric, array_to_string(labels, ',') AS labels_str, t,
         |       CAST(floor((lv - pv) * 1000000 + 0.5) AS BIGINT) AS v_e6
         |FROM last""".stripMargin,

    "promql_changes" ->
      s"""${promqlPairCte("click", 604800L)}
         |SELECT CAST(NULL AS VARCHAR) AS metric, array_to_string(labels, ',') AS labels_str, t,
         |       CAST(sum(CASE WHEN prev_t IS NOT NULL AND prev_t >= t - 604800
         |                      AND value != prev_v THEN 1 ELSE 0 END)
         |            * 1000000 AS BIGINT) AS v_e6
         |FROM j GROUP BY metric, labels, t""".stripMargin,

    "promql_resets" ->
      s"""${promqlPairCte("click", 604800L)}
         |SELECT CAST(NULL AS VARCHAR) AS metric, array_to_string(labels, ',') AS labels_str, t,
         |       CAST(sum(CASE WHEN prev_t IS NOT NULL AND prev_t >= t - 604800
         |                      AND value < prev_v THEN 1 ELSE 0 END)
         |            * 1000000 AS BIGINT) AS v_e6
         |FROM j GROUP BY metric, labels, t""".stripMargin,

    "promql_deriv" ->
      s"""${promqlRegCte("click", 604800L)}
         |SELECT CAST(NULL AS VARCHAR) AS metric, array_to_string(labels, ',') AS labels_str, t,
         |       CAST(floor(CAST(numer AS DOUBLE) / CAST(denom AS DOUBLE)
         |            * 10000 + 0.5) AS BIGINT) AS v_e6
         |FROM fin WHERE denom > 0""".stripMargin,

    // the fitted line read at t' = d + h = 604800 + 86400 = 691200
    "promql_predict" ->
      s"""${promqlRegCte("click", 604800L)}
         |SELECT CAST(NULL AS VARCHAR) AS metric, array_to_string(labels, ',') AS labels_str, t,
         |       CAST(floor((CAST(s_v AS DOUBLE) / n
         |            + CAST(numer AS DOUBLE) / CAST(denom AS DOUBLE)
         |            * (691200 - CAST(s_t AS DOUBLE) / n)) * 10000 + 0.5) AS BIGINT) AS v_e6
         |FROM fin WHERE denom > 0""".stripMargin,

    // round-to-unit then clamp [10, 40], on micro-unit integers
    "promql_clamp_round" ->
      s"""${promqlSotCte("click")}
         |SELECT CAST(NULL AS VARCHAR) AS metric,
         |       array_to_string(labels, ',') AS labels_str, t,
         |       least(greatest(
         |         CAST(floor(CAST(v_e6 AS DOUBLE) / 1000000.0 + 0.5) AS BIGINT) * 1000000,
         |         10000000), 40000000) AS v_e6
         |FROM sot""".stripMargin,

    // > 30 filters the per-user sums (metric already dropped by sum by)
    "promql_filter" ->
      s"""${promqlSotCte("click")}, agg AS (
         |  SELECT list_filter(labels, l -> l LIKE 'user=%') AS labels, t,
         |         CAST(sum(v_e6) AS BIGINT) AS v_e6
         |  FROM sot GROUP BY 1, 2
         |)
         |SELECT CAST(NULL AS VARCHAR) AS metric,
         |       array_to_string(labels, ',') AS labels_str, t, v_e6
         |FROM agg WHERE v_e6 > 30000000""".stripMargin,

    // unless: per-user click sums minus users whose view sums > 35
    "promql_setop" ->
      s"""$dedupCte, grid AS (SELECT unnest(range(0, 16)) AS k),
         |j AS (
         |  SELECT s.metric, s.labels, $WinStartSec + g.k * 86400 AS t, s.value
         |  FROM deduped s JOIN grid g
         |    ON s.t_sec >= $WinStartSec + g.k * 86400 - 86400
         |   AND s.t_sec <  $WinStartSec + g.k * 86400
         |  WHERE s.metric IN ('click', 'view')
         |    AND s.t_sec >= ${WinStartSec - 86400} AND s.t_sec <= ${WinEndSec - 1}
         |), sot AS (
         |  SELECT metric, labels, t,
         |         CAST(floor(sum(value) * 100 + 0.5) AS BIGINT) * 10000 AS v_e6
         |  FROM j GROUP BY 1, 2, 3
         |), agg AS (
         |  SELECT metric, list_filter(labels, l -> l LIKE 'user=%') AS labels,
         |         t, CAST(sum(v_e6) AS BIGINT) AS v_e6
         |  FROM sot GROUP BY 1, 2, 3
         |)
         |SELECT CAST(NULL AS VARCHAR) AS metric,
         |       array_to_string(c.labels, ',') AS labels_str, c.t, c.v_e6
         |FROM agg c
         |WHERE c.metric = 'click' AND NOT EXISTS (
         |  SELECT 1 FROM agg v
         |  WHERE v.metric = 'view' AND v.labels = c.labels AND v.t = c.t
         |    AND v.v_e6 > 35000000)""".stripMargin,

    // 1 on each 1d window where click{user=7} has no sample
    "promql_absent" ->
      s"""$dedupCte, grid AS (
         |  SELECT $WinStartSec + unnest(range(0, 16)) * 86400 AS t
         |), present AS (
         |  SELECT DISTINCT g.t FROM deduped s JOIN grid g
         |    ON s.t_sec >= g.t - 86400 AND s.t_sec < g.t
         |  WHERE s.metric = 'click' AND list_contains(s.labels, 'user=7')
         |)
         |SELECT CAST(NULL AS VARCHAR) AS metric, 'user=7' AS labels_str,
         |       g.t, CAST(1000000 AS BIGINT) AS v_e6
         |FROM grid g WHERE g.t NOT IN (SELECT t FROM present)""".stripMargin,

    "promql_present" ->
      s"""$dedupCte, grid AS (
         |  SELECT $WinStartSec + unnest(range(0, 16)) * 86400 AS t
         |)
         |SELECT DISTINCT CAST(NULL AS VARCHAR) AS metric,
         |       array_to_string(s.labels, ',') AS labels_str, g.t,
         |       CAST(1000000 AS BIGINT) AS v_e6
         |FROM deduped s JOIN grid g
         |  ON s.t_sec >= g.t - 86400 AND s.t_sec < g.t
         |WHERE s.metric = 'click' AND list_contains(s.labels, 'user=7')""".stripMargin,

    // ts_of_*: per-window argmax/argmin/last timestamps via ranked
    // windows — value ties break to the LATEST t_sec, the engine's
    // lexicographic (value, t) / (-value, t) struct-max rule
    "promql_ts_of" ->
      s"""$dedupCte, sel AS (
         |  SELECT * FROM deduped
         |  WHERE metric = 'click'
         |    AND t_sec >= ${WinStartSec - 86400} AND t_sec <= ${WinEndSec - 1}
         |), grid AS (SELECT unnest(range(0, 16)) AS k),
         |j AS (
         |  SELECT s.metric, s.labels, $WinStartSec + g.k * 86400 AS t,
         |         s.t_sec, s.value
         |  FROM sel s JOIN grid g
         |    ON s.t_sec >= $WinStartSec + g.k * 86400 - 86400
         |   AND s.t_sec <  $WinStartSec + g.k * 86400
         |), rk AS (
         |  SELECT metric, labels, t, t_sec,
         |         row_number() OVER (PARTITION BY metric, labels, t
         |           ORDER BY value DESC, t_sec DESC) AS rmax,
         |         row_number() OVER (PARTITION BY metric, labels, t
         |           ORDER BY value ASC, t_sec DESC) AS rmin,
         |         row_number() OVER (PARTITION BY metric, labels, t
         |           ORDER BY t_sec DESC) AS rlast
         |  FROM j
         |)
         |SELECT CAST(NULL AS VARCHAR) AS metric, array_to_string(labels, ',') AS labels_str, t,
         |       CAST(t_sec AS BIGINT) * 1000000 AS v_e6, 'max' AS fn
         |FROM rk WHERE rmax = 1
         |UNION ALL
         |SELECT CAST(NULL AS VARCHAR), array_to_string(labels, ','), t,
         |       CAST(t_sec AS BIGINT) * 1000000, 'min'
         |FROM rk WHERE rmin = 1
         |UNION ALL
         |SELECT CAST(NULL AS VARCHAR), array_to_string(labels, ','), t,
         |       CAST(t_sec AS BIGINT) * 1000000, 'last'
         |FROM rk WHERE rlast = 1""".stripMargin,

    // the quoted selector answers exactly what the ident form would
    "promql_selector_quoted" ->
      s"""${promqlSotCte("click")}
         |SELECT CAST(NULL AS VARCHAR) AS metric, array_to_string(labels, ',') AS labels_str, t, v_e6
         |FROM sot WHERE list_contains(labels, 'user=1')""".stripMargin,

    // the first family: earliest sample per [t-1d, t) window — value
    // (e6-snapped like last_over_time) and timestamp legs
    "promql_first_over_time" ->
      s"""$dedupCte, sel AS (
         |  SELECT * FROM deduped
         |  WHERE metric = 'click'
         |    AND t_sec >= ${WinStartSec - 86400} AND t_sec <= ${WinEndSec - 1}
         |), grid AS (SELECT unnest(range(0, 16)) AS k),
         |j AS (
         |  SELECT s.metric, s.labels, $WinStartSec + g.k * 86400 AS t,
         |         s.t_sec, s.value
         |  FROM sel s JOIN grid g
         |    ON s.t_sec >= $WinStartSec + g.k * 86400 - 86400
         |   AND s.t_sec <  $WinStartSec + g.k * 86400
         |), agg AS (
         |  SELECT metric, labels, t,
         |         arg_min(value, t_sec) AS firstv, min(t_sec) AS tf
         |  FROM j GROUP BY 1, 2, 3
         |)
         |SELECT metric, array_to_string(labels, ',') AS labels_str, t,
         |       CAST(floor(firstv * 1000000 + 0.5) AS BIGINT) AS v_e6,
         |       'first' AS fn
         |FROM agg
         |UNION ALL
         |SELECT CAST(NULL AS VARCHAR), array_to_string(labels, ','), t,
         |       CAST(tf AS BIGINT) * 1000000, 'tsfirst'
         |FROM agg""".stripMargin,

    // cross-series p90 of the per-series 1d sums, per step
    "promql_quantile_agg" ->
      s"""${promqlSotCte("click")}
         |SELECT CAST(NULL AS VARCHAR) AS metric, '' AS labels_str, t,
         |       CAST(floor(quantile_cont(CAST(v_e6 AS DOUBLE), 0.9) + 0.5) AS BIGINT) AS v_e6
         |FROM sot GROUP BY t""".stripMargin,

    // % on e6 BIGINTs: both engines' integer `%` is the truncated
    // dividend-sign remainder — (a/1e6) mod (b/1e6) = (a mod b)/1e6
    "promql_mod" ->
      s"""${promqlSotCte("click")}
         |, agg AS (
         |  SELECT list_filter(labels, l -> l LIKE 'user=%') AS labels, t,
         |         CAST(sum(v_e6) AS BIGINT) AS v_e6
         |  FROM sot GROUP BY 1, 2
         |)
         |SELECT CAST(NULL AS VARCHAR) AS metric,
         |       array_to_string(labels, ',') AS labels_str, t,
         |       v_e6 % 3000000 AS v_e6
         |FROM agg""".stripMargin,

    // ^2 as one step of the rounded-multiply chain (the `*` formula)
    "promql_pow" ->
      s"""${promqlSotCte("click")}
         |, agg AS (
         |  SELECT list_filter(labels, l -> l LIKE 'user=%') AS labels, t,
         |         CAST(sum(v_e6) AS BIGINT) AS v_e6
         |  FROM sot GROUP BY 1, 2
         |)
         |SELECT CAST(NULL AS VARCHAR) AS metric,
         |       array_to_string(labels, ',') AS labels_str, t,
         |       CAST(floor(CAST(v_e6 AS DOUBLE) * CAST(v_e6 AS DOUBLE)
         |            / 1000000.0 + 0.5) AS BIGINT) AS v_e6
         |FROM agg""".stripMargin,

    // population stddev from clamped double moments — the same
    // formula text the evaluator runs, micro-unit rounded
    "promql_stddev_agg" ->
      s"""${promqlSotCte("click")}
         |, agg AS (
         |  SELECT list_filter(labels, l -> l LIKE 'user=%') AS labels, t,
         |         sum(CAST(v_e6 AS DOUBLE) / 1000000.0) AS sy,
         |         sum((CAST(v_e6 AS DOUBLE) / 1000000.0)
         |           * (CAST(v_e6 AS DOUBLE) / 1000000.0)) AS syy,
         |         count(*) AS n
         |  FROM sot GROUP BY 1, 2
         |)
         |SELECT CAST(NULL AS VARCHAR) AS metric,
         |       array_to_string(labels, ',') AS labels_str, t,
         |       CAST(floor(sqrt(greatest(syy / n - (sy / n) * (sy / n), 0.0))
         |            * 1000000 + 0.5) AS BIGINT) AS v_e6
         |FROM agg""".stripMargin,

    // 0 - v on the micro-unit integers
    "promql_neg" ->
      s"""${promqlSotCte("click")}
         |, agg AS (
         |  SELECT list_filter(labels, l -> l LIKE 'user=%') AS labels, t,
         |         CAST(sum(v_e6) AS BIGINT) AS v_e6
         |  FROM sot GROUP BY 1, 2
         |)
         |SELECT CAST(NULL AS VARCHAR) AS metric,
         |       array_to_string(labels, ',') AS labels_str, t,
         |       -v_e6 AS v_e6
         |FROM agg""".stripMargin,

    // rank partition = (t, the kept k-label), same tie order
    "promql_topk_by" ->
      s"""${promqlSotCte("click")}
         |, rk AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY t,
         |      array_to_string(list_filter(labels, l -> l LIKE 'k=%'), ',')
         |    ORDER BY v_e6 DESC, metric ASC,
         |             array_to_string(labels, ',') ASC) AS rk
         |  FROM sot
         |)
         |SELECT CAST(NULL AS VARCHAR) AS metric, array_to_string(labels, ',') AS labels_str, t, v_e6
         |FROM rk WHERE rk <= 2""".stripMargin,

    // the k first series by (metric, labels) order per step
    "promql_limitk" ->
      s"""${promqlSotCte("click")}
         |, rk AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY t
         |    ORDER BY metric ASC, array_to_string(labels, ',') ASC) AS rk
         |  FROM sot
         |)
         |SELECT CAST(NULL AS VARCHAR) AS metric, array_to_string(labels, ',') AS labels_str, t, v_e6
         |FROM rk WHERE rk <= 5""".stripMargin,

    // the identical md5-derived identity-hash band the evaluator uses
    "promql_limit_ratio" ->
      s"""${promqlSotCte("click")}
         |SELECT CAST(NULL AS VARCHAR) AS metric, array_to_string(labels, ',') AS labels_str, t, v_e6
         |FROM sot
         |WHERE (('0x' || substr(md5('|' || array_to_string(labels, ',')), 1, 15))::BIGINT
         |       % 1000000007) % 1000000 < 500000""".stripMargin,

    // MAD in pure integers: e2 snap → ×10 median (even-n midpoint
    // stays integral) → e3 deviations → ×10 second median → ×100
    // onto the micro-unit lattice; list ops mirror Spark's exactly
    "promql_mad" ->
      s"""${promqlSotCte("click")}
         |, st AS (
         |  SELECT metric, labels, t,
         |         list_sort(list(CAST(floor(value * 100 + 0.5) AS BIGINT))) AS vs
         |  FROM j GROUP BY 1, 2, 3
         |), m1 AS (SELECT *, len(vs) AS n FROM st),
         |m2 AS (
         |  SELECT *, CASE WHEN n % 2 = 1 THEN vs[(n + 1) // 2] * 10
         |                 ELSE (vs[n // 2] + vs[n // 2 + 1]) * 5 END AS med
         |  FROM m1
         |), m3 AS (
         |  SELECT *, list_sort(list_transform(vs, x -> abs(x * 10 - med))) AS devs
         |  FROM m2
         |)
         |SELECT CAST(NULL AS VARCHAR) AS metric, array_to_string(labels, ',') AS labels_str, t,
         |       (CASE WHEN n % 2 = 1 THEN devs[(n + 1) // 2] * 10
         |             ELSE (devs[n // 2] + devs[n // 2 + 1]) * 5 END) * 100 AS v_e6
         |FROM m3""".stripMargin,

    // extended grid warms the 2d for-window before the first
    // reported step; presence counts via a trailing RANGE window
    "rule_alert" ->
      s"""$dedupCte, grid AS (SELECT unnest(range(-2, 16)) AS k),
         |j AS (
         |  SELECT s.labels, $WinStartSec + g.k * 86400 AS t, s.value
         |  FROM deduped s JOIN grid g
         |    ON s.t_sec >= $WinStartSec + g.k * 86400 - 86400
         |   AND s.t_sec <  $WinStartSec + g.k * 86400
         |  WHERE s.metric = 'click'
         |    AND s.t_sec >= ${WinStartSec - 259200} AND s.t_sec <= ${WinEndSec - 1}
         |), sot AS (
         |  SELECT labels, t,
         |         CAST(floor(sum(value) * 100 + 0.5) AS BIGINT) * 10000 AS v_e6
         |  FROM j GROUP BY 1, 2
         |), agg AS (
         |  SELECT list_filter(labels, l -> l LIKE 'user=%') AS labels, t,
         |         CAST(sum(v_e6) AS BIGINT) AS v_e6
         |  FROM sot GROUP BY 1, 2
         |), m AS (SELECT * FROM agg WHERE v_e6 > 30000000),
         |st AS (
         |  SELECT labels, t, count(*) OVER (
         |    PARTITION BY labels ORDER BY t
         |    RANGE BETWEEN 172800 PRECEDING AND CURRENT ROW) AS n
         |  FROM m
         |)
         |SELECT CAST(NULL AS VARCHAR) AS metric,
         |       array_to_string(list_sort(list_concat(labels,
         |         ['alertname=click_hot',
         |          'alertstate=' || CASE WHEN n >= 3 THEN 'firing'
         |                                ELSE 'pending' END])), ',') AS labels_str,
         |       t, CAST(1000000 AS BIGINT) AS v_e6
         |FROM st WHERE t >= $WinStartSec""".stripMargin,

    // the recorded series must equal the rule's direct evaluation
    // (value round-trips exactly through the double micro-units)
    "rule_record" ->
      s"""${promqlSotCte("click")}
         |SELECT 'click:daily:by_user' AS metric,
         |       array_to_string(list_filter(labels, l -> l LIKE 'user=%'), ',')
         |         AS labels_str,
         |       t, CAST(sum(v_e6) AS BIGINT) AS v_e6
         |FROM sot GROUP BY 2, 3""".stripMargin,

    "promql_timestamp" ->
      s"""$dedupCte, sel AS (
         |  SELECT * FROM deduped
         |  WHERE metric = 'click'
         |    AND t_sec >= ${WinStartSec - 86400 + 1} AND t_sec <= $WinEndSec
         |), grid AS (SELECT unnest(range(0, 61)) AS k),
         |j AS (
         |  SELECT s.metric, s.labels, $WinStartSec + g.k * 21600 AS t, s.t_sec
         |  FROM sel s JOIN grid g
         |    ON s.t_sec <= $WinStartSec + g.k * 21600
         |   AND s.t_sec >  $WinStartSec + g.k * 21600 - 86400
         |), st AS (
         |  SELECT metric, labels, t, max(t_sec) AS ts
         |  FROM j GROUP BY 1, 2, 3
         |)
         |SELECT CAST(NULL AS VARCHAR) AS metric,
         |       array_to_string(labels, ',') AS labels_str, t,
         |       (t - ts) * 1000000 AS v_e6
         |FROM st""".stripMargin,

    // the same sequential [level, trend] fold via list_reduce with a
    // prepended init pair — identical arithmetic order, so the
    // doubles match bit-for-bit (the left-fold portability contract)
    "promql_holt" ->
      s"""$dedupCte, grid AS (SELECT unnest(range(0, 16)) AS k),
         |j AS (
         |  SELECT s.metric, s.labels, $WinStartSec + g.k * 86400 AS t,
         |         s.t_sec, s.value
         |  FROM deduped s JOIN grid g
         |    ON s.t_sec >= $WinStartSec + g.k * 86400 - 604800
         |   AND s.t_sec <  $WinStartSec + g.k * 86400
         |  WHERE s.metric = 'click'
         |    AND s.t_sec >= ${WinStartSec - 604800} AND s.t_sec <= ${WinEndSec - 1}
         |), lst AS (
         |  SELECT metric, labels, t, list(value ORDER BY t_sec) AS vs
         |  FROM j GROUP BY 1, 2, 3
         |)
         |SELECT CAST(NULL AS VARCHAR) AS metric, array_to_string(labels, ',') AS labels_str, t,
         |  CAST(floor(
         |    list_reduce(
         |      list_concat([[vs[1], vs[2] - vs[1]]],
         |                  list_transform(vs[2:], x -> [x, 0.0])),
         |      (acc, p) -> [0.5 * p[1] + (1.0 - 0.5) * (acc[1] + acc[2]),
         |                   0.5 * ((0.5 * p[1] + (1.0 - 0.5) * (acc[1] + acc[2]))
         |                          - acc[1]) + (1.0 - 0.5) * acc[2]]
         |    )[1] * 1000000 + 0.5) AS BIGINT) AS v_e6
         |FROM lst WHERE len(vs) >= 2""".stripMargin,

    // Spark evaluates through a DATE (tz-free); the mirror uses
    // DuckDB's own date arithmetic — the proleptic Gregorian calendar
    // is exact in both
    "promql_label_join" ->
      s"""${promqlSotCte("click")}
         |SELECT CAST(NULL AS VARCHAR) AS metric,
         |       array_to_string(list_sort(list_concat(labels,
         |         ['id=' ||
         |          coalesce(substr(list_filter(labels, l -> l LIKE 'k=%')[1], 3), '')
         |          || '-' ||
         |          coalesce(substr(list_filter(labels, l -> l LIKE 'user=%')[1], 6), '')])),
         |         ',') AS labels_str,
         |       t, v_e6
         |FROM sot""".stripMargin,

    "promql_calendar" ->
      s"""WITH grid AS (
         |  SELECT $WinStartSec + unnest(range(0, 16)) * 86400 AS t
         |)
         |SELECT CAST(NULL AS VARCHAR) AS metric, '' AS labels_str, t,
         |       CAST((t // 86400 + 4) % 7 * 1000000
         |            + date_part('month', DATE '1970-01-01'
         |                + CAST(t // 86400 AS INT)) * 100000000 AS BIGINT) AS v_e6
         |FROM grid""".stripMargin,

    "promql_sqrt" ->
      s"""${promqlSotCte("click")}, agg AS (
         |  SELECT list_filter(labels, l -> l LIKE 'user=%') AS labels, t,
         |         CAST(sum(v_e6) AS BIGINT) AS v_e6
         |  FROM sot GROUP BY 1, 2
         |)
         |SELECT CAST(NULL AS VARCHAR) AS metric,
         |       array_to_string(labels, ',') AS labels_str, t,
         |       CAST(floor(sqrt(CAST(v_e6 AS DOUBLE) / 1000000.0)
         |            * 1000000 + 0.5) AS BIGINT) AS v_e6
         |FROM agg WHERE v_e6 >= 0""".stripMargin,

    // the digit-extraction log2 fold, replicated step-for-step (all
    // arithmetic exactly specified by IEEE 754 → identical bits);
    // ln + log2 + log10 all scale the one fixed-point log2
    // the log2 fold replicated as a RECURSIVE CTE (one row-level
    // arithmetic step per iteration): at sf0.001's row alignment
    // DuckDB 1.0's vectorized list_reduce mis-evaluated this fold
    // with row-lane crosstalk NONDETERMINISTICALLY across runs —
    // struct state, list state, and barrier CTEs all failed; only
    // the recursive-CTE replication (the promql_pow_frac pattern)
    // is deterministic.
    "promql_log" ->
      (s"""${promqlSotCte("click")}, agg AS (
         |  SELECT list_filter(labels, l -> l LIKE 'user=%') AS labels, t,
         |         CAST(sum(v_e6) AS BIGINT) AS v_e6
         |  FROM sot GROUP BY 1, 2
         |), ln0 AS (
         |  SELECT labels, t, CAST(v_e6 AS DOUBLE) / CAST(1000000 AS DOUBLE) AS m,
         |         CAST(0 AS DOUBLE) AS e, CAST(0 AS DOUBLE) AS b, 0 AS i
         |  FROM agg WHERE v_e6 > 0
         |), lnit AS (
         |  SELECT * FROM ln0
         |  UNION ALL
         |  SELECT labels, t,
         |    CASE WHEN i < 64 THEN
         |      CASE WHEN m >= CAST(2 AS DOUBLE) THEN m / CAST(2 AS DOUBLE)
         |           WHEN m < CAST(1 AS DOUBLE) THEN m * CAST(2 AS DOUBLE) ELSE m END
         |    ELSE CASE WHEN m * m >= CAST(2 AS DOUBLE) THEN m * m / CAST(2 AS DOUBLE)
         |         ELSE m * m END END,
         |    CASE WHEN i < 64 THEN
         |      CASE WHEN m >= CAST(2 AS DOUBLE) THEN e + CAST(1 AS DOUBLE)
         |           WHEN m < CAST(1 AS DOUBLE) THEN e - CAST(1 AS DOUBLE) ELSE e END
         |    ELSE e END,
         |    CASE WHEN i < 64 THEN b
         |         ELSE CASE WHEN m * m >= CAST(2 AS DOUBLE)
         |              THEN b * CAST(2 AS DOUBLE) + CAST(1 AS DOUBLE)
         |              ELSE b * CAST(2 AS DOUBLE) END END,
         |    i + 1
         |  FROM lnit WHERE i < 88
         |)
         |SELECT CAST(NULL AS VARCHAR) AS metric,
         |       array_to_string(labels, ',') AS labels_str, t,
         |       CAST(floor((e * CAST(16777216 AS DOUBLE) + b) / 16777216.0
         |              * CAST(693147.1805599453 AS DOUBLE) + 0.5) AS BIGINT)
         |     + CAST(floor((e * CAST(16777216 AS DOUBLE) + b) / 16777216.0
         |              * CAST(1000000.0 AS DOUBLE) + 0.5) AS BIGINT)
         |     + CAST(floor((e * CAST(16777216 AS DOUBLE) + b) / 16777216.0
         |              * CAST(301029.99566398119 AS DOUBLE) + 0.5) AS BIGINT)
         |       AS v_e6
         |FROM lnit WHERE i = 88""".stripMargin)
        .replaceFirst("^WITH ", "WITH RECURSIVE "),

    // cube root via exp(ln(x)/3): the ln fold, the evaluator's
    // scalar-division rounding, then the exp digit fold (sqrt-chain
    // powers of two) — each step bit-identical to the Spark side
    // both folds as RECURSIVE CTEs — same list_reduce row-lane
    // hazard as promql_log (see there)
    "promql_exp" ->
      (s"""${promqlSotCte("click")}, agg AS (
         |  SELECT list_filter(labels, l -> l LIKE 'user=%') AS labels, t,
         |         CAST(sum(v_e6) AS BIGINT) AS v_e6
         |  FROM sot GROUP BY 1, 2
         |), ln0 AS (
         |  SELECT labels, t, CAST(v_e6 AS DOUBLE) / CAST(1000000 AS DOUBLE) AS m,
         |         CAST(0 AS DOUBLE) AS e, CAST(0 AS DOUBLE) AS b, 0 AS i
         |  FROM agg WHERE v_e6 > 0
         |), lnit AS (
         |  SELECT * FROM ln0
         |  UNION ALL
         |  SELECT labels, t,
         |    CASE WHEN i < 64 THEN
         |      CASE WHEN m >= CAST(2 AS DOUBLE) THEN m / CAST(2 AS DOUBLE)
         |           WHEN m < CAST(1 AS DOUBLE) THEN m * CAST(2 AS DOUBLE) ELSE m END
         |    ELSE CASE WHEN m * m >= CAST(2 AS DOUBLE) THEN m * m / CAST(2 AS DOUBLE)
         |         ELSE m * m END END,
         |    CASE WHEN i < 64 THEN
         |      CASE WHEN m >= CAST(2 AS DOUBLE) THEN e + CAST(1 AS DOUBLE)
         |           WHEN m < CAST(1 AS DOUBLE) THEN e - CAST(1 AS DOUBLE) ELSE e END
         |    ELSE e END,
         |    CASE WHEN i < 64 THEN b
         |         ELSE CASE WHEN m * m >= CAST(2 AS DOUBLE)
         |              THEN b * CAST(2 AS DOUBLE) + CAST(1 AS DOUBLE)
         |              ELSE b * CAST(2 AS DOUBLE) END END,
         |    i + 1
         |  FROM lnit WHERE i < 88
         |), lnv AS (
         |  SELECT labels, t,
         |         CAST(floor(CAST(CAST(floor((e * CAST(16777216 AS DOUBLE) + b)
         |             / 16777216.0 * CAST(693147.1805599453 AS DOUBLE) + 0.5) AS BIGINT)
         |             AS DOUBLE) / CAST(3.0 AS DOUBLE) + 0.5) AS BIGINT) AS v_e6
         |  FROM lnit WHERE i = 88
         |), ex0 AS (
         |  SELECT labels, t, v_e6,
         |         (${duckExpT("v_e6")}) - floor(${duckExpT("v_e6")}) AS g,
         |         CAST(1 AS DOUBLE) AS acc, CAST(2 AS DOUBLE) AS r, 0 AS j,
         |         CAST(floor(${duckExpT("v_e6")}) AS BIGINT) AS ip
         |  FROM lnv WHERE v_e6 <= 29850000
         |), exit0 AS (
         |  SELECT * FROM ex0
         |  UNION ALL
         |  SELECT labels, t, v_e6,
         |    CASE WHEN g + g >= CAST(1 AS DOUBLE) THEN g + g - CAST(1 AS DOUBLE)
         |         ELSE g + g END,
         |    CASE WHEN g + g >= CAST(1 AS DOUBLE) THEN acc * sqrt(r) ELSE acc END,
         |    sqrt(r), j + 1, ip
         |  FROM exit0 WHERE j < 48
         |)
         |SELECT CAST(NULL AS VARCHAR) AS metric,
         |       array_to_string(labels, ',') AS labels_str, t,
         |       CASE WHEN v_e6 <= -14600000 THEN 0
         |            ELSE CAST(floor(
         |              CASE WHEN ip >= 0
         |                   THEN acc * CAST(CAST(1 AS BIGINT) << ip AS DOUBLE)
         |                   ELSE acc / CAST(CAST(1 AS BIGINT) << (-ip) AS DOUBLE)
         |              END * CAST(1000000.0 AS DOUBLE)
         |              + CAST(0.5 AS DOUBLE)) AS BIGINT) END AS v_e6
         |FROM exit0 WHERE j = 48""".stripMargin)
        .replaceFirst("^WITH ", "WITH RECURSIVE "),

    // fractional ^: u = 2.5·lnD(|x|), overflow drop at u > 29.85,
    // deep underflow to 0 at u <= -14.6, result floor(expD(u)·1e6+.5)
    // — every fold step bit-identical to the Spark powFrac plan.
    // The folds are replicated as RECURSIVE CTEs (plain per-row
    // column arithmetic), NOT list_reduce lambdas: DuckDB 1.0's
    // vectorized list_reduce showed row-lane crosstalk when an exp
    // fold consumed an ln fold's output here — a DIFFERENT row's
    // value leaked into the fold state, nondeterministically across
    // runs (the hyp/exp rows' green list_reduce shapes never nest
    // fold-into-fold at double level). 88 ln steps + 48 exp steps
    // per row, each identical IEEE ops to the Spark side.
    "promql_pow_frac" ->
      (s"""${promqlSotCte("click")}, agg AS (
         |  SELECT list_filter(labels, l -> l LIKE 'user=%') AS labels, t,
         |         CAST(sum(v_e6) AS BIGINT) AS v_e6
         |  FROM sot GROUP BY 1, 2
         |), ln0 AS (
         |  SELECT labels, t, v_e6,
         |         abs(CAST(v_e6 AS DOUBLE)) / CAST(1000000.0 AS DOUBLE) AS m,
         |         CAST(0 AS DOUBLE) AS e, CAST(0 AS DOUBLE) AS b, 0 AS i
         |  FROM agg WHERE v_e6 > 0
         |), lnit AS (
         |  SELECT * FROM ln0
         |  UNION ALL
         |  SELECT labels, t, v_e6,
         |    CASE WHEN i < 64 THEN
         |      CASE WHEN m >= CAST(2 AS DOUBLE) THEN m / CAST(2 AS DOUBLE)
         |           WHEN m < CAST(1 AS DOUBLE) THEN m * CAST(2 AS DOUBLE) ELSE m END
         |    ELSE CASE WHEN m * m >= CAST(2 AS DOUBLE) THEN m * m / CAST(2 AS DOUBLE)
         |         ELSE m * m END END,
         |    CASE WHEN i < 64 THEN
         |      CASE WHEN m >= CAST(2 AS DOUBLE) THEN e + CAST(1 AS DOUBLE)
         |           WHEN m < CAST(1 AS DOUBLE) THEN e - CAST(1 AS DOUBLE) ELSE e END
         |    ELSE e END,
         |    CASE WHEN i < 64 THEN b
         |         ELSE CASE WHEN m * m >= CAST(2 AS DOUBLE)
         |              THEN b * CAST(2 AS DOUBLE) + CAST(1 AS DOUBLE)
         |              ELSE b * CAST(2 AS DOUBLE) END END,
         |    i + 1
         |  FROM lnit WHERE i < 88
         |), u AS (
         |  SELECT labels, t, v_e6,
         |         CAST('2.5' AS DOUBLE) * ((e * CAST(16777216 AS DOUBLE) + b)
         |           / CAST(16777216 AS DOUBLE)
         |           * CAST('0.6931471805599453' AS DOUBLE)) AS uu
         |  FROM lnit WHERE i = 88
         |  UNION ALL
         |  SELECT labels, t, v_e6, CAST(0 AS DOUBLE) AS uu
         |  FROM agg WHERE v_e6 = 0
         |), ex0 AS (
         |  SELECT labels, t, v_e6, uu,
         |         (uu * CAST('1.4426950408889634' AS DOUBLE))
         |           - floor(uu * CAST('1.4426950408889634' AS DOUBLE)) AS g,
         |         CAST(1 AS DOUBLE) AS acc, CAST(2 AS DOUBLE) AS r, 0 AS j,
         |         CAST(floor(uu * CAST('1.4426950408889634' AS DOUBLE)) AS BIGINT) AS ip
         |  FROM u WHERE uu <= CAST('29.85' AS DOUBLE) AND uu > CAST('-14.6' AS DOUBLE)
         |), exit0 AS (
         |  SELECT * FROM ex0
         |  UNION ALL
         |  SELECT labels, t, v_e6, uu,
         |    CASE WHEN g + g >= CAST(1 AS DOUBLE) THEN g + g - CAST(1 AS DOUBLE)
         |         ELSE g + g END,
         |    CASE WHEN g + g >= CAST(1 AS DOUBLE) THEN acc * sqrt(r) ELSE acc END,
         |    sqrt(r), j + 1, ip
         |  FROM exit0 WHERE j < 48
         |), ex AS (
         |  SELECT labels, t, v_e6, uu,
         |         CASE WHEN ip >= 0 THEN acc * CAST(CAST(1 AS BIGINT) << ip AS DOUBLE)
         |              ELSE acc / CAST(CAST(1 AS BIGINT) << (-ip) AS DOUBLE) END AS p
         |  FROM exit0 WHERE j = 48
         |)
         |SELECT CAST(NULL AS VARCHAR) AS metric,
         |       array_to_string(a.labels, ',') AS labels_str, a.t,
         |       CASE WHEN a.v_e6 = 0 THEN 0
         |            WHEN u.uu <= CAST('-14.6' AS DOUBLE) THEN 0
         |            ELSE CAST(floor(ex.p * CAST(1000000.0 AS DOUBLE)
         |                 + CAST(0.5 AS DOUBLE)) AS BIGINT) END AS v_e6
         |FROM agg a
         |JOIN u ON u.labels = a.labels AND u.t = a.t
         |LEFT JOIN ex ON ex.labels = a.labels AND ex.t = a.t
         |WHERE u.uu <= CAST('29.85' AS DOUBLE)""".stripMargin)
        .replaceFirst("^WITH ", "WITH RECURSIVE "),

    // sort_desc passes values through — the ordering itself is a
    // presentation contract (spec-asserted), the oracle pins values
    "promql_sort" ->
      s"""${promqlSotCte("click")}, agg AS (
         |  SELECT list_filter(labels, l -> l LIKE 'user=%') AS labels, t,
         |         CAST(sum(v_e6) AS BIGINT) AS v_e6
         |  FROM sot GROUP BY 1, 2
         |)
         |SELECT CAST(NULL AS VARCHAR) AS metric,
         |       array_to_string(labels, ',') AS labels_str, t, v_e6
         |FROM agg""".stripMargin,

    "promql_sort_by_label" ->
      s"""${promqlSotCte("click")}, agg AS (
         |  SELECT list_filter(labels, l -> l LIKE 'user=%') AS labels, t,
         |         CAST(sum(v_e6) AS BIGINT) AS v_e6
         |  FROM sot GROUP BY 1, 2
         |)
         |SELECT CAST(NULL AS VARCHAR) AS metric,
         |       array_to_string(labels, ',') AS labels_str, t, v_e6
         |FROM agg""".stripMargin,

    // the CORDIC rotation fold replicated; tan's pole/overflow drop
    // mirrored in the WHERE
    "promql_trig" ->
      s"""${promqlSotCte("click")}, agg AS (
         |  SELECT list_filter(labels, l -> l LIKE 'user=%') AS labels, t,
         |         CAST(sum(v_e6) AS BIGINT) AS v_e6
         |  FROM sot GROUP BY 1, 2
         |), $duckCordicConsts, red AS (
         |  SELECT labels, t, v_e6,
         |         CAST(v_e6 AS DOUBLE) / CAST(1000000 AS DOUBLE) AS tt
         |  FROM agg
         |), red2 AS (
         |  SELECT labels, t, tt,
         |    CAST(floor(tt / $duckHalfPi + CAST(0.5 AS DOUBLE)) AS BIGINT) AS k
         |  FROM red
         |), red3 AS (
         |  SELECT labels, t, tt - CAST(k AS DOUBLE) * $duckHalfPi AS r,
         |         ((k % 4) + 4) % 4 AS q
         |  FROM red2
         |), rot AS (
         |  SELECT labels, t, q, ${duckCordicRotate("r")} AS s
         |  FROM red3 CROSS JOIN consts
         |), sc AS (
         |  SELECT labels, t,
         |    CASE q WHEN 0 THEN s[2] WHEN 1 THEN s[1] WHEN 2 THEN -s[2] ELSE -s[1] END AS sind,
         |    CASE q WHEN 0 THEN s[1] WHEN 1 THEN -s[2] WHEN 2 THEN -s[1] ELSE s[2] END AS cosd
         |  FROM rot
         |)
         |SELECT CAST(NULL AS VARCHAR) AS metric,
         |       array_to_string(labels, ',') AS labels_str, t,
         |       ${duckMicro("sind")} + ${duckMicro("cosd")}
         |         + ${duckMicro("sind / cosd")} AS v_e6
         |FROM sc
         |WHERE cosd != $duckD0
         |  AND abs(sind / cosd) <= CAST('9.0e12' AS DOUBLE)""".stripMargin,

    // asin∘sin, acos∘cos (endpoint shortcut + vectoring fold on the
    // µ-rounded intermediates), deg∘rad — each µ-rounding replicated
    "promql_trig_inverse" ->
      s"""${promqlSotCte("click")}, agg AS (
         |  SELECT list_filter(labels, l -> l LIKE 'user=%') AS labels, t,
         |         CAST(sum(v_e6) AS BIGINT) AS v_e6
         |  FROM sot GROUP BY 1, 2
         |), $duckCordicConsts, red AS (
         |  SELECT labels, t, v_e6,
         |         CAST(v_e6 AS DOUBLE) / CAST(1000000 AS DOUBLE) AS tt
         |  FROM agg
         |), red2 AS (
         |  SELECT labels, t, v_e6, tt,
         |    CAST(floor(tt / $duckHalfPi + CAST(0.5 AS DOUBLE)) AS BIGINT) AS k
         |  FROM red
         |), red3 AS (
         |  SELECT labels, t, v_e6, tt - CAST(k AS DOUBLE) * $duckHalfPi AS r,
         |         ((k % 4) + 4) % 4 AS q
         |  FROM red2
         |), rot AS (
         |  SELECT labels, t, v_e6, q, ${duckCordicRotate("r")} AS s
         |  FROM red3 CROSS JOIN consts
         |), sc AS (
         |  SELECT labels, t, v_e6,
         |    ${duckMicro("CASE q WHEN 0 THEN s[2] WHEN 1 THEN s[1] WHEN 2 THEN -s[2] ELSE -s[1] END")} AS sin_e6,
         |    ${duckMicro("CASE q WHEN 0 THEN s[1] WHEN 1 THEN -s[2] WHEN 2 THEN -s[1] ELSE s[2] END")} AS cos_e6
         |  FROM rot
         |), inv AS (
         |  SELECT labels, t, v_e6, sin_e6, cos_e6,
         |    CAST(sin_e6 AS DOUBLE) / CAST(1000000 AS DOUBLE) AS st,
         |    CAST(cos_e6 AS DOUBLE) / CAST(1000000 AS DOUBLE) AS ct
         |  FROM sc
         |), inv2 AS (
         |  SELECT labels, t, v_e6,
         |    CASE WHEN st = CAST(1 AS DOUBLE) THEN $duckHalfPi
         |         WHEN st = CAST(-1 AS DOUBLE) THEN -$duckHalfPi
         |         ELSE ${duckCordicAtan("st / sqrt(CAST(1 AS DOUBLE) - st * st)")} END AS asd,
         |    CASE WHEN ct = CAST(1 AS DOUBLE) THEN $duckHalfPi
         |         WHEN ct = CAST(-1 AS DOUBLE) THEN -$duckHalfPi
         |         ELSE ${duckCordicAtan("ct / sqrt(CAST(1 AS DOUBLE) - ct * ct)")} END AS acd
         |  FROM inv CROSS JOIN consts
         |)
         |SELECT CAST(NULL AS VARCHAR) AS metric,
         |       array_to_string(labels, ',') AS labels_str, t,
         |       ${duckMicro("asd")} + ${duckMicro(s"$duckHalfPi - acd")}
         |     + CAST(floor(CAST(CAST(floor(CAST(v_e6 AS DOUBLE)
         |         * CAST('0.017453292519943295' AS DOUBLE)
         |         + CAST(0.5 AS DOUBLE)) AS BIGINT) AS DOUBLE)
         |         * CAST('57.29577951308232' AS DOUBLE)
         |         + CAST(0.5 AS DOUBLE)) AS BIGINT) AS v_e6
         |FROM inv2""".stripMargin,

    // the atan2 operator: Go's quadrant conventions over the CORDIC
    // vectoring fold, both sides' per-user sums joined on labels+t
    "promql_atan2" ->
      s"""${promqlSotCte("click")}, aggc AS (
         |  SELECT list_filter(labels, l -> l LIKE 'user=%') AS labels, t,
         |         CAST(sum(v_e6) AS BIGINT) AS v_e6
         |  FROM sot GROUP BY 1, 2
         |), j2 AS (
         |  SELECT s.labels, $WinStartSec + g.k * 86400 AS t, s.value
         |  FROM deduped s JOIN grid g
         |    ON s.t_sec >= $WinStartSec + g.k * 86400 - 86400
         |   AND s.t_sec <  $WinStartSec + g.k * 86400
         |  WHERE s.metric = 'view'
         |    AND s.t_sec >= ${WinStartSec - 86400} AND s.t_sec <= ${WinEndSec - 1}
         |), sot2 AS (
         |  SELECT labels, t,
         |         CAST(floor(sum(value) * 100 + 0.5) AS BIGINT) * 10000 AS v_e6
         |  FROM j2 GROUP BY 1, 2
         |), aggv AS (
         |  SELECT list_filter(labels, l -> l LIKE 'user=%') AS labels, t,
         |         CAST(sum(v_e6) AS BIGINT) AS v_e6
         |  FROM sot2 GROUP BY 1, 2
         |), $duckCordicConsts, pair AS (
         |  SELECT a.labels, a.t,
         |         CAST(a.v_e6 AS DOUBLE) / CAST(1000000 AS DOUBLE) AS y,
         |         CAST(b.v_e6 AS DOUBLE) / CAST(1000000 AS DOUBLE) AS x
         |  FROM aggc a JOIN aggv b ON a.labels = b.labels AND a.t = b.t
         |)
         |SELECT CAST(NULL AS VARCHAR) AS metric,
         |       array_to_string(labels, ',') AS labels_str, t,
         |       ${duckMicro(s"""CASE
         |         WHEN x > $duckD0 THEN ${duckCordicAtan("y / x")}
         |         WHEN x < $duckD0 AND y >= $duckD0
         |           THEN ${duckCordicAtan("y / x")} + CAST('3.141592653589793' AS DOUBLE)
         |         WHEN x < $duckD0 AND y < $duckD0
         |           THEN ${duckCordicAtan("y / x")} - CAST('3.141592653589793' AS DOUBLE)
         |         WHEN x = $duckD0 AND y > $duckD0 THEN $duckHalfPi
         |         WHEN x = $duckD0 AND y < $duckD0 THEN -$duckHalfPi
         |         ELSE $duckD0 END""")} AS v_e6
         |FROM pair CROSS JOIN consts""".stripMargin,

    // hyperbolics: exp/ln-fold compositions on the µ-rounded
    // intermediates, every term's domain total by construction
    // exp/ln folds as RECURSIVE CTEs over a tag-union of arguments —
    // same list_reduce row-lane hazard as promql_log (see there); the
    // CORDIC atan stays list_reduce (list state, the trig queries'
    // proven-deterministic shape)
    "promql_hyp" ->
      (s"""${promqlSotCte("click")}, agg AS (
         |  SELECT list_filter(labels, l -> l LIKE 'user=%') AS labels, t,
         |         CAST(sum(v_e6) AS BIGINT) AS v_e6
         |  FROM sot GROUP BY 1, 2
         |), $duckCordicConsts, b1 AS (
         |  SELECT labels, t, v_e6,
         |    CAST(v_e6 AS DOUBLE) / CAST(1000000 AS DOUBLE) AS tt,
         |    ${duckMicro(duckCordicAtan(
              "CAST(v_e6 AS DOUBLE) / CAST(1000000 AS DOUBLE)"))} AS atn_e6,
         |    CAST(floor(CAST(v_e6 AS DOUBLE) / CAST('20.0' AS DOUBLE)
         |         + CAST(0.5 AS DOUBLE)) AS BIGINT) AS d20_e6,
         |    greatest(v_e6, 1000000) AS cl_e6
         |  FROM agg CROSS JOIN consts
         |), b2 AS (
         |  SELECT labels, t, v_e6, tt, d20_e6,
         |    CAST(atn_e6 AS DOUBLE) / CAST(1000000 AS DOUBLE) AS ath,
         |    CAST(d20_e6 AS DOUBLE) / CAST(1000000 AS DOUBLE) AS t20,
         |    CAST(cl_e6 AS DOUBLE) / CAST(1000000 AS DOUBLE) AS tcl
         |  FROM b1
         |), eargs AS (
         |  SELECT labels, t, 1 AS tag, ath AS u FROM b2
         |  UNION ALL SELECT labels, t, 2, -ath FROM b2
         |  UNION ALL SELECT labels, t, 3, t20 FROM b2
         |  UNION ALL SELECT labels, t, 4, -t20 FROM b2
         |), ex0 AS (
         |  SELECT labels, t, tag,
         |         ((u) * CAST('1.4426950408889634' AS DOUBLE))
         |           - floor((u) * CAST('1.4426950408889634' AS DOUBLE)) AS g,
         |         CAST(1 AS DOUBLE) AS acc, CAST(2 AS DOUBLE) AS r, 0 AS j,
         |         CAST(floor((u) * CAST('1.4426950408889634' AS DOUBLE)) AS BIGINT) AS ip
         |  FROM eargs
         |), exit0 AS (
         |  SELECT * FROM ex0
         |  UNION ALL
         |  SELECT labels, t, tag,
         |    CASE WHEN g + g >= CAST(1 AS DOUBLE) THEN g + g - CAST(1 AS DOUBLE)
         |         ELSE g + g END,
         |    CASE WHEN g + g >= CAST(1 AS DOUBLE) THEN acc * sqrt(r) ELSE acc END,
         |    sqrt(r), j + 1, ip
         |  FROM exit0 WHERE j < 48
         |), ep AS (
         |  SELECT labels, t,
         |    max(CASE WHEN tag = 1 THEN CASE WHEN ip >= 0 THEN acc * CAST(CAST(1 AS BIGINT) << ip AS DOUBLE) ELSE acc / CAST(CAST(1 AS BIGINT) << (-ip) AS DOUBLE) END END) AS pa,
         |    max(CASE WHEN tag = 2 THEN CASE WHEN ip >= 0 THEN acc * CAST(CAST(1 AS BIGINT) << ip AS DOUBLE) ELSE acc / CAST(CAST(1 AS BIGINT) << (-ip) AS DOUBLE) END END) AS pma,
         |    max(CASE WHEN tag = 3 THEN CASE WHEN ip >= 0 THEN acc * CAST(CAST(1 AS BIGINT) << ip AS DOUBLE) ELSE acc / CAST(CAST(1 AS BIGINT) << (-ip) AS DOUBLE) END END) AS pt,
         |    max(CASE WHEN tag = 4 THEN CASE WHEN ip >= 0 THEN acc * CAST(CAST(1 AS BIGINT) << ip AS DOUBLE) ELSE acc / CAST(CAST(1 AS BIGINT) << (-ip) AS DOUBLE) END END) AS pmt
         |  FROM exit0 WHERE j = 48 GROUP BY 1, 2
         |), largs AS (
         |  SELECT labels, t, 1 AS tag,
         |         abs(tt) + sqrt(tt * tt + CAST(1 AS DOUBLE)) AS w FROM b2
         |  UNION ALL SELECT labels, t, 2,
         |         tcl + sqrt(tcl * tcl - CAST(1 AS DOUBLE)) FROM b2
         |), ll0 AS (
         |  SELECT labels, t, tag, w AS m,
         |         CAST(0 AS DOUBLE) AS e, CAST(0 AS DOUBLE) AS b, 0 AS i
         |  FROM largs
         |), llit AS (
         |  SELECT * FROM ll0
         |  UNION ALL
         |  SELECT labels, t, tag,
         |    CASE WHEN i < 64 THEN
         |      CASE WHEN m >= CAST(2 AS DOUBLE) THEN m / CAST(2 AS DOUBLE)
         |           WHEN m < CAST(1 AS DOUBLE) THEN m * CAST(2 AS DOUBLE) ELSE m END
         |    ELSE CASE WHEN m * m >= CAST(2 AS DOUBLE) THEN m * m / CAST(2 AS DOUBLE)
         |         ELSE m * m END END,
         |    CASE WHEN i < 64 THEN
         |      CASE WHEN m >= CAST(2 AS DOUBLE) THEN e + CAST(1 AS DOUBLE)
         |           WHEN m < CAST(1 AS DOUBLE) THEN e - CAST(1 AS DOUBLE) ELSE e END
         |    ELSE e END,
         |    CASE WHEN i < 64 THEN b
         |         ELSE CASE WHEN m * m >= CAST(2 AS DOUBLE)
         |              THEN b * CAST(2 AS DOUBLE) + CAST(1 AS DOUBLE)
         |              ELSE b * CAST(2 AS DOUBLE) END END,
         |    i + 1
         |  FROM llit WHERE i < 88
         |), lp AS (
         |  SELECT labels, t,
         |    max(CASE WHEN tag = 1 THEN ((e * CAST(16777216 AS DOUBLE) + b) / CAST(16777216 AS DOUBLE) * CAST('0.6931471805599453' AS DOUBLE)) END) AS ln_as,
         |    max(CASE WHEN tag = 2 THEN ((e * CAST(16777216 AS DOUBLE) + b) / CAST(16777216 AS DOUBLE) * CAST('0.6931471805599453' AS DOUBLE)) END) AS ln_ac
         |  FROM llit WHERE i = 88 GROUP BY 1, 2
         |)
         |SELECT CAST(NULL AS VARCHAR) AS metric,
         |       array_to_string(b2.labels, ',') AS labels_str, b2.t,
         |       ${duckMicro("(ep.pa - ep.pma) / CAST(2 AS DOUBLE)")}
         |     + CASE WHEN d20_e6 > 20000000 THEN 1000000
         |            WHEN d20_e6 < -20000000 THEN -1000000
         |            ELSE ${duckMicro("(ep.pt - ep.pmt) / (ep.pt + ep.pmt)")} END
         |     + CASE WHEN v_e6 >= 0
         |            THEN ${duckMicro("lp.ln_as")}
         |            ELSE -${duckMicro("lp.ln_as")} END
         |     + ${duckMicro("lp.ln_ac")}
         |       AS v_e6
         |FROM b2
         |JOIN ep ON ep.labels = b2.labels AND ep.t = b2.t
         |JOIN lp ON lp.labels = b2.labels AND lp.t = b2.t""".stripMargin)
        .replaceFirst("^WITH ", "WITH RECURSIVE "),

    // the baseline is the per-user sum over [t0, t0+1d), joined to
    // every grid step's sum on the user label
    "promql_at_baseline" ->
      s"""${promqlSotCte("click")}, agg AS (
         |  SELECT list_filter(labels, l -> l LIKE 'user=%') AS labels, t,
         |         CAST(sum(v_e6) AS BIGINT) AS v_e6
         |  FROM sot GROUP BY 1, 2
         |), base AS (
         |  SELECT labels, v_e6 FROM agg WHERE t = ${WinStartSec + 86400}
         |)
         |SELECT CAST(NULL AS VARCHAR) AS metric,
         |       array_to_string(a.labels, ',') AS labels_str, a.t,
         |       a.v_e6 - b.v_e6 AS v_e6
         |FROM agg a JOIN base b ON a.labels = b.labels""".stripMargin,

    // the formatE6 decimal text built with the same integer/string
    // steps the evaluator uses
    "promql_count_values" ->
      s"""${promqlSotCte("click")}, fmt AS (
         |  SELECT t,
         |    CASE WHEN v_e6 < 0 THEN '-' ELSE '' END ||
         |    CAST(CAST(floor(abs(v_e6) / 1000000.0) AS BIGINT) AS VARCHAR) ||
         |    CASE WHEN abs(v_e6) % 1000000 = 0 THEN ''
         |         ELSE '.' || regexp_replace(
         |           lpad(CAST(abs(v_e6) % 1000000 AS VARCHAR), 6, '0'), '0+$$', '')
         |    END AS vs
         |  FROM sot
         |)
         |SELECT CAST(NULL AS VARCHAR) AS metric, 's=' || vs AS labels_str, t,
         |       CAST(count(*) * 1000000 AS BIGINT) AS v_e6
         |FROM fmt GROUP BY vs, t""".stripMargin,

    "promql_scalar_share" ->
      s"""${promqlSotCte("click")}, agguser AS (
         |  SELECT list_filter(labels, l -> l LIKE 'user=%') AS labels, t,
         |         CAST(sum(v_e6) AS BIGINT) AS v_e6
         |  FROM sot GROUP BY 1, 2
         |), tot AS (
         |  SELECT t, CAST(sum(v_e6) AS BIGINT) AS sv FROM sot GROUP BY t
         |)
         |SELECT CAST(NULL AS VARCHAR) AS metric,
         |       array_to_string(a.labels, ',') AS labels_str, a.t,
         |       CAST(floor(CAST(a.v_e6 AS DOUBLE)
         |            / (CAST(b.sv AS DOUBLE) / 1000000.0) + 0.5) AS BIGINT) AS v_e6
         |FROM agguser a JOIN tot b ON a.t = b.t
         |WHERE b.sv != 0""".stripMargin,

    "promql_time_arith" ->
      s"""$dedupCte, grid AS (SELECT unnest(range(0, 16)) AS k),
         |j AS (
         |  SELECT s.metric, s.labels, $WinStartSec + g.k * 86400 AS t,
         |         s.t_sec, s.value
         |  FROM deduped s JOIN grid g
         |    ON s.t_sec >= $WinStartSec + g.k * 86400 - 86400
         |   AND s.t_sec <  $WinStartSec + g.k * 86400
         |  WHERE s.metric = 'click'
         |    AND s.t_sec >= ${WinStartSec - 86400} AND s.t_sec <= ${WinEndSec - 1}
         |), st AS (
         |  SELECT metric, labels, t, arg_max(value, t_sec) AS v
         |  FROM j GROUP BY 1, 2, 3
         |)
         |SELECT CAST(NULL AS VARCHAR) AS metric,
         |       array_to_string(labels, ',') AS labels_str, t,
         |       t * 1000000 - CAST(floor(v * 1000000 + 0.5) AS BIGINT) AS v_e6
         |FROM st""".stripMargin,

    // DuckDB's regexp_full_match + \1 backrefs mirror the Spark
    // side's anchored regexp_like + $1 template; the CASE keeps
    // Prometheus's unmatched-row and empty-removes-dst conventions
    "promql_label_replace" ->
      s"""${promqlSotCte("click")}, agg AS (
         |  SELECT list_filter(labels, l -> l LIKE 'user=%') AS labels, t,
         |         CAST(sum(v_e6) AS BIGINT) AS v_e6
         |  FROM sot GROUP BY 1, 2
         |), lr AS (
         |  SELECT coalesce(substr(list_filter(labels, l -> l LIKE 'user=%')[1], 6), '')
         |           AS src_val, labels, t, v_e6
         |  FROM agg
         |)
         |SELECT CAST(NULL AS VARCHAR) AS metric,
         |       array_to_string(
         |         CASE WHEN NOT regexp_full_match(src_val, '(?:([0-9]).*)')
         |                THEN labels
         |              WHEN regexp_replace(src_val, '^(?:([0-9]).*)$$', 't\\1') = ''
         |                THEN list_filter(labels, l -> NOT (l LIKE 'tier=%'))
         |              ELSE list_sort(list_concat(
         |                list_filter(labels, l -> NOT (l LIKE 'tier=%')),
         |                ['tier=' || regexp_replace(src_val, '^(?:([0-9]).*)$$', 't\\1')]))
         |         END, ',') AS labels_str,
         |       t, v_e6
         |FROM lr""".stripMargin,

    // the k-split sums join their user totals on the user label only;
    // the many side's full (k, user) labels survive
    "promql_group_left" ->
      s"""${promqlSotCte("click")}, aggku AS (
         |  SELECT list_filter(labels, l -> l LIKE 'k=%' OR l LIKE 'user=%')
         |           AS labels, t, CAST(sum(v_e6) AS BIGINT) AS v_e6
         |  FROM sot GROUP BY 1, 2
         |), agguser AS (
         |  SELECT list_filter(labels, l -> l LIKE 'user=%') AS labels, t,
         |         CAST(sum(v_e6) AS BIGINT) AS v_e6
         |  FROM sot GROUP BY 1, 2
         |)
         |SELECT CAST(NULL AS VARCHAR) AS metric,
         |       array_to_string(a.labels, ',') AS labels_str, a.t,
         |       CAST(floor(CAST(a.v_e6 AS DOUBLE) / CAST(b.v_e6 AS DOUBLE)
         |            * 1000000.0 + 0.5) AS BIGINT) AS v_e6
         |FROM aggku a JOIN agguser b
         |  ON list_filter(a.labels, l -> l LIKE 'user=%') = b.labels
         | AND a.t = b.t
         |WHERE b.v_e6 != 0""".stripMargin,

    // inner per-user daily sums on the absolute 1d grid (j in
    // [-7, 16) covers every point an outer window can see), then the
    // outer [7d) window max per user
    "promql_subquery" ->
      s"""$dedupCte, igrid AS (SELECT unnest(range(-7, 16)) AS j),
         |ij AS (
         |  SELECT s.labels, $WinStartSec + ig.j * 86400 AS tv, s.value
         |  FROM deduped s JOIN igrid ig
         |    ON s.t_sec >= $WinStartSec + ig.j * 86400 - 86400
         |   AND s.t_sec <  $WinStartSec + ig.j * 86400
         |  WHERE s.metric = 'click'
         |    AND s.t_sec >= ${WinStartSec - 604800 - 86400}
         |    AND s.t_sec <= ${WinEndSec - 1}
         |), sot AS (
         |  SELECT labels, tv,
         |         CAST(floor(sum(value) * 100 + 0.5) AS BIGINT) * 10000 AS v_e6
         |  FROM ij GROUP BY 1, 2
         |), agg AS (
         |  SELECT list_filter(labels, l -> l LIKE 'user=%') AS labels, tv,
         |         CAST(sum(v_e6) AS BIGINT) AS v_e6
         |  FROM sot GROUP BY 1, 2
         |), grid AS (SELECT unnest(range(0, 16)) AS k),
         |oj AS (
         |  SELECT a.labels, $WinStartSec + g.k * 86400 AS t, a.v_e6
         |  FROM agg a JOIN grid g
         |    ON a.tv >= $WinStartSec + g.k * 86400 - 604800
         |   AND a.tv <  $WinStartSec + g.k * 86400
         |)
         |SELECT CAST(NULL AS VARCHAR) AS metric,
         |       array_to_string(labels, ',') AS labels_str, t,
         |       CAST(max(v_e6) AS BIGINT) AS v_e6
         |FROM oj GROUP BY labels, t""".stripMargin,

    // subquery rate: per outer window, the halfUp ratio of the inner
    // first/last values over their time span (n≥2, monotone gate) —
    // identical CTE chain, different tail aggregate
    "promql_subquery_rate" ->
      s"""$dedupCte, igrid AS (SELECT unnest(range(-7, 16)) AS j),
         |ij AS (
         |  SELECT s.labels, $WinStartSec + ig.j * 86400 AS tv, s.value
         |  FROM deduped s JOIN igrid ig
         |    ON s.t_sec >= $WinStartSec + ig.j * 86400 - 86400
         |   AND s.t_sec <  $WinStartSec + ig.j * 86400
         |  WHERE s.metric = 'click'
         |    AND s.t_sec >= ${WinStartSec - 604800 - 86400}
         |    AND s.t_sec <= ${WinEndSec - 1}
         |), sot AS (
         |  SELECT labels, tv,
         |         CAST(floor(sum(value) * 100 + 0.5) AS BIGINT) * 10000 AS v_e6
         |  FROM ij GROUP BY 1, 2
         |), agg AS (
         |  SELECT list_filter(labels, l -> l LIKE 'user=%') AS labels, tv,
         |         CAST(sum(v_e6) AS BIGINT) AS v_e6
         |  FROM sot GROUP BY 1, 2
         |), grid AS (SELECT unnest(range(0, 16)) AS k),
         |oj AS (
         |  SELECT a.labels, $WinStartSec + g.k * 86400 AS t, a.tv, a.v_e6
         |  FROM agg a JOIN grid g
         |    ON a.tv >= $WinStartSec + g.k * 86400 - 604800
         |   AND a.tv <  $WinStartSec + g.k * 86400
         |), pr AS (
         |  SELECT labels, t, count(*) AS n,
         |         arg_min(v_e6, tv) AS fv, arg_max(v_e6, tv) AS lv,
         |         min(tv) AS tf, max(tv) AS tl
         |  FROM oj GROUP BY 1, 2
         |)
         |SELECT CAST(NULL AS VARCHAR) AS metric,
         |       array_to_string(labels, ',') AS labels_str, t,
         |       CAST(FLOOR((CAST(2 AS DOUBLE) * (lv - fv) + (tl - tf))
         |            / (CAST(2 AS DOUBLE) * (tl - tf))) AS BIGINT) AS v_e6
         |FROM pr WHERE n >= 2 AND tl > tf AND lv >= fv""".stripMargin,

    // the evaluator's dynamic-bucket estimator over the same 0/1
    // bucket expansion; selection by row_number instead of Spark's
    // min-struct, but the crossing bucket — and every arithmetic
    // step after it — is identical
    "promql_histogram" ->
      s"""$S, bucket AS (
         |  SELECT ts_us, 'click_bucket' AS metric,
         |         list_sort(list_append(labels, 'le=' || le.l)) AS labels,
         |         CASE WHEN le.l = '+Inf' THEN 1.0
         |              WHEN value <= CAST(le.l AS DOUBLE) THEN 1.0
         |              ELSE 0.0 END AS value
         |  FROM samples, (VALUES ('2'), ('5'), ('10'), ('+Inf')) le(l)
         |  WHERE metric = 'click'
         |), deduped AS (
         |  SELECT metric, labels, ts_us // 1000000 AS t_sec, max(value) AS value
         |  FROM bucket GROUP BY 1, 2, 3
         |), grid AS (SELECT unnest(range(0, 16)) AS k),
         |j AS (
         |  SELECT s.labels, $WinStartSec + g.k * 86400 AS t, s.value
         |  FROM deduped s JOIN grid g
         |    ON s.t_sec >= $WinStartSec + g.k * 86400 - 86400
         |   AND s.t_sec <  $WinStartSec + g.k * 86400
         |  WHERE s.t_sec >= ${WinStartSec - 86400} AND s.t_sec <= ${WinEndSec - 1}
         |), sot AS (
         |  SELECT labels, t,
         |         CAST(floor(sum(value) * 100 + 0.5) AS BIGINT) * 10000 AS v_e6
         |  FROM j GROUP BY 1, 2
         |), tagged AS (
         |  SELECT list_filter(labels, l -> l LIKE 'le=%')[1] AS le_str,
         |         list_filter(labels, l -> NOT (l LIKE 'le=%')) AS glabels,
         |         t, CAST(v_e6 AS DOUBLE) / 1000000.0 AS c
         |  FROM sot
         |), finite AS (
         |  SELECT glabels, t, CAST(substr(le_str, 4) AS DOUBLE) AS le, c,
         |         coalesce(lag(c) OVER w, 0.0) AS prev_c,
         |         coalesce(lag(CAST(substr(le_str, 4) AS DOUBLE)) OVER w, 0.0) AS prev_le
         |  FROM tagged WHERE le_str != 'le=+Inf'
         |  WINDOW w AS (PARTITION BY glabels, t
         |               ORDER BY CAST(substr(le_str, 4) AS DOUBLE))
         |), totals AS (
         |  SELECT glabels, t, c AS total FROM tagged WHERE le_str = 'le=+Inf'
         |), cand AS (
         |  SELECT f.*, 0.9 * tt.total AS rk
         |  FROM finite f JOIN totals tt ON f.glabels = tt.glabels AND f.t = tt.t
         |), win AS (
         |  SELECT glabels, t, le, prev_le, prev_c, c, rk,
         |         row_number() OVER (PARTITION BY glabels, t ORDER BY le) AS rn
         |  FROM cand WHERE c >= rk
         |), base AS (
         |  SELECT glabels, t, max(le) AS le_max FROM cand GROUP BY 1, 2
         |)
         |SELECT CAST(NULL AS VARCHAR) AS metric,
         |       array_to_string(b.glabels, ',') AS labels_str, b.t,
         |       CAST(floor(coalesce(
         |         w2.prev_le + (w2.le - w2.prev_le) * (w2.rk - w2.prev_c)
         |           / (w2.c - w2.prev_c), b.le_max) * 1000000 + 0.5) AS BIGINT) AS v_e6
         |FROM base b LEFT JOIN win w2
         |  ON w2.glabels = b.glabels AND w2.t = b.t AND w2.rn = 1""".stripMargin,

    // fraction in (3, 8]: F(x) = max over buckets of (count where
    // le <= x | linear share where x falls inside | 0), then
    // clamp((F(8) - F(3)) / total, 0, 1) — the same CASE text the
    // Spark plan compiles
    "promql_hist_fraction" ->
      s"""$S, bucket AS (
         |  SELECT ts_us, 'click_bucket' AS metric,
         |         list_sort(list_append(labels, 'le=' || le.l)) AS labels,
         |         CASE WHEN le.l = '+Inf' THEN 1.0
         |              WHEN value <= CAST(le.l AS DOUBLE) THEN 1.0
         |              ELSE 0.0 END AS value
         |  FROM samples, (VALUES ('2'), ('5'), ('10'), ('+Inf')) le(l)
         |  WHERE metric = 'click'
         |), deduped AS (
         |  SELECT metric, labels, ts_us // 1000000 AS t_sec, max(value) AS value
         |  FROM bucket GROUP BY 1, 2, 3
         |), grid AS (SELECT unnest(range(0, 16)) AS k),
         |j AS (
         |  SELECT s.labels, $WinStartSec + g.k * 86400 AS t, s.value
         |  FROM deduped s JOIN grid g
         |    ON s.t_sec >= $WinStartSec + g.k * 86400 - 86400
         |   AND s.t_sec <  $WinStartSec + g.k * 86400
         |  WHERE s.t_sec >= ${WinStartSec - 86400} AND s.t_sec <= ${WinEndSec - 1}
         |), sot AS (
         |  SELECT labels, t,
         |         CAST(floor(sum(value) * 100 + 0.5) AS BIGINT) * 10000 AS v_e6
         |  FROM j GROUP BY 1, 2
         |), tagged AS (
         |  SELECT list_filter(labels, l -> l LIKE 'le=%')[1] AS le_str,
         |         list_filter(labels, l -> NOT (l LIKE 'le=%')) AS glabels,
         |         t, CAST(v_e6 AS DOUBLE) / 1000000.0 AS c
         |  FROM sot
         |), finite AS (
         |  SELECT glabels, t, CAST(substr(le_str, 4) AS DOUBLE) AS le, c,
         |         coalesce(lag(c) OVER w, 0.0) AS prev_c,
         |         coalesce(lag(CAST(substr(le_str, 4) AS DOUBLE)) OVER w, 0.0) AS prev_le
         |  FROM tagged WHERE le_str != 'le=+Inf'
         |  WINDOW w AS (PARTITION BY glabels, t
         |               ORDER BY CAST(substr(le_str, 4) AS DOUBLE))
         |), totals AS (
         |  SELECT glabels, t, c AS total FROM tagged WHERE le_str = 'le=+Inf'
         |), cand AS (
         |  SELECT f.*, tt.total
         |  FROM finite f JOIN totals tt ON f.glabels = tt.glabels AND f.t = tt.t
         |  WHERE tt.total > 0.0
         |), frac AS (
         |  SELECT glabels, t,
         |    max(CASE WHEN le <= CAST('3' AS DOUBLE) THEN c
         |             WHEN prev_le < CAST('3' AS DOUBLE)
         |             THEN prev_c + (c - prev_c)
         |                  * (CAST('3' AS DOUBLE) - prev_le) / (le - prev_le)
         |             ELSE 0.0 END) AS flo,
         |    max(CASE WHEN le <= CAST('8' AS DOUBLE) THEN c
         |             WHEN prev_le < CAST('8' AS DOUBLE)
         |             THEN prev_c + (c - prev_c)
         |                  * (CAST('8' AS DOUBLE) - prev_le) / (le - prev_le)
         |             ELSE 0.0 END) AS fhi,
         |    max(total) AS tot
         |  FROM cand GROUP BY 1, 2
         |)
         |SELECT CAST(NULL AS VARCHAR) AS metric,
         |       array_to_string(glabels, ',') AS labels_str, t,
         |       CAST(floor(least(greatest((fhi - flo) / tot, 0.0), 1.0)
         |            * 1000000 + 0.5) AS BIGINT) AS v_e6
         |FROM frac""".stripMargin,

    // histogram_avg + histogram_count over the twin series: the
    // division is the evaluator's exact '/' text; the add is exact
    // integer micro-units
    "promql_hist_count_sum" ->
      s"""$S, twin AS (
         |  SELECT ts_us, m.name AS metric, labels,
         |         CASE WHEN m.name = 'lat_sum' THEN value
         |              ELSE 1.0 END AS value
         |  FROM samples, (VALUES ('lat_sum'), ('lat_count')) m(name)
         |  WHERE metric = 'click'
         |), deduped AS (
         |  SELECT metric, labels, ts_us // 1000000 AS t_sec, max(value) AS value
         |  FROM twin GROUP BY 1, 2, 3
         |), grid AS (SELECT unnest(range(0, 16)) AS k),
         |j AS (
         |  SELECT s.metric, s.labels, $WinStartSec + g.k * 86400 AS t, s.value
         |  FROM deduped s JOIN grid g
         |    ON s.t_sec >= $WinStartSec + g.k * 86400 - 86400
         |   AND s.t_sec <  $WinStartSec + g.k * 86400
         |  WHERE s.t_sec >= ${WinStartSec - 86400} AND s.t_sec <= ${WinEndSec - 1}
         |), sot AS (
         |  SELECT metric, labels, t,
         |         CAST(floor(sum(value) * 100 + 0.5) AS BIGINT) * 10000 AS v_e6
         |  FROM j GROUP BY 1, 2, 3
         |), s1 AS (SELECT labels, t, v_e6 FROM sot WHERE metric = 'lat_sum'),
         |c1 AS (SELECT labels, t, v_e6 FROM sot WHERE metric = 'lat_count')
         |SELECT CAST(NULL AS VARCHAR) AS metric,
         |       array_to_string(s1.labels, ',') AS labels_str, s1.t,
         |       CAST(floor(CAST(s1.v_e6 AS DOUBLE) / CAST(c1.v_e6 AS DOUBLE)
         |            * 1000000.0 + 0.5) AS BIGINT) + c1.v_e6 AS v_e6
         |FROM s1 JOIN c1 ON s1.labels = c1.labels AND s1.t = c1.t
         |WHERE c1.v_e6 != 0""".stripMargin,

    // histogram_stdvar: the estimator replicated leg by leg — the
    // bval terms are precomputed COLUMNS, the variance sum one
    // standalone le-ordered fold (the safe list_reduce shape)
    "promql_hist_stdvar" ->
      s"""$S, legs AS (
         |  SELECT ts_us, 'lat_bucket' AS metric,
         |         list_sort(list_append(labels, 'le=' || le.l)) AS labels,
         |         CASE WHEN le.l = '+Inf' THEN 1.0
         |              WHEN value <= CAST(le.l AS DOUBLE) THEN 1.0
         |              ELSE 0.0 END AS value
         |  FROM samples, (VALUES ('2'), ('5'), ('10'), ('+Inf')) le(l)
         |  WHERE metric = 'click'
         |  UNION ALL
         |  SELECT ts_us, 'lat_sum', labels, value FROM samples
         |  WHERE metric = 'click'
         |  UNION ALL
         |  SELECT ts_us, 'lat_count', labels, 1.0 FROM samples
         |  WHERE metric = 'click'
         |), deduped AS (
         |  SELECT metric, labels, ts_us // 1000000 AS t_sec, max(value) AS value
         |  FROM legs GROUP BY 1, 2, 3
         |), grid AS (SELECT unnest(range(0, 16)) AS k),
         |j AS (
         |  SELECT s.metric, s.labels, $WinStartSec + g.k * 86400 AS t, s.value
         |  FROM deduped s JOIN grid g
         |    ON s.t_sec >= $WinStartSec + g.k * 86400 - 86400
         |   AND s.t_sec <  $WinStartSec + g.k * 86400
         |  WHERE s.t_sec >= ${WinStartSec - 86400} AND s.t_sec <= ${WinEndSec - 1}
         |), sot AS (
         |  SELECT metric, labels, t,
         |         CAST(CAST(floor(sum(value) * 100 + 0.5) AS BIGINT) * 10000
         |              AS DOUBLE) / 1000000.0 AS c
         |  FROM j GROUP BY 1, 2, 3
         |), tagged AS (
         |  SELECT list_filter(labels, l -> l LIKE 'le=%')[1] AS le_str,
         |         list_filter(labels, l -> NOT (l LIKE 'le=%')) AS glabels,
         |         t, c
         |  FROM sot WHERE metric = 'lat_bucket'
         |), finite AS (
         |  SELECT glabels, t, CAST(substr(le_str, 4) AS DOUBLE) AS le, c,
         |         coalesce(lag(c) OVER w, 0.0) AS prev_c,
         |         coalesce(lag(CAST(substr(le_str, 4) AS DOUBLE)) OVER w, 0.0)
         |           AS prev_le
         |  FROM tagged WHERE le_str != 'le=+Inf'
         |  WINDOW w AS (PARTITION BY glabels, t
         |               ORDER BY CAST(substr(le_str, 4) AS DOUBLE))
         |), totals AS (
         |  SELECT glabels, t, c AS total FROM tagged WHERE le_str = 'le=+Inf'
         |), mn AS (
         |  SELECT s.labels AS glabels, s.t, n.c AS hcount, s.c / n.c AS mean
         |  FROM (SELECT labels, t, c FROM sot WHERE metric = 'lat_sum') s
         |  JOIN (SELECT labels, t, c FROM sot WHERE metric = 'lat_count') n
         |    ON s.labels = n.labels AND s.t = n.t
         |  WHERE n.c > 0.0
         |), bvals AS (
         |  SELECT f.glabels, f.t, f.le, f.c, (f.c - f.prev_c) AS cnt,
         |         CASE WHEN f.prev_le <= 0.0 AND 0.0 <= f.le THEN 0.0
         |              WHEN f.le < 0.0 THEN 0.0 - sqrt(f.prev_le * f.le)
         |              ELSE sqrt(f.prev_le * f.le) END AS bval,
         |         m.mean, m.hcount
         |  FROM finite f JOIN mn m ON f.glabels = m.glabels AND f.t = m.t
         |), terms AS (
         |  SELECT glabels, t, le, c, mean, hcount,
         |         cnt * (bval - mean) * (bval - mean) AS term
         |  FROM bvals
         |), agg AS (
         |  SELECT glabels, t,
         |         list_reduce(list_prepend(0.0::DOUBLE,
         |           list(term ORDER BY le)), (a, x) -> a + x) AS s0,
         |         max(c) AS finC, max(le) AS finLe,
         |         max(mean) AS mean, max(hcount) AS hcount
         |  FROM terms GROUP BY 1, 2
         |)
         |SELECT CAST(NULL AS VARCHAR) AS metric,
         |       array_to_string(a.glabels, ',') AS labels_str, a.t,
         |       CAST(floor(greatest((a.s0 +
         |         greatest(tt.total - a.finC, 0.0) * (a.finLe - a.mean)
         |           * (a.finLe - a.mean)) / a.hcount, 0.0)
         |         * 1000000 + 0.5) AS BIGINT) AS v_e6
         |FROM agg a JOIN totals tt
         |  ON tt.glabels = a.glabels AND tt.t = a.t""".stripMargin,

    // without (k): merge each user's k-series, integer half-up mean
    "promql_without" ->
      s"""${promqlSotCte("click")}, agg AS (
         |  SELECT list_filter(labels, l -> NOT (l LIKE 'k=%')) AS labels, t,
         |         CAST(sum(v_e6) AS BIGINT) AS s, count(*) AS n
         |  FROM sot GROUP BY 1, 2
         |)
         |SELECT CAST(NULL AS VARCHAR) AS metric,
         |       array_to_string(labels, ',') AS labels_str, t,
         |       CAST(FLOOR((2.0 * (s) + (n)) / (2.0 * (n))) AS BIGINT) AS v_e6
         |FROM agg""".stripMargin,
  )
}
