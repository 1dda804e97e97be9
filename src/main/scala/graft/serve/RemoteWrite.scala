package graft.serve

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.OpsMetrics
import graft.ingest.{PromRemoteCodec, RollupStore, SamplesStore}
import graft.ingest.PromRemoteCodec.IngestedSample

/** The end-to-end remote-write serving loop — the reference's whole
  * `/write` contract in one function (reference: main.go:124-143 +
  * internal/clickhouse/write.go): WriteRequest blob in → decode →
  * label-normalized samples appended to the store → written count
  * out. Counter wiring mirrors the handler exactly: every blob counts
  * a write request, a malformed blob counts an error and throws (the
  * HTTP shim maps it to 500), decoded samples count samples_written.
  *
  * The blob decodes on the driver — it is one bounded HTTP body, the
  * same place the reference's handler inflates it — and its rows land
  * as one driver-local append ([[SamplesStore.layout]]: one write
  * task, no exchange). /write, OTLP and the batched [[serveAll]] share
  * one landing path: decoded rows become a `Landing`, and `land`
  * appends it to the store and its four siblings concurrently.
  */
object RemoteWrite {

  /** The serving path starts a store's background maintenance pass
    * (folds, retention, rollups, recording rules, expiry — Spark jobs
    * and GC walks, too much for EVERY request) at most once per this
    * interval per store. Fragmentation between probes is
    * bounded by the request rate × interval, which the next probe
    * folds. Mutable so specs (and deployments) can tune the cadence. */
  @volatile var compactCheckIntervalMs: Long = 10000L

  /** Per-day file-count threshold the serving probe hands to
    * [[SamplesStore.compactFragmentedDays]]; an ops knob like the interval. */
  @volatile var autoCompactFilesPerDay: Int = SamplesStore.AutoCompactFilesPerDay

  /** Retention horizon in days; 0 disables. The ClickHouse `TTL`
    * clause analogue: the background maintenance pass drops day
    * partitions that end before `now - retentionDays`. The cutoff is
    * day-aligned, so expiry is always whole-day manifest removals —
    * never a boundary rewrite — and costs one manifest commit. */
  @volatile var retentionDays: Int = 0

  /** Snapshot-retention grace handed to the background compaction and
    * expiry passes: how long superseded data files stay on disk for
    * in-flight readers (see [[SamplesStore.GcGraceMs]]). An ops knob
    * like the interval. */
  @volatile var gcGraceMs: Long = SamplesStore.GcGraceMs

  /** Rollup bucket width in seconds; 0 disables background rollup
    * maintenance. When enabled, each maintenance pass brings
    * `<storePath>_rollup` up to date — O(days the writes touched
    * since the last pass), a metadata no-op when nothing changed
    * (the materialized-view refresh the reference gets from
    * ClickHouse). Must divide a day (see [[RollupStore.rollup]]). */
  @volatile var rollupIntervalSec: Long = 0L

  /** LADDER rollup bucket width in seconds; 0 disables. When both
    * knobs are set, each maintenance pass first refreshes the fine
    * rollup from raw, then the coarse LADDER twin at
    * `<storePath>_rollup_ladder` FROM the fine rollup
    * (RollupStore.rollupLadder — 1/ratio of a raw re-aggregation).
    * Must be a proper multiple of [[rollupIntervalSec]] and divide a
    * day. Surfaced on /api/v1/status/flags. */
  @volatile var rollupLadderIntervalSec: Long = 0L

  /** Opt-in OTLP delta→cumulative conversion (Prometheus 3.x's
    * otlp-deltatocumulative feature switch). OFF by default — delta
    * sums reject with a 400 (stored as-if-cumulative they would
    * corrupt every rate()); ON, a delta Sum's points accumulate into
    * cumulative levels per series WITHIN the request, and delta
    * HISTOGRAMS convert the same way — explicit bounds element-wise
    * per bucket (layout change = reset), exponential via the sparse
    * align+add running sum (see OtlpCodec). */
  @volatile var otlpConvertDelta: Boolean = false

  /** Opt-in OTLP unit/type suffixing (the suffix half of Prometheus
    * 3.x's default `UnderscoreEscapingWithSuffixes` otlp
    * translation_strategy): `s`→`_seconds`, `By`→`_bytes`,
    * monotonic sums→`_total`, … (OtlpCodec.suffixedName). OFF by
    * default — graft's documented baseline keeps the sender's name
    * stem verbatim (= 3.x's suffix-less strategies). Surfaced on
    * /api/v1/status/flags as write.otlp-translation-suffixes. */
  @volatile var otlpTranslationSuffixes: Boolean = false

  /** Opt-in NATIVE histogram_quantile (Prometheus 3.x's
    * exponential-bucket estimator over the sibling hist store's
    * native samples — PromQL.nativeHistQ). OFF by default: the
    * classic piecewise-linear estimate over the `_bucket` expansion
    * stays graft's documented surface. Surfaced on
    * /api/v1/status/flags as promql.native-histogram-quantile;
    * `-promql.native-histogram-quantile` enables. */
  @volatile var nativeHistogramQuantile: Boolean = false

  /** -write.otlp-promote-scope: the Prometheus OTLP receiver's
    * scope-metadata promotion — every metric gains
    * otel_scope_name/otel_scope_version labels and a scope carrying
    * attributes lands an otel_scope_info series (OtlpCodec
    * .readScopeMetrics). OFF by default like the other translation
    * knobs. */
  @volatile var otlpPromoteScope: Boolean = false

  /** -write.ct-zero-ingestion: inject a 0 sample at a PRW 2.0
    * series' created_timestamp when it precedes the batch's earliest
    * sample (Prometheus's created-timestamp-zero-ingestion feature
    * flag). OFF by default, like upstream. */
  @volatile var ctZeroIngestion: Boolean = false

  /** Once-per-series CT-zero suppression (process lifetime): a
    * steady PRW 2.0 sender repeats created_timestamp on every
    * request, and re-appending the synthetic zero each time would
    * pile identical rows onto a COLD day partition forever (append +
    * compaction churn on the CT's day). Prometheus's TSDB dedups the
    * repeat appends; this memo plays that role — bounded (cleared
    * past 1M keys), and a restart costs at most one duplicate row
    * per live series, which the read model's per-second dedup
    * collapses. */
  private val ctSeen = java.util.concurrent.ConcurrentHashMap
    .newKeySet[(String, String, Seq[String], Long)]()

  /** The CT-zero rows among `candidates` this process lands for the
    * FIRST time (per store); claims them in the memo. */
  private def freshCtZeroRows(storePath: String,
                              candidates: Seq[IngestedSample])
      : Seq[IngestedSample] = {
    if (ctSeen.size > 1000000) ctSeen.clear()
    candidates.filter(r => ctSeen.add((storePath, r.metric, r.labels, r.ts_us)))
  }

  /** Roll back [[freshCtZeroRows]]' memo claims when the store
    * append that was meant to land them FAILS — otherwise the
    * process-lifetime memo would suppress the synthetic zero forever
    * and the series' true start would never be written. The
    * unclaim window admits at most one duplicate row per series
    * (another request re-claiming between failure and retry), which
    * the read model's per-second dedup collapses. */
  private def unclaimCtZero(storePath: String,
                            rows: Seq[IngestedSample]): Unit =
    rows.foreach(r => ctSeen.remove((storePath, r.metric, r.labels, r.ts_us)))

  private val lastCompactCheck =
    scala.collection.concurrent.TrieMap.empty[String, Long]

  private val lastExpiry =
    scala.collection.concurrent.TrieMap.empty[String, Long]

  /** Background merge pool (the ClickHouse analogue): compaction runs
    * OFF the request path, so the /write that happens to trip the
    * probe doesn't pay the rewrite's latency. One thread plus ONE
    * coalescing queue slot: at most one maintenance pass runs while
    * one re-check waits, and further triggers drop on the floor. The
    * queued slot matters for liveness — it guarantees a pass STARTS
    * after the newest accepted trigger's write landed, so the last
    * write of a burst always gets its fold even though the probes
    * that fired mid-burst were coalesced away. */
  private val compactPool = new java.util.concurrent.ThreadPoolExecutor(
    0, 1, 30, java.util.concurrent.TimeUnit.SECONDS,
    new java.util.concurrent.LinkedBlockingQueue[Runnable](1),
    (r: Runnable) => {
      val t = new Thread(r, "graft-store-compact")
      t.setDaemon(true)
      t
    },
    new java.util.concurrent.ThreadPoolExecutor.DiscardPolicy)

  /** The Spark job tag every job of a background maintenance pass
    * carries (job tags ride the submitting thread), so a listener or
    * `cancelJobsWithTag` can tell maintenance from request work. */
  val MaintenanceJobTag = "graft-maintenance"

  /** Test seam: no background maintenance pass runs or waits — lets
    * specs count store work without a straggling pass in the window. */
  private[graft] def maintenanceIdle: Boolean =
    compactPool.getActiveCount == 0 && compactPool.getQueue.isEmpty

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private[graft] def maybeCompactRateLimited(spark: SparkSession, storePath: String): Unit = {
    val now = System.currentTimeMillis()
    val last = lastCompactCheck.getOrElse(storePath, 0L)
    if (now - last >= compactCheckIntervalMs &&
        lastCompactCheck.replace(storePath, last, now) ||
        lastCompactCheck.putIfAbsent(storePath, now).isEmpty)
      compactPool.execute { () =>
        val sc = spark.sparkContext
        sc.addJobTag(MaintenanceJobTag)
        try {
          SamplesStore.compactFragmentedDays(spark, storePath, autoCompactFilesPerDay,
            gcGraceMs = gcGraceMs)
          retentionPass(spark, storePath, retentionDays)
          maintainSiblings(spark, storePath)
          // reclaim grace-expired superseded files and old manifests —
          // the store's disk footprint self-maintains like ClickHouse
          // dropping inactive parts after a merge. The expiry walk is
          // O(days) listings, and nothing becomes reclaimable sooner
          // than the grace, so it runs at most every graceMs/4 —
          // never per probe on a multi-year store.
          rollupPass(spark, storePath, rollupIntervalSec)
          recordingPass(spark, storePath)
          val nowE = System.currentTimeMillis()
          val lastE = lastExpiry.getOrElse(storePath, 0L)
          if (nowE - lastE >= gcGraceMs / 4) {
            lastExpiry.put(storePath, nowE)
            SamplesStore.expireSnapshots(spark, storePath, gcGraceMs)
            if (rollupIntervalSec > 0)
              SamplesStore.expireSnapshots(spark, RollupStore.rollupPathFor(storePath), gcGraceMs)
            if (rollupLadderIntervalSec > 0)
              SamplesStore.expireSnapshots(spark, RollupStore.ladderPathFor(storePath), gcGraceMs)
          }
        } catch {
          // a failed background merge must not be silent — but it must
          // also never take the serving loop down; the next probe retries
          case scala.util.control.NonFatal(e) =>
            log.warn(s"background store maintenance of $storePath failed: ${e.getMessage}")
        } finally sc.removeJobTag(MaintenanceJobTag)
      }
  }

  /** Background maintenance for the SIBLING stores: the exemplar and
    * metadata tables append one small file set per carrying request
    * (same SamplesStore layout as the primary), so a long-running
    * server fragments them exactly like the main store — fold them
    * with the same per-day threshold. Exemplars also age out with
    * the primary's retention horizon (they annotate samples that are
    * themselves being dropped); METADATA does NOT — the newest
    * metadata row for a still-live metric may be older than the
    * horizon, and dropping it would silently empty /api/v1/metadata
    * for long-stable metrics. The `_hist` sibling folds and expires
    * with the primary's horizon too (its native samples shadow
    * classic rows that retention is dropping). */
  private[graft] def maintainSiblings(spark: SparkSession,
                                      storePath: String): Unit = {
    Seq(exemplarPath(storePath), metadataPath(storePath),
        histPath(storePath), stalePath(storePath)).foreach { p =>
      if (SamplesStore.exists(spark, p)) {
        SamplesStore.compactFragmentedDays(spark, p, autoCompactFilesPerDay,
          gcGraceMs = gcGraceMs)
        // reclaim superseded files + old manifests like the primary's
        // expiry leg — the fold alone leaves the physical footprint
        SamplesStore.expireSnapshots(spark, p, gcGraceMs)
      }
    }
    // stale markers age out with the samples whose series they end —
    // a marker past the horizon suppresses nothing
    Seq(exemplarPath(storePath), histPath(storePath),
        stalePath(storePath)).foreach { p =>
      if (SamplesStore.exists(spark, p)) retentionPass(spark, p, retentionDays)
    }
  }

  /** One background rollup pass — refresh the store's rollup twin;
    * no-op when disabled (intervalSec 0) or when no source day
    * changed since the last pass. Returns days re-aggregated. */
  private[graft] def rollupPass(spark: SparkSession, storePath: String,
                                intervalSec: Long): Int =
    RollupStore.ladder(storePath, intervalSec, rollupLadderIntervalSec)
      .fold(0) { l =>
        val days = RollupStore.rollup(spark, l.srcPath, l.rollupPath, l.intervalSec)
        // the ladder refreshes AFTER the fine twin, from it — a no-op
        // when no fine day changed (manifest-digest comparison)
        l.coarser.foreach(c =>
          RollupStore.rollupLadder(spark, c.srcPath, c.rollupPath, c.intervalSec))
        days
      }

  /** Recording rules the background maintenance evaluates (empty =
    * disabled). Configured via `-rule.record` flags. */
  @volatile var recordingRules: Seq[Recording.Rule] = Nil
  /** How many rule steps a cold start (or a long outage) backfills. */
  private val recordingBackfillSteps = 7
  private val lastRecorded =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** One background recording pass: advance every rule to the latest
    * complete grid point the DATA reaches (store time, not wall
    * time — a replayed backlog records correctly), evaluating only
    * the steps since the rule's watermark (bounded by the backfill
    * horizon on a cold start). Returns grid points recorded.
    *
    * The newest-sample probe reads the max day from the partition
    * values, then max(ts) inside that one pruned day — never a full
    * scan. Crash/restart safety needs no persisted watermark:
    * re-recording an overlapping window appends byte-identical
    * samples the read path's per-second dedup collapses
    * (Recording.record's idempotence contract). */
  private[graft] def recordingPass(spark: SparkSession,
                                   storePath: String): Long = {
    if (recordingRules.isEmpty) return 0L
    val root = new org.apache.hadoop.fs.Path(storePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (SamplesStore.latestSnapshot(fs, root).isEmpty) return 0L
    val maxTs = Recording.dataEdgeSec(spark, storePath).getOrElse(return 0L)
    var recorded = 0L
    recordingRules.foreach { rule =>
      val hi = maxTs / rule.stepSec * rule.stepSec
      val key = s"$storePath|${rule.recordName}"
      val lo = Option(lastRecorded.get(key))
        .map(_.longValue + rule.stepSec)
        .getOrElse(Long.MinValue)
        .max(hi - recordingBackfillSteps.toLong * rule.stepSec)
      if (hi >= lo) {
        Recording.record(spark, storePath, rule, lo, hi)
        lastRecorded.put(key, hi)
        recorded += (hi - lo) / rule.stepSec + 1
      }
    }
    recorded
  }

  /** One background retention pass: drop the day partitions that end
    * before `now - horizonDays` (day-aligned, so expiry is always
    * whole-directory drops). Consults the snapshot's day set FIRST and
    * skips the deleteRange entirely when nothing can expire — the
    * steady-state on every pass but the first of a new day, where the
    * unconditional full-range delete would otherwise take the store
    * mutation lock and walk every day's boundary logic each interval
    * on a multi-year store. The probe reads only the manifest.
    * Returns whether a delete was actually issued. */
  private[graft] def retentionPass(spark: SparkSession, storePath: String,
                                   horizonDays: Int): Boolean = {
    if (horizonDays <= 0) return false
    val cutoffUs = System.currentTimeMillis() / 1000 / 86400 * 86400 * 1000000L -
      horizonDays * 86400L * 1000000L
    val root = new org.apache.hadoop.fs.Path(storePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // consult the LIVE day set (the manifest) — a deleted day's
    // directory lingers physically until grace expiry, and re-deleting
    // it every pass would defeat the skip
    val liveDays: Iterable[String] =
      SamplesStore.committedSnapshot(fs, root).map(_.byDay.keys).getOrElse(Nil)
    val anyExpired = liveDays.exists(
      _.stripPrefix("date=").toLongOption
        .exists(day => (day + 86400L) * 1000000L <= cutoffUs))
    if (anyExpired)
      SamplesStore.deleteRange(spark, storePath, Long.MinValue, cutoffUs,
        gcGraceMs = gcGraceMs)
    anyExpired
  }

  /** Per-request write outcome, in the SENDER's units (what the 2.0
    * response headers confirm): float samples, native-histogram
    * samples, and exemplars accepted — a histogram counts once
    * however many classic rows its conversion lands. */
  final case class WriteOutcome(samples: Long, histograms: Long,
                                exemplars: Long = 0L)

  /** The sibling store exemplars land in (same parquet layout; the
    * exemplar labels ride as "__x_k=v" entries — PromRemoteCodec
    * .toExemplarRows documents the encoding). */
  def exemplarPath(storePath: String): String =
    storePath.stripSuffix("/") + "_exemplars"

  /** The sibling store metric metadata (PRW 2.0 TimeSeries field 5 /
    * OTLP description+unit+data-arm type) lands in — same parquet
    * layout, rows carry "__help=/__type=/__unit=" label entries
    * (PromRemoteCodec.toMetadataRows documents the encoding);
    * /api/v1/metadata serves the newest row per metric. */
  def metadataPath(storePath: String): String =
    storePath.stripSuffix("/") + "_meta"

  /** The sibling store native-histogram samples land in (raw prompb
    * Histogram bytes next to the series key; PromRemoteCodec
    * .toHistRows documents the schema). A full SamplesStore citizen
    * like the exemplar/metadata siblings — manifest-committed
    * appends (atomic visibility), day-partitioned pruning, and
    * [[maintainSiblings]]'s compaction + retention; the store
    * machinery is schema-agnostic beyond (ts_us, metric, labels),
    * so the binary `hist` column simply rides along. The classic
    * expansion in the MAIN store is what the query surface reads;
    * this sibling feeds histogram-chunk federation. */
  def histPath(storePath: String): String =
    storePath.stripSuffix("/") + "_hist"

  /** The sibling store staleness markers land in (PromRemoteCodec
    * .toStaleRows documents the schema — presence-only rows, the
    * marker's value is the StaleNaN constant by definition). Kept
    * OUT of the main table: range windows must never see markers
    * (Prometheus drops StaleNaN in matrix selection), the instant
    * lookback must END at one, and the exact NaN payload could not
    * survive a Spark double column anyway. Tiny by nature — one row
    * per series DEATH, not per sample. */
  def stalePath(storePath: String): String =
    storePath.stripSuffix("/") + "_stale"

  /** The stale sibling as a snapshot-planned DataFrame when it
    * exists (None otherwise) — threaded into PromQL.eval's instant
    * lookback and the /read pass-through. */
  def staleStoreDf(spark: SparkSession, storePath: String): Option[DataFrame] = {
    val sp = stalePath(storePath)
    if (!SamplesStore.exists(spark, sp)) None
    else Some(SamplesStore.read(spark, sp))
  }

  /** The hist sibling as a snapshot-planned DataFrame when it exists
    * and carries native rows (None otherwise; an EMPTY snapshot reads
    * as the samples schema — no hist column, nothing to serve) —
    * shared by the /read chunked path and the PromQL
    * native-estimator flag. */
  def histStoreDf(spark: SparkSession, storePath: String): Option[DataFrame] = {
    val hp = histPath(storePath)
    if (!SamplesStore.exists(spark, hp)) None
    else {
      val df = SamplesStore.read(spark, hp)
      if (df.columns.contains("hist")) Some(df) else None
    }
  }

  /** Last metadata entry written per (store, metric) — PRW 2.0
    * senders attach metadata to EVERY series of EVERY request, so
    * blind appends would grow the metadata table at the sample rate;
    * unchanged entries are skipped here, capping steady-state growth
    * to actual metadata CHURN. Driver-memory cost is one entry per
    * live metric. A restart forgets the cache and re-appends each
    * metric once — the read side's latest-wins collapses that
    * harmlessly (identical entries at a newer stamp). */
  private val lastMetadata =
    scala.collection.concurrent.TrieMap.empty[String, Seq[String]]

  private def appendMetadata(spark: SparkSession, storePath: String,
                             rows: Seq[IngestedSample]): Unit = {
    // a DELETED metadata table must not inherit the cache (the skip
    // would silently drop first-writes after a wipe — test fixtures
    // and operators both do this); one exists() probe per carrying
    // request is the price
    val mp = new org.apache.hadoop.fs.Path(metadataPath(storePath))
    if (!mp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(mp))
      lastMetadata.keys.filter(_.startsWith(s"$storePath|"))
        .foreach(lastMetadata.remove)
    // one row per (metric, entry) at the batch's NEWEST stamp — a
    // multi-blob batch repeats each series' metadata many times, and
    // the kept row must carry the batch's max timestamp (latest-wins
    // reads depend on it); THEN skip entries the store already holds
    val collapsed = rows.groupBy(r => (r.metric, r.labels)).values
      .map(_.maxBy(_.ts_us)).toSeq.sortBy(r => (r.metric, r.ts_us))
    val claims = collapsed.flatMap { r =>
      val key = s"$storePath|${r.metric}"
      val prev = lastMetadata.put(key, r.labels)
      if (prev.contains(r.labels)) None else Some((r, key, prev))
    }
    if (claims.nonEmpty) {
      import spark.implicits._
      try SamplesStore.append(
        claims.map(_._1).toDF("ts_us", "metric", "labels", "value"),
        metadataPath(storePath))
      catch { case e: Throwable =>
        // roll the claims back (newest first), as unclaimCtZero does:
        // a kept claim would skip the entry on every later identical
        // request, and it would never be written until a restart. A
        // key another request re-claimed since keeps that claim.
        claims.reverseIterator.foreach { case (r, key, prev) =>
          prev match {
            case Some(p) => lastMetadata.replace(key, r.labels, p)
            case None    => lastMetadata.remove(key, r.labels)
          }
        }
        throw e
      }
    }
  }

  /** The write path's five stores (primary, exemplar, metadata,
    * hist, stale) are independent — distinct paths, distinct mutation
    * locks — so a histogram-bearing request's appends run
    * CONCURRENTLY and the request costs max(append), not Σ(append).
    * The 200 response still means every store committed (all tasks
    * are awaited; the first failure propagates); there is no
    * cross-store atomicity contract to preserve — Prometheus's own
    * exemplar/metadata storage is similarly independent. Daemon
    * threads so an idle server exits cleanly. */
  private lazy val siblingEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newCachedThreadPool(r => {
        val t = new Thread(r, "graft-write-sibling")
        t.setDaemon(true); t
      }))

  private def runParallel(tasks: Seq[() => Unit]): Unit =
    if (tasks.sizeIs <= 1) tasks.foreach(_())
    else {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      val futs = tasks.map(t => Future(t())(siblingEc))
      // await ALL (no task may outlive its request), then surface the
      // first failure
      val errs = futs.flatMap(f =>
        scala.util.Try(Await.result(f, Duration.Inf)).failed.toOption)
      errs.headOption.foreach(e => throw e)
    }

  /** WriteRequest blob → store append at `storePath`; returns the
    * number of samples written. `contentType` selects the wire
    * format (PRW 2.0 content negotiation: proto=io.prometheus.write
    * .v2.Request → the symbol-table v2 decode; absent/v1 → classic);
    * an unrecognized proto= value throws IllegalArgumentException —
    * the HTTP layer answers it 415 BEFORE calling here. */
  def serve(spark: SparkSession, storePath: String,
            writeRequestBlob: Array[Byte],
            contentType: Option[String] = None): Long =
    serveCounted(spark, storePath, writeRequestBlob, contentType).samples

  /** [[serve]] reporting the request's [[WriteOutcome]]. */
  def serveCounted(spark: SparkSession, storePath: String,
                   writeRequestBlob: Array[Byte],
                   contentType: Option[String] = None): WriteOutcome = {
    val req = decodeCounted(OpsMetrics(spark), contentType, writeRequestBlob)
    land(spark, storePath, landing(req))
    WriteOutcome(req.sampleCount, req.histogramCount, req.exemplarCount)
  }

  /** OTLP metrics body (raw protobuf, no snappy) → store append —
    * the /api/v1/otlp/v1/metrics leg. The body decodes once, where
    * the request arrives, and lands like a /write request: same
    * counters, same background maintenance. Returns the samples
    * written. */
  def serveOtlp(spark: SparkSession, storePath: String,
                body: Array[Byte]): Long = {
    val m = OpsMetrics(spark)
    m.writeRequests.add(1)
    val dec =
      try graft.ingest.OtlpCodec.decodeExportMetricsCounted(body,
        convertDelta = otlpConvertDelta,
        translationSuffixes = otlpTranslationSuffixes,
        promoteScope = otlpPromoteScope)
      catch { case e: Throwable => m.writeErrors.add(1); throw e }
    if (dec.droppedPoints > 0) m.otlpDroppedPoints.add(dec.droppedPoints)
    // exponential-histogram points land their NATIVE form in the hist
    // sibling too — Prometheus's OTLP receiver makes native histograms
    // of them, and this is what lets them federate
    land(spark, storePath, Landing(ct = Nil, samples = dec.samples, exemplars = Nil,
      metadata = dec.metadata, hists = dec.hists, stale = Nil))
  }

  /** Batched form: decode+append MANY blobs as ONE write per store —
    * the shape a replay or a buffering front-end uses. Concurrent
    * [[serve]] calls get part of this on their own:
    * `SamplesStore.append` group-commits the frames queued on one
    * store, so requests that overlap share one write job and one
    * manifest commit. This form still batches when the requests do
    * not overlap, and its samples frame decodes the blobs again
    * DISTRIBUTED: the blobs RDD ships ~KB of wire bytes per request
    * once, where a local relation of the decoded rows
    * re-pays catalyst encoding and task shipping of every row
    * (measured ~0.7 s of a 1.4 s samples append at sf0.1). Every blob
    * also decodes locally first — counters, validation and the
    * sibling legs come from there — so a malformed blob throws before
    * any store mutation. Returns the samples written. */
  def serveAll(spark: SparkSession, storePath: String,
               blobs: Seq[Array[Byte]],
               contentType: Option[String] = None): Long = {
    val m = OpsMetrics(spark)
    val l = Landing.concat(blobs.map(b => landing(decodeCounted(m, contentType, b))))
    val samplesDf = if (l.samples.isEmpty) None else {
      import spark.implicits._
      val n = math.max(1, math.min(spark.sparkContext.defaultParallelism, blobs.size))
      Some(spark.createDataset(spark.sparkContext.parallelize(blobs, n)
        .flatMap(b => PromRemoteCodec.toSamples(negotiated(contentType, b))))
        .toDF("ts_us", "metric", "labels", "value"))
    }
    land(spark, storePath, l, samplesDf)
  }

  /** The negotiated decode, an unsupported proto= value as an
    * IllegalArgumentException. */
  private def negotiated(contentType: Option[String],
                         blob: Array[Byte]): PromRemoteCodec.PromWriteRequest =
    PromRemoteCodec.decodeNegotiated(contentType, blob)
      .fold(p => throw new IllegalArgumentException(
        s"unsupported remote-write proto: $p"), identity)

  /** Decode one WriteRequest blob and count it as the handler does:
    * every blob counts a write request, a malformed one counts an
    * error and throws (the HTTP shim maps it to 500), histograms
    * count as converted or dropped. */
  private def decodeCounted(m: OpsMetrics, contentType: Option[String],
                            blob: Array[Byte]): PromRemoteCodec.PromWriteRequest = {
    m.writeRequests.add(1)
    val req =
      try negotiated(contentType, blob)
      catch { case e: Throwable => m.writeErrors.add(1); throw e }
    if (req.skippedHistograms > 0)
      m.droppedHistograms.add(req.skippedHistograms)
    if (req.histogramCount > 0)
      m.convertedHistograms.add(req.histogramCount)
    req
  }

  /** The rows one or more requests land in the five stores: `ct` are
    * CT-zero candidates (the memo in [[land]] keeps the fresh ones),
    * `ct` + `samples` go to the main store, `stale` to the `_stale`
    * sibling, and the rest to the sibling their name says. */
  private final case class Landing(
      ct: Seq[IngestedSample],
      samples: Seq[IngestedSample],
      exemplars: Seq[IngestedSample],
      metadata: Seq[IngestedSample],
      hists: Seq[(Long, String, Seq[String], Array[Byte])],
      stale: Seq[IngestedSample])

  private object Landing {
    def concat(ls: Seq[Landing]): Landing =
      Landing(ls.flatMap(_.ct), ls.flatMap(_.samples), ls.flatMap(_.exemplars),
        ls.flatMap(_.metadata), ls.flatMap(_.hists), ls.flatMap(_.stale))
  }

  private def landing(req: PromRemoteCodec.PromWriteRequest): Landing =
    Landing(
      if (ctZeroIngestion) PromRemoteCodec.toCtZeroRows(req).toSeq else Nil,
      PromRemoteCodec.toSamples(req).toSeq,
      PromRemoteCodec.toExemplarRows(req).toSeq,
      PromRemoteCodec.toMetadataRows(req).toSeq,
      PromRemoteCodec.toHistRows(req).toSeq,
      PromRemoteCodec.toStaleRows(req).toSeq)

  /** Append `l` to the store and its siblings, one concurrent leg per
    * store that has rows (see [[siblingEc]]), and count what landed.
    * The main store's frame is `samplesDf` when given — it must hold
    * exactly `l.samples` — with the fresh CT-zero rows added; else
    * the local rows. Returns the main store's rows. */
  private def land(spark: SparkSession, storePath: String, l: Landing,
                   samplesDf: Option[DataFrame] = None): Long = {
    import spark.implicits._
    val m = OpsMetrics(spark)
    val ct = freshCtZeroRows(storePath, l.ct)
    val written = ct.size.toLong + l.samples.size
    def rowsDf(rows: Seq[IngestedSample]): DataFrame =
      rows.toDF("ts_us", "metric", "labels", "value")
    runParallel(Seq(
      (written > 0) -> (() => {
        val df = samplesDf match {
          case None                  => rowsDf(ct ++ l.samples)
          case Some(d) if ct.isEmpty => d
          case Some(d)               => rowsDf(ct).unionByName(d)
        }
        try SamplesStore.append(df, storePath)
        catch { case e: Throwable => unclaimCtZero(storePath, ct); throw e }
        m.samplesWritten.add(written)
        // background-merge analogue: each request lands a small file
        // set in its day partitions; fold once fragmentation crosses
        // the threshold so a long-running server never needs an
        // operator
        maybeCompactRateLimited(spark, storePath)
      }),
      l.exemplars.nonEmpty -> (() => {
        SamplesStore.append(rowsDf(l.exemplars), exemplarPath(storePath))
        m.exemplarsWritten.add(l.exemplars.size.toLong)
      }),
      l.metadata.nonEmpty -> (() => appendMetadata(spark, storePath, l.metadata)),
      l.hists.nonEmpty -> (() => SamplesStore.append(
        l.hists.toDF("ts_us", "metric", "labels", "hist"), histPath(storePath))),
      l.stale.nonEmpty -> (() => {
        SamplesStore.append(rowsDf(l.stale), stalePath(storePath))
        m.samplesWritten.add(l.stale.size.toLong)
      })
    ).collect { case (true, leg) => leg })
    written
  }
}
