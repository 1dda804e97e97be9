package graft.serve

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.OpsMetrics
import graft.ingest.{PromRemoteCodec, SamplesStore}

/** The end-to-end remote-write serving loop — the reference's whole
  * `/write` contract in one function (reference: main.go:124-143 +
  * internal/clickhouse/write.go): WriteRequest blob in → decode →
  * label-normalized samples appended to the store → written count
  * out. Counter wiring mirrors the handler exactly: every blob counts
  * a write request, a malformed blob counts an error and throws (the
  * HTTP shim maps it to 500), decoded samples count samples_written.
  *
  * The blob decodes on the driver — it is one bounded HTTP body, the
  * same place the reference's handler inflates it — and the append is
  * a distributed day-partitioned store write. Bulk/replay ingestion
  * of MANY blobs should go through
  * [[graft.ingest.Ingest.decodeWriteRequestBlobs]] instead, which
  * decodes inside executors.
  */
object RemoteWrite {

  /** Fragmentation checks list every day partition, which is O(days in
    * store) namenode/object-store calls — too much to pay on EVERY
    * request at a multi-year store. The serving path probes at most
    * once per this interval per store; fragmentation between probes is
    * bounded by the request rate × interval, which the next probe
    * folds. Mutable so specs (and deployments) can tune the cadence. */
  @volatile var compactCheckIntervalMs: Long = 10000L

  /** Per-day file-count threshold the serving probe hands to
    * [[SamplesStore.maybeCompact]]; an ops knob like the interval. */
  @volatile var autoCompactFilesPerDay: Int = SamplesStore.AutoCompactFilesPerDay

  /** Retention horizon in days; 0 disables. The ClickHouse `TTL`
    * clause analogue: the background maintenance pass drops day
    * partitions that end before `now - retentionDays`. The cutoff is
    * day-aligned, so expiry is always whole-day manifest removals —
    * never a boundary rewrite — and costs one listing plus a commit. */
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

  /** The flagged CT-zero rows this request introduces for the FIRST
    * time in this process (per store). */
  private def freshCtZeroRows(storePath: String,
                              req: PromRemoteCodec.PromWriteRequest)
      : Seq[PromRemoteCodec.IngestedSample] =
    if (!ctZeroIngestion) Nil
    else {
      if (ctSeen.size > 1000000) ctSeen.clear()
      PromRemoteCodec.toCtZeroRows(req)
        .filter(r => ctSeen.add((storePath, r.metric, r.labels, r.ts_us)))
        .toSeq
    }

  /** Roll back [[freshCtZeroRows]]' memo claims when the store
    * append that was meant to land them FAILS — otherwise the
    * process-lifetime memo would suppress the synthetic zero forever
    * and the series' true start would never be written. The
    * unclaim window admits at most one duplicate row per series
    * (another request re-claiming between failure and retry), which
    * the read model's per-second dedup collapses. */
  private def unclaimCtZero(storePath: String,
                            rows: Seq[PromRemoteCodec.IngestedSample]): Unit =
    rows.foreach(r => ctSeen.remove((storePath, r.metric, r.labels, r.ts_us)))

  /** The rollup twin of a store path (kept next to the store so the
    * pair moves together). */
  def rollupPathFor(storePath: String): String = storePath + "_rollup"

  /** The ladder (coarse) rollup twin — built FROM [[rollupPathFor]]. */
  def ladderPathFor(storePath: String): String = storePath + "_rollup_ladder"

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

  /** Test seam: no background maintenance pass runs or waits — lets
    * specs count store work without a straggling pass in the window. */
  private[graft] def maintenanceIdle: Boolean =
    compactPool.getActiveCount == 0 && compactPool.getQueue.isEmpty

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private def maybeCompactRateLimited(spark: SparkSession, storePath: String): Unit = {
    val now = System.currentTimeMillis()
    val last = lastCompactCheck.getOrElse(storePath, 0L)
    if (now - last >= compactCheckIntervalMs &&
        lastCompactCheck.replace(storePath, last, now) ||
        lastCompactCheck.putIfAbsent(storePath, now).isEmpty)
      compactPool.execute { () =>
        try {
          SamplesStore.maybeCompact(spark, storePath, autoCompactFilesPerDay,
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
              SamplesStore.expireSnapshots(spark, rollupPathFor(storePath), gcGraceMs)
            if (rollupLadderIntervalSec > 0)
              SamplesStore.expireSnapshots(spark, ladderPathFor(storePath), gcGraceMs)
          }
        } catch {
          // a failed background merge must not be silent — but it must
          // also never take the serving loop down; the next probe retries
          case scala.util.control.NonFatal(e) =>
            log.warn(s"background store maintenance of $storePath failed: ${e.getMessage}")
        }
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
        SamplesStore.maybeCompact(spark, p, autoCompactFilesPerDay,
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
    if (intervalSec <= 0) 0
    else {
      val days = graft.ingest.RollupStore.rollup(spark, storePath,
        rollupPathFor(storePath), intervalSec)
      // the ladder refreshes AFTER the fine twin, from it — a no-op
      // when no fine day changed (manifest-digest comparison)
      val ladder = rollupLadderIntervalSec
      if (ladder > 0 && ladder % intervalSec == 0 && ladder > intervalSec)
        graft.ingest.RollupStore.rollupLadder(spark,
          rollupPathFor(storePath), ladderPathFor(storePath), ladder)
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
    * whole-directory drops). Consults the day listing FIRST and skips
    * the deleteRange entirely when nothing can expire — the
    * steady-state on every pass but the first of a new day, where the
    * unconditional full-range delete would otherwise take the store
    * mutation lock and walk every day's boundary logic each interval
    * on a multi-year store. The probe itself is one listStatus call.
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
      SamplesStore.latestSnapshot(fs, root).map(_.byDay.keys)
        .getOrElse {
          if (!fs.exists(root)) Nil
          else fs.listStatus(root)
            .filter(s => s.isDirectory && s.getPath.getName.startsWith("date="))
            .map(_.getPath.getName).toSeq
        }
    val anyExpired = liveDays.exists(
      _.stripPrefix("date=").toLongOption
        .exists(day => (day + 86400L) * 1000000L <= cutoffUs))
    if (anyExpired)
      SamplesStore.deleteRange(spark, storePath, Long.MinValue, cutoffUs,
        gcGraceMs = gcGraceMs)
    anyExpired
  }

  /** WriteRequest blob → store append at `storePath`; returns the
    * number of samples written. `contentType` selects the wire
    * format (PRW 2.0 content negotiation: proto=io.prometheus.write
    * .v2.Request → the symbol-table v2 decode; absent/v1 → classic);
    * an unrecognized proto= value throws IllegalArgumentException —
    * the HTTP layer answers it 415 BEFORE calling here. */
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

  private def appendHists(spark: SparkSession, storePath: String,
                          rows: Seq[(Long, String, Seq[String], Array[Byte])]): Unit =
    if (rows.nonEmpty) {
      import spark.implicits._
      SamplesStore.append(
        rows.toDF("ts_us", "metric", "labels", "hist"), histPath(storePath))
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
                             rows: Seq[PromRemoteCodec.IngestedSample]): Unit = {
    if (rows.isEmpty) return
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

  def serve(spark: SparkSession, storePath: String,
            writeRequestBlob: Array[Byte],
            contentType: Option[String] = None): Long =
    serveCounted(spark, storePath, writeRequestBlob, contentType).samples

  def serveCounted(spark: SparkSession, storePath: String,
                   writeRequestBlob: Array[Byte],
                   contentType: Option[String] = None): WriteOutcome = {
    val m = OpsMetrics(spark)
    m.writeRequests.add(1)
    val req =
      try PromRemoteCodec.decodeNegotiated(contentType, writeRequestBlob)
        .fold(p => throw new IllegalArgumentException(
          s"unsupported remote-write proto: $p"), identity)
      catch { case e: Throwable => m.writeErrors.add(1); throw e }
    if (req.skippedHistograms > 0)
      m.droppedHistograms.add(req.skippedHistograms)
    if (req.histogramCount > 0)
      m.convertedHistograms.add(req.histogramCount)
    val ctRows = freshCtZeroRows(storePath, req)
    val rows = (ctRows.iterator ++ PromRemoteCodec.toSamples(req)).toSeq
    val exRows = PromRemoteCodec.toExemplarRows(req).toSeq
    val mdRows = PromRemoteCodec.toMetadataRows(req).toSeq
    val histRows = PromRemoteCodec.toHistRows(req).toSeq
    val staleRows = PromRemoteCodec.toStaleRows(req).toSeq
    runParallel(Seq(
      () => if (rows.nonEmpty) {
        import spark.implicits._
        try SamplesStore.append(
          rows.toDF("ts_us", "metric", "labels", "value"), storePath)
        catch { case e: Throwable =>
          unclaimCtZero(storePath, ctRows); throw e }
        m.samplesWritten.add(rows.size.toLong)
        // background-merge analogue: each request lands a small file
        // set in its day partitions; fold once fragmentation crosses
        // the threshold so a long-running server never needs an
        // operator
        maybeCompactRateLimited(spark, storePath)
      },
      () => if (exRows.nonEmpty) {
        import spark.implicits._
        SamplesStore.append(
          exRows.toDF("ts_us", "metric", "labels", "value"),
          exemplarPath(storePath))
        m.exemplarsWritten.add(exRows.size.toLong)
      },
      () => appendMetadata(spark, storePath, mdRows),
      () => appendHists(spark, storePath, histRows),
      () => if (staleRows.nonEmpty) {
        import spark.implicits._
        SamplesStore.append(
          staleRows.toDF("ts_us", "metric", "labels", "value"),
          stalePath(storePath))
        m.samplesWritten.add(staleRows.size.toLong)
      }
    ).zip(Seq(rows.nonEmpty, exRows.nonEmpty, mdRows.nonEmpty,
      histRows.nonEmpty, staleRows.nonEmpty)).collect { case (t, true) => t })
    WriteOutcome(req.sampleCount, req.histogramCount, req.exemplarCount)
  }

  /** OTLP metrics body (raw protobuf, no snappy) → store append —
    * the /api/v1/otlp/v1/metrics leg. Same counters, same background
    * maintenance as the prompb path. */
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
    val rows = dec.samples
    // samples leg decodes distributed from the raw body (same §8
    // reasoning as serveAll): one task re-runs the counted decode on
    // the shipped bytes instead of the driver round-tripping every
    // decoded row through a local relation per append. Flags are
    // captured into locals so the task closure carries the request's
    // configuration instead of reading driver-side globals.
    val sampleDf = if (rows.isEmpty) None else {
      import spark.implicits._
      val (cd, ts, ps) = (otlpConvertDelta, otlpTranslationSuffixes, otlpPromoteScope)
      Some(spark.createDataset(
        spark.sparkContext.parallelize(Seq(body), 1).flatMap { b =>
          graft.ingest.OtlpCodec.decodeExportMetricsCounted(b,
            convertDelta = cd, translationSuffixes = ts,
            promoteScope = ps).samples
        }).toDF("ts_us", "metric", "labels", "value"))
    }
    runParallel(Seq(
      () => if (rows.nonEmpty) {
        import spark.implicits._
        SamplesStore.append(
          sampleDf.getOrElse(
            rows.toDF("ts_us", "metric", "labels", "value")), storePath)
        m.samplesWritten.add(rows.size.toLong)
        maybeCompactRateLimited(spark, storePath)
      },
      () => appendMetadata(spark, storePath, dec.metadata),
      // exponential-histogram points land their NATIVE form in the
      // hist sibling too — Prometheus's OTLP receiver makes native
      // histograms of them, and this is what lets them federate
      () => appendHists(spark, storePath, dec.hists)
    ).zip(Seq(rows.nonEmpty, dec.metadata.nonEmpty, dec.hists.nonEmpty))
      .collect { case (t, true) => t })
    rows.size.toLong
  }

  /** Batched form: decode+append MANY blobs as ONE store write (one
    * Spark job instead of one per request) — the shape a replay or a
    * buffering front-end uses. Concurrent [[serve]] calls get part of
    * this on their own: `SamplesStore.append` group-commits the frames
    * queued on one store, so requests that overlap share one write
    * job and one manifest commit. This form still batches when the
    * requests do not overlap, and decodes them in one distributed
    * pass. Malformed blobs throw; counters as in [[serve]]. */
  def serveAll(spark: SparkSession, storePath: String,
               blobs: Seq[Array[Byte]],
               contentType: Option[String] = None): Long = {
    val m = OpsMetrics(spark)
    val rows = blobs.map { b =>
      m.writeRequests.add(1)
      val req =
        try PromRemoteCodec.decodeNegotiated(contentType, b)
          .fold(p => throw new IllegalArgumentException(
            s"unsupported remote-write proto: $p"), identity)
        catch { case e: Throwable => m.writeErrors.add(1); throw e }
      if (req.skippedHistograms > 0)
        m.droppedHistograms.add(req.skippedHistograms)
      if (req.histogramCount > 0)
        m.convertedHistograms.add(req.histogramCount)
      (freshCtZeroRows(storePath, req),
        PromRemoteCodec.toSamples(req).toSeq,
        PromRemoteCodec.toExemplarRows(req).toSeq,
        PromRemoteCodec.toMetadataRows(req).toSeq,
        PromRemoteCodec.toHistRows(req).toSeq,
        PromRemoteCodec.toStaleRows(req).toSeq)
    }
    val ctRows = rows.flatMap(_._1)
    val (sampleRows, exRows) = (ctRows ++ rows.flatMap(_._2), rows.flatMap(_._3))
    val (mdRows, histRows) = (rows.flatMap(_._4), rows.flatMap(_._5))
    val staleRows = rows.flatMap(_._6)
    // The samples DataFrame decodes DISTRIBUTED from the raw blobs
    // (guide §8: move the lightweight proxy — ~KB of wire bytes per
    // request — once, not the decoded rows): a driver-side local
    // relation of the decoded samples re-pays catalyst encoding and
    // task-shipping of every row on each append action (measured
    // ~0.7 s of the 1.4 s samples append at sf0.1), while the blobs
    // RDD ships the bytes one time and decodes inside the scan tasks.
    // The driver decode above stays authoritative for validation,
    // counters, ct-zero claims and the small sibling legs, so a
    // malformed blob still throws before any store mutation.
    val sampleDf = if (rows.flatMap(_._2).isEmpty) None else {
      import spark.implicits._
      val n = math.max(1, math.min(spark.sparkContext.defaultParallelism, blobs.size))
      val blobRdd = spark.sparkContext.parallelize(blobs, n)
      val dist = spark.createDataset(blobRdd.flatMap { b =>
        PromRemoteCodec.decodeNegotiated(contentType, b)
          .fold(p => throw new IllegalArgumentException(
            s"unsupported remote-write proto: $p"),
            q => PromRemoteCodec.toSamples(q))
      }).toDF("ts_us", "metric", "labels", "value")
      Some(if (ctRows.isEmpty) dist
           else ctRows.toDF("ts_us", "metric", "labels", "value")
             .unionByName(dist))
    }
    runParallel(Seq(
      () => if (sampleRows.nonEmpty) {
        import spark.implicits._
        try SamplesStore.append(
          sampleDf.getOrElse(
            sampleRows.toDF("ts_us", "metric", "labels", "value")), storePath)
        catch { case e: Throwable =>
          unclaimCtZero(storePath, ctRows); throw e }
        m.samplesWritten.add(sampleRows.size.toLong)
        maybeCompactRateLimited(spark, storePath)
      },
      () => if (exRows.nonEmpty) {
        import spark.implicits._
        SamplesStore.append(
          exRows.toDF("ts_us", "metric", "labels", "value"),
          exemplarPath(storePath))
        m.exemplarsWritten.add(exRows.size.toLong)
      },
      () => appendMetadata(spark, storePath, mdRows),
      () => appendHists(spark, storePath, histRows),
      () => if (staleRows.nonEmpty) {
        import spark.implicits._
        SamplesStore.append(
          staleRows.toDF("ts_us", "metric", "labels", "value"),
          stalePath(storePath))
        m.samplesWritten.add(staleRows.size.toLong)
      }
    ).zip(Seq(sampleRows.nonEmpty, exRows.nonEmpty, mdRows.nonEmpty,
      histRows.nonEmpty, staleRows.nonEmpty)).collect { case (t, true) => t })
    sampleRows.size.toLong
  }
}
