package graft.ingest

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation,
  InMemoryFileIndex, PartitionPath, PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import PromRemoteCodec._

/** DataFrame-level ingestion — the write half of the reference
  * (reference: main.go:126-141 `/write`, internal/clickhouse/write.go)
  * re-expressed as distributed transforms: request blobs live in a
  * binary column and are decoded inside executors (flatMap over the
  * partition), never on the driver. At 100 TB the decode parallelism
  * is the partition count; the reference's single-process HTTP loop
  * is the analogue of exactly one partition.
  */
object Ingest {

  /** Canonical samples → remote-write request blobs, shaped like the
    * real wire: one TimeSeries per (series, chunkSec window), MANY
    * series batched into each WriteRequest (a Prometheus client
    * ships hundreds of series per request, never one). Chunking
    * bounds the collect_list — a hot series at 100 TB never
    * materializes all its points in one row — and batching bounds
    * the per-request framing cost (one snappy+proto frame per
    * seriesPerRequest series instead of per series-day; on a
    * sparse-series corpus that is ~250× fewer frames). */
  def toWriteRequestBlobs(samples: DataFrame, chunkSec: Long = 86400L,
                          seriesPerRequest: Int = 256): DataFrame = {
    val spark = samples.sparkSession
    import spark.implicits._
    samples
      .groupBy(col("metric"), col("labels"), expr(s"ts_us DIV 1000000 DIV $chunkSec").as("chunk"))
      .agg(sort_array(collect_list(struct(col("ts_us").as("_1"), col("value").as("_2")))).as("points"))
      .select(col("metric").as("_1"), col("labels").as("_2"), col("points").as("_3"))
      .as[(String, Seq[String], Seq[(Long, Double)])]
      .mapPartitions { rows =>
        rows.grouped(seriesPerRequest).map { batch =>
          val series = batch.map { case (metric, labels, points) =>
            val promLabels = PromLabel("__name__", metric) +:
              labels.map { kv =>
                val i = kv.indexOf('=')
                PromLabel(kv.substring(0, i), kv.substring(i + 1))
              }
            PromTimeSeries(promLabels, points.map(p => PromSample(p._2, p._1 / 1000L)))
          }
          encodeWriteRequest(PromWriteRequest(series))
        }
      }
      .toDF("body")
  }

  /** Binary remote-write blobs → canonical samples (ts at ms
    * precision, as on the wire). Distributed decode. Counter wiring
    * mirrors the reference's `/write` handler (main.go:125-141):
    * every blob counts as a write request, a malformed blob counts an
    * error and is skipped (the reference 500s that one request and
    * keeps serving), decoded samples count as written. Native
    * histograms ride along as their classic conversion (toSamples);
    * EXEMPLARS are a serving-path feature (RemoteWrite routes them to
    * the sibling exemplar store) — this bulk path answers the samples
    * frame only, by contract. Staleness markers (StaleNaN) likewise:
    * toSamples excludes them (they'd be ordinary NaN after Spark's
    * canonicalization); the serving path routes them to the `_stale`
    * sibling, and a bulk REPLAY carries data, not scrape-liveness
    * events. */
  def decodeWriteRequestBlobs(blobs: DataFrame): DataFrame = {
    val spark = blobs.sparkSession
    import spark.implicits._
    val m = graft.OpsMetrics(spark)
    val (reqs, errs, written) = (m.writeRequests, m.writeErrors, m.samplesWritten)
    blobs.select(col("body")).as[Array[Byte]]
      .flatMap { b =>
        reqs.add(1)
        try {
          val out = toSamples(decodeWriteRequest(b)).toVector
          written.add(out.size.toLong)
          out
        } catch {
          case scala.util.control.NonFatal(_) => errs.add(1); Vector.empty
        }
      }
      .toDF()
      .select(col("ts_us"), col("metric"), col("labels"), col("value"))
  }

  /** Exercise the decode-side normalization on label sets that arrive
    * unsorted with __name__ mid-list (the remote-write spec sorts
    * them, write.go handles either) — builds raw label pairs from the
    * samples view in reverse order, round-trips, and yields the
    * canonical (sorted) form. Rows are batched [[RoundTripBatch]] per
    * WriteRequest (each row its own one-sample TimeSeries), matching
    * the wire's real shape — remote-write bodies carry many series —
    * and amortizing the per-request snappy+proto framing that made the
    * one-blob-per-sample version ~10× the work. */
  val RoundTripBatch = 512

  def roundTripUnsorted(samples: DataFrame): DataFrame = {
    val spark = samples.sparkSession
    import spark.implicits._
    samples
      .select(col("metric").as("_1"), reverse(col("labels")).as("_2"),
              col("ts_us").as("_3"), col("value").as("_4"))
      .as[(String, Seq[String], Long, Double)]
      .mapPartitions { rows =>
        rows.grouped(RoundTripBatch).flatMap { batch =>
          val series = batch.map { case (metric, labels, tsUs, value) =>
            val promLabels = labels.map { kv =>
              val i = kv.indexOf('=')
              PromLabel(kv.substring(0, i), kv.substring(i + 1))
            } :+ PromLabel("__name__", metric)
            PromTimeSeries(promLabels, Seq(PromSample(value, tsUs / 1000L)))
          }
          toSamples(decodeWriteRequest(encodeWriteRequest(PromWriteRequest(series))))
        }
      }
      .toDF()
      .select(col("ts_us"), col("metric"), col("labels"), col("value"))
  }
}

/** The samples store — the Spark twin of the ClickHouse MergeTree
  * table (reference: README.md:17-28). Day-partitioned parquet
  * (`date=<epoch day-start sec>`), rows sorted within files by
  * (metric, labels, ts_us) ≙ `ORDER BY (metric_name, labels,
  * updated_at)`: time predicates prune partitions, metric/label
  * predicates ride parquet row-group min/max + dictionary pages.
  * Time-ranged delete (README.md:166 `ALTER TABLE … DELETE WHERE`)
  * is partition-level: whole days drop, boundary days rewrite —
  * never a full-table scan.
  *
  * COMMITTED STATE IS DEFINED BY A SNAPSHOT MANIFEST, not by the
  * directory tree. Every mutation ends by atomically publishing
  * `_manifests/m-<gen>`, the store's only metadata: the live data
  * files with their sizes, their data schema and the newest committed
  * stream batch id. [[read]] plans from the
  * latest manifest, so EVERY read — in-process or from another JVM —
  * observes exactly one committed snapshot: appends appear atomically,
  * compaction is invisible (same rows, new files), deletes are
  * all-or-nothing. This is what ClickHouse's atomic part commits give
  * the reference for ALL its readers, re-derived in the
  * manifest/snapshot style of the open table formats. Two corollaries:
  *  - The directory tree is NOT a valid table: superseded and
  *    crashed-attempt files linger until [[expireSnapshots]] (grace-
  *    period GC) removes them. Read through [[read]], never by
  *    scanning the directories.
  *  - Rewrites never rename or delete a live file in place — they ADD
  *    files, publish a manifest that stops referencing the old ones,
  *    and let GC reclaim them after `GcGraceMs`. A reader that
  *    planned on manifest G keeps scanning G's files successfully
  *    while G+1 lands; it must only finish within the grace window
  *    (the Iceberg/Delta snapshot-expiry contract). The offline
  *    [[compact]] alone reclaims at once (grace 0).
  */
object SamplesStore {
  private val DaySec = 86400L

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Auto-compaction threshold: once any day partition holds more
    * parquet files than this, the serving append paths fold the store
    * (the ClickHouse background-merge analogue — without it a
    * long-running server fragments until an operator intervenes).
    * ~64 files/day bounds a day's manifest entries and the read-side
    * footer fan-out; at 100 TB you would tune this per
    * store alongside the per-day target file size. */
  val AutoCompactFilesPerDay = 64

  /** Target compacted-file size per day. A fragmented day folds into
    * `ceil(dayBytes / TargetFileBytes)` metric-range-partitioned files,
    * so a hot day at 100 TB compacts into many well-sized sorted files
    * instead of one unwritable monolith, and row-group pruning still
    * sees contiguous (metric, labels, ts_us) runs per file. */
  val TargetFileBytes: Long = 512L * 1024 * 1024

  /** How long a superseded data file outlives the manifest that
    * stopped referencing it. Any reader that planned on an older
    * snapshot must finish its scan within this window — after it,
    * [[expireSnapshots]] (or the in-path GC after compaction/delete)
    * may reclaim the file. 10 min comfortably covers serving reads
    * (bounded by maxReadSamples); a long analytical scan over the
    * store should pin its own copy or raise the grace. */
  val GcGraceMs: Long = 10L * 60 * 1000

  /** Two locks per store path, with distinct jobs:
    *
    * MUTATION lock — one exclusive lock per store: the HTTP front
    * door serves handlers concurrently, and two Spark jobs staging
    * into the same directory tree would race their manifest
    * generations. Mutations serialize per store within this JVM (the
    * serving process is one JVM, like the reference's one Go process
    * in front of ClickHouse); their expensive distributed phases
    * (compaction's STAGE) run OUTSIDE it. Plain [[append]]s COALESCE
    * under it: each caller queues its frame before taking the lock,
    * and whoever holds it commits everything queued as one write job
    * and one manifest generation (group commit), so callers that
    * arrive while a commit runs share the next one instead of each
    * paying the fixed per-append floor in line.
    *
    * VISIBILITY lock — a fair read-write lock. Snapshot manifests
    * carry the visibility story (readers plan one committed snapshot
    * with no lock at all), so the write side has exactly one taker:
    * the grace-expired GC's file deletions, taken with a BOUNDED
    * tryLock (GC defers to a long-running reader, never the reverse).
    * [[readLocked]] (the serving `/read`) holds the READ side for its
    * whole query execution, which lets even a grace-0 force-expiry
    * never yank files from an in-flight in-JVM plan; out-of-process
    * readers rely on the grace window instead (they cannot take an
    * in-JVM lock). Lock order is always mutation → visibility, and
    * readers take only the visibility side, so no cycle exists. Bare
    * [[read]] is entirely lock-free. */
  /** EVERY lock map keys through this normalization. Store paths
    * reach the lock sites in two spellings — the caller's raw string
    * (`/tmp/store`, what `readLocked` sees) and filesystem-qualified
    * (`file:/tmp/store`, what `fs.listStatus` children report via
    * `.getParent`) — and `new Path(path).toString` preserves that
    * difference, so keying on it hands the two spellings DIFFERENT
    * locks: a GC "excluding" readers then excludes nobody and deletes
    * files right out from under a concurrent read. Keying on the
    * URI path component collapses both spellings (two stores on
    * different filesystems with the same path would share a lock —
    * harmless over-locking, and a serving JVM fronts one filesystem). */
  private[graft] def lockKey(path: String): String = {
    val p = new Path(path).toUri.getPath
    if (p == null || p.isEmpty) new Path(path).toString else p
  }

  private val storeLocks = scala.collection.concurrent.TrieMap
    .empty[String, java.util.concurrent.locks.ReentrantLock]
  private[graft] def locked[T](path: String)(f: => T): T = {
    val l = storeLocks.getOrElseUpdate(lockKey(path),
      new java.util.concurrent.locks.ReentrantLock)
    l.lock()
    try f finally l.unlock()
  }

  private val visibilityLocks = scala.collection.concurrent.TrieMap
    .empty[String, java.util.concurrent.locks.ReentrantReadWriteLock]
  private def visibilityFor(path: String) =
    visibilityLocks.getOrElseUpdate(lockKey(path),
      new java.util.concurrent.locks.ReentrantReadWriteLock(true))

  /** Test seam: the visibility lock instance backing `path` — lets
    * specs assert the qualified and raw spellings of one store
    * resolve to ONE lock object. */
  private[graft] def visibilityLockHandle(path: String) = visibilityFor(path)

  /** How long a DEFERRABLE visibility-lock taker (grace-expired GC)
    * waits before giving up and leaving the cleanup for the next
    * pass. Bounds the fair-lock coupling: a queued writer blocks new
    * readers and mutations behind the longest in-flight /read, so an
    * unbounded wait would let one slow dashboard query stall every
    * concurrent reader for its whole duration — with the timeout the
    * stall is capped and the reclaim is simply retried later. */
  val GcLockTimeoutMs: Long = 5000L

  /** Run `f` under the visibility write lock, waiting at most
    * `timeoutMs`: returns false WITHOUT running `f` when a
    * long-running reader keeps the lock parked. */
  private def visibleTry(path: String, timeoutMs: Long)(f: => Unit): Boolean = {
    val l = visibilityFor(path).writeLock()
    if (!l.tryLock(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)) false
    else { try f finally l.unlock(); true }
  }

  /** Run `f` (a read's full plan-to-action execution) holding the
    * visibility read lock of `path` and of every store in `more` (the
    * siblings the read also plans): concurrent with other reads and
    * with every mutation, excluded only from GC file deletions. An
    * in-JVM serving read can thus never lose a planned file, even to
    * a grace-0 expiry of any store it reads. Locks are taken in
    * argument order — the serving handlers pass the main store
    * first, then its siblings in one fixed order (hist, stale) — and
    * requests take read sides only while GC takes one write side
    * through a bounded tryLock, so no cycle can form. Must never wrap
    * anything that mutates a locked store (GC's write side cannot be
    * taken while a read side is held on the same thread). */
  def readLocked[T](path: String, more: String*)(f: => T): T = {
    val l = visibilityFor(path).readLock()
    l.lock()
    try { if (more.isEmpty) f else readLocked(more.head, more.tail: _*)(f) }
    finally l.unlock()
  }

  // ---- snapshot manifests -----------------------------------------
  // One committed snapshot per mutation: `_manifests/m-<gen>` is
  // either a CHECKPOINT listing every live data file (`F <bytes>
  // date=X/part-….parquet`) or a DELTA (`base G` + `A`/`R` lines)
  // naming only the files this mutation added and removed on top of
  // snapshot G; both restate the `data-schema <DDL>`. Either way the
  // commit is a single atomic rename of a fully-written temp file, so
  // any reader — this JVM or another process — sees gen G or G+1,
  // never a half-state. Deltas are what makes the serving append path scale:
  // a /write request's commit writes O(its own files) bytes, not
  // O(total store files) — at ~200k live files (100 TB at the 512 MB
  // target) a full list is 10-15 MB per request, a delta tens of
  // bytes (the Delta-log/Iceberg-manifest-list move). A checkpoint
  // every [[CheckpointEvery]] generations bounds every resolve chain,
  // so cold reads stay O(CheckpointEvery) small files + one full
  // list. The newest committed stream batch id rides every manifest:
  // batch ids are monotone through the store's single stream writer
  // (Structured Streaming delivers foreachBatch in order), so ONE
  // max id is the whole exactly-once ledger: a replay of id ≤ max
  // short-circuits, and a crash before the commit leaves files no
  // manifest references — invisible, re-staged by the replay,
  // reclaimed by GC. Every OTHER line is an opaque HEADER line the
  // store's owner keeps in its manifest (a rollup store's interval,
  // row schema and `D <day> <digest>` lines); samples stores write
  // none. Each manifest restates its whole header, so a snapshot's
  // header is its newest manifest's. Older manifests still parse: a
  // `graft-rollup v1` manifest is a checkpoint (its `F` lines the file
  // list, the rest its header), a size-less entry costs one stat as
  // its generation resolves, and a schema-less snapshot infers once.

  private val ManifestDir = "_manifests"
  private val ManifestPattern = "^m-(\\d{20})$".r

  /** Every Nth generation is a full checkpoint: bounds delta-chain
    * resolution for cold readers and bounds how long a superseded
    * file can stay GC-pinned by an old checkpoint a retained delta
    * chains through. */
  private[graft] val CheckpointEvery: Long = 25L

  /** One committed store snapshot: manifest generation, newest
    * committed stream batch id, the live data files (relative path →
    * bytes), the manifest's opaque header lines and the files' data
    * schema ([[dataSchemaOf]]; None only on a pre-schema manifest). */
  final case class StoreSnapshot(gen: Long, maxBatchId: Long, sizes: Map[String, Long],
                                 header: Vector[String] = Vector.empty,
                                 dataSchema: Option[StructType] = None) {
    lazy val files: Vector[String] = sizes.keys.toVector.sorted
    /** Total bytes of the live data files. */
    lazy val bytes: Long = sizes.values.sum
    /** day name (`date=X`) → its live files. */
    lazy val byDay: Map[String, Vector[String]] = files.groupBy(f => f.takeWhile(_ != '/'))
    /** This snapshot narrowed to `keep`, a subset of its files. */
    def only(keep: Iterable[String]): StoreSnapshot =
      copy(sizes = keep.iterator.map(f => f -> sizes(f)).toMap)
  }

  /** The state before a store's first commit: a commit on top of it
    * writes generation 1 as a checkpoint. */
  private[graft] val NoSnapshot = StoreSnapshot(0L, -1L, Map.empty)

  private def manifestFile(root: Path, gen: Long): Path =
    new Path(new Path(root, ManifestDir), f"m-$gen%020d")

  /** Parsed snapshots by store, keyed to their generation. A
    * generation's content is immutable once its rename lands, so the
    * cache can never be wrong — only stale, and staleness is detected
    * by the one cheap `_manifests` listing every [[latestSnapshot]]
    * call already does. At 100 TB the manifest is O(total files)
    * lines; without this, every read request would re-read and
    * re-parse megabytes of file list. */
  private val snapshotCache = scala.collection.concurrent.TrieMap
    .empty[String, StoreSnapshot]

  /** Test/measurement seam: drop the cached parsed snapshot so the
    * next resolution replays the manifest chain cold, as a fresh
    * process would. */
  private[graft] def invalidateSnapshotCache(path: String): Unit = {
    snapshotCache.remove(lockKey(path)); ()
  }

  /** Name of the max-generation HINT file inside `_manifests`. The
    * hint is an optimization, never a source of truth: commits rename
    * their manifest first (the commit point) and then best-effort
    * rewrite the hint, so the hint can be missing (crash window,
    * pre-hint store) or BEHIND (never ahead — expiry keeps the latest
    * manifest). Resolution reads the hint and probes forward for the
    * few generations a crash could have left unhinted; any doubt
    * falls back to the full listing. Why it exists: listing
    * `_manifests` is O(retained generations) per uncached read, and
    * a high write rate inside the GC grace retains thousands —
    * measured 41 ms/read at 2000 generations (SCALE.md, round 13)
    * where the hint path is two small reads. */
  private val MaxGenHint = ".maxgen"

  private def writeMaxGenHint(fs: org.apache.hadoop.fs.FileSystem, dir: Path,
                              gen: Long): Unit =
    try {
      val tmp = new Path(dir, s".maxgen-tmp-${java.util.UUID.randomUUID()}")
      val out = fs.create(tmp, true)
      out.write(gen.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out.close()
      val hint = new Path(dir, MaxGenHint)
      fs.delete(hint, false)
      if (!fs.rename(tmp, hint)) fs.delete(tmp, false)
    } catch { case _: Exception => () } // best effort — readers fall back

  /** Latest generation via the hint + forward probe, or None when the
    * hint is absent/corrupt/pointing at an expired file (→ caller
    * lists). A hint behind by k (k = crashed commits since the last
    * hint rewrite, almost always 0) costs k+1 existence probes. */
  private def maxGenViaHint(fs: org.apache.hadoop.fs.FileSystem,
                            root: Path, dir: Path): Option[Long] =
    try {
      val in = fs.open(new Path(dir, MaxGenHint))
      val g0 = try new String(
          org.apache.commons.io.IOUtils.toByteArray(in),
          java.nio.charset.StandardCharsets.UTF_8).trim.toLong
        finally in.close()
      if (!fs.exists(manifestFile(root, g0))) None
      else {
        var g = g0
        while (fs.exists(manifestFile(root, g + 1))) g += 1
        Some(g)
      }
    } catch { case _: Exception => None }

  /** The latest committed snapshot, or None for a store that has
    * never committed one (fresh path, or a plain parquet tree built
    * by other tools). Lock-free: the max-gen hint (two small reads)
    * or one listing, plus — when the generation advanced — reading
    * only the NEW delta manifests on top of the cached snapshot
    * (another process's commits are picked up the same way); a cold
    * cache walks at most one checkpoint chain. */
  private[graft] def latestSnapshot(fs: org.apache.hadoop.fs.FileSystem,
                                    root: Path): Option[StoreSnapshot] = {
    val dir = new Path(root, ManifestDir)
    val genOpt = maxGenViaHint(fs, root, dir).orElse {
      val gens =
        try fs.listStatus(dir).map(_.getPath.getName)
          .collect { case ManifestPattern(g) => g.toLong }
        catch { case _: java.io.FileNotFoundException => Array.empty[Long] }
      if (gens.isEmpty) None else Some(gens.max)
    }
    genOpt match {
      case None =>
        snapshotCache.remove(lockKey(root.toString)); None
      case Some(gen) =>
        val key = lockKey(root.toString)
        snapshotCache.get(key).filter(_.gen == gen).orElse {
          val snap = readManifest(fs, root, gen, snapshotCache.get(key))
          snapshotCache.put(key, snap)
          Some(snap)
        }
    }
  }

  /** One manifest file, unresolved: a checkpoint carries the full
    * file list (`fulls`, base None); a delta carries its base
    * generation plus added/removed files (path, bytes or
    * [[UnknownSize]]). Both carry their data schema and header. */
  private final case class ManifestRec(base: Option[Long], maxBatch: Long,
      fulls: Vector[(String, Long)], adds: Vector[(String, Long)], removes: Vector[String],
      dataSchema: Option[StructType], header: Vector[String])

  private val UnknownSize = -1L

  /** An `F`/`A` entry: `<bytes> <path>` (the size leads, so a path
    * holding a space still parses), or a pre-size bare `date=…` path. */
  private def entry(rest: String): (String, Long) =
    if (rest.startsWith("date=")) (rest, UnknownSize)
    else rest.split(" ", 2) match { case Array(n, f) => (f, n.toLong) }

  private def readManifestRec(fs: org.apache.hadoop.fs.FileSystem, root: Path,
                              gen: Long): ManifestRec = {
    val in = fs.open(manifestFile(root, gen))
    try {
      val lines = scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
      var maxBatch = -1L
      var base: Option[Long] = None
      var dataSchema: Option[StructType] = None
      val fulls = Vector.newBuilder[(String, Long)]
      val adds = Vector.newBuilder[(String, Long)]
      val removes = Vector.newBuilder[String]
      val header = Vector.newBuilder[String]
      lines.foreach { l =>
        if (l == FormatLine) ()
        else if (l.startsWith("max-batch-id ")) maxBatch = l.stripPrefix("max-batch-id ").toLong
        else if (l.startsWith("base ")) base = Some(l.stripPrefix("base ").toLong)
        else if (l.startsWith(SchemaPrefix))
          dataSchema = Some(StructType.fromDDL(l.drop(SchemaPrefix.length)))
        else if (l.startsWith("F ")) fulls += entry(l.stripPrefix("F "))
        else if (l.startsWith("A ")) adds += entry(l.stripPrefix("A "))
        else if (l.startsWith("R ")) removes += l.stripPrefix("R ")
        else header += l
      }
      ManifestRec(base, maxBatch, fulls.result(), adds.result(), removes.result(),
        dataSchema, header.result())
    } finally in.close()
  }

  /** Resolve generation `gen` to its full snapshot: walk the delta
    * chain back (base pointers) until a checkpoint — or until
    * `cached`'s generation, whose resolved files seed the replay —
    * then apply the deltas forward; ledger, schema and header are the
    * newest manifest's, and a pre-size entry costs one stat. Chains
    * are ≤ [[CheckpointEvery]] deltas long, and commit history is
    * linear (commits serialize on the store's mutation lock; a rename
    * landing on an occupied slot aborts the commit loudly rather than
    * fork the chain), so a cached generation on file is always an
    * ancestor of `gen`. */
  private def readManifest(fs: org.apache.hadoop.fs.FileSystem, root: Path,
                           gen: Long, cached: Option[StoreSnapshot] = None): StoreSnapshot = {
    val usable = cached.filter(_.gen < gen)
    var chain = List.empty[ManifestRec]
    var rec = readManifestRec(fs, root, gen)
    var baseFiles = Map.empty[String, Long]
    var done = false
    while (!done) {
      chain ::= rec
      rec.base match {
        case None => done = true
        case Some(b) if usable.exists(_.gen == b) =>
          baseFiles = usable.get.sizes; done = true
        case Some(b) => rec = readManifestRec(fs, root, b)
      }
    }
    // chain is base-first; the head's fulls seed a checkpoint chain
    val files = chain.foldLeft(baseFiles) { (acc, r) =>
      if (r.base.isEmpty) r.fulls.toMap
      else acc -- r.removes ++ r.adds
    }
    val sized = files.map { case (f, n) =>
      f -> (if (n != UnknownSize) n else fs.getFileStatus(new Path(root, f)).getLen) }
    StoreSnapshot(gen, chain.last.maxBatch, sized, chain.last.header, chain.last.dataSchema)
  }

  /** [[writeManifest]]'s abort: another process claimed the manifest
    * generation this commit was about to take. No retry can fix it,
    * so a failed group commit never retries its members alone. */
  final class ConcurrentWriterException(msg: String) extends IllegalStateException(msg)

  /** Write manifest `content` for the next generation after
    * `prevGen` and RENAME it into its slot — the commit point (rename
    * fails on an existing target, so a generation can never be
    * half-written or double-claimed). Called under the mutation lock,
    * which makes a failed rename IMPOSSIBLE in-contract: every commit
    * in this JVM serialized behind us, so an occupied `m-(prevGen+1)`
    * slot means a SECOND WRITER PROCESS committed against the same
    * store. Retrying on the next slot would silently orphan that
    * writer's generation (the delta chain follows `base` pointers and
    * would skip it), so the out-of-contract misconfiguration fails
    * loudly instead — the store is left exactly as the other writer
    * committed it, nothing is lost. */
  private def writeManifest(fs: org.apache.hadoop.fs.FileSystem, root: Path,
                            prevGen: Long)(render: Long => String): Long = {
    val dir = new Path(root, ManifestDir)
    fs.mkdirs(dir)
    val gen = prevGen + 1
    val tmp = new Path(dir, s".tmp-$gen-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    out.write(render(gen).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    if (!fs.rename(tmp, manifestFile(root, gen))) {
      fs.delete(tmp, false)
      throw new ConcurrentWriterException(
        s"concurrent writer detected: manifest generation $gen already exists " +
        s"under $root/$ManifestDir — this store has a single-writer-process " +
        "contract (mutations serialize on an in-JVM lock); a second process " +
        "appears to be committing to the same store path. Aborting this " +
        "commit; the other writer's generation is preserved.")
    }
    writeMaxGenHint(fs, dir, gen) // after the commit point, best effort
    gen
  }

  private val FormatLine = "graft-manifest v1"
  private val SchemaPrefix = "data-schema "

  /** Format tag, batch ledger and data schema: every manifest's first lines. */
  private def preamble(maxBatchId: Long, dataSchema: Option[StructType]): Vector[String] =
    Vector(FormatLine, s"max-batch-id $maxBatchId") ++ dataSchema.map(SchemaPrefix + _.toDDL)

  private def entries(tag: String, files: Map[String, Long]): Vector[String] =
    files.toVector.sorted.map { case (f, n) => s"$tag $n $f" }

  private def checkpointText(maxBatchId: Long, dataSchema: Option[StructType],
                             header: Vector[String], files: Map[String, Long]): String =
    (preamble(maxBatchId, dataSchema) ++ header ++ entries("F", files)).mkString("\n")

  /** Publish `files` (path → bytes) with `dataSchema` as a full
    * checkpoint on top of `prev`, restating its batch ledger and header
    * (bootstrap/adopt/rebuild onto [[NoSnapshot]], compaction, expiry's
    * re-checkpoint). */
  private def commitSnapshot(fs: org.apache.hadoop.fs.FileSystem, root: Path,
                             prev: StoreSnapshot, files: Map[String, Long],
                             dataSchema: Option[StructType]): StoreSnapshot = {
    val gen = writeManifest(fs, root, prev.gen)(_ =>
      checkpointText(prev.maxBatchId, dataSchema, prev.header, files))
    val snap = prev.copy(gen = gen, sizes = files, dataSchema = dataSchema)
    snapshotCache.put(lockKey(root.toString), snap)
    snap
  }

  /** Publish a mutation as a DELTA on top of `prev`: the manifest
    * write is O(files this mutation touched) plus the header, never
    * O(total store files) — the property that keeps /write metadata
    * cost flat as the store grows. Every [[CheckpointEvery]]th
    * generation (and the first) is a full checkpoint instead,
    * bounding the resolve chain for cold readers. The batch ledger,
    * header and data schema default to `prev`'s. Callers hold the
    * store's mutation lock and resolved `prev` under it. */
  private[graft] def commitDelta(fs: org.apache.hadoop.fs.FileSystem, root: Path,
                                 prev: StoreSnapshot, added: Map[String, Long],
                                 removed: Set[String])(
                                 maxBatchId: Long = prev.maxBatchId,
                                 header: Vector[String] = prev.header,
                                 dataSchema: Option[StructType] = prev.dataSchema): StoreSnapshot = {
    val files = prev.sizes -- removed ++ added
    val gen = writeManifest(fs, root, prev.gen) { g =>
      if (prev.gen == 0 || g % CheckpointEvery == 0) checkpointText(maxBatchId, dataSchema, header, files)
      else
        ((preamble(maxBatchId, dataSchema) :+ s"base ${prev.gen}") ++ header ++
          removed.toVector.sorted.map("R " + _) ++ entries("A", added)).mkString("\n")
    }
    val snap = StoreSnapshot(gen, maxBatchId, files, header, dataSchema)
    snapshotCache.put(lockKey(root.toString), snap)
    snap
  }

  /** Full data-file listing (relative path → bytes) — adoption and
    * the bulk rebuild only; incremental mutations never call this. */
  private def listingFiles(fs: org.apache.hadoop.fs.FileSystem, root: Path): Map[String, Long] =
    if (!fs.exists(root)) Map.empty
    else fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("date="))
      .flatMap(day => fs.listStatus(day.getPath)
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(f => (day.getPath.getName + "/" + f.getPath.getName) -> f.getLen))
      .toMap

  /** What a lock-free reader sees at `root`: the latest committed
    * snapshot; [[NoSnapshot]] for a store this module claimed whose
    * first commit has not landed (`_manifests` exists but holds no
    * manifest, so any data file there belongs to an uncommitted — or
    * crashed — first mutation); None for a foreign manifest-less tree
    * or an empty path. */
  private[graft] def readableSnapshot(fs: org.apache.hadoop.fs.FileSystem,
                                      root: Path): Option[StoreSnapshot] =
    latestSnapshot(fs, root).orElse(
      if (fs.exists(new Path(root, ManifestDir))) Some(NoSnapshot) else None)

  /** What a reader plans from: [[readableSnapshot]], None for an
    * absent path, and a loud failure for a manifest-less tree — reading
    * it would take a listing and an inference, a second read
    * semantics. Any mutation adopts such a tree. */
  private[graft] def committedSnapshot(fs: org.apache.hadoop.fs.FileSystem,
                                       root: Path): Option[StoreSnapshot] =
    readableSnapshot(fs, root).orElse(
      if (!fs.exists(root)) None
      else throw new IllegalStateException(s"$root has no $ManifestDir, so no snapshot " +
        "commits its files; any SamplesStore mutation (append, compact, …) adopts the tree first"))

  /** The store's snapshot, with its data schema, adopting a
    * manifest-less tree that holds data files (legacy store, or a
    * parquet layout produced by other tools) by committing gen 1 from
    * a full listing. A path with no data files is CLAIMED instead —
    * its `_manifests` dir is created, no manifest written — and
    * resolves to [[NoSnapshot]], so its first mutation commits gen 1
    * itself. The claim lands before that
    * mutation publishes any file: files a failed first mutation left
    * behind are never adopted (a retry or a batch replay would land
    * its rows twice), and readers see the claimed store as empty
    * until gen 1 commits. Mutation-lock holders only. */
  private def snapshotOrAdopt(spark: SparkSession, path: String): StoreSnapshot = {
    val (fs, root) = (fsFor(spark, path), new Path(path))
    readableSnapshot(fs, root).map(withSchema(spark, path, _)).getOrElse {
      val files = listingFiles(fs, root)
      if (files.nonEmpty) commitSnapshot(fs, root, NoSnapshot, files,
        withSchema(spark, path, NoSnapshot.copy(sizes = files)).dataSchema)
      else { fs.mkdirs(new Path(root, ManifestDir)); NoSnapshot }
    }
  }

  private def fsFor(spark: SparkSession, path: String): org.apache.hadoop.fs.FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Whether anything exists at store path `path` — one filesystem
    * probe. A store that was never written (a fresh server, a sibling
    * that never received a row) reads as absent rather than failing. */
  private[graft] def exists(spark: SparkSession, path: String): Boolean =
    fsFor(spark, path).exists(new Path(path))


  /** The one store write shape: a `date` column derived from ts_us,
    * rows grouped so each day lands in ONE task, and a within-task
    * (date, metric, labels, ts_us) sort. `date` leads the sort so the
    * dynamic-partition writer's required ordering (partition columns
    * first) is already satisfied and it does NOT inject its own
    * partition-column-only sort — which would destroy the (metric,
    * labels, ts_us) file order this store's row-group pruning
    * depends on. Either shape writes one sorted file per touched day.
    *
    * How the days reach their task follows where the rows sit:
    *  - DRIVER-LOCAL input (every leaf of the optimized plan is a
    *    `LocalRelation`: a /write or OTLP request, a sibling-store
    *    leg, a group commit's union of them) is one request's rows.
    *    It runs as ONE task with no exchange (`coalesce(1)`): a
    *    shuffle would cost a map job plus a width-many write job of
    *    mostly empty tasks, all under the store's mutation lock,
    *    for rows that already sit in one place.
    *  - DISTRIBUTED input (a scan of store files for compaction or a
    *    boundary-day rewrite, a file-sourced stream batch,
    *    `serveAll`'s blob RDD, a bulk build) hash-partitions on
    *    `date`. The width derives from the
    *    input's planned size (scale-adaptive, [[graft.Width.of]]),
    *    capped at the session's own setting so a cluster-scale
    *    rewrite keeps its parallelism, and never below min(cap, 32):
    *    a multi-day rebuild needs roughly touched-days many tasks to
    *    write its day files in parallel (measured: a width-1 layout
    *    serialized 30 day files and cost more than the exchange it
    *    saved). Catalyst's sizeInBytes is an estimate (file size for
    *    scans), the right fidelity for a width heuristic: an
    *    overestimate degrades to the session's width. */
  private[graft] def layout(samples: DataFrame): DataFrame = {
    val plan = samples.queryExecution.optimizedPlan
    val dated = samples.withColumn("date", expr("ts_us DIV 1000000 DIV 86400 * 86400"))
    val grouped =
      if (plan.collectLeaves().forall(_.isInstanceOf[LocalRelation])) dated.coalesce(1)
      else {
        val cap = samples.sparkSession.sessionState.conf.numShufflePartitions
        val est = plan.stats.sizeInBytes.min(BigInt(Long.MaxValue)).toLong
        dated.repartition(graft.Width.of(Some(est), graft.Width.MaintenanceTarget, 32, cap),
          col("date"))
      }
    grouped.sortWithinPartitions(col("date"), col("metric"), col("labels"), col("ts_us"))
  }

  /** Stage half of every store rewrite (samples and rollup stores
    * alike): write `laidOut` — already carrying its `date` partition
    * column, rows in their within-file order — under a fresh hidden
    * `.staging-<uuid>` dir of `root`, one sub-dir per day. Nothing
    * references the dir, so staging needs no lock; a crashed attempt
    * is invisible garbage that expiry reclaims by age. */
  private[graft] def stage(laidOut: DataFrame, root: Path): Path = {
    val staging = new Path(root, s".staging-${java.util.UUID.randomUUID()}")
    laidOut.write.mode("overwrite").partitionBy("date").parquet(staging.toString)
    staging
  }

  /** Publish half: MOVE the staged parquet files of every day
    * `keepDay` accepts into their live day dirs as `prefix + name` —
    * pure metadata renames; Spark part-file names carry a per-job
    * UUID, so moved names never collide — then drop the staging dir
    * (with whatever `keepDay` rejected). Returns the moved files'
    * relative `date=X/name` paths → bytes. The caller holds its store's
    * mutation lock and makes them visible with ONE manifest commit;
    * until then they are unreferenced, and a crash leaves only
    * invisible garbage for GC. */
  private[graft] def publish(fs: org.apache.hadoop.fs.FileSystem, staging: Path,
                             root: Path, prefix: String,
                             keepDay: String => Boolean = _ => true): Map[String, Long] = {
    val moved = Map.newBuilder[String, Long]
    fs.listStatus(staging)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("date=") &&
        keepDay(s.getPath.getName))
      .foreach { day =>
        val dstDay = new Path(root, day.getPath.getName)
        fs.mkdirs(dstDay)
        fs.listStatus(day.getPath).filter(_.getPath.getName.endsWith(".parquet"))
          .foreach { f =>
            val name = prefix + f.getPath.getName
            if (!fs.rename(f.getPath, new Path(dstDay, name)))
              throw new java.io.IOException(s"publish: move ${f.getPath} failed")
            moved += (day.getPath.getName + "/" + name) -> f.getLen
          }
      }
    fs.delete(staging, true)
    moved.result()
  }

  /** Test seam: runs after an append resolves its base snapshot but
    * before it stages and commits — the TOCTOU window where a second
    * writer PROCESS (out of contract; mutations only serialize on the
    * in-JVM lock) could claim the next manifest generation first.
    * Lets StoreSpec fake that foreign commit deterministically and
    * assert the loud [[writeManifest]] abort. */
  private[graft] var onAppendSnapshotResolved: () => Unit = () => ()

  /** Shared append path: stage + publish + ONE manifest commit. For a
    * stream batch (`batchId` present) the commit also advances the
    * batch ledger, and a replayed id ≤ the ledger short-circuits
    * BEFORE staging — the exactly-once guarantee, a single atomic
    * commit point. Returns the max live-file count across the
    * touched days (manifest math, no extra listing) — the caller's
    * fragmentation signal. */
  private def appendSnapshot(samples: DataFrame, path: String,
                             batchId: Option[Long]): Int = {
    val fs = fsFor(samples.sparkSession, path)
    locked(path) {
      val lockedAt = System.nanoTime()
      val root = new Path(path)
      val prev = snapshotOrAdopt(samples.sparkSession, path)
      onAppendSnapshotResolved()
      if (batchId.exists(_ <= prev.maxBatchId)) 0 // checkpoint replay: already committed
      else {
        val prefix = batchId.map(id => s"b$id-").getOrElse("")
        val moved = publish(fs, stage(layout(samples), root), root, prefix)
        // a store's first files carry the writer's schema; later
        // appends keep the one the store already has
        val snap = commitDelta(fs, root, prev, moved, Set.empty)(
          maxBatchId = batchId.getOrElse(prev.maxBatchId),
          dataSchema = if (prev.sizes.isEmpty) Some(dataSchemaOf(samples)) else prev.dataSchema)
        val m = graft.OpsMetrics(samples.sparkSession)
        m.storeAppendCommits.add(1)
        m.storeAppendCommitMs.add((System.nanoTime() - lockedAt) / 1000000L)
        val touched = moved.keysIterator.map(_.takeWhile(_ != '/')).toSet
        if (touched.isEmpty) 0
        else touched.iterator.map(d => snap.byDay.getOrElse(d, Vector.empty).size).max
      }
    }
  }

  /** Bulk (re)build: full overwrite of the store path in the
    * canonical layout, then a fresh manifest from the complete
    * listing. OFFLINE-tool semantics: the overwrite truncates the
    * directory (prior manifests included), so run it only on a store
    * without live readers — the serving paths are [[append]] /
    * [[appendBatch]], which commit incremental snapshots. */
  def write(samples: DataFrame, path: String): Unit = locked(path) {
    val fs = fsFor(samples.sparkSession, path)
    layout(samples).write.mode("overwrite").partitionBy("date").parquet(path)
    commitSnapshot(fs, new Path(path), NoSnapshot, listingFiles(fs, new Path(path)),
      Some(dataSchemaOf(samples)))
  }

  /** One [[append]] caller's frame, queued for a group commit. The
    * leader that commits it sets `outcome` under the store's mutation
    * lock, before it releases the lock. Frames merge only within one
    * session and one set of column names and types. */
  private final class QueuedAppend(val frame: DataFrame) {
    @volatile var outcome: Option[scala.util.Try[Unit]] = None
    private val shape = frame.schema.fields.map(f => f.name -> f.dataType).toMap
    def mergesWith(o: QueuedAppend): Boolean =
      (frame.sparkSession eq o.frame.sparkSession) && shape == o.shape
  }

  private val appendQueues = scala.collection.concurrent.TrieMap
    .empty[String, java.util.concurrent.ConcurrentLinkedQueue[QueuedAppend]]
  private def appendQueue(path: String) = appendQueues.getOrElseUpdate(
    lockKey(path), new java.util.concurrent.ConcurrentLinkedQueue[QueuedAppend])

  /** Test seam: how many [[append]] callers wait for a group commit
    * on `path` — lets specs form groups deterministically. */
  private[graft] def queuedAppends(path: String): Int = appendQueue(path).size

  /** Append with the same layout/sort — the serving write path (each
    * remote-write request lands as new files in its day partitions,
    * the MergeTree-insert analogue). The manifest commit makes the
    * request atomically visible: a reader sees all of its samples or
    * none, never a partial request.
    *
    * Concurrent appends to one store COALESCE (group commit): the
    * caller queues its frame, then takes the mutation lock. A caller
    * whose frame an earlier lock holder already committed just
    * returns that outcome; otherwise it leads: it drains every queued
    * frame that can merge with its own and commits them as ONE
    * `unionByName` write job and ONE manifest generation. The group
    * is whatever queued while the previous commit ran — no timer, no
    * size knob. A caller returns only after its group committed, so
    * each request still appears whole or not at all. When a group of
    * several fails, each member retries alone, so a bad frame fails
    * only its own caller; a [[ConcurrentWriterException]] is never
    * retried. */
  def append(samples: DataFrame, path: String): Unit = {
    graft.OpsMetrics(samples.sparkSession).storeAppends.add(1)
    val me = new QueuedAppend(samples)
    val queue = appendQueue(path)
    queue.add(me)
    locked(path) {
      if (me.outcome.isEmpty) {
        import scala.jdk.CollectionConverters._
        val group = me +: queue.asScala.filter(a => (a ne me) && me.mergesWith(a)).toVector
        group.foreach(queue.remove)
        def commit(members: Seq[QueuedAppend]) = scala.util.Try {
          appendSnapshot(members.map(_.frame).reduce(_ unionByName _), path, None); ()
        }
        val together = commit(group)
        val isolate = group.sizeIs > 1 &&
          together.failed.toOption.exists(!_.isInstanceOf[ConcurrentWriterException])
        group.foreach(a => a.outcome = Some(if (isolate) commit(Seq(a)) else together))
      }
    }
    me.outcome.get.get
  }

  /** Exactly-once batch append for checkpointed streams. A bare
    * [[append]] inside foreachBatch is only at-least-once: a crash
    * between the append and the checkpoint commit re-delivers the
    * batch on restart and duplicates its rows. Here the manifest's
    * batch ledger makes the replay a no-op: batch ids are monotone
    * through the store's single stream writer, so a replayed id ≤ the
    * committed maximum short-circuits; a crash BEFORE the commit
    * leaves only unreferenced staging files that the replay simply
    * re-stages (old attempt's files are invisible and age out via
    * GC). Layout (day dirs, sorted files) is identical to
    * [[append]]'s. */
  def appendBatch(samples: DataFrame, path: String, batchId: Long,
                  autoCompactFilesPerDay: Int = AutoCompactFilesPerDay): Unit = {
    graft.OpsMetrics(samples.sparkSession).storeAppends.add(1)
    val maxTouchedDayFiles = appendSnapshot(samples, path, Some(batchId))
    // ClickHouse merges parts in the background; here the writer
    // itself folds the store once fragmentation crosses the
    // threshold. The probe costs nothing (manifest math over the
    // TOUCHED days — never an O(all days) scan per microbatch) and
    // runs AFTER the append's mutation lock releases: compaction's
    // expensive STAGE phase takes no lock (only the ms-scale SNAPSHOT
    // and PUBLISH phases do), so a concurrent /write or the stream's
    // own next microbatch proceeds during the rewrite instead of
    // stalling behind it.
    if (maxTouchedDayFiles > autoCompactFilesPerDay)
      compactFragmentedDays(samples.sparkSession, path, autoCompactFilesPerDay)
  }

  /** The store as a DataFrame — planned from the LATEST committed
    * snapshot, whose files no concurrent mutation can yank away:
    * superseded files outlive their manifest by [[GcGraceMs]].
    * Lock-free and valid from ANY process — this is the
    * atomic-part-visibility contract the reference delegates to
    * ClickHouse. Only `_manifests` is read; [[open]] does the rest. A
    * claimed store whose first commit has not landed reads empty; an
    * absent path fails as "Path does not exist" (FileNotFoundException),
    * a manifest-less tree as [[committedSnapshot]] says. */
  def read(spark: SparkSession, path: String): DataFrame =
    committedSnapshot(fsFor(spark, path), new Path(path)) match {
      case Some(snap) => open(spark, path, snap)
      case None => throw new java.io.FileNotFoundException(s"Path does not exist: $path")
    }

  /** The one place a snapshot becomes a DataFrame, from its manifest
    * alone: a file index pre-filled with its paths and sizes, one
    * `date` partition per day dir (IntegerType, LongType past 2038, as
    * path inference types it) and its data schema ([[withSchema]]).
    * Planning makes no listing or stat call and runs no Spark job; a
    * file whose columns disagree with the schema fails the scan loudly.
    * An empty snapshot opens as [[emptySamples]]. Counted on `/metrics`
    * as `store_opens_total`.
    *
    * A snapshot that fits one query task (`Width.of` at
    * [[graft.Width.QueryTarget]] says 1) opens as `coalesce(1)`: a
    * one-partition scan satisfies every distribution, so the request's
    * aggregates, joins and distincts plan no exchange and the whole
    * request runs as ONE job of one task — at request scale Spark's
    * fixed cost per job and per exchange, not the rows, is the price.
    * [[graft.operators.SeriesRead.seriesMax]] recognises this shape
    * and drops its series exchange too. A larger snapshot opens
    * unchanged. Counted as `store_one_partition_opens_total`. */
  private[graft] def open(spark: SparkSession, path: String, snap: StoreSnapshot): DataFrame = {
    val metrics = graft.OpsMetrics(spark)
    metrics.storeOpens.add(1)
    if (snap.files.isEmpty) emptySamples(spark)
    else {
      val schema = withSchema(spark, path, snap).dataSchema.get
      val (root, statuses) = statusesOf(spark, path, snap)
      val days = snap.byDay.keys.toVector.map(d => d -> d.stripPrefix("date=").toLong)
      val wide = days.exists(!_._2.isValidInt)
      val partitions = PartitionSpec(
        StructType(Seq(StructField("date", if (wide) LongType else IntegerType))),
        days.map { case (d, v) =>
          PartitionPath(InternalRow(if (wide) v else v.toInt), new Path(root, d)) })
      // the files are the index's roots, so two snapshots' plans are
      // equal (share a cached plan) only when their file sets are
      val byPath = statuses.map(st => st.getPath -> Array(st)).toMap
      val listed = new FileStatusCache {
        override def getLeafFiles(p: Path): Option[Array[FileStatus]] = byPath.get(p)
        override def putLeafFiles(p: Path, files: Array[FileStatus]): Unit = ()
        override def invalidateAll(): Unit = ()
      }
      val index = new InMemoryFileIndex(spark, statuses.map(_.getPath), Map.empty, None,
        listed, Some(partitions))
      val scan = spark.baseRelationToDataFrame(HadoopFsRelation(index,
        partitions.partitionColumns, schema, None, new ParquetFileFormat, Map.empty)(spark))
      val cap = spark.sessionState.conf.numShufflePartitions
      if (graft.Width.of(Some(snap.bytes), graft.Width.QueryTarget, 1, cap) > 1) scan
      else {
        metrics.storeOnePartitionOpens.add(1)
        scan.coalesce(1)
      }
    }
  }

  /** `snap`'s files as statuses under the qualified store root. */
  private def statusesOf(spark: SparkSession, path: String,
                         snap: StoreSnapshot): (Path, Vector[FileStatus]) = {
    val root = fsFor(spark, path).makeQualified(new Path(path))
    (root, snap.files.map(f => new FileStatus(snap.sizes(f), false, 0, 0L, 0L, new Path(root, f))))
  }

  /** `snap` with its data schema: the manifest's, or — on a
    * pre-schema manifest — inferred once (a Spark job, counted as
    * `store_schema_inferences_total`) and kept on that generation's
    * snapshot-cache entry for its next open and commit. */
  private[graft] def withSchema(spark: SparkSession, path: String,
                                snap: StoreSnapshot): StoreSnapshot =
    if (snap.dataSchema.isDefined || snap.sizes.isEmpty) snap
    else {
      graft.OpsMetrics(spark).storeSchemaInferences.add(1)
      val inferred = new ParquetFileFormat()
        .inferSchema(spark, Map.empty, statusesOf(spark, path, snap)._2).map(dataColumns)
      val key = lockKey(path)
      snapshotCache.get(key).filter(c => c.gen == snap.gen && c.dataSchema.isEmpty)
        .foreach(c => snapshotCache.replace(key, c, c.copy(dataSchema = inferred)))
      snap.copy(dataSchema = inferred)
    }

  /** The columns a store's data files hold for frame `df` (a writer's
    * input, or an opened store): all but the `date` partition column,
    * as [[dataColumns]] states them. */
  private[graft] def dataSchemaOf(df: DataFrame): StructType = dataColumns(df.schema)

  /** `schema` as Spark's file source reads it back — no `date`
    * partition column, every field nullable at every depth, whatever a
    * writer's frame declared — so a manifest's schema and an inferred
    * one agree. */
  private def dataColumns(schema: StructType): StructType =
    StructType(schema.filterNot(_.name == "date")).toNullable

  /** The store AS OF a specific committed generation — time travel.
    * Manifests are immutable and superseded data files outlive them
    * by the GC grace (and forever on a quiesced store), so a pipeline
    * can PIN a snapshot ([[currentGen]]) and keep reading exactly
    * that corpus while ingestion, compaction, and deletes continue —
    * the reproducible-training-set contract (run the same job
    * tomorrow over today's data), for the price of delaying
    * [[expireSnapshots]] past the job's runtime. An expired or
    * never-committed generation fails loudly. */
  def readAt(spark: SparkSession, path: String, gen: Long): DataFrame = {
    val snap =
      try readManifest(fsFor(spark, path), new Path(path), gen)
      catch {
        case _: java.io.FileNotFoundException =>
          throw new IllegalArgumentException(
            s"readAt: snapshot generation $gen of $path does not exist " +
            "(never committed, or reclaimed by expireSnapshots)")
      }
    open(spark, path, snap)
  }

  /** The latest committed generation, if any — the handle a pipeline
    * pins before a long job and hands to [[readAt]]. */
  def currentGen(spark: SparkSession, path: String): Option[Long] =
    latestSnapshot(fsFor(spark, path), new Path(path)).map(_.gen)

  /** What [[open]] returns for an empty snapshot: the samples
    * store's columns, as a non-empty samples store opens them (the
    * `date` partition value infers as IntegerType for epoch-day
    * seconds until 2038). No Spark job runs. */
  private def emptySamples(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(
        StructField("ts_us", LongType), StructField("metric", StringType),
        StructField("labels", ArrayType(StringType)), StructField("value", DoubleType),
        StructField("date", IntegerType))))
  }

  /** Compaction — the ClickHouse background-merge analogue as a
    * whole-store rebuild: read the latest snapshot, re-establish the
    * layout (repartition by day + within-file (metric, labels, ts_us)
    * sort, so row-group pruning survives: one sorted file per day),
    * publish the new files and commit ONE checkpoint that lists only
    * them — the same atomic manifest commit every other mutation
    * makes, so the generation only rises and the batch ledger carries
    * over. Then it expires every superseded snapshot at once (grace
    * 0), releasing the old files' space eagerly: a generation pinned
    * before the compaction fails loudly in [[readAt]] afterwards, and
    * an other-process reader mid-scan may lose its files. OFFLINE-tool
    * semantics (schema/layout migrations, the oracle query) — the
    * serving path compacts through [[compactFragmentedDays]], which
    * keeps superseded files for the grace window. */
  def compact(spark: SparkSession, path: String): Unit = locked(path) {
    val fs = fsFor(spark, path)
    val root = new Path(path)
    val prev = snapshotOrAdopt(spark, path)
    // `date` is re-derived from ts_us inside layout(), so the rewrite
    // cannot drift from the read-side partition values; the source is
    // the SNAPSHOT, so crashed-append garbage is never folded into
    // committed data.
    val rows = open(spark, path, prev).drop("date")
    val moved = publish(fs, stage(layout(rows), root), root, s"c${prev.gen + 1}-")
    commitSnapshot(fs, root, prev, moved, Some(dataSchemaOf(rows)))
    expireSnapshots(spark, path, 0L)
    val m = graft.OpsMetrics(spark)
    m.compactions.add(1)
    m.daysRewritten.add(moved.keysIterator.map(_.takeWhile(_ != '/')).toSet.size.toLong)
  }

  /** One compaction in flight per store: concurrent probes return
    * immediately instead of queueing rewrites. */
  private val compacting = scala.collection.concurrent.TrieMap
    .empty[String, java.util.concurrent.atomic.AtomicBoolean]
  private def compactingFlag(path: String) =
    compacting.getOrElseUpdate(lockKey(path),
      new java.util.concurrent.atomic.AtomicBoolean(false))

  /** Selective compaction — the 100 TB shape of [[compact]]: rewrite
    * ONLY the day partitions whose live-file count (per the manifest)
    * exceeds `maxFilesPerDay`, leaving every healthy day untouched.
    * On a store with years of history only the hot write frontier
    * ever fragments, so the rewrite cost is O(fragmented days), not
    * O(store) — ONE distributed job over exactly those days' bytes
    * (not a job per day: F small sequential jobs would pay F×
    * scheduling overhead), range-partitioned on (date, metric,
    * labels, ts_us) into `max(F, ceil(bytes / targetFileBytes))`
    * tasks so a hot day folds into several well-sized sorted files
    * and row-group pruning keeps its contiguous metric runs.
    *
    * The expensive rewrite never blocks serving (the ClickHouse
    * background-merge contract):
    *  1. SNAPSHOT (mutation lock, ms): record each fragmented day's
    *     exact file set from the manifest.
    *  2. STAGE (no lock): rewrite the RECORDED files into a hidden
    *     staging dir while appends and reads proceed.
    *  3. PUBLISH (mutation lock, ms): move staged files into their
    *     live day dirs under new names (old files untouched) and
    *     commit ONE manifest replacing each day's recorded files; a
    *     day a concurrent delete touched is left for the next probe,
    *     and files appended meanwhile stay live — concurrent
    *     mutations never lose data. Readers need no exclusion at
    *     all: the commit is atomic, and superseded files outlive the grace
    *     window for anyone mid-scan. Their deletion (grace-expired
    *     GC) is the only visibility-lock consumer left, and it defers
    *     on a bounded tryLock rather than stalling behind a
    *     long-running reader.
    * Callers take no lock around it: wrapping it in `locked(path)`
    * would stall every concurrent /write for the rewrite's duration.
    * Single-flight per store; `afterStage` is a test seam invoked
    * between phases 2 and 3. Returns the number of days rewritten. */
  def compactFragmentedDays(spark: SparkSession, path: String,
                            maxFilesPerDay: Int = AutoCompactFilesPerDay,
                            targetFileBytes: Long = TargetFileBytes,
                            afterStage: () => Unit = () => (),
                            gcGraceMs: Long = GcGraceMs): Int = {
    val flag = compactingFlag(path)
    if (!flag.compareAndSet(false, true)) return 0 // single-flight
    try {
      val fs = fsFor(spark, path)
      val root = new Path(path)

      // Phase 1 — SNAPSHOT under the mutation lock: fragmented days
      // and their exact file sets come from the MANIFEST, so a
      // crashed append's unreferenced files neither inflate the
      // fragmentation count nor get folded into committed data.
      val (snap, targets) = locked(path) {
        val snap = if (fs.exists(root)) snapshotOrAdopt(spark, path) else NoSnapshot
        (snap, snap.byDay.collect { case (day, fls) if fls.size > maxFilesPerDay => day -> fls.toSet })
      }
      if (targets.isEmpty) return 0

      // Phase 2 — STAGE with NO lock held: the rewrite job reads the
      // RECORDED files (never the live day dirs, so files appended
      // meanwhile neither leak into the rewrite nor get lost by the
      // publish) while concurrent /write appends and /read queries
      // proceed. `date` is re-derived from ts_us (as in layout()) and
      // leads both the range partitioning and the within-partition
      // sort so the dynamic-partition writer splits cleanly per day.
      val recorded = snap.only(targets.values.flatten)
      val nTasks = math.max(targets.size.toLong,
        (recorded.bytes + targetFileBytes - 1) / targetFileBytes).toInt
      val staging = stage(
        open(spark, path, recorded)
          .withColumn("date", expr("ts_us DIV 1000000 DIV 86400 * 86400"))
          .repartitionByRange(nTasks, col("date"), col("metric"), col("labels"), col("ts_us"))
          .sortWithinPartitions(col("date"), col("metric"), col("labels"), col("ts_us")),
        root)
      afterStage()

      // Phase 3 — PUBLISH under the mutation lock: metadata renames
      // plus one atomic manifest commit. The compacted files REPLACE
      // exactly the recorded snapshot; files APPENDED during staging
      // simply stay in the day's live set — compaction never loses
      // the race to a busy write frontier (the liveness property a
      // defer-on-any-change rule lacks: under continuous appends a
      // hot day would never fold). Only a DELETE that removed
      // recorded files defers the day — folding would resurrect the
      // deleted rows — and the next probe re-stages from the
      // post-delete snapshot.
      val rewritten = locked(path) {
        val prev = snapshotOrAdopt(spark, path)
        val (folds, deferred) = targets.partition { case (day, fls) =>
          fls.subsetOf(prev.byDay.getOrElse(day, Vector.empty).toSet) }
        deferred.keys.foreach { day =>
          log.info(s"compactFragmentedDays($path): $day lost recorded files " +
            "during staging (concurrent delete) — leaving it for the next probe")
        }
        val added = publish(fs, staging, root, s"c${prev.gen + 1}-", folds.contains)
        val replaced = added.keySet.map(_.takeWhile(_ != '/'))
        if (replaced.nonEmpty) {
          commitDelta(fs, root, prev, added, replaced.flatMap(folds))()
          // reclaim the folded days' superseded files once the grace
          // expires (0 = eager, for quiesced stores and specs)
          gcDataFiles(fs, root, replaced, gcGraceMs)
        }
        replaced.size
      }
      val m = graft.OpsMetrics(spark)
      m.compactions.add(1)
      m.daysRewritten.add(rewritten.toLong)
      rewritten
    } finally flag.set(false)
  }

  /** Delete data files in `days` that the LATEST manifest no longer
    * references and whose age exceeds `graceMs`, then drop day dirs
    * left empty. Deletions take the visibility write lock with a
    * bounded wait: in-JVM [[readLocked]] readers are never pulled out
    * from under, and a long-running reader defers the GC to the next
    * pass instead of being stalled behind it. */
  private def gcDataFiles(fs: org.apache.hadoop.fs.FileSystem, root: Path,
                          days: Iterable[String], graceMs: Long): Int = {
    val referenced = latestSnapshot(fs, root).map(_.sizes.keySet).getOrElse(Set.empty[String])
    val cutoff = System.currentTimeMillis() - graceMs
    var removed = 0
    val ok = visibleTry(root.toString, GcLockTimeoutMs) {
      removed = sweep(fs, root, days, referenced, cutoff)
    }
    if (!ok) log.info(s"gc($root): deferred — visibility lock busy (long-running reader)")
    removed
  }

  /** The one GC sweep, shared by the samples and rollup stores, over
    * the named child dirs of `root`. A `date=` dir loses every
    * `.parquet` file that `referenced` (relative `date=X/name` paths)
    * does not name and whose mtime is at or before `cutoff`, then goes
    * itself once empty. A hidden dir is a crashed staging remnant
    * (`.staging-<uuid>`, or an older build's staging name) — never
    * referenced, dropped whole by age unless `spareStaging` (a
    * compaction is staging outside the lock right now). Returns the
    * number of data files deleted. */
  private[graft] def sweep(fs: org.apache.hadoop.fs.FileSystem, root: Path,
                           children: Iterable[String], referenced: Set[String],
                           cutoff: Long, spareStaging: Boolean = false): Int =
    children.iterator.map { name =>
      val dir = new Path(root, name)
      if (!fs.exists(dir)) 0
      else if (name.startsWith("date=")) {
        val stale = fs.listStatus(dir).filter { f =>
          val n = f.getPath.getName
          n.endsWith(".parquet") && !referenced.contains(name + "/" + n) &&
            f.getModificationTime <= cutoff
        }
        stale.foreach(f => fs.delete(f.getPath, false))
        if (fs.listStatus(dir).isEmpty) fs.delete(dir, true)
        stale.length
      } else {
        if (name.startsWith(".") && !spareStaging &&
            fs.getFileStatus(dir).getModificationTime <= cutoff)
          fs.delete(dir, true)
        0
      }
    }.sum

  /** Snapshot expiry — the store-wide GC and the only place old
    * MANIFESTS are reclaimed (the Iceberg expire-snapshots analogue):
    * retain the latest manifest, every manifest younger than
    * `graceMs`, and every manifest a retained DELTA resolves through
    * (its base chain down to a checkpoint — dropping a base would
    * orphan the retained snapshot), delete the rest, then delete
    * every data file no kept manifest references (aged past the
    * grace), stale staging remnants included (spared while a
    * compaction stages), and drop day dirs left empty. A chain-kept
    * old checkpoint pins its files a little longer than age-based
    * retention alone would — bounded by the
    * [[CheckpointEvery]] cadence, the documented price of O(touched)
    * commits. `graceMs = 0` force-cleans a quiesced store (ops
    * tooling and specs); the serving path runs the default from its
    * background maintenance pass. Returns the number of data files
    * reclaimed. */
  def expireSnapshots(spark: SparkSession, path: String,
                      graceMs: Long = GcGraceMs): Int = locked(path) {
    val fs = fsFor(spark, path)
    val root = new Path(path)
    latestSnapshot(fs, root) match {
      case None => 0
      case Some(latest0) =>
        val cutoff = System.currentTimeMillis() - graceMs
        val mdir = new Path(root, ManifestDir)
        def listManifests(): Map[Long, org.apache.hadoop.fs.FileStatus] =
          fs.listStatus(mdir)
            .flatMap(s => s.getPath.getName match {
              case ManifestPattern(g) => Some((g.toLong, s))
              case _                  => None
            }).toMap
        var all = listManifests()
        val recs = scala.collection.mutable.Map.empty[Long, ManifestRec]
        def rec(g: Long): ManifestRec =
          recs.getOrElseUpdate(g, readManifestRec(fs, root, g))
        def chain(g0: Long): List[Long] = {
          var out = List(g0)
          while (rec(out.head).base.exists(all.contains)) out ::= rec(out.head).base.get
          out
        }
        // If the LIVE snapshot is a delta chaining through manifests
        // this pass is about to drop, roll it into a checkpoint first
        // (O(live files), but only here on the rare expiry pass —
        // never on the per-mutation commit path): the live file set
        // then stands alone and the stale chain can go. Without this,
        // the chain closure would pin the live snapshot's whole
        // ancestry — and every superseded file those ancestors name —
        // forever.
        val latest =
          if (chain(latest0.gen).exists(g =>
              g != latest0.gen && all(g).getModificationTime <= cutoff)) {
            val snap = commitSnapshot(fs, root, latest0, latest0.sizes,
              withSchema(spark, path, latest0).dataSchema)
            all = listManifests()
            snap
          } else latest0
        val retained = all.collect {
          case (g, s) if g == latest.gen || s.getModificationTime > cutoff => g
        }.toSet
        val needed = scala.collection.mutable.Set.empty[Long]
        retained.foreach { g0 =>
          var g: Option[Long] = Some(g0)
          while (g.exists(x => all.contains(x) && needed.add(x)))
            g = rec(g.get).base
        }
        all.foreach { case (g, s) => if (!needed.contains(g)) fs.delete(s.getPath, false) }
        // crashed commit/hint temp files (".tmp-…", ".maxgen-tmp-…")
        // are never referenced — reclaim by age, sparing the live hint
        fs.listStatus(mdir).foreach { s =>
          val n = s.getPath.getName
          if (n.startsWith(".") && n != MaxGenHint &&
              s.getModificationTime <= cutoff)
            fs.delete(s.getPath, false)
        }
        // Union of kept checkpoints' F-lines and kept deltas' A-lines
        // == union of every kept generation's RESOLVED file set: each
        // resolved set replays exactly these lines, and every chain
        // member is in `needed` by construction.
        val referenced = needed.iterator.flatMap(g => rec(g).fulls ++ rec(g).adds).map(_._1).toSet
        var removed = 0
        val ok = visibleTry(root.toString, GcLockTimeoutMs) {
          removed = sweep(fs, root,
            fs.listStatus(root).filter(_.isDirectory).map(_.getPath.getName),
            referenced, cutoff, spareStaging = compactingFlag(path).get)
        }
        if (!ok) log.info(s"expireSnapshots($path): deferred — visibility lock busy")
        removed
    }
  }

  /** Delete samples with startUs <= ts_us < endUs — partition-level,
    * never a full-table scan, and atomically visible in ONE manifest
    * commit: whole days inside the range leave the snapshot (their
    * directories drain via GC after the grace); boundary days rewrite
    * their remaining rows into new files (re-sorted, so the
    * within-file (metric, labels, ts_us) order and its row-group
    * pruning survive deletes), published by the same commit. */
  def deleteRange(spark: SparkSession, path: String, startUs: Long, endUs: Long,
                  gcGraceMs: Long = GcGraceMs): Unit = locked(path) {
    val fs = fsFor(spark, path)
    val root = new Path(path)
    if (fs.exists(root)) {
      val prev = snapshotOrAdopt(spark, path)
      def dayStartUs(day: String) = day.stripPrefix("date=").toLong * 1000000L
      val dayUs = DaySec * 1000000L
      val touched = prev.byDay.filter { case (day, _) =>
        dayStartUs(day) < endUs && dayStartUs(day) + dayUs > startUs }
      // boundary days (partly inside the range) rewrite their remaining
      // rows from the SNAPSHOT's files, all in one layout() job
      val boundary = touched.filter { case (day, _) =>
        dayStartUs(day) < startUs || dayStartUs(day) + dayUs > endUs }
      val added =
        if (boundary.isEmpty) Map.empty[String, Long]
        else publish(fs, stage(layout(
          open(spark, path, prev.only(boundary.values.flatten))
            .filter(col("ts_us") < startUs || col("ts_us") >= endUs)), root),
          root, s"d${prev.gen + 1}-")
      if (touched.nonEmpty) {
        commitDelta(fs, root, prev, added, touched.values.flatten.toSet)()
        gcDataFiles(fs, root, touched.keys, gcGraceMs)
      }
    }
  }
}

/** TSV bulk import/export — the promtool-dump → `INSERT … FORMAT
  * TabSeparated` path (reference: README.md:142-161). Line format
  * mirrors ClickHouse TabSeparated for the samples table:
  * `epoch_sec \t metric \t ['k=v','k=v'] \t value`, including its
  * backslash escaping (`\t \n \r \\` in any string, plus `\'` inside
  * array elements) — Prometheus label values are arbitrary UTF-8, so
  * an unescaped quote/tab/newline must not break framing. Encode and
  * parse run inside executors via mapPartitions: this is a wire codec
  * (like [[PromRemoteCodec]]), and unescaping needs a single-pass
  * scanner — chained regexp substitutions mis-handle sequences like
  * `\'` followed by a real element boundary. */
object TsvBulk {

  private[graft] def escape(s: String, quote: Boolean): String = {
    val b = new StringBuilder(s.length + 8)
    s.foreach {
      case '\\' => b.append("\\\\")
      case '\t' => b.append("\\t")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\'' => if (quote) b.append("\\'") else b.append('\'')
      case c    => b.append(c)
    }
    b.toString
  }

  private[graft] def unescape(s: String): String = {
    val b = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 't'   => b.append('\t')
          case 'n'   => b.append('\n')
          case 'r'   => b.append('\r')
          case other => b.append(other) // covers \\ and \'
        }
        i += 2
      } else { b.append(c); i += 1 }
    }
    b.toString
  }

  /** `['el','el']` with `\`-escaped content → elements. A plain split
    * on `','` is wrong: content `a','b` encodes as `a\',\'b`, whose
    * char sequence contains `','`. Malformed input (truncated line,
    * unterminated element) fails with IllegalArgumentException — a
    * bulk-import codec must never leak index-class errors on garbage
    * (same contract as [[PromRemoteCodec]]'s wire decode). */
  private[graft] def parseArray(s: String): Seq[String] = {
    if (s.length < 2 || s.charAt(0) != '[' || s.charAt(s.length - 1) != ']')
      throw new IllegalArgumentException(s"malformed TabSeparated array: $s")
    val out = Seq.newBuilder[String]
    var i = 1 // skip [
    val end = s.length - 1
    while (i < end) {
      if (s.charAt(i) == '\'') {
        val b = new StringBuilder
        i += 1
        var open = true
        while (open) {
          if (i >= end)
            throw new IllegalArgumentException(
              s"malformed TabSeparated array (unterminated element): $s")
          val c = s.charAt(i)
          if (c == '\\') {
            if (i + 1 >= end)
              throw new IllegalArgumentException(
                s"malformed TabSeparated array (dangling escape): $s")
            s.charAt(i + 1) match {
              case 't'   => b.append('\t')
              case 'n'   => b.append('\n')
              case 'r'   => b.append('\r')
              case other => b.append(other)
            }
            i += 2
          } else if (c == '\'') { open = false; i += 1 }
          else { b.append(c); i += 1 }
        }
        out += b.toString
      } else i += 1 // separator comma
    }
    out.result()
  }

  def `export`(samples: DataFrame, path: String): Unit = {
    val spark = samples.sparkSession
    import spark.implicits._
    samples
      // value goes through the SAME double→string cast the engine uses
      // everywhere else, so export→import round-trips bit-exactly
      .select(expr("ts_us DIV 1000000").as("_1"), col("metric").as("_2"),
              col("labels").as("_3"), col("value").cast("string").as("_4"))
      .as[(Long, String, Seq[String], String)]
      .mapPartitions(_.map { case (sec, metric, labels, value) =>
        val arr = labels.map(l => "'" + escape(l, quote = true) + "'").mkString("[", ",", "]")
        s"$sec\t${escape(metric, quote = false)}\t$arr\t$value"
      })
      .toDF("line")
      .write.mode("overwrite").text(path)
  }

  def importTsv(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.read.text(path)
      .as[String]
      .mapPartitions(_.map { line =>
        // real tabs are structural (content tabs are escaped \t)
        val f = line.split('\t')
        if (f.length != 4)
          throw new IllegalArgumentException(
            s"malformed TabSeparated line (${f.length} fields): $line")
        // toLong/parseDouble throw NumberFormatException, an
        // IllegalArgumentException — same clean failure class
        (f(0).toLong * 1000000L, unescape(f(1)), parseArray(f(2)),
          java.lang.Double.parseDouble(f(3)))
      })
      .toDF("ts_us", "metric", "labels", "value")
  }
}

/** Structured Streaming ingestion (reference main.go serves a
  * continuous write stream; here: file-source stream → canonical
  * samples → stateful aggregation, memory sink for tests, the same
  * transform chain writes to SamplesStore in production). */
/** Prometheus text-exposition bulk codec — the `/federate` output
  * format as a SOURCE: `name{k="v",…} value timestamp_ms`, one sample
  * per line (what a federation scrape, promtool dump, or exporter
  * snapshot produces). The missing migration leg: reference users
  * hold exposition dumps; graft imports them distributed without a
  * Prometheus in the middle — and its own `/federate` output
  * round-trips through [[Exposition.importText]] losslessly
  * (spec-asserted), closing the loop.
  *
  * Scale shape: [[TsvBulk]]'s — parsing is mapPartitions over the
  * text scan, embarrassingly parallel, no shuffle; values render
  * through the engine's one double→string cast so export → import is
  * bit-exact. Timestamps are MILLISECONDS — the format's own
  * resolution — so sub-ms µs precision truncates on export (the
  * exposition contract, not a codec defect). Label VALUES use the
  * format's only three escapes (\\ \" \n); comments and blank lines
  * skip; a malformed line throws IllegalArgumentException (the clean
  * ingest failure class). Lines without a timestamp are REJECTED: a
  * sample with no time axis cannot enter a TSDB deterministically. */
object Exposition {

  /** Legacy-valid exposition name: [a-zA-Z_:][a-zA-Z0-9_:]* for
    * metrics (no ':' for label keys) — anything else renders in the
    * Prometheus 3.x QUOTED syntax. */
  private[graft] def legacyName(s: String, colonOk: Boolean): Boolean = {
    def ok0(c: Char) = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      c == '_' || (colonOk && c == ':')
    def ok(c: Char) = ok0(c) || (c >= '0' && c <= '9')
    s.nonEmpty && ok0(s.head) && s.forall(ok)
  }

  /** Series head (name + label set) in exposition text. Legacy names
    * render classic (`m{k="v"}`); a UTF-8 metric name quotes inside
    * the braces as the first element and a UTF-8 label key quotes in
    * place — Prometheus 3.x's text syntax
    * (`{"my.metric","a.b"="x",k="v"}`), the same quoting the PromQL
    * selector grammar accepts back. */
  private[graft] def renderHead(metric: String, labels: Seq[String]): String = {
    val kvs = labels.map { l =>
      val i = l.indexOf('=')
      val (k, v) = if (i < 0) (l, "") else (l.take(i), l.drop(i + 1))
      val key =
        if (legacyName(k, colonOk = false)) k
        else "\"" + escapeValue(k) + "\""
      key + "=\"" + escapeValue(v) + "\""
    }
    if (legacyName(metric, colonOk = true))
      metric + (if (kvs.isEmpty) "" else kvs.mkString("{", ",", "}"))
    else
      (("\"" + escapeValue(metric) + "\"") +: kvs).mkString("{", ",", "}")
  }

  def `export`(samples: DataFrame, path: String): Unit = {
    val spark = samples.sparkSession
    import spark.implicits._
    samples
      .select(expr("ts_us DIV 1000").as("_1"), col("metric").as("_2"),
              col("labels").as("_3"), col("value").cast("string").as("_4"))
      .as[(Long, String, Seq[String], String)]
      .mapPartitions(_.map { case (ms, metric, labels, value) =>
        s"${renderHead(metric, labels)} $value $ms"
      })
      .toDF("line")
      .write.mode("overwrite").text(path)
  }

  def importText(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.read.text(path)
      .as[String]
      .filter((l: String) => l.trim.nonEmpty && !l.startsWith("#"))
      .mapPartitions(_.map(parseLine))
      .toDF("ts_us", "metric", "labels", "value")
  }

  private def escapeValue(v: String): String = v.flatMap {
    case '\\' => "\\\\"
    case '"'  => "\\\""
    case '\n' => "\\n"
    case c    => c.toString
  }

  /** One exposition line → (ts_us, metric, sorted labels, value).
    * Accepts BOTH syntaxes: the classic `m{k="v"} 1 2` and the
    * Prometheus 3.x quoted form `{"my.metric","a.b"="x"} 1 2`
    * (quoted metric as the braces' first element, label keys quoted
    * where not legacy-valid) — [[renderHead]]'s exact inverse, so
    * /federate output of a UTF-8-named store round-trips. */
  private[graft] def parseLine(line: String): (Long, String, Seq[String], Double) = {
    def bad(why: String) =
      throw new IllegalArgumentException(s"malformed exposition line ($why): $line")
    // a quoted string at `start` (the opening quote) → (text, next).
    // The exposition format defines exactly \\ \" \n — anything else
    // is malformed and THROWS (the codec's documented contract;
    // silently mapping \t → 't' would corrupt label values from
    // foreign dumps, and Prometheus's parser rejects too)
    def readQuoted(start: Int): (String, Int) = {
      if (start >= line.length || line.charAt(start) != '"')
        bad("expected opening quote")
      val sb = new StringBuilder
      var j = start + 1
      while (j < line.length) {
        line.charAt(j) match {
          case '\\' =>
            if (j + 1 >= line.length) bad("dangling escape")
            line.charAt(j + 1) match {
              case 'n'   => sb += '\n'
              case '\\'  => sb += '\\'
              case '"'   => sb += '"'
              case other => bad(s"invalid escape \\$other")
            }
            j += 2
          case '"' => return (sb.toString, j + 1)
          case c   => sb += c; j += 1
        }
      }
      bad("unterminated string")
    }
    val labels = Seq.newBuilder[String]
    // k="v" pairs from `start` until '}'; answers the index PAST it
    def readLabels(start: Int): Int = {
      var i = start
      while (true) {
        if (i >= line.length) bad("unterminated label set")
        if (line.charAt(i) == '}') return i + 1
        val (k, afterKey) =
          if (line.charAt(i) == '"') readQuoted(i)
          else {
            val eq = line.indexOf('=', i)
            val br = line.indexOf('}', i)
            if (eq < 0 || (br >= 0 && br < eq)) bad("label without value")
            (line.substring(i, eq), eq)
          }
        if (afterKey >= line.length || line.charAt(afterKey) != '=')
          bad("label without value")
        val (v, afterVal) = readQuoted(afterKey + 1)
        labels += s"$k=$v"
        i = if (afterVal < line.length && line.charAt(afterVal) == ',')
          afterVal + 1 else afterVal
      }
      -1 // unreachable
    }
    val brace = line.indexOf('{')
    val firstSp = line.indexOf(' ')
    val hasBraces = brace >= 0 && (firstSp < 0 || brace < firstSp)
    val (metric, rest) =
      if (!hasBraces) {
        if (firstSp <= 0) bad("missing value")
        (line.take(firstSp), line.drop(firstSp + 1))
      } else if (brace == 0) {
        // quoted-name form: the metric is the braces' first element
        val (name, afterName) = readQuoted(1)
        if (name.isEmpty) bad("empty metric name")
        if (afterName < line.length && line.charAt(afterName) == '=')
          bad("missing metric name")
        val i = afterName match {
          case a if a < line.length && line.charAt(a) == ',' =>
            readLabels(a + 1)
          case a if a < line.length && line.charAt(a) == '}' => a + 1
          case _ => bad("unterminated label set")
        }
        if (i >= line.length || line.charAt(i) != ' ') bad("missing value")
        (name, line.drop(i + 1))
      } else {
        val name = line.take(brace)
        val i = readLabels(brace + 1)
        if (i >= line.length || line.charAt(i) != ' ') bad("missing value")
        (name, line.drop(i + 1))
      }
    val parts = rest.split(' ').filter(_.nonEmpty)
    if (parts.length != 2) bad("need value and timestamp_ms")
    val value = java.lang.Double.parseDouble(parts(0))
    val ms = parts(1).toLong
    (ms * 1000L, metric, labels.result().sorted, value)
  }
}

object StreamIngest {

  import org.apache.spark.sql.types._

  /** Staging schema for streaming sources: the [[graft.sources.Tables.eventsNorm]]
    * form with the time axis already normalized to epoch-µs BIGINT —
    * a file-source stream needs a declared schema, and declaring the
    * normalized one keeps the stream independent of which parquet
    * timestamp generation the raw testdata carries. */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts_us", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Session for a fresh stateful stream whose shuffle/state width
    * derives from the SOURCE's size instead of the session constant
    * ([[graft.Width]], 1 MiB of source per state partition).
    * Streaming aggregates and GroupState operators get NO AQE
    * coalescing — every micro-batch pays one task + one state-store open/commit per
    * configured shuffle partition regardless of data volume (measured
    * ~0.02 s/partition/batch at local[32]: the same one-batch
    * memory-sink aggregate runs 1.5 s at width 32 and 0.8 s at width
    * 2, while its BATCH twin is width-flat under AQE). State
    * partition count is pinned per checkpoint at first start, so the
    * sizing belongs to the stream's own source, not the shared
    * session conf — hence a cloned session, leaving the caller's conf
    * untouched. Floor min(cap, 4) keeps a real per-key fold (GroupState
    * inserts are CPU per row) from serializing — measured: the
    * GroupState streams run ~10% faster at width 4-8 than at width 2,
    * and ALL four helpers run 1.4-2× faster at small widths than at
    * the session cap. Cap = the session's own width, so a
    * cluster-scale source keeps full parallelism; a listing failure
    * falls back to the cap (degrading to today's width, never to
    * width-1). */
  private[graft] def streamSession(spark: SparkSession, srcDir: String,
                                   floorCap: Int = 4): SparkSession = {
    val cap = spark.sessionState.conf.numShufflePartitions
    val bytes = graft.Width.dataBytes(spark.sparkContext.hadoopConfiguration,
      Seq(new Path(srcDir)))
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions",
      graft.Width.of(bytes, graft.Width.StreamStateTarget, floorCap, cap).toString)
    ss
  }

  /** Stream srcDir's events files → per-metric totals, synchronously
    * (availableNow semantics via processAllAvailable). */
  def runToMemory(outer: SparkSession, srcDir: String, queryName: String): DataFrame = {
    val spark = streamSession(outer, srcDir)
    val stream = spark.readStream.schema(eventsSchema).parquet(srcDir)
      .select(
        col("ts_us"),
        col("event_type").as("metric"),
        array_sort(array(
          concat(lit("k="), regexp_extract(col("props"), "[0-9]+", 0)),
          concat(lit("user="), col("user_id").cast("string")))).as("labels"),
        col("value"))
      .groupBy(col("metric"))
      .agg(count(lit(1)).as("n_samples"), round(sum(col("value")), 6).as("sum_value"))
    val q = stream.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName)
  }

  /** Event-time tumbling-window ingestion: per-(metric, hour window)
    * counts/sums with a declared watermark — the Structured Streaming
    * shape of a continuously-aggregating write path. Complete output
    * keeps the result deterministic under processAllAvailable (append
    * mode would hold back the final, still-open window); on a real
    * cluster the same plan runs append mode with the watermark
    * expiring state. Output: metric, bucket (epoch sec), n_samples,
    * sum_value. */
  def runWindowedToMemory(outer: SparkSession, srcDir: String, queryName: String): DataFrame = {
    val spark = streamSession(outer, srcDir)
    val stream = spark.readStream.schema(eventsSchema).parquet(srcDir)
      .select(
        timestamp_micros(col("ts_us")).as("event_ts"),
        col("event_type").as("metric"),
        col("value"))
      .withWatermark("event_ts", "1 hour")
      .groupBy(window(col("event_ts"), "1 hour"), col("metric"))
      .agg(count(lit(1)).as("n_samples"), round(sum(col("value")), 6).as("sum_value"))
      .select(col("metric"), unix_timestamp(col("window.start")).as("bucket"),
              col("n_samples"), col("sum_value"))
    val q = stream.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName)
  }

  /** Continuous ingestion INTO the day-partitioned store — the
    * reference's actual serving write path as a stream (main.go's
    * accept-loop ≙ the file source; each ClickHouse INSERT ≙ one
    * microbatch append). foreachBatch gives the sink the full
    * DataFrame writer surface; the checkpoint alone only makes the
    * sink at-least-once (a crash between append and checkpoint commit
    * re-delivers the batch), so the write goes through
    * [[SamplesStore.appendBatch]], whose manifest batch ledger turns
    * replays into no-ops — end-to-end exactly-once. At 100 TB the
    * same query runs unmodified with a durable checkpoint dir;
    * appendBatch itself folds the per-batch files once a day
    * partition fragments past its threshold (in-path, after the
    * commit marker lands — never a concurrent background job racing
    * the stream's renames). Returns the store read-back. */
  def runToStore(spark: SparkSession, srcDir: String, storePath: String,
                 checkpointDir: String): DataFrame = {
    val stream = spark.readStream.schema(eventsSchema).parquet(srcDir)
      .select(
        col("ts_us"),
        col("event_type").as("metric"),
        array_sort(array(
          concat(lit("k="), regexp_extract(col("props"), "[0-9]+", 0)),
          concat(lit("user="), col("user_id").cast("string")))).as("labels"),
        col("value"))
    val appendBatch: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (batch, id) => SamplesStore.appendBatch(batch, storePath, id)
    val q = stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(appendBatch)
      .start()
    q.processAllAvailable()
    q.stop()
    SamplesStore.read(spark, storePath)
  }

  /** The production-bounded variant of [[runDedupToMemory]]'s state
    * (SURVEY §5.11): watermark + EventTimeTimeout expire each seen
    * key `horizonMs` past its newest event, so the state store tracks
    * the replay horizon, not the key universe — at 100 TB the
    * NoTimeout form above would grow one entry per event forever.
    * Within the horizon a replayed event_id is dropped; once the
    * watermark passes a key's expiry its state is removed and a LATER
    * replay is re-admitted (the correct trade: at-least-once clients
    * retry within the horizon, and bounded state is what survives at
    * scale). Returns the STREAMING deduped rows — the caller owns the
    * sink; StreamSpec drives microbatch boundaries to exercise the
    * expiry path. */
  def dedupWithWatermark(spark: SparkSession, srcDir: String,
                         horizonMs: Long = 3600L * 1000): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    spark.readStream.schema(eventsSchema).parquet(srcDir)
      .select(col("event_id"), timestamp_micros(col("ts_us")).as("event_ts"),
              col("event_type").as("metric"), col("value"))
      .withWatermark("event_ts", s"$horizonMs milliseconds")
      .as[(Long, java.sql.Timestamp, String, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (_: Long, rows: Iterator[(Long, java.sql.Timestamp, String, Double)],
         state: GroupState[Boolean]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val rs = rows.toVector
            val out = if (state.exists) Iterator.empty
                      else { state.update(true); rs.iterator.take(1) }
            // (re)arm expiry at horizon past this key's newest event;
            // rows below the watermark never reach here, so this is
            // always ahead of the current watermark
            state.setTimeoutTimestamp(rs.map(_._2.getTime).max + horizonMs)
            out
          })
      .toDF("event_id", "event_ts", "metric", "value")
  }

  /** Stateful streaming exact-dedup: first occurrence of each
    * event_id passes, every replay is dropped — the at-least-once
    * ingestion guard (a remote-write client retries on timeout, so
    * the same request body can arrive twice; reference ingestion is
    * idempotent only through ClickHouse's ReplacingMergeTree-style
    * dedup at merge time — here it's exact and online).
    *
    * Custom state via flatMapGroupsWithState (Append): one boolean
    * per seen key. The built-in dropDuplicates would compose the same
    * plan; the explicit GroupState form is the extension point for
    * richer per-key ingest state (last-seen ts, out-of-order
    * counters). At 100 TB the state store shards by key across
    * executors; a production stream bounds it with
    * [[dedupWithWatermark]]'s EventTimeTimeout + watermark so keys
    * expire after the replay horizon — NoTimeout here keeps the test
    * deterministic (the synthetic replay arrives in-batch).
    *
    * The stream emits deduped ROWS (append mode); the per-metric
    * report is a batch aggregate over the sink table. */
  def runDedupToMemory(outer: SparkSession, srcDir: String, queryName: String): DataFrame = {
    val spark = streamSession(outer, srcDir)
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val stream = spark.readStream.schema(eventsSchema).parquet(srcDir)
      .select(col("event_id"), col("ts_us"),
              col("event_type").as("metric"), col("value"))
      .as[(Long, Long, String, Double)]
    val deduped = stream
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: Long, rows: Iterator[(Long, Long, String, Double)], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else { state.update(true); rows.take(1) })
      .toDF("event_id", "ts_us", "metric", "value")
    val q = deduped.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName)
      .groupBy(col("metric"))
      .agg(count(lit(1)).as("n_samples"), round(sum(col("value")), 6).as("sum_value"))
  }

  /** Per-user session state for [[runSessionizeToMemory]]. */
  final case class SessState(lastTs: Long, seq: Long, startTs: Long,
                             n: Long, sumE2: Long)
  /** A CLOSED session emitted by the streaming sessionizer. */
  final case class SessionOut(user_id: Long, session_seq: Long,
                              n_events: Long, start_us: Long, end_us: Long,
                              sum_value_e2: Long)

  /** STREAMING gap sessionization — [[graft.operators.Sessions]]'
    * online twin: per-user GroupState carries the open session
    * (last ts, seq, start, count, e2 value sum); an event past the
    * gap CLOSES the open session (emitted, append mode) and starts
    * the next. Only closed sessions emit — the open tail stays in
    * state, exactly the online semantics (you can't total a session
    * that may still grow). Values snap to e2 per event, so the sum
    * is exact and batch-comparable.
    *
    * Within a microbatch a group's rows sort by (ts_us, event_id) —
    * memory bounded by the user's per-batch volume. Across batches
    * the state machine assumes event-time order, the file source's
    * shape here (one availableNow batch); a production stream adds
    * the watermark + EventTimeTimeout of [[dedupWithWatermark]] so
    * an idle user's final session eventually closes and its state
    * expires — NoTimeout keeps this entry deterministic. */
  def sessionizeStream(spark: SparkSession, srcDir: String,
                       gapSec: Long = 1800L): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    spark.readStream.schema(eventsSchema).parquet(srcDir)
      .select(col("user_id"), col("ts_us"), col("event_id"), col("value"))
      .as[(Long, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (user: Long, rows: Iterator[(Long, Long, Long, Double)],
         state: GroupState[SessState]) => {
          val evs = rows.toVector.sortBy(e => (e._2, e._3))
          var st = state.getOption.orNull
          val closed = Vector.newBuilder[SessionOut]
          evs.foreach { case (_, ts, _, v) =>
            val vE2 = math.floor(v * 100 + 0.5).toLong
            if (st == null) st = SessState(ts, 1L, ts, 1L, vE2)
            else if (ts - st.lastTs > gapSec * 1000000L) {
              closed += SessionOut(user, st.seq, st.n, st.startTs,
                st.lastTs, st.sumE2)
              st = SessState(ts, st.seq + 1, ts, 1L, vE2)
            } else st = SessState(ts, st.seq, st.startTs, st.n + 1,
              st.sumE2 + vE2)
          }
          if (st != null) state.update(st)
          closed.result().iterator
        })
      .toDF()
  }

  def runSessionizeToMemory(outer: SparkSession, srcDir: String,
                            queryName: String,
                            gapSec: Long = 1800L): DataFrame = {
    val spark = streamSession(outer, srcDir)
    val q = sessionizeStream(spark, srcDir, gapSec).writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName)
  }
}
