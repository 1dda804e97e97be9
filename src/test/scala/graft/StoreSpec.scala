package graft

import java.io.File

import org.apache.spark.sql.functions._

import graft.ingest.SamplesStore
import graft.sources.Tables

/** SamplesStore invariants: day partitioning, and the within-file
  * (metric, labels, ts_us) sort order surviving boundary-day rewrites
  * in deleteRange (row-group min/max pruning depends on it). */
class StoreSpec extends SparkSpecBase {

  private def sortedWithinFiles(path: String): Boolean = {
    val dayDirs = new File(path).listFiles().filter(f => f.isDirectory && f.getName.startsWith("date="))
    // a store that silently wrote nothing must NOT satisfy the sort
    // invariant vacuously: require day dirs, each with parquet files
    dayDirs.nonEmpty && dayDirs.forall { day =>
      val files = day.listFiles().filter(_.getName.endsWith(".parquet"))
      files.nonEmpty && files.forall { f =>
        val rows = spark.read.parquet(f.getAbsolutePath)
          .select(col("metric"), array_join(col("labels"), ",").as("ls"), col("ts_us"))
          .collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        rows.sameElements(rows.sortBy(identity))
      }
    }
  }

  test("write day-partitions and sorts within files") {
    val path = "/tmp/graft_test/store_sort"
    SamplesStore.write(Tables.samples(spark, Sf), path)
    assert(sortedWithinFiles(path))
  }

  test("the hist sibling is a full store citizen: manifests, compaction, retention") {
    import spark.implicits._
    val path = "/tmp/graft_test/store_hist_sibling"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val day0 = 1704412800L
    def rows(i: Int) = Seq(
      (day0 * 1000000L + i * 1000000L, "hm", Seq("k=v"),
        Array[Byte](1, 2, i.toByte)),
      ((day0 + 86400L) * 1000000L + i * 1000000L, "hm", Seq("k=w"),
        Array[Byte](9, i.toByte)))
      .toDF("ts_us", "metric", "labels", "hist")
    // manifest-committed appends: each lands atomically, generations
    // advance, and the read plans from the snapshot's explicit list
    for (i <- 0 until 6) SamplesStore.append(rows(i), path)
    assert(SamplesStore.currentGen(spark, path).exists(_ >= 6L),
      "hist appends must commit manifest generations")
    val back = SamplesStore.read(spark, path)
    assert(back.columns.toSet === Set("ts_us", "metric", "labels", "hist", "date"))
    assert(back.count() === 12)
    // the binary column survives the day-selective fold byte-for-byte
    val folded = SamplesStore.compactFragmentedDays(spark, path,
      maxFilesPerDay = 2, gcGraceMs = 0L)
    assert(folded === 2, s"both fragmented days must fold, got $folded")
    val after = SamplesStore.read(spark, path)
      .select(col("ts_us"), col("hist")).collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq)).sortBy(_._1)
    assert(after.length === 12)
    assert(after.take(6).map(_._2) ===
      (0 until 6).map(i => Seq[Byte](1, 2, i.toByte)))
    // retention: deleteRange (what retentionPass issues) drops the
    // old day wholesale and the snapshot read reflects it atomically
    SamplesStore.deleteRange(spark, path, Long.MinValue,
      (day0 + 86400L) * 1000000L, gcGraceMs = 0L)
    assert(SamplesStore.read(spark, path).count() === 6)
    assert(SamplesStore.read(spark, path)
      .agg(min(col("ts_us"))).first().getLong(0) >= (day0 + 86400L) * 1000000L)
  }

  test("deleteRange drops whole days and keeps boundary files sorted") {
    val path = "/tmp/graft_test/store_delete"
    val samples = Tables.samples(spark, Sf)
    SamplesStore.write(samples, path)
    val total = samples.count()
    // delete [2024-01-10T12:00Z, 2024-01-14T06:00Z): two boundary days
    // rewrite, three whole days drop as directories.
    val startUs = 1704888000000000L
    val endUs = 1705212000000000L
    SamplesStore.deleteRange(spark, path, startUs, endUs)

    val back = SamplesStore.read(spark, path)
    val expected = samples.filter(col("ts_us") < startUs || col("ts_us") >= endUs).count()
    assert(back.count() == expected && expected < total)
    assert(back.filter(col("ts_us") >= startUs && col("ts_us") < endUs).count() == 0)

    // deleted days left the SNAPSHOT atomically; their files (and the
    // boundary days' superseded originals) are retained on disk for
    // the grace window, then a forced expiry reclaims them and drains
    // the empty day directories
    SamplesStore.expireSnapshots(spark, path, graceMs = 0L)
    val dayNames = new File(path).listFiles().map(_.getName).filter(_.startsWith("date=")).toSet
    assert(!dayNames.contains("date=1704931200")) // 2024-01-11, fully inside
    assert(dayNames.contains("date=1704844800"))  // 2024-01-10, boundary rewrite
    assert(SamplesStore.read(spark, path).count() == expected,
      "expiry must only reclaim unreferenced files, never data")

    assert(sortedWithinFiles(path))
  }

  test("compact folds fragmented appends into one sorted file per day") {
    val path = "/tmp/graft_test/store_compact"
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(path), true)
    val samples = Tables.samples(spark, Sf).cache()
    SamplesStore.append(samples.filter(expr("ts_us % 2 = 0")), path)
    SamplesStore.append(samples.filter(expr("ts_us % 2 = 1")), path)

    def filesPerDay: Map[String, Int] =
      new File(path).listFiles().filter(f => f.isDirectory && f.getName.startsWith("date="))
        .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    assert(filesPerDay.nonEmpty && filesPerDay.values.exists(_ >= 2),
      "two appends must fragment at least one day")

    val before = SamplesStore.read(spark, path)
      .select("ts_us", "metric", "labels", "value").collect().toSet
    SamplesStore.compact(spark, path)
    val after = filesPerDay
    assert(after.nonEmpty && after.values.forall(_ == 1),
      s"compaction must leave one file per day, got $after")
    val rows = SamplesStore.read(spark, path)
      .select("ts_us", "metric", "labels", "value").collect().toSet
    assert(rows == before, "compaction must be result-invariant")
    assert(sortedWithinFiles(path))
  }

  test("appendBatch is idempotent per batchId and survives compaction") {
    val path = "/tmp/graft_test/store_batch"
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(path), true)
    val samples = Tables.samples(spark, Sf).cache()
    val b0 = samples.filter(expr("ts_us % 2 = 0"))
    val b1 = samples.filter(expr("ts_us % 2 = 1"))
    SamplesStore.appendBatch(b0, path, 0L)
    val afterB0 = SamplesStore.read(spark, path).count()
    assert(afterB0 == b0.count())
    // a checkpoint-replayed batch must be a no-op
    SamplesStore.appendBatch(b0, path, 0L)
    assert(SamplesStore.read(spark, path).count() == afterB0,
      "replaying a committed batchId must not duplicate rows")
    SamplesStore.appendBatch(b1, path, 1L)
    assert(SamplesStore.read(spark, path).count() == samples.count())
    assert(sortedWithinFiles(path))
    // the manifest's batch ledger survives a compaction, so replays
    // stay no-ops
    SamplesStore.compact(spark, path)
    SamplesStore.appendBatch(b1, path, 1L)
    assert(SamplesStore.read(spark, path).count() == samples.count(),
      "replay after compaction must still short-circuit")
  }

  test("compact advances the generation: a pin taken before it never reads another generation") {
    val path = "/tmp/graft_test/store_compact_pin"
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(path), true)
    val samples = Tables.samples(spark, Sf).cache()
    val even = samples.filter(expr("ts_us % 2 = 0"))
    def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select("ts_us", "metric", "labels", "value").collect().map(_.toString).sorted.toSeq
    SamplesStore.write(even, path)
    val pinned = SamplesStore.currentGen(spark, path).get
    val pinnedRows = rowsOf(even)
    SamplesStore.append(samples.filter(expr("ts_us % 2 = 1")), path)
    val beforeCompact = SamplesStore.currentGen(spark, path).get
    SamplesStore.compact(spark, path)
    assert(SamplesStore.currentGen(spark, path).get > beforeCompact,
      "compact must commit a new generation, never restart the chain")
    // compact expires superseded snapshots at once, so the pin may be
    // gone — but it must then fail loudly, never serve other rows
    val atPin =
      try Some(rowsOf(SamplesStore.readAt(spark, path, pinned)))
      catch { case _: IllegalArgumentException => None }
    atPin.foreach(rows => assert(rows == pinnedRows,
      s"a pinned generation must read exactly its corpus (${rows.size} rows vs ${pinnedRows.size})"))
    assert(SamplesStore.read(spark, path).count() == samples.count())
  }

  test("sustained appends keep per-day file counts bounded via auto-compaction") {
    val path = "/tmp/graft_test/store_autocompact"
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(path), true)
    val batch = Tables.samples(spark, Sf).limit(200).cache()
    val perBatch = batch.count()
    // the LIVE file count — what every read plans over — comes from
    // the manifest; superseded files awaiting grace-expiry GC are not
    // part of any read's footprint
    def maxLiveFilesPerDay: Int = {
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      SamplesStore.latestSnapshot(fs, new org.apache.hadoop.fs.Path(path))
        .map(_.byDay.values.map(_.size).max).getOrElse(0)
    }
    for (i <- 0 until 6) {
      SamplesStore.appendBatch(batch, path, i.toLong, autoCompactFilesPerDay = 2)
      assert(maxLiveFilesPerDay <= 3,
        s"append $i: auto-compaction must keep per-day live-file counts bounded")
    }
    assert(SamplesStore.read(spark, path).count() == 6 * perBatch,
      "auto-compaction must not lose or duplicate rows")
    // after a forced expiry the PHYSICAL footprint matches the live
    // set, so disk usage is bounded too
    SamplesStore.expireSnapshots(spark, path, graceMs = 0L)
    def maxPhysicalFilesPerDay: Int =
      new File(path).listFiles().filter(f => f.isDirectory && f.getName.startsWith("date="))
        .map(_.listFiles().count(_.getName.endsWith(".parquet"))).max
    assert(maxPhysicalFilesPerDay <= 3,
      "expiry must reclaim every superseded file")
    assert(SamplesStore.read(spark, path).count() == 6 * perBatch)
    assert(sortedWithinFiles(path))
  }

  test("compactFragmentedDays rewrites only the fragmented day, splitting by size") {
    import spark.implicits._
    val path = "/tmp/graft_test/store_selective"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val day0 = 1704412800L // 2024-01-05
    val day1 = day0 + 86400
    def rowsFor(daySec: Long, off: Int) =
      (0 until 40).map(i =>
        (daySec * 1000000L + (off * 40 + i) * 1000000L, s"m${i % 7}", Seq(s"k=v$i"), i.toDouble))
        .toDF("ts_us", "metric", "labels", "value")
    for (i <- 0 until 4) SamplesStore.append(rowsFor(day0, i), path) // day0: 4 files
    SamplesStore.append(rowsFor(day1, 0), path)                      // day1: 1 file
    def files(dayName: String): Set[String] =
      new File(path, dayName).listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
    val day1Before = files(s"date=$day1")
    val before = SamplesStore.read(spark, path)
      .select("ts_us", "metric", "labels", "value").collect().toSet

    // a tiny target size forces the fragmented day to split into
    // multiple metric-range files — the hot-day shape at 100 TB.
    // gcGraceMs = 0: no readers in flight, so superseded files are
    // reclaimed eagerly and the physical tree equals the live set
    val n = SamplesStore.compactFragmentedDays(spark, path,
      maxFilesPerDay = 2, targetFileBytes = 2048L, gcGraceMs = 0L)
    assert(n == 1, "only the over-threshold day must be rewritten")
    assert(files(s"date=$day1") == day1Before,
      "a healthy day's files must be byte-identical (same names, never rewritten)")
    assert(files(s"date=$day0").size > 1,
      "a day larger than targetFileBytes must fold into multiple range files")
    // at the default target the same day folds all the way to one file
    assert(SamplesStore.compactFragmentedDays(spark, path, maxFilesPerDay = 1,
      gcGraceMs = 0L) == 1)
    assert(files(s"date=$day0").size == 1)
    assert(files(s"date=$day1") == day1Before)
    val rows = SamplesStore.read(spark, path)
      .select("ts_us", "metric", "labels", "value").collect().toSet
    assert(rows == before, "selective compaction must be result-invariant")
    assert(sortedWithinFiles(path))
    // idempotent: nothing left over threshold
    assert(SamplesStore.compactFragmentedDays(spark, path, maxFilesPerDay = 2) == 0)
  }

  test("an append landing during compaction staging is never lost") {
    import spark.implicits._
    val path = "/tmp/graft_test/store_stage_race"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val day0 = 1704412800L
    def rowsFor(off: Int) =
      (0 until 30).map(i => (day0 * 1000000L + (off * 30 + i) * 1000000L,
        s"m${i % 5}", Seq("k=v"), i.toDouble)).toDF("ts_us", "metric", "labels", "value")
    for (i <- 0 until 3) SamplesStore.append(rowsFor(i), path)
    val baseCount = SamplesStore.read(spark, path).count()

    // the test seam fires between STAGE and PUBLISH — exactly the
    // window where a /write can add files to a day being compacted
    var appended = false
    val n = SamplesStore.compactFragmentedDays(spark, path, maxFilesPerDay = 2,
      afterStage = () => { SamplesStore.append(rowsFor(3), path); appended = true },
      gcGraceMs = 0L)
    assert(appended)
    assert(n == 1,
      "the fold must publish even when the day gained files during staging " +
      "— compaction never loses the race to a busy write frontier")
    assert(SamplesStore.read(spark, path).count() == baseCount + 30,
      "neither the staged rows nor the concurrent append may be lost")
    // the live day now holds the compacted file + the raced append
    val fs2 = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val liveDay0 = SamplesStore.latestSnapshot(fs2, new org.apache.hadoop.fs.Path(path))
      .get.byDay(s"date=$day0")
    assert(liveDay0.size == 2, s"compacted + raced-append files expected, got $liveDay0")
    assert(SamplesStore.read(spark, path).count() == baseCount + 30)
    assert(sortedWithinFiles(path))
  }

  test("a crashed day rewrite leaves only invisible garbage, reclaimed by expiry") {
    val path = "/tmp/graft_test/store_dayswapcrash"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    fs.delete(p(path), true)
    val samples = Tables.samples(spark, Sf).cache()
    SamplesStore.write(samples, path)
    val total = samples.count()
    val day = new File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("date=")).head.getName

    // crash state: a day-level rewrite died after moving some staged
    // files into the live day dir but BEFORE its manifest commit.
    // Under the snapshot protocol those files are simply unreferenced
    // — readers keep planning the committed manifest, so nothing is
    // ever missing or doubled — and a stale rewrite staging dir is
    // equally invisible.
    val crashed = p(s"$path/$day/c999-crashed-attempt.parquet")
    fs.create(crashed, true).close()
    fs.mkdirs(p(s"$path/.rewrite_$day"))
    assert(SamplesStore.read(spark, path).count() == total,
      "uncommitted rewrite remnants must be invisible to readers")
    SamplesStore.compactFragmentedDays(spark, path) // mutations don't trip on remnants
    assert(SamplesStore.read(spark, path).count() == total)

    // snapshot expiry reclaims both remnants by age (grace 0 = now)
    SamplesStore.expireSnapshots(spark, path, graceMs = 0L)
    assert(!fs.exists(crashed), "expiry must reclaim the crashed attempt's file")
    assert(!fs.exists(p(s"$path/.rewrite_$day")), "expiry must sweep stale staging dirs")
    assert(SamplesStore.read(spark, path).count() == total)
  }

  test("readLocked reads never observe a half-swapped store during compaction") {
    val path = "/tmp/graft_test/store_readlock"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val samples = Tables.samples(spark, Sf).cache()
    SamplesStore.write(samples, path)
    val total = samples.count()
    val extra = samples.limit(50).cache(); extra.count()

    // reader thread: hammer locked reads. Under the snapshot protocol
    // every read plans one committed manifest, so the contract is
    // full snapshot isolation: counts never dip below the seeded
    // total and never go backwards (appends commit atomically,
    // compaction is result-invariant, and superseded files outlive
    // any in-flight plan via the GC grace).
    @volatile var stop = false
    val bad = new java.util.concurrent.atomic.AtomicLong(0)
    val seen = new java.util.concurrent.atomic.AtomicLong(0)
    val reader = new Thread(() => {
      var lastSeen = 0L
      while (!stop) {
        val n = SamplesStore.readLocked(path)(SamplesStore.read(spark, path).count())
        seen.incrementAndGet()
        if (n < total || n < lastSeen) bad.incrementAndGet()
        lastSeen = n
      }
    })
    reader.start()
    try {
      // mutate continuously: append small batches into the hot day,
      // compact selectively once fragmented — many manifest commits
      for (_ <- 0 until 6) {
        SamplesStore.append(extra, path)
        SamplesStore.compactFragmentedDays(spark, path, maxFilesPerDay = 1)
      }
    } finally { stop = true; reader.join(30000) }
    assert(seen.get() > 0, "the reader must have completed observations")
    assert(bad.get() == 0,
      s"locked reads must never lose committed data (${bad.get()} regressing reads)")
    assert(SamplesStore.read(spark, path).count() == total + 6 * 50)
  }

  test("maybeCompact stages lock-free: a concurrent append completes while staging is parked") {
    import spark.implicits._
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val path = "/tmp/graft_test/store_stage_unlocked"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val day0 = 1704412800L
    def rowsFor(off: Int) =
      (0 until 30).map(i => (day0 * 1000000L + (off * 30 + i) * 1000000L,
        s"m${i % 5}", Seq("k=v"), i.toDouble)).toDF("ts_us", "metric", "labels", "value")
    for (i <- 0 until 3) SamplesStore.append(rowsFor(i), path)
    val baseCount = SamplesStore.read(spark, path).count()

    // park the compaction between STAGE and SWAP via the seam, THROUGH
    // the serving-path entry point compactFragmentedDays — the regression
    // this guards is the compaction (or its appendBatch caller) holding the
    // store mutation lock across the distributed STAGE rewrite, which
    // would block every concurrent /write for the rewrite's duration
    val staged = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    var rewrote = false
    val compactor = new Thread(() => {
      rewrote = SamplesStore.compactFragmentedDays(spark, path, maxFilesPerDay = 2,
        afterStage = () => { staged.countDown(); release.await(60, TimeUnit.SECONDS); () }) > 0
    }, "spec-compactor")
    compactor.start()
    assert(staged.await(60, TimeUnit.SECONDS), "compaction must reach the staging seam")

    // the append runs on its own thread with a timeout so a relocking
    // regression fails the assert instead of deadlocking the suite
    // (releasing the seam would unblock phase 3, which needs the very
    // lock the blocked append would be queued on)
    val appendDone = new CountDownLatch(1)
    val appender = new Thread(() => {
      SamplesStore.append(rowsFor(3), path); appendDone.countDown()
    }, "spec-appender")
    appender.start()
    val appendedInFlight = appendDone.await(30, TimeUnit.SECONDS)
    release.countDown()
    compactor.join(60000); appender.join(60000)
    assert(appendedInFlight,
      "an append must complete while compaction staging is in flight — the mutation " +
      "lock may only be held for the ms-scale SNAPSHOT and PUBLISH phases")
    // the fold publishes regardless of the raced append: the recorded
    // files fold, the append's file rides along in the live set
    assert(rewrote, "the fold must publish despite the concurrent append")
    assert(SamplesStore.read(spark, path).count() == baseCount + 30)
    assert(sortedWithinFiles(path))
  }

  test("a grace-0 expiry while compaction stages spares the staging dir; the fold still publishes") {
    import spark.implicits._
    val path = "/tmp/graft_test/store_expire_midstage"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val day0 = 1704412800L
    def rowsFor(off: Int) =
      (0 until 30).map(i => (day0 * 1000000L + (off * 30 + i) * 1000000L,
        s"m${i % 5}", Seq("k=v"), i.toDouble)).toDF("ts_us", "metric", "labels", "value")
    for (i <- 0 until 3) SamplesStore.append(rowsFor(i), path)
    val before = SamplesStore.read(spark, path).count()
    val n = SamplesStore.compactFragmentedDays(spark, path, maxFilesPerDay = 2,
      afterStage = () => { SamplesStore.expireSnapshots(spark, path, 0L); () })
    assert(n == 1, "the fold must publish after a mid-stage expiry")
    assert(SamplesStore.read(spark, path).count() == before, "no row may be lost")
    val live = SamplesStore.latestSnapshot(fs, new org.apache.hadoop.fs.Path(path)).get
    assert(live.byDay(s"date=$day0").size == 1)
    assert(!new File(path).listFiles().exists(_.getName.startsWith(".")),
      "the published fold must leave no staging dir behind")
    assert(sortedWithinFiles(path))
  }

  test("a long-running reader defers only the GC — the compaction fold never waits") {
    import spark.implicits._
    val path = "/tmp/graft_test/store_swap_defer"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val day0 = 1704412800L
    def rowsFor(off: Int) =
      (0 until 30).map(i => (day0 * 1000000L + (off * 30 + i) * 1000000L,
        s"m${i % 5}", Seq("k=v"), i.toDouble)).toDF("ts_us", "metric", "labels", "value")
    for (i <- 0 until 3) SamplesStore.append(rowsFor(i), path)
    val before = SamplesStore.read(spark, path).count()

    // a reader holding the visibility read lock for its whole query —
    // the slow-dashboard shape. The FOLD itself proceeds regardless
    // (its publish is one atomic manifest commit, no reader exclusion
    // needed); only the eager GC of the superseded files must defer,
    // via its bounded tryLock — a same-thread read→write upgrade can
    // never acquire, so a blocking lock here would deadlock the spec,
    // not just fail it.
    val day0Dir = new File(path, s"date=$day0")
    def physicalFiles: Int = day0Dir.listFiles().count(_.getName.endsWith(".parquet"))
    SamplesStore.readLocked(path) {
      val preDf = SamplesStore.read(spark, path) // plans the pre-fold snapshot
      assert(preDf.count() == before)
      val n = SamplesStore.compactFragmentedDays(spark, path,
        maxFilesPerDay = 2, gcGraceMs = 0L)
      assert(n == 1, "the fold must proceed — a reader never delays compaction")
      assert(physicalFiles > 1,
        "GC must defer while a reader holds the visibility lock")
      // the reader's already-planned snapshot stays fully scannable
      assert(preDf.count() == before,
        "a pre-fold plan must keep scanning its superseded files")
      assert(SamplesStore.read(spark, path).count() == before)
    }
    // lock released: expiry reclaims the superseded files
    SamplesStore.expireSnapshots(spark, path, graceMs = 0L)
    assert(physicalFiles == 1)
    assert(SamplesStore.read(spark, path).count() == before)
    assert(sortedWithinFiles(path))
  }

  test("a multi-store read lock defers a grace-0 expiry of each sibling it holds") {
    import spark.implicits._
    val main = "/tmp/graft_test/store_sibling_lock"
    val sib = main + "_stale"
    val fs = new org.apache.hadoop.fs.Path(main)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(main, sib).foreach(p => fs.delete(new org.apache.hadoop.fs.Path(p), true))
    val day0 = 1704412800L
    def rowsFor(off: Int) =
      (0 until 10).map(i => (day0 * 1000000L + (off * 10 + i) * 1000000L,
        "m", Seq("k=v"), i.toDouble)).toDF("ts_us", "metric", "labels", "value")
    SamplesStore.append(rowsFor(0), main)
    for (i <- 0 until 3) SamplesStore.append(rowsFor(i), sib)
    // fold the sibling's day: its three superseded files stay on disk
    // until an expiry reclaims them
    assert(SamplesStore.compactFragmentedDays(spark, sib, maxFilesPerDay = 2) == 1)
    val dayDir = new File(sib, s"date=$day0")
    def physicalFiles: Int = dayDir.listFiles().count(_.getName.endsWith(".parquet"))
    assert(physicalFiles == 4)

    // a serving request's shape: main store first, then the sibling,
    // both held while the holder is parked on a latch
    val ready = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val holder = new Thread(() => SamplesStore.readLocked(main, sib) {
      ready.countDown()
      release.await(60, java.util.concurrent.TimeUnit.SECONDS)
    }, "spec-sibling-reader")
    holder.start()
    try {
      assert(ready.await(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(SamplesStore.expireSnapshots(spark, sib, graceMs = 0L) == 0,
        "a grace-0 expiry of a read-locked sibling must defer")
      assert(physicalFiles == 4, "a deferred expiry deletes no data file")
    } finally { release.countDown(); holder.join(60000) }
    // released: the same expiry reclaims the superseded files
    assert(SamplesStore.expireSnapshots(spark, sib, graceMs = 0L) == 3)
    assert(physicalFiles == 1)
    assert(SamplesStore.read(spark, sib).count() == 30)
  }

  test("time travel: a pinned generation reads its exact corpus across append+compact+delete") {
    val path = "/tmp/graft_test/store_timetravel"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val samples = Tables.samples(spark, Sf).cache()
    val even = samples.filter(expr("ts_us % 2 = 0"))
    val odd = samples.filter(expr("ts_us % 2 = 1"))
    SamplesStore.write(even, path)
    val pinned = SamplesStore.currentGen(spark, path).get
    val pinnedSet = even.select("ts_us", "metric", "value").collect().toSet

    // the live store moves on: append, compact (rewrites the pinned
    // files into new ones), delete a slice
    SamplesStore.append(odd, path)
    SamplesStore.compactFragmentedDays(spark, path, maxFilesPerDay = 1)
    SamplesStore.deleteRange(spark, path, 1704888000000000L, 1705212000000000L)
    assert(SamplesStore.readAt(spark, path, pinned)
      .select("ts_us", "metric", "value").collect().toSet == pinnedSet,
      "the pinned snapshot must read exactly its corpus, bit-for-bit")
    assert(SamplesStore.read(spark, path).count() ==
      samples.filter(col("ts_us") < 1704888000000000L || col("ts_us") >= 1705212000000000L).count())
    // a generation that never existed fails loudly
    intercept[IllegalArgumentException](SamplesStore.readAt(spark, path, 99999L).count())
    // snapshot expiry reclaims the pinned generation — after it, the
    // pin fails loudly instead of returning partial data
    SamplesStore.expireSnapshots(spark, path, graceMs = 0L)
    intercept[IllegalArgumentException](SamplesStore.readAt(spark, path, pinned).count())
    assert(SamplesStore.read(spark, path).count() > 0)
  }

  test("rollup v6 moments serve stdvar exactly at the store's extreme magnitudes") {
    import graft.ingest.RollupStore
    import graft.serve.PromQL
    val path = "/tmp/graft_test/store_rollup_bigmom"
    val rpath = "/tmp/graft_test/store_rollup_bigmom_roll"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (p <- Seq(path, rpath))
      fs.delete(new org.apache.hadoop.fs.Path(p), true)
    import spark.implicits._
    // 24 samples/hour at the |v|≤1e7 bound across two hours: each
    // hour bucket's Σv_e2² ≈ 2.4e19 — past int64 — so the v6
    // DECIMAL(38,0) writer column and its window re-aggregation are
    // both in the wrap regime. Rollup-served must equal raw-served.
    val t0 = 1704412800L
    val big = (0 until 48).map { i =>
      ((t0 + i * 150) * 1000000L, "big", Seq("host=x"),
        if (i % 2 == 0) 9999999.00 else 9999990.00)
    }.toDF("ts_us", "metric", "labels", "value")
    SamplesStore.write(big, path)
    RollupStore.rollup(spark, path, rpath, 3600L)
    val q = PromQL.parse("stdvar_over_time(big[2h])").toOption.get
    def vals(rollup: Option[RollupStore.Ladder]) =
      PromQL.eval(SamplesStore.read(spark, path), q,
          t0 + 7200, t0 + 7200, 7200L, rollup = rollup)
        .select("t", "v_e6").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val m = graft.OpsMetrics(spark)
    val before = m.readsFromRollup.value
    val served = vals(Some(RollupStore.Ladder(path, rpath, 3600L)))
    assert(m.readsFromRollup.value === before + 1,
      "the aligned query must actually route to the rollup")
    assert(served === vals(None), "rollup-served stdvar must equal raw")
    // alternating ±4.5 around the mean → population variance 20.25
    assert(served === Set((t0 + 7200, 20250000L)))
  }

  test("rollup maintains per-day aggregates incrementally and result-invariantly") {
    import graft.ingest.RollupStore
    val path = "/tmp/graft_test/store_rollup"
    val rpath = "/tmp/graft_test/store_rollup_roll"
    val fullPath = "/tmp/graft_test/store_rollup_full"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (p <- Seq(path, rpath, fullPath))
      fs.delete(new org.apache.hadoop.fs.Path(p), true)
    val samples = Tables.samples(spark, Sf).cache()
    val nDays = samples.select(expr("ts_us DIV 1000000 DIV 86400")).distinct().count().toInt

    SamplesStore.write(samples.filter(expr("ts_us % 2 = 0")), path)
    assert(RollupStore.rollup(spark, path, rpath) == nDays, "first rollup builds every day")
    assert(RollupStore.rollup(spark, path, rpath) == 0, "an idle store is a metadata no-op")

    // an append invalidates exactly the days it touched
    val day0End = samples.agg(min(expr("ts_us DIV 1000000 DIV 86400 * 86400"))).first().getLong(0) + 86400
    SamplesStore.append(
      samples.filter(expr("ts_us % 2 = 1") && expr("ts_us DIV 1000000") < day0End), path)
    assert(RollupStore.rollup(spark, path, rpath) == 1, "append to one day rebuilds one day")

    // compaction rewrites files (same rows): touched days re-digest
    // and re-aggregate, and the rollup result must not change
    val before = RollupStore.read(spark, rpath)
      .select("metric", "bucket", "n_points").collect().toSet
    SamplesStore.compactFragmentedDays(spark, path, maxFilesPerDay = 1)
    assert(RollupStore.rollup(spark, path, rpath) >= 1, "rewritten days re-aggregate")
    assert(RollupStore.read(spark, rpath)
      .select("metric", "bucket", "n_points").collect().toSet == before,
      "compaction must not change rollup results")

    // append the rest everywhere; incremental must equal a fresh
    // full rollup of an identical store
    SamplesStore.append(
      samples.filter(expr("ts_us % 2 = 1") && expr("ts_us DIV 1000000") >= day0End), path)
    RollupStore.rollup(spark, path, rpath)
    SamplesStore.write(samples, fullPath)
    val fullR = fullPath + "_roll"
    RollupStore.rollup(spark, fullPath, fullR)
    def rows(p: String) = RollupStore.read(spark, p)
      .select(col("metric"), array_join(col("labels"), ",").as("ls"), col("bucket"),
        col("min_value"), col("max_value"),
        expr("CAST(floor(sum_value * 100 + 0.5) AS BIGINT)"), col("n_points"))
      .collect().map(_.toSeq).toSet
    assert(rows(rpath) == rows(fullR), "incremental rollup must equal full recompute")

    // a deleted day leaves the rollup in the same commit
    val cut = day0End * 1000000L
    SamplesStore.deleteRange(spark, path, Long.MinValue, cut)
    RollupStore.rollup(spark, path, rpath)
    assert(RollupStore.read(spark, rpath)
      .filter(col("bucket") < day0End).count() == 0, "dropped day must leave the rollup")

    // rollup-served reads match the raw read path at a coarse interval
    val q = graft.operators.ReadQuery(
      day0End * 1000L, (day0End + 10 * 86400) * 1000L,
      Seq(graft.operators.Matchers.eq("__name__", "click")))
    val raw = graft.operators.SeriesRead.selectKeyed(
        SamplesStore.read(spark, path), q, ignoreHints = true)
      .withColumn("t_sec", expr("t_sec DIV 7200 * 7200"))
      .groupBy(col("metric"), col("labels"), col("t_sec"))
      .agg(max("max_value").as("max_value"))
    val rolled = RollupStore.selectKeyed(RollupStore.read(spark, rpath), q, 7200L)
    def keyed(df: org.apache.spark.sql.DataFrame) = df
      .select(col("metric"), array_join(col("labels"), ",").as("ls"),
        col("t_sec"), col("max_value")).collect().map(_.toSeq).toSet
    assert(keyed(rolled) == keyed(raw),
      "rollup-served coarse reads must equal the raw read path")
  }

  test("expireSnapshots reclaims superseded rollup files and stale staging at grace 0") {
    import graft.ingest.RollupStore
    val path = "/tmp/graft_test/store_rollup_expire"
    val rpath = "/tmp/graft_test/store_rollup_expire_roll"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (p <- Seq(path, rpath)) fs.delete(new org.apache.hadoop.fs.Path(p), true)
    val samples = Tables.samples(spark, Sf).cache()
    SamplesStore.write(samples.filter(expr("ts_us % 2 = 0")), path)
    RollupStore.rollup(spark, path, rpath)
    // the append touches every day, so the second rollup supersedes
    // every file of the first
    SamplesStore.append(samples.filter(expr("ts_us % 2 = 1")), path)
    RollupStore.rollup(spark, path, rpath)
    def rolled: Seq[String] = RollupStore.read(spark, rpath)
      .drop("date").collect().map(_.toString).sorted.toSeq
    def physical: Int = new File(rpath).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("date="))
      .map(_.listFiles().count(_.getName.endsWith(".parquet"))).sum
    val before = rolled
    val live = SamplesStore.latestSnapshot(fs, new org.apache.hadoop.fs.Path(rpath)).get.files.size
    val stale = new org.apache.hadoop.fs.Path(rpath, ".staging-crashed")
    fs.mkdirs(stale)
    assert(physical > live, "superseded rollup files are retained until expiry")
    val reclaimed = SamplesStore.expireSnapshots(spark, rpath, 0L)
    assert(reclaimed > 0 && physical == live, "expiry must reclaim every superseded file")
    assert(!fs.exists(stale), "expiry must sweep a stale staging dir")
    assert(rolled == before, "expiry must never change what the rollup reads")
  }

  test("the rollup ladder re-aggregates exactly, incrementally, and gates freshness") {
    import graft.ingest.RollupStore
    val path = "/tmp/graft_test/store_ladder"
    val fine = "/tmp/graft_test/store_ladder_fine"
    val coarse = "/tmp/graft_test/store_ladder_coarse"
    val direct = "/tmp/graft_test/store_ladder_direct"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (p <- Seq(path, fine, coarse, direct))
      fs.delete(new org.apache.hadoop.fs.Path(p), true)
    val samples = Tables.samples(spark, Sf).cache()
    val nDays = samples.select(expr("ts_us DIV 1000000 DIV 86400")).distinct().count().toInt

    SamplesStore.write(samples, path)
    RollupStore.rollup(spark, path, fine, 900L)
    assert(RollupStore.rollupLadder(spark, fine, coarse, 3600L) == nDays,
      "first ladder builds every day")
    assert(RollupStore.rollupLadder(spark, fine, coarse, 3600L) == 0,
      "an idle fine rollup is a metadata no-op")
    // EXACT: the ladder-built coarse equals a direct raw→3600 rollup,
    // every v6 field (edges, penultimate, moments, argmax stamps)
    RollupStore.rollup(spark, path, direct, 3600L)
    def rows(p: String) = RollupStore.read(spark, p)
      .select(col("metric"), array_join(col("labels"), ",").as("ls"),
        col("bucket"), col("min_value"), col("max_value"),
        expr("CAST(floor(sum_value * 100 + 0.5) AS BIGINT)"), col("n_points"),
        col("t_first"), col("v_first"), col("t_last"), col("v_last"),
        col("t_penult"), col("v_penult"), col("sy_e2"), col("syy_e4"),
        col("t_vmax"), col("t_vmin"))
      .collect().map(_.toSeq).toSet
    assert(rows(coarse) == rows(direct),
      "ladder coarse must equal a direct raw rollup field-for-field")
    assert(RollupStore.freshLadder(spark, fine, coarse, 3600L, 0L, 0L))

    // an append invalidates exactly the touched day end-to-end:
    // raw → fine rebuilds one day → ladder rebuilds one day
    val day0End = samples.agg(min(expr("ts_us DIV 1000000 DIV 86400 * 86400")))
      .first().getLong(0) + 86400
    SamplesStore.append(
      samples.filter(expr(s"ts_us DIV 1000000 < $day0End")).limit(1), path)
    assert(RollupStore.rollup(spark, path, fine, 900L) == 1)
    assert(!RollupStore.freshLadder(spark, fine, coarse, 3600L, 0L, 0L),
      "a rebuilt fine day must read stale until the ladder pass")
    assert(RollupStore.freshLadder(spark, fine, coarse, 3600L,
      day0End + 86400L, 0L),
      "days OUTSIDE the invalidated one still gate fresh")
    assert(RollupStore.rollupLadder(spark, fine, coarse, 3600L) == 1,
      "one changed fine day rebuilds one coarse day")
    assert(RollupStore.freshLadder(spark, fine, coarse, 3600L, 0L, 0L))
    // still exact after the incremental pass
    fs.delete(new org.apache.hadoop.fs.Path(direct), true)
    RollupStore.rollup(spark, path, direct, 3600L)
    assert(rows(coarse) == rows(direct),
      "incremental ladder must equal full recompute")

    // DEPTH 3 (the classic 5m → 1h → 1d retention shape): the day
    // level builds FROM the hour level and must still equal a direct
    // raw→86400 rollup field-for-field — exactness compounds through
    // the chain because every v6 field re-aggregates exactly
    val day = "/tmp/graft_test/store_ladder_day"
    val directDay = "/tmp/graft_test/store_ladder_directday"
    for (p <- Seq(day, directDay))
      fs.delete(new org.apache.hadoop.fs.Path(p), true)
    assert(RollupStore.rollupLadder(spark, coarse, day, 86400L) == nDays,
      "first day-ladder builds every day")
    RollupStore.rollup(spark, path, directDay, 86400L)
    assert(rows(day) == rows(directDay),
      "depth-3 ladder must equal a direct raw rollup field-for-field")
    // one appended raw row invalidates exactly ONE day at EVERY level
    // of the chain, and each level reads stale until its own pass
    SamplesStore.append(
      samples.filter(expr(s"ts_us DIV 1000000 < $day0End")).limit(1), path)
    assert(RollupStore.rollup(spark, path, fine, 900L) == 1)
    assert(RollupStore.rollupLadder(spark, fine, coarse, 3600L) == 1)
    assert(!RollupStore.freshLadder(spark, coarse, day, 86400L, 0L, 0L),
      "the day level must gate stale until its own ladder pass")
    assert(RollupStore.rollupLadder(spark, coarse, day, 86400L) == 1,
      "one changed hour day rebuilds one day-level day")
    assert(RollupStore.freshLadder(spark, coarse, day, 86400L, 0L, 0L))
    fs.delete(new org.apache.hadoop.fs.Path(directDay), true)
    RollupStore.rollup(spark, path, directDay, 86400L)
    assert(rows(day) == rows(directDay),
      "incremental depth-3 ladder must equal full recompute")
  }

  test("an interval or schema change always overtakes the stale manifest generation") {
    import graft.ingest.RollupStore
    val path = "/tmp/graft_test/store_rollup_regen"
    val rpath = "/tmp/graft_test/store_rollup_regen_roll"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (p <- Seq(path, rpath)) fs.delete(new org.apache.hadoop.fs.Path(p), true)
    val samples = Tables.samples(spark, Sf)
    SamplesStore.write(samples, path)
    // grow the 3600s twin through several generations
    RollupStore.rollup(spark, path, rpath, 3600L)
    SamplesStore.append(samples.limit(1), path)
    RollupStore.rollup(spark, path, rpath, 3600L)
    SamplesStore.append(samples.limit(1), path)
    RollupStore.rollup(spark, path, rpath, 3600L)
    def maxGen(): Long = fs.listStatus(
        new org.apache.hadoop.fs.Path(rpath, "_manifests"))
      .map(_.getPath.getName).collect { case n if n.startsWith("m-") =>
        n.stripPrefix("m-").toLong }.max
    val genBefore = maxGen()
    assert(genBefore >= 2L)
    // an interval CHANGE reads the previous snapshot as absent — the
    // rebuild must still commit ABOVE the live max generation, or the
    // stale 3600s manifest shadows the new state forever (the bug the
    // schema-v2 rollout exposed)
    RollupStore.rollup(spark, path, rpath, 7200L)
    assert(maxGen() > genBefore, "the interval-change rebuild must win gens.max")
    assert(RollupStore.freshFor(spark, path, rpath, 7200L, 0L, 0L),
      "the live twin must be the fresh new-interval one")
    // and its rows answer at the new interval
    val buckets = RollupStore.read(spark, rpath)
      .select((col("bucket") % 7200L).as("m")).distinct().collect().map(_.getLong(0))
    assert(buckets.toSet === Set(0L), "live rollup rows must be 7200-bucketed")
  }

  test("a fully-emptied source leaves an empty rollup with a stable schema") {
    import graft.ingest.RollupStore
    import spark.implicits._
    val path = "/tmp/graft_test/store_rollup_empty"
    val rpath = path + "_roll"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    fs.delete(new org.apache.hadoop.fs.Path(rpath), true)
    val day0 = 1704412800L
    val rows = (0 until 10).map(i => (day0 * 1000000L + i * 1000000L,
      "m", Seq("k=v"), i.toDouble)).toDF("ts_us", "metric", "labels", "value")
    SamplesStore.write(rows, path)
    RollupStore.rollup(spark, path, rpath)
    val populated = RollupStore.read(spark, rpath).schema
    SamplesStore.deleteRange(spark, path, Long.MinValue, Long.MaxValue)
    RollupStore.rollup(spark, path, rpath)
    val empty = RollupStore.read(spark, rpath)
    assert(empty.count() == 0, "every rollup day must follow its deleted source day")
    assert(empty.schema == populated,
      s"empty-rollup schema ${empty.schema} must equal populated $populated")
  }

  // ---- rollup stores commit through the samples-store manifest ----

  private def manifestGens(path: String): Seq[Long] =
    new File(path, "_manifests").listFiles().map(_.getName)
      .collect { case n if n.startsWith("m-") => n.stripPrefix("m-").toLong }.sorted.toSeq

  private def manifestLines(path: String, gen: Long): Seq[String] = {
    val src = scala.io.Source.fromFile(new File(path, f"_manifests/m-$gen%020d"), "UTF-8")
    try src.getLines().toVector finally src.close()
  }

  private def rollupRows(rpath: String): Seq[String] =
    graft.ingest.RollupStore.read(spark, rpath).drop("date")
      .collect().map(_.toString).sorted.toSeq

  test("a graft-rollup v1 manifest still serves, fresh, with no rebuild") {
    import graft.ingest.RollupStore
    val path = freshStore("/tmp/graft_test/store_rollup_legacy")
    val rpath = freshStore(path + "_roll")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    SamplesStore.write(Tables.samples(spark, Sf), path)
    assert(RollupStore.rollup(spark, path, rpath, 3600L) > 0)
    val before = rollupRows(rpath)
    val files = SamplesStore.latestSnapshot(fs, new org.apache.hadoop.fs.Path(rpath)).get.files
    // the pre-header format: its own tag, interval, schema, one md5
    // digest (first 8 bytes, hex) of each source day's sorted file
    // list, then the live rollup files
    def md5(fls: Seq[String]) = java.security.MessageDigest.getInstance("MD5")
      .digest(fls.sorted.mkString("\n").getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString
    val digests = SamplesStore.latestSnapshot(fs, new org.apache.hadoop.fs.Path(path)).get
      .byDay.toVector.sortBy(_._1).map { case (d, fls) => s"D $d ${md5(fls)}" }
    val legacy = Vector("graft-rollup v1", "interval 3600",
      s"schema ${RollupStore.SchemaVersion}") ++ digests ++ files.sorted.map("F " + _)
    fs.delete(new org.apache.hadoop.fs.Path(rpath, "_manifests"), true)
    val out = fs.create(new org.apache.hadoop.fs.Path(rpath, f"_manifests/m-${1L}%020d"))
    out.write(legacy.mkString("\n").getBytes("UTF-8"))
    out.close()
    SamplesStore.invalidateSnapshotCache(rpath)

    assert(rollupRows(rpath) == before, "the legacy manifest must read the same rows")
    assert(RollupStore.freshFor(spark, path, rpath, 3600L, 0L, 0L),
      "the legacy manifest's digests must gate fresh")
    assert(RollupStore.rollup(spark, path, rpath, 3600L) == 0,
      "a legacy rollup must not be rebuilt")
    assert(manifestGens(rpath) == Seq(1L), "a no-op pass commits nothing")
  }

  test("a rollup's delta chain keeps interval, schema and digests through expiry's re-checkpoint") {
    import graft.ingest.RollupStore
    val path = freshStore("/tmp/graft_test/store_rollup_rechk")
    val rpath = freshStore(path + "_roll")
    val samples = Tables.samples(spark, Sf).cache()
    SamplesStore.write(samples.filter(expr("ts_us % 2 = 0")), path)
    RollupStore.rollup(spark, path, rpath, 3600L)
    val day0End = samples.agg(min(expr("ts_us DIV 1000000 DIV 86400 * 86400")))
      .first().getLong(0) + 86400
    for (k <- 0 until 2) {
      SamplesStore.append(samples.filter(expr(s"ts_us % 2 = 1 AND ts_us % 4 = ${2 * k + 1}") &&
        expr(s"ts_us DIV 1000000 < $day0End")), path)
      assert(RollupStore.rollup(spark, path, rpath, 3600L) == 1)
    }
    val gens = manifestGens(rpath)
    assert(gens == Seq(1L, 2L, 3L))
    assert(manifestLines(rpath, 3L).contains("base 2"), "an incremental pass commits a delta")
    val before = rollupRows(rpath)

    SamplesStore.expireSnapshots(spark, rpath, 0L)
    assert(manifestGens(rpath) == Seq(4L), "the chain folds into one checkpoint")
    val rechk = manifestLines(rpath, 4L)
    assert(!rechk.exists(_.startsWith("base ")), rechk)
    assert(rechk.contains("interval 3600") &&
      rechk.contains(s"schema ${RollupStore.SchemaVersion}") &&
      rechk.exists(_.startsWith("D ")), rechk)
    SamplesStore.invalidateSnapshotCache(rpath)
    assert(RollupStore.freshFor(spark, path, rpath, 3600L, 0L, 0L),
      "the re-checkpointed header must still gate fresh")
    assert(RollupStore.rollup(spark, path, rpath, 3600L) == 0, "no rebuild after expiry")
    assert(rollupRows(rpath) == before)
  }

  test("concurrent rollups on the raw and file: spellings of one path share one lock") {
    import graft.ingest.RollupStore
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val path = freshStore("/tmp/graft_test/store_rollup_spellings")
    val rpath = freshStore(path + "_roll")
    val samples = Tables.samples(spark, Sf).cache()
    SamplesStore.write(samples.filter(expr("ts_us % 2 = 0")), path)
    RollupStore.rollup(spark, path, rpath, 3600L)
    val day0End = samples.agg(min(expr("ts_us DIV 1000000 DIV 86400 * 86400")))
      .first().getLong(0) + 86400
    SamplesStore.append(samples.filter(expr("ts_us % 2 = 1") &&
      expr(s"ts_us DIV 1000000 < $day0End")), path)
    // Each pass waits (bounded) in its resolve→commit window for the
    // other. Passes sharing one lock never meet there: the first times
    // out and commits, the second resolves on top of it and finds
    // nothing to do. Passes on two locks would both rebuild the day on
    // the same base generation.
    val arrived = new CountDownLatch(2)
    RollupStore.onRollupResolved = () => {
      arrived.countDown(); arrived.await(3, TimeUnit.SECONDS); ()
    }
    val rebuilt = new java.util.concurrent.atomic.AtomicInteger(0)
    val outcomes =
      try {
        val a = spawn("rollup-raw") { rebuilt.addAndGet(RollupStore.rollup(spark, path, rpath)); () }
        val b = spawn("rollup-qualified") {
          rebuilt.addAndGet(RollupStore.rollup(spark, path, "file:" + rpath)); ()
        }
        Seq(a(), b())
      } finally RollupStore.onRollupResolved = () => ()
    outcomes.foreach(o => assert(o.isSuccess, o))
    assert(rebuilt.get == 1, "exactly one of the two passes rebuilds the appended day")
    val gens = manifestGens(rpath)
    assert(gens == (1L to gens.last), s"generations must be contiguous: $gens")
    gens.tail.foreach { g =>
      assert(manifestLines(rpath, g).filter(_.startsWith("base ")).forall(_ == s"base ${g - 1}"),
        s"generation $g must build on ${g - 1}")
    }
    assert(RollupStore.freshFor(spark, path, rpath, 3600L, 0L, 0L))
  }

  test("an empty snapshot reads with the same schema as a populated one") {
    import spark.implicits._
    val path = "/tmp/graft_test/store_empty"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val day0 = 1704412800L
    val rows = (0 until 10).map(i => (day0 * 1000000L + i * 1000000L,
      "m", Seq("k=v"), i.toDouble)).toDF("ts_us", "metric", "labels", "value")
    SamplesStore.write(rows, path)
    val populated = SamplesStore.read(spark, path).schema
    // delete EVERYTHING: the manifest goes empty, and the read must
    // keep the exact schema (a downstream select/filter chain built
    // against a populated store must not break on an emptied one)
    SamplesStore.deleteRange(spark, path, Long.MinValue, Long.MaxValue)
    val empty = SamplesStore.read(spark, path)
    assert(empty.count() == 0)
    assert(empty.schema == populated,
      s"empty-snapshot schema ${empty.schema} must equal populated $populated")
  }

  test("snapshot parsing is cached per generation and invalidated by any commit") {
    import spark.implicits._
    val path = "/tmp/graft_test/store_snapcache"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val root = new org.apache.hadoop.fs.Path(path)
    val day0 = 1704412800L
    def rowsFor(off: Int) =
      (0 until 10).map(i => (day0 * 1000000L + (off * 10 + i) * 1000000L,
        "m", Seq("k=v"), i.toDouble)).toDF("ts_us", "metric", "labels", "value")
    SamplesStore.append(rowsFor(0), path)
    // a manifest generation is immutable, so repeat resolutions reuse
    // the parsed instance — at 100 TB the manifest is megabytes of
    // file list, and re-parsing it per read request would dominate
    // planning
    val s1 = SamplesStore.latestSnapshot(fs, root).get
    val s2 = SamplesStore.latestSnapshot(fs, root).get
    assert(s1 eq s2, "an unchanged generation must resolve to the cached instance")
    SamplesStore.append(rowsFor(1), path)
    val s3 = SamplesStore.latestSnapshot(fs, root).get
    assert(s3.gen > s1.gen, "a commit must advance the resolved generation")
    assert(s3.files.size > s1.files.size)
  }

  test("lock maps key scheme-insensitively: qualified and raw store paths share one lock") {
    // GC locks via a path derived from fs.listStatus (scheme-qualified,
    // file:/…), while serving readers lock via the caller's raw string
    // (/…) — these MUST resolve to the same lock object or GC excludes
    // nobody
    assert(SamplesStore.visibilityLockHandle("/tmp/graft_test/lockkey") eq
           SamplesStore.visibilityLockHandle("file:/tmp/graft_test/lockkey"))
    assert(SamplesStore.lockKey("file:///tmp/graft_test/lockkey") ==
           SamplesStore.lockKey("/tmp/graft_test/lockkey"))
  }

  test("a reader's planned snapshot survives a concurrent boundary-day delete") {
    import spark.implicits._
    val path = "/tmp/graft_test/store_delete_visibility"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val day0 = 1704412800L
    val rows = (0 until 120).map(i =>
      (day0 * 1000000L + i * 600L * 1000000L, s"m${i % 5}", Seq("k=v"), i.toDouble))
      .toDF("ts_us", "metric", "labels", "value")
    SamplesStore.write(rows, path)
    // delete a 6h slice INSIDE day0 — a boundary rewrite, no whole-day
    // drops
    val startUs = (day0 + 6 * 3600L) * 1000000L
    val endUs = (day0 + 12 * 3600L) * 1000000L
    val expectedAfter = rows.filter(col("ts_us") < startUs || col("ts_us") >= endUs).count()

    val deleteDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val deleter = new Thread(() => {
      SamplesStore.deleteRange(spark, path, startUs, endUs)
      deleteDone.set(true)
    }, "spec-deleter")
    // hold the visibility READ lock on the caller's RAW path — exactly
    // what the serving /read does — across the whole delete
    SamplesStore.readLocked(path) {
      val preDf = SamplesStore.read(spark, path) // plans the pre-delete snapshot
      val before = preDf.count()
      deleter.start()
      // the delete COMPLETES while the reader is in flight — its
      // publish is an atomic manifest commit, and only its eager GC
      // defers on the reader's lock (bounded tryLock, the historical
      // bug keyed that lock on the fs-qualified path and deleted
      // right through the reader)
      deleter.join(60000)
      assert(deleteDone.get, "a delete must never stall behind a reader")
      // the reader's in-flight plan still scans its snapshot in full:
      // the boundary day's superseded files are grace-retained
      assert(preDf.count() === before,
        "a pre-delete plan must keep scanning its superseded files")
      // a FRESH read inside the same lock sees the post-delete snapshot
      assert(SamplesStore.read(spark, path).count() === expectedAfter)
    }
    assert(SamplesStore.read(spark, path)
      .filter(col("ts_us") >= startUs && col("ts_us") < endUs).count() == 0)
    assert(SamplesStore.read(spark, path).count() === expectedAfter)
    // quiesced: expiry reclaims the superseded boundary files
    SamplesStore.expireSnapshots(spark, path, graceMs = 0L)
    assert(SamplesStore.read(spark, path).count() === expectedAfter)
    assert(sortedWithinFiles(path))
  }

  test("TSV bulk round-trips labels containing tabs, quotes, newlines") {
    import spark.implicits._
    import graft.ingest.TsvBulk
    val path = "/tmp/graft_test/tsv_adversarial"
    // Prometheus label values are arbitrary UTF-8 — the TabSeparated
    // framing characters must survive an export → import round-trip
    val rows = Seq(
      (1704412800000000L, "m\twith\ttabs", Seq("k='quoted'", "q=a','b"), 1.5),
      (1704412801000000L, "m\nnewline", Seq("s=back\\slash", "t=tab\tval"), -2.25),
      (1704412802000000L, "plain", Seq.empty[String], Double.MaxValue),
      (1704412803000000L, "uni", Seq("u=日本語"), 1e-7))
    TsvBulk.export(rows.toDF("ts_us", "metric", "labels", "value"), path)
    val back = TsvBulk.importTsv(spark, path).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getSeq[String](2).toList, r.getDouble(3))).toSet
    assert(back == rows.map(t => (t._1, t._2, t._3.toList, t._4)).toSet)
  }

  test("append commit bytes are O(touched files), independent of store size") {
    import spark.implicits._
    val path = "/tmp/graft_test/store_delta_manifest"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val day0 = 1704412800L
    def rowsFor(off: Int) =
      (0 until 5).map(i => (day0 * 1000000L + (off * 5 + i) * 1000000L,
        "m", Seq("k=v"), i.toDouble)).toDF("ts_us", "metric", "labels", "value")
    def manifests: Seq[(Long, Long)] = // (gen, bytes), ascending
      new File(path, "_manifests").listFiles().toSeq
        .filter(_.getName.startsWith("m-"))
        .map(f => (f.getName.stripPrefix("m-").toLong, f.length())).sortBy(_._1)

    // cross a checkpoint boundary: 30 appends, each landing one new
    // file in the same day, with generations climbing through
    // CheckpointEvery (25)
    val n = SamplesStore.CheckpointEvery.toInt + 5
    for (i <- 0 until n) SamplesStore.append(rowsFor(i), path)
    val byGen = manifests.toMap
    val gens = manifests.map(_._1)
    // n appends = n commits: the first append's gen-1 checkpoint, then deltas
    assert(gens.size == n && gens.last >= SamplesStore.CheckpointEvery,
      s"expected $n generations crossing the checkpoint cadence, got $gens")
    // a samples store's manifests carry no header lines: each line is
    // the format tag, the batch ledger, the data schema, a base pointer
    // or a file entry
    def headerFree(): Unit = manifests.foreach { case (g, _) =>
      val extra = manifestLines(path, g).filterNot(l => l == "graft-manifest v1" ||
        Seq("max-batch-id ", "data-schema ", "base ", "F ", "A ", "R ").exists(l.startsWith))
      assert(extra.isEmpty, s"gen $g carries header lines $extra")
    }
    headerFree()

    // THE scale property: a delta commit's size does not grow with the
    // number of unrelated live files. The store holds ~5x more files
    // at the last delta than at the first, so compare them directly.
    val deltaGens = gens.filter(_ % SamplesStore.CheckpointEvery != 0).filter(_ > 1)
    val (early, late) = (byGen(deltaGens.head), byGen(deltaGens.last))
    assert(late <= early + 32,
      s"delta at gen ${deltaGens.last} ($late B) must not grow with store size " +
      s"(gen ${deltaGens.head} wrote $early B)")
    // while the periodic checkpoint DOES carry the full list — it must
    // dwarf its neighbouring deltas (that contrast is what proves the
    // deltas are deltas)
    val ckpt = gens.find(_ % SamplesStore.CheckpointEvery == 0).get
    assert(byGen(ckpt) > 4 * late,
      s"checkpoint gen $ckpt (${byGen(ckpt)} B) should carry the full file list")
    assert(byGen(ckpt + 1) <= early + 32,
      "the commit after a checkpoint must drop back to delta size")

    // resolution correctness, warm (cached ancestor) and cold (readAt
    // walks the chain from scratch): both equal the appended corpus
    val expected = (0 until n).map(rowsFor).reduce(_ union _)
      .select("ts_us", "value").collect().toSet
    assert(SamplesStore.read(spark, path).select("ts_us", "value")
      .collect().toSet == expected)
    val pin = SamplesStore.currentGen(spark, path).get
    assert(SamplesStore.readAt(spark, path, pin).select("ts_us", "value")
      .collect().toSet == expected,
      "cold chain resolution (checkpoint + deltas) must replay to the same corpus")

    // expiry on a quiesced store rolls the live delta chain into a
    // standalone checkpoint and drops the stale chain — reads survive
    SamplesStore.expireSnapshots(spark, path, graceMs = 0L)
    assert(SamplesStore.read(spark, path).select("ts_us", "value")
      .collect().toSet == expected)
    assert(manifests.size <= 2,
      s"expiry must drop the superseded chain, kept ${manifests.map(_._1)}")
    headerFree()
  }

  test("a crashed batch's uncommitted files are invisible and never folded") {
    val path = "/tmp/graft_test/store_orphan"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val samples = Tables.samples(spark, Sf).cache()
    val b0 = samples.filter(expr("ts_us % 2 = 0"))
    val b1 = samples.filter(expr("ts_us % 2 = 1"))
    SamplesStore.appendBatch(b0, path, 0L)
    val committed = SamplesStore.read(spark, path).count()
    // simulate a crash mid-appendBatch of batch 1: a moved b1- file
    // whose manifest commit never happened. Under the snapshot
    // protocol it is unreferenced — no reader sees it, no compaction
    // folds it, so the eventual replay of batch 1 can never
    // double-count its rows.
    val day = new File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("date=")).head
    val orphan = new org.apache.hadoop.fs.Path(day.getAbsolutePath, "b1-orphan.parquet")
    fs.create(orphan, true).close()
    assert(SamplesStore.read(spark, path).count() == committed,
      "an uncommitted batch file must be invisible to readers")
    // selective compaction folds from the manifest only — the orphan
    // is neither an input nor a fragmentation signal
    SamplesStore.compactFragmentedDays(spark, path, maxFilesPerDay = 0, gcGraceMs = 0L)
    assert(SamplesStore.read(spark, path).count() == committed)
    // the replay of batch 1 stages fresh files and commits; the stale
    // orphan ages out via snapshot expiry
    SamplesStore.appendBatch(b1, path, 1L)
    assert(SamplesStore.read(spark, path).count() == samples.count())
    SamplesStore.expireSnapshots(spark, path, graceMs = 0L)
    assert(!fs.exists(orphan), "expiry must reclaim the crashed batch's file")
    // whole-store compact remains result-invariant
    SamplesStore.compact(spark, path)
    assert(SamplesStore.read(spark, path).count() == samples.count())
    assert(sortedWithinFiles(path))
  }

  test("the max-gen hint accelerates snapshot resolution and is never load-bearing") {
    import spark.implicits._
    val path = "/tmp/graft_test/store_maxgen_hint"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val day0 = 1704412800L
    def rowsFor(off: Int) =
      Seq((day0 * 1000000L + off * 1000000L, "m", Seq("k=v"), off.toDouble))
        .toDF("ts_us", "metric", "labels", "value")
    for (i <- 0 until 5) SamplesStore.append(rowsFor(i), path)
    val gen = SamplesStore.currentGen(spark, path).get
    val hint = new org.apache.hadoop.fs.Path(path, "_manifests/.maxgen")
    def hintSays: String = {
      val in = fs.open(hint)
      try new String(in.readAllBytes(), "UTF-8").trim finally in.close()
    }
    assert(fs.exists(hint) && hintSays == gen.toString,
      "every commit must refresh the hint to the committed generation")
    def freshRead(): Set[(Long, Double)] = {
      SamplesStore.invalidateSnapshotCache(path)
      SamplesStore.read(spark, path).select("ts_us", "value")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    }
    val expectedT = freshRead()

    // hint BEHIND (the crash-between-rename-and-hint window): forward
    // probe must still find the real latest
    val out = fs.create(hint, true)
    out.write("1".getBytes("UTF-8")); out.close()
    assert(freshRead() == expectedT)
    assert(SamplesStore.currentGen(spark, path).contains(gen))

    // corrupt hint → full-listing fallback
    val out2 = fs.create(hint, true)
    out2.write("not-a-number".getBytes("UTF-8")); out2.close()
    assert(freshRead() == expectedT)

    // missing hint (pre-hint store) → full-listing fallback, and the
    // next commit restores it
    fs.delete(hint, false)
    assert(freshRead() == expectedT)
    SamplesStore.append(rowsFor(99), path)
    assert(fs.exists(hint) && hintSays == (gen + 1).toString)
  }

  test("a concurrent-writer manifest collision fails loudly, store unchanged") {
    import spark.implicits._
    val path = "/tmp/graft_test/store_second_writer"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val day0 = 1704412800L
    def rowsFor(off: Int) =
      (0 until 3).map(i => (day0 * 1000000L + (off * 3 + i) * 1000000L,
        "m", Seq("k=v"), i.toDouble)).toDF("ts_us", "metric", "labels", "value")
    SamplesStore.append(rowsFor(0), path)
    val gen = SamplesStore.currentGen(spark, path).get
    val before = SamplesStore.read(spark, path)
      .select("ts_us", "value").collect().toSet

    // simulate a second writer process winning the race: its commit
    // lands in the next generation slot INSIDE this append's
    // resolve→rename window (a copy of the current manifest stands in
    // for the other writer's valid commit)
    val mdir = new org.apache.hadoop.fs.Path(path, "_manifests")
    val cur = new org.apache.hadoop.fs.Path(mdir, f"m-$gen%020d")
    val next = new org.apache.hadoop.fs.Path(mdir, f"m-${gen + 1}%020d")
    SamplesStore.onAppendSnapshotResolved = () => {
      org.apache.hadoop.fs.FileUtil.copy(fs, cur, fs, next, false,
        spark.sparkContext.hadoopConfiguration); ()
    }

    // this JVM's commit must abort — NOT bump past the foreign
    // generation (which would orphan it from the delta chain)
    val e =
      try intercept[IllegalStateException] { SamplesStore.append(rowsFor(1), path) }
      finally SamplesStore.onAppendSnapshotResolved = () => ()
    assert(e.getMessage.contains("concurrent writer"), e.getMessage)
    // the other writer's generation survives untouched and remains
    // the latest; the aborted append's rows never became visible
    assert(SamplesStore.currentGen(spark, path).contains(gen + 1))
    assert(SamplesStore.read(spark, path)
      .select("ts_us", "value").collect().toSet == before,
      "an aborted commit must leave the visible corpus unchanged")
    // no half-committed temp manifest litter
    val litter = fs.listStatus(mdir).map(_.getPath.getName)
      .filter(_.startsWith(".tmp-"))
    assert(litter.isEmpty, s"aborted commit left temp files: ${litter.toSeq}")
  }

  // ---- group commit: concurrent plain appends share one commit ------

  private def freshStore(path: String): String = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    path
  }

  private def groupRows(off: Int) = {
    import spark.implicits._
    (0 until 3).map(i => (1704412800L * 1000000L + (off * 3 + i) * 1000000L,
      "m", Seq("k=v"), i.toDouble)).toDF("ts_us", "metric", "labels", "value")
  }

  /** Run `f` on its own thread; the returned call joins it (bounded)
    * and yields its outcome. */
  private def spawn(name: String)(f: => Unit): () => scala.util.Try[Unit] = {
    @volatile var out: scala.util.Try[Unit] =
      scala.util.Failure(new AssertionError(s"$name did not finish"))
    val t = new Thread(() => out = scala.util.Try(f), name)
    t.start()
    () => { t.join(120000); out }
  }

  /** Park the next append's leader inside its commit (after it resolved
    * its base snapshot), run `whileParked` — which queues the followers
    * — then release it. Returns the leader's outcome. */
  private def withParkedLeader(leader: => Unit)(
      whileParked: => Unit): scala.util.Try[Unit] = {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val inCommit = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val parked = new java.util.concurrent.atomic.AtomicBoolean(false)
    SamplesStore.onAppendSnapshotResolved = () =>
      if (parked.compareAndSet(false, true)) {
        inCommit.countDown(); release.await(60, TimeUnit.SECONDS); ()
      }
    try {
      val a = spawn("spec-leader")(leader)
      assert(inCommit.await(60, TimeUnit.SECONDS), "the leader must reach its commit")
      whileParked
      release.countDown()
      a()
    } finally {
      release.countDown()
      SamplesStore.onAppendSnapshotResolved = () => ()
    }
  }

  private def awaitQueued(path: String, n: Int): Unit = {
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (SamplesStore.queuedAppends(path) < n && System.nanoTime() < deadline)
      Thread.sleep(5)
    assert(SamplesStore.queuedAppends(path) >= n, s"$n appends must queue behind the leader")
  }

  test("appends queued behind a committing leader land as ONE group commit") {
    val path = freshStore("/tmp/graft_test/store_group_commit")
    SamplesStore.append(groupRows(0), path)
    val gen0 = SamplesStore.currentGen(spark, path).get
    val m = OpsMetrics(spark)
    val (appends0, commits0) = (m.storeAppends.value, m.storeAppendCommits.value)
    var followers = Seq.empty[() => scala.util.Try[Unit]]
    val a = withParkedLeader(SamplesStore.append(groupRows(1), path)) {
      followers = (2 to 4).map(i => spawn(s"spec-follower-$i")(SamplesStore.append(groupRows(i), path)))
      awaitQueued(path, 3)
    }
    assert(a.isSuccess, a)
    followers.foreach(f => assert(f().isSuccess))
    // {A}, then {B, C, D}: exactly two generations for four appends
    assert(SamplesStore.currentGen(spark, path).contains(gen0 + 2))
    assert(SamplesStore.queuedAppends(path) === 0)
    val back = SamplesStore.read(spark, path).select("ts_us").collect().map(_.getLong(0)).toSet
    assert(back === (0 until 15).map(i => 1704412800L * 1000000L + i * 1000000L).toSet,
      "every member's rows must land")
    assert(m.storeAppends.value - appends0 === 4L)
    assert(m.storeAppendCommits.value - commits0 === 2L)
    assert(sortedWithinFiles(path))
  }

  test("an ops counter loses no increment to concurrent request threads") {
    // every appending request thread adds to store_appends_total at
    // once, while the scheduler merges task-side updates into counters
    val c = new DriverCounter
    spark.sparkContext.register(c, "spec_concurrent_counter")
    val adders = (0 until 8).map(i =>
      spawn(s"spec-adder-$i")((0 until 100000).foreach(_ => c.add(1L))))
    spark.range(0, 1000, 1, 4).foreach(_ => c.add(1L))
    adders.foreach(a => assert(a().isSuccess))
    assert(c.value === 801000L)
  }

  test("a group member whose frame fails at execution fails alone; its group-mates land") {
    val path = freshStore("/tmp/graft_test/store_group_isolate")
    SamplesStore.append(groupRows(0), path)
    val gen0 = SamplesStore.currentGen(spark, path).get
    val bad = groupRows(3).withColumn("value",
      expr("CASE WHEN value >= 0 THEN CAST(raise_error('group-commit boom') AS DOUBLE) ELSE value END"))
    var members = Seq.empty[(Int, () => scala.util.Try[Unit])]
    val a = withParkedLeader(SamplesStore.append(groupRows(1), path)) {
      members = Seq(2, 3, 4).map { i =>
        i -> spawn(s"spec-member-$i")(SamplesStore.append(if (i == 3) bad else groupRows(i), path))
      }
      awaitQueued(path, 3)
    }
    assert(a.isSuccess, a)
    val outcomes = members.map { case (i, f) => i -> f() }.toMap
    assert(outcomes(2).isSuccess && outcomes(4).isSuccess, outcomes)
    val err = outcomes(3).failed.get
    assert(Iterator.iterate(err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("group-commit boom")), err)
    // {A}, the failed {B, C, D}, then B and D alone
    assert(SamplesStore.currentGen(spark, path).contains(gen0 + 3))
    val back = SamplesStore.read(spark, path).select("ts_us").collect().map(_.getLong(0)).toSet
    assert(back === Seq(0, 1, 2, 4).flatMap(o => (0 until 3).map(i =>
      1704412800L * 1000000L + (o * 3 + i) * 1000000L)).toSet,
      "the failing member's rows must not land, every other member's must")
  }

  test("frames from another session or with another schema never merge") {
    val path = freshStore("/tmp/graft_test/store_group_shapes")
    SamplesStore.append(groupRows(0), path)
    val gen0 = SamplesStore.currentGen(spark, path).get
    val other = spark.newSession()
    val otherSession = other.createDataFrame(groupRows(2).rdd, groupRows(2).schema)
    val otherSchema = groupRows(3).withColumn("note", lit("x"))
    var queued = Seq.empty[() => scala.util.Try[Unit]]
    val a = withParkedLeader(SamplesStore.append(groupRows(1), path)) {
      queued = Seq(otherSession, otherSchema, groupRows(4), groupRows(5)).zipWithIndex.map {
        case (df, i) => spawn(s"spec-shape-$i")(SamplesStore.append(df, path))
      }
      awaitQueued(path, 4)
    }
    assert(a.isSuccess, a)
    queued.foreach(f => assert(f().isSuccess))
    // {A}, {other session}, {other schema}, then the two plain frames
    // together: four generations for five appends
    assert(SamplesStore.currentGen(spark, path).contains(gen0 + 4))
    assert(SamplesStore.read(spark, path).count() === 18)
  }

  test("appendBatch never joins a group; a replayed batch id stays a no-op") {
    val path = freshStore("/tmp/graft_test/store_group_batch")
    SamplesStore.append(groupRows(0), path)
    val gen0 = SamplesStore.currentGen(spark, path).get
    var others = Seq.empty[() => scala.util.Try[Unit]]
    val a = withParkedLeader(SamplesStore.append(groupRows(1), path)) {
      others = Seq(
        spawn("spec-batch")(SamplesStore.appendBatch(groupRows(2), path, 5L)),
        spawn("spec-plain-3")(SamplesStore.append(groupRows(3), path)),
        spawn("spec-plain-4")(SamplesStore.append(groupRows(4), path)))
      awaitQueued(path, 2)
    }
    assert(a.isSuccess, a)
    others.foreach(f => assert(f().isSuccess))
    // {A}, the batch alone, {3, 4}
    assert(SamplesStore.currentGen(spark, path).contains(gen0 + 3))
    assert(SamplesStore.read(spark, path).count() === 15)
    SamplesStore.appendBatch(groupRows(2), path, 5L)
    assert(SamplesStore.currentGen(spark, path).contains(gen0 + 3),
      "a replayed batch id must not commit")
    assert(SamplesStore.read(spark, path).count() === 15)
    SamplesStore.appendBatch(groupRows(6), path, 6L)
    assert(SamplesStore.currentGen(spark, path).contains(gen0 + 4))
    assert(SamplesStore.read(spark, path).count() === 18)
  }

  test("a fresh store's first append commits exactly one generation, gen 1") {
    val path = freshStore("/tmp/graft_test/store_first_append")
    SamplesStore.append(groupRows(0), path)
    val gens = new File(path, "_manifests").listFiles().toSeq.map(_.getName)
      .filter(_.startsWith("m-")).map(_.stripPrefix("m-").toLong).sorted
    assert(gens === Seq(1L), "no empty adoption generation before the data")
    assert(manifestLines(path, 1L).exists(_.startsWith("F ")), "gen 1 is the data's checkpoint")
    assert(SamplesStore.read(spark, path).count() === 3)
  }

  test("a crashed first batch on a fresh path is never adopted: its replay lands once") {
    val path = freshStore("/tmp/graft_test/store_first_orphan")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val b0 = groupRows(0)
    // the crash: batch 0's first attempt resolved the fresh path, then
    // died after publishing its day file and before its commit
    SamplesStore.onAppendSnapshotResolved = () => throw new IllegalStateException("crash")
    try intercept[IllegalStateException](SamplesStore.appendBatch(b0, path, 0L))
    finally SamplesStore.onAppendSnapshotResolved = () => ()
    val orphan = SamplesStore.publish(fs,
      SamplesStore.stage(SamplesStore.layout(b0), root), root, "b0-")
    assert(orphan.size === 1)
    assert(SamplesStore.currentGen(spark, path) === None)
    assert(SamplesStore.read(spark, path).count() === 0,
      "a reader must not see the uncommitted first batch")
    SamplesStore.appendBatch(b0, path, 0L)
    assert(SamplesStore.currentGen(spark, path) === Some(1L))
    assert(SamplesStore.read(spark, path).count() === 3, "the replay lands batch 0 exactly once")
    SamplesStore.expireSnapshots(spark, path, graceMs = 0L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, orphan.keys.head)),
      "expiry must reclaim the crashed attempt's file")
    assert(SamplesStore.read(spark, path).count() === 3)
  }

  test("a manifest-less tree of data files is adopted by its first mutation") {
    val path = freshStore("/tmp/graft_test/store_foreign_tree")
    SamplesStore.layout(groupRows(0)).write.partitionBy("date").parquet(path)
    // no manifest commits the tree's files: read fails loudly, never lists
    val err = intercept[IllegalStateException](SamplesStore.read(spark, path))
    assert(err.getMessage.contains("adopts"), err.getMessage)
    assert(!graft.serve.RemoteRead.isTransientMiss(err), "a foreign tree is no transient miss")
    SamplesStore.append(groupRows(1), path)
    assert(SamplesStore.currentGen(spark, path) === Some(2L),
      "gen 1 adopts the tree, gen 2 is the append")
    assert(SamplesStore.read(spark, path).count() === 6)
    // an absent path keeps its path-not-found error, which a fresh
    // server's /read classifies as a miss
    val missing = intercept[java.io.FileNotFoundException](
      SamplesStore.read(spark, freshStore("/tmp/graft_test/store_absent")))
    assert(missing.getMessage.contains("does not exist") &&
      graft.serve.RemoteRead.isTransientMiss(missing), missing.getMessage)
  }

  test("compact and deleteRange on a never-written path commit no data and leave it readable") {
    val path = freshStore("/tmp/graft_test/store_never_written")
    SamplesStore.deleteRange(spark, path, 0L, Long.MaxValue)
    assert(!SamplesStore.exists(spark, path), "a delete on a missing store creates nothing")
    SamplesStore.compact(spark, path)
    assert(SamplesStore.read(spark, path).count() === 0)
    SamplesStore.append(groupRows(0), path)
    assert(SamplesStore.read(spark, path).count() === 3)
  }

  // ---- the append's write shape ----------------------------------------

  /** A session sharing the suite's context, at shuffle width 8: wide
    * enough that the distributed shape's exchange fans out. */
  private lazy val wide = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "8")
    s
  }

  /** 20 rows per day over `days` days, metrics and labels out of
    * order, built on the driver in session `wide`. */
  private def localRows(off: Int, days: Int) = {
    import wide.implicits._
    (for (d <- 0 until days; i <- (0 until 20).reverse) yield
      ((1704412800L + d * 86400L + off * 20 + i) * 1000000L, s"m${i % 3}", Seq(s"k=${20 - i}"), i.toDouble))
      .toDF("ts_us", "metric", "labels", "value")
  }

  /** (jobs, tasks) that `f` runs from this thread and the threads it
    * starts, counted by a SparkListener on jobs that carry a fresh
    * local property. A marker job under another tag drains the bus:
    * the listener sees events in order, and every job of `f` ended
    * before the marker started. */
  private def jobsAndTasks(f: => Unit): (Int, Int) = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val tag = s"spec-${java.util.UUID.randomUUID()}"
    val (jobs, tasks) = (new java.util.concurrent.atomic.AtomicInteger,
      new java.util.concurrent.atomic.AtomicInteger)
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("graft.spec.tag")).orNull match {
          case `tag` => jobs.incrementAndGet(); e.stageIds.foreach(stages.add)
          case t if t == tag + "-marker" => drained.countDown()
          case _ => ()
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId)) { tasks.incrementAndGet(); () }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("graft.spec.tag", tag)
      try f finally sc.setLocalProperty("graft.spec.tag", tag + "-marker")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus drained")
    } finally {
      sc.setLocalProperty("graft.spec.tag", null)
      sc.removeSparkListener(listener)
    }
    (jobs.get, tasks.get)
  }

  test("a driver-local one-day append runs one job of one task") {
    val path = freshStore("/tmp/graft_test/store_shape_one_day")
    SamplesStore.append(localRows(0, 1), path)
    val rows = localRows(1, 1)
    assert(jobsAndTasks(SamplesStore.append(rows, path)) === ((1, 1)),
      "no exchange: one write job, one task")
    assert(SamplesStore.read(spark, path).count() === 40)
  }

  test("a driver-local two-day append lands one sorted file per day") {
    val path = freshStore("/tmp/graft_test/store_shape_two_days")
    SamplesStore.append(localRows(0, 2), path)
    val days = new File(path).listFiles().filter(_.getName.startsWith("date=")).toSeq
    assert(days.size === 2)
    days.foreach(d => assert(d.listFiles().count(_.getName.endsWith(".parquet")) === 1, d))
    assert(sortedWithinFiles(path))
    assert(SamplesStore.read(spark, path).count() === 40)
  }

  test("a group commit of queued driver-local frames runs one task") {
    val path = freshStore("/tmp/graft_test/store_shape_group")
    SamplesStore.append(localRows(0, 1), path)
    val m = OpsMetrics(spark)
    val commits0 = m.storeAppendCommits.value
    val (jobs, tasks) = jobsAndTasks {
      var followers = Seq.empty[() => scala.util.Try[Unit]]
      val a = withParkedLeader(SamplesStore.append(localRows(1, 1), path)) {
        followers = (2 to 4).map(i =>
          spawn(s"spec-shape-follower-$i")(SamplesStore.append(localRows(i, 1), path)))
        awaitQueued(path, 3)
      }
      assert(a.isSuccess, a)
      followers.foreach(f => assert(f().isSuccess))
    }
    // the leader alone, then the three followers as one union
    assert(m.storeAppendCommits.value - commits0 === 2L)
    assert((jobs, tasks) === ((2, 2)), "each commit is one job of one task")
    assert(SamplesStore.read(spark, path).count() === 100)
    assert(sortedWithinFiles(path))
  }

  test("a parquet-backed frame keeps the hash-by-date exchange") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val path = freshStore("/tmp/graft_test/store_shape_scan")
    SamplesStore.append(localRows(0, 2), path)
    def exchanges(df: org.apache.spark.sql.DataFrame) =
      (SamplesStore.layout(df).queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case other => other
      }).collect { case e: ShuffleExchangeExec => e.outputPartitioning }.map {
        case h: HashPartitioning => (h.expressions.map(_.sql), h.numPartitions)
        case other => (Seq(other.toString), 0)
      }
    // compaction's input: the store's files; the width floors at min(cap, 32)
    assert(exchanges(SamplesStore.read(wide, path).drop("date")) === Seq((Seq("date"), 8)))
    assert(exchanges(localRows(0, 2)).isEmpty)
  }

  // ---- opening a snapshot with its known schema -----------------------

  private def inferences: Long = OpsMetrics(spark).storeSchemaInferences.value

  private def freshDir(path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    path
  }

  private def snapshotOf(path: String): SamplesStore.StoreSnapshot = {
    val p = new org.apache.hadoop.fs.Path(path)
    SamplesStore.latestSnapshot(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p).get
  }

  private val openDay0 = 1704412800L
  private def openRows(k: String, n: Int = 3) = {
    import spark.implicits._
    (0 until n).map(i => ((openDay0 + i * 43200L) * 1000000L, "om", Seq(s"k=$k"), i + 0.5))
      .toDF("ts_us", "metric", "labels", "value")
  }

  test("open reads every store kind with the schema inference gives its files") {
    import graft.ingest.{PromRemoteCodec, RollupStore}
    import graft.ingest.PromRemoteCodec._
    import graft.serve.RemoteWrite
    val store = freshDir("/tmp/graft_test/store_open_kinds")
    Seq(RemoteWrite.exemplarPath(store), RemoteWrite.metadataPath(store),
      RemoteWrite.histPath(store), RemoteWrite.stalePath(store)).foreach(freshDir)
    val bulk = freshDir("/tmp/graft_test/store_open_kinds_bulk")
    val rollup = freshDir("/tmp/graft_test/store_open_kinds_rollup")
    // one remote-write request lands every sibling: a sample, a stale
    // marker, an exemplar, metadata and a native histogram
    val t0 = openDay0 * 1000L
    val hist = graft.ingest.NativeHistogram.Hist(t0, 6.0, 4.5, 0, 0.001, 1.0,
      Seq((0, 2)), Seq(2L, 1L), Nil, Nil, Nil, Nil)
    val req = PromWriteRequest(Seq(
      PromTimeSeries(Seq(PromLabel("__name__", "ok"), PromLabel("k", "v")),
        Seq(PromSample(1.0, t0), PromSample(PromRemoteCodec.staleNaN, t0 + 1000L)),
        exemplars = Seq(PromExemplar(Seq(PromLabel("trace_id", "t")), 1.0, t0)),
        metadata = Some(PromMetadata(2, "Help.", ""))),
      PromTimeSeries(Seq(PromLabel("__name__", "nh"), PromLabel("k", "v")),
        Nil, histograms = Seq(hist))))
    RemoteWrite.serveCounted(spark, store, PromRemoteCodec.encodeWriteRequestV2(req),
      Some("application/x-protobuf;proto=" + PromRemoteCodec.ProtoV2))
    SamplesStore.write(openRows("b"), bulk)
    RollupStore.rollup(spark, store, rollup, 3600L)
    val kinds = Seq(store, bulk, RemoteWrite.stalePath(store), RemoteWrite.metadataPath(store),
      RemoteWrite.exemplarPath(store), RemoteWrite.histPath(store), rollup)
    kinds.foreach { path =>
      val snap = snapshotOf(path)
      assert(snap.files.nonEmpty && snap.dataSchema.isDefined, s"$path: no files or no schema")
      val inferred = spark.read.option("basePath", path)
        .parquet(snap.files.map(f => s"$path/$f"): _*)
      val before = inferences
      val opened = if (path == rollup) RollupStore.read(spark, path) else SamplesStore.read(spark, path)
      assert(inferences === before, s"$path: a warm open must not infer")
      assert(opened.schema === inferred.schema, path)
      assert(opened.count() > 0 && opened.exceptAll(inferred).isEmpty &&
        inferred.exceptAll(opened).isEmpty, path)
    }
  }

  test("a read after an append, a fold or a delete sees the new rows with no inference") {
    val path = freshDir("/tmp/graft_test/store_open_append")
    SamplesStore.append(openRows("a"), path)
    val gen0 = SamplesStore.currentGen(spark, path).get
    val before = inferences
    assert(SamplesStore.read(spark, path).count() === 3)
    SamplesStore.append(openRows("b"), path)
    assert(SamplesStore.read(spark, path).filter(col("labels")(0) === "k=b").count() === 3)
    SamplesStore.compactFragmentedDays(spark, path, maxFilesPerDay = 1, gcGraceMs = 0L)
    assert(SamplesStore.read(spark, path).count() === 6)
    SamplesStore.deleteRange(spark, path, openDay0 * 1000000L, (openDay0 + 1) * 1000000L)
    assert(SamplesStore.read(spark, path).count() === 4)
    SamplesStore.compact(spark, path)
    assert(SamplesStore.read(spark, path).count() === 4)
    // time travel to a generation that shares files with the latest
    SamplesStore.append(openRows("c"), path)
    val gen = SamplesStore.currentGen(spark, path).get
    assert(gen > gen0)
    assert(SamplesStore.readAt(spark, path, gen - 1).count() === 4)
    assert(inferences === before, "every open above had its snapshot's schema")
  }

  test("a file whose value type disagrees with the pinned schema fails the read loudly") {
    import spark.implicits._
    val path = freshDir("/tmp/graft_test/store_open_mismatch")
    SamplesStore.append(openRows("a"), path)
    // the append keeps the store's double schema; its file holds strings
    SamplesStore.append(Seq((openDay0 * 1000000L + 1L, "om", Seq("k=s"), "x"))
      .toDF("ts_us", "metric", "labels", "value"), path)
    assert(snapshotOf(path).dataSchema.map(_("value").dataType) ===
      Some(org.apache.spark.sql.types.DoubleType))
    val err = intercept[org.apache.spark.SparkException](
      SamplesStore.read(spark, path).select(col("value")).collect())
    assert(err.getMessage.contains("value"), err.getMessage)
  }

  /** Rewrite every manifest of `path` in the format from before
    * manifests carried sizes and the schema: bare `F`/`A` paths and no
    * `data-schema` line; then drop the cached snapshot. */
  private def toPreSizeManifests(path: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    manifestGens(path).foreach { g =>
      val old = manifestLines(path, g).filterNot(_.startsWith("data-schema ")).map { l =>
        if (l.startsWith("F ") || l.startsWith("A ")) l.take(2) + l.drop(2).dropWhile(_ != ' ').drop(1)
        else l
      }
      val out = fs.create(new org.apache.hadoop.fs.Path(path, f"_manifests/m-$g%020d"), true)
      try out.write(old.mkString("\n").getBytes("UTF-8")) finally out.close()
    }
    SamplesStore.invalidateSnapshotCache(path)
  }

  test("a cold open uses the manifest's schema; a pre-schema manifest infers once") {
    val path = freshDir("/tmp/graft_test/store_open_cold")
    SamplesStore.append(openRows("a"), path)
    val warm = SamplesStore.read(spark, path).schema
    SamplesStore.invalidateSnapshotCache(path)
    val before = inferences
    assert(SamplesStore.read(spark, path).schema === warm)
    assert(SamplesStore.read(spark, path).count() === 3)
    assert(inferences === before, "the manifest carries the schema: a cold open infers nothing")
    // a manifest written before the schema line infers once, then opens warm
    toPreSizeManifests(path)
    assert(SamplesStore.read(spark, path).schema === warm)
    assert(inferences === before + 1)
    assert(SamplesStore.read(spark, path).count() === 3)
    assert(inferences === before + 1, "the inferred schema must be cached for the generation")
    // the next commit writes the schema: a cold open after it infers nothing
    SamplesStore.append(openRows("b"), path)
    SamplesStore.invalidateSnapshotCache(path)
    assert(SamplesStore.read(spark, path).count() === 6)
    assert(inferences === before + 1)
  }

  test("old-format manifests read, fold and roll up unchanged, then upgrade") {
    import graft.ingest.RollupStore
    val path = freshDir("/tmp/graft_test/store_old_manifests")
    val rpath = freshDir(path + "_roll")
    // a checkpoint plus two deltas: three files in each of three days
    SamplesStore.write(openRows("a", 6), path)
    SamplesStore.append(openRows("b", 6), path)
    SamplesStore.append(openRows("c", 6), path)
    RollupStore.rollup(spark, path, rpath, 3600L)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val (storeRows, rollRows) = (rows(SamplesStore.read(spark, path)), rollupRows(rpath))
    assert(storeRows.size === 18)
    Seq(path, rpath).foreach(toPreSizeManifests)

    assert(rows(SamplesStore.read(spark, path)) === storeRows)
    assert(RollupStore.rollup(spark, path, rpath, 3600L) === 0,
      "day digests cover file names only: the upgrade rebuilds nothing")
    assert(rollupRows(rpath) === rollRows)
    assert(SamplesStore.compactFragmentedDays(spark, path, maxFilesPerDay = 1, gcGraceMs = 0L) === 3)
    assert(rows(SamplesStore.read(spark, path)) === storeRows)
    assert(RollupStore.rollup(spark, path, rpath, 3600L) === 3)
    assert(rollupRows(rpath) === rollRows)

    // each store's next commit wrote sizes and the schema
    Seq(path, rpath).foreach { p =>
      val lines = manifestLines(p, manifestGens(p).last)
      assert(lines.exists(_.startsWith("data-schema ")), s"$p: no schema line")
      val entries = lines.filter(l => l.startsWith("F ") || l.startsWith("A "))
      assert(entries.nonEmpty && entries.forall(_.split(" ", 3) match {
        case Array(_, n, f) => n.toLongOption.exists(_ > 0) && f.startsWith("date=")
        case _ => false
      }), s"$p: entries without sizes: $entries")
    }
    val before = inferences
    Seq(path, rpath).foreach(SamplesStore.invalidateSnapshotCache)
    assert(rows(SamplesStore.read(spark, path)) === storeRows)
    assert(rollupRows(rpath) === rollRows)
    assert(inferences === before, "upgraded manifests open with their schema")
  }

  test("a 100-file open lists nothing, stats nothing, runs no job, warm or cold") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val local = freshDir("/tmp/graft_test/store_fs_calls")
    SamplesStore.write((0 until 100).map(d =>
      ((openDay0 + d * 86400L) * 1000000L, "fm", Seq(s"k=$d"), d.toDouble))
      .toDF("ts_us", "metric", "labels", "value"), local)
    // the same store through a filesystem that records every call
    spark.sparkContext.hadoopConfiguration.set("fs.countfs.impl", classOf[CountingFs].getName)
    val path = "countfs://" + local
    assert(snapshotOf(path).files.size === 100)
    val day5 = openDay0 + 5 * 86400L
    def check(label: String, dataCallsOnly: Boolean)(opened: => org.apache.spark.sql.DataFrame): Unit = {
      import scala.jdk.CollectionConverters._
      val before = inferences
      CountingFs.calls.clear()
      var q: org.apache.spark.sql.DataFrame = null
      val (jobs, _) = jobsAndTasks {
        q = opened.filter(col("date") === day5).select(col("labels"))
        q.queryExecution.executedPlan; ()
      }
      // a read also resolves `_manifests` (the hint and its probes)
      val calls = CountingFs.calls.asScala.toVector
        .filterNot(c => dataCallsOnly && c._2.contains("/_manifests"))
      assert(calls.isEmpty && jobs === 0 && inferences === before,
        s"$label: calls $calls, $jobs jobs, ${inferences - before} inferences")
      assert(q.collect().map(_.getSeq[String](0)).toSeq === Seq(Seq("k=5")), label)
      val scans = (q.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }).collect { case s: FileSourceScanExec => s }
      assert(scans.map(_.metrics("numFiles").value) === Seq(1L), s"$label: date pruning")
    }
    val warm = snapshotOf(path)
    check("warm open", dataCallsOnly = false)(SamplesStore.open(spark, path, warm))
    check("warm read", dataCallsOnly = true)(SamplesStore.read(spark, path))
    SamplesStore.invalidateSnapshotCache(path)
    val cold = snapshotOf(path)
    check("cold open", dataCallsOnly = false)(SamplesStore.open(spark, path, cold))
    SamplesStore.invalidateSnapshotCache(path)
    check("cold read", dataCallsOnly = true)(SamplesStore.read(spark, path))
    assert(SamplesStore.read(spark, path).schema("date").dataType ===
      org.apache.spark.sql.types.IntegerType)
  }
}

/** The local filesystem under the `countfs` scheme, recording every
  * listing and stat call as (operation, path) — StoreSpec's probe for
  * "a store open makes no filesystem call". */
class CountingFs extends org.apache.hadoop.fs.FilterFileSystem(
    new org.apache.hadoop.fs.RawLocalFileSystem {
      override def getUri: java.net.URI = java.net.URI.create("countfs:///")
    }) {
  import org.apache.hadoop.fs.{FileStatus, LocatedFileStatus, Path, RemoteIterator}
  private def record(op: String, f: Path): Unit = { CountingFs.calls.add(op -> f.toString); () }
  override def getFileStatus(f: Path): FileStatus = { record("getFileStatus", f); super.getFileStatus(f) }
  override def listStatus(f: Path): Array[FileStatus] = { record("listStatus", f); super.listStatus(f) }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    record("listLocatedStatus", f); super.listLocatedStatus(f)
  }
}

object CountingFs {
  val calls = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
}
