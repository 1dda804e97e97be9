package graft.ingest

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.slf4j.LoggerFactory

/** Incrementally-maintained time rollups over a [[SamplesStore]] —
  * the ClickHouse-materialized-view / Prometheus-recording-rule
  * analogue the reference leans on ClickHouse for. A rollup store
  * holds per-interval aggregates of the DEDUPED samples (per-second
  * max, exactly the read path's GROUP BY semantics), so a long-range
  * dashboard query reads bucket rows instead of raw samples — at
  * 100 TB that is the difference between scanning terabytes and
  * scanning the rollup's few gigabytes.
  *
  * Incremental contract: [[rollup]] re-aggregates ONLY the days whose
  * source file set changed since the last run. The source manifest's
  * per-day file list IS the change signal — a digest per day is
  * recorded in the rollup's own manifest, so appends, compactions,
  * and deletes each invalidate exactly the days they touched (a
  * compaction that rewrites a day's files re-aggregates that day and
  * lands on identical rollup rows — rebuild is result-invariant by
  * construction, since day partitions are bucket-aligned:
  * intervalSec divides 86400). A day that left the source snapshot
  * leaves the rollup in the same commit.
  *
  * Atomicity mirrors the samples store: rolled files stage under a
  * hidden dir, move into day partitions, and ONE manifest rename
  * publishes the new state; readers plan from the latest committed
  * manifest, and superseded files are reclaimed by [[expireRollups]]
  * after a grace window.
  */
object RollupStore {

  private val log = LoggerFactory.getLogger(getClass)
  private val ManifestDir = "_manifests"
  private val ManifestPattern = """m-(\d{20})""".r

  /** One committed rollup state: interval, day → source-digest map,
    * live data files. */
  final case class RollupSnapshot(gen: Long, intervalSec: Long,
                                  dayDigests: Map[String, String],
                                  files: Vector[String],
                                  schema: Int = 1) {
    lazy val byDay: Map[String, Vector[String]] =
      files.groupBy(f => f.takeWhile(_ != '/'))
  }

  /** Rollup ROW schema version. v2 added the per-bucket edge points
    * (t_first/v_first/t_last/v_last) that let rate/increase/delta/
    * last_over_time serve from the rollup. v3 adds the bucket's
    * SECOND-latest point (t_penult/v_penult): a window's final two
    * samples are always among the union of each bucket's last two,
    * so irate/idelta serve exactly from rollup rows too. v4 adds the
    * EXACT integer moments sy_e2/syy_e4 (per-sample e2 snap — the
    * 2-decimal store's lossless form — then integer sums), whose
    * associativity is what makes rollup-re-aggregated
    * stddev/stdvar_over_time byte-equal to the raw path. v5 adds the
    * ARGMAX TIMESTAMPS t_vmax/t_vmin (the bucket's latest sample
    * holding its max/min value — value ties resolve to the latest,
    * Prometheus's ts_of_max_over_time `>=` scan order), which let
    * ts_of_max/min/last_over_time serve from rollup rows: a window's
    * argmax is the argmax over buckets of (bucket extremum, its
    * timestamp), a pure comparison on the same deduped doubles the
    * raw path compares — exact, not approximate. v6 widens syy_e4
    * to DECIMAL(38,0): a single square fits BIGINT (v_e2² ≤ 1e18)
    * but a bucket's sum of squares could wrap int64 after ~9
    * extreme-magnitude samples — the decimal sum stays exact
    * integer arithmetic with 1e38 of headroom. A
    * previous-version store (no/lower `schema` manifest line) is
    * treated as absent by [[rollup]] — the next maintenance pass
    * rebuilds it in full — and stale by [[freshFor]], so serving
    * self-heals onto raw scans until the rebuild lands;
    * mixed-schema data files are never planned together. */
  val SchemaVersion = 6

  private def fsFor(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestFile(root: Path, gen: Long): Path =
    new Path(new Path(root, ManifestDir), f"m-$gen%020d")

  /** In-process mutation serialization (one maintenance job per store
    * path is the intended deployment; a cross-process double-run is
    * safe — the generation rename arbitrates, last committer wins a
    * complete, self-consistent state). */
  private val locks = scala.collection.concurrent.TrieMap.empty[String, Object]
  private def locked[T](path: String)(f: => T): T =
    locks.getOrElseUpdate(new Path(path).toString, new Object).synchronized(f)

  /** Parsed rollup manifests by store, keyed to their generation —
    * same immutability argument as the samples-store snapshot cache:
    * a generation's content never changes after its rename, so the
    * cache is only ever stale, and staleness is caught by the one
    * listing every call does. Keeps the per-request freshness gate
    * on the read path at one listing instead of a manifest parse. */
  private val rollupCache = scala.collection.concurrent.TrieMap.empty[String, RollupSnapshot]

  private[graft] def latestRollup(fs: FileSystem, root: Path): Option[RollupSnapshot] = {
    val dir = new Path(root, ManifestDir)
    val gens =
      try fs.listStatus(dir).map(_.getPath.getName)
        .collect { case ManifestPattern(g) => g.toLong }
      catch { case _: java.io.FileNotFoundException => Array.empty[Long] }
    if (gens.isEmpty) { rollupCache.remove(root.toString); None }
    else {
      val gen = gens.max
      rollupCache.get(root.toString).filter(_.gen == gen).orElse {
        val snap = readManifest(fs, root, gen)
        rollupCache.put(root.toString, snap)
        Some(snap)
      }
    }
  }

  private def readManifest(fs: FileSystem, root: Path, gen: Long): RollupSnapshot = {
    val in = fs.open(manifestFile(root, gen))
    try {
      var interval = 0L
      val days = Map.newBuilder[String, String]
      val files = Vector.newBuilder[String]
      var schema = 1
      scala.io.Source.fromInputStream(in, "UTF-8").getLines().foreach { l =>
        if (l.startsWith("interval ")) interval = l.stripPrefix("interval ").toLong
        else if (l.startsWith("schema ")) schema = l.stripPrefix("schema ").toInt
        else if (l.startsWith("D ")) l.stripPrefix("D ").split(" ", 2) match {
          case Array(d, dig) => days += d -> dig
          case _             =>
        }
        else if (l.startsWith("F ")) files += l.stripPrefix("F ")
      }
      RollupSnapshot(gen, interval, days.result(), files.result(), schema)
    } finally in.close()
  }

  private def commitManifest(fs: FileSystem, root: Path, intervalSec: Long,
                             dayDigests: Map[String, String],
                             files: Seq[String], prevGen: Long): RollupSnapshot = {
    val dir = new Path(root, ManifestDir)
    fs.mkdirs(dir)
    val sorted = files.toVector.sorted
    val content = (Vector("graft-rollup v1", s"interval $intervalSec",
      s"schema $SchemaVersion") ++
      dayDigests.toVector.sorted.map { case (d, dig) => s"D $d $dig" } ++
      sorted.map("F " + _)).mkString("\n")
    // prevGen comes from the FILTERED snapshot (an interval or schema
    // change reads as None → 0); committing below the live on-disk
    // max would shadow this manifest behind the stale one forever.
    // Anchor at the real max so the new state always WINS the
    // gens.max resolution.
    val onDisk =
      try fs.listStatus(dir).map(_.getPath.getName)
        .collect { case ManifestPattern(g) => g.toLong }
      catch { case _: java.io.FileNotFoundException => Array.empty[Long] }
    var gen = math.max(prevGen, if (onDisk.isEmpty) 0L else onDisk.max) + 1
    var done = false
    while (!done) {
      val tmp = new Path(dir, s".tmp-$gen-${java.util.UUID.randomUUID()}")
      val out = fs.create(tmp, true)
      out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out.close()
      if (fs.rename(tmp, manifestFile(root, gen))) done = true
      else { fs.delete(tmp, false); gen += 1 }
    }
    val snap = RollupSnapshot(gen, intervalSec, dayDigests, sorted,
      SchemaVersion)
    rollupCache.put(root.toString, snap)
    snap
  }

  /** Input-size-derived shuffle width for a maintenance rebuild
    * ([[graft.Width]] at 64 MiB of source files per task, floor 1).
    * The cap keeps a bulk rebuild at the cluster's configured width;
    * the floor lets the common one-day incremental slice run narrow
    * instead of fanning tiny row counts across every configured
    * partition (pure task-scheduling tax — measured 2× on the bench's
    * 5k-row rebuild). */
  private[graft] def scaledShuffleParts(spark: SparkSession, root: Path,
                                        files: Seq[String]): Int =
    graft.Width.of(
      graft.Width.dataBytes(spark.sparkContext.hadoopConfiguration,
        files.map(new Path(root, _))),
      graft.Width.MaintenanceTarget, 1, spark.sessionState.conf.numShufflePartitions)

  /** md5 digest of a day's sorted source-file list — the exact
    * invalidation key: any append/compact/delete that touches the
    * day changes its live-file set and therefore the digest. */
  private def digest(files: Seq[String]): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(files.sorted.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    d.take(8).map(b => f"$b%02x").mkString
  }

  /** The source's day → live-files map: manifest-backed when the
    * store has one (any [[SamplesStore]] mutation commits one), else
    * a plain directory listing (a parquet tree built by other
    * tools). */
  private def sourceDays(fs: FileSystem, srcRoot: Path): Map[String, Vector[String]] =
    SamplesStore.latestSnapshot(fs, srcRoot) match {
      case Some(snap) => snap.byDay
      case None =>
        if (!fs.exists(srcRoot)) Map.empty
        else fs.listStatus(srcRoot)
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("date="))
          .map { day =>
            day.getPath.getName -> fs.listStatus(day.getPath)
              .filter(_.getPath.getName.endsWith(".parquet"))
              .map(f => day.getPath.getName + "/" + f.getPath.getName)
              .toVector.sorted
          }.toMap
    }

  /** Bring `rollupPath` up to date with `srcPath` at `intervalSec`
    * buckets; returns the number of day partitions re-aggregated.
    * Cost is O(changed days) — an idle store is a pure metadata
    * no-op (one manifest read per side), an append invalidates only
    * the appended days, and the rebuild itself is ONE Spark job over
    * exactly the changed days' files. An existing rollup at a
    * different interval rebuilds fully (the interval is part of the
    * manifest, not a hidden assumption). */
  def rollup(spark: SparkSession, srcPath: String, rollupPath: String,
             intervalSec: Long = 3600L): Int = locked(rollupPath) {
    require(86400L % intervalSec == 0,
      s"intervalSec=$intervalSec must divide a day: day-partitioned rebuilds depend on bucket alignment")
    val fs = fsFor(spark, rollupPath)
    val srcFs = fsFor(spark, srcPath)
    val root = new Path(rollupPath)
    val src = sourceDays(srcFs, new Path(srcPath))
    val srcDigests = src.map { case (d, fls) => d -> digest(fls) }
    val prev = latestRollup(fs, root)
      .filter(s => s.intervalSec == intervalSec && s.schema == SchemaVersion)
    val prevDigests = prev.map(_.dayDigests).getOrElse(Map.empty)
    val changed = srcDigests.filter { case (d, dig) => !prevDigests.get(d).contains(dig) }
    val dropped = prevDigests.keySet -- srcDigests.keySet
    if (changed.isEmpty && dropped.isEmpty && prev.nonEmpty) 0
    else {
      val srcRoot = new Path(srcPath)
      val moved =
        if (changed.isEmpty) Vector.empty[String]
        else {
          val srcFiles = changed.keys.toSeq.flatMap(src(_))
          val paths = srcFiles.map(f => new Path(srcRoot, f).toString)
          val raw = spark.read.option("basePath", srcPath).parquet(paths: _*)
          // ONE exchange for the whole rebuild, its width derived
          // from the CHANGED INPUT's bytes (guide §2: scale-adaptive
          // partitioning, never a constant): the common maintenance
          // slice is one appended day, which must not fan out across
          // the full configured shuffle width — while a bulk rebuild
          // at cluster scale still caps at the session's own setting.
          val parts = scaledShuffleParts(spark, srcRoot, srcFiles)
          // Per-second dedup (the read path's GROUP BY max) computed
          // ON the bucket-keyed partitioning instead of its own
          // t_sec-keyed exchange: within (date, metric, labels,
          // bucket) sorted by (t_sec, v), the LAST row of each t_sec
          // run IS the per-second max — a lead() probe keeps exactly
          // that row. The rank-from-newest (_rk, for the penultimate
          // point) is the running count of kept rows from the current
          // row to the partition end — same partition+order spec, so
          // no second sort and no second exchange; the bucket
          // aggregate then reuses the same clustering. Net plan:
          // Exchange → Sort → Window → Filter → HashAggregate, where
          // the previous shape paid an extra full exchange+aggregate
          // of the raw rows (t_sec groupBy) before the window's.
          val bucketKeys = Seq(col("date"), col("metric"), col("labels"),
            col("bucket"))
          val wAsc = org.apache.spark.sql.expressions.Window
            .partitionBy(bucketKeys: _*)
            .orderBy(col("t_sec").asc, col("value").asc)
          val rolled = raw
            .withColumn("t_sec", expr("ts_us DIV 1000000"))
            .withColumn("bucket", expr(s"t_sec DIV $intervalSec * $intervalSec"))
            .repartition(parts, bucketKeys: _*)
            .withColumn("_nt", lead(col("t_sec"), 1).over(wAsc))
            .withColumn("_kept",
              when(col("_nt").isNull || col("_nt") =!= col("t_sec"), 1L)
                .otherwise(0L))
            .withColumn("_rk", sum(col("_kept")).over(
              wAsc.rowsBetween(org.apache.spark.sql.expressions.Window.currentRow,
                org.apache.spark.sql.expressions.Window.unboundedFollowing)))
            .filter(col("_kept") === 1L)
            .withColumn("v", col("value"))
            .groupBy(col("date"), col("metric"), col("labels"), col("bucket"))
            // schema v2: the bucket's EDGE points ride along so
            // rate/increase/delta/last_over_time re-aggregate exactly
            // (window first = earliest bucket's first, last = latest
            // bucket's last — the raw path's very samples); schema
            // v3: the penultimate point joins them for irate/idelta
            // (_rk==2 matches at most one row, so the two max(when)s
            // read the SAME row — never torn)
            .agg(min(col("v")).as("min_value"), max(col("v")).as("max_value"),
                 sum(col("v")).as("sum_value"), count(lit(1)).as("n_points"),
                 min(col("t_sec")).as("t_first"), max(col("t_sec")).as("t_last"),
                 min_by(col("v"), col("t_sec")).as("v_first"),
                 max_by(col("v"), col("t_sec")).as("v_last"),
                 max(when(col("_rk") === 2, col("t_sec"))).as("t_penult"),
                 max(when(col("_rk") === 2, col("v"))).as("v_penult"),
                 // schema v4: exact integer moments (per-sample e2
                 // snap then integer sums — associative, so window
                 // re-aggregation reproduces the raw moments exactly).
                 // The square fits BIGINT but its sum can wrap (v6),
                 // so syy_e4 sums in DECIMAL(38,0) — still exact
                 sum(expr("CAST(floor(v * 100 + 0.5) AS BIGINT)")).as("sy_e2"),
                 sum(expr("CAST(CAST(floor(v * 100 + 0.5) AS BIGINT) * " +
                   "CAST(floor(v * 100 + 0.5) AS BIGINT) AS DECIMAL(38,0))"))
                   .as("syy_e4"),
                 // schema v5: argmax timestamps (value ties → the
                 // LATEST sample — lexicographic (v, t) / (-v, t)
                 // max, the raw path's very rule)
                 expr("max_by(t_sec, struct(v, t_sec))").as("t_vmax"),
                 expr("max_by(t_sec, struct(-v, t_sec))").as("t_vmin"))
          SamplesStore.publish(fs, SamplesStore.stage(rolled
            .repartition(col("date"))
            .sortWithinPartitions(col("date"), col("metric"), col("labels"), col("bucket")),
            root), root, "r-")
        }
      val invalidated = changed.keySet ++ dropped
      val keptFiles = prev.map(_.files).getOrElse(Vector.empty)
        .filterNot(f => invalidated.contains(f.takeWhile(_ != '/')))
      commitManifest(fs, root, intervalSec, srcDigests,
        keptFiles ++ moved, prev.map(_.gen).getOrElse(0L))
      log.info(s"rollup($rollupPath): rebuilt ${changed.size} day(s), dropped ${dropped.size}")
      changed.size
    }
  }

  /** Bring a COARSE rollup up to date from a FINE one — the
    * multi-resolution downsampling ladder. Every v6 field
    * re-aggregates EXACTLY from fine buckets (the schema was chosen
    * for associativity): min/max/sum/n and the integer moments are
    * plain folds; the edge points pick by time; the argmax
    * timestamps pick by (extremum, time) — the raw path's own
    * tie rule; and the coarse bucket's SECOND-newest sample is
    * always among each fine bucket's last two, so a bounded
    * (≤ 2·ratio element) candidate sort recovers it. Building 1 h
    * buckets from 5 m rows costs 1/interval-ratio of the raw scan —
    * the lever that makes a deep retention ladder affordable at
    * 100 TB, where re-reading raw samples for every resolution is
    * the classic downsampling bill.
    *
    * Incrementality mirrors [[rollup]]: the source "days" are the
    * FINE MANIFEST's per-day live-file lists (never a physical
    * listing — superseded fine files would double-count), digested
    * into the coarse manifest; a fine day rebuilt by maintenance
    * invalidates exactly that coarse day. [[freshLadder]] is the
    * serving gate's twin (manifest-digest comparison, same
    * check-then-act safety as [[freshFor]]). Returns days
    * re-aggregated; 0 when the fine rollup is absent, stale-schema,
    * or nothing changed. */
  def rollupLadder(spark: SparkSession, finePath: String, coarsePath: String,
                   coarseIntervalSec: Long): Int = locked(coarsePath) {
    require(86400L % coarseIntervalSec == 0,
      s"coarseIntervalSec=$coarseIntervalSec must divide a day")
    val fineFs = fsFor(spark, finePath)
    val fineRoot = new Path(finePath)
    latestRollup(fineFs, fineRoot)
      .filter(_.schema == SchemaVersion) match {
      case None => 0
      case Some(fineSnap) =>
        require(coarseIntervalSec % fineSnap.intervalSec == 0 &&
            coarseIntervalSec > fineSnap.intervalSec,
          s"coarse interval $coarseIntervalSec must be a proper multiple " +
            s"of the fine rollup's ${fineSnap.intervalSec}")
        val fs = fsFor(spark, coarsePath)
        val root = new Path(coarsePath)
        val srcByDay = fineSnap.byDay
        val srcDigests = srcByDay.map { case (d, fls) => d -> digest(fls) }
        val prev = latestRollup(fs, root)
          .filter(s => s.intervalSec == coarseIntervalSec &&
            s.schema == SchemaVersion)
        val prevDigests = prev.map(_.dayDigests).getOrElse(Map.empty)
        val changed = srcDigests.filter { case (d, dig) =>
          !prevDigests.get(d).contains(dig) }
        val dropped = prevDigests.keySet -- srcDigests.keySet
        if (changed.isEmpty && dropped.isEmpty && prev.nonEmpty) 0
        else {
          val moved =
            if (changed.isEmpty) Vector.empty[String]
            else {
              val paths = changed.keys.toSeq.flatMap(srcByDay(_))
                .map(f => new Path(fineRoot, f).toString)
              val fine = spark.read.option("basePath", finePath)
                .parquet(paths: _*)
              val rolled = fine
                .withColumn("cbucket",
                  expr(s"bucket DIV $coarseIntervalSec * $coarseIntervalSec"))
                .groupBy(col("date"), col("metric"), col("labels"),
                  col("cbucket").as("bucket"))
                .agg(
                  min(col("min_value")).as("min_value"),
                  max(col("max_value")).as("max_value"),
                  sum(col("sum_value")).as("sum_value"),
                  sum(col("n_points")).as("n_points"),
                  min(col("t_first")).as("t_first"),
                  max(col("t_last")).as("t_last"),
                  expr("min_by(v_first, t_first)").as("v_first"),
                  expr("max_by(v_last, t_last)").as("v_last"),
                  // the coarse penult is the 2nd-newest SAMPLE:
                  // candidates = each fine bucket's last two (the
                  // per-second dedup makes times unique per series,
                  // so a time-desc sort's second element IS it);
                  // bounded by 2·(interval ratio) elements
                  expr("""
                    array_sort(
                      filter(
                        flatten(collect_list(array(
                          struct(t_last AS t, v_last AS v),
                          struct(t_penult AS t, v_penult AS v)))),
                        x -> x.t IS NOT NULL),
                      (a, b) -> CASE WHEN a.t > b.t THEN -1
                                     WHEN a.t < b.t THEN 1 ELSE 0 END)
                  """).as("_cand"),
                  sum(col("sy_e2")).as("sy_e2"),
                  sum(col("syy_e4")).as("syy_e4"),
                  expr("max_by(t_vmax, struct(max_value, t_vmax))").as("t_vmax"),
                  expr("max_by(t_vmin, struct(-min_value, t_vmin))").as("t_vmin"))
                .withColumn("t_penult", expr("get(_cand, 1).t"))
                .withColumn("v_penult", expr("get(_cand, 1).v"))
                .drop("_cand")
              SamplesStore.publish(fs, SamplesStore.stage(rolled
                .repartition(col("date"))
                .sortWithinPartitions(col("date"), col("metric"),
                  col("labels"), col("bucket")),
                root), root, "r-")
            }
          val invalidated = changed.keySet ++ dropped
          val keptFiles = prev.map(_.files).getOrElse(Vector.empty)
            .filterNot(f => invalidated.contains(f.takeWhile(_ != '/')))
          commitManifest(fs, root, coarseIntervalSec, srcDigests,
            keptFiles ++ moved, prev.map(_.gen).getOrElse(0L))
          log.info(s"rollupLadder($coarsePath): rebuilt ${changed.size} day(s), " +
            s"dropped ${dropped.size}")
          changed.size
        }
    }
  }

  /** [[freshFor]]'s ladder twin: the coarse rollup provably reflects
    * the fine one for every day overlapping [startSec, endSec] —
    * digest comparison against the FINE MANIFEST's live-file lists,
    * metadata-only. End-to-end exactness for serving composes:
    * freshFor(raw→fine) && freshLadder(fine→coarse). */
  def freshLadder(spark: SparkSession, finePath: String, coarsePath: String,
                  coarseIntervalSec: Long, startSec: Long,
                  endSec: Long): Boolean = {
    val fineSnap = latestRollup(fsFor(spark, finePath), new Path(finePath))
      .filter(_.schema == SchemaVersion)
    val coarseSnap = latestRollup(fsFor(spark, coarsePath), new Path(coarsePath))
      .filter(s => s.intervalSec == coarseIntervalSec &&
        s.schema == SchemaVersion)
    (fineSnap, coarseSnap) match {
      case (Some(f), Some(c)) =>
        f.byDay.forall { case (day, files) =>
          val overlaps = day.stripPrefix("date=").toLongOption.forall(ds =>
            (endSec <= 0 || ds <= endSec) && ds + 86400 > startSec)
          !overlaps || c.dayDigests.get(day).contains(digest(files))
        }
      case _ => false
    }
  }

  /** The rollup as a DataFrame — planned from the latest committed
    * manifest (same snapshot-isolation contract as the samples
    * store: a concurrent [[rollup]] never yanks a planned file before
    * the GC grace). Columns: date, metric, labels, bucket,
    * min_value, max_value, sum_value, n_points, the (schema v2)
    * bucket edge points t_first, t_last, v_first, v_last, the
    * (schema v3) penultimate point t_penult, v_penult (NULL on
    * single-sample buckets), and the (schema v4) exact integer
    * moments sy_e2, syy_e4. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val fs = fsFor(spark, path)
    latestRollup(fs, new Path(path)) match {
      case Some(snap) if snap.files.nonEmpty =>
        spark.read.option("basePath", path)
          .parquet(snap.files.map(f => new Path(new Path(path), f).toString): _*)
      case _ => emptyRollup(spark)
    }
  }

  private def emptyRollup(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("metric", StringType), StructField("labels", ArrayType(StringType)),
        StructField("bucket", LongType), StructField("min_value", DoubleType),
        StructField("max_value", DoubleType), StructField("sum_value", DoubleType),
        StructField("n_points", LongType),
        StructField("t_first", LongType), StructField("t_last", LongType),
        StructField("v_first", DoubleType), StructField("v_last", DoubleType),
        StructField("t_penult", LongType), StructField("v_penult", DoubleType),
        StructField("sy_e2", LongType),
        StructField("syy_e4", DecimalType(38, 0)),
        StructField("t_vmax", LongType), StructField("t_vmin", LongType),
        StructField("date", IntegerType))))
  }

  /** Serve a read-path query from the rollup: matchers compile over
    * the same (metric, labels) columns, time bounds prune on the
    * bucket (and the `date` partition), and a coarser hint interval
    * re-buckets with max — exactly [[graft.operators.SeriesRead]]'s
    * GROUP BY shape, O(rollup rows) instead of O(raw samples).
    * Requires the query interval to be a multiple of the rollup's;
    * the caller routes (raw store for fine intervals, rollup for
    * coarse) — see StoreSpec's routing case. */
  def selectKeyed(rollup: DataFrame, q: graft.operators.ReadQuery,
                  queryIntervalSec: Long,
                  rollupIntervalSec: Long = 3600L,
                  ignoreLabel: Option[String] = Some("remote=clickhouse")): DataFrame = {
    require(queryIntervalSec % rollupIntervalSec == 0 && queryIntervalSec > 0,
      s"query interval $queryIntervalSec must be a positive multiple of rollup interval $rollupIntervalSec")
    val startBucket = q.startMs / 1000 / rollupIntervalSec * rollupIntervalSec
    // the redundant date bounds are what PRUNE DAY PARTITIONS at the
    // scan (the bucket bounds alone only prune row groups inside
    // already-opened files) — on a multi-year rollup the query lists
    // exactly its days, like the raw store's read path
    var df = rollup.filter(col("bucket") >= startBucket &&
      col("date") >= startBucket / 86400 * 86400)
    if (q.endMs > 0)
      df = df.filter(col("bucket") <= q.endMs / 1000 && col("date") <= q.endMs / 1000)
    df.filter(graft.operators.Matchers.compile(q.matchers, ignoreLabel))
      .withColumn("t_sec", expr(s"bucket DIV $queryIntervalSec * $queryIntervalSec"))
      .groupBy(col("metric"), col("labels"), col("t_sec"))
      .agg(max(col("max_value")).as("max_value"))
  }

  /** True when the latest rollup manifest matches `intervalSec` AND
    * every source day overlapping [startSec, endSec] (endSec ≤ 0 =
    * unbounded) carries an up-to-date digest — the exactness gate
    * that lets the read path serve a coarse query from the rollup:
    * fresh means the rollup answer IS the raw answer, not an
    * approximation of it. Metadata-only (one cached manifest read
    * per side), so the serving path can ask per request.
    *
    * The gate-then-[[read]] sequence on the serving path is
    * check-then-act, and that is SAFE, not racy: the rollup read
    * plans its own committed manifest, so a source mutation landing
    * between the gate and the read cannot tear the result — the
    * query serves the complete pre-mutation snapshot, which is the
    * serializable outcome where the read ordered before the write.
    * Prometheus remote-read makes no read-your-own-write promise
    * across concurrent requests, and the raced write becomes visible
    * the moment the next maintenance pass re-digests its day (until
    * then this gate routes queries over that day back to raw). */
  def freshFor(spark: SparkSession, srcPath: String, rollupPath: String,
               intervalSec: Long, startSec: Long, endSec: Long): Boolean = {
    val fs = fsFor(spark, rollupPath)
    latestRollup(fs, new Path(rollupPath)) match {
      case Some(r) if r.intervalSec == intervalSec &&
                      r.schema == SchemaVersion =>
        val src = sourceDays(fsFor(spark, srcPath), new Path(srcPath))
        src.forall { case (day, files) =>
          val overlaps = day.stripPrefix("date=").toLongOption.forall(ds =>
            (endSec <= 0 || ds <= endSec) && ds + 86400 > startSec)
          !overlaps || r.dayDigests.get(day).contains(digest(files))
        }
      case _ => false
    }
  }

  /** Grace-window GC for superseded rollup files — keep the latest
    * manifest plus any younger than `graceMs`, then delete data
    * files nothing retained references (and stale staging). The
    * [[SamplesStore.expireSnapshots]] twin. */
  def expireRollups(spark: SparkSession, path: String,
                    graceMs: Long = SamplesStore.GcGraceMs): Int = locked(path) {
    val fs = fsFor(spark, path)
    val root = new Path(path)
    latestRollup(fs, root) match {
      case None => 0
      case Some(latest) =>
        val cutoff = System.currentTimeMillis() - graceMs
        val mdir = new Path(root, ManifestDir)
        val (kept, droppedM) = fs.listStatus(mdir)
          .flatMap(s => s.getPath.getName match {
            case ManifestPattern(g) => Some((g.toLong, s))
            case _                  => None
          })
          .partition { case (g, s) => g == latest.gen || s.getModificationTime > cutoff }
        droppedM.foreach { case (_, s) => fs.delete(s.getPath, false) }
        val referenced = kept.flatMap { case (g, _) => readManifest(fs, root, g).files }.toSet
        SamplesStore.sweep(fs, root,
          fs.listStatus(root).filter(_.isDirectory).map(_.getPath.getName),
          referenced, cutoff)
    }
  }
}
