package graft.ingest

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.slf4j.LoggerFactory

import graft.functions.Param

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
  * Commits go through the samples store's own manifest: a rollup
  * store IS a [[SamplesStore]] snapshot chain (staged files, ONE
  * manifest commit under the store's mutation lock, grace-window
  * expiry by [[SamplesStore.expireSnapshots]]), whose opaque header
  * lines carry the rollup's interval, row schema and per-day source
  * digests. Readers plan from the latest committed snapshot.
  */
object RollupStore {
  import SamplesStore.StoreSnapshot

  private val log = LoggerFactory.getLogger(getClass)

  /** The rollup twin of a store path (kept next to the store so the
    * pair moves together). */
  def rollupPathFor(storePath: String): String = storePath + "_rollup"

  /** The ladder (coarse) rollup twin — built FROM [[rollupPathFor]]. */
  def ladderPathFor(storePath: String): String = storePath + "_rollup_ladder"

  /** A rollup at `rollupPath` with `intervalSec` buckets, built from
    * `srcPath`: raw samples for the base level, the next finer
    * rollup for a LADDER level ([[rollupLadder]]). `coarser` chains
    * the next level; serving routes to the coarsest servable fresh
    * level — same answer, 1/ratio the rows. */
  final case class Ladder(srcPath: String, rollupPath: String,
                          intervalSec: Long,
                          coarser: Option[Ladder] = None) {

    /** The levels that `fits` a query and whose rows are current over
      * [startSec, endSec], coarsest first. Freshness composes: the
      * base needs [[freshFor]] (raw → fine), each coarser level also
      * [[freshLadder]] from the level below, so a stale coarse twin
      * falls back to the fine one and a stale fine twin to raw. Each
      * gate is checked at most once, and only when a caller reaches
      * a level that fits. */
    def servableLevels(spark: SparkSession, startSec: Long, endSec: Long)
                      (fits: Ladder => Boolean): Iterator[Ladder] = {
      val levels = Vector.unfold(Option(this))(_.map(l => (l, l.coarser)))
      lazy val fresh: LazyList[Boolean] = LazyList.range(0, levels.size).map { k =>
        if (k == 0) freshFor(spark, srcPath, rollupPath, intervalSec, startSec, endSec)
        else fresh(k - 1) && freshLadder(spark, levels(k - 1).rollupPath,
          levels(k).rollupPath, levels(k).intervalSec, startSec, endSec)
      }
      levels.indices.reverseIterator
        .filter(k => fits(levels(k)) && fresh(k)).map(levels)
    }
  }

  /** The ladder background maintenance keeps for `storePath`: the
    * fine twin when `intervalSec` > 0, chained to the coarse twin
    * when `ladderSec` is a proper multiple of it; None when rollups
    * are off. */
  def ladder(storePath: String, intervalSec: Long,
             ladderSec: Long): Option[Ladder] =
    Option.when(intervalSec > 0)(Ladder(storePath, rollupPathFor(storePath),
      intervalSec,
      Option.when(ladderSec > intervalSec && ladderSec % intervalSec == 0)(
        Ladder(rollupPathFor(storePath), ladderPathFor(storePath), ladderSec))))

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

  /** What a rollup snapshot was built as, parsed from its manifest
    * header: bucket interval, row schema (1 when the line is absent —
    * a pre-versioned store) and the source day → digest map. */
  private final case class Built(intervalSec: Long, schema: Int,
                                 dayDigests: Map[String, String])

  private def built(snap: StoreSnapshot): Built =
    snap.header.foldLeft(Built(0L, 1, Map.empty)) { (b, l) =>
      if (l.startsWith("interval ")) b.copy(intervalSec = l.stripPrefix("interval ").toLong)
      else if (l.startsWith("schema ")) b.copy(schema = l.stripPrefix("schema ").toInt)
      else if (l.startsWith("D ")) l.stripPrefix("D ").split(" ", 2) match {
        case Array(d, dig) => b.copy(dayDigests = b.dayDigests + (d -> dig))
        case _             => b
      }
      else b
    }

  private def headerOf(intervalSec: Long, dayDigests: Map[String, String]): Vector[String] =
    Vector(s"interval $intervalSec", s"schema $SchemaVersion") ++
      dayDigests.toVector.sorted.map { case (d, dig) => s"D $d $dig" }

  /** The latest committed rollup at `path` with what it was built as,
    * when it is at the current schema and (if given) at `intervalSec`. */
  private def current(spark: SparkSession, path: String,
                      intervalSec: Option[Long]): Option[(StoreSnapshot, Built)] =
    SamplesStore.latestSnapshot(fsFor(spark, path), new Path(path))
      .map(s => (s, built(s)))
      .filter { case (_, b) =>
        b.schema == SchemaVersion && intervalSec.forall(_ == b.intervalSec) }

  /** Input-size-derived shuffle width for a maintenance rebuild
    * ([[graft.Width]] at 64 MiB of source bytes, per the manifest,
    * per task, floor 1). The cap keeps a bulk rebuild at the cluster's
    * configured width; the floor lets the common one-day incremental
    * slice run narrow instead of fanning tiny row counts across every
    * configured partition (pure task-scheduling tax — measured 2× on
    * the bench's 5k-row rebuild). */
  private[graft] def scaledShuffleParts(spark: SparkSession, srcBytes: Long): Int =
    graft.Width.of(Some(srcBytes), graft.Width.MaintenanceTarget, 1,
      spark.sessionState.conf.numShufflePartitions)

  /** md5 digest of a day's sorted source-file names (not sizes) — the
    * exact invalidation key: any append/compact/delete that touches
    * the day changes its live-file set and therefore the digest. */
  private def digest(files: Seq[String]): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(files.sorted.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    d.take(8).map(b => f"$b%02x").mkString
  }

  /** The source's committed snapshot; empty for an absent source. */
  private def sourceSnapshot(spark: SparkSession, srcPath: String): StoreSnapshot =
    SamplesStore.committedSnapshot(fsFor(spark, srcPath), new Path(srcPath))
      .getOrElse(SamplesStore.NoSnapshot)

  /** The incremental pass [[rollup]] and [[rollupLadder]] share, run
    * under the rollup store's mutation lock: digest `src`'s days,
    * re-aggregate (`build` over the changed days' source rows and
    * their bytes) only those whose digest differs from the latest rollup's
    * header, and commit ONE delta on top of that latest generation —
    * adding the rebuilt files, removing the invalidated days' files
    * (every file, and the rows' schema with them, when the interval or
    * schema differs) and restating the header. Returns the days
    * re-aggregated. */
  private def refresh(spark: SparkSession, srcPath: String,
                      srcSnap: StoreSnapshot, path: String,
                      intervalSec: Long)
                     (build: (DataFrame, Long) => DataFrame): Int = {
    val fs = fsFor(spark, path)
    val root = new Path(path)
    val latest = SamplesStore.latestSnapshot(fs, root).getOrElse(SamplesStore.NoSnapshot)
    onRollupResolved()
    val prev = Some(built(latest))
      .filter(b => b.intervalSec == intervalSec && b.schema == SchemaVersion)
    val src = srcSnap.byDay
    val srcDigests = src.map { case (d, fls) => d -> digest(fls) }
    val prevDigests = prev.map(_.dayDigests).getOrElse(Map.empty)
    val changed = srcDigests.filter { case (d, dig) => !prevDigests.get(d).contains(dig) }
    val dropped = prevDigests.keySet -- srcDigests.keySet
    if (changed.isEmpty && dropped.isEmpty && prev.nonEmpty) 0
    else {
      // a rebuild's rows carry the schema; otherwise keep the rollup's own
      def kept = SamplesStore.withSchema(spark, path, latest).dataSchema
      val (moved, schema) =
        if (changed.isEmpty) (Map.empty[String, Long], kept)
        else {
          val srcSlice = srcSnap.only(changed.keys.flatMap(src(_)))
          val rows = build(SamplesStore.open(spark, srcPath, srcSlice),
            srcSlice.bytes)
          (SamplesStore.publish(fs, SamplesStore.stage(rows
            .repartition(col("date"))
            .sortWithinPartitions(col("date"), col("metric"), col("labels"), col("bucket")),
            root), root, "r-"),
            if (prev.isEmpty) Some(SamplesStore.dataSchemaOf(rows)) else kept)
        }
      val invalidated = changed.keySet ++ dropped
      val removed = latest.files.filter(f =>
        prev.isEmpty || invalidated.contains(f.takeWhile(_ != '/'))).toSet
      SamplesStore.commitDelta(fs, root, latest, moved, removed)(
        header = headerOf(intervalSec, srcDigests), dataSchema = schema)
      log.info(s"rollup($path): rebuilt ${changed.size} day(s), dropped ${dropped.size}")
      changed.size
    }
  }

  /** Test seam: runs after a rollup pass resolves its latest snapshot
    * under the mutation lock, before it stages and commits — lets
    * StoreSpec overlap two passes on one rollup store. */
  private[graft] var onRollupResolved: () => Unit = () => ()

  /** Bring `rollupPath` up to date with `srcPath` at `intervalSec`
    * buckets; returns the number of day partitions re-aggregated.
    * Cost is O(changed days) — an idle store is a pure metadata
    * no-op (one manifest read per side), an append invalidates only
    * the appended days, and the rebuild itself is ONE Spark job over
    * exactly the changed days' files. An existing rollup at a
    * different interval rebuilds fully (the interval is part of the
    * manifest, not a hidden assumption). */
  def rollup(spark: SparkSession, srcPath: String, rollupPath: String,
             intervalSec: Long = 3600L): Int = SamplesStore.locked(rollupPath) {
    require(86400L % intervalSec == 0,
      s"intervalSec=$intervalSec must divide a day: day-partitioned rebuilds depend on bucket alignment")
    val src = sourceSnapshot(spark, srcPath)
    refresh(spark, srcPath, src, rollupPath, intervalSec) { (raw, srcBytes) =>
      // ONE exchange for the whole rebuild, its width derived
      // from the CHANGED INPUT's bytes (guide §2: scale-adaptive
      // partitioning, never a constant): the common maintenance
      // slice is one appended day, which must not fan out across
      // the full configured shuffle width — while a bulk rebuild
      // at cluster scale still caps at the session's own setting.
      val parts = scaledShuffleParts(spark, srcBytes)
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
      raw
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
                   coarseIntervalSec: Long): Int = SamplesStore.locked(coarsePath) {
    require(86400L % coarseIntervalSec == 0,
      s"coarseIntervalSec=$coarseIntervalSec must divide a day")
    current(spark, finePath, None) match {
      case None => 0
      case Some((fineSnap, fine)) =>
        require(coarseIntervalSec % fine.intervalSec == 0 &&
            coarseIntervalSec > fine.intervalSec,
          s"coarse interval $coarseIntervalSec must be a proper multiple " +
            s"of the fine rollup's ${fine.intervalSec}")
        refresh(spark, finePath, fineSnap, coarsePath, coarseIntervalSec) { (fine, _) =>
          fine
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
                  endSec: Long): Boolean =
    (current(spark, finePath, None), current(spark, coarsePath, Some(coarseIntervalSec))) match {
      case (Some((f, _)), Some((_, c))) => covers(c, f.byDay, startSec, endSec)
      case _ => false
    }

  /** `b` was built from `src`'s current files for every day
    * overlapping [startSec, endSec] (endSec ≤ 0 = unbounded). */
  private def covers(b: Built, src: Map[String, Vector[String]],
                     startSec: Long, endSec: Long): Boolean =
    src.forall { case (day, files) =>
      val overlaps = day.stripPrefix("date=").toLongOption.forall(ds =>
        (endSec <= 0 || ds <= endSec) && ds + 86400 > startSec)
      !overlaps || b.dayDigests.get(day).contains(digest(files))
    }

  /** The rollup as a DataFrame — opened by [[SamplesStore.open]] from
    * the latest committed manifest (same snapshot-isolation contract
    * and known-schema open as the samples store: a concurrent
    * [[rollup]] never yanks a planned file before the GC grace).
    * Columns: date, metric, labels, bucket,
    * min_value, max_value, sum_value, n_points, the (schema v2)
    * bucket edge points t_first, t_last, v_first, v_last, the
    * (schema v3) penultimate point t_penult, v_penult (NULL on
    * single-sample buckets), and the (schema v4) exact integer
    * moments sy_e2, syy_e4. */
  def read(spark: SparkSession, path: String): DataFrame =
    SamplesStore.latestSnapshot(fsFor(spark, path), new Path(path)) match {
      case Some(snap) if snap.files.nonEmpty => SamplesStore.open(spark, path, snap)
      case _ => emptyRollup(spark)
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

  /** The grain of the literal that rides next to a parameter `bucket`
    * bound ([[graft.functions.Param.atLeast]]): a day. A query served
    * from a rollup steps by at least its interval, so an hour grain
    * would change on every shifted window; the `date` filter already
    * prunes to whole days, so the day grain costs no pruning. */
  private[graft] val BoundGrainSec = 86400L

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
    // the bucket bounds are request values, bound as Params (see
    // SeriesRead.timeBound) next to coarse pushable literals
    val spark = rollup.sparkSession
    var df = rollup.filter(Param.atLeast(spark, col("bucket"), startBucket, BoundGrainSec) &&
      col("date") >= startBucket / 86400 * 86400)
    if (q.endMs > 0)
      df = df.filter(Param.below(spark, col("bucket"), q.endMs / 1000 + 1, BoundGrainSec) &&
        col("date") <= q.endMs / 1000)
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
               intervalSec: Long, startSec: Long, endSec: Long): Boolean =
    current(spark, rollupPath, Some(intervalSec)).exists { case (_, b) =>
      covers(b, sourceSnapshot(spark, srcPath).byDay, startSec, endSec)
    }
}
