package graft

import org.apache.spark.sql.functions._

import graft.ingest.StreamIngest
import graft.llm.Dedup
import graft.sources.Tables

/** Structured Streaming ingestion invariants, sf0.001. */
class StreamSpec extends SparkSpecBase {

  /** Plant crawl files with ascending mtimes — the move-and-stamp
    * dance every crawl-stream fixture here shares. */
  private def plantCrawls(src: String,
                          crawls: Seq[Seq[(Long, String)]]): Unit = {
    import spark.implicits._
    val t0 = System.currentTimeMillis()
    crawls.zipWithIndex.foreach { case (docs, k) =>
      val tmp = s"${src}_tmp$k"
      docs.toDF("doc_id", "text")
        .select(col("doc_id"), col("text"), lit(k).cast("int").as("crawl"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(src, s"crawl$k.parquet")
      dst.getParentFile.mkdirs()
      java.nio.file.Files.move(part.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      dst.setLastModified(t0 + k * 60000L)
      new java.io.File(tmp).listFiles().foreach(_.delete())
      new java.io.File(tmp).delete()
    }
  }

  test("stateful streaming dedup drops a full replay of the input") {
    val src = "/tmp/graft_test/stream_dedup_src"
    val events = Tables.eventsNorm(spark, Sf)
    events.write.mode("overwrite").parquet(src)
    events.write.mode("append").parquet(src) // the at-least-once replay
    val out = StreamIngest.runDedupToMemory(spark, src, "spec_stream_dedup")
    val expected = events
      .groupBy(col("event_type").as("metric"))
      .agg(count(lit(1)).as("n_samples"), round(sum(col("value")), 6).as("sum_value"))
    assert(out.exceptAll(expected).count() == 0 && expected.exceptAll(out).count() == 0,
      "deduped replayed stream must equal a single copy of events")
  }

  test("streaming minhash dedup: first crawl wins, state remembers dropped copies") {
    val base = "/tmp/graft_test/stream_mh"
    val src = s"$base/src"
    def rmrf(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles().foreach(rmrf); p.delete(); ()
    }
    rmrf(new java.io.File(base))
    val dup = "alpha beta gamma delta epsilon zeta eta theta"
    val crawls = Seq(
      // crawl 0: a within-crawl duplicate pair — BOTH keep
      Seq((1L, dup), (2L, dup)),
      // crawl 1: a copy of crawl 0's text drops; a unique doc keeps
      Seq((3L, dup), (4L, "one completely unrelated document body here")),
      // crawl 2: another copy still drops, even though crawl 1's
      // copy was itself dropped (its keys entered the state anyway)
      Seq((5L, dup)))
    plantCrawls(src, crawls)
    val out = Dedup.streamIncrementalKeep(spark, src, s"$base/dd")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    assert(out === Map(
      1L -> ((0, 1)), 2L -> ((0, 1)),
      3L -> ((1, 0)), 4L -> ((1, 1)),
      5L -> ((2, 0))))
  }

  test("streaming line dedup: df accumulates across crawls, own batch counts") {
    val base = "/tmp/graft_test/stream_lines"
    val src = s"$base/src"
    def rmrf(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles().foreach(rmrf); p.delete(); ()
    }
    rmrf(new java.io.File(base))
    def m(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val crawls = Seq(
      // crawl 0: banner df 2 (< 3 → everyone keeps it); promo df 3
      // WITHIN the batch → scrubbed immediately (own batch counts)
      Seq((1L, "banner\nalpha"), (2L, "banner\nbeta"),
        (6L, "promo\nu6"), (7L, "promo\nu7"), (8L, "promo\nu8")),
      // crawl 1: banner's cumulative df reaches 3 → scrubbed from
      // HERE ON; crawl 0's docs already shipped with it
      Seq((3L, "banner\ngamma")),
      // crawl 2: an all-boilerplate doc (null md5) and an untouched one
      Seq((4L, "banner"), (5L, "delta")))
    plantCrawls(src, crawls)
    val out = Dedup.streamLineDedup(spark, src, s"$base/dd")
      .collect().map(r => (r.getLong(0),
        (r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4),
          if (r.isNullAt(5)) null else r.getString(5)))).toMap
    assert(out === Map(
      1L -> ((0, 2L, 2L, 1000000L, m("banner\nalpha"))),
      2L -> ((0, 2L, 2L, 1000000L, m("banner\nbeta"))),
      6L -> ((0, 2L, 1L, 500000L, m("u6"))),
      7L -> ((0, 2L, 1L, 500000L, m("u7"))),
      8L -> ((0, 2L, 1L, 500000L, m("u8"))),
      3L -> ((1, 2L, 1L, 500000L, m("gamma"))),
      4L -> ((2, 1L, 0L, 0L, null)),
      5L -> ((2, 1L, 1L, 1000000L, m("delta")))))
  }

  test("streaming line dedup over ONE crawl equals batch lineDedup") {
    val base = "/tmp/graft_test/stream_lines_eq"
    def rmrf(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles().foreach(rmrf); p.delete(); ()
    }
    rmrf(new java.io.File(base))
    val docs = Tables.documents(spark, Sf).filter(col("doc_id") < 60)
      .withColumn("text", concat_ws("\n",
        when(col("doc_id") % 2 === 0, lit("shared banner line")),
        col("text")))
    docs.select(col("doc_id"), col("text"), lit(0).cast("int").as("crawl"))
      .coalesce(1).write.parquet(s"$base/src")
    val streamed = Dedup.streamLineDedup(spark, s"$base/src", s"$base/dd")
      .drop("crawl")
    val batch = Dedup.lineDedup(docs)
    assert(streamed.exceptAll(batch).count() === 0 &&
      batch.exceptAll(streamed).count() === 0,
      "one-crawl stream must equal the batch pass")
  }

  test("line-df state max-fold never double-counts crash-left duplicates") {
    import spark.implicits._
    val dir = "/tmp/graft_test/stream_lines_crash/state"
    def rmrf(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles().foreach(rmrf); p.delete(); ()
    }
    rmrf(new java.io.File(dir).getParentFile)
    // 9 appended files; the same (line, batch, df) rows appear in
    // SEVERAL of them — the exact shape a crash between a fold's
    // rename and its source delete (or a replayed micro-batch)
    // leaves behind. The fold under test is the PRODUCTION one.
    (0 until 9).foreach { i =>
      Seq(("banner", (i % 3).toLong, 5L), ("banner", ((i + 1) % 3).toLong, 5L))
        .toDF("line", "batch", "dfk")
        .coalesce(1).write.mode("append").parquet(dir)
    }
    Dedup.compactState(spark, dir, Dedup.lineDfFold)
    val folded = spark.read.parquet(dir)
    // duplicates collapse by max, never sum: banner's total df over
    // all batches is exactly 3 × 5, not 18 × 5
    val df = Dedup.lineDfFold(folded).groupBy(col("line"))
      .agg(sum(col("dfk")).as("df")).collect()
    assert(df.map(r => (r.getString(0), r.getLong(1))).toSeq === Seq(("banner", 15L)))
    val files = new java.io.File(dir).listFiles()
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(files < 9, "fold must reduce the file count")
  }

  test("dedup state compaction bounds the file count and preserves keys") {
    import spark.implicits._
    val dir = "/tmp/graft_test/stream_compact/state"
    def rmrf(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles().foreach(rmrf); p.delete(); ()
    }
    rmrf(new java.io.File(dir).getParentFile)
    def stateFiles(): Int = new java.io.File(dir).listFiles()
      .count(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
    def keys(): Set[Long] = spark.read.parquet(dir)
      .select("band_sig").collect().map(_.getLong(0)).toSet
    // simulate a long stream: one small append per micro-batch,
    // folding after each like streamIncrementalKeep does
    var maxFiles = 0
    (0 until 40).foreach { i =>
      Seq((i.toLong * 2, 0), (i.toLong * 2 + 1, 0))
        .toDF("band_sig", "band").coalesce(1)
        .write.mode("append").parquet(dir)
      Dedup.compactState(spark, dir)
      maxFiles = math.max(maxFiles, stateFiles())
    }
    // bounded: never more than threshold + the fold's own output —
    // NOT O(batches) (40 appends would otherwise leave 40 files)
    assert(maxFiles <= Dedup.StateCompactFiles + 2,
      s"file count must stay bounded, saw $maxFiles")
    // lossless: every appended key still present exactly once
    assert(keys() === (0L until 80L).toSet)
    assert(spark.read.parquet(dir).count() === 80L)
    // duplicate keys across files collapse on the next fold
    (0 until Dedup.StateCompactFiles).foreach { _ =>
      Seq((0L, 0), (1L, 0)).toDF("band_sig", "band").coalesce(1)
        .write.mode("append").parquet(dir)
    }
    Dedup.compactState(spark, dir)
    assert(keys() === (0L until 80L).toSet)
    assert(spark.read.parquet(dir).filter(col("band_sig") === 0L).count()
      <= 2L, "cross-file duplicates fold away (at most base + merged)")
  }

  test("streaming minhash dedup folds its state and stays correct past the threshold") {
    import spark.implicits._
    val base = "/tmp/graft_test/stream_mh_fold"
    val src = s"$base/src"
    def rmrf(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles().foreach(rmrf); p.delete(); ()
    }
    rmrf(new java.io.File(base))
    val dup = "alpha beta gamma delta epsilon zeta eta theta"
    val t0 = System.currentTimeMillis()
    // 12 crawls of the same text: crawl 0 keeps, all later copies
    // drop — and 12 batches of appends cross the fold threshold, so
    // compaction fires mid-stream and the state it leaves behind
    // must still answer every later probe
    (0 until 12).foreach { k =>
      val tmp = s"$base/tmp$k"
      Seq((k.toLong + 100L, dup)).toDF("doc_id", "text")
        .select(col("doc_id"), col("text"), lit(k).cast("int").as("crawl"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(src, s"crawl$k.parquet")
      dst.getParentFile.mkdirs()
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(t0 + k * 60000L)
    }
    val out = Dedup.streamIncrementalKeep(spark, src, s"$base/dd")
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(out === (0 until 12).map(k => (k.toLong + 100L) ->
      (if (k == 0) 1 else 0)).toMap)
    // the state's file count stayed bounded despite 12 appends
    val n = new java.io.File(s"$base/dd/state").listFiles()
      .count(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
    assert(n > 0)
    assert(n <= Dedup.StateCompactFiles + 2,
      s"$n state files — the fold must keep this bounded")
  }

  test("foreachBatch streaming ingestion lands the store layout") {
    val base = "/tmp/graft_test/stream_store"
    new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(base), true)
    Tables.eventsNorm(spark, Sf).write.mode("overwrite").parquet(s"$base/src")
    val back = StreamIngest.runToStore(spark, s"$base/src", s"$base/store", s"$base/ckpt")
    assert(back.count() == Tables.events(spark, Sf).count())
    // day-partition layout present
    val days = new java.io.File(s"$base/store").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("date="))
    assert(days.nonEmpty, "store must be day-partitioned")
  }

  test("checkpointed store ingestion resumes without re-processing old files") {
    val base = "/tmp/graft_test/stream_resume"
    new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(base), true)
    val events = Tables.eventsNorm(spark, Sf).cache()
    val n = events.count()
    // first half arrives, stream ingests it
    events.filter(expr("event_id % 2 = 0")).write.mode("overwrite").parquet(s"$base/src")
    val firstRows = StreamIngest
      .runToStore(spark, s"$base/src", s"$base/store", s"$base/ckpt").count()
    assert(firstRows < n && firstRows > 0)
    // second half lands as NEW files; the resumed stream (same
    // checkpoint) must ingest only those — no duplicate appends of
    // the files it already committed
    events.filter(expr("event_id % 2 = 1")).write.mode("append").parquet(s"$base/src")
    val back = StreamIngest.runToStore(spark, s"$base/src", s"$base/store", s"$base/ckpt")
    assert(back.count() == n, "resume must add exactly the new files' rows")
  }

  test("watermarked dedup bounds state: in-horizon replays drop, expired keys re-admit") {
    import spark.implicits._
    val base = "/tmp/graft_test/stream_wm"
    new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(base), true)
    val src = s"$base/src"
    val hourMs = 3600L * 1000
    val t0 = 1704412800000L
    // eventsSchema rows; ts_us is epoch microseconds
    def ev(id: Long, tMs: Long, v: Double) = (id, tMs * 1000L, 1L, "m", v, "p1")
    def land(rows: (Long, Long, Long, String, Double, String)*): Unit =
      rows.toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
        .write.mode("append").parquet(src)

    land(ev(1, t0, 1.0), ev(50, t0, 2.0))
    val q = StreamIngest.dedupWithWatermark(spark, src, hourMs)
      .writeStream.outputMode("append").format("memory").queryName("spec_wm_dedup").start()
    try {
      q.processAllAvailable() // batch 1: both admitted; expiry armed at t0+1h
      // batch 2: replay of id 1 within the horizon → dropped; a far
      // event pushes the watermark to t0+4h (past id 1's expiry)
      land(ev(1, t0, 1.0), ev(60, t0 + 5 * hourMs, 3.0))
      q.processAllAvailable()
      // batch 3: its trigger processes the now-due timeouts of ids 1/50
      land(ev(70, t0 + 5 * hourMs + 1000, 4.0))
      q.processAllAvailable()
      // batch 4: id 1 again, AFTER its state expired → re-admitted
      land(ev(1, t0 + 5 * hourMs + 2000, 5.0))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("spec_wm_dedup")
    assert(out.count() == 5, "1,50 | drop,60 | 70 | 1-readmitted = 5 rows")
    assert(out.filter(col("event_id") === 1).count() == 2,
      "an expired key must re-admit a later replay")
    assert(out.filter(col("event_id") === 50).count() == 1)
  }

  test("streaming sessionization closes sessions across microbatches, keeps the tail open") {
    import spark.implicits._
    val base = "/tmp/graft_test/stream_sess"
    new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(base), true)
    val src = s"$base/src"
    val t0 = 1704412800000000L // µs
    val min = 60L * 1000000L
    def ev(id: Long, tUs: Long, v: Double) = (id, tUs, 1L, "m", v, "p1")
    def land(rows: (Long, Long, Long, String, Double, String)*): Unit =
      rows.toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
        .write.mode("append").parquet(src)

    land(ev(1, t0, 1.25), ev(2, t0 + 10 * min, 2.50))
    val q = StreamIngest.sessionizeStream(spark, src)
      .writeStream.outputMode("append").format("memory")
      .queryName("spec_sessionize").start()
    try {
      q.processAllAvailable() // open session, nothing emitted yet
      assert(spark.table("spec_sessionize").count() === 0L,
        "an open session must not emit")
      // batch 2: one more in-gap event, then a far event that CLOSES
      // session 1 — state carried across the batch boundary
      land(ev(3, t0 + 20 * min, 0.125), ev(4, t0 + 120 * min, 4.0))
      q.processAllAvailable()
      val s1 = spark.table("spec_sessionize").collect()
      assert(s1.length === 1)
      val r = s1.head
      assert(r.getAs[Long]("session_seq") === 1L)
      assert(r.getAs[Long]("n_events") === 3L)
      assert(r.getAs[Long]("start_us") === t0)
      assert(r.getAs[Long]("end_us") === t0 + 20 * min)
      assert(r.getAs[Long]("sum_value_e2") === 388L) // 1.25+2.50+0.125→.13
      // batch 3: closes session 2 (the single event 4)
      land(ev(5, t0 + 300 * min, 9.0))
      q.processAllAvailable()
      val s2 = spark.table("spec_sessionize")
        .filter(col("session_seq") === 2L).collect()
      assert(s2.length === 1 && s2.head.getAs[Long]("n_events") === 1L)
      assert(s2.head.getAs[Long]("sum_value_e2") === 400L)
      // session 3 (event 5) stays open
      assert(spark.table("spec_sessionize").count() === 2L)
    } finally q.stop()
  }

  test("windowed streaming aggregation buckets by event-time hour") {
    val src = "/tmp/graft_test/stream_win_src"
    Tables.eventsNorm(spark, Sf).write.mode("overwrite").parquet(src)
    val out = StreamIngest.runWindowedToMemory(spark, src, "spec_stream_win")
    assert(out.filter(expr("bucket % 3600 != 0")).count() == 0, "buckets align to hours")
    val total = out.agg(sum("n_samples")).first().getLong(0)
    assert(total == Tables.events(spark, Sf).count())
  }
}
