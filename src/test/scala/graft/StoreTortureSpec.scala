package graft

import org.apache.spark.sql.functions._

import graft.ingest.SamplesStore

/** Model-based torture of the samples store: a seeded random
  * interleaving of every mutation the serving paths perform —
  * plain appends, exactly-once batch appends, checkpoint REPLAYS of
  * old batches, time-ranged deletes, selective and opportunistic
  * compaction — continuously checked against a driver-side model of
  * what the store must contain. This is the component with
  * hand-rolled filesystem logic (staging, markers, rename-aside
  * swaps), so it gets property-level coverage beyond the directed
  * crash-state specs in StoreSpec: the bugs these interleavings
  * catch are marker loss (replay duplication), orphan folding, and
  * delete/compact interactions that directed tests don't enumerate. */
class StoreTortureSpec extends SparkSpecBase {

  private type Row4 = (Long, String, String, Double)

  for (seed <- Seq(20260812, 424242))
  test(s"random mutation interleavings always match the in-memory model (seed=$seed)") {
    import spark.implicits._
    val rng = new scala.util.Random(seed)
    val path = s"/tmp/graft_test/store_torture_$seed"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)

    val day0Us = 1704412800000000L // 2024-01-05, 3-day window
    var nextTs = day0Us
    def mkRows(n: Int): Vector[Row4] = Vector.fill(n) {
      // unique, monotonically increasing ts inside a 3-day window —
      // multiset equality degrades to set equality
      val ts = nextTs + rng.nextInt(1000).toLong
      nextTs = ts + (if (rng.nextBoolean()) 90L * 1000000L else 1L)
      if (nextTs >= day0Us + 3L * 86400 * 1000000L) nextTs = day0Us + rng.nextInt(1000).toLong * 7L
      (ts, s"m${rng.nextInt(4)}", s"h=h${rng.nextInt(3)}", rng.nextInt(100).toDouble)
    }
    def toDf(rows: Vector[Row4]) =
      rows.toDF("ts_us", "metric", "l", "value")
        .select(col("ts_us"), col("metric"), array(col("l")).as("labels"), col("value"))

    var model = Set.empty[Row4]
    var batches = Map.empty[Long, Vector[Row4]] // committed batch id → its rows
    var nextBatch = 0L

    def verify(tag: String): Unit = {
      val arr = SamplesStore.read(spark, path)
        .select(col("ts_us"), col("metric"), concat_ws(",", col("labels")).as("l"), col("value"))
        .as[Row4].collect()
      val got = arr.toSet
      // length vs set size catches DUPLICATION (replay bugs), which
      // set equality alone would silently collapse
      val ok = arr.length == model.size && got == model
      assert(ok,
        s"$tag: store diverged from model (rows=${arr.length} distinct=${got.size} model=${model.size}, " +
        s"extra=${(got -- model).take(3)}, missing=${(model -- got).take(3)})")
    }

    // seed the store so early deletes/compactions have substance
    val seedRows = mkRows(60)
    SamplesStore.write(toDf(seedRows), path)
    model ++= seedRows

    for (step <- 0 until 22) {
      rng.nextInt(6) match {
        case 0 =>
          val rows = mkRows(20 + rng.nextInt(20))
          SamplesStore.append(toDf(rows), path)
          model ++= rows
        case 1 =>
          val rows = mkRows(20 + rng.nextInt(20))
          val id = nextBatch; nextBatch += 1
          SamplesStore.appendBatch(toDf(rows), path, id, autoCompactFilesPerDay = 6)
          model ++= rows; batches += id -> rows
        case 2 if batches.nonEmpty =>
          // checkpoint replay of a random COMMITTED batch — its marker
          // must short-circuit regardless of every compaction/delete
          // that ran since; the model does not change
          val (id, rows) = batches.toSeq(rng.nextInt(batches.size))
          SamplesStore.appendBatch(toDf(rows), path, id, autoCompactFilesPerDay = 6)
        case 3 =>
          SamplesStore.compactFragmentedDays(spark, path, maxFilesPerDay = 1 + rng.nextInt(3))
        case 4 =>
          val t0 = day0Us + rng.nextInt(3 * 86400).toLong * 1000000L
          val t1 = t0 + (1 + rng.nextInt(86400)).toLong * 1000000L
          SamplesStore.deleteRange(spark, path, t0, t1)
          model = model.filterNot(r => r._1 >= t0 && r._1 < t1)
        case _ =>
          SamplesStore.compactFragmentedDays(spark, path, maxFilesPerDay = 2)
      }
      if (step % 4 == 3) verify(s"after step $step")
    }
    verify("final")
    assert(model.nonEmpty, "the torture run must end with data to have verified anything")
  }

  test("a rollup loop racing the mutation storm converges to the full recompute") {
    import graft.ingest.RollupStore
    import spark.implicits._
    val rng = new scala.util.Random(13131)
    val path = "/tmp/graft_test/store_torture_rollup"
    val rpath = path + "_roll"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    fs.delete(new org.apache.hadoop.fs.Path(rpath), true)

    val day0Us = 1704412800000000L
    def mkRows(n: Int): Vector[Row4] = Vector.fill(n) {
      (day0Us + rng.nextInt(3 * 86400).toLong * 1000000L,
        s"m${rng.nextInt(3)}", s"h=h${rng.nextInt(2)}", rng.nextInt(100).toDouble)
    }
    def toDf(rows: Vector[Row4]) =
      rows.toDF("ts_us", "metric", "l", "value")
        .select(col("ts_us"), col("metric"), array(col("l")).as("labels"), col("value"))

    SamplesStore.write(toDf(mkRows(50)), path)
    // a maintenance thread refreshing the rollup continuously — each
    // pass sees SOME committed source snapshot; racing mutations only
    // mean the next pass has work
    @volatile var stop = false
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val roller = new Thread(() => {
      while (!stop) {
        try RollupStore.rollup(spark, path, rpath)
        catch { case e: Throwable =>
          failures.add(s"rollup failed: ${e.getClass.getSimpleName}: ${e.getMessage}") }
      }
    }, "torture-roller")
    roller.start()
    try {
      for (_ <- 0 until 10) {
        rng.nextInt(4) match {
          case 0 | 1 => SamplesStore.append(toDf(mkRows(15 + rng.nextInt(15))), path)
          case 2 => SamplesStore.compactFragmentedDays(spark, path, maxFilesPerDay = 2)
          case _ =>
            val t0 = day0Us + rng.nextInt(3 * 86400).toLong * 1000000L
            SamplesStore.deleteRange(spark, path, t0, t0 + 3600L * 1000000L)
        }
      }
    } finally { stop = true; roller.join(120000) }
    assert(failures.isEmpty,
      s"${failures.size} rollup failures, first: ${Option(failures.peek()).getOrElse("")}")
    // one final pass from the quiesced store, then compare against a
    // fresh full rollup of an identical copy
    RollupStore.rollup(spark, path, rpath)
    val copy = path + "_copy"
    fs.delete(new org.apache.hadoop.fs.Path(copy), true)
    fs.delete(new org.apache.hadoop.fs.Path(copy + "_roll"), true)
    SamplesStore.write(SamplesStore.read(spark, path)
      .select("ts_us", "metric", "labels", "value"), copy)
    RollupStore.rollup(spark, copy, copy + "_roll")
    def rows(p: String) = RollupStore.read(spark, p)
      .select(col("metric"), concat_ws(",", col("labels")).as("l"), col("bucket"),
        col("min_value"), col("max_value"),
        expr("CAST(floor(sum_value * 100 + 0.5) AS BIGINT)"), col("n_points"))
      .collect().map(_.toSeq).toSet
    assert(rows(rpath) == rows(copy + "_roll"),
      "the raced rollup must converge to the full recompute")
  }

  test("a concurrent fresh-planning reader always observes a committed snapshot") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rng = new scala.util.Random(77777)
    val path = "/tmp/graft_test/store_torture_reader"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)

    val day0Us = 1704412800000000L
    var nextTs = day0Us
    def mkRows(n: Int): Vector[Row4] = Vector.fill(n) {
      val ts = nextTs + rng.nextInt(1000).toLong
      nextTs = ts + (if (rng.nextBoolean()) 90L * 1000000L else 1L)
      if (nextTs >= day0Us + 3L * 86400 * 1000000L) nextTs = day0Us + rng.nextInt(1000).toLong * 7L
      (ts, s"m${rng.nextInt(4)}", s"h=h${rng.nextInt(3)}", rng.nextInt(100).toDouble)
    }
    def toDf(rows: Vector[Row4]) =
      rows.toDF("ts_us", "metric", "l", "value")
        .select(col("ts_us"), col("metric"), array(col("l")).as("labels"), col("value"))

    // every state the store ever COMMITS, registered BEFORE the
    // mutation that creates it — so whichever manifest a racing
    // reader resolves, its row-set must be in here. This is the
    // snapshot-isolation contract: atomic appends/deletes, invisible
    // compaction, and NO transient misses, for a reader that plans
    // fresh from the manifest with no in-JVM locks — exactly what a
    // second JVM reading the same store path does. (Superseded files
    // outlive their manifest via the default GC grace, which is what
    // keeps an in-flight plan scannable.)
    val states = java.util.concurrent.ConcurrentHashMap.newKeySet[Set[Row4]]()
    var model = Set.empty[Row4]
    var nextBatch = 0L // batch ids are monotone through a stream's single writer

    val seedRows = mkRows(60)
    states.add(seedRows.toSet)
    SamplesStore.write(toDf(seedRows), path)
    model = seedRows.toSet

    @volatile var stop = false
    val anomalies = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val observations = new java.util.concurrent.atomic.AtomicLong()
    val reader = new Thread(() => {
      while (!stop) {
        try {
          val got = SamplesStore.read(spark, path)
            .select(col("ts_us"), col("metric"), concat_ws(",", col("labels")).as("l"), col("value"))
            .as[Row4].collect().toSet
          observations.incrementAndGet()
          if (!states.contains(got))
            anomalies.add(s"observed a row-set matching NO committed state (${got.size} rows)")
        } catch {
          case e: Throwable => anomalies.add(s"reader failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      }
    }, "torture-snapshot-reader")
    reader.start()
    try {
      for (_ <- 0 until 14) {
        rng.nextInt(5) match {
          case 0 =>
            val rows = mkRows(20 + rng.nextInt(20))
            states.add(model ++ rows)
            SamplesStore.append(toDf(rows), path)
            model ++= rows
          case 1 =>
            val rows = mkRows(20 + rng.nextInt(20))
            states.add(model ++ rows)
            val id = nextBatch; nextBatch += 1
            SamplesStore.appendBatch(toDf(rows), path, id, autoCompactFilesPerDay = 6)
            model ++= rows
          case 2 =>
            // result-invariant: no new state to register
            SamplesStore.compactFragmentedDays(spark, path, maxFilesPerDay = 1 + rng.nextInt(3))
          case 3 =>
            val t0 = day0Us + rng.nextInt(3 * 86400).toLong * 1000000L
            val t1 = t0 + (1 + rng.nextInt(86400)).toLong * 1000000L
            val after = model.filterNot(r => r._1 >= t0 && r._1 < t1)
            states.add(after)
            SamplesStore.deleteRange(spark, path, t0, t1)
            model = after
          case _ =>
            SamplesStore.compactFragmentedDays(spark, path, maxFilesPerDay = 2)
        }
      }
    } finally { stop = true; reader.join(60000) }
    assert(observations.get() > 0, "the reader must have completed observations")
    assert(anomalies.isEmpty,
      s"${anomalies.size} snapshot violations, first: ${Option(anomalies.peek()).getOrElse("")}")
    // the final committed state is intact
    val finalSet = SamplesStore.read(spark, path)
      .select(col("ts_us"), col("metric"), concat_ws(",", col("labels")).as("l"), col("value"))
      .as[Row4].collect().toSet
    assert(finalSet == model, "final store must match the model")
  }

  test("a second READER PROCESS only ever observes committed snapshots") {
    // The in-JVM reader test above shares the writer's process; the
    // documented out-of-process contract (Ingest.scala's grace-window
    // notes: atomic manifest visibility + grace-retained files, no
    // in-JVM locks available) has so far only been ARGUED. Here a
    // real second JVM (CrossReaderMain: own SparkSession, lock-free
    // SamplesStore.read) loops reads while this JVM appends batches,
    // compacts days, and expires snapshots under the grace. Each
    // batch carries batchSize rows of one value, so a torn (partially
    // visible) batch, a vanished planned file, or any read error
    // makes the child exit non-zero.
    import spark.implicits._
    val path = "/tmp/graft_test/store_cross_process"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val day0Us = 1704412800000000L
    val batchSize = 10
    def batch(i: Int) = (0 until batchSize).map(j =>
        (day0Us + (i.toLong * batchSize + j) * 60L * 1000000L, "m",
          Seq("k=v"), i.toDouble))
      .toDF("ts_us", "metric", "labels", "value")
    SamplesStore.write(batch(0), path)

    val javaBin = System.getProperty("java.home") + "/bin/java"
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cmd = Seq(javaBin) ++ addOpens ++ Seq("-Xmx2g", "-cp",
      System.getProperty("java.class.path"),
      "graft.CrossReaderMain", path, "30", batchSize.toString)
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val childOut = new StringBuilder
    val drain = new Thread(() => {
      scala.io.Source.fromInputStream(proc.getInputStream, "UTF-8")
        .getLines().foreach(l => childOut.synchronized { childOut ++= l += '\n' })
    }, "crossreader-drain")
    drain.start()

    // writer storm for as long as the reader runs (bounded): atomic
    // appends, invisible day rewrites, grace-window expiry
    var i = 1
    try {
      while (proc.isAlive && i < 300) {
        SamplesStore.append(batch(i), path)
        if (i % 7 == 0)
          SamplesStore.compactFragmentedDays(spark, path, maxFilesPerDay = 2,
            gcGraceMs = 60000L)
        if (i % 11 == 0) SamplesStore.expireSnapshots(spark, path, graceMs = 60000L)
        i += 1
      }
      assert(proc.waitFor(240, java.util.concurrent.TimeUnit.SECONDS),
        "cross-process reader did not finish")
      drain.join(5000)
      val out = childOut.synchronized(childOut.toString)
      assert(proc.exitValue() === 0,
        s"cross-process reader exited ${proc.exitValue()}:\n$out")
      assert(i > 3, "the writer must actually have raced the reader")
    } finally if (proc.isAlive) proc.destroyForcibly()
  }

  test("concurrent histogram-bearing writes land every store atomically") {
    import graft.ingest.PromRemoteCodec
    val store = "/tmp/graft_test/store_parwrite"
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (sfx <- Seq("", "_hist", "_exemplars", "_meta"))
      fs.delete(new org.apache.hadoop.fs.Path(store + sfx), true)
    // one v1 WriteRequest per (writer, iteration): a float sample, a
    // native histogram, and an exemplar — every sibling written; the
    // request-level appends themselves run CONCURRENTLY inside
    // serve() (runParallel), and here whole requests also race
    // across threads, so all four per-path locks interleave
    def blob(wid: Int, it: Int): Array[Byte] = {
      val ts = 1704412800000L + (wid * 1000 + it) * 1000L
      val h = graft.ingest.NativeHistogram.Hist(ts, 3.0, 1.5, 0, 0.0, 0.0,
        Seq((0, 1)), Seq(3L), Nil, Nil, Nil, Nil)
      PromRemoteCodec.encodeWriteRequest(PromRemoteCodec.PromWriteRequest(Seq(
        PromRemoteCodec.PromTimeSeries(
          Seq(PromRemoteCodec.PromLabel("__name__", s"par_m$wid"),
            PromRemoteCodec.PromLabel("w", wid.toString)),
          Seq(PromRemoteCodec.PromSample(it.toDouble, ts)),
          histograms = Seq(h),
          exemplars = Seq(PromRemoteCodec.PromExemplar(
            Seq(PromRemoteCodec.PromLabel("trace_id", s"t$it")),
            it.toDouble, ts))))))
    }
    val nW = 4; val nIt = 5
    val m = OpsMetrics(spark)
    val (appends0, commits0) = (m.storeAppends.value, m.storeAppendCommits.value)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    // a racing reader: every observation must be a committed snapshot
    // — counts only ever GROW, and always by whole requests
    val reader = new Thread(() => {
      var last = 0L
      try while (!stop.get()) {
        val n = SamplesStore.read(spark, store).count()
        if (n % 5 != 0 || n < last)
          errs.add(new AssertionError(s"partial or regressing read: $n after $last"))
        last = math.max(last, n)
        Thread.sleep(20)
      } catch {
        case _: InterruptedException => ()
        case t: Throwable => errs.add(t)
      }
    }, "par-reader")
    val writers = (0 until nW).map { wid =>
      new Thread(() => {
        try (0 until nIt).foreach { it =>
          graft.serve.RemoteWrite.serve(spark, store, blob(wid, it)); ()
        } catch { case t: Throwable => errs.add(t) }
      }, s"par-writer-$wid")
    }
    // the store starts empty so the reader's first reads race the
    // first commits (SamplesStore.read on a missing path would throw
    // — wait for the first writer commit before starting it)
    writers.head.start(); writers.head.join(180000)
    reader.start(); writers.tail.foreach(_.start())
    writers.tail.foreach(_.join(180000))
    stop.set(true); reader.join(10000)
    assert(errs.isEmpty, s"concurrent writes failed: ${errs.toArray.toSeq}")
    // every store holds exactly the expected rows: per request the
    // main store gets 1 float + 4 classic expansion rows (bucket,
    // +Inf, sum, count), the hist sibling 1 native row, the exemplar
    // sibling 1 row
    assert(SamplesStore.read(spark, store).count() === nW * nIt * 5L)
    assert(SamplesStore.read(spark, store + "_hist").count() === nW * nIt.toLong)
    assert(SamplesStore.read(spark, store + "_exemplars").count() === nW * nIt.toLong)
    // exact commit accounting: concurrent appends may share a commit
    // (group commit), so generations count commits, not requests.
    // Every generation the appends added is one counted append commit
    // (each store's first append commits its gen 1), and every request
    // counted one append per store it writes: main, hist and exemplars
    val stores = Seq(store, store + "_hist", store + "_exemplars")
    val appendGens = stores.map(p => SamplesStore.currentGen(spark, p).get).sum
    assert(m.storeAppendCommits.value - commits0 === appendGens,
      "every generation the appends added must be exactly one counted append commit")
    assert(m.storeAppends.value - appends0 === stores.size.toLong * nW * nIt,
      "one counted append per request per store")
  }
}
