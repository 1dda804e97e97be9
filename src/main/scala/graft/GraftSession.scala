package graft

import org.apache.spark.sql.SparkSession

/** The local-mode session the bench, the oracle dump, the scale smoke
  * and the specs share: `cpus` task slots and as many shuffle
  * partitions, UTC session time, WARN logging. */
object GraftSession {
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet's older INT64 TIMESTAMP(NANOS) generation
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.maxFields", "200")
      // ~200 queries × ~5-10 codegen stages each blow the DEFAULT
      // 100-entry generated-class cache: every warm run paid full
      // Janino recompiles of its whole pipeline (the 128-column MinHash
      // aggregate alone is seconds of compile), which showed up as
      // phantom 3-7× "regressions" no isolated profile reproduced.
      // Static conf — must be set before the first session is created.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
