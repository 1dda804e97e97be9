package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite; sf0.001 for speed. */
trait SparkSpecBase extends AnyFunSuite {
  val Sf = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = SparkSpecBase.session

  /** `rows` plus 100,000 samples of 50 unrelated `pad_noise` series
    * starting at `t0Sec`, whose hashed values do not compress: written
    * as a store, the padding alone is well above Width.QueryTarget, so
    * a read of `rows` plans its multi-partition shape while no answer
    * that does not select `pad_noise` changes. */
  def padded(rows: DataFrame, t0Sec: Long): DataFrame = {
    val pad = spark.range(100000L).select(
      ((lit(t0Sec) + col("id") % 2000 * 15) * 1000000L).as("ts_us"),
      lit("pad_noise").as("metric"),
      array(concat(lit("shard="), (col("id") / 2000).cast("long").cast("string"))).as("labels"),
      (xxhash64(col("id")) / 1e6).as("value"))
    rows.unionByName(
      if (rows.columns.contains("ts")) pad.withColumn("ts", timestamp_micros(col("ts_us")))
      else pad)
  }
}

object SparkSpecBase {
  lazy val session: SparkSession = GraftSession.local(4)
}
