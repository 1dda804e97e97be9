package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite; sf0.001 for speed. */
trait SparkSpecBase extends AnyFunSuite {
  val Sf = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = SparkSpecBase.session
}

object SparkSpecBase {
  lazy val session: SparkSession = GraftSession.local(4)
}
