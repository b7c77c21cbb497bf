package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for test suites — the mains' constructor at 4
  * cpus / 4 shuffle partitions.
  */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local("4")

  val sf: String = "/root/testdata/sf0.001"
}
