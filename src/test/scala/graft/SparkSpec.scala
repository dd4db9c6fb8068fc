package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one per suite (lazy), configured like the drivers. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(getClass.getSimpleName, 4)

  lazy val sf0001 = "/root/testdata/sf0.001"
}
