package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (getOrCreate reuses the one
  * JVM-wide session across suites in the forked test JVM), in the shape
  * Bench runs (graft.Sessions).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(4)
}
