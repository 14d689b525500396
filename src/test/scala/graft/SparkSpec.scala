package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  val sf001 = "/root/testdata/sf0.001"
}

object SparkSpec {
  /** The engine's session at a fixed 4 cores, whatever the machine. */
  lazy val session: SparkSession = Run.session(4)
}
