package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"
}

object SparkSpec {
  /** Pinned to 4 threads / 4 shuffle partitions and no SPARK_GRAFT_CONF,
    * whatever the environment says: Par.spread and the plan-shape
    * specs read that partition count. */
  lazy val session: SparkSession = {
    val s = Harness.session(4, Nil)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
