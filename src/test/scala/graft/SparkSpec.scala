package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for operator specs: the drivers' own
  * [[GraftSession]] config at 2 cores, logging at WARN like every
  * driver main (Spark's INFO chatter would bury the test report). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    val s = GraftSession("2")
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = {
    // shared across suites in one JVM; don't stop it per-suite
    super.afterAll()
  }
}
